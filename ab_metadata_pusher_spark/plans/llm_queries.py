"""LLM-data-pipeline queries + DuckDB oracles (SURVEY.md §2.G north star):
dedup (exact / Jaccard / MinHash-LSH / SimHash), similarity search,
text analysis, multimodal plumbing.

The oracle SQL for the hash-based operators is GENERATED from the same
constants as the Spark plans (functions/hashing.py), so MinHash signatures,
SimHash bits and band hashes are verified value-for-value across engines —
not just row counts.

Pair-producing queries run over a bounded (doc_id < 300) corpus augmented
with deterministic mutated/perturbed copies, so results are non-trivial and
identical at every scale factor; the unbounded formulations are what
bench.py exercises at sf0.1.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.functions.hashing import (
    MERSENNE_P, md5_long, minhash_coeffs, sql_md5_long,
)
from ab_metadata_pusher_spark.observability import capture_plan_segment
from ab_metadata_pusher_spark.operators._shared import (
    double_array_lit, fixpoint, materialize_shared,
)
from ab_metadata_pusher_spark.operators import bloom as B
from ab_metadata_pusher_spark.operators import dedup as D
from ab_metadata_pusher_spark.operators import linalg as L
from ab_metadata_pusher_spark.operators import multimodal as M
from ab_metadata_pusher_spark.operators import similarity as S
from ab_metadata_pusher_spark.operators import text as X
from ab_metadata_pusher_spark.plans.registry import register
from ab_metadata_pusher_spark.plans.generated_oracles import (
    PINNED_ORACLES,
)
from ab_metadata_pusher_spark.sources.fixtures import load_table

_BOUND = 300

# ---------------------------------------------------------------------------
# Shared corpus builders (Spark) and their SQL mirrors
# ---------------------------------------------------------------------------


def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded documents + near-dup mutations (first token dropped) +
    exact duplicates — deterministic in both engines."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _BOUND).select("doc_id", "text"))
    mutated = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.expr("substring(text, instr(text, ' ') + 1)")
                        .alias("text"))
    exact = d.select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                     F.col("text"))
    return d.unionByName(mutated).unionByName(exact)


_CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_BOUND}
  UNION ALL
  SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
  FROM documents WHERE doc_id < {_BOUND}
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < {_BOUND}
)"""

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"

_SHINGLES_CTE = f"""
toksrc AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
sh AS (
  SELECT DISTINCT sid, shingle FROM (
    SELECT doc_id AS sid,
           unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS shingle
    FROM toksrc)
)"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="WITH " + _CORPUS_CTE + """
SELECT md5(text) AS content_md5,
       min(doc_id) AS kept_id,
       count(*) AS n_copies
FROM corpus
GROUP BY md5(text)
""",
    covers=("G.dedup.exact",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (min id per content digest)."""
    return D.exact_dedup_keep_min(_doc_corpus(spark, sf_dir))


@register(
    "jsonl_corpus_ingest",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
UNION ALL
SELECT '_corrupt' AS lang, 3 AS n_docs, 0 AS total_chars
""",
    covers=("A.jsonl",),
)
def q_jsonl_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus ingest round trip (sources/jsonl.py): the documents
    table materialized as line-delimited JSON (plus three deliberately
    malformed lines), read back with an EXPLICIT schema in PERMISSIVE
    mode, and aggregated per language — corrupt lines quarantine into
    their own '_corrupt' group via ``_corrupt_record`` instead of
    failing the scan.  The oracle sees the same totals from the parquet
    table plus the known corrupt-line count, so a parse drift in either
    direction (lost rows, mis-typed fields, silently dropped bad lines)
    hash-mismatches."""
    from ab_metadata_pusher_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA, prepare_documents_jsonl, read_jsonl,
    )
    path = prepare_documents_jsonl(spark, sf_dir)
    parsed = read_jsonl(spark, path, DOCUMENTS_JSONL_SCHEMA)
    key = (F.when(F.col("_corrupt_record").isNotNull(), "_corrupt")
           .otherwise(F.col("lang")))
    return (parsed.groupBy(key.alias("lang"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint")
                  .alias("total_chars")))


@register(
    "csv_corpus_ingest",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_with_id,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
UNION ALL
SELECT '_corrupt' AS lang, 2 AS n_docs, 0 AS n_with_id, 0 AS total_chars
""",
    covers=("A.csv_read",),
)
def q_csv_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corpus ingest round trip (sources/csv_corpus.py): headerless
    quoted CSV plus one type-violating and one arity-short line, read
    back with an explicit schema in PERMISSIVE mode — both malformed
    lines quarantine into '_corrupt'.  n_with_id aggregates doc_id so
    column pruning cannot skip parsing the schema-critical column
    (same caveat as the XML ingest).  Completes the tolerant-read
    ingest set: JSONL / XML / WARC / CSV."""
    from ab_metadata_pusher_spark.sources.csv_corpus import (
        prepare_documents_csv, read_csv_corpus,
    )
    from ab_metadata_pusher_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA,
    )
    path = prepare_documents_csv(spark, sf_dir)
    parsed = read_csv_corpus(spark, path, DOCUMENTS_JSONL_SCHEMA)
    key = (F.when(F.col("_corrupt_record").isNotNull(), "_corrupt")
           .otherwise(F.col("lang")))
    return (parsed.groupBy(key.alias("lang"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("doc_id").alias("n_with_id"),
                 F.coalesce(F.sum(F.when(
                     F.col("_corrupt_record").isNull(),
                     F.col("n_chars"))), F.lit(0)).cast("bigint")
                  .alias("total_chars")))


@register(
    "xml_corpus_ingest",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_with_id,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
UNION ALL
SELECT '_corrupt' AS lang, 1 AS n_docs, 0 AS n_with_id, 0 AS total_chars
""",
    covers=("A.xml",),
)
def q_xml_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML corpus ingest round trip on Spark 4's NATIVE xml source
    (sources/xml_corpus.py): documents written as rowTag-framed XML
    (entity escaping handled by the format), plus one schema-violating
    record, read back with an explicit schema in PERMISSIVE mode — the
    malformed record quarantines into a '_corrupt' group instead of
    failing the scan.  Completes the ingest triad with JSONL and
    WARC."""
    from ab_metadata_pusher_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA,
    )
    from ab_metadata_pusher_spark.sources.xml_corpus import (
        prepare_documents_xml, read_xml_corpus,
    )
    path = prepare_documents_xml(spark, sf_dir)
    parsed = read_xml_corpus(spark, path, DOCUMENTS_JSONL_SCHEMA)
    key = (F.when(F.col("_corrupt_record").isNotNull(), "_corrupt")
           .otherwise(F.col("lang")))
    # n_with_id deliberately aggregates doc_id: schema-violation
    # quarantine only triggers when the offending column is PARSED, and
    # column pruning would otherwise drop doc_id from the parse schema
    # and let the bad record through as clean.
    return (parsed.groupBy(key.alias("lang"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("doc_id").alias("n_with_id"),
                 F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint")
                  .alias("total_chars")))


@register(
    "warc_corpus_ingest",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
FROM documents GROUP BY lang
""",
    covers=("A.warc",),
)
def q_warc_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-format ingest round trip (sources/warc.py): the
    documents fixture written as real WARC segments — including one
    deliberately truncated trailing record — read back distributed
    (binaryFile + record parse per executor) and aggregated per
    language.  The oracle sees the same totals from the parquet table,
    so a parse drift (lost records, wrong Content-Length handling,
    swallowed truncation) hash-mismatches."""
    from ab_metadata_pusher_spark.sources.warc import (
        prepare_documents_warc, read_warc_dir,
    )
    path = prepare_documents_warc(spark, sf_dir)
    recs = read_warc_dir(spark, path)
    return (recs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("body_bytes").cast("bigint").alias("total_bytes")))


@register(
    "dedup_substring_spans",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
wins AS (
  -- per-row lateral: scalar generate_series(1, len(t)-9) unnested, so
  -- the window count follows each doc's real length (no fixed cap that a
  -- longer future fixture could silently overflow)
  SELECT doc_id, CAST(i AS BIGINT) AS start_tok,
         md5(array_to_string(t[i:i+9], ' ')) AS window_md5
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 9)) AS i
        FROM toks)
)
SELECT w.doc_id, w.start_tok, w.window_md5, d.n_dup
FROM wins w
JOIN (SELECT window_md5, CAST(count(*) AS BIGINT) AS n_dup
      FROM wins GROUP BY window_md5 HAVING count(*) > 1) d
  USING (window_md5)
""",
    covers=("G.dedup.substring",),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication spans (operators/dedup.py
    duplicated_spans): 10-token windows occurring more than once
    corpus-wide, one row per occurrence — the removable-span form of
    suffix-array exact-substring dedup.  Windows build in-row (no
    shuffle); the only exchanges are the window-hash groupBy and the
    occurrence re-join."""
    return D.duplicated_spans(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        w=10)


_JACCARD_T = 0.6

#: Stop-shingle guard: shingles seen in more than this many docs are
#: boilerplate and excluded from the exact-Jaccard join on BOTH sides.
_JACCARD_MAX_DF = 100

_JACCARD_SQL = "WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
kept AS (
  SELECT sid, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {_JACCARD_MAX_DF})
),
sizes AS (SELECT sid, count(*) AS n_shingles FROM kept GROUP BY sid),
inter AS (
  SELECT a.sid AS sid_a, b.sid AS sid_b, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.sid < b.sid
  GROUP BY a.sid, b.sid
)
SELECT sid_a, sid_b,
       round(n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter), 4)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.sid = sid_a
JOIN sizes sb ON sb.sid = sid_b
WHERE n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter) >= {_JACCARD_T}
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_SQL,
          covers=("G.dedup.jaccard",))
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.6) over
    informative shingles: document frequency > max_df marks a shingle as
    boilerplate and drops it before the self-join, bounding the join
    output to max_df x total shingles (linear in corpus).  The unguarded
    exact-all-pairs form stays available as D.jaccard_pairs(max_df=None)
    for bounded inputs."""
    return D.jaccard_pairs(_doc_corpus(spark, sf_dir), _JACCARD_T,
                           max_df=_JACCARD_MAX_DF)


def _minhash_sql(k: int = 16, bands: int = 4) -> str:
    rpb = k // bands
    coeffs = minhash_coeffs(k)
    sig_cols = ",\n         ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) AS h{j}"
        for j, (a, b) in enumerate(coeffs))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT sid, {b} AS band_idx, md5(concat_ws('-', "
        + ", ".join(f"h{j}::VARCHAR" for j in range(b * rpb, (b + 1) * rpb))
        + ")) AS band_hash FROM sig"
        for b in range(bands))
    return ("WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
hashed AS (SELECT sid, {sql_md5_long('shingle')} % {MERSENNE_P} AS h FROM sh),
sig AS (
  SELECT sid,
         {sig_cols}
  FROM hashed GROUP BY sid
),
banded AS (
{band_selects}
)
SELECT DISTINCT a.sid AS sid_a, b.sid AS sid_b
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.sid < b.sid
""")


@register("dedup_minhash_lsh", oracle=_minhash_sql(),
          covers=("G.dedup.minhash",))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidate pairs — the scale path for
    near-dup detection; signatures and band hashes verified value-for-value
    against the generated oracle."""
    return D.lsh_candidate_pairs(_doc_corpus(spark, sf_dir), k=16, bands=4)


def _simhash_sql(bits: int = 32) -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits))
    packed = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return ("WITH " + _CORPUS_CTE + f""",
tok AS (
  SELECT DISTINCT doc_id AS sid, unnest({_TOKS}) AS tok FROM corpus
),
hashed AS (SELECT sid, {sql_md5_long('tok')} AS h FROM tok),
sums AS (
  SELECT sid,
         {sums}
  FROM hashed GROUP BY sid
)
SELECT sid, ({packed})::BIGINT AS simhash FROM sums
""")


@register("dedup_simhash", oracle=_simhash_sql(), covers=("G.dedup.simhash",))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints, bit-for-bit vs the generated oracle."""
    return D.simhash(_doc_corpus(spark, sf_dir))


def _simhash_pairs_sql(max_hamming: int = 2) -> str:
    base = _simhash_sql().rstrip()
    return f"""WITH fp AS (
{base}
)
SELECT a.sid AS sid_a, b.sid AS sid_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.sid < b.sid
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register("dedup_simhash_pairs", oracle=_simhash_pairs_sql(),
          covers=("G.dedup.simhash",))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming<=2 over SimHash fingerprints."""
    return D.simhash_pairs(_doc_corpus(spark, sf_dir), max_hamming=2)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded embeddings + deterministic perturbed copies (scaled +
    offset, refloated) — guarantees near-dup pairs exist."""
    e = (load_table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") < _BOUND))
    pert = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * 1.01 + 0.005).cast("float")).alias("embedding"),
        F.col("label"))
    return e.unionByName(pert)


_EMB_CORPUS_CTE = f"""
ecorpus AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {_BOUND}
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> (x * 1.01 + 0.005)::FLOAT),
         label
  FROM embeddings WHERE vec_id < {_BOUND}
)"""

_NEARDUP_T = 0.9


def _neardup_lsh_sql(n_planes: int = 6, n_tables: int = 4,
                     dim: int = 64) -> str:
    """Oracle for the LSH-bucketed near-dup path, generated from the SAME
    deterministic planes as the Spark operator: per-table bucket bits,
    bucket equi-join, distinct candidate pairs, exact-cosine verify."""
    all_planes = S.hyperplanes(n_tables * n_planes, dim)

    def arr(p):
        return "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"

    def bucket(tbl):
        planes = all_planes[tbl * n_planes:(tbl + 1) * n_planes]
        return " + ".join(
            f"(CASE WHEN list_inner_product(v, {arr(p)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))

    keyed = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {t} AS tbl, ({bucket(t)}) AS bkt FROM ev"
        for t in range(n_tables))
    return ("WITH " + _EMB_CORPUS_CTE + f""",
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM ecorpus),
kb AS (
{keyed}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM kb a JOIN kb b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(av.v, bv.v), 4) AS cosine_sim
FROM cand
JOIN ev av ON av.vec_id = vec_a
JOIN ev bv ON bv.vec_id = vec_b
WHERE list_cosine_similarity(av.v, bv.v) >= {_NEARDUP_T}
""")


@register(
    "dedup_embedding_cosine",
    oracle=_neardup_lsh_sql(),
    covers=("G.dedup.embedding",),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, multi-table hyperplane-LSH
    blocked (operators/similarity.py embedding_near_dup_pairs_lsh) —
    candidates come from bucket equi-joins, never an all-pairs or
    label-partitioned scan, so the shape holds with no label column and
    at corpus scale.  The oracle recomputes the same buckets in SQL."""
    return S.embedding_near_dup_pairs_lsh(_emb_corpus(spark, sf_dir),
                                          _NEARDUP_T)


@register(
    "similarity_topk_cosine",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     neighbor_id) AS rank
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
FROM scored WHERE rank <= 5
""",
    covers=("G.similarity.topk",),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 5 query vectors (brute force —
    the ANN baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.topk_cosine_bruteforce(e, e.filter(F.col("vec_id") < 5), k=5)


def _lsh_sql(n_planes: int = 3, n_tables: int = 6, dim: int = 64,
             k: int = 5) -> str:
    """Oracle for the multi-table hyperplane-LSH probe path, generated
    from the SAME deterministic planes as the Spark operator — per-table
    bucket bits, any-table candidate union (DISTINCT), exact-cosine
    ranking all recomputed in DuckDB."""
    all_planes = S.hyperplanes(n_tables * n_planes, dim)

    def arr(pl):
        return "[" + ", ".join(repr(v) for v in pl) + "]::DOUBLE[]"

    def bucket(tbl):
        planes = all_planes[tbl * n_planes:(tbl + 1) * n_planes]
        return " + ".join(
            f"(CASE WHEN list_inner_product(v, {arr(pl)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, pl in enumerate(planes))

    def keyed(src):
        return "\n  UNION ALL\n".join(
            f"  SELECT vec_id, {t} AS tbl, ({bucket(t)}) AS bkt FROM {src}"
            for t in range(n_tables))

    return f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 5
),
ck AS (
{keyed("c")}
),
qk AS (
{keyed("q")}
),
cand AS (
  SELECT DISTINCT qk.vec_id AS query_id, ck.vec_id AS neighbor_id
  FROM qk JOIN ck ON qk.tbl = ck.tbl AND qk.bkt = ck.bkt
  WHERE qk.vec_id <> ck.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(qv.v, cv.v) AS cs,
         row_number() OVER (PARTITION BY cand.query_id
                            ORDER BY list_cosine_similarity(qv.v, cv.v) DESC,
                                     cand.neighbor_id) AS rank
  FROM cand
  JOIN q qv ON qv.vec_id = cand.query_id
  JOIN c cv ON cv.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
FROM scored WHERE rank <= {k}
"""


@register("similarity_ann_lsh", oracle=_lsh_sql(),
          covers=("G.similarity.ann",))
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-5 — the sub-linear
    scale path (6 tables x 3 planes; candidates = any shared bucket).
    The oracle recomputes the same deterministic planes/buckets in SQL;
    recall vs brute force (0.68 avg @5, up from the r3 single-table
    form's 0.12) is gated in tests/test_llm_operators.py and measured
    by the similarity_ann_recall query."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(e, e.filter(F.col("vec_id") < 5), k=5)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in X.STOPWORDS) + "]"


@register(
    "text_quality_scores",
    oracle=f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       round(length(replace(text, ' ', '')) * 1.0 / greatest(len(toks), 1), 4)
         AS avg_token_len,
       round(len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) * 1.0
             / greatest(len(toks), 1), 4) AS stopword_ratio,
       round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS alpha_ratio,
       len(toks) BETWEEN 10 AND 1000 AS len_ok
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
""",
    covers=("G.text.quality",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_features(load_table(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    langs = list(X.LANG_LEXICONS)
    score_defs = ",\n       ".join(
        f"len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in X.LANG_LEXICONS[lang])
        + f"], t))) AS score_{lang}"
        for lang in langs)
    branches = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"score_{lang} {op} score_{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH scored AS (
  SELECT doc_id,
       {score_defs}
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
)
SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
       {case} AS predicted_lang
FROM scored
"""


@register("text_langid", oracle=_langid_sql(), covers=("G.text.langid",))
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-vote language ID with deterministic argmax."""
    return X.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(text) AS md5_full,
       md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS md5_norm,
       list_aggregate([{sql_md5_long(
           "array_to_string(list_slice(toks, i, i + 2), ' ')")}
                       for i in range(1, greatest(len(toks) - 2, 1) + 1)],
                      'min') AS min_shingle_hash,
       len(toks) AS n_tokens
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
""",
    covers=("G.text.fingerprint",),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full/normalized md5 + winnowing-style min-shingle fingerprints."""
    return X.fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{X.BPE_ISH_PATTERN}')) AS n_bpe_tokens,
       len({_TOKS}) AS n_ws_tokens,
       length(text) AS n_chars
FROM documents
""",
    covers=("G.text.tokens",),
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(X.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
        F.size(X.tokens("text")).alias("n_ws_tokens"),
        F.length("text").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

@register(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       length(text) AS byte_len,
       md5(text) AS payload_md5,
       'application/octet-stream' AS mime
FROM documents
""",
    covers=("G.multimodal.meta",),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata struct (flattened to
    hashable scalars; payload bytes stay executor-side)."""
    mm = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("media_meta.byte_len").alias("byte_len"),
        F.md5("payload").alias("payload_md5"),
        F.col("media_meta.mime").alias("mime"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
WITH chars AS (
  SELECT doc_id, ascii(substring(text, i, 1)) AS b
  FROM documents, generate_series(1, 4096) AS g(i)
  WHERE i <= length(text)
)
SELECT d.doc_id,
       length(d.text)::INT AS byte_len,
       md5(d.text) AS payload_md5,
       ascii(substring(d.text, 1, 1))::INT AS first_byte,
       round(avg(c.b), 4) AS byte_mean
FROM documents d JOIN chars c USING (doc_id)
GROUP BY d.doc_id, d.text
""",
    covers=("G.multimodal.decode",),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (stub codec).  The oracle replays the byte statistics with per-char
    ascii() over the all-ASCII payload text."""
    mm = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.decode_features(mm, codec="stub")


@register(
    "multimodal_resize",
    oracle="""
SELECT doc_id,
       md5(string_agg(substring(text, 1 + (i * length(text)) // 32, 1),
                      '' ORDER BY i)) AS resized_md5,
       32 AS n_bytes
FROM documents, generate_series(0, 31) AS g(i)
GROUP BY doc_id
""",
    covers=("G.multimodal.resize",),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-resample 'thumbnail' stub over binary payloads (1:1 rows).
    The oracle replays the same index arithmetic with substring over the
    (all-ASCII) text, so byte slicing == char slicing."""
    mm = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.resize_payload(mm, out_bytes=32)


@register(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
  -- fixed series (docs are <= 4096 B here) filtered to real frames;
  -- generate_series can't take a lateral column parameter in DuckDB
  SELECT doc_id, i AS frame_idx, substring(text, i * 64 + 1, 64) AS frame
  FROM documents, generate_series(0, 63) AS g(i)
  WHERE i % 2 = 0 AND i * 64 < length(text)
)
SELECT doc_id, frame_idx, md5(frame) AS frame_md5,
       length(frame) AS frame_len
FROM f
""",
    covers=("G.multimodal.frame_sample",),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stub (1:N fan-out): every 2nd 64-byte frame per
    payload, one output row per sampled frame."""
    mm = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.sample_frames(mm, frame_bytes=64, every=2)


@register(
    "multimodal_decode_audio",
    oracle="""
SELECT doc_id,
       CAST([8000, 16000, 44100][CAST(doc_id % 3 AS INT) + 1] AS INT)
         AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(2 AS INT) AS sampwidth,
       CAST(50 + length(text) % 100 AS INT) AS n_frames,
       CAST((50 + length(text) % 100) * 1000000
            // [8000, 16000, 44100][CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
         AS duration_us
FROM documents
""",
    covers=("G.multimodal.audio",),
)
def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (operators/multimodal.py decode_audio_wave):
    synthesize genuine RIFF/WAVE payloads whose parameters are fixed
    functions of the row (with_wav_payload), then parse them back with
    stdlib ``wave`` — an encode->decode round trip through real WAV
    headers, Arrow-batched executor-side.  The oracle recomputes the
    synthesis parameters directly in SQL, so any header mis-parse
    (rate/channels/width/frames/duration) hash-mismatches; the PCM
    digest is covered by tests/test_llm_operators.py."""
    mm = M.with_wav_payload(load_table(spark, sf_dir, "documents"))
    return M.decode_audio_wave(mm).drop("pcm_md5")


@register(
    "multimodal_decode_video",
    oracle="""
SELECT doc_id,
       CAST(320 + 16 * (doc_id % 4) AS INT) AS width,
       CAST(240 + 16 * (doc_id % 3) AS INT) AS height,
       CAST(24 + length(text) % 240 AS INT) AS total_frames,
       CAST([33333, 41708, 16667][CAST(doc_id % 3 AS INT) + 1] AS INT)
         AS us_per_frame,
       CAST((24 + length(text) % 240)
            * [33333, 41708, 16667][CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
         AS duration_us
FROM documents
""",
    covers=("G.multimodal.video",),
)
def q_multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container decode (operators/multimodal.py
    decode_video_avi): genuine RIFF/AVI headers synthesized from the
    row, then parsed back by walking the chunk tree to the avih main
    header — dimensions, frame rate, frame count, exact duration.
    Frame-pixel decode still needs a codec and stays stubbed; this is
    the cheap header pass a real pipeline runs corpus-wide before
    routing survivors to the expensive codec pass."""
    mm = M.with_avi_payload(load_table(spark, sf_dir, "documents"))
    return M.decode_video_avi(mm)


def _kmeans_cells_ctes(src: str) -> str:
    """CTE chain replaying the deterministic k-means training (cell j
    seeded from vec_id j < 8, 2 Lloyd iterations, euclidean assignment with
    lower-cell tiebreak) over ``src`` and the 1-nearest-cell corpus
    assignment — shared prefix of the IVF probe oracle and the SemDeDup
    oracle (no leading WITH so callers can prepend their own CTEs)."""
    return f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}),
c0 AS (SELECT vec_id AS cell, v AS cvec FROM e WHERE vec_id < 8),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.cvec), c.cell) AS r
    FROM e, c0 c) WHERE r = 1
),
c1 AS (
  SELECT cell, list(m ORDER BY i) AS cvec FROM (
    SELECT a.cell, g.i, avg(e.v[g.i]) AS m
    FROM e JOIN a1 a USING (vec_id), generate_series(1, 64) AS g(i)
    GROUP BY a.cell, g.i
  ) GROUP BY cell
),
a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.cvec), c.cell) AS r
    FROM e, c1 c) WHERE r = 1
),
cent AS (
  SELECT cell, list(m ORDER BY i) AS cvec FROM (
    SELECT a.cell, g.i, avg(e.v[g.i]) AS m
    FROM e JOIN a2 a USING (vec_id), generate_series(1, 64) AS g(i)
    GROUP BY a.cell, g.i
  ) GROUP BY cell
),
c_assign AS (
  SELECT neighbor_id, cv, cell FROM (
    SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv,
           c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             c.cvec) DESC, c.cell) AS r
    FROM {src} e, cent c
  ) WHERE r = 1
)"""


_IVF_TOPK_SQL = "WITH " + _kmeans_cells_ctes("embeddings") + """,
q_assign AS (
  SELECT query_id, qv, cell FROM (
    SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
           c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             c.cvec) DESC, c.cell) AS r
    FROM embeddings e, cent c
    WHERE e.vec_id < 5
  ) WHERE r <= 2
),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     neighbor_id) AS rank
  FROM q_assign JOIN c_assign USING (cell)
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
FROM scored WHERE rank <= 5
"""


@register(
    "similarity_ann_ivf",
    oracle=_IVF_TOPK_SQL,
    covers=("G.similarity.ann.ivf",),
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 with LEARNED k-means cells (8 cells, 2 Lloyd
    iterations, nprobe=2) — no label column involved, the 100 TB shape.
    Still oracle-checkable: the training run is deterministic (cell j
    seeded from vec_id j, fixed iterations) so the SQL oracle replays it
    exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(e, e.filter(F.col("vec_id") < 5), k=5, nprobe=2,
                          n_cells=8, iters=2)



@register(
    "text_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ln(n.n_docs / df.df) DESC,
                                     tf.term) AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM scored WHERE rank <= 3
""",
    covers=("G.text.tfidf",),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic corpus-statistics
    pipeline: term frequencies (one explode + groupBy), document
    frequencies as a term-partitioned window count over the tf frame,
    per-doc top-k window.  At 100 TB: tf is map-side combinable and df
    rides tf's own term shuffle — no second explode pass, no
    vocabulary-sized broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df as a WINDOW count over tf (one row per (doc, term), so rows per
    # term = distinct docs per term): no separate vocab aggregate re-
    # running the explode, no vocab-sized broadcast to OOM at scale —
    # the term-partitioned window rides the shuffle tf already needs
    df = F.count(F.lit(1)).over(Window.partitionBy("term"))
    # N as a lazy one-row broadcast, not an eager .count() action
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tfidf_expr = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    scored = (tf.withColumn("df", df)
              .crossJoin(F.broadcast(n))
              .withColumn("tfidf", F.round(tfidf_expr, 6)))
    w = Window.partitionBy("doc_id").orderBy(tfidf_expr.desc(), F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "term", "tfidf", "rank"))


# ---------------------------------------------------------------------------
# Corpus hygiene: repetition filters, PII scrub, deterministic sampling,
# cluster-level dedup (connected components)
# ---------------------------------------------------------------------------

@register(
    "text_repetition",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, toks,
        [array_to_string(list_slice(toks, i, i + 1), ' ')
         for i in range(1, greatest(len(toks) - 1, 1) + 1)] AS bg
      FROM t),
s AS (SELECT doc_id,
        len(toks) AS n_tokens,
        round(1.0 - len(list_distinct(bg)) * 1.0 / greatest(len(bg), 1), 4)
          AS dup_bigram_ratio,
        round(coalesce(list_max([len(list_filter(toks, x -> x = tk))
                                 for tk in list_distinct(toks)]), 0) * 1.0
              / greatest(len(toks), 1), 4) AS top_token_ratio
      FROM b)
SELECT doc_id, n_tokens, dup_bigram_ratio, top_token_ratio,
       (dup_bigram_ratio <= 0.5 AND top_token_ratio <= 0.2) AS rep_ok
FROM s
""",
    covers=("G.text.repetition",),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style degeneracy filters: duplicate-bigram ratio +
    top-token mass, single narrow JVM pass."""
    return X.repetition_features(load_table(spark, sf_dir, "documents"))


_PII_AUG_SQL = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 3 = 0 THEN ''
               ELSE ' contact user' || doc_id::VARCHAR || '@example.com' END
       || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
       || CASE WHEN doc_id % 5 = 0
               THEN ' via 192.168.0.' || (doc_id % 64)::VARCHAR ELSE '' END
       AS text
FROM documents"""


@register(
    "text_pii_redact",
    oracle=f"""
WITH aug AS ({_PII_AUG_SQL})
SELECT doc_id,
       len(regexp_extract_all(text, '{X.EMAIL_PATTERN}')) AS n_emails,
       len(regexp_extract_all(
             regexp_replace(text, '{X.EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '{X.IPV4_PATTERN}')) AS n_ips,
       regexp_replace(
         regexp_replace(text, '{X.EMAIL_PATTERN}', '<EMAIL>', 'g'),
         '{X.IPV4_PATTERN}', '<IP>', 'g') AS redacted
FROM aug
""",
    covers=("G.text.pii",),
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents deterministically augmented with synthetic
    emails / IPv4s (the fixture corpus has none), so counts and masked
    text are non-trivial and identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(
                F.concat(F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com"))),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(
                F.lit(" via 192.168.0."),
                (F.col("doc_id") % 64).cast("string"))).otherwise(F.lit("")),
        ).alias("text"))
    return X.pii_redact(aug)


@register(
    "sample_hash_split",
    oracle=f"""
SELECT doc_id, lang, b AS bucket,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, lang,
             {sql_md5_long("doc_id::VARCHAR")} % 100 AS b
      FROM documents)
""",
    covers=("G.sample.hash",),
)
def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test split assignment — the
    reproducible (engine- and partitioning-independent) alternative to
    ``df.sample``.  Pure projection: no shuffle, no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    b = md5_long(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id", "lang", b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val")
         .otherwise("test").alias("split"))


@register(
    "text_html_strip",
    oracle=r"""
WITH h AS (
  SELECT doc_id,
         '<html><body class="c"><h1>' || source || '</h1> <p>' || text ||
         ' &amp; more</p> <script>if (1 < 2) x();</script>' ||
         ' <!-- boilerplate --></body></html>' AS html
  FROM documents
),
c AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(
             replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '<script[\s\S]*?</script>', ' ', 'g'),
                 '<!--[\s\S]*?-->', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), chr(38) || '#39;',
             chr(39)),
             '&amp;', '&'),
           ' +', ' ', 'g')) AS clean
  FROM h
)
SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM c
""",
    covers=("G.text.html_strip",),
)
def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping (operators/text.py strip_html) over a
    deterministic HTML wrapping of each document — scripts and comments
    removed body-and-all (the script body even contains a bare '<' to
    prove ordering), tags dropped, entities decoded, whitespace
    collapsed.  Both engines run the literal same RE2-safe patterns, so
    the cleaned text hashes must agree byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body class="c"><h1>'), F.col("source"),
        F.lit('</h1> <p>'), F.col("text"),
        F.lit(' &amp; more</p> <script>if (1 < 2) x();</script>'
              ' <!-- boilerplate --></body></html>'))
    clean = X.strip_html(html)
    return d.select(
        "doc_id",
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean.cast("binary")).alias("clean_md5"))


@register(
    "corpus_build_pipeline",
    oracle=f"""
WITH kept AS (
  SELECT doc_id, lang, text FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> ''))
        BETWEEN 10 AND 1000
),
surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
final AS (SELECT k.doc_id, k.lang FROM kept k JOIN surv USING (doc_id)),
split AS (
  SELECT lang,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT lang, {sql_md5_long("doc_id::VARCHAR")} % 100 AS b
        FROM final)
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
FROM split GROUP BY split, lang
""",
    covers=("G.pipeline.compose",),
)
def q_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed the way a real corpus build uses them —
    quality gate -> exact dedup (deterministic survivor) -> reproducible
    hash split — in ONE lazy plan, reporting per-(split, lang) counts.
    Catalyst fuses the chain: the quality filter prunes before the dedup
    digest groupBy, the split is a pure projection, and the output is
    aggregate-sized.  Every stage is individually driver-verified
    elsewhere (text_quality_scores, dedup_exact, sample_hash_split);
    this query verifies their COMPOSITION end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    q = X.quality_features(d)
    kept = d.join(q.filter("len_ok").select("doc_id"), "doc_id")
    surv = D.exact_dedup_keep_min(kept)
    final = kept.join(
        surv.select(F.col("kept_id").alias("doc_id")), "doc_id")
    b = md5_long(F.col("doc_id").cast("string")) % 100
    return (final.select(
        "lang",
        F.when(b < 80, "train").when(b < 90, "val")
         .otherwise("test").alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "text_bpe_pair_counts",
    oracle="""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
),
pairs AS (
  SELECT substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b
  FROM toks, generate_series(1, 64) AS g(i)
  WHERE i < length(w)
)
SELECT a || b AS pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY a, b
ORDER BY n DESC, pair LIMIT 20
""",
    covers=("G.text.bpe",),
)
def q_text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE tokenizer-training iteration, distributed:
    corpus-wide adjacent-symbol pair frequencies at the character
    level, top 20 by count (deterministic (n DESC, pair) cutoff).
    Pairs are built IN-ROW (nested transform over word positions —
    codegen, zero shuffle); the only exchange is a groupBy over the
    bounded pair alphabet, map-side combinable, so counting 100 TB of
    text shuffles at most |alphabet|² counters per partition.  Later
    merge iterations re-segment with the learned merge table and rerun
    the same plan."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")

    def pairs_of(w):
        seq = (F.when(F.length(w) >= 2, F.sequence(F.lit(1), F.length(w) - 1))
               .otherwise(F.array().cast("array<int>")))
        return F.transform(
            seq, lambda i: F.concat(w.substr(i, F.lit(1)),
                                    w.substr(i + 1, F.lit(1))))

    pairs = F.flatten(F.transform(toks, pairs_of))
    return (d.select(F.explode(pairs).alias("pair"))
            .groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "pair").limit(20))


@register(
    "text_unicode_nfc",
    oracle="""
WITH a AS (
  SELECT doc_id, text || ' cafe' || chr(769) || ' no' || chr(776) || 'el'
           AS raw FROM documents
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT) AS raw_len,
       CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len,
       md5(nfc_normalize(raw)) AS nfc_md5
FROM a
""",
    covers=("G.text.unicode",),
)
def q_text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the standard first step of corpus
    cleaning (crawled text mixes composed and decomposed forms; dedup
    hashes diverge on byte-different/canonically-equal strings unless
    normalized).  Spark has no built-in normalizer, so this is a
    legitimate Arrow-batched ``pandas_udf`` (stdlib ``unicodedata``),
    vectorized per batch — the sanctioned fallback when no JVM function
    expresses the semantics.  Each document gets a decomposed-form
    suffix appended (combining acute/diaeresis) so the op provably
    composes: raw_len shrinks by exactly the two combining marks and
    the NFC hash must equal DuckDB's ``nfc_normalize`` byte-for-byte."""
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    d = load_table(spark, sf_dir, "documents")
    # decomposed on purpose: e + U+0301, o + U+0308 (NFC composes both)
    raw = F.concat(F.col("text"), F.lit(" cafe\u0301 no\u0308el"))
    return d.select(
        "doc_id",
        F.length(raw).cast("bigint").alias("raw_len"),
        F.length(nfc(raw)).cast("bigint").alias("nfc_len"),
        F.md5(nfc(raw).cast("binary")).alias("nfc_md5"))


_SHUF = sql_md5_long("'shuf42-' || doc_id::VARCHAR")


@register(
    "sample_global_shuffle",
    oracle=f"""
SELECT doc_id,
       CAST({_SHUF} % 1024 AS BIGINT) AS bucket,
       CAST(row_number() OVER (
         PARTITION BY {_SHUF} % 1024
         ORDER BY {_SHUF}, doc_id) AS BIGINT) AS seq
FROM documents
""",
    covers=("G.sample.shuffle",),
)
def q_sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for reproducible training order: a
    seeded hash permutes documents, expressed as (bucket, seq) — global
    order = ORDER BY (bucket, seq).  The 100 TB shape: 1024 hash buckets
    shuffle once and each bucket ranks INDEPENDENTLY (parallel window
    partitions, uniformly sized by the hash), where a naive
    ``row_number() OVER (ORDER BY hash)`` would funnel the whole corpus
    through ONE partition.  Identical permutation on every engine,
    every partitioning, every rerun — ``df.sample``/``rand`` can
    guarantee none of these."""
    d = load_table(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("shuf42-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(h % 1024).orderBy(h, F.col("doc_id"))
    return d.select(
        "doc_id",
        (h % 1024).alias("bucket"),
        F.row_number().over(w).cast("bigint").alias("seq"))


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {sql_md5_long("doc_id::VARCHAR")}, doc_id) AS rk
  FROM documents)
WHERE rk <= 25
""",
    covers=("G.sample.stratified",),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: fixed-k per language stratum,
    ordered by content-independent hash — reservoir-sampling semantics
    without RNG.  One shuffle on the (low-cardinality) stratum key; at
    scale, strata are processed as independent partitions."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        md5_long(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc())
    return (d.select("doc_id", "lang",
                     F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 25))


_FPRINT_SQL = f"""(SELECT doc_id, text, {_TOKS} AS toks FROM corpus)"""

_MIN_SHINGLE_SQL = ("list_aggregate([" + sql_md5_long(
    "array_to_string(list_slice(toks, i, i + 2), ' ')")
    + " for i in range(1, greatest(len(toks) - 2, 1) + 1)], 'min')")


@register(
    "dedup_clusters",
    oracle="WITH RECURSIVE " + _CORPUS_CTE + f""",
keys AS (
  SELECT doc_id, md5(text) AS k1, {_MIN_SHINGLE_SQL} AS k2
  FROM {_FPRINT_SQL}
),
e1 AS (SELECT r.src, k.doc_id AS dst
       FROM keys k JOIN (SELECT k1, min(doc_id) AS src
                         FROM keys GROUP BY k1) r USING (k1)
       WHERE k.doc_id <> r.src),
e2 AS (SELECT r.src, k.doc_id AS dst
       FROM keys k JOIN (SELECT k2, min(doc_id) AS src
                         FROM keys GROUP BY k2) r USING (k2)
       WHERE k.doc_id <> r.src),
edges AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2),
bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM keys
  UNION
  SELECT b.dst, r.root FROM reach r JOIN bidir b ON b.src = r.id
),
cc AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc
""",
    covers=("G.dedup.clusters",),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: exact-digest and min-shingle-fingerprint key
    groups become star edges; hash-to-min label propagation assigns each
    document its connected component (= duplicate cluster), verified
    against a DuckDB recursive-CTE reachability oracle.

    The scale path for "keep one per duplicate cluster" when transitive
    near-dup chains (A~B, B~C, A!~C) make per-pair survivors inconsistent.
    """
    corpus = _doc_corpus(spark, sf_dir)
    keys = X.fingerprint(corpus).select(
        "doc_id", F.col("md5_full").alias("k1"),
        F.col("min_shingle_hash").alias("k2"))
    labels = D.cluster_labels(keys, ["k1", "k2"])
    from pyspark.sql import Window

    return (labels.select(F.col("id").alias("doc_id"),
                          F.col("label").alias("cluster_id"))
            .withColumn("cluster_size",
                        F.count(F.lit(1)).over(
                            Window.partitionBy("cluster_id"))))


# ---------------------------------------------------------------------------
# Training-set construction: decontamination, incremental dedup, packing
# ---------------------------------------------------------------------------

_DECON_N = 8  # shingle width for contamination detection

_DECON_CTE = f"""
evalset AS (
  SELECT doc_id + 5000000 AS eval_id,
         substr(text, instr(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 97 = 0
),
corp_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([array_to_string(list_slice(toks, i, i + {_DECON_N - 1}), ' ')
                   for i in range(1, greatest(len(toks) - {_DECON_N - 1}, 1) + 1)])
             AS shingle
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
),
eval_sh AS (
  SELECT DISTINCT eval_id, shingle FROM (
    SELECT eval_id,
           unnest([array_to_string(list_slice(toks, i, i + {_DECON_N - 1}), ' ')
                   for i in range(1, greatest(len(toks) - {_DECON_N - 1}, 1) + 1)])
             AS shingle
    FROM (SELECT eval_id, {_TOKS} AS toks FROM evalset))
)"""


@register(
    "decontaminate_ngram_overlap",
    oracle="WITH " + _DECON_CTE + """
SELECT c.doc_id, e.eval_id, count(*) AS n_shared
FROM corp_sh c JOIN eval_sh e USING (shingle)
GROUP BY c.doc_id, e.eval_id
""",
    covers=("G.decontaminate",),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag corpus documents sharing >= 1
    8-token shingle with a (synthetic) benchmark set — the derived eval
    docs are first-token-dropped copies of every 97th document, so true
    contamination exists and the hit list is deterministic.

    Same equi-join-on-shingle pattern as Jaccard dedup, but across two
    sets; at 100 TB the eval side is tiny (benchmarks are ~1e5 docs) so
    the shingle join broadcasts and the corpus side never shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    evalset = (d.filter(F.col("doc_id") % 97 == 0)
               .select((F.col("doc_id") + 5_000_000).alias("eval_id"),
                       F.expr("substring(text, instr(text, ' ') + 1)")
                        .alias("text")))
    # distinctness is per document (ids unique), so enforce it in-row
    # with array_distinct — no corpus-sized dedup shuffle (the same
    # repair as operators/dedup.py doc_shingles)
    corp_sh = d.select("doc_id", F.explode(F.array_distinct(
        X.shingle_array(X.tokens("text"), _DECON_N))).alias("shingle"))
    eval_sh = evalset.select("eval_id", F.explode(F.array_distinct(
        X.shingle_array(X.tokens("text"), _DECON_N))).alias("shingle"))
    return (corp_sh.join(F.broadcast(eval_sh), "shingle")
            .groupBy("doc_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared")))


@register(
    "dedup_incremental",
    oracle="""
WITH existing AS (
  SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id < 300
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 200
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 100
)
SELECT b.doc_id, md5(b.text) AS content_md5
FROM batch b LEFT JOIN existing e ON md5(b.text) = e.content_md5
WHERE e.content_md5 IS NULL
""",
    covers=("G.dedup.incremental",),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: anti-join a new batch against the digest
    set of the already-ingested corpus — only genuinely novel content
    survives.  The batch deliberately overlaps the existing range
    (ids 200-299) and re-ships copies of ids < 100, so the anti-join
    actually filters.

    At scale the digest set is a 16-byte-keyed table orders of magnitude
    smaller than the corpus; the anti-join shuffles digests, not text,
    and broadcasts whenever the ingested-digest partition fits.
    """
    d = load_table(spark, sf_dir, "documents")
    existing = (d.filter(F.col("doc_id") < 300)
                .select(F.md5(F.col("text").cast("binary"))
                        .alias("content_md5")).distinct())
    batch = (d.filter(F.col("doc_id") >= 200).select("doc_id", "text")
             .unionByName(
                 d.filter(F.col("doc_id") < 100)
                 .select((F.col("doc_id") + 3_000_000).alias("doc_id"),
                         "text")))
    return (batch
            .select("doc_id",
                    F.md5(F.col("text").cast("binary")).alias("content_md5"))
            .join(existing, "content_md5", "left_anti"))


_CTX = 512  # tokens per packed block


@register(
    "pack_sequences",
    oracle=f"""
SELECT doc_id, source, n_tokens,
       CAST((cum - n_tokens) // {_CTX} AS BIGINT) AS block_id,
       CAST((cum - n_tokens) % {_CTX} AS BIGINT) AS block_offset
FROM (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens,
         sum(len({_TOKS})) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents)
""",
    covers=("G.pack",),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-split sequence packing: per source stream, documents
    are laid end-to-end in doc_id order and cut into fixed {_CTX}-token
    blocks (GPT-style packing; docs may straddle block boundaries).

    One running-total window partitioned by ``source`` — the packing
    parallelism unit at 100 TB is the source/shard key, never a global
    sort.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n = F.size(X.tokens("text"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(n).over(w)
    start = cum - n
    return d.select(
        "doc_id", "source", n.alias("n_tokens"),
        (start / _CTX).cast("long").alias("block_id"),
        (start % _CTX).alias("block_offset"))


@register(
    "sample_domain_mixture",
    oracle=f"""
SELECT doc_id, source, target_permyriad
FROM (
  SELECT doc_id, source,
         (substr(source, 4)::BIGINT + 1) * 500 AS target_permyriad,
         {sql_md5_long("doc_id::VARCHAR")} % 10000 AS h
  FROM documents)
WHERE h < target_permyriad
""",
    covers=("G.sample.mixture",),
)
def q_sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining domain mixing: each source is down-sampled to its own
    target rate (here src_i keeps (i+1)*5%) with the same deterministic
    hash gate as `sample_hash_split` — so a re-run, a different engine, or
    a different partitioning keeps EXACTLY the same documents.

    Pure projection + filter: no shuffle, no RNG; at 100 TB the mixture
    is one codegen'd pass and composes with any downstream dedup/pack
    stage."""
    d = load_table(spark, sf_dir, "documents")
    rate = ((F.substring("source", 4, 10).cast("long") + 1) * 500)
    h = md5_long(F.col("doc_id").cast("string")) % 10000
    return (d.select("doc_id", "source",
                     rate.alias("target_permyriad"), h.alias("h"))
            .filter(F.col("h") < F.col("target_permyriad"))
            .drop("h"))


@register(
    "embedding_kmeans",
    oracle="""
WITH c0 AS (
  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
a0 AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, cvec), cluster) AS rn
  FROM e CROSS JOIN c0
),
m AS (
  SELECT a0.cluster, gs.pos, avg(e.v[gs.pos]) AS m
  FROM a0
  JOIN e USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) gs
  WHERE a0.rn = 1
  GROUP BY a0.cluster, gs.pos
),
c1 AS (SELECT cluster, list(m ORDER BY pos) AS cvec FROM m GROUP BY cluster),
a1 AS (
  SELECT vec_id, cluster, list_distance(v, cvec) AS dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, cvec), cluster) AS rn
  FROM e CROSS JOIN c1
)
SELECT vec_id, cluster, round(dist, 6) AS dist FROM a1 WHERE rn = 1
""",
    covers=("G.similarity.kmeans",),
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means (k=8, seeded from vec_id<8)
    over the embedding corpus, returning the post-update assignment.

    Spark-first: assignment is a MAP-ONLY argmin fold over a centroid
    literal (operators/clustering.py) — zero joins/shuffles per assign
    pass; the centroid update is one (cluster, pos)-keyed map-side-
    combinable shuffle.  The oracle recomputes the identical iteration in
    SQL via cross join + row_number argmin — different algorithm, same
    result, which is the strongest form of the check."""
    from ab_metadata_pusher_spark.operators.clustering import kmeans_fit_assign

    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_fit_assign(e, k=8, iters=1)
    return out.withColumn("dist", F.round("dist", 6))


@register(
    "text_bigrams",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
b AS (
  SELECT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
        FROM t WHERE len(l) >= 2)
)
SELECT w1, w2, count(*) AS n
FROM b GROUP BY w1, w2 HAVING count(*) >= 5
""",
    covers=("G.text.ngram",),
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram LM / contamination-analysis
    primitive): adjacent-pair extraction is zip_with over two slices of
    the token array — pure array expressions, no self-join, no Python —
    then one map-side-combinable count.  At 100 TB the explode output is
    ~tokens-per-corpus rows of two short strings; thresholding (n >= 5)
    keeps the result vocabulary-sized."""
    docs = load_table(spark, sf_dir, "documents")
    arr = X.tokens("text")
    pairs = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return (docs.select(F.explode(pairs).alias("p"))
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 5))


@register(
    "text_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
tot AS (SELECT sum(c) AS n FROM vocab)
SELECT doc_id,
       round(avg(-ln(c * 1.0 / n)), 4) AS lm_score,
       count(*) AS n_tokens
FROM toks JOIN vocab USING (term) CROSS JOIN tot
GROUP BY doc_id
""",
    covers=("G.text.lm_score",),
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy (the KenLM-style quality score used to
    filter web corpora): score(doc) = mean over tokens of -ln p(token),
    p from corpus-wide unigram frequencies.

    Spark shape: one explode -> map-side-combinable vocab count (vocab
    rows ~ |V|, tiny vs corpus) -> broadcast vocab back onto the token
    stream -> per-doc avg.  At 100 TB the token stream never shuffles on
    token: the vocab aggregate shuffles |V| x partitions partial rows and
    the scoring join is broadcast, so the only full-data shuffle is the
    final per-doc aggregation keyed by doc_id (high-cardinality, even)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    # unigram count as a WINDOW over the token stream: the groupBy-vocab
    # + join-back form re-ran the explode for each reference and pinned
    # a vocabulary-sized broadcast; the window is one term-keyed shuffle
    # of the stream with identical counts
    c = F.count(F.lit(1)).over(Window.partitionBy("term"))
    # total token count from the doc scan directly (sum of per-doc sizes)
    # rather than re-aggregating the token subtree — one fewer explode
    total = docs.agg(F.sum(F.size(X.tokens("text"))).alias("n"))
    scored = toks.withColumn("c", c).join(F.broadcast(total))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4)
                  .alias("lm_score"),
                 F.count(F.lit(1)).alias("n_tokens")))


@register(
    "sample_length_curriculum",
    oracle="""
SELECT CAST(least(n_chars // 200, 9) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round(avg(n_chars), 2) AS avg_chars
FROM documents
GROUP BY 1
""",
    covers=("G.sample.curriculum",),
)
def q_sample_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed curriculum manifest: fixed-width doc-length
    buckets (200-char steps, top bucket open) with per-bucket stats —
    the batch-shape planning step for sequence-length curricula and
    bucketed batching.  Pure arithmetic bucketing keeps it a single
    map-side-combinable aggregate; no width_bucket dependency so the
    DuckDB oracle is the identical expression."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 200), F.lit(9)).cast("long")
    return (docs.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars")))


@register(
    "dedup_chunks",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
c AS (
  SELECT doc_id,
         array_to_string(l[i.i*20+1 : i.i*20+20], ' ') AS chunk
  FROM t, (SELECT unnest(generate_series(0, 63)) AS i) i
  WHERE i.i*20 < len(l)
),
d AS (SELECT chunk, count(*) AS n FROM c GROUP BY chunk)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS dup_frac
FROM c JOIN d USING (chunk)
GROUP BY doc_id
""",
    covers=("G.dedup.paragraph",),
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph/line-level) exact dedup, CCNet-style: cut
    each doc into fixed 20-token chunks, count identical chunks across
    the WHOLE corpus, and report each doc's duplicated-chunk fraction —
    the signal used to strip boilerplate lines from web corpora.

    The fixture text has no newlines, so fixed-width token windows stand
    in for paragraphs; the operator shape (chunk -> global count ->
    re-join -> per-doc ratio) is identical.  At 100 TB: the chunk
    explode is ~corpus-token-size but map-local; both the chunk count
    and the count-back join shuffle hash-evenly on chunk text, and the
    re-join can instead broadcast the duplicated-only subset (n > 1,
    usually tiny) when boilerplate is sparse."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select("doc_id", X.tokens("text").alias("l"))
         .filter(F.size("l") > 0))
    n_last = F.floor((F.size("l") - 1) / 20).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_last),
        lambda i: F.array_join(F.slice(F.col("l"), i * 20 + 1, F.lit(20)), " "))
    c = t.select("doc_id", F.explode(chunks).alias("chunk"))
    d = c.groupBy("chunk").agg(F.count(F.lit(1)).alias("n"))
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return (c.join(d, "chunk")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(dup).alias("n_dup_chunks"),
                 F.round(F.sum(dup) / F.count(F.lit(1)), 4).alias("dup_frac")))


@register(
    "similarity_pq",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sub AS (
  SELECT vec_id, s.s AS s, v[s.s*16+1 : s.s*16+16] AS sv
  FROM e, (SELECT unnest(generate_series(0, 3)) AS s) s
),
c0 AS (SELECT s, vec_id AS code, sv AS cvec FROM sub WHERE vec_id < 4),
a0 AS (
  SELECT sub.vec_id, sub.s, c0.code,
         row_number() OVER (PARTITION BY sub.vec_id, sub.s
                            ORDER BY list_distance(sv, cvec), code) AS rn
  FROM sub JOIN c0 ON sub.s = c0.s
),
m AS (
  SELECT a0.s, a0.code, gs.pos, avg(sub.sv[gs.pos]) AS mv
  FROM a0
  JOIN sub ON a0.vec_id = sub.vec_id AND a0.s = sub.s
  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS pos) gs
  WHERE a0.rn = 1
  GROUP BY a0.s, a0.code, gs.pos
),
c1 AS (SELECT s, code, list(mv ORDER BY pos) AS cvec FROM m GROUP BY s, code),
a1 AS (
  SELECT sub.vec_id, sub.s, c1.code, list_distance(sv, cvec) AS dist,
         row_number() OVER (PARTITION BY sub.vec_id, sub.s
                            ORDER BY list_distance(sv, cvec), code) AS rn
  FROM sub JOIN c1 ON sub.s = c1.s
)
SELECT vec_id, s AS subspace, code, round(dist, 6) AS qerr
FROM a1 WHERE rn = 1
""",
    covers=("G.similarity.pq",),
)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook fit + assignment (4 subspaces x 4
    codes, one Lloyd iteration, seeded from vec_id<4) — the compression
    half of IVF-PQ ANN indexing: 64 floats become 4 small codes.

    Spark-first: per-subspace assignment is a map-only argmin fold over
    a codebook literal on a sliced array (operators/clustering.py
    pq_fit_assign); the oracle recomputes the identical fit in SQL via
    cross join + row_number argmin — different algorithm, same result."""
    from ab_metadata_pusher_spark.operators.clustering import pq_fit_assign

    e = load_table(spark, sf_dir, "embeddings")
    return pq_fit_assign(e, m=4, k=4, iters=1) \
        .withColumn("qerr", F.round("qerr", 6))


_BRUTE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     neighbor_id) AS rank
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim, rank
FROM scored WHERE rank <= 5
"""


@register(
    "similarity_ann_recall",
    oracle=f"""
WITH brute AS (SELECT * FROM ({_BRUTE_TOPK_SQL}) tb),
approx AS (SELECT * FROM ({_lsh_sql()}) ta)
SELECT b.query_id,
       round(count(a.neighbor_id) / 5.0, 4) AS recall_at_5
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    covers=("G.similarity.recall",),
)
def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the hyperplane-LSH path against exact brute force —
    the evaluation operator every ANN deployment needs before trusting
    an index (tune n_planes/nprobe until recall clears target).

    Both sides are the registry's own operators; at 100 TB recall is
    estimated on a sampled query set (here: the 5 fixed queries), so the
    brute-force side stays cheap no matter the corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    brute = S.topk_cosine_bruteforce(e, q, k=5)
    approx = (S.ann_lsh_topk(e, q, k=5)
              .select("query_id", "neighbor_id", F.lit(1).alias("hit")))
    return (brute.select("query_id", "neighbor_id")
            .join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.round(F.count("hit") / 5.0, 4).alias("recall_at_5")))


@register(
    "similarity_ivf_recall",
    oracle=f"""
WITH brute AS (SELECT * FROM ({_BRUTE_TOPK_SQL}) tb),
approx AS (SELECT * FROM ({_IVF_TOPK_SQL}) ta)
SELECT b.query_id,
       round(count(a.neighbor_id) / 5.0, 4) AS recall_at_5
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    covers=("G.similarity.recall",),
)
def q_similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LEARNED-quantizer IVF path (8 k-means cells,
    nprobe=2) against exact brute force — the index-quality gate for
    the trained index, fully oracle-checked because the training run is
    deterministic.  Companion to similarity_ann_recall (LSH)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    brute = S.topk_cosine_bruteforce(e, q, k=5)
    approx = (S.ann_ivf_topk(e, q, k=5, nprobe=2, n_cells=8, iters=2)
              .select("query_id", "neighbor_id", F.lit(1).alias("hit")))
    return (brute.select("query_id", "neighbor_id")
            .join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.round(F.count("hit") / 5.0, 4).alias("recall_at_5")))


@register(
    "dedup_minhash_verified",
    oracle="WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
cand AS (SELECT * FROM ({_minhash_sql()}) t),
sizes AS (SELECT sid, count(*) AS n_sh FROM sh GROUP BY sid),
inter AS (
  SELECT c.sid_a, c.sid_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.sid = c.sid_a
  JOIN sh b ON b.sid = c.sid_b AND b.shingle = a.shingle
  GROUP BY c.sid_a, c.sid_b
)
SELECT i.sid_a, i.sid_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.sid = i.sid_a
JOIN sizes sb ON sb.sid = i.sid_b
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_T}
""",
    covers=("G.dedup.verify",),
)
def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline: MinHash-LSH candidate
    generation followed by exact Jaccard verification restricted to the
    candidate pairs (operators/dedup.py lsh_verified_pairs) — LSH alone
    over-generates, exact-everything is corpus²; candidate-then-verify
    is the shape that holds at 100 TB."""
    return D.lsh_verified_pairs(_doc_corpus(spark, sf_dir), _JACCARD_T)


@register(
    "text_char_entropy",
    oracle="""
SELECT doc_id, n_chars_used, round(ent, 4) AS char_entropy
FROM (
  SELECT doc_id, len(cs) AS n_chars_used,
         -list_sum(list_transform(list_distinct(cs), c ->
            (len(list_filter(cs, x -> x = c)) * 1.0 / len(cs))
            * log2(len(list_filter(cs, x -> x = c)) * 1.0 / len(cs)))) AS ent
  FROM (SELECT doc_id,
               list_filter(string_split(text, ''), x -> x <> '') AS cs
        FROM documents)
  WHERE len(cs) > 0)
""",
    covers=("G.text.entropy",),
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the cheapest
    gibberish/boilerplate detector in a corpus quality stack (random
    bytes score high, repeated padding scores near zero; natural text
    sits ~4 bits/char).

    Entirely JVM-side higher-order functions: split-to-chars, then for
    each DISTINCT char count its occurrences with F.filter and fold
    -p*log2(p) with F.aggregate — no explode, no shuffle, no Python.
    O(len * alphabet) per doc stays cheap because natural-text alphabets
    are tiny (~70 symbols); for megabyte documents switch to the
    explode + two-level groupBy histogram, which trades the quadratic
    term for one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    cs = F.filter(F.split("text", ""), lambda x: x != "")
    n = F.size(cs).cast("double")
    ent = -F.aggregate(
        F.array_distinct(cs), F.lit(0.0),
        lambda acc, c: acc + _plogp(F.size(F.filter(cs, lambda x: x == c)), n))
    return (d.select("doc_id", F.size(cs).alias("n_chars_used"),
                     F.round(ent, 4).alias("char_entropy"))
            .filter(F.col("n_chars_used") > 0))


def _plogp(cnt, n):
    p = cnt.cast("double") / n
    return p * F.log2(p)


@register(
    "sample_temperature",
    oracle="""
WITH s AS (SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
           FROM documents GROUP BY source)
SELECT source, n_docs, total_chars,
       round(sqrt(total_chars) / sum(sqrt(total_chars)) OVER (), 6) AS weight,
       round(sqrt(total_chars) / sum(sqrt(total_chars)) OVER ()
             * sum(n_docs) OVER (), 2) AS target_docs
FROM s
""",
    covers=("G.sample.temperature",),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced domain mixture (the multilingual-sampling
    trick from the XLM-R / mT5 papers): domain weight ∝ size^(1/T) with
    T=2, so small domains are up-weighted relative to proportional
    sampling and no domain dominates.  Emits the per-source weight and
    the implied document budget a sampler downstream would draw.

    One aggregation to domain granularity (map-side combinable), then
    the normalisation runs over the DOMAIN frame — thousands of rows at
    worst, so the empty-frame window (one partition) is free; the 100 TB
    input is touched exactly once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"))
    w = Window.partitionBy()
    raw = F.sqrt("total_chars")
    weight = raw / F.sum(raw).over(w)
    return s.select(
        "source", "n_docs", "total_chars",
        F.round(weight, 6).alias("weight"),
        F.round(weight * F.sum("n_docs").over(w), 2).alias("target_docs"))


@register(
    "dedup_keep_best",
    oracle="WITH RECURSIVE " + _CORPUS_CTE + f""",
keys AS (
  SELECT doc_id, md5(text) AS k1, {_MIN_SHINGLE_SQL} AS k2
  FROM {_FPRINT_SQL}
),
e1 AS (SELECT r.src, k.doc_id AS dst
       FROM keys k JOIN (SELECT k1, min(doc_id) AS src
                         FROM keys GROUP BY k1) r USING (k1)
       WHERE k.doc_id <> r.src),
e2 AS (SELECT r.src, k.doc_id AS dst
       FROM keys k JOIN (SELECT k2, min(doc_id) AS src
                         FROM keys GROUP BY k2) r USING (k2)
       WHERE k.doc_id <> r.src),
edges AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2),
bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM keys
  UNION
  SELECT b.dst, r.root FROM reach r JOIN bidir b ON b.src = r.id
),
cc AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
nt AS (SELECT doc_id, len({_TOKS}) AS n_toks FROM corpus),
ranked AS (
  SELECT cc.doc_id, cc.cluster_id, nt.n_toks,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY nt.n_toks DESC, cc.doc_id) AS rn
  FROM cc JOIN nt USING (doc_id))
SELECT cluster_id, doc_id AS kept_id, n_toks, cluster_size
FROM ranked WHERE rn = 1
""",
    covers=("G.dedup.keep_best",),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per duplicate CLUSTER (the
    connected components of dedup_clusters), keep the copy with the most
    tokens (ties to the smallest id) instead of an arbitrary first — how
    production corpus dedup picks the least-truncated variant of a near-
    dup family.

    Composition of two already-verified stages (cluster labels + token
    counts) plus one window rank per cluster; cluster frames carry
    (id, label, count) only, so the extra cost over plain clustering is
    one narrow join and a per-cluster top-1 — bounded by cluster size,
    which the LSH banding keeps small by construction."""
    from pyspark.sql import Window

    corpus = _doc_corpus(spark, sf_dir)
    keys = X.fingerprint(corpus).select(
        "doc_id", F.col("md5_full").alias("k1"),
        F.col("min_shingle_hash").alias("k2"))
    labels = D.cluster_labels(keys, ["k1", "k2"]).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    ntoks = corpus.select("doc_id", F.size(X.tokens("text")).alias("n_toks"))
    w = Window.partitionBy("cluster_id")
    rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_toks"), F.asc("doc_id"))
    return (labels.join(ntoks, "doc_id")
            .withColumn("cluster_size", F.count(F.lit(1)).over(w))
            .withColumn("rn", F.row_number().over(rank))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("kept_id"),
                    "n_toks", "cluster_size"))


@register(
    "dedup_edit_distance",
    oracle="""
SELECT a.p_partkey AS left_key, b.p_partkey AS right_key,
       a.p_name AS left_name, b.p_name AS right_name,
       levenshtein(a.p_name, b.p_name) AS lev
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
    covers=("G.dedup.edit_distance",),
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-duplicate pairs within Levenshtein distance 2 over part
    names, restricted to same-brand pairs (the contract the oracle's
    brand equi-join states).

    Candidate generation is PassJoin pigeonhole blocking
    (operators/dedup.py edit_distance_pairs): segment equi-join keys
    whose collision groups are sized by true near-dup density.  The
    brand column rides along as an extra join conjunct only.  The naive
    alternative — equality blocking on brand alone — is a scale trap
    this query used to fall into: brand cardinality is FIXED (25), so
    block population grows linearly with the corpus and the per-block
    pairwise levenshtein is quadratic (measured 0.6s -> 17.8s for 10x
    rows, exponent 1.46; the PassJoin form is linear in rows).  The
    oracle deliberately stays the brute-force within-brand join — an
    independent quadratic enumeration the lossless blocking must equal
    exactly."""
    p = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand", "p_name")
    return (D.edit_distance_pairs(p, tau=2, text_col="p_name",
                                  id_col="p_partkey", block_col="p_brand")
            .select(F.col("id_a").alias("left_key"),
                    F.col("id_b").alias("right_key"),
                    F.col("text_a").alias("left_name"),
                    F.col("text_b").alias("right_name"), "lev"))


_BM25_TERMS = ("hash", "join", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "text_bm25",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN {_BM25_TERMS!r} GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       WHERE term IN {_BM25_TERMS!r} GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                      + {_BM25_B} * dl.dl / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS bm25,
       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
FROM scored ORDER BY rank LIMIT 10
""",
    covers=("G.text.bm25",),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval for a fixed 3-term query: the full-text
    ranking function (tf saturation via k1, length normalization via b)
    on top of the same tf/df/doc-length statistics the TF-IDF query
    builds.  Top-10 docs by summed per-term score.

    Spark-first: tf is filtered to the query terms BEFORE the groupBy
    (predicate pushdown shrinks the shuffle to query-term postings
    only); df and the corpus stats are one-row / vocabulary-sized
    broadcasts; the final top-k is a single-partition window over an
    already tiny scored set.  At 100 TB the per-term postings are the
    only large frame, and they shuffle once on doc_id."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    qtoks = toks.filter(F.col("term").isin(*_BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtoks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf") + _BM25_K1 * (1 - _BM25_B
                                      + _BM25_B * F.col("dl") / F.col("avgdl")))
    per_term = idf * F.col("tf") * (_BM25_K1 + 1) / norm
    scored = (tf.join(F.broadcast(df), "term")
              # dl is DOC-count-sized: no explicit broadcast hint (AQE
              # broadcasts while it fits, shuffles past that — the same
              # gate as ppjoin's vocab table)
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(per_term).alias("score")))
    # top-k as TakeOrdered (per-partition heap + driver merge), NOT a
    # global row_number window: the scored set is every doc containing
    # a query term, which for common terms is corpus-sized — a
    # single-partition sort there is the skyline/weighted-sample trap.
    # The rank window runs after limit(10), over 10 rows.
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select("doc_id", F.round("score", 6).alias("bm25"),
                      F.row_number().over(w).alias("rank"))


@register(
    "text_inverted_index",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents)
SELECT term, count(*) AS df,
       array_to_string(list_sort(list(doc_id)), '|') AS postings
FROM toks GROUP BY term
""",
    covers=("G.text.inverted_index",),
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> sorted posting list of doc ids —
    the search-engine core as one explode + distinct + groupBy
    collect.  Postings come back sorted (sort_array,
    '|'-joined for the driver's flat-schema contract) so downstream
    intersection/merge operators can stream them.

    At 100 TB posting lists for stopword-frequency terms are the skew
    hazard: the production form splits postings into fixed-size blocks
    ((term, block_no) keys — delta-encoded doc ids per block), which is
    one extra modulo on this same plan; the df column already computed
    here is exactly the stat needed to pick block counts."""
    docs = load_table(spark, sf_dir, "documents")
    # per-document term distinctness in-row (ids unique): no corpus-wide
    # dedup exchange — same repair as operators/dedup.py doc_shingles
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(X.tokens("text"))).alias("term"))
    return (toks.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 # '|'-joined (not array): the driver's canonicalizer
                 # cannot hash list cells — tests/test_registry.py guard
                 F.array_join(F.sort_array(F.collect_list("doc_id")), "|")
                 .alias("postings")))


#: 2^60 — md5_long's range; maps the hash to a uniform (0, 1] double.
_U_DENOM = float(1 << 60)


@register(
    "sample_weighted",
    oracle=f"""
SELECT doc_id, n_chars, rank FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (
           ORDER BY -ln(({sql_md5_long("doc_id::VARCHAR")} + 1)
                        / {_U_DENOM!r}) / n_chars,
                    doc_id) AS rank
  FROM documents)
WHERE rank <= 50
""",
    covers=("G.sample.weighted",),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc draws u = hash-uniform(0,1], gets key
    -ln(u)/weight, and the 50 SMALLEST keys are the sample — longer docs
    (weight = n_chars) proportionally likelier, yet fully reproducible
    across engines and partitionings because u comes from md5, not RNG
    state.  Both sides compute the identical key expression.

    At 100 TB this is THE distributed weighted-sample: the key is a pure
    per-row projection (no coordination), and top-k by key runs as
    TakeOrdered — a per-partition heap + single merge (orderBy.limit),
    no global sort, no shuffle of the data itself; the rank window
    covers only the 50 survivors."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    u = (md5_long(F.col("doc_id").cast("string")) + 1) / F.lit(_U_DENOM)
    key = -F.log(u) / F.col("n_chars")
    top = (d.select("doc_id", "n_chars", key.alias("es_key"))
           .orderBy("es_key", "doc_id").limit(50))
    w = Window.orderBy("es_key", F.col("doc_id"))
    return top.select("doc_id", "n_chars",
                      F.row_number().over(w).alias("rank"))


_CONTAINMENT_T = 0.8

_CONTAINMENT_SQL = "WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
kept AS (
  SELECT sid, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {_JACCARD_MAX_DF})
),
sizes AS (SELECT sid, count(*) AS n_sh FROM kept GROUP BY sid),
inter AS (
  SELECT a.sid AS sid_a, b.sid AS sid_b, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.sid < b.sid
  GROUP BY a.sid, b.sid
)
SELECT sid_a, sid_b,
       CAST((n_inter * 20000 + least(sa.n_sh, sb.n_sh))
            // (2 * least(sa.n_sh, sb.n_sh)) AS DOUBLE) / 10000
         AS containment
FROM inter
JOIN sizes sa ON sa.sid = sid_a
JOIN sizes sb ON sb.sid = sid_b
WHERE CAST((n_inter * 20000 + least(sa.n_sh, sb.n_sh))
           // (2 * least(sa.n_sh, sb.n_sh)) AS DOUBLE) / 10000
      >= {_CONTAINMENT_T}
"""


@register("dedup_containment", oracle=_CONTAINMENT_SQL,
          covers=("G.dedup.containment",))
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment near-dup pairs (|A∩B| / min(|A|,|B|) >= 0.8):
    catches a short document EMBEDDED in a long one — the subset-
    duplication case Jaccard and MinHash both miss by construction
    (operators/dedup.py containment_pairs; same df-gated shingle join as
    the jaccard path, different score)."""
    return D.containment_pairs(_doc_corpus(spark, sf_dir), _CONTAINMENT_T,
                               max_df=_JACCARD_MAX_DF)


_CORPUS_DIFF_SQL = """
WITH old AS (SELECT doc_id, md5(text) AS digest FROM documents
             WHERE doc_id % 10 <> 0),
new AS (SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0
                        THEN substr(text, instr(text, ' ') + 1)
                        ELSE text END) AS digest
        FROM documents WHERE doc_id % 10 <> 1)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.digest <> n.digest
"""


@register("corpus_snapshot_diff", oracle=_CORPUS_DIFF_SQL,
          covers=("G.corpus.diff",))
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff by content digest: added / removed / changed
    docs between two corpus snapshots (old = ids % 10 != 0; new = ids %
    10 != 1 with every 7th doc's text mutated).  One full-outer join on
    doc_id comparing 16-byte digests — the shuffle carries digests, not
    documents, so diffing two 100 TB snapshots costs two digest scans +
    one id-keyed join.  The corpus twin of metadata_snapshot_diff: this
    is how a training-data pipeline audits what a rebuild changed."""
    docs = load_table(spark, sf_dir, "documents")
    old = (docs.filter(F.col("doc_id") % 10 != 0)
           .select("doc_id", F.md5(F.col("text").cast("binary"))
                   .alias("digest")))
    mutated = F.when(
        F.col("doc_id") % 7 == 0,
        F.expr("substring(text, instr(text, ' ') + 1)")).otherwise(
        F.col("text"))
    new = (docs.filter(F.col("doc_id") % 10 != 1)
           .select("doc_id", F.md5(mutated.cast("binary")).alias("digest")))
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    status = (F.when(F.col("o.doc_id").isNull(), "added")
              .when(F.col("n.doc_id").isNull(), "removed")
              .otherwise("changed"))
    return (joined
            .filter(F.col("o.doc_id").isNull() | F.col("n.doc_id").isNull()
                    | (F.col("o.digest") != F.col("n.digest")))
            .select(F.coalesce(F.col("o.doc_id"), F.col("n.doc_id"))
                    .alias("doc_id"), status.alias("status")))


# ---------------------------------------------------------------------------
# Round-3 additions: model-based quality filtering, budgeted selection,
# data-recipe planning, URL canonicalization, audio fingerprinting
# ---------------------------------------------------------------------------


@register(
    "text_quality_classifier",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) * 1.0
           / greatest(len(toks), 1) AS stop_r,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
           / greatest(length(text), 1) AS alpha_r,
         len(toks) / (len(toks) + 50.0) AS len_sat,
         length(replace(text, ' ', '')) * 1.0
           / greatest(len(toks), 1) AS wlen
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
)
SELECT doc_id,
       round(-2.0 + 3.0 * stop_r + 2.5 * alpha_r + 1.5 * len_sat
             - 0.1 * wlen, 6) AS logit,
       round(1.0 / (1.0 + exp(-(-2.0 + 3.0 * stop_r + 2.5 * alpha_r
             + 1.5 * len_sat - 0.1 * wlen))), 4) AS prob_keep,
       (-2.0 + 3.0 * stop_r + 2.5 * alpha_r + 1.5 * len_sat
        - 0.1 * wlen) >= 0 AS keep
FROM feats
""",
    covers=("G.text.classifier",),
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    web-corpus pipelines, e.g. CCNet/LLaMA-style "looks like a reference
    page" filters): a linear model over engineered features — stopword
    ratio, alphabetic ratio, saturating length term, mean word length —
    with FIXED public weights, emitting logit, sigmoid probability and a
    keep decision.

    Determinism discipline: the keep decision compares the UNROUNDED
    logit against 0 — the logit is pure rational arithmetic (no
    transcendentals), so both engines produce bit-identical doubles; only
    the reported probability goes through exp() and is rounded to 4
    decimals.  At 100 TB this is a single narrow projection — fixed-size
    expression per row, whole-stage codegen, zero shuffles; swapping in
    real learned weights changes literals, not the plan."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_tokens = F.size(toks)
    one = F.greatest(n_tokens, F.lit(1))
    stop_r = F.size(F.filter(toks, lambda t: t.isin(*X.STOPWORDS))) / one
    alpha_r = (F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
               / F.greatest(F.length("text"), F.lit(1)))
    len_sat = n_tokens / (n_tokens + F.lit(50.0))
    wlen = F.length(F.regexp_replace(F.col("text"), " ", "")) / one
    logit = (F.lit(-2.0) + F.lit(3.0) * stop_r + F.lit(2.5) * alpha_r
             + F.lit(1.5) * len_sat - F.lit(0.1) * wlen)
    return d.select(
        "doc_id",
        F.round(logit, 6).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4)
         .alias("prob_keep"),
        (logit >= 0).alias("keep"))


@register(
    "corpus_token_budget",
    oracle=f"""
WITH d AS (
  SELECT doc_id, len({_TOKS}) AS n_tokens,
         (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000)
           // greatest(length(text), 1) AS bucket
  FROM documents
),
tot AS (SELECT sum(n_tokens) AS total FROM d),
c AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY bucket DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM d
)
SELECT doc_id, bucket, n_tokens, cum_tokens
FROM c, tot
WHERE cum_tokens * 2 <= total
""",
    covers=("G.sample.token_budget",),
)
def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: keep the highest-quality documents
    until a global token budget (here 50% of corpus tokens) is spent —
    the final "cut the corpus to N tokens" step of training-data
    curation.  Quality key = integer-quantized alphabetic ratio (pure
    integer division, exact on every engine), ties broken by doc_id.

    The oracle states the semantics as one global ordered cumsum; the
    Spark plan DISTRIBUTES it: (1) per-bucket token totals (tiny
    aggregate, ≤1001 rows regardless of corpus size), (2) running total
    over that bucket histogram (single-partition window over ≤1001
    rows — bounded, not data-sized), (3) broadcast bucket prefixes back
    and rank WITHIN each bucket only (parallel window partitions).  A
    naive row_number over the whole corpus would funnel 100 TB through
    one window partition; this shape never moves more than one bucket
    through any single task."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id",
                 F.size(X.tokens("text")).alias("n_tokens"),
                 F.expr("(length(regexp_replace(text, '[^a-zA-Z]', '')) "
                        "* 1000) div greatest(length(text), 1)")
                  .alias("bucket")))
    per_bucket = d.groupBy("bucket").agg(F.sum("n_tokens").alias("btoks"))
    wb = (Window.orderBy(F.col("bucket").desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    buckets = (per_bucket
               .withColumn("prefix", F.sum("btoks").over(wb) - F.col("btoks"))
               .select("bucket", "prefix"))
    total = d.agg(F.sum("n_tokens").alias("total"))
    wd = (Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (d.withColumn("in_b", F.sum("n_tokens").over(wd))
            .join(F.broadcast(buckets), "bucket")
            .join(F.broadcast(total))
            .withColumn("cum_tokens", F.col("prefix") + F.col("in_b"))
            .filter(F.col("cum_tokens") * 2 <= F.col("total"))
            .select("doc_id", "bucket", "n_tokens", "cum_tokens"))


@register(
    "sample_epoch_mixture",
    oracle=f"""
WITH avail AS (
  SELECT lang, CAST(sum(len({_TOKS})) AS BIGINT) AS available_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(available_tokens) * 2 AS BIGINT) AS budget
        FROM avail),
w AS (
  SELECT lang, available_tokens,
         CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
                        WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                        ELSE 0.1 END AS DOUBLE) AS weight
  FROM avail)
SELECT lang, available_tokens, weight,
       CAST(floor(weight * budget) AS BIGINT) AS target_tokens,
       round(least(floor(weight * budget) / available_tokens, 4.0), 4)
         AS epochs,
       CAST(floor(least(floor(weight * budget) / available_tokens, 4.0)
                  * available_tokens) AS BIGINT) AS planned_tokens
FROM w, tot
""",
    covers=("G.sample.epochs",),
)
def q_sample_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe epoch planning (the DoReMi / LLaMA-style mixture
    table): given target domain weights and a global token budget (2×
    the corpus here, forcing some domains past one epoch), compute per
    domain the available tokens, the weighted target, the number of
    epochs (capped at 4 — the repetition ceiling after which returns
    degrade), and the planned token count.

    Scale shape: one map-side-combinable aggregate to |domains| rows,
    then constant arithmetic on a frame small enough to collect — the
    planning output is a training-run manifest, not data.  The budget
    scalar joins in via broadcast, never a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    avail = (docs.groupBy("lang")
             .agg(F.sum(F.size(X.tokens("text"))).alias("available_tokens")))
    budget = avail.agg((F.sum("available_tokens") * 2).alias("budget"))
    weight = (F.when(F.col("lang") == "en", 0.4)
              .when(F.col("lang") == "zh", 0.2)
              .when(F.col("lang") == "es", 0.15)
              .when(F.col("lang") == "fr", 0.15)
              .otherwise(0.1))
    target = F.floor(F.col("weight") * F.col("budget"))
    epochs = F.least(target / F.col("available_tokens"), F.lit(4.0))
    return (avail.withColumn("weight", weight)
            .join(F.broadcast(budget))
            .select("lang", "available_tokens", "weight",
                    target.cast("long").alias("target_tokens"),
                    F.round(epochs, 4).alias("epochs"),
                    F.floor(epochs * F.col("available_tokens"))
                     .cast("long").alias("planned_tokens")))


_URL_SYNTH_SQL = """
SELECT doc_id,
       (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
       || (CASE doc_id % 3 WHEN 0 THEN 'Example.COM'
                           WHEN 1 THEN 'docs.example.com'
                           ELSE 'example.com' END)
       || '/' || lang || '/page-' || (doc_id % 40)::VARCHAR
       || (CASE doc_id % 4
             WHEN 0 THEN ''
             WHEN 1 THEN '/'
             WHEN 2 THEN '?utm_source=feed&id=' || (doc_id % 5)::VARCHAR
             ELSE '#sec-' || (doc_id % 6)::VARCHAR END) AS url
FROM documents
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH raw AS ({_URL_SYNTH_SQL}),
canon AS (
  SELECT doc_id, url,
         regexp_extract(regexp_replace(url, '#.*$', ''),
                        '^([^/]+//[^/]+)', 1) AS sh,
         regexp_replace(regexp_replace(url, '#.*$', ''),
                        '^[^/]+//[^/]+', '') AS rest
  FROM raw
),
c2 AS (
  SELECT doc_id, url,
         lower(sh) ||
         regexp_replace(
           regexp_replace(
             regexp_replace(rest, 'utm_[a-z]+=[^&#]*&?', ''),
             '[?&]$', ''),
           '/$', '') AS canonical_url
  FROM canon
)
SELECT canonical_url,
       min(doc_id) AS kept_id,
       count(*) AS n_dupes,
       count(DISTINCT url) AS n_forms
FROM c2
GROUP BY canonical_url
""",
    covers=("G.dedup.url",),
)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every crawl
    pipeline (CommonCrawl processing dedups by canonical URL before any
    content hashing): case-fold scheme+host, strip fragments, strip
    utm_* tracking parameters (KEEPING meaningful params like id=),
    strip trailing slashes, then group by the canonical form.

    The fixture synthesizes URL variants deterministically per row
    (upper/lower scheme and host, trailing slash, tracking params,
    fragments), but the canonicalizer operates only on the URL STRING —
    the same regexp chain a production run applies to crawled URLs.
    Scale shape: per-row regexp projection (codegen) + one groupBy on
    the canonical string — identical cost profile to exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://"))
         .otherwise(F.lit("https://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("Example.COM"))
         .when(F.col("doc_id") % 3 == 1, F.lit("docs.example.com"))
         .otherwise(F.lit("example.com")),
        F.lit("/"), F.col("lang"), F.lit("/page-"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
         .when(F.col("doc_id") % 4 == 1, F.lit("/"))
         .when(F.col("doc_id") % 4 == 2,
               F.concat(F.lit("?utm_source=feed&id="),
                        (F.col("doc_id") % 5).cast("string")))
         .otherwise(F.concat(F.lit("#sec-"),
                             (F.col("doc_id") % 6).cast("string"))))
    raw = docs.select("doc_id", url.alias("url"))
    defrag = F.regexp_replace(F.col("url"), "#.*$", "")
    sh = F.regexp_extract(defrag, "^([^/]+//[^/]+)", 1)
    rest = F.regexp_replace(defrag, "^[^/]+//[^/]+", "")
    canonical = F.concat(
        F.lower(sh),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(rest, "utm_[a-z]+=[^&#]*&?", ""),
                "[?&]$", ""),
            "/$", ""))
    return (raw.select("doc_id", "url", canonical.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.min("doc_id").alias("kept_id"),
                 F.count(F.lit(1)).alias("n_dupes"),
                 F.countDistinct("url").alias("n_forms")))


@register(
    "multimodal_audio_fingerprint",
    oracle="""
WITH base AS (
  SELECT doc_id, 50 + length(text) % 100 AS nf,
         CAST(1 + doc_id % 2 AS BIGINT) AS ch
  FROM documents
),
w AS (
  SELECT doc_id, nf, ch, unnest(range(0, (nf + 24) // 25)) AS win
  FROM base
),
e AS (
  SELECT doc_id, win,
         list_aggregate([abs((doc_id * 7 + i) % 251 - 125)
                         for i in range(win * 25 * ch,
                                        least((win + 1) * 25, nf) * ch)],
                        'sum') AS energy
  FROM w
),
t AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
         CAST(sum(energy) AS BIGINT) AS total_energy
  FROM e GROUP BY doc_id
)
SELECT t.doc_id, n_windows, total_energy,
       string_agg(CASE WHEN e.energy * n_windows >= total_energy
                       THEN '1' ELSE '0' END, '' ORDER BY e.win) AS fp_bits
FROM e JOIN t ON e.doc_id = t.doc_id
GROUP BY t.doc_id, n_windows, total_energy
""",
    covers=("G.multimodal.audio_fp",),
)
def q_multimodal_audio_fingerprint(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Acoustic fingerprint over REAL WAV payloads
    (operators/multimodal.py audio_fingerprint): synthesize genuine
    RIFF/WAVE files (with_wav_payload), then decode the PCM stream and
    emit a per-window energy bit string — the audio analogue of SimHash,
    group-by-able for audio dedup.  The oracle recomputes the expected
    bits from the synthesis formula directly in SQL, so any mis-parse of
    channel interleaving, frame windows, or sample sign flips the bit
    string and hash-mismatches."""
    mm = M.with_wav_payload(load_table(spark, sf_dir, "documents"))
    return M.audio_fingerprint(mm, frames_per_window=25)


@register(
    "dedup_paragraph_rewrite",
    oracle=f"""
WITH t AS (
  SELECT doc_id, toks AS l FROM (SELECT doc_id, {_TOKS} AS toks
                                 FROM documents)
  WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id, u.pos AS pos, u.chunk AS chunk
  FROM (SELECT doc_id,
               unnest([{{'pos': i,
                        'chunk': array_to_string(
                            list_slice(l, i * 20 + 1, i * 20 + 20), ' ')}}
                       for i in range(0, (len(l) - 1) // 20 + 1)]) AS u
        FROM t)
),
rk AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY chunk
                            ORDER BY doc_id, pos) AS rk
  FROM ch
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(chunk, ' ' ORDER BY pos)) AS new_md5
  FROM rk WHERE rk = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, (len(l) - 1) // 20 + 1 AS n_chunks FROM t)
SELECT tot.doc_id, n_chunks,
       coalesce(n_kept, 0) AS n_kept,
       n_chunks - coalesce(n_kept, 0) AS n_removed,
       coalesce(new_md5, '') AS new_md5
FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
""",
    covers=("G.dedup.paragraph_rewrite",),
)
def q_dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup WITH reconstruction (the Lee et al. "Dedup-
    licating Training Data Makes Language Models Better" pipeline shape):
    cut each doc into fixed 20-token chunks, keep only each chunk's FIRST
    corpus occurrence (global order: doc_id, then position), and rebuild
    every document from its surviving chunks — emitting kept/removed
    counts and the md5 of the rewritten text so the reconstruction is
    value-checkable, not just counted.

    Scale shape: the only corpus-sized shuffle keys on chunk text
    (hash-even); first-occurrence-wins is a per-chunk window (bounded by
    a chunk's duplication count, never corpus-wide), and reassembly
    shuffles (doc_id, pos, chunk) once.  The chunk length knob trades
    recall for chunk-frame size exactly as in dedup_chunks."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select("doc_id", X.tokens("text").alias("l"))
         .filter(F.size("l") > 0))
    n_chunks = (F.floor((F.size("l") - 1) / 20) + 1).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(F.slice(F.col("l"), i * 20 + 1, F.lit(20)),
                               " "))
    ch = t.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    kept = (ch.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1))
    reb = (kept.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.md5(F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("pos", "chunk"))),
                        lambda s: s["chunk"]),
                    " ").cast("binary")).alias("new_md5")))
    tot = t.select("doc_id", n_chunks.alias("n_chunks"))
    return (tot.join(reb, "doc_id", "left")
            .select("doc_id", "n_chunks",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0)))
                    .alias("n_removed"),
                    F.coalesce("new_md5", F.lit("")).alias("new_md5")))


@register(
    "quality_adaptive_threshold",
    oracle="""
WITH s AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
           / greatest(length(text), 1) AS score
  FROM documents
),
t AS (SELECT quantile_cont(score, 0.1) AS thr FROM s)
SELECT doc_id, round(score, 6) AS score, round(thr, 6) AS thr
FROM s, t
WHERE score > thr
""",
    covers=("G.quality.adaptive",),
)
def q_quality_adaptive_threshold(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Adaptive quality filtering: instead of a fixed cutoff, drop the
    bottom decile of the corpus by quality score — the data-dependent
    thresholding real pipelines use so one knob survives distribution
    shift between crawls.  The threshold is the exact interpolated 10th
    percentile (Spark ``percentile`` == DuckDB ``quantile_cont``
    semantics); the score is pure rational arithmetic so the filter
    comparison is engine-exact.

    Scale shape: one aggregate to a single threshold row (exact
    percentile shuffles per-partition sorted runs of the score column
    only), broadcast back over the corpus scan — two passes over one
    double column, no corpus-wide sort.  At 100 TB swap the exact
    percentile for approx_percentile and the plan is identical."""
    docs = load_table(spark, sf_dir, "documents")
    score = (F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
             / F.greatest(F.length("text"), F.lit(1)))
    s = docs.select("doc_id", score.alias("score"))
    thr = s.agg(F.expr("percentile(score, 0.1)").alias("thr"))
    return (s.join(F.broadcast(thr))
            .filter(F.col("score") > F.col("thr"))
            .select("doc_id", F.round("score", 6).alias("score"),
                    F.round("thr", 6).alias("thr")))


def _minhash_incremental_sql(k: int = 16, bands: int = 4) -> str:
    rpb = k // bands
    coeffs = minhash_coeffs(k)
    sig_cols = ",\n         ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) AS h{j}"
        for j, (a, b) in enumerate(coeffs))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT sid, {b} AS band_idx, md5(concat_ws('-', "
        + ", ".join(f"h{j}::VARCHAR" for j in range(b * rpb, (b + 1) * rpb))
        + ")) AS band_hash FROM sig"
        for b in range(bands))
    return ("WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
hashed AS (SELECT sid, {sql_md5_long('shingle')} % {MERSENNE_P} AS h FROM sh),
sig AS (
  SELECT sid,
         {sig_cols}
  FROM hashed GROUP BY sid
),
banded AS (
{band_selects}
),
m AS (
  SELECT n.sid, CAST(count(DISTINCT o.sid) AS BIGINT) AS n_index_matches
  FROM (SELECT * FROM banded WHERE sid >= 1000000) n
  JOIN (SELECT * FROM banded WHERE sid < 1000000) o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  GROUP BY n.sid
)
SELECT c.doc_id, coalesce(m.n_index_matches, 0) AS n_index_matches,
       coalesce(m.n_index_matches, 0) > 0 AS dropped
FROM (SELECT DISTINCT doc_id FROM corpus WHERE doc_id >= 1000000) c
LEFT JOIN m ON c.doc_id = m.sid
""")


@register("dedup_incremental_minhash", oracle=_minhash_incremental_sql(),
          covers=("G.dedup.incremental_minhash",))
def q_dedup_incremental_minhash(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest gate: probe a new batch's MinHash-LSH
    bands against the already-indexed corpus and drop new docs that
    collide — the production shape of "don't re-ingest what we almost
    have" (dedup_incremental is the exact-digest analogue; this catches
    the mutated re-crawls digests miss).

    The index side is exactly the (sid, band_idx, band_hash) frame a
    standing corpus index stores; the probe is one equi-join from the
    (small) new batch against it — at 100 TB the index is bucketed by
    (band_idx, band_hash) on disk (BOTH join keys: bucketing on a
    subset gets disabled by the planner) and the probe's join reads the
    index buckets in place, never a corpus self-join — plan-shape-proven
    by tests/test_bucketing.py
    test_band_index_bucketed_probe_is_index_side_shuffle_free.
    New batch here = the corpus builder's mutated +
    exact copies (ids >= 1e6); the index = the originals."""
    corpus = _doc_corpus(spark, sf_dir)
    # The band frame IS the standing index: materialize it once (it
    # feeds both the probe and index sides of the self-join; the lazy
    # form re-ran the whole minhash pipeline per side).
    banded_build = D.lsh_bands(corpus, k=16, bands=4)
    banded = materialize_shared(banded_build)
    newb = banded.filter(F.col("sid") >= 1_000_000).alias("n")
    oldb = banded.filter(F.col("sid") < 1_000_000).alias("o")
    m = (newb.join(oldb,
                   (F.col("n.band_idx") == F.col("o.band_idx"))
                   & (F.col("n.band_hash") == F.col("o.band_hash")))
         .groupBy(F.col("n.sid").alias("doc_id"))
         .agg(F.countDistinct(F.col("o.sid")).alias("n_index_matches")))
    news = (corpus.filter(F.col("doc_id") >= 1_000_000)
            .select("doc_id").distinct())
    return (news.join(m, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_index_matches", F.lit(0))
                     .alias("n_index_matches"),
                    (F.coalesce("n_index_matches", F.lit(0)) > 0)
                    .alias("dropped")))


_SEMDEDUP_SQL = (
    "WITH " + _EMB_CORPUS_CTE + ",\n" + _kmeans_cells_ctes("ecorpus")
    + f""",
pairs AS (
  SELECT a.neighbor_id AS vec_a, b.neighbor_id AS vec_b, a.cell,
         list_cosine_similarity(a.cv, b.cv) AS cs
  FROM c_assign a JOIN c_assign b
    ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id
)
SELECT vec_a, vec_b, cell, round(cs, 6) AS cosine_sim
FROM pairs WHERE cs >= {_NEARDUP_T}
""")


@register("dedup_semantic", oracle=_SEMDEDUP_SQL,
          covers=("G.dedup.semantic",))
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the perturbed embedding corpus: learned k-means
    cells (operators/similarity.py semantic_dedup_pairs; deterministic
    training the oracle replays in SQL), then exact cosine only WITHIN
    cells — semantic near-dups that n-gram/MinHash can never see, at
    Σ|cell|² cost instead of n².  The companion to dedup_embedding_cosine
    (hyperplane-LSH blocking): k-means cells give balanced blocks and
    double as the IVF index cells, so the dedup pass and the ANN index
    share one training run."""
    return S.semantic_dedup_pairs(_emb_corpus(spark, sf_dir), _NEARDUP_T)


#: Fixed BPE merge table (learned offline by text_bpe_pair_counts-style
#: rounds over this corpus; chained merges build "table" end-to-end).
_BPE_MERGES = [("e", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
               ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e")]
_BPE_SEP = "\x1f"


def _bpe_sql_encode(w: str) -> str:
    """DuckDB rendering of the anchored symbol-sequence merge chain."""
    s = (f"chr(31) || array_to_string("
         f"list_filter(string_split({w}, ''), c -> c <> ''), chr(31))")
    for a, b in _BPE_MERGES:
        s = (f"replace({s}, chr(31)||'{a}'||chr(31)||'{b}', "
             f"chr(31)||'{a}{b}')")
    return s


def _bpe_spark_encode(w):
    """Spark rendering of the same chain (identical replace semantics:
    all occurrences, left-to-right, non-overlapping)."""
    chars = F.filter(F.split(w, "(?!^)"), lambda c: c != "")
    s = F.concat(F.lit(_BPE_SEP), F.array_join(chars, _BPE_SEP))
    for a, b in _BPE_MERGES:
        s = F.replace(s, F.lit(_BPE_SEP + a + _BPE_SEP + b),
                      F.lit(_BPE_SEP + a + b))
    return s


@register(
    "text_bpe_apply",
    oracle=f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)
         AS n_chars,
       CAST(list_sum(list_transform(toks, w ->
              len(string_split({_bpe_sql_encode('w')}, chr(31))) - 1))
            AS BIGINT) AS n_tokens_bpe,
       round(list_sum(list_transform(toks, w -> length(w))) * 1.0
             / list_sum(list_transform(toks, w ->
                 len(string_split({_bpe_sql_encode('w')}, chr(31))) - 1)), 4)
         AS chars_per_token
FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
""",
    covers=("G.text.bpe_apply",),
)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with a fixed merge table — the other half of tokenizer
    training (text_bpe_pair_counts learns the merges; this applies them
    to measure real token counts, the number every data-budget decision
    downstream consumes).  Each word becomes a leading-separator symbol
    string and the merge table applies as a chain of anchored literal
    replaces — merges only fire at symbol boundaries, and chained merges
    compose (t+a, ta+b, tab+l, tabl+e collapses "table" to ONE token).
    tests/test_llm_operators.py proves the chain equals a reference
    iterative BPE encoder over the corpus vocabulary.

    Scale shape: pure per-row expression work inside one projection —
    the whole encode is codegen'd string replaces, zero shuffles, no
    UDF; a 100k-merge production table compiles to the same shape (or
    moves to a broadcast trie in a pandas UDF past the expression-depth
    limit, same plan otherwise)."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")

    def n_syms(w):
        return F.size(F.split(_bpe_spark_encode(w), _BPE_SEP)) - 1

    n_chars = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    n_bpe = F.aggregate(toks, F.lit(0), lambda acc, w: acc + n_syms(w))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        n_bpe.cast("long").alias("n_tokens_bpe"),
        F.round(n_chars / n_bpe, 4).alias("chars_per_token"))


# ---------------------------------------------------------------------------
# Bloom-gated incremental ingest (explicit distributed bloom filter)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits; ~10 bits/key at the fixture's ~400 existing digests
_BLOOM_K = 4


@register(
    "dedup_bloom_incremental",
    oracle="""
WITH existing AS (
  SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id < 300
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 200
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, text FROM documents WHERE doc_id < 100
)
SELECT b.doc_id, md5(b.text) AS content_md5
FROM batch b LEFT JOIN existing e ON md5(b.text) = e.content_md5
WHERE e.content_md5 IS NULL
""",
    covers=("G.dedup.bloom_incremental",),
)
def q_dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup with an EXPLICIT bloom pre-filter
    (operators/bloom.py): build a bit-set over the ingested digest set,
    broadcast it (one map row), and split the new batch on the probe —
    rows the bloom has never seen are new BY CONSTRUCTION (no false
    negatives) and skip the join entirely; only the might-contain
    candidates pay the exact anti-join.  The result is therefore exactly
    the plain anti-join (the oracle), but the expensive join's probe side
    shrinks from |batch| to |true dups| + |false positives|.

    Why this beats dedup_incremental's shape at 100 TB: there the whole
    batch shuffles against the digest table; here the digest table folds
    once into an m-bit filter (shuffle bounded by m/64 words, independent
    of corpus size) and the bulk of a mostly-novel batch never shuffles
    at all.  Spark's own bloom_filter_agg is optimizer-internal (proven
    injected in tests/test_bucketing.py); this is the same idea exposed
    as an explicit, composable operator.
    """
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    existing = (d.filter(F.col("doc_id") < 300)
                .select(digest.alias("content_md5")).distinct())
    # The bloom frame is ONE row but its build folds the whole digest
    # set; both probe branches (fresh + verified) reference it, so the
    # lazy form ran the corpus fold twice — materialize the single row.
    bloom_build_df = B.bloom_build(existing, "content_md5",
                                   _BLOOM_M, _BLOOM_K)
    bloom = materialize_shared(bloom_build_df)
    batch = (d.filter(F.col("doc_id") >= 200)
             .select("doc_id", digest.alias("content_md5"))
             .unionByName(
                 d.filter(F.col("doc_id") < 100)
                 .select((F.col("doc_id") + 4_000_000).alias("doc_id"),
                         digest.alias("content_md5"))))
    probed = batch.join(F.broadcast(bloom)).withColumn(
        "maybe_dup",
        B.bloom_might_contain(F.col("bloom"), F.col("content_md5"),
                              _BLOOM_M, _BLOOM_K))
    fresh = (probed.filter(~F.col("maybe_dup"))
             .select("doc_id", "content_md5"))
    verified = (probed.filter(F.col("maybe_dup"))
                .select("doc_id", "content_md5")
                .join(existing, "content_md5", "left_anti")
                .select("doc_id", "content_md5"))
    return fresh.unionByName(verified)


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring (CCNet-style perplexity bucketing)
# ---------------------------------------------------------------------------

_JM_LAMBDA = "0.75"  # literal shared by plan and oracle


@register(
    "text_bigram_lm",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
tot AS (SELECT sum(c1) AS n FROM uni),
big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
),
big_c AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
)
SELECT b.doc_id,
       round(avg(-ln({_JM_LAMBDA} * bc.c2 * 1.0 / u1.c1
                     + (1 - {_JM_LAMBDA}) * u2.c1 * 1.0 / tot.n)), 4)
         AS bigram_lm_score,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM big b
JOIN big_c bc USING (w1, w2)
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN tot
GROUP BY b.doc_id
""",
    covers=("G.text.bigram_lm",),
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM score — the KenLM-perplexity
    quality signal CCNet-style pipelines bucket web corpora by, one order
    up from q_text_lm_score's unigram proxy:
    score(doc) = mean over adjacent pairs of
    -ln( λ·p(w2|w1) + (1-λ)·p(w2) ), counts from the corpus itself.

    Spark shape: bigrams are built IN-ROW (zip_with over two slices of
    the token array — zero shuffle) then exploded once.  The bigram and
    unigram count tables are corpus-level aggregates orders of magnitude
    smaller than the token stream (they shuffle |vocab| partial rows,
    map-side combined); scoring joins broadcast them back, so the only
    full-data shuffle is the final doc_id aggregation.  At 100 TB the
    bigram table may outgrow a broadcast — the join then degrades to a
    shuffle on the (w1,w2) key while everything else keeps its shape.
    """
    return (_bigram_scores(spark, sf_dir)
            .select("doc_id", F.round("s", 4).alias("bigram_lm_score"),
                    "n_bigrams"))


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram features)
# ---------------------------------------------------------------------------

_DSIR_B = 256          # feature hash buckets
_DSIR_TAKE = 100       # resampled docs
_DSIR_U_M = 1_000_000  # deterministic-uniform grid for the Gumbel draw


@register(
    "sample_dsir",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, source, f FROM (
    SELECT doc_id, source, unnest(toks) AS f FROM t
    UNION ALL
    SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
    FROM (SELECT doc_id, source, toks,
                 unnest(generate_series(1, len(toks) - 1)) AS i FROM t))
),
b AS (SELECT doc_id, source,
             {sql_md5_long('f')} % {_DSIR_B} AS bkt FROM feats),
ct AS (SELECT bkt, count(*) AS c FROM b WHERE source = 'src0' GROUP BY bkt),
cr AS (SELECT bkt, count(*) AS c FROM b GROUP BY bkt),
nt AS (SELECT count(*) AS n FROM b WHERE source = 'src0'),
nr AS (SELECT count(*) AS n FROM b),
w AS (
  SELECT cr.bkt,
         ln((coalesce(ct.c, 0) + 1.0) / (nt.n + {_DSIR_B}))
           - ln((cr.c + 1.0) / (nr.n + {_DSIR_B})) AS lw
  FROM cr LEFT JOIN ct USING (bkt) CROSS JOIN nt CROSS JOIN nr
),
scored AS (
  SELECT b.doc_id, sum(w.lw) AS logw FROM b JOIN w USING (bkt)
  GROUP BY b.doc_id
),
keyed AS (
  SELECT doc_id, logw,
         logw - ln(-ln((({sql_md5_long('CAST(doc_id AS VARCHAR)')}
                          % {_DSIR_U_M}) + 0.5) / {_DSIR_U_M})) AS k
  FROM scored
)
SELECT doc_id, round(logw, 4) AS logw
FROM keyed ORDER BY k DESC, doc_id LIMIT {_DSIR_TAKE}
""",
    covers=("G.sample.dsir",),
)
def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    pick raw-corpus documents that look like a target domain by importance
    weighting in a hashed n-gram feature space, then Gumbel-top-k
    resampling.  Target here = the fixture's 'src0' slice; features =
    unigrams + bigrams hashed into 256 buckets; weights are add-1
    smoothed log-ratios ln p_target(b) - ln p_raw(b); the Gumbel noise is
    DETERMINISTIC (inverse-CDF over an md5-derived uniform) so the oracle
    replays the exact draw.

    Spark shape: features build in-row (token array + zip_with bigrams)
    and explode once; the bucket-count table is one 256-row map-side
    combined aggregate (global totals fold from IT, not from another
    corpus pass); the weight table broadcasts back onto the
    feature stream, so the only full-data shuffles are the doc_id sum and
    the global top-k (TakeOrdered — no full sort materializes).  Exactly
    the published algorithm's shape: the expensive pass is embarrassingly
    parallel feature hashing.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_t = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n_t - 1), F.slice(toks, 2, n_t - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    feats_build = (d.select("doc_id", "source",
                            F.explode(F.concat(toks, bigrams)).alias("f"))
                   .select("doc_id", "source",
                           F.pmod(md5_long(F.col("f")), F.lit(_DSIR_B))
                           .alias("bkt")))
    # The hashed feature stream feeds BOTH the bucket-count aggregate
    # and the per-doc scoring join; Catalyst shares no subplans, so the
    # lazy form re-ran the explode + md5 pass per consumer (measured
    # 2.9s -> 1.9s warm at sf0.1 with the checkpoint).  At 100 TB this
    # is the standard recompute-vs-store trade: the exploded stream is
    # bigger than the corpus, so prefer persist(DISK_ONLY) or recompute
    # when executor storage is the constraint.
    feats = materialize_shared(feats_build)
    is_t = (F.col("source") == "src0").cast("long")
    counts = (feats.groupBy("bkt")
              .agg(F.sum(is_t).alias("ct"), F.count(F.lit(1)).alias("cr")))
    # totals fold from the 256-row counts table — the naive feats.agg
    # re-ran the whole explode+hash feature pass a third time for two
    # integers that are just column sums of counts (identical values)
    totals = counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    w = (counts.join(F.broadcast(totals))
         .select("bkt",
                 (F.log((F.col("ct") + 1.0) / (F.col("nt") + _DSIR_B))
                  - F.log((F.col("cr") + 1.0) / (F.col("nr") + _DSIR_B)))
                 .alias("lw")))
    scored = (feats.join(F.broadcast(w), "bkt")
              .groupBy("doc_id").agg(F.sum("lw").alias("logw")))
    u = (F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(_DSIR_U_M))
         + 0.5) / _DSIR_U_M
    keyed = scored.withColumn("k", F.col("logw") - F.log(-F.log(u)))
    return (keyed.orderBy(F.col("k").desc(), "doc_id").limit(_DSIR_TAKE)
            .select("doc_id", F.round("logw", 4).alias("logw")))


# ---------------------------------------------------------------------------
# Embedding covariance / PCA (one-pass Gramian)
# ---------------------------------------------------------------------------

_EMB_D = 64


@register(
    "embedding_covariance",
    oracle=f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
n AS (SELECT count(*) AS c FROM embeddings)
SELECT a.i AS i, b.i AS j,
       round(sum(a.v * b.v) / n.c - avg(a.v) * avg(b.v), 6) + 0.0 AS cov
FROM x a JOIN x b USING (vec_id) CROSS JOIN n
GROUP BY a.i, b.i, n.c
""",
    covers=("G.embedding.covariance",),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding corpus as (i, j, cov) rows —
    the statistic behind PCA whitening, OPQ rotations, and drift
    monitoring over embedding tables.

    Spark shape (operators/linalg.py): each partition folds its vectors
    into ONE d x d partial via Arrow-batched numpy BLAS and emits
    d^2 + d + 1 rows; a groupBy(i,j) sum combines partials.  Shuffle
    volume is partitions * d^2 — independent of corpus size — where the
    oracle's explode-and-self-join form shuffles n * d^2 rows (the reason
    it is the oracle, not the engine path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return L.covariance(emb, "embedding", _EMB_D, decimals=6)


@register("embedding_pca_variance",
          oracle=PINNED_ORACLES["embedding_pca_variance"],
          covers=("G.embedding.pca",))
def q_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA eigenvalues + explained-variance ratios over the
    embedding corpus: the one-pass distributed Gramian reduces to a
    bounded d x d matrix; numpy eigh finishes on the driver (O(d^3),
    corpus never re-read).  DuckDB has no eigensolver, so the oracle is
    pinned constants (the eigenvalues are a deterministic function of
    the exactly-checked covariance; scripts/gen_pinned_oracles.py
    regenerates); tests/test_llm_operators.py cross-checks against a
    direct numpy covariance of the same fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    return L.pca_eigh(emb, "embedding", _EMB_D, top=8)


# ---------------------------------------------------------------------------
# Distributed BPE training loop (k merge rounds)
# ---------------------------------------------------------------------------

_BPE_TRAIN_ITERS = 6


def _bpe_train_oracle(iters: int) -> str:
    """Unrolled SQL mirror of the BPE training loop.  Each round's winner
    is data-dependent, so round r's segmentation applies rounds 1..r-1's
    winners as scalar-subquery replaces — the fixed round count makes the
    whole loop one (deep) SQL expression.  Every CTE is MATERIALIZED:
    round r's segmentation references all prior w{{j}} winners and each
    w{{r}} is read by every later round, so default inlining re-expanded
    the whole prefix chain multiplicatively per round (the
    sample_kcenter oracle lesson) — measured 5.2s -> 0.27s at sf0.01."""
    base = ("chr(31) || array_to_string("
            "list_filter(string_split(w, ''), c -> c <> ''), chr(31))")
    parts = ["WITH toks AS MATERIALIZED "
             f"(SELECT unnest({_TOKS}) AS w FROM documents)"]
    for r in range(1, iters + 1):
        seg = base
        for j in range(1, r):
            seg = (f"replace({seg}, "
                   f"(SELECT chr(31)||a||chr(31)||b FROM w{j}), "
                   f"(SELECT chr(31)||a||b FROM w{j}))")
        parts.append(f""",
s{r} AS MATERIALIZED (
  SELECT list_filter(string_split({seg}, chr(31)), x -> x <> '') AS sy
  FROM toks),
p{r} AS MATERIALIZED (
  SELECT sy[i] AS a, sy[i + 1] AS b
  FROM s{r}, generate_series(1, 64) AS g(i)
  WHERE i <= len(sy) - 1),
w{r} AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM p{r}
  GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)""")
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, a, b, n FROM w{r}"
        for r in range(1, iters + 1))
    parts.append("\n" + unions)
    return "".join(parts)


def _bpe_seg(w, merges):
    """Symbol-sequence segmentation of a word under a merge list — the
    dynamic-merge generalization of _bpe_spark_encode."""
    chars = F.filter(F.split(w, "(?!^)"), lambda c: c != "")
    s = F.concat(F.lit(_BPE_SEP), F.array_join(chars, _BPE_SEP))
    for a, b in merges:
        s = F.replace(s, F.lit(_BPE_SEP + a + _BPE_SEP + b),
                      F.lit(_BPE_SEP + a + b))
    return s


@register("text_bpe_train", oracle=_bpe_train_oracle(_BPE_TRAIN_ITERS),
          covers=("G.text.bpe_train",))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL distributed BPE training loop — text_bpe_pair_counts is
    one round; this runs 6, each picking the corpus-wide most frequent
    adjacent symbol pair (ties -> lexicographic) and merging it before
    the next count.  Output is the learned merge table (rank, a, b, n) —
    the artifact text_bpe_apply consumes.

    Spark shape per round: segmentation is an in-row replace chain over
    the cached token stream (codegen, zero shuffle — recomputed from raw
    words each round so no lineage growth), pair counts are one
    map-side-combined groupBy bounded by the symbol vocabulary squared,
    and the winner is a 1-row TakeOrdered driver action (the same
    bounded-artifact collect as k-means centroids).  6 rounds = 6 corpus
    passes; at 100 TB the token stream would persist on disk-backed
    storage and the passes pipeline over it unchanged.  The oracle
    unrolls the data-dependent loop as scalar-subquery replaces."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(X.tokens("text")).alias("w"))
    words = words.persist()
    try:
        merges: list[tuple[str, str]] = []
        out: list[tuple[int, str, str, int]] = []
        for r in range(_BPE_TRAIN_ITERS):
            syms = F.filter(F.split(_bpe_seg(F.col("w"), merges), _BPE_SEP),
                            lambda c: c != "")
            n_s = F.size(syms)
            pairs = F.zip_with(
                F.slice(syms, 1, n_s - 1), F.slice(syms, 2, n_s - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")))
            counts = (words.select(F.explode(pairs).alias("p"))
                      .groupBy(F.col("p.a").alias("a"),
                               F.col("p.b").alias("b"))
                      .agg(F.count(F.lit(1)).alias("n"))
                      .orderBy(F.col("n").desc(), "a", "b"))
            capture_plan_segment(counts)  # per-round plan for the audit
            win = counts.first()
            merges.append((win.a, win.b))
            out.append((r + 1, win.a, win.b, win.n))
        return spark.createDataFrame(
            out, "rank int, a string, b string, n bigint")
    finally:
        words.unpersist()


_BIGRAM_SCORE_SQL = f"""
  WITH t AS (
    SELECT doc_id, n_chars,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ),
  uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c1
    FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
  ),
  tot AS (SELECT sum(c1) AS n FROM uni),
  big AS (
    SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
  ),
  big_c AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
  ),
  scores AS (
    SELECT b.doc_id,
           avg(-ln({_JM_LAMBDA} * bc.c2 * 1.0 / u1.c1
                   + (1 - {_JM_LAMBDA}) * u2.c1 * 1.0 / tot.n)) AS s
    FROM big b
    JOIN big_c bc USING (w1, w2)
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w
    CROSS JOIN tot
    GROUP BY b.doc_id
  )
"""


def _bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, n_bigrams) — unrounded JM bigram LM score, the shared
    subplan behind text_bigram_lm and quality_ppl_buckets."""
    lam = float(_JM_LAMBDA)
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n_t = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n_t - 1), F.slice(toks, 2, n_t - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    big = (d.select("doc_id", F.explode(pairs).alias("p"))
           .select("doc_id", F.col("p.w1").alias("w1"),
                   F.col("p.w2").alias("w2")))
    uni = (d.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
    tot = d.agg(F.sum(F.size(toks)).alias("n"))
    big_c = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p = (F.lit(lam) * F.col("c2") / F.col("u1c")
         + F.lit(1 - lam) * F.col("u2c") / F.col("n"))
    # No broadcast hints on the count tables: big_c is bigram-vocab-
    # sized and uni is vocab-sized — AQE broadcasts them while they fit
    # and degrades to shuffle joins past that (the docstring's promised
    # behavior, which an explicit hint would turn into an OOM instead)
    return (big
            .join(big_c, ["w1", "w2"])
            .join(uni.select(F.col("w").alias("w1"),
                             F.col("c1").alias("u1c")), "w1")
            .join(uni.select(F.col("w").alias("w2"),
                             F.col("c1").alias("u2c")), "w2")
            .join(F.broadcast(tot))
            .groupBy("doc_id").agg(F.avg(-F.log(p)).alias("s"),
                                   F.count(F.lit(1)).alias("n_bigrams")))


@register(
    "quality_ppl_buckets",
    oracle=_BIGRAM_SCORE_SQL + """,
  th AS (
    SELECT quantile_cont(s, 1.0/3) AS t1, quantile_cont(s, 2.0/3) AS t2
    FROM scores
  ),
  bucketed AS (
    SELECT d.doc_id, d.n_chars, sc.s,
           CASE WHEN sc.s <= th.t1 THEN 'head'
                WHEN sc.s <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM documents d JOIN scores sc USING (doc_id) CROSS JOIN th
  )
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(s), 4) AS avg_score,
       round(avg(n_chars), 2) AS avg_chars
FROM bucketed GROUP BY bucket
""",
    covers=("G.quality.ppl_buckets",),
)
def q_quality_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: split the corpus into
    head / middle / tail terciles of the bigram-LM score (low score =
    model-familiar text) and report per-bucket volume and stats — the
    standard mixture knob for weighting clean vs diverse web data.

    Spark shape: scores reuse _bigram_scores (broadcast count tables,
    one doc_id shuffle); the tercile thresholds are ONE exact-percentile
    row broadcast back (at 100 TB swap percentile -> approx_percentile
    and the plan is identical with a sketch instead of a sort); the
    bucket label is a codegen CASE, and the final aggregate is 3 rows.
    Thresholds are interpolated between distinct score values (n not
    divisible by 3), so the boundary comparison is float-stable across
    engines.

    The score frame is referenced twice (threshold aggregate + the
    bucketing re-join) and Catalyst does not share subplans, so without
    materialization the whole bigram pipeline ran twice (audited 12
    shuffles -> 7).  It is doc-count-sized — orders of magnitude under
    the token streams that produce it — so one shared
    materialization (conf-selected strategy: lazy persist by default,
    eager under the bench's MATERIALIZE_CONF) is the cheap fix."""
    d = load_table(spark, sf_dir, "documents")
    scores_build = _bigram_scores(spark, sf_dir)
    scores = materialize_shared(scores_build)
    th = scores.agg(
        F.percentile("s", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("s", F.lit(2.0 / 3)).alias("t2"))
    bucketed = (d.select("doc_id", "n_chars")
                .join(scores, "doc_id")
                .join(F.broadcast(th))
                .withColumn("bucket",
                            F.when(F.col("s") <= F.col("t1"), "head")
                            .when(F.col("s") <= F.col("t2"), "middle")
                            .otherwise("tail")))
    return (bucketed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("s"), 4).alias("avg_score"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars")))


@register(
    "dedup_suffix_prefix",
    oracle="""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
),
-- deterministic "page 2" docs: first 16 tokens = doc d's last 16 tokens
stitched AS (
  SELECT doc_id + 5000000 AS doc_id,
         array_to_string(toks[len(toks) - 15:len(toks)], ' ')
           || ' pad pad pad pad pad pad pad pad pad pad pad pad pad pad pad pad'
           AS text
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
        FROM documents WHERE doc_id < 20)
  WHERE len(toks) >= 16
),
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM (SELECT * FROM base UNION ALL SELECT * FROM stitched)
),
ends AS (
  SELECT doc_id,
         md5(array_to_string(toks[1:16], ' ')) AS prefix_md5,
         md5(array_to_string(toks[len(toks) - 15:len(toks)], ' '))
           AS suffix_md5
  FROM t WHERE len(toks) >= 16
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id
FROM ends a JOIN ends b
  ON a.suffix_md5 = b.prefix_md5 AND a.doc_id <> b.doc_id
""",
    covers=("G.dedup.suffix_prefix",),
)
def q_dedup_suffix_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination-stitch detection: doc A's trailing 16 tokens equal doc
    B's leading 16 tokens — the signature of one source page split
    across crawl records (each pair is a candidate for re-joining or
    overlap-trimming before training).  Exactly the overlap class that
    whole-doc hashing, MinHash, and even windowed substring dedup
    under-rank, because the shared span is a tiny fraction of each doc.
    The fixture corpus has no natural stitches, so a deterministic
    "page 2" copy of the first 20 docs (their last 16 tokens + filler)
    is unioned in on BOTH engines — the join provably fires.

    Spark shape: one projection computes both end-hashes IN-ROW (slice +
    concat_ws + md5 — codegen, zero shuffle), then a single
    suffix-hash = prefix-hash equi-join; output is bounded by true
    stitch pairs, never pairwise in corpus size.  16-byte join keys, so
    at 100 TB the shuffle carries two digests per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n = F.size(toks)
    pad = " ".join(["pad"] * 16)
    stitched = (docs.filter((F.col("doc_id") < 20) & (n >= 16))
                .select((F.col("doc_id") + 5_000_000).alias("doc_id"),
                        F.concat(F.concat_ws(" ", F.slice(toks, n - 15, 16)),
                                 F.lit(" " + pad)).alias("text")))
    d = (docs.filter(F.col("doc_id") < 300).select("doc_id", "text")
         .unionByName(stitched))
    ends = (d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 16)).cast("binary"))
         .alias("prefix_md5"),
        F.md5(F.concat_ws(" ", F.slice(toks, n - 15, 16)).cast("binary"))
         .alias("suffix_md5"))
        .where(n >= 16))
    a = ends.select(F.col("doc_id").alias("left_id"),
                    F.col("suffix_md5").alias("h"))
    b = ends.select(F.col("doc_id").alias("right_id"),
                    F.col("prefix_md5").alias("h"))
    return (a.join(b, "h")
            .where(F.col("left_id") != F.col("right_id"))
            .select("left_id", "right_id"))


@register(
    "quality_mixture_kl",
    oracle="""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_docs) AS nd, sum(n_chars) AS nc FROM c)
SELECT c.source, c.n_docs,
       round(c.n_docs * 1.0 / tot.nd, 6) AS doc_share,
       round(c.n_chars * 1.0 / tot.nc, 6) AS char_share,
       round((c.n_chars * 1.0 / tot.nc)
             * ln((c.n_chars * 1.0 / tot.nc)
                  / (c.n_docs * 1.0 / tot.nd)), 6) + 0.0 AS kl_term
FROM c CROSS JOIN tot
""",
    covers=("G.quality.mixture_kl",),
)
def q_quality_mixture_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture balance report: per-source document and character
    shares plus each source's KL(char-mass ‖ doc-mass) contribution —
    the drift statistic mixture-weighting pipelines watch (a source
    whose byte share runs ahead of its document share dominates training
    more than its sampling weight suggests).

    Spark shape: one map-side-combined groupBy(source) carrying two sums,
    a 1-row total broadcast back, all arithmetic codegen.  Per-source
    cardinality is tiny at any corpus size, so the report costs one scan
    + one |sources|-row shuffle at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"))
    tot = c.agg(F.sum("n_docs").alias("nd"), F.sum("n_chars").alias("nc"))
    doc_share = F.col("n_docs") / F.col("nd")
    char_share = F.col("n_chars") / F.col("nc")
    return (c.join(F.broadcast(tot))
            .select("source", "n_docs",
                    F.round(doc_share, 6).alias("doc_share"),
                    F.round(char_share, 6).alias("char_share"),
                    (F.round(char_share * F.log(char_share / doc_share), 6)
                     + F.lit(0.0)).alias("kl_term")))


@register("multimodal_phash_pairs",
          oracle=PINNED_ORACLES["multimodal_phash_pairs"],
          covers=("G.multimodal.phash",))
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual hash: 64-bit average-hash per
    payload (operators/multimodal.py image_phash — deterministic
    stand-in decode, real-codec swap point documented) joined through
    the SAME lossless pigeonhole Hamming operator the text path uses
    (operators/dedup.py hamming_pairs).  The corpus is the bounded docs
    plus one-byte-mutated copies, so near-identical "images" provably
    pair up without matching exactly.

    Oracle: pinned constants (the hash folds byte chunks row-wise in
    numpy — no cross-row or cross-partition state, so the pair set is
    exactly reproducible; scripts/gen_pinned_oracles.py regenerates).
    Tests additionally pin the blocked join equal to the all-pairs
    brute-force on this corpus, with each mutated copy landing within
    the Hamming budget of its original."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _BOUND).select("doc_id", "text"))
    mutated = d.select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.concat(F.lit("x"), F.substring("text", 2, 1_000_000))
         .alias("text"))
    corpus = d.unionByName(mutated).withColumn(
        "source", F.lit("img")).withColumn("n_chars", F.length("text"))
    payloads = M.with_binary_payload(corpus)
    hashes = M.image_phash(payloads)
    return D.hamming_pairs(hashes, "phash", max_hamming=6, bits=64,
                           id_col="doc_id")


_PPJOIN_SQL = "WITH " + _CORPUS_CTE + "," + _SHINGLES_CTE + f""",
sizes AS (SELECT sid, count(*) AS n_shingles FROM sh GROUP BY sid),
inter AS (
  SELECT a.sid AS sid_a, b.sid AS sid_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
  GROUP BY a.sid, b.sid
)
SELECT sid_a, sid_b,
       round(n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter), 4)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.sid = sid_a
JOIN sizes sb ON sb.sid = sid_b
WHERE n_inter * 1.0 / (sa.n_shingles + sb.n_shingles - n_inter) >= {_JACCARD_T}
"""


@register("dedup_ppjoin", oracle=_PPJOIN_SQL, covers=("G.dedup.ppjoin",))
def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (PPJoin-lite, operators/
    dedup.py ppjoin_pairs): candidates must share a shingle within each
    document's df-rarest prefix, then verify exactly in-row — LOSSLESS
    (output equals the ungated all-pairs join, which is the oracle here)
    where dedup_ngram_jaccard's df-gate is an approximation, and
    candidate-bounded where the ungated join is quadratic in the df of
    the worst boilerplate shingle.  The third point in the
    exactness/cost trade-off next to the df-gate and MinHash-LSH."""
    return D.ppjoin_pairs(_doc_corpus(spark, sf_dir), _JACCARD_T)


# ---------------------------------------------------------------------------
# k-center greedy diversity sampling (farthest-point traversal)
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    """Unrolled SQL mirror: each round's pick is data-dependent (the
    point farthest from the chosen set), so round r selects via scalar
    subqueries over rounds 1..r-1 — same technique as the BPE-train
    oracle.

    Every CTE is MATERIALIZED (the k-core oracle's lesson): round r
    references e once per prior center and d{j} twice, so the default
    inlining re-expands the whole prefix chain multiplicatively per
    round — measured 290s for k=8 over 500 vectors; materialized, the
    same query is sub-second."""
    parts = ["""WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
d0 AS MATERIALIZED (SELECT min(vec_id) AS c FROM e)"""]
    # dist(a, b) = sum of squared diffs (monotone in L2 — no sqrt needed)
    def dist(va, vb):
        return (f"list_sum(list_transform(list_zip({va}, {vb}), "
                f"p -> (p[1] - p[2]) * (p[1] - p[2])))")
    for r in range(1, k):
        prev = ", ".join(f"(SELECT c FROM d{j})" for j in range(r))
        parts.append(f""",
m{r} AS MATERIALIZED (
  SELECT e.vec_id,
         least({", ".join(dist("e.v", f"(SELECT v FROM e WHERE vec_id = (SELECT c FROM d{j}))") for j in range(r))}) AS md
  FROM e WHERE e.vec_id NOT IN ({prev})
),
d{r} AS MATERIALIZED (SELECT vec_id AS c FROM m{r} ORDER BY md DESC, vec_id LIMIT 1)""")
    sels = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, c AS vec_id FROM d{r}"
        for r in range(k))
    parts.append("\n" + sels)
    return "".join(parts)


@register("sample_kcenter", oracle=_kcenter_oracle(_KCENTER_K),
          covers=("G.sample.kcenter",))
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy (farthest-point) diversity sampling over the
    embedding corpus — the coreset selector behind diverse-subset
    curation: start from the min-id vector, then repeatedly take the
    point with the LARGEST distance to its nearest chosen center
    (deterministic ties -> smallest vec_id).  Output is the ordered
    center list (rank, vec_id).

    Spark shape per round: the chosen center's vector is a 1-row
    bounded collect (like k-means centroids); the min-distance update is
    a map-only in-row expression against the broadcast center (running
    min kept as a column — each round touches the corpus once, no
    growing join).  k rounds = k scans on the shared ``fixpoint``
    kernel: each round's lazy lineage cut is materialized by its one
    job, the TakeOrdered pick of the winning id AND its vector.  The
    oracle unrolls the data-dependent picks as scalar subqueries."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # One TakeOrdered job fetches the seed id AND its vector (r13 —
    # previously an agg(min) job plus a filter/first job).  NULLS LAST
    # keeps the old agg(min) semantics: min() ignored NULL ids, while a
    # bare asc sort puts them first (r13 ADVICE — latent, fixture ids
    # are non-null).
    picks = [pts.orderBy(F.col("vec_id").asc_nulls_last())
             .select("vec_id", "v").first()]

    def dist_to(center_vec):
        arr = double_array_lit(center_vec)
        return F.aggregate(
            F.zip_with("v", arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    def step(state: DataFrame, i: int) -> DataFrame:
        d = dist_to(picks[-1].v)  # the last pick's distance update
        return (state.withColumn("md", d if i == 0 else F.least("md", d))
                .filter(~F.col("vec_id").isin([int(p.vec_id) for p in picks])))

    def pick(state: DataFrame):
        picks.append(state.orderBy(F.col("md").desc(), "vec_id")
                     .select("vec_id", "v").first())

    fixpoint(pts, step, rounds=_KCENTER_K - 1, probe=pick)
    return spark.createDataFrame(
        [(r, int(p.vec_id)) for r, p in enumerate(picks)],
        "rank int, vec_id bigint")


@register(
    "text_ngram_novelty",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i:i + 2], ' ') AS shingle
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i FROM t)
),
df AS (SELECT shingle, count(*) AS d FROM sh GROUP BY shingle)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS novelty
FROM sh JOIN df USING (shingle)
GROUP BY sh.doc_id
""",
    covers=("G.text.novelty",),
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct 3-gram shingles that appear NOWHERE else in the corpus —
    the cheap self-information signal dedup-aware samplers use to
    up-weight genuinely novel text (a doc of df=1 shingles is fresh; a
    doc of high-df shingles is boilerplate even if no single near-dup
    partner exists).

    Spark shape: the corpus df of each shingle is a WINDOW count over
    the one distinct-shingle stream (shuffle on shingle), then one
    doc_id aggregation — shingling runs exactly once (the earlier
    groupBy-then-join form re-ran it for each reference and pinned a
    vocab-sized broadcast that would OOM at corpus scale; the window
    form has no broadcast at all), linear at any scale.  An
    aggregate-join reshape (one hash-agg exchange with ``min(sid)`` as
    the df=1 owner, map-only per-doc totals off a second tokenize
    pass) was built and MEASURED 2.2-2.6x SLOWER at both sf0.1 and the
    x10 replica (r14, novelty_shape_probe.py, last in commit 9bc81c2:
    2.45 s vs 6.50 s min at sf0.1, 3.54 s vs 7.66 s at x10, outputs
    crc-equal) — the near-unique shingle keys give the hash aggregate no
    map-side reduction while WindowExec rides the exchange's existing
    sort, and the second tokenize pass is not free — so the window form
    stays."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(d, 3)
    uniq = (F.count(F.lit(1)).over(Window.partitionBy("shingle")) == 1
            ).cast("long")
    return (sh.select("sid", uniq.alias("u"))
            .groupBy(F.col("sid").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum("u").alias("n_unique"),
                 F.round(F.sum("u") / F.count(F.lit(1)), 4)
                  .alias("novelty")))


# ---------------------------------------------------------------------------
# Weighted MinHash (probability-proportional-to-weight sampling)
# ---------------------------------------------------------------------------

_WMH_K = 16
_WMH_R = 8  # components that must agree
#: Stop-token gate for the signature race (same contract and value as
#: _JACCARD_MAX_DF): tokens in more than this many docs are excluded
#: BEFORE tf/signature on BOTH engines — every candidate bucket is
#: <= max_df docs by construction (r11 defect 5, SCALE.md).
_WMH_MAX_DF = 100


def _wmh_sql() -> str:
    coeffs = minhash_coeffs(_WMH_K)
    h = sql_md5_long("w") + f" % {MERSENNE_P}"
    es = [f"(-ln((({a} * h + {b}) % {MERSENNE_P} + 0.5) / {MERSENNE_P}) / tf)"
          for a, b in coeffs]
    args = ",\n         ".join(
        f"arg_min(w, {e}) AS t{j}" for j, e in enumerate(es))
    comp = "\n  UNION ALL\n".join(
        f"  SELECT sid, {j} AS j, t{j} AS t FROM sig"
        for j in range(_WMH_K))
    return ("WITH " + _CORPUS_CTE + f""",
toks AS (
  -- tf-weighted SHINGLES (not unigrams): every occurrence kept (no
  -- DISTINCT — the weight IS the repeat count); mirrors shingle_array
  SELECT doc_id AS sid,
         unnest([array_to_string(list_slice(t, i, i + 2), ' ')
                 for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS w
  FROM (SELECT doc_id, {_TOKS} AS t FROM corpus)
),
tf0 AS (
  SELECT sid, w, {h} AS h, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY sid, w
),
tf AS (
  -- df gate mirrors the Spark side: tf0 rows are distinct (sid, w),
  -- so a window count over w is the document frequency
  SELECT sid, w, h, tf FROM (
    SELECT *, count(*) OVER (PARTITION BY w) AS df FROM tf0)
  WHERE df <= {_WMH_MAX_DF}
),
sig AS (
  SELECT sid,
         {args}
  FROM tf GROUP BY sid
),
comp AS (
{comp}
)
SELECT a.sid AS sid_a, b.sid AS sid_b,
       CAST(count(*) AS BIGINT) AS n_agree,
       round(count(*) / {_WMH_K}.0, 4) AS est_weighted_jaccard
FROM comp a JOIN comp b ON a.j = b.j AND a.t = b.t AND a.sid < b.sid
GROUP BY a.sid, b.sid
HAVING count(*) >= {_WMH_R}
""")


@register("dedup_weighted_minhash", oracle=_wmh_sql(),
          covers=("G.dedup.weighted_minhash",))
def q_dedup_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MinHash near-dup pairs: plain MinHash treats a document
    as a shingle SET, so tf-skewed documents (one phrase repeated 100x)
    collide with anything sharing their vocabulary; weighting by term
    frequency estimates the weighted Jaccard sum(min tf)/sum(max tf)
    instead.  Each of k components samples one df-gated 3-gram shingle
    with probability proportional to its tf via the exponential-race
    trick (argmin over shingles of -ln(u_j(shingle)) / tf — u_j from the
    shared md5+LCG coefficients, so the draw is deterministic and the
    oracle replays it exactly); two docs agree on a component with
    probability equal to their weighted Jaccard.

    Spark shape: tf table (one (sid, token) groupBy), k min-aggregates
    in ONE map-side-combined pass (same plan as unweighted
    minhash_signatures), component equi-join on (j, token) whose output
    tracks true matches — never n².  Pairs agreeing on >= r of k
    components survive."""
    return wmh_pairs(_doc_corpus(spark, sf_dir))


def wmh_pairs(corpus: DataFrame) -> DataFrame:
    """Weighted-MinHash near-dup core over any (doc_id, text) corpus —
    shared by the oracle-gated registry query (bounded ``_doc_corpus``)
    and the bench's unbounded full-table head (r10 VERDICT ask #2:
    decade data needs the uncapped shape).

    The race runs over tf-weighted 3-token SHINGLES, DF-GATED at
    ``_WMH_MAX_DF`` (the stop-shingle contract of ``jaccard_pairs``) —
    both choices are scale fixes found by the r11 decade study, not
    style: the race's per-term key depends only on (term, tf), so a
    corpus-wide common term wins a component for most of the corpus at
    once.  Over raw unigrams the x1 audit measured ONE (component,
    token) bucket holding 3,898 of 5,000 docs — 186M candidate pairs at
    x1, and the x100 replica spilled the disk to death; the fixture's
    31-token vocabulary means NO unigram can ever pass a df gate, while
    3-gram shingles are discriminative (27k distinct, median df 9).
    Gating makes every candidate bucket <= max_df docs BY CONSTRUCTION
    — candidates <= max_df * Σdf, linear — and is also the right
    MEASURE: similarity driven by stopword mass is the false-positive
    mode CCNet-style pipelines strip first.
    """
    toks = corpus.select(
        F.col("doc_id").alias("sid"),
        F.explode(X.shingle_array(X.tokens("text"))).alias("w"))
    # tf rows are distinct (sid, w): a window count over w IS the
    # document frequency — one pass, no extra join (same single-stream
    # df gate as _kept_shingles).  ONE shared exchange for both (r13):
    # hash-partitioning the raw stream by the token satisfies the
    # clustering required by the (sid, w) tf aggregation AND by the df
    # window (HashPartitioning(w) clusters any key set containing w),
    # so the stream crosses the network once instead of twice — the
    # previous shape exchanged the partially-aggregated stream on
    # (sid, w) and then again on w for the window.
    w_df = Window.partitionBy("w")
    tf = (toks.repartition("w")
          .groupBy("sid", "w")
          .agg(F.count(F.lit(1)).alias("tf"))
          .withColumn("df", F.count(F.lit(1)).over(w_df))
          .filter(F.col("df") <= _WMH_MAX_DF)
          .drop("df")
          .withColumn("h", F.pmod(md5_long(F.col("w")), F.lit(MERSENNE_P))))
    aggs = []
    for j, (a, b) in enumerate(minhash_coeffs(_WMH_K)):
        u = (F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_P))
             + 0.5) / MERSENNE_P
        e = -F.log(u) / F.col("tf")
        aggs.append(F.min(F.struct(e.alias("e"), F.col("w").alias("t")))
                    .alias(f"s{j}"))
    sig = tf.groupBy("sid").agg(*aggs)
    # One materialized component table serves both self-join sides (the
    # lazy form re-ran tf + k min-aggregates per alias — same repair as
    # hamming_pairs' keyed stream).
    comp_build = (sig.select("sid", F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), F.col(f"s{j}.t").alias("t"))
        for j in range(_WMH_K)])).alias("c"))
        .select("sid", F.col("c.j").alias("j"), F.col("c.t").alias("t")))
    comp = materialize_shared(comp_build)
    a_, b_ = comp.alias("a"), comp.alias("b")
    return (a_.join(b_, (F.col("a.j") == F.col("b.j"))
                    & (F.col("a.t") == F.col("b.t"))
                    & (F.col("a.sid") < F.col("b.sid")))
            .groupBy(F.col("a.sid").alias("sid_a"),
                     F.col("b.sid").alias("sid_b"))
            .agg(F.count(F.lit(1)).alias("n_agree"))
            .filter(F.col("n_agree") >= _WMH_R)
            .select("sid_a", "sid_b", "n_agree",
                    F.round(F.col("n_agree") / F.lit(float(_WMH_K)), 4)
                     .alias("est_weighted_jaccard")))


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (CCNet-style corpus line dedup)
# ---------------------------------------------------------------------------

_BP_RATIO = 0.2

_BP_AUG_SQL = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 2 = 0
               THEN chr(10) || 'Subscribe to our newsletter' ELSE '' END
       || chr(10) || 'Copyright 2026 Example Corp. All rights reserved.'
       || chr(10) || 'Posted in category ' || (doc_id % 7)::VARCHAR
       AS text
FROM documents"""


@register(
    "text_boilerplate_lines",
    oracle=f"""
WITH aug AS ({_BP_AUG_SQL}),
split AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM aug),
idx AS (SELECT doc_id, ls,
               unnest(generate_series(1, len(ls))) AS pos FROM split),
lines AS (SELECT doc_id, pos, ls[pos] AS line FROM idx),
tot AS (SELECT count(*) AS n FROM aug),
bp AS (SELECT line FROM (
         SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
       ) d, tot WHERE d.df >= {_BP_RATIO} * tot.n),
marked AS (SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS is_bp
           FROM lines l LEFT JOIN bp b ON l.line = b.line)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       string_agg(CASE WHEN NOT is_bp THEN line END,
                  chr(10) ORDER BY pos) AS clean_text
FROM marked GROUP BY doc_id
""",
    covers=("G.text.boilerplate",),
)
def q_text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: a line that occurs in
    >= 20% of documents (cookie banners, copyright footers, subscribe
    prompts) is corpus-level boilerplate — strike it from every document,
    preserving the order of what remains.  The fixture corpus is single-
    line, so documents are deterministically augmented with a footer mix
    (always / 50% / 14% document frequency) spanning both sides of the
    threshold; both engines see the identical corpus.

    Scale shape: one posexplode, ONE corpus-wide aggregation keyed on the
    16-byte md5 of the line (never shuffles raw line text), and the
    boilerplate set — tiny by construction, a line needs df >= ratio*n to
    enter — broadcast back as a left join.  Document reassembly is a
    groupBy(doc_id) collect_list over (pos, line) structs, i.e. the same
    single shuffle a tokenize-detokenize pass costs.  At 100 TB this is
    the standard two-pass shape: line-stats job, then a map-side
    broadcast filter."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nSubscribe to our newsletter")).otherwise(F.lit("")),
        F.lit("\nCopyright 2026 Example Corp. All rights reserved."),
        F.concat(F.lit("\nPosted in category "),
                 (F.col("doc_id") % 7).cast("string")),
    ).alias("text"))
    lines = aug.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"))
    total = aug.agg(F.count(F.lit(1)).alias("n"))
    bp = (lines.groupBy(F.md5("line").alias("lk"))
          .agg(F.countDistinct("doc_id").alias("df"))
          .crossJoin(F.broadcast(total))
          .filter(F.col("df") >= F.lit(_BP_RATIO) * F.col("n"))
          .select("lk", F.lit(True).alias("is_bp")))
    marked = (lines.withColumn("lk", F.md5("line"))
              .join(F.broadcast(bp), "lk", "left")
              .withColumn("is_bp", F.coalesce("is_bp", F.lit(False))))
    return (marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).alias("n_removed"),
        F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(
                F.when(~F.col("is_bp"), F.struct("pos", "line")))),
            lambda s: s["line"])).alias("clean_text")))


# ---------------------------------------------------------------------------
# Cross-source score calibration + dimensionality reduction
# ---------------------------------------------------------------------------


@register(
    "quality_quantile_normalize",
    oracle="""
WITH s AS (SELECT doc_id, source, n_chars,
                  percent_rank() OVER (PARTITION BY source
                                       ORDER BY n_chars) AS pr
           FROM documents),
g AS (SELECT list_sort(list(n_chars)) AS garr, count(*) AS n
      FROM documents)
SELECT doc_id, source, n_chars, round(pr, 6) AS pr,
       garr[CAST(floor(pr * (n - 1)) AS BIGINT) + 1] AS qnorm
FROM s, g
""",
    covers=("G.quality.quantile_normalize",),
)
def q_quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization: map every document's score
    (n_chars as the stand-in) onto the GLOBAL score distribution by
    matching its within-source percentile — so a "long doc for src3" and
    a "long doc for src14" get comparable calibrated scores even when the
    sources' raw distributions differ.  The standard fix for per-crawl
    quality-score drift before a global selection threshold.

    Within-source ranks are one window per source partition; the global
    reference distribution is a single sorted array broadcast to every
    row (lower-quantile lookup by floor index — no interpolation, so the
    calibrated value is an EXACT member of the score domain and the
    cross-engine check is integer-exact).  At 100 TB the global array
    becomes a t-digest/GK sketch lookup; the window pass is unchanged."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars")
    g = d.agg(F.sort_array(F.collect_list("n_chars")).alias("garr"),
              F.count(F.lit(1)).alias("n"))
    return (d.withColumn("pr", F.percent_rank().over(w))
            .crossJoin(F.broadcast(g))
            .select("doc_id", "source", "n_chars",
                    F.round("pr", 6).alias("pr"),
                    F.element_at(
                        "garr",
                        (F.floor(F.col("pr") * (F.col("n") - 1)) + 1)
                        .cast("int")).alias("qnorm")))


_RP_K, _RP_D = 8, 64


def _rp_coefs() -> list[list[float]]:
    """Deterministic ±1 sign-projection matrix from md5 — the same
    constants generate both the Spark literals and the oracle SQL."""
    import hashlib
    return [[1.0 if int(hashlib.md5(f"rp{i}_{j}".encode())
                        .hexdigest()[:8], 16) & 1 else -1.0
             for j in range(_RP_D)] for i in range(_RP_K)]


def _rp_oracle() -> str:
    cols = []
    for i, row in enumerate(_rp_coefs()):
        terms = " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * {c}"
            for j, c in enumerate(row))
        cols.append(f"round(({terms}) / sqrt({_RP_D}), 6) AS p{i}")
    return ("SELECT vec_id, " + ", ".join(cols)
            + " FROM embeddings")


@register("embedding_random_projection", oracle=_rp_oracle(),
          covers=("G.embedding.random_projection",))
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: 64-d embeddings down
    to 8 dims via a deterministic ±1 matrix (seeded md5, so both engines
    rebuild the identical matrix), scaled by 1/√d.  The cheap first stage
    before clustering / ANN when the stored dimension is large — distance
    distortion is bounded by the JL lemma at k = O(log n / ε²).

    Pure JVM expression code: each output dim is one zip_with multiply +
    ordered aggregate fold over the array column — no shuffle at all, no
    UDF, embarrassingly parallel over rows; the oracle spells the same
    fold as an explicit 64-term sum in the same order, so doubles match
    bit-for-bit before the 6-dp round."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    cols = []
    for i, row in enumerate(_rp_coefs()):
        dot = F.aggregate(
            F.zip_with("emb", double_array_lit(row), lambda x, y: x * y),
            F.lit(0.0), lambda acc, t: acc + t)
        cols.append(F.round(dot / F.lit(float(_RP_D) ** 0.5), 6)
                    .alias(f"p{i}"))
    return e.select("vec_id", *cols)


_QLC_E_SQL = ("SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label "
              "FROM embeddings WHERE vec_id < 500")


def _qlc_keyed_cte(n_planes: int = 3, n_tables: int = 6,
                   dim: int = 64) -> str:
    """CTE ``kb`` holding the SAME multi-table hyperplane bucket keys the
    Spark operator (ann_lsh_knn_self) computes, over CTE ``e``."""
    all_planes = S.hyperplanes(n_tables * n_planes, dim)

    def arr(pl):
        return "[" + ", ".join(repr(x) for x in pl) + "]::DOUBLE[]"

    def bucket(tbl):
        planes = all_planes[tbl * n_planes:(tbl + 1) * n_planes]
        return " + ".join(
            f"(CASE WHEN list_inner_product(v, {arr(pl)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, pl in enumerate(planes))

    keyed = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, ({bucket(t)}) AS bkt FROM e"
        for t in range(n_tables))
    return f"""kb AS (
{keyed}
)"""


def _qlc_knn_cte(name: str, bucketed: bool) -> str:
    """kNN candidate CTE over the bounded slice: exact (all-pairs) or
    multi-table-LSH blocked (candidates share a bucket in ANY table —
    replicates ann_lsh_knn_self bit-for-bit, including the DISTINCT
    pair collapse before the exact-cosine rank)."""
    if bucketed:
        return f"""cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM kb a JOIN kb b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id <> b.vec_id),
{name} AS (
  SELECT c.query_id, c.neighbor_id, nb.label AS nlab,
         row_number() OVER (
           PARTITION BY c.query_id
           ORDER BY list_cosine_similarity(qa.v, nb.v) DESC, c.neighbor_id)
           AS rank
  FROM cand c
  JOIN e qa ON qa.vec_id = c.query_id
  JOIN e nb ON nb.vec_id = c.neighbor_id)"""
    return f"""{name} AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS nlab,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id)
           AS rank
  FROM e a JOIN e b ON a.vec_id <> b.vec_id)"""


def _qlc_flags_cte(name: str, knn: str) -> str:
    """Vote -> majority -> suspect-flag CTE chain over a kNN CTE.
    Majority ties break to the smallest label (pinned cross-engine)."""
    return f"""{name} AS (
  SELECT e.vec_id, e.label, m.nn_majority,
         e.label <> m.nn_majority AS is_suspect
  FROM e JOIN (
    SELECT query_id, nlab AS nn_majority FROM (
      SELECT query_id, nlab, row_number() OVER (
        PARTITION BY query_id ORDER BY c DESC, nlab) AS rn
      FROM (SELECT query_id, nlab, count(*) AS c
            FROM {knn} WHERE rank <= 5 GROUP BY query_id, nlab))
    WHERE rn = 1) m ON m.query_id = e.vec_id)"""


def _qlc_flags(e: DataFrame, nn: DataFrame) -> DataFrame:
    """Spark side of the vote/flag stages: each vector's label vs the
    majority label of its (given) top-5 neighbors.  Majority ties break
    to the smallest label; the neighbor frame fixes its own ties."""
    labs = e.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nlab"))
    # No broadcast hint: labs is corpus-sized in the unbounded setting —
    # AQE broadcasts it while small, shuffles past that.
    maj = (nn.join(labs, "neighbor_id")
           .groupBy("query_id", "nlab").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("query_id")
           .agg(F.max(F.struct(F.col("c"),
                               (-F.col("nlab")).alias("neg"))).alias("m"))
           .select("query_id", (-F.col("m.neg")).alias("nn_majority")))
    return (e.select("vec_id", "label")
            .join(maj, F.col("vec_id") == F.col("query_id"))
            .select("vec_id", "label", "nn_majority",
                    (F.col("label") != F.col("nn_majority"))
                    .alias("is_suspect")))


@register(
    "quality_label_consistency_ann",
    oracle=f"""
WITH e AS ({_QLC_E_SQL}),
{_qlc_keyed_cte()},
{_qlc_knn_cte("annk", bucketed=True)},
{_qlc_flags_cte("flags", "annk")}
SELECT vec_id, label, nn_majority, is_suspect FROM flags
""",
    covers=("G.quality.label_noise",),
)
def q_quality_label_consistency_ann(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Label-noise detection (confident-learning lite): each vector's
    label is checked against the MAJORITY label of its 5 nearest
    neighbors by cosine — disagreement flags a suspect label, the
    standard first pass before training on labeled corpus data.

    The neighbor stage is ann_lsh_knn_self — a hyperplane-bucket SELF
    equi-join (candidates per vector ~ corpus/2^planes), NOT the
    brute-force cross join the r3 verdict flagged: no nested-loop stage
    anywhere in the plan, and no broadcast of the corpus-sized query
    side, so the shape holds at 100 TB.  The oracle replicates the SAME
    deterministic buckets in SQL (exact agreement, no recall slack);
    quality_label_consistency_recall gates ANN quality against the
    exact form, which is now oracle-only.  Majority ties break to the
    smallest label; neighbor ties to the smallest id (both pinned)."""
    e = (load_table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") < 500))
    # default (lazy persist) materialization: at this gate's bounded
    # corpus the keyed stream is tiny and eager/persist/off measured a
    # wash (3.2-3.8s warm each); the contract matters at corpus scale,
    # where the persist default shares the stream without running a
    # construction-time job
    nn = S.ann_lsh_knn_self(e, k=5)
    return _qlc_flags(e, nn)


@register(
    "quality_label_consistency_recall",
    oracle=f"""
WITH e AS ({_QLC_E_SQL}),
{_qlc_keyed_cte()},
{_qlc_knn_cte("annk", bucketed=True)},
{_qlc_knn_cte("exk", bucketed=False)},
{_qlc_flags_cte("fann", "annk")},
{_qlc_flags_cte("fex", "exk")},
rec AS (
  SELECT CAST(count(*) AS BIGINT) AS nn_total,
         CAST(count(a.neighbor_id) AS BIGINT) AS nn_hits
  FROM (SELECT query_id, neighbor_id FROM exk WHERE rank <= 5) x
  LEFT JOIN (SELECT query_id, neighbor_id FROM annk WHERE rank <= 5) a
    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id),
agree AS (
  SELECT CAST(count(*) AS BIGINT) AS n_compared,
         CAST(sum(CASE WHEN fx.is_suspect = fa.is_suspect
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_agree
  FROM fex fx JOIN fann fa ON fx.vec_id = fa.vec_id)
SELECT rec.nn_hits, rec.nn_total, agree.n_flag_agree, agree.n_compared
FROM rec, agree
""",
    covers=("G.quality.label_noise", "G.similarity.recall"),
)
def q_quality_label_consistency_recall(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Quality gate for the ANN-backed label-noise screen: neighbor
    recall@5 of the bucketed kNN against exact brute force, plus
    suspect-flag agreement between the two pipelines — all EXACT
    integer counts (no rounded ratios near hash-unstable boundaries).
    The brute-force pipeline lives only here (bounded slice), as the
    measuring stick; the scored screening path is the ANN form.  Same
    pattern as similarity_ivf_recall: at 100 TB the gate runs on a
    sampled slice while the screen runs on the corpus."""
    e = (load_table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") < 500))
    # Each kNN table feeds two consumers (recall join + flag
    # derivation), so Catalyst builds each pipeline twice — measured
    # CHEAPER than checkpointing here: the duplicate subtrees are
    # slice-bounded by the gate's design and run concurrently inside
    # one job, while eager materialization serializes them (A/B: 7.2s
    # checkpointed vs 5.5s lazy warm at sf0.01).  The corpus-scale
    # screen is quality_label_consistency_ann; this gate stays bounded.
    ex = S.topk_cosine_bruteforce(e, e, k=5)
    ann = S.ann_lsh_knn_self(e, k=5)
    rec = (ex.select("query_id", "neighbor_id")
           .join(ann.select("query_id", "neighbor_id",
                            F.lit(1).alias("hit")),
                 ["query_id", "neighbor_id"], "left")
           .agg(F.count("hit").cast("long").alias("nn_hits"),
                F.count(F.lit(1)).cast("long").alias("nn_total")))
    fx = _qlc_flags(e, ex).select("vec_id",
                                  F.col("is_suspect").alias("sx"))
    fa = _qlc_flags(e, ann).select("vec_id",
                                   F.col("is_suspect").alias("sa"))
    agree = (fx.join(fa, "vec_id")
             .agg(F.sum(F.when(F.col("sx") == F.col("sa"), 1)
                        .otherwise(0)).cast("long").alias("n_flag_agree"),
                  F.count(F.lit(1)).cast("long").alias("n_compared")))
    return rec.crossJoin(agree).select(
        "nn_hits", "nn_total", "n_flag_agree", "n_compared")


@register(
    "orc_corpus_ingest",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars > 100 GROUP BY lang
""",
    covers=("A.orc",),
)
def q_orc_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC corpus round trip (sources/orc_corpus.py) — the second
    columnar format, on Spark's native reader: documents written as ORC,
    read back with a pushable predicate and a 3-column projection, so
    the scan exercises exactly what a columnar warehouse buys (stripe-
    stat predicate pushdown + column pruning; the schema rides in the
    file, so there is no corrupt-record path to quarantine — that
    concept belongs to the text formats).  Completes the format matrix:
    parquet fixtures, CSV/JSONL/XML/WARC tolerant reads, ORC columnar."""
    from ab_metadata_pusher_spark.sources.orc_corpus import (
        prepare_documents_orc, read_orc_corpus)
    path = prepare_documents_orc(spark, sf_dir)
    return (read_orc_corpus(spark, path)
            .filter(F.col("n_chars") > 100)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))
