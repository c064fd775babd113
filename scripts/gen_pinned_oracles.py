"""Generate pinned-constant DuckDB oracles for the sketch/eigen queries
whose outputs are deterministic functions of the input MULTISET (and so
exactly reproducible) but not SQL-expressible.  Two provenance classes,
kept deliberately distinct (r4 VERDICT ask #3 / ADVICE):

* ENGINE-INDEPENDENT pins — truth is computable outside Spark, so the
  pin is derived here from the raw fixture parquet with pyarrow + numpy
  and NEVER touches the engine under test:
    - ``embedding_pca_variance`` — eigenvalues of the population
      covariance of ``embeddings.parquet`` (numpy ``eigvalsh`` on the
      d x d matrix assembled from one float64 pass over the vectors);
    - ``multimodal_phash_pairs`` — row-wise average-hash over the
      documents-derived payload corpus + BRUTE-FORCE all-pairs Hamming
      (the registered query's pigeonhole blocking is lossless, so the
      blocked join must equal this independent quadratic enumeration).
  A green driver row for these is independent correctness evidence.

* REGRESSION pins — no engine-independent exact value exists:
    - ``agg_approx_count_distinct`` / ``agg_hll_sketch_union`` — HLL++
      and Datasketches-HLL estimates.  The estimate is a deterministic
      function of the value set (per-value hash -> register max, so it
      is independent of row order AND partition layout), but only the
      engine's own hash pipeline defines it.  These pins are generated
      by running the registered query and freeze determinism +
      regression stability; TRUTH is covered separately by
      ``tests/test_sketches.py`` (estimate within 2% of exact).

(The remaining no-oracle registration — ``agg_heavy_hitters`` — is
EXCLUDED on purpose: Misra-Gries counters depend on partition
boundaries, so their values are not reproducible across executor
layouts.  ``agg_approx_percentiles`` was retired in r10 for
``agg_percentiles_guaranteed``, whose sketch-bracketed exact refine is
layout-independent and oracle-backed in-registry.)

Each oracle embeds one VALUES branch per scale factor, selected by the
base table's row count, so the same string verifies at the test SF
(0.001), the driver SF (0.01) and the bench SF (0.1) — the r5 full-
registry 10x parity sweep needs the 0.1 branch.  An unknown SF selects
the empty branch and fails the comparison loudly — rerun this script
to re-pin:

    python scripts/gen_pinned_oracles.py

writes ``ab_metadata_pusher_spark/plans/generated_oracles.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]

#: SF detection always counts ``orders`` (1500 / 15000 / 150000 rows at
#: sf0.001/0.01/0.1) — documents/embeddings keep the SAME row count across
#: SFs, so counting the query's own base table cannot tell SFs apart.
SF_BASE = "orders"

#: query -> [(col, ducktype)]
SPECS = {
    "agg_approx_count_distinct":
        [("o_orderpriority", "VARCHAR"), ("approx_customers", "BIGINT")],
    "agg_hll_sketch_union":
        [("o_orderpriority", "VARCHAR"), ("approx_customers", "BIGINT")],
    "embedding_pca_variance":
        [("component", "INTEGER"), ("eigenvalue", "DOUBLE"),
         ("explained_ratio", "DOUBLE")],
    "multimodal_phash_pairs":
        [("sid_a", "BIGINT"), ("sid_b", "BIGINT"), ("hamming", "INTEGER")],
}

#: Names whose pins are REGRESSION pins (engine-generated); everything
#: else in SPECS must be produced by an ``_independent_*`` function below.
REGRESSION_PINNED = ("agg_approx_count_distinct", "agg_hll_sketch_union")


# -- engine-independent truth (pyarrow + numpy only, NO Spark) -------------

def _independent_pca_rows(sf_dir: str) -> list[tuple]:
    """Mirror of the REGISTERED CONTRACT, not the implementation: top-8
    eigenvalues/ratios of the population covariance
    cov(i,j) = E[x_i x_j] - E[x_i] E[x_j] over ``embeddings.embedding``
    in float64 (plans/llm_queries.py q_embedding_pca_variance).  One
    whole-corpus numpy pass — no Gramian partials, no mapInArrow, no
    Spark session anywhere."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    n = len(X)
    mean = X.sum(axis=0) / n
    C = (X.T @ X) / n - np.outer(mean, mean)
    vals = np.linalg.eigvalsh(C)[::-1]
    total = float(vals.sum())
    return [(int(c), round(float(v), 6), round(float(v / total), 6))
            for c, v in enumerate(vals[:8])]


def _ahash64(payload: bytes, cells: int = 64) -> int:
    """The average-hash LAW (operators/multimodal.py image_phash
    docstring): split the byte stream into ``cells`` equal chunks via
    numpy array_split; bit j = chunk-j mean > global mean.  Returned as
    an unsigned 64-bit int (the sign reinterpretation only matters for
    storage, not for XOR distance)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if not len(arr):
        return 0
    means = np.array([c.mean() if len(c) else 0.0
                      for c in np.array_split(arr, cells)])
    bits = means > arr.mean()
    h = 0
    for j, b in enumerate(bits):
        if b:
            h |= 1 << j
    return h


def _independent_phash_rows(sf_dir: str, bound: int = 300,
                            max_hamming: int = 6) -> list[tuple]:
    """Mirror of q_multimodal_phash_pairs' contract: documents with
    doc_id < bound plus one-byte-mutated copies (id + 6e6, text
    'x' + text[1:]), payload = UTF-8 bytes, average-hash per payload,
    ALL-PAIRS Hamming <= max_hamming by brute force.  The registered
    query's pigeonhole-blocked join is lossless, so it must equal this
    independent quadratic enumeration exactly."""
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    base = [(i, s) for i, s in zip(t.column("doc_id").to_pylist(),
                                   t.column("text").to_pylist())
            if i < bound]
    corpus = base + [(i + 6_000_000, "x" + s[1:]) for i, s in base]
    hashes = [(i, _ahash64(s.encode("utf-8"))) for i, s in corpus]
    out = []
    for ai in range(len(hashes)):
        ida, ha = hashes[ai]
        for bi in range(ai + 1, len(hashes)):
            idb, hb = hashes[bi]
            d = bin(ha ^ hb).count("1")
            if d <= max_hamming:
                a, b = (ida, idb) if ida < idb else (idb, ida)
                out.append((a, b, d))
    return out


INDEPENDENT = {
    "embedding_pca_variance": _independent_pca_rows,
    "multimodal_phash_pairs": _independent_phash_rows,
}


# -- oracle assembly -------------------------------------------------------

def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _oracle(cols: list[tuple[str, str]],
            branches: dict[int, list[tuple]]) -> str:
    typed_null = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in cols)
    names = ", ".join(c for c, _ in cols)
    casted = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
    parts = [f"SELECT {typed_null} WHERE FALSE"]
    for n, rows in sorted(branches.items()):
        if not rows:
            continue
        values = ",\n    ".join(
            "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows)
        parts.append(
            f"SELECT {casted} FROM (VALUES\n    {values}) t({names})\n"
            f"WHERE (SELECT count(*) FROM {SF_BASE}) = {n}")
    return "\nUNION ALL\n".join(parts)


def _sf_key(sf_dir: str) -> int:
    """Row count of the SF-detection base table, via parquet metadata —
    no engine involved."""
    return pq.ParquetFile(f"{sf_dir}/{SF_BASE}.parquet").metadata.num_rows


def main() -> None:
    out = {}

    # Engine-independent pins first: no Spark import on this path.
    for name, fn in INDEPENDENT.items():
        cols = SPECS[name]
        branches: dict[int, list[tuple]] = {}
        for sf_dir in SF_DIRS:
            n = _sf_key(sf_dir)
            assert n not in branches, f"SF key collision at {n}"
            got = fn(sf_dir)
            branches[n] = sorted(got, key=lambda r: tuple(map(str, r)))
            print(f"{name} @ {sf_dir} [independent]: key={n} "
                  f"rows={len(got)}")
        out[name] = _oracle(cols, branches)

    # Regression pins: run the registered query (documented circularity —
    # determinism/regression evidence only; truth lives in
    # tests/test_sketches.py's 2%-of-exact bounds).
    from ab_metadata_pusher_spark.plans.registry import REGISTRY, _load_all
    from ab_metadata_pusher_spark.session import get_spark

    _load_all()
    spark = get_spark(app_name="gen_pinned_oracles",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    for name in REGRESSION_PINNED:
        cols = SPECS[name]
        branches = {}
        for sf_dir in SF_DIRS:
            n = _sf_key(sf_dir)
            assert n not in branches, f"SF key collision at {n}"
            rows = REGISTRY[name].spark(spark, sf_dir).collect()
            got = [tuple(r[c] for c, _ in cols) for r in rows]
            branches[n] = sorted(got, key=lambda r: tuple(map(str, r)))
            print(f"{name} @ {sf_dir} [regression]: key={n} rows={len(got)}")
        out[name] = _oracle(cols, branches)

    out = {k: out[k] for k in SPECS}  # stable module order
    dst = REPO / "ab_metadata_pusher_spark" / "plans" / "generated_oracles.py"
    body = '\n\n'.join(
        f'_{k.upper()} = """\n{v}\n"""' for k, v in out.items())
    keys = ",\n    ".join(f'"{k}": _{k.upper()}' for k in out)
    dst.write_text(
        '"""AUTO-GENERATED by scripts/gen_pinned_oracles.py — do not edit.\n'
        '\n'
        'Pinned-constant oracles for deterministic-but-not-SQL-expressible\n'
        'operators.  PROVENANCE (see the generator docstring): the PCA and\n'
        'pHash pins are ENGINE-INDEPENDENT (computed from the fixture\n'
        'parquet with pyarrow + numpy, never by running the engine); the\n'
        'two HLL pins are REGRESSION pins generated from the engine\'s own\n'
        'output, with truth separately bounded by tests/test_sketches.py.\n'
        'Each SQL string branches on the base table row count so one string\n'
        'verifies at every generated scale factor; an unknown SF matches the\n'
        'empty branch and fails loudly — rerun the generator to re-pin.\n'
        '"""\n\n'
        + body + "\n\nPINNED_ORACLES = {\n    " + keys + ",\n}\n")
    print(f"wrote {dst}")


if __name__ == "__main__":
    main()
