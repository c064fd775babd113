"""Flagship metadata-ETL queries + DuckDB oracles (SURVEY.md §2.A-§2.C).

The Spark side *introspects* the fixture parquet footers to derive
catalog_columns (sources/catalog.py); the oracle side states the expected
catalog as an independent VALUES literal (EXPECTED_CATALOG below, transcribed
from FIXTURES.md §A plus the engine's documented parquet->Spark type mapping).
If introspection, type mapping, grouping, or graph flattening drift, the
driver's hash comparison catches it — this is the engine's equivalent of the
reference's (absent) extractor tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators.graph import (
    pagerank, to_nodes, to_relations,
)
from ab_metadata_pusher_spark.operators.metadata import table_metadata
from ab_metadata_pusher_spark.plans.registry import register
from ab_metadata_pusher_spark.sources.catalog import (
    COLUMN_DESCRIPTIONS, TABLE_DESCRIPTIONS, catalog_columns,
)

#: Independent statement of the expected catalog: (table, [(col, spark_type)]).
#: Source of truth: FIXTURES.md §A; parquet int32->int, int64->bigint,
#: timestamp[ms|ns]->timestamp_ntz (see sources/fixtures.py), list<float>->
#: array<float>.
EXPECTED_CATALOG: list[tuple[str, list[tuple[str, str]]]] = [
    ("region", [("r_regionkey", "int"), ("r_name", "string")]),
    ("nation", [("n_nationkey", "int"), ("n_name", "string"),
                ("n_regionkey", "int")]),
    ("customer", [("c_custkey", "bigint"), ("c_name", "string"),
                  ("c_nationkey", "int"), ("c_acctbal", "double"),
                  ("c_mktsegment", "string")]),
    ("supplier", [("s_suppkey", "bigint"), ("s_name", "string"),
                  ("s_nationkey", "int"), ("s_acctbal", "double")]),
    ("part", [("p_partkey", "bigint"), ("p_name", "string"),
              ("p_brand", "string"), ("p_type", "string"),
              ("p_size", "int"), ("p_retailprice", "double")]),
    ("orders", [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
                ("o_orderstatus", "string"), ("o_totalprice", "double"),
                ("o_orderdate", "timestamp_ntz"),
                ("o_orderpriority", "string")]),
    ("lineitem", [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                  ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                  ("l_quantity", "double"), ("l_extendedprice", "double"),
                  ("l_discount", "double"), ("l_tax", "double"),
                  ("l_returnflag", "string"), ("l_linestatus", "string"),
                  ("l_shipdate", "timestamp_ntz")]),
    ("events", [("event_id", "bigint"), ("ts", "timestamp_ntz"),
                ("user_id", "bigint"), ("event_type", "string"),
                ("value", "double"), ("props", "string")]),
    ("documents", [("doc_id", "bigint"), ("text", "string"),
                   ("lang", "string"), ("source", "string"),
                   ("n_chars", "bigint")]),
    ("embeddings", [("vec_id", "bigint"), ("embedding", "array<float>"),
                    ("label", "int")]),
]


def _sql_str(s: str | None) -> str:
    if s is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + s.replace("'", "''") + "'"


def catalog_values_cte() -> str:
    """``catalog_columns`` as a DuckDB CTE of VALUES rows."""
    rows = []
    for table, cols in EXPECTED_CATALOG:
        tdesc = _sql_str(TABLE_DESCRIPTIONS.get(table))
        for i, (col, typ) in enumerate(cols, start=1):
            cdesc = _sql_str(COLUMN_DESCRIPTIONS.get((table, col)))
            rows.append(
                f"('spark','testdata','main','{table}',{tdesc},"
                f"'{col}','{typ}',{cdesc},{i},false)")
    joined = ",\n    ".join(rows)
    return (
        "catalog_columns(td_database, table_catalog, table_schema, table_name,"
        " table_description, col_name, col_type, col_description,"
        " col_sort_order, is_view) AS (\n  VALUES\n    " + joined + "\n)"
    )


_TKEY = ("database || '://' || cluster || '.' || \"schema\" || '/' || table_name")

#: Shared projection CTE: catalog rows -> canonical per-column rows with keys,
#: mirroring operators/metadata.py + operators/graph.py key synthesis.
_PROJ_CTE = f"""
proj AS (
  SELECT
    td_database AS database,
    table_catalog AS cluster,
    lower(table_schema) AS "schema",
    lower(table_name) AS table_name,
    coalesce(table_description, '') AS table_description,
    is_view,
    col_sort_order AS sort_order,
    lower(col_name) AS col_name,
    coalesce(col_description, '') AS col_description,
    lower(col_type) AS col_type,
    {_TKEY} AS table_key
  FROM catalog_columns
),
tbl AS (
  SELECT DISTINCT database, cluster, "schema", table_name, table_description,
                  is_view, table_key
  FROM proj
)
"""


@register(
    "metadata_catalog_columns",
    oracle="WITH " + catalog_values_cte() + "\nSELECT * FROM catalog_columns",
    covers=("A2", "A3", "B1"),
)
def q_catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-footer introspection vs the expected catalog literal."""
    return catalog_columns(spark, sf_dir)


@register(
    "metadata_tables",
    oracle="WITH " + catalog_values_cte() + "," + _PROJ_CTE + """
SELECT database, cluster, "schema", table_name,
       table_description AS description, is_view,
       count(*)::INT AS n_columns,
       string_agg(col_name, ',' ORDER BY sort_order) AS columns_csv,
       string_agg(col_type, ',' ORDER BY sort_order) AS types_csv
FROM proj
GROUP BY ALL
""",
    covers=("B1", "B2", "B3", "B8", "B9"),
)
def q_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-to-nested (B8) flattened to hashable scalars: per-table column
    count + ordered CSV of names/types (order proves sort_array ordering)."""
    tm = table_metadata(catalog_columns(spark, sf_dir))
    return tm.select(
        "database", "cluster", "schema", "table_name", "description", "is_view",
        F.size("columns").alias("n_columns"),
        F.array_join(F.transform("columns", lambda c: c["name"]), ",")
         .alias("columns_csv"),
        F.array_join(F.transform("columns", lambda c: c["col_type"]), ",")
         .alias("types_csv"),
    )


@register(
    "metadata_tables_filtered",
    oracle="WITH " + catalog_values_cte() + """
SELECT lower(table_name) AS table_name,
       count(*)::INT AS n_columns,
       string_agg(lower(col_name), ',' ORDER BY col_sort_order) AS columns_csv
FROM catalog_columns
WHERE table_name LIKE '%e%' AND col_sort_order <= 4
GROUP BY ALL""",
    covers=("B4",),
)
def q_tables_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caller-injected SQL predicate (B4), the reference's
    where_clause_suffix idiom (job/sample_mysql_aws_sqs_job.py:39-41)."""
    tm = table_metadata(
        catalog_columns(spark, sf_dir),
        where="table_name LIKE '%e%' AND col_sort_order <= 4")
    return tm.select(
        "table_name",
        F.size("columns").alias("n_columns"),
        F.array_join(F.transform("columns", lambda c: c["name"]), ",")
         .alias("columns_csv"),
    )


_NODES_BODY = """
SELECT 'Table' AS label, table_key AS key, table_name AS name,
       table_description AS description,
       CAST(NULL AS VARCHAR) AS col_type, CAST(NULL AS INTEGER) AS sort_order,
       is_view
FROM tbl
UNION ALL
SELECT 'Column' AS label, table_key || '/' || col_name AS key,
       col_name AS name, col_description AS description,
       col_type, sort_order, CAST(NULL AS BOOLEAN) AS is_view
FROM proj
UNION ALL
SELECT 'Description' AS label, table_key || '/_description' AS key,
       '_description' AS name, table_description AS description,
       CAST(NULL AS VARCHAR) AS col_type, CAST(NULL AS INTEGER) AS sort_order,
       CAST(NULL AS BOOLEAN) AS is_view
FROM tbl WHERE table_description <> ''
UNION ALL
SELECT 'Description' AS label,
       table_key || '/' || col_name || '/_description' AS key,
       '_description' AS name, col_description AS description,
       CAST(NULL AS VARCHAR) AS col_type, CAST(NULL AS INTEGER) AS sort_order,
       CAST(NULL AS BOOLEAN) AS is_view
FROM proj WHERE col_description <> ''
"""

_NODES_SQL = "WITH " + catalog_values_cte() + "," + _PROJ_CTE + _NODES_BODY


@register("metadata_nodes", oracle=_NODES_SQL, covers=("C2", "B1-B9"))
def q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full flagship pipeline: catalog -> TableMetadata -> graph nodes."""
    return to_nodes(table_metadata(catalog_columns(spark, sf_dir)))


_REL_BODY = """
SELECT 'Table' AS start_label, table_key AS start_key,
       'Column' AS end_label, table_key || '/' || col_name AS end_key,
       'COLUMN' AS type, 'COLUMN_OF' AS reverse_type
FROM proj
UNION ALL
SELECT 'Table', table_key, 'Description', table_key || '/_description',
       'DESCRIPTION', 'DESCRIPTION_OF'
FROM tbl WHERE table_description <> ''
UNION ALL
SELECT 'Column', table_key || '/' || col_name,
       'Description', table_key || '/' || col_name || '/_description',
       'DESCRIPTION', 'DESCRIPTION_OF'
FROM proj WHERE col_description <> ''
"""

_RELATIONS_SQL = "WITH " + catalog_values_cte() + "," + _PROJ_CTE + _REL_BODY


@register("metadata_relations", oracle=_RELATIONS_SQL, covers=("C2",))
def q_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph relationships (FIXTURES.md B4 contract)."""
    return to_relations(table_metadata(catalog_columns(spark, sf_dir)))


_GRAPH_PREFIX = ("WITH " + catalog_values_cte() + "," + _PROJ_CTE
                 + ",\nrels AS (" + _REL_BODY + ")")


@register(
    "metadata_graph_degree",
    oracle=_GRAPH_PREFIX + """,
o AS (SELECT start_label AS label, start_key AS node_key, count(*) AS out_deg
      FROM rels GROUP BY 1, 2),
i AS (SELECT end_label AS label, end_key AS node_key, count(*) AS in_deg
      FROM rels GROUP BY 1, 2)
SELECT coalesce(o.label, i.label) AS label,
       coalesce(o.node_key, i.node_key) AS node_key,
       coalesce(o.out_deg, 0) AS out_deg,
       coalesce(i.in_deg, 0) AS in_deg
FROM o FULL JOIN i ON o.label = i.label AND o.node_key = i.node_key
""",
    covers=("C2", "G.graph.degree"),
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree of the generated metadata graph — e.g. a
    Table node's out-degree = its column count (+1 if described).  The
    first structural audit any property-graph publisher needs before
    pushing to a graph store (the reference pushes blind:
    publisher/aws_sqs_csv_puiblisher.py:99-143 never inspects shape)."""
    from ab_metadata_pusher_spark.operators.graph import degrees

    return degrees(to_relations(table_metadata(catalog_columns(spark, sf_dir))))


@register(
    "metadata_graph_components",
    oracle=_GRAPH_PREFIX + """,
nodes AS (SELECT start_key AS node_key FROM rels
          UNION SELECT end_key FROM rels)
SELECT node_key,
       array_to_string(string_split(node_key, '/')[1:4], '/') AS component_key
FROM nodes
""",
    covers=("C2", "G.graph.components"),
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the metadata graph via REAL min-label
    propagation (the same loop as dedup_clusters, over the actual edge
    list).  The oracle never runs a graph algorithm: by the key contract
    (SURVEY.md §1.1b) every component is exactly one table's star, whose
    lexicographic-min key is the table key — i.e. the first four
    '/'-parts of any member key.  Two independent routes to the same
    answer: if either the generated edges or the propagation loop drift,
    the hashes diverge."""
    from ab_metadata_pusher_spark.operators.graph import graph_components

    return graph_components(
        to_relations(table_metadata(catalog_columns(spark, sf_dir))))


@register(
    "metadata_snapshot_diff",
    oracle="WITH " + catalog_values_cte() + """,
a AS (SELECT table_name, col_name, col_type FROM catalog_columns),
b AS (SELECT table_name, col_name,
             CASE WHEN table_name = 'lineitem' AND col_name = 'l_quantity'
                  THEN 'decimal(12,2)' ELSE col_type END AS col_type
      FROM catalog_columns
      WHERE table_name <> 'part'
        AND NOT (table_name = 'orders' AND col_name = 'o_orderpriority')),
d AS (SELECT coalesce(a.table_name, b.table_name) AS table_name,
             coalesce(a.col_name, b.col_name) AS col_name,
             a.col_type AS old_type, b.col_type AS new_type,
             CASE WHEN b.col_type IS NULL THEN 'removed'
                  WHEN a.col_type IS NULL THEN 'added'
                  WHEN a.col_type <> b.col_type THEN 'type_changed'
             END AS status
      FROM a FULL JOIN b
        ON a.table_name = b.table_name AND a.col_name = b.col_name)
SELECT * FROM d WHERE status IS NOT NULL
""",
    # G.metadata.schema_drift: this query subsumes the retired and
    # deleted metadata_schema_drift plan (same added/removed/type_changed
    # contract over two snapshots) — the covers tag moved here so the
    # coverage matrix keeps the row (r5 ADVICE); tests/test_registry.py
    # keeps the retired name out of the frozen registry.
    covers=("G.metadata.diff", "G.metadata.schema_drift", "B5"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata drift detection: diff two catalog snapshots into
    added / removed / type_changed column events — the incremental twin
    of the reference's full-republish model (its publisher resends the
    ENTIRE graph every cron tick, publisher/aws_sqs_csv_puiblisher.py:
    99-143; diffing snapshots is what makes push-on-change possible).

    Snapshot B is a deterministic mutation of A (a dropped table, a
    dropped column, one type change) so both engines derive it
    independently.  Full-outer join on the column identity; catalog
    frames are metadata-sized, so the join broadcasts."""
    a = catalog_columns(spark, sf_dir).select(
        "table_name", "col_name", "col_type")
    t, c = F.col("table_name"), F.col("col_name")
    b = (a.filter(t != "part")
          .filter(~((t == "orders") & (c == "o_orderpriority")))
          .withColumn("col_type", F.when(
              (t == "lineitem") & (c == "l_quantity"),
              F.lit("decimal(12,2)")).otherwise(F.col("col_type"))))
    joined = (a.withColumnRenamed("col_type", "old_type")
               .join(b.withColumnRenamed("col_type", "new_type"),
                     ["table_name", "col_name"], "full_outer"))
    status = (F.when(F.col("new_type").isNull(), "removed")
               .when(F.col("old_type").isNull(), "added")
               .when(F.col("old_type") != F.col("new_type"), "type_changed"))
    return (joined.withColumn("status", status)
            .filter(F.col("status").isNotNull()))


@register(
    "metadata_graph_two_hop",
    oracle=_GRAPH_PREFIX + """,
p AS (
  SELECT r1.start_label AS start_label, r1.start_key AS start_key,
         r2.end_key AS end_key
  FROM rels r1 JOIN rels r2
    ON r1.end_key = r2.start_key AND r1.end_label = r2.start_label
)
SELECT start_label, start_key,
       count(*) AS n_paths,
       count(DISTINCT end_key) AS n_two_hop
FROM p GROUP BY 1, 2
""",
    covers=("C2", "G.graph.twohop"),
)
def q_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability counts over the metadata graph: one edge-list
    self-join (end -> start) + grouped count/distinct — e.g. a Schema
    node's 2-hop set is every column/description under its tables.  At
    graph scale the self-join shuffles the edge list twice on node key;
    for power-law graphs pre-aggregate the high-degree hub side first
    (the same skew playbook as operators/skew.py)."""
    rels = to_relations(table_metadata(catalog_columns(spark, sf_dir)))
    r1 = rels.select(F.col("start_label"), F.col("start_key"),
                     F.col("end_label").alias("m_label"),
                     F.col("end_key").alias("m_key"))
    r2 = rels.select(F.col("start_label").alias("m_label"),
                     F.col("start_key").alias("m_key"),
                     F.col("end_key").alias("end_key"))
    return (r1.join(F.broadcast(r2), ["m_label", "m_key"])
            .groupBy("start_label", "start_key")
            .agg(F.count(F.lit(1)).alias("n_paths"),
                 F.count_distinct("end_key").alias("n_two_hop")))


_PR_STEP = """
SELECT nodes.k,
       0.15 / (SELECT n FROM nn)
       + 0.85 * coalesce(sum({prev}.pr / od.out_deg), 0) AS pr
FROM nodes
LEFT JOIN rels ON rels.end_key = nodes.k
LEFT JOIN {prev} ON {prev}.k = rels.start_key
LEFT JOIN od ON od.k = rels.start_key
GROUP BY nodes.k
"""


@register(
    "metadata_graph_pagerank",
    oracle=_GRAPH_PREFIX + """,
nodes AS (SELECT start_key AS k FROM rels UNION SELECT end_key FROM rels),
nn AS (SELECT count(*) AS n FROM nodes),
od AS (SELECT start_key AS k, count(*) AS out_deg FROM rels GROUP BY 1),
p0 AS (SELECT k, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
p1 AS (""" + _PR_STEP.format(prev="p0") + """),
p2 AS (""" + _PR_STEP.format(prev="p1") + """),
p3 AS (""" + _PR_STEP.format(prev="p2") + """)
SELECT k AS node_key, round(pr, 6) AS pagerank FROM p3
""",
    covers=("C2", "G.graph.pagerank"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node importance over the generated metadata graph: three power
    iterations of PageRank (operators/graph.py pagerank).  Edges point
    Table->Column->Description, so rank flows into the leaves while the
    teleport floor keeps the Table sources nonzero.  A fixed iteration
    count (not convergence-to-epsilon) is the contract, so the DuckDB
    oracle can unroll the SAME three steps as chained CTEs and the value
    hashes must agree — a genuinely iterative distributed algorithm
    checked value-for-value against a non-iterative engine."""
    return pagerank(
        to_relations(table_metadata(catalog_columns(spark, sf_dir))))


_TC_RECURSION = """
reach(root, node, depth) AS (
  SELECT start_key, end_key, 1 FROM rels WHERE start_label = 'Table'
  UNION ALL
  SELECT r.root, e.end_key, r.depth + 1
  FROM reach r JOIN rels e ON e.start_key = r.node)
SELECT root, node, min(depth) AS depth
FROM reach GROUP BY root, node
"""


@register(
    "metadata_graph_closure",
    oracle=(_GRAPH_PREFIX.replace("WITH ", "WITH RECURSIVE ", 1)
            + ",\n" + _TC_RECURSION),
    covers=("C2", "G.sql.recursive_cte"),
)
def q_graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the metadata graph via Spark 4's NATIVE
    recursive CTE (`WITH RECURSIVE`): everything reachable from each
    Table node with its minimum hop depth.  Same SQL dialect runs on
    both engines — Spark executes the recursion as an iterative
    union-loop of joins (each level is a distributed join against the
    full edge relation), DuckDB as its own recursive operator; the
    min-depth aggregate makes the result path-multiplicity-independent.

    Complements graph_bfs_distance (the hand-rolled driver-loop BFS):
    same algorithmic shape, but here the ENGINE owns the loop —
    termination on empty frontier, no fixed hop budget.  At 100 TB the
    per-level join shuffles on node key exactly like the manual loop;
    prefer the manual loop when you need checkpointing or frontier
    dedup that the CTE planner doesn't yet do."""
    rels = to_relations(table_metadata(catalog_columns(spark, sf_dir)))
    rels.createOrReplaceTempView("rels")
    return spark.sql("WITH RECURSIVE " + _TC_RECURSION)


@register(
    "metadata_profile_columns",
    oracle="""
WITH tall AS (
  SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS val FROM customer
  UNION ALL SELECT 'c_name', c_name FROM customer
  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer)
SELECT col_name, count(*) AS n_rows,
       CAST(coalesce(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
       count(DISTINCT val) AS n_distinct,
       min(val) AS min_value, max(val) AS max_value
FROM tall GROUP BY col_name
""",
    covers=("G.profile.columns",),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats profile of the customer table — the catalog-stats
    companion to the schema extraction queries (A2/B1): row counts, null
    counts, exact distincts, string-cast min/max for EVERY column from
    one unpivot + one groupBy (operators/profile.py).  The oracle
    rebuilds the same stats from a UNION ALL per column — different
    shape (5 scans vs 1), same values, so the unpivot math is what's
    actually verified."""
    from ab_metadata_pusher_spark.operators.profile import profile_columns
    from ab_metadata_pusher_spark.sources.fixtures import load_table
    return profile_columns(load_table(spark, sf_dir, "customer"))


#: Candidate (child_table, child_col, parent_table, parent_col) pairs the
#: FK-inference profiler scores.  A real catalog crawler would enumerate
#: type-compatible column pairs; the fixed list keeps the fixture query
#: deterministic while exercising true FKs, a reversed (non-FK)
#: direction, and an unrelated pair.
_FK_CANDIDATES = (
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),   # reversed
    ("orders", "o_orderkey", "customer", "c_custkey"),      # unrelated
)


def _fk_sql() -> str:
    selects = []
    for ct, cc, pt, pc in _FK_CANDIDATES:
        selects.append(f"""
SELECT '{ct}' AS child_table, '{cc}' AS child_col,
       '{pt}' AS parent_table, '{pc}' AS parent_col,
       (SELECT count(DISTINCT {cc}) FROM {ct}) AS n_child_distinct,
       (SELECT count(*) FROM (SELECT DISTINCT {cc} FROM {ct}) c
        WHERE c.{cc} IN (SELECT {pc} FROM {pt})) AS n_contained,
       round((SELECT count(*) FROM (SELECT DISTINCT {cc} FROM {ct}) c
              WHERE c.{cc} IN (SELECT {pc} FROM {pt}))
             * 1.0 / (SELECT count(DISTINCT {cc}) FROM {ct}), 4)
         AS inclusion""")
    return "\nUNION ALL".join(selects)


@register("metadata_fk_inference", oracle=_fk_sql(),
          covers=("G.metadata.fk_inference",))
def q_metadata_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key candidate inference by inclusion coefficient — the
    profiling step catalog systems (Amundsen-adjacent) run to propose
    table relationships the source DB never declared: for each candidate
    column pair, |distinct(child) ⊆ parent| / |distinct(child)|.
    Inclusion 1.0 marks an FK candidate; the list deliberately includes
    a reversed direction and an unrelated pair so the score separates.

    Spark shape per pair: distinct on the child column (digest-sized
    shuffle), a left-semi join against the parent key (broadcast — key
    columns are dimension-sized), two counts, one row out.  Pairs union
    into one plan, so Spark schedules the tiny jobs concurrently.  The
    per-column distinct frames are computed ONCE and shared through the
    materialization selector (r7): each child frame is referenced twice
    (semi join + count) and key columns recur across pairs (a warehouse
    run checks hundreds of pairs over dozens of columns), so the
    unshared form re-ran scan+distinct per REFERENCE — 12 distinct
    builds here became 9 unique ones, each built once.  At warehouse
    scale the same plan runs per type-compatible pair batch with
    approx_count_distinct as the pre-filter."""
    from ab_metadata_pusher_spark.operators._shared import materialize_shared
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    # LOAD-BEARING: every frame built here must stay DISTINCT — the
    # one-pass count below is exact only because the left join against a
    # distinct parent key is one-to-one (r13 ADVICE made the dependency
    # explicit; the .distinct() on the next line is what guarantees it).
    col_distinct: dict[tuple[str, str], DataFrame] = {}
    for ct, cc, pt, pc in _FK_CANDIDATES:
        for t, c in ((ct, cc), (pt, pc)):
            if (t, c) not in col_distinct:
                col_distinct[(t, c)] = materialize_shared(
                    load_table(spark, sf_dir, t).select(c).distinct())

    out = None
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = col_distinct[(ct, cc)]
        parent = col_distinct[(pt, pc)]
        # ONE pass per pair (r13): a left-outer broadcast join against
        # the DISTINCT parent key is one-to-one by construction, so a
        # single aggregate yields both counts — count(1) is the child
        # distinct count, count(parent_key) counts exactly the child
        # values contained in the parent (an equi-join never matches
        # NULL).  The previous shape (semi-join + two aggregates + a
        # 1-row join) paid two aggregation exchanges and a join per
        # pair for the same two numbers.
        row = (child.join(F.broadcast(parent),
                          child[cc] == parent[pc], "left")
               .agg(F.count(F.lit(1)).alias("n_child_distinct"),
                    F.count(parent[pc]).alias("n_contained")))
        row = row.select(
            F.lit(ct).alias("child_table"), F.lit(cc).alias("child_col"),
            F.lit(pt).alias("parent_table"), F.lit(pc).alias("parent_col"),
            "n_child_distinct", "n_contained",
            F.round(F.col("n_contained") / F.col("n_child_distinct"), 4)
             .alias("inclusion"))
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "metadata_masked_view",
    oracle="""
SELECT c.c_custkey,
       substr(md5(c.c_name), 1, 12) AS name_token,
       CAST(floor(c.c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band,
       r.r_name AS region,
       c.c_mktsegment
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
""",
    covers=("G.metadata.masking",),
)
def q_metadata_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving analytics view over the customer dimension —
    the governance surface a metadata catalog drives: pseudonymize the
    direct identifier (keyed md5 token: joinable across tables, not
    reversible), band the numeric quasi-identifier (1000-wide balance
    buckets), and GENERALIZE the geographic one (nation -> region, the
    k-anonymity ladder step), keeping analysis columns as-is.  The same
    SELECT is what a view-based row/column security layer compiles to.

    All masking is JVM expression work on a dimension table; the two
    generalization joins broadcast (25- and 5-row sides).  At 100 TB the
    masked VIEW costs nothing at rest — it re-derives on read, and
    predicate pushdown still reaches the base scan through it."""
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (c.join(F.broadcast(n),
                   c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select(
                "c_custkey",
                F.substring(F.md5(F.col("c_name").cast("binary")), 1, 12)
                 .alias("name_token"),
                (F.floor(F.col("c_acctbal") / 1000) * 1000)
                 .cast("bigint").alias("acctbal_band"),
                F.col("r_name").alias("region"),
                "c_mktsegment"))


# --------------------------------------------------------------------------
# Envelope chunking law (sinks/envelope.py) as a driver-scoreable query
# --------------------------------------------------------------------------

#: Deliberately small packing bound so the metadata-sized record stream
#: splits into several envelopes at every SF (at the production default,
#: SQS_HARD_LIMIT - 4 KiB, the whole catalog graph fits in one chunk and
#: the greedy law would go unexercised).  The LAW under test — greedy
#: packing into max_bytes minus the serialized-empty-envelope overhead,
#: nodes before relations — is byte-for-byte the production path.
_CHUNK_MAX_BYTES = 4096
_CHUNK_TAG = "chunking-audit"

#: The empty-envelope skeleton the oracle charges as fixed overhead —
#: stated INDEPENDENTLY as a SQL literal (not generated by calling
#: envelope_json) so the oracle re-derives the law rather than echoing
#: the engine: json.dumps sorted-key compact form of
#: {"chunk":0,"nodes":[],"of":10**9,"tag":tag} with both record arrays
#: empty.  If sinks/envelope.py ever changes its serialization or
#: overhead accounting, the driver hash goes red here.
_CHUNK_BASE_JSON = ('{"chunk":0,"nodes":[],"of":1000000000,'
                    '"relations":[],"tag":"' + _CHUNK_TAG + '"}')

_CHUNKING_SQL = ("WITH RECURSIVE " + catalog_values_cte() + "," + _PROJ_CTE
                 + ",\nnodes AS (" + _NODES_BODY + "),\nrels AS ("
                 + _REL_BODY + ")" + f""",
recs AS MATERIALIZED (
  -- MATERIALIZED: the recursive packer below references recs once per
  -- step; inlined, every step re-ran the whole nodes/rels JSON pipeline
  -- (the sample_kcenter oracle lesson) — measured 1.9s -> 0.3s.
  SELECT row_number() OVER (ORDER BY grp, ord1, ord2) AS rn,
         CAST(octet_length(encode(j)) + 1 AS BIGINT) AS sz
  FROM (
    SELECT 0 AS grp, label AS ord1, key AS ord2,
           to_json(struct_pack(
             col_type := col_type, description := description,
             is_view := is_view, key := key, label := label,
             name := name, sort_order := sort_order))::VARCHAR AS j
    FROM nodes
    UNION ALL
    SELECT 1, start_key, end_key,
           to_json(struct_pack(
             end_key := end_key, end_label := end_label,
             reverse_type := reverse_type, start_key := start_key,
             start_label := start_label, type := type))::VARCHAR
    FROM rels) u
),
budget AS MATERIALIZED (
  SELECT {_CHUNK_MAX_BYTES} - octet_length(encode('{_CHUNK_BASE_JSON}')) AS b
),
pack AS (
  SELECT rn, sz, sz AS cur, 1 AS chunk FROM recs WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.sz,
         CASE WHEN p.cur + r.sz > (SELECT b FROM budget)
              THEN r.sz ELSE p.cur + r.sz END,
         CASE WHEN p.cur + r.sz > (SELECT b FROM budget)
              THEN p.chunk + 1 ELSE p.chunk END
  FROM pack p JOIN recs r ON r.rn = p.rn + 1
)
SELECT CAST(max(chunk) AS BIGINT) AS n_envelopes,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST((SELECT max(s) FROM (
              SELECT sum(sz) AS s FROM pack GROUP BY chunk) g)
            AS BIGINT) AS max_payload_bytes,
       CAST(max(sz) AS BIGINT) AS max_record_bytes,
       (SELECT max(s) FROM (
          SELECT sum(sz) AS s FROM pack GROUP BY chunk) g)
         <= (SELECT b FROM budget) AS within_budget
FROM pack
""")


@register("sink_envelope_chunking", oracle=_CHUNKING_SQL,
          covers=("E2", "E3", "D2"))
def q_sink_envelope_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 256 KiB envelope packing law as a hash-checkable driver row:
    run the REAL sink path (graph nodes/relations -> sorted Arrow
    collect -> sinks/envelope.py ``pack_tables``, the columnar encoder
    ``publish_collected`` uses -> greedy packing) and report the packing
    outcome — envelope count, record count, largest packed payload,
    largest single record, and the budget invariant — as one flat row.
    The DuckDB oracle RE-DERIVES the law from scratch: it rebuilds the
    same records, measures each record's serialized size with its own
    to_json (byte-identical to the sink's sorted-key compact record
    text), and replays the greedy fold as a recursive CTE against
    an independently stated overhead literal.  Any drift in record
    serialization, size accounting (+1 comma), overhead, or the
    pack-then-flush order shows up as a hash mismatch.

    This intentionally exercises ``publish_collected``'s regime — the
    reference's own (its publisher collects the whole catalog graph
    driver-side, publisher/aws_sqs_csv_puiblisher.py:99-143) — so the
    bounded ``collect()`` here is the documented contract, not a scale
    leak; at corpus scale ``publish_distributed`` packs per-partition
    with executor-side ``pack_envelopes`` and chunk ids are only unique
    within (tag, partition), which is exactly why THAT path is not
    hash-checkable and this one is.  Record order is pinned (nodes by
    (label, key), relations by (start_key, end_key), nodes before
    relations) so the greedy fold is deterministic on both engines."""
    import json as _json

    from ab_metadata_pusher_spark.sinks.envelope import (
        _record_size, pack_tables,
    )

    tm = table_metadata(catalog_columns(spark, sf_dir))
    nodes = to_nodes(tm).orderBy("label", "key")
    rels = to_relations(tm).orderBy("start_key", "end_key")
    bodies = list(pack_tables(nodes.toArrow(), rels.toArrow(), _CHUNK_TAG,
                              _CHUNK_MAX_BYTES))
    payloads: list[int] = []
    n_records = 0
    max_rec = 0
    for body in bodies:
        env = _json.loads(body)
        recs = env["nodes"] + env["relations"]
        sizes = [_record_size(r) for r in recs]
        n_records += len(recs)
        payloads.append(sum(sizes))
        max_rec = max(max_rec, max(sizes))
    base = len(_CHUNK_BASE_JSON.encode("utf-8"))
    row = [(len(bodies), n_records, max(payloads), max_rec,
            max(payloads) <= _CHUNK_MAX_BYTES - base)]
    return spark.createDataFrame(
        row, schema="n_envelopes bigint, n_records bigint, "
                    "max_payload_bytes bigint, max_record_bytes bigint, "
                    "within_budget boolean")
