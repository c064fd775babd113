"""TableMetadata -> property-graph nodes/relations (SURVEY.md §2.C C2).

The reference's loader flattens each nested TableMetadata record into graph
node + relationship CSV rows with deterministic URI-style keys (loader
imported at job/sample_mysql_aws_sqs_job.py:9; the LABEL/KEY column contract
declared at publisher/aws_sqs_csv_puiblisher.py:43-51; key shape
``{database}://{cluster}.{schema}/{table}[/{column}]``).

Here the flattening is one ``Generate``: each output is a single
``inline(concat(...))`` SQL expression over the table_metadata rows
(``array(...)`` for the Table node, ``IF(description != '', ...)`` for its
description, ``transform(columns, ...)`` for the Column nodes and edges,
``transform(filter(columns, ...), ...)`` for the column descriptions), so
the plan carries no ``Union`` and no second read of the upstream
aggregation: one plan per output, built with one driver->JVM call, whose
only shuffle is table_metadata's own ``Exchange``.  Properties are really
typed (sort_order int, is_view boolean) — the reference's ``:UNQUOTED``
CSV-header typing hack is only re-created in the legacy CSV writer
(sinks/staging.py), never in the engine.

Node labels: Table, Column, Description.  Description nodes exist only for
non-empty descriptions, keyed ``<parent_key>/_description`` — matching the
Databuilder graph shape (SURVEY.md §1.1b).

Relations (FIXTURES.md B4): Table-[COLUMN/COLUMN_OF]->Column and
parent-[DESCRIPTION/DESCRIPTION_OF]->Description.

Precondition: one input row per table key.  table_metadata groups by the
table identity plus (description, is_view), and every source here (the
parquet catalog, the JDBC catalog shapes) emits one such pair per table,
so each Table node and table-description edge is emitted exactly once
without a de-duplicating shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import (
    materialize_shared, nodeset_hint,
)

__all__ = [
    "table_key", "column_key", "to_nodes", "to_relations",
    "NODE_COLUMNS", "RELATION_COLUMNS", "pagerank",
]

NODE_COLUMNS = ("label", "key", "name", "description", "col_type",
                "sort_order", "is_view")
RELATION_COLUMNS = ("start_label", "start_key", "end_label", "end_key",
                    "type", "reverse_type")


def table_key(database: Column | str = "database",
              cluster: Column | str = "cluster",
              schema: Column | str = "schema",
              table: Column | str = "table_name") -> Column:
    """``{database}://{cluster}.{schema}/{table}`` (SURVEY.md §1.1b)."""
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    return F.concat(c(database), F.lit("://"), c(cluster), F.lit("."),
                    c(schema), F.lit("/"), c(table))


def column_key(table_key_col: Column, col_name: Column) -> Column:
    return F.concat(table_key_col, F.lit("/"), col_name)


#: ``table_key()``/``column_key()`` spelled in SQL over a table_metadata row
#: (``c`` is the lambda variable bound to one element of ``columns``).
_TKEY = "concat(database, '://', cluster, '.', schema, '/', table_name)"
_CKEY = f"concat({_TKEY}, '/', c.name)"


def _node_struct(label: str, key: str, name: str, description: str,
                 col_type: str = "CAST(NULL AS STRING)",
                 sort_order: str = "CAST(NULL AS INT)",
                 is_view: str = "CAST(NULL AS BOOLEAN)") -> str:
    return (f"named_struct('label', '{label}', 'key', {key}, 'name', {name}, "
            f"'description', {description}, 'col_type', {col_type}, "
            f"'sort_order', {sort_order}, 'is_view', {is_view})")


def _edge_struct(start_label: str, start_key: str, end_label: str,
                 end_key: str, rel_type: str, reverse_type: str) -> str:
    return (f"named_struct('start_label', '{start_label}', "
            f"'start_key', {start_key}, 'end_label', '{end_label}', "
            f"'end_key', {end_key}, 'type', '{rel_type}', "
            f"'reverse_type', '{reverse_type}')")


_DESCRIBED_COLUMNS = "filter(columns, c -> c.description != '')"

_NODES_SQL = f"""inline(concat(
  array({_node_struct("Table", _TKEY, "table_name", "description",
                      is_view="is_view")}),
  IF(description != '',
     array({_node_struct("Description", f"concat({_TKEY}, '/_description')",
                         "'_description'", "description")}),
     array()),
  transform(columns, c -> {_node_struct(
      "Column", _CKEY, "c.name", "c.description", col_type="c.col_type",
      sort_order="c.sort_order")}),
  transform({_DESCRIBED_COLUMNS}, c -> {_node_struct(
      "Description", f"concat({_CKEY}, '/_description')", "'_description'",
      "c.description")})))"""

_RELATIONS_SQL = f"""inline(concat(
  transform(columns, c -> {_edge_struct(
      "Table", _TKEY, "Column", _CKEY, "COLUMN", "COLUMN_OF")}),
  IF(description != '',
     array({_edge_struct("Table", _TKEY, "Description",
                         f"concat({_TKEY}, '/_description')",
                         "DESCRIPTION", "DESCRIPTION_OF")}),
     array()),
  transform({_DESCRIBED_COLUMNS}, c -> {_edge_struct(
      "Column", _CKEY, "Description", f"concat({_CKEY}, '/_description')",
      "DESCRIPTION", "DESCRIPTION_OF")})))"""


def to_nodes(tm: DataFrame) -> DataFrame:
    """All graph nodes as one typed DataFrame (FIXTURES.md B3): per table
    row, its Table node, its description node, its Column nodes and their
    description nodes."""
    return tm.selectExpr(_NODES_SQL)


def to_relations(tm: DataFrame) -> DataFrame:
    """All graph relationships as one DataFrame (FIXTURES.md B4)."""
    return tm.selectExpr(_RELATIONS_SQL)


def degrees(relations: DataFrame) -> DataFrame:
    """Per-node in/out degree over a relations frame (start_label,
    start_key, end_label, end_key, ...).

    Two map-side-combinable aggregations + a full-outer join on the node
    key: the shuffles carry (key, count) pairs only.  Degree profiling is
    the first sanity check on any generated property graph (e.g. a Table
    node's out-degree must equal its column count + description edges).
    """
    out_deg = (relations.groupBy(
        F.col("start_label").alias("label"), F.col("start_key").alias("node_key"))
        .agg(F.count(F.lit(1)).alias("out_deg")))
    in_deg = (relations.groupBy(
        F.col("end_label").alias("label"), F.col("end_key").alias("node_key"))
        .agg(F.count(F.lit(1)).alias("in_deg")))
    return (out_deg.join(in_deg, ["label", "node_key"], "full_outer")
            .select("label", "node_key",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def graph_components(relations: DataFrame) -> DataFrame:
    """Connected components of the relation graph, labelling every node
    with the lexicographically smallest key in its component.

    String keys are mapped to dense longs by a row_number over the sorted
    distinct key set, so min-label propagation (operators/dedup.py
    connected_components — the same loop the dedup clusters use) preserves
    "min key wins".  The id-assigning window is single-partition by
    design: the distinct NODE set of a metadata graph is catalog-sized,
    not corpus-sized.  For billion-node graphs swap the window for
    zipWithIndex-per-partition offsets; the propagation loop is unchanged.
    """
    from ab_metadata_pusher_spark.operators.dedup import connected_components
    from pyspark.sql import Window

    nodes = (relations.select(F.col("start_key").alias("node_key"))
             .unionByName(relations.select(F.col("end_key").alias("node_key")))
             .distinct())
    # id_map feeds the edge build (twice), the vertex set, and the final
    # label->key joins; unmaterialized, every consumer replays the
    # upstream graph build + the id-assigning sort.
    id_map = materialize_shared(nodes.withColumn(
        "id", F.row_number().over(Window.orderBy("node_key")).cast("bigint")))
    edges = (relations
             .join(id_map.select(F.col("node_key").alias("start_key"),
                                 F.col("id").alias("src")), "start_key")
             .join(id_map.select(F.col("node_key").alias("end_key"),
                                 F.col("id").alias("dst")), "end_key")
             .select("src", "dst"))
    # metadata graphs are catalog-sized: a handful of shuffle partitions
    # beats CPU-count near-empty ones for the propagation loop
    labels = connected_components(id_map.select("id"), edges,
                                  shuffle_partitions=8)
    roots = id_map.select(F.col("id").alias("label"),
                          F.col("node_key").alias("component_key"))
    # the returned plan still reads id_map twice: a persist-mode frame
    # is released by release_materialized once the result is consumed
    return (id_map.join(labels, "id").join(roots, "label")
            .select("node_key", "component_key"))


def pagerank(relations: DataFrame, iters: int = 3,
             damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a relations frame (start_key ->
    end_key directed edges): ``pr'(v) = (1-d)/N + d * sum_{u->v}
    pr(u)/out_deg(u)``, starting uniform at 1/N.  Dangling-node mass
    (Description nodes have no out-edges) intentionally leaks — the
    contract is the plain power-iteration step, identical on any engine,
    so a fixed iteration count is exactly reproducible.

    Each iteration is ONE shuffle: join current ranks to the out-degree-
    annotated edge list (reused across iterations, so it is materialized)
    and re-aggregate by destination; the left join back to the vertex
    set keeps zero-in-degree nodes at the teleport floor.  N comes from
    a driver-side count — the vertex set of a metadata graph is
    catalog-sized.

    The rank/contribution side of every join is broadcast while the
    vertex count the uniform-rank seed already pays for fits the shared
    node-set budget (``operators/_shared.nodeset_hint`` — the
    LPA/k-core/BFS resource rule): a metadata graph's vertex frame is
    KB-sized, and the hint turns 3 iterations of sort-merge-join chains
    into map-side broadcast joins against the one materialized edge
    list; web-scale rank frames no longer fit one executor and flip to
    the shuffled form.  The vertex set and edge list go through
    ``materialize_shared``, so a persist-mode session releases them with
    ``release_materialized``.  The loop cuts no lineage: at a few
    iterations the unrolled plan stays small, and a cut costs a job.
    """
    edges = relations.select(F.col("start_key").alias("src"),
                             F.col("end_key").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node_key"))
             .unionByName(edges.select(F.col("dst").alias("node_key")))
             .distinct())
    nodes = materialize_shared(nodes)
    n = nodes.count()
    # string-keyed (node_key, double) rank rows: ~64 B with slack
    hint = nodeset_hint(n, 64)
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e = materialize_shared(edges.join(hint(out_deg), "src"))
    teleport = F.lit((1.0 - damping) / n)
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (e.join(hint(pr), e.src == pr.node_key)
                    .select(F.col("dst").alias("node_key"),
                            (F.col("pr") / F.col("out_deg")).alias("c"))
                    .groupBy("node_key")
                    .agg(F.sum("c").alias("in_mass")))
        pr = (nodes.join(hint(contribs), "node_key", "left")
              .select("node_key",
                      (teleport + F.lit(damping)
                       * F.coalesce("in_mass", F.lit(0.0))).alias("pr")))
    return pr.select("node_key", F.round("pr", 6).alias("pagerank"))
