"""catalog_columns — an ``information_schema.columns``-shaped source.

The reference's extractors run a fixed catalog SQL inside MySQL/Postgres
(reference: job/sample_mysql_aws_sqs_job.py:48-53 configures
MysqlMetadataExtractor over INFORMATION_SCHEMA.COLUMNS LEFT OUTER JOIN
INFORMATION_SCHEMA.TABLES; job/sample_postgres_aws_sqs_job.py:49-54 the
Postgres shape).  Without a live RDBMS, the same row shape (FIXTURES.md B1)
is derived from the fixture parquet tables themselves: one row per column,
introspected from the parquet footer (a metadata-only driver-side read — no
data scan), then joined with the deterministic description tables below.

For a live database, sources/jdbc.py builds the equivalent pushed-down JDBC
query; both paths produce identical catalog_columns schemas so the rest of
the pipeline (operators/metadata.py) is source-agnostic.

The derived catalog is one partition: it is driver-sized, and one
partition lets the graph built from it (operators/metadata.py,
operators/graph.py) run without a shuffle (see :func:`catalog_columns`).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ab_metadata_pusher_spark.sources.fixtures import (
    FIXTURE_TABLES, load_table, parquet_footer_path,
)

__all__ = [
    "catalog_columns", "TABLE_DESCRIPTIONS", "COLUMN_DESCRIPTIONS",
    "CATALOG_DATABASE", "CATALOG_CLUSTER", "CATALOG_SCHEMA",
]

#: Constants for the derived catalog (the reference's equivalents come from
#: the DB connection: database literal per extractor, cluster from
#: table_catalog when USE_CATALOG_AS_CLUSTER_NAME, schema from env —
#: job/sample_mysql_aws_sqs_job.py:21-32,50-51).
CATALOG_DATABASE = "spark"
CATALOG_CLUSTER = "testdata"
CATALOG_SCHEMA = "main"

#: Deterministic table/column descriptions — the analogue of the comment
#: columns the reference's catalog SQL left-joins in.  Tables absent here
#: surface a NULL description, exercising the empty-string-not-null CSV
#: invariant (SURVEY.md §1.2).
TABLE_DESCRIPTIONS: dict[str, str] = {
    "orders": "customer orders fact table",
    "lineitem": "order line items fact table",
    "customer": "customer dimension",
    "events": "event stream with JSON props",
}

COLUMN_DESCRIPTIONS: dict[tuple[str, str], str] = {
    ("orders", "o_orderdate"): "order placement timestamp",
    ("lineitem", "l_discount"): "fractional discount in [0,1]",
    ("customer", "c_mktsegment"): "market segment name",
    ("events", "props"): "JSON-encoded event properties",
}

_CATALOG_SCHEMA = T.StructType([
    T.StructField("td_database", T.StringType(), False),
    T.StructField("table_catalog", T.StringType(), False),
    T.StructField("table_schema", T.StringType(), False),
    T.StructField("table_name", T.StringType(), False),
    T.StructField("table_description", T.StringType(), True),
    T.StructField("col_name", T.StringType(), False),
    T.StructField("col_type", T.StringType(), False),
    T.StructField("col_description", T.StringType(), True),
    T.StructField("col_sort_order", T.IntegerType(), False),
    T.StructField("is_view", T.BooleanType(), False),
])

#: Arrow type of each _CATALOG_SCHEMA column, in order.
_ARROW_COLUMN_TYPES = [pa.string()] * 8 + [pa.int32(), pa.bool_()]


#: arrow type name -> Spark DDL simpleString, matching exactly what
#: sources/fixtures.load_table yields (incl. the nanos->NTZ conversion).
_ARROW_TO_SPARK = {
    "int32": "int", "int64": "bigint", "float": "float", "double": "double",
    "string": "string", "large_string": "string", "bool": "boolean",
}


def _spark_type_name(arrow_type) -> str:
    s = str(arrow_type)
    if s.startswith("timestamp"):
        return "timestamp_ntz"
    if s.startswith(("list<", "large_list<")):
        inner = arrow_type.value_type
        return f"array<{_spark_type_name(inner)}>"
    try:
        return _ARROW_TO_SPARK[s]
    except KeyError:
        raise ValueError(f"unmapped arrow type {s!r}") from None


def catalog_columns(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = FIXTURE_TABLES) -> DataFrame:
    """One row per (table, column) of the fixture star schema.

    Mirrors the output of the reference's catalog extraction SQL: ordinal
    positions are 1-based like ``information_schema.columns.ordinal_position``,
    type names are Spark DDL ``simpleString``s carried *as data* (the
    reference likewise carries ``information_schema.columns.data_type`` as a
    string — SURVEY.md §1.2).

    Footers are read driver-side with pyarrow (a pure metadata operation —
    one ``spark.read.parquet(...).schema`` per table launches a Spark job
    each and dominated the flagship query's wall-clock; tested equal in
    tests/test_catalog_introspection.py).  The rows reach Spark as one
    Arrow table, a local relation: reading the frame runs no Python worker
    and no extra Spark job, however many plans read it.

    The relation is returned as ONE partition (``coalesce(1)``).  The
    catalog is driver-sized by construction (one row per column of the
    lake, already held in one Arrow table), so spreading it over the
    default parallelism bought nothing but an Exchange:
    ``table_metadata``'s per-table aggregate now finds its input already
    clustered and plans no shuffle, and each staging write of the graph
    is one shuffle-free job.  Plans that group or join the graph further
    downstream (degrees, two-hop) inherit the one partition too.  A
    catalog graph is thousands of rows, where one task beats a shuffle:
    timed with scripts/ab.py at sf0.1 on a 4-core host, the ``metadata_*``
    heads ran 2-31% faster this way (median of per-pair minimums, none
    slower), with equal output.
    """
    rows = []
    for table in tables:
        # directory-shaped tables (every production table) introspect
        # via one member footer; single files pass through
        schema = pq.read_schema(
            parquet_footer_path(f"{sf_dir}/{table}.parquet"))
        for i, field in enumerate(schema, start=1):
            rows.append((
                CATALOG_DATABASE,
                CATALOG_CLUSTER,
                CATALOG_SCHEMA,
                table,
                TABLE_DESCRIPTIONS.get(table),
                field.name.lower(),
                _spark_type_name(field.type),
                COLUMN_DESCRIPTIONS.get((table, field.name.lower())),
                i,
                False,
            ))
    # Transpose the finished tuples rather than appending to per-column
    # lists in the loop above: the transpose peaks lower on the driver.
    columns = list(zip(*rows)) or [()] * len(_ARROW_COLUMN_TYPES)
    arrow = pa.table([pa.array(c, type=t)
                      for c, t in zip(columns, _ARROW_COLUMN_TYPES)],
                     names=_CATALOG_SCHEMA.names)
    return spark.createDataFrame(arrow, _CATALOG_SCHEMA).coalesce(1)
