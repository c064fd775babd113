"""Staging area: the loader/publisher handoff as a first-class artifact
(SURVEY.md §2.D D1/D2, §3 EP3).

The reference stages graph CSVs in two directories (nodes/, relationships/
— job/sample_mysql_aws_sqs_job.py:43-45,54-57) so a publisher-only job can
re-publish without re-extracting (job/customized_job.py:65-67).  Here:

* canonical staging is **parquet partitioned by label** — typed columns,
  column pruning, partition pruning on label;
* a **legacy CSV mode** reproduces the reference's on-disk contract:
  one header'd CSV per label with ``LABEL``/``KEY`` columns and the
  ``:UNQUOTED`` suffix marking non-string properties
  (publisher/aws_sqs_csv_puiblisher.py:43-51), and the empty-string-
  not-null convention (na_filter=False, :158);
* ``read_*`` functions restore the exact engine schema from either format,
  so publish-only pipelines (EP3) are lossless.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["StagingArea"]

#: Schema sidecar of a staged frame (underscore prefix: Spark readers
#: skip it, like ``_SUCCESS``).
_SCHEMA = "_schema.json"

_NUMERIC_TYPES = (T.IntegerType, T.LongType, T.DoubleType, T.FloatType,
                  T.BooleanType, T.ShortType, T.ByteType, T.DecimalType)


def _write_schema(path: str, schema: T.StructType,
                  name: str = _SCHEMA) -> None:
    with open(os.path.join(path, name), "w", encoding="utf-8") as f:
        f.write(schema.json())


def _read_schema(sidecar: str) -> T.StructType:
    with open(sidecar, encoding="utf-8") as f:
        return T.StructType.fromJson(json.load(f))


class StagingArea:
    """A (nodes, relations) staging directory pair.

    Parquet staging is **versioned**: each ``write`` lands both frames
    under a fresh ``versions/<id>/`` directory and then atomically updates
    the ``CURRENT`` pointer file (write-temp + ``os.replace``).  A crash
    between the nodes and relations writes therefore can NOT corrupt the
    re-publishable artifact — readers keep resolving the last fully
    committed version (the restartability contract EP3 depends on; the
    reference got this for free by never overwriting mid-job).

    Every ``write`` also leaves a ``_schema.json`` sidecar beside each
    frame's parquet, before the pointer flips, so the read-back takes
    its schema from the sidecar and launches no Spark job (schema
    inference reads the parquet footers in a job per frame).  A version
    staged without sidecars reads back by inference.
    """

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        # legacy-CSV mode keeps the reference's flat two-dir layout
        self.nodes_dir = os.path.join(base_dir, "nodes")
        self.relations_dir = os.path.join(base_dir, "relationships")
        self._current = os.path.join(base_dir, "CURRENT")

    # -- canonical parquet staging (versioned, atomically committed) -------

    def _version_dir(self, version: str) -> str:
        return os.path.join(self.base_dir, "versions", version)

    def _resolve(self) -> str:
        with open(self._current, encoding="utf-8") as f:
            return self._version_dir(f.read().strip())

    def write(self, nodes: DataFrame, relations: DataFrame) -> None:
        """Partitioned-by-label parquet under a new version, each frame
        with its schema sidecar; the CURRENT pointer flips only after
        BOTH writes succeed."""
        version = uuid.uuid4().hex[:12]
        vdir = self._version_dir(version)
        nodes_dir = os.path.join(vdir, "nodes")
        nodes.write.mode("overwrite").partitionBy("label").parquet(nodes_dir)
        # partitionBy matches the column case-insensitively and reads it
        # back last, under the name it was given
        data = [f for f in nodes.schema if f.name.lower() != "label"]
        label = [f for f in nodes.schema if f.name.lower() == "label"][0]
        _write_schema(nodes_dir, T.StructType(
            data + [T.StructField("label", label.dataType)]))
        relations_dir = os.path.join(vdir, "relationships")
        relations.write.mode("overwrite").parquet(relations_dir)
        _write_schema(relations_dir, relations.schema)
        os.makedirs(self.base_dir, exist_ok=True)
        tmp = self._current + f".tmp.{version}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(version)
        os.replace(tmp, self._current)

    def _read_staged(self, spark: SparkSession, name: str) -> DataFrame:
        path = os.path.join(self._resolve(), name)
        sidecar = os.path.join(path, _SCHEMA)
        if not os.path.exists(sidecar):
            # staged before sidecars existed: infer from the footers
            return spark.read.parquet(path)
        return spark.read.schema(_read_schema(sidecar)).parquet(path)

    def read_nodes(self, spark: SparkSession) -> DataFrame:
        return self._read_staged(spark, "nodes")

    def read_relations(self, spark: SparkSession) -> DataFrame:
        return self._read_staged(spark, "relationships")

    # -- interchange formats (ORC / JSON-lines) ----------------------------

    _INTERCHANGE_FORMATS = ("orc", "json")

    def write_interchange(self, nodes: DataFrame, relations: DataFrame,
                          fmt: str = "json") -> None:
        """Alternative staging encodings for downstream systems that can't
        read parquet: ORC (self-describing columnar, types survive natively)
        or JSON-lines (one record per line — the same record shape the SQS
        envelope carries, aws_sqs_csv_puiblisher.py:157-159).  JSON is
        schemaless on disk, so the engine schema is written to a
        ``_engine_schema.json`` sidecar inside the directory (underscore
        prefix: Spark readers ignore it as metadata, like ``_SUCCESS``)
        and the read path restores the exact pre-staging schema from it."""
        if fmt not in self._INTERCHANGE_FORMATS:
            raise ValueError(f"unsupported interchange format: {fmt!r}")
        for df, name in ((nodes, "nodes"), (relations, "relationships")):
            path = os.path.join(self.base_dir, f"{name}_{fmt}")
            df.write.mode("overwrite").format(fmt).save(path)
            if fmt == "json":
                _write_schema(path, df.schema, "_engine_schema.json")

    def _read_interchange(self, spark: SparkSession, name: str,
                          fmt: str) -> DataFrame:
        path = os.path.join(self.base_dir, f"{name}_{fmt}")
        if fmt == "json":
            schema = _read_schema(os.path.join(path, "_engine_schema.json"))
            return spark.read.schema(schema).json(path)
        return spark.read.format(fmt).load(path)

    def read_interchange_nodes(self, spark: SparkSession,
                               fmt: str = "json") -> DataFrame:
        return self._read_interchange(spark, "nodes", fmt)

    def read_interchange_relations(self, spark: SparkSession,
                                   fmt: str = "json") -> DataFrame:
        return self._read_interchange(spark, "relationships", fmt)

    # -- legacy CSV mode (reference on-disk contract) ----------------------

    def write_legacy_csv(self, nodes: DataFrame, relations: DataFrame) -> None:
        """Reference-compatible CSV staging.

        Per the publisher contract (aws_sqs_csv_puiblisher.py:43-51):
        node files carry ``LABEL``/``KEY`` columns; non-string property
        headers get the ``:UNQUOTED`` suffix (type info lives in the header
        name, not a schema).  NULL -> '' on write (na_filter=False parity).
        """
        self._write_legacy(nodes.withColumnsRenamed(
            {"label": "LABEL", "key": "KEY"}), f"{self.nodes_dir}_csv")
        self._write_legacy(relations.withColumnsRenamed(
            {"start_label": "START_LABEL", "start_key": "START_KEY",
             "end_label": "END_LABEL", "end_key": "END_KEY",
             "type": "TYPE", "reverse_type": "REVERSE_TYPE"}),
            f"{self.relations_dir}_csv")

    @staticmethod
    def _write_legacy(df: DataFrame, path: str) -> None:
        renames = {}
        for field in df.schema.fields:
            if isinstance(field.dataType, _NUMERIC_TYPES):
                renames[field.name] = f"{field.name}:UNQUOTED"
        out = df.withColumnsRenamed(renames)
        # Empty-string-not-null: the reference reads CSVs with
        # na_filter=False so consumers see '' where we'd have NULL.
        out = out.select(*[
            F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("")).alias(c)
            for c in out.columns
        ])
        (out.coalesce(1).write.mode("overwrite")
         .option("header", True).option("emptyValue", "")
         .csv(path))

    #: engine types for :UNQUOTED columns (the header marker says only
    #: "non-string"; the exact type comes from the node/relation contract)
    _LEGACY_TYPES = {"sort_order": "int", "is_view": "boolean"}

    def _read_legacy(self, spark: SparkSession, path: str,
                     renames: dict[str, str]) -> DataFrame:
        """Strip ``:UNQUOTED`` suffixes, restore engine types, and enforce
        the empty-string-not-null invariant for string columns.

        Spark's CSV reader maps empty fields to NULL; the reference reads
        with ``na_filter=False`` (empty string, never null —
        aws_sqs_csv_puiblisher.py:158).  Typed columns go the other way:
        '' -> NULL via the cast, restoring the exact pre-staging schema.
        """
        raw = spark.read.option("header", True).csv(path)
        cols = []
        for c in raw.columns:
            unquoted = c.endswith(":UNQUOTED")
            base = c[: -len(":UNQUOTED")] if unquoted else c
            base = renames.get(base, base)
            col = F.col(f"`{c}`")
            typ = self._LEGACY_TYPES.get(base)
            if typ is not None:
                cols.append(col.cast(typ).alias(base))
            else:
                cols.append(F.coalesce(col, F.lit("")).alias(base))
        return raw.select(*cols)

    def read_legacy_nodes(self, spark: SparkSession) -> DataFrame:
        return self._read_legacy(spark, f"{self.nodes_dir}_csv",
                                 {"LABEL": "label", "KEY": "key"})

    def read_legacy_relations(self, spark: SparkSession) -> DataFrame:
        return self._read_legacy(
            spark, f"{self.relations_dir}_csv",
            {"START_LABEL": "start_label", "START_KEY": "start_key",
             "END_LABEL": "end_label", "END_KEY": "end_key",
             "TYPE": "type", "REVERSE_TYPE": "reverse_type"})
