"""Sinks — exporter analogs (SURVEY §2.1 S5/S6/S7).

On a production deployment each sink is an Iceberg table append
(``df.writeTo(name).append()``) whose snapshot commit is atomic, giving
the exactly-once half of the checkpoint protocol. This sandbox has no
Iceberg runtime jars, so :class:`TableCatalog` provides the same
interface over parquet directories with an idempotent, deterministic
**overwrite-by-run** layout: a sink write for (run_id, sink) always
lands in the same directory and is atomic at the directory-replace
level — re-running a failed stage cannot double-append, which is the
property the reference's persistent-queue ack protocol exists to provide
(exporter/exporterhelper/internal/queue/persistent_queue.go:321-428).

``maxRecordsPerFile`` plays the reference's send_batch_max_size role
(processor/batchprocessor/config.go:26-29): bounds output file size so
downstream readers get uniform splits.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class TableCatalog:
    """Minimal warehouse over a base directory (Iceberg-shaped API)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def overwrite(self, table: str, df: DataFrame, max_records_per_file: int = 0,
                  partition_by: list[str] | None = None) -> None:
        """Idempotent full-replace write (deterministic target → re-runs
        converge instead of duplicating)."""
        w = df.write.mode("overwrite")
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path(table))

    def overwrite_bucketed(
        self,
        table: str,
        df: DataFrame,
        buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
        max_records_per_file: int = 0,
    ) -> None:
        """Hash-bucketed table write (``bucketBy`` + ``saveAsTable``):
        two tables bucketed identically on the join key join with NO
        exchange on either side — the co-located fact-fact join that a
        100 TB warehouse needs (a plain join of two 50 TB tables
        shuffles both; bucketed, each task reads matching bucket files
        directly). ``sort_cols`` additionally pre-sorts within buckets
        so the merge join skips its sort. Bucket metadata lives in the
        session catalog (local sandbox); on a real deployment this is
        an Iceberg bucket-partitioned table, same plan shape."""
        name = table.replace("/", "_").replace("-", "_")
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self.path(table))
        )
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        w = w.bucketBy(buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(name)

    def read_table(self, table: str) -> DataFrame:
        """Catalog read — REQUIRED for bucketed tables: the bucket spec
        rides the catalog entry, so ``spark.read.parquet`` on the same
        path would silently lose the no-shuffle join property."""
        return self.spark.table(table.replace("/", "_").replace("-", "_"))

    def overwrite_partitioned(
        self, tables: dict[str, str], df: DataFrame, by: str,
        max_records_per_file: int = 0,
    ) -> None:
        """Fan-out write: ONE partitioned Spark write of ``df``, published
        as one table per value of column ``by`` (``tables`` maps value →
        table) — N tables from one pass instead of N filtered writes.

        The write lands in a staging directory inside the warehouse; each
        ``by=<value>/`` directory is then renamed into place, replacing
        its table (no data is copied). ``by`` is a Hive partition column,
        so it is not stored in the files: each table has the schema of
        ``df.drop(by)``. A value with no rows gets no directory from the
        write, so its table is written empty with that schema. Rows whose
        value is not in ``tables`` are discarded with the staging
        directory. Tables not named in ``tables`` are never touched."""
        for value in tables:
            # the publish looks the value up as a directory name, so it
            # must be one that Spark writes without escaping
            if not re.fullmatch(r"[A-Za-z0-9_.-]+", value):
                raise ValueError(f"partition value {value!r} is not path-safe")
        staging = f"_staging_{uuid.uuid4().hex}"
        try:
            self.overwrite(staging, df, max_records_per_file, partition_by=[by])
            for value, table in tables.items():
                part = os.path.join(self.path(staging), f"{by}={value}")
                if os.path.isdir(part):
                    self._publish(part, table)
                else:
                    self.overwrite_empty(table, df.drop(by).schema)
        finally:
            shutil.rmtree(self.path(staging), ignore_errors=True)

    def overwrite_empty(self, table: str, schema: StructType) -> None:
        """Zero-row table with ``schema``, written locally with pyarrow —
        what an empty Spark write leaves, without paying a job for it."""
        from pyspark.sql.pandas.types import to_arrow_schema

        self._write_arrow(table, to_arrow_schema(schema).empty_table())

    def overwrite_local(
        self, table: str, rows: list[tuple], schema: list[tuple[str, str]]
    ) -> None:
        """Driver-side metadata table write (pyarrow, no Spark job) —
        for tiny O(stages) tables like lineage/file_stats, the way
        Iceberg writes manifest metadata alongside data files."""
        import pyarrow as pa

        arrays = {
            name: pa.array([r[i] for r in rows], type=getattr(pa, typ)())
            for i, (name, typ) in enumerate(schema)
        }
        self._write_arrow(table, pa.table(arrays))

    def _write_arrow(self, table: str, data) -> None:
        """Write a pyarrow table as the whole of ``table``: write-then-
        rename of the directory."""
        import pyarrow.parquet as pq

        tmp = self.path(table) + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(data, os.path.join(tmp, "part-00000.parquet"))
        self._publish(tmp, table)

    def _publish(self, src: str, table: str) -> None:
        """Make directory ``src`` the table: mark it committed, then
        replace the table's directory with it."""
        with open(os.path.join(src, "_SUCCESS"), "w"):
            pass
        target = self.path(table)
        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.replace(src, target)

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )


def debug_format(df: DataFrame, verbosity: str = "normal") -> DataFrame:
    """Debug exporter line rendering (exporter/debugexporter/internal/
    normal/logs.go:24-47): one line per record, ``<body> key=value ...``
    with attributes in insertion order. Our attrs map uses a fixed key
    order, so we render the known keys in that order.
    """
    from pyspark.sql import functions as F

    if verbosity == "basic":
        # basic = just counts (debugexporter/exporter.go:88-95)
        return df.groupBy().agg(F.count(F.lit(1)).alias("resource_logs"))
    body = F.col("text")
    attr_str = F.concat_ws(
        " ",
        F.transform(
            F.map_entries(F.col("attrs")),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
    )
    return df.select(
        F.concat_ws(" ", body, attr_str).alias("line"),
        "conv_id", "turn_idx",
    )
