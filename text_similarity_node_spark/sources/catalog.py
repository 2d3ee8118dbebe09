"""Checkpoint catalog: durable stage outputs keyed by (table, config_hash).

The north rule requires every stage to be resumable from checkpoint with
per-partition lineage and metrics written to the table store.  On a real
cluster this is an Iceberg catalog (``session.get_spark`` wires it when the
runtime jars are present); in this sandbox the same API is backed by a
Parquet warehouse directory.  The resume contract is identical either way:

    stage output exists for this config_hash  ->  stage is skipped
    (read back instead of recomputed)

Writes go to a temporary location then atomically rename — a killed run
never leaves a half-written table that a resume would trust (the Iceberg
backend gets this from snapshot commits; the Parquet backend emulates it
with dir rename).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, table: str, config_hash: str) -> str:
        return os.path.join(self.warehouse, f"{table}__{config_hash}")

    def exists(self, table: str, config_hash: str) -> bool:
        p = self._path(table, config_hash)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, table: str, config_hash: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table, config_hash))

    def write(self, df: DataFrame, table: str, config_hash: str) -> DataFrame:
        """Atomic write-then-rename; returns the re-read DataFrame (reading
        back cuts lineage — the durable analogue of localCheckpoint).  The
        re-read takes the written frame's schema, so it runs no footer-
        inference job; a resume's ``read`` infers it from the files."""
        final = self._path(table, config_hash)
        tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return self.spark.read.schema(df.schema).parquet(final)

    def append(self, df: DataFrame, table: str) -> None:
        """Append-only sink (metrics / lineage ledgers)."""
        df.write.mode("append").parquet(os.path.join(self.warehouse, table))

    def append_rows(self, rows: list[dict], table: str, schema=None) -> None:
        """Driver-side append of a handful of ledger rows via pyarrow —
        no Spark job.  Ledger rows are tiny and per-stage; routing them
        through a distributed write costs a full job-submission round-trip
        each (measured ~0.5 s apiece, ~12 per pipeline run).  Files are
        plain parquet, readable by read_ledger like any other append.
        ``schema`` is a pyarrow schema; pass it so all-null / absent columns
        keep the ledger's declared types across files."""
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.warehouse, table)
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(tbl, os.path.join(d, f"ledger-{_uuid.uuid4().hex}.parquet"))

    def read_ledger(self, table: str, schema=None) -> DataFrame:
        """A ledger table; pass its ``schema`` (DDL or StructType) to skip
        the footer-inference job."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(os.path.join(self.warehouse, table))

    def drop(self, table: str, config_hash: str) -> None:
        p = self._path(table, config_hash)
        if os.path.exists(p):
            shutil.rmtree(p)

    # -- bucketed tables (co-located joins) -------------------------------

    def _table_name(self, table: str, config_hash: str) -> str:
        return f"{table}__{config_hash}"

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        config_hash: str,
        bucket_col: str,
        n_buckets: int = 32,
    ) -> DataFrame:
        """Durable stage output as a BUCKETED table: rows are hash-
        partitioned into ``n_buckets`` files by ``bucket_col`` and sorted
        within each bucket, and the layout is recorded in the session
        catalog — so every later equi-join or aggregation on
        ``bucket_col`` against this table skips its shuffle exchange
        (Catalyst reads the bucket spec and plans a sort-merge join with
        the bucketed side exchange-free; tests/test_bucketing.py asserts
        this at the plan level).  This is the 100-TB lever for stores
        that are re-joined on the same key every run — signature /
        document stores re-attached to candidate pairs, streaming stores
        re-probed per batch: pay the partitioning once at write, not per
        join.  On Iceberg the same declaration is the table's
        ``bucket(N, col)`` partition transform.

        Bucketed output requires ``saveAsTable`` (plain parquet writes
        drop the bucket spec); the table is external, its files live
        under the warehouse path like every other checkpoint."""
        name = self._table_name(table, config_hash)
        path = self._path(table, config_hash)
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .format("parquet")
            .saveAsTable(name)
        )
        return self.spark.table(name)

    def read_bucketed(self, table: str, config_hash: str) -> DataFrame:
        """Read a bucketed stage output THROUGH the catalog (reading the
        path directly would discard the bucket spec and re-introduce the
        shuffle).  A fresh driver session has no table registration for
        files written by an earlier session — fall back to the plain path
        read there: same rows, only the co-location benefit is lost."""
        name = self._table_name(table, config_hash)
        if self.spark.catalog.tableExists(name):
            return self.spark.table(name)
        return self.read(table, config_hash)

    def bucketed_exists(self, table: str, config_hash: str) -> bool:
        """True only when the session-catalog registration exists, THIS
        warehouse's files exist, and the registration points at this
        warehouse — a stale registration left by an earlier run against a
        different (possibly cleaned-up) warehouse must not satisfy a
        resume check."""
        name = self._table_name(table, config_hash)
        if not (
            self.spark.catalog.tableExists(name)
            and self.exists(table, config_hash)
        ):
            return False
        loc = [
            r["data_type"]
            for r in self.spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            if r["col_name"] == "Location"
        ]
        want = os.path.abspath(self._path(table, config_hash))
        return bool(loc) and os.path.abspath(
            loc[0].replace("file:", "", 1)
        ) == want
