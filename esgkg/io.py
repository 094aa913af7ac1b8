"""Storage adapter (SURVEY.md risk R1).

The target layout is Iceberg (`pages` partitioned by days(warc_ts), `triples`
by pred, `nodes`/`edges` bucketed by entity hash) with MERGE-upsert. The
sandbox's pyspark 4.1.2 has no iceberg-spark-runtime jar and no network, so
this adapter exposes one API with a parquet backend that preserves the same
layouts; MERGE is emulated as updates ∪ (current anti-join updates on the
keys), then an overwrite.
Swapping in the Iceberg backend is a config change, not a code change.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    def __init__(self, base: str):
        self.base = base

    def path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def exists(self, name: str) -> bool:
        """True iff a Spark write of `name` committed: its job-commit
        marker `_SUCCESS` is present. Part files without it are a write
        that was killed before its commit."""
        return os.path.isfile(os.path.join(self.path(name), "_SUCCESS"))

    def files(self, name: str) -> list[str]:
        """Data-file paths of table `name`, relative to it. Hidden files
        and directories (`.`/`_` prefixed) are skipped, as Spark skips
        them: job markers, checksums, staging dirs, `.tmp-*` files."""
        root = self.path(name)
        out = []
        for d, subdirs, names in os.walk(root):
            subdirs[:] = [x for x in subdirs if not x.startswith((".", "_"))]
            out += [
                os.path.relpath(os.path.join(d, f), root)
                for f in names
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
        return out

    def data_files(self, name: str) -> dict[str, int]:
        """{data-file path relative to the table: row count} of `name`,
        read from the parquet footers on the driver (Iceberg's per-file
        `record_count`); no Spark job."""
        return {
            f: pq.read_metadata(os.path.join(self.path(name), f)).num_rows
            for f in self.files(name)
        }

    def append_rows(self, name: str, rows: list[dict],
                    schema: pa.Schema) -> None:
        """Append `rows` to the flat table `name` from the driver, as one
        new data file that appears atomically: it is written under a
        hidden `.tmp-*` name, which Spark and `read_rows` skip, then
        renamed to a unique `part-*.parquet`."""
        root = self.path(name)
        os.makedirs(root, exist_ok=True)
        tag = uuid.uuid4().hex
        tmp = os.path.join(root, f".tmp-{tag}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, os.path.join(root, f"part-{tag}.parquet"))

    def read_rows(self, name: str, columns: list[str]) -> list[dict]:
        """All rows of the small flat table `name`, read on the driver —
        files written by Spark and by `append_rows` alike."""
        return [
            r
            for f in self.files(name)
            for r in pq.read_table(
                os.path.join(self.path(name), f), columns=columns
            ).to_pylist()
        ]

    def write(self, df: DataFrame, name: str,
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def merge(self, spark: SparkSession, updates: DataFrame, name: str,
              keys: list[str],
              partition_by: list[str] | None = None) -> None:
        """MERGE-upsert emulation: new rows win on key collision
        (Iceberg: MERGE INTO name USING updates ON keys; reference semantics:
        Neo4j MERGE, /root/reference/src/knowledge_graph/neo4j_manager.py:62,91).
        Every row of `updates` is kept, so it should hold each key once."""
        if not self.exists(name):
            self.write(updates, name, partition_by)
            return
        current = self.read(spark, name)
        # anti-join, not dropDuplicates: which duplicate dropDuplicates
        # keeps is undefined, so updates could lose to the rows they replace
        merged = updates.unionByName(
            current.join(updates.select(*keys), keys, "left_anti")
        )
        # materialize before overwriting the directory we read from
        merged = merged.localCheckpoint(eager=True)
        self.write(merged, name, partition_by)
