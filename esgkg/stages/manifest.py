"""Idempotent checkpoint/resume via a manifest table (SURVEY.md §2.10).

The reference has no incremental machinery beyond the embedding cache
(/root/reference/src/rag/graph_rag.py:142-148) and Neo4j MERGE upserts. The
build target mandates per-partition lineage: every pipeline stage commits
``(stage, input_fingerprint, row_count, per-partition counts, metrics)`` to a
manifest table after its output table lands; on restart, a stage whose
(stage, fingerprint) is already committed is skipped and its output read
back. Kill-between-stages therefore resumes exactly; kill-mid-stage rewrites
the stage output atomically (directory overwrite) and re-commits.

The manifest itself is the Iceberg ``manifest`` table in production; here it
is an append-only parquet table through the same catalog adapter.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import ParquetCatalog

MANIFEST = "_manifest"


class Runner:
    def __init__(self, spark: SparkSession, catalog: ParquetCatalog):
        self.spark = spark
        self.catalog = catalog
        # stages may commit from concurrent driver threads, and two Spark
        # appends to one table in one application share its
        # `_temporary/0` staging dir — serialize the manifest appends
        self._commit_lock = threading.Lock()

    def _committed(self, stage: str, fingerprint: str) -> bool:
        """True iff the MOST RECENT manifest commit for `stage` carries this
        fingerprint. The stage output path is keyed by stage name only, so an
        older matching commit does NOT prove the current table contents match
        (run A→B→A on the same base_dir would otherwise resume B's output
        under A's fingerprint — the round-1 stale-resume bug)."""
        if not self.catalog.exists(self.spark, MANIFEST):
            return False
        m = self.catalog.read(self.spark, MANIFEST)
        last = (
            m.filter(F.col("stage") == stage)
            .orderBy(F.desc("committed_at"))
            .select("input_fingerprint")
            .limit(1)
            .collect()
        )
        return bool(last) and last[0][0] == fingerprint

    def _commit(self, stage: str, fingerprint: str, out: DataFrame,
                metrics: dict | None = None) -> None:
        # per-partition lineage: row count per physical partition
        per_part = (
            out.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        row = self.spark.createDataFrame(
            [
                (
                    stage,
                    fingerprint,
                    sum(r["count"] for r in per_part),
                    json.dumps({str(r["pid"]): r["count"] for r in per_part}),
                    json.dumps(metrics or {}),
                    float(time.time()),
                )
            ],
            "stage string, input_fingerprint string, row_count long, "
            "partition_counts string, metrics string, committed_at double",
        )
        with self._commit_lock:
            self.catalog.write(row, MANIFEST, mode="append")

    def run_stage(
        self,
        stage: str,
        fingerprint: str,
        produce: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
    ) -> DataFrame:
        """Produce-or-resume one stage. Returns the stage's output table."""
        if self._committed(stage, fingerprint) and self.catalog.exists(
            self.spark, stage
        ):
            return self.catalog.read(self.spark, stage)
        out = produce()
        self.catalog.write(out, stage, partition_by=partition_by)
        persisted = self.catalog.read(self.spark, stage)
        self._commit(stage, fingerprint, persisted, metrics)
        return persisted
