"""Idempotent checkpoint/resume via a manifest table (SURVEY.md §2.10).

The reference has no incremental machinery beyond the embedding cache
(/root/reference/src/rag/graph_rag.py:142-148) and Neo4j MERGE upserts. The
build target mandates per-partition lineage: every pipeline stage commits
``(stage, input_fingerprint, row_count, per-file counts, metrics)`` to a
manifest table after its output table lands; on restart, a stage whose
latest commit carries the same fingerprint and lists exactly the data files
its table holds, and whose table holds Spark's job-commit marker, is skipped
and its output read back.

What is atomic is the manifest commit: one small parquet file that the
driver writes under a hidden name and renames into ``_manifest/``, so a
killed process leaves either the whole commit or none of it. A stage table
itself is overwritten in place. A run killed mid-write leaves it without
its ``_SUCCESS`` marker; one killed between the write and its commit leaves
data files (named by Spark per write job) that the latest commit does not
list. Either way the next run produces the table again.

Manifest bookkeeping runs no Spark job: the manifest is read once per
``Runner`` on the driver, and a commit's counts come from the parquet
footers of the files just written (Iceberg's per-data-file
``record_count``; the manifest is the Iceberg ``manifest`` table in
production). A catalog has one writer at a time: a ``Runner`` does not see
commits that another process makes after it loaded the manifest.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..io import ParquetCatalog

MANIFEST = "_manifest"
SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("input_fingerprint", pa.string()),
    ("row_count", pa.int64()),
    ("partition_counts", pa.string()),
    ("metrics", pa.string()),
    ("committed_at", pa.float64()),
])


class Runner:
    def __init__(self, spark: SparkSession, catalog: ParquetCatalog):
        self.spark = spark
        self.catalog = catalog
        rows = catalog.read_rows(MANIFEST, [
            "stage", "input_fingerprint", "partition_counts", "committed_at"
        ])
        # stage -> (input fingerprint, data files) of its latest commit
        self._latest: dict[str, tuple[str, set[str]]] = {
            r["stage"]: (r["input_fingerprint"],
                         set(json.loads(r["partition_counts"])))
            for r in sorted(rows, key=lambda r: r["committed_at"])
        }

    def _committed(self, stage: str, fingerprint: str) -> bool:
        """True iff the MOST RECENT manifest commit for `stage` carries this
        fingerprint and lists the table's data files. The stage output path
        is keyed by stage name only, so an older matching commit does NOT
        prove the current table contents match (run A→B→A on the same
        base_dir would otherwise resume B's output under A's fingerprint —
        the round-1 stale-resume bug); nor does a matching commit whose
        table was rewritten since, by a run killed before its commit."""
        return self._latest.get(stage) == (
            fingerprint, set(self.catalog.files(stage))
        )

    def _commit(self, stage: str, fingerprint: str) -> None:
        """Commit the table `stage` as just written: its row count and
        per-data-file counts come from the parquet footers. The `metrics`
        column stays `{}` until a run report fills it."""
        per_file = self.catalog.data_files(stage)
        self.catalog.append_rows(MANIFEST, [{
            "stage": stage,
            "input_fingerprint": fingerprint,
            "row_count": sum(per_file.values()),
            "partition_counts": json.dumps(per_file, sort_keys=True),
            "metrics": "{}",
            "committed_at": time.time(),
        }], SCHEMA)
        self._latest[stage] = (fingerprint, set(per_file))

    def run_stage(
        self,
        stage: str,
        fingerprint: str,
        produce: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Produce-or-resume one stage. Returns the stage's output table."""
        if self._committed(stage, fingerprint) and self.catalog.exists(stage):
            return self.catalog.read(self.spark, stage)
        self.catalog.write(produce(), stage, partition_by=partition_by)
        self._commit(stage, fingerprint)
        return self.catalog.read(self.spark, stage)
