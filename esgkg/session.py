"""SparkSession factory, package shipping for UDF workers, and the KG
tail's broadcast gate.

Local-mode tuning per the scale design (SURVEY.md §4): AQE on (runtime
re-plan + skew-join split), shuffle partitions sized to cores (not the
200 default), Arrow enabled for all pandas UDF stages, and a driver heap
sized to the host. On a real cluster the same factory applies — only
master/memory change.

Broadcast or shuffle: every size-gated join of the KG tail (the canonical
map lookups, the J3 name dimension, the Adamic-Adar degree table and
existing-edge anti-join) asks `broadcastable` whether its small side has at
most BROADCAST_ROWS rows, and `gated` hints the side either way: broadcast
if so, whatever its bytes, else a sort-merge join, which AQE does not turn
back into a broadcast at run time.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PKG_DIR = Path(__file__).resolve().parent

# row bound of every size-gated join in the KG tail: a small side of at
# most this many rows is broadcast, a larger one is shuffled
BROADCAST_ROWS = 2_000_000


def broadcastable(df: DataFrame) -> bool:
    """True iff `df` has at most BROADCAST_ROWS rows, answered by one
    limit(n + 1).count() probe, so a web-scale side is never counted in
    full. Reads BROADCAST_ROWS when called."""
    return df.limit(BROADCAST_ROWS + 1).count() <= BROADCAST_ROWS


def gated(df: DataFrame, small: bool) -> DataFrame:
    """`df` as the gated side of a join: broadcast when `small` (the
    `broadcastable` answer), else pinned to a sort-merge shuffle join, so
    AQE cannot broadcast it under autoBroadcastJoinThreshold."""
    return F.broadcast(df) if small else df.hint("merge")


def default_driver_mem() -> str:
    """Driver heap for this host: a quarter of MemTotal, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{min(kb // 4 // 1024, 4096)}m"


def default_cores() -> int:
    """Local-mode core count: $SPARK_GRAFT_CPUS, else the CPUs this process
    may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _pkg_blobs() -> tuple[str, list[tuple[str, bytes]]]:
    """(content digest, [(archive name, source bytes)]) of the esgkg
    package's .py files."""
    import hashlib

    blobs = []
    for p in sorted(_PKG_DIR.rglob("*.py")):
        blobs.append((f"esgkg/{p.relative_to(_PKG_DIR)}", p.read_bytes()))
    digest = hashlib.blake2b(
        b"".join(name.encode() + b for name, b in blobs), digest_size=8
    ).hexdigest()
    return digest, blobs


def pkg_digest() -> str:
    """Content digest of the esgkg sources: changes with any code change."""
    return _pkg_blobs()[0]


def build_pkg_zip() -> str:
    """Zip the esgkg package so spark.sparkContext.addPyFile can ship it to
    python workers (cloudpickle references module functions by name, so
    workers must be able to ``import esgkg``). The archive name is
    content-addressed so re-adding after a source change never collides
    with a previously registered file (e.g. one shipped via
    ``spark-submit --py-files``)."""
    digest, blobs = _pkg_blobs()
    path = f"/tmp/esgkg_pyfiles_{digest}.zip"
    if not Path(path).exists():
        with zipfile.ZipFile(path, "w") as zf:
            for name, data in blobs:
                zf.writestr(name, data)
    return path


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently attach the esgkg package to this session's workers."""
    sc = spark.sparkContext
    if getattr(sc, "_esgkg_shipped", False):
        return
    sc.addPyFile(build_pkg_zip())
    sc._esgkg_shipped = True


def get_spark(
    cores: int | None = None,
    app: str = "esgkg",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m coalesces mid-size shuffles (e.g. the 700MB edge
        # groupBy) to fewer partitions than cores — 16m keeps all cores fed
        # while still bounding tiny-stage task counts via minPartitionSize
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: every block is process-local, so any locality wait is
        # pure scheduler stall — measured 3x slowdown on cached/checkpointed
        # lineages at local[32] with the 3s default
        .config("spark.locality.wait", "0")
        # RAM-backed shuffle/checkpoint scratch when available (local mode;
        # on a cluster this is the NVMe-backed spark.local.dir per node)
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local"
            if os.path.isdir("/dev/shm")
            else "/tmp/spark-local",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("ESGKG_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
