"""SparkSession factory + runtime conf pinning.

The reference engine hand-rolls its physical choices (snappy parquet,
dictionary encoding, statistics, pushdown — reference writer.py:310-319,
reader.py:29-59); on Spark every one of those is a default. What we pin here
is the part that affects *semantics* and *local-mode efficiency*:

- UTC session timezone (reference stores timestamp(us, UTC), schema.py:5),
- Arrow-accelerated Python interchange (the reference's "keep Python out of
  the hot loop" thesis, README.md:3-7),
- AQE on (runtime re-planning: skew joins, partition coalescing) — this is
  the 100 TB safety net,
- shuffle partitions sized to local cores (the 200 default over-parallelizes
  local runs; on a real cluster this would be ~2-3× total cores),
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): by default every
  DataFrame/Column API call also runs ``getActiveSession``, a ``conf.get``
  and an origin set + clear over Py4J, only to attach the Python call site
  to error contexts. PySpark reads the flag ONCE per process, on the first
  API call made with an active session, and caches it — so it is pinned at
  build time in :func:`get_spark`; setting it on a live session (or in
  :func:`ensure_runtime_confs`) has no effect once any call has been made.
  The trade-off: an analysis or ANSI runtime error's ``== DataFrame ==``
  context names a JVM frame instead of the Python ``file:line`` that built
  the failing expression (the error class, message and traceback stay). To
  get that line back while debugging, build the session without this conf.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: Runtime-settable confs every entry point pins, so behavior is identical
#: whether the session was built by :func:`get_spark` or handed to us by an
#: external driver.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # the driver's events table stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read as long ns and convert (sources.tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE swap sort-merge for shuffled-hash AT RUNTIME when every
    # post-shuffle partition's build side fits this bound (default 0 = the
    # rewrite is off; guide §3.1). Runtime-guarded by ACTUAL partition
    # bytes — unlike a static SHUFFLE_HASH hint, which the r12 ngram A/B
    # showed REGRESSES by overriding AQE's runtime broadcast — and sized
    # to the advisory partition target, so a converted join's per-task
    # hash map is bounded at what a coalesced partition already holds.
    # Scale-neutral: the guard is per-partition, not per-corpus.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # parquet scan parallelism: default 128 MB splits are right at scale; keep.
    "spark.sql.parquet.filterPushdown": "true",
    # write µs timestamps (reference writer.py:318 parity) instead of the
    # INT96 legacy default — INT96 columns carry NO min/max statistics, which
    # silently voids row-group skipping on time-range scans AND the footer
    # checks retention/expiry relies on.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on an externally-provided session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in this build — leave the session default.
            pass
    # Shuffle-partition repair, only when the session still carries Spark's
    # untouched default (200): AQE coalescing fixes batch over-partitioning
    # at runtime, but streaming STATE partitions don't coalesce — a
    # watermarked agg on a vanilla local session otherwise drags 200 state
    # stores through every micro-batch. A deliberately-configured session
    # (ours pin it at build time; a real cluster sizes it to ~2-3× cores)
    # is left alone. All queries are partition-count-invariant (pinned by
    # the shuffle=7 parity tests), so this only affects speed.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    return spark


#: ``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: this share
#: of physical RAM, at least the floor, never more than the RAM itself. Local
#: mode runs its executors inside the driver JVM; the rest of RAM is left to
#: the Python workers, off-heap Arrow buffers and the page cache.
_DRIVER_MEMORY_FRACTION = 0.5
_DRIVER_MEMORY_FLOOR_MB = 1024


def default_driver_memory() -> str:
    """Driver heap sized to this machine, as a JVM size string (``"7680m"``)."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf: assume the floor fits
        return f"{_DRIVER_MEMORY_FLOOR_MB}m"
    return f"{min(phys_mb, max(_DRIVER_MEMORY_FLOOR_MB, int(phys_mb * _DRIVER_MEMORY_FRACTION)))}m"


def get_spark(app_name: str = "arrow-parquet-logs-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) the local session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    Local mode is one JVM; ``spark.driver.memory`` is the only memory knob:
    ``$SPARK_DRIVER_MEMORY``, else :func:`default_driver_memory`.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32" if cpus == "*" else str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        # UI off by default (bench noise); SPARK_GRAFT_UI=true/1/yes flips
        # it on for probes that read shuffle metrics over the UI REST API
        # (normalized here — a raw "1" would crash the JVM boolean parse)
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").strip().lower()
            in ("true", "1", "yes")
            else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # read once per process and cached (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # keep managed-table data (bucketed tables in tests) out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
