"""SparkSession factory.

Design notes (scale):
- UTC session timezone: the reference buckets by UTC year/month
  (stats.py:876-879) while using a naive-local run bound (stats.py:1097);
  we pin UTC everywhere and document the divergence (SURVEY.md §7.6).
- AQE on: runtime re-planning (skew joins, coalesced shuffle partitions)
  is the 100 TB safety net for everything we can't predict at plan time.
- Arrow on: any Pandas-UDF path (multimodal stubs) moves data in columnar
  batches instead of pickled rows.
- shuffle.partitions defaults to the local core count for tests; a real
  cluster deployment overrides via spark-submit conf (rule of thumb:
  ~2-3x total executor cores, or rely on AQE coalescing from a high cap).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Every cache session_cached has created, in creation order. Measurement
# harnesses snapshot and roll back exactly this list (benchutil), so a new
# cached artifact can never be left out of the min-of-N discipline.
SESSION_CACHES: list[dict] = []


def evict_stale(cache: dict, spark: SparkSession) -> str:
    """Drop cache entries owned by other (stopped) SparkContexts and return
    the live context's key.

    The key is the applicationId, not id(spark): CPython can reuse an id
    after GC, and cached artifacts (localCheckpoint blocks, temp views) die
    with the context, so a recycled id would hand a new session dead state.
    applicationId is unique per context and survives session clones.
    Evicting on access keeps a process-lifetime cache from pinning its
    artifacts across session restarts — e.g. scale_bench --fresh-per-query
    creates dozens of contexts per process."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in cache if k[0] != app_id]:
        del cache[stale]
    return app_id


def session_cached(fn):
    """Memoize ``fn(spark, *args)`` per live SparkContext and ``args``.

    The cache is exposed as ``wrapper.cache`` and recorded in
    SESSION_CACHES."""
    cache: dict = {}
    SESSION_CACHES.append(cache)

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args):
        key = (evict_stale(cache, spark), *args)
        if key not in cache:
            cache[key] = fn(spark, *args)
        return cache[key]

    wrapper.cache = cache
    return wrapper


def _mem_to_mb(mem: str) -> int:
    """Parse a JVM memory string ('8g', '512m', '48G') to MiB.

    A unit-less string is rejected rather than guessed: the JVM reads bare
    numbers as BYTES while a "default to GiB" here would overestimate 8192×
    and defeat the -Xms clamp (r9 advisor) — force the caller to say what
    they mean."""
    if not mem or mem[-1].lower() not in "gmk":
        raise ValueError(
            f"memory string {mem!r} needs an explicit unit suffix (g/m/k); "
            "bare numbers are ambiguous (the JVM would read bytes)"
        )
    return int(float(mem[:-1]) * {"g": 1024, "m": 1, "k": 1 / 1024}[mem[-1].lower()])


def _initial_heap(mem: str) -> str:
    """-Xms value for the pre-touched heap, clamped to what the host can back.

    -Xms == -Xmx with +AlwaysPreTouch commits the WHOLE heap at JVM start;
    with SPARK_GRAFT_DRIVER_MEM larger than the host's free RAM that fails
    (or invites the OOM killer) at startup, where a demand-grown heap would
    have started fine (r8 advisor). Clamp -Xms to ~60% of MemAvailable —
    -Xmx stays at the configured cap, so the only cost of clamping is that
    growth beyond the clamp pays page faults again, on exactly the hosts
    that could never pre-touch the full heap anyway."""
    mem_mb = _mem_to_mb(mem)
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
        # floor at 256 MiB: on a nearly-exhausted host the 60% clamp can
        # reach 0m / sub-minimum values the JVM rejects at startup —
        # exactly the constrained hosts the clamp exists for (r9 advisor)
        return f"{min(mem_mb, max(256, int(avail_kb // 1024 * 0.6)))}m"
    except (OSError, StopIteration, ValueError):
        return mem  # no /proc (non-Linux): keep the old equal-to-Xmx behavior


# Directories a file read lists on the driver before it hands the listing
# to a Spark job (Spark's default: 32). Reading the ym-partitioned revisions
# table back lists one directory per month of date_modified: 72 over the
# perfbench world (seed 1), which at the default ran as one 72-task listing
# job per read. A few hundred month directories list faster on the driver
# than a job schedules.
PARTITION_DISCOVERY_THRESHOLD = 256


def get_spark(app_name: str = "phabricator-etl-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r10 (guide §3.1/§9): allow shuffled hash join when its size
        # conditions are met instead of always sorting both sides —
        # measured −13..−40% on join-heavy entries at sf0.1 (phab_comments
        # 2.48→1.70 s, dedup_containment 3.03→1.81 s, search_bm25_topk
        # 3.37→2.28 s, fresh-session min-of-3 A/B). The planner still
        # requires the build side to fit a per-partition hash map
        # (estimate-guarded), AQE's threshold below re-checks with ACTUAL
        # post-shuffle partition bytes at runtime, and AQE skew-join
        # splitting applies to shuffled-hash joins too.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(PARTITION_DISCOVERY_THRESHOLD))
        .config("spark.driver.memory", mem)
        # Commit and pre-touch the whole heap at JVM start. Under this
        # microVM kernel, demand-growing the heap mid-query page-faults at
        # a rate that turned first-of-a-shape 18M-row joins into 45-130 s
        # stalls at <50% CPU (measured; 1.3-3 s with pre-touch, and
        # run-over-run variance collapsed with it). Upfront cost is ~1 s at
        # 8g / ~4 s at 48g, paid once per JVM instead of at an arbitrary
        # point inside the first large shuffle. -Xms is clamped to available
        # RAM (see _initial_heap). CAVEAT: extraJavaOptions only take effect
        # for the FIRST SparkContext in a Python process — later get_spark()
        # calls reuse the running JVM, so a changed SPARK_GRAFT_DRIVER_MEM
        # needs a fresh process to apply.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{_initial_heap(mem)} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        # Shuffle/spill scratch directory override (measurement harnesses).
        # This single host's disk-backed shuffle path is measurably
        # SUPER-linear in exactly the volume range of the top scale-bench
        # SF, and nondeterministically so (r9 calibration: a pure 3x-volume
        # synthetic shuffle cost 3.3-6.7x across runs on disk, depending on
        # dirty-page state, vs a stable ~1.9x on tmpfs) — a cluster's
        # per-node NVMe at per-node volumes does not share that cliff.
        # Default stays the platform default; set SPARK_GRAFT_LOCAL_DIR to
        # A/B. Per-JVM like the -Xms note above: only the first SparkContext
        # honors it. (Applied conditionally below — an empty spark.local.dir
        # would override the platform default with an invalid path.)
        # The console progress bar writes \r-fragments to stderr with no
        # trailing newline; under a merged-stream harness those glue onto
        # the next stdout line and corrupt machine-readable output (this
        # cost us the round-1 bench line).
        .config("spark.ui.showConsoleProgress", "false")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
