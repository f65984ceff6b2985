"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the configuration is written for the
100 TB posture (AQE with partition coalescing + skew-join handling,
shuffle partitions sized explicitly, Arrow for every Python<->JVM hop)
so the same code is cluster-ready.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

# At 100 TB on ~1000 executors these would be set per-cluster; the point of
# fixing them here is that every operator in the package is written assuming
# AQE + explicit shuffle sizing, never the 200-partition default.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # files.maxPartitionBytes default 128m is right for the 100 TB posture;
    # left untouched so parquet splits stay aligned with row groups.
}

_HEAP_CAP_MB = 20 * 1024
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2: a byte count or "max"
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


class SessionStartError(RuntimeError):
    """The Spark JVM did not start (most often: the pinned heap could not
    be committed on this machine)."""


def default_heap_mb(meminfo: str, cgroup_limit: str | None = None) -> int:
    """The default driver heap in MiB: half of the memory this process may
    use — MemTotal from ``meminfo`` (the text of /proc/meminfo), or the
    cgroup limit ``cgroup_limit`` (the text of its limit file) when that
    is lower — capped at 20g. Half leaves room for the Python workers and
    the JVM's off-heap memory."""
    total_kb = next(
        int(line.split()[1]) for line in meminfo.splitlines() if line.startswith("MemTotal:")
    )
    limit = total_kb * 1024
    if cgroup_limit is not None and cgroup_limit.strip().isdigit():
        limit = min(limit, int(cgroup_limit.strip()))
    return min(limit // 2 // (1 << 20), _HEAP_CAP_MB)


def _read_text(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def driver_mem() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else :func:`default_heap_mb` of this
    machine."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    meminfo = _read_text("/proc/meminfo") or (
        f"MemTotal: {os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 1024} kB"
    )
    cgroup = next(
        (t for t in map(_read_text, _CGROUP_LIMIT_FILES) if t is not None), None
    )
    return f"{default_heap_mb(meminfo, cgroup)}m"


def get_spark(app_name: str = "sum_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; the heap to
    :func:`driver_mem`. Raises :class:`SessionStartError` when the JVM
    does not start.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    mem = driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local[N] = one JVM doing all executor work: the driver heap IS the
        # cluster memory. A FIXED-size heap matters more than a big one on
        # this virtualized host: with -Xmx-only sizing the JVM repeatedly
        # commits/uncommits tens of GB and the kernel's page zeroing shows
        # up as 30-80% system time — measured 5-50s swings on identical
        # dedup runs at 64g growable, flat ~2s at 20g fixed. -Xms==-Xmx
        # means pages commit lazily ONCE and never uncommit (AlwaysPreTouch
        # would also work but costs ~150s of upfront zeroing in this VM).
        # The size follows the machine: a fixed 20g cannot be committed
        # on a 15 GB host, and the JVM then dies before Python sees it.
        .config("spark.driver.memory", mem)
        # Whole-stage codegen emits one class per stage; a long session
        # running dozens of queries fills the JVM's default ~240 MB code
        # cache, after which the JIT stops compiling and the interpreted
        # fallback slows expression-heavy operators 10-50x. Size it for a
        # query-server lifetime.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} "
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError as e:  # JAVA_GATEWAY_EXITED and kin
        raise SessionStartError(
            f"Spark JVM failed to start with a pinned {mem} driver heap "
            "(-Xms = -Xmx); if this machine cannot commit that much, set "
            f"SPARK_GRAFT_DRIVER_MEM lower. Cause: {e}"
        ) from e
    spark.sparkContext.setLogLevel("WARN")
    return spark
