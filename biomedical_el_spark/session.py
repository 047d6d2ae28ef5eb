"""SparkSession factory tuned for the ER workload.

Local mode here mirrors what we'd set on a 1000-executor cluster: AQE on
(skew-join splitting + partition coalescing), Arrow on (every scoring /
embedding stage is a pandas UDF), shuffle partitions sized to the
parallelism level rather than the 200 default.

Local sessions also run their Python workers under this package's
daemon (`_daemon`, `spark.python.daemon.module`).  PySpark's worker
calls `importlib.invalidate_caches()` at the start of every task
(`worker_util.setup_spark_files`), and CPython 3.11's
`zipimporter.invalidate_caches` re-reads the whole directory of its
archive.  A worker's path holds about ten importers over pyspark.zip
(1,328 entries, ~13 ms each) and two over the spark-core jar (5,359
entries, ~51 ms each), so every Arrow UDF task paid 0.13–0.32 s
(measured inside workers on a 4-vCPU host) before its UDF started,
whatever its data.  The daemon, which every worker is forked from,
pins the importers over those archives; the call then takes < 5 ms.
Workers import the daemon wherever the driver imported the package
from: `get_spark` puts the package root on the PYTHONPATH the local
JVM inherits, as the package's UDFs need anyway.  Under
`cluster=True` the daemon is not set: a `--py-files` zip is importable
only after a worker's first task, and the daemon starts before it.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# glibc malloc tuning for the Arrow/numpy UDF workers.  Every batched UDF
# allocates multi-MB numpy intermediates per Arrow batch; glibc serves
# >128KB allocations with mmap and returns them with munmap, so N workers
# fault in and tear down the same pages every batch — measured ~40% of
# ALL cpu in KERNEL time (mmap_sem contention + page zeroing) during the
# feature stage at 16 workers, and the stage was core-count-insensitive.
# Keeping large allocations in the arena (no mmap, lazy trim) made the
# feature stage 2.9× faster at 16 cores (27.5s → 9.6s, 1M pages) and
# restored near-linear core scaling.  Exported both into this process
# (inherited by the local-mode JVM → python workers) and as executorEnv
# for real clusters.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
    "MALLOC_TOP_PAD_": "134217728",
    "MALLOC_MMAP_MAX_": "0",
    # pyarrow's default pool (jemalloc) madvises buffers away on free and
    # faults them back every Arrow batch — the same kernel churn, immune
    # to the glibc tunables above.  Route Arrow through the (now pinned)
    # system allocator.
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def _export_package_root() -> None:
    """Prepend this package's root to the PYTHONPATH that a local JVM,
    and so its Python workers, inherit; a site-packages root is on the
    workers' path already and must not move ahead of Spark's own."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.environ.get("PYTHONPATH")
    if root in site.getsitepackages() or root in (path or "").split(os.pathsep):
        return
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, path) if p)


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 24g: a local session's
    driver JVM is the whole engine, but a fixed 24g heap on a smaller
    host lets concurrent sessions grow past the machine and be
    OOM-killed.  SPARK_DRIVER_MEM overrides it as a deployment setting."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(host_mb // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "biomedical_el_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    cluster: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to 2×cores — at least two task waves per
        stage, so a straggling core (or vCPU on a shared host) takes
        fewer tasks instead of gating the stage barrier.  On a real
        cluster this scales with executor count instead.
    cluster: True = do NOT set a master; `spark-submit --master ...`
        owns deployment (see jobs/linkage_submit.py).  All tuning confs
        still apply — they are cluster confs that happen to also work in
        local mode, not the other way around.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    defer_shuffle_width = cluster and shuffle_partitions is None
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 8)

    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)

    builder = SparkSession.builder
    if not cluster:
        _export_package_root()
        builder = builder.master(master).config(
            "spark.python.daemon.module", f"{__package__}._daemon"
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CPU-heavy Arrow-UDF stages want more, smaller partitions than
        # the 64MB default advisory (which coalesces small-SF shuffles
        # down to fewer tasks than cores)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # G1 (the JDK17 default) collapses under multi-threaded allocation
        # in this container (measured 17× slower than ParallelGC at 32
        # threads on an allocation-heavy stage), and auto-sized young gen
        # (~heap/3) made minor GCs eat ~70% of shuffle-stage wall time —
        # cap it.  (Measured: pairs stage 40.5s → 10.2s with -Xmn2g; a
        # larger young gen lost at 16c/16M, 1365s with -Xmn8g vs 1197s.)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC -Xmn2g")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC -Xmn2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the scoring joins carry wide feature rows: hash join skips the
        # two 1GB sorts a sort-merge join would do (measured ~2× on the
        # scoring stage)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # reliable-checkpoint files (CC rounds) are never deleted by Spark
        # by default; let the ContextCleaner reap them once the RDD is GC'd
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if defer_shuffle_width:
        # cluster width is known only now: 2 tasks per executor core
        # (multi-wave straggler balancing), same rule as local mode
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(2 * spark.sparkContext.defaultParallelism, 8)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
