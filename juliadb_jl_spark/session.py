"""SparkSession bootstrap tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
many cores); the same settings are cluster-safe — AQE, adaptive
coalescing, and Arrow apply equally at 1000-executor scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset:
    16g, capped at half the host's physical RAM. In local mode the
    driver JVM is the whole engine, and a heap larger than the box lets
    it grow until the kernel kills it (a 16g heap on a 15 GB host
    reached 14.3 GB RSS and was OOM-killed)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{max(512, min(16 * 1024, phys // 2 // (1 << 20)))}m"


def get_spark(app_name: str = "juliadb_jl_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    AQE is on so shuffle partition counts re-plan at runtime; on a real
    cluster the explicit ``shuffle.partitions`` becomes the AQE initial
    value rather than a fixed fanout.

    Like every builder conf, the settings apply only when
    ``getOrCreate`` creates the session.  The codegen class-cache size
    is stricter still: it is a static conf that Spark reads once per
    JVM, when the first generated class is compiled.  It takes effect
    only if that first compile runs under a session this function
    built; a JVM whose first query ran under another session keeps
    that session's cache size until it exits.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert at load (sources/testdata.py) — Spark has no nanos type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # broadcast/shuffle GC otherwise blocks job submission for seconds
        # at a time on iterated queries (observed as 5-12s latency outliers)
        .config("spark.cleaner.referenceTracking.blocking", "false")
        # let AQE coalesce the output partitioning of plans being cached
        # (off by default): multi-pass document ops persist small
        # intermediates whose 32-way layout otherwise forces 32 tasks on
        # every downstream stage (r9; scale-neutral — AQE sizes by bytes)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # PySpark 4 captures a Python stack trace + an extra py4j round
        # trip on EVERY DataFrame/Column API call to enrich error
        # messages with the call site.  Wide expression builders
        # (minhash families, selectors) make thousands of such calls
        # per plan; disabling origin capture only loses the Python-line
        # annotation on analysis errors (r9: q36 build 2.3s -> see
        # OPTIMIZATION_r09.md).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Compile each generated class once per session.  Spark's LRU
        # cache of generated classes defaults to 100 entries, so it
        # thrashes on any session whose working set is above 100
        # classes: the 18 analytics contract queries generate over 200,
        # and every later round recompiled them all with Janino and ran
        # them interpreted again.  2048 holds the census
        # of a whole sf0.01 contract pass, 1,966 classes (SCALING.md,
        # "Global posture").
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    # Env-level conf passthrough (r9): "k=v;k=v" in SPARK_GRAFT_EXTRA_CONF
    # applies before caller extra_conf — used for A/B measurement and for
    # cluster-side overrides of any scale-dependent default without code
    # edits (the bench contract keeps local defaults; production values
    # ride this knob).  Caveats (ADVICE r9): values may not contain ';'
    # (no escaping — a ';' inside a value splits the pair), and like any
    # builder conf the knob only applies when getOrCreate CREATES the
    # session, not when it reuses a live one.  Fragments without '=' are
    # warned about, never silently dropped; the bench stamps the raw env
    # value into its artifact so an override can't hide.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
        elif pair.strip():
            import warnings
            warnings.warn(
                f"SPARK_GRAFT_EXTRA_CONF fragment {pair!r} has no '=' "
                "(a ';' inside a conf value? no escaping is supported) "
                "— ignored", stacklevel=2)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
