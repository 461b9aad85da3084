"""SparkSession factory tuned for this engine.

Replaces the reference's executor provisioning knobs (Lambda memory /
concurrency, ``static_variables.py:75-79``) with Spark session config. AQE is
on so partition counts self-tune at runtime — the Spark analog of the
reference's data-driven "#mappers = #batches" sizing
(``driver/driver.py:231-238``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark's codegen cache size (``spark.sql.codegen.cache.maxEntries``, a
#: static conf): the LRU of compiled Java classes that every plan's
#: whole-stage and expression code goes through. At Spark's default of 100
#: a warm pass recompiles what the previous pass compiled once the working
#: set exceeds 100 classes: the 13-query perfbench mix compiles ~145 per
#: pass, so every "warm" pass recompiled ~140 at 7-13 ms each. One cold
#: pass of all 333 registered queries at sf0.001 (local[4]) compiled 4,248
#: distinct classes; 8192 leaves ~2x headroom. Measured over that sweep,
#: the warm pass went from 6,122 compiles (41.6 s of compile time) to 56,
#: and holding the classes cost ~35 MB of metaspace and ~16 MB of live
#: heap.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "serverless_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults target local[N] testing but every knob is the one you'd set on
    a real cluster: AQE (runtime coalesce + skew-join splitting), Arrow for
    the Python boundary, UTC session time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # One BLAS thread per Python worker (guide §4.5 — right-size per-task
    # thread pools): importing numpy spins up an OpenBLAS pool sized to
    # the MACHINE (~3 s of sys time per process on 32 cores, measured —
    # plans/r18/prof_worker_spawn.txt). Every Python process Spark spawns
    # (executor workers, streaming source/sink runners, schema-inference
    # workers) pays that at import; a cold 32-worker batch turns it into
    # a multi-second kernel storm. Parallelism comes from Spark tasks,
    # not intra-worker BLAS — one thread per worker is the correct
    # production sizing (os.environ: local-mode workers inherit it;
    # executorEnv carries the same setting to real clusters).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pre-size the heap to its max (-Xms = spark.driver.memory): the
        # JVM otherwise starts near the default min heap and the first
        # allocation-heavy stage pays repeated full GCs while the heap
        # grows — measured 50.6 s -> 11.6 s on the FIRST execution of the
        # sf1 shingle-verify join at local[32] (r18, guide §5). Same
        # production practice as sizing executor -Xms on a real cluster;
        # applied uniformly at every core count so c8/c32 benches stay
        # comparable.
        # A fixed young generation (NewRatio=2: one third of the heap)
        # makes how much of that pre-sized heap a run touches a function
        # of the work, not of GC timing: G1's adaptive young sizing grew
        # eden to anywhere between ~30 % and ~57 % of the heap depending
        # on when a metadata-threshold GC happened to fire, so the same
        # 2g perfbench table_lifecycle run peaked at 1.9-2.5 GB RSS from
        # one run to the next; with the fixed young gen it peaks within
        # ~35 MB (1.84-1.87 GB over 10 runs), at the same ~0.3 s of total
        # GC pause per run.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} -XX:NewRatio=2",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark otherwise captures the Python call site of every
        # DataFrame/Column call for error messages: a stack walk, a failed
        # ``import IPython`` and ~5 py4j round trips per call, 0.060 s of
        # 2.31 s over five delete_where calls. Errors still raise with
        # their Spark message, without the Python call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # see the os.environ block above — carries the same one-BLAS-
        # thread-per-worker sizing to non-local executors
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def utc_session(spark: SparkSession) -> SparkSession:
    """The caller's session with the session timezone pinned to UTC — as a
    CLONE (own conf, shared SparkContext) when it isn't already, so pinning
    never mutates shared state: operators that need deterministic
    wall-clock rendering (date_format/date_trunc output, NTZ→TIMESTAMP
    casts for watermarks) used to ``spark.conf.set`` mid-query, a write a
    concurrent ``engine.Engine`` caller on the same session could race.
    Cloning is cheap (no new context) and scoped to the returned handle."""
    if spark.conf.get("spark.sql.session.timeZone", None) == "UTC":
        return spark
    ss = spark.newSession()
    ss.conf.set("spark.sql.session.timeZone", "UTC")
    return ss
