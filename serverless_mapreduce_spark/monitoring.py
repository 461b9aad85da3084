"""Job monitoring parity (engine operator E16).

The reference captures per-executor metrics — lineCount, numKeys,
processingTime, memoryUsage, ioTime, computeTime — into S3 object metadata
(``job/map_handler.py:165-180``) and DynamoDB progress counters
(``utils/stage_progress.py:101-133``). On Spark most of that ships in the
UI/history server for free; what's worth library surface is *query-level*
counters riding the job itself: ``df.observe`` aggregates are computed by
the running tasks at ~zero cost (no extra pass, no collect) and delivered
to the driver when the action completes — the exact analog of the
reference's lineCount-style counters, minus the separate metrics store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observe_counts(
    df: DataFrame, key_col: str | None = None, name: str = "smr_metrics"
) -> tuple[DataFrame, Observation]:
    """Attach the reference's counter set to a DataFrame.

    Returns (df_with_observation, observation); read
    ``observation.get`` after an action. Metrics:
    - ``lineCount``: rows flowing through this point (map_handler.py:166);
    - ``numKeys``: approx distinct keys (map_handler.py:171's numKeys —
      approximate because exact distinct inside observe would force a
      per-metric shuffle; HLL++ rides the existing tasks);
    - ``nullKeys``: malformed-input signal (the reference just drops and
      prints on parse errors — here it's countable).
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("lineCount")]
    if key_col is not None:
        metrics.append(F.approx_count_distinct(key_col).alias("numKeys"))
        metrics.append(
            F.sum(F.when(F.col(key_col).isNull(), 1).otherwise(0)).alias("nullKeys")
        )
    return df.observe(obs, *metrics), obs


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, total compile ms) so far in this JVM: Spark's
    process-wide codegen counters (``CodegenMetrics`` compilation count,
    ``CodeGenerator.compileTime``). A class served from the codegen
    cache does not count. Two reads bracket a window; every thread on
    the JVM (concurrent queries, local-mode executors) adds to both."""
    jvm = spark.sparkContext._jvm  # type: ignore[attr-defined]
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


def jvm_counters(spark: SparkSession) -> tuple[int, int]:
    """(classes loaded, JIT compile ms) so far in the driver JVM: the
    ``ClassLoadingMXBean`` total and the ``CompilationMXBean`` time. A
    class mapped from the class-data archive still counts as loaded; it
    only skips the parse and verification. Two reads bracket a window."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # type: ignore[attr-defined]
    classes = mf.getClassLoadingMXBean().getTotalLoadedClassCount()
    return int(classes), int(mf.getCompilationMXBean().getTotalCompilationTime())
