"""SparkSession factory tuned for the local[32] test harness.

On a real cluster only the master/memory settings change; the
AQE/shuffle settings below are scale-safe defaults (AQE coalesces
and re-plans at runtime, so shuffle.partitions is a ceiling, not a
hand-tuned constant).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter semi-join pushdown: a selective filter
        # on a dim side injects a bloom probe into the fact scan, so
        # most fact rows die at the scan instead of crossing the
        # shuffle — at 100 TB this is the difference between shuffling
        # the corpus and shuffling the match set. creationSideThreshold
        # guards the build cost (default 10 MB side only).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debugging decorates EVERY DataFrame/
        # Column API call with call-site capture: getActiveSession + a
        # JVM conf lookup + a Python stack walk + set/clear of the JVM
        # PySparkCurrentOrigin — 3 extra py4j round trips per call,
        # measured at ~60-80% of plan-construction wall for registry
        # queries (q1 construct 0.39 s -> 0.19 s with the memo below;
        # q9 0.80 -> 0.20 s). Pure driver-side Python-boundary
        # overhead (guide §4/§5) — plans, results and error RAISING are
        # unchanged; only the "user line that caused it" annotation on
        # error messages is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (static, JVM-wide). Spark's default
        # LRU keeps 100 compiled whole-stage/expression classes, but a
        # warm session cycles through far more, so each class was
        # evicted before its next use and recompiled in Janino: the
        # six-query perfbench battery uses ~200 distinct classes and
        # recompiled ~160-200 of them on every warm pass. Sized from a
        # full registry sweep (scripts/check_correctness.py's query
        # set, sf0.001, local[4], 2 GB heap, run twice in one session):
        # the first pass compiles 3,905 distinct classes; at 100
        # entries both passes compile ~7,700, at 5,000 the second
        # compiles 216 (the classes whose source embeds per-run
        # literals, the same 216-286 as at 20,000). 5,000 holds the
        # registry's ~3,900 with ~25% headroom. Cost of the sweep at
        # 5,000 vs 100: metaspace 249 vs 217 MB, JVM peak RSS 3.24 vs
        # 3.13 GB.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (the count of
    Spark's ``CodegenMetrics`` compile-time histogram). A warm query
    that raises it missed the generated-class cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
