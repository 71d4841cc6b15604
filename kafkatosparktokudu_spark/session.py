"""SparkSession factory with scale-aware defaults.

Replaces the reference's hand-rolled SparkConf / StreamingContext setup
(ConsumerMain.scala:32-39): master, parallelism, backpressure knobs. In the
rebuild, parallelism is ``spark.sql.shuffle.partitions`` + AQE; rate limiting
is per-source ``maxOffsetsPerTrigger`` (see streaming.pipeline).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafkatosparktokudu_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with settings that hold from
    local[32] smoke tests up to a multi-executor cluster:

    - AQE on (runtime coalescing, skew-join splitting) so a plan tuned at
      sf0.01 re-plans itself at 100 TB instead of shuffling into 32
      oversized partitions.
    - shuffle partitions default to local core count (the 200 default is
      wrong for tiny local data; on a real cluster, AQE coalesces upward
      sizing from ``spark.sql.adaptive.advisoryPartitionSizeInBytes``).
    - UTC session timezone so timestamps compare bit-for-bit with the
      DuckDB oracle (duckdb timestamps are UTC-naive).
    - Arrow on for every pandas_udf / applyInPandas boundary.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Merge with (never overwrite) the excluded rules of spark-defaults.conf
    # / SPARK_CONF_DIR and of the caller's extra_conf (ADVICE r13): an
    # operator may legitimately exclude other rules per deployment.
    from pyspark import SparkConf

    extra_conf = dict(extra_conf or {})
    rules_key = "spark.sql.optimizer.excludedRules"
    given = [SparkConf().get(rules_key, ""), extra_conf.pop(rules_key, "")]
    rules = [r.strip() for g in given for r in g.split(",") if r.strip()]
    rules.append("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    # half the machine's memory, at most 48g: the heap grows towards its cap
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate adds a size(arr)>0 pre-filter before
        # every explode/posexplode. It never changes results (exploding
        # an empty/null array emits no rows anyway) — it exists to prune
        # rows early. But when the exploded array is computed in the
        # same stage (every tokenize/shingle/window-hash explode in this
        # package), predicate pushdown substitutes the filter's alias
        # with the FULL generator expression and pushes it below the
        # width repartition: the whole tokenize+hash pass re-runs,
        # narrow, once per consumer branch. Measured 12-15x on the
        # dd09 window-hash pass (7.6s -> 0.55s at sf0.1, identical
        # rows); the hot paths are also fixed structurally with
        # explode_outer + null-guard so they stay fast under sessions
        # that don't set this (e.g. the driver's correctness harness).
        .config(rules_key, ",".join(dict.fromkeys(rules)))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{min(half_mb, 48 << 10)}m"),
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
