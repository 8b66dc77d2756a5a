"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; at cluster scale
the same settings (AQE, skew-join handling, UTC session timezone, Arrow)
are the ones you'd set for a 1000-executor job — only ``master`` and the
memory knobs change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the harness box (local[32], 128 GiB). At cluster
# scale, shuffle.partitions should be ~2-3x total cores and is largely
# superseded by AQE's coalescing; these remain sane starting points.
_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate clones a generator's child expression into
    # an inferred size()>0 filter BELOW the projection; for our
    # expression-heavy exploded arrays (shingle hashes, LSH band keys)
    # that re-evaluates the whole array — interpreted, with the words
    # regex inlined per lambda reference — once more per input row.
    # Operators also use explode_outer defensively (the rule skips outer
    # generators), so this exclusion is belt-and-braces for ad-hoc use.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs otherwise exchange rows via pickle one at a time;
    # Arrow batches them like every other pandas-UDF lane in this engine
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Above this many paths, Spark lists partition directories with a
    # distributed job. On the engine's local[N] master that job runs in
    # the same JVM, so it lists nothing faster and only adds a job.
    # Measured on a 4-core VM, spark.read.parquet of a 36-partition
    # table: 0.35-0.48 s at the default of 32, 0.11 s at 1024. Every
    # merge into a partitioned IncrementalTable reads its table twice.
    # An object-store deployment with more directories can lower it
    # through get_spark(**overrides).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # ContextCleaner reclaims broadcast blocks and shuffle files only via
    # weak references, i.e. only after a JVM GC — and a large driver heap
    # (48g here, bigger on a real cluster) can go tens of minutes without
    # one. Measured on this box: after ~30 queries the accumulated
    # broadcast/shuffle state degrades identical plans 10-20x (simhash
    # 54s vs 3s). The default interval is 30min; 2min keeps long-running
    # multi-query sessions (exactly the 100TB-pipeline shape) healthy.
    "spark.cleaner.periodicGC.interval": "2min",
    # money columns are DecimalType; keep Spark's exact decimal semantics
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "48g",
}


def get_spark(app_name: str = "olist_snowflake_dbt_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32).
    Keyword overrides win over defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    # cluster knob: on a real deployment set SPARK_GRAFT_SHUFFLE_PARTITIONS
    # to ~2-3x total executor cores (e.g. 8000-12000 for 1000 executors x
    # 4 cores); AQE then coalesces the small ones at runtime, so erring
    # high is cheap while erring low caps parallelism and spills.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_parts:
        conf["spark.sql.shuffle.partitions"] = shuffle_parts
    conf.update({str(k): str(v) for k, v in overrides.items()})
    active = SparkSession.getActiveSession()
    if active is not None:
        # reuse the driver-provided session; only apply runtime-settable conf
        for k, v in conf.items():
            if not k.startswith(("spark.driver.", "spark.ui.")):
                try:
                    active.conf.set(k, v)
                except Exception:
                    pass  # static conf on a live session — keep the session's value
        return active
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
