"""SparkSession factory with scale-oriented defaults.

Single place that turns on the knobs that matter at 100 TB: AQE (runtime
re-planning + skew-join splitting), Arrow for every pandas UDF exchange,
and a shuffle-partition count sized to the local test box (on a real
cluster this is overridden by spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T


def get_spark(
    app_name: str = "cosmospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("COSMOSPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "env" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("COSMOSPARK_SHUFFLE_PARTITIONS", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting (the backstop for megacity-cell skew, SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All python<->JVM exchange is Arrow-batched; never row-at-a-time.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs driver+executors in ONE JVM. 16g measured
        # best for the bench suite: 8g GC-thrashes cache-heavy jobs,
        # while 32g makes a multi-query session DEGRADE (ngram-jaccard
        # 2.4 s → 20-65 s after ~30 prior jobs at 32g, stable 2.4 s at
        # 8-16g — oversized heap defers GC so per-job state piles up).
        # On a real cluster spark-submit conf overrides this.
        .config("spark.driver.memory", os.environ.get("COSMOSPARK_DRIVER_MEM", "16g"))
        # ContextCleaner purges out-of-scope shuffle/broadcast state
        # only when the driver GCs; the default periodic GC (30 min)
        # lets a multi-job session degrade 5-20× (measured: the same
        # plan 48.9 s → 2.2 s across one forced GC). 2 min keeps
        # long-running sessions (pipelines, query sweeps) at steady
        # state for pennies of GC time.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_table(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Python-side rows as a JVM-local relation: the plan is a
    ``LocalTableScan``, so no scan of it starts a Python worker (a
    list-built ``createDataFrame`` re-runs a Python ``map`` per partition
    on every scan). Each row is a tuple in ``schema`` order or a dict
    keyed by field name (a missing key reads NULL); ``schema`` is a
    ``StructType`` or a DDL string. Built from Arrow because an empty
    pandas frame falls back to the Python RDD path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [tuple(map(r.get, schema.names)) if isinstance(r, dict) else r for r in rows]
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
