"""Spark session factory.

Tuned for the sandbox (``local[$SPARK_GRAFT_CPUS]``, single JVM) but the
settings are the ones we would ship to a 1000-executor cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow on
(every Python crossing is a columnar batch, never per-row pickle),
broadcast threshold generous enough to keep the canonical-name
dictionary on the map side of the linking join.

AQE also sizes the last stage of every cached plan:
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
lets it coalesce a ``.cache()``d frame's final exchange like any other,
so the KG build's edge and bucketed-triple caches are as wide as their
data, not ``spark.sql.shuffle.partitions``. It is an internal SQLConf
key (default false in Spark 4.1); under spark-submit pass it as
``--conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``.
Spark warns that a query may then need an extra shuffle to read cached
data; the KG tail and ``curate_corpus`` plans gain none
(``scripts/dump_plans.py --executed``).

The environment sets deployment only: ``SPARK_GRAFT_CPUS`` (cores),
``KGFORGE_DRIVER_MEM`` and ``KGFORGE_LOCAL_DIR``. Every session
pre-forks its Python worker pool (:func:`_warm_python_workers`); no
setting turns that off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "kgforge",
    cores: int | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (or all). On a real
    cluster this function is bypassed — ``spark-submit`` provides the
    session — so every conf here is also safe as a ``--conf`` flag.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the cluster master arrives via --master and the
    # JVM is already running (PythonRunner exports PYSPARK_GATEWAY_PORT
    # for the driver to attach to); forcing local[N] here would silently
    # turn a cluster job into a driver-local one. SparkConf() can't be
    # probed instead: before the gateway attaches it is a plain Python
    # dict that never sees the submitted java properties.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB the
        # Zipfian mention distribution makes skewed shuffles the norm, not the
        # exception — AQE plus explicit salting (linking.py) covers both halves.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ... including the final stage of a cached plan (module docstring)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every pandas UDF / toPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # The canonical dictionary is small relative to the fact side; let
        # Catalyst broadcast it even when stats are conservative.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KGFORGE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle/spill on tmpfs: the sandbox's disk is shared and slow;
        # on a real cluster this is NVMe-local shuffle dirs. Falls back
        # to the default /tmp if tmpfs is absent.
        .config(
            "spark.local.dir",
            os.environ.get("KGFORGE_LOCAL_DIR", "/dev/shm/kgforge-spark")
            if os.path.isdir("/dev/shm")
            else "/tmp",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark, cores)
    return spark


# Sessions whose Python worker pool has been pre-forked (keyed by the
# JVM SparkContext application id — a new id means new executors).
_WARMED: set[str] = set()


def _warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pre-fork the Python UDF worker pool at session build.

    The first pandas-UDF job of a session pays the pyspark daemon
    launch plus one pandas/pyarrow import per worker — measured ~10 s
    at 32 cores (14.4 s cold vs 3.9 s warm for the same dictionary
    scan). A production cluster amortizes that over hours; here one
    parallel no-op Arrow batch per task slot moves it to session
    creation, exactly like the executor warm-up a long-lived job does.

    A failure raises out of :func:`get_spark` with its traceback: a
    worker pool that cannot run a UDF (say, cannot import ``kgforge``)
    is broken, and the first real UDF job would fail the same way.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col, pandas_udf

    touch = pandas_udf(_touch_batch, "long")
    spark.sparkContext.setJobDescription("session: warm python worker pool")
    spark.range(cores * 2).repartition(cores * 2).select(touch(col("id"))).count()
    # Second pass: string Arrow batches through a shuffle + hash
    # aggregate. The long-column pool fork above leaves the string
    # serialization path (Arrow var-length buffers both directions)
    # and the shuffle/agg codegen cold, and the session's first real
    # string-UDF job pays them — measured 1-2.5 s off the first
    # dictionary scan at 32 cores. Synthetic range input only; the
    # residual first-run cost (plan-specific codegen, per-call
    # broadcasts) is not generically warmable and stays where it is.
    touch_s = pandas_udf(_touch_str_batch, "long")
    spark.sparkContext.setJobDescription("session: warm string udf path")
    (
        spark.range(cores * 2000)
        .repartition(cores * 2)
        .withColumn(
            "s",
            F.concat(F.lit("warm-"), col("id").cast("string"), F.lit("-x" * 40)),
        )
        .select(touch_s(col("s")).alias("n"))
        .groupBy((col("n") % 7).alias("k"))
        .count()
        .count()
    )
    spark.sparkContext.setJobDescription(None)
    _WARMED.add(app_id)


def _touch_batch(v):
    """Module-level no-op batch fn for the worker-pool warm-up."""
    return v


def _touch_str_batch(v):
    """Module-level string batch fn for the string-path warm-up (a
    module-level plain function, like :func:`_touch_batch`, so the
    pickled-by-reference UDF leaves the worker pool reusable)."""
    return v.str.len()


def spread_scan(df, *keys: str):
    """Input-parallelism guard (guide §2.5, input skew): when a source
    plans FEWER scan partitions than half the session's shuffle
    parallelism — the sandbox fixtures are single-row-group parquet
    files, an unsplittable 1-task scan — redistribute once by ``keys``
    so every downstream map stage fans out. A no-op whenever the scan
    already fans out (any real multi-file table), so at cluster scale
    this adds nothing; when it does fire, the hash repartition doubles
    as the exchange any downstream groupBy on the same key needs.

    A plan that already holds an exchange comes back unchanged: a
    shuffle exchange already fans out, and probing the partition count
    would run its shuffle stages under AQE or execute a broadcast. For
    scan-only plans the partition probe builds the physical RDD but
    launches no job.
    """
    from pyspark.sql import functions as F

    if _has_exchange(df):
        return df
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — defensive: never break the plan
        return df
    if n * 2 <= target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def _has_exchange(df) -> bool:
    """True when ``df``'s physical plan holds a shuffle or broadcast
    exchange (the common ``Exchange`` base class). Only plans, runs no
    job. Catalyst hides three subtrees from ``children``, so the walk
    opens them itself: an AQE plan's current plan, a query stage's plan
    and a cache scan's cached plan."""
    exchange = df.sparkSession._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.exchange.Exchange"
    )
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if exchange.isInstance(node):
            return True
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False
