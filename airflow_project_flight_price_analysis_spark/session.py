"""SparkSession factory.

Local-mode settings mirror what a 1000-executor cluster profile would set
per-executor: AQE enabled (runtime re-plan, skew-join handling, partition
coalescing), shuffle partitions sized to cores (not the 200 default), UTC
session timezone (parquet testdata is written tz-naive; DuckDB oracle reads
it UTC-naive, so a non-UTC session tz would shift every timestamp), and
Arrow enabled for the few pandas-UDF code paths. Python workers get the
package's parent directory on their ``PYTHONPATH``, so a worker can
unpickle package code whatever directory the driver was started from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the package, for the Python workers' path
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "flight-price-analysis-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    ``shuffle_partitions`` defaults to the core count — at 100 TB on a real
    cluster this is instead sized so post-shuffle partitions land ~128-256 MB
    (AQE coalescing makes the exact number forgiving).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_cores = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    shuffle_partitions = shuffle_partitions or n_cores

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop ``FileSystem``, ``Path``) for ``path`` under the session's
    Hadoop conf — one resolution rule for plain paths and URIs alike
    (``file://``, ``s3a://``, ``hdfs://``)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf), jpath


def scale_out(df, *key_cols: str):
    """Widen an under-partitioned DataFrame to the cluster's parallelism
    before CPU-heavy per-row work (regex, hashing, pandas UDFs).

    Small single-file parquet inputs arrive as ONE partition (one row
    group ⇒ unsplittable), which serializes expensive expressions on one
    core — measured 11s → 1.6s on minhash signatures at sf0.1. At real
    100 TB scale inputs already have ≥ parallelism splits and this no-ops.
    Passing key columns hash-partitions so a following groupBy/join on
    the same key reuses the exchange.

    Intended for SCAN-SHAPED inputs (scan → project/filter): the
    partition probe reads ``sparkPlan()`` — the physical plan BEFORE
    EnsureRequirements inserts exchanges — so for a plan containing
    binary nodes (sort-merge join zips two children) RDD construction
    can throw on unequal child partition counts, and any count it did
    return would be pre-shuffle. If the probe fails, the plan has
    binary/exchange structure, which means EnsureRequirements will
    insert shuffles at execution and parallelism comes from
    ``spark.sql.shuffle.partitions`` anyway — the under-partitioned-
    single-file problem this helper exists for cannot apply, so the
    input is returned unchanged (r7 ADVICE).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # JVM-side probe via sparkPlan() — NOT toRdd()/df.rdd (r7 review):
    # with AQE on, toRdd() executes AdaptiveSparkPlanExec, which
    # MATERIALIZES every upstream shuffle stage just to read a
    # partition count (the classic df.rdd-under-AQE gotcha: the whole
    # job runs, the result is discarded, and it runs again at the real
    # action). sparkPlan() is the pre-adaptive physical plan; its
    # execute() builds the RDD lineage lazily — no job is submitted —
    # and its partition count (pre-AQE-coalescing) is exactly what
    # this widening check needs.
    from py4j.protocol import Py4JJavaError

    try:
        n_parts = (
            df._jdf.queryExecution().sparkPlan().execute().getNumPartitions()
        )
    except Py4JJavaError as e:
        # JVM-side RDD-construction failure ⇒ binary-node plan (see
        # docstring): exchanges will be inserted at execution, so the
        # scan-width concern doesn't apply. Catch ONLY the JVM throw —
        # a py4j connection error or a Python-side bug must surface,
        # not silently skip the widening (r8 review). Logged so a
        # mis-shaped call site is visible.
        import logging

        logging.getLogger(__name__).info(
            "scale_out: partition probe failed (binary-node plan?); "
            "leaving input unchanged: %s", str(e).splitlines()[0])
        return df
    if n_parts >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
