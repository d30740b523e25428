"""SparkSession factory for the engine.

Mirrors the reference's catalog bootstrap (`IcebergTableGenerator.java:61-69`,
`Main.java:97-116`) in Spark terms: one place that owns session/catalog
configuration.  The Iceberg catalog confs are applied only when the Iceberg
Spark runtime jar is importable (SURVEY.md §7 risk note) — everything else in
the engine runs on plain Parquet and does not require it.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized to the master's core count unless
`get_spark(shuffle_partitions=…)` says otherwise — on a real cluster this
is overridden to O(cores × 2–4) or left to AQE's
`spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_runtime_available() -> bool:
    """True if an iceberg-spark-runtime jar is on the classpath/ivy cache.

    The reference is an Iceberg table generator; we gate its lifecycle ops
    (create/append/delete/evolve — SURVEY.md §2.1/§2.2) on jar presence so the
    relational + extension surface never blocks on a missing connector.
    """
    for root in ("/opt/spark/jars", "/root/.ivy2", os.environ.get("SPARK_HOME", "") + "/jars"):
        if root and os.path.isdir(root):
            for dirpath, _dirnames, filenames in os.walk(root):
                if any(f.startswith("iceberg-spark-runtime") for f in filenames):
                    return True
    return False


# SQL confs the engine's queries depend on.  All are runtime-settable, so
# they can be applied to an externally created SparkSession (the driver
# passes its own) as well as set at build time in get_spark().
RUNTIME_SQL_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps -> TIMESTAMP_NTZ (matches DuckDB TIMESTAMP).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Parquet TIMESTAMP(NANOS) is unreadable by Spark's vectorized reader;
    # surface any such column as epoch-nanos BIGINT instead of failing the
    # scan.  The testdata stores every timestamp as micros
    # (sources/tables.py::TABLE_SCHEMAS), so no engine query meets one.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime partition coalescing, skew-join splitting, dynamic
    # broadcast conversion — the first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(e) > 0 AND isnotnull(e)`
    # under every explode(e) and pushes it through exchanges — for the
    # engine's computed-array explodes (tokenize→shingle/ngram HOF chains)
    # that duplicates the ENTIRE array-construction expression into a
    # Filter evaluated once per conjunct below the spread() repartition,
    # i.e. the heaviest per-row work in the text/dedup family runs 2–3×,
    # serially, before the widening exchange (measured r15: the sf0.1
    # shingle explode is 3.5 s with the rule, 0.53 s without; plan dumps
    # in plans/r15/).  The rule only ever adds a redundant filter —
    # explode(outer=false) drops null/empty arrays itself — so results
    # are identical at any scale, and the filter's only scale benefit
    # (not shuffling rows whose array is empty) is lost only for shapes
    # the engine does not use (no query shuffles a raw generator input).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required SQL confs to an existing session."""
    for k, v in RUNTIME_SQL_CONFS.items():
        spark.conf.set(k, v)
    return spark


def cloud_fs_confs(
    s3_endpoint: str | None = None,
    gcs_keyfile: str | None = None,
    abfs_account: str | None = None,
    abfs_key: str | None = None,
) -> dict[str, str]:
    """Hadoop filesystem wiring for cloud warehouses — the Spark equivalent
    of the reference's Configuration setup (`Main.java:97-116`, S3A/GCS/ABFS
    at :99-102).  Pass the result to `get_spark(extra_conf=...)`.  Inert in
    this container (no cloud credentials); parity surface for S1."""
    conf: dict[str, str] = {}
    if s3_endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = s3_endpoint
        conf["spark.hadoop.fs.s3a.impl"] = "org.apache.hadoop.fs.s3a.S3AFileSystem"
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
        )
    if gcs_keyfile:
        conf["spark.hadoop.fs.gs.impl"] = (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        )
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] = gcs_keyfile
    if abfs_account and abfs_key:
        conf[f"spark.hadoop.fs.azure.account.key.{abfs_account}.dfs.core.windows.net"] = abfs_key
    return conf


def get_spark(
    app_name: str = "iceberg_table_generator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    local[N] for tests; on a cluster, `master` comes from spark-submit and
    this factory only contributes SQL-level tuning.  Without
    `shuffle_partitions`, shuffles get one partition per core of the
    master (the context's default parallelism).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(map=RUNTIME_SQL_CONFS)
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if iceberg_runtime_available():
        wh = warehouse or os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/itg_warehouse")
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.itg", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.itg.type", "hadoop")
            .config("spark.sql.catalog.itg.warehouse", wh)
        )
    conf = dict(extra_conf or {})
    if shuffle_partitions:
        conf.setdefault(SHUFFLE_PARTITIONS, str(shuffle_partitions))
    builder = builder.config(map=conf)
    spark = builder.getOrCreate()
    if SHUFFLE_PARTITIONS not in conf:
        spark.conf.set(SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    # Every global window (no PARTITION BY) logs "No Partition Defined for
    # Window operation!" when planned, which floods the log tail.  Their
    # inputs are bounded (tests/test_window_invariant.py), so that one
    # logger is raised to ERROR; the root level stays WARN.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
