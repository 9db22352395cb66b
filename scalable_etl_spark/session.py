"""SparkSession factory + runtime tuning shared by every entry point.

Design notes (scale-first):
- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  the reference disables it and pins shuffle.partitions=1
  (reference src/jobs/transform_job.py:31-32), which only works on toy
  data; at 100 TB AQE is mandatory.
- Session timezone pinned to UTC so epoch<->timestamp functions agree
  with the DuckDB oracle (reference never pins it — SURVEY.md §7.5.5).
- ``spark.sql.legacy.parquet.nanosAsLong`` because the driver testdata
  writes parquet TIMESTAMP(NANOS) which Spark refuses by default; the
  loader converts the raw nanos to proper TimestampType (see tables.py).
- PySpark 4's DataFrame call-site capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``Column`` method call and ``F.col`` also runs
  ``getActiveSession``, a conf get and an origin set/clear over py4j —
  about half of all round trips while a query plan is built. Spark
  documents the capture as a debugging aid with non-trivial overhead;
  all it adds is the Python call site to analysis error messages. The
  conf is static, so ``get_spark`` sets it on the builder
  (``BUILDER_CONF``) and a session built elsewhere keeps its own value.
  PySpark reads the flag once per process, at the first Column call,
  and caches it. To debug with it, set
  ``BUILDER_CONF["spark.python.sql.dataFrameDebugging.enabled"] =
  "true"`` before ``get_spark`` builds the session, ahead of the
  process's first DataFrame call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that must be set before the JVM starts (builder-time only).
BUILDER_CONF: dict[str, str] = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.driver.maxResultSize": "4g",
    # Session-catalog tables (saveAsTable / writeTo) land here rather
    # than polluting the cwd; override per-deployment.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
    ),
    # No per-call Python call-site capture (module docstring). A static
    # conf: a live session refuses to change it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Conf that is safe to (re)apply on a live session — used both for our
# own sessions and to tune the externally provided driver session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB scan partitions: right-sized for many-executor parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Keep Spark's default parallelismFirst=true: AQE coalesces small
    # post-shuffle partitions but never below the cluster parallelism.
    # Round 17 defaulted this to false (bytes-only sizing, guide §2.2's
    # 100MB-1GB band) and it serialized every reduce stage at bench
    # scale — every shuffle payload fits one 64m advisory partition, so
    # each reduce stage collapsed to ONE task and the suite ran ~1.5x
    # slower with 8 cores matching 32 (round-17 verdict #1). Bytes-first
    # sizing is a deployment choice for genuinely large inputs: opt in
    # with SPARK_GRAFT_AQE_PARALLELISM_FIRST=false there; the default
    # must keep the measured box parallel.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": os.environ.get(
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"
    ),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_AQE_ADVISORY", "64m"
    ),
    # Broadcast dims aggressively (region/nation/part-scale sides).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime conf to an existing session (e.g. the driver's)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — keep going
    # spark.sql.shuffle.partitions is runtime-settable: an externally
    # built session carries Spark's default (200), which costs 200-task
    # stages per shuffle on a local[N] box. Match the core count — AQE
    # coalescing still shrinks it further per-query; on a real cluster
    # this would be sized to executors x cores instead.
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(default_parallelism())
        )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "scalable-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in BUILDER_CONF.items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def configure_object_store(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Object-store (S3/MinIO) configuration surface — SURVEY §2 S8
    parity with the reference's boto3 client against MinIO (reference
    src/jobs/ingest_job.py:114-156 polls ``list_objects_v2``;
    docker-compose.yaml provisions MinIO with endpoint + key pair).

    Applies ``fs.s3a.*`` settings to the LIVE session's Hadoop
    configuration, which every FileSystem instantiation — batch scans,
    streaming file sources (streaming/ingest.py), parquet sinks,
    snapshot-table paths — reads. After this, the SAME code paths that
    ingest ``file:///landing`` work against ``s3a://bucket/prefix``
    unchanged: the streaming file source's directory listing goes
    through the Hadoop FileSystem API, so no boto3 analog is needed.

    ``endpoint`` points s3a at a MinIO/custom gateway (path-style
    access defaults ON for custom endpoints — MinIO serves buckets by
    path, not virtual host); credentials fall back to the standard
    provider chain (env vars, instance profile) when not given.
    ``extra`` passes any further ``fs.s3a.*`` keys verbatim
    (e.g. ``fs.s3a.connection.ssl.enabled``, committer tuning).

    This sandbox ships no hadoop-aws jar and no network, so tests
    assert the conf plumbing (tests/test_streaming_ingest.py), not
    object-store IO; on a real cluster (EMR/Dataproc/k8s images bundle
    hadoop-aws) this function is the only extra call required."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    settings: dict[str, str] = {}
    if endpoint is not None:
        settings["fs.s3a.endpoint"] = endpoint
        if path_style_access is None:
            path_style_access = True
    if access_key is not None:
        settings["fs.s3a.access.key"] = access_key
    if secret_key is not None:
        settings["fs.s3a.secret.key"] = secret_key
    if path_style_access is not None:
        settings["fs.s3a.path.style.access"] = str(path_style_access).lower()
    settings.update(extra or {})
    for k, v in settings.items():
        hconf.set(k, v)
    return spark
