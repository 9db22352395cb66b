"""Bronze -> silver -> gold medallion transforms, Spark-first.

Reference parity:
- bronze flatten: reference src/jobs/ingest_job.py:72-86 (DuckDB JSON
  path extraction) -> here a declarative select over the parsed struct.
- silver dedup + time dims: reference src/jobs/transform_job.py:75-88.
- gold top-3 listening days/user: reference src/jobs/transform_job.py:106-120.

Unlike the reference (which re-executes full lineage on every audit
count — reference transform_job.py:66,97,130 with no cache), callers
are expected to persist each layer (write + read back, or .cache())
before fan-out reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .schemas import LISTEN_SCHEMA


def read_listens_json(
    spark: SparkSession, path: str, drop_malformed: bool = True
) -> DataFrame:
    """NDJSON listen scan with explicit schema; DROPMALFORMED matches the
    reference's ``ignore_errors=true`` row-drop semantics
    (reference src/jobs/ingest_job.py:84)."""
    mode = "DROPMALFORMED" if drop_malformed else "PERMISSIVE"
    return spark.read.schema(LISTEN_SCHEMA).option("mode", mode).json(path)


def flatten_listens(raw: DataFrame) -> DataFrame:
    """Bronze projection: struct paths -> flat columns + derived date."""
    tm = "track_metadata"
    ai = f"{tm}.additional_info"
    return raw.select(
        "listened_at",
        "recording_msid",
        "user_name",
        F.col(f"{tm}.track_name").alias("track_name"),
        F.col(f"{tm}.artist_name").alias("artist_name"),
        F.col(f"{tm}.release_name").alias("release_name"),
        F.col(f"{ai}.recording_msid").alias("track_recording_msid"),
        F.col(f"{ai}.release_msid").alias("track_release_msid"),
        F.col(f"{ai}.artist_msid").alias("track_artist_msid"),
        F.to_date(F.from_unixtime("listened_at")).alias("listened_date"),
    )


def write_bronze(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned parquet bronze sink (reference ingest_job.py:85)."""
    df.write.mode(mode).partitionBy("user_name").parquet(path)


def to_silver(bronze: DataFrame) -> DataFrame:
    """Dedup on (user_name, listened_at) keeping a deterministic winner,
    then derive the time-dimension lattice.

    The reference orders the dedup window by a column inside the
    partition key (pure tie — nondeterministic; reference
    transform_job.py:75-76); we pin the winner with recording_msid."""
    ts = F.timestamp_seconds(F.col("listened_at"))
    w = Window.partitionBy("user_name", "listened_at").orderBy(
        F.col("recording_msid").asc_nulls_last()
    )
    return (
        bronze.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        # one projection for the whole lattice: each chained
        # withColumn would be analyzed as a plan of its own
        .withColumns({
            "listened_datetime": ts,
            "listened_date": F.to_date(ts),
            "year": F.year(ts),
            "month": F.month(ts),
            "day": F.dayofmonth(ts),
            "hour": F.hour(ts),
        })
    )


def to_gold_user_peaks(silver: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k listening days per user with per-day distinct counts.

    Deterministic tiebreak (count desc, date asc) replaces the
    reference's bare row_number over ties (transform_job.py:114-119)."""
    daily = silver.groupBy("user_name", "listened_date").agg(
        F.count("*").alias("listen_count"),
        F.countDistinct("track_name").alias("unique_tracks"),
        F.countDistinct("artist_name").alias("unique_artists"),
    )
    w = Window.partitionBy("user_name").orderBy(
        F.col("listen_count").desc(), F.col("listened_date").asc()
    )
    return (
        daily.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .drop("rank")
    )


def run_medallion(
    spark: SparkSession, input_json: str, warehouse_dir: str
) -> dict[str, int]:
    """End-to-end batch pipeline; returns per-layer row counts.

    Each layer is written then *read back* so downstream lineage scans
    parquet instead of recomputing (fixes the reference's triple
    recompute, SURVEY.md §3.2)."""
    bronze = flatten_listens(read_listens_json(spark, input_json))
    bpath = f"{warehouse_dir}/bronze_listens"
    bronze.write.mode("overwrite").partitionBy("user_name").parquet(bpath)
    bronze = spark.read.parquet(bpath)

    silver = to_silver(bronze)
    spath = f"{warehouse_dir}/silver_listens"
    silver.repartition("user_name").write.mode("overwrite").partitionBy(
        "user_name"
    ).parquet(spath)
    silver = spark.read.parquet(spath)

    gold = to_gold_user_peaks(silver)
    gpath = f"{warehouse_dir}/gold_user_peaks"
    gold.write.mode("overwrite").parquet(gpath)
    gold = spark.read.parquet(gpath)

    return {
        "bronze": bronze.count(),
        "silver": silver.count(),
        "gold": gold.count(),
    }
