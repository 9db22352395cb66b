"""load_table: the memoized parquet schema keeps plan building free of
Spark jobs, and the timestamp normalization still runs on it.

Jobs are counted the way perfbench/common.py counts them: from the
application status store, across every job group."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from scalable_etl_spark.tables import load_table

CORPUS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "testdata", "sf0.01",
)

# ts is TIMESTAMP(NANOS) (arrives as BIGINT nanos), seen is micros with
# isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ). -1500 ns floors to
# -2 us, the way DuckDB casts TIMESTAMP_NS.
TS_NANOS = [1_700_000_000_123_456_789, -1_500, 0]
TS_MICROS = [1_700_000_000_123_456, -2, 0]
SEEN_MICROS = [1_600_000_000_000_001, -5, None]


def _newest_job(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _jobs_during(spark, fn):
    """(fn(), Spark jobs submitted while it ran)."""
    before = _newest_job(spark)
    out = fn()
    return out, _newest_job(spark) - before


def _write_events(sf_dir, extra: bool = False) -> None:
    cols = {
        "user_id": pa.array([1, 2, 3], pa.int32()),
        "ts": pa.array(TS_NANOS, pa.timestamp("ns")),
        "seen": pa.array(SEEN_MICROS, pa.timestamp("us")),
    }
    if extra:
        cols["note"] = pa.array(["a", "b", "c"])
    pq.write_table(pa.table(cols), os.path.join(sf_dir, "events.parquet"))


def _micros(df):
    rows = df.orderBy("user_id").select(
        F.unix_micros("ts").alias("ts"), F.unix_micros("seen").alias("seen")
    ).collect()
    return [r.ts for r in rows], [r.seen for r in rows]


def test_second_load_runs_no_job_and_normalizes(spark, tmp_path):
    _write_events(str(tmp_path))
    first, jobs_first = _jobs_during(
        spark, lambda: load_table(spark, str(tmp_path), "events")
    )
    assert jobs_first == 1  # the one schema inference
    second, jobs_second = _jobs_during(
        spark, lambda: load_table(spark, str(tmp_path), "events")
    )
    assert jobs_second == 0
    for df in (first, second):
        types = dict((f.name, f.dataType) for f in df.schema.fields)
        assert types["ts"] == TimestampType()
        assert types["seen"] == TimestampType()
        assert df.columns == ["user_id", "ts", "seen"]
        assert _micros(df) == (TS_MICROS, SEEN_MICROS)


def test_rewritten_file_invalidates_schema_memo(spark, tmp_path):
    _write_events(str(tmp_path))
    assert load_table(spark, str(tmp_path), "events").columns == [
        "user_id", "ts", "seen"
    ]
    _write_events(str(tmp_path), extra=True)
    df, jobs = _jobs_during(
        spark, lambda: load_table(spark, str(tmp_path), "events")
    )
    assert jobs == 1  # inferred again
    assert df.columns == ["user_id", "ts", "seen", "note"]
    assert [r.note for r in df.orderBy("user_id").collect()] == ["a", "b", "c"]
    assert _micros(df) == (TS_MICROS, SEEN_MICROS)


@pytest.mark.parametrize(
    "name",
    ["top_users", "revenue_by_region", "tfidf_top_terms", "near_dedup_corpus"],
)
def test_warm_plan_build_runs_no_job(spark, name):
    import __spark_entry__  # noqa: F401  registers every query
    from scalable_etl_spark.registry import QUERIES

    QUERIES[name](spark, CORPUS_DIR)  # warm: infers each table's schema once
    _, jobs = _jobs_during(spark, lambda: QUERIES[name](spark, CORPUS_DIR))
    assert jobs == 0
