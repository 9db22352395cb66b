"""Table loading for the driver testdata star schema.

The testdata parquet stores timestamps as TIMESTAMP(NANOS,false), which
Spark only reads with ``spark.sql.legacy.parquet.nanosAsLong=true`` (as
raw BIGINT nanos). ``load_table`` normalizes those columns to proper
TimestampType at microsecond precision — truncating, which matches how
DuckDB casts TIMESTAMP_NS -> TIMESTAMP — so every downstream operator
sees ordinary timestamps.

Building a query plan runs no Spark job: ``spark.read.parquet(path)``
infers the schema with a footer-reading job on every call, so the
inferred schema is memoized per (absolute path, size, mtime_ns) of the
parquet file and later loads read with ``spark.read.schema(s)``.
Rewriting a file changes its size or mtime and so its key; parquet
directories and paths that are not on the local filesystem are inferred
on every load.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from .session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as parquet TIMESTAMP(NANOS) that arrive as BIGINT nanos.
_TS_NANOS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

# abs path -> ((size, mtime_ns), inferred schema); see the module
# docstring.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}
# Sessions whose runtime conf load_table already applied: tune_session
# is 14 conf round trips, paid once per session rather than per load.
_TUNED: weakref.WeakSet = weakref.WeakSet()


def quote_ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier (embedded backticks
    doubled), so a column named with a space, dot, reserved word or
    backtick resolves as that one top-level column in F.col and SQL."""
    return "`" + name.replace("`", "``") + "`"


def _stamp(path: str) -> tuple[int, int] | None:
    """(size, mtime_ns) of a local regular file, else None."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns) if stat.S_ISREG(st.st_mode) else None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """The parquet at ``path`` and its schema, inferring the schema (one
    Spark job) only when the file changed since the last call."""
    key = os.path.abspath(path)
    stamps = _stamp(key)
    hit = _SCHEMAS.get(key)
    reader = spark.read.format("parquet")
    if stamps is not None and hit is not None and hit[0] == stamps:
        return reader.schema(hit[1]).load(path), hit[1]
    df = reader.load(path)
    if stamps is not None:
        _SCHEMAS[key] = (stamps, df.schema)
    return df, df.schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing timestamp physical types.

    The driver has shipped the same logical tables under two parquet
    spellings across rounds: TIMESTAMP(NANOS) (arrives as BIGINT nanos
    under ``nanosAsLong``) and plain micros TIMESTAMP with
    isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ under Spark 4's NTZ
    inference). Both are normalized to session-zoned TimestampType; with
    the session pinned to UTC the NTZ->TZ cast is value-identical to how
    the DuckDB oracle reads the same column.
    """
    if spark not in _TUNED:
        tune_session(spark)
        _TUNED.add(spark)
    df, schema = _read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    nanos = _TS_NANOS_COLS.get(name, ())
    fixed: dict[str, str] = {}
    for f in schema.fields:
        c = quote_ident(f.name)
        if isinstance(f.dataType, TimestampNTZType):
            fixed[f.name] = f"CAST({c} AS TIMESTAMP)"
        elif f.name in nanos and isinstance(f.dataType, LongType):
            # Integer FLOOR division (not fp — 1.7e18 ns exceeds double's
            # exact range, and not `div` — Spark's div truncates toward
            # zero while DuckDB's TIMESTAMP_NS cast floors, so pre-1970
            # nanos would round the other way): floor(a/b) for b>0 is
            # (a - ((a % b + b) % b)) / b.
            fixed[f.name] = (
                f"timestamp_micros(({c} - (({c} % 1000 + 1000) % 1000)) div 1000)"
            )
    if not fixed:
        return df
    # one projection that keeps column order, not a withColumn loop
    return df.withColumns({c: F.expr(e) for c, e in fixed.items()})


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
