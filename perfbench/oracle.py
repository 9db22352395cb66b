"""Correctness checks, each an independent DuckDB recompute.

Row comparison reuses the repository's own correctness gate
(``tools/check_correctness.py``): same value canonicalisation, same
order-insensitive multiset compare."""

from __future__ import annotations

import importlib.util
import os

import duckdb

_CC = None


def _check_correctness():
    global _CC
    if _CC is None:
        path = os.path.join(os.getcwd(), "tools", "check_correctness.py")
        spec = importlib.util.spec_from_file_location("check_correctness", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _CC = mod
    return _CC


def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when the two results hold the same column set and the same
    multiset of rows (after canonicalisation); otherwise what differs."""
    cc = _check_correctness()
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    oa = [list(cols_a).index(c) for c in sorted(cols_a)]
    ob = [list(cols_b).index(c) for c in sorted(cols_b)]
    sa = sorted(cc.row_key(tuple(r), oa) for r in rows_a)
    sb = sorted(cc.row_key(tuple(r), ob) for r in rows_b)
    if sa != sb:
        diffs = [(a, b) for a, b in zip(sa, sb) if a != b][:2]
        return f"value mismatch, first diffs {diffs}"
    return None


def _fetch(con, sql: str):
    tbl = con.execute(sql).fetch_arrow_table()
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


# Raw listens, one row per NDJSON line. A line that is not valid JSON
# reads as a row of nulls, as with the reference's ignore_errors=true
# reader (ingest_job.py:84) and Spark's PERMISSIVE streaming file source.
# Lines are split here rather than by read_ndjson, whose error recovery
# also nulls the valid line after a malformed one.
_RAW = """
SELECT CASE WHEN ok THEN CAST(line->>'listened_at' AS BIGINT) END AS listened_at,
       CASE WHEN ok THEN line->>'recording_msid' END AS recording_msid,
       CASE WHEN ok THEN line->>'user_name' END AS user_name,
       CASE WHEN ok THEN line->'track_metadata'->>'track_name' END AS track_name,
       CASE WHEN ok THEN line->'track_metadata'->>'artist_name' END AS artist_name
FROM (SELECT line, json_valid(line) AS ok FROM (
        SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line
        FROM read_text({files})))
"""

_BRONZE = """
SELECT listened_at, recording_msid, user_name,
       track_name, artist_name,
       CAST(epoch_ms(listened_at * 1000) AS DATE) AS listened_date
FROM raw
"""

_SILVER = """
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY user_name, listened_at
                               ORDER BY recording_msid ASC NULLS LAST) AS rn
  FROM bronze) WHERE rn = 1
"""

_GOLD = """
SELECT * EXCLUDE (rk) FROM (
  SELECT *, row_number() OVER (PARTITION BY user_name
                               ORDER BY listen_count DESC, listened_date ASC) AS rk
  FROM (SELECT user_name, listened_date, count(*) AS listen_count,
               count(DISTINCT track_name) AS unique_tracks,
               count(DISTINCT artist_name) AS unique_artists
        FROM silver GROUP BY user_name, listened_date))
WHERE rk <= 3
"""


def _file_list(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def raw_counts(files: list[str]) -> tuple[int, int]:
    """(lines, lines with a user) over NDJSON ``files``: what an
    exactly-once ingest of them holds."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT count(*), count(user_name) FROM ({_RAW.format(files=_file_list(files))})"
    ).fetchone()
    con.close()
    return tuple(got)


class DmlReplay:
    """DuckDB replay of the lakehouse op log: the expected silver and
    gold after every successful upsert and erasure, in commit order."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE silver (listened_at BIGINT, recording_msid VARCHAR,"
            " user_name VARCHAR, track_name VARCHAR, artist_name VARCHAR,"
            " listened_date DATE)"
        )

    def upsert(self, files: list[str]) -> None:
        """merge(to_silver(batch), keys=(user_name, listened_at)) over
        the batch reader's DROPMALFORMED rows (a malformed line's
        all-null row is dropped)."""
        raw = (
            f"SELECT * FROM ({_RAW.format(files=_file_list(files))}) "
            "WHERE listened_at IS NOT NULL OR user_name IS NOT NULL"
        )
        con = self.con
        con.execute(f"CREATE OR REPLACE TEMP VIEW raw AS {raw}")
        con.execute(f"CREATE OR REPLACE TEMP VIEW bronze AS {_BRONZE}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE batch AS {_SILVER}")
        con.execute(
            "DELETE FROM silver USING batch WHERE silver.user_name ="
            " batch.user_name AND silver.listened_at = batch.listened_at"
        )
        con.execute("INSERT INTO silver SELECT * FROM batch")

    def erase(self, user: str) -> None:
        self.con.execute("DELETE FROM silver WHERE user_name = ?", [user])

    def silver_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM silver").fetchone()[0]

    def silver(self):
        return _fetch(
            self.con,
            "SELECT user_name, listened_at, recording_msid, track_name FROM silver",
        )

    def gold(self):
        return _fetch(self.con, _GOLD)
