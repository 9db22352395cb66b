"""Tests for acid.py — snapshot-isolated transactional parquet tables.

The headline guarantees, each pinned here:
- atomic overwrite: a reader pinned to a snapshot is untouched by a
  concurrent overwrite (the SAME sequence breaks a bare parquet reader
  — proved side by side);
- serializable insert-ignore: a rival commit landing between the
  anti-join and the commit is detected and rebased, never duplicated;
- time travel + history + vacuum + compact maintenance surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scalable_etl_spark.acid import SnapshotTable


def _df(spark, rows, schema="k INT, v STRING"):
    return spark.createDataFrame(rows, schema)


def test_overwrite_append_roundtrip_and_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    v0 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    assert (v0, t.latest_version()) == (0, 0)
    v1 = t.append(_df(spark, [(3, "c")]))
    assert v1 == 1
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    ops = [h["op"] for h in t.history()]
    assert ops == ["append", "overwrite"]


def test_insert_ignore_merge_semantics(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert t.insert_ignore(_df(spark, [(1, "a"), (2, "b")]), ["k"]) == 2
    # overlapping batch: only the novel key lands
    assert t.insert_ignore(_df(spark, [(2, "DUP"), (3, "c")]), ["k"]) == 1
    # fully-duplicate batch: no commit at all
    v_before = t.latest_version()
    assert t.insert_ignore(_df(spark, [(1, "DUP")]), ["k"]) == 0
    assert t.latest_version() == v_before
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}


def test_concurrent_reader_survives_overwrite_unlike_bare_parquet(
    spark, tmp_path
):
    # Snapshot table: pin a reader, overwrite underneath it, reader
    # still serves its snapshot exactly.
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.overwrite(spark.range(0, 100).withColumnRenamed("id", "x"))
    pinned = t.read(0)
    t.overwrite(spark.range(100, 120).withColumnRenamed("id", "x"))
    assert pinned.count() == 100
    assert t.read().count() == 20

    # Bare parquet path, same sequence: the pinned reader breaks
    # (FileNotFound) or silently serves the WRONG snapshot.
    p = str(tmp_path / "bare")
    spark.range(0, 100).write.parquet(p)
    bare_pinned = spark.read.parquet(p)
    spark.range(100, 120).write.mode("overwrite").parquet(p)
    try:
        broken = bare_pinned.count() != 100
    except Exception:
        broken = True
    assert broken, "bare parquet has no snapshot isolation (if this "
    "ever passes, the motivation for acid.py changed)"


def test_insert_ignore_serializable_under_commit_race(spark, tmp_path):
    """A rival writer commits an overlapping key between our anti-join
    and our commit. The os.link commit detects the lost race; the rebase
    recomputes the novel set against the rival's snapshot — the rival's
    row wins, ours is ignored, nothing duplicates (the TOCTOU the
    catalog-based emulation in sinks.py documents)."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(_df(spark, [(1, "a")]))
    rival_batch = _df(spark, [(2, "rival")])
    mine = _df(spark, [(2, "mine"), (3, "c")])

    real_commit = t._commit
    fired = {"done": False}

    def racing_commit(version, manifest):
        if not fired["done"]:
            fired["done"] = True
            SnapshotTable(spark, root).insert_ignore(rival_batch, ["k"])
        return real_commit(version, manifest)

    t._commit = racing_commit  # type: ignore[method-assign]
    assert t.insert_ignore(mine, ["k"]) == 1  # only k=3 is novel now
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "rival"), (3, "c")}
    # k=2 appears exactly once
    assert t.read().filter("k = 2").count() == 1


def test_merge_update_and_delete(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    # upsert: k=2 updated, k=4 inserted, k=1/3 untouched
    t.merge(_df(spark, [(2, "B!"), (4, "d")]), ["k"], when_matched="update")
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "B!"), (3, "c"), (4, "d")}
    # merge-delete: matched keys removed, unmatched batch keys insert
    t.merge(_df(spark, [(1, "x"), (9, "z")]), ["k"], when_matched="delete")
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(2, "B!"), (3, "c"), (4, "d"), (9, "z")}
    # previous snapshots still time-travel intact
    assert {(r.k, r.v) for r in t.read(0).collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }


def test_stream_sink_exactly_once_across_checkpoint_loss(spark, tmp_path):
    """The crash window foreachBatch exists for: sink commit succeeded,
    checkpoint commit lost -> Structured Streaming REPLAYS the batch.
    Simulated by deleting the checkpoint outright (the worst case:
    every batch replays). The manifest's txn ledger must skip the
    replayed batches — zero duplicate rows."""
    import json as _json
    import shutil

    from scalable_etl_spark.acid import write_stream_snapshot
    from scalable_etl_spark.schemas import LISTEN_SCHEMA  # noqa: F401

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def _write(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    _write("f1.jsonl", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    stream = spark.readStream.schema("k INT, v STRING").json(str(src))
    q = write_stream_snapshot(stream, t, ckpt, query_id="q1")
    q.awaitTermination()
    assert t.read().count() == 2
    ledger = t._manifest(t.latest_version())["txn"]
    assert ledger["q1"] >= 0

    # Lose the checkpoint; the same input replays from batch 0.
    shutil.rmtree(ckpt)
    q = write_stream_snapshot(stream, t, ckpt, query_id="q1")
    q.awaitTermination()
    assert t.read().count() == 2, "replayed batch must be skipped"

    # New data still lands (new batch id beyond the ledger after the
    # replayed ids catch up).
    _write("f2.jsonl", [{"k": 3, "v": "c"}])
    q = write_stream_snapshot(stream, t, ckpt, query_id="q1")
    q.awaitTermination()
    assert {r.k for r in t.read().collect()} == {1, 2, 3}

    # The ledger survives a compact (otherwise a later replay would
    # double-write).
    t.compact()
    assert t._manifest(t.latest_version())["txn"]["q1"] >= 0

    # stats_cols on the stream sink: the micro-batch dir gets footer
    # stats, so ranged reads skip batches outside the predicate
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    q = write_stream_snapshot(
        stream, t2, str(tmp_path / "ckpt2"), query_id="q2",
        stats_cols=["k"],
    )
    q.awaitTermination()
    m = t2._manifest(t2.latest_version())
    (d,) = m["dirs"]
    assert m["stats"][d]["k"] == [1, 3]
    assert m["file_stats"][d]
    assert t2.read(where=("k", 5, 9)).count() == 0


def test_time_travel_compact_vacuum(spark, tmp_path):
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert t.read(0).count() == 1
    assert t.read(1).count() == 2
    assert t.read().count() == 3
    # compact rewrites the live snapshot into one dir
    v = t.compact()
    assert t._manifest(v)["dirs"] and len(t._manifest(v)["dirs"]) == 1
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    # default vacuum spares young unreferenced dirs (an in-flight
    # writer's data lands before its manifest; deleting it would break
    # the commit) — everything here is seconds old, so nothing goes
    assert t.vacuum(retain_versions=1) == []
    # explicit zero window: only the compacted dir survives
    removed = t.vacuum(retain_versions=1, min_age_seconds=0)
    assert len(removed) == 3  # the three pre-compaction dirs
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    assert len(os.listdir(t.data_dir)) == 1


def test_merge_prunes_untouched_dirs_via_stats(spark, tmp_path):
    """Pruned copy-on-write: a merge whose batch keys fall entirely in
    one dir's range must carry the other dirs over UNREWRITTEN (same
    dir names, stats preserved), rewrite only the hit dir, and still
    produce exact results."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "lo") for i in range(0, 10)]),
                stats_cols=["k"])
    t.append(_df(spark, [(i, "mid") for i in range(100, 110)]),
             stats_cols=["k"])
    t.append(_df(spark, [(i, "hi") for i in range(200, 210)]),
             stats_cols=["k"])
    before = t._manifest(t.latest_version())
    t.merge(_df(spark, [(105, "UPD"), (150, "NEW")]), ["k"])
    after = t._manifest(t.latest_version())
    untouched = set(before["dirs"]) & set(after["dirs"])
    assert len(untouched) == 2, "lo/hi dirs must be carried over"
    assert len(after["dirs"]) == 3  # 2 carried + 1 rewritten
    # carried dirs keep their stats; the rewritten dir gets fresh key
    # stats from its parquet footers (so the NEXT merge can prune it)
    assert set(after["stats"]) == set(after["dirs"])
    (rewritten,) = set(after["dirs"]) - untouched
    lo, hi = after["stats"][rewritten]["k"]
    assert lo == 100 and hi == 150
    rows = {(r.k, r.v) for r in t.read().collect()}
    expect = {(i, "lo") for i in range(0, 10)}
    expect |= {(i, "mid") for i in range(100, 110) if i != 105}
    expect |= {(105, "UPD"), (150, "NEW")}
    expect |= {(i, "hi") for i in range(200, 210)}
    assert rows == expect


def test_merge_pins_nondeterministic_source(spark, tmp_path):
    """A source whose second evaluation differs from its first (a
    nondeterministic UDF over a counter file: key 5 on its first call,
    105 after) is evaluated once: the key-range pruning and the rewrite
    both see key 5, so no key ends up in two dirs."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "lo") for i in range(0, 10)]),
                stats_cols=["k"])
    t.append(_df(spark, [(i, "mid") for i in range(100, 110)]),
             stats_cols=["k"])
    counter = str(tmp_path / "calls")
    open(counter, "w").close()

    def drifting_key(_):
        with open(counter, "a+") as f:
            f.seek(0)
            calls = len(f.read())
            f.write("x")
        return 5 if calls == 0 else 105

    key = F.udf(drifting_key, "int").asNondeterministic()
    t.merge(_df(spark, [(0, "UPD")]).select(key("k").alias("k"), "v"), ["k"])
    rows = [(r.k, r.v) for r in t.read().collect()]
    assert len(rows) == len({k for k, _ in rows}), "duplicate keys"
    assert (5, "UPD") in rows and (105, "mid") in rows


def test_data_skipping_prunes_dirs(spark, tmp_path):
    """Three appends with disjoint key ranges + stats -> a ranged read
    must plan only the matching dir (dir-level data skipping), while
    results stay correct, and dirs WITHOUT stats are conservatively
    kept."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "a") for i in range(0, 10)]),
                stats_cols=["k"])
    t.append(_df(spark, [(i, "b") for i in range(100, 110)]),
             stats_cols=["k"])
    t.append(_df(spark, [(i, "c") for i in range(200, 210)]),
             stats_cols=["k"])
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 3 and len(m["stats"]) == 3
    # pruning: only the middle dir can contain [100, 109]
    kept = t._prune_dirs(m, m["dirs"], "k", 100, 109)
    assert len(kept) == 1
    rows = t.read(where=("k", 100, 109)).collect()
    assert sorted(r.k for r in rows) == list(range(100, 110))
    assert {r.v for r in rows} == {"b"}
    # stat-less dir is kept and the residual filter still applies
    t.append(_df(spark, [(105, "late")]))  # no stats_cols
    rows = t.read(where=("k", 100, 109)).collect()
    assert sorted(r.k for r in rows) == sorted(
        list(range(100, 110)) + [105]
    )


def test_file_level_skipping_with_cluster_by(spark, tmp_path):
    """``cluster_by`` range-clusters one write into many files with
    near-disjoint footer-derived ranges; a ranged read must plan only
    the intersecting FILES (file-level skipping within a single dir —
    the Delta/Iceberg data-skipping shape) while results stay exact."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") % 7
    )
    t.overwrite(df, cluster_by=["k"], n_files=8)
    m = t._manifest(0)
    (d,) = m["dirs"]
    fstats = m["file_stats"][d]
    assert len(fstats) == 8
    # footer stats, not a scan job: every file carries a [min, max]
    assert all("k" in per for per in fstats.values())
    kept = t._prune_files(fstats, "k", 100, 149)
    assert 0 < len(kept) < 8, "a 5% range must not need every file"
    pruned = t.read(where=("k", 100, 149))
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 150))
    # the planned scan references exactly the kept files, not the dir
    assert len(pruned.inputFiles()) == len(kept)


def test_table_changes_incremental_reads(spark, tmp_path):
    """CDF-style incremental consumption: changes after version N are
    exactly the rows later appends added (tagged with their commit
    version); rewrite commits in the range fail loudly unless the
    consumer opts into re-delivery."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "base")]))                    # v0
    t.append(_df(spark, [(2, "b"), (3, "c")]))                # v1
    t.insert_ignore(_df(spark, [(3, "dup"), (4, "d")]), ["k"])  # v2
    ch = t.table_changes(0)
    got = {(r.k, r.v, r._commit_version) for r in ch.collect()}
    assert got == {(2, "b", 1), (3, "c", 1), (4, "d", 2)}
    # bounded range + empty range
    assert {r.k for r in t.table_changes(1).collect()} == {4}
    assert t.table_changes(2).count() == 0
    # a rewrite in the range: loud by default, re-delivery on opt-in
    t.merge(_df(spark, [(2, "B!")]), ["k"])                   # v3
    with pytest.raises(ValueError, match="rewrite"):
        t.table_changes(2)
    redelivered = t.table_changes(2, ignore_changes=True)
    assert redelivered.count() > 0  # rewritten dir rows reappear
    # schema evolution across the range: old rows null-fill new cols
    t.append(
        spark.createDataFrame([(9, "z", 1.5)], "k INT, v STRING, w DOUBLE"),
        merge_schema=True,
    )                                                          # v4
    ch = t.table_changes(3)
    assert {(r.k, r.w) for r in ch.collect()} == {(9, 1.5)}


def test_sync_incremental_exactly_once(spark, tmp_path):
    """Incremental materialization: backfill, then strictly the new
    rows; re-running with no source change is a no-op; a rival sync
    racing the commit cannot double-apply (ledger re-check on rebase)."""
    from pyspark.sql import functions as SF

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    keep_even = lambda df: df.filter(SF.col("k") % 2 == 0)  # noqa: E731

    src.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    v, synced = sync_incremental(src, dst, transform=keep_even)
    assert (v, synced) == (0, 0)
    assert {(r.k, r._src_version) for r in dst.read().collect()} == {(2, 0)}

    src.append(_df(spark, [(3, "c"), (4, "d")]))
    v, synced = sync_incremental(src, dst, transform=keep_even)
    assert synced == 1
    assert {(r.k, r._src_version) for r in dst.read().collect()} == {
        (2, 0), (4, 1),
    }
    # no source change -> no commit
    before = dst.latest_version()
    assert sync_incremental(src, dst, transform=keep_even) == (before, 1)
    assert dst.latest_version() == before

    # rival sync fires between our ledger read and our commit: the
    # loser's rebase re-reads the ledger and must NOT re-apply
    src.append(_df(spark, [(6, "e")]))
    real_commit = dst._commit
    fired = {"done": False}

    def racing_commit(version, manifest):
        if not fired["done"]:
            fired["done"] = True
            sync_incremental(
                src,
                SnapshotTable(spark, str(tmp_path / "dst")),
                transform=keep_even,
            )
        return real_commit(version, manifest)

    dst._commit = racing_commit  # type: ignore[method-assign]
    sync_incremental(src, dst, transform=keep_even)
    rows = [r.k for r in dst.read().collect()]
    assert sorted(rows) == [2, 4, 6], "rival + loser must not double-apply"


def test_sync_chains_across_three_tables(spark, tmp_path):
    """Pipelines chain: sync commits are append-shaped, so a second
    hop consumes the first hop's appends incrementally; each hop's
    _src_version reflects ITS upstream (no duplicate provenance
    columns)."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    mid = SnapshotTable(spark, str(tmp_path / "mid"))
    out = SnapshotTable(spark, str(tmp_path / "out"))
    src.overwrite(_df(spark, [(1, "a")]))
    sync_incremental(src, mid, sync_id="hop1")
    sync_incremental(mid, out, sync_id="hop2")
    src.append(_df(spark, [(2, "b")]))
    sync_incremental(src, mid, sync_id="hop1")
    sync_incremental(mid, out, sync_id="hop2")
    rows = {(r.k, r.v) for r in out.read().collect()}
    assert rows == {(1, "a"), (2, "b")}
    assert out.read().columns.count("_src_version") == 1
    # second hop saw mid's versions (0 backfill, then the append)
    assert {r._src_version for r in out.read().collect()} == {0, 1}


def test_merge_composite_key_prunes_on_any_column(spark, tmp_path):
    """Composite-key MERGE must carry over a dir when ANY key column's
    committed range is disjoint from the batch's (equality on all keys
    is required for a match, so one disjoint column proves absence) —
    and results stay exact."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = lambda rows: spark.createDataFrame(rows, "a INT, b INT, v STRING")  # noqa: E731
    t.overwrite(df([(i, i + 1000, "x") for i in range(10)]),
                stats_cols=["a", "b"])
    t.append(df([(i, i + 2000, "y") for i in range(10)]),
             stats_cols=["a", "b"])  # same a-range, disjoint b-range
    before = t._manifest(t.latest_version())
    # batch overlaps BOTH dirs on a, but only the first dir on b
    t.merge(df([(5, 1005, "UPD"), (99, 1099, "NEW")]), ["a", "b"])
    after = t._manifest(t.latest_version())
    carried = set(before["dirs"]) & set(after["dirs"])
    assert len(carried) == 1, "b-disjoint dir must be carried over"
    rows = {(r.a, r.b, r.v) for r in t.read().collect()}
    expect = {(i, i + 1000, "x") for i in range(10) if i != 5}
    expect |= {(5, 1005, "UPD"), (99, 1099, "NEW")}
    expect |= {(i, i + 2000, "y") for i in range(10)}
    assert rows == expect


def test_compact_with_cluster_by_restores_skipping(spark, tmp_path):
    """OPTIMIZE parity: unclustered appends accumulate stat-less dirs;
    compact(cluster_by=...) must bin-pack them into one clustered,
    fully-stated dir so ranged reads prune again."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(spark.createDataFrame(
            [(i, "v") for i in range(lo, lo + 50)], "k INT, v STRING"
        ))
    assert t._manifest(t.latest_version()).get("file_stats", {}) == {}
    v = t.compact(cluster_by=["k"], n_files=6)
    m = t._manifest(v)
    (d,) = m["dirs"]
    assert len(m["file_stats"][d]) == 6
    kept = t._prune_files(m["file_stats"][d], "k", 100, 120)
    assert 0 < len(kept) < 6
    got = sorted(r.k for r in t.read(where=("k", 100, 120)).collect())
    assert got == list(range(100, 121))


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering must let a ranged read skip files on EITHER
    clustered column, where single-column clustering skips only on its
    own column — the reason multi-dimension layouts exist. Exactness
    is asserted on every read."""
    df = (
        spark.range(0, 4096)
        .withColumn("x", (F.col("id") % 64).cast("int"))
        .withColumn("y", (F.col("id") / 64).cast("int"))
        .drop("id")
    )

    zt = SnapshotTable(spark, str(tmp_path / "z"))
    zt.overwrite(df, cluster_by=["x", "y"], n_files=16, zorder=True)
    m = zt._manifest(0)
    (d,) = m["dirs"]
    fstats = m["file_stats"][d]
    assert len(fstats) > 1
    kept_x = zt._prune_files(fstats, "x", 0, 7)
    kept_y = zt._prune_files(fstats, "y", 0, 7)
    assert len(kept_x) < len(fstats), "zorder must prune on x"
    assert len(kept_y) < len(fstats), "zorder must prune on y"

    # single-column clustering on x: y reads keep every file
    xt = SnapshotTable(spark, str(tmp_path / "x"))
    xt.overwrite(df, cluster_by=["x"], stats_cols=["x", "y"], n_files=16)
    mx = xt._manifest(0)
    (dx,) = mx["dirs"]
    assert len(xt._prune_files(mx["file_stats"][dx], "y", 0, 7)) == len(
        mx["file_stats"][dx]
    ), "x-clustered layout cannot prune on y (this is the contrast)"

    for col, lo, hi in [("x", 0, 7), ("y", 0, 7), ("x", 60, 63)]:
        got = sorted(
            (r.x, r.y) for r in zt.read(where=(col, lo, hi)).collect()
        )
        expect = sorted(
            (r.x, r.y)
            for r in df.filter(F.col(col).between(lo, hi)).collect()
        )
        assert got == expect, f"zorder read diverged on {col}"


def test_skipping_never_loses_rows_property(spark, tmp_path):
    """Property: for ANY mix of clustered/unclustered/stat-less/
    null-bearing commits, read(where=(k, lo, hi)) returns exactly the
    rows the plain filter returns. Deterministic multi-case sweep
    (a full hypothesis loop would rebuild Spark tables per example;
    the commit mix IS the example space here)."""
    rows_a = [(i, "a") for i in range(0, 50)]
    rows_b = [(i, "b") for i in range(40, 90)]  # overlapping range
    rows_n = [(None, "n"), (45, "n2")]  # null keys in a stat-less dir
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(rows_a, "k INT, v STRING"),
        cluster_by=["k"],
        n_files=4,
    )
    t.append(spark.createDataFrame(rows_b, "k INT, v STRING"),
             stats_cols=["k"])
    t.append(spark.createDataFrame(rows_n, "k INT, v STRING"))  # no stats
    full = t.read()
    for lo, hi in [(0, 89), (10, 20), (40, 45), (60, 200), (-5, -1),
                   (85, 90)]:
        expect = sorted(
            (r.k, r.v)
            for r in full.collect()
            if r.k is not None and lo <= r.k <= hi
        )
        got = sorted((r.k, r.v) for r in t.read(where=("k", lo, hi)).collect())
        assert got == expect, f"range [{lo}, {hi}] diverged"


def test_schema_evolution_on_append(spark, tmp_path):
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]))
    wide = spark.createDataFrame([(2, "b", 9.5)], "k INT, v STRING, w DOUBLE")
    # without the flag: rejected loudly
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(wide)
    t.append(wide, merge_schema=True)
    rows = {(r.k, r.v, r.w) for r in t.read().collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}
    # type conflict on an existing column: always an error
    bad = spark.createDataFrame([(3, 7)], "k INT, v INT")
    with pytest.raises(ValueError, match="schema conflict"):
        t.append(bad, merge_schema=True)


def test_partitioned_overwrite_preserves_partition_values(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-01")],
        "k INT, d STRING",
    ).withColumn("d", F.to_date("d"))
    t.overwrite(df, partition_cols=["d"])
    rows = {(r.k, str(r.d)) for r in t.read().collect()}
    assert rows == {
        (1, "2024-01-01"),
        (2, "2024-01-02"),
        (3, "2024-01-01"),
    }


def test_timestamp_skipping_safe_across_timezone_frames(spark, tmp_path):
    """Footer stats for TIMESTAMP_MICROS columns come back from pyarrow
    tz-AWARE (UTC instants) while ``read(where=)`` predicates are naive
    session-local datetimes. ``_js`` must put BOTH in the session-tz
    naive frame before the lexicographic compare — otherwise a file
    whose footer min equals the predicate's upper bound is wrongly
    pruned (the '+00:00' suffix sorts it past the bound). Regression
    for the round-6 advisor finding (acid.py ``_js``)."""
    import datetime

    old_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        t = SnapshotTable(spark, str(tmp_path / "t"))
        base = datetime.datetime(2024, 3, 1)
        rows = [
            (i, base + datetime.timedelta(hours=i)) for i in range(96)
        ]
        df = spark.createDataFrame(rows, "i INT, ts TIMESTAMP")
        t.overwrite(df, cluster_by=["ts"], n_files=4)
        m = t._manifest(0)
        (d,) = m["dirs"]
        fstats = m["file_stats"][d]
        # stats survive canonicalization (not degraded to keep-all)
        assert all("ts" in per for per in fstats.values())
        lo = base + datetime.timedelta(hours=24)
        hi = base + datetime.timedelta(hours=47)
        got = sorted(r.i for r in t.read(where=("ts", lo, hi)).collect())
        want = sorted(
            r.i
            for r in t.read()
            .filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
            .collect()
        )
        assert got == want and len(want) == 24
        # and skipping still WORKS: a 25% range must not need all files
        kept = t._prune_files(fstats, "ts", t._js(lo), t._js(hi))
        assert 0 < len(kept) < 4
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_tt)
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stats_cols_union_cluster_by(spark, tmp_path):
    """Passing stats_cols must not silently drop stats on the
    cluster_by key (round-6 advisor finding): the manifest records
    [min,max] for the UNION of both lists, so the clustered layout
    keeps skipping on its own key."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 400).select(
        F.col("id").alias("x"), (F.col("id") % 20).alias("y")
    )
    t.overwrite(df, cluster_by=["x"], stats_cols=["y"], n_files=4)
    m = t._manifest(0)
    (d,) = m["dirs"]
    for per in m["file_stats"][d].values():
        assert "x" in per and "y" in per
    kept = t._prune_files(m["file_stats"][d], "x", 0, 99)
    assert 0 < len(kept) < 4, "cluster key skipping must still engage"
    # append path takes the same union
    t.append(
        spark.range(400, 500).select(
            F.col("id").alias("x"), (F.col("id") % 20).alias("y")
        ),
        cluster_by=["x"],
        stats_cols=["y"],
    )
    m = t._manifest(1)
    new_d = [d2 for d2 in m["dirs"] if d2 != d][0]
    for per in m["file_stats"][new_d].values():
        assert "x" in per and "y" in per


def test_sync_incremental_follows_source_schema_evolution(
    spark, tmp_path
):
    """A src-side additive schema evolution must not permanently wedge
    the sync pipeline (round-6 advisor finding): without the flag the
    evolved batch raises; with ``merge_schema=True`` dst's schema
    follows and earlier dst rows read the new column as null."""
    import pytest

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.overwrite(_df(spark, [(1, "a")]))
    sync_incremental(src, dst, sync_id="s")
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "k INT, v STRING, w DOUBLE"
    )
    src.append(wide, merge_schema=True)
    with pytest.raises(ValueError, match="merge_schema"):
        sync_incremental(src, dst, sync_id="s")
    # the failed attempt must not have advanced the ledger
    v, synced = sync_incremental(
        src, dst, sync_id="s", merge_schema=True
    )
    assert synced == src.latest_version()
    rows = {(r.k, r.v, r.w) for r in dst.read().drop("_src_version").collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_manifest_checkpointing_bounds_log_resolution(spark, tmp_path):
    """Delta-log + checkpoint protocol (Delta paper §3.1): most commits
    persist as O(batch) deltas; every 10th is a full checkpoint; a
    reader resolves any version by loading one checkpoint + its <= 9
    trailing deltas, never the whole history — the 10^3-commit table's
    read cost stays flat."""
    import json

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(100):
        t.append(_df(spark, [(i, f"v{i}")]), stats_cols=["k"])
    # log shape: checkpoints at multiples of 10, deltas elsewhere
    for v in (0, 10, 50, 90):
        assert t._manifest_raw(v).get("format") != "delta", v
    for v in (1, 9, 55, 99):
        raw = t._manifest_raw(v)
        assert raw["format"] == "delta", v
        # delta carries ONLY the commit's own dir + stats
        assert len(raw["add_dirs"]) == 1 and not raw["drop_dirs"]
        assert len(raw["add_file_stats"]) == 1
    # a delta entry stays O(batch) while the checkpoint grows O(table)
    raw99 = len(json.dumps(t._manifest_raw(99)))
    raw90 = len(json.dumps(t._manifest_raw(90)))
    assert raw99 < raw90 / 5
    # resolution IO: a FRESH reader (cold cache) loads checkpoint+tail
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    opens = []
    orig = SnapshotTable._manifest_raw
    t2._manifest_raw = lambda v: (opens.append(v), orig(t2, v))[1]
    m = t2._manifest(99)
    assert sorted(opens) == list(range(90, 100))
    assert len(m["dirs"]) == 100 and len(m["file_stats"]) == 100
    # end-to-end: resolved snapshot reads every committed row, and
    # data skipping still prunes through delta-carried stats
    assert t2.read().count() == 100
    rows = t2.read(where=("k", 42, 44)).collect()
    assert sorted(r.k for r in rows) == [42, 43, 44]
    # time travel through a delta chain
    assert t2.read(57).count() == 58


def test_vacuum_preserves_delta_chain(spark, tmp_path):
    """vacuum must keep the log entries a retained delta resolves
    through (back to its checkpoint), while still dropping strictly
    older manifests."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(25):
        t.append(_df(spark, [(i, "x")]))
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    assert t2.read().count() == 25  # v24 resolves via checkpoint v20
    import os

    kept = sorted(
        int(n[:-5]) for n in os.listdir(t.log_dir) if n.endswith(".json")
    )
    assert kept == list(range(20, 25))


def test_export_symlink_manifest_duckdb_replays_snapshot(spark, tmp_path):
    """Engine interop (reference notebooks/analysis-minio.ipynb:52-65:
    DuckDB reads what Spark committed): the symlink-manifest export of
    version v lets DuckDB replay EXACTLY that snapshot — while a naive
    glob of data/ also sees dirs a rewrite superseded and returns wrong
    rows."""
    import duckdb

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.overwrite(_df(spark, [(10, "x"), (11, "y")]))  # stale dirs remain
    exp = str(tmp_path / "exp")
    files = t.export_symlink_manifest(exp)
    assert files == t.committed_files()
    con = duckdb.connect()
    got = con.execute(
        f"SELECT k, v FROM read_parquet('{exp}/**/*.parquet') ORDER BY k"
    ).fetchall()
    assert got == [(10, "x"), (11, "y")]
    # naive glob over the data dir reads superseded dirs too
    naive = con.execute(
        "SELECT COUNT(*) FROM read_parquet("
        f"'{t.data_dir}/*/*.parquet')"
    ).fetchone()[0]
    assert naive == 5  # 2 + 1 + 2: why the manifest list is the contract
    # historical snapshot: version 1 replays pre-rewrite state
    files_v1 = t.export_symlink_manifest(str(tmp_path / "exp1"), version=1)
    got1 = con.execute(
        f"SELECT k FROM read_parquet('{tmp_path / 'exp1'}/**/*.parquet') "
        "ORDER BY k"
    ).fetchall()
    assert [r[0] for r in got1] == [1, 2, 3]
    # PARTITIONED snapshot: hive path components survive the export and
    # DuckDB recovers the partition column from the symlink paths
    tp = SnapshotTable(spark, str(tmp_path / "tp"))
    pdf = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k INT, day STRING"
    )
    tp.overwrite(pdf, partition_cols=["day"])
    expp = str(tmp_path / "expp")
    tp.export_symlink_manifest(expp)
    gotp = con.execute(
        f"SELECT k, day FROM read_parquet('{expp}/**/*.parquet', "
        "hive_partitioning=true) ORDER BY k"
    ).fetchall()
    assert gotp == [(1, "a"), (2, "b"), (3, "a")]


def test_concurrent_writers_serializable_no_lost_updates(spark, tmp_path):
    """Multi-writer stress (round-6 verdict "Next round" #7): N threads
    race insert_ignore batches with OVERLAPPING key ranges plus
    appends; optimistic commits must serialize into N+M distinct
    versions with no lost update — every thread's keys present exactly
    once, first-writer-wins on overlaps."""
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "seed")]))
    n_writers = 6

    def ignore_batch(w: int):
        # each writer inserts [w*10, w*10+14] — overlaps its neighbor
        rows = [(k, f"w{w}") for k in range(w * 10, w * 10 + 15)]
        return t.insert_ignore(_df(spark, rows), ["k"])

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        inserted = list(ex.map(ignore_batch, range(n_writers)))
    # serializable: the 6 racing commits landed as versions 1..6, and
    # the inserted counts sum to exactly the novel-key total (64: keys
    # 0..64 minus the seeded 0) — any lost update would under-count,
    # any double-apply would over-count
    assert t.latest_version() == n_writers
    assert sum(inserted) == 64
    rows = t.read().collect()
    keys = sorted(r.k for r in rows)
    assert keys == list(range(65)), "keys lost or duplicated"
    # first-writer-wins: each overlap key has exactly one writer's tag
    by_key: dict[int, str] = {}
    for r in rows:
        assert r.k not in by_key, f"duplicate key {r.k}"
        by_key[r.k] = r.v
    assert by_key[0] == "seed"
    ops = [h["op"] for h in t.history()]
    assert ops.count("insert_ignore") == n_writers


def test_maybe_compact_policy(spark, tmp_path):
    """Auto-compact fires only past the file-count ceiling, restores a
    small-file table to a bounded layout, and is a cheap no-op below
    threshold (no new version committed)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(6):
        t.append(_df(spark, [(i, "x")]))
    v_before = t.latest_version()
    assert t.maybe_compact(max_files=100) is None
    assert t.latest_version() == v_before, "below ceiling: must not commit"
    n_files_before = len(t.committed_files())
    assert n_files_before >= 6
    v = t.maybe_compact(max_files=4, n_files=2)
    assert v == v_before + 1
    assert len(t.committed_files()) <= 2
    rows = sorted(r.k for r in t.read().collect())
    assert rows == list(range(6))
    # compacted layout is now under the ceiling: next call no-ops
    assert t.maybe_compact(max_files=4) is None


def test_delete_rewrites_only_candidate_dirs(spark, tmp_path):
    """Row-level DELETE (copy-on-write): dirs whose stats prove no
    match survive UNREWRITTEN; matching rows vanish; false-and-NULL
    predicate rows are kept (SQL DELETE semantics); a no-match delete
    commits nothing; prior snapshots time-travel intact."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "a") for i in range(0, 10)]),
                stats_cols=["k"])
    t.append(_df(spark, [(i, "b") for i in range(100, 110)]),
             stats_cols=["k"])
    t.append(_df(spark, [(i, "c") for i in range(200, 210)]),
             stats_cols=["k"])
    dirs_before = t._manifest(2)["dirs"]
    v = t.delete(F.col("k").between(103, 106), prune=("k", 103, 106))
    assert v == 3
    m = t._manifest(3)
    # first and third dirs untouched (same names), middle rewritten
    assert dirs_before[0] in m["dirs"] and dirs_before[2] in m["dirs"]
    assert dirs_before[1] not in m["dirs"]
    keys = sorted(r.k for r in t.read().collect())
    assert keys == list(range(0, 10)) + [100, 101, 102, 107, 108, 109] \
        + list(range(200, 210))
    assert t.read(2).count() == 30  # time travel pre-delete
    # fresh stats on the rewritten dir keep skipping alive
    rows = t.read(where=("k", 100, 109)).collect()
    assert sorted(r.k for r in rows) == [100, 101, 102, 107, 108, 109]
    # no-match delete: no new version
    assert t.delete(F.col("k") > 10_000, prune=("k", 10_001, 10**9)) == 3
    assert t.latest_version() == 3
    # NULL predicate rows are kept (SQL DELETE deletes only TRUE)
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(_df(spark, [(1, "x"), (2, None), (3, "y")]))
    t2.delete(F.col("v") == "x")
    assert {(r.k, r.v) for r in t2.read().collect()} == {
        (2, None), (3, "y")
    }
    # SQL-string predicate spelling
    t2.delete("k = 3")
    assert {r.k for r in t2.read().collect()} == {2}
    ops = [h["op"] for h in t2.history()]
    assert ops[:2] == ["delete", "delete"]


def test_update_predicate_assignments(spark, tmp_path):
    """Predicate UPDATE: only TRUE rows change, assignments can
    reference existing columns, pruned dirs stay unrewritten, unknown
    columns raise, no-match commits nothing."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "a") for i in range(0, 10)]),
                stats_cols=["k"])
    t.append(_df(spark, [(i, "b") for i in range(100, 110)]),
             stats_cols=["k"])
    dirs_before = t._manifest(1)["dirs"]
    v = t.update(
        F.col("k") >= 105,
        {"v": F.concat(F.col("v"), F.lit("!")), "k": F.col("k") + 1000},
        prune=("k", 105, 10**9),
    )
    assert v == 2
    m = t._manifest(2)
    assert dirs_before[0] in m["dirs"]      # first dir untouched
    assert dirs_before[1] not in m["dirs"]  # second rewritten
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(i, "a") for i in range(10)} | {
        (i, "b") for i in range(100, 105)
    } | {(i + 1000, "b!") for i in range(105, 110)}
    # no-match: no commit
    assert t.update(F.col("k") < 0, {"v": F.lit("x")}) == 2
    with pytest.raises(ValueError, match="unknown columns"):
        t.update(F.col("k") == 0, {"nope": F.lit(1)})
    # SQL-string spellings
    t.update("k = 0", {"v": "'zero'"})
    assert t.read().filter("k = 0").collect()[0].v == "zero"


def test_dangling_uncommitted_dir_is_invisible_then_vacuumed(
    spark, tmp_path
):
    """Crash simulation: a writer that died AFTER writing its data dir
    but BEFORE committing leaves an orphan. Readers never see it (the
    manifest is the source of truth), exports don't list it, and an
    aged vacuum reclaims it without touching live data."""
    import os

    import time as _time

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    # simulate the dead writer: data lands, no commit follows
    orphan = t._write_data(_df(spark, [(99, "ghost")]), ())
    assert os.path.isdir(os.path.join(t.data_dir, orphan))
    assert {r.k for r in t.read().collect()} == {1, 2}
    assert not any(orphan in p for p in t.committed_files())
    # young orphan is spared — its commit-INTENT marker is live, so
    # even a zero-age vacuum treats it as an in-flight writer
    assert t.vacuum(retain_versions=1, min_age_seconds=0.0) == []
    # a CRASHED writer's marker goes stale (simulated by backdating
    # marker + dir past the retention window): reclaimed, live data
    # untouched
    old = _time.time() - 7200
    os.utime(os.path.join(t.intents_dir, orphan), (old, old))
    root = os.path.join(t.data_dir, orphan)
    for walk_root, subdirs, files in os.walk(root, topdown=False):
        for name in (*subdirs, *files):
            os.utime(os.path.join(walk_root, name), (old, old))
    os.utime(root, (old, old))
    removed = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert removed == [orphan]
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_concurrent_appends_during_vacuum(spark, tmp_path):
    """Writers racing a vacuum: the age guard keeps vacuum from eating
    any dir an in-flight append is about to commit; every appended row
    survives and the final history is a clean serial chain."""
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(0, "seed")]))
    t.overwrite(_df(spark, [(0, "seed2")]))  # v0's dir now unreferenced

    def appender(i: int):
        return t.append(_df(spark, [(i, f"w{i}")]))

    def vacuumer(_):
        # production-shaped window: in-flight writers' dirs are young
        return t.vacuum(retain_versions=1, min_age_seconds=3600)

    with ThreadPoolExecutor(max_workers=5) as ex:
        futs = [ex.submit(appender, i) for i in range(1, 5)]
        vfut = ex.submit(vacuumer, 0)
        versions = [f.result() for f in futs]
        removed = vfut.result()
    assert removed == [], "young dirs must never be vacuumed"
    assert sorted(versions) == [2, 3, 4, 5]
    keys = sorted(r.k for r in t.read().collect())
    assert keys == [0, 1, 2, 3, 4]


def test_partition_granular_entries_and_scoped_delete(spark, tmp_path):
    """Partition-granular commit units: a partitioned overwrite
    manifests one entry per partition leaf; an equality-pruned DELETE
    on the partition column rewrites ONLY that partition's entries
    (every other partition's entry survives by name); reads prune by
    path component; partition values survive every path."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(30)], "k INT, day STRING"
    )
    t.overwrite(df, partition_cols=["day"])
    m = t._manifest(0)
    assert len(m["dirs"]) == 3
    assert sorted(e.split("/", 1)[1] for e in m["dirs"]) == [
        "day=d0", "day=d1", "day=d2"
    ]
    # read prunes to one partition by path, values intact
    one = t.read(where=("day", "d1", "d1"))
    rows = {(r.k, r.day) for r in one.collect()}
    assert rows == {(i, "d1") for i in range(30) if i % 3 == 1}
    # partition-scoped delete: only day=d1 entries rewritten
    before = set(m["dirs"])
    v = t.delete(F.col("day") == "d1", prune=("day", "d1", "d1"))
    m2 = t._manifest(v)
    survivors = set(m2["dirs"])
    assert {e for e in before if "day=d1" not in e} <= survivors, (
        "untouched partitions must keep their exact entries"
    )
    assert not any("day=d1" in e for e in survivors)
    assert {r.day for r in t.read().collect()} == {"d0", "d2"}
    assert t.read(0).count() == 30  # time travel intact
    # append (unpartitioned write path) still composes with the layout
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(df, partition_cols=["day"])
    # update scoped to one partition: other entries survive by name
    before2 = set(t2._manifest(0)["dirs"])
    v2 = t2.update(
        F.col("day") == "d2",
        {"k": F.col("k") + 100},
        prune=("day", "d2", "d2"),
    )
    m3 = t2._manifest(v2)
    assert {e for e in before2 if "day=d2" not in e} <= set(m3["dirs"])
    got = {r.k for r in t2.read().filter("day = 'd2'").collect()}
    assert got == {i + 100 for i in range(30) if i % 3 == 2}


def test_partitioned_compact_and_vacuum_roundtrip(spark, tmp_path):
    """Partition-granular layout through the maintenance surface:
    compact rewrites into fresh per-partition entries; vacuum reclaims
    fully superseded commit dirs while any-entry-referenced commits
    survive."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(20)], "k INT, day STRING"
    )
    t.overwrite(df, partition_cols=["day"])
    t.delete(F.col("day") == "d0", prune=("day", "d0", "d0"))
    # commit 0's uuid still holds the LIVE day=d1 entry: vacuum must
    # spare the whole uuid even though its day=d0 entry is superseded
    uuid0 = t._manifest(0)["dirs"][0].split("/", 1)[0]
    removed = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert uuid0 not in removed
    assert {r.day for r in t.read().collect()} == {"d1"}
    t.compact()
    assert {r.day for r in t.read().collect()} == {"d1"}
    m = t._manifest(t.latest_version())
    assert all("day=" in e for e in m["dirs"])
    # after compact, the old uuids are fully superseded
    removed = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert uuid0 in removed
    assert sorted(r.k for r in t.read().collect()) == [
        i for i in range(20) if i % 2 == 1
    ]


def test_partition_prune_keeps_componentless_entries(spark, tmp_path):
    """ADVICE r7 (high): append/insert_ignore/sync on a partitioned
    table now manifest partition-granular entries, AND the partition-
    equality prune in read()/DML treats entries WITHOUT a `col=` path
    component (legacy bare-uuid snapshots) conservatively — they may
    hold rows of any partition, so dropping them silently loses rows
    (reproduced pre-fix: 5 of 6 rows returned)."""
    import time as _time

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(10)], "k INT, day STRING"
    )
    t.overwrite(df, partition_cols=["day"])
    # append now lands partition-granular entries on partitioned tables
    t.append(spark.createDataFrame([(100, "d1")], "k INT, day STRING"))
    m = t._manifest(t.latest_version())
    assert all("day=" in e for e in m["dirs"]), m["dirs"]
    got = {r.k for r in t.read(where=("day", "d1", "d1")).collect()}
    assert got == {1, 3, 5, 7, 9, 100}
    # craft a LEGACY bare-uuid entry (pre-partition-granular snapshot)
    legacy = spark.createDataFrame([(200, "d1")], "k INT, day STRING")
    d = t._write_data(legacy, ())
    v = t.latest_version()
    m = t._manifest(v)
    assert t._commit(
        v + 1,
        {**m, "op": "append", "dirs": [*m["dirs"], d],
         "timestamp": _time.time()},
    )
    # read: the componentless entry is conservatively scanned
    got = {r.k for r in t.read(where=("day", "d1", "d1")).collect()}
    assert got == {1, 3, 5, 7, 9, 100, 200}
    # DML: the componentless entry joins the rewrite set — no row of
    # day=d1 survives the partition-scoped delete
    t.delete(F.col("day") == "d1", prune=("day", "d1", "d1"))
    assert t.read().filter("day = 'd1'").count() == 0
    assert t.read().count() == 5  # day=d0 untouched


def test_partition_prune_hive_escaped_values(spark, tmp_path):
    """ADVICE r7 (medium): Spark hive-escapes special characters in
    partition dir names (':' -> '%3A' etc.), so the equality prune
    must compare against the ESCAPED component or it silently matches
    nothing. Timestamps-as-strings are the canonical victim."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    ts0, ts1 = "2024-01-01 00:00:00", "2024-01-02 12:30:00"
    df = spark.createDataFrame(
        [(1, ts0), (2, ts0), (3, ts1)], "k INT, hr STRING"
    )
    t.overwrite(df, partition_cols=["hr"])
    m = t._manifest(0)
    assert any("%3A" in e for e in m["dirs"]), m["dirs"]
    got = {r.k for r in t.read(where=("hr", ts0, ts0)).collect()}
    assert got == {1, 2}
    # and the read really pruned: only ts0's entries are in the plan
    v = t.delete(F.col("hr") == ts1, prune=("hr", ts1, ts1))
    m2 = t._manifest(v)
    before = set(m["dirs"])
    kept = {e for e in before if "hr=2024-01-01" in e}
    assert kept <= set(m2["dirs"]), "ts0 partition must survive by name"
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_insert_ignore_and_stream_sink_partition_granular(spark, tmp_path):
    """insert_ignore and sync_incremental on partitioned tables land
    partition-granular entries too, so partition-equality reads prune
    appended data instead of falling back to conservative keeps."""
    from scalable_etl_spark.acid import sync_incremental

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(6)], "k INT, day STRING"
    )
    t.overwrite(df, partition_cols=["day"])
    t.insert_ignore(
        spark.createDataFrame([(50, "d0"), (1, "d1")], "k INT, day STRING"),
        key_cols=["k"],
    )
    m = t._manifest(t.latest_version())
    assert all("day=" in e for e in m["dirs"]), m["dirs"]
    got = {r.k for r in t.read(where=("day", "d0", "d0")).collect()}
    assert got == {0, 2, 4, 50}
    # sync into a partitioned destination
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([(9, "d1")], "k INT, day STRING"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    dst.overwrite(df, partition_cols=["day"])
    sync_incremental(src, dst, merge_schema=True)  # adds _src_version
    m2 = dst._manifest(dst.latest_version())
    assert all("day=" in e for e in m2["dirs"]), m2["dirs"]
    got = {r.k for r in dst.read(where=("day", "d1", "d1")).collect()}
    assert got == {1, 3, 5, 9}


def test_partition_dml_leaves_other_partitions_byte_identical(
    spark, tmp_path
):
    """Partition-granular isolation at the BYTE level: a partition-
    scoped DELETE in partition A must leave every data file of every
    other partition untouched on disk — same paths, same bytes, same
    mtimes. (Entry-name survival alone wouldn't catch an in-place
    rewrite.)"""
    import hashlib
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(30)], "k INT, day STRING"
    )
    t.overwrite(df, partition_cols=["day"])
    t.append(spark.createDataFrame([(100, "d1")], "k INT, day STRING"))

    def snapshot_bytes(part: str) -> dict[str, tuple]:
        out = {}
        for root, _d, files in os.walk(t.data_dir):
            if f"day={part}" not in root:
                continue
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                with open(p, "rb") as fh:
                    digest = hashlib.sha256(fh.read()).hexdigest()
                out[p] = (st.st_size, st.st_mtime_ns, digest)
        return out

    before_d0 = snapshot_bytes("d0")
    before_d2 = snapshot_bytes("d2")
    assert before_d0 and before_d2
    t.delete(F.col("day") == "d1", prune=("day", "d1", "d1"))
    t.update(
        F.col("day") == "d1",  # no-op partition now; still scoped
        {"k": F.col("k") + 1},
        prune=("day", "d1", "d1"),
    )
    assert snapshot_bytes("d0") == before_d0
    assert snapshot_bytes("d2") == before_d2
    assert t.read().filter("day = 'd1'").count() == 0


def test_partition_prune_nonstring_value_rendering(spark, tmp_path):
    """Code-review regression: Python str() disagrees with Spark's
    on-disk rendering for non-string partition types (str(True) vs
    'true'), which silently pruned EVERY entry. Booleans and dates
    render faithfully now; unrenderable types (floats) skip the path
    prune instead of matching nothing."""
    import datetime

    t = SnapshotTable(spark, str(tmp_path / "tb"))
    df = spark.createDataFrame(
        [(1, True), (2, True), (3, False)], "k INT, flag BOOLEAN"
    )
    t.overwrite(df, partition_cols=["flag"])
    assert {r.k for r in t.read(where=("flag", True, True)).collect()} == {
        1, 2,
    }
    v = t.delete(F.col("flag"), prune=("flag", True, True))
    m = t._manifest(v)
    assert all("flag=true" not in e for e in m["dirs"])
    assert {r.k for r in t.read().collect()} == {3}

    td = SnapshotTable(spark, str(tmp_path / "td"))
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    td.overwrite(
        spark.createDataFrame([(1, d1), (2, d2)], "k INT, day DATE"),
        partition_cols=["day"],
    )
    assert {r.k for r in td.read(where=("day", d1, d1)).collect()} == {1}

    # float partition value: unrenderable -> prune skipped, rows kept
    tf = SnapshotTable(spark, str(tmp_path / "tf"))
    tf.overwrite(
        spark.createDataFrame([(1, 0.5), (2, 1.5)], "k INT, f DOUBLE"),
        partition_cols=["f"],
    )
    assert {r.k for r in tf.read(where=("f", 0.5, 0.5)).collect()} == {1}
    tf.delete(F.col("f") == 1.5, prune=("f", 1.5, 1.5))
    assert {r.k for r in tf.read().collect()} == {1}


def test_compact_partition_scoped(spark, tmp_path):
    """Partition-scoped compaction: many appends into one hot partition
    compact into a single leaf entry while cold partitions' bytes are
    untouched; per-partition maybe_compact ceilings trigger it and the
    progress guard stops re-rewrites."""
    import hashlib
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(8)], "k INT, day STRING"
    )
    t.overwrite(base, partition_cols=["day"])
    for i in range(5):  # hot partition d1 accumulates small entries
        t.append(
            spark.createDataFrame([(100 + i, "d1")], "k INT, day STRING")
        )

    def files_of(part):
        out = {}
        for root, _s, files in os.walk(t.data_dir):
            if f"day={part}" not in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
        return out

    d0_before = files_of("d0")
    m = t._manifest(t.latest_version())
    assert sum("day=d1" in e for e in m["dirs"]) == 6
    v = t.compact_partition("day", "d1")
    m2 = t._manifest(v)
    d1_entries = [e for e in m2["dirs"] if "day=d1" in e]
    assert len(d1_entries) == 1
    assert t._entry_file_count(d1_entries[0]) == 1  # coalesce(1)
    assert files_of("d0") == d0_before, "cold partition must not move"
    rows = {r.k for r in t.read(where=("day", "d1", "d1")).collect()}
    assert rows == {1, 3, 5, 7} | {100 + i for i in range(5)}
    assert t.read().count() == 13

    # per-partition ceiling: d1 is already compacted; d0's original
    # multi-file overwrite leaf may still exceed the ceiling (the
    # fixed guard sweeps single-entry multi-file leaves too) — after
    # at most one sweep the table is quiescent
    t.maybe_compact(partition_max_files=3)
    assert t.maybe_compact(partition_max_files=3) is None
    assert t.read().count() == 13
    for i in range(4):
        t.append(
            spark.createDataFrame([(200 + i, "d1")], "k INT, day STRING")
        )
    d0_before = files_of("d0")
    v2 = t.maybe_compact(partition_max_files=3)
    assert v2 is not None
    m3 = t._manifest(v2)
    assert sum("day=d1" in e for e in m3["dirs"]) == 1
    assert files_of("d0") == d0_before
    assert t.read().count() == 17
    # the fixed guard also sweeps any remaining single-entry
    # multi-file leaf (e.g. the original d0 overwrite leaf); after at
    # most one more pass the table is quiescent and re-calls no-op
    t.maybe_compact(partition_max_files=3)
    assert t.maybe_compact(partition_max_files=3) is None
    assert t.read().count() == 17
    # unpartitioned table: per-partition ceilings are a usage error
    tu = SnapshotTable(spark, str(tmp_path / "tu"))
    tu.overwrite(spark.createDataFrame([(1,)], "k INT"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tu.maybe_compact(partition_max_files=3)


def test_convert_to_snapshot_zero_copy(spark, tmp_path):
    """CONVERT-parity migration: an existing hive-partitioned parquet
    dataset becomes a snapshot table WITHOUT rewriting data (hardlinked
    inodes), with partition-granular entries, footer-stats skipping,
    and the full ACID surface working on top."""
    import os

    from scalable_etl_spark.acid import convert_to_snapshot

    src = str(tmp_path / "legacy")
    df = spark.createDataFrame(
        [(i, i * 10, f"d{i % 2}") for i in range(10)],
        "k INT, v INT, day STRING",
    )
    df.write.partitionBy("day").parquet(src)

    t = convert_to_snapshot(
        spark, src, str(tmp_path / "t"),
        partition_cols=["day"], stats_cols=["k"],
    )
    m = t._manifest(0)
    assert m["op"] == "convert" and m["partition_cols"] == ["day"]
    assert sorted(e.split("/", 1)[1] for e in m["dirs"]) == [
        "day=d0", "day=d1",
    ]
    # zero copy: every table file shares an inode with a source file
    src_inodes = set()
    for r, _s, files in os.walk(src):
        src_inodes.update(
            os.stat(os.path.join(r, f)).st_ino
            for f in files if f.endswith(".parquet")
        )
    for p in t.committed_files():
        assert os.stat(p).st_ino in src_inodes, "file was rewritten"
    # contents + partition prune + stats skipping
    rows = {(r.k, r.v, r.day) for r in t.read().collect()}
    assert rows == {(i, i * 10, f"d{i % 2}") for i in range(10)}
    assert t.read(where=("day", "d1", "d1")).count() == 5
    assert m["stats"], "footer stats must land at convert time"
    # ACID surface on the converted table
    t.append(spark.createDataFrame([(100, 0, "d0")], "k INT, v INT, day STRING"))
    t.delete(F.col("day") == "d1", prune=("day", "d1", "d1"))
    assert {r.day for r in t.read().collect()} == {"d0"}
    assert t.read(0).count() == 10  # time travel to the converted snapshot
    # vacuum must NOT break the source: only the table's links die
    t.compact()
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert spark.read.parquet(src).count() == 10

    # refusal cases
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        convert_to_snapshot(spark, src, str(tmp_path / "t"))
    with _pytest.raises(FileNotFoundError):
        convert_to_snapshot(
            spark, str(tmp_path / "empty"), str(tmp_path / "t2")
        )
    with _pytest.raises(ValueError):
        # flat dataset but partition_cols declared
        flat = str(tmp_path / "flat")
        spark.range(3).write.parquet(flat)
        convert_to_snapshot(
            spark, flat, str(tmp_path / "t3"), partition_cols=["day"]
        )


def test_restore_to_version(spark, tmp_path):
    """RESTORE parity: rollback is a forward commit referencing the
    restored snapshot's dirs (metadata-only); history keeps both the
    mistake and the recovery; stream/sync ledgers survive the restore
    so replayed batches stay deduplicated; restoring a vacuumed
    version refuses loudly."""
    import pytest as _pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.delete(F.col("k") == 1)  # the "mistake"
    assert {r.k for r in t.read().collect()} == {2, 3}
    v = t.restore(1)
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    assert t._manifest(v)["op"] == "restore_v1"
    # the undone version is still reachable until vacuum
    assert {r.k for r in t.read(2).collect()} == {2, 3}
    # metadata-only: restored entries ARE version 1's entries
    assert t._manifest(v)["dirs"] == t._manifest(1)["dirs"]
    with _pytest.raises(FileNotFoundError):
        t.restore(99)
    # vacuumed target refuses: compact supersedes, vacuum reclaims
    t.compact()
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    with _pytest.raises(FileNotFoundError):
        t.restore(1)


def test_hive_escape_roundtrip_property(spark):
    """Escape/unescape are inverse over arbitrary partition values,
    and escaped components never contain path-breaking characters."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from scalable_etl_spark.acid import (
        _hive_escape_path,
        _hive_unescape_path,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=0, max_size=40))
    def check(s):
        esc = _hive_escape_path(s)
        assert "/" not in esc and "=" not in esc
        assert _hive_unescape_path(esc) == s

    check()


def test_convert_preserves_escaped_partition_values(spark, tmp_path):
    """Converted datasets whose partition values carry hive-escaped
    characters (':' -> '%3A' on disk) must stay prunable and readable
    through the path-component machinery."""
    from scalable_etl_spark.acid import convert_to_snapshot

    src = str(tmp_path / "legacy")
    ts0, ts1 = "2024-01-01 00:00:00", "2024-01-02 12:30:00"
    spark.createDataFrame(
        [(1, ts0), (2, ts0), (3, ts1)], "k INT, hr STRING"
    ).write.partitionBy("hr").parquet(src)
    t = convert_to_snapshot(
        spark, src, str(tmp_path / "t"), partition_cols=["hr"]
    )
    m = t._manifest(0)
    assert any("%3A" in e for e in m["dirs"]), m["dirs"]
    assert {r.k for r in t.read(where=("hr", ts0, ts0)).collect()} == {1, 2}
    t.delete(F.col("hr") == ts1, prune=("hr", ts1, ts1))
    assert {(r.k, r.hr) for r in t.read().collect()} == {(1, ts0), (2, ts0)}


def test_partition_compact_review_regressions(spark, tmp_path):
    """Code-review regressions: (a) per-partition maybe_compact must
    fire on a CONVERTED table whose hot partition is one multi-file
    entry; (b) compact_partition refuses unrenderable partition
    values instead of silently rewriting the whole table; (c) strict
    %XX unescaping passes raw '%' through untouched."""
    import pytest as _pytest

    from scalable_etl_spark.acid import (
        _hive_unescape_path,
        convert_to_snapshot,
    )

    # (a) converted hive leaf: one entry, many files
    src = str(tmp_path / "legacy")
    df = spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(40)], "k INT, day STRING"
    )
    df.repartition(10).write.partitionBy("day").parquet(src)
    t = convert_to_snapshot(
        spark, src, str(tmp_path / "t"), partition_cols=["day"]
    )
    m = t._manifest(0)
    assert len(m["dirs"]) == 2
    assert max(t._entry_file_count(e) for e in m["dirs"]) >= 5
    v = t.maybe_compact(partition_max_files=3)
    assert v is not None, "single multi-file entry must still compact"
    m2 = t._manifest(t.latest_version())
    assert all(t._entry_file_count(e) == 1 for e in m2["dirs"])
    assert t.read().count() == 40
    assert t.maybe_compact(partition_max_files=3) is None  # progress

    # (b) unrenderable value refuses
    tf = SnapshotTable(spark, str(tmp_path / "tf"))
    tf.overwrite(
        spark.createDataFrame([(1, 0.5), (2, 1.5)], "k INT, f DOUBLE"),
        partition_cols=["f"],
    )
    with _pytest.raises(ValueError, match="path rendering"):
        tf.compact_partition("f", 0.5)
    tf.compact_partition("f", "0.5")  # the dir-name string works
    assert tf.read().count() == 2

    # (c) strict unescape
    assert _hive_unescape_path("100%4") == "100%4"
    assert _hive_unescape_path("%(4)") == "%(4)"
    assert _hive_unescape_path("a%3Ab") == "a:b"
    assert _hive_unescape_path("%3") == "%3"


def test_acid_random_walk_against_model(spark, tmp_path):
    """Model-based invariant check: a seeded random walk over the full
    mutation surface (overwrite / append / insert_ignore / merge /
    delete / update / compact / compact_partition / restore) is
    mirrored in a plain Python dict model keyed by k; after EVERY step
    the table's contents must equal the model, and a version snapshot
    taken mid-walk must stay byte-stable to the end (snapshot
    isolation under arbitrary later mutation)."""
    import random

    def run_walk(seed: int) -> None:
        rng = random.Random(seed)
        t = SnapshotTable(spark, str(tmp_path / f"w{seed}"))
        model: dict[int, tuple[str, int]] = {}  # k -> (day, v)

        def mk_df(rows):
            return spark.createDataFrame(
                [(k, d, v) for k, (d, v) in rows.items()],
                "k INT, day STRING, v INT",
            )

        def rand_rows(n):
            return {
                rng.randrange(40): (f"d{rng.randrange(3)}", rng.randrange(100))
                for _ in range(n)
            }

        # seed the table
        model = rand_rows(8)
        t.overwrite(mk_df(model), partition_cols=["day"])
        pinned_version = None
        pinned_model: dict | None = None
        for step in range(14):
            op = rng.choice(
                ["append", "insert_ignore", "merge", "delete",
                 "update", "compact", "compact_partition", "restore"]
            )
            if op == "append":
                batch = rand_rows(3)
                # append adds rows verbatim (duplicate keys allowed in
                # the table; keep the model simple: avoid key overlap)
                batch = {k: x for k, x in batch.items() if k not in model}
                if batch:
                    t.append(mk_df(batch))
                    model.update(batch)
            elif op == "insert_ignore":
                batch = rand_rows(3)
                t.insert_ignore(mk_df(batch), ["k"])
                for k, x in batch.items():
                    model.setdefault(k, x)
            elif op == "merge":
                batch = rand_rows(3)
                t.merge(mk_df(batch), ["k"], when_matched="update")
                model.update(batch)
            elif op == "delete":
                cut = rng.randrange(100)
                t.delete(F.col("v") < cut, prune=("v", 0, cut - 1))
                model = {k: x for k, x in model.items() if x[1] >= cut}
            elif op == "update":
                day = f"d{rng.randrange(3)}"
                t.update(
                    F.col("day") == day,
                    {"v": F.col("v") + 1000},
                    prune=("day", day, day),
                )
                model = {
                    k: (d, v + 1000 if d == day else v)
                    for k, (d, v) in model.items()
                }
            elif op == "compact":
                t.compact()
            elif op == "compact_partition":
                t.compact_partition("day", f"d{rng.randrange(3)}")
            elif op == "restore" and pinned_version is not None:
                t.restore(pinned_version)
                model = dict(pinned_model)
            got = {(r.k, r.day, r.v) for r in t.read().collect()}
            want = {(k, d, v) for k, (d, v) in model.items()}
            assert got == want, (seed, step, op)
            if step == 5:
                pinned_version = t.latest_version()
                pinned_model = dict(model)
            if pinned_version is not None:
                pinned = {
                    (r.k, r.day, r.v)
                    for r in t.read(pinned_version).collect()
                }
                assert pinned == {
                    (k, d, v) for k, (d, v) in pinned_model.items()
                }, (seed, step, "snapshot drifted")

    for seed in (7, 23):
        run_walk(seed)


def test_bloom_filter_point_lookup_skipping(spark, tmp_path):
    """Per-file bloom filters (Delta bloom-index design): min/max
    ranges on a shuffled high-cardinality key overlap on every file,
    so range stats prune nothing — the bloom must prune most files on
    a point lookup, with zero false negatives, and survive predicate
    DML via regeneration."""
    from scalable_etl_spark.acid import _BLOOM_PREFIX

    t = SnapshotTable(spark, str(tmp_path / "t"))
    # shuffled ids -> every file's [min, max] spans ~the whole domain
    df = spark.createDataFrame(
        [((i * 7919) % 4000, i) for i in range(4000)], "id INT, v INT"
    ).repartition(8)
    t.overwrite(df, stats_cols=["id"], bloom_cols=["id"])
    m = t._manifest(0)
    (entry,) = m["dirs"]
    fstats = m["file_stats"][entry]
    assert all(_BLOOM_PREFIX + "id" in per for per in fstats.values())
    n_files = len(fstats)
    assert n_files == 8

    import re

    def files_scanned(val):
        plan = t.read(where=("id", val, val))._jdf.queryExecution() \
            .executedPlan().toString()
        m_ = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
        if m_ is None:  # every file bloom-excluded -> empty local scan
            return 0
        return int(m_.group(1))

    # no false negatives: every present id is found
    for probe in (0, 1, 777, 3999, 2500):
        got = t.read(where=("id", probe, probe)).collect()
        assert len(got) == 1 and got[0].id == probe
    # real pruning: a point lookup opens fewer files than the dir holds
    # (ranges don't prune at all here — the bloom does the work)
    pruned_counts = [files_scanned(v) for v in (0, 777, 3999)]
    assert all(1 <= c < n_files for c in pruned_counts), pruned_counts
    # absent key: typically every file excluded -> empty plan allowed
    assert t.read(where=("id", 99999, 99999)).count() == 0

    # DML regenerates blooms on rewritten entries
    t.delete(F.col("v") < 100)
    m2 = t._manifest(t.latest_version())
    for e in m2["dirs"]:
        assert all(
            _BLOOM_PREFIX + "id" in per
            for per in m2["file_stats"][e].values()
        )
    got = t.read(where=("id", (150 * 7919) % 4000, (150 * 7919) % 4000))
    assert got.count() == 1

    # catch-up maintenance: a bloom-less table gains filters in place
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(df, stats_cols=["id"])
    t2.append(spark.createDataFrame([(9999, -1)], "id INT, v INT"))
    t2.add_bloom_filters(["id"])
    m3 = t2._manifest(t2.latest_version())
    assert all(
        any(_BLOOM_PREFIX + "id" in per for per in m3["file_stats"][e].values())
        for e in m3["dirs"]
    )
    assert t2.read(where=("id", 9999, 9999)).count() == 1
    assert t2.read().count() == 4001


def test_bloom_review_regressions(spark, tmp_path):
    """Code-review regressions: (a) blooms on hive-escaped partitioned
    entries must key REAL file paths (input_file_name() returns
    URI-encoded paths — un-decoded they committed phantom keys that
    crashed every pruned read); (b) bloom_cols on a non-int/string
    column raises at write time instead of silently never matching;
    (c) add_bloom_filters is metadata-only and must NOT wedge
    table_changes/sync_incremental consumers."""
    import pytest as _pytest

    from scalable_etl_spark.acid import sync_incremental

    # (a) hive-escaped partition value + bloom
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "a:b" if i % 2 else "plain") for i in range(20)],
        "id INT, day STRING",
    )
    t.overwrite(
        df, partition_cols=["day"], stats_cols=["id"], bloom_cols=["id"]
    )
    m = t._manifest(0)
    for e in m["dirs"]:
        for f in m["file_stats"].get(e, {}):
            assert not f.startswith(".."), f"phantom key {f!r}"
    assert t.read(where=("id", 7, 7)).count() == 1
    assert t.read(where=("id", 8, 8)).count() == 1

    # (b) unsupported bloom column type refuses loudly
    td = SnapshotTable(spark, str(tmp_path / "td"))
    ddf = spark.createDataFrame([(1, 0.5)], "id INT, score DOUBLE")
    with _pytest.raises(ValueError, match="bloom filter"):
        td.overwrite(ddf, bloom_cols=["score"])

    # (c) maintenance op stays consumable incrementally
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    sync_incremental(src, dst)
    src.add_bloom_filters(["id"])
    src.append(spark.createDataFrame([(2, "b")], "id INT, v STRING"))
    assert src.table_changes(0).count() == 1  # only the new append row
    sync_incremental(src, dst)
    assert dst.read().count() == 2


def test_bloom_r9_schema_evolution_inventory_and_packing(
    spark, tmp_path, monkeypatch
):
    """Round-9 bloom hardening (ADVICE r8 + verdict watch-list #1):

    (a) add_bloom_filters on a schema-evolved table must not wedge:
        entries committed BEFORE a merge_schema append lack the new
        column — they are all-NULL there, so they get all-zero blooms
        (pruning the whole entry on point probes) instead of raising;
    (b) file-inventory contract: a data file whose bloom column is
        entirely NULL still appears in file_stats (with the all-zero
        bloom), matching _footer_stats' every-non-empty-file coverage;
    (c) executor-side packing: the rows collected while building
        blooms carry the packed base64 blob (string), never the boxed
        bit positions — and the blob is bit-identical to the Python
        mirror (_bloom_positions/_bloom_b64).
    """
    import pyspark.sql.classic.dataframe as _dfm

    from scalable_etl_spark.acid import (
        _BLOOM_PREFIX,
        _bloom_b64,
        _bloom_positions,
    )

    # --- (a) schema evolution catch-up
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,), (2,)], "id INT"))
    t.append(
        spark.createDataFrame([(3, 30), (4, 40)], "id INT, k INT"),
        merge_schema=True,
    )
    collected_schemas = []
    orig_collect = _dfm.DataFrame.collect

    def spy_collect(self):
        collected_schemas.append(self.schema)
        return orig_collect(self)

    monkeypatch.setattr(_dfm.DataFrame, "collect", spy_collect)
    t.add_bloom_filters(["k"])  # must NOT raise on the pre-evolution entry
    monkeypatch.setattr(_dfm.DataFrame, "collect", orig_collect)

    m = t._manifest(t.latest_version())
    # every entry now carries a k-bloom on every file
    for e in m["dirs"]:
        fstats = m["file_stats"][e]
        assert fstats, e
        assert all(_BLOOM_PREFIX + "k" in per for per in fstats.values())
    # pre-evolution entry: all-zero bloom -> point probe prunes it but
    # still returns the right rows
    zero_b = _bloom_b64((), 8192)
    old_entry = m["dirs"][0]
    assert all(
        per[_BLOOM_PREFIX + "k"]["b"] == zero_b
        for per in m["file_stats"][old_entry].values()
    )
    got = t.read(where=("k", 30, 30)).collect()
    assert len(got) == 1 and got[0].id == 3
    assert t.read().count() == 4

    # --- (c) collected payload is the packed blob, not positions
    bloom_schemas = [
        s for s in collected_schemas if "__f" in s.fieldNames()
    ]
    assert bloom_schemas, "bloom build collected nothing"
    for s in bloom_schemas:
        assert s["__b"].dataType.typeName() == "string"
        assert "__ps" not in s.fieldNames()
    # bit-identical to the Python mirror: the new entry holds k=30,40
    new_entry = m["dirs"][1]
    expect_pos = set()
    for v in (30, 40):
        expect_pos.update(_bloom_positions(v))
    specs = [
        per[_BLOOM_PREFIX + "k"]
        for per in m["file_stats"][new_entry].values()
        if per[_BLOOM_PREFIX + "k"]["b"] != zero_b
    ]
    import base64

    got_bits = bytearray(8192 // 8)
    for spec in specs:
        for i, byte in enumerate(base64.b64decode(spec["b"])):
            got_bits[i] |= byte
    assert bytes(got_bits) == base64.b64decode(_bloom_b64(expect_pos))

    # --- (b) all-NULL bloom column file still inventoried
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", None), (4, "b", None)],
        "id INT, day STRING, v STRING",
    )
    t2.overwrite(df, partition_cols=["day"], bloom_cols=["v"])
    m2 = t2._manifest(t2.latest_version())
    # partitioned overwrite commits partition-granular entries
    days = {e.split("/")[-1] for e in m2["dirs"]}
    assert days == {"day=a", "day=b"}, m2["dirs"]
    null_files = [
        (e, f)
        for e in m2["dirs"]
        if e.endswith("day=b")
        for f in m2["file_stats"][e]
    ]
    assert null_files and all(
        m2["file_stats"][e][f][_BLOOM_PREFIX + "v"]["b"] == zero_b
        for e, f in null_files
    )
    # the all-NULL files are pruned on a point probe yet reads stay right
    assert t2.read(where=("v", "x", "x")).count() == 1
    assert t2.read().count() == 4


def test_alter_table_add_and_rename_column(spark, tmp_path):
    """ALTER TABLE surface (round-9, verdict #6): metadata-only
    add_column (default backfill at read) and rename_column (physical
    name stays on disk; reads canonicalize), composing with appends,
    DML rewrites, merge_schema, time travel, restore, and blooms."""
    import pytest as _pytest

    from scalable_etl_spark.acid import _BLOOM_PREFIX, sync_incremental

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING"),
        stats_cols=["id"],
    )
    # --- add_column with default: old rows read the default
    t.alter_add_column("score", "int", default=5)
    assert sorted(
        (r.id, r.score) for r in t.read().collect()
    ) == [(1, 5), (2, 5)]
    # appends after the alter carry real values (NULL stays NULL)
    t.append(
        spark.createDataFrame(
            [(3, "c", 30), (4, "d", None)], "id INT, v STRING, score INT"
        ),
        stats_cols=["id"],
    )
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: 5, 2: 5, 3: 30, 4: None}

    # --- rename_column: both pre- and post-rename entries canonicalize
    t.alter_rename_column("v", "label")
    got = {r.id: r.label for r in t.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert "v" not in t.read().columns
    # stats were remapped: skipping by the OLD data still works via the
    # logical name, and the trailing filter stays correct
    assert t.read(where=("id", 2, 2)).collect()[0].label == "b"

    # refusals: duplicate name, unknown column, physical-name reuse
    with _pytest.raises(ValueError, match="already exists"):
        t.alter_add_column("label", "string")
    with _pytest.raises(ValueError, match="no such column"):
        t.alter_rename_column("nope", "x")
    with _pytest.raises(ValueError, match="renamed away"):
        t.alter_add_column("v", "string")
    with _pytest.raises(ValueError, match="renamed away"):
        t.alter_rename_column("score", "v")

    # --- DML rewrite materializes the logical schema
    v_before_delete = t.latest_version()
    t.delete(F.col("id") == 2)
    got = {r.id: (r.label, r.score) for r in t.read().collect()}
    assert got == {1: ("a", 5), 3: ("c", 30), 4: ("d", None)}
    # time travel: pre-delete snapshot still canonicalizes
    old = {r.id: r.label for r in t.read(v_before_delete).collect()}
    assert old == {1: "a", 2: "b", 3: "c", 4: "d"}

    # --- merge_schema append composes on the evolved table
    t.append(
        spark.createDataFrame(
            [(5, "e", 50, "x")],
            "id INT, label STRING, score INT, extra STRING",
        ),
        merge_schema=True,
    )
    got = {r.id: r.extra for r in t.read().collect()}
    assert got == {1: None, 3: None, 4: None, 5: "x"}
    # table_changes across alter versions: alters are metadata-only
    # append-ops (no rows delivered, no rewrite error); the delete
    # needs ignore_changes as usual
    assert t.table_changes(0, ignore_changes=True).count() >= 1

    # --- restore to the pre-alter world reverts schema AND defaults
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    t2.alter_add_column("k", "int", default=7)
    assert t2.read().collect()[0].k == 7
    t2.restore(0)
    assert t2.read().columns == ["id", "v"]

    # --- blooms on a renamed column: built from the PHYSICAL name on
    # pre-rename entries, keyed by the logical pseudo-column, and the
    # point probe has no false negatives
    t3 = SnapshotTable(spark, str(tmp_path / "t3"))
    t3.append(
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(50)], "id INT, user STRING"
        )
    )
    t3.alter_rename_column("user", "username")
    t3.add_bloom_filters(["username"])
    m3 = t3._manifest(t3.latest_version())
    zero_b = __import__("base64").b64encode(bytes(1024)).decode()
    specs = [
        per[_BLOOM_PREFIX + "username"]
        for e in m3["dirs"]
        for per in m3["file_stats"][e].values()
    ]
    assert specs and any(s["b"] != zero_b for s in specs), (
        "bloom built on the physical column must be non-empty"
    )
    assert t3.read(where=("username", "u7", "u7")).count() == 1

    # --- sync_incremental replays an evolved source additively
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    sync_incremental(t, dst, merge_schema=True)
    assert {r.id for r in dst.read().collect()} == {1, 3, 4, 5}


def test_alter_review_regressions(spark, tmp_path):
    """Round-9 code-review regressions on the ALTER surface:

    (1) a merge_schema append (or sync) re-adding a renamed-away
        physical name is REFUSED — committing it would make every
        subsequent read fail with a duplicate declared column;
    (2) bloom filters on partition columns / unknown columns refuse
        loudly at every entry point (a silent all-zero bloom on a
        partition column FALSELY pruned every file), and the read-side
        probe never consults blooms for partition columns;
    (3) sync_incremental REPLAYS alters on the destination instead of
        reading across them — dst mirrors src exactly (renamed column,
        add-column default on pre-alter rows), no schema fork;
    (4) appends after alter_add_column may omit the defaulted column:
        the commit records a fresh back-fill, so the new rows read the
        default, not NULL.
    """
    import pytest as _pytest

    from scalable_etl_spark.acid import SnapshotTable, sync_incremental

    # --- (1) renamed-away name cannot be re-added by merge_schema
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    t.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    t.alter_rename_column("v", "label")
    with _pytest.raises(ValueError, match="renamed away"):
        t.append(
            spark.createDataFrame(
                [(2, "b", "x")], "id INT, label STRING, v STRING"
            ),
            merge_schema=True,
        )
    assert {r.label for r in t.read().collect()} == {"a"}  # still readable

    # --- (2) bloom guards at every entry point
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id INT, day STRING"
    )
    with _pytest.raises(ValueError, match="partition column"):
        t2.overwrite(df, partition_cols=["day"], bloom_cols=["day"])
    t2.overwrite(df, partition_cols=["day"])
    with _pytest.raises(ValueError, match="partition column"):
        t2.add_bloom_filters(["day"])
    with _pytest.raises(ValueError, match="unknown column"):
        t2.add_bloom_filters(["dya"])  # typo must not commit zero blooms
    with _pytest.raises(ValueError, match="partition column"):
        t2.append(df, bloom_cols=["day"])
    # read-side defense: partition-equality reads never probe blooms
    assert t2.read(where=("day", "a", "a")).count() == 1

    # --- (3) sync replays alters; dst mirrors src
    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    sync_incremental(src, dst)  # backfill at v0
    src.alter_add_column("score", "int", default=7)      # v1
    src.alter_rename_column("v", "label")                # v2
    src.append(
        spark.createDataFrame(
            [(2, "b", 20)], "id INT, label STRING, score INT"
        )
    )                                                    # v3
    v_dst, synced = sync_incremental(src, dst)
    assert synced == 3
    got_src = {
        r.id: (r.label, r.score) for r in src.read().collect()
    }
    got_dst = {
        r.id: (r.label, r.score)
        for r in dst.read().drop("_src_version").collect()
    }
    assert got_src == got_dst == {1: ("a", 7), 2: ("b", 20)}
    assert "v" not in dst.read().columns
    # idempotent: a re-run syncs nothing and changes nothing
    assert sync_incremental(src, dst) == (v_dst, 3)

    # --- (4) post-alter append omitting the defaulted column
    t4 = SnapshotTable(spark, str(tmp_path / "t4"))
    t4.append(spark.createDataFrame([(1,)], "id INT"))
    t4.alter_add_column("score", "int", default=7)
    t4.append(spark.createDataFrame([(2,)], "id INT"))  # omits score
    got = {r.id: r.score for r in t4.read().collect()}
    assert got == {1: 7, 2: 7}, got
    # and after a rename of the added column, a still-omitting append
    # back-fills under the CURRENT name
    t4.alter_rename_column("score", "points")
    t4.append(spark.createDataFrame([(3,)], "id INT"))
    got = {r.id: r.points for r in t4.read().collect()}
    assert got == {1: 7, 2: 7, 3: 7}, got


def test_alter_advice_r9_regressions(spark, tmp_path):
    """Round-10 fixes for the ADVICE r9 findings on the ALTER surface:

    (1 — high) add_bloom_filters on a column added with a NON-NULL
        default: pre-alter entries physically lack the column but
        logically READ the default, so the back-fill bloom must
        contain the default's positions — an all-zero bloom silently
        dropped those rows from point reads of the default value;
    (2 — medium) the _txn_gate idempotency check in alter_add_column /
        alter_rename_column runs BEFORE schema validation: a rival
        sync that already replayed the alter leaves a schema state the
        validators reject, and the documented contract is to no-op,
        not crash;
    (3 — low) _defaults_for_missing coalesces: appends that habitually
        omit a defaulted column extend the existing back-fill record
        instead of growing the evolution list per commit.
    """
    from scalable_etl_spark.acid import _BLOOM_PREFIX, SnapshotTable

    # --- (1) bloom back-fill honors the ALTER default
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    t.append(spark.createDataFrame([(1,), (2,)], "id INT"))
    t.alter_add_column("k", "int", default=7)
    t.append(spark.createDataFrame([(3, 30)], "id INT, k INT"))
    t.add_bloom_filters(["k"])
    # point read of the DEFAULT must see the pre-alter rows
    got = {r.id for r in t.read(where=("k", 7, 7)).collect()}
    assert got == {1, 2}, got
    # and a probe for a real value still prunes/returns correctly
    assert {r.id for r in t.read(where=("k", 30, 30)).collect()} == {3}
    assert t.read(where=("k", 999, 999)).count() == 0
    # the same holds when the defaulted column was RENAMED after the
    # alter (fill follows the rename; bloom keys are logical)
    t.alter_rename_column("k", "kk")
    t2v = t.add_bloom_filters(["kk"])
    assert {r.id for r in t.read(where=("kk", 7, 7)).collect()} == {1, 2}
    m = t._manifest(t2v)
    # pre-alter entry's back-fill bloom is NON-zero (default hashed in)
    from scalable_etl_spark.acid import _bloom_b64

    old_entry = m["dirs"][0]
    assert all(
        per[_BLOOM_PREFIX + "kk"]["b"] != _bloom_b64((), 8192)
        for per in m["file_stats"][old_entry].values()
    )

    # --- (2) gate check precedes schema validation (duplicate replay
    # no-ops instead of raising "already exists" / "no such column")
    g = SnapshotTable(spark, str(tmp_path / "t2"))
    g.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    v1 = g.alter_add_column("score", "int", _txn_gate=("sync:x", 3))
    # rival replay of the SAME ledger segment: column already exists
    assert g.alter_add_column("score", "int", _txn_gate=("sync:x", 3)) == v1
    v2 = g.alter_rename_column("v", "label", _txn_gate=("sync:x", 4))
    assert (
        g.alter_rename_column("v", "label", _txn_gate=("sync:x", 4)) == v2
    )
    # un-gated duplicates still validate loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        g.alter_add_column("score", "int")
    with _pytest.raises(ValueError, match="no such column"):
        g.alter_rename_column("v", "label2")

    # --- (3) omitting appends coalesce into one back-fill record
    c = SnapshotTable(spark, str(tmp_path / "t3"))
    c.append(spark.createDataFrame([(1,)], "id INT"))
    c.alter_add_column("score", "int", default=5)
    for i in (2, 3, 4):
        c.append(spark.createDataFrame([(i,)], "id INT"))
    m = c._manifest(c.latest_version())
    recs = [r for r in m["evolution"] if r["op"] == "add_column"]
    assert len(recs) == 1, recs  # original record absorbed all three
    assert {r.score for r in c.read().collect()} == {5}
    # after a rename, ONE fresh record under the new name, then reuse
    c.alter_rename_column("score", "points")
    c.append(spark.createDataFrame([(5,)], "id INT"))
    c.append(spark.createDataFrame([(6,)], "id INT"))
    m = c._manifest(c.latest_version())
    recs = [r for r in m["evolution"] if r["op"] == "add_column"]
    assert len(recs) == 2, recs
    assert {r["col"] for r in recs} == {"score", "points"}
    got = {r.id: r.points for r in c.read().collect()}
    assert got == {i: 5 for i in range(1, 7)}, got


def test_alter_drop_column(spark, tmp_path):
    """ALTER TABLE DROP COLUMN (round-10, verdict #5): metadata-only —
    entries keep the physical column, reads stop declaring it (free
    projection at the scan), stats/bloom keys purge in-commit, and the
    record composes with add/rename, default fills, name-reuse
    refusal, time travel, and sync replay."""
    import pytest as _pytest

    from scalable_etl_spark.acid import (
        _BLOOM_PREFIX,
        SnapshotTable,
        sync_incremental,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id INT, v STRING, x INT"
        ),
        stats_cols=["x"],
    )
    t.add_bloom_filters(["x"])
    v_before = t.latest_version()
    # --- basic drop: projection-only read, stats/bloom purged
    t.alter_drop_column("x")
    assert set(t.read().columns) == {"id", "v"}
    m = t._manifest(t.latest_version())
    for per in m["stats"].values():
        assert "x" not in per
    for fs in m["file_stats"].values():
        for per in fs.values():
            assert "x" not in per and _BLOOM_PREFIX + "x" not in per
    # time travel: the pre-drop snapshot still reads the column
    assert {r.x for r in t.read(v_before).collect()} == {10, 20}
    # appends after the drop must not carry it
    with _pytest.raises(Exception):
        t.append(
            spark.createDataFrame([(3, "c", 30)], "id INT, v STRING, x INT")
        )
    t.append(spark.createDataFrame([(3, "c")], "id INT, v STRING"))
    assert {r.id for r in t.read().collect()} == {1, 2, 3}
    # --- name reuse refused while live entries carry the bytes
    with _pytest.raises(ValueError, match="reuse|physically"):
        t.alter_add_column("x", "int")
    with _pytest.raises(ValueError, match="reuse|physically"):
        t.alter_rename_column("v", "x")
    # validation
    with _pytest.raises(ValueError, match="no such column"):
        t.alter_drop_column("nope")
    with _pytest.raises(ValueError, match="only column"):
        t2 = SnapshotTable(spark, str(tmp_path / "one"))
        t2.append(spark.createDataFrame([(1,)], "id INT"))
        t2.alter_drop_column("id")

    # --- drop after rename: pre-rename entries ignore their physical
    # old-name bytes too
    r = SnapshotTable(spark, str(tmp_path / "ren"))
    r.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    r.alter_rename_column("v", "label")
    r.append(spark.createDataFrame([(2, "b")], "id INT, label STRING"))
    r.alter_drop_column("label")
    assert set(r.read().columns) == {"id"}
    assert {row.id for row in r.read().collect()} == {1, 2}
    # both physical spellings stay refused (rename-from AND drop name)
    with _pytest.raises(ValueError, match="reuse|physically"):
        r.alter_add_column("v", "string")
    with _pytest.raises(ValueError, match="reuse|physically"):
        r.alter_add_column("label", "string")

    # --- drop of an added-with-default column: fills stop applying,
    # omitting appends stop accruing back-fill records
    d = SnapshotTable(spark, str(tmp_path / "dflt"))
    d.append(spark.createDataFrame([(1,)], "id INT"))
    d.alter_add_column("score", "int", default=7)
    d.append(spark.createDataFrame([(2,)], "id INT"))  # omits -> fill
    assert {r.score for r in d.read().collect()} == {7}
    d.alter_drop_column("score")
    assert set(d.read().columns) == {"id"}
    d.append(spark.createDataFrame([(3,)], "id INT"))
    m = d._manifest(d.latest_version())
    # no NEW fill record was created for the post-drop append (the
    # pre-drop records remain, inert behind the drop record)
    post_drop_entries = set(m["dirs"]) - set(
        next(
            rec["entries"]
            for rec in m["evolution"]
            if rec["op"] == "drop_column"
        )
    )
    for rec in m["evolution"]:
        if rec["op"] == "add_column":
            assert not (post_drop_entries & set(rec["entries"]))
    assert {r.id for r in d.read().collect()} == {1, 2, 3}

    # --- fill-then-rename-then-drop chain (the _apply_evolution drop
    # branch: the fill is created, renamed forward, then dropped)
    c = SnapshotTable(spark, str(tmp_path / "chain"))
    c.append(spark.createDataFrame([(1,)], "id INT"))
    c.alter_add_column("a", "int", default=3)
    c.alter_rename_column("a", "b")
    c.alter_drop_column("b")
    assert set(c.read().columns) == {"id"}
    assert {row.id for row in c.read().collect()} == {1}

    # --- sync replay: the drop replays once on dst and duplicate
    # replays no-op (gate precedes validation)
    s = SnapshotTable(spark, str(tmp_path / "src"))
    s.append(spark.createDataFrame([(1, "a")], "id INT, v STRING"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    sync_incremental(s, dst, sync_id="s1")
    s.alter_drop_column("v")
    s.append(spark.createDataFrame([(2,)], "id INT"))
    sync_incremental(s, dst, sync_id="s1")
    assert set(dst.read().columns) == {"id", "_src_version"}
    assert {r.id for r in dst.read().collect()} == {1, 2}
    # duplicate gated replay no-ops even though the column is gone
    v_dst = dst.latest_version()
    gate = int(dst._txn_of(v_dst)["sync:s1"])
    assert (
        dst.alter_drop_column("v", _txn_gate=("sync:s1", gate)) == v_dst
    )


def test_stream_sink_complete_mode_replaces(spark, tmp_path):
    """``write_stream_snapshot(output_mode="complete")`` (round 10):
    each complete-mode batch is the FULL aggregation result, so the
    sink must REPLACE the table per batch (last-batch-wins overwrite)
    under the same txn ledger — stacking batches would double-count,
    and a replayed batch must still skip."""
    import json as _json
    import shutil

    from scalable_etl_spark.acid import write_stream_snapshot

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def _write(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    def _drain():
        stream = spark.readStream.schema("k STRING").json(str(src))
        agg = stream.groupBy("k").agg(F.count("*").alias("n"))
        q = write_stream_snapshot(
            agg, t, ckpt, query_id="c1", output_mode="complete"
        )
        q.awaitTermination()

    _write("f1.jsonl", [{"k": "a"}, {"k": "a"}, {"k": "b"}])
    _drain()
    assert {(r.k, r.n) for r in t.read().collect()} == {("a", 2), ("b", 1)}

    # more data -> the next complete batch REPLACES, never stacks
    _write("f2.jsonl", [{"k": "a"}, {"k": "c"}])
    _drain()
    assert {(r.k, r.n) for r in t.read().collect()} == {
        ("a", 3), ("b", 1), ("c", 1),
    }
    m = t._manifest(t.latest_version())
    assert m["op"] == "stream_complete"
    # exactly the latest batch's entries are live (no stacked dirs)
    assert len(m["dirs"]) == 1

    # checkpoint loss: the full input replays as batch 0, which the
    # ledger has already seen -> skipped, result unchanged
    shutil.rmtree(ckpt)
    v_before = t.latest_version()
    _drain()
    assert t.latest_version() == v_before
    assert {(r.k, r.n) for r in t.read().collect()} == {
        ("a", 3), ("b", 1), ("c", 1),
    }

    # bad mode validates loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="output_mode"):
        write_stream_snapshot(
            spark.readStream.schema("k STRING").json(str(src)),
            t, ckpt, output_mode="sideways",
        )


def test_stream_sink_update_mode_merges(spark, tmp_path):
    """``write_stream_snapshot(output_mode="update", merge_on=...)``:
    each batch's changed keys MERGE into the table (latest row per key
    — the Delta foreachBatch-upsert pattern), the batch-id ledger
    rides IN the merge commit, and a checkpoint-loss replay no-ops."""
    import json as _json
    import shutil

    from scalable_etl_spark.acid import write_stream_snapshot

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def _write(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    def _drain():
        stream = spark.readStream.schema("k STRING, n LONG").json(
            str(src)
        )
        q = write_stream_snapshot(
            stream, t, ckpt, query_id="u1",
            output_mode="update", merge_on=("k",),
        )
        q.awaitTermination()

    _write("f1.jsonl", [{"k": "a", "n": 1}, {"k": "b", "n": 1}])
    _drain()
    assert {(r.k, r.n) for r in t.read().collect()} == {
        ("a", 1), ("b", 1)
    }

    # changed keys merge: a updates, c inserts, b untouched
    _write("f2.jsonl", [{"k": "a", "n": 2}, {"k": "c", "n": 1}])
    _drain()
    assert {(r.k, r.n) for r in t.read().collect()} == {
        ("a", 2), ("b", 1), ("c", 1)
    }
    m = t._manifest(t.latest_version())
    assert m["op"] == "merge_update"
    assert m["txn"]["u1"] == 1  # ledger rode in the merge commit

    # checkpoint loss: full input replays as batch 0 -> ledger skip
    shutil.rmtree(ckpt)
    v_before = t.latest_version()
    _drain()
    assert t.latest_version() == v_before
    assert {(r.k, r.n) for r in t.read().collect()} == {
        ("a", 2), ("b", 1), ("c", 1)
    }

    # merge's own gate no-ops a rival's direct replay of a seen batch
    v = t.latest_version()
    assert (
        t.merge(
            spark.createDataFrame([("a", 99)], "k STRING, n LONG"),
            ["k"],
            txn_update={"u1": 1},
        )
        == v
    )
    assert {r.n for r in t.read().filter("k = 'a'").collect()} == {2}

    # mode/key validation is loud
    import pytest as _pytest

    stream = spark.readStream.schema("k STRING, n LONG").json(str(src))
    with _pytest.raises(ValueError, match="merge_on"):
        write_stream_snapshot(stream, t, ckpt, output_mode="update")
    with _pytest.raises(ValueError, match="merge_on"):
        write_stream_snapshot(
            stream, t, ckpt, output_mode="append", merge_on=("k",)
        )


def test_merge_ledger_and_drift_edge_cases(spark, tmp_path):
    """Review fixes on the merge/txn_update surface: (1) a partial
    multi-key gate pass must never REGRESS an already-committed batch
    id (ledger advances by max, not overlay); (2) an EMPTY batch
    commits only the ledger advance — never a copy-on-write rewrite —
    and is a pure no-op without one; (3) a batch predating an ALTER
    ADD COLUMN merges with the column filled to its read-time default
    instead of crashing."""
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def rows(*pairs):
        return spark.createDataFrame(list(pairs), "k STRING, n LONG")

    t.append(rows(("a", 1), ("b", 1)))
    t.merge(rows(("a", 2)), ["k"], txn_update={"q1": 5})
    v = t.merge(
        rows(("b", 2)), ["k"], txn_update={"q1": 3, "q2": 1}
    )
    txn = t._txn_of(v)
    assert txn["q1"] == 5, "partial multi-key update regressed q1"
    assert txn["q2"] == 1

    empty = spark.createDataFrame([], "k STRING, n LONG")
    # idle batch: NO commit at all — ledger advance included (an idle
    # stream must not grow the log; skipping is replay-safe)
    assert t.merge(empty, ["k"], txn_update={"q2": 2}) == v
    assert t.merge(empty, ["k"]) == v
    assert t.latest_version() == v
    assert t._txn_of(v)["q2"] == 1

    t.alter_add_column("score", "int", default=7)
    t.merge(rows(("d", 9)), ["k"])  # batch lacks `score` -> fills 7
    got = {(r.k, r.n, r.score) for r in t.read().collect()}
    assert got == {("a", 2, 7), ("b", 2, 7), ("d", 9, 7)}

    # a missing ORIGINAL column must stay a loud error, not a silent
    # NULL rewrite of stored values
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refusing"):
        t.merge(
            spark.createDataFrame([("e",)], "k STRING"), ["k"]
        )


def test_stream_sink_append_skips_idle_batches(spark, tmp_path):
    """An empty append-mode micro-batch must not commit: no empty data
    dir, no version growth — idle triggers otherwise inflate the
    manifest forever. (Complete mode intentionally DOES commit empty —
    an empty aggregate legitimately replaces the table with nothing.)"""
    import json as _json

    from scalable_etl_spark.acid import write_stream_snapshot

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(spark, str(tmp_path / "t"))

    with open(src / "f1.jsonl", "w") as fh:
        fh.write(_json.dumps({"k": "a"}) + "\n")

    def _drain(where):
        stream = spark.readStream.schema("k STRING").json(str(src))
        q = write_stream_snapshot(
            stream.filter(where), t, ckpt, query_id="i1"
        )
        q.awaitTermination()

    _drain("k IS NOT NULL")
    v1 = t.latest_version()
    n_dirs = len(t._manifest(v1)["dirs"])

    # new file, but the filter empties the batch -> nothing commits
    with open(src / "f2.jsonl", "w") as fh:
        fh.write(_json.dumps({"k": None}) + "\n")
    _drain("k IS NOT NULL")
    assert t.latest_version() == v1
    assert len(t._manifest(v1)["dirs"]) == n_dirs
    assert {r.k for r in t.read().collect()} == {"a"}

    # an empty FIRST batch still creates the table (v0 carries the
    # schema) — a post-drain read() must not raise FileNotFoundError
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    stream = spark.readStream.schema("k STRING").json(str(src))
    from scalable_etl_spark.acid import write_stream_snapshot as _wss

    q = _wss(
        stream.filter("k = 'never-matches'"), t2,
        str(tmp_path / "ckpt2"), query_id="i2",
    )
    q.awaitTermination()
    assert t2.latest_version() == 0
    assert t2.read().count() == 0
    assert t2.read().columns == ["k"]


def test_stream_idle_batch_removes_partitioned_commit_root(
    spark, tmp_path
):
    """Idle-batch skip on a PARTITIONED table must remove the whole
    uncommitted uuid commit root, not just the partition-leaf entries —
    otherwise a steadily idle stream accrues empty uuid dirs (plus
    Spark's _SUCCESS markers) that nothing references and only a
    much-later vacuum would reclaim."""
    import json as _json
    import os as _os

    from scalable_etl_spark.acid import write_stream_snapshot

    src = tmp_path / "in"
    src.mkdir()
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id INT, day STRING"
        ),
        partition_cols=["day"],
    )
    committed_roots = {
        e.split("/", 1)[0] for e in t._manifest(0)["dirs"]
    }

    with open(src / "f1.jsonl", "w") as fh:
        fh.write(_json.dumps({"id": None, "day": "c"}) + "\n")
    stream = spark.readStream.schema("id INT, day STRING").json(str(src))
    q = write_stream_snapshot(
        stream.filter("id IS NOT NULL"), t,
        str(tmp_path / "ckpt"), query_id="idle-p",
    )
    q.awaitTermination()

    assert t.latest_version() == 0  # idle batch: no commit
    on_disk = set(_os.listdir(t.data_dir))
    assert on_disk == committed_roots  # no orphan uuid roots left


def test_vacuum_sweeps_loser_sidecar_at_retained_version(
    spark, tmp_path
):
    """A commit-race loser's checkpoint sidecar at a RETAINED version
    (same version stem, different uuid from the committed pointer)
    must be swept by vacuum once past the age gate — before this fix
    it lingered forever on low-write tables; the pointed winner and
    fresh unexplained siblings must survive."""
    import os as _os

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root, parquet_checkpoints=True)
    t.append(
        spark.createDataFrame([(1, "a")], "id INT, v STRING"),
        stats_cols=["id"],
    )
    raw = t._manifest_raw(0)
    assert raw.get("format") == "checkpoint-parquet"
    winner = _os.path.basename(raw["checkpoint"])
    ckpt_dir = _os.path.join(t.log_dir, "checkpoints")

    old_loser = _os.path.join(ckpt_dir, "00000000-deadbeef.parquet")
    fresh_loser = _os.path.join(ckpt_dir, "00000000-cafef00d.parquet")
    for p in (old_loser, fresh_loser):
        with open(p, "wb") as fh:
            fh.write(b"x")
    _os.utime(old_loser, (1, 1))  # ancient -> past any age gate

    t.vacuum(min_age_seconds=3600)
    assert not _os.path.exists(old_loser)  # aged loser swept
    assert _os.path.exists(fresh_loser)  # still inside the age gate
    assert _os.path.exists(_os.path.join(ckpt_dir, winner))
    # table still resolves through the winner sidecar
    assert {r.id for r in t.read().collect()} == {1}


def test_alter_widen_column(spark, tmp_path):
    """ALTER TABLE type widening (round-11, verdict #6): the fourth
    metadata-only evolution verb. Pre-widen entries keep narrow
    physical files, reads declare the narrow type and cast forward
    losslessly; composes with add-default fills, renames, omitting
    appends, time travel, CDF, rewrites and sync replay."""
    import pytest as _pytest

    from pyspark.sql.types import LongType

    from scalable_etl_spark.acid import SnapshotTable, sync_incremental

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5)], "id INT, x INT, f FLOAT"
        ),
        stats_cols=["x"],
        bloom_cols=["x"],
    )
    v_narrow = t.latest_version()
    # --- int -> bigint: logical schema widens, values unchanged
    t.alter_widen_column("x", "bigint")
    sch = {f.name: f.dataType for f in t.read().schema.fields}
    assert isinstance(sch["x"], LongType)
    assert {(r.id, r.x) for r in t.read().collect()} == {(1, 10), (2, 20)}
    # time travel: the pre-widen snapshot still reads int
    old = {f.name: f.dataType.simpleString()
           for f in t.read(v_narrow).schema.fields}
    assert old["x"] == "int"
    # narrow appends are rejected; wide appends mix with old entries
    with _pytest.raises(ValueError, match="schema conflict"):
        t.append(
            spark.createDataFrame([(3, 30, 3.5)], "id INT, x INT, f FLOAT")
        )
    t.append(
        spark.createDataFrame(
            [(3, 2**40, 3.5)], "id INT, x BIGINT, f FLOAT"
        ),
        stats_cols=["x"],
    )
    assert {r.x for r in t.read().collect()} == {10, 20, 2**40}
    # data skipping + bloom point probe still work across the widen
    assert {r.id for r in t.read(where=("x", 15, 25)).collect()} == {2}
    assert {r.id for r in t.read(where=("x", 10, 10)).collect()} == {1}
    # --- float -> double
    t.alter_widen_column("f", "double")
    assert {round(r.f, 1) for r in t.read().collect()} == {1.5, 2.5, 3.5}

    # --- validation: lossy/unsupported promotions and partition cols
    with _pytest.raises(ValueError, match="widen"):
        t.alter_widen_column("x", "int")  # narrowing
    with _pytest.raises(ValueError, match="widen"):
        t.alter_widen_column("id", "double")  # int -> double: lossy
    with _pytest.raises(ValueError, match="no such column"):
        t.alter_widen_column("nope", "bigint")
    p = SnapshotTable(spark, str(tmp_path / "part"))
    p.overwrite(
        spark.createDataFrame([(1, 2)], "id INT, day INT"),
        partition_cols=["day"],
    )
    with _pytest.raises(ValueError, match="partition"):
        p.alter_widen_column("day", "bigint")

    # --- compose with rename (both orders)
    r = SnapshotTable(spark, str(tmp_path / "ren"))
    r.append(spark.createDataFrame([(1, 5)], "id INT, n INT"))
    r.alter_widen_column("n", "bigint")
    r.alter_rename_column("n", "count")
    r.append(spark.createDataFrame([(2, 2**35)], "id INT, count BIGINT"))
    # NB: Row.count is a method; index the column by name
    assert {(x.id, x["count"]) for x in r.read().collect()} == {
        (1, 5), (2, 2**35)
    }
    r.alter_rename_column("count", "tally")
    r.alter_widen_column("id", "bigint")
    assert {(x.id, x.tally) for x in r.read().collect()} == {
        (1, 5), (2, 2**35)
    }

    # --- widen of an added-with-default column; an OMITTING append
    # after the widen must fresh-fill under the WIDE type, not extend
    # the narrow record (union-equality across entries)
    d = SnapshotTable(spark, str(tmp_path / "dflt"))
    d.append(spark.createDataFrame([(1,)], "id INT"))
    d.alter_add_column("score", "int", default=7)
    d.append(spark.createDataFrame([(2,)], "id INT"))  # narrow fill
    d.alter_widen_column("score", "bigint")
    d.append(spark.createDataFrame([(3,)], "id INT"))  # wide fill
    got = {(x.id, x.score) for x in d.read().collect()}
    assert got == {(1, 7), (2, 7), (3, 7)}
    m = d._manifest(d.latest_version())
    fill_types = {
        rec["type"]
        for rec in m["evolution"]
        if rec["op"] == "add_column" and rec["col"] == "score"
    }
    assert fill_types == {"int", "bigint"}  # fresh wide record exists
    sch = {f.name: f.dataType for f in d.read().schema.fields}
    assert isinstance(sch["score"], LongType)

    # --- CDF across a widen: no raise, frames coerce to the wide type
    ch = d.table_changes(0)
    assert {x.id for x in ch.collect()} == {2, 3}

    # --- rewrite after widen materializes the wide type
    t.compact()
    assert {r.x for r in t.read().collect()} == {10, 20, 2**40}
    sch = {f.name: f.dataType for f in t.read().schema.fields}
    assert isinstance(sch["x"], LongType)

    # --- sync replay: widen replays once on dst; duplicate gated
    # replay no-ops even though the column is already wide
    s = SnapshotTable(spark, str(tmp_path / "src"))
    s.append(spark.createDataFrame([(1, 5)], "id INT, n INT"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    sync_incremental(s, dst, sync_id="w1")
    s.alter_widen_column("n", "bigint")
    s.append(spark.createDataFrame([(2, 2**33)], "id INT, n BIGINT"))
    sync_incremental(s, dst, sync_id="w1")
    assert {(x.id, x.n) for x in dst.read().select("id", "n").collect()} == {
        (1, 5), (2, 2**33)
    }
    sch = {f.name: f.dataType for f in dst.read().schema.fields}
    assert isinstance(sch["n"], LongType)
    v_dst = dst.latest_version()
    gate = int(dst._txn_of(v_dst)["sync:w1"])
    assert (
        dst.alter_widen_column("n", "bigint", _txn_gate=("sync:w1", gate))
        == v_dst
    )


def test_alter_widen_decimal_precision(spark, tmp_path):
    """Iceberg's third promotion rule: decimal(P, S) -> decimal(P', S)
    with P' > P. Pre-widen entries keep decimal(10,2) files and read
    through a lossless cast; scale changes and precision shrinks
    refuse."""
    import decimal

    import pytest as _pytest

    from scalable_etl_spark.acid import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, decimal.Decimal("12345678.99"))],
            "id INT, amt DECIMAL(10,2)",
        )
    )
    t.alter_widen_column("amt", "decimal(14,2)")
    sch = dict(t.read().dtypes)
    assert sch["amt"] == "decimal(14,2)"
    t.append(
        spark.createDataFrame(
            [(2, decimal.Decimal("999999999999.99"))],
            "id INT, amt DECIMAL(14,2)",
        )
    )
    got = {(r.id, str(r.amt)) for r in t.read().collect()}
    assert got == {(1, "12345678.99"), (2, "999999999999.99")}
    with _pytest.raises(ValueError, match="scale|precision"):
        t.alter_widen_column("amt", "decimal(16,4)")  # scale change
    with _pytest.raises(ValueError, match="scale|precision"):
        t.alter_widen_column("amt", "decimal(12,2)")  # shrink
    with _pytest.raises(ValueError, match="widen"):
        t.alter_widen_column("id", "decimal(10,0)")  # int->decimal: no

    # the CDF stream canonicalizes the narrow entry through the same
    # recipe (arrow decimal cast)
    from scalable_etl_spark.streaming.cdf import SnapshotChangesSource

    spark.dataSource.register(SnapshotChangesSource)
    got2: list = []
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", str(tmp_path / "t"))
        .load()
        .writeStream.foreachBatch(
            lambda b, i: got2.extend((r.id, str(r.amt)) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert set(got2) == got


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF travel (Delta/Iceberg parity): version_as_of
    resolves the latest commit at-or-before the timestamp (float epoch
    or ISO string), read_as_of pins reads by it, and it composes with
    data skipping and the CLI restore spelling."""
    import time as _time

    import pytest as _pytest

    from scalable_etl_spark.acid import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id INT"))
    ts0 = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2,)], "id INT"))
    ts1 = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(3,)], "id INT"), stats_cols=["id"])

    assert t.version_as_of(ts0) == 0
    assert t.version_as_of(ts1) == 1
    assert t.version_as_of(_time.time()) == 2
    assert {r.id for r in t.read_as_of(ts0).collect()} == {1}
    assert {r.id for r in t.read_as_of(ts1).collect()} == {1, 2}
    # ISO-8601 spelling resolves identically
    import datetime

    iso = datetime.datetime.fromtimestamp(ts1).isoformat()
    assert t.version_as_of(iso) == 1
    # composes with skipping kwargs
    assert {
        r.id for r in t.read_as_of(_time.time(), where=("id", 3, 9)).collect()
    } == {3}
    with _pytest.raises(ValueError, match="predates"):
        t.version_as_of(0.0)


def test_check_constraints(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT (Delta CHECK parity): the existing
    table validates at add time; every data-adding commit validates
    its NEW files before committing (reading them back — never
    re-executing the producing plan) and a violation aborts with
    nothing committed and no orphan dirs; NULL satisfies CHECK; the
    constraint set carries forward through unrelated commits and
    rewrites; DROP re-admits."""
    import os as _os

    import pytest as _pytest

    from scalable_etl_spark.acid import ConstraintViolation, SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10), (2, None)], "id INT, v INT")
    )
    # add-time validation over existing rows
    with _pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("v_big", "v > 100")
    t.add_constraint("v_pos", "v > 0")  # NULL row passes CHECK
    assert t.constraints() == {"v_pos": "v > 0"}
    with _pytest.raises(ValueError, match="already exists"):
        t.add_constraint("v_pos", "v > 1")

    # violating append: aborted, nothing committed, no orphan dirs
    v_before = t.latest_version()
    n_dirs = len(_os.listdir(t.data_dir))
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        t.append(spark.createDataFrame([(3, -5)], "id INT, v INT"))
    assert t.latest_version() == v_before
    assert len(_os.listdir(t.data_dir)) == n_dirs
    # valid append (and a NULL) passes
    t.append(spark.createDataFrame([(3, 7), (4, None)], "id INT, v INT"))
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4}

    # merge upsert with a violating value: aborted
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        t.merge(
            spark.createDataFrame([(1, -1)], "id INT, v INT"), ["id"]
        )
    # update setting a violating value: aborted
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        t.update("id = 1", {"v": F.lit(-9)}, prune=("id", 1, 1))
    assert {
        (r.id, r.v) for r in t.read().collect()
    } == {(1, 10), (2, None), (3, 7), (4, None)}

    # the set carries forward through unrelated commits (compact)
    t.compact()
    assert t.constraints() == {"v_pos": "v > 0"}
    # CDF batch + streaming surfaces pass constraint commits through
    assert {r.id for r in t.table_changes(0, ignore_changes=True).collect()}

    # insert_ignore validates its novel rows
    with _pytest.raises(ConstraintViolation, match="v_pos"):
        t.insert_ignore(
            spark.createDataFrame([(9, -2)], "id INT, v INT"), ["id"]
        )

    # streaming sink: a violating micro-batch fails the stream and
    # commits nothing
    import json as _json

    from scalable_etl_spark.acid import write_stream_snapshot

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "bad.jsonl", "w") as fh:
        fh.write(_json.dumps({"id": 8, "v": -3}) + "\n")
    stream = spark.readStream.schema("id INT, v INT").json(str(src))
    v_before = t.latest_version()
    q = write_stream_snapshot(
        stream, t, str(tmp_path / "ck"), query_id="c1"
    )
    with _pytest.raises(Exception, match="v_pos"):
        q.awaitTermination()
    assert t.latest_version() == v_before

    # drop re-admits
    t.drop_constraint("v_pos")
    assert t.constraints() == {}
    t.append(spark.createDataFrame([(5, -1)], "id INT, v INT"))
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4, 5}
    with _pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("v_pos")


def test_constraints_compose_with_evolution_and_restore(spark, tmp_path):
    """Round-11 review hardening: (a) rename/drop of a
    constraint-referenced column refuses (Delta's rule — the
    expression would stop analyzing and brick every later write);
    (b) restore cannot resurrect rows violating a constraint added
    after the target snapshot; (c) an append legally OMITTING an
    ALTER-added defaulted column validates against the DEFAULT the
    read will deliver, not a phantom NULL; (d) a constraint over a
    partition column evaluates under the DECLARED type (no
    path-string re-inference); (e) version_as_of below vacuumed
    history raises a clean ValueError."""
    import time as _time

    import pytest as _pytest

    from scalable_etl_spark.acid import ConstraintViolation, SnapshotTable

    # (a) rename/drop refusal
    t = SnapshotTable(spark, str(tmp_path / "a"))
    t.append(spark.createDataFrame([(1, 5)], "id INT, v INT"))
    t.add_constraint("v_pos", "v > 0")
    with _pytest.raises(ValueError, match="referenced by CHECK"):
        t.alter_rename_column("v", "w")
    with _pytest.raises(ValueError, match="referenced by CHECK"):
        t.alter_drop_column("v")
    t.drop_constraint("v_pos")
    t.alter_rename_column("v", "w")  # now legal

    # (b) restore validates against the active set
    r = SnapshotTable(spark, str(tmp_path / "r"))
    r.append(spark.createDataFrame([(1, -5)], "id INT, v INT"))  # v0
    r.delete("v < 0")                                            # v1
    r.add_constraint("v_pos", "v > 0")                           # v2
    with _pytest.raises(ConstraintViolation, match="restored from v0"):
        r.restore(0)
    assert r.latest_version() == 2  # nothing committed

    # (c) omitted defaulted column validates as the default
    d = SnapshotTable(spark, str(tmp_path / "d"))
    d.append(spark.createDataFrame([(1,)], "id INT"))
    d.alter_add_column("flag", "int", default=1)
    d.add_constraint("flag_ok", "flag >= 0")
    d.append(spark.createDataFrame([(2,)], "id INT"))  # omits flag
    assert {(x.id, x.flag) for x in d.read().collect()} == {
        (1, 1), (2, 1)
    }

    # (d) partition-column constraint under the declared STRING type
    p = SnapshotTable(spark, str(tmp_path / "p"))
    p.overwrite(
        spark.createDataFrame([(1, "007")], "id INT, code STRING"),
        partition_cols=["code"],
    )
    p.add_constraint("code_zero", "substring(code, 1, 1) = '0'")
    p.append(spark.createDataFrame([(2, "042")], "id INT, code STRING"))
    assert {x.code for x in p.read().collect()} == {"007", "042"}
    with _pytest.raises(ConstraintViolation, match="code_zero"):
        p.append(
            spark.createDataFrame([(3, "700")], "id INT, code STRING")
        )

    # (e) clean error when the timestamp resolves below vacuumed log
    from scalable_etl_spark.acid import _CHECKPOINT_EVERY

    h = SnapshotTable(spark, str(tmp_path / "h"))
    ts_genesis = None
    for i in range(_CHECKPOINT_EVERY * 2 + 2):
        h.append(spark.createDataFrame([(i,)], "id INT"))
        if i == 0:
            ts_genesis = _time.time()
    h.vacuum(retain_versions=1, min_age_seconds=0.0)
    with _pytest.raises(ValueError, match="retained LOG"):
        h.version_as_of(ts_genesis)


def test_sync_replay_blocked_by_dst_constraint_is_actionable(
    spark, tmp_path
):
    """A src rename whose replay a dst CHECK constraint would refuse
    must fail the sync with an ACTIONABLE error naming the blocking
    constraints and the recovery — not wedge silently behind the
    generic refusal on every re-run."""
    import pytest as _pytest

    from scalable_etl_spark.acid import SnapshotTable, sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.append(spark.createDataFrame([(1, 5)], "id INT, v INT"))
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    sync_incremental(src, dst, sync_id="w")
    dst.add_constraint("v_pos", "v > 0")
    src.alter_rename_column("v", "w")
    src.append(spark.createDataFrame([(2, 7)], "id INT, w INT"))
    with _pytest.raises(RuntimeError, match="v_pos.*Drop them on dst"):
        sync_incremental(src, dst, sync_id="w")
    # recovery path: drop the constraint, sync, re-add post-rename
    dst.drop_constraint("v_pos")
    sync_incremental(src, dst, sync_id="w")
    assert {(r.id, r.w) for r in dst.read().select("id", "w").collect()} == {
        (1, 5), (2, 7)
    }
    dst.add_constraint("w_pos", "w > 0")


def test_change_data_feed_batch(spark, tmp_path):
    """Delta-CDF parity for rewrite commits: with enableChangeDataFeed
    set, MERGE / DELETE / UPDATE record exact row images in
    _change_data files and table_changes(change_feed=True) replays
    them (update_preimage/update_postimage/insert/delete), appends
    deliver as insert, compaction is invisible — exact history, no
    re-delivery caveats."""
    import pytest

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))        # v0
    t.enable_change_data_feed()                                  # v1
    assert t.properties() == {"enableChangeDataFeed": "true"}
    t.append(_df(spark, [(4, "d")]))                             # v2
    t.merge(_df(spark, [(2, "B"), (5, "e")]), ["k"])             # v3
    t.delete("k = 1")                                            # v4
    t.update("k = 4", {"v": "'D'"})                              # v5
    t.compact()                                                  # v6

    feed = t.table_changes(0, change_feed=True)
    # Delta CDF's third metadata column: the commit's manifest
    # wall-clock timestamp, present on every change row
    assert "_commit_timestamp" in feed.columns
    import datetime as _dt

    for r in feed.select("_commit_version", "_commit_timestamp").collect():
        want = _dt.datetime.fromtimestamp(
            float(t._manifest(r._commit_version)["timestamp"]),
            tz=_dt.timezone.utc,
        ).replace(tzinfo=None)
        assert abs((r._commit_timestamp - want).total_seconds()) < 0.001
    got = sorted(
        tuple(r)
        for r in feed.drop("_commit_timestamp").collect()
    )
    assert got == [
        (1, "a", "delete", 4),
        (2, "B", "update_postimage", 3),
        (2, "b", "update_preimage", 3),
        (4, "D", "update_postimage", 5),
        (4, "d", "insert", 2),
        (4, "d", "update_preimage", 5),
        (5, "e", "insert", 3),
    ]
    # property carries forward through every commit shape
    assert t.properties(6) == {"enableChangeDataFeed": "true"}

    # applying the feed over the v0 snapshot reconstructs the live one
    state = {r.k: r.v for r in t.read(0).collect()}
    for r in sorted(got, key=lambda r: r[3]):
        if r[2] == "delete":
            state.pop(r[0], None)
        elif r[2] in ("insert", "update_postimage"):
            state[r[0]] = r[1]
    assert state == {r.k: r.v for r in t.read().collect()}

    # bounded range; default mode still raises on the image-bearing
    # rewrite (no _change_type column without change_feed=True)
    assert {
        (r.k, r._change_type)
        for r in t.table_changes(3, 4, change_feed=True).collect()
    } == {(1, "delete")}
    with pytest.raises(ValueError, match="change_feed=True"):
        t.table_changes(2)

    # unset stops RECORDING (commits after it have no images) but
    # never erases history
    t.unset_property("enableChangeDataFeed")                     # v7
    t.delete("k = 5")                                            # v8
    with pytest.raises(ValueError, match="enable_change_data_feed"):
        t.table_changes(7, change_feed=True)


def test_change_data_feed_vacuum_and_pre_property_rewrite(spark, tmp_path):
    """(a) A rewrite committed BEFORE the property has no images:
    change_feed read raises, ignore_changes still re-delivers. (b)
    vacuum sweeps _change_data dirs of dropped versions and keeps
    retained ones."""
    import os
    import pytest

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))                  # v0
    t.merge(_df(spark, [(1, "A")]), ["k"])                      # v1 pre-property
    with pytest.raises(ValueError, match="enable_change_data_feed"):
        t.table_changes(0, change_feed=True)
    assert t.table_changes(0, ignore_changes=True).count() > 0

    t.enable_change_data_feed()                                 # v2
    t.delete("k = 1")                                           # v3
    t.delete("k = 2")                                           # v4
    cdc_dirs = set(os.listdir(t.change_dir))
    assert len(cdc_dirs) == 2
    kept_rec = t._manifest(4)["change_data"]["entry"]

    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert set(os.listdir(t.change_dir)) == {kept_rec}
    # the retained version's feed still reads
    assert {
        (r.k, r._change_type)
        for r in t.table_changes(3, change_feed=True).collect()
    } == {(2, "delete")}


def test_change_data_feed_merge_delete_mode(spark, tmp_path):
    """when_matched='delete' merges record delete images for matched
    keys and insert images for novel ones."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.enable_change_data_feed()
    t.merge(_df(spark, [(2, "x"), (9, "z")]), ["k"],
            when_matched="delete")                               # v2
    assert sorted(
        (r.k, r._change_type)
        for r in t.table_changes(1, change_feed=True).collect()
    ) == [(2, "delete"), (9, "insert")]
    assert {r.k for r in t.read().collect()} == {1, 9}


def test_widen_then_drop_reads(spark, tmp_path):
    """widen -> drop of the same column (round-12 fuzzer find): the
    widen evolution record must not cast a column a LATER drop record
    already removed from the declared scan — reads of pre-widen
    entries failed analysis before the in-columns guard."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    t.alter_widen_column("k", "bigint")
    t.alter_drop_column("k")
    assert [tuple(r) for r in t.read().collect()] == [("a",)]
    # and with a rename between widen and drop
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1, "a")], "k INT, s STRING"))
    t2.alter_widen_column("k", "bigint")
    t2.alter_rename_column("k", "j")
    t2.alter_drop_column("j")
    assert [tuple(r) for r in t2.read().collect()] == [("a",)]


def test_merge_delete_where_apply_changes(spark, tmp_path):
    """merge(delete_where=...) — Delta APPLY CHANGES INTO in one
    atomic commit: flagged batch rows delete their matched target row
    (unmatched flags no-op), the rest upsert; batch-only columns are
    usable in the flag and dropped from the committed rows; recorded
    CDC images split into delete / update pre+post / insert."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.enable_change_data_feed()
    batch = spark.createDataFrame(
        [
            (2, "B", "u"),    # matched -> update
            (3, "x", "d"),    # matched -> delete
            (7, "y", "d"),    # unmatched delete -> ignored
            (9, "z", "u"),    # unmatched -> insert
        ],
        "k INT, v STRING, op STRING",
    )
    v = t.merge(batch, ["k"], delete_where="op = 'd'")
    assert {tuple(r) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (9, "z")
    }
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in t.table_changes(v - 1, v, change_feed=True).collect()
    )
    assert got == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (9, "z", "insert"),
    ]
    # guard: delete_where composes only with when_matched="update"
    import pytest

    with pytest.raises(ValueError, match="delete_where"):
        t.merge(batch, ["k"], when_matched="delete", delete_where="op='d'")


def test_sync_incremental_cdc_replication(spark, tmp_path):
    """sync_incremental(keys=...) — FULL CDC replication (round 12):
    src rewrites recorded under enableChangeDataFeed apply to dst as
    one atomic merge per commit (upserts + deletes via delete_where),
    compaction stays invisible, the watermark rides each apply, and a
    re-run replays nothing."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b")]))                # v0
    src.enable_change_data_feed()                               # v1
    sync_incremental(src, dst, sync_id="rep", keys=["k"])       # backfill
    src.append(_df(spark, [(3, "c")]))                          # v2
    src.merge(_df(spark, [(2, "B"), (4, "d")]), ["k"])          # v3
    src.delete("k = 1")                                         # v4
    src.compact()                                               # v5 invisible

    dv, watermark = sync_incremental(src, dst, sync_id="rep", keys=["k"])
    assert watermark == 5
    got = {
        (r.k, r.v, r._src_version) for r in dst.read().collect()
    }
    assert got == {(2, "B", 3), (3, "c", 2), (4, "d", 3)}
    # replicated content == src content (provenance aside)
    assert {(r.k, r.v) for r in src.read().collect()} == {
        (r[0], r[1]) for r in got
    }
    # idempotent re-run: nothing new, zero dst commits
    assert sync_incremental(src, dst, sync_id="rep", keys=["k"]) == (
        dv, 5
    )
    assert dst.latest_version() == dv


def test_sync_cdc_replication_with_transform_and_empty_apply(
    spark, tmp_path
):
    """A row-wise transform applies to the row images too: a row
    filtered at insert time consistently filters its later update /
    delete images (the key never reaches dst), and an apply whose
    images reduce to an EMPTY batch still advances the watermark
    (_advance_txn) instead of spinning."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b")]))                # v0
    src.enable_change_data_feed()                               # v1
    keep = lambda d: d.filter(F.col("k") != 2)  # noqa: E731
    sync_incremental(src, dst, transform=keep, sync_id="x", keys=["k"])
    assert {r.k for r in dst.read().collect()} == {1}

    src.update("k = 2", {"v": "'B'"})                           # v2: images
    # all filtered by the transform -> empty apply -> watermark must
    # still advance (merge's idle return skips the ledger)
    dv, wm = sync_incremental(
        src, dst, transform=keep, sync_id="x", keys=["k"]
    )
    assert wm == 2
    assert {r.k for r in dst.read().collect()} == {1}

    src.delete("k = 1")                                         # v3
    dv, wm = sync_incremental(
        src, dst, transform=keep, sync_id="x", keys=["k"]
    )
    assert wm == 3
    assert dst.read().count() == 0


def test_change_feed_non_additive_guard_and_genesis_gate(spark, tmp_path):
    """Round-12 review fixes: (a) change_feed reads across a rename
    that postdates recorded images raise the non-additive error
    instead of silently null-padding both spellings via unionByName;
    (b) merge(delete_where) on a not-yet-created table refuses — the
    raw batch's flag-only columns must never become the table
    schema."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                 # v0
    t.enable_change_data_feed()                                # v1
    t.merge(_df(spark, [(2, "B")]), ["k"])                     # v2 images
    t.alter_rename_column("v", "w")                            # v3
    t.append(
        spark.createDataFrame([(9, "z")], "k INT, w STRING")
    )                                                          # v4
    with pytest.raises(ValueError, match="non-additive"):
        t.table_changes(1, change_feed=True, ignore_changes=True)
    # sub-range up to the ALTER still reads exactly
    assert {
        (r.k, r._change_type)
        for r in t.table_changes(1, 2, change_feed=True).collect()
    } == {(2, "update_preimage"), (2, "update_postimage")}

    fresh = SnapshotTable(spark, str(tmp_path / "fresh"))
    with pytest.raises(FileNotFoundError, match="existing target"):
        fresh.merge(
            spark.createDataFrame(
                [(1, "a", "d")], "k INT, v STRING, op STRING"
            ),
            ["k"],
            delete_where="op = 'd'",
        )


def test_sync_cdc_replication_chains(spark, tmp_path):
    """CDC replication CHAINS: when the replication target itself has
    enableChangeDataFeed on, the apply merges record their own row
    images, so a THIRD table replicates from the second — multi-hop
    pipelines (bronze -> silver -> gold mirrors) each pay only
    O(changed rows) per hop."""
    from scalable_etl_spark.acid import sync_incremental

    a = SnapshotTable(spark, str(tmp_path / "a"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    c = SnapshotTable(spark, str(tmp_path / "c"))
    a.append(_df(spark, [(1, "x"), (2, "y")]))
    a.enable_change_data_feed()
    sync_incremental(a, b, sync_id="ab", keys=["k"])  # backfill b
    b.enable_change_data_feed()
    sync_incremental(b, c, sync_id="bc", keys=["k"])  # backfill c

    a.merge(_df(spark, [(2, "Y"), (3, "z")]), ["k"])
    a.delete("k = 1")
    sync_incremental(a, b, sync_id="ab", keys=["k"])  # apply to b
    assert b._manifest(b.latest_version()).get("change_data"), (
        "b's apply merges must record their own images"
    )
    sync_incremental(b, c, sync_id="bc", keys=["k"])  # apply b's feed
    want = {(2, "Y"), (3, "z")}
    assert {(r.k, r.v) for r in a.read().collect()} == want
    assert {(r.k, r.v) for r in b.read().select("k", "v").collect()} == want
    assert {(r.k, r.v) for r in c.read().select("k", "v").collect()} == want


def test_change_data_feed_partitioned_table(spark, tmp_path):
    """CDC images on a PARTITIONED table: _change_data files are
    unpartitioned but carry the partition column as an ordinary
    column, so a partition-scoped DELETE's images replay with the
    partition values intact — and the untouched partition's dirs
    survive byte-identical."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "d0"), (2, "b", "d1"), (3, "c", "d0")],
            "k INT, v STRING, day STRING",
        ),
        partition_cols=["day"],
    )
    t.enable_change_data_feed()
    before = {
        e: os.listdir(os.path.join(t.data_dir, e))
        for e in t._manifest(0)["dirs"]
        if e.endswith("day=d1")
    }
    t.delete("day = 'd0' AND k = 1", prune=("day", "d0", "d0"))
    got = {
        (r.k, r.v, r.day, r._change_type)
        for r in t.table_changes(1, change_feed=True).collect()
    }
    assert got == {(1, "a", "d0", "delete")}
    assert {(r.k, r.day) for r in t.read().collect()} == {
        (2, "d1"), (3, "d0")
    }
    # untouched partition survived byte-identical (no rewrite)
    after = {
        e: os.listdir(os.path.join(t.data_dir, e))
        for e in t._manifest(t.latest_version())["dirs"]
        if e.endswith("day=d1")
    }
    assert after == before


def test_change_feed_derived_overwrite_and_restore(spark, tmp_path):
    """OVERWRITE / RESTORE under enableChangeDataFeed deliver DERIVED
    images the way Delta serves add/remove file actions: removed-dir
    rows as delete, added-dir rows as insert — and a RESTORE that
    re-references shared dirs delivers only the actual diff."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                  # v0
    t.enable_change_data_feed()                                 # v1
    t.overwrite(_df(spark, [(2, "B"), (3, "c")]))               # v2
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in t.table_changes(1, 2, change_feed=True).collect()
    )
    assert got == [
        (1, "a", "delete", 2),
        (2, "B", "insert", 2),
        (2, "b", "delete", 2),
        (3, "c", "insert", 2),
    ]
    # applying the full feed over the v1 snapshot = live snapshot
    # (delete then insert per key within one commit: insert wins)
    t.append(_df(spark, [(4, "d")]))                            # v3
    t.restore(2)                                                # v4: drop v3's dir,
    # v2's dirs are SHARED with v4 -> only the removed dir delivers
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in t.table_changes(3, 4, change_feed=True).collect()
    )
    assert got == [(4, "d", "delete")]
    # a rewrite BEFORE the property still raises (no derivation
    # without the feed on at commit time)
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(_df(spark, [(1, "a")]))
    t2.overwrite(_df(spark, [(2, "b")]))                        # pre-property
    t2.enable_change_data_feed()
    with pytest.raises(ValueError, match="enable_change_data_feed"):
        t2.table_changes(0, change_feed=True)


def test_change_feed_stale_image_guard(spark, tmp_path):
    """Drop + compact + re-add of the SAME column name defeats the
    name-only drift guard — the range-scan guard must refuse to serve
    the old column's image bytes as the re-added column (ADVICE r12:
    the data-dir path nulls dead names; the _change_data path
    raises)."""
    import pytest

    t = SnapshotTable(
        spark, str(tmp_path / "t"), parquet_checkpoints=False
    )
    t.append(
        spark.createDataFrame([(1, "a", 10)], "k INT, v STRING, x INT")
    )                                                            # v0
    t.enable_change_data_feed()                                  # v1
    t.delete("k = 0")  # no-op: no matching rows, commits nothing
    t.update("k = 1", {"x": "x + 1"})                            # v2 images carry x
    t.alter_drop_column("x")                                     # v3
    t.compact()                                                  # v4 purges physical x
    t.alter_add_column("x", "int")                               # v5 re-add same name
    # sub-range up to the drop still reads exactly
    assert sorted(
        (r.k, r.x, r._change_type)
        for r in t.table_changes(1, 2, change_feed=True).collect()
    ) == [(1, 10, "update_preimage"), (1, 11, "update_postimage")]
    # the full range must refuse: v2's x images are the OLD column
    with pytest.raises(ValueError, match="rename/drop postdates"):
        t.table_changes(1, change_feed=True).collect()


def test_merge_strict_multi_match(spark, tmp_path):
    """merge(strict=True) raises Delta-style on multiple source rows
    per key; default keeps the documented arbitrary-winner contract;
    SPARK_ETL_MERGE_STRICT=1 flips the default."""
    import os

    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    dup = _df(spark, [(1, "x"), (1, "y"), (2, "z")])
    with pytest.raises(ValueError, match="distinct key combination"):
        t.merge(dup, ["k"], strict=True)
    assert t.latest_version() == 0  # nothing committed
    t.merge(dup, ["k"])  # default: arbitrary winner, documented
    assert {r.k for r in t.read().collect()} == {1, 2}
    os.environ["SPARK_ETL_MERGE_STRICT"] = "1"
    try:
        with pytest.raises(ValueError, match="strict"):
            t.merge(dup, ["k"])
        t.merge(dup, ["k"], strict=False)  # explicit opt-out wins
    finally:
        del os.environ["SPARK_ETL_MERGE_STRICT"]


def test_sync_cdc_transform_contract(spark, tmp_path):
    """A transform that drops _change_type (or a key) from a CDC
    apply segment raises a sync-contract error naming the column,
    not a merge-internal AnalysisException (ADVICE r12)."""
    import pytest

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    src.enable_change_data_feed()
    sync_incremental(src, dst, sync_id="x", keys=["k"])
    src.delete("k = 1")  # CDC segment
    with pytest.raises(ValueError, match="_change_type"):
        sync_incremental(
            src, dst, sync_id="x", keys=["k"],
            transform=lambda b: b.select("k", "v", "_src_version"),
        )
    # a key-preserving, tag-preserving select is fine
    sync_incremental(
        src, dst, sync_id="x", keys=["k"],
        transform=lambda b: b.select(
            "k", "v", "_change_type", "_src_version"
        ),
    )
    assert {r.k for r in dst.read().collect()} == {2}


def test_sync_replicates_overwrite_via_derived_images(spark, tmp_path):
    """sync_incremental(keys=...) applies a src OVERWRITE / RESTORE
    through its derived change images: surviving keys upsert (the
    insert image wins the per-key reduction), vanished keys delete."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    src.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src.enable_change_data_feed()
    sync_incremental(src, dst, sync_id="r", keys=["k"])
    src.overwrite(_df(spark, [(2, "B"), (4, "d")]))  # 1,3 gone; 2 updated
    src.append(_df(spark, [(5, "e")]))
    sync_incremental(src, dst, sync_id="r", keys=["k"])
    assert sorted((r.k, r.v) for r in dst.read().collect()) == [
        (2, "B"), (4, "d"), (5, "e")
    ]
    # and a restore replays the same way
    src.restore(0)
    sync_incremental(src, dst, sync_id="r", keys=["k"])
    assert sorted((r.k, r.v) for r in dst.read().collect()) == sorted(
        (r.k, r.v) for r in src.read().collect()
    )


def test_deletion_vector_delete_lifecycle(spark, tmp_path):
    """Merge-on-read DELETE (deletion vectors): no data dir is
    rewritten — matched positions land in a _deletion_vectors sidecar
    applied at read time; DVs stack, ride time travel and the change
    feed, no-match commits nothing, and compact() materializes them
    away (after which file-level export works again)."""
    import os

    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = [(i, "z" if i >= 100 else "a") for i in
            [*range(20), 100, 101, 102]]
    t.append(_df(spark, rows[:20]))                              # v0
    t.append(_df(spark, rows[20:]))                              # v1
    t.enable_change_data_feed()                                  # v2
    before_dirs = t._manifest(1)["dirs"]
    v = t.delete("k % 5 = 0", mode="merge-on-read")              # v3
    m = t._manifest(v)
    assert m["dirs"] == before_dirs  # NO rewrite
    assert len(m["dv"]) == 2  # both entries hold multiples of 5
    want = sorted(k for k, _ in rows if k % 5 != 0)
    assert sorted(r.k for r in t.read().collect()) == want
    # exact delete images on the feed
    assert sorted(
        (r.k, r._change_type)
        for r in t.table_changes(2, 3, change_feed=True).collect()
    ) == [(k, "delete") for k, _ in rows if k % 5 == 0]
    # stacked second DV on the same entries
    t.delete("v = 'z'", mode="merge-on-read")                    # v4
    want2 = sorted(k for k, vv in rows if k % 5 != 0 and vv != "z")
    assert sorted(r.k for r in t.read().collect()) == want2
    # time travel applies each version's own DV set
    assert sorted(r.k for r in t.read(3).collect()) == want
    assert sorted(r.k for r in t.read(1).collect()) == sorted(
        k for k, _ in rows
    )
    # no-match: nothing commits, no orphan sidecar accumulates a map
    v_before = t.latest_version()
    assert t.delete("k = 999", mode="merge-on-read") == v_before
    assert t.latest_version() == v_before
    # file-level export refuses while DVs are live
    with pytest.raises(ValueError, match="deletion vectors"):
        t.committed_files()
    with pytest.raises(ValueError, match="deletion vectors"):
        t.export_symlink_manifest(str(tmp_path / "x"))
    # compact materializes suppressions away (dataChange=false)
    t.compact()
    mc = t._manifest(t.latest_version())
    assert not mc.get("dv")
    assert sorted(r.k for r in t.read().collect()) == want2
    assert len(t.committed_files()) > 0
    # vacuum sweeps the now-unreferenced sidecars
    swept = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert any(s.startswith("_deletion_vectors/") for s in swept)
    assert not os.path.exists(t.dv_dir) or os.listdir(t.dv_dir) == []


def test_deletion_vector_update_and_merge(spark, tmp_path):
    """Merge-on-read UPDATE and MERGE: matched rows suppress via DV,
    the effect appends as a new entry — semantics identical to
    copy-on-write (images included), dirs only ever GROW."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k INT, x INT"
        ),
        stats_cols=["k"],
    )
    t.enable_change_data_feed()
    v = t.update("k >= 7", {"x": "x + 1"}, mode="merge-on-read")
    assert sorted((r.k, r.x) for r in t.read().collect()) == [
        (i, i * 10 + (1 if i >= 7 else 0)) for i in range(10)
    ]
    assert sorted(
        (r.k, r.x, r._change_type)
        for r in t.table_changes(v - 1, v, change_feed=True).collect()
    ) == [
        (7, 70, "update_preimage"), (7, 71, "update_postimage"),
        (8, 80, "update_preimage"), (8, 81, "update_postimage"),
        (9, 90, "update_preimage"), (9, 91, "update_postimage"),
    ]
    # MOR merge: upsert + insert in one commit, dirs grow by one
    n_dirs = len(t._manifest(v)["dirs"])
    v2 = t.merge(
        spark.createDataFrame([(1, 999), (100, 5)], "k INT, x INT"),
        ["k"],
        mode="merge-on-read",
    )
    m2 = t._manifest(v2)
    assert len(m2["dirs"]) == n_dirs + 1
    got = {r.k: r.x for r in t.read().collect()}
    assert got[1] == 999 and got[100] == 5 and len(got) == 11
    assert sorted(
        (r.k, r.x, r._change_type)
        for r in t.table_changes(v2 - 1, v2, change_feed=True).collect()
    ) == [
        (1, 10, "update_preimage"),
        (1, 999, "update_postimage"),
        (100, 5, "insert"),
    ]
    # delete-mode and delete_where (APPLY CHANGES) both work MOR
    t.merge(
        spark.createDataFrame([(2, 0), (200, 7)], "k INT, x INT"),
        ["k"],
        when_matched="delete",
        mode="merge-on-read",
    )
    t.merge(
        spark.createDataFrame(
            [(3, 0, "del"), (4, 444, "up"), (300, 3, "up")],
            "k INT, x INT, op STRING",
        ),
        ["k"],
        delete_where="op = 'del'",
        mode="merge-on-read",
    )
    got = {r.k: r.x for r in t.read().collect()}
    assert 2 not in got and 3 not in got
    assert got[200] == 7 and got[4] == 444 and got[300] == 3
    # range skipping still correct after MOR commits
    assert sorted(
        r.k for r in t.read(where=("k", 100, 300)).collect()
    ) == [100, 200, 300]
    # a later COPY-ON-WRITE rewrite must not resurrect suppressed rows
    t.merge(spark.createDataFrame([(5, 555)], "k INT, x INT"), ["k"])
    got = {r.k: r.x for r in t.read().collect()}
    assert got[5] == 555 and 2 not in got and 3 not in got
    # restore to a DV'd version brings its suppressions back
    t.restore(v2)
    got = {r.k: r.x for r in t.read().collect()}
    assert got[1] == 999 and got[100] == 5 and len(got) == 11


def test_change_feed_derived_images_see_dv_changes(spark, tmp_path):
    """A RESTORE that undoes (or reinstates) merge-on-read
    suppressions can leave the dir SET unchanged — only the dv maps
    differ. The derived change images must still deliver the diff
    (review r13: a dir-set-only diff made the resurrection invisible
    to every feed consumer)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                  # v0
    t.enable_change_data_feed()                                 # v1
    t.delete("k = 1", mode="merge-on-read")                     # v2
    t.restore(1)                                                # v3: same dirs, dv gone
    got = sorted(
        (r.k, r._change_type)
        for r in t.table_changes(2, 3, change_feed=True).collect()
    )
    # previously visible rows delete, now-visible rows insert: the
    # k=1 resurrection is observable (k=2 re-delivers both ways)
    assert got == [(1, "insert"), (2, "delete"), (2, "insert")]
    # and a keyed replica follows it (per-key reduction: insert wins)
    from scalable_etl_spark.acid import sync_incremental

    dst = SnapshotTable(spark, str(tmp_path / "d"))
    sync_incremental(t, dst, sync_id="r", keys=["k"])
    assert sorted((r.k, r.v) for r in dst.read().collect()) == [
        (1, "a"), (2, "b")
    ]
    # reinstating the suppression (restore to the DV'd version) also
    # delivers: k=1 deletes again
    t.restore(2)                                                # v4
    got = sorted(
        (r.k, r._change_type)
        for r in t.table_changes(3, 4, change_feed=True).collect()
    )
    assert (1, "delete") in got and (1, "insert") not in got
    sync_incremental(t, dst, sync_id="r", keys=["k"])
    assert sorted(r.k for r in dst.read().collect()) == [2]


def test_deletion_vectors_hive_escaped_partitions(spark, tmp_path):
    """Merge-on-read DML on a table whose partition VALUES are
    hive-escaped on disk ('a:b' -> 'p=a%3Ab') — Spark renders such
    paths URL-encoded in _metadata.file_path, so the sidecar stores
    rendering-space paths and decodes once for entry mapping (review
    r13: the first spelling crashed on 'no manifest entry owns')."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a:b"), (2, "a:b"), (3, "plain")], "k INT, p STRING"
        ),
        partition_cols=["p"],
    )
    t.enable_change_data_feed()
    v = t.delete("k = 1", mode="merge-on-read")
    m = t._manifest(v)
    assert any("%3A" in e for e in m["dv"]), m["dv"]  # escaped entry mapped
    assert sorted((r.k, r.p) for r in t.read().collect()) == [
        (2, "a:b"), (3, "plain")
    ]
    assert sorted(
        (r.k, r._change_type)
        for r in t.table_changes(v - 1, v, change_feed=True).collect()
    ) == [(1, "delete")]
    # copy-on-write rewrite over the DV'd escaped partition keeps it
    t.update("k = 2", {"k": "20"})
    assert sorted(r.k for r in t.read().collect()) == [3, 20]
    t.compact()
    assert sorted(r.k for r in t.read().collect()) == [3, 20]


def test_deletion_vectors_encodable_table_root(spark, tmp_path):
    """A table ROOT containing a URL-encodable character (space):
    the file-path rendering encodes the data_dir itself; the prefix
    probe binds via the encoded marker and merge-on-read stays exact
    (review r13: the fallback produced garbage relative paths)."""
    t = SnapshotTable(spark, str(tmp_path / "my tables" / "t"))
    t.append(_df(spark, [(i, "x") for i in range(10)]))
    v = t.delete("k % 3 = 0", mode="merge-on-read")
    assert t._manifest(v).get("dv")
    assert sorted(r.k for r in t.read().collect()) == [
        i for i in range(10) if i % 3 != 0
    ]
    t.compact()
    assert sorted(r.k for r in t.read().collect()) == [
        i for i in range(10) if i % 3 != 0
    ]


def test_ignore_changes_redelivers_dv_only_commits(spark, tmp_path):
    """ignore_changes mode must RE-DELIVER a dir whose deletion-vector
    list changed even though the dir set did not (merge-on-read
    delete, or a restore undoing one) — Delta's ignoreChanges
    re-delivers the DV-re-added file's rows the same way (review r13
    follow-up: the dir-set-only diff made dv-only commits invisible)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))        # v0
    t.delete("k = 1", mode="merge-on-read")                     # v1 dv-only
    got = sorted(
        (r.k, r._commit_version)
        for r in t.table_changes(0, ignore_changes=True).collect()
    )
    # v1 re-delivers the dir's NOW-VISIBLE rows (k=1 suppressed)
    assert got == [(2, 1), (3, 1)]
    t.restore(0)                                                # v2 dv-only undo
    got = sorted(
        (r.k, r._commit_version)
        for r in t.table_changes(1, 2, ignore_changes=True).collect()
    )
    assert got == [(1, 2), (2, 2), (3, 2)]  # resurrection visible


def test_maybe_compact_dv_ceiling(spark, tmp_path):
    """maybe_compact(max_dvs=...) materializes deletion vectors away
    once the sidecar count crosses the ceiling (auto-OPTIMIZE cadence
    for merge-on-read tables) — and the plain file-count path must
    not crash on a DV'd table (committed_files refuses DVs; the count
    is taken from the manifest instead)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(20)]))
    t.delete("k = 1", mode="merge-on-read")
    # under both ceilings: no-op (and no crash on the file count)
    assert t.maybe_compact(max_files=64, max_dvs=3) is None
    t.delete("k = 2", mode="merge-on-read")
    t.delete("k = 3", mode="merge-on-read")
    t.delete("k = 4", mode="merge-on-read")  # 4 sidecars now
    v = t.maybe_compact(max_files=64, max_dvs=3)
    assert v is not None
    m = t._manifest(v)
    assert not m.get("dv")  # materialized away
    assert sorted(r.k for r in t.read().collect()) == [0, *range(5, 20)]
    # compaction is dataChange=false: invisible to the feed
    assert m.get("data_change") is False


def test_dv_update_regenerates_blooms(spark, tmp_path):
    """A merge-on-read UPDATE's postimage entry regenerates bloom
    filters for every bloom'd column (same preservation contract as
    the copy-on-write rewrite), so point-lookup skipping stays exact
    after MOR DML."""
    from scalable_etl_spark.acid import _BLOOM_PREFIX

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(50)], "k INT, x INT"
        ),
        bloom_cols=["k"],
    )
    v = t.update("k = 7", {"x": "777"}, mode="merge-on-read")
    m = t._manifest(v)
    new_entry = m["dirs"][-1]
    per_file = m["file_stats"].get(new_entry, {})
    assert per_file, "postimage entry must carry file stats"
    assert any(
        _BLOOM_PREFIX + "k" in per for per in per_file.values()
    ), "bloom not regenerated on the postimage entry"
    assert {(r.k, r.x) for r in t.read(where=("k", 7, 7)).collect()} == {
        (7, 777)
    }


def test_export_symlink_manifest_with_deletion_vectors(spark, tmp_path):
    """DV-aware engine interop: export_symlink_manifest(
    deletion_vectors=True) adds a positions sidecar an external
    engine anti-joins via its per-file row numbers — DuckDB's
    file_row_number shares Spark's _metadata.row_index definition, so
    the replay is bit-exact."""
    import duckdb

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, chr(97 + i % 5)) for i in range(30)]))
    t.append(_df(spark, [(100 + i, "z") for i in range(5)]))
    t.delete("k % 4 = 0", mode="merge-on-read")
    t.delete("v = 'z' AND k > 102", mode="merge-on-read")  # stacked
    out = str(tmp_path / "exp")
    t.export_symlink_manifest(out, deletion_vectors=True)
    import json as _json
    import os as _os

    man = _json.load(open(_os.path.join(out, "manifest.json")))
    assert man["deletion_vectors"] == "deletion_vectors.dv"
    assert man["suppressed_positions"] > 0
    got = duckdb.sql(
        f"""
        SELECT t.k FROM read_parquet('{out}/**/*.parquet',
               filename=true, file_row_number=true) t
        ANTI JOIN read_parquet('{out}/deletion_vectors.dv') d
          ON t.filename = '{out}/' || d.file
         AND t.file_row_number = d.pos
        """
    ).fetchall()
    assert sorted(r[0] for r in got) == sorted(
        r.k for r in t.read().collect()
    )
    # the data glob must NOT pick the sidecar up as a data file
    n_raw = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/**/*.parquet')"
    ).fetchone()[0]
    assert n_raw == 35  # raw files still carry every physical row


def test_maybe_compact_dv_ceiling_with_partition_policy(spark, tmp_path):
    """The max_dvs ceiling must be enforced even when the
    partition_max_files policy is ALSO active (round-14 ADVICE fix:
    it was previously gated on partition_max_files being None, so a
    DV'd partitioned table under per-partition ceilings never
    auto-materialized its deletion vectors). The materialization is
    partition-scoped: only partitions whose entries carry DVs are
    rewritten — cold partitions' bytes never move."""
    import hashlib
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(12)], "k INT, day STRING"
        ),
        partition_cols=["day"],
    )
    # MOR deletes stack sidecars on the HOT partition only
    t.delete("k = 1", mode="merge-on-read")
    t.delete("k = 3", mode="merge-on-read")
    t.delete("k = 5", mode="merge-on-read")

    def files_of(part):
        out = {}
        for root, _s, files in os.walk(t.data_dir):
            if f"day={part}" not in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
        return out

    d0_before = files_of("d0")
    # under the DV ceiling: both policies quiescent -> no-op
    assert (
        t.maybe_compact(partition_max_files=64, max_dvs=8) is None
    )
    assert t._manifest(t.latest_version()).get("dv")
    # over the DV ceiling: DVs materialize away even though the
    # file-count policy alone would not have compacted anything
    v = t.maybe_compact(partition_max_files=64, max_dvs=2)
    assert v is not None
    m = t._manifest(v)
    assert not m.get("dv"), "DVs must be materialized away"
    assert files_of("d0") == d0_before, "cold partition must not move"
    assert sorted(r.k for r in t.read().collect()) == [
        0, 2, 4, *range(6, 12)
    ]
    # re-call: quiescent again
    assert (
        t.maybe_compact(partition_max_files=64, max_dvs=2) is None
    )


def test_dv_broadcast_guard_falls_back_to_shuffle(
    spark, tmp_path, monkeypatch
):
    """Past SPARK_ETL_DV_BROADCAST_MAX_POSITIONS live suppressed
    rows, DV suppression degrades from a broadcast anti-join to a
    SHUFFLED one (round-14 ADVICE fix: an unbounded broadcast side is
    a driver OOM at 100 TB churn, not a slow plan) — same rows either
    way, and the default path still broadcasts."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(30)]))
    t.delete("k < 10", mode="merge-on-read")  # 10 live positions

    plan_bcast = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bcast  # default: broadcast

    monkeypatch.setenv("SPARK_ETL_DV_BROADCAST_MAX_POSITIONS", "5")
    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "LeftAnti" in plan  # still an anti-join, now shuffled
    assert sorted(r.k for r in df.collect()) == list(range(10, 30))


def test_sync_strict_duplicate_key_derived_images(spark, tmp_path):
    """sync_incremental(strict=) mirrors merge's strict contract on
    the DERIVED-image path (round-14 ADVICE fix): an overwrite of a
    duplicate-key src derives multiple insert images per key, which
    the per-key reduction would resolve arbitrarily — strict raises
    loudly, default stays permissive, and the env flag flips the
    default exactly like merge."""
    import pytest

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b")]))                # v0
    src.enable_change_data_feed()                               # v1
    sync_incremental(src, dst, sync_id="s", keys=["k"])
    # duplicate-key overwrite: k=1 now has TWO insert images
    src.overwrite(_df(spark, [(1, "x"), (1, "y"), (2, "b")]))   # v2
    with pytest.raises(ValueError, match="strict.*arbitrary"):
        sync_incremental(src, dst, sync_id="s", keys=["k"], strict=True)
    # the failed strict run must not have advanced the watermark
    # or committed anything to dst
    assert {(r.k, r.v) for r in dst.read().collect()} == {
        (1, "a"), (2, "b")
    }
    # permissive default: one arbitrary winner applies
    dv, wm = sync_incremental(src, dst, sync_id="s", keys=["k"])
    assert wm == 2
    got = {(r.k, r.v) for r in dst.read().collect()}
    assert (2, "b") in got and len(got) == 2
    assert next(v for k, v in got if k == 1) in ("x", "y")


def test_sync_strict_env_flag_and_clean_feed(spark, tmp_path, monkeypatch):
    """SPARK_ETL_MERGE_STRICT=1 flips sync_incremental's default to
    strict (same audit switch as merge), and a DUPLICATE-FREE derived
    feed passes strict untouched."""
    import pytest

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b")]))                # v0
    src.enable_change_data_feed()                               # v1
    sync_incremental(src, dst, sync_id="s", keys=["k"])
    src.overwrite(_df(spark, [(1, "x"), (2, "b"), (3, "c")]))   # v2 clean
    monkeypatch.setenv("SPARK_ETL_MERGE_STRICT", "1")
    _, wm = sync_incremental(src, dst, sync_id="s", keys=["k"])
    assert wm == 2
    assert {(r.k, r.v) for r in dst.read().collect()} == {
        (1, "x"), (2, "b"), (3, "c")
    }
    src.overwrite(_df(spark, [(3, "c"), (3, "d")]))             # v3 dupes
    with pytest.raises(ValueError, match="strict"):
        sync_incremental(src, dst, sync_id="s", keys=["k"])


def test_alter_partitioning_mixed_layout(spark, tmp_path):
    """Partition evolution (Iceberg v2 parity): alter_partitioning
    changes the spec for FUTURE writes without rewriting existing
    entries — one snapshot mixes both layouts, reads union them,
    equality reads prune by path on BOTH layouts (per-entry spec),
    rewrites migrate to the live spec, and restore brings the old
    spec back with its snapshot."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"d{i % 2}", f"r{i % 3}") for i in range(12)],
            "k INT, day STRING, region STRING",
        ),
        partition_cols=["day"],
    )                                                           # v0
    v1 = t.alter_partitioning(["region"])                       # v1
    assert v1 == 1
    m1 = t._manifest(v1)
    assert m1["partition_cols"] == ["region"]
    assert m1["data_change"] is False
    assert m1["dirs"] == t._manifest(0)["dirs"]  # metadata-only
    # idempotent: same spec no-ops without committing
    assert t.alter_partitioning(["region"]) == v1
    # new writes land under the NEW spec
    t.append(
        spark.createDataFrame(
            [(100, "d9", "r0"), (101, "d9", "r1")],
            "k INT, day STRING, region STRING",
        )
    )                                                           # v2
    m2 = t._manifest(2)
    old = [e for e in m2["dirs"] if "day=" in e]
    new = [e for e in m2["dirs"] if "region=" in e and "day=" not in e]
    assert old and new, m2["dirs"]
    # full read unions both layouts
    assert sorted(r.k for r in t.read().collect()) == [
        *range(12), 100, 101
    ]
    # row values: path-derived and file-stored columns agree
    assert {(r.k, r.day, r.region) for r in t.read().collect()} == {
        (i, f"d{i % 2}", f"r{i % 3}") for i in range(12)
    } | {(100, "d9", "r0"), (101, "d9", "r1")}
    # pruning on the OLD spec's column: old-layout entries prune by
    # their own path component; new-layout entries are kept
    # (conservative) and the trailing filter corrects
    norm, _ = t._normalize_predicate(m2, ("day", "d0", "d0"))
    kept = t._dir_prune(m2, m2["dirs"], ("day", "d0", "d0"), norm)
    assert all("day=d1" not in e for e in kept)
    assert any("day=d0" in e for e in kept)
    assert sorted(
        r.k for r in t.read(where=("day", "d0", "d0")).collect()
    ) == [i for i in range(12) if i % 2 == 0]
    # pruning on the NEW spec's column symmetric
    norm, _ = t._normalize_predicate(m2, ("region", "r1", "r1"))
    kept = t._dir_prune(m2, m2["dirs"], ("region", "r1", "r1"), norm)
    assert all(
        "region=r0" not in e for e in kept if "day=" not in e
    )
    assert sorted(
        r.k for r in t.read(where=("region", "r1", "r1")).collect()
    ) == [*(i for i in range(12) if i % 3 == 1), 101]
    # DML across the boundary: one delete touches both layouts
    t.delete("k IN (0, 100)")                                   # v3
    assert sorted(r.k for r in t.read().collect()) == [
        *range(1, 12), 101
    ]
    # the alter is invisible to the change feed (data_change=False)
    got = {r.k for r in t.table_changes(0, 2).collect()}
    assert got == {100, 101}  # only the append delivered
    # compact migrates EVERYTHING to the live spec
    t.compact()
    mc = t._manifest(t.latest_version())
    assert all("day=" not in e for e in mc["dirs"])
    assert all("region=" in e for e in mc["dirs"])
    assert sorted(r.k for r in t.read().collect()) == [
        *range(1, 12), 101
    ]
    # restore to the pre-alter snapshot restores spec AND data
    t.restore(0)
    mr = t._manifest(t.latest_version())
    assert mr["partition_cols"] == ["day"]
    assert sorted(r.k for r in t.read().collect()) == list(range(12))
    # validation: unknown columns and duplicate specs refuse
    import pytest

    with pytest.raises(ValueError, match="unknown"):
        t.alter_partitioning(["nope"])
    with pytest.raises(ValueError, match="duplicate"):
        t.alter_partitioning(["day", "day"])


def test_alter_partitioning_unpartition_and_dml_prune(spark, tmp_path):
    """Evolving to the EMPTY spec unpartitions future writes; a
    predicate DML after evolution leaves provably-disjoint entries of
    BOTH layouts untouched (path pruner for the old layout, composing
    with stats for the new)."""
    from scalable_etl_spark.acid import _partition_component

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(8)], "k INT, day STRING"
        ),
        partition_cols=["day"],
    )                                                           # v0
    t.alter_partitioning([])                                    # v1
    t.append(_df(spark, [(100, "d0")], "k INT, day STRING"))    # v2
    m = t._manifest(2)
    assert m["partition_cols"] == []
    assert any("day=" not in e for e in m["dirs"])
    # equality DML on the ex-partition column: old d1 leaves are
    # provably disjoint by PATH and must be untouched
    before = {
        e for e in m["dirs"] if _partition_component(e, "day") == "d1"
    }
    t.delete(F.col("day") == "d0", prune=("day", "d0", "d0"))   # v3
    m3 = t._manifest(3)
    assert before <= set(m3["dirs"]), "disjoint old leaves rewritten"
    assert sorted(r.k for r in t.read().collect()) == [1, 3, 5, 7]
    # merge-on-read DML across mixed layout
    t.append(_df(spark, [(200, "d0")], "k INT, day STRING"))    # v4
    t.delete("k = 3", mode="merge-on-read")                     # v5
    assert sorted(r.k for r in t.read().collect()) == [1, 5, 7, 200]


def test_alter_partitioning_path_name_guards(spark, tmp_path):
    """Rename/re-add refuse column names still carried in live
    entries' directory paths (pre-evolution layouts): a rename would
    resolve the column from old paths; a default-less re-add would
    resurrect path values instead of NULL. A default makes the re-add
    safe (evolution fill overrides), and compact() lifts the guards."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "d0", "x"), (2, "d1", "y")], "k INT, day STRING, v STRING"
        ),
        partition_cols=["day"],
    )
    t.alter_partitioning([])
    # day is no longer a partition col but lives in old paths
    with pytest.raises(ValueError, match="directory paths"):
        t.alter_rename_column("day", "dy")
    t.alter_drop_column("day")
    # rename INTO a path-carried name: old entries would resolve the
    # renamed column from their paths instead of their files
    with pytest.raises(ValueError, match="directory paths"):
        t.alter_rename_column("v", "day")
    # re-add after the drop: the PRE-EXISTING name-reuse guard
    # refuses while old entries live — path-carried values can never
    # resurrect through add_column either
    with pytest.raises(ValueError, match="carry it physically"):
        t.alter_add_column("day", "STRING")
    # dropping the ex-partition column works: old entries' path
    # components simply stop being selected
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "x"), (2, "y")
    }
    # compact migrates old layouts away and lifts the guards
    t.compact()
    t.alter_add_column("day", "STRING")
    assert {r.day for r in t.read().collect()} == {None}
    t.alter_rename_column("day", "dy")  # no path carries it anymore


def test_reorg_purges_stale_names_and_dvs(spark, tmp_path):
    """REORG ... APPLY (PURGE) parity: rewrite ONLY dirty entries —
    files carrying dropped/renamed-away column bytes, or live
    deletion vectors — leaving clean entries byte-identical; the
    name-reuse guard lifts afterwards (drop -> reorg -> re-add is
    legal without column-mapping IDs, the sequence sync_incremental
    replays onto replicas)."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))               # v0
    t.alter_drop_column("v")                                    # v1
    with pytest.raises(ValueError, match="carry it physically"):
        t.alter_add_column("v", "int")
    v = t.reorg()                                               # v2
    m = t._manifest(v)
    assert m["data_change"] is False  # invisible to the change feed
    # every entry carried the dropped bytes: all rewritten
    assert set(m["dirs"]).isdisjoint(t._manifest(0)["dirs"])
    t.alter_add_column("v", "int", default=7)                   # v3
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 7), (2, 7)}

    # partial dirt: only the DV'd entry rewrites, the clean appended
    # entry survives VERBATIM (O(dirty), not O(table))
    t.append(_df(spark, [(3, 9)], "k INT, v INT"))              # v4
    t.delete("k = 1", mode="merge-on-read")                     # v5
    m5 = t._manifest(5)
    dirty = {e for e, us in m5.get("dv", {}).items() if us}
    clean = set(m5["dirs"]) - dirty
    assert dirty and clean
    v6 = t.reorg()
    m6 = t._manifest(v6)
    assert clean <= set(m6["dirs"]), "clean entries rewritten"
    assert dirty.isdisjoint(m6["dirs"]), "DV'd entries kept"
    assert not m6.get("dv"), "suppressions must materialize away"
    assert {(r.k, r.v) for r in t.read().collect()} == {(2, 7), (3, 9)}
    # nothing dirty left: reorg no-ops without committing
    assert t.reorg() == v6

    # a FULLY-suppressed entry still purges (reads as 0 rows but
    # must leave the manifest) — the select path skips the no-match
    # bail that predicate DML uses
    t.delete("k = 3", mode="merge-on-read")
    v8 = t.reorg()
    assert not t._manifest(v8).get("dv")
    assert {r.k for r in t.read().collect()} == {2}
    # time travel still reaches pre-reorg snapshots
    assert {r.k for r in t.read(5).collect()} == {2, 3}


def test_sync_replays_drop_compact_readd(spark, tmp_path):
    """The replica case behind reorg: a source legally reuses a
    dropped column name after rewriting its old bytes away; the
    replica's alter replay hits its OWN name-reuse guard (its entries
    still carry the bytes) and must self-heal by purging exactly the
    dirty entries, then continue the feed — watermark advances, rows
    match, and the re-added column reads the new default everywhere."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(
        spark.createDataFrame(
            [(1, 3, "a"), (2, 4, "b")], "`id` bigint, `k` int, `s` string"
        )
    )
    src.enable_change_data_feed()
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    sync_incremental(src, dst, sync_id="rr", keys=["id"])
    src.alter_drop_column("k")
    src.compact()
    src.alter_add_column("k", "string", default="zz")  # type changes too
    src.append(
        spark.createDataFrame(
            [(3, "c", "live")], "`id` bigint, `s` string, `k` string"
        )
    )
    sync_incremental(src, dst, sync_id="rr", keys=["id"])
    got = {(r.id, r.k, r.s) for r in dst.read().collect()}
    assert got == {(1, "zz", "a"), (2, "zz", "b"), (3, "live", "c")}
    # second sync is a no-op (watermark advanced through the alters)
    v = dst.latest_version()
    sync_incremental(src, dst, sync_id="rr", keys=["id"])
    assert dst.latest_version() == v


def test_mor_delete_races_mor_delete_serializable(spark, tmp_path):
    """Two merge-on-read DELETEs whose predicates overlap the same
    files race on one table (Delta's ConcurrentDeleteDelete shape).
    The loser's rebase recomputes matched positions on the WINNER'S
    snapshot through a DV-applied read, so already-suppressed rows
    cannot match again: stacked deletion vectors carry disjoint
    positions (no double-suppression), the final state equals the
    serial application, and the CDF delete images across the two
    commits partition the deleted rows exactly."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k INT, v STRING"
        )
    )
    t.enable_change_data_feed()
    real_commit = t._commit
    fired = {"done": False}

    def racing_commit(version, manifest):
        if not fired["done"] and manifest["op"] == "delete":
            fired["done"] = True
            # rival: delete evens <= 4 — overlaps our files AND our
            # row set (k=0..4 share files with k=0..6)
            SnapshotTable(spark, root).delete(
                "k <= 4 AND k % 2 = 0", mode="merge-on-read"
            )
        return real_commit(version, manifest)

    t._commit = racing_commit  # type: ignore[method-assign]
    try:
        t.delete("k <= 6", mode="merge-on-read")  # ours
    finally:
        t._commit = real_commit  # type: ignore[method-assign]
    # serial result: rival (k in 0,2,4) then ours (k in 0..6) => 7,8,9
    assert sorted(r.k for r in t.read().collect()) == [7, 8, 9]
    # three versions: overwrite+cdf-prop, rival, ours
    v = t.latest_version()
    assert t._manifest(v)["op"] == "delete"
    assert t._manifest(v - 1)["op"] == "delete"
    # stacked DVs: positions are DISJOINT across the two sidecars
    m = t._manifest(v)
    uuids = sorted({u for us in m["dv"].values() for u in us})
    assert len(uuids) == 2
    pos = t._dv_frame(uuids).collect()
    pairs = [(r[0], r[1]) for r in pos]
    assert len(pairs) == len(set(pairs)) == 7, "double-suppression"
    # CDF images across the two commits partition the deleted rows
    imgs = (
        t.table_changes(v - 2, to_version=v, change_feed=True)
        .filter("_change_type = 'delete'")
        .collect()
    )
    assert sorted(r.k for r in imgs) == [0, 1, 2, 3, 4, 5, 6]


def test_mor_update_races_mor_delete_no_resurrect(spark, tmp_path):
    """A merge-on-read UPDATE races a merge-on-read DELETE that wins
    and removes part of the update's matched set. The update appends
    post-images — if the loser committed images computed on the STALE
    snapshot, the deleted rows would resurrect. The rebase must
    recompute both the positions and the post-images on the winner's
    snapshot: deleted rows stay deleted, surviving matches update."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(
        spark.createDataFrame(
            [(i, 0) for i in range(8)], "k INT, n INT"
        )
    )
    real_commit = t._commit
    fired = {"done": False}

    def racing_commit(version, manifest):
        if not fired["done"] and manifest["op"] == "update":
            fired["done"] = True
            SnapshotTable(spark, root).delete(
                "k < 4", mode="merge-on-read"
            )
        return real_commit(version, manifest)

    t._commit = racing_commit  # type: ignore[method-assign]
    try:
        t.update("k % 2 = 0", {"n": "n + 100"}, mode="merge-on-read")
    finally:
        t._commit = real_commit  # type: ignore[method-assign]
    # serial: delete k<4 first, then update surviving evens (4, 6)
    got = sorted((r.k, r.n) for r in t.read().collect())
    assert got == [(4, 100), (5, 0), (6, 100), (7, 0)], got
    # ... and the raced update's history version agrees (no stale
    # post-image entry resurrecting k=0/2 at ANY readable snapshot)
    v = t.latest_version()
    assert t._manifest(v)["op"] == "update"
    assert sorted(r.k for r in t.read(v - 1).collect()) == [4, 5, 6, 7]


def test_mor_dml_threaded_race_serializable(spark, tmp_path):
    """REAL concurrency: four threads fire merge-on-read DMLs with
    overlapping predicates at one table. Whatever interleaving the
    scheduler picks, the committed history must be SOME serial order:
    replaying each committed op (read from the manifests, in version
    order) against a Python model of the table must reproduce
    read() exactly — stacked DVs under real races neither
    double-suppress nor resurrect."""
    import threading

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(
        spark.createDataFrame(
            [(i, 0) for i in range(24)], "k INT, n INT"
        )
    )
    # op name -> (python effect on model dict {k: n})
    ops = {
        "del_third": ("delete", "k % 3 = 0",
                      lambda rows: {k: n for k, n in rows.items()
                                    if k % 3 != 0}),
        "del_band": ("delete", "k >= 6 AND k < 14",
                     lambda rows: {k: n for k, n in rows.items()
                                   if not (6 <= k < 14)}),
        "upd_even": ("update", "k % 2 = 0",
                     lambda rows: {k: (n + 100 if k % 2 == 0 else n)
                                   for k, n in rows.items()}),
        "upd_high": ("update", "k >= 10",
                     lambda rows: {k: (n + 1 if k >= 10 else n)
                                   for k, n in rows.items()}),
    }
    errors = []

    def run(name):
        kind, pred, _eff = ops[name]
        try:
            w = SnapshotTable(spark, root)
            if kind == "delete":
                w.delete(pred, mode="merge-on-read")
            else:
                w.update(pred, {"n": "n + 100"}
                         if name == "upd_even" else {"n": "n + 1"},
                         mode="merge-on-read")
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append((name, exc))

    threads = [threading.Thread(target=run, args=(n,)) for n in ops]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # replay the COMMITTED order against the model; ops are tagged in
    # the manifests only by kind, so recover which-was-which from the
    # CDF-free environment via each version's dv/entry delta is
    # overkill — instead assert against EVERY serial order consistent
    # with the commit sequence of kinds, of which the true one must
    # be reproduced by the per-version replay below.
    import itertools

    final = {r.k: r.n for r in t.read().collect()}
    kinds = [
        t._manifest(v)["op"]
        for v in range(1, t.latest_version() + 1)
    ]
    assert sorted(kinds) == ["delete", "delete", "update", "update"]
    names = list(ops)
    matched_orders = []
    for perm in itertools.permutations(names):
        if [ops[n][0] for n in perm] != kinds:
            continue
        rows = {i: 0 for i in range(24)}
        for n in perm:
            rows = ops[n][2](rows)
        if rows == final:
            matched_orders.append(perm)
    assert matched_orders, (final, kinds)


def test_clone_zero_copy_divergence(spark, tmp_path):
    """SHALLOW-CLONE parity with hardlink durability: the clone is
    zero-copy (shared inodes), reads the pinned snapshot exactly
    (incl. live deletion vectors and evolution fills), diverges both
    ways after the clone point, survives a SOURCE vacuum, and starts
    its txn ledger fresh (the source's stream/sync watermarks must
    not leak into the clone's exactly-once gates)."""
    import os

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))      # v0
    src.alter_add_column("tag", "string", default="t")             # v1
    src.append(
        spark.createDataFrame([(4, "d", "x")], "k INT, v STRING, tag STRING")
    )                                                              # v2
    src.delete("k = 2", mode="merge-on-read")                      # v3 (DV)
    src.add_constraint("pos_k", "k > 0")                           # v4

    t = src.clone(str(tmp_path / "c"))
    assert t.latest_version() == 0
    assert t._manifest(0)["op"] == "clone_v4"
    want = {(1, "a", "t"), (3, "c", "t"), (4, "d", "x")}
    assert {(r.k, r.v, r.tag) for r in t.read().collect()} == want
    # zero-copy: every cloned parquet shares an inode with the source
    for walk_root, _sub, files in os.walk(t.data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                assert os.stat(os.path.join(walk_root, fn)).st_nlink >= 2
    # constraints carried: a violating append aborts on the clone
    import pytest

    from scalable_etl_spark.acid import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame([(-1, "z", "x")],
                                  "k INT, v STRING, tag STRING")
        )
    # txn ledger CARRIED (Delta clone parity — see
    # test_clone_carries_txn_exactly_once for the behavioral check)
    assert t._txn_of(0) == src._txn_of(src.latest_version())
    # divergence: clone mutates, source unaffected — and vice versa
    t.delete("k = 1")
    src.append(
        spark.createDataFrame([(9, "i", "y")], "k INT, v STRING, tag STRING")
    )
    assert {r.k for r in t.read().collect()} == {3, 4}
    assert {r.k for r in src.read().collect()} == {1, 3, 4, 9}
    # hardlink durability: compact + vacuum the SOURCE until the
    # cloned-from dirs are gone from the source tree; clone still reads
    src.compact()
    src.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert {r.k for r in t.read().collect()} == {3, 4}
    # clone a HISTORICAL version
    t0 = src.clone(str(tmp_path / "c0"), version=src.latest_version())
    assert {r.k for r in t0.read().collect()} == {1, 3, 4, 9}
    # refuse clobbering an existing table
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "c"))


def test_clone_vacuum_and_discard(spark, tmp_path):
    """The branch lifecycle: a clone compacts and vacuums its SHARED
    (hardlinked) entries away without touching the source — unlink
    removes the clone's name, the source keeps its own link to the
    same inode. Deleting the whole branch directory is equally safe:
    branch, mutate, measure, DISCARD."""
    import os
    import shutil

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(_df(spark, [(i, f"v{i}") for i in range(8)]))
    t = src.clone(str(tmp_path / "c"))
    t.compact()                          # branch rewrites into own files
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    # the shared entries are gone from the BRANCH tree only
    src_files = {
        fn
        for w, _s, fs in os.walk(src.data_dir)
        for fn in fs if fn.endswith(".parquet")
    }
    assert src_files, "source lost its files to a branch vacuum"
    assert {r.k for r in src.read().collect()} == set(range(8))
    assert {r.k for r in t.read().collect()} == set(range(8))
    # full discard
    shutil.rmtree(str(tmp_path / "c"))
    assert {r.k for r in src.read().collect()} == set(range(8))


def test_reorg_migrates_dirty_entries_to_live_spec(spark, tmp_path):
    """reorg under MIXED layouts: dirty entries (here: carrying a
    dropped column's bytes) rewrite under the LIVE partition spec —
    the same migrate-on-rewrite contract as compact/DML — while clean
    old-layout entries keep their layout verbatim."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "d0", "x"), (2, "d1", "y")],
            "k INT, day STRING, v STRING",
        ),
        partition_cols=["day"],
    )                                                    # v0: day= layout
    t.alter_partitioning([])                             # v1
    t.append(
        spark.createDataFrame(
            [(3, "d0", "z")], "k INT, day STRING, v STRING"
        )
    )                                                    # v2: flat entry
    t.alter_drop_column("v")                             # v3: ALL entries dirty
    v = t.reorg()                                        # v4
    m = t._manifest(v)
    # every rewritten entry is under the live (empty) spec: no day= path
    assert all("day=" not in e for e in m["dirs"]), m["dirs"]
    assert {(r.k, r.day) for r in t.read().collect()} == {
        (1, "d0"), (2, "d1"), (3, "d0")
    }
    # and the ex-partition path guard lifts: day is renameable now
    t.alter_rename_column("day", "d")
    assert {r.d for r in t.read().collect()} == {"d0", "d1"}


def test_clone_carries_txn_exactly_once(spark, tmp_path):
    """Delta-clone parity on transaction state: cloning a sync
    DESTINATION and resuming the same sync_id against the clone must
    CONTINUE exactly-once from the carried watermark — not re-backfill
    rows the clone already holds (the silent-duplication failure a
    dropped ledger would cause)."""
    from collections import Counter

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "`id` bigint, `v` string"
        )
    )
    src.enable_change_data_feed()
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    sync_incremental(src, dst, sync_id="mig", keys=["id"])
    # migrate the replica: branch it, keep syncing into the BRANCH
    branch = dst.clone(str(tmp_path / "d2"))
    src.append(
        spark.createDataFrame([(3, "c")], "`id` bigint, `v` string")
    )
    sync_incremental(src, branch, sync_id="mig", keys=["id"])
    got = Counter((r.id, r.v) for r in branch.read().select("id", "v").collect())
    assert got == Counter({(1, "a"): 1, (2, "b"): 1, (3, "c"): 1}), got


def test_vacuum_intent_markers_protect_inflight_writer(spark, tmp_path):
    """Commit-intent markers close the vacuum/in-flight-writer race
    the age gate only narrowed: a writer's staged-but-uncommitted
    data dir survives vacuum(min_age_seconds=0) because its intent
    marker landed BEFORE the dir; after the commit the dir is
    manifest-referenced and its marker is gone."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a")], "k INT, v STRING")
    )
    w = SnapshotTable(spark, str(tmp_path / "t"))  # rival writer
    # stage the writer's dir exactly as append does, but pause
    # BEFORE the manifest commit — the mid-commit window
    staged = w._write_data_entries(
        spark.createDataFrame([(2, "b")], "k INT, v STRING"), []
    )
    d = staged[0]
    assert os.path.isfile(os.path.join(w.intents_dir, d))
    removed = t.vacuum(min_age_seconds=0)
    assert d not in removed, "vacuum deleted an in-flight writer's dir"
    assert os.path.isdir(os.path.join(w.data_dir, d))
    # the writer's commit then lands and reads complete
    m = w._manifest(w.latest_version())
    manifest = {
        "op": "append",
        "dirs": [*m["dirs"], *staged],
        "schema": m["schema"],
        "partition_cols": m["partition_cols"],
        "stats": {},
        "file_stats": {},
        "txn": {},
        "evolution": [],
        "timestamp": __import__("time").time(),
    }
    assert w._commit(w.latest_version() + 1, manifest)
    assert not os.path.isfile(os.path.join(w.intents_dir, d))
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_vacuum_reclaims_crashed_writer_after_stale_window(
    spark, tmp_path
):
    """A crashed writer's marker stops refreshing: once both marker
    and dir age past the retention window, vacuum drops the marker
    and reclaims the orphan — intent protection is for LIVE writers,
    not leaks."""
    import os
    import time as _time

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    w = SnapshotTable(spark, str(tmp_path / "t"))
    staged = w._write_data_entries(
        spark.createDataFrame([(2, "b")], "k INT, v STRING"), []
    )
    d = staged[0]
    # backdate marker + dir past the stale window (crash simulation)
    old = _time.time() - 7200
    os.utime(os.path.join(w.intents_dir, d), (old, old))
    root = os.path.join(w.data_dir, d)
    for walk_root, subdirs, files in os.walk(root, topdown=False):
        for name in (*subdirs, *files):
            os.utime(os.path.join(walk_root, name), (old, old))
    os.utime(root, (old, old))
    removed = t.vacuum(min_age_seconds=0)
    assert d in removed
    assert not os.path.isdir(root)
    assert not os.path.isfile(os.path.join(w.intents_dir, d))


def test_merge_on_non_first_key_keeps_schema_order(spark, tmp_path):
    """Round-15 review: Spark's USING joins emit join keys FIRST, so
    a MERGE keyed on a non-first column used to commit a PERMUTED
    schema (and canonical reads followed it forever after). Both
    modes must preserve the table's column order."""
    for mode in ("copy-on-write", "merge-on-read"):
        t = SnapshotTable(spark, str(tmp_path / f"t_{mode[:3]}"))
        t.overwrite(
            _df(
                spark,
                [(i, 100 + i, f"v{i}") for i in range(5)],
                "a INT, k INT, v STRING",
            )
        )
        t.merge(
            _df(spark, [(9, 103, "m")], "a INT, k INT, v STRING"),
            ["k"],
            mode=mode,
        )
        assert t.read().columns == ["a", "k", "v"], mode
        got = {r.k: (r.a, r.v) for r in t.read().collect()}
        assert got[103] == (9, "m"), mode


def test_vacuum_spares_slow_writer_with_stale_marker(spark, tmp_path):
    """Review fix (round 15): a writer whose DATA WRITE outlasts the
    stale window before its first commit attempt has a stale marker
    but FRESH file mtimes — vacuum must treat it as alive, not as a
    crashed writer's orphan."""
    import os
    import time as _time

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    w = SnapshotTable(spark, str(tmp_path / "t"))
    staged = w._write_data_entries(
        spark.createDataFrame([(2, "b")], "k INT, v STRING"), []
    )
    d = staged[0]
    # marker is old (writer never reached _commit)…
    old = _time.time() - 7200
    os.utime(os.path.join(w.intents_dir, d), (old, old))
    # …but the dir's files are fresh (the write is still producing)
    assert t.vacuum(min_age_seconds=0) == []
    assert os.path.isdir(os.path.join(w.data_dir, d))


def test_vacuum_zero_age_under_live_concurrent_writers(spark, tmp_path):
    """Threaded end-to-end race: real appends racing a
    vacuum(min_age_seconds=0) loop must lose no committed rows —
    the intent markers carry each staged dir across its mid-commit
    window."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(0, 0)], "k INT, b INT"))
    stop = threading.Event()
    errs: list = []

    def vacuum_loop():
        w = SnapshotTable(spark, str(tmp_path / "t"))
        while not stop.is_set():
            try:
                w.vacuum(retain_versions=1, min_age_seconds=0)
            except Exception as exc:  # pragma: no cover
                errs.append(exc)
                return

    th = threading.Thread(target=vacuum_loop)
    th.start()
    try:
        for i in range(1, 6):
            t.append(spark.createDataFrame([(i, i)], "k INT, b INT"))
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 3, 4, 5]


def test_in_predicate_disjunction_skipping(spark, tmp_path):
    """read(where=In(col, values)) — DISJUNCTION data skipping in ONE
    plan: keeps a file when ANY value's range/bloom probe passes,
    never more files than the sum of per-value point reads, and the
    trailing isin filter makes results exact. Composes with a range
    predicate (conjunction), with bloom point probes, and stays
    CONSERVATIVE when any value cannot normalize."""
    import pytest

    from scalable_etl_spark.acid import In

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(400)], "k INT, v STRING"
        ),
        cluster_by=["k"],
        n_files=8,
        bloom_cols=["k"],
    )
    full = len(t.read().inputFiles())
    r = t.read(where=In("k", [3, 250, 399]))
    assert sorted(x.k for x in r.collect()) == [3, 250, 399]
    n_in = len(r.inputFiles())
    per_val = sum(
        len(t.read(where=("k", x, x)).inputFiles())
        for x in (3, 250, 399)
    )
    assert n_in <= per_val < full
    # conjunction: the range leg drops value 399's file again
    r2 = t.read(where=[In("k", [3, 250, 399]), ("k", 0, 300)])
    assert sorted(x.k for x in r2.collect()) == [3, 250]
    assert len(r2.inputFiles()) <= n_in
    # an In on a stat-less column cannot prune but stays correct
    r3 = t.read(where=In("v", ["v7", "v300"]))
    assert sorted(x.k for x in r3.collect()) == [7, 300]
    assert len(r3.inputFiles()) == full
    # malformed spellings raise loudly
    with pytest.raises(ValueError, match="non-empty"):
        In("k", [])


def test_in_predicate_partition_and_zorder_composition(spark, tmp_path):
    """In composes with partition-path equality pruning (only the
    listed partitions' files are opened) and with z-order layouts
    (the point set intersects per-file Morton ranges on BOTH
    dimensions when combined with a range)."""
    from scalable_etl_spark.acid import In

    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"p{i % 4}") for i in range(40)], "k INT, p STRING"
        ),
        partition_cols=["p"],
    )
    r = t.read(where=In("p", ["p1", "p3"]))
    assert sorted({x.p for x in r.collect()}) == ["p1", "p3"]
    assert all(
        "p=p1" in f or "p=p3" in f for f in r.inputFiles()
    )
    z = SnapshotTable(spark, str(tmp_path / "z"))
    z.overwrite(
        spark.createDataFrame(
            [(i, (i * 37) % 400) for i in range(400)], "a INT, b INT"
        ),
        cluster_by=["a", "b"],
        n_files=16,
        zorder=True,
    )
    full = len(z.read().inputFiles())
    rz = z.read(where=[In("a", [5, 350]), ("b", 0, 200)])
    want = sorted(
        (i, (i * 37) % 400)
        for i in (5, 350)
        if (i * 37) % 400 <= 200
    )
    assert sorted((x.a, x.b) for x in rz.collect()) == want
    assert len(rz.inputFiles()) < full


def test_in_predicate_distributed_planning(spark, tmp_path):
    """The executor-side sidecar planning job evaluates the same
    any-alternative survival rule as the driver path."""
    from scalable_etl_spark.acid import In

    t = SnapshotTable(
        spark, str(tmp_path / "d"), parquet_checkpoints=True
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, i) for i in range(400)], "k INT, s INT"
        ),
        cluster_by=["k"],
        n_files=8,
    )
    r = t.read(where=In("k", [7, 390]), planning="distributed")
    assert sorted(x.k for x in r.collect()) == [7, 390]
    assert len(r.inputFiles()) == len(
        t.read(where=In("k", [7, 390])).inputFiles()
    )


def test_clone_carry_txn_false_starts_fresh(spark, tmp_path):
    """clone(carry_txn=False) — the EXPERIMENT-branch spelling: the
    clone's v0 carries NO transaction ledger, so a brand-new pipeline
    pointed at the branch cannot inherit the source's watermarks and
    silently skip its first batches (in Delta terms the default
    carry is a DEEP-clone behavior; this is the shallow one)."""
    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(
        spark.createDataFrame([(1, "a")], "`id` bigint, `v` string")
    )
    src.enable_change_data_feed()
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    sync_incremental(src, dst, sync_id="mig", keys=["id"])
    assert dst._txn_of(dst.latest_version())  # ledger exists to drop
    branch = dst.clone(str(tmp_path / "d2"), carry_txn=False)
    assert branch._txn_of(0) == {}
    # data/stats/schema still carried — only the ledger starts fresh
    assert sorted(
        (r.id, r.v) for r in branch.read().collect()
    ) == [(1, "a")]


def test_read_where_flat_list_is_single_predicate(spark, tmp_path):
    """A flat ["col", lo, hi] list is ONE predicate, not a list of
    predicates (used to die with a confusing unpack error deep in
    _normalize_predicate); malformed predicates raise a clear
    ValueError instead of something cryptic downstream."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k INT, v STRING"
        ),
        stats_cols=["k"],
    )
    assert sorted(
        r.k for r in t.read(where=["k", 3, 5]).collect()
    ) == [3, 4, 5]
    assert sorted(
        r.k for r in t.read(where=("k", 3, 5)).collect()
    ) == [3, 4, 5]
    with pytest.raises(ValueError, match="col, lo, hi"):
        t.read(where=[("k", 3)])
    with pytest.raises(ValueError, match="col, lo, hi"):
        t.read(where=[(3, "k", 5)])


def test_path_prune_composes_with_typed_stats(spark, tmp_path):
    """Round-14 review fix: an equality prune whose value is the
    PATH-RENDERED string ('5' for int k) must compose with typed
    footer stats conservatively — incomparable types keep the dir —
    instead of raising TypeError inside the stats pruner. This is the
    documented compact_partition usage ('pass the partition value as
    the string Spark wrote') on a table that evolved its spec onto a
    stats'd int column."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(9)], "k INT, v STRING"
        ),
        stats_cols=["k"],
    )
    t.alter_partitioning(["k"])
    t.append(_df(spark, [(5, "x")], "k INT, v STRING"))
    t.compact_partition("k", "5")  # raised TypeError before the fix
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(
        [(i, f"v{i}") for i in range(9)] + [(5, "x")]
    )
    # read-side file skipping with the same mismatch stays usable too
    assert t.read(where=("k", "5", "5")).count() >= 0


def test_dv_sweep_clears_fully_suppressed_partition(spark, tmp_path):
    """Round-14 review fix: maybe_compact(max_dvs=...) under the
    per-partition policy must converge even when a partition is
    FULLY suppressed by its deletion vector (reads as 0 rows): the
    empty partition rewrite IS the materialization. Before the fix
    the zero-row bail skipped the commit and the sweep re-ran its
    Spark job forever without progress."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "k INT, p STRING"
        ),
        partition_cols=["p"],
    )
    t.delete("p = 'a'", mode="merge-on-read")
    t.maybe_compact(max_dvs=0, partition_max_files=64)
    m = t._manifest(t.latest_version())
    assert not m.get("dv"), "sweep left live deletion vectors"
    assert sorted(r.k for r in t.read().collect()) == [3]
    # a predicate DML's no-match bail is UNCHANGED: no empty commits
    v = t.latest_version()
    assert t.delete("k = 999") == v


def test_alter_partitioning_rejects_non_atomic_types(spark, tmp_path):
    """Partitionability is validated at ALTER time (Delta/Iceberg
    parity): committing a spec on an array column would brick every
    future write inside Spark's partitionBy."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, [0.5, 0.5])], "k INT, emb ARRAY<DOUBLE>"
        )
    )
    with pytest.raises(ValueError, match="non-atomic"):
        t.alter_partitioning(["emb"])
    t.alter_partitioning(["k"])  # atomic: fine
    t.append(spark.createDataFrame([(2, [1.0])], "k INT, emb ARRAY<DOUBLE>"))
    assert t.read().count() == 2


def test_read_conjunction_skipping_on_zorder(spark, tmp_path):
    """read(where=[(c1,...), (c2,...)]) skips on the CONJUNCTION —
    the read side of zorder clustering: per-file ranges are selective
    on EVERY clustered column, and a two-predicate read must open
    fewer files than either single-predicate read while returning
    exactly the AND of the filters."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = [(i, (i * 37) % 100, f"v{i}") for i in range(400)]
    t.overwrite(
        spark.createDataFrame(rows, "a INT, b INT, v STRING"),
        cluster_by=["a", "b"],
        n_files=16,
        zorder=True,
    )
    got = sorted(
        (r.a, r.b)
        for r in t.read(where=[("a", 0, 30), ("b", 0, 30)]).collect()
    )
    assert got == sorted(
        (a, b) for a, b, _v in rows if a <= 30 and b <= 30
    )
    n_all = len(t.read().inputFiles())
    n_a = len(t.read(where=("a", 0, 30)).inputFiles())
    n_ab = len(t.read(where=[("a", 0, 30), ("b", 0, 30)]).inputFiles())
    assert n_a < n_all, "single-dim skipping regressed"
    assert n_ab < n_a, (n_all, n_a, n_ab)
    # bloom point-probes compose inside a conjunction too
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(
        spark.createDataFrame(rows, "a INT, b INT, v STRING"),
        cluster_by=["a"],
        n_files=8,
        bloom_cols=["v"],
    )
    got2 = [
        (r.a, r.v)
        for r in t2.read(where=[("a", 0, 399), ("v", "v7", "v7")]).collect()
    ]
    assert got2 == [(7, "v7")]
    n_point = len(
        t2.read(where=[("a", 0, 399), ("v", "v7", "v7")]).inputFiles()
    )
    assert n_point < len(t2.read().inputFiles())


def test_clone_retry_after_crash_stays_zero_copy(spark, tmp_path):
    """A clone that crashed between hardlinking and its v0 commit
    leaves data files but no manifest (exists() is False, so retrying
    the same target is legal). The retry must succeed AND stay
    zero-copy — leftover links are recognized by inode and reused,
    not degraded into byte copies via the EEXIST fallback."""
    import os

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(_df(spark, [(i, f"v{i}") for i in range(6)]))
    target = str(tmp_path / "c")
    # simulate the crash: run the link phase, never commit
    crashed = SnapshotTable(spark, target)
    m = src._manifest(0)
    for e in m["dirs"]:
        sbase = os.path.join(src.data_dir, e)
        dbase = os.path.join(crashed.data_dir, e)
        for walk_root, _sub, files in os.walk(sbase):
            rel = os.path.relpath(walk_root, sbase)
            dd = os.path.join(dbase, rel) if rel != "." else dbase
            os.makedirs(dd, exist_ok=True)
            for fn in files:
                os.link(os.path.join(walk_root, fn), os.path.join(dd, fn))
    assert not crashed.exists()
    t = src.clone(target)  # retry over the leftovers
    assert {r.k for r in t.read().collect()} == set(range(6))
    for walk_root, _sub, files in os.walk(t.data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(walk_root, fn))
                assert st.st_nlink >= 2, "crash retry degraded to a copy"


def test_read_conjunction_with_partition_and_dv(spark, tmp_path):
    """Conjunction reads compose with BOTH orthogonal read-path
    features: a partition-column equality leg prunes entries by PATH
    while the other legs prune by stats, and on a merge-on-read table
    the deletion-vector suppression still applies to the conjunction's
    surviving scans — no resurrect, no over-prune."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = [(i, f"p{i % 3}", i * 10) for i in range(60)]
    t.overwrite(
        spark.createDataFrame(rows, "k INT, p STRING, val INT"),
        partition_cols=["p"],
        stats_cols=["k", "val"],
    )
    t.delete("k % 10 = 0", mode="merge-on-read")  # DVs on all leaves
    conj = [("p", "p1", "p1"), ("k", 0, 30), ("val", 0, 250)]
    got = sorted(r.k for r in t.read(where=conj).collect())
    want = sorted(
        k for k, p, val in rows
        if p == "p1" and k <= 30 and val <= 250 and k % 10 != 0
    )
    assert got == want, (got, want)
    # the partition leg really pruned: only p=p1 DATA entries in the
    # plan (the deletion-vector sidecar scan rides along by design)
    files = [
        f for f in t.read(where=conj).inputFiles()
        if "_deletion_vectors" not in f
    ]
    assert files and all("p=p1" in f for f in files)
    # three-leg conjunction also works with a bloom point probe
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(
        spark.createDataFrame(rows, "k INT, p STRING, val INT"),
        cluster_by=["k"],
        n_files=6,
        bloom_cols=["p"],
    )
    got2 = sorted(
        r.k
        for r in t2.read(
            where=[("k", 10, 50), ("p", "p2", "p2"), ("val", 0, 500)]
        ).collect()
    )
    assert got2 == sorted(
        k for k, p, val in rows
        if 10 <= k <= 50 and p == "p2" and val <= 500
    )


def test_clone_during_concurrent_writes_is_a_snapshot(spark, tmp_path):
    """Clones taken WHILE a writer mutates the source must each be a
    faithful copy of SOME committed snapshot (clone pins a manifest
    then links immutable entries — a torn clone mixing two versions'
    rows would violate snapshot isolation). The writer appends
    monotone batches, so snapshot identity is checkable from row
    contents alone."""
    import threading

    root = str(tmp_path / "s")
    src = SnapshotTable(spark, root)
    src.overwrite(_df(spark, [(0, "b0")]))
    stop = threading.Event()
    errors = []

    def writer():
        w = SnapshotTable(spark, root)
        try:
            for i in range(1, 9):
                w.append(_df(spark, [(i, f"b{i}")]))
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)
        finally:
            stop.set()

    th = threading.Thread(target=writer)
    th.start()
    clones = []
    n = 0
    while not stop.is_set() and n < 6:
        try:
            clones.append(src.clone(str(tmp_path / f"c{n}")))
            n += 1
        except FileNotFoundError:
            pass  # entry vacuumed/raced away mid-link: loud, retryable
    th.join()
    assert not errors, errors
    assert clones, "no clone completed during the write storm"
    for c in clones:
        got = sorted(r.k for r in c.read().collect())
        # a snapshot = exactly the batches 0..max(k) — no holes, no
        # rows from a version the pinned manifest predates
        assert got == list(range(got[-1] + 1)), got


def test_sync_from_cloned_source(spark, tmp_path):
    """A zero-copy clone works as a fresh CDC SOURCE: the carried
    enableChangeDataFeed property records images for the branch's own
    DML from commit 1 on, and a replica synced off the branch
    backfills its v0 snapshot then follows keyed changes exactly —
    the branch-then-derive pattern a curation experiment uses."""
    from collections import Counter

    from scalable_etl_spark.acid import sync_incremental

    src = SnapshotTable(spark, str(tmp_path / "s"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "`id` bigint, `v` string"
        )
    )
    src.enable_change_data_feed()
    branch = src.clone(str(tmp_path / "b"))
    assert branch.properties(0).get("enableChangeDataFeed") == "true"
    replica = SnapshotTable(spark, str(tmp_path / "r"))
    sync_incremental(branch, replica, sync_id="exp", keys=["id"])
    # branch-side DML replicates; source-side DML must not
    branch.merge(
        spark.createDataFrame([(2, "B!"), (4, "d")], "`id` bigint, `v` string"),
        ["id"],
    )
    branch.delete("id = 1", mode="merge-on-read")
    src.append(spark.createDataFrame([(9, "z")], "`id` bigint, `v` string"))
    sync_incremental(branch, replica, sync_id="exp", keys=["id"])
    got = Counter((r.id, r.v) for r in replica.read().select("id", "v").collect())
    assert got == Counter(
        {(2, "B!"): 1, (3, "c"): 1, (4, "d"): 1}
    ), got


def test_clone_chain_and_branch_reorg_never_touch_shared_files(spark, tmp_path):
    """Branch-of-branch chains work (each clone pins its parent's
    snapshot), and maintenance on a branch (reorg materializing its
    carried deletion vectors) writes NEW branch-local files — the
    hardlink-shared bytes are immutable, so the parent and grandparent
    read back byte-identically afterwards."""
    import hashlib
    import os

    a = SnapshotTable(spark, str(tmp_path / "a"))
    a.overwrite(_df(spark, [(i, f"v{i}") for i in range(8)]))
    a.delete("k = 5", mode="merge-on-read")  # live DV rides the clones

    def digest(t):
        out = {}
        for w, _s, fs in os.walk(t.data_dir):
            for fn in fs:
                p = os.path.join(w, fn)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, t.data_dir)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    b = a.clone(str(tmp_path / "b"))
    c = b.clone(str(tmp_path / "c"))  # chain: clone of a clone
    want = {(i, f"v{i}") for i in range(8) if i != 5}
    for t in (a, b, c):
        assert {(r.k, r.v) for r in t.read().collect()} == want
    a_before, b_before = digest(a), digest(b)
    # branch maintenance: c purges its carried DV
    v = c.reorg()
    assert not c._manifest(v).get("dv")
    assert {(r.k, r.v) for r in c.read().collect()} == want
    # the shared bytes are untouched: parents read identically and
    # their files are byte-for-byte what they were
    assert digest(a) == a_before and digest(b) == b_before
    for t in (a, b):
        assert {(r.k, r.v) for r in t.read().collect()} == want


def _data_scan_leaves(t, df) -> int:
    """Leaves of ``df``'s optimized plan that scan ``t``'s data files
    (deletion-vector sidecar scans are leaves too, and are left out)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        roots = leaves.apply(i).relation().location().rootPaths()
        n += t.data_dir in roots.head().toString()
    return n


def test_pruned_read_matches_filtered_full_read_across_entry_kinds(
    spark, tmp_path
):
    """Characterization of the snapshot scan over one table whose live
    entries differ in every way the scan handles per entry: a
    compacted entry with materialized row ids, entries that predate a
    rename, hive-partitioned entries, merge-on-read deletion vectors
    on all of them, and a clustered entry that ``where`` prunes only at
    file level. A pruned ``read(where=...)`` returns exactly the
    unpruned ``read()`` filtered the same way, in the same column
    order, with and without row ids, and its plan holds one data scan
    per surviving entry."""
    from scalable_etl_spark.acid import In

    schema = "k INT, v STRING, p STRING"
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(k, f"v{k}", "a") for k in range(10)], schema))
    t.enable_row_tracking()
    t.compact()  # one entry with physically materialized row ids
    t.append(
        spark.createDataFrame([(k, f"v{k}", "a") for k in range(10, 20)],
                              schema),
        stats_cols=["k"],
    )
    t.alter_rename_column("v", "w")  # the two entries above predate it
    renamed = "k INT, w STRING, p STRING"
    t.alter_partitioning(["p"])
    t.append(spark.createDataFrame(
        [(k, f"w{k}", "x" if k % 2 else "y") for k in range(20, 30)],
        renamed))
    t.alter_partitioning([])
    t.append(
        spark.createDataFrame([(k, f"w{k}", "b") for k in range(30, 60)],
                              renamed),
        cluster_by=["k"], n_files=3,  # per-file k ranges: 30s/40s/50s
    )
    t.delete("k % 7 = 0", mode="merge-on-read")
    m = t._manifest(t.latest_version())
    assert len(m["dirs"]) == 5
    assert sum("/p=" in d for d in m["dirs"]) == 2
    assert len(m["row_mat"]) == 1 and set(m["dv"]) == set(m["dirs"])

    (fifties,) = [
        f for f, per in m["file_stats"][m["dirs"][-1]].items()
        if per["k"][0] >= 50
    ]
    # each predicate drops the 10..19 entry by its dir stats and the
    # clustered entry's 50s file by its file stats; every other entry
    # carries no stats on k and is kept
    for where, keep in (
        (("k", 25, 37), F.col("k").between(25, 37)),
        (In("k", [3, 25, 36, 44]), F.col("k").isin(3, 25, 36, 44)),
    ):
        for rid in (False, True):
            pruned = t.read(where=where, with_row_ids=rid)
            full = t.read(with_row_ids=rid).filter(keep)
            assert pruned.columns == full.columns
            got = sorted(map(tuple, pruned.collect()))
            assert got and got == sorted(map(tuple, full.collect()))
            assert all(r[0] % 7 for r in got)
            assert _data_scan_leaves(t, pruned) == len(m["dirs"]) - 1
            assert not any(
                f.endswith(fifties) for f in pruned.inputFiles()
            )


def test_uri_roots_rejected_before_any_io(spark, tmp_path, monkeypatch):
    """Tables live on a local filesystem path only. A URI root fails at
    construction: on s3a:// or hdfs:// the driver-side file walks see
    nothing (a merge-on-read delete would commit as a silent no-op),
    and a file: URI would become a relative ./file: directory."""
    import os

    import pytest

    monkeypatch.chdir(tmp_path)
    for root in (
        "s3a://bucket/t",
        "hdfs://namenode:8020/t",
        f"file://{tmp_path}/t",
        f"file:{tmp_path}/t",
    ):
        with pytest.raises(ValueError, match="local filesystem path"):
            SnapshotTable(spark, root)
    assert os.listdir(tmp_path) == []
    # plain absolute and relative paths stay accepted
    SnapshotTable(spark, str(tmp_path / "t")).overwrite(
        _df(spark, [(1, "a")])
    )
    assert SnapshotTable(spark, "t").latest_version() == 0
