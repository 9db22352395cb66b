"""lakehouse_dml: listen drops landed through the reference's ingest path
and kept as three ACID tables (``acid.SnapshotTable``), driven by a
fixed seeded schedule.

- Each drop is renamed into a landing dir and ingested exactly once by
  ``streaming.ingest_available`` into a raw parquet archive partitioned
  by ``user_name`` (the checkpoint is the ledger).
- ``bronze_tx`` takes one ``append`` per drop and is never compacted,
  so its live entries grow through the run.
- ``silver_tx`` has the change data feed on, takes upsert ``merge``s
  keyed ``(user_name, listened_at)`` every third drop and runs
  ``maybe_compact`` after each commit.
- ``gold_tx`` is refreshed by ``table_changes(change_feed=True)`` ->
  affected users -> ``to_gold_user_peaks`` -> one ``merge`` that upserts
  the users' new top days and deletes the days that left their top 3.
- GDPR erasures call ``delete_in("user_name", ...)`` on bronze and silver.
- Reads: a latest-snapshot aggregate (the most frequent op), a ranged
  read with ``where=("listened_at", lo, hi)`` and a time-travel read.

A drop's freshness runs from its rename to the gold merge that covers it.

Why this workload: it puts most of its time in ``acid``, with commits
beside reads, so a commit-side gain that slows reads shows; it also
carries the ``streaming`` ingest and the ``medallion`` transforms, which
the query corpus never touches."""

from __future__ import annotations

import glob
import json
import os
import random
import time

import pyarrow.parquet as pq

from . import gen, oracle
from .common import FAILED, listing, median, tail, tree_bytes

ROWS_PER_DROP = 300
BOOT_DROPS = 2
MERGE_EVERY = 3
ERASE_EVERY = 6
READS_PER_ROUND = 2
TRACED_CYCLES = 1
COMPACT_MAX_FILES = 16


class Lakehouse:
    def __init__(self, ctx, root: str, seed: int):
        from scalable_etl_spark.acid import SnapshotTable

        self.ctx = ctx
        self.staging = os.path.join(root, "staging")
        self.landing = os.path.join(root, "landing")
        self.archive = os.path.join(root, "raw_archive")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.staging)
        os.makedirs(self.landing)
        spark = ctx.spark
        self.bronze = SnapshotTable(spark, os.path.join(root, "bronze_tx"))
        self.silver = SnapshotTable(spark, os.path.join(root, "silver_tx"))
        self.gold = SnapshotTable(spark, os.path.join(root, "gold_tx"))
        self.src = gen.ListenSource(seed, ROWS_PER_DROP)
        self.rng = random.Random(seed + 7)
        self.model: list[tuple[str, int]] = []  # live bronze (user, listened_at)
        self.count_at: dict[int, int] = {}  # bronze version -> live rows
        self.pending: list[str] = []  # drop files not yet merged into silver
        self.landed_at: dict[str, float] = {}  # drop file -> rename time
        self.ungolden: list[str] = []  # merged drops gold does not cover yet
        self.freshness: list[float] = []
        self.replay = oracle.DmlReplay()
        self.problems: list[str] = []
        self.n_drops = 0
        self.compactions = 0

    # ---------------------------------------------------------- inputs

    def next_drop(self) -> tuple[str, list[dict]]:
        """Write the next drop to staging and rename it into the landing
        dir; returns the landed path and its valid records."""
        lines, records = self.src.next_drop()
        name = f"drop{self.n_drops:05d}.json"
        self.n_drops += 1
        staged = os.path.join(self.staging, name)
        gen.write_lines(staged, lines)
        path = os.path.join(self.landing, name)
        os.rename(staged, path)
        self.landed_at[path] = time.perf_counter()
        return path, records

    def ingest(self) -> None:
        from scalable_etl_spark.streaming.ingest import ingest_available

        tr = self.ctx.tracer
        before = listing(self.archive) if tr.enabled else {}
        with tr.span("streaming.ingest") as rec:
            ingest_available(self.ctx.spark, self.landing, self.archive, self.ckpt)
        if tr.enabled:
            tr.add("streaming.ingest_s", rec["s"])
            tr.add("streaming.ingest_jobs", rec["jobs"])
            new = [p for p in listing(self.archive) if p not in before and p.endswith(".parquet")]
            tr.add("streaming.files_per_drop", len(new))
            tr.add("streaming.checkpoint_bytes", tree_bytes(self.ckpt))
            tr.add("streaming.backlog_files", len(self.backlog()))

    def backlog(self) -> set[str]:
        """Landed files the checkpoint's source log has not committed."""
        done = set()
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("{"):
                        done.add(os.path.basename(json.loads(line)["path"]))
        return set(os.listdir(self.landing)) - done

    def frame(self, paths):
        from scalable_etl_spark.medallion import flatten_listens, read_listens_json

        return flatten_listens(read_listens_json(self.ctx.spark, paths))

    # ---------------------------------------------------------- commits

    def _commit(self, table, kind: str, fn, *args, **kwargs):
        """Run one committing call inside a span; traced runs also count
        the files and bytes it added under the table root."""
        tr = self.ctx.tracer
        before = listing(table.root) if tr.enabled else None
        with tr.span(f"acid.{kind}") as rec:
            out = fn(*args, **kwargs)
        if tr.enabled and out is not None:
            new = {p: s for p, s in listing(table.root).items() if p not in before}
            log = {p: s for p, s in new.items() if p.startswith("_log")}
            data = [p for p in new if p not in log and p.endswith(".parquet")]
            tr.add("acid.files_per_commit", len(data))
            tr.add("acid.bytes_per_commit", sum(new.values()) - sum(log.values()))
            tr.add("acid.log_bytes_per_commit", sum(log.values()))
        return out, rec

    def bootstrap(self) -> None:
        from scalable_etl_spark.medallion import to_gold_user_peaks, to_silver

        paths = []
        for _ in range(BOOT_DROPS):
            path, records = self.next_drop()
            paths.append(path)
            self.model += [(r["user_name"], r["listened_at"]) for r in records]
        self.ingest()
        v = self.bronze.overwrite(self.frame(paths), stats_cols=["listened_at"])
        self.count_at[v] = len(self.model)
        self.silver.overwrite(to_silver(self.frame(paths)))
        self.silver.enable_change_data_feed()
        self.replay.upsert(paths)
        self.gold_from = self.silver.latest_version()
        self.gold.overwrite(to_gold_user_peaks(self.silver.read()))

    def append(self, path: str, records: list[dict]) -> None:
        tr = self.ctx.tracer
        v, rec = self._commit(
            self.bronze, "append", self.bronze.append,
            self.frame(path), stats_cols=["listened_at"],
        )
        self.model += [(r["user_name"], r["listened_at"]) for r in records]
        self.count_at[v] = len(self.model)
        self.pending.append(path)
        if tr.enabled:
            tr.add("acid.append_s", rec["s"])
            tr.add("acid.append_jobs", rec["jobs"])
            tr.add("acid.live_entries", self.bronze.history()[0]["n_dirs"])

    def merge_silver(self) -> None:
        from scalable_etl_spark.medallion import to_silver

        tr = self.ctx.tracer
        with tr.span("medallion.silver") as srec:
            batch = to_silver(self.frame(self.pending))
        tr.add("medallion.silver_s", srec.get("s", 0))
        _, rec = self._commit(
            self.silver, "merge", self.silver.merge, batch, ["user_name", "listened_at"]
        )
        self.replay.upsert(self.pending)
        self.ungolden += self.pending
        self.pending = []
        tr.add("acid.merge_s", rec.get("s", 0))
        tr.add("acid.merge_jobs", rec.get("jobs", 0))
        if tr.enabled:
            tr.add("medallion.dedup_ratio", self.replay.silver_rows() / max(1, len(self.model)))

    def compact_silver(self) -> None:
        v, rec = self._commit(
            self.silver, "compact", self.silver.maybe_compact, max_files=COMPACT_MAX_FILES
        )
        self.compactions += v is not None
        self.ctx.tracer.add("acid.compact_s", rec.get("s", 0))

    def changed_users(self) -> list[str]:
        tr = self.ctx.tracer
        with tr.span("acid.changes") as rec:
            feed = self.silver.table_changes(self.gold_from, change_feed=True)
            users = sorted(r[0] for r in feed.select("user_name").distinct().collect())
        tr.add("acid.changes_s", rec.get("s", 0))
        return users

    def refresh_gold(self, users: list[str]) -> None:
        from pyspark.sql import functions as F

        from scalable_etl_spark.acid import In
        from scalable_etl_spark.medallion import to_gold_user_peaks

        tr = self.ctx.tracer
        v = self.silver.latest_version()
        if users:
            with tr.span("medallion.gold") as rec:
                fresh = to_gold_user_peaks(self.silver.read(where=In("user_name", users)))
            tr.add("medallion.gold_s", rec.get("s", 0))
            keys = ["user_name", "listened_date"]
            stale = (
                self.gold.read(where=In("user_name", users))
                .join(fresh.select(*keys), keys, "left_anti")
                .withColumn("_drop", F.lit(True))
            )
            batch = fresh.withColumn("_drop", F.lit(False)).unionByName(stale)
            self._commit(
                self.gold, "merge", self.gold.merge, batch, keys,
                delete_where=F.col("_drop"),
            )
        self.gold_from = v
        now = time.perf_counter()
        self.freshness += [now - self.landed_at[p] for p in self.ungolden]
        self.ungolden = []

    def erase(self, user: str) -> None:
        tr = self.ctx.tracer
        for table in (self.bronze, self.silver):
            v, rec = self._commit(table, "delete", table.delete_in, "user_name", [user])
            tr.add("acid.delete_s", rec.get("s", 0))
            tr.add("acid.delete_jobs", rec.get("jobs", 0))
            if table is self.bronze:
                self.model = [m for m in self.model if m[0] != user]
                self.count_at[v] = len(self.model)
        self.replay.erase(user)

    # ---------------------------------------------------------- reads

    def read_latest(self) -> None:
        tr = self.ctx.tracer
        with tr.span("acid.read_plan") as rec:
            df = self.bronze.read()
        if tr.enabled:
            tr.add("acid.read_plan_s", rec["s"])
            tr.add("acid.read_plan_py4j", rec["py4j"])
            # outside any span, so these JVM calls count nowhere
            plan = df._jdf.queryExecution().optimizedPlan()
            tr.add("acid.read_scan_leaves", plan.collectLeaves().size())
        with tr.span("acid.read_exec") as rec:
            rows = df.groupBy("user_name").count().collect()
        tr.add("acid.read_exec_s", rec.get("s", 0))
        got = sum(r["count"] for r in rows)
        if got != len(self.model) or len(rows) != len({m[0] for m in self.model}):
            self.problems.append(
                f"latest read: {got} rows / {len(rows)} users, expected "
                f"{len(self.model)} / {len({m[0] for m in self.model})}"
            )

    def read_range(self) -> None:
        lo = gen.EPOCH0 + self.rng.randrange(gen.SPAN_S - 86400 * 10)
        hi = lo + 86400 * 10
        with self.ctx.tracer.span("acid.skip_read") as rec:
            got = self.bronze.read(where=("listened_at", lo, hi)).count()
        self.ctx.tracer.add("acid.skip_read_s", rec.get("s", 0))
        want = sum(1 for _u, t in self.model if lo <= t <= hi)
        if got != want:
            self.problems.append(f"ranged read [{lo}, {hi}]: {got} rows, expected {want}")

    def read_version(self) -> None:
        versions = sorted(self.count_at)
        v = versions[max(0, len(versions) - 4)]
        with self.ctx.tracer.span("acid.time_travel_read") as rec:
            got = self.bronze.read(version=v).count()
        self.ctx.tracer.add("acid.time_travel_read_s", rec.get("s", 0))
        if got != self.count_at[v]:
            self.problems.append(f"read(version={v}): {got} rows, expected {self.count_at[v]}")

    # ---------------------------------------------------------- schedule

    def round(self, r: int, every_kind: bool = False) -> None:
        """Round ``r`` of the fixed schedule, or with ``every_kind`` a
        round running each kind of op once (the warm-up). Every op runs
        through ``ctx.ops`` so failures are counted and the round goes on."""
        ops = self.ctx.ops
        path, records = self.next_drop()
        ops.run("ingest", self.ingest)
        if ops.run("append", self.append, path, records) is FAILED:
            self.pending.append(path)
        for _ in range(READS_PER_ROUND):
            ops.run("read", self.read_latest)
        if every_kind or r % MERGE_EVERY == 1:
            ops.run("ranged_read", self.read_range)
            ops.run("time_travel_read", self.read_version)
        silver_changed = False
        if every_kind or r % MERGE_EVERY == MERGE_EVERY - 1:
            silver_changed = ops.run("merge", self.merge_silver) is not FAILED
            ops.run("compact", self.compact_silver)
        if every_kind or r % ERASE_EVERY == ERASE_EVERY - 1:
            user = self.rng.choice(sorted({m[0] for m in self.model}))
            silver_changed |= ops.run("delete", self.erase, user) is not FAILED
            ops.run("compact", self.compact_silver)
        if silver_changed:
            users = ops.run("changes", self.changed_users)
            if users is not FAILED:
                ops.run("gold_merge", self.refresh_gold, users)

    def check_landing(self) -> None:
        """Exactly-once: every landed line is in the raw archive once, and
        a re-run with no new file changes nothing."""
        from scalable_etl_spark.streaming.ingest import ingest_available

        before = [listing(d) for d in (self.archive, self.ckpt)]
        ingest_available(self.ctx.spark, self.landing, self.archive, self.ckpt)
        if [listing(d) for d in (self.archive, self.ckpt)] != before:
            self.problems.append("ingest re-run with no new file committed something")
        if self.backlog():
            self.problems.append(f"landed files never ingested: {sorted(self.backlog())}")
        files = sorted(glob.glob(os.path.join(self.landing, "*.json")))
        want = oracle.raw_counts(files)
        arch = self.ctx.spark.read.parquet(self.archive)
        got = arch.selectExpr("count(*)", "count(user_name)").first()
        if tuple(got) != want:
            self.problems.append(f"raw archive (rows, users) {tuple(got)}, DuckDB {want}")

    def check_final(self) -> None:
        self.check_landing()
        got = self.bronze.read().count()
        if got != len(self.model):
            self.problems.append(f"final bronze {got} rows, expected {len(self.model)}")
        for name, table, (cols, want) in (
            ("silver", self.silver, self.replay.silver()),
            ("gold", self.gold, self.replay.gold()),
        ):
            rows = [tuple(r) for r in table.read().select(*cols).collect()]
            diff = oracle.same_rows(cols, rows, cols, want)
            if diff:
                self.problems.append(f"final {name} vs DuckDB replay: {diff}")

    def live_rows(self) -> int:
        archive = sum(
            pq.ParquetFile(os.path.join(self.archive, p)).metadata.num_rows
            for p in listing(self.archive)
            if p.endswith(".parquet") and "_spark_metadata" not in p
        )
        return archive + len(self.model) + self.replay.silver_rows() + len(self.replay.gold()[1])

    def stored_bytes(self) -> int:
        roots = [t.root for t in (self.bronze, self.silver, self.gold)]
        return sum(tree_bytes(r) for r in roots + [self.archive, self.ckpt])


def run(ctx) -> dict:
    # set-up: bootstrap tables and warm every timed plan shape on them
    # with one round of every op kind. Those tables then hold deletion
    # vectors, so the timed cycles start on freshly bootstrapped ones.
    t0 = time.perf_counter()
    warm = Lakehouse(ctx, os.path.join(ctx.root, "setup"), ctx.seed + 1000)
    warm.bootstrap()
    warm.round(0, every_kind=True)
    if ctx.ops.total()[1] or warm.problems:
        raise RuntimeError(f"lakehouse_dml warm-up failed: {ctx.ops.errors + warm.problems}")
    setup = [time.perf_counter() - t0]
    ctx.end_setup()

    lh = Lakehouse(ctx, os.path.join(ctx.root, "main"), ctx.seed)
    lh.bootstrap()
    wall = 0.0
    r = 0
    # whole schedule cycles only: rounds differ a lot in cost, and a run
    # cut mid-cycle would weigh the op mix by where the clock ran out
    while ctx.more(r // ERASE_EVERY, wall, TRACED_CYCLES):
        for _ in range(ERASE_EVERY):
            ctx.tracer.next_op()
            t0 = time.perf_counter()
            lh.round(r)
            wall += time.perf_counter() - t0
            r += 1

    lh.check_final()
    ops = ctx.ops
    done = sum(ops.ok(k) for k in ops.attempted)
    reads = ops.lat["read"]
    stored = lh.stored_bytes() / max(1, lh.live_rows())
    ctx.tracer.add("storage.bytes_per_row", stored)
    ctx.tracer.samples["acid.compactions"] = [lh.compactions]
    summary = {
        "dml_ops_per_min": (60.0 * done / wall, "1/min"),
        "append_p50_s": (median(ops.lat["append"]), "s"),
        "read_p50_s": (median(reads), "s"),
        "ingest_p50_s": (median(ops.lat["ingest"]), "s"),
        "freshness_p50_s": (median(lh.freshness), "s"),
        "stored_bytes_per_row": (stored, "B/row"),
        "rounds": (r, "count"),
        "bronze_live_entries": (lh.bronze.history()[0]["n_dirs"], "count"),
    }
    rtail = tail(reads)
    if rtail:
        summary[f"read_p{rtail[1]}_s"] = (rtail[0], "s")
    return {
        "setup_rounds": setup,
        "e2e": {"ops_per_min": 60.0 * done / wall, "op_p50_s": median(reads)},
        "summary": summary,
        "problems": lh.problems,
    }
