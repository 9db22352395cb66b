"""query_corpus: a fixed list of read-only registered queries over the
star-schema testdata, each pass in a seeded order.

The tables are the sf0.01 testdata of TESTDATA.md (seed 42), copied under
``perfbench/testdata`` so the run reads only inside the checkout; the
repository's oracle gate runs at the same scale. The run's seed sets the
query order of each pass.

The list is chosen by rule, not by outcome: every third query, in
source order, of ``queries.py``, ``queries_sql.py`` and
``queries_analytics.py``, plus the operator queries for exact dedup,
near-dup, ANN and TF-IDF. A query counts as read-only when the
warehouse and temp dirs are unchanged after it runs; the run checks
that for every call.

Why this workload: it loads ``registry``, ``operators`` and
``functions``, and commits nothing."""

from __future__ import annotations

import os
import random
import time

from . import oracle
from .common import FAILED, geomean, listing, median

CORPUS = (
    "events_flatten", "top_users", "hourly_activity", "type_diversity",
    "nulls_last_ranking", "users_purchase_and_signup", "revenue_by_region",
    "order_priority_counts", "nation_customer_stats", "hll_distinct_users",
    "priority_line_counts",
    "sql_top_users_ordinal", "sql_type_share_cte",
    "rollup_revenue", "rolling_weekly_value", "unpivot_daily_values",
    "funnel_view_click_purchase", "event_state_intervals",
    "exact_dedup", "near_dedup_corpus", "ann_brute_force", "tfidf_top_terms",
)
DATA_DIR = os.path.join("perfbench", "testdata", "sf0.01")
TRACED_PASSES = 1
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


class Corpus:
    def __init__(self, ctx):
        import __spark_entry__  # noqa: F401  registers every query
        from scalable_etl_spark.registry import QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.data = os.path.abspath(DATA_DIR)
        self.watched = (os.environ["SPARK_GRAFT_WAREHOUSE"], os.environ["TMPDIR"])
        self.results: dict[str, tuple] = {}
        self.problems: list[str] = []

    def _state(self):
        return [listing(d) for d in self.watched]

    def call(self, name: str):
        tr = self.ctx.tracer
        with tr.span(f"registry.{name}") as outer:
            with tr.span("registry.build") as b:
                df = self.queries[name](self.ctx.spark, self.data)
            with tr.span("registry.exec") as e:
                rows = df.collect()
        if tr.enabled:
            tr.add("registry.build_s", b["s"])
            tr.add(f"registry.{name}.exec_s", e["s"])
            tr.add(f"registry.{name}.jobs", outer["jobs"])
        self.results[name] = (df.columns, [tuple(r) for r in rows])
        return outer

    def run_pass(self, order) -> float:
        """One pass over ``order``; returns its wall seconds (the
        read-only listings between queries are not timed)."""
        ops, tr = self.ctx.ops, self.ctx.tracer
        wall = py4j = stages = 0
        for name in order:
            before = self._state()
            t0 = time.perf_counter()
            rec = ops.run(name, self.call, name)
            wall += time.perf_counter() - t0
            if rec is not FAILED and tr.enabled:
                py4j += rec["py4j"]
                stages += rec["stages"]
            if self._state() != before:
                self.problems.append(f"{name} is not read-only: it wrote files")
        tr.add("registry.py4j_calls", py4j)
        tr.add("registry.stages", stages)
        return wall

    def check(self) -> None:
        import duckdb

        from scalable_etl_spark.registry import ORACLE_SQL

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in CORPUS:
            if name not in self.results:
                self.problems.append(f"{name}: no successful run")
                continue
            tbl = con.execute(ORACLE_SQL[name]).fetch_arrow_table()
            bad = [f.name for f in tbl.schema if str(f.type).startswith("decimal")]
            if bad:
                self.problems.append(f"{name}: oracle emits decimal columns {bad}")
                continue
            want = list(zip(*(c.to_pylist() for c in tbl.columns)))
            cols, rows = self.results[name]
            diff = oracle.same_rows(cols, rows, tbl.column_names, want)
            if diff:
                self.problems.append(f"{name}: {diff}")
        con.close()


def run(ctx) -> dict:
    corpus = Corpus(ctx)
    rng = random.Random(ctx.seed)
    t0 = time.perf_counter()
    corpus.run_pass(rng.sample(CORPUS, len(CORPUS)))  # warm every plan shape
    setup = [time.perf_counter() - t0]
    if ctx.ops.total()[1]:
        raise RuntimeError(f"query_corpus warm-up failed: {ctx.ops.errors}")
    ctx.end_setup()

    wall = 0.0
    passes = 0
    while ctx.more(passes, wall, TRACED_PASSES):
        ctx.tracer.next_op()
        wall += corpus.run_pass(rng.sample(CORPUS, len(CORPUS)))
        passes += 1

    corpus.check()
    ops = ctx.ops
    per_query = [median(ops.lat[q]) for q in CORPUS]
    done = sum(ops.ok(q) for q in CORPUS)
    summary = {
        "query_geomean_s": (geomean(per_query), "s"),
        "corpus_pass_s": (sum(per_query), "s"),
        "passes": (passes, "count"),
    }
    return {
        "setup_rounds": setup,
        "e2e": {"ops_per_min": 60.0 * done / wall, "op_p50_s": geomean(per_query)},
        "summary": summary,
        "problems": corpus.problems,
    }
