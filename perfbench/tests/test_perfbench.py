"""Tests of the benchmark itself: seeded inputs, the correctness checks
catching a planted wrong result, and a tiny-scale smoke run of each
workload. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, query_corpus, run  # noqa: E402


def _drops(seed: int, n: int = 3) -> list[list[str]]:
    src = gen.ListenSource(seed, rows_per_drop=60)
    return [src.next_drop()[0] for _ in range(n)]


def test_same_seed_same_bytes(tmp_path):
    for attempt in ("a", "b"):
        for i, lines in enumerate(_drops(7)):
            gen.write_lines(str(tmp_path / f"{attempt}{i}.json"), lines)
    for i in range(3):
        assert (tmp_path / f"a{i}.json").read_bytes() == (tmp_path / f"b{i}.json").read_bytes()


def test_other_seed_other_inputs():
    assert _drops(7) != _drops(8)
    assert random.Random(7).sample(query_corpus.CORPUS, 22) != random.Random(8).sample(
        query_corpus.CORPUS, 22
    )


def test_drops_follow_the_fixture_shape():
    src = gen.ListenSource(3, rows_per_drop=200)
    first = src.next_drop()
    lines, records = src.next_drop()
    bad = [ln for ln in lines if not ln.endswith("}")]
    assert len(bad) == 1 and len(lines) == len(records) + 1
    seen = {(r["user_name"], r["listened_at"]) for r in first[1]}
    resent = sum((r["user_name"], r["listened_at"]) in seen for r in records)
    assert resent >= round(0.05 * len(records))
    stamps = [r["listened_at"] for r in records]
    assert stamps != sorted(stamps)
    assert max(stamps) - min(stamps) > 90 * 86400


def test_same_rows_catches_a_planted_value():
    cols = ["user_name", "listen_count"]
    rows = [("a", 3), ("b", 1)]
    assert oracle.same_rows(cols, rows, cols, list(reversed(rows))) is None
    assert oracle.same_rows(cols, rows, cols, [("a", 3), ("b", 2)]) is not None
    assert oracle.same_rows(cols, rows, cols, rows[:1]) is not None


def test_raw_counts_read_a_malformed_line_as_a_null_row(tmp_path):
    lines, records = gen.ListenSource(5, rows_per_drop=40).next_drop()
    path = str(tmp_path / "d.json")
    gen.write_lines(path, lines)
    assert oracle.raw_counts([path]) == (len(records) + 1, len(records))


# ---------------------------------------------------------- with Spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("bench") / "run")
    os.makedirs(run_dir)
    run.pin_environment(ROOT, run_dir)
    from scalable_etl_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests")
    yield session
    run.stop_spark(session)


def _ctx(spark, tmp_path, trace: bool, seconds: float = 0.5):
    from perfbench.common import Tracer

    return run.Ctx(spark, Tracer(spark, enabled=trace), str(tmp_path), 3, seconds)


@pytest.fixture
def tiny(monkeypatch):
    from perfbench import lakehouse_dml

    monkeypatch.setattr(lakehouse_dml, "ROWS_PER_DROP", 40)
    monkeypatch.setattr(query_corpus, "CORPUS", ("top_users", "exact_dedup"))


@pytest.mark.parametrize("trace", [False, True])
def test_lakehouse_dml_smoke(spark, tmp_path, tiny, trace):
    from perfbench import lakehouse_dml

    ctx = _ctx(spark, tmp_path, trace)
    res = lakehouse_dml.run(ctx)
    assert res["problems"] == []
    assert ctx.ops.attempted["delete"] >= 1 and ctx.ops.total()[1] == 0
    assert res["e2e"]["op_p50_s"] > 0
    if trace:
        assert ctx.tracer.p50("acid.files_per_commit") >= 1
        assert ctx.tracer.p50("streaming.ingest_jobs") >= 1
        assert set(ctx.tracer.samples["streaming.backlog_files"]) == {0.0}


def test_query_corpus_smoke(spark, tmp_path, tiny):
    ctx = _ctx(spark, tmp_path, trace=False)
    res = query_corpus.run(ctx)
    assert res["problems"] == []
    assert ctx.ops.attempted["top_users"] >= 1


def test_planted_wrong_gold_fails_the_run(spark, tmp_path, tiny, monkeypatch):
    from perfbench import lakehouse_dml
    from scalable_etl_spark import medallion

    real = medallion.to_gold_user_peaks
    monkeypatch.setattr(
        medallion, "to_gold_user_peaks", lambda silver: real(silver, top_k=2)
    )
    res = lakehouse_dml.run(_ctx(spark, tmp_path, trace=False))
    assert any("gold" in p for p in res["problems"])


def test_planted_wrong_query_result_fails_the_run(spark, tmp_path, tiny, monkeypatch):
    from scalable_etl_spark.registry import QUERIES

    import __spark_entry__  # noqa: F401

    real = QUERIES["top_users"]
    monkeypatch.setitem(QUERIES, "top_users", lambda s, d: real(s, d).limit(1))
    res = query_corpus.run(_ctx(spark, tmp_path, trace=False))
    assert any(p.startswith("top_users") for p in res["problems"])


# ---------------------------------------------------------- the command


def test_command_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_command_prints_one_result_line():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_corpus",
         "--seed", "2", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
