"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload lakehouse_dml --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it name every metric with its unit and
count attempted and failed ops by type. Exit code 0 only when the run's
outputs checked correct and no op failed."""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("lakehouse_dml", "query_corpus")
END_TO_END = {"setup_s": "s", "ops_per_min": "1/min", "op_p50_s": "s"}
CPUS = 4
DRIVER_MEM = "2g"


def pin_environment(root: str, run_dir: str) -> dict[str, str]:
    """Fix every environment variable the program reads, before any of
    it is imported (``session.BUILDER_CONF`` reads them at import)."""
    tmp = os.path.join(run_dir, "tmp")
    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, jvm_tmp, local):
        os.makedirs(d)
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    cpus = min(CPUS, os.cpu_count() or 1)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # pandas-UDF workers start from Spark's cwd, not the repo root
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.local.dir={local} "
            f'--driver-java-options "-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
    }
    os.environ.update(pinned)
    return pinned


class Ctx:
    """What a workload gets: the session, the tracer, op accounting and
    its private run directory."""

    def __init__(self, spark, tracer, root, seed, seconds):
        from perfbench.common import Ops

        self.spark = spark
        self.tracer = tracer
        self.ops = Ops()
        self.root = root
        self.seed = seed
        self.seconds = seconds

    def end_setup(self) -> None:
        """Forget set-up ops and samples; the timed phase starts now."""
        from perfbench.common import Ops

        self.ops = Ops()
        self.tracer.samples.clear()

    def more(self, rounds: int, wall: float, traced_rounds: int) -> bool:
        """Untraced runs measure for ``seconds``; traced runs do a fixed
        number of rounds so their counters repeat exactly."""
        if self.tracer.enabled:
            return rounds < traced_rounds
        return wall < self.seconds


def per_layer_names() -> list[str]:
    from perfbench import query_corpus

    names = [
        "session.start_s", "session.warmup_s",
        "streaming.ingest_s", "streaming.ingest_jobs", "streaming.files_per_drop",
        "streaming.checkpoint_bytes", "streaming.backlog_files",
        "medallion.silver_s", "medallion.gold_s", "medallion.dedup_ratio",
        "acid.append_s", "acid.append_jobs", "acid.merge_s", "acid.merge_jobs",
        "acid.delete_s", "acid.delete_jobs", "acid.changes_s", "acid.compact_s",
        "acid.compactions", "acid.read_plan_s", "acid.read_plan_py4j",
        "acid.read_scan_leaves", "acid.read_exec_s", "acid.skip_read_s",
        "acid.time_travel_read_s", "acid.live_entries", "acid.files_per_commit",
        "acid.bytes_per_commit", "acid.log_bytes_per_commit",
        "storage.bytes_per_row",
        "registry.build_s", "registry.py4j_calls", "registry.stages",
    ]
    for q in query_corpus.CORPUS:
        names += [f"registry.{q}.exec_s", f"registry.{q}.jobs"]
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_per_commit"):
        return "B"
    if name == "storage.bytes_per_row":
        return "B/row"
    if name == "medallion.dedup_ratio":
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "scalable_etl_spark")):
        print("run from the repository root: scalable_etl_spark/ not found",
              file=sys.stderr)
        return 2
    runs = os.path.join(root, ".bench_runs")
    run_dir = os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    pinned = pin_environment(root, run_dir)
    print("pinned environment: " + json.dumps(pinned, sort_keys=True), file=sys.stderr)
    sys.path.insert(0, root)
    try:
        return _run(args, runs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, runs, run_dir) -> int:
    import importlib

    from perfbench.common import Tracer, median

    workload = importlib.import_module(f"perfbench.{args.workload}")
    from scalable_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    to_session = time.perf_counter() - T_PROCESS
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, run_dir, args.seed, args.seconds)
        res = workload.run(ctx)
    finally:
        stop_spark(spark)

    warm = median(res["setup_rounds"])
    e2e = {"setup_s": to_session + warm, **res["e2e"]}
    attempted, failed = ctx.ops.total()
    correct = not res["problems"]

    for name, (value, unit) in res["summary"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} setup rounds = "
          + ", ".join(f"{x:.3f}" for x in res["setup_rounds"]) + " s")
    for kind in sorted(ctx.ops.attempted):
        print(f"{args.workload} op {kind}: attempted {ctx.ops.attempted[kind]}"
              f" failed {ctx.ops.failed[kind]}"
              f" p50 {median(ctx.ops.lat[kind]):.4f} s")
    for msg in res["problems"]:
        print(f"{args.workload} INCORRECT: {msg}")
    for msg in ctx.ops.errors[:5]:
        print(f"{args.workload} FAILED OP: {msg}")

    if args.trace:
        tracer.samples["session.start_s"] = [start_s]
        tracer.samples["session.warmup_s"] = [warm]
        metrics = {
            n: {"value": tracer.p50(n), "unit": per_layer_unit(n)}
            for n in per_layer_names()
        }
        _write_trace(runs, args, tracer, e2e)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
        with open(os.path.join(runs, f"e2e-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump(e2e, fh)
    for n, m in metrics.items():
        print(f"{args.workload} metric {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct and not failed else 1


def _write_trace(runs, args, tracer, e2e) -> None:
    """Spans, per-layer self time and samples; the traced run's
    end-to-end figures beside the untraced ones of the same seed."""
    untraced = None
    path = os.path.join(runs, f"e2e-{args.workload}-s{args.seed}.json")
    if os.path.exists(path):
        with open(path) as fh:
            untraced = json.load(fh)
    overhead = (
        {k: e2e[k] / untraced[k] - 1 for k in e2e if untraced.get(k)}
        if untraced else None
    )
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "traced_e2e": e2e,
        "untraced_e2e": untraced,
        "tracing_overhead": overhead,
        "self_time_s": tracer.self_times(),
        "samples": tracer.samples,
        "spans": tracer.spans,
    }
    tpath = os.path.join(runs, f"trace-{args.workload}-s{args.seed}.json")
    with open(tpath, "w") as fh:
        json.dump(out, fh)
    print(f"{args.workload} trace written to {os.path.relpath(tpath)}; "
          f"tracing overhead vs untraced: {json.dumps(overhead)}")


if __name__ == "__main__":
    sys.exit(main())
