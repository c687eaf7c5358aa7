"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the ``end_to_end``
metrics of BENCHMARK.json; ``--trace 1`` runs the same workload with spans
around every layer call, prints its ``per_layer`` metrics instead, and
writes the spans to ``.perfbench_work/spans-<workload>-<seed>.json``.
Everything a run writes stays under ``.perfbench_work/``; its per-run
directory is removed at exit. The process exits 2 without printing a
result when the program under test is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("stream_tail", "operator_queries")
# two task threads on a 4-core host leave two cores to the JVM's compiler
# and GC threads and the Python process: the workloads' per-call fixed
# costs run on the driver, and with three task threads epochs took about
# twice as many calls to stop getting faster
CORES = 2
DRIVER_MEM = "3g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def start_session(work: str):
    """The ``session`` layer: import the program and start Spark."""
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from arango_etl_spark.session import get_spark

    cores = min(CORES, os.cpu_count() or 1)
    return get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file, which the JVM writes outside java.io.tmpdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # keep every job's stage metrics for span attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def layer_metrics(tracer, res, session_s: float, generate_s: float,
                  codegen_ns: int, clock_offset: float) -> tuple[dict, dict]:
    """Per-layer metrics of one traced window, plus the span dump."""
    from perfbench.tracing import covered_share, progress_interval
    from perfbench.workloads import OperatorQueries

    spans = tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def ms(name):
        return _mean((s.end - s.start) * 1000 for s in by_name.get(name, []))

    def count(name, key):
        return _mean(s.counts.get(key, 0) for s in by_name.get(name, []))

    children: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            children[s.parent] = children.get(s.parent, 0.0) + (s.end - s.start)
    apply_self = [
        (s.end - s.start - children.get(i, 0.0)) * 1000
        for i, s in enumerate(spans) if s.name == "merge_into.apply"
    ]
    commits = by_name.get("lakehouse.commit", [])
    keys = sum(s.counts.get("keys_applied", 0) for s in by_name.get("merge_into.apply", []))
    ops = max(res.ops, 1)

    groups = [s.group for s in spans if s.group]
    run_ids = sorted({e["run_id"] for e in res.epochs})
    stage = tracer.stage_metrics(groups + run_ids)
    total = {k: sum(m[k] for m in stage.values()) for k in
             ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes")}

    def epoch_mean(key):
        return _mean(e["duration_ms"].get(key, 0) for e in res.epochs)

    intervals = [(s.start, s.end) for s in spans]
    intervals += [progress_interval(e, clock_offset) for e in res.epochs]

    out = {
        "session.start_s": session_s,
        "cdc_generator.write_s": generate_s,
        "merge_into.apply_ms": ms("merge_into.apply"),
        "merge_into.apply_self_ms": _mean(apply_self),
        "merge_into.keys_applied": count("merge_into.apply", "keys_applied"),
        "dedup_window.keys_per_event": keys / res.events_applied if res.events_applied else 0.0,
        "merge_into.compact_ms": ms("merge_into.compact"),
        "merge_into.compact_calls": len(by_name.get("merge_into.compact", [])) / ops,
        "lakehouse.stage_write_ms": ms("lakehouse.stage_write"),
        "lakehouse.files_written": count("lakehouse.stage_write", "files"),
        "lakehouse.bytes_written": count("lakehouse.stage_write", "bytes"),
        "lakehouse.commit_ms": ms("lakehouse.commit"),
        "lakehouse.manifest_reads": len(by_name.get("lakehouse.manifest", [])) / ops,
        "lakehouse.manifest_read_ms": ms("lakehouse.manifest"),
        "lakehouse.manifest_bytes": count("lakehouse.commit", "manifest_bytes"),
        "lakehouse.live_files": commits[-1].counts["live_files"] if commits else 0,
        "lakehouse.read_ms": ms("lakehouse.read"),
        "lakehouse.read_stored_ms": ms("lakehouse.read_stored"),
        "lakehouse.stored_mb": res.stored_bytes / 1e6,
        "runner.epochs": len(res.epochs),
        "runner.add_batch_ms": epoch_mean("addBatch"),
        "runner.trigger_overhead_ms": _mean(
            e["duration_ms"].get("triggerExecution", 0) - e["duration_ms"].get("addBatch", 0)
            for e in res.epochs
        ),
        "runner.query_planning_ms": epoch_mean("queryPlanning"),
        "runner.wal_commit_ms": epoch_mean("walCommit"),
        "lineage.record_ms": ms("lineage.record"),
        "lineage.failure_count_ms": ms("lineage.failure_count"),
        "spark.jobs": total["jobs"] / ops,
        "spark.tasks": total["tasks"] / ops,
        "spark.executor_run_ms": total["executor_run_ms"] / ops,
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"] / ops,
        "spark.shuffle_read_bytes": total["shuffle_read_bytes"] / ops,
        "spark.spill_bytes": total["spill_bytes"] / ops,
        "spark.codegen_ms": codegen_ns / 1e6 / ops,
        **{f"operators.{leg}_s": ms(f"operators.{leg}") / 1000
           for leg in OperatorQueries.legs},
        "trace.op_ms_p50": statistics.median(res.op_ms),
        "trace.untraced_share": 1.0 - covered_share(intervals, *res.window),
        "trace.spans": len(spans),
    }
    dump = {
        "window": res.window,
        "ops": res.ops,
        "spans": [dict(asdict(s), stage=stage.get(s.group)) for s in spans],
        "epochs": res.epochs,
        "stream_groups": {r: stage.get(r) for r in run_ids},
    }
    return out, dump


def run(args: argparse.Namespace) -> dict:
    work_root = ROOT / ".perfbench_work"
    work = str(work_root / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        from perfbench.tracing import ProgressListener, Tracer
        from perfbench.workloads import WORKLOADS, Context, log

        listener = ProgressListener()
        spark.streams.addListener(listener)
        session_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark=spark, tracer=tracer, listener=listener,
                      work=os.path.join(work, "data"), seed=args.seed,
                      scale=args.scale)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0
        log(f"session {session_s:.2f}s, set-up {setup_s - session_s:.2f}s")
        t0 = time.perf_counter()
        wl.warmup()
        log(f"warm-up {time.perf_counter() - t0:.2f}s")

        clock_offset = time.time() - time.perf_counter()
        cg0 = tracer.codegen_ns()
        tracer.install()
        try:
            res = wl.measure(args.seconds)
        finally:
            tracer.uninstall()
        codegen_ns = tracer.codegen_ns() - cg0
        log(f"measured {res.ops} ops in {res.window[1] - res.window[0]:.2f}s; "
            f"op_ms {[round(x) for x in res.op_ms]}, "
            f"read_ms {[round(x) for x in res.read_ms]}")
        t0 = time.perf_counter()
        wl.check(res)
        log(f"check {time.perf_counter() - t0:.2f}s, {res.failed} failed")

        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        if args.trace:
            values, dump = layer_metrics(tracer, res, session_s, wl.generate_s,
                                         codegen_ns, clock_offset)
            listed = bench["per_layer"]
            with open(work_root / f"spans-{args.workload}-{args.seed}.json", "w") as f:
                json.dump(dump, f)
        else:
            values = {"setup_s": setup_s, **res.e2e()}
            listed = bench["end_to_end"]
        return {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in listed},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "arango_etl_spark" / "__init__.py").is_file():
        print(f"program not found: no arango_etl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
