"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/baseline.py --seeds 101-110 --traced-seeds 101-103 \\
        --out perfbench/baseline/seed-commit.json

Runs every workload of BENCHMARK.json once per seed untraced, and for each
traced seed a traced run right after the untraced one, each as
``perfbench/run.py`` in a fresh process from the repository root, the
way every benchmark run is made). It writes the raw results plus, per workload and
metric, the median, quartiles and spread (interquartile distance over the
median, from ``statistics.quantiles(values, n=4)``), the host facts, and
the tracing overhead: the median over seed pairs of traced minus untraced
run wall and write latency. ``--markdown`` prints the same summary as
tables.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_range(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    result["seed"] = seed
    return result


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
    return out


def host_facts() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_at_start": os.getloadavg(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM", "3g"),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def markdown(report: dict) -> str:
    lines = []
    for w, rep in report["workloads"].items():
        lines += [f"### {w}", "",
                  f"{len(rep['untraced'])} untraced runs, seeds {rep['seeds']}; "
                  f"median run wall {rep['wall_s_median']:.1f} s.", "",
                  "| metric | unit | median | q1 | q3 | spread |",
                  "|---|---|---|---|---|---|"]
        for m, s in rep["summary"].items():
            lines.append(f"| {m} | {s['unit']} | {s['median']:.4g} | {s['q1']:.4g} "
                         f"| {s['q3']:.4g} | {s['spread']:.3f} |")
        if rep.get("traced"):
            lines += ["", f"Traced runs (seeds {[r['seed'] for r in rep['traced']]}), medians:", "",
                      "| layer metric | unit | median |", "|---|---|---|"]
            for m, s in rep["traced_summary"].items():
                lines.append(f"| {m} | {s['unit']} | {s['median']:.4g} |")
            o = rep["overhead"]
            lines += ["", f"Tracing overhead (median over seed pairs): run wall {o['wall_s']:+.2f} s, "
                      f"op_ms_p50 {o['op_ms_p50']:+.1f} ms "
                      f"({o['op_ms_p50_share']:+.1%}); untraced_share "
                      f"{rep['traced_summary']['trace.untraced_share']['median']:.3f}."]
        lines.append("")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seed_range, required=True)
    ap.add_argument("--traced-seeds", type=seed_range, default=[])
    ap.add_argument("--out", required=True)
    ap.add_argument("--markdown", action="store_true")
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    report = {"host": host_facts(), "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        # a traced run follows the untraced run of its seed, so the pair
        # shares the host's state and their difference is the overhead
        untraced, traced, pairs = [], [], []
        for s in args.seeds:
            untraced.append(run_once(w, s, bench["run_seconds"], 0))
            if s in args.traced_seeds:
                traced.append(run_once(w, s, bench["run_seconds"], 1))
                pairs.append((untraced[-1], traced[-1]))
        rep = {
            "seeds": args.seeds,
            "untraced": untraced,
            "summary": summarise(untraced),
            "wall_s_median": statistics.median(r["wall_s"] for r in untraced),
            "all_correct": all(r["correct"] for r in untraced + traced),
        }
        if traced:
            plain = [u["metrics"]["op_ms_p50"]["value"] for u, _ in pairs]
            spanned = [t["metrics"]["trace.op_ms_p50"]["value"] for _, t in pairs]
            rep.update(traced=traced, traced_summary=summarise(traced), overhead={
                "wall_s": statistics.median(t["wall_s"] - u["wall_s"] for u, t in pairs),
                "op_ms_p50": statistics.median(b - a for a, b in zip(plain, spanned)),
                "op_ms_p50_share": statistics.median(
                    b / a - 1 for a, b in zip(plain, spanned)),
            })
        report["workloads"][w] = rep
        print(f"{w}: done, correct={rep['all_correct']}", file=sys.stderr, flush=True)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1))
    if args.markdown:
        print(markdown(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
