"""Per-layer table: one untraced and one traced run per workload.

    python3 perfbench/table.py --seed 1 [workload ...] > perfbench/BASELINE.md

For each workload it prints the end-to-end figures of both runs (their
ratio is the tracing overhead), every per-layer metric of the traced run,
and the self time per span name from the traced run's span dump.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} trace={trace} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    info = {k: v for x in lines[:-1] if x.startswith('{"perfbench_') for k, v in json.loads(x).items()}
    return info["perfbench_env"], info.get("perfbench_wall", {}), json.loads(lines[-1])


def self_times(workload: str) -> dict[str, tuple[int, float]]:
    """span name -> (count, total self seconds) over the timed operations;
    the per-kind operation spans ``op.<kind>`` are summed as ``op``."""
    with open(os.path.join(ROOT, ".perfbench", f"spans-{workload}.json")) as f:
        spans = json.load(f)
    out: dict[str, tuple[int, float]] = {}
    for s in spans:
        if s["op"] is not None:
            name = "op" if s["name"].startswith("op.") else s["name"]
            n, t = out.get(name, (0, 0.0))
            out[name] = (n + 1, t + s["self_s"])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("workloads", nargs="*",
                    default=["ingest-upsert", "driver-loops", "serve-docs", "query-mix"])
    a = ap.parse_args()
    for w in a.workloads:
        env, wall, plain = run(w, a.seed, a.seconds, 0)
        _, _, traced = run(w, a.seed, a.seconds, 1)
        pm, tm = plain["metrics"], traced["metrics"]
        print(f"### {w}\n")
        print(f"nproc {env['nproc']}, Spark {env['spark']}, Python {env['python']}, "
              f"driver memory {env['SPARK_DRIVER_MEMORY']}, seed {a.seed}, {a.seconds} s; "
              f"untraced {plain['attempted']} ops, traced {traced['attempted']} ops, "
              f"correct {plain['correct'] and traced['correct']}.\n")
        print("| end to end | untraced | traced | traced / untraced |\n|---|---|---|---|")
        pairs = (("op_cpu_ms", pm["op_cpu_ms"]["value"], "trace.op_cpu_ms"),
                 ("op_ms (wall)", wall["op_ms"], "trace.op_ms"),
                 ("ops_per_s (wall)", wall["ops_per_s"], "trace.ops_per_s"),
                 ("peak_rss_mb", wall["peak_rss_mb"], "process.peak_rss_mb"),
                 ("steal_share", wall["steal_share"], "host.steal_share"))
        for label, u, tk in pairs:
            t = tm[tk]["value"]
            print(f"| {label} | {u:.4g} | {t:.4g} | {t / u:.3f} |" if u else f"| {label} | {u:.4g} | {t:.4g} | |")
        print(f"| setup_s (CPU) | {pm['setup_s']['value']:.4g} | | |")
        print(f"| setup_s (wall) | {wall['setup_s']:.4g} | | |")
        print("\n| per-layer metric (per op) | value | unit |\n|---|---|---|")
        for k, v in tm.items():
            if v["value"] and not k.startswith("trace."):
                print(f"| {k} | {v['value']:.4g} | {v['unit']} |")
        ops = traced["attempted"]
        print("\n| span | calls per op | self ms per op |\n|---|---|---|")
        for name, (n, t) in sorted(self_times(w).items(), key=lambda kv: -kv[1][1]):
            print(f"| {name} | {n / ops:.3g} | {1000 * t / ops:.4g} |")
        print(flush=True)


if __name__ == "__main__":
    main()
