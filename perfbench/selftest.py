"""Self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) once untraced and once traced with
``run.py --tiny`` and asserts that

* the run exits 0 and its last stdout line is a well-formed result;
* every metric BENCHMARK.json names is printed with its unit: the
  end-to-end ones untraced, the per-layer ones traced;
* the traced span tree is well-formed: every child lies inside its
  parent and every self time is at least zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def run_once(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, result
    return result["metrics"]


def check_units(metrics: dict, declared: list[dict], where: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    assert set(metrics) == set(want), f"{where}: printed {sorted(metrics)} != declared {sorted(want)}"
    for name, unit in want.items():
        got = metrics[name]
        assert got["unit"] == unit, f"{where}: {name} unit {got['unit']!r} != {unit!r}"
        assert isinstance(got["value"], (int, float)), f"{where}: {name} value {got['value']!r}"


def check_spans(path: str) -> None:
    with open(path) as f:
        spans = json.load(f)
    assert spans, f"{path}: no spans"
    for i, s in enumerate(spans):
        assert s["end"] >= s["start"], f"span {i} {s['name']} ends before it starts"
        assert s["self_s"] >= -1e-6, f"span {i} {s['name']} has negative self time"
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (
                f"span {i} {s['name']} leaves its parent {p['name']}")


def main(names: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for name in names or list(WORKLOADS):
        check_units(run_once(name, 0), bench["end_to_end"], f"{name} untraced")
        check_units(run_once(name, 1), bench["per_layer"], f"{name} traced")
        check_spans(os.path.join(ROOT, ".perfbench", f"spans-{name}.json"))
        print(f"ok {name}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
