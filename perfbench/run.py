"""Benchmark command: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload serve-docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client thread drives a
``local[nproc]`` session and issues each operation only after the last one
returned. The seed makes the inputs (or, for the read-only query corpus,
the request order). Metrics come from the first ``TIMED_ROUNDS`` rounds,
however many rounds ``--seconds`` lets run. Outputs are checked after the
timed loop. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the module entry points are wrapped in spans and the per-layer metrics are
printed instead. ``--tiny`` shrinks every input for the self-test.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Rounds whose samples make the figures: each kind's figure is the median
# (the mean) of two samples, the most the time budget allows on a slow host.
TIMED_ROUNDS = 2
# What the speed probe takes per CPU on a quiet host (a 4-vCPU Xeon
# guest): the gated figures are scaled to this host speed.
PROBE_REF_S = 0.016


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json names them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _driver_memory_mb() -> int:
    """A quarter of physical RAM, capped at 4 GiB: well below what the box has."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(4096, total_kb // 4096)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the driver JVM and its Python workers), read from /proc. Each live
    process adds its own time and that of its children that have exited
    and been reaped, so short-lived workers and launchers count too."""
    me, parent, cpu = os.getpid(), {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. How
    much the JIT compiles, and when, depends on its background queue and
    on how warm the JVM is, not on the operation: in one food upsert it
    used 1.8 CPU s in one run and 4.9 in the next, with the rest of the
    tree steady. The session runs with a fixed set of compiler threads, so
    none exits and takes its time out of this sum."""
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, fields = stat[stat.index("(") + 1:stat.rindex(")")], stat.rsplit(")", 1)[1].split()
        if "CompilerThre" in comm:  # "C1 CompilerThread0", cut to 15 characters
            total += int(fields[11]) + int(fields[12])  # utime stime
    return total / os.sysconf("SC_CLK_TCK")


def _work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the process tree, less the JIT compiler's."""
    return _tree_cpu_s() - _jit_cpu_s(jvm_pid)


def _probe_s() -> float:
    """Host speed probe: the CPU seconds a fixed pure-Python loop takes,
    averaged over running it once on each CPU. It does none of the
    program's work, so only the host moves it: on a shared host the CPU
    time a fixed piece of work costs changes 2-5x over minutes, as other
    guests load the cores, and the program's CPU time moves with it."""
    cpus = os.sched_getaffinity(0)
    total = 0.0
    try:
        for c in sorted(cpus):
            os.sched_setaffinity(0, {c})
            t, s = time.thread_time(), 0
            for i in range(400_000):
                s += i * i
            total += time.thread_time() - t
    finally:
        os.sched_setaffinity(0, cpus)
    return total / len(cpus)


def _settle(limit_s: float = 3.0, window_s: float = 0.2) -> float:
    """Wait, up to ``limit_s``, until the process tree has been nearly idle
    for one ``window_s``: the JVM keeps compiling and collecting garbage
    for a while after an operation returns, and that CPU would otherwise
    land in the next operation's sample. Returns the seconds waited."""
    t0 = time.perf_counter()
    c = _tree_cpu_s()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(window_s)
        c, prev = _tree_cpu_s(), c
        if c - prev < 0.1 * window_s:
            break
    return time.perf_counter() - t0


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def op_stats(samples: list[tuple[str, float]]) -> tuple[float, float]:
    """(geometric mean, rate) of a run's ``(kind, seconds)`` samples.

    Operation kinds differ in cost by up to 10x, so both figures are taken
    from the median of each kind: the geometric mean weighs every kind the
    same; the rate is that of one client issuing every kind once in turn.
    """
    by_kind: dict[str, list[float]] = {}
    for kind, s in samples:
        by_kind.setdefault(kind, []).append(s)
    med = [statistics.median(v) for v in by_kind.values()]
    return math.exp(statistics.fmean(math.log(m) for m in med)), len(med) / sum(med)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, one round (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nyc_open_data_pipeline_spark", "__init__.py")):
        _log(f"no nyc_open_data_pipeline_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    # size the session to the box; every scratch byte stays in the run dir
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    cpus = len(os.sched_getaffinity(0))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{_driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    }
    os.environ.update(settings)
    try:
        return _run(args, run_dir, cpus, settings)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, cpus, settings) -> int:
    import layers
    import workloads
    from spans import Tracer

    end_to_end, per_layer = declared_metrics()
    tracer = Tracer(bool(args.trace))
    ctx = workloads.Ctx(tracer, run_dir, args.seed, args.tiny)
    # the benchmark's own inputs (generated rows, oracle hashes) are made
    # before the set-up clock starts: setup_s is the program's set-up only
    wl = workloads.WORKLOADS[args.workload](ctx)

    probes = [_probe_s()]
    t0, c0 = time.perf_counter(), _tree_cpu_s()
    import pyspark

    from nyc_open_data_pipeline_spark.session import get_spark

    # The heap starts at its full size, so how far G1 has grown it (which
    # varied from 1.7 to 2.7 GB RSS between runs) does not set how often it
    # collects; the JIT keeps a fixed set of compiler threads for
    # _jit_cpu_s.
    java_options = (f"-Djava.io.tmpdir={settings['TMPDIR']} -Xms{settings['SPARK_DRIVER_MEMORY']}"
                    " -XX:-UseDynamicNumberOfCompilerThreads")
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": java_options,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    env = {"nproc": cpus, "spark": pyspark.__version__, "python": sys.version.split()[0],
           "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, **settings, "driver_java_options": java_options}
    print(json.dumps({"perfbench_env": env}), flush=True)

    _log(f"session started in {session_start_s:.1f}s")
    ctx.spark = spark
    hooks = layers.install(ctx) if args.trace else None
    try:
        wl.setup()
        setup_wall_s, setup_s = time.perf_counter() - t0, _work_cpu_s(ctx.jvm_pid) - c0
        probes.append(_probe_s())
        _log(f"set-up done in {setup_wall_s:.1f}s, {setup_s:.1f} CPU s")
        steal0 = _steal_s()
        lat, cpu, attempted, failed, t_loop, t_end = _loop(args, ctx, wl, probes)
        steal_share = (_steal_s() - steal0) / (cpus * (t_end - t_loop))
        errs = wl.check()
        if args.trace:
            errs += tracer.check_tree()
    finally:
        tracer.restore()

    correct = not errs
    for e in errs:
        _log(f"CHECK FAILED: {e}")
    op_s, ops_per_s = op_stats(lat) if lat else (math.nan, math.nan)
    op_cpu_s = op_stats(cpu)[0] if cpu else math.nan
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # The gated CPU figures are scaled to the reference host speed; the
    # run's own speed, the unscaled CPU figures and the wall-clock ones are
    # reported but not gated.
    probe_s = statistics.median(probes)
    scale = PROBE_REF_S / probe_s
    wall = {"op_ms": 1000 * op_s, "ops_per_s": ops_per_s, "steal_share": steal_share,
            "peak_rss_mb": _vm_hwm_mb(ctx.jvm_pid) + py_kb / 1024, "setup_s": setup_wall_s,
            "probe_s": probe_s, "setup_cpu_s": setup_s, "op_cpu_ms": 1000 * op_cpu_s}
    if args.trace:
        metrics = hooks.layer_metrics(wl, attempted, t_loop, t_end, per_layer, {
            "session.start_s": session_start_s,
            "process.peak_rss_mb": wall["peak_rss_mb"],
            "host.steal_share": steal_share,
            "trace.op_ms": wall["op_ms"],
            "trace.op_cpu_ms": 1000 * op_cpu_s * scale,
            "trace.ops_per_s": ops_per_s,
        })
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}.json"))
        hooks.close()
    else:
        print(json.dumps({"perfbench_wall": wall}), flush=True)
        metrics = {"setup_s": setup_s * scale, "op_cpu_ms": 1000 * op_cpu_s * scale}
        metrics = {k: {"value": v, "unit": end_to_end[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _stop_jvm() -> None:
    """Stop the session, if one started, and wait for its JVM to exit: the
    JVM exits on EOF on its stdin, and its Python workers exit with it."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    SparkContext._gateway.proc.stdin.close()
    SparkContext._gateway.proc.wait(timeout=60)


def _loop(args, ctx, wl, probes):
    """Closed loop of whole rounds: at least ``TIMED_ROUNDS`` of them and
    at least ``--seconds`` (one round in tiny mode). Returns the first
    ``TIMED_ROUNDS`` rounds' ``(kind, wall seconds)`` and ``(kind, CPU
    seconds)`` samples, so the figure reads the same warm-up point however
    fast the code under test runs. Every round's results are checked. A
    failing operation loses only its own samples. A host speed probe runs
    before each operation, outside its timed region, into ``probes``."""
    sc = ctx.spark.sparkContext
    lat: list[tuple[str, float]] = []
    cpu: list[tuple[str, float]] = []
    attempted = failed = 0
    timed = wl.round_size * (1 if args.tiny else TIMED_ROUNDS)
    ops = wl.ops()
    t_loop = time.perf_counter()
    while not (attempted >= timed and attempted % wl.round_size == 0 and (
            args.tiny or time.perf_counter() - t_loop >= args.seconds)):
        label, call = next(ops)
        attempted += 1
        ctx.tracer.op = attempted
        sc.setJobGroup(f"op{attempted}", f"{args.workload}:{label}")
        settled_s = _settle()
        probes.append(_probe_s())
        c0, jit0 = _work_cpu_s(ctx.jvm_pid), _jit_cpu_s(ctx.jvm_pid)
        t = time.perf_counter()
        try:
            with ctx.tracer.span(f"op.{label}"):
                out = call()
            wall_s, cpu_s = time.perf_counter() - t, _work_cpu_s(ctx.jvm_pid) - c0
            if attempted <= timed:
                lat.append((label, wall_s))
                cpu.append((label, cpu_s))
            jit_s = _jit_cpu_s(ctx.jvm_pid) - jit0
            _log(f"op {attempted} {label} {wall_s:.3f}s, {cpu_s:.2f} CPU s + {jit_s:.2f} JIT"
                 f" (settled {settled_s:.1f}s)")
            ctx.tracer.op = None
            if ctx.after_op:
                ctx.after_op()
            wl.record(label, out)
        except Exception:
            failed += 1
            _log(f"operation {attempted} ({label}) failed:\n{traceback.format_exc()}")
        finally:
            ctx.tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
    return lat, cpu, attempted, failed, t_loop, time.perf_counter()


if __name__ == "__main__":
    sys.exit(main())
