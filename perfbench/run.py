"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload docs_suite --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up builds the Spark session through
``session.get_spark`` in a fresh JVM (its wall, scaled by the machine's
speed, is ``setup_s``) and materializes the seeded inputs (reported as
``input_gen_s``, outside every timed region). The workload then runs one
cold operation and a closed loop of at least four steady operations for
``--seconds``, with reference jobs that measure the machine's speed around
each, and checks every output. The
last three lines printed are the run environment, diagnostics and the
result. ``--trace 1`` alternates traced and untraced operations, reports
per-layer figures from the traced ones and their cost over the untraced
ones, and writes the spans to ``perfbench/.work/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

from inputs import DRIVER_MEMORY, ROOT, WORK, session_conf

MIN_OPS = 4  # steady operations run even when --seconds is already spent
# The reference job measures the machine's speed (see README.md). Its work
# CPU on a quiet 4-core Xeon host sets the scale: there, scaled times read
# as measured.
REF_ROWS = 30_000_000  # rows the reference job hashes and sums
REF_QUIET_CPU_S = 0.195
REF_JOBS = 3  # reference jobs run before and after each steady operation
STOP_WAIT_S = 30  # how long a process may take to end before it is killed
# JIT compiler thread names as /proc gives them (cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

# per-layer metric -> (span name, span field); a layer a workload never
# reaches reports 0
SPAN_METRICS = {
    "input.scan_s": ("input.scan", "dur_s"),
    "validation.typed_s": ("validation.typed", "dur_s"),
    "uniqueness.duplicate_keys_s": ("uniqueness.duplicate_keys", "dur_s"),
    "uniqueness.duplicate_keys.jobs": ("uniqueness.duplicate_keys", "jobs"),
    "uniqueness.duplicate_keys.tasks": ("uniqueness.duplicate_keys", "tasks"),
    "referential.spans_s": ("referential.spans", "dur_s"),
    "referential.spans.jobs": ("referential.spans", "jobs"),
    "referential.spans.tasks": ("referential.spans", "tasks"),
    "stats.profile_s": ("stats.profile", "dur_s"),
    "stats.profile.jobs": ("stats.profile", "jobs"),
    "stats.profile.tasks": ("stats.profile", "tasks"),
    "drift.psi_s": ("drift.psi", "dur_s"),
    "drift.psi.jobs": ("drift.psi", "jobs"),
    "drift.psi.tasks": ("drift.psi", "tasks"),
    "catalog.read_since_s": ("catalog.read_since", "dur_s"),
    "catalog.append_s": ("catalog.append", "dur_s"),
    "catalog.snapshots_s": ("catalog.snapshots", "dur_s"),
    "pipeline.incremental_self_s": ("pipeline.incremental", "self_s"),
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks() -> list[int]:
    """Host CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_cpu_s(before: list[int], after: list[int]) -> float:
    """Host CPU seconds spent on work between two samples: user, nice,
    system, irq and softirq time, which leaves out idle, I/O wait and the
    time other guests stole."""
    d = [b - a for a, b in zip(before, after)]
    return (d[0] + d[1] + d[2] + d[5] + d[6]) / os.sysconf("SC_CLK_TCK")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by other guests between two samples:
    a run measured during a steal window reads slow for reasons outside
    the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def driver_pid(spark) -> int:
    """Process id of the driver JVM. spark-submit execs the JVM, so the
    gateway process id is the JVM's."""
    return spark.sparkContext._gateway.proc.pid


def jit_cpu_s(pid: int) -> float:
    """CPU seconds the JIT compiler threads of JVM ``pid`` have used. The
    benchmark's JVM keeps a fixed set of compiler threads (see
    ``inputs.session_conf``), so no compiler time leaves with a thread that
    ends."""
    task_dir = f"/proc/{pid}/task"
    ticks = 0
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"{task_dir}/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended after the listing
            continue
        ticks += int(fields[11]) + int(fields[12])  # utime + stime
    return ticks / os.sysconf("SC_CLK_TCK")


def driver_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    with open(f"/proc/{driver_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def reference_job(spark) -> int:
    """A fixed Spark job on every core that runs none of the program's
    code. Its work CPU is the machine's speed at that moment: it rises when
    other guests of a shared host contend for its cores, caches and memory,
    even when they steal no CPU time."""
    return spark.range(0, REF_ROWS, 1, os.cpu_count() or 1).selectExpr(
        "sum(hash(id))").collect()[0][0]


def layer_metrics(spans: list[dict]) -> dict:
    """Median over the steady operations that reach a layer of the layer's
    total per operation."""
    per_op: dict = {}
    for s in spans:
        for metric, (name, field) in SPAN_METRICS.items():
            if s["name"] == name and s["op"] > 0:
                key = (metric, s["op"])
                per_op[key] = per_op.get(key, 0) + s[field]
    out = {}
    for metric in SPAN_METRICS:
        vals = [v for (m, _), v in per_op.items() if m == metric]
        out[metric] = statistics.median(vals) if vals else 0.0
    return out


def make_workload(name: str, spark, seed: int, work_dir: str):
    import workloads
    cls = {"docs_suite": workloads.DocsSuite,
           "incremental_ticks": workloads.IncrementalTicks}[name]
    return cls(spark, work_dir, seed)


def start_spark():
    """(session, ``get_spark`` wall). Called once per process, so the wall
    covers the JVM launch, the session build and the engine warm-up. Spark's
    scratch space and the warehouse live under the benchmark's work
    directory."""
    from events_validator_spark.session import get_spark
    cores = os.cpu_count() or 1
    conf = session_conf()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores,
                      shuffle_partitions=cores, extra_conf=conf)
    wall = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, wall


def proc_start(pid: int) -> str | None:
    """Start time of live process ``pid``; None once it has ended (a zombie
    has ended too). Start times tell a process from a later one that reuses
    its id."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else fields[19]


def descendants(pid: int) -> dict[int, str]:
    """Every live process under ``pid``, as {pid: start time}."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out: dict[int, str] = {}
    todo = list(children.get(pid, []))
    while todo:
        p = todo.pop()
        start = proc_start(p)
        if start is not None:
            out[p] = start
        todo.extend(children.get(p, []))
    return out


def wait_gone(pid: int, start: str, timeout: float = STOP_WAIT_S) -> None:
    """Wait until process ``pid`` has ended; terminate it, and then kill it,
    if it lingers."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if proc_start(pid) != start:
                return
            time.sleep(0.05)


def stop_spark(spark=None) -> None:
    """Stop the session and end every process it started, on every way out
    of a run, including a failed set-up: the driver JVM, which leaves once
    its stdin closes and is waited for, and whatever it started in turn,
    such as Python workers. A process that lingers is killed."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        jvm = gateway.proc
        jvm.stdin.close()
        try:
            jvm.wait(timeout=STOP_WAIT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        for pid, start in procs.items():
            wait_gone(pid, start)


def measure(spark, wl, seconds: float, trace: bool) -> dict:
    """Run the cold operation, the closed loop and the gate of one workload.

    With ``trace`` every second steady operation is traced; the untraced
    ones give the steady timings either way. A traced run also runs one
    more steady operation, so that the traced ones (the 2nd and 4th) sit on
    both sides of an untraced one (the 3rd) while the JIT still speeds
    operations up; the tracing overhead compares them and leaves out the
    1st, the slowest."""
    from spans import Tracer
    tr = Tracer(spark.sparkContext)
    pid = driver_pid(spark)
    attempted = failed = 0
    problems: list[str] = []

    def timed(fn):
        """(result, wall, work CPU, JIT compiler CPU) of ``fn()``; work CPU
        is the host's busy CPU less the JIT compiler threads' share."""
        t, c, j = time.perf_counter(), cpu_ticks(), jit_cpu_s(pid)
        out = fn()
        dt = time.perf_counter() - t
        dj = jit_cpu_s(pid) - j
        return out, dt, busy_cpu_s(c, cpu_ticks()) - dj, dj

    def attempt(fn, traced: bool):
        """(wall, work CPU, JIT compiler CPU) of one operation."""
        nonlocal attempted, failed
        tr.begin_op(traced)
        attempted += 1
        try:
            found, *figures = timed(lambda: fn(tr))
        except Exception as e:  # a failed operation, not a failed run
            found, figures = [f"{type(e).__name__}: {e}"], [0.0, 0.0, 0.0]
        if found:
            failed += 1
            problems.extend(found)
        return figures

    ref_cpu: list[float] = []  # every reference job's work CPU

    def reference_cpu() -> float:
        """Median work CPU of REF_JOBS reference jobs."""
        refs = [timed(lambda: reference_job(spark))[2]
                for _ in range(REF_JOBS)]
        ref_cpu.extend(refs)
        return statistics.median(refs)

    first_s = attempt(wl.first, trace)[0]
    for _ in range(3):  # JIT-compile the reference job before it counts
        reference_job(spark)
    # (traced, wall, work CPU, JIT CPU) of each steady operation, and the
    # reference jobs' CPU before the first and after each operation
    seq, between = [], [reference_cpu()]
    min_ops = MIN_OPS + 1 if trace else MIN_OPS
    ticks = cpu_ticks()
    t_start = time.perf_counter()
    while len(seq) < min_ops or time.perf_counter() < t_start + seconds:
        traced = trace and len(seq) % 2 == 1
        seq.append((traced, *attempt(wl.op, traced)))
        between.append(reference_cpu())
    window_s = time.perf_counter() - t_start
    # (wall, work CPU, JIT CPU, reference CPU around it) by traced or not
    ops: dict = {True: [], False: []}
    for k, (traced, *figures) in enumerate(seq):
        ops[traced].append((*figures, (between[k] + between[k + 1]) / 2))
    window_steal = steal_share(ticks, cpu_ticks())
    attempt(lambda _: wl.gate(), False)

    walls = {k: [o[0] for o in v] for k, v in ops.items()}
    layers = {}
    if trace:
        tr.begin_op(True)
        for _ in range(3):
            with tr.span("input.scan"):
                wl.scan().write.format("noop").mode("overwrite").save()
        layers = {"validation.typed_violations": 0,
                  "catalog.snapshot_log_bytes": 0,
                  **layer_metrics(tr.finish()), **wl.per_layer(),
                  "trace.overhead_ratio": (
                      statistics.median(walls[True])
                      / statistics.median(walls[False][1:]) - 1)}
    steady = walls[False]
    steady_cpu = [o[1] for o in ops[False]]
    us_per_item = 1e6 / wl.items_per_op
    return {
        "attempted": attempted, "failed": failed, "problems": problems,
        "spans": tr.spans, "layers": layers,
        "speed": REF_QUIET_CPU_S / statistics.median(ref_cpu),
        "e2e": {"cpu_us_per_item": REF_QUIET_CPU_S * us_per_item
                * statistics.median(o[1] / o[3] for o in ops[False]),
                "peak_rss_mb": driver_peak_rss_mb(spark)},
        "diag": {"first_op_s": first_s, "ops": len(steady),
                 "items_per_s": wl.items_per_op / statistics.median(steady),
                 "op_p50_s": statistics.median(steady),
                 "op_walls_s": steady, "op_work_cpu_s": steady_cpu,
                 "op_jit_cpu_s": [o[2] for o in ops[False]],
                 "ref_work_cpu_s": ref_cpu,
                 "raw_cpu_us_per_item":
                     statistics.median(steady_cpu) * us_per_item,
                 "window_s": window_s, "window_cpu_steal": window_steal,
                 "window_items_per_s":
                     wl.items_per_op * len(steady) / window_s,
                 "fail_ratio": failed / attempted},
    }


def result_line(m: dict, metrics: dict, section: str) -> dict:
    units = {x["name"]: x["unit"] for x in load_spec()[section]}
    return {"correct": m["failed"] == 0, "attempted": m["attempted"],
            "failed": m["failed"],
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def run(args) -> dict:
    load_before, ticks = os.getloadavg(), cpu_ticks()
    spark = None
    work_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        spark, raw_setup_s = start_spark()
        wl = make_workload(args.workload, spark, args.seed, work_dir)
        m = measure(spark, wl, args.seconds, bool(args.trace))
        env = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "cores": os.cpu_count(), "driver_memory": DRIVER_MEMORY,
               "python": platform.python_version(), "spark": spark.version,
               "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                   "java.version"),
               "loadavg_before": load_before}
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
    env["loadavg_after"] = os.getloadavg()
    env["cpu_steal"] = steal_share(ticks, cpu_ticks())
    diag = {"input_gen_s": wl.gen_s, "raw_setup_s": raw_setup_s,
            "machine_speed": m["speed"], **m["diag"],
            "problems": m["problems"][:5]}
    if args.trace:
        with open(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"env": env, "spans": m["spans"]}, f)
        result = result_line(m, m["layers"], "per_layer")
    else:
        result = result_line(
            m, {"setup_s": raw_setup_s * m["speed"], **m["e2e"]},
            "end_to_end")
    return {"env": env, "diag": diag, "result": result}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["docs_suite", "incremental_ticks"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import events_validator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    # a terminated run still unwinds, so it stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out = run(args)
    print("env " + json.dumps(out["env"]))
    print("diag " + json.dumps(out["diag"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
