"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake|wire --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --write-manifest     # regenerate BENCHMARK.json

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it name every figure with its unit and record the host. Everything
the run writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps of traced runs) in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "th2_listener_mysql_binlog_go_spark"


def _process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _git_sha() -> str:
    """HEAD's sha read from .git without running git; 'unknown' when the
    tree is not a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        return int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])


class Ctx:
    def __init__(self, spark, seed: int, seconds: float, nproc: int, work: str, tracer, ops):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.work = work
        self.tracer = tracer
        self.ops = ops


def write_manifest() -> str:
    sys.path.insert(0, ROOT)
    from perfbench import spec

    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path, "w") as fh:
        json.dump(spec.manifest(), fh, indent=2)
        fh.write("\n")
    return path


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic() - _process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["lake", "wire"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-manifest", action="store_true")
    args = ap.parse_args(argv)
    if args.write_manifest:
        print(write_manifest())
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import spec

    seconds = args.seconds if args.seconds is not None else spec.RUN_SECONDS
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the same for the short JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem")
    try:
        return _run(args, spec, seconds, nproc, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: the gateway process
    ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, spec, seconds: float, nproc: int, work: str, t_start: float) -> int:
    from th2_listener_mysql_binlog_go_spark.session import build_session

    from perfbench.trace import NullTracer, Tracer, runtime_counters
    from perfbench.workloads import WORKLOADS, Ops

    steal0, total0 = _cpu_ticks()
    spark = build_session("perfbench", master=f"local[{nproc}]", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temporary files, and its perf-counter file that
        # would otherwise go to /tmp/hsperfdata_<user>, inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        "spark.ui.showConsoleProgress": "false",
    })
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t_start
        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = Ctx(spark, args.seed, seconds, nproc, work, tracer, Ops())
        wl = WORKLOADS[args.workload](ctx)

        t = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t
        wl.warm()
        warm_s = time.monotonic() - t - prepare_s
        setup_s = time.monotonic() - t_start

        overhead = None
        if args.trace:
            # the same loop untraced, then traced: their gap is the overhead
            untraced = wl.latency(wl.measure(seconds, NullTracer()))
            rt0 = runtime_counters(spark)
            tracer.install()
            try:
                tracer.window(True)
                samples = wl.measure(seconds, tracer)
                tracer.window(False)
            finally:
                tracer.uninstall()
            overhead = wl.latency(samples) / untraced - 1.0
        else:
            rt0 = runtime_counters(spark)
            samples = wl.measure(seconds, tracer)
        rt1 = runtime_counters(spark)
        measure_s = rt1["t"] - rt0["t"]
        t = time.monotonic()
        e2e, named = wl.finish(samples)
        check_s = time.monotonic() - t

        jvm = spark._jvm
        # drop Python's py4j references first, so that the JVM objects they
        # pinned can go; the second GC collects what Spark's cleaner thread
        # released after the first
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
        jvm.System.gc()
        live_mb = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getUsed() / 2 ** 20
        steal1, total1 = _cpu_ticks()
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (_vm_hwm_mb(jvm_pid)
                  + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        e2e = {"setup_s": setup_s, **e2e, "live_heap_mb": live_mb}
        host = {
            "workload": args.workload, "seed": args.seed, "seconds": seconds,
            "trace": args.trace, "nproc": nproc, "mem_total_kb": _mem_total_kb(),
            "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "git_sha": _git_sha(),
            "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        }
        units = dict((n, u) for n, u, _b, _bd in spec.END_TO_END)
        layer_units = dict(spec.PER_LAYER)
        if args.trace:
            metrics = tracer.layer_metrics(wl.pipeline_depth)
            metrics["trace.overhead_ratio"] = overhead
            out_dir = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))
            result = {n: {"value": metrics[n], "unit": u} for n, u in spec.PER_LAYER}
        else:
            result = {n: {"value": e2e[n], "unit": units[n]} for n in units}
        ops = ctx.ops
        error_rate = ops.failed / max(ops.attempted, 1)

        print(f"# host {json.dumps(host, sort_keys=True)}")
        print(f"# phases: session {session_s:.3f} s, prepare {prepare_s:.3f} s, "
              f"warm-up {warm_s:.3f} s, measured {measure_s:.3f} s, checked {check_s:.3f} s")
        print(f"# measured window: {rt1['jobs'] - rt0['jobs']} spark jobs, "
              f"{rt1['tasks'] - rt0['tasks']} tasks, "
              f"{(rt1['gc_ms'] - rt0['gc_ms']) / 1000:.3f} s jvm gc")
        print(f"# samples {json.dumps(samples, default=lambda x: round(x, 4))}")
        for n, v in e2e.items():
            print(f"{n} {v:.6g} {units[n]}")
        for n, (v, u) in named.items():
            print(f"{args.workload}.{n} {v:.6g} {u}")
        print(f"peak_rss_mb {rss_mb:.6g} MB")
        print(f"error_rate {error_rate:.6g} ratio ({ops.failed}/{ops.attempted})")
        if ops.errors:
            print(f"# failed: {ops.errors[:20]}")
        if args.trace:
            for n, u in spec.PER_LAYER:
                print(f"{n} {metrics[n]:.6g} {layer_units[n]}")
    finally:
        _stop(spark)

    # a metric with no samples (every attempt failed) is not a number: the
    # run is then incorrect, and the value is written as 0 to stay JSON
    finite = all(math.isfinite(m["value"]) for m in result.values())
    for m in result.values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    correct = ops.failed == 0 and finite
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
