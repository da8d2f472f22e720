"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload refresh_read --seed 1 --seconds 5 --trace 0

It pins Spark to this host (``local[nproc]``, a quarter of MemTotal for
the driver), generates the workload's inputs from the seed, runs the
workload in a closed loop for ``--seconds``, checks the outputs and
prints two JSON lines: a ``detail`` object (host, set-up parts, the
workload's own named metrics, check failures) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1``
the metrics are the per-layer ones, folded from Spark's event log, and
the spans go to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# units of the end-to-end metrics and of the named metrics in the detail line
UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_ms": "ms",
    "build_pages_per_s": "rows/s", "build_store_mb": "MB", "refresh_p50_s": "s",
    "read_p50_ms": "ms", "series_rows_per_s": "rows/s", "stream_rows_per_s": "rows/s",
    "stream_batch_p50_ms": "ms", "op_cpu_s": "s", "setup_cpu_s": "s", "peak_rss_mb": "MB",
    "ops_failed_share": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["refresh_read", "series_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_ticks() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal (all CPUs)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_cpu_s(root: int) -> float:
    """User and system CPU seconds of ``root`` and every process under
    it (the Spark JVM, its Python workers), reaped children included.
    Time the hypervisor gave to other guests is not in it."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "load1_start": _load1(),
        "python": platform.python_version(),
    }


def pin_host(host: dict, tmp: str) -> None:
    """Size Spark to this host through the package's own environment
    variables, and keep every temporary file under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, host['mem_total_mb'] // 4)}m"
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts, the launcher included: temp files in tmp,
    # and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    tempfile.tempdir = tmp


def start_spark(tmp: str, event_dir: str | None):
    from lambdo_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # small benchmark files: pack scans by size, not one task per file
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(512 * 1024),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def run(args, host: dict, work: str, run_dir: str) -> tuple[dict, dict]:
    from perfbench.inputs import InputCache
    from perfbench.spans import Recorder, instrument
    from perfbench.workloads import WORKLOADS

    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    ticks0 = _cpu_ticks()
    cpu_start = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    spark = start_spark(os.path.join(run_dir, "tmp"), event_dir)
    try:
        import pyspark

        host["pyspark"] = pyspark.__version__
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        rec = Recorder(spark.sparkContext if args.trace else None)
        if args.trace:
            instrument(rec)
        trace_start = time.time()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](
            spark, rec, InputCache(os.path.join(work, "inputs")), run_dir, args.seed
        )
        setup = {"session_s": session_s, **wl.setup()}
        setup_cpu_s = tree_cpu_s(os.getpid()) - cpu_start
        loop_start = time.time()
        attempted = failed = 0
        failures = []
        op_cpu_s = []
        while True:
            attempted += 1
            try:
                cpu0 = tree_cpu_s(os.getpid())
                wl.op()
                op_cpu_s.append(tree_cpu_s(os.getpid()) - cpu0)
            except Exception:
                failed += 1
                failures.append(traceback.format_exc())
                break
            if time.time() - loop_start >= args.seconds:
                break
        loop_end = time.time()
        if wl.ops == 0:
            raise RuntimeError("no operation completed:\n" + "".join(failures))
        with rec.span("bench.check"):
            try:
                results = wl.check()
            except Exception:
                results = [("check", [traceback.format_exc()])]
        trace_end = time.time()
        attempted += len(results)
        for _, fails in results:
            failed += bool(fails)
            failures += fails
        e2e = {"setup_s": sum(setup.values()), "op_cpu_s": statistics.median(op_cpu_s)}
        rss_mb = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    host["load1_end"] = _load1()
    # share of this host's CPU time the hypervisor gave to other guests
    # during the run; on a shared host it explains most of the spread
    # between runs
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    host["steal_share"] = ticks[7] / max(sum(ticks), 1)
    named = {**wl.named(), **e2e, "setup_cpu_s": setup_cpu_s, "peak_rss_mb": rss_mb,
             "ops_failed_share": failed / attempted}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup": setup,
        "ops": wl.ops,
        "named": _with_units(named),
        "failures": failures,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        result["metrics"] = _with_units(e2e)
        _save(os.path.join(work, "results", f"{args.workload}-s{args.seed}.json"), e2e)
        return detail, result

    from perfbench import eventlog, layers

    att = layers.Attribution(eventlog.read(eventlog.find_log(event_dir)), rec.spans)
    nproc = host["nproc"]
    per_layer = layers.compute(att, (loop_start, loop_end), wl.ops, nproc, wl.layout_root)
    result["metrics"] = {name: {"value": per_layer[name], "unit": unit}
                         for name, unit in layers.METRICS}
    detail["accounted_share"] = att.accounted_share((trace_start, trace_end))
    untraced = _load(os.path.join(work, "results", f"{args.workload}-s{args.seed}.json"))
    if untraced:
        # traced minus untraced, as a share of the untraced value
        detail["tracing_overhead"] = {k: (e2e[k] - v) / v for k, v in untraced.items() if v}
    _save(os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json"), {
        **detail,
        "end_to_end": e2e,
        "per_layer": per_layer,
        "setup_layers": layers.compute(att, (trace_start, loop_start), 1, nproc, wl.layout_root),
        "spans": rec.spans,
    })
    return detail, result


def _with_units(metrics: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}


def _save(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)


def _load(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lambdo_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import lambdo_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    host = host_info()
    pin_host(host, tmp)
    try:
        detail, result = run(args, host, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
