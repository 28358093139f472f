#!/usr/bin/env python3
"""The repository benchmark: one command, seeded, single process.

    python3 perfbench/run.py --workload search --seed 1 --seconds 7 --trace 0

Runs a closed loop (one client, the next op after the previous one
returns) against the unchanged package on `local[<cores>]`, checks
every delivered result outside the timed section, and prints as its
last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics`. With `--trace 0` the metrics are the end-to-end ones;
with `--trace 1` a separately traced run reports the per-layer ones
and writes its span file. `--workload a,b` runs each named workload in
its own process and prefixes every metric with the workload name.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "io.warm_cache_s": "s",
    "io.cache_mb": "MB",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.job_floor_ms": "ms",
    "exchange.count": "count",
    "exchange.shuffle_bytes": "B",
    "exchange.shuffle_records": "count",
    "exec.run_ms": "ms",
    "exec.scan_rows": "count",
    "exec.spill_bytes": "B",
    "exec.peak_mem_bytes": "B",
    "python.worker_ms": "ms",
    "transfer.result_rows": "count",
    "transfer.result_bytes": "B",
    "plans.compile_ms": "ms",
    "search.find_ms": "ms",
    "search.page_ms": "ms",
    "search.rows_examined_per_returned": "ratio",
    "sources.read_ms": "ms",
    "sources.scans": "count",
    "validation.validate_ms": "ms",
    "sinks.upsert_ms": "ms",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.partitions_rewritten": "count",
    "sinks.write_amp": "ratio",
    "sinks.store_bytes_per_obs": "B",
    "jvm.gc_ms": "ms",
    "jvm.heap_used_mb": "MB",
    "driver.peak_rss_mb": "MB",
}
# A 1-task job above this many ms means the box is not idle: measured
# at 20-45 ms on an idle 4-core box (see README.md).
SOLO_FLOOR_MS = 70.0
# Steal above this share of CPU time during the timed loop means a
# co-tenant took part of this box's CPUs: runs at 2-9% steal were 20-50%
# slower than runs below 1.3% (see README.md).
MAX_STEAL = 0.02


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   help="search, ingest, pipeline, analytics, or a comma-separated subset")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="scale factor of the generated tables (tests use 0.001)")
    return p.parse_args(argv)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _floor_ms(spark, n: int = 5, warm: int = 3) -> float:
    """Median wall time of a 1-task job delivered to the client, after
    `warm` untimed runs (the floor's own first runs compile)."""
    df = spark.range(1)
    for _ in range(warm):
        df.toArrow()
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        df.toArrow()
        out.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(out)


def _alive(pid: int) -> bool:
    """`pid` runs: it exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _proc_tree(pid: int) -> list[int]:
    """Every live process below `pid`, read from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            kids.setdefault(int(ppid), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _stop_processes(grace_s: float = 30.0) -> None:
    """Stop the JVM this process launched and every process below it
    (Python workers), and wait until each has ended. SparkContext.stop
    leaves the JVM running: it exits when its stdin closes, which would
    otherwise happen only as this process exits, so it would outlive
    the run."""
    from pyspark import SparkContext

    tree = _proc_tree(os.getpid())
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM is stopped below either way
            traceback.print_exc(file=sys.stderr)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            while _alive(pid):
                time.sleep(0.05)


def _environment(run_dir: str) -> None:
    """Keep every file the JVM and Python write inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _setup(workload, sf_dir: str, run_dir: str) -> tuple[object, dict, dict]:
    """One set-up: session, registry, warm cache. Returns the session,
    the registry and the three timings in seconds."""
    from ocdb_server_spark.io import warm_cache
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        profile="interactive",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ops = load_all()
    t2 = time.perf_counter()
    if workload.tables:
        warm_cache(spark, sf_dir, names=workload.tables)
    t3 = time.perf_counter()
    return spark, ops, {
        "session.start_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
        "io.warm_cache_s": t3 - t2,
    }


def _summarize_layers(per_op: list[dict], setup: dict, extra: dict) -> dict:
    out = {**setup, **extra}
    for key in PER_LAYER:
        if key in out:
            continue
        vals = [d[key] for d in per_op if key in d]
        if key == "plans.compile_ms":
            vals = [v for v in vals if v > 0]  # requests with an expr
        if not vals:
            out[key] = 0.0
        elif key.endswith(("_ms", "_mb")):
            out[key] = statistics.median(vals)
        else:
            out[key] = statistics.fmean(vals)
    return out


def run_workload(args: argparse.Namespace) -> dict:
    # import the package first: without it there is nothing to measure
    import ocdb_server_spark  # noqa: F401
    from ocdb_server_spark.io import clear_cache
    from tables import ensure_tables
    from layers import JobCounter, Jvm, Tracer, cache_mb
    from workloads import WORKLOADS, Context, OpResult

    workload = WORKLOADS[args.workload]()
    sf_dir = ensure_tables(os.path.join(WORK, "tables"), args.scale)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    spark = None
    try:
        # inputs first: generation is neither set-up nor timed
        phases = {"start": time.perf_counter()}
        workload.make_inputs(run_dir, args.seed, args.seconds)
        phases["inputs"] = time.perf_counter()

        # one cold set-up: JVM launch, first registry load, first cache fill
        spark, ops, setup = _setup(workload, sf_dir, run_dir)
        warm_mb = cache_mb(spark)
        phases["setup"] = time.perf_counter()

        tracer = Tracer(enabled=False)
        ctx = Context(spark, sf_dir, ops, args.seed, tracer)
        workload.prepare(ctx)
        workload.warmup(ctx)
        phases["warmup"] = time.perf_counter()
        tracer.enabled = bool(args.trace)
        jvm = Jvm(spark)
        if args.trace:
            ctx.jobs = JobCounter(spark)

        load_before = os.getloadavg()
        floor_before = _floor_ms(spark)
        cpu_before = _cpu_jiffies()
        results = []
        probe_s = 0.0
        gc_prev = jvm.gc_ms()
        t_start = time.perf_counter()
        # whole cycles only, so every run of a workload has the same op mix
        while (time.perf_counter() - t_start - probe_s < args.seconds
               or not workload.at_cycle_end()):
            i = len(results)
            try:
                res = workload.run_op(ctx, i)
            except Exception as e:  # a failing op is counted, never retried
                res = OpResult(f"op{i}", 0.0, error=f"{type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            results.append(res)
            if args.trace:
                p0 = time.perf_counter()
                gc_now = jvm.gc_ms()
                res.layers["jvm.gc_ms"] = gc_now - gc_prev
                gc_prev = gc_now
                res.layers["jvm.heap_used_mb"] = jvm.heap_used_mb()
                res.layers["scheduler.job_floor_ms"] = _floor_ms(spark, 1, warm=0)
                probe_s += time.perf_counter() - p0
        wall = time.perf_counter() - t_start - probe_s
        cpu = [b - a for a, b in zip(cpu_before, _cpu_jiffies())]
        # the hypervisor's share: time this VM's CPUs were ready but not run
        steal_frac = cpu[7] / max(1, sum(cpu))
        floor_after = _floor_ms(spark)
        load_after = os.getloadavg()

        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(
            spark._jvm.java.lang.ProcessHandle.current().pid())) / 1024

        phases["timed"] = time.perf_counter()
        bad = workload.check(ctx, results)
        phases["check"] = time.perf_counter()
        for i, r in enumerate(results):
            if r.error is not None:
                bad[i] = f"{r.label}: raised {r.error}"
        attempted = len(results)
        failed = len(bad)
        lat = [r.ms for r in results if r.error is None] or [0.0]
        metrics = {
            "setup_s": sum(setup.values()),
            "op_p50_ms": statistics.median(lat),
            "ops_per_s": attempted / wall,
            "ok_frac": 1.0 - failed / attempted,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "scale": args.scale,
            "setup_parts_s": setup,
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "job_floor_ms_before": floor_before,
            "job_floor_ms_after": floor_after,
            "cpu_steal_frac": steal_frac,
            "loaded": max(floor_before, floor_after) > SOLO_FLOOR_MS or steal_frac > MAX_STEAL,
            "phase_s": {k: round(v - prev, 3) for (k, v), prev in
                        zip(list(phases.items())[1:], list(phases.values()))},
            "failures": {str(i): why for i, why in sorted(bad.items())},
            # too few ops per run for a bounded p90 (see README.md)
            "op_p90_ms": _quantile(lat, 0.9),
            "ops": [[r.label, round(r.ms, 3)] for r in results],
            "peak_rss_mb": rss_mb,
            **workload.detail(results),
        }
        if args.trace:
            layers = _summarize_layers(
                [r.layers for r in results], setup,
                {"io.cache_mb": warm_mb, "driver.peak_rss_mb": rss_mb,
                 **getattr(workload, "layer_totals", {})},
            )
            detail["end_to_end_traced"] = metrics
            detail["self_ms"] = tracer.self_times_ms()
            out_dir = os.path.join(WORK, "out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            tracer.write(span_file)
            detail["span_file"] = os.path.relpath(span_file, ROOT)
            reported, units = layers, PER_LAYER
        else:
            reported, units = metrics, END_TO_END
        print(json.dumps(detail))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": reported[k], "unit": u} for k, u in units.items()},
        }
    finally:
        try:
            if spark is not None:
                clear_cache()
                spark.stop()
        finally:
            _stop_processes()
            shutil.rmtree(run_dir, ignore_errors=True)


def run_many(args: argparse.Namespace, names: list[str]) -> dict:
    """Each workload in its own process; metrics prefixed by workload."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            try:
                stdout, _ = proc.communicate()
            finally:
                if proc.poll() is None:  # interrupted: let it stop its JVM
                    proc.terminate()
                    proc.wait()
        if proc.returncode != 0:
            raise subprocess.CalledProcessError(proc.returncode, cmd)
        lines = stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        one = json.loads(lines[-1])
        out["correct"] = out["correct"] and one["correct"]
        out["attempted"] += one["attempted"]
        out["failed"] += one["failed"]
        out["metrics"].update({f"{name}.{k}": v for k, v in one["metrics"].items()})
    return out


def main(argv: list[str]) -> int:
    # SIGTERM unwinds like an exception, so the JVM is stopped on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    names = args.workload.split(",")
    from workloads import WORKLOADS

    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"unknown workload(s) {unknown}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run_workload(args) if len(names) == 1 else run_many(args, names)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
