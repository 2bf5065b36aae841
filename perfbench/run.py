"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed while a local[nproc] session starts through the program's get_spark,
runs a warm-up pass that also times three set-ups (the median is
``setup_s``), then runs the workload closed-loop with one client until
``--seconds`` of op time are measured, checking every op's outputs
outside its timer. The last stdout line is the JSON result. ``--trace 1``
measures half the time untraced and half traced and reports the
per-layer metrics instead of the end-to-end ones. perfbench/LAYERS.md
defines every metric. Everything a run writes lives under
.perfbench_work/."""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
WALL_CAP_S = 150  # stop measuring early rather than overrun a 180 s run
SETUPS = 3
DRIVER_HEAP = "3g"
PACKAGE = "airbnb_listings_reviews_data_engineering_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["daily_etl", "analyst_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Session sizing and scratch locations, set before the JVM starts:
    the program's get_spark reads the heap size from the environment;
    Spark's local dirs, the JVM and Python temp dirs and the warehouse all
    go under the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:6.1f}s {msg}", file=sys.stderr)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session():
    from airbnb_listings_reviews_data_engineering_spark.session import get_spark

    return get_spark(app_name="perfbench", cpus=_cores())


def _stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway's JVM, and wait for it. A
    run interrupted mid-call can leave the gateway unusable, so each step
    runs even when the one before it failed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001 — the JVM is stopped below regardless
        print(f"perfbench: session stop failed: {e!r}", file=sys.stderr)
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _measure(wl, spark, tracer, seconds: float, res):
    """Run iterations until ``seconds`` of op time are measured; returns
    the session, which ``res.before_op`` may have replaced."""
    k = 0
    res.budget = seconds
    while not res.spent() and time.perf_counter() - T_START < WALL_CAP_S:
        spark = wl.iteration(spark, tracer, res, k)
        k += 1
        if not res.lat:  # every op failed: nothing will ever accumulate
            break
    return spark


def _cpu_ref_s() -> float:
    """Median of three runs of a fixed pure-Python loop: the host's speed
    at the time of the run, for reading the other timings against."""
    def once():
        t, s = time.perf_counter(), 0
        for i in range(1_000_000):
            s += i * i
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(3))


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _spark_totals(spans, cores: int) -> dict:
    """Stage counters per measured op. Measured iterations are tagged
    (k, op); probes tag theirs with a string and are left out."""
    spans = [s for s in spans if isinstance(s.iteration, tuple)]
    ops = [s for s in spans if s.name.startswith("op.")]
    tot: dict[str, float] = {}
    for s in spans:
        for key, v in s.counters.items():
            tot[key] = tot.get(key, 0) + v
    n = max(1, len(ops))
    wall = sum(s.dur for s in ops)
    cpu_s = tot.get("executor_cpu_ns", 0) / 1e9
    return {
        "spark.tasks": tot.get("tasks", 0) / n,
        "spark.executor_run_s": tot.get("executor_run_ms", 0) / 1e3 / n,
        "spark.executor_cpu_s": cpu_s / n,
        "spark.cpu_utilization": cpu_s / max(wall * cores, 1e-9),
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0) / n,
        "spark.spill_bytes": tot.get("spill_bytes", 0) / n,
        "spark.failed_tasks": tot.get("failed_tasks", 0) / n,
    }


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    import tracing
    from workloads import WORKLOADS, Results

    wl = WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        # inputs are generated while the JVM starts (the generator is
        # Python, the JVM a separate process)
        gen = threading.Thread(target=wl.generate)
        gen.start()
        t0 = time.perf_counter()
        spark = _start_session()
        session_start = time.perf_counter() - t0
        gen.join()
        if not wl.generated:
            raise RuntimeError("input generation failed")
        _log("session started, inputs generated")
        fixture = Results()
        wl.prepare(spark, fixture)
        _log("fixture prepared")
        # set-up i: the session start (cold JVM for the first, a new
        # SparkContext in the same JVM after) plus the first op after it.
        # The restarts happen during the warm-up pass, whose later ops
        # absorb the slower first op after a restart.
        restarts: list[float] = []

        def restart(current):
            if len(restarts) + 1 >= SETUPS or len(warm.lat) != len(restarts) + 1:
                return current
            current.stop()
            t = time.perf_counter()
            current = _start_session()
            restarts.append(time.perf_counter() - t)
            return current

        warm = Results(before_op=restart)
        spark = wl.warm_up(spark, tracing.Tracer(spark, enabled=False), warm)
        starts = [session_start, *restarts]
        setups = [t + op for t, op in zip(starts, warm.lat)]
        _log(f"set-ups and warm-up pass done: {' '.join(f'{x:.3f}' for x in warm.lat)}")

        seconds = args.seconds / 2 if args.trace else args.seconds
        res = Results()
        spark = _measure(wl, spark, tracing.Tracer(spark, enabled=False), seconds, res)
        _log(f"measured {len(res.lat)} ops: {' '.join(f'{x:.3f}' for x in res.lat)}")
        if args.trace:
            on = tracing.Tracer(spark, enabled=True)
            traced = Results()
            spark = _measure(wl, spark, on, seconds, traced)
            wl.probe(spark, on, traced)
            _log(f"traced {len(traced.lat)} ops")
            os.makedirs(base, exist_ok=True)
            on.dump(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        peak = _peak_rss_mb(spark)
        cpu_ref = _cpu_ref_s()
        _log(f"host reference loop {cpu_ref:.3f}s, JVM peak RSS {peak:.0f} MB")
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    runs = [fixture, warm, res, traced] if args.trace else [fixture, warm, res]
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    for e in (e for r in runs for e in r.errors):
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    if not res.lat:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    lat = res.lat
    if args.trace:
        computed = {
            "session.start_s": session_start,
            **wl.layer_metrics(on.spans, traced, res),
            **_spark_totals(on.spans, _cores()),
            "trace.overhead_s": statistics.median(traced.lat) - statistics.median(lat),
            "bench.ops_failed_ratio": failed / max(1, attempted),
            "bench.op_p90_s": _p90(lat),
            "bench.rows_per_s": res.rows / sum(lat),
            "jvm.peak_rss_mb": peak,
            "host.cpu_ref_s": cpu_ref,
        }
        declared = spec["per_layer"]
    else:
        computed = {
            "setup_s": statistics.median(setups or [session_start]),
            "op_p50_s": statistics.median(lat),
            "ops_per_s": len(lat) / sum(lat),
            "output_quality": statistics.mean(res.quality),
        }
        declared = spec["end_to_end"]
    undeclared = computed.keys() - {m["name"] for m in declared}
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # a layer this workload leaves idle reports 0
    metrics = {m["name"]: {"value": float(computed.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    _log(f"{args.workload} seed={args.seed} setups={[round(s, 3) for s in setups]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
