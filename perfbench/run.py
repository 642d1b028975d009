#!/usr/bin/env python3
"""sparklog benchmark: seeded workloads, each one process on
local[nproc], measured end to end from outside the program.

    python3 perfbench/run.py --workload stream_ingest|ingest_replay|batch|search \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with the Spark UI off; ``--trace 1`` is a separate run with the
UI on, per-phase job groups, a py4j command counter and a streaming
progress listener, and reports the per-layer metrics. Both print a
human report, then one JSON line (the last line of stdout); the full
record (every operation's layer metrics, spans with self time, host
facts) goes to ``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics, reported by every workload (name, unit)
END_TO_END = [
    ("setup_s", "s"),
    ("op_s", "s"),
    ("pass_s", "s"),
    ("jvm_heap_after_gc_mb", "MB"),
]
#: printed and recorded but left out of the JSON line: on a shared
#: 4-core host their run-to-run spread is too wide to bound
#: (perfbench/baseline.json records it)
REPORTED = [("cold_pass_s", "s"), ("jvm_peak_rss_mb", "MB")]
#: per-layer metrics every workload exercises: mean per operation
#: over the warm passes of a traced run
PER_LAYER = [
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.cpu_s", "s"),
    ("exec.run_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.core_busy_frac", "ratio"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.input_mb", "MB"),
    ("exec.output_mb", "MB"),
    ("catalyst.plan_s", "s"),
    ("py4j_calls", "count"),
    ("driver.self_s", "s"),
]
#: session starts per run after the workload, in the warmed JVM;
#: setup_s is their median
SETUP_REPS = 5
#: the xxhash64 fold bench.py uses as its host-speed calibration,
#: sized for a few cores
CALIB_ROWS = 200_000_000


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    inputs: str
    cores: int
    tracer: object | None


def _percentiles(xs: list[float]) -> dict[str, float | int]:
    """Median, and the highest of p75/p90/p95/p99 with at least ten
    samples beyond it, with the sample count."""
    out: dict[str, float | int] = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    s = sorted(xs)
    for p in (99, 95, 90, 75):
        if len(s) * (100 - p) / 100.0 >= 10:
            out[f"p{p}"] = statistics.quantiles(s, n=100, method="inclusive")[p - 1]
            break
    return out


def _env(cores: int, work: str, trace: bool) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"  # a fixed heap, so runs compare
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # JVM scratch (native-library extraction, tmp files) inside the work
    # dir; no hsperfdata file in /tmp; no console progress bars
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" --conf spark.ui.showConsoleProgress=false pyspark-shell'
    )


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _jvm_heap_after_gc_mb(spark) -> float:
    """Heap still in use after a full collection: what the run retains.
    Python collects first, so py4j releases the JVM objects its dead
    proxies pinned; the JVM collects twice, because Spark's
    ContextCleaner frees the blocks and broadcasts of unreachable
    datasets only after a first collection has enqueued them."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def _calibration(spark, cores: int) -> float:
    from pyspark.sql import functions as F

    def one(n: int) -> float:
        t0 = time.perf_counter()
        spark.range(n, numPartitions=cores).select(F.expr("bit_xor(xxhash64(id))")).collect()
        return time.perf_counter() - t0

    one(CALIB_ROWS // 1000)
    return one(CALIB_ROWS)


def _shutdown() -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM to exit.
    Runs on every exit, also after a failure or SIGTERM has left the
    gateway unusable, so errors are reported and the JVM still stopped."""
    from pyspark import SparkContext

    sc, gw = SparkContext._active_spark_context, SparkContext._gateway
    for stop in ((sc.stop,) if sc is not None else ()) + ((gw.shutdown,) if gw is not None else ()):
        try:
            stop()
        except Exception as e:  # teardown must go on to the JVM process
            print(f"perfbench: teardown: {type(e).__name__}: {e}", file=sys.stderr)
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _summary(wl, res, setup_times: list[float], checks: list[str]) -> tuple[dict, dict]:
    """End-to-end metrics (the names BENCHMARK.json declares) and the
    workload's own named metrics from one run."""
    # measured operations; a stream's no-data micro-batches are fixed
    # cost that pass_s carries
    warm = [op for op in res.ops if op.pass_no >= 1 and op.error is None]
    if wl.name == "stream_ingest":
        warm = [op for op in warm if op.records > 0]
    by_name: dict[str, list[float]] = {}
    for op in warm:
        by_name.setdefault(op.name, []).append(op.seconds)
    medians = {name: statistics.median(xs) for name, xs in by_name.items()}
    lat = _percentiles([op.seconds for op in warm])
    warm_wall = sum(res.passes[1:])
    e2e = {
        "setup_s": statistics.median(setup_times),
        # each kind of operation weighs the same, so a change to any
        # one job moves it, however short that job is
        "op_s": statistics.geometric_mean(medians.values()) if medians else float("nan"),
        "pass_s": statistics.median(res.passes[1:]) if len(res.passes) > 1 else float("nan"),
        "cold_pass_s": res.passes[0],
    }
    attempted = len(res.ops)
    failed = min(attempted, sum(op.error is not None for op in res.ops) + len(checks))
    own: dict[str, object] = {"failed_frac": failed / attempted if attempted else 1.0, "latency": lat}
    if wl.name == "stream_ingest":
        own["ingest.rows_per_s"] = sum(res.pass_records[1:]) / warm_wall if warm_wall else float("nan")
        own["ingest.batch_p50_s"] = lat.get("p50", float("nan"))
    elif wl.name == "search":
        own["search.latency_p50_s"] = lat.get("p50", float("nan"))
        own["search.latency_hi_s"] = {k: v for k, v in lat.items() if k not in ("p50",)}
        own["search.cold_pass_s"] = e2e["cold_pass_s"]
    elif wl.name == "ingest_replay":
        own["batch.ingest_replay_s"] = medians.get("ingest_replay", float("nan"))
    else:
        own["batch.total_s"] = e2e["pass_s"]
        for job in ("prefix_filter", "decontaminate", "editdist"):
            own[f"batch.{job}_s"] = medians.get(job, float("nan"))
    return e2e, own | {"attempted": attempted, "failed": failed, "op_medians_s": medians}


def _layer_summary(wl, res) -> dict[str, float]:
    warm = [op for op in res.ops if op.pass_no >= 1 and not (wl.name == "stream_ingest" and op.records == 0)]
    names = sorted({k for op in warm for k in op.layers})
    return {k: statistics.fmean(op.layers.get(k, 0.0) for op in warm) for k in names} if warm else {}


def _latest_untraced(workload: str, seed: int) -> dict | None:
    path = os.path.join(ROOT, ".perfbench", "results", f"{workload}-s{seed}-trace0.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["stream_ingest", "ingest_replay", "batch", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "irclogbot_spark")):
        print(f"perfbench: no irclogbot_spark package under {ROOT}; run from a sparklog checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(cores, work, bool(args.trace))
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, cores, work)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        # the program's at-rest index memos live in per-process /tmp dirs
        for d in glob.glob(f"/tmp/sparklog_*_p{os.getpid()}"):
            shutil.rmtree(d, ignore_errors=True)


def _run(args, cores: int, work: str) -> int:
    import workloads
    from oracle import Oracle
    from tracing import Tracer

    from irclogbot_spark.session import get_spark

    # the seeded inputs, once; the benchmark's own work, so untimed
    inputs = os.path.join(work, "inputs")
    ctx = Context(None, args.seed, work, inputs, cores, None)
    wl = workloads.WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.generate(inputs)
    gen_s = time.perf_counter() - t0

    # the first session start also launches the JVM
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]")
    jvm_start_s = time.perf_counter() - t0
    ctx.spark = spark

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.count_py4j(spark)
        ctx.tracer = tracer

    t0 = time.perf_counter()
    res = wl.run(args.seconds)
    run_s = time.perf_counter() - t0
    if args.trace:
        wl.attach_layers(res)
    rss = _jvm_peak_rss_mb(spark)
    heap = _jvm_heap_after_gc_mb(spark)

    # set-up, several times: the program's session start, timed after
    # the workload in the warmed JVM (starts made right after the JVM
    # launch varied two-fold from run to run). Stopping the previous
    # session is untimed.
    setup_times = []
    for _ in range(SETUP_REPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]")
        setup_times.append(time.perf_counter() - t0)

    # output checks, outside the timed path
    t0 = time.perf_counter()
    oracle = Oracle(os.path.join(inputs, "corpus"))
    try:
        checks = wl.check(res, oracle)
    finally:
        oracle.close()
    check_s = time.perf_counter() - t0

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "calibration_rows": CALIB_ROWS,
        "calibration_s": _calibration(spark, cores),
        "generate_s": gen_s,
        "jvm_start_s": jvm_start_s,
        "run_s": run_s,
        "check_s": check_s,
    }
    e2e, own = _summary(wl, res, setup_times, checks)
    e2e["jvm_peak_rss_mb"] = rss
    e2e["jvm_heap_after_gc_mb"] = heap
    record = {
        "env": env,
        "end_to_end": e2e,
        "workload_metrics": own,
        "setup_times_s": setup_times,
        "passes_s": res.passes,
        "failures": res.failures + checks,
        "ops": [{"kind": op.kind, "name": op.name, "pass": op.pass_no, "seconds": op.seconds, **op.layers} for op in res.ops],
    }

    print(" ".join(f"{k}={v}" for k, v in env.items()))
    for name, unit in END_TO_END + REPORTED:
        print(f"  {name:<22} {e2e[name]:>14.4f} {unit}")
    for k, v in own.items():
        if isinstance(v, float):
            print(f"  {args.workload}:{k:<26} {v:>14.4f}")
        else:
            print(f"  {args.workload}:{k:<26} {v}")
    for f in record["failures"]:
        print(f"  FAILED: {f}")

    if args.trace:
        means = _layer_summary(wl, res)
        record["per_layer_mean"] = means
        record["spans"] = tracer.self_times()
        base = _latest_untraced(args.workload, args.seed)
        if base is not None:
            record["trace_overhead"] = {
                k: (e2e[k] - base["end_to_end"][k]) / base["end_to_end"][k]
                for k in e2e
                if base["end_to_end"].get(k)
            }
        print("  per-layer, mean per warm operation:")
        for k, v in means.items():
            print(f"    {k:<28} {v:>14.4f}")
        print("  per operation:")
        for i, op in enumerate(record["ops"]):
            layers = " ".join(f"{k}={v:.4g}" for k, v in sorted(op.items()) if k not in ("kind", "name", "pass", "seconds"))
            print(f"    op{i} pass{op['pass']} {op['kind']}:{op['name']} {op['seconds']:.4f}s {layers}")
        print("  spans (duration, self time):")
        for s in record["spans"]:
            print(f"    #{s['sid']} op{s['op']} {s['name']} parent={s['parent']} {s['dur_s']:.4f}s self {s['self_s']:.4f}s")
        for k, v in record.get("trace_overhead", {}).items():
            print(f"  trace overhead {k:<20} {100 * v:+.1f}% vs untraced seed {args.seed}")
        metrics = {n: {"value": means.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    failed = own["failed"]
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": own["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
