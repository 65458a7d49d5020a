"""Benchmark runner.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One workload per process, on
``local[<cpus>]``; see perfbench/README.md for the workloads and metrics.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
layer wrappers and prints the per-layer metrics.  The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
full run record (per-query or per-batch detail, failures, spans) is
written to ``perfbench/_out/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import tracer as tracing  # noqa: E402

E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s_geomean": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
STREAM_UNITS = {
    "batches": "count",
    "rows_in": "count",
    "state_rows": "count",
    "state_memory_bytes": "bytes",
    "rows_dropped_by_watermark": "count",
}
LAYERS = {
    "op_s_p50": "s",
    "op_s_tail": "s",
    "host.calibration_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "schemas.load_table.calls": "count",
    "schemas.load_table.s": "s",
    "pyspark.read.calls": "count",
    "functions.graph.s": "s",
    "functions.dedup.s": "s",
    "functions.similarity.s": "s",
    "functions.arrowops.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    **{
        f"streaming.{stage}.{field}": STREAM_UNITS.get(field, "s")
        for stage in ("bronze_to_silver", "silver_to_gold", "gold_to_serving")
        for field in (
            "batches", "rows_in", "add_batch_s", "query_planning_s", "wal_commit_s",
            "commit_offsets_s", "latest_offset_s", "state_commit_s", "state_rows",
            "state_memory_bytes", "rows_dropped_by_watermark",
        )
    },
    "io.sinks.insert_if_absent.calls": "count",
    "io.sinks.insert_if_absent.s": "s",
    "io.sinks.upsert_state.s": "s",
    "io.sinks.read_buckets.s": "s",
    "io.serving.write.s": "s",
    "io.serving.compact.calls": "count",
    "silver.useful_ratio": "ratio",
    "checks.failed_frac": "ratio",
    "trace.pass_s": "s",
    "trace.spans": "count",
}
#: metric → (span layer, field of tracer.layer_totals), divided by passes
SPAN_LAYERS = {
    "schemas.load_table.calls": ("schemas.load_table", "calls"),
    "schemas.load_table.s": ("schemas.load_table", "s"),
    "pyspark.read.calls": ("pyspark.read", "calls"),
    "functions.graph.s": ("functions.graph", "self_s"),
    "functions.dedup.s": ("functions.dedup", "self_s"),
    "functions.similarity.s": ("functions.similarity", "self_s"),
    "functions.arrowops.s": ("functions.arrowops", "self_s"),
    "io.sinks.insert_if_absent.calls": ("io.sinks.insert_if_absent", "calls"),
    "io.sinks.insert_if_absent.s": ("io.sinks.insert_if_absent", "s"),
    "io.sinks.upsert_state.s": ("io.sinks.upsert_state", "s"),
    "io.sinks.read_buckets.s": ("io.sinks.read_buckets", "s"),
    "io.serving.write.s": ("io.serving.write", "s"),
    "io.serving.compact.calls": ("io.serving.compact", "calls"),
}


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: how fast this host runs now,
    to tell a slower host from a slower engine when comparing runs."""
    t = time.perf_counter()
    total = 0
    for i in range(5_000_000):
        total += i
    return time.perf_counter() - t


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_spark(app: str, work: str, streaming: bool):
    from kafka_streaming_spark.session import build_session

    n = cpus()
    tmp = f"{work}/tmp"
    spark = build_session(
        app_name=app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        streaming=streaming,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # one JVM per run on a shared 4-core / 15 GB host: a 2 GiB
            # heap holds the small-scale query plans and the backfill's
            # state (the engine default is sized for 32 cores).  A fixed
            # heap and young generation keep the resident set from run to
            # run within ~3%; with adaptive sizing it varied by ~20%.
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the Spark session and its driver JVM, and wait until the JVM
    has ended: ``SparkContext.stop`` leaves the JVM up for reuse, and it
    only exits on its own some time after this process does."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    try:
        if sc is not None:
            sc.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that ``reap`` can wait for them too."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER = 36


def children() -> list[int]:
    """Processes whose parent is this one, zombies included."""
    me = str(os.getpid())
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    found.append(int(name))
        except (OSError, IndexError):
            continue
    return found


def reap(grace_s: float = 30.0) -> None:
    """Wait until every child has ended, and collect it: as a subreaper,
    that is every process the run started.  Terminate those still running
    after ``grace_s``, then kill what is left."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in children():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def layer_metrics(wl, tracer, n_passes: int) -> dict[str, float]:
    out = dict.fromkeys(LAYERS, 0.0)
    out.update(wl.layers())
    totals = tracing.layer_totals(tracer.spans)
    for metric, (layer, field) in SPAN_LAYERS.items():
        out[metric] = totals.get(layer, {}).get(field, 0.0) / n_passes
    out["trace.pass_s"] = statistics.median(wl.passes)
    out["trace.spans"] = len(tracer.spans) / n_passes
    return out


def per_pass_counts(tracer, layer: str) -> list[int]:
    """Calls of ``layer`` in each pass of a query workload: a query's spans
    carry its name as ``ctx``, and its k-th build span opens pass k."""
    pass_of: dict[str, int] = {}
    counts: list[int] = []
    for s in tracer.spans:
        if s["name"] == "queries.build":
            pass_of[s["ctx"]] = pass_of.get(s["ctx"], -1) + 1
            counts.extend([0] * (pass_of[s["ctx"]] + 1 - len(counts)))
        elif s["name"] == layer and s["ctx"] in pass_of:
            counts[pass_of[s["ctx"]]] += 1
    return counts


def run(args) -> dict:
    work = f"{BENCH}/_work/{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    become_subreaper()
    try:
        return measure(args, work)
    finally:
        try:
            stop_spark()
        finally:
            reap()
            shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> dict:
    sys.path.insert(0, ROOT)
    import workloads  # imports the engine

    import_s = time.perf_counter() - T_START
    calibration_s = calibrate()
    wl = workloads.make(args.workload, args.seed, work)
    gen_s = []
    for _ in range(3):
        t = time.perf_counter()
        wl.setup()
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    spark = build_spark(f"perfbench-{args.workload}", work, wl.streaming)
    try:
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t
        tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
        tracer.install()
        try:
            wl.window(spark, tracer, args.seconds)
        finally:
            tracer.uninstall()
        rss = peak_rss_mb(spark)
        failures = wl.check()
        attempted = wl.attempted()
    finally:
        stop_spark()
    if args.trace and not wl.streaming:
        counts = per_pass_counts(tracer, "schemas.load_table")
        attempted += 1
        if len(set(counts)) != 1 or counts[0] == 0:
            failures.append(f"load_table calls per pass differ or are zero: {counts}")
    samples = wl.samples()
    tail_v, tail_p, tail_n = stats.tail(samples)
    failed = len(failures)
    layers = layer_metrics(wl, tracer, len(wl.passes))
    layers["op_s_p50"] = statistics.median(samples)
    layers["op_s_tail"] = tail_v
    layers["host.calibration_s"] = calibration_s
    layers["checks.failed_frac"] = failed / attempted
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus(),
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "end_to_end": {
            "setup_s": import_s + statistics.median(gen_s) + session_s + warmup_s,
            "pass_s": statistics.median(wl.passes),
            "op_s_geomean": stats.geomean(samples),
            "throughput_per_s": wl.throughput(),
            "peak_rss_mb": rss,
        },
        "tail": {"percentile": tail_p, "samples": tail_n},
        "setup": {
            "import_s": import_s,
            "generate_s": gen_s,
            "session_s": session_s,
            "warmup_s": warmup_s,
        },
        "layers": layers,
        "detail": wl.record(),
        "spans": tracer.spans,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        rec = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    os.makedirs(f"{BENCH}/_out", exist_ok=True)
    path = f"{BENCH}/_out/{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    units = LAYERS if args.trace else E2E
    values = rec["layers"] if args.trace else rec["end_to_end"]
    print(
        json.dumps(
            {
                "correct": rec["correct"],
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
