"""Round-12 optimization harness: time a SUBSET of registry queries with
bench-identical methodology inside ONE hot JVM, interleaving config
variants so ambient drift and JIT state cancel out.

Methodology (guide §1): an UNTIMED full pass first (codegen + C2 JIT +
page cache for exactly these plans), then R interleaved timed passes per
variant (A,B,A,B,...), per-query min per variant.  Runtime-settable SQL
confs only (preferSortMergeJoin, AQE knobs, ...).

Usage:
    python tools/opt_r12.py --top 30 --repeat 2
    python tools/opt_r12.py x_hits_rank --variant base \\
        --variant spark.sql.join.preferSortMergeJoin=false
    python tools/opt_r12.py x_hits_rank --explain plans/r11 --suffix before

Prints one JSON line per (variant, query) and a per-variant total.
Measurement tool only — not part of the bench contract.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streaming_spark.queries import REGISTRY  # noqa: E402
from kafka_streaming_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_variant(spec: str) -> dict[str, str]:
    """'k1=v1,k2=v2' -> dict; 'base' -> {}.

    Keys starting with ``env:`` set process environment variables instead
    of SQL confs — the r12 extension that lets CODE-PATH toggles (an env
    var read inside a query/function body at plan-build time) interleave
    in the same JVM exactly like conf variants, so ambient drift cancels
    for code A/Bs too."""
    if spec == "base":
        return {}
    out = {}
    for kv in spec.split(","):
        k, _, v = kv.partition("=")
        out[k] = v
    return out


def apply_variant(spark, conf: dict[str, str]) -> dict[str, str | None]:
    """Set a variant's confs and env vars.  Returns each key's value from
    before the variant (None when it had none), for :func:`clear_variant`."""
    prior: dict[str, str | None] = {}
    for k, v in conf.items():
        if k.startswith("env:"):
            prior[k] = os.environ.get(k[4:])
            os.environ[k[4:]] = v
        else:
            prior[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
    return prior


def clear_variant(spark, prior: dict[str, str | None]) -> None:
    """Undo :func:`apply_variant`: put back the value each key had before
    the variant.  Unsetting instead would drop a session value (one of
    ``session.BASE_CONF``'s) to Spark's default for every later variant."""
    for k, v in prior.items():
        if k.startswith("env:"):
            if v is None:
                os.environ.pop(k[4:], None)
            else:
                os.environ[k[4:]] = v
        elif v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0,
                    help="add the N slowest queries from BENCH_DETAIL.json")
    ap.add_argument("--skip-stream", action="store_true",
                    help="drop t_stream_* witnesses from the list")
    ap.add_argument("--repeat", type=int, default=2,
                    help="timed passes per variant (interleaved)")
    ap.add_argument("--variant", action="append", default=[],
                    help="'base' or comma-joined k=v runtime SQL confs")
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>_<suffix>.txt plans into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-warm-pass", action="store_true")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            hist = json.load(f)["queries"]
        ranked = [n for n, _ in sorted(hist.items(), key=lambda kv: -kv[1])
                  if n in REGISTRY]
        for n in ranked:
            if len(names) >= args.top + len(args.names):
                break
            if n not in names:
                names.append(n)
    if args.skip_stream:
        names = [n for n in names if not n.startswith("t_stream")]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    variants = [parse_variant(v) for v in args.variant] or [{}]

    spark = build_session(
        app_name="kss-opt-r11",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        streaming=True,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "32g",
            "spark.sql.ui.retainedExecutions": "20",
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Bench-identical warmups: scan/codegen + zorder layout + Arrow pool.
    next(iter(REGISTRY.values()))[0](spark, SF_DIR).count()
    from kafka_streaming_spark.queries import ensure_zorder_layout

    ensure_zorder_layout(spark, SF_DIR)
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):
        return v * 1.0

    spark.range(0, int(CPUS) * 100, 1, int(CPUS)).select(
        _warm(F.col("id").cast("double"))
    ).count()

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = REGISTRY[name][0](spark, SF_DIR)
            je = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            with open(
                os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(je.explainString(mode))
            spark.catalog.clearCache()

    def run_one(name: str) -> float:
        spark.sparkContext.setJobDescription(f"opt_r12:{name}")
        t0 = time.perf_counter()
        REGISTRY[name][0](spark, SF_DIR).count()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        return el

    if not args.no_warm_pass:
        t0 = time.perf_counter()
        for name in names:
            run_one(name)
        print(json.dumps({"warm_pass_sec": round(time.perf_counter() - t0, 3)}),
              flush=True)

    # Interleaved timed passes: variant order A,B,...,A,B,... so slow
    # ambient drift hits all variants equally.
    best: list[dict[str, float]] = [dict() for _ in variants]
    for _ in range(args.repeat):
        for vi, conf in enumerate(variants):
            prior = apply_variant(spark, conf)
            vtot = 0.0
            for name in names:
                el = run_one(name)
                vtot += el
                best[vi][name] = min(best[vi].get(name, float("inf")), el)
            print(json.dumps({"variant": args.variant[vi] if args.variant else "base",
                              "pass_sec": round(vtot, 3)}), flush=True)
            clear_variant(spark, prior)

    for vi, timings in enumerate(best):
        label = args.variant[vi] if args.variant else "base"
        print(json.dumps({"variant": label,
                          "total_min_sec": round(sum(timings.values()), 3),
                          "queries": {k: round(v, 3) for k, v in sorted(
                              timings.items(), key=lambda kv: -kv[1])}}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
