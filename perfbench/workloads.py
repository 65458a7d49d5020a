"""The benchmark's workloads.  Each one drives the engine through its public
functions: ``setup`` makes the seeded inputs, ``warmup`` runs a small job
of the same kind, ``window`` runs whole passes until the measuring window
is over, and ``check`` verifies every output outside the timed region."""

from __future__ import annotations

import json
import random
import re
import time

import pandas as pd
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafka_streaming_spark.io.generator import EventGenerator
from kafka_streaming_spark.io.sources import file_stream
from kafka_streaming_spark.queries import REGISTRY
from kafka_streaming_spark.schemas import EVENT_SCHEMA
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline

import datagen
from oracle import Oracle
from spark_counters import ZERO, SparkCounters, add

OPERATORS = [
    "x_pagerank_trade",
    "x_label_propagation",
    "x_bfs_hops",
    "x_kcore_trade",
    "x_dedup_clusters",
    "x_prefix_filter_join",
    "x_kmeans_embeddings",
    "x_resource_allocation",
    "x_kaplan_meier",
    "x_grouped_median_pandas",
]
#: Warm-up queries: the registry's first entry, a graph join, a dedup and
#: an Arrow UDF.  Adding ``x_minhash_near_dup`` warms the minhash path so
#: far that a pass drops from ~24 s to ~15 s, but its spread across seeds
#: grows, so the pass keeps those first-execution costs.
WARMUP = ["p_parse_project", "x_triangle_count", "x_doc_exact_dedup", "x_arrow_grouped_stats"]
STAGES = ("bronze_to_silver", "silver_to_gold", "gold_to_serving")


class QueryWorkload:
    """Closed loop, one client: every pass runs each query once, in an
    order the seed permutes, timing ``fn(spark, sf)`` (build) and
    ``collect()`` (exec) separately."""

    streaming = False

    def __init__(self, names: list[str], sf: float, seed: int, work: str):
        self.names = list(names)
        self.sf = sf
        self.seed = seed
        self.sf_dir = f"{work}/tables"
        self.rng = random.Random(seed)
        self.runs: list[dict] = []
        self.passes: list[float] = []

    def setup(self) -> None:
        datagen.write_tables(self.sf_dir, self.sf, self.seed)

    def warmup(self, spark) -> None:
        # JVM, codegen and Python-worker start-up, on registry queries of
        # the same kinds outside the workloads, and one pandas UDF
        for name in WARMUP:
            REGISTRY[name][0](spark, self.sf_dir).collect()

        @pandas_udf("double")
        def _warm(v: pd.Series) -> pd.Series:
            return v * 1.0

        spark.range(0, 400, 1, 4).select(_warm(F.col("id").cast("double"))).count()
        spark.catalog.clearCache()

    def window(self, spark, tracer, seconds: float) -> None:
        counters = SparkCounters(spark) if tracer.recording else None
        sc = spark.sparkContext
        elapsed = 0.0
        while elapsed < seconds or not self.passes:
            k = len(self.passes)
            order = self.names[:]
            self.rng.shuffle(order)
            pass_s = 0.0
            for name in order:
                fn = REGISTRY[name][0]
                group = f"{name}#{k}"
                sc.setJobGroup(group, name)
                run = {"name": name, "pass": k, "error": None}
                t0 = time.perf_counter()
                try:
                    with tracer.span("queries.build", ctx=name):
                        df = fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("queries.exec", ctx=name):
                        rows = [tuple(r) for r in df.collect()]
                    t2 = time.perf_counter()
                    run.update(build_s=t1 - t0, exec_s=t2 - t1, columns=df.columns, rows=rows)
                except Exception as exc:  # counted as a failed operation
                    t2 = time.perf_counter()
                    run.update(build_s=t2 - t0, exec_s=0.0, error=repr(exc)[:500])
                pass_s += t2 - t0
                if counters is not None:
                    run["spark"] = counters.for_group(group)
                spark.catalog.clearCache()
                self.runs.append(run)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.passes.append(pass_s)
            elapsed += pass_s

    def check(self) -> list[str]:
        """Names of failed operations: executions that raised, and results
        that differ from the DuckDB oracle."""
        oracle = Oracle(self.sf_dir)
        failed = []
        try:
            for run in self.runs:
                sql = REGISTRY[run["name"]][1]
                tag = f"{run['name']}#{run['pass']}"
                if run["error"] is not None:
                    run["ok"] = False
                    failed.append(f"{tag}: raised {run['error']}")
                else:
                    run["ok"] = sql is not None and oracle.matches(
                        run["name"], sql, run["columns"], run.pop("rows")
                    )
                    if not run["ok"]:
                        failed.append(f"{tag}: differs from oracle")
        finally:
            oracle.close()
        return failed

    def attempted(self) -> int:
        return 2 * len(self.runs)  # one execution and one output check each

    def samples(self) -> list[float]:
        return [r["build_s"] + r["exec_s"] for r in self.runs]

    def throughput(self) -> float:
        return len(self.runs) / sum(self.passes)

    def layers(self) -> dict[str, float]:
        n = len(self.passes)
        out = {
            "queries.build_s": sum(r["build_s"] for r in self.runs) / n,
            "queries.exec_s": sum(r["exec_s"] for r in self.runs) / n,
        }
        spark_tot = dict(ZERO)
        for r in self.runs:
            add(spark_tot, r.get("spark", ZERO))
        out.update({f"spark.{k}": v / n for k, v in spark_tot.items()})
        return out

    def record(self) -> dict:
        return {"passes": self.passes, "runs": self.runs}


class BackfillWorkload:
    """A seeded publish-daemon backlog drained through the medallion
    pipeline's three stages with ``availableNow``; each pass drains the
    whole backlog into fresh tables."""

    streaming = True
    WORKERS = 16
    PER_WORKER = 10_000
    FILES = 12

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.src = f"{work}/backlog"
        self.passes: list[float] = []
        self.drains: list[dict] = []

    def _generator(self, workers: int) -> EventGenerator:
        return EventGenerator(
            seed=self.seed,
            workers=workers,
            duplicate_every=50,
            late_every=200,
            late_by_ms=120_000,
        )

    def setup(self) -> None:
        rows = self._generator(self.WORKERS).rows(self.PER_WORKER)
        datagen.write_backlog(self.src, rows, self.FILES)
        self.n_rows = len(rows)
        # independent re-aggregation of the unique events, for the checks
        unique = {r[0]: r for r in rows}
        self.unique_ids = set(unique)
        agg: dict[str, list] = {}
        for _, g, score, ts in unique.values():
            a = agg.setdefault(g, [0.0, 0, ts, ts])
            a[0] += score
            a[1] += 1
            a[2] = min(a[2], ts)
            a[3] = max(a[3], ts)
        self.expected_gold = agg

    def _drain(self, spark, root: str, src: str):
        pipe = MedallionPipeline(spark, root)
        stream = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
        queries = []
        t0 = time.perf_counter()
        for start in (
            lambda: pipe.start_bronze_to_silver(stream, available_now=True),
            lambda: pipe.start_silver_to_gold(available_now=True),
            lambda: pipe.start_gold_to_serving(available_now=True),
        ):
            q = start()
            queries.append(q)
            try:
                q.awaitTermination()
            except StreamingQueryException:  # recorded through q.exception()
                pass
        return pipe, queries, time.perf_counter() - t0

    def warmup(self, spark) -> None:
        warm_src = f"{self.work}/warm_backlog"
        datagen.write_backlog(warm_src, self._generator(2).rows(200), 2)
        self._drain(spark, f"{self.work}/warm_tables", warm_src)

    def window(self, spark, tracer, seconds: float) -> None:
        counters = SparkCounters(spark) if tracer.recording else None
        elapsed = 0.0
        while elapsed < seconds or not self.passes:
            k = len(self.passes)
            pipe, queries, drain_s = self._drain(spark, f"{self.work}/tables-{k}", self.src)
            drain = {"pass": k, "pipe": pipe, "stages": {}}
            for q in queries:
                exc = q.exception()
                drain["stages"][q.name] = {
                    "progress": [json.loads(p.json) for p in q.recentProgress],
                    "error": None if exc is None else str(exc)[:500],
                    "spark": counters.for_group(str(q.runId)) if counters else ZERO,
                }
            self.drains.append(drain)
            self.passes.append(drain_s)
            elapsed += drain_s

    def check(self) -> list[str]:
        failed = []
        for d in self.drains:
            pipe, tag = d.pop("pipe"), f"drain#{d['pass']}"
            for stage, st in d["stages"].items():
                if st["error"] is not None:
                    failed.append(f"{tag} {stage}: terminated with {st['error']}")
            silver_ids = set(pipe.silver.read().select("id").toPandas()["id"])
            if silver_ids != self.unique_ids:
                failed.append(f"{tag}: silver ids differ from the generator's unique ids")
            gold = {r["group_id"]: r for r in pipe.gold.read().collect()}
            if not _gold_matches(gold, self.expected_gold):
                failed.append(f"{tag}: gold differs from the re-aggregated events")
            serving = {r["group_id"]: r.asDict() for r in pipe.serving_view().drop("_id").collect()}
            if serving != {g: r.asDict() for g, r in gold.items()}:
                failed.append(f"{tag}: serving view differs from gold")
        return failed

    def _batches(self) -> list[dict]:
        return [p for d in self.drains for st in d["stages"].values() for p in st["progress"]]

    def attempted(self) -> int:
        return len(self._batches()) + 3 * len(self.drains)

    def samples(self) -> list[float]:
        return [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in self._batches()]

    def throughput(self) -> float:
        return self.n_rows * len(self.passes) / sum(self.passes)

    def layers(self) -> dict[str, float]:
        n = len(self.drains)
        out: dict[str, float] = {}
        spark_tot = dict(ZERO)
        for stage in STAGES:
            tot = dict.fromkeys(STREAM_FIELDS, 0.0)
            for d in self.drains:
                st = d["stages"].get(stage, {"progress": [], "spark": ZERO})
                add(spark_tot, st["spark"])
                for key, val in _stage_metrics(st["progress"]).items():
                    tot[key] += val
            out.update({f"streaming.{stage}.{k}": v / n for k, v in tot.items()})
        out.update({f"spark.{k}": v / n for k, v in spark_tot.items()})
        rows_in = out["streaming.bronze_to_silver.rows_in"]
        out["silver.useful_ratio"] = len(self.unique_ids) / rows_in if rows_in else 0.0
        return out

    def record(self) -> dict:
        return {"passes": self.passes, "n_rows": self.n_rows, "drains": self.drains}


STREAM_FIELDS = (
    "batches",
    "rows_in",
    "add_batch_s",
    "query_planning_s",
    "wal_commit_s",
    "commit_offsets_s",
    "latest_offset_s",
    "state_commit_s",
    "state_rows",
    "state_memory_bytes",
    "rows_dropped_by_watermark",
)
_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
}


def _stage_metrics(progress: list[dict]) -> dict[str, float]:
    """One stage's ``recentProgress`` summed over its micro-batches; state
    size is the last batch's."""
    out = dict.fromkeys(STREAM_FIELDS, 0.0)
    out["batches"] = len(progress)
    for p in progress:
        out["rows_in"] += p.get("numInputRows", 0)
        for key, phase in _PHASES.items():
            out[key] += p.get("durationMs", {}).get(phase, 0) / 1000.0
        for op in p.get("stateOperators", []):
            out["state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            out["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    out["state_rows"] = sum(op.get("numRowsTotal", 0) for op in last_ops)
    out["state_memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last_ops)
    return out


def _gold_matches(gold: dict, expected: dict) -> bool:
    if set(gold) != set(expected):
        return False
    for g, (total, count, first, last) in expected.items():
        r = gold[g]
        if (r["event_count"], r["first_event_timestamp"], r["last_event_timestamp"]) != (
            count, first, last,
        ):
            return False
        if abs(r["cumulative_score"] - total) > 1e-9 * max(1.0, abs(total)):
            return False
        if abs(r["avg_score"] - total / count) > 1e-9:
            return False
    return True


def tpch_names(registry) -> list[str]:
    """The 22 TPC-H registry queries ``q1_*`` … ``q22_*``."""
    return [n for n in registry if (m := re.match(r"q(\d+)_", n)) and 1 <= int(m[1]) <= 22]


def make(workload: str, seed: int, work: str):
    if workload == "tpch":
        return QueryWorkload(tpch_names(REGISTRY), 0.01, seed, work)
    if workload == "operators":
        return QueryWorkload(OPERATORS, 0.005, seed, work)
    if workload == "medallion_backfill":
        return BackfillWorkload(seed, work)
    raise ValueError(f"unknown workload {workload!r}")

