"""Self-tests of the benchmark: statistics, span arithmetic, metric names,
layer wrapping, and (with Spark) the traced tpch pass.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

import attribute
import run
import stats
import tracer as tracing
from tracer import covered, layer_totals, self_times

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


# -- the _tail percentile rule ---------------------------------------------


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    v, p, n = stats.tail(values)
    assert (p, n) == (90, 100)
    assert sum(x > v for x in values) == 10
    # one percentile higher leaves only nine samples beyond
    assert sum(x > stats.percentile(values, 91) for x in values) == 9


def test_tail_with_22_samples():
    values = [float(v) for v in range(22)]
    v, p, _ = stats.tail(values)
    assert p == 57 and sum(x > v for x in values) == 10


def test_tail_without_enough_samples_reports_max_at_100():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    assert stats.tail([float(v) for v in range(10)]) == (9.0, 100, 10)


def test_tail_counts_only_samples_strictly_above():
    # ties at the percentile value are not "beyond" it
    assert stats.tail([1.0] * 30 + [2.0] * 5) == (2.0, 100, 35)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.0, 1.0]) == pytest.approx(math.sqrt(1e-3))


def test_percentile_interpolates_linearly():
    assert stats.percentile([0.0, 10.0], 25) == 2.5
    assert stats.percentile([5.0], 99) == 5.0


# -- self-time arithmetic ----------------------------------------------------


def span(sid, name, start, end, parent=None, ctx=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "ctx": ctx}


def test_covered_merges_overlaps():
    assert covered([(1, 3), (2, 5), (7, 8)]) == 5
    assert covered([(0, 10), (2, 3)]) == 10
    assert covered([]) == 0


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        span(0, "queries.build", 0.0, 10.0),
        span(1, "schemas.load_table", 1.0, 3.0, parent=0),
        span(2, "schemas.load_table", 2.0, 5.0, parent=0),  # overlaps sibling
        span(3, "pyspark.read", 8.0, 12.0, parent=0),  # runs past the parent
        span(4, "pyspark.read", 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == pytest.approx(2 - 1)
    assert st[4] == pytest.approx(1)


def test_layer_totals_nested_same_layer_counts_time_once():
    spans = [
        span(0, "functions.graph.pagerank", 0.0, 4.0),
        span(1, "functions.graph.undirect", 1.0, 2.0, parent=0),
        span(2, "pyspark.read", 2.0, 3.0, parent=0),
        span(3, "functions.dedup.dedup_clusters", 5.0, 6.0),
    ]
    t = layer_totals(spans)
    assert t["functions.graph"] == {"calls": 2, "self_s": pytest.approx(3.0), "s": pytest.approx(4.0)}
    assert t["pyspark.read"]["self_s"] == pytest.approx(1.0)
    assert t["functions.dedup"]["calls"] == 1


def test_per_pass_counts_follow_each_querys_build_spans():
    class T:
        spans = [
            span(0, "queries.build", 0, 1, ctx="q1"),
            span(1, "schemas.load_table", 0, 1, parent=0, ctx="q1"),
            span(2, "queries.build", 1, 2, ctx="q2"),
            span(3, "schemas.load_table", 1, 2, parent=2, ctx="q2"),
            span(4, "schemas.load_table", 1, 2, parent=2, ctx="q2"),
            span(5, "queries.build", 2, 3, ctx="q2"),
            span(6, "schemas.load_table", 2, 3, parent=5, ctx="q2"),
            span(7, "queries.build", 3, 4, ctx="q1"),
            span(8, "schemas.load_table", 3, 4, parent=7, ctx="q1"),
        ]

    assert run.per_pass_counts(T, "schemas.load_table") == [3, 2]


def test_attributor_diffs_self_time_and_calls_per_pass():
    def record(read_s, passes):
        return {
            "workload": "operators",
            "trace": 1,
            "detail": {"passes": [1.0] * passes},
            "layers": {"trace.pass_s": 10.0 + read_s, "spark.jobs": 4},
            "spans": [
                span(0, "schemas.load_table", 0.0, 1.0 + read_s),
                span(1, "pyspark.read", 0.5, 0.5 + read_s, parent=0),
            ],
        }

    lines = attribute.diff(record(2.0, 1), record(0.5, 1))
    row = next(line for line in lines if line.startswith("pyspark.read"))
    assert row.split()[1:4] == ["2.0000", "0.5000", "-1.5000"]
    # the largest self-time change is listed first
    assert lines[2].startswith("pyspark.read")
    assert any(line.startswith("trace.pass_s") for line in lines)
    traced = record(0.5, 1) | {"layers": {"trace.pass_s": 10.5, "trace.spans": 2}}
    assert "+5.0%" in attribute.overhead({"end_to_end": {"pass_s": 10.0}}, traced)


# -- metric names and units ----------------------------------------------------


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_use_the_allowed_charset():
    names = list(run.E2E) + list(run.LAYERS)
    assert len(names) == len(set(names))
    for name in names:
        assert stats.valid_name(name), name
    for unit in list(run.E2E.values()) + list(run.LAYERS.values()):
        assert stats.valid_unit(unit), unit
    assert not stats.valid_name("_leading_underscore")
    assert not stats.valid_name("x" * 65)
    assert not stats.valid_name("space in name")
    assert not stats.valid_unit("bytes per second")


def test_benchmark_json_matches_the_runner():
    b = benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.LAYERS
    assert [w["name"] for w in b["workloads"]] == ["operators", "medallion_backfill"]
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25


# -- layer wrappers --------------------------------------------------------------


def test_install_rebinds_every_load_table_binding_and_uninstall_restores():
    import kafka_streaming_spark.queries.q01_projections as q01
    from kafka_streaming_spark import schemas
    from kafka_streaming_spark.functions import graph
    from kafka_streaming_spark.io.sinks import ParquetUpsertTable

    original = schemas.load_table
    original_pagerank = graph.pagerank
    original_insert = ParquetUpsertTable.insert_if_absent
    t = tracing.Tracer()
    t.install()
    try:
        # star-imported bindings in query modules are wrapped, not only the
        # defining module's attribute
        assert q01.load_table is schemas.load_table is not original
        assert q01.load_table.__wrapped__ is original
        assert graph.pagerank is not original_pagerank
        assert ParquetUpsertTable.insert_if_absent is not original_insert
    finally:
        t.uninstall()
    assert q01.load_table is original and schemas.load_table is original
    assert graph.pagerank is original_pagerank
    assert ParquetUpsertTable.insert_if_absent is original_insert


def test_wrapped_calls_record_nested_spans_with_context():
    t = tracing.Tracer()
    inner = t._wrap("pyspark.read", lambda: 1)
    outer = t._wrap("schemas.load_table", lambda: inner() + 1)
    with t.span("queries.build", ctx="q9"):
        assert outer() == 2
    q, a, b = t.spans
    assert (a["name"], a["parent"], a["ctx"]) == ("schemas.load_table", 0, "q9")
    assert (b["name"], b["parent"], b["ctx"]) == ("pyspark.read", 1, "q9")
    assert q["start"] <= a["start"] <= b["start"] <= b["end"] <= a["end"] <= q["end"]


# -- end to end (starts Spark; about a minute and a half) ------------------------------


def test_traced_tpch_records_equal_nonzero_load_table_count_every_pass():
    # as a subreaper, this process inherits whatever the run leaves behind
    run.become_subreaper()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "tpch", "--seed", "3",
         "--seconds", "45", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert run.children() == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    with open(os.path.join(BENCH, "_out", "tpch-seed3-trace1.json")) as fh:
        rec = json.load(fh)
    counts = run.per_pass_counts(type("T", (), {"spans": rec["spans"]}), "schemas.load_table")
    # a pass takes ~25 s, so a 45 s window runs at least two
    assert len(counts) >= 2 and len(set(counts)) == 1 and counts[0] > 0
    m = result["metrics"]
    assert m["schemas.load_table.calls"]["value"] == counts[0]
    assert m["pyspark.read.calls"]["value"] >= counts[0]
    assert m["functions.graph.s"]["value"] == 0
    assert m["spark.jobs"]["value"] > 0 and m["spark.stages"]["value"] > 0
    assert {s["name"] for s in rec["spans"]} >= {"queries.build", "queries.exec", "schemas.load_table"}
