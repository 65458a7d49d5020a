"""Sustained-load soak harness: the rate source driving the full live
medallion topology, measuring end-to-end throughput against the reference's
published 4,000 events/s baseline (reference ``README.md:10``: "athletically
handle events at least 4000 RPS"; the Rust publish daemon at
``publish-daemon/src/publish_daemon.rs:78-147`` is the load generator this
replaces with Spark's built-in rate source).

Difference vs ``bench.py``'s ``streaming_medallion`` number: that one drains
a pre-written finite backlog with ``availableNow`` (burst throughput); this
one runs all three stages as CONCURRENT live queries against a source that
produces rows in real time for ``duration_sec`` (sustained throughput), then
drains the tail and checks the incremental gold state against the batch
re-aggregation of everything that reached silver — so a soak that "keeps up"
but corrupts the fold cannot pass.

Scale shape: the rate source partitions its row range (``numPartitions``);
every downstream stage is the same O(Δ) bucket-pruned commit path the
backfill mode uses, so per-batch work is bounded by batch size, not by
accumulated state — the property that lets the same topology hold at
1000-executor scale.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streaming_spark.io.sources import rate_stream
from kafka_streaming_spark.ops.aggregates import group_agg
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline


def rate_events(
    spark: SparkSession,
    rows_per_second: int,
    n_groups: int = 64,
) -> DataFrame:
    """Map the built-in rate source onto EVENT_SCHEMA: ``value`` (a dense
    monotonic counter) yields a unique id, a round-robin group, and a
    deterministic score; the source's own ``timestamp`` is the event time,
    so events are never late and the watermark path stays hot but
    non-dropping (the publish daemon's near-realtime property,
    publish_daemon.rs:94)."""
    r = rate_stream(spark, rows_per_second)
    return r.select(
        F.concat(F.lit("ev-"), F.col("value")).alias("id"),
        F.concat(F.lit("g"), (F.col("value") % n_groups)).alias("group_id"),
        ((F.col("value") % 1000) / F.lit(10.0)).alias("score"),
        F.unix_millis(F.col("timestamp")).alias("event_timestamp"),
    )


def _stage_progress(query) -> dict:
    """Summarize a live query's recentProgress: batches, rows, mean/max
    batch wall, and the batch-size shape — the falling-behind signal:
    against an unbounded source, a pipeline that lags reads ever-bigger
    batches.

    Size statistics use only NON-EMPTY batches (stateful operators emit
    0-row state-eviction/no-data micro-batches that would drag the
    median toward zero at low rates).  TWO batch-size baselines come out,
    with different jobs (the r7-advice split):

    - ``steady_batch_rows`` — median of the SECOND QUARTER, an EARLY
      post-ramp window.  This anchors the DIVERGENCE check: it is fixed
      before any backlog can accumulate, so a slowly diverging run
      cannot re-base the threshold with its own inflated late batches
      (the flaw in a trailing-window baseline).
    - ``equil_batch_rows`` — median of the TRAILING HALF, the best
      estimate of the EQUILIBRIUM batch (rate × batch-wall), which the
      early window systematically under-reads in short runs (ASAP batch
      sizes ramp geometrically toward equilibrium — measured at 16k
      ev/s × 45 s: early median 80k vs equilibrium ~112k, enough to
      fail a healthy run's lag bound).  This anchors the absolute LAG
      bound — safe to take from the tail because the divergence check
      above guards it: in a diverging run the tail median inflates, but
      last/steady grows without bound and fails first."""
    progress = list(query.recentProgress)
    sizes = [int(p["numInputRows"]) for p in progress]
    nz = [s for s in sizes if s > 0]
    # Second quarter [n/4, n/2); q1 is floored at 1 so the FIRST (ramp)
    # batch can never anchor the steady window — for 2-3 non-empty
    # batches len(nz)//4 == 0 and nz[0:1] would be exactly the ramp
    # batch, making the divergence check (last <= 2*steady) false-fail
    # short healthy runs.  Fall back to everything after the first
    # batch, then to all of nz (single-batch runs).
    q1, q2 = max(1, len(nz) // 4), len(nz) // 2
    steady_win = nz[q1:q2] or nz[1:] or nz
    equil_win = nz[q2:] or nz
    durs = [
        int(p["durationMs"].get("triggerExecution", 0)) / 1000.0 for p in progress
    ]
    return {
        "batches": len(progress),
        "input_rows": sum(sizes),
        "mean_batch_sec": round(sum(durs) / len(durs), 4) if durs else 0.0,
        "max_batch_sec": round(max(durs), 4) if durs else 0.0,
        "median_batch_rows": sorted(nz)[len(nz) // 2] if nz else 0,
        "steady_batch_rows": (
            sorted(steady_win)[len(steady_win) // 2] if steady_win else 0
        ),
        "equil_batch_rows": (
            sorted(equil_win)[len(equil_win) // 2] if equil_win else 0
        ),
        "last_batch_rows": nz[-1] if nz else 0,
        "max_batch_rows": max(nz) if nz else 0,
        **_phase_and_state_sums(progress),
    }


#: Micro-batch phases Spark reports in ``durationMs``, summed per stage.
_PHASES = {
    "add_batch_sec": "addBatch",
    "query_planning_sec": "queryPlanning",
    "wal_commit_sec": "walCommit",
    "commit_offsets_sec": "commitOffsets",
    "latest_offset_sec": "latestOffset",
}


def _phase_and_state_sums(progress) -> dict:
    """Where a stage's batch wall went: the ``durationMs`` phases and the
    state operators' commit time and updated rows, each summed over the
    stage's micro-batches.  ``state_rows_updated`` equals the rows the
    stateful plan admitted only when each micro-batch ran that plan once."""
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    out = {
        key: round(sum(int(p["durationMs"].get(phase, 0)) for p in progress) / 1000.0, 4)
        for key, phase in _PHASES.items()
    }
    out["state_commit_sec"] = round(
        sum(int(op.get("commitTimeMs", 0)) for op in ops) / 1000.0, 4
    )
    out["state_rows_updated"] = sum(int(op.get("numRowsUpdated", 0)) for op in ops)
    return out


def soak_medallion(
    spark: SparkSession,
    root: str,
    rows_per_second: int = 4000,
    duration_sec: float = 30.0,
    n_groups: int = 64,
    watermark_delay: str = "10 seconds",
) -> dict:
    """Run the live three-stage medallion against a ``rows_per_second`` rate
    source for ``duration_sec``, then stop the source, drain the tail with
    ``availableNow`` restarts on the same checkpoints, and verify the fold.

    Returns a metrics dict:

    - ``silver_rows`` / ``silver_events_per_sec`` — end-to-end sustained
      ingest (committed to the silver table, not just read from the source)
      over the live window.
    - ``kept_up`` — the sustained-load pass/fail against
      ``rows_per_second``, defined as BOUNDED LAG, not a raw totals ratio
      (totals are dominated by the final in-flight batch — ~one batch of
      rows never commits by construction, which at low rates is most of a
      naive 10% budget): (a) the commit deficit vs offered is within two
      EQUILIBRIUM batches (+5% slack), where equilibrium = the
      trailing-half non-empty-batch median, AND (b) the last non-empty
      bronze batch is ≤ 2× the EARLY (second-quarter) batch median —
      against an unbounded source, a lagging pipeline reads ever-bigger
      batches; a keeping-up one reads constant-size ones.  The two
      baselines deliberately differ (r7-advice split, rationale in
      ``_stage_progress``): the divergence check's baseline is fixed
      early so backlog growth can't re-base it; the lag bound's baseline
      is the true equilibrium, which early batches under-read.  0-row
      state-eviction micro-batches are excluded from both.
    - ``gold_consistent`` — incremental gold state == batch re-aggregation
      of silver (fold ≡ agg∘history), checked after the tail drain.
    - per-stage ``stages.{bronze_to_silver,silver_to_gold,gold_to_serving}``
      batch counts / rows / batch-wall stats from ``recentProgress``.
    """
    # recentProgress keeps only numRecentProgressUpdates entries (default
    # 100) — ASAP triggers overflow that in a long soak, silently turning
    # the per-stage stats into trailing-window numbers.  Raise it for the
    # run and restore after.
    _progress_conf = "spark.sql.streaming.numRecentProgressUpdates"
    _prev_progress = spark.conf.get(_progress_conf, None)
    # Conf set AND query startup both live inside the try: an exception
    # during startup (e.g. a bad checkpoint dir) must still restore the
    # session conf and stop whatever queries already started.
    queries: list = []
    pipe = None
    t0 = time.monotonic()
    try:
        spark.conf.set(_progress_conf, "100000")
        events = rate_events(spark, rows_per_second, n_groups)
        pipe = MedallionPipeline(spark, root, watermark_delay=watermark_delay)
        queries = pipe.start_all_live(events)
        t0 = time.monotonic()
        time.sleep(duration_sec)
    finally:
        # The live window ends when we BEGIN stopping: stop_all blocks on
        # three in-flight batches (seconds), during which the source no
        # longer produces — counting that time would deflate the measured
        # rate and inflate the kept_up denominator.
        live_elapsed = time.monotonic() - t0 if queries else 0.0
        stages = {
            q.name: _stage_progress(q) for q in queries
        }
        if pipe is not None:
            pipe.stop_all(queries)
        if _prev_progress is None:
            spark.conf.unset(_progress_conf)
        else:
            spark.conf.set(_progress_conf, _prev_progress)

    # Tail drain: the rate source is gone, but silver commits the last live
    # batch left in its CDF dir; availableNow on the SAME checkpoints folds
    # the remainder so the consistency check sees a settled pipeline.
    pipe.start_silver_to_gold(available_now=True).awaitTermination()
    pipe.start_gold_to_serving(available_now=True).awaitTermination()

    silver = pipe.silver.read().cache()
    try:
        silver_rows = silver.count()
        expected = group_agg(
            silver, keys=("group_id",), score_col="score", ts_col="event_timestamp"
        )
        gold = pipe.gold.read().drop("updated_at")
        e = {r["group_id"]: r for r in expected.collect()}
        g = {r["group_id"]: r for r in gold.collect()}
        gold_consistent = set(e) == set(g) and all(
            g[k]["event_count"] == e[k]["event_count"]
            and g[k]["first_event_timestamp"] == e[k]["first_event_timestamp"]
            and g[k]["last_event_timestamp"] == e[k]["last_event_timestamp"]
            and abs(g[k]["cumulative_score"] - e[k]["cumulative_score"])
            <= 1e-6 * max(1.0, abs(e[k]["cumulative_score"]))
            for k in e
        )
    finally:
        silver.unpersist()

    produced = rows_per_second * live_elapsed
    bronze = stages.get("bronze_to_silver", {})
    lag_rows = produced - silver_rows
    # Two baselines with two jobs (see _stage_progress): the LAG bound
    # compares against the trailing-half EQUILIBRIUM median (steady-state
    # lag of an ASAP consumer is ~1-2 equilibrium batches in flight; the
    # early-window median under-reads equilibrium in short runs and fails
    # healthy ones), while the DIVERGENCE check compares the last batch
    # against the EARLY second-quarter median — fixed before backlog can
    # accumulate, so linear batch growth fails it instead of re-basing
    # it.  A diverging run can inflate the equilibrium median (and so the
    # lag bound), but it cannot keep last/steady bounded — the pair is
    # what makes kept_up meaningful.
    steady = max(1, bronze.get("steady_batch_rows", 0))
    equil = max(1, bronze.get("equil_batch_rows", 0))
    lag_bounded = lag_rows <= 2 * equil + 0.05 * produced
    not_diverging = bronze.get("last_batch_rows", 0) <= 2 * steady
    return {
        "rows_per_second_target": rows_per_second,
        "live_window_sec": round(live_elapsed, 2),
        "silver_rows": silver_rows,
        "silver_events_per_sec": round(silver_rows / live_elapsed, 1),
        "kept_up": lag_bounded and not_diverging,
        "lag_rows": int(lag_rows),
        "gold_groups": len(g),
        "gold_consistent": gold_consistent,
        "stages": stages,
    }
