"""The medallion pipeline: the reference's three concurrent streaming
queries (``main.py:12-20``) re-expressed as configurable stages over any
source, runnable broker-free with ``availableNow`` triggers.

Topology (reference → engine):

1. ``kafka_to_silver`` (silver.py:43-77) → ``bronze_to_silver``: source →
   parse/derive → watermark → dropDuplicatesWithinWatermark → foreachBatch
   insert-if-absent MERGE into the silver table.
2. ``silver_to_gold`` (gold.py:49-69) → ``silver_to_gold``: silver change
   feed → insert-only filter → per-batch groupBy aggregate → running-total
   upsert into the gold table.
3. ``gold_to_mongo`` (tomongo.py:20-35) → ``gold_to_serving``: gold change
   feed → drop preimages → key-replaced write to a serving table
   (last-writer-wins per ``group_id``, J3).

Backend: ``ParquetUpsertTable`` (plain parquet + emulated CDF) so the whole
pipeline runs with only pyspark; with delta-spark installed the same stages
target real Delta tables via ``delta_utils`` (same method shapes).

The change feeds between stages are consumed as *file streams over the cdf
directories*: each trigger admits every upstream change file written since
the last one, up to ``CDF_MAX_FILES_PER_TRIGGER``.  That is the
incremental-view-maintenance property the reference gets from Delta CDF
(per-trigger work ∝ delta, not history), and a stage catching up on a
backlog takes one larger micro-batch rather than many small ones.  An
upstream commit writes one file per shuffle partition, so a per-trigger
cap near the partition count would split each commit across several
downstream batches, each paying a full fold and commit of the same groups.

Frame lifetimes: a foreachBatch frame is a plan over the micro-batch's
incremental execution, and every action on it recomputes that plan — for
``bronze_to_silver`` the source scan, the stateful dedup and its
state-store commit.  A foreachBatch body that runs more than one action on
its frame persists it and releases it in ``finally`` (``_silver_batch``);
a body that reads its frame once does not (``_gold_batch`` owns only its
cached aggregate, ``_serving_batch`` runs a single write).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kafka_streaming_spark.io.sinks import (
    ParquetUpsertTable,
    attach_cdf_metadata,
    start_foreach_batch,
)
from kafka_streaming_spark.io.serving import ParquetServingWriter
from kafka_streaming_spark.io.sources import file_stream
from kafka_streaming_spark.ops.aggregates import combine_states, group_agg
from kafka_streaming_spark.ops.dedup import latest_per_key
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import EVENT_SCHEMA, GOLD_SCHEMA, SILVER_SCHEMA


def watermark_dedup(
    df: DataFrame,
    ts_col: str = "timestamp",
    delay: str = "30 seconds",
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """T1 + T2: event-time watermark + stateful streaming dedup
    (silver.py:63,66).  Keeps the first occurrence of each key within the
    watermark window; state lives in the (RocksDB) state store."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


# Files admitted per change-feed trigger, for gold and serving alike.  1000
# is the Delta source's default ``maxFilesPerTrigger`` and the value the
# reference's gold stage ran with (its ``maxOffsetsPerTrigger`` is not a
# Delta option, gold.py:65).  It is far above one commit's file count, so
# a trigger admits whole commits; it stays a bound so the files planned for
# one trigger after a long outage are bounded too.  Gold's per-batch memory
# is set by its ≤ |groups|-row aggregate, not by this bound.  A constant,
# not an option: no caller needs another value.
CDF_MAX_FILES_PER_TRIGGER = 1000


def _cdf_stream(spark, table: ParquetUpsertTable, base: StructType):
    """S2/S3: stream a table's change feed — file stream over the flat cdf
    dir with metadata derived from file names (see io.sinks)."""
    os.makedirs(table.cdf_dir, exist_ok=True)
    raw = file_stream(
        spark, table.cdf_dir, base, max_files_per_trigger=CDF_MAX_FILES_PER_TRIGGER
    )
    return attach_cdf_metadata(raw)


class MedallionPipeline:
    """Bronze → silver → gold → serving over a local table root.

    Single-writer per table (the reference's model: each streaming query
    owns its target).  ``run_available_now`` drains a finite source through
    all three stages in sequence — the test/backfill mode; ``start_*``
    methods return live streaming queries for continuous mode.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        watermark_delay: str = "30 seconds",
        serving_writer=None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.watermark_delay = watermark_delay
        self.silver = ParquetUpsertTable(
            spark, f"{self.root}/silver", SILVER_SCHEMA, keys=("minute_timestamp", "id")
        )
        self.gold = ParquetUpsertTable(
            spark, f"{self.root}/gold", GOLD_SCHEMA, keys=("group_id",)
        )
        self.serving_dir = f"{self.root}/serving"
        # K3 is pluggable (reference tomongo.py → MongoServingWriter); the
        # default parquet writer keeps the pipeline runnable with pyspark
        # alone, same J3 read semantics.
        self.serving_writer = serving_writer or ParquetServingWriter(self.serving_dir)

    # -- stage 1: bronze → silver ------------------------------------------

    def _silver_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """K1 body (silver.py:10-40): insert-if-absent with bucket pruning.
        ``batch_unique``: the upstream dropDuplicatesWithinWatermark already
        guarantees one row per id within a micro-batch, so the sink skips
        its own within-batch dedup shuffle (cross-batch/replay duplicates
        are still removed by the anti-join).

        The sink runs two actions on ``batch_df``: the prune collect, which
        is also the empty-batch exit (watermark-dedup state eviction
        produces a trailing EMPTY micro-batch under availableNow), and the
        anti-join write.  Unpersisted, each action would re-run the source
        scan, the stateful dedup and its state-store commit, so the body
        persists the frame on entry and releases it in ``finally`` (the
        module-level rule)."""
        batch_df.persist()
        try:
            self.silver.insert_if_absent(
                batch_df, version=batch_id, prune_col="minute_timestamp", batch_unique=True
            )
        finally:
            batch_df.unpersist()

    def start_bronze_to_silver(self, events: DataFrame, available_now: bool = True):
        """``events`` must carry the EVENT_SCHEMA columns (id, group_id,
        score, event_timestamp).  Applies P4-P7 derivations, watermark,
        stream dedup, then the MERGE sink."""
        parsed = derive_event_columns(events)
        deduped = watermark_dedup(parsed, "timestamp", self.watermark_delay, ("id",))
        silver_cols = deduped.select(*[f.name for f in SILVER_SCHEMA.fields])
        return start_foreach_batch(
            silver_cols,
            self._silver_batch,
            checkpoint=f"{self.root}/_checkpoints/bronze_to_silver",
            query_name="bronze_to_silver",
            available_now=available_now,
        )

    # -- stage 2: silver CDF → gold ----------------------------------------

    def _gold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """K2 body (gold.py:7-46): per-batch aggregate + running-total
        upsert.  ``least/greatest`` maintenance of first/last timestamps
        (see aggregates.combine_states for the documented deviation)."""
        if self.gold.version_applied(batch_id):
            # foreachBatch replay after a crash between the gold commit and
            # the checkpoint commit: the running totals already include this
            # micro-batch — folding it again would double-count.  (The
            # reference's gold MERGE has the same hazard, unguarded.)
            return
        inserts = batch_df.filter(
            ~F.col("_change_type").isin("update_postimage", "update_preimage", "delete")
        ).drop("_change_type", "_commit_version")
        # Cached: the per-batch aggregate (≤ |groups| rows) feeds three
        # consumers — the bucket probe, the state fold, and the cdf keyset
        # — and must compute once, not once per consumer.
        agg = group_agg(
            inserts, keys=("group_id",), score_col="score", ts_col="event_timestamp"
        ).cache()
        try:
            # O(Δ) commit (VERDICT r4 item 3): one bounded collect
            # (≤ n_buckets values) learns which key-buckets this
            # micro-batch touches; the prior-state read AND the state
            # write are then restricted to those buckets — a batch
            # touching k of N groups costs ~k/n_buckets of the state, not
            # a full O(|state|) rewrite.  The collect doubles as the
            # empty-batch check (replacing the former isEmpty job).
            buckets = [
                r[0]
                for r in agg.select(self.gold.bucket_of(agg).alias("__b"))
                .distinct()
                .collect()
            ]
            if not buckets:
                return
            if self.gold.latest_version is None:
                # First commit: no prior state exists, and group_agg's
                # output IS combine_states(empty, batch) column for column
                # (coalesce-with-null arithmetic degenerates to the batch
                # side) — skip the prior read and the full-outer join on
                # the pipeline's dominant first micro-batch.
                new_state = agg
            else:
                prior = self.gold.read_buckets(buckets).drop("updated_at")
                new_state = combine_states(prior, agg, keys=("group_id",))
            new_state = new_state.withColumn(
                "updated_at", F.unix_timestamp(F.current_timestamp()) * 1000
            )
            self.gold.upsert_state(
                new_state,
                changed_keys=agg.select("group_id"),
                version=batch_id,
                bucket_ids=buckets,
            )
        finally:
            agg.unpersist()

    def start_silver_to_gold(self, available_now: bool = True):
        """S2: stream the silver change feed.  A trigger admits every silver
        commit made since the previous one (up to
        ``CDF_MAX_FILES_PER_TRIGGER`` files), so a drained backlog folds
        into gold in one micro-batch and a live stage folds whatever
        arrived while the last batch ran."""
        cdf = _cdf_stream(self.spark, self.silver, SILVER_SCHEMA)
        return start_foreach_batch(
            cdf,
            self._gold_batch,
            checkpoint=f"{self.root}/_checkpoints/silver_to_gold",
            query_name="silver_to_gold",
            available_now=available_now,
        )

    # -- stage 3: gold CDF → serving ----------------------------------------

    def _serving_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """K3 body (tomongo.py:6-17): key-replaced append through the
        pluggable writer — ``_id`` = group_id, last-writer-wins at read
        time (J3) or by the store's ``_id`` replacement."""
        out = (
            batch_df.filter("_change_type != 'update_preimage'")
            .drop("_change_type", "_commit_version")
            .withColumn("_id", F.col("group_id"))
        )
        self.serving_writer.write(out, batch_id)

    def start_gold_to_serving(self, available_now: bool = True):
        """S3: stream the gold change feed into the serving writer, admitting
        whole gold commits per trigger as ``start_silver_to_gold`` does.
        Several commits in one batch may carry the same ``group_id``; the
        serving read keeps the latest (J3)."""
        cdf = _cdf_stream(self.spark, self.gold, GOLD_SCHEMA)
        return start_foreach_batch(
            cdf,
            self._serving_batch,
            checkpoint=f"{self.root}/_checkpoints/gold_to_serving",
            query_name="gold_to_serving",
            available_now=available_now,
        )

    # -- orchestration -------------------------------------------------------

    def run_available_now(self, events: DataFrame) -> DataFrame:
        """Drain a finite source through all three stages in sequence — the
        test/backfill mode.  Returns the gold state."""
        self.start_bronze_to_silver(events, available_now=True).awaitTermination()
        self.start_silver_to_gold(available_now=True).awaitTermination()
        self.start_gold_to_serving(available_now=True).awaitTermination()
        return self.gold.read()

    def start_all_live(self, events: DataFrame):
        """T6, the reference's actual deployment mode (main.py:12-20): all
        three stages as CONCURRENT live queries with ``processingTime="0
        seconds"`` triggers (ASAP, the reference's config.py:21 default);
        each downstream stage continuously tails its upstream's change
        feed.  Returns the three StreamingQuery handles (bronze_to_silver,
        silver_to_gold, gold_to_serving); pair with ``await_any`` /
        ``stop_all``."""
        q1 = self.start_bronze_to_silver(events, available_now=False)
        q2 = self.start_silver_to_gold(available_now=False)
        q3 = self.start_gold_to_serving(available_now=False)
        return [q1, q2, q3]

    def await_any(self, timeout_sec: float | None = None) -> None:
        """``spark.streams.awaitAnyTermination()`` (reference main.py:20):
        block until any stage dies — the supervisor then restarts the job."""
        if timeout_sec is None:
            self.spark.streams.awaitAnyTermination()
        else:
            self.spark.streams.awaitAnyTermination(int(timeout_sec * 1000))

    @staticmethod
    def stop_all(queries) -> None:
        for q in queries:
            if q.isActive:
                q.stop()
        for q in queries:
            q.awaitTermination()

    def serving_view(self) -> DataFrame:
        """J3 read side: latest row per ``_id`` (deterministic via
        ``_commit-free`` ordering on updated_at, tie-broken by event_count)."""
        df = self.spark.read.schema(
            StructType(list(GOLD_SCHEMA.fields) + [StructField("_id", StringType(), True)])
        ).parquet(self.serving_dir)
        return latest_per_key(df, ["_id"], "updated_at", tiebreak="event_count")
