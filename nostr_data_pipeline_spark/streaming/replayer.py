"""Streaming change-log replayer.

Spark-first re-expression of the reference's ingest loop
(/root/reference/src/nostr_pipeline/pipeline.py:157-258):

  reference                                   this engine
  ---------------------------------------     ----------------------------------
  asyncio queue + 100-event/5s flush (T1)     file-stream source + trigger
  in-batch seen_ids set (T2)                  dropDuplicates in foreachBatch
  PK probe before insert (T3)                 withWatermark +
                                              dropDuplicatesWithinWatermark
                                              (bounded state) + seq-guarded MERGE
  no durable resume (T8: restarts lose        checkpointLocation -> exact resume;
  position, `since=now`)                      replayed batches skipped by
                                              commit markers (exactly-once, T9)
  per-batch counters dict (T6)                merge metrics + per-bucket lineage
                                              persisted in table manifests

Dedup modes (``dedup_mode``):

- ``'guard'`` (default): NO stateful operator. In-batch duplicates collapse in
  the LWW resolution; cross-batch redeliveries are no-ops under the MERGE's
  strict ``(seq, event_id)`` guard. Zero state, and — critically — zero data
  loss: Spark's watermarked stateful operators DROP rows older than the
  watermark, and the file source discovers files in modification-time order,
  so a newer file processed first races the watermark ahead and can silently
  drop an entire earlier file (observed: whole 500-row files dropped, losing
  LWW winners and schema events; LWW usually re-converges by accident, which
  made the bug look like test flakiness).
- ``'watermark'``: ``withWatermark + dropDuplicatesWithinWatermark`` — bounded
  per-event-id state, appropriate ONLY when the source delivers within the
  ``lateness`` bound (e.g., a single ordered queue). The MERGE guard still
  backstops duplicates that outlive the state, but rows later than the
  watermark are dropped before the sink — a correctness trade the caller must
  opt into.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from nostr_data_pipeline_spark.cdc.replayer import (
    LOG_SCHEMA,
    TARGET_BASE_SCHEMA,
    replay_batch,
)
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable


def parse_wire_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode a wire-format stream (Kafka value bytes / socket lines of JSON
    events — the reference's relay frames,
    /root/reference/src/nostr_pipeline/extractors/relay_client.py:153-197)
    into LOG_SCHEMA rows. PERMISSIVE parse: malformed JSON yields a row of
    nulls (mirrors the reference's JSONDecodeError -> skip; filter
    ``event_id IS NOT NULL`` downstream to drop them). Composes with
    ``source_factory``::

        StreamingReplayer(..., source_factory=lambda s: parse_wire_events(
            s.readStream.format("kafka").option(...).load()))
    """
    from pyspark.sql import functions as F

    return (
        raw.select(F.from_json(F.col(value_col).cast("string"), LOG_SCHEMA).alias("e"))
        .select("e.*")
    )


class StreamingReplayer:
    def __init__(
        self,
        table: SnapshotTable,
        log_dir: str,
        checkpoint_dir: str,
        stream_id: str = "stream-replay",
        lateness: str = "10 minutes",
        max_files_per_trigger: int | None = None,
        collect_lineage: bool = True,
        dedup_mode: str = "guard",
        source_factory: Callable[[SparkSession], DataFrame] | None = None,
        merge_mode: str = "cow",
        compact_every: int | None = None,
        max_broadcast_keys: int | None = 5_000_000,
    ):
        """``source_factory``: optional seam replacing the default file-stream
        reader (SURVEY S1 maps the reference's live WebSocket tail to "file
        source or Kafka"; no broker ships in this sandbox, so the seam makes
        the Kafka claim concrete without one). The callable receives the
        SparkSession and must return a STREAMING DataFrame with LOG_SCHEMA
        columns — e.g.::

            lambda s: (s.readStream.format("kafka")
                        .option("kafka.bootstrap.servers", bs)
                        .option("subscribe", topic).load()
                        .select(F.from_json(F.col("value").cast("string"),
                                            LOG_SCHEMA).alias("e"))
                        .select("e.*"))

        The returned frame is used verbatim; dedup_mode still layers on top.
        ``log_dir`` is ignored when a factory is given (pass "").

        ``merge_mode='mor'`` makes each micro-batch commit a delta append
        (write cost O(batch), zero target rewrite — the trickle-ingest
        shape); ``compact_every=k`` folds the deltas into base files once the
        MANIFEST holds >= k uncompacted delta commits, inside the same
        foreachBatch slot so exactly-once bookkeeping is untouched (a
        compaction is a normal snapshot commit). The trigger reads persisted
        state, so restarts and short availableNow runs can never starve
        folding — cadence drift only changes WHEN folding happens, never the
        resolved state. Sizing (measured, BENCH.md "MoR read amplification"):
        read-side cost of live deltas is a ~fixed broadcast-resolve overhead,
        FLAT in commit count until delta BYTES approach the broadcast
        ceiling — so choose the cadence to bound delta bytes well under
        ``spark.sql.autoBroadcastJoinThreshold``; 8-16 micro-batch commits
        is comfortable, and folding belongs off-peak.

        ``max_broadcast_keys``: the LWW winner-broadcast ceiling per
        micro-batch (see resolve_lww). ``None`` VOUCHES that every
        micro-batch's winner set fits the executors — sound when the trigger
        bounds batch size (maxFilesPerTrigger / maxOffsetsPerTrigger) — and,
        combined with ``merge_mode='mor'``, enables the one-job-per-batch
        trickle fast path: no count job, the metrics ride the delta write's
        own observation and the written files' parquet footers (see
        replay_batch). This is the recommended steady-state CDC ingest
        configuration."""
        if dedup_mode not in ("guard", "watermark"):
            raise ValueError(f"unknown dedup_mode {dedup_mode}")
        self.table = table
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        self.stream_id = stream_id
        self.lateness = lateness
        self.max_files_per_trigger = max_files_per_trigger
        self.collect_lineage = collect_lineage
        self.dedup_mode = dedup_mode
        self.source_factory = source_factory
        self.merge_mode = merge_mode
        self.compact_every = compact_every
        self.max_broadcast_keys = max_broadcast_keys
        self._applied_batches = 0

    def _source(self, spark: SparkSession) -> DataFrame:
        if self.source_factory is not None:
            df = self.source_factory(spark)
        else:
            reader = spark.readStream.schema(LOG_SCHEMA)
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
            df = reader.parquet(self.log_dir)
        if self.dedup_mode == "watermark":
            # bounded per-event-id state (SURVEY T3) — drops watermark-late
            # rows; see the module docstring for when this is safe
            return df.withWatermark("ts", self.lateness).dropDuplicatesWithinWatermark(
                ["event_id"]
            )
        # 'guard': dedup is subsumed by LWW + the seq-guarded MERGE
        return df

    def _apply(self, batch: DataFrame, batch_id: int) -> None:
        metrics = replay_batch(
            batch.sparkSession,
            self.table,
            batch,
            stream_id=self.stream_id,
            batch_id=batch_id,
            collect_lineage=self.collect_lineage,
            # materialize the micro-batch once ONLY when its lineage contains
            # the stateful dedup operator (dedup_mode='watermark'), which
            # must not be re-executed per consumer (see replay_batch
            # docstring). In 'guard' mode the micro-batch is a deterministic
            # file slice — re-scanning it per consumer is cheaper than
            # writing every batch into storage memory first.
            cache_batch=(self.dedup_mode == "watermark"),
            merge_mode=self.merge_mode,
            max_broadcast_keys=self.max_broadcast_keys,
        )
        self._applied_batches += 1
        if self.merge_mode == "mor" and self.compact_every:
            # cadence from PERSISTED state, not a process-local counter: the
            # number of uncompacted MoR commits is the count of distinct
            # delta-v dirs in the manifest, which survives restarts (short
            # availableNow runs can never starve folding) and doesn't grow
            # on skipped-replay batches. The delta commit the batch just made
            # reports that count in its own metrics — no manifest re-read on
            # the hot path; skipped-replay / empty batches (no metric) fall
            # back to the manifest so restart catch-up still folds.
            pending = metrics.get("delta_commits_pending")
            if pending is None:
                deltas = self.table._deltas_of(self.table.manifest())
                pending = len(
                    {f.split("/", 1)[0] for fs in deltas.values() for f in fs}
                )
            if pending >= self.compact_every:
                # a separate snapshot commit in the same foreachBatch slot
                self.table.fold_deltas(batch.sparkSession)

    def start(
        self,
        spark: SparkSession,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        if not self.table.exists():
            self.table.create(TARGET_BASE_SCHEMA)
        writer = (
            self._source(spark)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        elif available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession) -> dict[str, Any]:
        """Process everything currently in the log dir, then stop."""
        q = self.start(spark, available_now=True)
        q.awaitTermination()
        return self.table.manifest().get("metrics", {})
