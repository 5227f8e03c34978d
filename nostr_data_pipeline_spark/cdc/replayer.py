"""Batch change-log replayer: LWW (subsumes dedup) -> guarded MERGE.

Replays a CDC log directory into a SnapshotTable so that the final state
equals the pure-pandas oracle (content sha256 per row — BASELINE.json
invariant). The streaming variant lives in
``nostr_data_pipeline_spark/streaming/replayer.py``; this module is the
shared core both use.

Pipeline per (micro-)batch — all DataFrame-native, exactly ONE wide shuffle
of the batch (the LWW aggregation) before the merge join:
1. split off ``schema_change`` rows (tiny; metadata commits — evolution is
   order-independent, see SnapshotTable.evolve_column),
2. LWW-resolve per (repo, path) in one partial-aggregating ``max_by`` pass
   (cdc/lww.py) — this also subsumes the reference's in-batch dedup
   (/root/reference/src/nostr_pipeline/pipeline.py:202-211): verbatim
   duplicate event_ids cannot change the (seq, event_id)-max winner,
3. normalize + sha256 the winning content via the vectorized pandas UDF,
4. seq-guarded MERGE with tombstoned deletes and exactly-once markers
   (cross-batch duplicates/replays fail the strict '>' guard -> no-ops).

The batch metrics ride Observations on the batch and on the resolved rows,
so they fill inside the merge's own jobs: no job runs only to count.
"""

from __future__ import annotations

import operator
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nostr_data_pipeline_spark.cdc.lww import resolve_lww
from nostr_data_pipeline_spark.functions.content import content_sha256
from nostr_data_pipeline_spark.tables.snapshot_table import (
    SnapshotTable,
    observed_metrics,
)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("extra_json", T.StringType()),
        T.StructField("sc_col_name", T.StringType()),
        T.StructField("sc_col_type", T.StringType()),
    ]
)

TARGET_BASE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("extra_json", T.StringType()),  # raw CDC payload; evolved
        # columns are projected from it at read time (order-independent schema
        # evolution — see SnapshotTable docstring)
        T.StructField("last_seq", T.LongType()),
        T.StructField("last_event_id", T.StringType()),
        T.StructField("updated_ts", T.TimestampType()),
    ]
)


@dataclass
class ReplayResult:
    batches: list[dict[str, Any]] = field(default_factory=list)

    @property
    def rows_applied(self) -> int:
        """CoW disposition counts (insert+update+delete) plus MoR delta rows
        written. The two contributions measure DIFFERENT things — a CoW
        'applied' row changed the table, a MoR delta row may be superseded
        at read time — so the same log replayed in the two modes reports
        different totals by design; compare like with like via
        ``rows_applied_cow`` / ``rows_delta_written``. (CoW metrics also
        carry rows_written = total rows in rewritten files including
        unchanged carried rows — counting that for CoW would double count,
        hence the merge_mode gate.)"""
        return self.rows_applied_cow + self.rows_delta_written

    @property
    def rows_applied_cow(self) -> int:
        return sum(
            b.get("rows_inserted", 0) + b.get("rows_updated", 0)
            + b.get("rows_deleted", 0)
            for b in self.batches
        )

    @property
    def rows_delta_written(self) -> int:
        return sum(
            b.get("rows_written", 0)
            for b in self.batches if b.get("merge_mode") == "mor"
        )


def prepare_batch(batch: DataFrame, table: SnapshotTable,
                  max_broadcast_keys: int | None = None) -> DataFrame:
    """Data rows of one batch -> LWW-resolved rows shaped for MERGE.

    Shuffle discipline (this is the hot path of the primary metric):
    - NO explicit dropDuplicates shuffle: duplicate event_ids are verbatim
      redeliveries, so the LWW ``(seq, event_id)`` winner is the same with
      or without them — in-batch dedup is subsumed by conflict resolution
      (one shuffle instead of two). Cross-batch redelivery is handled by the
      seq-guard in MERGE (strict '>' makes replays no-ops).
    - sha256 (the Arrow-batched pandas UDF) runs AFTER resolution, on winners
      only — never on LWW losers or duplicate copies.
    - ``extra_json`` travels raw; evolved columns are virtual (projected at
      read time), so no parse happens here.

    Lazy: nothing runs until the caller's action."""
    # max_broadcast_keys is ignored; perfbench still passes it
    cols = [
        F.col("repo"), F.col("path"), F.col("commit"), F.col("lang"),
        F.col("content"),
        F.col("extra_json"),
        F.col("seq"), F.col("event_id"),
        F.col("ts").alias("updated_ts"),
        (F.col("op") == "delete").alias("_deleted"),
    ]
    shaped = batch.select(*cols)
    resolved = resolve_lww(shaped, tuple(table.key_cols), "seq", "event_id")
    resolved = resolved.withColumn(
        # vectorized pandas UDF: normalize + sha256 (input_hint mandate)
        "content_sha256",
        F.when(F.col("content").isNotNull(), content_sha256("content")),
    )
    return resolved.withColumnRenamed("seq", "last_seq").withColumnRenamed(
        "event_id", "last_event_id"
    )


def _footers_prove_no_schema_events(batch: DataFrame) -> bool:
    """True iff the parquet footer of every batch file PROVES
    ``sc_col_name`` all-null (null_count == num_values in every row group):
    the batch then holds zero ``op='schema_change'`` rows (the files are a
    superset of the batch's rows, so absence in the files implies absence
    in the batch, whatever slicing the caller applied). Errs toward False,
    so callers can only SKIP work when provably safe."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    try:
        files = batch.inputFiles()
    except Exception:
        return False
    if not files or not all(f.endswith(".parquet") for f in files):
        return False
    for uri in files:
        try:
            md = pq.ParquetFile(unquote(urlparse(uri).path) or uri).metadata
        except Exception:
            return False
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if "sc_col_name" not in names:
            return False
        ci = names.index("sc_col_name")
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if (st is None or not st.has_null_count
                    or st.null_count != col.num_values):
                return False
    return True


def collect_schema_events(batch: DataFrame) -> list:
    """The batch's schema_change rows. Schema events are RARE (a handful
    per 10^10-event log), so the batch files' parquet footers first try to
    prove their ABSENCE, which skips the scan job entirely. Non-file
    sources (Kafka/socket, streaming micro-batches), non-parquet paths, or
    footers without null counts fall back to the narrow pushed-down scan
    (4 columns, payload never read)."""
    if _footers_prove_no_schema_events(batch):
        return []
    return (
        batch.filter(F.col("op") == "schema_change")
        .select("seq", "sc_col_name", "sc_col_type")
        .collect()
    )


@contextmanager
def _job_description(spark: SparkSession, text: str):
    """Label the Spark jobs started inside with ``text``; the caller's own
    description comes back afterwards."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _observe_rows(df: DataFrame, key_cols) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation of its row count (``rows``) and of its
    rows with a NULL key component (``null_key``)."""
    null_key = reduce(operator.or_, [F.col(k).isNull() for k in key_cols])
    obs = Observation(f"replay-{uuid.uuid4().hex[:8]}")
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(null_key, 1).otherwise(0)).alias("null_key"),
    ), obs


def replay_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    stream_id: str,
    batch_id: int,
    collect_lineage: bool = True,
    cache_batch: bool = False,
    merge_mode: str = "cow",
) -> dict[str, Any]:
    """Apply one micro-batch (data + schema_change rows mixed) exactly once.

    ``merge_mode`` is forwarded to ``SnapshotTable.merge``: 'cow' (default)
    joins the resolved batch against the (file-pruned) intersecting target
    files and rewrites them; 'mor' appends the batch as delta files — write
    cost proportional to the batch alone, the shape a trickle/CDC ingest
    needs — and readers resolve base+deltas until ``table.compact()`` folds
    them (see ``replay_log(compact_every=...)``).

    Metrics never cost a job of their own. rows_seen and null-key rows ride
    an Observation on the batch's data rows; rows_resolved and null-key
    groups ride one on the LWW output. Both fill in the first job that
    evaluates the resolved batch — the merge's probe or write. Only
    ``collect_lineage=True`` under CoW runs one more job: the resolved batch
    is persisted and counted per bucket, which gives
    ``lineage_rows_per_bucket`` and the merge's affected-bucket set
    (``source_buckets``). A MoR commit records its lineage from the written
    delta files' footers instead.

    The jobs carry a description per phase: "replay: schema events",
    "replay: lineage" and "replay: resolve+write".

    ``cache_batch``: False (batch replay over a static DataFrame, or a
    deterministic file-slice micro-batch) leaves the batch uncached — each
    consumer (schema-event collect, the LWW pass, a probe) re-scans the
    parquet, which is cheap and side-effect-free. True (streaming
    foreachBatch over a stateful dedup): the batch is ``persist()``ed and
    materialized ONCE — its lineage contains the STATEFUL dedup operator,
    and every extra evaluation would re-execute it against
    already-committed state with no guarantee of stability."""
    m = table.manifest()
    last = m["commits"].get(stream_id)
    if last is not None and batch_id <= last:
        return {"skipped_replay": True, "batch_id": batch_id}

    if cache_batch:
        batch = batch.persist()
    try:
        # schema_change rows are rare and tiny — the footer proof skips even
        # the scan when the batch files provably hold none (see
        # collect_schema_events); otherwise one narrow pushed-down scan.
        # Evolution is ORDER-INDEPENDENT (virtual columns guarded by
        # add_seq, see SnapshotTable.evolve_column), so no seq-epoch
        # splitting is needed: apply the metadata commits, then merge the
        # whole batch at once.
        with _job_description(spark, "replay: schema events"):
            sc = collect_schema_events(batch)
        for r in sorted(sc, key=lambda r: int(r["seq"] or 0)):
            table.evolve_column(
                r["sc_col_name"], r["sc_col_type"], int(r["seq"] or 0)
            )

        data = batch.filter(F.col("op") != "schema_change")
        # LOG_SCHEMA allows NULL seq (external/wire producers): the engine
        # contract defines it as seq 0 — the earliest possible writer, losing
        # to any real seq, ties broken by event_id. Normalizing at THIS
        # single funnel point keeps the resolver, the seq-guarded MERGE, and
        # the pandas oracle (reduce_log fillna(0)) in agreement.
        data = data.withColumn(
            "seq", F.coalesce(F.col("seq"), F.lit(0).cast("long"))
        )
        data, seen = _observe_rows(data, table.key_cols)
        resolved, out = _observe_rows(prepare_batch(data, table),
                                      table.key_cols)
        lineage = None
        count_lineage = collect_lineage and merge_mode == "cow"
        if count_lineage:
            resolved = resolved.persist()
        try:
            if count_lineage:
                with _job_description(spark, "replay: lineage"):
                    lineage = {
                        str(r[0]): r[1] for r in
                        resolved.dropna(subset=list(table.key_cols))
                        .groupBy(table.bucket_expr()).count().collect()
                    }
            with _job_description(spark, "replay: resolve+write"):
                metrics: dict[str, Any] = {"batch_id": batch_id,
                                           "schema_changes": len(sc)}
                metrics.update(table.merge(
                    spark, resolved, stream_id=stream_id, batch_id=batch_id,
                    extra_metrics=({"lineage_rows_per_bucket": lineage}
                                   if lineage else None),
                    merge_mode=merge_mode,
                    # sound because LOG_SCHEMA key types == target key types
                    # (strings), so merge's conform-cast cannot move a row
                    # to a different bucket than the lineage job hashed it to
                    source_buckets=(sorted(int(b) for b in lineage)
                                    if lineage is not None else None),
                ))
        finally:
            if count_lineage:
                resolved.unpersist()
        if metrics.get("skipped_replay"):
            # a concurrent writer landed the commit after the marker check
            # above: no job evaluated the batch, so the Observations never
            # fill and reading them would block forever
            return metrics
        seen_m, out_m = observed_metrics(seen), observed_metrics(out)
        rows_seen = int(seen_m.get("rows") or 0)
        rows_resolved = (int(out_m.get("rows") or 0)
                         - int(out_m.get("null_key") or 0))
        if seen_m.get("null_key"):
            # null-key rows are unmergeable: the merge drops them, but never
            # silently
            metrics["rows_nullkey_dropped"] = int(seen_m["null_key"])
            metrics["rows_nullkey_dropped_groups"] = int(out_m.get("null_key") or 0)
        metrics["rows_seen"] = rows_seen
        metrics["rows_resolved"] = rows_resolved
        # duplicates + LWW-superseded rows per batch (reference T2/A14),
        # null-key rows included
        metrics["rows_superseded_or_duplicate"] = max(0, rows_seen - rows_resolved)
        metrics["rows_resolved_exact"] = True
        return metrics
    finally:
        if cache_batch:
            batch.unpersist()


def replay_log(
    spark: SparkSession,
    table: SnapshotTable,
    log_dir: str,
    stream_id: str = "batch-replay",
    n_batches: int = 1,
    collect_lineage: bool = True,
    merge_mode: str = "cow",
    compact_every: int | None = None,
) -> ReplayResult:
    """Full batch replay of a log directory, optionally split into n_batches
    seq-range micro-batches (exactly-once per batch).

    ``merge_mode='mor'`` turns each batch commit into a delta append (no
    target read/rewrite); ``compact_every=k`` folds the accumulated deltas
    back into base files after every k-th batch (and once at the end) — the
    LSM cadence: ingest commits stay O(batch), the level merge runs off the
    per-batch critical path at a chosen period."""
    if not table.exists():
        table.create(TARGET_BASE_SCHEMA)
    log = spark.read.schema(LOG_SCHEMA).parquet(log_dir)
    result = ReplayResult()
    if n_batches <= 1:
        result.batches.append(
            replay_batch(spark, table, log, stream_id, 0,
                         collect_lineage=collect_lineage, merge_mode=merge_mode)
        )
        _maybe_compact(spark, table, merge_mode, compact_every, done=1)
        return result
    bounds = log.select(F.min("seq").alias("lo"), F.max("seq").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty log: nothing to chunk (single-batch path handles it)
        result.batches.append(
            replay_batch(spark, table, log, stream_id, 0,
                         collect_lineage=collect_lineage, merge_mode=merge_mode)
        )
        # the 'once at the end' fold contract must hold on this path too —
        # earlier-ingested deltas may be live even when THIS log is empty
        _maybe_compact(spark, table, merge_mode, compact_every, done=1)
        return result
    step = max(1, (hi - lo + 1) // n_batches)
    for b in range(n_batches):
        lo_b = lo + b * step
        hi_b = hi if b == n_batches - 1 else lo + (b + 1) * step - 1
        cond = (F.col("seq") >= lo_b) & (F.col("seq") <= hi_b)
        if b == 0:
            # NULL-seq rows (legal per LOG_SCHEMA; replay_batch normalizes
            # them to seq 0) satisfy no range predicate — without this they
            # would fall into NO chunk and silently vanish from multi-batch
            # replays while a single-batch replay of the same log keeps them
            cond = cond | F.col("seq").isNull()
        chunk = log.filter(cond)
        result.batches.append(
            replay_batch(spark, table, chunk, stream_id, b,
                         collect_lineage=collect_lineage, merge_mode=merge_mode)
        )
        _maybe_compact(spark, table, merge_mode, compact_every, done=b + 1,
                       final=(b == n_batches - 1))
    return result


def _maybe_compact(spark, table, merge_mode, compact_every, done, final=True):
    """Fold MoR deltas every ``compact_every`` batches and at replay end
    (pure periodic folding, not general file compaction)."""
    if merge_mode != "mor" or not compact_every:
        return
    if final or done % compact_every == 0:
        table.fold_deltas(spark)
