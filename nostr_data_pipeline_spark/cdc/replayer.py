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
2. LWW-resolve per (repo, path) via a partial-aggregating ``max(seq)``
   and the winner join-back (cdc/lww.py) — this also subsumes the
   reference's in-batch dedup
   (/root/reference/src/nostr_pipeline/pipeline.py:202-211): verbatim
   duplicate event_ids cannot change the (seq, event_id)-max winner,
3. normalize + sha256 the winning content via the vectorized pandas UDF,
4. seq-guarded MERGE with tombstoned deletes and exactly-once markers
   (cross-batch duplicates/replays fail the strict '>' guard -> no-ops).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nostr_data_pipeline_spark.cdc.lww import resolve_lww
from nostr_data_pipeline_spark.functions.content import content_sha256
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

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
                  max_broadcast_keys: int | None = 5_000_000,
                  stats: dict | None = None,
                  group_expr: Any = None,
                  input_observation: Any = None,
                  exact_one_per_key: bool = True) -> DataFrame:
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
    - the broadcast-OOM guard lives inside resolve_lww (the winner set is
      counted post-aggregation); pass ``stats`` to share the persisted
      winner set between the count and the join-back (the caller
      unpersists ``stats['winners']`` once the result is materialized)."""
    cols = [
        F.col("repo"), F.col("path"), F.col("commit"), F.col("lang"),
        F.col("content"),
        F.col("extra_json"),
        F.col("seq"), F.col("event_id"),
        F.col("ts").alias("updated_ts"),
        (F.col("op") == "delete").alias("_deleted"),
    ]
    shaped = batch.select(*cols)
    resolved = resolve_lww(shaped, tuple(table.key_cols), "seq", "event_id",
                           max_broadcast_keys=max_broadcast_keys, stats=stats,
                           group_expr=group_expr,
                           input_observation=input_observation,
                           exact_one_per_key=exact_one_per_key)
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


def replay_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    stream_id: str,
    batch_id: int,
    collect_lineage: bool = True,
    cache_batch: bool = False,
    max_broadcast_keys: int | None = 5_000_000,
    merge_mode: str = "cow",
) -> dict[str, Any]:
    """Apply one micro-batch (data + schema_change rows mixed) exactly once.

    ``merge_mode`` is forwarded to ``SnapshotTable.merge``: 'cow' (default)
    joins the resolved batch against the (file-pruned) intersecting target
    files and rewrites them; 'mor' appends the batch as delta files — write
    cost proportional to the batch alone, the shape a trickle/CDC ingest
    needs — and readers resolve base+deltas until ``table.compact()`` folds
    them (see ``replay_log(compact_every=...)``).

    ``max_broadcast_keys``: live-key ceiling for the LWW winner broadcast
    (enforced inside resolve_lww as an exact post-aggregation count of the
    winner set — no separate probe scan of the batch); above it the
    join-back shuffles (a 5M winner set is ~500MB as a hash relation — size
    to your executors). ``None`` forces the broadcast.

    Metrics come from one of two paths, neither of which scans the batch
    for them:

    - COUNTED (the default): the winner aggregation is persisted and
      counted in ONE job that answers rows_seen, rows_resolved, null-key
      rows and groups, per-bucket lineage, and the merge's affected-bucket
      set (``source_buckets``); the join-back reuses the cached winners.
    - OBSERVED: ``max_broadcast_keys=None`` + ``merge_mode='mor'``. No job
      beyond the delta write: rows_seen and null-key rows ride an
      Observation on the winner aggregation's input inside that job,
      rows_resolved is the delta write's own rows_written, and lineage
      comes from the written files' footers. This is the streaming trickle
      path; the caller vouches that a micro-batch's winner set fits the
      executors (bounded triggers do).

    ``cache_batch``: False (batch replay over a static DataFrame, or a
    deterministic file-slice micro-batch) leaves the batch uncached — each
    consumer (schema-event collect, the winner aggregation, the wide probe)
    re-scans the parquet, which is cheap and side-effect-free. True
    (streaming foreachBatch over a stateful dedup): the batch is
    ``persist()``ed and materialized ONCE — its lineage contains the
    STATEFUL dedup operator, and every extra evaluation would re-execute it
    against already-committed state with no guarantee of stability."""
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
        observed = max_broadcast_keys is None and merge_mode == "mor"
        obs = Observation(f"lww-in-{uuid.uuid4().hex[:8]}") if observed else None
        lww_stats: dict[str, Any] = {}
        resolved = prepare_batch(data, table,
                                 max_broadcast_keys=max_broadcast_keys,
                                 stats=None if observed else lww_stats,
                                 group_expr=(None if observed
                                             else table.bucket_expr()),
                                 input_observation=obs,
                                 # the MoR sink re-resolves with the SAME
                                 # winner rule at read/fold time, so the
                                 # per-batch residual tie reduction is
                                 # redundant there — skip its shuffle
                                 exact_one_per_key=not observed)
        # Counted path: the resolved batch feeds multiple consumers (bucket
        # pruning and the merge join) — cache it so LWW runs once per batch.
        # Observed path: exactly ONE consumer (the delta write); caching
        # would only add a store-and-reload of the winner set.
        if not observed:
            resolved = resolved.persist()
        try:
            groups = lww_stats.get("groups")
            lineage = dict(groups) if collect_lineage and groups else None
            metrics: dict[str, Any] = {"batch_id": batch_id, "schema_changes": len(sc)}
            metrics.update(
                table.merge(
                    spark, resolved, stream_id=stream_id, batch_id=batch_id,
                    extra_metrics={"lineage_rows_per_bucket": lineage} if lineage else None,
                    merge_mode=merge_mode,
                    # sound because LOG_SCHEMA key types == target key types
                    # (strings), so merge's conform-cast cannot move a row
                    # to a different bucket than the count job hashed it to
                    source_buckets=(
                        sorted(int(b) for b in groups) if groups is not None else None
                    ),
                )
            )
            if observed:
                if metrics.get("skipped_replay"):
                    # no write action ran, so the observation never fired;
                    # reading it would block forever (a concurrent writer
                    # can land the commit after the marker check above)
                    return metrics
                # the delta row count keeps winner redeliveries and
                # equal-seq ties (exact_one_per_key=False — they collapse at
                # read/fold), so there rows_superseded_or_duplicate is a
                # LOWER bound on the true duplicate count;
                # rows_resolved_exact marks which accounting a batch
                # carries. (_merge_delta records the footer-derived
                # per-bucket lineage for every MoR commit.)
                om = obs.get
                rows_seen = int(om.get("rows_total") or 0)
                rows_resolved = int(metrics.get("rows_written") or 0)
                if om.get("rows_nullkey"):
                    metrics["rows_nullkey_dropped"] = int(om["rows_nullkey"])
            else:
                rows_seen = lww_stats["rows_total"]
                rows_resolved = lww_stats["n_keys"]
                # null-key rows are unmergeable: the join-back drops them,
                # but never silently
                if lww_stats["null_key_groups"]:
                    metrics["rows_nullkey_dropped"] = lww_stats["null_key_rows"]
                    metrics["rows_nullkey_dropped_groups"] = lww_stats["null_key_groups"]
                metrics["lww_keys"] = lww_stats["n_keys"]
                metrics["lww_join_back"] = lww_stats["join_back"]
            metrics["rows_seen"] = rows_seen
            metrics["rows_resolved"] = rows_resolved
            # duplicates + LWW-superseded rows per batch (reference T2/A14),
            # null-key rows included
            metrics["rows_superseded_or_duplicate"] = max(0, rows_seen - rows_resolved)
            metrics["rows_resolved_exact"] = not observed
        finally:
            if not observed:
                resolved.unpersist()
                lww_stats["winners"].unpersist()
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
