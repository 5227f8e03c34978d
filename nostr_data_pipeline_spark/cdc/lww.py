"""Last-writer-wins conflict resolution per key.

The reference applies profile updates in arrival order — last writer wins
(/root/reference/src/nostr_pipeline/loaders/event_loader.py:60-87). Replay
must be order-independent, so the winner is defined by the total order
``(seq, event_id)`` (tie-break documented in SURVEY §7).

The winner rule is written once, in ``lww_reduce``: one
``max_by(struct(*), struct(seq, tie))`` aggregation. Struct aggregation
buffers are not HashAggregate-compatible, so Spark plans a SortAggregate and
sorts whatever it is fed. Merge-on-read reads/folds and the W3 operator feed
it directly.

``resolve_lww`` is the batch resolver and feeds ``lww_reduce`` only ~one row
per key, in two narrow passes:

1. ``max(seq)`` per key — a TRUE HashAggregate with map-side combine over a
   pruned scan (only key + seq columns are read; the content payload never
   moves). Partial aggregation also absorbs hot-key skew: a mega key
   collapses to one row per map task before the shuffle.
2. The winner seqs join back. The winner side is (key, seq) only — ~60
   bytes/key — so under a broadcast the wide payload is filtered MAP-SIDE
   and never hits a shuffle; above the ``max_broadcast_keys`` ceiling the
   join-back shuffles instead, and the payload crosses the wire exactly
   once, un-sorted. ``lww_reduce`` then settles the residual ties (equal
   seq: verbatim redeliveries and the rare equal-seq-different-id case).

All are pure DataFrame plans (whole-stage codegen; no Python in the path).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_reduce(df: DataFrame, key_cols, seq_col: str,
               tie_col: str) -> DataFrame:
    """One row per key: the ``(seq_col, tie_col)``-max row, every column
    kept in input order. A NULL seq sorts below every real seq.

    Merge-on-read reads and folds collapse base + delta rows with it: the
    same winner rule as the write-side MERGE guard, so CoW and MoR commits
    interleave soundly."""
    payload = [c for c in df.columns if c not in key_cols]
    win = F.max_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(F.col(seq_col), F.col(tie_col)),
    ).alias("_w")
    out = df.groupBy(*key_cols).agg(win)
    return out.select(
        *[F.col(c) if c in key_cols else F.col(f"_w.{c}").alias(c)
          for c in df.columns]
    )


def resolve_lww(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path"),
    seq_col: str = "seq",
    tie_col: str = "event_id",
    max_broadcast_keys: int | None = 5_000_000,
    stats: dict | None = None,
    group_expr: F.Column | None = None,
    input_observation=None,
    exact_one_per_key: bool = True,
) -> DataFrame:
    """Reduce to exactly one row per key: the (seq, tie)-max winner.
    Preserves all input columns.

    NULL seq sorts strictly below every real seq here, 0 included: a key
    holding both a seq-0 and a NULL-seq row resolves to the seq-0 row
    whatever the event ids. Callers who want the engine's NULL≡0 contract
    (ties then broken by event_id, as ``reduce_log`` does) must coalesce
    seq first, as ``replay_batch`` does. An all-NULL-seq key is kept; its
    tie column decides.

    ``max_broadcast_keys``: live-key ceiling for the winner broadcast. The
    winner set is counted exactly after aggregation (no extra scan of the
    batch), and above the ceiling the join-back shuffles (a 5M winner set
    is ~500MB as a hash relation — size the ceiling to your executors).
    ``None`` forces the broadcast: the caller vouches for cardinality.

    ``stats``: optional dict the caller owns. When provided, the winner
    aggregation is persisted MEMORY_ONLY and counted once — whatever the
    ceiling — so the count and the join-back share ONE aggregation job,
    and the dict receives:

    - ``n_keys``: winner groups whose key is fully NON-NULL — exactly the
      rows the join-back yields (the join on key equality is null-unsafe,
      so a null-key group can never match back; a CDC record without a
      complete key is unmergeable by definition);
    - ``null_key_groups`` / ``null_key_rows``: groups and input rows
      dropped for a null key component (callers surface these — rows must
      never vanish silently);
    - ``rows_total``: total input rows (sum of per-group counts) — the
      replayer's ``rows_seen`` without a separate count job;
    - ``groups`` (only when ``group_expr`` is given): ``{str(g): resolved
      rows}`` per group value — e.g. per-bucket lineage when the caller
      passes the table's bucket hash, folded into the SAME count job;
    - ``join_back``: ``'broadcast'`` or ``'shuffle'``;
    - ``winners``: the persisted winner frame — the CALLER unpersists it
      once the result is consumed (the engine's replayer does).

    Without ``stats`` the winner set is NOT persisted (nobody would own the
    unpersist), so a ceiling evaluates the winner aggregation twice (once
    for the count, once in the join-back), and ``max_broadcast_keys=None``
    keeps the call fully lazy.

    ``group_expr``: optional grouping column evaluated over the WINNER set
    (key columns are in scope) in the count job. The collect is at most
    #groups rows — callers pass low-cardinality expressions (a bucket hash).

    ``input_observation``: optional ``pyspark.sql.Observation`` attached to
    the winner aggregation's INPUT (metrics ``rows_total`` and
    ``rows_nullkey``) — the zero-extra-job way to count batch rows when
    nothing else counts them: the metrics fire with the first action that
    evaluates the aggregation. The join-back probe scans the input
    separately and is not observed, so rows are counted once.

    ``exact_one_per_key=False`` skips the residual tie reduction (and its
    shuffle) and returns the winner-FILTERED rows, which may still hold >1
    row per key — verbatim redeliveries of the winner and the rare
    equal-seq tie. ONLY for sinks that re-resolve with ``lww_reduce``
    downstream, as the engine's merge-on-read deltas do at read/fold time.
    NEVER feed this to a copy-on-write MERGE, which requires a unique key
    per batch row.

    The count makes the call EAGER for non-streaming inputs. A STREAMING
    input cannot be counted, so it never fills ``stats`` and, with a
    ceiling set, takes the safe side: the shuffle join-back."""
    from pyspark.storagelevel import StorageLevel
    clash = {"_max_seq", "_cnt"} & set(df.columns)
    if clash:
        # the join-back/reduce internals would resolve ambiguously against
        # (or silently drop) caller columns with these names — fail loudly
        raise ValueError(
            f"resolve_lww reserves internal column names {sorted(clash)}; "
            "rename the input columns"
        )
    payload = [c for c in df.columns if c not in key_cols]
    counted = not df.isStreaming and (
        stats is not None or max_broadcast_keys is not None)
    aggs = [F.max(seq_col).alias("_max_seq")]
    if counted:
        # per-key row count rides the winner aggregation (tiny extra agg
        # state) so the count job below can answer rows_total too
        aggs.append(F.count(F.lit(1)).alias("_cnt"))
    null_key = reduce(operator.or_, [F.col(k).isNull() for k in key_cols])
    agg_in = df
    if input_observation is not None:
        agg_in = df.observe(
            input_observation,
            F.count(F.lit(1)).alias("rows_total"),
            F.sum(F.when(null_key, 1).otherwise(0)).alias("rows_nullkey"),
        )
    winners = agg_in.groupBy(*key_cols).agg(*aggs)
    broadcast = max_broadcast_keys is None
    if counted:
        if stats is not None:
            winners = winners.persist(StorageLevel.MEMORY_ONLY)
        gaggs = [
            F.count(F.lit(1)).alias("_groups"),
            F.sum("_cnt").alias("_rows"),
            F.sum(F.when(null_key, 1).otherwise(0)).alias("_null"),
            F.sum(F.when(null_key, F.col("_cnt")).otherwise(0)).alias("_null_rows"),
        ]
        if group_expr is not None:
            grows = winners.groupBy(group_expr.alias("_g")).agg(*gaggs).collect()
        else:
            grows = [winners.agg(*gaggs).first()]
        total = {k: sum(r[k] or 0 for r in grows)
                 for k in ("_groups", "_rows", "_null", "_null_rows")}
        broadcast = broadcast or total["_groups"] <= max_broadcast_keys
        if stats is not None:
            stats.update(
                n_keys=total["_groups"] - total["_null"],
                null_key_groups=total["_null"],
                null_key_rows=int(total["_null_rows"]),
                rows_total=int(total["_rows"]),
                join_back="broadcast" if broadcast else "shuffle",
                winners=winners,
            )
            if group_expr is not None:
                stats["groups"] = {
                    str(r["_g"]): r["_groups"] - (r["_null"] or 0)
                    for r in grows
                    if r["_groups"] - (r["_null"] or 0) > 0
                }
    cand = (
        df.join(F.broadcast(winners) if broadcast else winners,
                list(key_cols), "inner")
        # eqNullSafe, not ==: a group whose seq values are ALL NULL has
        # _max_seq NULL, and a plain equality filter would silently drop
        # every row of that key (data loss); lww_reduce keeps it (NULL sorts
        # lowest in max_by, so the tie column decides). Mixed groups are
        # unaffected: eqNullSafe(NULL, real_max) is false.
        .filter(F.col(seq_col).eqNullSafe(F.col("_max_seq")))
        .drop("_max_seq", "_cnt")
    )
    if not exact_one_per_key:
        return cand.select(*key_cols, *payload)
    # 'cand' is ~one row per key, so the struct aggregation here is tiny
    return lww_reduce(cand, key_cols, seq_col, tie_col)
