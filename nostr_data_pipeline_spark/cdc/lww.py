"""Last-writer-wins conflict resolution per key.

The reference applies profile updates in arrival order — last writer wins
(/root/reference/src/nostr_pipeline/loaders/event_loader.py:60-87). Replay
must be order-independent, so the winner is defined by the total order
``(seq, event_id)`` (tie-break documented in SURVEY §7).

The winner rule is written once, in ``lww_reduce``: one
``max_by(struct(payload), struct(seq, tie))`` aggregation, planned as a
partial + final aggregate around ONE shuffle. The partial (map-side) step
collapses every key to one row per map task before the exchange, so a hot
key crosses the wire once per task, not once per event. The batch resolver
(``resolve_lww``), merge-on-read reads/folds and the W3 operator all use it.

The pass runs no job of its own: its shuffle is a stage of whatever job
consumes it. At benchmark scale a commit is fixed cost, and the number of
Spark jobs decides wall time more than the speed of any one operator.

A pure DataFrame plan (whole-stage codegen; no Python in the path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_reduce(df: DataFrame, key_cols, seq_col: str,
               tie_col: str) -> DataFrame:
    """One row per key: the ``(seq_col, tie_col)``-max row, every column
    kept in input order.

    NULL seq sorts strictly below every real seq, 0 included: a key holding
    both a seq-0 and a NULL-seq row resolves to the seq-0 row whatever the
    event ids. Callers who want the engine's NULL≡0 contract (ties then
    broken by event_id, as ``reduce_log`` does) coalesce seq first, as
    ``replay_batch`` does. An all-NULL-seq key is kept; its tie column
    decides. Rows with a NULL key component group together like any other
    key value; the merge drops them (unmergeable) and the replayer counts
    them.

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
    max_broadcast_keys: int | None = None,
) -> DataFrame:
    """``lww_reduce`` with the CDC log's column names. The replayer calls it
    through its module global, so a profiler can wrap the resolve step."""
    # max_broadcast_keys is ignored; perfbench still passes it
    return lww_reduce(df, key_cols, seq_col, tie_col)
