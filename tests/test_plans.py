"""Physical-plan discipline: the plans we'd want at 100 TB, asserted.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema),
- small dims broadcast (BroadcastHashJoin, never SortMergeJoin on dims),
- top-k plans TakeOrderedAndProject (no full sort),
- LWW agg is a partial+final hash aggregate (map-side combine),
- no Python row UDFs anywhere in the analytics surface (only ArrowEval).
"""

from __future__ import annotations

import pytest

from nostr_data_pipeline_spark.operators import analytics as A

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    df = A.f1_filter_topk(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "IsNotNull(o_orderstatus)" in plan
    # column pruning: scan must not read o_orderpriority etc.
    assert "o_orderpriority" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_topk_plans_take_ordered(spark):
    plan = plan_of(A.f1_filter_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort for a limit-k


def test_dim_join_broadcasts(spark):
    plan = plan_of(A.j2_broadcast_dim_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lww_agg_has_partial_aggregation(spark):
    plan = plan_of(A.w3_lww_state(spark, SF))
    # partial + final aggregate around one shuffle = map-side combine
    assert "partial_max_by" in plan
    assert "Window" not in plan  # agg formulation, not a sorted window


def test_no_row_python_udfs_in_analytics(spark):
    for name, (fn, _sql) in A.QUERIES.items():
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_cdc_prepare_uses_arrow_udf_only(spark, tmp_path):
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log
    from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA, TARGET_BASE_SCHEMA, prepare_batch
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    d = str(tmp_path / "log")
    write_log(d, LogSpec(n_events=500, n_repos=5, paths_per_repo=5, seed=1, n_files=1))
    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=4)
    t.create(TARGET_BASE_SCHEMA)
    log = spark.read.schema(LOG_SCHEMA).parquet(d)
    data = log.filter("op != 'schema_change'")

    # the winner-seq pass must be a pruned-scan HashAggregate — content
    # never read on that side — and the winner set joins back as a
    # BROADCAST, so the wide payload is filtered map-side and crosses NO
    # wide shuffle (the only Exchange left is the tiny residual tie-resolve
    # over ~one row per key)
    plan = plan_of(prepare_batch(data, t))
    assert "ArrowEvalPython" in plan      # vectorized pandas UDF
    assert "BatchEvalPython" not in plan  # never per-row Python
    assert "HashAggregate" in plan and "partial_max(seq" in plan
    assert "BroadcastHashJoin" in plan, "winner join-back must broadcast"
    pruned_scans = [
        seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]
    ]
    assert any("content" not in s for s in pruned_scans), (
        "max(seq) pass should scan without the content column"
    )


def test_lww_guard_folds_into_winner_agg(spark, tmp_path):
    """The broadcast-OOM guard must not cost an extra scan of the batch:
    with caller-managed stats, the winner set is persisted, the guard count
    is served by that cache, and the join-back reads the winners from
    memory — so the batch parquet appears exactly ONCE in the plan before
    the merge join (round-1 verdict item #2)."""
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log
    from nostr_data_pipeline_spark.cdc.lww import resolve_lww
    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, prepare_batch,
    )
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    d = str(tmp_path / "log")
    write_log(d, LogSpec(n_events=500, n_repos=5, paths_per_repo=5, seed=1, n_files=1))
    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=4)
    t.create(TARGET_BASE_SCHEMA)
    data = spark.read.schema(LOG_SCHEMA).parquet(d).filter("op != 'schema_change'")

    stats: dict = {}
    resolved = prepare_batch(data, t, stats=stats)
    try:
        plan = plan_of(resolved)
        assert stats["join_back"] == "broadcast" and stats["n_keys"] == 25
        # winner side comes from cache, not a second parquet read
        assert "InMemoryTableScan" in plan
        # the text after InMemoryRelation is the *description* of the
        # already-executed cache job, not a live scan — count before it
        live = plan.split("InMemoryRelation")[0]
        n_scans = live.count("FileScan") + live.count("BatchScan")
        assert n_scans == 1, f"batch must be scanned once pre-merge, saw {n_scans}"
        assert "BroadcastHashJoin" in plan
    finally:
        stats["winners"].unpersist()

    # guard fallback: a tiny ceiling must degrade to the shuffle join —
    # for ANY direct resolve_lww caller, not just the replayer
    shaped = data.select("repo", "path", "seq", "event_id", "content")
    stats2: dict = {}
    out = resolve_lww(shaped, ("repo", "path"), "seq", "event_id",
                      max_broadcast_keys=1, stats=stats2)
    try:
        assert stats2["join_back"] == "shuffle"
        # the FORCED hint must be gone — broadcast is now Spark's own
        # autoBroadcastJoinThreshold decision (which respects the 8GB cap),
        # so an over-ceiling winner set can no longer OOM the executors
        assert "strategy=broadcast" not in optimized_of(out)
        assert out.count() == 25  # same result through the guarded path
    finally:
        stats2["winners"].unpersist()


def test_resolve_lww_composes_into_streaming_plans(spark, tmp_path):
    """The guard count is an eager batch action; on a STREAMING frame
    resolve_lww must skip it (foreachBatch is where the guard applies),
    still build a valid lazy plan, and take the SAFE side of the guard —
    the shuffle join-back, not an unguarded forced broadcast."""
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log
    from nostr_data_pipeline_spark.cdc.lww import resolve_lww
    from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA

    d = str(tmp_path / "log")
    write_log(d, LogSpec(n_events=200, n_repos=3, paths_per_repo=3, seed=2, n_files=1))
    stream = spark.readStream.schema(LOG_SCHEMA).parquet(d)
    narrow = stream.select("repo", "path", "seq", "event_id", "content")
    out = resolve_lww(narrow, ("repo", "path"), "seq", "event_id")
    assert out.isStreaming  # plan built lazily, no eager count crash
    # guard armed (default ceiling) -> no broadcast hint in the unbounded
    # plan; an OOM-sized winner set can't be forced onto executors (a
    # streaming plan can't be optimize()d before start, so assert on the
    # analyzed logical plan where the hint would appear as ResolvedHint)
    assert "strategy=broadcast" not in out._jdf.queryExecution().analyzed().toString()
    # explicit vouch (ceiling=None) restores the forced broadcast
    vouched = resolve_lww(narrow, ("repo", "path"), "seq", "event_id",
                          max_broadcast_keys=None)
    assert "strategy=broadcast" in vouched._jdf.queryExecution().analyzed().toString()


def test_corpus_prepare_pushes_lang_filter(spark):
    """corpus_prepare's language allowlist must reach the parquet scan
    (cheapest-first: dedup never reads rejected rows); the quality predicate
    is computed so it can't push — but lang can and must."""
    plan = plan_of(A.corpus_prepare(spark, SF))
    assert "In(lang" in plan, plan.split("ReadSchema")[0][-500:]
