"""Physical-plan discipline: the plans we'd want at 100 TB, asserted.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema),
- small dims broadcast (BroadcastHashJoin, never SortMergeJoin on dims),
- top-k plans TakeOrderedAndProject (no full sort),
- LWW is one partial+final max_by aggregate (map-side combine),
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


def _cdc_batch(spark, tmp_path):
    """A tiny CDC log's data rows and an empty 4-bucket target table."""
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log
    from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA, TARGET_BASE_SCHEMA
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    d = str(tmp_path / "log")
    write_log(d, LogSpec(n_events=500, n_repos=5, paths_per_repo=5, seed=1, n_files=1))
    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=4)
    t.create(TARGET_BASE_SCHEMA)
    data = spark.read.schema(LOG_SCHEMA).parquet(d).filter("op != 'schema_change'")
    return data, t


def test_cdc_prepare_uses_arrow_udf_only(spark, tmp_path):
    """LWW is one partial-aggregating max_by pass, and sha256 runs as the
    vectorized pandas UDF — no winner-seq aggregate, no join-back."""
    from nostr_data_pipeline_spark.cdc.replayer import prepare_batch

    data, t = _cdc_batch(spark, tmp_path)
    plan = plan_of(prepare_batch(data, t))
    assert "partial_max_by" in plan       # map-side combine of the winner
    assert "ArrowEvalPython" in plan      # vectorized pandas UDF
    assert "BatchEvalPython" not in plan  # never per-row Python
    assert "BroadcastHashJoin" not in plan and "Join" not in plan
    assert "_max_seq" not in plan


def test_lww_guard_folds_into_winner_agg(spark, tmp_path):
    """Resolution reads the batch parquet exactly once before the merge, in
    one aggregation with one shuffle, and needs no cache."""
    from nostr_data_pipeline_spark.cdc.replayer import prepare_batch

    data, t = _cdc_batch(spark, tmp_path)
    resolved = prepare_batch(data, t)
    plan = plan_of(resolved)
    n_scans = plan.count("FileScan") + plan.count("BatchScan")
    assert n_scans == 1, f"batch must be scanned once pre-merge, saw {n_scans}"
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max_by" in plan and "InMemoryRelation" not in plan
    assert "_max_seq" not in plan
    assert resolved.count() == 25


def test_resolve_lww_composes_into_streaming_plans(spark, tmp_path):
    """resolve_lww runs no eager action, so it composes into a streaming
    frame and plans lazily, as one max_by aggregation with no join."""
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log
    from nostr_data_pipeline_spark.cdc.lww import resolve_lww
    from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA

    d = str(tmp_path / "log")
    write_log(d, LogSpec(n_events=200, n_repos=3, paths_per_repo=3, seed=2, n_files=1))
    stream = spark.readStream.schema(LOG_SCHEMA).parquet(d)
    narrow = stream.select("repo", "path", "seq", "event_id", "content")
    out = resolve_lww(narrow, ("repo", "path"), "seq", "event_id")
    assert out.isStreaming  # plan built lazily, no eager count crash
    # a streaming plan can't be optimize()d before start: assert on the
    # analyzed logical plan
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "max_by" in analyzed
    assert "Join" not in analyzed and "_max_seq" not in analyzed


def test_bulk_load_merge_does_not_pin_source(spark, tmp_path, monkeypatch):
    """A CoW merge into a table with no files evaluates its source once, in
    the write, so it never caches it; a merge that probes the target files
    first still pins it."""
    from nostr_data_pipeline_spark.cdc.replayer import prepare_batch
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    # the written plan is taken at write time: merge unpersists a source it
    # pinned before it returns
    plans = []
    write = SnapshotTable._write_bucketed

    def spy(self, df, *a):
        plans.append(plan_of(df))
        return write(self, df, *a)

    monkeypatch.setattr(SnapshotTable, "_write_bucketed", spy)
    data, t = _cdc_batch(spark, tmp_path)
    t.merge(spark, prepare_batch(data, t))  # bulk load
    t.merge(spark, prepare_batch(data, t))  # probed
    bulk, probed = plans
    assert "InMemoryRelation" not in bulk
    assert "InMemoryRelation" in probed


def test_corpus_prepare_pushes_lang_filter(spark):
    """corpus_prepare's language allowlist must reach the parquet scan
    (cheapest-first: dedup never reads rejected rows); the quality predicate
    is computed so it can't push — but lang can and must."""
    plan = plan_of(A.corpus_prepare(spark, SF))
    assert "In(lang" in plan, plan.split("ReadSchema")[0][-500:]


def test_empty_read_optimizes_away_the_merge_join(spark, tmp_path):
    """An empty file list reads as an empty LocalRelation the optimizer can
    see, so a full-outer join against it (a CoW merge into an empty table or
    into new buckets) plans with no Join at all."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = SnapshotTable(str(tmp_path / "tbl"), key_cols=("k",), num_buckets=2)
    empty = t._read_files(spark, [], schema)
    assert optimized_of(empty).startswith("LocalRelation <empty>")
    src = spark.range(3).selectExpr("id AS k", "'x' AS v")
    joined = src.alias("s").join(empty.alias("t"), F.col("s.k") == F.col("t.k"),
                                 "full_outer")
    assert "Join" not in optimized_of(joined)
    assert joined.count() == 3


def test_pending_point_read_resolves_probed_rows_only(spark, tmp_path):
    """With live merge-on-read deltas a point read filters the base and
    delta rows by the probe key BEFORE the LWW resolve: no delta key-set
    broadcast, no anti/semi join, and every parquet scan carries the key in
    its PushedFilters. The full scan keeps the broadcast key-set plan."""
    from pyspark.sql import types as T

    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    schema = T.StructType.fromDDL(
        "repo string, path string, content string, last_seq long, "
        "last_event_id string")
    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=2,
                      target_file_rows=10)
    t.create(schema)
    t.merge(spark, spark.createDataFrame(
        [("r", f"p{i:04d}", "v1", 1, f"e{i}") for i in range(40)], schema))
    for seq in (2, 3):
        t.merge(spark, spark.createDataFrame(
            [("r", "p0003", f"v{seq}", seq, f"e{seq}")], schema),
            merge_mode="mor")
    df = t.read_keys(spark, [("r", "p0003")])
    plan = plan_of(df)
    for op in ("BroadcastExchange", "LeftAnti", "LeftSemi"):
        assert op not in plan, plan
    scans = plan.split("FileScan parquet")[1:]
    assert scans  # the base and delta files of the key's bucket
    for scan in scans:
        pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "EqualTo(path,p0003)" in pushed, scan
    assert [(r["content"], r["last_seq"]) for r in df.collect()] == [("v3", 3)]
    assert "LeftAnti" in plan_of(t.read(spark))
