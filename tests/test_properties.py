"""Property-based invariants (hypothesis): random small logs must always
match the pandas oracle, and the LWW formulations must agree with each
other."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nostr_data_pipeline_spark.cdc.generator import LogSpec, make_log_frame, write_log
from nostr_data_pipeline_spark.cdc.lww import resolve_lww
from nostr_data_pipeline_spark.cdc.oracle import reduce_log
from nostr_data_pipeline_spark.cdc.replayer import replay_log
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

spec_strategy = st.builds(
    LogSpec,
    n_events=st.integers(min_value=50, max_value=400),
    n_repos=st.integers(min_value=1, max_value=8),
    paths_per_repo=st.integers(min_value=1, max_value=6),
    zipf_a=st.floats(min_value=1.05, max_value=3.0),
    dup_rate=st.floats(min_value=0.0, max_value=0.5),
    delete_rate=st.floats(min_value=0.0, max_value=0.5),
    disorder=st.integers(min_value=0, max_value=400),
    n_files=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spec=spec_strategy, n_batches=st.integers(min_value=1, max_value=4))
def test_random_log_replay_matches_oracle(spark, tmp_path_factory, spec, n_batches):
    tmp = tmp_path_factory.mktemp("prop")
    write_log(str(tmp / "log"), spec)
    expected = reduce_log(make_log_frame(spec))
    table = SnapshotTable(str(tmp / "tbl"), num_buckets=4)
    replay_log(spark, table, str(tmp / "log"), n_batches=n_batches)
    got = table.read(spark).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert list(got["content_sha256"]) == list(expected["content_sha256"])
    assert list(got["last_event_id"]) == list(expected["last_event_id"])


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spec=spec_strategy)
def test_lww_modes_agree(spark, spec):
    """The batch resolver picks the oracle's winner per key: the
    ``(seq, event_id)`` max (the log has no NULL seq)."""
    log = make_log_frame(spec)
    data = log[log["op"] != "schema_change"][
        ["repo", "path", "seq", "event_id", "commit", "content"]
    ]
    if data.empty:
        return
    got = (resolve_lww(spark.createDataFrame(data)).toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    want = (data.sort_values(["seq", "event_id"])
            .drop_duplicates(["repo", "path"], keep="last")
            .sort_values(["repo", "path"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[["repo", "path", "seq", "event_id", "content"]],
        want[["repo", "path", "seq", "event_id", "content"]],
        check_dtype=False,
    )


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spec=spec_strategy,
       modes=st.lists(st.sampled_from(["cow", "mor"]), min_size=2, max_size=4),
       compact_after=st.sets(st.integers(min_value=0, max_value=3)))
def test_random_cow_mor_interleave_matches_oracle(spark, tmp_path_factory,
                                                  spec, modes, compact_after):
    """Any interleaving of copy-on-write merges, merge-on-read delta merges,
    and compaction points over a random log must reach the oracle state —
    the MoR soundness contract (same per-key winner rule on every path)."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA,
        TARGET_BASE_SCHEMA,
        replay_batch,
    )

    tmp = tmp_path_factory.mktemp("mor_prop")
    write_log(str(tmp / "log"), spec)
    expected = reduce_log(make_log_frame(spec))
    table = SnapshotTable(str(tmp / "tbl"), num_buckets=4)
    table.create(TARGET_BASE_SCHEMA)
    log = spark.read.schema(LOG_SCHEMA).parquet(str(tmp / "log"))
    bounds = log.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    n = len(modes)
    step = max(1, (hi - lo + 1) // n)
    for b, mode in enumerate(modes):
        lo_b = lo + b * step
        hi_b = hi if b == n - 1 else lo + (b + 1) * step - 1
        chunk = log.filter((F.col("seq") >= lo_b) & (F.col("seq") <= hi_b))
        replay_batch(spark, table, chunk, "prop", b, merge_mode=mode)
        if b in compact_after:
            table.fold_deltas(spark)
    got = (table.read(spark).toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    assert len(got) == len(expected)
    assert list(got["content_sha256"]) == list(expected["content_sha256"])
    assert list(got["last_event_id"]) == list(expected["last_event_id"])
