"""Extreme hot-key skew (one repo ~90% of events) and multi-source fan-in
(S3: unionByName of two log streams)."""

from __future__ import annotations

import pytest

from nostr_data_pipeline_spark.cdc.generator import LogSpec, make_log_frame, write_log
from nostr_data_pipeline_spark.cdc.oracle import reduce_log
from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA, replay_batch, replay_log
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

# zipf_a=6 makes repo-0000 receive ~97% of all events: the hot-key regime
# the partial max(seq) aggregation exists for
HOT = LogSpec(n_events=5000, n_repos=40, paths_per_repo=10, zipf_a=6.0,
              seed=5, n_files=4)


@pytest.mark.parametrize("max_broadcast_keys", [5_000_000, 1],
                         ids=["maxseq", "maxseq_shuffle"])
def test_hot_repo_skew_all_modes(spark, tmp_path, monkeypatch,
                                 max_broadcast_keys):
    """The hot key under both winner join-backs (broadcast, and shuffle
    above the ceiling)."""
    from functools import partial

    from nostr_data_pipeline_spark.cdc import replayer

    monkeypatch.setattr(replayer, "replay_batch",
                        partial(replayer.replay_batch,
                                max_broadcast_keys=max_broadcast_keys))
    log_dir = str(tmp_path / "log")
    write_log(log_dir, HOT)
    expected = reduce_log(make_log_frame(HOT))
    # sanity: the skew is real
    top_share = (
        expected_events := make_log_frame(HOT)
    )["repo"].value_counts(normalize=True).iloc[0]
    assert top_share > 0.8
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    replay_log(spark, table, log_dir, n_batches=2)
    got = table.read(spark).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert list(got["content_sha256"]) == list(expected["content_sha256"])


def test_multi_source_fanin_union(spark, tmp_path):
    """S3 (relay_client.py:232-323 RelayPool): N sources feeding one pipeline
    = unionByName of the sources; overlapping deliveries (the same events
    from both sources) must still replay exactly once."""
    from pyspark.sql import functions as F

    spec = LogSpec(n_events=3000, n_repos=10, paths_per_repo=8, seed=17, n_files=2)
    a, b = str(tmp_path / "relay_a"), str(tmp_path / "relay_b")
    write_log(a, spec)
    write_log(b, spec)  # identical log = full redelivery from a second source
    src = (
        spark.read.schema(LOG_SCHEMA).parquet(a)
        .unionByName(spark.read.schema(LOG_SCHEMA).parquet(b))
    )
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    from nostr_data_pipeline_spark.cdc.replayer import TARGET_BASE_SCHEMA

    table.create(TARGET_BASE_SCHEMA)
    replay_batch(spark, table, src, "fanin", 0)
    expected = reduce_log(make_log_frame(spec))
    got = table.read(spark).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert list(got["content_sha256"]) == list(expected["content_sha256"])
