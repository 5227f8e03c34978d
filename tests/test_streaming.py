"""Streaming replay: watermarked dedup, checkpointed resume, exactly-once."""

from __future__ import annotations

import shutil
import time

import pytest

from nostr_data_pipeline_spark.cdc.generator import LogSpec, make_log_frame, write_log
from nostr_data_pipeline_spark.cdc.oracle import reduce_log
from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

SPEC = LogSpec(n_events=3000, n_repos=15, paths_per_repo=12, seed=11, n_files=6)


@pytest.fixture(scope="module")
def expected():
    return reduce_log(make_log_frame(SPEC))


def _final_matches(spark, table, expected) -> None:
    got = table.read(spark).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert list(got["content_sha256"]) == list(expected["content_sha256"])
    assert list(got["last_seq"]) == list(expected["last_seq"])


@pytest.mark.parametrize("dedup_mode", ["guard", "watermark"])
def test_streaming_replay_matches_oracle(spark, tmp_path, expected, dedup_mode):
    # 'watermark' is only safe on an ordered source: a single write_log dir
    # has strictly increasing file mtimes, so discovery order == event order
    # and nothing falls behind the watermark. 'guard' needs no such property.
    log_dir = str(tmp_path / "log")
    write_log(log_dir, SPEC)
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    rep = StreamingReplayer(table, log_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=2, dedup_mode=dedup_mode)
    rep.run_to_completion(spark)
    _final_matches(spark, table, expected)


def test_checkpoint_resume_across_restarts(spark, tmp_path, expected):
    """Feed half the log, run to completion, kill; feed the rest, restart from
    the same checkpoint: resumes mid-replay and converges to the oracle."""
    import os

    staged = str(tmp_path / "staged")
    log_dir = str(tmp_path / "log")
    files = write_log(staged, SPEC)
    os.makedirs(log_dir)
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, log_dir)

    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    rep = StreamingReplayer(table, log_dir, ckpt, max_files_per_trigger=1)
    rep.run_to_completion(spark)
    v_mid = table.current_version()
    assert v_mid > 1  # some batches applied

    for f in files[half:]:
        shutil.copy(f, log_dir)
    rep2 = StreamingReplayer(table, log_dir, ckpt, max_files_per_trigger=1)
    rep2.run_to_completion(spark)
    _final_matches(spark, table, expected)


def test_killed_mid_stream_resumes_exactly_once(spark, tmp_path, expected):
    """Stop the query after the first micro-batch; restart with the same
    checkpoint. Spark re-offers the in-flight batch; commit markers make the
    re-application a no-op and the final state still matches the oracle."""
    log_dir = str(tmp_path / "log")
    write_log(log_dir, SPEC)
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    rep = StreamingReplayer(table, log_dir, ckpt, max_files_per_trigger=1)
    q = rep.start(spark, available_now=True)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p and p.get("batchId", -1) >= 0 for p in [q.lastProgress] if p is not None):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    rep2 = StreamingReplayer(table, log_dir, ckpt, max_files_per_trigger=2)
    rep2.run_to_completion(spark)
    _final_matches(spark, table, expected)


def test_source_factory_seam_used_verbatim(spark, tmp_path, expected):
    """S1 source seam: a custom reader factory (the Kafka slot-in point)
    must be used verbatim — the replayer's own log_dir is ignored."""
    real = str(tmp_path / "real_log")
    write_log(real, SPEC)
    decoy = str(tmp_path / "decoy_log")
    write_log(decoy, LogSpec(n_events=50, n_repos=2, paths_per_repo=2, seed=99, n_files=1))

    calls = []

    def factory(s):
        calls.append(True)
        return s.readStream.schema(
            __import__("nostr_data_pipeline_spark.cdc.replayer",
                       fromlist=["LOG_SCHEMA"]).LOG_SCHEMA
        ).parquet(real)

    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    rep = StreamingReplayer(t, decoy, str(tmp_path / "ckpt"),
                            source_factory=factory)
    rep.run_to_completion(spark)
    assert calls, "factory was not invoked"
    _final_matches(spark, t, expected)  # state comes from the REAL log


def test_parse_wire_events_decodes_and_streams(spark, tmp_path, expected):
    """Wire-format decode (Kafka/socket shape): JSON event frames -> LOG
    rows, malformed frames -> null rows (reference JSONDecodeError skip);
    composed with source_factory it must replay to the oracle state."""
    import json as _json

    import pyspark.sql.functions as F

    from nostr_data_pipeline_spark.cdc.generator import make_log_frame
    from nostr_data_pipeline_spark.streaming.replayer import parse_wire_events

    # serialize the log as JSON "wire frames" (what a Kafka value would hold)
    pdf = make_log_frame(SPEC)
    frames = [
        _json.dumps({**r, "ts": r["ts"].isoformat(sep=" ")})
        for r in pdf.to_dict("records")
    ]
    frames.append("{not json")  # one malformed frame
    wire_dir = tmp_path / "wire"
    wire_dir.mkdir()
    (wire_dir / "frames.txt").write_text("\n".join(frames))

    # batch-mode decode check first (same expression the stream uses)
    raw = spark.read.text(str(wire_dir)).withColumnRenamed("value", "value")
    decoded = parse_wire_events(raw)
    ok = decoded.filter(F.col("event_id").isNotNull())
    assert ok.count() == len(pdf)
    assert decoded.count() == len(pdf) + 1  # malformed row survives as nulls

    # streamed through the factory seam -> full oracle parity
    t = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    rep = StreamingReplayer(
        t, "", str(tmp_path / "ckpt"),
        source_factory=lambda s: parse_wire_events(
            s.readStream.text(str(wire_dir))
        ).filter(F.col("event_id").isNotNull()),
    )
    rep.run_to_completion(spark)
    _final_matches(spark, t, expected)


def test_streaming_mor_replay_matches_oracle(spark, tmp_path, expected):
    """merge_mode='mor' micro-batches: each foreachBatch slot appends deltas
    only; compact_every=3 folds them inside the stream. Final state matches
    the oracle and the periodic folding left no unbounded delta backlog."""
    log_dir = str(tmp_path / "log")
    write_log(log_dir, SPEC)
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    rep = StreamingReplayer(table, log_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=1, merge_mode="mor",
                            compact_every=3)
    rep.run_to_completion(spark)
    _final_matches(spark, table, expected)
    # every file-discovery micro-batch went through the MoR slot
    assert rep._applied_batches >= 3
    # the manifest-state trigger bounds the delta backlog: folding fires
    # whenever >= compact_every uncompacted delta commits exist, so at
    # stream end fewer than compact_every remain (restart-safe: the
    # trigger reads the manifest, not a process-local counter)
    deltas = table._deltas_of(table.manifest())
    pending = {f.split("/", 1)[0] for fs in deltas.values() for f in fs}
    assert len(pending) < 3


def test_streaming_mor_vouched_fast_path(spark, tmp_path, expected):
    """merge_mode='mor': the one-job-per-batch trickle fast path — no
    count job; the row metrics ride Observations filled by the delta write
    and the per-bucket lineage comes from parquet footers (recorded in
    every MoR commit's manifest metrics). Final state must
    match the oracle, and the footer lineage must sum to the delta rows."""
    import json

    log_dir = str(tmp_path / "log")
    write_log(log_dir, SPEC)
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    rep = StreamingReplayer(table, log_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=2, merge_mode="mor",
                            compact_every=2)
    rep.run_to_completion(spark)
    table.fold_deltas(spark)
    _final_matches(spark, table, expected)
    # every MoR commit's manifest carries footer-derived lineage that sums
    # to the commit's delta rows, plus the fold-cadence counter
    import glob
    import os
    checked = 0
    for mf in sorted(glob.glob(os.path.join(table.path, "manifest-v*.json"))):
        with open(mf) as f:
            mm = json.load(f)
        met = mm.get("metrics", {})
        if met.get("merge_mode") != "mor":
            continue
        lin = met["lineage_rows_per_bucket"]
        assert sum(lin.values()) == met["rows_written"]
        assert met["delta_commits_pending"] >= 1
        checked += 1
    assert checked >= 2
