"""End-to-end batch replay vs the pure-pandas oracle.

The BASELINE.json invariant: after full replay, every surviving row's
content sha256 equals the oracle's (plus full-row equality on every other
column). Covers duplicates, out-of-order delivery, hot-key skew, deletes,
and schema-change events.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
import pytest

from nostr_data_pipeline_spark.cdc import replayer
from nostr_data_pipeline_spark.cdc.generator import LogSpec, make_log_frame, write_log
from nostr_data_pipeline_spark.cdc.oracle import reduce_log
from nostr_data_pipeline_spark.cdc.replayer import replay_log
from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

SPEC = LogSpec(n_events=4000, n_repos=20, paths_per_repo=15, seed=7, n_files=4)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cdclog")
    write_log(str(d), SPEC)
    return str(d)


@pytest.fixture(scope="module")
def expected():
    return reduce_log(make_log_frame(SPEC))


def _check_final_state(spark, table: SnapshotTable, expected: pd.DataFrame):
    got = (
        table.read(spark)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expected), f"row count {len(got)} != {len(expected)}"
    exp = expected.copy()
    # normalize dtypes for comparison
    for c in ("size_bytes", "stars"):
        if c in exp.columns:
            exp[c] = exp[c].astype("Float64")
            got[c] = got[c].astype("Float64")
    assert list(got["content_sha256"]) == list(exp["content_sha256"]), "sha256 mismatch"
    for c in ["repo", "path", "commit", "lang", "content", "last_seq",
              "last_event_id", "size_bytes", "stars"]:
        pd.testing.assert_series_equal(
            got[c], exp[c], check_dtype=False, check_names=False, obj=c
        )


# Differential config matrix: the same log replayed under every config that
# selects a different plan or metrics path must land on the oracle state.
# "maxseq" is the default: CoW with lineage, so the resolved batch is cached
# and counted per bucket, and the count is the merge's source_buckets hint.
MATRIX = {
    "maxseq": {},
    # no lineage job: the first batch bulk-loads the empty table from an
    # unpinned source, the next probes a pinned one
    "cow_no_lineage": {"collect_lineage": False},
    "aqe_off": {},
    # merge-on-read without lineage: the delta write is the only job
    "mor_observed": {"merge_mode": "mor", "collect_lineage": False},
    # merge-on-read with lineage: taken from the delta files' footers
    "mor_lineage": {"merge_mode": "mor"},
}


@pytest.mark.parametrize(
    "n_batches,config",
    [(2, "maxseq"), (2, "cow_no_lineage"), (3, "aqe_off"), (2, "mor_observed"),
     (1, "mor_lineage")],
)
def test_replay_matches_oracle(spark, log_dir, expected, tmp_path, monkeypatch,
                               n_batches, config):
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    kw = dict(MATRIX[config])
    # replay_log forwards merge_mode itself; the rest rides the patch
    merge_mode = kw.pop("merge_mode", "cow")
    monkeypatch.setattr(replayer, "replay_batch",
                        partial(replayer.replay_batch, **kw))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    if config == "aqe_off":
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        batches = replay_log(spark, table, log_dir, n_batches=n_batches,
                             merge_mode=merge_mode).batches
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    frame = make_log_frame(SPEC)
    assert len(batches) == n_batches
    assert sum(b["rows_seen"] for b in batches) == \
        (frame["op"] != "schema_change").sum()
    assert all(b["rows_resolved_exact"] for b in batches)
    if merge_mode == "mor":
        # one row per key: a delta holds exactly the resolved batch
        assert all(b["rows_resolved"] == b["rows_written"] for b in batches)
    _check_final_state(spark, table, expected)


def test_replay_is_idempotent(spark, log_dir, expected, tmp_path):
    """Re-running committed batches is a no-op (exactly-once markers)."""
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    replay_log(spark, table, log_dir, n_batches=4)
    v1 = table.current_version()
    res2 = replay_log(spark, table, log_dir, n_batches=4)
    assert all(b.get("skipped_replay") for b in res2.batches)
    assert table.current_version() == v1
    _check_final_state(spark, table, expected)


def test_late_lower_seq_batch_cannot_regress(spark, log_dir, expected, tmp_path):
    """Apply the log's second half first, then the first half (as a different
    stream): the seq guard + tombstones must keep the final state identical."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.replayer import LOG_SCHEMA, replay_batch
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    from nostr_data_pipeline_spark.cdc.replayer import TARGET_BASE_SCHEMA
    table.create(TARGET_BASE_SCHEMA)
    log = spark.read.schema(LOG_SCHEMA).parquet(log_dir)
    mid = SPEC.n_events // 2
    late = log.filter(F.col("seq") >= mid)
    early = log.filter(F.col("seq") < mid)
    replay_batch(spark, table, late, "s-late", 0)
    replay_batch(spark, table, early, "s-early", 0)
    _check_final_state(spark, table, expected)


def test_lineage_metrics_recorded(spark, log_dir, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    replay_log(spark, table, log_dir, n_batches=2)
    m = table.manifest()
    assert m["commits"].get("batch-replay") == 1  # exactly-once marker
    # at least one data commit carries per-bucket lineage
    found = False
    for v in range(1, table.current_version() + 1):
        mf = table.manifest(v)
        if mf.get("metrics", {}).get("lineage_rows_per_bucket"):
            found = True
            total = sum(mf["metrics"]["lineage_rows_per_bucket"].values())
            assert total > 0
    assert found


def test_materialize_evolved_mid_replay(spark, log_dir, expected, tmp_path):
    """materialize_evolved buys back the evolved-column payload parse
    without ever owning correctness: replay 60% of the log, compact, replay
    the rest (whose widen event must DROP the stale size_bytes stamp), and
    the final state still equals the oracle exactly."""
    import pyspark.sql.functions as F

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, replay_batch,
    )

    t = SnapshotTable(str(tmp_path / "t"), num_buckets=8)
    t.create(TARGET_BASE_SCHEMA)
    log = spark.read.schema(LOG_SCHEMA).parquet(log_dir)
    hi = log.agg(F.max("seq")).first()[0]
    cutoff = int(hi * 0.6)  # after the 40%/55% schema adds, before the 70% widen
    replay_batch(spark, t, log.filter(F.col("seq") <= cutoff), "s", 0)

    res = t.materialize_evolved(spark)
    assert res["materialized_columns"] == 2  # size_bytes + stars
    ev = t.manifest()["evolved"]
    assert ev["size_bytes"]["mat_seq"] == res["mat_seq"]
    assert "size_bytes" in t.schema().fieldNames()  # physically present now

    replay_batch(spark, t, log.filter(F.col("seq") > cutoff), "s", 1)
    ev = t.manifest()["evolved"]
    assert "mat_seq" not in ev["size_bytes"], "widen must drop the stale stamp"
    assert ev["size_bytes"]["type"] == "long"
    assert "mat_seq" in ev["stars"], "untouched column keeps its stamp"
    _check_final_state(spark, t, expected)

    # re-materialize at the final state: still oracle-exact, all stamped,
    # and the physical field is re-typed to the WIDENED spec (no truncation)
    t.materialize_evolved(spark)
    assert all("mat_seq" in s for s in t.manifest()["evolved"].values())
    assert t.schema()["size_bytes"].dataType.typeName() == "long"
    _check_final_state(spark, t, expected)


def test_materialized_column_survives_late_low_seq_merges(spark, tmp_path):
    """Review repro (round 2): rows merged AFTER materialization whose
    last_seq lands at or below mat_seq carry physical NULL — the evolved
    value must still come from the payload parse, never silently read as
    the NULL physical."""
    import json as _json

    import pyspark.sql.functions as F

    from nostr_data_pipeline_spark.cdc.replayer import TARGET_BASE_SCHEMA

    t = SnapshotTable(str(tmp_path / "t"), num_buckets=4)
    t.create(TARGET_BASE_SCHEMA)
    t.evolve_column("size_bytes", "long", 5)

    def src(rows):
        data = [
            ("r", p, "c", "py", "x", "h", _json.dumps({"size_bytes": str(sb)}),
             seq, f"e{seq}", None)
            for p, sb, seq in rows
        ]
        return spark.createDataFrame(data, TARGET_BASE_SCHEMA)

    t.merge(spark, src([("pA", 123, 10), ("pB", 6, 6)]))
    t.materialize_evolved(spark)  # mat_seq = 10

    # late NEW key at seq 7 (< mat_seq) and an UPDATE at seq 8 winning over
    # the seq-6 row — both arrive after compaction, physical NULL
    t.merge(spark, src([("pC", 77, 7), ("pB", 8, 8)]))
    got = {r["path"]: r["size_bytes"] for r in t.read(spark).collect()}
    assert got == {"pA": 123, "pC": 77, "pB": 8}


def test_replay_log_empty_dir_chunked(spark, tmp_path):
    """Empty log + n_batches > 1 must not crash on None seq bounds."""
    import os as _os

    empty = str(tmp_path / "empty")
    _os.makedirs(empty)
    t = SnapshotTable(str(tmp_path / "t"), num_buckets=4)
    res = replay_log(spark, t, empty, n_batches=4)
    assert len(res.batches) == 1 and res.rows_applied == 0
    assert t.read(spark).count() == 0


def test_replay_mor_matches_oracle(spark, log_dir, expected, tmp_path):
    """merge_mode='mor': every batch commit is a delta append (no target
    rewrite); compact_every folds them mid-replay and at the end. Final
    state must be byte-identical to the CoW replay / the oracle."""
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    replay_log(spark, table, log_dir, n_batches=5, merge_mode="mor",
               compact_every=2)
    assert not any(table.manifest().get("deltas", {}).values())
    _check_final_state(spark, table, expected)


def test_replay_mor_uncompacted_read_matches_oracle(spark, log_dir, expected,
                                                    tmp_path):
    """Without compaction the deltas stay on disk and the READ-side LWW
    resolution alone must produce the oracle state."""
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=8)
    replay_log(spark, table, log_dir, n_batches=5, merge_mode="mor")
    assert any(table.manifest().get("deltas", {}).values())
    _check_final_state(spark, table, expected)


def test_rows_applied_counts_each_row_once(spark, tmp_path):
    """rows_applied must not double count CoW merges (whose metrics carry
    BOTH disposition counts and a rows_written total) and must count MoR
    delta rows (whose metrics carry only rows_written)."""
    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log

    spec = LogSpec(n_events=300, n_repos=3, paths_per_repo=10, seed=3,
                   dup_rate=0.0, delete_rate=0.0, n_files=2)
    log_dir = str(tmp_path / "log")
    write_log(log_dir, spec)
    exp = reduce_log(make_log_frame(spec))
    cow = SnapshotTable(str(tmp_path / "cow"), num_buckets=4)
    res = replay_log(spark, cow, log_dir)
    # no deletes, empty table: every applied row is an insert, once
    assert res.rows_applied == len(exp)
    mor = SnapshotTable(str(tmp_path / "mor"), num_buckets=4)
    res_m = replay_log(spark, mor, log_dir, merge_mode="mor")
    assert res_m.rows_applied == len(exp)


def test_null_key_rows_surfaced_not_silent(spark, tmp_path):
    """A CDC record with a null key component is unmergeable: CoW and MoR
    must DROP it from the table (never write a null-key row) and SURFACE
    the drop in metrics instead of silently losing it."""
    import pandas as pd

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, replay_batch,
    )

    rows = pd.DataFrame({
        "event_id": ["e1", "e2", "e3"],
        "seq": pd.array([1, 2, 3], dtype="int64"),
        "op": ["upsert"] * 3,
        "repo": ["r1", None, "r1"],
        "path": ["a", "b", "c"],
        "ts": pd.to_datetime(["2024-01-01"] * 3),
        "commit": ["c"] * 3, "lang": ["py"] * 3,
        "content": ["x", "y", "z"],
        "extra_json": [None] * 3,
        "sc_col_name": [None] * 3, "sc_col_type": [None] * 3,
    })
    batch = spark.createDataFrame(rows, LOG_SCHEMA)

    t1 = SnapshotTable(str(tmp_path / "t1"), num_buckets=4)
    t1.create(TARGET_BASE_SCHEMA)
    m1 = replay_batch(spark, t1, batch, "s", 0)
    assert m1["rows_resolved"] == 2 and m1["rows_seen"] == 3
    assert m1["rows_nullkey_dropped_groups"] == 1
    assert t1.read(spark).count() == 2

    t2 = SnapshotTable(str(tmp_path / "t2"), num_buckets=4)
    t2.create(TARGET_BASE_SCHEMA)
    m2 = replay_batch(spark, t2, batch, "s", 0, merge_mode="mor")
    assert m2["rows_resolved"] == 2 and m2["rows_seen"] == 3
    assert m2["rows_nullkey_dropped"] == 1
    t2.fold_deltas(spark)
    assert t2.read(spark).count() == 2


def test_agg_mode_null_key_metrics(spark, tmp_path):
    """A CoW batch without lineage (no count job at all) must still
    EXCLUDE null-key winners from rows_resolved and surface the drop: the
    Observations count the null-key rows and groups before the merge drops
    them."""
    import pandas as pd

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, replay_batch,
    )

    rows = pd.DataFrame({
        "event_id": ["e1", "e2", "e3"],
        "seq": pd.array([1, 2, 3], dtype="int64"),
        "op": ["upsert"] * 3,
        "repo": ["r1", None, "r1"],
        "path": ["a", "b", "c"],
        "ts": pd.to_datetime(["2024-01-01"] * 3),
        "commit": ["c"] * 3, "lang": ["py"] * 3,
        "content": ["x", "y", "z"],
        "extra_json": [None] * 3,
        "sc_col_name": [None] * 3, "sc_col_type": [None] * 3,
    })
    batch = spark.createDataFrame(rows, LOG_SCHEMA)
    t = SnapshotTable(str(tmp_path / "t"), num_buckets=4)
    t.create(TARGET_BASE_SCHEMA)
    m = replay_batch(spark, t, batch, "s", 0, collect_lineage=False)
    assert m["rows_resolved"] == 2 and m["rows_seen"] == 3
    assert m["rows_nullkey_dropped_groups"] == 1
    assert m["rows_nullkey_dropped"] == 1
    assert t.read(spark).count() == 2


def test_schema_event_footer_fast_path(spark, tmp_path):
    """A batch whose parquet footers prove sc_col_name is all-null must
    yield [] from collect_schema_events WITHOUT any scan job; a file with
    a real schema_change row defeats the proof and the fallback scan finds
    it. Soundness: the proof can only skip, never miss."""
    import pandas as pd

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, _footers_prove_no_schema_events, collect_schema_events,
    )

    def _log_df(with_sc):
        rows = pd.DataFrame({
            "event_id": ["e1", "sc1"],
            "seq": pd.array([1, 2], dtype="int64"),
            "op": ["upsert", "schema_change" if with_sc else "upsert"],
            "repo": ["r1", "_schema"],
            "path": ["a", ""],
            "ts": pd.to_datetime(["2024-01-01"] * 2),
            "commit": ["c", None], "lang": ["py", None],
            "content": ["x", None],
            "extra_json": [None, None],
            "sc_col_name": [None, "stars" if with_sc else None],
            "sc_col_type": [None, "long" if with_sc else None],
        })
        return spark.createDataFrame(rows, LOG_SCHEMA)

    clean_dir = str(tmp_path / "clean")
    sc_dir = str(tmp_path / "sc")
    _log_df(False).coalesce(1).write.parquet(clean_dir)
    _log_df(True).coalesce(1).write.parquet(sc_dir)

    clean = spark.read.schema(LOG_SCHEMA).parquet(clean_dir)
    assert _footers_prove_no_schema_events(clean)
    # the fast path must not touch the executors: poison the scan
    poisoned = clean.filter
    try:
        clean.filter = lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("fast path ran a scan"))
        assert collect_schema_events(clean) == []
    finally:
        clean.filter = poisoned

    dirty = spark.read.schema(LOG_SCHEMA).parquet(sc_dir)
    assert not _footers_prove_no_schema_events(dirty)
    got = collect_schema_events(dirty)
    assert [(r["sc_col_name"], r["sc_col_type"]) for r in got] == [
        ("stars", "long")]


def _write_frame_as_log(frame, out_dir, n_files=2):
    """Write a (possibly modified) log frame as parquet part files with the
    generator's exact arrow schema — seq stays a NULLABLE int64."""
    import os as _os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([
        ("event_id", pa.string()), ("seq", pa.int64()), ("op", pa.string()),
        ("repo", pa.string()), ("path", pa.string()),
        ("ts", pa.timestamp("us")), ("commit", pa.string()),
        ("lang", pa.string()), ("content", pa.string()),
        ("extra_json", pa.string()), ("sc_col_name", pa.string()),
        ("sc_col_type", pa.string()),
    ])
    bounds = np.linspace(0, len(frame), n_files + 1, dtype=int)
    for k in range(n_files):
        part = frame.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            f"{out_dir}/part-{k:04d}.parquet",
        )


def _null_seq_frame():
    """A log where (a) some events of EXISTING keys carry NULL seq (contract:
    they mean seq 0 and lose to any real writer) and (b) one brand-new key
    has ONLY null-seq events (the event_id tie-break decides the winner)."""
    import pandas as pd

    spec = LogSpec(n_events=600, n_repos=5, paths_per_repo=8, seed=11,
                   n_files=2)
    df = make_log_frame(spec)
    df["seq"] = df["seq"].astype("Int64")
    data_idx = df.index[df["op"] == "upsert"]
    df.loc[data_idx[:25], "seq"] = pd.NA
    extra = pd.DataFrame({
        "event_id": ["zznull-1", "zznull-2"],
        "seq": pd.array([pd.NA, pd.NA], dtype="Int64"),
        "op": ["upsert", "upsert"],
        "repo": ["nullrepo"] * 2, "path": ["a.py"] * 2,
        "ts": pd.to_datetime(["2024-02-01", "2024-02-02"]),
        "commit": ["c1", "c2"], "lang": ["py"] * 2,
        "content": ["older body", "winning body"],
        "extra_json": [None] * 2,
        "sc_col_name": [None] * 2, "sc_col_type": [None] * 2,
    })
    return pd.concat([df, extra], ignore_index=True)


@pytest.mark.parametrize(
    "n_batches,config", [(1, "maxseq"), (4, "maxseq"), (2, "cow_no_lineage")],
)
def test_replay_null_seq_rows_match_oracle(spark, tmp_path, monkeypatch,
                                           n_batches, config):
    """NULL-seq rows must neither vanish (multi-batch slicing) nor win the
    LWW race (pandas NaN-sorts-last artifact): a single batch, a seq-sliced
    replay and a replay without the lineage job must land on the oracle's
    normalized state. ``config`` names a MATRIX entry."""
    frame = _null_seq_frame()
    log_dir = str(tmp_path / "log")
    _write_frame_as_log(frame, log_dir)
    exp = reduce_log(frame)

    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=4)
    monkeypatch.setattr(replayer, "replay_batch",
                        partial(replayer.replay_batch, **MATRIX[config]))
    replay_log(spark, table, log_dir, n_batches=n_batches)
    got = (table.read(spark).toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    assert len(got) == len(exp)
    assert list(got["content_sha256"]) == list(exp["content_sha256"])
    assert list(got["last_seq"]) == list(exp["last_seq"])
    assert list(got["last_event_id"]) == list(exp["last_event_id"])
    win = got[(got["repo"] == "nullrepo") & (got["path"] == "a.py")]
    assert len(win) == 1 and win.iloc[0]["content"] == "winning body"
    assert win.iloc[0]["last_seq"] == 0  # normalized, not NULL


def test_resolve_lww_all_null_seq_group_kept_all_modes(spark):
    """An all-NULL-seq key must survive resolution, with its tie column
    deciding the winner (an equality filter on a NULL max seq once dropped
    the whole group)."""
    from nostr_data_pipeline_spark.cdc.lww import resolve_lww

    df = spark.createDataFrame(
        [("r", "p", None, "e1", "old"), ("r", "p", None, "e2", "new"),
         ("r", "q", 7, "e3", "real")],
        "repo string, path string, seq long, event_id string, content string",
    )
    got = {(r["repo"], r["path"]): r["content"]
           for r in resolve_lww(df).collect()}
    assert got == {("r", "p"): "new", ("r", "q"): "real"}


def test_replay_log_empty_dir_chunked_folds_deltas(spark, tmp_path):
    """compact_every's 'once at the end' contract must hold even when the
    multi-batch path takes the empty-log early return: deltas left by an
    EARLIER ingest still fold."""
    import os as _os

    spec = LogSpec(n_events=200, n_repos=3, paths_per_repo=5, seed=5,
                   n_files=2)
    log_dir = str(tmp_path / "log")
    write_log(log_dir, spec)
    table = SnapshotTable(str(tmp_path / "tbl"), num_buckets=4)
    replay_log(spark, table, log_dir, n_batches=2, merge_mode="mor")
    assert any(table.manifest().get("deltas", {}).values())
    empty = str(tmp_path / "empty")
    _os.makedirs(empty)
    replay_log(spark, table, empty, stream_id="s2", n_batches=4,
               merge_mode="mor", compact_every=1)
    assert not any(table.manifest().get("deltas", {}).values())


def _returns_within(fn, timeout_s=120):
    """``fn()`` run in a daemon thread: an Observation that never fills
    blocks its ``get`` forever, and that must fail the test, not stall the
    suite."""
    import threading

    box = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as e:  # re-raised on the test thread
            box["err"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=timeout_s)
    assert not t.is_alive(), f"no return within {timeout_s}s (hung)"
    if "err" in box:
        raise box["err"]
    return box["out"]


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_replay_batch_metrics_never_hang(spark, tmp_path, merge_mode):
    """The batch metrics ride Observations, and ``Observation.get`` blocks
    until an action evaluates the observed plan. Every batch shape must
    still return, with exact rows_seen: an empty data batch, a batch of
    only schema_change rows, a normal batch and its replay (skipped), into
    an empty and a non-empty table, with lineage on and off."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, replay_batch,
    )

    spec = LogSpec(n_events=300, n_repos=3, paths_per_repo=5, seed=9,
                   n_files=1)
    d = str(tmp_path / "log")
    write_log(d, spec)
    frame = make_log_frame(spec)
    n_data = int((frame["op"] != "schema_change").sum())
    log = spark.read.schema(LOG_SCHEMA).parquet(d)
    schema_only = log.filter(F.col("op") == "schema_change")
    assert schema_only.count() > 0
    batches = [(log.filter(F.col("seq") < 0), 0), (schema_only, 0),
               (log, n_data)]
    for target in ("empty", "nonempty"):
        for lineage in (True, False):
            t = SnapshotTable(str(tmp_path / f"{target}-{lineage}"),
                              num_buckets=4)
            t.create(TARGET_BASE_SCHEMA)
            if target == "nonempty":
                replay_batch(spark, t, log.filter(F.col("seq") < 100),
                             "seed", 0, merge_mode=merge_mode)
            case = f"{target} lineage={lineage}"
            for b, (batch, want) in enumerate(batches):
                m = _returns_within(partial(
                    replay_batch, spark, t, batch, "s", b,
                    collect_lineage=lineage, merge_mode=merge_mode))
                assert m["rows_seen"] == want, (case, b, m)
                assert m["rows_resolved_exact"], (case, b)
            m = _returns_within(partial(
                replay_batch, spark, t, log, "s", len(batches) - 1,
                collect_lineage=lineage, merge_mode=merge_mode))
            assert m == {"skipped_replay": True, "batch_id": 2}, case
            assert t.read(spark).count() == len(reduce_log(frame)), case


def test_replay_jobs_carry_phase_descriptions(spark, tmp_path):
    """Every Spark job of a one-batch replay_log carries one of the
    replayer's phase descriptions, and the caller's own description is
    back afterwards."""
    spec = LogSpec(n_events=200, n_repos=2, paths_per_repo=4, seed=4,
                   n_files=1)
    d = str(tmp_path / "log")
    write_log(d, spec)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setJobDescription("caller")
    try:
        first = int(jsc.dagScheduler().nextJobId())
        replay_log(spark, SnapshotTable(str(tmp_path / "t"), num_buckets=4),
                   d)
        last = int(jsc.dagScheduler().nextJobId())
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    desc = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if first <= j.jobId() < last:
            desc[j.jobId()] = j.description().getOrElse(None)
    assert len(desc) == last - first > 0
    phases = {"replay: schema events", "replay: lineage",
              "replay: resolve+write"}
    assert set(desc.values()) <= phases, desc
