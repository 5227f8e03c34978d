"""Merge-on-read (MoR) delta merges: ``merge(..., merge_mode='mor')`` appends
the batch as key-sorted delta files touching ZERO existing data — the
trickle-CDC write path whose cost is proportional to the batch alone, the
alternative the round-2 verdict named to the (file-pruned) copy-on-write
rewrite. Readers resolve base+deltas to the per-key (seq, tie)-max winner;
``compact()`` folds deltas back into base files (the LSM level merge).

Covers: write-side zero-rewrite, read-side LWW resolution (updates, new
keys, tombstone deletes), CoW/MoR interleaving equivalence, idempotent
replay, point reads, change feeds, compaction folding, retention deletes,
vacuum reclamation of folded deltas, rebucket/materialize interaction, and
the fail-fast guards (coalesce mode, missing LWW columns, winner-rule
mismatch).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("last_seq", T.LongType()),
        T.StructField("last_event_id", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(n, seq=1, content="v1"):
    return [("r", f"p{i:04d}", f"{content}-{i}", seq, f"e{seq}-{i}")
            for i in range(n)]


def _load(spark, tmp_path, name="t", n=40, target_file_rows=10, num_buckets=1):
    t = SnapshotTable(str(tmp_path / name), num_buckets=num_buckets,
                      target_file_rows=target_file_rows)
    t.create(SCHEMA)
    t.merge(spark, _df(spark, _rows(n)))
    return t


def _state(spark, t):
    return {r["path"]: (r["content"], r["last_seq"])
            for r in t.read(spark).collect()}


BATCH2 = [
    ("r", "p0003", "updated", 2, "e2-3"),       # update existing
    ("r", "p9999", "brandnew", 2, "e2-new"),    # new key
]
BATCH3 = [
    ("r", "p0003", "updated-again", 3, "e3-3"),  # update the delta'd key
    ("r", "p0007", "late-loser", 0, "e0-7"),     # LOSES to base seq=1
]


def test_mor_merge_touches_no_existing_files(spark, tmp_path):
    t = _load(spark, tmp_path)
    before = t.manifest()
    res = t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    assert res["merge_mode"] == "mor" and res["rows_written"] == 2
    after = t.manifest()
    # base layout byte-identical: zero rewrite, zero carry — the whole point
    assert after["buckets"] == before["buckets"]
    assert after["deltas"] and all(
        f.startswith("delta-v") for fs in after["deltas"].values() for f in fs
    )
    assert after["delta_lww"] == {"seq_col": "last_seq",
                                  "tie_col": "last_event_id"}


def test_mor_read_resolves_updates_new_keys_and_losers(spark, tmp_path):
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    t.merge(spark, _df(spark, BATCH3), merge_mode="mor")
    got = _state(spark, t)
    assert len(got) == 41  # 40 base + 1 new
    assert got["p0003"] == ("updated-again", 3)   # delta-over-delta winner
    assert got["p9999"] == ("brandnew", 2)
    assert got["p0007"] == ("v1-7", 1)            # late lower-seq lost
    assert got["p0004"] == ("v1-4", 1)            # untouched key intact


def test_mor_equals_cow_on_same_batches(spark, tmp_path):
    a = _load(spark, tmp_path, "a")
    b = _load(spark, tmp_path, "b")
    for batch in (BATCH2, BATCH3):
        a.merge(spark, _df(spark, batch), merge_mode="mor")
        b.merge(spark, _df(spark, batch))  # cow
    assert _state(spark, a) == _state(spark, b)


def test_mor_tombstone_delete_resolves(spark, tmp_path):
    t = _load(spark, tmp_path)
    src = _df(spark, [("r", "p0005", None, 2, "e2-del")]) \
        .withColumn("_deleted", F.lit(True))
    t.merge(spark, src, merge_mode="mor")
    got = _state(spark, t)
    assert "p0005" not in got and len(got) == 39
    # tombstone visible when asked for; resurrection by lower seq impossible
    dead = {r["path"] for r in
            t.read(spark, include_tombstones=True).collect()}
    assert "p0005" in dead
    t.merge(spark, _df(spark, [("r", "p0005", "zombie", 1, "e1-z")]),
            merge_mode="mor")
    assert "p0005" not in _state(spark, t)


def test_cow_and_mor_interleave_soundly(spark, tmp_path):
    """A CoW merge on a table holding deltas must converge to the same
    global (seq, tie)-max winner the pure paths define."""
    a = _load(spark, tmp_path, "a")
    b = _load(spark, tmp_path, "b")
    b4 = [("r", "p0003", "cow-wins", 4, "e4-3"),
          ("r", "p0011", "cow-new", 4, "e4-11")]
    b5 = [("r", "p0003", "mor-late-loser", 2, "e2b-3")]
    for mode, batch in (("mor", BATCH2), ("cow", b4), ("mor", b5)):
        a.merge(spark, _df(spark, batch), merge_mode=mode)
        b.merge(spark, _df(spark, batch))  # all-cow control
    got = _state(spark, a)
    assert got == _state(spark, b)
    assert got["p0003"] == ("cow-wins", 4)
    assert got["p0011"] == ("cow-new", 4)


def test_mor_idempotent_replay(spark, tmp_path):
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor",
            stream_id="s", batch_id=7)
    v = t.current_version()
    res = t.merge(spark, _df(spark, BATCH2), merge_mode="mor",
                  stream_id="s", batch_id=7)
    assert res.get("skipped_replay") and t.current_version() == v


def test_mor_empty_batch_commits_nothing(spark, tmp_path):
    t = _load(spark, tmp_path)
    v = t.current_version()
    res = t.merge(spark, _df(spark, []).limit(0), merge_mode="mor")
    assert res["rows_written"] == 0
    assert t.current_version() == v


def test_mor_point_read_sees_delta_winner(spark, tmp_path):
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    got = {r["path"]: r["content"]
           for r in t.read_keys(spark, [("r", "p0003"), ("r", "p0004"),
                                        ("r", "p9999")]).collect()}
    assert got == {"p0003": "updated", "p0004": "v1-4", "p9999": "brandnew"}


def test_mor_changes_feed(spark, tmp_path):
    t = _load(spark, tmp_path)
    v0 = t.current_version()
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    ch = {r["path"]: r["_change_type"]
          for r in t.changes(spark, v0).collect()}
    assert ch.get("p0003") in ("update_postimage", "update")
    assert ch.get("p9999") == "insert"
    assert "p0004" not in ch


def test_compact_folds_deltas_and_preserves_state(spark, tmp_path):
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    t.merge(spark, _df(spark, BATCH3), merge_mode="mor")
    before = _state(spark, t)
    res = t.compact(spark)
    assert res["deltas_folded"] >= 2
    m = t.manifest()
    assert not any(m["deltas"].values())
    assert _state(spark, t) == before
    # post-fold file stats cover exactly the referenced files (pruning back)
    live = {f for fs in m["buckets"].values() for f in fs}
    assert set(m["file_stats"]) <= live


def test_vacuum_reclaims_folded_delta_files(spark, tmp_path):
    import os
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    t.compact(spark)
    t.merge(spark, _df(spark, [("r", "p0001", "x", 5, "e5")]))  # push history
    removed = t.vacuum(keep_versions=1)
    assert removed > 0
    root = t.path
    leftover = [
        os.path.join(r, fn)
        for d in os.listdir(root) if d.startswith("delta-v")
        for r, _dd, fns in os.walk(os.path.join(root, d))
        for fn in fns if fn.endswith(".parquet")
    ]
    assert leftover == []
    assert _state(spark, t)["p0003"] == ("updated", 2)


def test_delete_where_purges_delta_rows_too(spark, tmp_path):
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    res = t.delete_where(spark, "content LIKE 'updated%' OR path = 'p9999'")
    assert res["rows_deleted"] == 2
    got = _state(spark, t)
    # the condition is evaluated on RESOLVED rows: p0003's winner was the
    # delta's 'updated' — the key is purged, the stale base 'v1-3' must
    # NOT resurrect
    assert "p9999" not in got and "p0003" not in got
    assert len(got) == 39
    assert not any(t.manifest()["deltas"].values())


def test_rebucket_folds_deltas_into_new_layout(spark, tmp_path):
    t = _load(spark, tmp_path, num_buckets=2)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    before = _state(spark, t)
    t.rebucket(spark, 8)
    m = t.manifest()
    assert m["num_buckets"] == 8 and not any(m.get("deltas", {}).values())
    assert _state(spark, t) == before
    # bucket-scoped point read still finds the formerly-delta'd key
    got = {r["path"]: r["content"]
           for r in t.read_keys(spark, [("r", "p9999")]).collect()}
    assert got == {"p9999": "brandnew"}


def test_mor_rejects_coalesce_and_guards_winner_rule(spark, tmp_path):
    t = _load(spark, tmp_path)
    with pytest.raises(ValueError, match="replace"):
        t.merge(spark, _df(spark, BATCH2), merge_mode="mor",
                update_mode="coalesce")
    with pytest.raises(ValueError, match="merge_mode"):
        t.merge(spark, _df(spark, BATCH2), merge_mode="nope")
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    # a different winner rule mid-table would corrupt resolution
    with pytest.raises(ValueError, match="winner rule"):
        t.merge(spark, _df(spark, BATCH3), merge_mode="mor",
                seq_col="last_seq", tie_col="content")
    # coalesce CoW on uncompacted deltas folds against stale base rows
    with pytest.raises(ValueError, match="compact"):
        t.merge(spark, _df(spark, BATCH3), update_mode="coalesce")
    t.compact(spark)
    t.merge(spark, _df(spark, BATCH3), update_mode="coalesce")  # now fine


def test_mor_needs_lww_columns_in_schema(spark, tmp_path):
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    t = SnapshotTable(str(tmp_path / "t"))
    t.create(schema)
    src = spark.createDataFrame([("r", "p", "c")], schema)
    with pytest.raises(ValueError, match="last_seq"):
        t.merge(spark, src, merge_mode="mor")


def test_mor_read_broadcast_plan_and_shuffle_fallback_agree(spark, tmp_path):
    """Small deltas: the read plan broadcasts the delta KEY SET (semi/anti
    joins) so the base table is never hash-repartitioned — the 100 TB read
    path. The over-threshold full-shuffle fallback must produce the same
    state."""
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan
    expected = _state(spark, t)
    forced = SnapshotTable.open(t.path)
    forced.mor_broadcast_bytes = 0  # force the full-resolve fallback
    fplan = forced.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in fplan
    assert _state(spark, forced) == expected


def test_delta_lww_lifecycle_and_cow_rule_guard(spark, tmp_path):
    """Folding ALL deltas releases the winner-rule pin (a later MoR merge
    may choose fresh LWW columns), while LIVE deltas also pin the CoW
    write-side rule (a mismatched CoW merge would be shadowed at read)."""
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    # live deltas: CoW with a different winner rule must fail fast
    with pytest.raises(ValueError, match="winner rule"):
        t.merge(spark, _df(spark, BATCH3), tie_col="content")
    t.compact(spark)
    assert t.manifest().get("delta_lww") is None
    # all folded: a NEW winner rule is legal again (both paths)
    t.merge(spark, _df(spark, BATCH3), tie_col="content")
    t.merge(spark, _df(spark, [("r", "p0008", "x", 9, "e9")]),
            merge_mode="mor", tie_col="content")
    assert t.manifest()["delta_lww"]["tie_col"] == "content"


def test_failed_commit_orphans_are_harmless_and_vacuumable(spark, tmp_path):
    """Crash between data write and manifest swap (the only non-atomic
    window: _commit fsyncs the manifest then atomically swaps _VERSION)
    leaves orphan data files no manifest references. Reads must be
    unaffected — and vacuum reclaims the orphans."""
    import os

    t = _load(spark, tmp_path)
    before = _state(spark, t)
    v = t.current_version()
    # simulate the torn write: a data dir AND a delta dir for a version
    # that never committed
    for d in ("data-v00000099", "delta-v00000099"):
        os.makedirs(os.path.join(t.path, d, "_bucket=0"), exist_ok=True)
        with open(os.path.join(t.path, d, "_bucket=0",
                               "part-orphan.parquet"), "wb") as fh:
            fh.write(b"not a real parquet")
    assert t.current_version() == v
    assert _state(spark, t) == before  # orphans invisible to reads
    removed = t.vacuum(keep_versions=2)
    assert removed >= 2  # both orphan files reclaimed
    assert not os.path.exists(os.path.join(t.path, "data-v00000099"))
    assert not os.path.exists(os.path.join(t.path, "delta-v00000099"))
    assert _state(spark, t) == before


def test_mor_broadcast_ceiling_follows_session_threshold(spark, tmp_path):
    """With mor_broadcast_bytes unset (None), the broadcast-resolve ceiling
    derives from spark.sql.autoBroadcastJoinThreshold at read time: the one
    knob the operator already sized to the executors governs this broadcast
    too. Flipping the conf must flip the plan; results identical."""
    t = _load(spark, tmp_path)
    t.merge(spark, _df(spark, BATCH2), merge_mode="mor")
    assert SnapshotTable.mor_broadcast_bytes is None
    conf = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "10MB")  # deltas are tiny -> broadcast resolve
        plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "LeftSemi" in plan
        expected = _state(spark, t)
        spark.conf.set(conf, "-1")  # operator disabled broadcasts entirely
        plan2 = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in plan2  # full hash-partitioned resolve
        assert _state(spark, t) == expected
    finally:
        spark.conf.set(conf, orig)
    # parse robustness for the conf's size-string forms
    from nostr_data_pipeline_spark.tables.snapshot_table import _parse_byte_size
    assert _parse_byte_size("10485760") == 10 << 20
    assert _parse_byte_size("10MB") == _parse_byte_size("10m") == 10 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("-1") == -1
    with pytest.raises(ValueError):
        _parse_byte_size("10xyz")


def _keys_filter(keys):
    """The probe keys as a plain SQL-equality filter over a full read."""
    from functools import reduce

    return reduce(lambda a, b: a | b, [
        (F.col("repo") == F.lit(r)) & (F.col("path") == F.lit(p))
        for r, p in keys
    ])


@pytest.mark.parametrize("include_tombstones", [False, True],
                         ids=["live", "with_tombstones"])
def test_pending_point_read_matches_full_read_oracle(spark, tmp_path,
                                                     include_tombstones):
    """A point read over live deltas resolves only the probed keys' rows;
    LWW is per key, so it must equal the full read (broadcast key-set
    resolve) filtered to the same keys, row for row and column for column.
    Three pending delta commits over a 4-bucket table."""
    t = _load(spark, tmp_path, num_buckets=4)
    t.merge(spark, _df(spark, BATCH2 + [("r", "p0011", "delta-wins", 2,
                                         "e2-11")]), merge_mode="mor")
    t.merge(spark, _df(spark, BATCH3), merge_mode="mor")
    tomb = _df(spark, [("r", "p0005", None, 2, "e2-del")]) \
        .withColumn("_deleted", F.lit(True))
    t.merge(spark, tomb, merge_mode="mor")
    assert sum(len(fs) for fs in t.manifest()["deltas"].values()) >= 3
    probes = {
        "base_only": ("r", "p0004"),
        "delta_only": ("r", "p9999"),
        "delta_wins": ("r", "p0011"),
        "stale_delta_loses": ("r", "p0007"),
        "several_deltas": ("r", "p0003"),
        "tombstoned": ("r", "p0005"),
        "absent": ("r", "p5555"),
        "null_repo": (None, "p0004"),
        "null_path": ("r", None),
    }
    keys = list(probes.values())
    assert len(t.buckets_for_keys(spark, keys)) > 1  # spans several buckets

    got = t.read_keys(spark, keys, include_tombstones=include_tombstones)
    want = t.read(spark, include_tombstones=include_tombstones) \
        .filter(_keys_filter(keys))
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())

    rows = {r["path"]: r for r in got.collect()}
    assert rows["p0004"]["content"] == "v1-4"
    assert rows["p9999"]["content"] == "brandnew"
    assert rows["p0011"]["content"] == "delta-wins"
    assert (rows["p0007"]["content"], rows["p0007"]["last_seq"]) == ("v1-7", 1)
    assert rows["p0003"]["content"] == "updated-again"
    assert "p5555" not in rows
    if include_tombstones:
        assert rows["p0005"]["_deleted"] and len(rows) == 6
    else:
        assert "p0005" not in rows and len(rows) == 5
    # one key at a time gives the same rows as the batch
    one = [r for k in keys for r in
           t.read_keys(spark, [k], include_tombstones=include_tombstones)
           .collect()]
    assert sorted(one) == sorted(got.collect())
