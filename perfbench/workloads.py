"""The benchmark workloads.

Each workload sets up ``SETUPS`` times (session start, warm-up, preload),
runs its timed operations, and checks every operation against the oracle
outside the timed regions. With tracing on it then runs the timed phase
again with spans around the calls into each layer (the untraced phase is
the base of the tracing overhead), and makes isolated calls that attribute
the compute Spark runs lazily inside ``merge``.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import time
from collections.abc import Callable

from perfbench.inputs import build_analytics_input, build_cdc_input, cached
from perfbench.oracle import (
    STATE_COLS, duckdb_results, normalize_rows, rows_match, table_digest,
)
from perfbench.spans import (
    calmest, layer_totals, median, percentile, steal_share, tail_percentile,
)

CALM_OPS = 3        # timed replays or passes a metric uses: the least stolen
CALM_STEAL = 0.02   # an operation is calm when the host stole at most this share of CPU time
MAX_WAIT = 3        # timed operations wait for calm ones up to MAX_WAIT x --seconds
SETUP_PASSES = 2    # analytics passes per set-up (the warm-up)
NUM_BUCKETS = 32

# input shapes, sized so that a run fits the benchmark's time budget
CDC = dict(n_events=120_000, n_repos=1000, zipf_a=1.3, hot_share=0.3, n_files=18,
           history_files=10, n_probes=10)
ANALYTICS_SCALE = 6_000
# one query per plan shape; every entry has a DuckDB oracle in the registry
ANALYTICS_QUERIES = [
    "q1_pricing_summary", "j3_fact_fact_join", "w3_lww_state", "a10_percentiles",
    "dedup_exact", "dedup_canonical", "ann_ivf_topk",
]


def _timed(fn: Callable[[], object]) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _fresh_table(run, tag: str):
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    path = os.path.join(run.work, "tables", tag)
    shutil.rmtree(path, ignore_errors=True)
    return SnapshotTable(path, num_buckets=NUM_BUCKETS)


def _input_key(run, shape) -> str:
    """Cache key of a workload's inputs: workload, seed, input shape, and
    the code that generates inputs and their oracle results."""
    h = hashlib.sha256(json.dumps(shape, sort_keys=True).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("inputs.py", "oracle.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return f"{run.workload}-s{run.seed}-{h.hexdigest()[:10]}"


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check_probes(run, table, exp: dict, layer: str) -> list[float]:
    """Point-read each probe key alone (the CLI ``file`` command); each read
    is one checked operation. Returns the latencies in ms."""
    lat = []
    for repo, path in exp["probe_keys"]:
        with run.span(layer):
            dt, rows = _timed(lambda: table.read_keys(
                run.spark, [(repo, path)]).select(*STATE_COLS).collect())
        lat.append(dt * 1000)
        want = exp["probe_rows"].get(f"{repo}\x00{path}")
        got = [[r["content_sha256"], int(r["last_seq"])] for r in rows]
        run.check(got == ([want] if want else []), f"point read {repo}/{path}")
    return lat


def _repeat_calm(run, op: Callable[[], None]) -> list[float]:
    """Call ``op`` for ``--seconds``, at least ``CALM_OPS`` times, then on
    until ``CALM_OPS`` calls were calm or ``MAX_WAIT`` times ``--seconds``
    has passed. Returns the share of CPU time the host stole during each
    call."""
    steal: list[float] = []
    t0 = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t0
        calm = sum(s <= CALM_STEAL for s in steal)
        if (len(steal) >= CALM_OPS and elapsed >= run.seconds
                and (calm >= CALM_OPS or elapsed >= MAX_WAIT * run.seconds)):
            return steal
        with steal_share(steal):
            op()


def _check_digest(run, table, want: str, what: str) -> None:
    digest, n = table_digest(run.spark, table)
    run.check(digest == want, f"{what} ({n} rows)")


# ---------------------------------------------------------------- cdc

def cdc(run) -> None:
    """Backfill, then tail: ``replay_log`` (one batch, copy-on-write) of the
    history of a 30%-hot-key log into a fresh 32-bucket table, repeated for
    the run's seconds; then the tail streamed into the last replayed table
    one file per micro-batch under merge-on-read, the reads with the deltas
    pending, the fold, and the reads after it."""
    from nostr_data_pipeline_spark.cdc import replayer as cdc_replayer
    from nostr_data_pipeline_spark.cdc.replayer import replay_log
    from nostr_data_pipeline_spark.streaming import replayer as stream_mod
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    inp = cached(run.cache, _input_key(run, CDC),
                 lambda out: build_cdc_input(out, seed=run.seed, **CDC))
    exp = _load(os.path.join(inp, "expected.json"))
    history = os.path.join(inp, "history")
    tags = itertools.count()

    def one_replay():
        table = _fresh_table(run, f"replay{next(tags)}")
        with run.span("cdc.replayer.replay_log"):
            dt, res = _timed(lambda: replay_log(run.spark, table, history,
                                                collect_lineage=False))
        b = res.batches[0]
        run.check((b["rows_seen"], b["rows_resolved"], b["rows_inserted"])
                  == (exp["history_data_rows"], exp["history_keys"],
                      exp["history_live_rows"]),
                  "replay rows seen, resolved, inserted")
        return dt, table

    def timed_replays():
        """Replay walls, the host steal share during each, the last table."""
        walls, table = [], None

        def replay():
            nonlocal table
            if table is not None:
                shutil.rmtree(table.path)
            dt, table = one_replay()
            walls.append(dt)

        steal = _repeat_calm(run, replay)
        _check_digest(run, table, exp["history_digest"], "replayed state digest")
        return walls, steal, table

    def calm_median(walls, steal) -> float:
        return median([walls[i] for i in calmest(steal, CALM_OPS)])

    run.setup(one_replay)
    walls, steal, table = timed_replays()
    r = _stream_cycle(run, table, os.path.join(inp, "tail"), exp)
    run.detail.update(replay_walls_s=walls, replay_steal_share=steal,
                      replays_used=calmest(steal, CALM_OPS),
                      generate_s=exp["generate_s"], **r)
    run.metrics.update(throughput_per_s=exp["history_rows"] / calm_median(walls, steal),
                       latency_p50_ms=median(r["trigger_ms"]),
                       read_p50_ms=median(r["point_pending_ms"]))
    if run.tracer is None:
        return

    L, spans = run.layer, run.tracer.spans
    first = len(spans)
    with run.traced([
        (cdc_replayer, "replay_batch", "cdc.replayer.replay_batch"),
        (cdc_replayer, "resolve_lww", "cdc.lww.resolve_lww"),
        (SnapshotTable, "merge", "tables.snapshot_table.merge"),
    ]):
        with run.span("bench.timed"):
            traced, traced_steal, table = timed_replays()
    totals = layer_totals(spans[first:])
    unattributed = totals["bench.timed"]["self_s"]
    per = totals["cdc.replayer.replay_log"]
    calls = per["calls"]
    L["tracing_overhead_s"] = calm_median(traced, traced_steal) - calm_median(walls, steal)
    L["cdc.replayer.replay_batch_s"] = totals["cdc.replayer.replay_batch"]["self_s"] / calls
    L["cdc.replayer.jobs_per_commit"] = per["jobs"] / calls
    L["cdc.replayer.shuffle_write_bytes"] = per["shuffle_write_bytes"] / calls
    L["cdc.replayer.input_bytes"] = per["input_bytes"] / calls

    first = len(spans)
    with run.traced([
        (stream_mod, "replay_batch", "cdc.replayer.replay_batch"),
        (cdc_replayer, "resolve_lww", "cdc.lww.resolve_lww"),
        (SnapshotTable, "merge", "tables.snapshot_table.delta_merge"),
    ]):
        with run.span("bench.timed"):
            t = _stream_cycle(run, table, os.path.join(inp, "tail"), exp)
    totals = layer_totals(spans[first:])
    unattributed += totals["bench.timed"]["self_s"]
    progress = t["progress"]
    n = len(progress)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
    trigger = dur("triggerExecution")
    L["streaming.replayer.add_batch_ms_p50"] = median(dur("addBatch"))
    L["streaming.replayer.engine_overhead_ms_p50"] = median(
        [a - b for a, b in zip(trigger, dur("addBatch"))])
    L["streaming.replayer.latest_offset_ms_p50"] = median(dur("latestOffset"))
    L["streaming.replayer.wal_commit_ms_p50"] = median(dur("walCommit"))
    L["streaming.replayer.rows_per_batch"] = median([p["numInputRows"] for p in progress])
    p_tail = tail_percentile(n)
    L["streaming.replayer.trigger_ms_tail"] = (
        percentile(trigger, p_tail) if p_tail is not None else max(trigger))
    L["streaming.replayer.jobs_per_batch"] = (
        totals["cdc.replayer.replay_batch"]["jobs"] / n)
    dm = totals["tables.snapshot_table.delta_merge"]
    L["tables.snapshot_table.delta_merge_s"] = dm["self_s"] / dm["calls"]
    L["tables.snapshot_table.delta_commits_pending"] = t["pending"]
    L["tables.snapshot_table.live_files"] = t["live_files"]
    L["tables.snapshot_table.read_keys_pending_ms"] = median(t["point_pending_ms"])
    L["tables.snapshot_table.scan_pending_ms"] = t["scan_pending_ms"]
    L["tables.snapshot_table.fold_s"] = t["fold_s"]
    L["tables.snapshot_table.read_keys_ms"] = median(t["point_ms"])
    L["tables.snapshot_table.scan_ms"] = t["scan_ms"]
    L["unattributed_s"] = unattributed

    with run.traced():
        _replay_isolated(run, history, exp)


def _isolated(run, name: str, fn: Callable[[], None], reps: int = 3) -> dict:
    """Median duration and counter deltas of ``reps`` calls under span
    ``name``."""
    first = len(run.tracer.spans)
    for _ in range(reps):
        with run.span(name):
            fn()
    mine = [s for s in run.tracer.spans[first:] if s.name == name]
    return {"s": median([s.duration for s in mine]),
            **{k: median([s.counts.get(k, 0) for s in mine])
               for k in ("jobs", "input_bytes", "shuffle_write_bytes")}}


def _replay_isolated(run, log_dir: str, exp: dict) -> None:
    """LWW alone into a ``noop`` sink, the same plan plus sha256, and the
    CoW merge of a persisted, already resolved batch into a fresh table."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.lww import resolve_lww
    from nostr_data_pipeline_spark.cdc.replayer import (
        LOG_SCHEMA, TARGET_BASE_SCHEMA, prepare_batch,
    )
    from nostr_data_pipeline_spark.functions.content import content_sha256

    spark, L = run.spark, run.layer
    data = (spark.read.schema(LOG_SCHEMA).parquet(log_dir)
            .filter(F.col("op") != "schema_change"))
    shaped = data.select("repo", "path", "commit", "lang", "content", "extra_json",
                         "seq", "event_id", F.col("ts").alias("updated_ts"),
                         (F.col("op") == "delete").alias("_deleted"))
    resolved = resolve_lww(shaped, ("repo", "path"), "seq", "event_id",
                           max_broadcast_keys=None)
    hashed = resolved.withColumn(
        "content_sha256", F.when(F.col("content").isNotNull(), content_sha256("content")))
    lww = _isolated(run, "cdc.lww.resolve", lambda: _noop(resolved))
    sha = _isolated(run, "functions.content.sha256", lambda: _noop(hashed))
    L["cdc.lww.resolve_s"] = lww["s"]
    L["cdc.lww.jobs"] = lww["jobs"]
    L["cdc.lww.shuffle_write_bytes"] = lww["shuffle_write_bytes"]
    L["cdc.lww.rows_in"] = exp["history_data_rows"]
    L["cdc.lww.keys_out_per_row_in"] = exp["history_keys"] / exp["history_data_rows"]
    L["functions.content.sha256_s"] = sha["s"] - lww["s"]
    L["functions.content.rows_hashed"] = exp["history_live_rows"]

    probe = _fresh_table(run, "merge-src")
    probe.create(TARGET_BASE_SCHEMA)
    batch = prepare_batch(data, probe, max_broadcast_keys=None).persist()
    batch.count()
    tags = itertools.count()

    def merge_once() -> None:
        t = _fresh_table(run, f"merge{next(tags)}")
        t.create(TARGET_BASE_SCHEMA)
        t.merge(spark, batch)
        files, size = _parquet_files(t.path)
        L["tables.snapshot_table.files_written"] = files
        L["tables.snapshot_table.bytes_written_per_user_byte"] = (
            size / exp["history_user_bytes"])

    mrg = _isolated(run, "tables.snapshot_table.merge_isolated", merge_once)
    batch.unpersist()
    L["tables.snapshot_table.merge_s"] = mrg["s"]
    L["tables.snapshot_table.merge_jobs"] = mrg["jobs"]


def _pending_commits(table) -> int:
    deltas = table._deltas_of(table.manifest())
    return len({f.split("/", 1)[0] for fs in deltas.values() for f in fs})


def _live_files(table) -> int:
    m = table.manifest()
    return (sum(len(fs) for fs in m["buckets"].values())
            + sum(len(fs) for fs in table._deltas_of(m).values()))


def _stream_cycle(run, table, tail: str, exp: dict) -> dict:
    """Stream ``tail`` into ``table``, then the point reads with the deltas
    pending, the fold, and the point reads after it; every step is checked.
    A traced cycle also runs the CLI ``stats`` scan before and after the
    fold (the untraced one leaves it out to fit the run budget)."""
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer

    ckpt = table.path + "-ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    rep = StreamingReplayer(table, tail, ckpt, merge_mode="mor", max_broadcast_keys=None,
                            max_files_per_trigger=1, collect_lineage=False)
    with run.span("streaming.replayer.start"):
        t0 = time.perf_counter()
        q = rep.start(run.spark, available_now=True)
        q.awaitTermination()
        r = {"stream_s": time.perf_counter() - t0}
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    run.check(len(progress) == exp["tail_files"], "one micro-batch per tail file")
    r["progress"] = [{"numInputRows": p.numInputRows, "durationMs": dict(p.durationMs)}
                     for p in progress]
    r["trigger_ms"] = [p.durationMs["triggerExecution"] for p in progress]
    r["pending"], r["live_files"] = _pending_commits(table), _live_files(table)

    def stats() -> tuple:
        """The CLI ``stats`` command: one aggregate over ``read()``."""
        return tuple(table.read(run.spark).agg(
            F.count(F.lit(1)), F.countDistinct("repo"), F.sum(F.length("content")),
            F.max("last_seq")).first())

    # the first round warms the merge-on-read read path: its first read
    # takes ~2x a later one; the second round is timed
    r["point_pending_warmup_ms"] = _check_probes(
        run, table, exp, "tables.snapshot_table.read_keys_pending")
    r["point_pending_ms"] = _check_probes(
        run, table, exp, "tables.snapshot_table.read_keys_pending")
    if run.tracing:
        with run.span("tables.snapshot_table.scan_pending"):
            dt, before = _timed(stats)
        r["scan_pending_ms"] = dt * 1000
    with run.span("tables.snapshot_table.fold_deltas"):
        r["fold_s"], _ = _timed(lambda: table.fold_deltas(run.spark))
    r["point_ms"] = _check_probes(run, table, exp, "tables.snapshot_table.read_keys")
    if run.tracing:
        with run.span("tables.snapshot_table.scan"):
            dt, after = _timed(stats)
        r["scan_ms"] = dt * 1000
        run.check(after == before, "stats before and after the fold agree")
    _check_digest(run, table, exp["digest"], "final state digest")
    return r


# ---------------------------------------------------------------- analytics

def analytics(run) -> None:
    """The fixed query list over generated star-schema, event, document and
    embedding tables; passes over the list repeat for the run's seconds."""
    from nostr_data_pipeline_spark.operators.analytics import QUERIES
    from nostr_data_pipeline_spark.operators.dedup import release_dedup_caches

    def build(out: str) -> None:
        data = os.path.join(out, "data")
        os.makedirs(data)
        build_analytics_input(data, ANALYTICS_SCALE, run.seed)
        results = duckdb_results(data, {q: QUERIES[q][1] for q in ANALYTICS_QUERIES})
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump(results, f)

    inp = cached(run.cache, _input_key(run, (ANALYTICS_SCALE, ANALYTICS_QUERIES)), build)
    exp = _load(os.path.join(inp, "expected.json"))
    data = os.path.join(inp, "data")

    def one_pass(times: dict[str, list[float]]) -> None:
        for name in ANALYTICS_QUERIES:
            with run.span(f"operators.{name}"):
                dt, (rows, cols) = _timed(lambda: _collected(QUERIES[name][0](run.spark, data)))
            # persisted intermediates must not serve the next repeat
            release_dedup_caches()
            run.check(rows_match(normalize_rows(rows, cols), exp[name]), f"query {name}")
            times.setdefault(name, []).append(dt)

    def timed_passes() -> tuple[dict[str, list[float]], list[float]]:
        """Query times of the timed passes, and the host steal share during each."""
        times: dict[str, list[float]] = {}
        return times, _repeat_calm(run, lambda: one_pass(times))

    def per_query(times: dict[str, list[float]], steal: list[float]) -> dict[str, float]:
        """Median time of each query over the least stolen passes."""
        keep = calmest(steal, CALM_OPS)
        return {k: median([v[i] for i in keep]) for k, v in times.items()}

    run.setup(lambda: one_pass({}), repeats=SETUP_PASSES)
    times, steal = timed_passes()
    medians = per_query(times, steal)
    suite = sum(medians.values())
    run.detail.update(query_s=times, pass_steal_share=steal,
                      passes_used=calmest(steal, CALM_OPS))
    run.metrics.update(throughput_per_s=len(ANALYTICS_QUERIES) / suite,
                       latency_p50_ms=suite * 1000,
                       read_p50_ms=median(list(medians.values())) * 1000)
    if run.tracer is None:
        return

    with run.traced():
        with run.span("bench.timed"):
            traced = per_query(*timed_passes())
    totals = layer_totals(run.tracer.spans)
    for name in ANALYTICS_QUERIES:
        t = totals[f"operators.{name}"]
        run.layer[f"operators.{name}_s"] = traced[name]
        run.layer[f"operators.{name}_jobs"] = t["jobs"] / t["calls"]
    run.layer["tracing_overhead_s"] = sum(traced.values()) - suite
    run.layer["unattributed_s"] = totals["bench.timed"]["self_s"]


def _collected(df) -> tuple[list, list[str]]:
    return df.collect(), df.columns


WORKLOADS = {"cdc": cdc, "analytics": analytics}
