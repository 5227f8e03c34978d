"""Benchmark harness (driver contract: prints ONE JSON line).

Runs the headline analytics queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the primary metric:
end-to-end CDC replay->upsert throughput on a deterministic synthetic change
log (BASELINE.json `metric`). Scaling evidence across parallelism levels is
produced by bench_scaling.py: `--local-pinned` (local[N] pinned to exactly
N host CPUs — the recorded ≥0.8 form) and the local-cluster executor-JVM
form with its scan controls / `--quiet-hunt`.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def mor_read_amplification() -> None:
    """`python bench.py --mor-curve`: read() latency vs number of
    uncompacted MoR delta commits (the LSM read/write trade), to give
    ``compact_every`` an evidence-based default. Prints one JSON line:
    base-read time, per-delta-count read times, and the fold cost."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_events = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "2000000"))
    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log_spark
    from nostr_data_pipeline_spark.cdc.replayer import replay_log
    from nostr_data_pipeline_spark.session import get_spark
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    spark = get_spark("bench-mor-curve", cores=cpus)
    tmp = tempfile.mkdtemp(prefix="mor-curve-")
    out: dict = {"metric": "mor read amplification", "unit": "sec",
                 "events": n_events, "cpus": cpus}
    try:
        log_dir = os.path.join(tmp, "log")
        write_log_spark(spark, log_dir, LogSpec(
            n_events=n_events, n_repos=max(50, n_events // 2000),
            paths_per_repo=50, n_files=16, seed=42))
        t = SnapshotTable(os.path.join(tmp, "tbl"), num_buckets=32)
        replay_log(spark, t, log_dir, collect_lineage=False)
        hi = t.read(spark).agg(F.max("last_seq")).first()[0] or 0

        _trial_salt = [0]

        def timed_read() -> float:
            best = None
            for _ in range(3):  # best-of-3: co-tenant noise only adds
                _trial_salt[0] += 1
                t0 = time.perf_counter()
                # a DISTINCT literal every trial (seqs are non-negative, so
                # any negative bound is a semantic no-op) — identical row
                # counts across trials, but no plan/stage reuse between them
                t.read(spark).filter(
                    F.col("last_seq") >= -_trial_salt[0]).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        out["read_0_deltas"] = timed_read()
        keys = [(r["repo"], r["path"]) for r in
                t.read(spark).select("repo", "path").limit(4096).collect()]
        curve = {}
        n_done = 0
        for target in (1, 4, 16):
            while n_done < target:
                lo = (n_done * 256) % len(keys)
                batch = spark.createDataFrame(
                    [(r, p, f"delta-{n_done}", int(hi) + 1 + n_done,
                      f"e-{n_done}-{i}") for i, (r, p) in
                     enumerate(keys[lo:lo + 256])],
                    "repo string, path string, content string, "
                    "last_seq long, last_event_id string",
                )
                t.merge(spark, batch, merge_mode="mor")
                n_done += 1
            curve[str(target)] = timed_read()
        out["read_by_delta_commits"] = curve
        t0 = time.perf_counter()
        t.fold_deltas(spark)
        out["fold_16_deltas"] = round(time.perf_counter() - t0, 3)
        out["read_after_fold"] = timed_read()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


def manifest_commit_curve() -> None:
    """`python bench.py --manifest-curve`: 1-key merge wall time vs TOTAL
    live file count in the manifest (round-5 verdict task: sharded metadata
    must make commit cost flat in file count). The table's real data stays
    tiny and constant; the manifest is inflated with plausible fake file
    entries in every bucket EXCEPT the merged key's, exactly the shape of a
    huge table receiving a trickle update. The merge passes the exact
    source-bucket hint the streaming replayer supplies. Prints one JSON
    line: per-file-count merge seconds (best of 3)."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql import types as T

    from nostr_data_pipeline_spark.session import get_spark
    from nostr_data_pipeline_spark.tables import snapshot_table as st_mod
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench-manifest-curve", cores=cpus)
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("last_seq", T.LongType()),
        T.StructField("last_event_id", T.StringType()),
    ])
    tmp = tempfile.mkdtemp(prefix="manifest-curve-")
    out: dict = {"metric": "1-key merge sec vs manifest file count",
                 "unit": "sec", "cpus": cpus, "merge_sec_by_files": {}}

    def _inflate(t: SnapshotTable, per_bucket: int, skip: str) -> int:
        v = t.current_version()
        with open(t._manifest_path(v)) as f:
            m = json.load(f)
        added = 0
        for b, e in list(m["bucket_shards"].items()):
            if b == skip:
                continue
            sh = dict(t._load_shard(e["path"]))
            files, stats = list(sh["files"]), dict(sh["stats"])
            for i in range(per_bucket):
                fake = f"data-v99999999/_bucket={b}/part-fake-{i:06d}.parquet"
                files.append(fake)
                stats[fake] = {"min": [f"zz{i:06d}", "a"],
                               "max": [f"zz{i:06d}", "z"], "rows": 1}
                added += 1
            rel = f"shards/shard-b{b}-{_uuid.uuid4().hex[:12]}.json"
            with open(os.path.join(t.path, rel), "w") as f:
                json.dump({"files": files, "stats": stats}, f)
            m["bucket_shards"][b] = {"path": rel, "n": len(files)}
        with open(t._manifest_path(v), "w") as f:
            json.dump(m, f)
        st_mod._SHARD_CACHE.clear()
        return added

    try:
        from pyspark.sql import functions as F  # noqa: F401

        for total in (1_000, 10_000, 100_000):
            t = SnapshotTable(os.path.join(tmp, f"t{total}"),
                              num_buckets=32, target_file_rows=50)
            t.create(schema)
            rows = [("r", f"p{i:05d}", f"v{i}", 1, f"e{i}")
                    for i in range(800)]
            t.merge(spark, spark.createDataFrame(rows, schema))
            key = ("r", "p00007")
            [b] = t.buckets_for_keys(spark, [key])
            _inflate(t, per_bucket=total // 31, skip=str(b))
            best = None
            for k in range(3):
                st_mod._SHARD_CACHE.clear()  # cold metadata each trial
                batch = spark.createDataFrame(
                    [("r", "p00007", f"u{k}", 100 + k, f"eu{k}")], schema)
                t0 = time.perf_counter()
                t.merge(spark, batch, source_buckets=[b])
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out["merge_sec_by_files"][str(total)] = round(best, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(_json.dumps(out))


def skew_lww_bench() -> None:
    """`python bench.py --skew-lww`: hot-key skew datapoint for the LWW
    reduction (round-5 verdict task; SURVEY §4 skew handling). Builds a
    change log where ONE (repo, path) key holds ~30% of all events — the
    adversarial mega-entity shape — and times resolve_lww over it with
    both join-backs: `broadcast` (``max_broadcast_keys=None``) and
    `shuffle` (``max_broadcast_keys=1``, which also runs the winner count).
    Partial aggregation of ``max(seq)`` collapses the hot key map-side in
    both. Prints one JSON line."""
    import json as _json

    from pyspark.sql import functions as F

    from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log_spark
    from nostr_data_pipeline_spark.cdc.lww import resolve_lww
    from nostr_data_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_events = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "4000000"))
    spark = get_spark("bench-skew-lww", cores=cpus)
    tmp = tempfile.mkdtemp(prefix="skew-lww-")
    out: dict = {"metric": "resolve_lww sec on 30%-hot-key log",
                 "unit": "sec", "events": n_events, "cpus": cpus}
    try:
        log_dir = os.path.join(tmp, "log")
        write_log_spark(spark, log_dir, LogSpec(
            n_events=n_events, n_repos=max(50, n_events // 2000),
            paths_per_repo=50, n_files=32, seed=42))
        # route ~30% of events to one mega key, keep (seq, event_id) unique
        log = (
            spark.read.parquet(log_dir)
            .withColumn("_hot",
                        F.pmod(F.xxhash64("event_id"), F.lit(10)) < 3)
            .withColumn("repo", F.when(F.col("_hot"), F.lit("megarepo"))
                        .otherwise(F.col("repo")))
            .withColumn("path", F.when(F.col("_hot"), F.lit("hotpath"))
                        .otherwise(F.col("path")))
            .drop("_hot")
        )
        skewed_dir = os.path.join(tmp, "skewed")
        log.write.parquet(skewed_dir)
        src = spark.read.parquet(skewed_dir)
        hot = src.filter("repo = 'megarepo'").count()
        out["hot_key_share"] = round(hot / src.count(), 3)

        def timed(max_broadcast_keys: int | None) -> float:
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                resolve_lww(src, max_broadcast_keys=max_broadcast_keys).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        # ONE untimed warm-up lap for codegen/page cache (timed() would
        # burn three full resolves to warm what one covers)
        resolve_lww(src, max_broadcast_keys=None).count()
        for join_back, ceiling in (("broadcast", None), ("shuffle", 1)):
            out[join_back] = timed(ceiling)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(_json.dumps(out))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # 4M events: the per-batch fixed cost (~2s: schema scan, winner count,
    # manifest commit) is amortized so the recorded events/sec reflects
    # steady-state replay (~1.1M ev/s at local[32]) rather than fixed cost
    # (1M events under-reported it 3.7x). Generation is Spark-parallel and
    # excluded from the timed run.
    cdc_events = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "4000000"))
    cdc_batches = int(os.environ.get("SPARK_GRAFT_CDC_BATCHES", "1"))

    from nostr_data_pipeline_spark.session import get_spark

    spark = get_spark("bench", cores=cpus)

    from nostr_data_pipeline_spark.operators.analytics import QUERIES
    from nostr_data_pipeline_spark.operators.dedup import ROWS_ONLY_QUERIES

    headline = [
        "q1_pricing_summary", "j3_fact_fact_join", "a6_token_trending",
        "w1_latest_per_key", "w3_lww_state", "a10_percentiles",
        "a9_pivot_timeline", "c6_json_extract", "dedup_exact",
        "sim_cosine_topk", "m1_virality_score",
        "dedup_ngram_jaccard", "dedup_embedding_cosine", "ann_lsh_topk",
        "corpus_prepare", "dedup_incremental",
        # round 4: graduated to oracled QUERIES entries (md5 hash mode —
        # the timing now covers the oracle-portable contract form; the
        # xxhash64 production mode is strictly cheaper per hash)
        "dedup_minhash_lsh", "dedup_simhash",
        "dedup_incremental_embedding",
        # graduated from ROWS_ONLY in round 4 (spread-init codebook is SQL-
        # replicable) — keep it timed here since the registry move would
        # otherwise silently drop it from the bench
        "ann_ivf_topk",
        # round-4 corpus-hygiene additions: the broadcast-decontaminate and
        # hash-group packer are the two new distinct plan shapes
        "corpus_decontaminate", "pack_sequences", "pii_scrub",
        # round 5: paragraph-level exact dedup (narrow-hash decision rows,
        # two text moves) — new plan shape, keep it timed
        "paragraph_dedup",
    ]
    # untimed warm-up: JVM codegen + python workers (not any query's cost)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10000).count()

    # best-of-N per query — the same co-tenant-noise protocol the CDC
    # metrics use (load only ever ADDS time, so the minimum is the least
    # contaminated steady-state estimate). Observed single-pass suites
    # varying 73.6s -> 90.8s between windows minutes apart with identical
    # code; best-of-2 bounds that contamination.
    query_trials = int(os.environ.get("SPARK_GRAFT_QUERY_TRIALS", "2"))

    from nostr_data_pipeline_spark.operators.dedup import release_dedup_caches

    def _best_of(fn) -> float:
        best = None
        for _ in range(max(1, query_trials)):
            # drop persisted intermediates between trials: a repeat of the
            # same builder produces an EQUAL analyzed plan, so Spark's cache
            # manager would serve trial 2 from trial 1's cache and flatter
            # the number — each trial must pay the query's full cost
            release_dedup_caches()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
        release_dedup_caches()
        return round(best, 3)

    timings: dict[str, float] = {}
    for name in headline:
        timings[name] = _best_of(QUERIES[name][0])
    for name, fn in ROWS_ONLY_QUERIES.items():
        timings[name] = _best_of(fn)

    # production-hash-mode columns for the queries whose CONTRACT form runs
    # the md5 oracle mode (deliberately 2-3x costlier per hash than the
    # xxhash64 production default) — the round-over-round perf signal must
    # track the path users actually run, not only the verification mode
    from nostr_data_pipeline_spark.operators.dedup import (
        q_dedup_incremental, q_dedup_minhash_lsh, q_dedup_simhash,
    )

    for name, qfn in (
        ("dedup_minhash_lsh_xxh64", q_dedup_minhash_lsh),
        ("dedup_simhash_xxh64", q_dedup_simhash),
        ("dedup_incremental_xxh64", q_dedup_incremental),
    ):
        timings[name] = _best_of(
            lambda s, d, _f=qfn: _f(s, d, hash_fn="xxhash64"))

    # --- primary metric: CDC replay -> upsert throughput ---------------------
    from nostr_data_pipeline_spark.cdc.generator import (
        LogSpec, write_log, write_log_spark,
    )
    from nostr_data_pipeline_spark.cdc.replayer import replay_log
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    tmp = tempfile.mkdtemp(prefix="cdc-bench-")
    try:
        spec = LogSpec(
            n_events=cdc_events, n_repos=max(50, cdc_events // 2000),
            paths_per_repo=50, n_files=32, seed=42,
        )
        log_dir = os.path.join(tmp, "log")
        # Generation is excluded from timing but counts against bench
        # wall-clock: the Spark-native generator parallelizes (~17s/1M rows
        # single-threaded in pandas) but carries ~10s of per-plan fixed cost,
        # so small logs use the pandas path.
        if cdc_events >= 500_000:
            write_log_spark(spark, log_dir, spec)
        else:
            write_log(log_dir, spec)
        # Untimed warm-up replay of the SAME log into a throwaway table:
        # first-replay costs (Python worker spawn, Arrow serializer init,
        # whole-stage codegen compile, cold page cache) are per-JVM one-offs,
        # not per-event work. The timed run below measures steady-state
        # replay throughput — the same protocol bench_scaling.py uses.
        warm_table = SnapshotTable(os.path.join(tmp, "warmtbl"), num_buckets=32)
        replay_log(spark, warm_table, log_dir, collect_lineage=False)

        # Best-of-N trials for the primary metric: this is a shared host and
        # co-tenant load only ever ADDS time (observed 3x inflation of the
        # identical replay mid-spike), so the minimum is the least-
        # contaminated steady-state estimate — same protocol as
        # bench_scaling.py. Each trial replays into a FRESH table.
        # ADAPTIVE (round-5, after the r4 driver run recorded trials
        # 12.3s/6.1s — a 2x spread no fixed best-of-2 can bound): start at
        # best-of-3 and keep sampling until the two FASTEST trials agree
        # within 15% (the min is then a replicated estimate, not a one-off
        # quiet moment), capped at trials+3 extra so a loud-all-day host
        # still terminates — the cap trip is visible in the reported spread.
        replay_trials = int(os.environ.get("SPARK_GRAFT_CDC_TRIALS", "3"))
        replay_sec, result = None, None
        trial_secs = []

        def _replay_trial(i: int) -> tuple[float, object]:
            table = SnapshotTable(os.path.join(tmp, f"tbl{i}"), num_buckets=32)
            t0 = time.perf_counter()
            res_i = replay_log(spark, table, log_dir, n_batches=cdc_batches,
                               collect_lineage=False)
            return time.perf_counter() - t0, res_i

        i = 0
        while i < max(1, replay_trials) + 3:
            dt, res_i = _replay_trial(i)
            trial_secs.append(round(dt, 3))
            if replay_sec is None or dt < replay_sec:
                replay_sec, result = dt, res_i
            i += 1
            if i >= max(1, replay_trials):
                fastest2 = sorted(trial_secs)[:2]
                # a single configured trial opts out of the adaptive check
                if len(fastest2) < 2 or fastest2[1] <= fastest2[0] * 1.15:
                    break
        f2 = sorted(trial_secs)[:2]
        replay_min_spread = round(f2[-1] / f2[0] - 1, 3) if len(f2) > 1 else 0.0
        # exact delivered count (sample() dup injection is approximate)
        n_delivered = spark.read.parquet(log_dir).count()
        events_per_sec = n_delivered / replay_sec
        timings["cdc_replay"] = round(replay_sec, 3)

        # --- streaming path (the mode the north rule names): the same log
        # tailed as a file stream through foreachBatch -> LWW -> MERGE with
        # checkpointing, in micro-batches (maxFilesPerTrigger). Primary
        # recipe = the trickle fast path (merge-on-read delta commits,
        # vouched winner broadcast -> one Spark job per micro-batch beyond
        # the schema scan), timed INCLUDING the final fold so the table ends
        # in the same fully-compacted state the CoW path produces.
        # cdc_stream_cow keeps the round-3-comparable copy-on-write recipe.
        from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer

        # untimed streaming warm-up: the batch-replay warm-up above does NOT
        # compile the streaming plan shapes (file-slice source, vouched
        # loose-LWW delta write, delta fold) — measured ~5-6s of one-time
        # codegen landing in the first two micro-batches otherwise. One
        # log file streamed into a throwaway table covers them; at
        # north-rule scale (thousands of micro-batches) this cost is zero.
        warm_src = os.path.join(tmp, "warmstream_log")
        os.makedirs(warm_src, exist_ok=True)
        first = sorted(
            f for f in os.listdir(log_dir) if f.endswith(".parquet"))[0]
        shutil.copy(os.path.join(log_dir, first), os.path.join(warm_src, first))
        warm_stbl = SnapshotTable(os.path.join(tmp, "warmstream_tbl"),
                                  num_buckets=32)
        StreamingReplayer(
            warm_stbl, warm_src, os.path.join(tmp, "warmstream_ckpt"),
            max_files_per_trigger=8, collect_lineage=False,
            merge_mode="mor", max_broadcast_keys=None,
        ).run_to_completion(spark)
        warm_stbl.fold_deltas(spark)

        # best-of-N like cdc_replay (co-tenant load only ever ADDS time);
        # each trial streams into a FRESH table + checkpoint so exactly-once
        # markers can't skip work
        stream_trials = int(os.environ.get("SPARK_GRAFT_STREAM_TRIALS", "2"))
        stream_sec = None
        stream_trial_secs = []
        for i in range(max(1, stream_trials)):
            stream_table = SnapshotTable(
                os.path.join(tmp, f"stbl{i}"), num_buckets=32)
            rep = StreamingReplayer(
                stream_table, log_dir, os.path.join(tmp, f"ckpt{i}"),
                max_files_per_trigger=8, collect_lineage=False,
                merge_mode="mor", max_broadcast_keys=None,
            )
            t0 = time.perf_counter()
            q = rep.start(spark, available_now=True)
            q.awaitTermination()
            stream_table.fold_deltas(spark)
            dt = time.perf_counter() - t0
            stream_trial_secs.append(round(dt, 3))
            if stream_sec is None or dt < stream_sec:
                stream_sec = dt
        timings["cdc_stream"] = round(stream_sec, 3)
        stream_events_per_sec = n_delivered / stream_sec

        # best-of-2 like cdc_stream: the CoW streaming plan shapes (guarded
        # resolve, rewrite merge) are NOT warmed by the MoR warm-up stream
        # above, so a single-shot measurement records one-time codegen —
        # observed 31s cold vs ~13s warm for identical work
        cow_sec = None
        for i in range(max(1, stream_trials)):
            cow_table = SnapshotTable(
                os.path.join(tmp, f"stbl_cow{i}"), num_buckets=32)
            rep_cow = StreamingReplayer(
                cow_table, log_dir, os.path.join(tmp, f"ckpt_cow{i}"),
                max_files_per_trigger=8, collect_lineage=False,
            )
            t0 = time.perf_counter()
            q = rep_cow.start(spark, available_now=True)
            q.awaitTermination()
            dt = time.perf_counter() - t0
            cow_sec = dt if cow_sec is None else min(cow_sec, dt)
        timings["cdc_stream_cow"] = round(cow_sec, 3)

        # --- trickle merge: the steady-state CDC shape (small batch into a
        # LARGE existing table), where write strategy dominates. Same batch,
        # same starting table state, three strategies:
        #   cow  — file-pruned copy-on-write rewrite (target_file_rows set,
        #          so only key-range-intersecting files rewrite)
        #   mor  — delta append (zero target read/rewrite, O(batch) write)
        #   fold — the deferred cost mor pays later: compact() folding the
        #          deltas back into base files (off the ingest critical path)
        from pyspark.sql import functions as F

        trickle_rows = int(os.environ.get("SPARK_GRAFT_TRICKLE_ROWS", "500"))
        base = SnapshotTable(os.path.join(tmp, "trickle_cow"),
                             num_buckets=32, target_file_rows=1000)
        replay_log(spark, base, log_dir, collect_lineage=False)
        shutil.copytree(base.path, os.path.join(tmp, "trickle_mor"))
        mor_tbl = SnapshotTable.open(os.path.join(tmp, "trickle_mor"))
        hi_seq = base.read(spark).agg(F.max("last_seq")).first()[0] or 0
        batch = (
            base.read(spark).select("repo", "path").orderBy("repo", "path")
            .limit(trickle_rows)
            .withColumn("content", F.concat(F.lit("trickle-"), F.col("path")))
            .withColumn("content_sha256", F.sha2(F.col("content"), 256))
            .withColumn("last_seq", F.lit(int(hi_seq) + 1000).cast("long"))
            .withColumn("last_event_id", F.concat(F.lit("tk-"), F.col("path")))
            .persist()
        )
        batch.count()  # materialize: time the merges, not the batch build
        t0 = time.perf_counter()
        base.merge(spark, batch)
        trickle_cow_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        mor_tbl.merge(spark, batch, merge_mode="mor")
        trickle_mor_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        mor_tbl.fold_deltas(spark)
        trickle_fold_sec = time.perf_counter() - t0
        batch.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall time (analytics + CDC replay->upsert)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "query_trials": query_trials,
        "cdc_events_delivered": n_delivered,
        "cdc_events_per_sec": round(events_per_sec, 1),
        "cdc_replay_trial_secs": trial_secs,
        # relative gap between the two fastest trials — <= 0.15 means the
        # reported minimum was replicated, not a single lucky window
        "cdc_replay_min_spread": replay_min_spread,
        "stream_events_per_sec": round(stream_events_per_sec, 1),
        "stream_trial_secs": stream_trial_secs,
        "stream_recipe": "mor-delta+vouched-broadcast+final-fold",
        "cdc_rows_applied": result.rows_applied,
        "trickle_rows": trickle_rows,
        "trickle_merge_cow_sec": round(trickle_cow_sec, 3),
        "trickle_merge_mor_sec": round(trickle_mor_sec, 3),
        "trickle_mor_fold_sec": round(trickle_fold_sec, 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    if "--mor-curve" in sys.argv[1:]:
        sys.exit(mor_read_amplification())
    if "--manifest-curve" in sys.argv[1:]:
        sys.exit(manifest_commit_curve())
    if "--skew-lww" in sys.argv[1:]:
        sys.exit(skew_lww_bench())
    sys.exit(main())
