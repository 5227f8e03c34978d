"""CLI — the reference's command surface (/root/reference/src/nostr_pipeline/
cli.py: run / stats / trending / top-zapped / user / relays / init-db)
re-expressed over this engine.

Usage (spark-submit or plain python):

  python -m nostr_data_pipeline_spark.cli init-db --table /data/repo_files
  python -m nostr_data_pipeline_spark.cli replay --log /data/cdclog --table /data/repo_files
  python -m nostr_data_pipeline_spark.cli stream --log /data/cdclog --table /data/repo_files \
      --checkpoint /data/ckpt
  python -m nostr_data_pipeline_spark.cli stats --table /data/repo_files
  python -m nostr_data_pipeline_spark.cli trending --table /data/repo_files --limit 10
  python -m nostr_data_pipeline_spark.cli top-repos --table /data/repo_files --limit 10
  python -m nostr_data_pipeline_spark.cli file --table /data/repo_files --repo R --path P
  python -m nostr_data_pipeline_spark.cli vacuum --table /data/repo_files
  python -m nostr_data_pipeline_spark.cli retention --table /data/repo_files \
      --where "updated_ts < timestamp'2024-01-01'"
  python -m nostr_data_pipeline_spark.cli lineage --table /data/repo_files --limit 20
  python -m nostr_data_pipeline_spark.cli corpus-hygiene --docs /data/docs \
      --eval /data/benchmark --out /data/clean --pack-budget 2048
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _table(args):
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    # existing tables carry their layout in the manifest — the persisted
    # num_buckets/key_cols win over --buckets (which only sizes NEW tables);
    # trusting the flag would probe wrong buckets and corrupt merges
    t = SnapshotTable(args.table, num_buckets=args.buckets)
    return SnapshotTable.open(args.table) if t.exists() else t


def cmd_init_db(spark, args) -> None:
    from nostr_data_pipeline_spark.cdc.replayer import TARGET_BASE_SCHEMA

    t = _table(args)
    if not t.exists():
        t.create(TARGET_BASE_SCHEMA)
    print(json.dumps({"table": args.table, "version": t.current_version()}))


def cmd_replay(spark, args) -> None:
    from nostr_data_pipeline_spark.cdc.replayer import replay_log

    t = _table(args)
    res = replay_log(spark, t, args.log, n_batches=args.batches,
                     merge_mode=args.merge_mode,
                     compact_every=args.compact_every)
    print(json.dumps({"rows_applied": res.rows_applied,
                      "batches": len(res.batches),
                      "version": t.current_version()}))


def cmd_stream(spark, args) -> None:
    from nostr_data_pipeline_spark.streaming.replayer import StreamingReplayer

    rep = StreamingReplayer(_table(args), args.log, args.checkpoint,
                            merge_mode=args.merge_mode,
                            compact_every=args.compact_every)
    metrics = rep.run_to_completion(spark)
    print(json.dumps({"metrics": metrics}))


def cmd_dedup_ingest(spark, args) -> None:
    """Streaming dedup-at-ingest (streaming/dedup_ingest.py): drop docs
    near-duplicating the accepted corpus, append + index survivors."""
    from nostr_data_pipeline_spark.operators.dedup_index import MinHashIndex
    from nostr_data_pipeline_spark.streaming.dedup_ingest import (
        StreamingDedupIngest,
    )
    from nostr_data_pipeline_spark.tables.snapshot_table import SnapshotTable

    if MinHashIndex.exists(args.index):
        idx = MinHashIndex.open(args.index)
    else:
        idx = MinHashIndex.create(spark, args.index, num_buckets=args.buckets)
    corpus = SnapshotTable(args.corpus, key_cols=("doc_id",),
                           num_buckets=args.buckets)
    job = StreamingDedupIngest(
        idx, corpus, args.docs, args.checkpoint,
        stream_id=args.stream_id,
        threshold=args.threshold,
        accept_filter=args.accept_filter,
        max_files_per_trigger=args.mfpt,
        audit_dir=args.audit,
        maintain_every=args.maintain_every,
        decontaminate_against=args.decontaminate,
    )
    print(json.dumps({"batches": job.run_to_completion(spark)}))


def cmd_corpus_hygiene(spark, args) -> None:
    """Batch corpus hygiene over a documents parquet (doc_id, text[, lang]):
    optional eval-set decontamination -> repetition filter -> PII scrub ->
    sequence packing. Writes the surviving docs (scrubbed text + counts +
    pack assignment) to --out and prints one JSON metrics line."""
    from nostr_data_pipeline_spark.operators.corpus import (
        PII_PATTERNS,
        decontaminate,
        pack_sequences,
        repetition_metrics,
        scrub_pii,
    )

    docs = spark.read.parquet(args.docs)
    metrics: dict = {"docs_in": docs.count()}
    if args.eval:
        ev = spark.read.parquet(args.eval)
        dirty = decontaminate(docs, ev, n=args.ngram)
        metrics["docs_contaminated"] = dirty.count()
        # decontaminated view feeds every downstream action: persist so the
        # eval n-gram broadcast join runs once, not per-action
        docs = docs.join(dirty.select("doc_id"), "doc_id", "left_anti").persist()
    rep = repetition_metrics(
        docs, max_dup_token_frac=args.max_dup,
        max_top_bigram_frac=args.max_bigram, min_tokens=args.min_tokens,
    )
    kept = rep.filter("passes").select("doc_id", "n_tokens")
    metrics["docs_kept"] = kept.count()
    scrubbed = scrub_pii(docs.join(kept.select("doc_id"), "doc_id"))
    packed = pack_sequences(kept, budget=args.pack_budget)
    out = scrubbed.join(packed.select("doc_id", "grp", "seq"), "doc_id")
    out.write.mode("overwrite").parquet(args.out)
    # metrics read from the WRITTEN parquet — re-deriving them from the
    # lineage would re-run the scrub+pack pipeline once per aggregate
    written = spark.read.parquet(args.out)
    det = written.agg(
        F.sum(sum((F.col(f"n_{k}") for k in PII_PATTERNS), F.lit(0)))
    ).first()[0]
    metrics["pii_spans_detected"] = int(det or 0)
    metrics["sequences"] = written.select("grp", "seq").distinct().count()
    if args.eval:
        docs.unpersist()
    print(json.dumps(metrics))


def cmd_stats(spark, args) -> None:
    """Network-stats analogue (reference cli.py `stats`)."""
    t = _table(args)
    df = t.read(spark)
    row = df.agg(
        F.count(F.lit(1)).alias("files"),
        F.countDistinct("repo").alias("repos"),
        F.countDistinct("lang").alias("languages"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.max("updated_ts").alias("last_update"),
    ).first()
    print(json.dumps({k: row[k] for k in row.asDict()}, default=str))


def cmd_trending(spark, args) -> None:
    """Trending analogue: most-updated repos (reference cli.py `trending`)."""
    t = _table(args)
    out = (
        t.read(spark).groupBy("repo")
        .agg(F.count(F.lit(1)).alias("files"), F.max("last_seq").alias("latest_seq"))
        .orderBy(F.col("latest_seq").desc())
        .limit(args.limit)
    )
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))


def cmd_top_repos(spark, args) -> None:
    """Top-zapped analogue: repos by total content bytes."""
    t = _table(args)
    out = (
        t.read(spark).groupBy("repo")
        .agg(F.sum(F.length("content")).alias("bytes"),
             F.count(F.lit(1)).alias("files"))
        .orderBy(F.col("bytes").desc())
        .limit(args.limit)
    )
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))


def cmd_file(spark, args) -> None:
    """Point lookup (reference cli.py `user`): bucket-pruned — only the
    files of the bucket the key hashes to are opened, not the whole table."""
    t = _table(args)
    rows = t.read_keys(spark, [(args.repo, args.path)]).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    if not rows:
        print(json.dumps({"error": "not found"}))


def cmd_vacuum(spark, args) -> None:
    t = _table(args)
    removed = t.vacuum(keep_versions=args.keep)
    print(json.dumps({"files_removed": removed}))


def cmd_compact(spark, args) -> None:
    """Maintenance rewrite of multi-file buckets back into fresh key-sorted
    files (pays back file-level merge pruning's file-count growth)."""
    t = _table(args)
    print(json.dumps(t.compact(spark, min_files=args.min_files)))


def cmd_rebucket(spark, args) -> None:
    """Grow (or shrink) the table's bucket count — a full rewrite; see
    SnapshotTable.rebucket for the sizing rule (~1-4 GB live data/bucket)."""
    t = _table(args)
    print(json.dumps(t.rebucket(spark, args.num_buckets,
                                target_file_rows=args.target_file_rows)))


def cmd_retention(spark, args) -> None:
    """Retention purge (reference cleanup_old_data, event_loader.py:268-297):
    hard-delete rows matching a SQL predicate, rewriting only affected
    buckets. E.g. --where "updated_ts < timestamp'2024-01-01'"."""
    t = _table(args)
    print(json.dumps(t.delete_where(spark, args.where)))


def cmd_changes(spark, args) -> None:
    """Change feed (CDC-out): net row-level changes between two versions.
    Bounded + iterator-based — the feed can be most of a large table."""
    t = _table(args)
    feed = (
        t.changes(spark, args.from_version, args.to_version)
        .orderBy("_change_type", *t.key_cols)
        .limit(args.limit)
    )
    for r in feed.toLocalIterator():
        print(json.dumps(r.asDict(), default=str))


def cmd_lineage(spark, args) -> None:
    """Health/lineage report (reference cli.py `relays`): one line per table
    version with its commit metrics — rows inserted/updated/deleted, dedup
    counters, schema changes, per-bucket lineage when recorded."""
    t = _table(args)
    cur = t.current_version()
    for v in range(max(1, cur - args.limit + 1), cur + 1):
        try:
            m = t.manifest(v)
        except FileNotFoundError:  # vacuumed version
            continue
        print(json.dumps({"version": v,
                          "committed_at": m.get("committed_at"),
                          "commits": m.get("commits", {}),
                          "metrics": m.get("metrics", {})}, default=str))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="nostr-data-pipeline-spark")
    p.add_argument("--cores", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--table", required=True)
        sp.add_argument("--buckets", type=int, default=32)

    sp = sub.add_parser("init-db"); common(sp)
    sp = sub.add_parser("replay"); common(sp)
    sp.add_argument("--log", required=True)
    sp.add_argument("--batches", type=int, default=1)
    sp.add_argument("--merge-mode", default="cow", choices=("cow", "mor"),
                    dest="merge_mode")
    sp.add_argument("--compact-every", type=int, default=None,
                    dest="compact_every")
    sp = sub.add_parser("stream"); common(sp)
    sp.add_argument("--log", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--merge-mode", default="cow", choices=("cow", "mor"),
                    dest="merge_mode")
    sp.add_argument("--compact-every", type=int, default=None,
                    dest="compact_every")
    sp = sub.add_parser("stats"); common(sp)
    sp = sub.add_parser("trending"); common(sp)
    sp.add_argument("--limit", type=int, default=10)
    sp = sub.add_parser("top-repos"); common(sp)
    sp.add_argument("--limit", type=int, default=10)
    sp = sub.add_parser("file"); common(sp)
    sp.add_argument("--repo", required=True)
    sp.add_argument("--path", required=True)
    sp = sub.add_parser("vacuum"); common(sp)
    sp.add_argument("--keep", type=int, default=2)
    sp = sub.add_parser("retention"); common(sp)
    sp.add_argument("--where", required=True)
    sp = sub.add_parser("compact"); common(sp)
    sp.add_argument("--min-files", type=int, default=2, dest="min_files")
    sp = sub.add_parser("rebucket"); common(sp)
    sp.add_argument("--num-buckets", type=int, required=True, dest="num_buckets")
    sp.add_argument("--target-file-rows", type=int, default=None,
                    dest="target_file_rows")
    sp = sub.add_parser("lineage"); common(sp)
    sp.add_argument("--limit", type=int, default=20)
    sp = sub.add_parser("changes"); common(sp)
    sp.add_argument("--from-version", type=int, required=True, dest="from_version")
    sp.add_argument("--to-version", type=int, default=None, dest="to_version")
    sp.add_argument("--limit", type=int, default=1000)
    sp = sub.add_parser("dedup-ingest")
    sp.add_argument("--index", required=True)
    sp.add_argument("--corpus", required=True)
    sp.add_argument("--docs", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--audit", default=None)
    sp.add_argument("--buckets", type=int, default=16)
    sp.add_argument("--max-files-per-trigger", type=int, default=None,
                    dest="mfpt")
    sp.add_argument("--maintain-every", type=int, default=None,
                    dest="maintain_every")
    sp.add_argument("--accept-filter", default=None, dest="accept_filter",
                    help="SQL predicate gating docs BEFORE dedup, e.g. "
                         "\"length(text) > 64\"")
    sp.add_argument("--decontaminate", default=None,
                    help="eval-set parquet (doc_id, text): drop batch docs "
                         "sharing any 5-gram with it before dedup")
    sp.add_argument("--stream-id", default="dedup-ingest", dest="stream_id",
                    help="marker namespace — give each SOURCE feeding the "
                         "same corpus/index its own id, or their batch "
                         "numbering collides and one source's batches are "
                         "skipped as the other's replays")

    sp = sub.add_parser("corpus-hygiene")
    sp.add_argument("--docs", required=True,
                    help="parquet of (doc_id, text[, ...]) documents")
    sp.add_argument("--out", required=True,
                    help="output parquet: scrubbed survivors + pack layout")
    sp.add_argument("--eval", default=None,
                    help="optional eval-set parquet for decontamination")
    sp.add_argument("--ngram", type=int, default=5)
    sp.add_argument("--max-dup", type=float, default=0.5, dest="max_dup")
    sp.add_argument("--max-bigram", type=float, default=0.2, dest="max_bigram")
    sp.add_argument("--pack-budget", type=int, default=2048,
                    dest="pack_budget")
    sp.add_argument("--min-tokens", type=int, default=10, dest="min_tokens",
                    help="drop docs shorter than this before the repetition "
                         "rules (below 2/max-bigram tokens every doc fails "
                         "the top-bigram rule)")

    args = p.parse_args(argv)
    from nostr_data_pipeline_spark.session import get_spark

    spark = get_spark("cli", cores=args.cores)
    handlers = {
        "init-db": cmd_init_db, "replay": cmd_replay, "stream": cmd_stream,
        "stats": cmd_stats, "trending": cmd_trending, "top-repos": cmd_top_repos,
        "file": cmd_file, "vacuum": cmd_vacuum, "retention": cmd_retention,
        "compact": cmd_compact, "rebucket": cmd_rebucket,
        "lineage": cmd_lineage, "changes": cmd_changes, "dedup-ingest": cmd_dedup_ingest,
        "corpus-hygiene": cmd_corpus_hygiene,
    }
    handlers[args.cmd](spark, args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
