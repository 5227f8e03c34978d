"""CLI surface smoke: init-db / replay / stats / trending / file / vacuum."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from nostr_data_pipeline_spark.cdc.generator import LogSpec, write_log


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    log = str(d / "log")
    write_log(log, LogSpec(n_events=1500, n_repos=6, paths_per_repo=8, seed=13, n_files=2))
    return {"log": log, "table": str(d / "tbl")}


def run_cli(*argv) -> str:
    proc = subprocess.run(
        [sys.executable, "-m", "nostr_data_pipeline_spark.cli", "--cores", "4", *argv],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    return proc.stdout.strip().splitlines()


def test_cli_end_to_end(env):
    out = run_cli("init-db", "--table", env["table"])
    assert json.loads(out[-1])["version"] == 1

    out = run_cli("replay", "--table", env["table"], "--log", env["log"], "--batches", "2")
    rep = json.loads(out[-1])
    assert rep["rows_applied"] > 0 and rep["batches"] == 2

    out = run_cli("stats", "--table", env["table"])
    stats = json.loads(out[-1])
    assert stats["files"] > 0 and stats["repos"] <= 6

    out = run_cli("trending", "--table", env["table"], "--limit", "3")
    assert len([json.loads(x) for x in out if x.startswith("{")]) <= 3

    row = json.loads(run_cli("top-repos", "--table", env["table"], "--limit", "1")[-1])
    first = json.loads(
        run_cli("file", "--table", env["table"], "--repo", row["repo"],
                "--path", "src/dir0/file000.py")[-1]
    )
    assert "error" in first or first["repo"] == row["repo"]

    out = run_cli("lineage", "--table", env["table"], "--limit", "10")
    versions = [json.loads(x) for x in out if x.startswith("{")]
    assert versions, "lineage printed no versions"
    merged = [v for v in versions if "rows_inserted" in v.get("metrics", {})]
    assert merged and all("commits" in v for v in versions)

    out = run_cli("retention", "--table", env["table"], "--where", "last_seq < 5")
    ret = json.loads(out[-1])
    assert "rows_deleted" in ret and "buckets_rewritten" in ret

    out = run_cli("vacuum", "--table", env["table"])
    assert "files_removed" in json.loads(out[-1])

    out = run_cli("compact", "--table", env["table"])
    assert "buckets_compacted" in json.loads(out[-1])

    out = run_cli("rebucket", "--table", env["table"], "--num-buckets", "16")
    reb = json.loads(out[-1])
    assert reb["num_buckets"] == 16

    # merge-on-read ingest via the CLI: delta replay + periodic folding,
    # then a final compact leaves no delta backlog
    mor_tbl = env["table"] + "_mor"
    out = run_cli("replay", "--table", mor_tbl, "--log", env["log"],
                  "--batches", "3", "--merge-mode", "mor",
                  "--compact-every", "2")
    rep = json.loads(out[-1])
    assert rep["rows_applied"] > 0 and rep["batches"] == 3
    out = run_cli("stats", "--table", mor_tbl)
    assert json.loads(out[-1])["files"] > 0


def test_cli_dedup_ingest(spark, tmp_path):
    """dedup-ingest subcommand: creates the index, streams the docs dir,
    drops the near-dup, reports per-batch metrics."""
    from nostr_data_pipeline_spark.streaming.dedup_ingest import DOC_SCHEMA

    docs = str(tmp_path / "docs")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", 1),
        (2, "the quick brown fox jumps over the lazy dog again and again x", 1),
        (3, "some entirely different text about other matters entirely", 1),
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(docs)
    out = run_cli(
        "dedup-ingest", "--index", str(tmp_path / "idx"),
        "--corpus", str(tmp_path / "corpus"), "--docs", docs,
        "--checkpoint", str(tmp_path / "ckpt"), "--buckets", "4",
    )
    rep = json.loads(out[-1])
    assert rep["batches"][0]["docs_in"] == 3
    assert rep["batches"][0]["docs_dropped"] == 1


def test_cli_corpus_hygiene(spark, tmp_path):
    """corpus-hygiene subcommand: decontaminate vs an eval parquet, filter,
    scrub, pack; writes survivors and prints the metrics line."""
    docs = str(tmp_path / "docs")
    ev = str(tmp_path / "eval")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),  # contaminated
        (2, "write me at some.user@example.net for a copy of the files"),
        (3, "spam spam spam spam spam spam"),                      # repetition fail
        # >=11 tokens: below that even an all-unique doc trips the 0.2
        # top-bigram default (2/n_tokens > 0.2)
        (4, "an entirely ordinary document with plain words inside it for reading"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(docs)
    spark.createDataFrame(
        [(9, "the quick brown fox jumps far")], "doc_id long, text string"
    ).coalesce(1).write.parquet(ev)
    out_dir = str(tmp_path / "out")
    out = run_cli("corpus-hygiene", "--docs", docs, "--eval", ev,
                  "--out", out_dir, "--pack-budget", "16")
    rep = json.loads(out[-1])
    assert rep["docs_in"] == 4
    assert rep["docs_contaminated"] == 1          # doc 1
    assert rep["docs_kept"] == 2                  # docs 2, 4 (3 fails repetition)
    assert rep["pii_spans_detected"] == 1          # the email in doc 2
    got = spark.read.parquet(out_dir)
    assert got.count() == 2
    scrubbed = {r["doc_id"]: r["scrubbed"] for r in got.collect()}
    assert "[PII:email]" in scrubbed[2]
