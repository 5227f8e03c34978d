"""Seeded input generation for the benchmark workloads (the load generator).

Everything here is deterministic per seed, runs before any timed region,
and is excluded from every metric. Generated inputs are cached on disk
(see ``workloads._input_key``), so a repeated seed skips generation.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nostr_data_pipeline_spark.cdc.oracle import reduce_log

from perfbench.oracle import state_digest

LOG_ARROW_SCHEMA = pa.schema([
    ("event_id", pa.string()), ("seq", pa.int64()), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("ts", pa.timestamp("us")),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
    ("extra_json", pa.string()), ("sc_col_name", pa.string()),
    ("sc_col_type", pa.string()),
])

CACHE_KEEP = 6  # cached (workload, seed) entries kept; older ones are pruned


def cached(cache_root: str, key: str, build: Callable[[str], None]) -> str:
    """Return the directory of input ``key``, building it into a temporary
    directory first when absent (a killed build never leaves a half entry)."""
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "DONE")):
        os.utime(path)
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    entries = sorted(
        (e for e in os.listdir(cache_root) if os.path.exists(os.path.join(cache_root, e, "DONE"))),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return path


# ---------------------------------------------------------------- CDC logs

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
LANGS = ("py", "rs", "go", "md", "js")
PATHS_PER_REPO = 50
DELETE_RATE = 0.10
DUP_RATE = 0.08       # share of events redelivered verbatim
DISORDER = 200        # delivery-order jitter window, in seqs
CONTENT_PAD = 120     # longest '#' filler appended to a content body
# (position as a share of the log, column, type); int -> long widens
SCHEMA_CHANGES = ((0.40, "size_bytes", "int"), (0.55, "stars", "long"),
                  (0.70, "size_bytes", "long"))


def cdc_log(n_events: int, n_repos: int, zipf_a: float, hot_share: float,
            seed: int) -> pd.DataFrame:
    """A change-event log over ``(repo, path)`` keys in delivery order:
    Zipf-hot repos, deletes, verbatim redeliveries, bounded disorder and
    schema_change events. ``hot_share`` of the data events are rerouted to
    one mega key (redeliveries move with their original, so an event_id
    keeps one key), as ``bench.py --skew-lww`` does for the 30%-hot log.

    The benchmark owns this generator so that its inputs do not change
    when the package's test generator does."""
    rng = np.random.default_rng(seed)
    n = n_events
    p = np.arange(1, n_repos + 1, dtype=np.float64) ** -zipf_a
    repo_idx = rng.choice(n_repos, size=n, p=p / p.sum())
    path_idx = rng.integers(0, PATHS_PER_REPO, size=n)
    repo = np.array([f"repo-{i:04d}" for i in range(n_repos)], dtype=object)[repo_idx]
    path = np.array([f"src/dir{j // 10}/file{j:03d}.{LANGS[j % len(LANGS)]}"
                     for j in range(PATHS_PER_REPO)], dtype=object)[path_idx]
    if hot_share:
        hot = rng.random(n) < hot_share
        repo[hot], path[hot] = "megarepo", "hotpath"
    hexes = rng.bytes(20 * n).hex()
    commit = [hexes[40 * i:40 * i + 40] for i in range(n)]
    delete = rng.random(n) < DELETE_RATE
    content = [None if d else
               f"// {r}/{q}\ndef fn_{i}():\n    return '{c[:12]}'\n" + "#" * (i % CONTENT_PAD)
               for i, (r, q, c, d) in enumerate(zip(repo, path, commit, delete))]
    seq = np.arange(n, dtype=np.int64)
    first_add: dict[str, int] = {}
    for frac, col, _typ in SCHEMA_CHANGES:
        first_add.setdefault(col, int(frac * n))
    sizes, stars = rng.integers(1, 1_000_000, size=n), rng.integers(0, 50_000, size=n)
    extra = []
    for i in range(n):
        parts = []
        if not delete[i] and i > first_add["size_bytes"]:
            parts.append(f'"size_bytes": {sizes[i]}')
        if not delete[i] and i > first_add["stars"]:
            parts.append(f'"stars": {stars[i]}')
        extra.append("{" + ", ".join(parts) + "}" if parts else None)
    df = pd.DataFrame({
        "event_id": [f"{i:012x}-{c[:8]}" for i, c in enumerate(commit)],
        "seq": seq,
        "op": np.where(delete, "delete", "upsert").astype(object),
        "repo": repo, "path": path,
        "ts": BASE_TS + seq.astype("timedelta64[s]"),
        "commit": commit,
        "lang": np.array(LANGS, dtype=object)[path_idx % len(LANGS)],
        "content": content, "extra_json": extra,
        "sc_col_name": None, "sc_col_type": None,
    })
    sc = pd.DataFrame([{
        "event_id": f"sc-{int(frac * n):012x}-{col}-{typ}", "seq": int(frac * n),
        "op": "schema_change", "repo": "_schema", "path": "",
        "ts": BASE_TS + np.timedelta64(int(frac * n), "s"),
        "sc_col_name": col, "sc_col_type": typ,
    } for frac, col, typ in SCHEMA_CHANGES])
    dups = df.iloc[rng.integers(0, n, size=int(DUP_RATE * n))]
    df = pd.concat([df, sc, dups], ignore_index=True)
    jitter = rng.uniform(-DISORDER, DISORDER, size=len(df))
    order = np.argsort(df["seq"].to_numpy(np.float64) + jitter, kind="stable")
    return df.iloc[order].reset_index(drop=True)


def write_log_files(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write the log as ``n_files`` parquet files, delivery order kept
    across files (file k holds delivery slice k)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1, dtype=int)
    for k in range(n_files):
        part = df.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, schema=LOG_ARROW_SCHEMA, preserve_index=False),
            os.path.join(out_dir, f"log-{k:05d}.parquet"),
        )


def expected_state(log: pd.DataFrame, n_probes: int, seed: int) -> dict:
    """Oracle summary of a log's final state: digest, live row count, and
    the expected rows of ``n_probes`` probe keys (live keys, plus one key
    that does not exist)."""
    state = reduce_log(log)
    rng = np.random.default_rng(seed + 2)
    pick = rng.choice(len(state), size=min(n_probes - 1, len(state)), replace=False)
    probes = state.iloc[np.sort(pick)]
    return {
        "digest": state_digest(state),
        "live_rows": len(state),
        "probe_keys": [[r, p] for r, p in zip(probes["repo"], probes["path"])]
                      + [["no-such-repo", "no/such/path"]],
        "probe_rows": {f"{r}\x00{p}": [sha, int(seq)] for r, p, sha, seq in zip(
            probes["repo"], probes["path"], probes["content_sha256"], probes["last_seq"])},
    }


def build_cdc_input(out: str, n_events: int, n_repos: int, zipf_a: float,
                    hot_share: float, n_files: int, history_files: int,
                    n_probes: int, seed: int) -> None:
    """A log split into a history directory (the batch replay's input) and
    a tail directory (streamed one micro-batch per file). The oracle covers
    both the history alone and the whole log."""
    t0 = time.perf_counter()
    log = cdc_log(n_events, n_repos, zipf_a, hot_share, seed)
    cut = int(np.linspace(0, len(log), n_files + 1, dtype=int)[history_files])
    history = log.iloc[:cut]
    write_log_files(history, os.path.join(out, "history"), history_files)
    write_log_files(log.iloc[cut:], os.path.join(out, "tail"), n_files - history_files)
    data = history[history["op"] != "schema_change"]
    hist = reduce_log(history)
    exp = expected_state(log, n_probes, seed)
    exp.update(history_digest=state_digest(hist), history_rows=len(history),
               history_user_bytes=int(sum(hist[c].fillna("").str.len().sum()
                                          for c in ("repo", "path", "content"))),
               history_data_rows=len(data),
               history_keys=len(data.drop_duplicates(["repo", "path"])),
               history_live_rows=len(hist), streamed=len(log) - cut,
               tail_files=n_files - history_files, generate_s=time.perf_counter() - t0)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f)


# ---------------------------------------------------------------- analytics

WORDS = ("a the key row scan slow fast table value part hash merge batch "
         "spark line sort window data group agg filter query big small "
         "vector column order stream join customer dup").split()


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days * 86_400, size=n) * 1_000_000).astype("timedelta64[us]")


def _day(ts: np.ndarray) -> np.ndarray:
    return ts.astype("datetime64[D]").astype("datetime64[us]")


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def build_analytics_input(out: str, scale: int, seed: int) -> None:
    """TPC-H-like star schema plus events, documents and embeddings, with
    the column names and types of the repository's test data. ``scale`` is
    the order count; the other tables follow its ratios."""
    rng = np.random.default_rng(seed)
    n_ord, n_cust, n_part, n_supp = scale, scale // 10, scale // 7, max(scale // 150, 10)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                                    "HOUSEHOLD"], n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "bolt", "gear", "plate", "widget", "screw", "nut", "pin"]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _day(_ts(rng, n_ord, "1995-01-01", 2400)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    n_li = scale * 4
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _day(_ts(rng, n_li, "1995-01-02", 2500))},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    n_ev = scale * 2 // 3
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev),
        "event_type": rng.choice(["error", "view", "signup", "purchase", "click"], n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    # documents: random word sequences, with exact and near duplicates
    n_doc = max(scale // 30, 50)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 80))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, size=n_doc // 10, replace=False):
        j = int(rng.integers(0, n_doc))
        src = texts[j].split()
        if rng.random() < 0.5 or len(src) < 4:
            texts[i] = texts[j]                                  # exact copy
        else:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            texts[i] = " ".join(src)                             # one-word edit
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    # embeddings: 64-dim unit vectors around 10 label centroids
    n_emb = max(scale // 75, 50)
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(size=(10, 64))
    vec = cent[labels] + 0.3 * rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": labels.astype(np.int32)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
