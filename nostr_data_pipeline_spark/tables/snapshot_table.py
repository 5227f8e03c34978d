"""SnapshotTable — a from-scratch, Iceberg-style table format on parquet.

No Iceberg/Delta runtime jar ships in this environment, so the MERGE-upsert
target the north rule requires is built from first principles with the same
design pillars Iceberg uses (all public knowledge: the Iceberg spec at
iceberg.apache.org/spec):

- **Snapshot isolation**: every commit writes an immutable ``manifest-vN.json``
  plus new data files; readers resolve the current version through a single
  ``_VERSION`` pointer file swapped atomically (``os.replace``). A crashed
  writer leaves only unreferenced garbage, never a torn table.
- **Bucketed layout + two-level merge pruning**: rows are hash-bucketed by
  the merge key (``pmod(xxhash64(keys), num_buckets)``). A MERGE only reads
  and rewrites the buckets its source touches — and within a bucket, only
  the FILES whose manifest-recorded key range (``file_stats``, the analogue
  of Iceberg's data-file lower/upper bounds) intersects the batch's keys;
  everything else carries forward by reference in the new manifest. Files
  are key-sorted and split at ``target_file_rows``, so they cover disjoint
  key ranges and a trickle update rewrites ~one file. At 100 TB this is the
  difference between rewriting megabytes and rewriting the table.
- **Exactly-once commit markers**: each manifest embeds a ``commits`` map of
  ``stream_id -> last applied batch_id``. ``foreachBatch`` is at-least-once;
  a replayed batch is detected and skipped before any work happens
  (generalizes the reference's PK-idempotent insert,
  /root/reference/src/nostr_pipeline/loaders/event_loader.py:31-57).
- **Tombstones**: deletes keep a ``_deleted=true`` row carrying ``last_seq``
  so a late-arriving older upsert cannot resurrect a deleted key. Readers
  filter tombstones; ``vacuum_tombstones`` purges old ones (the reference's
  retention delete, event_loader.py:268-297).
- **Schema evolution**: manifests carry the Spark schema JSON; ``add_column``
  and ``widen_column`` are metadata-only commits. Old data files remain valid
  — readers apply the latest schema (missing columns read as null, narrower
  parquet types are widened on read).
- **Virtual evolved columns** (CDC payload projection): rows store the raw
  semi-structured CDC payload (``extra_json``); columns declared via
  ``evolve_column(name, type, add_seq)`` are projected at read time with
  ``from_json(payload)[name]`` guarded by ``last_seq > add_seq``. This makes
  schema evolution *delivery-order independent*: a schema_change event
  discovered after some of its data events were already merged still yields
  the correct final state (add_seq is lowered monotonically, types widen
  monotonically), with zero backfill rewrite. The trade-off — a small
  map-parse on read for evolved columns only — is bought back with the
  bucket-rewriting ``materialize_evolved`` compaction at leisure (rows at or
  below its ``mat_seq`` stamp read columnar; a later spec change drops the
  stamp); correctness never depends on it.

Single-writer (one streaming query / one replayer), many-reader — matching
the reference's single-process writer model.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nostr_data_pipeline_spark.cdc.lww import lww_reduce

_WIDEN_OK = {
    ("integer", "long"), ("integer", "double"), ("long", "double"),
    ("float", "double"), ("integer", "integer"), ("long", "long"),
}

META_COLS = ("_deleted",)


# ---------------------------------------------------------- manifest shards
# Shard files are IMMUTABLE (uuid-named, never rewritten), so a process-wide
# cache is safe: a carried-forward shard is parsed once per process no matter
# how many manifest versions reference it. The crude clear-on-overflow bound
# only matters to a process touching thousands of distinct tables.
_SHARD_CACHE: dict[str, dict[str, Any]] = {}
_SHARD_CACHE_MAX = 16384

_BUCKET_SEG_RE = re.compile(r"/_bucket=(\d+)/")


def _bucket_of_path(relpath: str) -> str | None:
    """Bucket id encoded in a data/delta file's relative path
    (``data-vN/_bucket=B/part-...``) — the routing key that lets the lazy
    stats view find a file's shard without loading every shard."""
    mt = _BUCKET_SEG_RE.search(relpath)
    return mt.group(1) if mt else None


class _ShardedBuckets(Mapping):
    """Lazy ``bucket id -> [file relpaths]`` view over manifest shards.

    Accessing a bucket loads (and caches) only that bucket's shard — the
    property that keeps point reads and hinted merges O(probed buckets) in
    metadata I/O on a table with 10^5-10^6 files. ``updated(changes)``
    returns an overlay view used transiently between a commit builder and
    ``_commit`` so untouched buckets are carried forward WITHOUT ever being
    loaded. The file lists handed out are shared with the cache: treat them
    as immutable (every caller in this module copies before mutating)."""

    __slots__ = ("_t", "_map", "_ov")

    def __init__(self, table: "SnapshotTable", shard_map: dict[str, dict],
                 overlay: dict[str, list[str]] | None = None):
        self._t = table
        self._map = shard_map
        self._ov = overlay or {}

    def __getitem__(self, b: str) -> list[str]:
        if b in self._ov:
            return self._ov[b]
        return self._t._load_shard(self._map[b]["path"])["files"]

    def __iter__(self):
        yield from self._map
        for b in self._ov:
            if b not in self._map:
                yield b

    def __len__(self) -> int:
        return len(self._map.keys() | self._ov.keys())

    def __contains__(self, b) -> bool:  # Mapping's default would load the shard
        return b in self._ov or b in self._map

    def updated(self, changes: dict[str, list[str]]) -> "_ShardedBuckets":
        return _ShardedBuckets(self._t, self._map, {**self._ov, **changes})

    @property
    def n_files(self) -> int:
        """Total live file count without loading any shard (per-shard counts
        ride the manifest's shard map)."""
        return sum(len(v) for v in self._ov.values()) + sum(
            e["n"] for b, e in self._map.items() if b not in self._ov
        )


class _ShardedStats(Mapping):
    """Lazy ``file relpath -> stats`` view: a lookup routes through the
    ``_bucket=B`` path segment to that bucket's shard, so per-file stats
    probes (merge pruning, point reads, where-pruning) load only the shards
    of the files actually being considered. Full iteration (tests,
    maintenance) loads everything — by design, those paths read every file
    anyway."""

    __slots__ = ("_t", "_map")

    def __init__(self, table: "SnapshotTable", shard_map: dict[str, dict]):
        self._t = table
        self._map = shard_map

    def __getitem__(self, f: str):
        b = _bucket_of_path(f)
        e = self._map.get(b) if b is not None else None
        if e is None:
            raise KeyError(f)
        return self._t._load_shard(e["path"])["stats"][f]

    def __contains__(self, f) -> bool:
        try:
            self[f]
            return True
        except KeyError:
            return False

    def __iter__(self):
        for e in self._map.values():
            yield from self._t._load_shard(e["path"])["stats"]

    def __len__(self) -> int:
        return sum(
            len(self._t._load_shard(e["path"])["stats"])
            for e in self._map.values()
        )



def _overlay_buckets(base, changes: dict) -> "Mapping | dict":
    """New bucket->files mapping with ``changes`` applied: an overlay VIEW
    on a sharded base (untouched buckets stay unloaded shard references) or
    a plain merged dict otherwise. Every commit builder routes through this
    so the O(touched)-metadata property cannot be lost on one path."""
    if isinstance(base, _ShardedBuckets):
        return base.updated(changes)
    return {**base, **changes}


# key-column types whose values survive a JSON round-trip AND whose Python
# ordering equals Spark's (str: UTF-8 byte order == code-point order; ints
# exact) — the precondition for recording per-file key-range stats
_STATS_SAFE_TYPES = {"string", "integer", "long", "short", "byte", "boolean"}


class SnapshotTable:
    # Non-key columns whose per-file min/max ride the key-range stats job
    # (same single narrow scan — a few more pruned columns, no extra job).
    # These bounds are Iceberg's lower_bounds/upper_bounds for non-key
    # columns: they let retention deletes and time-filtered reads skip
    # files whose recorded range cannot match (delete_where / read(where=)).
    # Effective exactly where the CDC write pattern creates skew: a trickle
    # merge rewrites the files holding the touched keys, stamping them with
    # RECENT updated_ts/last_seq ranges — so "updated_ts < cutoff" retention
    # prunes every recently-rewritten file and scans only the cold ones.
    # Timestamp bounds are stored as epoch MICROS (JSON-safe, order-exact).
    stats_cols: tuple[str, ...] = ("updated_ts", "last_seq")

    def __init__(self, path: str, key_cols: tuple[str, ...] = ("repo", "path"),
                 num_buckets: int = 32, target_file_rows: int | None = None,
                 bucket_cols: tuple[str, ...] | None = None):
        """``target_file_rows``: when set, every bucket rewrite splits its
        output into files of at most this many rows (``maxRecordsPerFile``).
        Because rewrites are key-sorted within each bucket, the split
        files cover CONTIGUOUS, DISJOINT key ranges — which is what makes
        file-level merge pruning bite: a trickle update into a bucket of M
        key-range files rewrites only the intersecting file(s), not the
        bucket. At 100 TB (multi-GB buckets) this is the difference between
        rewriting ~a file and rewriting ~a bucket per touched key range.
        ``None`` keeps one file per bucket per rewrite (small tables).

        ``bucket_cols``: optional SUBSET of ``key_cols`` to hash for bucket
        placement (default: all key columns) — the equivalent of bucketing a
        composite-keyed table by a key prefix so point probes on that prefix
        prune to its buckets (e.g. an LSH band table keyed
        (band, bandhash, doc_id) but bucketed by (band, bandhash): a probe
        knows the hash, never the doc ids). MUST be a subset of the key: a
        row's bucket is then a pure function of its key, so an updated row
        can never migrate buckets out from under the merge join. All merge/
        pruning invariants are unchanged — files stay key-sorted, sibling
        files of a bucket still hold disjoint FULL-key ranges."""
        self.path = path
        self.key_cols = tuple(key_cols)
        self.num_buckets = num_buckets
        self.target_file_rows = target_file_rows
        if bucket_cols is not None:
            bucket_cols = tuple(bucket_cols)
            if not set(bucket_cols) <= set(self.key_cols):
                raise ValueError(
                    f"bucket_cols {bucket_cols} must be a subset of "
                    f"key_cols {self.key_cols} (bucket placement must be a "
                    f"function of the key, or updates would migrate buckets)"
                )
            if bucket_cols == self.key_cols:
                bucket_cols = None  # the default, stored canonically
        self.bucket_cols = bucket_cols

    # ------------------------------------------------------------------ util
    def _version_file(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def exists(self) -> bool:
        return os.path.exists(self._version_file())

    def current_version(self) -> int:
        with open(self._version_file()) as f:
            return int(f.read().strip())

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"manifest-v{version:08d}.json")

    @classmethod
    def open(cls, path: str) -> "SnapshotTable":
        """Open an EXISTING table with its persisted layout (key_cols,
        num_buckets) read from the manifest — the safe constructor when the
        caller did not create the table: a handle whose bucket count
        disagrees with the on-disk layout would probe the wrong bucket on
        point reads and merge updates past existing rows (duplicate keys)."""
        m = cls(path)._raw_manifest()
        bc = m.get("bucket_cols")
        return cls(path, key_cols=tuple(m["key_cols"]),
                   num_buckets=int(m["num_buckets"]),
                   target_file_rows=m.get("target_file_rows"),
                   bucket_cols=tuple(bc) if bc else None)

    def _raw_manifest(self, version: int | None = None) -> dict[str, Any]:
        if version is None:
            version = self.current_version()
        with open(self._manifest_path(version)) as f:
            m = json.load(f)
        shards = m.get("bucket_shards")
        if shards is not None:
            # sharded manifest (format 2): expose the familiar assembled
            # views lazily — a consumer that probes one bucket parses one
            # shard, not the whole table's metadata
            m["buckets"] = _ShardedBuckets(self, shards)
            m["file_stats"] = _ShardedStats(self, shards)
        return m

    def _load_shard(self, rel: str) -> dict[str, Any]:
        fp = os.path.join(self.path, rel)
        sh = _SHARD_CACHE.get(fp)
        if sh is None:
            try:
                with open(fp) as f:
                    sh = json.load(f)
            except FileNotFoundError:
                raise ValueError(
                    f"manifest shard {rel} of table {self.path} was vacuumed; "
                    f"time-travel is bounded by vacuum(keep_versions)"
                ) from None
            if len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
                _SHARD_CACHE.clear()
            _SHARD_CACHE[fp] = sh
        return sh

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        m = self._raw_manifest(version)
        if version is not None:
            # historical manifests may legitimately carry a DIFFERENT layout
            # (pre-rebucket); the guard protects writes against the CURRENT
            # layout only — vacuum/time-travel/changes over old versions must
            # keep working after a rebucket
            return m
        # layout guard: a handle constructed with a different bucketing than
        # the table was written with must fail fast, not corrupt silently
        if m.get("num_buckets") not in (None, self.num_buckets):
            raise ValueError(
                f"table at {self.path} has num_buckets={m['num_buckets']} but "
                f"this handle was constructed with {self.num_buckets}; use "
                f"SnapshotTable.open({self.path!r})"
            )
        # key_cols disagreements are the same corruption class: a handle
        # hashing different columns probes the wrong buckets and a merge
        # would write duplicate keys past the existing rows
        if m.get("key_cols") not in (None, list(self.key_cols)):
            raise ValueError(
                f"table at {self.path} has key_cols={m['key_cols']} but this "
                f"handle was constructed with {list(self.key_cols)}; use "
                f"SnapshotTable.open({self.path!r})"
            )
        # and so are bucket_cols: same hash, different inputs. Manifests
        # written before the bucket_cols field existed (no key present) were
        # bucketed by the FULL key — default the missing key to None so a
        # handle constructed with any prefix bucketing is loudly rejected
        # against such a table instead of hashing probes to wrong buckets
        mine = list(self.bucket_cols) if self.bucket_cols else None
        if m.get("bucket_cols") != mine:
            raise ValueError(
                f"table at {self.path} has bucket_cols={m.get('bucket_cols')} "
                f"but this handle was constructed with {mine}; use "
                f"SnapshotTable.open({self.path!r})"
            )
        return m

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest()["schema"])

    def _commit(self, manifest: dict[str, Any],
                touched: "set[str] | frozenset[str] | None" = None) -> None:
        """Atomic commit: manifest write is the WAL, pointer swap is the
        commit point. Every step is fsynced (file data before each rename,
        the directory after) so the pointer can never land on a manifest
        whose bytes didn't survive a power loss — rename atomicity alone
        only covers process crashes, not unflushed page cache.

        Sharded metadata (Iceberg's manifest-list design, iceberg.apache.org/
        spec): per-bucket file lists + file stats persist as immutable shard
        files under ``shards/``; the top manifest holds only a
        ``bucket_shards`` map of O(num_buckets) entries. ``touched`` names
        the bucket ids whose content may differ from the parent manifest —
        every other bucket carries its parent shard forward BY PATH, without
        being loaded or rewritten. With ``touched=None`` each bucket's
        content is rebuilt and compared against the parent shard (correct
        for any caller, O(all files) in memory — the maintenance-path
        default). Commit cost is therefore O(touched buckets + num_buckets),
        flat in total file count: the property a 10^6-file table needs.

        Contract with commit builders: ``manifest['buckets']`` is the
        complete bucket->files mapping (plain dict, lazy view, or
        ``updated()`` overlay); ``manifest['file_stats']`` carries stats for
        NEW files only — stats of carried files come from the parent shards.
        """
        m = dict(manifest)
        buckets = m.pop("buckets", {})
        raw_stats = m.pop("file_stats", {})
        new_stats: dict[str, Any] = raw_stats if isinstance(raw_stats, dict) else {}
        parent_map: dict[str, dict] = m.pop("bucket_shards", {}) or {}
        deltas = m.get("deltas") or {}
        v = m["version"]
        # one-time upgrade path: a pre-shard parent manifest carries its
        # stats inline; make them available as the carried-stats source
        parent_inline: dict[str, Any] = {}
        if not parent_map and v > 1:
            try:
                with open(self._manifest_path(v - 1)) as f:
                    parent_inline = json.load(f).get("file_stats") or {}
            except (FileNotFoundError, json.JSONDecodeError):
                pass
        if touched is not None:
            touched = {str(b) for b in touched}
        shard_map: dict[str, dict] = {}
        pending: list[tuple[str, dict]] = []
        for b in sorted(set(buckets) | set(deltas), key=int):
            pe = parent_map.get(b)
            if touched is not None and b not in touched and pe is not None:
                shard_map[b] = pe
                continue
            files = list(buckets[b]) if b in buckets else []
            parent_stats = (self._load_shard(pe["path"])["stats"] if pe
                            else parent_inline)
            stats: dict[str, Any] = {}
            for f in files + list(deltas.get(b, ())):
                s = new_stats.get(f)
                if s is None:
                    s = parent_stats.get(f)
                if s is not None:
                    stats[f] = s
            content = {"files": files, "stats": stats}
            # byte-identical content reuses the parent shard on EVERY path
            # (the parent is already loaded for carried stats, so this is a
            # dict compare, not extra I/O): a stats-less MoR trickle commit
            # rebuilds exactly the parent's content for each written bucket
            # — without this check it would write+fsync a garbage twin
            # shard per bucket per commit on the hot ingest path
            if pe is not None and self._load_shard(pe["path"]) == content:
                shard_map[b] = pe
                continue
            rel = f"shards/shard-b{b}-{uuid.uuid4().hex[:12]}.json"
            shard_map[b] = {"path": rel, "n": len(files)}
            pending.append((rel, content))
        if pending:
            sdir = os.path.join(self.path, "shards")
            os.makedirs(sdir, exist_ok=True)
            for rel, content in pending:
                fp = os.path.join(self.path, rel)
                tmp = fp + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(content, f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, fp)
                _SHARD_CACHE[fp] = content
            # shard names must be durable before a manifest references them
            sfd = os.open(sdir, os.O_RDONLY)
            try:
                os.fsync(sfd)
            finally:
                os.close(sfd)
        m["bucket_shards"] = shard_map
        mp = self._manifest_path(v)
        tmp = mp + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mp)
        # persistence barrier: the manifest's directory entry must be
        # durable BEFORE the pointer rename — two renames are separate
        # directory updates with no ordering guarantee, so a power loss
        # could otherwise persist _VERSION=N while manifest-vN vanishes
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        vtmp = self._version_file() + f".tmp-{uuid.uuid4().hex}"
        with open(vtmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(vtmp, self._version_file())
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def bucket_expr(self) -> F.Column:
        cols = self.bucket_cols or self.key_cols
        return F.pmod(F.xxhash64(*cols), F.lit(self.num_buckets)).cast("int")

    def _list_written_buckets(self, out_dir: str, data_rel: str,
                              buckets) -> dict[str, list[str]]:
        """Manifest entries for a just-written ``partitionBy('_bucket')``
        output: each requested bucket's parquet files (relative paths), []
        for buckets whose rows were all filtered away. Single-sourced for
        every commit path (merge / materialize / retention)."""
        out: dict[str, list[str]] = {}
        for b in buckets:
            bdir = os.path.join(out_dir, f"_bucket={b}")
            out[str(b)] = [
                f"{data_rel}/_bucket={b}/{fn}"
                for fn in sorted(os.listdir(bdir))
                if fn.endswith(".parquet")
            ] if os.path.isdir(bdir) else []
        return out

    # ------------------------------------------------------ file-range stats
    def _stats_capable(self, schema: T.StructType) -> bool:
        return all(
            schema[k].dataType.typeName() in _STATS_SAFE_TYPES
            for k in self.key_cols
        )

    def _write_bucketed(self, df: DataFrame, out_dir: str, n_parts: int) -> None:
        """The one bucket-rewrite write pattern (merge / retention /
        materialize / rebucket): hash-repartition on ``_bucket`` (all rows of
        a bucket land in one task), key-sort within the partition (parquet
        row-group min/max pruning + exact per-file key ranges), optionally
        split into ``target_file_rows``-row files — key-sorted splitting
        yields contiguous DISJOINT key ranges per file, the layout file-level
        merge pruning needs."""
        w = (
            df.repartition(n_parts, F.col("_bucket"))
            # ``_bucket`` leads the sort: Spark's planned write requires a
            # sort on the partitionBy column and replaces a key-only sort
            # with it, leaving the files unsorted by key.
            .sortWithinPartitions("_bucket", *self.key_cols)
            .write.mode("overwrite")
        )
        if self.target_file_rows:
            w = w.option("maxRecordsPerFile", int(self.target_file_rows))
        w.partitionBy("_bucket").parquet(out_dir)

    def _collect_file_stats(self, spark: SparkSession, out_dir: str,
                            data_rel: str,
                            schema: T.StructType) -> dict[str, Any]:
        """Exact per-file key-range stats for a just-written bucket output:
        one narrow job over the new files reading ONLY the key columns
        (column pruning keeps this a metadata-sized scan), grouped by
        ``_metadata.file_path`` with ``min/max(struct(*key_cols))`` — struct
        ordering is lexicographic by field, so the bounds are exact TUPLE
        bounds, not per-column approximations. Iceberg records the same
        bounds in its manifests (iceberg.apache.org/spec: data-file
        lower_bounds/upper_bounds); here they drive merge/point-read file
        pruning. Returns {} when a key type isn't stats-safe (non-JSON-safe
        or ordering-divergent) — pruning then degrades to bucket granularity,
        never to wrong answers.

        Stats are recorded only when ``target_file_rows`` is set: without
        file splitting each bucket rewrite produces ONE file whose range is
        the whole bucket — ranges that never prune anything — so the
        collection job would be pure per-commit overhead on the ingest hot
        path. Setting ``target_file_rows`` is the switch that enables the
        fine-grained layout AND its bookkeeping together."""
        if not self.target_file_rows or not self._stats_capable(schema):
            return {}
        # an all-rows-filtered rewrite writes no parquet at all — nothing to scan
        if not any(
            fn.endswith(".parquet")
            for root, _dirs, fns in os.walk(out_dir) for fn in fns
        ):
            return {}
        kstruct = F.struct(*[F.col(k) for k in self.key_cols])
        extra = self._stats_extra_cols(schema)
        scan_schema = T.StructType(
            [schema[k] for k in self.key_cols]
            + [schema[c] for c, _ in extra]
        )
        aggs = [F.min("_k").alias("_mn"), F.max("_k").alias("_mx"),
                F.count(F.lit(1)).alias("_n")]
        for c, is_ts in extra:
            # timestamp bounds as epoch micros: JSON-safe ints whose order
            # equals the timestamp order (min/max commute with unix_micros)
            e = F.unix_micros(F.col(c)) if is_ts else F.col(c)
            aggs += [F.min(e).alias(f"_mn_{c}"), F.max(e).alias(f"_mx_{c}")]
        rows = (
            # explicit narrow schema: no inference footer pass, and the
            # scan itself reads just the key + stats columns
            spark.read.schema(scan_schema).parquet(out_dir)
            .select(F.col("_metadata.file_path").alias("_fp"), kstruct.alias("_k"),
                    *[c for c, _ in extra])
            .groupBy("_fp")
            .agg(*aggs)
            .collect()
        )
        out: dict[str, Any] = {}
        marker = data_rel + "/"
        for r in rows:
            idx = r["_fp"].rfind(marker)
            if idx < 0:
                continue
            mn, mx = list(r["_mn"]), list(r["_mx"])
            if any(v is None for v in mn + mx):
                continue  # null key values: file stays unprunable
            entry: dict[str, Any] = {"min": mn, "max": mx, "rows": r["_n"]}
            cols = {
                c: [r[f"_mn_{c}"], r[f"_mx_{c}"]]
                for c, _ in extra
                # all-null column in this file: no bounds, unprunable on it
                if r[f"_mn_{c}"] is not None and r[f"_mx_{c}"] is not None
            }
            if cols:
                entry["cols"] = cols
            out[r["_fp"][idx:]] = entry
        return out

    def _stats_extra_cols(self, schema: T.StructType) -> list[tuple[str, bool]]:
        """(name, is_timestamp) for each configured non-key stats column
        that exists in the schema with a bounds-safe type."""
        out = []
        for c in self.stats_cols:
            if c in self.key_cols or c not in schema.fieldNames():
                continue
            tn = schema[c].dataType.typeName()
            if tn == "timestamp":
                out.append((c, True))
            elif tn in _STATS_SAFE_TYPES or tn in ("double", "float"):
                out.append((c, False))
        return out

    # ---------------------------------------------------- merge-on-read layer
    @staticmethod
    def _deltas_of(m: dict[str, Any]) -> dict[str, list[str]]:
        return m.get("deltas") or {}

    def _resolution_cols(self, m: dict[str, Any]) -> tuple[str, str]:
        lww = m.get("delta_lww") or {}
        return lww.get("seq_col", "last_seq"), lww.get("tie_col", "last_event_id")

    # compressed-delta-bytes ceiling for the broadcast MoR resolve: below it
    # the delta KEY SET (smaller than the deltas themselves) broadcasts and
    # the base table never shuffles; above it reads fall back to the full
    # hash-partitioned resolve. Periodic compact() keeps real tables under
    # it. None (default) derives the ceiling from the session's
    # ``spark.sql.autoBroadcastJoinThreshold`` at read time — the knob the
    # operator already sized to the executors — so one setting governs both
    # Spark's own broadcasts and this one; an explicit int on the instance
    # (or subclass) overrides. A disabled threshold (<= 0) disables the
    # broadcast resolve too (full hash-partitioned resolve).
    mor_broadcast_bytes: int | None = None

    # MoR delta commits below this row count skip the per-commit file-stats
    # job (see _merge_delta) — the streaming trickle path's fixed cost.
    delta_stats_min_rows: int = 100_000

    # an UNHINTED CoW merge into a sharded table with at least this many
    # live files first derives the bucket hint from the source (one narrow
    # distinct job) rather than loading every bucket's metadata shard —
    # see _probe_touched_files. Below it, one job beats two.
    probe_prescan_min_files: int = 50_000

    def _mor_broadcast_ceiling(self, spark: SparkSession) -> int:
        if self.mor_broadcast_bytes is not None:
            return self.mor_broadcast_bytes
        try:
            raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        except Exception:
            return 32 << 20
        return max(0, _parse_byte_size(raw))

    def _mor_resolved(self, spark: SparkSession, m: dict[str, Any],
                      base_files: list[str], delta_files: list[str],
                      key_pred: F.Column | None = None) -> DataFrame:
        """Resolve a merge-on-read selection to one row per key.

        A point read (``read_keys``) passes its probe predicate as
        ``key_pred``: the base and delta files are read as one relation and
        filtered BEFORE the per-key (seq, tie)-max aggregation, so only the
        probed keys' rows are resolved, in one scan plus one small aggregate
        with no key-set broadcast. Sound because LWW is decided per key and
        the predicate names key columns only (a non-key filter ahead of the
        resolve would drop a key's winner and resurrect its stale row). With
        no delta file selected the filtered base is already resolved.

        A full scan resolves WITHOUT shuffling the base: base rows hold one
        live row per key by CoW invariant, so any base key absent from the
        delta key set is already the winner — it passes through a map-side
        broadcast ANTI join untouched (at 100 TB this is the difference
        between a scan and a full-table shuffle per read). Only touched base
        rows (broadcast SEMI join) union the deltas into the aggregation.
        Falls back to the plain full resolve when the deltas exceed
        ``mor_broadcast_bytes`` on disk (the key-set relation would no
        longer be broadcast-safe)."""
        schema = T.StructType.fromJson(m["schema"])
        rs, rt = self._resolution_cols(m)
        if key_pred is not None:
            rows = self._read_files(spark, base_files + delta_files, schema)
            rows = rows.filter(key_pred)
            return lww_reduce(rows, self.key_cols, rs, rt) if delta_files else rows
        base = self._read_files(spark, base_files, schema)
        delta = self._read_files(spark, delta_files, schema)
        ceiling = self._mor_broadcast_ceiling(spark)
        delta_bytes = 0
        for f in delta_files:
            try:
                delta_bytes += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                delta_bytes = ceiling + 1  # unknown: no bcast
                break
        if delta_bytes > ceiling:
            return lww_reduce(base.unionByName(delta), self.key_cols, rs, rt)
        keys = list(self.key_cols)
        dkeys = delta.select(*keys).distinct()
        untouched = base.join(F.broadcast(dkeys), keys, "left_anti")
        touched = base.join(F.broadcast(dkeys), keys, "left_semi")
        resolved = lww_reduce(touched.unionByName(delta), self.key_cols, rs, rt)
        return untouched.unionByName(resolved)

    @staticmethod
    def _key_in_ranges(key: tuple, st: dict[str, Any]) -> bool:
        return tuple(st["min"]) <= key <= tuple(st["max"])

    # ------------------------------------------------- predicate file pruning
    def _extract_col_ranges(self, spark: SparkSession, condition: str,
                            schema: T.StructType) -> dict[str, list]:
        """CONSERVATIVE range extraction from a SQL condition for file-stats
        pruning: returns ``{col: [lo, hi]}`` (None = unbounded) such that any
        row satisfying the condition lies inside every returned range —
        never the converse. Decomposition rules keep it sound by
        construction:

        - only top-level conjunctions decompose (OR / NOT / parentheses
          anywhere -> no pruning at all: a disjunct could match outside any
          one branch's range);
        - each conjunct either parses as ``col OP literal`` (OP in
          < <= > >= =) against a stats-carrying column, or is IGNORED —
          ignoring a conjunct only WIDENS the allowed range (a conjunction
          can only narrow matches), so partial parses stay sound;
        - strict bounds are recorded inclusively (a file whose max equals
          the strict bound survives pruning — reads may open one extra
          file, never skip a matching one);
        - timestamp literals are evaluated by Spark itself (session
          timezone, same cast the filter will apply) into epoch micros —
          the unit the stats store.

        Anything unparsable yields ``{}`` / drops the conjunct: pruning
        silently degrades to scanning, never to wrong answers."""
        import re

        if re.search(r"\bor\b|\bnot\b|[()]|<>|!=", condition, re.IGNORECASE):
            return {}
        ranges: dict[str, list] = {}
        names = set(schema.fieldNames())
        for conj in re.split(r"\s+and\s+", condition, flags=re.IGNORECASE):
            m = re.match(
                r"^\s*(\w+)\s*(<=|>=|=|<|>)\s*(.+?)\s*$", conj)
            if not m:
                continue
            col, op, lit = m.groups()
            if col not in names:
                continue
            tn = schema[col].dataType.typeName()
            val = self._parse_literal(spark, lit, tn)
            if val is None:
                continue
            lo, hi = ranges.get(col, [None, None])
            if op in ("<", "<="):
                hi = val if hi is None else min(hi, val)
            elif op in (">", ">="):
                lo = val if lo is None else max(lo, val)
            else:  # '='
                lo = val if lo is None else max(lo, val)
                hi = val if hi is None else min(hi, val)
            ranges[col] = [lo, hi]
        return ranges

    @staticmethod
    def _parse_literal(spark: SparkSession, lit: str, type_name: str):
        """SQL literal -> the python value comparable against stored bounds
        (timestamps -> epoch micros). None = unparsable (skip the conjunct)."""
        import re

        lit = lit.strip()
        m = re.match(r"^(?:timestamp|date)?\s*'(.*)'$", lit, re.IGNORECASE)
        quoted = m.group(1) if m else None
        if type_name == "timestamp":
            if quoted is None:
                return None
            try:
                # Spark evaluates the cast (session tz) — a LocalRelation
                # plan, no cluster scan; exactly the semantics the filter
                # itself will apply
                return spark.sql(
                    "SELECT unix_micros(TIMESTAMP '{}')".format(
                        quoted.replace("'", "''"))
                ).first()[0]
            except Exception:
                return None
        if quoted is not None:
            # undo the SQL doubled-quote escape the filter's own parser
            # undoes: the bound must be the VALUE, not the source text —
            # comparing "a''b" against stored "a'b" bounds would wrongly
            # prune files that hold matching rows
            return quoted.replace("''", "'") if type_name == "string" else None
        try:
            return int(lit)
        except ValueError:
            try:
                return float(lit)
            except ValueError:
                return None

    def _prune_base_under_deltas(self, m: dict[str, Any],
                                 base_sel: list[str], delta_sel: list[str],
                                 ranges: dict[str, list]) -> list[str]:
        """Predicate file pruning that stays sound with LIVE MoR deltas.

        Dropping a base file on its column bounds alone is unsound here: the
        file may hold the LWW WINNER for a key whose stale delta row would
        then win the resolve and pass the filter (resurrection). A base file
        is skipped only when BOTH hold:

        (a) its recorded bounds cannot satisfy the predicate
            (``_file_may_match`` false), and
        (b) its key-tuple range is disjoint from every same-bucket delta
            file's key range — no key in the file has any delta row, so the
            file's rows resolve alone and (a) already proves none survives
            the filter. (Same-bucket suffices: a shared key hashes to the
            same bucket by construction.)

        Delta bounds come from manifest stats (exact tuple bounds) when
        present; a stats-less delta (the trickle path deliberately skips the
        stats job) falls back to its parquet FOOTER's per-column statistics,
        conservatively widened to a tuple interval — a driver-side metadata
        read over the few uncompacted files, no Spark job. A delta whose
        bounds are unavailable either way makes its bucket unprunable
        (conservative: pruning degrades to scanning, never to wrong rows)."""
        stats_map = m.get("file_stats", {})
        # bucket -> list[(lo, hi)] delta key-tuple intervals; None = unprunable
        dmap: dict[str | None, list | None] = {}
        for d in delta_sel:
            b = _bucket_of_path(d)
            if dmap.get(b, ()) is None:
                continue
            st = stats_map.get(d)
            if st is not None:
                iv = (tuple(st["min"]), tuple(st["max"]))
            else:
                try:
                    iv = _parquet_key_bounds(
                        os.path.join(self.path, d), self.key_cols)
                except OSError:
                    iv = None
            if iv is None:
                dmap[b] = None
            else:
                dmap.setdefault(b, []).append(iv)
        out = []
        for f in base_sel:
            st = stats_map.get(f)
            if st is None or self._file_may_match(st, ranges):
                out.append(f)
                continue
            ivs = dmap.get(_bucket_of_path(f), [])
            if ivs is None:
                out.append(f)
                continue
            flo, fhi = tuple(st["min"]), tuple(st["max"])
            try:
                if any(not (fhi < dlo or dhi < flo) for dlo, dhi in ivs):
                    out.append(f)
            except TypeError:
                out.append(f)  # incomparable bounds: keep
        return out

    def _file_may_match(self, st: dict[str, Any] | None,
                        ranges: dict[str, list]) -> bool:
        """May a file with these recorded stats contain a row inside the
        ranges? Missing stats (file or column) -> True (unprunable, never
        wrong). Rows with NULL in a range column cannot satisfy the
        predicate anyway, so bounds over the non-null values suffice."""
        if st is None or not ranges:
            return True
        for col, (lo, hi) in ranges.items():
            if col == self.key_cols[0]:
                bounds = [st["min"][0], st["max"][0]]
            else:
                bounds = st.get("cols", {}).get(col)
            if bounds is None:
                continue
            try:
                if lo is not None and bounds[1] < lo:
                    return False
                if hi is not None and bounds[0] > hi:
                    return False
            except TypeError:
                continue  # incomparable literal/bounds: unprunable
        return True

    # ---------------------------------------------------------------- create
    def create(self, schema: T.StructType) -> None:
        """Create an empty table at version 1. Schema must include key cols;
        the ``_deleted`` tombstone flag is added automatically."""
        if self.exists():
            raise ValueError(f"table already exists at {self.path}")
        os.makedirs(self.path, exist_ok=True)
        fields = list(schema.fields)
        if "_deleted" not in schema.fieldNames():
            fields.append(T.StructField("_deleted", T.BooleanType(), False))
        manifest = {
            "version": 1,
            "schema": T.StructType(fields).jsonValue(),
            "key_cols": list(self.key_cols),
            "bucket_cols": list(self.bucket_cols) if self.bucket_cols else None,
            "num_buckets": self.num_buckets,
            "buckets": {},          # bucket id (str) -> [relative file paths]
            "deltas": {},           # bucket id (str) -> [delta relpaths] (merge-on-read)
            "file_stats": {},       # relpath -> {"min": [...], "max": [...], "rows": n}
            "commits": {},          # stream_id -> last applied batch_id
            "evolved": {},          # col -> {"type": t, "add_seq": s} (virtual cols)
            "target_file_rows": self.target_file_rows,
            "metrics": {},
            "created_at": time.time(),
        }
        self._commit(manifest)

    # ------------------------------------------------------------------ read
    def _read_files(self, spark: SparkSession, files: list[str],
                    schema: T.StructType) -> DataFrame:
        if not files:
            # limit(0) optimizes to an empty LocalRelation (a bare
            # createDataFrame([]) is an opaque LogicalRDD), so
            # PropagateEmptyRelation drops joins against it: a CoW merge into
            # an empty table or new buckets skips the full-outer join.
            return spark.createDataFrame([], schema).limit(0)
        paths = [os.path.join(self.path, f) for f in files]
        return spark.read.schema(schema).parquet(*paths)

    def read(self, spark: SparkSession, include_tombstones: bool = False,
             with_payload: bool = False, payload_col: str = "extra_json",
             seq_col: str = "last_seq", version: int | None = None,
             buckets: list[int] | None = None,
             files: list[str] | None = None,
             where: str | None = None,
             key_prefixes: list[tuple] | None = None) -> DataFrame:
        """Read a snapshot. ``version`` time-travels to an older manifest
        (manifests are immutable; ``vacuum`` bounds how far back the data
        directories still exist — default keeps the newest 2 versions; a
        version whose data dirs were vacuumed raises a clear error here
        instead of dying inside the parquet scan). ``buckets`` restricts the
        scan to the named buckets' files; ``files`` restricts it to an
        explicit relpath list (the file-pruning hook used by changes — the
        caller must pass files belonging to the manifest).

        ``where``: SQL predicate applied to the result (same as
        ``.filter(where)``) — passing it HERE additionally prunes the file
        list with the manifest's per-file bounds (key ranges + non-key
        ``stats_cols``) before the scan is even planned, via the same
        conservative range extraction delete_where uses. With live
        merge-on-read deltas the delta files are ALWAYS read (any delta row
        can supersede a base row at resolve time) and base files prune under
        the stricter delta-aware rule (``_prune_base_under_deltas``:
        filter-dead AND key-disjoint from every same-bucket delta) — the
        steady-state trickle path keeps its scan pruning without the
        stale-row-resurrection hazard. The predicate may reference virtual
        evolved columns (it runs
        after projection); only physical NON-shadowed stats columns
        contribute to pruning.

        ``key_prefixes``: a list of key-PREFIX tuples — files whose recorded
        full-key range cannot contain any key starting with one of them are
        skipped (``prune_files_by_key_prefix``; lexicographic-order sound,
        and safe under live deltas: a pruned file contains NO key with a
        probed prefix, so resolution of the probed keys is unaffected).
        This is the probe shape of a prefix-bucketed index (the caller
        knows the bucket-column values but not the full keys); NOTE it
        prunes files only — the caller still filters rows."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        deltas = self._deltas_of(m)
        if files is not None:
            pass
        elif buckets is None:
            files = [f for fs in m["buckets"].values() for f in fs] + [
                f for fs in deltas.values() for f in fs
            ]
        else:
            files = [f for b in buckets for f in m["buckets"].get(str(b), [])] + [
                f for b in buckets for f in deltas.get(str(b), [])
            ]
        if key_prefixes:
            files = self.prune_files_by_key_prefix(m, files, key_prefixes)
        # time-travel reads verify their files exist (vacuum is file-granular;
        # a clear error beats a mid-scan PATH_NOT_FOUND). Current-version
        # reads skip the check — vacuum never removes currently-referenced
        # files, and an O(#files) driver stat storm on every hot read is
        # exactly what a large table can't afford.
        if version is not None:
            missing = [f for f in files
                       if not os.path.isfile(os.path.join(self.path, f))]
            if missing:
                raise ValueError(
                    f"version {m['version']} of table {self.path} references "
                    f"{len(missing)} vacuumed data file(s) (e.g. {missing[0]}); "
                    f"time-travel is bounded by vacuum(keep_versions)"
                )
        # merge-on-read resolution: delta files may carry keys that also live
        # in base files (or in other deltas) — collapse to the per-key winner
        # BEFORE projection/tombstone filtering, using the LWW columns the
        # MoR merges recorded in the manifest (broadcast key-set plan: the
        # base never shuffles, see _mor_resolved). Pure-CoW reads (no delta
        # file selected) skip this entirely — zero cost on the existing path.
        ranges: dict[str, list] = {}
        if where is not None:
            ranges = self._extract_col_ranges(spark, where, schema)
            # a column shadowed by an evolved virtual projection reads
            # its value from the payload parse (or a coalesce with the
            # physical), so the PHYSICAL per-file bounds do not bound
            # what the filter will see — never prune on such a column
            for c in m.get("evolved", {}):
                ranges.pop(c, None)
        delta_sel = [f for f in files if f.startswith("delta-v")]
        if delta_sel:
            base_sel = [f for f in files if not f.startswith("delta-v")]
            if ranges:
                # delta-aware pruning: deltas are ALWAYS read (they can
                # carry the winner for any key they name); base files skip
                # only when provably filter-dead AND delta-disjoint
                base_sel = self._prune_base_under_deltas(
                    m, base_sel, delta_sel, ranges)
            df = self._mor_resolved(spark, m, base_sel, delta_sel)
        else:
            if ranges:
                stats_map = m.get("file_stats", {})
                files = [
                    f for f in files
                    if self._file_may_match(stats_map.get(f), ranges)
                ]
            df = self._read_files(spark, files, schema)
        out = self._project(df, m, include_tombstones, with_payload,
                            payload_col, seq_col)
        return out.filter(where) if where is not None else out

    def _project(self, df: DataFrame, m: dict[str, Any],
                 include_tombstones: bool, with_payload: bool,
                 payload_col: str, seq_col: str) -> DataFrame:
        """Shared read-side projection: virtual evolved columns + tombstone
        filter (see class docstring). A column materialized by
        ``materialize_evolved`` reads physically for rows at or below its
        ``mat_seq`` watermark and virtually (payload parse) for rows merged
        after — the parse cost shrinks to the hot tail.

        The payload drop honors ``with_payload`` UNCONDITIONALLY (not only
        once evolved columns exist): the output schema must not flip the
        moment the first schema_change commits — downstream consumers of
        read()/changes() are built against a stable shape."""
        evolved = m.get("evolved", {})
        if evolved and payload_col in df.columns:
            payload = F.from_json(payload_col, "map<string,string>")
            for name, spec in evolved.items():
                parsed = F.when(
                    F.col(seq_col) > F.lit(spec["add_seq"]),
                    payload[name].cast(spec["type"]),
                )
                mat_seq = spec.get("mat_seq")
                if mat_seq is not None and name in df.columns:
                    # The physical value is an OPTIMIZATION, never the source
                    # of truth: a row merged after compaction — even with
                    # last_seq <= mat_seq (late new key; winner over an
                    # older row) — carries physical NULL, so null-physical
                    # rows fall back to the always-correct payload parse
                    # (coalesce short-circuits per row in codegen: columnar
                    # read unless physical is null). Replace-mode merges
                    # null the physical on every touched row, so a stale
                    # non-null physical cannot survive; coalesce-mode merges
                    # drop the mat_seq stamps at commit (see _merge_pinned),
                    # so a kept-stale physical is never routed.
                    df = df.withColumn(
                        name,
                        F.when(F.col(seq_col) > F.lit(mat_seq), parsed)
                        .otherwise(
                            F.coalesce(F.col(name).cast(spec["type"]), parsed)
                        ),
                    )
                else:
                    df = df.withColumn(name, parsed)
        if not with_payload and payload_col in df.columns:
            df = df.drop(payload_col)
        if not include_tombstones:
            df = df.filter(~F.col("_deleted")).drop("_deleted")
        return df

    def buckets_for_keys(self, spark: SparkSession,
                         keys: list[tuple]) -> list[int]:
        """Bucket ids for a list of key tuples, computed with the SAME hash
        the writer uses (``pmod(xxhash64(keys), num_buckets)``). Hashed on
        the DRIVER for the common key types (exact python replica of the
        JVM expression, functions/xxh64.py — zero Spark jobs on the point-
        read path); falls back to a tiny local-relation job for types the
        replica doesn't cover."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        cols = self.bucket_cols or self.key_cols
        pos = {k: i for i, k in enumerate(self.key_cols)}
        vals = [tuple(k[pos[c]] for c in cols) for k in keys]
        return self._buckets_of(spark, schema, cols, vals)

    def buckets_for_values(self, spark: SparkSession,
                           values: list[tuple]) -> list[int]:
        """Bucket ids for a list of BUCKET-column value tuples (equals
        buckets_for_keys when bucket_cols is unset). The probe shape for a
        prefix-bucketed table: the caller knows the bucket columns' values
        (e.g. an LSH (band, bandhash)) but not the full keys."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        cols = self.bucket_cols or self.key_cols
        return self._buckets_of(spark, schema, cols, [tuple(v) for v in values])

    def _buckets_of(self, spark, schema, cols, vals) -> list[int]:
        from nostr_data_pipeline_spark.functions import xxh64

        type_names = [schema[c].dataType.typeName() for c in cols]
        if all(t in xxh64.SUPPORTED_TYPES for t in type_names):
            return sorted({
                xxh64.bucket_of(v, type_names, self.num_buckets) for v in vals
            })
        vdf = spark.createDataFrame(
            vals, T.StructType([schema[c] for c in cols])
        )
        return sorted({
            r["_b"] for r in vdf.select(self.bucket_expr().alias("_b")).collect()
        })

    def prune_files_by_key_prefix(self, m: dict[str, Any], files: list[str],
                                  prefixes: list[tuple]) -> list[str]:
        """Drop files whose recorded FULL-key range cannot contain any key
        starting with one of the given key-PREFIX tuples. Sound because
        tuple order is lexicographic: a key with prefix p lies in a file's
        [min, max] only if min[:len(p)] <= p <= max[:len(p)]. Files without
        stats are kept (unprunable, never wrong)."""
        stats = m.get("file_stats", {})
        pfx = [tuple(p) for p in prefixes]
        out = []
        for f in files:
            st = stats.get(f)
            if st is None:
                out.append(f)
                continue
            n = None
            keep = False
            for p in pfx:
                n = len(p)
                if tuple(st["min"][:n]) <= p <= tuple(st["max"][:n]):
                    keep = True
                    break
            if keep:
                out.append(f)
        return out

    def read_keys(self, spark: SparkSession, keys: list[tuple],
                  include_tombstones: bool = False, with_payload: bool = False,
                  payload_col: str = "extra_json",
                  seq_col: str = "last_seq") -> DataFrame:
        """Point lookup: read ONLY the files the given keys can live in, then
        filter to the exact keys. Two pruning levels: (1) bucket — keys hash
        to buckets with the writer's own JVM hash; (2) file — within those
        buckets, a file whose manifest key range (``file_stats``) excludes
        every probe key is skipped (a key lives in exactly one file: sibling
        files of a bucket hold disjoint key sets by construction of the
        pruned merge). At 100 TB a point read touches ~one file, not a
        bucket; within the file, parquet row-group min/max on the key-sorted
        layout prunes further. ``keys`` is a small driver-side list (a CLI
        lookup, a dim probe) — the predicate is an OR of per-key conjunctions
        pushed into the scan. An empty key list returns an empty frame (no
        scan).

        Under live merge-on-read deltas the predicate filters the base and
        delta rows BEFORE the LWW resolve (``_mor_resolved``), so only the
        probed keys' rows are resolved; full scans (``read``) keep the
        broadcast key-set plan."""
        if not keys:
            return self.read(
                spark, include_tombstones=include_tombstones,
                with_payload=with_payload, payload_col=payload_col,
                seq_col=seq_col, buckets=[],
            )
        buckets = self.buckets_for_keys(spark, keys)
        m = self.manifest()
        stats = m.get("file_stats", {})
        key_tuples = [tuple(k) for k in keys]
        # a None inside a probe key defeats range pruning (Python can't
        # order None against values, and Spark's null ordering differs) —
        # degrade to bucket granularity for such probes, never crash
        if any(v is None for kt in key_tuples for v in kt):
            stats = {}
        base_sel, delta_sel = (
            [f for b in buckets for f in layer.get(str(b), [])
             if (st := stats.get(f)) is None
             or any(self._key_in_ranges(kt, st) for kt in key_tuples)]
            for layer in (m["buckets"], self._deltas_of(m))
        )
        # Predicate shape matters at fan-out: a left-deep OR chain of ~1000
        # per-key conjunctions overflows the JVM analyzer stack (Catalyst
        # walks expressions recursively — observed StackOverflowError from
        # EmbeddingIndex.check's 1024-candidate lookup at sf0.1). Single-
        # column keys use one flat In (optimizer turns it into an InSet);
        # composite keys fold the conjunctions into a BALANCED or-tree so
        # analysis depth is O(log n) regardless of probe count.
        if len(self.key_cols) == 1:
            pred = F.col(self.key_cols[0]).isin([k[0] for k in key_tuples])
        else:
            terms = []
            for k in key_tuples:
                conj = None
                for col, val in zip(self.key_cols, k):
                    c = F.col(col) == F.lit(val)
                    conj = c if conj is None else (conj & c)
                terms.append(conj)
            while len(terms) > 1:
                terms = [
                    terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                    for i in range(0, len(terms), 2)
                ]
            pred = terms[0]
        df = self._mor_resolved(spark, m, base_sel, delta_sel, pred)
        return self._project(df, m, include_tombstones, with_payload,
                             payload_col, seq_col)

    def changes(self, spark: SparkSession, from_version: int,
                to_version: int | None = None,
                seq_col: str = "last_seq",
                tie_col: str = "last_event_id") -> DataFrame:
        """Change feed (CDC-out): net row-level changes between two snapshot
        versions, for downstream incremental consumers — the capability the
        reference's consumers lack entirely (they re-query full tables).

        Returns ``_change_type`` (insert | update | delete) + the key columns
        + the new row image (old image for deletes). Net-changes semantics:
        intermediate versions between the two snapshots are collapsed, which
        is exactly what a seq-guarded LWW table can answer from state alone.
        Implementation is a full-outer key join — but ONLY over FILES that
        differ between the two manifests: a file referenced by both versions
        is immutable and identical, its rows cannot have changed, and (file
        key sets being disjoint within a bucket) none of its keys can appear
        in a differing file of the same version — so shared files drop from
        BOTH sides of the join. A trickle merge that rewrote one file of a
        many-file bucket diffs one file, not the bucket. Both sides read
        tombstones so deletes are visible even before any vacuum."""
        to_version = to_version if to_version is not None else self.current_version()
        old_full = self.manifest(from_version)
        new_full = self.manifest(to_version)
        old_m, new_m = old_full["buckets"], new_full["buckets"]
        od, nd = self._deltas_of(old_full), self._deltas_of(new_full)
        if od or nd:
            # merge-on-read versions break the file-diff shortcut (a delta
            # file shares keys with base files, so differing files no longer
            # partition the changed keys): fall back to comparing the FULLY
            # RESOLVED state of only the buckets whose base-or-delta file
            # lists differ — unchanged buckets still prune.
            changed = self.changed_buckets(from_version, to_version)
            old = self.read(spark, include_tombstones=True,
                            version=from_version, buckets=changed)
            new = self.read(spark, include_tombstones=True,
                            version=to_version, buckets=changed)
        else:
            old_all = {f for fs in old_m.values() for f in fs}
            new_all = {f for fs in new_m.values() for f in fs}
            old = self.read(spark, include_tombstones=True, version=from_version,
                            files=sorted(old_all - new_all))
            new = self.read(spark, include_tombstones=True, version=to_version,
                            files=sorted(new_all - old_all))
        keys = list(self.key_cols)
        o, n = old.alias("o"), new.alias("n")
        cond = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
        j = o.join(n, cond, "full_outer")
        o_exists = F.col(f"o.{keys[0]}").isNotNull()
        n_exists = F.col(f"n.{keys[0]}").isNotNull()
        o_live = o_exists & ~F.coalesce(F.col("o._deleted"), F.lit(False))
        n_live = n_exists & ~F.coalesce(F.col("n._deleted"), F.lit(False))
        # null-safe: a row rewritten unchanged (retention rewrote its bucket)
        # with a NULL tie value must not surface as a spurious 'update'
        same_row = F.col(f"o.{seq_col}").eqNullSafe(F.col(f"n.{seq_col}")) & F.col(
            f"o.{tie_col}"
        ).eqNullSafe(F.col(f"n.{tie_col}"))
        change = (
            F.when(~o_live & n_live, "insert")
            .when(o_live & ~n_live, "delete")
            .when(o_live & n_live & ~same_row, "update")
        )
        payload = [c for c in new.columns if c not in keys and c != "_deleted"]
        out_cols = (
            [F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys]
            + [
                # new image; old image for deletes (the last state that died).
                # A column added by schema evolution after from_version has
                # no old image — null for deletes then.
                F.when(
                    change == "delete",
                    F.col(f"o.{c}") if c in old.columns else F.lit(None),
                )
                .otherwise(F.col(f"n.{c}"))
                .alias(c)
                for c in payload
            ]
        )
        return j.filter(change.isNotNull()).select(change.alias("_change_type"), *out_cols)

    def changed_buckets(self, from_version: int,
                        to_version: int | None = None) -> list[int]:
        """Buckets whose file lists differ between two manifests — the only
        buckets that can contain row-level changes (metadata-only commits
        like schema evolution change no bucket)."""
        to_version = to_version if to_version is not None else self.current_version()
        old_full = self.manifest(from_version)
        new_full = self.manifest(to_version)
        old_b, new_b = old_full["buckets"], new_full["buckets"]
        od, nd = self._deltas_of(old_full), self._deltas_of(new_full)
        osh = old_full.get("bucket_shards") or {}
        nsh = new_full.get("bucket_shards") or {}

        def base_differs(b: str) -> bool:
            # shards are immutable: an identical shard entry carried forward
            # proves identical content WITHOUT loading either shard — the
            # common case after a trickle commit is num_buckets-1 such hits
            oe = osh.get(b)
            if oe is not None and oe == nsh.get(b):
                return False
            return old_b.get(b, []) != new_b.get(b, [])

        return sorted(
            int(b)
            for b in set(old_b) | set(new_b) | set(od) | set(nd)
            if base_differs(b) or od.get(b, []) != nd.get(b, [])
        )

    def evolve_column(self, name: str, spark_type: str, add_seq: int) -> bool:
        """Declare a virtual evolved column projected from the CDC payload.
        Monotone under redelivery/out-of-order discovery: add_seq only ever
        lowers, types only ever widen. Metadata-only commit."""
        m = self.manifest()
        evolved = dict(m.get("evolved", {}))
        new_dt = _parse_type(spark_type).typeName()
        cur = evolved.get(name)
        if cur is None:
            evolved[name] = {"type": new_dt, "add_seq": int(add_seq)}
        else:
            typ = cur["type"]
            if new_dt != typ:
                if (typ, new_dt) in _WIDEN_OK:
                    typ = new_dt
                elif (new_dt, typ) not in _WIDEN_OK:
                    raise ValueError(f"illegal evolve {typ} -> {new_dt} on {name}")
            seq = min(cur["add_seq"], int(add_seq))
            if typ == cur["type"] and seq == cur["add_seq"]:
                return False
            # spec changed (add_seq lowered / type widened): any mat_seq is
            # dropped, so reads fall back to the always-correct virtual
            # projection — a stale materialization can never surface (rows in
            # (new_add_seq, old_add_seq] were materialized as NULL).
            # Re-materialize at leisure.
            evolved[name] = {"type": typ, "add_seq": seq}
        self._commit({**m, "version": m["version"] + 1, "evolved": evolved,
                      "metrics": {"schema_change": f"evolve {name} {spark_type}@{add_seq}"}},
                     touched=frozenset())
        return True

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        seq_col: str = "last_seq",
        tie_col: str = "last_event_id",
        delete_col: str = "_deleted",
        stream_id: str | None = None,
        batch_id: int | None = None,
        extra_metrics: dict[str, Any] | None = None,
        update_mode: str = "replace",
        merge_mode: str = "cow",
        source_buckets: list[int] | None = None,
    ) -> dict[str, Any]:
        """MERGE a LWW-resolved source (exactly one row per key) into the table.

        Source rows with a NULL key component are EXCLUDED (unmergeable by
        definition — they could never match a prior version, so keeping
        them would re-insert a duplicate per merge); the CDC replayer
        counts them (``rows_nullkey_dropped`` and ``_groups``).

        ``merge_mode`` picks the physical strategy per call (Iceberg's
        ``write.merge.mode`` analogue):
          - 'cow' (copy-on-write, default): join against the intersecting
            target files and rewrite them — reads stay scan-only; the write
            pays the (file-pruned) rewrite.
          - 'mor' (merge-on-read): append the batch as key-sorted DELTA
            files, touching ZERO existing data — the write is proportional
            to the batch alone (no target read, no rewrite, no join), which
            is what a trickle/CDC ingest needs at 100 TB where even a
            file-pruned rewrite rewrites target_file_rows-sized files per
            touched key range. Readers pay a per-key LWW resolve over
            base+deltas until ``compact()`` folds the deltas back into base
            files. Requires ``update_mode='replace'`` (field-level coalesce
            needs the old row at write time) and that ``seq_col``/``tie_col``
            exist in the table schema; the LWW columns are recorded in the
            manifest (``delta_lww``) so every reader resolves with the
            writer's rule. CoW and MoR commits interleave soundly: both
            define the same per-key (seq, tie)-max winner.

        Row-level semantics (equivalent to Iceberg
        ``MERGE ... WHEN MATCHED AND s.seq > t.seq THEN UPDATE/DELETE
        WHEN NOT MATCHED THEN INSERT``):
          winner = s if (s.seq, s.tie) > (t.seq, t.tie) else t
        Deleted winners persist as tombstones so replayed/late older upserts
        cannot resurrect the key.

        ``update_mode``:
          - 'replace' (default): the winning event replaces the whole row;
          - 'coalesce': non-null-wins field update — a winning event updates
            only the fields it carries, keeping the target's value where the
            source is null (the reference's profile-upsert semantics,
            /root/reference/src/nostr_pipeline/loaders/event_loader.py:60-87:
            ``if profile_data.get(field) is not None: setattr(...)``).

        Returns commit metrics (rows_inserted/updated/deleted/tombstoned/
        unchanged; 'tombstoned' = a winning delete that found no live target
        row — absent key or already-dead — so a dead bookkeeping row was
        written but no live row died).
        Idempotent per (stream_id, batch_id): a replayed batch is a no-op.

        Into a table with base files the source is evaluated twice
        (affected-bucket probe + the write); if the caller has not already
        persisted it, merge pins the conformed source itself for the
        duration — both for the double-execution cost and because a
        NON-DETERMINISTIC source (sample(), changed input files) could
        otherwise hash rows into buckets the probe never saw, writing files
        the manifest would not register. A bulk load (no base files) skips
        the probe, marks every bucket affected and evaluates the source
        exactly once, in the write, so it is never pinned.

        ``source_buckets``: optional EXACT set of bucket ids the source's
        rows hash to, when the caller already knows it (the replayer's
        lineage job counts the resolved rows per bucket anyway) — skips the
        probe's own distinct-bucket collect on tables without file stats.
        The caller must compute it with this table's ``bucket_expr()`` over
        key values that are ALREADY the table's key types (a conform-cast
        that changed a key value would move the row to a different bucket
        than the hint promised); a wrong hint always fails LOUDLY — the
        stats-path probe aborts pre-write when source rows hash outside the
        hint (they could not have joined their target files), and the
        stats-less path's post-write stray-dir check fails the commit
        (unregistered-bucket output) instead of silently dropping rows.
        """
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        if merge_mode == "mor" and update_mode != "replace":
            raise ValueError(
                "merge_mode='mor' supports update_mode='replace' only: a "
                "coalesce (non-null-wins field) merge needs the target row "
                "at write time, which merge-on-read never reads"
            )
        m = self.manifest()
        if stream_id is not None and batch_id is not None:
            last = m["commits"].get(stream_id)
            if last is not None and batch_id <= last:
                return {"skipped_replay": True, "batch_id": batch_id}

        schema = T.StructType.fromJson(m["schema"])
        src = source
        if delete_col not in src.columns:
            src = src.withColumn(delete_col, F.lit(False))
        # conform source to table schema (schema evolution: missing -> null)
        for f in schema.fields:
            if f.name not in src.columns:
                src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
        src = src.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])

        # rows with a NULL key component are unmergeable by definition: the
        # join on key equality is null-unsafe, so such a row could never
        # match its prior version and would re-insert a duplicate on EVERY
        # merge (and a null-key delta row would never resolve against base).
        # The replayer counts them in Observations on its batch, and every
        # caller gets the same documented exclusion here. The filter fuses
        # into the source scan — no extra job.
        null_key = None
        for k in self.key_cols:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        src = src.filter(~null_key)

        src = src.withColumn("_bucket", self.bucket_expr())
        if merge_mode == "mor":
            # single write pass over the source — no target read, no second
            # evaluation, so no pinning needed
            return self._merge_delta(
                spark, src, m, schema, seq_col, tie_col,
                stream_id, batch_id, extra_metrics,
            )
        if any(self._deltas_of(m).values()):
            if update_mode == "coalesce":
                # the field-fold basis would be the base row, not the
                # resolved winner (which may live in a delta) — silently
                # wrong field values; fold the deltas first
                raise ValueError(
                    "coalesce-mode merge on a table with uncompacted deltas "
                    "would fold fields against stale base rows; run "
                    "compact() first"
                )
            lww = m.get("delta_lww") or {}
            if lww and (lww["seq_col"] != seq_col or lww["tie_col"] != tie_col):
                # a CoW merge whose write-side winner rule disagrees with
                # the read-side resolve recorded for the live deltas lets a
                # row the merge 'won' be silently shadowed at read time
                raise ValueError(
                    f"table {self.path} has live MoR deltas resolved by "
                    f"{lww}; a CoW merge with (seq_col={seq_col!r}, "
                    f"tie_col={tie_col!r}) would apply a different winner "
                    f"rule — run compact() first or match the columns"
                )
        sl = source.storageLevel
        # a bulk load (no base files) skips the probe and evaluates the
        # source once, in the write: pinning it would only add a
        # store-and-reload of the whole batch
        own_cache = (not (sl.useMemory or sl.useDisk)
                     and self._n_base_files(m) > 0)
        if own_cache:
            src = src.persist()
        try:
            return self._merge_pinned(
                spark, src, m, schema, seq_col, tie_col, delete_col,
                stream_id, batch_id, extra_metrics, update_mode,
                source_buckets,
            )
        finally:
            if own_cache:
                src.unpersist()

    def _merge_delta(self, spark, src, m, schema, seq_col, tie_col,
                     stream_id, batch_id, extra_metrics) -> dict[str, Any]:
        """Merge-on-read commit: write the (already LWW-resolved) batch as
        key-sorted delta files and register them — see merge() docstring."""
        for c in (seq_col, tie_col):
            if c not in schema.fieldNames():
                raise ValueError(
                    f"merge_mode='mor' needs LWW column {c!r} in the table "
                    f"schema (readers resolve base+deltas with it)"
                )
        lww = m.get("delta_lww")
        if lww is not None and (lww["seq_col"] != seq_col
                                or lww["tie_col"] != tie_col):
            raise ValueError(
                f"table {self.path} already has MoR deltas resolved by "
                f"{lww}; a merge with (seq_col={seq_col!r}, "
                f"tie_col={tie_col!r}) would change the winner rule mid-table"
            )
        new_version = m["version"] + 1
        data_rel = f"delta-v{new_version:08d}"
        out_dir = os.path.join(self.path, data_rel)
        self._write_bucketed(src, out_dir, self.num_buckets)
        written = self._list_written_buckets(
            out_dir, data_rel, range(self.num_buckets)
        )
        # row count from the just-written files' parquet footers (driver-side
        # metadata, <= num_buckets files) — the footers are read for the
        # per-bucket lineage below anyway, and an observe() accumulator on
        # the write would run interpreted per row inside the job
        per_bucket = {
            b: sum(_parquet_num_rows(os.path.join(self.path, f)) for f in fs)
            for b, fs in written.items() if fs
        }
        n_rows = sum(per_bucket.values())
        if n_rows == 0:
            shutil.rmtree(out_dir, ignore_errors=True)
            return {"rows_written": 0, "delta_files": 0}
        deltas = {b: list(fs) for b, fs in self._deltas_of(m).items()}
        n_files = 0
        for b, fs in written.items():
            if fs:
                deltas.setdefault(b, []).extend(fs)
                n_files += len(fs)
        # File-range stats on a delta exist only to prune POINT READS against
        # the uncompacted tail; compaction discards them with the files. For
        # a trickle/streaming commit (the whole point of MoR) the stats job
        # is pure per-commit fixed cost on the ingest hot path, so it runs
        # only when the delta is big enough that read-side pruning could
        # actually matter before the next fold. Reads/merges treat a
        # stats-less file as unprunable — never wrong, just coarser.
        if n_rows >= self.delta_stats_min_rows:
            new_stats = self._collect_file_stats(spark, out_dir, data_rel, schema)
        else:
            new_stats = {}
        commits = dict(m["commits"])
        if stream_id is not None and batch_id is not None:
            commits[stream_id] = batch_id
        metrics: dict[str, Any] = {
            "rows_written": int(n_rows), "delta_files": n_files,
            "merge_mode": "mor",
            "delta_rel": data_rel,
            # uncompacted delta-commit count, read from the manifest state
            # this commit is about to publish — lets a streaming caller
            # drive its folding cadence without re-reading the manifest
            "delta_commits_pending": len(
                {f.split("/", 1)[0] for fs in deltas.values() for f in fs}
            ),
        }
        metrics.update(extra_metrics or {})
        if "lineage_rows_per_bucket" not in metrics:
            # per-bucket lineage = the footer counts computed above — a
            # delta holds exactly the resolved batch rows
            metrics["lineage_rows_per_bucket"] = dict(per_bucket)
        self._commit({
            **m,
            "version": new_version,
            "deltas": deltas,
            "delta_lww": {"seq_col": seq_col, "tie_col": tie_col},
            "file_stats": new_stats,
            "commits": commits,
            "metrics": metrics,
            "committed_at": time.time(),
        }, touched={b for b, fs in written.items() if fs})
        return metrics

    @staticmethod
    def _n_base_files(m: dict[str, Any]) -> int:
        """Live base files, without loading a shard of the sharded format."""
        b_all = m["buckets"]
        n = getattr(b_all, "n_files", None)
        return sum(len(fs) for fs in b_all.values()) if n is None else n

    def _probe_touched_files(self, spark, src, m, schema,
                             source_buckets=None):
        """ONE narrow job answering both pruning questions: which buckets the
        source touches, and — within them — which FILES the source's keys can
        intersect. The file-range relation (relpath, bucket, key min/max from
        the manifest's ``file_stats``) is tiny and broadcast; the source
        joins it on bucket equality (BroadcastHashJoin) with the tuple-range
        containment as the join filter, left-outer so bucket membership
        survives for keys matching no file. The collect is at most
        (#files + #buckets) rows after the distinct — never data-sized.

        A file with no recorded stats is conservatively touched whenever its
        bucket is. Sound pruning rests on the within-bucket invariant that
        sibling files hold DISJOINT key sets: a batch key inside an untouched
        file's range would have made that file touched, so every batch key is
        either merged against the file that holds it or is brand new —
        rewritten output and carried files can never share a key."""
        # bulk-load fast path: an EMPTY table has no files to prune and no
        # buckets to carry — the written output itself tells us which buckets
        # got rows (zero probe jobs on the first, biggest merge). The
        # per-shard counts in the manifest answer this without loading any
        # shard on the sharded format.
        b_all = m["buckets"]
        total_files = self._n_base_files(m)
        if total_files == 0:
            return list(range(self.num_buckets)), set()
        stats_map = m.get("file_stats", {})
        # UNHINTED merge into a LARGE sharded table: derive the hint from
        # the source itself — one narrow distinct over the `_bucket` column
        # the caller already computed (collect is <= num_buckets rows).
        # The extra job costs one column-pruned scan of the batch; what it
        # buys is metadata I/O proportional to the BATCH's bucket footprint
        # instead of the TABLE's file count — the last O(all files) path on
        # the merge. Small tables keep the single-job plan.
        if (source_buckets is None and isinstance(b_all, _ShardedBuckets)
                and total_files >= self.probe_prescan_min_files):
            source_buckets = [
                r[0] for r in src.select("_bucket").distinct().collect()
            ]
        # with an exact source-bucket hint, only the hinted buckets' file
        # ranges can ever join (the probe joins on bucket equality) — so
        # only THOSE shards are loaded and broadcast: a 1-key trickle merge
        # into a 10^6-file table reads one bucket's metadata, not all of it
        if source_buckets is not None:
            probe_keys = [bs for b in sorted({int(x) for x in source_buckets})
                          if (bs := str(b)) in b_all]
        else:
            probe_keys = list(b_all)
        ranges_rows = [
            (f, int(b), *st["min"], *st["max"])
            for b in probe_keys
            for f in b_all.get(b, [])
            if (st := stats_map.get(f)) is not None
        ]
        if not ranges_rows:
            # no file stats: pruning is bucket-granular — the caller's hint
            # (exact by construction: the replayer's lineage job groups the
            # resolved batch by this table's own bucket hash) replaces the
            # distinct-bucket collect job entirely
            if source_buckets is not None:
                affected = sorted(int(b) for b in source_buckets)
            else:
                affected = sorted(
                    r[0] for r in src.select("_bucket").distinct().collect()
                )
            touched = {
                f for b in affected for f in m["buckets"].get(str(b), [])
            }
            return affected, touched

        kfields = [schema[k] for k in self.key_cols]
        rschema = T.StructType(
            [T.StructField("_file", T.StringType()),
             T.StructField("_fb", T.IntegerType())]
            + [T.StructField(f"_mn{i}", f.dataType) for i, f in enumerate(kfields)]
            + [T.StructField(f"_mx{i}", f.dataType) for i, f in enumerate(kfields)]
        )
        ranges = spark.createDataFrame(ranges_rows, rschema)
        skey = F.struct(*[F.col(k) for k in self.key_cols])
        mn = F.struct(*[F.col(f"_mn{i}").alias(k) for i, k in enumerate(self.key_cols)])
        mx = F.struct(*[F.col(f"_mx{i}").alias(k) for i, k in enumerate(self.key_cols)])
        probe = (
            src.join(
                F.broadcast(ranges),
                (F.col("_bucket") == F.col("_fb")) & (skey >= mn) & (skey <= mx),
                "left_outer",
            )
            .select("_bucket", "_file")
            .distinct()
            .collect()
        )
        affected = sorted({r["_bucket"] for r in probe})
        # wrong-hint guard (stats path): the ranges relation above was
        # restricted to the hinted buckets, so a source row hashing OUTSIDE
        # the hint would never join its existing target file — the key
        # would silently re-insert next to the carried original. The
        # post-write stray-dir check cannot trip for it (the left-outer
        # probe still registers the bucket), so the violation must abort
        # HERE, before any data is written. The hint contract is exactness.
        if source_buckets is not None:
            hinted = {int(x) for x in source_buckets}
            extra = [b for b in affected if b not in hinted]
            if extra:
                raise ValueError(
                    f"source_buckets hint {sorted(hinted)} missed source "
                    f"rows hashing to buckets {extra}; a merge under a "
                    f"wrong hint would duplicate keys — aborting before "
                    f"the write (recompute the hint over the EXACT key "
                    f"values being merged, post-cast)"
                )
        touched = {r["_file"] for r in probe if r["_file"] is not None}
        for b in affected:  # stat-less files: unprunable, always rewritten
            touched.update(
                f for f in m["buckets"].get(str(b), []) if f not in stats_map
            )
        return affected, touched

    def _merge_pinned(self, spark, src, m, schema, seq_col, tie_col,
                      delete_col, stream_id, batch_id, extra_metrics,
                      update_mode, source_buckets=None) -> dict[str, Any]:
        affected, touched = self._probe_touched_files(spark, src, m, schema,
                                                      source_buckets)
        if not affected:
            return {"rows_written": 0, "buckets_rewritten": 0}

        # file-level merge pruning: read and rewrite ONLY the files whose key
        # range intersects the batch; sibling files of the same bucket carry
        # forward BY REFERENCE in the new manifest, exactly like untouched
        # buckets. This is the Spark-native analogue of the reference's
        # index-assisted row update (/root/reference/src/nostr_pipeline/
        # models.py:41-46 composite PK indexes): a 1-key batch into a
        # multi-file bucket rewrites one file, not the bucket — the
        # copy-on-write amplification ceiling drops from bucket size to
        # target_file_rows.
        tgt_files = [
            f for b in affected
            for f in m["buckets"].get(str(b), []) if f in touched
        ]
        tgt = self._read_files(spark, tgt_files, schema)

        # full outer on keys; seq-guarded winner selection.
        s = src.alias("s")
        t = tgt.alias("t")
        cond = [F.col(f"s.{k}") == F.col(f"t.{k}") for k in self.key_cols]
        joined = s.join(t, cond, "full_outer")

        s_seq, t_seq = F.col(f"s.{seq_col}"), F.col(f"t.{seq_col}")
        s_tie, t_tie = F.col(f"s.{tie_col}"), F.col(f"t.{tie_col}")
        s_exists = F.col(f"s.{self.key_cols[0]}").isNotNull()
        t_exists = F.col(f"t.{self.key_cols[0]}").isNotNull()
        s_wins = s_exists & (
            ~t_exists
            | (s_seq > t_seq)
            | ((s_seq == t_seq) & (s_tie > t_tie))
        )
        bookkeeping = set(self.key_cols) | {seq_col, tie_col, delete_col}

        def _winner(f: T.StructField) -> F.Column:
            s_val, t_val = F.col(f"s.{f.name}"), F.col(f"t.{f.name}")
            if update_mode == "coalesce" and f.name not in bookkeeping:
                upd = F.coalesce(s_val, t_val)  # non-null-wins (S6)
            else:
                upd = s_val
            return F.when(s_wins, upd).otherwise(t_val).alias(f.name)

        s_del, t_del = F.col(f"s.{delete_col}"), F.col(f"t.{delete_col}")
        merged = joined.select(
            *[_winner(f) for f in schema.fields],
            F.when(s_wins & ~t_exists & ~s_del, "insert")
            .when(s_wins & t_exists & s_del & ~t_del, "delete")
            # winning delete with no LIVE target (absent key, or re-delete of
            # a tombstone): a dead bookkeeping row is written — counted
            # separately, not as 'unchanged'/'update' (accounting honesty)
            .when(s_wins & s_del, "tombstone")
            .when(s_wins & t_exists, "update")
            .otherwise("unchanged")
            .alias("_action"),
        )

        # disposition counters in the same pass (reference keeps
        # saved/failed/duplicates counters, event_loader.py:175-189)
        from pyspark.sql import Observation
        obs = Observation(f"merge-{uuid.uuid4().hex[:8]}")
        merged = merged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.when(F.col("_action") == "insert", 1).otherwise(0)).alias("rows_inserted"),
            F.sum(F.when(F.col("_action") == "update", 1).otherwise(0)).alias("rows_updated"),
            F.sum(F.when(F.col("_action") == "delete", 1).otherwise(0)).alias("rows_deleted"),
            F.sum(F.when(F.col("_action") == "tombstone", 1).otherwise(0)).alias("rows_tombstoned"),
            F.sum(F.when(F.col("_action") == "unchanged", 1).otherwise(0)).alias("rows_unchanged"),
        )
        merged = merged.drop("_action").withColumn("_bucket", self.bucket_expr())

        new_version = m["version"] + 1
        data_rel = f"data-v{new_version:08d}"
        out_dir = os.path.join(self.path, data_rel)
        # key-sorted files (inside _write_bucketed): parquet row-group
        # min/max on (repo, path) prune point lookups, and the exact per-file
        # key bounds recorded below drive the NEXT merge's file pruning —
        # the winner set being sorted is cheap, the pruning at 100 TB bucket
        # sizes is not
        self._write_bucketed(merged, out_dir, len(affected))
        # sum() over an empty merge (bulk-load fast path with an empty
        # source) observes NULL counters — normalize to 0
        metrics = {k: (0 if v is None else v)
                   for k, v in observed_metrics(obs).items()}
        if not metrics.get("rows_written"):
            # empty source (possible only via the bulk-load fast path, which
            # skips the probe): nothing to commit — same no-op contract the
            # probed path's empty-affected early return keeps
            return {"rows_written": 0, "buckets_rewritten": 0}

        # invariant check, O(#dirs) driver-side: every written bucket dir must
        # be in the affected set, else its files would never be registered in
        # the manifest — rows silently lost. Trips only on a wrong
        # source_buckets hint or a non-deterministic unpinned source; failing
        # the commit is the correct outcome for both.
        stray = sorted(
            d for d in os.listdir(out_dir)
            if d.startswith("_bucket=")
            and int(d.split("=", 1)[1]) not in set(affected)
        )
        if stray:
            raise RuntimeError(
                f"merge wrote rows into unregistered bucket dirs {stray} at "
                f"{out_dir}: the affected-bucket set (probe or "
                f"source_buckets hint) missed source rows; aborting commit"
            )
        written = self._list_written_buckets(out_dir, data_rel, affected)
        base = m["buckets"]
        changes: dict[str, list[str]] = {}
        n_carried = 0
        for b in affected:
            bs = str(b)
            carried = [f for f in base.get(bs, []) if f not in touched]
            n_carried += len(carried)
            if carried or written[bs] or bs in base:
                changes[bs] = carried + written[bs]
        # overlay view: untouched buckets carry forward by shard reference —
        # never loaded, never re-serialized (commit cost O(touched))
        new_buckets = _overlay_buckets(base, changes)
        new_stats = self._collect_file_stats(spark, out_dir, data_rel, schema)

        commits = dict(m["commits"])
        if stream_id is not None and batch_id is not None:
            commits[stream_id] = batch_id
        metrics.update(extra_metrics or {})
        # rewritten = buckets whose file list actually changed (the bulk-load
        # fast path declares all buckets affected; count only real ones)
        metrics["buckets_rewritten"] = sum(
            1 for b in affected if written[str(b)]
        )
        metrics["files_rewritten"] = len(tgt_files)
        metrics["files_carried"] = n_carried
        manifest = {
            **m,
            "version": new_version,
            "buckets": new_buckets,
            "file_stats": new_stats,
            "commits": commits,
            "metrics": metrics,
            "committed_at": time.time(),
        }
        # a coalesce-mode merge can keep a target's stale PHYSICAL value for
        # an evolved column while advancing nothing but seq/payload — rows at
        # or below mat_seq would then read the stale physical. Drop the
        # stamps: reads fall back to the always-correct payload projection
        # until the next materialize_evolved (documented caveat there).
        evolved = m.get("evolved", {})
        if update_mode == "coalesce" and any("mat_seq" in s for s in evolved.values()):
            manifest["evolved"] = {
                n: {k: v for k, v in s.items() if k != "mat_seq"}
                for n, s in evolved.items()
            }
            metrics["materialization_invalidated"] = sorted(
                n for n, s in evolved.items() if "mat_seq" in s
            )
        self._commit(manifest, touched=set(changes))
        return metrics

    # ------------------------------------------------------- schema evolution
    def add_column(self, name: str, spark_type: str) -> bool:
        """Metadata-only column add. Returns False if column already exists
        with a compatible type (idempotent replays); raises on an
        incompatible existing type — surfacing the conflict at declaration
        time beats cast-nulls at read time."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        dt = _parse_type(spark_type)
        if name in schema.fieldNames():
            old = schema[name].dataType.typeName()
            new = dt.typeName()
            if (old != new and (old, new) not in _WIDEN_OK
                    and (new, old) not in _WIDEN_OK):
                raise ValueError(
                    f"column {name!r} already exists as {old}; add_column "
                    f"with incompatible type {new} (use widen_column for "
                    f"legal widenings)"
                )
            return False
        fields = [f for f in schema.fields if f.name != "_deleted"]
        fields.append(T.StructField(name, dt, True))
        fields.append(schema["_deleted"])
        self._commit({**m, "version": m["version"] + 1,
                      "schema": T.StructType(fields).jsonValue(),
                      "metrics": {"schema_change": f"add {name} {spark_type}"}},
                     touched=frozenset())
        return True

    def widen_column(self, name: str, spark_type: str) -> bool:
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if name not in schema.fieldNames():
            return self.add_column(name, spark_type)
        old = schema[name].dataType.typeName()
        new_dt = _parse_type(spark_type)
        if old == new_dt.typeName():
            return False
        if (old, new_dt.typeName()) not in _WIDEN_OK:
            # schema evolution is monotone: a replayed/late narrower request
            # against an already-wider column is a no-op, not an error
            if (new_dt.typeName(), old) in _WIDEN_OK:
                return False
            raise ValueError(f"illegal widen {old} -> {new_dt.typeName()} on {name}")
        fields = [
            T.StructField(name, new_dt, True) if f.name == name else f
            for f in schema.fields
        ]
        self._commit({**m, "version": m["version"] + 1,
                      "schema": T.StructType(fields).jsonValue(),
                      "metrics": {"schema_change": f"widen {name} {old}->{spark_type}"}},
                     touched=frozenset())
        return True

    # ------------------------------------------------------------- housekeeping
    def materialize_evolved(self, spark: SparkSession) -> dict[str, Any]:
        """Compaction that buys back the read-time payload parse for evolved
        columns (the trade-off named in the class docstring): rewrite every
        bucket with the evolved columns stored PHYSICALLY, and stamp each
        spec with ``mat_seq`` = the table's max last_seq at compaction time.
        Reads then parse the payload only for rows merged AFTER compaction
        (``last_seq > mat_seq``); the cold bulk reads columnar. A later
        schema event that lowers add_seq or widens the type drops the stamp
        (evolve_column), so correctness NEVER depends on when — or whether —
        this runs. Rows merged AFTER compaction — including late ones whose
        last_seq lands at or below mat_seq — carry physical NULL and are
        read via the payload parse (the stamp only routes NON-NULL physical
        values; see _project). Replace-mode merges null the physical on
        every touched row, so the stamp stays valid; a COALESCE-mode merge
        can keep a stale physical, so _merge_pinned drops the stamps on any
        coalesce merge while evolved stamps exist (reads fall back to the
        payload parse — re-run this to get columnar reads back). One
        parallel job, same repartition/partitionBy write pattern as merge."""
        m = self.manifest()
        evolved = m.get("evolved", {})
        if not evolved:
            return {"materialized_columns": 0}
        # physical columns join the schema (before _deleted, like add_column);
        # an already-physical column whose spec has since WIDENED is re-typed
        # to the spec (else a re-materialization would truncate wide values)
        schema = T.StructType.fromJson(m["schema"])
        fields = [
            T.StructField(f.name, _parse_type(evolved[f.name]["type"]), True)
            if f.name in evolved else f
            for f in schema.fields if f.name != "_deleted"
        ]
        for name, spec in evolved.items():
            if name not in schema.fieldNames():
                fields.append(T.StructField(name, _parse_type(spec["type"]), True))
        fields.append(schema["_deleted"])
        new_schema = T.StructType(fields)

        # two consumers (the mat_seq aggregation, then the rewrite) — pin
        # the read so a merge-on-read table resolves base+deltas once, not
        # twice back-to-back
        df = self.read(spark, include_tombstones=True, with_payload=True) \
            .persist()
        try:
            hi = df.agg(F.max("last_seq")).first()[0]
            if hi is None:
                return {"materialized_columns": 0}
            out = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name)
                  for f in new_schema.fields]
            ).withColumn("_bucket", self.bucket_expr())

            new_version = m["version"] + 1
            data_rel = f"data-v{new_version:08d}"
            out_dir = os.path.join(self.path, data_rel)
            self._write_bucketed(out, out_dir, self.num_buckets)
        finally:
            df.unpersist()
        new_buckets = self._list_written_buckets(
            out_dir, data_rel, range(self.num_buckets)
        )
        new_stats = self._collect_file_stats(spark, out_dir, data_rel, new_schema)
        new_evolved = {
            name: {**spec, "mat_seq": int(hi)} for name, spec in evolved.items()
        }
        # the read above already resolved any MoR deltas and this commit
        # rewrites EVERY bucket from that resolved state — carrying delta
        # entries forward would re-apply folded rows (and with the widened
        # physical schema); clear them
        self._commit({**m, "version": new_version,
                      "schema": new_schema.jsonValue(),
                      "buckets": new_buckets,
                      "deltas": {},
                      "delta_lww": None,
                      "file_stats": new_stats,
                      "evolved": new_evolved,
                      "metrics": {"materialize_evolved": sorted(evolved),
                                  "mat_seq": int(hi)}},
                     touched=set(new_buckets))
        return {"materialized_columns": len(evolved), "mat_seq": int(hi)}

    def delete_where(self, spark: SparkSession, condition: str) -> dict[str, Any]:
        """Row-level retention delete (the reference's cleanup_old_data,
        /root/reference/src/nostr_pipeline/loaders/event_loader.py:268-297):
        physically remove rows matching the SQL condition, rewriting only the
        buckets that contain matches. Unlike merge-deletes these leave no
        tombstone — retention is a hard purge.

        Exactly TWO jobs, no per-bucket Python loop (round-1 verdict #2):
        1. a narrow probe — ``filter(condition).groupBy(bucket).count()`` —
           yields both the affected-bucket set and the exact per-bucket
           removal counts (the scan reads only the columns the condition and
           the bucket hash need; collect is <= num_buckets rows);
        2. one parallel rewrite of ONLY the affected buckets, using the same
           ``repartition(n, _bucket) + sortWithinPartitions + partitionBy``
           pattern merge uses — every bucket writes concurrently, files stay
           key-sorted for row-group pruning.
        Rows where the condition evaluates to NULL are KEPT (only
        condition=TRUE rows are purged). The condition sees PHYSICAL
        columns (retention predicates are on updated_ts/last_seq/keys);
        virtual evolved columns are a read-time projection and cannot be
        referenced here unless materialize_evolved has made them physical.

        File pruning (both phases): simple conjunctive ranges extracted
        from the condition (``_extract_col_ranges``) are checked against the
        manifest's per-file bounds — key ranges plus the non-key
        ``stats_cols`` bounds (updated_ts/last_seq by default). A file whose
        recorded ranges cannot contain a matching row is neither probed nor
        rewritten: it carries forward BY REFERENCE, exactly like merge's
        file pruning. Under the trickle-CDC write pattern this is what
        makes retention cheap — recently-rewritten (hot) files carry recent
        updated_ts ranges and drop out of an "updated_ts < cutoff" purge
        entirely. Sound because a pruned file contains no TRUE-condition
        row (its rows are all kept verbatim) and kept rows of rewritten
        files remain key-disjoint from carried siblings."""
        m = self.manifest()
        if any(self._deltas_of(m).values()):
            # retention must evaluate the condition on RESOLVED rows and
            # purge from one layout (a delta row matching the condition must
            # not outlive the purge): fold the deltas first, then delete on
            # the pure-CoW layout below
            self.fold_deltas(spark)
            m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        all_files = [f for fs in m["buckets"].values() for f in fs]
        if not all_files:
            return {"rows_deleted": 0, "buckets_rewritten": 0}
        ranges = self._extract_col_ranges(spark, condition, schema)
        stats_map = m.get("file_stats", {})
        cand = {
            f for f in all_files
            if self._file_may_match(stats_map.get(f), ranges)
        }
        if not cand:
            return {"rows_deleted": 0, "buckets_rewritten": 0,
                    "files_scanned": 0, "files_carried": len(all_files)}
        df_all = self._read_files(spark, sorted(cand), schema)
        per_bucket = {
            int(r["_b"]): r["n"]
            for r in df_all.filter(condition)
            .groupBy(self.bucket_expr().alias("_b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not per_bucket:
            return {"rows_deleted": 0, "buckets_rewritten": 0,
                    "files_scanned": len(cand),
                    "files_carried": len(all_files) - len(cand)}
        affected = sorted(per_bucket)

        new_version = m["version"] + 1
        data_rel = f"data-v{new_version:08d}"
        out_dir = os.path.join(self.path, data_rel)
        files = [
            f for b in affected
            for f in m["buckets"].get(str(b), []) if f in cand
        ]
        kept = (
            self._read_files(spark, files, schema)
            .filter(F.coalesce(~F.expr(condition), F.lit(True)))
            .withColumn("_bucket", self.bucket_expr())
        )
        self._write_bucketed(kept, out_dir, len(affected))

        written = self._list_written_buckets(out_dir, data_rel, affected)
        base = m["buckets"]
        changes: dict[str, list[str]] = {}
        n_carried = 0
        for b in affected:
            bs = str(b)
            carried = [f for f in base.get(bs, []) if f not in cand]
            n_carried += len(carried)
            changes[bs] = carried + written[bs]
        new_buckets = _overlay_buckets(base, changes)
        new_stats = self._collect_file_stats(spark, out_dir, data_rel, schema)
        removed_total = int(sum(per_bucket.values()))
        metrics = {"retention_delete": condition,
                   "rows_deleted": removed_total,
                   "buckets_rewritten": len(affected),
                   "files_scanned": len(cand),
                   "files_rewritten": len(files),
                   # carried = everything not rewritten: pruned files of
                   # non-affected buckets, scanned-but-clean files of
                   # non-affected buckets, and the pruned siblings inside
                   # affected buckets (n_carried is a subset, kept for the
                   # per-bucket trace)
                   "files_carried": len(all_files) - len(files),
                   "files_carried_in_rewritten_buckets": n_carried}
        self._commit({**m, "version": new_version, "buckets": new_buckets,
                      "file_stats": new_stats,
                      "metrics": metrics}, touched=set(changes))
        return dict(metrics)

    def vacuum_tombstones(self, spark: SparkSession) -> dict[str, Any]:
        """Purge tombstone rows (safe once no older-seq traffic can arrive)."""
        return self.delete_where(spark, "_deleted")

    def vacuum(self, keep_versions: int = 2) -> int:
        """Delete data FILES not referenced by the newest ``keep_versions``
        manifests (file-granular: with file-level merge pruning, a carried
        file keeps its old data dir alive indefinitely — dir-granular
        reclamation would leak every dead sibling in that dir forever under
        trickle workloads). Empty bucket/data dirs are removed after their
        files. Returns the number of files removed."""
        cur = self.current_version()
        keep: set[str] = set()
        keep_shards: set[str] = set()
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            try:
                mf = self.manifest(v)
                # the bucket view loads shards lazily — a version whose
                # shards were already reclaimed (keep_versions RAISED after
                # a prior vacuum) raises mid-iteration; that version is
                # unreadable, so its exclusive files are unreachable and
                # skipping it is correct (partial keep adds are harmless:
                # keeping more is always safe)
                for fs in mf["buckets"].values():
                    keep.update(fs)
                for fs in self._deltas_of(mf).values():
                    keep.update(fs)
            except (FileNotFoundError, ValueError):
                continue
            keep_shards.update(
                e["path"] for e in mf.get("bucket_shards", {}).values()
            )
        removed = 0
        # manifest shards age out with the versions that reference them —
        # a time-travel read past the keep window raises the same clear
        # "vacuumed" error its data files would. Counted separately: the
        # return value is DATA files per the documented contract.
        sdir = os.path.join(self.path, "shards")
        if os.path.isdir(sdir):
            for fn in sorted(os.listdir(sdir)):
                rel = f"shards/{fn}"
                if fn.endswith(".json") and rel not in keep_shards:
                    os.unlink(os.path.join(sdir, fn))
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith(("data-v", "delta-v")):
                continue
            droot = os.path.join(self.path, entry)
            for root, _dirs, fns in os.walk(droot):
                for fn in fns:
                    rel = os.path.relpath(os.path.join(root, fn), self.path)
                    if fn.endswith(".parquet") and rel not in keep:
                        os.unlink(os.path.join(root, fn))
                        # Hadoop local-fs sidecar checksum (.part-x.parquet.crc)
                        # dies with its parquet, or it leaks one orphan per
                        # vacuumed file in buckets that still hold live files
                        crc = os.path.join(root, f".{fn}.crc")
                        if os.path.exists(crc):
                            os.unlink(crc)
                        removed += 1
            # bottom-up: a dir with no parquet AND no surviving subdirs sheds
            # its write remnants (_SUCCESS, stray .crc) and is removed; any
            # dir still holding carried files — or a data root whose bucket
            # dirs survived — is left fully intact
            for root, dirs, fns in os.walk(droot, topdown=False):
                subdirs_alive = any(
                    os.path.isdir(os.path.join(root, d)) for d in dirs
                )
                if subdirs_alive or any(fn.endswith(".parquet") for fn in fns):
                    continue
                for fn in fns:
                    try:
                        os.unlink(os.path.join(root, fn))
                    except OSError:
                        pass
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return removed

    def compact(self, spark: SparkSession, min_files: int = 2) -> dict[str, Any]:
        """Maintenance rewrite of every bucket holding >= ``min_files``
        files back into fresh key-sorted ``target_file_rows``-split files.
        File-level merge pruning trades write amplification for file-count
        growth (each trickle merge can add a file); compaction pays that
        debt back in one parallel job, off the ingest path — the LSM
        analogue: merges are level-0 appends, compact() is the level merge.
        Point-read/merge pruning quality is restored too (fresh files have
        tight disjoint key ranges). No-op commit-free when nothing
        qualifies."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        deltas = self._deltas_of(m)
        # a bucket qualifies on total (base + delta) file count, and ANY
        # bucket holding deltas qualifies unconditionally — folding deltas
        # back into resolved base files is compaction's whole job for a
        # merge-on-read table (the LSM level merge). File counts come from
        # the shard map's per-bucket 'n' when sharded, so qualification
        # (fold_deltas runs it on the streaming periodic-fold path) loads
        # ZERO shards for unqualified buckets.
        shard_map = m.get("bucket_shards") or {}

        def _n_base(b: str) -> int:
            e = shard_map.get(b)
            return e["n"] if e is not None else len(m["buckets"].get(b, []))

        affected = sorted(
            int(b)
            for b in set(m["buckets"]) | set(deltas)
            if deltas.get(b)
            or _n_base(b) + len(deltas.get(b, [])) >= min_files
        )
        if not affected:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
        files = [
            f for b in affected
            for f in m["buckets"].get(str(b), []) + deltas.get(str(b), [])
        ]
        df = self._read_files(spark, files, schema)
        folding = any(deltas.get(str(b)) for b in affected)
        if folding:
            rs, rt = self._resolution_cols(m)
            df = lww_reduce(df, self.key_cols, rs, rt)
        df = df.withColumn("_bucket", self.bucket_expr())
        new_version = m["version"] + 1
        data_rel = f"data-v{new_version:08d}"
        out_dir = os.path.join(self.path, data_rel)
        self._write_bucketed(df, out_dir, len(affected))
        written = self._list_written_buckets(out_dir, data_rel, affected)
        base = m["buckets"]
        new_buckets = _overlay_buckets(base, written)
        new_deltas = {
            b: fs for b, fs in deltas.items() if int(b) not in set(affected)
        }
        new_stats = self._collect_file_stats(spark, out_dir, data_rel, schema)
        files_after = sum(len(written[str(b)]) for b in affected)
        n_folded = sum(len(deltas.get(str(b), [])) for b in affected)
        self._commit({**m, "version": new_version, "buckets": new_buckets,
                      "deltas": new_deltas,
                      # winner rule is scoped to LIVE deltas: once all are
                      # folded, a later MoR merge may pick fresh LWW columns
                      "delta_lww": (m.get("delta_lww")
                                    if any(new_deltas.values()) else None),
                      "file_stats": new_stats,
                      "metrics": {"compact": True,
                                  "buckets_compacted": len(affected),
                                  "files_before": len(files),
                                  "files_after": files_after,
                                  "deltas_folded": n_folded}},
                     touched=set(written))
        return {"buckets_compacted": len(affected),
                "files_before": len(files), "files_after": files_after,
                "deltas_folded": n_folded}

    def fold_deltas(self, spark: SparkSession) -> dict[str, Any]:
        """Fold merge-on-read deltas back into base files WITHOUT general
        file compaction: only delta-holding buckets rewrite (a ``min_files``
        beyond any real file count keeps every purely-CoW bucket out of the
        job). The periodic-folding primitive used by
        ``replay_log(compact_every=)``, ``StreamingReplayer``, and
        ``delete_where``; no-op on a table without deltas."""
        return self.compact(spark, min_files=2**62)

    def rebucket(self, spark: SparkSession, num_buckets: int,
                 target_file_rows: int | None = None) -> dict[str, Any]:
        """Rewrite the table into a new bucket count (one parallel job; a
        normal snapshot commit — readers of older versions are unaffected,
        time-travel still works until vacuum).

        Sizing rule: buckets are the unit of merge-write parallelism and the
        ceiling of a single task's rewrite volume; target ~1-4 GB of live
        data per bucket (so a bucket rewrite is one healthy task) and rely on
        ``target_file_rows`` for the within-bucket rewrite amplification —
        file pruning caps a trickle merge's I/O at ~file size regardless of
        bucket size. Grow buckets when live-data-per-bucket crosses that
        band: at 100 TB live, num_buckets in the tens of thousands. Since
        rebucketing is a full rewrite, grow in large steps (e.g. 8x), not
        incrementally. ``target_file_rows``, if given, becomes the table's
        new file-split setting (persisted)."""
        m = self.manifest()
        n = int(num_buckets)
        if n < 1:
            raise ValueError(f"num_buckets must be >= 1, got {n}")
        schema = T.StructType.fromJson(m["schema"])
        deltas = self._deltas_of(m)
        files = [f for fs in m["buckets"].values() for f in fs] + [
            f for fs in deltas.values() for f in fs
        ]
        df = self._read_files(spark, files, schema)
        if any(deltas.values()):
            # delta entries are keyed by the OLD bucket ids — carrying them
            # across a bucket-count change would attach them to the wrong
            # buckets; fold them into the rewrite instead (resolved here,
            # cleared in the commit below)
            rs, rt = self._resolution_cols(m)
            df = lww_reduce(df, self.key_cols, rs, rt)
        old_n, old_tfr = self.num_buckets, self.target_file_rows
        self.num_buckets = n
        if target_file_rows is not None:
            self.target_file_rows = int(target_file_rows)
        try:
            out = df.withColumn("_bucket", self.bucket_expr())
            new_version = m["version"] + 1
            data_rel = f"data-v{new_version:08d}"
            out_dir = os.path.join(self.path, data_rel)
            self._write_bucketed(out, out_dir, n)
            new_buckets = self._list_written_buckets(out_dir, data_rel, range(n))
            new_stats = self._collect_file_stats(spark, out_dir, data_rel, schema)
            self._commit({**m, "version": new_version, "num_buckets": n,
                          "target_file_rows": self.target_file_rows,
                          "buckets": new_buckets,
                          "deltas": {},
                          "delta_lww": None,
                          "file_stats": new_stats,
                          "metrics": {"rebucket": f"{old_n}->{n}"}},
                         touched=set(new_buckets))
        except BaseException:
            # failed rewrite must not leave the handle disagreeing with disk
            self.num_buckets, self.target_file_rows = old_n, old_tfr
            raise
        return {"num_buckets": n, "previous": old_n,
                "files": sum(len(v) for v in new_buckets.values())}


def observed_metrics(obs) -> dict[str, Any]:
    """The metrics of a ``pyspark.sql.Observation``, filled by the first job
    that evaluated it. AQE replaces a query stage that produced no rows with
    an empty relation, and an Observation inside that stage goes with it:
    Spark then completes the Observation with an empty row without a
    schema, which ``Observation.get`` cannot convert. Such an Observation
    saw no rows, so this returns ``{}``."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def _parquet_num_rows(path: str) -> int:
    """Row count from a parquet footer (driver-side metadata read, no job)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _parquet_key_bounds(path: str, cols: tuple[str, ...]) -> tuple | None:
    """Conservative (min_tuple, max_tuple) over ``cols`` from a parquet
    footer, or None when any row group lacks usable statistics for any of
    them. Per-column bounds only WIDEN the true lexicographic tuple interval
    (the true min tuple is >= the tuple of per-column minima), so the result
    is safe for disjointness tests — it can only under-prune. Parquet
    truncates long binary stats but keeps them valid bounds (a truncated min
    is a prefix <= the true min; writers bump a truncated max above the true
    max). Driver-side metadata read, no Spark job."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = md.schema.names
    try:
        idxs = [names.index(c) for c in cols]
    except ValueError:
        return None
    los: list = [None] * len(cols)
    his: list = [None] * len(cols)
    for rg in range(md.num_row_groups):
        for j, idx in enumerate(idxs):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            los[j] = mn if los[j] is None else min(los[j], mn)
            his[j] = mx if his[j] is None else max(his[j], mx)
    if any(v is None for v in los):
        return None
    return tuple(los), tuple(his)


def _parse_byte_size(raw: Any) -> int:
    """Spark size-conf string -> bytes ('10485760', '10m', '10MB', '1g',
    '-1'). Unknown suffixes raise — a silently misparsed ceiling would
    quietly flip a broadcast decision."""
    s = str(raw).strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
             "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}
    i = len(s)
    while i > 0 and not (s[i - 1].isdigit() or s[i - 1] == "-"):
        i -= 1
    num, suffix = s[:i], s[i:]
    if suffix and suffix not in units:
        raise ValueError(f"unparsable byte size {raw!r}")
    return int(num) * units.get(suffix, 1)


def _parse_type(name: str) -> T.DataType:
    mapping = {
        "int": T.IntegerType(), "integer": T.IntegerType(),
        "long": T.LongType(), "bigint": T.LongType(),
        "double": T.DoubleType(), "float": T.FloatType(),
        "string": T.StringType(), "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(),
    }
    if name not in mapping:
        raise ValueError(f"unsupported type {name}")
    return mapping[name]
