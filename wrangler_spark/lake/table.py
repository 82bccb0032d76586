"""Snapshot-versioned lake table (mini-Iceberg) on parquet.

The target architecture calls for Iceberg `MERGE INTO` with snapshot
properties for epoch fencing. No Iceberg runtime ships in this
environment, so this module implements the same contract natively:

- data files: hash-bucketed parquet (`data/b=<k>/…`), bucket =
  pmod(xxhash64(key_cols), num_buckets). A MERGE touches only the
  buckets containing changed keys — copy-on-write at bucket
  granularity, which is how the cost stays bounded at 100 TB (a 1%
  key-touch epoch rewrites ~1% of buckets, not the table).
- metadata: `_meta/version-N.json` snapshots (schema, per-bucket file
  lists, properties, committed epoch set) + `_meta/VERSION` pointer;
  on disk each snapshot is a DIFF against its parent (touched buckets
  + sidecar-pointer adds/drops) with a full checkpoint every
  `metadata.checkpoint-interval` versions — per-commit metadata writes
  are O(epoch), not O(table files) (Delta _delta_log + checkpoint
  model; in-memory snapshots are always fully hydrated),
  both updated by atomic rename. Single-writer (the replayer), so no
  CAS is needed; snapshot isolation for readers falls out of readers
  pinning a version file.
- schema evolution: add-column / rename-with-read-alias / widen-type
  merges update the snapshot schema (Iceberg `ALTER TABLE` equivalent,
  SURVEY.md §4 item 5); renamed columns read old files through a
  per-row alias coalesce (field-id-mapping equivalent).
- exactly-once: `committed_epochs` in the snapshot fences replayed
  epochs — re-merging an already-committed epoch is a no-op, so replay
  from any checkpoint converges to the same state.
- time travel: `load(path, version=N)` pins any retained snapshot;
  `expire_snapshots(keep_last)` deletes superseded data files
  (Iceberg expire_snapshots), bounding storage growth under
  copy-on-write merges.
- merge-on-read (Iceberg v2 equality-delete equivalent): a merge in
  `mode="mor"` writes only the epoch's LWW winner rows as bucketed
  DELTA files — no base bucket is read or rewritten, so merge I/O is
  proportional to the epoch, not to the touched buckets. Readers
  resolve base-vs-delta per key by highest `__seq` (base wins ties —
  the same strict `s.seq > t.seq` guard as the copy-on-write merge);
  while the pending-delta volume is small the resolution is a
  broadcast join that never shuffles the base payload. A batch of at
  most `merge._LOCAL_MOR_MAX_EVENTS` rows and `_LOCAL_MOR_MAX_BYTES`
  (as collected, after the recipe) commits from the driver: one
  bounded Arrow collect of the aligned batch, the LWW in Arrow
  (`lake.resolve.lww_winners`) and one pyarrow file per bucket, so the
  epoch costs one Spark job instead of a shuffle per stage; larger
  batches keep the Spark plan.
  `compact()` folds pending deltas back into the base buckets,
  bounding both read amplification and delta file count. While the
  target buckets' files take at most `_LOCAL_COMPACT_MAX_BYTES` on
  disk it runs on the driver with zero Spark jobs: each bucket
  resolves in Arrow on its own thread (`lake.resolve.resolve_files`)
  and pyarrow writes it back; larger rewrites and z-order keep the
  Spark plan. This is the shape that holds at 10^10 events: sparse
  epochs (0.1% key touch spread over every bucket) would force
  copy-on-write to rewrite the whole table; merge-on-read writes 0.1%
  and compacts on a cadence.
- codec: every data file (base, delta, change and compaction files,
  from Spark and from pyarrow) is zstd (`_CODEC`), whatever the
  session's parquet codec, as Iceberg writes by default.
- file-level stats + data skipping (Iceberg manifest stats): every
  commit reads the new parquet files' FOOTERS (serially on the driver
  for small commits, as a Spark job over the file list for large ones —
  the Iceberg collect-stats-in-tasks model, so a 10^4-file commit costs
  one task wave, not minutes of serial driver IO) and records per-file
  [min, max, null_count] for the tracked columns in the snapshot. `scan(filters)` prunes from that metadata before
  Spark lists a single file: point lookups pinning the full key hash to
  one bucket; range/equality conjuncts drop files whose stats provably
  exclude them. At millions of files this is the difference between
  planning from the manifest and opening 10^6 footers per query. The
  predicate is always ALSO applied as a real Spark filter, so stats can
  only remove work, never change answers.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_META = "_meta"
_DATA = "data"


def _ref_meta(path: str, branch: str | None) -> str:
    """Metadata directory for a ref: main lives in `_meta/`, a branch in
    `_meta/branch-<name>/`. Branch snapshots reference the SAME data
    files by relpath (Iceberg refs over one file store); only the
    version chain is namespaced."""
    if not branch or branch == "main":
        return os.path.join(path, _META)
    return os.path.join(path, _META, f"branch-{branch}")


def _current_version(mdir: str) -> int:
    """The version a ref's `VERSION` pointer names (`mdir` from
    `_ref_meta`)."""
    with open(os.path.join(mdir, "VERSION")) as f:
        return int(f.read().strip())


def _load_stats(path: str, snap: dict) -> dict:
    """rel -> per-file footer stats, merged from the snapshot's sidecar
    manifests (plus legacy inline stats on pre-sidecar snapshots). Pure
    JSON, no session: the batch `lake` source plans with it too."""
    out = dict(snap.get("stats") or {})
    for m in snap.get("stats_manifests") or []:
        try:
            with open(os.path.join(path, m["path"])) as f:
                out.update(json.load(f))
        except OSError:
            continue  # expired sidecar: pruning degrades, never errors
    return out

# A merge-on-read read resolves its pending deltas by broadcasting the
# delta winners while the pending delta files take at most this many
# bytes on disk (the common case under any sane compaction cadence);
# past it, `_resolved` runs the same overlay plan without the hints.
_MOR_BROADCAST_MAX_BYTES = 64 << 20

# file-stats collection cap: one footer read per file regardless of
# column count, but the snapshot JSON (the manifest) stores one
# [min, max, nulls] triple per (file, column) — cap the tracked columns
# so manifest size stays bounded at high file counts
_STATS_MAX_COLS = 16
_STATS_MAX_STRLEN = 256


def _stat_norm(v):
    """Normalize a stats/filter value into the JSON-storable, totally
    ordered domain used for pruning: numbers stay numbers, strings stay
    strings, date/datetime become ISO-8601 strings (lexicographic order
    == chronological order within one kind). Anything else → None
    (no stats recorded / no pruning — always conservative)."""
    if isinstance(v, bool):
        return None  # bool min/max never prunes anything useful
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        # pyarrow footer stats for Spark timestamp columns come back
        # tz-aware UTC; filter values are typically naive. Normalize
        # BOTH to naive-UTC isoformat so the lexicographic compare is
        # chronological — an unstripped '+00:00' suffix sorts after an
        # equal naive prefix and silently mis-prunes.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _stat_comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return True
    return isinstance(a, str) and isinstance(b, str)


_STATS_TYPES = (
    T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _snap_stats_cols(snap: dict) -> list[str]:
    """Columns tracked in per-file min/max stats for this snapshot:
    `stats.cols` property if set, else key columns + primitive payload
    columns up to the cap (keys first — they drive point lookups)."""
    prop = snap.get("properties", {}).get("stats.cols")
    if prop is not None:
        names = prop if isinstance(prop, list) else str(prop).split(",")
        return [c.strip() for c in names if c.strip()][:_STATS_MAX_COLS]
    cols = list(snap["key_cols"])
    schema = T.StructType.fromJson(snap["schema"])
    lower = {c.lower() for c in cols}
    for f_ in schema.fields:
        if len(cols) >= _STATS_MAX_COLS:
            break
        if f_.name.lower() not in lower and isinstance(f_.dataType, _STATS_TYPES):
            cols.append(f_.name)
    return cols


def _footer_stats_one(full_path: str, want: frozenset) -> dict | None:
    """Stats for ONE parquet file's footer: {col_lower: [min, max,
    nulls]}. Module-level and closure-free so the distributed path can
    ship it to executor tasks by reference."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(full_path)
        md = pf.metadata
    except Exception:
        return None
    per: dict[str, list] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        if name.lower() not in want:
            continue
        mn = mx = None
        nulls: int | None = 0
        usable = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                usable = False
                break
            a, b = _stat_norm(st.min), _stat_norm(st.max)
            if a is None or b is None or not _stat_comparable(a, b):
                usable = False
                break
            mn = a if mn is None or a < mn else mn
            mx = b if mx is None or b > mx else mx
            if st.has_null_count and nulls is not None:
                nulls += st.null_count
            else:
                nulls = None
        if not usable or mn is None:
            continue
        # bound stored string length: a PREFIX of min is still a valid
        # lower bound; a prefix of max is NOT an upper bound → drop it
        if isinstance(mn, str) and len(mn) > _STATS_MAX_STRLEN:
            mn = mn[:_STATS_MAX_STRLEN]
        if isinstance(mx, str) and len(mx) > _STATS_MAX_STRLEN:
            mx = None
        per[name.lower()] = [mn, mx, nulls]
    # reserved key (never a filter column, ignored by pruning lookups):
    # per-file row count for the metadata tables (Iceberg
    # files.record_count) — free, the footer is already open
    per["__nrows"] = md.num_rows
    # exact tombstone count, so COUNT(*) is answerable from metadata
    # alone (Delta/Iceberg serve SELECT COUNT(*) without touching data
    # files). Row groups whose boolean stats pin __deleted to all-false
    # (the common insert-epoch case) or all-true cost nothing; only a
    # MIXED group forces one column-pruned read of the boolean column.
    # A file without __deleted (pre-merge layout) has no tombstones.
    ndel = 0
    di = next(
        (i for i in range(md.num_columns) if md.schema.column(i).name == "__deleted"),
        None,
    )
    if di is not None:
        mixed = False
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(di)
            st = col.statistics
            if st is not None and st.has_min_max and st.max is False:
                continue  # all live (NULL __deleted coalesces to live)
            if (
                st is not None
                and st.has_min_max
                and st.min is True
                and st.has_null_count
                and st.null_count == 0
            ):
                ndel += md.row_group(rg).num_rows
                continue
            mixed = True
            break
        if mixed:
            try:
                import pyarrow.compute as pc

                flags = pf.read(columns=["__deleted"]).column("__deleted")
                s = pc.sum(flags)  # nulls skipped = live
                ndel = int(s.as_py() or 0)
            except Exception:
                ndel = None  # unknown → metadata count falls back
    per["__ndel"] = ndel
    return per


# below this many fresh files the footer reads run serially on the
# driver (measured fastest on local FS: footer parse is CPU-bound and
# sub-ms, so threads only add GIL contention); at or above it they run
# as a Spark job so metadata IO scales with the cluster, not the
# driver — the Iceberg model of collecting stats in tasks. Measured:
# the job costs ~5-6 s FLAT from 100 to 5000 files while the serial
# loop grows linearly (0.07 s → 1.9 s at 5000 locally; on object
# storage with ~100 ms footer latency, 10^4 serial reads would be
# ~20 min vs one short task wave). Tables on high-latency storage can
# lower the threshold via the `stats.distribute-min` table property.
_STATS_DISTRIBUTE_MIN = 256


def _collect_file_stats(
    path: str, snap: dict, rels: list[str], spark: SparkSession | None = None
) -> dict[str, dict]:
    """Per-file [min, max, null_count] per tracked column, read from the
    parquet FOOTERS only (the Iceberg manifest model: stats ride with
    the table metadata so scan planning never opens data files).
    Missing/unusable stats are simply absent — pruning treats absence
    as 'may match' (always conservative).

    Small commits read footers serially on the driver; commits above
    `_STATS_DISTRIBUTE_MIN` files run the reads as a Spark job over the
    file list, so commit-time metadata cost stays flat as the
    per-commit file count grows 100×."""
    want = {c.lower() for c in _snap_stats_cols(snap)}
    # old (pre-rename) files carry the column under its alias name:
    # collect those too so renamed columns stay prunable through aliases
    for cur, olds in snap.get("aliases", {}).items():
        if cur in want:
            want.update(olds)
    want = frozenset(want)

    thresh = int(
        snap.get("properties", {}).get("stats.distribute-min", _STATS_DISTRIBUTE_MIN)
    )
    if spark is not None and len(rels) >= thresh:
        base, w = path, want
        pairs = (
            spark.sparkContext
            .parallelize(rels, min(len(rels), 256))
            .map(lambda rel: (rel, _footer_stats_one(os.path.join(base, rel), w)))
            .collect()
        )
        return {rel: per for rel, per in pairs if per}

    out: dict[str, dict] = {}
    for rel in rels:
        per = _footer_stats_one(os.path.join(path, rel), want)
        if per:
            out[rel] = per
    return out


def _write_stats_manifest(path: str, version: int, stats: dict) -> str:
    """Persist one commit's file stats as an IMMUTABLE sidecar (the
    Iceberg manifest-file model): the snapshot carries only a pointer,
    so the per-commit metadata WRITE is O(this commit's files), not
    O(table files). Unique name for the same CAS-loser reason as bloom
    sidecars (write_manifest); expire_snapshots collects orphans."""
    rel = os.path.join(_META, f"stats-v{version:06d}-{uuid.uuid4().hex[:8]}.json")
    _atomic_write(os.path.join(path, rel), json.dumps(stats))
    return rel


def _refresh_stats(path: str, snap: dict, spark: SparkSession | None = None) -> None:
    """Update snap['stats_manifests'] in place: collect footer stats
    for newly referenced files into ONE new sidecar, keep pointers to
    prior sidecars while any of their files is still referenced, and
    drop pointers whose files are all dead. Legacy inline snap['stats']
    (pre-sidecar snapshots) migrates into the new sidecar once.

    Why sidecars: the snapshot JSON is rewritten EVERY commit — inline
    per-file stats made that write O(table files) (at 10^6 files,
    hundreds of MB of driver JSON per epoch). With pointers the
    snapshot stays O(file COUNT) and the stats bytes are written once,
    when the files are born."""
    if str(snap.get("properties", {}).get("stats.enabled", "true")).lower() == "false":
        snap.pop("stats", None)
        snap.pop("stats_manifests", None)
        return
    live: set[str] = set()
    for rels in snap["files"].values():
        live.update(rels)
    for rels in snap.get("deltas", {}).values():
        live.update(rels)
    manifests = [
        m
        for m in snap.get("stats_manifests", [])
        if any(r in live for r in m["files"])
    ]
    covered = {r for m in manifests for r in m["files"]}
    # one-time migration of legacy inline stats (still-live files only)
    legacy = snap.pop("stats", None) or {}
    new_stats = {r: s for r, s in legacy.items() if r in live}
    fresh = [r for r in live if r not in covered and r not in new_stats]
    if fresh:
        new_stats.update(_collect_file_stats(path, snap, fresh, spark=spark))
    if new_stats:
        rel = _write_stats_manifest(path, snap["version"], new_stats)
        manifests.append({"path": rel, "files": sorted(new_stats)})
    if manifests or "stats_manifests" in snap:
        snap["stats_manifests"] = manifests


_SCAN_OPS = ("=", "<", "<=", ">", ">=", "in")

# Every lake data file (base, delta, change and compaction files, from
# Spark and from pyarrow) is written with this codec, whatever the
# session's `spark.sql.parquet.compression.codec` says. Each compaction
# rewrites its buckets whole, so the codec sets most of the bytes a
# merge-on-read table writes: a compacted 49.6k-row table took 4.40 MB
# as zstd against 7.72 MB as snappy (pyarrow). Iceberg's default too.
_CODEC = "zstd"

# `compact()` resolves and rewrites its target buckets on the driver, in
# Arrow and with zero Spark jobs, while their base and pending delta
# files take at most this many bytes on disk; larger rewrites keep the
# Spark plan. Resolved Arrow tables measured 3.7x their zstd files
# (2.0x snappy): 15.7 MB of Arrow for 49.6k rows, so the bound holds
# about 120 MB of Arrow on the driver.
_LOCAL_COMPACT_MAX_BYTES = 32 << 20


def _disk_bytes(files: list[str]) -> int:
    """On-disk bytes of `files` (missing ones count 0): zero Spark jobs."""
    total = 0
    for f_ in files:
        try:
            total += os.path.getsize(f_)
        except OSError:
            pass
    return total


def _thread_map(fn, items: list) -> list:
    """`fn` over `items` on min(len(items), nproc) threads, in order.
    pyarrow's parquet reads, sorts and writes release the GIL, so
    per-bucket Arrow work runs in parallel."""
    if len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(len(items), len(os.sched_getaffinity(0)))) as ex:
        return list(ex.map(fn, items))


# numeric widening lattice for schema evolution (set-type widen →
# ALTER TABLE ... TYPE; reference column/SetType.java:126-176)
_WIDEN_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot version first (Iceberg
    optimistic-concurrency commit conflict). The caller should reload
    the table and re-apply — epoch fencing makes a re-merge of an
    already-committed epoch a no-op, so CDC replayers retry safely."""


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _atomic_create(path: str, text: str) -> None:
    """Like _atomic_write but FAILS if `path` already exists — the
    commit CAS: version-N.json is the lock, so two writers racing to
    commit version N cannot both win (os.link is atomic-exclusive on
    POSIX; rename would silently last-writer-win)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} already committed by another writer"
        )
    finally:
        os.remove(tmp)


# ---------------------------------------------------------------- metadata log
#
# Snapshot JSONs are written as Delta-log-style DIFFS: a commit that
# touches k buckets serializes only those k bucket lists (plus the
# scalar fields), not the whole bucket→files map — per-commit metadata
# writes are O(epoch), not O(table files). Every
# `metadata.checkpoint-interval`-th version (default 25) is a full
# CHECKPOINT, so hydrating any snapshot walks at most interval-1 small
# diffs back to a checkpoint. In-memory snapshots (LakeTable.snap) are
# ALWAYS fully hydrated — only the on-disk representation changes.
# (Delta Lake's _delta_log add/remove actions + checkpoint.parquet;
# Iceberg's manifest-list reuse solves the same O(table) problem.)

_CKPT_INTERVAL_PROP = "metadata.checkpoint-interval"
_CKPT_INTERVAL_DEFAULT = 25
# keys diffed against the parent snapshot (bucket→[relpath] maps)
_LOG_DIFF_KEYS = ("files", "deltas")
# sidecar-pointer lists ([{path, files}]) — entries are immutable (a
# manifest file never changes once written), so the diff is adds by
# path + dropped paths. Without this the pointer lists alone keep the
# snapshot O(table files): each entry carries its covered-file list.
_LOG_MANIFEST_KEYS = ("stats_manifests", "bloom_manifests")


def _ckpt_interval(snap: dict) -> int:
    try:
        return max(2, int(snap.get("properties", {}).get(
            _CKPT_INTERVAL_PROP, _CKPT_INTERVAL_DEFAULT)))
    except (TypeError, ValueError):
        return _CKPT_INTERVAL_DEFAULT


def _dehydrate(snap: dict, parent: dict) -> dict:
    """On-disk DIFF form of `snap` against its (hydrated) parent: for
    each of files/deltas, record only buckets whose lists CHANGED
    (full replacement list per changed bucket — commit() semantics)
    and buckets that disappeared. Scalar fields stay inline; summary
    counts ride along so history()/inspect never hydrate."""
    skip = set(_LOG_DIFF_KEYS) | set(_LOG_MANIFEST_KEYS)
    out = {k: v for k, v in snap.items() if k not in skip}
    log: dict = {"base": parent["version"]}
    for key in _LOG_DIFF_KEYS:
        cur = snap.get(key, {}) or {}
        par = parent.get(key, {}) or {}
        changed = {b: rels for b, rels in cur.items() if par.get(b) != rels}
        gone = sorted(b for b in par if b not in cur)
        log[key] = changed
        log[key + "_dropped"] = gone
    for key in _LOG_MANIFEST_KEYS:
        cur = snap.get(key) or []
        par_paths = {m["path"] for m in (parent.get(key) or [])}
        cur_paths = {m["path"] for m in cur}
        log[key] = [m for m in cur if m["path"] not in par_paths]
        log[key + "_dropped"] = sorted(par_paths - cur_paths)
    out["log"] = log
    out["n_files"] = sum(len(v) for v in (snap.get("files") or {}).values())
    out["n_delta_files"] = sum(len(v) for v in (snap.get("deltas") or {}).values())
    return out


def _version_path(mdir: str, v: int) -> str:
    return os.path.join(mdir, f"version-{v:06d}.json")


def _hydrate(mdir: str, snap: dict) -> dict:
    """Resolve a snapshot read from disk to its full files/deltas maps
    by walking its diff chain back to the nearest checkpoint (bounded
    by the checkpoint interval). Checkpoints return unchanged."""
    if "log" not in snap:
        return snap
    chain = [snap]
    cur = snap
    while "log" in cur:
        base_v = int(cur["log"]["base"])
        p = _version_path(mdir, base_v)
        try:
            with open(p) as f:
                cur = json.load(f)
        except FileNotFoundError:
            raise RuntimeError(
                f"metadata log broken: version {chain[-1]['version']} needs "
                f"base snapshot {base_v} but {p} is gone (expire_snapshots "
                "should have checkpointed retained diffs)"
            ) from None
        if "log" in cur:
            chain.append(cur)
    state = {k: {b: list(r) for b, r in (cur.get(k) or {}).items()}
             for k in _LOG_DIFF_KEYS}
    manifests = {k: list(cur.get(k) or []) for k in _LOG_MANIFEST_KEYS}
    for d in reversed(chain):
        log = d["log"]
        for key in _LOG_DIFF_KEYS:
            for b in log.get(key + "_dropped", []):
                state[key].pop(b, None)
            state[key].update({b: list(r) for b, r in log.get(key, {}).items()})
        for key in _LOG_MANIFEST_KEYS:
            dropped = set(log.get(key + "_dropped", []))
            added = log.get(key, [])
            add_paths = {m["path"] for m in added}
            manifests[key] = [
                m for m in manifests[key]
                if m["path"] not in dropped and m["path"] not in add_paths
            ] + list(added)
    out = {k: v for k, v in snap.items() if k not in ("log", "n_files", "n_delta_files")}
    out["files"] = state["files"]
    out["deltas"] = state["deltas"]
    for key in _LOG_MANIFEST_KEYS:
        out[key] = manifests[key]
    return out


def _read_version(mdir: str, v: int) -> dict:
    """Version `v` of a ref as written: a metadata diff stays a diff
    (its schema, properties and change manifest are inline)."""
    with open(_version_path(mdir, v)) as f:
        return json.load(f)


def _read_snapshot(mdir: str, version: int) -> dict:
    """One hydrated snapshot from disk."""
    return _hydrate(mdir, _read_version(mdir, version))


def _window_changes(mdir: str, lo: int, hi: int) -> list[str] | None:
    """The change-data manifests of a ref's versions lo+1..hi, in commit
    order; None when one of them is gone or recorded none (the window's
    change set is unknown)."""
    rels: list[str] = []
    for v in range(lo + 1, hi + 1):
        try:
            ch = _read_version(mdir, v).get("changes")
        except FileNotFoundError:
            return None
        if ch is None:
            return None
        rels.extend(ch)
    return rels


def evolve_schema(
    old: T.StructType,
    new: T.StructType,
    renames: dict[str, str] | None = None,
    aliases: dict[str, list[str]] | None = None,
    dropped: list[str] | None = None,
) -> tuple[T.StructType, dict[str, list[str]]]:
    """Merge an incoming schema into the table schema: declared renames
    apply in place (Iceberg RENAME COLUMN — the old name becomes a read
    alias so pre-rename data files stay readable), new columns are
    added, numeric types widen, otherwise the old type wins.

    `dropped`: names retired by `drop_column`. Re-adding one is
    REFUSED: this format has no Iceberg field ids, so a re-added name
    would resurrect the dropped column's values out of every pre-drop
    data file — silent corruption. Pick a fresh name instead.

    Returns (schema, aliases) where aliases maps current field name
    (lower) → prior names (lower) still present in old data files.
    """
    dropped_l = {str(d).lower() for d in (dropped or [])}
    if dropped_l:
        live = {f.name.lower() for f in old.fields}
        clash = sorted(
            {f.name for f in new.fields if f.name.lower() in dropped_l - live}
            | {n for n in (renames or {}).values() if n.lower() in dropped_l - live}
        )
        if clash:
            raise ValueError(
                f"cannot re-add dropped column(s) {clash}: without field ids a "
                "re-added name would resurrect old values from pre-drop data "
                "files; use a new column name"
            )
    aliases = {k: list(v) for k, v in (aliases or {}).items()}
    fields = list(old.fields)
    for o, n in (renames or {}).items():
        o_l, n_l = o.lower(), n.lower()
        idx = next((i for i, f in enumerate(fields) if f.name.lower() == o_l), None)
        if idx is None or any(f.name.lower() == n_l for f in fields):
            continue  # nothing to rename / target collision: skip
        fields[idx] = T.StructField(n, fields[idx].dataType, True)
        aliases[n_l] = aliases.pop(o_l, []) + [o_l]
    old_map = {f.name.lower(): f for f in fields}
    # alias → current-name map: an incoming batch still using a PRE-
    # RENAME column name refers to the SAME logical column (late CDC
    # producers lag declared renames). Without this, the old name would
    # be appended as a brand-new field whose name collides with the
    # read alias — old data files would then serve their values under
    # the resurrected name and NULL under the current one. Iceberg
    # resolves this with field ids; name-mapped formats must fold the
    # alias back onto its current column.
    alias_to_cur = {
        a: cur for cur, olds in aliases.items() for a in olds if a not in old_map
    }
    for nf in new.fields:
        of = old_map.get(nf.name.lower())
        if of is None and nf.name.lower() in alias_to_cur:
            of = old_map.get(alias_to_cur[nf.name.lower()])
        if of is None:
            fields.append(T.StructField(nf.name, nf.dataType, True))
            continue
        o_s, n_s = of.dataType.simpleString(), nf.dataType.simpleString()
        if o_s != n_s and o_s in _WIDEN_ORDER and n_s in _WIDEN_ORDER:
            if _WIDEN_ORDER.index(n_s) > _WIDEN_ORDER.index(o_s):
                i = fields.index(of)
                fields[i] = T.StructField(of.name, nf.dataType, True)
    return T.StructType(fields), aliases


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, snapshot: dict):
        self.spark = spark
        self.path = path
        self.snap = snapshot

    # ------------------------------------------------------------ lifecycle
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
        properties: dict | None = None,
    ) -> "LakeTable":
        os.makedirs(os.path.join(path, _META), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)
        snap = {
            "version": 0,
            "schema": json.loads(schema.json()),
            "key_cols": key_cols,
            "num_buckets": num_buckets,
            "files": {},  # bucket(str) -> [relpath]
            "properties": properties or {},
            "committed_epochs": [],
            "aliases": {},  # field(lower) -> prior names in old files
            "parent": None,
            "changes": [],  # this commit's change-data files (empty table)
            "operation": "create",
            "ts": round(time.time(), 3),
        }
        t = LakeTable(spark, path, snap)
        t._write_snapshot()
        return t

    @staticmethod
    def load(
        spark: SparkSession,
        path: str,
        version: int | None = None,
        tag: str | None = None,
        as_of_ts: float | None = None,
        branch: str | None = None,
    ) -> "LakeTable":
        """Load the current snapshot, or a historical one (time travel —
        Iceberg `VERSION AS OF` / `TIMESTAMP AS OF` / `tag` = named pin,
        resolved through the HEAD snapshot's tag map). Readers pin the
        snapshot they loaded: concurrent commits never change what an
        open table sees."""
        if sum(x is not None for x in (version, tag, as_of_ts)) > 1:
            raise ValueError("pass at most one of version / tag / as_of_ts")
        mdir = _ref_meta(path, branch)
        if branch and not os.path.isdir(mdir):
            raise ValueError(
                f"no branch {branch!r} on this table "
                f"(have {LakeTable.load(spark, path).branches()})"
            )
        if tag is not None:
            head = LakeTable.load(spark, path, branch=branch)
            tags = head.snap.get("tags", {})
            if tag not in tags:
                raise ValueError(f"no tag {tag!r} on this table (have {sorted(tags)})")
            version = int(tags[tag])
        if as_of_ts is not None:
            # TIMESTAMP AS OF: newest RETAINED commit at-or-before ts
            # (one metadata read per retained version, like history())
            head = LakeTable.load(spark, path, branch=branch)
            cands = [
                h["version"]
                for h in head.history()
                if h.get("ts") is not None and float(h["ts"]) <= float(as_of_ts)
            ]
            if not cands:
                raise ValueError(
                    f"no retained snapshot at or before ts={as_of_ts} "
                    "(earlier ones may have been expired)"
                )
            version = max(cands)
        if version is None:
            version = _current_version(mdir)
        return LakeTable(spark, path, _read_snapshot(mdir, version))

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, _META, "VERSION"))

    def _write_snapshot(self, parent: dict | None = None) -> None:
        """Publish self.snap (always fully hydrated in memory). On disk
        it lands as a DIFF against its parent whenever the parent
        snapshot is retained and this version is not a checkpoint —
        O(touched buckets) bytes per commit. `parent` is the hydrated
        parent snapshot when the caller still holds it (saves the disk
        chain walk); omitted, it is read back from the log."""
        # the handle's snapshot just changed — drop plan-time caches
        self.__dict__.pop("_stats_cache", None)
        v = self.snap["version"]
        mdir = _ref_meta(self.path, self.snap.get("branch"))
        vfile = os.path.join(mdir, "VERSION")
        if v > 0 and os.path.exists(vfile):
            # optimistic-concurrency guard #1: a stale handle (loaded at
            # an older version) must not roll the table back — its next
            # version number would be ≤ the current pointer
            current = _current_version(mdir)
            if current >= v:
                raise CommitConflictError(
                    f"table moved to version {current} since this handle "
                    f"loaded (attempted commit: {v}); reload and retry"
                )
        payload = self.snap
        pv = self.snap.get("parent")
        if (
            pv is not None
            and v % _ckpt_interval(self.snap) != 0
            and str(self.snap.get("properties", {}).get(
                "metadata.log.enabled", "true")).lower() != "false"
        ):
            try:
                if parent is None or parent.get("version") != pv:
                    parent = _read_snapshot(mdir, int(pv))
                payload = _dehydrate(self.snap, parent)
            except (FileNotFoundError, RuntimeError):
                pass  # parent expired / broken chain → write a checkpoint
        # guard #2: two writers racing from the SAME base version — the
        # exclusive create of version-N.json is the CAS; exactly one wins
        _atomic_create(
            _version_path(mdir, v),
            json.dumps(payload, indent=1),
        )
        _atomic_write(vfile, str(v))

    # ------------------------------------------------------------ accessors
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snap["schema"])

    @property
    def key_cols(self) -> list[str]:
        return list(self.snap["key_cols"])

    @property
    def num_buckets(self) -> int:
        return int(self.snap["num_buckets"])

    @property
    def committed_epochs(self) -> set:
        return set(self.snap["committed_epochs"])

    @property
    def aliases(self) -> dict:
        return dict(self.snap.get("aliases", {}))

    @property
    def version(self) -> int:
        return int(self.snap["version"])

    @property
    def file_stats(self) -> dict:
        """Per-file footer stats, merged from the snapshot's sidecar
        manifests (plus legacy inline stats on pre-sidecar snapshots)
        and restricted to files this snapshot references. Loaded
        lazily, once per handle — the Iceberg model of reading
        manifests at plan time; the merged dict is the scan planner's
        working set (O(live files), never rewritten)."""
        cached = self.__dict__.get("_stats_cache")
        if cached is not None:
            return cached
        out = _load_stats(self.path, self.snap)
        live: set[str] = set()
        for rels in self.snap["files"].values():
            live.update(rels)
        for rels in self.snap.get("deltas", {}).values():
            live.update(rels)
        out = {r: s for r, s in out.items() if r in live}
        self.__dict__["_stats_cache"] = out
        return out

    def all_files(self) -> list[str]:
        return [
            os.path.join(self.path, rel)
            for rels in self.snap["files"].values()
            for rel in rels
        ]

    def bucket_files(self, buckets: list[int]) -> list[str]:
        out = []
        for b in buckets:
            out.extend(
                os.path.join(self.path, rel) for rel in self.snap["files"].get(str(b), [])
            )
        return out

    def delta_rels(self, buckets: list[int] | None = None) -> list[str]:
        """Relative paths of pending merge-on-read delta files (optionally
        bucket-pruned — deltas are tracked per bucket, like Iceberg's
        partition-scoped delete files, so a pruned read stays pruned)."""
        deltas = self.snap.get("deltas", {})
        if buckets is None:
            return [rel for rels in deltas.values() for rel in rels]
        out: list[str] = []
        for b in buckets:
            out.extend(deltas.get(str(b), []))
        return out

    def delta_files(self, buckets: list[int] | None = None) -> list[str]:
        return [os.path.join(self.path, rel) for rel in self.delta_rels(buckets)]

    def delta_bytes(self, buckets: list[int] | None = None) -> int:
        """On-disk bytes of pending delta files — a zero-job heuristic
        for the read path's broadcast decision and compaction cadence."""
        return _disk_bytes(self.delta_files(buckets))

    def bucket_expr(self, df: DataFrame) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(k).cast("string") for k in self.key_cols]),
            F.lit(self.num_buckets),
        ).cast("int")

    # ------------------------------------------------------------ IO
    def read(
        self,
        buckets: list[int] | None = None,
        with_meta: bool = False,
        schema: T.StructType | None = None,
        aliases: dict | None = None,
    ) -> DataFrame:
        """Read the current snapshot (optionally bucket-pruned) with the
        snapshot schema — missing columns (pre-evolution files) are
        null-filled, like Iceberg's read-time schema projection.

        Rows carry hidden metadata columns `__seq` (commit sequence of the
        last writer — the cross-batch LWW guard) and `__deleted`
        (tombstone flag, so a late lower-seq update cannot resurrect a
        deleted key). with_meta=True exposes them (merge path).

        When the snapshot carries pending merge-on-read deltas for the
        requested buckets, the view is resolved per key against them
        (highest `__seq` wins; base wins ties) before returning."""
        df, _bcast = self._resolved(
            buckets=buckets, schema=schema, aliases=aliases
        )
        if with_meta:
            return df
        return df.filter(~F.col("__deleted")).drop("__seq", "__deleted")

    # ------------------------------------------------------------ count (metadata-only)
    def _count_from_metadata(self) -> int | None:
        """Exact live-row count from the stats manifests alone — ZERO
        Spark jobs, zero data-file reads (the Delta/Iceberg model:
        SELECT COUNT(*) is answered at plan time from per-file
        record_count). Live rows per file = __nrows − __ndel, both
        collected at commit time by _footer_stats_one.

        Returns None (caller falls back to a scan) when the count is
        not provably exact from metadata: pending merge-on-read deltas
        (per-key resolution changes liveness across files), or a live
        base file whose sidecar predates __ndel collection."""
        if self.delta_rels():
            return None
        stats = self.file_stats
        total = 0
        for rels in self.snap["files"].values():
            for rel in rels:
                st = stats.get(rel)
                if not st or st.get("__nrows") is None or st.get("__ndel") is None:
                    return None
                total += int(st["__nrows"]) - int(st["__ndel"])
        return total

    def count_rows(self) -> int:
        """Number of live rows in the current snapshot. Metadata-only
        when exact (common case: CoW table, post-compaction MoR);
        otherwise one column-pruned resolved scan."""
        n = self._count_from_metadata()
        if n is not None:
            return n
        return self.read().count()

    # ------------------------------------------------------------ scan (data skipping)
    def _local_bucket_of(self, key_values: dict) -> int | None:
        """Bucket of one fully-pinned key computed on the driver, or
        None when some literal is not of its key's exact type (`str` on
        a string key; `int`, not `bool`, within an integral key's range).
        Those literals render as the stored dtype does under
        `bucket_expr`'s string cast, so the pure-Python XXH64 hashes the
        same bytes Spark does; anything else goes to `_bucket_of`."""
        from wrangler_spark.lake.xxhash import render_literal, spark_xxhash64

        fields = {f.name.lower(): f for f in self.schema.fields}
        rendered = []
        for k in self.key_cols:
            fld = fields.get(k.lower())
            s = None if fld is None else render_literal(key_values[k], fld.dataType)
            if s is None:
                return None
            rendered.append(s)
        return spark_xxhash64(*rendered) % self.num_buckets

    def _bucket_of(self, key_values: dict) -> int | None:
        """Bucket of one fully-pinned key — the same xxhash64 Spark uses
        (bucket_expr), evaluated over a single literal row. One
        constant-folded 1-row job: the planning cost of a pin that
        `_local_bucket_of` cannot compute on the driver.

        bucket_expr hashes F.col(k).cast('string'), i.e. the STORED
        dtype's string rendering — a raw F.lit(v) can render differently
        when the Python literal's type doesn't match the key column
        (lit 5 → '5' vs a double key → '5.0'; cli.py coerces '00123' to
        int 123 → '123' vs stored string '00123'), pinning the WRONG
        bucket and silently returning zero rows. So cast each literal
        through the schema dtype first, and return None (no pinning,
        residual filter still applies) when the value does not survive
        that cast losslessly."""
        fields = {f.name.lower(): f for f in self.schema.fields}
        lits = []
        for k in self.key_cols:
            fld = fields.get(k.lower())
            if fld is None:
                return None
            # a non-string literal on a STRING key is never pinnable:
            # the residual filter compares under numeric coercion, so
            # stored '00123' matches value 123 — but they hash to
            # different buckets under any rendering. Bail to no pinning.
            if isinstance(fld.dataType, T.StringType) and not isinstance(
                key_values[k], str
            ):
                return None
            lits.append(F.lit(key_values[k]).cast(fld.dataType).cast("string"))
        row = (
            self.spark.range(1)
            .select(
                F.pmod(F.xxhash64(*lits), F.lit(self.num_buckets))
                .cast("int")
                .alias("b"),
                *[lit.isNull().alias(f"__null{i}") for i, lit in enumerate(lits)],
            )
            .first()
        )
        # a literal that nulls out under the key dtype can't be pinned
        # (lenient cast swallowed it — e.g. 'abc' on an int key); fall
        # back to no pruning and let the residual filter decide
        if any(bool(row[f"__null{i}"]) for i in range(len(lits))):
            return None
        return int(row["b"])

    def _file_can_match(self, fstats: dict | None, filters: list) -> bool:
        """Conservative footer-stats check: False only when the file's
        [min, max] provably excludes EVERY row for some conjunct."""
        if not fstats:
            return True
        for col, op, val in filters:
            # naive datetime filter literals are interpreted by the
            # residual Spark filter in the SESSION timezone; footer
            # stats are normalized to naive-UTC. Only prune on them
            # when the session is UTC (the engine default) — otherwise
            # a naive literal means a different instant than the stat.
            _vals_tz = val if op == "in" else [val]
            if any(
                isinstance(x, _dt.datetime) and x.tzinfo is None for x in _vals_tz
            ) and self.spark.conf.get("spark.sql.session.timeZone", "UTC") != "UTC":
                continue
            names = [col.lower()] + [
                a for a in self.aliases.get(col.lower(), [])
            ]
            st = next((fstats[n] for n in names if n in fstats), None)
            if st is None:
                continue
            mn, mx, _nulls = st
            if op == "in":
                # prune only when EVERY listed value is provably outside
                # [min, max]; one unprovable value keeps the file
                vals = [_stat_norm(x) for x in val]
                if any(
                    v_ is None
                    or (mn is not None and not _stat_comparable(mn, v_))
                    or not (
                        (mn is not None and v_ < mn)
                        or (mx is not None and v_ > mx)
                    )
                    for v_ in vals
                ):
                    continue
                return False
            v = _stat_norm(val)
            if v is None:
                continue
            if mn is not None and not _stat_comparable(mn, v):
                continue
            if op == "=":
                if (mn is not None and v < mn) or (mx is not None and v > mx):
                    return False
            elif op == "<":
                if mn is not None and mn >= v:
                    return False
            elif op == "<=":
                if mn is not None and mn > v:
                    return False
            elif op == ">":
                if mx is not None and mx <= v:
                    return False
            elif op == ">=":
                if mx is not None and mx < v:
                    return False
        return True

    def scan_plan(self, filters: list | None = None, buckets: list[int] | None = None) -> dict:
        """Driver-side metadata pruning for `scan`. Returns the kept base
        file relpaths, the buckets still in play, skip counts, and
        `driver_keys` ({key: [literals]}) when the scan can resolve on
        the driver (see `scan`), else None.

        Two pruning layers, both pure metadata (the 100 TB property: at
        millions of files, scan PLANNING must prune from the manifest —
        this snapshot's `stats` — not by listing/opening data files):
        - bucket pruning: filters pinning every key column by =/IN (at
          most 8 key combinations) resolve to one hash bucket per
          combination. Literals of the key's exact type on string and
          integral keys hash on the driver (`lake.xxhash`, zero jobs);
          any other pin costs one 1-row Spark hash job per combination.
          An =/IN filter on a `bloom.cols` column probes the same way:
          exact-type literals hash on the driver, any other literal in
          one 1-row probe job;
        - file skipping: a file whose footer [min, max] range provably
          excludes a conjunct is dropped before Spark sees it.

        Correctness: pruning a base file only ever drops whole keys (the
        base holds exactly one row per key), and a dropped key's row
        provably fails the residual filter, so results equal
        read().filter(...). Buckets holding pending merge-on-read deltas
        are exempt from file skipping — dropping a base row there could
        let a STALE lower-seq delta row win read-time LWW resolution —
        so they scan fully and rely on the residual filter."""
        filters = list(filters or [])
        for f_ in filters:
            if len(f_) != 3 or f_[1] not in _SCAN_OPS:
                raise ValueError(f"bad scan filter {f_!r}; want (col, op, value), op in {_SCAN_OPS}")
            if f_[1] == "in" and not isinstance(f_[2], (list, tuple, set)):
                raise ValueError(f"'in' filter value must be a list/tuple/set, got {f_[2]!r}")
        cand = list(range(self.num_buckets)) if buckets is None else list(buckets)
        keys_l = [k.lower() for k in self.key_cols]
        eq = {c.lower(): v for c, op, v in filters if op == "=" and v is not None}
        # per-column candidate VALUE LISTS over =/in conjuncts (an "in"
        # on a key prunes to the value set's buckets, like Iceberg's
        # in-predicate partition pruning); "=" wins when both appear
        eqmulti: dict[str, list] = {}
        for c, op, v in filters:
            cl = c.lower()
            if op == "=" and v is not None:
                eqmulti[cl] = [v]
            elif op == "in" and cl not in eq:
                vals = [x for x in v if x is not None]
                if vals:
                    eqmulti.setdefault(cl, vals)
        point = bool(keys_l) and all(k in eqmulti for k in keys_l)
        driver_keys = None
        if point:
            import itertools

            combo_lists = [eqmulti[k] for k in keys_l]
            n_combos = 1
            for lst in combo_lists:
                n_combos *= len(lst)
            if n_combos <= 8:
                combos = [
                    dict(zip(self.key_cols, c)) for c in itertools.product(*combo_lists)
                ]

                def pin_all(bucket_of):
                    pins = set()
                    for kv in combos:
                        b = bucket_of(kv)
                        if b is None:
                            return None
                        pins.add(b)
                    return pins

                # exact-type literals on string/integral keys hash on the
                # driver; any other pin costs one 1-row Spark job per combo
                pins = pin_all(self._local_bucket_of)
                exact = pins is not None
                if not exact:
                    pins = pin_all(self._bucket_of)
                if pins is not None:
                    cand = [x for x in cand if x in pins]
                    from wrangler_spark.lake.resolve import arrow_supported

                    if exact and arrow_supported(self.schema):
                        driver_keys = dict(zip(self.key_cols, combo_lists))
            else:
                point = False
        stats = self.file_stats
        deltas = self.snap.get("deltas", {})
        probes, bloom_idx = self._bloom_probes(eqmulti)
        kept: list[str] = []
        skipped = 0
        bloom_skipped = 0
        delta_buckets: list[int] = []
        for b in cand:
            rels = self.snap["files"].get(str(b), [])
            if deltas.get(str(b)):
                delta_buckets.append(b)
                kept.extend(rels)
                continue
            for rel in rels:
                if not self._file_can_match(stats.get(rel), filters):
                    skipped += 1
                elif not self._bloom_can_match(bloom_idx.get(rel), probes):
                    bloom_skipped += 1
                else:
                    kept.append(rel)
        return {
            "buckets": cand,
            "base_rels": kept,
            "skipped_files": skipped,
            "bloom_skipped_files": bloom_skipped,
            "delta_buckets": delta_buckets,
            "point_lookup": point,
            "driver_keys": driver_keys,
        }

    def _bloom_probes(self, eq: dict) -> tuple[dict, dict]:
        """(probe hashes, rel → col → bloom entry) for the =/IN filters
        that hit a bloom-indexed column: {col: [values]} in, {col:
        [(h1, h2), …]} out — an IN conjunct passes a file when ANY of
        its values might be present. `bloom.probe_hashes_multi` hashes
        exact-type literals on the driver and any others in one 1-row
        Spark job; the sidecar manifests load lazily and are cached per
        handle."""
        from wrangler_spark.lake import bloom as _bloom

        manifests = self.snap.get("bloom_manifests") or []
        if not manifests or not eq:
            return {}, {}
        cols_l = {c.lower() for c in _bloom.bloom_cols(self.snap)}
        hit = {
            cl: (vs if isinstance(vs, (list, tuple, set)) else [vs])
            for cl, vs in eq.items()
            if cl in cols_l
        }
        if not hit:
            return {}, {}
        probes = _bloom.probe_hashes_multi(self.spark, self.schema, hit)
        if not probes:
            return {}, {}
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        idx: dict[str, dict] = {}
        for m in manifests:
            if m["path"] not in cache:
                cache[m["path"]] = _bloom.load_manifest(self.path, m["path"])
            for rel, per in cache[m["path"]].items():
                idx.setdefault(rel, {}).update(per)
        return probes, idx

    def _bloom_can_match(self, fblooms: dict | None, probes: dict) -> bool:
        """False only when some equality conjunct's value is provably
        absent from the file. Renamed columns probe through aliases —
        old files carry the bloom under the former name."""
        if not probes or not fblooms:
            return True
        from wrangler_spark.lake import bloom as _bloom

        for cl, pairs in probes.items():
            names = [cl] + [a for a in self.aliases.get(cl, [])]
            entry = next((fblooms[n] for n in names if n in fblooms), None)
            if entry is not None and not any(
                _bloom.may_contain(entry, h1, h2) for h1, h2 in pairs
            ):
                return False
        return True

    def _filters_to_column(self, filters: list | None):
        cond = None
        for col, op, val in filters or []:
            c = F.col(col)
            if op == "in":
                vals = [x for x in val if x is not None]
                expr = c.isin(*vals) if vals else F.lit(False)
            else:
                expr = {
                    "=": c == F.lit(val),
                    "<": c < F.lit(val),
                    "<=": c <= F.lit(val),
                    ">": c > F.lit(val),
                    ">=": c >= F.lit(val),
                }[op]
            cond = expr if cond is None else (cond & expr)
        return cond

    def scan(
        self,
        filters: list | None = None,
        buckets: list[int] | None = None,
        with_meta: bool = False,
        plan_out: dict | None = None,
    ) -> DataFrame:
        """`read()` + a conjunctive filter, with metadata pruning first:
        `filters` is a list of (column, op, value), op ∈ =, <, <=, >,
        >=, in (value = list; a key-column IN prunes to the value
        set's buckets, Iceberg in-predicate partition pruning).
        Semantically identical to `read(buckets).filter(...)` — stats
        only remove files that provably cannot contribute; the same
        predicate is ALSO applied as a real Spark filter (and pushed into
        the parquet scan by Catalyst for row-group-level skipping).
        `plan_out` (optional dict) receives the scan_plan for
        observability/tests.

        A point lookup — every key column pinned by =/IN literals of its
        exact type, on string/integral keys — plans and resolves with
        zero Spark jobs: pyarrow reads the pinned buckets' kept base
        files and pending deltas with the key values pushed down, the
        LWW runs in Arrow (`lake.resolve`), and the rows become a local
        relation that the residual filter, tombstone filter and
        projection fold into. Every other scan runs the `_resolved`
        Spark plan."""
        plan = self.scan_plan(filters, buckets)
        if plan_out is not None:
            plan_out.update(plan)
        base_files = [os.path.join(self.path, r) for r in plan["base_rels"]]
        if plan["driver_keys"] is not None:
            df = self._local_resolved(plan["buckets"], base_files, plan["driver_keys"])
        else:
            df, _ = self._resolved(buckets=plan["buckets"], base_files=base_files)
        cond = self._filters_to_column(filters)
        if cond is not None:
            df = df.filter(cond)
        if with_meta:
            return df
        return df.filter(~F.col("__deleted")).drop("__seq", "__deleted")

    def _local_resolved(
        self, buckets: list[int], base_files: list[str], key_values: dict
    ) -> DataFrame:
        """Driver-side `_resolved` for a key-pinned scan: pyarrow reads
        the pinned buckets' kept base files and pending deltas with the
        key literals pushed into the read, LWW resolves in Arrow
        (`lake.resolve`), and the rows come back as a local relation —
        filters and projections on it fold into the relation, so
        collecting it runs no Spark job."""
        from wrangler_spark.lake.resolve import resolve_files

        tbl = resolve_files(
            base_files, self.delta_files(buckets), self.schema, self.aliases,
            self.key_cols, key_values=key_values,
        )
        schema = T.StructType(
            [T.StructField(f_.name, f_.dataType, True) for f_ in self.schema.fields]
            + [T.StructField("__seq", T.LongType(), False),
               T.StructField("__deleted", T.BooleanType(), False)]
        )
        # one chunk: the Arrow stream behind createDataFrame ends at the
        # first empty record batch, and per-file tables leave empty chunks
        return self.spark.createDataFrame(tbl.combine_chunks(), schema)

    def _read_files(
        self,
        files: list[str],
        schema: T.StructType | None = None,
        aliases: dict | None = None,
    ) -> DataFrame:
        """Read a set of data files with the (given or snapshot) schema —
        missing columns null-filled, renamed columns coalesced through
        their aliases, `__seq`/`__deleted` metadata always exposed."""
        schema = schema if schema is not None else self.schema
        if not files:
            base = self.spark.createDataFrame([], schema)
            return base.withColumn("__seq", F.lit(None).cast("long")).withColumn(
                "__deleted", F.lit(False)
            )
        aliases = aliases if aliases is not None else self.aliases
        # EXPLICIT physical read schema — never footer inference. With
        # default mergeSchema=false Spark takes ONE file's footer, so a
        # snapshot mixing pre-rename (old-name) and post-rename
        # (new-name) files would silently null the columns the chosen
        # footer lacks, and a widened column (old int32 vs new int64
        # files) crashes the vectorized reader outright. The explicit
        # schema lists every current field PLUS every alias name (at the
        # current, widest type — the parquet reader's widening
        # promotions cover int→long→double etc.); each file null-fills
        # the names it doesn't have, deterministically.
        current_l = {f_.name.lower() for f_ in schema.fields}
        read_fields: list[T.StructField] = []
        for f_ in schema.fields:
            read_fields.append(T.StructField(f_.name.lower(), f_.dataType, True))
            for a in aliases.get(f_.name.lower(), []):
                # an alias name later reused as a brand-new column reads
                # under its current meaning; skip it as an alias
                if a not in current_l:
                    read_fields.append(T.StructField(a, f_.dataType, True))
        read_fields.append(T.StructField("__seq", T.LongType(), True))
        read_fields.append(T.StructField("__deleted", T.BooleanType(), True))
        df = self.spark.read.schema(T.StructType(read_fields)).parquet(*files)
        cols = []
        for f_ in schema.fields:
            # a renamed column exists under its current name in new files
            # and an older name in pre-rename files → per-row coalesce
            # over current-name-then-aliases, like Iceberg's field-id
            # mapping resolves renames at read time
            cands = [f_.name.lower()] + [
                a for a in aliases.get(f_.name.lower(), []) if a not in current_l
            ]
            cols.append(
                F.coalesce(*[F.col(n) for n in cands]).cast(f_.dataType).alias(f_.name)
                if len(cands) > 1
                else F.col(cands[0]).cast(f_.dataType).alias(f_.name)
            )
        # files written by merge always carry __seq/__deleted; the -1
        # fallback covers externally imported files only
        cols.append(F.coalesce(F.col("__seq"), F.lit(-1)).cast("long").alias("__seq"))
        cols.append(F.coalesce(F.col("__deleted"), F.lit(False)).alias("__deleted"))
        return df.select(*cols)

    def _resolved(
        self,
        buckets: list[int] | None = None,
        schema: T.StructType | None = None,
        aliases: dict | None = None,
        base_files: list[str] | None = None,
    ) -> tuple[DataFrame, bool]:
        """Base ∪ pending deltas, resolved to one row per key (metadata
        exposed; tombstones kept). Returns (df, base_stayed_unshuffled).

        The delta rows' LWW winners (`lww_dedup`) overlay the base
        (`lww_overlay`): base wins seq ties (strict `delta.__seq >
        base.__seq`, the copy-on-write merge's `WHEN MATCHED AND s.seq >
        t.seq`), and tied delta copies collapse to one row — two delta
        files can carry the same (key, seq) row, e.g. a mor Replicator
        retry after a crash between merge and watermark stamp replays an
        overlapping window under a new fencing epoch. The winners are
        materialized once; while the pending delta files take at most
        `_MOR_BROADCAST_MAX_BYTES` on disk they are broadcast, so the
        base payload is scanned once and never shuffles; past it
        (compaction far behind) the same plan runs unhinted.
        """
        if base_files is not None:
            files = base_files  # scan path: stats-pruned file list
        else:
            files = self.all_files() if buckets is None else self.bucket_files(buckets)
        base = self._read_files(files, schema=schema, aliases=aliases)
        dfiles = self.delta_files(buckets)
        if not dfiles:
            return base, True
        from wrangler_spark.lake.merge import lww_dedup, lww_overlay

        delta = self._read_files(dfiles, schema=schema, aliases=aliases)
        # lww_overlay materializes the delta winners once; without it,
        # pre-compaction resolved reads recomputed the delta scan +
        # max-seq agg up to 4× (BENCH_r04 mor_sparse_epoch: 4.76 s vs
        # 0.51 s cow on 683K rows)
        small = self.delta_bytes(buckets) <= _MOR_BROADCAST_MAX_BYTES
        base_keep, taken = lww_overlay(
            base, lww_dedup(delta, self.key_cols, "__seq"), self.key_cols, broadcast=small
        )
        return base_keep.unionByName(taken), small

    def write_buckets(
        self,
        df,
        version: int,
        pre_partitioned: bool = False,
        sort_override: list | None = None,
    ) -> dict[str, list[str]]:
        """Write df (which must carry an int `__b` bucket column) under
        data/v<version>/, one directory per bucket; returns bucket→relpaths.
        `df` is a Spark DataFrame, or a driver-side `pyarrow.Table` (a
        merge-on-read batch the merge collected, or the buckets
        `compact()` resolved in Arrow): pyarrow then writes one file per
        bucket, or per `write.max-records-per-file` rows, into the same
        layout (`_write_arrow_buckets`). Both writers compress with
        `_CODEC` (zstd), not the session's parquet codec.

        pre_partitioned=True skips the clustering shuffle: the caller
        guarantees rows are already reasonably bucket-aligned (the merge
        path — base-bucket reads are aligned by construction), so each
        task writes at most a few bucket files via the dynamic-partition
        writer's local sort. The rewritten bucket payload — the dominant
        data volume of a merge — then never shuffles at all.

        Two table properties shape the files (Iceberg write-order
        equivalent, applied by EVERY writer — merge, compact, rescale):
        - `write.sort.cols`: sort rows within each bucket by these
          columns before writing (a task-local sortWithinPartitions — no
          extra shuffle). Sorted files have TIGHT per-file min/max
          stats, which is what makes `scan` data skipping fire on
          payload columns: unsorted, every file spans the whole value
          domain and no range predicate can skip anything.
        - `write.max-records-per-file`: split bucket output into
          bounded files, so a sorted bucket becomes a sequence of
          disjoint-range files (the skippable unit)."""
        # unique suffix: two writers racing toward the same version must
        # not share a staging directory (the commit CAS decides the
        # winner AFTER data lands; the loser's files become orphans that
        # expire_snapshots removes)
        staging_rel = os.path.join(_DATA, f"v{version:06d}-{uuid.uuid4().hex[:8]}")
        staging = os.path.join(self.path, staging_rel)
        props = self.snap.get("properties", {})
        sort_cols = props.get("write.sort.cols")
        if isinstance(sort_cols, str):
            sort_cols = [c.strip() for c in sort_cols.split(",") if c.strip()]
        if not isinstance(df, DataFrame):
            return self._write_arrow_buckets(df, staging_rel, sort_cols or [])
        out_df = df if pre_partitioned else df.repartition(F.col("__b"))
        if sort_override is not None:
            # caller-supplied sort expressions (zorder compaction) — may
            # be Column objects, so the sort key never lands in the files
            out_df = out_df.sortWithinPartitions("__b", *sort_override)
        elif sort_cols:
            out_df = out_df.sortWithinPartitions("__b", *sort_cols)
        writer = out_df.write.mode("overwrite").partitionBy("__b").option("compression", _CODEC)
        mrpf = props.get("write.max-records-per-file")
        if mrpf:
            writer = writer.option("maxRecordsPerFile", int(mrpf))
        writer.parquet(staging)
        out: dict[str, list[str]] = {}
        for entry in os.listdir(staging):
            if not entry.startswith("__b="):
                continue
            b = entry.split("=", 1)[1]
            bucket_dir = os.path.join(staging, entry)
            rels = [
                os.path.join(staging_rel, entry, fn)
                for fn in os.listdir(bucket_dir)
                if fn.endswith(".parquet")
            ]
            out[b] = rels
        return out

    def _write_arrow_buckets(
        self, tbl, staging_rel: str, sort_cols: list[str]
    ) -> dict[str, list[str]]:
        """pyarrow twin of the Spark bucket write for a driver-side
        table: rows sorted by `__b` then `sort_cols` (ascending, nulls
        first, as `sortWithinPartitions`), `__b=<k>/` directories, `__b`
        left out of the files, the table's own nullability (as Spark's
        writer keeps its input's), zstd (`_CODEC`, as in Spark's writes)
        and no Arrow schema blob in the footer. The per-bucket slices
        are written on a thread pool (`_thread_map`). An empty table
        writes nothing."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if tbl.num_rows == 0:
            return {}
        mrpf = int(self.snap.get("properties", {}).get("write.max-records-per-file") or 0)
        names_l = {n.lower(): n for n in tbl.column_names}
        order = pc.sort_indices(
            tbl,
            sort_keys=[("__b", "ascending"), *((names_l[c.lower()], "ascending") for c in sort_cols)],
            null_placement="at_start",
        )
        tbl = tbl.take(order)
        buckets = tbl.column("__b").combine_chunks()
        data = tbl.drop_columns(["__b"])
        out: dict[str, list[str]] = {}
        parts = []  # (relpath, first row, row count)
        start = 0
        for run in pc.value_counts(buckets):
            b, n = run["values"].as_py(), run["counts"].as_py()
            bucket_rel = os.path.join(staging_rel, f"__b={b}")
            os.makedirs(os.path.join(self.path, bucket_rel), exist_ok=True)
            step = mrpf if mrpf > 0 else n
            rels = out.setdefault(str(b), [])
            for off in range(start, start + n, step):
                rel = os.path.join(
                    bucket_rel,
                    f"part-{len(rels):05d}-{uuid.uuid4()}.c000.{_CODEC}.parquet",
                )
                parts.append((rel, off, min(step, start + n - off)))
                rels.append(rel)
            start += n

        def write(part):
            rel, off, n = part
            pq.write_table(
                data.slice(off, n), os.path.join(self.path, rel),
                compression=_CODEC, store_schema=False,
            )

        _thread_map(write, parts)
        return out

    def write_change_files(self, df: DataFrame, version: int) -> list[str]:
        """Persist one commit's change-candidate rows (schema cols +
        __seq/__deleted) as change-data files (Delta CDF `_change_data`
        equivalent); returns relpaths for the commit's `changes`
        manifest. Plain parquet — the changelog read scans whole window
        files, so bucket layout buys nothing here."""
        staging_rel = os.path.join(
            _DATA, f"v{version:06d}-cdf-{uuid.uuid4().hex[:8]}"
        )
        staging = os.path.join(self.path, staging_rel)
        df.drop("__b").write.mode("overwrite").option("compression", _CODEC).parquet(staging)
        # prune zero-row part files (Spark writes one even for an empty
        # post-image): a fully-stale epoch then returns [] — a KNOWN
        # empty change set, so the merge's fully-stale fast path can
        # fire and the commit manifest never carries dataless files.
        # Footer-only row counts, driver-side, O(part files).
        import pyarrow.parquet as _pq

        rels = []
        for fn in os.listdir(staging):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(staging, fn)
            if _pq.ParquetFile(full).metadata.num_rows == 0:
                os.remove(full)
                continue
            rels.append(os.path.join(staging_rel, fn))
        return rels

    # ------------------------------------------------------------ commit
    def commit(
        self,
        new_bucket_files: dict[str, list[str]],
        epoch: int | None = None,
        properties: dict | None = None,
        schema: T.StructType | None = None,
        aliases: dict | None = None,
        new_delta_files: dict[str, list[str]] | None = None,
        clear_delta_buckets: list[int] | None = None,
        change_files: list[str] | None = None,
        operation: str | None = None,
        staged: bool = False,
        tags: dict | None = None,
    ):
        """Commit a new snapshot. `new_bucket_files` REPLACES the listed
        buckets' base files (copy-on-write rewrite); `new_delta_files`
        APPENDS merge-on-read delta files per bucket;
        `clear_delta_buckets` drops pending deltas the commit absorbed
        (a copy-on-write rewrite or a compaction of those buckets).

        `change_files` is THIS commit's change-data manifest (Delta CDF
        / Iceberg changelog equivalent): relpaths of parquet files
        holding the commit's change-candidate rows (the merge winner
        set, schema cols + __seq/__deleted). Pass [] for commits that
        provably do not change resolved table state (compaction,
        rescale, property stamps); leave None for commits whose change
        set is unknown — `table_changes` falls back to a full snapshot
        diff across any window containing an unknown commit."""
        snap = dict(self.snap)
        snap["parent"] = snap["version"]
        snap["version"] = snap["version"] + 1
        # per-commit fields — never inherited from the parent snapshot
        snap["changes"] = list(change_files) if change_files is not None else None
        snap["operation"] = operation or "commit"
        snap["ts"] = round(time.time(), 3)
        files = dict(snap["files"])
        files.update(new_bucket_files)
        snap["files"] = files
        deltas = dict(snap.get("deltas", {}))
        for b in clear_delta_buckets or []:
            deltas.pop(str(b), None)
        for b, rels in (new_delta_files or {}).items():
            if rels:
                deltas[str(b)] = deltas.get(str(b), []) + list(rels)
        snap["deltas"] = deltas
        if epoch is not None:
            snap["committed_epochs"] = sorted(set(snap["committed_epochs"]) | {int(epoch)})
        if properties:
            # a None value UNSETS the key (ALTER TABLE UNSET TBLPROPERTIES)
            merged = {**snap["properties"], **properties}
            snap["properties"] = {k: v for k, v in merged.items() if v is not None}
        if schema is not None:
            snap["schema"] = json.loads(schema.json())
        if aliases is not None:
            snap["aliases"] = aliases
        if tags is not None:
            # full replacement (tag/drop_tag build the new dict); never
            # mutate the parent's dict — snap is a SHALLOW copy
            snap["tags"] = dict(tags)
        _refresh_stats(self.path, snap, spark=self.spark)
        self._refresh_blooms(snap, new_bucket_files)
        if staged:
            # write-audit-publish: park the fully-built snapshot under
            # _meta/staged-<id>.json instead of CAS-publishing it; the
            # handle's audit()/publish()/abort() finish the protocol.
            # This handle's view is NOT advanced — readers (including
            # this process) keep seeing the committed head.
            from wrangler_spark.lake.wap import StagedCommit

            return StagedCommit.stage(self, snap)
        prev = self.snap
        self.snap = snap
        self._write_snapshot(parent=prev)
        return None

    def _refresh_blooms(self, snap: dict, new_bucket_files: dict) -> None:
        """Build per-file bloom indexes for this commit's NEW base files
        (opt-in via `bloom.cols`), persist them as a sidecar manifest,
        and prune manifest pointers whose files are all dead. Delta
        files are not indexed: scan() exempts delta-carrying buckets
        from file skipping anyway (the stale-seq trap)."""
        from wrangler_spark.lake import bloom as _bloom

        live = {x for fl in snap["files"].values() for x in fl}
        # a pointer stays while ANY of its files is still referenced
        manifests = [
            m
            for m in snap.get("bloom_manifests", [])
            if any(r in live for r in m["files"])
        ]
        cols = _bloom.bloom_cols(snap)
        # DML commits pass survivor files through new_bucket_files (the
        # per-bucket manifest is a full replacement list); files already
        # covered by a live manifest keep their blooms — only genuinely
        # new files build
        indexed = {r for m in manifests for r in m["files"]}
        new_rels = [
            r for fl in (new_bucket_files or {}).values() for r in fl if r not in indexed
        ]
        if cols and new_rels:
            fpp = float(snap.get("properties", {}).get("bloom.fpp", 0.01))
            built = _bloom.build_blooms(self.spark, self.path, new_rels, cols, fpp)
            if built:
                rel = _bloom.write_manifest(self.path, snap["version"], built, fpp)
                manifests.append({"path": rel, "files": sorted(built)})
        if manifests or "bloom_manifests" in snap:
            snap["bloom_manifests"] = manifests

    # ------------------------------------------------------------ merge
    def merge(
        self,
        changes: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        epoch: int | None = None,
        evolve: bool = True,
        metrics: dict | None = None,
        renames: dict | None = None,
        explain_sink: list | None = None,
        mode: str = "cow",
        staged: bool = False,
    ) -> dict:
        from wrangler_spark.lake.merge import merge_into

        return merge_into(
            self, changes, seq_col=seq_col, op_col=op_col, epoch=epoch,
            evolve=evolve, metrics=metrics, renames=renames,
            explain_sink=explain_sink, mode=mode, staged=staged,
        )

    def upsert(self, df: DataFrame, mode: str = "cow") -> dict:
        """Direct DataFrame upsert (DeltaTable `merge`-sugar for
        consumers without a change stream): rows matching the table
        schema land as LWW winners over the current state — every row
        gets a commit sequence ABOVE the table's high-water `max_seq`,
        so it beats any stored row for its key; new keys insert,
        tombstoned keys revive. Duplicate keys WITHIN the batch resolve
        arbitrarily (their seqs are assigned in partition order) — feed
        a deduplicated batch when the winner matters.

        Same engine path as CDC (`merge_into`): bucket-pruned
        copy-on-write or `mode='mor'` delta append, CDF change files,
        CHECK-constraint enforcement, stats/bloom sidecars — a plain
        batch write is just a degenerate change stream.

        Seqs come from `monotonically_increasing_id()` (shuffle-free;
        sparse — partition id in the high bits), so `max_seq` advances
        by up to ~2^40 per upsert batch: correct (strictly monotonic,
        int64 has ~2^22 such batches of headroom) and intentionally
        FENCING — raw CDC events with smaller seqs arriving later lose
        LWW to this batch, exactly like `delete_where` tombstones."""
        clash = {c for c in df.columns if c.lower() in ("seq", "op")}
        if clash:
            raise ValueError(
                f"upsert: drop column(s) {sorted(clash)} first — seq/op are "
                "assigned by the engine (use merge() for raw change events)"
            )
        base = int(self.snap.get("properties", {}).get("max_seq", 0))
        events = df.select(
            (F.lit(base) + F.monotonically_increasing_id() + 1).alias("seq"),
            F.lit("upsert").alias("op"),
            "*",
        )
        return self.merge(events, mode=mode)

    def delete_keys(self, df: DataFrame, mode: str = "cow") -> dict:
        """Key-batch delete: each (key-columns) row in `df` becomes a
        tombstone above the high-water seq (fencing any late lower-seq
        CDC event for that key). The set-based companion of
        `delete_where`'s predicate path."""
        base = int(self.snap.get("properties", {}).get("max_seq", 0))
        payload = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.schema.fields
            if f.name not in self.key_cols
        ]
        events = df.select(
            (F.lit(base) + F.monotonically_increasing_id() + 1).alias("seq"),
            F.lit("delete").alias("op"),
            *self.key_cols,
            *payload,
        )
        return self.merge(events, mode=mode)

    # ------------------------------------------------------------ DML
    def delete_where(
        self, filters: list, epoch: int | None = None, mode: str = "cow"
    ) -> dict:
        """DELETE FROM … WHERE (col, op, value) conjuncts — metadata-
        pruned; cow = file-granular rewrite, mor = tombstone deltas
        only (no base rewrite); see lake/dml.py."""
        from wrangler_spark.lake.dml import delete_where

        return delete_where(self, filters, epoch=epoch, mode=mode)

    def update_where(
        self, filters: list, set: dict, epoch: int | None = None, mode: str = "cow"
    ) -> dict:
        """UPDATE … SET col=expr WHERE (col, op, value) conjuncts."""
        from wrangler_spark.lake.dml import update_where

        return update_where(self, filters, set, epoch=epoch, mode=mode)

    def merge_builder(self, source: DataFrame):
        """General MERGE INTO builder (Delta DeltaMergeBuilder shape):
        when_matched_update / when_matched_delete /
        when_not_matched_insert with SQL conditions over t.* / s.*."""
        from wrangler_spark.lake.dml import MergeBuilder

        return MergeBuilder(self, source)

    def truncate(self) -> dict:
        """Remove every row, metadata-only (Delta `TRUNCATE TABLE`
        shape): the new snapshot references no data files and clears
        pending deltas — no job runs, cost is O(1) regardless of table
        size; `expire_snapshots` reclaims the bytes later. Like Delta,
        truncate is a table RESET, not a per-key tombstone: a late
        lower-seq change event can legitimately re-insert its key
        afterwards (use `delete_where` when deletes must stay fenced).
        `change_files=None` → a replica window crossing the truncate
        falls back to the snapshot diff and converges to emptiness."""
        empty = {b: [] for b in list(self.snap["files"])}
        deltas = [int(b) for b in self.snap.get("deltas", {})]
        self.commit(
            empty,
            clear_delta_buckets=deltas or None,
            change_files=None,
            operation="truncate",
        )
        return {"version": self.version, "files_dropped": sum(map(len, self.snap["files"].values())) == 0}

    # ------------------------------------------------------------ maintenance
    @staticmethod
    def _snapshot_refs(snap: dict) -> set[str]:
        """Every data-plane relpath a snapshot pins: base files, pending
        MoR deltas, and its change-data (CDF) files."""
        refs: set[str] = set()
        for rels in snap.get("files", {}).values():
            refs.update(rels)
        for rels in snap.get("deltas", {}).values():
            refs.update(rels)
        refs.update(snap.get("changes") or [])
        return refs

    @staticmethod
    def _snapshot_sidecars(snap: dict) -> set[str]:
        """Basenames of the stats/bloom sidecar manifests a snapshot
        points at (pointers carry forward, so a sidecar can outlive the
        version that wrote it)."""
        return {
            os.path.basename(m["path"])
            for key in ("bloom_manifests", "stats_manifests")
            for m in (snap.get(key) or [])
        }

    def _protected_snapshots(self) -> list[dict]:
        """Snapshots that pin files REGARDLESS of version retention:
        staged write-audit-publish commits (their data landed before the
        snapshot was parked under _meta/staged-<id>.json — deleting it
        would corrupt a later publish) and branch heads (each branch's
        retained snapshots reference shared data files by relpath)."""
        out: list[dict] = []
        meta_dir = os.path.join(self.path, _META)
        for fn in os.listdir(meta_dir):
            if fn.startswith("staged-") and fn.endswith(".json"):
                with open(os.path.join(meta_dir, fn)) as f:
                    out.append(json.load(f))
        for name in self.branches():
            bdir = os.path.join(meta_dir, f"branch-{name}")
            for fn in os.listdir(bdir):
                if fn.startswith("version-") and fn.endswith(".json"):
                    with open(os.path.join(bdir, fn)) as f:
                        out.append(_hydrate(bdir, json.load(f)))
        return out

    def remove_orphans(self, older_than_s: float = 3 * 86400) -> dict:
        """Delete data files and sidecar manifests on disk that no
        retained snapshot, staged commit, or branch references (Iceberg
        `remove_orphan_files`): the leavings of CAS-losing writers,
        crashed jobs that wrote data but never reached the commit, and
        aborted Spark tasks. NO snapshot is expired — every retained
        version stays time-travelable.

        `older_than_s` is the same safety valve Iceberg ships (default
        3 days there and here): a concurrent writer's files exist on
        disk BEFORE its commit CAS lands, so only files older than the
        grace window are collectable. Pass 0 only when no writer can be
        in flight."""
        self._main_only("remove_orphans")
        cutoff = time.time() - max(0.0, float(older_than_s))
        meta_dir = os.path.join(self.path, _META)
        live: set[str] = set()
        live_sidecars: set[str] = set()
        snaps = list(self._protected_snapshots())
        for fn in os.listdir(meta_dir):
            if fn.startswith("version-") and fn.endswith(".json"):
                with open(os.path.join(meta_dir, fn)) as f:
                    snaps.append(_hydrate(meta_dir, json.load(f)))
        for snap in snaps:
            live |= self._snapshot_refs(snap)
            live_sidecars |= self._snapshot_sidecars(snap)
        removed = self._sweep_data_dir(live, cutoff)
        removed_sidecars = 0
        for fn in os.listdir(meta_dir):
            if (
                (fn.startswith("bloom-v") or fn.startswith("stats-v"))
                and fn not in live_sidecars
            ):
                full = os.path.join(meta_dir, fn)
                if os.path.getmtime(full) < cutoff:
                    os.remove(full)
                    removed_sidecars += 1
        return {
            "removed_data_files": removed,
            "removed_sidecars": removed_sidecars,
            "live_files": len(live),
        }

    def _sweep_data_dir(self, live: set[str], cutoff: float) -> int:
        """Remove unreferenced data files older than `cutoff`; prune
        directories that end up empty. Returns files removed."""
        import shutil as _shutil

        removed = 0
        data_dir = os.path.join(self.path, _DATA)
        for root, _dirs, files in os.walk(data_dir, topdown=False):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if rel not in live and os.path.getmtime(full) < cutoff:
                    os.remove(full)
                    removed += 1
            if root != data_dir and not os.listdir(root):
                _shutil.rmtree(root, ignore_errors=True)
        return removed

    def expire_snapshots(self, keep_last: int = 2, older_than_s: float = 0.0) -> dict:
        """Expire old snapshots and delete their orphaned data files
        (Iceberg `expire_snapshots` equivalent). Keeps the most recent
        `keep_last` versions time-travelable; any data file not
        referenced by a retained snapshot is removed. Metadata JSONs of
        expired versions are dropped too.

        Copy-on-write merges re-list every affected bucket per version,
        so without expiry the data directory grows by one superseded
        copy of each rewritten bucket per epoch — at 10^10 events that
        is the dominant storage cost; expiry bounds it to keep_last
        copies.
        """
        self._main_only("expire_snapshots")
        keep_last = max(1, keep_last)
        current = self.version
        recent = {v for v in range(current - keep_last + 1, current + 1) if v >= 0}
        # tagged versions are pinned: a tag is a retention promise, so
        # its snapshot (and files) survive until the tag is dropped
        pinned = {int(v) for v in self.snap.get("tags", {}).values()}
        keep = sorted(recent | pinned)
        meta_dir = os.path.join(self.path, _META)
        # staged WAP commits and branch snapshots pin their files even
        # though no retained main version references them yet — expiring
        # under a staged commit must not corrupt its later publish
        live: set[str] = set()
        live_sidecars: set[str] = set()
        keep_set = set(keep)
        # a retained DIFF snapshot whose parent is about to expire must
        # become a self-contained checkpoint first, or its hydration
        # chain breaks. Ascending order: once version v-1 is rewritten
        # (or kept), v's one-hop base is guaranteed readable.
        for v in keep:
            p = _version_path(meta_dir, v)
            if not os.path.exists(p):
                continue
            with open(p) as f:
                raw = json.load(f)
            if "log" in raw and int(raw["log"]["base"]) not in keep_set:
                _atomic_write(p, json.dumps(_hydrate(meta_dir, raw), indent=1))
        snaps = list(self._protected_snapshots())
        for v in keep:
            p = _version_path(meta_dir, v)
            if os.path.exists(p):
                snaps.append(_read_snapshot(meta_dir, v))
        for snap in snaps:
            # change-data files referenced by a retained commit stay
            # readable for incremental table_changes over that window
            live |= self._snapshot_refs(snap)
            live_sidecars |= self._snapshot_sidecars(snap)
        # `older_than_s` grace (Iceberg remove_orphan_files safety
        # valve): a CONCURRENT writer's files hit disk before its commit
        # CAS — with a grace window those survive; 0 keeps the
        # single-writer maintenance semantics (collect everything now)
        cutoff = time.time() - max(0.0, float(older_than_s))
        removed_files = self._sweep_data_dir(live, cutoff)
        removed_meta = 0
        # CAS-losing or aborted-staged writers' sidecars collect here too
        for fn in os.listdir(meta_dir):
            if fn.startswith("version-") and fn.endswith(".json"):
                v = int(fn[len("version-"):-len(".json")])
                if v not in keep:
                    os.remove(os.path.join(meta_dir, fn))
                    removed_meta += 1
            elif (
                fn.startswith("bloom-v") or fn.startswith("stats-v")
            ) and fn not in live_sidecars:
                full = os.path.join(meta_dir, fn)
                if os.path.getmtime(full) < cutoff:
                    os.remove(full)
        return {
            "kept_versions": keep,
            "removed_data_files": removed_files,
            "removed_snapshots": removed_meta,
        }

    def tag(self, name: str, version: int | None = None) -> dict:
        """Iceberg `CREATE TAG`: a named pin of a snapshot version,
        recorded in a metadata-only commit. A tagged version (and every
        file it references) survives `expire_snapshots` until the tag
        is dropped — the audit/compliance retention story ("keep the
        monthly snapshot") without keeping everything since.

        Tags resolve at read time via `LakeTable.load(path, tag=name)`
        and never move (Iceberg tags are immutable refs; re-pointing
        requires drop + re-create)."""
        v = self.version if version is None else int(version)
        if not os.path.exists(_version_path(_ref_meta(self.path, self.snap.get("branch")), v)):
            raise ValueError(f"version {v} is not retained; cannot tag it")
        tags = dict(self.snap.get("tags", {}))
        if name in tags:
            raise ValueError(
                f"tag {name!r} already points at version {tags[name]}; drop it first"
            )
        tags[name] = v
        self.commit({}, change_files=[], operation="tag", tags=tags)
        return {"version": self.version, "tag": {name: v}}

    def drop_tag(self, name: str) -> dict:
        tags = dict(self.snap.get("tags", {}))
        if name not in tags:
            raise ValueError(f"no tag {name!r} on this table")
        tags.pop(name)
        self.commit({}, change_files=[], operation="drop-tag", tags=tags)
        return {"version": self.version, "dropped": name}

    def branches(self) -> list[str]:
        """Names of live branches (Iceberg refs): each is an independent
        metadata namespace under `_meta/branch-<name>/` whose snapshots
        share this table's data files by relpath."""
        meta_dir = os.path.join(self.path, _META)
        return sorted(
            fn[len("branch-"):]
            for fn in os.listdir(meta_dir)
            if fn.startswith("branch-") and os.path.isdir(os.path.join(meta_dir, fn))
        )

    def _main_only(self, op: str) -> None:
        if self.snap.get("branch"):
            raise ValueError(
                f"{op} must run on the main ref, not branch "
                f"{self.snap['branch']!r} (it reasons over the whole table's files)"
            )

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a writable branch at this snapshot (Iceberg `CREATE
        BRANCH` — a named ref with its own version chain under
        `_meta/branch-<name>/`, sharing data files by relpath). Commits
        through the returned handle are invisible to main until
        `fast_forward(name)` publishes them — multi-commit staging, the
        generalization of single-commit write-audit-publish.

        The branch carries schema, pending MoR deltas, CHECK
        constraints, properties and the committed-epoch set, so a
        Replayer pointed at the branch keeps exactly-once fencing.
        `expire_snapshots`/`remove_orphans` on main treat every branch
        snapshot as live (nothing a branch references is collectable).

        Creation is atomic: the branch directory itself is the CAS
        (mkdir is exclusive), so two racers get exactly one branch."""
        import copy as _copy
        import re as _re

        self._main_only("create_branch")
        if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        bdir = _ref_meta(self.path, name)
        try:
            os.makedirs(bdir, exist_ok=False)
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        snap = _copy.deepcopy(self.snap)
        snap.update(
            {
                "version": 0,
                "parent": None,
                "branch": name,
                "branch_base": self.version,
                "ff_from": 0,
                "changes": [],
                "tags": {},
                "operation": "create-branch",
                "ts": round(time.time(), 3),
            }
        )
        bt = LakeTable(self.spark, self.path, snap)
        bt._write_snapshot()
        return bt

    def drop_branch(self, name: str) -> dict:
        """Delete a branch ref. Data files only the branch referenced
        become orphans, collected by the next expire_snapshots /
        remove_orphans pass (exactly the Iceberg model: dropping a ref
        releases its retention pins)."""
        import shutil as _shutil

        self._main_only("drop_branch")
        bdir = _ref_meta(self.path, name)
        if not os.path.isdir(bdir):
            raise ValueError(f"no branch {name!r} (have {self.branches()})")
        _shutil.rmtree(bdir)
        return {"dropped": name}

    def fast_forward(self, name: str) -> dict:
        """Publish a branch's commits onto main (Iceberg
        `fast_forward`): allowed only when main has NOT moved since the
        branch's base (otherwise CommitConflictError — drop and
        re-create the branch from the new head; there is no automatic
        rebase). The branch state lands as ONE main commit through the
        same version-file CAS as every other write, so it is atomic
        against concurrent writers.

        Change-data manifests are preserved: if every folded branch
        commit recorded its CDF files, the fast-forward commit's
        `changes` is their concatenation in commit order and
        `table_changes` across the publish stays O(delta); any unknown
        window degrades to `changes: null` (snapshot-diff fallback).
        The branch then re-bases onto the new main head (`branch_base`
        advances, `ff_from` marks the folded prefix) so work can
        continue on it and a later fast-forward folds only NEW
        commits."""
        import copy as _copy

        self._main_only("fast_forward")
        bt = LakeTable.load(self.spark, self.path, branch=name)
        base = int(bt.snap["branch_base"])
        if base != self.version:
            raise CommitConflictError(
                f"fast_forward({name!r}): main moved to version "
                f"{self.version} since the branch based on {base}; "
                "drop and re-create the branch from the current head"
            )
        ff_from = int(bt.snap.get("ff_from", 0))
        if bt.version <= ff_from:
            return {"version": self.version, "commits_folded": 0}
        # the folded commits' CDF manifests; one unknown change set
        # poisons the window → null
        changes = _window_changes(_ref_meta(self.path, name), ff_from, bt.version)
        new = _copy.deepcopy(bt.snap)
        for k in ("branch", "branch_base", "ff_from"):
            new.pop(k, None)
        new.update(
            {
                "version": self.version + 1,
                "parent": self.version,
                "changes": changes,
                "tags": dict(self.snap.get("tags", {})),
                "operation": f"fast-forward({name})",
                "ts": round(time.time(), 3),
            }
        )
        published = LakeTable(self.spark, self.path, new)
        # CAS — raises on a concurrent commit; parent is main's head
        published._write_snapshot(parent=self.snap)
        folded = bt.version - ff_from
        self.snap = new
        self.__dict__.pop("_stats_cache", None)
        # re-base the branch; if a branch writer raced us the stamp
        # loses its CAS — main already published, and the stale
        # branch_base correctly refuses the NEXT fast-forward
        stamp = _copy.deepcopy(bt.snap)
        stamp.update(
            {
                "version": bt.version + 1,
                "parent": bt.version,
                "branch_base": new["version"],
                # the stamp itself is already-published state: the next
                # fast-forward folds only commits AFTER it
                "ff_from": bt.version + 1,
                "changes": [],
                "operation": "rebase",
                "ts": round(time.time(), 3),
            }
        )
        try:
            LakeTable(self.spark, self.path, stamp)._write_snapshot(parent=bt.snap)
        except CommitConflictError:
            pass
        return {"version": new["version"], "commits_folded": folded}

    @property
    def tags(self) -> dict:
        return dict(self.snap.get("tags", {}))

    def history(self) -> list[dict]:
        """Commit history of the retained snapshots, newest first — the
        Iceberg `snapshots` metadata table / Delta DESCRIBE HISTORY
        equivalent: version, parent, wall-clock ts, operation, epochs
        committed at that version, and file counts. Pure metadata (one
        JSON read per retained version, no Spark jobs)."""
        meta_dir = _ref_meta(self.path, self.snap.get("branch"))
        out = []
        for fn in sorted(os.listdir(meta_dir), reverse=True):
            if not (fn.startswith("version-") and fn.endswith(".json")):
                continue
            with open(os.path.join(meta_dir, fn)) as f:
                s = json.load(f)
            if "files" in s:  # checkpoint — count inline
                n_files = sum(len(v) for v in s["files"].values())
                n_delta = sum(len(v) for v in s.get("deltas", {}).values())
            else:  # diff snapshot — summary counts ride the log entry
                n_files = int(s.get("n_files", 0))
                n_delta = int(s.get("n_delta_files", 0))
            out.append(
                {
                    "version": s["version"],
                    "parent": s.get("parent"),
                    "ts": s.get("ts"),
                    "operation": s.get("operation", "commit"),
                    "committed_epochs": s.get("committed_epochs", []),
                    "n_files": n_files,
                    "n_delta_files": n_delta,
                    "n_change_files": len(s.get("changes") or []),
                }
            )
        return out

    def inspect_files(self) -> DataFrame:
        """Iceberg `t.files` metadata table (see lake/inspect.py)."""
        from wrangler_spark.lake.inspect import files_df

        return files_df(self.spark, self)

    def inspect_partitions(self) -> DataFrame:
        from wrangler_spark.lake.inspect import partitions_df

        return partitions_df(self.spark, self)

    def inspect_snapshots(self) -> DataFrame:
        from wrangler_spark.lake.inspect import snapshots_df

        return snapshots_df(self.spark, self)

    def describe(self) -> dict:
        """DESCRIBE DETAIL: one metadata-only summary dict."""
        from wrangler_spark.lake.inspect import describe

        return describe(self)

    def rename_column(self, old: str, new: str) -> dict:
        """Iceberg `RENAME COLUMN` as a standalone metadata-only commit
        (renames also flow through merges via `renames=`): the old name
        becomes a read alias so pre-rename data files keep resolving,
        exactly like the merge path — both delegate to evolve_schema.
        Key columns cannot rename (they address buckets and merges)."""
        if old.lower() in {k.lower() for k in self.key_cols}:
            raise ValueError(f"cannot rename table key column {old!r}")
        if not any(f.name.lower() == old.lower() for f in self.schema.fields):
            raise ValueError(f"rename_column: no column {old!r} in table schema")
        from wrangler_spark.lake.constraints import constraints_referencing

        refs = constraints_referencing(self, old)
        if refs:
            raise ValueError(
                f"cannot rename {old!r}: CHECK constraint(s) {refs} reference "
                "it (the stored expression would stop resolving and abort "
                "every future write); drop the constraint(s) first"
            )
        schema, aliases = evolve_schema(
            self.schema, T.StructType([]), renames={old: new},
            aliases=self.aliases, dropped=self.snap.get("dropped", []),
        )
        if not any(f.name.lower() == new.lower() for f in schema.fields):
            raise ValueError(f"rename_column: target name {new!r} collides")
        self.commit(
            {}, schema=schema, aliases=aliases, change_files=[],
            operation=f"rename-column({old}->{new})",
        )
        return {"version": self.version, "renamed": {old: new}}

    def set_properties(self, props: dict) -> dict:
        """Metadata-only property update commit (ALTER TABLE SET
        TBLPROPERTIES): e.g. enable bloom.cols / stats.cols / mor
        compaction triggers on an existing table."""
        self.commit({}, properties=dict(props), change_files=[],
                    operation="set-properties")
        return {"version": self.version,
                "properties": dict(self.snap.get("properties", {}))}

    def add_constraint(self, name: str, expr: str) -> dict:
        """Delta `ALTER TABLE ADD CONSTRAINT` shape: validate existing
        data (one resolved scan), then record the SQL CHECK expression
        as property `constraint.<name>` in a metadata-only commit.
        Every subsequent merge/UPDATE/MERGE enforces it (see
        lake/constraints.py for modes and CDC semantics)."""
        from wrangler_spark.lake.constraints import add_constraint

        return add_constraint(self, name, expr)

    def drop_constraint(self, name: str) -> dict:
        from wrangler_spark.lake.constraints import drop_constraint

        return drop_constraint(self, name)

    @property
    def constraints(self) -> dict:
        from wrangler_spark.lake.constraints import table_constraints

        return table_constraints(self.snap)

    def drop_column(self, name: str) -> dict:
        """Iceberg `DROP COLUMN` shape: metadata-only — the field leaves
        the schema in a new commit, data files are untouched, and every
        read/scan/changelog path prunes it via the schema projection.
        The name (and its read aliases — old files carry those) is
        recorded in the snapshot's `dropped` set; re-adding any of them
        is refused at evolve time (no field ids → a re-added name would
        resurrect pre-drop values; see evolve_schema). Key columns
        cannot drop."""
        n_l = name.lower()
        if n_l in {k.lower() for k in self.key_cols}:
            raise ValueError(f"cannot drop table key column {name!r}")
        fields = self.schema.fields
        if not any(f.name.lower() == n_l for f in fields):
            raise ValueError(f"drop_column: no column {name!r} in table schema")
        from wrangler_spark.lake.constraints import constraints_referencing

        refs = constraints_referencing(self, name)
        if refs:
            raise ValueError(
                f"cannot drop {name!r}: CHECK constraint(s) {refs} reference "
                "it (the stored expression would stop resolving and abort "
                "every future write); drop the constraint(s) first"
            )
        new_schema = T.StructType([f for f in fields if f.name.lower() != n_l])
        aliases = dict(self.aliases)
        retired = [n_l, *aliases.pop(n_l, [])]
        dropped = sorted(set(self.snap.get("dropped", [])) | set(retired))
        snap = dict(self.snap)
        snap["dropped"] = dropped
        self.snap = snap
        self.commit(
            {}, schema=new_schema, aliases=aliases, change_files=[],
            operation=f"drop-column({name})",
        )
        return {"version": self.version, "dropped": retired}

    def rollback(self, version: int) -> dict:
        """Roll the table back to an earlier retained version as a NEW
        commit (Iceberg `rollback_to_snapshot`): metadata-only — the
        new snapshot re-references the target version's files, deltas,
        schema, aliases and epoch set; no data moves. History after the
        target stays retained (roll forward by rolling back again).
        Change set vs the parent is unknown → `changes: null`, so
        `table_changes` across the rollback falls back to the snapshot
        diff (correct by construction)."""
        mdir = _ref_meta(self.path, self.snap.get("branch"))
        if not os.path.exists(_version_path(mdir, int(version))):
            raise ValueError(
                f"rollback: version {version} is not retained "
                f"(expired or never existed)"
            )
        target = _read_snapshot(mdir, int(version))
        snap = dict(self.snap)
        snap["parent"] = snap["version"]
        snap["version"] = snap["version"] + 1
        for k in ("files", "deltas", "schema", "aliases", "committed_epochs",
                  "properties", "stats", "stats_manifests"):
            if k in target:
                snap[k] = target[k]
            else:
                snap.pop(k, None)
        snap["changes"] = None
        snap["operation"] = f"rollback(to={version})"
        snap["ts"] = round(time.time(), 3)
        prev = self.snap
        self.snap = snap
        self._write_snapshot(parent=prev)
        return {"version": snap["version"], "restored": version}

    def _zorder_column(self, df: DataFrame, cols: list[str], bits: int = 8) -> F.Column:
        """Interleaved-bit Z-value over numeric/date/timestamp columns
        (Iceberg/Delta OPTIMIZE ZORDER BY equivalent). Each column maps
        to a 2^bits-bucket rank via approx-quantile boundaries (one
        driver-side approxQuantile pass per column — metadata-scale),
        then ranks interleave bitwise. 2^bits ranks per column (default 256 — far
        finer than any realistic per-bucket file count, and the rank
        fold costs 2^bits comparisons per row, so keep bits modest). Sorting by the Z-value clusters
        rows so that EVERY participating column's per-file [min, max]
        range is tight — a lexicographic multi-column sort only tightens
        the leading column. Null ranks as 0 (sorts first)."""
        n = len(cols)
        ranks = []
        for c in cols:
            f_ = next(f for f in df.schema.fields if f.name.lower() == c.lower())
            col = F.col(f_.name)
            if isinstance(f_.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                col = col.cast("timestamp").cast("long")
            elif not isinstance(
                f_.dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType),
            ):
                raise ValueError(
                    f"zorder column {c!r} must be numeric/date/timestamp, got "
                    f"{f_.dataType.simpleString()}"
                )
            col = col.cast("double")
            probe = df.select(col.alias("__z"))
            qs = [i / (1 << bits) for i in range(1, 1 << bits)]
            bounds = probe.approxQuantile("__z", qs, 0.01)
            # rank = count of boundaries below the value; boundaries ride
            # as ONE literal array and the count is an aggregate fold —
            # O(2^bits) comparisons inside codegen, no join, no shuffle
            barr = F.array(*[F.lit(b) for b in bounds])
            rank = F.aggregate(
                barr,
                F.lit(0),
                lambda acc, b: acc + F.when(col > b, 1).otherwise(0),
            )
            ranks.append(F.coalesce(rank, F.lit(0)))
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, i).bitwiseAND(F.lit(1)).cast("long")
                z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
        return z

    def compact(
        self,
        buckets: list[int] | None = None,
        zorder: list[str] | None = None,
        zorder_bits: int = 8,
        min_files: int | None = None,
    ) -> dict:
        """Fold pending merge-on-read deltas into the base buckets
        (Iceberg `rewrite_data_files` over partitions with delete
        files). Only buckets that actually hold deltas are rewritten;
        the resolved view is byte-identical before and after — compaction
        changes cost, never answers. Tombstones stay in the base, so a
        later stale update still loses.

        Run this on a cadence (the Replayer's `compact_every` does it
        every K epochs): it bounds the delta volume the broadcast
        read-resolution carries AND the per-bucket small-file count
        (each MoR epoch adds one delta file per touched bucket).

        Each bucket is a self-contained LWW domain, so while the target
        buckets' base and delta files take at most
        `_LOCAL_COMPACT_MAX_BYTES` on disk (a zero-job size sum) and
        every column has an Arrow mapping, the rewrite runs on the
        driver with zero Spark jobs: `resolve.resolve_files` resolves
        one bucket per thread, and `write_buckets` writes the rows with
        pyarrow. Larger rewrites, nested columns and `zorder` run the
        Spark plan (`_resolved` and a Spark bucket write); both honor
        `write.sort.cols` and `write.max-records-per-file`, commit an
        emptied bucket as [], and return `driver` saying which ran.

        `zorder=[cols]` additionally rewrites the targeted buckets (ALL
        requested buckets then, delta-bearing or not — it is a layout
        rewrite, Delta/Iceberg `OPTIMIZE ... ZORDER BY`) sorted by an
        interleaved-bit Z-value, so per-file stats are tight on EVERY
        listed column and multi-predicate scans skip files on any of
        them. Combine with `write.max-records-per-file` to bound the
        skippable unit.

        `min_files=N` additionally targets buckets whose BASE file
        count reached N (Delta `OPTIMIZE` bin-packing): a bucket
        accumulates small files from bounded-size writers
        (write.max-records-per-file tuned low for a since-passed
        workload), imported layouts, or rescale leftovers, and past
        some count the per-file open/footer cost dominates the scan —
        the rewrite coalesces them under the CURRENT properties."""
        from wrangler_spark.lake.resolve import arrow_supported

        pending = self.snap.get("deltas", {})
        if zorder:
            targets = sorted(
                b for b in (range(self.num_buckets) if buckets is None else buckets)
                if self.snap["files"].get(str(b)) or pending.get(str(b))
            )
        else:
            targets = sorted(
                int(b) for b in pending
                if pending[b] and (buckets is None or int(b) in buckets)
            )
            if min_files is not None:
                frag = [
                    int(b) for b, rels in self.snap["files"].items()
                    if len(rels) >= min_files
                    and (buckets is None or int(b) in buckets)
                ]
                targets = sorted(set(targets) | set(frag))
        if not targets:
            return {"compacted_buckets": 0, "version": self.version}
        new_version = self.version + 1
        driver = (
            not zorder
            and arrow_supported(self.schema)
            and _disk_bytes(self.bucket_files(targets) + self.delta_files(targets))
            <= _LOCAL_COMPACT_MAX_BYTES
        )
        if driver:
            bucket_files = self.write_buckets(self._resolved_arrow(targets), new_version)
        else:
            resolved, aligned = self._resolved(buckets=targets)
            resolved = resolved.withColumn("__b", self.bucket_expr(resolved))
            sort_override = (
                [self._zorder_column(resolved, zorder, zorder_bits)] if zorder else None
            )
            # broadcast-resolved rows are still bucket-aligned (the base
            # side never shuffled); the unhinted plan re-clusters before
            # writing. A bin-pack rewrite (min_files) intentionally PAYS
            # the clustering shuffle: keeping the task-parallel layout
            # would re-emit one file per input task and coalesce nothing.
            bucket_files = self.write_buckets(
                resolved,
                new_version,
                pre_partitioned=aligned and min_files is None,
                sort_override=sort_override,
            )
        for b in targets:
            bucket_files.setdefault(str(b), [])
        self.commit(bucket_files, clear_delta_buckets=targets, change_files=[],
                    operation="compact")
        return {"compacted_buckets": len(targets), "version": self.version, "driver": driver}

    def _resolved_arrow(self, buckets: list[int]):
        """`_resolved` of `buckets` as one `pyarrow.Table` with the
        bucket as an int `__b` column: each bucket's base and delta files
        resolve on their own thread (`resolve.resolve_files`)."""
        import pyarrow as pa

        from wrangler_spark.lake.resolve import resolve_files

        def one(b: int):
            tbl = resolve_files(
                self.bucket_files([b]), self.delta_files([b]), self.schema,
                self.aliases, self.key_cols,
            )
            return tbl.append_column("__b", pa.repeat(pa.scalar(b, pa.int32()), tbl.num_rows))

        return pa.concat_tables(_thread_map(one, buckets))

    def maintain(
        self,
        delta_files_max: int = 4,
        small_files_max: int = 16,
        expire_keep_last: int | None = None,
        expire_older_than_s: float = 0.0,
        orphan_older_than_s: float | None = None,
        dry_run: bool = False,
    ) -> dict:
        """One policy-driven maintenance pass (Delta auto-compact /
        Iceberg maintenance actions, folded into a single call for a
        cron or post-replay hook). Planning is METADATA-ONLY — the
        per-bucket worklist comes from the snapshot's file lists, zero
        Spark jobs and zero data reads unless a rewrite is actually
        due — so running it every epoch is safe at any table size.

        Policy: compact a bucket when it carries >= `delta_files_max`
        pending MoR delta files (bounds the read-resolution overlay) or
        >= `small_files_max` base files (bounds per-file open/footer
        cost — Delta OPTIMIZE bin-packing). Optionally expire snapshots
        (`expire_keep_last`) and collect orphans
        (`orphan_older_than_s`) in the same pass. `dry_run` returns the
        plan without touching anything."""
        self._main_only("maintain")
        deltas = self.snap.get("deltas", {})
        delta_due = sorted(
            int(b) for b, r in deltas.items() if len(r) >= int(delta_files_max)
        )
        frag_due = sorted(
            int(b) for b, r in self.snap["files"].items()
            if len(r) >= int(small_files_max)
        )
        out: dict = {
            "delta_buckets_due": delta_due,
            "fragmented_buckets_due": frag_due,
            "dry_run": bool(dry_run),
        }
        if dry_run:
            return out
        targets = sorted(set(delta_due) | set(frag_due))
        if targets:
            out["compact"] = self.compact(
                buckets=targets, min_files=int(small_files_max)
            )
        if expire_keep_last is not None:
            out["expire"] = self.expire_snapshots(
                keep_last=int(expire_keep_last),
                older_than_s=float(expire_older_than_s),
            )
        if orphan_older_than_s is not None:
            out["gc"] = self.remove_orphans(older_than_s=float(orphan_older_than_s))
        out["version"] = self.version
        return out

    def analyze(self, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE (Delta `ANALYZE TABLE ... COMPUTE STATISTICS
        FOR COLUMNS` / Iceberg `compute_table_stats` + Puffin NDV
        parity): ONE aggregate job over the resolved live rows computes
        per-column approx NDV (HLL++ via approx_count_distinct — the
        same sketch family Iceberg stores in Puffin theta blobs), null
        counts and average string length, plus the exact live row
        count; results land as `stats.table.*` / `stats.col.*` table
        properties in a metadata-only commit, surfaced by `describe()`.

        At 100 TB these are the planner-feeding numbers: key-column NDV
        sizes the bucket count (`rescale`) and broadcast-vs-shuffle
        choices; payload NDV picks Z-order/sort columns whose file
        stats will actually prune. One map-side-combining agg — never
        per-file work, independent of file count."""
        all_cols = [f.name for f in self.schema.fields]
        if columns is None:
            cols = all_cols
        else:
            by_l = {c.lower(): c for c in all_cols}
            missing = [c for c in columns if c.lower() not in by_l]
            if missing:
                raise ValueError(f"analyze: no such column(s) {missing}")
            cols = [by_l[c.lower()] for c in columns]
        df = self.read()
        aggs = [F.count(F.lit(1)).alias("__n")]
        strings = {
            f.name for f in self.schema.fields
            if f.dataType.simpleString() == "string"
        }
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"ndv__{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"))
            if c in strings:
                aggs.append(F.avg(F.length(c)).alias(f"avglen__{c}"))
        row = df.agg(*aggs).collect()[0].asDict()
        props: dict = {
            "stats.table.row_count": int(row["__n"]),
            "stats.table.analyzed_version": self.version,
        }
        for c in cols:
            props[f"stats.col.{c}.ndv"] = int(row[f"ndv__{c}"])
            props[f"stats.col.{c}.null_count"] = int(row[f"nulls__{c}"] or 0)
            if f"avglen__{c}" in row and row[f"avglen__{c}"] is not None:
                props[f"stats.col.{c}.avg_len"] = round(float(row[f"avglen__{c}"]), 2)
        self.commit({}, properties=props, change_files=[], operation="analyze")
        return {
            "version": self.version,
            "row_count": int(row["__n"]),
            "columns": {c: props[f"stats.col.{c}.ndv"] for c in cols},
        }

    def checkpoint_metadata(self) -> dict:
        """Force the CURRENT version's on-disk snapshot to a full
        checkpoint (rewrites the diff in place — semantically identical
        state, atomic rename). Use after an operation that touched many
        buckets (large DML, backfill) to cut every future reader's
        hydration chain at this version instead of waiting for the next
        interval checkpoint."""
        mdir = _ref_meta(self.path, self.snap.get("branch"))
        p = _version_path(mdir, self.version)
        with open(p) as f:
            raw = json.load(f)
        if "log" not in raw:
            return {"version": self.version, "rewritten": False}
        _atomic_write(p, json.dumps(_hydrate(mdir, raw), indent=1))
        return {"version": self.version, "rewritten": True}

    def rescale(self, num_buckets: int) -> dict:
        """Change the hash-bucket count (Iceberg partition-spec
        evolution, done eagerly): full resolved rewrite under the new
        bucketing. At 100 TB this is the once-a-quarter job you run when
        the table outgrows its bucket count — per-epoch merges stay
        pruned and balanced in between."""
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        resolved, _ = self._resolved()
        old_files = dict(self.snap["files"])
        self.snap = {**self.snap, "num_buckets": int(num_buckets)}
        resolved = resolved.withColumn("__b", self.bucket_expr(resolved))
        new_version = self.version + 1
        bucket_files = self.write_buckets(resolved, new_version, pre_partitioned=False)
        snap = dict(self.snap)
        snap["parent"] = snap["version"]
        snap["version"] = new_version
        # full replace: every bucket list is rebuilt under the new count
        snap["files"] = {
            str(b): bucket_files.get(str(b), []) for b in range(int(num_buckets))
        }
        snap["deltas"] = {}
        snap["changes"] = []  # rescale does not change resolved state
        _refresh_stats(self.path, snap, spark=self.spark)
        self.snap = snap
        self._write_snapshot()
        return {"num_buckets": int(num_buckets), "version": self.version}

    def clone(self, dest_path: str, mode: str = "auto") -> "LakeTable":
        """Shallow clone (Delta `SHALLOW CLONE` / an Iceberg snapshot
        fork): a NEW independent table whose v0 snapshot references the
        SAME physical bytes as this snapshot — an O(files) metadata
        operation, zero data bytes rewritten.

        Soundness rests on the immutable-file layout: writers only ever
        ADD files and commits retire names from their own metadata, so
        the two tables can merge/compact/vacuum independently — each
        vacuum unlinks only its own directory entry and the shared
        bytes live until the last link drops. On local/NFS filesystems
        the share is a HARDLINK; `mode='copy'` forces byte copies, and
        `'auto'` falls back per file on cross-device links (EXDEV). On
        object storage the same semantics are metadata-only
        absolute-path references (the Delta model); hardlinks are the
        local equivalent with identical lifecycle behavior.

        Carried: schema + aliases, key/bucket layout, pending MoR
        deltas, stats/bloom sidecars (scan pruning and metadata counts
        work immediately), CHECK constraints, properties, and the
        committed-epoch set — so exactly-once fencing still rejects a
        replayed epoch against the clone. Not carried: change-data
        files, tags and history (they describe the SOURCE's timeline;
        the clone starts a fresh one, with `cloned_from` provenance)."""
        import copy as _copy
        import shutil as _shutil

        if mode not in ("auto", "hardlink", "copy"):
            raise ValueError(f"clone mode {mode!r}: use auto|hardlink|copy")
        dest = os.path.abspath(dest_path)
        src_root = os.path.abspath(self.path)
        if dest == src_root or dest.startswith(src_root + os.sep):
            raise ValueError("clone destination cannot live inside the source table")
        if LakeTable.exists(dest):
            raise ValueError(f"a table already exists at {dest}")
        os.makedirs(os.path.join(dest, _META), exist_ok=True)
        os.makedirs(os.path.join(dest, _DATA), exist_ok=True)

        rels: list[str] = []
        for d in (self.snap["files"], self.snap.get("deltas", {})):
            for file_list in d.values():
                rels.extend(file_list)
        for key in ("stats_manifests", "bloom_manifests"):
            rels.extend(m["path"] for m in self.snap.get(key) or [])
        for rel in rels:
            s, t_ = os.path.join(src_root, rel), os.path.join(dest, rel)
            os.makedirs(os.path.dirname(t_), exist_ok=True)
            if mode == "copy":
                _shutil.copy2(s, t_)
                continue
            try:
                os.link(s, t_)
            except OSError:
                if mode == "hardlink":
                    raise
                _shutil.copy2(s, t_)

        snap = _copy.deepcopy(self.snap)
        snap.update(
            {
                "version": 0,
                "parent": None,
                "changes": [],
                "tags": {},
                "operation": "clone",
                "ts": round(time.time(), 3),
                "cloned_from": {"path": src_root, "version": self.version},
            }
        )
        out = LakeTable(self.spark, dest, snap)
        out._write_snapshot()
        return out

    def table_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Changelog between two retained snapshots (Iceberg
        `table_changes` / incremental read — the table as a CDC SOURCE,
        closing the loop with the merge's CDC sink).

        Emits one row per key whose resolved state differs between the
        snapshots: payload columns at the `to` state (null for deletes),
        `_change_op` ∈ insert|update|delete, and `_change_seq` (the
        winning commit sequence at `to`).

        Fast path — commit-scoped change data (Delta CDF / Iceberg
        changelog-scan equivalent): when every commit in the window
        recorded its change manifest (merges always do; compact/rescale
        record provably-empty ones), the read is
          O(window change rows) + a bucket-pruned (keys, seq, deleted)
          probe of the v0 snapshot restricted to touched keys
        — never a table scan. A Replicator.sync() per epoch then pays
        for the epoch's rows, not the table (the r3 scale hole: a
        10^-3-fraction window used to cost two full snapshot scans).
        Net-change semantics come from the read-time overlay
        (`lww_overlay`) of the window rows' LWW winners onto the v0
        state (base wins seq ties), so stale candidates and duplicate
        retries drop out exactly as they do in read().

        Fallback — any window commit without a manifest (pre-feature
        snapshot, external writer, changelog.enabled=false) falls back
        to the full snapshot diff below."""
        if to_version is None:
            to_version = self.version
        from_version, to_version = int(from_version), int(to_version)
        br = self.snap.get("branch")
        new = LakeTable.load(self.spark, self.path, version=to_version, branch=br)
        schema, aliases, keys = new.schema, new.aliases, self.key_cols
        if to_version <= from_version:
            return self._empty_changes(schema, keys)
        rels = _window_changes(_ref_meta(self.path, br), from_version, to_version)
        if rels is None:
            return self._table_changes_diff(from_version, to_version)
        # v0 must still be retained — same contract as the diff path
        old = LakeTable.load(self.spark, self.path, version=from_version, branch=br)
        if not rels:
            return self._empty_changes(schema, keys)
        w = self._read_files(
            [os.path.join(self.path, r) for r in rels], schema=schema, aliases=aliases
        )
        payload = [f.name for f in schema.fields if f.name not in keys]
        # touched buckets under the OLD layout (the window may rescale)
        buckets = sorted(
            r["__b"]
            for r in w.select(old.bucket_expr(w).alias("__b")).distinct().collect()
        )
        old_df, _ = old._resolved(buckets=buckets, schema=schema, aliases=aliases)
        old_k = old_df.select(*keys, "__seq", "__deleted").join(
            w.select(*keys).distinct(), on=keys, how="left_semi"
        )
        # the window's LWW winners that beat the v0 state (base wins seq
        # ties, as in read()): a v0-state winner means no net change, and
        # stale candidates and tied duplicate retries drop out
        from wrangler_spark.lake.merge import lww_dedup, lww_overlay

        _, win = lww_overlay(old_k, lww_dedup(w, keys, "__seq"), keys)
        om = old_k.select(
            *[F.col(k).alias(f"__o_{k}") for k in keys],
            F.col("__seq").alias("__o_seq"),
            F.col("__deleted").alias("__o_del"),
        )
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__o_{k}"))
            cond = c if cond is None else (cond & c)
        j = win.join(om, cond, "left")
        was_live = F.col("__o_seq").isNotNull() & ~F.coalesce(
            F.col("__o_del"), F.lit(False)
        )
        is_live = ~F.col("__deleted")
        op = (
            F.when(is_live & ~was_live, F.lit("insert"))
            .when(~is_live & was_live, F.lit("delete"))
            .when(is_live & was_live, F.lit("update"))
        )
        return (
            j.withColumn("_change_op", op)
            .filter(F.col("_change_op").isNotNull())
            .select(
                *keys,
                *[
                    F.when(F.col("_change_op") != "delete", F.col(c)).alias(c)
                    for c in payload
                ],
                "_change_op",
                F.col("__seq").alias("_change_seq"),
            )
        )

    def _empty_changes(self, schema: T.StructType, keys: list[str]) -> DataFrame:
        payload = [f for f in schema.fields if f.name not in keys]
        kf = [f for f in schema.fields if f.name in keys]
        out = T.StructType(
            [*kf, *payload,
             T.StructField("_change_op", T.StringType()),
             T.StructField("_change_seq", T.LongType())]
        )
        return self.spark.createDataFrame([], out)

    def _table_changes_diff(self, from_version: int, to_version: int) -> DataFrame:
        """Full snapshot diff (the pre-manifest changelog): a full-outer
        join of the two resolved snapshots on the co-bucketed key
        columns — old side projected to (keys, seq, deleted) so it
        contributes a skinny column-pruned scan. O(table) per window;
        kept as the fallback for windows containing a commit without a
        change manifest."""
        br = self.snap.get("branch")
        old = LakeTable.load(self.spark, self.path, version=from_version, branch=br)
        new = LakeTable.load(self.spark, self.path, version=to_version, branch=br)
        keys = self.key_cols
        # read through the NEW schema so evolved columns align; old files
        # null-fill columns they predate (same rule as any read)
        schema, aliases = new.schema, new.aliases
        old_df, _ = old._resolved(schema=schema, aliases=aliases)
        new_df, _ = new._resolved(schema=schema, aliases=aliases)
        o = old_df.select(
            *[F.col(k).alias(f"__o_{k}") for k in keys],
            F.col("__seq").alias("__o_seq"),
            F.col("__deleted").alias("__o_del"),
        )
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__o_{k}"))
            cond = c if cond is None else (cond & c)
        j = new_df.join(o, cond, "full_outer")
        in_new = F.col("__seq").isNotNull()
        in_old = F.col("__o_seq").isNotNull()
        was_live = in_old & ~F.col("__o_del")
        is_live = in_new & ~F.col("__deleted")
        changed_seq = in_new & in_old & (F.col("__seq") != F.col("__o_seq"))
        op = (
            F.when(is_live & ~was_live, F.lit("insert"))
            .when(~is_live & was_live, F.lit("delete"))
            .when(is_live & was_live & changed_seq, F.lit("update"))
        )
        payload = [f.name for f in schema.fields if f.name not in keys]
        out_keys = [
            F.coalesce(F.col(k), F.col(f"__o_{k}")).alias(k) for k in keys
        ]
        return (
            j.withColumn("_change_op", op)
            .filter(F.col("_change_op").isNotNull())
            .select(
                *out_keys,
                *[
                    F.when(F.col("_change_op") != "delete", F.col(c)).alias(c)
                    for c in payload
                ],
                "_change_op",
                F.col("__seq").alias("_change_seq"),
            )
        )
