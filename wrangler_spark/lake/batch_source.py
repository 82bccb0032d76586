"""Lake table as a first-class BATCH Python DataSource.

    register_lake_source(spark)
    df = (spark.read.format("lake")
          .option("path", table_path)
          .option("version", 7)          # or tag=..., branch=...,
          .load())                        #    asOfTimestamp=...

PySpark 4's Python DataSource API (SPARK-44076) + batch filter
pushdown (SPARK 4.1 `pushFilters`) make the snapshot-versioned lake
table readable through Spark's native reader the way Delta/Iceberg
tables are — `LakeTable.read()` stays the primary engine path; this
source is the API-parity surface for consumers that speak
`spark.read.format(...)` (SQL `CREATE TABLE ... USING`, notebooks,
connectors).

Scale design, mirroring the streaming `lake-changes` source:
- **Planning is metadata-only.** The snapshot (hydrated through the
  metadata diff log), its stats sidecars and the option-resolved
  version/tag/branch pin are all plain-JSON reads in the planning
  worker — no SparkSession, no file listing, no data-file opens.
- **Partitions are buckets.** Keys are bucket-aligned, so each bucket's
  base+delta files are a self-contained LWW resolution domain: one
  `InputPartition` per non-empty bucket, read EXECUTOR-side with
  pyarrow. No data moves through the driver.
- **Filter pushdown prunes files, Spark re-applies residuals.** Pushed
  =/</<=/>/>=/IN conjuncts drop files whose footer [min, max] provably
  excludes every row (same conservative contract as
  `LakeTable.scan_plan`); ALL filters are returned to Spark as
  remaining, so pruning can only cut I/O, never change answers.
  Buckets holding pending merge-on-read deltas are exempt from file
  skipping (dropping a base row there could let a stale lower-seq
  delta row win read-time resolution — the scan_plan stale-delta trap).
- **MoR resolution is per-bucket.** highest `__seq` wins, base wins
  seq ties (the copy-on-write `s.seq > t.seq` guard), duplicate tied
  delta rows collapse to one — byte-identical semantics to
  `LakeTable._resolved`; tombstones are filtered from the output. The
  resolver is `lake.resolve.resolve_files`, pure Arrow and shared with
  the driver-side point lookups of `LakeTable.scan`.

reference: Wrangler has no lake/table source (its connectors are
format parsers, surveyed in SURVEY.md §2.1); the public behavioral
model here is Delta's `spark.read.format("delta")` path pruning and
Iceberg's metadata-plan scan.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from wrangler_spark.lake.table import (
    _current_version,
    _load_stats,
    _read_snapshot,
    _ref_meta,
)


def _resolve_snapshot(options) -> tuple[dict, str]:
    """Option-resolved snapshot pin (version / tag / asOfTimestamp /
    branch — at most one of the first three), hydrated through the
    metadata log. Pure JSON: runs in the planning worker, no session."""
    path = options.get("path")
    if not path:
        raise ValueError("lake: option 'path' is required")
    mdir = _ref_meta(path, options.get("branch"))
    if not os.path.isdir(mdir):
        raise ValueError(f"lake: no table/branch metadata at {mdir}")
    picks = [k for k in ("version", "tag", "asoftimestamp") if options.get(k)]
    if len(picks) > 1:
        raise ValueError(f"lake: pass at most one of version/tag/asOfTimestamp, got {picks}")
    head = _read_snapshot(mdir, _current_version(mdir))
    v: int | None = None
    if options.get("version") is not None:
        v = int(options["version"])
    elif options.get("tag"):
        tags = head.get("tags", {})
        if options["tag"] not in tags:
            raise ValueError(f"lake: no tag {options['tag']!r} (have {sorted(tags)})")
        v = int(tags[options["tag"]])
    elif options.get("asoftimestamp"):
        ts = float(options["asoftimestamp"])
        cands = []
        for fn in os.listdir(mdir):
            if fn.startswith("version-") and fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    s = json.load(f)
                if s.get("ts") is not None and float(s["ts"]) <= ts:
                    cands.append(int(s["version"]))
        if not cands:
            raise ValueError(f"lake: no retained snapshot at or before ts={ts}")
        v = max(cands)
    snap = head if v is None else _read_snapshot(mdir, v)
    return snap, path


def _can_match(fstats: dict | None, aliases: dict, filters: list) -> bool:
    """Footer-stats exclusion check — the `_file_can_match` contract,
    restricted to string/int/float literals (datetimes never prune
    here: the source has no session timezone to interpret them in)."""
    if not fstats or not filters:
        return True
    for col, op, val in filters:
        names = [col] + [str(a).lower() for a in aliases.get(col, [])]
        st = next((fstats[n] for n in names if n in fstats), None)
        if st is None:
            continue
        mn, mx = st[0], st[1]
        vals = list(val) if op == "in" else [val]
        if not vals:
            continue  # empty IN: Spark folds it to false; never prune on it
        if not all(isinstance(x, (str, int, float)) and not isinstance(x, bool) for x in vals):
            continue
        bound = mn if mn is not None else mx
        if bound is not None and not all(
            isinstance(x, str) == isinstance(bound, str) for x in vals
        ):
            continue  # cross-type compare is not provable
        def outside(v):
            if op in ("=", "in"):
                return (mn is not None and v < mn) or (mx is not None and v > mx)
            if op == "<":
                return mn is not None and mn >= v
            if op == "<=":
                return mn is not None and mn > v
            if op == ">":
                return mx is not None and mx <= v
            if op == ">=":
                return mx is not None and mx < v
            return False
        try:
            if all(outside(v) for v in vals):
                return False
        except TypeError:
            continue  # unprovable comparison: keep the file
    return True


@dataclass
class _BucketPartition(InputPartition):
    bucket: int
    base_files: list = field(default_factory=list)
    delta_files: list = field(default_factory=list)


class LakeBatchReader(DataSourceReader):
    def __init__(self, options):
        snap, path = _resolve_snapshot(options)
        self.path = path
        self.schema_json = snap["schema"]
        self.aliases = {
            str(k).lower(): [str(a).lower() for a in v]
            for k, v in (snap.get("aliases") or {}).items()
        }
        self.key_cols = [str(k) for k in snap["key_cols"]]
        self.files = {b: list(r) for b, r in snap.get("files", {}).items() if r}
        self.deltas = {b: list(r) for b, r in (snap.get("deltas") or {}).items() if r}
        self.stats = _load_stats(path, snap)
        self.pushed: list = []
        self.files_skipped = 0

    def pushFilters(self, filters):
        """Record =/range/IN conjuncts on top-level columns for FILE
        PRUNING; every filter is returned as remaining, so Spark always
        re-applies the full predicate (pruning cuts I/O only)."""
        for f_ in filters:
            if isinstance(f_, EqualTo) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), "=", f_.value))
            elif isinstance(f_, In) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), "in", list(f_.value)))
            elif isinstance(f_, GreaterThan) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), ">", f_.value))
            elif isinstance(f_, GreaterThanOrEqual) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), ">=", f_.value))
            elif isinstance(f_, LessThan) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), "<", f_.value))
            elif isinstance(f_, LessThanOrEqual) and len(f_.attribute) == 1:
                self.pushed.append((f_.attribute[0].lower(), "<=", f_.value))
        return filters  # conservative: Spark evaluates everything again

    def partitions(self):
        parts = []
        buckets = sorted({*self.files, *self.deltas}, key=int)
        for b in buckets:
            base = [os.path.join(self.path, r) for r in self.files.get(b, [])]
            deltas = [os.path.join(self.path, r) for r in self.deltas.get(b, [])]
            if not deltas and self.pushed:
                kept = [
                    p for p, rel in zip(base, self.files.get(b, []))
                    if _can_match(self.stats.get(rel), self.aliases, self.pushed)
                ]
                self.files_skipped += len(base) - len(kept)
                base = kept
            if base or deltas:
                parts.append(_BucketPartition(int(b), base, deltas))
        # the stats working set is planning-only — don't ship O(files)
        # metadata to every executor with the pickled reader
        self.stats = {}
        # the engine requires >=1 partition; an empty table (or a fully
        # pruned scan) reads as one no-op partition
        return parts or [_BucketPartition(-1, [], [])]

    def read(self, partition: _BucketPartition):
        """Executor-side: the bucket's base∪delta files → LWW-resolved
        live rows as Arrow batches (`lake.resolve.resolve_files`)."""
        import pyarrow.compute as pc

        from wrangler_spark.lake.resolve import resolve_files

        out = resolve_files(
            partition.base_files, partition.delta_files,
            T.StructType.fromJson(self.schema_json), self.aliases, self.key_cols,
        )
        out = out.filter(pc.invert(out.column("__deleted")))
        # per-file chunks can come out of the filter empty; skip them
        for batch in out.drop_columns(["__seq", "__deleted"]).to_batches():
            if batch.num_rows:
                yield batch


class LakeDataSource(DataSource):
    """`spark.read.format("lake").option("path", ...)`."""

    @classmethod
    def name(cls) -> str:
        return "lake"

    def schema(self) -> str:
        snap, _ = _resolve_snapshot(self.options)
        schema = T.StructType.fromJson(snap["schema"])
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )

    def reader(self, schema) -> LakeBatchReader:
        return LakeBatchReader(self.options)


def register_lake_source(spark) -> None:
    """Register the batch source on a session (idempotent). Python
    data-source filter pushdown is a runtime SQL conf — enable it so
    the stats-pruning pushFilters path is live (get_spark sets it by
    default; this covers foreign sessions)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeDataSource)


def read_lake(
    spark,
    path: str,
    version: int | None = None,
    tag: str | None = None,
    as_of_ts: float | None = None,
    branch: str | None = None,
):
    """Convenience wrapper: a batch DataFrame of the table's resolved
    live rows at the pinned snapshot (current head by default)."""
    register_lake_source(spark)
    r = spark.read.format("lake").option("path", path)
    if version is not None:
        r = r.option("version", str(version))
    if tag is not None:
        r = r.option("tag", tag)
    if as_of_ts is not None:
        r = r.option("asOfTimestamp", str(as_of_ts))
    if branch is not None:
        r = r.option("branch", branch)
    return r.load()
