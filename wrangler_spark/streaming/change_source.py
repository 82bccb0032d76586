"""Lake changelog as a first-class Structured Streaming source.

PySpark 4's Python DataSource API (SPARK-44076) lets the snapshot-
versioned lake table act as a `readStream` source the same way Delta's
CDF / Iceberg's changelog scan do:

    register_change_source(spark)
    df = (spark.readStream.format("lake-changes")
          .option("path", table_path)
          .option("startingVersion", 0)
          .load())

- **Offsets are snapshot versions** — the stream's progress log is the
  table's own commit sequence, so exactly-once falls out of Structured
  Streaming's offset checkpointing: a replayed batch re-reads the same
  immutable commit-scoped change files (written by every merge — the
  Delta-CDF-shaped `_changes/` manifests) and a downstream
  merge-by-(key, seq) sink is idempotent on top.
- **Partitions are change files** — `partitions(start, end)` lists the
  window's change manifests driver-side (metadata-only; O(commits)
  small JSON reads), and each file is read EXECUTOR-side with pyarrow
  as Arrow record batches. No data moves through the driver, so the
  source scales with executors exactly like the batch `table_changes`
  fast path.
- Each row carries `_change_op` (`upsert`/`delete` — the per-commit
  winner set is already LWW-resolved within its epoch; pre-image-aware
  insert/update classification is the batch `table_changes` contract),
  `_change_seq` (the winning commit sequence) and `_commit_version`.
- Schema evolution: files written before a rename read through the
  snapshot's alias map (same contract as LakeTable._read_files);
  added columns null-fill in older files.

reference: this closes the loop the reference leaves open — Wrangler
has no lake; Delta CDF streaming (`readChangeFeed`) is the public
behavioral model.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from wrangler_spark.lake.resolve import _arrow_type
from wrangler_spark.lake.table import _current_version, _read_version, _ref_meta

CHANGE_OP_FIELD = "_change_op"
CHANGE_SEQ_FIELD = "_change_seq"
CHANGE_VERSION_FIELD = "_commit_version"


@dataclass
class _ChangeFilePartition(InputPartition):
    file_path: str
    version: int


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        table_path: str,
        starting_version: int | None,
        max_versions_per_trigger: int | None = None,
        ending_version: int | None = None,
    ):
        self.table_path = table_path
        # main's metadata: versions read raw (`_read_version`) — the
        # fields this source uses (schema, aliases, change manifest)
        # stay inline in a metadata diff, so hydration would be wasted
        self.mdir = _ref_meta(table_path, None)
        snap = _read_version(self.mdir, _current_version(self.mdir))
        self.schema_json = snap["schema"]
        self.aliases = snap.get("aliases", {})
        self.max_versions = (
            int(max_versions_per_trigger) if max_versions_per_trigger else None
        )
        # bounded replay (Delta endingVersion): the stream never
        # announces offsets past this commit — drain and idle
        self.end_version = int(ending_version) if ending_version is not None else None
        self._pos: int | None = None  # last offset this run has planned
        self._start = (
            int(starting_version)
            if starting_version is not None
            else _current_version(self.mdir)
        )

    # ---- offsets: plain dicts carrying the snapshot version ----
    def initialOffset(self) -> dict:
        # never move the cap base backward: the engine may call
        # latestOffset() before this on a fresh stream
        self._pos = self._start if self._pos is None else max(self._pos, self._start)
        return {"version": self._start}

    def latestOffset(self) -> dict:
        """Admission control lives here: cap each microbatch at
        `maxVersionsPerTrigger` commits past the last ANNOUNCED offset
        (Delta `maxFilesPerTrigger` shape). The engine may ask for the
        latest offset before the reader has seen the checkpointed start
        (it learns it in `partitions()`), so the first microbatch of a
        run is uncapped; every later one is bounded. Announced offsets
        are monotonic — the cap can only defer progress, never rewind
        the stream's offset log."""
        cur = _current_version(self.mdir)
        if self.end_version is not None:
            cur = min(cur, self.end_version)
        if self.max_versions is None:
            return {"version": cur}
        if self._pos is None:
            self._pos = cur  # uncapped first batch of this run
            return {"version": cur}
        self._pos = max(self._pos, min(cur, self._pos + self.max_versions))
        return {"version": self._pos}

    def partitions(self, start: dict, end: dict):
        if int(end["version"]) < int(start["version"]):
            # the table's VERSION pointer moved BACKWARD past this
            # stream's checkpointed offset (rollback()): every future
            # window would be empty and the stream would stall silently
            # at an offset the table can no longer reach — fail loudly
            raise RuntimeError(
                f"lake-changes: checkpointed offset v{start['version']} is "
                f"ahead of the table's current v{end['version']} — the table "
                "was rolled back; restart the stream from a fresh checkpoint "
                "(or re-sync the replica from a snapshot read)"
            )
        hi = max(int(end["version"]), int(start["version"]))
        self._pos = hi if self._pos is None else max(self._pos, hi)
        parts: list[_ChangeFilePartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            rels = _read_version(self.mdir, v).get("changes")
            if rels is None:
                raise RuntimeError(
                    f"lake-changes: commit v{v} recorded no change manifest "
                    "(changelog.enabled=false or external writer) — the "
                    "stream cannot serve this window; bootstrap a replica "
                    "from a snapshot read instead"
                )
            parts.extend(
                _ChangeFilePartition(os.path.join(self.table_path, r), v)
                for r in rels
            )
        # an empty window still advances the offset — SS handles []
        return parts

    def read(self, partition: _ChangeFilePartition):
        """Executor-side: one change file → Arrow batches in the source
        schema (+op/seq/version), aliases resolved, missing columns
        null-filled. Two alias directions cover schema evolution:
        files OLDER than the stream's schema resolve through the
        current→former map; files NEWER (a rename committed while the
        stream runs — SS pins the stream schema at start) resolve
        through the partition version's map inverted (former→current),
        so a running stream keeps serving rows under its stable schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = T.StructType.fromJson(self.schema_json)
        tbl = pq.read_table(partition.file_path)
        names_l = {n.lower(): n for n in tbl.column_names}
        fwd: dict[str, str] = {}  # former name -> name at partition.version
        try:
            for cur, olds in _read_version(self.mdir, partition.version).get(
                "aliases", {}
            ).items():
                for o in olds:
                    fwd[str(o).lower()] = cur.lower()
        except FileNotFoundError:
            pass  # expired snapshot metadata: old-direction aliases only

        def col(name_l: str, target):
            src = names_l.get(name_l)
            if src is None:
                for a in self.aliases.get(name_l, []):
                    src = names_l.get(str(a).lower())
                    if src is not None:
                        break
            if src is None and name_l in fwd:
                src = names_l.get(fwd[name_l])
            if src is None:
                return pa.nulls(tbl.num_rows, type=target)
            c = tbl.column(src)
            return c.cast(target) if c.type != target else c

        arrays = []
        fields = []
        for f_ in schema.fields:
            at = _arrow_type(f_.dataType)
            arrays.append(col(f_.name.lower(), at))
            fields.append(pa.field(f_.name, at))
        deleted = col("__deleted", pa.bool_())
        import pyarrow.compute as pc

        op = pc.if_else(
            pc.fill_null(deleted, False), pa.scalar("delete"), pa.scalar("upsert")
        )
        arrays.append(op)
        fields.append(pa.field(CHANGE_OP_FIELD, pa.string()))
        arrays.append(col("__seq", pa.int64()))
        fields.append(pa.field(CHANGE_SEQ_FIELD, pa.int64()))
        arrays.append(pa.nulls(tbl.num_rows, pa.int64()).fill_null(partition.version))
        fields.append(pa.field(CHANGE_VERSION_FIELD, pa.int64()))
        out = pa.table(arrays, schema=pa.schema(fields))
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the SS checkpoint; nothing to clean up


class LakeChangesDataSource(DataSource):
    """`spark.readStream.format("lake-changes").option("path", ...)`."""

    @classmethod
    def name(cls) -> str:
        return "lake-changes"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("lake-changes: option 'path' is required")
        mdir = _ref_meta(path, None)
        snap = _read_version(mdir, _current_version(mdir))
        schema = T.StructType.fromJson(snap["schema"])
        fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
        fields.append(f"`{CHANGE_OP_FIELD}` string")
        fields.append(f"`{CHANGE_SEQ_FIELD}` bigint")
        fields.append(f"`{CHANGE_VERSION_FIELD}` bigint")
        return ", ".join(fields)

    def streamReader(self, schema) -> LakeChangesStreamReader:
        sv = self.options.get("startingversion", self.options.get("startingVersion"))
        mv = self.options.get(
            "maxversionspertrigger", self.options.get("maxVersionsPerTrigger")
        )
        ev = self.options.get("endingversion", self.options.get("endingVersion"))
        return LakeChangesStreamReader(self.options["path"], sv, mv, ev)


def register_change_source(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(LakeChangesDataSource)


def read_stream_changes(
    spark,
    path: str,
    starting_version: int | None = None,
    max_versions_per_trigger: int | None = None,
    ending_version: int | None = None,
):
    """Convenience wrapper: a streaming DataFrame of the table's
    commit-scoped changes from `starting_version` (exclusive) onward;
    None = only commits after stream start. `max_versions_per_trigger`
    bounds each microbatch to that many commits (admission control for
    backlogged streams); `ending_version` (inclusive) bounds the replay
    — the stream drains to that commit and then idles (Delta
    `endingVersion` shape)."""
    register_change_source(spark)
    r = spark.readStream.format("lake-changes").option("path", path)
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    if max_versions_per_trigger is not None:
        r = r.option("maxVersionsPerTrigger", str(max_versions_per_trigger))
    if ending_version is not None:
        r = r.option("endingVersion", str(ending_version))
    return r.load()
