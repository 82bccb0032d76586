"""Incremental table-to-table replication off the changelog — the lake
table as a CDC *source* feeding a downstream materialized replica.

The loop this closes: binlog → `Replayer` → source table → (this
module) → replica table. `table_changes(v0, v1)` already emits per-key
insert/update/delete rows with the winning commit sequence; replication
maps those straight back into the replica's LWW merge — change rows ARE
change events (`_change_seq` → seq, `_change_op` → op), so the replica
inherits every guarantee the primary merge path has (seq-guarded LWW,
tombstones, epoch fencing, bucket pruning / MoR deltas).

Scale shape: each cycle processes only the version window since the
last replicated version (metadata read — no source-table diff job runs
when the version pointer hasn't moved), and the diff itself is the
skinny-old-side snapshot join documented in `table_changes`. The
replica's epoch = the source version window upper bound, so replaying a
window twice is a fenced no-op — crash-safe without a checkpoint file
(the replica's own snapshot IS the checkpoint).

A recipe can be applied to the change stream (downstream view ≠ 1:1
copy), turning this into an incremental materialized VIEW maintainer
for any recipe whose directives are row-local (every directive in the
registry — the reference's pipeline model is per-record, SURVEY.md
§2.6: no aggregations exist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrangler_spark.lake.table import LakeTable
from wrangler_spark.recipe.compiler import CompiledRecipe, compile_recipe


class Replicator:
    """Keep `replica` incrementally in sync with `source` via changelog
    windows. `sync()` applies everything new and returns metrics; call
    it on any cadence (cron, foreachBatch heartbeat, post-commit hook).
    """

    def __init__(
        self,
        source: LakeTable,
        replica: LakeTable,
        recipe: str | list[str] | CompiledRecipe | None = None,
        mode: str = "cow",
        on_error: str = "fail",
    ):
        if on_error not in ("fail", "skip"):
            raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
        self.source = source
        self.replica = replica
        self.mode = mode
        self.on_error = on_error
        if recipe is not None and not isinstance(recipe, CompiledRecipe):
            recipe = compile_recipe(recipe)
        self.recipe = recipe

    def _replicated_version(self) -> int:
        """High-watermark: the source version the replica reflects —
        stored as a replica snapshot property, committed atomically WITH
        the data (no separate checkpoint to drift)."""
        return int(
            self.replica.snap.get("properties", {}).get("replicated_source_version", -1)
        )

    def sync(self, to_version: int | None = None) -> dict:
        """Apply all source changes since the last sync. Metadata-only
        when nothing changed (no Spark job)."""
        # reload the source pointer: a long-lived Replicator must see
        # new commits, and LakeTable handles pin their load version
        src = LakeTable.load(self.source.spark, self.source.path)
        self.source = src
        v1 = src.version if to_version is None else int(to_version)
        v0 = self._replicated_version()
        if v0 < 0:
            v0 = 0  # replicate from the beginning (version 0 is empty)
        if v1 <= v0:
            return {"skipped": True, "source_version": v1, "events": 0}
        try:
            changes = src.table_changes(v0, v1)
            ev = changes.select(
                F.col("_change_seq").alias("seq"),
                F.col("_change_op").alias("op"),
                *[c for c in changes.columns if not c.startswith("_change_")],
            )
        except FileNotFoundError:
            # changelog retention expired past v0 (expire_snapshots
            # dropped that version's metadata): bootstrap from the full
            # current state instead — inserts + tombstone deletes with
            # their stored seqs, so the replica's LWW guard still
            # resolves correctly against anything it already holds
            full = src.read(with_meta=True)
            ev = full.select(
                F.col("__seq").alias("seq"),
                F.when(F.col("__deleted"), "delete").otherwise("insert").alias("op"),
                *[f.name for f in src.schema.fields],
            )
        return self._apply_window(src, ev, v0, v1)

    def _apply_window(self, src: LakeTable, ev: DataFrame, v0: int, v1: int) -> dict:
        """Recipe + rename translation + fenced LWW merge + watermark
        stamp for one change window (v0, v1] — shared by the batch
        `sync()` and the streaming `stream_sync()` paths."""
        recipe_errors = 0
        if self.recipe is not None:
            from wrangler_spark.recipe.registry import RecipeContext

            ev, _err = self.recipe.apply(ev, RecipeContext(spark=src.spark))
            missing = [c for c in ("seq", "op") if c not in ev.columns]
            if missing:
                raise ValueError(f"replication recipe dropped control columns {missing}")
            # rows the recipe routed to the error port would otherwise
            # vanish from the replica with the watermark still advancing
            # past their window — never retried, silent divergence.
            # Count them and surface the count; by default refuse to
            # advance past them (on_error='fail'). 'skip' keeps the old
            # drop-but-now-visible behavior for lossy views.
            if _err is not None:
                recipe_errors = _err.count()
                if recipe_errors and self.on_error == "fail":
                    raise RuntimeError(
                        f"replication recipe errored on {recipe_errors} change "
                        f"rows in window ({v0}, {v1}]; watermark NOT advanced "
                        "(pass on_error='skip' to drop them and continue)"
                    )
        # recipe DROPs map to replica DROP COLUMN (the last leg of
        # "column directives mapped to Iceberg schema updates"):
        # without this, a dropped payload column would linger in the
        # replica schema and every future winner would null it — a
        # column that is half old values, half nulls, instead of gone.
        # Metadata-only and idempotent (fires once; later windows see
        # the column already absent). Key columns are left for the
        # merge's own missing-key error, which names the real problem.
        if self.recipe is not None:
            rep_cols = {f.name.lower() for f in self.replica.schema.fields}
            key_l = {k.lower() for k in self.replica.key_cols}
            for col in self.recipe.drops():
                if col in rep_cols and col not in key_l:
                    self.replica.drop_column(col)
        # schema evolution across the window: a source RENAME must not
        # degrade into add-column on the replica (which would wedge the
        # old column at NULL for every later row — silent divergence).
        # The source snapshot's read-alias map records current→former
        # names; translate any alias whose former name is still live in
        # the replica into a merge rename, composed with renames the
        # replication recipe itself declares (same contract as the
        # Replayer's recipe-rename pass-through).
        renames = dict(self.recipe.renames()) if self.recipe else {}
        rep_cols = {f.name.lower() for f in self.replica.schema.fields}
        ev_cols = {c.lower() for c in ev.columns}
        for cur, olds in src.snap.get("aliases", {}).items():
            if cur.lower() in ev_cols and cur.lower() not in rep_cols:
                for old in olds:
                    if old.lower() in rep_cols:
                        renames.setdefault(old, cur)
                        break
        # epoch = the window's upper bound: re-running the same window
        # (crash between merge and caller's bookkeeping) is a fenced
        # no-op inside the replica's own committed_epochs. A hot source
        # key is just as hot here; the merge's single max-seq agg
        # combines it map-side before the join back.
        res = self.replica.merge(
            ev,
            seq_col="seq",
            op_col="op",
            epoch=v1,
            mode=self.mode,
            renames=renames or None,
        )
        # stamp the watermark — also when the merge was FENCED (a crash
        # between a prior sync's merge and its stamp would otherwise
        # wedge every future sync on a permanently-skipping epoch)
        if v1 > self._replicated_version():
            self.replica.commit(
                {}, properties={"replicated_source_version": int(v1)},
                change_files=[],  # property stamp: no data change
                operation="replicate-watermark",
            )
        return {
            "skipped": bool(res.get("skipped")),
            "source_version": v1,
            "from_version": v0,
            "events": res.get("events", 0),
            "recipe_errors": recipe_errors,
            "replica_version": self.replica.version,
        }

    def stream_sync(
        self,
        checkpoint_dir: str,
        starting_version: int | None = None,
        max_versions_per_trigger: int | None = None,
        trigger: dict | None = None,
        metrics_sink: list | None = None,
    ):
        """Continuous replication: tail the source's changelog as a
        Structured Streaming source (offsets = source commit versions,
        partitions = commit-scoped change files) and merge each
        microbatch into the replica through the same
        recipe/rename/LWW-merge path as `sync()`.

        Exactly-once stacks three independent guards: SS offset
        checkpointing (a crashed microbatch replays the SAME immutable
        change files), replica epoch fencing (epoch = the window's max
        commit version, so a replayed window is a fenced no-op), and
        the seq-guarded LWW merge (stale rows lose regardless).

        Unlike `sync()`'s net-change window, a microbatch carries every
        commit's winner set — a key touched by two commits appears
        twice; the merge's max-seq resolution collapses them to the
        same final state.

        Handoff from batch `sync()` (starting_version=None resumes at
        the replica's watermark): safe when the streamed window's
        commits are copy-on-write — their change files are POST-IMAGE
        (base-stale candidates filtered at merge time). Merge-on-read
        commits keep within-batch winners in their delta/change files
        (their seq guard lives at read time), so a batch-synced replica
        — which never saw tombstones for never-visible keys — could
        accept a stale candidate. For mor sources, either bootstrap the
        replica by streaming from version 0 (re-delivery is
        LWW-idempotent, and the replica then holds every tombstone) or
        keep using batch sync().

        Returns the running StreamingQuery; `trigger` is forwarded to
        `writeStream.trigger(**trigger)` (e.g. {"processingTime": "10
        seconds"} or {"availableNow": True} for catch-up-and-stop).
        """
        from wrangler_spark.streaming.change_source import (
            CHANGE_OP_FIELD,
            CHANGE_SEQ_FIELD,
            CHANGE_VERSION_FIELD,
            read_stream_changes,
        )

        spark = self.source.spark
        if starting_version is None:
            sv = self._replicated_version()
            starting_version = sv if sv >= 0 else 0
        stream = read_stream_changes(
            spark,
            self.source.path,
            starting_version=starting_version,
            max_versions_per_trigger=max_versions_per_trigger,
        )
        ctl = (CHANGE_OP_FIELD, CHANGE_SEQ_FIELD, CHANGE_VERSION_FIELD)
        payload = [c for c in stream.columns if c not in ctl]

        def apply_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            src = LakeTable.load(spark, self.source.path)
            self.source = src
            win = batch.agg(
                F.min(CHANGE_VERSION_FIELD).alias("v0"),
                F.max(CHANGE_VERSION_FIELD).alias("v1"),
            ).collect()[0]
            ev = batch.select(
                F.col(CHANGE_SEQ_FIELD).alias("seq"),
                F.when(F.col(CHANGE_OP_FIELD) == "delete", "delete")
                .otherwise("update")
                .alias("op"),
                *payload,
            )
            res = self._apply_window(src, ev, int(win["v0"]) - 1, int(win["v1"]))
            if metrics_sink is not None:
                metrics_sink.append({"batch_id": int(batch_id), **res})

        writer = stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()
