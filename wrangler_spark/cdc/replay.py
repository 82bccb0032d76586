"""Epoch-fenced CDC replayer: binlog tail → recipe transform → LWW upsert.

The north-rule core (BASELINE.json): replay insert/update/delete events
onto the LakeTable keyed by (repo, path), applying a compiled directive
recipe to the event payload first, with

- **monotonic commit-sequence ordering**: epochs are applied in order;
  within an epoch LWW by `seq` (lake/merge.py).
- **exactly-once**: each epoch's merge commits atomically with the
  epoch id recorded in the snapshot; replaying an already-committed
  epoch is a no-op (fencing), so crash-and-restart from ANY checkpoint
  reproduces the same final state (tests verify per-row content sha256
  equality against the all-at-once oracle).
- **checkpointed high-watermark**: after each commit, a JSON checkpoint
  stores the epoch and the max applied seq per source partition.
- **lineage metrics**: per-epoch events/inserts/updates/deletes and
  recipe steps executed, appended to a JSONL metrics log.
- **partition pruning**: when the event source is parquet partitioned
  by `epoch`, the per-epoch read prunes to one partition directory.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrangler_spark.lake.table import LakeTable, _atomic_write
from wrangler_spark.recipe.compiler import CompiledRecipe, compile_recipe


class Replayer:
    def __init__(
        self,
        table: LakeTable,
        checkpoint_dir: str,
        recipe: str | list[str] | CompiledRecipe | None = None,
        seq_col: str = "seq",
        op_col: str = "op",
        epoch_col: str = "epoch",
        partition_col: str = "source_partition",
        error_dir: str | None = None,
        lookups: dict | None = None,
        precondition: str | None = None,
        precondition_language: str = "jexl",
        mode: str = "cow",
        compact_every: int | None = None,
        audit: dict | None = None,
        maintain_every: int | None = None,
        maintain_opts: dict | None = None,
    ):
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        if recipe is None:
            self.recipe = None
        elif isinstance(recipe, CompiledRecipe):
            self.recipe = recipe
        else:
            self.recipe = compile_recipe(recipe)
        self.seq_col = seq_col
        self.op_col = op_col
        self.epoch_col = epoch_col
        self.partition_col = partition_col
        # error-channel sink (reference error port): recipe directives
        # that route rows to error (send-to-error, failed validations)
        # land here as epoch-partitioned parquet
        self.error_dir = error_dir or os.path.join(checkpoint_dir, "errors")
        # lookup datasets for table-lookup / catalog-lookup directives
        self.lookups = lookups or {}
        # plugin-level precondition (reference Wrangler.java:414-421):
        # JEXL skip-if-true / SQL keep-if-true, applied to each epoch's
        # batch BEFORE the recipe — compiles to a pushed-down filter.
        # NOTE: filtered events still advance the watermark (the raw
        # batch is consumed), matching the reference's metric-only skip.
        self.precondition = precondition
        self.precondition_language = precondition_language
        # merge mode: "cow" rewrites touched buckets per epoch;
        # "mor" appends delta files (O(epoch) merge I/O — the sparse-
        # epoch shape at 10^10 events) and compacts every
        # `compact_every` committed epochs to bound read amplification.
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown replay mode: {mode!r} (cow|mor)")
        self.mode = mode
        self.compact_every = compact_every
        # policy-driven maintenance cadence (LakeTable.maintain): every
        # K committed epochs run the metadata-planned auto-compact (+
        # optional expiry/GC via maintain_opts). Planning is zero-job,
        # so a small K is safe at any table size; applies in BOTH cow
        # (small-file bin-packing) and mor (delta folding) modes.
        self.maintain_every = maintain_every
        self.maintain_opts = dict(maintain_opts or {})
        self._commits_since_maintain = 0
        self._commits_since_compact = 0
        # write-audit-publish gate (lake/wap.py): when set, every epoch
        # merge is STAGED, the resolved staged state is validated
        # against these name -> SQL-boolean expectations, and only a
        # green audit publishes. A red audit aborts the stage (data
        # files deleted, committed state untouched, checkpoint NOT
        # advanced) and raises AuditError — the failed epoch replays
        # after the upstream fix. This fences a poisoned batch BEFORE
        # any reader can observe it, at the cost of one extra scan of
        # the staged output per epoch.
        self.audit = audit

    # ------------------------------------------------------------ checkpoint
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "checkpoint.json")

    def load_checkpoint(self) -> dict:
        if os.path.exists(self._ckpt_path):
            with open(self._ckpt_path) as f:
                return json.load(f)
        return {"last_epoch": -1, "watermarks": {}}

    def save_checkpoint(self, epoch: int, watermarks: dict) -> None:
        _atomic_write(
            self._ckpt_path,
            json.dumps({"last_epoch": int(epoch), "watermarks": watermarks}),
        )

    def _append_metrics(self, rec: dict) -> None:
        with open(os.path.join(self.checkpoint_dir, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    # ------------------------------------------------------------ transform
    def _apply_recipe(self, events: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        """Run the compiled recipe over the event payload. Delete events
        carry null payloads and bypass the transform; control columns
        (seq/epoch/op/partition) are reattached afterwards via a
        narrow, shuffle-free select. Returns (ok, errors) — errors is
        the recipe's error channel (None when nothing routed)."""
        if self.precondition:
            from wrangler_spark.recipe.compiler import apply_precondition

            events = apply_precondition(
                events, self.precondition, self.precondition_language
            )
        if self.recipe is None:
            return events, None
        from wrangler_spark.recipe.registry import RecipeContext

        ctrl = [self.seq_col, self.epoch_col, self.op_col, self.partition_col]
        ctrl = [c for c in ctrl if c in events.columns]
        ctx = RecipeContext(spark=events.sparkSession, lookups=self.lookups)
        ok, err = self.recipe.apply(events, ctx)
        # recipe must keep control columns; enforce
        missing = [c for c in ctrl if c not in ok.columns]
        if missing:
            raise ValueError(f"recipe dropped control columns {missing}")
        return ok, err

    # ------------------------------------------------------------ replay
    def replay(
        self,
        events: DataFrame,
        from_epoch: int | None = None,
        to_epoch: int | None = None,
        evolve: bool = True,
        epochs: list[int] | None = None,
    ) -> dict:
        """Replay events epoch by epoch. Returns summary metrics.

        `events` may span many epochs; each epoch is filtered (partition-
        pruned for epoch-partitioned sources), transformed, merged and
        committed independently, in ascending epoch order.

        `epochs`: explicit epoch list. At 10^10-event scale pass the
        partition-directory listing (see `list_epoch_partitions`) — the
        default discovery is a distinct() over the epoch column, which
        prunes to one column but still touches every file's footer.
        """
        ckpt = self.load_checkpoint()
        start = from_epoch if from_epoch is not None else ckpt["last_epoch"] + 1

        if epochs is None:
            bounds = events
            if to_epoch is not None:
                bounds = bounds.filter(F.col(self.epoch_col) <= to_epoch)
            epochs = [
                r[0]
                for r in bounds.filter(F.col(self.epoch_col) >= start)
                .select(self.epoch_col)
                .distinct()
                .orderBy(self.epoch_col)
                .collect()
            ]
        else:
            epochs = sorted(
                e for e in epochs
                if e >= start and (to_epoch is None or e <= to_epoch)
            )

        total = {"epochs": 0, "events": 0, "skipped_epochs": 0, "elapsed_sec": 0.0}
        t0 = time.time()
        for e in epochs:
            res = self.replay_epoch(events, int(e), evolve=evolve)
            total["epochs"] += 1
            if res.get("skipped"):
                total["skipped_epochs"] += 1
            else:
                total["events"] += res.get("events", 0)
        total["elapsed_sec"] = time.time() - t0
        total["events_per_sec"] = (
            total["events"] / total["elapsed_sec"] if total["elapsed_sec"] > 0 else None
        )
        return total

    def replay_epoch(self, events: DataFrame, epoch: int, evolve: bool = True) -> dict:
        t0 = time.time()
        if epoch in self.table.committed_epochs:
            # fenced: already committed (e.g. crash after commit, before
            # checkpoint write) — idempotent skip
            res = {"skipped": True, "epoch": epoch, "version": self.table.version}
            self._append_metrics({**res, "elapsed_sec": time.time() - t0})
            return res

        batch = events.filter(F.col(self.epoch_col) == epoch)
        transformed, err = self._apply_recipe(batch)

        # per-source-partition high-watermark AND lineage for this epoch —
        # over the RAW batch (consumed source progress), not the recipe
        # output, so a recipe that filters rows still advances the
        # watermark correctly. One agg job yields the watermarks, the
        # per-partition lineage, AND the batch-level metrics (summed from
        # the partitions), so the merge skips its own full-batch scan.
        # The job runs on a BACKGROUND thread, concurrent with the merge
        # (SparkContext job submission is thread-safe); the merge resolves
        # it only at commit time. An InheritableThread carries the
        # caller's job group and description into the job, so cancelling
        # the epoch's group cancels it too.
        group = (
            [self.partition_col]
            if self.partition_col in batch.columns
            else [F.lit(0).alias("__p")]
        )
        wm_agg = batch.groupBy(*group).agg(
            F.max(self.seq_col).alias("hwm"),
            F.count(F.lit(1)).alias("events"),
            F.sum(F.when(F.col(self.op_col) == "insert", 1).otherwise(0)).alias("inserts"),
            F.sum(F.when(F.col(self.op_col) == "update", 1).otherwise(0)).alias("updates"),
            F.sum(F.when(F.col(self.op_col) == "delete", 1).otherwise(0)).alias("deletes"),
        )
        wm_box: dict = {}

        def _wm_job():
            try:
                wm_box["rows"] = wm_agg.collect()
            except BaseException as e:  # noqa: BLE001 — re-raised on join
                wm_box["error"] = e

        wm_thread = InheritableThread(target=_wm_job, daemon=True)
        wm_thread.start()

        def _resolve_metrics() -> dict:
            wm_thread.join()
            if "error" in wm_box:
                raise wm_box["error"]
            rows = wm_box["rows"]
            return {
                "events": sum(r["events"] for r in rows),
                "inserts": sum(r["inserts"] for r in rows),
                "updates": sum(r["updates"] for r in rows),
                "deletes": sum(r["deletes"] for r in rows),
                "max_seq": max((r["hwm"] for r in rows), default=None),
            }

        # error-channel sink (the reference's error port): write routed
        # rows BEFORE the merge commit fences this epoch — a crash
        # between the commit (or checkpoint) and a later error write
        # would permanently drop the epoch's error rows, because the
        # resumed replay skips fenced epochs. Overwrite mode keeps the
        # write idempotent across retries of an unfenced epoch.
        if err is not None:
            err_path = os.path.join(self.error_dir, f"epoch={epoch}")
            err.write.mode("overwrite").parquet(err_path)
            error_rows = self.table.spark.read.parquet(err_path).count()
        else:
            error_rows = 0

        res = self.table.merge(
            transformed.drop(self.epoch_col),
            seq_col=self.seq_col,
            op_col=self.op_col,
            epoch=epoch,
            evolve=evolve,
            metrics=_resolve_metrics,
            # recipe-declared renames → lake schema renames (Iceberg
            # RENAME COLUMN equivalent; pre-rename files read via alias)
            renames=self.recipe.renames() if self.recipe else None,
            mode=self.mode,
            staged=bool(self.audit),
        )
        sc = res.pop("staged", None)
        if sc is not None:
            from wrangler_spark.lake.wap import AuditError

            verdict = sc.audit(expectations=self.audit)
            res["audit"] = verdict
            if not verdict["ok"]:
                sc.abort()
                res["aborted"] = True
                res["elapsed_sec"] = time.time() - t0
                self._append_metrics(res)
                raise AuditError(
                    f"epoch {epoch} failed audit "
                    f"{verdict['violations']}; staged commit aborted — "
                    "fix upstream and replay (checkpoint not advanced)"
                )
            sc.publish(require_audit=True)
            # the staged merge never advanced this handle — reload to
            # the published head so the next epoch targets version N+1
            self.table = LakeTable.load(
                self.table.spark,
                self.table.path,
                branch=self.table.snap.get("branch"),
            )
        if self.mode == "mor" and not res.get("skipped"):
            # two compaction triggers, either sufficient:
            # - every K commits (compact_every) — the simple cadence;
            # - pending delta bytes past `mor.compact.bytes` (table
            #   property) — bounds read amplification even when epoch
            #   sizes vary wildly (a count cadence cannot: K huge epochs
            #   pile up K× the broadcast-resolution volume). The check
            #   is a zero-job metadata stat (delta_bytes).
            self._commits_since_compact += 1
            byte_cap = int(
                self.table.snap.get("properties", {}).get("mor.compact.bytes", 0)
            )
            due = (
                self.compact_every
                and self._commits_since_compact >= self.compact_every
            ) or (byte_cap and self.table.delta_bytes() > byte_cap)
            if due:
                comp = self.table.compact()
                self._commits_since_compact = 0
                res["compacted_buckets"] = comp["compacted_buckets"]
        if (
            self.maintain_every
            and not res.get("skipped")
            and not self.table.snap.get("branch")  # maintain is main-only
        ):
            self._commits_since_maintain += 1
            if self._commits_since_maintain >= self.maintain_every:
                res["maintain"] = self.table.maintain(**self.maintain_opts)
                self._commits_since_maintain = 0
        wm_rows = wm_box.get("rows", [])

        has_parts = self.partition_col in batch.columns

        ckpt = self.load_checkpoint()
        wms = ckpt["watermarks"]
        if has_parts:
            for r in wm_rows:
                pid = str(r[self.partition_col])
                wms[pid] = max(int(wms.get(pid, -1)), int(r["hwm"]))
        self.save_checkpoint(epoch, wms)

        res["error_rows"] = error_rows
        res["elapsed_sec"] = time.time() - t0
        res["recipe_steps"] = len(self.recipe.calls) if self.recipe else 0
        # per-source-partition lineage (north rule): events consumed, op
        # breakdown, and the high-watermark each partition reached
        if has_parts:
            res["partitions"] = {
                str(r[self.partition_col]): {
                    "events": int(r["events"]),
                    "inserts": int(r["inserts"]),
                    "updates": int(r["updates"]),
                    "deletes": int(r["deletes"]),
                    "hwm": int(r["hwm"]),
                }
                for r in wm_rows
            }
        self._append_metrics(res)
        return res


def list_epoch_partitions(path: str, epoch_col: str = "epoch") -> list[int]:
    """Epoch ids from an epoch-partitioned dataset's directory names —
    O(#epochs) filesystem metadata instead of a cluster-wide scan."""
    out = []
    for entry in os.listdir(path):
        if entry.startswith(f"{epoch_col}="):
            try:
                out.append(int(entry.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def state_digest(sha_df: DataFrame) -> tuple[int, str]:
    """Order-independent whole-table digest over a `final_state_sha256`
    projection: per-row xxhash64 combined with commutative SUM and XOR.
    Constant-size aggregation state with map-side combine — unlike a
    sort_array(collect_list(...)) digest, this never materializes the
    table on one reducer, so it holds at 10^10 rows.

    Returns (row_count, digest_string)."""
    row_h = F.xxhash64(F.concat_ws("|", "repo", "path", "content_sha256"))
    r = sha_df.agg(
        F.sum(row_h).alias("__sum"),
        F.expr(
            "bit_xor(xxhash64(concat_ws('|', repo, path, content_sha256)))"
        ).alias("__xor"),
        F.count(F.lit(1)).alias("rows"),
    ).first()
    digest = (
        f"{(r['__sum'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-"
        f"{(r['__xor'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
    )
    return int(r["rows"]), digest


def final_state_sha256(df: DataFrame, key_cols=("repo", "path"), content_col="content") -> DataFrame:
    """Per-row verification projection: key + sha256(content)
    (the BASELINE.json per-row invariant)."""
    return df.select(
        *key_cols, F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256).alias("content_sha256")
    )
