"""The three workloads: what each sets up, runs in its timed loop, and
checks afterwards.

Every workload has a main operation and a side operation, interleaved
by one closed-loop client (the next operation starts when the previous
returns):

    workload            main operation                 side operation
    replay_dense_cow    Replayer.replay_epoch (cow)    fresh-handle point read
    replay_sparse_mor   Replayer.replay_epoch (mor)    fresh-handle point read
                        and one Replicator.sync after
                        the timed loop
    recipe_wide         native recipe over one epoch   Arrow-UDF recipe over
                        of change events, to parquet   one epoch, to parquet
"""

from __future__ import annotations

import base64
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench import harness, inputs
from perfbench.trace import SpanIndex

# sizes per --size; "tiny" is the smoke test's
SIZES = {
    "full": {
        "dense": dict(n_repos=100, n_paths=250, buckets=16, seed_events=20_000,
                      epoch_events=10_000, chunk=4, warmup_epochs=1),
        "sparse": dict(n_repos=200, n_paths=500, buckets=16, seed_events=60_000,
                       epoch_events=1_000, chunk=16, redeliver=0.015, cycle=4,
                       reads_per_epoch=1, warmup_epochs=4),
        "recipe": dict(epoch_events=20_000, epochs=3, udf_every=10, warmup_rounds=3),
        "speedup_epochs": 1,
    },
    "tiny": {
        "dense": dict(n_repos=10, n_paths=50, buckets=4, seed_events=1_000,
                      epoch_events=500, chunk=4, warmup_epochs=1),
        "sparse": dict(n_repos=20, n_paths=50, buckets=4, seed_events=2_000,
                       epoch_events=100, chunk=4, redeliver=0.05, cycle=2,
                       reads_per_epoch=1, warmup_epochs=2),
        "recipe": dict(epoch_events=500, epochs=2, udf_every=5, warmup_rounds=1),
        "speedup_epochs": 1,
    },
}

N_READ_KEYS = 64


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    size: str
    cores: int
    tracer: object
    log: harness.OpLog
    rss: harness.RssSampler
    phases: dict  # set-up phase name -> seconds
    deadline: float = 0.0

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    @contextmanager
    def untimed(self):
        """Work inside the loop that is not measured (more input): the
        deadline moves out by its duration."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.deadline += time.perf_counter() - t0


class Workload:
    name = ""
    main = ""  # op kind of the main operation
    side = ""  # op kind of the side operation
    # the timed loop stops only after a whole number of cycles of this
    # many iterations, so periodic work (compaction, syncs) has the
    # same share of every run however many iterations fit in it
    cycle = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span

    def op(self, kind: str, fn) -> bool:
        """Run one counted, timed operation under a top-level span."""
        n_failed = self.ctx.log.failed.get(kind, 0)
        with self.ctx.log.op(kind):
            with self.span("op." + kind):
                fn()
        self.ctx.rss.sample()
        return self.ctx.log.failed.get(kind, 0) == n_failed

    def compile(self, recipe):
        from wrangler_spark import compile_recipe

        with self.span("recipe.compile"):
            return compile_recipe(recipe)

    # subclasses define setup(), step(i), check() -> list[str] (failed
    # checks), main_events() and bytes_written()
    def finish(self) -> None:
        """Work done once per run after the timed loop, before the checks."""

    def main_events(self) -> int:
        raise NotImplementedError

    def e2e(self) -> dict:
        log = self.ctx.log
        main = harness.summarize(log.samples.get(self.main, []))
        side = harness.summarize(log.samples.get(self.side, []))
        main_wall = sum(log.samples.get(self.main, []))
        return {
            "events_per_s": (self.main_events() / main_wall if main_wall else 0.0, "events/s"),
            "epoch_p50_s": (main["p50"], "s"),
            "epoch_tail_s": (main["tail"], "s", main["tail_pct"], main["n"]),
            "side_p50_s": (side["p50"], "s"),
            "side_tail_s": (side["tail"], "s", side["tail_pct"], side["n"]),
            "bytes_written_per_event": (self.bytes_written() / max(self.main_events(), 1), "B/event"),
        }

    def bytes_written(self) -> int:
        raise NotImplementedError

    def speedup(self, traced_flags: list[bool]) -> float:
        return 0.0


# ---------------------------------------------------------------- replay


class _Replay(Workload):
    main = "epoch"
    side = "read"
    mode = "cow"
    shape = "dense"

    def setup(self) -> None:
        from wrangler_spark.cdc import Replayer, repo_files_schema
        from wrangler_spark.lake.table import LakeTable

        p = SIZES[self.ctx.size][self.shape]
        self.p = p
        w = self.ctx.work
        self.table_path = os.path.join(w, "table")
        self.feed = inputs.EventFeed(
            self.spark, os.path.join(w, "events"), self.ctx.seed,
            n_repos=p["n_repos"], n_paths_per_repo=p["n_paths"],
            seed_events=p["seed_events"], epoch_events=p["epoch_events"],
            redeliver_frac=p.get("redeliver", 0.0),
        )
        phase = self.ctx.phase
        with phase("inputs"):
            self.feed.ensure(1 + p["warmup_epochs"] + p["chunk"])
            self.events = self.feed.events()
            self.keys = inputs.sample_keys(self.events, N_READ_KEYS)
        with phase("compile"):
            self.recipe = self.compile(inputs.CDC_RECIPE)
        with phase("seed"):
            self.table = LakeTable.create(
                self.spark, self.table_path, repo_files_schema(), ["repo", "path"],
                num_buckets=p["buckets"],
            )
            # the base load always lands as copy-on-write base files
            Replayer(self.table, os.path.join(w, "ckpt"), recipe=self.recipe).replay_epoch(self.events, 0)
        self.replayer = self._replayer(self.table)
        self.reads = 0
        self.events_applied = 0
        # untimed epochs, each with its reads: on replay_sparse_mor a
        # whole cycle, so its compaction is warm too. The JVM keeps
        # getting faster for tens of epochs; each warm-up epoch moves
        # the timed ones further along that curve.
        w_epochs = p["warmup_epochs"]
        with phase("warmup"):
            for e in range(1, 1 + w_epochs):
                self.replayer.replay_epoch(self.events, e)
                self._read()
        # a fresh replayer: its compaction count starts with the timed loop
        self.replayer = self._replayer(self.table)
        self.setup_extra()
        self.next_epoch = 1 + w_epochs
        self.last_epoch = w_epochs
        self.bytes_before = harness.tree_bytes(self.table_path)

    def _replayer(self, table):
        from wrangler_spark.cdc import Replayer

        return Replayer(
            table, os.path.join(self.ctx.work, "ckpt"), recipe=self.recipe,
            mode=self.mode, compact_every=self.p.get("cycle"),
        )

    def setup_extra(self) -> None:
        pass

    def _epoch(self, e: int) -> None:
        res = self.replayer.replay_epoch(self.events, e)
        if res.get("skipped"):
            raise RuntimeError(f"epoch {e} was fenced as already committed")
        self.events_applied += res["events"]

    def _read(self) -> None:
        from wrangler_spark.lake.table import LakeTable

        repo, path = self.keys[self.reads % len(self.keys)]
        self.reads += 1
        t = LakeTable.load(self.spark, self.table_path)
        if self.ctx.tracer.enabled:
            with self.span("read.delta_bytes") as rec:
                rec["delta_bytes"] = t.delta_bytes()
        df = t.scan([("repo", "=", repo), ("path", "=", path)])
        with self.span("table.scan.collect"):
            rows = df.collect()
        if len(rows) > 1:
            raise RuntimeError(f"point read of {(repo, path)} returned {len(rows)} rows")

    def next_epoch_input(self) -> int:
        e = self.next_epoch
        if e >= self.feed.written:
            with self.ctx.untimed(), self.span("input.generate"):
                self.feed.ensure(e + self.p["chunk"])
                self.events = self.feed.events()
        self.next_epoch += 1
        self.last_epoch = e
        return e

    def step(self, i: int) -> None:
        e = self.next_epoch_input()
        self.op("epoch", lambda: self._epoch(e))
        self.side_ops(i)

    def side_ops(self, i: int) -> None:
        self.op("read", self._read)

    def main_events(self) -> int:
        return self.events_applied

    def bytes_written(self) -> int:
        return harness.tree_bytes(self.table_path) - self.bytes_before

    def speedup(self, traced_flags: list[bool]) -> float:
        """Median epoch at local[1] over the median untraced epoch at
        local[n], from a few more epochs replayed after restarting the
        session at one core (the first of them re-warms the context).
        The session stays at one core: the run's checks are done."""
        ctx = self.ctx
        samples = ctx.log.samples.get("epoch", [])
        base = [t for t, traced in zip(samples, traced_flags) if not traced]
        if not base:
            return 0.0
        app = f"perfbench-{self.name}"
        self._rebind(harness.restart_spark(self.spark, ctx.work, 1, app))
        one = []
        for k in range(SIZES[ctx.size]["speedup_epochs"] + 1):
            e = self.next_epoch_input()
            t0 = time.perf_counter()
            self._epoch(e)
            if k:
                one.append(time.perf_counter() - t0)
        return statistics.median(one) / statistics.median(base)

    def _rebind(self, spark) -> None:
        from wrangler_spark.lake.table import LakeTable

        self.spark = spark
        self.ctx.spark = spark
        self.feed.spark = spark
        self.events = self.feed.events()
        self.table = LakeTable.load(spark, self.table_path)
        self.replayer = self._replayer(self.table)

    # ------------------------------------------------------------ checks
    def expected_digest(self):
        from wrangler_spark.cdc.events import expected_final_state
        from wrangler_spark.cdc.replay import final_state_sha256, state_digest

        ev = self.feed.distinct_events(self.last_epoch)
        want = expected_final_state(ev).withColumn(
            "content", F.regexp_replace("content", inputs.SSN_PATTERN, inputs.SSN_MASK)
        )
        return state_digest(final_state_sha256(want))

    def table_digest(self, path: str, version: int | None = None):
        from wrangler_spark.cdc.replay import final_state_sha256, state_digest
        from wrangler_spark.lake.table import LakeTable

        table = LakeTable.load(self.spark, path, version=version)
        return state_digest(final_state_sha256(table.read()))

    def check(self) -> list[str]:
        got = self.final_digest = self.table_digest(self.table_path)
        want = self.expected_digest()
        if got != want:
            return [f"final_state_digest: table {got} != expected {want}"]
        return []


class ReplayDenseCow(_Replay):
    """Copy-on-write replay over a small, skewed keyspace: every epoch
    touches most keys, so every epoch rewrites every bucket."""

    name = "replay_dense_cow"


class ReplaySparseMor(_Replay):
    """Merge-on-read replay of small epochs into a large base, with
    redeliveries and point reads between commits. Each cycle of
    `cycle` epochs ends with a compaction (the replayer's cadence). The
    downstream replica syncs once, after the timed loop: no end-to-end
    metric times the sync, so inside the loop it would only take
    measured time from the epochs and reads."""

    name = "replay_sparse_mor"
    mode = "mor"
    shape = "sparse"

    @property
    def cycle(self) -> int:
        return SIZES[self.ctx.size]["sparse"]["cycle"]

    def setup_extra(self) -> None:
        from wrangler_spark.cdc import Replicator

        self.replica_path = os.path.join(self.ctx.work, "replica")
        with self.ctx.phase("replica"):
            # bootstrap: a shallow clone of the warmed-up table, stamped
            # with the source version it reflects (the replica property
            # Replicator.sync keeps its watermark in), so the sync
            # replicates only the timed loop's commits
            replica = self.table.clone(self.replica_path)
            replica.set_properties({"replicated_source_version": self.table.version})
        self.replicator = Replicator(self.table, replica, mode="mor")
        self.synced_version = self.table.version

    def _sync(self) -> None:
        self.synced_version = self.replicator.sync()["source_version"]

    def side_ops(self, i: int) -> None:
        for _ in range(self.p["reads_per_epoch"]):
            self.op("read", self._read)

    def finish(self) -> None:
        self.op("sync", self._sync)

    def check(self) -> list[str]:
        failures = super().check()
        # the replica against the source version its last sync reached
        if self.synced_version == self.replayer.table.version:
            src = self.final_digest
        else:
            src = self.table_digest(self.table_path, self.synced_version)
        rep = self.table_digest(self.replica_path)
        if rep != src:
            failures.append(
                f"replica_digest: replica {rep} != source {src} at version {self.synced_version}"
            )
        return failures


# ---------------------------------------------------------------- recipes


class RecipeWide(Workload):
    """No lake: a wide native recipe over one epoch of pre-generated
    change events per pass, and an Arrow-UDF recipe over every
    `udf_every`-th event of the same epoch (the UDF path runs about two
    orders of magnitude slower), each sunk to parquet."""

    name = "recipe_wide"
    main = "native"
    side = "udf"

    def setup(self) -> None:
        p = SIZES[self.ctx.size]["recipe"]
        self.p = p
        w = self.ctx.work
        self.feed = inputs.EventFeed(
            self.spark, os.path.join(w, "events"), self.ctx.seed,
            n_repos=200, n_paths_per_repo=500,
            seed_events=p["epoch_events"], epoch_events=p["epoch_events"],
        )
        with self.ctx.phase("inputs"):
            self.feed.ensure(p["epochs"])
            self.events = self.feed.events()
        with self.ctx.phase("compile"):
            self.native = self.compile(inputs.NATIVE_RECIPE)
            self.udf = self.compile(inputs.UDF_RECIPE)
        self.out = {"native": os.path.join(w, "out-native"), "udf": os.path.join(w, "out-udf")}
        self.native_events = 0
        self.native_bytes = 0
        self.rows = []  # native (rows_in, rows_out, error_rows) of traced passes
        self.native_err = None
        self.last_epoch = 0
        with self.ctx.phase("warmup"):  # the first passes run far slower
            for e in range(p["warmup_rounds"]):
                self._pass("native", e % p["epochs"])
                self._pass("udf", e % p["epochs"])

    def _pass(self, kind: str, e: int) -> None:
        from wrangler_spark.recipe.registry import RecipeContext

        recipe = self.native if kind == "native" else self.udf
        batch = self.batch(kind, e)
        ok, err = recipe.apply(batch, RecipeContext(spark=self.spark))
        if kind == "native":
            self.native_err = err
        with self.span("recipe.sink_" + kind):
            ok.write.mode("overwrite").parquet(self.out[kind])

    def batch(self, kind: str, e: int):
        batch = self.events.filter(F.col("epoch") == e)
        if kind == "udf":
            batch = batch.filter(F.col("seq") % self.p["udf_every"] == 0)
        return batch

    def step(self, i: int) -> None:
        e = i % self.p["epochs"]
        self.last_epoch = e
        if self.op("native", lambda: self._pass("native", e)):
            self.native_events += self.p["epoch_events"]
            with self.ctx.untimed():
                self.native_bytes += harness.tree_bytes(self.out["native"])
        self.op("udf", lambda: self._pass("udf", e))
        if self.ctx.tracer.enabled:
            with self.ctx.untimed(), self.span("trace.count_rows"):
                err = self.native_err
                self.rows.append((
                    self.batch("native", e).count(),
                    self.spark.read.parquet(self.out["native"]).count(),
                    err.count() if err is not None else 0,
                ))

    def main_events(self) -> int:
        return self.native_events

    def bytes_written(self) -> int:
        return self.native_bytes

    def check(self) -> list[str]:
        failures = []
        batch = self.batch("native", self.last_epoch)
        n_in = batch.count()
        n_drop = batch.filter(F.expr(inputs.NATIVE_DROPPED)).count()
        nat = self.spark.read.parquet(self.out["native"])
        n_out = nat.count()
        if n_out != n_in - n_drop:
            failures.append(f"native_row_count: {n_out} rows, expected {n_in} - {n_drop}")
        hcol, src = inputs.NATIVE_HASH
        bad = nat.filter(~F.col(hcol).eqNullSafe(F.sha2(F.col(src), 256))).count()
        if bad:
            failures.append(f"native_hash: {bad} rows where {hcol} != sha2({src})")
        udf = self.spark.read.parquet(self.out["udf"])
        n_udf, n_udf_in = udf.count(), self.batch("udf", self.last_epoch).count()
        if n_udf != n_udf_in:
            failures.append(f"udf_row_count: {n_udf} rows, expected {n_udf_in}")
        for r in udf.filter(F.col("content").isNotNull()).limit(50).collect():
            if base64.b32decode(r[inputs.UDF_OUT]).decode() != r["content"]:
                failures.append(f"udf_base32: {inputs.UDF_OUT} does not decode to content")
                break
        return failures


WORKLOADS = {w.name: w for w in (ReplayDenseCow, ReplaySparseMor, RecipeWide)}


# ---------------------------------------------------------------- layers

LAYER_UNITS = {
    "recipe.compile_s": "s",
    "recipe.plan_s": "s",
    "recipe.exec_s": "s",
    "recipe.udf_exec_s": "s",
    "recipe.rows_in": "rows",
    "recipe.rows_out": "rows",
    "recipe.error_rows": "rows",
    "replay.epoch_s": "s",
    "replay.epoch_self_s": "s",
    "replay.jobs_per_epoch": "jobs",
    "merge.self_s": "s",
    "merge.probe_s": "s",
    "merge.write_s": "s",
    "merge.keys_per_event": "ratio",
    "merge.buckets_touched_frac": "ratio",
    "merge.broadcast_frac": "ratio",
    "table.write_buckets_s": "s",
    "table.change_files_s": "s",
    "table.commit_s": "s",
    "table.bytes_written": "B/epoch",
    "table.files_written": "files/epoch",
    "table.meta_bytes_per_commit": "B",
    "table.compact_s": "s",
    "table.compactions": "1/epoch",
    "table.bytes_rewritten": "B",
    "table.scan_plan_s": "s",
    "table.scan_s": "s",
    "table.files_kept_frac": "ratio",
    "table.delta_bytes_at_read": "B",
    "replicate.sync_s": "s",
    "replicate.changes_s": "s",
    "replicate.merge_s": "s",
    "replicate.change_rows": "rows",
    "replicate.rows_per_s": "rows/s",
    "spark.jobs": "jobs/op",
    "spark.tasks": "tasks/op",
    "jvm.gc_s": "s/op",
    "trace.overhead_s": "s",
    "trace.unaccounted_frac": "ratio",
    "replay.speedup_1_to_n": "ratio",
}


def layer_metrics(wl: Workload, spans: list[dict], loop: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run (see perfbench/layers.json)."""
    ix = SpanIndex(spans)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    dur = ix.duration

    def in_loop(s):
        return loop["start"] <= s["start"] <= loop["end"]

    epochs = [s for s in ix.named("replay.epoch") if in_loop(s) and not s.get("skipped")]
    merges = [s for s in ix.named("merge") if in_loop(s) and ix.under(s, "replay.epoch") and not s.get("skipped")]
    compacts = [s for s in ix.named("table.compact") if in_loop(s) and s.get("compacted_buckets")]

    merge_ids = {s["id"] for s in merges}

    def under_merge(name):
        return [s for s in ix.named(name) if in_loop(s) and any(a["id"] in merge_ids for a in ix.ancestors(s))]

    wb = under_merge("table.write_buckets")
    cf = under_merge("table.write_change_files")
    cm = under_merge("table.commit")
    reads = [s for s in ix.named("op.read") if in_loop(s)]
    syncs = [s for s in ix.named("replicate.sync") if in_loop(s) and not s.get("skipped")]
    mains = [s for s in ix.named("op." + wl.main) if in_loop(s)]

    native_rows = getattr(wl, "rows", [])

    def child(s, name):
        return [c for c in ix.children.get(s["id"], []) if c["name"] == name]

    def epoch_written(ep, key):
        return sum(d.get(key, 0) for d in ix.descendants(ep)
                   if d["name"] in ("table.write_buckets", "table.write_change_files"))

    out = {
        "recipe.compile_s": med([dur(s) for s in ix.named("recipe.compile")]),
        "recipe.plan_s": med([dur(s) for s in ix.named("recipe.apply") if in_loop(s) and ix.under(s, "op." + wl.main)]),
        "recipe.exec_s": med([dur(s) for s in ix.named("recipe.sink_native") if in_loop(s)]),
        "recipe.udf_exec_s": med([dur(s) for s in ix.named("recipe.sink_udf") if in_loop(s)]),
        "recipe.rows_in": med([r[0] for r in native_rows]),
        "recipe.rows_out": med([r[1] for r in native_rows]),
        "recipe.error_rows": med([r[2] for r in native_rows]),
        "replay.epoch_s": med([dur(s) for s in epochs]),
        "replay.epoch_self_s": med([ix.self_time(s) for s in epochs]),
        "replay.jobs_per_epoch": med([ix.jobs_total(s) for s in epochs]),
        "merge.self_s": med([ix.self_time(s) for s in merges]),
        "merge.probe_s": med([s.get("probe_s") or 0.0 for s in merges]),
        "merge.write_s": med([s.get("write_s") or 0.0 for s in merges]),
        "merge.keys_per_event": med([s["keys"] / s["events"] for s in merges if s.get("events")]),
        "merge.buckets_touched_frac": med([s["affected_buckets"] / s["num_buckets"] for s in merges if "affected_buckets" in s]),
        "merge.broadcast_frac": (sum(bool(s.get("broadcast")) for s in merges) / len(merges)) if merges else 0.0,
        "table.write_buckets_s": med([dur(s) for s in wb]),
        "table.change_files_s": med([dur(s) for s in cf]),
        "table.commit_s": med([dur(s) for s in cm]),
        "table.bytes_written": med([epoch_written(s, "bytes") + sum(c.get("meta_bytes", 0) for c in ix.descendants(s) if c["name"] == "table.commit") for s in epochs]),
        "table.files_written": med([epoch_written(s, "files") for s in epochs]),
        "table.meta_bytes_per_commit": med([s.get("meta_bytes", 0) for s in cm]),
        "table.compact_s": med([dur(s) for s in compacts]),
        "table.compactions": len(compacts) / len(epochs) if epochs else 0.0,
        "table.bytes_rewritten": med([sum(c.get("bytes", 0) for c in child(s, "table.write_buckets")) for s in compacts]),
        "table.scan_plan_s": med([dur(c) for s in reads for c in ix.descendants(s) if c["name"] == "table.scan_plan"]),
        "table.scan_s": med([sum(dur(c) for c in ix.children.get(s["id"], []) if c["name"] in ("table.scan", "table.scan.collect")) for s in reads]),
        "table.files_kept_frac": med([c["files_kept"] / c["files_total"] for s in reads for c in ix.descendants(s) if c["name"] == "table.scan_plan" and c.get("files_total")]),
        "table.delta_bytes_at_read": med([c["delta_bytes"] for s in reads for c in ix.descendants(s) if c["name"] == "read.delta_bytes"]),
        "replicate.sync_s": med([dur(s) for s in syncs]),
        "replicate.changes_s": med([dur(c) for s in syncs for c in child(s, "table.table_changes")]),
        "replicate.merge_s": med([dur(c) for s in syncs for c in child(s, "merge")]),
        "replicate.change_rows": med([s["change_rows"] for s in syncs]),
        "replicate.rows_per_s": (sum(s["change_rows"] for s in syncs) / sum(dur(s) for s in syncs)) if syncs else 0.0,
        "spark.jobs": med([ix.jobs_total(s) for s in mains]),
        "spark.tasks": med([ix.tasks_total(s) for s in mains]),
        "jvm.gc_s": loop["gc_s"] / max(len(loop["main_flags"]), 1),
    }

    # tracing overhead: main-op latency, traced minus untraced iterations
    samples = wl.ctx.log.samples.get(wl.main, [])
    flags = loop["main_flags"][: len(samples)]
    traced = [t for t, f in zip(samples, flags) if f]
    plain = [t for t, f in zip(samples, flags) if not f]
    out["trace.overhead_s"] = (med(traced) - med(plain)) if traced and plain else 0.0

    # share of the traced iterations' wall time no top-level span covers
    tops = [s for s in spans if s["parent"] is None and in_loop(s)]
    it_wall = loop["traced_wall"]
    out["trace.unaccounted_frac"] = (1.0 - sum(dur(s) for s in tops) / it_wall) if it_wall else 0.0
    out["replay.speedup_1_to_n"] = loop.get("speedup", 0.0)
    return out
