"""Spans around the library's public calls, recorded from the benchmark.

`Tracer.install()` replaces each public method listed in `_targets()` on
its class with a wrapper that opens a span around the original call, so
calls the library makes internally (the merge calling `write_buckets`,
the replayer calling `compact`) are traced too. The library's source is
untouched and `uninstall()` restores the originals.

A span records name, start, end, parent span and workload, plus what
the call returned that a layer metric needs (bytes and files written,
keys merged, files kept by scan planning). Each span tags the Spark jobs
it starts with its own job group, so job and task counts are attributed
per span after the run. Spans stay in memory until `dump()`.

For calls that return a lazy DataFrame (`CompiledRecipe.apply`,
`LakeTable.scan`, `LakeTable.table_changes`) the span covers planning
only; the benchmark times execution at its own action.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from contextlib import contextmanager


def _rel_bytes(root: str, rels) -> int:
    total = 0
    for rel in rels:
        try:
            total += os.path.getsize(os.path.join(root, rel))
        except OSError:
            pass
    return total


def _meta_listing(path: str) -> dict[str, int]:
    out = {}
    mdir = os.path.join(path, "_meta")
    for root, _dirs, files in os.walk(mdir):
        for fn in files:
            full = os.path.join(root, fn)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                pass
    return out


# ---- per-call attribute hooks: pre(args) runs before the call, and its
# result reaches post(rec, args, out, before) after it


def _post_merge(rec, args, out, before):
    table = args[0]
    rec["num_buckets"] = table.num_buckets
    for k in ("skipped", "events", "keys", "affected_buckets", "mode"):
        if k in out:
            rec[k] = out[k]
    t = out.get("timings") or {}
    rec["probe_s"] = t.get("probe_sec")
    rec["write_s"] = t.get("write_sec")
    rec["broadcast"] = t.get("broadcast_path")


def _post_write_buckets(rec, args, out, before):
    rels = [r for rs in out.values() for r in rs]
    rec["files"] = len(rels)
    rec["bytes"] = _rel_bytes(args[0].path, rels)


def _post_change_files(rec, args, out, before):
    rec["files"] = len(out)
    rec["bytes"] = _rel_bytes(args[0].path, out)


def _pre_commit(args):
    return _meta_listing(args[0].path)


def _post_commit(rec, args, out, before):
    after = _meta_listing(args[0].path)
    rec["meta_bytes"] = sum(sz for f, sz in after.items() if f not in before)


def _post_compact(rec, args, out, before):
    rec["compacted_buckets"] = out.get("compacted_buckets", 0)


def _post_scan_plan(rec, args, out, before):
    table = args[0]
    total = sum(len(v) for v in table.snap["files"].values())
    rec["files_kept"] = len(out.get("base_rels", []))
    rec["files_total"] = total


def _post_sync(rec, args, out, before):
    rec["change_rows"] = out.get("events", 0)
    rec["skipped"] = out.get("skipped", False)


def _post_replay_epoch(rec, args, out, before):
    rec["events"] = out.get("events", 0)
    rec["skipped"] = out.get("skipped", False)


def _targets():
    from wrangler_spark.cdc.replay import Replayer
    from wrangler_spark.cdc.replicate import Replicator
    from wrangler_spark.lake.table import LakeTable
    from wrangler_spark.recipe.compiler import CompiledRecipe

    return [
        (CompiledRecipe, "apply", "recipe.apply", None, None),
        (Replayer, "replay_epoch", "replay.epoch", None, _post_replay_epoch),
        (LakeTable, "merge", "merge", None, _post_merge),
        (LakeTable, "write_buckets", "table.write_buckets", None, _post_write_buckets),
        (LakeTable, "write_change_files", "table.write_change_files", None, _post_change_files),
        (LakeTable, "commit", "table.commit", _pre_commit, _post_commit),
        (LakeTable, "compact", "table.compact", None, _post_compact),
        (LakeTable, "load", "table.load", None, None),
        (LakeTable, "scan_plan", "table.scan_plan", None, _post_scan_plan),
        (LakeTable, "scan", "table.scan", None, None),
        (LakeTable, "delta_bytes", "table.delta_bytes", None, None),
        (LakeTable, "table_changes", "table.table_changes", None, None),
        (Replicator, "sync", "replicate.sync", None, _post_sync),
    ]


class Tracer:
    """In-memory span recorder. Disabled, `span()` and the installed
    wrappers cost one attribute check per call."""

    def __init__(self, spark, workload: str):
        self.workload = workload
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._saved: list[tuple] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "workload": self.workload,
            "group": f"perfbench-{os.getpid()}-{sid}",
            **attrs,
        }
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        for owner, attr, name, pre, post in _targets():
            raw = inspect.getattr_static(owner, attr)
            is_static = isinstance(raw, staticmethod)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, raw))
            wrapper = self._wrap(orig, name, pre, post)
            setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    def _wrap(self, orig, name, pre, post):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            before = pre(args) if pre else None
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if post is not None:
                    post(rec, args, out, before)
                return out

        return wrapper

    # ------------------------------------------------------------ job counts
    def attribute_jobs(self) -> None:
        """Job and task counts per span, read from the status store.
        Run once after the measured loop: the reads are driver-side
        calls that would otherwise land inside the spans."""
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numTasks
            rec["jobs_self"] = len(jobs)
            rec["tasks_self"] = tasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def jvm_gc_seconds(spark) -> float:
    """Accumulated collection time over every garbage collector MXBean."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---------------------------------------------------------------- analysis


class SpanIndex:
    """Parent/child lookups and self time over a finished span list."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        # children run on the span's own thread, so they never overlap
        return self.duration(s) - sum(self.duration(c) for c in self.children.get(s["id"], []))

    def ancestors(self, s: dict):
        p = s["parent"]
        while p is not None:
            a = self.by_id[p]
            yield a
            p = a["parent"]

    def under(self, s: dict, name: str) -> bool:
        return any(a["name"] == name for a in self.ancestors(s))

    def descendants(self, s: dict):
        todo = list(self.children.get(s["id"], []))
        while todo:
            c = todo.pop()
            yield c
            todo.extend(self.children.get(c["id"], []))

    def jobs_total(self, s: dict) -> int:
        return s.get("jobs_self", 0) + sum(c.get("jobs_self", 0) for c in self.descendants(s))

    def tasks_total(self, s: dict) -> int:
        return s.get("tasks_self", 0) + sum(c.get("tasks_self", 0) for c in self.descendants(s))
