"""File-level stats + data-skipping scans (Iceberg manifest-stats
equivalent): stats collected from parquet footers at commit, scan()
pruning buckets/files driver-side, equivalence with read().filter().

Reference parity: the reference engine is transform-only; these
semantics come from the north rule's Iceberg sink (manifest min/max
stats, partition pruning, `scan` planning from metadata).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.lake.table import LakeTable


@pytest.fixture()
def mk_table(spark, tmp_path):
    def _mk(name, **kw):
        kw.setdefault("num_buckets", 8)
        return LakeTable.create(
            spark, str(tmp_path / name), repo_files_schema(), ["repo", "path"], **kw
        )

    return _mk


def ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )


def seed(spark, table, n=40, mode="cow"):
    rows = [
        (i, "insert", f"repo{i % 10}", f"f{i}.py", f"c{i}", "python", f"body{i:03d}")
        for i in range(n)
    ]
    table.merge(ch(spark, rows), epoch=0, mode=mode)
    return rows


def test_stats_collected_on_commit(spark, mk_table):
    t = mk_table("t1")
    seed(spark, t)
    stats = t.file_stats
    # every committed base file has stats for the tracked columns
    all_rels = [rel for rels in t.snap["files"].values() for rel in rels]
    assert all_rels and set(stats) == set(all_rels)
    one = stats[all_rels[0]]
    for col in ("repo", "path", "commit", "lang", "content"):
        assert col in one
        mn, mx, nulls = one[col]
        assert mn is not None and mx is not None and mn <= mx


def test_scan_equals_read_filter(spark, mk_table):
    t = mk_table("t2")
    seed(spark, t)
    for filters in (
        [("repo", "=", "repo3")],
        [("content", ">=", "body020"), ("content", "<", "body030")],
        [("lang", "=", "nosuch")],
    ):
        plan = {}
        got = sorted(map(tuple, t.scan(filters, plan_out=plan).collect()))
        cond = t._filters_to_column(filters)
        want = sorted(map(tuple, t.read().filter(cond).collect()))
        assert got == want, filters


def test_scan_skips_files_on_range(spark, mk_table):
    t = mk_table("t3")
    # two epochs with disjoint content ranges → per-version files are
    # range-separable and a range scan must skip the other version's
    rows_lo = [
        (i, "insert", "rA", f"lo{i}.py", "c", "python", f"aaa{i:03d}") for i in range(20)
    ]
    rows_hi = [
        (100 + i, "insert", "rA", f"hi{i}.py", "c", "python", f"zzz{i:03d}")
        for i in range(20)
    ]
    t.merge(ch(spark, rows_lo), epoch=0)
    t.merge(ch(spark, rows_hi), epoch=1)
    plan = {}
    got = t.scan([("content", ">=", "zzz")], plan_out=plan).collect()
    assert len(got) == 20
    assert plan["skipped_files"] > 0
    # sanity: no filter → nothing skipped
    plan2 = {}
    assert t.scan(plan_out=plan2).count() == 40
    assert plan2["skipped_files"] == 0


def test_point_lookup_prunes_to_one_bucket(spark, mk_table):
    t = mk_table("t4")
    rows = seed(spark, t)
    plan = {}
    got = t.scan(
        [("repo", "=", "repo7"), ("path", "=", "f7.py")], plan_out=plan
    ).collect()
    assert plan["point_lookup"] and len(plan["buckets"]) == 1
    assert len(got) == 1 and got[0]["content"] == "body007"
    # the pinned bucket agrees with the table's own bucket hash
    b = (
        t.read()
        .filter((F.col("repo") == "repo7") & (F.col("path") == "f7.py"))
        .select(t.bucket_expr(t.read()).alias("b"))
        .first()["b"]
    )
    assert plan["buckets"] == [b]


def test_scan_never_stat_prunes_through_pending_deltas(spark, mk_table):
    """The stale-delta trap: base (seq 10, content high) beats a pending
    stale delta (seq 7, content low). Stats-pruning the base file on a
    low-range predicate would let the stale delta row win resolution and
    surface a row read() would never show. Buckets with pending deltas
    must scan their base fully."""
    t = mk_table("t5", num_buckets=1)
    t.merge(ch(spark, [(10, "insert", "rA", "k.py", "c1", "python", "zzz")]), epoch=0)
    # stale MoR delta, lower seq, content in a disjoint low range
    t.merge(
        ch(spark, [(7, "update", "rA", "k.py", "c0", "python", "aaa")]),
        epoch=1,
        mode="mor",
    )
    assert t.delta_rels(), "delta must be pending for this test"
    plan = {}
    got = t.scan([("content", "<", "mmm")], plan_out=plan).collect()
    assert got == []  # resolved winner is zzz; nothing below mmm
    assert plan["skipped_files"] == 0 and plan["delta_buckets"] == [0]
    # after compaction the same predicate CAN skip files again
    t.compact()
    plan = {}
    assert t.scan([("content", "<", "mmm")], plan_out=plan).collect() == []
    assert plan["skipped_files"] > 0


def test_scan_through_rename_alias(spark, mk_table):
    """Stats recorded under a pre-rename column name still prune when
    scanning by the current name (Iceberg field-id-mapping shape)."""
    t = mk_table("t6", num_buckets=1)
    t.merge(ch(spark, [(1, "insert", "rA", "a.py", "c1", "python", "aaa")]), epoch=0)
    # rename content -> body; old file keeps stats under 'content'
    t.merge(
        spark.createDataFrame(
            [(2, "insert", "rB", "b.py", "c1", "python", "zzz")],
            "seq long, op string, repo string, path string, commit string, lang string, body string",
        ),
        epoch=1,
        renames={"content": "body"},
    )
    plan = {}
    got = sorted(r["body"] for r in t.scan([("body", ">=", "zzz")], plan_out=plan).collect())
    assert got == ["zzz"]
    cond = F.col("body") >= "zzz"
    want = sorted(r["body"] for r in t.read().filter(cond).collect())
    assert got == want


def test_stats_disabled_property(spark, mk_table):
    t = mk_table("t7", properties={"stats.enabled": "false"})
    seed(spark, t)
    assert not t.file_stats and not t.snap.get("stats_manifests")
    # scan still works, just without file skipping
    plan = {}
    assert t.scan([("repo", "=", "repo1")], plan_out=plan).count() == 4
    assert plan["skipped_files"] == 0


def test_stats_pruned_to_live_files(spark, mk_table):
    t = mk_table("t8")
    seed(spark, t)
    t.merge(
        ch(spark, [(1000, "update", "repo1", "f1.py", "cX", "python", "new")]), epoch=1
    )
    live = {rel for rels in t.snap["files"].values() for rel in rels} | {
        rel for rels in t.snap.get("deltas", {}).values() for rel in rels
    }
    assert set(t.file_stats) <= live


def test_bad_filter_rejected(spark, mk_table):
    t = mk_table("t9")
    with pytest.raises(ValueError):
        t.scan_plan([("repo", "like", "x")])


def test_sorted_write_makes_range_skipping_fire(spark, mk_table):
    """write.sort.cols + write.max-records-per-file turn one bucket into
    a sequence of disjoint-range files — a range scan must skip most of
    them. Without the sort, every file spans the whole domain and
    nothing can skip (the 100 TB reason the property exists)."""
    t = mk_table(
        "ts1",
        num_buckets=1,
        properties={"write.sort.cols": "content", "write.max-records-per-file": 10},
    )
    rows = [
        (i, "insert", "rA", f"f{i}.py", "c", "python", f"v{i:03d}") for i in range(50)
    ]
    t.merge(ch(spark, rows), epoch=0)
    files = t.snap["files"]["0"]
    assert len(files) >= 5, files  # maxRecordsPerFile split the bucket
    plan = {}
    got = sorted(
        r["content"]
        for r in t.scan(
            [("content", ">=", "v040"), ("content", "<", "v045")], plan_out=plan
        ).collect()
    )
    assert got == [f"v{i:03d}" for i in range(40, 45)]
    assert plan["skipped_files"] >= len(files) - 2, plan


def test_commit_conflict_between_two_handles(spark, mk_table, tmp_path):
    """Optimistic concurrency: two handles loaded at the same version
    both try to commit — exactly one wins the version-file CAS; the
    loser gets CommitConflictError, reloads, and its re-merge of an
    already-committed epoch is a fenced no-op (the safe retry)."""
    from wrangler_spark.lake.table import CommitConflictError

    t = mk_table("tc1", num_buckets=2)
    t.merge(ch(spark, [(1, "insert", "rA", "a.py", "c", "py", "x")]), epoch=0)
    h1 = LakeTable.load(spark, t.path)
    h2 = LakeTable.load(spark, t.path)
    h1.merge(ch(spark, [(2, "update", "rA", "a.py", "c2", "py", "y")]), epoch=1)
    with pytest.raises(CommitConflictError):
        h2.merge(ch(spark, [(3, "update", "rA", "a.py", "c3", "py", "z")]), epoch=2)
    # retry protocol: reload, re-merge — applies cleanly on the new base
    h3 = LakeTable.load(spark, t.path)
    h3.merge(ch(spark, [(3, "update", "rA", "a.py", "c3", "py", "z")]), epoch=2)
    assert [r["content"] for r in h3.read().collect()] == ["z"]
    # and re-merging h1's already-committed epoch is a no-op
    res = h3.merge(ch(spark, [(2, "update", "rA", "a.py", "c2", "py", "y")]), epoch=1)
    assert res["skipped"]


def test_stale_handle_cannot_roll_back(spark, mk_table):
    """A handle many versions behind must not move the table backwards
    even when its target version file was expired (guard on the VERSION
    pointer, not just the version-file CAS)."""
    from wrangler_spark.lake.table import CommitConflictError

    t = mk_table("tc2", num_buckets=2)
    stale = None
    for e in range(4):
        t.merge(
            ch(spark, [(10 + e, "update", "rA", "a.py", f"c{e}", "py", f"v{e}")]),
            epoch=e,
        )
        if e == 0:
            stale = LakeTable.load(spark, t.path)
    t.expire_snapshots(keep_last=2)  # stale's next version file is gone
    # a mor merge reads no base files, so WITHOUT the VERSION-pointer
    # guard the stale handle would win the (expired) version-file CAS
    # and move the pointer backwards — the guard must refuse
    with pytest.raises(CommitConflictError):
        stale.merge(
            ch(spark, [(99, "update", "rA", "a.py", "cX", "py", "ROLLBACK")]),
            epoch=9,
            mode="mor",
        )
    assert [r["content"] for r in t.read().collect()] == ["v3"]


def test_zorder_compaction_multi_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER equivalent: after a z-order compact on (x, y),
    range scans on EITHER column must skip files (a lexicographic sort
    only tightens the leading column), and results stay identical to
    read().filter()."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "tz"),
        schema,
        ["id"],
        num_buckets=1,
        properties={"write.max-records-per-file": 64},
    )
    n = 1024
    rows = [(i, (i * 37) % n, (i * 101) % n) for i in range(n)]
    t.merge(
        spark.createDataFrame(
            [(i, "insert", a, b, c) for i, (a, b, c) in enumerate(rows, 1)],
            "seq long, op string, id long, x long, y long",
        ),
        epoch=0,
    )
    res = t.compact(zorder=["x", "y"])
    assert res["compacted_buckets"] == 1
    files = t.snap["files"]["0"]
    assert len(files) >= 8, files
    for col in ("x", "y"):
        plan = {}
        got = sorted(
            r["id"] for r in t.scan([(col, "<", 64)], plan_out=plan).collect()
        )
        want = sorted(
            r["id"] for r in t.read().filter(F.col(col) < 64).collect()
        )
        assert got == want and len(got) == 64
        assert plan["skipped_files"] > 0, (col, plan)
    # whole-table content unchanged by the layout rewrite
    assert t.read().count() == n


def test_zorder_rejects_string_column(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "tz2"), schema, ["id"], num_buckets=1)
    t.merge(
        spark.createDataFrame(
            [(1, "insert", 1, "a")], "seq long, op string, id long, s string"
        ),
        epoch=0,
    )
    with pytest.raises(ValueError):
        t.compact(zorder=["s"])


def test_stats_collection_paths_agree(spark, mk_table, monkeypatch):
    """The three footer-stats collection paths (serial single-file,
    driver thread pool, distributed Spark job) produce identical
    manifests — the distributed path is forced by dropping the
    threshold, not by writing 256 real files."""
    import wrangler_spark.lake.table as lt

    t = mk_table("t_statpaths")
    seed(spark, t, n=60)
    rels = sorted(r for rels in t.snap["files"].values() for r in rels)
    assert len(rels) >= 2

    threaded = lt._collect_file_stats(t.path, t.snap, rels, spark=None)
    monkeypatch.setattr(lt, "_STATS_DISTRIBUTE_MIN", 1)
    distributed = lt._collect_file_stats(t.path, t.snap, rels, spark=spark)
    assert distributed == threaded == {r: t.file_stats[r] for r in rels}


def test_large_commit_uses_distributed_stats(spark, mk_table, monkeypatch):
    """With the threshold lowered, a real commit routes footer stats
    through the Spark job and scan pruning still answers correctly."""
    import wrangler_spark.lake.table as lt

    monkeypatch.setattr(lt, "_STATS_DISTRIBUTE_MIN", 1)
    calls = {"n": 0}
    orig = lt._footer_stats_one

    def counting(full_path, want):
        calls["n"] += 1
        return orig(full_path, want)

    monkeypatch.setattr(lt, "_footer_stats_one", counting)
    t = mk_table("t_statdist")
    seed(spark, t, n=40)
    # driver-side helper was never invoked: all reads ran inside tasks
    # (executor-side pickling resolves the ORIGINAL module attr there
    # only if referenced at call time; the map lambda captures the
    # module function by reference, so the monkeypatched counter seeing
    # zero hits proves the driver pool was skipped)
    assert calls["n"] == 0
    assert t.file_stats
    got = t.scan([("repo", "=", "repo3")]).select("repo").distinct().collect()
    assert [r["repo"] for r in got] == ["repo3"]


# ------------------------------------------------------------- IN filters


def test_scan_in_equals_read_filter_isin(spark, mk_table):
    t = mk_table("in1")
    seed(spark, t)
    want = sorted(
        map(tuple, t.read().filter(F.col("repo").isin("repo1", "repo3")).collect())
    )
    got = sorted(map(tuple, t.scan([("repo", "in", ["repo1", "repo3"])]).collect()))
    assert got == want and got


def test_scan_key_in_prunes_to_value_buckets(spark, mk_table):
    """A full-key =/IN combination pins the bucket SET (Iceberg
    in-predicate partition pruning): ≤ one bucket per key combo."""
    t = mk_table("in2", num_buckets=16)
    seed(spark, t)
    plan: dict = {}
    got = t.scan(
        [("repo", "=", "repo1"), ("path", "in", ["f1.py", "f11.py", "f21.py"])],
        plan_out=plan,
    )
    assert plan["point_lookup"] and len(plan["buckets"]) <= 3
    assert {r["path"] for r in got.collect()} == {"f1.py", "f11.py", "f21.py"}
    # too many combos (> 8) degrades gracefully to no pinning, same rows
    plan2: dict = {}
    t.scan(
        [("repo", "=", "repo1"), ("path", "in", [f"f{i}.py" for i in range(1, 41, 4)])],
        plan_out=plan2,
    )
    assert not plan2["point_lookup"] and len(plan2["buckets"]) == 16


def test_scan_in_stats_skip_files(spark, mk_table):
    """IN over a sorted column skips files whose range excludes EVERY
    listed value; a file admitting one value is kept."""
    t = mk_table(
        "in3",
        num_buckets=1,
        properties={"write.sort.cols": "content", "write.max-records-per-file": 10},
    )
    seed(spark, t, n=80)
    plan: dict = {}
    got = t.scan([("content", "in", ["body003", "body071"])], plan_out=plan)
    assert plan["skipped_files"] >= 5  # 8 files, 2 admit the two values
    assert {r["content"] for r in got.collect()} == {"body003", "body071"}
    # empty IN list: provably nothing — every file pruned, zero rows
    plan3: dict = {}
    none = t.scan([("content", "in", [])], plan_out=plan3)
    assert not plan3["base_rels"] and none.count() == 0


def test_scan_in_bloom_pruning(spark, mk_table):
    """Bloom probes OR over the IN values: a file is skipped only when
    EVERY value is provably absent."""
    t = mk_table("in4", num_buckets=1, properties={"bloom.cols": "commit"})
    seed(spark, t, n=40)
    # values that sort inside the live range (stats can't prune) but
    # never occur — only the bloom can prove absence
    plan: dict = {}
    none = t.scan([("commit", "in", ["c1x", "c2x"])], plan_out=plan)
    assert plan["bloom_skipped_files"] > 0 and none.count() == 0
    # one live value in the list keeps the file
    plan2: dict = {}
    some = t.scan([("commit", "in", ["c1x", "c7"])], plan_out=plan2)
    assert some.count() == 1


def test_scan_in_rejects_scalar_value(spark, mk_table):
    t = mk_table("in5")
    seed(spark, t, n=4)
    with pytest.raises(ValueError, match="list"):
        t.scan_plan([("repo", "in", "repo1")])


def test_delete_where_in_filter(spark, mk_table):
    """DML rides the same filter surface: DELETE WHERE path IN (...)."""
    t = mk_table("in6")
    seed(spark, t, n=12)
    m = t.delete_where([("path", "in", ["f1.py", "f2.py"])])
    assert m["rows"] == 2
    paths = {r["path"] for r in t.read().collect()}
    assert "f1.py" not in paths and "f2.py" not in paths and len(paths) == 10


def test_stats_sidecars_are_commit_scoped(spark, mk_table):
    """Stats live in immutable per-commit sidecars (Iceberg manifest
    model): a new commit writes ONE sidecar covering only its own new
    files, earlier sidecars are untouched (pointer carry-forward), the
    snapshot JSON itself carries no per-file stats, and expire collects
    sidecars once none of their files are referenced."""
    import json as _json
    import os as _os

    t = mk_table("t_sidecar")
    seed(spark, t)
    m1 = t.snap.get("stats_manifests", [])
    assert len(m1) == 1 and "stats" not in t.snap
    sidecar1 = m1[0]["path"]
    size1 = _os.stat(_os.path.join(t.path, sidecar1)).st_size
    n_files1 = len(m1[0]["files"])
    # a 1-key epoch: the new sidecar covers ONLY the rewritten bucket's
    # new files; the first sidecar is untouched on disk
    t.merge(
        ch(spark, [(1000, "update", "repo1", "f1.py", "cX", "python", "new")]),
        epoch=1,
    )
    m2 = t.snap["stats_manifests"]
    assert [m["path"] for m in m2][0] == sidecar1
    assert _os.stat(_os.path.join(t.path, sidecar1)).st_size == size1
    assert len(m2) == 2 and len(m2[1]["files"]) < n_files1
    with open(_os.path.join(t.path, m2[1]["path"])) as f:
        assert set(_json.load(f)) == set(m2[1]["files"])
    # pruning still answers from the merged view
    plan = {}
    got = t.scan([("repo", "=", "repo1")], plan_out=plan).count()
    assert got == 4 and plan["skipped_files"] > 0
    # expire: after enough rewrites every file of sidecar1 dies and the
    # pointer + file go away
    for e in range(2, 12):
        t.merge(
            ch(spark, [(1000 + e, "update", f"repo{e % 10}", f"f{e % 10}.py",
                        f"c{e}", "python", f"v{e}")]),
            epoch=e,
        )
    t.expire_snapshots(keep_last=1)
    cur = LakeTable.load(spark, t.path)
    live = {r for rels in cur.snap["files"].values() for r in rels}
    for m in cur.snap["stats_manifests"]:
        assert any(r in live for r in m["files"])
        assert _os.path.exists(_os.path.join(t.path, m["path"]))
    # a sidecar none of whose files live anymore is gone from disk
    meta = _os.path.join(t.path, "_meta")
    on_disk = {f"_meta/{fn}" for fn in _os.listdir(meta) if fn.startswith("stats-v")}
    assert on_disk == {m["path"] for m in cur.snap["stats_manifests"]}
    assert set(cur.file_stats) == live


# ------------------------------------------- driver-side point lookups


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    import uuid

    sc = spark.sparkContext
    gid = f"point-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "point lookup")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _pt_rows(spark, rows, extra=False):
    cols = "seq long, op string, repo string, path string, body string, d date, ts timestamp"
    out = []
    for seq, op, repo, path, body, *rest in rows:
        i = seq % 28
        out.append(
            (seq, op, repo, path, body,
             None if body is None else dt.date(2024, 1, 1 + i),
             None if body is None else dt.datetime(2024, 1, 1 + i, 12, i, 30),
             *rest)
        )
    return spark.createDataFrame(out, cols + (", extra string" if extra else ""))


@pytest.fixture(scope="module", params=["cow", "mor"])
def point_table(request, spark, tmp_path_factory):
    """Base, then (in the parametrized mode) a stale lower-seq delta
    (f1), an equal-seq delta (f2), the same seq-20 row for f3 in two
    epochs, a tombstone (f4), a rename content→body and a column added
    after the base was written."""
    from pyspark.sql import types as T

    mode = request.param
    schema = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()), T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    t = LakeTable.create(spark, str(tmp_path_factory.mktemp("pt") / mode), schema,
                         ["repo", "path"], num_buckets=4)
    base = [(10, "insert", f"r{i % 4}", f"f{i}.py", f"v{i}") for i in range(32)]
    t.merge(_pt_rows(spark, base).withColumnRenamed("body", "content"), epoch=0)
    t.rename_column("content", "body")
    t.merge(_pt_rows(spark, [
        (5, "update", "r1", "f1.py", "stale"),
        (10, "update", "r2", "f2.py", "tie"),
        (20, "update", "r3", "f3.py", "dup"),
        (30, "delete", "r0", "f4.py", None),
    ]), epoch=1, mode=mode)
    t.merge(_pt_rows(spark, [(20, "update", "r3", "f3.py", "dup")]), epoch=2, mode=mode)
    t.merge(_pt_rows(spark, [(40, "update", "r1", "f5.py", "new5", "x5")], extra=True),
            epoch=3, mode=mode)
    assert bool(t.delta_rels()) == (mode == "mor")
    return t


POINT_CASES = {
    "stale_delta": [("repo", "=", "r1"), ("path", "=", "f1.py")],
    "equal_seq_delta": [("repo", "=", "r2"), ("path", "=", "f2.py")],
    "tied_delta_copies": [("repo", "=", "r3"), ("path", "=", "f3.py")],
    "tombstone": [("repo", "=", "r0"), ("path", "=", "f4.py")],
    "missing_key": [("repo", "=", "nosuch"), ("path", "=", "f1.py")],
    "in_many_buckets": [("repo", "in", ["r1", "r2"]),
                        ("path", "in", ["f1.py", "f2.py", "f5.py", "f9.py"])],
    "added_column": [("repo", "=", "r1"), ("path", "in", ["f5.py", "f9.py"])],
    "renamed_alias": [("repo", "=", "r3"), ("path", "=", "f7.py"), ("body", "=", "v7")],
    "residual_miss": [("repo", "=", "r3"), ("path", "=", "f7.py"), ("body", "=", "v8")],
    "residual_date": [("repo", "in", ["r1", "r2"]), ("path", "in", ["f1.py", "f2.py"]),
                      ("d", ">", dt.date(2024, 1, 8))],
    "residual_ts": [("repo", "in", ["r1", "r3"]), ("path", "in", ["f1.py", "f3.py"]),
                    ("ts", ">=", dt.datetime(2024, 1, 11, 12, 10, 30))],
}


@pytest.fixture(scope="module")
def point_reads(spark, point_table):
    """{with_meta: (read(with_meta) schema, its rows as a local relation)}
    — the table does not change between cases, so each read runs once
    and read().filter(...) filters the local copy on the driver."""
    out = {}
    for with_meta in (False, True):
        df = point_table.read(with_meta=with_meta)
        out[with_meta] = (df.schema, spark.createDataFrame(df.collect(), df.schema))
    return out


@pytest.mark.parametrize("case", sorted(POINT_CASES))
@pytest.mark.parametrize("with_meta", [False, True])
def test_point_lookup_resolves_on_driver(spark, point_table, point_reads, case, with_meta):
    t = LakeTable.load(spark, point_table.path)
    filters = POINT_CASES[case]
    plan: dict = {}

    def lookup():
        df = t.scan(filters, with_meta=with_meta, plan_out=plan)
        return df.schema, df.collect()

    (got_schema, got), jobs = _jobs_run(spark, lookup)
    assert plan["driver_keys"] is not None and jobs == 0
    read_schema, read_rows = point_reads[with_meta]
    want = read_rows.filter(t._filters_to_column(filters)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got_schema == read_schema
    if case == "in_many_buckets":
        assert len(plan["buckets"]) > 1
    expect = {
        "stale_delta": ["v1"], "equal_seq_delta": ["v2"], "tied_delta_copies": ["dup"],
        "tombstone": [], "missing_key": [], "renamed_alias": ["v7"], "residual_miss": [],
    }.get(case)
    if expect is not None and not with_meta:
        assert [r["body"] for r in got] == expect
    if case == "added_column" and not with_meta:
        assert sorted((r["path"], r["extra"]) for r in got) == [
            ("f5.py", "x5"), ("f9.py", None)]


def test_point_lookup_non_exact_literals_stay_on_spark(spark, tmp_path):
    """Only str literals on string keys and int (not bool) literals on
    integral keys resolve on the driver; anything else keeps the Spark
    plan, with the same rows as read().filter(...)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "ik"), schema, ["k"], num_buckets=8)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(-3, 4)], schema)
    t.merge(df.withColumn("seq", F.lit(1).cast("long")).withColumn("op", F.lit("insert")),
            epoch=0)
    for lit_, local in ((1, True), (-3, True), (True, False), ("1", False),
                        (1.0, False), (2**40, False)):
        filters = [("k", "=", lit_)]
        plan: dict = {}
        got = sorted(map(tuple, t.scan(filters, plan_out=plan).collect()))
        want = sorted(map(tuple, t.read().filter(t._filters_to_column(filters)).collect()))
        assert got == want, lit_
        assert (plan["driver_keys"] is not None) == local, lit_
    # the driver-side pin of an exact literal equals the Spark pin
    assert t._local_bucket_of({"k": -3}) == t._bucket_of({"k": -3})
    # and the job counter does see the Spark plan's jobs
    _, jobs = _jobs_run(spark, lambda: t.scan([("k", "=", 1.0)]).collect())
    assert jobs > 0


def test_xxhash64_matches_spark_bucket_expr(spark, tmp_path):
    """The driver-side XXH64 equals Spark's xxhash64 / bucket_expr on
    random keys: empty, multibyte and ≥ 32-byte strings, negative and
    64-bit integers."""
    import random

    from pyspark.sql import types as T

    from wrangler_spark.lake.xxhash import spark_xxhash64

    rng = random.Random(7)
    alphabet = "ab/_.Z09" + "éß漢字😀́"

    def rstr():
        return "".join(rng.choice(alphabet) for _ in range(rng.choice([0, 1, 3, 7, 8, 15, 31, 32, 33, 70])))

    skeys = [("", ""), ("", "x"), ("😀" * 9, "漢" * 11)] + [(rstr(), rstr()) for _ in range(2000)]
    sschema = T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.StringType())])
    st = LakeTable.create(spark, str(tmp_path / "s"), sschema, ["a", "b"], num_buckets=97)
    sdf = spark.createDataFrame(skeys, sschema)
    rows = sdf.select("a", "b", F.xxhash64("a", "b").alias("h"),
                      st.bucket_expr(sdf).alias("bk")).collect()
    assert len(rows) == len(skeys)
    for r in rows:
        assert spark_xxhash64(r["a"], r["b"]) == r["h"], (r["a"], r["b"])
        assert st._local_bucket_of({"a": r["a"], "b": r["b"]}) == r["bk"]

    ikeys = [0, -1, 1, 2**63 - 1, -(2**63)] + [rng.randrange(-(2**63), 2**63) for _ in range(1000)]
    lschema = T.StructType([T.StructField("k", T.LongType())])
    lt = LakeTable.create(spark, str(tmp_path / "l"), lschema, ["k"], num_buckets=61)
    ldf = spark.createDataFrame([(k,) for k in ikeys], lschema)
    for r in ldf.select("k", lt.bucket_expr(ldf).alias("bk")).collect():
        assert lt._local_bucket_of({"k": r["k"]}) == r["bk"], r["k"]
