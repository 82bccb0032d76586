"""Merge-on-read (delta-file) path: equivalence with copy-on-write,
cross-batch LWW at read time, compaction, changelog reads, rescale.

Reference parity: the target contract is Iceberg v2 merge-on-read
(equality deletes + rewrite_data_files + changelog/incremental read);
the reference engine itself is transform-only, so these semantics are
specified by the north rule's Iceberg sink, not a reference file.
"""

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


def snap_rows(table):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["content"])
        for r in table.read().collect()
    )


EPOCHS = [
    # epoch 0: seed
    [
        (10, "insert", "r1", "a.py", "c1", "python", "a0"),
        (11, "insert", "r1", "b.py", "c1", "python", "b0"),
        (12, "insert", "r2", "x.go", "c1", "go", "x0"),
        (13, "insert", "r3", "y.rs", "c1", "rust", "y0"),
    ],
    # epoch 1: update + delete + new key; within-epoch LWW on a.py
    [
        (20, "update", "r1", "a.py", "c2", "python", "a1"),
        (22, "update", "r1", "a.py", "c3", "python", "a2"),
        (21, "delete", "r2", "x.go", None, None, None),
        (23, "insert", "r4", "z.c", "c1", "c", "z0"),
    ],
    # epoch 2: out-of-order seqs vs epoch 1 (cross-batch LWW: the stale
    # update of a.py must lose; the late update of the deleted x.go must
    # NOT resurrect it)
    [
        (15, "update", "r1", "a.py", "c9", "python", "STALE"),
        (14, "update", "r2", "x.go", "c9", "go", "GHOST"),
        (30, "update", "r3", "y.rs", "c2", "rust", "y1"),
    ],
]


def _apply(table, spark, mode, compact_at=None):
    for e, rows in enumerate(EPOCHS):
        table.merge(ch(spark, rows), epoch=e, mode=mode)
        if compact_at is not None and e == compact_at:
            table.compact()


def test_mor_matches_cow_final_state(spark, mk_table):
    cow, mor = mk_table("cow"), mk_table("mor")
    _apply(cow, spark, "cow")
    _apply(mor, spark, "mor")
    assert snap_rows(cow) == snap_rows(mor)
    # the mor table really did take the delta path: base files only from
    # the (empty) create, all data pending in deltas
    assert mor.delta_files()
    assert snap_rows(mor) == [
        ("r1", "a.py", "c3", "a2"),
        ("r1", "b.py", "c1", "b0"),
        ("r3", "y.rs", "c2", "y1"),
        ("r4", "z.c", "c1", "z0"),
    ]


def test_mor_merge_reads_no_base_files(spark, mk_table):
    """The whole point: a mor epoch must not read or rewrite base
    buckets — its committed files are delta-only and base lists stay
    byte-identical."""
    t = mk_table("m")
    t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    base_before = dict(t.snap["files"])
    n_before = len(t.delta_files())
    res = t.merge(ch(spark, EPOCHS[1]), epoch=1, mode="mor")
    assert res["mode"] == "mor"
    assert dict(t.snap["files"]) == base_before
    assert len(t.delta_files()) > n_before


def test_compact_preserves_state_and_clears_deltas(spark, mk_table):
    t = mk_table("m")
    _apply(t, spark, "mor")
    before = snap_rows(t)
    v = t.version
    res = t.compact()
    assert res["compacted_buckets"] > 0
    assert t.version == v + 1
    assert t.delta_files() == []
    assert snap_rows(t) == before
    # compaction keeps tombstones so later stale updates still lose
    t.merge(
        ch(spark, [(16, "update", "r2", "x.go", "c9", "go", "GHOST2")]),
        epoch=3,
        mode="mor",
    )
    assert ("r2", "x.go", "c9", "GHOST2") not in snap_rows(t)


def test_mor_mid_stream_compact_matches_cow(spark, mk_table):
    cow, mor = mk_table("cow"), mk_table("mor")
    _apply(cow, spark, "cow")
    _apply(mor, spark, "mor", compact_at=1)  # compact between epochs
    assert snap_rows(cow) == snap_rows(mor)


def test_mor_epoch_fencing_idempotent(spark, mk_table):
    t = mk_table("m")
    r1 = t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    n_deltas = len(t.delta_files())
    r2 = t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    assert not r1["skipped"] and r2["skipped"]
    assert len(t.delta_files()) == n_deltas


def test_cow_merge_absorbs_pending_deltas(spark, mk_table):
    """A cow merge over a table with pending deltas must resolve them in
    its base read and clear them for the rewritten buckets."""
    t = mk_table("m")
    t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    t.merge(ch(spark, EPOCHS[1]), epoch=1, mode="mor")
    # cow epoch over every key's bucket clears all deltas
    t.merge(ch(spark, EPOCHS[2]), epoch=2, mode="cow")
    assert snap_rows(t) == [
        ("r1", "a.py", "c3", "a2"),
        ("r1", "b.py", "c1", "b0"),
        ("r3", "y.rs", "c2", "y1"),
        ("r4", "z.c", "c1", "z0"),
    ]
    # buckets the cow epoch touched dropped their deltas
    touched = {
        r["repo"]
        for r in ch(spark, EPOCHS[2]).collect()
    }
    assert touched  # sanity
    deltas = t.snap.get("deltas", {})
    # every remaining delta bucket must NOT be one the cow merge rewrote
    rewritten = {
        b for b, rels in t.snap["files"].items() if any("v000003" in r for r in rels)
    }
    assert not (set(deltas) & rewritten)


def test_mor_degraded_resolution_path(spark, mk_table, monkeypatch):
    """Force the non-broadcast read resolution (delta bytes bound = 0)
    and check it returns the same answer as the broadcast path."""
    from wrangler_spark.lake import table as table_mod

    t = mk_table("m")
    _apply(t, spark, "mor")
    want = snap_rows(t)
    monkeypatch.setattr(table_mod, "_MOR_BROADCAST_MAX_BYTES", 0)
    assert t._resolved()[1] is False  # the unaligned (degraded) plan
    assert snap_rows(t) == want


def test_mor_schema_evolution_add_column(spark, mk_table):
    t = mk_table("m")
    t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    wide = ch(spark, [(40, "update", "r1", "a.py", "c5", "python", "a5")]).withColumn(
        "stars", F.lit(7)
    )
    t.merge(wide, epoch=1, mode="mor")
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert rows[("r1", "a.py")]["stars"] == 7
    assert rows[("r1", "b.py")]["stars"] is None
    t.compact()
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert rows[("r1", "a.py")]["stars"] == 7 and rows[("r1", "b.py")]["stars"] is None


def test_expire_snapshots_keeps_live_deltas(spark, mk_table):
    t = mk_table("m")
    _apply(t, spark, "mor")
    t.expire_snapshots(keep_last=1)
    # pending deltas are referenced by the retained snapshot — intact
    assert snap_rows(t) == [
        ("r1", "a.py", "c3", "a2"),
        ("r1", "b.py", "c1", "b0"),
        ("r3", "y.rs", "c2", "y1"),
        ("r4", "z.c", "c1", "z0"),
    ]
    # after compaction, expiry removes the superseded delta files
    t.compact()
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_data_files"] > 0
    import os

    for f_ in t.all_files():
        assert os.path.exists(f_)


def test_table_changes_diff(spark, mk_table):
    t = mk_table("m")
    t.merge(ch(spark, EPOCHS[0]), epoch=0)
    v0 = t.version
    t.merge(ch(spark, EPOCHS[1]), epoch=1)
    t.merge(ch(spark, EPOCHS[2]), epoch=2)
    got = {
        (r["repo"], r["path"]): (r["_change_op"], r["content"], r["_change_seq"])
        for r in t.table_changes(v0).collect()
    }
    assert got == {
        ("r1", "a.py"): ("update", "a2", 22),
        ("r2", "x.go"): ("delete", None, 21),
        ("r3", "y.rs"): ("update", "y1", 30),
        ("r4", "z.c"): ("insert", "z0", 23),
    }
    # self-diff is empty; full-range diff from the empty table = inserts
    assert t.table_changes(t.version).count() == 0
    full = {
        (r["repo"], r["path"]): r["_change_op"] for r in t.table_changes(0).collect()
    }
    assert full == {
        ("r1", "a.py"): "insert",
        ("r1", "b.py"): "insert",
        ("r3", "y.rs"): "insert",
        ("r4", "z.c"): "insert",
    }


def test_table_changes_sees_through_deltas(spark, mk_table):
    t = mk_table("m")
    t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="mor")
    v0 = t.version
    t.merge(ch(spark, EPOCHS[1]), epoch=1, mode="mor")
    got = {
        (r["repo"], r["path"]): r["_change_op"] for r in t.table_changes(v0).collect()
    }
    assert got == {
        ("r1", "a.py"): "update",
        ("r2", "x.go"): "delete",
        ("r4", "z.c"): "insert",
    }


def test_rescale_preserves_state_and_prunes(spark, mk_table):
    t = mk_table("m")
    _apply(t, spark, "mor")
    before = snap_rows(t)
    res = t.rescale(32)
    assert res["num_buckets"] == 32 and t.num_buckets == 32
    assert t.delta_files() == []
    assert snap_rows(t) == before
    # bucket pruning still finds every key under the new layout
    df = t.read()
    for repo, path, _c, content in before:
        b = df.sparkSession.createDataFrame(
            [(repo, path)], "repo string, path string"
        )
        bucket = b.select(t.bucket_expr(b).alias("b")).first()["b"]
        sub = t.read(buckets=[bucket]).filter(
            (F.col("repo") == repo) & (F.col("path") == path)
        )
        assert sub.count() == 1
    # and merges keep working after the rescale
    t.merge(ch(spark, [(99, "update", "r1", "a.py", "c9", "python", "post")]), epoch=9)
    assert ("r1", "a.py", "c9", "post") in snap_rows(t)


def test_replayer_mor_with_compaction_matches_oracle(spark, tmp_path):
    from wrangler_spark.cdc import Replayer, generate_events, repo_files_schema
    from wrangler_spark.cdc.events import expected_final_state
    from wrangler_spark.cdc.replay import final_state_sha256, state_digest

    events = generate_events(spark, 3000, n_repos=8, n_paths_per_repo=15, epoch_size=500)
    table = LakeTable.create(
        spark, str(tmp_path / "tbl"), repo_files_schema(), ["repo", "path"], num_buckets=8
    )
    rep = Replayer(table, str(tmp_path / "ckpt"), mode="mor", compact_every=3)
    rep.replay(events)
    got = state_digest(final_state_sha256(table.read()))
    want = state_digest(final_state_sha256(expected_final_state(events)))
    assert got == want
    # compaction ran on the 3-epoch cadence (6 epochs → at least once)
    assert len(table.delta_files()) == 0 or table.version > 6


def test_bytes_based_compaction_trigger(spark, mk_table):
    """mor.compact.bytes bounds read amplification independent of the
    commit-count cadence: with no compact_every set, a replayed stream
    must still compact once pending delta bytes exceed the cap."""
    from wrangler_spark.cdc import Replayer

    t = mk_table("tbytes", properties={"mor.compact.bytes": 1})  # any delta trips it
    rp = Replayer(t, str(t.path) + "_ck", mode="mor", compact_every=None)
    for e, rows in enumerate(EPOCHS):
        t.merge(ch(spark, rows), epoch=e, mode="mor")
        # emulate the replayer's post-commit check path directly
    # drive through the replayer proper on a fresh table for the real path
    t2 = mk_table("tbytes2", properties={"mor.compact.bytes": 1})
    import pyspark.sql.functions as F

    ev = (
        ch(spark, [r for rows in EPOCHS for r in rows])
        .withColumn("epoch", (F.col("seq") / 20).cast("long"))
    )
    rp2 = Replayer(t2, str(t2.path) + "_ck", mode="mor", compact_every=None)
    rp2.replay(ev)
    assert not t2.delta_rels(), "bytes trigger should have compacted"
    assert snap_rows(t2) == snap_rows(_cow_reference(spark))


def _cow_reference(spark):
    import tempfile

    from wrangler_spark.lake.table import LakeTable
    from wrangler_spark.cdc.events import repo_files_schema

    ref = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="ref_cow_"), repo_files_schema(),
        ["repo", "path"], num_buckets=8,
    )
    for e, rows in enumerate(EPOCHS):
        ref.merge(ch(spark, rows), epoch=e)
    return ref


# ------------------------------------------------ driver-side mor merges
#
# A mor batch of at most merge._LOCAL_MOR_MAX_EVENTS events commits from
# the driver (one Arrow collect, Arrow LWW, pyarrow delta files); larger
# ones take the Spark plan. Setting the constant to -1 forces the Spark
# plan for every batch, the empty one included.


def test_mor_matches_cow_final_state_spark_path(spark, mk_table, monkeypatch):
    from wrangler_spark.lake import merge as merge_mod

    monkeypatch.setattr(merge_mod, "_LOCAL_MOR_MAX_EVENTS", -1)
    test_mor_matches_cow_final_state(spark, mk_table)


def test_small_mor_merge_runs_one_spark_job(spark, mk_table, count_jobs):
    """A small mor merge is one Spark job, the collect, whether the
    batch metrics are given (as the replayer's watermark agg gives
    them) or counted from the collected batch."""
    given = {"events": 4, "inserts": 1, "updates": 2, "deletes": 1, "max_seq": 23}
    for name, metrics in (("given", given), ("counted", None)):
        t = mk_table(f"jobs_{name}")
        df = ch(spark, EPOCHS[1])
        res, jobs = count_jobs(lambda: t.merge(df, epoch=0, mode="mor", metrics=metrics))
        assert jobs == 1
        assert (res["mode"], res["keys"], res["version"]) == ("mor", 3, t.version)
        assert {k: res[k] for k in given if k != "max_seq"} == {
            k: v for k, v in given.items() if k != "max_seq"
        }
        assert t.snap["properties"]["max_seq"] == 23
        assert snap_rows(t) == [("r1", "a.py", "c3", "a2"), ("r4", "z.c", "c1", "z0")]


def test_mor_driver_path_bounded_by_collected_batch(spark, tmp_path, monkeypatch):
    """The driver path is gated on the batch it collects, after the
    recipe: a recipe that explodes a 3-event epoch into 9 rows takes
    the Spark plan when the row limit is 5, as does a batch over the
    byte limit; the table ends up as the driver path leaves it."""
    from wrangler_spark.cdc import Replayer
    from wrangler_spark.lake import merge as merge_mod

    ev = ch(spark, [
        (1, "insert", "r1", "a.py,b.py,c.py", "c1", "py", "x"),
        (2, "insert", "r2", "d.py,e.py,f.py", "c1", "py", "y"),
        (3, "update", "r1", "a.py,b.py,g.py", "c2", "py", "z"),
    ]).withColumn("epoch", F.lit(0).cast("long"))
    local = []
    real = merge_mod._merge_mor_local
    monkeypatch.setattr(
        merge_mod, "_merge_mor_local", lambda *a: local.append(real(*a)) or local[-1]
    )
    states = {}
    for name, limits in (
        ("driver", {}),
        ("rows", {"_LOCAL_MOR_MAX_EVENTS": 5}),
        ("bytes", {"_LOCAL_MOR_MAX_BYTES": 1}),
    ):
        with pytest.MonkeyPatch.context() as mp:
            for attr, v in limits.items():
                mp.setattr(merge_mod, attr, v)
            t = LakeTable.create(
                spark, str(tmp_path / name), repo_files_schema(), ["repo", "path"],
                num_buckets=4,
            )
            rp = Replayer(
                t, str(tmp_path / f"{name}_ck"), mode="mor",
                recipe=["split-to-rows :path ','"],
            )
            res = rp.replay_epoch(ev, 0)
        assert (local[-1] is None) == (name != "driver"), name
        assert (res["events"], res["keys"]) == (3, 7)
        states[name] = snap_rows(t)
    assert len(states["driver"]) == 7
    assert states["rows"] == states["driver"] == states["bytes"]


_BASE = "seq long, op string, repo string, path string, commit string, lang string, "

# (case, batch schema, rows, merge kwargs, table properties set first);
# applied in order to one table per path, so later cases see the
# columns earlier ones added or renamed
PARITY_CASES = [
    # NOT NULL batch columns: both writers store them as required fields
    ("duplicate_keys", "seq long NOT NULL, op string NOT NULL, repo string NOT NULL, "
     "path string NOT NULL, commit string, lang string, content string", [
        (10, "insert", "r1", "a.py", "c1", "py", "a0"),
        (12, "update", "r1", "a.py", "c2", "py", "a2"),
        (11, "update", "r1", "a.py", "c3", "py", "a1"),
        (13, "insert", "r2", "b.py", "c1", "py", "b0"),
        (15, "update", "r2", "b.py", "c2", "py", "b1"),
        (14, "insert", "r3", "c.py", "c1", "py", "c0"),
    ], {}, None),
    ("tied_max_seq", _BASE + "content string", [
        (20, "update", "r1", "a.py", "c4", "py", "tie"),
        (20, "update", "r1", "a.py", "c4", "py", "tie"),
        (19, "update", "r1", "a.py", "c5", "py", "older"),
        (21, "update", "r2", "b.py", "c3", "py", "b2"),
    ], {}, None),
    ("null_key_or_seq", _BASE + "content string", [
        (30, "insert", None, "n.py", "c1", "py", "null repo"),
        (31, "insert", "r5", None, "c1", "py", "null path"),
        (None, "insert", "r6", "s.py", "c1", "py", "null seq"),
        (32, "insert", "r6", "s.py", "c1", "py", "s0"),
        (None, "insert", "r7", "t.py", "c1", "py", "only null seq"),
        (33, "update", "r3", "c.py", "c2", "py", "c1"),
    ], {}, None),
    ("tombstones", _BASE + "content string", [
        (40, "delete", "r1", "a.py", None, None, None),
        (41, "delete", "r9", "never.py", None, None, None),
        (39, "update", "r2", "b.py", "c9", "py", "stale"),
        (42, "delete", "r3", "c.py", None, None, None),
        (43, "insert", "r3", "c.py", "c3", "py", "c2"),
    ], {}, None),
    ("added_column", _BASE + "content string, stars long", [
        (50, "insert", "r8", "u.py", "c1", "py", "u0", 5),
        (51, "update", "r2", "b.py", "c4", "py", "b3", None),
    ], {}, None),
    ("renamed_column", _BASE + "body string, stars long", [
        (60, "update", "r8", "u.py", "c2", "py", "u1", 6),
        (61, "insert", "r10", "v.py", "c1", "py", "v0", 1),
    ], {"renames": {"content": "body"}}, None),
    ("sort_and_split", _BASE + "body string, stars long", [
        (70 + i, "insert", f"r{i % 2}", f"p{i:02d}.py", "c1", "py", f"s{i}", i)
        for i in range(11)
    ], {}, {"write.sort.cols": "path", "write.max-records-per-file": "2"}),
    ("empty", _BASE + "body string, stars long", [], {}, None),
    ("staged", _BASE + "body string, stars long", [
        (90, "update", "r10", "v.py", "c2", "py", "v1", 2),
        (91, "insert", "r11", "w.py", "c1", "py", "w0", 3),
    ], {"staged": True}, None),
]


def _row_key(row):
    return tuple((v is None, v) for v in row)


def _delta_files_by_bucket(t):
    """This commit's delta files (its change manifest) as {bucket:
    [file rows in file order]}, plus the files' Arrow schemas."""
    import os

    import pyarrow.parquet as pq

    files, schemas = {}, set()
    for rel in t.snap["changes"]:
        b = next(p for p in rel.split(os.sep) if p.startswith("__b="))
        tbl = pq.read_table(os.path.join(t.path, rel))
        schemas.add(tbl.schema.remove_metadata())
        files.setdefault(b, []).append(
            [tuple(r.values()) for r in tbl.to_pylist()]
        )
    return files, schemas


@pytest.fixture(scope="module")
def mor_parity(spark, tmp_path_factory):
    """Every parity case applied through both paths: {case: {path:
    (result fields, delta files by bucket, delta file schemas, read()
    rows at the case's version)}}."""
    from wrangler_spark.lake import merge as merge_mod

    root = tmp_path_factory.mktemp("mor_parity")
    out = {case[0]: {} for case in PARITY_CASES}
    for path, limit in (("arrow", merge_mod._LOCAL_MOR_MAX_EVENTS), ("spark", -1)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(merge_mod, "_LOCAL_MOR_MAX_EVENTS", limit)
            t = LakeTable.create(
                spark, str(root / path), repo_files_schema(), ["repo", "path"],
                num_buckets=4,
            )
            for epoch, (case, cols, rows, kw, props) in enumerate(PARITY_CASES):
                if props:
                    t.set_properties(props)
                res = t.merge(spark.createDataFrame(rows, cols), epoch=epoch, mode="mor", **kw)
                if kw.get("staged"):
                    res["staged"].publish()
                    t = LakeTable.load(spark, t.path)
                fields = {k: res[k] for k in (
                    "keys", "affected_buckets", "mode", "events", "inserts",
                    "updates", "deletes", "version",
                )}
                fields["timings"] = sorted(res["timings"])
                files, schemas = _delta_files_by_bucket(t)
                state = sorted((tuple(r) for r in t.read().collect()), key=_row_key)
                out[case][path] = (fields, files, schemas, state)
    return out


@pytest.mark.parametrize("case", [c[0] for c in PARITY_CASES])
def test_mor_driver_path_matches_spark_path(mor_parity, case):
    arrow, spark_ = mor_parity[case]["arrow"], mor_parity[case]["spark"]
    assert arrow[0] == spark_[0]
    # same rows in the same buckets; file schemas equal (nullability,
    # no __b) up to the writer's key-value metadata
    assert arrow[2] == spark_[2]
    if case == "sort_and_split":
        # sorted by path and split every 2 rows: the files themselves match
        assert {b: sorted(fs) for b, fs in arrow[1].items()} == {
            b: sorted(fs) for b, fs in spark_[1].items()
        }
        assert all(len(f) <= 2 for fs in arrow[1].values() for f in fs)
        assert max(len(fs) for fs in arrow[1].values()) > 1
    else:
        def by_bucket(files):
            return {b: sorted((r for f in fs for r in f), key=_row_key) for b, fs in files.items()}

        assert by_bucket(arrow[1]) == by_bucket(spark_[1])
    assert arrow[3] == spark_[3]
    if case == "empty":
        assert arrow[1] == {} and arrow[0]["keys"] == 0
    else:
        assert arrow[1]


# ------------------------------------------------ driver-side compaction
#
# compact() resolves and rewrites its target buckets on the driver in
# Arrow while their files fit table._LOCAL_COMPACT_MAX_BYTES on disk;
# patching the constant to 0 forces the Spark plan. Each step below
# runs on one table per path, then compacts it.

# (step, [(batch schema, rows, merge kwargs, mode)], table properties
# set first, compact kwargs)
COMPACT_STEPS = [
    ("ties_and_tombstones", [
        (_BASE + "content string", [
            (10, "insert", "r1", "a.py", "c1", "py", "a0"),
            (11, "insert", "r2", "b.py", "c1", "py", "b0"),
            (12, "insert", "r3", "c.py", "c1", "py", "c0"),
            (13, "insert", "r4", "d.py", "c1", "py", "d0"),
        ], {}, "cow"),
        (_BASE + "content string", [
            (20, "update", "r1", "a.py", "c2", "py", "a-tie"),
            (12, "update", "r3", "c.py", "c2", "py", "ties the base, loses"),
            (40, "delete", "r2", "b.py", None, None, None),
            (41, "delete", "r9", "never.py", None, None, None),
        ], {}, "mor"),
        # the same (key, seq) row again, in a second delta file
        (_BASE + "content string", [
            (20, "update", "r1", "a.py", "c2", "py", "a-tie"),
            (39, "update", "r2", "b.py", "c9", "py", "stale after the tombstone"),
            (42, "insert", "r5", "e.py", "c1", "py", "e0"),
        ], {}, "mor"),
    ], None, {}),
    ("stale_after_compacted_tombstone", [
        (_BASE + "content string", [
            (38, "update", "r2", "b.py", "c9", "py", "still stale"),
            (43, "update", "r4", "d.py", "c2", "py", "d1"),
        ], {}, "mor"),
    ], None, {}),
    # stars lands as int in these files, then widens to long below
    ("added_int_column", [
        (_BASE + "content string, stars int", [
            (50, "update", "r1", "a.py", "c3", "py", "a1", 1),
            (51, "insert", "r6", "f.py", "c1", "py", "f0", 2),
        ], {}, "mor"),
    ], None, {}),
    ("renamed_and_widened", [
        (_BASE + "body string, stars long", [
            (60, "update", "r6", "f.py", "c2", "py", "f1", 3_000_000_000),
            (61, "insert", "r7", "g.py", "c1", "py", "g0", None),
        ], {"renames": {"content": "body"}}, "mor"),
    ], None, {}),
    ("sort_and_split", [
        (_BASE + "body string, stars long", [
            (70 + i, "insert", f"r{i % 2}", f"p{i:02d}.py", "c1", "py", f"s{i}", i)
            for i in range(11)
        ], {}, "mor"),
    ], {"write.sort.cols": "path", "write.max-records-per-file": "2"}, {}),
    # no pending deltas: only the bucket-file count picks the targets
    # (every bucket here: Spark's split above left more files than
    # Arrow's in some buckets, so a higher count would pick different ones)
    ("min_files", [], {"write.max-records-per-file": None}, {"min_files": 1}),
]


def _file_rows(t, rels):
    import os

    import pyarrow.parquet as pq

    out = []
    for rel in rels:
        tbl = pq.read_table(os.path.join(t.path, rel))
        out.append((tbl.schema.remove_metadata(), [tuple(r.values()) for r in tbl.to_pylist()]))
    return out


def _compact_state(t, res):
    """What a compaction left: its result (less the version), the
    schema and rows of each file of the rewritten or empty buckets,
    read() and _resolved() rows, and the pending deltas."""
    rewritten = {
        b: sorted(_file_rows(t, rels), key=lambda f: [_row_key(r) for r in f[1]])
        for b, rels in t.snap["files"].items()
        if any(f"v{res['version']:06d}" in r for r in rels) or not rels
    }
    return (
        {k: v for k, v in res.items() if k != "version"},
        rewritten,
        sorted((tuple(r) for r in t.read().collect()), key=_row_key),
        sorted((tuple(r) for r in t._resolved()[0].collect()), key=_row_key),
        dict(t.snap.get("deltas", {})),
    )


@pytest.fixture(scope="module")
def compact_parity(spark, tmp_path_factory):
    """Every compaction step through both paths: {step: {path: state}},
    plus the emptied-bucket step, which compacts a bucket whose only
    file holds no rows."""
    import os

    import pyarrow.parquet as pq

    from wrangler_spark.lake import resolve
    from wrangler_spark.lake import table as table_mod

    root = tmp_path_factory.mktemp("compact_parity")
    out = {step[0]: {} for step in COMPACT_STEPS}
    out["emptied_bucket"] = {}
    for path, limit in (("arrow", table_mod._LOCAL_COMPACT_MAX_BYTES), ("spark", 0)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(table_mod, "_LOCAL_COMPACT_MAX_BYTES", limit)
            t = LakeTable.create(
                spark, str(root / path), repo_files_schema(), ["repo", "path"],
                num_buckets=4,
            )
            epoch = 0
            for step, batches, props, kw in COMPACT_STEPS:
                if props:
                    t.set_properties(props)
                for cols, rows, merge_kw, mode in batches:
                    t.merge(spark.createDataFrame(rows, cols), epoch=epoch, mode=mode, **merge_kw)
                    epoch += 1
                res = t.compact(**kw)
                out[step][path] = _compact_state(t, res)
            # a truncated table, then a bucket whose only (delta) file is empty
            t.truncate()
            schema = resolve.resolve_files([], [], t.schema, t.aliases, t.key_cols).schema
            rel = os.path.join("data", "empty-delta", "__b=1", "part-0.parquet")
            os.makedirs(os.path.dirname(os.path.join(t.path, rel)))
            pq.write_table(schema.empty_table(), os.path.join(t.path, rel))
            t.commit({}, new_delta_files={"1": [rel]}, change_files=[])
            res = t.compact()
            out["emptied_bucket"][path] = _compact_state(t, res)
    return out


@pytest.mark.parametrize("step", [s[0] for s in COMPACT_STEPS] + ["emptied_bucket"])
def test_compact_driver_path_matches_spark_path(compact_parity, step):
    arrow, spark_ = compact_parity[step]["arrow"], compact_parity[step]["spark"]
    assert arrow[0]["driver"] is True and spark_[0]["driver"] is False
    assert arrow[0]["compacted_buckets"] == spark_[0]["compacted_buckets"] > 0
    # read() rows, and _resolved() rows with __seq/__deleted
    assert arrow[2] == spark_[2]
    assert arrow[3] == spark_[3]
    assert arrow[4] == spark_[4] == {}
    # same file schemas, same rows per bucket
    def by_bucket(files):
        return {
            b: ({s for s, _r in fs}, sorted((r for _s, rs in fs for r in rs), key=_row_key))
            for b, fs in files.items()
        }

    assert by_bucket(arrow[1]) == by_bucket(spark_[1])
    if step == "sort_and_split":
        # both sort each file by path and split it every 2 rows; Spark
        # splits each write task's share of a bucket, Arrow the bucket
        # (so its files are fewer or as many)
        for files in (arrow[1], spark_[1]):
            for _s, rows in (f for fs in files.values() for f in fs):
                assert 0 < len(rows) <= 2 and [r[1] for r in rows] == sorted(r[1] for r in rows)
        for b, fs in arrow[1].items():
            assert len(fs) == (sum(len(r) for _s, r in fs) + 1) // 2 <= len(spark_[1][b])
        assert max(len(fs) for fs in arrow[1].values()) > 1
    if step == "min_files":
        # coalesced to one file per bucket on both paths
        assert arrow[1] == spark_[1]
        assert all(len(fs) == 1 for fs in arrow[1].values()) and len(arrow[1]) > 1
    if step == "emptied_bucket":
        # the truncate emptied every bucket; the compaction kept "1" empty
        assert arrow[1] == spark_[1] and arrow[1]["1"] == []
        assert arrow[2] == []
    if step == "stale_after_compacted_tombstone":
        # the tombstones survive compaction and keep beating stale updates
        assert ("r2", "b.py", 40, True) in {(r[0], r[1], r[-2], r[-1]) for r in arrow[3]}
        assert not any(r[:2] == ("r2", "b.py") for r in arrow[2])
    if step == "ties_and_tombstones":
        contents = {r[:2]: r[4] for r in arrow[2]}
        assert contents[("r1", "a.py")] == "a-tie" and contents[("r3", "c.py")] == "c0"
        assert sum(r[:2] == ("r1", "a.py") for r in arrow[3]) == 1


def test_driver_compaction_runs_no_spark_job(spark, mk_table, count_jobs):
    t = mk_table("jobs")
    _apply(t, spark, "mor")
    want = snap_rows(t)
    res, jobs = count_jobs(t.compact)
    assert (res["driver"], jobs) == (True, 0)
    assert res["compacted_buckets"] > 0 and t.delta_files() == []
    assert snap_rows(t) == want


def test_nested_schema_and_zorder_compact_on_spark(spark, tmp_path):
    from pyspark.sql import types as T

    nested = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    t = LakeTable.create(spark, str(tmp_path / "nested"), nested, ["repo", "path"], num_buckets=4)
    batch = "seq long, op string, repo string, path string, tags array<string>"
    t.merge(spark.createDataFrame([(1, "insert", "r1", "a.py", ["x"])], batch), epoch=0, mode="mor")
    t.merge(spark.createDataFrame([(2, "update", "r1", "a.py", ["y", "z"])], batch), epoch=1, mode="mor")
    res = t.compact()
    assert res["driver"] is False and res["compacted_buckets"] == 1
    assert [(r["path"], r["tags"]) for r in t.read().collect()] == [("a.py", ["y", "z"])]

    z = LakeTable.create(
        spark, str(tmp_path / "z"), repo_files_schema(), ["repo", "path"], num_buckets=4
    )
    _apply(z, spark, "mor")
    z.merge(
        ch(spark, [(50, "update", "r1", "a.py", "c5", "py", "a5")]).withColumn("stars", F.lit(3)),
        epoch=3, mode="mor",
    )
    want = snap_rows(z)
    res = z.compact(zorder=["stars"])
    assert res["driver"] is False and z.delta_files() == []
    assert snap_rows(z) == want


def test_lake_files_are_zstd_whatever_the_session_codec(spark, mk_table, monkeypatch):
    """Base, delta, change and compaction files (both compaction paths)
    are zstd while the session's parquet codec says snappy."""
    import os

    import pyarrow.parquet as pq

    from wrangler_spark.lake import table as table_mod

    def codecs(t, rels):
        assert rels
        out = set()
        for rel in rels:
            md = pq.ParquetFile(os.path.join(t.path, rel)).metadata
            for g in range(md.num_row_groups):
                for c in range(md.num_columns):
                    out.add(md.row_group(g).column(c).compression)
        return out

    key = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        seen = {}
        for name, limit in (("arrow", table_mod._LOCAL_COMPACT_MAX_BYTES), ("spark", 0)):
            monkeypatch.setattr(table_mod, "_LOCAL_COMPACT_MAX_BYTES", limit)
            t = mk_table(f"codec_{name}")
            t.merge(ch(spark, EPOCHS[0]), epoch=0, mode="cow")
            seen["cow base"] = codecs(t, [r for rs in t.snap["files"].values() for r in rs])
            seen["cow change"] = codecs(t, t.snap["changes"])
            t.merge(ch(spark, EPOCHS[1]), epoch=1, mode="mor")
            seen["driver delta"] = codecs(t, t.delta_rels())
            res = t.compact()
            assert res["driver"] is (name == "arrow")
            seen[f"{name} compaction"] = codecs(
                t, [r for rs in t.snap["files"].values() for r in rs if "v000003" in r]
            )
    finally:
        spark.conf.set(key, before)
    assert seen == {k: {"ZSTD"} for k in seen} and len(seen) == 5
