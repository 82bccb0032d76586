import pytest
from pyspark.sql import functions as F, types as T

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.lake.table import LakeTable, evolve_schema


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), repo_files_schema(), ["repo", "path"], num_buckets=8
    )


def ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )


def test_insert_then_read(spark, table):
    c = ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "x")])
    res = table.merge(c, epoch=0)
    assert res["inserts"] == 1
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "x"


def test_lww_update_wins(spark, table):
    c = ch(
        spark,
        [
            (1, "insert", "r1", "a.py", "c1", "python", "v1"),
            (5, "update", "r1", "a.py", "c2", "python", "v5"),
            (3, "update", "r1", "a.py", "c3", "python", "v3"),
        ],
    )
    table.merge(c, epoch=0)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v5"


def test_delete_removes(spark, table):
    table.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    table.merge(ch(spark, [(2, "delete", "r1", "a.py", None, None, None)]), epoch=1)
    assert table.read().count() == 0


def test_delete_then_late_update_lww(spark, table):
    # delete wins because its seq is higher, even applied in one batch
    c = ch(
        spark,
        [
            (1, "insert", "r1", "a.py", "c1", "python", "v1"),
            (9, "delete", "r1", "a.py", None, None, None),
            (5, "update", "r1", "a.py", "c2", "python", "v5"),
        ],
    )
    table.merge(c, epoch=0)
    assert table.read().count() == 0


def test_epoch_fencing_idempotent(spark, table):
    c = ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")])
    r1 = table.merge(c, epoch=0)
    assert not r1["skipped"]
    r2 = table.merge(c, epoch=0)  # replayed epoch → no-op
    assert r2["skipped"]
    assert table.read().count() == 1
    assert table.version == r1["version"]


def test_untouched_buckets_not_rewritten(spark, table):
    table.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    v1_files = set(table.all_files())
    table.merge(ch(spark, [(2, "insert", "zzz", "other.py", "c2", "java", "v2")]), epoch=1)
    # old bucket's files survive by reference if the new key hashed elsewhere
    v2_files = set(table.all_files())
    assert v1_files & v2_files or len(v2_files) >= len(v1_files)
    assert table.read().count() == 2


def test_schema_evolution_add_column(spark, table):
    table.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    c2 = spark.createDataFrame(
        [(2, "insert", "r2", "b.py", "c2", "python", "v2", 42)],
        "seq long, op string, repo string, path string, commit string, lang string, content string, stars int",
    )
    table.merge(c2, epoch=1)
    assert "stars" in [f.name for f in table.schema.fields]
    rows = {r["repo"]: r for r in table.read().collect()}
    assert rows["r2"]["stars"] == 42
    assert rows["r1"]["stars"] is None  # old rows null-filled


def test_widen_type():
    old = T.StructType([T.StructField("a", T.IntegerType())])
    new = T.StructType([T.StructField("a", T.LongType())])
    assert evolve_schema(old, new)[0]["a"].dataType == T.LongType()
    # narrower incoming does not shrink
    assert evolve_schema(new, old)[0]["a"].dataType == T.LongType()


def test_load_roundtrip(spark, table, tmp_path):
    table.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    t2 = LakeTable.load(spark, table.path)
    assert t2.version == table.version
    assert t2.read().count() == 1
    assert 0 in t2.committed_epochs


def test_cross_batch_out_of_order_lww(spark, table):
    # newer seq applied first; stale batch must NOT overwrite
    table.merge(ch(spark, [(10, "update", "r1", "a.py", "c10", "python", "v10")]), epoch=0)
    table.merge(ch(spark, [(5, "update", "r1", "a.py", "c5", "python", "v5")]), epoch=1)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v10"


def test_tombstone_blocks_stale_resurrection(spark, table):
    table.merge(ch(spark, [(9, "delete", "r2", "b.py", None, None, None)]), epoch=0)
    table.merge(ch(spark, [(7, "update", "r2", "b.py", "c7", "python", "v7")]), epoch=1)
    assert table.read().filter("repo = 'r2'").count() == 0
    # but a genuinely newer write resurrects the key
    table.merge(ch(spark, [(12, "insert", "r2", "b.py", "c12", "python", "v12")]), epoch=2)
    got = table.read().filter("repo = 'r2'").collect()
    assert len(got) == 1 and got[0]["content"] == "v12"


def test_time_travel_and_expire(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "tt"), repo_files_schema(), ["repo", "path"], num_buckets=4
    )
    t.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    t.merge(ch(spark, [(2, "update", "r1", "a.py", "c2", "python", "v2")]), epoch=1)
    t.merge(ch(spark, [(3, "update", "r1", "a.py", "c3", "python", "v3")]), epoch=2)

    # time travel: VERSION AS OF 1 sees the epoch-0 state
    t1 = LakeTable.load(spark, t.path, version=1)
    assert [r["content"] for r in t1.read().collect()] == ["v1"]
    assert [r["content"] for r in LakeTable.load(spark, t.path).read().collect()] == ["v3"]

    # expire: keep last 2 → version 1's files gone, 2 and 3 readable
    res = t.expire_snapshots(keep_last=2)
    assert res["removed_data_files"] >= 1
    assert [r["content"] for r in LakeTable.load(spark, t.path, version=2).read().collect()] == ["v2"]
    assert [r["content"] for r in LakeTable.load(spark, t.path).read().collect()] == ["v3"]


def test_empty_epoch_merge(spark, table):
    empty = ch(spark, []).limit(0)
    res = table.merge(empty, epoch=0)
    assert res["events"] == 0 and not res["skipped"]
    assert 0 in table.committed_epochs  # fenced even when empty
    assert table.read().count() == 0


def test_hot_key_flood_salted_and_plain(spark, table):
    """Skew path: one (repo, path) receives almost all events. The
    max-seq partial agg absorbs the hot key map-side, so no salting
    stage is needed: two floods on different keys, each in its own
    epoch, both resolve to their last writer."""
    rows = [(i, "update", "hot/repo", "hot.py", f"c{i}", "python", f"v{i}") for i in range(500)]
    rows += [(1000 + i, "insert", f"r{i}", "x.py", "c", "python", "cold") for i in range(5)]
    table.merge(ch(spark, rows), epoch=0)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got[("hot/repo", "hot.py")] == "v499"
    assert len(got) == 6

    # a second flood into a fresh epoch on different keys
    rows2 = [(2000 + i, "update", "hot2", "h.py", f"d{i}", "python", f"w{i}") for i in range(500)]
    table.merge(ch(spark, rows2), epoch=1)
    got2 = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got2[("hot2", "h.py")] == "w499"


def test_rename_epoch_touching_subset_of_buckets(spark, table):
    """Regression (round-2 ADVICE): a rename epoch that rewrites only a
    SUBSET of buckets leaves the snapshot mixing pre-rename (old-name)
    and post-rename (new-name) parquet files. The read must resolve the
    renamed column in BOTH file generations (explicit read schema +
    alias coalesce), never silently null-fill one of them — and a later
    merge touching an un-rewritten bucket must not persist nulls."""
    # epoch 0: keys spread across many buckets, all with lang set
    rows = [(i, "insert", f"r{i}", f"f{i}.py", "c0", f"L{i}", f"v{i}") for i in range(40)]
    table.merge(ch(spark, rows), epoch=0)
    all_buckets = set(table.snap["files"].keys())
    assert len(all_buckets) > 2

    # epoch 1: rename lang -> language, touching exactly ONE key
    c1 = spark.createDataFrame(
        [(100, "update", "r0", "f0.py", "c1", "LX", "v0b")],
        "seq long, op string, repo string, path string, commit string, language string, content string",
    )
    table.merge(c1, epoch=1, renames={"lang": "language"})
    names = [f.name for f in table.schema.fields]
    assert "language" in names and "lang" not in names

    # mixed read: every untouched key must show its epoch-0 lang value
    # under the new name (read-through the alias, not null)
    got = {(r["repo"], r["path"]): r["language"] for r in table.read().collect()}
    assert got[("r0", "f0.py")] == "LX"
    for i in range(1, 40):
        assert got[(f"r{i}", f"f{i}.py")] == f"L{i}", f"lost lang for r{i}"

    # epoch 2: touch ONE MORE bucket (another old-name bucket gets
    # rewritten through the mixed base read) — the rewrite must carry the
    # alias-resolved values, not persist nulls
    c2 = spark.createDataFrame(
        [(200, "update", "r1", "f1.py", "c2", "LY", "v1b")],
        "seq long, op string, repo string, path string, commit string, language string, content string",
    )
    table.merge(c2, epoch=2)
    got2 = {(r["repo"], r["path"]): r["language"] for r in table.read().collect()}
    assert got2[("r1", "f1.py")] == "LY"
    for i in range(2, 40):
        assert got2[(f"r{i}", f"f{i}.py")] == f"L{i}"


def test_widen_epoch_touching_subset_of_buckets(spark, tmp_path):
    """Mixed int32/int64 files after a widen epoch that rewrites only
    some buckets: the read must widen old files (no vectorized-reader
    crash, no nulls)."""
    schema = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("size", T.IntegerType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "wd"), schema, ["repo", "path"], num_buckets=8)
    rows = [(i, "insert", f"r{i}", f"f{i}.py", i * 10) for i in range(20)]
    t.merge(
        spark.createDataFrame(rows, "seq long, op string, repo string, path string, size int"),
        epoch=0,
    )
    # widen epoch touches one key
    t.merge(
        spark.createDataFrame(
            [(100, "update", "r0", "f0.py", 5_000_000_000)],
            "seq long, op string, repo string, path string, size long",
        ),
        epoch=1,
    )
    assert t.schema["size"].dataType.simpleString() == "bigint"
    got = {(r["repo"], r["path"]): r["size"] for r in t.read().collect()}
    assert got[("r0", "f0.py")] == 5_000_000_000
    for i in range(1, 20):
        assert got[(f"r{i}", f"f{i}.py")] == i * 10


def test_degraded_shuffle_merge_path(spark, table, monkeypatch):
    """Force the past-the-broadcast-bound path (key-count burst): the
    classic two-join shuffle merge must produce the same state as the
    broadcast path, and the write re-clusters by bucket."""
    from wrangler_spark.lake import merge as merge_mod

    monkeypatch.setattr(merge_mod, "_BROADCAST_MAX_KEYS", 2)
    rows = [(i, "insert", f"r{i}", f"f{i}.py", "c", "python", f"v{i}") for i in range(30)]
    res = table.merge(ch(spark, rows), epoch=0)
    assert res["timings"]["broadcast_path"] is False
    # upsert + delete over the existing base, still degraded
    rows2 = [(100 + i, "update", f"r{i}", f"f{i}.py", "c2", "python", f"w{i}") for i in range(10)]
    rows2.append((200, "delete", "r20", "f20.py", None, None, None))
    res2 = table.merge(ch(spark, rows2), epoch=1)
    assert res2["timings"]["broadcast_path"] is False
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert len(got) == 29  # 30 - 1 deleted
    for i in range(10):
        assert got[(f"r{i}", f"f{i}.py")] == f"w{i}"
    for i in range(10, 30):
        if i != 20:
            assert got[(f"r{i}", f"f{i}.py")] == f"v{i}"
    assert ("r20", "f20.py") not in got

    # stale update after the delete cannot resurrect (seq guard holds
    # on the degraded path too)
    table.merge(ch(spark, [(150, "update", "r20", "f20.py", "c3", "python", "zombie")]),
                epoch=2)
    assert ("r20", "f20.py") not in {
        (r["repo"], r["path"]) for r in table.read().collect()
    }


@pytest.mark.parametrize("max_keys", [500_000, 0], ids=["broadcast", "unhinted"])
def test_redelivered_event_stores_one_row(spark, table, monkeypatch, max_keys):
    """A copy-on-write batch holding the same (key, seq) event twice (a
    redelivery) stores one row for the key, with the broadcast hints and
    past the key bound, and a later update still leaves one row."""
    from wrangler_spark.lake import merge as merge_mod

    monkeypatch.setattr(merge_mod, "_BROADCAST_MAX_KEYS", max_keys)
    ev = (1, "insert", "r1", "a.py", "c1", "python", "v1")
    res = table.merge(ch(spark, [ev, ev, (2, "insert", "r2", "b.py", "c2", "python", "v2")]), epoch=0)
    assert res["timings"]["broadcast_path"] is (max_keys > 0)

    def rows():
        return sorted((r["repo"], r["path"], r["content"]) for r in table.read().collect())

    assert rows() == [("r1", "a.py", "v1"), ("r2", "b.py", "v2")]
    table.merge(ch(spark, [(3, "update", "r1", "a.py", "c3", "python", "v3")]), epoch=1)
    assert rows() == [("r1", "a.py", "v3"), ("r2", "b.py", "v2")]


def test_history_and_rollback(spark, tmp_path):
    """history() lists retained commits newest-first with operations
    and timestamps (Iceberg snapshots table / DESCRIBE HISTORY shape);
    rollback(v) is a metadata-only NEW commit that restores version v's
    state, re-opens its epoch fence, and keeps the rolled-past history
    retained (roll forward = rollback again)."""
    t = LakeTable.create(
        spark, str(tmp_path / "rb"), repo_files_schema(), ["repo", "path"], num_buckets=4
    )
    t.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    t.merge(ch(spark, [(2, "update", "r1", "a.py", "c2", "python", "v2")]), epoch=1)

    h = t.history()
    assert [e["version"] for e in h] == [2, 1, 0]
    assert h[-1]["operation"] == "create"
    assert h[0]["operation"] == "merge"
    assert h[0]["committed_epochs"] == [0, 1]
    assert all(e["ts"] is not None for e in h)

    res = t.rollback(1)
    assert res == {"version": 3, "restored": 1}
    # restored state reads back, and the epoch fence re-opened for 1
    assert [r["content"] for r in t.read().collect()] == ["v1"]
    assert t.committed_epochs == {0}
    # replaying the rolled-back epoch applies again and converges
    t2 = LakeTable.load(spark, t.path)
    t2.merge(ch(spark, [(2, "update", "r1", "a.py", "c2", "python", "v2")]), epoch=1)
    assert [r["content"] for r in t2.read().collect()] == ["v2"]
    # roll FORWARD by rolling back to the pre-rollback head
    t3 = LakeTable.load(spark, t.path)
    t3.rollback(2)
    assert [r["content"] for r in t3.read().collect()] == ["v2"]
    assert t3.history()[0]["operation"] == "rollback(to=2)"


def test_rollback_expired_version_refuses(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "rbx"), repo_files_schema(), ["repo", "path"], num_buckets=4
    )
    t.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    t.merge(ch(spark, [(2, "update", "r1", "a.py", "c2", "python", "v2")]), epoch=1)
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="not retained"):
        t.rollback(0)


def test_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN: metadata-only; reads prune it, time travel still
    shows it, and re-adding the name (or a retired alias) is refused —
    no field ids means a re-added name would resurrect old values."""
    import pytest as _pt

    from wrangler_spark.cdc.events import repo_files_schema

    t = LakeTable.create(
        spark, str(tmp_path / "dropcol"), repo_files_schema(), ["repo", "path"],
        num_buckets=4,
    )
    def ch(rows, ddl="seq long, op string, repo string, path string, commit string, lang string, content string"):
        return spark.createDataFrame(rows, ddl)

    t.merge(ch([(10, "insert", "r1", "a.py", "c1", "python", "a0")]), epoch=0)
    v_pre = t.version
    res = t.drop_column("lang")
    assert "lang" in res["dropped"]
    assert "lang" not in [f.name for f in t.schema.fields]
    row = t.read().collect()[0]
    assert "lang" not in row.asDict() and row["content"] == "a0"
    # files untouched: time travel still shows the column
    old = LakeTable.load(spark, t.path, version=v_pre)
    assert old.read().collect()[0]["lang"] == "python"
    # merges keep flowing without the column
    t.merge(ch([(20, "update", "r1", "a.py", "c2", "b1")],
               "seq long, op string, repo string, path string, commit string, content string"),
            epoch=1)
    assert t.read().collect()[0]["content"] == "b1"
    # re-adding the dropped name is refused at evolve time
    with _pt.raises(Exception, match="re-add dropped"):
        t.merge(ch([(30, "update", "r1", "a.py", "c3", "python3", "b2")]), epoch=2)
    # key columns cannot drop; unknown columns error
    with _pt.raises(ValueError, match="key column"):
        t.drop_column("repo")
    with _pt.raises(ValueError, match="no column"):
        t.drop_column("nope")


def test_drop_column_retires_aliases_too(spark, tmp_path):
    """Dropping a RENAMED column retires its former name as well: a
    later add of the old name would read pre-rename files' values."""
    import pytest as _pt

    from wrangler_spark.cdc.events import repo_files_schema

    t = LakeTable.create(
        spark, str(tmp_path / "dropal"), repo_files_schema(), ["repo", "path"],
        num_buckets=4,
    )
    t.merge(spark.createDataFrame(
        [(10, "insert", "r1", "a.py", "c1", "python", "a0")],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    ), epoch=0)
    t.merge(spark.createDataFrame(
        [(20, "update", "r1", "a.py", "c2", "python3", "a1")],
        "seq long, op string, repo string, path string, commit string, language string, content string",
    ), epoch=1, renames={"lang": "language"})
    t.drop_column("language")
    assert set(t.snap["dropped"]) >= {"language", "lang"}
    with _pt.raises(Exception, match="re-add dropped"):
        t.merge(spark.createDataFrame(
            [(30, "update", "r1", "a.py", "c3", "py", "a2")],
            "seq long, op string, repo string, path string, commit string, lang string, content string",
        ), epoch=2)


def test_rename_column_standalone_and_set_properties(spark, tmp_path):
    """Standalone metadata-only RENAME COLUMN (read alias, same
    contract as the merge path) and SET TBLPROPERTIES (e.g. enabling
    bloom.cols on an existing table takes effect on the next commit)."""
    import pytest as _pt

    from wrangler_spark.cdc.events import repo_files_schema

    t = LakeTable.create(
        spark, str(tmp_path / "rencol"), repo_files_schema(), ["repo", "path"],
        num_buckets=2,
    )
    t.merge(spark.createDataFrame(
        [(10, "insert", "r1", "a.py", "c1", "python", "a0")],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    ), epoch=0)
    t.rename_column("lang", "language")
    assert [f.name for f in t.schema.fields] == ["repo", "path", "commit", "language", "content"]
    # old files resolve under the new name via the alias
    assert t.read().collect()[0]["language"] == "python"
    with _pt.raises(ValueError, match="key column"):
        t.rename_column("repo", "repository")
    with _pt.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")

    r = t.set_properties({"bloom.cols": "content"})
    assert r["properties"]["bloom.cols"] == "content"
    # next merge builds blooms for its new files
    t.merge(spark.createDataFrame(
        [(20, "insert", "r2", "b.py", "c1", "go", "b0")],
        "seq long, op string, repo string, path string, commit string, language string, content string",
    ), epoch=1)
    assert t.snap.get("bloom_manifests")


def test_late_old_name_batch_folds_onto_renamed_column(spark, table):
    """A producer that lags a declared rename keeps emitting the OLD
    column name. That name must fold back onto the renamed column
    (evolve_schema alias_to_cur + merge _align alias resolution) — NOT
    be appended as a new field, which would collide with the read alias
    and make old files serve values under the resurrected name while
    nulling the current one."""
    table.merge(
        ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0
    )
    table.rename_column("lang", "language")
    # late batch, pre-rename schema (still says `lang`)
    table.merge(
        ch(spark, [(2, "insert", "r2", "b.py", "c2", "java", "v2")]), epoch=1
    )
    names = [f.name for f in table.schema.fields]
    assert "language" in names and "lang" not in names
    got = {r["repo"]: r["language"] for r in table.read().collect()}
    # old file resolves through the alias; late batch lands in language
    assert got == {"r1": "python", "r2": "java"}


def test_widen_through_alias():
    """An old-name incoming column that is numerically wider widens the
    RENAMED column in place (no duplicate field)."""
    old = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("size_b", T.IntegerType())]
    )
    new = T.StructType([T.StructField("size", T.LongType())])
    schema, aliases = evolve_schema(old, new, aliases={"size_b": ["size"]})
    names = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert names == {"k": "string", "size_b": "bigint"}
    assert aliases == {"size_b": ["size"]}


def test_crash_between_cdf_and_bucket_write_is_replayable(spark, table, monkeypatch):
    """The reuse ordering writes change-data files BEFORE the bucket
    write (merge.py); a crash between the two must leave the epoch
    unfenced and replayable, the orphaned CDF staging invisible to
    readers and reclaimable by remove_orphans, and the changelog for
    committed versions intact after GC."""
    import os

    table.merge(ch(spark, [(1, "insert", "r1", "a.py", "c1", "python", "v1")]), epoch=0)
    v0 = table.version

    def _files(root):
        out = set()
        for dirpath, _dirs, names in os.walk(root):
            out.update(
                os.path.join(dirpath, n) for n in names if n.endswith(".parquet")
            )
        return out

    before = _files(table.path)
    orig = LakeTable.write_buckets

    def boom(self, *a, **k):
        raise RuntimeError("injected crash after CDF write")

    monkeypatch.setattr(LakeTable, "write_buckets", boom)
    batch1 = [(2, "update", "r1", "a.py", "c2", "python", "v2")]
    with pytest.raises(RuntimeError, match="injected"):
        table.merge(ch(spark, batch1), epoch=1)
    monkeypatch.setattr(LakeTable, "write_buckets", orig)

    # nothing committed: version unchanged, epoch 1 unfenced
    assert table.version == v0
    assert 1 not in table.committed_epochs
    # the crashed attempt left CDF staging files on disk, unreferenced
    orphans = _files(table.path) - before
    assert orphans, "crash should leave orphaned change-data staging"
    assert table.read().collect()[0]["content"] == "v1"

    # replaying the SAME epoch converges
    t2 = LakeTable.load(spark, table.path)
    t2.merge(ch(spark, batch1), epoch=1)
    assert t2.read().collect()[0]["content"] == "v2"

    # GC reclaims the orphaned staging; committed changelog survives
    t2.remove_orphans(older_than_s=0)
    left = _files(t2.path)
    assert not (orphans & left), "orphaned CDF staging must be collected"
    # the window's NET change per key: the epoch-1 update supersedes
    # the epoch-0 insert, served from the retry's committed change files
    changes = t2.table_changes(0, t2.version).collect()
    assert len(changes) == 1 and changes[0]["content"] == "v2"
