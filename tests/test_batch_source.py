"""Batch `spark.read.format("lake")` source (lake/batch_source.py):
native-reader API parity over the snapshot lake, with metadata-only
planning, bucket partitions, pushFilters file pruning and per-bucket
MoR LWW resolution — every result must equal LakeTable.read()."""

import pytest

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.lake.batch_source import (
    LakeBatchReader,
    read_lake,
    register_lake_source,
)
from wrangler_spark.lake.table import LakeTable


def ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string",
    )


def ins(seq, repo, path, content="x"):
    return (seq, "insert", repo, path, f"c{seq}", "python", content)


def _mk(spark, tmp_path, **kw):
    return LakeTable.create(
        spark, str(tmp_path / "t"), repo_files_schema(), ["repo", "path"],
        num_buckets=4, **kw,
    )


def _state(df):
    return {(r["repo"], r["path"]): r["content"] for r in df.collect()}


def test_reads_equal_table_read_cow(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(i, f"r{i % 5}", f"f{i}.py", f"v{i}") for i in range(20)]),
            epoch=0)
    t.merge(ch(spark, [(100, "delete", "r0", "f0.py", None, None, None),
                       ins(101, "r1", "f1.py", "upd")]), epoch=1)
    df = read_lake(spark, t.path)
    assert df.schema == t.read().schema
    assert _state(df) == _state(t.read())


def test_mor_resolution_matches_engine(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "v1"), ins(2, "b", "g.py", "w1")]), epoch=0)
    for e in range(1, 4):
        t.merge(ch(spark, [ins(10 + e, "a", "f.py", f"v{e + 1}")]), epoch=e,
                mode="mor")
    t.merge(ch(spark, [(50, "delete", "b", "g.py", None, None, None)]), epoch=4,
            mode="mor")
    assert _state(read_lake(spark, t.path)) == _state(t.read()) == {
        ("a", "f.py"): "v4"
    }


def test_time_travel_version_and_tag(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "old")]), epoch=0)
    v1 = t.version
    t.tag("pin", v1)
    t.merge(ch(spark, [ins(2, "a", "f.py", "new")]), epoch=1)
    assert _state(read_lake(spark, t.path, version=v1)) == {("a", "f.py"): "old"}
    assert _state(read_lake(spark, t.path, tag="pin")) == {("a", "f.py"): "old"}
    assert _state(read_lake(spark, t.path)) == {("a", "f.py"): "new"}


def test_branch_option(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "base")]), epoch=0)
    bt = t.create_branch("wip")
    bt.merge(ch(spark, [ins(2, "b", "g.py", "staged")]), epoch=1)
    assert set(_state(read_lake(spark, t.path))) == {("a", "f.py")}
    assert set(_state(read_lake(spark, t.path, branch="wip"))) == {
        ("a", "f.py"), ("b", "g.py"),
    }


def test_branch_main_is_the_main_ref(spark, tmp_path):
    """branch="main" names the main ref, as in LakeTable.load."""
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "base")]), epoch=0)
    t.merge(ch(spark, [ins(2, "a", "f.py", "delta")]), epoch=1, mode="mor")
    t.create_branch("wip").merge(ch(spark, [ins(3, "b", "g.py", "wip")]), epoch=2)
    main = _state(read_lake(spark, t.path, branch="main"))
    assert main == _state(read_lake(spark, t.path)) == {("a", "f.py"): "delta"}
    assert main == _state(LakeTable.load(spark, t.path, branch="main").read())


def test_rename_alias_resolution(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "v1")]), epoch=0)
    t.rename_column("content", "body")
    df = read_lake(spark, t.path)
    assert [f.name for f in df.schema.fields if f.name == "body"] == ["body"]
    assert df.select("body").collect()[0][0] == "v1"  # pre-rename file, via alias


def test_pushdown_prunes_files_and_answers_match(spark, tmp_path):
    t = _mk(
        spark, tmp_path,
        properties={"write.sort.cols": "commit", "write.max-records-per-file": "50"},
    )
    rows = [(i, "insert", f"r{i % 3}", f"f{i}.py", f"c{i:05d}", "python", f"v{i}")
            for i in range(600)]
    t.merge(ch(spark, rows), epoch=0)
    total_files = sum(len(v) for v in t.snap["files"].values())
    assert total_files > 8  # enough files for skipping to be visible

    # reader-internals check: planning drops provably-excluded files
    reader = LakeBatchReader({"path": t.path})
    reader.pushed = [("commit", "=", "c00001")]
    parts = reader.partitions()
    kept = sum(len(p.base_files) for p in parts)
    assert kept < total_files and reader.files_skipped > 0

    # end-to-end: the pushed query's answer equals the engine's
    register_lake_source(spark)
    df = (spark.read.format("lake").option("path", t.path).load()
          .filter("commit = 'c00001'"))
    assert _state(df) == _state(t.read().filter("commit = 'c00001'"))
    assert df.count() == 1


def test_pushdown_exempts_delta_buckets(spark, tmp_path):
    t = _mk(
        spark, tmp_path,
        properties={"write.sort.cols": "commit", "write.max-records-per-file": "50"},
    )
    t.merge(ch(spark, [(i, "insert", f"r{i % 3}", f"f{i}.py", f"c{i:05d}",
                        "python", f"v{i}") for i in range(200)]), epoch=0)
    # a MoR update moves key f0's commit OUT of its base file's range:
    # skipping that base file by stats would be fine, but skipping the
    # bucket's OTHER rows' winners is the trap — the bucket is exempt
    t.merge(ch(spark, [(1000, "update", "r0", "f0.py", "zzzzz", "python", "late")]),
            epoch=1, mode="mor")
    df = read_lake(spark, t.path).filter("commit = 'zzzzz'")
    assert _state(df) == {("r0", "f0.py"): "late"}
    assert _state(read_lake(spark, t.path)) == _state(t.read())


def test_empty_table_reads_zero_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert read_lake(spark, t.path).count() == 0


def test_as_of_timestamp_option(spark, tmp_path):
    import time

    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "old")]), epoch=0)
    ts_between = time.time()
    time.sleep(0.05)
    t.merge(ch(spark, [ins(2, "a", "f.py", "new")]), epoch=1)
    assert _state(read_lake(spark, t.path, as_of_ts=ts_between)) == {
        ("a", "f.py"): "old"
    }


def test_option_errors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(ch(spark, [ins(1, "a", "f.py", "x")]), epoch=0)
    register_lake_source(spark)
    with pytest.raises(Exception, match="no tag"):
        spark.read.format("lake").option("path", t.path).option(
            "tag", "ghost").load().count()
    with pytest.raises(Exception, match="at most one"):
        (spark.read.format("lake").option("path", t.path)
         .option("tag", "x").option("version", "1").load().count())
    with pytest.raises(Exception, match="no table/branch"):
        spark.read.format("lake").option(
            "path", str(tmp_path / "nope")).load().count()


def test_in_filter_pushdown_prunes_and_matches(spark, tmp_path):
    t = _mk(
        spark, tmp_path,
        properties={"write.sort.cols": "commit", "write.max-records-per-file": "50"},
    )
    t.merge(ch(spark, [(i, "insert", f"r{i % 3}", f"f{i}.py", f"c{i:05d}",
                        "python", f"v{i}") for i in range(600)]), epoch=0)
    total = sum(len(v) for v in t.snap["files"].values())
    reader = LakeBatchReader({"path": t.path})
    reader.pushed = [("commit", "in", ["c00001", "c00002"])]
    kept = sum(len(p.base_files) for p in reader.partitions())
    assert kept < total
    # empty IN never prunes (Spark folds it to false anyway)
    reader2 = LakeBatchReader({"path": t.path})
    reader2.pushed = [("commit", "in", [])]
    assert sum(len(p.base_files) for p in reader2.partitions()) == total
    # cross-type filter value never prunes (unprovable, kept for Spark)
    reader3 = LakeBatchReader({"path": t.path})
    reader3.pushed = [("commit", "=", 42)]
    assert sum(len(p.base_files) for p in reader3.partitions()) == total
    register_lake_source(spark)
    df = (spark.read.format("lake").option("path", t.path).load()
          .filter("commit IN ('c00001', 'c00002')"))
    assert _state(df) == _state(t.read().filter("commit IN ('c00001','c00002')"))


def test_upsert_refuses_seq_op_columns(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = ch(spark, [ins(1, "a", "f.py", "x")])  # carries seq/op already
    with pytest.raises(ValueError, match="seq/op are"):
        t.upsert(bad)


def test_mor_resolution_keeps_nullable_long_precision(spark, tmp_path):
    """A nullable bigint above 2^53 must survive per-bucket MoR
    resolution exactly (a float64 detour would round 2^53+1 to 2^53)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()), T.StructField("n", T.LongType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], num_buckets=1)
    big = 2**53 + 1

    def rows(seq, *kn):
        return spark.createDataFrame(
            [(seq, "insert", k, n) for k, n in kn], "seq long, op string, k string, n long"
        )

    t.merge(rows(1, ("a", big), ("b", None)), epoch=0)
    t.merge(rows(2, ("c", -big)), epoch=1, mode="mor")
    assert t.delta_rels(), "the bucket must carry a pending delta"
    got = {r["k"]: r["n"] for r in read_lake(spark, t.path).collect()}
    assert got == {"a": big, "b": None, "c": -big}


def _pq(tmp_path, name, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table(cols), p)
    return p


def test_resolve_files_lww_in_arrow(tmp_path):
    """The shared resolver on hand-written files: highest seq wins, the
    base wins seq ties, tied delta copies collapse, null keys group."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from wrangler_spark.lake.resolve import resolve_files

    schema = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.StringType())])
    base = _pq(tmp_path, "base", k=["a", "b", "c", None], v=["a0", "b0", "c0", "n0"],
               __seq=pa.array([5, 5, 5, 5], pa.int64()), __deleted=[False] * 4)
    d1 = _pq(tmp_path, "d1", k=["a", "b", "c", "e", None], v=["a1", "b1", "c1", "e1", "n1"],
             __seq=pa.array([4, 5, 9, 9, 6], pa.int64()), __deleted=[False] * 5)
    d2 = _pq(tmp_path, "d2", k=["c", "e"], v=["c1", None],
             __seq=pa.array([9, 7], pa.int64()), __deleted=[False, True])
    out = resolve_files([base], [d1, d2], schema, {}, ["k"])
    got = {r["k"]: (r["v"], r["__seq"]) for r in out.to_pylist()}
    assert out.num_rows == 5
    assert got == {"a": ("a0", 5), "b": ("b0", 5), "c": ("c1", 9), "e": ("e1", 9),
                   None: ("n1", 6)}
    # key pushdown reads only the pinned keys
    pinned = resolve_files([base], [d1, d2], schema, {}, ["k"], key_values={"k": ["c", "zz"]})
    assert pinned.to_pylist() == [{"k": "c", "v": "c1", "__seq": 9, "__deleted": False}]


def test_resolve_files_pushdown_on_narrower_stored_type(tmp_path):
    """A file written before a key widened to bigint stores int32; a
    literal beyond int32 cannot be in it and reads no rows there."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from wrangler_spark.lake.resolve import resolve_files

    schema = T.StructType([T.StructField("k", T.LongType())])
    old = _pq(tmp_path, "old", k=pa.array([1, 2], pa.int32()),
              __seq=pa.array([1, 1], pa.int64()), __deleted=[False, False])
    new = _pq(tmp_path, "new", k=pa.array([2**40], pa.int64()),
              __seq=pa.array([2], pa.int64()), __deleted=[False])
    out = resolve_files([old, new], [], schema, {}, ["k"], key_values={"k": [2, 2**40]})
    assert sorted(out.column("k").to_pylist()) == [2, 2**40]
    assert out.schema.field("k").type == pa.int64()


def test_lww_winners_matches_max_seq_join_back():
    """The merge's Arrow LWW against the Spark plan's semantics written
    as a plain-Python max-seq aggregate joined back on (keys, seq):
    null keys and null seqs drop, every row tied at a key's max stays."""
    import random

    import pyarrow as pa

    from wrangler_spark.lake.resolve import lww_winners

    rng = random.Random(7)
    rows = [
        {"a": rng.choice(["x", "y", None]), "b": rng.choice([1, 2, None]),
         "__seq": rng.choice([1, 2, 3, None]), "v": i}
        for i in range(400)
    ]
    tbl = pa.Table.from_pylist(
        rows, schema=pa.schema([("a", pa.string()), ("b", pa.int64()),
                                ("__seq", pa.int64()), ("v", pa.int64())]),
    )
    top: dict = {}
    for r in rows:
        if r["__seq"] is not None:
            k = (r["a"], r["b"])
            top[k] = max(top.get(k, r["__seq"]), r["__seq"])
    want = sorted(
        r["v"] for r in rows
        if None not in (r["a"], r["b"], r["__seq"]) and r["__seq"] == top[(r["a"], r["b"])]
    )
    got = lww_winners(tbl, ["a", "b"])
    assert sorted(got.column("v").to_pylist()) == want
    assert len(want) > 4  # ties at the max survive
    assert lww_winners(tbl.slice(0, 0), ["a", "b"]).num_rows == 0
