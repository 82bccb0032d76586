"""Per-file bloom indexes for equality pruning (Delta bloom-index
shape): built distributed at commit time for opt-in columns, stored as
per-commit sidecar manifests (snapshot stays O(files)), probed with
Spark-equal hashes so build and probe can never disagree.

Pins: (a) scan(filters) ≡ read().filter() with blooms on — pruning is
conservative; (b) a probe between min and max (stats can't prune) but
absent from a file skips that file via the bloom; (c) renamed columns
probe old files through aliases; (d) time-typed bloom columns are
refused loudly; (e) expire_snapshots collects unreferenced sidecars;
(f) compaction rebuilds blooms for the files it writes; (g) string and
integral probe literals hash on the driver bit-equal to the Spark job,
so a point scan on a bloom table runs no Spark job.
"""

import os

import pytest

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.lake.table import LakeTable


@pytest.fixture()
def mk_table(spark, tmp_path):
    def _mk(name, **kw):
        kw.setdefault("num_buckets", 2)
        kw.setdefault("properties", {"bloom.cols": "content,commit"})
        return LakeTable.create(
            spark, str(tmp_path / name), repo_files_schema(), ["repo", "path"], **kw
        )

    return _mk


def ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string",
    )


# content values chosen so every file's [min, max] straddles the
# absent probes — min/max stats alone can never prune these
ROWS = [
    (10, "insert", "r1", "a.py", "c-aa", "python", "content-aa"),
    (11, "insert", "r1", "b.py", "c-zz", "python", "content-zz"),
    (12, "insert", "r2", "x.go", "c-ab", "go", "content-ab"),
    (13, "insert", "r2", "y.go", "c-zy", "go", "content-zy"),
    (14, "insert", "r3", "m.rs", "c-ba", "rust", "content-ba"),
    (15, "insert", "r3", "n.rs", "c-yz", "rust", "content-yz"),
]


def scan_rows(t, filters, plan=None):
    return sorted(
        (r["repo"], r["path"], r["content"])
        for r in t.scan(filters, plan_out=plan).collect()
    )


def oracle_rows(t, filters):
    df = t.read()
    for c, op, v in filters:
        df = df.filter(f"{c} {'==' if op == '=' else op} '{v}'")
    return sorted((r["repo"], r["path"], r["content"]) for r in df.collect())


def test_scan_equals_read_filter_with_blooms(spark, mk_table):
    t = mk_table("eq")
    t.merge(ch(spark, ROWS), epoch=0)
    assert t.snap.get("bloom_manifests"), "commit should have built blooms"
    for probe in ["content-aa", "content-zy", "content-mm", "nope"]:
        f = [("content", "=", probe)]
        assert scan_rows(t, f) == oracle_rows(t, f), probe


def test_bloom_prunes_where_minmax_cannot(spark, mk_table):
    t = mk_table("prune")
    t.merge(ch(spark, ROWS), epoch=0)
    plan = {}
    got = scan_rows(t, [("content", "=", "content-mm")], plan)
    assert got == []
    # every base file is pruned, and the blooms did the work min/max
    # stats couldn't (files whose [min,max] straddles the probe)
    total = len({r for fl in t.snap["files"].values() for r in fl})
    assert plan["bloom_skipped_files"] > 0
    assert plan["skipped_files"] + plan["bloom_skipped_files"] == total
    assert not plan["base_rels"]
    # a present value keeps its file
    plan2 = {}
    got2 = scan_rows(t, [("content", "=", "content-ba")], plan2)
    assert got2 == [("r3", "m.rs", "content-ba")]
    assert plan2["bloom_skipped_files"] < plan["bloom_skipped_files"]


def test_multi_conjunct_and_second_column(spark, mk_table):
    t = mk_table("multi")
    t.merge(ch(spark, ROWS), epoch=0)
    f = [("content", "=", "content-ab"), ("commit", "=", "c-ab")]
    assert scan_rows(t, f) == [("r2", "x.go", "content-ab")]
    # conjunct mismatch: commit from another row -> provably absent
    plan = {}
    f2 = [("content", "=", "content-ab"), ("commit", "=", "c-ba")]
    assert scan_rows(t, f2, plan) == []


def test_rename_probes_old_files_through_alias(spark, mk_table):
    t = mk_table("ren")
    t.merge(ch(spark, ROWS), epoch=0)
    t.merge(
        spark.createDataFrame(
            [(20, "insert", "r4", "q.c", "c-q", "c", "content-q")],
            "seq long, op string, repo string, path string, commit string, "
            "lang string, body string",
        ),
        epoch=1,
        renames={"content": "body"},
    )
    # old files carry blooms under 'content'; probing 'body' must hit
    # them through the alias map — and never skip the matching file
    f = [("body", "=", "content-zz")]
    got = sorted((r["repo"], r["path"], r["body"]) for r in t.scan(f).collect())
    assert got == [("r1", "b.py", "content-zz")]
    plan = {}
    t.scan([("body", "=", "content-mm")], plan_out=plan)
    assert plan["bloom_skipped_files"] > 0


def test_time_typed_bloom_col_refused(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "ts"), schema, ["k"],
        num_buckets=2, properties={"bloom.cols": "ts"},
    )
    with pytest.raises(ValueError, match="time-typed"):
        t.merge(
            spark.createDataFrame(
                [(1, "insert", "a", None)], "seq long, op string, k string, ts timestamp"
            ),
            epoch=0,
        )


def test_expire_collects_unreferenced_sidecars(spark, mk_table):
    t = mk_table("exp")
    t.merge(ch(spark, ROWS[:2]), epoch=0)
    t.merge(ch(spark, ROWS[2:4]), epoch=1)
    t.merge(ch(spark, ROWS[4:]), epoch=2)
    meta = os.path.join(t.path, "_meta")
    before = {f for f in os.listdir(meta) if f.startswith("bloom-v")}
    assert before
    t.expire_snapshots(keep_last=1)
    after = {f for f in os.listdir(meta) if f.startswith("bloom-v")}
    live = {
        os.path.basename(m["path"]) for m in t.snap.get("bloom_manifests", [])
    }
    assert after == live
    # scans still correct post-expiry
    f = [("content", "=", "content-ba")]
    assert scan_rows(t, f) == oracle_rows(t, f)


def test_compaction_rebuilds_blooms(spark, mk_table):
    t = mk_table("cmp")
    t.merge(ch(spark, ROWS[:4]), epoch=0, mode="mor")
    t.merge(ch(spark, ROWS[4:]), epoch=1, mode="mor")
    t.compact()
    # post-compact base files must be bloom-covered and prune absents
    plan = {}
    assert scan_rows(t, [("content", "=", "content-mm")], plan) == []
    assert plan["bloom_skipped_files"] > 0
    f = [("content", "=", "content-yz")]
    assert scan_rows(t, f) == oracle_rows(t, f)


def test_driver_probe_hashes_match_spark(spark, count_jobs):
    """str literals on string columns and int literals on integral
    columns hash on the driver, bit-equal to the Spark probe job;
    other literals still take the job."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wrangler_spark.lake.bloom import probe_hashes_multi

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.ByteType()),
        T.StructField("d", T.DoubleType()),
    ])
    probes = {
        "s": ["", "a", "é漢字🙂", "x" * 40, "content-aa"],
        "l": [0, -1, 7, -(2 ** 63), 2 ** 63 - 1],
        "i": [-5, 2 ** 31 - 1, -(2 ** 31)],
        "b": [-128, 127],
    }
    got, jobs = count_jobs(lambda: probe_hashes_multi(spark, schema, probes))
    assert jobs == 0
    types = {f.name: f.dataType for f in schema.fields}
    exprs, want_keys = [], []
    for c, vals in probes.items():
        for v in vals:
            s = F.lit(v).cast(types[c]).cast("string")
            exprs += [F.xxhash64(s), F.xxhash64(s, F.lit(1))]
            want_keys.append(c)
    row = spark.range(1).select(*exprs).collect()[0]
    want: dict = {}
    for n, c in enumerate(want_keys):
        want.setdefault(c, []).append((row[2 * n], row[2 * n + 1]))
    assert got == want
    # a double column and a bool literal keep the 1-row Spark job, and
    # mix with driver-hashed values of the same call
    mixed, jobs = count_jobs(
        lambda: probe_hashes_multi(spark, schema, {"d": [1.5], "l": [True, 3]})
    )
    assert jobs == 1
    exp = spark.range(1).select(*[
        h for s in (F.lit(1.5).cast("double").cast("string"), F.lit("1"), F.lit("3"))
        for h in (F.xxhash64(s), F.xxhash64(s, F.lit(1)))
    ]).collect()[0]
    assert mixed["d"] == [(exp[0], exp[1])]
    assert sorted(mixed["l"]) == sorted([(exp[2], exp[3]), (exp[4], exp[5])])


def test_point_scan_with_blooms_runs_no_spark_job(spark, mk_table, count_jobs):
    t = mk_table("zero_job")
    t.merge(ch(spark, ROWS), epoch=0)
    assert t.snap.get("bloom_manifests")
    for probe, want in (("content-aa", [("r1", "a.py", "content-aa")]), ("content-mm", [])):
        f = [("repo", "=", "r1"), ("path", "=", "a.py"), ("content", "=", probe)]
        plan = {}
        got, jobs = count_jobs(lambda: scan_rows(t, f, plan))
        assert (got, jobs) == (want, 0), probe
        assert plan["driver_keys"] is not None
        if not want:  # the absent probe drops the pinned bucket's file
            assert plan["skipped_files"] + plan["bloom_skipped_files"] == 1
