"""Round-4 ADVICE regressions: MoR tied-seq delta duplicates, point-
lookup bucket pinning under type mismatch, timestamp stat-skipping
timezone handling, and visible replication recipe errors.

Reference parity: these are lake/CDC-plane invariants specified by the
north rule (Iceberg v2 merge-on-read + exactly-once replay), not by a
reference file — the reference engine is transform-only.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.cdc.replicate import Replicator
from wrangler_spark.lake.table import LakeTable, _stat_norm


@pytest.fixture()
def mk_table(spark, tmp_path):
    def _mk(name, schema=None, keys=None, **kw):
        kw.setdefault("num_buckets", 8)
        return LakeTable.create(
            spark,
            str(tmp_path / name),
            schema or repo_files_schema(),
            keys or ["repo", "path"],
            **kw,
        )

    return _mk


def ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string",
    )


# --------------------------------------------------------- MoR tied-seq retry


ROWS_E1 = [
    (10, "insert", "r1", "a.py", "c1", "python", "a0"),
    (11, "insert", "r1", "b.py", "c1", "python", "b0"),
]


def _mor_retry(spark, t):
    """The documented crash: a mor Replicator dies between merge and
    watermark stamp; the retry replays an overlapping window under a
    NEW fencing epoch — the same (key, seq) rows land in a second
    delta file."""
    t.merge(ch(spark, ROWS_E1), epoch=1, mode="mor")
    t.merge(ch(spark, ROWS_E1 + [(12, "insert", "r2", "x.go", "c1", "go", "x0")]),
            epoch=2, mode="mor")


def test_mor_tied_seq_retry_reads_one_row_per_key(spark, mk_table):
    t = mk_table("retry")
    _mor_retry(spark, t)
    rows = t.read().collect()
    keys = [(r["repo"], r["path"]) for r in rows]
    assert sorted(keys) == sorted(set(keys)), f"duplicate keys in read(): {keys}"
    assert len(rows) == 3


def test_mor_tied_seq_retry_compact_keeps_invariant(spark, mk_table):
    t = mk_table("retryc")
    _mor_retry(spark, t)
    t.compact()
    rows = t.read().collect()
    keys = [(r["repo"], r["path"]) for r in rows]
    assert sorted(keys) == sorted(set(keys))
    # and matches the identical-retry cow run (cow is immune via the
    # strict s.seq > t.seq merge guard)
    c = mk_table("retrycow")
    c.merge(ch(spark, ROWS_E1), epoch=1, mode="cow")
    c.merge(ch(spark, ROWS_E1 + [(12, "insert", "r2", "x.go", "c1", "go", "x0")]),
            epoch=2, mode="cow")
    snap = lambda x: sorted(  # noqa: E731
        (r["repo"], r["path"], r["commit"]) for r in x.read().collect()
    )
    assert snap(t) == snap(c)


def test_mor_tied_seq_degraded_path_also_dedupes(spark, mk_table, monkeypatch):
    from wrangler_spark.lake import table as table_mod

    t = mk_table("retrydeg", **{})
    _mor_retry(spark, t)
    # force the degraded (non-broadcast) resolution path
    monkeypatch.setattr(table_mod, "_MOR_BROADCAST_MAX_BYTES", 0)
    assert t._resolved()[1] is False  # the unaligned (degraded) plan
    rows = t.read().collect()
    keys = [(r["repo"], r["path"]) for r in rows]
    assert sorted(keys) == sorted(set(keys))


# ------------------------------------------------- bucket pinning type safety


def test_point_lookup_numeric_key_with_int_literal(spark, mk_table):
    """lit 5 on a double key used to hash '5' while rows hash '5.0' —
    wrong bucket, silent zero rows."""
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    t = mk_table("dkey", schema=schema, keys=["k"])
    df = spark.createDataFrame(
        [(float(i), f"v{i}") for i in range(20)], schema
    ).withColumn("seq", F.lit(1).cast("long")).withColumn("op", F.lit("insert"))
    t.merge(df, epoch=0)
    plan = {}
    got = t.scan([("k", "=", 5)], plan_out=plan).collect()
    assert [r["v"] for r in got] == ["v5"]
    assert len(plan["buckets"]) == 1  # pinning still engages, correctly


def test_point_lookup_string_key_refuses_numeric_pin(spark, mk_table):
    """'00123' on a string key: the residual filter matches value 123
    under numeric coercion, so pinning the bucket of '123' would lose
    the row — the pin must bail to a full-candidate scan instead."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.StringType())]
    )
    t = mk_table("skey", schema=schema, keys=["k"])
    df = spark.createDataFrame(
        [("00123", "pad"), ("7", "seven")], schema
    ).withColumn("seq", F.lit(1).cast("long")).withColumn("op", F.lit("insert"))
    t.merge(df, epoch=0)
    got = t.scan([("k", "=", 123)]).collect()
    assert [r["v"] for r in got] == ["pad"]
    # a faithful string literal still pins
    plan = {}
    got2 = t.scan([("k", "=", "00123")], plan_out=plan).collect()
    assert [r["v"] for r in got2] == ["pad"]
    assert len(plan["buckets"]) == 1


def test_point_lookup_uncastable_literal_no_pin(spark, mk_table):
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = mk_table("lkey", schema=schema, keys=["k"])
    df = spark.createDataFrame([(1, "one")], schema).withColumn(
        "seq", F.lit(1).cast("long")
    ).withColumn("op", F.lit("insert"))
    t.merge(df, epoch=0)
    plan = {}
    got = t.scan([("k", "=", "abc")], plan_out=plan).collect()
    assert got == []  # residual filter: lenient cast → NULL → no match
    assert len(plan["buckets"]) == t.num_buckets  # but no wrong pin either


# ------------------------------------------------ timestamp stats / timezone


def test_stat_norm_strips_utc_offset():
    aware = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    naive = dt.datetime(2024, 3, 1, 12, 0, 0)
    assert _stat_norm(aware) == _stat_norm(naive) == "2024-03-01 12:00:00"
    # non-UTC aware converts to the UTC instant
    plus2 = dt.datetime(2024, 3, 1, 14, 0, 0,
                        tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert _stat_norm(plus2) == "2024-03-01 12:00:00"


def test_timestamp_skipping_does_not_drop_matching_file(spark, mk_table):
    """pyarrow returns tz-aware UTC stats for Spark timestamps; a naive
    filter literal must still match files containing the instant."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = mk_table("tskip", schema=schema, keys=["k"])
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), f"v{i}")
        for i in range(32)
    ]
    df = spark.createDataFrame(rows, schema).withColumn(
        "seq", F.lit(1).cast("long")
    ).withColumn("op", F.lit("insert"))
    t.merge(df, epoch=0)
    target = dt.datetime(2024, 1, 11)
    got = t.scan([("ts", "=", target)]).collect()
    assert [r["v"] for r in got] == ["v10"]
    # range scan too
    got2 = t.scan([("ts", ">=", dt.datetime(2024, 1, 30))]).collect()
    assert sorted(r["v"] for r in got2) == ["v29", "v30", "v31"]


def test_timestamp_skipping_refuses_prune_in_non_utc_session(spark, mk_table):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = mk_table("tskip2", schema=schema, keys=["k"])
    rows = [(i, dt.datetime(2024, 1, 1, i), f"v{i}") for i in range(8)]
    df = spark.createDataFrame(rows, schema).withColumn(
        "seq", F.lit(1).cast("long")
    ).withColumn("op", F.lit("insert"))
    t.merge(df, epoch=0)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        plan = {}
        # naive literal in a non-UTC session: ambiguous vs UTC stats —
        # no file may be stats-skipped on the ts conjunct
        t.scan([("ts", ">=", dt.datetime(2024, 1, 1, 3))], plan_out=plan)
        assert plan["skipped_files"] == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# --------------------------------------------------- replication error rows


def _seed_source(spark, src):
    src.merge(
        ch(spark, [
            (10, "insert", "r1", "a.py", "c1", "python", "good"),
            (11, "insert", "r1", "b.py", "c1", "python", "bad"),
        ]),
        epoch=0,
    )


def test_replication_recipe_errors_fail_and_hold_watermark(spark, mk_table):
    src, dst = mk_table("esrc"), mk_table("edst")
    _seed_source(spark, src)
    rep = Replicator(
        src, dst, recipe=["send-to-error exp:{content == 'bad'}"]
    )
    with pytest.raises(RuntimeError, match="errored on 1 change"):
        rep.sync()
    # watermark did NOT advance: a later sync still sees the window
    assert rep._replicated_version() <= 0


def test_replication_recipe_errors_skip_mode_counts(spark, mk_table):
    src, dst = mk_table("ssrc"), mk_table("sdst")
    _seed_source(spark, src)
    rep = Replicator(
        src, dst, recipe=["send-to-error exp:{content == 'bad'}"],
        on_error="skip",
    )
    res = rep.sync()
    assert res["recipe_errors"] == 1
    got = sorted((r["path"], r["content"]) for r in dst.read().collect())
    assert got == [("a.py", "good")]
