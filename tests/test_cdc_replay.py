import pytest
from pyspark.sql import functions as F

from wrangler_spark.cdc.events import expected_final_state, generate_events, repo_files_schema
from wrangler_spark.cdc.replay import Replayer, final_state_sha256
from wrangler_spark.lake.table import LakeTable

N_EVENTS = 4000
EPOCH_SIZE = 1000


@pytest.fixture(scope="module")
def events(spark):
    return generate_events(
        spark, N_EVENTS, n_repos=10, n_paths_per_repo=20, epoch_size=EPOCH_SIZE
    ).cache()


def _state_sig(df):
    rows = final_state_sha256(df).collect()
    return sorted((r["repo"], r["path"], r["content_sha256"]) for r in rows)


def _mk(spark, tmp_path, name):
    table = LakeTable.create(
        spark, str(tmp_path / name), repo_files_schema(), ["repo", "path"], num_buckets=8
    )
    rp = Replayer(table, str(tmp_path / f"{name}_ckpt"))
    return table, rp


def test_replay_matches_oracle(spark, events, tmp_path):
    table, rp = _mk(spark, tmp_path, "t1")
    res = rp.replay(events)
    assert res["epochs"] == N_EVENTS // EPOCH_SIZE
    oracle = expected_final_state(events)
    assert _state_sig(table.read()) == _state_sig(oracle)


def test_resume_from_checkpoint(spark, events, tmp_path):
    # replay epochs 0-1, then "crash", then resume all — same final state
    table, rp = _mk(spark, tmp_path, "t2")
    rp.replay(events, to_epoch=1)
    assert rp.load_checkpoint()["last_epoch"] == 1
    rp2 = Replayer(table, rp.checkpoint_dir)  # fresh process
    rp2.replay(events)
    oracle = expected_final_state(events)
    assert _state_sig(table.read()) == _state_sig(oracle)


def test_replaying_everything_again_is_noop(spark, events, tmp_path):
    table, rp = _mk(spark, tmp_path, "t3")
    rp.replay(events)
    v = table.version
    res = rp.replay(events, from_epoch=0)  # ignore checkpoint: full replay
    assert res["skipped_epochs"] == res["epochs"]
    assert table.version == v


def test_watermark_agg_runs_in_the_epochs_job_group(spark, events, tmp_path, count_jobs):
    """The watermark/metrics agg runs on a background thread. It must
    carry the caller's job group, so cancelling the group cancels it
    and the group counts both queries: the merge's collect and the
    agg. No job of the epoch may run outside the group."""
    table = LakeTable.create(
        spark, str(tmp_path / "jg"), repo_files_schema(), ["repo", "path"], num_buckets=8
    )
    rp = Replayer(table, str(tmp_path / "jg_ckpt"), mode="mor")
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    res, n_jobs = count_jobs(lambda: rp.replay_epoch(events, 0))
    assert res["events"] == EPOCH_SIZE
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    assert n_jobs >= 2


def test_watermarks_monotonic(spark, events, tmp_path):
    table, rp = _mk(spark, tmp_path, "t4")
    rp.replay(events)
    ck = rp.load_checkpoint()
    assert ck["last_epoch"] == N_EVENTS // EPOCH_SIZE - 1
    assert all(int(v) <= N_EVENTS - 1 for v in ck["watermarks"].values())
    assert max(int(v) for v in ck["watermarks"].values()) == N_EVENTS - 1


def test_replay_with_recipe(spark, events, tmp_path):
    """Recipe plane: mask SSN-ish digits in content during ingest."""
    table = LakeTable.create(
        spark, str(tmp_path / "t5"), repo_files_schema(), ["repo", "path"], num_buckets=8
    )
    rp = Replayer(
        table,
        str(tmp_path / "t5_ckpt"),
        recipe=["find-and-replace :content 's/ssn: \\d{3}-\\d{2}-\\d{4}/ssn: MASKED/g'"],
    )
    rp.replay(events, to_epoch=0)
    got = table.read().filter(F.col("content").contains("ssn:")).first()
    assert "ssn: MASKED" in got["content"]
    assert "000-00-" not in got["content"]


def test_lineage_metrics_written(spark, events, tmp_path):
    import json, os

    table, rp = _mk(spark, tmp_path, "t6")
    rp.replay(events, to_epoch=1)
    path = os.path.join(rp.checkpoint_dir, "lineage.jsonl")
    recs = [json.loads(line) for line in open(path)]
    assert len(recs) == 2
    assert {"events", "inserts", "updates", "deletes", "epoch"} <= set(recs[0])
    assert recs[0]["events"] == EPOCH_SIZE


def test_per_partition_lineage(spark, events, tmp_path):
    """North rule: per-source-partition lineage (events applied, op
    breakdown, high-watermark) is emitted for every epoch."""
    import json, os

    table, rp = _mk(spark, tmp_path, "t7")
    rp.replay(events, to_epoch=0)
    path = os.path.join(rp.checkpoint_dir, "lineage.jsonl")
    rec = json.loads(open(path).readline())
    parts = rec["partitions"]
    assert parts, "expected per-partition lineage"
    # partition counts must sum to the epoch totals
    assert sum(p["events"] for p in parts.values()) == rec["events"]
    assert sum(p["inserts"] for p in parts.values()) == rec["inserts"]
    assert sum(p["deletes"] for p in parts.values()) == rec["deletes"]
    # watermarks: each partition's hwm is a real seq within the epoch,
    # and the checkpoint carries the same values
    for p in parts.values():
        assert 0 <= p["hwm"] < EPOCH_SIZE
        assert {"events", "inserts", "updates", "deletes", "hwm"} <= set(p)
    ckpt = rp.load_checkpoint()
    assert {k: v["hwm"] for k, v in parts.items()} == {
        k: v for k, v in ckpt["watermarks"].items() if k in parts
    }


def test_rename_schema_evolution(spark, tmp_path):
    """A recipe `rename` maps to a lake schema rename (Iceberg RENAME
    COLUMN equivalent): data written before the rename stays readable
    under the new name via the snapshot's alias mapping."""
    ev = generate_events(spark, 2000, n_repos=10, n_paths_per_repo=20, epoch_size=1000)
    table = LakeTable.create(
        spark, str(tmp_path / "rn"), repo_files_schema(), ["repo", "path"], num_buckets=8
    )
    # epoch 0: plain replay (files carry `lang`)
    rp0 = Replayer(table, str(tmp_path / "rn_c0"))
    rp0.replay(ev, to_epoch=0)
    assert "lang" in [f.name for f in table.schema.fields]

    # epoch 1: recipe renames lang -> language
    rp1 = Replayer(table, str(tmp_path / "rn_c1"), recipe=["rename :lang :language"])
    rp1.replay(ev, from_epoch=1, to_epoch=1)
    names = [f.name for f in table.schema.fields]
    assert "language" in names and "lang" not in names
    assert table.aliases.get("language") == ["lang"]

    state = table.read()
    assert "language" in state.columns and "lang" not in state.columns
    # keys untouched in epoch 1 must still show their epoch-0 lang value
    # under the new name (read-through the alias, not null-filled)
    oracle = expected_final_state(ev.filter(F.col("epoch") <= 1))
    got = {(r["repo"], r["path"]): r["language"] for r in state.collect()}
    exp = {(r["repo"], r["path"]): r["lang"] for r in oracle.collect()}
    assert got == exp
    assert any(v is not None for v in got.values())

    # a key-column rename must be rejected
    rp_bad = Replayer(table, str(tmp_path / "rn_c2"), recipe=["rename :path :filepath"])
    import pytest as _pytest
    with _pytest.raises(Exception, match="key column"):
        rp_bad.replay(ev.withColumn("epoch", F.col("epoch") + 2), from_epoch=2, to_epoch=3)


def test_error_channel_sink(spark, events, tmp_path):
    """Recipe error routes land in the replayer's error sink, counted
    in lineage, and the routed rows are excluded from the upsert."""
    import json, os

    table, _ = _mk(spark, tmp_path, "t8")
    rp = Replayer(
        table, str(tmp_path / "t8_ckpt"),
        recipe=["send-to-error exp:{op == 'delete'}"],
    )
    rp.replay(events, to_epoch=0)
    rec = json.loads(open(os.path.join(rp.checkpoint_dir, "lineage.jsonl")).readline())
    n_deletes = events.filter("epoch = 0 AND op = 'delete'").count()
    assert rec["error_rows"] == n_deletes > 0
    err = spark.read.parquet(os.path.join(rp.error_dir, "epoch=0"))
    assert err.count() == n_deletes
    assert set(err.columns) == {"step", "directive", "message", "record"}
    # deletes were routed to error → no tombstones reached the table
    assert table.read().count() == events.filter(
        "epoch = 0 AND op != 'delete'"
    ).select("repo", "path").distinct().count()


def test_error_rows_survive_crash_before_commit(spark, events, tmp_path):
    """Round-2 ADVICE: the error sink writes BEFORE the merge fences
    the epoch. Inject a crash at merge time — the routed error rows
    must already be on disk, the epoch must NOT be fenced, and the
    retry must succeed without losing them."""
    import json, os

    table, _ = _mk(spark, tmp_path, "t_errcrash")
    rp = Replayer(
        table, str(tmp_path / "t_errcrash_ck"),
        recipe=["send-to-error exp:{op == 'delete'}"],
    )

    real_merge = table.merge

    def boom(*a, **k):
        raise RuntimeError("injected crash at merge")

    table.merge = boom
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected crash"):
        rp.replay_epoch(events, 0)
    table.merge = real_merge

    # error rows landed before the crash; the epoch is not fenced
    err_path = os.path.join(rp.error_dir, "epoch=0")
    n_deletes = events.filter("epoch = 0 AND op = 'delete'").count()
    assert spark.read.parquet(err_path).count() == n_deletes > 0
    assert 0 not in table.committed_epochs

    # retry completes; the (idempotent, overwrite-mode) error sink
    # still holds exactly the routed rows and lineage counts them
    res = rp.replay_epoch(events, 0)
    assert not res.get("skipped")
    assert res["error_rows"] == n_deletes
    assert spark.read.parquet(err_path).count() == n_deletes
    assert 0 in table.committed_epochs
