"""Property-based check of the LWW merge (hypothesis): for ANY sequence
of insert/update/delete events with unique seqs, some of them
redelivered as identical copies, split arbitrarily into epochs, the
table's final state equals a per-key fold of the events by seq — the
reference-semantics oracle computed in plain Python — with one row per
key."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wrangler_spark.cdc.events import repo_files_schema
from wrangler_spark.lake.table import LakeTable

KEYS = [("r1", "a.py"), ("r1", "b.py"), ("r2", "a.py")]


@st.composite
def event_log(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    seqs = draw(
        st.lists(st.integers(0, 10_000), min_size=n, max_size=n, unique=True)
    )
    events = []
    for s in seqs:
        k = draw(st.sampled_from(KEYS))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        events.append((s, op, k[0], k[1], f"c{s}", "python", f"v{s}"))
    # redeliveries: identical copies placed anywhere, so a copy lands in
    # its original's batch or in another one
    for i in draw(st.lists(st.integers(0, n - 1), min_size=1, max_size=4)):
        events.insert(draw(st.integers(0, len(events))), events[i])
    n = len(events)
    cuts = draw(st.lists(st.integers(0, n), max_size=3))
    bounds = sorted(set([0, n, *cuts]))
    batches = [events[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    return events, batches


def _fold(events):
    state = {}
    for s, op, repo, path, commit, lang, content in sorted(events):
        cur = state.get((repo, path))
        if cur is None or s > cur[0]:
            state[(repo, path)] = (s, op, content)
    return {
        k: v[2] for k, v in state.items() if v[1] != "delete"
    }


def _want(events):
    return sorted((*k, v) for k, v in _fold(events).items())


def _rows(df):
    """(repo, path, content) of every row — a key stored twice shows."""
    return sorted((r["repo"], r["path"], r["content"]) for r in df.collect())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(event_log())
def test_lww_merge_matches_python_fold(spark, tmp_path_factory, log):
    events, batches = log
    tmp = tmp_path_factory.mktemp("prop")
    table = LakeTable.create(
        spark, str(tmp / "t"), repo_files_schema(), ["repo", "path"], num_buckets=4
    )
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [
                (s, op, r, p, None if op == "delete" else c,
                 None if op == "delete" else lang,
                 None if op == "delete" else content)
                for (s, op, r, p, c, lang, content) in batch
            ],
            "seq long, op string, repo string, path string, commit string, lang string, content string",
        )
        table.merge(df, epoch=i)
    assert _rows(table.read()) == _want(events)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(event_log())
def test_mor_arrow_resolution_matches_python_fold(spark, tmp_path_factory, log):
    """Later batches land as merge-on-read deltas; the Arrow resolver —
    through driver-side point lookups and the batch `lake` source —
    must agree with the per-key fold."""
    from wrangler_spark.lake.batch_source import read_lake

    events, batches = log
    tmp = tmp_path_factory.mktemp("prop_mor")
    table = LakeTable.create(
        spark, str(tmp / "t"), repo_files_schema(), ["repo", "path"], num_buckets=2
    )
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(s, op, r, p, c, lang, None if op == "delete" else content)
             for (s, op, r, p, c, lang, content) in batch],
            "seq long, op string, repo string, path string, commit string, lang string, content string",
        )
        table.merge(df, epoch=i, mode="cow" if i == 0 else "mor")
    want = _fold(events)
    got = {}
    for repo, path in KEYS:
        plan: dict = {}
        rows = table.scan([("repo", "=", repo), ("path", "=", path)], plan_out=plan).collect()
        assert plan["driver_keys"] is not None and len(rows) <= 1
        got.update({(r["repo"], r["path"]): r["content"] for r in rows})
    assert got == want
    assert _rows(read_lake(spark, table.path)) == _want(events)


def test_mor_arrow_resolution_matches_python_fold_spark_path(spark, tmp_path_factory, monkeypatch):
    """The same property with every merge-on-read batch written by the
    Spark plan instead of the driver-side Arrow path."""
    from wrangler_spark.lake import merge as merge_mod

    monkeypatch.setattr(merge_mod, "_LOCAL_MOR_MAX_EVENTS", -1)
    test_mor_arrow_resolution_matches_python_fold(spark, tmp_path_factory)
