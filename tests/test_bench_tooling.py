"""bench.py's persisted qualified scaling pair: a malformed record is
discarded instead of aborting the run."""

import json

import bench


def _write(tmp_path, obj):
    p = tmp_path / "SCALING_QUALIFIED.json"
    p.write_text(obj if isinstance(obj, str) else json.dumps(obj))
    return str(p)


def test_load_qualified_pair_accepts_valid_record(tmp_path):
    rec = {"pair": {"efficiency": 0.91, "iso": "2026-01-01T00:00:00"}}
    assert bench.load_qualified_pair(_write(tmp_path, rec)) == rec


def test_load_qualified_pair_discards_bad_shapes(tmp_path):
    assert bench.load_qualified_pair(str(tmp_path / "missing.json")) is None
    for bad in ("{not json", [], {}, {"pair": 3}, {"pair": {}},
                {"pair": {"efficiency": "0.9"}}, {"pair": {"efficiency": True}}):
        assert bench.load_qualified_pair(_write(tmp_path, bad)) is None, bad
