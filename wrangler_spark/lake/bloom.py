"""Per-file bloom-filter indexes for equality pruning (Delta bloom
index / Iceberg puffin-sketch equivalent).

Min/max footer stats prune range predicates well but do nothing for
point lookups on high-cardinality payload columns whose values
interleave across files (content hashes, commit ids): every file's
[min, max] straddles every probe. A bloom per (file, column) answers
"provably absent" for equality filters instead, so `scan()` skips the
file entirely.

Design for 100 TB:
- **Built distributed.** One Spark job counts rows per new file (a
  parquet count() — metadata-only scan), a second computes the k bit
  positions per value JVM-side (`xxhash64`, `pmod` — no Python in the
  row path) and `collect_set`s them per file; only packed bitsets
  (~1.2 bits/row) reach the driver.
- **Stored as per-commit sidecar manifests** (`_meta/bloom-vN.json`),
  NOT in the snapshot: the snapshot carries only {sidecar, files}
  pointers, so snapshot size stays O(files), while bloom bytes —
  inherently O(rows × bits-per-row) — load lazily and only when a
  scan carries an equality filter on an indexed column.
- **Build/probe hash parity by construction.** Both sides compute
  h1 = xxhash64(cast(v as string)), h2 = xxhash64(v_str, 1): the build
  in Spark, the probe on the driver with the bit-compatible
  `lake.xxhash` for `str` literals on string columns and `int`
  literals on integral columns (zero jobs), through a 1-row Spark job
  for any other literal (values cast through the column dtype first —
  the `_bucket_of` lesson), and the
  bit mixing ((h1 mod m) + i·(h2 mod m)) mod m uses numbers small
  enough that Python int and Spark long arithmetic agree exactly.
- Timestamp/date columns are refused: their string rendering depends
  on the session timezone, which may differ between writer and
  reader — the same reason `_file_can_match` gates timestamp stats.

Opt-in via table properties: `bloom.cols` (comma list or list),
`bloom.fpp` (default 0.01).

reference: the reference has no lake/indexes; Delta's bloom filter
index (`delta.bloomFilter.enabled`) is the public behavioral model.
"""

from __future__ import annotations

import base64
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BLOOM_MAX_BITS = 1 << 27  # 16 MiB per (file, column) cap


def bloom_cols(snap: dict) -> list[str]:
    prop = snap.get("properties", {}).get("bloom.cols")
    if not prop:
        return []
    names = prop if isinstance(prop, list) else str(prop).split(",")
    schema = T.StructType.fromJson(snap["schema"])
    by_l = {f.name.lower(): f for f in schema.fields}
    # a property set before a rename still names the old column —
    # resolve former names to the current field
    fwd = {
        str(o).lower(): cur.lower()
        for cur, olds in snap.get("aliases", {}).items()
        for o in olds
    }
    out = []
    for n in (x.strip() for x in names):
        f = by_l.get(n.lower()) or by_l.get(fwd.get(n.lower(), ""))
        if f is None:
            continue
        if isinstance(f.dataType, (T.TimestampType, T.DateType, T.TimestampNTZType)):
            raise ValueError(
                f"bloom.cols: {f.name} is {f.dataType.simpleString()} — "
                "time-typed blooms are not supported (string rendering is "
                "session-timezone-dependent, so build and probe could hash "
                "different strings)"
            )
        out.append(f.name)
    return out


def _size_for(n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for n values at target false-positive rate."""
    n = max(1, n)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, min(m, _BLOOM_MAX_BITS))
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 32)


def _pack(bits: list[int], m: int) -> str:
    buf = bytearray((m + 7) // 8)
    for b in bits:
        buf[b >> 3] |= 1 << (b & 7)
    return base64.b64encode(bytes(buf)).decode("ascii")


def _test(packed: bytes, bit: int) -> bool:
    byte = bit >> 3
    return byte < len(packed) and bool(packed[byte] & (1 << (bit & 7)))


def _norm_file(uri: str) -> str:
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return os.path.normpath(uri)


def build_blooms(
    spark: SparkSession,
    table_path: str,
    rels: list[str],
    cols: list[str],
    fpp: float = 0.01,
) -> dict:
    """Bloom bitsets for each (new file, indexed column):
    {rel: {col_lower: {"m": int, "k": int, "bits": b64}}}."""
    if not rels or not cols:
        return {}
    paths = [os.path.join(table_path, r) for r in rels]
    by_norm = {_norm_file(p): r for p, r in zip(paths, rels)}

    # job 1: rows per file — parquet count pushdown, no column IO
    counts = (
        spark.read.parquet(*paths)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    # key everything by the RAW input_file_name URI — job 2 joins on it,
    # and both jobs render it identically; rels map through the
    # normalized form only at the edges
    sizes = {}  # raw uri -> (m, k)
    for r in counts:
        if _norm_file(r["f"]) in by_norm:
            sizes[r["f"]] = _size_for(r["count"], fpp)
    if not sizes:
        return {}
    meta = spark.createDataFrame(
        [(p, m, k) for p, (m, k) in sizes.items()], "f string, m long, k long"
    )

    # job 2: k bit positions per (file, column, row), set-deduped per
    # file executor-side; only ≤ m distinct positions per group collect
    df = spark.read.parquet(*paths)
    present = {c.lower(): c for c in df.columns}
    out: dict[str, dict] = {}
    for col in cols:
        src = present.get(col.lower())
        if src is None:
            continue
        s = F.col(src).cast("string")
        hashed = (
            df.where(s.isNotNull())  # nulls can't match an eq probe
            .select(
                F.input_file_name().alias("f"),
                F.xxhash64(s).alias("h1"),
                F.xxhash64(s, F.lit(1)).alias("h2"),
            )
            .join(F.broadcast(meta), "f")
        )
        bits = (
            hashed.select(
                "f",
                "m",
                F.pmod(F.col("h1"), F.col("m")).alias("a"),
                F.pmod(F.col("h2"), F.col("m")).alias("b"),
                F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("i"),
            )
            .select(
                "f",
                F.pmod(F.col("a") + F.col("i") * F.col("b"), F.col("m")).alias("bit"),
            )
            .groupBy("f")
            .agg(F.collect_set("bit").alias("bits"))
            .collect()
        )
        for r in bits:
            rel = by_norm.get(_norm_file(r["f"]))
            if rel is None or r["f"] not in sizes:
                continue
            m, k = sizes[r["f"]]
            out.setdefault(rel, {})[col.lower()] = {
                "m": m,
                "k": k,
                "bits": _pack(r["bits"], m),
            }
    return out


def probe_hashes_multi(
    spark: SparkSession, schema: T.StructType, eq_filters: dict
) -> dict:
    """Probe hashes for =/IN filters ({col: [v, …]} → {col: [(h1, h2),
    …]}). A `str` literal on a string column and an `int` literal on an
    integral column hash on the driver (`lake.xxhash`: h1 over the
    literal's string rendering, h2 chaining the int 1 onto h1 as
    `xxhash64(s, 1)` does). Every other value is hashed in one 1-row
    Spark job, its literal cast through the column dtype first for
    exact build parity. A column whose every value fails the cast is
    omitted (conservative: no pruning); cast-failed individual values
    are dropped the same way."""
    from wrangler_spark.lake.xxhash import hash_int, render_literal, spark_xxhash64

    by_l = {f.name.lower(): f for f in schema.fields}
    out: dict[str, list] = {}
    keys, exprs = [], []
    i = 0
    for cl, vals in sorted(eq_filters.items()):
        f = by_l.get(cl)
        if f is None:
            continue
        for v in vals:
            if v is None:
                continue
            rendered = render_literal(v, f.dataType)
            if rendered is not None:
                h1 = spark_xxhash64(rendered)
                out.setdefault(cl, []).append((h1, hash_int(1, h1)))
                continue
            lit = F.lit(v)
            try:
                s = lit.cast(f.dataType).cast("string")
            except Exception:
                continue
            keys.append((cl, i))
            exprs.append(F.xxhash64(s).alias(f"h1_{i}"))
            exprs.append(F.xxhash64(s, F.lit(1)).alias(f"h2_{i}"))
            exprs.append(s.isNull().alias(f"nul_{i}"))
            i += 1
    if not exprs:
        return out
    got = spark.range(1).select(*exprs).collect()[0]
    for cl, j in keys:
        if got[f"nul_{j}"]:
            continue
        out.setdefault(cl, []).append((got[f"h1_{j}"], got[f"h2_{j}"]))
    return out


def may_contain(entry: dict, h1: int, h2: int) -> bool:
    """Probe one (file, column) bloom; mirrors the build's bit mixing
    exactly (all operands < 2^27 → Python int == Spark long)."""
    m, k = entry["m"], entry["k"]
    packed = base64.b64decode(entry["bits"])
    a, b = h1 % m, h2 % m  # Python % == Spark pmod for positive m
    for i in range(k):
        if not _test(packed, (a + i * b) % m):
            return False
    return True


def write_manifest(table_path: str, version: int, blooms: dict, fpp: float) -> str:
    """Persist one commit's bloom sidecar; returns its relpath. The
    name carries a uuid: two writers racing the same target version
    both stage a sidecar, the CAS picks one snapshot, and the loser's
    orphan must never have OVERWRITTEN the winner's file (the snapshot
    stores the full path, so uniqueness is free; expire_snapshots
    collects unreferenced sidecars)."""
    import uuid

    rel = os.path.join("_meta", f"bloom-v{version:06d}-{uuid.uuid4().hex[:8]}.json")
    with open(os.path.join(table_path, rel), "w") as f:
        json.dump({"fpp": fpp, "files": blooms}, f)
    return rel


def load_manifest(table_path: str, rel: str) -> dict:
    with open(os.path.join(table_path, rel)) as f:
        return json.load(f)["files"]
