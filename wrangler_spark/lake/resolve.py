"""Arrow-side load and merge-on-read resolution of one bucket's files,
and the LWW winners of a driver-sized merge batch.

A bucket's base and pending delta files are a self-contained LWW
domain (keys are bucket-aligned), so they resolve without Spark. Three
callers share this code:
- the batch `lake` source (`batch_source.LakeBatchReader.read`), one
  bucket per executor-side partition;
- `LakeTable.scan` point lookups, which resolve the pinned buckets on
  the driver and hand Spark a local relation;
- `LakeTable.compact`, which resolves each target bucket on its own
  driver thread and writes the rows back with pyarrow, while the
  buckets fit `table._LOCAL_COMPACT_MAX_BYTES`.

`lww_winners` is the merge side: a merge-on-read batch small enough to
collect resolves its within-batch LWW here instead of in a Spark
aggregate and join (`merge.merge_into`).

Read semantics are those of `LakeTable._resolved`: highest `__seq` wins, the
base wins seq ties (the copy-on-write `s.seq > t.seq` guard), and tied
duplicate delta copies collapse to one row. Tombstones are kept (the
`__deleted` column says which rows they are), so callers can expose
the metadata or filter it. All of it runs on Arrow arrays: the LWW is
a sort and a first-row-per-key mask, with no per-row Python.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import types as T

# never null once loaded (`load_file` fills them), and declared so, as
# the Spark reader's projection (`LakeTable._read_files`) declares them
META_FIELDS = [
    pa.field("__seq", pa.int64(), nullable=False),
    pa.field("__deleted", pa.bool_(), nullable=False),
]

_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.LongType(): pa.int64(),
    T.IntegerType(): pa.int32(),
    T.ShortType(): pa.int16(),
    T.ByteType(): pa.int8(),
    T.DoubleType(): pa.float64(),
    T.FloatType(): pa.float32(),
    T.BooleanType(): pa.bool_(),
    T.BinaryType(): pa.binary(),
    T.DateType(): pa.date32(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _arrow_type(dt: T.DataType) -> pa.DataType:
    """The Arrow type the lake's Arrow readers use for a Spark column
    type; ValueError for types without one (nested types)."""
    got = _ARROW_TYPES.get(dt)
    if got is None:
        raise ValueError(f"no Arrow mapping for column type {dt.simpleString()}")
    return got


def arrow_supported(schema: T.StructType) -> bool:
    """True when every column of `schema` has an Arrow mapping here."""
    try:
        for f_ in schema.fields:
            _arrow_type(f_.dataType)
    except ValueError:
        return False
    return True


def _pushdown(phys: pa.Schema, key_values: dict) -> ds.Expression | None:
    """`k IN (values)` conjuncts over the file's physical key columns.
    A literal the physical type cannot hold (an int above an older,
    narrower file's range) cannot be stored in that file, so it drops
    out of the set; an emptied set reads no rows."""
    names_l = {n.lower(): n for n in phys.names}
    expr = None
    for k, vals in key_values.items():
        src = names_l.get(k.lower())
        if src is None:
            continue
        typ = phys.field(src).type
        held = []
        for v in vals:
            try:
                pa.scalar(v, type=typ)
            except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
                continue
            held.append(v)
        cond = ds.field(src).isin(pa.array(held, type=typ)) if held else ds.scalar(False)
        expr = cond if expr is None else expr & cond
    return expr


def load_file(
    path: str,
    fields: list[pa.Field],
    aliases: dict,
    key_values: dict | None = None,
) -> pa.Table:
    """One data file projected onto `fields` plus `__seq`/`__deleted`.
    Renamed columns read through their aliases (an alias reused as a
    current column name keeps its current meaning, as in
    `LakeTable._read_files`), missing columns null-fill, narrower stored
    types cast up. `key_values` ({key column: [literals]}) is pushed into
    the parquet read."""
    if key_values:
        dset = ds.dataset(path, format="parquet")
        tbl = dset.to_table(filter=_pushdown(dset.schema, key_values))
    else:
        # a whole-file read skips the dataset's discovery and scan set-up
        # (2.4x faster on a bucket's small delta files); every caller
        # resolves buckets in parallel (threads or Spark tasks), so the
        # read itself stays on one thread
        tbl = pq.ParquetFile(path).read(use_threads=False)
    names_l = {n.lower(): n for n in tbl.column_names}
    current_l = {f_.name.lower() for f_ in fields}

    def col(name_l: str, target: pa.DataType):
        src = names_l.get(name_l)
        if src is None:
            for a in aliases.get(name_l, []):
                if a not in current_l and a in names_l:
                    src = names_l[a]
                    break
        if src is None:
            return pa.nulls(tbl.num_rows, type=target)
        c = tbl.column(src)
        return c.cast(target) if c.type != target else c

    arrays = [col(f_.name.lower(), f_.type) for f_ in fields]
    # files written by merge always carry __seq/__deleted; the -1 / False
    # fallbacks cover externally imported files only
    arrays.append(pc.fill_null(col("__seq", pa.int64()), -1))
    arrays.append(pc.fill_null(col("__deleted", pa.bool_()), False))
    return pa.table(arrays, schema=pa.schema([*fields, *META_FIELDS]))


def _first_per_key(tbl: pa.Table, keys: list[str]) -> pa.BooleanArray:
    """Mask of the first row of each run of equal keys in a key-sorted
    table (nulls compare equal to nulls)."""
    n = tbl.num_rows
    new = None
    for k in keys:
        c = tbl.column(k).combine_chunks()
        a, b = c.slice(1), c.slice(0, n - 1)
        diff = pc.or_(
            pc.fill_null(pc.not_equal(a, b), False),
            pc.xor(pc.is_null(a), pc.is_null(b)),
        )
        new = diff if new is None else pc.or_(new, diff)
    return pa.concat_arrays([pa.array([True]), new])


def resolve_files(
    base_files: list[str],
    delta_files: list[str],
    schema: T.StructType,
    aliases: dict,
    key_cols: list[str],
    key_values: dict | None = None,
) -> pa.Table:
    """Base ∪ delta files → one row per key with `__seq`/`__deleted`
    (tombstones kept), columns as `schema` names them. Without delta
    files the base already holds one row per key and is returned as
    read."""
    fields = [pa.field(f_.name, _arrow_type(f_.dataType)) for f_ in schema.fields]
    out_schema = pa.schema([*fields, *META_FIELDS])
    base = [load_file(p, fields, aliases, key_values) for p in base_files]
    if not delta_files:
        return pa.concat_tables(base) if base else out_schema.empty_table()
    delta = [load_file(p, fields, aliases, key_values) for p in delta_files]
    both = pa.concat_tables([
        t.append_column("__is_base", pa.repeat(pa.scalar(src, pa.int8()), t.num_rows))
        for src, tables in ((1, base), (0, delta))
        for t in tables
    ])
    if both.num_rows == 0:
        return out_schema.empty_table()
    keys = [next(f_.name for f_ in fields if f_.name.lower() == k.lower()) for k in key_cols]
    order = pc.sort_indices(
        both,
        sort_keys=[*((k, "ascending") for k in keys),
                   ("__seq", "descending"), ("__is_base", "descending")],
    )
    both = both.take(order)
    return both.filter(_first_per_key(both, keys)).drop_columns(["__is_base"])


def lww_winners(tbl: pa.Table, keys: list[str], seq: str = "__seq") -> pa.Table:
    """Every row at its key's highest `seq`: the Spark merge's max-seq
    aggregate joined back on (keys, seq). Rows with a null key or a
    null seq drop out, as they never match that inner equi-join, and
    every row tied at the max stays (readers collapse tied copies)."""
    valid = None
    for c in [*keys, seq]:
        v = pc.is_valid(tbl.column(c))
        valid = v if valid is None else pc.and_(valid, v)
    tbl = tbl.filter(valid)
    if tbl.num_rows == 0:
        return tbl
    order = pc.sort_indices(
        tbl, sort_keys=[*((k, "ascending") for k in keys), (seq, "descending")]
    )
    tbl = tbl.take(order)
    first = _first_per_key(tbl, keys)
    # each row's run (key) index, and the seq of its run's first row —
    # the key's max after the descending seq sort
    run = pc.subtract(pc.cumulative_sum(pc.cast(first, pa.int64())), 1)
    seqs = tbl.column(seq).combine_chunks()
    top = pc.take(pc.filter(seqs, first), run)
    return tbl.filter(pc.equal(seqs, top))
