"""Last-writer-wins MERGE INTO for LakeTable.

The CDC upsert core (BASELINE.json north_rule): apply a batch of
insert/update/delete change events keyed by the table's key columns,
choosing the event with the highest commit sequence per key (monotonic
LWW ordering), rewriting only the hash-buckets that contain changed
keys.

Scale design notes (the 100 TB story):
- LWW dedup = one max-seq agg over a (keys, seq) projection
  (`_max_seq`) + an inner join back to the full rows. Only key+seq
  bytes flow through the agg shuffle, and MAX is algebraic: Spark's
  HashAggregate runs partial_max in every map task, so a hot key
  reaches the shuffle as at most one row per task and needs no
  salting. The join back broadcasts the (keys, max seq) side while the
  epoch has at most `_BROADCAST_MAX_KEYS` winners. (max_by(struct)
  measured 10× slower — payload copies into the agg buffer per row.)
- The base-table side reads ONLY affected buckets (bucket pruning via
  snapshot metadata). The winners overlay it by one rule, `lww_overlay`
  (strictly newer seq wins, the base wins ties, tied copies collapse),
  which the merge-on-read read and the changelog share. One plan: up
  to `_BROADCAST_MAX_KEYS` winners it carries broadcast hints, so the
  base payload never shuffles; past it the planner picks the joins.
- Deletes are LWW winners with op='delete': the key simply doesn't
  reappear in the rewritten bucket.
- A merge-on-read batch of at most `_LOCAL_MOR_MAX_EVENTS` rows and
  `_LOCAL_MOR_MAX_BYTES` is committed from the driver: one bounded
  Arrow collect, LWW in Arrow, pyarrow delta writes
  (`_merge_mor_local`). Everything larger goes through the plans
  above, the only ones that scale past driver memory.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangler_spark.lake.table import LakeTable, evolve_schema

# A merge-on-read batch commits from the driver when its collected,
# aligned rows (after the recipe) number at most _LOCAL_MOR_MAX_EVENTS
# and take at most _LOCAL_MOR_MAX_BYTES of Arrow memory. The collect
# stops one row past the row limit, so that is what the driver holds
# before a batch falls back to the Spark plan. Measured on a 4-core
# host, merge of one batch into a 16-bucket table, driver vs Spark
# plan: 260 B rows (the generated events) 0.18 vs 1.20 s at 1k rows,
# 0.21 vs 1.03 s at 10k (2.6 MB of Arrow); 8 KB rows 0.22 vs 0.86 s at
# 1k (8 MB), 0.62 vs 1.11 s at 5k (41 MB, Python RSS +92 MB). The byte
# limit stays below the widest batch measured to win.
_LOCAL_MOR_MAX_EVENTS = 10_000
_LOCAL_MOR_MAX_BYTES = 32 << 20

# The Spark-plan merge broadcasts its (keys, max seq) winners up to
# this many keys, so the payload stream never shuffles; the DML
# MergeBuilder (lake/dml.py) bounds its broadcast source the same way.
# Past it (a key-count burst) both run the same plan without hints.
_BROADCAST_MAX_KEYS = 500_000

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _max_seq(changes: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    """(keys, max seq) per key, aggregated over a (keys, seq) projection
    — a few dozen bytes per row through the shuffle, combined map-side."""
    return changes.select(*key_cols, seq_col).groupBy(*key_cols).agg(
        F.max(seq_col).alias(seq_col)
    )


def lww_dedup(changes: DataFrame, key_cols: list[str], seq_col: str = "seq") -> DataFrame:
    """The change with the max seq per key (last writer wins): the
    `_max_seq` agg joined back to the full rows on (keys, seq).

    Measured 10× faster than max_by(struct), which copies the whole
    payload into the aggregation buffer per row. A hot repo with 10^7
    updates in an epoch contributes one row per upstream partition to
    the agg shuffle. The join back is AQE-planned: when the distinct-key
    count is small the max-seq side broadcasts and the full payload
    never shuffles. Every row at a key's max seq is kept: a redelivered
    event leaves tied copies, which `lww_overlay` collapses.
    """
    return changes.join(
        _max_seq(changes, key_cols, seq_col), on=[*key_cols, seq_col], how="inner"
    )


def lww_overlay(
    base: DataFrame, winners: DataFrame, key_cols: list[str], broadcast: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The LWW overlay of per-key `winners` (rows at their key's max
    `__seq`, as `lww_dedup` leaves them) onto `base` (one row per key),
    both carrying `__seq`: returns (the base rows that survive, the
    winners taken), each in its own columns.

    A winner is taken when its key is absent from the base or its
    `__seq` is strictly greater (`WHEN MATCHED AND s.seq > t.seq`): the
    base wins ties, and tied winner copies (a redelivered event)
    collapse to one row. The base joins only a (keys, __seq) projection
    of the winners, and the winners only the keys the base beat, so no
    payload joins a payload.

    The collapsed winners are materialized once (`localCheckpoint`):
    three branches of the plan read them, and exchange reuse does not
    cover their differing projections, so every query over the result
    (a merge's change-file and bucket writes) would otherwise recompute
    the winners' scan, join-back and collapse. `broadcast`, for winners
    a caller's size gate bounds, only hints both winner-sized sides,
    which keeps the base side unshuffled and so bucket-aligned. It
    changes no row."""
    hint = F.broadcast if broadcast else (lambda df: df)
    winners = winners.dropDuplicates(key_cols).localCheckpoint(eager=True)
    wk = winners.select(
        *[F.col(k).alias(f"__d_{k}") for k in key_cols], F.col("__seq").alias("__d_seq")
    )
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"__d_{k}"))
        cond = c if cond is None else (cond & c)
    bj = base.join(hint(wk), cond, "left")
    newer = F.col("__d_seq").isNotNull() & (F.col("__d_seq") > F.col("__seq"))
    base_keep = bj.filter(~F.coalesce(newer, F.lit(False))).select(base.columns)
    # winner keys the base beat, bounded by the winners; Catalyst prunes
    # this second base scan to keys + __seq. The LWW join-back drops
    # null keys, so the plain equi-join matches every loser.
    losers = bj.filter(F.coalesce(F.col("__d_seq") <= F.col("__seq"), F.lit(False))).select(
        *[F.col(f"__d_{k}").alias(k) for k in key_cols]
    )
    taken = winners.join(hint(losers), on=key_cols, how="left_anti")
    return base_keep, taken


def _batch_metrics(changes: DataFrame, seq_col: str, op_col: str) -> dict:
    """Batch metrics (events/inserts/updates/deletes/max_seq) in one
    small aggregate job."""
    mrow = changes.agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(F.when(F.col(op_col) == "insert", 1).otherwise(0)).alias("inserts"),
        F.sum(F.when(F.col(op_col) == "update", 1).otherwise(0)).alias("updates"),
        F.sum(F.when(F.col(op_col) == "delete", 1).otherwise(0)).alias("deletes"),
        F.max(seq_col).alias("max_seq"),
    ).first()
    return {k: mrow[k] for k in ("events", "inserts", "updates", "deletes", "max_seq")}


def _align(df: DataFrame, schema: T.StructType, aliases: dict, extra: list) -> DataFrame:
    """`df` projected onto the (evolved) table schema, plus `extra`."""
    cols = []
    have = {c.lower() for c in df.columns}
    schema_l = {f_.name.lower() for f_ in schema.fields}
    for f_ in schema.fields:
        # a late producer may still emit a PRE-RENAME name: resolve
        # the payload through the read aliases (current name wins
        # when both are present) so old-name batches land in the
        # renamed column instead of null (mirrors _read_files)
        cands = [f_.name.lower()] + [
            a
            for a in aliases.get(f_.name.lower(), [])
            if a in have and a not in schema_l
        ]
        src = next((c for c in cands if c in have), None)
        if src is not None:
            cols.append(F.col(src).cast(f_.dataType).alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*cols, *extra)


def _commit_props(epoch: int | None, metrics: dict) -> dict:
    props = {}
    if epoch is not None:
        props["last_epoch"] = int(epoch)
    if metrics["max_seq"] is not None:
        props["max_seq"] = int(metrics["max_seq"])
    return props


def _commit_mor(
    table: LakeTable, delta_files: dict, metrics: dict, epoch: int | None,
    schema: T.StructType, aliases: dict, staged: bool,
):
    """Commit one merge-on-read epoch. Its change-data manifest is
    FREE: the delta files ARE this commit's change candidates (winner
    rows + __seq/__deleted) — table_changes reads them instead of
    diffing snapshots."""
    change_rels = [r for rels in delta_files.values() for r in rels]
    return table.commit(
        {}, epoch=epoch, properties=_commit_props(epoch, metrics), schema=schema,
        aliases=aliases, new_delta_files=delta_files, change_files=change_rels,
        operation="merge(mor)", staged=staged,
    )


def _result(
    table: LakeTable, epoch, sc, constraint_viol, metrics: dict, n_winners: int,
    n_affected: int, timings: dict, **extra,
) -> dict:
    return {
        "skipped": False,
        "epoch": epoch,
        "staged": sc,
        "constraint_violations": constraint_viol,
        "version": sc.version if sc is not None else table.version,
        "events": metrics["events"],
        "inserts": metrics["inserts"],
        "updates": metrics["updates"],
        "deletes": metrics["deletes"],
        "keys": n_winners,
        "affected_buckets": n_affected,
        **extra,
        "timings": timings,
    }


def _local_mor_eligible(
    table: LakeTable, changes: DataFrame, seq_col: str, schema: T.StructType
) -> bool:
    """Whether a merge-on-read batch can take the driver path at all,
    before its size is known: every column has an Arrow mapping, and
    the key and seq columns already hold their stored types, so the
    Arrow LWW over the aligned columns groups and compares exactly the
    values the Spark join-back would (a cast could merge two raw keys,
    or two fractional seqs)."""
    from wrangler_spark.lake.resolve import arrow_supported

    if not arrow_supported(schema):
        return False
    stored = {f_.name.lower(): f_.dataType for f_ in schema.fields}
    batch = {f_.name.lower(): f_.dataType for f_ in changes.schema.fields}
    return isinstance(batch.get(seq_col.lower()), _INTEGRAL) and all(
        batch.get(k.lower()) == stored.get(k.lower()) for k in table.key_cols
    )


def _arrow_metrics(tbl) -> dict:
    """`_batch_metrics` of a collected batch (`__op` and `__seq`
    columns): the same counts and the same nulls (the sums of an empty
    batch are null, as Spark's are)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count(op):
        hit = pc.fill_null(pc.equal(tbl.column("__op"), op), False)
        return pc.sum(pc.cast(hit, pa.int64())).as_py()

    return {
        "events": tbl.num_rows,
        "inserts": count("insert"),
        "updates": count("update"),
        "deletes": count("delete"),
        "max_seq": pc.max(tbl.column("__seq")).as_py(),
    }


def _merge_mor_local(
    table: LakeTable, changes: DataFrame, seq_col: str, op_col: str,
    schema: T.StructType, aliases: dict, metrics,
) -> tuple | None:
    """Write a driver-sized merge-on-read batch's LWW winners as delta
    files from the driver: the `_align`ed batch, with `__seq`,
    `__deleted` and Spark's own `bucket_expr` as `__b`, comes back in
    one `toArrow()` job, cut at `_LOCAL_MOR_MAX_EVENTS` + 1 rows;
    `lww_winners` keeps what the Spark max-seq agg and join-back keep;
    `write_buckets` writes the Arrow table with pyarrow.

    Returns None, having written nothing, when the collected batch
    passes `_LOCAL_MOR_MAX_EVENTS` rows or `_LOCAL_MOR_MAX_BYTES`: the
    caller then takes the Spark plan. Otherwise (delta files, winner
    keys, affected buckets, timings, metrics) with the Spark path's
    meanings: the key and bucket counts include the groups of null-key
    rows, which the agg counts and the join then drops. `metrics`
    passes through untouched (a callable stays unresolved); when it is
    None the counts come from the collected table."""
    import pyarrow.compute as pc

    from wrangler_spark.lake.resolve import lww_winners

    t0 = time.time()
    extra = [
        F.col(seq_col).cast("long").alias("__seq"),
        (F.col(op_col) == "delete").alias("__deleted"),
        table.bucket_expr(changes).alias("__b"),
    ]
    if metrics is None:
        extra.append(F.col(op_col).alias("__op"))
    tbl = (
        _align(changes, schema, aliases, extra)
        .limit(max(_LOCAL_MOR_MAX_EVENTS + 1, 0))
        .toArrow()
    )
    if tbl.num_rows > _LOCAL_MOR_MAX_EVENTS or tbl.nbytes > _LOCAL_MOR_MAX_BYTES:
        return None
    if metrics is None:
        metrics = _arrow_metrics(tbl)
        tbl = tbl.drop_columns(["__op"])
    names_l = {f_.name.lower(): f_.name for f_ in schema.fields}
    keys = [names_l[k.lower()] for k in table.key_cols]
    n_winners = tbl.select(keys).group_by(keys).aggregate([]).num_rows
    n_affected = len(pc.unique(tbl.column("__b")))
    winners = lww_winners(tbl, keys)
    t_probe = time.time() - t0
    t1 = time.time()
    delta_files = table.write_buckets(winners, table.version + 1)
    timings = {
        "probe_sec": round(t_probe, 3),
        "write_sec": round(time.time() - t1, 3),
        "broadcast_path": False,
    }
    return delta_files, n_winners, n_affected, timings, metrics


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    seq_col: str = "seq",
    op_col: str = "op",
    epoch: int | None = None,
    evolve: bool = True,
    metrics: dict | None = None,
    renames: dict | None = None,
    explain_sink: list | None = None,
    mode: str = "cow",
    staged: bool = False,
) -> dict:
    """Apply a change batch; returns lineage metrics.

    `staged=True` runs the FULL merge (data files, stats, blooms, the
    snapshot itself) but parks the result as a write-audit-publish
    staged commit instead of publishing: the returned dict carries the
    `StagedCommit` handle under "staged"; nothing is visible to
    readers until `handle.publish()` (see lake/wap.py). Epoch fencing
    applies only once published.

    `mode="cow"` (default) rewrites the affected base buckets
    (copy-on-write). `mode="mor"` (merge-on-read) writes ONLY the
    epoch's LWW winner rows as bucketed delta files — no base bucket is
    read or written, so merge I/O is proportional to the epoch size
    even when its keys touch every bucket; readers resolve deltas per
    key (LakeTable._resolved) and `LakeTable.compact()` folds them back
    on a cadence. A cow merge over a table holding pending deltas
    resolves them in its base read and clears them for the buckets it
    rewrites.

    The cow merge overlays the batch's LWW winners on the affected base
    buckets with `lww_overlay`, broadcasting the winner sides while the
    batch has at most `_BROADCAST_MAX_KEYS` winner keys
    (`broadcast_path` in the timings) and running the same plan
    unhinted past it; a redelivered (key, seq) event stores one row.

    A mor batch of at most `_LOCAL_MOR_MAX_EVENTS` rows and
    `_LOCAL_MOR_MAX_BYTES` Arrow bytes commits from the driver: one
    Arrow collect of the aligned batch (cut one row past the row
    limit), LWW in Arrow, one pyarrow delta file per bucket — one Spark
    job where the distributed plan runs a probe, a shuffle and a
    partitioned write. Larger batches, schemas without an Arrow
    mapping, batches whose key or seq columns need a cast, and calls
    with `explain_sink` take the Spark plan; both paths write the same
    delta rows and return the same fields (`broadcast_path` is False on
    the driver path, which broadcasts nothing).

    changes must contain the table key columns, `seq_col`, `op_col`
    (insert|update|delete) and payload columns. Epoch fencing: if this
    epoch was already committed the merge is skipped (idempotent replay).

    `metrics`: optional precomputed batch metrics (events/inserts/
    updates/deletes/max_seq) — the replayer derives them from its
    watermark agg, saving this function's own full-batch scan. May be a
    zero-arg callable resolved just before commit, letting the caller
    run its metrics job CONCURRENTLY with the merge (they're needed
    only for commit properties and the result dict). The driver path
    resolves it at commit too, and computes it from the collected batch
    when it is None.
    """
    if epoch is not None and int(epoch) in table.committed_epochs:
        return {"skipped": True, "epoch": epoch, "version": table.version}
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode: {mode!r} (cow|mor)")

    keys = table.key_cols

    # ---- schema evolution (Iceberg ALTER TABLE equivalent): declared
    # renames become in-place field renames with read aliases; new
    # payload columns are added; numeric types widen
    payload_fields = [f for f in changes.schema.fields if f.name not in (seq_col, op_col)]
    incoming = type(table.schema)(payload_fields)  # StructType
    if renames:
        bad = [o for o in renames if o.lower() in {k.lower() for k in keys}]
        if bad:
            raise ValueError(f"cannot rename table key column(s): {bad}")
    if evolve:
        schema, aliases = evolve_schema(
            table.schema, incoming, renames=renames, aliases=table.aliases,
            dropped=table.snap.get("dropped", []),
        )
    else:
        schema, aliases = table.schema, table.aliases

    # ---- CHECK constraints (Delta ADD CONSTRAINT parity): validate the
    # incoming batch's non-delete events BEFORE the LWW agg — one
    # O(batch) aggregation job, only when constraints exist. `fail`
    # aborts the epoch unfenced (nothing written, replays after the
    # upstream fix); `drop` discards the violating EVENTS so an older
    # valid event for the same key may still win LWW.
    from wrangler_spark.lake.constraints import (
        ConstraintViolationError,
        satisfies_all,
        table_constraints,
        violation_counts,
    )

    cons = table_constraints(table.snap)
    constraint_viol: dict | None = None
    if cons:
        constraint_viol = violation_counts(
            changes.filter(F.col(op_col) != "delete"), cons
        )
        total_viol = sum(constraint_viol.values())
        if total_viol:
            cmode = str(
                table.snap.get("properties", {}).get("constraints.mode", "fail")
            ).lower()
            if cmode == "fail":
                raise ConstraintViolationError(
                    f"epoch {epoch}: {total_viol} event(s) violate table "
                    f"constraints {constraint_viol}; nothing committed "
                    "(set constraints.mode=drop to discard violating events)"
                )
            changes = changes.filter(
                (F.col(op_col) == "delete") | satisfies_all(cons)
            )

    # ---- driver-sized merge-on-read batch: collect it and commit from
    # the driver (_merge_mor_local). The size that picks the path is
    # the collected batch's own (rows after the recipe, Arrow bytes),
    # so a recipe that explodes rows cannot slip a large batch past it;
    # `metrics` stays lazy until the commit, as on the Spark path.
    if (
        mode == "mor"
        and explain_sink is None
        and _local_mor_eligible(table, changes, seq_col, schema)
    ):
        local = _merge_mor_local(table, changes, seq_col, op_col, schema, aliases, metrics)
        if local is not None:
            delta_files, n_winners, n_affected, timings, metrics = local
            if callable(metrics):
                metrics = metrics()
            sc = _commit_mor(table, delta_files, metrics, epoch, schema, aliases, staged)
            return _result(
                table, epoch, sc, constraint_viol, metrics, n_winners, n_affected,
                timings, mode="mor",
            )

    # ---- LWW winner per key: the `_max_seq` agg, cached, then a join
    # back to the full rows (see lww_dedup). The bucket-pruning probe
    # runs on the AGG side, before the payload join, so it (a) costs
    # only key+seq bytes and (b) yields the EXACT distinct-key count
    # that gates the static broadcast — no stale previous-epoch hint can
    # force a huge build side into driver memory (a key-count burst
    # degrades gracefully to the shuffle join, the right plan at that
    # size). broadcast keeps the full payload stream shuffle-free for
    # typical epochs (≤ _BROADCAST_MAX_KEYS keys).
    _t0 = time.time()
    mx = _max_seq(changes, keys, seq_col)
    mx = mx.withColumn("__b", table.bucket_expr(mx)).cache()

    # ---- bucket pruning probe (≤ num_buckets rows collected) — also the
    # broadcast sizing job and the winner count, all in one tiny job
    bucket_counts = mx.groupBy("__b").count().collect()
    affected = sorted(r["__b"] for r in bucket_counts)
    n_winners = sum(r["count"] for r in bucket_counts)
    _t_probe = time.time() - _t0

    winners_broadcast = n_winners <= _BROADCAST_MAX_KEYS
    build = F.broadcast(mx) if winners_broadcast else mx
    # join-back carries __b from the agg side for free
    winners = changes.join(build, on=[*keys, seq_col], how="inner")

    # ---- metrics on the change batch (precomputed by the replayer's
    # watermark agg when available; one small agg job otherwise)
    if metrics is None:
        metrics = _batch_metrics(changes, seq_col, op_col)

    # winners aligned to the evolved schema, carrying merge metadata:
    # __seq (LWW guard) and __deleted (tombstone — deletes are KEPT as
    # tombstone rows so a late, lower-seq update cannot resurrect a key)
    changes_aligned = _align(
        winners,
        schema,
        aliases,
        [
            F.col(seq_col).cast("long").alias("__seq"),
            (F.col(op_col) == "delete").alias("__deleted"),
            F.col("__b"),
        ],
    )

    if mode == "mor":
        # merge-on-read: the winners ARE the commit — write them as
        # bucketed delta files and stop. No base bucket is read, so the
        # epoch's cost is O(epoch), not O(touched buckets); the strict
        # seq guard moves to read time (LakeTable._resolved, base wins
        # ties), preserving cross-batch out-of-order LWW exactly.
        new_version = table.version + 1
        if explain_sink is not None:
            import io as _io
            from contextlib import redirect_stdout as _rs

            _buf = _io.StringIO()
            with _rs(_buf):
                changes_aligned.explain("formatted")
            explain_sink.append(_buf.getvalue())
        _t1 = time.time()
        delta_files = table.write_buckets(changes_aligned, new_version)
        _t_write = time.time() - _t1
        if callable(metrics):
            metrics = metrics()
        sc = _commit_mor(table, delta_files, metrics, epoch, schema, aliases, staged)
        mx.unpersist()
        timings = {
            "probe_sec": round(_t_probe, 3),
            "write_sec": round(_t_write, 3),
            "broadcast_path": winners_broadcast,
        }
        return _result(
            table, epoch, sc, constraint_viol, metrics, n_winners, len(affected),
            timings, mode="mor",
        )

    # base rows of the affected buckets, with stored metadata — if the
    # table holds pending merge-on-read deltas for these buckets the
    # read resolves them, and the commit below clears them (the rewrite
    # absorbs their effect)
    base = table.read(buckets=affected, with_meta=True, schema=schema, aliases=aliases)
    base_aligned = _align(base, schema, aliases, [F.col("__seq"), F.col("__deleted")])
    base_aligned = base_aligned.withColumn("__b", table.bucket_expr(base_aligned))

    # seq-guarded merge (`WHEN MATCHED AND s.seq > t.seq`, lww_overlay):
    # the collapsed winners are materialized once for the change-file
    # and bucket writes; under the key bound their sides broadcast, so
    # the base payload never shuffles and stays bucket-aligned; past it
    # (a key-count burst) the same plan runs unhinted and the write
    # re-clusters by bucket (without it, every write task would span
    # many buckets and emit tasks × buckets small files per version).
    base_keep, changed = lww_overlay(
        base_aligned, changes_aligned, keys, broadcast=winners_broadcast
    )

    new_version = table.version + 1
    _t1 = time.time()
    # change-data files (Delta CDF equivalent): persist THIS commit's
    # POST-IMAGE — batch winners that actually beat the base — so
    # table_changes over the window is O(changes), never a full
    # snapshot diff, AND every row in a cow change file reflects a real
    # state transition. The base-stale filter matters for the streaming
    # changelog source: a consumer that missed a key's tombstone (a
    # batch-synced replica never sees deletes of never-visible keys)
    # has no seq to reject a stale candidate with — so cow files must
    # not carry them. (mor change files remain within-batch winners by
    # construction; their guard lives at read time.)
    #
    # Written BEFORE the bucket write, and the bucket write's union
    # re-reads the (winners-sized) change files instead of recomputing
    # their lineage: capturing the changelog costs one small parquet
    # round-trip, not a second column-pruned base scan + anti-join per
    # epoch. An interrupted merge leaves them as unreferenced staging
    # files — the commit below is what publishes them; GC reclaims
    # orphans.
    change_rels: list[str] | None = None
    if str(table.snap.get("properties", {}).get("changelog.enabled", "true")).lower() != "false":
        change_rels = table.write_change_files(changed, new_version)
        # Read-after-write assumption (documented, round-4 ADVICE): the
        # bucket write re-reads change files this same merge just
        # wrote, so the table store must be read-after-write consistent
        # for new objects — true of the local/posix FS this lake targets
        # and of S3/GCS since 2020/always. A torn write cannot pass
        # silently: parquet footer validation fails the read, and
        # write_change_files raises on write failure, so the epoch
        # aborts unfenced (replayable) rather than dropping changed rows.
        # A fully-stale epoch (zero winners beat the base) wrote no
        # change files, and has nothing to union.
        changed = None
        if change_rels:
            cdf_schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("__seq", T.LongType()),
                    T.StructField("__deleted", T.BooleanType()),
                ]
            )
            changed = table.spark.read.schema(cdf_schema).parquet(
                *[os.path.join(table.path, r) for r in change_rels]
            )
            changed = changed.withColumn("__b", table.bucket_expr(changed))
    merged = base_keep
    if changed is not None:
        # the broadcast plan's base side is bucket-aligned already:
        # cluster only the changed rows (the write clusters all rows
        # otherwise)
        if winners_broadcast:
            changed = changed.repartition(F.col("__b"))
        merged = base_keep.unionByName(changed)
    if explain_sink is not None:
        # plan-audit hook (scripts/explain_audit.py → PLANS.md): the
        # formatted physical plan of the merge output as WRITTEN —
        # after the CDF-reuse rebuild, so the audited union shows the
        # change-file re-read, not the recomputed lineage
        import io as _io
        from contextlib import redirect_stdout as _rs

        _buf = _io.StringIO()
        with _rs(_buf):
            merged.explain("formatted")
        explain_sink.append(_buf.getvalue())
    bucket_files = table.write_buckets(merged, new_version, pre_partitioned=winners_broadcast)
    _t_write = time.time() - _t1
    # buckets that were affected but ended up empty (all keys deleted)
    for b in affected:
        bucket_files.setdefault(str(b), [])

    # metrics may be a callable (caller's concurrent metrics job) —
    # resolve now that the merge's own jobs are done
    if callable(metrics):
        metrics = metrics()

    sc = table.commit(
        bucket_files, epoch=epoch, properties=_commit_props(epoch, metrics),
        schema=schema, aliases=aliases, clear_delta_buckets=affected,
        change_files=change_rels, operation="merge", staged=staged,
    )
    mx.unpersist()

    timings = {
        "probe_sec": round(_t_probe, 3),
        "write_sec": round(_t_write, 3),
        "broadcast_path": winners_broadcast,
    }
    return _result(
        table, epoch, sc, constraint_viol, metrics, n_winners, len(affected), timings
    )
