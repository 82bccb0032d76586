"""Predicate DML (DELETE / UPDATE WHERE) and a general MERGE builder
for LakeTable — the Delta Lake / Iceberg v2 DML surface on top of the
CDC lake (the reference engine is transform-only; these semantics come
from the north rule's Iceberg sink: `DELETE FROM`, `UPDATE`, and
`MERGE INTO` with arbitrary matched / not-matched clauses, Delta's
`DeltaTable.delete/update/merge` shape).

Scale design (the 100 TB story):

- DELETE/UPDATE rewrite is FILE-granular, planned from metadata.
  `scan_plan(filters)` prunes buckets + files driver-side (min/max
  stats, blooms), then a column-pruned PROBE job counts matching rows
  per surviving file (only the filter columns are read — parquet
  column pruning makes this cheap relative to a rewrite), and only
  files that actually CONTAIN matching rows are rewritten. A
  point-delete on a sorted, bloom-indexed table rewrites exactly one
  file, not a bucket and not the table. Untouched files carry over
  into the new snapshot by reference (their stats and blooms are
  already recorded — commit recollects neither).
- Buckets holding pending merge-on-read deltas can't be file-pruned
  (a stale lower-seq delta row could win read-time resolution if its
  base row were dropped), so those buckets are resolved fully and
  rewritten whole, clearing their deltas — the same rule `scan_plan`
  applies.
- Deleted rows become `__deleted` TOMBSTONES stamped with a fresh
  commit sequence (`max_seq + 1`), exactly like CDC delete winners:
  a late lower-seq change event replayed after the DML cannot
  resurrect the key, and downstream replicas see the delete through
  the commit's change-data files (Delta CDF post-image shape).
- MERGE reuses the CDC merge's planning shape: a skinny key probe on
  the source picks the affected buckets, only those base buckets are
  read, and the per-clause logic is pure Column expressions inside
  one join — no per-row Python anywhere.

Reference citations: the north rule's MERGE semantics mirror Delta's
`DeltaMergeBuilder` (whenMatchedUpdate / whenMatchedDelete /
whenNotMatchedInsert, first-matching-clause-wins, multiple-source-
rows-matched error); DELETE/UPDATE mirror `DeltaTable.delete(cond)` /
`update(cond, set)` with Iceberg copy-on-write row-level semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrangler_spark.lake.merge import _BROADCAST_MAX_KEYS

__all__ = ["delete_where", "update_where", "MergeBuilder", "MergeConflictError"]


class MergeConflictError(ValueError):
    """Multiple source rows matched one target key (Delta's
    DeltaUnsupportedOperationException equivalent) — the merge result
    would be nondeterministic, so refuse."""


def _bucket_of_rel(rel: str) -> int:
    """Bucket id embedded in a data-file relpath (…/__b=<b>/part….parquet)."""
    for part in rel.split(os.sep):
        if part.startswith("__b="):
            return int(part.split("=", 1)[1])
    raise ValueError(f"data file relpath carries no bucket component: {rel!r}")


def _next_seq(table) -> int:
    """A commit sequence strictly above everything the table has seen.
    merge commits stamp `max_seq` into snapshot properties; -1 covers
    externally imported files whose rows read back __seq = -1."""
    try:
        return max(int(table.snap.get("properties", {}).get("max_seq", 0)), 0) + 1
    except (TypeError, ValueError):
        return 1


def _validate_assignments(table, assignments: dict) -> dict:
    """Resolve SET targets against the schema; keys are immutable
    (rewriting a key would move the row across hash buckets), metadata
    columns are engine-owned."""
    fields = {f.name.lower(): f.name for f in table.schema.fields}
    keys_l = {k.lower() for k in table.key_cols}
    out = {}
    for name, expr in assignments.items():
        nl = name.lower()
        if nl in ("__seq", "__deleted", "__b"):
            raise ValueError(f"cannot SET engine metadata column {name!r}")
        if nl in keys_l:
            raise ValueError(
                f"cannot SET key column {name!r} (keys pin the hash bucket; "
                "delete + re-insert to move a row)"
            )
        if nl not in fields:
            raise ValueError(f"SET target {name!r} is not a table column")
        out[fields[nl]] = expr if isinstance(expr, Column) else F.expr(str(expr))
    if not out:
        raise ValueError("update_where needs at least one SET assignment")
    return out


def _rewrite_where(
    table, filters: list, assignments: dict | None, epoch=None, mode: str = "cow"
) -> dict:
    """Shared DELETE/UPDATE core. assignments=None → delete (tombstone),
    else update in place. Returns lineage metrics.

    `mode="cow"` rewrites matched files (file-granular copy-on-write).
    `mode="mor"` writes ONLY the transformed matched rows as bucketed
    DELTA files (Iceberg v2 equality-delete shape): no base file is
    rewritten at all, so a sparse-predicate DML costs O(matched rows)
    write I/O regardless of how many files the matches straddle;
    read-time LWW resolution makes the fresh-seq rows win and
    `compact()` folds them back on the normal cadence. Matching always
    evaluates against the RESOLVED current state (pending deltas
    included), so cow and mor produce identical resolved tables."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown DML mode: {mode!r} (cow|mor)")
    if epoch is not None and int(epoch) in table.committed_epochs:
        return {"skipped": True, "epoch": epoch, "version": table.version}
    plan = table.scan_plan(filters)
    cond = table._filters_to_column(filters)
    if cond is None:
        raise ValueError("refusing unfiltered DML; pass at least one (col, op, value)")
    sets = _validate_assignments(table, assignments) if assignments is not None else None
    new_seq = _next_seq(table)
    schema = table.schema
    keys_l = {k.lower() for k in table.key_cols}
    hit = cond & ~F.col("__deleted")

    delta_bkts = set(plan["delta_buckets"])
    cand_rels = [r for r in plan["base_rels"] if _bucket_of_rel(r) not in delta_bkts]

    # ---- probe: which candidate files actually hold matching rows?
    # Column-pruned read (filter cols + metadata only) — cheap vs a
    # rewrite; lets stats false-positives carry over untouched.
    matched_rels: list[str] = []
    if cand_rels:
        probe = (
            table._read_files([os.path.join(table.path, r) for r in cand_rels])
            .withColumn("__f", F.input_file_name())
            .filter(hit)
            .groupBy("__f")
            .count()
            .collect()
        )
        hit_files = {r["__f"] for r in probe}
        matched_rels = [
            r for r in cand_rels
            if any(h.endswith(r.replace(os.sep, "/")) for h in hit_files)
        ]

    noop = {
        "operation": "delete" if sets is None else "update",
        "mode": mode,
        "rows": 0,
        "files_candidates": len(cand_rels),
        "files_rewritten": 0,
        "files_stat_skipped": plan["skipped_files"],
        "files_bloom_skipped": plan["bloom_skipped_files"],
        "buckets_rewritten": 0,
        "version": table.version,
        "committed": False,
    }
    if not matched_rels and not delta_bkts:
        return noop

    def _apply(df: DataFrame) -> DataFrame:
        """hit rows transformed, everything else verbatim."""
        cols = []
        for f_ in schema.fields:
            c = F.col(f_.name)
            if sets is None:
                # delete: null payload, keep keys (tombstone identity)
                out = c if f_.name.lower() in keys_l else F.when(hit, F.lit(None).cast(f_.dataType)).otherwise(c)
            elif f_.name in sets:
                out = F.when(hit, sets[f_.name].cast(f_.dataType)).otherwise(c)
            else:
                out = c
            cols.append(out.alias(f_.name))
        cols.append(F.when(hit, F.lit(new_seq)).otherwise(F.col("__seq")).cast("long").alias("__seq"))
        dele = (F.col("__deleted") | hit) if sets is None else F.col("__deleted")
        cols.append(dele.alias("__deleted"))
        return df.select(*cols)

    version = table.version + 1
    pieces: list[DataFrame] = []
    rows_hit = 0
    caches = []

    if matched_rels:
        src = table._read_files([os.path.join(table.path, r) for r in matched_rels]).cache()
        caches.append(src)
        rows_hit += src.filter(hit).count()
        pieces.append(_apply(src))
    if delta_bkts:
        resolved, _ = table._resolved(buckets=sorted(delta_bkts))
        resolved = resolved.cache()
        caches.append(resolved)
        rows_hit += resolved.filter(hit).count()
        pieces.append(_apply(resolved))

    op_name = "delete" if sets is None else "update"

    # CHECK constraints: the rows an UPDATE would write must satisfy
    # every table constraint — violations always raise (Delta UPDATE
    # semantics; deletes are tombstones, exempt by design)
    if sets is not None and rows_hit:
        from wrangler_spark.lake.constraints import (
            ConstraintViolationError,
            table_constraints,
            violation_counts,
        )

        cons = table_constraints(table.snap)
        if cons:
            upd = None
            for c in caches:
                piece = _apply(c.filter(hit))
                upd = piece if upd is None else upd.unionByName(piece)
            viol = violation_counts(upd.filter(~F.col("__deleted")), cons)
            if sum(viol.values()):
                for c in caches:
                    c.unpersist()
                raise ConstraintViolationError(
                    f"UPDATE violates table constraints {viol}; nothing committed"
                )

    if mode == "mor":
        # delta path: ONLY the transformed matched rows land, as bucketed
        # delta files — they ARE the change-data manifest too (the mor
        # merge's shape: winner rows + __seq/__deleted)
        if rows_hit == 0:
            for c in caches:
                c.unpersist()
            return noop
        hits = [_apply(c.filter(hit)) for c in caches]
        out = hits[0]
        for p in hits[1:]:
            out = out.unionByName(p)
        out = out.withColumn("__b", table.bucket_expr(out))
        delta_files = table.write_buckets(out, version)
        change_rels = [r for rels in delta_files.values() for r in rels]
        metrics = {
            "operation": op_name,
            "mode": mode,
            "rows": rows_hit,
            "files_candidates": len(cand_rels),
            "files_rewritten": 0,
            "files_stat_skipped": plan["skipped_files"],
            "files_bloom_skipped": plan["bloom_skipped_files"],
            "buckets_rewritten": 0,
            "delta_files": len(change_rels),
            "version": version,
            "committed": True,
        }
        table.commit(
            {},
            epoch=epoch,
            properties={"max_seq": new_seq},
            new_delta_files=delta_files,
            change_files=change_rels,
            operation=f"{op_name}(mor)",
        )
        for c in caches:
            c.unpersist()
        return metrics

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    out = out.withColumn("__b", table.bucket_expr(out))

    new_files = table.write_buckets(out, version)

    # ---- stitch the per-bucket manifests: rewritten files replace only
    # themselves; delta buckets are replaced whole (their deltas clear)
    matched_set = set(matched_rels)
    new_bucket_files: dict[str, list[str]] = {}
    touched_buckets = {str(_bucket_of_rel(r)) for r in matched_rels} | {str(b) for b in delta_bkts}
    for b in sorted(touched_buckets, key=int):
        if int(b) in delta_bkts:
            survivors = []
        else:
            survivors = [r for r in table.snap["files"].get(b, []) if r not in matched_set]
        new_bucket_files[b] = survivors + new_files.get(b, [])

    # ---- change-data files: post-image of the touched rows (Delta CDF)
    change_src = caches[0] if len(caches) == 1 else caches[0].unionByName(caches[1])
    changed = _apply(change_src.filter(hit))
    change_rels = table.write_change_files(changed, version)

    metrics = {
        "operation": op_name,
        "mode": mode,
        "rows": rows_hit,
        "files_candidates": len(cand_rels),
        "files_rewritten": len(matched_rels),
        "files_stat_skipped": plan["skipped_files"],
        "files_bloom_skipped": plan["bloom_skipped_files"],
        "buckets_rewritten": len(touched_buckets),
        "version": version,
        "committed": True,
    }
    table.commit(
        new_bucket_files,
        epoch=epoch,
        properties={"max_seq": new_seq},
        clear_delta_buckets=sorted(delta_bkts) or None,
        change_files=change_rels,
        operation=metrics["operation"],
    )
    for c in caches:
        c.unpersist()
    return metrics


def delete_where(table, filters: list, epoch: int | None = None, mode: str = "cow") -> dict:
    """DELETE FROM table WHERE <conjunctive filters> — filters are
    (col, op, value) triples like `scan`, so the plan prunes from
    metadata first. Matching rows become tombstones at a fresh commit
    sequence; mode="cow" rewrites only files containing matches,
    mode="mor" writes the tombstones as delta files (no base rewrite)."""
    return _rewrite_where(table, filters, None, epoch=epoch, mode=mode)


def update_where(
    table, filters: list, set: dict, epoch: int | None = None, mode: str = "cow"
) -> dict:
    """UPDATE table SET <col=expr,…> WHERE <conjunctive filters>.
    `set` maps column → Column or SQL expression string (evaluated over
    the row's current values). Key columns are immutable. mode as in
    delete_where."""
    return _rewrite_where(table, filters, set, epoch=epoch, mode=mode)


class MergeBuilder:
    """General MERGE INTO (Delta DeltaMergeBuilder shape) over a
    LakeTable: target `t` joined to a source DataFrame `s` on the
    table's key columns; clause conditions / SET expressions are SQL
    over the `t.*` / `s.*` namespaces.

        (table.merge_builder(source)
             .when_matched_update({"content": "s.content"}, condition="s.seq > t.seq")
             .when_matched_delete(condition="s.op = 'delete'")
             .when_not_matched_insert()
             .execute())

    Semantics (Delta parity):
    - matched target rows take the FIRST matched clause whose condition
      holds; no clause → row carries over unchanged;
    - source rows matching no live target key take the insert clause
      (condition optional); without an insert clause they are dropped;
    - a source with two rows for one key raises MergeConflictError
      (nondeterministic result otherwise);
    - deletes tombstone the key at a fresh sequence; updates / inserts
      stamp the same fresh sequence, so later CDC replay orders
      correctly against the DML.

    Plan shape: skinny source-key probe → affected buckets → base LEFT
    JOIN broadcast(source) for the matched logic (no full-outer join —
    full outer forbids broadcast and would sort-merge-shuffle the whole
    base payload) + a skinny source-vs-base-keys anti-join for pure
    inserts; pure Column clause logic; bucket-granular rewrite of only
    the affected buckets, unshuffled when the base read was aligned.
    """

    def __init__(self, table, source: DataFrame):
        self.table = table
        self.source = source
        self._matched: list[tuple[str, dict | None, object]] = []  # (kind, sets, cond)
        self._insert: tuple[dict | None, object] | None = None

    def when_matched_update(self, set: dict, condition: str | Column | None = None) -> "MergeBuilder":
        self._matched.append(("update", dict(set), condition))
        return self

    def when_matched_delete(self, condition: str | Column | None = None) -> "MergeBuilder":
        self._matched.append(("delete", None, condition))
        return self

    def when_not_matched_insert(
        self, values: dict | None = None, condition: str | Column | None = None
    ) -> "MergeBuilder":
        """values: column → SQL/Column over `s.*` (defaults to the
        source's same-named columns, null where the source lacks one)."""
        self._insert = (dict(values) if values else None, condition)
        return self

    @staticmethod
    def _cond(c) -> Column:
        if c is None:
            return F.lit(True)
        return c if isinstance(c, Column) else F.expr(str(c))

    def execute(self) -> dict:
        t = self.table
        if not self._matched and self._insert is None:
            raise ValueError("merge needs at least one WHEN clause")
        keys = t.key_cols
        schema = t.schema
        src_cols_l = {c.lower() for c in self.source.columns}
        missing = [k for k in keys if k.lower() not in src_cols_l]
        if missing:
            raise ValueError(f"merge source lacks key column(s): {missing}")
        # canonicalize every clause's SET / VALUES names against the schema
        # (same rules as update_where: keys and metadata are off-limits)
        self._matched = [
            (kind, _validate_assignments(t, sets) if sets else sets, cond)
            for kind, sets, cond in self._matched
        ]
        if self._insert is not None and self._insert[0]:
            self._insert = (_validate_assignments(t, self._insert[0]), self._insert[1])
        new_seq = _next_seq(t)

        # ---- skinny probe: affected buckets + per-key uniqueness in one
        # key-bytes-only job (the CDC merge's planning shape)
        proj = self.source.select(*keys)
        kb = proj.groupBy(*keys).count()
        kb = kb.withColumn("__b", t.bucket_expr(kb))
        probe = kb.groupBy("__b").agg(
            F.count(F.lit(1)).alias("nkeys"), F.max("count").alias("maxdup")
        ).collect()
        if any(r["maxdup"] > 1 for r in probe):
            raise MergeConflictError(
                "merge source has multiple rows for at least one target key"
            )
        affected = sorted(r["__b"] for r in probe)
        if not affected:
            return {"operation": "merge", "rows_source": 0, "version": t.version, "committed": False}
        n_src_keys = sum(r["nkeys"] for r in probe)

        # ---- plan shape: NO full-outer join (full outer forbids the
        # broadcast strategy, forcing a sort-merge that shuffles the
        # whole base payload). Instead:
        #   side A: base LEFT JOIN broadcast(source) — matched / keep /
        #           tombstone-revival logic; base payload never shuffles
        #           while the source fits the broadcast bound (the exact
        #           key count comes from the probe that ran anyway);
        #   side B: source ANTI JOIN base keys (skinny) — never-existed
        #           keys taking the insert clause.
        base, aligned = t._resolved(buckets=affected)
        src = self.source.alias("s")
        build = F.broadcast(src) if n_src_keys <= _BROADCAST_MAX_KEYS else src
        on = None
        for k in keys:
            c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            on = c if on is None else (on & c)
        has_s = None
        for k in keys:
            c = F.col(f"s.{k}").isNotNull()
            has_s = c if has_s is None else (has_s | c)
        j = base.alias("t").join(build, on, "left").withColumn(
            "__matched", ~F.col("t.__deleted") & F.coalesce(has_s, F.lit(False))
        )

        # ---- action resolution (side A): 0 = keep target, 1..n =
        # matched clause i, -1 = insert. A tombstoned target key counts
        # as NOT MATCHED (the key was deleted): the insert clause may
        # revive it in place; without one the tombstone carries over.
        # Not-matched conditions may reference SOURCE columns only
        # (Delta whenNotMatched semantics) — side B has no target half.
        action = None
        for i, (_kind, _sets, cond) in enumerate(self._matched, start=1):
            cl = F.col("__matched") & self._cond(cond)
            action = F.when(cl, F.lit(i)) if action is None else action.when(cl, F.lit(i))
        ins_action = F.lit(0)
        if self._insert is not None:
            ins_action = F.when(self._cond(self._insert[1]), F.lit(-1)).otherwise(F.lit(0))
        not_matched = F.coalesce(has_s, F.lit(False)) & F.col("t.__deleted")
        base_action = F.when(not_matched, ins_action).otherwise(F.lit(0))
        action = base_action if action is None else action.otherwise(base_action)
        j = j.withColumn("__action", action)

        def _field_expr(f_):
            """Value of schema field f_ for each action branch."""
            tcol = F.col(f"t.{f_.name}")
            scol = F.col(f"s.{f_.name}") if f_.name.lower() in src_cols_l else F.lit(None)
            expr = tcol
            for i, (kind, sets, _cond) in enumerate(self._matched, start=1):
                if kind == "delete":
                    val = tcol if f_.name.lower() in {k.lower() for k in keys} else F.lit(None)
                elif sets and f_.name in sets:
                    sv = sets[f_.name]
                    val = sv if isinstance(sv, Column) else F.expr(str(sv))
                else:
                    val = tcol
                expr = F.when(F.col("__action") == i, val).otherwise(expr)
            if self._insert is not None:
                values, _ = self._insert
                if values and f_.name in values:
                    iv = values[f_.name]
                    ival = iv if isinstance(iv, Column) else F.expr(str(iv))
                elif f_.name.lower() in {k.lower() for k in keys} or f_.name.lower() in src_cols_l:
                    ival = scol if f_.name.lower() not in {k.lower() for k in keys} else F.coalesce(F.col(f"s.{f_.name}"), tcol)
                else:
                    ival = F.lit(None)
                expr = F.when(F.col("__action") == -1, ival).otherwise(expr)
            return expr.cast(f_.dataType).alias(f_.name)

        deleted_ids = [i for i, (k_, _s, _c) in enumerate(self._matched, start=1) if k_ == "delete"]
        changed_cond = F.col("__action") != 0
        del_cond = F.lit(False)
        for i in deleted_ids:
            del_cond = del_cond | (F.col("__action") == i)

        out_cols = [_field_expr(f_) for f_ in schema.fields]
        out_cols.append(
            F.when(changed_cond, F.lit(new_seq)).otherwise(F.col("t.__seq")).cast("long").alias("__seq")
        )
        out_cols.append(
            F.when(del_cond, F.lit(True))
            .when(F.col("__action") == -1, F.lit(False))  # insert revives a tombstone
            .otherwise(F.coalesce(F.col("t.__deleted"), F.lit(False)))
            .alias("__deleted")
        )
        result = j.select(*out_cols)

        # ---- side B: source keys with NO base row at all → insert
        # clause (skinny anti-join; the source side is tiny relative to
        # the base, and the base side is key columns only)
        if self._insert is not None:
            b_side = (
                self.source.alias("s")
                .join(base.select(*keys), on=list(keys), how="left_anti")
                .filter(self._cond(self._insert[1]))
            )
            values = self._insert[0] or {}
            keys_l = {k.lower() for k in keys}
            b_cols = []
            for f_ in schema.fields:
                if f_.name in values:
                    iv = values[f_.name]
                    col = iv if isinstance(iv, Column) else F.expr(str(iv))
                elif f_.name.lower() in keys_l or f_.name.lower() in src_cols_l:
                    col = F.col(f"s.{f_.name}")
                else:
                    col = F.lit(None)
                b_cols.append(col.cast(f_.dataType).alias(f_.name))
            b_cols.append(F.lit(new_seq).cast("long").alias("__seq"))
            b_cols.append(F.lit(False).alias("__deleted"))
            # coalesce(1): side B is small by construction — one extra
            # write task keeps the aligned fast path's file count bounded
            result = result.unionByName(b_side.select(*b_cols).coalesce(1))

        result = result.cache()
        n_changed = result.filter(F.col("__seq") == new_seq).count()
        # CHECK constraints: rows this MERGE writes (updated or
        # inserted, tombstones exempt) must satisfy every constraint
        from wrangler_spark.lake.constraints import (
            ConstraintViolationError,
            table_constraints,
            violation_counts,
        )

        cons = table_constraints(t.snap)
        if cons and n_changed:
            viol = violation_counts(
                result.filter((F.col("__seq") == new_seq) & ~F.col("__deleted")), cons
            )
            if sum(viol.values()):
                result.unpersist()
                raise ConstraintViolationError(
                    f"MERGE violates table constraints {viol}; nothing committed"
                )
        out = result.withColumn("__b", t.bucket_expr(result))
        version = t.version + 1
        new_files = t.write_buckets(out, version, pre_partitioned=aligned)
        new_bucket_files = {str(b): new_files.get(str(b), []) for b in affected}
        changed_rows = result.filter(F.col("__seq") == new_seq).withColumn("__b", F.lit(0))
        change_rels = t.write_change_files(changed_rows, version)
        t.commit(
            new_bucket_files,
            properties={"max_seq": new_seq},
            clear_delta_buckets=affected,
            change_files=change_rels,
            operation="merge-dml",
        )
        result.unpersist()
        return {
            "operation": "merge",
            "rows_changed": n_changed,
            "buckets_rewritten": len(affected),
            "version": version,
            "committed": True,
        }
