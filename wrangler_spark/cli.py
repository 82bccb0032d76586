"""spark-submit entry point for the CDC replay engine.

The north-rule deployment shape (BASELINE.json): the engine runs via

    spark-submit --py-files dist/wrangler_spark.zip scripts/replay_job.py \
        replay --events /data/events --table /lake/repo_files \
        --checkpoint /ckpt/run1 --recipe recipes/clean.wgl

on a multi-executor cluster. Subcommands:

- gen-events   deterministic change-event generator → parquet
               (epoch-partitioned so per-epoch reads partition-prune)
- init-table   create the LakeTable (hash-bucketed on the key)
- replay       epoch-fenced batch replay (resumable from checkpoint)
- stream       Structured-Streaming replay (readStream → foreachBatch)
- verify       per-row sha256 projection of the final table state
- vacuum       expire old snapshots + delete orphaned data files
- compact      fold merge-on-read deltas into base buckets (+ Z-order)
- rescale      rewrite under a new hash-bucket count
- replicate    incremental changelog replication to a replica table
- scan         stats/bloom-pruned filtered read (data skipping)
- delete       DELETE rows matching --filter conjuncts (file-granular)
- update       UPDATE SET col=expr WHERE --filter conjuncts
- changes      changelog between two snapshots (CDC source)
- lineage      column-level recipe lineage
- history      retained commit history
- describe     DESCRIBE DETAIL + files/partitions metadata tables
- tag          create/drop named snapshot pins (vacuum-proof refs)
- rollback     metadata-only rollback to a retained version
- alter        metadata-only schema/property changes
- migrate      rewrite a v1 recipe as canonical v2 text
- package      zip wrangler_spark/ for --py-files

Everything the job needs ships in the zip; no cluster-side installs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from wrangler_spark.session import get_spark

    extra = {}
    if getattr(args, "conf", None):
        for kv in args.conf:
            k, _, v = kv.partition("=")
            extra[k] = v
    return get_spark(app_name="wrangler-spark-cli", extra_conf=extra)


def _read_recipe(path: str | None) -> list[str] | None:
    if not path:
        return None
    with open(path) as f:
        return [
            ln.strip()
            for ln in f
            if ln.strip() and not ln.strip().startswith("//")
        ]


def cmd_gen_events(args) -> int:
    from wrangler_spark.cdc.events import generate_events

    spark = _spark(args)
    df = generate_events(
        spark,
        n=args.n,
        n_repos=args.repos,
        n_paths_per_repo=args.paths,
        epoch_size=args.epoch_size,
        n_source_partitions=args.source_partitions,
        seed=args.seed,
    )
    # epoch-partitioned layout: replay_epoch's `epoch == e` filter becomes
    # a partition-directory prune instead of a full scan
    df.write.mode("overwrite").partitionBy("epoch").parquet(args.out)
    print(json.dumps({"written": args.out, "events": args.n}))
    return 0


def cmd_init_table(args) -> int:
    from wrangler_spark.cdc.events import repo_files_schema
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    if LakeTable.exists(args.table):
        print(json.dumps({"table": args.table, "existed": True}))
        return 0
    t = LakeTable.create(
        spark,
        args.table,
        repo_files_schema(),
        key_cols=args.keys.split(","),
        num_buckets=args.buckets,
    )
    print(json.dumps({"table": args.table, "version": t.version, "buckets": args.buckets}))
    return 0


def _read_lookups(spark, specs: list[str] | None) -> dict:
    """--lookup name=path[:format] → {name: DataFrame} (broadcast-join
    dimension tables for table-lookup directives)."""
    out = {}
    for spec in specs or []:
        name, _, rest = spec.partition("=")
        path, _, fmt = rest.partition(":")
        fmt = fmt or ("csv" if path.endswith(".csv") else "parquet")
        reader = spark.read.option("header", "true") if fmt == "csv" else spark.read
        out[name] = reader.format(fmt).load(path)
    return out


def cmd_replay(args) -> int:
    from wrangler_spark.cdc.replay import Replayer, list_epoch_partitions
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table, branch=getattr(args, "branch", None))
    events = spark.read.parquet(args.events)
    rp = Replayer(
        table, args.checkpoint, recipe=_read_recipe(args.recipe),
        lookups=_read_lookups(spark, args.lookup),
        precondition=args.precondition,
        precondition_language=args.precondition_language,
        mode=args.mode,
        compact_every=args.compact_every,
    )
    # epoch-partitioned layout → discover epochs from directory names,
    # not a dataset-wide distinct (the scale path)
    epochs = None
    if os.path.isdir(args.events):
        listed = list_epoch_partitions(args.events)
        if listed:
            epochs = listed
    res = rp.replay(
        events,
        from_epoch=args.from_epoch,
        to_epoch=args.to_epoch,
        epochs=epochs,
    )
    print(json.dumps(res))
    return 0


def cmd_stream(args) -> int:
    from wrangler_spark.lake.table import LakeTable
    from wrangler_spark.streaming.replay import stream_replay

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    stream = (
        spark.readStream.schema(spark.read.parquet(args.events).schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .parquet(args.events)
    )
    q = stream_replay(
        stream,
        table,
        args.checkpoint,
        recipe=_read_recipe(args.recipe),
        trigger_available_now=True,
    )
    q.awaitTermination()
    print(json.dumps({"table": args.table, "version": LakeTable.load(spark, args.table).version}))
    return 0


def cmd_verify(args) -> int:
    from pyspark.sql import functions as F

    from wrangler_spark.cdc.replay import final_state_sha256
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    sha = final_state_sha256(table.read())
    if args.out:
        sha.repartition(1).sortWithinPartitions("repo", "path").write.mode(
            "overwrite"
        ).parquet(args.out)
    from wrangler_spark.cdc.replay import state_digest

    rows, table_digest = state_digest(sha)
    print(json.dumps({"rows": rows, "table_digest": table_digest}))
    return 0


def cmd_vacuum(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    print(json.dumps(table.expire_snapshots(keep_last=args.keep_last)))
    return 0


def cmd_compact(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    zorder = [c.strip() for c in args.zorder.split(",")] if args.zorder else None
    print(json.dumps(table.compact(zorder=zorder, min_files=args.min_files)))
    return 0


def cmd_analyze(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
    print(json.dumps(table.analyze(columns=cols)))
    return 0


def cmd_maintain(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    print(
        json.dumps(
            table.maintain(
                delta_files_max=args.delta_files_max,
                small_files_max=args.small_files_max,
                expire_keep_last=args.expire_keep_last,
                orphan_older_than_s=args.orphan_older_than,
                dry_run=args.dry_run,
            )
        )
    )
    return 0


def cmd_rescale(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    print(json.dumps(table.rescale(args.buckets)))
    return 0


def cmd_clone(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    out = table.clone(args.dest, mode=args.mode)
    print(
        json.dumps(
            {
                "dest": out.path,
                "cloned_from": out.snap["cloned_from"],
                "files": sum(len(v) for v in out.snap["files"].values()),
                "live_rows": out._count_from_metadata(),
            }
        )
    )
    return 0


def cmd_replicate(args) -> int:
    """One replication cycle: apply all source changes since the last
    sync to the replica (run on any cadence; fenced + watermarked, so
    re-running is always safe)."""
    from wrangler_spark.cdc.replicate import Replicator
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    src = LakeTable.load(spark, args.source)
    dst = LakeTable.load(spark, args.replica)
    recipe = _read_recipe(args.recipe) if args.recipe else None
    rep = Replicator(src, dst, recipe=recipe, mode=args.mode, on_error=args.on_error)
    if args.stream:
        if not args.checkpoint:
            raise SystemExit("replicate --stream requires --checkpoint")
        # continuous replication off the lake-changes streaming source;
        # runs until killed (or --timeout-sec for bounded runs)
        q = rep.stream_sync(
            args.checkpoint,
            max_versions_per_trigger=args.max_versions_per_trigger,
            trigger={"processingTime": args.trigger_interval},
        )
        q.awaitTermination(args.timeout_sec)
        if args.timeout_sec is not None:
            q.stop()
        print(json.dumps({"stream": True, "replica_version":
                          LakeTable.load(spark, args.replica).version}))
        return 0
    print(json.dumps(rep.sync()))
    return 0


def _parse_filters(table, raws) -> list:
    """col<op>value strings → scan-filter triples. Numeric-looking
    values coerce ONLY when the table column is numeric — '00123' on a
    string key must stay '00123', else the point-lookup bucket pin
    hashes '123' and silently misses."""
    import re

    from pyspark.sql import types as T

    filters = []
    for raw in raws or []:
        m_in = re.match(r"^([A-Za-z_][\w]*) in (.+)$", raw)
        if m_in:
            col, vals = m_in.groups()
            filters.append((col, "in", [v.strip() for v in vals.split(",") if v.strip()]))
            continue
        m = re.match(r"^([A-Za-z_][\w]*)(<=|>=|=|<|>)(.*)$", raw)
        if not m:
            raise SystemExit(
                f"bad --filter {raw!r}; want col<op>value or 'col in v1,v2'"
            )
        col, op, val = m.groups()
        fld = next(
            (f for f in table.schema.fields if f.name.lower() == col.lower()), None
        )
        numeric = fld is not None and isinstance(
            fld.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType),
        )
        if numeric:
            for cast in (int, float):
                try:
                    val = cast(val)
                    break
                except ValueError:
                    continue
        filters.append((col, op, val))
    return filters


def cmd_scan(args) -> int:
    """Metadata-pruned scan: filters are col<op>value strings
    (op ∈ =, <, <=, >, >=; values are strings — parquet stats compare
    strings lexicographically, numbers numerically after int/float
    coercion). Prints the scan plan (buckets, files skipped) to stderr
    and rows (or a parquet write with --out) from the pruned read."""
    import sys

    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    filters = _parse_filters(table, args.filter)
    plan: dict = {}
    df = table.scan(filters, plan_out=plan)
    print(json.dumps(plan), file=sys.stderr)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
    else:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_delete(args) -> int:
    """DELETE FROM --table WHERE --filter conjuncts (metadata-pruned,
    file-granular rewrite; see lake/dml.py). Prints the DML metrics."""
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    print(json.dumps(table.delete_where(_parse_filters(table, args.filter), mode=args.mode)))
    return 0


def cmd_update(args) -> int:
    """UPDATE --table SET col=sql-expr (repeatable) WHERE --filter."""
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    sets = {}
    for raw in args.set or []:
        if "=" not in raw:
            raise SystemExit(f"bad --set {raw!r}; want col=sql-expr")
        col, expr = raw.split("=", 1)
        sets[col.strip()] = expr.strip()
    print(json.dumps(table.update_where(_parse_filters(table, args.filter), sets, mode=args.mode)))
    return 0


def cmd_changes(args) -> int:
    from wrangler_spark.lake.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    ch = table.table_changes(args.from_version, args.to_version)
    if args.out:
        ch.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))
    else:
        ch.show(100, truncate=False)
    return 0


def cmd_lineage(args) -> int:
    """Column-level lineage of a recipe over a table's schema: one JSON
    line per directive with inputs read / columns added / dropped
    (reference wrangler-core utils/LineageOperations.java — the
    FieldOperation stream CDAP field-level lineage consumes)."""
    from wrangler_spark.recipe.compiler import compile_recipe

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    with open(args.recipe) as f:
        recipe = f.read()
    compiled = compile_recipe(recipe, hoist_filters=False)
    for op in compiled.lineage(df):
        print(json.dumps(op))
    return 0


def cmd_history(args) -> int:
    """Commit history of the retained snapshots (one JSON line per
    version, newest first) — Iceberg snapshots / DESCRIBE HISTORY."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    for e in t.history():
        print(json.dumps(e))
    return 0


def cmd_describe(args) -> int:
    """DESCRIBE DETAIL + metadata tables: the summary dict as JSON;
    --files / --partitions print the per-file / per-bucket metadata
    tables as JSON lines (Iceberg t.files / t.partitions)."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    print(json.dumps(t.describe()))
    if args.files:
        for r in t.inspect_files().collect():
            print(json.dumps(r.asDict()))
    if args.partitions:
        for r in t.inspect_partitions().collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_tag(args) -> int:
    """Named snapshot pins (Iceberg CREATE/DROP TAG): tagged versions
    survive vacuum until the tag is dropped."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    if args.drop:
        print(json.dumps(t.drop_tag(args.name)))
    else:
        print(json.dumps(t.tag(args.name, args.version)))
    return 0


def cmd_branch(args) -> int:
    """Branch refs (Iceberg CREATE/DROP BRANCH + fast_forward): commits
    to a branch are invisible to main until --ff publishes them."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    if args.create:
        b = t.create_branch(args.create)
        print(json.dumps({"created": args.create, "base": b.snap["branch_base"]}))
    elif args.drop:
        print(json.dumps(t.drop_branch(args.drop)))
    elif args.ff:
        print(json.dumps(t.fast_forward(args.ff)))
    else:
        print(json.dumps({"branches": t.branches()}))
    return 0


def cmd_gc(args) -> int:
    """remove_orphans: collect crash-loser files no retained snapshot,
    staged commit, or branch references; never expires a snapshot."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    print(json.dumps(t.remove_orphans(older_than_s=args.older_than)))
    return 0


def cmd_rollback(args) -> int:
    """Metadata-only rollback to a retained version (new commit)."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    print(json.dumps(t.rollback(args.version)))
    return 0


def cmd_alter(args) -> int:
    """Metadata-only schema/property changes (ALTER TABLE shape):
    --rename old=new, --drop-column name, --set key=value,
    --add-constraint name=expr (validates existing data first),
    --drop-constraint name — each a separate commit, in that order."""
    from wrangler_spark.lake import LakeTable

    t = LakeTable.load(_spark(args), args.table)
    out = []
    for spec in args.rename or []:
        old, _, new = spec.partition("=")
        if not new:
            raise SystemExit(f"bad --rename {spec!r}; want old=new")
        out.append(t.rename_column(old, new))
    for name in args.drop_column or []:
        out.append(t.drop_column(name))
    for spec in args.add_constraint or []:
        name, _, expr = spec.partition("=")
        if not expr:
            raise SystemExit(f"bad --add-constraint {spec!r}; want name=SQL_EXPR")
        out.append(t.add_constraint(name, expr))
    for name in args.drop_constraint or []:
        out.append(t.drop_constraint(name))
    if args.set_prop:
        props = {}
        for spec in args.set_prop:
            k, _, v = spec.partition("=")
            if not _:
                raise SystemExit(f"bad --set {spec!r}; want key=value")
            props[k] = v
        out.append(t.set_properties(props))
    print(json.dumps(out))
    return 0


def cmd_migrate(args) -> int:
    """Rewrite a v1 (or mixed) recipe as canonical v2 text (reference
    parser/MigrateToV2.java; the design-time service exposes the same
    rewrite). No Spark session needed."""
    from wrangler_spark.recipe.migrate import migrate_to_v2

    with open(args.recipe) as f:
        print(migrate_to_v2(f.read()))
    return 0


def cmd_package(args) -> int:
    print(json.dumps({"zip": package_pyfiles(args.out)}))
    return 0


def package_pyfiles(out: str | None = None) -> str:
    """Zip the wrangler_spark package for spark-submit --py-files."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    out = out or os.path.join(repo, "dist", "wrangler_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, repo)
                z.write(full, rel)
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wrangler-spark")
    p.add_argument("--conf", action="append", help="extra spark conf k=v", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-events", help="deterministic change-event generator")
    g.add_argument("--out", required=True)
    g.add_argument("--n", type=int, required=True)
    g.add_argument("--repos", type=int, default=50)
    g.add_argument("--paths", type=int, default=200)
    g.add_argument("--epoch-size", type=int, default=100_000)
    g.add_argument("--source-partitions", type=int, default=16)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_gen_events)

    i = sub.add_parser("init-table", help="create the lake table")
    i.add_argument("--table", required=True)
    i.add_argument("--keys", default="repo,path")
    i.add_argument("--buckets", type=int, default=64)
    i.set_defaults(fn=cmd_init_table)

    r = sub.add_parser("replay", help="epoch-fenced batch replay")
    r.add_argument("--events", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--recipe", default=None, help="recipe file (one directive per line)")
    r.add_argument("--lookup", action="append", default=None,
                   help="name=path[:format] lookup dataset for table-lookup")
    r.add_argument("--from-epoch", type=int, default=None)
    r.add_argument("--to-epoch", type=int, default=None)
    r.add_argument("--precondition", default=None,
                   help="plugin-level row filter ahead of the recipe "
                        "(JEXL: skip-if-true; SQL: keep-if-true)")
    r.add_argument("--precondition-language", default="jexl", choices=["jexl", "sql"])
    r.add_argument("--mode", default="cow", choices=["cow", "mor"],
                   help="cow: rewrite touched buckets per epoch; "
                        "mor: append merge-on-read deltas (O(epoch) merge I/O)")
    r.add_argument("--compact-every", type=int, default=None,
                   help="mor only: fold deltas into base every K epochs")
    r.add_argument("--branch", default=None,
                   help="replay into this branch (publish later via `branch --ff`)")
    r.set_defaults(fn=cmd_replay)

    s = sub.add_parser("stream", help="structured-streaming replay")
    s.add_argument("--events", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--recipe", default=None)
    s.add_argument("--max-files-per-trigger", type=int, default=8)
    s.set_defaults(fn=cmd_stream)

    v = sub.add_parser("verify", help="sha256 projection / whole-table digest")
    v.add_argument("--table", required=True)
    v.add_argument("--out", default=None)
    v.set_defaults(fn=cmd_verify)

    vac = sub.add_parser("vacuum", help="expire old snapshots + orphaned data files")
    vac.add_argument("--table", required=True)
    vac.add_argument("--keep-last", type=int, default=2)
    vac.set_defaults(fn=cmd_vacuum)

    c = sub.add_parser("compact", help="fold merge-on-read deltas into base buckets")
    c.add_argument("--table", required=True)
    c.add_argument("--zorder", default=None, help="comma-separated columns for OPTIMIZE ZORDER rewrite")
    c.add_argument("--min-files", type=int, default=None,
                   help="also bin-pack buckets holding at least this many base files")
    c.set_defaults(fn=cmd_compact)

    an = sub.add_parser("analyze", help="compute per-column NDV/null/length stats into table properties")
    an.add_argument("--table", required=True)
    an.add_argument("--columns", default=None, help="comma-separated columns (default: all)")
    an.set_defaults(fn=cmd_analyze)

    mt = sub.add_parser("maintain", help="policy-driven compaction + expiry + GC in one pass")
    mt.add_argument("--table", required=True)
    mt.add_argument("--delta-files-max", type=int, default=4,
                    help="compact buckets carrying at least this many MoR delta files")
    mt.add_argument("--small-files-max", type=int, default=16,
                    help="bin-pack buckets holding at least this many base files")
    mt.add_argument("--expire-keep-last", type=int, default=None,
                    help="also expire snapshots, keeping this many")
    mt.add_argument("--orphan-older-than", type=float, default=None,
                    help="also remove orphan files older than this many seconds")
    mt.add_argument("--dry-run", action="store_true", help="print the plan only")
    mt.set_defaults(fn=cmd_maintain)

    rs = sub.add_parser("rescale", help="rewrite under a new hash-bucket count")
    rs.add_argument("--table", required=True)
    rs.add_argument("--buckets", type=int, required=True)
    rs.set_defaults(fn=cmd_rescale)

    cl = sub.add_parser("clone", help="zero-copy shallow clone of the current snapshot")
    cl.add_argument("--table", required=True)
    cl.add_argument("--dest", required=True)
    cl.add_argument("--mode", choices=["auto", "hardlink", "copy"], default="auto")
    cl.set_defaults(fn=cmd_clone)

    rp2 = sub.add_parser("replicate", help="incremental changelog replication to a replica table")
    rp2.add_argument("--source", required=True)
    rp2.add_argument("--replica", required=True)
    rp2.add_argument("--recipe", default=None, help="recipe file applied to the change stream")
    rp2.add_argument("--mode", default="cow", choices=["cow", "mor"])
    rp2.add_argument(
        "--on-error", dest="on_error", default="fail", choices=["fail", "skip"],
        help="recipe error rows: fail the sync (watermark not advanced) or drop visibly",
    )
    rp2.add_argument(
        "--stream", action="store_true",
        help="continuous replication via the lake-changes streaming source",
    )
    rp2.add_argument("--checkpoint", default=None, help="SS checkpoint dir (--stream)")
    rp2.add_argument(
        "--max-versions-per-trigger", dest="max_versions_per_trigger",
        type=int, default=None, help="admission control: commits per microbatch",
    )
    rp2.add_argument(
        "--trigger-interval", dest="trigger_interval", default="10 seconds"
    )
    rp2.add_argument(
        "--timeout-sec", dest="timeout_sec", type=int, default=None,
        help="stop the stream after N seconds (default: run until killed)",
    )
    rp2.set_defaults(fn=cmd_replicate)

    sc = sub.add_parser("scan", help="stats-pruned filtered read (data skipping)")
    sc.add_argument("--table", required=True)
    sc.add_argument("--filter", action="append", help="col<op>value, repeatable (AND)")
    sc.add_argument("--out", default=None, help="write result parquet here")
    sc.add_argument("--limit", type=int, default=100)
    sc.set_defaults(fn=cmd_scan)

    dl = sub.add_parser("delete", help="DELETE rows matching --filter conjuncts")
    dl.add_argument("--table", required=True)
    dl.add_argument("--filter", action="append", required=True, help="col<op>value, repeatable (AND)")
    dl.add_argument("--mode", choices=("cow", "mor"), default="cow",
                    help="cow = rewrite matched files; mor = tombstone deltas only")
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser("update", help="UPDATE SET col=expr WHERE --filter conjuncts")
    up.add_argument("--table", required=True)
    up.add_argument("--filter", action="append", required=True, help="col<op>value, repeatable (AND)")
    up.add_argument("--set", action="append", required=True, help="col=sql-expr, repeatable")
    up.add_argument("--mode", choices=("cow", "mor"), default="cow",
                    help="cow = rewrite matched files; mor = update-row deltas only")
    up.set_defaults(fn=cmd_update)

    cg = sub.add_parser("changes", help="changelog between two snapshots (CDC source)")
    cg.add_argument("--table", required=True)
    cg.add_argument("--from-version", type=int, required=True)
    cg.add_argument("--to-version", type=int, default=None)
    cg.add_argument("--out", default=None, help="write changelog parquet here")
    cg.set_defaults(fn=cmd_changes)

    ln = sub.add_parser("lineage", help="column-level recipe lineage (one JSON line per directive)")
    ln.add_argument("--input", required=True, help="parquet path supplying the input schema")
    ln.add_argument("--recipe", required=True, help="recipe file")
    ln.set_defaults(fn=cmd_lineage)

    hs = sub.add_parser("history", help="retained commit history, one JSON line per version")
    hs.add_argument("--table", required=True)
    hs.set_defaults(fn=cmd_history)

    tg = sub.add_parser("tag", help="create/drop a named snapshot pin (survives vacuum)")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", required=True)
    tg.add_argument("--version", type=int, default=None, help="default: current head")
    tg.add_argument("--drop", action="store_true")
    tg.set_defaults(fn=cmd_tag)

    de = sub.add_parser("describe", help="DESCRIBE DETAIL + files/partitions metadata tables")
    de.add_argument("--table", required=True)
    de.add_argument("--files", action="store_true", help="also print the per-file metadata table")
    de.add_argument("--partitions", action="store_true", help="also print the per-bucket summary")
    de.set_defaults(fn=cmd_describe)

    br = sub.add_parser("branch", help="create/drop/fast-forward/list branch refs")
    br.add_argument("--table", required=True)
    brg = br.add_mutually_exclusive_group()
    brg.add_argument("--create", metavar="NAME")
    brg.add_argument("--drop", metavar="NAME")
    brg.add_argument("--ff", metavar="NAME", help="fast-forward main to this branch")
    br.set_defaults(fn=cmd_branch)

    gc = sub.add_parser("gc", help="remove orphan files (no snapshot expiry)")
    gc.add_argument("--table", required=True)
    gc.add_argument("--older-than", type=float, default=3 * 86400,
                    help="grace window in seconds (default 3 days)")
    gc.set_defaults(fn=cmd_gc)

    rb = sub.add_parser("rollback", help="metadata-only rollback to a retained version")
    rb.add_argument("--table", required=True)
    rb.add_argument("--version", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    al = sub.add_parser("alter", help="metadata-only schema/property changes")
    al.add_argument("--table", required=True)
    al.add_argument("--rename", action="append", metavar="OLD=NEW")
    al.add_argument("--drop-column", dest="drop_column", action="append", metavar="NAME")
    al.add_argument("--set", dest="set_prop", action="append", metavar="KEY=VALUE")
    al.add_argument("--add-constraint", dest="add_constraint", action="append",
                    metavar="NAME=SQL_EXPR")
    al.add_argument("--drop-constraint", dest="drop_constraint", action="append",
                    metavar="NAME")
    al.set_defaults(fn=cmd_alter)

    mg = sub.add_parser("migrate", help="rewrite a v1 recipe as canonical v2 text")
    mg.add_argument("--recipe", required=True, help="recipe file")
    mg.set_defaults(fn=cmd_migrate)

    z = sub.add_parser("package", help="zip package for --py-files")
    z.add_argument("--out", default=None)
    z.set_defaults(fn=cmd_package)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
