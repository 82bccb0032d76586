"""Deterministic change-event generator (the binlog/WAL to replay).

Shape per FIXTURES.md §2 / BASELINE.json input_hint: events over an
input table of source-code repositories (repo, path, commit, lang,
content) keyed by (repo, path), with

    seq               globally monotonic commit sequence (LWW tiebreak)
    epoch             seq // epoch_size (commit fencing granularity)
    source_partition  for per-partition high-watermark checkpointing
    op                insert | update | delete (~20/70/10)

Everything is a pure Column expression over spark.range(n) — no driver
loop, no Python UDF — so the generator itself scales to 10^10 events
(spark.range is a parallel, splittable source). Keys follow a zipf-ish
skew (quadratic concentration) so a few hot repos exercise the LWW
dedup's map-side max-seq agg and join back under skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def repo_files_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )


_LANGS = ["python", "java", "markdown", "json", "csv"]
_EXTS = {"python": "py", "java": "java", "markdown": "md", "json": "json", "csv": "csv"}


def _h(col, salt: int):
    """Deterministic uniform hash in [0, 1)."""
    return (F.abs(F.xxhash64(col.cast("string"), F.lit(salt))) % 1_000_000_007) / 1_000_000_007.0


def generate_events(
    spark: SparkSession,
    n: int,
    n_repos: int = 50,
    n_paths_per_repo: int = 200,
    epoch_size: int = 100_000,
    n_source_partitions: int = 16,
    seed: int = 42,
    parallelism: int | None = None,
) -> DataFrame:
    """n change events, fully determined by (n, params, seed)."""
    df = spark.range(0, n, 1, parallelism or spark.sparkContext.defaultParallelism)
    seq = F.col("id")

    # zipf-ish: square the uniform → mass concentrates at low repo ids
    u_repo = _h(seq, seed + 1)
    repo_id = F.floor(F.pow(u_repo, 2.0) * n_repos).cast("int")
    u_path = _h(seq, seed + 2)
    path_id = F.floor(F.pow(u_path, 1.5) * n_paths_per_repo).cast("int")

    lang_id = (F.abs(F.xxhash64(repo_id.cast("string"), path_id.cast("string"), F.lit(seed + 3))) % len(_LANGS)).cast("int")
    lang = F.element_at(F.array(*[F.lit(x) for x in _LANGS]), lang_id + 1)
    ext = F.element_at(F.array(*[F.lit(_EXTS[x]) for x in _LANGS]), lang_id + 1)

    u_op = _h(seq, seed + 4)
    op = (
        F.when(u_op < 0.20, F.lit("insert"))
        .when(u_op < 0.90, F.lit("update"))
        .otherwise(F.lit("delete"))
    )

    repo = F.concat(F.lit("org"), (repo_id % 10).cast("string"), F.lit("/repo"), repo_id.cast("string"))
    path = F.concat(
        F.lit("src/m"), (path_id % 20).cast("string"), F.lit("/f"), path_id.cast("string"),
        F.lit("."), ext,
    )
    commit = F.substring(F.sha2(F.concat(repo, path, seq.cast("string")), 256), 1, 40)

    # content: multi-line source-like text with material for directives
    # (emails, SSN-ish digits, numbers) — deterministic in (key, seq)
    body_hash = F.sha2(F.concat(repo, F.lit("|"), path, F.lit("|"), seq.cast("string")), 256)
    content = F.concat(
        F.lit("// file "), path, F.lit(" of "), repo, F.lit("\n"),
        F.lit("email: user"), (seq % 1000).cast("string"), F.lit("@example.com\n"),
        F.lit("ssn: 000-00-"), F.lpad((seq % 10000).cast("string"), 4, "0"), F.lit("\n"),
        F.lit("metric: "), (seq % 997).cast("string"), F.lit("."), (seq % 97).cast("string"), F.lit("\n"),
        F.lit("payload: "), F.repeat(F.substring(body_hash, 1, 16), 4), F.lit("\n"),
    )

    return df.select(
        seq.alias("seq"),
        (seq / epoch_size).cast("long").alias("epoch"),
        (F.abs(F.xxhash64(repo, path)) % n_source_partitions).cast("int").alias("source_partition"),
        op.alias("op"),
        repo.alias("repo"),
        path.alias("path"),
        F.when(op == "delete", F.lit(None).cast("string")).otherwise(commit).alias("commit"),
        F.when(op == "delete", F.lit(None).cast("string")).otherwise(lang).alias("lang"),
        F.when(op == "delete", F.lit(None).cast("string")).otherwise(content).alias("content"),
    )


def expected_final_state(events: DataFrame, key_cols=("repo", "path")) -> DataFrame:
    """Replay oracle: the final table state implied by ALL events at once
    (global LWW, ignoring epoch boundaries). Used by tests to verify that
    epoch-by-epoch replay — from any checkpoint — converges to the same
    rows (per-row content sha256 equality). One row per key: tied
    copies of a key's winning event (a redelivery) collapse, as they do
    in the table."""
    from wrangler_spark.lake.merge import lww_dedup

    winners = lww_dedup(events, list(key_cols), seq_col="seq").dropDuplicates(list(key_cols))
    return winners.filter(F.col("op") != "delete").drop("op", "seq", "epoch", "source_partition")
