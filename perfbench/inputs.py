"""Seeded inputs: change events written to epoch-partitioned parquet,
and the directive recipes the workloads run.

Every event column is a deterministic function of (seq, seed, shape), so
epochs can be generated chunk by chunk as the run needs them and still
equal one all-at-once generation for the same seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the 5-directive CDC recipe of the repository's own throughput bench:
# mask / derive / hash / derive / filter over the event payload
CDC_RECIPE = [
    r"find-and-replace :content 's/ssn: \d{3}-\d{2}-\d{4}/ssn: MASKED/g'",
    "set-column :content_sha string:substring(content, 0, 64)",
    "hash :content_sha SHA-256",
    "set-column :n_lines string:length(content)",
    "filter-row exp:{content == null && op != 'delete'} true",
]

# what CDC_RECIPE does to the columns the final-state digest reads
# (repo, path, content), restated with plain Spark functions for the
# output check
SSN_PATTERN = r"ssn: \d{3}-\d{2}-\d{4}"
SSN_MASK = "ssn: MASKED"

# eleven Catalyst-native directives (no Python UDF anywhere)
NATIVE_RECIPE = [
    r"find-and-replace :content 's/ssn: \d{3}-\d{2}-\d{4}/ssn: MASKED/g'",
    r"extract-regex-groups :content 'email: (\w+)@(\w+)\.com'",
    "set-column :content_len string:length(content)",
    "set-column :content_sha content",
    "hash :content_sha SHA-256",
    "cut-character :commit :commit_short 1-8",
    "uppercase :lang",
    "fill-null-or-empty :lang UNKNOWN",
    "encode base64 :path",
    "uppercase :repo",
    "filter-row exp:{op == 'delete'} true",
]
# rows NATIVE_RECIPE's filter drops (SQL), and the column its hash covers
NATIVE_DROPPED = "op = 'delete'"
NATIVE_HASH = ("content_sha", "content")

# Arrow-batched pandas-UDF directives
UDF_RECIPE = [
    "mask-shuffle :content",
    "encode base32 :content",
]
UDF_OUT = "content_encode_base32"


class EventFeed:
    """Change events for epochs 0..N, appended to one epoch-partitioned
    parquet dataset on demand.

    Epoch 0 holds `seed_events` events (the base load); every later epoch
    holds `epoch_events` fresh events plus, when `redeliver_frac` > 0,
    about that share again of redelivered events from earlier epochs
    (same seq and payload, as an at-least-once source resends them)."""

    def __init__(
        self,
        spark,
        path: str,
        seed: int,
        n_repos: int,
        n_paths_per_repo: int,
        seed_events: int,
        epoch_events: int,
        redeliver_frac: float = 0.0,
    ):
        self.spark = spark
        self.path = path
        self.seed = seed
        self.n_repos = n_repos
        self.n_paths = n_paths_per_repo
        self.seed_events = seed_events
        self.epoch_events = epoch_events
        self.redeliver_frac = redeliver_frac
        self.written = 0  # epochs 0..written-1 are on disk

    def first_seq(self, epoch: int) -> int:
        return 0 if epoch == 0 else self.seed_events + (epoch - 1) * self.epoch_events

    def _fresh(self, upto_seq: int) -> DataFrame:
        from wrangler_spark.cdc import generate_events

        ev = generate_events(
            self.spark,
            upto_seq,
            n_repos=self.n_repos,
            n_paths_per_repo=self.n_paths,
            epoch_size=max(upto_seq, 1),
            seed=self.seed,
            parallelism=self.spark.sparkContext.defaultParallelism,
        )
        epoch = F.when(F.col("seq") < self.seed_events, F.lit(0)).otherwise(
            1 + ((F.col("seq") - self.seed_events) / self.epoch_events).cast("long")
        )
        return ev.withColumn("epoch", epoch.cast("long"))

    def ensure(self, epochs: int) -> None:
        """Make epochs 0..epochs-1 available."""
        if epochs <= self.written:
            return
        lo, hi = self.written, epochs
        ev = self._fresh(self.first_seq(hi))
        chunk = ev.filter(F.col("seq") >= self.first_seq(lo))
        if self.redeliver_frac > 0:
            chunk = chunk.unionByName(self._redeliveries(ev, lo, hi))
        chunk.write.mode("append").partitionBy("epoch").parquet(self.path)
        self.written = hi

    def _redeliveries(self, ev: DataFrame, lo: int, hi: int) -> DataFrame:
        """Events of epochs >= 1 picked with probability redeliver_frac
        and re-emitted 1-3 epochs after their own; the ones landing in
        [lo, hi)."""
        h = F.abs(F.xxhash64(F.col("seq"), F.lit(self.seed), F.lit(7919)))
        picked = (h % 1_000_000) < int(self.redeliver_frac * 1_000_000)
        target = F.col("epoch") + 1 + (h / 1_000_000).cast("long") % 3
        return (
            ev.filter((F.col("epoch") >= 1) & picked)
            .withColumn("epoch", target)
            .filter((F.col("epoch") >= lo) & (F.col("epoch") < hi))
        )

    def events(self) -> DataFrame:
        """The dataset as written so far (re-listed, so new epochs show)."""
        return self.spark.read.parquet(self.path)

    def distinct_events(self, last_epoch: int) -> DataFrame:
        """Every generated event of epochs 0..last_epoch exactly once
        (redeliveries regenerate, they do not add events)."""
        return self._fresh(self.first_seq(last_epoch + 1))


def sample_keys(events: DataFrame, n: int) -> list[tuple[str, str]]:
    """Up to n distinct (repo, path) keys of the base epoch."""
    rows = events.filter(F.col("epoch") == 0).select("repo", "path").limit(4 * n).collect()
    return list(dict.fromkeys((r["repo"], r["path"]) for r in rows))[:n]
