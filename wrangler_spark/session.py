"""SparkSession factory tuned for the engine.

Local mode is only the test harness; every config here is chosen to be
correct on a multi-executor cluster (AQE, skew-join splitting, Arrow
for the few pandas-UDF fallbacks).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    parallelism: int | None = None,
    app_name: str = "wrangler-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local core count (defaults to $SPARK_GRAFT_CPUS or '*').
    """
    cores = parallelism or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting — the hot-repo skew
        # answer at 100 TB alongside the map-side max-seq agg in
        # lake/merge.py.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the LWW join-back's build side is (keys, max seq) — tiny vs the
        # payload stream. Default 10 MB thresholds push borderline epochs
        # into full-payload shuffle joins (measured 2.5x slowdown of the
        # whole replay); 64 MB keeps the payload stream shuffle-free up
        # to ~10^6 changed keys per epoch, degrading gracefully to
        # shuffle join beyond (AQE decides from runtime sizes).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Arrow for pandas UDF fallbacks (never per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle()))
        .config("spark.sql.session.timeZone", "UTC")
        # Lenient casts/element_at (null on failure) match the reference's
        # RecordConvertor any-to-declared-type coercion (SURVEY.md §1.3);
        # Spark 4 flips ANSI on by default, so flip it back.
        .config("spark.sql.ansi.enabled", "false")
        # Case-insensitive column resolution matches the reference's
        # Row.find() equalsIgnoreCase semantics (SURVEY.md §1.1).
        .config("spark.sql.caseSensitive", "false")
        # The reference parses/formats dates with java.text.
        # SimpleDateFormat (lenient single-digit fields, EEE day names,
        # z zone names, G era, '' escaped quotes — directives/parser/
        # ParseSimpleDate.java); Spark's CORRECTED DateTimeFormatter
        # rejects or nulls several of those patterns, so pin the LEGACY
        # policy = SimpleDateFormat for exact reference parity.
        .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
        # local mode runs executors as threads in the driver JVM. Measured
        # on this box (4M-event replay, local[32]): 48g heap ran 2-3×
        # slower than 16g (huge young gen + 32 allocating threads trash
        # caches), 8g was fine too; 16g is the stable middle.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # one executor ⇒ locality tiers are meaningless; the default 3s
        # wait just idles task slots (measured +25% replay throughput at
        # local[2] with 0). On a real cluster the default stays.
        b = b.config("spark.locality.wait", "0")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _default_shuffle() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        return max(int(cpus) if cpus else (os.cpu_count() or 8), 8)
    except ValueError:
        return 32
