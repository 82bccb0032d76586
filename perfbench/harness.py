"""Process, session and measurement plumbing shared by every workload.

Nothing here knows about a particular workload: it starts and stops the
Spark driver inside the benchmark's work directory, counts operations,
summarises latency samples and samples resident memory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager

# driver heap: below the physical RAM of small hosts (the session's own
# default of 16g is larger than a 15 GB machine), and small enough that
# several benchmark processes on one host do not crowd each other
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution), so set-up time includes interpreter start-up."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid and comm
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- session


def start_spark(work: str, cores: int, app: str):
    """SparkSession at local[cores] with every scratch path inside `work`."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the spark-submit launcher JVM would otherwise keep its perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case tempfile already cached /tmp
    from wrangler_spark.session import get_spark

    spark = get_spark(
        parallelism=cores,
        app_name=app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the traced run reads job and stage counts back from the
            # status store after the loop; keep every one of them
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark, work: str, cores: int, app: str):
    """Stop the session and start another at a different core count in
    the same JVM (the gateway process stays up)."""
    spark.stop()
    return start_spark(work, cores, app)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit means kill
            proc.kill()
            proc.wait(timeout=30)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- stats


def tail_rank(n: int) -> int:
    """Samples beyond the tail: ten, or a quarter of them when there
    are fewer than 40, so the tail stays short of the slowest few."""
    return min(10, n // 4)


def summarize(values: list[float]) -> dict:
    """Median, and the tail: the slowest sample once the `tail_rank`
    slowest are set aside (an order statistic, not an interpolation, so
    on a workload whose cycles end in a slow operation it stays the
    slowest ordinary sample rather than a blend of two modes)."""
    xs = sorted(values)
    n = len(xs)
    beyond = tail_rank(n)
    return {
        "n": n,
        "p50": statistics.median(xs) if xs else 0.0,
        "tail_pct": round(100.0 * (n - beyond) / n) if n else 0,
        "tail": xs[n - 1 - beyond] if xs else 0.0,
    }


# ---------------------------------------------------------------- operations


class OpLog:
    """Attempted / failed counts and latency samples per operation type.

    A failed operation is recorded with its exception class, counted,
    and left out of the latency sample; it is never retried."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[tuple[str, str, str]] = []
        self.samples: dict[str, list[float]] = {}

    @contextmanager
    def op(self, kind: str):
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        t0 = time.perf_counter()
        try:
            yield
        except Exception as e:  # noqa: BLE001 — every failure is counted, not raised
            self.failed[kind] = self.failed.get(kind, 0) + 1
            self.errors.append((kind, type(e).__name__, str(e).splitlines()[0][:200] if str(e) else ""))
            return
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)

    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    def total_failed(self) -> int:
        return sum(self.failed.values())


# ---------------------------------------------------------------- memory


class RssSampler:
    """Peak resident memory (VmHWM) of the driver JVM and every process
    below it (the Python worker daemon and its forked workers). Each
    process's high-water mark is kept across samples, so workers that
    exit between samples still count with their last reading."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb: dict[int, int] = {}

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
        return kids

    def sample(self) -> None:
        kids = self._children()
        todo = [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
