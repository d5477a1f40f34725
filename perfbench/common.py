"""Shared pieces of the benchmark: host pinning, the seeded input shape, the
feature definitions both workloads run, and process-tree memory.

Imported by run.py (the benchmark process) and by serve_conf.py (inside the
``python -m chronon_spark serve`` process), so it imports nothing from
pyspark at module level.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import shlex
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DAY_MS = 86_400_000
START = dt.date(2024, 1, 1)  # generate_transcripts' default start_ts_ms

# ~103k turns over 30 days: 5000 conversations x 20 turns plus 3 hot
# conversations at 50x (1000 turns each). This is the 2M-turn shape (100k x
# 20 plus 3 hot at 1000x) scaled by 1/20 in both the conversation count and
# the hot multiplier, so the hot keys keep their 2.9% share of all turns and
# each hot key still carries 50x a normal one; at 1/20 every run of both
# workloads fits the benchmark's time budget at local[4].
FULL_SHAPE = dict(
    n_conversations=5000, avg_turns=20, n_days=30, hot_conversations=3, hot_multiplier=50
)
SMOKE_SHAPE = dict(
    n_conversations=40, avg_turns=8, n_days=4, hot_conversations=1, hot_multiplier=10
)


def ds(day: int) -> str:
    """Day label of the ``day``-th generated day (0-based)."""
    return (START + dt.timedelta(days=day)).isoformat()


def day_start_ms(ds_label: str) -> int:
    d = dt.date.fromisoformat(ds_label)
    return (d - dt.date(1970, 1, 1)).days * DAY_MS


def import_program():
    """Put the checkout root first on sys.path and make sure the package
    imported is the one in this checkout; a benchmark that silently measured
    another copy would be worse than one that fails."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import chronon_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: chronon_spark is not importable from {ROOT}: {e}")
    where = os.path.dirname(os.path.dirname(os.path.abspath(chronon_spark.__file__)))
    if where != ROOT:
        raise SystemExit(f"perfbench: chronon_spark resolved to {where}, not {ROOT}")


def host() -> dict:
    """CPUs this process may run on (what ``nproc`` reports, ignoring
    OMP_NUM_THREADS) and physical RAM."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def spark_env(h: dict, tmp: str) -> dict[str, str]:
    """Session pinning shared by the in-process session and the serve
    subprocess: every core of this host, a fixed JVM heap of a quarter of
    RAM (capped at 4 GiB) instead of the 48g default, no console progress, and
    every temporary file (Python's, the JVM's, Spark's local dirs) under
    ``tmp``."""
    mem_mb = min(4096, h["ram_mb"] // 4)
    java_opts = shlex.quote(f"-Xms{mem_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return {
        "SPARK_MASTER": f"local[{h['nproc']}]",
        "SPARK_GRAFT_CPUS": str(h["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {java_opts} pyspark-shell",
    }


def definitions():
    """The one conv_id-keyed join part both workloads use: sliding-tier
    COUNT / SUM / AVERAGE of turn_idx over 1d and 7d windows (primitive IRs
    only, so every table the workloads write is Iceberg-writable)."""
    from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window

    windows = (Window(1, TimeUnit.DAYS), Window(7, TimeUnit.DAYS))
    gb = GroupBy(
        name="conv",
        keys=["conv_id"],
        aggregations=[
            Aggregation(op, "turn_idx", windows=windows)
            for op in (Op.COUNT, Op.SUM, Op.AVERAGE)
        ],
    )
    join = Join(name="transcripts", left_keys=["conv_id"], join_parts=[JoinPart(group_by=gb)])
    return gb, join


FEATURES = [
    f"turn_idx_{op}_{w}" for op in ("count", "sum", "average") for w in ("1d", "7d")
]
WINDOW_MS = {"1d": DAY_MS, "7d": 7 * DAY_MS}
TAIL_HOP_MS = 3_600_000  # Window.tail_hop_millis() for 1d..11d windows
TIEBREAK = "turn_idx"


def commit_source(spark, shape: dict, seed: int, location: str):
    """Generate the seeded transcripts and commit them as a ds-partitioned
    jar-free Iceberg table; returns the IcebergTable."""
    from pyspark.sql import functions as F

    from chronon_spark.sources.iceberg import create_table
    from chronon_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, seed=seed, **shape)
    df = df.withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
    return create_table(df, location, partition_by=["ds"])


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout_s: float = 60) -> None:
    """Wait until none of ``pids`` runs any more (exited or a zombie of a
    parent that has gone), killing the stragglers at the deadline."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while True:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                break
            if state == "Z":
                break
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit
    (PySpark otherwise leaves it running until this process exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = descendants(gateway.proc.pid)
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        wait_gone(jvm)
        SparkContext._gateway = None
        SparkContext._jvm = None


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of the kernel's peak-RSS marks (VmHWM) over ``root_pid`` and all
    of its descendants: the Python process, its JVM and Python workers, and
    any service subprocess. Read before the processes exit."""
    total_kb = 0
    for pid in descendants(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024


def retained_heap_mb(jvm) -> float:
    """JVM heap in use after full collections (``System.gc()``, a
    stop-the-world full GC under G1): what the program still holds at this
    point, such as caches, retained plans and metadata. One collection is
    not enough: Spark's ContextCleaner frees broadcast and shuffle state
    only after a GC has found it unreachable, and what it frees can uncover
    more. So this collects again, a second apart, until the figure has
    fallen by less than 1% twice in a row."""
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last, steady = None, 0
    for _ in range(10):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        steady = steady + 1 if last is not None and used >= 0.99 * last else 0
        if steady == 2:
            break
        last = used
        time.sleep(1)
    return used


# --- serve request mix (identical in the client and the service process) --

# Every 4th request is a 64-key scoring batch, the rest are 1-key lookups
# ("mostly 1-key lookups plus some batches"). A run times 8 or 12 requests,
# so one batch per 4 keeps every run at 2-3 timed batches: a rarer batch
# would leave some runs with none, and keys/s would jump with that count. The key
# popularity is the classic Zipf law (exponent 1); there is no measured
# traffic of this service to fit it to.
CYCLE = 4
BATCH_KEYS = 64
ZIPF_S = 1.0
NO_HISTORY_SHARE = 0.1


def hot_conv_ids(shape: dict) -> list[str]:
    """generate_transcripts numbers hot conversations after the normal ones."""
    n = shape["n_conversations"]
    return [f"conv_{n + i:06d}" for i in range(shape["hot_conversations"])]


class RequestPlan:
    """Request ``i`` of a seeded, unbounded request sequence: its keys are a
    Zipf draw over ``pool`` (hot conversations first, then conversations
    active after batch end) plus ~10% keys with no history; its timestamps
    fall inside the serve day ``[serve_start_ms, +1 day)``."""

    def __init__(self, seed: int, pool: list[str], serve_start_ms: int):
        self.seed = seed
        self.pool = pool
        self.serve_start_ms = serve_start_ms
        self.cum = list(
            itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(pool)))
        )

    def request(self, i: int) -> list[dict]:
        rng = random.Random(f"{self.seed}:{i}")
        rows = []
        for _ in range(BATCH_KEYS if i % CYCLE == CYCLE - 1 else 1):
            if rng.random() < NO_HISTORY_SHARE:
                conv = f"conv_nohist_{rng.randrange(10**6):06d}"
            else:
                conv = rng.choices(self.pool, cum_weights=self.cum)[0]
            rows.append({"conv_id": conv, "ts": self.serve_start_ms + rng.randrange(DAY_MS)})
        return rows
