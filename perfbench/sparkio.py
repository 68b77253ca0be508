"""What the benchmark reads back from Spark and the operating system:
streaming progress, checkpoint logs, job counts, sink sizes and memory.
Everything here observes the program from outside; nothing changes it."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from urllib.parse import unquote, urlparse

# StreamingQueryProgress.durationMs parts, in the order a micro-batch
# runs them, with the span names the trace gives them.
DURATION_PARTS = (
    ("latestOffset", "source.latest_offset"),
    ("walCommit", "checkpoint.wal_commit"),
    ("getBatch", "source.get_batch"),
    ("queryPlanning", "batch.query_planning"),
    ("addBatch", "batch.add_batch"),
    ("commitOffsets", "checkpoint.commit_offsets"),
)


def progress(query) -> list[dict]:
    """Every progress report the query kept, as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def epoch_s(iso: str) -> float:
    """Spark's progress timestamp (``2024-01-01T00:00:00.123Z``) as
    epoch seconds."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def data_batches(reports: list[dict]) -> list[dict]:
    """Reports of micro-batches that read input, one per batch id."""
    by_id = {p["batchId"]: p for p in reports if p.get("numInputRows", 0) > 0}
    return [by_id[b] for b in sorted(by_id)]


def batch_window(report: dict) -> tuple[float, float]:
    start = epoch_s(report["timestamp"])
    return start, start + report["durationMs"].get("triggerExecution", 0) / 1000.0


def _local(path: str) -> str:
    return os.path.normpath(unquote(urlparse(path).path))


def source_files(checkpoint: str) -> dict[str, int]:
    """Input file -> batch id, from the file source's metadata log
    (including compacted log files)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[_local(entry["path"])] = int(entry["batchId"])
    return out


def committed_batches(checkpoint: str) -> list[int]:
    commit_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commit_dir):
        return []
    return sorted(int(n) for n in os.listdir(commit_dir) if n.isdigit())


def batch_watermark_ms(checkpoint: str, batch_id: int) -> int:
    """The event-time watermark a batch ran with, from the offset log."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as f:
        return int(json.loads(f.read().splitlines()[1])["batchWatermarkMs"])


def job_ids(spark, group: str | None) -> set[int]:
    """Ids of the jobs Spark ran under one job group (None: no group)."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_counts(spark, jobs: set[int]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            stages += 1
            stage_info = tracker.getStageInfo(stage)
            tasks += stage_info.numTasks if stage_info else 0
    return len(jobs), stages, tasks


def tree_files(root: str) -> list[str]:
    """Every parquet file under ``root``."""
    out = []
    for dirpath, _, names in os.walk(root):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in tree_files(root))


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the Spark JVM."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds a process has used (0 if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def thread_cpu_s(pid: int, prefixes: tuple[str, ...]) -> float:
    """CPU seconds used by the threads of a process whose names start
    with one of ``prefixes``."""
    total = 0.0
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                if not f.read().startswith(prefixes):
                    continue
        except OSError:
            continue
        total += cpu_s(f"{pid}/task/{tid}")
    return total


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def heap_peak_mb(spark) -> float:
    """Peak bytes used across the JVM's heap pools since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = spark.sparkContext._jvm.java.lang.management.MemoryType.HEAP
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType() == heap
    ) / (1024.0 * 1024.0)
