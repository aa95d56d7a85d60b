"""Outside-in measurement: Spark work per operation, peak memory, and the
stage walls a build records about itself.  Reads only public Spark status
and the program's own output tables; changes nothing in the program."""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class SparkWork:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class SparkMeter:
    """One Spark job group per operation; jobs, tasks and failed tasks are
    read back from ``SparkContext.statusTracker()`` when it ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        work = SparkWork()
        try:
            yield work
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            # job and stage status arrive through the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            for jid in self.tracker.getJobIdsForGroup(gid):
                work.jobs += 1
                job = self.tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:  # a skipped stage ran no tasks
                        work.tasks += st.numCompletedTasks + st.numFailedTasks
                        work.failed_tasks += st.numFailedTasks


def proc_children(pid: int) -> list[int]:
    """Pids whose parent is ``pid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2 :].split()[1]) == pid:
            out.append(int(d))
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    """The Spark driver JVM this Python process launched."""
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python driver, which holds the
    serving engine's caches, and of its Spark JVM."""
    return _vm_hwm_kb(os.getpid()) / 1024.0, _vm_hwm_kb(jvm_pid(spark)) / 1024.0


def postings_files(index_root: str) -> int:
    n = 0
    for _dir, _sub, files in os.walk(os.path.join(index_root, "postings")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def dir_bytes(root: str) -> int:
    n = 0
    for d, _sub, files in os.walk(root):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n


def build_metrics_rows(io, run_id: str) -> list:
    """The ``build_metrics`` rows one build (or merge) wrote about itself."""
    return [r for r in io.read("build_metrics").collect() if r["run_id"] == run_id]


def staged_content_bytes(rows: list) -> int:
    """Content bytes of the docs a build staged (its per-shard tf rows)."""
    return sum(r["bytes"] for r in rows if r["stage"] == "tf_shard")


def stage_walls(rows: list) -> dict[str, float]:
    """Seconds per build stage.  The tf and finalize rows carry the wall
    since the build began; dedup and shards carry their own (shards: one
    wall per checkpoint batch, repeated on each of its shards — the corpora
    here fit one batch)."""
    by_stage: dict[str, int] = {"shards": 0}
    for r in rows:
        if r["stage"] == "shards":
            by_stage["shards"] = max(by_stage["shards"], r["wall_ms"])
        elif r["shard"] == -1:
            by_stage[r["stage"]] = r["wall_ms"]
    tf, dedup, shards = by_stage["tf"], by_stage["dedup"], by_stage["shards"]
    return {
        "tf": tf / 1000.0,
        "dedup": dedup / 1000.0,
        "shards": shards / 1000.0,
        "finalize": (by_stage["finalize"] - tf - dedup - shards) / 1000.0,
    }
