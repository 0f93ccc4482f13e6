"""Measurement helpers: Spark status-store spans, box state and peak RSS.

Job and stage data come from ``sc._jsc.sc().statusStore()``, which is
populated with ``spark.ui.enabled=false``. The benchmark runs one client
thread, so the jobs an op spawned are exactly the job ids allocated between
its start and its end; that includes streaming micro-batch jobs, which run on
the stream's own thread under the stream's job group.
"""

from __future__ import annotations

import os

INFERENCE_SITES = ("parquet at", "csv at")
CUT_SITES = ("localCheckpoint at", "checkpoint at")
# Job description the benchmark sets around its own sink writes, whose
# parquet call sites would otherwise read as schema inference.
SINK_JOB = "perfbench:sink"


def classify(name: str) -> str:
    """Construction-job class from the status store's call-site name."""
    if name.startswith(INFERENCE_SITES):
        return "inference"
    if name.startswith(CUT_SITES):
        return "cut"
    return "eager"


def _opt(option):
    return option.get() if option.isDefined() else None


class StatusStore:
    """Reads jobs and stages out of the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = self._sc.statusStore()
        self._next = 0
        self._seen_stages: set[int] = set()

    def next_job_id(self) -> int:
        """The id the next submitted job will get."""
        self._sc.listenerBus().waitUntilEmpty()
        while True:
            try:
                self._store.job(self._next)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException
                return self._next
            self._next += 1

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Every job in ``[lo, hi)`` with its stages' metrics."""
        out = []
        for jid in range(lo, hi):
            jd = self._store.job(jid)
            start, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
            job = {
                "id": jid,
                "name": jd.name(),
                "group": _opt(jd.jobGroup()),
                "description": _opt(jd.description()) or "",
                "seconds": (end.getTime() - start.getTime()) / 1000.0 if start and end else 0.0,
                "stages": [],
            }
            for sid in jd.stageIds().mkString(",").split(","):
                if sid and int(sid) not in self._seen_stages:
                    stage = self._stage(int(sid))
                    if stage is not None:
                        self._seen_stages.add(int(sid))
                        job["stages"].append(stage)
            out.append(job)
        return out

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage never submitted (skipped)
            return None
        if sd.status().toString() != "COMPLETE":
            return None
        return {
            "id": sid,
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }


def cpu_shares() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (same method as bench.py)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    if len(delta) < 8 or total <= 0:
        return None
    return 100.0 * delta[7] / total


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's VmHWM so it covers only what follows."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    return proc.pid if proc is not None else None


def git_commit(root: str) -> str | None:
    """HEAD's commit id, read from ``.git`` without running git."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None
