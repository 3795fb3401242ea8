"""Readings taken from outside the program: Spark's status store per job
group, its block-manager storage, streaming progress, and from ``/proc``
the Spark JVM's peak resident memory and its Python workers' CPU time.

Nothing here changes how the program runs: a job group is a thread-local
tag on the jobs the program starts, and the other readings are queries
against state Spark keeps anyway (the status store is populated with the
UI disabled)."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6

# Per-stage fields summed over a job group's stages.
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",  # ns in the store; scaled below
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "gc_ms": "jvmGcTime",
    "failed_tasks": "numFailedTasks",
}


class SparkProbe:
    """Status-store, storage and process readings for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._seq = 0

    # -- job groups ----------------------------------------------------------
    @contextmanager
    def group(self, prefix: str):
        """Run the body's Spark jobs under a fresh job group; yields its id."""
        self._seq += 1
        gid = f"{prefix}-{self._seq}"
        self.sc.setJobGroup(gid, prefix)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def drain_events(self, gids: list[str]) -> None:
        """Wait until the status store shows every job of ``gids`` ended
        (a job's end event can be posted after its action returned) and
        the listener bus has delivered every event."""
        store = self._jsc.statusStore()
        jobs = [j for g in gids for j in self.sc.statusTracker().getJobIdsForGroup(g)]
        deadline = time.monotonic() + 10
        while True:
            self._jsc.listenerBus().waitUntilEmpty()
            running = [j for j in jobs if str(store.job(j).status()) == "RUNNING"]
            if not running or time.monotonic() > deadline:
                return
            time.sleep(0.005)

    def group_metrics(self, gid: str) -> dict:
        """Jobs, stages, tasks and summed stage metrics of one job group."""
        store = self._jsc.statusStore()
        gateway = self.sc._gateway
        out = {"jobs": 0, "stages": 0, "skipped_stages": 0, "tasks": 0, "failed_jobs": 0,
               **{k: 0 for k in _STAGE_FIELDS}, "spill_bytes": 0}
        no_quantiles = gateway.new_array(self._jvm.double, 0)
        statuses = self._jvm.java.util.ArrayList()
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = store.job(jid)
            out["jobs"] += 1
            out["skipped_stages"] += job.numSkippedStages()
            out["failed_jobs"] += int(str(job.status()) == "FAILED")
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                out["stages"] += 1
                if sid in seen:
                    continue
                seen.add(sid)
                datas = store.stageData(sid, False, statuses, False, no_quantiles)
                for j in range(datas.size()):
                    st = datas.apply(j)
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    for k, attr in _STAGE_FIELDS.items():
                        out[k] += getattr(st, attr)()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["cpu_ms"] = out["cpu_ms"] / 1e6
        return out

    # -- storage -------------------------------------------------------------
    def storage(self) -> tuple[int, float]:
        """(cached RDD entries, MB held in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB

    # -- process -------------------------------------------------------------
    def python_cpu_ms(self) -> float:
        """CPU time used so far by the JVM's Python workers: every process
        descended from the JVM, with the time of children already reaped."""
        jvm = self.sc._gateway.proc.pid
        parent, ticks = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended meanwhile
            pid = int(name)
            parent[pid] = int(f[1])
            ticks[pid] = sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
        total = 0
        for pid, t in ticks.items():
            p = parent[pid]
            while p > 1 and p != jvm:
                p = parent.get(p, 0)
            if p == jvm:
                total += t
        return total * 1e3 / os.sysconf("SC_CLK_TCK")

    def jvm_peak_rss_mb(self) -> float:
        """``VmHWM`` (peak resident set) of the Spark JVM."""
        with open(f"/proc/{self.sc._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
        raise RuntimeError("VmHWM missing from /proc status")


class StreamingProgress(StreamingQueryListener):
    """Collects every micro-batch's progress of the streaming drains."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        row = {
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self.lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self.lock:
            out, self.batches = self.batches, []
        return out
