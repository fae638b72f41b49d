"""Counters read from outside the engine.

* Process CPU time and peak memory, from /proc, for a process and its
  descendants (the Python driver and the JVM it launched).
* py4j round-trips, by wrapping the client's `send_command`.
* Spark's own counters: job ids, per-stage task metrics from the
  in-process status store, and Janino compiles from `CodegenMetrics`.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields after the command name (state is [0])."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started (exec keeps the start time)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def tree(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User plus system CPU seconds of `root` and its descendants,
    including children they have already reaped."""
    ticks = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sizes of `root` and its JVM."""
    kb = _hwm_kb(root) + sum(_hwm_kb(p) for p in tree(root)[1:] if _comm(p) == "java")
    return kb / 1024.0


class Py4jCounter:
    """Counts py4j commands sent to the JVM, from every thread. The
    commands that release a JVM object when its Python proxy is
    collected are left out: when they are sent depends on the garbage
    collector, not on the code that built the plan."""

    def __init__(self):
        self.n = 0
        self._lock = threading.Lock()
        self._saved: list = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway, protocol

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *args, _orig=orig, **kwargs):
                if not command.startswith(release):
                    with self._lock:
                        self.n += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = counted
            self._saved.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class SparkCounters:
    """Job, stage, task and codegen counters of one SparkContext.

    Jobs are counted by deltas of the scheduler's job-id counter, since
    the status tracker's lists keep only the retained jobs. `since(mark)` sums the metrics of the stages
    of every job started after `mark` was taken."""

    STAGE_FIELDS = (
        "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
        "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._task_status = getattr(self.store, "stageData$default$3")()
        self._quantiles = getattr(self.store, "stageData$default$5")()

    def last_job(self) -> int:
        """Id of the latest job submitted (-1 before the first)."""
        return self._dag.numTotalJobs() - 1

    def codegen_totals(self) -> tuple[int, float]:
        """(compiles, compile ms) since the JVM started. The ms come from
        the histogram's reservoir, which holds every sample up to 1028
        compiles; past that they are estimated as count × mean."""
        h = self.codegen.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        n = h.getCount()
        ms = float(sum(snap.getValues())) if n <= snap.size() else n * snap.getMean()
        return n, ms

    def mark(self) -> dict:
        n, ms = self.codegen_totals()
        return {"job": self.last_job(), "compiles": n, "compile_ms": ms}

    def since(self, mark: dict) -> dict:
        """Counters accumulated since `mark`."""
        last = self.last_job()
        out = {"jobs": last - mark["job"], "stages": 0, "tasks": 0}
        out.update((f, 0) for f in self.STAGE_FIELDS)
        seen = set()
        for job in range(mark["job"] + 1, last + 1):
            ids = self.store.job(job).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, self._task_status, False, self._quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    for f in self.STAGE_FIELDS:
                        out[f] += getattr(st, f)()
        n, ms = self.codegen_totals()
        out["compiles"] = n - mark["compiles"]
        out["compile_ms"] = ms - mark["compile_ms"]
        return out


def add(total: dict, part: dict) -> dict:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
    return total


def layer_metrics(c: dict, ops: int) -> dict:
    """Per-op execution-layer metrics from summed `SparkCounters.since`
    records (times in ms, sizes in bytes)."""
    per = lambda v: v / max(ops, 1)  # noqa: E731
    return {
        "exec.jobs_per_op": per(c.get("jobs", 0)),
        "exec.stages_per_op": per(c.get("stages", 0)),
        "exec.tasks_per_op": per(c.get("tasks", 0)),
        "exec.executor_run_ms_per_op": per(c.get("executorRunTime", 0)),
        "exec.executor_cpu_ms_per_op": per(c.get("executorCpuTime", 0)) / 1e6,
        "exec.gc_ms_per_op": per(c.get("jvmGcTime", 0)),
        "exec.input_bytes_per_op": per(c.get("inputBytes", 0)),
        "exec.shuffle_read_bytes_per_op": per(c.get("shuffleReadBytes", 0)),
        "exec.shuffle_write_bytes_per_op": per(c.get("shuffleWriteBytes", 0)),
        "exec.spill_bytes_per_op": per(c.get("memoryBytesSpilled", 0) + c.get("diskBytesSpilled", 0)),
        "codegen.compiles_per_op": per(c.get("compiles", 0)),
        "codegen.ms_per_op": per(c.get("compile_ms", 0)),
    }
