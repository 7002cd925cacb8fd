"""Per-layer collectors: everything the traced run reads besides its clocks.

All of it comes from Spark's own status stores and from ``/proc``, never
from inside the program:

- jobs of one unit of work: the job group it ran under
  (``statusTracker().getJobIdsForGroup``);
- stage metrics: ``AppStatusStore.stageList`` (its 5-argument form on
  Spark 4.1), which is populated with the UI off;
- plan node counts: the SQL status store's plan graph of every SQL
  execution a unit of work ran;
- driver JVM peak RSS, CPU of the JVM (its JIT compiler threads apart) and
  its Python workers, host CPU steal:
  ``/proc/<pid>/status``, ``/proc/<pid>/stat`` of the JVM and its
  descendants, and ``/proc/stat``.

It also lists the processes under a pid, so that a run can wait until each
has ended.
"""

from __future__ import annotations

import os
from collections import Counter

STAGE_FIELDS = ("input_bytes", "shuffle_write_bytes", "spill_bytes", "executor_cpu_s", "gc_s")

#: Physical operators that run Python code (UDF evaluation) in a worker.
PYTHON_EVAL = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowWindowPython",
        "ArrowAggregatePython",
        "BatchEvalPythonUDTF",
        "ArrowEvalPythonUDTF",
    }
)


class StatusReader:
    """Reads one session's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._stages: dict[int, dict[str, float]] = {}

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def refresh(self) -> None:
        """Snapshot metrics of every completed stage attempt, once the
        listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        gw = self.sc._gateway
        seq = self._jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        stages: dict[int, dict[str, float]] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages did no work; active ones are partial
            m = stages.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0.0))
            m["input_bytes"] += s.inputBytes()
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.diskBytesSpilled()
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
        self._stages = stages

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        """Jobs, completed stages and summed stage metrics of ``job_ids``.
        Call :meth:`refresh` after the jobs finished."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(s for s in info.stageIds if s in self._stages)
        out = {"jobs": float(len(job_ids)), "stages": float(len(stage_ids))}
        for f in STAGE_FIELDS:
            out[f] = sum(self._stages[s][f] for s in stage_ids)
        return out


def plan_nodes(spark, description: str) -> Counter:
    """Operator names over every SQL execution run under the job
    ``description``, each in its final adaptive plan as the SQL status store
    holds it. A query that pins a phase with ``localCheckpoint`` runs that
    phase as an execution of its own, so the phase's operators count here,
    whereas the returned DataFrame's plan shows it as one ``Scan ExistingRDD``.
    Call after :meth:`StatusReader.refresh`."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    names: Counter = Counter()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() != description:
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        names.update(nodes.apply(j).name() for j in range(nodes.size()))
    return names


def node_counts(names: Counter) -> dict[str, float]:
    return {
        "exchanges": float(names["Exchange"] + names["BroadcastExchange"]),
        "smj": float(names["SortMergeJoin"]),
        "bhj": float(names["BroadcastHashJoin"]),
        "bnlj": float(names["BroadcastNestedLoopJoin"]),
        "python_eval_nodes": float(sum(names[n] for n in PYTHON_EVAL)),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+system CPU seconds of the process and its reaped
    children), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks() -> tuple[int, int]:
    """(all CPU ticks, ticks stolen by the hypervisor) since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. Exact only
    while no compiler thread exits: run the JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # The kernel keeps 15 characters of "C2 CompilerThread0".
        if raw[raw.index("(") + 1 : raw.rindex(")")] in ("C1 CompilerThre", "C2 CompilerThre"):
            fields = raw[raw.rindex(")") + 2 :].split()
            total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def program_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM (every thread, and children
    it reaped) and its live descendants, the Python workers, less the JIT
    compiler threads: compiling is JVM warm-up, more than half of the JVM's
    CPU in a run this short, and its share varies from run to run."""
    return _stat(jvm_pid)[1] - jit_cpu_s(jvm_pid) + descendant_cpu_s(jvm_pid)


def _start_and_state(pid: int) -> tuple[str, str] | None:
    """(start time since boot in ticks, state letter) of ``pid``, or None if
    it is gone. The start time tells a process from a later one that
    reuses its pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return fields[19], fields[0]


def descendants(root_pid: int) -> dict[int, str]:
    """Every live descendant of ``root_pid``, with its start time."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = st[0]
    out = {}
    for pid in parent:
        p = parent[pid]
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            st = _start_and_state(pid)
            if st is not None:
                out[pid] = st[0]
    return out


def running(procs: dict[int, str]) -> dict[int, str]:
    """The processes of ``procs`` (pid -> start time) that have not ended; a
    zombie has ended."""
    out = {}
    for pid, start in procs.items():
        st = _start_and_state(pid)
        if st is not None and st[0] == start and st[1] != "Z":
            out[pid] = start
    return out


def descendant_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by every live descendant of ``root_pid``
    (the JVM's Python worker daemon and its workers), including workers
    that already exited and were reaped by their parent."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)], cpu[int(entry)] = st
    total = 0.0
    for pid in parent:
        p = parent[pid]
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += cpu[pid]
    return total
