"""Job and stage counters from the driver JVM's status store, plus the
driver's peak resident memory. Read once, after the workload, so the
reads cost nothing inside any timed operation. Also the CPU seconds of
this process tree, read around each operation."""

from __future__ import annotations

import json
import os

from tracer import Job, StageStats


def _as_json(spark, value) -> list:
    """Serialize a status-store result JVM-side (the same Jackson +
    Scala-module mapping Spark's REST API uses) and parse it here: one
    py4j round trip instead of one per field."""
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    return json.loads(mapper.writeValueAsString(value))


def read(spark) -> tuple[list[Job], dict[int, StageStats]]:
    """All retained jobs (with submission and completion times in epoch
    seconds) and per-stage sums over every stage attempt."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the store has seen every event
    store = sc.statusStore()
    jobs = []
    for j in _as_json(spark, store.jobsList(None)):
        if j.get("submissionTime") is None:
            continue
        submit = j["submissionTime"] / 1000.0
        done = (j.get("completionTime") or j["submissionTime"]) / 1000.0
        jobs.append(Job(int(j["jobId"]), submit, done,
                        [int(s) for s in j["stageIds"]]))
    quantiles = getattr(store, "stageList$default$4")()
    stages: dict[int, StageStats] = {}
    for s in _as_json(spark, store.stageList(None, False, False, quantiles,
                                             None)):
        st = stages.setdefault(int(s["stageId"]), StageStats())
        st.tasks += (s["numCompleteTasks"] + s["numFailedTasks"]
                     + s["numKilledTasks"])
        st.failed_tasks += s["numFailedTasks"]
        st.run_ms += s["executorRunTime"]
        st.shuffle_write_bytes += s["shuffleWriteBytes"]
        st.spill_disk_bytes += s["diskBytesSpilled"]
    jobs.sort(key=lambda j: j.jid)
    return jobs, stages


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Kernel peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this (driver) Python process."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(jvm) + vm_hwm_mb(os.getpid())


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every live descendant, each with its reaped children's. The tree is
    the whole engine: pyspark's driver JVM is a child of this process,
    and the Python worker daemon a child of the JVM. Time the hypervisor
    steals from the host is not CPU time, so on a shared host this moves
    far less than wall time does."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # fields after the parenthesised command: state ppid ... utime(14)
        # stime(15) cutime(16) cstime(17), counting from 1 at pid
        f = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK
