"""Measurement probes the benchmark takes from outside the program.

* ``ProcessTree`` reads the accumulated CPU time of this process and every
  descendant (the Spark JVM and its Python workers) at span boundaries, and,
  once started, samples the tree's memory (PSS) on a background thread.
* ``stage_counters`` reads Spark's status store for the jobs of one job
  group: CPU and run time, shuffle bytes, spill and task-time spread.
* ``Tracer`` keeps spans in memory and writes them out once, at the end.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int):
    """(ppid, cpu ticks incl. reaped children) or None once the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    fields = raw[raw.rfind(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon) count once across the tree, split among
    their sharers, where summed RSS would count them in every process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """Peak memory (PSS) and CPU seconds of the process tree rooted here."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _tree(self) -> dict[int, tuple[int, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def pids(self) -> list[int]:
        return list(self._tree())

    def cpu_s(self) -> float:
        return sum(cpu for _, cpu in self._tree().values()) / _TICK

    def sample(self) -> None:
        pss = sum(_pss_bytes(pid) for pid in self._tree())
        self.peak_pss = max(self.peak_pss, pss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "ProcessTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def stage_counters(spark, group: str) -> dict:
    """Status-store counters summed over every stage the group's jobs ran.

    ``task_ms`` is the min/median/max task run time of the group's busiest
    stage (by total run time): the skew signal of the step that dominates."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 3)
    quantiles[0], quantiles[1], quantiles[2] = 0.0, 0.5, 1.0
    out = {"jobs": 0, "stages": 0, "run_ms": 0, "jvm_cpu_ms": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_ms": [0.0, 0.0, 0.0]}
    busiest = None
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            continue
        if str(st.status()) != "COMPLETE":
            continue
        out["stages"] += 1
        out["run_ms"] += st.executorRunTime()
        out["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if busiest is None or st.executorRunTime() > busiest[1]:
            busiest = (st, st.executorRunTime())
    if busiest is not None:
        summary = store.taskSummary(busiest[0].stageId(), busiest[0].attemptId(), quantiles)
        if summary.isDefined():
            out["task_ms"] = [float(x) for x in _seq(summary.get().executorRunTime())]
    return out


class Tracer:
    """Spans at the layer boundaries the benchmark calls into.

    Each span runs its body under its own Spark job group, so the status
    store attributes jobs to it, and records wall time, process-tree CPU and
    the group's stage counters.  Spans of one operation share ``op``."""

    def __init__(self, spark, tree: ProcessTree):
        self.spark = spark
        self.tree = tree
        self.spans: list[dict] = []
        self._n = 0

    def span(self, name: str, fn, op: str):
        """Run ``fn()`` as span ``name``; returns (result, span record)."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        sc.setJobGroup(group, name)
        cpu0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            cpu1 = self.tree.cpu_s()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec = {"name": name, "op": op, "start": t0, "end": t1,
               "wall_s": t1 - t0, "cpu_s": cpu1 - cpu0,
               "counters": stage_counters(self.spark, group)}
        self.spans.append(rec)
        return result, rec

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
