"""Outside-in probes of a running Spark driver: process memory from
``/proc``, a single-core CPU calibration loop, per-stage executor metrics
from Spark's status store, Catalyst phase times, and cache residue.

Everything here reads public (or JVM-public) Spark state through py4j; the
engine under test is never modified.
"""

from __future__ import annotations

import os
import time

_MB = 1024 * 1024


def cpu_probe(n: int = 4_000_000) -> float:
    """A fixed single-core Python loop, timed (the same calibration idea as
    ``bench.py``'s ``_cpu_probe``, at a fifth of its length)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # field 4, after the parenthesised command name (which may hold spaces)
    return int(stat[stat.rindex(")") + 2:].split()[1])


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _ppid(entry)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident memory (MB) of the driver Python process and of its
    JVM (VmHWM each), and the proportional share (Pss) of the Python workers
    the JVM forked.  Forked workers share most of their pages, so summing
    their RSS would count those pages once per worker and move with the
    number of idle workers rather than with memory use; workers are reused
    for the whole run, so their share at the end is their peak."""
    root = root if root is not None else os.getpid()
    pids = process_tree(root)
    jvm = [p for p in pids if _ppid(str(p)) == root]
    own = [root] + jvm
    workers = [p for p in pids if p not in own]
    return {
        "driver": _status_kb(root, "VmHWM:") / 1024.0,
        "jvm": sum(_status_kb(p, "VmHWM:") for p in jvm) / 1024.0,
        "workers": sum(_pss_kb(p) for p in workers) / 1024.0,
        "n_workers": len(workers),
    }


class StageCursor:
    """Reads the stages that ran since the previous call, from
    ``statusStore().stageList`` (the 5-argument form is the one py4j can
    resolve).  The list comes newest stage first, so a read stops at the
    first stage it has already seen."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen = self._max_id()

    def _stage_list(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _max_id(self) -> int:
        stages = self._stage_list()
        return stages.apply(0).stageId() if stages.size() else -1

    def new_stages(self) -> dict:
        """Totals over the stages submitted since the last call."""
        stages = self._stage_list()
        tot = dict(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, deserialize_s=0.0,
                   gc_s=0.0, input_mb=0.0, shuffle_read_mb=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, first_stage_tasks=0)
        first = None
        newest = self._seen
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._seen:
                break
            newest = max(newest, sid)
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["deserialize_s"] += st.executorDeserializeTime() / 1e3
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["input_mb"] += st.inputBytes() / _MB
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            if first is None or sid < first:
                first = sid
                tot["first_stage_tasks"] = st.numTasks()
        self._seen = newest
        return tot


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of ``df``'s own QueryExecution.  Forcing
    ``executedPlan()`` is needed: a noop write plans a separate command, so
    without it only ``analysis`` is recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            summary = kv._2()
            out[kv._1()] = (summary.endTimeMs() - summary.startTimeMs()) / 1e3
    return out


def cached_tables(spark) -> int:
    """CacheManager entries (``cache()``/``persist()`` of DataFrames)."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def persistent_rdds(spark) -> set[int]:
    """Ids of RDDs held persisted, ``localCheckpoint`` ones included, which
    ``clearCache()`` does not release."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
