"""Spans and per-layer counters recorded from outside the program.

With tracing off, :class:`Tracer` is a set of no-op context managers, so the
end-to-end timings pay (almost) nothing.  With tracing on it records:

- a span per operation (one id per query or wire operation) and a child span
  per layer boundary the benchmark wraps (``entry.build``, ``exec.sink`` ...);
- per-stage executor metrics for the stages each span started, read from
  Spark's status store;
- the WARN lines the JVM and Python workers wrote to fd 2 during each
  operation (fd 2 points at a log file before the JVM starts, see
  :class:`LogTap`).

The tracer's own cost is not subtracted anywhere: ``run.py`` reports it as
the traced minus the untraced latency of the same operations.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import re
import time

from sysprobe import StageCursor

_WARN = re.compile(rb" WARN (\S+): (.*)")
# numbers and UUIDs, so that one kind of warning keys one kind
_VARYING = re.compile(r"\b[0-9a-f]{8}-[0-9a-f-]{27}\b|\b[0-9]+\b")


class LogTap:
    """Points fd 2 at ``path`` (append mode) so that the JVM and its Python
    workers, which inherit fd 2, log into a file the benchmark can slice
    per operation.  :meth:`restore` puts the original fd 2 back."""

    def __init__(self, path: str):
        self.path = path
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        self._saved = os.dup(2)
        os.dup2(fd, 2)
        os.close(fd)

    def mark(self) -> int:
        return os.fstat(2).st_size

    def read(self, start: int, end: int) -> bytes:
        with open(self.path, "rb") as f:
            f.seek(start)
            return f.read(end - start)

    def tail(self, n: int = 40) -> str:
        with open(self.path, "rb") as f:
            f.seek(max(0, os.fstat(f.fileno()).st_size - 16384))
            lines = f.read().decode("utf-8", "replace").splitlines()
        return "\n".join(lines[-n:])

    def restore(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)


def warn_kinds(blob: bytes) -> collections.Counter:
    """WARN lines keyed by logger and the first words of the message."""
    kinds: collections.Counter = collections.Counter()
    for line in blob.splitlines():
        m = _WARN.search(line)
        if m:
            msg = " ".join(m.group(2).decode("utf-8", "replace").split()[:6])
            kinds[f"{m.group(1).decode()}: {_VARYING.sub('N', msg)}"] += 1
    return kinds


class Tracer:
    """No-op unless ``enabled``; see the module docstring."""

    def __init__(self, spark=None, enabled: bool = False, log: LogTap | None = None,
                 nproc: int = 1):
        self.enabled = enabled
        self.spark = spark
        self.log = log
        self.nproc = nproc
        self.totals: collections.Counter = collections.Counter()
        self.spans: list[dict] = []
        self.warn_kinds: collections.Counter = collections.Counter()
        self.warn_by_op: collections.Counter = collections.Counter()
        self.residue_by_op: collections.Counter = collections.Counter()
        self.ops = 0
        self._op_id: int | None = None
        self._op_name = ""
        self._first_stage_tasks = 0
        self._groups: list[str] = []
        self._t0 = time.perf_counter()
        self._cursor = None

    def begin(self) -> None:
        """Start recording: later stages and spans belong to timed
        operations."""
        if self.enabled:
            self._t0 = time.perf_counter()
            self._cursor = StageCursor(self.spark)

    # -- recording ---------------------------------------------------------
    def _span_record(self, name: str, start: float, end: float, parent) -> None:
        self.spans.append({
            "op": self._op_id, "op_name": self._op_name, "name": name,
            "start": round(start - self._t0, 6), "end": round(end - self._t0, 6),
            "parent": parent,
        })

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.totals[name] += value

    def first_stage_tasks(self) -> int:
        return self._first_stage_tasks

    def _take_stages(self, idle_wall: float | None) -> None:
        st = self._cursor.new_stages()
        for k in ("run_s", "cpu_s", "deserialize_s", "gc_s", "stages", "tasks"):
            self.totals[f"exec.{k}"] += st[k]
        self.totals["shuffle.read_mb"] += st["shuffle_read_mb"]
        self.totals["shuffle.write_mb"] += st["shuffle_write_mb"]
        self.totals["shuffle.spill_mb"] += st["spill_mb"]
        self.totals["exec.input_mb"] += st["input_mb"]
        if st["first_stage_tasks"]:
            self._first_stage_tasks = st["first_stage_tasks"]
        if idle_wall is not None:
            self.totals["exec.idle_slot_s"] += max(
                0.0, idle_wall * self.nproc - st["run_s"])

    @contextlib.contextmanager
    def op(self, name: str):
        """One operation (a query run or a wire round)."""
        if not self.enabled:
            yield
            return
        self._op_id = self.ops
        self._op_name = name
        self._groups = [f"op{self._op_id}"]
        sc = self.spark.sparkContext
        sc.setJobGroup(self._groups[0], name)
        mark = self.log.mark() if self.log else 0
        t = time.perf_counter()
        try:
            yield
        finally:
            self._take_stages(None)  # stages no child span claimed
            self._span_record(name, t, time.perf_counter(), None)
            tracker = sc.statusTracker()
            self.totals["exec.jobs"] += sum(
                len(tracker.getJobIdsForGroup(g)) for g in self._groups)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            if self.log:
                kinds = warn_kinds(self.log.read(mark, self.log.mark()))
                n = sum(kinds.values())
                self.warn_kinds.update(kinds)
                self.warn_by_op[name] += n
                self.totals["log.warn_lines"] += n
            self.ops += 1
            self._op_id = None

    @contextlib.contextmanager
    def span(self, name: str, stages: bool = False, idle: bool = False,
             group: bool = False):
        """A layer boundary inside the current operation.  ``stages``
        attributes the Spark stages started inside it (and resets
        :meth:`first_stage_tasks`); ``idle`` also charges
        ``exec.idle_slot_s`` = wall x nproc - executor run time; ``group``
        runs it under its own Spark job group and counts its jobs as
        ``<name>_jobs``.  Every job of the operation counts in
        ``exec.jobs``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        gid = None
        if stages:
            self._first_stage_tasks = 0
        if group:
            gid = f"op{self._op_id}.{name}.{len(self._groups)}"
            self._groups.append(gid)
            sc.setJobGroup(gid, self._op_name)
        t = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.totals[f"{name}_s"] += end - t
            self._span_record(name, t, end, self._op_id)
            if stages:
                self._take_stages(end - t if idle else None)
            if gid is not None:
                self.totals[f"{name}_jobs"] += len(
                    sc.statusTracker().getJobIdsForGroup(gid))
                sc.setJobGroup(self._groups[0], self._op_name)

    def note_residue(self, n: int) -> None:
        self.totals["cache.residue"] += n
        if n:
            self.residue_by_op[self._op_name] += n

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
