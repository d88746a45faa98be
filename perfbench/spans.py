"""Spans around engine calls, with Spark counters collected by stage
time window.

A span records wall seconds plus the counters of every Spark stage
*submitted* between its start and end, read from the JVM
``AppStatusStore`` after the listener bus has drained, between
operations, so reading them does not slow the traced work.  Selecting
stages by time window rather than by job group catches work that a
job-group scope misses: lazily ``localCheckpoint``ed tiers and
adaptive-execution map stages, whose stage metrics land in the store
asynchronously.  The benchmark drives one closed-loop client, so every
stage submitted inside a span belongs to it.

Spans are kept in memory and written out when the benchmark ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Any, Iterator

from py4j.protocol import Py4JJavaError

# Counters every Spark-backed span reports (see ``Tracer.span``).
SPARK_COUNTERS = (
    "s", "jobs", "stages", "tasks", "core_s", "idle_slot_s",
    "shuffle_bytes", "spill_bytes",
)


def _ms(opt: Any) -> int | None:
    """Epoch millis of a py4j scala ``Option[Date]``, or None."""
    return opt.get().getTime() if opt.isDefined() else None


class StageWindow:
    """Reads per-stage counters for stages submitted in a time window."""

    def __init__(self, spark: Any):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self._seen: set[tuple[int, int]] = set()  # (stage id, attempt)

    def assign(self, spans: list[dict[str, Any]]) -> None:
        """Add to each span the counters of the jobs and stages submitted
        between its ``start`` and ``end`` (epoch seconds)."""
        self._bus.waitUntilEmpty()
        windows = [(int(r["start"] * 1000) - 1, int(r["end"] * 1000) + 1, r) for r in spans]
        for r in spans:
            r.update(dict.fromkeys(
                ("jobs", "stages", "tasks", "core_s", "shuffle_bytes", "spill_bytes"), 0
            ))

        def owner(ms: int | None) -> dict[str, Any] | None:
            for lo, hi, r in windows:
                if ms is not None and lo <= ms <= hi:
                    return r
            return None

        # job ids are dense; walk them from the last one read, so jobs
        # run under any job group are read too
        last_ungrouped = max(self._tracker.getJobIdsForGroup(None), default=-1)
        jid = self._next_job
        while True:
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:
                if jid > last_ungrouped:
                    break
                jid += 1  # an id the store never saw
                continue
            r = owner(_ms(jd.submissionTime()))
            if r is not None:
                r["jobs"] += 1
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: its exchange was reused
                key = (sid, sd.attemptId())
                r = owner(_ms(sd.submissionTime()))
                if key in self._seen or r is None:
                    continue
                self._seen.add(key)
                r["stages"] += 1
                r["tasks"] += sd.numCompleteTasks()
                r["core_s"] += sd.executorRunTime() / 1000.0
                r["shuffle_bytes"] += sd.shuffleWriteBytes()
                r["spill_bytes"] += sd.diskBytesSpilled()
            jid += 1
        self._next_job = jid


class Tracer:
    """Records named spans; a disabled tracer only runs the body.

    Spans do not nest.  ``op`` names the operation (a pass or a
    refresh cycle, or ``None`` for set-up and probes) that the next
    spans belong to, so a pass's spans share one identifier."""

    def __init__(self, slots: int, enabled: bool):
        self.enabled = enabled
        self.slots = slots
        self.op: int | None = None
        self.spans: list[dict[str, Any]] = []
        self._window: StageWindow | None = None
        self._open = False
        self._unread: list[dict[str, Any]] = []

    def attach(self, spark: Any) -> None:
        """Start reading stage counters; a span opened before the session
        existed still gets the counters of the stages inside it."""
        if self.enabled and self._window is None:
            self._window = StageWindow(spark)

    @contextmanager
    def span(self, name: str, spark_side: bool = True) -> Iterator[dict]:
        """Time the body.  ``spark_side=False`` marks in-process numpy
        work, which gets wall seconds but no Spark counters.  Counters
        are read later, by ``flush``, so reading them costs the traced
        work nothing."""
        rec: dict[str, Any] = {"name": name, "op": self.op}
        if not self.enabled:
            yield rec
            return
        if self._open:
            raise RuntimeError(f"span {name!r} opened inside another span")
        self._open = True
        rec["start"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - p0
            rec["end"] = time.time()
            self._open = False
            self.spans.append(rec)
            if spark_side:
                self._unread.append(rec)

    def flush(self) -> None:
        """Read the Spark counters of every span closed since the last
        flush (call between operations, outside their timing)."""
        if not self._unread or self._window is None:
            return
        self._window.assign(self._unread)
        for rec in self._unread:
            rec["idle_slot_s"] = rec["s"] * self.slots - rec["core_s"]
        self._unread = []
