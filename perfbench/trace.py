"""Timing helpers: the tail-percentile rule, in-memory spans, and Spark's
own job/stage counters read back by job-id window.

Spans are recorded by the benchmark around its calls into each layer of
the program (never inside the program).  Spark counters come from the
driver's status store, which is populated with ``spark.ui.enabled=false``
too.  Jobs are attributed to an op by job-id window — every job whose id
lies between the ids seen before and after the op — because jobs started
from the program's own writer threads carry no job group.  With one
client in the process, windows never overlap.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest of the percentiles 50, 75, 90, 95 and 99 that leaves at
    least ``beyond`` of ``n`` samples above it, or None when even the
    median does not."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if n - math.ceil(n * p / 100) >= beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (p in 0..100)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(len(s) * p / 100))
    return s[rank - 1]


def summarize(values) -> dict:
    """Median, the supported tail percentile and the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None and p > 50:
        out[f"p{p}"] = percentile(values, p)
    return out


class Tracer:
    """In-memory spans.  Each span has a name, start, end, parent span
    and the id of the op it belongs to; ``enabled=False`` makes
    ``span`` a no-op so untraced passes pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(with_self_time(self.spans), fh)


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self_s``: duration minus the part of the
    interval its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        dur = s["end"] - s["start"]
        out.append({**s, "dur_s": dur, "self_s": dur - covered})
    return out


class SparkCounters:
    """Reads per-job and per-stage counters from the driver's status
    store for a window of job ids."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        """Id the next submitted job will get (job ids are sequential)."""
        return self._sc.dagScheduler().numTotalJobs()

    def window(self, first: int, stop: int) -> dict:
        """Counters summed over jobs ``first <= id < stop``; each stage
        is counted once even when several jobs list it."""
        # The status store is fed by the listener bus, asynchronously.
        self._sc.listenerBus().waitUntilEmpty(30_000)
        c = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "task_s",
             "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0.0)
        seen: set[int] = set()
        for jid in range(first, stop):
            c["jobs"] += 1
            sids = self._store.job(jid).stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                c["stages"] += 1
                if st.status().toString() == "SKIPPED":
                    c["stages_skipped"] += 1
                    continue
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["tasks_failed"] += st.numFailedTasks()
                c["task_s"] += st.executorRunTime() / 1000.0
                c["gc_s"] += st.jvmGcTime() / 1000.0
                c["input_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
        return c
