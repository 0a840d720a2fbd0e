"""Layer accounting from outside the program: spans and job-group reads.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them out when the run ends. ``JobReader`` reads one job group's
jobs and stages from Spark's status store right after the op that ran
them. Reads are scoped by job group and never diff global counters, so
no count can go negative once the store has dropped old stages
(``spark.ui.retainedStages``).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError


def median(values) -> float:
    """Median of ``values``; 0.0 when there are none."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def traced_slot(i: int) -> bool:
    """Whether the ``i``-th timed pass or round of a traced run is traced:
    the pattern traced, untraced, untraced, traced repeats, so over every
    four the traced and untraced slots sit equally early on average and
    warm-up drift does not bias the overhead."""
    return i % 4 in (0, 3)


def paired_overhead(ops: list[dict], key: str) -> float | None:
    """Tracing overhead on a like-for-like mix: for each ``key`` value
    (a query, or an op class) with traced and untraced ops, the median
    traced latency minus the median untraced latency; the median of
    those differences. None when no value has both."""
    groups: dict[str, tuple[list[float], list[float]]] = {}
    for op in ops:
        traced, untraced = groups.setdefault(op[key], ([], []))
        (traced if op.get("traced") else untraced).append(op["latency_s"])
    diffs = [median(t) - median(u) for t, u in groups.values() if t and u]
    return median(diffs) if diffs else None


class Tracer:
    """In-memory spans. A disabled tracer records nothing and costs one
    attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": op,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, obj, method: str, name: str, op_of) -> None:
        """Replace ``obj.method`` with a version that records a span whose
        op id is ``op_of(*args, **kwargs)``."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name, op_of(*args, **kwargs)):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _opt(value):
    return value.get() if value.isDefined() else None


class JobReader:
    """Per-job-group job and stage totals from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm = self.sc._jvm
        self._no_status = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the status listener has seen every finished event."""
        self.bus.waitUntilEmpty()

    def read(self, group: str) -> dict:
        """Jobs and completed stages of ``group``. Call ``drain`` first."""
        out = {
            "jobs": 0, "stages": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_names": [], "job_s": [], "span_s": 0.0,
            "missing_stages": 0,
        }
        first = last = None
        stage_ids: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out["jobs"] += 1
            out["job_names"].append(job.name())
            sub, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub and end:
                out["job_s"].append((end.getTime() - sub.getTime()) / 1000.0)
                first = min(first or sub.getTime(), sub.getTime())
                last = max(last or end.getTime(), end.getTime())
            else:
                out["job_s"].append(0.0)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        if first is not None:
            out["span_s"] = (last - first) / 1000.0
        for stage_id in sorted(stage_ids):
            try:
                attempts = self.store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles
                )
            except Py4JJavaError:
                # evicted from the store (retainedStages): counted, never
                # guessed
                out["missing_stages"] += 1
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out
