"""Operation spans and Spark job metrics, recorded from outside the package.

Every benchmark operation is an ``op`` span whose children are spans the
benchmark opens around its calls into the package (``registry.build``,
``catalyst.plan``, ``sheet_ingest.compile``, ...). With tracing on, each
operation also runs in its own Spark job group; when it ends, its jobs
and their stages are read back from the application status store (the
same data the Spark UI shows, kept with ``spark.ui.enabled=false``).

Self time: a child span's self time is its duration minus the part that
Spark jobs cover; the jobs' covered time (the union of their intervals)
is the ``spark.jobs`` layer, and whatever is left of the operation's
latency is ``driver.unattributed``. Per operation the layers therefore
sum to the latency by construction. What :func:`layer_table` checks is
that no layer is negative: spans and job intervals, measured apart from
the operation's own clock, must fit inside its latency.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

# Stage metrics summed per operation: (status-store getter, output key, scale).
_STAGE_METRICS = (
    ("executorRunTime", "executor.run_ms", 1.0),
    ("executorCpuTime", "executor.cpu_ms", 1e-6),
    ("jvmGcTime", "executor.gc_ms", 1.0),
    ("inputBytes", "executor.input_bytes", 1.0),
    ("shuffleWriteBytes", "shuffle.write_bytes", 1.0),
    ("shuffleReadBytes", "shuffle.read_bytes", 1.0),
    ("diskBytesSpilled", "shuffle.spill_bytes", 1.0),
)


def _ms(opt) -> float | None:
    """Epoch seconds of a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(lo: float, hi: float, merged: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the disjoint intervals ``merged``."""
    return sum(max(0.0, min(hi, b) - max(lo, a)) for a, b in merged)


class Tracer:
    """Records one dict per operation; spans and Spark data only when enabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.ops: list[dict] = []
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, name: str):
        """Time one operation. The yielded dict gets ``latency_s``, ``done``
        (its perf_counter end) and ``py_cpu_s`` (this thread's CPU time)
        and, traced, ``start`` / ``end`` epoch seconds, ``spans`` and
        ``jobs``."""
        rec: dict = {"op": op_id, "kind": kind, "name": name, "spans": []}
        if self.enabled:
            self._sc.setJobGroup(op_id, f"{kind}:{name}")
            self._local.rec = rec
            rec["start"] = time.time()
        t0, cpu0 = time.perf_counter(), time.thread_time()
        try:
            yield rec
        finally:
            rec["done"] = time.perf_counter()
            rec["latency_s"] = rec["done"] - t0
            rec["py_cpu_s"] = time.thread_time() - cpu0
            if self.enabled:
                rec["end"] = time.time()
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                self._local.rec = None
                rec["jobs"] = self._jobs(op_id)
            with self._lock:
                self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        """A child span of the current operation (no-op when untraced)."""
        rec = getattr(self._local, "rec", None) if self.enabled else None
        if rec is None:
            yield
            return
        s = {"name": name, "start": time.time(), "parent": rec["op"], "op": rec["op"]}
        try:
            yield
        finally:
            s["end"] = time.time()
            rec["spans"].append(s)

    def _jobs(self, group: str) -> list[dict]:
        """Jobs of one job group with their stage metrics, once the
        listener bus has delivered every event the operation caused."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            job = {
                "job": int(jid),
                "start": _ms(jd.submissionTime()),
                "end": _ms(jd.completionTime()),
                "stages": 0,
                "tasks": 0,
                "scheduler.wait_ms": 0.0,
                **{key: 0.0 for _, key, _ in _STAGE_METRICS},
            }
            ids = jd.stageIds()
            for i in range(ids.length()):
                sd = store.lastStageAttempt(ids.apply(i))
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its map output was reused
                job["stages"] += 1
                job["tasks"] += sd.numCompleteTasks()
                sub, first = _ms(sd.submissionTime()), _ms(sd.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    job["scheduler.wait_ms"] += (first - sub) * 1000.0
                for getter, key, scale in _STAGE_METRICS:
                    job[key] += getattr(sd, getter)() * scale
            jobs.append(job)
        return jobs

    def write(self, path: str) -> None:
        """All spans (operation roots and children) as one JSON list."""
        spans = []
        for rec in self.ops:
            if "start" not in rec:
                continue
            spans.append({"name": f"op.{rec['kind']}", "start": rec["start"],
                          "end": rec["end"], "parent": None, "op": rec["op"]})
            spans.extend(rec["spans"])
            spans.extend(
                {"name": "spark.job", "start": j["start"], "end": j["end"],
                 "parent": rec["op"], "op": rec["op"], "job": j["job"]}
                for j in rec["jobs"]
            )
        with open(path, "w") as f:
            json.dump(spans, f)


def self_times(rec: dict) -> dict[str, float]:
    """Self time in seconds of each layer of one traced operation."""
    lo, hi = rec["start"], rec["end"]
    jobs = _union([
        (max(lo, j["start"]), min(hi, j["end"]))
        for j in rec["jobs"]
        if j["start"] is not None and j["end"] is not None and j["end"] > lo and j["start"] < hi
    ])
    out: dict[str, float] = {}
    for s in rec["spans"]:
        dur = s["end"] - s["start"]
        out[s["name"]] = out.get(s["name"], 0.0) + dur - _covered(s["start"], s["end"], jobs)
    out["spark.jobs"] = sum(b - a for a, b in jobs)
    out["driver.unattributed"] = rec["latency_s"] - sum(out.values())
    return out


def layer_table(ops: list[dict]) -> dict[str, float]:
    """Mean self time in ms per layer over ``ops``; raises if a layer of
    an operation is negative (its spans and jobs overrun its latency)."""
    totals: dict[str, float] = {}
    for rec in ops:
        st = self_times(rec)
        # The op clock (perf_counter) and span clock (time.time) differ by
        # microseconds; anything beyond a millisecond is a real overlap.
        if min(st.values()) < -1e-3:
            raise AssertionError(f"{rec['op']}: negative self time {st}")
        for k, v in st.items():
            totals[k] = totals.get(k, 0.0) + v
    n = max(1, len(ops))
    return {k: 1000.0 * v / n for k, v in sorted(totals.items())}
