"""Spans around the benchmark's calls into each layer, with the Spark work
each span caused.

A span records its name, start, end, parent and trace (the root span of
one request). With tracing on, each span also reads, at its end, the
Spark jobs whose IDs fall in the span's window from the application
status store: jobs, tasks, executor run and CPU time, shuffle bytes and
spill. Jobs are attributed by ID window, not by job group, because
streaming micro-batch jobs do not inherit the caller's group. The store
keeps only the newest 1000 stages, so it is read per span, never once at
the end. With tracing off a span costs one generator step.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: stage measures summed over a span's jobs.
STAGE_MEASURES = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


class Tracer:
    """Keeps spans in memory; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Point the tracer at the live session (after every start)."""
        self._spark = spark

    def _next_job_id(self):
        if self._spark is None:
            return None
        return self._spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str, sum_children: bool = False, **attrs):
        """Time the body. ``sum_children``: the span's Spark work is the
        sum of its children's instead of a second read of the store."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else len(self.spans),
            "name": name,
            "attrs": dict(attrs),
            "trace_cost_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        job0 = None if sum_children else self._next_job_id()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sum_children:
                rec["spark"] = _sum_work(
                    [s["spark"] for s in self.spans
                     if s["parent"] == rec["id"] and s.get("spark")]
                )
            elif job0 is not None:
                rec["spark"] = self._read_jobs(job0, self._next_job_id())
            rec["trace_cost_s"] = time.perf_counter() - rec["end"]

    def _read_jobs(self, first: int, stop: int) -> dict:
        sc = self._spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        work = dict.fromkeys(("jobs",) + STAGE_MEASURES, 0)
        stage_ids = set()
        for job_id in range(first, stop):
            try:
                job = store.job(job_id)
            except Exception:  # py4j error: evicted from the store
                continue
            work["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            work["tasks"] += st.numTasks()
            work["failed_tasks"] += st.numFailedTasks()
            work["executor_run_s"] += st.executorRunTime() / 1e3
            work["executor_cpu_s"] += st.executorCpuTime() / 1e9
            work["shuffle_write_bytes"] += st.shuffleWriteBytes()
            work["shuffle_read_bytes"] += st.shuffleReadBytes()
            work["spill_bytes"] += st.diskBytesSpilled()
        return work

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span's start, and each
        span's self time: its duration minus what its children cover."""
        if not self.spans:
            return []
        t0 = self.spans[0]["start"]
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"] + s["trace_cost_s"]
                )
        out = []
        for s in self.spans:
            d = dict(s)
            d["start"] = s["start"] - t0
            d["end"] = s["end"] - t0
            d["self_s"] = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out.append(d)
        return out


def _sum_work(works: list[dict]) -> dict:
    out = dict.fromkeys(("jobs",) + STAGE_MEASURES, 0)
    for w in works:
        for k in out:
            out[k] += w[k]
    return out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], cores: int, names: list[str],
                  roots: tuple[str, ...], setup_s: float) -> dict[str, float]:
    """The per-layer metrics named in ``names`` (``<layer>.<measure>``)
    from a run's spans. Per-call measures are medians over the layer's
    calls inside the ``roots`` operation spans (over its set-up calls for
    a layer only set-up calls); ``share``, ``build_share`` and
    ``exec_share`` divide the layer's summed span time inside the
    operations by their summed time, ``setup_share`` by ``setup_s``. A
    layer the workload never calls reads 0."""
    in_ops = set()  # spans inside a root operation; parents come first
    for s in spans:
        if s["name"] in roots or s["parent"] in in_ops:
            in_ops.add(s["id"])
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    for name, group in by_name.items():
        # a layer called both in set-up and in the operations counts its
        # operation calls; a set-up-only layer counts its set-up calls
        ops = [s for s in group if s["id"] in in_ops]
        by_name[name] = ops or group
    children: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], {})[s["name"]] = s

    def dur(s):
        return s["end"] - s["start"]

    def total(name, scope=None):
        return sum(dur(s) for s in by_name.get(name, [])
                   if scope is None or s["id"] in scope)

    window = sum(total(r) for r in roots)
    out = {}
    for metric in names:
        layer, measure = metric.rsplit(".", 1)
        if measure.endswith("share"):
            part = measure[: -len("share")]  # "", "build_", "exec_", "setup_"
            if part == "setup_":
                out[metric] = total(layer) / setup_s if setup_s else 0.0
            else:
                name = layer + ("." + part[:-1] if part else "")
                out[metric] = total(name, in_ops) / window if window else 0.0
            continue
        vals = []
        for c in by_name.get(layer, []):
            kids = children.get(c["id"], {})
            build, exe = kids.get(layer + ".build"), kids.get(layer + ".exec")
            work = c.get("spark") or {}
            if measure == "wall_s":
                vals.append(dur(c))
            elif measure == "build_s" and build:
                vals.append(dur(build))
            elif measure == "exec_s" and exe:
                vals.append(dur(exe))
            elif measure == "build_jobs" and build:
                vals.append(build["spark"]["jobs"])
            elif measure == "jobs":
                vals.append(((exe or c).get("spark") or {}).get("jobs", 0))
            elif measure == "core_util":
                vals.append(work.get("executor_run_s", 0.0) / (dur(c) * cores))
            elif measure == "cpu_util":
                vals.append(work.get("executor_cpu_s", 0.0) / (dur(c) * cores))
            elif measure in ("files", "bytes_written"):
                vals.append(c["attrs"][measure])
            elif measure in work:
                vals.append(work[measure])
        out[metric] = _median(vals)
    return out


def attribution(spans: list[dict], root: str) -> dict:
    """How the wall time of the ``root`` spans splits into self time per
    span name, with the tracer's own store reads listed apart.
    ``layer_share`` is the part of the wall that layer spans (everything
    below the root) account for."""
    roots = {s["id"] for s in spans if s["name"] == root}
    if not roots:
        return {}
    member = {}
    for s in spans:  # spans are recorded parent-first
        if s["id"] in roots:
            member[s["id"]] = True
        elif s["parent"] in member:
            member[s["id"]] = True
    wall = sum(s["end"] - s["start"] for s in spans if s["id"] in roots)
    self_by = {}
    cost = 0.0
    for s in spans:
        if s["id"] in member:
            self_by[s["name"]] = self_by.get(s["name"], 0.0) + s["self_s"]
            if s["id"] not in roots:
                cost += s["trace_cost_s"]
    return {
        "root": root,
        "calls": len(roots),
        "wall_s": wall,
        "self_s": self_by,
        "tracer_reads_s": cost,
        "layer_share": (wall - self_by[root]) / wall if wall else 0.0,
    }
