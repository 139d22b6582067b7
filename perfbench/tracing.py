"""Tracing for the per-layer run: spans around the calls into each layer,
Spark job groups per span, an event-log reader and a streaming listener.

Spans are recorded from the benchmark process only: public functions are
wrapped at run time under the name their caller looks them up by (e.g.
``okay_spark.job.write_table``); no source file of the program changes.
Spark is lazy, so a check's cost lands in the action that consumes it: a
``write_table`` span is named after the sink it writes, and every span sets
its own Spark job group, so the event log's jobs, tasks and SQL executions
attribute to the innermost span that started them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict

GROUP_PREFIX = "pb:"


class Tracer:
    """In-memory span recorder. A span is ``(id, name, start, end, parent,
    run)``; its layer is the part of its name before the first dot."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.run: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None, "run": self.run}
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s['id']}", name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, namer, *, on_return=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``namer(args,
        kwargs)`` gives the span name, or None for no span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = namer(args, kwargs)
            if name is None or self.run is None:
                return original(*args, **kwargs)
            with self.span(name) as s:
                out = original(*args, **kwargs)
                if on_return is not None:
                    on_return(s, out)
                return out

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


def caller_module(depth: int) -> str:
    """``__name__`` of the module that called the wrapped function."""
    return sys._getframe(depth).f_globals.get("__name__", "")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` that the union of ``intervals`` covers."""
    covered, last = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, last), min(b, hi)
        if b > a:
            covered += b - a
            last = b
    return covered


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(kids[s["id"]], s["start"], s["end"])
        for s in spans
    }


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling JSON lines)
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _number(value) -> float | None:
    if isinstance(value, (int, float)):
        return value
    try:
        return float(value)
    except (TypeError, ValueError):
        return None


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


class EventLog:
    """Jobs, task metrics and SQL executions of one application's log.

    ``jobs[id]``: group, execution id, start/end (epoch s), and task sums
    (``cpu_s``, ``run_s``, ``gc_s``, ``shuffle_write``, ``shuffle_read``).
    ``executions[id]``: group, start/end, root id, the final (post-AQE)
    plan, and ``metrics`` as ``(node name, metric name) -> summed value``.
    """

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        accum: dict[int, float] = defaultdict(float)
        accum_def: dict[int, tuple[str, str]] = {}

        def define(ex, plan):
            ex["plan"] = plan
            for n in _plan_nodes(plan):
                for m in n.get("metrics", []):
                    accum_def[m["accumulatorId"]] = (ex["id"], n["nodeName"], m["name"])

        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    exec_id = props.get("spark.sql.execution.id")
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "execution": int(exec_id) if exec_id is not None else None,
                        "start": e["Submission Time"] / 1000,
                        "end": None,
                        "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "shuffle_read": 0, "tasks": 0,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(e["Stage ID"]))
                    tm = e.get("Task Metrics")
                    for a in e["Task Info"].get("Accumulables", []):
                        # SQL metric updates are logged as decimal strings
                        update = _number(a.get("Update"))
                        if update is not None:
                            accum[a["ID"]] += update
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    job["run_s"] += tm["Executor Run Time"] / 1e3
                    job["gc_s"] += tm["JVM GC Time"] / 1e3
                    job["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = tm["Shuffle Read Metrics"]
                    job["shuffle_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                elif kind == _SQL + "SparkListenerSQLExecutionStart":
                    ex = {
                        "id": e["executionId"],
                        "root": e.get("rootExecutionId", e["executionId"]),
                        "group": e.get("jobGroupId"),
                        "description": e.get("description", ""),
                        "start": e["time"] / 1000,
                        "end": None,
                    }
                    self.executions[ex["id"]] = ex
                    define(ex, e["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    ex = self.executions.get(e["executionId"])
                    if ex is not None:
                        define(ex, e["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                    ex = self.executions.get(e["executionId"])
                    if ex is not None:
                        ex["end"] = e["time"] / 1000
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for aid, value in e["accumUpdates"]:
                        accum[aid] += value

        for ex in self.executions.values():
            ex["metrics"] = defaultdict(float)
        for aid, (exec_id, node, name) in accum_def.items():
            if aid in accum:
                self.executions[exec_id]["metrics"][(node, name)] += accum[aid]
        for ex in self.executions.values():
            ex["jobs"] = [j for j in self.jobs.values() if j["execution"] == ex["id"]]
            if ex["group"] is None and ex["jobs"]:
                ex["group"] = ex["jobs"][0]["group"]

    def scans(self, exec_id: int, path: str) -> int:
        """File scans of ``path`` (or files under it) in the execution's
        final plan."""
        path = path.rstrip("/")

        def roots(location: str) -> list[str]:
            # "InMemoryFileIndex(2 paths)[file:/a, file:/b/c.parquet]"
            inner = location[location.find("[") + 1 : location.rfind("]")]
            return [p.strip().removeprefix("file:") for p in inner.split(",") if p.strip()]

        return sum(
            1
            for n in _plan_nodes(self.executions[exec_id]["plan"])
            if n["nodeName"].startswith("Scan ")
            and any(
                r == path or r.startswith(path + "/")
                for r in roots(n.get("metadata", {}).get("Location", ""))
            )
        )

    def planning_s(self, exec_id: int) -> float:
        """Execution wall time not covered by any of its jobs: analysis,
        optimisation, planning, codegen and commit on the driver."""
        ex = self.executions[exec_id]
        if ex["end"] is None:
            return 0.0
        jobs = [(j["start"], j["end"] or ex["end"]) for j in ex["jobs"]]
        return (ex["end"] - ex["start"]) - _covered(jobs, ex["start"], ex["end"])

    def metric(self, exec_id: int, node_prefix: str, name: str) -> float:
        return sum(
            v
            for (node, m), v in self.executions[exec_id]["metrics"].items()
            if node.startswith(node_prefix) and m == name
        )


def span_for_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


# ---------------------------------------------------------------------------
# Streaming listener
# ---------------------------------------------------------------------------


def progress_listener(sink: list):
    """A StreamingQueryListener appending each progress's ``durationMs``
    (plus ``numInputRows``) to ``sink``. Built lazily so this module imports
    without pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
