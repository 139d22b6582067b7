"""Per-layer attribution for the traced run.

``install`` wraps the program's public functions where their callers look
them up; ``run_metrics`` joins the recorded spans with Spark's event log, the
streaming listener's progress and the Python workers' CPU into the
per-layer metrics named in ``BENCHMARK.json``.

Layers are repo modules: ``job`` (job.py), ``state`` (state.py), ``engine``
(engine.py + plan_exploded.py), ``compat`` (compat.py), ``checks``
(checks.py), ``io`` (io.py), ``streaming`` (streaming.py). The root span
``bench.run`` is the benchmark's own timed call; its self time is the time
no layer span accounts for.
"""

from __future__ import annotations

import os

from tracing import EventLog, Tracer, caller_module, self_times, span_for_group

# sink directory name -> span name of the write_table call that fills it
SINK_SPANS = {
    "violations": "engine.battery",
    "lineage": "state.lineage_write",
    "violations_uniqueness": "checks.uniqueness",
    "violations_referential": "checks.referential",
    "metrics_stats": "checks.stats",
    "metrics_drift": "checks.drift",
    "summaries": "checks.summary",
    "summaries_by_rule": "checks.rule_summary",
    "run_metrics": "io.write",
}
CHECKS = ("uniqueness", "referential", "stats", "drift", "summary", "rule_summary")
TIMED_LAYERS = ("job", "state", "engine", "checks", "io", "streaming")
STREAM_DURATIONS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = ["job.sql_executions", "job.docs_scans", "job.recount_s", "job.self_s"]
    out += ["engine.battery_evals", "engine.battery.cpu_s", "engine.violation_rows"]
    out += ["state.self_s", "state.lineage_read_s", "state.parts_skipped", "state.parts_validated"]
    out += [f"checks.{c}.{m}" for c in CHECKS for m in ("s", "cpu_s", "shuffle_bytes")]
    out += ["io.write.s", "io.write.calls", "io.write.rows", "io.write.bytes", "io.read.s", "io.python_cpu_s"]
    out += ["compat.python_rows", "compat.arrow_bytes", "compat.cpu_s", "compat.python_s"]
    out += ["streaming.batches", "streaming.cpu_s"]
    out += [f"streaming.{_snake(d)}_s" for d in STREAM_DURATIONS]
    out += [f"{layer}.{m}" for layer in TIMED_LAYERS for m in ("gc_s", "planning_s")]
    out += ["trace.run_s", "trace.overhead_s", "trace.unaccounted_s"]
    return out


def _snake(s: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in s)


def unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def install(tracer: Tracer) -> None:
    import okay_spark.checks
    import okay_spark.io
    import okay_spark.job
    import okay_spark.state
    import okay_spark.streaming
    from pyspark.sql.classic.dataframe import DataFrame

    const = lambda name: lambda a, k: name  # noqa: E731

    def sink_name(a, k):
        target = k.get("target", a[1] if len(a) > 1 else "")
        return SINK_SPANS.get(os.path.basename(target.rstrip("/")), "io.write")

    def resumable_done(span, out):
        span["parts_skipped"] = out.get("skipped", 0)
        span["parts_validated"] = out.get("partitions", 0)

    tracer.wrap(okay_spark.job, "run_full_validation", const("job.run"))
    tracer.wrap(okay_spark.streaming, "run_incremental", const("streaming.run"))
    tracer.wrap(okay_spark.job, "run_resumable_validation", const("state.resumable"), on_return=resumable_done)
    tracer.wrap(okay_spark.state, "completed_partitions", const("state.lineage_read"))
    tracer.wrap(okay_spark.state, "next_run_seq", const("state.lineage_read"))
    tracer.wrap(okay_spark.state, "validate_dataframe", const("engine.lower"))
    tracer.wrap(okay_spark.streaming, "validate_dataframe", const("engine.lower"))
    tracer.wrap(okay_spark.checks, "violations_array", const("engine.lower"))
    tracer.wrap(okay_spark.job, "drift_metrics", const("checks.drift"))
    for mod in (okay_spark.job, okay_spark.state):
        tracer.wrap(mod, "write_table", sink_name, on_return=lambda s, out: s.update(write=True))
    for mod in (okay_spark.io, okay_spark.state):
        tracer.wrap(mod, "read_table", const("io.read"))
    # a sink re-count in job.py recomputes the check it counts
    tracer.wrap(
        DataFrame,
        "count",
        lambda a, k: "job.recount" if caller_module(3) == "okay_spark.job" else None,
    )


def _owner(spans: list[dict], group: str | None, t: float) -> dict | None:
    """The span a job or execution belongs to: its job group's span, else
    the innermost span running at time ``t`` (streaming micro-batches run
    on the query's own thread, outside any job group)."""
    sid = span_for_group(group)
    if sid is not None and sid < len(spans):
        return spans[sid]
    inner = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (inner is None or s["start"] >= inner["start"]):
            inner = s
    return inner


def run_metrics(
    spans: list[dict],
    run: str,
    log: EventLog,
    docs_path: str,
    progress: list[dict],
    python_cpu_s: float,
    sink_rows: int,
) -> dict[str, float]:
    """Per-layer metrics of one traced run."""
    mine = [s for s in spans if s["run"] == run]
    own = {s["id"] for s in mine}
    selfs = self_times(spans)
    m: dict[str, float] = {n: 0.0 for n in names()}

    def layer(s):
        return s["name"].split(".")[0]

    for s in mine:
        dur = s["end"] - s["start"]
        if s["name"] in ("job.run", "state.resumable"):
            m[f"{layer(s)}.self_s"] += selfs[s["id"]]
        if s["name"] == "job.recount":
            m["job.recount_s"] += dur
        elif s["name"] == "state.lineage_read":
            m["state.lineage_read_s"] += dur
        elif s["name"] == "engine.lower":
            m["engine.battery_evals"] += 1
        elif s["name"] == "io.read":
            m["io.read.s"] += dur
        elif s["name"] == "state.resumable":
            m["state.parts_skipped"] += s.get("parts_skipped", 0)
            m["state.parts_validated"] += s.get("parts_validated", 0)
        m["io.write.calls"] += s.get("write", False)
        if s["name"].startswith("checks."):
            m[f"{s['name']}.s"] += dur
    root = next(s for s in mine if s["name"] == "bench.run")
    m["trace.unaccounted_s"] = selfs[root["id"]]

    for job in log.jobs.values():
        owner = _owner(spans, job["group"], job["start"])
        if owner is None or owner["id"] not in own:
            continue
        lay = layer(owner)
        if lay in TIMED_LAYERS:
            m[f"{lay}.gc_s"] += job["gc_s"]
        if owner["name"] == "engine.battery":
            m["engine.battery.cpu_s"] += job["cpu_s"]
        elif owner["name"].startswith("checks."):
            m[f"{owner['name']}.cpu_s"] += job["cpu_s"]
            m[f"{owner['name']}.shuffle_bytes"] += job["shuffle_write"]
        elif lay == "streaming":
            m["streaming.cpu_s"] += job["cpu_s"]

    for ex_id, ex in log.executions.items():
        if ex["root"] != ex_id:
            continue
        owner = _owner(spans, ex["group"], ex["start"])
        if owner is None or owner["id"] not in own:
            continue
        lay = layer(owner)
        m["job.sql_executions"] += 1
        m["job.docs_scans"] += log.scans(ex_id, docs_path)
        if lay in TIMED_LAYERS:
            m[f"{lay}.planning_s"] += log.planning_s(ex_id)
        write = "Execute InsertIntoHadoopFsRelationCommand"
        rows = log.metric(ex_id, write, "number of output rows")
        m["io.write.rows"] += rows
        m["io.write.bytes"] += log.metric(ex_id, write, "written output")
        m["io.write.s"] += (
            log.metric(ex_id, write, "task commit time") + log.metric(ex_id, write, "job commit time")
        ) / 1e3
        if owner["name"] == "engine.battery":
            m["engine.violation_rows"] += rows
        m["compat.python_rows"] += log.metric(ex_id, "ArrowEvalPython", "number of output rows")
        m["compat.arrow_bytes"] += log.metric(ex_id, "ArrowEvalPython", "data sent to Python workers")
        m["compat.python_s"] += log.metric(ex_id, "ArrowEvalPython", "time to run Python workers") / 1e3

    batches = [p for p in progress if p["rows"] > 0]
    m["streaming.batches"] = len(batches)
    for d in STREAM_DURATIONS:
        m[f"streaming.{_snake(d)}_s"] = sum(p.get(d, 0) for p in batches) / 1e3
    if batches:
        m["engine.violation_rows"] += sink_rows
    # Python workers run the custom rule behind ArrowEvalPython on the
    # stream; on the job they only unpickle the local rows passed to
    # spark.createDataFrame (lineage, drift and run_metrics rows)
    if m["compat.python_rows"] > 0:
        m["compat.cpu_s"] = python_cpu_s
    else:
        m["io.python_cpu_s"] = python_cpu_s
    return m

