"""Pins the traced run's parsers on a tiny job: event-log task sums per job
group, file-scan counts of a known path, SQL write metrics, span self time,
and the streaming listener's per-batch durations.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import session  # noqa: E402
from tracing import EventLog, progress_listener, self_times, span_for_group  # noqa: E402


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps its sibling
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4)  # children cover [1, 5]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)


def test_span_for_group():
    assert span_for_group("pb:12") == 12
    assert span_for_group("some-stream-run-id") is None
    assert span_for_group(None) is None


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("tracing")
    known = str(tmp / "known")
    os.makedirs(known)
    n = 4000
    for i in range(4):
        pq.write_table(
            pa.table({"k": [j % 50 for j in range(i * n, (i + 1) * n)], "v": list(range(i * n, (i + 1) * n))}),
            os.path.join(known, f"f{i}.parquet"),
        )
    events = str(tmp / "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(tmp / "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    sc.setJobGroup("pb:0", "aggregate")
    spark.read.parquet(known).groupBy("k").count().collect()
    sc.setJobGroup("pb:1", "self-union written out")
    df = spark.read.parquet(known)
    df.unionByName(df.filter("v % 2 = 0")).write.parquet(str(tmp / "out"))
    job_ids = {g: set(sc.statusTracker().getJobIdsForGroup(g)) for g in ("pb:0", "pb:1")}

    progress: list[dict] = []
    spark.streams.addListener(progress_listener(progress))
    src = str(tmp / "src")
    os.makedirs(src)
    pq.write_table(pa.table({"x": list(range(123))}), os.path.join(src, "a.parquet"))
    (
        spark.readStream.schema("x long").parquet(src).writeStream.format("parquet")
        .option("path", str(tmp / "sink")).option("checkpointLocation", str(tmp / "ck"))
        .trigger(availableNow=True).start().awaitTermination()
    )
    deadline = time.time() + 10
    while not progress and time.time() < deadline:
        time.sleep(0.05)
    session.shutdown()  # stops the context and waits for the JVM to exit
    (log_file,) = os.listdir(events)
    return {
        "log": EventLog(os.path.join(events, log_file)),
        "known": known,
        "job_ids": job_ids,
        "progress": progress,
    }


def _by_group(log, group):
    return [j for j in log.jobs.values() if j["group"] == group]


def test_jobs_attribute_to_their_group(traced):
    log = traced["log"]
    for group, ids in traced["job_ids"].items():
        assert {jid for jid, j in log.jobs.items() if j["group"] == group} == ids
        jobs = _by_group(log, group)
        assert sum(j["cpu_s"] for j in jobs) > 0
        assert sum(j["tasks"] for j in jobs) > 0
        for j in jobs:
            assert 0 <= j["gc_s"] <= j["run_s"] + 1e-9
            assert j["end"] >= j["start"]


def test_shuffle_sums_match_the_exchange_metric(traced):
    log = traced["log"]
    (ex,) = [e for e in log.executions.values() if e["group"] == "pb:0"]
    written = sum(j["shuffle_write"] for j in _by_group(log, "pb:0"))
    read = sum(j["shuffle_read"] for j in _by_group(log, "pb:0"))
    assert written > 0
    assert written == log.metric(ex["id"], "Exchange", "shuffle bytes written")
    assert read == written  # every byte written by the map side is fetched
    assert sum(j["shuffle_write"] for j in _by_group(log, "pb:1")) == 0


def test_scan_count_of_a_known_path(traced):
    log = traced["log"]
    (agg,) = [e for e in log.executions.values() if e["group"] == "pb:0"]
    (write,) = [e for e in log.executions.values() if e["group"] == "pb:1"]
    assert log.scans(agg["id"], traced["known"]) == 1
    assert log.scans(write["id"], traced["known"]) == 2  # the self-union scans twice
    assert log.scans(write["id"], traced["known"] + "-elsewhere") == 0


def test_write_metrics_and_planning_time(traced):
    log = traced["log"]
    (write,) = [e for e in log.executions.values() if e["group"] == "pb:1"]
    cmd = "Execute InsertIntoHadoopFsRelationCommand"
    assert log.metric(write["id"], cmd, "number of output rows") == 4000 * 4 + 4000 * 4 // 2
    assert log.metric(write["id"], cmd, "written output") > 0
    wall = write["end"] - write["start"]
    assert 0 <= log.planning_s(write["id"]) <= wall


def test_streaming_listener_reports_batch_durations(traced):
    batches = [p for p in traced["progress"] if p["rows"] > 0]
    assert len(batches) == 1
    assert batches[0]["rows"] == 123
    for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        assert batches[0][key] >= 0
