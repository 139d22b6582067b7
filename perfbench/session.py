"""The Spark session every workload runs on, and its clean shutdown.

The configuration is part of the benchmark and is held identical across
commits: change it only in a change that re-measures the baseline.
"""

from __future__ import annotations

import os
import time

from procstat import descendants


def cores() -> int:
    return len(os.sched_getaffinity(0))


def conf(work: str, *, event_log: str | None = None) -> dict[str, str]:
    n = cores()
    out = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "okay_spark-perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: with the default tiered JIT the C2 compiler keeps
        # compiling Spark's hot paths for tens of runs after the warm-up, so
        # run time and CPU drift 25% within a short run; C1 reaches its
        # steady state inside the warm-up.
        # C1 only also shrinks the default code cache from 240 MB to 48 MB,
        # just under the ~46 MB the job's compiled code settles at, so the
        # sweeper kept flushing methods that C1 then compiled again; the
        # tiered default size is restored
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log is not None:
        out.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return out


def prepare_env(root: str, work: str) -> None:
    """Keep Spark's scratch files inside ``work`` and let Python workers
    import the program and the benchmark's own modules."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start(work: str, *, event_log: str | None = None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf(work, event_log=event_log).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SHUTDOWN_TIMEOUT_S = 60.0


def shutdown() -> None:
    """Stop any active context, then the gateway JVM, and wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + SHUTDOWN_TIMEOUT_S
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
