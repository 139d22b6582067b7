"""The three workloads: inputs, the timed call into the program, and the
check of every run's output against the answer computed at set-up.

Each workload is a closed loop with one caller: ``run(i)`` returns only when
the program's call has returned, and the next run starts after it.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow.parquet as pq

import expected
import gen

# Sizes keep one invocation near a minute on 4 CPUs; they are not taken
# from production traffic. At 20k docs most of the job's run is fixed
# per-action cost (BASELINE.md, "How the job scales with docs"). Stream
# batches of 96k docs spread more across seeds than batches of 16k
# (BASELINE.md, "Stream batch size").
JOB_DOCS = 20_000
CATALOG_SIZE = 20_000
STREAM_FILES = 4
STREAM_DOCS = 16_000
SOURCE_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>, "
    "part int"
)


def offsets_monotonic(field, value, **kw):
    """``bench.py``'s cross-element custom rule: span offsets must not
    decrease."""
    from okay_spark.messages import Message

    offs = [s.get("offset") for s in (value or []) if s is not None]
    offs = [o for o in offs if o is not None]
    if any(b < a for a, b in zip(offs, offs[1:])):
        return Message(type="out_of_order_spans", field=field)
    return None


def stream_schema() -> None:
    """``document_schema`` plus one Python custom rule (no ``arrow_fields``)."""
    from okay_spark import required
    from okay_spark.fixtures import document_schema

    document_schema()
    required("spans", type="custom", validator=offsets_monotonic)


def du(path: str) -> int:
    """Bytes of all files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    name = ""
    docs_per_run = 0
    # untimed runs before the measured ones; only the first is in setup_s
    warmup_runs = 1

    def __init__(self, work: str, seed: int, n_docs: int | None):
        self.work = work
        self.seed = seed
        self.n_docs = n_docs
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)

    def generate(self) -> None:
        """Write the inputs and compute the answer (no Spark)."""

    def prepare(self, spark) -> None:
        """Untimed Spark-side set-up after the session starts."""

    def before(self, i: int) -> None:
        """Untimed preparation of run ``i``."""

    def call(self, spark, i: int) -> None:
        """The timed call into the program."""

    def after(self, i: int) -> tuple[int, list[str]]:
        """Untimed: ``(sink bytes added, differences from the answer)``."""
        return 0, []


class JobWorkload(Workload):
    """``run_full_validation`` over the docs table, the media catalog and a
    reference snapshot, as ``okay_spark.job.main`` wires it."""

    def __init__(self, work, seed, n_docs):
        super().__init__(work, seed, n_docs or JOB_DOCS)
        self.docs_per_run = self.n_docs
        self.docs = os.path.join(self.data, "docs")
        self.catalog = os.path.join(self.data, "catalog.parquet")
        self.reference = os.path.join(self.data, "reference.parquet")
        self.snapshot = f"seed-{seed}"

    def generate(self):
        gen.write_partitioned(gen.documents(self.seed, self.n_docs, catalog_size=CATALOG_SIZE), self.docs)
        pq.write_table(gen.media_catalog(self.seed, CATALOG_SIZE), self.catalog)
        pq.write_table(
            gen.documents(f"{self.seed}:reference", self.n_docs // 2, catalog_size=CATALOG_SIZE),
            self.reference,
        )
        self.answer = expected.JobAnswer(self.docs, self.catalog, self.reference)

    def output(self, i: int) -> str:
        return os.path.join(self.work, "out", f"run-{i}")

    def run_id(self, i: int) -> str:
        return f"run-{i}"

    def run_job(self, spark, docs_filter, output: str, run_id: str) -> None:
        # looked up through the modules, so the traced run's wrappers apply
        import okay_spark.io
        import okay_spark.job
        from okay_spark.fixtures import document_schema

        docs = okay_spark.io.read_table(spark, self.docs)
        if docs_filter is not None:
            docs = docs.filter(docs_filter)
        okay_spark.job.run_full_validation(
            spark,
            docs,
            okay_spark.io.read_table(spark, self.catalog),
            document_schema,
            output=output,
            run_id=run_id,
            input_snapshot=self.snapshot,
            reference_snapshot=okay_spark.io.read_table(spark, self.reference),
        )

    def before(self, i):
        shutil.rmtree(self.output(i), ignore_errors=True)
        self._bytes_before = 0

    def call(self, spark, i):
        self.run_job(spark, None, self.output(i), self.run_id(i))

    def after(self, i):
        out = self.output(i)
        added = du(out) - self._bytes_before
        errors = self.answer.check(out, self.run_id(i), battery_runs=self.battery_runs(i))
        shutil.rmtree(out, ignore_errors=True)
        return added, errors

    def battery_runs(self, i: int) -> list[str]:
        return [self.run_id(i)]


class JobFresh(JobWorkload):
    name = "job_fresh"


class _Crash(Exception):
    pass


class JobResume(JobWorkload):
    """The job re-run after a crash that left lineage for the even
    partitions: the crash state is made once at set-up, by the same job at
    the same input snapshot over those partitions only, failing right after
    the battery and lineage writes, and restored before every run."""

    name = "job_resume"
    CRASHED = "crashed"

    def prepare(self, spark):
        import okay_spark.job
        from pyspark.sql import functions as F

        self.template = os.path.join(self.work, "crash-state")
        original = okay_spark.job.uniqueness_violations

        def crash(*a, **k):
            raise _Crash()

        okay_spark.job.uniqueness_violations = crash
        try:
            self.run_job(spark, F.col("part") % 2 == 0, self.template, self.CRASHED)
        except _Crash:
            pass
        else:
            raise RuntimeError("the crash was not injected")
        finally:
            okay_spark.job.uniqueness_violations = original
        lineage = duckdb.sql(
            f"SELECT count(DISTINCT part) FROM read_parquet('{self.template}/lineage/*.parquet')"
        ).fetchone()[0]
        if lineage != gen.PARTS // 2:
            raise RuntimeError(f"crash state has lineage for {lineage} partitions")

    def run_id(self, i):
        return f"resume-{i}"

    def before(self, i):
        out = self.output(i)
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out)
        self._bytes_before = du(out)

    def battery_runs(self, i):
        return [self.CRASHED, self.run_id(i)]


class StreamCustom(Workload):
    """``run_incremental`` over a fixed-size batch of newly landed files per
    run, with a Python custom rule in the schema. The batch and its answer
    are made once at set-up; each run lands a copy of its files under new
    names, so every run has the same input and the same answer."""

    name = "stream_custom"
    # the two runs after the first warm-up are still ~10% slower than the
    # rest of the invocation; job runs are flat after one
    warmup_runs = 3

    def __init__(self, work, seed, n_docs):
        super().__init__(work, seed, n_docs)
        self.docs_per_run = n_docs or STREAM_DOCS
        base = os.path.join(work, "stream")
        self.source = os.path.join(base, "source")
        self.staging = os.path.join(base, "staging")
        self.sink = os.path.join(base, "sink")
        self.checkpoint = os.path.join(base, "checkpoint")
        os.makedirs(self.source, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self._committed: set[str] = set()

    def _manifest(self) -> set[str]:
        """Every file path the sink's ``_spark_metadata`` log has committed."""
        meta = os.path.join(self.sink, "_spark_metadata")
        paths = set()
        if os.path.isdir(meta):
            for name in os.listdir(meta):
                if name.startswith("."):
                    continue
                with open(os.path.join(meta, name)) as f:
                    for line in f.read().splitlines()[1:]:
                        entry = json.loads(line)
                        if entry.get("action") == "add":
                            paths.add(entry["path"].removeprefix("file://"))
        return paths

    def generate(self):
        # one seeded batch and its answer; every run lands a fresh copy of it
        table = gen.documents(self.seed, self.docs_per_run, catalog_size=CATALOG_SIZE)
        self.batch = gen.write_files(table, os.path.join(self.data, "batch"), STREAM_FILES, "batch")
        expected.stream_violations(self.con, self.batch)

    def before(self, i):
        # land atomically under new names: copy aside, then rename into the
        # source, so the file source sees new files every run
        for k, f in enumerate(self.batch):
            name = f"batch-{i:05d}-{k:03d}.parquet"
            staged = os.path.join(self.staging, name)
            shutil.copyfile(f, staged)
            os.rename(staged, os.path.join(self.source, name))
        self._bytes_before = du(self.sink)

    def call(self, spark, i):
        import okay_spark.streaming

        okay_spark.streaming.run_incremental(
            spark,
            source_dir=self.source,
            source_ddl=SOURCE_DDL,
            schema=stream_schema,
            sink_dir=self.sink,
            checkpoint_dir=self.checkpoint,
            id_cols=["doc_id"],
        )

    def after(self, i):
        committed = self._manifest()
        new = sorted(committed - self._committed)
        self._committed = committed
        self.new_rows = (
            self.con.sql(f"SELECT count(*) FROM {expected._src(new)}").fetchone()[0] if new else 0
        )
        return du(self.sink) - self._bytes_before, expected.check_stream(self.con, new)


WORKLOADS = {w.name: w for w in (JobFresh, JobResume, StreamCustom)}
