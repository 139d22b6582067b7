"""The independent answer: DuckDB over the same parquet the program reads.

The rule battery of ``okay_spark.fixtures.document_schema`` is restated in
SQL, following the battery twin ``_BATTERY_SPANS_SQL`` in
``__spark_entry__.py``; uniqueness, referential integrity, stats, drift,
summaries and lineage are restated from their documented definitions. The
sink checks read the program's output with DuckDB too, so no Spark code
takes part in judging a run.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

# one row per violation: (rid, part, doc_id, path, rule)
_BATTERY_SQL = r"""
WITH d AS (SELECT * FROM exp_docs), sp AS (
  SELECT d.rid, d.doc_id, d.part, t.j, d.spans[t.j + 1] AS s
  FROM d, UNNEST(range(0, len(d.spans))) AS t(j)
)
SELECT rid, part, doc_id, 'doc_id' AS path, 'no_match' AS rule
  FROM d WHERE NOT regexp_full_match(doc_id, 'doc-\d{{12}}')
UNION ALL SELECT rid, part, doc_id, 'spans', 'too_few_elements' FROM d WHERE len(spans) < 1
UNION ALL SELECT rid, part, doc_id, printf('spans[%d].kind', j), 'null_value' FROM sp WHERE s.kind IS NULL
UNION ALL SELECT rid, part, doc_id, printf('spans[%d].kind', j), 'invalid_string_option'
  FROM sp WHERE s.kind NOT IN ('text', 'media')
UNION ALL SELECT rid, part, doc_id, printf('spans[%d].text', j), 'string_too_short'
  FROM sp WHERE s.text IS NOT NULL AND length(s.text) < 1
UNION ALL SELECT rid, part, doc_id, printf('spans[%d].media_ref', j), 'no_match'
  FROM sp WHERE s.media_ref IS NOT NULL AND NOT regexp_full_match(s.media_ref, 'media-\d{{8}}')
UNION ALL SELECT rid, part, doc_id, printf('spans[%d].offset', j), 'number_too_small'
  FROM sp WHERE s."offset" < 0
{custom}
"""

# the ``offsets_monotonic`` custom rule: a doc whose non-null span offsets
# ever decrease
_CUSTOM_SQL = r"""
UNION ALL SELECT rid, part, doc_id, 'spans', 'out_of_order_spans' FROM (
  SELECT rid, any_value(part) AS part, any_value(doc_id) AS doc_id,
         bool_or(o < prev) AS bad
  FROM (SELECT rid, part, doc_id, s."offset" AS o,
               lag(s."offset") OVER (PARTITION BY rid ORDER BY j) AS prev
        FROM sp WHERE s IS NOT NULL AND s."offset" IS NOT NULL)
  GROUP BY rid) WHERE bad
"""


def _src(paths) -> str:
    if isinstance(paths, str):
        paths = [paths]
    listed = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_parquet([{listed}], hive_partitioning = true)"


def _glob(directory: str) -> str:
    return os.path.join(directory, "**", "*.parquet")


def battery(con, docs_src: str, *, custom: bool = False) -> None:
    """Create ``exp_docs(rid, doc_id, spans, part)``, one numbered row per
    input row, and ``exp_viol(rid, part, doc_id, path, rule)``."""
    con.execute(
        "CREATE OR REPLACE TABLE exp_docs AS SELECT row_number() OVER () AS rid, "
        f"doc_id, spans, CAST(part AS INT) AS part FROM {docs_src}"
    )
    con.execute(
        "CREATE OR REPLACE TABLE exp_viol AS "
        + _BATTERY_SQL.format(custom=_CUSTOM_SQL if custom else "")
    )


# bins of the drift histogram: okay_spark/job.py calls drift_metrics(..., bins=16)
DRIFT_BINS = 16


class JobAnswer:
    """Expected contents of every sink of ``run_full_validation`` over one
    docs table, catalog and reference snapshot."""

    def __init__(self, docs_dir: str, catalog: str, reference: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        con = self.con
        battery(con, _src(_glob(docs_dir)))
        con.execute("CREATE VIEW docs AS SELECT doc_id, spans, part FROM exp_docs")
        q = con.sql
        self.dups = dict(q("SELECT doc_id, count(*) FROM docs GROUP BY doc_id HAVING count(*) > 1").fetchall())
        con.execute(
            f"""CREATE TABLE exp_ref AS
            SELECT d.doc_id, printf('spans[%d].media_ref', t.j) AS path, d.spans[t.j + 1].media_ref AS ref
            FROM docs d, UNNEST(range(0, len(d.spans))) AS t(j)
            WHERE d.spans[t.j + 1].media_ref IS NOT NULL
              AND d.spans[t.j + 1].media_ref NOT IN (SELECT media_ref FROM {_src(catalog)})"""
        )
        self.n_ref = q("SELECT count(*) FROM exp_ref").fetchone()[0]
        # per partition: rows, violations, failing rows, distinct failing ids
        self.parts = {
            r[0]: r[1:]
            for r in q(
                """SELECT d.part, count(*), coalesce(sum(v.nv), 0)::BIGINT, count(v.nv),
                          count(DISTINCT v.doc_id)
                FROM exp_docs d
                LEFT JOIN (SELECT rid, any_value(doc_id) AS doc_id, count(*) AS nv
                           FROM exp_viol GROUP BY rid) v USING (rid)
                GROUP BY d.part"""
            ).fetchall()
        }
        self.rules = {
            (r[0], r[1], r[2]): r[3]
            for r in q("SELECT part, rule, path, count(*) FROM exp_viol GROUP BY ALL").fetchall()
        }
        self.stats = {
            "doc_id": q("SELECT count(*), count(doc_id), count(DISTINCT doc_id), min(doc_id), max(doc_id) FROM docs").fetchone(),
            "part": q("SELECT count(*), count(part), count(DISTINCT part), min(part), max(part), avg(part) FROM docs").fetchone(),
        }
        self.drift = self._drift(reference)

    def _drift(self, reference: str) -> tuple[float, float]:
        """PSI and binned KS of ``size(spans)`` against the reference, bin
        edges from the reference extent (``checks.drift_metrics``)."""
        q = self.con.sql
        lo, hi = q(f"SELECT min(len(spans))::DOUBLE, max(len(spans))::DOUBLE FROM {_src(reference)}").fetchone()
        width = (hi - lo) / DRIFT_BINS if hi > lo else 1.0

        def hist(src):
            return dict(
                q(
                    f"""SELECT least(greatest(floor((len(spans) - {lo}) / {width}), 0), {DRIFT_BINS - 1})::INT AS b,
                        count(*) FROM {src} GROUP BY b"""
                ).fetchall()
            )

        cur, ref = hist("docs"), hist(_src(reference))
        n_cur, n_ref = sum(cur.values()), sum(ref.values())
        psi = ks = cdf_c = cdf_r = 0.0
        for b in range(DRIFT_BINS):
            p, r = cur.get(b, 0) / n_cur, ref.get(b, 0) / n_ref
            pe, re_ = max(p, 1e-6), max(r, 1e-6)
            psi += (pe - re_) * math.log(pe / re_)
            cdf_c += p
            cdf_r += r
            ks = max(ks, abs(cdf_c - cdf_r))
        return psi, ks

    # ---- checks of one output directory -------------------------------

    def check(self, output: str, run_id: str, *, battery_runs: list[str] | None = None) -> list[str]:
        """Differences between the sinks under ``output`` and the answer,
        for ``run_id``. ``battery_runs`` are the run ids whose violations
        and lineage rows together must cover the table (a resumed run and
        the run that crashed before it); default just ``run_id``."""
        runs = battery_runs or [run_id]
        q = self.con.sql
        errors: list[str] = []

        def sink(name, where=f"run_id = '{run_id}'"):
            return f"(SELECT * FROM {_src(_glob(os.path.join(output, name)))} WHERE {where})"

        in_runs = "run_id IN (" + ", ".join("'" + r + "'" for r in runs) + ")"
        viol = sink("violations", in_runs)
        diff = q(
            f"""SELECT count(*) FROM (
                (SELECT part, doc_id, path, rule FROM {viol} EXCEPT ALL SELECT part, doc_id, path, rule FROM exp_viol)
                UNION ALL
                (SELECT part, doc_id, path, rule FROM exp_viol EXCEPT ALL SELECT part, doc_id, path, rule FROM {viol}))"""
        ).fetchone()[0]
        if diff:
            errors.append(f"violations: {diff} rows differ from the answer")

        lineage = {
            r[0]: r[1:]
            for r in q(
                f"""SELECT CAST(part AS INT), n_docs, n_violations, n_failed_docs, status
                FROM {sink('lineage', in_runs)}"""
            ).fetchall()
        }
        want = {p: (v[0], v[1], v[3], "done") for p, v in self.parts.items()}
        if lineage != want:
            errors.append(f"lineage: {len(set(lineage.items()) ^ set(want.items()))} partition rows differ")

        dups = dict(q(f"SELECT doc_id, expected FROM {sink('violations_uniqueness')}").fetchall())
        if dups != {k: json.dumps({"count": v}, separators=(",", ":")) for k, v in self.dups.items()}:
            errors.append(f"violations_uniqueness: {len(dups)} keys, expected {len(self.dups)}")

        diff = q(
            f"""SELECT count(*) FROM (
                (SELECT doc_id, path, expected FROM {sink('violations_referential')}
                 EXCEPT ALL SELECT doc_id, path, json_object('value', ref)::VARCHAR FROM exp_ref)
                UNION ALL
                (SELECT doc_id, path, json_object('value', ref)::VARCHAR FROM exp_ref
                 EXCEPT ALL SELECT doc_id, path, expected FROM {sink('violations_referential')}))"""
        ).fetchone()[0]
        if diff:
            errors.append(f"violations_referential: {diff} rows differ")

        errors += self._check_stats(q(f"SELECT * FROM {sink('metrics_stats')}").fetchdf())

        drift = q(f"SELECT psi, ks FROM {sink('metrics_drift')}").fetchall()
        if len(drift) != 1 or any(abs(a - b) > 1e-9 for a, b in zip(drift[0], self.drift)):
            errors.append(f"metrics_drift: {drift} != {self.drift}")

        summaries = {
            r[0]: r[1:]
            for r in q(
                f"SELECT CAST(part AS INT), n_docs, n_violations, n_failed_docs, pass_rate FROM {sink('summaries')}"
            ).fetchall()
        }
        for p, (n, nv, nf, _) in self.parts.items():
            got = summaries.get(p)
            if got is None or got[:3] != (n, nv, nf) or abs(got[3] - (n - nf) / n) > 1e-12:
                errors.append(f"summaries: partition {p} is {got}, expected {(n, nv, nf)}")
                break
        if len(summaries) != len(self.parts):
            errors.append(f"summaries: {len(summaries)} partitions, expected {len(self.parts)}")

        rules = {
            (r[0], r[1], r[2]): r[3]
            for r in q(f"SELECT CAST(part AS INT), rule, path, cnt FROM {sink('summaries_by_rule')}").fetchall()
        }
        if rules != self.rules:
            errors.append(f"summaries_by_rule: {len(set(rules.items()) ^ set(self.rules.items()))} rows differ")

        rm = q(f"SELECT metrics FROM {sink('run_metrics')}").fetchall()
        if len(rm) != 1:
            errors.append(f"run_metrics: {len(rm)} rows")
        else:
            m = json.loads(rm[0][0])
            if (m["duplicate_keys"], m["unknown_media_refs"]) != (len(self.dups), self.n_ref):
                errors.append(f"run_metrics: counts {m['duplicate_keys']}, {m['unknown_media_refs']}")
        return errors

    def _check_stats(self, df) -> list[str]:
        rows = {r["column"]: r for r in df.to_dict("records")}
        if set(rows) != {"doc_id", "part"}:
            return [f"metrics_stats: columns {sorted(rows)}"]
        errs = []
        n, present, distinct, smin, smax = self.stats["doc_id"]
        d = rows["doc_id"]
        if (d["n_rows"], d["n_present"], d["n_nulls"], d["min_str"], d["max_str"]) != (n, present, n - present, smin, smax):
            errs.append("metrics_stats: doc_id counts or extremes differ")
        n, present, distinct_p, pmin, pmax, pavg = self.stats["part"]
        p = rows["part"]
        if (p["n_rows"], p["n_present"], p["min_num"], p["max_num"]) != (n, present, pmin, pmax) or abs(p["avg_num"] - pavg) > 1e-9:
            errs.append("metrics_stats: part counts or extremes differ")
        # approx_count_distinct is HyperLogLog++ at 5% relative std. dev.
        for col, exact in (("doc_id", distinct), ("part", distinct_p)):
            if abs(rows[col]["approx_distinct"] - exact) > 0.2 * exact:
                errs.append(f"metrics_stats: {col} approx_distinct {rows[col]['approx_distinct']} vs {exact}")
        return errs


def stream_violations(con, files: list[str]) -> None:
    """Create ``exp_viol`` for the stream batch (battery plus the custom
    rule)."""
    battery(con, _src(files), custom=True)


def check_stream(con, sink_files: list[str]) -> list[str]:
    """The sink files one run committed equal ``exp_viol`` as a multiset of
    ``(doc_id, path, rule)``."""
    if not sink_files:
        return ["stream: the run committed no sink files"]
    got = _src(sink_files)
    diff = con.sql(
        f"""SELECT count(*) FROM (
            (SELECT doc_id, path, rule FROM {got} EXCEPT ALL SELECT doc_id, path, rule FROM exp_viol)
            UNION ALL
            (SELECT doc_id, path, rule FROM exp_viol EXCEPT ALL SELECT doc_id, path, rule FROM {got}))"""
    ).fetchone()[0]
    return [f"stream: {diff} violation rows differ from the answer"] if diff else []
