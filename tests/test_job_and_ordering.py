"""Full-job smoke (battery + checks + sinks + lineage in one run) and
okay-compatible intra-document message ordering."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_full_validation_job(spark, tmp_path):
    from okay_spark.fixtures import document_schema, interleaved_documents, media_catalog
    from okay_spark.job import run_full_validation

    docs = interleaved_documents(spark, 300, parts=4).cache()
    catalog = media_catalog(spark, 100_000)
    out = str(tmp_path / "run")

    metrics = run_full_validation(
        spark,
        docs,
        catalog,
        document_schema,
        output=out,
        run_id="t1",
        reference_snapshot=interleaved_documents(spark, 300, parts=4, inject_errors=False),
    )
    assert metrics["battery"]["partitions"] == 4
    assert metrics["duplicate_keys"] >= 0
    assert metrics["unknown_media_refs"] > 0  # fixture injects orphans
    assert metrics["drift"]["psi"] >= 0

    viol = spark.read.parquet(f"{out}/violations")
    assert viol.count() == metrics["battery"]["n_violations"]
    assert spark.read.parquet(f"{out}/lineage").count() == 4
    assert spark.read.parquet(f"{out}/summaries").count() == 4
    assert spark.read.parquet(f"{out}/run_metrics").count() == 1

    # second run: everything already validated -> battery skipped
    again = run_full_validation(
        spark, docs, catalog, document_schema, output=out, run_id="t2"
    )
    assert again["battery"]["partitions"] == 0 and again["battery"]["skipped"] == 4


def test_message_ordering_matches_okay(spark, okay_reference):
    """okay's deterministic per-document order: rule violations (document /
    rule order) -> missing fields (schema order) -> extra fields. The engine
    reproduces it via the violation ``seq`` (phase, field, rule) when sorted;
    instance order within a field follows array position."""
    from okay import validate  # type: ignore
    from okay.schema import required, optional  # type: ignore
    from okay_spark import compile_schema
    from okay_spark import schema as dsl
    from okay_spark.engine import validate_dataframe

    # columns declared in DataFrame column order, so document traversal order
    # (okay) == schema order (seq) and full ordering parity is exact
    def ours():
        dsl.optional("_id", type="int?")
        dsl.required("a", type="int", min=10)
        dsl.required("b", type="string", min=3)
        dsl.required("xs", type="list", min=2)
        dsl.required("xs[].k", type="string", options=["ok"])
        dsl.required("missing_col", type="string")

    def ref():
        optional("_id", type="int?")
        required("a", type="int", min=10)
        required("b", type="string", min=3)
        required("xs", type="list", min=2)
        required("xs[].k", type="string", options=["ok"])
        required("missing_col", type="string")

    df = spark.createDataFrame(
        [(0, 5, "x", [("bad",), ("ok",), ("worse",)], "zz")],
        "_id int, a bigint, b string, xs array<struct<k:string>>, extra_col string",
    )
    got = [
        (r["rule"], r["path"])
        for r in validate_dataframe(df, compile_schema(ours), id_cols=["_id"], include_seq=True)
        .orderBy("seq", "path")
        .collect()
    ]
    doc = df.first().asDict(recursive=True)
    expect = [(m.type, m.field) for m in validate(ref, doc)]
    assert got == expect, f"{got} != {expect}"
