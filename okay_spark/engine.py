"""Plan assembly: compiled schema × DataFrame -> violations DataFrame.

This is the distributed analogue of the reference's four-stage dataflow
(``/root/reference/src/okay/validator.py:7-11``): compile -> index ->
rule-scan -> missing/extra reconciliation. The per-document recursive dict
walk (``index.py:11-51``) is replaced wholesale by columnar expressions,
built by the battery's one lowering in :mod:`okay_spark.plan_exploded`;
this module assembles its output into the public API: the violations
DataFrame (:func:`validate_dataframe`), the per-row violations array
(:func:`violations_array`) and the clean/quarantined split
(:func:`quarantine`).

The whole battery is **shuffle-free and embarrassingly parallel**: per-row
projections and generates, no exchange. No Python runs per row except for
``custom`` rules, which are evaluated Arrow-batched in
:mod:`okay_spark.compat`.

okay's dynamic typing vs Spark's static columns (documented mapping,
SURVEY.md §1.5): a null struct/array child counts as *present with None*
(``null_value`` path), "key absent" arises only from columns statically
absent from the Spark schema or from MapType-modelled open segments;
heterogeneous-type errors resolve at compile time against the column type.

Divergence from the reference (deliberate): okay *crashes* with a
``RuntimeError: dictionary changed size during iteration`` when a required
child sits under a null list element (defaultdict mutation in
``validator.py:83``, verified by execution); we implement the intended
semantics: ``null_value`` for the element's rules plus ``missing_field`` for
its required children unless the element field is a nullable object.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .plan_exploded import _q, battery, compact, exploded_violations
from .rules import empty_violations, is_arrow_routed
from .schema import CompiledSchema, compile_cached


def _custom_arrays(df_schema: StructType, compiled: CompiledSchema) -> list[Column]:
    """The Arrow pass's ``array<violation>`` columns: custom rules, plus
    string rules auto-routed there because their regex uses Python-only
    dialect constructs (see okay_spark.rules.is_arrow_routed). Imports
    :mod:`okay_spark.compat` (and pandas) only when a schema has them."""
    if not any(is_arrow_routed(r) for f in compiled.fields.values() for r in f.rules):
        return []
    from .compat import custom_violation_arrays

    return custom_violation_arrays(df_schema, compiled)


def violations_array(df_schema: StructType, compiled: CompiledSchema) -> Column:
    """The full battery, custom rules included, as ONE ``array<violation>``
    column expression per row — the form of the per-row consumers
    (:func:`quarantine`, ``checks.partition_summary`` / ``rule_summary``,
    the streaming monitors), which count a row's violations without
    regrouping exploded rows. The battery's lowering with an empty primary
    chain: array paths are walked with higher-order functions."""
    _, checks, arrays = battery(df_schema, compiled, [])
    return compact(
        [c for _, c in checks], [a for _, a in arrays] + _custom_arrays(df_schema, compiled)
    )


def validate_dataframe(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
    message_values: dict | None = None,
    include_seq: bool = False,
) -> DataFrame:
    """Validate every row of ``df`` against an okay schema.

    ``schema`` is an okay-style schema callable or a pre-compiled
    :class:`CompiledSchema`. Returns a violations DataFrame with columns
    ``(*id_cols, path, rule, expected[, seq])`` — the engine's message model
    (``rule`` = okay message type, ``path`` = instance path with indices,
    ``expected`` = canonical-JSON rule params). ``message_values`` are stamped
    onto every violation as literal columns (``validator.py:12-15``).

    Rows with no violations produce no output rows (use
    :func:`okay_spark.checks.partition_summary` for pass/fail rollups).

    The battery runs as the posexplode pipeline of
    :func:`okay_spark.plan_exploded.exploded_violations`, which keeps the
    primary array chain inside whole-stage codegen (~5x faster than walking
    it with higher-order functions, the per-row :func:`violations_array`
    form); custom rules' Arrow-pass rows are unioned in.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)

    ids = [_q(c).alias(c) for c in id_cols]
    exploded = exploded_violations(df, compiled).select(*ids, F.col("_v"))
    custom = _custom_arrays(df.schema, compiled)
    if custom:
        extra = F.concat(empty_violations(), *custom)
        exploded = exploded.unionByName(df.select(*ids, F.explode(extra).alias("_v")))
    out_cols = [F.col(c) for c in id_cols] + [
        F.col("_v.path").alias("path"),
        F.col("_v.rule").alias("rule"),
        F.col("_v.expected").alias("expected"),
    ]
    if include_seq:
        out_cols.append(F.col("_v.seq").alias("seq"))
    out = exploded.select(*out_cols)
    if message_values:
        for k, v in message_values.items():
            out = out.withColumn(k, F.lit(v))
    return out


def quarantine(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Sink-side split of a table into (clean, quarantined) by the rule
    battery — the pipeline counterpart of :func:`validate_dataframe`, which
    reports violations but keeps the table whole. The reference stops at
    returning a message list per document (validator.py:30-47); routing
    documents on the outcome is left to the caller there, and at cluster
    scale it must be part of the plan to avoid a second validation pass.

    Returns two DataFrames computed from the SAME shuffle-free violations
    projection:

    - ``clean``: the input rows (original columns) with zero violations;
    - ``quarantined``: ``(*id_cols, n_violations, reasons)`` where
      ``reasons`` is the document's distinct ``path:rule`` strings,
      lexicographically sorted and ';'-joined — a canonical, engine-portable
      digest of WHY the row was quarantined (stable under any partitioning,
      so an exact SQL oracle can replay it).

    Scale shape: the battery is the per-row projection
    (:func:`violations_array`), so each branch is scan -> filter with zero
    exchanges, and zero Python unless the schema has custom rules (their
    Arrow pass). The exploded form would need a regroup of its rows by
    document, an exchange, to count a document's violations. Writing
    both outputs costs two scans of the source; to pay one scan instead,
    write ``df.withColumn('_status', ...)`` with
    ``partitionBy('_status')`` — the two-frame form exists because most
    callers keep only ``clean`` and route ``quarantined`` to a side sink.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)
    va = violations_array(df.schema, compiled)
    clean = df.filter(F.size(va) == 0)
    quarantined = df.select(
        *[F.col(c) for c in id_cols],
        F.size(va).cast("bigint").alias("n_violations"),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.transform(va, lambda v: F.concat(v["path"], F.lit(":"), v["rule"]))
                )
            ),
            ";",
        ).alias("reasons"),
    ).filter(F.col("n_violations") > 0)
    return clean, quarantined
