"""The rule battery's one lowering: compiled schema x Spark schema -> checks.

This is the distributed analogue of the reference's four-stage dataflow
(okay's ``src/okay/validator.py:7-11``): compile -> index ->
rule-scan -> missing/extra reconciliation. The per-document recursive dict
walk (``index.py:11-51``) is replaced wholesale by columnar expressions:

- dotted paths    -> struct-field access (Catalyst prunes nested schemas);
- ``[]`` paths    -> a ``posexplode_outer`` level on the primary chain,
                     ``transform(arr, (x, i) -> ...)`` elsewhere; instance
                     paths carry the element index (``spans[3].kind``,
                     ``index.py:45``);
- missing fields  -> static schema diff + null-parent predicates
                     (``validator.py:70-93``);
- extra fields    -> static schema diff for structs, ``map_keys`` set-minus
                     for open MapType segments (``validator.py:60-68``,
                     ``index.py:24-25``).

:func:`battery` lowers the three phases for one *primary chain* of nested
arrays into ``(level, column)`` entries: level ``d`` is evaluated on the rows
generated by the chain's ``d``-th array, level 0 on the document row. Two
assemblies consume it:

- :func:`exploded_violations`, the whole-stage-codegen pipeline behind
  ``validate_dataframe``::

      scan -> [per-level check arrays materialized as columns]
           -> posexplode_outer(spans) [-> deeper chain arrays...]
           -> explode(concat(level arrays)) -> filter(not null)

  Its chain is the one carrying the most schema fields (for the north-rule
  shape, ``spans[]``). Higher-order functions are CodegenFallback
  expressions: one of them anywhere in a projection drops the whole stage
  out of Tungsten codegen (measured ~3-5x slower on the interleaved
  battery), so chain arrays are generated rather than walked. Document-level
  checks fire exactly once per document, on the first generated row
  (``posexplode_outer`` emits at least one row per input, so
  ``_i IS NULL OR _i = 0`` selects exactly one).
- :func:`okay_spark.engine.violations_array`, one ``array<violation>`` per
  row for the per-row consumers (``quarantine``, ``partition_summary``,
  the streaming monitors). Its chain is empty, so every entry sits at level
  0 and every array family goes through the HOF walkers below.

Schema fields on array families off the chain fall back to the HOF walkers,
attached at level 0 — correctness never depends on the routing, only
performance does. Two sizing rules keep the pipeline's memory flat at scale:

- each level's checks are materialized as an array column BELOW the next
  generate, so wide source columns (the spans array itself) are never
  required above a Generate and get pruned out of the generated rows —
  otherwise every generated row deep-copies the document's array bytes
  (measured as multi-GB allocation churn at 2M docs);
- per-level arrays are guarded as whole arrays, so non-first generated rows
  concatenate empty arrays instead of building N null slots.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from .paths import ELEM, ROOT, Name, Step, child_key, parent_and_child, parse_path
from .rules import (
    _STRING_TYPES,
    empty_violations,
    lower_checks,
    make_violation,
)
from .schema import CompiledSchema, FieldSpec

# seq = phase * 1e9 + field_index * 1e3 + rule_index: reproduces okay's
# deterministic message ordering (rule scan -> missing -> extra;
# ``validator.py:8-11``) when violations are sorted by (seq, path).
_SEQ_PHASE = 1_000_000_000


def _seq(phase: int, field_idx: int, rule_idx: int = 0) -> int:
    return phase * _SEQ_PHASE + field_idx * 1_000 + rule_idx


def _q(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def compact(checks: list[Column], arrays: list[Column]) -> Column:
    """Nullable violation columns plus ``array<violation>`` columns as one
    non-null ``array<violation>`` without null slots."""
    parts = list(arrays)
    if checks:
        parts.insert(0, F.filter(F.array(*checks), lambda v: v.isNotNull()))
    if not parts:
        return empty_violations()
    return F.concat(*parts) if len(parts) > 1 else parts[0]


# ---------------------------------------------------------------------------
# HOF walkers: array families off the primary chain
# ---------------------------------------------------------------------------


def _resolves(dtype: DataType, steps: list[Step]) -> bool:
    """Static check: does this path have any instances under this Spark type?

    Mirrors the reference's index pruning: paths through non-dict/non-list
    values simply have no entries (``index.py:30-35``)."""
    if not steps:
        return True
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        return isinstance(dtype, ArrayType) and _resolves(dtype.elementType, rest)
    assert isinstance(step, Name)
    if isinstance(dtype, StructType):
        return step.name in dtype.names and _resolves(dtype[step.name].dataType, rest)
    if isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        return _resolves(dtype.valueType, rest)
    return False


InstanceFn = Callable[[Column, DataType, Column], Column]


def _descend(value: Column, dtype: DataType, path: Column, steps: list[Step], fn: InstanceFn) -> Column:
    """Apply ``fn`` to every instance of ``steps`` under ``value``.

    Existence guards reproduce the index walk: a null parent contributes no
    child instances; a missing map key contributes none. Returns a non-null
    ``array<violation>`` column."""
    if not steps:
        return fn(value, dtype, path)
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        assert isinstance(dtype, ArrayType)
        elem_dt = dtype.elementType
        inner = F.transform(
            value,
            lambda x, i: _descend(
                x, elem_dt, F.concat(path, F.lit("["), i.cast("string"), F.lit("]")), rest, fn
            ),
        )
        return F.coalesce(F.flatten(inner), empty_violations())
    assert isinstance(step, Name)
    child_path = F.concat(path, F.lit("."), F.lit(step.name))
    if isinstance(dtype, StructType):
        child_dt = dtype[step.name].dataType
        inner = _descend(value[step.name], child_dt, child_path, rest, fn)
        return F.when(value.isNotNull(), inner).otherwise(empty_violations())
    assert isinstance(dtype, MapType)
    child = F.try_element_at(value, F.lit(step.name))
    exists = F.coalesce(F.map_contains_key(value, F.lit(step.name)), F.lit(False))
    inner = _descend(child, dtype.valueType, child_path, rest, fn)
    return F.when(exists, inner).otherwise(empty_violations())


def _map_instances(df_schema: StructType, steps: list[Step], fn: InstanceFn) -> Column | None:
    """``fn`` over every instance of a non-root path, or None when the path
    has no instances under this schema."""
    if not _resolves(df_schema, steps):
        return None
    head = steps[0]
    assert isinstance(head, Name)
    return _descend(_q(head.name), df_schema[head.name].dataType, F.lit(head.name), steps[1:], fn)


def _extra_descend(
    child: Column, dtype: DataType, fname: str, cpath: Column, compiled: CompiledSchema
) -> Column | None:
    """array<violation> of the extras beneath a *declared* child, walked with
    higher-order functions; None when nothing beneath it can be extra."""
    if isinstance(dtype, (StructType, MapType)):
        checks: list[tuple[int, Column]] = []
        arrays: list[tuple[int, Column]] = []
        _extra_walk(compiled, child, dtype, fname, cpath, None, 0, None, checks, arrays)
        if not checks and not arrays:
            return None
        inner = compact([c for _, c in checks], [a for _, a in arrays])
        return F.when(child.isNotNull(), inner).otherwise(empty_violations())
    if isinstance(dtype, ArrayType):
        elem_fname = fname + "[]"
        if elem_fname not in compiled.fields:
            return None  # list not declared -> elements never walked (index.py:39-40)
        elem_dt = dtype.elementType

        def per_elem(x, i):
            epath = F.concat(cpath, F.lit("["), i.cast("string"), F.lit("]"))
            sub = _extra_descend(x, elem_dt, elem_fname, epath, compiled)
            return empty_violations() if sub is None else sub

        probe = _extra_descend(F.lit(None).cast(elem_dt), elem_dt, elem_fname, cpath, compiled)
        if probe is None:
            return None
        return F.coalesce(F.flatten(F.transform(child, per_elem)), empty_violations())
    return None


# ---------------------------------------------------------------------------
# Flat descent and the primary chain
# ---------------------------------------------------------------------------


def _decompose(steps) -> tuple[list[tuple[Name, ...]], list[Name]]:
    """Split a step list into array segments and a trailing Name tail.

    ``spans[].kind`` -> ([(spans,)], [kind]); ``m[][]`` -> ([(m,), ()], []).
    Each segment is the Name run leading to one ELEM."""
    segs: list[tuple[Name, ...]] = []
    cur: list[Name] = []
    for st in steps:
        if st is ELEM:
            segs.append(tuple(cur))
            cur = []
        else:
            cur.append(st)
    return segs, cur


class _Ctx:
    """A resolved flat instance context: value/dtype/path/existence guard."""

    __slots__ = ("value", "dtype", "path", "exists", "at_root")

    def __init__(self, value, dtype, path, exists, at_root=False):
        self.value = value
        self.dtype = dtype
        self.path = path
        self.exists = exists
        self.at_root = at_root


def _and_opt(a: Column | None, b: Column | None) -> Column | None:
    if a is None:
        return b
    if b is None:
        return a
    return a & b


def _flat_descend(ctx: _Ctx, names: list[Name]) -> _Ctx | None:
    """Follow Name steps with flat accessors (no HOFs)."""
    value, dtype, path, exists, at_root = (
        ctx.value,
        ctx.dtype,
        ctx.path,
        ctx.exists,
        ctx.at_root,
    )
    for st in names:
        if isinstance(dtype, StructType):
            if st.name not in dtype.names:
                return None
            if at_root:
                child = _q(st.name)
                path = F.lit(st.name)
            else:
                exists = _and_opt(exists, value.isNotNull())
                child = value[st.name]
                path = F.concat(path, F.lit("."), F.lit(st.name))
            dtype = dtype[st.name].dataType
            value, at_root = child, False
        elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
            exists = _and_opt(
                exists, F.coalesce(F.map_contains_key(value, F.lit(st.name)), F.lit(False))
            )
            path = F.concat(path, F.lit("."), F.lit(st.name))
            value = F.try_element_at(value, F.lit(st.name))
            dtype = dtype.valueType
            at_root = False
        else:
            return None
    return _Ctx(value, dtype, path, exists, at_root)


def _resolve_chain(df_schema: StructType, segs: list[tuple[Name, ...]]) -> list[DataType] | None:
    """Element dtype at each chain depth, or None if it doesn't resolve."""
    dtype: DataType = df_schema
    out = []
    for seg in segs:
        for st in seg:
            if isinstance(dtype, StructType) and st.name in dtype.names:
                dtype = dtype[st.name].dataType
            elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
                dtype = dtype.valueType
            else:
                return None
        if not isinstance(dtype, ArrayType):
            return None
        dtype = dtype.elementType
        out.append(dtype)
    return out


def _pick_primary_chain(
    fields: list[tuple[str, FieldSpec]], df_schema: StructType
) -> list[tuple[Name, ...]]:
    """Greedy: extend the chain one array segment at a time toward the most
    schema fields."""
    decomposed = []
    for path, spec in fields:
        segs, _ = _decompose(parse_path(path))
        if segs and _resolve_chain(df_schema, segs) is not None:
            decomposed.append(tuple(segs))
    chain: list[tuple[Name, ...]] = []
    while True:
        counts: dict[tuple[Name, ...], int] = {}
        depth = len(chain)
        for segs in decomposed:
            if len(segs) > depth and list(segs[:depth]) == chain:
                counts[segs[depth]] = counts.get(segs[depth], 0) + 1
        if not counts:
            return chain
        chain.append(max(counts.items(), key=lambda kv: kv[1])[0])


def _join_fname(parent: str, key: str) -> str:
    return key if parent == ROOT else f"{parent}.{key}"


class Battery(NamedTuple):
    """The rule battery lowered for one primary chain."""

    chain_arrays: list[Column]  # the array generated at each level 1..len(chain)
    checks: list[tuple[int, Column]]  # (level, violation struct or NULL)
    arrays: list[tuple[int, Column]]  # (level, non-null array<violation>)


def battery(
    df_schema: StructType, compiled: CompiledSchema, chain: list[tuple[Name, ...]]
) -> Battery:
    """The three phases of okay's validator (rule scan -> missing fields ->
    extra fields) as ``(level, column)`` entries. Level ``d`` columns read
    the chain's generated ``__ok_i{d}`` / ``__ok_e{d}`` (index, element)
    columns; with an empty chain every entry sits at level 0 and reads only
    the source columns."""
    fields = list(compiled.fields.items())
    chain_dtypes = _resolve_chain(df_schema, chain)

    # ---- per-level contexts -------------------------------------------------
    root_ctx = _Ctx(None, df_schema, F.lit(ROOT), None, at_root=True)
    level_ctx: list[_Ctx] = []
    chain_arrays: list[Column] = []
    chain_fnames: list[str] = []
    prev = root_ctx
    prev_fname = ROOT
    for d, seg in enumerate(chain, start=1):
        arr_ctx = _flat_descend(prev, list(seg))
        assert arr_ctx is not None
        chain_arrays.append(arr_ctx.value)
        i_col, e_col = f"__ok_i{d}", f"__ok_e{d}"
        elem_path = F.concat(arr_ctx.path, F.lit("["), _q(i_col).cast("string"), F.lit("]"))
        ctx = _Ctx(_q(e_col), chain_dtypes[d - 1], elem_path, _q(i_col).isNotNull())
        level_ctx.append(ctx)
        if seg:
            prev_fname = _join_fname(prev_fname, ".".join(n.name for n in seg)) + "[]"
        else:
            prev_fname = prev_fname + "[]"
        chain_fnames.append(prev_fname)
        prev = ctx

    def ctx_for_level(level: int) -> _Ctx:
        return root_ctx if level == 0 else level_ctx[level - 1]

    def route(segs: list[tuple[Name, ...]]) -> int | None:
        """The level a path's instances sit at, or None when its array
        family is off the chain (HOF walkers)."""
        return len(segs) if list(chain[: len(segs)]) == list(segs) else None

    scalar_checks: list[tuple[int, Column]] = []
    dyn_arrays: list[tuple[int, Column]] = []

    # ---- phase 1: rule scan -------------------------------------------------
    for fidx, (path, spec) in enumerate(fields):
        if not spec.rules:
            continue
        rules = [(_seq(0, fidx, ridx), r) for ridx, r in enumerate(spec.rules)]
        if path == ROOT:
            root_val = F.struct(*[_q(c).alias(c) for c in df_schema.names])
            checks = lower_checks(root_val, df_schema, F.lit(ROOT), rules, value_never_null=True)
            scalar_checks.extend((0, c) for c in checks)
            continue
        steps = parse_path(path)
        segs, tail = _decompose(steps)
        level = route(segs)
        if level is None:

            def fn(value, dtype, pcol, _rules=rules):
                return compact(lower_checks(value, dtype, pcol, _rules), [])

            arr = _map_instances(df_schema, steps, fn)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        ctx = _flat_descend(ctx_for_level(level), tail)
        if ctx is None:
            continue
        checks = lower_checks(ctx.value, ctx.dtype, ctx.path, rules, exists=ctx.exists)
        scalar_checks.extend((level, c) for c in checks)

    # ---- phase 2: missing fields ----------------------------------------------
    for fidx, (path, spec) in enumerate(fields):
        if spec.strictness != "required" or path == ROOT:
            continue
        parent_name, child = parent_and_child(path)
        parent_spec = compiled.fields.get(parent_name, FieldSpec())
        nullable_parent = parent_spec.is_nullable_object()
        key = child_key(child)
        seq = _seq(1, fidx)
        psteps = parse_path(parent_name)
        segs, tail = _decompose(psteps)
        level = route(segs)
        if level is None:

            def fn(pv, pdt, pp, _child=child, _key=key, _np=nullable_parent, _seq=seq):
                col = _missing_cond(pv, pdt, pp, _child, _key, _np, _seq, None)
                return compact([] if col is None else [col], [])

            arr = _map_instances(df_schema, psteps, fn)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        pctx = _flat_descend(ctx_for_level(level), tail)
        if pctx is None:
            continue
        col = _missing_cond(
            None if pctx.at_root else pctx.value,
            pctx.dtype,
            pctx.path,
            child,
            key,
            nullable_parent,
            seq,
            pctx.exists,
        )
        if col is not None:
            scalar_checks.append((level, col))

    # ---- phase 3: extra fields ---------------------------------------------------
    if not compiled.ignore_extra_fields:
        _extra_walk(
            compiled,
            None,
            df_schema,
            ROOT,
            F.lit(ROOT),
            None,
            0,
            chain_fnames[0] if chain else None,
            scalar_checks,
            dyn_arrays,
        )
        for d, ctx in enumerate(level_ctx, start=1):
            edt = ctx.dtype
            if not isinstance(edt, (StructType, MapType)):
                continue
            nxt = chain_fnames[d] if d < len(chain_fnames) else None
            _extra_walk(
                compiled,
                ctx.value,
                edt,
                chain_fnames[d - 1],
                ctx.path,
                _and_opt(ctx.exists, ctx.value.isNotNull()),
                d,
                nxt,
                scalar_checks,
                dyn_arrays,
            )
    return Battery(chain_arrays, scalar_checks, dyn_arrays)


def exploded_violations(df: DataFrame, compiled: CompiledSchema) -> DataFrame:
    """The battery as an explode pipeline; returns a DataFrame with the
    source id columns plus ``_v`` (non-null violation struct rows)."""
    chain = _pick_primary_chain(list(compiled.fields.items()), df.schema)
    chain_arrays, scalar_checks, dyn_arrays = battery(df.schema, compiled, chain)
    max_depth = len(chain)

    # Materialize each level's checks as array columns BEFORE the next
    # generate, so wide source columns are never required above a Generate
    # and generated rows stay narrow (ids + small violation arrays).
    cur = df
    level_cols: dict[int, list[str]] = {}
    for d in range(0, max_depth + 1):
        if d > 0:
            cur = cur.select(
                "*", F.posexplode_outer(chain_arrays[d - 1]).alias(f"__ok_i{d}", f"__ok_e{d}")
            )
        names: list[str] = []
        checks_d = [c for lvl, c in scalar_checks if lvl == d]
        if checks_d:
            cur = cur.withColumn(f"__ok_v{d}", F.array(*checks_d))
            names.append(f"__ok_v{d}")
        for k, (lvl, arr) in enumerate(dyn_arrays):
            if lvl == d:
                cur = cur.withColumn(f"__ok_w{d}_{k}", arr)
                names.append(f"__ok_w{d}_{k}")
        level_cols[d] = names

    def fire_once_guard(level: int) -> Column | None:
        conds = [
            _q(f"__ok_i{d}").isNull() | (_q(f"__ok_i{d}") == 0)
            for d in range(level + 1, max_depth + 1)
        ]
        return reduce(and_, conds) if conds else None

    parts: list[Column] = []
    for d in range(0, max_depth + 1):
        guard = fire_once_guard(d)
        for name in level_cols[d]:
            col = F.coalesce(_q(name), empty_violations())
            parts.append(
                F.when(guard, col).otherwise(empty_violations()) if guard is not None else col
            )
    if not parts:
        return df.select("*", F.explode(empty_violations()).alias("_v"))
    combined = parts[0]
    for arr in parts[1:]:
        combined = F.concat(combined, arr)
    return cur.select("*", F.explode(combined).alias("_v")).where(F.col("_v").isNotNull())


def _missing_cond(pv, pdt, pp, child, key, nullable_parent, seq, exists) -> Column | None:
    """Single missing_field violation column (or None when impossible).
    ``pv is None`` marks the document root (its columns always exist)."""
    conds: list[Column] = []
    if pv is not None and not nullable_parent:
        conds.append(pv.isNull())
    if isinstance(pdt, StructType):
        if key not in pdt.names:
            conds.append(F.lit(True) if pv is None else pv.isNotNull())
    elif isinstance(pdt, MapType):
        present = F.coalesce(F.map_contains_key(pv, F.lit(key)), F.lit(False))
        conds.append(pv.isNotNull() & ~present)
    if not conds:
        return None
    cond = reduce(or_, conds)
    if exists is not None:
        cond = exists & cond
    mpath = F.lit(child) if pv is None else F.concat(pp, F.lit("."), F.lit(child))
    return F.when(cond, make_violation(mpath, "missing_field", None, seq))


def _extra_walk(
    compiled,
    value,
    dtype,
    fname,
    path,
    exists,
    level,
    next_chain_fname,
    scalar_checks,
    dyn_arrays,
) -> None:
    """Flat extra-field enumeration under one struct/map instance (``value
    is None``: the document root), deferring the primary chain's next array
    to its own level and walking other arrays with the HOF walker. Only the
    topmost extra path is reported — undeclared subtrees are not walked,
    matching the reference's pruned index walk. Appends (level, col) /
    (level, array) entries."""
    seq = _seq(2, 0)
    at_root = value is None
    present = exists if at_root else _and_opt(exists, value.isNotNull())

    def declared_child(child, cdt, child_fname, cpath):
        if isinstance(cdt, (StructType, MapType)):
            _extra_walk(
                compiled,
                child,
                cdt,
                child_fname,
                cpath,
                _and_opt(present, child.isNotNull()),
                level,
                next_chain_fname,
                scalar_checks,
                dyn_arrays,
            )
        elif isinstance(cdt, ArrayType) and child_fname + "[]" != next_chain_fname:
            # the chain's next array is handled at the next chain level
            sub = _extra_descend(child, cdt, child_fname, cpath, compiled)
            if sub is not None:
                arr = sub if present is None else F.when(present, sub).otherwise(empty_violations())
                dyn_arrays.append((level, arr))

    if isinstance(dtype, StructType):
        for m in dtype.names:
            child_fname = _join_fname(fname, m)
            child = _q(m) if at_root else value[m]
            cpath = F.lit(m) if at_root else F.concat(path, F.lit("."), F.lit(m))
            if child_fname not in compiled.fields:
                viol = make_violation(cpath, "extra_field", None, seq)
                scalar_checks.append((level, viol if present is None else F.when(present, viol)))
            else:
                declared_child(child, dtype[m].dataType, child_fname, cpath)
    elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        # an open segment: undeclared keys are extras (never at the root,
        # which is the DataFrame's struct)
        declared = sorted(
            {
                p[len(fname) + 1 :].split(".", 1)[0].split("[", 1)[0]
                for p in compiled.fields
                if p.startswith(fname + ".")
            }
        )
        keys = F.map_keys(value)
        extra_keys = F.filter(keys, lambda k: ~k.isin(*declared)) if declared else keys
        arr = F.coalesce(
            F.transform(
                extra_keys,
                lambda k: make_violation(F.concat(path, F.lit("."), k), "extra_field", None, seq),
            ),
            empty_violations(),
        )
        if exists is not None:
            arr = F.when(exists, arr).otherwise(empty_violations())
        dyn_arrays.append((level, arr))
        for k in declared:
            child_fname = _join_fname(fname, k)
            if child_fname in compiled.fields:
                child = F.try_element_at(value, F.lit(k))
                cpath = F.concat(path, F.lit("."), F.lit(k))
                declared_child(child, dtype.valueType, child_fname, cpath)
