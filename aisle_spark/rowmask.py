"""Row-level predicate evaluation on decoded Arrow batches — the engine's
RowFilter (/root/reference/src/row_filter.rs:50-312): the same Spec AST
that prunes blocks and builds the Catalyst residual also evaluates inside
the decode UDF via pyarrow compute kernels (vectorized C++, Kleene
null semantics, final NULL -> False like SQL WHERE).

Two places where pyarrow's IEEE semantics differ from Spark SQL's, both
normalized here so the in-reader mask NEVER disagrees with the Catalyst
residual (ADVICE r1):

* floats — Spark orders NaN GREATER than every value and NaN == NaN;
  IEEE kernels return false for every NaN comparison. ``_float_cmp``
  rebuilds Spark's semantics from the IEEE kernel + ``is_nan``.
* timestamps — PySpark's ``F.lit`` converts naive datetimes with
  ``TimestampType.toInternal`` (DRIVER-process time zone). ``scan``
  normalizes every datetime literal to its UTC instant driver-side
  (``filterspec.utc_normalize``) before the Spec ships to executors, so
  the ``pa.scalar(naive, tz='UTC')`` built here is the same instant the
  Catalyst residual compares — executor-local time zones never matter.
"""

from __future__ import annotations

import datetime as _dt
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from aisle_spark.filterspec import (
    AlwaysTrue,
    And,
    Between,
    Cmp,
    InList,
    IsNull,
    Like,
    MapKeyCmp,
    Not,
    Or,
    Spec,
    StartsWith,
)

_CMP_KERNELS = {
    "eq": pc.equal,
    "ne": pc.not_equal,
    "lt": pc.less,
    "le": pc.less_equal,
    "gt": pc.greater,
    "ge": pc.greater_equal,
}


def _lit(v, typ: pa.DataType):
    """Literal -> Arrow scalar. Naive datetimes are UTC instants by the
    time they reach an executor (utc_normalize ran at scan time)."""
    return pa.scalar(v, type=typ)


def _promote(c, v):
    """Spark's implicit comparison casts, applied to the COLUMN so this
    mask agrees with the Catalyst residual (which it must match EXACTLY —
    rows it drops are gone): integer/decimal column vs float literal
    compares as double (an unchecked cast: a long past 2**53 rounds to
    nearest, as Spark's long -> double does); date32 column vs datetime
    literal compares as
    timestamp (UTC-midnight cast — scan() enforces a UTC session when
    datetime literals are present). Any combination not handled here makes
    ``pa.scalar(v, c.type)`` raise, which decode_block_filtered catches by
    falling back to full decode + Catalyst residual (ADVICE r2 high)."""
    is_float_lit = isinstance(v, float) and not isinstance(v, bool)
    if is_float_lit and (pa.types.is_integer(c.type) or pa.types.is_decimal(c.type)):
        return c.cast(pa.float64(), safe=False)
    if isinstance(v, _dt.datetime) and pa.types.is_date(c.type):
        return c.cast(pa.timestamp("us"))
    return c


def _is_nan_lit(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _float_cmp(c, op: str, v: float):
    """Spark SQL comparison semantics for floating columns: NaN is greater
    than every other value and equal to itself. NULL propagates (Kleene)."""
    nan = pc.is_nan(c)  # null rows stay null through is_nan (Kleene)
    if _is_nan_lit(v):
        null_ = pa.scalar(None, pa.bool_())
        valid_true = pc.if_else(pc.is_valid(c), pa.scalar(True), null_)
        valid_false = pc.if_else(pc.is_valid(c), pa.scalar(False), null_)
        return {
            "eq": nan,
            "ne": pc.invert(nan),
            "lt": pc.invert(nan),  # every non-NaN < NaN
            "le": valid_true,  # everything <= NaN (NaN <= NaN too)
            "gt": valid_false,  # nothing > NaN
            "ge": nan,
        }[op]
    base = _CMP_KERNELS[op](c, pa.scalar(v, type=c.type))
    if op in ("gt", "ge", "ne"):
        return pc.or_kleene(base, nan)  # NaN > v (hence also != v)
    return base  # eq/lt/le: IEEE false for NaN rows matches Spark


def _eval(spec: Spec, batch: pa.RecordBatch) -> pa.Array:
    if isinstance(spec, Cmp):
        c = _promote(batch.column(spec.col), spec.value)
        if pa.types.is_floating(c.type):
            return _float_cmp(c, spec.op, float(spec.value))
        return _CMP_KERNELS[spec.op](c, _lit(spec.value, c.type))
    if isinstance(spec, Between):
        c = batch.column(spec.col)
        c = _promote(_promote(c, spec.low), spec.high)
        if pa.types.is_floating(c.type):
            return pc.and_kleene(
                _float_cmp(c, "ge", float(spec.low)),
                _float_cmp(c, "le", float(spec.high)),
            )
        return pc.and_kleene(
            pc.greater_equal(c, _lit(spec.low, c.type)),
            pc.less_equal(c, _lit(spec.high, c.type)),
        )
    if isinstance(spec, InList):
        c = batch.column(spec.col)
        for v in spec.values:
            c = _promote(c, v)
        if pa.types.is_floating(c.type):
            vals = [v for v in spec.values if not _is_nan_lit(v)]
            out = pc.is_in(c, value_set=pa.array(vals, type=c.type))
            if len(vals) < len(spec.values):  # NaN literal in the list
                out = pc.or_kleene(out, pc.is_nan(c))
            return out
        if pa.types.is_timestamp(c.type):
            vs = [_lit(v, c.type) for v in spec.values]
            return pc.is_in(c, value_set=pa.array([s.as_py() for s in vs], type=c.type))
        return pc.is_in(c, value_set=pa.array(list(spec.values), type=c.type))
    if isinstance(spec, MapKeyCmp):
        # try_element_at semantics: missing key / NULL map -> NULL value
        # -> NULL comparison -> final fill_null(False), exactly Spark's
        # residual. occurrence="last" matches Spark's LAST_WIN dedup.
        vals = pc.map_lookup(
            batch.column(spec.col), query_key=spec.key, occurrence="last"
        )
        if pa.types.is_floating(vals.type):
            return _float_cmp(vals, spec.op, float(spec.value))
        return _CMP_KERNELS[spec.op](vals, _lit(spec.value, vals.type))
    if isinstance(spec, IsNull):
        c = batch.column(spec.col)
        return pc.is_valid(c) if spec.negated else pc.is_null(c)
    if isinstance(spec, StartsWith):
        return pc.starts_with(batch.column(spec.col), pattern=spec.prefix)
    if isinstance(spec, Like):
        # SQL LIKE semantics (% _ wildcards), matching Spark's like()
        return pc.match_like(batch.column(spec.col), pattern=spec.pattern)
    if isinstance(spec, And):
        out = _eval(spec.parts[0], batch)
        for p in spec.parts[1:]:
            out = pc.and_kleene(out, _eval(p, batch))
        return out
    if isinstance(spec, Or):
        out = _eval(spec.parts[0], batch)
        for p in spec.parts[1:]:
            out = pc.or_kleene(out, _eval(p, batch))
        return out
    if isinstance(spec, Not):
        return pc.invert(_eval(spec.inner, batch))
    if isinstance(spec, AlwaysTrue):
        return pa.array(np.ones(batch.num_rows, dtype=bool))
    raise TypeError(type(spec))  # pragma: no cover


def row_mask(spec: Spec, batch: pa.RecordBatch) -> np.ndarray:
    """Boolean numpy mask of rows satisfying ``spec`` (NULL -> False)."""
    out = _eval(spec, batch)
    if isinstance(out, pa.ChunkedArray):  # pragma: no cover
        out = out.combine_chunks()
    return (
        pc.fill_null(out, False).to_numpy(zero_copy_only=False).astype(bool)
    )
