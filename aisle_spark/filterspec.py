"""Predicate AST + tri-state block pruning as Catalyst expressions.

This is the engine's analog of aisle's pruning IR (`Expr`,
/root/reference/src/expr.rs:94-165) and its row-group evaluators
(/root/reference/src/prune/cmp.rs, in_list.rs, between.rs, is_null.rs,
starts_with.rs, dictionary.rs). Every node lowers against a block's
stats columns to the two sides of a Kleene tri-state, each a boolean
Column with Unknown mapped to True:

    keep()      NOT definitely-false: False => prune the block
    not_true()  NOT definitely-true:  False => every row matches
                (the stats-only aggregates' "sure" blocks)

    True/Unknown => keep          (never skip data that might match —
                                   /root/reference/docs/architecture.md:8)

Missing stats (all-null block, or a block written without stats) make the
underlying comparisons NULL; every leaf spells that out as an explicit
``(cmp OR stat IS NULL)`` disjunct (``_or_null``), so NULL collapses to
Unknown=keep, never to a wrong prune (the subtle Spark trap named in
SURVEY.md §7.3: a bare NULL skip-condition inside ``filter`` would
silently drop blocks) — and, unlike a ``coalesce`` wrapper, stays
translatable into the block files' parquet filter pushdown. The six
comparison operators share one interval rule (``_range_keep``); the
not_true side of ``x op v`` is the keep side of its negation
(``_NEGATE``) or a NULL row.

Connectives are Kleene (aisle's src/expr.rs:15-37), written as
De Morgan duals:
  keep(And)   = all keep_i        not_true(And) = any not_true_i
  keep(Or)    = any keep_i        not_true(Or)  = all not_true_i
  keep(Not x) = not_true(x)       not_true(Not x) = keep(x)

The same AST lowers three ways:
  * ``keep_blocks()``   -> manifest filter Column (block pruning)
  * ``residual()``      -> exact row filter Column on the decoded frame
                           (aisle's RowFilter, /root/reference/src/row_filter.rs:50-312)
  * ``to_sql()``        -> ANSI SQL for the DuckDB oracle
The numpy twin of keep()/not_true() (stat arrays off the JVM) is
``chunkstats._tri``.
"""

from __future__ import annotations

import datetime as _dt
import operator
from dataclasses import dataclass, replace

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# string successor for prefix ranges (next_prefix_string,
# /root/reference/src/prune/strings.rs:13-27)
# ---------------------------------------------------------------------------

_MAX_CP = 0x10FFFF


def next_prefix(p: str) -> str | None:
    """Smallest string greater than every string with prefix ``p``.
    Increment the last incrementable codepoint, truncating; None when the
    prefix is all U+10FFFF (no upper bound exists). Skips the surrogate
    gap so results stay valid Unicode."""
    chars = list(p)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < _MAX_CP:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return "".join(chars[:i]) + chr(nxt)
    return None


def next_prefix_bytes(p: bytes) -> bytes | None:
    """Byte-string analog of next_prefix (for binary stats truncation)."""
    b = bytearray(p)
    for i in range(len(b) - 1, -1, -1):
        if b[i] < 0xFF:
            return bytes(b[:i]) + bytes([b[i] + 1])
    return None


STAT_TRUNC = 64  # max stored length of string/binary min-max stats


def truncate_stat_min(v, limit: int = STAT_TRUNC):
    """LOWER bound of a string/bytes min stat: a prefix sorts <= the full
    value, so pruning with it stays sound (the reference's truncated-stats
    discipline, /root/reference/src/prune/stats.rs:30-69 — there the
    WRITER truncates and aisle must trust the ordering flag; here we are
    the writer, so we truncate with known-sound bound semantics)."""
    if v is None or len(v) <= limit:
        return v
    return v[:limit]


def truncate_stat_max(v, limit: int = STAT_TRUNC):
    """UPPER bound of a string/bytes max stat: the successor of the
    truncated prefix sorts > every value with that prefix. When no
    successor exists (all U+10FFFF / 0xFF) return None => Unknown => the
    pruner keeps the block — conservative, never wrong."""
    if v is None or len(v) <= limit:
        return v
    if isinstance(v, bytes):
        return next_prefix_bytes(v[:limit])
    return next_prefix(v[:limit])


# ---------------------------------------------------------------------------
# evidence options
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PruneOptions:
    """Evidence toggles (aisle PruneOptions,
    /root/reference/src/prune/options.rs:56-66). We default BOTH dictionary
    and bloom evidence on — unlike the reference's dict-off default —
    because our per-block evidence is always exact and inline (no async
    provider cost to amortize)."""

    use_dict: bool = True
    use_bloom: bool = True


DEFAULT_OPTIONS = PruneOptions()


# ---------------------------------------------------------------------------
# literals
# ---------------------------------------------------------------------------


def _sql_lit(v) -> str:
    import decimal as _decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "'" + "".join(f"\\x{b:02X}" for b in bytes(v)) + "'::BLOB"
    if isinstance(v, _dt.timedelta):
        us = (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
        return f"(INTERVAL {us} MICROSECONDS)"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


class Spec:
    """Base predicate node."""

    def __and__(self, other: "Spec") -> "Spec":
        return And([self, other])

    def __or__(self, other: "Spec") -> "Spec":
        return Or([self, other])

    def __invert__(self) -> "Spec":
        return Not(self)

    # -- interface --
    def residual(self) -> Column:  # exact row-level Column
        raise NotImplementedError

    def to_sql(self) -> str:
        raise NotImplementedError

    def columns(self) -> set[str]:
        raise NotImplementedError

    def keep_blocks(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        """Manifest filter: keep unless definitely false
        (/root/reference/src/prune/api.rs:58-60 analog).

        Built STRUCTURALLY, with null-handling expanded into explicit
        ``(cmp OR col IS NULL)`` disjuncts at the leaves, never a
        ``coalesce`` wrapper: coalesce blocks Catalyst's data-source filter
        translation, and the whole point of the manifest being a parquet
        table is that these very comparisons ALSO prune the blocks table's
        own row groups (payload bytes of skipped blocks are then never
        read). It selects exactly the blocks the numpy evaluator
        ``chunkstats.manifest_keep`` keeps — tests assert both."""
        return self.keep(opts)

    # NOT definitely-false (keep) and NOT definitely-true (not_true),
    # Unknown => True in both; the connectives are De Morgan duals (see
    # the module docstring)
    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        raise NotImplementedError

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        raise NotImplementedError


def _sc(name: str) -> Column:
    """Stats-column reference, dot-safe: nested leaves are stored under
    dotted flat names ('meta.lang__min'), which F.col would otherwise
    parse as struct access — backticks force a literal lookup."""
    return F.col(f"`{name}`")


def _stats(col: str):
    """(min, max, nulls) stat columns of ``col``, NULL where unrecorded."""
    return _sc(f"{col}__min"), _sc(f"{col}__max"), _sc(f"{col}__nulls")


def _or_null(cmp: Column, *operands: Column) -> Column:
    """cmp OR any(operand IS NULL) — the pushdown-translatable form of
    'unknown stats keep the block'."""
    out = cmp
    for c in operands:
        out = out | c.isNull()
    return out


# one operator table: the comparison leaves' residuals and _range_keep
_OPS = {
    "eq": operator.eq, "ne": operator.ne, "lt": operator.lt,
    "le": operator.le, "gt": operator.gt, "ge": operator.ge,
}
# x op v is definitely true where x _NEGATE[op] v is definitely false
_NEGATE = {"eq": "ne", "ne": "eq", "lt": "ge", "le": "gt", "gt": "le", "ge": "lt"}


def _range_keep(lo: Column, hi: Column, op: str, v: Column) -> Column:
    """NOT definitely-false of ``x op v`` over values within [lo, hi]
    (aisle's min/max window rules, src/prune/cmp.rs): a
    NULL bound is Unknown and keeps. NULL rows are the caller's."""
    if op == "eq":
        return _or_null(lo <= v, lo) & _or_null(hi >= v, hi)
    if op == "ne":
        return _or_null(lo != v, lo) | _or_null(hi != v, hi)
    if op in ("lt", "le"):
        return _or_null(_OPS[op](lo, v), lo)
    return _or_null(_OPS[op](hi, v), hi)


def _has_nulls(nulls: Column) -> Column:
    return _or_null(nulls != 0, nulls)


def _dict_col(col: str) -> Column:
    return _sc(f"{col}__dict")


def _bloom_absent(colname: str, values: tuple[str, ...]) -> Column:
    """Definite-absence of EVERY value per block bloom filter, as a PURE
    Catalyst expression: bit positions are computed driver-side from the
    literals, and each probe is ``shiftright(element_at(bloom, word), bit)
    & 1`` over the int64-word bloom column — whole-stage codegen, no
    Python worker in the manifest filter (a pandas-UDF probe here forced
    every payload column through an ArrowEvalPython exchange and made the
    pruned scan slower than a full decode, BENCH_r01). NULL bloom =>
    probes go NULL => coalesce(False): no evidence, not absence — the
    Unknown side of the tri-state."""
    from aisle_spark.codecs.bloom import bloom_positions

    bl = _sc(f"{colname}__bloom")
    absent_all = None
    for v in values:
        key = v if isinstance(v, bytes) else v.encode("utf-8")
        present = None
        for p in bloom_positions(key).tolist():
            word = F.element_at(bl, int(p >> 6) + 1)
            bit = F.shiftright(word, int(p & 63)).bitwiseAND(F.lit(1)) == 1
            present = bit if present is None else present & bit
        absent = ~present
        absent_all = absent if absent_all is None else absent_all & absent
    return F.coalesce(absent_all, F.lit(False))


def _interval_keep(lo: Column, hi: Column, nulls: Column, op: str, v: Column) -> Column:
    """keep() of a two-sided comparison leaf: NOT definitely-false. ``ne``
    also keeps a block with NULL rows, which makes ``keep(x != v)`` equal
    ``keep(NOT x = v)``: both spellings prune the same blocks."""
    out = _range_keep(lo, hi, op, v)
    return out | _has_nulls(nulls) if op == "ne" else out


def _interval_not_true(lo: Column, hi: Column, nulls: Column, op: str, v: Column) -> Column:
    """not_true() of a two-sided comparison leaf: the keep side of the
    negated operator, or a NULL row (never TRUE)."""
    return _range_keep(lo, hi, _NEGATE[op], v) | _has_nulls(nulls)


@dataclass(frozen=True)
class Cmp(Spec):
    col: str
    op: str  # eq ne lt le gt ge
    value: object

    _SQL_OP = {"eq": "=", "ne": "<>", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = _interval_keep(*_stats(self.col), self.op, F.lit(self.value))
        if self.op == "eq" and isinstance(self.value, (str, bytes)):
            # dictionary definite-absence (/root/reference/src/prune/
            # dictionary.rs:8-70): value outside the exact per-block
            # distinct set => every non-null row is FALSE, null rows NULL
            if opts.use_dict:
                d = _dict_col(self.col)
                out = out & _or_null(F.array_contains(d, self.value), d)
            # bloom definite-absence (aisle BloomFilterEq,
            # /root/reference/src/prune/bloom.rs:9-54)
            if opts.use_bloom:
                out = out & ~_bloom_absent(self.col, (self.value,))
        return out

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return _interval_not_true(*_stats(self.col), self.op, F.lit(self.value))

    def residual(self) -> Column:
        return _OPS[self.op](F.col(self.col), F.lit(self.value))

    def to_sql(self) -> str:
        return f"{self.col} {self._SQL_OP[self.op]} {_sql_lit(self.value)}"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class Between(Spec):
    col: str
    low: object
    high: object

    def _parts(self) -> Spec:
        return And([Cmp(self.col, "ge", self.low), Cmp(self.col, "le", self.high)])

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return self._parts().keep(opts)

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return self._parts().not_true(opts)

    def residual(self) -> Column:
        return F.col(self.col).between(F.lit(self.low), F.lit(self.high))

    def to_sql(self) -> str:
        return f"{self.col} BETWEEN {_sql_lit(self.low)} AND {_sql_lit(self.high)}"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class InList(Spec):
    col: str
    values: tuple

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        # OR of eq over the values (aisle's src/prune/in_list.rs:6-45);
        # an empty list is definitely false
        if not self.values:
            return F.lit(False)
        smin, smax, _ = _stats(self.col)
        out = _range_keep(smin, smax, "eq", F.lit(self.values[0]))
        for v in self.values[1:]:
            out = out | _range_keep(smin, smax, "eq", F.lit(v))
        if all(isinstance(v, (str, bytes)) for v in self.values):
            if opts.use_dict:
                d = _dict_col(self.col)
                out = out & _or_null(
                    F.arrays_overlap(d, F.array(*[F.lit(v) for v in self.values])), d
                )
            if opts.use_bloom:
                out = out & ~_bloom_absent(self.col, tuple(self.values))
        return out

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = None
        for v in self.values:
            nt = Cmp(self.col, "eq", v).not_true(opts)
            out = nt if out is None else out & nt
        return out if out is not None else F.lit(True)

    def residual(self) -> Column:
        return F.col(self.col).isin(list(self.values))

    def to_sql(self) -> str:
        return f"{self.col} IN ({', '.join(_sql_lit(v) for v in self.values)})"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class IsNull(Spec):
    col: str
    negated: bool = False

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        nulls = _sc(f"{self.col}__nulls")
        if self.negated:  # prune iff nulls == n_rows (all null)
            return _or_null(nulls != F.col("n_rows").cast("long"), nulls)
        return _has_nulls(nulls)  # prune iff no nulls at all

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        # never NULL: definitely true iff the opposite test is definitely false
        return IsNull(self.col, not self.negated).keep(opts)

    def residual(self) -> Column:
        c = F.col(self.col)
        return c.isNotNull() if self.negated else c.isNull()

    def to_sql(self) -> str:
        return f"{self.col} IS {'NOT ' if self.negated else ''}NULL"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class StartsWith(Spec):
    """Prefix match as the range [p, next_prefix(p))
    (aisle's src/prune/starts_with.rs:4-69); an all-U+10FFFF
    prefix has no successor, and there ``s >= p`` alone is exact
    (src/prune/strings.rs:13-27)."""

    col: str
    prefix: str

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        smin, smax, _ = _stats(self.col)
        if self.prefix == "":  # every non-null string starts with ""
            return F.lit(True)
        out = _or_null(smax >= F.lit(self.prefix), smax)
        np_ = next_prefix(self.prefix)
        if np_ is not None:
            out = out & _or_null(smin < F.lit(np_), smin)
        return out

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        smin, smax, nulls = _stats(self.col)
        has_nulls = _has_nulls(nulls)
        if self.prefix == "":
            return has_nulls
        out = _or_null(smin < F.lit(self.prefix), smin) | has_nulls
        np_ = next_prefix(self.prefix)
        if np_ is not None:
            out = out | _or_null(smax >= F.lit(np_), smax)
        return out

    def residual(self) -> Column:
        return F.col(self.col).startswith(self.prefix)

    def to_sql(self) -> str:
        esc = self.prefix.replace("'", "''").replace("%", r"\%").replace("_", r"\_")
        return f"{self.col} LIKE '{esc}%' ESCAPE '\\'"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class ArrayAny(Spec):
    """EXISTS element of a list column satisfying ``elem op value`` — the
    list-element predicate path of the reference
    (/root/reference/tests/prune_list_map.rs, src/compile.rs element
    aliases), pruned via the per-block ``{col}__elem_min/max`` stats.

    One-sided: keep() follows from "no ELEMENT in the block can satisfy",
    the interval rule over element stats; not_true() stays True (a row
    with an empty list evaluates FALSE, and stats can't exclude empty
    lists), so Not(ArrayAny) conservatively keeps — the same one-
    sidedness the reference's page algebra has for exists-style
    predicates. Float element stats record max=NaN when a NaN is
    present, and Spark evaluates NaN > v as TRUE, so NaN-bearing blocks
    are never skipped."""

    col: str
    op: str  # eq ne lt le gt ge
    value: object

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        emin, emax = _sc(f"{self.col}__elem_min"), _sc(f"{self.col}__elem_max")
        return _range_keep(emin, emax, self.op, F.lit(self.value))

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)  # never certain (empty lists)

    def residual(self) -> Column:
        v = F.lit(self.value)
        return F.exists(F.col(self.col), lambda x: _OPS[self.op](x, v))

    def to_sql(self) -> str:
        sqlop = Cmp._SQL_OP[self.op]
        return (
            f"len(list_filter({self.col}, x -> x {sqlop} "
            f"{_sql_lit(self.value)})) > 0"
        )

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class ArrayLen(Spec):
    """``size(col) op value`` over a list column, pruned via the per-block
    ``{col}__len_min/len_max`` stats. Unlike ArrayAny this one is two-
    sided: every non-null row has a definite length, so keep() and
    not_true() follow the scalar Cmp interval rules (null rows excluded
    via the null count)."""

    col: str
    op: str
    value: int

    def _stats(self):
        return (
            _sc(f"{self.col}__len_min"),
            _sc(f"{self.col}__len_max"),
            _sc(f"{self.col}__nulls"),
        )

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return _interval_keep(*self._stats(), self.op, F.lit(int(self.value)))

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return _interval_not_true(*self._stats(), self.op, F.lit(int(self.value)))

    def residual(self) -> Column:
        return _OPS[self.op](F.size(F.col(self.col)), F.lit(int(self.value)))

    def to_sql(self) -> str:
        return f"len({self.col}) {Cmp._SQL_OP[self.op]} {int(self.value)}"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class Like(Spec):
    """General SQL LIKE — residual-only: block evidence is Unknown (keep),
    the exact predicate evaluates on the decoded frame. The reference
    REJECTS non-prefix patterns at compile time
    (/root/reference/src/compile.rs:700-745 like_pattern_to_rule); here the
    scan still runs them, pruning only through whatever other conjuncts
    provide. Literal and 'prefix%' shapes should use Eq/StartsWith (the
    ``col().like()`` builder picks those automatically)."""

    col: str
    pattern: str

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)

    def residual(self) -> Column:
        return F.col(self.col).like(self.pattern)

    def to_sql(self) -> str:
        return f"{self.col} LIKE '{self.pattern.replace(chr(39), chr(39) * 2)}'"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class Regexp(Spec):
    """``col RLIKE pattern`` — residual-only like the general ``Like``:
    block evidence is Unknown, the exact predicate is Spark's own
    ``rlike`` after decode (the in-reader mask deliberately does NOT
    evaluate it: Java-regex vs RE2 divergence could otherwise drop rows;
    decode_block_filtered falls back to full decode + Catalyst residual).
    The reference has no regex pruning at all — this extends the
    compile-rejects/we-evaluate family (src/compile.rs:700-745)."""

    col: str
    pattern: str

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)

    def residual(self) -> Column:
        return F.col(self.col).rlike(self.pattern)

    def to_sql(self) -> str:
        esc = self.pattern.replace("'", "''")
        return f"regexp_matches({self.col}, '{esc}')"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class MapKeyCmp(Spec):
    """``element_at(col, key) op value`` over a string-keyed map column —
    the map half of the reference's dotted-path pruning
    (/root/reference/tests/prune_list_map.rs, src/prune/stats.rs:412-488,
    coerced key_value aliases src/compile.rs:239-366).

    Evidence per block: the sorted distinct KEY SET (a key absent from a
    present set occurs in NO row => every row evaluates NULL => definitely
    false) and per-key value min/max via ``element_at(map_from_arrays(
    keys, kmin/kmax), key)`` — pure Catalyst, no Python in the manifest
    filter. All three stats are NULL above MAP_KEYS_MAX keys (Unknown).
    One-sided like ArrayAny: a row without the key evaluates NULL, and
    stats cannot exclude key-less rows, so not_true() is always True
    and ``Not(MapKeyCmp)`` conservatively keeps.

    ``sql_expr`` optionally overrides the oracle-side access expression
    (e.g. JSON extraction when the oracle table stores the map as JSON
    text); the default is DuckDB map access."""

    col: str
    key: str
    op: str  # eq ne lt le gt ge
    value: object
    sql_expr: str | None = None

    def _kstats(self):
        keys = _sc(f"{self.col}__keys")
        k = F.lit(self.key)
        kmin = F.element_at(F.map_from_arrays(keys, _sc(f"{self.col}__kmin")), k)
        kmax = F.element_at(F.map_from_arrays(keys, _sc(f"{self.col}__kmax")), k)
        return keys, kmin, kmax

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        keys, kmin, kmax = self._kstats()
        present = _or_null(F.array_contains(keys, F.lit(self.key)), keys)
        return present & _range_keep(kmin, kmax, self.op, F.lit(self.value))

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)  # never certain (key-less rows are NULL)

    def residual(self) -> Column:
        # try_element_at: missing key -> NULL (plain element_at THROWS
        # under Spark 4's default ANSI mode)
        c = F.try_element_at(F.col(self.col), F.lit(self.key))
        return _OPS[self.op](c, F.lit(self.value))

    def to_sql(self) -> str:
        esc = self.key.replace("'", "''")
        access = self.sql_expr or f"map_extract({self.col}, '{esc}')[1]"
        return f"{access} {Cmp._SQL_OP[self.op]} {_sql_lit(self.value)}"

    def columns(self) -> set[str]:
        return {self.col}


@dataclass(frozen=True)
class And(Spec):
    parts: list

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = self.parts[0].keep(opts)
        for p in self.parts[1:]:
            out = out & p.keep(opts)
        return out

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = self.parts[0].not_true(opts)
        for p in self.parts[1:]:
            out = out | p.not_true(opts)
        return out

    def residual(self) -> Column:
        out = self.parts[0].residual()
        for p in self.parts[1:]:
            out = out & p.residual()
        return out

    def to_sql(self) -> str:
        return "(" + " AND ".join(p.to_sql() for p in self.parts) + ")"

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.parts))


@dataclass(frozen=True)
class Or(Spec):
    parts: list

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = self.parts[0].keep(opts)
        for p in self.parts[1:]:
            out = out | p.keep(opts)
        return out

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        out = self.parts[0].not_true(opts)
        for p in self.parts[1:]:
            out = out & p.not_true(opts)
        return out

    def residual(self) -> Column:
        out = self.parts[0].residual()
        for p in self.parts[1:]:
            out = out | p.residual()
        return out

    def to_sql(self) -> str:
        return "(" + " OR ".join(p.to_sql() for p in self.parts) + ")"

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.parts))


@dataclass(frozen=True)
class Not(Spec):
    inner: Spec

    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return self.inner.not_true(opts)

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return self.inner.keep(opts)

    def residual(self) -> Column:
        return ~self.inner.residual()

    def to_sql(self) -> str:
        return f"(NOT {self.inner.to_sql()})"

    def columns(self) -> set[str]:
        return self.inner.columns()


@dataclass(frozen=True)
class AlwaysTrue(Spec):
    def keep(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(True)

    def not_true(self, opts: PruneOptions = DEFAULT_OPTIONS) -> Column:
        return F.lit(False)

    def residual(self) -> Column:
        return F.lit(True)

    def to_sql(self) -> str:
        return "TRUE"

    def columns(self) -> set[str]:
        return set()


# ---------------------------------------------------------------------------
# literal normalization for the in-reader mask
# ---------------------------------------------------------------------------


def _utc_value(v):
    """Naive datetime -> the UTC instant PySpark's ``F.lit`` would produce
    (``TimestampType.toInternal`` uses the DRIVER-process time zone). Must
    run driver-side so executor-local time zones can never skew the
    in-reader row mask vs the Catalyst residual (ADVICE r1 medium)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        from pyspark.sql.types import TimestampType

        micros = TimestampType().toInternal(v)
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)
    if isinstance(v, _dt.datetime):  # tz-aware -> naive UTC
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _map_literals(spec: Spec, fn) -> Spec:
    """Copy of ``spec`` with every literal ``v`` of column ``c`` replaced
    by ``fn(c, v)`` — the one walk over the literal-carrying nodes."""
    if isinstance(spec, (Cmp, ArrayAny, MapKeyCmp)):
        return replace(spec, value=fn(spec.col, spec.value))
    if isinstance(spec, Between):
        return Between(spec.col, fn(spec.col, spec.low), fn(spec.col, spec.high))
    if isinstance(spec, InList):
        return InList(spec.col, tuple(fn(spec.col, v) for v in spec.values))
    if isinstance(spec, (And, Or)):
        return type(spec)([_map_literals(p, fn) for p in spec.parts])
    if isinstance(spec, Not):
        return Not(_map_literals(spec.inner, fn))
    return spec  # IsNull / StartsWith / Like / ... carry no value literal


def has_naive_datetime(spec: Spec) -> bool:
    """True when the predicate carries a tz-NAIVE datetime literal.
    ``F.lit`` converts those with the DRIVER PROCESS time zone, so a
    non-UTC driver would compare a shifted instant against the engine's
    UTC-stored stats — ``scan()`` warns about that combination (VERDICT
    r2 #9). tz-aware literals are safe everywhere."""
    seen: list = []
    _map_literals(spec, lambda _c, v: seen.append(v) or v)
    return any(isinstance(v, _dt.datetime) and v.tzinfo is None for v in seen)


def utc_normalize(spec: Spec) -> Spec:
    """Copy of ``spec`` with every datetime literal rewritten to its naive-
    UTC instant, for executor-side evaluation against UTC-stored data."""
    return _map_literals(spec, lambda _c, v: _utc_value(v))


# ---------------------------------------------------------------------------
# fluent builder: col("n_tok") > 5, col("source").isin(...), ...
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class col:
    name: str

    def __eq__(self, v):  # type: ignore[override]
        return Cmp(self.name, "eq", v)

    def __ne__(self, v):  # type: ignore[override]
        return Cmp(self.name, "ne", v)

    def __lt__(self, v):
        return Cmp(self.name, "lt", v)

    def __le__(self, v):
        return Cmp(self.name, "le", v)

    def __gt__(self, v):
        return Cmp(self.name, "gt", v)

    def __ge__(self, v):
        return Cmp(self.name, "ge", v)

    def between(self, lo, hi):
        return Between(self.name, lo, hi)

    def isin(self, *vals):
        if len(vals) == 1 and isinstance(vals[0], (list, tuple)):
            vals = tuple(vals[0])
        return InList(self.name, tuple(vals))

    def is_null(self):
        return IsNull(self.name)

    def is_not_null(self):
        return IsNull(self.name, negated=True)

    def startswith(self, p: str):
        return StartsWith(self.name, p)

    def contains(self, v):
        """EXISTS element == v (list columns; elem-stats pruned)."""
        return ArrayAny(self.name, "eq", v)

    def size_cmp(self, op: str, v: int):
        """size(col) op v over a list column (len-stats pruned)."""
        return ArrayLen(self.name, op, v)

    def any_cmp(self, op: str, v):
        """EXISTS element ``op`` v, op in eq/ne/lt/le/gt/ge."""
        return ArrayAny(self.name, op, v)

    def map_key(self, key: str, sql_expr: str | None = None):
        """Reference to ``element_at(col, key)`` of a map column; compare
        it like a scalar (key-set + per-key-range pruned). ``sql_expr``
        overrides the oracle-side access expression."""
        return _MapKeyRef(self.name, key, sql_expr)

    def rlike(self, pattern: str):
        """Regex match — residual-only (see Regexp)."""
        return Regexp(self.name, pattern)

    def like(self, pattern: str):
        """LIKE-pattern classification, extending the reference's
        like_pattern_to_rule (/root/reference/src/compile.rs:700-745):
        no wildcard -> Eq; a single trailing '%' -> StartsWith (both
        PRUNABLE); any other wildcard shape becomes a residual-only
        ``Like`` (exact, Unknown to the pruner — the reference rejects
        these outright, we evaluate them)."""
        body = pattern[:-1] if pattern.endswith("%") else pattern
        if "%" in body or "_" in body:
            return Like(self.name, pattern)
        if pattern.endswith("%"):
            return StartsWith(self.name, body)
        return Cmp(self.name, "eq", pattern)


@dataclass(frozen=True)
class _MapKeyRef:
    col: str
    key: str
    sql_expr: str | None = None

    def _cmp(self, op: str, v):
        return MapKeyCmp(self.col, self.key, op, v, self.sql_expr)

    def __eq__(self, v):  # type: ignore[override]
        return self._cmp("eq", v)

    def __ne__(self, v):  # type: ignore[override]
        return self._cmp("ne", v)

    def __lt__(self, v):
        return self._cmp("lt", v)

    def __le__(self, v):
        return self._cmp("le", v)

    def __gt__(self, v):
        return self._cmp("gt", v)

    def __ge__(self, v):
        return self._cmp("ge", v)
