"""Per-chunk (page-level) statistics: the engine's analog of the parquet
page index that aisle's second pruning granularity consumes
(/root/reference/src/prune/page.rs:71-137, src/prune/cmp.rs:216-270,
src/prune/eval.rs:66-176).

Each 4096-row block stores, per scalar column, min/max/null-count arrays
over fixed ROW_CHUNK-row chunks. ``chunk_keep`` refines INSIDE the
reader: before decoding anything it evaluates the Kleene tri-state
vectorized in numpy over the chunk arrays, and a block whose every chunk
is definitely-false is skipped without touching a single payload byte
(the reference's page-index cut rows-read 79.5%, per its
benches/df_compare/README.md:43).

The same evaluator is the block tier off the JVM: ``manifest_keep`` runs
it over the manifest rows (one per block) that the DataSource planner
reads, selecting exactly the blocks Catalyst's ``Spec.keep()`` selects —
dictionary, bloom, list-element, list-length and map-key evidence
included. One tri-state, two granularities: stat arrays over N units
plus each unit's row count (aisle's compile-once pruner evaluating every
metadata granularity, src/prune/api.rs).

Soundness invariants match filterspec's:
  f[i] True  => no row in unit i evaluates TRUE   (prunable)
  t[i] True  => no row in unit i evaluates FALSE  (Not-prunable dual)
All-null chunks set both (every row is NULL); a manifest row's NULL stat
is Unknown, as in Catalyst. Unsupported leaves return (False, False) =
Unknown — never a wrong skip.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROW_CHUNK = 512

_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


def n_chunks(n_rows: int) -> int:
    return (n_rows + ROW_CHUNK - 1) // ROW_CHUNK


# ---------------------------------------------------------------------------
# encode side: per-chunk stat arrays for one column
# ---------------------------------------------------------------------------


def chunk_stats_int(vals: np.ndarray, valid: np.ndarray | None, n: int) -> dict:
    """Per-chunk min/max/nulls for an int-kind column. ``vals`` holds the
    NON-NULL values in row order; ``valid`` the row validity (None = all
    valid). All reduceat/add — no per-row Python."""
    k = n_chunks(n)
    mins = np.zeros(k, dtype=np.int64)
    maxs = np.zeros(k, dtype=np.int64)
    nulls = np.zeros(k, dtype=np.int32)
    if valid is None:
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        if vals.size:
            v64 = vals.astype(np.int64, copy=False)
            mins[:] = np.minimum.reduceat(v64, starts)
            maxs[:] = np.maximum.reduceat(v64, starts)
    else:
        # nulls per chunk; non-null values land in their row's chunk
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        nulls[:] = np.add.reduceat((~valid).astype(np.int32), starts)
        if vals.size:
            v64 = vals.astype(np.int64, copy=False)
            rows = np.flatnonzero(valid)
            ci = rows // ROW_CHUNK
            # reduceat over the run boundaries of ci (sorted by construction)
            bstarts = np.flatnonzero(np.concatenate(([True], ci[1:] != ci[:-1])))
            present = ci[bstarts]
            mins[present] = np.minimum.reduceat(v64, bstarts)
            maxs[present] = np.maximum.reduceat(v64, bstarts)
    return {"min": mins.tolist(), "max": maxs.tolist(), "nulls": nulls.tolist()}


def chunk_stats_float(vals: np.ndarray, valid: np.ndarray | None, n: int) -> dict:
    """Float chunk stats under Spark's total order: max records NaN when
    the chunk contains one (same rule as block-level _float_min_max)."""
    k = n_chunks(n)
    mins = np.zeros(k, dtype=np.float64)
    maxs = np.zeros(k, dtype=np.float64)
    nulls = np.zeros(k, dtype=np.int32)
    full = np.full(n, np.nan, dtype=np.float64)
    if valid is None:
        full[: vals.size] = vals
    else:
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        nulls[:] = np.add.reduceat((~valid).astype(np.int32), starts)
        full[valid] = vals
    for i in range(k):
        lo, hi = i * ROW_CHUNK, min((i + 1) * ROW_CHUNK, n)
        seg = full[lo:hi]
        if valid is not None:
            seg = seg[valid[lo:hi]]
        if not seg.size:
            continue
        nonnan = seg[~np.isnan(seg)]
        mins[i] = float(nonnan.min()) if nonnan.size else np.nan
        maxs[i] = np.nan if nonnan.size < seg.size else float(nonnan.max())
    return {"min": mins.tolist(), "max": maxs.tolist(), "nulls": nulls.tolist()}


def chunk_stats_string(arr: pa.Array, n: int) -> dict:
    """String chunk stats via pyarrow min_max per slice (<= 8 slices per
    block — a bounded loop over chunks, never over rows). Long values are
    stored as sound bounds (prefix min / successor max), same discipline
    as the block-level stats."""
    import pyarrow.compute as pc

    from aisle_spark.filterspec import truncate_stat_max, truncate_stat_min

    k = n_chunks(n)
    mins: list[str | None] = []
    maxs: list[str | None] = []
    nulls = []
    for i in range(k):
        lo = i * ROW_CHUNK
        sl = arr.slice(lo, min(ROW_CHUNK, n - lo))
        nulls.append(sl.null_count)
        if sl.null_count == len(sl):
            mins.append(None)
            maxs.append(None)
        else:
            mm = pc.min_max(sl)
            mins.append(truncate_stat_min(mm["min"].as_py()))
            maxs.append(truncate_stat_max(mm["max"].as_py()))
    return {"min": mins, "max": maxs, "nulls": nulls}


# ---------------------------------------------------------------------------
# query side: one Kleene tri-state over the stat arrays of N pruning units
# ---------------------------------------------------------------------------


class _Units:
    """Stat arrays over N pruning units — the chunks of one block or the
    blocks of a manifest — under the manifest's stat names (``{c}__min``,
    ``{c}__nulls``, ``{c}__dict``, ...). ``get(name)`` returns a stat's
    raw per-unit values (a list or a pyarrow array), or None when the
    granularity carries no such stat (the leaf is then Unknown).

    ``null_units_decide``: an all-null unit decides every min/max leaf
    both ways (every row is NULL, so none is TRUE or FALSE). Chunks set
    it; manifest rows leave it to their NULL min/max, which is Unknown —
    exactly what Catalyst's ``keep()`` does with them."""

    def __init__(self, get, n_rows, kinds, null_units_decide: bool):
        self.get = get
        self.n_rows = np.asarray(n_rows, dtype=np.int64)
        self.kinds = kinds
        self.null_units_decide = null_units_decide
        self._memo: dict = {}

    def none(self) -> np.ndarray:
        """All-False over the units: no evidence."""
        return np.zeros(self.n_rows.size, dtype=bool)

    def stat(self, name: str, kind: str):
        """(values, valid) of one stat in the comparison domain, or None."""
        if name not in self._memo:
            raw = self.get(name)
            self._memo[name] = None if raw is None else _domain(raw, kind)
        return self._memo[name]


def _combined(raw):
    return raw.combine_chunks() if isinstance(raw, pa.ChunkedArray) else raw


def _domain(raw, kind: str):
    """Per-unit stat values in the chunk arrays' comparison domain, plus
    validity: int64 for ints, bools, dates (days), timestamps and
    durations (µs) and decimals (unscaled) — the ``ct`` table of
    ``schema.blocks_arrow_schema`` — float64 for floats, object for
    strings and bytes (NULL slots filled with an empty value). Chunk
    arrays arrive as lists already in that domain; manifest stat columns
    arrive as Arrow arrays of their stat type."""
    if not isinstance(raw, (pa.Array, pa.ChunkedArray)):
        if kind in ("string", "binary"):
            valid = np.fromiter((x is not None for x in raw), bool, len(raw))
            vals = np.array(raw, dtype=object)
            vals[~valid] = "" if kind == "string" else b""
            return vals, valid
        vals = np.asarray(raw, dtype=np.float64 if kind == "float" else np.int64)
        return vals, np.ones(vals.size, dtype=bool)
    arr = _combined(raw)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    t = arr.type
    if pa.types.is_decimal(t):
        # precision <= 18: the low word of each little-endian 128-bit
        # value is the exact unscaled int64
        words = np.frombuffer(arr.buffers()[1], dtype=np.int64)
        return words[2 * arr.offset : 2 * (arr.offset + len(arr)) : 2], valid
    if pa.types.is_timestamp(t) or pa.types.is_duration(t):
        if t.unit != "us":
            arr = arr.cast(
                pa.timestamp("us", t.tz) if pa.types.is_timestamp(t) else pa.duration("us")
            )
        arr = arr.view(pa.int64())
    elif pa.types.is_date32(t):
        arr = arr.view(pa.int32())
    if pa.types.is_floating(t):
        return arr.cast(pa.float64()).fill_null(0).to_numpy(), valid
    if pa.types.is_integer(arr.type) or pa.types.is_boolean(t):
        return arr.cast(pa.int64()).fill_null(0).to_numpy(), valid
    empty = b"" if pa.types.is_binary(t) or pa.types.is_large_binary(t) else ""
    return arr.fill_null(empty).to_numpy(zero_copy_only=False), valid


def _literal(v, s):
    """Predicate literal -> the unit arrays' domain, or None unless the
    literal has an exact place there (the leaf is then Unknown —
    conservative, never a wrong skip). Truncating coercion must never
    happen here: ``int(3.5)`` on an int column, or a datetime literal
    converted to µs against date32 stats stored in DAYS, turns Unknown
    into a wrong definitely-false. A float literal on an int column stays
    a float and the column compares in float64: Spark's promotion, the
    very comparison Catalyst's ``keep()`` runs."""
    import decimal as _decimal

    kind = s.kind if s is not None else None
    if kind in ("string", "binary"):
        return v if isinstance(v, str if kind == "string" else bytes) else None
    if kind == "decimal":
        if isinstance(v, bool) or not isinstance(v, (int, _decimal.Decimal)):
            return None
        unscaled = _decimal.Decimal(v).scaleb(s.arrow_type.scale)
        if unscaled != int(unscaled):  # more precision than the column
            return None
        return int(unscaled)
    if kind == "float":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return float(v)
    if kind == "timestamp":
        if not isinstance(v, _dt.datetime):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH  # exact integer µs — float total_seconds() rounds
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if kind == "duration":
        if not isinstance(v, _dt.timedelta):
            return None
        return (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
    if kind == "int":
        if pa.types.is_date(s.arrow_type):
            # date32 stats are DAYS; datetime (a date SUBCLASS) carries
            # time-of-day and belongs to a different comparison domain
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                return None
            return (v - _EPOCH_DATE).days
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, (int, float)):
            return v
    return None


_NP_OPS = {
    "eq": np.equal, "ne": np.not_equal, "lt": np.less,
    "le": np.less_equal, "gt": np.greater, "ge": np.greater_equal,
}


def _cmp(a: np.ndarray, op: str, v) -> np.ndarray:
    """``a op v`` per unit under Spark's ordering: NaN sorts above every
    value and equals itself; an int column meets a float literal as
    float64."""
    if isinstance(v, float) and a.dtype.kind in "iu":
        a = a.astype(np.float64)
    if a.dtype.kind != "f":
        return _NP_OPS[op](a, v)
    nan = np.isnan(a)
    if v != v:
        lt, eq, gt = ~nan, nan, np.zeros_like(nan)
    else:
        lt, eq, gt = a < v, a == v, nan | (a > v)
    return {"eq": eq, "ne": ~eq, "lt": lt, "le": lt | eq, "gt": gt, "ge": gt | eq}[op]


def _range_tri(op: str, lo, hi, no_nulls: np.ndarray, v):
    """(t, f) of ``x op v`` over units whose non-null values lie in
    [lo, hi]. Each bound is (values, valid); a NULL bound is no evidence.
    ``no_nulls`` marks units known to hold no NULL (t needs it: a NULL
    row is never TRUE)."""
    (mn, mn_ok), (mx, mx_ok) = lo, hi

    def lo_(o):
        return mn_ok & _cmp(mn, o, v)

    def hi_(o):
        return mx_ok & _cmp(mx, o, v)

    if op == "eq":
        return lo_("eq") & hi_("eq") & no_nulls, lo_("gt") | hi_("lt")
    if op == "ne":
        return (lo_("gt") | hi_("lt")) & no_nulls, lo_("eq") & hi_("eq") & no_nulls
    if op == "lt":
        return hi_("lt") & no_nulls, lo_("ge")
    if op == "le":
        return hi_("le") & no_nulls, lo_("gt")
    if op == "gt":
        return lo_("gt") & no_nulls, hi_("le")
    if op == "ge":
        return lo_("ge") & no_nulls, hi_("lt")
    raise ValueError(op)  # pragma: no cover


def _bounds(u: _Units, col: str, lo: str, hi: str, kind: str):
    """The [lo, hi] stat pair of ``col``; None when either is missing."""
    b = u.stat(f"{col}__{lo}", kind), u.stat(f"{col}__{hi}", kind)
    return None if b[0] is None or b[1] is None else b


def _no_nulls(u: _Units, col: str) -> np.ndarray:
    nl = u.stat(f"{col}__nulls", "int")
    return u.none() if nl is None else nl[1] & (nl[0] == 0)


def _point_values(spec) -> tuple:
    """The literals of a string/bytes point lookup (``eq`` or IN), which a
    unit's dictionary or bloom can prove absent as a whole; () otherwise."""
    from aisle_spark import filterspec as fs

    if isinstance(spec, fs.InList):
        vals = spec.values
    elif isinstance(spec, fs.Cmp) and spec.op == "eq":
        vals = (spec.value,)
    else:
        return ()
    return tuple(vals) if all(isinstance(v, (str, bytes)) for v in vals) else ()


def _list_hits(lst, values):
    """(valid, rows, positions) of the list elements equal to one of
    ``values``: per-unit list validity, and for every hit its unit and
    its position in the flat child array."""
    lst = _combined(lst)
    offs = lst.offsets.to_numpy()
    hit = pc.is_in(lst.values, value_set=pa.array(values, lst.type.value_type))
    pos = np.flatnonzero(hit.fill_null(False).to_numpy(zero_copy_only=False))
    pos = pos[(pos >= offs[0]) & (pos < offs[-1])]
    rows = np.searchsorted(offs, pos, side="right") - 1
    valid = lst.is_valid().to_numpy(zero_copy_only=False)
    keep = valid[rows]
    return valid, rows[keep], pos[keep]


def _dict_absent(u: _Units, col: str, values) -> np.ndarray:
    """Units whose exact distinct set (``{c}__dict``) holds none of the
    values: their non-null rows are all FALSE (Catalyst's
    ``array_contains``/``arrays_overlap`` evidence)."""
    d = u.get(f"{col}__dict")
    want = bytes if d is not None and pa.types.is_binary(d.type.value_type) else str
    if d is None or not all(isinstance(v, want) for v in values):
        return u.none()
    valid, rows, _ = _list_hits(d, list(values))
    out = valid.copy()
    out[rows] = False
    return out


def _bloom_absent(u: _Units, col: str, values) -> np.ndarray:
    """Units whose bloom filter proves EVERY value absent; a NULL bloom
    is no evidence."""
    from aisle_spark.codecs.bloom import M_WORDS, bloom_positions, blooms_absent_matrix

    b = u.get(f"{col}__bloom")
    if b is None:
        return u.none()
    b = _combined(b)
    ok = b.is_valid().to_numpy(zero_copy_only=False) & (
        pc.list_value_length(b).fill_null(0).to_numpy() == M_WORDS
    )
    if not ok.any():
        return u.none()
    words = pc.list_flatten(b.filter(pa.array(ok))).to_numpy().reshape(-1, M_WORDS)
    absent = np.ones(words.shape[0], dtype=bool)
    for v in values:
        key = v if isinstance(v, bytes) else v.encode("utf-8")
        absent &= blooms_absent_matrix(words, bloom_positions(key))
    out = u.none()
    out[ok] = absent
    return out


def _cmp_leaf(spec, u: _Units):
    s = u.kinds.get(spec.col)
    v = _literal(spec.value, s)
    b = None if v is None else _bounds(u, spec.col, "min", "max", s.kind)
    if b is None:
        return u.none(), u.none()
    return _range_tri(spec.op, *b, _no_nulls(u, spec.col), v)


def _inlist_leaf(spec, u: _Units):
    """OR of eq over the values (the range evidence of every value)."""
    c, s = spec.col, u.kinds.get(spec.col)
    nn = _no_nulls(u, c)
    t, f = u.none(), ~u.none()
    for val in spec.values:
        v = _literal(val, s)
        b = None if v is None else _bounds(u, c, "min", "max", s.kind)
        if b is None:  # Unknown value: no range evidence at all
            f = u.none()
            continue
        ti, fi = _range_tri("eq", *b, nn, v)
        t, f = t | ti, f & fi
    return t, f


def _startswith_leaf(spec, u: _Units):
    from aisle_spark.filterspec import next_prefix

    c, p = spec.col, spec.prefix
    s = u.kinds.get(c)
    if s is None or s.kind != "string":
        return u.none(), u.none()
    nn = _no_nulls(u, c)
    if p == "":  # every non-null string starts with ""
        return nn, u.none()
    b = _bounds(u, c, "min", "max", "string")
    if b is None:
        return u.none(), u.none()
    (mn, mn_ok), (mx, mx_ok) = b
    f = mx_ok & (mx < p)
    t = mn_ok & (mn >= p) & nn
    np_ = next_prefix(p)
    if np_ is not None:  # None: all-U+10FFFF prefix, s >= p is exact
        f = f | (mn_ok & (mn >= np_))
        t = t & mx_ok & (mx < np_)
    return t, f


def _element_spec(s):
    """ColumnSpec of a list column's elements / a map column's values."""
    from aisle_spark.schema import ColumnSpec, map_value_kind

    if s.kind == "map":
        return ColumnSpec(s.name, map_value_kind(s.arrow_type), s.arrow_type.item_type)
    kind = "float" if s.kind == "floatlist" else "int"
    return ColumnSpec(s.name, kind, s.arrow_type.value_type)


def _arrayany_leaf(spec, u: _Units):
    """f only: no element of the unit can satisfy. t is never certain —
    a row with an empty list evaluates FALSE."""
    s = u.kinds.get(spec.col)
    if s is None or s.kind not in ("intlist", "floatlist"):
        return u.none(), u.none()
    es = _element_spec(s)
    v = _literal(spec.value, es)
    b = None if v is None else _bounds(u, spec.col, "elem_min", "elem_max", es.kind)
    if b is None:
        return u.none(), u.none()
    return u.none(), _range_tri(spec.op, *b, ~u.none(), v)[1]


def _arraylen_leaf(spec, u: _Units):
    b = _bounds(u, spec.col, "len_min", "len_max", "int")
    if b is None:
        return u.none(), u.none()
    return _range_tri(spec.op, *b, _no_nulls(u, spec.col), int(spec.value))


def _mapkey_leaf(spec, u: _Units):
    """f only: the key is absent from the unit's exact key set (every row
    evaluates NULL), or the key's [kmin, kmax] excludes the literal. t is
    never certain — a row without the key evaluates NULL."""
    c = spec.col
    s = u.kinds.get(c)
    keys = u.get(f"{c}__keys")
    if s is None or s.kind != "map" or keys is None:
        return u.none(), u.none()
    valid, rows, pos = _list_hits(keys, [spec.key])
    f = valid.copy()
    f[rows] = False  # the key occurs in these units
    j = pos - _combined(keys).offsets.to_numpy()[rows]  # its index there
    es = _element_spec(s)
    v = _literal(spec.value, es)

    def entry(name):
        """(values, valid) of the key's entry in a kmin/kmax list, over
        the units holding the key."""
        raw = u.get(name)
        if raw is None:
            return None
        lst = _combined(raw)
        offs = lst.offsets.to_numpy()
        ok = lst.is_valid().to_numpy(zero_copy_only=False)[rows] & (
            j < offs[rows + 1] - offs[rows]
        )
        return _domain(lst.values.take(pa.array(offs[rows] + j, mask=~ok)), es.kind)

    lo, hi = entry(f"{c}__kmin"), entry(f"{c}__kmax")
    if v is not None and lo is not None and hi is not None:
        f[rows] = _range_tri(spec.op, lo, hi, np.ones(rows.size, dtype=bool), v)[1]
    return u.none(), f


# leaves whose evidence is a [min, max] range of the column itself; an
# all-null chunk decides these (``_Units.null_units_decide``)
_MINMAX_LEAVES = {"Cmp": _cmp_leaf, "InList": _inlist_leaf, "StartsWith": _startswith_leaf}
_NESTED_LEAVES = {
    "ArrayAny": _arrayany_leaf, "ArrayLen": _arraylen_leaf, "MapKeyCmp": _mapkey_leaf,
}


def _tri(spec, u: _Units):
    """(t, f) bool arrays over the units; Kleene connectives. Each leaf
    is the numpy twin of its Catalyst ``not_true()``/``keep()`` form:
    t = NOT not_true, f = NOT keep."""
    from aisle_spark import filterspec as fs

    if isinstance(spec, fs.And):
        ts, fs_ = zip(*(_tri(p, u) for p in spec.parts))
        return np.logical_and.reduce(ts), np.logical_or.reduce(fs_)
    if isinstance(spec, fs.Or):
        ts, fs_ = zip(*(_tri(p, u) for p in spec.parts))
        return np.logical_or.reduce(ts), np.logical_and.reduce(fs_)
    if isinstance(spec, fs.Not):
        t, f = _tri(spec.inner, u)
        return f, t
    if isinstance(spec, fs.AlwaysTrue):
        return ~u.none(), u.none()
    if isinstance(spec, fs.Between):
        return _tri(spec._parts(), u)
    if isinstance(spec, fs.IsNull):
        nl = u.stat(f"{spec.col}__nulls", "int")
        if nl is None:
            return u.none(), u.none()
        t = nl[1] & (nl[0] == u.n_rows)  # no row FALSE for "IS NULL"
        f = nl[1] & (nl[0] == 0)
        return (f, t) if spec.negated else (t, f)
    name = type(spec).__name__
    if name in _NESTED_LEAVES:
        return _NESTED_LEAVES[name](spec, u)
    if name not in _MINMAX_LEAVES:
        return u.none(), u.none()  # Like / Regexp: residual-only, Unknown
    if isinstance(spec, fs.InList) and not spec.values:
        return u.none(), ~u.none()
    t, f = _MINMAX_LEAVES[name](spec, u)
    pts = _point_values(spec)
    if pts:  # dictionary and bloom evidence cover the lookup as a whole
        f = f | _dict_absent(u, spec.col, pts) | _bloom_absent(u, spec.col, pts)
    if u.null_units_decide:  # an all-null chunk: no row TRUE, none FALSE
        nl = u.stat(f"{spec.col}__nulls", "int")
        if nl is not None:
            an = nl[1] & (nl[0] == u.n_rows)
            t, f = t | an, f | an
    return t, f


def _chunk_lens(n: int) -> np.ndarray:
    k = n_chunks(n)
    lens = np.full(k, ROW_CHUNK, dtype=np.int64)
    if n % ROW_CHUNK:
        lens[-1] = n % ROW_CHUNK
    return lens


def chunk_keep(spec, row: dict, kinds, n_rows: int) -> np.ndarray:
    """keep[i] = chunk i may contain a matching row (~f). ``kinds`` maps
    column name -> ColumnSpec. A block whose mask is all-False is skipped
    before any payload decode."""

    def get(name: str):
        c, _, stat = name.rpartition("__")
        return row.get(f"{c}__chunk_{stat}") if stat in ("min", "max", "nulls") else None

    _, f = _tri(spec, _Units(get, _chunk_lens(n_rows), kinds, True))
    return ~f


def manifest_keep(spec, stats: pa.Table, kinds) -> np.ndarray:
    """keep[i] = manifest row i (one block) may hold a matching row — the
    block tier off the JVM, selecting exactly the blocks Catalyst's
    ``spec.keep()`` selects. ``stats`` holds ``n_rows`` and the
    ``stat_columns(spec)`` a manifest has, each in its stat type; a
    missing stat is Unknown."""
    names = set(stats.column_names)

    def get(name: str):
        return stats.column(name) if name in names else None

    _, f = _tri(spec, _Units(get, stats.column("n_rows").to_numpy(), kinds, False))
    return ~f


_LEAF_STATS = {
    "IsNull": ("nulls",),
    "ArrayAny": ("elem_min", "elem_max"),
    "ArrayLen": ("len_min", "len_max", "nulls"),
    "MapKeyCmp": ("keys", "kmin", "kmax"),
    **{name: ("min", "max", "nulls") for name in _MINMAX_LEAVES},
}


def stat_columns(spec) -> set[str]:
    """The manifest stat columns ``manifest_keep`` reads for ``spec`` —
    never a payload or chunk array, and a bloom only for a point lookup."""
    from aisle_spark import filterspec as fs

    if isinstance(spec, (fs.And, fs.Or)):
        return set().union(*map(stat_columns, spec.parts))
    if isinstance(spec, fs.Not):
        return stat_columns(spec.inner)
    if isinstance(spec, fs.Between):
        return stat_columns(spec._parts())
    stats = _LEAF_STATS.get(type(spec).__name__, ())
    if _point_values(spec):
        stats += ("dict", "bloom")
    return {f"{spec.col}__{st}" for st in stats}
