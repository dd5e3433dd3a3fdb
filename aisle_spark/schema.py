"""Engine schema model + deterministic synthetic token-table generator.

The engine input is any flat Spark schema built from the supported kinds
below; the primary table (BASELINE.json input_hint) is:

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Column kinds map Spark/Arrow types onto codec families. The blocks table
(the engine's "Parquet file": SURVEY.md §1.6) uses FLAT stats columns
(``{col}__min`` etc.) rather than nested structs so that Spark's own
parquet row-group statistics ALSO index them — pruning our manifest is a
plain Catalyst filter whose comparisons additionally push down to the
parquet scan of the blocks table (double-layer skipping, zero custom
planner code).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import types as T

# kinds: "int" (ints/bool/date), "float", "string", "binary", "timestamp",
# "duration", "decimal", "intlist", "floatlist", "map" (string-keyed)
_ARROW_KINDS = [
    (pa.types.is_boolean, "int"),
    (pa.types.is_integer, "int"),
    (pa.types.is_floating, "float"),
    (lambda t: pa.types.is_string(t) or pa.types.is_large_string(t), "string"),
    (
        lambda t: pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_fixed_size_binary(t),
        "binary",
    ),
    (pa.types.is_timestamp, "timestamp"),
    (pa.types.is_duration, "duration"),
    (pa.types.is_date, "int"),
]


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    kind: str  # int | float | string | timestamp | intlist
    arrow_type: pa.DataType

    @property
    def stat_type(self) -> pa.DataType:
        """Arrow type of the min/max stats columns."""
        if self.kind in ("intlist", "floatlist"):
            return self.arrow_type.value_type
        if self.kind == "binary":  # fixed-size values still stat as binary
            return pa.binary()
        return self.arrow_type


def map_value_kind(t: pa.DataType) -> str:
    """Codec/stat family of a map's VALUE type ("int" | "float" | "string")."""
    vt = t.item_type
    if pa.types.is_integer(vt) or pa.types.is_boolean(vt):
        return "int"
    if pa.types.is_floating(vt):
        return "float"
    if pa.types.is_string(vt) or pa.types.is_large_string(vt):
        return "string"
    raise TypeError(f"unsupported map value type {vt}")


def map_stat_type(t: pa.DataType) -> pa.DataType:
    """Arrow type of the per-key min/max stat entries."""
    return {"int": pa.int64(), "float": pa.float64(), "string": pa.string()}[
        map_value_kind(t)
    ]


def spec_for_field(field: pa.Field) -> ColumnSpec:
    t = field.type
    if pa.types.is_map(t):
        # string-keyed maps: the reference prunes dotted map paths via
        # per-key stats (/root/reference/src/prune/stats.rs:412-488,
        # tests/prune_list_map.rs map half); we mirror with a per-block
        # sorted key set + per-key value min/max under a cardinality cap
        if not (
            pa.types.is_string(t.key_type) or pa.types.is_large_string(t.key_type)
        ):
            raise TypeError(f"map key type {t.key_type} unsupported for {field.name}")
        map_value_kind(t)  # validates the value type
        return ColumnSpec(field.name, "map", t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if pa.types.is_integer(t.value_type):
            return ColumnSpec(field.name, "intlist", t)
        if pa.types.is_floating(t.value_type):
            # embeddings: float bit patterns routed through the int codecs
            return ColumnSpec(field.name, "floatlist", t)
        raise TypeError(f"unsupported list value type {t.value_type} for {field.name}")
    if pa.types.is_decimal(t):
        # money columns (aisle prunes decimals too,
        # /root/reference/src/prune/stats.rs:365-410): unscaled int64
        # through the int codec stack — exact, no float rounding
        if t.precision > 18:
            raise TypeError(
                f"decimal precision {t.precision} > 18 unsupported for {field.name}"
            )
        return ColumnSpec(field.name, "decimal", t)
    for pred, kind in _ARROW_KINDS:
        if pred(t):
            if kind == "timestamp":
                # Spark's arrow boundary always speaks timestamp[us, UTC]
                # regardless of what to_arrow_schema reports
                t = pa.timestamp("us", tz="UTC")
            elif kind == "duration":
                t = pa.duration("us")  # Spark DayTimeIntervalType is µs
            return ColumnSpec(field.name, kind, t)
    raise TypeError(f"unsupported column type {t} for {field.name}")


def specs_for_schema(schema: pa.Schema) -> list[ColumnSpec]:
    """Flat engine specs; struct columns are flattened to dotted leaf
    names plus a ``{name}.__defined`` bool leaf carrying the struct's own
    validity — aisle's schema-path resolution analog
    (/root/reference/src/compile.rs:369-518, tests/prune_nested.rs)."""
    out: list[ColumnSpec] = []
    for i in range(len(schema)):
        out.extend(_specs_for_field(schema.field(i), ""))
    return out


def _specs_for_field(field: pa.Field, prefix: str) -> list[ColumnSpec]:
    name = prefix + field.name
    t = field.type
    if pa.types.is_struct(t):
        specs = [ColumnSpec(f"{name}.__defined", "int", pa.bool_())]
        for i in range(t.num_fields):
            specs.extend(_specs_for_field(t.field(i), name + "."))
        return specs
    return [spec_for_field(pa.field(name, t, nullable=field.nullable))]


def flatten_table(tbl: pa.Table) -> pa.Table:
    """Explode struct columns into dotted leaf columns (+ __defined).
    Leaves under a NULL struct slot are canonicalized to NULL so the
    round-trip is exact regardless of what the writer stored there."""
    if not any(pa.types.is_struct(f.type) for f in tbl.schema):
        return tbl
    import pyarrow.compute as pc

    arrays: list[pa.Array] = []
    fields: list[pa.Field] = []

    import numpy as np

    def emit(arr: pa.Array, field: pa.Field, prefix: str) -> None:
        name = prefix + field.name
        if pa.types.is_struct(field.type):
            valid = arr.is_valid()
            arrays.append(valid)
            fields.append(pa.field(f"{name}.__defined", pa.bool_()))
            null_idx = None
            if arr.null_count:
                # take-with-null-indices canonicalizes children under NULL
                # struct slots to NULL for ANY child type (list, map,
                # nested struct — pc.if_else lacks kernels for several)
                null_idx = pc.if_else(
                    valid,
                    pa.array(np.arange(len(arr), dtype=np.int64)),
                    pa.scalar(None, pa.int64()),
                )
            for i in range(field.type.num_fields):
                ch = field.type.field(i)
                child = arr.field(i)
                if null_idx is not None:
                    child = child.take(null_idx)
                emit(child, ch, name + ".")
        else:
            arrays.append(arr)
            fields.append(pa.field(name, field.type, nullable=True))

    for i, f in enumerate(tbl.schema):
        col = tbl.column(i)
        emit(col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col, f, "")
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def leaves_under(schema: pa.Schema, name: str) -> list[str]:
    """All flat leaf names (incl. __defined) belonging to top-level or
    nested column ``name``; [name] when it is already a plain leaf."""
    specs = specs_for_schema(schema)
    exact = [s.name for s in specs if s.name == name]
    if exact:
        return exact
    under = [
        s.name for s in specs if s.name.startswith(name + ".")
    ]
    if not under:
        raise KeyError(name)
    return under


@dataclass(frozen=True)
class ReadPlan:
    """What one read decodes and emits: aisle's leaf-granular
    ProjectionMask (/root/reference/src/prune/result.rs:59-86), held as
    (partial) Arrow fields.

    * ``out`` — the projected schema; a dotted name ("meta.lang") yields
      a PARTIAL struct under its top-level name.
    * ``decoded`` — ``out`` plus the predicate leaves: a predicate-only
      column is appended, a nested predicate leaf joins its struct or an
      appended predicate-only partial struct.
    * ``leaves`` — the flat decode set in spec order: every leaf
      ``decoded`` carries plus each present struct's ``__defined``.
    * ``columns`` — the block-table columns to read: each leaf's
      payload, then the predicate leaves' chunk stats."""

    out: pa.Schema
    decoded: pa.Schema
    leaves: list[str]
    columns: list[str]


def read_plan(
    schema: pa.Schema, columns: list[str] | None, pred_leaves
) -> ReadPlan:
    """The one projection + predicate -> decode work rule of ``scan()``
    and the DataSource readers. ``columns`` names top-level columns or
    dotted nested paths (None = every column); ``pred_leaves`` are flat
    spec names. Raises KeyError naming an unknown column or leaf."""
    specs = specs_for_schema(schema)
    tops = {f.name: f for f in schema}
    paths: dict[str, list[tuple]] = {}
    for c in columns or tops:
        top, rest = _field_path(tops, c)
        paths.setdefault(top, []).append(rest)
    out = pa.schema([_prune_field(tops[t], ps) for t, ps in paths.items()])
    pred = sorted(set(pred_leaves))
    spec_names = {s.name for s in specs}
    for p in pred:
        if p not in spec_names:
            raise KeyError(p)
        top, rest = _field_path(tops, p)
        paths.setdefault(top, []).append(rest)
    decoded = pa.schema([_prune_field(tops[t], ps) for t, ps in paths.items()])
    have = {n for f in decoded for n in _field_leaves(f, "")}
    leaves = [s.name for s in specs if s.name in have]
    return ReadPlan(
        out,
        decoded,
        leaves,
        [f"{c}__payload" for c in leaves] + chunk_stat_columns(specs, pred),
    )


def _field_path(tops: dict, name: str) -> tuple[str, tuple]:
    """(top-level name, child-name path below it) of column ``name``."""
    if name in tops:
        return name, ()
    top, *rest = name.split(".")
    if top not in tops:
        raise KeyError(name)
    t = tops[top].type
    for part in rest:
        if not pa.types.is_struct(t) or t.get_field_index(part) < 0:
            raise KeyError(name)
        t = t.field(part).type
    return top, tuple(rest)


def _prune_field(field: pa.Field, paths: list[tuple]) -> pa.Field:
    """``field`` cut down to the union of ``paths`` (an empty path keeps
    the whole subtree); children stay in schema order."""
    if () in paths:
        return field
    children = []
    for ch in field.type:
        sub = [p[1:] for p in paths if p[0] == ch.name]
        if sub:
            children.append(_prune_field(ch, sub))
    return pa.field(field.name, pa.struct(children), field.nullable)


def _field_leaves(field: pa.Field, prefix: str) -> list[str]:
    """Flat leaf names a (possibly partial) field carries, each struct's
    ``__defined`` included."""
    name = prefix + field.name
    if not pa.types.is_struct(field.type):
        return [name]
    out = [f"{name}.__defined"]
    for ch in field.type:
        out += _field_leaves(ch, name + ".")
    return out


def assemble_struct(
    field: pa.Field, prefix: str, leaves: dict[str, pa.Array], needed: set[str]
) -> tuple[pa.Array, pa.DataType]:
    """Rebuild a (possibly partial) StructArray from decoded flat leaves.
    Only children with a needed leaf are included, so a predicate-only
    struct carries just its predicate fields; the returned type reflects
    what was actually assembled."""
    import pyarrow.compute as pc

    name = prefix + field.name
    children: list[pa.Array] = []
    cfields: list[pa.Field] = []
    for i in range(field.type.num_fields):
        ch = field.type.field(i)
        chname = f"{name}.{ch.name}"
        if pa.types.is_struct(ch.type):
            if any(n == chname or n.startswith(chname + ".") for n in needed):
                arr, t = assemble_struct(ch, name + ".", leaves, needed)
                children.append(arr)
                cfields.append(pa.field(ch.name, t))
        elif chname in needed:
            children.append(leaves[chname])
            cfields.append(pa.field(ch.name, ch.type))
    defined = leaves[f"{name}.__defined"]
    mask = pc.invert(defined)
    out = pa.StructArray.from_arrays(
        children, fields=cfields, mask=mask
    )
    return out, pa.struct(cfields)


# dictionary-hint threshold: blocks record the exact distinct set for a
# column when its block cardinality is <= this (aisle's DictionaryHint
# evidence, /root/reference/src/prune/dictionary.rs:8-70 — exact set or
# nothing).
DICT_HINT_MAX = 64

# map-key stats cap: blocks record the sorted distinct key set + per-key
# value min/max when block key cardinality is <= this; above it all map
# evidence is NULL (Unknown => keep) — same exact-or-nothing discipline as
# the dictionary hint (/root/reference/src/prune/dictionary.rs:8-70)
MAP_KEYS_MAX = 64


def blocks_arrow_schema(specs: list[ColumnSpec]) -> pa.Schema:
    """Arrow schema of one encoded-block row (manifest + payload fused)."""
    fields = [
        pa.field("part_id", pa.int32()),
        pa.field("block_id", pa.int64()),
        pa.field("n_rows", pa.int32()),
    ]
    for s in specs:
        c = s.name
        fields.append(pa.field(f"{c}__codec", pa.string()))
        fields.append(pa.field(f"{c}__payload", pa.binary()))
        fields.append(pa.field(f"{c}__nulls", pa.int64()))
        fields.append(pa.field(f"{c}__raw_bytes", pa.int64()))
        fields.append(pa.field(f"{c}__enc_bytes", pa.int64()))
        if s.kind in ("intlist", "floatlist"):
            vt = s.arrow_type.value_type
            fields += [
                pa.field(f"{c}__elem_min", vt),
                pa.field(f"{c}__elem_max", vt),
                pa.field(f"{c}__len_min", pa.int64()),
                pa.field(f"{c}__len_max", pa.int64()),
            ]
        elif s.kind == "map":
            # per-block sorted key set (dict-hint analog: a key absent
            # from a present set occurs in NO row => definitely false)
            # + per-key value min/max, all three NULL above MAP_KEYS_MAX
            st = map_stat_type(s.arrow_type)
            fields += [
                pa.field(f"{c}__keys", pa.list_(pa.string())),
                pa.field(f"{c}__kmin", pa.list_(st)),
                pa.field(f"{c}__kmax", pa.list_(st)),
            ]
        else:
            fields += [
                pa.field(f"{c}__min", s.stat_type),
                pa.field(f"{c}__max", s.stat_type),
            ]
            if s.kind == "string":
                fields.append(pa.field(f"{c}__dict", pa.list_(pa.string())))
                fields.append(pa.field(f"{c}__bloom", pa.list_(pa.int64())))
            if s.kind == "binary":
                fields.append(pa.field(f"{c}__dict", pa.list_(pa.binary())))
                fields.append(pa.field(f"{c}__bloom", pa.list_(pa.int64())))
            if s.kind in ("int", "timestamp", "duration", "decimal"):
                fields.append(pa.field(f"{c}__distinct", pa.int64()))
            if s.kind in ("int", "duration", "decimal"):
                # per-block SUM of non-null values (unscaled for decimal),
                # overflow-guarded at encode (NULL = unknown => that block
                # decodes in scan_sum) — feeds the stats-only SUM pushdown
                fields.append(pa.field(f"{c}__sum", pa.int64()))
            # per-chunk (page-index analog) stats, consumed by the
            # in-reader refinement — aisle's page-level granularity
            # (/root/reference/src/prune/page.rs:71-137)
            ct = _CHUNK_STAT_TYPES[s.kind]
            fields += [
                pa.field(f"{c}__chunk_min", pa.list_(ct)),
                pa.field(f"{c}__chunk_max", pa.list_(ct)),
                pa.field(f"{c}__chunk_nulls", pa.list_(pa.int32())),
            ]
    return pa.schema(fields)


def file_stats_schema(specs: list[ColumnSpec]) -> pa.Schema:
    """Arrow schema of one file's stats row — the file tier's unit, folded
    at commit from the file's blocks (``chunkstats.fold_blocks``):
    ``file`` (manifest-relative name), ``n_rows``, ``__bytes`` (file
    size), then per leaf the block schema's ``{c}__min``/``{c}__max``
    (scalar leaves, in the stat type) and ``{c}__nulls``, or
    ``{c}__keys`` (maps), and ``{c}__enc_bytes``."""
    block = blocks_arrow_schema(specs)
    names = []
    for s in specs:
        c = s.name
        if s.kind == "map":
            names.append(f"{c}__keys")
        elif s.kind not in ("intlist", "floatlist"):
            names += [f"{c}__min", f"{c}__max", f"{c}__nulls"]
        names.append(f"{c}__enc_bytes")
    return pa.schema(
        [
            pa.field("file", pa.string()),
            pa.field("n_rows", pa.int64()),
            pa.field("__bytes", pa.int64()),
            *(block.field(n) for n in names),
        ]
    )


# element type of the per-chunk min/max lists of each scalar kind
_CHUNK_STAT_TYPES = {
    "int": pa.int64(),
    "timestamp": pa.int64(),
    "duration": pa.int64(),
    "decimal": pa.int64(),  # unscaled
    "float": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
}


def chunk_stat_columns(specs: list[ColumnSpec], leaves: list[str]) -> list[str]:
    """The ``{c}__chunk_min/max/nulls`` columns of the ``leaves`` that
    carry them (the scalar kinds), in ``leaves`` order: what a reader
    ships next to the payloads so it can skip chunks before decoding."""
    kinds = {s.name: s.kind for s in specs}
    return [
        f"{c}__chunk_{stat}"
        for c in leaves
        if kinds.get(c) in _CHUNK_STAT_TYPES
        for stat in ("min", "max", "nulls")
    ]


def blocks_spark_schema(specs: list[ColumnSpec]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, _spark_type(f.type), True)
            for f in blocks_arrow_schema(specs)
        ]
    )


def _spark_type(t: pa.DataType) -> T.DataType:
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_int16(t):
        return T.ShortType()
    if pa.types.is_int8(t):
        return T.ByteType()
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return T.BinaryType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_timestamp(t):
        return T.TimestampType()
    if pa.types.is_date32(t):
        return T.DateType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_duration(t):
        return T.DayTimeIntervalType()
    if pa.types.is_fixed_size_binary(t):
        return T.BinaryType()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(_spark_type(t.value_type), True)
    if pa.types.is_map(t):
        return T.MapType(_spark_type(t.key_type), _spark_type(t.item_type), True)
    if pa.types.is_struct(t):
        return T.StructType(
            [
                T.StructField(t.field(i).name, _spark_type(t.field(i).type), True)
                for i in range(t.num_fields)
            ]
        )
    raise TypeError(str(t))


# ---------------------------------------------------------------------------
# deterministic synthetic token table (FIXTURES.md F1/F5)
# ---------------------------------------------------------------------------

TOKEN_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)

SOURCES = ["web", "books", "code", "wiki", "forums"]
# monster skew: "web" dominates (F5) so unsalted partitioning is lopsided
SOURCE_P = [0.70, 0.10, 0.08, 0.07, 0.05]
VOCAB = 1 << 17  # 131072 token ids


CHUNK = 8192  # generation unit; rows are deterministic per absolute chunk


def synth_batch(start: int, n: int, seed: int = 42) -> pa.RecordBatch:
    """Generate rows [start, start+n) deterministically. Rows are produced
    in fixed CHUNK-aligned units seeded by absolute chunk index, so ANY
    partitioning/batching (local[8] vs local[32], different Arrow batch
    sizes) yields the identical table. All numpy; zero per-row Python."""
    import numpy as np

    first, last = start // CHUNK, (start + n - 1) // CHUNK
    parts = []
    for ci in range(first, last + 1):
        lo, hi = ci * CHUNK, (ci + 1) * CHUNK
        full = _synth_chunk(ci, seed)
        a, b = max(start, lo) - lo, min(start + n, hi) - lo
        parts.append(full.slice(a, b - a))
    tbl = pa.Table.from_batches(parts).combine_chunks()
    return tbl.to_batches()[0] if tbl.num_rows else pa.RecordBatch.from_pylist([], TOKEN_SCHEMA)


def _synth_chunk(chunk_idx: int, seed: int) -> pa.RecordBatch:
    import numpy as np

    rng = np.random.default_rng(np.random.SeedSequence([seed, chunk_idx]))
    n = CHUNK
    start = chunk_idx * CHUNK
    ids = np.arange(start, start + n, dtype=np.int64)
    src_idx = rng.choice(len(SOURCES), n, p=SOURCE_P)
    n_tok = np.clip(rng.zipf(1.3, n), 1, 8192).astype(np.int32)

    # token regimes per row exercise every codec: 0=runs, 1=small-range,
    # 2=low-card dict, 3=uniform (incompressible)
    regime = rng.integers(0, 4, n)
    total = int(n_tok.sum())
    offsets = np.concatenate(([0], np.cumsum(n_tok, dtype=np.int64)))
    values = np.empty(total, dtype=np.int32)
    row_of = np.repeat(np.arange(n), n_tok)
    reg_of = regime[row_of]
    m = reg_of == 0  # runs: repeat a handful of ids
    if m.any():
        base = rng.integers(0, 64, m.sum()).astype(np.int32)
        step = (np.arange(m.sum()) // 13).astype(np.int32)
        values[m] = (base + step) % 64
    m = reg_of == 1  # small range on a big base
    if m.any():
        values[m] = 100_000 + rng.integers(0, 16, m.sum()).astype(np.int32)
    m = reg_of == 2  # low cardinality
    if m.any():
        palette = np.array([7, 19, 4242, 9001, 77777], dtype=np.int32)
        values[m] = palette[rng.integers(0, palette.size, m.sum())]
    m = reg_of == 3  # uniform over vocab
    if m.any():
        values[m] = rng.integers(0, VOCAB, m.sum()).astype(np.int32)

    src = np.array(SOURCES)[src_idx]
    doc_id = np.char.add(np.char.add(src, "-"), np.char.zfill(ids.astype("U12"), 12))
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int32())
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_id.tolist(), type=pa.string()),
            tokens,
            pa.array(n_tok, type=pa.int32()),
            pa.array(src.tolist(), type=pa.string()),
        ],
        schema=TOKEN_SCHEMA,
    )


def synth_token_df(spark, n_rows: int, seed: int = 42, slices: int | None = None):
    """Distributed deterministic token table as a Spark DataFrame."""
    slices = slices or max(8, n_rows // 50_000)
    rng_df = spark.range(0, n_rows, 1, slices)

    def gen(it):
        for batch in it:
            ids = batch.column(0).to_numpy()
            if ids.size == 0:
                continue
            # contiguous runs within the batch keep determinism per (start,n)
            start = int(ids[0])
            yield synth_batch(start, ids.size, seed)

    ddl = "doc_id string, tokens array<int>, n_tok int, source string"
    return rng_df.mapInArrow(gen, ddl)
