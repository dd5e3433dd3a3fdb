"""``spark.read.format("aisle")`` / ``df.write.format("aisle")`` — the
engine as a first-class Spark data source (PySpark 4 Python DataSource
API), so users drive it through the ordinary reader/writer surface
instead of calling :func:`aisle_spark.pipeline.scan` directly.

Read path (the reference's prune→selection→decode lifecycle,
/root/reference/src/prune/api.rs, re-expressed in the DataSource
contract):

* ``pushFilters`` translates Spark's pushed-down filters into the
  engine's pruning IR (filterspec Specs). Every filter is RETURNED to
  Spark for re-evaluation — pushed filters are used as *advisory*
  pruning evidence (the standard DSv2 posture), so the engine never has
  to promise exact evaluation and correctness always rests on Catalyst's
  own residual filter.
* ``partitions`` prunes at PLANNING time: whole files drop on their
  manifest-list bounds (``file_keep``), then the surviving files'
  manifest stat columns are evaluated by the numpy block tier
  (``chunkstats.manifest_keep`` — the same tri-state the reader runs per
  chunk, differentially tested against Catalyst's ``keep()``), producing
  one input partition per file that still has surviving blocks,
  carrying the survivors' row numbers. Blocks that are definitely-false
  never get a task scheduled.
* ``read`` decodes surviving blocks through the very same plan the
  ``scan()`` path uses (``pipeline._decode_fn``: chunk-level skip +
  in-reader row mask + struct reassembly) and yields Arrow batches.

Write path: each task slices its Arrow stream into sorted blocks
(``pipeline._order_and_slice`` + ``blocks.encode_block``), writes ONE
parquet file, and reports it in its commit message; ``commit`` publishes
the file list into ``_aisle_files.json`` plus the Arrow schema sidecar —
the same manifest-commit protocol the direct-write encode uses, so
readers never observe files from failed or speculative attempts.

Scale notes: planning reads ONLY the manifest stat columns the predicate
needs (parquet projection pushdown; payload bytes untouched) — the same
footer-sized I/O the reference's metadata load performs — one file per
task of a bounded thread pool, locally and on object stores alike. At
10^5+ files the per-file partition list stays O(files); small files
(< 4 MB by their manifest ``__bytes``) bin-pack sequentially into
combined ~32 MB partitions so a not-yet-OPTIMIZEd streaming table never
schedules 10^5 near-empty tasks. No driver-side collect touches payload
data anywhere.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull as DSIsNull,
    LessThan,
    LessThanOrEqual,
    Not as DSNot,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from aisle_spark.filterspec import (
    And,
    Between,
    Cmp,
    InList,
    IsNull,
    Like,
    Not,
    Spec,
    StartsWith,
    utc_normalize,
)

_SCHEMA_SIDECAR = "_aisle_schema.arrow"
_FILES_MANIFEST = "_aisle_files.json"


# ---------------------------------------------------------------------------
# filter translation: Spark pushed filters -> pruning IR
# ---------------------------------------------------------------------------

_CMP_FILTERS = {
    EqualTo: "eq",
    GreaterThan: "gt",
    GreaterThanOrEqual: "ge",
    LessThan: "lt",
    LessThanOrEqual: "le",
}


def filter_to_spec(f: Filter, leaf_names: set[str]) -> Spec | None:
    """One pushed filter -> a Spec, or None when untranslatable (the
    filter is simply not used as pruning evidence then — never wrong,
    because every filter is re-evaluated by Spark regardless)."""
    if isinstance(f, DSNot):
        inner = filter_to_spec(f.child, leaf_names)
        return Not(inner) if inner is not None else None
    attr = ".".join(f.attribute)
    if attr not in leaf_names:
        return None
    for cls, op in _CMP_FILTERS.items():
        if isinstance(f, cls):
            return Cmp(attr, op, f.value) if f.value is not None else None
    if isinstance(f, EqualNullSafe):
        # col <=> v: for non-null v the selected rows equal plain eq
        # (NULL rows fail both); for v IS NULL it is exactly IS NULL
        return IsNull(attr) if f.value is None else Cmp(attr, "eq", f.value)
    if isinstance(f, In):
        vals = tuple(f.value)
        if not vals or any(v is None for v in vals):
            return None
        return InList(attr, vals)
    if isinstance(f, DSIsNull):
        return IsNull(attr)
    if isinstance(f, IsNotNull):
        return IsNull(attr, negated=True)
    if isinstance(f, (StringStartsWith, StringEndsWith, StringContains)):
        v = f.value
        if not isinstance(v, str) or "%" in v or "_" in v:
            return None  # no ESCAPE support in the LIKE residual
        if isinstance(f, StringStartsWith):
            return StartsWith(attr, v)
        if isinstance(f, StringEndsWith):
            return Like(attr, f"%{v}")
        return Like(attr, f"%{v}%")
    return None


def filters_to_spec(filters: Sequence[Filter], leaf_names: set[str]) -> Spec | None:
    parts = [s for s in (filter_to_spec(f, leaf_names) for f in filters) if s is not None]
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else And(parts)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


@dataclass
class AislePartition(InputPartition):
    path: str
    rows: tuple | None  # surviving manifest row numbers; None = all
    # additional (path, rows) pairs PACKED into this task: at 10^5
    # small files (a streaming sink's natural state before OPTIMIZE) one
    # task per file means 10^5 task schedulings for KB of work each —
    # small files bin-pack sequentially (name order preserves any sort
    # clustering) up to _PACK_MAX_BYTES per task
    more: tuple = ()

    def entries(self) -> tuple:
        return ((self.path, self.rows), *self.more)


def planned_files(parts: Sequence["AislePartition"]) -> list[str]:
    """All file paths a plan will read, unpacking combined partitions —
    the file-level pruning observable (tests and diagnostics)."""
    return [path for p in parts for path, _rows in p.entries()]


# only files below _PACK_SMALL_BYTES pack (normal-sized files keep one
# task each so healthy tables lose no parallelism); packed tasks stop
# growing at _PACK_MAX_BYTES
_PACK_SMALL_BYTES = 4 * 1024 * 1024
_PACK_MAX_BYTES = 32 * 1024 * 1024


def _pack_partitions(
    entries: list[tuple[str, tuple | None]], fstats: dict
) -> list[AislePartition]:
    """Sequential first-fit packing of small files (size = the manifest's
    per-file ``__bytes`` stat; unknown size = never packed) into combined
    partitions. Sequential, not best-fit: committed file lists are name-
    sorted, so neighbors cover adjacent value ranges under clustering and
    a packed task stays range-local."""
    out: list[AislePartition] = []
    cur: list[tuple[str, tuple | None]] = []
    cur_b = 0

    def flush() -> None:
        nonlocal cur, cur_b
        if cur:
            out.append(AislePartition(cur[0][0], cur[0][1], tuple(cur[1:])))
            cur, cur_b = [], 0

    for path, rows in entries:
        b = (fstats.get(path) or {}).get("__bytes")
        if not isinstance(b, int) or b >= _PACK_SMALL_BYTES:
            flush()
            out.append(AislePartition(path, rows))
            continue
        if cur and cur_b + b > _PACK_MAX_BYTES:
            flush()
        cur.append((path, rows))
        cur_b += b
    flush()
    return out


def _fs_of(path: str):
    """URI paths route every filesystem operation through pyarrow.fs —
    the object-store mode of the direct-write encode, extended to this
    surface. Plain paths (and file: URIs, which Spark DDL normalizes to
    the single-slash ``file:/x`` form) stay on the local os/open fast
    path. Returns (fs | None, fs-local path)."""
    if path.startswith("file:/") and not path.startswith("file://"):
        # Spark DDL/catalog normalization: file:/x == local /x
        return None, path[len("file:"):]
    if "://" in path:
        from pyarrow import fs as pafs

        return pafs.FileSystem.from_uri(path)
    return None, path


# bounded concurrency for planning-time metadata fetches against object
# stores: high enough to hide per-request latency, low enough to stay
# polite to the store and bounded in memory (each fetch is footer-sized)
_PLANNING_IO_THREADS = 16

# per-file cap on explicit surviving-block row lists in the plan: above
# this the partition ships rows=None and the reader decodes the whole
# file, skipping only 512-row chunks (``_decode_file`` runs the chunk
# tier, not the block tier; a bare map/list predicate has no chunk tier
# and decodes in full) — Spark's residual filter keeps results exact,
# and a weakly-selective predicate skips few blocks anyway. 4096 blocks
# ≈ 16M rows per file at default block_rows — plans stay KB-sized
# regardless of table size.
_PARTITION_ROWS_CAP = 4096


def _parallel_fetch(fn, items: list):
    """Order-preserving bounded-concurrency map for object-store metadata
    I/O. Planning at 10^5 files must overlap the ~50ms-per-request store
    round-trips; compute stays trivial so threads (GIL-released inside
    pyarrow I/O) are the right tool. Exceptions propagate — planning
    must fail loudly, never silently skip a file."""
    if len(items) <= 1:
        return [fn(i) for i in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(_PLANNING_IO_THREADS, len(items))
    ) as ex:
        return list(ex.map(fn, items))


def read_stat_columns(fs, paths: list[str], columns: Sequence[str]) -> list[pa.Table]:
    """Each file's ``columns`` (those it has, in ``columns`` order) as one
    table per path — one open per file under the bounded planning thread
    pool. The one reader of manifest stat columns: block-tier planning
    and the file-stat recompute both use it, so payload and chunk-array
    bytes never move."""
    import pyarrow.parquet as pq

    def project(src) -> pa.Table:
        with pq.ParquetFile(src) as pf:
            have = set(pf.schema_arrow.names)
            return pf.read(columns=[c for c in columns if c in have])

    def one(path: str) -> pa.Table:
        if fs is None:
            return project(path)
        with fs.open_input_file(path) as src:
            return project(src)

    return _parallel_fetch(one, paths)


def _exists(fs, path: str) -> bool:
    if fs is None:
        return os.path.exists(path)
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type != pafs.FileType.NotFound


def _manifest_of(
    fs, path: str, version: int | None = None
) -> tuple[list[str], dict]:
    """(full file paths, per-file stats keyed by full path); ``version``
    pins a committed snapshot (time travel)."""
    from aisle_spark.pipeline import _fs_list, _fs_read_json, read_snapshot

    root = path.rstrip("/")
    if version is not None:
        m = read_snapshot(fs, root, version)
    else:
        manifest = f"{root}/{_FILES_MANIFEST}"
        if not _exists(fs, manifest):
            return [p for p, _size in _fs_list(fs, path, ".parquet")], {}
        from aisle_spark.pipeline import load_manifest

        m = load_manifest(fs, root)
    stats = m.get("file_stats", {})
    return (
        [f"{root}/{f}" for f in m["files"]],
        {f"{root}/{k}": v for k, v in stats.items()},
    )


def _committed_files(fs, path: str) -> list[str]:
    return _manifest_of(fs, path)[0]


def _read_sidecar_schema(fs, path: str) -> pa.Schema:
    target = f"{path.rstrip('/')}/{_SCHEMA_SIDECAR}"
    if fs is None:
        with open(target, "rb") as fh:
            return pa.ipc.read_schema(pa.py_buffer(fh.read()))
    with fs.open_input_stream(target) as inp:
        return pa.ipc.read_schema(pa.py_buffer(inp.read()))


def _validate_exact_where(spec: Spec, arrow_schema: pa.Schema) -> None:
    """The ``where`` option is EXACT (Spark never re-evaluates it), so it
    is restricted to the predicate subset the in-reader row mask fully
    covers: scalar top-level columns, rowmask-supported node types."""
    from aisle_spark.filterspec import AlwaysTrue, Between, MapKeyCmp, Or
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(arrow_schema)
    scalar = {
        s.name
        for s in specs
        if s.kind not in ("intlist", "floatlist", "map") and "." not in s.name
    }
    maps = {s.name for s in specs if s.kind == "map" and "." not in s.name}

    def walk(node: Spec) -> None:
        if isinstance(node, (And, Or)):
            for p in node.parts:
                walk(p)
            return
        if isinstance(node, Not):
            walk(node.inner)
            return
        if isinstance(node, AlwaysTrue):
            return
        if isinstance(node, MapKeyCmp):
            # exact in-reader evaluation via pc.map_lookup (rowmask)
            if node.col not in maps:
                raise ValueError(
                    f"where option: {node.col!r} is not a top-level map "
                    "column"
                )
            return
        if not isinstance(node, (Cmp, Between, InList, IsNull, StartsWith, Like)):
            raise ValueError(
                f"where option: {type(node).__name__} predicates are not "
                "supported here (use the library scan() for array "
                "predicates, or a DataFrame .filter() which Spark evaluates)"
            )
        bad = node.columns() - scalar
        if bad:
            raise ValueError(
                f"where option: columns {sorted(bad)} are not top-level "
                "scalar columns; use a DataFrame .filter() instead"
            )

    walk(spec)


def coerce_temporals(spec: Spec, arrow_schema: pa.Schema) -> Spec:
    """Copy of ``spec`` with DATE literals on timestamp columns rewritten
    to naive midnight datetimes — the same instant Catalyst's
    ``CAST(date AS timestamp)`` produces once ``utc_normalize`` applies
    the driver time zone. Without this the authoritative in-reader row
    mask (the ``where`` option — Spark never re-checks it) hits
    ``pa.scalar(date, timestamp)`` and the task dies (ADVICE r4 high,
    second surface of the date/timestamp domain mix)."""
    import datetime as _dt

    from aisle_spark.filterspec import Between, InList, Or
    from aisle_spark.schema import specs_for_schema

    ts_cols = {
        s.name for s in specs_for_schema(arrow_schema) if s.kind == "timestamp"
    }

    def fix(v, c):
        if (
            c in ts_cols
            and isinstance(v, _dt.date)
            and not isinstance(v, _dt.datetime)
        ):
            return _dt.datetime(v.year, v.month, v.day)
        return v

    def walk(node: Spec) -> Spec:
        if isinstance(node, Cmp):
            return Cmp(node.col, node.op, fix(node.value, node.col))
        if isinstance(node, Between):
            return Between(
                node.col, fix(node.low, node.col), fix(node.high, node.col)
            )
        if isinstance(node, InList):
            return InList(node.col, tuple(fix(v, node.col) for v in node.values))
        if isinstance(node, And):
            return And([walk(p) for p in node.parts])
        if isinstance(node, Or):
            return Or([walk(p) for p in node.parts])
        if isinstance(node, Not):
            return Not(walk(node.inner))
        return node

    return walk(spec)


def _project_schema(arrow: pa.Schema, columns: list[str] | None) -> pa.Schema:
    """Projected output schema; dotted names ("meta.lang") select nested
    leaves and produce PARTIAL structs — the reader then decodes only
    those leaves (plus validity chains), the leaf-granular
    ProjectionMask semantics shared with ``scan(columns=...)`` (r4)."""
    if not columns:
        return arrow
    from aisle_spark.schema import leaves_under, specs_for_schema

    by_name = {arrow.field(i).name: arrow.field(i) for i in range(len(arrow))}
    spec_names = {s.name for s in specs_for_schema(arrow)}
    needed: dict[str, set] = {}
    order: list[str] = []
    whole: set[str] = set()
    for c in columns:
        if c in by_name:
            top = c
            whole.add(c)
        elif "." in c:
            top = c.split(".")[0]
            tfld = by_name.get(top)
            if tfld is None or not pa.types.is_struct(tfld.type):
                raise ValueError(f"columns option: unknown columns [{c!r}]")
            try:
                ls = leaves_under(arrow, c)
            except KeyError:
                raise ValueError(f"columns option: unknown columns [{c!r}]")
            parts = c.split(".")
            chain = [
                ".".join(parts[:d]) + ".__defined"
                for d in range(1, len(parts))
                if ".".join(parts[:d]) + ".__defined" in spec_names
            ]
            needed.setdefault(top, set()).update([*ls, *chain])
        else:
            raise ValueError(f"columns option: unknown columns [{c!r}]")
        if top not in order:
            order.append(top)
    from aisle_spark.pipeline import _partial_struct_type

    fields = []
    for top in order:
        f = by_name[top]
        if top in whole or not pa.types.is_struct(f.type):
            fields.append(f)
        else:
            fields.append(
                pa.field(top, _partial_struct_type(f, "", needed[top]), f.nullable)
            )
    return pa.schema(fields)


def _partial_leaves(spec_names: set, fld: pa.Field, prefix: str = "") -> list[str]:
    """Dotted leaf + validity-leaf names described by a (possibly
    PARTIAL) struct field — the decode set of exactly what the field's
    type carries, nothing more."""
    name = prefix + fld.name
    if not pa.types.is_struct(fld.type):
        return [name]
    out = []
    d = f"{name}.__defined"
    if d in spec_names:
        out.append(d)
    for i in range(fld.type.num_fields):
        out += _partial_leaves(spec_names, fld.type.field(i), name + ".")
    return out


class AisleReader(DataSourceReader):
    def __init__(self, path: str, where: str | None = None,
                 columns: list[str] | None = None,
                 version: int | None = None):
        self.version = version
        self.fs, self.path = _fs_of(path)
        self.arrow_schema = _read_sidecar_schema(self.fs, self.path)
        self.out_schema = _project_schema(self.arrow_schema, columns)
        self.spec: Spec | None = None
        self.exact_where: Spec | None = None
        if where:
            from aisle_spark.sqlcompile import parse_where

            self.exact_where = parse_where(where)
            _validate_exact_where(self.exact_where, self.arrow_schema)
            self.exact_where = coerce_temporals(
                self.exact_where, self.arrow_schema
            )

    def _prune_spec(self) -> Spec | None:
        parts = [s for s in (self.spec, self.exact_where) if s is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else And(parts)

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        from aisle_spark.schema import specs_for_schema

        leaf_names = {s.name for s in specs_for_schema(self.arrow_schema)}
        self.spec = filters_to_spec(filters, leaf_names)
        # advisory pushdown: every filter goes back to Spark for exact
        # re-evaluation; the translated conjunction only PRUNES
        return filters

    def partitions(self) -> Sequence[AislePartition]:
        files, fstats = _manifest_of(self.fs, self.path, self.version)
        prune = self._prune_spec()
        if prune is None or not files:
            return _pack_partitions([(f, None) for f in files], fstats)
        # manifest-list level: whole files drop on their [min,max] bounds
        # before a single manifest row is scanned
        doms = file_stat_domains(self.arrow_schema)
        files = sorted(f for f in files if file_keep(fstats.get(f), prune, doms))
        if not files:
            return []
        # survivors in (file, row number) order; plan-size cap (VERDICT r3
        # wrong #3): above it a file ships rows=None and its task decodes
        # the whole file with only the chunk tier skipping — same results
        # through Spark's residual, constant plan size
        return _pack_partitions(
            [
                (f, tuple(rows) if len(rows) <= _PARTITION_ROWS_CAP else None)
                for f, rows in zip(files, self._surviving_rows(files, prune))
                if rows
            ],
            fstats,
        )

    def _surviving_rows(self, files: list[str], prune: Spec) -> list[list[int]]:
        """Per file, the manifest rows (blocks) the numpy block tier keeps.
        Each file's stat columns are cast to the block schema's types —
        Spark-written and pyarrow-written files then concatenate — and one
        evaluation covers every file."""
        from aisle_spark.chunkstats import manifest_keep, stat_columns
        from aisle_spark.schema import blocks_arrow_schema, specs_for_schema

        where = utc_normalize(prune)
        specs = specs_for_schema(self.arrow_schema)
        target = blocks_arrow_schema(specs)
        cols = ["n_rows", *sorted(stat_columns(where) & set(target.names))]
        tables = [
            t.cast(pa.schema([target.field(n) for n in t.column_names]))
            for t in read_stat_columns(self.fs, files, cols)
        ]
        keep = manifest_keep(
            where,
            pa.concat_tables(tables, promote_options="default"),
            {s.name: s for s in specs},
        )
        bounds = np.cumsum([0] + [t.num_rows for t in tables])
        return [
            np.flatnonzero(keep[lo:hi]).tolist()
            for lo, hi in zip(bounds[:-1], bounds[1:])
        ]

    def read(self, partition: AislePartition) -> Iterator[pa.RecordBatch]:
        if partition is None:  # Spark schedules one task when partitions()==[]
            return
        for path, rows in partition.entries():  # packed small files
            yield from _decode_file(
                self.arrow_schema,
                self.out_schema,
                path,
                rows,
                self._prune_spec(),
                self.exact_where,
                fs=self.fs,
            )


def _decode_file(
    schema: pa.Schema,
    out_schema: pa.Schema,
    path: str,
    rows: tuple | None,
    prune: Spec | None,
    exact_where: Spec | None,
    fs=None,
) -> Iterator[pa.RecordBatch]:
    """Decode one committed block file (optionally only the ``rows``
    manifest rows) into Arrow batches of ``out_schema`` — the shared read
    engine of the batch reader and the streaming reader."""
    import pyarrow.parquet as pq

    from aisle_spark.pipeline import _decode_fn
    from aisle_spark.schema import specs_for_schema

    specs = specs_for_schema(schema)
    where = utc_normalize(prune) if prune is not None else None
    exact = utc_normalize(exact_where) if exact_where is not None else None

    # decode set = projected leaves ∪ predicate leaves (the columns
    # option prunes decode like scan(columns=...); predicate-only
    # leaves ride along for the mask and are dropped before yield)
    from aisle_spark.schema import leaves_under

    out_names = [out_schema.field(i).name for i in range(len(out_schema))]
    pred_cols = sorted(where.columns()) if where is not None else []
    spec_names = {s.name for s in specs}
    flat_need: list[str] = []
    plan = []
    for i in range(len(out_schema)):
        fld = out_schema.field(i)
        if pa.types.is_struct(fld.type):
            # decode exactly the leaves the (possibly partial) struct
            # type carries — dotted `columns` projections never touch
            # the un-projected siblings' payloads
            ls = _partial_leaves(spec_names, fld)
            flat_need.extend(ls)
            plan.append(("struct", fld, set(ls)))
        else:
            flat_need.extend(leaves_under(schema, fld.name))
            plan.append(("leaf", fld.name))
    for c in pred_cols:
        if c not in flat_need:
            flat_need.append(c)
            if "." not in c:
                plan.append(("leaf", c))
    flat_need = [s.name for s in specs if s.name in set(flat_need)]
    payload_cols = [f"{c}__payload" for c in flat_need]
    if where is not None:
        chunk_kinds = (
            "int", "timestamp", "duration", "float", "string", "binary", "decimal",
        )
        for c in sorted(where.columns()):
            s = next((s for s in specs if s.name == c), None)
            if s is not None and s.kind in chunk_kinds:
                payload_cols += [
                    f"{c}__chunk_min", f"{c}__chunk_max", f"{c}__chunk_nulls",
                ]
    if rows is None:
        src = fs.open_input_file(path) if fs is not None else path
        tbl = pq.read_table(src, columns=payload_cols)
    else:
        # row-group-granular I/O: both writers emit one row group per
        # ~64 blocks, so the payload bytes of pruned blocks in other
        # row groups are never read at all
        src = fs.open_input_file(path) if fs is not None else path
        pf = pq.ParquetFile(src)
        bounds = [0]
        for g in range(pf.num_row_groups):
            bounds.append(bounds[-1] + pf.metadata.row_group(g).num_rows)
        import bisect

        wanted = sorted(
            {bisect.bisect_right(bounds, r) - 1 for r in rows}
        )
        tbl = pf.read_row_groups(wanted, columns=payload_cols)
        offset = {g: bounds[g] for g in wanted}
        local_base: dict[int, int] = {}
        acc = 0
        for g in wanted:
            local_base[g] = acc
            acc += bounds[g + 1] - bounds[g]
        tbl = tbl.take(
            [
                local_base[bisect.bisect_right(bounds, r) - 1]
                + (r - offset[bisect.bisect_right(bounds, r) - 1])
                for r in rows
            ]
        )
    decode, dec_schema = _decode_fn(specs, flat_need, plan, where)
    project = list(dec_schema.names) != out_names
    for batch in tbl.to_batches():
        for out in decode(iter([batch])):
            if exact is not None and out.num_rows:
                # the where OPTION is exact (Spark never re-checks it):
                # validated to the rowmask-complete scalar subset, so
                # this mask is authoritative
                from aisle_spark.rowmask import row_mask

                out = out.filter(pa.array(row_mask(exact, out)))
            if project:  # drop predicate-only ride-along columns
                out = out.select(out_names)
            yield out


# ---------------------------------------------------------------------------
# streaming reader: tail the committed-file manifest
# ---------------------------------------------------------------------------


class AisleStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("aisle")`` — the streaming face of the
    manifest-commit protocol: every micro-batch reads exactly the block
    files that entered ``_aisle_files.json`` since the last offset. Pairs
    with the engine's streaming sink (streaming.py) and the batch writer's
    append mode for an end-to-end exactly-once encoded stream: files
    become visible atomically at manifest rename, so an offset is a
    consistent snapshot by construction.

    Offsets are SNAPSHOT VERSIONS (constant-size, immutable replay): a
    fresh stream's first batch loads the current snapshot's file set, and
    every later batch emits each new version's file-set delta — with
    compaction commits contributing NOTHING, since their files carry only
    already-emitted rows (filename-diff offsets would re-emit the whole
    table after OPTIMIZE). Snapshot retention must outlive active streams
    (expire_snapshots); a violated retention fails loudly, never
    duplicates or drops.

    The ``where``/``columns`` options apply per micro-batch through the
    same `_decode_file` engine as the batch reader."""

    def __init__(self, path: str, where: str | None = None,
                 columns: list[str] | None = None,
                 max_files_per_trigger: int | None = None,
                 max_bytes_per_trigger: int | None = None):
        self.fs, self.path = _fs_of(path)
        self.arrow_schema = _read_sidecar_schema(self.fs, self.path)
        self.out_schema = _project_schema(self.arrow_schema, columns)
        self.exact_where: Spec | None = None
        self._max_files = max_files_per_trigger
        self._max_bytes = max_bytes_per_trigger
        # last offset this reader planned or committed — the anchor the
        # rate limiter advances from. None right after a restart: the
        # first latestOffset() then runs uncapped (the Python stream API
        # gives latestOffset no start offset), every later one is capped.
        self._cursor: dict | None = None
        if where:
            from aisle_spark.sqlcompile import parse_where

            self.exact_where = parse_where(where)
            _validate_exact_where(self.exact_where, self.arrow_schema)
            self.exact_where = coerce_temporals(
                self.exact_where, self.arrow_schema
            )

    def initialOffset(self) -> dict:
        self._cursor = {"version": 0}
        return {"version": 0}

    def _read_snap(self, v: int) -> dict:
        """read_snapshot with the retention-violation diagnostic (a raw
        FileNotFoundError would lose the contract; ADVICE r3 low)."""
        from aisle_spark.pipeline import read_snapshot

        try:
            return read_snapshot(self.fs, self.path.rstrip("/"), v)
        except (FileNotFoundError, OSError):
            raise RuntimeError(
                f"stream offset snapshot v{v} was expired while the "
                "stream was reading it — expire_snapshots retention must "
                "outlive active streams"
            ) from None

    def _additions(self, v: int) -> list[str]:
        """Sorted files entering the table at version v (empty for
        compaction commits — their files carry only already-emitted
        rows, the re-emit footgun of filename-based offsets)."""
        snap = self._read_snap(v)
        if "compacted_from" in snap:
            return []
        if v == 1:
            return sorted(snap["files"])
        prev = self._read_snap(v - 1)
        return sorted(set(snap["files"]) - set(prev["files"]))

    def latestOffset(self) -> dict:
        """Newest available offset — capped to ``maxFilesPerTrigger`` new
        files beyond the cursor when the option is set. Every offset is
        SELF-CONTAINED (replayable from the checkpoint alone):

        * ``{"version": v}`` — everything through commit v emitted;
        * ``{"version": v, "pos": m}`` — through v-1, plus the first m of
          version v's sorted file additions;
        * ``{"version": 0, "backfill_v": L, "pos": m}`` — a capped initial
          backfill: the first m files of snapshot L's file list (pinned
          at the first trigger; snapshots are immutable, so the list is
          deterministic across retries and restarts), nothing else.

        Cursor protocol: a fresh query's first latestOffset runs with no
        cursor (observed runner order: latestOffset before initialOffset)
        and anchors at version 0; on restart the runner calls
        partitions(checkpoint, checkpoint) first, which seeds the cursor,
        so a restart is never mistaken for a fresh stream."""
        from aisle_spark.pipeline import list_snapshots

        versions = list_snapshots(self.fs, self.path.rstrip("/"))
        latest = versions[-1] if versions else 0
        cap_f, cap_b, cur = self._max_files, self._max_bytes, self._cursor
        if (not cap_f and not cap_b) or latest == 0:
            return {"version": latest}
        if cur is None:
            cur = {"version": 0}

        def sizer(snap):
            st = snap.get("file_stats", {})

            def size(f):
                b = (st.get(f) or {}).get("__bytes")
                # unknown size (legacy commit) counts 0 toward the byte
                # budget — file-count capping still bounds those batches
                return int(b) if isinstance(b, int) else 0

            return size

        # pending = every unemitted file with the offset that would
        # follow it, in emission order (same order _new_files replays)
        pend: list[tuple[int, dict]] = []
        v = int(cur.get("version", 0))
        if cur.get("backfill_v") is not None:
            bv = int(cur["backfill_v"])
            snap = self._read_snap(bv)
            files, size = snap["files"], sizer(snap)
            done = int(cur["pos"])
            for i in range(done, len(files)):
                off = (
                    {"version": 0, "backfill_v": bv, "pos": i + 1}
                    if i + 1 < len(files)
                    else {"version": bv}
                )
                pend.append((size(files[i]), off))
            start_w = bv
        elif v == 0:
            # fresh stream: pin the backfill list to the CURRENT snapshot
            # (compacted/vacuumed history must never be read)
            snap = self._read_snap(latest)
            files, size = snap["files"], sizer(snap)
            for i, f in enumerate(files):
                off = (
                    {"version": 0, "backfill_v": latest, "pos": i + 1}
                    if i + 1 < len(files)
                    else {"version": latest}
                )
                pend.append((size(f), off))
            start_w = latest
        else:
            start_w = v
            if cur.get("pos") is not None:
                adds = self._additions(v)
                size = sizer(self._read_snap(v))
                done = int(cur["pos"])
                for i in range(done, len(adds)):
                    off = (
                        {"version": v, "pos": i + 1}
                        if i + 1 < len(adds)
                        else {"version": v}
                    )
                    pend.append((size(adds[i]), off))
        for w in range(start_w + 1, latest + 1):
            adds = self._additions(w)
            size = sizer(self._read_snap(w))
            for i, f in enumerate(adds):
                off = (
                    {"version": w, "pos": i + 1}
                    if i + 1 < len(adds)
                    else {"version": w}
                )
                pend.append((size(f), off))
        if not pend:
            return {"version": latest}
        # soft limits, always >= 1 file of progress: stop BEFORE file
        # k+1 when k files are taken (maxFiles) or the byte budget is
        # already consumed (maxBytes — one oversized file may exceed it,
        # the standard soft-max contract)
        taken_b = 0
        last_off: dict | None = None
        n_taken = 0
        for size, off in pend:
            if n_taken > 0:
                if cap_f and n_taken >= cap_f:
                    break
                if cap_b and taken_b >= cap_b:
                    break
            taken_b += size
            last_off = off
            n_taken += 1
        if n_taken == len(pend):
            return {"version": latest}  # everything pending fits
        # (no backward check needed here: pend is built strictly AFTER
        # the cursor, so a seeded cursor can never order above last_off;
        # the cursor-less restart shape is caught by _new_files'
        # _off_key(end) < _off_key(start) guard — ADVICE r4 low)
        return last_off

    @staticmethod
    def _off_key(off: dict) -> tuple:
        """Total order over emission progress of the three offset shapes
        (latestOffset docstring). Used to refuse an end that orders
        BEFORE its start: the one silent shape of the undocumented
        runner-call-order assumption (ADVICE r4 low) is a mid-backfill
        restart where latestOffset runs before partitions() and computes
        a regressed ``pos`` — every other mismatch already raises as a
        protocol violation."""
        v = int(off.get("version", 0))
        bf = off.get("backfill_v")
        pos = off.get("pos")
        if bf is not None:
            # m files into pinned snapshot bf's list: before the
            # completed {"version": bf}
            return (int(bf), 0, int(pos))
        if v == 0:
            return (0, 0, 0)  # nothing emitted
        # through v-1 plus pos of v's additions; no pos = v complete
        return (v, 1, int(pos)) if pos is not None else (v, 2, 0)

    def _new_files(self, start: dict, end: dict) -> tuple[list[str], dict]:
        """Manifest-relative files a stream must emit for (start, end],
        plus the horizon snapshot's file_stats. A plain version-0 start
        loads the END snapshot's CURRENT file set (fresh streams over
        compacted/vacuumed tables read exactly the live data);
        rate-limited backfills slice the pinned ``backfill_v`` list;
        afterwards each version contributes its sorted file-set delta
        with ``pos`` trimming. Offset shapes that cannot follow each
        other under the documented protocol raise loudly — silently
        guessing could double- or under-emit rows."""
        start_v, end_v = int(start.get("version", 0)), int(end.get("version", 0))
        s_bf, e_bf = start.get("backfill_v"), end.get("backfill_v")
        sp, ep = start.get("pos"), end.get("pos")

        def _violation() -> RuntimeError:
            return RuntimeError(
                f"stream offset protocol violation: start={start} cannot "
                f"precede end={end} — restart the stream from a clean "
                "checkpoint"
            )

        # the checkpointed start is AUTHORITATIVE: an end that orders
        # before it would move the stream backward and re-emit files
        # (possible only if the runner's call order ever changes so
        # latestOffset runs before partitions() seeds the cursor)
        if self._off_key(end) < self._off_key(start):
            raise _violation()

        if e_bf is not None:
            # capped backfill slice: only a fresh start or an earlier
            # position in the SAME pinned list may precede it
            bv = int(e_bf)
            files = list(self._read_snap(bv)["files"])
            stats = self._read_snap(bv).get("file_stats", {})
            if s_bf is not None:
                if int(s_bf) != bv:
                    raise _violation()
                lo = int(sp)
            elif start_v == 0 and sp is None:
                lo = 0
            else:
                raise _violation()
            return files[lo:int(ep)], stats
        if end_v == 0:
            return [], {}
        end_snap = self._read_snap(end_v)
        stats = end_snap.get("file_stats", {})
        out: list[str] = []
        if s_bf is not None:
            # backfill completes within this batch, then deltas follow
            bv = int(s_bf)
            if bv > end_v:
                raise _violation()
            out.extend(list(self._read_snap(bv)["files"])[int(sp):])
            base = bv
        elif start_v == 0:
            # uncapped initial load: the END snapshot's live file set
            files = list(end_snap["files"])
            return (files[:int(ep)] if ep is not None else files), stats
        elif sp is not None:
            adds = self._additions(start_v)
            hi = int(ep) if (end_v == start_v and ep is not None) else len(adds)
            out.extend(adds[int(sp):hi])
            if end_v == start_v:
                return out, stats
            base = start_v
        else:
            base = start_v
        for v in range(base + 1, end_v + 1):
            adds = self._additions(v)
            if v == end_v and ep is not None:
                adds = adds[:int(ep)]
            out.extend(adds)
        return out, stats

    def partitions(self, start: dict, end: dict) -> Sequence[AislePartition]:
        new, fstats = self._new_files(start, end)  # validates start <= end
        self._cursor = dict(end)
        root = self.path.rstrip("/")
        parts = [AislePartition(f"{root}/{f}", None) for f in new]
        if self.exact_where is not None and parts:
            # manifest-list pruning per micro-batch: whole new files drop
            # on their [min,max] bounds when the where option excludes them
            full_stats = {f"{root}/{k}": v for k, v in fstats.items()}
            doms = file_stat_domains(self.arrow_schema)
            parts = [
                p
                for p in parts
                if file_keep(full_stats.get(p.path), self.exact_where, doms)
            ]
        return parts

    def read(self, partition: AislePartition) -> Iterator[pa.RecordBatch]:
        if partition is None:
            return
        yield from _decode_file(
            self.arrow_schema,
            self.out_schema,
            partition.path,
            None,
            self.exact_where,
            self.exact_where,
            fs=self.fs,
        )

    def commit(self, end: dict) -> None:
        # progress lives in Spark's checkpoint; nothing to retire — but
        # the rate limiter's cursor advances with every committed batch
        self._cursor = dict(end)

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


@dataclass
class AisleCommit(WriterCommitMessage):
    filename: str | None  # None: the task wrote no block
    n_blocks: int
    stats: dict | None = None  # per-column [min, max] over the whole file


# file-level stats cover every orderable scalar kind with a JSON-safe
# canonical encoding (the reference prunes all orderable leaves at its
# coarsest granularity, src/prune/stats.rs:120-157, 365-410); binary
# bounds ride as tagged base64 ({"b64": ...}) so byte order survives JSON
_FILE_STAT_KINDS = (
    "int", "float", "string", "timestamp", "duration", "decimal", "binary",
)


def _json_stat_bound(v):
    """One file-level stat bound -> its canonical JSON-safe encoding:
    timestamp -> epoch-µs int (naive = UTC instant, the engine's storage
    domain), date -> epoch-days int, duration -> µs int, decimal -> exact
    string, float NaN -> None (Unknown — Spark orders NaN greatest, so a
    lost NaN bound would wrongly prune ``x > v`` files; ADVICE r3
    medium). Anything unrepresentable -> None = no evidence."""
    import datetime as _dt
    import decimal as _decimal
    import math

    v = v.item() if hasattr(v, "item") else v  # numpy -> python
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, _dt.timedelta):
        return v // _dt.timedelta(microseconds=1)
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        import base64

        return {"b64": base64.b64encode(bytes(v)).decode("ascii")}
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (int, str)):
        return v
    return None


def file_stat_domains(schema: pa.Schema) -> dict[str, str]:
    """Leaf column -> the integer/string domain its manifest file-level
    stat bounds live in (the encoding of :func:`_json_stat_bound`):
    ``micros`` (timestamp, epoch-µs), ``days`` (date, epoch-days), ``us``
    (duration), ``int``/``float``/``decimal``/``string``/``binary``.
    file_keep needs this to coerce predicate literals into the COLUMN's
    domain — a DATE literal against a timestamp column must become
    midnight epoch-µs, never epoch-days, or both sides are plain ints and
    whole files silently mis-prune (ADVICE r4 high)."""
    from aisle_spark.schema import specs_for_schema

    out: dict[str, str] = {}
    for s in specs_for_schema(schema):
        if s.kind == "timestamp":
            out[s.name] = "micros"
        elif s.kind == "duration":
            out[s.name] = "us"
        elif s.kind == "int":
            out[s.name] = "days" if pa.types.is_date(s.arrow_type) else "int"
        elif s.kind == "decimal":
            # carry the scale: float-literal coercion needs it to prove
            # the double-rounding-flip-freedom condition
            out[s.name] = f"decimal:{s.arrow_type.scale}"
        elif s.kind in ("float", "string", "binary"):
            out[s.name] = s.kind
    return out


_NO_EVIDENCE = object()  # literal can't be placed in the column's domain


def _literal_in_domain(v, domain: str | None):
    """Predicate literal -> the COLUMN's manifest stat-bound domain
    (:func:`_json_stat_bound`), or ``_NO_EVIDENCE`` when the literal
    cannot be soundly expressed there. Temporal coercions mirror
    Catalyst: a naive datetime gets the driver-tz instant ``F.lit``
    would produce; a date literal against a timestamp column becomes
    session-tz midnight (Spark casts DATE up to TIMESTAMP). A datetime
    against a date column is rejected (epoch-days can't hold sub-day
    precision; Spark casts the COLUMN up, not the literal down).
    ``domain=None`` (no schema available) rejects all temporal literals
    — plain int/str/bytes/Decimal bounds are domain-unambiguous."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, _dt.datetime):
        if domain != "micros":
            return _NO_EVIDENCE
        from aisle_spark.filterspec import _utc_value

        u = _utc_value(v)
        return (u - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        if domain == "days":
            return (v - _dt.date(1970, 1, 1)).days
        if domain == "micros":
            from aisle_spark.filterspec import _utc_value

            u = _utc_value(_dt.datetime(v.year, v.month, v.day))
            return (u - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                microseconds=1
            )
        return _NO_EVIDENCE
    if isinstance(v, _dt.timedelta):
        if domain != "us":
            return _NO_EVIDENCE
        return v // _dt.timedelta(microseconds=1)
    is_decimal_dom = domain is not None and domain.startswith("decimal")
    if isinstance(v, bool):
        return int(v) if domain in ("int", None) else _NO_EVIDENCE
    if isinstance(v, int):
        if is_decimal_dom:
            return _decimal.Decimal(v)  # exact; prunes against str bounds
        return v if domain in ("int", "float", None) else _NO_EVIDENCE
    if isinstance(v, float):
        if is_decimal_dom:
            # float vs decimal column: Spark casts the DECIMAL side to
            # double, so boundary-strictness can flip within half an ulp
            # of the literal. The coercion is sound exactly when (a) the
            # literal sits ON the column's 10^-s grid (Decimal(v) is
            # always the exact binary value) and (b) half an ulp at |v|
            # is smaller than the grid step — then no decimal value other
            # than v itself can round across v, so the double comparison
            # and the exact-Decimal comparison agree. `60000.00`-shaped
            # money predicates regain whole-file pruning; inexact doubles
            # stay no-evidence (VERDICT r5 missing #4).
            import math

            if ":" not in domain or not math.isfinite(v):
                return _NO_EVIDENCE
            scale = int(domain.split(":", 1)[1])
            d = _decimal.Decimal(v)
            try:
                on_grid = d.scaleb(scale) % 1 == 0
            except _decimal.InvalidOperation:
                return _NO_EVIDENCE
            if on_grid and (
                v == 0.0 or math.ulp(abs(v)) < 10.0 ** (-scale)
            ):
                return d
            return _NO_EVIDENCE
        return v if domain in ("int", "float", None) else _NO_EVIDENCE
    if isinstance(v, _decimal.Decimal):
        # decimal literal vs int column: Spark widens the column to
        # decimal; exact Python Decimal-vs-int comparison matches
        return (
            v if (is_decimal_dom or domain in ("int", None)) else _NO_EVIDENCE
        )
    if isinstance(v, str):
        return v if domain in ("string", None) else _NO_EVIDENCE
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v) if domain in ("binary", None) else _NO_EVIDENCE
    return _NO_EVIDENCE


def _merge_file_stat(
    acc: dict, row: dict, cols: list[str], map_cols: tuple | list = ()
) -> None:
    """Fold one block's [min, max, nulls, rows] into the per-file
    accumulator, in the stats' NATURAL domain (datetime/Decimal/...
    compare correctly there; decimal strings would sort
    lexicographically). ``_json_stat_bound`` canonicalizes once, at
    commit time. The null/row totals feed IsNull file pruning — the
    ``WHERE deleted_at IS NULL`` shape over event tables.

    ``map_cols``: map columns whose per-block sorted key sets union into
    a per-file key set ``{"keys": [...]}`` — the dictionary-hint
    discipline one level up (a key provably absent from the whole file
    prunes ``props['k'] op v`` at planning, VERDICT r4 missing #3).
    Exact-or-nothing: any block with NULL key evidence, or a union past
    MAP_KEYS_MAX, poisons the file entry to no-evidence."""
    import math

    from aisle_spark.schema import MAP_KEYS_MAX

    for m in map_cols:
        ks = row.get(f"{m}__keys")
        if hasattr(ks, "tolist"):  # numpy / pyarrow array
            ks = ks.tolist()
        cur = acc.get(m, {"keys": []})
        if cur.get("keys") is None or ks is None:
            acc[m] = {"keys": None}
            continue
        u = set(cur["keys"]) | set(ks)
        acc[m] = {"keys": None if len(u) > MAP_KEYS_MAX else sorted(u)}

    n_rows = row.get("n_rows")
    n_rows = int(n_rows) if n_rows is not None else 0
    for c in cols:
        mn, mx = row.get(f"{c}__min"), row.get(f"{c}__max")
        mn = mn.item() if hasattr(mn, "item") else mn
        mx = mx.item() if hasattr(mx, "item") else mx
        # NaN bounds (deliberate: Spark orders NaN greatest) don't merge
        # soundly through min()/max() — poison to Unknown like None
        if isinstance(mn, float) and math.isnan(mn):
            mn = None
        if isinstance(mx, float) and math.isnan(mx):
            mx = None
        nulls = row.get(f"{c}__nulls")
        nulls = int(nulls) if nulls is not None else None
        cur = acc.get(c)
        if cur is None:
            acc[c] = [mn, mx, nulls, n_rows]
            continue
        # a None bound (all-null block / truncation overflow / NaN)
        # poisons the file bound to None = Unknown on that side
        acc[c] = [
            None if (cur[0] is None or mn is None) else min(cur[0], mn),
            None if (cur[1] is None or mx is None) else max(cur[1], mx),
            None if (cur[2] is None or nulls is None) else cur[2] + nulls,
            cur[3] + n_rows,
        ]


def _json_file_stats(acc: dict, fs, path: str) -> dict:
    """A file's folded stats (``_merge_file_stat``) in the manifest's JSON
    encoding, plus its ``__bytes``; columns with no evidence at all are
    left out (absent = Unknown = file kept). The block writer and the
    file-stat recompute both end here."""
    out: dict = {}
    for c, v in acc.items():
        if isinstance(v, dict):  # map key set, already JSON-safe
            if v.get("keys") is not None:
                out[c] = v
            continue
        b = [_json_stat_bound(v[0]), _json_stat_bound(v[1]), v[2], v[3]]
        if b[0] is not None or b[1] is not None or b[2] is not None:
            out[c] = b
    if "__bytes" not in out:  # a real column of that name wins
        try:
            out["__bytes"] = (
                os.path.getsize(path) if fs is None else int(fs.get_file_info(path).size)
            )
        except OSError:
            pass  # size is rate-limiter advice only; never fail a commit
    return out


def file_keep(
    stats: dict | None, spec: Spec, domains: dict[str, str] | None = None
) -> bool:
    """File-level keep from per-file [min, max] bounds — the manifest-list
    level of the two-tier pruning (block rows are the manifest-file
    level). DELIBERATELY tiny: only top-level AND of Cmp/Between/InList/
    StartsWith conjuncts ever prunes; every other shape, any missing
    bound, and any type surprise returns keep. ``domains`` (from
    :func:`file_stat_domains`) maps each column to its stat-bound domain
    so temporal literals coerce into the COLUMN's encoding; without it
    temporal literals yield no evidence. Differentially tested against
    block-level survival (a file is kept whenever ANY of its blocks
    could be)."""
    if not stats:
        return True

    def rng(c, value):
        v = stats.get(c)
        if not (isinstance(v, (list, tuple)) and len(v) >= 2):
            return None, None
        import decimal as _decimal
        import math

        def side(b):
            # NaN bounds (Spark orders NaN greatest) don't compare
            # usefully in Python — degrade to Unknown, always sound
            if isinstance(b, float) and math.isnan(b):
                return None
            # decimal bounds are stored as exact strings; parse back
            # when the predicate compares decimals (a non-decimal string
            # raises InvalidOperation => the outer guard keeps the file)
            if isinstance(value, _decimal.Decimal) and isinstance(b, str):
                return _decimal.Decimal(b)
            # binary bounds are tagged base64 ({"b64": ...}); decode back
            # to bytes for byte-order comparison (a dict reaching any
            # other comparison raises TypeError => file kept)
            if isinstance(b, dict):
                import base64

                raw = b.get("b64")
                if isinstance(value, (bytes, bytearray)) and isinstance(raw, str):
                    return base64.b64decode(raw)
                return None
            return b

        return side(v[0]), side(v[1])

    def conj_keep(node: Spec) -> bool:
        try:
            from aisle_spark.filterspec import MapKeyCmp

            if isinstance(node, MapKeyCmp):
                # per-file sorted key-set union ({"keys": [...]}, exact or
                # absent): a key occurring in NO row of the file makes
                # every row evaluate NULL => definitely false for every
                # op (incl. ne) — the dictionary-hint discipline at file
                # granularity (src/prune/dictionary.rs:8-70 analog)
                v = stats.get(node.col)
                if isinstance(v, dict) and isinstance(v.get("keys"), list):
                    return node.key in v["keys"]
                return True
            if isinstance(node, IsNull):
                # per-file null/row totals ([mn, mx, nulls, rows] entries,
                # r4): a file with zero nulls cannot satisfy IS NULL; an
                # all-null file cannot satisfy IS NOT NULL. Older len-2
                # entries carry no null evidence => keep.
                v = stats.get(node.col)
                if not (isinstance(v, (list, tuple)) and len(v) >= 4):
                    return True
                nulls, rows = v[2], v[3]
                if not isinstance(nulls, int) or not isinstance(rows, int):
                    return True
                return (nulls < rows) if node.negated else (nulls > 0)
            if isinstance(node, Between):
                return conj_keep(Cmp(node.col, "ge", node.low)) and conj_keep(
                    Cmp(node.col, "le", node.high)
                )
            if isinstance(node, InList):
                return any(conj_keep(Cmp(node.col, "eq", v)) for v in node.values)
            if isinstance(node, StartsWith):
                from aisle_spark.filterspec import next_prefix

                mn, mx = rng(node.col, node.prefix)
                if node.prefix == "":
                    return True
                if mx is not None and mx < node.prefix:
                    return False
                np_ = next_prefix(node.prefix)
                if np_ is not None and mn is not None and mn >= np_:
                    return False
                return True
            if not isinstance(node, Cmp):
                return True
            # coerce the literal into the COLUMN's stat-bound domain
            # (epoch µs / epoch days / µs / Decimal — _json_stat_bound);
            # a literal the column's domain can't hold is no evidence
            v = _literal_in_domain(
                node.value, domains.get(node.col) if domains else None
            )
            if v is _NO_EVIDENCE:
                return True
            mn, mx = rng(node.col, v)
            if node.op == "eq":
                return (mn is None or mn <= v) and (mx is None or mx >= v)
            if node.op == "lt":
                return mn is None or mn < v
            if node.op == "le":
                return mn is None or mn <= v
            if node.op == "gt":
                return mx is None or mx > v
            if node.op == "ge":
                return mx is None or mx >= v
            return True  # ne: file-level bounds cannot exclude (nulls unknown)
        except (TypeError, ArithmeticError):
            # cross-domain comparison / unparseable decimal string
            # (decimal.InvalidOperation is an ArithmeticError): no evidence
            return True

    conjuncts = spec.parts if isinstance(spec, And) else [spec]
    return all(conj_keep(c) for c in conjuncts)


class AisleWriter(DataSourceArrowWriter):
    def __init__(self, path: str, spark_schema: StructType, overwrite: bool,
                 sort_cols: list[str], block_rows: int):
        self.fs, self.path = _fs_of(path)
        self.spark_schema = spark_schema
        self.overwrite = overwrite
        self.sort_cols = sort_cols
        self.block_rows = block_rows

    def _arrow_schema(self) -> pa.Schema:
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.spark_schema)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> AisleCommit:
        from aisle_spark.pipeline import (
            BlockFileWriter,
            _fs_mkdirs,
            _pin_worker_threads,
        )
        from aisle_spark.schema import specs_for_schema

        _pin_worker_threads()
        _fs_mkdirs(self.fs, self.path)
        w = BlockFileWriter(
            specs_for_schema(self._arrow_schema()),
            self.path,
            f"part-{uuid.uuid4().hex}.parquet",
            fs=self.fs,
            sort_cols=self.sort_cols,
            block_rows=self.block_rows,
        )
        w.write_batches(iterator)
        rec = w.close()
        if rec is None:  # empty task: no file, nothing to commit
            return AisleCommit(filename=None, n_blocks=0)
        return AisleCommit(
            filename=rec["file"], n_blocks=rec["n_blocks"], stats=rec["file_stats"]
        )

    def commit(self, messages: list[AisleCommit]) -> None:
        from aisle_spark.pipeline import (
            _fs_read_json,
            _fs_write_json,
            _write_schema_sidecar,
        )

        from aisle_spark.pipeline import manifest_lock

        live = [m for m in messages if m is not None and m.n_blocks > 0]
        new_files = sorted(m.filename for m in live)
        new_stats = {m.filename: m.stats for m in live if m.stats}
        manifest = f"{self.path.rstrip('/')}/{_FILES_MANIFEST}"
        # read-merge-write under the manifest lock: concurrent local
        # appends can never drop each other's files (object-store callers
        # get last-writer-wins; see manifest_lock)
        with manifest_lock(self.fs, self.path):
            files, fstats = new_files, new_stats
            extras: dict = {}
            if not self.overwrite and _exists(self.fs, manifest):
                from aisle_spark.pipeline import load_manifest

                old = load_manifest(self.fs, self.path)
                files = sorted(set(old["files"]) | set(files))
                fstats = {**old.get("file_stats", {}), **fstats}
                # carry manifest extras forward — dropping the streaming
                # sink's "batches" map here would let a later batch
                # REPLAY add duplicate rows instead of replacing files
                # "compacted_from" must NOT ride along: it marks a commit
                # whose files carry only already-emitted rows, and a
                # stream reader skips such commits — tagging an APPEND
                # with it would hide the new file from streams forever
                extras = {
                    k: v
                    for k, v in old.items()
                    if k
                    not in (
                        "files", "file_stats", "version", "pointer",
                        "compacted_from",
                    )
                }
            # local: tmp + atomic rename; object store: one atomic PUT —
            # the same commit discipline as the direct-write encode; every
            # commit also publishes an immutable snapshot (time travel)
            from aisle_spark.pipeline import publish_manifest

            publish_manifest(
                self.fs,
                self.path,
                {**extras, "files": files, "file_stats": fstats},
            )
        _write_schema_sidecar(self.path, self._arrow_schema(), fs=self.fs)

    def abort(self, messages: list[AisleCommit]) -> None:
        for m in messages:
            if m is None or m.filename is None:
                continue
            target = f"{self.path.rstrip('/')}/{m.filename}"
            try:
                if self.fs is None:
                    os.remove(target)
                else:
                    self.fs.delete_file(target)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class AisleDataSource(DataSource):
    """``format("aisle")``. Options:

    * ``path`` — encoded table directory (required). Plain local paths,
      the ``file:/x`` form Spark catalogs produce, and pyarrow.fs URIs
      all work. SQL access: register a temp view over the loaded frame
      (``CREATE TABLE … USING aisle`` parses, but this Spark build does
      not propagate catalog-table options into Python DataSource
      readers).
    * ``where`` — read path: a SQL predicate compiled by
      ``sqlcompile.parse_where`` and applied EXACTLY inside the reader
      (pruning + row mask); restricted to scalar top-level columns.
      Ordinary ``.filter()`` predicates are pushed down automatically —
      this option exists for predicate shapes Spark cannot push (IN over
      many values survives, BETWEEN, LIKE patterns, OR trees).
    * ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` — stream-read
      path: caps on NEW files / bytes per micro-batch (soft max: one
      oversized file may exceed the byte budget), including the initial
      backfill (a fresh stream over a 10^5-file table otherwise reads
      everything in one batch). Byte costs come from per-file ``__bytes``
      recorded at every commit; files from pre-r4 commits count zero.
      Sub-version offsets stay self-contained and exactly-once across
      restarts; with Trigger.AvailableNow each RUN advances one bounded
      batch (the Python DataSource API exposes no admission control).
    * ``versionAsOf`` — read path: pin a committed manifest snapshot
      (every write/append/compaction/stream-batch publishes one) — time
      travel for reproducible training runs; vacuum never deletes files a
      retained snapshot references (expire_snapshots retires them).
    * ``columns`` — read path: comma-separated projection; only these
      payloads decode (the Python DataSource contract has no
      column-pruning pushdown, so projection is an option, like
      ``scan(columns=...)``). Dotted names (``meta.lang``) select
      nested LEAVES: the reader yields a partial struct and never
      touches un-projected siblings' payloads.
    * ``sortCols`` — write path: comma-separated within-partition sort
      columns (tight per-block stat ranges; same knob as
      ``encode_table(sort_cols=...)``).
    * ``blockRows`` — write path: rows per block (default 4096).
    """

    @classmethod
    def name(cls) -> str:
        return "aisle"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("format('aisle') requires a path")
        return p

    def _columns(self) -> list[str] | None:
        raw = self.options.get("columns", "")
        cols = [c.strip() for c in raw.split(",") if c.strip()]
        return cols or None

    def schema(self) -> StructType:
        from pyspark.sql import types as T

        from aisle_spark.schema import _spark_type

        fs, root = _fs_of(self._path())
        arrow = _project_schema(_read_sidecar_schema(fs, root), self._columns())
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type), True) for f in arrow]
        )

    def reader(self, schema: StructType) -> AisleReader:
        v = self.options.get("versionasof")
        return AisleReader(
            self._path(),
            where=self.options.get("where"),
            columns=self._columns(),
            version=int(v) if v else None,
        )

    def streamReader(self, schema: StructType) -> AisleStreamReader:
        # Spark lower-cases DataFrameReader option keys
        mft = self.options.get("maxFilesPerTrigger") or self.options.get(
            "maxfilespertrigger"
        )
        mbt = self.options.get("maxBytesPerTrigger") or self.options.get(
            "maxbytespertrigger"
        )
        return AisleStreamReader(
            self._path(),
            where=self.options.get("where"),
            columns=self._columns(),
            max_files_per_trigger=int(mft) if mft else None,
            max_bytes_per_trigger=int(mbt) if mbt else None,
        )

    def writer(self, schema: StructType, overwrite: bool) -> AisleWriter:
        from aisle_spark.pipeline import DEFAULT_BLOCK_ROWS

        if not overwrite:
            # append must match the committed schema exactly — a silent
            # manifest merge of differently-shaped block files would
            # corrupt every reader
            fs, root = _fs_of(self._path())
            if _exists(fs, f"{root.rstrip('/')}/{_SCHEMA_SIDECAR}"):
                from pyspark.sql.pandas.types import to_arrow_schema

                existing = _read_sidecar_schema(fs, root)
                incoming = to_arrow_schema(schema)
                same = len(existing) == len(incoming) and all(
                    existing.field(i).name == incoming.field(i).name
                    and existing.field(i).type.equals(incoming.field(i).type)
                    for i in range(len(existing))
                )
                if not same:
                    raise ValueError(
                        f"append schema {incoming} does not match the "
                        f"committed table schema {existing}; use "
                        "mode('overwrite') to replace the table"
                    )
        sort_cols = [
            c.strip() for c in self.options.get("sortcols", "").split(",") if c.strip()
        ]
        block_rows = int(self.options.get("blockrows", DEFAULT_BLOCK_ROWS))
        return AisleWriter(self._path(), schema, overwrite, sort_cols, block_rows)


def register(spark) -> None:
    """Register the source and enable Python filter pushdown (required —
    a reader that implements ``pushFilters`` raises under Spark's default
    conf otherwise)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AisleDataSource)
