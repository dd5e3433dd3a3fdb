"""Block encode/decode: one block = N rows, each column independently
compressed with its own auto-selected codec + exact statistics.

A block is the engine's row-group analog (SURVEY.md §1.1): the stats
written here are what the pruner consumes, and they are always EXACT
because they are computed from the block's own values at encode time —
the property aisle has to *defend* with ordering checks
(/root/reference/src/prune/stats.rs:30-69) we get by construction.

Column container payload layout (little-endian):
  u8 flags (bit0: has_nulls) | u32 n_rows
  [validity bitmap ceil(n/8) bytes, little-endian bit order]
  codec payload over NON-NULL values only
For intlist: codec payload = u32 len(lengths_payload) | lengths_payload
  | values_payload (lengths of non-null rows; flattened values).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from aisle_spark.codecs.floats import decode_floats, encode_floats
from aisle_spark.codecs.ints import (
    choose_int_codec,
    codec_name,
    decode_ints,
    encode_ints,
    int_stats,
)
from aisle_spark.codecs.strings import (
    decode_strings,
    encode_strings,
    parts_from_arrow,
    str_codec_name,
)
from aisle_spark.schema import DICT_HINT_MAX, ColumnSpec

_CHDR = struct.Struct("<BI")


def _float_min_max(vals: np.ndarray) -> tuple[float | None, float | None]:
    """Min/max under SPARK's total ordering, where NaN is GREATER than any
    other value (and NaN == NaN). Recording max = NaN whenever the block
    contains one keeps the tri-state pruner sound for gt/ge/ne/eq-NaN
    predicates: Spark SQL evaluates the manifest comparison ``smax > v``
    as ``NaN > v`` = TRUE, so NaN-bearing blocks are never skipped —
    IEEE-style NaN-excluded stats silently dropped those rows (ADVICE r1
    high)."""
    if not vals.size:
        return None, None
    nonnan = vals[~np.isnan(vals)]
    mn = float(nonnan.min()) if nonnan.size else float("nan")
    mx = float("nan") if nonnan.size < vals.size else float(nonnan.max())
    return mn, mx


def _validity(arr: pa.Array) -> tuple[np.ndarray | None, int]:
    nulls = arr.null_count
    if nulls == 0:
        return None, 0
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return valid, int(nulls)


def _wrap(body: bytes, n: int, valid: np.ndarray | None) -> bytes:
    if valid is None:
        return _CHDR.pack(0, n) + body
    bitmap = np.packbits(valid, bitorder="little").tobytes()
    return _CHDR.pack(1, n) + bitmap + body


def _unwrap(buf: memoryview) -> tuple[int, np.ndarray | None, memoryview]:
    flags, n = _CHDR.unpack_from(buf, 0)
    off = _CHDR.size
    valid = None
    if flags & 1:
        nbytes = (n + 7) // 8
        valid = np.unpackbits(
            np.frombuffer(buf[off : off + nbytes], dtype=np.uint8),
            count=n,
            bitorder="little",
        ).astype(bool)
        off += nbytes
    return n, valid, buf[off:]


def _prim_to_numpy(spec: ColumnSpec, arr: pa.Array) -> np.ndarray:
    """Non-null primitive values as the exact-width numpy integer/float."""
    t = spec.arrow_type
    if spec.kind in ("timestamp", "duration"):
        arr = arr.cast(pa.int64())
    elif pa.types.is_date(t):
        arr = arr.cast(pa.int32())
    elif pa.types.is_boolean(t):
        arr = arr.cast(pa.uint8())
    return arr.drop_null().to_numpy(zero_copy_only=False)


def _decimal_unscaled(arr: pa.Array) -> np.ndarray:
    """Non-null decimal128 values as int64 UNSCALED integers — a zero-copy
    view of the low word of each 16-byte value (exact for precision <= 18,
    enforced at spec time). No float rounding ever touches money columns
    (/root/reference/src/prune/stats.rs:365-410 parity)."""
    nn = arr.drop_null()
    if not len(nn):
        return np.zeros(0, dtype=np.int64)
    buf = nn.buffers()[1]
    words = np.frombuffer(buf, dtype="<i8", count=2 * (nn.offset + len(nn)))
    return words[2 * nn.offset :: 2][: len(nn)].copy()


def _decimal_array(t: pa.DataType, n: int, valid, vals: np.ndarray) -> pa.Array:
    """int64 unscaled -> Decimal128Array (sign-extended high word)."""
    storage = _expand(n, valid, vals.astype(np.int64, copy=False))
    pairs = np.empty((n, 2), dtype=np.int64)
    pairs[:, 0] = storage
    pairs[:, 1] = storage >> 63  # arithmetic shift = sign extension
    return pa.Array.from_buffers(
        t, n, [_validity_buf(n, valid), pa.py_buffer(pairs.tobytes())]
    )


# ---------------------------------------------------------------------------
# map columns (string-keyed): payload + per-key stats
# ---------------------------------------------------------------------------


def _map_as_list(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """View a MapArray as list<struct<key,value>> (value_lengths/flatten
    have no map kernels)."""
    entry_t = pa.struct(
        [
            pa.field("key", t.key_type, nullable=False),
            pa.field("value", t.item_type),
        ]
    )
    return arr.cast(pa.list_(pa.field("entries", entry_t, nullable=False)))


def _encode_map(spec: ColumnSpec, arr: pa.Array) -> tuple[bytes, dict, int]:
    """Encode a map column: entry counts (int codec) | keys (string codec)
    | item validity | items (value-kind codec). Stats are the per-block
    sorted distinct KEY SET plus per-key value min/max — the map half of
    the reference's dotted-path pruning (/root/reference/src/prune/
    stats.rs:412-488, tests/prune_list_map.rs): a key absent from a
    present key set occurs in NO row (definitely false), and per-key
    ranges prune value predicates. All three stat arrays go NULL above
    MAP_KEYS_MAX keys (exact-or-nothing, like the dictionary hint).
    Per-key stats of NaN-bearing float keys are NULL (Unknown)."""
    import pyarrow.compute as pc

    from aisle_spark.filterspec import truncate_stat_max, truncate_stat_min
    from aisle_spark.schema import MAP_KEYS_MAX, map_value_kind

    t = spec.arrow_type
    vkind = map_value_kind(t)
    nn = _map_as_list(arr, t).drop_null()
    lens = (
        nn.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        if len(nn)
        else np.zeros(0, dtype=np.int64)
    )
    flat = nn.flatten()
    keys, items = flat.field(0), flat.field(1)
    klen, kdata = parts_from_arrow(keys)
    ivalid, _ = _validity(items)
    if vkind == "int":
        it = items.cast(pa.uint8()) if pa.types.is_boolean(t.item_type) else items
        ivals = it.drop_null().to_numpy(zero_copy_only=False)
        items_body = encode_ints(ivals)
        items_raw = ivals.nbytes
    elif vkind == "float":
        ivals = items.drop_null().to_numpy(zero_copy_only=False)
        items_body = encode_floats(ivals)
        items_raw = ivals.nbytes
    else:
        slen, sdata = parts_from_arrow(items.drop_null())
        items_body = encode_strings(slen, sdata)
        items_raw = int(sdata.size)
    lens_body = encode_ints(lens)
    keys_body = encode_strings(klen, kdata)
    parts = [
        struct.pack("<I", len(lens_body)),
        lens_body,
        struct.pack("<I", len(keys_body)),
        keys_body,
    ]
    if ivalid is None:
        parts.append(b"\x00")
    else:
        parts.append(b"\x01")
        parts.append(np.packbits(ivalid, bitorder="little").tobytes())
    parts.append(items_body)

    stats: dict = {"keys": None, "kmin": None, "kmax": None}
    if len(keys) == 0:
        # no entries at all: the EMPTY key set is exact evidence — any
        # key predicate is definitely false for this block
        stats = {"keys": [], "kmin": [], "kmax": []}
    elif len(pc.unique(keys)) <= MAP_KEYS_MAX:
        stat_items = (
            items.cast(pa.int64())
            if vkind == "int"
            else items.cast(pa.float64())
            if vkind == "float"
            else items
        )
        tbl = pa.table({"k": keys, "v": stat_items})
        aggs = [("v", "min"), ("v", "max")]
        if vkind == "float":
            tbl = tbl.append_column("nan", pc.fill_null(pc.is_nan(items), False))
            aggs.append(("nan", "max"))
        agg = tbl.group_by("k").aggregate(aggs).sort_by("k")
        ks = agg.column("k").to_pylist()
        mins = agg.column("v_min").to_pylist()
        maxs = agg.column("v_max").to_pylist()
        if vkind == "float":
            nans = agg.column("nan_max").to_pylist()
            mins = [None if nz else m for m, nz in zip(mins, nans)]
            maxs = [None if nz else m for m, nz in zip(maxs, nans)]
        elif vkind == "string":
            mins = [truncate_stat_min(m) for m in mins]
            maxs = [truncate_stat_max(m) for m in maxs]
        stats = {"keys": ks, "kmin": mins, "kmax": maxs}
    raw = int(kdata.size) + items_raw + 8 * len(arr)
    return b"".join(parts), stats, raw


def _decode_map(spec: ColumnSpec, n: int, valid, body: memoryview) -> pa.Array:
    from aisle_spark.schema import map_value_kind

    t = spec.arrow_type
    vkind = map_value_kind(t)
    (ll,) = struct.unpack_from("<I", body, 0)
    lens = decode_ints(body[4 : 4 + ll]).astype(np.int64)
    off = 4 + ll
    (kl,) = struct.unpack_from("<I", body, off)
    off += 4
    klen, kdata = decode_strings(body[off : off + kl])
    off += kl
    n_entries = int(lens.sum())
    ivalid = None
    if body[off] & 1:
        nb = (n_entries + 7) // 8
        ivalid = np.unpackbits(
            np.frombuffer(body[off + 1 : off + 1 + nb], dtype=np.uint8),
            count=n_entries,
            bitorder="little",
        ).astype(bool)
        off += nb
    off += 1
    items_body = body[off:]
    keys_arr = _string_array(t.key_type, n_entries, None, klen, kdata)
    if vkind == "string":
        slen, sdata = decode_strings(items_body)
        items_arr = _string_array(t.item_type, n_entries, ivalid, slen, sdata)
    else:
        vals = (
            decode_floats(items_body) if vkind == "float" else decode_ints(items_body)
        )
        items_arr = _primitive_array(t.item_type, n_entries, ivalid, vals)
    entries = pa.StructArray.from_arrays(
        [keys_arr, items_arr],
        fields=[
            pa.field("key", t.key_type, nullable=False),
            pa.field("value", t.item_type),
        ],
    )
    full_lens = _expand(n, valid, lens)
    offsets = np.concatenate(([0], np.cumsum(full_lens))).astype(np.int32)
    return pa.Array.from_buffers(
        t,
        n,
        [_validity_buf(n, valid), pa.py_buffer(offsets.tobytes())],
        children=[entries],
    )


# ---------------------------------------------------------------------------
# encode one column chunk -> dict of block-row fields
# ---------------------------------------------------------------------------


def encode_column(spec: ColumnSpec, arr: pa.Array) -> dict:
    c = spec.name
    n = len(arr)
    valid, nulls = _validity(arr)
    out: dict = {f"{c}__nulls": nulls}

    from aisle_spark.chunkstats import (
        chunk_stats_float,
        chunk_stats_int,
        chunk_stats_string,
    )

    if spec.kind in ("int", "timestamp", "duration", "decimal"):
        vals = (
            _decimal_unscaled(arr)
            if spec.kind == "decimal"
            else _prim_to_numpy(spec, arr)
        )
        st = int_stats(vals)
        codec = choose_int_codec(st, vals.dtype.itemsize) if st["n"] else "plain"
        body = encode_ints(vals, codec)
        out[f"{c}__codec"] = codec_name(body)
        out[f"{c}__min"] = _stat_scalar(spec, st["min"])
        out[f"{c}__max"] = _stat_scalar(spec, st["max"])
        out[f"{c}__distinct"] = st["distinct"]
        if spec.kind != "timestamp":
            # exact non-null sum when it provably fits int64
            # (max|v| * n < 2^62); otherwise NULL = unknown and scan_sum
            # decodes the block. np.sum is SIMD — free at encode scale.
            if not st["n"]:
                out[f"{c}__sum"] = 0
            elif max(abs(int(st["min"])), abs(int(st["max"]))) * st["n"] < (
                1 << 62
            ):
                out[f"{c}__sum"] = int(np.sum(vals, dtype=np.int64))
            else:
                out[f"{c}__sum"] = None
        cs = chunk_stats_int(vals, valid, n)
        out[f"{c}__chunk_min"], out[f"{c}__chunk_max"] = cs["min"], cs["max"]
        out[f"{c}__chunk_nulls"] = cs["nulls"]
        # decimal128 raw storage is 16 bytes/value, not the int64 view's 8
        raw = vals.nbytes * 2 if spec.kind == "decimal" else vals.nbytes
    elif spec.kind == "float":
        vals = arr.drop_null().to_numpy(zero_copy_only=False)
        body = encode_floats(vals)
        out[f"{c}__codec"] = "float:" + codec_name(memoryview(body)[1:])
        mn, mx = _float_min_max(vals)
        out[f"{c}__min"], out[f"{c}__max"] = mn, mx
        cs = chunk_stats_float(vals.astype(np.float64, copy=False), valid, n)
        out[f"{c}__chunk_min"], out[f"{c}__chunk_max"] = cs["min"], cs["max"]
        out[f"{c}__chunk_nulls"] = cs["nulls"]
        raw = vals.nbytes
    elif spec.kind in ("string", "binary"):
        nn = arr.drop_null()
        if spec.kind == "binary" and pa.types.is_fixed_size_binary(nn.type):
            nn = nn.cast(pa.binary())
        lengths, data = parts_from_arrow(nn)
        body = encode_strings(lengths, data)
        out[f"{c}__codec"] = str_codec_name(body)
        if len(nn):
            import pyarrow.compute as pc

            from aisle_spark.filterspec import truncate_stat_max, truncate_stat_min

            mm = pc.min_max(nn)
            # long values store BOUNDS, not exact stats: prefix lower bound
            # / successor upper bound keep pruning sound while capping the
            # manifest at STAT_TRUNC bytes per stat (a 100KB document must
            # never be copied into min/max/chunk arrays)
            out[f"{c}__min"] = truncate_stat_min(mm["min"].as_py())
            out[f"{c}__max"] = truncate_stat_max(mm["max"].as_py())
            uniq = pc.unique(nn)
            if len(uniq) <= DICT_HINT_MAX and (
                pc.max(pc.binary_length(uniq)).as_py() or 0
            ) <= 128:
                out[f"{c}__dict"] = sorted(uniq.to_pylist())
                out[f"{c}__bloom"] = None
            else:
                # dict hint too big -> bloom evidence instead (the two are
                # complementary, /root/reference/src/expr/rewrite.rs analog)
                from aisle_spark.codecs.bloom import build_bloom

                out[f"{c}__dict"] = None
                out[f"{c}__bloom"] = build_bloom(lengths, data).tolist()
        else:
            out[f"{c}__min"] = out[f"{c}__max"] = None
            out[f"{c}__dict"] = []
            out[f"{c}__bloom"] = None
        cs = chunk_stats_string(arr, n)
        out[f"{c}__chunk_min"], out[f"{c}__chunk_max"] = cs["min"], cs["max"]
        out[f"{c}__chunk_nulls"] = cs["nulls"]
        raw = int(lengths.sum()) + 8 * n
    elif spec.kind == "map":
        body, stats, raw = _encode_map(spec, arr)
        out[f"{c}__codec"] = "map"
        out.update({f"{c}__{k}": v for k, v in stats.items()})
    elif spec.kind in ("intlist", "floatlist"):
        nn = arr.drop_null()
        flat = nn.flatten()
        list_lens = np.asarray(
            nn.value_lengths().to_numpy(zero_copy_only=False), dtype=np.int64
        ) if len(nn) else np.zeros(0, dtype=np.int64)
        vals = flat.to_numpy(zero_copy_only=False)
        fvals = None
        if spec.kind == "floatlist":
            # route float bit patterns through the int codec stack —
            # exact (NaN payloads, signed zeros preserved)
            fvals = vals
            vals = vals.view(np.int32 if vals.dtype == np.float32 else np.int64)
        from aisle_spark.codecs.ints import CHUNKED_MIN

        if vals.size >= CHUNKED_MIN:
            vcodec = "chunked"  # per-mini-block cascade picks locally
            # the block elem stats need only min/max — read them from the
            # NATIVE array (uint64 keeps its wrapped int64 stat view, the
            # codec module's convention) instead of int_stats, whose u64
            # widening copy + run/distinct passes the cascade recomputes
            # per chunk anyway. floatlist elem stats come from
            # _float_min_max below, so the int view needs no scan there
            if spec.kind == "floatlist":
                vmin = vmax = None
            else:
                sv = vals.view(np.int64) if vals.dtype == np.uint64 else vals
                vmin, vmax = int(sv.min()), int(sv.max())
        elif vals.size:
            vstats = int_stats(vals, exact_distinct=False)
            vcodec = choose_int_codec(vstats, vals.dtype.itemsize)
            vmin, vmax = vstats["min"], vstats["max"]
        else:
            vcodec = "plain"
            vmin = vmax = None
        lens_body = encode_ints(list_lens)
        vals_body = encode_ints(vals, vcodec)
        body = struct.pack("<I", len(lens_body)) + lens_body + vals_body
        out[f"{c}__codec"] = f"len:{codec_name(lens_body)}|val:{codec_name(vals_body)}"
        if spec.kind == "floatlist":
            emn, emx = _float_min_max(fvals)
            out[f"{c}__elem_min"], out[f"{c}__elem_max"] = emn, emx
        else:
            out[f"{c}__elem_min"] = vmin
            out[f"{c}__elem_max"] = vmax
        out[f"{c}__len_min"] = int(list_lens.min()) if list_lens.size else None
        out[f"{c}__len_max"] = int(list_lens.max()) if list_lens.size else None
        raw = vals.nbytes + 8 * n
    else:  # pragma: no cover
        raise TypeError(spec.kind)

    payload = _wrap(body, n, valid)
    out[f"{c}__payload"] = payload
    out[f"{c}__raw_bytes"] = int(raw)
    out[f"{c}__enc_bytes"] = len(payload)
    return out


def _stat_scalar(spec: ColumnSpec, v):
    if v is None:
        return None
    if spec.kind == "timestamp":
        return np.datetime64(int(v), "us").item()
    if spec.kind == "duration":
        import datetime

        return datetime.timedelta(microseconds=int(v))
    if spec.kind == "decimal":
        import decimal

        return decimal.Decimal(int(v)).scaleb(-spec.arrow_type.scale)
    if pa.types.is_date(spec.arrow_type):
        return np.datetime64(int(v), "D").item()
    if pa.types.is_boolean(spec.arrow_type):
        return bool(v)
    return int(v)


# ---------------------------------------------------------------------------
# decode one column payload -> pyarrow array (bit-identical)
# ---------------------------------------------------------------------------


def decode_column(spec: ColumnSpec, payload: bytes | memoryview) -> pa.Array:
    n, valid, body = _unwrap(memoryview(payload))
    t = spec.arrow_type

    if spec.kind in ("int", "timestamp", "duration", "float", "decimal"):
        if spec.kind == "float":
            vals = decode_floats(body)
        else:
            vals = decode_ints(body)
        if spec.kind == "decimal":
            return _decimal_array(t, n, valid, vals)
        return _primitive_array(t, n, valid, vals)
    if spec.kind in ("string", "binary"):
        lengths, data = decode_strings(body)
        if pa.types.is_fixed_size_binary(t):
            w = t.byte_width
            full = np.zeros(n * w, dtype=np.uint8)
            if valid is None:
                full[: data.size] = data
            else:
                idx = np.repeat(np.flatnonzero(valid) * w, w) + np.tile(
                    np.arange(w), int(valid.sum())
                )
                full[idx] = data
            return pa.Array.from_buffers(
                t, n, [_validity_buf(n, valid), pa.py_buffer(full.tobytes())]
            )
        return _string_array(t, n, valid, lengths, data)
    if spec.kind in ("intlist", "floatlist"):
        (ll,) = struct.unpack_from("<I", body, 0)
        list_lens = decode_ints(body[4 : 4 + ll]).astype(np.int64)
        vals = decode_ints(body[4 + ll :])
        if spec.kind == "floatlist":
            vals = vals.view(np.float32 if vals.dtype == np.int32 else np.float64)
        return _list_array(t, n, valid, list_lens, vals)
    if spec.kind == "map":
        return _decode_map(spec, n, valid, body)
    raise TypeError(spec.kind)  # pragma: no cover


def _validity_buf(n: int, valid: np.ndarray | None):
    if valid is None:
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _expand(n: int, valid: np.ndarray | None, vals: np.ndarray, fill=0) -> np.ndarray:
    if valid is None:
        return vals
    out = np.full(n, fill, dtype=vals.dtype)
    out[valid] = vals
    return out


def _np_buf(arr: np.ndarray):
    # zero-copy Arrow buffer over the numpy array (py_buffer holds the
    # reference); tobytes() here was one full memcpy of every decoded
    # payload — pure memory traffic, the 8->32 scaling resource
    return pa.py_buffer(np.ascontiguousarray(arr))


def _primitive_array(t: pa.DataType, n: int, valid, vals: np.ndarray) -> pa.Array:
    storage = _expand(n, valid, vals)
    if pa.types.is_boolean(t):
        data_buf = _np_buf(np.packbits(storage.astype(bool), bitorder="little"))
    else:
        data_buf = _np_buf(storage)
    return pa.Array.from_buffers(t, n, [_validity_buf(n, valid), data_buf])


def _string_array(t: pa.DataType, n: int, valid, lengths, data) -> pa.Array:
    full_lens = _expand(n, valid, lengths.astype(np.int64))
    big = pa.types.is_large_string(t)
    odt = np.int64 if big else np.int32
    offsets = np.concatenate(([0], np.cumsum(full_lens))).astype(odt)
    return pa.Array.from_buffers(
        t,
        n,
        [_validity_buf(n, valid), _np_buf(offsets), _np_buf(data)],
    )


def _list_array(t: pa.DataType, n: int, valid, list_lens, vals) -> pa.Array:
    full_lens = _expand(n, valid, list_lens)
    big = pa.types.is_large_list(t)
    odt = np.int64 if big else np.int32
    offsets = np.concatenate(([0], np.cumsum(full_lens))).astype(odt)
    child = _primitive_array(t.value_type, int(vals.size), None, vals)
    return pa.Array.from_buffers(
        t, n, [_validity_buf(n, valid), _np_buf(offsets)], children=[child]
    )


# ---------------------------------------------------------------------------
# whole-block encode / decode
# ---------------------------------------------------------------------------


def row_token_widths(
    specs: list[ColumnSpec], batch: pa.Table | pa.RecordBatch,
    _flat: np.ndarray | None = None, _lens: np.ndarray | None = None
) -> np.ndarray | None:
    """Per-row bit width of the first int-list column's value range (the
    clustering key), or None when no int-list column / all null. Fully
    vectorized (reduceat). ``_flat``/``_lens``: flattened values and
    null-filled per-row lengths a caller already extracted (the encode
    ordering pass computes both anyway — sharing skips a second
    combine/flatten over the whole token payload)."""
    list_specs = [s for s in specs if s.kind == "intlist"]
    if not list_specs or len(batch) < 2:
        return None
    col = batch.column(list_specs[0].name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count == len(col):
        return None
    flat = col.flatten().to_numpy(zero_copy_only=False) if _flat is None else _flat
    lens = (
        col.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        if _lens is None
        else _lens
    )
    offs = np.concatenate(([0], np.cumsum(lens)))
    width = np.zeros(len(batch), dtype=np.int64)
    ne = lens > 0
    if not ne.any() or flat.size == 0:
        return None
    starts = offs[:-1][ne]
    rmax = np.maximum.reduceat(flat, starts)
    rmin = np.minimum.reduceat(flat, starts)
    width[ne] = np.ceil(np.log2(rmax.astype(np.float64) - rmin + 1.0)).astype(np.int64)
    return width


def cluster_block_rows(specs: list[ColumnSpec], batch: pa.Table | pa.RecordBatch):
    """Reorder rows WITHIN a block so list-value regimes cluster together
    (rows needing similar bit widths become contiguous), which lets the
    chunked mini-block cascade pick tight codecs. Invisible to block-level
    stats (they are set-valued) and to query results (DataFrames are
    unordered); measured ~12% smaller token payloads on the mixed-regime
    synthetic corpus. Fully vectorized (reduceat + argsort + take).

    The hot encode paths use ``pipeline._order_and_slice`` instead, which
    folds this reorder into the global sort's single gather; this
    standalone form remains for direct callers (bench compute probe,
    tests)."""
    width = row_token_widths(specs, batch)
    if width is None:
        return batch
    order = np.argsort(width, kind="stable")
    if (order == np.arange(order.size)).all():
        return batch
    return batch.take(pa.array(order))


def encode_block(
    specs: list[ColumnSpec], batch: pa.Table | pa.RecordBatch,
    part_id: int, block_id: int
) -> dict:
    """Encode one block (all columns) -> one block-table row as a dict."""
    row = {"part_id": part_id, "block_id": block_id, "n_rows": len(batch)}
    for spec in specs:
        col = batch.column(spec.name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        row.update(encode_column(spec, col))
    return row


# a block whose surviving rows exceed this share of its rows decodes in
# full: gathering most rows costs more than decoding them all
_SELECT_MAX_SHARE = 0.5


def decode_block_filtered(
    specs: list[ColumnSpec],
    row: dict,
    columns: list[str],
    where,
) -> pa.RecordBatch:
    """RowFilter-inside-the-reader (/root/reference/src/row_filter.rs
    analog + the reference's page-level refinement): decode the cheap
    predicate columns first, evaluate the exact row mask via pyarrow
    kernels, and decode the expensive list payloads ONLY for surviving
    rows — touching just the mini-block chunks those rows live in. Falls
    back to full decode when the predicate needs list columns or when
    most rows survive anyway."""
    import numpy as np

    from aisle_spark.chunkstats import chunk_keep
    from aisle_spark.codecs.ints import decode_ints_ranges
    from aisle_spark.rowmask import row_mask

    by_name = {s.name: s for s in specs}

    def _scalar_only(node) -> bool:
        return all(
            by_name[c].kind not in ("intlist", "floatlist", "map")
            for c in node.columns()
            if c in by_name
        )

    if not _scalar_only(where):
        # map/list predicates have no chunk tier (per-key/per-element
        # chunk stats are unbounded — COVERAGE §2.3 map row). When they
        # sit in a top-level AND beside scalar conjuncts, refine with the
        # SCALAR sub-conjunction: an And-subset only loosens the mask
        # (chunk skips and row drops stay sound) and the dropped
        # conjuncts are re-checked by the caller's residual. A bare or
        # OR-embedded map/list predicate cannot be split — full decode.
        from aisle_spark.filterspec import And as _And

        parts = where.parts if isinstance(where, _And) else [where]
        scalar_parts = [p for p in parts if _scalar_only(p)]
        if not isinstance(where, _And) or not scalar_parts:
            return decode_block(specs, row, columns)
        where = _And(scalar_parts) if len(scalar_parts) > 1 else scalar_parts[0]
    pred_cols = sorted(where.columns())

    # page-index analog: evaluate the chunk-level tri-state from the
    # per-chunk stat arrays BEFORE touching any payload — a kept block
    # whose every chunk is definitely-false decodes zero bytes
    # (/root/reference/src/prune/page.rs:71-137 refinement semantics)
    _, n_peek = _CHDR.unpack_from(row[f"{pred_cols[0]}__payload"], 0)
    kinds = {s.name: s for s in specs}
    ck = chunk_keep(where, row, kinds, n_peek)
    if not ck.any():
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=by_name[c].arrow_type) for c in columns],
            schema=pa.schema([pa.field(c, by_name[c].arrow_type) for c in columns]),
        )

    pred_arrays = {c: decode_column(by_name[c], row[f"{c}__payload"]) for c in pred_cols}
    pred_batch = pa.RecordBatch.from_arrays(
        list(pred_arrays.values()),
        schema=pa.schema([pa.field(c, by_name[c].arrow_type) for c in pred_cols]),
    )
    try:
        mask = row_mask(where, pred_batch)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError, TypeError):
        # literal/column type combo the Arrow kernels can't express with
        # Spark semantics, or a residual-only Spec rowmask doesn't
        # implement (TypeError from _eval, e.g. Regexp) — let the single
        # source of truth (the Catalyst residual after decode) evaluate it
        # instead of risking a mask that disagrees (ADVICE r2 high)
        return decode_block(specs, row, columns)
    n = pred_batch.num_rows
    sel = np.flatnonzero(mask)
    if sel.size > n * _SELECT_MAX_SHARE:
        return decode_block(specs, row, columns)
    if sel.size == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=by_name[c].arrow_type) for c in columns],
            schema=pa.schema([pa.field(c, by_name[c].arrow_type) for c in columns]),
        )
    idx = pa.array(sel)

    arrays = []
    for c in columns:
        spec = by_name[c]
        if c in pred_arrays:
            arrays.append(pred_arrays[c].take(idx))
            continue
        if spec.kind in ("intlist", "floatlist") and sel.size:
            buf = memoryview(row[f"{c}__payload"])
            nn, valid, body = _unwrap(buf)
            (ll,) = struct.unpack_from("<I", body, 0)
            list_lens = decode_ints(body[4 : 4 + ll]).astype(np.int64)
            full_lens = _expand(nn, valid, list_lens)
            ends = np.cumsum(full_lens)
            starts = ends - full_lens
            ranges = [(int(starts[i]), int(ends[i])) for i in sel]
            parts = decode_ints_ranges(body[4 + ll :], ranges)
            vals = (
                np.concatenate(parts) if len(parts) > 1 else
                (parts[0] if parts else np.zeros(0, dtype=np.int64))
            )
            if spec.kind == "floatlist":
                vals = vals.view(np.float32 if vals.dtype == np.int32 else np.float64)
            sel_full_lens = full_lens[sel]
            if valid is not None:
                sel_valid = valid[sel]
                nn_lens = sel_full_lens[sel_valid]
            else:
                sel_valid, nn_lens = None, sel_full_lens
            arrays.append(
                _list_array(spec.arrow_type, sel.size, sel_valid, nn_lens, vals)
            )
            continue
        arrays.append(decode_column(spec, row[f"{c}__payload"]).take(idx))
    return pa.RecordBatch.from_arrays(
        arrays,
        schema=pa.schema([pa.field(c, by_name[c].arrow_type) for c in columns]),
    )


def decode_block(
    specs: list[ColumnSpec], row: dict, columns: list[str] | None = None
) -> pa.RecordBatch:
    """Decode requested columns of one block row (projection pushdown:
    untouched payload columns are never even read — the reference's
    ProjectionMask analog, /root/reference/src/prune/result.rs:59-86)."""
    names = columns or [s.name for s in specs]
    by_name = {s.name: s for s in specs}
    arrays = [decode_column(by_name[c], row[f"{c}__payload"]) for c in names]
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema([pa.field(c, by_name[c].arrow_type) for c in names])
    )
