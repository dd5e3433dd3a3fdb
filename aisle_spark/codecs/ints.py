"""Integer codecs: bit-pack, frame-of-reference (FOR->bitpack cascade),
run-length (RLE), dictionary, plain.

All functions are pure numpy — no per-row Python. Values are carried through
an unsigned-wraparound domain so the full int64 range (including INT64_MIN /
INT64_MAX spans wider than int64) round-trips exactly.

Encoded payload layout (little-endian):
  u8  codec_id
  u8  orig dtype code (see _DTYPES)
  u32 n_values
  ... codec body ...

Semantics mirrored from the reference's encode-side role (aisle consumes
stats the writer produced; here we ARE the writer): exactness of min/max is
guaranteed because we compute them from the block itself
(/root/reference/src/prune/stats.rs:13-28 analog).
"""

from __future__ import annotations

import struct

import numpy as np

# codec ids (shared across int payloads)
PLAIN = 0
BITPACK = 1
FOR_BITPACK = 2
RLE = 3
DICT = 4
CHUNKED = 5  # mini-block cascade: per-chunk auto codec (page analog)

_DTYPES = {
    0: np.dtype("int8"),
    1: np.dtype("int16"),
    2: np.dtype("int32"),
    3: np.dtype("int64"),
    4: np.dtype("uint8"),
    5: np.dtype("uint16"),
    6: np.dtype("uint32"),
    7: np.dtype("uint64"),
}
_DTYPE_CODE = {v: k for k, v in _DTYPES.items()}

_HDR = struct.Struct("<BBI")


def _to_u64(arr: np.ndarray) -> np.ndarray:
    """Reinterpret any integer array as uint64 (two's-complement widening)."""
    return arr.astype(np.int64, copy=False).view(np.uint64)


def _from_u64(u: np.ndarray, dtype: np.dtype) -> np.ndarray:
    return u.view(np.int64).astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# bit-packing primitive — TRUE density, vectorized group-wise: 8 values
# <-> exactly ``width`` bytes. Each output byte overlaps a fixed set of
# value positions with shifts constant across groups, so pack/unpack is
# ~width numpy shift-or ops over n/8-length arrays — no bit matrix, no
# per-value Python. Bit order is little-endian within the stream
# (value i occupies bits [i*width, (i+1)*width)).
# ---------------------------------------------------------------------------


def _width(umax: int) -> int:
    return int(umax).bit_length()


def packed_nbytes(n: int, width: int) -> int:
    if width == 0 or n == 0:
        return 0
    if width in (8, 16, 32, 64):  # byte-aligned fast path stores exactly n*w/8
        return n * width // 8
    return ((n + 7) // 8) * width


def bitpack_encode(u: np.ndarray, width: int) -> bytes:
    """Pack unsigned values into ``width``-bit little-endian slots. The
    lane dtype may be any unsigned type wide enough for ``width`` (the
    chunk cascade feeds uint32 lanes for 4-byte sources — half the
    memory traffic of the uint64 domain); the byte stream is identical
    regardless of lane width."""
    n = u.size
    if width == 0 or n == 0:
        return b""
    if width == 8 or width == 16 or width == 32 or width == 64:
        return u.astype(f"<u{width // 8}", copy=False).tobytes()
    m = (n + 7) // 8
    pad = m * 8 - n
    if pad:
        u = np.concatenate((u, np.zeros(pad, dtype=u.dtype)))
    V = u.reshape(m, 8)
    out = np.empty((m, width), dtype=np.uint8)
    for j in range(width):
        lo_bit = 8 * j
        a = lo_bit // width
        b = (lo_bit + 7) // width
        acc = None
        for v in range(a, min(b, 7) + 1):
            vstart = v * width
            # shifts stay within the lane dtype: left by <= 7 (bits past
            # the lane drop — they belong to later bytes, which re-read
            # them with their own right shift), right by < width
            part = (
                V[:, v] << (vstart - lo_bit)
                if vstart >= lo_bit
                else V[:, v] >> (lo_bit - vstart)
            )
            acc = part if acc is None else acc | part
        out[:, j] = acc.astype(np.uint8)  # truncates to low byte
    return out.tobytes()


def bitpack_decode(
    buf: bytes | memoryview, n: int, width: int, lane=np.uint64
) -> np.ndarray:
    """Unpack ``width``-bit values into ``lane``-dtype slots. The lane may
    be any unsigned dtype wide enough for ``width`` (the chunked decode
    uses uint32 lanes for <= 4-byte targets — half the memory traffic);
    the decoded bit patterns are identical regardless of lane width."""
    lane = np.dtype(lane)
    if width > 8 * lane.itemsize:  # lane too narrow for this width
        lane = np.dtype(np.uint64)
    if width == 0 or n == 0:
        return np.zeros(n, dtype=lane)
    need = packed_nbytes(n, width)
    if len(buf) < need:
        raise ValueError(
            f"bitpack payload truncated: need {need} bytes, have {len(buf)}"
        )
    if width == 8 or width == 16 or width == 32 or width == 64:
        return np.frombuffer(buf, dtype=f"<u{width // 8}", count=n).astype(lane)
    m = (n + 7) // 8
    B = np.frombuffer(buf, dtype=np.uint8, count=m * width).reshape(m, width)
    B = B.astype(lane)
    mask = lane.type((1 << width) - 1)
    out = np.empty((m, 8), dtype=lane)
    for p in range(8):
        lo = p * width
        jb0 = lo // 8
        jb1 = (lo + width - 1) // 8
        acc = None
        for j in range(jb0, jb1 + 1):
            bstart = 8 * j
            part = (
                B[:, j] << lane.type(bstart - lo)
                if bstart >= lo
                else B[:, j] >> lane.type(lo - bstart)
            )
            acc = part if acc is None else acc | part
        out[:, p] = acc & mask
    return out.reshape(-1)[:n]


# ---------------------------------------------------------------------------
# codec bodies — each takes/returns the uint64 domain
# ---------------------------------------------------------------------------


def _body_plain(u: np.ndarray, dtype: np.dtype) -> bytes:
    # store at original dtype width — plain means "raw little-endian values"
    return _from_u64(u, dtype).tobytes()


def _unbody_plain(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    return _to_u64(np.frombuffer(buf, dtype=dtype, count=n))


def _body_for(u: np.ndarray) -> bytes:
    s = u.view(np.int64)
    base = int(s.min()) if s.size else 0
    deltas = u - np.int64(base).view(np.uint64).astype(np.uint64)
    width = _width(int(deltas.max())) if s.size else 0
    return struct.pack("<qB", base, width) + bitpack_encode(deltas, width)


def _unbody_for(buf: memoryview, n: int) -> np.ndarray:
    base, width = struct.unpack_from("<qB", buf, 0)
    deltas = bitpack_decode(buf[9:], n, width)
    return deltas + np.int64(base).view(np.uint64).astype(np.uint64)


def _body_bitpack(u: np.ndarray) -> bytes:
    # pure bit-pack: requires non-negative signed values
    width = _width(int(u.max())) if u.size else 0
    return struct.pack("<B", width) + bitpack_encode(u, width)


def _unbody_bitpack(buf: memoryview, n: int) -> np.ndarray:
    (width,) = struct.unpack_from("<B", buf, 0)
    return bitpack_decode(buf[1:], n, width)


def _runs(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run values + run lengths via vectorized diff (no per-row Python)."""
    n = u.size
    if n == 0:
        return u[:0], np.zeros(0, dtype=np.int64)
    change = np.flatnonzero(u[1:] != u[:-1])
    starts = np.concatenate(([0], change + 1))
    lengths = np.diff(np.concatenate((starts, [n])))
    return u[starts], lengths


def _body_rle(u: np.ndarray) -> bytes:
    values, lengths = _runs(u)
    vals_body = _body_for(values)
    lens_body = _body_for(lengths.view(np.uint64))
    return (
        struct.pack("<II", values.size, len(vals_body))
        + vals_body
        + lens_body
    )


def _unbody_rle(buf: memoryview, n: int) -> np.ndarray:
    n_runs, vlen = struct.unpack_from("<II", buf, 0)
    values = _unbody_for(buf[8 : 8 + vlen], n_runs)
    lengths = _unbody_for(buf[8 + vlen :], n_runs).view(np.int64)
    return np.repeat(values, lengths)


def _body_dict(u: np.ndarray, uniq: np.ndarray | None = None) -> bytes:
    if uniq is None:
        uniq, codes = np.unique(u, return_inverse=True)
    else:
        # reuse the distinct set the stats pass already sorted — one
        # searchsorted instead of a second full sort (chunk-cascade hotspot)
        codes = np.searchsorted(uniq, u)
    cw = _width(uniq.size - 1) if uniq.size > 1 else 0
    uniq_body = _body_for(uniq)
    return (
        struct.pack("<IIB", uniq.size, len(uniq_body), cw)
        + uniq_body
        + bitpack_encode(codes.astype(np.uint64), cw)
    )


def _unbody_dict(buf: memoryview, n: int) -> np.ndarray:
    k, ulen, cw = struct.unpack_from("<IIB", buf, 0)
    uniq = _unbody_for(buf[9 : 9 + ulen], k)
    codes = bitpack_decode(buf[9 + ulen :], n, cw)
    return uniq[codes]


# ---------------------------------------------------------------------------
# public API + size estimation for codec auto-selection
# ---------------------------------------------------------------------------

INT_CODECS = {
    PLAIN: "plain",
    BITPACK: "bitpack",
    FOR_BITPACK: "for",
    RLE: "rle",
    DICT: "dict",
    CHUNKED: "chunked",
}
INT_CODEC_IDS = {v: k for k, v in INT_CODECS.items()}

# mini-block size for the chunked cascade: small enough that one chunk is
# usually regime-homogeneous (one long document's tokens), large enough
# that per-chunk constant overheads vanish
CHUNK_VALUES = 4096
CHUNKED_MIN = 2 * CHUNK_VALUES


def _body_chunked(u: np.ndarray, dtype: np.dtype) -> bytes:
    """Mini-block cascade with ONE vectorized stats pass over all chunks:
    per-chunk min/max/n_runs and the sampled-cardinality screen are
    computed with reduceat / one axis-sort over the whole block instead
    of ~n/4096 separate ``int_stats`` calls (each of which paid its own
    dtype conversion, strided-sample sort and numpy call overhead — the
    encode profile's top hotspot). Byte output is identical: the same
    stats feed the same ``choose_int_codec`` and the same codec bodies.

    Works in the NARROWEST sufficient domain: stats read the native
    array; packing runs in uint32 lanes for sources of <= 4 bytes
    (uint64 otherwise). Equivalence with the uint64 reference domain:
    the two's-complement unsigned view at any width orders negatives
    above all non-negatives and preserves order within each sign class,
    wrap-around subtraction yields the same FOR deltas (every delta
    fits the lane), and `bitpack_encode` emits the identical stream
    from any lane width — so every emitted byte matches, for half the
    memory traffic on int32 token payloads."""
    arr = u
    dtype = arr.dtype
    n = arr.size
    m = CHUNK_VALUES
    itemsize = dtype.itemsize
    signed = dtype.kind == "i"
    if itemsize <= 4:
        work_u = np.dtype(np.uint32)
        if itemsize == 4:
            wu = arr.view(work_u) if signed else arr
        elif signed:
            wu = arr.astype(np.int32, copy=False).view(work_u)
        else:
            wu = arr.astype(work_u, copy=False)

        def _widen(w: np.ndarray) -> np.ndarray:
            # work-lane values -> the u64 reference domain (sign-extend
            # signed bit patterns; unsigned values pass through)
            return _to_u64(w.view(np.int32)) if signed else _to_u64(w)

        def _base_w(v: int):
            return (
                np.array(v, dtype=np.int32).view(work_u)
                if signed
                else np.array(v, dtype=work_u)
            )

    else:
        work_u = np.dtype(np.uint64)
        wu = _to_u64(arr)

        def _widen(w: np.ndarray) -> np.ndarray:
            return w

        def _base_w(v: int):
            return np.array(v, dtype=np.int64).view(work_u)
    n_full = n // m
    nc = (n + m - 1) // m
    starts = np.arange(0, n, m, dtype=np.int64)
    # per-chunk min/max in the domain int_stats used: native values for
    # every dtype except uint64, whose reference domain is the WRAPPED
    # int64 view (the module's unsigned-wraparound convention)
    stat_src = arr if (signed or itemsize <= 4) else wu.view(np.int64)
    cmin = np.minimum.reduceat(stat_src, starts)
    cmax = np.maximum.reduceat(stat_src, starts)
    # per-chunk run count: changes strictly inside each chunk + 1
    d = arr[1:] != arr[:-1]
    if nc > 1:
        # bool -> uint8 view is free (numpy bools are 0/1 bytes); the
        # int64 accumulator comes from reduceat's dtype, not a full cast
        d64 = d.view(np.uint8)
        if starts[-1] >= d.size:
            # the last chunk holds a single value: its start index n-1
            # is past d (len n-1) — reduceat over the rest, append runs=1
            runs = np.add.reduceat(d64, starts[:-1], dtype=np.int64)
            runs[:-1] -= d[starts[1:-1] - 1]
            runs[-1] -= d[starts[-1] - 1]
            n_runs = np.concatenate((runs + 1, [1]))
        else:
            runs = np.add.reduceat(d64, starts, dtype=np.int64)
            # reduceat windows [start, next_start) include the cross-chunk
            # boundary change d[next_start-1] — exclude it (int_stats
            # counts changes within the chunk only)
            runs[:-1] -= d[starts[1:] - 1]
            n_runs = runs + 1
    else:
        n_runs = np.array([1 + int(np.count_nonzero(d))], dtype=np.int64)
    # sampled-cardinality screen for FULL chunks (same grid int_stats
    # uses: stride n_chunk//512 from the chunk start). Full chunks all
    # share stride m//512, so one axis-sort covers them all.
    stride = max(1, m // 512)
    if n_full:
        samp = np.sort(arr[: n_full * m].reshape(n_full, m)[:, ::stride], axis=1)
        ks = 1 + np.count_nonzero(samp[:, 1:] != samp[:, :-1], axis=1)
        dict_viable = ks <= (samp.shape[1] // 4)
    else:
        dict_viable = np.zeros(0, dtype=bool)

    dcode = _DTYPE_CODE[dtype]
    chunks: list[bytes | None] = [None] * nc
    # FOR/bitpack chunks whose row count is 8-aligned batch into ONE
    # bitpack_encode per distinct width (8-value pack groups align with
    # chunk boundaries, so the concatenated pack is byte-identical to
    # per-chunk packs) — collapses ~n/4096 small packs into a handful of
    # large ones, which is where the per-call numpy overhead was going
    batch: list[tuple[int, int, bytes, object]] = []  # (ci, width, hdr, vals)
    # (ci, lo, cn, uniq_w, codes): codes = inverse indices into uniq_w
    dict_cands: list[tuple[int, int, int, np.ndarray, np.ndarray]] = []
    for ci in range(nc):
        lo = ci * m
        cn = min(m, n - lo)
        cw_ = wu[lo : lo + cn]  # work (unsigned-lane) domain
        # return_inverse gives the dict CODES for free-ish (one argsort
        # inside unique vs a separate per-chunk searchsorted afterwards —
        # measured 2x cheaper, identical codes: inverse indices ARE the
        # searchsorted positions in the sorted distinct set)
        uniq_w = inv_w = None
        lo_v, hi_v = int(cmin[ci]), int(cmax[ci])
        # optimistic dict pre-screen: the sampled cardinality is a LOWER
        # bound on true k, est["dict"] is monotone in k, and no other
        # codec's estimate reads distinct — so if dict loses the chooser
        # even at k_lb it provably loses at true k, and the exact unique
        # (the cascade's main remaining cost on sorted data, where most
        # dict-viable chunks end up bitpack/FOR) is skipped without
        # changing a single byte

        def _dict_could_win(k_lb: int) -> bool:
            st_lb = {
                "n": cn,
                "min": lo_v,
                "max": hi_v,
                "n_runs": int(n_runs[ci]),
                "distinct": k_lb,
            }
            return choose_int_codec(st_lb, itemsize) == "dict"

        if cn == m:
            if dict_viable[ci] and _dict_could_win(int(ks[ci])):
                uniq_w, inv_w = np.unique(cw_, return_inverse=True)
                distinct = int(uniq_w.size)
            else:
                distinct = cn
        elif cn > 1024:
            sample = np.sort(arr[lo : lo + cn : max(1, cn // 512)])
            k = 1 + int(np.count_nonzero(sample[1:] != sample[:-1]))
            if k > sample.size // 4 or not _dict_could_win(k):
                distinct = cn
            else:
                uniq_w, inv_w = np.unique(cw_, return_inverse=True)
                distinct = int(uniq_w.size)
        else:
            uniq_w, inv_w = np.unique(cw_, return_inverse=True)
            distinct = int(uniq_w.size)
        st = {
            "n": cn,
            "min": lo_v,
            "max": hi_v,
            "n_runs": int(n_runs[ci]),
            "distinct": distinct,
        }
        codec = choose_int_codec(st, itemsize)
        if codec == "dict" and uniq_w is not None and cn % 8 == 0:
            # dict body = header + FOR(uniq) + bitpack(codes, cw); both
            # halves batch: the codes pack joins the width-batched pass
            # below, and the uniq table's FOR body is DEFERRED so all
            # tables share one widen + one reduceat stats pass + one
            # bitpack_encode per distinct uniq width (a per-table
            # _body_for was ~2400 small numpy calls per block — the same
            # call-overhead disease the chunk packs had)
            dict_cands.append((ci, lo, cn, uniq_w, inv_w.astype(work_u)))
            continue
        if codec in ("for", "bitpack") and cn % 8 == 0:
            if codec == "bitpack":  # choose proposes it only when min >= 0
                w = _width(hi_v)
                body_len = 1 + packed_nbytes(cn, w)
                hdr = _HDR.pack(BITPACK, dcode, cn) + struct.pack("<B", w)
                vals = cw_
            else:
                w = _width(hi_v - lo_v)
                body_len = 9 + packed_nbytes(cn, w)
                hdr = _HDR.pack(FOR_BITPACK, dcode, cn) + struct.pack(
                    "<qB", lo_v, w
                )
                # wrap-around subtraction in the lane dtype == the u64
                # delta (every delta fits the lane width)
                vals = cw_ - _base_w(lo_v)
            if body_len > cn * itemsize:  # the plain fallback, decided early
                chunks[ci] = _HDR.pack(PLAIN, dcode, cn) + arr[lo : lo + cn].tobytes()
            else:
                batch.append((ci, w, hdr, vals))
        else:
            cu64 = _to_u64(arr[lo : lo + cn])
            uniq64 = _widen(uniq_w) if uniq_w is not None else None
            chunks[ci] = _encode_ints_u64(cu64, dtype, codec, uniq64)
    if dict_cands:
        # one widen + one reduceat pass over ALL uniq tables, then one
        # bitpack_encode per distinct uniq width. Byte-equivalence with
        # the per-table _body_for: reduceat min over the int64 view IS
        # s.min(); wrap-around subtraction of the repeated base gives the
        # same u64 deltas; each table padded to the 8-value group (for
        # non-byte-aligned widths) packs to exactly the bytes its own
        # bitpack_encode — which pads its final partial group with the
        # same zeros — would emit, so the concatenated pack slices into
        # byte-identical per-table bodies.
        tks = np.fromiter(
            (t[3].size for t in dict_cands),
            dtype=np.int64,
            count=len(dict_cands),
        )
        U64 = _widen(
            np.concatenate([t[3] for t in dict_cands])
            if len(dict_cands) > 1
            else dict_cands[0][3]
        )
        tstarts = np.concatenate(([0], np.cumsum(tks[:-1])))
        bases = np.minimum.reduceat(U64.view(np.int64), tstarts)
        deltas = U64 - np.repeat(bases.view(np.uint64), tks)
        dmax = np.maximum.reduceat(deltas, tstarts)
        by_uw: dict[int, list[int]] = {}
        meta: list[tuple[int, int, int, int] | None] = [None] * len(dict_cands)
        for i, (ci, lo, cn, uniq_w, inv_w) in enumerate(dict_cands):
            k = int(tks[i])
            uw = _width(int(dmax[i]))
            cw = _width(k - 1) if k > 1 else 0
            nb = packed_nbytes(k, uw)
            body_len = 9 + (9 + nb) + packed_nbytes(cn, cw)
            if body_len > cn * itemsize:
                chunks[ci] = (
                    _HDR.pack(PLAIN, dcode, cn) + arr[lo : lo + cn].tobytes()
                )
            else:
                meta[i] = (uw, cw, nb, 9 + nb)
                by_uw.setdefault(uw, []).append(i)
        packed_uniq: dict[int, bytes] = {}
        offs = np.zeros(len(dict_cands), dtype=np.int64)
        for w, idxs in by_uw.items():
            if w == 0:
                packed_uniq[w] = b""
                continue
            aligned = w in (8, 16, 32, 64)
            pks = [int(tks[i]) if aligned else ((int(tks[i]) + 7) // 8) * 8 for i in idxs]
            buf = np.zeros(sum(pks), dtype=deltas.dtype)
            pos = 0
            off = 0
            for i, pk in zip(idxs, pks):
                buf[pos : pos + int(tks[i])] = deltas[
                    tstarts[i] : tstarts[i] + tks[i]
                ]
                pos += pk
                offs[i] = off
                off += meta[i][2]
            packed_uniq[w] = bitpack_encode(buf, w)
        for i, (ci, lo, cn, uniq_w, inv_w) in enumerate(dict_cands):
            if meta[i] is None:
                continue
            uw, cw, nb, ulen = meta[i]
            uniq_body = (
                struct.pack("<qB", int(bases[i]), uw)
                + packed_uniq[uw][int(offs[i]) : int(offs[i]) + nb]
            )
            hdr = (
                _HDR.pack(DICT, dcode, cn)
                + struct.pack("<IIB", int(tks[i]), ulen, cw)
                + uniq_body
            )
            codes = inv_w  # unique's inverse == searchsorted positions
            batch.append((ci, cw, hdr, codes))
    if batch:
        by_w: dict[int, list[tuple[int, bytes, object]]] = {}
        for ci, w, hdr, vals in batch:
            by_w.setdefault(w, []).append((ci, hdr, vals))
        for w, items in by_w.items():
            packed = bitpack_encode(
                items[0][2]
                if len(items) == 1
                else np.concatenate([vals for _, _, vals in items]),
                w,
            )
            off = 0
            for ci, hdr, vals in items:
                nb = packed_nbytes(vals.size, w)
                chunks[ci] = hdr + packed[off : off + nb]
                off += nb
    lens = np.fromiter((len(c) for c in chunks), dtype=np.uint32, count=len(chunks))
    return (
        struct.pack("<II", len(chunks), CHUNK_VALUES)
        + lens.tobytes()
        + b"".join(chunks)
    )


def _unbody_chunked(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    """Returns the NATIVE-dtype array directly, with ONE ``bitpack_decode``
    per distinct bit width instead of one per mini-chunk (the decode
    profile's hotspot: ~n/4096 unpack calls whose per-call numpy overhead
    on 512-group arrays dwarfed the bit math). 8-value pack groups align
    with chunk boundaries for every 8-aligned chunk, so the concatenated
    packed streams unpack to exactly the per-chunk values; unpacking runs
    in uint32 lanes for <= 4-byte targets (dict codes always — a chunk's
    code width is <= 12 bits), mirroring the encode-side lane argument:
    the lane holds the value's two's-complement bit pattern, wrap-around
    base addition reproduces the pattern of the original value, and the
    native view of that pattern IS the value."""
    n_chunks, _m = struct.unpack_from("<II", buf, 0)
    lens = np.frombuffer(buf[8 : 8 + 4 * n_chunks], dtype=np.uint32)
    out = np.empty(n, dtype=dtype)
    narrow = dtype.itemsize <= 4
    val_lane = np.dtype(np.uint32) if narrow else np.dtype(np.uint64)
    signed = dtype.kind == "i"
    sview = np.int32 if narrow else np.int64
    # (width, lane) -> list of (row_pos, n_vals, kind, extra, packed_bytes)
    groups: dict[tuple[int, object], list] = {}
    dicts: list[list] = []  # deferred dict gathers: [pos, cn, uniq, codes]
    off = 8 + 4 * n_chunks
    pos = 0
    for ln in lens:
        seg = buf[off : off + int(ln)]
        off += int(ln)
        cid, _dc, cn = _HDR.unpack_from(seg, 0)
        body = seg[_HDR.size :]
        if cid == PLAIN:
            out[pos : pos + cn] = np.frombuffer(body, dtype=dtype, count=cn)
        elif cn % 8:  # partial tail chunk: pack padding breaks concatenation
            out[pos : pos + cn] = decode_ints(seg)
        elif cid == BITPACK:
            (w,) = struct.unpack_from("<B", body, 0)
            if w > 8 * val_lane.itemsize:  # unreachable for a sound stream
                out[pos : pos + cn] = decode_ints(seg)
            else:
                groups.setdefault((w, val_lane), []).append(
                    (pos, cn, 0, 0, body[1 : 1 + packed_nbytes(cn, w)])
                )
        elif cid == FOR_BITPACK:
            base, w = struct.unpack_from("<qB", body, 0)
            if w > 8 * val_lane.itemsize:  # unreachable for a sound stream
                out[pos : pos + cn] = decode_ints(seg)
            else:
                groups.setdefault((w, val_lane), []).append(
                    (pos, cn, 1, base, body[9 : 9 + packed_nbytes(cn, w)])
                )
        elif cid == DICT:
            # codes AND the uniq table's FOR deltas both join the
            # width-batched unpack (uniq tables are tiny, so their
            # per-table unpack was pure call overhead); the gather waits
            # in `dicts` until both halves are decoded
            k, ulen, cw = struct.unpack_from("<IIB", body, 0)
            ubase, uw = struct.unpack_from("<qB", body, 9)
            rec: list = [pos, cn, None, None]  # [-2]=uniq, [-1]=codes
            if uw > 8 * val_lane.itemsize:  # unreachable for a sound stream
                rec[2] = _from_u64(_unbody_for(body[9 : 9 + ulen], k), dtype)
            else:
                # a non-8-aligned table's pack pads to the 8-value group:
                # the batch walks padded counts and slices the true k
                upad = k if uw in (0, 8, 16, 32, 64) else ((k + 7) // 8) * 8
                groups.setdefault((uw, val_lane), []).append(
                    (None, upad, 3, (ubase, rec, k),
                     body[18 : 18 + packed_nbytes(k, uw)])
                )
            groups.setdefault((cw, np.dtype(np.uint32)), []).append(
                (
                    None,
                    cn,
                    2,
                    rec,
                    body[9 + ulen : 9 + ulen + packed_nbytes(cn, cw)],
                )
            )
            dicts.append(rec)
        else:  # RLE (and any future codec): per-chunk native decode
            out[pos : pos + cn] = decode_ints(seg)
        pos += cn
    lane_bits = {}
    for (w, lane), items in groups.items():
        if len(items) == 1:
            joined: bytes | memoryview = items[0][4]
            total = items[0][1]
        else:
            joined = b"".join(bytes(it[4]) for it in items)
            total = sum(it[1] for it in items)
        vals = bitpack_decode(joined, total, w, lane=lane)
        mask = lane_bits.setdefault(lane, (1 << (8 * lane.itemsize)) - 1)
        vpos = 0
        for p0, cn, kind, extra, _pl in items:
            v = vals[vpos : vpos + cn]
            vpos += cn
            if kind == 2:  # dict codes: park for the deferred gather
                extra[3] = v
                continue
            if kind == 3:  # dict uniq table: FOR base add, then native
                ubase, rec, k = extra
                u = v[:k] + v.dtype.type(ubase & mask)
                rec[2] = (
                    u.view(sview).astype(dtype, copy=False)
                    if signed
                    else u.astype(dtype, copy=False)
                )
                continue
            if kind == 1:  # FOR: wrap-around base add in the lane domain
                v = v + v.dtype.type(extra & mask)
            out[p0 : p0 + cn] = v.view(sview) if signed else v
    for p0, cn, uniq, codes in dicts:
        out[p0 : p0 + cn] = uniq[codes]
    return out


SAMPLE_CAP = 1 << 16


def int_stats(arr: np.ndarray, exact_distinct: bool = True) -> dict:
    """Per-block statistics driving codec selection AND pruning
    (cardinality, run count, value range — the sampled-statistics axes
    named in BASELINE.json north_star). min/max/n_runs are always exact;
    distinct is sampled for large arrays unless ``exact_distinct`` (the
    selection-only caller passes False; manifest stats for scalar columns
    stay exact because blocks are small)."""
    u = _to_u64(arr)
    s = u.view(np.int64)
    n = int(arr.size)
    if n == 0:
        return {"n": 0, "min": None, "max": None, "n_runs": 0, "distinct": 0}
    n_runs = 1 + int(np.count_nonzero(u[1:] != u[:-1]))
    uniq = None
    if not exact_distinct and n > 1024:
        # sampled cardinality screen: a 512-point sample that is >1/4
        # unique means dict can't win at this chunk size — skip the exact
        # unique (a full sort, the chunk-cascade profile hotspot).
        # Overestimating distinct only disables the dict codec; min/max/
        # n_runs stay exact, so pruning soundness is untouched. The screen
        # is an inline sort + boundary count (np.unique adds ~10 us of
        # wrapper overhead per call, which at one call per 4096-value
        # mini-chunk is real money).
        sample = np.sort(u[:: max(1, n // 512)])
        k = 1 + int(np.count_nonzero(sample[1:] != sample[:-1]))
        if k > sample.size // 4:
            distinct = n
        else:
            uniq = np.unique(u)
            distinct = int(uniq.size)
    else:
        uniq = np.unique(u)
        distinct = int(uniq.size)
    return {
        "n": n,
        "min": int(s.min()),
        "max": int(s.max()),
        "n_runs": n_runs,
        "distinct": distinct,
        "uniq": uniq,  # sorted distinct set when computed (dict codec reuses)
    }


def estimate_int_sizes(stats: dict, itemsize: int) -> dict[str, float]:
    """Predicted encoded bytes per codec from block stats (no trial encode)."""
    n = stats["n"]
    if n == 0:
        return {"plain": 0}
    lo, hi = stats["min"], stats["max"]
    delta_w = _width((hi - lo) if hi >= lo else 0)
    k = stats["distinct"]
    r = stats["n_runs"]
    code_w = _width(k - 1) if k > 1 else 0
    est = {
        "plain": n * itemsize,
        "for": 10 + packed_nbytes(n, delta_w),
        "rle": 16 + r * (delta_w / 8 + 2) + 20,
        "dict": 9 + k * (delta_w / 8 + 2) + packed_nbytes(n, code_w),
    }
    if lo >= 0:
        est["bitpack"] = 1 + packed_nbytes(n, _width(hi))
    return est


def choose_int_codec(stats: dict, itemsize: int) -> str:
    est = estimate_int_sizes(stats, itemsize)
    return min(est, key=est.get)


def _encode_ints_u64(
    u: np.ndarray, dtype: np.dtype, codec: str, uniq: np.ndarray | None = None
) -> bytes:
    """Encode an already-u64-domain array with a known codec — the
    chunk-cascade inner loop (skips re-stats and re-conversion)."""
    cid = INT_CODEC_IDS[codec]
    if cid == PLAIN:
        body = _body_plain(u, dtype)
    elif cid == BITPACK:
        if u.size and int(u.view(np.int64).min()) < 0:
            cid, body = FOR_BITPACK, _body_for(u)
        else:
            body = _body_bitpack(u)
    elif cid == FOR_BITPACK:
        body = _body_for(u)
    elif cid == RLE:
        body = _body_rle(u)
    elif cid == DICT:
        body = _body_dict(u, uniq)
    else:  # pragma: no cover
        raise ValueError(codec)
    out = _HDR.pack(cid, _DTYPE_CODE[dtype], u.size) + body
    # plain fallback if the "clever" codec lost (guards incompressible
    # data) — materialized lazily, only when it would actually be smaller
    if cid != PLAIN and len(out) > _HDR.size + u.size * dtype.itemsize:
        return _HDR.pack(PLAIN, _DTYPE_CODE[dtype], u.size) + _body_plain(u, dtype)
    return out


def encode_ints(
    arr: np.ndarray, codec: str | None = None, _uniq: np.ndarray | None = None
) -> bytes:
    """Encode an integer array; codec auto-selected from stats when None.
    ``_uniq``: the stats pass's sorted distinct set (u64 domain), reused by
    the dict codec to skip a second sort."""
    dtype = arr.dtype
    if dtype not in _DTYPE_CODE:
        raise TypeError(f"unsupported int dtype {dtype}")
    if codec is None:
        if arr.size >= CHUNKED_MIN:
            codec = "chunked"
        else:
            codec = choose_int_codec(int_stats(arr), dtype.itemsize)
    if INT_CODEC_IDS[codec] == CHUNKED:
        # the cascade reads the NATIVE array (narrow-lane stats/packing);
        # no up-front u64 widening of the whole payload
        out = _HDR.pack(CHUNKED, _DTYPE_CODE[dtype], arr.size) + _body_chunked(
            arr, dtype
        )
        if len(out) > _HDR.size + arr.size * dtype.itemsize:
            return _HDR.pack(
                PLAIN, _DTYPE_CODE[dtype], arr.size
            ) + np.ascontiguousarray(arr).tobytes()
        return out
    return _encode_ints_u64(_to_u64(arr), dtype, codec, _uniq)


def decode_ints(buf: bytes | memoryview) -> np.ndarray:
    buf = memoryview(buf)
    cid, dcode, n = _HDR.unpack_from(buf, 0)
    dtype = _DTYPES[dcode]
    body = buf[_HDR.size :]
    if cid == CHUNKED:
        return _unbody_chunked(body, n, dtype)  # already native dtype
    if cid == PLAIN:
        # raw little-endian values at the source width — a fresh native
        # copy, skipping the widen-to-u64 / narrow-back round trip
        return np.frombuffer(body, dtype=dtype, count=n).copy()
    if cid == BITPACK:
        u = _unbody_bitpack(body, n)
    elif cid == FOR_BITPACK:
        u = _unbody_for(body, n)
    elif cid == RLE:
        u = _unbody_rle(body, n)
    elif cid == DICT:
        u = _unbody_dict(body, n)
    else:  # pragma: no cover
        raise ValueError(cid)
    return _from_u64(u, dtype)


def codec_name(buf: bytes | memoryview) -> str:
    cid = memoryview(buf)[0]
    return INT_CODECS[int(cid)]


def decode_ints_ranges(
    buf: bytes | memoryview, ranges: list[tuple[int, int]]
) -> list[np.ndarray]:
    """Decode several [start, stop) value ranges, decoding each needed
    mini-block chunk at most once (random access for the filtered decode
    path). Falls back to one full decode for non-chunked payloads."""
    buf = memoryview(buf)
    cid, dcode, n = _HDR.unpack_from(buf, 0)
    if cid != CHUNKED:
        vals = decode_ints(buf)
        return [vals[max(0, a) : min(n, b)] for a, b in ranges]
    body = buf[_HDR.size :]
    n_chunks, m = struct.unpack_from("<II", body, 0)
    lens = np.frombuffer(body[8 : 8 + 4 * n_chunks], dtype=np.uint32)
    offs = 8 + 4 * n_chunks + np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
    cache: dict[int, np.ndarray] = {}

    def chunk(ci: int) -> np.ndarray:
        if ci not in cache:
            cache[ci] = decode_ints(body[offs[ci] : offs[ci + 1]])
        return cache[ci]

    out = []
    for a, b in ranges:
        a, b = max(0, a), min(n, b)
        if a >= b:
            out.append(np.zeros(0, dtype=_DTYPES[dcode]))
            continue
        c0, c1 = a // m, (b - 1) // m
        parts = [chunk(ci) for ci in range(c0, c1 + 1)]
        vals = np.concatenate(parts) if len(parts) > 1 else parts[0]
        out.append(vals[a - c0 * m : b - c0 * m])
    return out


def decode_ints_slice(buf: bytes | memoryview, start: int, stop: int) -> np.ndarray:
    """Decode only values [start, stop) — random access via the chunked
    codec's mini-block index (the page-offset analog,
    /root/reference/src/prune/page.rs:160-181); non-chunked payloads fall
    back to full decode + slice."""
    buf = memoryview(buf)
    cid, dcode, n = _HDR.unpack_from(buf, 0)
    start = max(0, start)
    stop = min(n, stop)
    if start >= stop:
        return np.zeros(0, dtype=_DTYPES[dcode])
    if cid != CHUNKED:
        return decode_ints(buf)[start:stop]
    body = buf[_HDR.size :]
    n_chunks, m = struct.unpack_from("<II", body, 0)
    lens = np.frombuffer(body[8 : 8 + 4 * n_chunks], dtype=np.uint32)
    offs = 8 + 4 * n_chunks + np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
    c0, c1 = start // m, (stop - 1) // m
    parts = [
        decode_ints(body[offs[ci] : offs[ci + 1]]) for ci in range(c0, c1 + 1)
    ]
    vals = np.concatenate(parts) if len(parts) > 1 else parts[0]
    return vals[start - c0 * m : stop - c0 * m]
