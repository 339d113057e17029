"""Vectorized delta + varint posting codec (numpy, no per-element Python).

Posting lists are docID-sorted int64 arrays stored as
``varint(first_biased) ++ varint(deltas...)`` where *biased* maps the signed
xxhash64 docID space onto uint64 preserving order. Term frequencies and doc
lengths are plain varint streams aligned with the docID stream.

Encode: per 7-bit byte position, one vectorized pass (≤10 passes total).
Decode: terminator-scan + masked shifts, same bound.

Reference analog: Data Prepper has no columnar codec at all (row-at-a-time
Jackson trees, SURVEY.md §1.3); this is the Lucene-style posting layout the
north rule mandates, built for Arrow-batch encode inside applyInPandas.
"""

from __future__ import annotations

import numpy as np

_BIAS = np.uint64(1 << 63)
# thresholds[j] = 2**(7*(j+1)); value >= thresholds[j] ⇒ needs > j+1 bytes
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * (j + 1)) for j in range(9)]


def varint_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array, fully vectorized.

    Returns ``(out, ends)`` where *out* is the byte stream as a uint8
    array and ``ends[i]`` is the byte offset one past value *i* — because
    LEB128 is per-value self-delimiting, ``out[ends[i-1]:ends[i]]`` is
    exactly the encoding of ``values[i]``, which lets a caller encode the
    concatenation of many posting streams in ONE pass and slice the
    per-stream bytes out afterwards (see build.encode_slice_fn)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= t)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        pos = starts[mask] + j
        byte = (v[mask] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        cont = ((j + 1) < nbytes[mask]).astype(np.uint8) << 7
        out[pos] = byte.astype(np.uint8) | cont
    return out, ends


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    out, _ = varint_encode_arr(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream back to uint64, fully vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)  # terminator byte of each value
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    nbytes = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        chunk = b[starts[mask] + j].astype(np.uint64) & np.uint64(0x7F)
        vals[mask] |= chunk << np.uint64(7 * j)
    return vals


def varint_value_ends(b: np.ndarray) -> np.ndarray:
    """Terminator-byte index of every value in a LEB128 stream — ONE cheap
    pass (vs ~10 decode passes).  ``b[ends[i-1]+1 : ends[i]+1]`` is the
    encoding of value *i*, so a caller can decode an arbitrary value range
    of the stream without touching the rest (block-lazy posting reads)."""
    return np.flatnonzero((b & 0x80) == 0)


def varint_decode_range(b: np.ndarray, ends: np.ndarray, a: int, z: int) -> np.ndarray:
    """Decode values [a, z) of a LEB128 stream given its value-end index
    (from :func:`varint_value_ends`)."""
    if z <= a:
        return np.empty(0, dtype=np.uint64)
    start = 0 if a == 0 else int(ends[a - 1]) + 1
    return varint_decode(b[start : int(ends[z - 1]) + 1].tobytes())


def delta_encode_docids(doc_ids: np.ndarray) -> bytes:
    """Sorted signed-int64 docIDs → delta+varint bytes (order-preserving bias)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    u = d.astype(np.uint64) + _BIAS  # signed order → unsigned order
    stream = np.empty(u.size, dtype=np.uint64)
    stream[0] = u[0]
    stream[1:] = u[1:] - u[:-1]
    return varint_encode(stream)


def delta_decode_docids(buf: bytes) -> np.ndarray:
    """Inverse of :func:`delta_encode_docids`."""
    stream = varint_decode(buf)
    if stream.size == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(stream, dtype=np.uint64)
    return (u - _BIAS).astype(np.int64)


# ------------------------------------------------------------- PForDelta
#
# Patched frame-of-reference (NewPFD-style): fixed 128-value blocks, each
# bit-packed at the width covering ~90% of its values; the outliers
# ("patches") store their high bits in a varint exception list.  Wins
# over varint when deltas are small-and-uniform (dense posting lists —
# exactly the head-term case); varint wins on tiny/skewed lists.  The
# tagged stream API below lets the build pick per-index and the decoder
# auto-detect per blob.

_PFOR_BLOCK = 128


def _bits_needed(v: np.ndarray) -> np.ndarray:
    """Exact per-value bit widths (64 integer compares — no float log)."""
    bits = np.zeros(v.size, dtype=np.int64)
    for j in range(64):
        bits += (v >= (np.uint64(1) << np.uint64(j))).astype(np.int64)
    return bits


def _pack_bits(block: np.ndarray, b: int) -> bytes:
    if b == 0 or block.size == 0:
        return b""
    shifts = np.arange(b, dtype=np.uint64)
    bits = ((block[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _unpack_bits(buf: np.ndarray, n: int, b: int) -> np.ndarray:
    if b == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(buf, count=n * b, bitorder="little").reshape(n, b)
    vals = np.zeros(n, dtype=np.uint64)
    for j in range(b):
        vals |= bits[:, j].astype(np.uint64) << np.uint64(j)
    return vals


def _varint_decode_n(b: np.ndarray, off: int, count: int) -> tuple[np.ndarray, int]:
    """Decode exactly `count` LEB128 values starting at byte offset `off`."""
    vals = np.zeros(count, dtype=np.uint64)
    for i in range(count):
        shift, v = 0, np.uint64(0)
        while True:
            byte = int(b[off])
            off += 1
            v |= np.uint64(byte & 0x7F) << np.uint64(shift)
            if not byte & 0x80:
                break
            shift += 7
        vals[i] = v
    return vals, off


def _pfor_encode_block_loop(values: np.ndarray) -> bytes:
    """Reference per-block PFor encoder (kept for the identity test)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    out = bytearray()
    for s in range(0, v.size, _PFOR_BLOCK):
        block = v[s : s + _PFOR_BLOCK]
        n = block.size
        widths = _bits_needed(block)
        order = np.sort(widths)
        b = int(order[min(n - 1, max(0, int(np.ceil(0.9 * n)) - 1))])
        mask = (
            np.uint64(0xFFFFFFFFFFFFFFFF) if b >= 64 else (np.uint64(1) << np.uint64(b)) - np.uint64(1)
        )
        exc_idx = np.flatnonzero(widths > b)
        low = block & mask
        high = block[exc_idx] >> np.uint64(b)
        out.append(b)
        out.append(n - 1)  # 1..128 → 0..127
        out.append(exc_idx.size)
        out.extend(exc_idx.astype(np.uint8).tobytes())
        out.extend(_pack_bits(low, b))
        out.extend(varint_encode(high))
    return bytes(out)


def pfor_encode(values: np.ndarray) -> bytes:
    """PForDelta-encode a uint64 array: per 128-value block,
    ``[b:1][n:1][n_exc:1][exc_pos…][packed low bits][exc high varints]``.

    All-blocks-at-once: widths, per-block 90th-pct bit width, exception
    masks and the exception varint stream are computed globally; full
    blocks bit-pack grouped by width (a 128-value block at width w packs
    to exactly 16·w bytes, so same-width blocks pack in one call and
    split on fixed boundaries).  Byte-identical to the per-block loop
    (tests/test_codec.py::test_pfor_vectorized_identity)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n_total = v.size
    if n_total == 0:
        return b""
    n_full = n_total // _PFOR_BLOCK
    n_last = n_total - n_full * _PFOR_BLOCK
    nb = n_full + (1 if n_last else 0)
    widths = _bits_needed(v)

    # per-block selected bit width (90th percentile of value widths)
    b_blk = np.empty(nb, dtype=np.int64)
    if n_full:
        wf = np.sort(widths[: n_full * _PFOR_BLOCK].reshape(n_full, _PFOR_BLOCK), axis=1)
        b_blk[:n_full] = wf[:, int(np.ceil(0.9 * _PFOR_BLOCK)) - 1]
    if n_last:
        wl = np.sort(widths[n_full * _PFOR_BLOCK :])
        b_blk[-1] = wl[min(n_last - 1, max(0, int(np.ceil(0.9 * n_last)) - 1))]

    b_val = np.repeat(b_blk, np.r_[np.full(n_full, _PFOR_BLOCK), [n_last]][: nb] if n_last else np.full(n_full, _PFOR_BLOCK))
    mask_val = np.where(
        b_val >= 64,
        np.uint64(0xFFFFFFFFFFFFFFFF),
        (np.uint64(1) << b_val.astype(np.uint64)) - np.uint64(1),
    )
    low = v & mask_val
    exc_mask = widths > b_val
    exc_global = np.flatnonzero(exc_mask)
    high = v[exc_global] >> b_val[exc_global].astype(np.uint64)
    exc_pos = (exc_global % _PFOR_BLOCK).astype(np.uint8)
    exc_blk = exc_global // _PFOR_BLOCK
    n_exc = np.bincount(exc_blk, minlength=nb).astype(np.int64)

    # exception high-bit varints, one global pass; per-block byte slices
    hv_out, hv_ends = varint_encode_arr(high)
    hv_bytes = hv_out.tobytes()
    exc_off = np.concatenate(([0], np.cumsum(n_exc)))
    hv_blk_end = np.where(
        exc_off[1:] > 0, hv_ends[np.maximum(exc_off[1:] - 1, 0)], 0
    ) if high.size else np.zeros(nb, dtype=np.int64)
    # blocks with no exceptions inherit the previous end (empty slice)
    hv_blk_end = np.maximum.accumulate(hv_blk_end)
    hv_blk_start = np.concatenate(([0], hv_blk_end[:-1]))

    # packed low bits: full blocks grouped by width, one _pack_bits per width
    packed: list[bytes | None] = [None] * nb
    if n_full:
        lows_full = low[: n_full * _PFOR_BLOCK].reshape(n_full, _PFOR_BLOCK)
        for w in np.unique(b_blk[:n_full]):
            sel = np.flatnonzero(b_blk[:n_full] == w)
            if w == 0:
                for i in sel:
                    packed[i] = b""
                continue
            buf = _pack_bits(lows_full[sel].ravel(), int(w))
            step = 16 * int(w)  # 128·w bits = 16·w bytes, always byte-aligned
            for j, i in enumerate(sel):
                packed[i] = buf[j * step : (j + 1) * step]
    if n_last:
        packed[-1] = _pack_bits(low[n_full * _PFOR_BLOCK :], int(b_blk[-1]))

    exc_pos_split = np.split(exc_pos, exc_off[1:-1]) if nb > 1 else [exc_pos]
    n_in_blk = [_PFOR_BLOCK] * n_full + ([n_last] if n_last else [])
    parts = []
    for i in range(nb):
        parts.append(bytes([int(b_blk[i]), n_in_blk[i] - 1, int(n_exc[i])]))
        parts.append(exc_pos_split[i].tobytes())
        parts.append(packed[i])
        parts.append(hv_bytes[int(hv_blk_start[i]) : int(hv_blk_end[i])])
    return b"".join(parts)


def pfor_encode_runs(
    values: np.ndarray, runs: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Encode MANY concatenated posting streams with per-run PFor block
    restarts in one vectorized pass — the PFor analog of
    :func:`varint_encode_arr`'s encode-once-slice-after contract used by
    ``build.encode_slice_fn``.

    ``runs`` holds the sorted start index of each stream (``runs[0] == 0``).
    Returns ``(buf, ends)`` where ``buf[ends[i-1]:ends[i]]`` is
    byte-identical to ``pfor_encode(values[runs[i]:runs[i+1]])`` — blocks
    restart at every run boundary, so per-run encodings are plain byte
    slices of the global stream (pinned by
    tests/test_codec.py::test_pfor_runs_identity).

    2-D gathers are processed in fixed slabs of blocks so transient
    memory stays bounded regardless of group size."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    runs = np.ascontiguousarray(runs, dtype=np.int64)
    n = v.size
    n_runs = runs.size
    if n == 0:
        return b"", np.zeros(n_runs, dtype=np.int64)
    sizes = np.diff(np.append(runs, n))
    nb_run = (sizes + _PFOR_BLOCK - 1) // _PFOR_BLOCK
    nb_off = np.concatenate(([0], np.cumsum(nb_run)))
    NB = int(nb_off[-1])
    within = np.arange(NB) - np.repeat(nb_off[:-1], nb_run)
    blk_start = np.repeat(runs, nb_run) + within * _PFOR_BLOCK
    run_end_rep = np.repeat(runs + sizes, nb_run)
    blk_n = np.minimum(blk_start + _PFOR_BLOCK, run_end_rep) - blk_start

    widths = _bits_needed(v)
    col = np.arange(_PFOR_BLOCK)

    # --- per-block 90th-pct width, slab-wise (bounds the 2-D sort) ---
    b_blk = np.empty(NB, dtype=np.int64)
    SLAB = 8192
    for s0 in range(0, NB, SLAB):
        s1 = min(s0 + SLAB, NB)
        bs, bn = blk_start[s0:s1], blk_n[s0:s1]
        valid = col[None, :] < bn[:, None]
        idx_c = np.where(valid, bs[:, None] + col[None, :], 0)
        w2d = np.where(valid, widths[idx_c], 255)
        w2d.sort(axis=1)
        sel = np.minimum(bn - 1, np.maximum(0, np.ceil(0.9 * bn).astype(np.int64) - 1))
        b_blk[s0:s1] = w2d[np.arange(s1 - s0), sel]

    b_val = np.repeat(b_blk, blk_n)
    exc_global = np.flatnonzero(widths > b_val)
    high = v[exc_global] >> b_val[exc_global].astype(np.uint64)
    blk_id_per_value = np.repeat(np.arange(NB), blk_n)
    exc_blk = blk_id_per_value[exc_global]
    exc_pos = (exc_global - blk_start[exc_blk]).astype(np.uint8)
    n_exc = np.bincount(exc_blk, minlength=NB).astype(np.int64)

    hv_out, hv_ends = varint_encode_arr(high)
    exc_off = np.concatenate(([0], np.cumsum(n_exc)))
    if high.size:
        hv_blk_end = np.where(exc_off[1:] > 0, hv_ends[np.maximum(exc_off[1:] - 1, 0)], 0)
        hv_blk_end = np.maximum.accumulate(hv_blk_end)
    else:
        hv_blk_end = np.zeros(NB, dtype=np.int64)
    hv_len = np.diff(np.concatenate(([0], hv_blk_end)))

    # --- packed low bits: UNPADDED global bit-scatter, one packbits ---
    # each block's packed section is ceil(n·b/8) bytes; a value's b bits
    # land at section_start·8 + pos_in_block·b, LSB-first — identical to
    # _pack_bits on the block alone (padding bits stay zero)
    plen = (blk_n * b_blk + 7) // 8
    packed_off = np.concatenate(([0], np.cumsum(plen)))
    total_packed = int(packed_off[-1])
    idx_in_block = np.arange(n) - np.repeat(blk_start, blk_n)
    value_bit = np.repeat(packed_off[:-1] * 8, blk_n) + idx_in_block * b_val
    gbits = np.zeros(total_packed * 8, dtype=np.uint8)
    for w in np.unique(b_blk):
        if w == 0:
            continue
        sel = np.flatnonzero(b_val == w)
        mask = (
            np.uint64(0xFFFFFFFFFFFFFFFF)
            if w >= 64
            else (np.uint64(1) << np.uint64(w)) - np.uint64(1)
        )
        lows = v[sel] & mask
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((lows[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        targets = value_bit[sel][:, None] + np.arange(w)
        gbits[targets.ravel()] = bits.ravel()
    packed_stream = (
        np.packbits(gbits, bitorder="little")
        if total_packed
        else np.empty(0, dtype=np.uint8)
    )

    # --- assemble [hdr 3][exc_pos][packed][exc varints] per block via
    # stream scatters (no per-block Python) ---
    blk_len = 3 + n_exc + plen + hv_len
    out_off = np.concatenate(([0], np.cumsum(blk_len)))
    out = np.zeros(int(out_off[-1]), dtype=np.uint8)
    hdr = out_off[:-1]
    out[hdr] = b_blk.astype(np.uint8)
    out[hdr + 1] = (blk_n - 1).astype(np.uint8)
    out[hdr + 2] = n_exc.astype(np.uint8)
    if exc_pos.size:
        t = np.repeat(hdr + 3, n_exc) + (
            np.arange(exc_pos.size) - np.repeat(exc_off[:-1], n_exc)
        )
        out[t] = exc_pos
    if total_packed:
        t = np.repeat(hdr + 3 + n_exc, plen) + (
            np.arange(total_packed) - np.repeat(packed_off[:-1], plen)
        )
        out[t] = packed_stream
    if hv_out.size:
        t = np.repeat(hdr + 3 + n_exc + plen, hv_len) + (
            np.arange(hv_out.size) - np.repeat(np.concatenate(([0], hv_blk_end[:-1])), hv_len)
        )
        out[t] = hv_out
    cum = np.cumsum(blk_len)
    last_blk = nb_off[1:] - 1
    ends = np.where(nb_run > 0, cum[np.maximum(last_blk, 0)], 0)
    ends = np.maximum.accumulate(ends)
    return out.tobytes(), ends


def _pfor_decode_block(b_arr: np.ndarray, off: int) -> tuple[np.ndarray, int]:
    """Decode the one PFor block starting at byte *off* → (values, next_off)."""
    b = int(b_arr[off])
    n = int(b_arr[off + 1]) + 1
    n_exc = int(b_arr[off + 2])
    off += 3
    exc_pos = b_arr[off : off + n_exc].astype(np.int64)
    off += n_exc
    packed_len = (n * b + 7) // 8
    vals = _unpack_bits(b_arr[off : off + packed_len], n, b)
    off += packed_len
    if n_exc:
        high, off = _varint_decode_n(b_arr, off, n_exc)
        vals[exc_pos] |= high << np.uint64(b)
    return vals, off


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(starts[i], starts[i] + lens[i])``."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


def pfor_decode_indexed(
    b_arr: np.ndarray, offs: np.ndarray, cum: np.ndarray
) -> np.ndarray:
    """Full-stream PFor decode, every block at once (full and tail
    blocks alike, no per-block Python): each value's ``b`` bits are read
    from a 9-byte little-endian window at its first packed byte, and ALL
    exception varints decode in one gathered LEB128 pass.  The stream may
    be many streams' blocks back to back (codec.decode_uints_batch).
    Values are processed in slabs so transient memory stays bounded.
    Replaces the per-block loop that made a stopword's full decode (the
    BMW MAX_SEG brute fallback) 2 s at 1M docs."""
    if cum.size == 0:
        return np.empty(0, dtype=np.uint64)
    widths = b_arr[offs].astype(np.int64)
    ns = np.diff(cum, prepend=0)
    n_excs = b_arr[offs + 2].astype(np.int64)
    starts = cum - ns
    packed_off = offs + 3 + n_excs
    out = np.empty(int(cum[-1]), dtype=np.uint64)
    pad = np.concatenate((b_arr, np.zeros(9, dtype=np.uint8)))
    windows = np.lib.stride_tricks.as_strided(
        pad, shape=(b_arr.size + 1, 8), strides=(1, 1), writeable=False
    )
    blk = np.repeat(np.arange(offs.size), ns)
    SLAB = 1 << 18
    for a in range(0, out.size, SLAB):
        vb = blk[a : a + SLAB]
        w = widths[vb]
        bit = packed_off[vb] * 8 + (np.arange(a, a + vb.size) - starts[vb]) * w
        q, sh = bit >> 3, (bit & 7).astype(np.uint64)
        vals = windows[q].view("<u8").ravel() >> sh
        # bits past the 8-byte window come from a 9th byte (b + shift > 64)
        ninth = pad[q + 8].astype(np.uint64) << (np.uint64(64) - sh) % np.uint64(64)
        vals |= np.where(sh > 0, ninth, np.uint64(0))
        vals &= np.where(
            w >= 64,
            np.uint64(0xFFFFFFFFFFFFFFFF),
            (np.uint64(1) << np.minimum(w, 63).astype(np.uint64)) - np.uint64(1),
        )
        out[a : a + vb.size] = vals
    exc = np.flatnonzero(n_excs)
    if exc.size:
        ne = n_excs[exc]
        epos = b_arr[_ranges(offs[exc] + 3, ne)].astype(np.int64)
        # a block's exception varints run from its packed end to the next block
        v_start = packed_off[exc] + (ns[exc] * widths[exc] + 7) // 8
        v_end = np.append(offs[1:], b_arr.size)[exc]
        high = varint_decode(b_arr[_ranges(v_start, v_end - v_start)])
        out[np.repeat(starts[exc], ne) + epos] |= high << np.repeat(
            widths[exc], ne
        ).astype(np.uint64)
    return out


def pfor_decode(buf: bytes) -> np.ndarray:
    b_arr = np.frombuffer(buf, dtype=np.uint8)
    if b_arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    offs, cum = pfor_block_index(b_arr)
    return pfor_decode_indexed(b_arr, offs, cum)


def pfor_block_index(b_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(byte offset of each 128-value block, cumulative value count) — one
    header-walk pass, NO value decode.  Each block's exception varints are
    skipped via a precomputed terminator index (one global byte scan), so
    the pass costs O(n_blocks), making any value range randomly
    addressable — PFor values are positional (frame-of-reference +
    patches, no intra-stream delta chain), which is what lets lazy
    serving skip whole blocks."""
    term_pos = np.flatnonzero((b_arr & 0x80) == 0)  # LEB128 value ends
    offs: list[int] = []
    counts: list[int] = []
    off = 0
    while off < b_arr.size:
        offs.append(off)
        b = int(b_arr[off])
        n = int(b_arr[off + 1]) + 1
        n_exc = int(b_arr[off + 2])
        off += 3 + n_exc + (n * b + 7) // 8
        if n_exc:
            i = int(np.searchsorted(term_pos, off))
            off = int(term_pos[i + n_exc - 1]) + 1
        counts.append(n)
    return (
        np.asarray(offs, dtype=np.int64),
        np.cumsum(np.asarray(counts, dtype=np.int64)),
    )


def pfor_decode_range(
    b_arr: np.ndarray, offs: np.ndarray, cum: np.ndarray, a: int, z: int
) -> np.ndarray:
    """Decode values [a, z) of a PFor stream given its block index —
    touches only the covering blocks."""
    if z <= a:
        return np.empty(0, dtype=np.uint64)
    b0 = int(np.searchsorted(cum, a, side="right"))
    b1 = int(np.searchsorted(cum, z, side="left"))
    chunks = []
    for i in range(b0, b1 + 1):
        vals, _ = _pfor_decode_block(b_arr, int(offs[i]))
        chunks.append(vals)
    out = np.concatenate(chunks)
    base = int(cum[b0 - 1]) if b0 else 0
    return out[a - base : z - base]


# --------------------------------------------- tagged posting-stream API

_TAG_VARINT, _TAG_PFOR = 0, 1
VARINT_TAG = bytes([_TAG_VARINT])  # for callers that batch-encode + slice
PFOR_TAG = bytes([_TAG_PFOR])


def encode_uints(values: np.ndarray, codec: str = "varint") -> bytes:
    """Self-describing uint stream: 1 tag byte + payload.  `codec` ∈
    {'varint', 'pfor'} — the build picks per index (IndexConfig.codec),
    the decoder dispatches on the tag, so mixed segments coexist."""
    if codec == "pfor":
        return bytes([_TAG_PFOR]) + pfor_encode(values)
    return bytes([_TAG_VARINT]) + varint_encode(values)


def decode_uints(buf: bytes) -> np.ndarray:
    if not buf:
        return np.empty(0, dtype=np.uint64)
    tag, payload = buf[0], buf[1:]
    return pfor_decode(payload) if tag == _TAG_PFOR else varint_decode(payload)


def encode_docids(doc_ids: np.ndarray, codec: str = "varint") -> bytes:
    """Sorted signed docIDs → bias + delta + tagged uint stream."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return encode_uints(np.empty(0, dtype=np.uint64), codec)
    u = d.astype(np.uint64) + _BIAS
    stream = np.empty(u.size, dtype=np.uint64)
    stream[0] = u[0]
    stream[1:] = u[1:] - u[:-1]
    return encode_uints(stream, codec)


def decode_docids(buf: bytes) -> np.ndarray:
    stream = decode_uints(buf)
    if stream.size == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(stream, dtype=np.uint64)
    return (u - _BIAS).astype(np.int64)


def decode_uints_batch(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Decode many tagged uint streams (one per row) in one pass.

    Returns ``(values, counts)``: every row's values concatenated in row
    order, and each row's value count.  Rows are grouped by tag and each
    group decodes as ONE stream: LEB128 values are self-delimiting and
    PFor blocks never span streams, so a group's concatenated payloads
    are themselves a valid stream of that codec.  Row *i* equals
    ``decode_uints(bufs[i])``."""
    n = len(bufs)
    lens = np.fromiter(map(len, bufs), np.int64, n)
    raw = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.cumsum(lens) - lens
    nonempty = lens > 0
    tags = np.full(n, _TAG_VARINT, dtype=np.uint8)
    tags[nonempty] = raw[starts[nonempty]]
    row_of = np.repeat(np.arange(n), lens)
    payload = np.ones(raw.size, dtype=bool)
    payload[starts[nonempty]] = False  # drop the tag bytes
    counts = np.zeros(n, dtype=np.int64)
    groups = []
    for tag in np.unique(tags):
        sel = payload & (tags[row_of] == tag)
        b, rows = raw[sel], row_of[sel]
        if tag == _TAG_PFOR:
            offs, cum = pfor_block_index(b)
            vals = pfor_decode_indexed(b, offs, cum)
            np.add.at(counts, rows[offs], np.diff(cum, prepend=0))
        else:
            vals = varint_decode(b)
            counts += np.bincount(rows[(b & 0x80) == 0], minlength=n)
        groups.append((tags == tag, vals))
    if len(groups) == 1:
        return groups[0][1], counts
    # mixed codecs: scatter each group's values back into row order
    values = np.empty(int(counts.sum()), dtype=np.uint64)
    off = np.cumsum(counts) - counts
    for in_group, vals in groups:
        values[_ranges(off[in_group], counts[in_group])] = vals
    return values, counts


def decode_docids_batch(bufs) -> tuple[np.ndarray, np.ndarray]:
    """:func:`decode_docids` over many rows at once → ``(doc_ids,
    counts)``.  Each row's deltas restart at its first value, so ONE
    wrapping uint64 cumsum over all rows, minus the running total at each
    row start, undoes every row's deltas."""
    stream, counts = decode_uints_batch(bufs)
    total = np.cumsum(stream, dtype=np.uint64)
    before = np.concatenate(([np.uint64(0)], total))[np.cumsum(counts) - counts]
    u = total - np.repeat(before, counts)
    return (u - _BIAS).astype(np.int64), counts


def pack_i64(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<i8").tobytes()


def unpack_i64(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<i8")


def pack_f32(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<f4").tobytes()


def unpack_f32(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<f4")
