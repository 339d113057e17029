"""Pure-Python XXH64 matching Spark's ``F.xxhash64(col)`` (seed 42).

Spark computes xxhash64 over the UTF-8 bytes of a string column
(org.apache.spark.sql.catalyst.expressions.XxHash64 — a faithful
implementation of Yann Collet's public XXH64 spec) and returns a *signed*
64-bit long. We re-implement the public algorithm so the pure-Python
oracle can assign the exact same docIDs / term buckets the Spark plan
does: ``doc_id = xxhash64(url)`` is the engine's stable document identity
(reference analog: per-document ``document_id`` field in the OpenSearch
sink, /root/reference/data-prepper-plugins/opensearch/.../OpenSearchSink.java:342-354 —
ours must be stable across resume, so a hash, never zipWithIndex).
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Spark's fixed seed for xxhash64 expressions


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned XXH64 of *data* with *seed* (default: Spark's 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes | str, seed: int = SPARK_SEED) -> int:
    """Signed-long XXH64, identical to Spark's ``F.xxhash64`` on a string col."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def pmod(x: int, m: int) -> int:
    """Spark's F.pmod: positive modulus (Python's % already is for m>0)."""
    return x % m


def _rotl_v(x, r: int):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round_v(acc, lane):
    import numpy as np

    return _rotl_v(acc + lane * np.uint64(_P2), 31) * np.uint64(_P1)


def xxh64_signed_arrow(values) -> "np.ndarray":
    """:func:`xxh64_signed` of every value of an Arrow string/binary
    array, vectorized: values are grouped by byte length, and each length
    group runs the XXH64 rounds as numpy uint64 column arithmetic over a
    (values × bytes) matrix.  Returns int64; equal to ``F.xxhash64``
    (pinned by tests/test_hashing.py)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    values = values.cast(pa.binary())
    n = len(values)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    bufs = values.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[values.offset: values.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = np.diff(off)
    u = np.uint64
    for L in np.unique(lens).tolist():
        rows = np.flatnonzero(lens == L)
        m = data[off[rows][:, None] + np.arange(L)] if L else np.zeros((rows.size, 0), np.uint8)

        def lanes(a, w):  # little-endian words of bytes [a, a+w) per row
            return np.ascontiguousarray(m[:, a:a + w]).view(f"<u{w}").ravel().astype(u)

        i = 0
        if L >= 32:
            v = [np.full(rows.size, (SPARK_SEED + x) & _M, u)
                 for x in (_P1 + _P2, _P2, 0, -_P1)]
            while i <= L - 32:
                v = [_round_v(v[j], lanes(i + 8 * j, 8)) for j in range(4)]
                i += 32
            h = _rotl_v(v[0], 1) + _rotl_v(v[1], 7) + _rotl_v(v[2], 12) + _rotl_v(v[3], 18)
            for x in v:
                h = (h ^ _round_v(np.zeros_like(x), x)) * u(_P1) + u(_P4)
        else:
            h = np.full(rows.size, (SPARK_SEED + _P5) & _M, u)
        h = h + u(L)
        while i <= L - 8:
            h = h ^ _round_v(np.zeros_like(h), lanes(i, 8))
            h = _rotl_v(h, 27) * u(_P1) + u(_P4)
            i += 8
        if i <= L - 4:
            h = h ^ (lanes(i, 4) * u(_P1))
            h = _rotl_v(h, 23) * u(_P2) + u(_P3)
            i += 4
        while i < L:
            h = h ^ (m[:, i].astype(u) * u(_P5))
            h = _rotl_v(h, 11) * u(_P1)
            i += 1
        h = h ^ (h >> u(33))
        h = h * u(_P2)
        h = h ^ (h >> u(29))
        h = h * u(_P3)
        out[rows] = h ^ (h >> u(32))
    return out.view(np.int64)
