import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from data_prepper_spark.index.codec import (
    delta_decode_docids,
    delta_encode_docids,
    pack_f32,
    pack_i64,
    unpack_f32,
    unpack_i64,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=200))
def test_varint_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        max_size=200,
        unique=True,
    )
)
def test_delta_roundtrip(xs):
    arr = np.sort(np.array(xs, dtype=np.int64))
    assert np.array_equal(delta_decode_docids(delta_encode_docids(arr)), arr)


def test_pack_roundtrip():
    a = np.array([-5, 0, 1 << 62], dtype=np.int64)
    assert np.array_equal(unpack_i64(pack_i64(a)), a)
    f = np.array([0.5, -1.25, 3e20], dtype=np.float32)
    assert np.array_equal(unpack_f32(pack_f32(f)), f)


def test_compression_is_compact():
    ids = np.sort(np.random.default_rng(0).choice(1 << 40, size=10000, replace=False)).astype(np.int64)
    enc = delta_encode_docids(ids)
    assert len(enc) < 10000 * 8 * 0.6  # beats raw int64 comfortably


# ---- encode kernel: vectorized (group-at-once) vs per-term loop ----


def _fake_group(rng, n_rows, n_terms, range_id=3):
    import pandas as pd

    terms = rng.integers(-(2**62), 2**62, size=n_terms, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "term_id": rng.choice(terms, size=n_rows),
            "range_id": np.full(n_rows, range_id, dtype=np.int32),
            "doc_id": rng.integers(-(2**62), 2**62, size=n_rows, dtype=np.int64),
            "tf": rng.integers(1, 50, size=n_rows).astype(np.int64),
            "dl": rng.integers(10, 5000, size=n_rows).astype(np.int64),
        }
    )
    # dl must be consistent per doc_id (as produced by the tokenizer)
    pdf["dl"] = pdf.groupby("doc_id")["dl"].transform("first")
    return pdf.drop_duplicates(["term_id", "doc_id"]).reset_index(drop=True)


def test_encode_kernel_vectorized_identity():
    """The group-at-once varint kernel must emit, for every term, the rows
    a per-term encode gives — same blobs, same stats.  Block size 4 forces
    multi-block terms."""
    from data_prepper_spark.index.build import encode_slice_fn

    rng = np.random.default_rng(7)
    vec = encode_slice_fn(142.7, 1.2, 0.75, block_size=4, codec="varint")
    from data_prepper_spark.index.codec import (
        encode_docids,
        encode_uints,
        pack_f32,
        pack_i64,
    )

    for n_rows, n_terms in [(1, 1), (37, 5), (4000, 40), (3000, 1)]:
        pdf = _fake_group(rng, n_rows, n_terms)
        out = vec(pdf)
        # reference: straight per-term re-encode
        s = pdf.sort_values(["term_id", "doc_id"]).reset_index(drop=True)
        k1, b, avgdl, bs = 1.2, 0.75, 142.7, 4
        got = {r.term_id: r for r in out.itertuples(index=False)}
        assert len(got) == s["term_id"].nunique() == len(out)
        for tid, g in s.groupby("term_id", sort=True):
            d = g["doc_id"].to_numpy(np.int64)
            tf = g["tf"].to_numpy(np.int64)
            dl = g["dl"].to_numpy(np.int64)
            norm = tf.astype(np.float64) * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
            )
            ub = np.nextafter(norm.astype(np.float32), np.float32(np.inf))
            starts = np.arange(0, d.size, bs)
            block_ubs = np.maximum.reduceat(ub, starts)
            r = got[tid]
            assert r.df_slice == d.size
            assert r.cf_slice == tf.sum()
            assert r.doc_ids == encode_docids(d, "varint")
            assert r.tfs == encode_uints(tf.astype(np.uint64), "varint")
            assert r.dls == encode_uints(dl.astype(np.uint64), "varint")
            assert r.block_firsts == pack_i64(d[starts])
            assert r.block_ubs == pack_f32(block_ubs)
            assert r.max_ub == np.float32(block_ubs.max())
            assert r.n_blocks == starts.size
            assert r.range_id == 3
    # empty group
    import pandas as pd

    empty = pd.DataFrame(
        {c: pd.Series(dtype=t) for c, t in [
            ("term_id", "int64"), ("range_id", "int32"), ("doc_id", "int64"),
            ("tf", "int64"), ("dl", "int64"),
        ]}
    )
    assert len(vec(empty)) == 0


def test_encode_kernel_pfor_identity():
    """The group-at-once PFor kernel (blobs sliced out of one
    pfor_encode_runs pass) must emit per-term blobs byte-identical to a
    straight per-term pfor re-encode."""
    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.index.codec import encode_docids, encode_uints

    rng = np.random.default_rng(17)
    vec = encode_slice_fn(142.7, 1.2, 0.75, block_size=4, codec="pfor")
    for n_rows, n_terms in [(1, 1), (37, 5), (4000, 40), (3000, 1), (500, 499)]:
        pdf = _fake_group(rng, n_rows, n_terms)
        out = vec(pdf)
        s = pdf.sort_values(["term_id", "doc_id"]).reset_index(drop=True)
        got = {r.term_id: r for r in out.itertuples(index=False)}
        assert len(got) == s["term_id"].nunique() == len(out)
        for tid, g in s.groupby("term_id", sort=True):
            d = g["doc_id"].to_numpy(np.int64)
            tf = g["tf"].to_numpy(np.int64)
            dl = g["dl"].to_numpy(np.int64)
            r = got[tid]
            assert r.df_slice == d.size
            assert r.doc_ids == encode_docids(d, "pfor")
            assert r.tfs == encode_uints(tf.astype(np.uint64), "pfor")
            assert r.dls == encode_uints(dl.astype(np.uint64), "pfor")


def test_pfor_runs_identity():
    """pfor_encode_runs must be byte-identical, per run, to pfor_encode of
    that run alone — across run-size mixes, outliers, zero-size runs."""
    from data_prepper_spark.index.codec import (
        pfor_decode,
        pfor_encode,
        pfor_encode_runs,
    )

    rng = np.random.default_rng(23)

    def check(values, runs):
        buf, ends = pfor_encode_runs(values, runs)
        starts = np.concatenate(([0], ends[:-1]))
        bounds = np.append(runs, values.size)
        for i in range(len(runs)):
            seg = values[bounds[i] : bounds[i + 1]]
            blob = buf[int(starts[i]) : int(ends[i])]
            assert blob == pfor_encode(seg)
            assert np.array_equal(pfor_decode(blob), seg)
        assert int(ends[-1]) == len(buf)

    vals, runs = [], [0]
    for sz in [1, 5, 128, 129, 127, 300, 1000, 7, 384, 2, 64]:
        hi = 2 ** int(rng.integers(1, 63))
        vals.append(rng.integers(0, hi, size=sz).astype(np.uint64))
        runs.append(runs[-1] + sz)
    check(np.concatenate(vals), np.array(runs[:-1]))
    # outlier-heavy (the pfor exception path)
    v = np.where(
        rng.random(5000) < 0.07,
        rng.integers(2**40, 2**63, size=5000),
        rng.integers(0, 30, size=5000),
    ).astype(np.uint64)
    r = np.concatenate(
        ([0], np.sort(rng.choice(np.arange(1, 5000), size=37, replace=False)))
    )
    check(v, r)
    check(np.zeros(500, dtype=np.uint64), np.array([0]))
    check(np.zeros(0, dtype=np.uint64), np.array([0]))
    buf, ends = pfor_encode_runs(np.zeros(0, dtype=np.uint64), np.array([0, 0, 0]))
    assert buf == b"" and list(ends) == [0, 0, 0]
    # zero-size runs in the middle (duplicate starts)
    check(rng.integers(0, 1000, size=300).astype(np.uint64), np.array([0, 100, 100, 250]))
    # width-64 values (mask edge)
    v64 = rng.integers(0, 2**63, size=400).astype(np.uint64) | np.uint64(1 << 63)
    check(v64, np.array([0, 13, 200]))


def test_pfor_vectorized_identity():
    """All-blocks-at-once pfor_encode must be byte-identical to the
    per-block reference loop, across width mixes / exception shapes /
    partial final blocks."""
    from data_prepper_spark.index.codec import (
        _pfor_encode_block_loop,
        pfor_decode,
        pfor_encode,
    )

    rng = np.random.default_rng(3)
    cases = [
        np.empty(0, dtype=np.uint64),
        np.zeros(1, dtype=np.uint64),
        np.zeros(128, dtype=np.uint64),
        np.zeros(300, dtype=np.uint64),
        rng.integers(0, 50, size=128).astype(np.uint64),
        rng.integers(0, 50, size=1000).astype(np.uint64),
        rng.integers(0, 2**63, size=777).astype(np.uint64),
        # mostly-small with big outliers (the pfor sweet spot)
        np.where(
            rng.random(5000) < 0.05,
            rng.integers(2**40, 2**63, size=5000),
            rng.integers(0, 30, size=5000),
        ).astype(np.uint64),
        rng.integers(0, 3, size=129).astype(np.uint64),
        rng.integers(0, 2**63, size=127).astype(np.uint64),
    ]
    for x in cases:
        a = pfor_encode(x)
        assert a == _pfor_encode_block_loop(x)
        assert np.array_equal(pfor_decode(a), x)


def test_decode_batch_matches_per_row_decode():
    """decode_uints_batch / decode_docids_batch return every row's values
    in row order plus per-row counts, equal to decoding row by row —
    across both codecs mixed in one batch, empty payloads (tag only),
    empty blobs, multi-block PFor rows and 64-bit docIDs."""
    from data_prepper_spark.index.codec import (
        decode_docids,
        decode_docids_batch,
        decode_uints,
        decode_uints_batch,
        encode_docids,
        encode_uints,
    )

    rng = np.random.default_rng(31)
    sizes = [0, 1, 5, 127, 128, 129, 300, 0, 2, 1000]
    for codecs in (["varint"], ["pfor"], ["varint", "pfor"]):
        ubufs, dbufs = [], []
        for i, n in enumerate(sizes):
            c = codecs[i % len(codecs)]
            hi = 2 ** int(rng.integers(1, 64))
            ubufs.append(encode_uints(rng.integers(0, hi, size=n, dtype=np.uint64), c))
            d = np.sort(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64))
            dbufs.append(encode_docids(d, c))
        ubufs.append(b"")
        vals, counts = decode_uints_batch(ubufs)
        per_row = [decode_uints(x) for x in ubufs]
        assert counts.tolist() == [r.size for r in per_row]
        assert np.array_equal(vals, np.concatenate(per_row))
        ids, counts = decode_docids_batch(dbufs)
        per_row = [decode_docids(x) for x in dbufs]
        assert counts.tolist() == [r.size for r in per_row]
        assert ids.dtype == np.int64
        assert np.array_equal(ids, np.concatenate(per_row))
    vals, counts = decode_uints_batch([])
    assert vals.size == 0 and counts.size == 0
