"""Property-based codec tests (hypothesis): the delta+varint posting
codec and the pack helpers must round-trip ANY valid input, not just the
fixture corpus — the index's durability rests on these bytes."""

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

u64s = st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=200)
i64s = st.lists(
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), max_size=200
)


@settings(max_examples=200, deadline=None)
@given(u64s)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.dtype == np.uint64
    assert out.tolist() == arr.tolist()


@settings(max_examples=200, deadline=None)
@given(i64s)
def test_delta_docids_roundtrip(vals):
    # docIDs are stored sorted-unique; the codec contract is over that form
    arr = np.array(sorted(set(vals)), dtype=np.int64)
    out = delta_decode_docids(delta_encode_docids(arr))
    assert out.dtype == np.int64
    assert out.tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(i64s)
def test_pack_i64_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert unpack_i64(pack_i64(arr)).tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(width=32, allow_nan=False), max_size=100))
def test_pack_f32_roundtrip(vals):
    arr = np.array(vals, dtype=np.float32)
    out = unpack_f32(pack_f32(arr))
    assert out.tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=400))
def test_tokenizer_paths_agree(text):
    """The Arrow tokenizer and the Python reference tokenizer must agree
    on arbitrary unicode input (the byte-contract has ONE meaning)."""
    import pandas as pd

    from data_prepper_spark.textproc import tokenize_counts, tokenize_counts_arrow

    s = pd.Series([text], dtype="object")
    oa, ta, fa, la = tokenize_counts(s)
    ob, tb, fb, lb = tokenize_counts_arrow(s)
    a = sorted(zip(oa.tolist(), (str(x) for x in ta), fa.tolist()))
    b = sorted(zip(ob.tolist(), (str(x) for x in tb), fb.tolist()))
    assert a == b
    assert la.tolist() == lb.tolist()


# ------------------------------------------------------ PForDelta (round 2)

from data_prepper_spark.index.codec import (  # noqa: E402
    decode_docids,
    decode_uints,
    encode_docids,
    encode_uints,
    pfor_decode,
    pfor_encode,
)


@settings(max_examples=200, deadline=None)
@given(u64s)
def test_pfor_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = pfor_decode(pfor_encode(arr))
    assert out.dtype == np.uint64
    assert out.tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(u64s, st.sampled_from(["varint", "pfor"]))
def test_tagged_uints_roundtrip(vals, codec):
    arr = np.array(vals, dtype=np.uint64)
    assert decode_uints(encode_uints(arr, codec)).tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(i64s, st.sampled_from(["varint", "pfor"]))
def test_tagged_docids_roundtrip(vals, codec):
    arr = np.array(sorted(set(vals)), dtype=np.int64)
    out = decode_docids(encode_docids(arr, codec))
    assert out.dtype == np.int64
    assert out.tolist() == arr.tolist()


def test_pfor_beats_varint_on_dense_lists():
    """The head-term case PFor exists for: dense docID deltas (small,
    uniform) pack far below varint's 1-byte-per-value floor."""
    deltas = np.random.default_rng(7).integers(1, 16, size=4096).astype(np.uint64)
    assert len(pfor_encode(deltas)) < 0.8 * len(varint_encode(deltas))


def test_codecless_index_raises_rebuild(tmp_path):
    """An index whose stats carry no codec holds untagged varint streams,
    which the searcher no longer reads: opening it raises an error that
    says to rebuild."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from data_prepper_spark.index.query import BM25Searcher

    (tmp_path / "stats").mkdir()
    pq.write_table(
        pa.table({"n_docs": [3], "avgdl": [2.0], "block_size": [128]}),
        tmp_path / "stats" / "part-0.parquet",
    )
    with pytest.raises(ValueError, match="rebuild"):
        BM25Searcher(None, str(tmp_path))
