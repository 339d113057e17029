"""Driver-mode read layer of a searcher (index/query.py BucketFiles) and
the batch decode at read time (scoring.prime_single_block).

The reader must return exactly the rows a pyarrow dataset scan with the
same bucket/term_id filter returns, on both on-disk layouts, while
parsing each file's footer once and skipping row groups whose term_id
range holds no wanted id.  The batch decode must install memos equal to
the per-row decode, bit for bit, on one-block rows only."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from data_prepper_spark.hashing import pmod
from data_prepper_spark.index.query import BM25Searcher, BucketFiles

N_BUCKETS = 4


def _table(rng, n_terms: int, source: int) -> pa.Table:
    """Posting-like rows: a few rows per term, term_id-sorted as the build
    writes them."""
    tids = np.unique(rng.integers(-(2**63), 2**63 - 1, size=n_terms, dtype=np.int64))
    term_id = np.repeat(tids, 1 + rng.integers(0, 3, size=tids.size))
    n = term_id.size
    return pa.table({
        "term_id": term_id,
        "range_id": rng.integers(0, 4, size=n).astype(np.int32),
        "df_slice": rng.integers(1, 500, size=n).astype(np.int32),
        "doc_ids": [bytes([source, i % 251]) * (1 + i % 7) for i in range(n)],
    })


def _write(root: str, tbl: pa.Table, bgroup: int | None, row_group_size=None):
    buckets = np.array([pmod(int(t), N_BUCKETS) for t in tbl["term_id"].to_pylist()])
    for b in range(N_BUCKETS):
        part = tbl.filter(pa.array(buckets == b))
        d = os.path.join(
            root, *([f"bgroup={bgroup}"] if bgroup is not None else []),
            f"term_bucket={b}",
        )
        os.makedirs(d, exist_ok=True)
        pq.write_table(part, os.path.join(d, "part-00000.parquet"),
                       row_group_size=row_group_size)


def _dataset_rows(root, ids, buckets, cols):
    flt = pads.field("term_bucket").isin(buckets) & pads.field("term_id").isin(ids)
    return pads.dataset(root, partitioning="hive").to_table(
        columns=cols, filter=flt).to_pylist()


def _queries(rng, tbl):
    all_ids = np.unique(tbl["term_id"].to_numpy())
    for n in (1, 3, 12):
        ids = rng.choice(all_ids, size=n, replace=False).tolist()
        ids.append(12345)  # absent term
        yield ids, sorted({pmod(i, N_BUCKETS) for i in ids})


@pytest.mark.parametrize("layout", ["bgroups", "legacy"])
def test_bucket_files_match_dataset_filter(tmp_path, layout):
    """Same rows, same order, as the dataset filter: a merged index with
    two bgroup levels, and the single-build layout with none."""
    rng = np.random.default_rng(3)
    root = str(tmp_path / "postings")
    if layout == "bgroups":
        tbls = [_table(rng, 300, s) for s in range(2)]
        for g, t in enumerate(tbls):
            _write(root, t, bgroup=g)
    else:
        tbls = [_table(rng, 300, 0)]
        _write(root, tbls[0], bgroup=None)
    allt = pa.concat_tables(tbls)
    bf = BucketFiles(root)
    for cols in (["term_id", "range_id", "df_slice", "doc_ids"],
                 ["doc_ids", "term_id"]):
        for ids, buckets in _queries(rng, allt):
            got = bf.read(ids, buckets, cols)
            assert got == _dataset_rows(root, ids, buckets, cols)
            assert got and set(got[0]) == set(cols)
    n_files = N_BUCKETS * (2 if layout == "bgroups" else 1)
    assert bf.footers_parsed <= n_files
    assert bf.read([], [0, 1], ["term_id"]) == []


def test_bucket_files_skip_row_groups(tmp_path):
    """A file of several term_id-sorted row groups: only the row groups
    whose term_id range can hold a wanted id are read."""
    rng = np.random.default_rng(4)
    root = str(tmp_path / "postings")
    tbl = _table(rng, 2000, 0)
    _write(root, tbl, bgroup=0, row_group_size=50)
    bf = BucketFiles(root)
    cols = ["term_id", "range_id", "doc_ids"]
    all_ids = np.unique(tbl["term_id"].to_numpy())
    ids = [int(all_ids[100]), int(all_ids[1500])]
    buckets = sorted({pmod(i, N_BUCKETS) for i in ids})
    got = bf.read(ids, buckets, cols)
    assert got == _dataset_rows(root, ids, buckets, cols)
    assert {r["term_id"] for r in got} == set(ids)
    # each wanted id lies in one or two row groups (a term's rows may
    # straddle a boundary); every other row group is skipped
    assert 1 <= bf.row_groups_read <= 2 * len(ids)
    n_groups = sum(
        pq.read_metadata(p).num_row_groups
        for b in buckets for _, p in bf._files[b]
    )
    assert bf.row_groups_read + bf.row_groups_skipped == n_groups
    assert bf.row_groups_skipped > n_groups // 2
    # footers parsed once: a repeat read parses nothing
    parsed = bf.footers_parsed
    assert bf.read(ids, buckets, cols) == got
    assert bf.footers_parsed == parsed


def _slice_rows(codecs, bs):
    """Encoded posting rows of assorted lengths (one-block, exactly one
    block, multi-block), each stream in a codec drawn from *codecs*."""
    from data_prepper_spark.index.codec import (
        encode_docids,
        encode_uints,
        pack_f32,
        pack_i64,
    )

    rng = np.random.default_rng(9)
    rows = []
    for i, n in enumerate([1, 2, 7, bs - 1, bs, bs + 1, 3 * bs + 5, 5, 40]):
        c = [codecs[(i + j) % len(codecs)] for j in range(3)]
        d = np.sort(rng.choice(
            rng.integers(-(2**63), 2**63 - 1, size=4 * n, dtype=np.int64),
            size=n, replace=False))
        rows.append({
            "term_id": i, "range_id": 0, "df_slice": n,
            "doc_ids": encode_docids(d, c[0]),
            "tfs": encode_uints(rng.integers(1, 300, size=n).astype(np.uint64), c[1]),
            "dls": encode_uints(rng.integers(1, 5000, size=n).astype(np.uint64), c[2]),
            "block_firsts": pack_i64(d[::bs]),
            "block_ubs": pack_f32(rng.random(-(-n // bs))),
        })
    return rows


@pytest.mark.parametrize("codecs", [["varint"], ["pfor"], ["varint", "pfor"]])
def test_prime_single_block_memos(codecs):
    """One-block rows get memos equal to decode_all / stream_abs_docids
    of an untouched copy of the row, bit for bit, each in its own buffer;
    multi-block rows stay unpromoted; reads through the primed streams
    equal the eager decode."""
    from data_prepper_spark.index.scoring import (
        decode_slice,
        decode_slice_lazy,
        prime_single_block,
        stream_abs_docids,
    )

    bs = 16
    rows = _slice_rows(codecs, bs)
    fresh = [dict(r) for r in rows]
    prime_single_block(rows, bs)
    for r, f in zip(rows, fresh):
        if r["df_slice"] > bs:  # left lazy, untouched
            assert "_lazy_streams" not in r
            continue
        doc_s, tf_s, dl_s = r["_lazy_streams"][:3]
        ref = decode_slice_lazy(f, 1.0, bs, "t")
        for got, want in ((doc_s._all, ref.doc_s.decode_all()),
                          (tf_s._all, ref.tf_s.decode_all()),
                          (dl_s._all, ref.dl_s.decode_all()),
                          (doc_s._abs, stream_abs_docids(ref.doc_s))):
            assert got.dtype == want.dtype and np.array_equal(got, want)
            assert got.base is None  # own buffer: no shared batch array
        eager = decode_slice(f, 1.0)
        lz = decode_slice_lazy(r, 1.0, bs, "t")
        assert lz.doc_s is doc_s  # the memos sit under the row's streams
        ids, tfs, dls = lz.block_values(np.arange(lz.block_firsts.size))
        assert np.array_equal(ids, eager.doc_ids)
        assert np.array_equal(tfs, eager.tfs)
        assert np.array_equal(dls, eager.dls)


@pytest.mark.parametrize("codecs", [["varint"], ["pfor"], ["varint", "pfor"]])
def test_candidate_block_reads_equal_eager(codecs):
    """Candidate reads through the block path (covering_blocks →
    block_values / block_docids, and the TermView reads built on them)
    equal the eager decode restricted to the candidates, on one-block and
    multi-block rows, cold and after the streams are promoted."""
    from data_prepper_spark.index.scoring import (
        TermView,
        decode_slice,
        decode_slice_lazy,
    )

    bs = 16
    rng = np.random.default_rng(3)
    for r in _slice_rows(codecs, bs):
        eager = decode_slice(dict(r), 1.0)
        d = eager.doc_ids
        others = rng.integers(-(2**63), 2**63 - 1, size=20, dtype=np.int64)
        cands = [
            np.empty(0, np.int64),
            np.array([d[0] - 1]) if d[0] > -(2**63) else d[:0],
            d,
            d[:: 2 * bs],  # every other block: runs with gaps
            np.unique(np.concatenate([rng.choice(d, size=1 + d.size // 3), others])),
        ]
        for warm in (False, True):
            lz = decode_slice_lazy(dict(r), 1.0, bs, "t")
            if warm:
                lz.to_term_slice()  # every stream into its memo
            for cand in cands:
                blk = np.searchsorted(lz.block_firsts, cand, side="right") - 1
                want_blk = np.unique(blk[blk >= 0])
                got_blk = lz.covering_blocks(cand)
                assert np.array_equal(got_blk, want_blk)
                ids, tfs, dls = lz.block_values(got_blk)
                assert np.array_equal(ids, lz.block_docids(got_blk))
                at = (got_blk[:, None] * bs + np.arange(bs)).ravel()
                assert np.array_equal(ids, d[at[at < d.size]])  # those blocks only
                keep = np.isin(ids, cand)
                ref = np.isin(d, cand)
                assert np.array_equal(ids[keep], d[ref])
                assert np.array_equal(tfs[keep], eager.tfs[ref])
                assert np.array_equal(dls[keep], eager.dls[ref])
                v = TermView([lz], np.empty(0, np.int64))
                assert np.array_equal(v.contains(cand), np.isin(cand, d))
                got = v.candidate_slices(cand)
                assert sum(t.doc_ids.size for t in got) == int(ref.sum())
                for t in got:
                    assert np.array_equal(t.doc_ids, d[ref])
                    assert np.array_equal(t.tfs, eager.tfs[ref])


def test_prime_skips_unknown_tags():
    """A row with an untagged stream has no stream objects to prime."""
    from data_prepper_spark.index.scoring import prime_single_block

    rows = _slice_rows(["varint"], 16)
    rows[0]["tfs"] = bytes([7]) + rows[0]["tfs"][1:]
    prime_single_block(rows, 16)
    assert "_lazy_streams" not in rows[0]
    assert rows[1]["_lazy_streams"][0]._all is not None


def test_first_touch_parses_each_footer_once(tiny_index, monkeypatch):
    """Over a burst of queries of every driver family, a fresh searcher
    parses each segment file's footer at most once, and every read opens
    its file with the footer already parsed."""
    from data_prepper_spark.corpus import reference_queries
    from data_prepper_spark.index import boolquery, querystring

    parsed: dict[str, int] = {}
    real_md, real_pf = pq.read_metadata, pq.ParquetFile

    def read_metadata(path, *a, **kw):
        parsed[path] = parsed.get(path, 0) + 1
        return real_md(path, *a, **kw)

    def parquet_file(path, *a, metadata=None, **kw):
        assert metadata is not None
        return real_pf(path, *a, metadata=metadata, **kw)

    monkeypatch.setattr(pq, "read_metadata", read_metadata)
    monkeypatch.setattr(pq, "ParquetFile", parquet_file)
    s = BM25Searcher(None, tiny_index[0])
    for _ in range(2):
        for rq in reference_queries():
            q = rq["query_text"]
            s.search(q, k=10)
            s.search_all(q)
            terms = q.split()
            boolquery.search_bool(s, must=terms[:1], should=terms[1:], k=10)
            querystring.search_simple_query_string(s, q, k=10)
    assert parsed and max(parsed.values()) == 1
    assert (s._posting_files.footers_parsed + s._termstat_files.footers_parsed
            == len(parsed))
