"""Segment merge (index/merge.py): a merged index over disjoint halves
must be rank-identical to a from-scratch build over the full corpus in
every scoring mode — BMW included, which exercises the merge's exact
per-block upper-bound recompute (stored bounds are avgdl-dependent; the
merged corpus's avgdl differs from each half's)."""

import os

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.corpus import reference_queries
from data_prepper_spark.index.build import build_oneshot
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.merge import merge_indexes
from data_prepper_spark.index.query import BM25Searcher

CFG = IndexConfig(range_bits=2, block_size=16, n_buckets=8)


def _half(pages, i):
    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)


@pytest.fixture(scope="module")
def half_indexes(spark, tiny_corpus_path, workdir):
    pages = spark.read.parquet(tiny_corpus_path)
    dirs = []
    for i in range(2):
        d = os.path.join(workdir, f"index_half{i}")
        build_oneshot(spark, _half(pages, i), d, CFG)
        dirs.append(d)
    return dirs


@pytest.fixture(scope="module")
def merged_index(spark, half_indexes, workdir):
    out = os.path.join(workdir, "index_merged")
    stats = merge_indexes(spark, half_indexes, out)
    return out, stats


def _assert_rank_identical(got, want, ctx):
    import numpy as np

    assert [d for d, _ in got] == [d for d, _ in want], ctx
    g = np.array([s for _, s in got])
    w = np.array([s for _, s in want])
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12), ctx


def test_merged_stats_equal_full_build(merged_index, tiny_index):
    _, mstats = merged_index
    _, _, fstats = tiny_index
    assert mstats["n_docs"] == fstats["n_docs"]
    assert mstats["total_tokens"] == fstats["total_tokens"]
    assert abs(mstats["avgdl"] - fstats["avgdl"]) < 1e-9


def test_merged_rank_identical_all_modes(spark, merged_index, oracle_tiny):
    out, _ = merged_index
    s = BM25Searcher(spark, out)
    for q in reference_queries():
        want = oracle_tiny.topk(q["query_text"], q["k"])
        got_bmw = s.search(q["query_text"], k=q["k"], mode="bmw")
        _assert_rank_identical(got_bmw, want, f"merged bmw: {q['query_text']}")
    for qt, k in [("the", 5), ("spark index the", 10)]:
        want = oracle_tiny.topk(qt, k)
        got = s.search(qt, k=k, mode="bmw", distributed=True)
        _assert_rank_identical(got, want, f"merged distributed: {qt}")


def test_merge_mixed_range_bits(spark, tiny_corpus_path, half_indexes, workdir, oracle_tiny):
    """range_bits may differ across sources — range_id is only a grouping
    key; the merged index must still be rank-identical."""
    pages = spark.read.parquet(tiny_corpus_path)
    alt = os.path.join(workdir, "index_half1_rb3")
    build_oneshot(
        spark, _half(pages, 1), alt,
        IndexConfig(range_bits=3, block_size=16, n_buckets=8),
    )
    out = os.path.join(workdir, "index_merged_mixed")
    merge_indexes(spark, [half_indexes[0], alt], out)
    s = BM25Searcher(spark, out)
    for qt, k in [("the", 5), ("zanzibar", 10)]:
        _assert_rank_identical(
            s.search(qt, k=k, mode="bmw"), oracle_tiny.topk(qt, k), qt
        )


def test_merge_rejects_overlap_and_config_mismatch(
    spark, tiny_corpus_path, half_indexes, workdir
):
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(
            spark, [half_indexes[0], half_indexes[0]],
            os.path.join(workdir, "index_merged_bad1"),
        )
    pages = spark.read.parquet(tiny_corpus_path)
    other = os.path.join(workdir, "index_half1_bs32")
    build_oneshot(
        spark, _half(pages, 1), other,
        IndexConfig(range_bits=2, block_size=32, n_buckets=8),
    )
    with pytest.raises(ValueError, match="incompatible"):
        merge_indexes(
            spark, [half_indexes[0], other],
            os.path.join(workdir, "index_merged_bad2"),
        )


def test_merge_resumes_without_recompute(spark, half_indexes, merged_index):
    """A second merge over the same sources finds every stage committed in
    the ledger and rewrites nothing."""
    out, _ = merged_index

    def mtimes(sub):
        root = os.path.join(out, sub)
        return {
            os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(root)
            for f in fs
        }

    before = mtimes("postings")
    merge_indexes(spark, half_indexes, out)
    assert mtimes("postings") == before


def test_merge_positional_phrase_identity(spark, workdir):
    """Merging positional indexes carries the positions stream through
    (schema-driven union + pass-through in the bound recompute kernel):
    phrase results on the merged index equal the full build's."""
    from data_prepper_spark.index.build import build_oneshot_text
    from data_prepper_spark.index.phrase import phrase_topk

    docs = [(i, f"alpha beta gamma doc {i} " + ("alpha beta " * (i % 4)))
            for i in range(1, 41)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    cfg = IndexConfig(range_bits=2, block_size=8, n_buckets=4, positions=True)
    full = os.path.join(workdir, "pos_full")
    build_oneshot_text(spark, sdf, full, cfg)
    halves = []
    for i in range(2):
        d = os.path.join(workdir, f"pos_half{i}")
        build_oneshot_text(
            spark, sdf.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i), d, cfg
        )
        halves.append(d)
    out = os.path.join(workdir, "pos_merged")
    merge_indexes(spark, halves, out)
    sf, sm = BM25Searcher(spark, full), BM25Searcher(spark, out)
    for ph in ["alpha beta", "beta gamma", "alpha beta gamma"]:
        a, b = phrase_topk(sf, ph, k=10), phrase_topk(sm, ph, k=10)
        assert [d for d, _ in a] == [d for d, _ in b], ph
        assert all(abs(x - y) < 1e-9 for (_, x), (_, y) in zip(a, b)), ph
    # proximity (slop>0) exercises the greedy searchsorted kernel, which
    # needs per-term position keys SORTED — merged indexes concatenate
    # duplicate slices with interleaved docIDs (regression guard)
    for ph, slop in [("alpha gamma", 1), ("alpha doc", 2), ("beta doc", 3)]:
        a = phrase_topk(sf, ph, k=10, slop=slop)
        b = phrase_topk(sm, ph, k=10, slop=slop)
        assert [d for d, _ in a] == [d for d, _ in b], (ph, slop)
        assert all(abs(x - y) < 1e-9 for (_, x), (_, y) in zip(a, b)), (ph, slop)


def test_merge_three_way(spark, tiny_corpus_path, workdir, oracle_tiny):
    """merge_indexes is N-way: one call over three thirds — the tiered
    (LSM-style) compaction building block — stays rank-identical."""
    pages = spark.read.parquet(tiny_corpus_path)
    dirs = []
    for i in range(3):
        d = os.path.join(workdir, f"index_third{i}")
        build_oneshot(
            spark, pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i), d, CFG
        )
        dirs.append(d)
    out = os.path.join(workdir, "index_merged3")
    merge_indexes(spark, dirs, out)
    s = BM25Searcher(spark, out)
    for qt, k in [("the", 5), ("zanzibar", 10), ("spark index the", 10)]:
        _assert_rank_identical(
            s.search(qt, k=k, mode="bmw"), oracle_tiny.topk(qt, k), qt
        )


def test_merged_bool_and_filtered_not_clobbered(spark, merged_index, tiny_index,
                                                oracle_tiny):
    """REGRESSION: a merged index keeps duplicate (term_id, range_id)
    slice rows side by side; the boolean/filtered decode used to dict by
    term_id and silently DROP all but the last duplicate.  Boolean,
    prefix, and fuzzy results on the merged index must equal the oneshot
    index's exactly."""
    from data_prepper_spark.index.boolquery import (
        search_bool,
        search_fuzzy,
        search_prefix,
    )

    s_m = BM25Searcher(spark, merged_index[0])
    s_f = BM25Searcher(spark, tiny_index[0])
    cases = [
        (["the"], ["data", "search"], ["engine"]),
        (["the", "data"], [], []),
        ([], ["spark", "index", "web"], ["the"]),
        ([], ["the", "of"], []),
    ]
    for must, should, must_not in cases:
        a = search_bool(s_m, must=must, should=should, must_not=must_not, k=10)
        b = search_bool(s_f, must=must, should=should, must_not=must_not, k=10)
        assert a == b, (must, should, must_not)
    assert search_prefix(s_m, "th", k=10) == search_prefix(s_f, "th", k=10)
    assert search_fuzzy(s_m, "tha", k=10) == search_fuzzy(s_f, "tha", k=10)


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_recompute_ubs_kernel_matches_per_row_reference(codec):
    """The group-at-once bound kernel gives each row exactly the
    block_ubs / max_ub of a per-row recompute under the new avgdl, over
    multi-block rows (block_size=4) and across batches; every other
    column, the docID stream included, passes through untouched.  No
    Spark."""
    import numpy as np
    import pandas as pd

    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.index.codec import decode_uints, pack_f32
    from data_prepper_spark.index.merge import recompute_ubs_fn

    rng = np.random.default_rng(5)
    k1, b, bs, avgdl = 1.2, 0.75, 4, 97.5
    n = 2500
    docs = rng.integers(-(2**62), 2**62, size=300, dtype=np.int64)
    di = rng.integers(0, docs.size, size=n)
    terms = rng.integers(-(2**62), 2**62, size=40, dtype=np.int64)
    toks = pd.DataFrame({
        "term_id": terms[np.minimum(rng.geometric(0.1, size=n) - 1, 39)],
        "range_id": np.zeros(n, dtype=np.int32), "doc_id": docs[di],
        "tf": rng.integers(1, 12, size=n),
        "dl": rng.integers(3, 700, size=docs.size)[di],
    }).drop_duplicates(["term_id", "doc_id"])
    pdf = encode_slice_fn(210.0, k1, b, bs, codec)(toks)
    assert pdf["n_blocks"].max() > 1
    batches = [pdf.iloc[:7], pdf.iloc[7:], pdf.iloc[0:0]]
    got = list(recompute_ubs_fn(avgdl, k1, b, bs)(iter(batches)))
    assert [len(g) for g in got] == [len(x) for x in batches]
    out = pd.concat(got)
    for (_, g), (_, r) in zip(out.iterrows(), pdf.iterrows()):
        tf = decode_uints(r["tfs"]).astype(np.float64)
        dl = decode_uints(r["dls"]).astype(np.float64)
        norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        ub = np.nextafter(norm.astype(np.float32), np.float32(np.inf))
        bubs = np.maximum.reduceat(ub, np.arange(0, ub.size, bs))
        assert g["block_ubs"] == pack_f32(bubs)
        assert g["max_ub"] == np.float32(bubs.max())
        for c in pdf.columns:
            if c not in ("block_ubs", "max_ub"):
                assert g[c] == r[c], c
