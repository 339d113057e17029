"""Segment merge (index/merge.py): a merged index over disjoint halves
must be rank-identical to a from-scratch build over the full corpus in
every scoring mode — BMW included, which exercises the merge's exact
per-block upper-bound recompute (stored bounds are avgdl-dependent; the
merged corpus's avgdl differs from each half's).  Tombstoned source docs
are left out of the merge."""

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
    # mixed range_bits: the merged stats could carry only one, and the
    # distributed kernels pair postings with docmeta by range_id
    rb3 = os.path.join(workdir, "index_half1_rb3")
    build_oneshot(
        spark, _half(pages, 1), rb3,
        IndexConfig(range_bits=3, block_size=16, n_buckets=8),
    )
    with pytest.raises(ValueError, match="incompatible"):
        merge_indexes(
            spark, [half_indexes[0], rb3],
            os.path.join(workdir, "index_merged_bad3"),
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
    """With nothing to drop, the merge's group-at-once fold kernel gives
    each row exactly the block_ubs / max_ub of a per-row recompute under
    the new avgdl, over multi-block rows (block_size=4) and across
    batches; every other column, the docID stream included, passes
    through untouched.  No Spark."""
    import numpy as np
    import pandas as pd

    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.index.codec import decode_uints, pack_f32
    from data_prepper_spark.index.merge import fold_fn

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
    cfg = IndexConfig(k1=k1, b=b, block_size=bs, codec=codec)
    got = list(fold_fn(np.empty(0, np.int64), avgdl, cfg)(iter(batches)))
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


def test_merge_applies_source_tombstones(
    spark, half_indexes, tiny_pages_pd, workdir
):
    """A merge leaves out every source's tombstoned docs: merging a
    tombstoned copy of one half with the other half searches like, and
    has the corpus stats of, a fresh build over the survivors — and the
    merged index carries no tombstones of its own."""
    import shutil

    import numpy as np

    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.index.deletes import delete_docs
    from data_prepper_spark.oracle import OracleIndex

    src = os.path.join(workdir, "index_half0_tomb")
    shutil.rmtree(src, ignore_errors=True)
    shutil.copytree(half_indexes[0], src)
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{src}/docmeta").select("doc_id").collect()
    )
    dead = ids[::9]
    assert delete_docs(src, dead) == len(dead)
    out = os.path.join(workdir, "index_merged_tomb")
    stats = merge_indexes(spark, [src, half_indexes[1]], out)

    dset = set(dead)
    fresh = OracleIndex().build(
        tiny_pages_pd[[xxh64_signed(u) not in dset for u in tiny_pages_pd["url"]]]
    )
    assert stats["n_docs"] == fresh.n_docs
    assert stats["total_tokens"] == fresh.total_tokens
    s = BM25Searcher(spark, out)
    assert s.deleted.size == 0 and s.n_docs == fresh.n_docs
    hits = {d for d, _ in s.search("the data", k=10**6, mode="brute")}
    assert hits and not hits & dset
    for q in reference_queries()[:8]:
        want = fresh.topk(q["query_text"], q["k"])
        got = s.search(q["query_text"], k=q["k"], mode="bmw")
        _assert_rank_identical(got, want, q["query_text"])
    assert np.intersect1d(
        [r["doc_id"] for r in spark.read.parquet(f"{out}/docmeta").collect()], dead
    ).size == 0


# Spark jobs of one Spark-route merge over two tiny sources with a drop
# set, as measured (4 and 8 local cores) once every postings and
# termstats read took its schema instead of inferring it (23 before,
# 30 before the driver wrote the stats row).  A new metadata round trip
# in the fold fails here.
MERGE_JOB_BUDGET = 18


def test_merge_job_budget(spark, workdir, spark_route, spark_jobs):
    from data_prepper_spark.index.build import build_oneshot_text

    srcs = []
    for i, rows in enumerate([
        [(1, "the quick brown fox"), (2, "the lazy dog sleeps")],
        [(3, "zebra zebras graze quietly"), (4, "brown dogs run")],
    ]):
        d = os.path.join(workdir, f"index_budget{i}")
        build_oneshot_text(
            spark, spark.createDataFrame(rows, "doc_id long, text string"), d, CFG
        )
        srcs.append(d)
    out = os.path.join(workdir, "index_budget_merged")
    with spark_route():
        jobs = spark_jobs(lambda: merge_indexes(spark, srcs, out, drop=[[2], None]))
    print(f"merge_indexes spark jobs: {jobs}")
    assert BM25Searcher(spark, out).n_docs == 3
    assert jobs <= MERGE_JOB_BUDGET


def _count_decodes(monkeypatch) -> list:
    """Record every codec decode call made through any serving module."""
    from data_prepper_spark.index import (
        boolquery, codec, fields, filtered, query, querystring, scoring,
    )

    mods = (codec, scoring, query, boolquery, filtered, fields, querystring)
    calls: list = []
    for name, fn in list(vars(codec).items()):
        if "decode" not in name or not callable(fn):
            continue
        wrapped = (lambda *a, _fn=fn, _n=name, **kw:
                   calls.append(_n) or _fn(*a, **kw))
        for mod in mods:
            if vars(mod).get(name) is fn:
                monkeypatch.setattr(mod, name, wrapped)
    return calls


@pytest.fixture(scope="module")
def tomb_merged(spark, merged_index, workdir):
    """A tombstoned copy of the merged index (every 7th doc deleted):
    duplicate slice rows per term AND a deny set."""
    import shutil

    from data_prepper_spark.index.deletes import delete_docs

    d = os.path.join(workdir, "index_merged_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(merged_index[0], d)
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(f"{d}/docmeta").select("doc_id").collect())
    delete_docs(d, ids[::7])
    return d, set(ids[::7])


def _driver_runs():
    """(name, query) pairs of every driver family that reads postings
    through term views: bool (must, pure-should, must_not, msm), match
    and filtered (a broad and a selective doc_len filter)."""
    from data_prepper_spark.index.boolquery import search_bool
    from data_prepper_spark.index.filtered import search_filtered

    return [
        ("bool must", lambda s: search_bool(
            s, must=["the"], should=["data", "search"], must_not=["engine"],
            k=10)),
        ("bool and", lambda s: search_bool(s, must=["the", "data"], k=10)),
        ("bool should", lambda s: search_bool(s, should=["the", "of"], k=10)),
        ("bool should not", lambda s: search_bool(
            s, should=["spark", "index", "web"], must_not=["the"], k=10)),
        ("bool msm", lambda s: search_bool(
            s, must=["the"], should=["data", "search", "engine"],
            minimum_should_match=2, k=10)),
        ("match", lambda s: s.search("the data", k=10)),
        ("match rare", lambda s: s.search("spark index web", k=10)),
        ("filtered broad", lambda s: search_filtered(
            s, "the data", [("doc_len", ">=", 5)], k=10)),
        ("filtered narrow", lambda s: search_filtered(
            s, "spark index", [("doc_len", ">=", 60)], k=10)),
    ]


def test_merged_bool_repeat_decodes_nothing(merged_index, tomb_merged,
                                            monkeypatch):
    """A merged index has duplicate slice rows per term and a tombstoned
    one a deny set; both read postings through the same block-lazy term
    views as a single build, so repeats of a bool, match or filtered query
    stop decoding: the blocks a run reads count toward its streams'
    promotion to full-decode memos (scoring._Stream), and promoted
    streams serve every later run.  On these indexes every run decodes
    nothing from the second run on, except a stopword must_not under a
    pure-should union: it reads a sparse set of the stopword's blocks,
    whose streams promote within a few repeats (the manner of
    tests/test_index_build.py::test_one_scoring_call_per_query)."""
    calls = _count_decodes(monkeypatch)
    sparse = {"bool should not"}
    for d in (merged_index[0], tomb_merged[0]):
        for name, run in _driver_runs():
            s = BM25Searcher(None, d)  # cold: nothing memoized
            calls.clear()
            want = run(s)
            assert want and calls, (d, name)  # the first run decodes
            for n_rep in range(1, 65):
                calls.clear()
                assert run(s) == want, (d, name)
                if not calls:
                    break
            assert calls == [], (d, name, calls)
            assert name in sparse or n_rep == 1, (d, name, n_rep)
            for _ in range(2):
                assert run(s) == want and calls == [], (d, name, calls)


BOOL_IDENTITY_CASES = [
    # (must, should, must_not, msm)
    (["the"], ["data", "search"], ["engine"], 0),
    ([], ["spark", "index", "web"], ["the"], 0),   # pure-should, must_not
    (["the"], ["data", "search", "engine"], [], 2),
    ([], ["the", "data", "search", "web"], [], 2),
]


def test_one_path_identity_merged_and_tombstoned(
    spark, merged_index, tomb_merged, tiny_index, oracle_tiny
):
    """On a merged index and a tombstoned copy of it, driver results equal
    the distributed results and the brute oracle (tombstoned docs left
    out, full-index stats kept), for bool, filtered and match; on the
    merged index they also equal a fresh build over the same docs."""
    from test_boolquery import _bool_oracle
    from test_filtered import _filtered_oracle

    from data_prepper_spark.index.boolquery import search_bool
    from data_prepper_spark.index.filtered import search_filtered

    fresh = BM25Searcher(spark, tiny_index[0])
    lens = sorted(oracle_tiny.doc_len.values())
    cuts = (lens[len(lens) // 10], lens[9 * len(lens) // 10])
    for d, gone in ((merged_index[0], set()), tomb_merged):
        s = BM25Searcher(spark, d)
        live = set(oracle_tiny.doc_len) - gone
        for must, should, must_not, msm in BOOL_IDENTITY_CASES:
            ctx = (d, must, should, must_not, msm)
            kw = dict(must=must, should=should, must_not=must_not, k=10,
                      minimum_should_match=msm)
            drv = search_bool(s, **kw)
            assert drv, ctx
            _assert_rank_identical(
                drv, _bool_oracle(oracle_tiny, must, should, must_not,
                                  exclude=gone, msm=msm), ctx)
            _assert_rank_identical(
                search_bool(s, distributed=True, **kw), drv, ctx)
            if not gone:
                _assert_rank_identical(search_bool(fresh, **kw), drv, ctx)
        for q in ("the data", "spark index web"):
            drv = s.search(q, k=10)
            _assert_rank_identical(drv, _filtered_oracle(oracle_tiny, q, live),
                                   (d, q))
            _assert_rank_identical(s.search(q, k=10, distributed=True), drv,
                                   (d, q))
            for cut in cuts:  # broad → WAND route, selective → candidates
                flt = [("doc_len", ">=", cut)]
                ctx = (d, q, cut)
                allowed = {x for x in live if oracle_tiny.doc_len[x] >= cut}
                drv = search_filtered(s, q, flt, k=10)
                assert drv, ctx
                _assert_rank_identical(
                    drv, _filtered_oracle(oracle_tiny, q, allowed), ctx)
                _assert_rank_identical(
                    search_filtered(s, q, flt, k=10, distributed=True), drv,
                    ctx)
                if not gone:
                    _assert_rank_identical(
                        search_filtered(fresh, q, flt, k=10), drv, ctx)


def _search_all_eager(s, q):
    """search_all by raw per-row decode_slice, range by range — the
    reference the memo-backed search_all must equal bit for bit."""
    from data_prepper_spark.index.scoring import (
        decode_slice,
        idf_value,
        mask_term_slice,
        score_brute,
    )

    _, ids, buckets = s._terms_buckets(q)
    dfs = s.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    idf = {i: idf_value(s.n_docs, dfs[i]) for i in ids}
    by_range: dict = {}
    for r in s._read_slice_rows(list(ids), buckets, None):
        sl = decode_slice(r, idf[r["term_id"]], label=ids[r["term_id"]])
        if s.deleted.size:
            sl = mask_term_slice(sl, s.deleted)
        by_range.setdefault(int(r["range_id"]), []).append(sl)
    out = []
    for sl in by_range.values():
        d, sc = score_brute(sl, s.cfg.k1, s.cfg.b, s.avgdl)
        out.extend(zip(d.tolist(), sc.tolist()))
    return sorted(out)


def test_search_all_memo_identity(spark, merged_index, half_indexes, workdir,
                                  monkeypatch):
    """search_all equals the raw per-row decode bit for bit on a merged
    index (duplicate slices per term) and a tombstoned one, and a repeat
    call serves every slice from the stream memos."""
    import shutil

    from data_prepper_spark.index.deletes import delete_docs

    tomb = os.path.join(workdir, "index_half0_searchall_tomb")
    shutil.rmtree(tomb, ignore_errors=True)
    shutil.copytree(half_indexes[0], tomb)
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(f"{tomb}/docmeta").select("doc_id").collect())
    delete_docs(tomb, ids[::5])
    for d in (merged_index[0], tomb):
        s = BM25Searcher(None, d)
        queries = [q["query_text"] for q in reference_queries()[:20]]
        for q in queries:
            assert sorted(s.search_all(q)) == _search_all_eager(s, q), (d, q)
        calls = _count_decodes(monkeypatch)
        for q in queries:
            assert sorted(s.search_all(q)) == _search_all_eager(s, q), (d, q)
        # the reference decodes; search_all itself must not
        n_ref = len(calls)
        calls.clear()
        for q in queries:
            s.search_all(q)
        assert calls == [] and n_ref > 0, d
        monkeypatch.undo()
