"""End-to-end index correctness: byte-identical extraction, rank-identical
top-k vs the pure-Python oracle (the two gates in BASELINE.json input_hint)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.corpus import reference_queries
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.textproc import extract_text_series


def test_byte_identical_extraction(spark, tiny_corpus_path, oracle_tiny):
    """Spark-side extraction (mapInPandas over html BINARY) must be
    byte-identical per url to the oracle's pure-Python extraction."""
    pages = spark.read.parquet(tiny_corpus_path).select("url", "html", "text")

    def ex(batches):
        for b in batches:
            out = b[["url", "text"]].copy()
            out["extracted"] = extract_text_series(b["html"])
            yield out

    rows = pages.mapInPandas(ex, "url string, text string, extracted string").collect()
    assert len(rows) == len(oracle_tiny.extracted)
    for r in rows:
        assert r["extracted"] == r["text"], r["url"]
        assert r["extracted"] == oracle_tiny.extracted[r["url"]], r["url"]


def test_corpus_stats_match_oracle(tiny_index, oracle_tiny):
    _, _, stats = tiny_index
    assert stats["n_docs"] == oracle_tiny.n_docs
    assert stats["total_tokens"] == oracle_tiny.total_tokens
    assert abs(stats["avgdl"] - oracle_tiny.avgdl) < 1e-9


def _assert_rank_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    g = np.array([s for _, s in got])
    w = np.array([s for _, s in want])
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12), ctx


def test_rank_identical_topk_all_reference_queries(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    searcher = BM25Searcher(spark, index_dir)
    for q in reference_queries():
        want = oracle_tiny.topk(q["query_text"], q["k"])
        got_bmw = searcher.search(q["query_text"], k=q["k"], mode="bmw")
        _assert_rank_identical(got_bmw, want, f"bmw q{q['query_id']}: {q['query_text']}")
        got_brute = searcher.search(q["query_text"], k=q["k"], mode="brute")
        got_brute = got_brute[: q["k"]]
        _assert_rank_identical(got_brute, want, f"brute q{q['query_id']}")


def test_distributed_search_matches_driver(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    searcher = BM25Searcher(spark, index_dir)
    for qt, k in [("zanzibar", 10), ("the", 5), ("spark index the", 10), ("melange of", 100)]:
        want = oracle_tiny.topk(qt, k)
        got = searcher.search(qt, k=k, mode="bmw", distributed=True)
        _assert_rank_identical(got, want, f"distributed {qt}")


def test_absent_term_query(spark, tiny_index):
    index_dir, _, _ = tiny_index
    searcher = BM25Searcher(spark, index_dir)
    assert searcher.search("qqqabsentterm", k=10) == []


def test_urls_resolve(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    searcher = BM25Searcher(spark, index_dir)
    hits = searcher.search("zanzibar", k=5)
    urls = searcher.urls_for([d for d, _ in hits])
    for d, _ in hits:
        assert urls[d] == oracle_tiny.doc_url[d]


def test_bucket_pruning_plan(spark, tiny_index):
    """The postings scan must prune to the query terms' buckets (partition
    pruning on term_bucket) — the 'only read what the query needs' gate."""
    index_dir, cfg, _ = tiny_index
    searcher = BM25Searcher(spark, index_dir)
    from data_prepper_spark.hashing import pmod, xxh64_signed

    tid = xxh64_signed("zanzibar")
    bucket = pmod(tid, cfg.n_buckets)
    df = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("term_bucket").isin([bucket]) & (F.col("term_id") == tid))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition pruning on term_bucket must reach the scan ...
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "term_bucket" in pf, plan
    # ... and the term predicate must be pushed into parquet
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "term_id" in pushed, plan
    # and the pruned scan must actually read fewer partitions than exist
    pruned = df.withColumn("f", F.input_file_name()).select("f").distinct().collect()
    assert all(f"term_bucket={bucket}/" in r["f"] for r in pruned), pruned
    n_total = len(spark.read.parquet(f"{index_dir}/postings").inputFiles())
    assert 0 < len(pruned) < n_total


def test_pfor_codec_rank_identical(spark, tiny_corpus_path, workdir, tiny_index, oracle_tiny):
    """An index built with codec='pfor' returns byte-for-byte the same
    BM25 top-k as the varint index AND the oracle — the codec is a pure
    storage concern."""
    import os

    from data_prepper_spark.corpus import reference_queries
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.query import BM25Searcher

    idx_pfor = os.path.join(workdir, "index_tiny_pfor")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8, codec="pfor")
    build_oneshot(spark, pages, idx_pfor, cfg)
    s_pfor = BM25Searcher(spark, idx_pfor)
    s_var = BM25Searcher(spark, tiny_index[0])
    for q in reference_queries()[:12]:
        got = s_pfor.search(q["query_text"], k=q["k"])
        assert got == s_var.search(q["query_text"], k=q["k"])
        want = oracle_tiny.topk(q["query_text"], q["k"])
        assert [d for d, _ in got] == [d for d, _ in want]


def test_bmw_guard_rare_plus_stopword(spark, workdir):
    """The pruning-convergence pathology: a rare term + a term in every
    doc.  The guard must keep bmw exact (== brute) and fast."""
    import os
    import time

    from data_prepper_spark.index.build import build_oneshot_text
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.query import BM25Searcher

    rows = [
        (i, "the common filler words repeat here " + ("rareword " if i % 97 == 0 else "") + f"tail{i % 7}")
        for i in range(3000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = os.path.join(workdir, "idx_guard")
    build_oneshot_text(spark, docs, d, IndexConfig(range_bits=2, block_size=32, n_buckets=8))
    s = BM25Searcher(spark, d)
    t0 = time.perf_counter()
    a = s.search("rareword the", k=10, mode="bmw")
    dt = time.perf_counter() - t0
    b = s.search("rareword the", k=10, mode="brute")
    assert a == b and len(a) == 10
    assert dt < 2.0  # pre-guard this shape ran the full segment loop


def test_range_bits_rank_identical(spark, tiny_corpus_path, workdir, tiny_index, oracle_tiny):
    """range_bits is the scale-out knob (IndexConfig.for_corpus bounds the
    encode group by raising it with corpus size) — it must be a pure
    layout concern: an index built with 8x the ranges returns identical
    BM25 top-k, in both driver and distributed modes."""
    import os

    from data_prepper_spark.corpus import reference_queries
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.query import BM25Searcher

    idx_wide = os.path.join(workdir, "index_tiny_rb5")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = IndexConfig(range_bits=5, block_size=16, n_buckets=8)
    build_oneshot(spark, pages, idx_wide, cfg)
    s_wide = BM25Searcher(spark, idx_wide)
    s_ref = BM25Searcher(spark, tiny_index[0])
    for q in reference_queries()[:12]:
        got = s_wide.search(q["query_text"], k=q["k"])
        assert got == s_ref.search(q["query_text"], k=q["k"])
        want = oracle_tiny.topk(q["query_text"], q["k"])
        assert [d for d, _ in got] == [d for d, _ in want]


def test_for_corpus_group_bound():
    """for_corpus keeps postings-per-encode-group ≈ flat as docs grow."""
    from data_prepper_spark.index.config import IndexConfig

    for n_docs in (10_000, 1_000_000, 10_000_000, 1_000_000_000):
        cfg = IndexConfig.for_corpus(n_docs)
        group = n_docs * 150 / (cfg.n_buckets * cfg.n_ranges)
        assert group <= 2_000_000 or cfg.range_bits >= 2
        if n_docs >= 1_000_000:
            assert group <= 2_000_000 * 1.05, (n_docs, cfg.range_bits, group)


import pytest


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_lazy_bmw_identity(codec):
    """BMW over block-lazy slices (decode only scored blocks) must produce
    EXACTLY its output over eagerly decoded slices — same grid, same
    bounds, same accumulation — including through the MAX_SEG brute
    fallback.  Both tagged codecs are range-addressable (varint terminator
    index / PFor block header index), so both must pass bit-identically."""
    import numpy as np
    import pandas as pd

    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.index.scoring import (
        decode_slice,
        decode_slice_lazy,
        score_bmw,
    )

    rng = np.random.default_rng(11)
    k1, b, avgdl, bs = 1.2, 0.75, 120.0, 8
    vec = encode_slice_fn(avgdl, k1, b, block_size=bs, codec=codec)
    n = 60_000
    terms = rng.choice(
        rng.integers(-(2**62), 2**62, size=6, dtype=np.int64), size=n
    )
    pdf = pd.DataFrame(
        {
            "term_id": terms,
            "range_id": np.zeros(n, dtype=np.int32),
            "doc_id": rng.integers(-(2**62), 2**62, size=n, dtype=np.int64),
            "tf": rng.integers(1, 30, size=n).astype(np.int64),
            "dl": rng.integers(20, 400, size=n).astype(np.int64),
        }
    )
    pdf["dl"] = pdf.groupby("doc_id")["dl"].transform("first")
    pdf = pdf.drop_duplicates(["term_id", "doc_id"]).reset_index(drop=True)
    out = vec(pdf)
    idf = {int(t): 0.5 + 0.1 * i for i, t in enumerate(sorted(out["term_id"]))}

    for n_terms, k in [(2, 10), (6, 10), (3, 1), (6, 10**9)]:  # last: MAX_SEG fallback
        sel = out.iloc[:n_terms]
        eager = [
            decode_slice(sel.iloc[i], idf[int(sel.iloc[i]["term_id"])],
                         label=str(int(sel.iloc[i]["term_id"])))
            for i in range(len(sel))
        ]
        lazy = [
            decode_slice_lazy(sel.iloc[i], idf[int(sel.iloc[i]["term_id"])], bs,
                              label=str(int(sel.iloc[i]["term_id"])))
            for i in range(len(sel))
        ]
        assert all(s is not None for s in lazy)
        ids_e, sc_e = score_bmw(eager, k1, b, avgdl, k)
        ids_l, sc_l = score_bmw(lazy, k1, b, avgdl, k)
        assert np.array_equal(ids_e, ids_l)
        assert np.array_equal(sc_e, sc_l)
        # and lazy full-decode round-trips to the eager arrays
        for se, sl in zip(eager, lazy):
            ts = sl.to_term_slice()
            assert np.array_equal(se.doc_ids, ts.doc_ids)
            assert np.array_equal(se.tfs, ts.tfs)
            assert np.array_equal(se.dls, ts.dls)
            assert sl.last_doc() == int(se.doc_ids[-1])


def _multi_source_rows(codec: str, seed: int = 5, bs: int = 8):
    """Encoded slice rows of three disjoint sources over one doc space, as a
    merged index holds them: sources 0 and 1 use range_bits=2 (their docIDs
    interleave inside each range), source 2 uses range_bits=3 (its range_id
    order is not docID order against the others).  Spark-free: each
    (source, range) group goes through the build's encode kernel."""
    import pandas as pd

    from data_prepper_spark.index.build import encode_slice_fn

    rng = np.random.default_rng(seed)
    k1, b, avgdl = 1.2, 0.75, 120.0
    vec = encode_slice_fn(avgdl, k1, b, block_size=bs, codec=codec)
    n_docs = 6_000
    docs = np.unique(rng.integers(-(2**63), 2**63 - 1, size=n_docs, dtype=np.int64))
    src = rng.integers(0, 3, size=docs.size)
    dl = rng.integers(20, 400, size=docs.size).astype(np.int64)
    # term t appears in a doc with probability p[t]: one head term, a few
    # mid terms, one rare term
    p = np.array([0.9, 0.3, 0.1, 0.02, 0.003])
    term_ids = np.array([101, -202, 303, -404, 505], dtype=np.int64)
    hit = rng.random((docs.size, p.size)) < p
    d_i, t_i = np.nonzero(hit)
    tok = pd.DataFrame(
        {
            "term_id": term_ids[t_i],
            "doc_id": docs[d_i],
            "tf": rng.integers(1, 20, size=d_i.size).astype(np.int64),
            "dl": dl[d_i],
            "src": src[d_i],
        }
    )
    rows = []
    for s_id, rb in ((0, 2), (1, 2), (2, 3)):
        part = tok[tok["src"] == s_id]
        rid = ((part["doc_id"].to_numpy() >> (64 - rb)) + (1 << (rb - 1))).astype(np.int32)
        part = part.assign(range_id=rid)
        for _, grp in part.groupby("range_id"):
            out = vec(grp.drop(columns="src").reset_index(drop=True))
            rows.extend(out.to_dict("records"))
    return rows, (k1, b, avgdl, bs)


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_one_pass_bmw_identity(codec, monkeypatch):
    """One BMW call over the slices of every range (lazy or decoded) returns
    exactly score_brute + topk_select over the same slices, bit for bit:
    interleaved same-range sources, mixed range_bits, an inflated bound
    with a finite seeded threshold, the MAX_SEG fallback and k above the
    match count."""
    from data_prepper_spark.index import scoring
    from data_prepper_spark.index.scoring import (
        _chain_groups,
        decode_slice,
        decode_slice_lazy,
        score_bmw,
        score_brute,
        topk_select,
    )

    rows, (k1, b, avgdl, bs) = _multi_source_rows(codec)
    label = {101: "a", -202: "b", 303: "c", -404: "d", 505: "e"}
    idf = {t: 0.4 + 0.3 * i for i, t in enumerate(sorted(label))}

    # the fixture exercises both traps of chaining by range_id
    firsts = {}
    for r in rows:
        if r["term_id"] == 101:
            firsts.setdefault(r["range_id"], []).append(
                int(np.frombuffer(r["block_firsts"], "<i8")[0])
            )
    assert any(len(v) > 1 for v in firsts.values())
    by_first = [rid for rid, _ in sorted(
        ((rid, f) for rid, fs in firsts.items() for f in fs), key=lambda x: x[1]
    )]
    assert by_first != sorted(by_first)

    def slices(terms, scale=1.0):
        sel = [r for r in rows if r["term_id"] in terms]
        eager = [decode_slice(r, idf[r["term_id"]], label=label[r["term_id"]])
                 for r in sel]
        lazy = [decode_slice_lazy(r, idf[r["term_id"]], bs, label[r["term_id"]])
                for r in sel]
        for s in eager + lazy:
            s.block_ubs = s.block_ubs.astype(np.float64) * scale
        return eager, lazy

    def check(terms, k, q_avgdl=avgdl, scale=1.0, theta0=-np.inf):
        eager, lazy = slices(terms, scale)
        want = topk_select(*score_brute(eager, k1, b, q_avgdl), k)
        for got in (
            score_bmw(eager, k1, b, q_avgdl, k, theta0=theta0),
            score_bmw(lazy, k1, b, q_avgdl, k, theta0=theta0),
        ):
            assert np.array_equal(got[0], want[0])
            assert np.array_equal(got[1], want[1])
        return want, lazy

    two_chains = False
    for terms in ([101, 303], [101, -404, 505], [505], list(label)):
        for k in (1, 10):
            want, lazy = check(terms, k)
            two_chains |= len(_chain_groups(lazy)) > len(terms)
    assert two_chains  # interleaved sources really split a term's chain

    # inflated bounds (a family-global avgdl above the build's) plus a
    # threshold seeded at exactly the k-th score: ties at theta0 survive
    q_avgdl = avgdl * 1.3
    want, _ = check([101, -202, 303], 10, q_avgdl=q_avgdl)
    check([101, -202, 303], 10, q_avgdl=q_avgdl, scale=1.3 * (1 + 1e-9),
          theta0=float(want[1][-1]))

    # k above the match count returns every match, ranked
    want, _ = check([505, -404], 10**6)
    assert want[0].size < 10**6

    # MAX_SEG fallback: a guard of 2 segments forces the brute concession
    monkeypatch.setattr(scoring, "BMW_MAX_SEG", 2)
    check([101, -202, 303, 505], 10)


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_stream_promotion(codec):
    """A stream read block by block stays unpromoted until its cumulative
    reads reach its length, then serves from its full-decode memo; every
    read is bit-identical before and after promotion, through range reads
    (BMW segments) and gathers (conjunctive block reads) alike."""
    from data_prepper_spark.index.scoring import decode_slice, decode_slice_lazy

    rows, (_, _, _, bs) = _multi_source_rows(codec)
    row = max((r for r in rows if r["term_id"] == 101), key=lambda r: r["df_slice"])
    n = int(row["df_slice"])
    assert n > 20 * bs and n % bs  # many blocks, a partial last one
    eager = decode_slice(row, 1.0)
    starts = list(range(0, n, bs))

    s = decode_slice_lazy(dict(row), 1.0, bs, "a")
    streams = {"tfs": s.tf_s, "dls": s.dl_s}
    for name, st in streams.items():
        want = getattr(eager, name)
        for va in starts:
            assert st._all is None  # cumulative reads still below n
            got = st.decode_range(va, min(va + bs, n))
            assert np.array_equal(got.astype(np.int64), want[va : va + bs])
        assert st._all is not None
        for va in starts:
            got = st.decode_range(va, min(va + bs, n))
            assert np.array_equal(got.astype(np.int64), want[va : va + bs])
    for va in starts:
        assert s.doc_s._all is None
        assert np.array_equal(s._ids_range(va, min(va + bs, n)),
                              eager.doc_ids[va : va + bs])
    assert s.doc_s._all is not None
    for va in starts:
        assert np.array_equal(s._ids_range(va, min(va + bs, n)),
                              eager.doc_ids[va : va + bs])

    # gathers: three-block reads accumulate the same way
    s = decode_slice_lazy(dict(row), 1.0, bs, "a")
    n_blocks = len(starts)
    picks = [np.array([j, j + 2, j + 3]) for j in range(0, n_blocks - 3, 4)]
    reads = 0
    for rep in range(2):
        for blocks in picks:
            before = s.doc_s._all is not None
            ids, tfs, dls = s.block_values(blocks)
            reads += sum(min((j + 1) * bs, n) - j * bs for j in blocks)
            assert before or (s.doc_s._all is not None) == (reads >= n)
            mask = np.zeros(n, dtype=bool)
            for j in blocks:
                mask[j * bs : (j + 1) * bs] = True
            assert np.array_equal(ids, eager.doc_ids[mask])
            assert np.array_equal(tfs, eager.tfs[mask])
            assert np.array_equal(dls, eager.dls[mask])
    assert s.doc_s._all is not None and s.tf_s._all is not None


def test_one_scoring_call_per_query(spark, tiny_index, monkeypatch):
    """Call budget of a warm driver-mode match query: ONE score_bmw call
    however many docID ranges the terms span, and BMW's own block reads
    promote the query's streams, after which repeats decode nothing."""
    from data_prepper_spark.index import query as query_mod
    from data_prepper_spark.index import scoring

    s = BM25Searcher(None, tiny_index[0])
    # prunes without the MAX_SEG fallback, whose full decode would
    # promote every stream on the first query
    q = "melange and"
    _, ids, buckets = s._terms_buckets(q)
    n_ranges = len({int(r["range_id"]) for r in s._pruned_slice_rows(list(ids), buckets)})
    assert n_ranges > 1

    calls = []
    real = query_mod.score_bmw
    monkeypatch.setattr(query_mod, "score_bmw",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    want = s.search(q, k=10)
    assert len(calls) == 1 and want

    decodes = []
    for name in ("decode_docids", "decode_uints", "pfor_decode_indexed",
                 "pfor_decode_range", "varint_decode", "varint_decode_range"):
        fn = getattr(scoring, name)
        monkeypatch.setattr(
            scoring, name,
            lambda *a, _fn=fn, _n=name, **kw: decodes.append(_n) or _fn(*a, **kw),
        )
    calls.clear()
    for n_rep in range(1, 65):  # each repeat reads the same blocks again
        decodes.clear()
        assert s.search(q, k=10) == want
        if not decodes:
            break
    assert decodes == []  # promoted: served from the memos
    for _ in range(3):
        assert s.search(q, k=10) == want
    assert decodes == [] and len(calls) == n_rep + 3
