"""Boolean (must/should/must_not) and prefix query correctness vs the
pure-Python oracle — Lucene BooleanQuery / PrefixQuery semantics
(index/boolquery.py)."""

import math
import os
import shutil

import numpy as np
import pytest

from data_prepper_spark.index.boolquery import (
    expand_prefix,
    search_bool,
    search_prefix,
)
from data_prepper_spark.index.query import BM25Searcher

K1, B = 1.2, 0.75


def _bool_oracle(oracle, must, should, must_not, k=10, exclude=(), msm=0):
    """Pure-Python BooleanQuery: candidates ∩ must, − must_not, scored
    over must+should in sorted-term order (the engine's accumulation
    order).  *exclude*: tombstoned docs (full-index stats retained).
    *msm*: minimum_should_match — docs must match ≥ msm should terms
    (no-op when there are no should clauses, per OpenSearch)."""
    must = list(dict.fromkeys(must))
    should = [t for t in dict.fromkeys(should) if t not in must]
    scoring = sorted(set(must + should))
    if any(t not in oracle.postings for t in must):
        return []
    if must:
        cand = None
        for t in must:
            docs = set(oracle.postings[t])
            cand = docs if cand is None else cand & docs
    else:
        cand = set()
        for t in scoring:
            cand |= set(oracle.postings.get(t, ()))
    if msm > 0 and should:
        cand = {
            d for d in cand
            if sum(d in oracle.postings.get(t, {}) for t in should) >= msm
        }
    for t in must_not:
        cand -= set(oracle.postings.get(t, ()))
    cand -= set(exclude)
    scores = {}
    for t in scoring:
        idf = oracle.idf(t)
        for d, tf in oracle.postings.get(t, {}).items():
            if d not in cand:
                continue
            dl = oracle.doc_len[d]
            denom = tf + K1 * (1.0 - B + B * dl / oracle.avgdl)
            scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / denom
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def _assert_rank_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    g = np.array([s for _, s in got])
    w = np.array([s for _, s in want])
    if g.size:
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-12, err_msg=ctx)


CASES = [
    (["the"], ["data", "search"], ["engine"]),
    (["the", "data"], [], []),
    ([], ["spark", "index", "web"], ["the"]),
    (["zanzibar"], ["the"], []),            # rare/absent-ish must
    (["the"], [], ["of", "and", "to"]),     # broad must_not set
    ([], ["the", "of"], []),                # pure-should (plain BM25 shape)
]


def test_bool_driver_matches_oracle(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    for must, should, must_not in CASES:
        want = _bool_oracle(oracle_tiny, must, should, must_not)
        got = search_bool(s, must=must, should=should, must_not=must_not, k=10)
        _assert_rank_identical(got, want, f"{must}/{should}/{must_not}")


def test_bool_distributed_matches_driver(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    for must, should, must_not in CASES[:4]:
        drv = search_bool(s, must=must, should=should, must_not=must_not, k=10)
        dst = search_bool(
            s, must=must, should=should, must_not=must_not, k=10,
            distributed=True,
        )
        _assert_rank_identical(dst, drv, f"{must}/{should}/{must_not}")


MSM_CASES = [
    # (must, should, must_not, msm)
    ([], ["the", "data", "search", "web"], [], 2),
    ([], ["the", "data", "search", "web"], [], 3),
    (["the"], ["data", "search", "engine"], [], 2),
    (["the"], ["data", "search"], ["engine"], 1),
    ([], ["data", "search"], [], 1),          # pure-should msm=1 ≡ union
    (["the"], ["data", "qqqabsentqqq"], [], 2),  # dead should clause
]


def test_bool_minimum_should_match(spark, tiny_index, oracle_tiny):
    """minimum_should_match vs the oracle, across eager/lazy/distributed
    paths — docs must match ≥ msm SHOULD terms on top of the must/not
    semantics (OpenSearch bool parameter)."""
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    for must, should, must_not, msm in MSM_CASES:
        want = _bool_oracle(oracle_tiny, must, should, must_not, msm=msm)
        ctx = f"{must}/{should}/{must_not} msm={msm}"
        got = search_bool(
            s, must=must, should=should, must_not=must_not, k=10,
            minimum_should_match=msm,
        )
        _assert_rank_identical(got, want, ctx)
        dst = search_bool(
            s, must=must, should=should, must_not=must_not, k=10,
            minimum_should_match=msm, distributed=True,
        )
        _assert_rank_identical(dst, want, ctx + " distributed")


def test_bool_msm_exceeding_live_shoulds_is_empty(spark, tiny_index):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    # only one live should clause but two required
    assert search_bool(
        s, must=["the"], should=["data", "qqqabsentqqq"],
        minimum_should_match=2,
    ) == []
    # no should clauses at all: parameter is a no-op (OpenSearch)
    assert search_bool(s, must=["the"], minimum_should_match=3, k=5)


def test_bool_absent_must_is_empty(spark, tiny_index):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    assert search_bool(s, must=["qqqabsentqqq"], should=["the"]) == []


def test_bool_prohibited_and_scored_raises(spark, tiny_index):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    with pytest.raises(ValueError):
        search_bool(s, must=["the"], must_not=["the"])


def test_bool_respects_tombstones(spark, tiny_index, oracle_tiny, workdir):
    from data_prepper_spark.index.deletes import delete_docs

    src, _, _ = tiny_index
    d = os.path.join(workdir, "index_tomb_bool")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(src, d)
    full = _bool_oracle(oracle_tiny, ["the"], ["data"], [], k=20)
    deleted = [doc for doc, _ in full[:3]]
    delete_docs(d, deleted)
    s = BM25Searcher(spark, d)
    got = search_bool(s, must=["the"], should=["data"], k=10)
    want = _bool_oracle(oracle_tiny, ["the"], ["data"], [], k=10, exclude=deleted)
    _assert_rank_identical(got, want, "tombstoned bool")


def test_prefix_expansion_matches_vocabulary(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    for p in ["th", "dat", "s", "tok00"]:
        want = sorted({t for t in oracle_tiny.postings if t.startswith(p)})
        assert expand_prefix(s, p) == want, p


def test_prefix_search_matches_scoring_rewrite(spark, tiny_index, oracle_tiny):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    for p in ["th", "dat", "tok00"]:
        exp = sorted({t for t in oracle_tiny.postings if t.startswith(p)})
        want = _bool_oracle(oracle_tiny, [], exp, [])
        got = search_prefix(s, p, k=10)
        _assert_rank_identical(got, want, p)


def test_prefix_cap_raises(spark, tiny_index):
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    with pytest.raises(ValueError):
        expand_prefix(s, "t", max_expansions=2)


def test_bool_lazy_equals_eager(spark, tiny_index, full_decode):
    """The skip-pointer (block-lazy) path returns bit for bit what the
    same query returns when every slice is decoded in full first, on
    every case (must, pure-should, must_not)."""
    index_dir, _, _ = tiny_index
    for must, should, must_not in CASES:
        s = BM25Searcher(spark, index_dir)  # fresh: nothing memoized
        lazy = search_bool(s, must=must, should=should, must_not=must_not,
                           k=10, tie_round=4)
        with full_decode():
            eager = search_bool(BM25Searcher(spark, index_dir), must=must,
                                should=should, must_not=must_not, k=10,
                                tie_round=4)
        assert lazy == eager, (must, should, must_not)


# --------------------------------------------------------- fuzzy / wildcard

def _lev_ref(a: str, b: str) -> int:
    """Textbook plain Levenshtein for pinning the vectorized DP."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_levenshtein_leq_matches_reference():
    from data_prepper_spark.index.boolquery import levenshtein_leq

    vocab = [
        "join", "jion", "junk", "merge", "merges", "scan", "scans",
        "query", "quer", "q", "", "a", "hash", "batch", "hatch", "table",
    ]
    for q in ["jion", "merg", "scann", "quer", "hach", "x", ""]:
        for e in (0, 1, 2, 3):
            got = levenshtein_leq(vocab, q, e)
            want = np.array([_lev_ref(t, q) <= e for t in vocab])
            assert (got == want).all(), (q, e, list(zip(vocab, got, want)))


def test_glob_to_regex():
    from data_prepper_spark.index.boolquery import glob_to_regex
    import re

    rx = re.compile(glob_to_regex("s?a*k"))
    assert rx.match("snack") and rx.match("stak")
    assert not rx.match("sak") and not rx.match("snacks")
    # regex metachars in the pattern are literals
    assert re.compile(glob_to_regex("a.b")).match("a.b")
    assert not re.compile(glob_to_regex("a.b")).match("axb")


def test_fuzzy_and_wildcard_expansion(spark, tiny_index, oracle_tiny):
    from data_prepper_spark.index.boolquery import (
        expand_fuzzy,
        expand_wildcard,
        search_fuzzy,
        search_wildcard,
    )

    index_dir, _, _ = tiny_index
    oracle = oracle_tiny
    s = BM25Searcher(spark, index_dir)
    all_terms = sorted(oracle.postings)
    for q, e in [(all_terms[0], 1), (all_terms[0][:-1] + "x", 2)]:
        got = expand_fuzzy(s, q, max_edits=e)
        want = sorted(t for t in all_terms if _lev_ref(t, q) <= e)
        assert got == want, (q, e)
        # scoring-boolean rewrite == should-group oracle over the expansion
        hits = search_fuzzy(s, q, k=10, max_edits=e)
        _assert_rank_identical(
            hits, _bool_oracle(oracle, [], want, []), (q, e)
        )
    pat = all_terms[0][0] + "*"
    got = expand_wildcard(s, pat)
    want = sorted(t for t in all_terms if t.startswith(all_terms[0][0]))
    assert got == want
    hits = search_wildcard(s, pat, k=10)
    _assert_rank_identical(hits, _bool_oracle(oracle, [], want, []), pat)
    with pytest.raises(ValueError):
        expand_fuzzy(s, all_terms[0], max_edits=3, max_expansions=1)
    with pytest.raises(ValueError):
        expand_wildcard(s, "*", max_expansions=1)


def test_bool_pfor_index_identity(spark, tiny_corpus_path, workdir, tiny_index,
                                  full_decode):
    """Boolean/fuzzy serving on a PFor-coded index returns byte-for-byte
    the varint index's results, through block-lazy reads AND with every
    slice decoded in full first (the codec is a pure storage concern)."""
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    idx_pfor = os.path.join(workdir, "index_bool_pfor")
    if not os.path.exists(os.path.join(idx_pfor, "stats")):
        pages = spark.read.parquet(tiny_corpus_path)
        cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8, codec="pfor")
        build_oneshot(spark, pages, idx_pfor, cfg)
    s_pfor = BM25Searcher(spark, idx_pfor)
    s_var = BM25Searcher(spark, tiny_index[0])
    for must, should, must_not in CASES:
        want = search_bool(s_var, must=must, should=should, must_not=must_not, k=10)
        got = search_bool(s_pfor, must=must, should=should, must_not=must_not, k=10)
        assert got == want, (must, should, must_not)
        with full_decode():
            eager = search_bool(
                BM25Searcher(spark, idx_pfor), must=must, should=should,
                must_not=must_not, k=10,
            )
        assert got == eager, (must, should, must_not)


def test_boost_scales_contributions(spark, tiny_index, oracle_tiny):
    """term^boost multiplies that clause's BM25 contribution (Lucene
    BoostQuery); boost=1 is a no-op; boosting a non-scoring term raises."""
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    boosts = {"the": 0.25, "data": 3.0}

    def boosted_oracle(must, should, k=10):
        scoring = sorted(set(must + should))
        cand = None
        for t in must:
            docs = set(oracle_tiny.postings.get(t, ()))
            cand = docs if cand is None else cand & docs
        if cand is None:
            cand = set()
            for t in scoring:
                cand |= set(oracle_tiny.postings.get(t, ()))
        scores = {}
        for t in scoring:
            idf = oracle_tiny.idf(t) * boosts.get(t, 1.0)
            for d, tf in oracle_tiny.postings.get(t, {}).items():
                if d not in cand:
                    continue
                dl = oracle_tiny.doc_len[d]
                denom = tf + K1 * (1.0 - B + B * dl / oracle_tiny.avgdl)
                scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / denom
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    got = search_bool(s, must=["the"], should=["data"], k=10, boosts=boosts)
    _assert_rank_identical(got, boosted_oracle(["the"], ["data"]), "boosted")
    # boost=1 everywhere == unboosted
    plain = search_bool(s, must=["the"], should=["data"], k=10)
    noop = search_bool(s, must=["the"], should=["data"], k=10,
                       boosts={"the": 1.0, "data": 1.0})
    assert plain == noop
    # distributed path carries the boost identically
    dst = search_bool(s, must=["the"], should=["data"], k=10,
                      distributed=True, boosts=boosts)
    _assert_rank_identical(dst, got, "boosted distributed")
    with pytest.raises(ValueError):
        search_bool(s, must=["the"], k=5, boosts={"engine": 2.0})


def test_term_range_expansion_and_search(spark, tiny_index, oracle_tiny):
    from data_prepper_spark.index.boolquery import (
        expand_term_range,
        search_term_range,
    )

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = sorted(oracle_tiny.postings)
    lo, hi = vocab[3], vocab[9]
    got = expand_term_range(s, lo, hi)
    assert got == [t for t in vocab if lo <= t < hi]
    assert expand_term_range(s, lo, hi, include_lower=False,
                             include_upper=True) == \
        [t for t in vocab if lo < t <= hi]
    assert expand_term_range(s, None, vocab[2]) == vocab[:2]
    assert expand_term_range(s, vocab[-2], None) == vocab[-2:]
    exp = [t for t in vocab if lo <= t < hi]
    want = _bool_oracle(oracle_tiny, [], exp, [])
    _assert_rank_identical(search_term_range(s, lo, hi, k=10), want, (lo, hi))
    with pytest.raises(ValueError):
        expand_term_range(s, None, None, max_expansions=3)


def test_search_after_pagination(spark, tiny_index, oracle_tiny):
    """search_after pages concatenate to exactly the one-shot top-k, with
    no overlap, in both serving modes (cursor on rounded scores)."""
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    full = search_bool(s, should=["the", "data", "spark"], k=15, tie_round=6)
    p1 = search_bool(s, should=["the", "data", "spark"], k=5, tie_round=6)
    cur = (round(p1[-1][1], 6), p1[-1][0])
    p2 = search_bool(s, should=["the", "data", "spark"], k=5, tie_round=6,
                     after=cur)
    cur2 = (round(p2[-1][1], 6), p2[-1][0])
    p3 = search_bool(s, should=["the", "data", "spark"], k=5, tie_round=6,
                     after=cur2)
    assert p1 + p2 + p3 == full
    d2 = search_bool(s, should=["the", "data", "spark"], k=5, tie_round=6,
                     after=cur, distributed=True)
    assert [d for d, _ in d2] == [d for d, _ in p2]
    with pytest.raises(ValueError):
        search_bool(s, should=["the"], k=5, after=(1.0, 0))  # needs tie_round


def test_regexp_expansion_and_search(spark, tiny_index, oracle_tiny):
    import re

    from data_prepper_spark.index.boolquery import (
        expand_regexp,
        search_regexp,
    )

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = sorted(oracle_tiny.postings)
    for pat in ["th.*", "d(ata|og)", "[ws].*k?", "tok0[01].*"]:
        want = sorted(t for t in vocab if re.fullmatch(pat, t))
        assert expand_regexp(s, pat) == want, pat
    exp = sorted(t for t in vocab if re.fullmatch("th.*", t))
    want = _bool_oracle(oracle_tiny, [], exp, [])
    _assert_rank_identical(search_regexp(s, "th.*", k=10), want, "th.*")


def test_more_like_this_selection(spark, tiny_index, oracle_tiny):
    """MLT term selection: tf_in_like × idf ranking with floors, then the
    should-group rewrite matches the plain boolean oracle."""
    from data_prepper_spark.index.boolquery import (
        mlt_select_terms,
        search_more_like_this,
    )

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    like = "the the data search spark spark spark absentzz"
    tf = {"the": 2, "data": 1, "search": 1, "spark": 3, "absentzz": 1}
    w = {
        t: round(c * oracle_tiny.idf(t), 6)
        for t, c in tf.items() if oracle_tiny.postings.get(t)
    }
    want_rank = sorted(w, key=lambda t: (-w[t], t))
    assert mlt_select_terms(s, like, max_query_terms=2) == want_rank[:2]
    assert mlt_select_terms(s, like, max_query_terms=10) == want_rank
    # min_term_freq floor drops singletons
    got = mlt_select_terms(s, like, max_query_terms=10, min_term_freq=2)
    assert set(got) == {t for t in w if tf[t] >= 2}
    sel = want_rank[:3]
    hits = search_more_like_this(s, like, k=10, max_query_terms=3)
    _assert_rank_identical(hits, _bool_oracle(oracle_tiny, [], sel, []), "mlt")


def test_posting_cache_identity(spark, tiny_index, monkeypatch):
    """The hot-posting cache (BM25Searcher._rows_cache + stream decode
    memos) must be invisible: repeated queries on a cached searcher
    return exactly what an uncached searcher returns, for BM25 and for
    boolean queries, cold and warm."""
    index_dir, _, _ = tiny_index
    monkeypatch.setenv("DPS_POSTING_CACHE_MB", "0")
    s_off = BM25Searcher(spark, index_dir)
    assert s_off.posting_cache_bytes == 0
    monkeypatch.setenv("DPS_POSTING_CACHE_MB", "64")
    s_on = BM25Searcher(spark, index_dir)
    for q in ["the data", "spark index engine", "zanzibar"]:
        ref = s_off.search(q, k=10)
        assert s_on.search(q, k=10) == ref  # cold
        assert s_on.search(q, k=10) == ref  # warm (rows + memos hit)
    for must, should, must_not in CASES:
        ref = search_bool(s_off, must=must, should=should, must_not=must_not, k=10)
        got1 = search_bool(s_on, must=must, should=should, must_not=must_not, k=10)
        got2 = search_bool(s_on, must=must, should=should, must_not=must_not, k=10)
        assert got1 == ref and got2 == ref, (must, should, must_not)
    assert s_on._rows_cache  # the cache actually engaged


def test_suggest_terms(spark, tiny_index, oracle_tiny):
    """Term suggester: matches a brute per-token python-Levenshtein
    oracle under the (distance ASC, df DESC, term ASC) rank rule;
    mode=missing skips in-vocabulary tokens; the token itself never
    appears."""
    from data_prepper_spark.index.boolquery import suggest_terms

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = {t: len(d) for t, d in oracle_tiny.postings.items()}
    text = "thz datq spark xyzzyxq"
    got = suggest_terms(s, text, max_edits=2, k=5)
    want = []
    for tok in ["thz", "datq", "spark", "xyzzyxq"]:
        if tok in vocab:
            continue  # mode=missing
        cands = sorted(
            ((lev(t, tok), -df, t) for t, df in vocab.items()
             if 1 <= lev(t, tok) <= 2),
        )[:5]
        want.extend((tok, t, d, -negdf) for d, negdf, t in cands)
    assert got == want
    assert all(sug != tok for tok, sug, _d, _f in got)
    # mode=always also suggests for in-vocabulary tokens, still never
    # echoing the token itself; pick a vocab token that provably has a
    # neighbor so the suggestion list is non-empty
    t0 = next(
        t for t in sorted(vocab)
        if any(u != t and 1 <= lev(u, t) <= 2 for u in vocab)
    )
    alw = suggest_terms(s, t0, max_edits=2, k=5, mode="always")
    want_alw = sorted(
        ((lev(u, t0), -df, u) for u, df in vocab.items()
         if 1 <= lev(u, t0) <= 2),
    )[:5]
    assert alw == [(t0, u, d, -negdf) for d, negdf, u in want_alw]
    assert suggest_terms(s, t0, max_edits=2, k=5) == []  # mode=missing skips


def test_suggest_phrase(spark, tiny_index, oracle_tiny):
    """Phrase suggester: whole-phrase corrections match a brute python
    oracle — per-token candidates (token@0 ∪ top-G corrections by
    (dist, df DESC, term)), composed with 1 ≤ Σedits ≤ max_errors,
    ranked (Σedits ASC, Πdf DESC, phrase ASC)."""
    import itertools

    from data_prepper_spark.index.boolquery import suggest_phrase

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = {t: len(d) for t, d in oracle_tiny.postings.items()}
    G, max_edits, max_errors, k = 3, 1, 2, 5

    def tok_cands(tok):
        rows = []
        if tok in vocab:
            rows.append((tok, 0, vocab[tok]))
        corr = sorted(
            ((lev(t, tok), -df, t) for t, df in vocab.items()
             if lev(t, tok) == 1),
        )[:G]
        rows.extend((t, d, -negdf) for d, negdf, t in corr)
        return rows

    for text in ("thz data", "tablz scqn", "the data"):
        toks = text.split()
        per_tok = [tok_cands(t) for t in toks]
        if any(not r for r in per_tok):
            want = []
        else:
            ranked = []
            for combo in itertools.product(*per_tok):
                total = sum(d for _, d, _ in combo)
                if not 1 <= total <= max_errors:
                    continue
                prod = 1
                for _, _, df in combo:
                    prod *= df
                ranked.append((total, -prod,
                               " ".join(t for t, _, _ in combo)))
            ranked.sort()
            want = [(p, t, -np_) for t, np_, p in ranked[:k]]
        got = suggest_phrase(
            s, text, max_edits=max_edits, per_token=G,
            max_errors=max_errors, k=k)
        assert got == want, text
    # an uncorrectable token → no whole-phrase suggestion
    assert suggest_phrase(s, "zzqqxxyy data", max_edits=1) == []


def test_search_synonyms(spark, tiny_index, oracle_tiny):
    """SynonymQuery semantics: per group, tf = sum of member tfs, ONE
    idf from the max member df — vs a pure-python oracle; driver ==
    distributed; and provably different from the bool-should per-term
    idf sum."""
    import math

    from data_prepper_spark.index.boolquery import (
        search_bool,
        search_synonyms,
    )

    K1, B = 1.2, 0.75
    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    n = len(oracle_tiny.doc_len)
    groups = [["spark", "query"], ["data"], ["merge", "zzznotaterm"]]

    scores = {}
    for g in groups:
        members = [t for t in g if t in oracle_tiny.postings]
        if not members:
            continue
        df_g = max(len(oracle_tiny.postings[t]) for t in members)
        idf = math.log(1 + (n - df_g + 0.5) / (df_g + 0.5))
        tf_by_doc = {}
        for t in members:
            for d, tf in oracle_tiny.postings[t].items():
                tf_by_doc[d] = tf_by_doc.get(d, 0) + tf
        for d, tf in tf_by_doc.items():
            dl = oracle_tiny.doc_len[d]
            denom = tf + K1 * (1 - B + B * dl / oracle_tiny.avgdl)
            scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1) / denom
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    got = search_synonyms(s, groups, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    import numpy as np

    np.testing.assert_allclose(
        [v for _, v in got], [v for _, v in want], rtol=1e-9)
    dst = search_synonyms(s, groups, k=10, distributed=True, tie_round=4)
    assert [d for d, _ in dst] == [d for d, _ in want]

    # a dead group is a no-op; all-dead → empty
    assert search_synonyms(s, [["zzz1"], ["zzz2"]]) == []
    assert search_synonyms(
        s, [["spark", "query"], ["data"]], k=10
    ) == search_synonyms(
        s, [["spark", "query", "zzz"], ["data"]], k=10
    )

    # synonym != bool-should: shared-df terms score identically only in
    # degenerate cases; assert the SCORES differ for the blended group
    bs = dict(search_bool(s, should=["spark", "query", "data"], k=10**6))
    sy = dict(search_synonyms(s, [["spark", "query"], ["data"]], k=10**6))
    diff = [d for d in sy if d in bs and abs(sy[d] - bs[d]) > 1e-9]
    assert diff, "synonym blending should change scores vs bool-should"


def test_damerau_within_matches_duckdb():
    """Full Damerau-Levenshtein expansion (transpositions=true) ==
    DuckDB's damerau_levenshtein on random strings — the arbitrary-
    separation Lowrance-Wagner recurrence, not OSA
    (index/boolquery.py damerau_within)."""
    import random

    import duckdb

    from data_prepper_spark.index.boolquery import damerau_within

    # the OSA-vs-full-DL distinguishing case: ('ca','abc') is 2, not 3
    idx, dist = damerau_within(["ca"], "abc", 2)
    assert idx.tolist() == [0] and dist.tolist() == [2]
    rng = random.Random(17)
    terms = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
             for _ in range(300)]
    con = duckdb.connect()
    for q in ["abc", "ba", "dcba", "aabb", "d"]:
        for me in (1, 2):
            idx, dist = damerau_within(terms, q, me)
            got = {(terms[i], int(d)) for i, d in zip(idx, dist)}
            want = {
                (t, d) for t, d in (
                    (t, con.sql(
                        f"select damerau_levenshtein('{t}','{q}')"
                    ).fetchone()[0]) for t in set(terms))
                if d <= me
            }
            assert {t for t, _ in got} == {t for t, _ in want}, (q, me)
            assert got <= want, (q, me)


def test_fuzzy_transpositions(spark, tiny_index, oracle_tiny):
    """transpositions=True reaches adjacent-swap typos at radius 1 that
    plain Levenshtein needs radius 2 for; expansion == brute DL over
    the vocabulary; scores == scoring-boolean rewrite."""
    from data_prepper_spark.index.boolquery import (
        expand_fuzzy,
        search_bool,
        search_fuzzy,
    )

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = sorted(oracle_tiny.postings)
    assert "the" in vocab
    # 'hte' is an adjacent swap of 'the': DL radius 1 finds it,
    # Levenshtein radius 1 does not
    exp_dl = expand_fuzzy(s, "hte", max_edits=1, transpositions=True)
    exp_lev = expand_fuzzy(s, "hte", max_edits=1)
    assert "the" in exp_dl and "the" not in exp_lev
    # expansion == brute python DL over the vocabulary
    import duckdb

    con = duckdb.connect()
    want = sorted(
        t for t in vocab
        if con.sql(
            f"select damerau_levenshtein('{t}','hte')").fetchone()[0] <= 1
    )
    assert sorted(exp_dl) == want
    # ranking equals the should-group over the expansion
    hits = search_fuzzy(s, "hte", k=10, max_edits=1, transpositions=True)
    ref = search_bool(s, should=exp_dl, k=10)
    assert hits == ref


def test_suggest_terms_damerau(spark, tiny_index, oracle_tiny):
    """term suggester string_distance=damerau_levenshtein: a swapped-
    letter typo corrects at distance 1 (plain Levenshtein says 2), same
    (distance, df, term) rank rule."""
    import duckdb

    from data_prepper_spark.index.boolquery import suggest_terms

    index_dir, _, _ = tiny_index
    s = BM25Searcher(spark, index_dir)
    vocab = sorted(oracle_tiny.postings)
    con = duckdb.connect()
    got = suggest_terms(s, "hte", max_edits=1, k=5,
                        string_distance="damerau_levenshtein")
    assert any(sug == "the" and d == 1 for _, sug, d, _ in got)
    # full rank check vs brute DL over the vocabulary
    def _df(t):
        return len(oracle_tiny.postings.get(t, ()))

    want = sorted(
        (con.sql(f"select damerau_levenshtein('{t}','hte')").fetchone()[0],
         -_df(t), t)
        for t in vocab
        if 0 < con.sql(
            f"select damerau_levenshtein('{t}','hte')").fetchone()[0] <= 1
    )[:5]
    assert [(sug, d, df) for _, sug, d, df in got] == [
        (t, d, -negdf) for d, negdf, t in want
    ]
    import pytest as _pt

    with _pt.raises(ValueError):
        suggest_terms(s, "hte", string_distance="nope")
