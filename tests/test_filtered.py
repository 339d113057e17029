"""Metadata-filtered BM25 (docvalues) correctness vs the pure-Python
oracle — Lucene filter-clause semantics (index/filtered.py)."""

import datetime
import os
import shutil

import numpy as np
import pytest

from data_prepper_spark.hashing import xxh64_signed
from data_prepper_spark.index.filtered import search_filtered
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.textproc import tokenize

K1, B = 1.2, 0.75

T0 = datetime.datetime(2025, 1, 1)


def _ts(i: int) -> datetime.datetime:
    return T0 + datetime.timedelta(seconds=i)


@pytest.fixture(scope="session")
def filtered_index(spark, tiny_corpus_path, workdir):
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    index_dir = os.path.join(workdir, "index_filtered")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
    build_oneshot(spark, pages, index_dir, cfg, field_cols=("lang", "warc_ts"))
    return index_dir


@pytest.fixture(scope="session")
def ts_by_doc(tiny_pages_pd):
    return {
        xxh64_signed(r.url): r.warc_ts.to_pydatetime()
        for r in tiny_pages_pd.itertuples(index=False)
    }


def _filtered_oracle(oracle, query_text, allowed, k=10):
    """Plain BM25 (full-index stats) over the allowed docs only."""
    scores = {}
    for t in sorted(set(tokenize(query_text))):
        idf = oracle.idf(t)
        for d, tf in oracle.postings.get(t, {}).items():
            if d not in allowed:
                continue
            dl = oracle.doc_len[d]
            denom = tf + K1 * (1.0 - B + B * dl / oracle.avgdl)
            scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / denom
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _assert_rank_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    g = np.array([s for _, s in got])
    w = np.array([s for _, s in want])
    if g.size:
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-12, err_msg=str(ctx))


FILTER_CASES = [
    ("the data", [("warc_ts", "<", None)], 200),       # None → _ts(cut) at runtime
    ("spark index", [("warc_ts", ">=", None)], 700),
    ("the", [("warc_ts", ">=", None), ("warc_ts", "<", None)], (300, 600)),
    ("web search", [("lang", "==", "en"), ("warc_ts", "<", None)], 50),
]


def _materialize(filters, cuts):
    cuts = list(cuts) if isinstance(cuts, tuple) else [cuts]
    out, ci = [], 0
    for col, op, val in filters:
        if val is None:
            out.append((col, op, _ts(cuts[ci])))
            ci += 1
        else:
            out.append((col, op, val))
    return out


def _allowed_set(ts_by_doc, filters):
    import operator as op_mod

    ops = {"==": op_mod.eq, "!=": op_mod.ne, "<": op_mod.lt,
           "<=": op_mod.le, ">": op_mod.gt, ">=": op_mod.ge}
    allowed = set(ts_by_doc)
    for col, op, val in filters:
        if col == "lang":
            continue  # tiny corpus is all-'en'; lang filters are identity
        allowed = {d for d in allowed if ops[op](ts_by_doc[d], val)}
    return allowed


def test_filtered_driver_matches_oracle(spark, filtered_index, oracle_tiny, ts_by_doc):
    s = BM25Searcher(spark, filtered_index)
    for qtext, filters, cuts in FILTER_CASES:
        flt = _materialize(filters, cuts)
        allowed = _allowed_set(ts_by_doc, flt)
        want = _filtered_oracle(oracle_tiny, qtext, allowed)
        got = search_filtered(s, qtext, flt, k=10)
        _assert_rank_identical(got, want, (qtext, flt))


def test_filtered_distributed_matches_driver(spark, filtered_index):
    s = BM25Searcher(spark, filtered_index)
    for qtext, filters, cuts in FILTER_CASES[:3]:
        flt = _materialize(filters, cuts)
        drv = search_filtered(s, qtext, flt, k=10)
        dst = search_filtered(s, qtext, flt, k=10, distributed=True)
        _assert_rank_identical(dst, drv, (qtext, flt))


def test_filtered_lazy_equals_eager(spark, filtered_index, full_decode):
    """Block-lazy candidate reads equal the same query with every slice
    decoded in full first."""
    for qtext, filters, cuts in FILTER_CASES:
        flt = _materialize(filters, cuts)
        lazy = search_filtered(BM25Searcher(spark, filtered_index), qtext,
                               flt, k=10)
        with full_decode():
            eager = search_filtered(BM25Searcher(spark, filtered_index),
                                    qtext, flt, k=10)
        _assert_rank_identical(lazy, eager, (qtext, flt))


def test_filtered_empty_and_edge(spark, filtered_index, oracle_tiny):
    s = BM25Searcher(spark, filtered_index)
    # filter nobody passes → empty
    assert search_filtered(s, "the", [("warc_ts", "<", _ts(0))]) == []
    # no filters → plain BM25 (brute) delegation
    got = search_filtered(s, "the data", [])
    want = oracle_tiny.topk("the data", 10)
    _assert_rank_identical(got, want, "no-filter delegation")
    with pytest.raises(ValueError):
        search_filtered(s, "the", [("warc_ts", "~~", _ts(1))])


def test_filtered_respects_tombstones(spark, filtered_index, oracle_tiny,
                                      ts_by_doc, workdir):
    from data_prepper_spark.index.deletes import delete_docs

    d = os.path.join(workdir, "index_filtered_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(filtered_index, d)
    flt = [("warc_ts", "<", _ts(500))]
    allowed = _allowed_set(ts_by_doc, flt)
    full = _filtered_oracle(oracle_tiny, "the data", allowed, k=20)
    deleted = [doc for doc, _ in full[:3]]
    delete_docs(d, deleted)
    s = BM25Searcher(spark, d)
    got = search_filtered(s, "the data", flt, k=10)
    want = _filtered_oracle(oracle_tiny, "the data", allowed - set(deleted))
    _assert_rank_identical(got, want, "tombstoned filtered")
    dst = search_filtered(s, "the data", flt, k=10, distributed=True)
    _assert_rank_identical(dst, want, "tombstoned filtered distributed")


# ------------------------------------------------------------ sort-by-field

def _sorted_oracle(oracle, query_text, ts_by_doc, allowed=None, k=10,
                   ascending=False):
    """(field value ASC|DESC, doc_id ASC) over the docs matching any term."""
    import functools

    matched = set()
    for t in sorted(set(tokenize(query_text))):
        matched |= set(oracle.postings.get(t, ()))
    if allowed is not None:
        matched &= allowed

    def cmp(a, b):
        va, vb = ts_by_doc[a], ts_by_doc[b]
        if va != vb:
            if ascending:
                return -1 if va < vb else 1
            return -1 if va > vb else 1
        return -1 if a < b else 1

    ranked = sorted(matched, key=functools.cmp_to_key(cmp))
    return [(d, ts_by_doc[d]) for d in ranked[:k]]


def _as_dt(v):
    """numpy datetime64 / pandas Timestamp → naive python datetime."""
    import pandas as pd

    return pd.Timestamp(v).to_pydatetime()


def test_sorted_driver_matches_oracle(spark, filtered_index, oracle_tiny, ts_by_doc):
    from data_prepper_spark.index.filtered import search_sorted

    s = BM25Searcher(spark, filtered_index)
    for qtext in ["the data", "spark index", "web search engine"]:
        for asc in (False, True):
            got = search_sorted(s, qtext, "warc_ts", k=10, ascending=asc)
            want = _sorted_oracle(oracle_tiny, qtext, ts_by_doc, ascending=asc)
            assert [d for d, _ in got] == [d for d, _ in want], (qtext, asc)
            assert [_as_dt(v) for _, v in got] == [v for _, v in want], (qtext, asc)


def test_sorted_with_filter_and_distributed(spark, filtered_index, oracle_tiny,
                                            ts_by_doc):
    from data_prepper_spark.index.filtered import search_sorted

    s = BM25Searcher(spark, filtered_index)
    flt = [("warc_ts", "<", _ts(600))]
    allowed = _allowed_set(ts_by_doc, flt)
    got = search_sorted(s, "the data", "warc_ts", k=10, filters=flt)
    want = _sorted_oracle(oracle_tiny, "the data", ts_by_doc, allowed=allowed)
    assert [d for d, _ in got] == [d for d, _ in want]
    dst = search_sorted(s, "the data", "warc_ts", k=10, filters=flt,
                        distributed=True)
    assert [d for d, _ in dst] == [d for d, _ in got]


def test_sorted_respects_tombstones(spark, filtered_index, oracle_tiny,
                                    ts_by_doc, workdir):
    from data_prepper_spark.index.deletes import delete_docs
    from data_prepper_spark.index.filtered import search_sorted

    d = os.path.join(workdir, "index_sorted_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(filtered_index, d)
    full = _sorted_oracle(oracle_tiny, "the data", ts_by_doc, k=5)
    deleted = [doc for doc, _ in full[:2]]
    delete_docs(d, deleted)
    s = BM25Searcher(spark, d)
    got = search_sorted(s, "the data", "warc_ts", k=5)
    assert all(doc not in deleted for doc, _ in got)
    want = [dv for dv in _sorted_oracle(oracle_tiny, "the data", ts_by_doc, k=20)
            if dv[0] not in deleted][:5]
    assert [doc for doc, _ in got] == [doc for doc, _ in want]


def test_filtered_wand_route_identity(spark, filtered_index, oracle_tiny,
                                      ts_by_doc):
    """The filter-during-WAND driver strategy (taken above
    BMW_COVERAGE_THRESHOLD candidate-block coverage, 0.5 by default)
    returns exactly the candidate-driven path's results when forced,
    including through the MAX_SEG brute fallback."""
    import data_prepper_spark.index.filtered as fl

    s = BM25Searcher(spark, filtered_index)
    orig = fl.BMW_COVERAGE_THRESHOLD
    try:
        for qtext, filters, cuts in FILTER_CASES:
            flt = _materialize(filters, cuts)
            fl.BMW_COVERAGE_THRESHOLD = 2.0   # candidate-driven
            cand_path = search_filtered(s, qtext, flt, k=10)
            fl.BMW_COVERAGE_THRESHOLD = -1.0  # force WAND route
            wand_path = search_filtered(s, qtext, flt, k=10)
            _assert_rank_identical(wand_path, cand_path, (qtext, flt))
            allowed = _allowed_set(ts_by_doc, flt)
            want = _filtered_oracle(oracle_tiny, qtext, allowed)
            _assert_rank_identical(wand_path, want, (qtext, flt, "oracle"))
    finally:
        fl.BMW_COVERAGE_THRESHOLD = orig


def test_match_aggs(spark, filtered_index, oracle_tiny, ts_by_doc):
    """Terms + histogram aggregations over the match set: driver ==
    distributed == a set-arithmetic oracle; filters compose."""
    from data_prepper_spark.index.filtered import (
        match_agg_histogram,
        match_agg_terms,
    )

    s = BM25Searcher(spark, filtered_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    # terms agg on lang: all-'en' corpus → one bucket with the match count
    got = match_agg_terms(s, "the data", "lang")
    assert got == [("en", len(matched))]
    assert match_agg_terms(s, "the data", "lang", distributed=True) == got
    # histogram on warc_ts epoch seconds is awkward — bucket by a filter
    # instead: count under two disjoint time filters must partition
    flt_lo = [("warc_ts", "<", _ts(500))]
    flt_hi = [("warc_ts", ">=", _ts(500))]
    lo = match_agg_terms(s, "the data", "lang", filters=flt_lo)
    hi = match_agg_terms(s, "the data", "lang", filters=flt_hi)
    assert lo[0][1] + hi[0][1] == len(matched)
    dlo = match_agg_terms(s, "the data", "lang", filters=flt_lo,
                          distributed=True)
    assert dlo == lo


def test_match_agg_date_histogram(spark, filtered_index, oracle_tiny, ts_by_doc):
    """date_histogram over the match set: driver == distributed == a
    strftime-Counter oracle, multi-bucket at minute resolution (the tiny
    corpus spans ~17 minutes) and single-bucket at day resolution."""
    import collections

    from data_prepper_spark.index.filtered import match_agg_date_histogram

    s = BM25Searcher(spark, filtered_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    for interval, fmt in (
        ("minute", "%Y-%m-%dT%H:%M"),
        ("hour", "%Y-%m-%dT%H"),
        ("day", "%Y-%m-%d"),
    ):
        want = collections.Counter(
            ts_by_doc[d].strftime(fmt) for d in matched
        )
        got = match_agg_date_histogram(s, "the data", "warc_ts", interval)
        assert dict(got) == dict(want), interval
        assert got == sorted(got)  # buckets ordered
        assert (
            match_agg_date_histogram(
                s, "the data", "warc_ts", interval, distributed=True
            )
            == got
        ), interval
    # a time filter composes: buckets below the cut only
    flt = [("warc_ts", "<", _ts(300))]
    got = match_agg_date_histogram(s, "the data", "warc_ts", "minute", filters=flt)
    want = collections.Counter(
        ts_by_doc[d].strftime("%Y-%m-%dT%H:%M")
        for d in matched if ts_by_doc[d] < _ts(300)
    )
    assert dict(got) == dict(want)


def test_function_score(spark, filtered_index, oracle_tiny, ts_by_doc):
    """function_score: BM25 × factor — numeric modifiers and a DATETIME
    exponential recency decay (1.0 at origin, 0.5 one scale away),
    driver == distributed == python oracle."""
    from data_prepper_spark.index.filtered import search_function_score

    s = BM25Searcher(spark, filtered_index)
    origin = _ts(999)
    scale = datetime.timedelta(seconds=200)
    spec = {"exp_decay": {"origin": origin, "scale": scale}}

    import math as _math

    def oracle_fn(qtext, k=10):
        base = dict(oracle_tiny.topk(qtext, 10**9))
        scores = {
            d: sc * _math.exp(
                _math.log(0.5)
                * abs((ts_by_doc[d] - origin).total_seconds()) / 200.0
            )
            for d, sc in base.items()
        }
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for qtext in ["the data", "spark index"]:
        want = oracle_fn(qtext)
        got = search_function_score(s, qtext, "warc_ts", spec, k=10)
        _assert_rank_identical(got, want, qtext)
        dst = search_function_score(s, qtext, "warc_ts", spec, k=10,
                                    distributed=True)
        assert [d for d, _ in dst] == [d for d, _ in got]
    # newest docs outrank older equal-relevance docs under decay
    with pytest.raises(ValueError):
        search_function_score(s, "the", "warc_ts", {"nope": {}})


def test_docvalues_cache_identity(spark, filtered_index, monkeypatch):
    """The per-searcher docvalues cache must be invisible to results:
    filtered/sorted/agg/function_score answers are identical with the
    cache active (default budget) and with it forced over budget
    (per-query pushdown scans)."""
    from data_prepper_spark.index.filtered import (
        _DV_CACHE_MB_ENV,
        _DV_DISABLED,
        match_agg_terms,
        search_filtered,
        search_function_score,
        search_sorted,
    )

    flt = [("warc_ts", "<", _ts(900)), ("lang", "==", "en")]

    def run_all(s):
        return (
            search_filtered(s, "the data", flt, k=10),
            search_sorted(s, "spark index", "warc_ts", k=10, filters=flt),
            match_agg_terms(s, "the data", "lang", filters=[]),
            search_function_score(s, "spark index", "warc_ts",
                                  {"exp_decay": {"origin": _ts(999),
                                   "scale": datetime.timedelta(seconds=200)}},
                                  k=10, filters=flt),
        )

    s_on = BM25Searcher(spark, filtered_index)
    got_on = run_all(s_on)
    assert getattr(s_on, "_dv_cache", None) not in (None, _DV_DISABLED)

    monkeypatch.setenv(_DV_CACHE_MB_ENV, "0")
    s_off = BM25Searcher(spark, filtered_index)
    got_off = run_all(s_off)
    assert getattr(s_off, "_dv_cache", None) is _DV_DISABLED
    assert got_on == got_off


@pytest.fixture(scope="session")
def agg_index(spark, tiny_corpus_path, workdir):
    """filtered_index plus a numeric docvalue (n_chars) for the metric
    aggregations (stats/percentiles/range/terms_stats)."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    index_dir = os.path.join(workdir, "index_agg")
    pages = (
        spark.read.parquet(tiny_corpus_path)
        .withColumn("n_chars", F.length("text"))
        # second numeric docvalue (matrix_stats pair) — text-derived so
        # the python oracles recompute it without knowing doc_ids
        .withColumn("prio", (F.length("text") % 5 + 1).cast("long"))
        # NULLABLE string docvalue (exists/missing filter ops) — string,
        # not numeric: a null-bearing int column would come back float64
        # from the docvalues cache (round-4 gotcha)
        .withColumn(
            "alt",
            F.when(F.length("text") % 3 != 0, F.col("lang")),
        )
    )
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
    build_oneshot(spark, pages, index_dir, cfg,
                  field_cols=("lang", "warc_ts", "n_chars", "prio", "alt"))
    return index_dir


def test_match_agg_metrics(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """stats / percentiles / cardinality / range / nested terms-stats over
    the match set: driver == distributed == a pure-python oracle."""
    import math

    from data_prepper_spark.index.filtered import (
        match_agg_cardinality,
        match_agg_percentiles,
        match_agg_range,
        match_agg_stats,
        match_agg_terms_stats,
    )

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    langs = {
        xxh64_signed(r.url): r.lang
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    vals = sorted(nchars[d] for d in matched)

    st = match_agg_stats(s, "the data", "n_chars")
    assert st == {
        "count": len(vals), "min": vals[0], "max": vals[-1],
        "sum": sum(vals), "avg": sum(vals) / len(vals),
    }
    assert match_agg_stats(s, "the data", "n_chars", distributed=True) == st

    pct = match_agg_percentiles(s, "the data", "n_chars")
    want = [
        (p, vals[max(1, math.ceil(p / 100 * len(vals))) - 1])
        for p in (25.0, 50.0, 75.0, 95.0)
    ]
    assert pct == want
    assert match_agg_percentiles(
        s, "the data", "n_chars", distributed=True
    ) == pct

    card = match_agg_cardinality(s, "the data", "n_chars")
    assert card == len(set(vals))
    assert match_agg_cardinality(
        s, "the data", "n_chars", distributed=True
    ) == card

    med = vals[len(vals) // 2]
    ranges = [("lo", None, med), ("mid", med, med + 50), ("hi", med + 50, None),
              ("overlap", None, None), ("empty", 10**9, None)]
    rg = match_agg_range(s, "the data", "n_chars", ranges)
    assert rg == [
        ("lo", sum(v < med for v in vals)),
        ("mid", sum(med <= v < med + 50 for v in vals)),
        ("hi", sum(v >= med + 50 for v in vals)),
        ("overlap", len(vals)),   # open-open counts everything
        ("empty", 0),             # empty buckets still emitted
    ]
    assert match_agg_range(
        s, "the data", "n_chars", ranges, distributed=True
    ) == rg

    tstat = match_agg_terms_stats(s, "the data", "lang", "n_chars")
    by_lang = {}
    for d in matched:
        by_lang.setdefault(langs[d], []).append(nchars[d])
    want_ts = [
        (lg, len(v), sum(v), min(v), max(v))
        for lg, v in sorted(by_lang.items())
    ]
    assert tstat == want_ts
    assert match_agg_terms_stats(
        s, "the data", "lang", "n_chars", distributed=True
    ) == tstat

    # a time filter composes identically in both modes
    flt = [("warc_ts", "<", _ts(500))]
    st_f = match_agg_stats(s, "the data", "n_chars", filters=flt)
    assert match_agg_stats(
        s, "the data", "n_chars", filters=flt, distributed=True
    ) == st_f
    assert st_f["count"] <= st["count"]


def test_match_agg_top_hits(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """terms→top_hits: driver == distributed == a pure-python oracle
    (per-bucket top-k by (n_chars DESC, doc_id ASC))."""
    from data_prepper_spark.index.filtered import match_agg_top_hits

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    langs = {
        xxh64_signed(r.url): r.lang
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    want = []
    for lg in sorted({langs[d] for d in matched}):
        docs = sorted(
            (d for d in matched if langs[d] == lg),
            key=lambda d: (-nchars[d], d),
        )[:3]
        want.extend((lg, d, nchars[d]) for d in docs)
    got = match_agg_top_hits(s, "the data", "lang", "n_chars", k=3)
    assert got == want
    assert match_agg_top_hits(
        s, "the data", "lang", "n_chars", k=3, distributed=True
    ) == got
    # ascending flips the per-bucket order
    asc = match_agg_top_hits(s, "the data", "lang", "n_chars", k=3,
                             ascending=True)
    want_asc = []
    for lg in sorted({langs[d] for d in matched}):
        docs = sorted(
            (d for d in matched if langs[d] == lg),
            key=lambda d: (nchars[d], d),
        )[:3]
        want_asc.extend((lg, d, nchars[d]) for d in docs)
    assert asc == want_asc
    assert match_agg_top_hits(
        s, "the data", "lang", "n_chars", k=3, ascending=True,
        distributed=True,
    ) == asc


def test_match_agg_matrix_stats(spark, agg_index, oracle_tiny,
                                tiny_pages_pd):
    """matrix_stats: driver == distributed == a pure-python exact
    integer-moment oracle (truncate-toward-zero scaled rationals)."""
    from data_prepper_spark.index.filtered import match_agg_matrix_stats

    def tdiv(a, b):
        return a // b if (a >= 0) == (b > 0) else -(abs(a) // abs(b))

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    prio = {d: v % 5 + 1 for d, v in nchars.items()}
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    xs = [nchars[d] for d in matched]
    ys = [prio[d] for d in matched]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    sv = n * sxy - sx * sy
    want = {
        "n": n, "sum_x": sx, "sum_y": sy,
        "mean_x_e6": tdiv(sx * 10**6, n),
        "mean_y_e6": tdiv(sy * 10**6, n),
        "var_x_e6": tdiv(vx * 10**6, n * n),
        "var_y_e6": tdiv(vy * 10**6, n * n),
        "cov_e6": tdiv(sv * 10**6, n * n),
        "corr2s_e6": (1 if sv >= 0 else -1) * ((sv * sv * 10**6) // (vx * vy)),
    }
    got = match_agg_matrix_stats(s, "the data", "n_chars", "prio")
    assert got == want
    assert match_agg_matrix_stats(
        s, "the data", "n_chars", "prio", distributed=True
    ) == got
    # empty match set
    assert match_agg_matrix_stats(s, "zzznotaterm", "n_chars", "prio")["n"] == 0


def test_match_agg_mad(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """median_absolute_deviation: driver == distributed == a pure-python
    nearest-rank oracle (the percentiles rank definition, both medians)."""
    import math

    from data_prepper_spark.index.filtered import (
        match_agg_median_absolute_deviation,
    )

    def nr_median(vals):
        v = sorted(vals)
        return v[max(1, math.ceil(0.5 * len(v))) - 1]

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    vals = [nchars[d] for d in matched]
    med = nr_median(vals)
    want = {
        "n": len(vals), "median": med,
        "mad": nr_median([abs(v - med) for v in vals]),
    }
    got = match_agg_median_absolute_deviation(s, "the data", "n_chars")
    assert got == want
    assert match_agg_median_absolute_deviation(
        s, "the data", "n_chars", distributed=True
    ) == got
    assert match_agg_median_absolute_deviation(
        s, "zzznotaterm", "n_chars"
    )["n"] == 0


def test_match_agg_adjacency_matrix(spark, agg_index, oracle_tiny,
                                    tiny_pages_pd):
    """adjacency_matrix: driver == distributed == brute counts; disjoint
    pair buckets are dropped, keys sort, intersection keys are `a&b`."""
    from data_prepper_spark.index.filtered import match_agg_adjacency_matrix

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    langs = {
        xxh64_signed(r.url): r.lang
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    med = sorted(nchars[d] for d in matched)[len(matched) // 2]
    named = [
        ("short", (("n_chars", "<", med),)),
        ("long", (("n_chars", ">=", med),)),
        ("en", (("lang", "==", "en"),)),
    ]
    conds = {
        "short": lambda d: nchars[d] < med,
        "long": lambda d: nchars[d] >= med,
        "en": lambda d: langs[d] == "en",
    }
    conds["en&long"] = lambda d: conds["en"](d) and conds["long"](d)
    conds["en&short"] = lambda d: conds["en"](d) and conds["short"](d)
    conds["long&short"] = lambda d: conds["long"](d) and conds["short"](d)
    want = sorted(
        (key, sum(1 for d in matched if c(d)))
        for key, c in conds.items()
        if sum(1 for d in matched if c(d)) > 0
    )
    got = match_agg_adjacency_matrix(s, "the data", named, "n_chars")
    assert got == want
    assert ("long&short", 0) not in got  # disjoint bucket dropped
    assert all(n > 0 for _, n in got)
    assert match_agg_adjacency_matrix(
        s, "the data", named, "n_chars", distributed=True
    ) == got


def test_suggest_completion(spark, agg_index, oracle_tiny):
    """completion suggester: top-k prefix terms by (df DESC, term ASC)
    vs the oracle index's postings (extracted-text, en-routed — the same
    doc universe the engine indexes)."""
    from data_prepper_spark.index.boolquery import suggest_completion

    s = BM25Searcher(spark, agg_index)
    dfs = {t: len(docs) for t, docs in oracle_tiny.postings.items()}
    for pref, k in [("t", 3), ("d", 5), ("a", 2), ("zzz", 5)]:
        want = sorted(
            ((t, n) for t, n in dfs.items() if t.startswith(pref)),
            key=lambda x: (-x[1], x[0]),
        )[:k]
        assert suggest_completion(s, pref, k=k) == want


def test_constant_score_and_ids(spark, agg_index, oracle_tiny):
    """constant_score: k lowest filtered matched docIDs at the boost,
    driver == distributed; ids: membership with absent ids dropped."""
    from data_prepper_spark.index.filtered import (
        search_constant_score,
        search_ids,
    )

    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    want = [(d, 2.0) for d in sorted(matched)[:9]]
    got = search_constant_score(s, "the data", boost=2.0, k=9)
    assert got == want
    assert search_constant_score(
        s, "the data", boost=2.0, k=9, distributed=True
    ) == got
    # with a docvalue filter, both modes agree and the set shrinks
    flt = [("lang", "==", "en")]
    a = search_constant_score(s, "the data", filters=flt, k=50)
    b = search_constant_score(s, "the data", filters=flt, k=50,
                              distributed=True)
    assert a == b and len(a) <= 50
    # ids: present come back ascending at 1.0, absent literals drop
    seed = [d for d, _ in got[:4]]
    assert search_ids(s, seed + [123456789, -987654321], k=10) == [
        (d, 1.0) for d in sorted(seed)
    ]
    assert search_ids(s, [123456789], k=5) == []


def test_match_bool_prefix(spark, agg_index, oracle_tiny):
    """match_bool_prefix == bool-should over (full terms ∪ prefix
    expansions), each with its own idf — pinned against search_bool over
    the oracle-derived expansion set."""
    from data_prepper_spark.index.boolquery import (
        search_bool,
        search_match_bool_prefix,
    )

    s = BM25Searcher(spark, agg_index)
    for text in ("the da", "data th", "data dat"):
        *full, last = text.split()
        exp = sorted(set(full) | {
            t for t in oracle_tiny.postings if t.startswith(last)
        })
        want = search_bool(s, should=exp, k=10)
        got = search_match_bool_prefix(s, text, k=10)
        assert got == want, text
        assert search_match_bool_prefix(
            s, text, k=10, distributed=True
        ) == got


def test_significant_text(spark, agg_index, oracle_tiny):
    """significant_text: driver == distributed == a brute python oracle
    (lowest-docID sample, per-doc distinct terms, exact integer JLH).
    The doc universe and per-doc terms derive from the oracle index —
    extracted text, en-routed — and the source table the engine
    re-tokenizes carries the SAME extracted text (the indexed _source)."""
    from data_prepper_spark.index.sigtext import significant_text

    def tdiv(a, b):
        return a // b if (a >= 0) == (b > 0) else -(abs(a) // abs(b))

    toks: dict[int, set] = {}
    for t, docs in oracle_tiny.postings.items():
        for d in docs:
            toks.setdefault(d, set()).add(t)
    n_docs = oracle_tiny.n_docs
    bg = {t: len(docs) for t, docs in oracle_tiny.postings.items()}
    s = BM25Searcher(spark, agg_index)
    source = spark.createDataFrame(
        [(xxh64_signed(u), txt) for u, txt in oracle_tiny.extracted.items()],
        "doc_id long, text string",
    )
    for qtext, sample_size in [("the data", 5), ("the data", 1000),
                               ("spark", 3)]:
        matched = set()
        for t in qtext.split():
            matched |= set(oracle_tiny.postings.get(t, ()))
        if not matched:
            continue
        sample = sorted(matched)[:sample_size]
        f_tot = len(sample)
        fg = {}
        for d in sample:
            for t in toks[d]:
                fg[t] = fg.get(t, 0) + 1
        want = sorted(
            (
                (t, tdiv((c * n_docs - bg[t] * f_tot) * c * n_docs * 10**6,
                         f_tot * f_tot * bg[t] * n_docs), c, bg[t])
                for t, c in fg.items()
            ),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        got = significant_text(s, source, qtext, k=10,
                               sample_size=sample_size)
        assert got == want, (qtext, sample_size)
        dist = significant_text(s, source, qtext, k=10,
                                sample_size=sample_size, distributed=True)
        assert dist == got, (qtext, sample_size)
    # no matches → empty, filters rejected on the distributed path
    assert significant_text(s, source, "zzznotaterm", k=5) == []
    with pytest.raises(ValueError):
        significant_text(s, source, "the", filters=[("n_chars", "<", 10)],
                         distributed=True)


def test_match_agg_significant_terms(spark, agg_index, oracle_tiny,
                                     tiny_pages_pd):
    """significant_terms: driver == distributed == a pure-python exact
    integer JLH oracle (truncate-toward-zero, the DuckDB // rule)."""
    from data_prepper_spark.index.filtered import (
        match_agg_significant_terms,
    )

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    matched = set()
    for t in ("data", "the"):
        matched |= set(oracle_tiny.postings.get(t, ()))
    fg, bg = {}, {}
    for d, v in nchars.items():
        if d not in oracle_tiny.doc_len:
            continue  # token-less docs never reach docmeta (the background)
        bg[v] = bg.get(v, 0) + 1
        if d in matched:
            fg[v] = fg.get(v, 0) + 1
    F_, B_ = sum(fg.values()), sum(bg.values())
    want = []
    for v, fg_n in fg.items():
        bg_n = bg[v]
        num = (fg_n * B_ - bg_n * F_) * fg_n * B_ * 10**6
        den = F_ * F_ * bg_n * B_
        sc = num // den if num >= 0 else -((-num) // den)
        want.append((v, sc, fg_n, bg_n))
    want.sort(key=lambda t: (-t[1], t[0]))
    want = want[:10]
    got = match_agg_significant_terms(s, "the data", "n_chars", k=10)
    assert got == want
    assert match_agg_significant_terms(
        s, "the data", "n_chars", k=10, distributed=True
    ) == got


def test_terms_set(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """terms_set (CoveringQuery): doc matches iff it contains at least
    max(1, required_fn(n_chars)) of the supplied terms; score is the
    BM25 disjunction sum over matched terms.  Driver == distributed ==
    pure-python oracle, including the Lucene >=1 clamp."""
    from data_prepper_spark.index.filtered import search_terms_set

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    terms = ["the", "data", "search", "web"]

    def ts_oracle(fn, k=10):
        cnt = {}
        for t in set(terms):
            for d in oracle_tiny.postings.get(t, {}):
                cnt[d] = cnt.get(d, 0) + 1
        allowed = {
            d for d, c in cnt.items() if c >= max(1, fn(nchars[d]))
        }
        scores = {}
        for t in sorted(set(terms)):
            idf = oracle_tiny.idf(t)
            for d, tf in oracle_tiny.postings.get(t, {}).items():
                if d not in allowed:
                    continue
                dl = oracle_tiny.doc_len[d]
                denom = tf + K1 * (1.0 - B + B * dl / oracle_tiny.avgdl)
                scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / denom
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for fn in (
        lambda v: v % 3,        # 0..2 → exercises the >=1 clamp
        lambda v: v % 4 + 1,    # 1..4 (4 = all supplied terms)
        lambda v: v * 0 + 2,    # constant 2
    ):
        want = ts_oracle(fn)
        got = search_terms_set(
            s, terms, msm_field="n_chars", required_fn=fn, k=10
        )
        _assert_rank_identical(got, want, "terms_set")
        dst = search_terms_set(
            s, terms, msm_field="n_chars", required_fn=fn, k=10,
            distributed=True,
        )
        _assert_rank_identical(dst, want, "terms_set distributed")
    # raw-field semantics: n_chars >> len(terms) → nothing can match
    assert search_terms_set(s, terms, msm_field="n_chars", k=10) == []


def test_union_cache_identity(spark, agg_index):
    """The decoded docID-union cache must be invisible: aggregations and
    match-union paths return identical results with the cache enabled
    (decoded `_doc_abs` rows) and disabled (fresh narrow reads)."""
    from data_prepper_spark.index.filtered import (
        match_agg_date_histogram,
        match_agg_stats,
        match_agg_terms,
    )

    s_on = BM25Searcher(spark, agg_index)
    assert s_on.union_cache_bytes > 0
    s_off = BM25Searcher(spark, agg_index)
    s_off.union_cache_bytes = 0
    for q in ("the data", "web search", "the"):
        for _ in range(2):  # second pass serves from the cache
            a = match_agg_stats(s_on, q, "n_chars")
            b = match_agg_stats(s_off, q, "n_chars")
            assert a == b, q
            assert match_agg_terms(s_on, q, "lang") == (
                match_agg_terms(s_off, q, "lang")
            ), q
            assert match_agg_date_histogram(s_on, q, "warc_ts", "hour") == (
                match_agg_date_histogram(s_off, q, "warc_ts", "hour")
            ), q
    assert s_on._union_cache_bytes > 0
    assert s_off._union_cache_bytes == 0


def _agg_matched(oracle_tiny, query_text="the data"):
    matched = set()
    for t in set(tokenize(query_text)):
        matched |= set(oracle_tiny.postings.get(t, ()))
    return matched


def test_nullable_string_docvalue(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """Aggregations and sort over a docvalue with missing values
    (agg_index's nullable string ``alt``): driver == distributed, and
    missing values are skipped as OpenSearch does — each aggregation
    equals its form over the docs that hold a value (an ``exists``
    filter) — while sort ranks docs without a value last, by doc_id."""
    from collections import Counter

    from data_prepper_spark.index import filtered as fl

    q, has = "the data", [("alt", "exists", None)]
    alt = {xxh64_signed(r.url): r.lang if len(r.text) % 3 else None
           for r in tiny_pages_pd.itertuples(index=False)}
    matched = _agg_matched(oracle_tiny)
    missing = sorted(d for d in matched if alt[d] is None)
    assert missing and len(missing) < len(matched)
    s = BM25Searcher(spark, agg_index)
    entries = {
        "terms": lambda f, d: fl.match_agg_terms(s, q, "alt", f, d),
        "cardinality": lambda f, d: fl.match_agg_cardinality(s, q, "alt", f, d),
        "value_hist": lambda f, d: [
            a.tolist() for a in fl.match_value_hist(s, q, "alt", f, d)],
        "terms_stats": lambda f, d: fl.match_agg_terms_stats(
            s, q, "alt", "n_chars", f, d),
        "significant_terms": lambda f, d: fl.match_agg_significant_terms(
            s, q, "alt", 5, f, d),
        "string_stats": lambda f, d: fl.match_agg_string_stats(
            s, q, "alt", f, d),
    }
    for name, fn in entries.items():
        got = fn((), False)
        assert got == fn((), True), name
        assert got == fn(has, False), name
    assert fl.match_agg_terms(s, q, "alt") == sorted(
        Counter(alt[d] for d in matched if alt[d] is not None).items())

    n_present = len(matched) - len(missing)
    k = n_present + 3  # reaches into the docs without a value
    for asc in (True, False):
        got = fl.search_sorted(s, q, "alt", k, asc)
        assert got == fl.search_sorted(s, q, "alt", k, asc, distributed=True)
        present = fl.search_sorted(s, q, "alt", k, asc, filters=has)
        assert len(present) == n_present
        assert got == present + [(d, None) for d in missing[:3]]


def test_match_agg_boxplot(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """boxplot: min / nearest-rank quartiles / max — driver ==
    distributed == a direct sorted-list oracle."""
    import math

    from data_prepper_spark.index.filtered import match_agg_boxplot

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    vals = sorted(nchars[d] for d in _agg_matched(oracle_tiny))

    def nr(p):
        return vals[max(1, math.ceil(p / 100 * len(vals))) - 1]

    got = match_agg_boxplot(s, "the data", "n_chars")
    assert got == {
        "n": len(vals), "min": vals[0], "q1": nr(25), "q2": nr(50),
        "q3": nr(75), "max": vals[-1],
    }
    assert match_agg_boxplot(
        s, "the data", "n_chars", distributed=True
    ) == got
    assert match_agg_boxplot(s, "zzznotaterm", "n_chars")["n"] == 0


def test_match_agg_t_test(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """Welch's t between two filtered populations: the engine's exact
    scaled-integer t² vs an independent FLOAT Welch computation (sample
    variances, the textbook formula) — sign must match, value within
    float tolerance; driver == distributed."""
    from data_prepper_spark.index.filtered import match_agg_t_test

    nchars, prio = {}, {}
    for r in tiny_pages_pd.itertuples(index=False):
        d = xxh64_signed(r.url)
        nchars[d] = len(r.text)
        prio[d] = len(r.text) % 5 + 1
    s = BM25Searcher(spark, agg_index)
    matched = _agg_matched(oracle_tiny)
    a = [nchars[d] for d in matched if prio[d] <= 2]
    b = [nchars[d] for d in matched if prio[d] >= 3]

    fa = (("prio", "<=", 2),)
    fb = (("prio", ">=", 3),)
    got = match_agg_t_test(s, "the data", "n_chars", fa, fb)
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))
    assert (got["sum_a"], got["sum_b"]) == (sum(a), sum(b))

    def var(v):
        m = sum(v) / len(v)
        return sum((x - m) ** 2 for x in v) / (len(v) - 1)

    ma, mb = sum(a) / len(a), sum(b) / len(b)
    t = (ma - mb) / (var(a) / len(a) + var(b) / len(b)) ** 0.5
    want = (1 if t > 0 else -1) * t * t
    assert abs(got["t2s_e6"] / 1e6 - want) < max(1e-4, abs(want) * 1e-6)
    assert match_agg_t_test(
        s, "the data", "n_chars", fa, fb, distributed=True
    ) == got
    # degenerate: n<2 population → no statistic, counts still exact
    empty = match_agg_t_test(
        s, "the data", "n_chars", (("n_chars", "<", -1),), fb)
    assert empty["t2s_e6"] is None and empty["n_a"] == 0


def test_match_agg_string_stats(spark, agg_index, oracle_tiny,
                                tiny_pages_pd):
    """string_stats over a string docvalue: length stats exact, Shannon
    character entropy vs a direct per-doc Counter oracle (NOT the
    histogram route)."""
    import math
    from collections import Counter

    from data_prepper_spark.index.filtered import match_agg_string_stats

    langs = {
        xxh64_signed(r.url): r.lang
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, agg_index)
    vals = [langs[d] for d in _agg_matched(oracle_tiny)]
    chars = Counter()
    for v in vals:
        chars.update(v)
    n_ch = sum(chars.values())
    ent = math.log2(n_ch) - sum(
        c * math.log2(c) for c in chars.values()
    ) / n_ch
    lens = [len(v) for v in vals]

    got = match_agg_string_stats(s, "the data", "lang")
    assert got == {
        "n": len(vals), "min_len": min(lens), "max_len": max(lens),
        "sum_len": sum(lens), "avg_len_e4": sum(lens) * 10000 // len(lens),
        "entropy6": round(ent, 6),
    }
    assert match_agg_string_stats(
        s, "the data", "lang", distributed=True
    ) == got


def test_match_agg_top_metrics(spark, agg_index, oracle_tiny,
                               tiny_pages_pd):
    """top_metrics: metric fields of the top-k docs by (sort_field,
    doc_id) — both directions, driver == distributed == python sort."""
    from data_prepper_spark.index.filtered import match_agg_top_metrics

    nchars, prio = {}, {}
    for r in tiny_pages_pd.itertuples(index=False):
        d = xxh64_signed(r.url)
        nchars[d] = len(r.text)
        prio[d] = len(r.text) % 5 + 1
    s = BM25Searcher(spark, agg_index)
    matched = _agg_matched(oracle_tiny)

    for ascending in (False, True):
        sign = 1 if ascending else -1
        want = sorted(
            ((d, nchars[d], prio[d]) for d in matched),
            key=lambda t: (sign * t[1], t[0]),
        )[:4]
        got = match_agg_top_metrics(
            s, "the data", "n_chars", ["prio"], k=4, ascending=ascending)
        assert got == want, f"ascending={ascending}"
        assert match_agg_top_metrics(
            s, "the data", "n_chars", ["prio"], k=4, ascending=ascending,
            distributed=True,
        ) == want
    assert match_agg_top_metrics(s, "zzznotaterm", "n_chars", ["prio"]) == []


def test_match_agg_sampler(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """sampler / diversified_sampler: stats over the deterministic
    lowest-docID sample (diversified: rank-within-value cap first) —
    driver == distributed == python walk."""
    from data_prepper_spark.index.filtered import match_agg_sampler

    nchars, langs = {}, {}
    for r in tiny_pages_pd.itertuples(index=False):
        d = xxh64_signed(r.url)
        nchars[d] = len(r.text)
        langs[d] = r.lang
    s = BM25Searcher(spark, agg_index)
    matched = sorted(_agg_matched(oracle_tiny))

    def stats(sample):
        v = [nchars[d] for d in sample]
        return {"n": len(v), "min": min(v), "max": max(v), "sum": sum(v)}

    shard = 7
    got = match_agg_sampler(s, "the data", shard, "n_chars")
    assert got == stats(matched[:shard])
    assert match_agg_sampler(
        s, "the data", shard, "n_chars", distributed=True
    ) == got

    cap = 2
    seen, cand = {}, []
    for d in matched:
        g = langs[d]
        if seen.get(g, 0) < cap:
            seen[g] = seen.get(g, 0) + 1
            cand.append(d)
    want_div = stats(cand[:shard])
    got_div = match_agg_sampler(
        s, "the data", shard, "n_chars",
        diversify_field="lang", max_per_value=cap)
    assert got_div == want_div
    assert match_agg_sampler(
        s, "the data", shard, "n_chars",
        diversify_field="lang", max_per_value=cap, distributed=True,
    ) == want_div
    assert match_agg_sampler(s, "zzznotaterm", shard, "n_chars")["n"] == 0


def test_bucket_script(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """bucket_script pipeline: per-bucket mean (⌊sum·10⁴/n⌋) and share of
    grand total (⌊sum·10⁶/Σsum⌋) over terms_stats buckets."""
    from data_prepper_spark.index.filtered import (
        bucket_script_from_buckets,
        match_agg_terms_stats,
    )

    s = BM25Searcher(spark, agg_index)
    buckets = match_agg_terms_stats(s, "the data", "prio", "n_chars")
    # rows are (bucket, n, sum, min, max); script reads (bucket, n, sum)
    rows = [(b, n, sm) for b, n, sm, _, _ in buckets]
    got = bucket_script_from_buckets(rows)
    grand = sum(sm for _, _, sm in rows)
    for (bk, n, sm), (gbk, gn, gsm, mean_e4, share_e6) in zip(rows, got):
        assert (bk, n, sm) == (gbk, gn, gsm)
        assert mean_e4 == sm * 10**4 // n
        assert share_e6 == sm * 10**6 // grand
    assert bucket_script_from_buckets([]) == []


def test_exists_missing_filters(spark, agg_index, oracle_tiny,
                                tiny_pages_pd):
    """exists/missing filter ops (OpenSearch exists query) over a
    NULL-bearing string docvalue: search + aggregation paths, cached
    mask == pushdown-scan fallback == distributed."""
    from data_prepper_spark.index.filtered import (
        match_agg_stats,
        search_filtered,
    )

    have_alt = {
        xxh64_signed(r.url)
        for r in tiny_pages_pd.itertuples(index=False)
        if len(r.text) % 3 != 0
    }
    s = BM25Searcher(spark, agg_index)
    matched = _agg_matched(oracle_tiny)

    st_e = match_agg_stats(
        s, "the data", "n_chars", filters=[("alt", "exists", None)])
    st_m = match_agg_stats(
        s, "the data", "n_chars", filters=[("alt", "missing", None)])
    assert st_e["count"] == len(matched & have_alt)
    assert st_m["count"] == len(matched - have_alt)
    assert st_e["count"] + st_m["count"] == len(matched)
    for flt, want_allowed in (
        ([("alt", "exists", None)], have_alt),
        ([("alt", "missing", None)], None),
    ):
        allowed = want_allowed if want_allowed is not None else (
            set(oracle_tiny.doc_len) - have_alt)
        want = _filtered_oracle(oracle_tiny, "the data", allowed, k=10)
        got = search_filtered(s, "the data", flt, k=10)
        _assert_rank_identical(got, want, f"exists/missing {flt}")
        dst = search_filtered(s, "the data", flt, k=10, distributed=True)
        _assert_rank_identical(dst, want, f"exists/missing dist {flt}")
    # distributed aggregation path composes the same ops
    assert match_agg_stats(
        s, "the data", "n_chars", filters=[("alt", "exists", None)],
        distributed=True,
    ) == st_e


def test_distance_feature(spark, filtered_index, oracle_tiny, ts_by_doc):
    """distance_feature: BM25 + boost·pivot/(pivot+|ts−origin|) — the
    ADDITIVE recency booster (function_score combine="sum"), driver ==
    distributed == python oracle (index/filtered.py
    search_distance_feature)."""
    from data_prepper_spark.index.filtered import search_distance_feature

    s = BM25Searcher(spark, filtered_index)
    origin = _ts(999)
    pivot = datetime.timedelta(seconds=300)
    boost = 2.5

    def oracle_fn(qtext, k=10):
        base = dict(oracle_tiny.topk(qtext, 10**9))
        scores = {
            d: sc + boost * 300.0
            / (300.0 + abs((ts_by_doc[d] - origin).total_seconds()))
            for d, sc in base.items()
        }
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for qtext in ["the data", "spark index"]:
        want = oracle_fn(qtext)
        got = search_distance_feature(
            s, qtext, "warc_ts", origin, pivot, boost, k=10)
        _assert_rank_identical(got, want, qtext)
        dst = search_distance_feature(
            s, qtext, "warc_ts", origin, pivot, boost, k=10,
            distributed=True)
        assert [d for d, _ in dst] == [d for d, _ in got], qtext
    # additive: a far-from-origin doc keeps its full BM25 score (factor
    # → 0, never multiplies the match away); numeric origin/pivot too
    got_num = search_distance_feature(
        s, "the data", "warc_ts",
        origin=float(int(origin.timestamp() * 1e9)), pivot=1.0, k=10)
    assert got_num  # numeric path runs (ns-int docvalues vs float origin)


def test_random_score(spark, filtered_index, oracle_tiny, ts_by_doc):
    """random_score(seed): deterministic uniform [0,1) per matched doc —
    pure function of (seed, doc_id), identical across driver /
    distributed / repeated runs; filters respected (index/filtered.py
    search_random_score)."""
    from data_prepper_spark.index.filtered import (
        _random_score_values,
        search_random_score,
    )

    s = BM25Searcher(spark, filtered_index)
    qtext, seed = "the data", "fixture-seed"
    matched = set()
    for t in set(tokenize(qtext)):
        matched |= set(oracle_tiny.postings.get(t, {}))

    def oracle_fn(allowed, k=10):
        ids = np.sort(np.array(sorted(allowed), dtype=np.int64))
        sc = _random_score_values(seed, ids)
        order = np.lexsort((ids, -np.round(sc, 6)))[:k]
        return [(int(ids[i]), float(sc[i])) for i in order]

    want = oracle_fn(matched)
    got = search_random_score(s, qtext, seed, k=10)
    _assert_rank_identical(got, want, "unfiltered")
    assert search_random_score(s, qtext, seed, k=10) == got  # reproducible
    dst = search_random_score(s, qtext, seed, k=10, distributed=True)
    _assert_rank_identical(dst, want, "distributed")
    # a different seed reshuffles
    assert [d for d, _ in search_random_score(s, qtext, "other", k=10)] \
        != [d for d, _ in got]
    # filters restrict the matched universe on both paths
    flt = [("warc_ts", "<", _ts(500))]
    allowed = {d for d in matched if ts_by_doc[d] < _ts(500)}
    want_f = oracle_fn(allowed)
    got_f = search_random_score(s, qtext, seed, k=10, filters=flt)
    _assert_rank_identical(got_f, want_f, "filtered")
    dst_f = search_random_score(s, qtext, seed, k=10, filters=flt,
                                distributed=True)
    _assert_rank_identical(dst_f, want_f, "filtered distributed")


def test_pinned(spark, filtered_index):
    """pinned query: promoted ids rank first IN GIVEN ORDER (absent ids
    skipped), organic BM25 minus the pinned set fills to k
    (index/filtered.py search_pinned)."""
    from data_prepper_spark.index.filtered import search_pinned

    s = BM25Searcher(spark, filtered_index)
    organic = [d for d, _ in s.search("the data", k=20, distributed=False)]
    assert len(organic) >= 6
    pinned = [organic[3], 123456789, organic[0]]  # middle, absent, head
    got = search_pinned(s, "the data", pinned, k=8)
    want_head = [organic[3], organic[0]]
    want_tail = [d for d in organic if d not in want_head][: 8 - 2]
    assert got == list(enumerate(want_head + want_tail, start=1))
    # k smaller than the pinned list truncates the promoted head itself
    got2 = search_pinned(s, "the data", pinned, k=1)
    assert got2 == [(1, organic[3])]


def test_function_score_boost_modes(spark, filtered_index, oracle_tiny,
                                    ts_by_doc):
    """boost_mode completion (replace / avg / max / min): the decay
    factor folds into BM25 per mode, driver == distributed == python
    fold (index/filtered.py _COMBINE_MODES)."""
    import math as _math

    from data_prepper_spark.index.filtered import search_function_score

    s = BM25Searcher(spark, filtered_index)
    origin = _ts(999)
    spec = {"exp_decay": {"origin": origin,
                          "scale": datetime.timedelta(seconds=200)}}

    def fv(d):
        return _math.exp(
            _math.log(0.5)
            * abs((ts_by_doc[d] - origin).total_seconds()) / 200.0
        )

    folds = {
        "replace": lambda sc, f: f,
        "avg": lambda sc, f: (sc + f) / 2.0,
        "max": max,
        "min": min,
    }
    for mode, fold in folds.items():
        for qtext in ["the data", "spark index"]:
            base = dict(oracle_tiny.topk(qtext, 10**9))
            want = sorted(
                ((d, fold(sc, fv(d))) for d, sc in base.items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[:10]
            got = search_function_score(
                s, qtext, "warc_ts", spec, k=10, combine=mode)
            _assert_rank_identical(got, want, (mode, qtext))
            dst = search_function_score(
                s, qtext, "warc_ts", spec, k=10, combine=mode,
                distributed=True)
            assert [d for d, _ in dst] == [d for d, _ in got], (mode, qtext)
    with pytest.raises(ValueError):
        search_function_score(s, "the", "warc_ts", spec, combine="nope")


def test_rank_feature(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """rank_feature query shapes (OpenSearch saturation / log /
    sigmoid): score = BM25 + boost·S(n_chars), driver == distributed ==
    python oracle (index/filtered.py search_rank_feature)."""
    import math

    from data_prepper_spark.index.filtered import search_rank_feature

    s = BM25Searcher(spark, agg_index)
    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    shapes = {
        "saturation": (
            {"saturation": {"pivot": 40}, "boost": 2.0},
            lambda v: 2.0 * v / (v + 40.0),
        ),
        "log": (
            {"log": {"scaling_factor": 0.05}, "boost": 1.5},
            lambda v: 1.5 * math.log1p(0.05 * v),
        ),
        "sigmoid": (
            {"sigmoid": {"pivot": 60, "exponent": 0.7}, "boost": 3.0},
            lambda v: 3.0 * v**0.7 / (v**0.7 + 60**0.7),
        ),
    }
    for name, (spec, sfn) in shapes.items():
        for qtext in ["the data", "spark index"]:
            base = dict(oracle_tiny.topk(qtext, 10**9))
            want = sorted(
                ((d, sc + sfn(nchars[d])) for d, sc in base.items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[:10]
            got = search_rank_feature(s, qtext, "n_chars", spec, k=10)
            _assert_rank_identical(got, want, (name, qtext))
            # bounded shapes promote, never drown: score ≥ pure BM25
            for d, sc in got:
                assert sc >= base[d] - 1e-9
            dst = search_rank_feature(
                s, qtext, "n_chars", spec, k=10, distributed=True)
            assert [d for d, _ in dst] == [d for d, _ in got], (name, qtext)
    with pytest.raises(ValueError):
        search_rank_feature(s, "the", "n_chars", {"nope": {}})


def test_compile_script():
    """Painless-lite compiler: precedence, unary minus, helpers, field
    capture, and rejection of unknown syntax (index/script.py)."""
    from data_prepper_spark.index.script import compile_script

    fn, fields = compile_script(
        "_score * (1 + ln(1 + doc['n_chars'].value / 100)) - 2")
    assert fields == ["n_chars"]
    out = fn(np.array([10.0]), {"n_chars": np.array([100.0])})
    assert abs(out[0] - (10.0 * (1 + np.log(2.0)) - 2)) < 1e-12
    # precedence + unary minus
    fn2, f2 = compile_script("-2 + 3 * 4")
    assert f2 == [] and float(fn2(np.array([0.0]), {})) == 10.0
    # two-arg and three-arg helpers
    fn3, _ = compile_script("max(_score, 5) + sigmoid(4, 4, 1)")
    assert abs(fn3(np.array([3.0]), {})[0] - 5.5) < 1e-12
    fn4, _ = compile_script("saturation(6, 2)")
    assert abs(float(fn4(np.array([0.0]), {})) - 0.75) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError):
        compile_script("system('x')")
    with _pt.raises(ValueError):
        compile_script("ln(1, 2)")
    with _pt.raises(ValueError):
        compile_script("_score +")


def test_script_score(spark, agg_index, oracle_tiny, tiny_pages_pd):
    """script_score query: BM25 match set re-scored by a compiled
    Painless-lite expression, driver == distributed == python oracle
    (index/filtered.py search_script_score)."""
    import math

    from data_prepper_spark.index.filtered import search_script_score

    s = BM25Searcher(spark, agg_index)
    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    cases = [
        ("_score * (1 + ln(1 + doc['n_chars'].value / 100))",
         lambda sc, v: sc * (1 + math.log1p(v / 100.0))),
        ("0.5 * _score + sqrt(doc['n_chars'].value)",
         lambda sc, v: 0.5 * sc + math.sqrt(v)),
        ("max(_score, saturation(doc['n_chars'].value, 50)) * 2",
         lambda sc, v: max(sc, v / (v + 50.0)) * 2),
    ]
    for script, mirror in cases:
        for qtext in ["the data", "spark index"]:
            base = dict(oracle_tiny.topk(qtext, 10**9))
            want = sorted(
                ((d, mirror(sc, nchars[d])) for d, sc in base.items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[:10]
            got = search_script_score(s, qtext, script, k=10)
            _assert_rank_identical(got, want, (script, qtext))
            dst = search_script_score(
                s, qtext, script, k=10, distributed=True)
            assert [d for d, _ in dst] == [d for d, _ in got], script
    # scripts must read exactly one docvalue field
    with pytest.raises(ValueError):
        search_script_score(s, "the", "_score * 2")


# ------------------------------------------- tombstones in match-set reads

@pytest.fixture(scope="session")
def agg_index_tomb(agg_index, oracle_tiny, workdir):
    """A copy of agg_index with every fourth doc matching "the data"
    tombstoned: every match-set reader must deny them."""
    from data_prepper_spark.index.deletes import delete_docs

    d = os.path.join(workdir, "index_agg_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(agg_index, d)
    deleted = sorted(_agg_matched(oracle_tiny))[::4]
    delete_docs(d, deleted)
    return d, set(deleted)


def _match_set_entries():
    """(id, fn(searcher, source_df, distributed)) for every match-set
    reader of index/filtered.py and sigtext.py on agg_index columns."""
    from data_prepper_spark.index import filtered as fl
    from data_prepper_spark.index.sigtext import significant_text

    q = "the data"
    flt = [("warc_ts", "<", _ts(700))]
    named = [("early", [("warc_ts", "<", _ts(300))]),
             ("short", [("n_chars", "<", 400)])]
    return [
        ("terms", lambda s, src, d: fl.match_agg_terms(s, q, "prio", flt, d)),
        ("histogram", lambda s, src, d: fl.match_agg_histogram(
            s, q, "n_chars", 100, flt, d)),
        ("date_histogram", lambda s, src, d: fl.match_agg_date_histogram(
            s, q, "warc_ts", "minute", flt, d)),
        ("value_hist", lambda s, src, d: [
            a.tolist() for a in fl.match_value_hist(s, q, "n_chars", flt, d)]),
        ("stats", lambda s, src, d: fl.match_agg_stats(
            s, q, "n_chars", flt, d)),
        ("extended_stats", lambda s, src, d: fl.match_agg_extended_stats(
            s, q, "n_chars", flt, d)),
        ("percentiles", lambda s, src, d: fl.match_agg_percentiles(
            s, q, "n_chars", filters=flt, distributed=d)),
        ("percentile_ranks", lambda s, src, d: fl.match_agg_percentile_ranks(
            s, q, "n_chars", [100, 500], flt, d)),
        ("mad", lambda s, src, d: fl.match_agg_median_absolute_deviation(
            s, q, "n_chars", flt, d)),
        ("cardinality", lambda s, src, d: fl.match_agg_cardinality(
            s, q, "n_chars", flt, d)),
        ("range", lambda s, src, d: fl.match_agg_range(
            s, q, "n_chars", [("lo", None, 500), ("hi", 500, None)], flt, d)),
        ("boxplot", lambda s, src, d: fl.match_agg_boxplot(
            s, q, "n_chars", flt, d)),
        ("value_count", lambda s, src, d: fl.match_agg_value_count(
            s, q, "n_chars", flt, d)),
        ("rare_terms", lambda s, src, d: fl.match_agg_rare_terms(
            s, q, "n_chars", 1, flt, d)),
        ("string_stats", lambda s, src, d: fl.match_agg_string_stats(
            s, q, "alt", [("alt", "exists", None)], d)),
        ("date_range", lambda s, src, d: fl.match_agg_date_range(
            s, q, "warc_ts", [("a", None, "2025-01-01T00:05:00"),
                              ("b", "2025-01-01T00:05:00", None)], flt, d)),
        ("auto_date_histogram",
         lambda s, src, d: fl.match_agg_auto_date_histogram(
             s, q, "warc_ts", 5, flt, d)),
        ("terms_stats", lambda s, src, d: fl.match_agg_terms_stats(
            s, q, "prio", "n_chars", flt, d)),
        ("date_histogram_stats",
         lambda s, src, d: fl.match_agg_date_histogram_stats(
             s, q, "warc_ts", "minute", "n_chars", flt, d)),
        ("significant_terms", lambda s, src, d: fl.match_agg_significant_terms(
            s, q, "prio", 5, flt, d)),
        ("top_hits", lambda s, src, d: fl.match_agg_top_hits(
            s, q, "prio", "warc_ts", 2, filters=flt, distributed=d)),
        ("top_metrics", lambda s, src, d: fl.match_agg_top_metrics(
            s, q, "warc_ts", ["n_chars", "prio"], 4, filters=flt,
            distributed=d)),
        ("composite", lambda s, src, d: fl.match_agg_composite(
            s, q, ["lang", "prio"], 3, ("en", 1), flt, d)),
        ("multi_terms", lambda s, src, d: fl.match_agg_multi_terms(
            s, q, ["lang", "prio"], 4, flt, d)),
        ("bucket_value_pairs", lambda s, src, d: fl.match_bucket_value_pairs(
            s, q, "warc_ts", "minute", "prio", flt, d)),
        ("cumulative_cardinality",
         lambda s, src, d: fl.match_agg_cumulative_cardinality(
             s, q, "warc_ts", "minute", "alt", flt, d)),
        ("adjacency_matrix", lambda s, src, d: fl.match_agg_adjacency_matrix(
            s, q, named, "n_chars", flt, d)),
        ("filters", lambda s, src, d: fl.match_agg_filters(
            s, q, named, "n_chars", flt, d)),
        ("weighted_avg", lambda s, src, d: fl.match_agg_weighted_avg(
            s, q, "n_chars", "prio", flt, d)),
        ("matrix_stats", lambda s, src, d: fl.match_agg_matrix_stats(
            s, q, "n_chars", "prio", flt, d)),
        ("t_test", lambda s, src, d: fl.match_agg_t_test(
            s, q, "n_chars", [("prio", "<", 3)], [("prio", ">=", 3)], flt, d)),
        ("t_test_paired", lambda s, src, d: fl.match_agg_t_test_paired(
            s, q, "n_chars", "prio", flt, d)),
        ("sampler", lambda s, src, d: fl.match_agg_sampler(
            s, q, 9, "n_chars", flt, distributed=d)),
        ("diversified_sampler", lambda s, src, d: fl.match_agg_sampler(
            s, q, 9, "n_chars", flt, "prio", 2, d)),
        ("sorted", lambda s, src, d: fl.search_sorted(
            s, q, "warc_ts", 10, filters=flt, distributed=d)),
        ("constant_score", lambda s, src, d: fl.search_constant_score(
            s, q, flt, 2.0, 10, d)),
        ("random_score", lambda s, src, d: fl.search_random_score(
            s, q, "seed", 10, flt, d)),
        ("significant_text", lambda s, src, d: significant_text(
            s, src, q, k=5, sample_size=20, distributed=d)),
    ]


@pytest.mark.parametrize(
    "name", [n for n, _ in _match_set_entries()])
def test_match_set_entry_tombstoned(spark, agg_index_tomb, oracle_tiny,
                                    name):
    """Every match-set reader on a tombstoned index: driver ==
    distributed, and no deleted doc reaches a doc-listing result."""
    d, deleted = agg_index_tomb
    fn = dict(_match_set_entries())[name]
    s = BM25Searcher(spark, d)
    source = spark.createDataFrame(
        [(xxh64_signed(u), txt) for u, txt in oracle_tiny.extracted.items()],
        "doc_id long, text string",
    )
    got = fn(s, source, False)
    assert got == fn(s, source, True)
    if name in ("sorted", "constant_score", "random_score"):
        assert got and not {doc for doc, _ in got} & deleted


def test_match_set_tombstone_oracle(spark, agg_index_tomb, oracle_tiny,
                                    tiny_pages_pd, ts_by_doc):
    """stats / terms / top_hits over the LIVE matched docs equal a
    pure-python oracle, with and without a docvalue filter, in both
    modes — the kernel's tombstone deny mask and its filtered-docmeta
    intersection each decide these numbers."""
    from data_prepper_spark.index.filtered import (
        match_agg_stats,
        match_agg_terms,
        match_agg_top_hits,
    )

    d, deleted = agg_index_tomb
    nchars = {xxh64_signed(r.url): len(r.text)
              for r in tiny_pages_pd.itertuples(index=False)}
    prio = {doc: n % 5 + 1 for doc, n in nchars.items()}
    s = BM25Searcher(spark, d)
    for flt in ([], [("warc_ts", "<", _ts(600))]):
        live = (_agg_matched(oracle_tiny) - deleted) & _allowed_set(
            ts_by_doc, flt)
        vals = sorted(nchars[doc] for doc in live)
        want_stats = {"count": len(vals), "min": vals[0], "max": vals[-1],
                      "sum": sum(vals), "avg": sum(vals) / len(vals)}
        want_terms = sorted(
            (p, sum(1 for doc in live if prio[doc] == p))
            for p in {prio[doc] for doc in live})
        want_hits = []
        for p in sorted({prio[doc] for doc in live}):
            top = sorted((doc for doc in live if prio[doc] == p),
                         key=lambda doc: (-nchars[doc], doc))[:2]
            want_hits.extend((p, doc, nchars[doc]) for doc in top)
        for dist in (False, True):
            ctx = (flt, dist)
            assert match_agg_stats(s, "the data", "n_chars", flt,
                                   dist) == want_stats, ctx
            assert match_agg_terms(s, "the data", "prio", flt,
                                   dist) == want_terms, ctx
            assert match_agg_top_hits(s, "the data", "prio", "n_chars", 2,
                                      filters=flt,
                                      distributed=dist) == want_hits, ctx
