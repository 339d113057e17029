"""Positional postings + exact phrase queries (index/phrase.py).

Pins: (a) the Arrow positional tokenizer emits exactly the positions of
the shared ``tokenize`` spec; (b) phrase BM25 matches a brute-force
pure-Python oracle (Lucene PhraseQuery semantics: tf = occurrence count,
df = matching docs); (c) storing positions does not perturb plain BM25;
(d) phrase queries on a positions-less index fail loudly."""

import math
import tempfile

import numpy as np
import pandas as pd
import pytest

from data_prepper_spark.index.build import build_oneshot_text
from data_prepper_spark.index.codec import VARINT_TAG, decode_uints
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.phrase import phrase_topk
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.index.tokenize import tokenize_positions_arrow
from data_prepper_spark.textproc import tokenize

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick brown quick brown fox"),
    (3, "brown quick nothing here at all"),
    (4, "a quick brown fox and another quick brown fox"),
    (5, "Unrelated CONTENT with   punctuation!! and digits 42 42 42"),
    (6, ""),
    (7, "quick quick quick"),
]
VARINT_TAG_LEN = 1


def _py_positions(text):
    toks = tokenize(text)
    out = {}
    for i, t in enumerate(toks):
        out.setdefault(t, []).append(i)
    return out, len(toks)


def test_positional_tokenizer_matches_spec():
    texts = pd.Series([t for _, t in DOCS], dtype="object")
    owners, terms, tfs, lens, blobs = tokenize_positions_arrow(texts)
    got = {}
    for o, t, tf, blob in zip(owners, terms, tfs, blobs):
        deltas = decode_uints(VARINT_TAG + blob)  # raw blob: prepend the tag
        assert deltas.size == tf
        got.setdefault(int(o), {})[str(t)] = np.cumsum(deltas).tolist()
    for i, (_, text) in enumerate(DOCS):
        want, n = _py_positions(text)
        assert lens[i] == n
        assert got.get(i, {}) == {k: v for k, v in want.items()}


def _phrase_oracle(docs, phrase, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}  # empty docs are not indexed
    n = len(dls)
    avgdl = sum(dls.values()) / n
    ts = phrase.split()
    m = {}
    for d, seq in toks.items():
        c = sum(
            1
            for i in range(len(seq) - len(ts) + 1)
            if seq[i : i + len(ts)] == ts
        )
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


@pytest.fixture(scope="module")
def pos_index(spark):
    d = tempfile.mkdtemp(prefix="dps_test_posidx_")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cfg = IndexConfig(range_bits=2, block_size=4, n_buckets=4, positions=True)
    build_oneshot_text(spark, docs, d, cfg)
    return d


def test_phrase_matches_brute_oracle(spark, pos_index):
    s = BM25Searcher(spark, pos_index)
    for ph in ["quick brown", "brown quick", "quick brown fox", "42 42",
               "quick quick", "lazy cat", "the quick brown fox"]:
        want = _phrase_oracle(DOCS, ph)
        got = phrase_topk(s, ph, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], ph
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, ph


def test_phrase_driver_equals_distributed(spark, pos_index):
    """The ms-latency driver path and the per-range distributed path are
    the same adjacency core — results must be identical."""
    s = BM25Searcher(spark, pos_index)
    for ph in ["quick brown", "quick brown fox", "42 42", "lazy cat"]:
        a = phrase_topk(s, ph, k=10, distributed=True)
        b = phrase_topk(s, ph, k=10, distributed=False)
        assert [d for d, _ in a] == [d for d, _ in b], ph
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(a, b)), ph


def test_positions_do_not_perturb_bm25(spark, pos_index):
    d2 = tempfile.mkdtemp(prefix="dps_test_plainidx_")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_oneshot_text(
        spark, docs, d2, IndexConfig(range_bits=2, block_size=4, n_buckets=4)
    )
    sp, s2 = BM25Searcher(spark, pos_index), BM25Searcher(spark, d2)
    for q in ["quick", "brown fox", "the 42"]:
        a, b_ = sp.search(q, k=10), s2.search(q, k=10)
        assert [x for x, _ in a] == [x for x, _ in b_], q
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(a, b_)), q


def test_phrase_requires_positional_index(spark):
    d = tempfile.mkdtemp(prefix="dps_test_nopos_")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_oneshot_text(
        spark, docs, d, IndexConfig(range_bits=2, block_size=4, n_buckets=4)
    )
    s = BM25Searcher(spark, d)
    with pytest.raises(ValueError, match="positional"):
        phrase_topk(s, "quick brown")


# ------------------------------------------------------- proximity (slop)

def _prox_oracle(docs, phrase, slop, k1=1.2, b=0.75):
    """Independent proximity oracle: FULL chain enumeration (not greedy)
    — a start counts iff ANY ordered chain fits the window."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    ts = phrase.split()
    m = len(ts)
    matches = {}
    for d, seq in toks.items():
        pos = {}
        for i, t in enumerate(seq):
            pos.setdefault(t, []).append(i)
        c = 0
        for start in pos.get(ts[0], []):
            frontier = {start}
            for t in ts[1:]:
                nxt = set()
                for q in frontier:
                    for p in pos.get(t, []):
                        if q < p <= start + (m - 1) + slop:
                            nxt.add(p)
                frontier = nxt
                if not frontier:
                    break
            if frontier:
                c += 1
        if c:
            matches[d] = c
    if not matches:
        return []
    idf = math.log(1 + (n - len(matches) + 0.5) / (len(matches) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in matches.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


PROX_CASES = [
    ("quick fox", 1), ("quick fox", 2), ("the dog", 2), ("quick quick", 1),
    ("quick brown fox", 0), ("quick brown fox", 3), ("brown and fox", 4),
    ("lazy cat", 3),
]


def test_proximity_matches_brute_oracle(spark, pos_index):
    s = BM25Searcher(spark, pos_index)
    for ph, slop in PROX_CASES:
        want = _prox_oracle(DOCS, ph, slop)
        got = phrase_topk(s, ph, k=10, slop=slop, distributed=False)
        assert [d for d, _ in got] == [d for d, _ in want], (ph, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (ph, slop)


def test_proximity_driver_equals_distributed(spark, pos_index):
    s = BM25Searcher(spark, pos_index)
    for ph, slop in [("quick fox", 2), ("the dog", 2), ("quick quick", 1)]:
        a = phrase_topk(s, ph, k=10, slop=slop, distributed=True)
        b = phrase_topk(s, ph, k=10, slop=slop, distributed=False)
        assert [d for d, _ in a] == [d for d, _ in b], (ph, slop)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(a, b)), ph


def test_proximity_slop0_equals_exact(spark, pos_index):
    """The greedy proximity kernel at slop=0 reproduces the exact
    adjacency kernel's matches bit-for-bit (count of valid starts ==
    adjacency occurrence count)."""
    from data_prepper_spark.hashing import pmod, xxh64_signed
    from data_prepper_spark.index.phrase import (
        _match_rows,
        _prox_match_rows,
    )

    s = BM25Searcher(spark, pos_index)
    for ph in ["quick brown", "quick brown fox", "42 42", "quick quick",
               "the quick brown fox"]:
        terms = tokenize(ph)
        ids = sorted({xxh64_signed(t) for t in terms})
        buckets = sorted({pmod(i, s.cfg.n_buckets) for i in ids})
        term_seq = [xxh64_signed(t) for t in terms]
        rows = s._read_slice_rows(
            ids, buckets,
            ["range_id", "term_id", "df_slice", "doc_ids", "tfs", "dls",
             "positions"],
        )
        by_range = {}
        for r in rows:
            by_range.setdefault(int(r["range_id"]), []).append(r)
        for rid, rr in by_range.items():
            exact = _match_rows(rr, term_seq)
            prox = _prox_match_rows(rr, term_seq, 0)
            assert exact == prox, (ph, rid)


def test_phrase_on_pfor_index(spark, pos_index):
    """A positional index built with codec='pfor' serves phrase queries
    identically: doc/tf/dl streams are pfor-tagged, positions stay raw
    LEB128 per-doc blobs behind a varint tag, and the tagged decode
    dispatches per stream."""
    d = tempfile.mkdtemp(prefix="dps_test_posidx_pfor_")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cfg = IndexConfig(range_bits=2, block_size=4, n_buckets=4,
                      positions=True, codec="pfor")
    build_oneshot_text(spark, docs, d, cfg)
    s_pfor = BM25Searcher(spark, d)
    s_var = BM25Searcher(spark, pos_index)
    for ph in ["quick brown", "quick brown fox", "42 42", "lazy cat",
               "the quick brown fox"]:
        assert phrase_topk(s_pfor, ph, k=10) == phrase_topk(s_var, ph, k=10), ph


# -------------------------------------------------- match_phrase_prefix

def _phrase_prefix_oracle(docs, phrase, k1=1.2, b=0.75):
    """Brute force: leading tokens adjacent, last token a PREFIX match."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    ts = phrase.split()
    lead, pre = ts[:-1], ts[-1]
    m = {}
    for d, seq in toks.items():
        c = sum(
            1
            for i in range(len(seq) - len(ts) + 1)
            if seq[i : i + len(lead)] == lead
            and seq[i + len(lead)].startswith(pre)
        )
        if c:
            m[d] = c
    df = len(m)
    if df == 0:
        return []
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    out = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    return sorted(out, key=lambda kv: (-round(kv[1], 4), kv[0]))


PREFIX_PHRASES = [
    "quick bro",       # single expansion (brown)
    "brown fox a",     # multi expansion (a and another at all)
    "the qu",          # qualifies at doc 1 only
    "quick q",         # overlapping occurrences (doc 7)
    "lazy c",          # no match
    "qu",              # single-token phrase = plain prefix positions
]


def test_phrase_prefix_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import phrase_prefix_topk

    s = BM25Searcher(spark, pos_index)
    for ph in PREFIX_PHRASES:
        want = _phrase_prefix_oracle(DOCS, ph)[:10]
        got = phrase_prefix_topk(s, ph, k=10, distributed=True)
        assert [d for d, _ in got] == [d for d, _ in want], ph
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, ph
        got_drv = phrase_prefix_topk(s, ph, k=10, distributed=False)
        assert [d for d, _ in got_drv] == [d for d, _ in got], ph
        assert all(
            abs(x - y) < 1e-12 for (_, x), (_, y) in zip(got, got_drv)
        ), ph


def test_phrase_prefix_exact_term_included(spark, pos_index):
    """The prefix's own exact term participates when it is in the
    vocabulary ('quick bro*' and 'quick brown' agree on DOCS)."""
    from data_prepper_spark.index.phrase import phrase_prefix_topk

    s = BM25Searcher(spark, pos_index)
    a = phrase_prefix_topk(s, "quick brown", k=10, distributed=False)
    b = phrase_topk(s, "quick brown", k=10, distributed=False)
    assert [d for d, _ in a] == [d for d, _ in b]


# ------------------------------------------------------- span queries

def _span_first_oracle(docs, term, end, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        c = sum(1 for i, t in enumerate(seq) if t == term and i < end)
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def _span_near_oracle(docs, ta, tb, slop, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        c = sum(1 for a in pa if any(abs(a - bpos) - 1 <= slop for bpos in pb))
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_first_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_first_topk

    s = BM25Searcher(spark, pos_index)
    for term, end in [("quick", 1), ("quick", 3), ("brown", 2),
                      ("fox", 5), ("42", 9), ("absent", 4)]:
        want = _span_first_oracle(DOCS, term, end)
        got = span_first_topk(s, term, end, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (term, end)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (term, end)
        drv = span_first_topk(s, term, end, k=10, distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], (term, end)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))


def test_span_near_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_near_topk

    s = BM25Searcher(spark, pos_index)
    for ta, tb, slop in [("quick", "fox", 0), ("quick", "fox", 2),
                         ("fox", "quick", 2), ("brown", "dog", 10),
                         ("42", "digits", 1), ("quick", "absent", 3)]:
        want = _span_near_oracle(DOCS, ta, tb, slop)
        got = span_near_topk(s, ta, tb, slop, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (ta, tb, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (ta, tb, slop)
        drv = span_near_topk(s, ta, tb, slop, k=10, distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], (ta, tb, slop)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))


def test_span_near_rejects_bad_clauses(spark, pos_index):
    from data_prepper_spark.index.phrase import span_near_topk

    s = BM25Searcher(spark, pos_index)
    with pytest.raises(ValueError, match="distinct"):
        span_near_topk(s, "quick", "quick", 1)
    with pytest.raises(ValueError, match="single"):
        span_near_topk(s, "quick brown", "fox", 1)


def _span_not_oracle(docs, ta, tb, slop, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        c = sum(
            1 for a in pa
            if not any(abs(a - bpos) - 1 <= slop for bpos in pb)
        )
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_not_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_not_topk

    s = BM25Searcher(spark, pos_index)
    for ta, tb, slop in [("quick", "fox", 0), ("quick", "fox", 2),
                         ("quick", "brown", 0), ("42", "digits", 1),
                         ("quick", "absent", 3), ("fox", "quick", 1)]:
        want = _span_not_oracle(DOCS, ta, tb, slop)
        got = span_not_topk(s, ta, tb, slop, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (ta, tb, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (ta, tb, slop)
        drv = span_not_topk(s, ta, tb, slop, k=10, distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], (ta, tb, slop)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))


def _span_or_oracle(docs, terms, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        c = sum(1 for t in seq if t in terms)
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_or_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_or_topk

    s = BM25Searcher(spark, pos_index)
    for terms in [["quick", "fox"], ["brown", "dog", "42"],
                  ["quick", "absent"], ["nothing", "digits", "lazy"]]:
        want = _span_or_oracle(DOCS, set(terms))
        got = span_or_topk(s, terms, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], terms
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, terms
        drv = span_or_topk(s, terms, k=10, distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], terms
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))


def test_span_or_rejects_bad_clauses(spark, pos_index):
    from data_prepper_spark.index.phrase import span_or_topk

    s = BM25Searcher(spark, pos_index)
    with pytest.raises(ValueError):
        span_or_topk(s, ["quick", "quick"])
    with pytest.raises(ValueError):
        span_or_topk(s, ["quick brown", "fox"])
    # every clause out-of-vocabulary ⇒ empty, not an error
    assert span_or_topk(s, ["absent", "alsoabsent"], distributed=False) == []


def _span_containing_oracle(docs, ta, tb, tc, slop, k1=1.2, b=0.75):
    """ALL-PAIRS ground truth: anchor pa qualifies iff ∃pb within slop
    and ∃pc with min(pa,pb) ≤ pc ≤ max(pa,pb)."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        pc = [i for i, t in enumerate(seq) if t == tc]
        c = sum(
            1 for a in pa
            if any(
                abs(a - bp) - 1 <= slop
                and any(min(a, bp) <= cp <= max(a, bp) for cp in pc)
                for bp in pb
            )
        )
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def _span_within_oracle(docs, ta, tb, tc, slop, k1=1.2, b=0.75):
    """ALL-PAIRS ground truth: anchor pc qualifies iff ∃(pa, pb) within
    slop with min(pa,pb) ≤ pc ≤ max(pa,pb)."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        pc = [i for i, t in enumerate(seq) if t == tc]
        c = sum(
            1 for cp in pc
            if any(
                abs(a - bp) - 1 <= slop and min(a, bp) <= cp <= max(a, bp)
                for a in pa for bp in pb
            )
        )
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_containing_within_match_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import (
        span_containing_topk,
        span_within_topk,
    )

    s = BM25Searcher(spark, pos_index)
    cases = [("quick", "fox", "brown", 2), ("quick", "fox", "brown", 1),
             ("quick", "dog", "lazy", 4), ("the", "fox", "brown", 3),
             ("quick", "fox", "absent", 2), ("42", "digits", "and", 3)]
    for ta, tb, tc, slop in cases:
        want = _span_containing_oracle(DOCS, ta, tb, tc, slop)
        got = span_containing_topk(s, ta, tb, tc, slop, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (ta, tb, tc, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9
        drv = span_containing_topk(s, ta, tb, tc, slop, k=10,
                                   distributed=False)
        assert drv == got or (
            [d for d, _ in drv] == [d for d, _ in got]
            and all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))
        )
        want_w = _span_within_oracle(DOCS, ta, tb, tc, slop)
        got_w = span_within_topk(s, ta, tb, tc, slop, k=10)
        assert [d for d, _ in got_w] == [d for d, _ in want_w], (ta, tb, tc)
        for (_, gs), (_, ws) in zip(got_w, want_w):
            assert abs(gs - ws) < 1e-9
        drv_w = span_within_topk(s, ta, tb, tc, slop, k=10,
                                 distributed=False)
        assert [d for d, _ in drv_w] == [d for d, _ in got_w]


def test_span_containing_hypothesis_random(spark, pos_index):
    """Randomized adversarial docs: the nearest-neighbor decomposition
    must equal the all-pairs oracle on dense repeated-token streams."""
    import random

    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.phrase import (
        span_containing_topk,
        span_within_topk,
    )

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(40):
        n = rng.randint(3, 30)
        body = " ".join(rng.choice(vocab) for _ in range(n))
        docs.append((f"https://r{i}.example/x", body))
    import os

    pdf = pd.DataFrame({
        "url": [u for u, _ in docs],
        "html": [f"<html><body>{t}</body></html>".encode() for _, t in docs],
        "lang": ["en"] * len(docs),
        "warc_ts": pd.Timestamp("2025-01-01"),
    })
    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.textproc import extract_text

    by_id = [(xxh64_signed(u), extract_text(h))
             for u, h in zip(pdf.url, pdf.html)]
    d = os.path.join("/tmp", "dps_span_rand_idx")
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d + "_corpus")
    cfg = IndexConfig(range_bits=2, block_size=8, n_buckets=4, positions=True)
    build_oneshot(spark, spark.read.parquet(d + "_corpus"), d, cfg)
    s = BM25Searcher(spark, d)
    for slop in (0, 1, 3):
        for ta, tb, tc in [("aa", "bb", "cc"), ("bb", "cc", "dd"),
                           ("aa", "cc", "bb")]:
            want = _span_containing_oracle(by_id, ta, tb, tc, slop)[:10]
            got = span_containing_topk(s, ta, tb, tc, slop, k=10,
                                       distributed=False)
            assert [x for x, _ in got] == [x for x, _ in want], (ta, tb, tc, slop)
            want_w = _span_within_oracle(by_id, ta, tb, tc, slop)[:10]
            got_w = span_within_topk(s, ta, tb, tc, slop, k=10,
                                     distributed=False)
            assert [x for x, _ in got_w] == [x for x, _ in want_w], (ta, tb, tc, slop)


def test_span_near_not_partition(spark, pos_index):
    """For any doc, span_near tf + span_not tf = term A's full tf — the
    two queries partition A's occurrences."""
    from data_prepper_spark.index.phrase import span_near_topk, span_not_topk

    s = BM25Searcher(spark, pos_index)
    ta, tb, slop = "quick", "fox", 2
    full = {d: sum(1 for t in tokenize(txt) if t == ta) for d, txt in DOCS}
    near = {d: c for d, c in _span_near_oracle(DOCS, ta, tb, slop) or []}
    # recover tf from oracles directly
    toks = {d: tokenize(t) for d, t in DOCS}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        n_near = sum(1 for a in pa if any(abs(a - b_) - 1 <= slop for b_ in pb))
        n_not = sum(1 for a in pa if not any(abs(a - b_) - 1 <= slop for b_ in pb))
        assert n_near + n_not == len(pa)


def _span_multi_oracle(docs, prefix, tb, slop, k1=1.2, b=0.75):
    """Brute span_multi(prefix)-in-span_near oracle: an A position is a
    position of ANY token starting with *prefix*; tf = distinct A
    positions with some *tb* position within slop (either order); one
    idf over the composite df."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t.startswith(prefix)]
        pb = [i for i, t in enumerate(seq) if t == tb]
        c = sum(1 for a in pa if any(abs(a - bp) - 1 <= slop for bp in pb))
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_multi_near_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_multi_near_topk

    s = BM25Searcher(spark, pos_index)
    cases = [
        ("qu", "fox", 0), ("qu", "fox", 2), ("b", "fox", 0),
        ("d", "42", 1),          # expansion {dog, digits} near a digit
        ("a", "quick", 3),       # wide expansion {a, and, another, at, all}
        ("4", "42", 0),          # expansion includes tb → self-match
        ("zz", "fox", 1),        # empty expansion → no hits
    ]
    for prefix, tb, slop in cases:
        want = _span_multi_oracle(DOCS, prefix, tb, slop)
        got = span_multi_near_topk(s, prefix, tb, slop, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (prefix, tb, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (prefix, tb, slop)
        drv = span_multi_near_topk(s, prefix, tb, slop, k=10,
                                   distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], (prefix, tb, slop)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))


def _span_near_ordered_oracle(docs, ta, tb, slop, k1=1.2, b=0.75):
    """in_order=true: b must FOLLOW a within the window (pa < pb ≤
    pa + slop + 1); tf = qualifying a-positions."""
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        pa = [i for i, t in enumerate(seq) if t == ta]
        pb = [i for i, t in enumerate(seq) if t == tb]
        c = sum(1 for a in pa if any(a < bp <= a + slop + 1 for bp in pb))
        if c:
            m[d] = c
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


def test_span_near_in_order_matches_brute_oracle(spark, pos_index):
    from data_prepper_spark.index.phrase import span_near_topk

    s = BM25Searcher(spark, pos_index)
    for ta, tb, slop in [("quick", "fox", 0), ("quick", "fox", 2),
                         ("fox", "quick", 2),   # direction now matters
                         ("brown", "quick", 1), ("quick", "brown", 0),
                         ("digits", "42", 0), ("42", "digits", 0)]:
        want = _span_near_ordered_oracle(DOCS, ta, tb, slop)
        got = span_near_topk(s, ta, tb, slop, k=10, in_order=True)
        assert [d for d, _ in got] == [d for d, _ in want], (ta, tb, slop)
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (ta, tb, slop)
        drv = span_near_topk(s, ta, tb, slop, k=10, in_order=True,
                             distributed=False)
        assert [d for d, _ in drv] == [d for d, _ in got], (ta, tb, slop)
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(drv, got))
    # ordered is strictly a subset of unordered matches
    un = dict(span_near_topk(s, "quick", "fox", 2, k=100))
    od = dict(span_near_topk(s, "quick", "fox", 2, k=100, in_order=True))
    assert set(od) <= set(un)


# ------------------------------------------------------------ intervals

def _iv_brute_node(spec, seq):
    """Exhaustive minimal-interval oracle for one doc's token list:
    enumerate EVERY syntactically valid candidate, keep the minimal
    elements (no other candidate properly contained), then gap-filter —
    the definitional semantics the engine's greedy/sweep kernels must
    reproduce.  Returns (set of (s, e), n_leaves)."""
    kind, body = next(iter(spec.items()))
    if kind == "match":
        terms = body["query"].split()
        pos = [[i for i, t in enumerate(seq) if t == w] for w in terms]
        if len(terms) == 1:
            return {(p, p) for p in pos[0]}, 1
        cands = set()
        if body.get("ordered", False):
            def chains(j, last, start):
                if j == len(pos):
                    cands.add((start, last))
                    return
                for p in pos[j]:
                    if p > last:
                        chains(j + 1, p, start)
            for p0 in pos[0]:
                chains(1, p0, p0)
        else:
            import itertools
            for tup in itertools.product(*pos):
                cands.add((min(tup), max(tup)))
        return (_iv_brute_filter(cands, len(terms), body.get("max_gaps")),
                len(terms))
    if kind == "any_of":
        out, nl = set(), set()
        for sub in body["intervals"]:
            r, n = _iv_brute_node(sub, seq)
            out |= r
            nl.add(n)
        assert len(nl) == 1
        return _iv_brute_filter(out, None, None), nl.pop()
    if kind == "all_of":
        subs = [_iv_brute_node(sub, seq) for sub in body["intervals"]]
        n_leaves = sum(n for _, n in subs)
        cands = set()
        assert body.get("ordered", False)

        def chains(j, last, start):
            if j == len(subs):
                cands.add((start, last))
                return
            for (s, e) in subs[j][0]:
                if s > last:
                    chains(j + 1, e, start)
        for (s0, e0) in subs[0][0]:
            chains(1, e0, s0)
        return (_iv_brute_filter(cands, n_leaves, body.get("max_gaps")),
                n_leaves)
    raise AssertionError(kind)


def _iv_brute_filter(cands, n_leaves, max_gaps):
    minimal = {
        c for c in cands
        if not any(c2 != c and c2[0] >= c[0] and c2[1] <= c[1]
                   for c2 in cands)
    }
    if max_gaps is None:
        return minimal
    return {(s, e) for s, e in minimal if e - s + 1 - n_leaves <= max_gaps}


def _iv_oracle(docs, spec, k1=1.2, b=0.75):
    toks = {d: tokenize(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    m = {}
    for d, seq in toks.items():
        if not seq:
            continue
        res, _ = _iv_brute_node(spec, seq)
        if res:
            m[d] = len(res)
    if not m:
        return []
    idf = math.log(1 + (n - len(m) + 0.5) / (len(m) + 0.5))
    scored = [
        (d, idf * c * (k1 + 1) / (c + k1 * (1 - b + b * dls[d] / avgdl)))
        for d, c in m.items()
    ]
    scored.sort(key=lambda x: (-round(x[1], 4), x[0]))
    return scored


_IV_SPECS = [
    {"match": {"query": "quick brown", "ordered": True, "max_gaps": 0}},
    {"match": {"query": "quick fox", "ordered": True, "max_gaps": 3}},
    {"match": {"query": "fox quick", "ordered": False, "max_gaps": 2}},
    {"match": {"query": "the lazy dog", "ordered": True, "max_gaps": 1}},
    {"match": {"query": "quick brown fox", "ordered": False,
               "max_gaps": 4}},
    {"any_of": {"intervals": [
        {"match": {"query": "quick brown", "ordered": True, "max_gaps": 0}},
        {"match": {"query": "lazy dog", "ordered": True, "max_gaps": 0}},
    ]}},
    {"all_of": {"ordered": True, "max_gaps": 5, "intervals": [
        {"match": {"query": "the"}},
        {"match": {"query": "quick brown", "ordered": True, "max_gaps": 1}},
    ]}},
]


def test_intervals_matches_brute_oracle(spark, pos_index):
    """intervals query vs the exhaustive candidate-set oracle
    (minimality before gap filter, bottom-up composition), driver ==
    distributed (index/phrase.py intervals_topk)."""
    from data_prepper_spark.index.phrase import intervals_topk

    s = BM25Searcher(spark, pos_index)
    for spec in _IV_SPECS:
        want = _iv_oracle(DOCS, spec)[:10]
        got = intervals_topk(s, spec, k=10, distributed=False)
        assert [d for d, _ in got] == [d for d, _ in want], spec
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, spec
        dst = intervals_topk(s, spec, k=10, distributed=True)
        assert [d for d, _ in dst] == [d for d, _ in got], spec


def test_intervals_randomized_dense(spark):
    """Adversarial density: repeated-token streams over hash-distributed
    docIDs — greedy chains + sweep windows must equal the exhaustive
    oracle at every composition depth."""
    import os
    import random
    import shutil

    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.phrase import intervals_topk
    from data_prepper_spark.textproc import extract_text

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(40):
        n = rng.randint(3, 25)
        body = " ".join(rng.choice(vocab) for _ in range(n))
        docs.append((f"https://iv{i}.example/x", body))
    pdf = pd.DataFrame({
        "url": [u for u, _ in docs],
        "html": [f"<html><body>{t}</body></html>".encode() for _, t in docs],
        "lang": ["en"] * len(docs),
        "warc_ts": pd.Timestamp("2025-01-01"),
    })
    by_id = [(xxh64_signed(u), extract_text(h))
             for u, h in zip(pdf.url, pdf.html)]
    d = os.path.join("/tmp", "dps_iv_rand_idx")
    shutil.rmtree(d, ignore_errors=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d + "_corpus")
    cfg = IndexConfig(range_bits=2, block_size=8, n_buckets=4, positions=True)
    build_oneshot(spark, spark.read.parquet(d + "_corpus"), d, cfg)
    s = BM25Searcher(spark, d)
    specs = [
        {"match": {"query": "aa bb", "ordered": True, "max_gaps": g}}
        for g in (0, 2, 10)
    ] + [
        {"match": {"query": "aa bb cc", "ordered": True, "max_gaps": 3}},
        {"match": {"query": "cc aa", "ordered": False, "max_gaps": 1}},
        {"match": {"query": "aa bb cc", "ordered": False, "max_gaps": 5}},
        {"any_of": {"intervals": [
            {"match": {"query": "aa bb", "ordered": True, "max_gaps": 0}},
            {"match": {"query": "cc dd", "ordered": True, "max_gaps": 0}},
        ]}},
        {"all_of": {"ordered": True, "max_gaps": 6, "intervals": [
            {"match": {"query": "dd"}},
            {"match": {"query": "aa cc", "ordered": True, "max_gaps": 2}},
        ]}},
    ]
    for spec in specs:
        want = _iv_oracle(by_id, spec)[:10]
        got = intervals_topk(s, spec, k=10, distributed=False)
        assert [d_ for d_, _ in got] == [d_ for d_, _ in want], spec
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, spec


def test_intervals_validation(spark, pos_index):
    from data_prepper_spark.index.phrase import intervals_topk

    s = BM25Searcher(spark, pos_index)
    with pytest.raises(ValueError):
        intervals_topk(s, {"match": {"query": "quick quick",
                                     "ordered": False}})
    with pytest.raises(ValueError):
        intervals_topk(s, {"nope": {}})
    with pytest.raises(ValueError):
        intervals_topk(s, {"all_of": {"ordered": False, "intervals": [
            {"match": {"query": "quick brown", "ordered": True}},
            {"match": {"query": "fox"}},
        ]}})
    # absent term in a required slot -> empty
    assert intervals_topk(
        s, {"match": {"query": "quick zzzmissing", "ordered": True}},
        distributed=False) == []
