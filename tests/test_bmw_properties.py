"""Property tests of block-max WAND (scoring.score_bmw) on random posting
chains: its top-k equals score_brute + topk_select bit for bit, and its
batch schedule bounds the number of scoring passes one call makes."""

import math
from unittest import mock

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from data_prepper_spark.index import scoring
from data_prepper_spark.index.build import encode_slice_fn
from data_prepper_spark.index.scoring import (
    decode_slice,
    decode_slice_lazy,
    score_bmw,
    score_brute,
    topk_select,
)

K1, B, AVGDL = 1.2, 0.75, 120.0


def _rows(rng, codec: str, bs: int, n_docs: int, n_terms: int, range_bits):
    """Encoded posting rows of len(range_bits) disjoint sources over one
    doc space, as a merged index holds them: each source with its own
    range_bits, so same-term slices of one range interleave by docID and
    range_id order is not docID order across sources."""
    vec = encode_slice_fn(AVGDL, K1, B, block_size=bs, codec=codec)
    docs = np.unique(rng.integers(-(2**63), 2**63 - 1, size=n_docs, dtype=np.int64))
    src = rng.integers(0, len(range_bits), size=docs.size)
    dl = rng.integers(20, 400, size=docs.size).astype(np.int64)
    p = np.sort(rng.choice([0.9, 0.5, 0.2, 0.05, 0.01, 0.002], size=n_terms))[::-1]
    hit = rng.random((docs.size, n_terms)) < p
    d_i, t_i = np.nonzero(hit)
    tok = pd.DataFrame({
        "term_id": (t_i * 7919 - 50).astype(np.int64),
        "doc_id": docs[d_i],
        "tf": rng.integers(1, 20, size=d_i.size).astype(np.int64),
        "dl": dl[d_i],
        "src": src[d_i],
    })
    rows = []
    for s_id, rb in enumerate(range_bits):
        part = tok[tok["src"] == s_id].drop(columns="src")
        rid = (
            (part["doc_id"].to_numpy() >> (64 - rb)) + (1 << (rb - 1))
            if rb else np.zeros(len(part), np.int64)
        )
        part = part.assign(range_id=rid.astype(np.int32))
        for _, grp in part.groupby("range_id"):
            rows.extend(vec(grp.reset_index(drop=True)).to_dict("records"))
    return docs, rows


def _slices(rows, idf, forms, bs, scale):
    """One slice per row, of the drawn form: decoded, lazy, lazy with a
    promoted doc stream, or lazy with all three streams promoted (the
    memo-backed read).  Block bounds inflated by *scale*."""
    out = []
    for r, form in zip(rows, forms):
        tid = int(r["term_id"])
        if form == "decoded":
            s = decode_slice(r, idf[tid], label=f"t{tid}")
        else:
            s = decode_slice_lazy(dict(r), idf[tid], bs, f"t{tid}")
            if form != "lazy":
                s.doc_s.decode_all()
            if form == "memo":
                s.tf_s.decode_all()
                s.dl_s.decode_all()
        if scale != 1.0:
            s.block_ubs = s.block_ubs.astype(np.float64) * scale
        out.append(s)
    return out


def _segment_count(slices, passes) -> int:
    """Distinct BMW segments holding the docs of the given scoring
    passes.  Every segment starts at a posting (a block's first docID),
    so each segment the kernel consumed shows up in its pass."""
    live = [s for s in slices if s.n]
    bounds = np.unique(np.concatenate([s.block_firsts for s in live]))
    docs = np.concatenate([s.doc_ids for p in passes for s in p] or [np.empty(0, np.int64)])
    return np.unique(np.searchsorted(bounds, docs, side="right") - 1).size


@settings(max_examples=50, deadline=None)
@given(data=st.data())
def test_bmw_equals_brute(data):
    """score_bmw over random chains (varint and pfor, lazy and decoded
    members, interleaved same-range sources) with random k, ``allowed``,
    ``deny``, a finite ``theta0`` and inflated bounds returns the exact
    top-k of brute scoring, bit for bit, on every doc that can enter the
    global top-k (score >= theta0), cold and again on the streams its
    first call promoted.  One call scores S segments in at most
    ceil(log2(S + 1)) passes, then at most one brute pass after the
    BMW_MAX_SEG guard."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1), label="seed"))
    codec = data.draw(st.sampled_from(["varint", "pfor"]), label="codec")
    bs = data.draw(st.sampled_from([4, 8, 16]), label="block_size")
    n_terms = data.draw(st.integers(1, 5), label="terms")
    range_bits = data.draw(st.lists(st.integers(0, 3), min_size=1, max_size=3),
                           label="range_bits")
    docs, rows = _rows(rng, codec, bs, data.draw(st.integers(1, 1500), label="docs"),
                       n_terms, range_bits)
    if not rows:
        return
    tids = sorted({int(r["term_id"]) for r in rows})
    idf = {t: float(rng.uniform(0.2, 3.0)) for t in tids}
    forms = data.draw(st.lists(st.sampled_from(["decoded", "lazy", "doc", "memo"]),
                               min_size=len(rows), max_size=len(rows)), label="forms")
    k = data.draw(st.sampled_from([1, 3, 10, 10**6]), label="k")
    q_avgdl = AVGDL * data.draw(st.sampled_from([1.0, 1.25]), label="avgdl_x")
    scale = q_avgdl / AVGDL * (1 + 1e-9) * data.draw(
        st.sampled_from([1.0, 1.0, 1.5]), label="inflate")
    allowed = deny = None
    if data.draw(st.booleans(), label="filter"):
        allowed = np.sort(docs[rng.random(docs.size) < rng.uniform(0.05, 0.9)])
    if data.draw(st.booleans(), label="tombstones"):
        deny = np.sort(docs[rng.random(docs.size) < rng.uniform(0.01, 0.5)])

    eager = [decode_slice(r, idf[int(r["term_id"])], label=f"t{int(r['term_id'])}")
             for r in rows]
    ids, sc = score_brute(eager, K1, B, q_avgdl)
    live = np.ones(ids.size, dtype=bool)
    if allowed is not None:
        live &= np.isin(ids, allowed)
    if deny is not None:
        live &= ~np.isin(ids, deny)
    theta0 = -np.inf
    how = data.draw(st.sampled_from(["none", "kth", "score", "above"]), label="theta0")
    if how != "none" and live.any():
        top = topk_select(ids[live], sc[live], k)[1]
        theta0 = {"kth": top[-1], "score": rng.choice(sc[live]),
                  "above": top[0] * 1.01}[how]
    want = topk_select(ids[live], sc[live], k)
    want = want[0][want[1] >= theta0], want[1][want[1] >= theta0]

    max_seg = data.draw(st.sampled_from([1, 2, 4, 16]), label="BMW_MAX_SEG")
    slices = _slices(rows, idf, forms, bs, scale)
    for _ in range(2):  # the second call reads what the first promoted
        passes, fallback = [], []  # score_brute inputs before / after the guard
        real_brute, real_fallback = scoring.score_brute, scoring._brute_topk

        def brute(sub, *a):
            (fallback if fallback else passes).append(list(sub))
            return real_brute(sub, *a)

        def concede(*a):
            fallback.append("guard")
            return real_fallback(*a)

        with mock.patch.object(scoring, "score_brute", brute), \
                mock.patch.object(scoring, "_brute_topk", concede), \
                mock.patch.object(scoring, "BMW_MAX_SEG", max_seg):
            got = score_bmw(slices, K1, B, q_avgdl, k, allowed=allowed,
                            theta0=theta0, deny=deny)
        got = got[0][got[1] >= theta0], got[1][got[1] >= theta0]
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])

        assert len(fallback) <= 2  # the guard, then one brute pass
        if allowed is None:  # every consumed segment then reaches a pass
            n_seg = _segment_count(slices, passes)
            assert len(passes) <= math.ceil(math.log2(n_seg + 1))
            assert n_seg <= 2 * max_seg - 1
            assert not fallback or n_seg >= max_seg
