"""The seeded generator: same seed, same inputs; another seed, different
inputs of the same shape."""

import numpy as np
import pandas as pd

from perfbench import gen

COUNTS = {"match": 20, "bool": 12, "filtered": 8, "sqs": 4}


def _inputs(seed):
    c = gen.Corpus(seed)
    pages = c.pages(range(200), [0] * 200, 0)
    plan = gen.batch_plan(seed, 200, 3, 40, 0.25)
    queries = gen.query_stream(seed, COUNTS, 200)
    return pages, plan, queries


def _shape(q):
    if q["family"] == "bool":
        return ("bool", len(q["must"]), len(q["should"]), len(q["must_not"]))
    if q["family"] == "filtered":
        return ("filtered", len(q["q"].split()), tuple(f[2] for f in q["filters"]))
    return (q["family"], len(q["q"].split()))


def test_same_seed_same_inputs():
    p1, b1, q1 = _inputs(5)
    p2, b2, q2 = _inputs(5)
    pd.testing.assert_frame_equal(p1, p2)
    assert q1 == q2
    for x, y in zip(b1, b2):
        np.testing.assert_array_equal(x.idx, y.idx)
        np.testing.assert_array_equal(x.revs, y.revs)


def test_other_seed_differs_with_same_shape():
    p1, b1, q1 = _inputs(5)
    p2, b2, q2 = _inputs(6)
    assert not p1["html"].equals(p2["html"])
    assert q1 != q2
    assert [_shape(q) for q in q1] == [_shape(q) for q in q2]
    assert len(p1) == len(p2)
    assert [len(b.idx) for b in b1] == [len(b.idx) for b in b2]
    assert not all(np.array_equal(x.upsert_idx, y.upsert_idx) for x, y in zip(b1, b2))


def test_stream_counts_and_interleaving():
    qs = gen.query_stream(3, COUNTS, 1000)
    fams = [q["family"] for q in qs]
    assert {f: fams.count(f) for f in COUNTS} == COUNTS
    # every quarter of the stream holds each family
    for part in np.array_split(np.array(fams), 4):
        assert set(part) == set(COUNTS)


def test_upserts_revise_earlier_english_docs():
    seed = 9
    plan = gen.batch_plan(seed, 300, 4, 50, 0.2)
    seen = set(range(300))
    rev = {}
    for b in plan:
        assert len(b.idx) == 50 and len(b.upsert_idx) == 10
        assert set(b.upsert_idx.tolist()) <= seen
        assert gen.is_english(b.upsert_idx, seed).all()
        for i, r in zip(b.upsert_idx.tolist(), b.upsert_rev.tolist()):
            assert r == rev.get(i, 0) + 1
            rev[i] = r
        seen |= set(b.new_idx.tolist())


def test_pages_carry_one_marker_per_revision():
    c = gen.Corpus(4)
    pages = c.pages([7, 8], [0, 3], 1)
    texts = [h.decode() for h in pages["html"]]
    assert "k7r0" in texts[0] and "k8r3" in texts[1]
    assert "k8r3" not in texts[0]
    words = set(gen.vocabulary(4).tolist())
    assert len(words) == gen.VOCAB_SIZE
    assert all(w.isalpha() for w in words)


def test_run_counts_draw_every_pattern_equally():
    from perfbench.run import BURST_COUNTS, SERVE_COUNTS

    for fam, pats in gen.PATTERNS.items():
        assert len(pats) % 2 == 1
        for counts in (SERVE_COUNTS, BURST_COUNTS):
            assert counts[fam] % len(pats) == 0
