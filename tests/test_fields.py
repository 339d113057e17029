"""Multi-field search correctness vs a pure-Python per-field BM25 oracle
— Lucene per-field term space + MultiFieldQueryParser OR semantics
(index/fields.py)."""

import math
import tempfile

import pytest

from data_prepper_spark.index.build import build_oneshot_fields
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.fields import search_fields
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.textproc import tokenize

K1, B = 1.2, 0.75

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick spark index build with the quick merge"),
    (3, "a lazy table scan joins the data stream"),
    (4, "spark spark spark index index merge"),
    (5, "the fox and the dog and the fox again"),
    (6, "data query window agg sort filter hash join"),
    (7, "tiny doc"),
    (8, "the quick data index inside a long body of text about tables"),
]
HEAD_LEN = 20


def _fields_of(text):
    return {"body": text, "head": text[:HEAD_LEN]}


class _Oracle:
    def __init__(self):
        self.post = {}      # (field, term) -> {doc: tf}
        self.fdl = {}       # (field, doc) -> dl
        self.fstats = {}    # field -> (n_docs, avgdl)
        for doc, text in DOCS:
            for f, ftext in _fields_of(text).items():
                toks = tokenize(ftext)
                if not toks:
                    continue
                self.fdl[(f, doc)] = len(toks)
                for t in toks:
                    self.post.setdefault((f, t), {}).setdefault(doc, 0)
                    self.post[(f, t)][doc] += 1
        for f in ("body", "head"):
            dls = [v for (ff, _), v in self.fdl.items() if ff == f]
            self.fstats[f] = (len(dls), sum(dls) / len(dls))

    def topk(self, field_queries, boosts=None, k=10):
        boosts = boosts or {}
        clauses = sorted(
            {(f, t) for f, q in field_queries.items() for t in tokenize(q)},
            key=lambda ft: f"{ft[0]}:{ft[1]}",  # namespaced-term order
        )
        scores = {}
        for f, t in clauses:
            plist = self.post.get((f, t))
            if not plist:
                continue
            n_f, avgdl_f = self.fstats[f]
            idf = math.log(1 + (n_f - len(plist) + 0.5) / (len(plist) + 0.5))
            idf *= boosts.get(f, 1.0)
            for d, tf in plist.items():
                dl = self.fdl[(f, d)]
                denom = tf + K1 * (1 - B + B * dl / avgdl_f)
                scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1) / denom
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]


@pytest.fixture(scope="module")
def fields_index(spark):
    d = tempfile.mkdtemp(prefix="dps_test_fieldsidx_")
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cfg = IndexConfig(range_bits=2, block_size=4, n_buckets=4)
    build_oneshot_fields(
        spark, docs, d, cfg,
        fields={"body": "text", "head": F.substring("text", 1, HEAD_LEN)},
    )
    return d


CASES = [
    ({"body": "spark index"}, {}),
    ({"head": "the quick"}, {}),
    ({"body": "fox", "head": "data"}, {}),
    ({"body": "the data", "head": "spark"}, {"head": 4.0, "body": 0.5}),
    ({"body": "absenttoken"}, {}),
]


def test_fields_driver_matches_oracle(spark, fields_index):
    s = BM25Searcher(spark, fields_index)
    oracle = _Oracle()
    # the engine's per-field stats equal the oracle's
    for f, (n, a) in oracle.fstats.items():
        assert s.field_stats[f]["n_docs"] == n
        assert abs(s.field_stats[f]["avgdl"] - a) < 1e-9
    for fq, boosts in CASES:
        want = oracle.topk(fq, boosts)
        got = search_fields(s, fq, k=10, field_boosts=boosts)
        assert [d for d, _ in got] == [d for d, _ in want], fq
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, fq


def test_fields_distributed_matches_driver(spark, fields_index):
    s = BM25Searcher(spark, fields_index)
    for fq, boosts in CASES[:4]:
        drv = search_fields(s, fq, k=10, field_boosts=boosts)
        dst = search_fields(s, fq, k=10, field_boosts=boosts, distributed=True)
        assert [d for d, _ in dst] == [d for d, _ in drv], fq
        assert all(abs(x - y) < 1e-12 for (_, x), (_, y) in zip(dst, drv)), fq


def test_fields_errors(spark, fields_index, tiny_index):
    s = BM25Searcher(spark, fields_index)
    with pytest.raises(ValueError):
        search_fields(s, {"title": "x"})  # unknown field
    s_plain = BM25Searcher(spark, tiny_index[0])
    with pytest.raises(ValueError):
        search_fields(s_plain, {"body": "x"})  # not a fields index


def test_fields_per_field_length_norm(spark, fields_index):
    """The same token scores differently per field: doc 8 has 'data' in
    both body (long field) and head (short field) — the head clause must
    contribute more (shorter dl, smaller avgdl field)."""
    s = BM25Searcher(spark, fields_index)
    body_only = dict(search_fields(s, {"body": "data"}, k=10))
    head_only = dict(search_fields(s, {"head": "data"}, k=10))
    assert 8 in body_only and 8 in head_only
    assert head_only[8] != body_only[8]
    both = dict(search_fields(s, {"body": "data", "head": "data"}, k=10))
    assert abs(both[8] - (body_only[8] + head_only[8])) < 1e-9


def test_fields_merge_identity(spark, fields_index):
    """Two parity-split fields indexes merged == the full fields build:
    per-field stats (stored as additive sums) combine exactly, and every
    multi-field query is rank- and score-identical."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.merge import merge_indexes

    halves = []
    for par in (0, 1):
        d = tempfile.mkdtemp(prefix=f"dps_test_fieldshalf{par}_")
        docs = spark.createDataFrame(
            [r for r in DOCS if r[0] % 2 == par], "doc_id long, text string"
        )
        build_oneshot_fields(
            spark, docs, d, IndexConfig(range_bits=2, block_size=4, n_buckets=4),
            fields={"body": "text", "head": F.substring("text", 1, HEAD_LEN)},
        )
        halves.append(d)
    merged = tempfile.mkdtemp(prefix="dps_test_fieldsmerged_")
    merge_indexes(spark, halves, merged)
    s_m = BM25Searcher(spark, merged)
    s_f = BM25Searcher(spark, fields_index)
    assert s_m.field_stats == s_f.field_stats
    for fq, boosts in CASES:
        got = search_fields(s_m, fq, k=10, field_boosts=boosts)
        want = search_fields(s_f, fq, k=10, field_boosts=boosts)
        assert got == want, fq
    # a tombstoned copy of the merged index: driver == distributed == the
    # oracle without the deleted docs (full-index stats kept); dis-max too
    import shutil

    from data_prepper_spark.index.deletes import delete_docs
    from data_prepper_spark.index.fields import search_dismax

    tomb = tempfile.mkdtemp(prefix="dps_test_fieldstomb_")
    shutil.rmtree(tomb)
    shutil.copytree(merged, tomb)
    gone = {2, 5}
    delete_docs(tomb, sorted(gone))
    s_t = BM25Searcher(spark, tomb)
    oracle = _Oracle()
    for fq, boosts in CASES:
        want = [kv for kv in oracle.topk(fq, boosts, k=10**9)
                if kv[0] not in gone][:10]
        for dist in (False, True):
            got = search_fields(s_t, fq, k=10, field_boosts=boosts,
                                distributed=dist)
            assert [d for d, _ in got] == [d for d, _ in want], (fq, dist)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (fq, dist)
        if len(fq) > 1:
            drv = search_dismax(s_t, fq, k=10, tie_breaker=0.3)
            assert not gone & {d for d, _ in drv}, fq
            dst = search_dismax(s_t, fq, k=10, tie_breaker=0.3,
                                distributed=True)
            assert [d for d, _ in dst] == [d for d, _ in drv], fq
            assert all(abs(x - y) < 1e-12
                       for (_, x), (_, y) in zip(dst, drv)), fq


def test_fields_index_refuses_drops(spark):
    """A fields index cannot lose docs in a purge or merge: docmeta
    stores no per-field lengths, so fields_json could not be recomputed
    exactly — the merge raises a ValueError naming fields_json instead of
    silently writing stats without it.  A merge that drops nothing still
    sums fields_json (test_fields_merge_identity)."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.deletes import delete_docs, purge_deletes
    from data_prepper_spark.index.merge import merge_indexes

    d = tempfile.mkdtemp(prefix="dps_test_fieldsdrop_")
    build_oneshot_fields(
        spark, spark.createDataFrame(DOCS, "doc_id long, text string"), d,
        IndexConfig(range_bits=2, block_size=4, n_buckets=4),
        fields={"body": "text", "head": F.substring("text", 1, HEAD_LEN)},
    )
    with pytest.raises(ValueError, match="fields_json"):
        merge_indexes(spark, [d], tempfile.mkdtemp(), drop=[[3]])
    delete_docs(d, [3])
    with pytest.raises(ValueError, match="fields_json"):
        purge_deletes(spark, d, tempfile.mkdtemp())


def test_fields_phrase_scoped(spark):
    """Field-scoped phrase queries on a positional fields index: the
    phrase must match within ONE field (field-local positions), scored
    with that field's docCount/avgFieldLength — Lucene's field-qualified
    PhraseQuery."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.phrase import phrase_topk

    d = tempfile.mkdtemp(prefix="dps_test_fieldsphrase_")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cfg = IndexConfig(range_bits=2, block_size=4, n_buckets=4, positions=True)
    build_oneshot_fields(
        spark, docs, d, cfg,
        fields={"body": "text", "head": F.substring("text", 1, HEAD_LEN)},
    )
    s = BM25Searcher(spark, d)
    oracle = _Oracle()

    def phrase_oracle(field, phrase, k=10):
        terms = tokenize(phrase)
        matches = {}
        for doc, text in DOCS:
            toks = tokenize(_fields_of(text)[field])
            tfp = sum(
                1 for i in range(len(toks) - len(terms) + 1)
                if toks[i : i + len(terms)] == terms
            )
            if tfp:
                matches[doc] = (tfp, len(toks))
        if not matches:
            return []
        n_f, avgdl_f = oracle.fstats[field]
        idf = math.log(1 + (n_f - len(matches) + 0.5) / (len(matches) + 0.5))
        scores = {
            doc: idf * tfp * (K1 + 1) / (tfp + K1 * (1 - B + B * dl / avgdl_f))
            for doc, (tfp, dl) in matches.items()
        }
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for field, phrase in [
        ("body", "quick brown"), ("head", "the quick"), ("body", "spark index"),
        ("head", "spark index"),  # not inside any head
        ("body", "the quick brown fox"),
    ]:
        want = phrase_oracle(field, phrase)
        for dist in (False, True):
            got = phrase_topk(s, phrase, k=10, field=field, distributed=dist)
            assert [x for x, _ in got] == [x for x, _ in want], (field, phrase, dist)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-6, (field, phrase, dist)
    with pytest.raises(ValueError):
        phrase_topk(s, "quick brown", field="title")


def test_dismax_matches_oracle(spark, fields_index):
    """DisjunctionMaxQuery: best field + tie_breaker × rest; tie=1.0
    degenerates to the summing search_fields."""
    from data_prepper_spark.index.fields import search_dismax

    s = BM25Searcher(spark, fields_index)
    oracle = _Oracle()

    def dismax_oracle(fq, tie, k=10):
        per_doc = {}
        for f in sorted(fq):
            fs = dict(oracle.topk({f: fq[f]}, k=10**9))
            for d, sc in fs.items():
                per_doc.setdefault(d, {})[f] = sc
        scores = {
            d: max(v.values()) + tie * (sum(v.values()) - max(v.values()))
            for d, v in per_doc.items()
        }
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for fq in [{"body": "spark index", "head": "spark"},
               {"body": "the data", "head": "the quick"}]:
        for tie in (0.0, 0.3):
            want = dismax_oracle(fq, tie)
            got = search_dismax(s, fq, k=10, tie_breaker=tie)
            assert [d for d, _ in got] == [d for d, _ in want], (fq, tie)
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (fq, tie)
        # tie=1.0 == summing semantics
        summed = search_fields(s, fq, k=10)
        dm1 = search_dismax(s, fq, k=10, tie_breaker=1.0)
        assert [d for d, _ in dm1] == [d for d, _ in summed]
        assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(dm1, summed))
        dst = search_dismax(s, fq, k=10, tie_breaker=0.3, distributed=True)
        drv = search_dismax(s, fq, k=10, tie_breaker=0.3)
        assert [d for d, _ in dst] == [d for d, _ in drv]
