"""JSON query-DSL dispatcher (index/dsl.py): every supported body
routes to the engine function that already serves it — each case pins
search_dsl(body) == the direct call, so the JSON surface inherits the
oracle-pinned semantics with no scoring code of its own."""

import os

import pytest

from data_prepper_spark.index.dsl import search_dsl
from data_prepper_spark.index.query import BM25Searcher


@pytest.fixture(scope="module")
def pos_dir(spark, tiny_corpus_path, workdir):
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    from pyspark.sql import functions as F

    d = os.path.join(workdir, "index_dsl_pos")
    pages = spark.read.parquet(tiny_corpus_path).withColumn(
        "n_chars", F.length("text"))
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8,
                      positions=True)
    build_oneshot(spark, pages, d, cfg, field_cols=("lang", "n_chars"))
    return d


def test_dsl_match_and_bool(spark, pos_dir):
    from data_prepper_spark.index.boolquery import search_bool

    s = BM25Searcher(spark, pos_dir)
    assert search_dsl(s, {"query": {"match": {"body": "the data"}}}) == \
        search_bool(s, should=["the", "data"], k=10, tie_round=4)
    assert search_dsl(
        s, {"query": {"match": {"body": {"query": "the data",
                                         "operator": "and"}}}, "size": 7}
    ) == search_bool(s, must=["the", "data"], k=7, tie_round=4)
    body = {"query": {"bool": {
        "must": [{"match": {"body": "the"}}],
        "should": [{"match": {"body": {"query": "data", "boost": 2.0}}},
                   {"match": {"body": "search"}}],
        "must_not": [{"match": {"body": "engine"}}],
        "minimum_should_match": 1,
    }}}
    assert search_dsl(s, body) == search_bool(
        s, must=["the"], should=["data", "search"], must_not=["engine"],
        k=10, tie_round=4, boosts={"data": 2.0}, minimum_should_match=1)


def test_dsl_filter_context(spark, pos_dir):
    from data_prepper_spark.index.filtered import (
        search_constant_score,
        search_filtered,
        search_ids,
    )

    s = BM25Searcher(spark, pos_dir)
    body = {"query": {"bool": {
        "should": [{"match": {"body": "the data"}}],
        "filter": [{"term": {"lang": "en"}},
                   {"range": {"n_chars": {"gte": 100}}}],
    }}}
    assert search_dsl(s, body) == search_filtered(
        s, "the data", [("lang", "==", "en"), ("n_chars", ">=", 100)],
        k=10, tie_round=4)
    cs = {"query": {"constant_score": {
        "filter": {"bool": {"must": [{"match": {"body": "the"}}],
                            "filter": [{"exists": {"field": "lang"}}]}},
        "boost": 3.0,
    }}}
    assert search_dsl(s, cs) == search_constant_score(
        s, "the", [("lang", "exists", None)], boost=3.0, k=10)
    ids = [d for d, _ in search_dsl(s, {"query": {"match": {"body": "the"}},
                                        "size": 3})]
    assert search_dsl(s, {"query": {"ids": {"values": ids}}}) == \
        search_ids(s, ids, k=10)
    # match_all: doc_id ASC at 1.0
    ma = search_dsl(s, {"query": {"match_all": {}}, "size": 5})
    assert len(ma) == 5 and all(sc == 1.0 for _, sc in ma)
    assert [d for d, _ in ma] == sorted(d for d, _ in ma)


def test_dsl_positional_and_expansions(spark, pos_dir):
    from data_prepper_spark.index.boolquery import (
        search_fuzzy,
        search_more_like_this,
        search_prefix,
        search_wildcard,
    )
    from data_prepper_spark.index.phrase import intervals_topk, phrase_topk

    s = BM25Searcher(spark, pos_dir)
    assert search_dsl(
        s, {"query": {"match_phrase": {"body": {"query": "the data",
                                                "slop": 1}}}}
    ) == phrase_topk(s, "the data", slop=1, k=10, tie_round=4)
    spec = {"match": {"query": "the data", "ordered": True, "max_gaps": 2}}
    assert search_dsl(s, {"query": {"intervals": {"body": spec}}}) == \
        intervals_topk(s, spec, k=10, tie_round=4)
    assert search_dsl(
        s, {"query": {"fuzzy": {"body": {"value": "hte", "fuzziness": 1,
                                         "transpositions": True}}}}
    ) == search_fuzzy(s, "hte", k=10, max_edits=1, transpositions=True,
                      tie_round=4)
    assert search_dsl(s, {"query": {"prefix": {"body": "dat"}}}) == \
        search_prefix(s, "dat", k=10, tie_round=4)
    assert search_dsl(s, {"query": {"wildcard": {"body": "d?ta"}}}) == \
        search_wildcard(s, "d?ta", k=10, tie_round=4)
    assert search_dsl(
        s, {"query": {"more_like_this": {"like": "the data search engine",
                                         "max_query_terms": 5}}}
    ) == search_more_like_this(s, "the data search engine", k=10,
                               max_query_terms=5, tie_round=4)


def test_dsl_scoring_shapes(spark, pos_dir):
    from data_prepper_spark.index.filtered import (
        search_function_score,
        search_rank_feature,
        search_script_score,
    )

    s = BM25Searcher(spark, pos_dir)
    rf = {"query": {"bool": {
        "must": [{"match": {"body": "the data"}}],
        "should": [{"rank_feature": {"field": "n_chars",
                                     "saturation": {"pivot": 50},
                                     "boost": 2.0}}],
    }}}
    assert search_dsl(s, rf) == search_rank_feature(
        s, "the data", "n_chars", {"saturation": {"pivot": 50},
                                   "boost": 2.0}, k=10, tie_round=4)
    fs = {"query": {"function_score": {
        "query": {"match": {"body": "the data"}},
        "field_value_factor": {"field": "n_chars", "factor": 0.1,
                               "modifier": "log1p"},
        "boost_mode": "multiply",
    }}}
    assert search_dsl(s, fs) == search_function_score(
        s, "the data", "n_chars",
        {"field_value_factor": {"factor": 0.1, "modifier": "log1p"}},
        k=10, combine="multiply", tie_round=4)
    ss = {"query": {"script_score": {
        "query": {"match": {"body": "the data"}},
        "script": {"source":
                   "_score * (1 + ln(1 + doc['n_chars'].value / 100))"},
    }}}
    assert search_dsl(s, ss) == search_script_score(
        s, "the data",
        "_score * (1 + ln(1 + doc['n_chars'].value / 100))",
        k=10, tie_round=4)


def test_dsl_fuzzy_transpositions_default_true(spark, pos_dir):
    """OpenSearch's fuzzy query counts a transposition as one edit unless
    the body says otherwise: "hte" is one edit from "the" only then."""
    from data_prepper_spark.index.boolquery import search_fuzzy

    s = BM25Searcher(spark, pos_dir)
    got = search_dsl(
        s, {"query": {"fuzzy": {"body": {"value": "hte", "fuzziness": 1}}}})
    assert got == search_fuzzy(s, "hte", k=10, max_edits=1,
                               transpositions=True, tie_round=4)
    assert got != search_fuzzy(s, "hte", k=10, max_edits=1,
                               transpositions=False, tie_round=4)


def test_dsl_rank_feature_leaves_body_intact(spark, pos_dir):
    """Dispatching a rank_feature body must not mutate it: the same dict
    dispatched twice gives the same hits."""
    import copy

    s = BM25Searcher(spark, pos_dir)
    rf = {"query": {"bool": {
        "must": [{"match": {"body": "the data"}}],
        "should": [{"rank_feature": {"field": "n_chars",
                                     "saturation": {"pivot": 50}}}],
    }}}
    before = copy.deepcopy(rf)
    first = search_dsl(s, rf)
    assert rf == before
    assert search_dsl(s, rf) == first


def test_dsl_rejections(spark, pos_dir):
    s = BM25Searcher(spark, pos_dir)
    for bad in [
        {"query": {"nope": {}}},
        {"size": 5},
        {"query": {"bool": {"must": [{"match": {"body": "the"}}],
                            "filter": [{"term": {"lang": "en"}}]}}},
        {"query": {"bool": {"must": [{"match_phrase": {"body": "x y"}}]}}},
        {"query": {"constant_score": {"filter": {"wildcard": {"b": "x*"}}}}},
    ]:
        with pytest.raises(ValueError):
            search_dsl(s, bad)


def test_dsl_sort_context(spark, pos_dir):
    from data_prepper_spark.index.filtered import search_sorted

    s = BM25Searcher(spark, pos_dir)
    body = {"query": {"match": {"body": "the data"}},
            "sort": [{"n_chars": {"order": "desc"}}], "size": 8}
    assert search_dsl(s, body) == search_sorted(
        s, "the data", "n_chars", k=8, ascending=False)
    fb = {"query": {"bool": {
        "should": [{"match": {"body": "the"}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "sort": {"n_chars": {}}}
    assert search_dsl(s, fb) == search_sorted(
        s, "the", "n_chars", k=10, ascending=True,
        filters=[("lang", "==", "en")])
    with pytest.raises(ValueError):
        search_dsl(s, {"query": {"prefix": {"body": "da"}},
                       "sort": {"n_chars": {}}})
