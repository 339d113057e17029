"""Lucene classic ``query_string`` parsing + evaluation over the BM25 core.

The reference routes queries to OpenSearch (opensearch sink, SURVEY
§2.10); the ``query_string`` DSL is how users actually type queries
against it.  Supported subset — the classic QueryParser
required/prohibited model over this engine's primitives:

    clause := [+|-] body [^boost]
    body   := '"' tokens '"' [~slop]      exact / ordered-proximity phrase
            | token '*'                   prefix (dictionary expansion)
            | token '~' edits             fuzzy (Levenshtein expansion)
            | token                       term
    +      -> must (required, scoring)
    -      -> must_not (prohibited, non-scoring)
    (none) -> should

Semantics are Lucene BooleanQuery with SCORING_BOOLEAN_REWRITE for the
multi-term clauses: score(doc) = Σ over matched scoring clauses; each
prefix/fuzzy expansion scores with its OWN idf; a phrase scores BM25 on
its phrase-tf with phrase-df idf (exactly phrase_topk's model).  A boost
multiplies the clause contribution.  Ranking uses the SQL-oracle tie
rule (round(score, tie_round) DESC, doc_id ASC).

Scale shape (distributed=True): one bounded DataFrame per clause —
term-family clauses run the per-docID-range applyInPandas scoring kernel
(only (doc, clause-score) partials leave a range), phrases reuse
phrase_matches' per-range positional kernel — unioned and folded by ONE
groupBy(doc_id) (sum of clause scores + count of matched musts), must_not
sets applied as left-anti joins, global TakeOrdered.  Shuffle traffic is
bounded by the match-set sizes, never the corpus.  Expansion sets are
vocabulary-bounded (termstats scans), never corpus-bounded.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hashing import pmod, xxh64_signed
from .scoring import (
    _member_sorted,
    idf_value,
    score_brute,
    term_views,
    view_slices,
)

# [+|-] then a quoted phrase [~slop] or a token [* | ~edits], then [^boost]
_CLAUSE_RX = re.compile(
    r'([+-]?)'
    r'(?:"([^"]*)"(?:~(\d+))?'
    r"|([a-z0-9]+)(\*)?(?:~(\d+))?"
    r")(?:\^(\d+(?:\.\d+)?))?"
)


@dataclass(frozen=True)
class Clause:
    occur: str   # 'must' | 'should' | 'must_not'
    kind: str    # 'term' | 'prefix' | 'fuzzy' | 'phrase'
    text: str    # the term, prefix, or phrase text
    boost: float = 1.0
    slop: int = 0
    edits: int = 0


def parse_query_string(q: str) -> list[Clause]:
    """Parse the supported query_string subset (input is lowercased —
    the index's tokens are lowercase, QueryParser's analyzer step)."""
    out = []
    for m in _CLAUSE_RX.finditer(q.lower()):
        sign, phrase, slop, term, star, edits, boost = m.groups()
        occur = (
            "must" if sign == "+" else "must_not" if sign == "-" else "should"
        )
        b = float(boost) if boost else 1.0
        if phrase is not None:
            out.append(Clause(occur, "phrase", phrase, b, slop=int(slop or 0)))
        elif star:
            out.append(Clause(occur, "prefix", term, b))
        elif edits is not None:
            out.append(Clause(occur, "fuzzy", term, b, edits=int(edits)))
        else:
            out.append(Clause(occur, "term", term, b))
    return out


def _expansions(searcher, c: Clause, max_expansions: int) -> list[str]:
    from .boolquery import expand_fuzzy, expand_prefix

    if c.kind == "term":
        return [c.text]
    if c.kind == "prefix":
        return expand_prefix(searcher, c.text, max_expansions)
    return expand_fuzzy(searcher, c.text, c.edits,
                        max_expansions=max_expansions)


def _live_ids(searcher, terms: list[str]):
    """term_id → term for the subset of *terms* with df > 0, plus their
    buckets and per-id df (the shared preamble of every term-family
    clause)."""
    ids = {xxh64_signed(t): t for t in set(terms)}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    return ids, buckets, dfs


# --------------------------------------------------------- driver path

def _terms_scores_driver(searcher, terms, boost):
    """All (doc, Σ expansion-BM25 × boost) of a term-family clause —
    absolute docIDs, sorted."""
    ids, buckets, dfs = _live_ids(searcher, terms)
    if not ids:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    idf = {i: boost * idf_value(searcher.n_docs, dfs[i]) for i in ids}
    # memo-backed: a hot clause converts by reference instead of paying a
    # raw decode per query (measured 4× on the 1M-doc head-prefix probes)
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        searcher.cfg.block_size, searcher.deleted,
    )
    da, sc = score_brute(view_slices(views), searcher.cfg.k1, searcher.cfg.b,
                         searcher.avgdl)
    order = np.argsort(da)
    return da[order], sc[order]


def _phrase_matches_driver(searcher, c: Clause):
    """(doc_ids, tf_phrase, dls) of a phrase clause across all ranges —
    the driver twin of phrase_matches (no Spark job)."""
    from .phrase import _POS_COLS, _match_rows, _prox_match_rows
    from ..textproc import tokenize

    if not searcher.stats.get("positions"):
        raise ValueError(
            "phrase clauses need a positional index "
            "(IndexConfig.positions=True)"
        )
    terms = tokenize(c.text)
    if not terms:
        return (np.empty(0, np.int64),) * 3
    ids = sorted({xxh64_signed(t) for t in terms})
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    term_seq = [xxh64_signed(t) for t in terms]
    rows = searcher._read_slice_rows(ids, buckets, ["range_id"] + _POS_COLS)
    by_range: dict[int, list] = {}
    for r in rows:
        by_range.setdefault(int(r["range_id"]), []).append(r)
    docs, tfs, dls = [], [], []
    for rr in by_range.values():
        d, tf, dl, _fp = (
            _prox_match_rows(rr, term_seq, c.slop)
            if c.slop > 0
            else _match_rows(rr, term_seq)
        )
        docs.extend(d)
        tfs.extend(tf)
        dls.extend(dl)
    da = np.asarray(docs, dtype=np.int64)
    ta = np.asarray(tfs, dtype=np.float64)
    la = np.asarray(dls, dtype=np.float64)
    if searcher.deleted.size and da.size:
        keep = ~_member_sorted(da, searcher.deleted)
        da, ta, la = da[keep], ta[keep], la[keep]
    order = np.argsort(da)
    return da[order], ta[order], la[order]


def _phrase_scores_driver(searcher, c: Clause):
    da, ta, la = _phrase_matches_driver(searcher, c)
    if da.size == 0:
        return da, np.empty(0, np.float64)
    df_p = int(da.size)
    idf = c.boost * math.log(
        1.0 + (searcher.n_docs - df_p + 0.5) / (df_p + 0.5)
    )
    k1, b = searcher.cfg.k1, searcher.cfg.b
    sc = idf * ta * (k1 + 1.0) / (
        ta + k1 * (1.0 - b + b * la / searcher.avgdl)
    )
    return da, sc


def _clause_scores_driver(searcher, c: Clause, max_expansions: int):
    if c.kind == "phrase":
        return _phrase_scores_driver(searcher, c)
    return _terms_scores_driver(
        searcher, _expansions(searcher, c, max_expansions), c.boost
    )


def _clause_docs_driver(searcher, c: Clause, max_expansions: int):
    """Sorted matching-doc set of a (must_not) clause — docID streams
    only for term-family clauses, no tf/dl decode."""
    if c.kind == "phrase":
        return _phrase_matches_driver(searcher, c)[0]
    from .filtered import _UNION_COLS, _union_docids_rows

    ids, buckets, _dfs = _live_ids(
        searcher, _expansions(searcher, c, max_expansions)
    )
    if not ids:
        return np.empty(0, np.int64)
    rows = searcher._pruned_slice_rows(
        list(ids), buckets, columns=_UNION_COLS
    )
    if not rows:
        return np.empty(0, np.int64)
    out = _union_docids_rows(rows)
    if searcher.deleted.size and out.size:
        out = out[~_member_sorted(out, searcher.deleted)]
    return out


# ---------------------------------------------------- distributed path

def _terms_scored_df(searcher, terms, boost) -> DataFrame | None:
    """Per-docID-range applyInPandas clause scoring: every (doc, score)
    of the clause, computed range-locally (a doc lives in exactly one
    range, so the clause sum closes inside the kernel)."""
    ids, buckets, dfs = _live_ids(searcher, terms)
    if not ids:
        return None
    idf = {i: boost * idf_value(searcher.n_docs, dfs[i]) for i in ids}
    labels = dict(ids)
    k1, b, avgdl = searcher.cfg.k1, searcher.cfg.b, searcher.avgdl
    block_size, deleted = searcher.cfg.block_size, searcher.deleted

    def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
        views = term_views(
            pdf.to_dict("records"), labels, idf, block_size, deleted
        )
        da, sc = score_brute(view_slices(views), k1, b, avgdl)
        return pd.DataFrame({"doc_id": da, "score": sc})

    return (
        searcher._pruned_slices(list(ids), buckets)
        .groupBy("range_id")
        .applyInPandas(eval_range, schema="doc_id long, score double")
    )


def _terms_match_df(searcher, terms) -> DataFrame | None:
    """Distinct matching docIDs of a term-family clause — docID streams
    only (no tf/dl decode), per-range kernel."""
    from .filtered import _UNION_COLS, _union_docids_rows

    ids, buckets, _dfs = _live_ids(searcher, terms)
    if not ids:
        return None

    def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        da = _union_docids_rows(rows) if rows else np.empty(0, np.int64)
        return pd.DataFrame({"doc_id": da})

    sl = (
        searcher.spark.read.parquet(f"{searcher.index_dir}/postings")
        .filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term_id").isin(list(ids))
        )
        .select("range_id", *_UNION_COLS)
    )
    out = sl.groupBy("range_id").applyInPandas(
        eval_range, schema="doc_id long"
    )
    if searcher.deleted.size:
        out = out.filter(~F.col("doc_id").isin(searcher.deleted.tolist()))
    return out


def _phrase_scored_df(searcher, c: Clause) -> DataFrame | None:
    from .phrase import phrase_matches

    matched = phrase_matches(searcher, c.text, c.slop)
    if matched is None:
        return None
    df_p = matched.count()
    if df_p == 0:
        return None
    idf = c.boost * math.log(
        1.0 + (searcher.n_docs - df_p + 0.5) / (df_p + 0.5)
    )
    k1, b, avgdl = searcher.cfg.k1, searcher.cfg.b, searcher.avgdl
    score = (
        F.lit(idf) * F.col("tf_phrase") * F.lit(k1 + 1.0)
        / (F.col("tf_phrase")
           + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )
    return matched.select("doc_id", score.alias("score"))


def query_string_plan(
    searcher, query_string: str, max_expansions: int = 1024,
    minimum_should_match: int = 0,
) -> DataFrame | None:
    """The distributed evaluation as an uncollected DataFrame
    (doc_id, score, nreq, nshd) — the plan-shape hook
    (tools/explain_plans.py) and the building block for sinks that want
    the full match set."""
    clauses = parse_query_string(query_string)
    scoring = [c for c in clauses if c.occur != "must_not"]
    nots = [c for c in clauses if c.occur == "must_not"]
    if not scoring:
        return None
    return _qs_fold(searcher, scoring, nots, max_expansions,
                    minimum_should_match)


def _qs_fold(searcher, scoring, nots, max_expansions, msm=0):
    frames, n_must = [], 0
    for c in scoring:
        if c.kind == "phrase":
            d = _phrase_scored_df(searcher, c)
        else:
            d = _terms_scored_df(
                searcher, _expansions(searcher, c, max_expansions), c.boost
            )
        if c.occur == "must":
            n_must += 1
            if d is None:
                return None  # a required clause with zero postings
        if d is not None:
            frames.append(
                d.withColumn("req", F.lit(1 if c.occur == "must" else 0))
                .withColumn("shd", F.lit(0 if c.occur == "must" else 1))
            )
    if not frames:
        return None
    u = reduce(DataFrame.unionByName, frames)
    agg = u.groupBy("doc_id").agg(
        F.sum("score").alias("score"), F.sum("req").alias("nreq"),
        F.sum("shd").alias("nshd"),
    )
    if n_must:
        agg = agg.filter(F.col("nreq") == n_must)
    if msm > 0 and any(c.occur == "should" for c in scoring):
        agg = agg.filter(F.col("nshd") >= msm)
    for c in nots:
        if c.kind == "phrase":
            from .phrase import phrase_matches

            nd = phrase_matches(searcher, c.text, c.slop)
            nd = nd.select("doc_id") if nd is not None else None
        else:
            nd = _terms_match_df(
                searcher, _expansions(searcher, c, max_expansions)
            )
        if nd is not None:
            agg = agg.join(nd, "doc_id", "left_anti")
    return agg


def _qs_distributed(searcher, scoring, nots, k, tie_round, max_expansions,
                    msm=0):
    agg = _qs_fold(searcher, scoring, nots, max_expansions, msm)
    if agg is None:
        return []
    r = F.round(F.col("score"), tie_round)
    out = agg.orderBy(r.desc(), F.asc("doc_id")).limit(k).collect()
    return [(int(row["doc_id"]), float(row["score"])) for row in out]


# --------------------------------------------------------------- entry

def _bool_route(searcher, clauses, max_expansions):
    """Map a term-family-only query string onto search_bool — the
    candidate-driven (lazy-decode, BMW/mode-pick optimized) boolean
    core, so a rare `+must` bounds the gather work even when a head
    prefix expands to millions of postings.  Returns search_bool kwargs,
    or None when the shape doesn't map: phrase clauses, disjunctive
    musts (`+prefix*` means "≥1 expansion", not a term conjunction), or
    the same term scored by two clauses (boost would collide)."""
    must, should, must_not, boosts = [], [], [], {}
    for c in clauses:
        if c.kind == "phrase":
            return None
        if c.occur == "must_not":
            if c.kind == "term":
                must_not.append(c.text)
            else:
                must_not.extend(_expansions(searcher, c, max_expansions))
            continue
        if c.kind == "term":
            terms = [c.text]
        elif c.occur == "must":
            return None
        else:
            terms = _expansions(searcher, c, max_expansions)
        tgt = must if c.occur == "must" else should
        for t in terms:
            if t in boosts:
                return None
            boosts[t] = c.boost
        tgt.extend(terms)
    return dict(
        must=must, should=should, must_not=must_not,
        boosts={t: b for t, b in boosts.items() if b != 1.0} or None,
    )


def search_query_string(
    searcher,
    query_string: str,
    k: int = 10,
    tie_round: int = 4,
    distributed: bool = False,
    max_expansions: int = 1024,
    route_bool: bool = True,
    minimum_should_match: int = 0,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for a classic query_string (see module
    docstring for the supported subset and semantics).  Term-family-only
    strings route through the boolean serving core (identical scores —
    a clause's expansion sum IS a should-group sum; pinned by
    tests/test_querystring.py routed-vs-generic); ``route_bool=False``
    forces the generic per-clause fold.

    ``minimum_should_match`` counts CLAUSES (a prefix/fuzzy clause
    matching via any expansion counts once), so with it set the bool
    route is taken only when every should clause is a single term —
    term-level and clause-level counting coincide there."""
    clauses = parse_query_string(query_string)
    scoring = [c for c in clauses if c.occur != "must_not"]
    nots = [c for c in clauses if c.occur == "must_not"]
    if not scoring:
        return []
    msm = int(minimum_should_match or 0)
    if route_bool and (
        msm == 0
        or all(c.kind == "term" for c in scoring if c.occur == "should")
    ):
        routed = _bool_route(searcher, clauses, max_expansions)
        if routed is not None:
            from .boolquery import search_bool

            return search_bool(
                searcher, k=k, distributed=distributed,
                tie_round=tie_round, minimum_should_match=msm, **routed,
            )
    if distributed:
        return _qs_distributed(
            searcher, scoring, nots, k, tie_round, max_expansions, msm
        )
    per = [
        (c, *_clause_scores_driver(searcher, c, max_expansions))
        for c in scoring
    ]
    must_sets = [da for c, da, _ in per if c.occur == "must"]
    if must_sets:
        cand = must_sets[0]
        for m in must_sets[1:]:
            cand = np.intersect1d(cand, m, assume_unique=True)
            if cand.size == 0:
                return []
    else:
        arrs = [da for _, da, _ in per if da.size]
        if not arrs:
            return []
        cand = np.unique(np.concatenate(arrs))
    for c in nots:
        nd = _clause_docs_driver(searcher, c, max_expansions)
        if nd.size:
            cand = cand[~_member_sorted(cand, nd)]
    if cand.size == 0:
        return []
    if msm > 0 and any(c.occur == "should" for c in scoring) and (
        must_sets or msm > 1
    ):
        cnt = np.zeros(cand.size, dtype=np.int64)
        for c, da, _sc in per:
            if c.occur == "should" and da.size:
                cnt += _member_sorted(cand, da)
        cand = cand[cnt >= msm]
        if cand.size == 0:
            return []
    total = np.zeros(cand.size, dtype=np.float64)
    for _c, da, sc in per:
        if da.size == 0:
            continue
        pos = np.searchsorted(cand, da)
        pos_c = np.minimum(pos, cand.size - 1)
        valid = cand[pos_c] == da
        np.add.at(total, pos_c[valid], sc[valid])
    order = np.lexsort((cand, -np.round(total, tie_round)))[:k]
    return [(int(cand[i]), float(total[i])) for i in order]


# ------------------------------------------------- simple_query_string

def parse_simple_query_string(q: str) -> list[list[Clause]]:
    """Lucene SimpleQueryParser subset (OpenSearch
    ``simple_query_string`` with default_operator=AND): ``|`` separates
    OR groups; within a group every positive atom is REQUIRED and ``-``
    negates; atoms are the classic bodies (term, prefix*, fuzzy~N,
    "phrase"[~slop], each with an optional ^boost).  Unlike the classic
    QueryParser, malformed syntax never raises — unparseable fragments
    are simply dropped (SimpleQueryParser's design contract)."""
    groups = []
    for part in q.split("|"):
        cls = parse_query_string(part)
        if not cls:
            continue
        groups.append([
            Clause("must_not" if c.occur == "must_not" else "must",
                   c.kind, c.text, c.boost, c.slop, c.edits)
            for c in cls
        ])
    return groups


def clause_to_qs(c: Clause) -> str:
    """Render a Clause back to classic query_string syntax — exact
    round-trip through parse_query_string (the oracle generator rebuilds
    per-group strings for the shared per-clause SQL)."""
    sign = "-" if c.occur == "must_not" else "+"
    if c.kind == "phrase":
        body = f'"{c.text}"' + (f"~{c.slop}" if c.slop else "")
    elif c.kind == "prefix":
        body = f"{c.text}*"
    elif c.kind == "fuzzy":
        body = f"{c.text}~{c.edits}"
    else:
        body = c.text
    boost = f"^{c.boost:g}" if c.boost != 1.0 else ""
    return sign + body + boost


def search_simple_query_string(
    searcher,
    query_string: str,
    k: int = 10,
    tie_round: int = 4,
    distributed: bool = False,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Top-k for a ``simple_query_string`` (OpenSearch; Lucene
    SimpleQueryParser with default_operator=AND): ``|``-separated OR
    groups of AND'd atoms, ``-`` negating within its group.  Lucene
    compiles this to a BooleanQuery of per-group BooleanQueries, so
    score(doc) = Σ over groups whose positive atoms ALL match (and
    negated atoms none) of the group's clause-score sum — a doc matched
    by several groups sums them all.  Per-atom scoring is identical to
    query_string's (expansions each with their own idf, phrases BM25 on
    phrase-tf).

    Scale shape (distributed=True): each group folds through the same
    bounded per-clause DataFrames + ONE groupBy(doc_id) as
    query_string; groups then union into one more groupBy(doc_id).sum —
    shuffle traffic stays bounded by match-set sizes.

    Reference behavior: the sink's OpenSearch side serves
    simple_query_string over indexed docs (OpenSearchSink.java index
    passthrough); syntax per Lucene SimpleQueryParser."""
    groups = parse_simple_query_string(query_string)
    groups = [g for g in groups if any(c.occur == "must" for c in g)]
    if not groups:
        return []
    if distributed:
        frames = []
        for g in groups:
            pos = [c for c in g if c.occur != "must_not"]
            neg = [c for c in g if c.occur == "must_not"]
            d = _qs_fold(searcher, pos, neg, max_expansions)
            if d is not None:
                frames.append(d.select("doc_id", "score"))
        if not frames:
            return []
        u = reduce(DataFrame.unionByName, frames)
        agg = u.groupBy("doc_id").agg(F.sum("score").alias("score"))
        r = F.round(F.col("score"), tie_round)
        out = agg.orderBy(r.desc(), F.asc("doc_id")).limit(k).collect()
        return [(int(row["doc_id"]), float(row["score"])) for row in out]
    folded: dict[int, float] = {}
    for g in groups:
        pos = [c for c in g if c.occur != "must_not"]
        neg = [c for c in g if c.occur == "must_not"]
        das, scs, ok = [], [], True
        for c in pos:
            da, sc = _clause_scores_driver(searcher, c, max_expansions)
            if da.size == 0:
                ok = False
                break
            das.append(da)
            scs.append(sc)
        if not ok:
            continue
        common = das[0]
        for da in das[1:]:
            common = np.intersect1d(common, da, assume_unique=True)
            if common.size == 0:
                break
        for c in neg:
            if common.size == 0:
                break
            nd = _clause_docs_driver(searcher, c, max_expansions)
            if nd.size:
                common = common[~_member_sorted(common, np.sort(nd))]
        if common.size == 0:
            continue
        total = np.zeros(common.size, dtype=np.float64)
        for da, sc in zip(das, scs):
            total += sc[np.searchsorted(da, common)]
        for d, s in zip(common.tolist(), total.tolist()):
            folded[d] = folded.get(d, 0.0) + s
    if not folded:
        return []
    ids = np.fromiter(folded.keys(), np.int64, len(folded))
    sc = np.fromiter(folded.values(), np.float64, len(folded))
    order = np.lexsort((ids, -np.round(sc, tie_round)))[:k]
    return [(int(ids[i]), float(sc[i])) for i in order]
