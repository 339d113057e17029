"""Boolean and prefix queries over the BM25 index (Lucene BooleanQuery /
PrefixQuery semantics).

Boolean (must / should / must_not — Lucene's +term term -term):
  - a doc matches iff it contains EVERY must term, at least one scoring
    term overall, and NO must_not term;
  - score = Σ BM25 contributions of the must+should terms it contains
    (must clauses score too, exactly as Lucene's BooleanWeight sums
    scoring clauses; must_not never contributes).

Execution is conjunctive-first, the classic inverted-index plan
(:func:`_bool_eval`, over one block-lazy view per term):
  - candidates = the rarest must term's docs, intersected with the
    other must terms by skip-pointer block reads — cost is bounded by
    the rarest must term's df, not the stopword's (the reason search
    engines love AND queries);
  - must_not is a sorted-membership anti-filter on the candidate set;
  - only then are the scoring terms' candidate blocks decoded and
    scored (one vectorized brute pass over candidates — no BMW needed
    because the candidate set is already small; a pure-should query
    starts from the union, same as plain BM25 brute).

Both serving modes mirror BM25Searcher: driver (bucket-pruned pyarrow
read, no Spark job, one evaluation over the whole docID space) and
distributed (per-docID-range applyInPandas + global TakeOrdered).  A
doc's postings for every term live in the same docID range, so the
same evaluator is exact inside a range — no cross-range state.

Prefix, fuzzy, and wildcard queries rewrite through the term dictionary
(Lucene MultiTermQuery): expand against the term strings of termstats
(the term dictionary: one row per term with postings) — a vocabulary scan,
bounded by |vocab| not corpus size — then score the expansion as a
should-group where each concrete term keeps its own idf (Lucene's
SCORING_BOOLEAN_REWRITE).  Expansion is capped like
BooleanQuery.maxClauseCount.  Fuzzy = plain unit-cost Levenshtein
(FuzzyQuery with transpositions=false; DuckDB `levenshtein` twin, one
vectorized DP over the whole candidate vocabulary); wildcard = anchored
glob (* / ?) matched arrow-side.

Reference anchor: the reference's expression DSL routes (`and`/`or`/
`not` predicates over fields, data-prepper-expression/.../
DataPrepperExpression.g4:302-304) are the pipeline-side boolean
analog; full-text booleans are what its opensearch sink delegates to
Lucene.  Tombstones (index/deletes.py) are the views' deny set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from ..hashing import xxh64_signed
from ..textproc import tokenize
from .scoring import (
    TermSlice,
    idf_value,
    score_brute,
    term_views,
    topk_select,
)

_SLICE_COLS = [
    "term_id", "range_id", "df_slice", "doc_ids", "tfs", "dls",
    "block_firsts", "block_ubs",
]


def _norm_terms(terms) -> list[str]:
    out: list[str] = []
    for t in terms or ():
        out.extend(tokenize(t))
    seen: set[str] = set()
    uniq = []
    for t in out:
        if t not in seen:
            seen.add(t)
            uniq.append(t)
    return uniq


def _score_candidates(views: dict, cand, scoring, k1, b, avgdl):
    """Exact scores of the sorted docs *cand* over the *scoring* terms'
    views; each view decodes only the blocks the candidates can live in."""
    subs = [
        s for i in scoring if i in views
        for s in views[i].candidate_slices(cand)
    ]
    if not subs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return score_brute(subs, k1, b, avgdl)


def _bool_eval(views: dict, must_ids, not_ids, scoring, k1, b, avgdl,
               should_ids=(), msm=0):
    """Boolean evaluation over term views (scoring.TermView) — the
    skip-pointer plan:

      1. candidates = every live doc of the RAREST must term (one memoized
         full decode of its docID stream), or, with no must clause, the
         union of the scoring terms' docs;
      2. every other must / should-count / must_not view decodes ONLY the
         blocks its candidates can live in (TermView.contains — the
         on-disk block_firsts array IS the skip list);
      3. tf/dl streams decode only for the final candidates' blocks.

    Decode cost is ∝ rarest-term df × blocks touched, never the stopword
    df.  ``msm`` > 0 requires each doc to match at least that many of the
    *should_ids* clauses (OpenSearch ``minimum_should_match``).  Returns
    (doc_ids, scores) of every match (exact scores, unranked)."""
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    if must_ids:
        if any(i not in views for i in must_ids):
            return empty
        must = sorted((views[i] for i in must_ids), key=lambda v: v.n)
        cand = must[0].docids()
        for v in must[1:]:
            cand = cand[v.contains(cand)]
    else:
        arrs = [views[i].docids() for i in scoring if i in views]
        if not arrs:
            return empty
        cand = np.unique(np.concatenate(arrs))
    if msm > 0 and should_ids and (must_ids or msm > 1):
        # pure-should msm==1 is the union itself — no count needed
        cnt = np.zeros(cand.size, dtype=np.int64)
        for i in should_ids:
            if i in views:
                cnt += views[i].contains(cand)
        cand = cand[cnt >= msm]
    for i in not_ids:
        if i in views and cand.size:
            cand = cand[~views[i].contains(cand)]
    if cand.size == 0:
        return empty
    return _score_candidates(views, cand, scoring, k1, b, avgdl)


def search_bool(
    searcher,
    must=(),
    should=(),
    must_not=(),
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    boosts: dict | None = None,
    after: tuple[float, int] | None = None,
    minimum_should_match: int = 0,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) under Lucene BooleanQuery semantics.
    *searcher* is a BM25Searcher.  ``tie_round`` ranks by
    (round(score, n) DESC, doc_id ASC) — the SQL oracle's tie rule.

    ``boosts``: term → multiplier (Lucene's ``term^boost`` BoostQuery).
    A boost scales that clause's score contribution; it folds into the
    per-term idf BEFORE accumulation, so every scoring path (driver,
    distributed) inherits it with zero extra work and the
    accumulation order stays the oracle's sorted-term order.

    ``after``: deep-paging cursor (Lucene searchAfter / OpenSearch
    search_after) — the (rounded score, doc_id) of the previous page's
    last hit; only docs strictly after it in (round(score, tie_round)
    DESC, doc_id ASC) order are returned.  Requires ``tie_round`` (the
    cursor is defined on ROUNDED scores so it is stable across
    serving modes and against the SQL oracle).  Rank-stable paging with
    no deep window: page N costs the same as page 1.

    ``minimum_should_match``: docs must match at least this many SHOULD
    clauses (OpenSearch bool parameter) — ignored when there are no
    should clauses, like the reference.  The conjunctive plan bounds the
    count's decode cost by the must candidates' blocks (skip pointers),
    not the should dfs."""
    if after is not None and tie_round is None:
        raise ValueError("after= requires tie_round (cursor on rounded scores)")
    must = _norm_terms(must)
    should = [t for t in _norm_terms(should) if t not in must]
    must_not = _norm_terms(must_not)
    overlap = set(must_not) & set(must + should)
    if overlap:
        raise ValueError(f"terms both scored and prohibited: {sorted(overlap)}")
    if not must and not should:
        return []
    ids = {xxh64_signed(t): t for t in must + should + must_not}
    from ..hashing import pmod

    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    must_ids = [xxh64_signed(t) for t in must]
    if any(dfs.get(i, 0) == 0 for i in must_ids):
        return []  # a required term matches nothing
    scoring = sorted(
        (i for t in must + should for i in (xxh64_signed(t),) if dfs.get(i, 0) > 0),
        key=lambda i: ids[i],
    )  # sorted TERM-STRING order — the engine's fixed accumulation order
    not_ids = [i for t in must_not for i in (xxh64_signed(t),) if dfs.get(i, 0) > 0]
    if not scoring:
        return []
    msm = int(minimum_should_match or 0)
    should_ids = [
        i for t in should for i in (xxh64_signed(t),) if dfs.get(i, 0) > 0
    ]
    if not should:
        msm = 0  # no should clauses: the parameter is a no-op (OpenSearch)
    elif msm > len(should_ids):
        return []  # fewer live should clauses than required matches
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in scoring}
    if boosts:
        unknown = set(boosts) - set(must) - set(should)
        if unknown:
            raise ValueError(f"boost on non-scoring terms: {sorted(unknown)}")
        for t, mult in boosts.items():
            i = xxh64_signed(t)
            if i in idf:
                idf[i] *= float(mult)
    live_ids = [i for i in ids if dfs.get(i, 0) > 0]
    if (
        not must_ids and not not_ids and tie_round is None
        and after is None and not distributed and msm <= 1
    ):
        # pure-should scoring boolean ≡ BM25 disjunction with per-term
        # (possibly boosted) idf — route through the BM25 scoring core
        # instead of the brute union (tests/test_boolquery.py pins
        # rank identity vs the brute path).  Mode pick: BMW prunes when
        # the top-k threshold can beat segment upper bounds; a
        # disjunction whose clauses' postings outnumber the corpus (a
        # head-heavy prefix expansion — every doc matches several
        # clauses, all idfs low and alike) never converges and BMW's
        # MAX_SEG fallback would pay the probe AND the brute pass, so
        # go brute directly.
        mode = "bmw" if sum(dfs[i] for i in scoring) <= searcher.n_docs else "brute"
        return searcher._score_pruned(
            {i: ids[i] for i in scoring},
            sorted({pmod(i, searcher.cfg.n_buckets) for i in scoring}),
            idf, k, mode, searcher.avgdl,
        )
    if distributed:
        return _search_bool_distributed(
            searcher, ids, live_ids, buckets, must_ids, not_ids, scoring,
            idf, k, tie_round, after, should_ids, msm,
        )
    cfg = searcher.cfg
    views = term_views(
        searcher._pruned_slice_rows(live_ids, buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    da, sc = _bool_eval(
        views, must_ids, not_ids, scoring, cfg.k1, cfg.b, searcher.avgdl,
        should_ids, msm,
    )
    if da.size == 0:
        return []
    if tie_round is not None:
        r = np.round(sc, tie_round)
        if after is not None:
            a_s, a_d = after
            keep = (r < a_s) | ((r == a_s) & (da > a_d))
            da, sc, r = da[keep], sc[keep], r[keep]
            if da.size == 0:
                return []
        order = np.lexsort((da, -r))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _merge_synonym_slices(slices: list, idf: float, label: str):
    """Member TermSlices (any ranges, any duplicates) → ONE pseudo-term
    slice: docID union, per-doc tf SUM, dl carried, the GROUP idf.
    Block metadata is dropped — synonym scoring is brute (the blended
    tf has no stored per-block upper bound)."""
    union = np.unique(np.concatenate([s.doc_ids for s in slices]))
    tfs = np.zeros(union.size, dtype=np.int64)
    dls = np.zeros(union.size, dtype=np.int64)
    for s in slices:
        idx = np.searchsorted(union, s.doc_ids)
        np.add.at(tfs, idx, s.tfs)
        dls[idx] = s.dls
    return TermSlice(
        label, idf, union, tfs, dls,
        np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32),
    )


def search_synonyms(
    searcher, groups, k: int = 10, distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """SynonymQuery scoring (Lucene SynonymQuery — what OpenSearch's
    query-time ``synonym`` / ``synonym_graph`` analysis emits): each
    *group* of synonymous terms scores as ONE pseudo-term — per-doc
    tf = Σ member tfs, df = MAX member df (one idf per group, so a
    common synonym doesn't get the inflated per-term idf·tf sum a
    bool-should would give it), one tf-normalization per doc.  *groups*
    is a list of term lists; a single-term group is a plain term clause;
    a group none of whose members exist contributes nothing.  Rank:
    (score DESC, doc_id ASC), tie_round per the oracle contract.

    Scale shape: docID ranges partition docs, so the global pseudo-term
    merge equals per-range merges — the distributed path merges + brute-
    scores per range inside ONE applyInPandas and global-top-k's the
    bounded per-range results, the _search_bool_distributed shape."""
    from ..hashing import pmod

    groups = [sorted(set(g)) for g in groups if g]
    if not groups:
        return []
    ids = {xxh64_signed(t): t for g in groups for t in g}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    live_groups = []   # (label, group idf, member term_ids)
    for g in groups:
        members = [xxh64_signed(t) for t in g if dfs.get(xxh64_signed(t), 0) > 0]
        if not members:
            continue
        df_g = max(dfs[i] for i in members)
        live_groups.append((
            "syn:" + "|".join(g),
            idf_value(searcher.n_docs, df_g),
            members,
        ))
    if not live_groups:
        return []
    live_ids = {i: ids[i] for _, _, ms in live_groups for i in ms}
    group_of = {i: gi for gi, (_, _, ms) in enumerate(live_groups)
                for i in ms}
    cfg, deleted = searcher.cfg, searcher.deleted
    avgdl = searcher.avgdl  # hoisted: the worker closure must not
    #                         capture the searcher (it holds the session)

    def merge_and_score(rows) -> tuple[np.ndarray, np.ndarray]:
        by_group: dict[int, list] = {}
        views = term_views(rows, live_ids, {}, cfg.block_size, deleted)
        for tid, v in views.items():
            by_group.setdefault(group_of[tid], []).extend(v.term_slices())
        pseudo = [
            _merge_synonym_slices(ss, live_groups[gi][1], live_groups[gi][0])
            for gi, ss in sorted(by_group.items())
        ]
        return score_brute(pseudo, cfg.k1, cfg.b, avgdl)

    if distributed:
        def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
            i_r, s_r = merge_and_score(pdf.to_dict("records"))
            return pd.DataFrame({"doc_id": i_r, "score": s_r})

        scored = (
            searcher._pruned_slices(list(live_ids), buckets)
            .groupBy("range_id")
            .applyInPandas(eval_range, schema="doc_id long, score double")
        )
        if tie_round is not None:
            r = F.round(F.col("score"), tie_round)
            ordered = scored.orderBy(r.desc(), F.asc("doc_id"))
        else:
            ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        out = ordered.limit(k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in out]

    rows = searcher._pruned_slice_rows(list(live_ids), buckets)
    da, sc = merge_and_score(rows)
    if da.size == 0:
        return []
    if tie_round is not None:
        key = np.round(sc, tie_round)
        order = np.lexsort((da, -key))[:k]
    else:
        da, sc = topk_select(da, sc, k)
        return [(int(d), float(s)) for d, s in zip(da, sc)]
    return [(int(d), float(s)) for d, s in zip(da[order], sc[order])]


def _search_bool_distributed(
    searcher, labels, live_ids, buckets, must_ids, not_ids, scoring, idf,
    k, tie_round, after=None, should_ids=(), msm=0,
):
    """Per-docID-range applyInPandas boolean evaluation + global
    TakeOrdered — the scale path (a range holds every term's postings for
    its docs, so the boolean constraints close locally)."""
    cfg, avgdl, deleted = searcher.cfg, searcher.avgdl, searcher.deleted

    def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
        views = term_views(
            pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        i_r, s_r = _bool_eval(
            views, must_ids, not_ids, scoring, cfg.k1, cfg.b, avgdl,
            should_ids, msm,
        )
        return pd.DataFrame({"doc_id": i_r, "score": s_r})

    scored = (
        searcher._pruned_slices(live_ids, buckets)
        .groupBy("range_id")
        .applyInPandas(eval_range, schema="doc_id long, score double")
    )
    if tie_round is not None:
        r = F.round(F.col("score"), tie_round)
        if after is not None:
            a_s, a_d = after
            scored = scored.filter(
                (r < F.lit(a_s))
                | ((r == F.lit(a_s)) & (F.col("doc_id") > F.lit(int(a_d))))
            )
        ordered = scored.orderBy(r.desc(), F.asc("doc_id"))
    else:
        ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    out = ordered.limit(k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in out]


# ------------------------------------------------------------------ prefix

def _vocab(searcher):
    """The ``term`` column of termstats — one row per term with postings;
    an old ``termdict/`` table is never read."""
    ds = pads.dataset(f"{searcher.index_dir}/termstats", partitioning="hive")
    return ds.to_table(columns=["term"])["term"]


def expand_prefix(searcher, prefix: str, max_expansions: int = 1024) -> list[str]:
    """Concrete terms matching *prefix* from the term dictionary — a
    vocabulary scan (:func:`_vocab`; cost is bounded by |vocab|, never
    corpus size).  Raises when the expansion exceeds *max_expansions*,
    like BooleanQuery.maxClauseCount."""
    col = _vocab(searcher)
    m = pc.starts_with(col, pattern=prefix)
    terms = sorted(set(col.filter(m).to_pylist()))
    if len(terms) > max_expansions:
        raise ValueError(
            f"prefix '{prefix}' expands to {len(terms)} terms "
            f"(> max_expansions={max_expansions})"
        )
    return terms


def search_prefix(
    searcher,
    prefix: str,
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Prefix top-k: dictionary expansion → scoring-boolean rewrite
    (each expanded term scores with its own idf)."""
    terms = expand_prefix(searcher, prefix, max_expansions)
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


# ------------------------------------------------------------------- fuzzy

def levenshtein_leq(terms: list[str], query: str, max_edits: int) -> np.ndarray:
    """Boolean mask: plain unit-cost Levenshtein(term, query) <= max_edits
    (see :func:`levenshtein_within`)."""
    n = len(terms)
    out = np.zeros(n, dtype=bool)
    idx, _ = levenshtein_within(terms, query, max_edits)
    out[idx] = True
    return out


def levenshtein_within(
    terms: list[str], query: str, max_edits: int
) -> tuple[np.ndarray, np.ndarray]:
    """(indices, distances) of the *terms* whose plain unit-cost
    Levenshtein distance to *query* is <= max_edits, computed for ALL
    terms in ONE numpy DP (rows = query chars, the column sweep runs
    over every candidate term simultaneously).  Unit costs and no
    transpositions — the exact definition DuckDB's ``levenshtein``
    implements, so the oracle can pin expansions verbatim.  Cost is
    O(|query| × maxlen × n_terms) vectorized over n_terms; a length
    prefilter (|len diff| <= max_edits) drops most of the vocabulary
    before the DP runs."""
    n = len(terms)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if n == 0:
        return empty
    lens = np.fromiter((len(t) for t in terms), np.int64, n)
    cand = np.flatnonzero(np.abs(lens - len(query)) <= max_edits)
    if cand.size == 0:
        return empty
    clens = lens[cand]
    maxlen = int(clens.max())
    # code points, not UTF-8 bytes: len() counts characters, so a
    # non-ASCII term/query under byte decomposition would compute
    # byte-level distance (diverging from DuckDB's character-level
    # levenshtein) or overflow the len()-sized row
    mat = np.zeros((cand.size, maxlen), dtype=np.uint32)
    for r, ti in enumerate(cand):
        t = terms[ti]
        mat[r, : len(t)] = np.fromiter(map(ord, t), np.uint32, len(t))
    q = np.fromiter(map(ord, query), np.uint32, len(query))
    prev = np.broadcast_to(
        np.arange(maxlen + 1, dtype=np.int64), (cand.size, maxlen + 1)
    ).copy()
    for i in range(1, q.size + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(1, maxlen + 1):
            cur[:, j] = np.minimum(
                np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                prev[:, j - 1] + (mat[:, j - 1] != q[i - 1]),
            )
        prev = cur
    dist = prev[np.arange(cand.size), clens]
    keep = dist <= max_edits
    return cand[keep], dist[keep]


def damerau_within(
    terms: list[str], query: str, max_edits: int
) -> tuple[np.ndarray, np.ndarray]:
    """(indices, distances) of the *terms* within *max_edits* FULL
    Damerau-Levenshtein edits of *query* (unit costs; transpositions of
    arbitrarily-separated characters via the Lowrance-Wagner `da`
    table — distance('ca','abc') = 2, the definition DuckDB's
    ``damerau_levenshtein`` implements, NOT the restricted OSA variant
    whose answer is 3).  Vectorized over all candidate terms at once:
    the alphabet is re-coded to the batch's distinct codepoints, the
    per-term last-occurrence table ``da`` is an (n, |alphabet|) array,
    and the 3-D DP retains the full matrix because the transposition
    recurrence reaches back to an arbitrary (k-1, l-1) cell.  Same
    length prefilter as the plain-Levenshtein sibling."""
    n = len(terms)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if n == 0:
        return empty
    lens = np.fromiter((len(t) for t in terms), np.int64, n)
    cand = np.flatnonzero(np.abs(lens - len(query)) <= max_edits)
    if cand.size == 0:
        return empty
    clens = lens[cand]
    maxlen = int(clens.max())
    qlen = len(query)
    # batch alphabet: distinct codepoints of candidates + query; 0 is
    # the pad symbol (never equal to a real char)
    chars = sorted({ord(c) for ti in cand for c in terms[ti]}
                   | {ord(c) for c in query})
    code = {c: i + 1 for i, c in enumerate(chars)}
    n_sym = len(chars) + 1
    mat = np.zeros((cand.size, maxlen), dtype=np.int64)
    for r, ti in enumerate(cand):
        t = terms[ti]
        mat[r, : len(t)] = [code[ord(c)] for c in t]
    q = np.fromiter((code[ord(c)] for c in query), np.int64, qlen)
    nc = cand.size
    maxdist = maxlen + qlen
    D = np.full((nc, maxlen + 2, qlen + 2), maxdist, dtype=np.int64)
    D[:, 1, 1:] = np.arange(qlen + 1)
    D[:, 1:, 1] = np.arange(maxlen + 1)
    da = np.zeros((nc, n_sym), dtype=np.int64)
    ar = np.arange(nc)
    for i in range(1, maxlen + 1):
        ai = mat[:, i - 1]
        db = np.zeros(nc, dtype=np.int64)
        for j in range(1, qlen + 1):
            bj = q[j - 1]
            k = da[:, bj]
            l_ = db
            match = ai == bj
            cost = (~match).astype(np.int64)
            db = np.where(match, j, db)
            sub = D[:, i, j] + cost          # (i-1, j-1) + cost
            ins = D[:, i + 1, j] + 1         # (i, j-1) + 1
            dele = D[:, i, j + 1] + 1        # (i-1, j) + 1
            # transposition: (k-1, l-1) + (i-k-1) + 1 + (j-l-1)
            tr = (D[ar, k, l_] + (i - k - 1) + 1 + (j - l_ - 1))
            tr = np.where((k > 0) & (l_ > 0), tr, maxdist)
            D[:, i + 1, j + 1] = np.minimum(
                np.minimum(sub, ins), np.minimum(dele, tr))
        da[ar, ai] = i
    dist = D[ar, clens + 1, qlen + 1]
    keep = dist <= max_edits
    return cand[keep], dist[keep]


def suggest_terms(
    searcher,
    text: str,
    max_edits: int = 2,
    k: int = 5,
    mode: str = "missing",
    string_distance: str = "levenshtein",
) -> list[tuple[str, str, int, int]]:
    """Term suggester (OpenSearch ``suggest: {term}`` — the "did you
    mean" box): per input token, the top-*k* vocabulary corrections
    within *max_edits* edits, ranked by
    (distance ASC, df DESC, term ASC) — OpenSearch's score-then-
    frequency order made fully deterministic.  *string_distance*
    selects the metric, mirroring the DSL option: "levenshtein"
    (plain unit-cost) or "damerau_levenshtein" (character swaps cost
    one edit — the engine-internal default OpenSearch ships; full
    Lowrance-Wagner, damerau_within, DuckDB twin).  ``mode="missing"``
    (OpenSearch default) suggests only for tokens ABSENT from the index;
    ``"always"`` suggests for every token (the token itself never
    appears — distance 0 is excluded).  Returns (token, suggestion,
    distance, df) rows.  Vocabulary-bounded like every MultiTermQuery
    rewrite: one vocabulary scan + the vectorized DP, never corpus-bounded.

    Reference anchor: the reference delegates search UX to OpenSearch
    (opensearch sink); the suggester is part of that serving surface."""
    if mode not in ("missing", "always"):
        raise ValueError(f"unknown suggest mode {mode!r}")
    if string_distance not in ("levenshtein", "damerau_levenshtein"):
        raise ValueError(f"unknown string_distance {string_distance!r}")
    toks = []
    for t in tokenize(text):
        if t not in toks:
            toks.append(t)
    if not toks:
        return []
    vocab = sorted(set(_vocab(searcher).to_pylist()))
    vocab_set = set(vocab)
    out: list[tuple[str, str, int, int]] = []
    for tok in toks:
        if mode == "missing" and tok in vocab_set:
            continue
        idx, dist = (
            damerau_within(vocab, tok, max_edits)
            if string_distance == "damerau_levenshtein"
            else levenshtein_within(vocab, tok, max_edits)
        )
        keep = dist > 0  # never suggest the token itself
        idx, dist = idx[keep], dist[keep]
        if idx.size == 0:
            continue
        cands = [vocab[i] for i in idx]
        ids = {xxh64_signed(t): t for t in cands}
        from ..hashing import pmod

        buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
        dfs = searcher.term_stats(ids, buckets)
        ranked = sorted(
            (
                (int(d), -dfs.get(xxh64_signed(t), 0), t)
                for t, d in zip(cands, dist)
                if dfs.get(xxh64_signed(t), 0) > 0
            ),
        )[:k]
        out.extend((tok, t, d, -negdf) for d, negdf, t in ranked)
    return out


def suggest_completion(
    searcher, prefix: str, k: int = 5
) -> list[tuple[str, int]]:
    """Completion suggester (OpenSearch ``suggest: {completion}`` —
    search-as-you-type): the top-*k* vocabulary terms with *prefix*,
    ranked by (df DESC, term ASC) and returned as (term, df) rows.
    OpenSearch ranks completions by an indexed per-suggestion weight;
    document frequency is the corpus-derived analog, deterministic and
    oracle-pinnable.  One vocabulary scan + one termstats
    lookup — vocabulary-bounded, never corpus-bounded (no max_expansions
    cap: nothing downstream is per-expansion).  Stored df counts every
    indexed doc, like OpenSearch completion weights, so terms appearing
    only in since-deleted docs still suggest until a merge folds the
    tombstones in."""
    ranked = sorted(
        completion_candidates(searcher, prefix), key=lambda x: (-x[1], x[0])
    )
    return ranked[:k]


def phrase_token_candidates(
    searcher, toks, max_edits: int = 1, per_token: int = 3,
) -> list[list[tuple[str, int, int]]]:
    """Per-token correction candidates for the phrase suggester: for
    each input token, (term, distance, df) rows — the token itself at
    distance 0 when it's in the vocabulary, plus the top *per_token*
    corrections at distance ∈ [1, max_edits] ranked (distance ASC,
    df DESC, term ASC).  The cross-period family fold re-ranks these
    after summing per-period dfs (UNCUT per period would be exact; the
    per-token cut is the deterministic generator cap OpenSearch's
    direct_generator applies per shard)."""
    vocab = sorted(set(_vocab(searcher).to_pylist()))
    from ..hashing import pmod

    out: list[list[tuple[str, int, int]]] = []
    for tok in toks:
        idx, dist = levenshtein_within(vocab, tok, max_edits)
        cands = [vocab[i] for i in idx]
        ids = {xxh64_signed(t): t for t in cands}
        buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
        dfs = searcher.term_stats(ids, buckets) if ids else {}
        rows: list[tuple[str, int, int]] = []
        corr: list[tuple[int, int, str]] = []
        for t, d in zip(cands, dist):
            df = dfs.get(xxh64_signed(t), 0)
            if df <= 0:
                continue
            if int(d) == 0 and t == tok:
                rows.append((t, 0, df))
            elif int(d) > 0:
                corr.append((int(d), -df, t))
        rows.extend(
            (t, d, -negdf) for d, negdf, t in sorted(corr)[:per_token]
        )
        out.append(rows)
    return out


def suggest_phrase(
    searcher, text: str, max_edits: int = 1, per_token: int = 3,
    max_errors: int = 2, k: int = 5,
) -> list[tuple[str, int, int]]:
    """Phrase suggester (OpenSearch ``suggest: {phrase}`` — whole-query
    "did you mean"): candidate corrections are generated per token
    (the term-suggester machinery, capped at *per_token* per position),
    composed into whole phrases with 1 ≤ total edits ≤ *max_errors*,
    and ranked by (total edits ASC, Π df DESC, phrase ASC).  OpenSearch
    ranks by a smoothed unigram/bigram LM score; with a FIXED token
    count the exact integer df-product orders identically to the
    unigram log-likelihood sum — deterministic and SQL-pinnable with no
    float in sight.  Returns (phrase, total_edits, df_product) rows.
    Vocabulary-bounded: one vocabulary scan, ≤ per_token+1 candidates per
    position, ≤ Π(per_token+1) composed phrases."""
    import itertools

    toks = tokenize(text)
    if not toks:
        return []
    per_tok = phrase_token_candidates(searcher, toks, max_edits, per_token)
    if any(not rows for rows in per_tok):
        return []  # an uncorrectable position → no whole-phrase suggestion
    ranked = []
    for combo in itertools.product(*per_tok):
        total = sum(d for _, d, _ in combo)
        if not 1 <= total <= max_errors:
            continue
        prod = 1
        for _, _, df in combo:
            prod *= df
        phrase = " ".join(t for t, _, _ in combo)
        ranked.append((total, -prod, phrase))
    ranked.sort()
    return [(p, t, -negprod) for t, negprod, p in ranked[:k]]


def search_match_bool_prefix(
    searcher,
    text: str,
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """match_bool_prefix query (OpenSearch ``match_bool_prefix`` —
    search-as-you-type over a bool query): every token but the last is a
    should term, the LAST token expands as a prefix; the whole set
    scores through the scoring-boolean rewrite (each term/expansion its
    own idf).  A full token that also matches the prefix participates
    once (set-union clause semantics, same rule as phrase_prefix's
    exact-term inclusion).  Vocabulary-bounded like every MultiTermQuery
    rewrite."""
    toks = tokenize(text)
    if not toks:
        return []
    *full, last = toks
    terms = sorted(set(full) | set(
        expand_prefix(searcher, last, max_expansions)
    ))
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


def completion_candidates(searcher, prefix: str) -> list[tuple[str, int]]:
    """ALL (term, df) completions of *prefix* — the UNCUT candidate set
    suggest_completion ranks, and the foldable partial the family
    cross-period suggester sums (a per-period top-k cut before the df
    fold would be unsound: a term just below k in every period can be
    the global winner)."""
    col = _vocab(searcher)
    cands = sorted(set(col.filter(
        pc.starts_with(col, pattern=prefix)
    ).to_pylist()))
    if not cands:
        return []
    from ..hashing import pmod

    ids = {xxh64_signed(t): t for t in cands}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    return [
        (t, int(dfs.get(xxh64_signed(t), 0))) for t in cands
        if dfs.get(xxh64_signed(t), 0) > 0
    ]


def expand_fuzzy(
    searcher,
    term: str,
    max_edits: int = 2,
    prefix_len: int = 0,
    max_expansions: int = 1024,
    transpositions: bool = False,
) -> list[str]:
    """Concrete terms within *max_edits* edits of *term*, from the term
    dictionary (Lucene FuzzyQuery): transpositions=False is plain
    Levenshtein (DuckDB ``levenshtein`` twin); transpositions=True — the
    OpenSearch DSL default — counts a character swap as ONE edit via
    full Damerau-Levenshtein (DuckDB ``damerau_levenshtein`` twin,
    damerau_within).  *prefix_len* requires that many leading chars to
    match exactly (Lucene's prefixLength), pruning the scan arrow-side
    before the DP.  Vocabulary-bounded, never corpus-bounded — at web
    scale |vocab| grows ~Heaps-law sublinearly and the hive-partitioned
    termstats scan parallelizes per bucket."""
    col = _vocab(searcher)
    if prefix_len > 0:
        col = col.filter(pc.starts_with(col, pattern=term[:prefix_len]))
    vocab = sorted(set(col.to_pylist()))
    if transpositions:
        idx, _ = damerau_within(vocab, term, max_edits)
        terms = [vocab[i] for i in idx.tolist()]
    else:
        mask = levenshtein_leq(vocab, term, max_edits)
        terms = [t for t, m in zip(vocab, mask) if m]
    if len(terms) > max_expansions:
        raise ValueError(
            f"fuzzy '{term}'~{max_edits} expands to {len(terms)} terms "
            f"(> max_expansions={max_expansions})"
        )
    return terms


def search_fuzzy(
    searcher,
    term: str,
    k: int = 10,
    max_edits: int = 2,
    prefix_len: int = 0,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
    transpositions: bool = False,
) -> list[tuple[int, float]]:
    """Fuzzy top-k: Levenshtein (or Damerau, transpositions=True)
    dictionary expansion → scoring-boolean rewrite (each expanded term
    scores with its own idf — SCORING_BOOLEAN_REWRITE, like prefix)."""
    terms = expand_fuzzy(searcher, term, max_edits, prefix_len,
                         max_expansions, transpositions)
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


# ----------------------------------------------------------- more_like_this

def mlt_select_terms(
    searcher,
    like_text: str,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> list[str]:
    """Lucene MoreLikeThis term selection over an artificial document
    (OpenSearch `more_like_this` with a `like` text): candidate terms are
    the like-text's tokens passing the tf/df floors, ranked by
    tf_in_like × idf (rounded to 6 dp, then term ASC — a deterministic
    tie rule the SQL oracle reproduces), truncated to *max_query_terms*.
    A doc_id variant would need a forward index / stored term vectors,
    which this engine deliberately does not keep — pass the document's
    text instead."""
    toks = tokenize(like_text)
    if not toks:
        return []
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    terms = sorted(t for t, c in tf.items() if c >= min_term_freq)
    ids = {xxh64_signed(t): t for t in terms}
    from ..hashing import pmod

    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    cand = []
    for i, t in ids.items():
        df = dfs.get(i, 0)
        if df < max(1, min_doc_freq):
            continue
        w = round(tf[t] * idf_value(searcher.n_docs, df), 6)
        cand.append((-w, t))
    cand.sort()
    return [t for _w, t in cand[:max_query_terms]]


def search_more_like_this(
    searcher,
    like_text: str,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """more_like_this top-k: MLT term selection → unboosted should-group
    BM25 (each selected term keeps its own idf)."""
    terms = mlt_select_terms(
        searcher, like_text, max_query_terms, min_term_freq, min_doc_freq
    )
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


# -------------------------------------------------------------- term range

def expand_term_range(
    searcher,
    lower: str | None,
    upper: str | None,
    include_lower: bool = True,
    include_upper: bool = False,
    max_expansions: int = 1024,
) -> list[str]:
    """Concrete terms in the lexicographic range [lower, upper) (bounds
    inclusive/exclusive per flags; None = open end) from the term
    dictionary — Lucene TermRangeQuery.  Same vocabulary-bounded scan as
    prefix/fuzzy/wildcard."""
    col = _vocab(searcher)
    m = None
    if lower is not None:
        c = pc.greater_equal(col, lower) if include_lower else pc.greater(col, lower)
        m = c
    if upper is not None:
        c = pc.less_equal(col, upper) if include_upper else pc.less(col, upper)
        m = c if m is None else pc.and_(m, c)
    terms = sorted(set((col.filter(m) if m is not None else col).to_pylist()))
    if len(terms) > max_expansions:
        raise ValueError(
            f"range [{lower!r},{upper!r}] expands to {len(terms)} terms "
            f"(> max_expansions={max_expansions})"
        )
    return terms


def search_term_range(
    searcher,
    lower: str | None,
    upper: str | None,
    k: int = 10,
    include_lower: bool = True,
    include_upper: bool = False,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Term-range top-k: dictionary expansion → scoring-boolean rewrite."""
    terms = expand_term_range(
        searcher, lower, upper, include_lower, include_upper, max_expansions
    )
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


# ---------------------------------------------------------------- wildcard

def glob_to_regex(pattern: str) -> str:
    """Lucene WildcardQuery glob (* = any run, ? = one char) → anchored
    RE2 regex for the arrow-side vocabulary match."""
    import re as _re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(_re.escape(ch))
    return "^" + "".join(parts) + "$"


def expand_wildcard(
    searcher, pattern: str, max_expansions: int = 1024
) -> list[str]:
    """Concrete terms matching the glob *pattern* from the term dictionary
    (Lucene WildcardQuery).  Same vocabulary-bounded scan as prefix/fuzzy."""
    col = _vocab(searcher)
    m = pc.match_substring_regex(col, pattern=glob_to_regex(pattern))
    terms = sorted(set(col.filter(m).to_pylist()))
    if len(terms) > max_expansions:
        raise ValueError(
            f"wildcard '{pattern}' expands to {len(terms)} terms "
            f"(> max_expansions={max_expansions})"
        )
    return terms


def expand_regexp(
    searcher, pattern: str, max_expansions: int = 1024
) -> list[str]:
    """Concrete terms fully matching the RE2 *pattern* (Lucene
    RegexpQuery — anchored, like Lucene's): vocabulary scan, then the
    scoring-boolean rewrite via :func:`search_regexp`."""
    col = _vocab(searcher)
    m = pc.match_substring_regex(col, pattern=f"^(?:{pattern})$")
    terms = sorted(set(col.filter(m).to_pylist()))
    if len(terms) > max_expansions:
        raise ValueError(
            f"regexp '{pattern}' expands to {len(terms)} terms "
            f"(> max_expansions={max_expansions})"
        )
    return terms


def search_regexp(
    searcher,
    pattern: str,
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Regexp top-k: anchored-regex dictionary expansion → scoring-boolean
    rewrite."""
    terms = expand_regexp(searcher, pattern, max_expansions)
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )


def search_wildcard(
    searcher,
    pattern: str,
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Wildcard top-k: glob dictionary expansion → scoring-boolean
    rewrite."""
    terms = expand_wildcard(searcher, pattern, max_expansions)
    if not terms:
        return []
    return search_bool(
        searcher, should=terms, k=k, distributed=distributed,
        tie_round=tie_round,
    )
