"""Score-shaping serving surfaces over the BM25 core: field collapsing,
boosting (demote-not-exclude), top-window rescoring, and the explain API.

OpenSearch/Lucene behaviors being recast (the reference routes search to
OpenSearch — opensearch sink, SURVEY §2.10):

- ``collapse``: top-k hits with at most one hit per distinct value of a
  docvalues field, ranked by the group winner's score; the winner is the
  group's best hit under the oracle tie rule.  Scale shape: per-docID-range
  cogroup of postings × docmeta — each range emits only its per-key winner
  plus a per-key count partial, so shuffle traffic is bounded by
  (ranges × keys), never by the match count.
- ``boosting`` query: docs matching the positive clause are scored normally;
  docs ALSO matching the negative clause keep their rank but at
  ``score × negative_boost`` (Lucene BoostingQuery — demotion, not the
  must_not exclusion boolquery.py already serves).
- ``rescore``: re-rank the top-``window_size`` hits of the primary query by
  ``query_weight · primary + rescore_weight · secondary`` (score_mode=total)
  — the classic two-stage ranking shape: a cheap first pass everywhere, an
  expensive second pass on a bounded window.
- ``_explain``: the per-(query, doc) BM25 term breakdown (tf, df, idf,
  length-norm contribution) OpenSearch returns from the _explain endpoint.

All ranking uses the SQL oracle's tie rule (round(score, tie_round) DESC,
doc_id ASC) so every surface is oracle-pinnable.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .filtered import _UNION_COLS, _union_docids_rows
from .scoring import (
    _member_sorted, _tf_norm, idf_value, score_brute, term_views, view_slices,
)


def _field_for_ids(searcher, doc_ids: np.ndarray, field: str) -> np.ndarray:
    """Docvalues column values aligned to *doc_ids* (all of which exist in
    docmeta — they came out of the index).  Uses the searcher's budget-
    gated docvalues cache when available, else one column-pruned scan."""
    from .filtered import _DVOverBudget, _DV_DISABLED, _docvalues

    try:
        dv = _docvalues(searcher)
        meta_ids, vals = dv.ids(), dv.np_col(field)
    except _DVOverBudget:
        import pyarrow.dataset as pads

        searcher._dv_cache = _DV_DISABLED
        tbl = pads.dataset(f"{searcher.index_dir}/docmeta").to_table(
            columns=["doc_id", field]
        )
        meta_ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(meta_ids, kind="stable")
        meta_ids = meta_ids[order]
        vals = tbl[field].to_numpy(zero_copy_only=False)[order]
    return vals[np.searchsorted(meta_ids, doc_ids)]


def _collapse_fold(keys, da, sc, tie_round):
    """(winner_mask, counts_per_winner) — per distinct key, the index of
    the best (round(score) DESC, doc_id ASC) hit, plus the key's total
    match count.  Vectorized; ranks are a permutation so the winner per
    group is unique."""
    uniq, inv = np.unique(keys, return_inverse=True)
    order = np.lexsort((da, -np.round(sc, tie_round)))
    rank = np.empty(da.size, dtype=np.int64)
    rank[order] = np.arange(da.size)
    best = np.full(uniq.size, da.size, dtype=np.int64)
    np.minimum.at(best, inv, rank)
    win = np.flatnonzero(rank == best[inv])
    counts = np.bincount(inv, minlength=uniq.size)
    return win, counts[inv[win]]


def search_collapsed(
    searcher,
    query_text: str,
    field: str,
    k: int = 10,
    tie_round: int = 4,
    distributed: bool = False,
) -> list[tuple[object, int, float, int]]:
    """Field-collapsed top-k: [(key, doc_id, score, group_count)] ranked by
    the group winner's (round(score, tie_round) DESC, doc_id ASC), one row
    per distinct *field* value, top-k groups.  group_count = total matching
    docs in the group (OpenSearch returns it as the collapsed total)."""
    if distributed:
        return _collapsed_distributed(searcher, query_text, field, k, tie_round)
    hits = searcher.search_all(query_text)
    if not hits:
        return []
    da = np.asarray([d for d, _ in hits], dtype=np.int64)
    sc = np.asarray([s for _, s in hits], dtype=np.float64)
    keys = _field_for_ids(searcher, da, field)
    win, counts = _collapse_fold(keys, da, sc, tie_round)
    order = np.lexsort((da[win], -np.round(sc[win], tie_round)))[:k]
    sel, n_sel = win[order], counts[order]
    return [
        (
            keys[i].item() if hasattr(keys[i], "item") else keys[i],
            int(da[i]), float(sc[i]), int(n),
        )
        for i, n in zip(sel, n_sel)
    ]


def _collapsed_distributed(searcher, query_text, field, k, tie_round):
    """Scale path: postings × docmeta cogrouped per docID range; each range
    emits (key, winner doc, winner score, key count) partials — the global
    combine re-folds winners (a key spans ranges) and sums counts."""
    from .tokenize import range_id_col

    _, ids, buckets = searcher._terms_buckets(query_text)
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in ids}
    cfg = searcher.cfg
    deleted = searcher.deleted
    k1, b, avgdl = cfg.k1, cfg.b, searcher.avgdl
    labels = dict(ids)

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"key": [], "doc_id": [], "score": [], "n": []})
        if post_pdf.empty or meta_pdf.empty:
            return empty
        views = term_views(
            post_pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        da, sc = score_brute(view_slices(views), k1, b, avgdl)
        if da.size == 0:
            return empty
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(meta_ids)
        meta_ids = meta_ids[order]
        kv = meta_pdf["k"].to_numpy()[order]
        keys = kv[np.searchsorted(meta_ids, da)]
        win, counts = _collapse_fold(keys, da, sc, tie_round)
        return pd.DataFrame(
            {"key": keys[win], "doc_id": da[win], "score": sc[win],
             "n": counts.astype(np.int64)}
        )

    meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta").select(
        range_id_col(cfg).alias("range_id"), "doc_id", F.col(field).alias("k")
    )
    ts = dict(meta.dtypes)["k"]
    k_t = "string" if ts == "string" else "bigint" if ts in (
        "bigint", "int", "smallint", "tinyint") else "double"
    from pyspark.sql import Window

    partials = (
        searcher._pruned_slices(list(ids), buckets)
        .groupBy("range_id")
        .cogroup(meta.groupBy("range_id"))
        .applyInPandas(
            eval_cog, schema=f"key {k_t}, doc_id long, score double, n long"
        )
    )
    r = F.round(F.col("score"), tie_round)
    w = Window.partitionBy("key").orderBy(r.desc(), F.asc("doc_id"))
    rows = (
        partials.withColumn("n_g", F.sum("n").over(Window.partitionBy("key")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .orderBy(r.desc(), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    return [
        (row["key"], int(row["doc_id"]), float(row["score"]), int(row["n_g"]))
        for row in rows
    ]


def search_boosting(
    searcher,
    positive_text: str,
    negative_text: str,
    negative_boost: float = 0.5,
    k: int = 10,
    tie_round: int = 4,
    distributed: bool = False,
) -> list[tuple[int, float]]:
    """Lucene BoostingQuery: BM25 top-k of the positive disjunction, with
    docs that also match ANY negative term demoted to
    ``score × negative_boost`` (they stay in the result set — the contrast
    with boolquery's must_not exclusion)."""
    if distributed:
        return _boosting_distributed(
            searcher, positive_text, negative_text, negative_boost, k, tie_round
        )
    hits = searcher.search_all(positive_text)
    if not hits:
        return []
    da = np.asarray([d for d, _ in hits], dtype=np.int64)
    sc = np.asarray([s for _, s in hits], dtype=np.float64)
    neg = _negative_docids(searcher, negative_text)
    sc = np.where(_member_sorted(da, neg), sc * negative_boost, sc)
    order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
    return [(int(da[i]), float(sc[i])) for i in order]


def _negative_docids(searcher, negative_text: str) -> np.ndarray:
    """Sorted union of the negative clause's matching docIDs (docID
    streams only — no tf/dl decode)."""
    _, nids, nbuckets = searcher._terms_buckets(negative_text)
    ndfs = searcher.term_stats(nids, nbuckets)
    nids = {i: t for i, t in nids.items() if ndfs.get(i, 0) > 0}
    if not nids:
        return np.empty(0, dtype=np.int64)
    rows = searcher._pruned_slice_rows(list(nids), nbuckets, columns=_UNION_COLS)
    if not rows:
        return np.empty(0, dtype=np.int64)
    return _union_docids_rows(rows)


def _boosting_distributed(
    searcher, positive_text, negative_text, negative_boost, k, tie_round
):
    """Per-docID-range applyInPandas: positive scoring and negative
    membership close inside a range (the boolquery distributed shape),
    demotion applied locally, global TakeOrdered under the tie rule."""
    from ..hashing import pmod, xxh64_signed
    from ..textproc import tokenize

    _, pids, _pb = searcher._terms_buckets(positive_text)
    pdfs = searcher.term_stats(
        pids, sorted({pmod(i, searcher.cfg.n_buckets) for i in pids})
    )
    pids = {i: t for i, t in pids.items() if pdfs.get(i, 0) > 0}
    if not pids:
        return []
    nids = {xxh64_signed(t): t for t in tokenize(negative_text)}
    nbk = sorted({pmod(i, searcher.cfg.n_buckets) for i in nids})
    ndfs = searcher.term_stats(nids, nbk)
    nids = {i: t for i, t in nids.items() if ndfs.get(i, 0) > 0}
    all_ids = {**pids, **nids}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in all_ids})
    idf = {i: idf_value(searcher.n_docs, pdfs[i]) for i in pids}
    cfg = searcher.cfg
    deleted = searcher.deleted
    k1, b, avgdl, nb = cfg.k1, cfg.b, searcher.avgdl, float(negative_boost)
    pos_set, labels = set(pids), dict(all_ids)

    def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
        pos_rows, neg_rows = [], []
        for r in pdf.to_dict("records"):
            (pos_rows if int(r["term_id"]) in pos_set else neg_rows).append(r)
        slices = view_slices(
            term_views(pos_rows, labels, idf, cfg.block_size, deleted)
        )
        if not slices:
            return pd.DataFrame({"doc_id": [], "score": []})
        da, sc = score_brute(slices, k1, b, avgdl)
        if neg_rows:
            neg = _union_docids_rows(neg_rows)
            sc = np.where(_member_sorted(da, neg), sc * nb, sc)
        return pd.DataFrame({"doc_id": da, "score": sc})

    scored = (
        searcher._pruned_slices(list(all_ids), buckets)
        .groupBy("range_id")
        .applyInPandas(eval_range, schema="doc_id long, score double")
    )
    r = F.round(F.col("score"), tie_round)
    out = scored.orderBy(r.desc(), F.asc("doc_id")).limit(k).collect()
    return [(int(row["doc_id"]), float(row["score"])) for row in out]


def search_rescored(
    searcher,
    query_text: str,
    rescore_text: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 10,
    tie_round: int = 4,
) -> list[tuple[int, float, float, float]]:
    """Two-stage ranking (OpenSearch ``rescore``, score_mode=total): the
    primary query's top-``window_size`` hits — window membership under the
    tie rule, so it is deterministic and oracle-matchable — re-ranked by
    ``query_weight · primary + rescore_weight · secondary`` where secondary
    is the rescore query's BM25 (0 when the doc doesn't match it).
    Returns [(doc_id, combined, primary, secondary)].

    Scale shape: the primary pass is the engine's standard top-k (BMW /
    distributed TakeOrdered); the second pass touches only ``window_size``
    docs, so its cost is O(window), independent of corpus size."""
    prim = searcher.search_all(query_text)
    if not prim:
        return []
    da = np.asarray([d for d, _ in prim], dtype=np.int64)
    sc = np.asarray([s for _, s in prim], dtype=np.float64)
    order = np.lexsort((da, -np.round(sc, tie_round)))[:window_size]
    wda, wsc = da[order], sc[order]
    sec_map = dict(searcher.search_all(rescore_text))
    sec = np.asarray([sec_map.get(int(d), 0.0) for d in wda], dtype=np.float64)
    comb = query_weight * wsc + rescore_weight * sec
    sel = np.lexsort((wda, -np.round(comb, tie_round)))[:k]
    return [
        (int(wda[i]), float(comb[i]), float(wsc[i]), float(sec[i]))
        for i in sel
    ]


def explain_bm25(
    searcher, query_text: str, doc_ids: list[int], tie_round: int = 4
) -> list[tuple[int, str, int, int, float]]:
    """The _explain breakdown: for each requested doc, one row per query
    term PRESENT in the doc — (doc_id, term, tf, df, contribution) where
    contribution = idf(df) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)); the
    doc's score is the sum of its rows.  Rows sorted (doc_id, term)."""
    if not doc_ids:
        return []
    _, ids, buckets = searcher._terms_buckets(query_text)
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    want = np.unique(np.asarray(doc_ids, dtype=np.int64))
    k1, b, avgdl = searcher.cfg.k1, searcher.cfg.b, searcher.avgdl
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in ids}
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        searcher.cfg.block_size, searcher.deleted,
    )
    out = []
    for tid, v in views.items():
        for s in v.term_slices():
            m = _member_sorted(s.doc_ids, want)
            if not m.any():
                continue
            contrib = s.idf * _tf_norm(s.tfs[m], s.dls[m], k1, b, avgdl)
            for d, tf, c in zip(s.doc_ids[m].tolist(), s.tfs[m].tolist(),
                                contrib.tolist()):
                out.append((int(d), s.term, int(tf), int(dfs[tid]), float(c)))
    out.sort(key=lambda t: (t[0], t[1]))
    return out
