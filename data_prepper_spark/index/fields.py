"""Multi-field search over a fields index — Lucene's per-field term
space + MultiFieldQueryParser OR semantics.

A fields index (index/build.py ``build_oneshot_fields``) namespaces
terms as ``field:token``, stores each posting's dl as its FIELD length,
and records per-field corpus stats (docCount, avgFieldLength) in
``stats.fields_json``.  A multi-field query then scores every
(field, token) clause with ITS field's statistics:

    idf(f, t)  = ln(1 + (docCount(f) − df + 0.5) / (df + 0.5))
    norm(f, d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl_f(d)/avgFieldLength(f)))
    score(d)   = Σ over matching clauses  boost(f) · idf · norm

exactly BM25Similarity applied per field, summed by BooleanQuery — the
reference's opensearch sink delegates the same multi-field `fields:`
queries to Lucene.  Accumulation runs in sorted namespaced-term order,
so scores stay bit-reproducible against the SQL oracle.

Scoring is brute over the match union (a fields index's stored
block_ubs are baked with the mixed global avgdl and are NOT valid
per-field bounds — BMW is deliberately not used here).  Serving mirrors
the other query paths: driver (bucket-pruned pyarrow read) and
distributed (per-docID-range applyInPandas + global TakeOrdered).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..hashing import pmod, xxh64_signed
from ..textproc import tokenize
from .scoring import TermSlice, idf_value, score_brute, term_views, topk_select


def _field_slices(views, term_field, field_stats, boosts):
    """Live TermSlices with per-field idf/avgdl attached (full decode —
    the OR-union needs every posting)."""
    subs = []
    for i, v in views.items():
        f = term_field[i]
        for s in v.term_slices():
            subs.append(
                TermSlice(
                    s.term, s.idf * boosts.get(f, 1.0), s.doc_ids, s.tfs,
                    s.dls, s.block_firsts, s.block_ubs,
                    avgdl=field_stats[f]["avgdl"],
                )
            )
    return subs


def search_fields(
    searcher,
    field_queries: dict[str, str],
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
    field_boosts: dict[str, float] | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score): OR across every (field, token) clause, each
    scored with its field's BM25 statistics.  *field_boosts* multiplies a
    field's clauses (MultiFieldQueryParser boost map)."""
    fs = searcher.field_stats
    if not fs:
        raise ValueError(
            f"{searcher.index_dir} is not a fields index (no fields_json "
            "in stats) — build with build_oneshot_fields"
        )
    boosts = dict(field_boosts or {})
    unknown = (set(field_queries) | set(boosts)) - set(fs)
    if unknown:
        raise ValueError(f"unknown fields {sorted(unknown)}; have {sorted(fs)}")
    terms: dict[str, str] = {}  # namespaced term -> field
    for f, q in field_queries.items():
        for t in sorted(set(tokenize(q))):
            terms[f"{f}:{t}"] = f
    if not terms:
        return []
    ids = {xxh64_signed(t): t for t in terms}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    term_field = {i: terms[t] for i, t in ids.items()}
    # per-clause idf from the FIELD's docCount (Lucene per-field idf)
    idf = {
        i: idf_value(fs[term_field[i]]["n_docs"], dfs[i]) for i in ids
    }
    if distributed:
        return _search_fields_distributed(
            searcher, ids, buckets, term_field, idf, boosts, k, tie_round
        )
    cfg = searcher.cfg
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    da, sc = score_brute(
        _field_slices(views, term_field, fs, boosts), cfg.k1, cfg.b,
        searcher.avgdl,
    )
    if da.size == 0:
        return []
    if tie_round is not None:
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _dismax_combine(per_field: dict, tie_breaker: float):
    """{field: (doc_ids, scores)} → (doc_ids, max + tie·(sum − max)) —
    DisjunctionMaxQuery's score shape, fields accumulated in sorted-name
    order for bit-reproducibility."""
    parts = [per_field[f] for f in sorted(per_field)]
    union = np.unique(np.concatenate([ids for ids, _ in parts]))
    mx = np.zeros(union.size, dtype=np.float64)
    sm = np.zeros(union.size, dtype=np.float64)
    for ids, sc in parts:
        idx = np.searchsorted(union, ids)
        np.maximum.at(mx, idx, sc)
        sm[idx] += sc
    return union, mx + tie_breaker * (sm - mx)


def _dismax_eval(views, term_field, fs, boosts, tie_breaker, k1, b, avgdl):
    """Dis-max evaluation: per-field brute scores, combined."""
    by_field: dict[str, list] = {}
    for i in views:
        by_field.setdefault(term_field[i], []).append(i)
    per_field = {}
    for f, keys in by_field.items():
        subs = _field_slices(
            {i: views[i] for i in keys}, term_field, fs, boosts
        )
        if subs:
            per_field[f] = score_brute(subs, k1, b, avgdl)
    if not per_field:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return _dismax_combine(per_field, tie_breaker)


def search_dismax(
    searcher,
    field_queries: dict[str, str],
    k: int = 10,
    tie_breaker: float = 0.0,
    distributed: bool = False,
    tie_round: int | None = None,
    field_boosts: dict[str, float] | None = None,
) -> list[tuple[int, float]]:
    """Best-fields multi-field search (Lucene DisjunctionMaxQuery /
    OpenSearch `multi_match best_fields`): each field's subquery scores
    independently (per-field BM25 stats), a doc's score is its BEST
    field's score plus ``tie_breaker`` × the rest — rewarding the doc
    whose single field matches well over one spreading terms thinly
    across fields.  tie_breaker=1 degenerates to the summing
    `search_fields`."""
    fs = searcher.field_stats
    if not fs:
        raise ValueError(
            f"{searcher.index_dir} is not a fields index (no fields_json "
            "in stats) — build with build_oneshot_fields"
        )
    boosts = dict(field_boosts or {})
    unknown = (set(field_queries) | set(boosts)) - set(fs)
    if unknown:
        raise ValueError(f"unknown fields {sorted(unknown)}; have {sorted(fs)}")
    terms: dict[str, str] = {}
    for f, q in field_queries.items():
        for t in sorted(set(tokenize(q))):
            terms[f"{f}:{t}"] = f
    if not terms:
        return []
    ids = {xxh64_signed(t): t for t in terms}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    term_field = {i: terms[t] for i, t in ids.items()}
    idf = {i: idf_value(fs[term_field[i]]["n_docs"], dfs[i]) for i in ids}
    cfg = searcher.cfg
    if distributed:
        avgdl, deleted = searcher.avgdl, searcher.deleted

        def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
            views = term_views(
                pdf.to_dict("records"), ids, idf, cfg.block_size, deleted
            )
            i_r, s_r = _dismax_eval(
                views, term_field, fs, boosts, tie_breaker, cfg.k1, cfg.b,
                avgdl,
            )
            return pd.DataFrame({"doc_id": i_r, "score": s_r})

        scored = (
            searcher._pruned_slices(list(ids), buckets)
            .groupBy("range_id")
            .applyInPandas(eval_range, schema="doc_id long, score double")
        )
        if tie_round is not None:
            ordered = scored.orderBy(
                F.round(F.col("score"), tie_round).desc(), F.asc("doc_id")
            )
        else:
            ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in ordered.limit(k).collect()
        ]
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    da, sc = _dismax_eval(
        views, term_field, fs, boosts, tie_breaker, cfg.k1, cfg.b,
        searcher.avgdl,
    )
    if da.size == 0:
        return []
    if tie_round is not None:
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _search_fields_distributed(
    searcher, labels, buckets, term_field, idf, boosts, k, tie_round
):
    cfg, avgdl = searcher.cfg, searcher.avgdl
    deleted = searcher.deleted
    fs = searcher.field_stats

    def eval_range(pdf: pd.DataFrame) -> pd.DataFrame:
        views = term_views(
            pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        subs = _field_slices(views, term_field, fs, boosts)
        if not subs:
            return pd.DataFrame({"doc_id": [], "score": []})
        i_r, s_r = score_brute(subs, cfg.k1, cfg.b, avgdl)
        return pd.DataFrame({"doc_id": i_r, "score": s_r})

    scored = (
        searcher._pruned_slices(list(labels), buckets)
        .groupBy("range_id")
        .applyInPandas(eval_range, schema="doc_id long, score double")
    )
    if tie_round is not None:
        ordered = scored.orderBy(
            F.round(F.col("score"), tie_round).desc(), F.asc("doc_id")
        )
    else:
        ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    out = ordered.limit(k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in out]
