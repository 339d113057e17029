"""Exact phrase queries over a POSITIONAL index (cfg.positions=True).

Classic positional-postings phrase match: for phrase terms t0..t(m-1),
doc d matches with tf_phrase = |{p : p ∈ P(t0,d), p+j ∈ P(tj,d) ∀j}|,
scored with BM25 where tf is the phrase occurrence count and df is the
number of matching docs (Lucene's PhraseQuery semantics).

Execution is the engine's standard scale shape:
  - partition pruning to the phrase terms' term_bucket dirs;
  - per docID-range applyInPandas kernel — positional decode + adjacency
    intersections stay local to a range, so no term's full posting list
    is ever materialized on one node (same story as distributed BM25);
  - the per-range output is only matching (doc_id, tf_phrase, dl) rows —
    tiny — so the global df count + final top-k run over the match set,
    not the posting lists.

Phrase df/idf need the GLOBAL match count, which no per-range kernel
knows — hence the two-pass shape (count matches, then score with the idf
constant folded into a Catalyst expression).  The intermediate is
localCheckpointed so the two passes share one scan.

Reference anchor: the reference routes full-text queries to OpenSearch/
Lucene (opensearch sink, SURVEY §2.10); PhraseQuery is the Lucene
behavior being recast.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..hashing import pmod, xxh64_signed
from ..textproc import tokenize
from .codec import decode_docids, decode_uints

_POS_COLS = ["term_id", "df_slice", "doc_ids", "tfs", "dls", "positions"]


def _gather(rows: list[dict], term_seq: list[int], required: bool = True):
    """Decode the positional slice rows of one docID range into per-term
    (docs, tfs, dls, positions) arrays + the docID intersection of all
    phrase terms.  Returns (T, common, max_pos) or None when any term is
    absent / the intersection is empty.  required=False (union-semantics
    callers: span_or) keeps terms that ARE present, skips absent ones,
    and returns common=None — None overall only when NO term matched."""
    uniq = set(term_seq)
    acc = {t: {"docs": [], "tf": [], "dl": [], "pos": []} for t in uniq}
    max_pos = 0
    for row in rows:
        tid = int(row["term_id"])
        if tid not in uniq:
            continue
        d = decode_docids(bytes(row["doc_ids"]))
        tf = decode_uints(bytes(row["tfs"])).astype(np.int64)
        dl = decode_uints(bytes(row["dls"])).astype(np.int64)
        deltas = decode_uints(bytes(row["positions"])).astype(np.int64)
        # per-doc absolute positions from the delta stream, vectorized:
        # global cumsum minus the cumsum value at each doc's segment start
        cum = np.cumsum(deltas)
        ends = np.cumsum(tf)
        starts = ends - tf
        base = np.where(starts > 0, cum[starts - 1], 0)
        pos = cum - np.repeat(base, tf)
        a = acc[tid]
        a["docs"].append(d)
        a["tf"].append(tf)
        a["dl"].append(dl)
        a["pos"].append(pos)
        if pos.size:
            max_pos = max(max_pos, int(pos.max()))
    T = {}
    for t in uniq:
        if not acc[t]["docs"]:
            if required:
                return None
            continue
        T[t] = (
            np.concatenate(acc[t]["docs"]),
            np.concatenate(acc[t]["tf"]),
            np.concatenate(acc[t]["dl"]),
            np.concatenate(acc[t]["pos"]),
        )
    if not required:
        return (T, None, max_pos) if T else None
    common = None
    for t in term_seq:
        common = (
            np.sort(T[t][0])
            if common is None
            else np.intersect1d(common, T[t][0], assume_unique=True)
        )
        if common.size == 0:
            return None
    return T, common, max_pos


def _match_rows(rows: list[dict], term_seq: list[int]):
    """Adjacency match over one docID-range's slice rows.  Returns
    parallel lists (doc_ids, tf_phrase, dls, first_pos) — the core shared
    by the distributed kernel and the driver serving path.

    Fully vectorized: no per-doc Python loop.  Positions are flattened to
    composite keys (doc_index * stride + position - term_offset) and the
    phrase match is an m-way ``np.intersect1d`` over those key arrays —
    a stopword phrase costs sorts over its posting length, not a Python
    iteration per document."""
    g = _gather(rows, term_seq)
    if g is None:
        return [], [], [], []
    T, common, max_pos = g
    stride = max_pos + len(term_seq) + 2
    keys = None
    for j, t in enumerate(term_seq):
        docs, tf, dl, pos = T[t]
        loc = np.searchsorted(common, docs)
        loc_c = np.minimum(loc, common.size - 1)
        in_common = common[loc_c] == docs
        di = np.repeat(loc_c, tf)
        keep = np.repeat(in_common, tf)
        pj = pos[keep] - j
        di = di[keep]
        ok = pj >= 0
        kj = di[ok] * stride + pj[ok]
        keys = kj if keys is None else np.intersect1d(keys, kj, assume_unique=True)
        if keys is not None and keys.size == 0:
            return [], [], [], []
    di = keys // stride
    pstart = keys % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = common[di[bounds]]
    first = pstart[bounds]
    # dl lookup from the first term's arrays
    d0, _, dl0, _ = T[term_seq[0]]
    o = np.argsort(d0, kind="stable")
    dl_out = dl0[o][np.searchsorted(d0[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def _prox_match_rows(rows: list[dict], term_seq: list[int], slop: int):
    """Ordered proximity match (phrase-with-slop): an occurrence is a
    start position p0 of term 0 from which an ordered chain p0 < p1 < …
    < p(m-1) of the remaining terms fits the window
    ``p(m-1) − p0 ≤ (m−1) + slop``.  The kernel takes the GREEDY chain
    (earliest next occurrence per step, via one ``searchsorted`` over
    composite doc×position keys per term — no per-doc Python loop);
    greedy minimizes the chain end, so the window test is an exact
    existence check.  tf = number of valid start positions, so slop=0
    reproduces the exact-adjacency counts bit-for-bit (pinned by
    tests/test_phrase.py::test_proximity_slop0_equals_exact)."""
    g = _gather(rows, term_seq)
    if g is None:
        return [], [], [], []
    T, common, max_pos = g
    m = len(term_seq)
    stride = max_pos + m + slop + 2
    keys: dict[int, np.ndarray] = {}
    for t in set(term_seq):
        docs, tf, _dl, pos = T[t]
        loc = np.searchsorted(common, docs)
        loc_c = np.minimum(loc, common.size - 1)
        in_common = common[loc_c] == docs
        di = np.repeat(loc_c, tf)
        keep = np.repeat(in_common, tf)
        # sort: the greedy chain's searchsorted needs ascending keys, and a
        # MERGED index concatenates duplicate slices with interleaved
        # docIDs (single-source slices are already ascending — the sort is
        # then a cheap no-op pass)
        keys[t] = np.sort(di[keep] * stride + pos[keep])
    cur = keys[term_seq[0]]
    start = cur
    for t in term_seq[1:]:
        kj = keys[t]
        idx = np.searchsorted(kj, cur, side="right")
        ok = idx < kj.size
        cand = kj[np.minimum(idx, kj.size - 1)]
        ok &= (cand // stride) == (cur // stride)  # chain stays in-doc
        cur, start = cand[ok], start[ok]
        if cur.size == 0:
            return [], [], [], []
    ok = (cur % stride) - (start % stride) <= (m - 1) + slop
    start = start[ok]
    if start.size == 0:
        return [], [], [], []
    di = start // stride
    ps = start % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = common[di[bounds]]
    first = ps[bounds]
    d0, _, dl0, _ = T[term_seq[0]]
    o = np.argsort(d0, kind="stable")
    dl_out = dl0[o][np.searchsorted(d0[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def _range_kernel(term_seq: list[int], slop: int = 0):
    """applyInPandas kernel over one docID-range's slices for the phrase
    terms: decode positions, intersect adjacency (or the greedy proximity
    chain when slop > 0), emit matching docs."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        out_d, out_tf, out_dl, out_fp = (
            _prox_match_rows(rows, term_seq, slop)
            if slop > 0
            else _match_rows(rows, term_seq)
        )
        return pd.DataFrame(
            {"doc_id": out_d, "tf_phrase": out_tf, "dl": out_dl,
             "first_pos": out_fp}
        ).astype({"doc_id": "int64", "tf_phrase": "int64", "dl": "int64",
                  "first_pos": "int64"})

    return fn


def phrase_matches(searcher, phrase_text: str, slop: int = 0,
                   field: str | None = None):
    """Matching docs of an exact phrase (slop=0) or ordered proximity
    phrase (slop>0, see :func:`_prox_match_rows`) as a localCheckpointed
    DataFrame (doc_id, tf_phrase, dl, first_pos) — first_pos is the
    0-based token position of the first occurrence (the highlighting
    hook).  None when the phrase has no terms.

    ``field`` scopes the phrase to one field of a multi-field index
    (terms become field:token; positions are field-local by
    construction, so adjacency is within-field — Lucene's
    field-qualified PhraseQuery)."""
    if not searcher.stats.get("positions"):
        raise ValueError(
            "phrase queries need a positional index (IndexConfig.positions=True)"
        )
    terms = _phrase_terms(searcher, phrase_text, field)
    if not terms:
        return None
    ids = {xxh64_signed(t): t for t in set(terms)}
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    term_seq = [xxh64_signed(t) for t in terms]
    slices = (
        searcher.spark.read.parquet(f"{searcher.index_dir}/postings")
        .filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term_id").isin(list(ids))
        )
        .select("range_id", *_POS_COLS)
    )
    matched = slices.groupBy("range_id").applyInPandas(
        _range_kernel(term_seq, slop),
        schema="doc_id long, tf_phrase long, dl long, first_pos long",
    )
    if searcher.deleted.size:
        # liveDocs mask: tombstoned docs leave the match set, so the
        # phrase df (computed from this frame) counts live matches only.
        # The match set is tiny, so an isin literal suffices here; a
        # large delete backlog would anti-join the tombstone table.
        matched = matched.filter(
            ~F.col("doc_id").isin(searcher.deleted.tolist())
        )
    return matched.localCheckpoint()  # consumers run 2 passes (df count + rank)


def _phrase_terms(searcher, phrase_text: str, field: str | None):
    """Tokenize, optionally namespacing into one field of a fields index."""
    terms = tokenize(phrase_text)
    if field is None:
        return terms
    if field not in searcher.field_stats:
        raise ValueError(
            f"unknown field {field!r}; index has {sorted(searcher.field_stats)}"
        )
    return [f"{field}:{t}" for t in terms]


def _phrase_corpus_stats(searcher, field: str | None):
    """(n_docs, avgdl) for phrase idf/length-norm — the FIELD's stats for
    a field-scoped phrase (posting dls are field lengths there)."""
    if field is None:
        return searcher.n_docs, searcher.avgdl
    fs = searcher.field_stats[field]
    return fs["n_docs"], fs["avgdl"]


def phrase_topk(
    searcher,
    phrase_text: str,
    k: int = 10,
    tie_round: int = 4,
    distributed: bool = True,
    slop: int = 0,
    field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, bm25_phrase_score) for an exact phrase (slop=0) or
    ordered proximity phrase (slop>0), global rank by
    (round(score, tie_round) DESC, doc_id ASC) — the SQL oracle's
    tie rule.  *searcher* is a BM25Searcher over a positional index.

    distributed=True is the scale path (per-range applyInPandas — no
    term's postings on one node); distributed=False is the ms-latency
    serving path: the same adjacency core over a bucket-pruned pyarrow
    read, no Spark job (mirrors BM25Searcher's driver mode)."""
    if not distributed:
        return _phrase_topk_driver(searcher, phrase_text, k, tie_round, slop, field)
    matched = phrase_matches(searcher, phrase_text, slop, field)
    if matched is None:
        return []
    df_p = matched.count()
    if df_p == 0:
        return []
    n, avgdl = _phrase_corpus_stats(searcher, field)
    k1, b = searcher.cfg.k1, searcher.cfg.b
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    score = (
        F.lit(idf)
        * F.col("tf_phrase") * F.lit(k1 + 1.0)
        / (F.col("tf_phrase") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )
    out = (
        matched.withColumn("score", score)
        .orderBy(F.round(F.col("score"), tie_round).desc(), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    return [(int(r["doc_id"]), float(r["score"])) for r in out]


def phrase_match_triples(
    searcher, phrase_text: str, slop: int = 0, field: str | None = None,
) -> tuple[list, list, list]:
    """(docs, tf_phrase, dls) of every doc matching the phrase (slop=0
    exact adjacency, slop>0 ordered proximity) — the driver-mode match
    set WITHOUT scoring, so callers can fold it under different corpus
    stats (the family cross-period phrase search scores per-period
    triples under family-global n/avgdl)."""
    if not searcher.stats.get("positions"):
        raise ValueError(
            "phrase queries need a positional index (IndexConfig.positions=True)"
        )
    terms = _phrase_terms(searcher, phrase_text, field)
    if not terms:
        return [], [], []
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
            _prox_match_rows(rr, term_seq, slop)
            if slop > 0
            else _match_rows(rr, term_seq)
        )
        docs.extend(d)
        tfs.extend(tf)
        dls.extend(dl)
    if searcher.deleted.size and docs:
        from .scoring import _member_sorted

        keep = ~_member_sorted(np.asarray(docs, dtype=np.int64), searcher.deleted)
        docs = [d for d, kp in zip(docs, keep) if kp]
        tfs = [t for t, kp in zip(tfs, keep) if kp]
        dls = [l for l, kp in zip(dls, keep) if kp]
    return docs, tfs, dls


def intervals_match_triples(
    searcher, spec: dict, field: str | None = None,
) -> tuple[list, list, list]:
    """(docs, tf, dls) of every doc matching an intervals *spec* — the
    unscored match set, so the family cross-period fold can score the
    triples under family-global n/avgdl (same contract as
    phrase_match_triples; tf = minimal-interval count)."""
    if not searcher.stats.get("positions"):
        raise ValueError(
            "intervals queries need a positional index "
            "(IndexConfig.positions=True)"
        )
    node, leaves, required = _iv_normalize(searcher, spec, field)
    if not leaves:
        return [], [], []
    leaf_list = sorted(leaves)
    req_list = sorted(required)
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in leaf_list})
    rows = searcher._read_slice_rows(leaf_list, buckets, ["range_id"] + _POS_COLS)
    by_range: dict[int, list] = {}
    for r in rows:
        by_range.setdefault(int(r["range_id"]), []).append(r)
    docs, tfs, dls = [], [], []
    for rr in by_range.values():
        d, tf, dl, _fp = _intervals_match_rows(rr, node, leaf_list, req_list)
        docs.extend(d)
        tfs.extend(tf)
        dls.extend(dl)
    if searcher.deleted.size and docs:
        from .scoring import _member_sorted

        keep = ~_member_sorted(np.asarray(docs, dtype=np.int64), searcher.deleted)
        docs = [d for d, kp in zip(docs, keep) if kp]
        tfs = [t for t, kp in zip(tfs, keep) if kp]
        dls = [l for l, kp in zip(dls, keep) if kp]
    return docs, tfs, dls


def _phrase_topk_driver(
    searcher, phrase_text: str, k: int, tie_round: int, slop: int = 0,
    field: str | None = None,
) -> list[tuple[int, float]]:
    docs, tfs, dls = phrase_match_triples(searcher, phrase_text, slop, field)
    if not docs:
        return []
    df_p = len(docs)
    n, avgdl = _phrase_corpus_stats(searcher, field)
    k1, b = searcher.cfg.k1, searcher.cfg.b
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    da = np.asarray(docs, dtype=np.int64)
    ta = np.asarray(tfs, dtype=np.float64)
    la = np.asarray(dls, dtype=np.float64)
    sc = idf * ta * (k1 + 1.0) / (ta + k1 * (1.0 - b + b * la / avgdl))
    order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
    return [(int(da[i]), float(sc[i])) for i in order]


# ------------------------------------------------- match_phrase_prefix

def _match_rows_alts(rows: list[dict], seq_alts: list[list[int]]):
    """Adjacency match where each phrase position accepts ANY of a set of
    term_ids (the last position of a match_phrase_prefix carries the
    prefix's dictionary expansion; concrete positions are 1-element
    sets).  Same composite-key m-way ``np.intersect1d`` core as
    :func:`_match_rows` — per-(doc, position) keys are unique across
    alternatives because one position holds exactly one token, so the
    per-position union is a plain concatenation.  A position whose
    alternatives are ALL absent from the range kills the match; a missing
    alternative merely contributes nothing."""
    flat = {t for alts in seq_alts for t in alts}
    acc = {}
    max_pos = 0
    for row in rows:
        tid = int(row["term_id"])
        if tid not in flat:
            continue
        d = decode_docids(bytes(row["doc_ids"]))
        tf = decode_uints(bytes(row["tfs"])).astype(np.int64)
        dl = decode_uints(bytes(row["dls"])).astype(np.int64)
        deltas = decode_uints(bytes(row["positions"])).astype(np.int64)
        cum = np.cumsum(deltas)
        ends = np.cumsum(tf)
        starts = ends - tf
        base = np.where(starts > 0, cum[starts - 1], 0)
        pos = cum - np.repeat(base, tf)
        a = acc.setdefault(tid, {"docs": [], "tf": [], "dl": [], "pos": []})
        a["docs"].append(d)
        a["tf"].append(tf)
        a["dl"].append(dl)
        a["pos"].append(pos)
        if pos.size:
            max_pos = max(max_pos, int(pos.max()))
    T = {
        t: (
            np.concatenate(a["docs"]),
            np.concatenate(a["tf"]),
            np.concatenate(a["dl"]),
            np.concatenate(a["pos"]),
        )
        for t, a in acc.items()
    }
    common = None
    for alts in seq_alts:
        present = [t for t in alts if t in T]
        if not present:
            return [], [], [], []
        docs_u = np.unique(np.concatenate([T[t][0] for t in present]))
        common = (
            docs_u if common is None
            else np.intersect1d(common, docs_u, assume_unique=True)
        )
        if common.size == 0:
            return [], [], [], []
    stride = max_pos + len(seq_alts) + 2
    keys = None
    for j, alts in enumerate(seq_alts):
        parts = []
        for t in alts:
            if t not in T:
                continue
            docs, tf, _dl, pos = T[t]
            loc = np.searchsorted(common, docs)
            loc_c = np.minimum(loc, common.size - 1)
            in_common = common[loc_c] == docs
            di = np.repeat(loc_c, tf)
            keep = np.repeat(in_common, tf)
            pj = pos[keep] - j
            di = di[keep]
            ok = pj >= 0
            parts.append(di[ok] * stride + pj[ok])
        kj = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
        kj = np.sort(kj)
        keys = kj if keys is None else np.intersect1d(keys, kj, assume_unique=True)
        if keys.size == 0:
            return [], [], [], []
    di = keys // stride
    pstart = keys % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = common[di[bounds]]
    first = pstart[bounds]
    dcat = np.concatenate([T[t][0] for t in T])
    lcat = np.concatenate([T[t][2] for t in T])
    o = np.argsort(dcat, kind="stable")
    dl_out = lcat[o][np.searchsorted(dcat[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def _range_kernel_alts(seq_alts: list[list[int]]):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_d, out_tf, out_dl, out_fp = _match_rows_alts(
            pdf.to_dict("records"), seq_alts
        )
        return pd.DataFrame(
            {"doc_id": out_d, "tf_phrase": out_tf, "dl": out_dl,
             "first_pos": out_fp}
        ).astype({"doc_id": "int64", "tf_phrase": "int64", "dl": "int64",
                  "first_pos": "int64"})

    return fn


def phrase_prefix_topk(
    searcher,
    phrase_text: str,
    k: int = 10,
    tie_round: int = 4,
    max_expansions: int = 1024,
    distributed: bool = True,
) -> list[tuple[int, float]]:
    """match_phrase_prefix: the phrase's LAST token is a prefix — a doc
    matches at position p when the leading tokens sit adjacently at
    p..p+m−2 and the token at p+m−1 starts with the prefix (any
    dictionary expansion, OpenSearch/Lucene MultiPhraseQuery position
    semantics).  tf = count of such start positions (each position holds
    exactly one token, so expansions can't double-count); df = matching
    docs; BM25-scored like an exact phrase.

    Scale shape identical to phrase_topk: per-docID-range positional
    kernel (alternatives close locally), global df, Catalyst score."""
    if not searcher.stats.get("positions"):
        raise ValueError(
            "phrase queries need a positional index (IndexConfig.positions=True)"
        )
    from .boolquery import expand_prefix

    terms = tokenize(phrase_text)
    if not terms:
        return []
    prefix = terms[-1]
    exps = expand_prefix(searcher, prefix, max_expansions)
    if not exps:
        return []
    seq_alts = [[xxh64_signed(t)] for t in terms[:-1]] + [
        sorted(xxh64_signed(e) for e in exps)
    ]
    flat = sorted({t for alts in seq_alts for t in alts})
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in flat})
    k1, b = searcher.cfg.k1, searcher.cfg.b
    n, avgdl = searcher.n_docs, searcher.avgdl
    if not distributed:
        rows = searcher._read_slice_rows(flat, buckets, ["range_id"] + _POS_COLS)
        by_range: dict[int, list] = {}
        for r in rows:
            by_range.setdefault(int(r["range_id"]), []).append(r)
        docs, tfs, dls = [], [], []
        for rr in by_range.values():
            d, tf, dl, _fp = _match_rows_alts(rr, seq_alts)
            docs.extend(d)
            tfs.extend(tf)
            dls.extend(dl)
        if searcher.deleted.size and docs:
            from .scoring import _member_sorted

            keep = ~_member_sorted(np.asarray(docs, dtype=np.int64), searcher.deleted)
            docs = [x for x, kp in zip(docs, keep) if kp]
            tfs = [x for x, kp in zip(tfs, keep) if kp]
            dls = [x for x, kp in zip(dls, keep) if kp]
        if not docs:
            return []
        df_p = len(docs)
        idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
        da = np.asarray(docs, dtype=np.int64)
        ta = np.asarray(tfs, dtype=np.float64)
        la = np.asarray(dls, dtype=np.float64)
        sc = idf * ta * (k1 + 1.0) / (ta + k1 * (1.0 - b + b * la / avgdl))
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    slices = (
        searcher.spark.read.parquet(f"{searcher.index_dir}/postings")
        .filter(
            F.col("term_bucket").isin(buckets) & F.col("term_id").isin(flat)
        )
        .select("range_id", *_POS_COLS)
    )
    matched = slices.groupBy("range_id").applyInPandas(
        _range_kernel_alts(seq_alts),
        schema="doc_id long, tf_phrase long, dl long, first_pos long",
    )
    if searcher.deleted.size:
        matched = matched.filter(
            ~F.col("doc_id").isin(searcher.deleted.tolist())
        )
    matched = matched.localCheckpoint()
    df_p = matched.count()
    if df_p == 0:
        return []
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    score = (
        F.lit(idf)
        * F.col("tf_phrase") * F.lit(k1 + 1.0)
        / (F.col("tf_phrase") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )
    out = (
        matched.withColumn("score", score)
        .orderBy(F.round(F.col("score"), tie_round).desc(), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    return [(int(r["doc_id"]), float(r["score"])) for r in out]


# ------------------------------------------------------- span queries

def _span_first_match_rows(rows: list[dict], tid: int, end: int):
    """SpanFirstQuery match over one docID-range's slice rows: the term's
    occurrences whose span END is within the first *end* token positions
    of the document (Lucene SpanFirstQuery semantics — a single-term
    span at 0-based position p has end p+1, so the test is p < end).
    tf = qualifying-occurrence count; first_pos = earliest qualifying
    position.  Vectorized: per-occurrence doc indices come from one
    np.repeat, counts from one bincount — no per-doc Python loop."""
    g = _gather(rows, [tid])
    if g is None:
        return [], [], [], []
    T, _common, _max_pos = g
    docs, tf, dl, pos = T[tid]
    di = np.repeat(np.arange(docs.size), tf)
    ok = pos < end
    cnt = np.bincount(di[ok], minlength=docs.size)
    fp = np.full(docs.size, np.iinfo(np.int64).max)
    np.minimum.at(fp, di[ok], pos[ok])
    sel = cnt > 0
    return (
        docs[sel].tolist(),
        cnt[sel].astype(np.int64).tolist(),
        dl[sel].tolist(),
        fp[sel].astype(np.int64).tolist(),
    )


def _span_near_unordered_match_rows(
    rows: list[dict], tid_a: int, tid_b: int, slop: int,
    in_order: bool = False,
):
    """SpanNearQuery (two distinct single-term clauses) over one
    docID-range's slice rows.  ``in_order=False``: an occurrence is a
    position a of term A with SOME position b of term B in the window
    |a − b| − 1 ≤ slop (the positions between the two spans, either
    order).  ``in_order=True`` (Lucene's span_near DEFAULT): b must
    FOLLOW a — the window becomes a < b ≤ a + slop + 1, so "a near b"
    and "b near a" are different queries.  tf = count of distinct
    qualifying A-positions (mirrors the ordered kernel's valid-start
    counting); df = matching docs; BM25-scored like phrases.

    Vectorized via the same composite doc×position keys as the ordered
    kernel: with stride > max_pos + slop + 1 the window
    [a−(slop+1), a+(slop+1)] can never reach a neighboring doc's key
    segment, so two searchsorteds over B's sorted keys answer every
    A-position's existence test at once."""
    g = _gather(rows, [tid_a, tid_b])
    if g is None:
        return [], [], [], []
    T, common, max_pos = g
    stride = max_pos + slop + 3

    def keyed(t):
        docs, tf, _dl, pos = T[t]
        loc = np.searchsorted(common, docs)
        loc_c = np.minimum(loc, common.size - 1)
        in_common = common[loc_c] == docs
        di = np.repeat(loc_c, tf)
        keep = np.repeat(in_common, tf)
        return np.sort(di[keep] * stride + pos[keep])

    ka, kb = keyed(tid_a), keyed(tid_b)
    if ka.size == 0 or kb.size == 0:
        return [], [], [], []
    lo = np.searchsorted(kb, ka + 1 if in_order else ka - (slop + 1),
                         side="left")
    hi = np.searchsorted(kb, ka + (slop + 1), side="right")
    starts = ka[hi > lo]
    if starts.size == 0:
        return [], [], [], []
    di = starts // stride
    ps = starts % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = common[di[bounds]]
    first = ps[bounds]
    d0, _, dl0, _ = T[tid_a]
    o = np.argsort(d0, kind="stable")
    dl_out = dl0[o][np.searchsorted(d0[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def _span_kernel(matcher):
    """applyInPandas kernel wrapping a span matcher closure."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_d, out_tf, out_dl, out_fp = matcher(pdf.to_dict("records"))
        return pd.DataFrame(
            {"doc_id": out_d, "tf_phrase": out_tf, "dl": out_dl,
             "first_pos": out_fp}
        ).astype({"doc_id": "int64", "tf_phrase": "int64", "dl": "int64",
                  "first_pos": "int64"})

    return fn


def _span_topk(searcher, ids: list[int], matcher, k: int, tie_round: int,
               distributed: bool, field: str | None):
    """Shared two-pass span scorer: per-range matcher → (doc, tf, dl)
    match set → global df → BM25 rank, identical to phrase_topk's shape.
    distributed=False runs the same matcher over a bucket-pruned pyarrow
    read (the ms-latency serving path)."""
    if not searcher.stats.get("positions"):
        raise ValueError(
            "span queries need a positional index (IndexConfig.positions=True)"
        )
    buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in ids})
    n, avgdl = _phrase_corpus_stats(searcher, field)
    k1, b = searcher.cfg.k1, searcher.cfg.b
    if not distributed:
        rows = searcher._read_slice_rows(ids, buckets, ["range_id"] + _POS_COLS)
        by_range: dict[int, list] = {}
        for r in rows:
            by_range.setdefault(int(r["range_id"]), []).append(r)
        docs, tfs, dls = [], [], []
        for rr in by_range.values():
            d, tf, dl, _fp = matcher(rr)
            docs.extend(d)
            tfs.extend(tf)
            dls.extend(dl)
        if searcher.deleted.size and docs:
            from .scoring import _member_sorted

            keep = ~_member_sorted(np.asarray(docs, dtype=np.int64), searcher.deleted)
            docs = [d for d, kp in zip(docs, keep) if kp]
            tfs = [t for t, kp in zip(tfs, keep) if kp]
            dls = [l for l, kp in zip(dls, keep) if kp]
        if not docs:
            return []
        df_p = len(docs)
        idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
        da = np.asarray(docs, dtype=np.int64)
        ta = np.asarray(tfs, dtype=np.float64)
        la = np.asarray(dls, dtype=np.float64)
        sc = idf * ta * (k1 + 1.0) / (ta + k1 * (1.0 - b + b * la / avgdl))
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    slices = (
        searcher.spark.read.parquet(f"{searcher.index_dir}/postings")
        .filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term_id").isin(ids)
        )
        .select("range_id", *_POS_COLS)
    )
    matched = slices.groupBy("range_id").applyInPandas(
        _span_kernel(matcher),
        schema="doc_id long, tf_phrase long, dl long, first_pos long",
    )
    if searcher.deleted.size:
        matched = matched.filter(
            ~F.col("doc_id").isin(searcher.deleted.tolist())
        )
    matched = matched.localCheckpoint()
    df_p = matched.count()
    if df_p == 0:
        return []
    idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
    score = (
        F.lit(idf)
        * F.col("tf_phrase") * F.lit(k1 + 1.0)
        / (F.col("tf_phrase") + F.lit(k1)
           * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )
    out = (
        matched.withColumn("score", score)
        .orderBy(F.round(F.col("score"), tie_round).desc(), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    return [(int(r["doc_id"]), float(r["score"])) for r in out]


def span_first_topk(
    searcher, term_text: str, end: int, k: int = 10, tie_round: int = 4,
    distributed: bool = True, field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for a SpanFirstQuery (Lucene ``span_first``): docs where
    *term_text* occurs within the first *end* token positions, BM25
    scored with tf = qualifying-occurrence count, df = matching docs —
    "title-ish hits" without a separate title field.  Same two-pass
    per-range shape as phrase_topk."""
    terms = _phrase_terms(searcher, term_text, field)
    if len(terms) != 1:
        raise ValueError("span_first takes exactly one term")
    tid = xxh64_signed(terms[0])
    return _span_topk(
        searcher, [tid],
        lambda rows: _span_first_match_rows(rows, tid, end),
        k, tie_round, distributed, field,
    )


def span_near_topk(
    searcher, term_a: str, term_b: str, slop: int, k: int = 10,
    tie_round: int = 4, distributed: bool = True,
    field: str | None = None, in_order: bool = False,
) -> list[tuple[int, float]]:
    """Top-k for a SpanNearQuery (Lucene ``span_near``, two single-term
    clauses): docs where *term_a* and *term_b* occur within *slop*
    intervening positions — in EITHER order when ``in_order=False``
    (|pa − pb| − 1 ≤ slop), or with *term_b* FOLLOWING *term_a* when
    ``in_order=True`` (pa < pb ≤ pa + slop + 1 — OpenSearch's span_near
    DEFAULT, where clause order is part of the query).  BM25 scored
    with tf = distinct qualifying A-positions."""
    ta = _phrase_terms(searcher, term_a, field)
    tb = _phrase_terms(searcher, term_b, field)
    if len(ta) != 1 or len(tb) != 1:
        raise ValueError("span_near clauses must be single terms")
    if ta[0] == tb[0]:
        raise ValueError("span_near clauses must be distinct terms")
    tid_a, tid_b = xxh64_signed(ta[0]), xxh64_signed(tb[0])
    return _span_topk(
        searcher, [tid_a, tid_b],
        lambda rows: _span_near_unordered_match_rows(
            rows, tid_a, tid_b, slop, in_order
        ),
        k, tie_round, distributed, field,
    )


def _span_not_match_rows(rows: list[dict], tid_a: int, tid_b: int, slop: int):
    """SpanNotQuery match (Lucene ``span_not`` with symmetric pre/post
    window = *slop*): occurrences of term A with NO occurrence of term B
    within |pa − pb| − 1 ≤ slop — the complement of the unordered
    span_near starts.  Docs containing A but no B at all match with every
    A occurrence (the exclusion clause only removes, never requires), so
    the doc universe is A's posting list, not an intersection."""
    uniq = {tid_a, tid_b}
    acc = {t: {"docs": [], "tf": [], "dl": [], "pos": []} for t in uniq}
    max_pos = 0
    for row in rows:
        tid = int(row["term_id"])
        if tid not in uniq:
            continue
        d = decode_docids(bytes(row["doc_ids"]))
        tf = decode_uints(bytes(row["tfs"])).astype(np.int64)
        dl = decode_uints(bytes(row["dls"])).astype(np.int64)
        deltas = decode_uints(bytes(row["positions"])).astype(np.int64)
        cum = np.cumsum(deltas)
        ends = np.cumsum(tf)
        starts = ends - tf
        base = np.where(starts > 0, cum[starts - 1], 0)
        pos = cum - np.repeat(base, tf)
        a = acc[tid]
        a["docs"].append(d)
        a["tf"].append(tf)
        a["dl"].append(dl)
        a["pos"].append(pos)
        if pos.size:
            max_pos = max(max_pos, int(pos.max()))
    if not acc[tid_a]["docs"]:
        return [], [], [], []
    docs_a = np.concatenate(acc[tid_a]["docs"])
    tf_a = np.concatenate(acc[tid_a]["tf"])
    dl_a = np.concatenate(acc[tid_a]["dl"])
    pos_a = np.concatenate(acc[tid_a]["pos"])
    universe = np.sort(docs_a)  # A's docs, unique per range by construction
    stride = max_pos + slop + 3
    di_a = np.repeat(np.searchsorted(universe, docs_a), tf_a)
    ka = np.sort(di_a * stride + pos_a)
    if acc[tid_b]["docs"]:
        docs_b = np.concatenate(acc[tid_b]["docs"])
        tf_b = np.concatenate(acc[tid_b]["tf"])
        pos_b = np.concatenate(acc[tid_b]["pos"])
        loc = np.searchsorted(universe, docs_b)
        loc_c = np.minimum(loc, universe.size - 1)
        in_u = universe[loc_c] == docs_b  # B positions outside A-docs drop
        di_b = np.repeat(loc_c, tf_b)
        keep = np.repeat(in_u, tf_b)
        kb = np.sort(di_b[keep] * stride + pos_b[keep])
        lo = np.searchsorted(kb, ka - (slop + 1), side="left")
        hi = np.searchsorted(kb, ka + (slop + 1), side="right")
        starts_k = ka[hi <= lo]
    else:
        starts_k = ka
    if starts_k.size == 0:
        return [], [], [], []
    di = starts_k // stride
    ps = starts_k % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = universe[di[bounds]]
    first = ps[bounds]
    o = np.argsort(docs_a, kind="stable")
    dl_out = dl_a[o][np.searchsorted(docs_a[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def span_not_topk(
    searcher, term_a: str, term_b: str, slop: int = 0, k: int = 10,
    tie_round: int = 4, distributed: bool = True,
    field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for a SpanNotQuery (Lucene ``span_not``, symmetric pre/post
    window): occurrences of *term_a* NOT within *slop* intervening
    positions of any *term_b*, BM25 scored with tf = surviving A
    occurrences — "apple but not near pie".  Docs without B keep every A
    occurrence."""
    ta = _phrase_terms(searcher, term_a, field)
    tb = _phrase_terms(searcher, term_b, field)
    if len(ta) != 1 or len(tb) != 1:
        raise ValueError("span_not clauses must be single terms")
    if ta[0] == tb[0]:
        raise ValueError("span_not clauses must be distinct terms")
    tid_a, tid_b = xxh64_signed(ta[0]), xxh64_signed(tb[0])
    return _span_topk(
        searcher, [tid_a, tid_b],
        lambda rows: _span_not_match_rows(rows, tid_a, tid_b, slop),
        k, tie_round, distributed, field,
    )


def _keyed_positions(T, tids: list[int], stride: int):
    """(universe, per-term sorted composite key arrays) for the
    nearest-neighbor span kernels.  Raw docIDs are 64-bit url hashes
    (negative, overflow under × stride), so keys use each doc's INDEX in
    the shared sorted universe — the same compaction the span_near
    kernel applies via its common array."""
    universe = np.unique(
        np.concatenate([T[t][0] for t in tids if t in T])
    )
    out = []
    for t in tids:
        if t not in T:
            out.append(np.empty(0, dtype=np.int64))
            continue
        docs, tf, _dl, pos = T[t]
        loc = np.searchsorted(universe, docs)
        out.append(np.sort(np.repeat(loc, tf) * stride + pos))
    return universe, out


def _nearest_leq(sorted_keys: np.ndarray, queries: np.ndarray):
    """(values, valid) of the largest sorted key ≤ each query
    (valid=False where none exists)."""
    idx = np.searchsorted(sorted_keys, queries, side="right") - 1
    valid = idx >= 0
    vals = sorted_keys[np.maximum(idx, 0)]
    return vals, valid


def _nearest_geq(sorted_keys: np.ndarray, queries: np.ndarray):
    """(values, valid) of the smallest sorted key ≥ each query."""
    idx = np.searchsorted(sorted_keys, queries, side="left")
    valid = idx < sorted_keys.size
    vals = sorted_keys[np.minimum(idx, sorted_keys.size - 1)]
    return vals, valid


def _anchor_rows_out(T, tid_anchor: int, universe: np.ndarray,
                     keys: np.ndarray, ok: np.ndarray, stride: int):
    """Fold qualifying anchor-occurrence keys into the match-rows
    quadruple (docs, tf, dl, first_pos); dl looked up from the anchor
    term's postings."""
    starts = keys[ok]
    if starts.size == 0:
        return [], [], [], []
    di = starts // stride
    ps = starts % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = universe[di[bounds]]
    first = ps[bounds]
    d0, _, dl0, _ = T[tid_anchor]
    o = np.argsort(d0, kind="stable")
    dl_out = dl0[o][np.searchsorted(d0[o], docs_out)]
    return (
        docs_out.tolist(), tfp.astype(np.int64).tolist(), dl_out.tolist(),
        first.astype(np.int64).tolist(),
    )


def _span_containing_match_rows(
    rows: list[dict], tid_a: int, tid_b: int, tid_c: int, slop: int
):
    """SpanContainingQuery match (big = unordered near(A, B) with *slop*,
    little = term C): occurrences of A anchoring SOME enclosing pair
    (x∈{A-occurrence}, y∈{B-occurrence}) within slop that CONTAINS a C
    occurrence — min(pa,pb) ≤ pc ≤ max(pa,pb).  tf = distinct qualifying
    A-positions (the span family's anchor-counting rule; Lucene iterates
    minimal intervals lazily — anchor counting is the deterministic,
    SQL-pinnable twin).  Nearest-neighbor decomposition, O(n log n), no
    pair enumeration: for anchor pa the right-side test is satisfiable
    iff b*(c*(pa)) − pa ≤ slop+1 with c* the nearest C ≥ pa and b* the
    nearest B ≥ c* (minimal choices dominate any other witness pair);
    mirrored for the left side.  Composite doc×position keys make the
    same-doc check implicit: any witness within slop+1 key distance is
    in the anchor's doc because stride > max_pos + slop + 2."""
    g = _gather(rows, [tid_a, tid_b, tid_c])
    if g is None:
        return [], [], [], []
    T, _common, max_pos = g
    stride = max_pos + slop + 3
    uni, (ka, kb, kc) = _keyed_positions(T, [tid_a, tid_b, tid_c], stride)
    if ka.size == 0 or kb.size == 0 or kc.size == 0:
        return [], [], [], []
    # right side: pa ≤ pc ≤ pb, pb − pa ≤ slop+1
    c_r, c_rv = _nearest_geq(kc, ka)
    b_r, b_rv = _nearest_geq(kb, c_r)
    ok_r = c_rv & b_rv & (b_r - ka <= slop + 1)
    # left side: pb ≤ pc ≤ pa, pa − pb ≤ slop+1
    c_l, c_lv = _nearest_leq(kc, ka)
    b_l, b_lv = _nearest_leq(kb, c_l)
    ok_l = c_lv & b_lv & (ka - b_l <= slop + 1)
    return _anchor_rows_out(T, tid_a, uni, ka, ok_r | ok_l, stride)


def _span_within_match_rows(
    rows: list[dict], tid_a: int, tid_b: int, tid_c: int, slop: int
):
    """SpanWithinQuery match (little = term C within big = unordered
    near(A, B) with *slop*): occurrences of C enclosed by SOME (A, B)
    pair within slop — the mirror of span_containing with the LITTLE
    span as the scored anchor.  tf = distinct qualifying C-positions.
    For anchor pc, an enclosing pair with the A on the left exists iff
    b*(pc) − a*(pc) ≤ slop+1 with a* the nearest A ≤ pc and b* the
    nearest B ≥ pc (the minimal-width enclosing pair); mirrored for
    B-left/A-right."""
    g = _gather(rows, [tid_a, tid_b, tid_c])
    if g is None:
        return [], [], [], []
    T, _common, max_pos = g
    stride = max_pos + slop + 3
    uni, (ka, kb, kc) = _keyed_positions(T, [tid_a, tid_b, tid_c], stride)
    if ka.size == 0 or kb.size == 0 or kc.size == 0:
        return [], [], [], []
    a_l, a_lv = _nearest_leq(ka, kc)
    b_r, b_rv = _nearest_geq(kb, kc)
    ok1 = a_lv & b_rv & (b_r - a_l <= slop + 1)
    b_l, b_lv = _nearest_leq(kb, kc)
    a_r, a_rv = _nearest_geq(ka, kc)
    ok2 = b_lv & a_rv & (a_r - b_l <= slop + 1)
    return _anchor_rows_out(T, tid_c, uni, kc, ok1 | ok2, stride)


def _span_big_little_terms(searcher, term_a, term_b, little, field):
    ta = _phrase_terms(searcher, term_a, field)
    tb = _phrase_terms(searcher, term_b, field)
    tc = _phrase_terms(searcher, little, field)
    if len(ta) != 1 or len(tb) != 1 or len(tc) != 1:
        raise ValueError("span_containing/within clauses must be single terms")
    tids = (xxh64_signed(ta[0]), xxh64_signed(tb[0]), xxh64_signed(tc[0]))
    if len(set(tids)) != 3:
        raise ValueError("span_containing/within clauses must be distinct")
    return tids


def span_containing_topk(
    searcher, term_a: str, term_b: str, little: str, slop: int = 2,
    k: int = 10, tie_round: int = 4, distributed: bool = True,
    field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for a SpanContainingQuery (Lucene ``span_containing``): big
    spans — unordered (term_a, term_b) pairs within *slop* — that
    contain an occurrence of *little*, BM25 scored with tf = qualifying
    big-span anchors (A-positions), df = matching docs."""
    tid_a, tid_b, tid_c = _span_big_little_terms(
        searcher, term_a, term_b, little, field
    )
    return _span_topk(
        searcher, [tid_a, tid_b, tid_c],
        lambda rows: _span_containing_match_rows(
            rows, tid_a, tid_b, tid_c, slop
        ),
        k, tie_round, distributed, field,
    )


def span_within_topk(
    searcher, term_a: str, term_b: str, little: str, slop: int = 2,
    k: int = 10, tie_round: int = 4, distributed: bool = True,
    field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for a SpanWithinQuery (Lucene ``span_within``): occurrences
    of *little* enclosed by an unordered (term_a, term_b) pair within
    *slop*, BM25 scored with tf = qualifying little occurrences."""
    tid_a, tid_b, tid_c = _span_big_little_terms(
        searcher, term_a, term_b, little, field
    )
    return _span_topk(
        searcher, [tid_a, tid_b, tid_c],
        lambda rows: _span_within_match_rows(rows, tid_a, tid_b, tid_c, slop),
        k, tie_round, distributed, field,
    )


def _span_or_match_rows(rows: list[dict], tids: list[int]):
    """SpanOrQuery match (Lucene ``span_or``, single-term clauses) over
    one docID-range's slice rows: the UNION of every clause term's
    occurrences.  tf = total matching occurrences in the doc (Lucene's
    span-count freq), first_pos = earliest matching position; a clause
    term absent from the range (or the whole index) just contributes
    nothing — union semantics, so _gather runs with required=False.
    Vectorized: per-occurrence (doc, pos) pairs from np.repeat, one
    lexsort groups occurrences by doc (a doc hit by several clauses
    concatenates, never double-counts — the tokenizer emits one token
    per position, so distinct terms can't share a position)."""
    g = _gather(rows, tids, required=False)
    if g is None:
        return [], [], [], []
    T, _common, _max_pos = g
    occ_d, occ_p, map_d, map_l = [], [], [], []
    for t in tids:
        if t not in T:
            continue
        docs, tf, dl, pos = T[t]
        occ_d.append(np.repeat(docs, tf))
        occ_p.append(pos)
        map_d.append(docs)
        map_l.append(dl)
    di = np.concatenate(occ_d)
    ps = np.concatenate(occ_p)
    order = np.lexsort((ps, di))
    di, ps = di[order], ps[order]
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tf_out = np.diff(np.append(bounds, di.size))
    docs_out = di[bounds]
    first = ps[bounds]
    md = np.concatenate(map_d)
    ml = np.concatenate(map_l)
    o = np.argsort(md, kind="stable")
    dl_out = ml[o][np.searchsorted(md[o], docs_out)]
    return (
        docs_out.tolist(),
        tf_out.astype(np.int64).tolist(),
        dl_out.tolist(),
        first.astype(np.int64).tolist(),
    )


def span_or_topk(
    searcher, term_texts: list[str], k: int = 10, tie_round: int = 4,
    distributed: bool = True, field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for a SpanOrQuery (Lucene ``span_or``, single-term span
    clauses): docs containing ANY clause term, BM25 scored with tf =
    total occurrences of any clause (the union span count — one shared
    idf over the union df, unlike a bool should which sums per-term
    idf·tf contributions) and df = docs with at least one occurrence.
    Reference behavior: OpenSearch span_or inside span queries
    (opensearch query DSL); scoring shape matches phrase_topk's two-pass
    global-df fold."""
    tids: list[int] = []
    for tt in term_texts:
        ts = _phrase_terms(searcher, tt, field)
        if len(ts) != 1:
            raise ValueError("span_or clauses must be single terms")
        tids.append(xxh64_signed(ts[0]))
    if len(set(tids)) != len(tids):
        raise ValueError("span_or clauses must be distinct terms")
    return _span_topk(
        searcher, tids,
        lambda rows: _span_or_match_rows(rows, tids),
        k, tie_round, distributed, field,
    )

def _span_multi_near_match_rows(
    rows: list[dict], tids_a: list[int], tid_b: int, slop: int
):
    """span_multi clause inside an unordered span_near, over one
    docID-range's slice rows: an A-occurrence is a position of ANY term
    the wrapped multi-term query expanded to; the pair matches when some
    B position lies in the window |pa − pb| − 1 ≤ slop (either order).
    tf = distinct qualifying A positions, mirroring the single-term
    span_near kernel.  Expanded terms absent from the range contribute
    nothing (union semantics — _gather with required=False); the doc
    universe is (∪A docs) ∩ B docs.

    Vectorized exactly like the single-term kernel: all expanded terms'
    occurrences fold into ONE sorted composite doc×position key array
    (the tokenizer emits one token per position, so distinct terms never
    collide on a key), and two searchsorteds over B's keys answer every
    A-position's window test at once — expansion width costs one concat
    + sort, not a per-term pass."""
    g = _gather(rows, list(tids_a) + [tid_b], required=False)
    if g is None:
        return [], [], [], []
    T, _none, max_pos = g
    if tid_b not in T:
        return [], [], [], []
    present = [t for t in tids_a if t in T]
    if not present:
        return [], [], [], []
    docs_a = np.unique(np.concatenate([T[t][0] for t in present]))
    docs_b = np.sort(T[tid_b][0])
    common = np.intersect1d(docs_a, docs_b, assume_unique=True)
    if common.size == 0:
        return [], [], [], []
    stride = max_pos + slop + 3

    def keyed(ts):
        parts = []
        for t in ts:
            docs, tf, _dl, pos = T[t]
            loc = np.searchsorted(common, docs)
            loc_c = np.minimum(loc, common.size - 1)
            in_common = common[loc_c] == docs
            di = np.repeat(loc_c, tf)
            keep = np.repeat(in_common, tf)
            parts.append(di[keep] * stride + pos[keep])
        return np.sort(np.concatenate(parts))

    ka, kb = keyed(present), keyed([tid_b])
    if ka.size == 0 or kb.size == 0:
        return [], [], [], []
    lo = np.searchsorted(kb, ka - (slop + 1), side="left")
    hi = np.searchsorted(kb, ka + (slop + 1), side="right")
    starts = ka[hi > lo]
    if starts.size == 0:
        return [], [], [], []
    di = starts // stride
    ps = starts % stride
    bounds = np.flatnonzero(np.concatenate(([True], di[1:] != di[:-1])))
    tfp = np.diff(np.append(bounds, di.size))
    docs_out = common[di[bounds]]
    first = ps[bounds]
    d0, _, dl0, _ = T[tid_b]
    o = np.argsort(d0, kind="stable")
    dl_out = dl0[o][np.searchsorted(d0[o], docs_out)]
    return (
        docs_out.tolist(),
        tfp.tolist(),
        dl_out.tolist(),
        first.tolist(),
    )


def span_multi_near_topk(
    searcher, prefix_a: str, term_b: str, slop: int, k: int = 10,
    tie_round: int = 4, distributed: bool = True,
    field: str | None = None, max_expansions: int = 1024,
) -> list[tuple[int, float]]:
    """Top-k for a SpanMultiTermQueryWrapper clause inside an unordered
    SpanNearQuery (Lucene ``span_multi`` wrapping a PrefixQuery, paired
    with a single-term clause): the wrapper rewrites the prefix to its
    concrete terms from the term dictionary (Lucene's top_terms span
    rewrite), and a doc matches when ANY expanded term occurs within
    *slop* intervening positions of *term_b*, either order.  BM25 with
    tf = distinct qualifying expanded-term positions and ONE shared idf
    over the union df — span queries score the composite span, not the
    per-term contributions.  If the expansion happens to include
    *term_b* itself, a shared position self-matches (|p − p| − 1 < 0 ≤
    slop) — same degenerate-overlap semantics the SQL ground truth
    yields.  Same two-pass per-range kernel + global-df shape as the
    rest of the span family.

    Reference behavior: OpenSearch ``span_multi`` in the span query DSL
    (the sink's OpenSearch side); expansion cap mirrors
    indices.query.bool.max_clause_count."""
    from .boolquery import expand_prefix

    terms_a = expand_prefix(searcher, prefix_a, max_expansions)
    tb = _phrase_terms(searcher, term_b, field)
    if len(tb) != 1:
        raise ValueError("span_multi_near's literal clause must be one term")
    if not terms_a:
        return []
    # expand_prefix returns sorted unique terms: a duplicate tid would
    # double-count its position keys
    tids_a = [xxh64_signed(t) for t in terms_a]
    tid_b = xxh64_signed(tb[0])
    return _span_topk(
        searcher, tids_a + [tid_b],
        lambda rows: _span_multi_near_match_rows(rows, tids_a, tid_b, slop),
        k, tie_round, distributed, field,
    )


# ------------------------------------------------------------ intervals

def _minimalize(starts: np.ndarray, ends: np.ndarray):
    """Minimal elements of an interval candidate set under containment
    ([s',e'] ⊆ [s,e], ≠) — Lucene's minimal-interval semantics (Vigna,
    "Efficient lazy algorithms for minimal-interval semantics").  Dedup
    by start keeping the least end, then a right-to-left sweep drops any
    interval that contains a later-starting one.  Returns sorted-by-
    start arrays with STRICTLY increasing starts AND ends."""
    if starts.size == 0:
        return starts, ends
    order = np.lexsort((ends, starts))
    starts, ends = starts[order], ends[order]
    # unique starts keep min end (first after the lexsort)
    first = np.concatenate(([True], starts[1:] != starts[:-1]))
    starts, ends = starts[first], ends[first]
    # right-to-left: keep iff end < min(end of strictly later starts)
    min_later = np.minimum.accumulate(ends[::-1])[::-1]
    keep = np.concatenate((ends[:-1] < min_later[1:], [True]))
    return starts[keep], ends[keep]


def _iv_eval(node, pos_by_tid: dict) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate one doc: normalized intervals node → minimal (starts,
    ends).  Composition rule (pinned, and mirrored by the SQL oracles):
    every node emits its MINIMAL candidate set, gap-filtered at that
    node, before the parent composes — exactly how Lucene stacks
    IntervalsSource filters on minimal iterators."""
    kind = node[0]
    if kind == "term":
        p = pos_by_tid.get(node[1], _EMPTY_I8)
        return p, p
    if kind == "any_of":
        subs = [_iv_eval(c, pos_by_tid) for c in node[1]]
        starts = np.concatenate([s for s, _ in subs])
        ends = np.concatenate([e for _, e in subs])
        return _minimalize(starts, ends)
    _, children, ordered, max_gaps, n_leaves = node
    subs = [_iv_eval(c, pos_by_tid) for c in children]
    if any(s.size == 0 for s, _ in subs):
        return _EMPTY_I8, _EMPTY_I8
    if ordered:
        # greedy chain: sub-results are minimal (starts/ends strictly
        # increasing), so the earliest next interval starting after the
        # running end is also the one with the least end — vector
        # searchsorted per level, no per-candidate loop
        starts, ends = subs[0]
        cur = ends
        valid = np.ones(starts.size, dtype=bool)
        for s_j, e_j in subs[1:]:
            idx = np.searchsorted(s_j, cur, side="right")
            ok = idx < s_j.size
            valid &= ok
            idx = np.minimum(idx, s_j.size - 1)
            cur = e_j[idx]
        starts, ends = starts[valid], cur[valid]
    else:
        # unordered (leaf terms only, enforced at parse): minimal
        # windows covering one position of each term — for every merged
        # position as right end, the maximal left start that still
        # covers all k terms (standard sweep); minimal set ⊆ that
        k = len(subs)
        allpos = np.concatenate([s for s, _ in subs])
        tags = np.concatenate(
            [np.full(s.size, i) for i, (s, _) in enumerate(subs)])
        order = np.argsort(allpos, kind="stable")
        allpos, tags = allpos[order], tags[order]
        counts = np.zeros(k, dtype=np.int64)
        have = 0
        i = 0
        cs, ce = [], []
        for j in range(allpos.size):
            counts[tags[j]] += 1
            if counts[tags[j]] == 1:
                have += 1
            if have < k:
                continue
            # shrink from the left while coverage holds
            while counts[tags[i]] > 1:
                counts[tags[i]] -= 1
                i += 1
            cs.append(allpos[i])
            ce.append(allpos[j])
            # drop the left edge to look for the next window
            counts[tags[i]] -= 1
            have -= 1
            i += 1
        starts = np.asarray(cs, dtype=np.int64)
        ends = np.asarray(ce, dtype=np.int64)
    starts, ends = _minimalize(starts, ends)
    if max_gaps is not None and starts.size:
        keep = (ends - starts + 1 - n_leaves) <= max_gaps
        starts, ends = starts[keep], ends[keep]
    return starts, ends


_EMPTY_I8 = np.empty(0, dtype=np.int64)


def _iv_normalize(searcher, spec: dict, field: str | None):
    """OpenSearch intervals JSON → internal node tree.  Returns
    (node, leaf_tids, required_tids).  match → all_of over its term
    leaves; unordered nodes are restricted to distinct leaf terms (the
    overlap-free case whose minimal-window semantics are well defined
    for the SQL ground truth)."""
    if len(spec) != 1:
        raise ValueError(f"intervals node takes one key, got {sorted(spec)}")
    kind, body = next(iter(spec.items()))
    if kind == "match":
        terms = _phrase_terms(searcher, body["query"], field)
        ordered = bool(body.get("ordered", False))
        max_gaps = body.get("max_gaps")
        tids = [xxh64_signed(t) for t in terms]
        if len(tids) == 1:
            return ("term", tids[0]), set(tids), set(tids)
        if not ordered and len(set(tids)) != len(tids):
            raise ValueError(
                "unordered intervals match needs distinct terms")
        node = ("all_of", [("term", t) for t in tids], ordered,
                max_gaps, len(tids))
        return node, set(tids), set(tids)
    if kind == "any_of":
        children, leaves = [], set()
        for sub in body["intervals"]:
            c, lv, _rq = _iv_normalize(searcher, sub, field)
            children.append(c)
            leaves |= lv
        # an any_of requires nothing by itself (one branch suffices)
        return ("any_of", children), leaves, set()
    if kind == "all_of":
        ordered = bool(body.get("ordered", False))
        max_gaps = body.get("max_gaps")
        children, leaves, req = [], set(), set()
        for sub in body["intervals"]:
            c, lv, rq = _iv_normalize(searcher, sub, field)
            if not ordered and c[0] != "term":
                raise ValueError(
                    "unordered all_of supports leaf terms only")
            children.append(c)
            leaves |= lv
            req |= rq
        if not ordered and len({c[1] for c in children}) != len(children):
            raise ValueError("unordered all_of needs distinct terms")
        node = ("all_of", children, ordered, max_gaps, _leaf_count(children))
        return node, leaves, req
    raise ValueError(f"unknown intervals source {kind!r}")


def _leaf_count(children) -> int:
    n = 0
    for c in children:
        if c[0] == "term":
            n += 1
        elif c[0] == "any_of":
            # gap accounting needs a fixed leaf count; any_of branches
            # must agree (enforced here) — Lucene sidesteps this by
            # tracking per-interval gaps, we pin the static-width rule
            counts = {_leaf_count([b]) for b in c[1]}
            if len(counts) != 1:
                raise ValueError(
                    "any_of branches under a gap-filtered all_of must "
                    "cover the same number of leaf terms")
            n += counts.pop()
        else:
            n += c[4]
    return n


def _intervals_match_rows(rows: list[dict], node, leaf_tids: list[int],
                          required: list[int]):
    """Per-range intervals matcher: (doc_ids, tf, dl, first_pos) with
    tf = |minimal gap-filtered interval set| per doc.  Candidate docs =
    ∩ of required leaves' postings (∪ of all leaves when nothing is
    globally required); per-candidate evaluation runs the interval
    algebra over numpy position slices."""
    g = _gather(rows, list(leaf_tids), required=False)
    if g is None:
        return [], [], [], []
    T, _, _ = g
    if any(t not in T for t in required):
        return [], [], [], []
    # candidate doc set
    cand = None
    if required:
        for t in required:
            d = np.unique(T[t][0])
            cand = d if cand is None else np.intersect1d(
                cand, d, assume_unique=True)
            if cand.size == 0:
                return [], [], [], []
    else:
        cand = np.unique(np.concatenate([T[t][0] for t in T]))
    # per-term, per-doc position slices: sort (docs expanded, positions)
    sliced: dict[int, tuple] = {}
    for t, (docs, tf, dl, pos) in T.items():
        dexp = np.repeat(docs, tf)
        o = np.lexsort((pos, dexp))
        dexp, p = dexp[o], pos[o]
        sliced[t] = (dexp, p)
    # dl per doc from any present term
    dl_map: dict[int, int] = {}
    for t, (docs, tf, dl, pos) in T.items():
        for d, l in zip(docs.tolist(), dl.tolist()):
            dl_map.setdefault(int(d), int(l))
    out_d, out_tf, out_dl, out_fp = [], [], [], []
    for d in cand.tolist():
        pos_by_tid = {}
        for t, (dexp, p) in sliced.items():
            lo = np.searchsorted(dexp, d, side="left")
            hi = np.searchsorted(dexp, d, side="right")
            if hi > lo:
                pos_by_tid[t] = p[lo:hi]
        starts, ends = _iv_eval(node, pos_by_tid)
        if starts.size:
            out_d.append(d)
            out_tf.append(int(starts.size))
            out_dl.append(dl_map[d])
            out_fp.append(int(starts[0]))
    return out_d, out_tf, out_dl, out_fp


def intervals_topk(
    searcher, spec: dict, k: int = 10, tie_round: int = 4,
    distributed: bool = True, field: str | None = None,
) -> list[tuple[int, float]]:
    """Top-k for an intervals query (OpenSearch ``intervals``; Lucene
    IntervalQuery, minimal-interval semantics): *spec* mirrors the
    OpenSearch JSON — ``match`` (ordered / unordered + ``max_gaps``),
    ``any_of``, ``all_of`` (ordered, ``max_gaps``) — and every node
    yields the MINIMAL candidate intervals (no result interval properly
    contains another), gap-filtered as (width − covered leaf terms) ≤
    max_gaps, before its parent composes.  BM25-scored like the span
    family: tf = minimal-interval count, df = matching docs, one
    pseudo-term idf (Lucene weighs each interval by 1/width inside
    sloppyFreq; the integer-count pin keeps the rank contract exact and
    SQL-mirrorable — documented divergence).  Same two-pass per-range
    kernel + global-df shape as phrase_topk.

    Reference behavior being matched: the sink's OpenSearch index
    serves ``intervals`` queries (opensearch/.../OpenSearchSink.java
    passthrough to the Lucene query DSL)."""
    node, leaves, required = _iv_normalize(searcher, spec, field)
    if not leaves:
        return []
    leaf_list = sorted(leaves)
    req_list = sorted(required)
    return _span_topk(
        searcher, leaf_list,
        lambda rows: _intervals_match_rows(rows, node, leaf_list, req_list),
        k, tie_round, distributed, field,
    )
