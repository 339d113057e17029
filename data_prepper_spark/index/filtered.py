"""Metadata-filtered BM25 search — Lucene's docvalues + bool `filter`
clause.

The index's ``docmeta`` dataset is the docvalues store: one row per doc
(doc_id, url, doc_len[, field columns…]), doc_id-range partitioned and
sorted, written by the build when ``field_cols`` are requested
(index/build.py build_oneshot / build_oneshot_text).  A filtered query
restricts WHICH docs may match; it never changes HOW they score — idf,
avgdl, and n_docs stay full-index, exactly Lucene's semantics for a
non-scoring filter clause (the reference pipeline's analog is a
`drop_events`/route guard ahead of the opensearch sink,
data-prepper-plugins/opensearch/.../OpenSearchSink.java routing).

Filters are structured conjunctions ``[(column, op, value), …]`` with
op ∈ {==, !=, <, <=, >, >=, in} — compiled three ways from the one spec:
a pyarrow dataset expression (driver mode, parquet predicate pushdown),
a Catalyst Column (distributed mode, PushedFilters into the docmeta
scan), and ANSI SQL (the DuckDB oracle in entry_queries).

Execution treats the allowlist as a virtual must-clause seeded from
docvalues instead of a posting list:

- driver mode: docmeta is read with the pushed-down filter (bounded by
  the FILTER's selectivity, not corpus size), and each scoring term's
  view (scoring.TermView) decodes only the blocks the allowed docs can
  live in (the same skip-pointer kernel as boolquery's conjunctions —
  decode cost ∝ filter selectivity × blocks touched, never the
  stopword's df); a broad filter switches the whole query to
  filter-during-WAND (see _filtered_core);
- distributed mode: the docmeta scan (Catalyst filter, predicate
  pushdown) is cogrouped with the pruned posting slices per docID range
  (``groupBy(range_id).cogroup(...)``) — the allowlist never leaves its
  range partition, so no node ever holds the global allowed set; global
  top-k via orderBy/limit under the oracle tie rule.

Every unscored match-set reader (the ``match_agg_*`` aggregations,
search_sorted, constant_score, random_score, the geo aggregations,
significant_text's sample) goes through ONE kernel, :func:`_match_set`:
the matched docIDs (any-term union, tombstones denied, intersected with
the filtered docmeta rows) joined to the requested docvalue columns,
handed to a caller-supplied ``partial``.  The driver backend applies the
partial once to the whole match set; the distributed backend applies
the same partial per docID range inside one docmeta cogroup and hands
back the uncollected DataFrame for the caller's global combine.  The
value aggregations (terms, stats, percentiles, range, cardinality, …)
are a fold (``*_from_hist``) over the (value, count) histogram that
:func:`match_value_hist` computes; the bucketing ones (histogram,
date_histogram, the geo cells) count buckets inside the partial
(:func:`_bucket_counts`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from .boolquery import _score_candidates
from .scoring import (
    _member_sorted,
    bmw_slices,
    idf_value,
    score_bmw,
    score_brute,
    term_views,
    topk_select,
    view_slices,
)

_OPS = ("==", "!=", "<", "<=", ">", ">=", "in", "exists", "missing")

# candidate-block coverage (of the query's largest term) above which the
# driver path switches from candidate-driven decode to filter-during-WAND
# (see _filtered_core); >1.0 disables the WAND route, <0 forces it.  Round-3 measured the WAND
# route slower at every selectivity (p50 423 vs 357 ms) and disabled it;
# round 5's cross-range theta carrying (scoring.py theta0) flipped the
# trade for BROAD filters: at the same 1M-doc serving index (mid+head
# 2-term queries, 8-83% selective time filters, best-of-3 interleaved)
# the WAND route now measures p50 124-126 ms / p95 136-150 vs
# candidate-driven 133 / 159, results route-identical (pinned by
# tests/test_filtered.py::test_filtered_wand_route_identity).  Selective
# filters (low coverage) keep candidate-driven decode, whose cost ∝
# filter selectivity.  Why not zone maps (per-range docvalue min/max):
# docIDs are url-hash-distributed, so every range spans the full value
# distribution of every column — a range-level min/max prunes nothing
# at any selectivity.
BMW_COVERAGE_THRESHOLD = 0.5


def _check_filters(filters) -> None:
    for f in filters:
        if len(f) != 3 or f[1] not in _OPS:
            raise ValueError(f"bad filter {f!r}; ops: {_OPS}")


# ---------------------------------------------------------------- docvalues
# per-searcher docvalues cache: filtered/sorted/agg/function_score driver
# paths all re-scanned the docmeta parquet per query (pushdown scan +
# sort ≈ half their latency at 1M docs).  A searcher is an immutable
# snapshot, so the columns can be read ONCE, doc_id-sorted, and every
# query evaluates its filter as a pyarrow.compute mask (vectorized C++)
# over the cached arrays.  Budget-gated like the hot-posting cache
# (DPS_DOCVALUES_CACHE_MB, default 512); over budget → per-query
# pushdown scans, bit-identical results (test_docvalues_cache_identity).
# Driver mode is explicitly the small-index latency path; the 10^12-doc
# path (distributed=True) never touches this.

_DV_CACHE_MB_ENV = "DPS_DOCVALUES_CACHE_MB"


class _DVOverBudget(Exception):
    pass


class _DocValues:
    __slots__ = ("index_dir", "budget", "doc_ids", "cols", "bytes")

    def __init__(self, index_dir: str):
        import os

        self.index_dir = index_dir
        self.budget = (
            float(os.environ.get(_DV_CACHE_MB_ENV, "512")) * 1024 * 1024
        )
        self.doc_ids: np.ndarray | None = None  # sorted int64
        self.cols: dict[str, dict] = {}  # field → {"pa": Array, "np": ndarray|None}
        self.bytes = 0

    def _charge(self, n: int) -> None:
        self.bytes += n
        if self.bytes > self.budget:
            raise _DVOverBudget()

    def col(self, field: str) -> dict:
        c = self.cols.get(field)
        if c is None:
            import pyarrow as pa

            ds = pads.dataset(f"{self.index_dir}/docmeta")
            # read doc_id alongside every field: fragment order is
            # deterministic, but aligning per-load is free and robust
            tbl = ds.to_table(columns=["doc_id", field])
            ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(ids, kind="stable")
            arr = tbl[field].combine_chunks().take(pa.array(order))
            if self.doc_ids is None:
                self.doc_ids = ids[order]
                self._charge(self.doc_ids.nbytes)
            self._charge(arr.nbytes)
            self.cols[field] = c = {"pa": arr, "np": None}
        return c

    def ids(self) -> np.ndarray:
        if self.doc_ids is None:
            ds = pads.dataset(f"{self.index_dir}/docmeta")
            ids = (
                ds.to_table(columns=["doc_id"])["doc_id"]
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            self.doc_ids = np.sort(ids)
            self._charge(self.doc_ids.nbytes)
        return self.doc_ids

    def np_col(self, field: str) -> np.ndarray:
        c = self.col(field)
        if c["np"] is None:
            v = c["pa"].to_numpy(zero_copy_only=False)
            # object arrays (strings) carry per-element python objects —
            # estimate 56 B/elem on top of the pointer array
            self._charge(v.nbytes + (56 * v.size if v.dtype == object else 0))
            c["np"] = v
        return c["np"]

    def mask(self, filters) -> np.ndarray:
        """Boolean mask over ids() for the filter conjunction."""
        import pyarrow as pa
        import pyarrow.compute as pc

        out = None
        for colname, op, val in filters:
            arr = self.col(colname)["pa"]

            def _scalar(v):
                try:
                    return pa.scalar(v, type=arr.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                    return pa.scalar(v)

            if op == "exists":
                # null-aware ops (OpenSearch exists query / missing agg):
                # the filter value is ignored by convention
                m = pc.is_valid(arr)
            elif op == "missing":
                m = pc.is_null(arr)
            elif op == "in":
                # same fallback contract as _scalar: a value-set type the
                # pushdown-scan path accepted must not raise from the
                # cached path — pc.is_in auto-casts an uncast array.
                try:
                    vset = pa.array(list(val)).cast(arr.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError,
                        pa.ArrowNotImplementedError):
                    vset = pa.array(list(val))
                m = pc.is_in(arr, value_set=vset)
            elif op == "==":
                m = pc.equal(arr, _scalar(val))
            elif op == "!=":
                m = pc.not_equal(arr, _scalar(val))
            elif op == "<":
                m = pc.less(arr, _scalar(val))
            elif op == "<=":
                m = pc.less_equal(arr, _scalar(val))
            elif op == ">":
                m = pc.greater(arr, _scalar(val))
            else:
                m = pc.greater_equal(arr, _scalar(val))
            out = m if out is None else pc.and_(out, m)
        # dataset-filter semantics: null comparisons drop the row
        out = pc.fill_null(out, False)
        return out.to_numpy(zero_copy_only=False)


_DV_DISABLED = "disabled"  # sticky over-budget marker on the searcher


def _docvalues(searcher) -> _DocValues:
    dv = getattr(searcher, "_dv_cache", None)
    if dv is _DV_DISABLED:
        raise _DVOverBudget()
    if dv is None:
        dv = _DocValues(searcher.index_dir)
        searcher._dv_cache = dv
    return dv


def _meta_ids_vals(searcher, filters, fields=()):
    """Driver-mode docvalues accessor shared by every driver path:
    (sorted doc_ids passing *filters*, [aligned values of each of
    *fields*]).  Cache-backed within budget; falls back to the original
    per-query parquet pushdown scan (bit-identical) when the cached
    columns would exceed DPS_DOCVALUES_CACHE_MB."""
    try:
        dv = _docvalues(searcher)
        if filters:
            m = dv.mask(filters)
            return dv.ids()[m], [dv.np_col(f)[m] for f in fields]
        return dv.ids(), [dv.np_col(f) for f in fields]
    except _DVOverBudget:
        searcher._dv_cache = _DV_DISABLED  # drop partial loads; stay on scans
        ds = pads.dataset(f"{searcher.index_dir}/docmeta")
        flt = pa_filter_expr(filters) if filters else None
        tbl = ds.to_table(columns=["doc_id", *dict.fromkeys(fields)],
                          filter=flt)
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(ids, kind="stable")
        return ids[order], [
            tbl[f].to_numpy(zero_copy_only=False)[order] for f in fields
        ]


def _py(v):
    """numpy scalar → python value.  datetime64 of any unit becomes a
    python datetime (the distributed path's type): ``.item()`` on a
    datetime64[ns] returns an int of nanoseconds."""
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).to_pydatetime()
    return v.item() if hasattr(v, "item") else v


def pa_filter_expr(filters):
    """[(col, op, val), …] → pyarrow dataset expression (AND of all)."""
    expr = None
    for col, op, val in filters:
        f = pads.field(col)
        c = (
            f.is_valid() if op == "exists"
            else f.is_null() if op == "missing"
            else f.isin(list(val)) if op == "in"
            else f == val if op == "=="
            else f != val if op == "!="
            else f < val if op == "<"
            else f <= val if op == "<="
            else f > val if op == ">"
            else f >= val
        )
        expr = c if expr is None else expr & c
    return expr


def spark_filter_col(filters):
    """[(col, op, val), …] → Catalyst Column (AND of all)."""
    expr = None
    for col, op, val in filters:
        f = F.col(col)
        c = (
            f.isNotNull() if op == "exists"
            else f.isNull() if op == "missing"
            else f.isin(*list(val)) if op == "in"
            else f == val if op == "=="
            else f != val if op == "!="
            else f < val if op == "<"
            else f <= val if op == "<="
            else f > val if op == ">"
            else f >= val
        )
        expr = c if expr is None else expr & c
    return expr


def search_filtered(
    searcher,
    query_text: str,
    filters,
    k: int = 10,
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score): BM25 over *query_text*, restricted to docs
    whose docvalues satisfy every filter.  Scores are the UNFILTERED BM25
    scores of the surviving docs (full-index idf/avgdl — Lucene filter
    semantics)."""
    _check_filters(filters)
    if not filters:
        return searcher.search(
            query_text, k=k, mode="brute", distributed=distributed,
            tie_round=tie_round,
        )
    _, ids, buckets = searcher._terms_buckets(query_text)
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in ids}
    scoring = sorted(ids, key=lambda i: ids[i])  # term-string order
    if distributed:
        return _search_filtered_distributed(
            searcher, ids, buckets, scoring, idf, k, tie_round, filters
        )
    da, sc = _filtered_core(
        searcher, ids, buckets, scoring, idf, searcher.avgdl, k, filters,
        tie_round=tie_round,
    )
    if da.size == 0:
        return []
    if tie_round is not None:
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _filtered_core(
    searcher, ids, buckets, scoring, idf, avgdl, k, filters,
    tie_round=None, theta0: float = float("-inf"), ub_scale: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-mode filtered scoring over ONE segment with EXTERNALLY
    supplied idf/avgdl — `search_filtered` passes the segment's own
    stats; FamilySearcher.search_filtered passes family-global stats
    plus the avgdl-rescale factor that keeps the WAND route's block
    bounds sound (see BM25Searcher._score_pruned).  Returns the
    UNRANKED (doc_ids, scores) arrays: the exact (theta0-seeded) top-k
    on the WAND route, else every match.

    One strategy for the whole query: a BROAD filter makes
    candidate-driven decode degenerate (the allowed docs cover most
    not-yet-decoded blocks of the largest term → a full decode), so
    above BMW_COVERAGE_THRESHOLD the query runs filter-during-WAND
    instead — segments prune on score, only allowed docs are collected,
    the result stays the exact top-k.  The coverage counts the largest
    term's multi-block rows only (TermView.coverage): scoring cost decides
    the route, and a one-block row is decoded whole at read time on
    either route."""
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    allowed, _ = _meta_ids_vals(searcher, filters)
    if searcher.deleted.size:
        allowed = allowed[~_member_sorted(allowed, searcher.deleted)]
    if allowed.size == 0:
        return empty
    cfg = searcher.cfg
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    if views and tie_round is None and k is not None:
        big = max(views.values(), key=lambda v: v.n)
        if big.coverage(allowed) > BMW_COVERAGE_THRESHOLD:
            return score_bmw(
                bmw_slices(views, ub_scale), cfg.k1, cfg.b, avgdl, k,
                allowed=allowed, theta0=theta0,
            )
    return _score_candidates(views, allowed, scoring, cfg.k1, cfg.b, avgdl)


# match-union consumers never score — tf/dl byte columns are dead weight,
# so their reads prune to the docID stream only (~1/3 the slice bytes)
_UNION_COLS = ["term_id", "range_id", "df_slice", "doc_ids"]


def _union_docids_rows(rows) -> np.ndarray:
    """Sorted union of the docIDs of slice rows read with _UNION_COLS
    (docID stream decoded directly — no TermSlice, no tf/dl).

    Hot rows served from the posting cache decode once: the scoring
    paths' attached stream memo is reused when present
    (scoring.stream_abs_docids — same array BMW block reads slice), and
    cached full rows lacking streams memoize the decoded array on the
    row dict (budget-covered: the cache charges 32 B/posting for memos)."""
    from .codec import decode_docids
    from .scoring import stream_abs_docids

    parts = []
    for r in rows:
        d = None
        is_dict = isinstance(r, dict)
        if is_dict:
            hit = r.get("_lazy_streams")
            if hit is not None:
                d = stream_abs_docids(hit[0])
            else:
                d = r.get("_doc_abs")
        if d is None:
            d = decode_docids(bytes(r["doc_ids"]))
            if is_dict and "tfs" in r:  # full cached row — memo persists
                r["_doc_abs"] = d
        if d.size:
            parts.append(d)
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def _live_members(matched, deleted, meta_ids):
    """The deny mask of every match-set read: drop tombstoned docIDs,
    keep only docs with a (filtered) docmeta row."""
    if deleted.size:
        matched = matched[~_member_sorted(matched, deleted)]
    return matched[_member_sorted(matched, meta_ids)]


def _match_set(searcher, query_text, fields, filters, partial, distributed,
               schema=None):
    """THE match-set × docvalues kernel behind every unscored reader.

    ``partial(doc_ids, [one aligned array per field])`` receives sorted
    matched docIDs (any query term, tombstones denied, filtered-docmeta
    members only) and returns a tuple of equal-length columns, in the
    order of *schema*'s fields.

    - No live query term: returns None.
    - Driver: applies *partial* once to the whole match set and returns
      its result (None when nothing matches).
    - Distributed: *schema* is the partial's Spark DDL, or a callable of
      the fields' docmeta Spark types returning it.  Reads docmeta once,
      cogroups it with the pruned docID streams per ``range_id`` and
      applies *partial* per range — only partial rows cross the shuffle.
      Returns the uncollected DataFrame for the caller's global combine.
      A column-free, unfiltered read has no docmeta side at all.
    """
    _check_filters(filters)
    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return None
    deleted = searcher.deleted
    if not distributed:
        meta_ids, cols = _meta_ids_vals(searcher, filters, fields)
        rows = searcher._pruned_slice_rows(list(ids), buckets,
                                           columns=_UNION_COLS)
        matched = _live_members(_union_docids_rows(rows), deleted, meta_ids)
        if matched.size == 0:
            return None
        pos = np.searchsorted(meta_ids, matched)
        return partial(matched, [c[pos] for c in cols])
    from pyspark.sql.types import StructType

    from .tokenize import range_id_col

    cnames = [f"c{j}" for j in range(len(fields))]
    # every doc with postings has a docmeta row: a column-free,
    # unfiltered match set skips the docmeta read and the cogroup
    meta = None
    if fields or filters:
        meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
        if filters:
            meta = meta.filter(spark_filter_col(filters))
        meta = meta.select(
            range_id_col(searcher.cfg).alias("range_id"), "doc_id",
            *[F.col(f).alias(c) for f, c in zip(fields, cnames)],
        )
    if callable(schema):
        types = dict(meta.dtypes) if meta is not None else {}
        schema = schema([types[c] for c in cnames])
    names = StructType.fromDDL(schema).fieldNames()

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf) -> pd.DataFrame:
        empty = pd.DataFrame({n: [] for n in names})
        if post_pdf.empty or (meta_pdf is not None and meta_pdf.empty):
            return empty
        matched = _union_docids_rows(post_pdf.to_dict("records"))
        if meta_pdf is None:  # no docmeta side: the postings' own docs
            meta_pdf = pd.DataFrame({"doc_id": matched})
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(meta_ids)
        meta_ids = meta_ids[order]
        matched = _live_members(matched, deleted, meta_ids)
        if matched.size == 0:
            return empty
        pos = order[np.searchsorted(meta_ids, matched)]
        got = partial(matched, [meta_pdf[c].to_numpy()[pos] for c in cnames])
        return pd.DataFrame(dict(zip(names, got)))

    posts = (
        searcher._pruned_slices(list(ids), buckets, columns=_UNION_COLS)
        .groupBy("range_id")
    )
    if meta is None:
        return posts.applyInPandas(
            lambda pdf: eval_cog(pdf, None), schema=schema
        )
    return posts.cogroup(meta.groupBy("range_id")).applyInPandas(
        eval_cog, schema=schema
    )


def _topk_by_field(doc_ids, values, k, ascending):
    """Per-range top-k by (field value, doc_id ASC).  *values* must be a
    numpy array with a total order (ints/floats/bytes).

    Selection before sort: a full lexsort (and, for non-float dtypes,
    _neg_order's rank inversion — itself a full sort) over the whole
    match set is O(n log n) per range; np.partition finds the kth
    boundary value in O(n) and only the ≤-boundary survivors (k plus
    boundary ties) pay the sort.  NaN boundary or object dtype falls
    back to the full sort (comparison semantics differ)."""
    n = doc_ids.size
    if n == 0:
        return doc_ids, values
    if n > 4 * k and values.dtype != object:
        try:
            if ascending:
                kth = np.partition(values, k - 1)[k - 1]
                ok = kth == kth  # NaN boundary ⇒ unordered comparisons
                sel = np.flatnonzero(values <= kth) if ok else None
            else:
                kth = np.partition(values, n - k)[n - k]
                ok = kth == kth
                sel = np.flatnonzero(values >= kth) if ok else None
        except TypeError:
            sel = None
        # NaN/NaT rows compare false against the boundary but the full
        # sort would still admit them once non-NaN rows run out — only
        # take the shortcut when it kept at least k survivors
        if sel is not None and sel.size >= k:
            doc_ids, values = doc_ids[sel], values[sel]
    keys = values if ascending else _neg_order(values)
    order = np.lexsort((doc_ids, keys))[:k]
    return doc_ids[order], values[order]


def _neg_order(values: np.ndarray) -> np.ndarray:
    """An array whose ascending order is *values*' descending order
    (floats: negate; everything else: rank-invert).  Integers go through
    rank inversion too — negating via a float64 cast loses exactness
    above 2^53 (e.g. ns-epoch longs) and could mis-rank near-equal
    values vs the distributed path, which sorts exact values in Spark."""
    if np.issubdtype(values.dtype, np.floating):
        return -values
    # ints / strings / datetimes / objects: invert via dense ranks
    _, inv = np.unique(values, return_inverse=True)
    return -inv.astype(np.int64)


def search_sorted(
    searcher,
    query_text: str,
    sort_field: str,
    k: int = 10,
    ascending: bool = False,
    filters=(),
    distributed: bool = False,
) -> list[tuple[int, object]]:
    """Top-k (doc_id, field value) of docs matching ANY query term,
    ordered by a docvalues field then doc_id — Lucene's
    ``Sort(SortField)`` over the match set (no relevance scoring; the
    posting decode therefore touches only docID streams, never tf/dl).
    Optional *filters* restrict the match set first.

    Driver mode reads the (doc_id, field) docvalues columns wholesale —
    the ms-latency path for sandbox-scale indexes.  Distributed mode
    cogroups per docID range (field values never leave their range
    partition) and is the web-scale path."""
    got = _match_set(
        searcher, query_text, [sort_field], filters,
        lambda d, cols: _topk_by_field(d, cols[0], k, ascending),
        distributed, schema=lambda t: f"doc_id long, sort_v {t[0]}",
    )
    if got is None:
        return []
    if distributed:
        direction = F.asc("sort_v") if ascending else F.desc("sort_v")
        out = got.orderBy(direction, F.asc("doc_id")).limit(k).collect()
        return [(int(r["doc_id"]), r["sort_v"]) for r in out]
    return [(int(d), _py(v)) for d, v in zip(*got)]


def _factor_fn(spec: dict):
    """Compile a function_score factor spec → vectorized numpy fn over a
    docvalues array.  Shapes (OpenSearch function_score):

    - ``{"field_value_factor": {"factor": f, "modifier": m}}`` with
      modifier ∈ {none, log1p, sqrt}: value → modifier(f · value);
    - ``{"exp_decay": {"origin": o, "scale" : s}}``: exp(ln(0.5) ·
      |value − origin| / scale) — 1.0 at the origin, 0.5 at one scale
      away (datetime origins/scales work via int64-ns arithmetic);
    - ``{"distance_feature": {"origin": o, "pivot": p, "boost": b}}``:
      b · p / (p + |value − origin|) — OpenSearch's ``distance_feature``
      shape (Lucene LongField#newDistanceFeatureQuery), b at the origin,
      b/2 at one pivot away.  Additive: callers combine it with
      ``combine="sum"`` (the query ADDS to the relevance score — it can
      only promote near-origin docs, never zero out a match, unlike the
      multiplicative factors above).  Datetime origin + timedelta pivot
      measure distance in seconds via int64-ns arithmetic.
    """
    if "field_value_factor" in spec:
        p = spec["field_value_factor"]
        f = float(p.get("factor", 1.0))
        mod = p.get("modifier", "none")
        if mod == "log1p":
            return lambda v: np.log1p(f * v.astype(np.float64))
        if mod == "sqrt":
            return lambda v: np.sqrt(f * v.astype(np.float64))
        if mod == "none":
            return lambda v: f * v.astype(np.float64)
        raise ValueError(f"unknown modifier {mod!r}")
    if "exp_decay" in spec:
        p = spec["exp_decay"]
        origin, scale = p["origin"], p["scale"]
        if hasattr(origin, "timestamp"):  # datetime origin → ns arithmetic
            o_ns = int(origin.timestamp() * 1e9)
            s_ns = float(scale.total_seconds() * 1e9)

            def fn(v):
                ns = v.astype("datetime64[ns]").astype(np.int64)
                return np.exp(
                    np.log(0.5) * np.abs(ns - o_ns).astype(np.float64) / s_ns
                )

            return fn
        o, sc = float(origin), float(scale)
        return lambda v: np.exp(
            np.log(0.5) * np.abs(v.astype(np.float64) - o) / sc
        )
    if "distance_feature" in spec:
        p = spec["distance_feature"]
        origin, pivot = p["origin"], p["pivot"]
        boost = float(p.get("boost", 1.0))
        if hasattr(origin, "timestamp"):  # datetime origin → ns arithmetic
            o_ns = int(origin.timestamp() * 1e9)
            piv_s = float(pivot.total_seconds())

            def fn(v):
                ns = v.astype("datetime64[ns]").astype(np.int64)
                dist_s = np.abs(ns - o_ns).astype(np.float64) / 1e9
                return boost * piv_s / (piv_s + dist_s)

            return fn
        o, piv = float(origin), float(pivot)
        return lambda v: (
            boost * piv / (piv + np.abs(v.astype(np.float64) - o))
        )
    if "rank_feature" in spec:
        # OpenSearch rank_feature query shapes (FeatureField scoring):
        # saturation  v/(v+pivot), log  ln(1 + a·v), sigmoid
        # v^e/(v^e + pivot^e) — all monotone in the (positive) feature,
        # each scaled by the query boost.  Additive: the rank_feature
        # query contributes boost·S(v) to the surrounding bool's score
        # (combine="sum"), promoting featured docs without ever zeroing
        # a relevance match.
        p = spec["rank_feature"]
        boost = float(p.get("boost", 1.0))
        if "saturation" in p:
            piv = float(p["saturation"]["pivot"])
            return lambda v: boost * (
                v.astype(np.float64) / (v.astype(np.float64) + piv)
            )
        if "log" in p:
            a = float(p["log"]["scaling_factor"])
            return lambda v: boost * np.log1p(a * v.astype(np.float64))
        if "sigmoid" in p:
            piv = float(p["sigmoid"]["pivot"])
            e = float(p["sigmoid"]["exponent"])
            pe = piv ** e

            def fn(v):
                ve = np.power(v.astype(np.float64), e)
                return boost * ve / (ve + pe)

            return fn
        raise ValueError(f"unknown rank_feature shape {sorted(p)}")
    if "raw" in spec:
        # identity — callers that combine with a callable (script_score)
        # want the raw docvalue array, not a pre-shaped factor
        return lambda v: v.astype(np.float64)
    raise ValueError(f"unknown function_score spec {sorted(spec)}")


# function_score boost_mode (OpenSearch): how the function value folds
# into the BM25 relevance score.  All six reference modes; each is a
# pure elementwise combine, identical on the driver and per-range paths.
_COMBINE_MODES = {
    "multiply": lambda s, fv: s * fv,
    "sum": lambda s, fv: s + fv,
    "replace": lambda s, fv: fv + 0.0 * s,  # keep array shape
    "avg": lambda s, fv: (s + fv) / 2.0,
    "max": lambda s, fv: np.maximum(s, fv),
    "min": lambda s, fv: np.minimum(s, fv),
}


def search_function_score(
    searcher,
    query_text: str,
    field: str,
    spec: dict,
    k: int = 10,
    filters=(),
    distributed: bool = False,
    tie_round: int | None = None,
    combine: str = "multiply",
) -> list[tuple[int, float]]:
    """function_score (OpenSearch): final score = BM25 × factor(field
    docvalue) — field_value_factor modifiers or exponential recency
    decay.  The classic relevance-times-freshness ranking; the factor
    combines AFTER the full BM25 sum, so term accumulation order stays
    the oracle's.  *combine* is function_score's boost_mode — all six
    reference modes (multiply / sum / replace / avg / max / min);
    "sum" is also the additive shape distance_feature uses, "replace"
    drops relevance entirely (the script-score shape).  Distributed
    mode cogroups the scored match set with docvalues per docID range
    (the factor never sees another range)."""
    _check_filters(filters)
    if not callable(combine) and combine not in _COMBINE_MODES:
        raise ValueError(f"unknown combine {combine!r}")
    fn = _factor_fn(spec)
    _, ids, buckets = searcher._terms_buckets(query_text)
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in ids}
    scoring = sorted(ids, key=lambda i: ids[i])
    cfg = searcher.cfg
    if distributed:
        return _function_score_distributed(
            searcher, ids, buckets, scoring, idf, fn, field, filters, k,
            tie_round, combine,
        )
    meta_ids, (meta_vals,) = _meta_ids_vals(searcher, filters, [field])
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    da, sc = score_brute(view_slices(views), cfg.k1, cfg.b, searcher.avgdl)
    keep = _member_sorted(da, meta_ids)  # filters drop non-members
    da, sc = da[keep], sc[keep]
    if da.size == 0:
        return []
    fv = fn(meta_vals[np.searchsorted(meta_ids, da)])
    sc = (combine if callable(combine) else _COMBINE_MODES[combine])(sc, fv)
    if tie_round is not None:
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _function_score_distributed(
    searcher, labels, buckets, scoring, idf, fn, field, filters, k,
    tie_round, combine="multiply",
):
    from .tokenize import range_id_col

    cfg, avgdl = searcher.cfg, searcher.avgdl
    deleted = searcher.deleted

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        if post_pdf.empty or meta_pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        views = term_views(
            post_pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        subs = view_slices(views)
        if not subs:
            return pd.DataFrame({"doc_id": [], "score": []})
        i_r, s_r = score_brute(subs, cfg.k1, cfg.b, avgdl)
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        meta_vals = meta_pdf["v"].to_numpy()
        order = np.argsort(meta_ids)
        meta_ids, meta_vals = meta_ids[order], meta_vals[order]
        keep = _member_sorted(i_r, meta_ids)
        i_r, s_r = i_r[keep], s_r[keep]
        if i_r.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []})
        fv = fn(meta_vals[np.searchsorted(meta_ids, i_r)])
        s_r = (combine if callable(combine)
               else _COMBINE_MODES[combine])(s_r, fv)
        return pd.DataFrame({"doc_id": i_r, "score": s_r})

    meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
    if filters:
        meta = meta.filter(spark_filter_col(filters))
    meta = meta.select(
        range_id_col(cfg).alias("range_id"), "doc_id", F.col(field).alias("v")
    )
    scored = (
        searcher._pruned_slices(list(labels), buckets)
        .groupBy("range_id")
        .cogroup(meta.groupBy("range_id"))
        .applyInPandas(eval_cog, schema="doc_id long, score double")
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


def search_distance_feature(
    searcher,
    query_text: str,
    field: str,
    origin,
    pivot,
    boost: float = 1.0,
    k: int = 10,
    filters=(),
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """distance_feature query (OpenSearch ``distance_feature``; Lucene
    ``LongField#newDistanceFeatureQuery``): final score = BM25(query) +
    boost · pivot / (pivot + |docvalue − origin|) — the additive
    recency/proximity booster.  Unlike function_score's multiplicative
    factors it can only PROMOTE near-origin docs, never zero out a
    match, and a doc still ranks on pure relevance when it sits far from
    the origin (the factor decays toward 0, not the score).  Datetime
    origins take a timedelta pivot (distance in seconds via int64-ns
    arithmetic); numeric docvalues take numeric origin/pivot.  Same
    per-range cogroup scale path as function_score.

    Reference behavior being matched: the sink's OpenSearch side serves
    ``distance_feature`` over any date/numeric docvalues field
    (opensearch/.../OpenSearchSink.java index mapping passthrough)."""
    return search_function_score(
        searcher, query_text, field,
        {"distance_feature": {"origin": origin, "pivot": pivot,
                              "boost": boost}},
        k=k, filters=filters, distributed=distributed, tie_round=tie_round,
        combine="sum",
    )


def search_rank_feature(
    searcher,
    query_text: str,
    field: str,
    shape: dict,
    k: int = 10,
    filters=(),
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """rank_feature query inside a bool should (OpenSearch
    ``rank_feature``; Lucene FeatureField): final score = BM25(query) +
    boost · S(feature docvalue) where S is one of the three reference
    shapes — ``{"saturation": {"pivot": p}}`` → v/(v+p),
    ``{"log": {"scaling_factor": a}}`` → ln(1+a·v), ``{"sigmoid":
    {"pivot": p, "exponent": e}}`` → vᵉ/(vᵉ+pᵉ) — each monotone in the
    positive feature and bounded (saturation/sigmoid < 1), so a strong
    feature can only PROMOTE a relevance match, never drown the
    ranking.  *shape* carries the shape key (+ optional "boost").
    Distinct from distance_feature (distance DECAY from an origin) and
    from function_score's multiplicative factors.  Same per-range
    cogroup scale path.

    Reference behavior being matched: the sink's OpenSearch index
    serves ``rank_feature`` over any stored numeric docvalue
    (opensearch/.../OpenSearchSink.java mapping passthrough)."""
    return search_function_score(
        searcher, query_text, field, {"rank_feature": shape},
        k=k, filters=filters, distributed=distributed, tie_round=tie_round,
        combine="sum",
    )


def search_script_score(
    searcher,
    query_text: str,
    script: str,
    k: int = 10,
    filters=(),
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """script_score query (OpenSearch ``script_score``): the match
    set's BM25 score re-shaped by a Painless-lite expression over
    ``_score`` and ONE ``doc['field'].value`` docvalue (index/script.py
    compile_script — closed arithmetic grammar + the documented scoring
    helpers, compiled to a vectorized numpy closure; no eval()).  The
    script applies AFTER the full BM25 term accumulation, elementwise,
    so it composes with the existing per-range cogroup distributed path
    unchanged: the scripted map runs inside each range's kernel and
    only (doc, score) partials cross the gather.

    Reference behavior being matched: script-based re-scoring on the
    sink's OpenSearch index (OpenSearchSink.java passthrough; the
    reference pipeline itself defers scoring entirely to OpenSearch)."""
    from .script import compile_script

    fn, fields = compile_script(script)
    if len(fields) != 1:
        raise ValueError(
            "script_score serving path supports exactly one "
            f"doc[...] field per script, got {fields or 'none'}"
        )
    field = fields[0]
    return search_function_score(
        searcher, query_text, field, {"raw": {}},
        k=k, filters=filters, distributed=distributed, tie_round=tie_round,
        combine=lambda s, v, fn=fn, field=field: fn(s, {field: v}),
    )


def _random_score_values(seed: str, doc_ids: np.ndarray) -> np.ndarray:
    """Deterministic per-doc uniform [0,1): the first 60 bits of
    md5("{seed}:{doc_id}") divided by 2^60 — the exact expression both
    DuckDB (``('0x'||substr(md5(..),1,15))::BIGINT``) and Spark
    (``F.conv(F.substring(F.md5(..),1,15),16,10)``) compute, so the
    driver path, the distributed path, and the oracle agree
    bit-for-bit (value = integer / power-of-two is exact in float64)."""
    import hashlib

    return np.array(
        [
            int(hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:15], 16)
            for d in doc_ids.tolist()
        ],
        dtype=np.float64,
    ) / float(1 << 60)


def search_random_score(
    searcher,
    query_text: str,
    seed: str,
    k: int = 10,
    filters=(),
    distributed: bool = False,
    tie_round: int = 6,
) -> list[tuple[int, float]]:
    """function_score ``random_score`` with a seed (OpenSearch): every
    doc matching ANY query term (and passing *filters*) scores a
    deterministic uniform [0,1) that is a pure function of
    (seed, doc_id) — reproducible sampling-style ranking that is
    consistent across replicas and re-runs, which is the reason
    OpenSearch seeds it on a field rather than RNG state.  No relevance
    scoring at all: the posting decode touches only docID streams.

    Distributed mode computes the hash JVM-side (md5 → first 60 bits /
    2^60, whole-stage-codegen expressions, no Python in the hot path)
    over the per-range match sets; orderBy().limit(k) compiles to
    TakeOrderedAndProject, so each partition contributes at most k rows
    to the final gather — the 10^12-doc shape."""
    got = _match_set(searcher, query_text, [], filters,
                     lambda d, cols: (d,), distributed, schema="doc_id long")
    if got is None:
        return []
    if distributed:
        sc = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}:"),
                                   F.col("doc_id").cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            / F.lit(float(1 << 60))
        )
        rows = (
            got.withColumn("score", sc)
            .orderBy(F.round(F.col("score"), tie_round).desc(),
                     F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    (m_ids,) = got
    scores = _random_score_values(seed, m_ids)
    order = np.lexsort((m_ids, -np.round(scores, tie_round)))[:k]
    return [(int(m_ids[i]), float(scores[i])) for i in order]


def search_pinned(
    searcher,
    query_text: str,
    pinned: list[int],
    k: int = 10,
    tie_round: int = 4,
) -> list[tuple[int, int]]:
    """pinned query (OpenSearch ``pinned``): the promoted docIDs rank
    first IN THE GIVEN ORDER — provided they exist in the index (docmeta
    membership, deletes honored; absent ids are skipped, as OpenSearch
    drops unknown ids) — then the organic BM25 ranking, with pinned docs
    removed, fills the remainder up to *k*.  Returns (rank, doc_id)
    pairs; pinned docs carry no meaningful relevance score (Lucene
    synthesizes descending sentinel scores above any organic score), so
    the rank IS the contract."""
    present = {d for d, _ in search_ids(searcher, pinned, k=len(pinned))}
    head = [int(d) for d in pinned if int(d) in present][:k]
    organic = searcher.search(
        query_text, k=k + len(head), distributed=False, tie_round=tie_round
    )
    out = list(head)
    head_set = set(head)
    for did, _sc in organic:
        if len(out) >= k:
            break
        if did not in head_set:
            out.append(int(did))
    return list(enumerate(out, start=1))


def search_terms_set(
    searcher,
    terms: list[str],
    msm_field: str,
    k: int = 10,
    required_fn=None,
    filters=(),
    distributed: bool = False,
    tie_round: int | None = None,
) -> list[tuple[int, float]]:
    """terms_set query (OpenSearch / Lucene CoveringQuery): a doc
    matches when it contains at least r(doc) of the supplied *terms*,
    where r(doc) = max(1, required_fn(docvalue[msm_field])) — the
    ``minimum_should_match_field`` / ``minimum_should_match_script``
    surface (reference sink delegates to OpenSearch's TermsSetQuery;
    Lucene clamps the per-doc requirement to ≥1).  *required_fn* is a
    vectorized ndarray→ndarray callable (identity when None, the plain
    field semantics).  Scoring is the BM25 disjunction sum over the
    matched supplied terms, accumulated in sorted-term order.

    Distributed mode cogroups the pruned posting slices with the
    docvalues column per docID range — the per-doc requirement never
    leaves its range, so the shuffle stays bounded by the match set
    (the 10^12-doc plan; same shape as function_score)."""
    _check_filters(filters)
    _, ids, buckets = searcher._terms_buckets(" ".join(dict.fromkeys(terms)))
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    if not ids:
        return []
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in ids}
    cfg, avgdl = searcher.cfg, searcher.avgdl

    def eval_slices(views, meta_ids, meta_vals):
        # closure captures scalars only (cfg/avgdl/required_fn) — the
        # distributed cogroup pickles this into the workers
        subs = view_slices(views)
        if not subs:
            return None
        i_r, s_r = score_brute(subs, cfg.k1, cfg.b, avgdl)
        cnt = np.zeros(i_r.size, dtype=np.int64)
        for s in subs:
            cnt += _member_sorted(i_r, s.doc_ids)
        keep = _member_sorted(i_r, meta_ids)  # filters / missing-field drop
        i_r, s_r, cnt = i_r[keep], s_r[keep], cnt[keep]
        if i_r.size == 0:
            return None
        vals = meta_vals[np.searchsorted(meta_ids, i_r)]
        req = required_fn(vals) if required_fn is not None else vals
        req = np.maximum(1, np.asarray(req).astype(np.int64))
        keep = cnt >= req
        i_r, s_r = i_r[keep], s_r[keep]
        return (i_r, s_r) if i_r.size else None

    if distributed:
        return _terms_set_distributed(
            searcher, ids, buckets, idf, eval_slices, msm_field, filters,
            k, tie_round,
        )
    meta_ids, (meta_vals,) = _meta_ids_vals(searcher, filters, [msm_field])
    views = term_views(
        searcher._pruned_slice_rows(list(ids), buckets), ids, idf,
        cfg.block_size, searcher.deleted,
    )
    got = eval_slices(views, meta_ids, meta_vals)
    if got is None:
        return []
    da, sc = got
    if tie_round is not None:
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]
    ids_k, sc_k = topk_select(da, sc, k)
    return list(zip(ids_k.tolist(), sc_k.tolist()))


def _terms_set_distributed(
    searcher, labels, buckets, idf, eval_slices, msm_field, filters, k,
    tie_round,
):
    from .tokenize import range_id_col

    cfg, deleted = searcher.cfg, searcher.deleted

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        if post_pdf.empty or meta_pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        views = term_views(
            post_pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        meta_vals = meta_pdf["v"].to_numpy()
        order = np.argsort(meta_ids)
        got = eval_slices(views, meta_ids[order], meta_vals[order])
        if got is None:
            return pd.DataFrame({"doc_id": [], "score": []})
        return pd.DataFrame({"doc_id": got[0], "score": got[1]})

    meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
    if filters:
        meta = meta.filter(spark_filter_col(filters))
    meta = meta.select(
        range_id_col(cfg).alias("range_id"), "doc_id",
        F.col(msm_field).alias("v"),
    )
    scored = (
        searcher._pruned_slices(list(labels), buckets)
        .groupBy("range_id")
        .cogroup(meta.groupBy("range_id"))
        .applyInPandas(eval_cog, schema="doc_id long, score double")
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


def match_agg_terms(
    searcher, query_text: str, field: str, filters=(), distributed: bool = False
) -> list[tuple[object, int]]:
    """Terms aggregation over the match set (OpenSearch `aggs: {terms}`):
    distinct values of a docvalues field among docs matching ANY query
    term, with counts, sorted by value — the value histogram itself
    (only (value, count) pairs cross the shuffle)."""
    vals, counts = match_value_hist(
        searcher, query_text, field, filters, distributed
    )
    return [(_py(u), int(c)) for u, c in zip(vals, counts)]


def match_agg_histogram(
    searcher, query_text: str, field: str, width: float, filters=(),
    distributed: bool = False,
) -> list[tuple[float, int]]:
    """Histogram aggregation over the match set (OpenSearch `aggs:
    {histogram}`): counts per fixed-width bucket of a numeric docvalues
    field; bucket label = floor(value / width) · width."""
    return _bucket_counts(
        searcher, query_text, [field], filters, distributed,
        lambda v: np.floor(v.astype(np.float64) / width) * width, "double",
    )


_DATE_UNITS = {
    "minute": "m", "hour": "h", "day": "D", "month": "M", "year": "Y",
}


def match_agg_date_histogram(
    searcher, query_text: str, field: str, interval: str = "day",
    filters=(), distributed: bool = False,
) -> list[tuple[str, int]]:
    """Date-histogram aggregation over the match set (OpenSearch `aggs:
    {date_histogram}` — the trace/log UI's time buckets): counts per
    calendar bucket of a timestamp docvalues field.  Bucket labels are
    ISO strings at the interval's resolution ("2025-06-01",
    "2025-06-01T13", "2025-06", "2025") — numpy datetime64 truncation,
    never .item() on ns values (returns int ns)."""
    return _bucket_counts(
        searcher, query_text, [field], filters, distributed,
        _date_bucketer(_DATE_UNITS[interval]), "string",
    )


def _bucket_counts(searcher, query_text, fields, filters, distributed,
                   bucketer, bucket_type):
    """(bucket, count) rows, ascending bucket, of the match set mapped
    by ``bucketer(*field columns)`` to one label per (doc, bucket).  The
    bucketing runs INSIDE the per-range partial, so only (bucket, count)
    pairs cross the shuffle — bounded by the bucket count, where a
    value histogram of a timestamp field is as long as the match set."""
    got = _match_set(
        searcher, query_text, fields, filters,
        lambda d, cols: np.unique(bucketer(*cols), return_counts=True),
        distributed, schema=f"bucket {bucket_type}, n long",
    )
    if got is None:
        return []
    if distributed:
        rows = (
            got.groupBy("bucket").agg(F.sum("n").alias("n"))
            .orderBy("bucket").collect()
        )
        return [(r["bucket"], int(r["n"])) for r in rows]
    return [(_py(u), int(c)) for u, c in zip(*got)]


def _date_bucketer(unit):
    """Calendar-truncating key bucketer for the per-bucket partials:
    truncate (cheap int ops), unique the datetime64 codes, format ONLY
    the unique buckets, expand by inverse — never per-element string
    formatting."""

    def bucketer(v):
        dt = np.asarray(v).astype(f"datetime64[{unit}]")
        uniq, inv = np.unique(dt, return_inverse=True)
        return np.datetime_as_string(uniq)[inv]

    return bucketer


def _fold_counts(keys, counts):
    """Sum *counts* per distinct key: (sorted keys, int64 sums) — a
    (value, count) histogram re-bucketed."""
    uniq, inv = np.unique(keys, return_inverse=True)
    n = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(n, inv, counts)
    return uniq, n


def _match_query_ids(searcher, query_text):
    """(live term_id→term map, pruned buckets) for a match-set query —
    shared prologue of every aggregation entry point."""
    _, ids, buckets = searcher._terms_buckets(query_text)
    dfs = searcher.term_stats(ids, buckets)
    ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
    return ids, buckets


def match_value_hist(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """The exact (value, count) histogram of one docvalues field over the
    match set — THE foldable partial for every value aggregation (terms /
    stats / percentiles / cardinality / range … all fold it through a
    ``*_from_hist``) and for their cross-period family forms: period doc
    spaces are disjoint, so per-segment histograms fold by summing counts
    per value, with no global-stats coupling.  Sorted by value.
    Distributed mode ships per-range (value, count) partials and sums
    them per value — cost bounded by the FIELD CARDINALITY, not the
    match count (the OpenSearch analog computes stats/t-digest sketches
    per shard; an exact value histogram is the strictly-stronger partial
    for bounded-cardinality docvalues)."""
    got = _match_set(
        searcher, query_text, [field], filters,
        lambda d, cols: np.unique(cols[0], return_counts=True), distributed,
        schema=lambda t: f"v {t[0]}, n long",
    )
    if got is None:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    if distributed:
        rows = (
            got.groupBy("v").agg(F.sum("n").alias("n")).orderBy("v").collect()
        )
        return (
            np.array([r["v"] for r in rows]),
            np.array([int(r["n"]) for r in rows], dtype=np.int64),
        )
    vals, counts = got
    return vals, counts.astype(np.int64)


def stats_from_hist(vals: np.ndarray, counts: np.ndarray) -> dict:
    """count/min/max/sum/avg from a sorted (value, count) histogram —
    integer sums stay exact (the engine↔oracle hashing contract)."""
    if vals.size == 0:
        return {"count": 0, "min": None, "max": None, "sum": 0, "avg": None}
    n = int(counts.sum())
    total = (vals * counts).sum()
    return {
        "count": n,
        "min": vals[0].item(),
        "max": vals[-1].item(),
        "sum": total.item(),
        "avg": float(total) / n,
    }


def percentiles_from_hist(
    vals: np.ndarray, counts: np.ndarray, percents
) -> list[tuple[float, object]]:
    """Nearest-rank-exact percentiles from a sorted (value, count)
    histogram — percentile p = value at 1-based rank ceil(p/100·n)."""
    if vals.size == 0:
        return []
    return [
        (float(p), _py(_nearest_rank_from_hist(vals, counts, p)))
        for p in percents
    ]


def range_from_hist(vals: np.ndarray, counts: np.ndarray, ranges):
    """[from, to) bucket counts from a sorted (value, count) histogram;
    every bucket emitted, overlap allowed (OpenSearch range-agg rules)."""
    out = []
    for label, lo, hi in ranges:
        if vals.size == 0:
            out.append((label, 0))
            continue
        m = np.ones(vals.shape, dtype=bool)
        if lo is not None:
            m &= vals >= lo
        if hi is not None:
            m &= vals < hi
        out.append((label, int(counts[m].sum())))
    return out


def match_agg_stats(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Stats aggregation over the match set (OpenSearch ``aggs:stats``):
    count / min / max / sum / avg of a numeric docvalues field among
    docs matching ANY query term, folded from the value histogram.
    Integral fields keep EXACT integer sums (float accumulation order
    can't break rank identity with the SQL oracle); avg is derived."""
    return stats_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed)
    )


def match_agg_percentiles(
    searcher, query_text: str, field: str, percents=(25.0, 50.0, 75.0, 95.0),
    filters=(), distributed: bool = False,
) -> list[tuple[float, object]]:
    """Percentiles aggregation over the match set (OpenSearch
    ``aggs:percentiles``): nearest-rank-exact quantiles of a docvalues
    field — percentile p is the value at 1-based rank ``max(1,
    ceil(p/100 · n))`` of the sorted match values, a deterministic
    SQL-expressible definition (the reference's OpenSearch uses an
    approximate t-digest; exact nearest-rank is strictly stronger and
    oracle-pinnable).  Walks the cumulative value histogram — driver
    traffic is bounded by field cardinality, not match count."""
    return percentiles_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed),
        percents,
    )


def _nearest_rank_from_hist(vals: np.ndarray, counts: np.ndarray, p: float):
    """Value at 1-based nearest rank ``max(1, ceil(p/100·n))`` of the
    (sorted values, counts) histogram — the percentiles definition."""
    cum = np.cumsum(counts)
    rank = max(1, int(math.ceil(p / 100.0 * int(cum[-1]))))
    return vals[int(np.searchsorted(cum, rank, side="left"))]


def mad_from_hist(vals: np.ndarray, counts: np.ndarray) -> dict:
    """(n, median, mad) from a (sorted values, counts) histogram — the
    foldable form match_agg_median_absolute_deviation and the family
    cross-period fold share.  Both medians are nearest-rank (the
    percentiles definition); the deviation histogram is a re-fold of the
    value histogram, cost ∝ field cardinality."""
    if vals.size == 0:
        return {"n": 0, "median": None, "mad": None}
    n = int(counts.sum())
    med = _nearest_rank_from_hist(vals, counts, 50.0)
    mad = _nearest_rank_from_hist(
        *_fold_counts(np.abs(vals - med), counts), 50.0
    )
    return {"n": n, "median": _py(med), "mad": _py(mad)}


def match_agg_median_absolute_deviation(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Median-absolute-deviation aggregation over the match set
    (OpenSearch ``aggs:median_absolute_deviation``): median of
    |v − median(v)| — the robust dispersion metric.  Both medians use
    the nearest-rank definition shared with match_agg_percentiles
    (value at 1-based rank ``max(1, ceil(n/2))``), so integral fields
    are exact end-to-end; the reference's OpenSearch computes both
    medians on a t-digest sketch — nearest-rank-exact is strictly
    stronger and SQL-pinnable.  Both medians derive from the one folded
    value histogram (deviation histogram = |vals − med| re-fold, cost ∝
    field cardinality, no second scan)."""
    return mad_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed)
    )


def match_agg_cardinality(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> int:
    """Cardinality aggregation over the match set (OpenSearch
    ``aggs:cardinality``): EXACT distinct count of a docvalues field —
    the value histogram's key count.  The reference's OpenSearch answers
    with HyperLogLog++; the exact histogram is strictly stronger and
    stays scale-safe because only per-range DISTINCT values cross the
    shuffle.  Swap the partial for an HLL register set if the field is
    genuinely unbounded."""
    vals, _ = match_value_hist(
        searcher, query_text, field, filters, distributed
    )
    return int(vals.size)


def match_agg_range(
    searcher, query_text: str, field: str, ranges, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """Range aggregation over the match set (OpenSearch ``aggs:range``):
    one count per caller-defined [from, to) interval of a numeric
    docvalues field.  *ranges* is a list of (label, lo, hi) with None
    for an open end; intervals MAY overlap (each bucket counts
    independently, OpenSearch semantics) and every bucket is emitted
    even when empty.  Bucket membership is evaluated over the folded
    value histogram."""
    return range_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed),
        ranges,
    )


def match_agg_terms_stats(
    searcher, query_text: str, key_field: str, value_field: str,
    filters=(), distributed: bool = False,
) -> list[tuple[object, int, object, object, object]]:
    """Nested terms→stats aggregation over the match set (OpenSearch
    ``aggs: {terms: {...}, aggs: {stats: {...}}}``): per distinct value
    of *key_field*, the (count, sum, min, max) of *value_field* among
    matching docs, sorted by bucket.  Integral metrics keep exact
    integer sums.  Distributed mode emits per-range per-bucket partials
    — additive (n, sum) and extremal (min, max) fold exactly across
    ranges, the map-side-combine shape."""
    return _bucket_stats(
        searcher, query_text, key_field, value_field, filters, distributed
    )


def _fold_terms_stats(keys, vals):
    """Per distinct key: (keys, n, Σv, min v, max v) columns."""
    uniq, inv = np.unique(keys, return_inverse=True)
    n = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(n, inv, 1)
    if np.issubdtype(vals.dtype, np.integer):
        s = np.zeros(uniq.size, dtype=np.int64)
    else:
        s = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(s, inv, vals)
    mn = np.full(uniq.size, vals.max())
    np.minimum.at(mn, inv, vals)
    mx = np.full(uniq.size, vals.min())
    np.maximum.at(mx, inv, vals)
    return uniq, n, s, mn, mx


def _bucket_stats(
    searcher, query_text, key_field, value_field, filters, distributed,
    key_bucketer=None, key_type=None,
):
    """(bucket, n, sum, min, max) rows per distinct key — the shared
    body of terms_stats and date_histogram_stats.  *key_bucketer*
    (optional) maps the raw keys to bucket labels INSIDE the partial
    (date truncation), so only (bucket, partial) rows cross the shuffle;
    *key_type* is then the bucket's Spark type."""

    def partial(d, cols):
        keys = cols[0] if key_bucketer is None else key_bucketer(cols[0])
        return _fold_terms_stats(keys, cols[1])

    def schema(t):
        s_t = ("bigint" if t[1] in ("bigint", "int", "smallint", "tinyint")
               else "double")
        return (f"bucket {key_type or t[0]}, n long, s {s_t}, "
                f"mn {t[1]}, mx {t[1]}")

    got = _match_set(searcher, query_text, [key_field, value_field],
                     filters, partial, distributed, schema=schema)
    if got is None:
        return []
    if distributed:
        rows = (
            got.groupBy("bucket")
            .agg(
                F.sum("n").alias("n"), F.sum("s").alias("s"),
                F.min("mn").alias("mn"), F.max("mx").alias("mx"),
            )
            .orderBy("bucket")
            .collect()
        )
        return [
            (r["bucket"], int(r["n"]), r["s"], r["mn"], r["mx"]) for r in rows
        ]
    return [(_py(u), int(n), _py(s), _py(mn), _py(mx))
            for u, n, s, mn, mx in zip(*got)]


def match_agg_significant_terms(
    searcher, query_text: str, field: str, k: int = 10, filters=(),
    distributed: bool = False,
) -> list[tuple[object, int, int, int]]:
    """Significant-terms aggregation over a docvalues field (OpenSearch
    ``aggs:significant_terms`` — "what is unusually common in the
    matched docs vs the whole index"): per field value, the foreground
    count (matched docs) vs the background count (all live docs), ranked
    by the JLH score (fg% − bg%)·(fg%/bg%) — computed in EXACT integer
    arithmetic scaled by 10⁶ so engine and SQL oracle agree bit-for-bit
    (float rounding of a rational score could diverge at ties):

        score_e6 = ((fg·B − bg·F)·fg·B·10⁶) // (F²·bg·B)

    with F = foreground size, B = background size.  Only buckets with
    fg > 0 are candidates (OpenSearch emits no zero-fg buckets); ties
    rank by (score DESC, bucket ASC).  Returns (bucket, score_e6, fg_n,
    bg_n).  The foreground is the terms aggregation; distributed mode
    takes the background from one docmeta groupBy — only (value, count)
    pairs cross the shuffle."""
    fg = dict(match_agg_terms(searcher, query_text, field, filters,
                              distributed))
    if not fg:
        return []
    if distributed:
        meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
        if filters:
            meta = meta.filter(spark_filter_col(filters))
        if searcher.deleted.size:
            meta = meta.filter(
                ~F.col("doc_id").isin([int(d) for d in searcher.deleted])
            )
        bg_rows = (
            meta.groupBy(F.col(field).alias("v"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        bg = {r["v"]: int(r["n"]) for r in bg_rows}
    else:
        meta_ids, (meta_vals,) = _meta_ids_vals(searcher, filters, [field])
        if searcher.deleted.size:
            live = ~_member_sorted(meta_ids, searcher.deleted)
            meta_vals = meta_vals[live]
        bg = {
            _py(u): int(c)
            for u, c in zip(*np.unique(meta_vals, return_counts=True))
        }
    f_tot = sum(fg.values())
    b_tot = sum(bg.values())
    if f_tot == 0 or b_tot == 0:
        return []
    scored = []
    for v, fg_n in fg.items():
        bg_n = bg.get(v, fg_n)  # fg docs are in the background too
        num = (fg_n * b_tot - bg_n * f_tot) * fg_n * b_tot * 10**6
        den = f_tot * f_tot * bg_n * b_tot
        scored.append((v, _tdiv(num, den), fg_n, bg_n))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def match_agg_top_hits(
    searcher, query_text: str, key_field: str, sort_field: str, k: int = 3,
    ascending: bool = False, filters=(), distributed: bool = False,
) -> list[tuple[object, int, object]]:
    """Nested terms→top_hits aggregation over the match set (OpenSearch
    ``aggs: {terms, aggs: {top_hits}}`` — "the newest / largest N docs
    per bucket"): per distinct *key_field* value, the top-*k* matching
    docs by (*sort_field*, doc_id ASC).  Returns (bucket, doc_id,
    sort_value) rows ordered by (bucket, rank).  Distributed mode emits
    per-range per-bucket top-k partials (exact: a bucket's global top-k
    is a subset of the union of its per-range top-ks) and re-ranks with
    one row_number window — only k rows per (range, bucket) cross the
    shuffle."""
    from pyspark.sql.window import Window

    def partial(d, cols):
        uniq, inv = np.unique(cols[0], return_inverse=True)
        bs, ds_, vs = [], [], []
        for j, u in enumerate(uniq):
            sel = np.flatnonzero(inv == j)
            i_b, v_b = _topk_by_field(d[sel], cols[1][sel], k, ascending)
            bs.extend([_py(u)] * i_b.size)
            ds_.extend(i_b.tolist())
            vs.extend(_py(v) for v in v_b)
        return bs, ds_, vs

    got = _match_set(
        searcher, query_text, [key_field, sort_field], filters, partial,
        distributed, schema=lambda t: f"bucket {t[0]}, doc_id long, v {t[1]}",
    )
    if got is None:
        return []
    if not distributed:
        return list(zip(*got))
    v_spark = F.asc("v") if ascending else F.desc("v")
    w = Window.partitionBy("bucket").orderBy(v_spark, F.asc("doc_id"))
    rows = (
        got.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .orderBy("bucket", "rn")
        .collect()
    )
    return [(r["bucket"], int(r["doc_id"]), r["v"]) for r in rows]


def _search_filtered_distributed(
    searcher, labels, buckets, scoring, idf, k, tie_round, filters
):
    """Scale path: pruned posting slices ⟂cogroup⟂ filtered docmeta scan,
    both grouped by range_id — the allowlist stays inside its docID-range
    partition; no global allowed set ever materializes on one node."""
    from .tokenize import range_id_col

    cfg, avgdl = searcher.cfg, searcher.avgdl
    deleted = searcher.deleted

    def eval_cog(post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
        if post_pdf.empty or allow_pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        cand = np.sort(allow_pdf["doc_id"].to_numpy(np.int64))
        if deleted.size:
            cand = cand[~_member_sorted(cand, deleted)]
        views = term_views(
            post_pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
        )
        i_r, s_r = _score_candidates(
            views, cand, scoring, cfg.k1, cfg.b, avgdl
        )
        return pd.DataFrame({"doc_id": i_r, "score": s_r})

    allow_df = (
        searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
        .filter(spark_filter_col(filters))
        .select(range_id_col(cfg).alias("range_id"), "doc_id")
    )
    scored = (
        searcher._pruned_slices(list(labels), buckets)
        .groupBy("range_id")
        .cogroup(allow_df.groupBy("range_id"))
        .applyInPandas(eval_cog, schema="doc_id long, score double")
    )
    if tie_round is not None:
        ordered = scored.orderBy(
            F.round(F.col("score"), tie_round).desc(), F.asc("doc_id")
        )
    else:
        ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    out = ordered.limit(k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in out]


# --------------------------------------------------- composite / extended

def match_agg_extended_stats(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Extended-stats aggregation over the match set (OpenSearch
    ``aggs:extended_stats``): count/min/max/sum plus sum_of_squares and
    population variance.  Integral fields keep EXACT integer sum and
    sum_sq (variance derives as (n·Σv² − (Σv)²)/n² in arbitrary-precision
    python ints, so the oracle contract never meets float accumulation);
    distributed mode folds the same per-range (value, count) histogram as
    stats — cost bounded by field cardinality, not match count."""
    vals, counts = match_value_hist(
        searcher, query_text, field, filters, distributed=distributed
    )
    if vals.size == 0:
        return {"count": 0, "min": None, "max": None, "sum": 0,
                "sum_sq": 0, "variance": None}
    n = int(counts.sum())
    if np.issubdtype(vals.dtype, np.integer):
        # python-int accumulation: exact at any corpus size (n·Σv² can
        # overflow int64 at 10^12 docs × wide values)
        s = sum(int(v) * int(c) for v, c in zip(vals, counts))
        ss = sum(int(v) * int(v) * int(c) for v, c in zip(vals, counts))
        var = float(n * ss - s * s) / float(n * n)
    else:
        vf = vals.astype(np.float64)
        s = float((vf * counts).sum())
        ss = float((vf * vf * counts).sum())
        var = (n * ss - s * s) / (n * n)
    return {
        "count": n,
        "min": vals[0].item(),
        "max": vals[-1].item(),
        "sum": s,
        "sum_sq": ss,
        "variance": var,
    }


def _tuple_gt(row, after) -> bool:
    return tuple(row) > tuple(after)


def match_agg_composite(
    searcher, query_text: str, sources: list[str], size: int = 10,
    after: tuple | None = None, filters=(), distributed: bool = False,
):
    """Composite aggregation (OpenSearch ``aggs:composite``): the match
    set's distinct (source₁, …, sourceₙ) docvalue tuples with counts,
    in ascending tuple order, paginated — only tuples strictly AFTER the
    cursor are returned, ``size`` per page, with the page's last tuple as
    the next ``after_key``.  THE scale shape for unbounded-cardinality
    aggregations: every page is a bounded, resumable unit (deep bucket
    sets never materialize at once), and the cursor pushes into the
    per-range partials so skipped buckets are never emitted.
    Returns (rows, after_key) with rows = [(v₁, …, vₙ, count)]."""
    rows = _tuple_counts(searcher, query_text, sources, filters,
                         distributed, size, after)
    if not rows:
        return [], None
    return rows, tuple(rows[-1][:-1])


def _tuple_counts(searcher, query_text, sources, filters, distributed,
                  size, after=None):
    """The first *size* (v₁, …, vₙ, count) rows, ascending, of the match
    set's distinct docvalue tuples strictly after *after* — per-range
    (tuple, count) partials with the cursor applied inside the partial,
    global groupBy-sum, ascending tuple order, limit size."""
    cs = [f"c{j}" for j in range(len(sources))]

    def partial(d, cols):
        g = (
            pd.DataFrame(dict(enumerate(cols)))
            .groupby(list(range(len(cols))), sort=True)
            .size()
            .reset_index(name="n")
        )
        if after is not None:
            keep = [_tuple_gt(tuple(map(_py, r)), after)
                    for r in g.iloc[:, :-1].itertuples(index=False)]
            g = g[np.array(keep, dtype=bool)]
        return tuple(g[c].to_numpy() for c in g.columns)

    got = _match_set(
        searcher, query_text, list(sources), filters, partial, distributed,
        schema=lambda t: ", ".join(f"{c} {x}" for c, x in zip(cs, t))
        + ", n long",
    )
    if got is None:
        return []
    if distributed:
        out = (
            got.groupBy(*cs).agg(F.sum("n").alias("n")).orderBy(*cs)
            .limit(size).collect()
        )
        return [(*(r[c] for c in cs), int(r["n"])) for r in out]
    return [(*map(_py, r[:-1]), int(r[-1])) for r in zip(*got)][:size]


def match_agg_date_histogram_stats(
    searcher, query_text: str, ts_field: str, interval: str,
    value_field: str, filters=(), distributed: bool = False,
) -> list[tuple[str, int, object, object, object]]:
    """Date-histogram with a stats sub-aggregation (OpenSearch
    ``aggs: {date_histogram, aggs: {stats}}`` — the parent shape every
    PIPELINE aggregation operates on): per calendar bucket of *ts_field*,
    the (count, sum, min, max) of *value_field* among matching docs,
    sorted by bucket.  Integral metrics keep exact integer sums (the
    engine↔oracle hashing contract).  The calendar truncation runs
    INSIDE the per-range partial, so only (bucket, n, sum, min, max)
    partials cross the shuffle — additive and extremal components fold
    exactly."""
    return _bucket_stats(
        searcher, query_text, ts_field, value_field, filters, distributed,
        key_bucketer=_date_bucketer(_DATE_UNITS[interval]),
        key_type="string",
    )


def pipeline_from_buckets(rows, mavg_window: int = 3):
    """Per-bucket PIPELINE aggregations over a parent histogram
    (OpenSearch ``derivative`` / ``cumulative_sum`` / ``moving_fn``):
    given the parent's (bucket, n, sum, …) rows in bucket order, emit
    (bucket, n, sum, cumulative_sum, derivative, moving_avg_e4) —
    derivative is None for the first bucket (OpenSearch emits no value
    there); the moving average is the trailing window of *mavg_window*
    sums ENDING AT the current bucket, as an exact scaled integer
    (sum(window)·10⁴ // len(window)) so engine and SQL oracle agree
    bit-for-bit.  Pipeline aggs run over the REDUCED bucket list (the
    coordinating-node step in OpenSearch), so this is scale-free: cost
    is bounded by bucket count, never match count."""
    out = []
    cum = 0
    sums: list[int] = []
    for i, r in enumerate(rows):
        bucket, n, s = r[0], r[1], int(r[2])
        sums.append(s)
        cum += s
        deriv = None if i == 0 else s - sums[i - 1]
        w = sums[max(0, i - mavg_window + 1): i + 1]
        out.append((bucket, n, s, cum, deriv, _tdiv(sum(w) * 10**4, len(w))))
    return out


def serial_diff_from_buckets(rows, lag: int = 1):
    """Serial-differencing pipeline aggregation (OpenSearch
    ``serial_diff``): per bucket, ``sum − sum(lag buckets earlier)``;
    the first *lag* buckets emit None (OpenSearch omits them).  Runs
    over the REDUCED bucket list like every pipeline agg — scale-free.
    Returns (bucket, n, sum, serial_diff) rows."""
    if lag < 1:
        raise ValueError("serial_diff lag must be >= 1")
    sums = [int(r[2]) for r in rows]
    return [
        (r[0], r[1], sums[i], None if i < lag else sums[i] - sums[i - lag])
        for i, r in enumerate(rows)
    ]


def bucket_stats_from_buckets(rows) -> dict:
    """Sibling pipeline aggregations (OpenSearch ``sum_bucket`` /
    ``min_bucket`` / ``max_bucket`` / ``avg_bucket`` / ``stats_bucket``)
    over a parent histogram's per-bucket sums: scalar stats of the
    bucket metric itself.  avg is an exact scaled integer
    (sum·10⁴ // n_buckets)."""
    if not rows:
        return {"n_buckets": 0, "sum": 0, "min": None, "max": None,
                "avg_e4": None}
    sums = [int(r[2]) for r in rows]
    total = sum(sums)
    return {"n_buckets": len(sums), "sum": total, "min": min(sums),
            "max": max(sums), "avg_e4": _tdiv(total * 10**4, len(sums))}


def bucket_sort_buckets(rows, min_n: int = 0, k: int = 5):
    """``bucket_selector`` + ``bucket_sort`` pipeline aggregations:
    keep parent buckets whose doc count ≥ *min_n* (the selector's
    HAVING), order by (metric sum DESC, bucket ASC), return the top-*k*
    — "the busiest days above a floor", the dashboard shape."""
    kept = [r for r in rows if int(r[1]) >= min_n]
    kept.sort(key=lambda r: (-int(r[2]), r[0]))
    return kept[:k]


def extremal_bucket_from_buckets(rows, mode: str = "max"):
    """``min_bucket`` / ``max_bucket`` sibling pipeline aggregations
    (OpenSearch): the extremal per-bucket metric value AND the bucket
    keys attaining it — OpenSearch emits ``keys`` as a LIST because ties
    are real; keys come back sorted.  Scale-free: runs over the REDUCED
    bucket list like every pipeline agg."""
    if mode not in ("min", "max"):
        raise ValueError(f"unknown extremal mode {mode!r}")
    if not rows:
        return None, []
    sums = [int(r[2]) for r in rows]
    ext = max(sums) if mode == "max" else min(sums)
    keys = sorted(str(r[0]) for r, s in zip(rows, sums) if s == ext)
    return ext, keys


def percentiles_bucket_from_buckets(rows, percents=(25.0, 50.0, 75.0)):
    """``percentiles_bucket`` sibling pipeline aggregation (OpenSearch):
    nearest-rank-exact percentiles OF the parent histogram's per-bucket
    sums — the same 1-based ceil(p/100·n) rank rule as
    ``percentiles_from_hist`` (OpenSearch interpolates over the sorted
    bucket values; nearest-rank is the deterministic SQL-pinnable
    variant).  Returns (percent, value) pairs."""
    if not rows:
        return [(float(p), None) for p in percents]
    sums = np.sort(np.array([int(r[2]) for r in rows], dtype=np.int64))
    return percentiles_from_hist(
        sums, np.ones(sums.size, dtype=np.int64), percents
    )


def extended_stats_bucket_from_buckets(rows) -> dict:
    """``extended_stats_bucket`` sibling pipeline aggregation
    (OpenSearch): count / min / max / sum / sum_of_squares / population
    variance OF the per-bucket sums, in EXACT integer arithmetic —
    variance emitted as a scaled integer ((n·Σs² − (Σs)²)·10⁴ // n²,
    always ≥ 0) so engine and SQL oracle agree bit-for-bit."""
    if not rows:
        return {"n_buckets": 0, "sum": 0, "min": None, "max": None,
                "sum_sq": 0, "var_e4": None}
    sums = [int(r[2]) for r in rows]
    n, s = len(sums), sum(sums)
    ss = sum(v * v for v in sums)
    return {"n_buckets": n, "sum": s, "min": min(sums), "max": max(sums),
            "sum_sq": ss, "var_e4": ((n * ss - s * s) * 10**4) // (n * n)}


def normalize_from_buckets(rows, method: str = "percent_of_sum"):
    """``normalize`` pipeline aggregation (OpenSearch): per parent
    bucket, the metric rescaled — ``percent_of_sum`` (fraction of the
    total) or ``rescale_0_1`` ((s − min)/(max − min)) — as exact scaled
    integers ·10⁶ with truncate-toward-zero division (the DuckDB ``//``
    twin on negatives).  A degenerate rescale window (max == min) emits
    None per bucket, mirroring OpenSearch's skipped value.  Returns
    (bucket, n, sum, norm_e6) rows over the REDUCED bucket list."""
    sums = [int(r[2]) for r in rows]
    if method == "percent_of_sum":
        total = sum(sums)
        return [
            (r[0], r[1], s,
             None if total == 0 else _tdiv(s * 10**6, total))
            for r, s in zip(rows, sums)
        ]
    if method == "rescale_0_1":
        if not rows:
            return []
        lo, hi = min(sums), max(sums)
        return [
            (r[0], r[1], s,
             None if hi == lo else _tdiv((s - lo) * 10**6, hi - lo))
            for r, s in zip(rows, sums)
        ]
    raise ValueError(f"unknown normalize method {method!r}")


def moving_percentiles_from_buckets(rows, window: int = 3,
                                    percents=(50.0,)):
    """``moving_percentiles`` pipeline aggregation (OpenSearch): per
    parent bucket, nearest-rank-exact percentiles of the TRAILING
    *window* bucket sums ending at the current bucket (OpenSearch moves
    a t-digest; the exact variant is deterministic).  Returns
    (bucket, n, sum, {percent: value}) rows."""
    if window < 1:
        raise ValueError("moving_percentiles window must be >= 1")
    sums = [int(r[2]) for r in rows]
    out = []
    for i, r in enumerate(rows):
        w = np.sort(np.array(sums[max(0, i - window + 1): i + 1],
                             dtype=np.int64))
        pcts = percentiles_from_hist(
            w, np.ones(w.size, dtype=np.int64), percents
        )
        out.append((r[0], r[1], sums[i], {p: v for p, v in pcts}))
    return out


def cumulative_cardinality_from_pairs(pairs, buckets_all):
    """Exact cumulative-cardinality fold: attribute each distinct value
    to its FIRST bucket, then accumulate new-value counts over the
    sorted bucket list — the foldable form family serving reuses
    (per-period distinct pairs union exactly; per-period cardinalities
    would not)."""
    from collections import Counter

    first: dict = {}
    for b, v in pairs:
        if v is None:
            continue
        if v not in first or b < first[v]:
            first[v] = b
    counts = Counter(first.values())
    out, cum = [], 0
    for b in sorted(str(x) for x in buckets_all):
        cum += counts.get(b, 0)
        out.append((b, cum))
    return out


def match_bucket_value_pairs(
    searcher, query_text: str, ts_field: str, interval: str,
    value_field: str, filters=(), distributed: bool = False,
) -> tuple[set, set]:
    """(DISTINCT (bucket, value) pairs, all parent buckets) of the match
    set — the foldable partial behind exact distinct-per-bucket
    aggregations: per-period/per-range distinct pairs UNION exactly
    (per-period cumulative counts would double-count a value seen in
    two periods), so family serving folds these before attribution.
    The per-range partial emits its DISTINCT non-null pairs plus one
    (bucket, NULL) presence marker per bucket with ≥1 matching doc, so
    only bounded rows cross the Exchange; a global ``distinct()``
    removes cross-range duplicates."""
    bucketer = _date_bucketer(_DATE_UNITS[interval])

    def partial(d, cols):
        pdf = pd.DataFrame({"bucket": bucketer(cols[0]), "v": cols[1]})
        markers = pd.DataFrame({"bucket": pdf["bucket"].unique()})
        markers["v"] = None
        pdf = pdf[~pd.isna(pdf["v"])].drop_duplicates()
        out = pd.concat([pdf, markers], ignore_index=True)
        return out["bucket"].to_numpy(), out["v"].to_numpy()

    got = _match_set(
        searcher, query_text, [ts_field, value_field], filters, partial,
        distributed, schema=lambda t: f"bucket string, v {t[1]}",
    )
    if got is None:
        return set(), set()
    if distributed:
        rows = [(r["bucket"], r["v"]) for r in got.distinct().collect()]
    else:
        rows = [(_py(b), _py(v)) for b, v in zip(*got)]
    return {(b, v) for b, v in rows if v is not None}, {b for b, _ in rows}


def match_agg_cumulative_cardinality(
    searcher, query_text: str, ts_field: str, interval: str,
    value_field: str, filters=(), distributed: bool = False,
) -> list[tuple[str, int]]:
    """``cumulative_cardinality`` pipeline aggregation (OpenSearch): per
    calendar bucket of *ts_field* over the match set, the number of
    DISTINCT *value_field* values seen in any bucket up to and
    including this one — "accumulated new users per day".  Exact: each
    distinct value is attributed to its first bucket and new-value
    counts accumulate over the sorted bucket list (OpenSearch folds HLL
    sketches; the exact variant is deterministic and SQL-pinnable).
    NULL values don't count toward cardinality but their docs still
    define parent buckets.  Distributed mode ships only per-range
    DISTINCT (bucket, value) pairs across the shuffle."""
    pairs, buckets_all = match_bucket_value_pairs(
        searcher, query_text, ts_field, interval, value_field, filters,
        distributed,
    )
    if not buckets_all:
        return []
    return cumulative_cardinality_from_pairs(pairs, buckets_all)


def match_agg_percentile_ranks(
    searcher, query_text: str, field: str, values, filters=(),
    distributed: bool = False,
) -> list[tuple[object, int]]:
    """Percentile-ranks aggregation over the match set (OpenSearch
    ``aggs:percentile_ranks`` — the inverse of percentiles): for each
    probe value x, the percentage of matched docs with field ≤ x, as an
    exact scaled integer (count_le·100·10⁴ // n).  The reference's
    OpenSearch interpolates over a t-digest; the exact ≤-fraction is
    deterministic and SQL-expressible.  Distributed mode folds the same
    per-range (value, count) histogram as stats/percentiles."""
    return percentile_ranks_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed),
        values,
    )


def percentile_ranks_from_hist(vals, counts, values):
    """Exact ≤-fraction percentile ranks from a sorted (value, count)
    histogram — the foldable form family serving reuses."""
    if vals.size == 0:
        return [(x, None) for x in values]
    n = int(counts.sum())
    cum = np.cumsum(counts)
    out = []
    for x in values:
        pos = int(np.searchsorted(vals, x, side="right"))
        le = int(cum[pos - 1]) if pos > 0 else 0
        out.append((x, le * 100 * 10**4 // n))
    return out


def search_constant_score(
    searcher, query_text: str, filters=(), boost: float = 1.0, k: int = 10,
    distributed: bool = False,
) -> list[tuple[int, float]]:
    """constant_score query (OpenSearch ``constant_score`` — filter
    context): every doc matching ANY query term and passing *filters*
    scores exactly *boost*; ranking is therefore (doc_id ASC), fully
    deterministic.  Distributed mode emits per-range lowest-k partials
    through one docmeta cogroup (the global lowest-k is a subset of
    their union), so only k rows per range cross the shuffle — no
    scoring work at all, the point of filter context."""
    return [
        (int(d), float(boost))
        for d in _lowest_matched(searcher, query_text, filters, k,
                                 distributed)
    ]


def _lowest_matched(searcher, query_text, filters, k: int, distributed):
    """The *k* lowest matched docIDs under *filters*: per-range lowest-k
    partial → one bounded global sort-limit."""
    got = _match_set(searcher, query_text, [], filters,
                     lambda d, cols: (d[:k],), distributed,
                     schema="doc_id long")
    if got is None:
        return np.empty(0, dtype=np.int64)
    if not distributed:
        return got[0]
    rows = got.orderBy("doc_id").limit(k).collect()
    return np.array([int(r["doc_id"]) for r in rows], dtype=np.int64)


def search_ids(searcher, doc_ids, k: int = 10) -> list[tuple[int, float]]:
    """ids query (OpenSearch ``ids`` — fetch by document identity):
    returns the requested docIDs that EXIST in the index (docmeta
    membership, deletes honored), constant score 1.0, (doc_id ASC).
    One bucket-pruned docmeta scan — never corpus-bounded."""
    want = sorted({int(d) for d in doc_ids})
    if not want:
        return []
    ds = pads.dataset(f"{searcher.index_dir}/docmeta")
    tbl = ds.to_table(columns=["doc_id"],
                      filter=pads.field("doc_id").isin(want))
    present = np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False))
    if searcher.deleted.size and present.size:
        present = present[~_member_sorted(present, searcher.deleted)]
    return [(int(d), 1.0) for d in present[:k]]


def match_agg_adjacency_matrix(
    searcher, query_text: str, named, count_field: str, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """Adjacency-matrix aggregation over the match set (OpenSearch
    ``aggs:adjacency_matrix``): given named docvalue filters, the
    matching-doc count for each filter AND each pairwise intersection,
    intersection keys spelled ``a&b`` with the two names in sorted
    order — OpenSearch's key convention.  Empty buckets are dropped
    (OpenSearch emits no zero-count buckets) and results order by key.
    Each bucket reuses the match-count scale path (per-range partial
    counts only cross the shuffle); m named filters cost m + C(m,2)
    bounded count folds — OpenSearch evaluates the same m·(m+1)/2
    bucket set per shard."""
    out = []
    m = len(named)
    pairs = [(nm, tuple(filters) + tuple(f)) for nm, f in named]
    for i in range(m):
        for j in range(i + 1, m):
            key = "&".join(sorted((pairs[i][0], pairs[j][0])))
            pairs.append((key, pairs[i][1] + tuple(named[j][1])))
    for key, combined in pairs:
        n = match_agg_value_count(
            searcher, query_text, count_field, combined, distributed
        )
        if n:
            out.append((key, n))
    out.sort(key=lambda t: t[0])
    return out


def match_agg_value_count(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> int:
    """Value-count aggregation over the match set (OpenSearch
    ``aggs:value_count``): the number of field values present among
    matching docs — with single-valued, null-free docvalues this is the
    match-set size under the filters.  Distributed mode sums the folded
    histogram's counts (only (value, count) pairs cross the shuffle)."""
    _, counts = match_value_hist(
        searcher, query_text, field, filters, distributed
    )
    return int(counts.sum()) if counts.size else 0


def match_agg_weighted_avg(
    searcher, query_text: str, value_field: str, weight_field: str,
    filters=(), distributed: bool = False,
) -> dict:
    """Weighted-average aggregation over the match set (OpenSearch
    ``aggs:weighted_avg``): Σ(value·weight) / Σ(weight) over matching
    docs, returned as exact integer components (n, sum_vw, sum_w) plus
    the quotient scaled to 10⁴ — integral fields stay exact end-to-end
    so the SQL oracle pins bit-for-bit.  (n, Σvw, Σw) are three of the
    six additive moments matrix_stats folds (x = value, y = weight), so
    one moment row per docID range crosses the shuffle."""
    n, _, s_w, _, _, s_vw = match_matrix_moments(
        searcher, query_text, value_field, weight_field, filters,
        distributed,
    )
    return weighted_avg_from_sums(n, s_vw, s_w)


def weighted_avg_from_sums(n: int, s_vw: int, s_w: int) -> dict:
    """The weighted_avg result from its additive sums (n, Σvw, Σw) —
    shared by match_agg_weighted_avg and the family cross-period fold."""
    if n == 0 or s_w == 0:
        return {"n": 0, "sum_vw": 0, "sum_w": 0, "wavg_e4": None}
    return {"n": n, "sum_vw": s_vw, "sum_w": s_w,
            "wavg_e4": _tdiv(s_vw * 10**4, s_w)}


def _tdiv(num: int, den: int) -> int:
    """Exact integer division truncating toward zero — DuckDB's ``//``
    semantics (python's floors on negatives, -7//2 = -4 vs DuckDB -3).
    Every scaled rational the aggregations emit goes through this so the
    SQL oracle pins bit-for-bit on negative values too."""
    return num // den if (num >= 0) == (den > 0) else -(abs(num) // abs(den))


def match_agg_matrix_stats(
    searcher, query_text: str, field_x: str, field_y: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Matrix-stats aggregation over the match set (OpenSearch
    ``aggs:matrix_stats`` over two numeric docvalues fields): count,
    per-field mean and population variance, covariance, and correlation
    between the fields — all from the six additive moment sums (n, Σx,
    Σy, Σx², Σy², Σxy), computed in EXACT integer arithmetic for
    integral fields and emitted as truncated scaled rationals:

        mean_e6  = Σx·10⁶ // n
        var_e6   = (n·Σx² − (Σx)²)·10⁶ // n²          (population)
        cov_e6   = (n·Σxy − Σx·Σy)·10⁶ // n²          (population)
        corr2s_e6 = sign(s)·(s²·10⁶ // (vx·vy)),  s = n·Σxy − Σx·Σy,
                    vx = n·Σx² − (Σx)²,  vy = n·Σy² − (Σy)²

    corr2s_e6 is the SIGNED SQUARED Pearson correlation ×10⁶ — the
    square avoids the sqrt OpenSearch computes in floating point, so
    engine and DuckDB HUGEINT oracle agree bit-for-bit (|corr| =
    sqrt(|corr2s|/10⁶), sign = sign(corr2s)).  Distributed mode emits
    ONE six-moment partial per docID range and folds them with
    decimal(38,0) sums (int64-safe per range by the bounded range size;
    decimal at the global fold keeps exactness at 10¹²-doc scale)."""
    n, sx, sy, sxx, syy, sxy = match_matrix_moments(
        searcher, query_text, field_x, field_y, filters, distributed
    )
    if n == 0:
        return {
            "n": 0, "sum_x": 0, "sum_y": 0, "mean_x_e6": None,
            "mean_y_e6": None, "var_x_e6": None, "var_y_e6": None,
            "cov_e6": None, "corr2s_e6": None,
        }
    return matrix_stats_from_moments(n, sx, sy, sxx, syy, sxy)


def match_matrix_moments(
    searcher, query_text: str, field_x: str, field_y: str, filters=(),
    distributed: bool = False,
) -> tuple[int, int, int, int, int, int]:
    """The six additive moment sums (n, Σx, Σy, Σx², Σy², Σxy) of a
    docvalue pair over the match set — matrix_stats' foldable partial
    (the family cross-period fold sums these per period).  Distributed
    mode emits ONE six-moment row per docID range and folds them with
    decimal(38,0) sums (int64-safe per range by the bounded range size;
    decimal at the global fold keeps exactness at 10¹²-doc scale)."""
    names = ("n", "sx", "sy", "sxx", "syy", "sxy")

    def partial(d, cols):
        x, y = (c.astype(np.int64) for c in cols)
        return ([x.size], [int(x.sum())], [int(y.sum())],
                [int((x * x).sum())], [int((y * y).sum())],
                [int((x * y).sum())])

    got = _match_set(
        searcher, query_text, [field_x, field_y], filters, partial,
        distributed, schema=", ".join(f"{c} long" for c in names),
    )
    if got is None:
        return (0, 0, 0, 0, 0, 0)
    if not distributed:
        return tuple(int(c[0]) for c in got)
    row = got.agg(*[
        F.sum(F.col(c).cast("decimal(38,0)")).alias(c) for c in names
    ]).collect()[0]
    return tuple(int(row[c] or 0) for c in names)


def matrix_stats_from_moments(
    n: int, sx: int, sy: int, sxx: int, syy: int, sxy: int
) -> dict:
    """Derive the matrix_stats result from the six additive moment sums
    — shared by match_agg_matrix_stats and the family cross-period fold
    (per-period moments sum exactly over disjoint doc spaces)."""
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    s = n * sxy - sx * sy
    out = {
        "n": n, "sum_x": sx, "sum_y": sy,
        "mean_x_e6": _tdiv(sx * 10**6, n),
        "mean_y_e6": _tdiv(sy * 10**6, n),
        "var_x_e6": _tdiv(vx * 10**6, n * n),
        "var_y_e6": _tdiv(vy * 10**6, n * n),
        "cov_e6": _tdiv(s * 10**6, n * n),
    }
    out["corr2s_e6"] = (
        None if vx == 0 or vy == 0
        else (1 if s >= 0 else -1) * ((s * s * 10**6) // (vx * vy))
    )
    return out


def match_agg_filters(
    searcher, query_text: str, named, count_field: str, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """Filters aggregation over the match set (OpenSearch
    ``aggs:filters`` — named buckets, each defined by its own filter):
    per (name, docvalue-filter) pair, the count of matching docs passing
    the base *filters* AND the named filter.  Buckets may overlap and
    every bucket is emitted, OpenSearch semantics.  Each named bucket
    reuses the match-count scale path (per-range partial counts only)."""
    out = []
    for name, extra in named:
        combined = tuple(filters) + tuple(extra)
        n = match_agg_value_count(
            searcher, query_text, count_field, combined, distributed
        )
        out.append((name, n))
    return out


def match_agg_date_range(
    searcher, query_text: str, ts_field: str, ranges, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """Date-range aggregation over the match set (OpenSearch
    ``aggs:date_range``): one count per caller-defined [from, to)
    interval of a timestamp docvalues field; *ranges* is (label,
    iso_from|None, iso_to|None).  Every bucket is emitted, overlap
    allowed.  Distributed mode folds the (timestamp, count) histogram —
    bound evaluation happens once on the driver over the folded
    histogram."""
    return date_range_from_hist(
        *match_value_hist(searcher, query_text, ts_field, filters,
                          distributed),
        ranges,
    )


def _ts_hist_to_dt64(vals):
    """Timestamp value-histogram keys arrive as datetime64 (driver path)
    or datetime.datetime objects (collected distributed / family folds)
    — normalize to datetime64[us] for vectorized bound checks."""
    if vals.size and vals.dtype == object:
        return np.array(
            [np.datetime64(v) for v in vals], dtype="datetime64[us]"
        )
    return vals


def date_range_from_hist(vals, counts, ranges):
    """[from, to) date-bucket counts from a sorted (timestamp, count)
    histogram — the foldable form family serving reuses."""
    vals = _ts_hist_to_dt64(vals)
    out = []
    for label, lo, hi in ranges:
        if vals.size == 0:
            out.append((label, 0))
            continue
        m = np.ones(vals.shape, dtype=bool)
        if lo is not None:
            m &= vals >= np.datetime64(lo)
        if hi is not None:
            m &= vals < np.datetime64(hi)
        out.append((label, int(counts[m].sum())))
    return out


def match_agg_rare_terms(
    searcher, query_text: str, field: str, max_doc_count: int = 1,
    filters=(), distributed: bool = False,
) -> list[tuple[object, int]]:
    """Rare-terms aggregation over the match set (OpenSearch
    ``aggs:rare_terms`` — the long tail the terms agg's size cut
    hides): field values whose matching-doc count ≤ *max_doc_count*,
    ordered (count ASC, value ASC).  The reference's OpenSearch prunes
    with a CuckooFilter (approximate); the exact histogram fold is
    strictly stronger and shuffle traffic stays bounded by field
    cardinality."""
    pairs = match_agg_terms(searcher, query_text, field, filters, distributed)
    kept = [(v, n) for v, n in pairs if n <= max_doc_count]
    kept.sort(key=lambda t: (t[1], t[0]))
    return kept


def match_agg_multi_terms(
    searcher, query_text: str, sources: list[str], k: int = 10,
    filters=(), distributed: bool = False,
):
    """Multi-terms aggregation over the match set (OpenSearch
    ``aggs:multi_terms``): counts per composite (source₁, …, sourceₙ)
    docvalue tuple, ordered by (count DESC, tuple ASC), top-*k* — the
    composite agg's tuple machinery with terms-agg ordering (only
    (tuple, count) rows cross the shuffle); ordering happens over the
    folded buckets."""
    rows = _tuple_counts(searcher, query_text, sources, filters,
                         distributed, size=2**31 - 1)
    return sorted(rows, key=lambda r: (-r[-1], r[:-1]))[:k]


_AUTO_DH_INTERVALS = ("minute", "hour", "day", "month", "year")


def match_agg_auto_date_histogram(
    searcher, query_text: str, ts_field: str, max_buckets: int = 10,
    filters=(), distributed: bool = False,
) -> tuple[str, list[tuple[str, int]]]:
    """Auto-interval date histogram over the match set (OpenSearch
    ``aggs:auto_date_histogram``): picks the FINEST calendar interval
    from (minute, hour, day, month, year) that yields ≤ *max_buckets*
    buckets (falling back to year), then counts per bucket.  Bucket
    labels are second-resolution ISO strings ("YYYY-MM-DD hh:mm:ss" of
    the truncated timestamp) so the label format is interval-invariant
    — the SQL oracle reproduces the interval choice and the labels with
    one strftime.  Both the interval decision and the counts derive
    from the folded (timestamp, count) histogram, so the scale path is
    the same bounded fold as every other metric agg."""
    return auto_dh_from_hist(
        *match_value_hist(searcher, query_text, ts_field, filters,
                          distributed),
        max_buckets,
    )


def auto_dh_from_hist(vals, counts, max_buckets):
    """Auto-interval pick + bucket counts from a sorted (timestamp,
    count) histogram — the foldable form family serving reuses (the
    interval decision must see the GLOBAL histogram, so the fold
    happens before the pick)."""
    if vals.size == 0:
        return _AUTO_DH_INTERVALS[-1], []
    vals = _ts_hist_to_dt64(vals)
    chosen = _AUTO_DH_INTERVALS[-1]
    for interval in _AUTO_DH_INTERVALS:
        unit = _DATE_UNITS[interval]
        n_buckets = np.unique(vals.astype(f"datetime64[{unit}]")).size
        if n_buckets <= max_buckets:
            chosen = interval
            break
    unit = _DATE_UNITS[chosen]
    trunc = vals.astype(f"datetime64[{unit}]").astype("datetime64[s]")
    # unique the datetime64 codes before formatting (labels only for
    # the unique buckets — see match_agg_date_histogram)
    uniq_dt, n = _fold_counts(trunc, counts)
    labels = np.char.replace(
        np.datetime_as_string(uniq_dt, unit="s"), "T", " "
    )
    return chosen, [(str(u), int(c)) for u, c in zip(labels, n)]


# -------------------------------------------------- round-5 session-8 aggs

def boxplot_from_hist(vals: np.ndarray, counts: np.ndarray) -> dict:
    """min/q1/q2/q3/max from a sorted (value, count) histogram —
    nearest-rank quartiles (the percentiles' rank rule), exact for
    integral fields.  The foldable form family serving reuses."""
    if vals.size == 0:
        return {"n": 0, "min": None, "q1": None, "q2": None, "q3": None,
                "max": None}
    qs = percentiles_from_hist(vals, counts, (25.0, 50.0, 75.0))
    return {
        "n": int(counts.sum()),
        "min": vals[0].item(),
        "q1": qs[0][1], "q2": qs[1][1], "q3": qs[2][1],
        "max": vals[-1].item(),
    }


def match_agg_boxplot(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Boxplot aggregation over the match set (OpenSearch
    ``aggs:boxplot``): min, nearest-rank quartiles, max of a docvalues
    field.  OpenSearch answers from a t-digest sketch; the exact
    nearest-rank derivation from the (value, count) histogram is
    strictly stronger and SQL-pinnable.  Distributed mode folds the same
    bounded per-range histogram partial as stats/percentiles."""
    return boxplot_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed)
    )


def t_test_from_hists(va, ca, vb, cb) -> dict:
    """Welch's unpaired two-sample t statistic from two sorted
    (value, count) histograms, in EXACT integer arithmetic: emits the
    SIGNED SQUARED t scaled 1e6 (sign(m_a−m_b)·⌊t²·10⁶⌋ — the same
    no-float-sqrt contract as matrix_stats' corr2s_e6), plus the exact
    per-population n and sum.  With S=Σv, Q=Σv², t² reduces to the
    rational  (S_a·n_b − S_b·n_a)²·(n_a−1)(n_b−1) / D,
    D = (n_a·Q_a − S_a²)·n_b²·(n_b−1) + (n_b·Q_b − S_b²)·n_a²·(n_a−1);
    numerator and D are non-negative so DuckDB's truncating ``//``
    equals python's floor."""
    def moments(vs, cs):
        n = s = q = 0
        for v, c in zip(vs.tolist(), cs.tolist()):
            v, c = int(v), int(c)
            n += c
            s += v * c
            q += v * v * c
        return n, s, q

    na, sa, qa = moments(va, ca)
    nb, sb, qb = moments(vb, cb)
    out = {"n_a": na, "n_b": nb, "sum_a": sa, "sum_b": sb, "t2s_e6": None}
    if na < 2 or nb < 2:
        return out
    diff = sa * nb - sb * na
    num = diff * diff * (na - 1) * (nb - 1)
    d = ((na * qa - sa * sa) * nb * nb * (nb - 1)
         + (nb * qb - sb * sb) * na * na * (na - 1))
    if d == 0:
        return out
    sign = 1 if diff > 0 else (-1 if diff < 0 else 0)
    out["t2s_e6"] = sign * (num * 1_000_000 // d)
    return out


def match_agg_t_test(
    searcher, query_text: str, field: str, filter_a, filter_b, filters=(),
    distributed: bool = False,
) -> dict:
    """Unpaired heteroscedastic t-test aggregation over the match set
    (OpenSearch ``aggs:t_test`` with two filtered populations): Welch's
    t between the *field* values of the docs passing *filter_a* vs
    *filter_b* (each ANDed with the shared *filters*).  Two bounded
    histogram folds — the scale shape of every other metric agg — and
    exact integer arithmetic end-to-end (see t_test_from_hists)."""
    va, ca = match_value_hist(
        searcher, query_text, field, tuple(filters) + tuple(filter_a),
        distributed)
    vb, cb = match_value_hist(
        searcher, query_text, field, tuple(filters) + tuple(filter_b),
        distributed)
    return t_test_from_hists(va, ca, vb, cb)


def paired_t_test_from_moments(
    n: int, sx: int, sy: int, sxx: int, syy: int, sxy: int
) -> dict:
    """Paired two-sample t (OpenSearch ``aggs:t_test`` type=paired) from
    the SAME six additive moment sums matrix_stats folds: with
    d = x − y, S = Σd = Σx − Σy and Q = Σd² = Σx² − 2Σxy + Σy², the
    statistic reduces to  t² = S²(n−1) / (nQ − S²)  — emitted as the
    signed squared t scaled 1e6 in exact integer arithmetic (sign =
    sign of S; nQ − S² ≥ 0 by Cauchy–Schwarz, so DuckDB's truncating
    ``//`` equals python's floor)."""
    out = {"n": n, "sum_d": sx - sy, "t2s_e6": None}
    if n < 2:
        return out
    s = sx - sy
    q = sxx - 2 * sxy + syy
    den = n * q - s * s
    if den == 0:
        return out
    sign = 1 if s > 0 else (-1 if s < 0 else 0)
    out["t2s_e6"] = sign * (s * s * (n - 1) * 1_000_000 // den)
    return out


def match_agg_t_test_paired(
    searcher, query_text: str, field_x: str, field_y: str, filters=(),
    distributed: bool = False,
) -> dict:
    """Paired t_test aggregation over the match set (OpenSearch
    ``aggs:t_test`` with type=paired — both samples are fields of the
    SAME doc): derives exactly from the six-moment matrix_stats partial,
    so the distributed and cross-period fold shapes are matrix_stats'
    (one bounded moment row per docID range / period)."""
    return paired_t_test_from_moments(
        *match_matrix_moments(
            searcher, query_text, field_x, field_y, filters, distributed)
    )


def string_stats_from_hist(vals: np.ndarray, counts: np.ndarray) -> dict:
    """count / min_len / max_len / sum_len (exact ints), avg_len_e4
    (⌊avg·10⁴⌋ exact) and 6-dp Shannon character entropy from a sorted
    (string value, count) histogram.  Entropy uses the numerically
    stable  H = log2(N) − (Σ c_ch·log2(c_ch))/N  over the EXACT integer
    character counts — the only float steps are the final log2/divide,
    identical on the SQL side."""
    if vals.size == 0:
        return {"n": 0, "min_len": None, "max_len": None, "sum_len": 0,
                "avg_len_e4": None, "entropy6": None}
    from collections import Counter

    n = 0
    sum_len = 0
    min_len = max_len = None
    chars: Counter = Counter()
    for v, c in zip(vals.tolist(), counts.tolist()):
        v, c = str(v), int(c)
        n += c
        ln = len(v)
        sum_len += ln * c
        min_len = ln if min_len is None else min(min_len, ln)
        max_len = ln if max_len is None else max(max_len, ln)
        for ch in v:
            chars[ch] += c
    total_chars = sum(chars.values())
    if total_chars == 0:
        ent = 0.0
    else:
        acc = sum(c * math.log2(c) for c in chars.values())
        ent = math.log2(total_chars) - acc / total_chars
    return {
        "n": n, "min_len": min_len, "max_len": max_len, "sum_len": sum_len,
        "avg_len_e4": sum_len * 10000 // n,
        "entropy6": round(ent, 6),
    }


def match_agg_string_stats(
    searcher, query_text: str, field: str, filters=(),
    distributed: bool = False,
) -> dict:
    """String-stats aggregation over the match set (OpenSearch
    ``aggs:string_stats`` with show_distribution's entropy): length
    stats exact, Shannon character entropy at 6 dp.  Same bounded
    (value, count) histogram partial as every metric agg — character
    counting happens once per DISTINCT value on the driver, cost ∝
    field cardinality."""
    return string_stats_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed)
    )


def match_agg_top_metrics(
    searcher, query_text: str, sort_field: str, metric_fields, k: int = 3,
    ascending: bool = False, filters=(), distributed: bool = False,
) -> list[tuple]:
    """Top-metrics aggregation over the match set (OpenSearch
    ``aggs:top_metrics``): the metric fields of the top-*k* matching
    docs by (*sort_field*, doc_id ASC).  Returns (doc_id, sort_value,
    *metrics) rows in rank order.  Distributed mode emits per-range
    top-k partials (the global top-k is a subset of their union) — only
    k rows per range cross the shuffle."""
    fields = [sort_field, *metric_fields]

    def partial(d, cols):
        i_b, _ = _topk_by_field(d, cols[0], k, ascending)
        pos = np.searchsorted(d, i_b)
        return (i_b, *[c[pos] for c in cols])

    got = _match_set(
        searcher, query_text, fields, filters, partial, distributed,
        schema=lambda t: "doc_id long, "
        + ", ".join(f"c{j} {x}" for j, x in enumerate(t)),
    )
    if got is None:
        return []
    if distributed:
        sort0 = F.asc("c0") if ascending else F.desc("c0")
        rows = [
            (r["doc_id"], *(r[f"c{j}"] for j in range(len(fields))))
            for r in got.orderBy(sort0, F.asc("doc_id")).limit(k).collect()
        ]
    else:
        rows = zip(*got)
    return [(int(d), *map(_py, rest)) for d, *rest in rows]


def match_agg_sampler(
    searcher, query_text: str, shard_size: int, metric_field: str,
    filters=(), diversify_field: str | None = None,
    max_per_value: int = 1, distributed: bool = False,
) -> dict:
    """Sampler / diversified-sampler aggregation over the match set
    (OpenSearch ``aggs:sampler`` / ``aggs:diversified_sampler`` with a
    stats sub-aggregation): restrict the sub-agg to a deterministic
    sample — the *shard_size* LOWEST matched docIDs (OpenSearch samples
    the top-scoring N per shard; in filter context every doc scores
    equally and the docID order is the deterministic analog, the same
    rule as constant_score ranking).  Diversified form: a doc enters the
    candidate stream only while fewer than *max_per_value* docs sharing
    its *diversify_field* value precede it in docID order — walking docs
    ascending, the selected set is exactly {rank ≤ max_per_value within
    its value group}, so the sample is the lowest shard_size of those
    candidates (SQL-pinnable via row_number).  Returns exact
    count/min/max/sum of *metric_field* over the sample.  The partial is
    the candidate rule of :func:`sampler_candidates`, applied per docID
    range in distributed mode — its candidates provably superset the
    global sample — so only bounded partials cross the shuffle."""
    got = _sampler_candidates(
        searcher, query_text, shard_size, metric_field, filters,
        diversify_field, max_per_value, distributed,
    )
    m_ids, mvals = _sampler_select(*got, shard_size, max_per_value)
    return _sampler_stats(m_ids, mvals)


def _cap_per_value(dvals, cap):
    """Keep-mask over docID-ordered *dvals*: a doc is kept while fewer
    than *cap* earlier docs share its value."""
    uniq, inv = np.unique(dvals, return_inverse=True)
    seen = np.zeros(uniq.size, dtype=np.int64)
    keep = np.zeros(inv.size, dtype=bool)
    for i, g in enumerate(inv.tolist()):
        if seen[g] < cap:
            seen[g] += 1
            keep[i] = True
    return keep


def _sampler_select(m_ids, mvals, dvals, shard_size, max_per_value):
    """Apply the sampler selection rule over candidate arrays: docID
    order, diversify cap (when *dvals* given), cut to *shard_size* —
    the same function selects globally and per shard/period (a candidate
    set built per shard with this rule provably supersets the global
    selection)."""
    if m_ids.size == 0:
        return m_ids, mvals
    order = np.argsort(m_ids, kind="stable")
    m_ids, mvals = m_ids[order], mvals[order]
    if dvals is not None:
        keep = _cap_per_value(dvals[order], max_per_value)
        m_ids, mvals = m_ids[keep], mvals[keep]
    return m_ids[:shard_size], mvals[:shard_size]


def _sampler_stats(m_ids, mvals) -> dict:
    if m_ids.size == 0:
        return {"n": 0, "min": None, "max": None, "sum": 0}
    return {
        "n": int(m_ids.size),
        "min": int(mvals.min()),
        "max": int(mvals.max()),
        "sum": int(mvals.sum()),
    }


def sampler_candidates(
    searcher, query_text: str, shard_size: int, metric_field: str,
    filters=(), diversify_field: str | None = None, max_per_value: int = 1,
):
    """Per-shard bounded sampler candidates — the cross-period family
    fold unit: (doc_ids, metric values, diversify values | None) that
    provably SUPERSET the global sample.  Plain form cuts to the local
    lowest *shard_size* (subset docID ranks only shrink).  Diversified
    form applies the local cap but does NOT cut to shard_size: the local
    capped set supersets the global capped set, so extra low-docID
    locals could push a globally-selected doc past a local shard cut —
    the cut is only sound after the global re-cap."""
    return _sampler_candidates(
        searcher, query_text, shard_size, metric_field, filters,
        diversify_field, max_per_value, distributed=False,
    )


def _sampler_candidates(searcher, query_text, shard_size, metric_field,
                        filters, diversify_field, max_per_value,
                        distributed):
    diversified = diversify_field is not None
    fields = [metric_field] + ([diversify_field] if diversified else [])

    def partial(d, cols):
        if not diversified:
            return d[:shard_size], cols[0][:shard_size]
        keep = _cap_per_value(cols[1], max_per_value)
        return d[keep], cols[0][keep], cols[1][keep]

    got = _match_set(
        searcher, query_text, fields, filters, partial, distributed,
        schema=lambda t: f"doc_id long, mv {t[0]}"
        + (f", dv {t[1]}" if diversified else ""),
    )
    if got is None:
        e = np.empty(0, dtype=np.int64)
        return e, e, (e if diversified else None)
    if distributed:
        rows = got.collect()
        got = (
            np.array([r["doc_id"] for r in rows], dtype=np.int64),
            np.array([r["mv"] for r in rows]),
            *([np.array([r["dv"] for r in rows])] if diversified else []),
        )
    return got if diversified else (*got, None)


# ------------------------------------------------------- join-field queries

def search_has_child(
    searcher, child_query: str, parent_field: str, k: int = 10,
    min_children: int = 1, filters=(), distributed: bool = False,
) -> list[tuple[int, int]]:
    """has_child query (OpenSearch join field, score_mode=none — the
    filter-context default): parent docs with ≥ *min_children* children
    matching *child_query*, where parenthood is a parent-docID docvalue
    on the child.  Rank is parent doc_id ASC (constant-score rule);
    returns (parent_doc_id, n_matching_children).  Parents must be live
    docs (deletes honored).  Distributed mode IS the terms-agg fold on
    the parent field — only (parent_id, count) partials cross the
    shuffle."""
    counts = match_agg_terms(
        searcher, child_query, parent_field, filters, distributed)
    if not counts:
        return []
    pids = np.array([int(p) for p, n in counts], dtype=np.int64)
    ns = np.array([n for _, n in counts], dtype=np.int64)
    keep = ns >= min_children
    pids, ns = pids[keep], ns[keep]
    if pids.size == 0:
        return []
    # parenthood requires a LIVE parent doc
    live, _ = _meta_ids_vals(searcher, ())
    m = _member_sorted(pids, live)
    if searcher.deleted.size:
        m &= ~_member_sorted(pids, searcher.deleted)
    pids, ns = pids[m], ns[m]
    order = np.argsort(pids)[:k]
    return [(int(p), int(n)) for p, n in zip(pids[order], ns[order])]


_CHILD_FOLDS = {
    "sum": lambda s, n, mx, mn: s,
    "avg": lambda s, n, mx, mn: s / n,
    "max": lambda s, n, mx, mn: mx,
    "min": lambda s, n, mx, mn: mn,
}


def search_has_child_scored(
    searcher, child_query: str, parent_field: str, k: int = 10,
    score_mode: str = "avg", min_children: int = 1, filters=(),
    distributed: bool = False, tie_round: int = 4,
) -> list[tuple[int, float]]:
    """has_child query with relevance folding (OpenSearch join field,
    ``score_mode`` ∈ sum/avg/max/min — the nested-relevance semantics:
    parents rank by a fold of their matching children's FULL BM25
    scores, not by child count).  Parenthood is a parent-docID docvalue
    on the child; parents must be live docs; ``min_children`` gates the
    fold.  Rank is (score DESC, parent ASC).

    Scale shape: children are scored per docID range (the usual posting
    cogroup), each range emits ONE (parent, Σscore, n, max, min) partial
    row per distinct parent it saw — all four fold components are
    associative, so the global groupBy(parent) fold is exact no matter
    how a parent's children scatter across ranges, and only partials
    cross the shuffle (never per-child rows).

    Reference behavior being matched: OpenSearch ``has_child`` with
    score_mode on the sink's join-field mapping
    (opensearch/.../OpenSearchSink.java mapping passthrough)."""
    if score_mode not in _CHILD_FOLDS:
        raise ValueError(f"unknown score_mode {score_mode!r}")
    _check_filters(filters)
    labels, buckets = _match_query_ids(searcher, child_query)
    if not labels:
        return []
    dfs = searcher.term_stats(labels, buckets)
    idf = {i: idf_value(searcher.n_docs, dfs[i]) for i in labels}
    cfg, avgdl = searcher.cfg, searcher.avgdl
    deleted = searcher.deleted

    def _score_range(rows):
        """(child_ids, scores) for one docID range's slice rows."""
        subs = view_slices(
            term_views(rows, labels, idf, cfg.block_size, deleted))
        if not subs:
            return None
        return score_brute(subs, cfg.k1, cfg.b, avgdl)

    if distributed:
        from .tokenize import range_id_col

        def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame
                     ) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"parent": [], "s": [], "n": [], "mx": [], "mn": []}
            ).astype({"parent": "int64", "s": "float64", "n": "int64",
                      "mx": "float64", "mn": "float64"})
            if post_pdf.empty or meta_pdf.empty:
                return empty
            scored = _score_range(post_pdf.to_dict("records"))
            if scored is None:
                return empty
            i_r, s_r = scored
            meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
            meta_p = meta_pdf["p"].to_numpy(np.int64)
            order = np.argsort(meta_ids)
            meta_ids, meta_p = meta_ids[order], meta_p[order]
            keep = _member_sorted(i_r, meta_ids)
            i_r, s_r = i_r[keep], s_r[keep]
            if i_r.size == 0:
                return empty
            par = meta_p[np.searchsorted(meta_ids, i_r)]
            o = np.argsort(par, kind="stable")
            par, s_r = par[o], s_r[o]
            bounds = np.flatnonzero(
                np.concatenate(([True], par[1:] != par[:-1])))
            ends = np.append(bounds[1:], par.size)
            return pd.DataFrame({
                "parent": par[bounds],
                "s": np.add.reduceat(s_r, bounds),
                "n": (ends - bounds).astype(np.int64),
                "mx": np.maximum.reduceat(s_r, bounds),
                "mn": np.minimum.reduceat(s_r, bounds),
            })

        meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
        if filters:
            meta = meta.filter(spark_filter_col(filters))
        meta = meta.select(
            range_id_col(cfg).alias("range_id"), "doc_id",
            F.col(parent_field).alias("p"),
        )
        partials = (
            searcher._pruned_slices(list(labels), buckets)
            .groupBy("range_id")
            .cogroup(meta.groupBy("range_id"))
            .applyInPandas(
                eval_cog,
                schema="parent long, s double, n long, mx double, mn double",
            )
        )
        folded = partials.groupBy("parent").agg(
            F.sum("s").alias("s"), F.sum("n").alias("n"),
            F.max("mx").alias("mx"), F.min("mn").alias("mn"),
        ).filter(F.col("n") >= min_children)
        # parenthood requires a LIVE parent doc (semi join on docmeta)
        live = searcher.spark.read.parquet(
            f"{searcher.index_dir}/docmeta").select(
            F.col("doc_id").alias("parent"))
        if deleted.size:
            live = live.filter(
                ~F.col("parent").isin([int(x) for x in deleted.tolist()]))
        folded = folded.join(live, "parent", "left_semi")
        score_col = {
            "sum": F.col("s"),
            "avg": F.col("s") / F.col("n"),
            "max": F.col("mx"),
            "min": F.col("mn"),
        }[score_mode]
        rows = (
            folded.withColumn("score", score_col)
            .orderBy(F.round(F.col("score"), tie_round).desc(),
                     F.asc("parent"))
            .limit(k)
            .collect()
        )
        return [(int(r["parent"]), float(r["score"])) for r in rows]
    # driver path: numpy fold over the docvalues cache
    meta_ids, (meta_p,) = _meta_ids_vals(searcher, filters, [parent_field])
    rows = searcher._pruned_slice_rows(list(labels), buckets)
    by_range: dict[int, list] = {}
    for r in rows:
        by_range.setdefault(int(r["range_id"]), []).append(r)
    all_par, all_sc = [], []
    for rr in by_range.values():
        scored = _score_range(rr)
        if scored is None:
            continue
        i_r, s_r = scored
        keep = _member_sorted(i_r, meta_ids)
        i_r, s_r = i_r[keep], s_r[keep]
        if i_r.size == 0:
            continue
        all_par.append(
            np.asarray(meta_p, dtype=np.int64)[
                np.searchsorted(meta_ids, i_r)])
        all_sc.append(s_r)
    if not all_par:
        return []
    par = np.concatenate(all_par)
    sc = np.concatenate(all_sc)
    o = np.argsort(par, kind="stable")
    par, sc = par[o], sc[o]
    bounds = np.flatnonzero(np.concatenate(([True], par[1:] != par[:-1])))
    ends = np.append(bounds[1:], par.size)
    s_f = np.add.reduceat(sc, bounds)
    n_f = (ends - bounds).astype(np.int64)
    mx_f = np.maximum.reduceat(sc, bounds)
    mn_f = np.minimum.reduceat(sc, bounds)
    pids = par[bounds]
    keep = n_f >= min_children
    pids, s_f, n_f, mx_f, mn_f = (
        pids[keep], s_f[keep], n_f[keep], mx_f[keep], mn_f[keep])
    live, _ = _meta_ids_vals(searcher, ())
    m = _member_sorted(pids, live)
    if deleted.size:
        m &= ~_member_sorted(pids, deleted)
    pids = pids[m]
    score = _CHILD_FOLDS[score_mode](s_f[m], n_f[m], mx_f[m], mn_f[m])
    order = np.lexsort((pids, -np.round(score, tie_round)))[:k]
    return [(int(pids[i]), float(score[i])) for i in order]


def search_has_parent(
    searcher, parent_query: str, parent_field: str, k: int = 10,
    filters=(), distributed: bool = False,
) -> list[tuple[int, int]]:
    """has_parent query (OpenSearch join field, score_mode=none):
    child docs whose PARENT matches *parent_query* — the parent match
    set restricts children through their parent-docID docvalue.  Rank is
    child doc_id ASC; returns (child_doc_id, parent_doc_id).  The parent
    set is bounded by the parent query's match set (broadcast-join scale
    shape: the 'in' filter ships the matched-parent list, the child scan
    stays distributed)."""
    got = _match_set(searcher, parent_query, [], (), lambda d, cols: (d,),
                     distributed=False)
    if got is None:
        return []
    (parents,) = got
    flt = list(filters) + [(parent_field, "in", [int(p) for p in parents])]
    if distributed:
        meta = searcher.spark.read.parquet(
            f"{searcher.index_dir}/docmeta"
        ).filter(spark_filter_col(flt))
        if searcher.deleted.size:
            # exclude tombstones BEFORE the k-cut (bounded list)
            meta = meta.filter(
                ~F.col("doc_id").isin(
                    [int(x) for x in searcher.deleted.tolist()])
            )
        rows = (
            meta.select("doc_id", F.col(parent_field).alias("pid"))
            .orderBy("doc_id")
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), int(r["pid"])) for r in rows]
    child_ids, (pid,) = _meta_ids_vals(searcher, flt, [parent_field])
    if searcher.deleted.size:
        keep = ~_member_sorted(child_ids, searcher.deleted)
        child_ids, pid = child_ids[keep], pid[keep]
    order = np.argsort(child_ids)[:k]
    return [(int(c), int(p))
            for c, p in zip(child_ids[order], pid[order])]


# ------------------------------------------------------------- ip docvalues

def cidr_to_range(cidr: str) -> tuple[int, int]:
    """IPv4 CIDR (or bare address) → inclusive [lo, hi] integer bounds.
    OpenSearch compiles an ip term/range query to exactly this sortable
    range scan, so the entire existing range machinery (filters, zone-
    free hist folds, pushdown) serves ip fields once they're stored as
    uint32-valued longs.  IPv6 stays on the expression-processor path
    (expression.py cidrContains handles both families for routing)."""
    ip, _, bits_s = cidr.partition("/")
    bits = int(bits_s) if bits_s else 32
    if not 0 <= bits <= 32:
        raise ValueError(f"bad prefix length in {cidr!r}")
    parts = ip.split(".")
    if len(parts) != 4:
        raise ValueError(f"bad IPv4 address in {cidr!r}")
    v = 0
    for p in parts:
        b = int(p)
        if not 0 <= b <= 255:
            raise ValueError(f"bad IPv4 octet in {cidr!r}")
        v = (v << 8) | b
    host = (1 << (32 - bits)) - 1
    lo = v & ~host & 0xFFFFFFFF
    return lo, lo | host


def cidr_filters(field: str, cidr: str) -> list[tuple]:
    """An OpenSearch ip term/CIDR query as two ordinary range filter
    tuples over the integer ip docvalue."""
    lo, hi = cidr_to_range(cidr)
    return [(field, ">=", lo), (field, "<=", hi)]


def match_agg_ip_range(
    searcher, query_text: str, field: str, cidrs, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """ip_range aggregation (OpenSearch ``aggs:ip_range`` with CIDR
    masks): per-CIDR match counts of the integer ip docvalue — derived
    from the same folded (value, count) histogram as the range agg
    (buckets may overlap; every bucket emitted, zero counts kept)."""
    rngs = []
    for c in cidrs:
        lo, hi = cidr_to_range(c)
        rngs.append((c, lo, hi + 1))  # range_from_hist buckets are [lo, hi)
    return range_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed),
        rngs,
    )


def ipv4_str(net: int) -> str:
    """Dotted-quad string of a uint32 network address."""
    return (f"{net >> 24 & 255}.{net >> 16 & 255}"
            f".{net >> 8 & 255}.{net & 255}")


def match_agg_ip_prefix(
    searcher, query_text: str, field: str, prefix_length: int,
    filters=(), distributed: bool = False, min_doc_count: int = 1,
) -> list[tuple[str, int]]:
    """ip_prefix aggregation (OpenSearch ``aggs:ip_prefix``): match
    counts per /prefix_length IPv4 network of the integer ip docvalue —
    bucket key is the masked network in dotted-quad form, ascending
    network order, buckets below *min_doc_count* dropped (the
    OpenSearch default keeps ≥1, so empty networks never appear).
    Derived from the same folded (value, count) histogram as
    range/ip_range — the shuffle carries value partials bounded by
    field cardinality, and the masking fold is a driver-side numpy
    group over the reduced histogram."""
    if not (0 <= prefix_length <= 32):
        raise ValueError("ip_prefix prefix_length must be in 0..32")
    return ip_prefix_from_hist(
        *match_value_hist(searcher, query_text, field, filters, distributed),
        prefix_length, min_doc_count,
    )


def ip_prefix_from_hist(vals: np.ndarray, counts: np.ndarray,
                        prefix_length: int, min_doc_count: int = 1):
    """/prefix_length network buckets from a (value, count) histogram —
    shared by the single-index agg and the family fold (masking a
    folded histogram ≡ folding masked histograms)."""
    if vals.size == 0:
        return []
    shift = 32 - prefix_length
    nets, sums = _fold_counts((vals.astype(np.int64) >> shift) << shift,
                              counts)
    keep = sums >= min_doc_count
    return [
        (f"{ipv4_str(int(n))}/{prefix_length}", int(s))
        for n, s in zip(nets[keep], sums[keep])
    ]


def bucket_script_from_buckets(rows):
    """Bucket-script pipeline aggregation (OpenSearch ``bucket_script``
    — per-bucket arithmetic across the parent's sibling metrics): for
    each (bucket, n, sum, …) row, emit the canonical mean script
    ``sum / n`` as an exact scaled integer (⌊sum·10⁴ / n⌋) plus the
    bucket's share of the grand total (⌊sum·10⁶ / Σsum⌋) — both pure
    integer rationals so engine and SQL agree bit-for-bit.  Runs over
    the REDUCED bucket list (the OpenSearch coordinating-node step) —
    scale-free.  Returns (bucket, n, sum, mean_e4, share_e6)."""
    grand = sum(int(r[2]) for r in rows)
    out = []
    for r in rows:
        bucket, n, s = r[0], int(r[1]), int(r[2])
        mean_e4 = s * 10**4 // n if n else None
        share_e6 = s * 10**6 // grand if grand else None
        out.append((bucket, n, s, mean_e4, share_e6))
    return out
