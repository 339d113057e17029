"""Time-partitioned index families — dynamic index patterns.

Data Prepper's opensearch sink routes each event to an index named by a
date pattern (``my-index-%{yyyy.MM.dd}``, reference:
opensearch/.../OpenSearchSink.java:144-150 + IndexConfiguration's
pattern parsing); OpenSearch then serves cross-index searches over the
matching names.  The analog here:

  build_family   one STAGING pass routes pages to hive partitions by
                 period (a single scan of the input — the sink's
                 per-event routing), then one index segment is built per
                 period from its pruned partition.  root/family.json is
                 the manifest; root/p=<period>/ are ordinary index
                 segments (searchable alone, mergeable by
                 index/merge.merge_indexes).
  FamilySearcher cross-period search over a lexicographic period range
                 (date patterns like yyyy.MM.dd sort lexicographically).
                 Scoring uses FAMILY-GLOBAL stats — per-term df, N and
                 avgdl summed across the covered segments from their
                 ADDITIVE stored stats — i.e. Lucene/OpenSearch
                 dfs_query_then_fetch: identical ranks to one big index
                 over the covered docs.  k-bounded queries keep BMW
                 pruning per segment: the stored block_ubs are baked
                 with each segment's OWN avgdl (index/build.py
                 run_bounds; index/merge.py fold_fn recomputes them on
                 merge), and inflating them by
                 max(1, avgdl_global/avgdl_segment) restores a sound
                 upper bound under the global avgdl (the BM25 tf-norm is
                 monotone increasing in avgdl with ratio < A_g/A_s), so
                 a query over hundreds of periods prunes like the
                 reference's per-shard WAND over `my-index-*`.  k=None
                 (every match) runs brute, as it must.

Scale shape: staging is one shuffle-free partitioned write; per-period
builds read only their partition (partition pruning); a query touches
only the covered periods' term_bucket dirs — retention drops a period
by deleting one directory, the operational win dynamic indexes exist
for.  Doc ids must be globally unique across periods (same invariant as
merge_indexes) — true for any url/corpus-derived id.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import build_oneshot_text
from .config import IndexConfig
from .query import BM25Searcher
from .scoring import idf_value

MANIFEST = "family.json"


def build_family(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    cfg: IndexConfig = IndexConfig(),
    ts_col: str = "warc_ts",
    pattern: str = "yyyy.MM.dd",
    id_col: str = "doc_id",
    text_col: str = "text",
    field_cols: tuple[str, ...] = (),
    mode: str = "text",
    parallelism: int = 1,
) -> dict:
    """Route *docs* into per-period index segments by
    date_format(ts_col, pattern).  mode="text": a pre-extracted (id,
    text) table via build_oneshot_text; mode="pages": the webtext pages
    shape (url, warc_ts, html, text, lang) via the full build_oneshot
    extract path.  *parallelism* > 1 submits that many per-period builds
    concurrently from driver threads (Spark FIFO-schedules the jobs) —
    with hundreds of periods the driver loop, not the cluster, is
    otherwise the latency floor; builds are independent (disjoint
    output dirs).  Returns the manifest dict."""
    from .build import build_oneshot

    staged = os.path.join(root, "_staged")
    (
        # NULL-ts rows are dropped, matching the streaming path
        # (apply_batch_family filters them the same way) — otherwise a
        # '_period=__HIVE_DEFAULT_PARTITION__' staging dir becomes a bogus
        # 'p=__HIVE_DEFAULT_PARTITION__' segment that unbounded search hits.
        docs.withColumn("_period", F.date_format(F.col(ts_col), pattern))
        .where(F.col("_period").isNotNull())
        .write.mode("overwrite")
        .partitionBy("_period")
        .parquet(staged)
    )
    periods = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(staged)
        if d.startswith("_period=")
    )

    def _build(p: str) -> None:
        part = spark.read.parquet(os.path.join(staged, f"_period={p}"))
        if mode == "pages":
            build_oneshot(
                spark, part, os.path.join(root, f"p={p}"), cfg,
                field_cols=field_cols,
            )
        else:
            build_oneshot_text(
                spark, part, os.path.join(root, f"p={p}"), cfg,
                id_col=id_col, text_col=text_col, field_cols=field_cols,
            )

    if parallelism > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            list(pool.map(_build, periods))  # re-raises worker errors
    else:
        for p in periods:
            _build(p)
    manifest = {"pattern": pattern, "ts_col": ts_col, "periods": periods}
    with open(os.path.join(root, MANIFEST), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def drop_period(root: str, period: str) -> bool:
    """Retention: drop one period from a family — delete its segment
    directory and (for batch-built families) remove it from the
    manifest.  The operational win dynamic indexes exist for: retention
    is one directory delete, never a rewrite.  Searchers opened before
    the drop keep their snapshot (immutability); new FamilySearchers no
    longer see the period.  Returns False if the period wasn't present."""
    import shutil

    seg = os.path.join(root, f"p={period}")
    present = os.path.isdir(seg)
    shutil.rmtree(seg, ignore_errors=True)
    mpath = os.path.join(root, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if period in manifest["periods"]:
            manifest["periods"] = [
                p for p in manifest["periods"] if p != period
            ]
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f, sort_keys=True)
            os.replace(tmp, mpath)  # atomic, like live.py's CURRENT swap
            present = True
    return present


class FamilySearcher:
    """Cross-period search with family-global BM25 stats.

    Works over both batch-built families (root/family.json manifest) and
    LIVE families (live.start_stream_family: each period dir is a live
    index with its own CURRENT pointer — no manifest; periods are
    discovered by listing).  Periods and per-period versions are
    resolved ONCE at open (searcher-open snapshot semantics, as with
    BM25Searcher on a single live index): reopen to see newer commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        mpath = os.path.join(root, MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                self.manifest = json.load(f)
            self.periods: list[str] = sorted(self.manifest["periods"])
        else:  # live family — discover periods from the directory layout
            self.manifest = None
            self.periods = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(root)
                if d.startswith("p=")
            )
        self._searchers: dict[str, BM25Searcher] = {}

    def _searcher(self, period: str) -> BM25Searcher:
        s = self._searchers.get(period)
        if s is None:
            from .live import resolve_current

            s = BM25Searcher(
                self.spark,
                resolve_current(os.path.join(self.root, f"p={period}")),
            )
            self._searchers[period] = s
        return s

    def covered(self, start: str | None = None, end: str | None = None) -> list[str]:
        return [
            p for p in self.periods
            if (start is None or p >= start) and (end is None or p <= end)
        ]

    def search(
        self,
        query_text: str,
        k: int | None = 10,
        start: str | None = None,
        end: str | None = None,
        periods: list[str] | None = None,
        mode: str = "bmw",
        indices_boost: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) over the covered periods, rank-identical
        to a single index over the same docs (global stats).  k=None
        returns every match (callers applying a rounded tie rule; always
        brute — every match must be decoded anyway).

        *indices_boost* (OpenSearch ``indices_boost`` on a `my-index-*`
        search): per-period score multipliers β_p ≥ 0 — a hit from
        period p scores β_p · BM25_global(doc).  BMW pruning stays
        exact under a boost because scores scale linearly: the segment
        prunes against θ/β_p (can't-reach-θ/β unboosted ⇔ can't-reach-θ
        boosted), and its returned scores are multiplied by β_p before
        entering the global θ fold.  β_p = 0 segments score brute
        (every match kept at 0 — OpenSearch keeps zero-boosted hits).

        mode="bmw" (default, k-bounded): per-segment block-max pruning
        stays EXACT under the family-global avgdl by inflating each
        segment's stored (segment-avgdl-baked) block upper bounds by
        max(1, avgdl_global / avgdl_segment) — a true bound because the
        BM25 tf-normalization is monotone increasing in avgdl and its
        A_g-vs-A_s ratio is < A_g/A_s for every (tf, dl); see
        BM25Searcher._score_pruned.  Per-segment top-k suffices for the
        global top-k: doc spaces are disjoint, and any doc cut by a
        segment's (score DESC, doc_id ASC) rule is outranked globally by
        the k docs that cut it.  This is the reference behavior of
        searching `my-index-*` with per-shard WAND intact
        (OpenSearchSink.java:144-150 dynamic index patterns)."""
        sel = periods if periods is not None else self.covered(start, end)
        opened = [self._searcher(p) for p in sel]
        if not opened:
            return []
        n_docs = sum(s.n_docs for s in opened)
        total_tokens = sum(int(s.stats["total_tokens"]) for s in opened)
        avgdl = (total_tokens / n_docs) if n_docs else 0.0
        # per-term global df: sum each segment's pruned termstats read
        gdf: dict[int, int] = {}
        per_seg_df = []
        for s in opened:
            _, s_ids, s_buckets = s._terms_buckets(query_text)
            dfs = s.term_stats(s_ids, s_buckets)
            per_seg_df.append((s, s_ids, s_buckets, dfs))
            for i, d in dfs.items():
                gdf[i] = gdf.get(i, 0) + d
        idf = {i: idf_value(n_docs, d) for i, d in gdf.items() if d > 0}
        if not idf:
            return []
        hits: list[tuple[int, float]] = []
        theta = float("-inf")  # WAND across segments: running global kth
        for p, (s, s_ids, s_buckets, dfs) in zip(sel, per_seg_df):
            beta = float((indices_boost or {}).get(p, 1.0))
            if beta < 0:
                raise ValueError(f"indices_boost[{p!r}] must be >= 0")
            present = {i: t for i, t in s_ids.items() if dfs.get(i, 0) > 0}
            if not present:
                continue
            if k is None or mode != "bmw" or beta == 0.0:
                seg = s._score_pruned(present, s_buckets, idf, None,
                                      "brute", avgdl)
            else:
                # 1e-9 relative headroom so float rounding of the
                # inflation can never eat the (strict) bound margin
                scale = max(1.0, (avgdl / s.avgdl) * (1.0 + 1e-9)) \
                    if s.avgdl else 1.0
                seg = s._score_pruned(
                    present, s_buckets, idf, k, "bmw", avgdl,
                    ub_scale=scale,
                    theta0=(theta / beta if theta > float("-inf")
                            else theta),
                )
            if beta != 1.0:
                seg = [(d, sc * beta) for d, sc in seg]
            hits.extend(seg)
            if k is not None and mode == "bmw" and len(hits) >= k:
                theta = max(
                    theta,
                    sorted((h[1] for h in hits), reverse=True)[k - 1],
                )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits if k is None else hits[:k]

    def search_filtered(
        self,
        query_text: str,
        filters,
        k: int = 10,
        start: str | None = None,
        end: str | None = None,
        periods: list[str] | None = None,
        tie_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """Metadata-filtered BM25 over a period range — the reference's
        actual log-search workload: the TIME window selects periods
        (partition pruning: non-covered segments are never opened) and
        the docvalue filters (service, lang, status, …) restrict matches
        WITHIN them, scored under family-global stats (Lucene filter
        semantics: filters never change idf/avgdl).  Per-segment
        execution reuses the single-index filtered core with the
        avgdl-rescaled block bounds and cross-segment WAND theta (see
        `search`); candidate gathering stays per-segment (each period's
        docvalues cache covers only its own docs)."""
        from .filtered import _check_filters, _filtered_core

        _check_filters(filters)
        sel = periods if periods is not None else self.covered(start, end)
        opened = [self._searcher(p) for p in sel]
        if not opened:
            return []
        if not filters:
            return self.search(
                query_text, k=k, start=start, end=end, periods=periods,
                mode="brute" if tie_round is not None else "bmw",
            )
        n_docs = sum(s.n_docs for s in opened)
        total_tokens = sum(int(s.stats["total_tokens"]) for s in opened)
        avgdl = (total_tokens / n_docs) if n_docs else 0.0
        gdf: dict[int, int] = {}
        per_seg = []
        for s in opened:
            _, s_ids, s_buckets = s._terms_buckets(query_text)
            dfs = s.term_stats(s_ids, s_buckets)
            per_seg.append((s, s_ids, s_buckets, dfs))
            for i, d in dfs.items():
                gdf[i] = gdf.get(i, 0) + d
        idf = {i: idf_value(n_docs, d) for i, d in gdf.items() if d > 0}
        if not idf:
            return []
        import numpy as np

        all_ids, all_sc = [], []
        theta = float("-inf")
        n_collected = 0
        for s, s_ids, s_buckets, dfs in per_seg:
            present = {i: t for i, t in s_ids.items()
                       if dfs.get(i, 0) > 0 and i in idf}
            if not present:
                continue
            scoring = sorted(present, key=lambda i: present[i])
            scale = max(1.0, (avgdl / s.avgdl) * (1.0 + 1e-9)) \
                if s.avgdl else 1.0
            da, sc = _filtered_core(
                s, present, s_buckets, scoring, idf, avgdl, k, filters,
                tie_round=tie_round, theta0=theta, ub_scale=scale,
            )
            if da.size == 0:
                continue
            all_ids.append(da)
            all_sc.append(sc)
            if tie_round is None:
                n_collected += sc.size
                if n_collected >= k:
                    allsc = np.concatenate(all_sc)
                    theta = max(
                        theta, -np.partition(-allsc, k - 1)[k - 1]
                    )
        if not all_ids:
            return []
        da = np.concatenate(all_ids)
        sc = np.concatenate(all_sc)
        if tie_round is not None:
            order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
            return [(int(da[i]), float(sc[i])) for i in order]
        from .scoring import topk_select

        ids_k, sc_k = topk_select(da, sc, k)
        return list(zip(ids_k.tolist(), sc_k.tolist()))

    def agg(
        self,
        agg_fn,
        query_text: str,
        *args,
        start: str | None = None,
        end: str | None = None,
        periods: list[str] | None = None,
        **kwargs,
    ) -> list[tuple]:
        """Cross-period aggregation — OpenSearch aggs over `my-index-*`.
        *agg_fn* is one of index/filtered.py's match_agg_* functions
        (terms / histogram / date_histogram); it runs per covered
        segment and the (bucket, count) partials FOLD EXACTLY: period
        doc spaces are disjoint and aggregations are score-free, so
        per-segment counts are additive with no global-stats coupling
        (unlike BM25, which needs dfs_query_then_fetch).  Bucket order:
        ascending bucket key, matching the single-index functions."""
        from collections import Counter

        sel = periods if periods is not None else self.covered(start, end)
        folded: Counter = Counter()
        for p in sel:
            s = self._searcher(p)
            for bucket, n in agg_fn(s, query_text, *args, **kwargs):
                folded[bucket] += n
        return sorted(folded.items())

    def agg_value_hist(
        self,
        query_text: str,
        field: str,
        filters=(),
        start: str | None = None,
        end: str | None = None,
        periods: list[str] | None = None,
    ):
        """Cross-period (value, count) histogram of a docvalues field
        over the match set — the foldable partial every metric
        aggregation derives from (index/filtered.py match_value_hist):
        period doc spaces are disjoint, so per-segment histograms fold
        by summing counts per value, exactly."""
        from collections import Counter

        import numpy as np

        from .filtered import match_value_hist

        sel = periods if periods is not None else self.covered(start, end)
        folded: Counter = Counter()
        for p in sel:
            vals, counts = match_value_hist(
                self._searcher(p), query_text, field, filters
            )
            # datetime64 keys stay np.datetime64 scalars — .tolist() on a
            # ns-unit array yields raw nanosecond INTS (the .item()
            # pitfall), which would silently break date-range bound math
            vkeys = (
                list(vals) if np.issubdtype(vals.dtype, np.datetime64)
                else vals.tolist()
            )
            for v, c in zip(vkeys, counts.tolist()):
                folded[v] += c
        if not folded:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        keys = sorted(folded)
        return np.array(keys), np.array(
            [folded[k] for k in keys], dtype=np.int64
        )

    def agg_stats(self, query_text: str, field: str, **cover) -> dict:
        """OpenSearch stats over `my-index-*` (count/min/max/sum/avg of
        the covered periods' match set) — exact integer sums fold."""
        from .filtered import stats_from_hist

        return stats_from_hist(*self.agg_value_hist(query_text, field, **cover))

    def agg_percentiles(
        self, query_text: str, field: str, percents=(25.0, 50.0, 75.0, 95.0),
        **cover,
    ) -> list[tuple[float, object]]:
        """Nearest-rank-exact percentiles over `my-index-*` — exact at
        any period count because the folded histogram is exact."""
        from .filtered import percentiles_from_hist

        return percentiles_from_hist(
            *self.agg_value_hist(query_text, field, **cover), percents
        )

    def agg_cardinality(self, query_text: str, field: str, **cover) -> int:
        """EXACT distinct count over `my-index-*` (a value present in
        many periods counts once — the histogram keys are the set)."""
        vals, _ = self.agg_value_hist(query_text, field, **cover)
        return int(vals.size)

    def agg_range(self, query_text: str, field: str, ranges, **cover):
        """[from, to) bucket counts over `my-index-*` — every bucket
        emitted, overlap allowed (OpenSearch range-agg rules)."""
        from .filtered import range_from_hist

        return range_from_hist(
            *self.agg_value_hist(query_text, field, **cover), ranges
        )

    def agg_percentile_ranks(
        self, query_text: str, field: str, values, **cover
    ):
        """Exact ≤-fraction percentile ranks over `my-index-*` — derived
        from the folded histogram, so exact at any period count."""
        from .filtered import percentile_ranks_from_hist

        return percentile_ranks_from_hist(
            *self.agg_value_hist(query_text, field, **cover), values
        )

    def agg_value_count(self, query_text: str, field: str, **cover) -> int:
        """value_count over `my-index-*` — the folded histogram's total."""
        _, counts = self.agg_value_hist(query_text, field, **cover)
        return int(counts.sum()) if counts.size else 0

    def agg_date_range(self, query_text: str, ts_field: str, ranges, **cover):
        """date_range over `my-index-*` — bound checks over the folded
        (timestamp, count) histogram."""
        from .filtered import date_range_from_hist

        return date_range_from_hist(
            *self.agg_value_hist(query_text, ts_field, **cover), ranges
        )

    def agg_auto_date_histogram(
        self, query_text: str, ts_field: str, max_buckets: int = 10, **cover
    ):
        """auto_date_histogram over `my-index-*` — the interval pick must
        see the GLOBAL timestamp histogram (a per-period pick could
        choose different intervals), so the fold runs first."""
        from .filtered import auto_dh_from_hist

        return auto_dh_from_hist(
            *self.agg_value_hist(query_text, ts_field, **cover), max_buckets
        )

    def agg_weighted_avg(
        self, query_text: str, value_field: str, weight_field: str, **cover
    ) -> dict:
        """weighted_avg over `my-index-*`: per-period (n, Σvw, Σw)
        partials are the minimal additive sufficient statistic — they
        fold by summation with no global-stats coupling."""
        from .filtered import match_agg_weighted_avg

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        n = s_vw = s_w = 0
        for p in sel:
            wa = match_agg_weighted_avg(
                self._searcher(p), query_text, value_field, weight_field,
                **cover,
            )
            n += wa["n"]
            s_vw += wa["sum_vw"]
            s_w += wa["sum_w"]
        if n == 0 or s_w == 0:
            return {"n": 0, "sum_vw": 0, "sum_w": 0, "wavg_e4": None}
        wavg_e4 = (s_vw * 10**4 // s_w if s_vw >= 0
                   else -((-s_vw * 10**4) // s_w))
        return {"n": n, "sum_vw": s_vw, "sum_w": s_w, "wavg_e4": wavg_e4}

    def agg_matrix_stats(
        self, query_text: str, field_x: str, field_y: str, **cover
    ) -> dict:
        """matrix_stats over `my-index-*`: per-period six-moment partials
        (n, Σx, Σy, Σx², Σy², Σxy) sum exactly over disjoint doc spaces;
        the derivation runs once over the folded moments."""
        from .filtered import match_matrix_moments, matrix_stats_from_moments

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        tot = [0, 0, 0, 0, 0, 0]
        for p in sel:
            m = match_matrix_moments(
                self._searcher(p), query_text, field_x, field_y, **cover
            )
            for i in range(6):
                tot[i] += m[i]
        if tot[0] == 0:
            return {
                "n": 0, "sum_x": 0, "sum_y": 0, "mean_x_e6": None,
                "mean_y_e6": None, "var_x_e6": None, "var_y_e6": None,
                "cov_e6": None, "corr2s_e6": None,
            }
        return matrix_stats_from_moments(*tot)

    def agg_mad(self, query_text: str, field: str, **cover) -> dict:
        """median_absolute_deviation over `my-index-*` — BOTH medians
        derive from the folded value histogram, so exact at any period
        count (a per-period median of medians would be unsound)."""
        from .filtered import mad_from_hist

        return mad_from_hist(*self.agg_value_hist(query_text, field, **cover))

    def agg_ip_range(
        self, query_text: str, field: str, cidrs, **cover
    ) -> list[tuple[str, int]]:
        """ip_range over `my-index-*` — CIDR bucket counts derive from
        the folded integer-ip histogram, exact at any period count."""
        from .filtered import cidr_to_range, range_from_hist

        rngs = []
        for c in cidrs:
            lo, hi = cidr_to_range(c)
            rngs.append((c, lo, hi + 1))
        return range_from_hist(
            *self.agg_value_hist(query_text, field, **cover), rngs)

    def agg_ip_prefix(
        self, query_text: str, field: str, prefix_length: int,
        min_doc_count: int = 1, **cover,
    ) -> list[tuple[str, int]]:
        """ip_prefix over `my-index-*` — network buckets from the
        folded integer-ip histogram (masking commutes with the fold)."""
        from .filtered import ip_prefix_from_hist

        return ip_prefix_from_hist(
            *self.agg_value_hist(query_text, field, **cover),
            prefix_length, min_doc_count)

    def agg_boxplot(self, query_text: str, field: str, **cover) -> dict:
        """boxplot over `my-index-*` — min/quartiles/max derive from the
        folded value histogram (nearest-rank, exact at any period
        count)."""
        from .filtered import boxplot_from_hist

        return boxplot_from_hist(
            *self.agg_value_hist(query_text, field, **cover))

    def agg_string_stats(self, query_text: str, field: str, **cover) -> dict:
        """string_stats over `my-index-*` — length stats and character
        entropy derive from the folded (string value, count) histogram;
        character counting runs once per distinct value after the
        fold."""
        from .filtered import string_stats_from_hist

        return string_stats_from_hist(
            *self.agg_value_hist(query_text, field, **cover))

    def agg_t_test(
        self, query_text: str, field: str, filter_a, filter_b,
        filters=(), **cover,
    ) -> dict:
        """t_test over `my-index-*` — Welch's t² from the two folded
        population histograms, exact integer arithmetic end-to-end."""
        from .filtered import t_test_from_hists

        va, ca = self.agg_value_hist(
            query_text, field,
            filters=tuple(filters) + tuple(filter_a), **cover)
        vb, cb = self.agg_value_hist(
            query_text, field,
            filters=tuple(filters) + tuple(filter_b), **cover)
        return t_test_from_hists(va, ca, vb, cb)

    def agg_t_test_paired(
        self, query_text: str, field_x: str, field_y: str, **cover
    ) -> dict:
        """paired t_test over `my-index-*` — derives from the folded
        six-moment matrix_stats partial (additive over disjoint doc
        spaces), exact integer arithmetic end-to-end."""
        from .filtered import match_matrix_moments, paired_t_test_from_moments

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        tot = [0, 0, 0, 0, 0, 0]
        for p in sel:
            m = match_matrix_moments(
                self._searcher(p), query_text, field_x, field_y, **cover)
            for i in range(6):
                tot[i] += m[i]
        return paired_t_test_from_moments(*tot)

    def agg_geo_bounds(
        self, query_text: str, lat_field: str, lon_field: str, **cover
    ) -> dict:
        """geo_bounds over `my-index-*` — exact extremal folds of the
        two microdegree histograms."""
        lat_v, lat_c = self.agg_value_hist(query_text, lat_field, **cover)
        lon_v, _ = self.agg_value_hist(query_text, lon_field, **cover)
        if lat_v.size == 0:
            return {"n": 0, "min_lat_e6": None, "max_lat_e6": None,
                    "min_lon_e6": None, "max_lon_e6": None}
        return {
            "n": int(lat_c.sum()),
            "min_lat_e6": int(lat_v[0]), "max_lat_e6": int(lat_v[-1]),
            "min_lon_e6": int(lon_v[0]), "max_lon_e6": int(lon_v[-1]),
        }

    def agg_geo_centroid(
        self, query_text: str, lat_field: str, lon_field: str, **cover
    ) -> dict:
        """geo_centroid over `my-index-*` — coordinate sums fold
        additively (the matrix_stats moment shape), exact integers."""
        from .filtered import _tdiv, match_matrix_moments

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        n = slat = slon = 0
        for p in sel:
            m = match_matrix_moments(
                self._searcher(p), query_text, lat_field, lon_field, **cover)
            n += m[0]
            slat += m[1]
            slon += m[2]
        if n == 0:
            return {"n": 0, "lat_e6": None, "lon_e6": None}
        return {"n": n, "lat_e6": _tdiv(slat, n), "lon_e6": _tdiv(slon, n)}

    def agg_geo_distance(
        self, query_text: str, lat_field: str, lon_field: str,
        clat_e6: int, clon_e6: int, ranges_m, **cover,
    ) -> list[tuple[str, int]]:
        """geo_distance rings over `my-index-*` — per-period ring counts
        fold additively, in the caller's ring order (zero rings kept)."""
        from collections import Counter

        from .geo import match_agg_geo_distance

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for lbl, n in match_agg_geo_distance(
                self._searcher(p), query_text, lat_field, lon_field,
                clat_e6, clon_e6, ranges_m, **cover,
            ):
                folded[lbl] += n
        return [(str(lbl), folded.get(str(lbl), 0))
                for lbl, _, _ in ranges_m]

    def agg_geotile(
        self, query_text: str, lat_field: str, lon_field: str,
        zoom: int, **cover,
    ) -> list[tuple[str, int]]:
        """geotile_grid over `my-index-*` — per-period tile counts fold
        additively (tile keys are period-independent), ascending key."""
        from collections import Counter

        from .geo import match_agg_geotile

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for cell, n in match_agg_geotile(
                self._searcher(p), query_text, lat_field, lon_field,
                zoom, **cover,
            ):
                folded[cell] += n
        return sorted(folded.items())

    def agg_geohash(
        self, query_text: str, lat_field: str, lon_field: str,
        precision: int, **cover,
    ) -> list[tuple[str, int]]:
        """geohash_grid over `my-index-*` — same additive fold as
        agg_geotile (cell keys are pure functions of the point)."""
        from collections import Counter

        from .geo import match_agg_geohash

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for cell, n in match_agg_geohash(
                self._searcher(p), query_text, lat_field, lon_field,
                precision, **cover,
            ):
                folded[cell] += n
        return sorted(folded.items())

    def agg_top_metrics(
        self, query_text: str, sort_field: str, metric_fields,
        k: int = 3, ascending: bool = False, filters=(), **cover,
    ) -> list[tuple]:
        """top_metrics over `my-index-*`: per-period top-k partials
        provably superset the global top-k (subset ranks only shrink);
        the fold is one bounded re-rank of periods × k rows."""
        from .filtered import match_agg_top_metrics

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        rows: list[tuple] = []
        for p in sel:
            rows.extend(match_agg_top_metrics(
                self._searcher(p), query_text, sort_field, metric_fields,
                k=k, ascending=ascending, filters=filters,
            ))
        # (sort value ASC|DESC, doc_id ASC) via two stable passes —
        # values may be non-numeric (datetime/str), so no sign trick
        rows.sort(key=lambda r: r[0])
        rows.sort(key=lambda r: r[1], reverse=not ascending)
        return rows[:k]

    def agg_sampler(
        self, query_text: str, shard_size: int, metric_field: str,
        filters=(), diversify_field: str | None = None,
        max_per_value: int = 1, **cover,
    ) -> dict:
        """sampler / diversified_sampler over `my-index-*`: per-period
        candidates built by the SAME selection rule superset the global
        sample (plain: per-period lowest shard_size; diversified:
        per-period value cap, uncut — see filtered.sampler_candidates
        for why a local shard cut after capping is unsound); the global
        rule re-applies over the bounded union."""
        import numpy as np

        from .filtered import (
            _sampler_select,
            _sampler_stats,
            sampler_candidates,
        )

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        id_parts, mv_parts, dv_parts = [], [], []
        for p in sel:
            ids, mv, dv = sampler_candidates(
                self._searcher(p), query_text, shard_size, metric_field,
                filters, diversify_field, max_per_value,
            )
            if ids.size:
                id_parts.append(ids)
                mv_parts.append(mv)
                if diversify_field:
                    dv_parts.append(dv)
        if not id_parts:
            e = np.empty(0, dtype=np.int64)
            return _sampler_stats(e, e)
        ids = np.concatenate(id_parts)
        mv = np.concatenate(mv_parts)
        dv = np.concatenate(dv_parts) if diversify_field else None
        ids, mv = _sampler_select(ids, mv, dv, shard_size, max_per_value)
        return _sampler_stats(ids, mv)

    def agg_bucket_script(
        self, query_text: str, ts_field: str, interval: str,
        value_field: str, **cover,
    ) -> list[tuple]:
        """bucket_script over `my-index-*` — the per-bucket script runs
        over the FOLDED parent buckets (the coordinating-node step);
        running it per period would divide by per-period grand totals."""
        from .filtered import bucket_script_from_buckets

        return bucket_script_from_buckets([
            (b, n, s) for b, n, s, _, _ in self.agg_date_histogram_stats(
                query_text, ts_field, interval, value_field, **cover)
        ])

    def agg_adjacency_matrix(
        self, query_text: str, named, count_field: str, **cover
    ) -> list[tuple[str, int]]:
        """adjacency_matrix over `my-index-*`: per-key counts fold by
        summation; the zero-bucket drop runs AFTER the fold (a key empty
        in one period may be populated in another)."""
        from collections import Counter

        from .filtered import match_agg_adjacency_matrix

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for key, n in match_agg_adjacency_matrix(
                self._searcher(p), query_text, named, count_field, **cover
            ):
                folded[key] += n
        return sorted(folded.items())

    def suggest_completion(
        self, prefix: str, k: int = 5, **cover
    ) -> list[tuple[str, int]]:
        """Completion suggester over `my-index-*`: per-period UNCUT
        (term, df) candidates fold by df summation, then one global
        (df DESC, term ASC) cut — a per-period top-k before the fold
        would miss a term just below k in every period."""
        from collections import Counter

        from .boolquery import completion_candidates

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for t, df in completion_candidates(self._searcher(p), prefix):
                folded[t] += df
        ranked = sorted(folded.items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k]

    def phrase_topk(
        self, phrase_text: str, slop: int = 0, k: int = 10,
        tie_round: int = 4, **cover,
    ) -> list[tuple[int, float]]:
        """Cross-period phrase search over `my-index-*` (OpenSearch
        match_phrase against a dynamic index pattern): per-period match
        triples (doc, phrase-tf, dl) fold under FAMILY-GLOBAL stats —
        phrase df = total matches across the covered periods, n/avgdl
        from the combined corpus — so the ranking is identical to one
        positional index built over the covered docs (the
        dfs_query_then_fetch guarantee the term path already pins).
        Positions are required on every covered segment."""
        from .phrase import phrase_match_triples

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        return self._positional_fold(
            lambda s: phrase_match_triples(s, phrase_text, slop, **cover),
            sel, k, tie_round)

    def intervals_topk(
        self, spec: dict, k: int = 10, tie_round: int = 4, **cover,
    ) -> list[tuple[int, float]]:
        """Cross-period intervals search over `my-index-*` — per-period
        minimal-interval match triples fold under family-global stats
        (df = total cross-period match count), identical ranking to one
        positional index over the covered docs; same fold contract as
        phrase_topk."""
        from .phrase import intervals_match_triples

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        return self._positional_fold(
            lambda s: intervals_match_triples(s, spec, **cover),
            sel, k, tie_round)

    def _positional_fold(self, triples_fn, sel, k: int, tie_round: int):
        """Shared cross-period fold for positional match sets: collect
        per-period UNSCORED (doc, tf, dl) triples, then score once under
        family-global n/avgdl with df = total match count — the
        dfs_query_then_fetch guarantee."""
        import math

        import numpy as np

        opened = [self._searcher(p) for p in sel]
        if not opened:
            return []
        n = sum(s.n_docs for s in opened)
        total_tokens = sum(int(s.stats["total_tokens"]) for s in opened)
        if n == 0:
            return []
        avgdl = total_tokens / n
        docs, tfs, dls = [], [], []
        for s in opened:
            d, tf, dl = triples_fn(s)
            docs.extend(d)
            tfs.extend(tf)
            dls.extend(dl)
        if not docs:
            return []
        df_p = len(docs)
        k1, b = opened[0].cfg.k1, opened[0].cfg.b
        idf = math.log(1.0 + (n - df_p + 0.5) / (df_p + 0.5))
        da = np.asarray(docs, dtype=np.int64)
        ta = np.asarray(tfs, dtype=np.float64)
        la = np.asarray(dls, dtype=np.float64)
        sc = idf * ta * (k1 + 1.0) / (ta + k1 * (1.0 - b + b * la / avgdl))
        order = np.lexsort((da, -np.round(sc, tie_round)))[:k]
        return [(int(da[i]), float(sc[i])) for i in order]

    def agg_rare_terms(
        self, query_text: str, field: str, max_doc_count: int = 1, **cover
    ):
        """rare_terms over `my-index-*`: the rarity cut runs AFTER the
        fold — a value matching once in each of N periods is N-common,
        so per-period pruning would be unsound."""
        from .filtered import match_agg_terms

        pairs = self.agg(match_agg_terms, query_text, field, **cover)
        kept = [(v, n) for v, n in pairs if n <= max_doc_count]
        kept.sort(key=lambda t: (t[1], t[0]))
        return kept

    def agg_multi_terms(
        self, query_text: str, sources: list[str], k: int = 10, **cover
    ):
        """multi_terms over `my-index-*`: per-period FULL tuple counts
        fold by tuple (a sub-k tuple per period can be top-k globally,
        so per-period truncation would be unsound), then one global
        (count DESC, tuple ASC) cut."""
        from collections import Counter

        from .filtered import match_agg_multi_terms

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: Counter = Counter()
        for p in sel:
            for row in match_agg_multi_terms(
                self._searcher(p), query_text, sources, k=2**31 - 1, **cover
            ):
                folded[row[:-1]] += row[-1]
        rows = sorted(
            ((*key, n) for key, n in folded.items()),
            key=lambda r: (-r[-1], r[:-1]),
        )
        return rows[:k]

    def agg_date_histogram_stats(
        self, query_text: str, ts_field: str, interval: str,
        value_field: str, **cover,
    ):
        """date_histogram + stats sub-agg over `my-index-*` (the pipeline
        parent): per-period (bucket, n, sum, min, max) rows fold exactly
        — additive n/sum, extremal min/max — in bucket order."""
        from .filtered import match_agg_date_histogram_stats

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None), cover.pop("end", None))
        folded: dict = {}
        for p in sel:
            for b, n, s, mn, mx in match_agg_date_histogram_stats(
                self._searcher(p), query_text, ts_field, interval,
                value_field, **cover,
            ):
                if b in folded:
                    n0, s0, mn0, mx0 = folded[b]
                    folded[b] = (n0 + n, s0 + s, min(mn0, mn), max(mx0, mx))
                else:
                    folded[b] = (n, s, mn, mx)
        return [(b, *folded[b]) for b in sorted(folded)]

    def agg_pipeline(
        self, query_text: str, ts_field: str, interval: str,
        value_field: str, mavg_window: int = 3, **cover,
    ):
        """Pipeline aggregations over `my-index-*`: derivative /
        cumulative_sum / moving_avg run over the FOLDED bucket list (the
        OpenSearch coordinating-node step) — running on per-period
        buckets then folding would be unsound (a derivative across a
        period boundary needs the combined neighbor)."""
        from .filtered import pipeline_from_buckets

        return pipeline_from_buckets(
            self.agg_date_histogram_stats(
                query_text, ts_field, interval, value_field, **cover
            ),
            mavg_window=mavg_window,
        )

    def agg_cumulative_cardinality(
        self, query_text: str, ts_field: str, interval: str,
        value_field: str, **cover,
    ) -> list[tuple[str, int]]:
        """cumulative_cardinality over `my-index-*`: per-period DISTINCT
        (bucket, value) pairs UNION exactly BEFORE first-bucket
        attribution — folding per-period cumulative counts would
        double-count a value seen in two periods (the same reason
        OpenSearch merges HLL sketches, not cardinalities; the exact
        pair union is the deterministic analog)."""
        from .filtered import (
            cumulative_cardinality_from_pairs,
            match_bucket_value_pairs,
        )

        sel = cover.pop("periods", None)
        if sel is None:
            sel = self.covered(cover.pop("start", None),
                               cover.pop("end", None))
        pairs: set = set()
        buckets_all: set = set()
        for p in sel:
            pp, bb = match_bucket_value_pairs(
                self._searcher(p), query_text, ts_field, interval,
                value_field, **cover,
            )
            pairs |= pp
            buckets_all |= bb
        if not buckets_all:
            return []
        return cumulative_cardinality_from_pairs(pairs, buckets_all)

    def search_distributed(
        self,
        query_text: str,
        k: int = 10,
        start: str | None = None,
        end: str | None = None,
        periods: list[str] | None = None,
        mode: str = "bmw",
        tie_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """The 10^12-doc family serving path: ONE Spark job over the
        union of every covered period's pruned posting scans, scored per
        (period, docID-range) group under FAMILY-GLOBAL stats, global
        top-k via orderBy/limit — the cross-period analog of
        BM25Searcher._search_distributed (no term's full posting list on
        one node; no period's postings leave their partition; only
        (doc_id, score) pairs reach the global TakeOrdered).

        Rank-identical to :meth:`search`: per-segment BMW uses the same
        avgdl-rescaled upper bounds (sound under the global avgdl, see
        search); ``tie_round`` switches to the SQL-oracle tie rule
        (round(score, n) DESC, doc_id ASC over ALL matches — brute, no
        per-range truncation).

        Scan shape: one parquet scan per period, term_bucket+term_id
        pushed down, unioned.  At very large period counts the union'd
        plan analysis cost grows linearly; a hive `p=` partition layout
        over one dataset would amortize it — the directory layout
        already IS that layout, so the migration is mechanical."""
        import pandas as pd

        from .scoring import (
            bmw_slices, score_bmw, score_brute, term_views, topk_select,
            view_slices,
        )

        sel = periods if periods is not None else self.covered(start, end)
        opened = [self._searcher(p) for p in sel]
        if not opened:
            return []
        n_docs = sum(s.n_docs for s in opened)
        total_tokens = sum(int(s.stats["total_tokens"]) for s in opened)
        avgdl = (total_tokens / n_docs) if n_docs else 0.0
        gdf: dict[int, int] = {}
        per_seg = []
        for s in opened:
            _, s_ids, s_buckets = s._terms_buckets(query_text)
            dfs = s.term_stats(s_ids, s_buckets)
            per_seg.append((s, s_ids, s_buckets, dfs))
            for i, d in dfs.items():
                gdf[i] = gdf.get(i, 0) + d
        idf = {i: idf_value(n_docs, d) for i, d in gdf.items() if d > 0}
        if not idf:
            return []
        labels = {i: t for _, s_ids, _, _ in per_seg for i, t in s_ids.items()}
        scans = []
        seg_meta: dict[int, dict] = {}
        for si, (s, s_ids, s_buckets, dfs) in enumerate(per_seg):
            present = [i for i in s_ids if dfs.get(i, 0) > 0 and i in idf]
            if not present:
                continue
            seg_meta[si] = {
                "scale": max(1.0, (avgdl / s.avgdl) * (1.0 + 1e-9))
                if s.avgdl else 1.0,
                "deleted": s.deleted,
            }
            scans.append(
                s._pruned_slices(present, s_buckets)
                .withColumn("_seg", F.lit(si))
            )
        if not scans:
            return []
        allscan = scans[0]
        for sc in scans[1:]:
            allscan = allscan.unionByName(sc)
        cfg = opened[0].cfg
        k1, b = cfg.k1, cfg.b
        use_bmw = mode == "bmw" and tie_round is None

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            si = int(pdf["_seg"].iloc[0])
            meta = seg_meta[si]
            views = term_views(
                pdf.to_dict("records"), labels, idf, cfg.block_size,
                meta["deleted"],
            )
            if use_bmw:
                ids_, sc_ = score_bmw(
                    bmw_slices(views, meta["scale"]), k1, b, avgdl, k,
                    deny=meta["deleted"],
                )
            else:
                ids_, sc_ = score_brute(view_slices(views), k1, b, avgdl)
                if tie_round is None:
                    ids_, sc_ = topk_select(ids_, sc_, k)
            return pd.DataFrame({"doc_id": ids_, "score": sc_})

        scored = (
            allscan.groupBy("_seg", "range_id")
            .applyInPandas(score_group, schema="doc_id long, score double")
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
