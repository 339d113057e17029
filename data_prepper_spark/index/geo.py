"""Geo-point queries and aggregations over integer-microdegree docvalues.

OpenSearch's geo_point surface re-expressed over the engine's docvalue
machinery: coordinates are stored as two long columns (lat_e6, lon_e6 —
degrees × 10⁶, the classic fixed-point encoding real systems use for
sortable geo docvalues), so bounds/centroid aggregations stay EXACT
integer folds and only the distance math is floating point.

Reference behaviors matched (as specs, not code):
- geo_distance query + sort   — OpenSearch GeoDistanceQuery / GeoDistanceSortBuilder
- geo_bounding_box query      — four docvalue range filters (no dateline wrap)
- geo_bounds / geo_centroid   — exact integer extremal / moment folds
- geo_distance aggregation    — [from, to) meter rings around an origin
- geotile_grid aggregation    — Web-Mercator z/x/y tile buckets

Scale shape: every aggregation ships only bounded per-docID-range
partials through ONE cogroup (the `_agg2_distributed` kernel — the
two-field sibling of filtered._agg_distributed); the distance query ships
k rows per range.  Distance and tile math uses the SAME formula text on
the engine (numpy) and oracle (DuckDB) sides; ranks and buckets pin on
rounded values per the repo-wide contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .scoring import _member_sorted
from .filtered import (
    _UNION_COLS,
    _check_filters,
    _match_query_ids,
    _matched_with_cols,
    _tdiv,
    _union_docids_rows,
    match_matrix_moments,
    match_value_hist,
    spark_filter_col,
)

EARTH_R_M = 6371000.0
# Web-Mercator latitude clamp (tiles are undefined beyond this)
MERCATOR_MAX_LAT = 85.05112878


def haversine_m(lat_e6, lon_e6, clat_e6: int, clon_e6: int):
    """Great-circle distance in meters between microdegree points and a
    center — vectorized haversine, the formula DuckDB mirrors verbatim:
    2·R·asin(least(1, sqrt(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))))."""
    p1 = np.radians(np.asarray(lat_e6, dtype=np.float64) / 1e6)
    l1 = np.radians(np.asarray(lon_e6, dtype=np.float64) / 1e6)
    p2 = np.radians(clat_e6 / 1e6)
    l2 = np.radians(clon_e6 / 1e6)
    a = (
        np.sin((p2 - p1) / 2.0) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2.0) ** 2
    )
    return 2.0 * EARTH_R_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))


def geotile_xy(lat_e6, lon_e6, zoom: int):
    """Web-Mercator tile (x, y) arrays at *zoom* for microdegree points
    — x is EXACT integer arithmetic on the e6 grid; y uses the Mercator
    ln(tan φ + sec φ) with the latitude clamped to ±85.05112878."""
    n = 1 << zoom
    lon = np.asarray(lon_e6, dtype=np.int64)
    # floor((lon + 180)/360 · 2^z) over microdegrees, exact
    x = (lon + 180_000_000) * n // 360_000_000
    x = np.clip(x, 0, n - 1)
    lat = np.asarray(lat_e6, dtype=np.float64) / 1e6
    lat = np.clip(lat, -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT)
    r = np.radians(lat)
    merc = np.log(np.tan(r) + 1.0 / np.cos(r))
    y = np.floor((1.0 - merc / np.pi) / 2.0 * n).astype(np.int64)
    y = np.clip(y, 0, n - 1)
    return x.astype(np.int64), y


def search_geo_bbox(
    searcher, query_text: str, lat_field: str, lon_field: str,
    south_e6: int, west_e6: int, north_e6: int, east_e6: int,
    k: int = 10, filters=(), distributed: bool = False,
    tie_round: int | None = None,
):
    """geo_bounding_box query (OpenSearch GeoBoundingBoxQuery, no
    dateline wrap): pure sugar — the box IS four docvalue range filters,
    served by the whole existing filtered-BM25 machinery (cached masks,
    pushdown scans, distributed cogroup, BMW routing)."""
    from .filtered import search_filtered

    box = [
        (lat_field, ">=", south_e6), (lat_field, "<=", north_e6),
        (lon_field, ">=", west_e6), (lon_field, "<=", east_e6),
    ]
    return search_filtered(
        searcher, query_text, list(filters) + box, k=k,
        distributed=distributed, tie_round=tie_round,
    )


def search_geo_distance(
    searcher, query_text: str, lat_field: str, lon_field: str,
    clat_e6: int, clon_e6: int, radius_m: float, k: int = 10,
    filters=(), distributed: bool = False, round_dp: int = 4,
) -> list[tuple[int, float]]:
    """geo_distance query + distance sort (OpenSearch GeoDistanceQuery
    with a _geo_distance sort): matching docs within *radius_m* of the
    center, ranked by (round(distance, 4) ASC, doc_id ASC).  A bounding-
    box pre-filter (the standard Lucene optimization) prunes candidates
    with pure integer range filters before any trig runs; the exact
    haversine decides membership and rank.  Distributed mode ships k
    rows per docID range through one cogroup."""
    _check_filters(filters)
    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return []
    pre = list(filters) + _bbox_prefilter(clat_e6, clon_e6, radius_m,
                                          lat_field, lon_field)
    if distributed:
        rows = _geo_distance_distributed(
            searcher, ids, buckets, lat_field, lon_field,
            clat_e6, clon_e6, radius_m, k, pre, round_dp)
        return rows
    m_ids, (lat, lon) = _matched_with_cols(
        searcher, ids, buckets, pre, [lat_field, lon_field])
    if m_ids.size == 0:
        return []
    d = np.round(haversine_m(lat, lon, clat_e6, clon_e6), round_dp)
    keep = d <= radius_m
    m_ids, d = m_ids[keep], d[keep]
    if m_ids.size == 0:
        return []
    order = np.lexsort((m_ids, d))[:k]
    return [(int(i), float(v)) for i, v in zip(m_ids[order], d[order])]


def _bbox_prefilter(clat_e6, clon_e6, radius_m, lat_field, lon_field):
    """Conservative integer bounding box around the radius: latitude
    degrees are a fixed 111,194.9 m (πR/180), longitude degrees shrink
    by cos(lat) — widened by the worst |lat| inside the box and 1%
    slack, so the box can only OVER-select (the haversine decides)."""
    lat_deg_m = np.pi * EARTH_R_M / 180.0
    dlat = radius_m / lat_deg_m * 1.01
    lat_lo = max(-90.0, clat_e6 / 1e6 - dlat)
    lat_hi = min(90.0, clat_e6 / 1e6 + dlat)
    worst = min(89.9, max(abs(lat_lo), abs(lat_hi)))
    dlon = radius_m / (lat_deg_m * np.cos(np.radians(worst))) * 1.01
    if dlon >= 360.0:
        lon_lo, lon_hi = -180.0, 180.0
    else:
        lon_lo = max(-180.0, clon_e6 / 1e6 - dlon)
        lon_hi = min(180.0, clon_e6 / 1e6 + dlon)
    return [
        (lat_field, ">=", int(np.floor(lat_lo * 1e6))),
        (lat_field, "<=", int(np.ceil(lat_hi * 1e6))),
        (lon_field, ">=", int(np.floor(lon_lo * 1e6))),
        (lon_field, "<=", int(np.ceil(lon_hi * 1e6))),
    ]


def _geo_distance_distributed(
    searcher, labels, buckets, lat_field, lon_field,
    clat_e6, clon_e6, radius_m, k, filters, round_dp=4,
):
    """Per-range top-k by rounded distance → one bounded global re-rank
    (the computed-column sibling of filtered._top_metrics_distributed)."""
    from .tokenize import range_id_col

    cfg = searcher.cfg
    deleted = searcher.deleted

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"doc_id": [], "dist": []})
        if post_pdf.empty or meta_pdf.empty:
            return empty
        matched = _union_docids_rows(post_pdf.to_dict("records"))
        if deleted.size:
            matched = matched[~_member_sorted(matched, deleted)]
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(meta_ids)
        meta_ids = meta_ids[order]
        matched = matched[_member_sorted(matched, meta_ids)]
        if matched.size == 0:
            return empty
        pos = np.searchsorted(meta_ids, matched)
        lat = meta_pdf["lat"].to_numpy()[order][pos]
        lon = meta_pdf["lon"].to_numpy()[order][pos]
        d = np.round(haversine_m(lat, lon, clat_e6, clon_e6), round_dp)
        keep = d <= radius_m
        matched, d = matched[keep], d[keep]
        if matched.size == 0:
            return empty
        sel = np.lexsort((matched, d))[:k]
        return pd.DataFrame({"doc_id": matched[sel], "dist": d[sel]})

    meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
    if filters:
        meta = meta.filter(spark_filter_col(filters))
    meta = meta.select(
        range_id_col(cfg).alias("range_id"), "doc_id",
        F.col(lat_field).alias("lat"), F.col(lon_field).alias("lon"),
    )
    rows = (
        searcher._pruned_slices(list(labels), buckets, columns=_UNION_COLS)
        .groupBy("range_id")
        .cogroup(meta.groupBy("range_id"))
        .applyInPandas(eval_cog, schema="doc_id long, dist double")
        .orderBy(F.asc("dist"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    return [(int(r["doc_id"]), float(r["dist"])) for r in rows]


def _agg2_distributed(
    searcher, labels, buckets, field_x, field_y, filters, bucketer2,
    bucket_type: str = "string",
):
    """Two-field computed-bucket scale path: per-range match ∩ docvalues
    → bucketer2(x, y) → per-range partial counts → global sum.  Only
    (bucket, count) pairs cross the shuffle."""
    from .tokenize import range_id_col

    cfg = searcher.cfg
    deleted = searcher.deleted

    def eval_cog(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"bucket": [], "n": []})
        if post_pdf.empty or meta_pdf.empty:
            return empty
        matched = _union_docids_rows(post_pdf.to_dict("records"))
        if deleted.size:
            matched = matched[~_member_sorted(matched, deleted)]
        meta_ids = meta_pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(meta_ids)
        meta_ids = meta_ids[order]
        matched = matched[_member_sorted(matched, meta_ids)]
        if matched.size == 0:
            return empty
        pos = np.searchsorted(meta_ids, matched)
        x = meta_pdf["x"].to_numpy()[order][pos]
        y = meta_pdf["y"].to_numpy()[order][pos]
        b = bucketer2(x, y)
        uniq, counts = np.unique(b, return_counts=True)
        return pd.DataFrame({"bucket": uniq, "n": counts.astype(np.int64)})

    meta = searcher.spark.read.parquet(f"{searcher.index_dir}/docmeta")
    if filters:
        meta = meta.filter(spark_filter_col(filters))
    meta = meta.select(
        range_id_col(cfg).alias("range_id"), "doc_id",
        F.col(field_x).alias("x"), F.col(field_y).alias("y"),
    )
    agg = (
        searcher._pruned_slices(list(labels), buckets, columns=_UNION_COLS)
        .groupBy("range_id")
        .cogroup(meta.groupBy("range_id"))
        .applyInPandas(eval_cog, schema=f"bucket {bucket_type}, n long")
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
        .orderBy("bucket")
        .collect()
    )
    return [(r["bucket"], int(r["n"])) for r in agg]


def match_agg_geo_bounds(
    searcher, query_text: str, lat_field: str, lon_field: str,
    filters=(), distributed: bool = False,
) -> dict:
    """geo_bounds aggregation (OpenSearch ``aggs:geo_bounds``): the
    tight integer bounding box of the match set — EXACT extremal folds
    of the two microdegree histograms (wrap_longitude=false
    semantics)."""
    _check_filters(filters)
    lat_v, lat_c = match_value_hist(
        searcher, query_text, lat_field, filters, distributed)
    lon_v, _ = match_value_hist(
        searcher, query_text, lon_field, filters, distributed)
    if lat_v.size == 0:
        return {"n": 0, "min_lat_e6": None, "max_lat_e6": None,
                "min_lon_e6": None, "max_lon_e6": None}
    return {
        "n": int(lat_c.sum()),
        "min_lat_e6": int(lat_v[0]), "max_lat_e6": int(lat_v[-1]),
        "min_lon_e6": int(lon_v[0]), "max_lon_e6": int(lon_v[-1]),
    }


def match_agg_geo_centroid(
    searcher, query_text: str, lat_field: str, lon_field: str,
    filters=(), distributed: bool = False,
) -> dict:
    """geo_centroid aggregation (OpenSearch ``aggs:geo_centroid``):
    arithmetic mean of the microdegree coordinates, exact scaled
    integers from the SAME six-moment partial matrix_stats folds
    (OpenSearch likewise accumulates plain coordinate sums)."""
    n, slat, slon, _, _, _ = match_matrix_moments(
        searcher, query_text, lat_field, lon_field, filters, distributed)
    if n == 0:
        return {"n": 0, "lat_e6": None, "lon_e6": None}
    return {"n": n, "lat_e6": _tdiv(slat, n), "lon_e6": _tdiv(slon, n)}


def match_agg_geo_distance(
    searcher, query_text: str, lat_field: str, lon_field: str,
    clat_e6: int, clon_e6: int, ranges_m, filters=(),
    distributed: bool = False,
) -> list[tuple[str, int]]:
    """geo_distance aggregation (OpenSearch ``aggs:geo_distance``):
    [from, to) meter rings around an origin — ring membership tests the
    ROUNDED (4 dp) haversine so engine and SQL bucket identically.
    Every ring emitted, zero counts kept, rings may overlap."""
    _check_filters(filters)
    rngs = [(str(lbl), lo, hi) for lbl, lo, hi in ranges_m]

    def ring_counts(d):
        out = []
        for lbl, lo, hi in rngs:
            m = np.ones(d.shape, dtype=bool)
            if lo is not None:
                m &= d >= lo
            if hi is not None:
                m &= d < hi
            out.append((lbl, int(m.sum())))
        return out

    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return [(lbl, 0) for lbl, _, _ in rngs]
    if distributed:
        def bucketer2(lat, lon):
            d = np.round(haversine_m(lat, lon, clat_e6, clon_e6), 4)
            # one row per (doc, matching ring) — overlap-safe: emit the
            # ring LABELS, repeated per membership, via object array
            labels_out = []
            for lbl, lo, hi in rngs:
                m = np.ones(d.shape, dtype=bool)
                if lo is not None:
                    m &= d >= lo
                if hi is not None:
                    m &= d < hi
                labels_out.extend([lbl] * int(m.sum()))
            return np.array(labels_out, dtype=object)

        got = dict(_agg2_distributed(
            searcher, ids, buckets, lat_field, lon_field, filters,
            bucketer2))
        return [(lbl, got.get(lbl, 0)) for lbl, _, _ in rngs]
    m_ids, (lat, lon) = _matched_with_cols(
        searcher, ids, buckets, filters, [lat_field, lon_field])
    if m_ids.size == 0:
        return [(lbl, 0) for lbl, _, _ in rngs]
    d = np.round(haversine_m(lat, lon, clat_e6, clon_e6), 4)
    return ring_counts(d)


def match_agg_geotile(
    searcher, query_text: str, lat_field: str, lon_field: str,
    zoom: int, filters=(), distributed: bool = False,
) -> list[tuple[str, int]]:
    """geotile_grid aggregation (OpenSearch ``aggs:geotile_grid``):
    match counts per Web-Mercator "z/x/y" tile key, ascending key
    order.  The x tile is exact integer arithmetic on the microdegree
    grid; y shares the Mercator formula text with the SQL oracle."""
    _check_filters(filters)

    def bucketer2(lat, lon):
        x, y = geotile_xy(lat, lon, zoom)
        return np.array([f"{zoom}/{a}/{b}" for a, b in
                         zip(x.tolist(), y.tolist())], dtype=object)

    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return []
    if distributed:
        return _agg2_distributed(
            searcher, ids, buckets, lat_field, lon_field, filters,
            bucketer2)
    m_ids, (lat, lon) = _matched_with_cols(
        searcher, ids, buckets, filters, [lat_field, lon_field])
    if m_ids.size == 0:
        return []
    b = bucketer2(lat, lon)
    uniq, counts = np.unique(b, return_counts=True)
    return [(str(u), int(c)) for u, c in zip(uniq, counts)]


GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cells(lat_e6, lon_e6, precision: int) -> np.ndarray:
    """Geohash cell strings at *precision* chars for microdegree points
    — EXACT integer arithmetic end to end, so the SQL oracle mirrors it
    bit for bit.  A geohash is 5·p bits interleaving longitude (even
    bit indices from the MSB) and latitude: with B = ceil(5p/2) lon
    bits and 5p − B lat bits, the cell indices are
    x = floor((lon+180)/360 · 2^B) and y = floor((lat+90)/180 ·
    2^(5p−B)) (clamped at the top edge), and the interleaved value is
    read out 5 bits per base-32 char (0-9 b-z, skipping a/i/l/o)."""
    if not (1 <= precision <= 6):
        # 7 chars = 35 bits; keep the int64 SQL mirror comfortably exact
        raise ValueError("geohash precision must be in 1..6")
    nbits = 5 * precision
    lonbits = (nbits + 1) // 2
    latbits = nbits - lonbits
    lon = np.asarray(lon_e6, dtype=np.int64)
    lat = np.asarray(lat_e6, dtype=np.int64)
    x = np.minimum((lon + 180_000_000) * (1 << lonbits) // 360_000_000,
                   (1 << lonbits) - 1)
    y = np.minimum((lat + 90_000_000) * (1 << latbits) // 180_000_000,
                   (1 << latbits) - 1)
    val = np.zeros(lon.shape, dtype=np.int64)
    for i in range(nbits):  # MSB first, even = lon, odd = lat
        if i % 2 == 0:
            bit = (x >> (lonbits - 1 - i // 2)) & 1
        else:
            bit = (y >> (latbits - 1 - i // 2)) & 1
        val = (val << 1) | bit
    out = np.empty(val.size, dtype=object)
    vl = val.tolist()
    for j, v in enumerate(vl):
        out[j] = "".join(
            GEOHASH_B32[(v >> (5 * (precision - 1 - c))) & 31]
            for c in range(precision)
        )
    return out


def match_agg_geohash(
    searcher, query_text: str, lat_field: str, lon_field: str,
    precision: int, filters=(), distributed: bool = False,
) -> list[tuple[str, int]]:
    """geohash_grid aggregation (OpenSearch ``aggs:geohash_grid``):
    match counts per geohash cell at *precision* chars, ascending key
    order — the equal-degree sibling of geotile_grid (geohash divides
    lat/lon linearly; geotile divides Mercator y).  Same scale shape:
    per-range (cell, count) partials cross the shuffle, cost bounded by
    the cell cardinality, never the match count."""
    _check_filters(filters)

    def bucketer2(lat, lon):
        return geohash_cells(lat, lon, precision)

    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return []
    if distributed:
        return _agg2_distributed(
            searcher, ids, buckets, lat_field, lon_field, filters,
            bucketer2)
    m_ids, (lat, lon) = _matched_with_cols(
        searcher, ids, buckets, filters, [lat_field, lon_field])
    if m_ids.size == 0:
        return []
    b = bucketer2(lat, lon)
    uniq, counts = np.unique(b, return_counts=True)
    return [(str(u), int(c)) for u, c in zip(uniq, counts)]
