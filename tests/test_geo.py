"""Geo-point queries/aggregations (index/geo.py) and ip-field surfaces
(index/filtered.py cidr_*) vs independent pure-python oracles — the
python sides use the math/ipaddress stdlib, NOT the engine's numpy
kernels."""

import math
import os

import numpy as np
import pytest

from data_prepper_spark.hashing import xxh64_signed
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.textproc import tokenize

K1, B = 1.2, 0.75

LAT_MOD = 180_000_000
LON_MOD = 359_999_999
IP_MASK = 0xFFFFFFFF


def _lat_e6(d: int) -> int:
    return d % LAT_MOD - 90_000_000


def _lon_e6(d: int) -> int:
    return d % LON_MOD - 180_000_000


def _ip_int(d: int) -> int:
    return d & IP_MASK


def _hav_m(lat_e6, lon_e6, clat_e6, clon_e6) -> float:
    """Independent haversine — math stdlib, per scalar."""
    p1 = math.radians(lat_e6 / 1e6)
    l1 = math.radians(lon_e6 / 1e6)
    p2 = math.radians(clat_e6 / 1e6)
    l2 = math.radians(clon_e6 / 1e6)
    a = (
        math.sin((p2 - p1) / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
    )
    return 2 * 6371000.0 * math.asin(min(1.0, math.sqrt(a)))


@pytest.fixture(scope="session")
def geo_index(spark, tiny_corpus_path, workdir):
    """Index with geo (microdegree), ip, and numeric docvalues — all
    derived from xxhash64(url) == doc_id, so python oracles recompute
    them without reading the index."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    index_dir = os.path.join(workdir, "index_geo")
    h = F.xxhash64(F.col("url"))
    pages = (
        spark.read.parquet(tiny_corpus_path)
        .withColumn("n_chars", F.length("text"))
        .withColumn("lat_e6",
                    (F.pmod(h, F.lit(LAT_MOD)) - 90_000_000).cast("long"))
        .withColumn("lon_e6",
                    (F.pmod(h, F.lit(LON_MOD)) - 180_000_000).cast("long"))
        .withColumn("ip_int", h.bitwiseAND(F.lit(IP_MASK)))
    )
    # join field: parent = the smallest doc_id in the doc's hash group
    # (a real, recomputable parent-child relation over live docs)
    from pyspark.sql import Window

    pages = (
        pages.withColumn("grp", F.pmod(h, F.lit(37)))
        .withColumn("parent_id", F.min(h).over(Window.partitionBy("grp")))
        .drop("grp")
    )
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
    build_oneshot(
        spark, pages, index_dir, cfg,
        field_cols=("lang", "n_chars", "lat_e6", "lon_e6", "ip_int",
                    "parent_id"),
    )
    return index_dir


def _matched(oracle, query_text):
    out = set()
    for t in set(tokenize(query_text)):
        out |= set(oracle.postings.get(t, ()))
    return out


def _bm25_oracle(oracle, query_text, allowed, k=10):
    scores = {}
    for t in sorted(set(tokenize(query_text))):
        idf = oracle.idf(t)
        for d, tf in oracle.postings.get(t, {}).items():
            if d not in allowed:
                continue
            dl = oracle.doc_len[d]
            denom = tf + K1 * (1.0 - B + B * dl / oracle.avgdl)
            scores[d] = scores.get(d, 0.0) + idf * tf * (K1 + 1.0) / denom
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_cidr_to_range_vs_ipaddress():
    import ipaddress

    from data_prepper_spark.index.filtered import cidr_to_range

    cases = [
        "10.0.0.0/8", "192.168.1.0/24", "0.0.0.0/0", "255.255.255.255/32",
        "172.16.0.0/12", "203.0.113.7", "128.0.0.0/1", "1.2.3.4/30",
    ]
    for c in cases:
        lo, hi = cidr_to_range(c)
        net = ipaddress.ip_network(c if "/" in c else c + "/32",
                                   strict=False)
        assert lo == int(net.network_address), c
        assert hi == int(net.broadcast_address), c
    for bad in ("1.2.3/8", "1.2.3.999/8", "1.2.3.4/33", "1.2.3.4/-1"):
        with pytest.raises(ValueError):
            cidr_to_range(bad)


def test_ip_cidr_query_and_range_agg(spark, geo_index, oracle_tiny,
                                     tiny_pages_pd):
    from data_prepper_spark.index.filtered import (
        cidr_filters,
        match_agg_ip_range,
        search_filtered,
    )

    ips = {
        xxh64_signed(r.url): _ip_int(xxh64_signed(r.url))
        for r in tiny_pages_pd.itertuples(index=False)
    }
    s = BM25Searcher(spark, geo_index)
    matched = _matched(oracle_tiny, "the data")

    cidr = "128.0.0.0/2"  # ips are hash-uniform → ~quarter match
    lo, hi = (0x80000000, 0xBFFFFFFF)
    allowed = {d for d, ip in ips.items() if lo <= ip <= hi}
    want = _bm25_oracle(oracle_tiny, "the data", allowed)
    flt = cidr_filters("ip_int", cidr)
    got = search_filtered(s, "the data", flt, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    dst = search_filtered(s, "the data", flt, k=10, distributed=True)
    assert [d for d, _ in dst] == [d for d, _ in want]

    cidrs = ["0.0.0.0/1", "128.0.0.0/2", "192.0.0.0/2", "10.0.0.0/8"]
    got_rg = match_agg_ip_range(s, "the data", "ip_int", cidrs)
    import ipaddress

    for (lbl, n), c in zip(got_rg, cidrs):
        net = ipaddress.ip_network(c)
        want_n = sum(
            1 for d in matched
            if int(net.network_address) <= ips[d]
            <= int(net.broadcast_address)
        )
        assert (lbl, n) == (c, want_n)
    assert match_agg_ip_range(
        s, "the data", "ip_int", cidrs, distributed=True
    ) == got_rg


def test_paired_t_test(spark, geo_index, oracle_tiny, tiny_pages_pd):
    """paired t_test from the matrix moments vs an independent float
    computation of the textbook paired formula."""
    from data_prepper_spark.index.filtered import match_agg_t_test_paired

    nchars = {
        xxh64_signed(r.url): len(r.text)
        for r in tiny_pages_pd.itertuples(index=False)
    }
    lats = {d: _lat_e6(d) for d in nchars}
    s = BM25Searcher(spark, geo_index)
    matched = sorted(_matched(oracle_tiny, "the data"))
    # pair (n_chars, n_chars) is degenerate (zero variance of d) → None;
    # pair (n_chars, lat_e6/1000-ish) varies — use two real fields
    got = match_agg_t_test_paired(s, "the data", "n_chars", "lat_e6")
    diffs = [nchars[d] - lats[d] for d in matched]
    n = len(diffs)
    mean = sum(diffs) / n
    var = sum((x - mean) ** 2 for x in diffs) / (n - 1)
    t = mean / math.sqrt(var / n)
    want = (1 if t > 0 else -1) * t * t
    assert got["n"] == n and got["sum_d"] == sum(diffs)
    assert abs(got["t2s_e6"] / 1e6 - want) < max(1e-4, abs(want) * 1e-6)
    assert match_agg_t_test_paired(
        s, "the data", "n_chars", "lat_e6", distributed=True
    ) == got
    # identical fields → zero variance of d → no statistic
    degen = match_agg_t_test_paired(s, "the data", "n_chars", "n_chars")
    assert degen["t2s_e6"] is None and degen["sum_d"] == 0


def test_geo_distance_search(spark, geo_index, oracle_tiny, tiny_pages_pd):
    from data_prepper_spark.index.geo import search_geo_distance

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    coords = {d: (_lat_e6(d), _lon_e6(d)) for d in docs}
    s = BM25Searcher(spark, geo_index)
    matched = _matched(oracle_tiny, "the data")

    center = (12_000_000, 34_000_000)
    radius = 6_000_000.0  # ~6000 km of a hash-uniform globe
    want = []
    for d in matched:
        dist = _hav_m(*coords[d], *center)
        if dist <= radius + 1e-3:
            want.append((d, dist))
    want.sort(key=lambda t: (round(t[1], 4), t[0]))
    got = search_geo_distance(
        s, "the data", "lat_e6", "lon_e6", *center, radius, k=15)
    assert len(got) == min(15, len(want))
    assert [d for d, _ in got] == [d for d, _ in want[:15]]
    np.testing.assert_allclose(
        [v for _, v in got], [v for _, v in want[:15]], rtol=1e-9)
    dst = search_geo_distance(
        s, "the data", "lat_e6", "lon_e6", *center, radius, k=15,
        distributed=True)
    assert dst == got
    # tiny radius → empty
    assert search_geo_distance(
        s, "the data", "lat_e6", "lon_e6", *center, 0.5, k=5) == []


def test_geo_bbox(spark, geo_index, oracle_tiny, tiny_pages_pd):
    from data_prepper_spark.index.geo import search_geo_bbox

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    coords = {d: (_lat_e6(d), _lon_e6(d)) for d in docs}
    s = BM25Searcher(spark, geo_index)
    box = (-45_000_000, -120_000_000, 60_000_000, 150_000_000)
    allowed = {
        d for d, (la, lo) in coords.items()
        if box[0] <= la <= box[2] and box[1] <= lo <= box[3]
    }
    want = _bm25_oracle(oracle_tiny, "the data", allowed)
    got = search_geo_bbox(s, "the data", "lat_e6", "lon_e6", *box, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    dst = search_geo_bbox(
        s, "the data", "lat_e6", "lon_e6", *box, k=10, distributed=True)
    assert [d for d, _ in dst] == [d for d, _ in want]


def test_geo_bounds_and_centroid(spark, geo_index, oracle_tiny,
                                 tiny_pages_pd):
    from data_prepper_spark.index.geo import (
        match_agg_geo_bounds,
        match_agg_geo_centroid,
    )

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    coords = {d: (_lat_e6(d), _lon_e6(d)) for d in docs}
    s = BM25Searcher(spark, geo_index)
    matched = _matched(oracle_tiny, "the data")
    las = [coords[d][0] for d in matched]
    los = [coords[d][1] for d in matched]

    got_b = match_agg_geo_bounds(s, "the data", "lat_e6", "lon_e6")
    assert got_b == {
        "n": len(las), "min_lat_e6": min(las), "max_lat_e6": max(las),
        "min_lon_e6": min(los), "max_lon_e6": max(los),
    }
    assert match_agg_geo_bounds(
        s, "the data", "lat_e6", "lon_e6", distributed=True) == got_b

    got_c = match_agg_geo_centroid(s, "the data", "lat_e6", "lon_e6")
    n = len(las)

    def tdiv(a, b):  # truncate toward zero, DuckDB's // on signed
        q = abs(a) // b
        return q if a >= 0 else -q

    assert got_c == {"n": n, "lat_e6": tdiv(sum(las), n),
                     "lon_e6": tdiv(sum(los), n)}
    assert match_agg_geo_centroid(
        s, "the data", "lat_e6", "lon_e6", distributed=True) == got_c


def test_geo_distance_agg_and_geotile(spark, geo_index, oracle_tiny,
                                      tiny_pages_pd):
    from data_prepper_spark.index.geo import (
        match_agg_geo_distance,
        match_agg_geotile,
    )

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    coords = {d: (_lat_e6(d), _lon_e6(d)) for d in docs}
    s = BM25Searcher(spark, geo_index)
    matched = _matched(oracle_tiny, "the data")
    center = (0, 0)
    rings = [("near", None, 5_000_000), ("mid", 5_000_000, 12_000_000),
             ("far", 12_000_000, None), ("all", None, None),
             ("none", 30_000_000, None)]

    want = {lbl: 0 for lbl, _, _ in rings}
    for d in matched:
        dist = round(_hav_m(*coords[d], *center), 4)
        for lbl, lo, hi in rings:
            if (lo is None or dist >= lo) and (hi is None or dist < hi):
                want[lbl] += 1
    got = match_agg_geo_distance(
        s, "the data", "lat_e6", "lon_e6", *center, rings)
    assert got == [(lbl, want[lbl]) for lbl, _, _ in rings]
    assert match_agg_geo_distance(
        s, "the data", "lat_e6", "lon_e6", *center, rings,
        distributed=True) == got

    zoom = 3
    n_t = 1 << zoom
    want_tiles = {}
    for d in matched:
        la, lo = coords[d]
        x = (lo + 180_000_000) * n_t // 360_000_000
        x = min(max(x, 0), n_t - 1)
        lat = min(max(la / 1e6, -85.05112878), 85.05112878)
        r = math.radians(lat)
        merc = math.log(math.tan(r) + 1.0 / math.cos(r))
        y = math.floor((1.0 - merc / math.pi) / 2.0 * n_t)
        y = min(max(y, 0), n_t - 1)
        key = f"{zoom}/{x}/{y}"
        want_tiles[key] = want_tiles.get(key, 0) + 1
    got_t = match_agg_geotile(s, "the data", "lat_e6", "lon_e6", zoom)
    assert got_t == sorted(want_tiles.items())
    assert match_agg_geotile(
        s, "the data", "lat_e6", "lon_e6", zoom, distributed=True
    ) == got_t


@pytest.fixture(scope="session")
def geo_family_root(spark, tiny_corpus_path, workdir):
    """Time-partitioned family over the SAME docs/docvalues as
    geo_index — the cross-period folds must equal the single index."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.family import build_family

    root = os.path.join(workdir, "index_geo_family")
    h = F.xxhash64(F.col("url"))
    pages = (
        spark.read.parquet(tiny_corpus_path)
        .withColumn("n_chars", F.length("text"))
        .withColumn("lat_e6",
                    (F.pmod(h, F.lit(LAT_MOD)) - 90_000_000).cast("long"))
        .withColumn("lon_e6",
                    (F.pmod(h, F.lit(LON_MOD)) - 180_000_000).cast("long"))
        .withColumn("ip_int", h.bitwiseAND(F.lit(IP_MASK)))
    )
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
    build_family(
        spark, pages, root, cfg, ts_col="warc_ts", pattern="mm",
        mode="pages",
        field_cols=("lang", "n_chars", "lat_e6", "lon_e6", "ip_int"),
    )
    return root


def test_family_geo_ip_folds(spark, geo_index, geo_family_root):
    """Cross-period geo/ip/paired-t folds over ALL periods == the
    single-index aggregations over the same docs."""
    from data_prepper_spark.index.family import FamilySearcher
    from data_prepper_spark.index.filtered import (
        match_agg_ip_range,
        match_agg_t_test_paired,
    )
    from data_prepper_spark.index.geo import (
        match_agg_geo_bounds,
        match_agg_geo_centroid,
        match_agg_geo_distance,
    )

    s1 = BM25Searcher(spark, geo_index)
    fs = FamilySearcher(spark, geo_family_root)
    rings = [("near", None, 5_000_000.0), ("mid", 5_000_000.0, 12_000_000.0),
             ("far", 12_000_000.0, None)]
    cidrs = ["0.0.0.0/1", "128.0.0.0/2", "10.0.0.0/8"]
    for qtext in ("the data", "spark index"):
        assert fs.agg_geo_bounds(qtext, "lat_e6", "lon_e6") == (
            match_agg_geo_bounds(s1, qtext, "lat_e6", "lon_e6")
        )
        assert fs.agg_geo_centroid(qtext, "lat_e6", "lon_e6") == (
            match_agg_geo_centroid(s1, qtext, "lat_e6", "lon_e6")
        )
        assert fs.agg_geo_distance(
            qtext, "lat_e6", "lon_e6", 0, 0, rings
        ) == match_agg_geo_distance(
            s1, qtext, "lat_e6", "lon_e6", 0, 0, rings
        )
        assert fs.agg_ip_range(qtext, "ip_int", cidrs) == (
            match_agg_ip_range(s1, qtext, "ip_int", cidrs)
        )
        assert fs.agg_t_test_paired(qtext, "n_chars", "lat_e6") == (
            match_agg_t_test_paired(s1, qtext, "n_chars", "lat_e6")
        )


def test_has_child_has_parent(spark, geo_index, oracle_tiny,
                              tiny_pages_pd):
    """Join-field queries (score_mode=none): has_child (parents with
    >= min_children matching children) and has_parent (children whose
    parent matches) vs a brute python oracle over the recomputable
    parent relation."""
    from data_prepper_spark.index.filtered import (
        search_has_child,
        search_has_parent,
    )

    docs = [xxh64_signed(r.url)
            for r in tiny_pages_pd.itertuples(index=False)]
    parent = {}
    by_grp = {}
    for d in docs:
        by_grp.setdefault(d % 37, []).append(d)
    for g, members in by_grp.items():
        p = min(members)
        for d in members:
            parent[d] = p
    live = set(oracle_tiny.doc_len)
    s = BM25Searcher(spark, geo_index)

    # has_child: parents of >=2 matching children, parent must be live
    matched = _matched(oracle_tiny, "the data")
    counts = {}
    for d in matched:
        counts[parent[d]] = counts.get(parent[d], 0) + 1
    want_hc = sorted(
        (p, n) for p, n in counts.items() if n >= 2 and p in live
    )[:10]
    got = search_has_child(s, "the data", "parent_id", k=10,
                           min_children=2)
    assert got == want_hc
    assert search_has_child(
        s, "the data", "parent_id", k=10, min_children=2,
        distributed=True,
    ) == want_hc
    # min_children=1 supersets min_children=2's parents
    loose = search_has_child(s, "the data", "parent_id", k=10**6,
                             min_children=1)
    assert {p for p, _ in want_hc} <= {p for p, _ in loose}

    # has_parent: children whose parent matches "spark index"
    pmatch = _matched(oracle_tiny, "spark index")
    want_hp = sorted(
        (d, parent[d]) for d in live if parent[d] in pmatch
    )[:15]
    got_hp = search_has_parent(s, "spark index", "parent_id", k=15)
    assert got_hp == want_hp
    assert search_has_parent(
        s, "spark index", "parent_id", k=15, distributed=True
    ) == want_hp
    assert search_has_child(s, "zzznotaterm", "parent_id") == []
    assert search_has_parent(s, "zzznotaterm", "parent_id") == []


def test_has_child_scored(spark, geo_index, oracle_tiny, tiny_pages_pd):
    """has_child score_mode sum/avg/max/min: parents ranked by the fold
    of their matching children's FULL BM25 scores, driver ==
    distributed == brute python oracle (index/filtered.py
    search_has_child_scored)."""
    from data_prepper_spark.index.filtered import search_has_child_scored

    docs = [xxh64_signed(r.url)
            for r in tiny_pages_pd.itertuples(index=False)]
    parent = {}
    by_grp = {}
    for d in docs:
        by_grp.setdefault(d % 37, []).append(d)
    for g, members in by_grp.items():
        p = min(members)
        for d in members:
            parent[d] = p
    live = set(oracle_tiny.doc_len)
    s = BM25Searcher(spark, geo_index)

    for qtext in ("the data", "spark index"):
        base = dict(oracle_tiny.topk(qtext, 10**9))
        groups = {}
        for d, sc in base.items():
            groups.setdefault(parent[d], []).append(sc)
        for mode, fold in [
            ("sum", sum),
            ("avg", lambda v: sum(v) / len(v)),
            ("max", max),
            ("min", min),
        ]:
            for mc in (1, 2):
                want = sorted(
                    ((p, fold(v)) for p, v in groups.items()
                     if len(v) >= mc and p in live),
                    key=lambda kv: (-round(kv[1], 4), kv[0]),
                )[:10]
                got = search_has_child_scored(
                    s, qtext, "parent_id", k=10, score_mode=mode,
                    min_children=mc)
                assert [p for p, _ in got] == [p for p, _ in want], (
                    mode, mc, qtext)
                for (p1, s1), (p2, s2) in zip(got, want):
                    assert abs(s1 - s2) < 1e-9, (mode, mc, qtext)
                dst = search_has_child_scored(
                    s, qtext, "parent_id", k=10, score_mode=mode,
                    min_children=mc, distributed=True)
                assert [p for p, _ in dst] == [p for p, _ in got], (
                    mode, mc, qtext)
    import pytest as _pt

    with _pt.raises(ValueError):
        search_has_child_scored(s, "the", "parent_id", score_mode="nope")
    assert search_has_child_scored(s, "zzznotaterm", "parent_id") == []


def _py_geohash(lat_e6: int, lon_e6: int, precision: int) -> str:
    """Classic bit-by-bit geohash (interval halving) — the textbook
    algorithm, independent of the engine's integer formulation."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat, lon = lat_e6 / 1e6, lon_e6 / 1e6
    lat_i, lon_i = [-90.0, 90.0], [-180.0, 180.0]
    bits, even = [], True
    while len(bits) < 5 * precision:
        iv, v = (lon_i, lon) if even else (lat_i, lat)
        mid = (iv[0] + iv[1]) / 2
        if v >= mid:
            bits.append(1)
            iv[0] = mid
        else:
            bits.append(0)
            iv[1] = mid
        even = not even
    out = ""
    for c in range(precision):
        val = 0
        for b in bits[5 * c:5 * c + 5]:
            val = (val << 1) | b
        out += b32[val]
    return out


def test_geohash_cells_vectors():
    """geohash encoding vs canonical vectors AND the textbook interval-
    halving algorithm over adversarial grid points (index/geo.py
    geohash_cells)."""
    import numpy as np

    from data_prepper_spark.index.geo import geohash_cells

    assert geohash_cells(
        np.array([57_649_110]), np.array([10_407_440]), 5)[0] == "u4pru"
    assert geohash_cells(
        np.array([42_600_000]), np.array([-5_600_000]), 5)[0] == "ezs42"
    # top-edge clamp
    assert geohash_cells(
        np.array([90_000_000]), np.array([180_000_000]), 4)[0] == "zzzz"
    rng = __import__("random").Random(3)
    pts = [(rng.randint(-90_000_000, 90_000_000),
            rng.randint(-180_000_000, 179_999_999)) for _ in range(300)]
    for p in (1, 3, 5):
        got = geohash_cells(
            np.array([la for la, _ in pts]),
            np.array([lo for _, lo in pts]), p)
        for (la, lo), g in zip(pts, got):
            assert g == _py_geohash(la, lo, p), (la, lo, p)


def test_agg_geohash(spark, geo_index, oracle_tiny, tiny_pages_pd,
                     geo_family_root):
    """geohash_grid aggregation: driver == distributed == python
    oracle; the family fold equals the single index."""
    from data_prepper_spark.index.family import FamilySearcher
    from data_prepper_spark.index.geo import match_agg_geohash

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    coords = {d: (_lat_e6(d), _lon_e6(d)) for d in docs}
    s = BM25Searcher(spark, geo_index)
    fs = FamilySearcher(spark, geo_family_root)
    for qtext in ("the data", "spark index"):
        matched = _matched(oracle_tiny, qtext)
        for prec in (2, 4):
            want = {}
            for d in matched:
                cell = _py_geohash(*coords[d], prec)
                want[cell] = want.get(cell, 0) + 1
            got = match_agg_geohash(
                s, qtext, "lat_e6", "lon_e6", prec)
            assert got == sorted(want.items()), (qtext, prec)
            assert match_agg_geohash(
                s, qtext, "lat_e6", "lon_e6", prec, distributed=True
            ) == got
            assert fs.agg_geohash(
                qtext, "lat_e6", "lon_e6", prec) == got
    import pytest as _pt

    with _pt.raises(ValueError):
        match_agg_geohash(s, "the", "lat_e6", "lon_e6", 9)


def test_family_geotile_fold(spark, geo_index, geo_family_root):
    from data_prepper_spark.index.family import FamilySearcher
    from data_prepper_spark.index.geo import match_agg_geotile

    s = BM25Searcher(spark, geo_index)
    fs = FamilySearcher(spark, geo_family_root)
    for qtext in ("the data", "spark index"):
        assert fs.agg_geotile(qtext, "lat_e6", "lon_e6", 3) == (
            match_agg_geotile(s, qtext, "lat_e6", "lon_e6", 3))


def test_agg_ip_prefix(spark, geo_index, oracle_tiny, tiny_pages_pd,
                       geo_family_root):
    """ip_prefix aggregation: /n network buckets vs a python mask
    oracle; driver == distributed; min_doc_count drops; family fold ==
    single index (index/filtered.py match_agg_ip_prefix)."""
    from data_prepper_spark.index.family import FamilySearcher
    from data_prepper_spark.index.filtered import match_agg_ip_prefix

    docs = [xxh64_signed(r.url) for r in tiny_pages_pd.itertuples(index=False)]
    ips = {d: _ip_int(d) for d in docs}
    s = BM25Searcher(spark, geo_index)
    fs = FamilySearcher(spark, geo_family_root)
    for qtext in ("the data", "spark index"):
        matched = _matched(oracle_tiny, qtext)
        for plen in (2, 8, 20):
            shift = 32 - plen
            want = {}
            for d in matched:
                net = (ips[d] >> shift) << shift
                key = (f"{net >> 24 & 255}.{net >> 16 & 255}"
                       f".{net >> 8 & 255}.{net & 255}/{plen}")
                want[key] = want.get(key, 0) + 1
            want_rows = sorted(
                want.items(),
                key=lambda kv: int(
                    kv[0].split("/")[0].split(".")[0]) * 2**24
                + int(kv[0].split("/")[0].split(".")[1]) * 2**16
                + int(kv[0].split("/")[0].split(".")[2]) * 2**8
                + int(kv[0].split("/")[0].split(".")[3]),
            )
            got = match_agg_ip_prefix(s, qtext, "ip_int", plen)
            assert got == want_rows, (qtext, plen)
            assert match_agg_ip_prefix(
                s, qtext, "ip_int", plen, distributed=True) == got
            assert fs.agg_ip_prefix(qtext, "ip_int", plen) == got
    # min_doc_count prunes singletons
    loose = match_agg_ip_prefix(s, "the data", "ip_int", 20)
    tight = match_agg_ip_prefix(s, "the data", "ip_int", 20,
                                min_doc_count=2)
    assert set(tight) == {(k, n) for k, n in loose if n >= 2}
    import pytest as _pt

    with _pt.raises(ValueError):
        match_agg_ip_prefix(s, "the", "ip_int", 40)


@pytest.fixture(scope="module")
def geo_index_tomb(geo_index, oracle_tiny, workdir):
    """geo_index with every fourth doc matching "the data" tombstoned."""
    import shutil

    from data_prepper_spark.index.deletes import delete_docs

    d = os.path.join(workdir, "index_geo_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(geo_index, d)
    deleted = sorted(_matched(oracle_tiny, "the data"))[::4]
    delete_docs(d, deleted)
    return d, set(deleted)


def _geo_entries():
    from data_prepper_spark.index import filtered as fl
    from data_prepper_spark.index import geo

    q = "the data"
    flt = [("n_chars", "<", 600)]
    c = (10_000_000, 20_000_000)
    return [
        ("geo_distance", lambda s, d: geo.search_geo_distance(
            s, q, "lat_e6", "lon_e6", *c, 9_000_000.0, 10, flt, d)),
        ("geo_bounds", lambda s, d: geo.match_agg_geo_bounds(
            s, q, "lat_e6", "lon_e6", flt, d)),
        ("geo_centroid", lambda s, d: geo.match_agg_geo_centroid(
            s, q, "lat_e6", "lon_e6", flt, d)),
        ("geo_distance_agg", lambda s, d: geo.match_agg_geo_distance(
            s, q, "lat_e6", "lon_e6", *c,
            [("near", None, 5_000_000.0), ("far", 3_000_000.0, None)],
            flt, d)),
        ("geotile", lambda s, d: geo.match_agg_geotile(
            s, q, "lat_e6", "lon_e6", 2, flt, d)),
        ("geohash", lambda s, d: geo.match_agg_geohash(
            s, q, "lat_e6", "lon_e6", 1, flt, d)),
        ("ip_range", lambda s, d: fl.match_agg_ip_range(
            s, q, "ip_int", ["0.0.0.0/1", "128.0.0.0/1"], flt, d)),
        ("ip_prefix", lambda s, d: fl.match_agg_ip_prefix(
            s, q, "ip_int", 2, flt, d)),
        ("has_child", lambda s, d: fl.search_has_child(
            s, q, "parent_id", 10, filters=flt, distributed=d)),
        ("has_parent", lambda s, d: fl.search_has_parent(
            s, q, "parent_id", 10, flt, d)),
    ]


@pytest.mark.parametrize("name", [n for n, _ in _geo_entries()])
def test_geo_match_set_entry_tombstoned(spark, geo_index_tomb, name):
    """Every geo / ip / join match-set reader on a tombstoned index:
    driver == distributed, and no deleted doc is listed."""
    d, deleted = geo_index_tomb
    fn = dict(_geo_entries())[name]
    s = BM25Searcher(spark, d)
    got = fn(s, False)
    assert got == fn(s, True)
    if name in ("geo_distance", "has_parent"):
        assert got and not {doc for doc, _ in got} & deleted
