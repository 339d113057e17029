"""spark-submit entry point for the index engine (north-rule deployment
path: ``spark-submit --py-files dps.zip submit_main.py <cmd> ...``).

Commands:
  build   — resumable index build (ledger checkpointing; rerun after a
            crash skips completed bucket groups)
  query   — BM25 top-k for one query string or a file of queries
  bench   — timed one-shot build (prints docs/sec JSON)
  stream  — live index: tail/drain a parquet dir of pages, per-batch
            delta build + segment merge + atomic CURRENT pointer swap
  merge   — merge built indexes (disjoint doc-id spaces) into one:
            posting-row union + exact block-bound recompute, resumable
  publish — push built index segments to the warehouse: Iceberg tables
            (partition-aware appends) when the runtime jar is present,
            layout-identical hive-partitioned parquet otherwise

Examples:
  spark-submit submit_main.py build \
      --input /data/webtext --index-dir /data/index \
      --buckets 4096 --range-bits 16 --bucket-groups 64
  spark-submit submit_main.py query --index-dir /data/index \
      --q "spark shuffle partitioning" --k 10

Packaging: ``zip -r dps.zip data_prepper_spark`` then pass
``--py-files dps.zip`` so executors can import the package.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(app: str, iceberg_catalog: str | None = None, warehouse: str | None = None):
    from data_prepper_spark.envtune import apply_malloc_tuning

    apply_malloc_tuning()
    from pyspark.sql import SparkSession

    # cluster managers/config come from spark-submit; only engine-required
    # settings are pinned here
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if iceberg_catalog and warehouse:
        from data_prepper_spark.tables import iceberg_builder_config

        builder = iceberg_builder_config(builder, iceberg_catalog, warehouse)
    return builder.getOrCreate()


def cmd_build(args) -> None:
    from data_prepper_spark.index.build import build_index
    from data_prepper_spark.index.config import IndexConfig

    spark = _spark("dps-index-build")
    cfg = IndexConfig(
        k1=args.k1, b=args.b, lang=args.lang,
        range_bits=args.range_bits, block_size=args.block_size,
        n_buckets=args.buckets, codec=args.codec,
        positions=args.positions,
    )
    pages = spark.read.parquet(args.input)
    t0 = time.perf_counter()
    stats = build_index(
        spark, pages, args.index_dir, cfg,
        src_tag=args.input, bucket_groups=args.bucket_groups,
        field_cols=tuple(
            c for c in (args.field_cols or "").split(",") if c
        ),
    )
    dt = time.perf_counter() - t0
    print(json.dumps({"built": args.index_dir, "seconds": round(dt, 1),
                      "docs_per_sec": round(stats["n_docs"] / dt, 1), **stats}))
    spark.stop()


def _parse_bool_query(q: str):
    """Lucene classic mini-syntax: `+term` must, `-term` must_not, bare
    should; `term^2.5` sets a clause boost."""
    must, should, must_not, boosts = [], [], [], {}
    for tok in q.split():
        dest = should
        if tok.startswith("+"):
            dest, tok = must, tok[1:]
        elif tok.startswith("-"):
            dest, tok = must_not, tok[1:]
        if "^" in tok:
            tok, _, b = tok.partition("^")
            boosts[tok] = float(b)
        dest.append(tok)
    return must, should, must_not, boosts


def _parse_filter(spec: str):
    """`col:op:value` → filter triple; value coerced int → float → ISO
    datetime → string."""
    col, op, raw = spec.split(":", 2)
    for conv in (int, float):
        try:
            return (col, op, conv(raw))
        except ValueError:
            pass
    try:
        import datetime as _dt

        return (col, op, _dt.datetime.fromisoformat(raw))
    except ValueError:
        return (col, op, raw)


def _read_source(spark, path: str):
    """Read a _source table for fetch-time surfaces (highlight,
    significant-text).  A raw corpus without a doc_id column gets one
    derived from url (the engine's doc_id convention: xxhash64(url))."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(path)
    if "doc_id" not in src.columns:
        if "url" not in src.columns:
            raise SystemExit(
                f"{path} has neither doc_id nor url — cannot join hits"
            )
        src = src.withColumn("doc_id", F.xxhash64("url"))
    return src


def cmd_query(args) -> None:
    from data_prepper_spark.index.query import BM25Searcher

    from data_prepper_spark.index.live import resolve_current

    spark = _spark("dps-bm25-query")
    s = BM25Searcher(spark, resolve_current(args.index_dir))
    mode = "phrase" if args.phrase else args.mode
    filters = [_parse_filter(f) for f in (args.filter or [])]
    queries = [args.q] if args.q else (
        [l.strip() for l in open(args.qfile) if l.strip()] if args.qfile else [""]
    )
    for q in queries:
        t0 = time.perf_counter()
        if mode == "phrase":
            from data_prepper_spark.index.phrase import phrase_topk

            hits = phrase_topk(s, q, k=args.k, distributed=args.distributed)
        elif mode == "bool":
            from data_prepper_spark.index.boolquery import search_bool

            must, should, must_not, boosts = _parse_bool_query(q)
            hits = search_bool(
                s, must=must, should=should, must_not=must_not, k=args.k,
                distributed=args.distributed, boosts=boosts or None,
                minimum_should_match=args.min_should_match,
            )
        elif mode == "fuzzy":
            from data_prepper_spark.index.boolquery import search_fuzzy

            hits = search_fuzzy(
                s, q, k=args.k, max_edits=args.max_edits,
                prefix_len=args.prefix_len, distributed=args.distributed,
                transpositions=args.transpositions,
            )
        elif mode == "wildcard":
            from data_prepper_spark.index.boolquery import search_wildcard

            hits = search_wildcard(s, q, k=args.k, distributed=args.distributed)
        elif mode == "regexp":
            from data_prepper_spark.index.boolquery import search_regexp

            hits = search_regexp(s, q, k=args.k, distributed=args.distributed)
        elif mode == "termrange":
            from data_prepper_spark.index.boolquery import search_term_range

            hits = search_term_range(
                s, args.lower, args.upper, k=args.k,
                include_lower=not args.exclude_lower,
                include_upper=args.include_upper,
                distributed=args.distributed,
            )
        elif mode == "dismax":
            from data_prepper_spark.index.fields import search_dismax

            fq = dict(kv.split("=", 1) for kv in args.fq)
            hits = search_dismax(
                s, fq, k=args.k, tie_breaker=args.tie_breaker,
                distributed=args.distributed,
            )
        elif mode == "agg-terms":
            from data_prepper_spark.index.filtered import match_agg_terms

            buckets = match_agg_terms(
                s, q, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "terms",
                              "field": args.agg_field,
                              "buckets": [[str(v), n] for v, n in buckets]}))
            continue
        elif mode == "agg-histogram":
            from data_prepper_spark.index.filtered import match_agg_histogram

            buckets = match_agg_histogram(
                s, q, args.agg_field, args.width, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "histogram",
                              "field": args.agg_field, "width": args.width,
                              "buckets": buckets}))
            continue
        elif mode == "agg-stats":
            from data_prepper_spark.index.filtered import match_agg_stats

            st = match_agg_stats(s, q, args.agg_field, filters=filters,
                                 distributed=args.distributed)
            print(json.dumps({"query": q, "agg": "stats",
                              "field": args.agg_field, "stats": st},
                             default=str))
            continue
        elif mode == "agg-percentiles":
            from data_prepper_spark.index.filtered import (
                match_agg_percentiles,
            )

            pcts = [float(x) for x in args.percents.split(",")]
            out = match_agg_percentiles(
                s, q, args.agg_field, pcts, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "percentiles",
                              "field": args.agg_field,
                              "values": out}, default=str))
            continue
        elif mode == "agg-cardinality":
            from data_prepper_spark.index.filtered import (
                match_agg_cardinality,
            )

            n = match_agg_cardinality(s, q, args.agg_field, filters=filters,
                                      distributed=args.distributed)
            print(json.dumps({"query": q, "agg": "cardinality",
                              "field": args.agg_field, "n_distinct": n}))
            continue
        elif mode == "agg-top-hits":
            from data_prepper_spark.index.filtered import match_agg_top_hits

            out = match_agg_top_hits(
                s, q, args.key_field, args.sort_field, k=args.k,
                ascending=args.asc, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "top_hits",
                              "rows": out}, default=str))
            continue
        elif mode == "agg-significant":
            from data_prepper_spark.index.filtered import (
                match_agg_significant_terms,
            )

            out = match_agg_significant_terms(
                s, q, args.agg_field, k=args.k, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "significant_terms",
                              "rows": [[str(b), sc, fg, bg]
                                       for b, sc, fg, bg in out]}))
            continue
        elif mode == "suggest":
            from data_prepper_spark.index.boolquery import suggest_terms

            out = suggest_terms(s, q, max_edits=args.max_edits, k=args.k,
                                mode=args.suggest_mode)
            print(json.dumps({"text": q, "suggestions": out}))
            continue
        elif mode == "query-string":
            from data_prepper_spark.index.querystring import (
                search_query_string,
            )

            hits = search_query_string(
                s, q, k=args.k, distributed=args.distributed,
                minimum_should_match=args.min_should_match,
            )
        elif mode == "terms-set":
            from data_prepper_spark.index.filtered import search_terms_set

            hits = search_terms_set(
                s, q.split(), msm_field=args.msm_field, k=args.k,
                filters=filters, distributed=args.distributed,
            )
        elif mode == "phrase-prefix":
            from data_prepper_spark.index.phrase import phrase_prefix_topk

            hits = phrase_prefix_topk(
                s, q, k=args.k, distributed=args.distributed
            )
        elif mode == "span-first":
            from data_prepper_spark.index.phrase import span_first_topk

            hits = span_first_topk(
                s, q, end=args.span_end, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "span-near":
            from data_prepper_spark.index.phrase import span_near_topk

            ta, tb = q.split()
            hits = span_near_topk(
                s, ta, tb, slop=args.slop, k=args.k,
                distributed=args.distributed, in_order=args.in_order,
            )
        elif mode == "span-not":
            from data_prepper_spark.index.phrase import span_not_topk

            ta, tb = q.split()
            hits = span_not_topk(
                s, ta, tb, slop=args.slop, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "span-or":
            from data_prepper_spark.index.phrase import span_or_topk

            hits = span_or_topk(
                s, q.split(), k=args.k, distributed=args.distributed,
            )
        elif mode == "span-containing":
            from data_prepper_spark.index.phrase import span_containing_topk

            ta, tb, tc = q.split()
            hits = span_containing_topk(
                s, ta, tb, tc, slop=args.slop, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "span-within":
            from data_prepper_spark.index.phrase import span_within_topk

            ta, tb, tc = q.split()
            hits = span_within_topk(
                s, ta, tb, tc, slop=args.slop, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "term-vectors":
            from data_prepper_spark.index.highlight import term_vectors

            src = _read_source(spark, args.highlight_source)
            tv = term_vectors(s, src, [int(x) for x in q.split()])
            print(json.dumps({"doc_ids": q, "vectors": [
                {"doc_id": d, "term": t, "tf": tf, "first_pos": fp,
                 "df": dfv} for d, t, tf, fp, dfv in tv
            ]}))
            continue
        elif mode == "simple-query-string":
            from data_prepper_spark.index.querystring import (
                search_simple_query_string,
            )

            hits = search_simple_query_string(
                s, q, k=args.k, distributed=args.distributed,
            )
        elif mode == "search":
            from data_prepper_spark.index.dsl import search_dsl

            hits = search_dsl(
                s, json.loads(q), distributed=args.distributed,
            )
        elif mode == "rank-feature":
            from data_prepper_spark.index.filtered import search_rank_feature

            hits = search_rank_feature(
                s, q, args.agg_field or "n_chars",
                json.loads(args.shape), k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "script-score":
            from data_prepper_spark.index.filtered import search_script_score

            hits = search_script_score(
                s, q, args.script, k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "intervals":
            from data_prepper_spark.index.phrase import intervals_topk

            hits = intervals_topk(
                s, json.loads(q), k=args.k, distributed=args.distributed,
            )
        elif mode == "has-child-scored":
            from data_prepper_spark.index.filtered import (
                search_has_child_scored,
            )

            hits = search_has_child_scored(
                s, q, args.parent_field, k=args.k,
                score_mode=args.score_mode,
                min_children=args.min_children, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "agg-geohash":
            from data_prepper_spark.index.geo import match_agg_geohash

            out = match_agg_geohash(
                s, q, args.lat_field, args.lon_field, args.precision,
                filters=filters, distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "geohash_grid",
                              "precision": args.precision,
                              "buckets": out}))
            continue
        elif mode == "agg-ip-prefix":
            from data_prepper_spark.index.filtered import (
                match_agg_ip_prefix,
            )

            out = match_agg_ip_prefix(
                s, q, args.agg_field or "ip_int", args.prefix_length,
                filters=filters, distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "ip_prefix",
                              "prefix_length": args.prefix_length,
                              "buckets": out}))
            continue
        elif mode == "span-multi":
            from data_prepper_spark.index.phrase import span_multi_near_topk

            prefix_a, tb = q.split()
            hits = span_multi_near_topk(
                s, prefix_a, tb, slop=args.slop, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "distance-feature":
            import datetime as _dt

            from data_prepper_spark.index.filtered import (
                search_distance_feature,
            )

            try:
                origin = float(args.origin)
                pivot = float(args.pivot)
            except ValueError:
                origin = _dt.datetime.fromisoformat(args.origin)
                pivot = _dt.timedelta(seconds=float(args.pivot))
            hits = search_distance_feature(
                s, q, args.agg_field, origin, pivot, boost=args.boost,
                k=args.k, filters=filters, distributed=args.distributed,
            )
        elif mode == "random-score":
            from data_prepper_spark.index.filtered import search_random_score

            hits = search_random_score(
                s, q, args.seed, k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "pinned":
            from data_prepper_spark.index.filtered import search_pinned

            ranked = search_pinned(
                s, q, [int(x) for x in args.pinned_ids.split(",")],
                k=args.k,
            )
            print(json.dumps({"query": q, "pinned": args.pinned_ids,
                              "ranks": ranked}))
            continue
        elif mode == "match-bool-prefix":
            from data_prepper_spark.index.boolquery import (
                search_match_bool_prefix,
            )

            hits = search_match_bool_prefix(
                s, q, k=args.k, distributed=args.distributed,
            )
        elif mode == "constant-score":
            from data_prepper_spark.index.filtered import search_constant_score

            hits = search_constant_score(
                s, q, filters=filters, boost=args.boost, k=args.k,
                distributed=args.distributed,
            )
        elif mode == "ids":
            from data_prepper_spark.index.filtered import search_ids

            hits = search_ids(s, [int(x) for x in q.split()], k=args.k)
        elif mode == "suggest-completion":
            from data_prepper_spark.index.boolquery import suggest_completion

            out = suggest_completion(s, q, k=args.k)
            print(json.dumps({"prefix": q, "completions": out}))
            continue
        elif mode == "has-child":
            from data_prepper_spark.index.filtered import search_has_child

            hits = search_has_child(
                s, q, args.parent_field, k=args.k,
                min_children=args.min_children, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "has-parent":
            from data_prepper_spark.index.filtered import search_has_parent

            hits = search_has_parent(
                s, q, args.parent_field, k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "synonyms":
            from data_prepper_spark.index.boolquery import search_synonyms

            # groups separated by ';', members by whitespace
            groups = [grp.split() for grp in q.split(";") if grp.strip()]
            hits = search_synonyms(
                s, groups, k=args.k, distributed=args.distributed,
            )
        elif mode == "percolate":
            raise SystemExit(
                "percolate runs over a query table — use the library "
                "(data_prepper_spark.index.percolate.percolate)"
            )
        elif mode == "suggest-phrase":
            from data_prepper_spark.index.boolquery import suggest_phrase

            out = suggest_phrase(
                s, q, max_edits=args.max_edits, k=args.k,
                max_errors=args.max_errors,
            )
            print(json.dumps({"text": q, "phrases": out}))
            continue
        elif mode == "geo-distance":
            from data_prepper_spark.index.geo import search_geo_distance

            clat, clon = (int(x) for x in args.center.split(","))
            hits = search_geo_distance(
                s, q, args.lat_field, args.lon_field, clat, clon,
                args.radius, k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "geo-bbox":
            from data_prepper_spark.index.geo import search_geo_bbox

            sw_s, sw_w, ne_n, ne_e = (int(x) for x in args.box.split(","))
            hits = search_geo_bbox(
                s, q, args.lat_field, args.lon_field, sw_s, sw_w, ne_n,
                ne_e, k=args.k, filters=filters,
                distributed=args.distributed,
            )
        elif mode == "agg-geo":
            from data_prepper_spark.index.geo import (
                match_agg_geo_bounds,
                match_agg_geo_centroid,
            )

            out = {
                "bounds": match_agg_geo_bounds(
                    s, q, args.lat_field, args.lon_field, filters=filters,
                    distributed=args.distributed),
                "centroid": match_agg_geo_centroid(
                    s, q, args.lat_field, args.lon_field, filters=filters,
                    distributed=args.distributed),
            }
            print(json.dumps({"query": q, "agg": "geo_bounds+centroid",
                              "result": out}))
            continue
        elif mode == "agg-geotile":
            from data_prepper_spark.index.geo import match_agg_geotile

            out = match_agg_geotile(
                s, q, args.lat_field, args.lon_field, args.zoom,
                filters=filters, distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "geotile_grid",
                              "zoom": args.zoom, "buckets": out}))
            continue
        elif mode == "ip-cidr":
            from data_prepper_spark.index.filtered import (
                cidr_filters,
                search_filtered,
            )

            hits = search_filtered(
                s, q, filters + cidr_filters(args.agg_field or "ip_int",
                                             args.cidr),
                k=args.k, distributed=args.distributed,
            )
        elif mode == "agg-boxplot":
            from data_prepper_spark.index.filtered import match_agg_boxplot

            out = match_agg_boxplot(
                s, q, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "boxplot",
                              "field": args.agg_field, "result": out}))
            continue
        elif mode == "agg-string-stats":
            from data_prepper_spark.index.filtered import (
                match_agg_string_stats,
            )

            out = match_agg_string_stats(
                s, q, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "string_stats",
                              "field": args.agg_field, "result": out}))
            continue
        elif mode == "agg-top-metrics":
            from data_prepper_spark.index.filtered import (
                match_agg_top_metrics,
            )

            out = match_agg_top_metrics(
                s, q, args.sort_field, (args.fields or "").split(","),
                k=args.k, ascending=args.asc, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "top_metrics",
                              "rows": [[str(x) for x in r] for r in out]}))
            continue
        elif mode == "agg-sampler":
            from data_prepper_spark.index.filtered import match_agg_sampler

            out = match_agg_sampler(
                s, q, args.sample_size, args.agg_field, filters=filters,
                diversify_field=args.key_field,
                max_per_value=args.max_per_value,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "sampler",
                              "result": out}))
            continue
        elif mode == "agg-matrix-stats":
            from data_prepper_spark.index.filtered import (
                match_agg_matrix_stats,
            )

            fx, fy = args.fields.split(",")
            out = match_agg_matrix_stats(
                s, q, fx, fy, filters=filters, distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "matrix_stats",
                              "fields": [fx, fy], "result": out}))
            continue
        elif mode == "agg-mad":
            from data_prepper_spark.index.filtered import (
                match_agg_median_absolute_deviation,
            )

            out = match_agg_median_absolute_deviation(
                s, q, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "median_absolute_deviation",
                              "field": args.agg_field, "result": out}))
            continue
        elif mode == "significant-text":
            from data_prepper_spark.index.sigtext import significant_text

            if not args.highlight_source:
                raise SystemExit(
                    "--mode significant-text needs --highlight-source "
                    "(the _source table to re-tokenize the sample from)"
                )
            src = _read_source(spark, args.highlight_source)
            out = significant_text(
                s, src, q, k=args.k, sample_size=args.sample_size,
                filters=filters, text_col=args.text_col,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "significant_text",
                              "rows": out}))
            continue
        elif mode == "agg-cumulative-cardinality":
            from data_prepper_spark.index.filtered import (
                match_agg_cumulative_cardinality,
            )

            out = match_agg_cumulative_cardinality(
                s, q, args.ts_field, args.interval, args.agg_field,
                filters=filters, distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "cumulative_cardinality",
                              "field": args.agg_field,
                              "buckets": [[b, c] for b, c in out]}))
            continue
        elif mode == "agg-adjacency":
            from data_prepper_spark.index.filtered import (
                match_agg_adjacency_matrix,
            )

            named = []
            for spec in args.named_filters.split(";"):
                name, col, op, val = spec.split(":")
                v = int(val) if val.lstrip("-").isdigit() else val
                named.append((name, ((col, op, v),)))
            out = match_agg_adjacency_matrix(
                s, q, named, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "adjacency_matrix",
                              "rows": out}))
            continue
        elif mode == "collapse":
            from data_prepper_spark.index.rescore import search_collapsed

            out = search_collapsed(
                s, q, args.collapse_field, k=args.k,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "collapse": args.collapse_field,
                              "rows": [[str(key), d, sc, n]
                                       for key, d, sc, n in out]}))
            continue
        elif mode == "boosting":
            from data_prepper_spark.index.rescore import search_boosting

            hits = search_boosting(
                s, q, args.negative, negative_boost=args.negative_boost,
                k=args.k, distributed=args.distributed,
            )
        elif mode == "rescore":
            from data_prepper_spark.index.rescore import search_rescored

            out = search_rescored(
                s, q, args.rescore_q, window_size=args.window_size,
                query_weight=args.query_weight,
                rescore_weight=args.rescore_weight, k=args.k,
            )
            print(json.dumps({"query": q, "rescore": args.rescore_q,
                              "rows": out}))
            continue
        elif mode == "explain":
            from data_prepper_spark.index.rescore import explain_bm25

            top = s.search(q, k=args.k, distributed=args.distributed)
            rows = explain_bm25(s, q, [d for d, _ in top])
            print(json.dumps({"query": q, "hits": top, "explain": rows}))
            continue
        elif mode == "agg-composite":
            from data_prepper_spark.index.filtered import match_agg_composite

            sources = args.sources.split(",")
            after = tuple(args.after.split(",")) if args.after else None
            rows, after_key = match_agg_composite(
                s, q, sources, size=args.k, after=after, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "composite",
                              "sources": sources,
                              "rows": rows, "after_key": after_key},
                             default=str))
            continue
        elif mode == "agg-extended-stats":
            from data_prepper_spark.index.filtered import (
                match_agg_extended_stats,
            )

            st = match_agg_extended_stats(
                s, q, args.agg_field, filters=filters,
                distributed=args.distributed,
            )
            print(json.dumps({"query": q, "agg": "extended_stats",
                              "field": args.agg_field, "stats": st},
                             default=str))
            continue
        elif mode == "prefix":
            from data_prepper_spark.index.boolquery import search_prefix

            hits = search_prefix(s, q, k=args.k, distributed=args.distributed)
        elif mode == "fields":
            from data_prepper_spark.index.fields import search_fields

            fq = dict(kv.split("=", 1) for kv in args.fq)
            hits = search_fields(s, fq, k=args.k, distributed=args.distributed)
        elif mode == "sorted":
            from data_prepper_spark.index.filtered import search_sorted

            hits = search_sorted(
                s, q, args.sort_field, k=args.k, ascending=args.asc,
                filters=filters, distributed=args.distributed,
            )
            hits = [(d, v if isinstance(v, (int, float)) else str(v))
                    for d, v in hits]
        elif filters:
            from data_prepper_spark.index.filtered import search_filtered

            hits = search_filtered(
                s, q, filters, k=args.k, distributed=args.distributed
            )
        else:
            hits = s.search(q, k=args.k, distributed=args.distributed)
        ms = (time.perf_counter() - t0) * 1000
        urls = s.urls_for([d for d, _ in hits])
        snippets = {}
        if args.highlight_source:
            from data_prepper_spark.index.highlight import highlight_hits

            src = _read_source(spark, args.highlight_source)
            snippets = dict(highlight_hits(src, hits, q,
                                           text_col=args.text_col))
        print(json.dumps({
            "query": q, "ms": round(ms, 1),
            "hits": [
                {"rank": i + 1, "doc_id": d, "url": urls.get(d, ""),
                 "score": round(sc, 4) if isinstance(sc, float) else sc,
                 **({"snippet": snippets[d]} if d in snippets else {})}
                for i, (d, sc) in enumerate(hits)
            ],
        }))
    spark.stop()


def cmd_bench(args) -> None:
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    spark = _spark("dps-bench-build")
    pages = spark.read.parquet(args.input)
    n = pages.count()
    cfg = IndexConfig(range_bits=args.range_bits, block_size=args.block_size,
                      n_buckets=args.buckets, codec=args.codec)
    t0 = time.perf_counter()
    stats = build_oneshot(spark, pages, args.index_dir, cfg)
    dt = time.perf_counter() - t0
    print(json.dumps({"n_docs": n, "seconds": round(dt, 1),
                      "docs_per_sec": round(n / dt, 1),
                      "stage_timings": stats.get("timings")}))
    spark.stop()


def cmd_stats(args) -> None:
    """Inspect an index directory — no Spark session needed."""
    import os

    import pyarrow.dataset as pads

    from data_prepper_spark.index.live import resolve_current

    d = resolve_current(args.index_dir)
    stats = pads.dataset(os.path.join(d, "stats")).to_table().to_pylist()[0]

    def du(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    comp = {
        name: du(os.path.join(d, name))
        for name in ("postings", "termstats", "docmeta")
        if os.path.isdir(os.path.join(d, name))
    }
    # postings may nest as bgroup=G/term_bucket=B (resumable build) or
    # term_bucket=B directly — collect bucket dirs at either depth
    bdirs = []
    for root, dirs, _files in os.walk(os.path.join(d, "postings")):
        bdirs.extend(
            os.path.join(root, n) for n in dirs if n.startswith("term_bucket=")
        )
    bsizes = [du(b) for b in bdirs]
    tomb = os.path.join(d, "tombstones")
    n_deleted = 0
    if os.path.isdir(tomb):
        t = pads.dataset(tomb).to_table()
        n_deleted = t.num_rows
    versions = sorted(
        n for n in os.listdir(args.index_dir) if n.startswith("v=")
    ) if os.path.isdir(args.index_dir) else []
    out = {
        "index_dir": d,
        "n_docs": int(stats["n_docs"]),
        "total_tokens": int(stats["total_tokens"]),
        "avgdl": round(float(stats["avgdl"]), 2),
        "codec": stats.get("codec"),
        "positions": bool(stats.get("positions")),
        "fields": sorted(__import__("json").loads(stats["fields_json"]))
        if stats.get("fields_json") else None,
        "n_buckets": int(stats.get("n_buckets", 0)),
        "range_bits": int(stats.get("range_bits", 0)),
        "block_size": int(stats.get("block_size", 0)),
        "bytes": comp,
        "bytes_per_doc": round(sum(comp.values()) / max(1, int(stats["n_docs"])), 1),
        "bucket_skew": round(max(bsizes) / (sum(bsizes) / len(bsizes)), 2)
        if bsizes else None,
        "deleted_docs": n_deleted,
        "live_versions": versions or None,
    }
    print(json.dumps(out))


def cmd_publish(args) -> None:
    from data_prepper_spark.tables import publish_index

    spark = _spark(
        "dps-index-publish",
        iceberg_catalog=args.catalog if args.table_format != "parquet" else None,
        warehouse=args.warehouse,
    )
    out = publish_index(
        spark, args.index_dir, args.dest or (args.warehouse or ""),
        fmt=args.table_format, catalog=args.catalog,
    )
    print(json.dumps({"published": out, "format": args.table_format}))
    spark.stop()


def cmd_merge(args) -> None:
    from data_prepper_spark.index.merge import merge_indexes

    spark = _spark("dps-index-merge")
    t0 = time.perf_counter()
    stats = merge_indexes(spark, args.src, args.index_dir)
    dt = time.perf_counter() - t0
    print(json.dumps({"merged": args.index_dir, "sources": args.src,
                      "seconds": round(dt, 1), **stats}))
    spark.stop()


def cmd_stream(args) -> None:
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.live import (
        resolve_current,
        start_stream_family,
        start_stream_index,
    )

    spark = _spark("dps-live-index")
    cfg = IndexConfig(
        k1=args.k1, b=args.b, lang=args.lang,
        range_bits=args.range_bits, block_size=args.block_size,
        n_buckets=args.buckets, codec=args.codec,
    )
    if args.family_pattern:
        q = start_stream_family(
            spark, args.input, args.index_dir, cfg,
            checkpoint_dir=args.checkpoint,
            ts_col=args.ts_col, pattern=args.family_pattern,
            available_now=not args.follow,
            max_files_per_trigger=args.max_files_per_trigger,
            merge_every=args.merge_every,
        )
        q.awaitTermination()
        from data_prepper_spark.index.live import compact_family

        if args.merge_every > 1:
            compact_family(spark, args.index_dir)
        periods = sorted(
            d.split("=", 1)[1] for d in os.listdir(args.index_dir)
            if d.startswith("p=")
        )
        print(json.dumps({"live_family": args.index_dir, "periods": periods}))
        spark.stop()
        return
    q = start_stream_index(
        spark, args.input, args.index_dir, cfg,
        checkpoint_dir=args.checkpoint,
        available_now=not args.follow,
        max_files_per_trigger=args.max_files_per_trigger,
        merge_every=args.merge_every,
    )
    q.awaitTermination()
    if args.merge_every > 1:
        from data_prepper_spark.index.live import compact

        compact(spark, args.index_dir)
    print(json.dumps({"live_index": args.index_dir,
                      "current": resolve_current(args.index_dir)}))
    spark.stop()


def cmd_family_build(args) -> None:
    """Time-partitioned index family (opensearch sink dynamic index
    pattern %{yyyy.MM.dd}, OpenSearchSink.java:144-150)."""
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.family import build_family

    spark = _spark("dps-family-build")
    cfg = IndexConfig(
        k1=args.k1, b=args.b, lang=args.lang,
        range_bits=args.range_bits, block_size=args.block_size,
        n_buckets=args.buckets, positions=args.positions,
    )
    pages = spark.read.parquet(args.input)
    t0 = time.perf_counter()
    manifest = build_family(
        spark, pages, args.index_dir, cfg,
        ts_col=args.ts_col, pattern=args.pattern, mode="pages",
        parallelism=args.parallelism,
    )
    print(json.dumps({
        "family": args.index_dir, "periods": manifest["periods"],
        "seconds": round(time.perf_counter() - t0, 1),
    }))
    spark.stop()


def cmd_family_query(args) -> None:
    from data_prepper_spark.index.family import FamilySearcher

    spark = _spark("dps-family-query")
    fs = FamilySearcher(spark, args.index_dir)
    if args.phrase:
        hits = fs.phrase_topk(args.q, slop=args.slop, k=args.k,
                              start=args.start, end=args.end)
    else:
        hits = fs.search(args.q, k=args.k, start=args.start, end=args.end)
    print(json.dumps({
        "q": args.q, "periods": fs.covered(args.start, args.end),
        "hits": [{"doc_id": d, "score": round(s, 4)} for d, s in hits],
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(prog="submit_main.py")
    sub = ap.add_subparsers(dest="cmd", required=True)

    pb = sub.add_parser("build")
    pb.add_argument("--input", required=True)
    pb.add_argument("--index-dir", required=True)
    pb.add_argument("--buckets", type=int, default=256)
    pb.add_argument("--range-bits", type=int, default=8)
    pb.add_argument("--block-size", type=int, default=128)
    pb.add_argument("--bucket-groups", type=int, default=8)
    pb.add_argument("--lang", default="en")
    pb.add_argument("--k1", type=float, default=1.2)
    pb.add_argument("--b", type=float, default=0.75)
    pb.add_argument("--codec", choices=["varint", "pfor"], default="varint")
    pb.add_argument("--field-cols", help="comma-separated pages columns "
                    "stored as docvalues (filtered/sorted/terms-set/agg-* "
                    "query modes)")
    pb.add_argument("--positions", action="store_true",
                    help="store positional postings (enables phrase queries)")
    pb.set_defaults(fn=cmd_build)

    pq = sub.add_parser("query")
    pq.add_argument("--index-dir", required=True)
    pq.add_argument("--q")
    pq.add_argument("--qfile")
    pq.add_argument("--k", type=int, default=10)
    pq.add_argument("--distributed", action="store_true")
    pq.add_argument("--mode", default="bm25",
                    choices=["bm25", "phrase", "bool", "fuzzy", "wildcard",
                             "prefix", "regexp", "termrange", "fields",
                             "dismax", "sorted", "agg-terms",
                             "agg-histogram", "agg-stats", "agg-percentiles",
                             "agg-cardinality", "agg-top-hits",
                             "agg-significant", "suggest", "query-string",
                             "phrase-prefix", "collapse", "boosting",
                             "rescore", "explain", "agg-composite",
                             "agg-extended-stats", "terms-set",
                             "span-first", "span-near", "span-not",
                             "span-or", "span-containing", "span-within",
                             "match-bool-prefix", "constant-score", "ids",
                             "suggest-phrase", "geo-distance", "geo-bbox",
                             "agg-geo", "agg-geotile", "ip-cidr",
                             "agg-boxplot", "agg-string-stats",
                             "agg-top-metrics", "agg-sampler",
                             "has-child", "has-parent", "synonyms",
                             "suggest-completion",
                             "agg-matrix-stats", "agg-mad",
                             "agg-adjacency", "significant-text",
                             "span-multi", "distance-feature",
                             "random-score", "pinned",
                             "agg-cumulative-cardinality",
                             "simple-query-string", "term-vectors",
                             "rank-feature", "script-score", "intervals",
                             "has-child-scored", "agg-geohash",
                             "agg-ip-prefix", "search"],
                    help="bool uses Lucene classic syntax (+must -not "
                         "term^boost); query-string is the full DSL "
                         "(+/-, \"phrase\"~slop, prefix*, fuzzy~N, ^boost); "
                         "fuzzy/wildcard/prefix/regexp/"
                         "termrange expand against the term dictionary; "
                         "agg-* aggregate over the match set; suggest is "
                         "the term suggester (did-you-mean)")
    pq.add_argument("--span-end", type=int, default=5,
                    help="span-first: match within the first N positions")
    pq.add_argument("--slop", type=int, default=2,
                    help="span-near: max intervening positions, any order")
    pq.add_argument("--in-order", action="store_true",
                    help="span-near: second term must FOLLOW the first "
                    "(Lucene's span_near default)")
    pq.add_argument("--lower", help="termrange lower bound")
    pq.add_argument("--upper", help="termrange upper bound")
    pq.add_argument("--exclude-lower", action="store_true")
    pq.add_argument("--include-upper", action="store_true")
    pq.add_argument("--tie-breaker", type=float, default=0.0)
    pq.add_argument("--agg-field", help="docvalues column for agg-* modes")
    pq.add_argument("--width", type=float, default=50.0,
                    help="agg-histogram bucket width")
    pq.add_argument("--phrase", action="store_true",
                    help="alias for --mode phrase (needs a positional index: "
                         "build with --positions)")
    pq.add_argument("--filter", action="append", metavar="COL:OP:VALUE",
                    help="docvalues filter (repeatable, ANDed); needs an "
                         "index built with field_cols; with --mode bm25 "
                         "runs a filtered BM25 search")
    pq.add_argument("--max-edits", type=int, default=2)
    pq.add_argument("--transpositions", action="store_true",
                    help="fuzzy: count character swaps as one edit (Damerau)")
    pq.add_argument("--min-should-match", type=int, default=0,
                    help="minimum number of SHOULD clauses a doc must "
                         "match (bool and query-string modes)")
    pq.add_argument("--msm-field", help="terms-set mode: integer "
                    "docvalues column holding each doc's required "
                    "match count (clamped to >=1)")
    pq.add_argument("--prefix-len", type=int, default=0)
    pq.add_argument("--fq", action="append", metavar="FIELD=QUERY",
                    help="per-field query for --mode fields (repeatable)")
    pq.add_argument("--sort-field", help="docvalues column for --mode sorted"
                                         " / agg-top-hits")
    pq.add_argument("--asc", action="store_true")
    pq.add_argument("--key-field", help="bucket column for agg-top-hits")
    pq.add_argument("--percents", default="25,50,75,95",
                    help="comma-separated percentiles for agg-percentiles")
    pq.add_argument("--suggest-mode", default="missing",
                    choices=["missing", "always"])
    pq.add_argument("--highlight-source",
                    help="source-table parquet (doc_id, text) — adds a "
                         "highlight snippet per hit")
    pq.add_argument("--text-col", default="text")
    pq.add_argument("--collapse-field", help="docvalues column for collapse")
    pq.add_argument("--negative", help="negative clause for --mode boosting")
    pq.add_argument("--negative-boost", type=float, default=0.5)
    pq.add_argument("--rescore-q", help="second-stage query for rescore")
    pq.add_argument("--window-size", type=int, default=50)
    pq.add_argument("--query-weight", type=float, default=1.0)
    pq.add_argument("--rescore-weight", type=float, default=2.0)
    pq.add_argument("--sources", help="comma-separated agg-composite fields")
    pq.add_argument("--after", help="comma-separated composite after-key")
    pq.add_argument("--fields", help="x,y docvalue pair for agg-matrix-stats")
    pq.add_argument("--sample-size", type=int, default=200,
                    help="significant-text foreground sample size")
    pq.add_argument("--boost", type=float, default=1.0,
                    help="constant-score boost")
    pq.add_argument("--center", help="lat_e6,lon_e6 for geo-distance")
    pq.add_argument("--radius", type=float, default=1_000_000.0,
                    help="geo-distance radius in meters")
    pq.add_argument("--box", help="south,west,north,east microdegrees "
                    "for geo-bbox")
    pq.add_argument("--zoom", type=int, default=5,
                    help="agg-geotile zoom level")
    pq.add_argument("--lat-field", default="lat_e6")
    pq.add_argument("--lon-field", default="lon_e6")
    pq.add_argument("--cidr", help="IPv4 CIDR for --mode ip-cidr")
    pq.add_argument("--max-errors", type=int, default=2,
                    help="suggest-phrase total-edit cap")
    pq.add_argument("--max-per-value", type=int, default=1,
                    help="agg-sampler diversify cap (with --key-field)")
    pq.add_argument("--parent-field", default="parent_id",
                    help="join-field docvalue for has-child/has-parent")
    pq.add_argument("--min-children", type=int, default=1)
    pq.add_argument("--score-mode", default="avg",
                    choices=["sum", "avg", "max", "min"],
                    help="has-child-scored: child-score fold")
    pq.add_argument("--shape", default='{"saturation": {"pivot": 1000}}',
                    help="rank-feature: shape JSON (saturation/log/"
                         "sigmoid + optional boost)")
    pq.add_argument("--script",
                    default="_score * (1 + ln(1 + doc['n_chars'].value))",
                    help="script-score: painless-lite expression over "
                         "_score and one doc['field'].value")
    pq.add_argument("--precision", type=int, default=4,
                    help="agg-geohash: cell precision in chars (1..6)")
    pq.add_argument("--prefix-length", type=int, default=8,
                    help="agg-ip-prefix: IPv4 network prefix length")
    pq.add_argument("--named-filters",
                    help="agg-adjacency buckets: name:col:op:val;name:... ")
    pq.add_argument("--origin", help="distance-feature origin (float or "
                    "ISO datetime matched against --agg-field docvalues)")
    pq.add_argument("--pivot", default="1.0",
                    help="distance-feature pivot (float; seconds when "
                    "--origin is a datetime)")
    pq.add_argument("--seed", default="0",
                    help="random-score seed (deterministic per-doc hash)")
    pq.add_argument("--pinned-ids",
                    help="comma-separated promoted docIDs for --mode pinned")
    pq.add_argument("--ts-field", default="warc_ts",
                    help="date docvalue for agg-cumulative-cardinality")
    pq.add_argument("--interval", default="day",
                    help="calendar interval for agg-cumulative-cardinality")
    pq.set_defaults(fn=cmd_query)

    pn = sub.add_parser("bench")
    pn.add_argument("--input", required=True)
    pn.add_argument("--index-dir", required=True)
    pn.add_argument("--buckets", type=int, default=256)
    pn.add_argument("--range-bits", type=int, default=8)
    pn.add_argument("--block-size", type=int, default=128)
    pn.add_argument("--codec", choices=["varint", "pfor"], default="varint")
    pn.set_defaults(fn=cmd_bench)

    ps = sub.add_parser("stream")
    ps.add_argument("--input", required=True,
                    help="parquet directory of pages to tail/drain")
    ps.add_argument("--index-dir", required=True)
    ps.add_argument("--checkpoint", help="streaming checkpoint dir")
    ps.add_argument("--follow", action="store_true",
                    help="tail continuously (default: drain existing files and stop)")
    ps.add_argument("--max-files-per-trigger", type=int, default=None)
    ps.add_argument("--merge-every", type=int, default=1,
                    help="fold base+deltas every k batches (N-way merge; "
                         "k x less base-rewrite, up to k-1 batches lag)")
    ps.add_argument("--buckets", type=int, default=256)
    ps.add_argument("--range-bits", type=int, default=8)
    ps.add_argument("--block-size", type=int, default=128)
    ps.add_argument("--lang", default="en")
    ps.add_argument("--k1", type=float, default=1.2)
    ps.add_argument("--b", type=float, default=0.75)
    ps.add_argument("--codec", choices=["varint", "pfor"], default="varint")
    ps.add_argument("--family-pattern", default=None,
                    help="route each batch to per-period live indexes by "
                         "date_format(ts-col, PATTERN) — the opensearch "
                         "sink's dynamic index pattern, streamed")
    ps.add_argument("--ts-col", default="warc_ts")
    ps.set_defaults(fn=cmd_stream)

    pt = sub.add_parser("stats", help="inspect an index (sizes, skew, config)")
    pt.add_argument("--index-dir", required=True)
    pt.set_defaults(fn=cmd_stats)

    pm = sub.add_parser("merge")
    pm.add_argument("--src", nargs="+", required=True,
                    help="two or more built index directories (disjoint doc ids)")
    pm.add_argument("--index-dir", required=True,
                    help="output directory for the merged index")
    pm.set_defaults(fn=cmd_merge)

    pfb = sub.add_parser("family-build",
                         help="time-partitioned index family (%%{pattern})")
    pfb.add_argument("--input", required=True)
    pfb.add_argument("--index-dir", required=True)
    pfb.add_argument("--ts-col", default="warc_ts")
    pfb.add_argument("--pattern", default="yyyy.MM.dd")
    pfb.add_argument("--parallelism", type=int, default=4,
                     help="concurrent per-period builds (driver threads)")
    pfb.add_argument("--buckets", type=int, default=256)
    pfb.add_argument("--positions", action="store_true",
                     help="store positional postings (enables --phrase "
                          "on family-query)")
    pfb.add_argument("--range-bits", type=int, default=8)
    pfb.add_argument("--block-size", type=int, default=128)
    pfb.add_argument("--lang", default="en")
    pfb.add_argument("--k1", type=float, default=1.2)
    pfb.add_argument("--b", type=float, default=0.75)
    pfb.set_defaults(fn=cmd_family_build)

    pfq = sub.add_parser("family-query",
                         help="cross-period search (global stats)")
    pfq.add_argument("--index-dir", required=True)
    pfq.add_argument("--q", required=True)
    pfq.add_argument("--k", type=int, default=10)
    pfq.add_argument("--start", default=None)
    pfq.add_argument("--end", default=None)
    pfq.add_argument("--phrase", action="store_true",
                     help="match_phrase across the covered periods "
                          "(family segments must store positions)")
    pfq.add_argument("--slop", type=int, default=0)
    pfq.set_defaults(fn=cmd_family_query)

    pp = sub.add_parser("publish")
    pp.add_argument("--index-dir", required=True)
    pp.add_argument("--table-format", choices=["auto", "iceberg", "parquet"],
                    default="auto")
    pp.add_argument("--catalog", default="dps")
    pp.add_argument("--warehouse", help="Iceberg hadoop-catalog warehouse path")
    pp.add_argument("--dest", help="parquet fallback destination directory")
    pp.set_defaults(fn=cmd_publish)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
