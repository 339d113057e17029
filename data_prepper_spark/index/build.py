"""Stages 2-4 — posting-slice build, segment write, docmeta/stats, ledger.

Data Prepper analogs (SURVEY.md):
  - groupBy(term, range_id).applyInPandas ≈ `aggregate` processor with the
    `append` action (collect per-key lists,
    /root/reference/data-prepper-plugins/aggregate-processor/.../actions/AppendAggregateAction.java:33)
    shuffled by identification-key hash via the peer forwarder
    (data-prepper-core/.../peerforwarder/HashRing.java:52-78). The
    ``range_id`` component of the key is the explicit skew salt: a head
    term's postings split into 2^range_bits contiguous docID ranges, so no
    single task ever materializes the full "the" list.
  - bucket-partitioned write-back ≈ the OpenSearch sink's routing + bulk
    commit (opensearch/.../OpenSearchSink.java:144-150); parquet/Iceberg
    partition `term_bucket=pmod(xxhash64(term),B)` is the routing key.
  - per-group overwrite + ledger-after-commit ≈ positive-ack then
    completePartition (s3-source/.../ScanObjectWorker.java:130-138).

Scale notes (the 100 TB story):
  - tokens are staged once to parquet (partitioned by bucket-group in the
    resumable build) so posting groups re-read only their slice of the
    staging table; a resumed build never re-tokenizes.  Staging beats
    JVM-object caching: persisting millions of deserialized rows was
    GC-bound and anti-scaled with core count (see build_oneshot_tokens).
  - the token stream carries (doc_id, term, tf, dl) only — `url` would be
    duplicated ~100× per doc; docmeta joins urls back from a column-pruned
    pages scan instead.
  - segment writes are bucket-aligned (repartition on term_bucket before
    partitionBy) so file count per partition dir is 1 regardless of task
    count — commit and query-side open costs stay flat as the cluster grows.
  - all encode work is numpy over Arrow batches; no per-row Python.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..hashing import xxh64_signed
from .codec import (
    PFOR_TAG,
    VARINT_TAG,
    pack_f32,
    pack_i64,
    pfor_encode_runs,
    varint_encode_arr,
)
from .config import SLICE_SCHEMA, SLICE_SCHEMA_POS, IndexConfig
from .ledger import Ledger
from .tokenize import (
    doc_src_from_pages,
    range_id_col,
    tokenize_stage,
    tokenize_stage_text,
)


class BuildKilled(RuntimeError):
    """Raised by test fault injectors to simulate a mid-build crash."""


def _cuts(buf: bytes, off) -> list[bytes]:
    """``[buf[off[i]:off[i+1]] ...]`` — per-row slices of a batch-wide
    byte stream."""
    off = off.tolist()
    return [buf[a:z] for a, z in zip(off[:-1], off[1:])]


def run_bounds(
    tf: np.ndarray, dl: np.ndarray, runs: np.ndarray,
    avgdl: float, k1: float, b: float, block_size: int,
):
    """Block-max skip data for postings concatenated run by run (one run
    = one slice row, ``runs`` = each run's start index, no empty runs).

    The BM25 per-posting upper bound factor lives here and only here:
    ``tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``, idf-independent, rounded
    UP to float32 (nextafter) so the stored bound never undercuts the
    float64 score.  Blocks restart at each run, and one global
    ``reduceat`` takes every run's block maxima.

    Returns ``(gbs, nb_off, cols)``: the global start index of every
    block, the exclusive cumsum of the runs' block counts (run *i* owns
    blocks ``nb_off[i]:nb_off[i+1]``), and the ``block_ubs`` / ``max_ub``
    slice columns."""
    norm = tf.astype(np.float64) * (k1 + 1.0) / (
        tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    )
    ub32 = np.nextafter(norm.astype(np.float32), np.float32(np.inf))
    sizes = np.diff(runs, append=tf.size)
    nb = (sizes + block_size - 1) // block_size
    nb_off = np.concatenate(([0], np.cumsum(nb)))
    within = np.arange(nb_off[-1]) - np.repeat(nb_off[:-1], nb)
    gbs = np.repeat(runs, nb) + within * block_size
    block_ubs = np.maximum.reduceat(ub32, gbs)
    cols = {
        "block_ubs": _cuts(pack_f32(block_ubs), nb_off * 4),
        "max_ub": np.maximum.reduceat(block_ubs, nb_off[:-1]).astype(np.float32),
    }
    return gbs, nb_off, cols


def encode_runs(
    d: np.ndarray, tf: np.ndarray, dl: np.ndarray, runs: np.ndarray,
    avgdl: float, k1: float, b: float, block_size: int, codec: str,
) -> dict:
    """Encoded slice columns (``df_slice`` … ``n_blocks``) for postings
    concatenated run by run, docIDs sorted within each run — the
    group-at-once encoder shared by the build and purge kernels (the
    merge kernel needs only :func:`run_bounds`).

    docID deltas (restarting at each run), tfs and dls are each encoded
    in ONE vectorized pass over all runs; each row's blob is then a byte
    slice of the stream — LEB128 is per-value self-delimiting, and the
    PFor kernel (codec.pfor_encode_runs) restarts its 128-value blocks at
    every run boundary, so in both codecs the concatenation of per-run
    encodings IS the batch encoding.  Byte-identical to encoding each run
    alone with ``encode_docids`` / ``encode_uints``."""
    gbs, nb_off, bounds = run_bounds(tf, dl, runs, avgdl, k1, b, block_size)
    u = d.astype(np.uint64) + np.uint64(1 << 63)  # signed→unsigned order
    stream = np.empty_like(u)
    stream[0] = u[0]
    stream[1:] = u[1:] - u[:-1]
    stream[runs] = u[runs]  # delta restarts at each run boundary
    tag = PFOR_TAG if codec == "pfor" else VARINT_TAG
    blobs = []
    for vals in (stream, tf.astype(np.uint64), dl.astype(np.uint64)):
        if codec == "pfor":
            buf, ends = pfor_encode_runs(vals, runs)
        else:
            out, vends = varint_encode_arr(vals)
            # per-run byte ranges = value-end offsets at the run ends
            buf, ends = out.tobytes(), vends[np.append(runs[1:], vals.size) - 1]
        blobs.append([tag + x for x in _cuts(buf, np.concatenate(([0], ends)))])
    return {
        "df_slice": np.diff(runs, append=d.size).astype(np.int64),
        "cf_slice": np.add.reduceat(tf, runs).astype(np.int64),
        "doc_ids": blobs[0],
        "tfs": blobs[1],
        "dls": blobs[2],
        "block_firsts": _cuts(pack_i64(d[gbs]), nb_off * 8),
        **bounds,
        "n_blocks": np.diff(nb_off).astype(np.int32),
    }


def encode_slice_fn(avgdl: float, k1: float, b: float, block_size: int, codec: str = "varint", positions: bool = False):
    """applyInPandas kernel over a COARSE (term_bucket, range_id) group:
    emits one encoded slice row per term present in the group.

    Grouping by (term, range) directly would create |vocab|×|ranges| tiny
    pandas groups — per-group Arrow/pandas overhead then dominates the
    build (measured ~100× slowdown at 20k docs).  The coarse key keeps
    group count = n_buckets × n_ranges (bounded, tunable), and the
    per-term work inside is numpy slicing over one lexsort — the same
    partial-aggregation shape, two orders of magnitude fewer crossings.
    Skew stays bounded: a group holds ~|tokens|/(buckets×ranges) rows by
    construction, head terms included (range_id splits them).

    The group encodes GROUP-AT-ONCE through :func:`encode_runs`, one run
    per term, so per-term Python work is a few byte-slices (pinned
    against per-term encodes by
    tests/test_codec.py::test_encode_kernel_vectorized_identity and
    ::test_encode_kernel_pfor_identity)."""

    cols = [
        "term_id", "range_id", "df_slice", "cf_slice", "doc_ids", "tfs",
        "dls", "block_firsts", "block_ubs", "max_ub", "n_blocks",
    ]
    if positions:
        # per-term positional stream: the per-(doc,term) RAW LEB128 blobs
        # from the tokenizer, concatenated in docID order behind ONE tag
        # byte (positions always varint — deltas are tiny; pfor's 128-value
        # blocks would restart mid-doc).  Per-doc boundaries are the
        # decoded tfs, so nothing extra is stored.
        cols = cols + ["positions"]

    def encode_vectorized(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame([], columns=cols)
        terms = pdf["term_id"].to_numpy(np.int64)
        d = pdf["doc_id"].to_numpy(np.int64)
        order = np.lexsort((d, terms))
        terms, d = terms[order], d[order]
        tf = pdf["tf"].to_numpy(np.int64)[order]
        dl = pdf["dl"].to_numpy(np.int64)[order]
        runs = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])  # term runs
        out = encode_runs(d, tf, dl, runs, avgdl, k1, b, block_size, codec)
        if positions:
            pos_blobs = pdf["pos_blob"].to_numpy()[order]
            ends = np.append(runs[1:], d.size)
            out["positions"] = [
                VARINT_TAG + b"".join(pos_blobs[s:e]) for s, e in zip(runs, ends)
            ]
        out["term_id"] = terms[runs]
        out["range_id"] = np.full(runs.size, np.int32(pdf["range_id"].iloc[0]))
        return pd.DataFrame(out, columns=cols)

    return encode_vectorized


def _paths(index_dir: str) -> dict:
    return {
        "staging": os.path.join(index_dir, "_staging", "tokens"),
        "postings": os.path.join(index_dir, "postings"),
        "termstats": os.path.join(index_dir, "termstats"),
        "termdict": os.path.join(index_dir, "termdict"),
        "docmeta": os.path.join(index_dir, "docmeta"),
        "stats": os.path.join(index_dir, "stats"),
    }


def _fingerprint(src_tag: str, cfg: IndexConfig) -> str:
    return format(
        xxh64_signed(json.dumps({"src": src_tag, "cfg": cfg.to_dict()}, sort_keys=True))
        & ((1 << 64) - 1),
        "016x",
    )


def _term_bucket(cfg: IndexConfig):
    return F.pmod(F.xxhash64("term"), F.lit(cfg.n_buckets)).cast("int")


def _term_bucket_from_id(cfg: IndexConfig):
    # pmod(xxhash64(term), B) == pmod(term_id, B): bucket is derivable
    # from the id alone, so queries never need the dictionary.
    return F.pmod(F.col("term_id"), F.lit(cfg.n_buckets)).cast("int")


def _termdict(tokens: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(term, term_id, term_bucket) — pure-JVM distinct, one shuffle."""
    return (
        tokens.select("term")
        .distinct()
        .withColumn("term_id", F.xxhash64("term"))
        .withColumn("term_bucket", _term_bucket(cfg))
    )


def _write_termstats(spark: SparkSession, p: dict, cfg: IndexConfig) -> None:
    posts = spark.read.parquet(p["postings"])
    tdict = spark.read.parquet(p["termdict"]).select("term", "term_id")
    termstats = (
        posts.groupBy("term_id")
        .agg(
            F.sum("df_slice").alias("df"),
            F.sum("cf_slice").alias("cf"),
            F.max("max_ub").alias("max_ub"),
        )
        .join(tdict, "term_id")
        .withColumn("term_bucket", _term_bucket_from_id(cfg))
        .repartition(cfg.n_buckets, F.col("term_bucket"))
    )
    (
        termstats.sortWithinPartitions("term_bucket", "term_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 1 << 20)
        .partitionBy("term_bucket")
        .parquet(p["termstats"])
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    src_tag: str = "",
    bucket_groups: int = 1,
    fault_injector=None,
    field_cols: tuple[str, ...] = (),
) -> dict:
    """Build the full index at *index_dir*. Resumable at bucket-group
    granularity via the ledger; returns build stats.

    ``bucket_groups=G`` splits the posting build into G independent jobs,
    each owning term_buckets {tb : tb % G == g}; a group's output directory
    is overwritten atomically and its ledger row committed only after the
    write succeeds, so rerunning after a crash skips completed groups.

    *field_cols*: extra pages columns stored as docvalues (filtered /
    sorted / terms_set / agg serving).  They enter the resume
    fingerprint — a rerun with different docvalues rebuilds rather than
    silently reusing a docmeta without them.
    """
    assert cfg.n_buckets % bucket_groups == 0
    p = _paths(index_dir)
    ledger = Ledger(index_dir)
    tag = (
        src_tag + "|fields=" + ",".join(field_cols) if field_cols else src_tag
    )
    fp = _fingerprint(tag, cfg)

    # ---- stage: tokens (extraction + tokenization, staged once) ----
    if 0 not in ledger.completed("tokens", fp):
        tokens = (
            tokenize_stage(pages, cfg)
            .withColumn("term_bucket", _term_bucket(cfg))
            .withColumn("bgroup", (F.col("term_bucket") % bucket_groups).cast("int"))
        )
        tokens.write.mode("overwrite").partitionBy("bgroup").parquet(p["staging"])
        ledger.commit("tokens", 0, input_fingerprint=fp)
    tokens = spark.read.parquet(p["staging"])

    # ---- stage: docmeta + corpus stats ----
    if 0 not in ledger.completed("docmeta", fp):
        doc_src = doc_src_from_pages(pages, cfg, field_cols)
        dls = tokens.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
        docmeta = dls.join(doc_src, "doc_id", "left").select(
            "doc_id", F.coalesce("url", F.col("doc_id").cast("string")).alias("url"),
            "doc_len", *field_cols,
        )
        (
            docmeta.repartitionByRange(8, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(p["docmeta"])
        )
        dm = spark.read.parquet(p["docmeta"])
        agg = dm.agg(
            F.count("*").alias("n_docs"), F.sum("doc_len").alias("total_tokens")
        ).collect()[0]
        n_docs, total_tokens = int(agg["n_docs"]), int(agg["total_tokens"] or 0)
        stats = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            **cfg.to_dict(),
        }
        spark.createDataFrame([stats]).coalesce(1).write.mode("overwrite").parquet(
            p["stats"]
        )
        ledger.commit("docmeta", 0, token_count=total_tokens, input_fingerprint=fp)
    stats = spark.read.parquet(p["stats"]).collect()[0].asDict()
    avgdl = float(stats["avgdl"])

    # ---- stage: posting slices, per bucket-group ----
    encode = encode_slice_fn(
        avgdl, cfg.k1, cfg.b, cfg.block_size, cfg.codec, positions=cfg.positions
    )
    slice_schema = SLICE_SCHEMA_POS if cfg.positions else SLICE_SCHEMA
    token_cols = ["term_id", "term_bucket", "range_id", "doc_id", "tf", "dl"] + (
        ["pos_blob"] if cfg.positions else []
    )
    done = ledger.completed("postings", fp)
    for g in range(bucket_groups):
        if g in done:
            continue
        tg = tokens.filter(F.col("bgroup") == g).withColumn(
            "range_id", range_id_col(cfg)
        )
        slices = (
            tg.withColumn("term_id", F.xxhash64("term"))
            .select(*token_cols)
            .groupBy("term_bucket", "range_id")
            .applyInPandas(encode, schema=slice_schema)
            .withColumn("term_bucket", _term_bucket_from_id(cfg))
            # align write partitioning with the directory layout: one
            # task per bucket -> one file per term_bucket dir, regardless
            # of spark.sql.shuffle.partitions (otherwise file count =
            # tasks x buckets and the commit/read cost explodes with
            # parallelism)
            .repartition(cfg.n_buckets, F.col("term_bucket"))
        )
        gdir = os.path.join(p["postings"], f"bgroup={g}")
        # term_id-sorted rows + 1 MB row groups: query-side pyarrow reads
        # prune row groups on term_id min/max stats (measured at 1M docs:
        # slice read 100ms -> ~10ms; unsorted hash ids make stats useless)
        (
            slices.sortWithinPartitions("term_bucket", "term_id")
            .write.mode("overwrite")
            .option("parquet.block.size", 1 << 20)
            .partitionBy("term_bucket")
            .parquet(gdir)
        )
        back = spark.read.parquet(gdir)
        cnt = back.agg(
            F.sum("cf_slice").alias("cf"), F.sum("df_slice").alias("df")
        ).collect()[0]
        ledger.commit(
            "postings",
            g,
            token_count=int(cnt["cf"] or 0),
            posting_count=int(cnt["df"] or 0),
            input_fingerprint=fp,
        )
        if fault_injector is not None:
            fault_injector("postings", g)

    # ---- stage: term dictionary + per-term global stats (slice "merge") ----
    if 0 not in ledger.completed("termstats", fp):
        _termdict(tokens, cfg).repartition(
            cfg.n_buckets, F.col("term_bucket")
        ).write.mode("overwrite").partitionBy("term_bucket").parquet(p["termdict"])
        _write_termstats(spark, p, cfg)
        ledger.commit("termstats", 0, input_fingerprint=fp)

    ledger.commit("finalize", 0, input_fingerprint=fp)
    return stats


def build_oneshot(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    field_cols: tuple[str, ...] = (),
) -> dict:
    """One-shot (non-resumable) build — the throughput-bench path.
    *field_cols*: extra pages columns stored as docvalues (filtered
    search)."""
    return build_oneshot_tokens(
        spark, tokenize_stage(pages, cfg), index_dir, cfg,
        doc_src=doc_src_from_pages(pages, cfg, field_cols),
    )


def build_oneshot_text(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    field_cols: tuple[str, ...] = (),
) -> dict:
    """Build over a pre-extracted-text table (id, text) — e.g. the
    driver's `documents` table; no html extraction, no lang filter.
    *field_cols*: extra docs columns stored as docvalues (filtered
    search)."""
    tokens = tokenize_stage_text(
        docs, id_col=id_col, text_col=text_col, positions=cfg.positions
    )
    doc_src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(id_col).cast("string").alias("url"),
        *field_cols,
    )
    return build_oneshot_tokens(spark, tokens, index_dir, cfg, doc_src=doc_src)


def build_oneshot_fields(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    fields: dict | None = None,
    field_cols: tuple[str, ...] = (),
) -> dict:
    """Multi-field build (Lucene per-field term space): *fields* maps
    field name → column name or Column expression; terms are namespaced
    ``field:token`` and each posting's dl is its FIELD length.  Per-field
    corpus stats (docs-with-field, avg field length — Lucene's docCount
    and avgFieldLength) land in stats as ``fields_json``; `search_fields`
    scores each term with ITS field's stats.  The flat stats avgdl (an
    arbitrary mix) and the avgdl-baked block_ubs are NOT meaningful for a
    fields index — serve it via index/fields.py search_fields (brute,
    exact), never plain BMW search()."""
    import json as _json

    from .tokenize import tokenize_stage_fields

    fields = fields or {"body": "text"}
    tokens = tokenize_stage_fields(docs, id_col, fields, positions=cfg.positions)
    # per-field stats, stored as ADDITIVE sums (n_docs, total_tokens) so a
    # segment merge of disjoint doc spaces can combine them exactly —
    # avgFieldLength = total_tokens / n_docs is derived at read time
    fstats = {}
    for fname in sorted(fields):
        col = fields[fname]
        col = F.col(col) if isinstance(col, str) else col
        per_doc = tokenize_stage_text(
            docs.select(F.col(id_col).alias("doc_id"), col.alias("text"))
        ).groupBy("doc_id").agg(F.first("dl").alias("dl"))
        agg = per_doc.agg(
            F.count("*").alias("n"), F.sum("dl").alias("tot")
        ).collect()[0]
        fstats[fname] = {
            "n_docs": int(agg["n"]), "total_tokens": int(agg["tot"] or 0)
        }
    doc_src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(id_col).cast("string").alias("url"),
        *field_cols,
    )
    return build_oneshot_tokens(
        spark, tokens, index_dir, cfg, doc_src=doc_src,
        extra_stats={"fields_json": _json.dumps(fstats, sort_keys=True)},
    )


def build_oneshot_tokens(
    spark: SparkSession,
    tokens_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    doc_src: DataFrame | None = None,
    extra_stats: dict | None = None,
) -> dict:
    """Tokens are STAGED to parquet once, then every downstream stage
    reads the columnar staging table.

    This deliberately replaces an earlier ``persist(MEMORY_AND_DISK)``:
    caching millions of deserialized (doc_id, url, term, …) rows as JVM
    objects caused GC-bound, high-variance stage times that got WORSE
    with more cores (measured 2-3× slowdown from local[8]→local[32]),
    while the parquet staging write is dictionary-encoded (repeated
    terms/urls ~free), sequential, and gives each consumer a column-pruned
    scan — docmeta never reads `term`, the posting encode never reads
    `url`.  Same shape as the resumable build's staging, so oneshot and
    resumable share physics."""
    import time as _time

    timings: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        timings[name] = round(now - _t0, 2)
        _t0 = now

    p = _paths(index_dir)
    tokens_df.write.mode("overwrite").parquet(p["staging"])
    tokens = spark.read.parquet(p["staging"])
    _mark("t_tokens")

    dls = tokens.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
    if doc_src is not None:
        # any doc_src column beyond (doc_id, url) is a docvalues field —
        # per-doc metadata stored for filtered search (index/filtered.py)
        extra = [c for c in doc_src.columns if c not in ("doc_id", "url")]
        docmeta = dls.join(doc_src, "doc_id", "left").select(
            "doc_id", F.coalesce("url", F.col("doc_id").cast("string")).alias("url"),
            "doc_len", *extra,
        )
    else:
        docmeta = dls.select(
            "doc_id", F.col("doc_id").cast("string").alias("url"), "doc_len"
        )
    (
        docmeta.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(p["docmeta"])
    )
    dm = spark.read.parquet(p["docmeta"])
    agg = dm.agg(
        F.count("*").alias("n_docs"), F.sum("doc_len").alias("total_tokens")
    ).collect()[0]
    n_docs, total_tokens = int(agg["n_docs"]), int(agg["total_tokens"] or 0)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    stats = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        **cfg.to_dict(),
        **(extra_stats or {}),
    }
    spark.createDataFrame([stats]).coalesce(1).write.mode("overwrite").parquet(
        p["stats"]
    )
    _mark("t_docmeta")
    encode = encode_slice_fn(
        avgdl, cfg.k1, cfg.b, cfg.block_size, cfg.codec, positions=cfg.positions
    )
    slice_schema = SLICE_SCHEMA_POS if cfg.positions else SLICE_SCHEMA
    token_cols = ["term_id", "term_bucket", "range_id", "doc_id", "tf", "dl"] + (
        ["pos_blob"] if cfg.positions else []
    )
    slices = (
        tokens.withColumn("term_id", F.xxhash64("term"))
        .withColumn("range_id", range_id_col(cfg))
        .withColumn("term_bucket", _term_bucket_from_id(cfg))
        .select(*token_cols)
        .groupBy("term_bucket", "range_id")
        .applyInPandas(encode, schema=slice_schema)
        .withColumn("term_bucket", _term_bucket_from_id(cfg))
        .withColumn("bgroup", F.lit(0))
        # one file per term_bucket dir (see build_index note)
        .repartition(cfg.n_buckets, F.col("term_bucket"))
    )
    (
        slices.sortWithinPartitions("term_bucket", "term_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 1 << 20)
        .partitionBy("bgroup", "term_bucket")
        .parquet(p["postings"])
    )  # sorted + small row groups -> term_id row-group pruning at query time
    _mark("t_encode")
    _termdict(tokens, cfg).repartition(
        cfg.n_buckets, F.col("term_bucket")
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(p["termdict"])
    _write_termstats(spark, p, cfg)
    _mark("t_termstats")
    stats["timings"] = json.dumps(timings)
    Ledger(index_dir).commit("finalize", 0, token_count=total_tokens)
    return stats
