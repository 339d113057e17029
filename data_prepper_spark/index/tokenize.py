"""Stage 1 — extraction + tokenization (mapInPandas, Arrow-vectorized).

Data Prepper analog: the per-event processor chain
(grok/lower/trim/split — SURVEY.md §2.5) plus conditional routing on
``lang`` (§2.3, RouteEventEvaluator). Here the whole chain is one
columnar pass: JVM-side filter + xxhash64 docID (whole-stage codegen),
then a single mapInPandas that turns each Arrow batch of pages into
(doc, term, tf) rows. No per-row Python in the Spark path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..textproc import extract_text_series, tokenize_counts_arrow
from .config import IndexConfig, TOKENS_POS_SCHEMA, TOKENS_SCHEMA


def tokenize_positions_arrow(texts: pd.Series):
    """Positional variant of ``tokenize_counts_arrow``: same Arrow-native
    token stream, but instead of a C++ group-by count it produces, per
    (doc, term), a RAW (untagged) LEB128 blob of position deltas — first
    value is the absolute 0-based token position, the rest are gaps.

    Raw blobs let the slice encoder build the per-term positional stream
    by pure byte concatenation in docID order (LEB128 is self-delimiting)
    and prepend ONE tag byte — the same group-at-once shape as the other
    three streams.  All deltas for the whole batch are encoded in one
    vectorized pass; per-(doc,term) blobs are byte slices of it.

    Returns ``(owners, terms, tfs, doc_lens, pos_blobs)``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import varint_encode_arr

    pa.set_cpu_count(1)
    arr = pa.Array.from_pandas(texts.astype("object"), type=pa.string())
    cleaned = pc.replace_substring_regex(
        pc.utf8_lower(arr), pattern="[^a-z0-9]+", replacement=" "
    )
    lists = pc.split_pattern(cleaned, " ")
    flat = pc.list_flatten(lists)
    parents = pc.list_parent_indices(lists)
    mask = pc.not_equal(flat, "")
    flat = flat.filter(mask)
    parents = parents.filter(mask)
    pnp = parents.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.bincount(pnp, minlength=len(texts)).astype(np.int64)
    if pnp.size == 0:
        return (
            np.empty(0, np.int64),
            pd.array([], dtype=pd.ArrowDtype(pa.string())),
            np.empty(0, np.int64),
            lens,
            [],
        )
    # 0-based position among the doc's kept tokens (flatten preserves order)
    starts = np.concatenate(([0], np.cumsum(lens)))
    pos = np.arange(pnp.size, dtype=np.int64) - starts[pnp]
    dic = flat.dictionary_encode()
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.lexsort((pos, codes, pnp))
    p_s, c_s, pos_s = pnp[order], codes[order], pos[order]
    new_run = np.empty(p_s.size, dtype=bool)
    new_run[0] = True
    new_run[1:] = (p_s[1:] != p_s[:-1]) | (c_s[1:] != c_s[:-1])
    runs = np.flatnonzero(new_run)
    ends = np.append(runs[1:], p_s.size)
    deltas = np.empty_like(pos_s)
    deltas[0] = pos_s[0]
    deltas[1:] = pos_s[1:] - pos_s[:-1]
    deltas[runs] = pos_s[runs]  # delta restarts at each (doc,term) run
    out, oends = varint_encode_arr(deltas.astype(np.uint64))
    ob = out.tobytes()
    e_off = oends[ends - 1]
    b_off = np.where(runs > 0, oends[runs - 1], 0)
    pos_blobs = [ob[s:e] for s, e in zip(b_off.tolist(), e_off.tolist())]
    owners = p_s[runs]
    terms = pd.array(
        dic.dictionary.take(pa.array(c_s[runs])), dtype=pd.ArrowDtype(pa.string())
    )
    tfs = (ends - runs).astype(np.int64)
    return owners, terms, tfs, lens, pos_blobs


def tokens_frame(doc_ids: np.ndarray, texts: pd.Series, positions: bool) -> pd.DataFrame:
    """One batch of docs → its token rows (doc_id, term, tf, dl[,
    pos_blob]): the body of every token stage, run per Arrow batch by the
    Spark stages' mapInPandas and once over the whole batch by the
    driver build (index/build.py)."""
    if positions:
        owners, terms, tfs, lens, blobs = tokenize_positions_arrow(texts)
        extra = {"pos_blob": blobs}
    else:
        owners, terms, tfs, lens = tokenize_counts_arrow(texts)
        extra = {}
    return pd.DataFrame(
        {
            "doc_id": doc_ids[owners],
            "term": terms,
            "tf": tfs.astype("int32"),
            "dl": lens[owners].astype("int32"),
            **extra,
        }
    )


def with_doc_id(pages: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Filter to the indexed language and assign stable docIDs (JVM-side).

    doc_id = xxhash64(url): stable across resume and across cluster sizes
    (never zipWithIndex). The lang filter is pushed down to the parquet/
    Iceberg scan by Catalyst.
    """
    return pages.filter(F.col("lang") == cfg.lang).withColumn(
        "doc_id", F.xxhash64("url")
    )


def range_id_col(cfg: IndexConfig, doc_id_col: str = "doc_id"):
    """Contiguous docID-range id (the skew salt), order-aligned with signed doc_id."""
    if cfg.range_bits == 0:
        return F.lit(0)
    return (
        F.shiftright(F.col(doc_id_col), 64 - cfg.range_bits)
        + (1 << (cfg.range_bits - 1))
    ).cast("int")


def range_ids(doc_ids: np.ndarray, range_bits: int) -> np.ndarray:
    """:func:`range_id_col` over a numpy docID array (>> is arithmetic
    on int64, as Spark's shiftright is on a long)."""
    if range_bits == 0:
        return np.zeros(doc_ids.size, dtype=np.int32)
    return ((doc_ids >> (64 - range_bits)) + (1 << (range_bits - 1))).astype(np.int32)


def tokenize_stage(pages: DataFrame, cfg: IndexConfig) -> DataFrame:
    """pages(url, html, lang) → tokens(doc_id, term, tf, dl[, pos_blob])."""
    src = with_doc_id(pages, cfg).select("doc_id", "html")
    positions = cfg.positions

    def fn(batches):
        for b in batches:
            yield tokens_frame(
                b["doc_id"].to_numpy(), extract_text_series(b["html"]), positions
            )

    return src.mapInPandas(
        fn, schema=TOKENS_POS_SCHEMA if positions else TOKENS_SCHEMA
    )


def doc_src_from_pages(
    pages: DataFrame, cfg: IndexConfig, field_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, url[, field_cols…]) for docmeta — a column-pruned re-scan
    of pages.  *field_cols* are extra per-doc metadata columns (lang,
    warc_ts, …) stored as docvalues for filtered search
    (index/filtered.py)."""
    return with_doc_id(pages, cfg).select("doc_id", "url", *field_cols)


def tokenize_stage_fields(
    docs: DataFrame,
    id_col: str,
    fields: dict[str, "Column | str"],
    positions: bool = False,
) -> DataFrame:
    """Multi-field tokens: per field, tokenize that field's text and
    namespace the term as ``field:token`` (Lucene's per-field term space —
    the SAME posting machinery then gives per-field postings, df, and
    positions for free, since term_id = xxhash64 of the namespaced
    string).  Each posting row's ``dl`` is the FIELD length of its doc,
    not the whole-document length — BM25's length normalization is
    per-field, as in Lucene.  *fields* maps field name → column name or
    Column expression (derived fields like ``substr(text, 1, 40)`` are
    fine; the SQL oracle mirrors the same expression)."""
    parts = []
    for fname in sorted(fields):
        col = fields[fname]
        col = F.col(col) if isinstance(col, str) else col
        toks = tokenize_stage_text(
            docs.select(F.col(id_col).alias("doc_id"), col.alias("text")),
            positions=positions,
        )
        parts.append(
            toks.withColumn("term", F.concat(F.lit(fname + ":"), F.col("term")))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tokenize_stage_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> DataFrame:
    """Pre-extracted-text variant: docs(id, text) → tokens, same schema.

    Used for tables that carry `text` directly (no html extraction step) —
    e.g. the driver's `documents` table.  doc_id is taken from the table
    (caller guarantees stability)."""
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )

    def fn(batches):
        for b in batches:
            yield tokens_frame(b["doc_id"].to_numpy(), b["text"], positions)

    return src.mapInPandas(
        fn, schema=TOKENS_POS_SCHEMA if positions else TOKENS_SCHEMA
    )
