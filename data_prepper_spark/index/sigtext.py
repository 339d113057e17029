"""significant_text aggregation — OpenSearch's log-analysis staple
("what words are unusually common in the docs matching this query")
re-expressed Spark-first.

Like OpenSearch, the foreground is a bounded SAMPLE of matching docs
re-tokenized from ``_source`` at fetch time (the index stores postings,
not text — the same fetch-join model as highlighting), and the
background is the whole index's term statistics.  Differences from
OpenSearch, chosen for determinism:

- the sample is the *sample_size* LOWEST matching docIDs (OpenSearch
  samples the top-scoring hits per shard, which is tie-unstable);
- ranking uses the same EXACT scaled-integer JLH as
  match_agg_significant_terms (OpenSearch floats through the JLH) —
  score_e6 = ((fg·B − bg·F)·fg·B·10⁶) // (F²·bg·B), truncate toward
  zero, ties (score DESC, term ASC);
- per-doc term presence is counted once (``fg`` = sample docs
  CONTAINING the term, like significant_terms' doc counts).

Scale shape: the match-set sample is gathered per docID range (each
range contributes at most *sample_size* of its lowest matched docIDs —
the global lowest-k is a subset of the union of per-range lowest-k),
the fetch join touches *sample_size* source rows, and tokenization is
one Catalyst ``regexp_extract_all`` + ``explode`` over those rows —
foreground cost is bounded by the sample, never the corpus.  Background
dfs come from the already-aggregated termstats sidecar.

Reference anchor: the reference delegates search UX to OpenSearch
(opensearch sink); significant_text is part of that serving surface
(opensearch SignificantTextAggregationBuilder semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hashing import pmod, xxh64_signed

_TOKEN_RX = "[a-z0-9]+"


def significant_text(
    searcher,
    source_df: DataFrame,
    query_text: str,
    k: int = 10,
    sample_size: int = 200,
    filters=(),
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    distributed: bool = False,
) -> list[tuple[str, int, int, int]]:
    """Top-*k* (term, score_e6, fg_n, bg_n) significant terms of the
    sample (see module docstring for the exact rule).  *filters* are
    docvalue predicates restricting the match set (driver gather path);
    *distributed* gathers the sample per docID range instead (filters
    unsupported there — the sample partial doesn't read docmeta)."""
    from .filtered import _match_query_ids, _matched_with_cols, _tdiv

    ids, buckets = _match_query_ids(searcher, query_text)
    if not ids:
        return []
    if distributed:
        if filters:
            raise ValueError(
                "significant_text distributed sampling does not support "
                "filters; use the driver gather path"
            )
        sample = _sample_distributed(searcher, ids, buckets, sample_size)
    else:
        m_ids, _ = _matched_with_cols(searcher, ids, buckets, filters, [])
        if m_ids.size == 0:
            return []
        sample = np.sort(m_ids)[:sample_size]
    if sample.size == 0:
        return []
    f_tot = int(sample.size)

    # foreground: one fetch join + Catalyst tokenization of the sample
    fg_rows = (
        source_df.filter(F.col(doc_id_col).isin([int(d) for d in sample]))
        .select(
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(F.col(text_col)), F.lit(_TOKEN_RX), F.lit(0)
                    )
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("fg"))
        .collect()
    )
    fg = {r["term"]: int(r["fg"]) for r in fg_rows}
    if not fg:
        return []

    # background: stored termstats (df over ALL indexed docs)
    t_ids = {xxh64_signed(t): t for t in fg}
    t_buckets = sorted({pmod(i, searcher.cfg.n_buckets) for i in t_ids})
    dfs = searcher.term_stats(t_ids, t_buckets)
    b_tot = searcher.n_docs

    scored = []
    for term, fg_n in fg.items():
        bg_n = int(dfs.get(xxh64_signed(term), 0))
        if bg_n == 0:
            # sample docs are indexed docs, so every sampled term has
            # df ≥ 1; a miss means a tokenizer mismatch — skip, don't lie
            continue
        num = (fg_n * b_tot - bg_n * f_tot) * fg_n * b_tot * 10**6
        den = f_tot * f_tot * bg_n * b_tot
        scored.append((term, _tdiv(num, den), fg_n, bg_n))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def _sample_distributed(searcher, ids, buckets, sample_size: int) -> np.ndarray:
    """Lowest *sample_size* matched docIDs, gathered per docID range:
    each range emits its own lowest-*sample_size* partial (the global
    lowest-k is a subset of their union), one bounded sort-limit picks
    the final sample."""
    from .scoring import _member_sorted
    from .filtered import _UNION_COLS, _union_docids_rows

    deleted = searcher.deleted

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        matched = _union_docids_rows(pdf.to_dict("records"))
        if deleted.size:
            matched = matched[~_member_sorted(matched, deleted)]
        return pd.DataFrame({"doc_id": np.sort(matched)[:sample_size]})

    rows = (
        searcher._pruned_slices(list(ids), buckets, columns=_UNION_COLS)
        .groupBy("range_id")
        .applyInPandas(kernel, schema="doc_id long")
        .orderBy("doc_id")
        .limit(sample_size)
        .collect()
    )
    return np.array([int(r["doc_id"]) for r in rows], dtype=np.int64)
