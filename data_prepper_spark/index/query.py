"""Stage 5 — BM25 top-k query path (block-max WAND over pruned segments).

Data Prepper analog: the opensearch *source*'s "read an index back"
lifecycle (/root/reference/data-prepper-plugins/opensearch-source/.../
OpenSearchIndexPartitionCreationSupplier.java — partition per index, then
paged reads), inverted: we read only the term-hash buckets of the query's
terms (partition pruning on `term_bucket`), decode posting slices in
numpy, and run the exact block-max top-k.

Two execution modes:
  driver      — read ONLY the pruned term_bucket partition directories
                with pyarrow (no Spark job: a query-serving layer reads
                index segments directly, the way the reference's
                opensearch sink serves queries without the ingest
                pipeline) and score in-process; ~ms latency.
  distributed — groupBy(range_id).applyInPandas local top-k per docID
                range, then a global orderBy(score DESC, doc_id ASC).limit(k);
                this is the 10^12-doc path: no term's full posting list is
                ever materialized on one node.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..hashing import pmod, xxh64_signed
from ..textproc import tokenize
from .codec import decode_docids_batch, split_rows
from .config import IndexConfig
from .deletes import read_tombstones
from .scoring import (
    bmw_slices,
    idf_value,
    prime_single_block,
    score_bmw,
    score_brute,
    term_views,
    topk_select,
    view_slices,
)

_SLICE_COLS = [
    "term_id", "range_id", "df_slice", "doc_ids", "tfs", "dls",
    "block_firsts", "block_ubs",
]
# the match-union projection (filtered._UNION_COLS) — the only narrow
# read shape the decoded-union cache admits
_UNION_COL_SET = {"term_id", "range_id", "df_slice", "doc_ids"}


class BucketFiles:
    """Driver-mode reader of one term_bucket-partitioned segment table
    (postings or termstats) that parses each file's footer once.

    Opening lists the table's Parquet files and maps each term_bucket to
    its files, from the dataset fragments' hive partition keys — so the
    merged ``bgroup=*/term_bucket=*`` layout and the single-build
    ``term_bucket=*`` one read alike.  A file's footer is parsed on its
    first read and kept: its FileMetaData plus each row group's term_id
    min/max.  A read re-opens the file with that metadata (no parse),
    decodes only the row groups whose term_id range can hold a wanted id
    — the build writes ~1 MB term_id-sorted row groups for exactly this
    skip (build.py) — and keeps the wanted rows.  Rows come back in the
    order a dataset scan with the same filter returns them.  Files are
    never held open: a family searcher may span thousands of them.

    ``footers_parsed``, ``row_groups_read`` and ``row_groups_skipped``
    count the reader's work over its life."""

    def __init__(self, root: str):
        ds = pads.dataset(root, partitioning="hive")
        # term_bucket → [(fragment order, path)]
        self._files: dict[int, list[tuple[int, str]]] = {}
        for j, frag in enumerate(ds.get_fragments()):
            keys = pads.get_partition_keys(frag.partition_expression)
            self._files.setdefault(int(keys["term_bucket"]), []).append(
                (j, frag.path)
            )
        # path → (FileMetaData, row-group term_id mins, maxes)
        self._footers: dict[str, tuple] = {}
        self.footers_parsed = 0
        self.row_groups_read = 0
        self.row_groups_skipped = 0

    def _footer(self, path: str) -> tuple:
        ft = self._footers.get(path)
        if ft is None:
            md = pq.read_metadata(path)
            self.footers_parsed += 1
            col = next(
                c for c in range(md.num_columns)
                if md.schema.column(c).path == "term_id"
            )
            lo = np.full(md.num_row_groups, np.iinfo(np.int64).min)
            hi = np.full(md.num_row_groups, np.iinfo(np.int64).max)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                if st is not None and st.has_min_max:
                    lo[g], hi[g] = st.min, st.max
            ft = self._footers[path] = (md, lo, hi)
        return ft

    def read(self, ids, buckets, columns: list[str]) -> list[dict]:
        """Rows of *columns* (which must include term_id) whose term_id
        is in *ids*, from the files of *buckets*."""
        want = np.unique(np.asarray(list(ids), dtype=np.int64))
        if want.size == 0:
            return []
        keep = pa.array(want)
        rows: list[dict] = []
        for _, path in sorted(
            f for b in set(buckets) for f in self._files.get(b, ())
        ):
            md, lo, hi = self._footer(path)
            # a row group can hold a wanted id iff the least wanted id
            # >= its min is <= its max
            j = np.searchsorted(want, lo)
            hit = np.flatnonzero(
                (j < want.size) & (want[np.minimum(j, want.size - 1)] <= hi)
            )
            self.row_groups_read += hit.size
            self.row_groups_skipped += lo.size - hit.size
            if hit.size == 0:
                continue
            tbl = pq.ParquetFile(path, metadata=md).read_row_groups(
                hit.tolist(), columns=columns, use_threads=False
            )
            tbl = tbl.filter(pc.is_in(tbl["term_id"], value_set=keep))
            rows.extend(tbl.to_pylist())
        return rows


class BM25Searcher:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = (
            pads.dataset(f"{index_dir}/stats").to_table().to_pylist()[0]
        )
        if "codec" not in self.stats:
            raise ValueError(
                f"{index_dir}: legacy (untagged varint) index — its stats "
                "carry no codec; rebuild it"
            )
        self.cfg = IndexConfig.from_dict(self.stats)
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        # multi-field index: per-field stats — Lucene's docCount and
        # avgFieldLength (derived from the stored additive sums, which is
        # what lets segment merges combine them exactly); empty for
        # single-field indexes
        import json as _json

        fj = self.stats.get("fields_json")
        self.field_stats: dict = _json.loads(fj) if fj else {}
        for fs in self.field_stats.values():
            fs["avgdl"] = (
                fs["total_tokens"] / fs["n_docs"] if fs["n_docs"] else 0.0
            )
        # liveDocs mask (index/deletes.py): tombstoned docs are filtered
        # from every result; corpus stats stay full-index until a purge —
        # Lucene's delete semantics.  Sorted int64, usually empty.
        self.deleted = read_tombstones(index_dir)
        # term_bucket-partitioned segment tables; opening only lists files
        # — reads stay bucket- and row-group-pruned per query, and each
        # file's footer is parsed once per searcher
        self._posting_files = BucketFiles(f"{index_dir}/postings")
        self._termstat_files = BucketFiles(f"{index_dir}/termstats")
        # hot-posting cache (driver serving mode): term_id → its full
        # posting rows, LRU-evicted on a byte budget.  Queries share
        # terms heavily (head terms especially), and a searcher is a
        # SNAPSHOT of the index (stats/tombstones read once at open), so
        # caching rows — and, via the attached stream objects, their
        # decode memos — is exactly Lucene's hot-posting/OS-page-cache
        # behavior with no staleness surface.  DPS_POSTING_CACHE_MB=0
        # disables.
        import os as _os

        # default sized so a head-heavy prefix expansion's working set
        # (e.g. 90 head terms ≈ 30M postings ≈ 1 GB with decode memos at
        # 32 B/posting) stays resident — python-side numpy memory, not
        # JVM heap, on a driver that serves queries
        self.posting_cache_bytes = int(
            float(_os.environ.get("DPS_POSTING_CACHE_MB", "1536")) * 1e6
        )
        from collections import OrderedDict as _OD

        self._rows_cache: dict[int, tuple[list[dict], int]] = _OD()
        self._rows_cache_bytes = 0
        self._df_cache: dict[int, int] = {}
        # decoded docID-union cache: the match-union consumers
        # (aggregations, must_not, pure-should fallbacks) read docID
        # streams only, and the full-row cache deliberately never admits
        # narrow reads (a narrow row would poison later scoring reads) —
        # so a repeated aggregation re-decoded its head terms every
        # query.  This cache stores narrow rows with the raw docID
        # buffer REPLACED by the decoded absolute array (8 B/posting),
        # term-keyed, LRU on its own budget.  Same snapshot argument as
        # the posting cache: stats/tombstones are read once at open, so
        # there is no staleness surface.  DPS_UNION_CACHE_MB=0 disables.
        self.union_cache_bytes = int(
            float(_os.environ.get("DPS_UNION_CACHE_MB", "256")) * 1e6
        )
        self._union_cache: dict[int, tuple[list[dict], int]] = _OD()
        self._union_cache_bytes = 0

    # -------------------------------------------------------------- helpers
    def _terms_buckets(self, query_text: str) -> tuple[list[str], dict[int, str], list[int]]:
        """(sorted terms, term_id→term, pruned buckets).  term_id =
        xxhash64(term) is computed locally — queries never consult the
        term dictionary (pmod(term_id, B) is the bucket)."""
        terms = sorted(set(tokenize(query_text)))
        ids = {xxh64_signed(t): t for t in terms}
        buckets = sorted({pmod(i, self.cfg.n_buckets) for i in ids})
        return terms, ids, buckets

    def term_stats(self, ids: dict[int, str], buckets: list[int]) -> dict[int, int]:
        """df per query term_id, from the bucket-pruned termstats
        partitions (pyarrow direct read — partition pruning, no Spark
        job).  Memoized per searcher: the index is a snapshot, so a
        term's df never changes under an open searcher."""
        if not ids:
            return {}
        missing = [i for i in ids if i not in self._df_cache]
        if missing:
            mb = sorted({pmod(i, self.cfg.n_buckets) for i in missing})
            got = {
                r["term_id"]: r["df"]
                for r in self._termstat_files.read(missing, mb, ["term_id", "df"])
            }
            for i in missing:
                self._df_cache[i] = got.get(i, 0)
        return {i: self._df_cache[i] for i in ids if self._df_cache[i] > 0}

    def _read_slice_rows(self, ids, buckets, columns) -> list[dict]:
        """Posting rows of *ids* from the files of *buckets*, uncached —
        the one driver read path (scoring rows, docID-union rows and the
        positional reads of phrase/querystring).  Full rows come back
        with their one-block streams already decoded into their memos
        (scoring.prime_single_block)."""
        rows = self._posting_files.read(ids, buckets, columns or _SLICE_COLS)
        if columns is None:
            prime_single_block(rows, self.cfg.block_size)
        return rows

    def _pruned_slice_rows(
        self, ids: list[int], buckets: list[int], columns: list[str] | None = None
    ) -> list[dict]:
        """Posting rows for *ids*, bucket-pruned, through the hot-posting
        cache.  Narrow-column requests (match-union paths read docID
        streams only) are served from cache when the term is already hot
        (full rows are a superset) but never populate it — caching a
        narrow row would poison later scoring reads."""
        if self.posting_cache_bytes <= 0:
            return self._read_slice_rows(ids, buckets, columns)
        out: list[dict] = []
        missing: list[int] = []
        for i in ids:
            ent = self._rows_cache.get(i)
            if ent is not None:
                self._rows_cache.move_to_end(i)
                out.extend(ent[0])
            else:
                missing.append(i)
        if not missing:
            return out
        mb = sorted({pmod(i, self.cfg.n_buckets) for i in missing})
        if columns is not None:
            if (
                set(columns) != _UNION_COL_SET
                or self.union_cache_bytes <= 0
            ):
                return out + self._read_slice_rows(missing, mb, columns)
            return out + self._union_rows(missing, mb, columns)
        rows = self._read_slice_rows(missing, mb, None)
        by_term: dict[int, list[dict]] = {i: [] for i in missing}
        for r in rows:
            by_term.setdefault(int(r["term_id"]), []).append(r)
        for i, rr in by_term.items():
            # budget = raw payload + decoded-memo worst case: 32 B/posting
            # (3 int64 streams + the absolute-docID memo).  One-block rows
            # carry those memos from the read on (prime_single_block, one
            # private copy per row, so the charge covers them exactly);
            # longer rows materialize them only on dense/promoted access
            nb = 512 + sum(
                len(r["doc_ids"]) + len(r["tfs"]) + len(r["dls"])
                + len(r["block_firsts"]) + len(r["block_ubs"])
                + 32 * int(r["df_slice"])
                for r in rr
            )
            self._rows_cache[i] = (rr, nb)
            self._rows_cache_bytes += nb
        while (
            self._rows_cache_bytes > self.posting_cache_bytes
            and self._rows_cache
        ):
            _, (_, nb) = self._rows_cache.popitem(last=False)
            self._rows_cache_bytes -= nb
        return out + rows

    def _union_rows(self, ids: list[int], buckets: list[int],
                    columns: list[str]) -> list[dict]:
        """Serve/populate the decoded docID-union cache for terms the
        full-row cache missed: each narrow row's raw docID buffer is
        decoded ONCE and stored as `_doc_abs` (which
        filtered._union_docids_rows consumes by preference)."""
        out: list[dict] = []
        still: list[int] = []
        for i in ids:
            ent = self._union_cache.get(i)
            if ent is not None:
                self._union_cache.move_to_end(i)
                out.extend(ent[0])
            else:
                still.append(i)
        if not still:
            return out
        sb = sorted({pmod(i, self.cfg.n_buckets) for i in still})
        rows = self._read_slice_rows(still, sb, columns)
        # one batch decode for the whole read; per-row copies, so an
        # evicted entry frees its arrays (8 B/posting charged below)
        docs = split_rows(*decode_docids_batch([r.pop("doc_ids") for r in rows]))
        by_term: dict[int, list[dict]] = {i: [] for i in still}
        for r, d in zip(rows, docs):
            r["_doc_abs"] = d
            by_term.setdefault(int(r["term_id"]), []).append(r)
        for i, rr in by_term.items():
            nb = 256 + sum(8 * int(x["_doc_abs"].size) + 128 for x in rr)
            self._union_cache[i] = (rr, nb)
            self._union_cache_bytes += nb
            out.extend(rr)
        while (
            self._union_cache_bytes > self.union_cache_bytes
            and self._union_cache
        ):
            _, (_, nb) = self._union_cache.popitem(last=False)
            self._union_cache_bytes -= nb
        return out

    def _pruned_slices(
        self, ids: list[int], buckets: list[int], columns: list[str] | None = None
    ) -> DataFrame:
        """Spark-side pruned scan (distributed mode)."""
        return (
            self.spark.read.parquet(f"{self.index_dir}/postings")
            .filter(F.col("term_bucket").isin(buckets) & F.col("term_id").isin(ids))
            .select(*(columns or _SLICE_COLS))
        )

    # ---------------------------------------------------------------- search
    def search(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "bmw",
        distributed: bool = False,
        tie_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score), rank-identical to the oracle.

        ``tie_round`` (distributed brute mode only): rank globally by
        (round(score, tie_round) DESC, doc_id ASC) over ALL matches —
        the SQL oracle's exact tie rule, with no per-range exact-score
        truncation that could drop a rounded-tie winner."""
        _, ids, buckets = self._terms_buckets(query_text)
        dfs = self.term_stats(ids, buckets)
        ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
        if not ids:
            return []
        idf = {i: idf_value(self.n_docs, dfs[i]) for i in ids}
        if distributed:
            return self._search_distributed(ids, buckets, idf, k, mode, tie_round)
        return self._score_pruned(ids, buckets, idf, k, mode, self.avgdl)

    def _score_pruned(
        self,
        ids: dict[int, str],
        buckets: list[int],
        idf: dict[int, float],
        k: int | None,
        mode: str,
        avgdl: float,
        ub_scale: float = 1.0,
        theta0: float = float("-inf"),
    ) -> list[tuple[int, float]]:
        """Driver-mode scoring core with EXTERNALLY supplied idf/avgdl —
        `search` passes this segment's own stats; a FamilySearcher
        (index/family.py) passes family-global stats (dfs/N/avgdl summed
        across period segments — Lucene's dfs_query_then_fetch).

        ONE scoring call per query: the slices of every docID range go to
        one kernel, which groups each term's slices into chains of
        disjoint, ordered docID spans (scoring._chain_groups — by docID,
        never by range_id: merged sources may differ in range_bits) and
        prunes the whole docID space under one running threshold.
        Slices are block-lazy (scoring.term_views): decode cost per query
        is the blocks of scored segments, the stream memos on cached
        posting rows make a hot term decode once per searcher, and
        tombstones are the kernel's deny set.

        The stored block_ubs are avgdl-baked (index/build.py run_bounds,
        recomputed on merge by index/merge.py fold_fn), so a non-native
        avgdl invalidates them as-is;
        a caller overriding avgdl must either use mode="brute" or pass
        ``ub_scale = max(1, avgdl_override / self.avgdl)``: the BM25
        tf-normalization tf·(k1+1)/(tf + k1·(1−b+b·dl/A)) is monotone
        increasing in A and its ratio under A_g vs A_s is bounded above
        by A_g/A_s, so the inflated bound stays a true upper bound and
        BMW pruning stays exact (per-period family serving keeps WAND
        this way — the reference searches `my-index-*` with per-shard
        WAND intact, OpenSearchSink.java:144-150).  ``theta0`` seeds the
        threshold (a family's running k-th score).  k=None returns every
        match (exact cross-segment rounding-tie merges)."""
        if k is None:
            mode = "brute"
        views = term_views(
            self._pruned_slice_rows(list(ids), buckets), ids, idf,
            self.cfg.block_size, self.deleted,
        )
        k1, b = self.cfg.k1, self.cfg.b
        if mode == "bmw":
            hits, sc = score_bmw(
                bmw_slices(views, ub_scale), k1, b, avgdl, k,
                theta0=theta0, deny=self.deleted,
            )
        else:
            hits, sc = score_brute(view_slices(views), k1, b, avgdl)
            if k is not None:
                hits, sc = topk_select(hits, sc, k)
        return list(zip(hits.tolist(), sc.tolist()))

    def _search_distributed(
        self, labels, buckets, idf, k, mode, tie_round: int | None = None
    ) -> list[tuple[int, float]]:
        cfg, avgdl = self.cfg, self.avgdl
        deleted = self.deleted  # sorted int64, ships with the task closure

        def score_range(pdf: pd.DataFrame) -> pd.DataFrame:
            views = term_views(
                pdf.to_dict("records"), labels, idf, cfg.block_size, deleted
            )
            if mode == "bmw":
                ids, sc = score_bmw(
                    bmw_slices(views), cfg.k1, cfg.b, avgdl, k, deny=deleted
                )
            else:
                ids, sc = score_brute(view_slices(views), cfg.k1, cfg.b, avgdl)
                if tie_round is None:
                    ids, sc = topk_select(ids, sc, k)
                # tie_round: keep EVERY match — the global rounded-tie
                # rank must see all candidates (a docID-range holds its
                # full candidate set locally; only (doc, score) pairs
                # reach the global TakeOrdered)
            return pd.DataFrame({"doc_id": ids, "score": sc})

        scored = (
            self._pruned_slices(list(labels), buckets)
            .groupBy("range_id")
            .applyInPandas(score_range, schema="doc_id long, score double")
        )
        if tie_round is not None:
            ordered = scored.orderBy(
                F.round(F.col("score"), tie_round).desc(), F.asc("doc_id")
            )
        else:
            ordered = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        out = ordered.limit(k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in out]

    def search_all(self, query_text: str) -> list[tuple[int, float]]:
        """ALL matching (doc_id, exact float64 score) pairs, unranked —
        for callers that re-rank under their own tie rule (e.g. the
        round-then-rank contract of the SQL correctness oracle)."""
        _, ids, buckets = self._terms_buckets(query_text)
        dfs = self.term_stats(ids, buckets)
        ids = {i: t for i, t in ids.items() if dfs.get(i, 0) > 0}
        if not ids:
            return []
        idf = {i: idf_value(self.n_docs, dfs[i]) for i in ids}
        views = term_views(
            self._pruned_slice_rows(list(ids), buckets), ids, idf,
            self.cfg.block_size, self.deleted,
        )
        ids, sc = score_brute(
            view_slices(views), self.cfg.k1, self.cfg.b, self.avgdl
        )
        return list(zip(ids.tolist(), sc.tolist()))

    def urls_for(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id → url via the docID-range-sorted docmeta (file skipping)."""
        if not doc_ids:
            return {}
        rows = (
            self.spark.read.parquet(f"{self.index_dir}/docmeta")
            .filter(F.col("doc_id").isin(doc_ids))
            .select("doc_id", "url")
            .collect()
        )
        return {int(r["doc_id"]): r["url"] for r in rows}

    def search_df(self, query_text: str, k: int = 10, mode: str = "bmw") -> DataFrame:
        """Top-k as a DataFrame (query_text, rank, doc_id, url, bm25_score)."""
        hits = self.search(query_text, k=k, mode=mode)
        urls = self.urls_for([d for d, _ in hits])
        rows = [
            (query_text, i + 1, d, urls.get(d, ""), float(s))
            for i, (d, s) in enumerate(hits)
        ]
        return self.spark.createDataFrame(
            rows, "query_text string, rank int, doc_id long, url string, bm25_score double"
        )
