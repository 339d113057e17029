"""Document deletes: tombstones (liveDocs) + purge (the forceMerge analog).

Lucene's delete model, recast on the engine's immutable parquet segments:

- :func:`delete_docs` appends a TOMBSTONE file (a tiny doc_id parquet
  under ``<index>/tombstones/``) — a metadata write, no Spark job, ms
  latency, idempotent (file name = content hash).  This is Iceberg's
  delete-file idea applied to index segments.
- Every query kernel skips tombstoned docs IMMEDIATELY (the searcher's
  deny set: scoring.TermView and score_bmw's ``deny``), but corpus statistics (n_docs, avgdl, per-term df) remain those of the
  full index until a purge — exactly Lucene's liveDocs bitmap, where
  docFreq still counts deleted docs until segments merge.
- :func:`purge_deletes` rewrites the index without the deleted docs.  It
  is a one-source merge: index/merge.py merge_indexes applies every
  source's tombstones (plus any extra drop set) while it rewrites the
  postings, so a purge and a fold share one rewrite path — posting
  streams of rows that lost docs are masked and re-encoded, block-max
  bounds are recomputed exactly under the post-delete avgdl, and
  docmeta / stats / termstats are rewritten.  The purged index is
  rank-identical to a fresh build over the surviving corpus (pinned by
  tests/test_deletes.py and the ft_purged_bm25 oracle entry).

Scale notes: tombstones are bounded by the delete rate, not the corpus —
the searcher ships the sorted doc_id array to range tasks (at a large
delete backlog, range-partition the tombstone table and cogroup on
range_id instead; purging is the pressure valve either way).  The purge
itself touches every posting byte once, per Arrow batch, no shuffle,
partition layout preserved.

Reference anchor: the opensearch sink's delete/update bulk actions
(/root/reference/data-prepper-plugins/opensearch/.../OpenSearchSink.java
bulk action handling) — the reference delegates the actual liveDocs +
merge mechanics to Lucene; here they are first-class engine stages.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from ..hashing import xxh64_signed
from .scoring import _member_sorted

_TOMB = "tombstones"


def delete_docs(index_dir: str, doc_ids) -> int:
    """Tombstone *doc_ids* (iterable of int).  Appends one parquet file
    named by the content hash — re-issuing the same delete is a no-op
    (idempotent, like replaying a bulk-delete batch).  Returns the number
    of NEW ids tombstoned (0 if all were already deleted)."""
    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if ids.size == 0:
        return 0
    existing = read_tombstones(index_dir)
    fresh = ids[~_member_sorted(ids, existing)]
    if fresh.size == 0:
        return 0
    d = os.path.join(index_dir, _TOMB)
    os.makedirs(d, exist_ok=True)
    name = format(xxh64_signed(fresh.tobytes()) & ((1 << 64) - 1), "016x")
    path = os.path.join(d, f"del-{name}.parquet")
    tmp = path + ".tmp"
    pq.write_table(pa.table({"doc_id": fresh}), tmp)
    os.replace(tmp, path)  # atomic publish
    return int(fresh.size)


def read_tombstones(index_dir: str) -> np.ndarray:
    """Sorted unique int64 array of tombstoned doc_ids (empty if none)."""
    d = os.path.join(index_dir, _TOMB)
    if not os.path.isdir(d):
        return np.empty(0, dtype=np.int64)
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    if not files:
        return np.empty(0, dtype=np.int64)
    tbl = pads.dataset(files).to_table(columns=["doc_id"])
    return np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64))


def clear_tombstones(index_dir: str) -> None:
    shutil.rmtree(os.path.join(index_dir, _TOMB), ignore_errors=True)


def purge_deletes(
    spark: SparkSession, src_dir: str, out_dir: str,
    extra_deleted: np.ndarray | None = None,
) -> dict:
    """Rewrite the index at *src_dir* into *out_dir* with all tombstoned
    docs physically removed and every corpus statistic recomputed.  The
    result is rank-identical to a fresh build over the surviving docs and
    carries no tombstones.  Returns the new stats dict.

    *extra_deleted*: additional doc_ids to drop beyond the on-disk
    tombstones."""
    from .merge import merge_indexes

    return merge_indexes(spark, [src_dir], out_dir, drop=[extra_deleted])
