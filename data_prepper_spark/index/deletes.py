"""Document deletes: tombstones (liveDocs) + purge (the forceMerge analog).

Lucene's delete model, recast on the engine's immutable parquet segments:

- :func:`delete_docs` appends a TOMBSTONE file (a tiny doc_id parquet
  under ``<index>/tombstones/``) — a metadata write, no Spark job, ms
  latency, idempotent (file name = content hash).  This is Iceberg's
  delete-file idea applied to index segments.
- The searcher masks tombstoned docs out of every result IMMEDIATELY,
  but corpus statistics (n_docs, avgdl, per-term df) remain those of the
  full index until a purge — exactly Lucene's liveDocs bitmap, where
  docFreq still counts deleted docs until segments merge.
- :func:`purge_deletes` rewrites the index without the deleted docs:
  posting streams are decoded, masked and re-encoded (mapInPandas —
  embarrassingly parallel, no shuffle), block-max bounds are recomputed
  exactly under the post-delete avgdl (they are avgdl-baked, same rule
  as index/merge.py), and docmeta / stats / termstats are rebuilt.  The
  kernel works GROUP-AT-ONCE over each Arrow batch of slice rows: one
  batch decode per stream, one cumsum to undo every row's docID deltas,
  one membership mask, and one re-encode with delta and block restarts
  at row boundaries (build.encode_runs, the build's own encoder) — no
  per-row Python beyond byte slicing.  The purged index is
  rank-identical to a fresh build over the surviving corpus (pinned by
  tests/test_deletes.py and the ft_purged_bm25 oracle entry).

Scale notes: tombstones are bounded by the delete rate, not the corpus —
the searcher ships the sorted doc_id array to range tasks (at a large
delete backlog, range-partition the tombstone table and cogroup on
range_id instead; purging is the pressure valve either way).  The purge
itself touches every posting byte once: decode → mask → encode per
Arrow batch, no shuffle, partition layout preserved.

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
from pyspark.sql import SparkSession, functions as F

from ..hashing import xxh64_signed
from .build import _cuts, _paths, _write_termstats, encode_runs
from .codec import (
    VARINT_TAG,
    decode_docids_batch,
    decode_uints_batch,
    varint_value_ends,
)
from .config import IndexConfig

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
    fresh = ids[~_member(ids, existing)]
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


def _member(ids: np.ndarray, deleted: np.ndarray) -> np.ndarray:
    """Boolean membership of *ids* in sorted unique *deleted*."""
    if deleted.size == 0:
        return np.zeros(ids.shape, dtype=bool)
    loc = np.clip(np.searchsorted(deleted, ids), 0, deleted.size - 1)
    return deleted[loc] == ids


def mask_term_slice(s, deleted: np.ndarray):
    """TermSlice minus tombstoned docs.  Block metadata is kept as-is:
    masking only removes postings, so every surviving posting still lies
    inside its original block and the stored per-block upper bounds
    remain valid upper bounds — BMW pruning stays exact."""
    keep = ~_member(s.doc_ids, deleted)
    if keep.all():
        return s
    from .scoring import TermSlice

    return TermSlice(
        term=s.term,
        idf=s.idf,
        doc_ids=s.doc_ids[keep],
        tfs=s.tfs[keep],
        dls=s.dls[keep],
        block_firsts=s.block_firsts,
        block_ubs=s.block_ubs,
    )


def _purge_fn(deleted: np.ndarray, cfg: IndexConfig, avgdl: float):
    """mapInPandas kernel: rewrite posting-slice rows without the deleted
    docs, group-at-once over each Arrow batch.  The survivors re-encode
    with the index codec through build.encode_runs, which also recomputes
    block_firsts / block_ubs (under the POST-delete avgdl — stored bounds
    are avgdl-baked) / max_ub / n_blocks / df_slice / cf_slice.  Rows
    with no survivors drop.  The positions stream (when present) is
    carried by BYTE slices of the per-doc LEB128 blobs — per-doc
    boundaries are the decoded tfs, so no position is re-encoded.
    Output is byte-identical to re-encoding each row alone (pinned by
    tests/test_deletes.py)."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            d, counts = decode_docids_batch(pdf["doc_ids"])
            tf = decode_uints_batch(pdf["tfs"])[0].astype(np.int64)
            dl = decode_uints_batch(pdf["dls"])[0].astype(np.int64)
            keep = ~_member(d, deleted)
            row_of = np.repeat(np.arange(len(pdf)), counts)
            kept = np.bincount(row_of[keep], minlength=len(pdf))
            out = pdf[kept > 0].copy()
            if not len(out):
                yield out
                continue
            kept = kept[kept > 0]
            runs = np.cumsum(kept) - kept
            cols = encode_runs(
                d[keep], tf[keep], dl[keep], runs,
                avgdl, cfg.k1, cfg.b, cfg.block_size, cfg.codec,
            )
            if cfg.positions:
                cols["positions"] = _kept_positions(
                    pdf["positions"], tf, keep, runs
                )
            for c, v in cols.items():
                out[c] = v
            yield out

    return fn


def _kept_positions(blobs, tf, keep, runs) -> list[bytes]:
    """Positions blobs of the kept postings, one per run of kept postings
    (``runs`` = run starts).  Every row's payload (after its tag byte)
    holds ``tf`` LEB128 values per posting, so with tag bytes dropped the
    batch is one stream whose posting *i* ends at value
    ``cumsum(tf)[i]``."""
    raw = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    lens = np.fromiter(map(len, blobs), np.int64, len(blobs))
    payload = np.ones(raw.size, dtype=bool)
    payload[(np.cumsum(lens) - lens)[lens > 0]] = False  # tag bytes
    stream = raw[payload]
    ends = varint_value_ends(stream)  # inclusive terminator idx
    byte_end = ends[np.cumsum(tf) - 1].astype(np.int64) + 1  # exclusive
    nbytes = np.diff(byte_end, prepend=0)
    kept = stream[np.repeat(keep, nbytes)].tobytes()
    kb = nbytes[keep]
    off = np.concatenate(([0], np.cumsum(kb)))[np.append(runs, kb.size)]
    return [VARINT_TAG + x for x in _cuts(kept, off)]


def purge_deletes(
    spark: SparkSession, src_dir: str, out_dir: str,
    extra_deleted: np.ndarray | None = None,
) -> dict:
    """Rewrite the index at *src_dir* into *out_dir* with all tombstoned
    docs physically removed and every corpus statistic recomputed.  The
    result is rank-identical to a fresh build over the surviving docs and
    carries no tombstones.  Returns the new stats dict.

    *extra_deleted*: additional doc_ids to drop beyond the on-disk
    tombstones — the upsert path (index/live.py) passes the set of docs
    superseded by newer segments here."""
    deleted = read_tombstones(src_dir)
    if extra_deleted is not None and len(extra_deleted):
        deleted = np.unique(
            np.concatenate([deleted, np.asarray(extra_deleted, dtype=np.int64)])
        )
    stats = pads.dataset(os.path.join(src_dir, "stats")).to_table().to_pylist()[0]
    cfg = IndexConfig.from_dict(stats)
    if "codec" not in stats:
        raise ValueError(
            f"{src_dir}: legacy (untagged varint) index — rebuild before purging"
        )
    p_src, p_out = _paths(src_dir), _paths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    # ---- surviving docmeta + post-delete corpus stats ----
    dm = spark.read.parquet(p_src["docmeta"])
    if deleted.size:
        tomb = spark.createDataFrame(
            [(int(i),) for i in deleted], "doc_id long"
        )
        dm = dm.join(F.broadcast(tomb), "doc_id", "left_anti")
    (
        dm.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(p_out["docmeta"])
    )
    agg = (
        spark.read.parquet(p_out["docmeta"])
        .agg(F.count("*").alias("n"), F.sum("doc_len").alias("t"))
        .collect()[0]
    )
    n_docs, total_tokens = int(agg["n"]), int(agg["t"] or 0)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    new_stats = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        **cfg.to_dict(),
    }
    spark.createDataFrame([new_stats]).coalesce(1).write.mode("overwrite").parquet(
        p_out["stats"]
    )

    # ---- posting rewrite: decode → mask → encode, no shuffle ----
    posts = spark.read.parquet(p_src["postings"])
    purged = posts.mapInPandas(_purge_fn(deleted, cfg, avgdl), schema=posts.schema)
    (
        purged.sortWithinPartitions("bgroup", "term_bucket", "term_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 1 << 20)
        .partitionBy("bgroup", "term_bucket")
        .parquet(p_out["postings"])
    )

    # ---- termdict passthrough (vocabulary may shrink; stale entries are
    # harmless — termstats inner-joins postings, so df=0 terms vanish) ----
    shutil.rmtree(p_out["termdict"], ignore_errors=True)
    shutil.copytree(p_src["termdict"], p_out["termdict"])
    _write_termstats(spark, p_out, cfg)
    return new_stats
