"""Stage 6 — segment merge: N built indexes → one queryable index.

The incremental-ingest story at 10^12 docs: build a small delta index
over the day's new pages, then MERGE it into the base index instead of
rebuilding.  Because posting slices are keyed by (term_id, range_id)
under term-hash-bucket directories and the query path already merges any
set of slices per term associatively (driver and distributed modes both
score slice lists), an index merge over DISJOINT doc-id spaces is a
metadata-level union of posting rows: no re-tokenize, no posting
shuffle, no docID-stream decode.

The ONE stored quantity that depends on corpus-wide state is the
per-block score upper bound (block_ubs / max_ub, baked at build time
with that index's avgdl).  Under the merged avgdl the old bounds are not
upper bounds in general (avgdl↑ ⇒ per-posting norm↑), which would break
BMW pruning exactness — so the merge decodes just the tf/dl streams and
recomputes the bounds exactly, with the docID stream passed through
untouched.  The kernel works GROUP-AT-ONCE over each Arrow batch of
slice rows: one batch decode per stream (codec.decode_uints_batch) and
one reduceat over every row's blocks, through the same bound code as
the build (build.run_bounds) — no per-row Python.  Rank identity
of the merged index vs a from-scratch build over the union corpus is
pinned by tests/test_merge.py and the ft_merged_bm25 oracle entry.

Each merge stage commits to the checkpoint ledger, so a killed merge
resumes without recomputation — the same lease/positive-ack recast as
the build (reference: data-prepper-core
.../LeaseBasedSourceCoordinator.java completePartition semantics; the
merge itself is the reference's opensearch-sink handoff to Lucene's
segment merging, pulled into the engine as a first-class Spark job).

Requirements checked up front: same k1/b (bounds formula), same
n_buckets (directory routing), same block_size (block boundaries), no
legacy untagged-varint segments (streams must be tag-byte
self-describing so mixed-codec sources decode per row).  range_bits MAY
differ — range_id is only a grouping key carried in the rows.  Doc-id
spaces must be disjoint; overlap is detected from docmeta and rejected.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import SparkSession, functions as F

from ..hashing import xxh64_signed
from .build import _paths, _write_termstats, run_bounds
from .codec import decode_uints_batch
from .config import IndexConfig
from .ledger import Ledger


def _read_stats(index_dir: str) -> dict:
    return pads.dataset(os.path.join(index_dir, "stats")).to_table().to_pylist()[0]


def recompute_ubs_fn(avgdl: float, k1: float, b: float, block_size: int):
    """mapInPandas kernel: exact per-block upper bounds under the merged
    corpus's avgdl, GROUP-AT-ONCE over each Arrow batch — the batch's tf
    and dl streams decode in one pass each (codec.decode_uints_batch) and
    build.run_bounds recomputes every row's block_ubs / max_ub with one
    reduceat (the build's own bound code, so merged bounds are
    bit-compatible with built bounds).  The docID stream passes through
    untouched."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            tf, counts = decode_uints_batch(pdf["tfs"])
            dl = decode_uints_batch(pdf["dls"])[0]
            runs = np.cumsum(counts) - counts
            cols = run_bounds(tf, dl, runs, avgdl, k1, b, block_size)[2]
            out = pdf.copy()
            out["block_ubs"] = cols["block_ubs"]
            out["max_ub"] = cols["max_ub"]
            yield out

    return fn


def merge_indexes(
    spark: SparkSession, src_dirs: list[str], out_dir: str
) -> dict:
    """Merge built indexes at *src_dirs* into a new index at *out_dir*.

    Returns the merged stats dict (same shape as build_index's)."""
    if len(src_dirs) < 2:
        raise ValueError("merge_indexes needs at least two source indexes")
    stats = [_read_stats(d) for d in src_dirs]
    cfgs = [IndexConfig.from_dict(s) for s in stats]
    base = cfgs[0]
    for d, s, c in zip(src_dirs, stats, cfgs):
        if "codec" not in s:
            raise ValueError(
                f"{d}: legacy (untagged varint) index — streams are not "
                "self-describing, rebuild before merging"
            )
        if (c.k1, c.b, c.n_buckets, c.block_size, c.positions) != (
            base.k1, base.b, base.n_buckets, base.block_size, base.positions,
        ):
            raise ValueError(
                f"{d}: incompatible config (k1/b/n_buckets/block_size/"
                "positions must match across merge sources)"
            )
    n_docs = sum(int(s["n_docs"]) for s in stats)
    total_tokens = sum(int(s["total_tokens"]) for s in stats)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    # multi-field sources: per-field stats are stored as ADDITIVE sums
    # (n_docs, total_tokens), so disjoint-doc-space merge is exact
    # summation; every source must agree on the field set (all-or-none)
    import json as _json

    field_sets = [
        set(_json.loads(s["fields_json"])) if s.get("fields_json") else set()
        for s in stats
    ]
    if any(field_sets) and not all(fs == field_sets[0] for fs in field_sets):
        raise ValueError(
            f"merge sources disagree on fields: {sorted(map(sorted, field_sets))}"
        )
    merged_fields_json = None
    if field_sets[0]:
        acc: dict = {}
        for s in stats:
            for f, v in _json.loads(s["fields_json"]).items():
                a = acc.setdefault(f, {"n_docs": 0, "total_tokens": 0})
                a["n_docs"] += int(v["n_docs"])
                a["total_tokens"] += int(v["total_tokens"])
        merged_fields_json = _json.dumps(acc, sort_keys=True)

    p = _paths(out_dir)
    fp = format(
        xxh64_signed(
            json.dumps(
                [[os.path.abspath(d) for d in src_dirs],
                 [[int(s["n_docs"]), int(s["total_tokens"])] for s in stats]],
                sort_keys=True,
            )
        )
        & ((1 << 64) - 1),
        "016x",
    )
    ledger = Ledger(out_dir)

    # ---- stage: doc metadata union + disjointness check + stats ----
    if 0 not in ledger.completed("merge_docmeta", fp):
        dms = [spark.read.parquet(os.path.join(d, "docmeta")) for d in src_dirs]
        dm = dms[0]
        for other in dms[1:]:
            dm = dm.unionByName(other)
        dup = dm.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                f"doc_id {dup[0]['doc_id']} appears in more than one source "
                "index — merge requires disjoint doc-id spaces"
            )
        (
            dm.repartitionByRange(8, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(p["docmeta"])
        )
        merged_stats = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            **base.to_dict(),
            **({"fields_json": merged_fields_json} if merged_fields_json else {}),
        }
        spark.createDataFrame([merged_stats]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p["stats"])
        ledger.commit("merge_docmeta", 0, token_count=total_tokens, input_fingerprint=fp)

    # ---- stage: posting union + exact bound recompute (no shuffle) ----
    if 0 not in ledger.completed("merge_postings", fp):
        parts = []
        for i, d in enumerate(src_dirs):
            src = spark.read.parquet(os.path.join(d, "postings"))
            # collapse each source's bucket-groups into one bgroup id per
            # source: the dir level is only a physical grouping, and a
            # stable per-source id keeps the merged layout deterministic
            parts.append(src.withColumn("bgroup", F.lit(i).cast("int")))
        posts = parts[0]
        for other in parts[1:]:
            posts = posts.unionByName(other)
        fixed = posts.mapInPandas(
            recompute_ubs_fn(avgdl, base.k1, base.b, base.block_size),
            schema=posts.schema,
        )
        (
            # narrow local sort only — input files are term_id-sorted and
            # never shuffled, this just restores per-output-file order when
            # a task coalesced several small input files
            fixed.sortWithinPartitions("bgroup", "term_bucket", "term_id")
            .write.mode("overwrite")
            .option("parquet.block.size", 1 << 20)
            .partitionBy("bgroup", "term_bucket")
            .parquet(p["postings"])
        )
        back = spark.read.parquet(p["postings"])
        cnt = back.agg(
            F.sum("cf_slice").alias("cf"), F.sum("df_slice").alias("df")
        ).collect()[0]
        ledger.commit(
            "merge_postings",
            0,
            token_count=int(cnt["cf"] or 0),
            posting_count=int(cnt["df"] or 0),
            input_fingerprint=fp,
        )

    # ---- stage: term dictionary union + global termstats ----
    if 0 not in ledger.completed("termstats", fp):
        tds = [spark.read.parquet(os.path.join(d, "termdict")) for d in src_dirs]
        td = tds[0]
        for other in tds[1:]:
            td = td.unionByName(other)
        (
            td.dropDuplicates(["term_id"])
            .repartition(base.n_buckets, F.col("term_bucket"))
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(p["termdict"])
        )
        _write_termstats(spark, p, base)
        ledger.commit("termstats", 0, input_fingerprint=fp)

    ledger.commit("finalize", 0, input_fingerprint=fp)
    return {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        **base.to_dict(),
    }
