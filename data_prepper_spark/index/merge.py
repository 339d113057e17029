"""Stage 6 — segment merge: N built indexes → one queryable index, with
deleted and superseded docs dropped in the same pass.

The incremental-ingest story at 10^12 docs: build a small delta index
over the day's new pages, then MERGE it into the base index instead of
rebuilding.  Because posting slices are keyed by (term_id, range_id)
under term-hash-bucket directories and the query path already merges any
set of slices per term associatively (driver and distributed modes both
score slice lists), an index merge over DISJOINT doc-id spaces is a
union of posting rows: no re-tokenize, no posting shuffle.

:func:`merge_indexes` is also the only code that drops docs from
postings (Lucene's SegmentMerger skipping docs cleared in liveDocs;
Delta Lake applying deletes inside its compaction rewrite).  Every
source carries a drop set — its own tombstones (index/deletes.py) plus
whatever the caller passes (the live fold passes docs superseded by
newer deltas) — and the merged index is rank-identical to a fresh build
over the surviving union.  ``purge_deletes`` is the one-source case.

The stored quantities that depend on corpus-wide state are the
per-block score upper bounds (block_ubs / max_ub, baked at build time
with that index's avgdl).  Under the merged avgdl the old bounds are not
upper bounds in general (avgdl↑ ⇒ per-posting norm↑), which would break
BMW pruning exactness, so one group-at-once kernel (:func:`fold_fn`)
recomputes every row's bounds exactly — through the build's own bound
code, so merged bounds are bit-compatible with built bounds — and
re-encodes only the rows that lost postings.

Corpus stats come from data in hand: the sources' stored stats minus
the dropped docs' doc_len, fetched by one semi-join collect bounded by
the drop sets (on the Spark route the docmeta never reaches the driver), and the
driver writes the merged stats row (build._write_stats).  Term strings
come from the union of the sources' termstats; the merged termstats
inner-joins them with the merged postings, so a term whose postings
all dropped leaves the vocabulary.  Every Spark job of a merge moves
posting or doc data.  Rank identity is pinned by tests/test_merge.py,
tests/test_deletes.py and the ft_merged_bm25 / ft_purged_bm25 oracle
entries.

Small merges run on the driver.  When the sources' stored n_docs sum to
fewer than ``build.LOCAL_DOCS`` (read from their stats rows, no job),
the drop-set lookup and the three write stages — docmeta, postings,
termstats — read the sources with pyarrow, run the same :func:`fold_fn`
over each source's postings as one batch and write through the driver
writers of index/build.py, in the same layout: no Spark job at all (the
live fold of a micro-batch).  Validation, drop sets, stats and the ledger are
shared by both routes; tests/test_local_route.py pins that they write
the same rows.  The Spark route reads postings and termstats with their
known schema: an inferring read costs a job per table.

Each merge stage commits to the checkpoint ledger, so a killed merge
resumes without recomputation — the same lease/positive-ack recast as
the build (reference: data-prepper-core
.../LeaseBasedSourceCoordinator.java completePartition semantics; the
merge itself is the reference's opensearch-sink handoff to Lucene's
segment merging, pulled into the engine as a first-class Spark job).

Requirements checked up front: same k1/b (bounds formula), same
n_buckets (directory routing), same block_size (block boundaries), same
range_bits (the merged stats carry one, and the distributed kernels
group postings and docmeta by the range_id it defines), every source's
stats carry a codec (streams must be tag-byte self-describing so
mixed-codec sources decode per row).  Doc-id
spaces must be disjoint once the drop sets are applied; overlap is
detected from docmeta and rejected.  A fields index cannot drop docs:
docmeta stores no per-field lengths, so its per-field stats could not
be recomputed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import SparkSession, functions as F

from ..hashing import xxh64_signed
from . import build
from .build import _cuts, _paths, _read_stats, _write_stats, _write_termstats
from .build import _termstats_table, _write_bucketed, _write_parquet
from .build import encode_runs, run_bounds
from .codec import (
    VARINT_TAG,
    decode_docids_batch,
    decode_uints_batch,
    varint_value_ends,
)
from .config import (
    SLICE_SCHEMA,
    SLICE_SCHEMA_POS,
    SLICE_STATS_SCHEMA,
    TERMSTATS_SCHEMA,
    IndexConfig,
    arrow_schema,
)
from .deletes import read_tombstones
from .ledger import Ledger
from .scoring import _member_sorted


def fold_fn(drop: np.ndarray, avgdl: float, cfg: IndexConfig):
    """mapInPandas kernel over one source's slice rows: drop the postings
    of the sorted doc_ids *drop* and give every surviving row exact
    block bounds under the merged *avgdl*, group-at-once over each Arrow
    batch (one batch decode per stream).  Rows that lost nothing keep
    their streams and get :func:`build.run_bounds`; rows that lost
    postings re-encode their survivors with :func:`build.encode_runs`
    in ``cfg.codec``; rows that lost everything drop.  Output is
    byte-identical to masking and re-encoding each row alone and then
    recomputing its bounds (pinned by tests/test_deletes.py and
    tests/test_merge.py)."""
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            tf, counts = decode_uints_batch(pdf["tfs"])
            tf = tf.astype(np.int64)
            dl = decode_uints_batch(pdf["dls"])[0].astype(np.int64)
            keep = np.ones(tf.size, dtype=bool)
            if drop.size:
                d = decode_docids_batch(pdf["doc_ids"])[0]
                keep = ~_member_sorted(d, drop)
            row_of = np.repeat(np.arange(len(pdf)), counts)
            kept = np.bincount(row_of[keep], minlength=len(pdf))
            out = pdf.copy()

            def put(rows, cols):
                for c, v in cols.items():
                    col = out[c].to_numpy(copy=True)
                    col[rows] = np.asarray(v, dtype=col.dtype)
                    out[c] = col

            intact = kept == counts
            if intact.any():
                sel = np.repeat(intact, counts)
                n = counts[intact]
                put(intact, run_bounds(
                    tf[sel], dl[sel], np.cumsum(n) - n, avgdl, k1, b, bs
                )[2])
            cut = ~intact & (kept > 0)
            if cut.any():
                in_cut = np.repeat(cut, counts)
                sel = keep & in_cut
                n = kept[cut]
                runs = np.cumsum(n) - n
                cols = encode_runs(
                    d[sel], tf[sel], dl[sel], runs, avgdl, k1, b, bs, cfg.codec
                )
                if cfg.positions:
                    cols["positions"] = _kept_positions(
                        pdf["positions"].to_numpy()[cut],
                        tf[in_cut], keep[in_cut], runs,
                    )
                put(cut, cols)
            yield out[kept > 0]

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


def _dropped_docs(
    spark: SparkSession, src_dirs: list[str], drops: list[np.ndarray]
) -> list[tuple[np.ndarray, int]]:
    """Per source: the sorted doc_ids of its drop set that its docmeta
    holds, and their summed doc_len.  One semi-join collect against the
    broadcast (source, doc_id) drop keys — the result is bounded by the
    drop sets; the docmeta itself never reaches the driver."""
    out = [(np.empty(0, dtype=np.int64), 0)] * len(src_dirs)
    if not any(x.size for x in drops):
        return out
    dm = None
    for i, d in enumerate(src_dirs):
        if drops[i].size:
            part = spark.read.parquet(os.path.join(d, "docmeta")).select(
                F.lit(i).alias("src"), "doc_id", "doc_len"
            )
            dm = part if dm is None else dm.unionByName(part)
    keys = spark.createDataFrame(pd.DataFrame({
        "src": np.repeat(np.arange(len(drops), dtype=np.int32), [x.size for x in drops]),
        "doc_id": np.concatenate(drops),
    }))
    rows = dm.join(F.broadcast(keys), ["src", "doc_id"], "semi").collect()
    src = np.array([r["src"] for r in rows], dtype=np.int64)
    ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
    lens = np.array([r["doc_len"] for r in rows], dtype=np.int64)
    return [
        (np.sort(ids[src == i]), int(lens[src == i].sum()))
        for i in range(len(src_dirs))
    ]


def _merge_docmeta_spark(spark, src_dirs, gone, out: str) -> None:
    dm = None
    for d, (ids, _) in zip(src_dirs, gone):
        part = spark.read.parquet(os.path.join(d, "docmeta"))
        if ids.size:
            ids_df = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
            part = part.join(F.broadcast(ids_df), "doc_id", "left_anti")
        dm = part if dm is None else dm.unionByName(part)
    dup = dm.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        _raise_overlap(dup[0]["doc_id"])
    (
        dm.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(out)
    )


def _raise_overlap(doc_id) -> None:
    raise ValueError(
        f"doc_id {doc_id} appears in more than one source "
        "index — merge requires disjoint doc-id spaces"
    )


def _merge_postings_spark(spark, src_dirs, cfgs, gone, avgdl, out: str) -> None:
    posts = None
    for i, (d, c, (ids, _)) in enumerate(zip(src_dirs, cfgs, gone)):
        # collapse each source's bucket-groups into one bgroup id per
        # source: the dir level is only a physical grouping, and a
        # stable per-source id keeps the merged layout deterministic
        src = spark.read.schema(
            SLICE_SCHEMA_POS if c.positions else SLICE_SCHEMA
        ).parquet(os.path.join(d, "postings")).withColumn(
            "bgroup", F.lit(i).cast("int")
        )
        # dropped postings re-encode in their own source's codec
        part = src.mapInPandas(fold_fn(ids, avgdl, c), schema=src.schema)
        posts = part if posts is None else posts.unionByName(part)
    (
        # narrow local sort only — input files are term_id-sorted and
        # never shuffled, this just restores per-output-file order when
        # a task coalesced several small input files
        posts.sortWithinPartitions("bgroup", "term_bucket", "term_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 1 << 20)
        .partitionBy("bgroup", "term_bucket")
        .parquet(out)
    )


def _merge_termstats_spark(spark, src_dirs, p: dict, cfg: IndexConfig) -> None:
    terms = None
    for d in src_dirs:
        part = spark.read.schema(TERMSTATS_SCHEMA).parquet(
            os.path.join(d, "termstats")
        ).select("term", "term_id")
        terms = part if terms is None else terms.unionByName(part)
    _write_termstats(spark, p, cfg, terms.dropDuplicates(["term_id"]))


def _dropped_docs_local(
    src_dirs: list[str], drops: list[np.ndarray]
) -> list[tuple[np.ndarray, int]]:
    """:func:`_dropped_docs` on the driver: each source's docmeta
    (doc_id, doc_len) read with pyarrow — small sources only."""
    out = []
    for d, x in zip(src_dirs, drops):
        if not x.size:
            out.append((np.empty(0, dtype=np.int64), 0))
            continue
        t = _read_local(os.path.join(d, "docmeta"))
        ids = t["doc_id"].to_numpy()
        hit = _member_sorted(ids, x)
        out.append((np.sort(ids[hit]), int(t["doc_len"].to_numpy()[hit].sum())))
    return out


def _read_local(table_dir: str, schema: pa.Schema | None = None) -> pa.Table:
    """A table dir read with pyarrow: every column, or the columns of
    *schema* cast to it (an empty table when the dir holds no file)."""
    ds = pads.dataset(table_dir, partitioning="hive")
    if schema is None:
        return ds.to_table()
    if not ds.files:
        return schema.empty_table()
    return ds.to_table(columns=schema.names).cast(schema)


def _merge_docmeta_local(src_dirs, gone, out: str) -> None:
    """The docmeta union minus the dropped docs, disjointness checked,
    written sorted by doc_id as one file."""
    shutil.rmtree(out, ignore_errors=True)
    parts = []
    for d, (ids, _) in zip(src_dirs, gone):
        t = _read_local(os.path.join(d, "docmeta"))
        if ids.size:
            t = t.filter(pa.array(~_member_sorted(t["doc_id"].to_numpy(), ids)))
        parts.append(t)
    # Spark writes doc_id/url as required columns in a build and as
    # optional ones in a merge: compare and concatenate types only
    schema = pa.schema([f.with_nullable(True) for f in parts[0].schema])
    dm = pa.concat_tables([t.cast(schema) for t in parts])
    ids = dm["doc_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    dup = np.flatnonzero(ids[order][1:] == ids[order][:-1])
    if dup.size:
        _raise_overlap(ids[order][dup[0]])
    _write_parquet(dm.take(order), os.path.join(out, "part-00000.parquet"))


def _merge_postings_local(src_dirs, cfgs, gone, avgdl, out: str) -> None:
    """Each source's slice rows through :func:`fold_fn` as one batch,
    written under ``bgroup=<source index>`` per term_bucket."""
    shutil.rmtree(out, ignore_errors=True)
    for i, (d, c, (ids, _)) in enumerate(zip(src_dirs, cfgs, gone)):
        schema = arrow_schema(SLICE_SCHEMA_POS if c.positions else SLICE_SCHEMA)
        pdf = _read_local(os.path.join(d, "postings"), schema).to_pandas()
        folded = next(fold_fn(ids, avgdl, c)([pdf]))
        _write_bucketed(
            pa.Table.from_pandas(folded, schema=schema, preserve_index=False),
            os.path.join(out, f"bgroup={i}"), c.n_buckets,
        )


def _merge_termstats_local(src_dirs, p: dict, cfg: IndexConfig) -> None:
    """termstats of the merged postings, term strings from the sources'
    termstats."""
    shutil.rmtree(p["termstats"], ignore_errors=True)
    ts = arrow_schema(TERMSTATS_SCHEMA)
    vocab = pa.concat_tables(
        [_read_local(os.path.join(d, "termstats"), ts) for d in src_dirs]
    )
    ids, first = np.unique(vocab["term_id"].to_numpy(), return_index=True)
    posts = _read_local(p["postings"], arrow_schema(SLICE_STATS_SCHEMA))
    _write_bucketed(
        _termstats_table(posts, ids, vocab["term"].take(first)),
        p["termstats"], cfg.n_buckets,
    )


def merge_indexes(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    drop: list | None = None,
) -> dict:
    """Merge built indexes at *src_dirs* into a new index at *out_dir*,
    leaving out each source's tombstoned docs and the doc_ids of its
    entry in *drop* (one iterable of doc_ids per source, or None).  A
    single source is accepted (the purge case).

    Returns the merged stats dict (same shape as build_index's)."""
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source index")
    if drop is None:
        drop = [None] * len(src_dirs)
    if len(drop) != len(src_dirs):
        raise ValueError("merge_indexes needs one drop set per source index")
    stats = [_read_stats(d) for d in src_dirs]
    cfgs = [IndexConfig.from_dict(s) for s in stats]
    base = cfgs[0]
    for d, s, c in zip(src_dirs, stats, cfgs):
        if "codec" not in s:
            raise ValueError(
                f"{d}: legacy (untagged varint) index — streams are not "
                "self-describing, rebuild before merging"
            )
        key = ("k1", "b", "n_buckets", "block_size", "range_bits", "positions")
        if [getattr(c, f) for f in key] != [getattr(base, f) for f in key]:
            raise ValueError(
                f"{d}: incompatible config ({'/'.join(key)} must match "
                "across merge sources)"
            )
    drops = [
        np.union1d(read_tombstones(d), np.asarray([] if x is None else x, np.int64))
        for d, x in zip(src_dirs, drop)
    ]
    for d, s, x in zip(src_dirs, stats, drops):
        if x.size and s.get("fields_json"):
            raise ValueError(
                f"{d}: cannot drop docs from a fields index — docmeta stores "
                "no per-field lengths, so fields_json cannot be recomputed"
            )
    # small merges run on the driver: same kernel, pyarrow reads/writes
    local = sum(int(s["n_docs"]) for s in stats) < build.LOCAL_DOCS
    gone = (
        _dropped_docs_local(src_dirs, drops) if local
        else _dropped_docs(spark, src_dirs, drops)
    )
    n_docs = sum(int(s["n_docs"]) - g[0].size for s, g in zip(stats, gone))
    total_tokens = sum(int(s["total_tokens"]) - g[1] for s, g in zip(stats, gone))
    if n_docs == 0:
        raise ValueError(
            "merge would produce an empty index (every doc deleted or "
            "superseded) — refusing to publish an empty version"
        )
    avgdl = total_tokens / n_docs
    # multi-field sources: per-field stats are stored as ADDITIVE sums
    # (n_docs, total_tokens), so disjoint-doc-space merge is exact
    # summation; every source must agree on the field set (all-or-none)
    field_sets = [
        set(json.loads(s["fields_json"])) if s.get("fields_json") else set()
        for s in stats
    ]
    if any(field_sets) and not all(fs == field_sets[0] for fs in field_sets):
        raise ValueError(
            f"merge sources disagree on fields: {sorted(map(sorted, field_sets))}"
        )
    merged_stats = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        **base.to_dict(),
    }
    if field_sets[0]:
        acc: dict = {}
        for s in stats:
            for f, v in json.loads(s["fields_json"]).items():
                a = acc.setdefault(f, {"n_docs": 0, "total_tokens": 0})
                a["n_docs"] += int(v["n_docs"])
                a["total_tokens"] += int(v["total_tokens"])
        merged_stats["fields_json"] = json.dumps(acc, sort_keys=True)

    p = _paths(out_dir)
    fp = format(
        xxh64_signed(
            json.dumps(
                [[os.path.abspath(d) for d in src_dirs],
                 [[int(s["n_docs"]), int(s["total_tokens"])] for s in stats],
                 [format(xxh64_signed(x.tobytes()) & ((1 << 64) - 1), "x")
                  for x in drops]],
                sort_keys=True,
            )
        )
        & ((1 << 64) - 1),
        "016x",
    )
    ledger = Ledger(out_dir)

    # ---- stage: doc metadata union minus drops + disjointness + stats ----
    if 0 not in ledger.completed("merge_docmeta", fp):
        if local:
            _merge_docmeta_local(src_dirs, gone, p["docmeta"])
        else:
            _merge_docmeta_spark(spark, src_dirs, gone, p["docmeta"])
        _write_stats(out_dir, merged_stats)
        ledger.commit("merge_docmeta", 0, token_count=total_tokens, input_fingerprint=fp)

    # ---- stage: posting union, drops applied, exact bounds (no shuffle) ----
    if 0 not in ledger.completed("merge_postings", fp):
        if local:
            _merge_postings_local(src_dirs, cfgs, gone, avgdl, p["postings"])
        else:
            _merge_postings_spark(spark, src_dirs, cfgs, gone, avgdl, p["postings"])
        ledger.commit("merge_postings", 0, input_fingerprint=fp)

    # ---- stage: global termstats; term strings from the sources'
    # termstats (terms whose postings all dropped vanish in its join) ----
    if 0 not in ledger.completed("termstats", fp):
        if local:
            _merge_termstats_local(src_dirs, p, base)
        else:
            _merge_termstats_spark(spark, src_dirs, p, base)
        ledger.commit("termstats", 0, input_fingerprint=fp)

    ledger.commit("finalize", 0, input_fingerprint=fp)
    return merged_stats
