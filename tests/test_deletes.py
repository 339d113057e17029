"""Document deletes: tombstone (liveDocs) masking and purge correctness.

Semantics pinned (Lucene's delete model — index/deletes.py):
  - a tombstoned doc leaves every result IMMEDIATELY, but n_docs / avgdl
    / df stay full-index until a purge (docFreq counts deleted docs
    until segments merge);
  - purge_deletes rewrites the index; the result is rank-identical to a
    fresh build over the surviving corpus (stats fully recomputed).
"""

import os
import shutil

import numpy as np
import pytest

from data_prepper_spark.corpus import reference_queries
from data_prepper_spark.hashing import xxh64_signed
from data_prepper_spark.index.deletes import (
    clear_tombstones,
    delete_docs,
    purge_deletes,
    read_tombstones,
)
from data_prepper_spark.index.query import BM25Searcher

QUERIES = [q["query_text"] for q in reference_queries()][:12]


def _deleted_set(oracle):
    """Deterministic ~1/7 of the corpus."""
    return sorted(d for d in oracle.doc_len if d % 7 == 3)


def _masked_oracle_topk(oracle, query, deleted, k=10):
    """Full-index stats, deleted docs filtered before ranking — the
    tombstone semantics."""
    dset = set(deleted)
    allhits = oracle.topk(query, 10**9)
    return [(d, s) for d, s in allhits if d not in dset][:k]


def _assert_rank_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    g = np.array([s for _, s in got])
    w = np.array([s for _, s in want])
    if g.size:
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-12, err_msg=ctx)


@pytest.fixture(scope="module")
def tomb_index(tiny_index, workdir, oracle_tiny):
    """Copy of the tiny index with ~1/7 of docs tombstoned."""
    src, cfg, _ = tiny_index
    d = os.path.join(workdir, "index_tomb")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(src, d)
    deleted = _deleted_set(oracle_tiny)
    n = delete_docs(d, deleted)
    assert n == len(deleted)
    return d, deleted


def test_delete_docs_idempotent(tomb_index):
    d, deleted = tomb_index
    before = read_tombstones(d)
    assert delete_docs(d, deleted) == 0  # replay is a no-op
    after = read_tombstones(d)
    np.testing.assert_array_equal(before, after)


def test_tombstone_masked_search_all_modes(spark, tomb_index, oracle_tiny):
    d, deleted = tomb_index
    s = BM25Searcher(spark, d)
    assert s.deleted.size == len(deleted)
    for q in QUERIES:
        want = _masked_oracle_topk(oracle_tiny, q, deleted)
        got_bmw = s.search(q, k=10, mode="bmw")
        got_brute = s.search(q, k=10, mode="brute")
        got_dist = s.search(q, k=10, mode="bmw", distributed=True)
        _assert_rank_identical(got_bmw, want, f"bmw {q!r}")
        _assert_rank_identical(got_brute, want, f"brute {q!r}")
        _assert_rank_identical(got_dist, want, f"distributed {q!r}")


def test_masked_search_all_excludes_deleted(spark, tomb_index):
    d, deleted = tomb_index
    s = BM25Searcher(spark, d)
    hits = s.search_all("the data")
    assert hits, "head terms must match"
    assert not (set(h for h, _ in hits) & set(deleted))


def test_purge_rank_identical_to_fresh_build(
    spark, tomb_index, tiny_pages_pd, workdir
):
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.oracle import OracleIndex

    d, deleted = tomb_index
    purged = os.path.join(workdir, "index_purged")
    shutil.rmtree(purged, ignore_errors=True)
    stats = purge_deletes(spark, d, purged)

    dset = set(deleted)
    survivors = tiny_pages_pd[
        [xxh64_signed(u) not in dset for u in tiny_pages_pd["url"]]
    ]
    fresh_oracle = OracleIndex().build(survivors)
    assert stats["n_docs"] == fresh_oracle.n_docs
    assert stats["total_tokens"] == fresh_oracle.total_tokens
    assert abs(stats["avgdl"] - fresh_oracle.avgdl) < 1e-9

    s = BM25Searcher(spark, purged)
    assert s.deleted.size == 0  # purge leaves no tombstones behind
    for q in QUERIES:
        want = fresh_oracle.topk(q, 10)
        _assert_rank_identical(s.search(q, k=10, mode="bmw"), want, f"bmw {q!r}")
        _assert_rank_identical(
            s.search(q, k=10, mode="brute"), want, f"brute {q!r}"
        )


def test_purge_positional_phrase(spark, tiny_corpus_path, workdir):
    """Purging a positional index keeps phrase matching correct: the
    purged index's phrase matches equal the fresh positional build's
    over the surviving docs (positions stream byte-sliced per doc)."""
    from pyspark.sql import functions as F

    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.phrase import phrase_topk

    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8, positions=True)
    pages = spark.read.parquet(tiny_corpus_path)
    full = os.path.join(workdir, "pos_full_del")
    build_oneshot(spark, pages, full, cfg)

    s_full = BM25Searcher(spark, full)
    all_docs = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{full}/docmeta").select("doc_id").collect()
    )
    deleted = [d for d in all_docs if d % 5 == 1]
    delete_docs(full, deleted)

    purged = os.path.join(workdir, "pos_purged")
    shutil.rmtree(purged, ignore_errors=True)
    purge_deletes(spark, full, purged)

    fresh = os.path.join(workdir, "pos_fresh_survivors")
    surv = pages.withColumn("doc_id", F.xxhash64("url")).filter(
        F.pmod(F.col("doc_id"), F.lit(5)) != 1
    ).drop("doc_id")
    build_oneshot(spark, surv, fresh, cfg)

    s_purged = BM25Searcher(spark, purged)
    s_fresh = BM25Searcher(spark, fresh)
    assert s_purged.n_docs == s_fresh.n_docs
    assert abs(s_purged.avgdl - s_fresh.avgdl) < 1e-9
    for ph in ["the data", "spark index", "of the"]:
        got = phrase_topk(s_purged, ph, k=10, distributed=False)
        want = phrase_topk(s_fresh, ph, k=10, distributed=False)
        _assert_rank_identical(got, want, f"phrase {ph!r}")

    # tombstone masking on the un-purged index: matches = full minus deleted
    s_tomb = BM25Searcher(spark, full)
    dset = set(deleted)
    for ph in ["the data", "of the"]:
        full_matches = {
            d for d, _ in phrase_topk(s_full, ph, k=10**9, distributed=False)
        }
        masked = {d for d, _ in phrase_topk(s_tomb, ph, k=10**9, distributed=False)}
        assert masked == full_matches - dset, ph
        # driver and distributed agree under the mask
        drv = phrase_topk(s_tomb, ph, k=10, distributed=False)
        dst = phrase_topk(s_tomb, ph, k=10, distributed=True)
        assert [d for d, _ in drv] == [d for d, _ in dst], ph


# ---- purge kernel: group-at-once vs a per-row reference (no Spark) ----


def _slice_batch(rng, codec, positions, block_size=4, n_tok=3000):
    """Encoded posting-slice rows as a mapInPandas batch sees them: the
    build kernel's output plus the table's partition columns.  Term
    sizes span 1 posting to many blocks."""
    import pandas as pd

    from data_prepper_spark.index.build import encode_slice_fn
    from data_prepper_spark.index.codec import varint_encode

    docs = rng.integers(-(2**62), 2**62, size=400, dtype=np.int64)
    dls = rng.integers(5, 900, size=docs.size)
    terms = rng.integers(-(2**62), 2**62, size=60, dtype=np.int64)
    # skewed term choice: a few head terms, a long tail of 1-2 postings
    t = terms[np.minimum(rng.geometric(0.08, size=n_tok) - 1, terms.size - 1)]
    di = rng.integers(0, docs.size, size=n_tok)
    pdf = pd.DataFrame({
        "term_id": t, "range_id": np.full(n_tok, 2, dtype=np.int32),
        "doc_id": docs[di], "tf": rng.integers(1, 9, size=n_tok),
        "dl": dls[di],
    }).drop_duplicates(["term_id", "doc_id"]).reset_index(drop=True)
    if positions:
        pdf["pos_blob"] = [
            varint_encode(rng.integers(0, 300, size=n).astype(np.uint64))
            for n in pdf["tf"]
        ]
    out = encode_slice_fn(150.0, 1.2, 0.75, block_size, codec, positions)(pdf)
    out["bgroup"] = np.int32(0)
    out["term_bucket"] = (out["term_id"] % 8).astype(np.int32)
    return out, np.unique(pdf["doc_id"].to_numpy())


def _purge_rows_ref(pdf, deleted, cfg, avgdl):
    """One row at a time: decode, mask, re-encode with the index codec."""
    from data_prepper_spark.index.codec import (
        VARINT_TAG,
        decode_docids,
        decode_uints,
        encode_docids,
        encode_uints,
        pack_f32,
        pack_i64,
        varint_value_ends,
    )

    k1, b, bs = cfg.k1, cfg.b, cfg.block_size
    rows = []
    for row in pdf.to_dict("records"):
        d = decode_docids(bytes(row["doc_ids"]))
        keep = ~np.isin(d, deleted)
        if not keep.any():
            continue
        tf = decode_uints(bytes(row["tfs"])).astype(np.int64)
        dl = decode_uints(bytes(row["dls"])).astype(np.int64)
        new = dict(row)
        if cfg.positions:
            stream = np.frombuffer(bytes(row["positions"]), dtype=np.uint8)[1:]
            end = varint_value_ends(stream)[np.cumsum(tf) - 1] + 1
            start = np.concatenate(([0], end[:-1]))
            sb = stream.tobytes()
            new["positions"] = VARINT_TAG + b"".join(
                sb[a:z] for a, z, kp in zip(start, end, keep) if kp
            )
        d, tf, dl = d[keep], tf[keep], dl[keep]
        norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        ub = np.nextafter(norm.astype(np.float32), np.float32(np.inf))
        starts = np.arange(0, d.size, bs)
        block_ubs = np.maximum.reduceat(ub, starts)
        new.update(
            df_slice=d.size, cf_slice=tf.sum(),
            doc_ids=encode_docids(d, cfg.codec),
            tfs=encode_uints(tf.astype(np.uint64), cfg.codec),
            dls=encode_uints(dl.astype(np.uint64), cfg.codec),
            block_firsts=pack_i64(d[starts]), block_ubs=pack_f32(block_ubs),
            max_ub=np.float32(block_ubs.max()), n_blocks=starts.size,
        )
        rows.append(new)
    return rows


@pytest.mark.parametrize("codec", ["varint", "pfor"])
@pytest.mark.parametrize("positions", [False, True])
def test_purge_kernel_matches_per_row_reference(codec, positions):
    """The group-at-once purge kernel emits, byte for byte, what
    decoding, masking and re-encoding each row alone emits — including
    rows that lose every posting (dropped), multi-block rows
    (block_size=4), a batch whose source rows mix both codecs, and an
    empty batch."""
    import pandas as pd

    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.index.deletes import _purge_fn

    rng = np.random.default_rng(41)
    cfg = IndexConfig(block_size=4, codec=codec, positions=positions)
    pdf, docs = _slice_batch(rng, codec, positions)
    other = "pfor" if codec == "varint" else "varint"
    mixed = pd.concat(
        [pdf, _slice_batch(rng, other, positions)[0]], ignore_index=True
    )
    sizes = pdf["df_slice"].to_numpy()
    assert sizes.min() == 1 and sizes.max() > 4 * cfg.block_size
    from data_prepper_spark.index.codec import decode_docids

    # every doc of the first single-posting row goes, so that row drops
    lone = decode_docids(pdf.loc[np.argmin(sizes), "doc_ids"])
    deleted = np.unique(np.concatenate([lone, docs[rng.random(docs.size) < 0.2]]))
    avgdl = 171.25
    for batch in (pdf, mixed):
        got = list(_purge_fn(deleted, cfg, avgdl)(iter([batch])))
        assert len(got) == 1
        want = _purge_rows_ref(batch, deleted, cfg, avgdl)
        assert 0 < len(want) < len(batch)
        assert list(got[0].columns) == list(batch.columns)
        got_rows = got[0].to_dict("records")
        assert len(got_rows) == len(want)
        for g, w in zip(got_rows, want):
            assert g.keys() == w.keys()
            for c in w:
                assert g[c] == w[c], c
    empty = list(_purge_fn(deleted, cfg, avgdl)(iter([pdf.iloc[0:0]])))
    assert len(empty) == 1 and len(empty[0]) == 0
    # nothing deleted → every row re-encodes to itself
    same = next(_purge_fn(np.empty(0, np.int64), cfg, 150.0)(iter([pdf])))
    assert same.reset_index(drop=True).equals(pdf)
