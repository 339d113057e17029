"""Live (streaming) index: readStream pages → per-batch delta build →
merge → CURRENT pointer swap (index/live.py).  Gate: after the stream
drains a multi-file corpus one file per micro-batch, the CURRENT index
must be rank-identical to the pure-Python oracle over the whole corpus —
i.e. incremental ingestion is invisible to queries."""

import os

import pytest

from data_prepper_spark.corpus import reference_queries
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.live import (
    apply_batch,
    resolve_current,
    start_stream_index,
)
from data_prepper_spark.index.query import BM25Searcher

CFG = IndexConfig(range_bits=2, block_size=16, n_buckets=8)


def _assert_rank_identical(got, want, ctx):
    import numpy as np

    assert [d for d, _ in got] == [d for d, _ in want], ctx
    assert np.allclose(
        np.array([s for _, s in got]), np.array([s for _, s in want]),
        rtol=1e-9, atol=1e-12,
    ), ctx


@pytest.fixture(scope="module")
def live_dir(spark, tiny_corpus_path, workdir):
    out = os.path.join(workdir, "live_index")
    q = start_stream_index(
        spark, tiny_corpus_path, out, CFG,
        checkpoint_dir=os.path.join(workdir, "live_ckpt"),
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    assert not q.isActive
    return out


def test_live_index_rank_identical(spark, live_dir, oracle_tiny):
    cur = resolve_current(live_dir)
    assert cur != live_dir  # CURRENT pointer exists and resolves
    s = BM25Searcher(spark, cur)
    assert s.n_docs == oracle_tiny.n_docs
    for q in reference_queries()[:8]:
        want = oracle_tiny.topk(q["query_text"], q["k"])
        got = s.search(q["query_text"], k=q["k"], mode="bmw")
        _assert_rank_identical(got, want, q["query_text"])


def test_live_index_multiple_versions_and_prune(live_dir):
    versions = sorted(
        int(n.split("=", 1)[1]) for n in os.listdir(live_dir) if n.startswith("v=")
    )
    # several micro-batches ran (one file each) and old versions pruned
    assert len(versions) <= 2  # keep_versions=1
    assert versions[-1] >= 2  # at least 3 batches merged


def test_live_batch_replay_is_idempotent(spark, live_dir, tiny_corpus_path):
    """Replaying an already-committed batch_id (crash-recovery path) must
    change nothing — no duplicate docs, same CURRENT."""
    before = open(os.path.join(live_dir, "CURRENT")).read()
    pages = spark.read.parquet(tiny_corpus_path).limit(50)
    last_bid = int(before.split(",")[1])
    apply_batch(spark, pages, last_bid, live_dir, CFG)  # replay
    assert open(os.path.join(live_dir, "CURRENT")).read() == before


def test_live_deferred_merge_and_compact(spark, tiny_corpus_path, workdir, oracle_tiny):
    """merge_every=k defers folding: deltas accumulate on disk and one
    N-way merge folds base + k deltas (k× less base-rewrite).  After the
    drain, compact() folds the remainder; results must still be
    rank-identical to the full-corpus oracle."""
    from data_prepper_spark.index.live import compact

    out = os.path.join(workdir, "live_deferred")
    q = start_stream_index(
        spark, tiny_corpus_path, out, CFG,
        checkpoint_dir=os.path.join(workdir, "live_deferred_ckpt"),
        available_now=True, max_files_per_trigger=1, merge_every=3,
    )
    q.awaitTermination(600)
    assert not q.isActive
    cur = compact(spark, out)
    # far fewer folds than batches: versions advance once per fold
    ver = int(open(os.path.join(out, "CURRENT")).read().split(",")[0])
    assert ver <= 3
    s = BM25Searcher(spark, cur)
    assert s.n_docs == oracle_tiny.n_docs
    for rq in reference_queries()[:5]:
        want = oracle_tiny.topk(rq["query_text"], rq["k"])
        got = s.search(rq["query_text"], k=rq["k"], mode="bmw")
        _assert_rank_identical(got, want, rq["query_text"])


# ---------------------------------------------------------------- upserts

def _mk_docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _doc_text(i, version="a"):
    extra = "gamma " * (i % 3) if version == "a" else "delta refresh "
    return f"alpha beta doc{i:04d} {extra}".strip()


UPQ = ["alpha beta", "gamma", "delta refresh", "doc0042"]


def test_upsert_last_writer_wins(spark, workdir):
    """Re-ingesting a doc_id replaces the old version (Lucene
    update-by-delete-and-add): fold purges superseded copies, and the
    folded index is rank-identical to a fresh build over the LATEST
    version of every doc."""
    from data_prepper_spark.index.build import build_oneshot_text

    out = os.path.join(workdir, "live_upsert")
    b0 = [(i, _doc_text(i, "a")) for i in range(100)]
    b1 = [(i, _doc_text(i, "b")) for i in range(30, 50)] + [
        (i, _doc_text(i, "a")) for i in range(100, 120)
    ]
    apply_batch(
        spark, _mk_docs(spark, b0), 0, out, CFG, builder=build_oneshot_text
    )
    apply_batch(
        spark, _mk_docs(spark, b1), 1, out, CFG, builder=build_oneshot_text
    )
    cur = resolve_current(out)
    s = BM25Searcher(spark, cur)
    assert s.n_docs == 120

    latest = dict(b0)
    latest.update(dict(b1))
    fresh = os.path.join(workdir, "live_upsert_fresh")
    build_oneshot_text(
        spark, _mk_docs(spark, sorted(latest.items())), fresh, CFG
    )
    sf = BM25Searcher(spark, fresh)
    for q in UPQ:
        _assert_rank_identical(
            s.search(q, k=10, mode="bmw"), sf.search(q, k=10, mode="bmw"), q
        )
        _assert_rank_identical(
            s.search(q, k=10, mode="brute"), sf.search(q, k=10, mode="brute"), q
        )
    # updated docs carry the NEW content: "delta refresh" hits exactly 30..49
    hits = {d for d, _ in s.search("refresh", k=100, mode="brute")}
    assert hits == set(range(30, 50))


def test_upsert_replay_idempotent(spark, workdir):
    from data_prepper_spark.index.live import _read_current
    from data_prepper_spark.index.build import build_oneshot_text

    out = os.path.join(workdir, "live_upsert")  # built by previous test
    before = _read_current(out)
    apply_batch(
        spark,
        _mk_docs(spark, [(1, "should never land")]),
        1,  # replayed batch id
        out,
        CFG,
        builder=build_oneshot_text,
    )
    assert _read_current(out) == before


def test_live_delete_then_compact(spark, workdir):
    """live_delete_docs masks immediately for new searchers; compact()
    physically purges and the result equals a fresh build over the
    survivors."""
    from data_prepper_spark.index.build import build_oneshot_text
    from data_prepper_spark.index.live import compact, live_delete_docs

    out = os.path.join(workdir, "live_upsert")  # 120 docs, post-upsert
    dead = [5, 31, 110]
    n = live_delete_docs(out, dead)
    assert n == len(dead)
    s = BM25Searcher(spark, resolve_current(out))
    assert s.deleted.size == len(dead)
    assert not ({d for d, _ in s.search("alpha beta", k=200, mode="brute")}
                & set(dead))

    cur = compact(spark, out)
    s2 = BM25Searcher(spark, cur)
    assert s2.deleted.size == 0
    assert s2.n_docs == 117

    latest = {i: _doc_text(i, "a") for i in range(100)}
    latest.update({i: _doc_text(i, "b") for i in range(30, 50)})
    latest.update({i: _doc_text(i, "a") for i in range(100, 120)})
    for d in dead:
        latest.pop(d)
    fresh = os.path.join(workdir, "live_del_fresh")
    build_oneshot_text(
        spark, _mk_docs(spark, sorted(latest.items())), fresh, CFG
    )
    sf = BM25Searcher(spark, fresh)
    for q in UPQ:
        _assert_rank_identical(
            s2.search(q, k=10, mode="bmw"), sf.search(q, k=10, mode="bmw"), q
        )


def test_compact_counts_only_present_tombstones_and_refuses_empty(
    spark, workdir
):
    """Tombstones of doc_ids the index never held drop nothing: with as
    many of them as live docs plus one real delete, compact keeps every
    other doc.  Tombstoning every remaining doc and compacting would
    publish an empty index: the fold raises and CURRENT (and its version
    dir) stay as they were."""
    from data_prepper_spark.index.build import build_oneshot_text
    from data_prepper_spark.index.live import compact, live_delete_docs

    out = os.path.join(workdir, "live_all_deleted")
    docs = [(i, _doc_text(i)) for i in range(12)]
    apply_batch(
        spark, _mk_docs(spark, docs), 0, out, CFG, builder=build_oneshot_text
    )
    live_delete_docs(out, [0] + list(range(1000, 1000 + len(docs))))
    s = BM25Searcher(spark, compact(spark, out))
    assert s.n_docs == len(docs) - 1
    hits = {d for d, _ in s.search("alpha beta", k=100, mode="brute")}
    assert hits == set(range(1, len(docs)))

    before = open(os.path.join(out, "CURRENT")).read()
    live_delete_docs(out, range(1, len(docs)))
    with pytest.raises(ValueError, match="refusing to publish an empty version"):
        compact(spark, out)
    assert open(os.path.join(out, "CURRENT")).read() == before
    assert BM25Searcher(spark, resolve_current(out)).n_docs == len(docs) - 1


def test_upsert_superseding_whole_base(spark, workdir):
    """An upsert batch that re-ingests every base doc leaves the base
    with nothing to contribute: the fold is rank-identical to a fresh
    build over the batch alone."""
    from data_prepper_spark.index.build import build_oneshot_text

    out = os.path.join(workdir, "live_upsert_all")
    b0 = [(i, _doc_text(i, "a")) for i in range(40)]
    b1 = [(i, _doc_text(i, "b")) for i in range(40)] + [
        (i, _doc_text(i, "a")) for i in range(40, 50)
    ]
    for bid, batch in enumerate((b0, b1)):
        apply_batch(
            spark, _mk_docs(spark, batch), bid, out, CFG,
            builder=build_oneshot_text,
        )
    s = BM25Searcher(spark, resolve_current(out))
    fresh = os.path.join(workdir, "live_upsert_all_fresh")
    build_oneshot_text(spark, _mk_docs(spark, b1), fresh, CFG)
    sf = BM25Searcher(spark, fresh)
    assert (s.n_docs, s.avgdl) == (sf.n_docs, sf.avgdl)
    for q in UPQ:
        for mode in ("bmw", "brute"):
            _assert_rank_identical(
                s.search(q, k=10, mode=mode), sf.search(q, k=10, mode=mode),
                f"{mode} {q!r}",
            )


def test_live_index_docvalues_filtered(spark, tiny_corpus_path, tiny_pages_pd,
                                       workdir):
    """Docvalues flow through the streaming path: a live index whose
    per-batch builder stores field_cols serves filtered + sorted search
    after N delta-merge folds (docmeta survives merge's unionByName)."""
    import datetime
    import functools

    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.filtered import search_filtered, search_sorted

    out = os.path.join(workdir, "live_index_dv")
    builder = functools.partial(build_oneshot, field_cols=("lang", "warc_ts"))
    q = start_stream_index(
        spark, tiny_corpus_path, out, CFG,
        checkpoint_dir=os.path.join(workdir, "live_dv_ckpt"),
        available_now=True, max_files_per_trigger=2, builder=builder,
    )
    q.awaitTermination(600)
    assert not q.isActive
    s = BM25Searcher(spark, resolve_current(out))
    cut = datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=400)
    flt = [("warc_ts", "<", cut)]
    got = search_filtered(s, "the data", flt, k=10)
    allowed = {
        xxh64_signed(r.url)
        for r in tiny_pages_pd.itertuples(index=False)
        if r.warc_ts.to_pydatetime() < cut
    }
    assert got and all(d in allowed for d, _ in got)
    srt = search_sorted(s, "the data", "warc_ts", k=5, filters=flt)
    assert srt and all(d in allowed for d, _ in srt)
    vals = [v for _, v in srt]
    assert vals == sorted(vals, reverse=True)  # newest-first


def test_fold_never_collects_base_docmeta(spark, workdir, monkeypatch):
    """Scale invariant of the upsert/merge path: _fold must never collect
    the BASE index's docmeta to the driver (at 10^12 docs that is ~TBs of
    int64).  Only batch-bounded DELTA docsets may be collected; the
    base's superseded set is computed inside merge_indexes (Spark-side,
    a semi-join against the broadcast drop set, unless the whole fold is
    small enough for its driver route)."""
    from data_prepper_spark.index import live
    from data_prepper_spark.index.build import build_oneshot_text

    out = os.path.join(workdir, "live_no_base_collect")
    real = live._doc_id_set

    def guarded(index_dir):
        assert "v=" not in os.path.basename(
            index_dir.rstrip("/")
        ), f"_doc_id_set collected a BASE version dir: {index_dir}"
        assert "_delta" in index_dir, (
            f"_doc_id_set called on a non-delta dir: {index_dir}"
        )
        return real(index_dir)

    monkeypatch.setattr(live, "_doc_id_set", guarded)
    b0 = [(i, _doc_text(i, "a")) for i in range(60)]
    b1 = [(i, _doc_text(i, "b")) for i in range(20, 40)]
    apply_batch(
        spark, _mk_docs(spark, b0), 0, out, CFG, builder=build_oneshot_text
    )
    apply_batch(  # upsert fold: base v=0 + delta batch=1
        spark, _mk_docs(spark, b1), 1, out, CFG, builder=build_oneshot_text
    )
    s = BM25Searcher(spark, resolve_current(out))
    assert s.n_docs == 60
    hits = {d for d, _ in s.search("refresh", k=100, mode="brute")}
    assert hits == set(range(20, 40))


def test_kafka_source_gate(spark):
    """Kafka source surface (KafkaSource.java:88-120 analog): skips when
    the spark-sql-kafka connector jar is absent (this container), raises
    a clear NotImplementedError through the gate, and builds the plan
    when present."""
    from data_prepper_spark.index.live import kafka_available, kafka_page_stream

    schema = "url string, text string"
    if not kafka_available(spark):
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            kafka_page_stream(spark, "localhost:9092", "pages", schema)
        _pytest.skip("spark-sql-kafka connector not on classpath")
    df = kafka_page_stream(spark, "localhost:9092", "pages", schema)
    assert set(df.columns) == {"url", "text"}


def test_socket_page_stream_end_to_end(spark, workdir):
    """Socket push-ingest (the HTTP source's shape, HTTPSource.java:43):
    a local TCP server feeds ndjson docs (plus one corrupt line, the
    400-reject analog) into start_stream_index(socket_host=...); the
    live index becomes searchable, then the query is stopped by polling
    — a live push source never self-terminates."""
    import json
    import socket
    import threading
    import time

    from data_prepper_spark.index.build import build_oneshot_text
    from data_prepper_spark.index.live import _read_current, start_stream_index

    docs = [{"doc_id": i, "text": f"socket stream doc{i:02d} omega"} for i in range(12)]
    payload = (
        "\n".join(json.dumps(d) for d in docs) + "\nnot-json-at-all\n"
    ).encode()

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop_evt = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(payload)
        stop_evt.wait(60)  # keep the connection open until the query stops
        conn.close()
        srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = os.path.join(workdir, "live_socket")
    q = start_stream_index(
        spark, None, out, CFG,
        schema="doc_id long, text string",
        builder=build_oneshot_text,
        socket_host="127.0.0.1", socket_port=port,
    )
    try:
        deadline = time.time() + 60
        hits = []
        while time.time() < deadline:
            # before the first batch commits, resolve_current returns the
            # bare root (plain-index convention) — wait for a version
            if _read_current(out) is not None:
                s = BM25Searcher(spark, resolve_current(out))
                if s.n_docs >= len(docs):
                    hits = s.search("omega", k=20, mode="brute")
                    break
            time.sleep(0.5)
    finally:
        stop_evt.set()
        q.stop()
    assert {d for d, _ in hits} == {d["doc_id"] for d in docs}


def test_kafka_sink_gate(spark):
    """Kafka sink surface (kafka-plugins sink analog): raises a clear
    NotImplementedError when the connector jar is absent; with the jar,
    rows serialize to (key, value-JSON) messages."""
    from data_prepper_spark.index.live import kafka_available, kafka_sink

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    if not kafka_available(spark):
        with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
            kafka_sink(df, "localhost:9092", "events", key_col="id")
        pytest.skip("spark-sql-kafka connector not on classpath")
    kafka_sink(df, "localhost:9092", "events", key_col="id")
