"""Continuous ingestion → live index (Structured Streaming foreachBatch).

The north star's accept→filter→transform→index pipeline, run as a
STREAM: each micro-batch of new pages builds a DELTA index (the normal
one-shot build) and MERGES it into the serving index via
index/merge.py — Lucene's segment-commit model recast on Spark's
exactly-once micro-batch engine.  The fold is one merge_indexes call:
docs superseded by a newer delta (upserts) and tombstoned docs are
dropped inside the same posting rewrite, so the base is rewritten once
per fold.

Below ``build.LOCAL_DOCS`` both halves run on the driver with the Spark
stages' own kernels: a batch costs two Spark jobs (the emptiness check
and the Arrow collect of the batch) instead of ~40, and becomes visible
in about a second rather than ~11 s (tests/test_local_route.py pins the
job count and the identity of the two routes).

Layout under *index_dir*:
    CURRENT            — "<version>,<last_batch_id>" (atomic pointer)
    v=<N>/             — full index directories (the merge outputs)
    _delta/batch=<id>/ — per-batch delta indexes (pruned after merge)

Consistency story:
  - Spark's streaming checkpoint replays an unacknowledged batch after a
    crash; the CURRENT pointer carries last_batch_id, so a replayed
    batch is detected and SKIPPED (idempotent foreachBatch — the
    standard exactly-once sink pattern).  A crash inside the merge
    itself resumes through the merge ledger (no recompute).
  - Readers resolve CURRENT once per searcher open; versions are whole
    directories, so an in-flight reader on v=N is never mutated by the
    commit of v=N+1 (snapshot isolation by immutability — the Iceberg
    table-version model applied to index segments).
  - Old versions are pruned keeping `keep_versions` behind CURRENT.

Reference anchor: the opensearch sink's bulk-ingest + refresh lifecycle
(data-prepper-plugins/opensearch — documents stream in, Lucene commits
segments, readers see the new point-in-time view on refresh).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

from .build import build_oneshot
from .config import IndexConfig
from .deletes import delete_docs, read_tombstones
from .deletes import purge_deletes  # noqa: F401  (traced by attribute in perfbench/run.py)
from .ledger import Ledger
from .merge import merge_indexes


def _read_current(index_dir: str) -> tuple[int, int] | None:
    p = os.path.join(index_dir, "CURRENT")
    if not os.path.exists(p):
        return None
    v, b = open(p).read().strip().split(",")
    return int(v), int(b)


def _write_current(index_dir: str, version: int, batch_id: int) -> None:
    p = os.path.join(index_dir, "CURRENT")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"{version},{batch_id}")
    os.replace(tmp, p)  # atomic pointer swap


def resolve_current(index_dir: str) -> str:
    """Directory a searcher should open: the CURRENT version of a live
    index, or *index_dir* itself for a plain batch-built index."""
    cur = _read_current(index_dir)
    if cur is None:
        return index_dir
    if cur[0] < 0:
        raise ValueError(
            "live index has ingested batches but published no version yet "
            "(merge_every deferral) — run index.live.compact() to fold "
            "pending deltas"
        )
    return os.path.join(index_dir, f"v={cur[0]}")


def _prune(index_dir: str, current_version: int, keep_versions: int) -> None:
    for name in os.listdir(index_dir):
        if name.startswith("v="):
            v = int(name.split("=", 1)[1])
            if v < current_version - keep_versions:
                shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


def _pending_deltas(index_dir: str) -> list[str]:
    root = os.path.join(index_dir, "_delta")
    if not os.path.isdir(root):
        return []
    out = []
    for name in sorted(
        os.listdir(root), key=lambda n: int(n.split("=", 1)[1])
    ):
        d = os.path.join(root, name)
        # only deltas whose build FINALIZED count (the ledger's finalize
        # commit is the last write of a one-shot build; stats/ alone is
        # written mid-build and would admit a crashed, postings-less delta)
        if Ledger(d).completed("finalize"):
            out.append(d)
    return out


def apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    cfg: IndexConfig,
    keep_versions: int = 1,
    builder=build_oneshot,
    merge_every: int = 1,
) -> None:
    """Index one micro-batch: delta build → (maybe) merge → pointer swap.
    Idempotent on batch_id (replays after a crash are skipped).

    merge_every=1 merges the base on every batch (lowest visibility lag,
    highest write amplification).  merge_every=k defers: deltas
    accumulate on disk and one N-WAY merge folds base + k deltas at
    once — per-batch base-rewrite cost drops k×, at the price of up to
    k-1 batches of visibility lag.  Call :func:`compact` to fold any
    pending deltas immediately (e.g. after an availableNow drain).

    A batch that indexes no doc (no rows, or none in the indexed
    language) advances the batch watermark and publishes no version; as
    the first batch it creates nothing."""
    cur = _read_current(index_dir)
    if cur is not None and batch_id <= cur[1]:
        return  # replayed batch — already committed
    delta = os.path.join(index_dir, "_delta", f"batch={batch_id}")
    shutil.rmtree(delta, ignore_errors=True)  # partial replay leftovers
    # the build's one collect already sees the rows: its n_docs decides
    # emptiness, with no Spark job of its own
    if builder(spark, batch_df, delta, cfg)["n_docs"] == 0:
        shutil.rmtree(delta, ignore_errors=True)
        if cur is not None:
            _write_current(index_dir, cur[0], batch_id)
        return
    os.makedirs(index_dir, exist_ok=True)
    cur = _read_current(index_dir)
    if cur is None and merge_every <= 1:
        dest = os.path.join(index_dir, "v=0")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.move(delta, dest)
        _write_current(index_dir, 0, batch_id)
        return
    pending = _pending_deltas(index_dir)
    if len(pending) >= merge_every or cur is None and len(pending) > 1:
        _fold(spark, index_dir, pending, batch_id, keep_versions)
    else:
        # delta committed on disk; advance the batch watermark only —
        # the delta becomes visible at the next fold
        _write_current(
            index_dir, cur[0] if cur is not None else -1, batch_id
        )


def _doc_id_set(index_dir: str) -> np.ndarray:
    """Sorted doc_ids of one DELTA segment, read from its docmeta with
    pyarrow on the driver (no Spark job): delta docsets are bounded by a
    micro-batch's worth of docs.  The BASE index's docmeta is never read
    here — merge_indexes matches it against the drop set (Spark-side,
    unless the fold is small enough for its driver route)."""
    tbl = pads.dataset(os.path.join(index_dir, "docmeta")).to_table(columns=["doc_id"])
    return np.sort(tbl["doc_id"].to_numpy())


def _fold(
    spark: SparkSession,
    index_dir: str,
    pending: list[str],
    batch_id: int,
    keep_versions: int = 1,
) -> None:
    """Fold base + pending deltas into a new version with ONE
    merge_indexes call, which resolves UPDATES and DELETES while it
    rewrites (Lucene's update-by-delete-and-add):

      - a doc_id present in more than one source keeps only its NEWEST
        copy (sources are ordered base → oldest delta → newest delta, so
        re-ingesting a url replaces the old version — last-writer-wins
        by micro-batch order): each source's drop set is the union of
        the docsets of the deltas newer than it;
      - merge_indexes adds each source's on-disk tombstones
        (live_delete_docs) to its drop set, keeps only the dropped docs
        each source really holds (a Spark-side semi-join, so a big BASE
        docmeta is never collected; a small fold reads it on the
        driver), and drops their postings in the same pass that
        recomputes the merged bounds.

    A lone source with nothing to drop is published without a rewrite.
    """
    cur = _read_current(index_dir)
    version = cur[0] if cur is not None else -1
    sources = (
        [os.path.join(index_dir, f"v={version}")] if version >= 0 else []
    ) + pending
    if not sources:
        return
    v_new = version + 1
    dest = os.path.join(index_dir, f"v={v_new}")
    shutil.rmtree(dest, ignore_errors=True)

    # only DELTA docsets are collected (micro-batch bounded)
    delta_sets = [_doc_id_set(s) for s in pending]
    first = len(sources) - len(pending)  # 1 when a base version exists
    empty = np.empty(0, dtype=np.int64)
    drops = [
        np.unique(np.concatenate([empty, *delta_sets[i + 1 - first :]]))
        for i in range(len(sources))
    ]
    if sources == pending[:1] and read_tombstones(sources[0]).size == 0:
        shutil.move(sources[0], dest)  # lone delta, nothing to drop
    else:
        merge_indexes(spark, sources, dest, drop=drops)
    for d in pending:
        shutil.rmtree(d, ignore_errors=True)
    _write_current(index_dir, v_new, batch_id)
    _prune(index_dir, v_new, keep_versions)


def live_delete_docs(index_dir: str, doc_ids) -> int:
    """Delete docs from a live index NOW: tombstones land in the CURRENT
    version directory, so searchers opened after this call mask them
    immediately (Lucene refresh semantics — already-open searchers keep
    their snapshot: BM25Searcher reads tombstones once at open).  The
    docs are physically purged at the next fold/compaction."""
    cur = resolve_current(index_dir)
    return delete_docs(cur, doc_ids)


def compact(spark: SparkSession, index_dir: str) -> str:
    """Fold any pending (unmerged) deltas into a new CURRENT version —
    one N-way merge, resolving upserts and purging tombstones.  Also
    folds when the current version merely carries tombstones (a
    delete-only compaction).  Returns the resulting CURRENT directory."""
    cur = _read_current(index_dir)
    pending = _pending_deltas(index_dir)
    base_tomb = 0
    if cur is not None and cur[0] >= 0:
        base_tomb = read_tombstones(
            os.path.join(index_dir, f"v={cur[0]}")
        ).size
    if pending or base_tomb:
        _fold(spark, index_dir, pending, cur[1] if cur else -1)
    return resolve_current(index_dir)


def apply_batch_family(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    cfg: IndexConfig,
    ts_col: str = "warc_ts",
    pattern: str = "yyyy.MM.dd",
    keep_versions: int = 1,
    builder=build_oneshot,
    merge_every: int = 1,
) -> None:
    """Index one micro-batch into a time-partitioned index FAMILY — the
    streaming form of the opensearch sink's dynamic index pattern
    (OpenSearchSink.java:144-150 routes each event to the index named by
    its `%{yyyy.MM.dd}` timestamp; here each period dir under *root* is
    its own live index).  Each period keeps its own CURRENT watermark,
    so a crash that committed period A but not period B of the same
    batch replays B only (apply_batch's idempotence, applied per
    period).  The period set of a batch is deterministic in the data, so
    replays recompute exactly the committed set.  Most batches touch one
    or two periods (event time is roughly monotonic); late data lands in
    its own older period — the out-of-order story the pattern exists for."""
    from pyspark.sql import functions as F

    period = F.date_format(F.col(ts_col), pattern)
    # no persist: batches touch 1-2 periods (event time ~monotonic), so
    # re-scanning the micro-batch per period is one or two extra bounded
    # file reads — cheaper than caching wide html rows (GC-bound here)
    periods = sorted(
        r[0]
        for r in batch_df.select(period.alias("_p")).distinct().collect()
        if r[0] is not None
    )
    for p in periods:
        apply_batch(
            spark,
            batch_df.filter(period == p),
            batch_id,
            os.path.join(root, f"p={p}"),
            cfg,
            keep_versions=keep_versions,
            builder=builder,
            merge_every=merge_every,
        )


def compact_family(spark: SparkSession, root: str) -> list[str]:
    """Fold pending deltas of every period of a live family (see
    :func:`compact`); returns the periods compacted."""
    out = []
    for name in sorted(os.listdir(root)):
        if name.startswith("p="):
            compact(spark, os.path.join(root, name))
            out.append(name.split("=", 1)[1])
    return out


def start_stream_family(
    spark: SparkSession,
    source_path: str | None,
    root: str,
    cfg: IndexConfig = IndexConfig(),
    checkpoint_dir: str | None = None,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    ts_col: str = "warc_ts",
    pattern: str = "yyyy.MM.dd",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    builder=build_oneshot,
    merge_every: int = 1,
):
    """Streaming ingest into a time-partitioned index family: the
    foreachBatch counterpart of family.build_family, routing each
    micro-batch's rows to their period's live index.  Query with
    family.FamilySearcher (it resolves each period's CURRENT version)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: apply_batch_family(
            spark, df, bid, root, cfg,
            ts_col=ts_col, pattern=pattern,
            builder=builder, merge_every=merge_every,
        )
    ).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(root, "_checkpoint"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector jar is on the JVM
    classpath (not bundled in this container — gate, like
    tables.iceberg_available)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # Py4JError / Connect (no _jvm) / missing class
        return False


def kafka_page_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source for the live index (the reference's kafka source,
    kafka-plugins/.../KafkaSource.java:88-120: consumer group per
    pipeline, JSON/plaintext deserialization): messages are JSON pages,
    value → from_json(schema).  Requires the spark-sql-kafka package —
    raises a clear error when absent (start_stream_index's file-stream
    path is the in-container fallback)."""
    from pyspark.sql import functions as F

    if not kafka_available(spark):
        raise NotImplementedError(
            "kafka source requires org.apache.spark:spark-sql-kafka-0-10 "
            "on the Spark classpath (--packages); not present in this "
            "container — use a file stream (source_path) instead"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("page")
    ).select("page.*")


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str | None = None,
    streaming_checkpoint: str | None = None,
):
    """Kafka sink (the reference's kafka sink, kafka-plugins/.../sink/
    KafkaSink.java: each event serialized to JSON onto a topic).  Rows
    become JSON messages (`to_json(struct(*))`); *key_col* optionally
    supplies the partition key (the reference's partition_key).  Works on
    both batch frames (`.write`) and streams (`.writeStream`, requires
    *streaming_checkpoint*; returns the StreamingQuery).  Gated on the
    spark-sql-kafka package like :func:`kafka_page_stream`."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if not kafka_available(spark):
        raise NotImplementedError(
            "kafka sink requires org.apache.spark:spark-sql-kafka-0-10 "
            "on the Spark classpath (--packages); not present in this "
            "container — use write_ndjson/write_parquet sinks instead"
        )
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    out = df.select(*cols)
    if df.isStreaming:
        return (
            out.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", streaming_checkpoint)
            .start()
        )
    (
        out.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def socket_page_stream(
    spark: SparkSession,
    host: str,
    port: int,
    schema: str,
) -> DataFrame:
    """Socket source for the live index — the push-ingest shape of the
    reference's HTTP source (http-source/.../HTTPSource.java:43: a
    listening endpoint receives batches of JSON events).  Spark's
    built-in TextSocket source (no extra jar) reads ndjson lines from
    host:port; each line is one page decoded via from_json(schema).
    Continuous micro-batch only (no availableNow) — callers poll the
    sink and stop(), as with any push source.  Corrupt lines yield
    all-NULL structs (PERMISSIVE from_json) and are dropped, the HTTP
    source's 400-reject analog."""
    from functools import reduce

    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    page = raw.select(F.from_json(F.col("value"), schema).alias("page")).select(
        "page.*"
    )
    any_set = reduce(
        lambda a, b: a | b, (F.col(c).isNotNull() for c in page.columns)
    )
    return page.filter(any_set)


def start_stream_index(
    spark: SparkSession,
    source_path: str | None,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    checkpoint_dir: str | None = None,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    builder=build_oneshot,
    merge_every: int = 1,
    kafka_servers: str | None = None,
    kafka_topic: str | None = None,
    socket_host: str | None = None,
    socket_port: int | None = None,
):
    """Start the live-index stream over a parquet directory of pages —
    or, when *kafka_servers*/*kafka_topic* are given (and the connector
    jar is present), over a Kafka topic of JSON pages — or, when
    *socket_host*/*socket_port* are given, over a TCP socket of ndjson
    pages (the HTTP push-source analog; continuous trigger only).

    available_now=True drains the existing files and stops (the test /
    backfill mode); False tails the directory continuously.  *builder*
    swaps the per-batch build (build_oneshot for the pages shape,
    build_oneshot_text for (doc_id, text) tables — pass the matching
    *schema*).  Returns the StreamingQuery."""
    if kafka_servers is not None:
        stream = kafka_page_stream(spark, kafka_servers, kafka_topic, schema)
    elif socket_host is not None:
        stream = socket_page_stream(spark, socket_host, socket_port, schema)
        available_now = False  # socket source has no availableNow drain
    else:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(source_path)
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: apply_batch(
            spark, df, bid, index_dir, cfg,
            builder=builder, merge_every=merge_every,
        )
    ).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(index_dir, "_checkpoint"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
