"""The driver route of the one-shot build and of the merge (index/build.py
``LOCAL_DOCS``): below the crossover both run the Spark stages' kernels on
the driver and write with pyarrow.  Each test runs the same work on both
routes (``spark_route`` forces Spark) and compares what lands on disk:
every posting row with every stream byte, termstats, docmeta (in read
order), stats, and each table's schema as pyarrow and Spark read it."""

import os
import shutil

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import _read_stats, build_oneshot, build_oneshot_text
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.deletes import delete_docs
from data_prepper_spark.index.live import apply_batch, live_delete_docs, resolve_current
from data_prepper_spark.index.merge import merge_indexes
from data_prepper_spark.index.query import BM25Searcher

CFG = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
FIELDS = ("lang", "warc_ts")


def _dump(spark, d) -> dict:
    out = {"stats": _read_stats(d)}
    out["stats"].pop("timings", None)
    for t in ("postings", "termstats", "docmeta"):
        tb = pads.dataset(os.path.join(d, t), partitioning="hive").to_table()
        out[t + " pyarrow"] = [(f.name, str(f.type)) for f in tb.schema]
        if tb.num_rows:
            out[t + " spark"] = spark.read.parquet(os.path.join(d, t)).schema.simpleString()
        rows = [tuple(r.values()) for r in tb.to_pylist()]
        out[t] = rows if t == "docmeta" else sorted(rows)
    return out


def _assert_same(spark, local_dir, spark_dir):
    a, b = _dump(spark, local_dir), _dump(spark, spark_dir)
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k


def _docmeta_files(d):
    return sorted(f for f in os.listdir(os.path.join(d, "docmeta"))
                  if f.endswith(".parquet"))


def _both(spark_route, workdir, name, fn):
    """*fn(dir)* on the driver route, then on the Spark route; the
    driver route writes docmeta as one file, Spark as range parts."""
    dirs = [os.path.join(workdir, f"local_route_{name}_{r}") for r in ("local", "spark")]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    fn(dirs[0])
    with spark_route():
        fn(dirs[1])
    assert _docmeta_files(dirs[0]) == ["part-00000.parquet"]
    assert "part-00000.parquet" not in _docmeta_files(dirs[1])
    return dirs


@pytest.fixture(scope="module")
def pages(spark, tiny_corpus_path):
    return spark.read.parquet(tiny_corpus_path)


def _text_docs(pages):
    return pages.select(F.xxhash64("url").alias("doc_id"), "text", *FIELDS)


BUILDS = {
    "varint_fields": lambda p, d: build_oneshot(
        p.sparkSession, p, d, CFG, field_cols=FIELDS),
    "pfor": lambda p, d: build_oneshot(
        p.sparkSession, p, d, IndexConfig(range_bits=3, block_size=16, n_buckets=8,
                                          codec="pfor")),
    "positions_text": lambda p, d: build_oneshot_text(
        p.sparkSession, _text_docs(p), d,
        IndexConfig(range_bits=1, block_size=16, n_buckets=4, positions=True),
        field_cols=FIELDS),
    "range_bits0_pfor_positions": lambda p, d: build_oneshot_text(
        p.sparkSession, _text_docs(p).limit(300), d,
        IndexConfig(range_bits=0, block_size=8, n_buckets=4, codec="pfor",
                    positions=True)),
    "lang_filter_empties": lambda p, d: build_oneshot(
        p.sparkSession, p, d, IndexConfig(lang="xx", n_buckets=4),
        field_cols=FIELDS),
}


@pytest.mark.parametrize("case", sorted(BUILDS))
def test_build_routes_identical(spark, spark_route, workdir, pages, case):
    dirs = _both(spark_route, workdir, case, lambda d: BUILDS[case](pages, d))
    _assert_same(spark, *dirs)
    stats = _read_stats(dirs[0])
    assert (stats["n_docs"] == 0) == (case == "lang_filter_empties")


def test_local_build_reports_stage_timings(spark, pages, workdir):
    """The driver build reports the Spark build's four stage timings."""
    import json

    d = os.path.join(workdir, "local_route_timings")
    stats = build_oneshot(spark, pages.limit(50), d, CFG)
    assert set(json.loads(stats["timings"])) == {
        "t_tokens", "t_docmeta", "t_encode", "t_termstats"}


@pytest.fixture(scope="module")
def sources(spark, pages, workdir):
    """Two disjoint sources built on the driver route; the second carries
    tombstones on a few of its docs."""
    out = []
    for i in range(2):
        d = os.path.join(workdir, f"local_route_src{i}")
        shutil.rmtree(d, ignore_errors=True)
        build_oneshot(spark, pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i),
                      d, CFG, field_cols=FIELDS)
        out.append(d)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(f"{out[1]}/docmeta").collect())
    delete_docs(out[1], ids[::11])
    return out, ids


def test_merge_routes_identical(spark, spark_route, workdir, sources):
    """A two-source merge with a drop set and source tombstones, and a
    one-source purge of that merge, on both routes."""
    srcs, ids = sources
    base_ids = sorted(r["doc_id"] for r in spark.read.parquet(f"{srcs[0]}/docmeta").collect())
    drop = [base_ids[::5], None]
    merged = _both(spark_route, workdir, "merge",
                   lambda d: merge_indexes(spark, srcs, d, drop=drop))
    _assert_same(spark, *merged)
    for m in merged:
        delete_docs(m, base_ids[1::7])
    purged = _both(spark_route, workdir, "purge",
                   lambda d: merge_indexes(spark, [merged[d.endswith("_spark")]], d))
    _assert_same(spark, *purged)
    s = BM25Searcher(None, purged[0])
    assert s.n_docs == len(base_ids) - len(base_ids[::5]) - len(
        set(base_ids[1::7]) - set(base_ids[::5])) + len(ids) - len(ids[::11])


def test_spark_base_merged_with_local_delta(spark, spark_route, workdir, pages, sources):
    """A Spark-built base folded with a driver-built delta on the driver
    equals the same fold done wholly in Spark."""
    srcs, _ = sources
    base = os.path.join(workdir, "local_route_spark_base")
    shutil.rmtree(base, ignore_errors=True)
    with spark_route():
        build_oneshot(spark, pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0),
                      base, CFG, field_cols=FIELDS)
    dirs = _both(spark_route, workdir, "mixed",
                 lambda d: merge_indexes(spark, [base, srcs[1]], d))
    _assert_same(spark, *dirs)


def _text_batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, prio int")


def _live_sequence(spark, out, spark_route=None):
    """Base, an upsert batch, live deletes, then a batch that folds
    them; with *spark_route* the base alone builds on Spark."""
    import functools

    builder = functools.partial(build_oneshot_text, field_cols=("prio",))

    def text(i, v):
        return f"alpha beta doc{i:04d} " + ("gamma " * (i % 3) if v == 0 else "delta refresh")

    from contextlib import nullcontext

    with spark_route() if spark_route else nullcontext():
        apply_batch(spark, _text_batch(spark, [(i, text(i, 0), i % 5) for i in range(80)]),
                    0, out, CFG, builder=builder)
    b1 = [(i, text(i, 1), 7) for i in range(30, 50)] + [(i, text(i, 0), 1) for i in range(80, 95)]
    apply_batch(spark, _text_batch(spark, b1), 1, out, CFG, builder=builder)
    live_delete_docs(out, [3, 31, 90])
    apply_batch(spark, _text_batch(spark, [(i, text(i, 1), 2) for i in (7, 8, 200)]),
                2, out, CFG, builder=builder)
    return resolve_current(out)


def test_live_sequence_routes_identical(spark, spark_route, workdir):
    """Upserts and live deletes through apply_batch give the same
    versions on both routes, and on a Spark base folded locally."""
    dirs = {}
    for name in ("local", "spark", "mixed"):
        out = os.path.join(workdir, f"local_route_live_{name}")
        shutil.rmtree(out, ignore_errors=True)
        if name == "spark":
            with spark_route():
                dirs[name] = _live_sequence(spark, out)
        else:
            dirs[name] = _live_sequence(spark, out, spark_route if name == "mixed" else None)
    _assert_same(spark, dirs["local"], dirs["spark"])
    _assert_same(spark, dirs["mixed"], dirs["spark"])
    s = BM25Searcher(None, dirs["local"])
    assert s.n_docs == 95 - 3 + 1
    hits = {d for d, _ in s.search("refresh", k=100, mode="brute")}
    assert hits == (set(range(30, 50)) - {31}) | {7, 8, 200}
    ref = BM25Searcher(None, dirs["spark"])
    for q in ["alpha beta", "gamma", "delta refresh", "doc0042"]:
        assert s.search(q, k=10) == ref.search(q, k=10), q


def test_small_batch_spark_jobs(spark, spark_jobs, workdir, pages):
    """Below the crossover a whole apply_batch — delta build and fold —
    starts at most one Spark job: the build's collect, whose row count
    also decides whether the batch is empty."""
    import functools

    out = os.path.join(workdir, "local_route_jobs")
    shutil.rmtree(out, ignore_errors=True)
    builder = functools.partial(build_oneshot, field_cols=FIELDS)
    half = F.pmod(F.xxhash64("url"), F.lit(4))
    apply_batch(spark, pages.filter(half != 0), 0, out, CFG, builder=builder)
    jobs = spark_jobs(lambda: apply_batch(
        spark, pages.filter(half == 0), 1, out, CFG, builder=builder))
    assert os.path.basename(resolve_current(out)) == "v=1"
    assert BM25Searcher(None, resolve_current(out)).n_docs == 900
    print(f"below-crossover apply_batch spark jobs: {jobs}")
    assert jobs <= 1


@pytest.mark.parametrize("route", ["local", "spark"])
def test_empty_batch_publishes_nothing(spark, spark_route, workdir, pages, route):
    """A batch that indexes no doc — no rows, or no page in the indexed
    language — advances the watermark and publishes no version; as the
    first batch it creates no v=0; a replay of a committed batch id is
    skipped.  On both build routes."""
    from contextlib import nullcontext

    from data_prepper_spark.index.live import _read_current

    out = os.path.join(workdir, f"local_route_empty_{route}")
    shutil.rmtree(out, ignore_errors=True)
    none = pages.limit(0)
    foreign = pages.withColumn("lang", F.lit("xx"))
    with spark_route() if route == "spark" else nullcontext():
        apply_batch(spark, none, 0, out, CFG)
        assert _read_current(out) is None
        assert not os.path.exists(os.path.join(out, "v=0"))
        apply_batch(spark, pages, 1, out, CFG)
        assert _read_current(out) == (0, 1)
        n_docs = BM25Searcher(None, resolve_current(out)).n_docs
        for bid, batch in ((2, none), (3, foreign)):
            apply_batch(spark, batch, bid, out, CFG)
            assert _read_current(out) == (0, bid)
        apply_batch(spark, pages, 3, out, CFG)  # replay: skipped
        assert _read_current(out) == (0, 3)
    assert sorted(n for n in os.listdir(out) if n.startswith("v=")) == ["v=0"]
    assert not os.listdir(os.path.join(out, "_delta"))
    assert BM25Searcher(None, resolve_current(out)).n_docs == n_docs
