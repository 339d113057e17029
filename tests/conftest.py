import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from data_prepper_spark.envtune import apply_malloc_tuning

apply_malloc_tuning()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("data_prepper_spark_tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def workdir():
    d = tempfile.mkdtemp(prefix="dps_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


N_TINY = 1000


@pytest.fixture(scope="session")
def tiny_pages_pd():
    from data_prepper_spark.corpus import gen_pages_local

    return gen_pages_local(N_TINY)


@pytest.fixture(scope="session")
def tiny_corpus_path(spark, workdir):
    from data_prepper_spark.corpus import generate_corpus

    path = os.path.join(workdir, "webtext_tiny")
    generate_corpus(spark, path, N_TINY, partitions=8)
    return path


@pytest.fixture(scope="session")
def oracle_tiny(tiny_pages_pd):
    from data_prepper_spark.oracle import OracleIndex

    return OracleIndex().build(tiny_pages_pd)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus_path, workdir):
    from data_prepper_spark.index.build import build_oneshot
    from data_prepper_spark.index.config import IndexConfig

    index_dir = os.path.join(workdir, "index_tiny")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = IndexConfig(range_bits=2, block_size=16, n_buckets=8)
    stats = build_oneshot(spark, pages, index_dir, cfg)
    return index_dir, cfg, stats


@pytest.fixture
def full_decode(monkeypatch):
    """Context manager factory: inside it, every posting slice a query
    reads has all its streams decoded in full before any block read —
    the reference the block-lazy reads must equal."""
    from contextlib import contextmanager

    from data_prepper_spark.index import scoring

    real = scoring.decode_slice_lazy

    def eager(*a, **kw):
        s = real(*a, **kw)
        s.to_term_slice()  # every stream into its memo
        return s

    @contextmanager
    def cm():
        monkeypatch.setattr(scoring, "decode_slice_lazy", eager)
        try:
            yield
        finally:
            monkeypatch.setattr(scoring, "decode_slice_lazy", real)

    return cm


@pytest.fixture
def spark_route(monkeypatch):
    """Context manager factory: inside it, every one-shot build and every
    merge takes the Spark route (``build.LOCAL_DOCS`` = 0), whatever its
    size — the reference the driver route must equal."""
    from contextlib import contextmanager

    from data_prepper_spark.index import build

    @contextmanager
    def cm():
        with monkeypatch.context() as m:
            m.setattr(build, "LOCAL_DOCS", 0)
            yield

    return cm


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark jobs started while *fn* runs, counted
    from the status tracker's job ids (the listener bus drained before
    each read)."""
    sc = spark.sparkContext

    def ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def count(fn) -> int:
        before = ids()
        fn()
        return len(ids() - before)

    return count
