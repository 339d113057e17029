"""On-disk index layout: four tables (postings, termstats, docmeta,
stats), no ``termdict``.  termstats is the term dictionary — one row per
term that still has postings — and the driver-written ``stats`` row
reads back through Spark with the field names and types a Spark write
gave it."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.hashing import xxh64_signed
from data_prepper_spark.index.boolquery import expand_prefix
from data_prepper_spark.index.build import build_oneshot_fields, build_oneshot_text
from data_prepper_spark.index.config import IndexConfig
from data_prepper_spark.index.deletes import delete_docs, purge_deletes
from data_prepper_spark.index.merge import merge_indexes
from data_prepper_spark.index.query import BM25Searcher
from data_prepper_spark.textproc import tokenize

CFG = IndexConfig(range_bits=1, block_size=4, n_buckets=4)
DOCS = [
    (1, "the quick brown fox"),
    (2, "the lazy dog sleeps"),
    (3, "zebra zebras graze quietly"),
    (4, "brown dogs run"),
    (5, "quick merge of small segments"),
    (6, "sleepy segments sleep"),
]
TABLES = {"postings", "termstats", "docmeta", "stats"}
STATS_TYPES = [
    ("avgdl", "double"), ("b", "double"), ("block_size", "bigint"),
    ("codec", "string"), ("k1", "double"), ("lang", "string"),
    ("n_buckets", "bigint"), ("n_docs", "bigint"), ("positions", "boolean"),
    ("range_bits", "bigint"), ("total_tokens", "bigint"),
]


def _build(spark, workdir, name, rows):
    d = os.path.join(workdir, name)
    shutil.rmtree(d, ignore_errors=True)
    build_oneshot_text(
        spark, spark.createDataFrame(rows, "doc_id long, text string"), d, CFG
    )
    return d


@pytest.fixture(scope="module")
def layout(spark, workdir):
    """Two built sources, their merge with doc 2 dropped, and a purge of
    doc 6 from the merge."""
    a = _build(spark, workdir, "layout_a", DOCS[:3])
    b = _build(spark, workdir, "layout_b", DOCS[3:])
    merged = os.path.join(workdir, "layout_merged")
    shutil.rmtree(merged, ignore_errors=True)
    merge_indexes(spark, [a, b], merged, drop=[[2], None])
    delete_docs(merged, [6])
    purged = os.path.join(workdir, "layout_purged")
    shutil.rmtree(purged, ignore_errors=True)
    purge_deletes(spark, merged, purged)
    return {"a": a, "b": b, "merged": merged, "purged": purged}


def _tables(d):
    return {n for n in os.listdir(d) if not n.startswith(("_", "."))} - {"tombstones"}


@pytest.fixture(scope="module")
def fields_dir(spark, workdir):
    f = os.path.join(workdir, "layout_fields")
    shutil.rmtree(f, ignore_errors=True)
    build_oneshot_fields(
        spark, spark.createDataFrame(DOCS, "doc_id long, text string"), f, CFG,
        fields={"body": "text", "head": F.substring("text", 1, 10)},
    )
    return f


def test_outputs_have_no_termdict(layout, fields_dir):
    for d in [*layout.values(), fields_dir]:
        assert _tables(d) == TABLES, d


@pytest.mark.parametrize("which,dead", [("merged", {2}), ("purged", {2, 6})])
def test_termstats_is_the_live_vocabulary(spark, layout, which, dead):
    """After a fold that drops docs, termstats holds exactly the terms
    that still have postings, each under its own term_id."""
    d = layout[which]
    ts = spark.read.parquet(f"{d}/termstats").select("term", "term_id").collect()
    pairs = {(r["term"], r["term_id"]) for r in ts}
    assert len(pairs) == len(ts)
    posted = {
        r["term_id"]
        for r in spark.read.parquet(f"{d}/postings").select("term_id").collect()
    }
    assert {tid for _, tid in pairs} == posted
    live = {t for i, text in DOCS if i not in dead for t in tokenize(text)}
    assert pairs == {(t, xxh64_signed(t)) for t in live}


def test_stats_schema_reads_back_through_spark(spark, layout, fields_dir):
    """The pyarrow-written stats row has the columns, order and Spark
    types of ``spark.createDataFrame([stats])`` — fields_json included."""
    def schema(d):
        return [(x.name, x.dataType.simpleString())
                for x in spark.read.parquet(f"{d}/stats").schema]

    for d in layout.values():
        assert schema(d) == STATS_TYPES, d
    assert schema(fields_dir) == sorted(STATS_TYPES + [("fields_json", "string")])
    stats = spark.read.parquet(f"{layout['purged']}/stats")
    row = stats.collect()
    assert len(row) == 1 and row[0]["n_docs"] == len(DOCS) - 2
    assert stats.schema == spark.createDataFrame([row[0].asDict()]).schema


def test_old_termdict_dir_is_ignored(workdir, layout):
    """An index that still holds a termdict/ from an older layout — here
    one carrying a stale term — serves vocabulary scans from termstats."""
    d = os.path.join(workdir, "layout_old")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(layout["purged"], d)
    td = os.path.join(d, "termdict", "term_bucket=0")
    os.makedirs(td)
    stale = ["sleeps", "sleepy", "sleep"]
    pq.write_table(
        pa.table({"term": stale, "term_id": [xxh64_signed(t) for t in stale]}),
        os.path.join(td, "part-0.parquet"),
    )
    new, old = BM25Searcher(None, layout["purged"]), BM25Searcher(None, d)
    assert expand_prefix(old, "sle") == expand_prefix(new, "sle") == []
    assert expand_prefix(old, "s") == expand_prefix(new, "s") == ["segments", "small"]
