"""Iceberg table-format layer with a layout-identical parquet fallback.

The north-star deployment stores both the input pages table and the
index segment tables (postings / termstats / docmeta / stats)
in an Iceberg catalog, partitioned by ``term_bucket`` — routing/sink
semantics map to partition-aware Iceberg appends, and the build ledger's
commit-after-write matches Iceberg's atomic snapshot commit.

This container has no iceberg-spark-runtime jar, so the layer is GATED:

  - ``iceberg_available(spark)`` probes the classpath.
  - format "auto" resolves to iceberg when the jar is present, else
    parquet.  Requesting "iceberg" without the jar raises a clear error.
  - the parquet fallback writes the SAME partition spec as hive
    directories.  Every plan property the engine relies on — partition
    pruning on term_bucket, column pruning, min/max file skipping,
    per-partition overwrite — holds identically in both formats; what
    Iceberg adds on a real cluster is snapshot isolation, time travel,
    and compaction, none of which the correctness or bench paths depend
    on.

Reference analog: the opensearch sink's index routing + bulk commit
(/root/reference/data-prepper-plugins/opensearch/src/main/java/org/
opensearch/dataprepper/plugins/sink/opensearch/OpenSearchSink.java:
144-150) is the "write segments back to a queryable store" boundary this
module generalizes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# tables that make up one index, with their partition spec
INDEX_TABLES: dict[str, list[str]] = {
    "postings": ["term_bucket"],
    "termstats": ["term_bucket"],
    "docmeta": [],
    "stats": [],
}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark-runtime jar is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # Py4JError / Connect (no _jvm) / missing class
        return False


def resolve_format(spark: SparkSession, fmt: str = "auto") -> str:
    """'auto' → 'iceberg' when available else 'parquet'; explicit
    'iceberg' is validated against the classpath."""
    if fmt == "auto":
        return "iceberg" if iceberg_available(spark) else "parquet"
    if fmt == "iceberg" and not iceberg_available(spark):
        raise RuntimeError(
            "table format 'iceberg' requested but the iceberg-spark-runtime "
            "jar is not on the classpath; pass "
            "--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> "
            "to spark-submit, or use --table-format parquet"
        )
    if fmt not in ("iceberg", "parquet"):
        raise ValueError(f"unknown table format {fmt!r}")
    return fmt


def iceberg_builder_config(builder, catalog: str, warehouse: str):
    """SparkSession.Builder config for a Hadoop-catalog Iceberg warehouse
    (the spark-submit deployment adds this before getOrCreate)."""
    return (
        builder.config(f"spark.sql.catalog.{catalog}", "org.apache.iceberg.spark.SparkCatalog")
        .config(f"spark.sql.catalog.{catalog}.type", "hadoop")
        .config(f"spark.sql.catalog.{catalog}.warehouse", warehouse)
    )


def write_partitioned(
    df: DataFrame,
    target: str,
    partition_by: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """One table write, either format.  `target` is a path (parquet) or a
    `catalog.namespace.table` identifier (iceberg).  Writes are
    bucket-aligned by the caller (repartition on the partition column),
    so file count per partition stays 1 regardless of task count in both
    formats."""
    if fmt == "iceberg":
        w = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            w.append()
        else:
            w.createOrReplace()
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)


def publish_index(
    spark: SparkSession,
    index_dir: str,
    dest: str,
    fmt: str = "auto",
    catalog: str = "dps",
    namespace: str = "index",
    mode: str = "overwrite",
) -> dict[str, str]:
    """Publish a built index's segment tables to the warehouse.

    iceberg: each table becomes ``{catalog}.{namespace}.{name}`` with the
    partition spec from INDEX_TABLES (`dest` is unused — the catalog's
    warehouse location governs).  parquet fallback: the same tables and
    partition dirs under ``dest/{name}``.  Returns {table: target}."""
    fmt = resolve_format(spark, fmt)
    out: dict[str, str] = {}
    for name, pcols in INDEX_TABLES.items():
        src = os.path.join(index_dir, name)
        df = spark.read.parquet(src)
        if fmt == "iceberg":
            target = f"{catalog}.{namespace}.{name}"
        else:
            target = os.path.join(dest, name)
        write_partitioned(df, target, pcols, fmt=fmt, mode=mode)
        out[name] = target
    return out
