"""Spark side of the benchmark: session lifetime, page files, builds and
Spark job counting.  Everything it writes stays under the run's work
directory."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_prepper_spark.envtune import apply_malloc_tuning


def spark_env(work: str, root: str) -> None:
    """Process environment that must be in place before the JVM starts:
    Python workers import the engine from *root*, temp files go to the
    work directory, and the engine's allocator tuning is applied as the
    engine's own tools do."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    apply_malloc_tuning()


def start_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave a JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_pages(pdf, path: str, n_files: int) -> None:
    """Write generated pages as *n_files* parquet files with pyarrow, so
    handing them to Spark costs no Spark job."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    for j, part in enumerate(np.array_split(np.arange(tbl.num_rows), n_files)):
        if part.size:
            pq.write_table(
                tbl.slice(int(part[0]), int(part.size)),
                os.path.join(path, f"part-{j:03d}.parquet"),
                coerce_timestamps="us",
            )


class JobCounter:
    """Counts the Spark jobs started inside a ``with`` block: the job ids
    the status tracker knows after it, minus those it knew before.  The
    listener bus is drained first so the count does not race the
    asynchronous job events.  Blocks may nest."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = 0

    def _ids(self) -> set[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def __enter__(self):
        self._before = self._ids()
        return self

    def __exit__(self, *exc):
        self.jobs = len(self._ids() - self._before)
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
