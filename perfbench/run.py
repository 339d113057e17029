"""Benchmark entry point: ``python3 perfbench/run.py --workload serve|refresh
--seed N --seconds S --trace 0|1``, run from the repository root.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is an ``info`` object (cpus, load average, tail percentile and sample
counts).  Exits 1 on any correctness failure and 2 when the engine
cannot be imported.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# index settings shared by both workloads: 8 docID ranges and 32 buckets
# (block size 128 and the varint codec are the engine defaults), with the
# docvalues the filtered family needs
INDEX_SETTINGS = {"range_bits": 3, "n_buckets": 32}
FIELD_COLS = ("lang", "warc_ts")
WARMUP_DOCS = 300
SERVE_DOCS = 8_000
SERVE_COUNTS = {"match": 104, "bool": 35, "filtered": 25, "sqs": 25}
REFRESH_BASE = 1_000
REFRESH_BATCHES = 1
BATCH_DOCS = 250
UPSERT_SHARE = 0.2
BURST_COUNTS = {"match": 52, "bool": 14, "filtered": 10, "sqs": 10}
MIN_BURSTS = 5
CHECK_SAMPLE = 20
OVERHEAD_REPS = 3
OVERHEAD_QUERIES = 60


def now() -> float:
    return time.perf_counter()


class QueryProcess:
    """The Spark-free query process (perfbench/qserver.py) and its pipe."""

    def __init__(self, env: dict):
        # a fixed hash seed keeps set and dict orders, and with them the
        # per-query call counts, the same from run to run
        env = {**env, "PYTHONHASHSEED": "0"}
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.qserver"],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True,
        )

    def call(self, op: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"query process died during {op!r}")
        res = json.loads(line)
        if "error" in res:
            raise RuntimeError(f"query process failed {op!r}:\n{res['error']}")
        return res

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"op": "exit"}\n')
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Run:
    """State of one benchmark run: work directory, Spark session, query
    process, tallies and (with --trace 1) the recorder."""

    def __init__(self, args):
        from perfbench import engine
        from perfbench.trace import Recorder

        self.args = args
        self.engine = engine
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.qp: QueryProcess | None = None
        self.attempted = 0
        self.failed = 0
        self.notes: list = []
        self.rec = Recorder() if args.trace else None

    # ------------------------------------------------------------ lifetime
    def start(self, n_warmup: int | None = WARMUP_DOCS):
        """Set-up shared by both workloads: JVM start, the query process
        and (unless the workload's first ingest plays that part) a small
        cold build that pays JIT and Python-worker warm-up."""
        self.engine.spark_env(self.work, ROOT)
        self.spark = self.engine.start_spark(self.work, self.cpus)
        self.qp = QueryProcess(dict(os.environ))
        if n_warmup:
            from perfbench import gen

            pdf = gen.Corpus(self.args.seed + 1_000_003).pages(
                range(n_warmup), [0] * n_warmup, 0)
            path = self.path("warmup_pages")
            self.engine.write_pages(pdf, path, self.cpus)
            self.ingest(self.pages(path), 0, self.path("warmup"), traced=False)

    def close(self):
        if self.qp is not None:
            self.qp.close()
        if self.spark is not None:
            self.engine.stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def pages(self, path: str):
        from perfbench.gen import PAGES_SCHEMA

        return self.spark.read.schema(PAGES_SCHEMA).parquet(path)

    # -------------------------------------------------------------- ingest
    def ingest(self, df, batch_id: int, live_dir: str, traced: bool = True) -> float:
        """``index.live.apply_batch`` on one batch, timed; with tracing
        (never for set-up ingests) it records the delta build, fold, merge
        and purge split."""
        from data_prepper_spark.index import live
        from data_prepper_spark.index.build import build_oneshot
        from data_prepper_spark.index.config import IndexConfig

        builder = functools.partial(build_oneshot, field_cols=FIELD_COLS)
        cfg = IndexConfig(**INDEX_SETTINGS)
        rec = self.rec if traced else None
        if rec is None:
            t = now()
            live.apply_batch(self.spark, df, batch_id, live_dir, cfg,
                             builder=builder)
            return now() - t

        def delta_build(*a, **k):
            with self.engine.JobCounter(self.spark) as jc, rec.span("live.delta_build"):
                stats = builder(*a, **k)
            rec.counts["build.spark_jobs"] += jc.jobs
            rec.counts["build.builds"] += 1
            for key, v in json.loads(stats["timings"]).items():
                rec.counts["build." + key[2:] + "_s"] += v
            return stats

        def purged(r, a, k):
            drop = k.get("extra_deleted")
            r.counts["deletes.purged_docs"] += 0 if drop is None else len(drop)

        rec.req = batch_id
        rec.wrap(live, "merge_indexes", "merge.merge")
        rec.wrap(live, "purge_deletes", "deletes.purge", on_call=purged)
        try:
            t = now()
            with self.engine.JobCounter(self.spark) as jc, rec.span("live.apply_batch"):
                live.apply_batch(self.spark, df, batch_id, live_dir,
                                 cfg, builder=delta_build)
            dt = now() - t
        finally:
            rec.restore()
        rec.counts["live.spark_jobs"] += jc.jobs
        rec.counts["live.batches"] += 1
        return dt

    # -------------------------------------------------------------- checks
    def tally(self, res: dict, what: str) -> None:
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        if res["failed"]:
            self.notes.append({what: res.get("mismatches")})

    # ---------------------------------------------------------- per layer
    def build_layers(self) -> dict:
        c, rec = self.rec.counts, self.rec
        nb = max(1.0, c["build.builds"])
        nl = max(1.0, c["live.batches"])
        def total(name):  # summed span durations, children included
            return sum(e - s for n, s, e, *_ in rec.spans if n == name)

        apply_s, delta_s = total("live.apply_batch"), total("live.delta_build")
        return {
            "build.tokens_s": (c["build.tokens_s"] / nb, "s"),
            "build.docmeta_s": (c["build.docmeta_s"] / nb, "s"),
            "build.encode_s": (c["build.encode_s"] / nb, "s"),
            "build.termstats_s": (c["build.termstats_s"] / nb, "s"),
            "build.spark_jobs": (c["build.spark_jobs"] / nb, "count"),
            "live.apply_batch_s": (apply_s / nl, "s"),
            "live.delta_build_s": (delta_s / nl, "s"),
            "live.fold_s": ((apply_s - delta_s) / nl, "s"),
            "live.spark_jobs_per_batch": (c["live.spark_jobs"] / nl, "count"),
            "merge.merge_s": (total("merge.merge") / nl, "s"),
            "deletes.purge_s": (total("deletes.purge") / nl, "s"),
            "deletes.purged_docs": (c["deletes.purged_docs"] / nl, "count"),
        }

    def query_layers(self, families: dict, overhead_qs: list) -> dict:
        lay = self.qp.call("layers", families=families,
                           dump=os.path.join(self.trace_dir(), "query-spans.json"))
        ov = self.qp.call("overhead", queries=overhead_qs[:OVERHEAD_QUERIES],
                          reps=OVERHEAD_REPS)
        from perfbench.stats import median

        off, on = median(ov["untraced"]), median(ov["traced"])
        return {
            "query.open_ms": (lay["query.open"]["ms"], "ms"),
            "query.termstats_ms": (lay["query.termstats"]["ms"], "ms"),
            "query.self_ms": (lay["query.search"]["ms"], "ms"),
            "scoring.decode_ms": (lay["scoring.decode"]["ms"], "ms"),
            "scoring.decode_calls_per_query": (lay["scoring.decode"]["calls"], "count"),
            "scoring.bmw_ms": (lay["scoring.bmw"]["ms"], "ms"),
            "scoring.bmw_calls_per_query": (lay["scoring.bmw"]["calls"], "count"),
            "scoring.topk_ms": (lay["scoring.topk"]["ms"], "ms"),
            "codec.decode_calls_per_query": (lay["codec.decode"]["calls"], "count"),
            "boolquery.self_ms": (lay["boolquery.search"]["ms"], "ms"),
            "filtered.self_ms": (lay["filtered.search"]["ms"], "ms"),
            "querystring.self_ms": (lay["querystring.search"]["ms"], "ms"),
            "trace.overhead_pct": (100.0 * (on - off) / off, "%"),
        }

    def trace_dir(self) -> str:
        d = os.path.join(ROOT, ".perfbench", "trace",
                         f"{self.args.workload}-seed{self.args.seed}")
        os.makedirs(d, exist_ok=True)
        return d


def query_metrics(best: list, rss: float, info: dict) -> dict:
    """End-to-end query metrics from each query's best repeat (see
    ``stats.best_times``).  The host's single-core speed drifts by up to 2x,
    within a run and between runs, and a slow moment only ever adds time;
    so the fastest repeat of each query is the steadiest estimate of what
    the engine costs.  ``qps`` is the number of queries over their summed
    best times: one client's throughput when no repeat is slowed."""
    from perfbench.stats import median, tail

    by: dict[str, list[float]] = {}
    for fam, ms in best:
        by.setdefault(fam, []).append(ms)
    pct, tail_ms, beyond = tail(by["match"])
    info.update(family_samples={f: len(v) for f, v in by.items()},
                family_mean_ms={f: sum(v) / len(v) for f, v in by.items()},
                bm25_tail_percentile=pct, bm25_tail_beyond=beyond)
    return {
        "qps": (len(best) / (sum(ms for _, ms in best) / 1e3), "1/s"),
        "bm25_p50_ms": (median(by["match"]), "ms"),
        "bm25_tail_ms": (tail_ms, "ms"),
        **{f"{f}_p50_ms": (median(by[f]), "ms") for f in ("bool", "filtered", "sqs")},
        "peak_rss_mb": (rss, "MB"),
    }


# ----------------------------------------------------------------- serve
def serve(run: Run) -> tuple[dict, dict]:
    """Bulk build of a static index, then a long single-client closed loop
    of mixed queries on a warm searcher."""
    import numpy as np

    from data_prepper_spark.index.live import resolve_current
    from perfbench import gen
    from perfbench.stats import best_times

    a = run.args
    t0 = now()
    run.start()
    corpus = gen.Corpus(a.seed)
    pages = run.path("pages")
    run.engine.write_pages(corpus.pages(range(SERVE_DOCS), [0] * SERVE_DOCS, 0),
                           pages, 2 * run.cpus)
    queries = gen.query_stream(a.seed, SERVE_COUNTS, SERVE_DOCS)
    setup_s = now() - t0

    live_dir = run.path("serve_index")
    ingest_s = run.ingest(run.pages(pages), 0, live_dir)
    index_dir = resolve_current(live_dir)
    if run.rec is not None:
        run.qp.call("trace", on=True)
    op = run.qp.call("open", dir=index_dir, queries=queries[:1])
    if run.rec is not None:
        run.qp.call("trace", on=False)
    # a probe that raised is a counted failure; it adds no time
    visible_s = ingest_s + (op["open_ms"] + (op["lat"][0][1] or 0.0)) / 1e3
    run.attempted += 1
    run.failed += op["failed"]
    n_docs = op["n_docs"]

    rng = np.random.default_rng([a.seed, 4])
    match = [q["q"] for q in queries if q["family"] == "match"]
    sample = [match[i] for i in rng.choice(len(match), CHECK_SAMPLE, replace=False)]
    run.tally(run.qp.call("check_bmw", queries=sample), "bmw_vs_brute")

    if run.rec is not None:
        run.qp.call("pass", queries=queries)  # warm, untraced
        run.qp.call("trace", on=True)
        res = run.qp.call("pass", queries=queries, req0=0)
        run.qp.call("trace", on=False)
        run.attempted += len(queries)
        run.failed += res["failed"]
        fams = {str(j): q["family"] for j, q in enumerate(queries)}
        layers = {**run.build_layers(), **run.query_layers(fams, queries)}
        return layers, {}

    res = run.qp.call("run", queries=queries, seconds=a.seconds)
    run.attempted += res["attempted"]
    run.failed += res["failed"]
    rss = run.qp.call("rss")["peak_rss_mb"]
    passes = [p["lat"] for p in res["passes"]]
    info: dict = {"docs_indexed": n_docs, "passes": len(passes),
                  "pass_qps": [len(p["lat"]) / p["wall"] for p in res["passes"]]}
    metrics = {
        "setup_s": (setup_s, "s"),
        "visible_s": (visible_s, "s"),
        "ingest_docs_per_s": (n_docs / ingest_s, "1/s"),
        "index_bytes_per_doc": (run.engine.dir_bytes(index_dir) / n_docs, "B"),
        **query_metrics(best_times(passes), rss, info),
    }
    return metrics, info


# --------------------------------------------------------------- refresh
def refresh(run: Run) -> tuple[dict, dict]:
    """A base index, then micro-batches of new pages and upserts through
    ``index.live.apply_batch``; after each, a fresh searcher answers a
    short first-touch burst and the batch is checked for visibility."""
    import numpy as np

    from data_prepper_spark.hashing import xxh64_signed
    from data_prepper_spark.index.live import resolve_current
    from perfbench import gen
    from perfbench.stats import best_times

    a = run.args
    t0 = now()
    # the base build is this workload's cold warm-up build
    run.start(n_warmup=None)
    corpus = gen.Corpus(a.seed)
    plan = gen.batch_plan(a.seed, REFRESH_BASE, REFRESH_BATCHES, BATCH_DOCS,
                          UPSERT_SHARE)
    base = run.path("base_pages")
    run.engine.write_pages(
        corpus.pages(range(REFRESH_BASE), [0] * REFRESH_BASE, 0), base, run.cpus)
    batch_paths = []
    for b, bt in enumerate(plan, 1):
        p = run.path(f"batch{b}_pages")
        run.engine.write_pages(corpus.pages(bt.idx, bt.revs, b), p, run.cpus)
        batch_paths.append(p)
    n_range = REFRESH_BASE + sum(bt.new_idx.size for bt in plan)
    counts = {f: c * REFRESH_BATCHES for f, c in BURST_COUNTS.items()}
    stream = gen.query_stream(a.seed, counts, n_range)
    per = len(stream) // REFRESH_BATCHES
    live_dir = run.path("live_index")
    run.ingest(run.pages(base), 0, live_dir, traced=False)
    setup_s = now() - t0

    traced = run.rec is not None
    if traced:
        run.qp.call("trace", on=True)
    rng = np.random.default_rng([a.seed, 5])
    live_docs = int(gen.is_english(np.arange(REFRESH_BASE), a.seed).sum())
    visible, best, burst_qps, ingest_s, made = [], [], [], 0.0, 0
    index_dir = None
    for b, (bt, path) in enumerate(zip(plan, batch_paths), 1):
        burst = stream[(b - 1) * per: b * per]
        dt = run.ingest(run.pages(path), b, live_dir)
        index_dir = resolve_current(live_dir)
        # bursts repeat, each on a fresh searcher so every one is
        # first-touch, until the batch's share of --seconds is spent
        t_b, r, repeats = now(), 0, []
        while r < (1 if traced else MIN_BURSTS) or (
                not traced and now() - t_b < a.seconds / REFRESH_BATCHES):
            op = run.qp.call("open", dir=index_dir, queries=burst,
                             req0=(b - 1) * per)
            if r == 0:
                visible.append(dt + (op["open_ms"] + (op["lat"][0][1] or 0.0)) / 1e3)
            repeats.append(op["lat"])
            run.attempted += len(burst)
            run.failed += op["failed"]
            r += 1
        best += best_times(repeats)
        burst_qps += [len(x) / sum(ms or 0.0 for _, ms in x) * 1e3 for x in repeats]
        ingest_s += dt
        new_en = bt.new_idx[gen.is_english(bt.new_idx, a.seed)]
        made += new_en.size + bt.upsert_idx.size
        live_docs += new_en.size
        pick = rng.choice(new_en, min(CHECK_SAMPLE, new_en.size), replace=False)
        ups = rng.choice(bt.upsert_idx.size, min(CHECK_SAMPLE, bt.upsert_idx.size),
                         replace=False)
        present = [[gen.marker(int(i), 0), xxh64_signed(gen.url_of(int(i)))]
                   for i in pick]
        present += [[gen.marker(int(bt.upsert_idx[j]), int(bt.upsert_rev[j])),
                     xxh64_signed(gen.url_of(int(bt.upsert_idx[j])))] for j in ups]
        absent = [gen.marker(int(bt.upsert_idx[j]), int(bt.upsert_rev[j]) - 1)
                  for j in ups]
        run.tally(run.qp.call("check_markers", present=present, absent=absent,
                              n_docs=live_docs), f"batch{b}")

    if traced:
        run.qp.call("trace", on=False)
        fams = {str(j): q["family"] for j, q in enumerate(stream[:per * REFRESH_BATCHES])}
        layers = {**run.build_layers(),
                  **run.query_layers(fams, stream[(REFRESH_BATCHES - 1) * per:])}
        return layers, {}

    from perfbench.stats import median

    rss = run.qp.call("rss")["peak_rss_mb"]
    info: dict = {"batches": REFRESH_BATCHES, "bursts": len(burst_qps),
                  "burst_qps": burst_qps, "visible_s": visible}
    metrics = {
        "setup_s": (setup_s, "s"),
        "visible_s": (median(visible), "s"),
        "ingest_docs_per_s": (made / ingest_s, "1/s"),
        "index_bytes_per_doc": (run.engine.dir_bytes(index_dir) / live_docs, "B"),
        **query_metrics(best, rss, info),
    }
    return metrics, info


WORKLOADS = {"serve": serve, "refresh": refresh}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and query process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import data_prepper_spark.index.live  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    run = Run(args)
    load0 = os.getloadavg()[0]
    try:
        metrics, info = WORKLOADS[args.workload](run)
        if run.rec is not None:
            run.rec.dump(os.path.join(run.trace_dir(), "build-spans.json"))
    finally:
        run.close()
    info.update(workload=args.workload, seed=args.seed, cpus=run.cpus,
                loadavg_1m_start=load0,
                loadavg_1m_end=os.getloadavg()[0], failures=run.notes)
    print(json.dumps({"info": info}))
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
