"""Spark-free serving probe for the scoring kernels.

Builds serve-like indexes of the perfbench corpus on the driver (the
one-shot build's driver route, called directly, so no SparkSession is
needed at any size), then answers the perfbench query stream on one
pinned CPU:

- warm: one searcher; a warm-up pass, then N timed passes, best time per
  query;
- first touch: N passes, each on a FRESH searcher, best time per query.

It does so for two streams, the benchmark's mixed serve stream and its
match queries alone, and prints the per-family p50 (median of the
per-query best times, ms) and qps (stream size over the best pass wall
time) of each, one JSON line per index size, and asserts that every match query and every
filtered query answers exactly what brute-force scoring answers (same
doc ids, same scores, bit for bit).

Usage:
  python tools/bench_bmw.py --pages 8000 100000 --reps 5 --cpu 1
  python tools/bench_bmw.py --pages 8000 --engine ../parent --dump p.json
      # time another checkout's engine on the same indexes; compare the
      # --dump files of two checkouts with cmp for hit identity

Indexes are cached under --work (keyed by seed and page count) and
reused across runs.  A 100k-page build (~90k docs) takes ~20 s and
~2.5 GB of memory on one core.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10
CHUNK = 10_000  # pages generated and extracted per step


def build(seed: int, n_pages: int, out: str) -> None:
    """The benchmark's serve index (``perfbench.run`` settings and
    docvalue columns) over pages ``0..n_pages`` of the seed's corpus,
    built by ``build._build_local``: docIDs are xxhash64(url) as the
    Spark route computes them, non-English pages are dropped."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from data_prepper_spark.hashing import xxh64_signed_arrow
    from data_prepper_spark.index import build as build_mod
    from data_prepper_spark.index.config import IndexConfig
    from data_prepper_spark.textproc import extract_text_series
    from perfbench import gen, run

    cfg = IndexConfig(**run.INDEX_SETTINGS)
    corpus = gen.Corpus(seed)
    metas, texts = [], []
    for a in range(0, n_pages, CHUNK):
        idx = np.arange(a, min(a + CHUNK, n_pages))
        pdf = corpus.pages(idx, np.zeros(idx.size, np.int64), 0)
        pdf = pdf[pdf["lang"] == cfg.lang].reset_index(drop=True)
        texts.append(extract_text_series(pdf["html"]))
        url = pa.array(pdf["url"], pa.string())
        metas.append(pa.table({
            "doc_id": xxh64_signed_arrow(url),
            "url": url,
            **{c: pa.array(pdf[c]) for c in run.FIELD_COLS},
        }))
    build_mod._build_local(
        pa.concat_tables(metas), pd.concat(texts, ignore_index=True),
        out, cfg, build_mod._stage_timer(),
    )


def _family_p50(qs, best) -> dict:
    import numpy as np

    fams = sorted({q["family"] for q in qs})
    return {
        f: round(float(np.median([b for q, b in zip(qs, best)
                                  if q["family"] == f])), 3)
        for f in fams
    }


def _pass(searcher, qs, run_query):
    """(per-query ms, wall s) of one pass over *qs*."""
    ms = []
    t0 = time.perf_counter()
    for q in qs:
        t = time.perf_counter()
        run_query(searcher, q)
        ms.append((time.perf_counter() - t) * 1e3)
    return ms, time.perf_counter() - t0


def _check(searcher, qs, run_query) -> list:
    """Every query's hits; asserts match and filtered queries equal
    brute-force scoring bit for bit."""
    from data_prepper_spark.index import filtered
    from perfbench import gen

    out = []
    for q in qs:
        got = run_query(searcher, q)
        out.append([[int(d), float(s)] for d, s in got])
        if q["family"] == "match":
            want = searcher.search(q["q"], k=K, mode="brute")
        elif q["family"] == "filtered":
            flt = [(c, op, gen.ts_of(v) if c == "warc_ts" else v)
                   for c, op, v in q["filters"]]
            allowed, _ = filtered._meta_ids_vals(searcher, flt)
            keep = set(allowed.tolist())
            every = searcher.search(q["q"], k=None)
            want = sorted(((d, s) for d, s in every if d in keep),
                          key=lambda t: (-t[1], t[0]))[:K]
        else:
            continue
        assert [tuple(h) for h in got] == [tuple(h) for h in want], q
    return out


def _timings(index_dir: str, qs: list, reps: int, run_query) -> tuple[dict, list]:
    """Warm and first-touch p50s and qps of the stream *qs*, plus every
    query's hits (checked against brute force, warm and first touch)."""
    from data_prepper_spark.index.query import BM25Searcher

    res = {}
    s = BM25Searcher(None, index_dir)
    _pass(s, qs, run_query)  # warm-up: caches and stream memos
    best, wall = [float("inf")] * len(qs), float("inf")
    for _ in range(reps):
        ms, w = _pass(s, qs, run_query)
        best = [min(a, b) for a, b in zip(best, ms)]
        wall = min(wall, w)
    res["warm_p50_ms"] = _family_p50(qs, best)
    res["warm_qps"] = round(len(qs) / wall, 1)
    hits = _check(s, qs, run_query)

    best, wall = [float("inf")] * len(qs), float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fresh = BM25Searcher(None, index_dir)
        ms, _ = _pass(fresh, qs, run_query)
        best = [min(a, b) for a, b in zip(best, ms)]
        wall = min(wall, time.perf_counter() - t0)
    res["first_p50_ms"] = _family_p50(qs, best)
    res["first_qps"] = round(len(qs) / wall, 1)
    assert _check(BM25Searcher(None, index_dir), qs, run_query) == hits
    return res, hits


def probe(index_dir: str, seed: int, n_pages: int, reps: int) -> tuple[dict, dict]:
    """Timings of two streams: the benchmark's mixed serve stream, and
    its match queries alone (no other family warms the streams first)."""
    from data_prepper_spark.index.query import BM25Searcher
    from perfbench import gen, run
    from perfbench.qserver import run_query

    res = {"pages": n_pages, "docs": BM25Searcher(None, index_dir).n_docs,
           "reps": reps}
    hits = {}
    streams = {"mixed": run.SERVE_COUNTS,
               "match_only": {"match": run.SERVE_COUNTS["match"]}}
    for name, counts in streams.items():
        qs = gen.query_stream(seed, counts, n_pages)
        res[name], hits[name] = _timings(index_dir, qs, reps, run_query)
    return res, hits


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, nargs="+", default=[8000, 100_000])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpu", type=int, default=1, help="CPU to pin to")
    ap.add_argument("--work", default=os.path.join("/tmp", "bench_bmw"))
    ap.add_argument("--engine", default=REPO,
                    help="checkout whose data_prepper_spark is timed")
    ap.add_argument("--dump", help="write every query's hits here (JSON)")
    args = ap.parse_args(argv)

    sys.path[:0] = [os.path.abspath(args.engine), REPO]
    os.sched_setaffinity(0, {args.cpu})
    dumps = {}
    for n in args.pages:
        d = os.path.join(args.work, f"serve_s{args.seed}_p{n}")
        if not os.path.exists(os.path.join(d, "stats")):
            t = time.perf_counter()
            build(args.seed, n, d)
            print(f"built {d} in {time.perf_counter() - t:.1f} s",
                  file=sys.stderr)
        res, dumps[n] = probe(d, args.seed, n, args.reps)
        print(json.dumps(res), flush=True)
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(dumps, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
