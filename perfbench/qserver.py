"""Query process: answers the benchmark's queries with driver-mode
searchers and no Spark session.

Protocol: one JSON command per line on stdin, one JSON reply per line on
stdout.  Run as ``python3 -m perfbench.qserver`` from the repository
root.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from data_prepper_spark.index import boolquery, filtered, query, querystring

from perfbench import gen
from perfbench.trace import Recorder, install_query_tracing

K = 10
SCORE_RTOL = 1e-9  # float64 sums in a different block order


class CorePicker:
    """Keeps the query process on the CPU that is fastest right now.

    On a shared host one CPU's speed for the same code flips between
    about 1x and 1.4x for stretches of a second or more, most likely as
    other tenants load the physical core behind it, and the CPUs flip
    independently.
    At most every ``EVERY_S`` seconds the picker times a fixed loop on
    each CPU the process may use and pins the process to the fastest.
    All its threads go there, the reader threads pyarrow starts too: a
    hand-off between threads on two CPUs of a shared host varies far more
    in cost than one on a single CPU.  It runs between queries, never
    inside a timed one."""

    EVERY_S = 0.25

    def __init__(self):
        self.cpus = sorted(os.sched_getaffinity(0))
        self.last = float("-inf")

    @staticmethod
    def _loop() -> float:
        t = time.perf_counter()
        s = 0
        for i in range(15_000):
            s += i * i % 7
        return time.perf_counter() - t

    def pick(self) -> None:
        if len(self.cpus) < 2 or time.perf_counter() - self.last < self.EVERY_S:
            return
        speed = {}
        for c in self.cpus:
            os.sched_setaffinity(0, {c})
            speed[c] = min(self._loop(), self._loop())
        best = {min(speed, key=speed.get)}
        for tid in os.listdir("/proc/self/task"):
            try:
                os.sched_setaffinity(int(tid), best)
            except OSError:  # the thread has just exited
                pass
        self.last = time.perf_counter()


def run_query(searcher, q: dict):
    """One query of the generated stream, dispatched by family through
    module attributes (so trace wrappers see it)."""
    fam = q["family"]
    if fam == "match":
        return searcher.search(q["q"], k=K)
    if fam == "bool":
        return boolquery.search_bool(
            searcher, must=q["must"], should=q["should"],
            must_not=q["must_not"], k=K,
        )
    if fam == "filtered":
        flt = [
            (c, op, gen.ts_of(v) if c == "warc_ts" else v)
            for c, op, v in q["filters"]
        ]
        return filtered.search_filtered(searcher, q["q"], flt, k=K)
    if fam == "sqs":
        return querystring.search_simple_query_string(searcher, q["q"], k=K)
    raise ValueError(f"unknown query family {fam!r}")


def same_hits(got, want) -> bool:
    """Same doc ids in the same order, scores equal within SCORE_RTOL."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        abs(a - b) <= SCORE_RTOL * max(abs(a), abs(b), 1e-300)
        for (_, a), (_, b) in zip(got, want)
    )


class Server:
    def __init__(self):
        self.searcher = None
        self.rec: Recorder | None = None
        self.cores = CorePicker()

    def _untagged(self):
        """Spans of correctness checks belong to no measured request."""
        if self.rec is not None:
            self.rec.req = "check"

    def _timed(self, queries, lat, req0=None):
        """Run each query once; append (family, ms) to *lat*, with ms None
        for a query that raised; return the number that raised.  Spans are
        tagged with request ids from *req0*, or with "probe" (no measured
        pass) when it is None."""
        failed = 0
        for j, q in enumerate(queries):
            self.cores.pick()
            if self.rec is not None:
                self.rec.req = "probe" if req0 is None else req0 + j
            t = time.perf_counter()
            try:
                run_query(self.searcher, q)
            except Exception:  # noqa: BLE001 - a failing query is a counted failure
                traceback.print_exc()
                failed += 1
                lat.append((q["family"], None))
                continue
            lat.append((q["family"], (time.perf_counter() - t) * 1e3))
        return failed

    def op_open(self, cmd):
        """Open a fresh searcher on cmd['dir'] and answer cmd['queries']
        on it (the first one is the visibility probe)."""
        if self.rec is not None:
            self.rec.req = "open"
        t = time.perf_counter()
        self.searcher = query.BM25Searcher(None, cmd["dir"])
        open_ms = (time.perf_counter() - t) * 1e3
        lat: list = []
        failed = self._timed(cmd.get("queries", []), lat, cmd.get("req0"))
        return {"open_ms": open_ms, "lat": lat, "failed": failed,
                "n_docs": self.searcher.n_docs}

    def op_run(self, cmd):
        """One untimed warm pass, then a closed loop (one client) of whole
        passes over the stream until cmd['seconds'] have passed, at least
        two.  Returns each pass's samples and wall time."""
        qs = cmd["queries"]
        failed = self._timed(qs, [])
        passes = []
        t0 = time.perf_counter()
        while len(passes) < 2 or time.perf_counter() - t0 < cmd["seconds"]:
            lat: list = []
            t = time.perf_counter()
            failed += self._timed(qs, lat)
            passes.append({"lat": lat, "wall": time.perf_counter() - t})
        return {"passes": passes, "attempted": len(qs) * (len(passes) + 1),
                "failed": failed}

    def op_check_bmw(self, cmd):
        """bmw must equal brute (doc ids and scores) on each match query."""
        self._untagged()
        bad = []
        for q in cmd["queries"]:
            a = self.searcher.search(q, k=K, mode="bmw")
            b = self.searcher.search(q, k=K, mode="brute")
            if not same_hits(a, b):
                bad.append(q)
        return {"attempted": len(cmd["queries"]), "failed": len(bad),
                "mismatches": bad[:5]}

    def op_check_markers(self, cmd):
        """Each present marker finds exactly its doc; each absent marker
        finds nothing; the searcher holds cmd['n_docs'] live docs."""
        self._untagged()
        bad = []
        for m, doc in cmd["present"]:
            hits = self.searcher.search(m, k=2)
            if [d for d, _ in hits] != [doc]:
                bad.append(m)
        for m in cmd["absent"]:
            if self.searcher.search(m, k=2):
                bad.append(m)
        n = len(cmd["present"]) + len(cmd["absent"]) + 1
        if self.searcher.n_docs != cmd["n_docs"]:
            bad.append(f"n_docs {self.searcher.n_docs} != {cmd['n_docs']}")
        return {"attempted": n, "failed": len(bad), "mismatches": bad[:5]}

    def op_pass(self, cmd):
        """Run cmd['queries'] once, request ids from cmd['req0']."""
        lat: list = []
        failed = self._timed(cmd["queries"], lat, cmd.get("req0"))
        return {"lat": lat, "failed": failed}

    def op_trace(self, cmd):
        """Install (on) or remove (off) the trace wrappers; spans collect
        in one recorder for the life of the process."""
        if cmd["on"]:
            self.rec = self.rec or Recorder()
            if not self.rec.installed:
                install_query_tracing(self.rec)
        elif self.rec is not None:
            self.rec.restore()
        return {}

    def op_overhead(self, cmd):
        """Wall time of each query of cmd['queries'] untraced and traced,
        back to back on a warm searcher, with the order alternating from
        query to query so host drift and cache effects fall on both sides
        alike.  Repeated cmd['reps'] times; returns the summed seconds per
        side of each repeat."""
        off, on = [], []
        scratch = Recorder()
        for _ in range(cmd["reps"]):
            side = {False: 0.0, True: 0.0}
            for j, q in enumerate(cmd["queries"]):
                for traced in ((False, True) if j % 2 == 0 else (True, False)):
                    if traced:
                        install_query_tracing(scratch)
                    lat: list = []
                    self._timed([q], lat)
                    side[traced] += (lat[0][1] or 0.0) / 1e3
                    if traced:
                        scratch.restore()
                        scratch.spans.clear()
            off.append(side[False])
            on.append(side[True])
        return {"untraced": off, "traced": on}

    def op_layers(self, cmd):
        """Per-layer figures of the traced passes; spans are written to
        cmd['dump']."""
        rec = self.rec
        fams = cmd["families"]  # request id -> family
        rec.dump(cmd["dump"])
        by_fam: dict[str, set] = {}
        for r, f in fams.items():
            by_fam.setdefault(f, set()).add(int(r))
        out = {}
        match = by_fam.get("match", set())
        nm = max(1, len(match))
        for name in ("query.search", "query.termstats", "scoring.decode",
                     "scoring.bmw", "scoring.topk", "codec.decode"):
            tot, n = rec.layer(name, match)
            out[name] = {"ms": tot * 1e3 / nm, "calls": n / nm}
        for name, fam in (("boolquery.search", "bool"),
                          ("filtered.search", "filtered"),
                          ("querystring.search", "sqs")):
            reqs = by_fam.get(fam, set())
            tot, n = rec.layer(name, reqs)
            out[name] = {"ms": tot * 1e3 / max(1, len(reqs)), "calls": n}
        tot, n = rec.layer("query.open", {"open"})
        out["query.open"] = {"ms": tot * 1e3 / max(1, n), "calls": n}
        return out

    def op_rss(self, cmd):
        with open("/proc/self/status") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
        return {"peak_rss_mb": kb / 1024.0}


def main() -> None:
    out = sys.stdout
    sys.stdout = sys.stderr  # stray prints must not corrupt the protocol
    srv = Server()
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["op"] == "exit":
            break
        try:
            res = getattr(srv, "op_" + cmd["op"])(cmd)
        except Exception:  # noqa: BLE001 - report to the caller, keep serving
            res = {"error": traceback.format_exc()}
        out.write(json.dumps(res) + "\n")
        out.flush()


if __name__ == "__main__":
    main()
