"""Correctness gates count an injected wrong result as a failure."""

from perfbench.qserver import Server, same_hits


class FakeSearcher:
    """bmw answers from *bmw*, brute from *brute*; any other search
    answers from *hits* by query text."""

    def __init__(self, bmw=(), brute=(), hits=None, n_docs=3):
        self.bmw, self.brute = list(bmw), list(brute)
        self.hits = hits or {}
        self.n_docs = n_docs

    def search(self, q, k=10, mode="bmw"):
        if q in self.hits:
            return self.hits[q]
        return self.bmw if mode == "bmw" else self.brute


def _server(searcher):
    srv = Server()
    srv.searcher = searcher
    return srv


def test_same_hits_tolerance():
    assert same_hits([(1, 2.0)], [(1, 2.0 * (1 + 1e-12))])
    assert not same_hits([(1, 2.0)], [(1, 2.001)])
    assert not same_hits([(1, 2.0), (2, 1.0)], [(2, 1.0), (1, 2.0)])


def test_bmw_check_counts_injected_mismatch():
    good = [(5, 3.0), (9, 1.5)]
    ok = _server(FakeSearcher(good, good)).op_check_bmw({"queries": ["a b"]})
    assert (ok["attempted"], ok["failed"]) == (1, 0)
    wrong = [(5, 3.0), (8, 1.5)]  # injected wrong doc id
    bad = _server(FakeSearcher(good, wrong)).op_check_bmw({"queries": ["a b", "c"]})
    assert (bad["attempted"], bad["failed"]) == (2, 2)


def test_marker_check_counts_stale_and_missing_docs():
    s = FakeSearcher(hits={"k1r1": [(11, 4.0)], "k1r0": [], "k2r0": [(99, 1.0)]},
                     n_docs=2)
    cmd = {"present": [["k1r1", 11], ["k2r0", 12]], "absent": ["k1r0"], "n_docs": 2}
    res = _server(s).op_check_markers(cmd)
    assert res["failed"] == 1 and res["mismatches"] == ["k2r0"]
    s.hits["k1r0"] = [(11, 2.0)]  # the old revision still matches
    s.n_docs = 3
    res = _server(s).op_check_markers(cmd)
    assert res["failed"] == 3


def test_run_tally_accumulates_failures():
    from perfbench.run import Run

    run = Run.__new__(Run)
    run.attempted = run.failed = 0
    run.notes = []
    run.tally({"attempted": 4, "failed": 1, "mismatches": ["q"]}, "bmw_vs_brute")
    run.tally({"attempted": 3, "failed": 0}, "batch1")
    assert (run.attempted, run.failed) == (7, 1)
    assert run.notes == [{"bmw_vs_brute": ["q"]}]


def test_probe_query_is_not_tagged_as_a_measured_request():
    from perfbench.trace import Recorder

    srv = _server(FakeSearcher(hits={"a": [], "b": []}))
    srv.rec = Recorder()
    seen = []
    srv.searcher.search = lambda q, k=10: seen.append(srv.rec.req) or []
    srv._timed([{"family": "match", "q": "a"}], [])
    srv._timed([{"family": "match", "q": "a"}, {"family": "match", "q": "b"}],
               [], req0=0)
    assert seen == ["probe", 0, 1]
