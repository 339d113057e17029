"""Span and counter recorder for the traced run.

Spans are recorded around calls into the engine's public functions and
the names its modules import from each other, by swapping module and
class attributes for timing wrappers; ``restore`` puts the originals
back.  The engine itself is not changed.  Spans live in memory as
``[name, start, end, parent, request]`` and are written out when the run
ends.  A layer's self time is its spans' duration minus the part of each
interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

_now = time.perf_counter

# names index.scoring imports from index.codec that decode posting bytes
CODEC_DECODERS = (
    "decode_docids", "decode_uints", "delta_decode_docids",
    "pfor_decode_indexed", "pfor_decode_range", "varint_decode",
    "varint_decode_range",
)
# scoring entry points as imported by the query modules, by layer name
SCORING_NAMES = {
    "decode_slice": "scoring.decode",
    "decode_slice_lazy": "scoring.decode",
    "score_bmw": "scoring.bmw",
    "score_bmw_lazy": "scoring.bmw",
    "score_brute": "scoring.brute",
    "topk_select": "scoring.topk",
}
_MISSING = object()


class Recorder:
    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.req = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, _now(), 0.0, parent, self.req])
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx][2] = _now()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a *name* span per
        call; ``on_call(recorder, args, kwargs)`` runs first when given."""
        orig = getattr(owner, attr)
        rec = self

        def traced(*a, **k):
            if on_call is not None:
                on_call(rec, a, k)
            idx = rec._open(name)
            try:
                return orig(*a, **k)
            finally:
                rec._close(idx)

        traced.__wrapped__ = orig
        self._patched.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, traced)

    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "fields": ["name", "start", "end", "parent", "request"],
                "spans": self.spans,
                "counts": dict(self.counts),
            }, f)

    # ------------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        return self_times(self.spans)

    def layer(self, name: str, reqs=None) -> tuple[float, int]:
        """(total self seconds, span count) of *name* spans, limited to
        requests in *reqs* when given."""
        st = self.self_times()
        tot, n = 0.0, 0
        for s, t in zip(self.spans, st):
            if s[0] == name and (reqs is None or s[4] in reqs):
                tot += t
                n += 1
        return tot, n


def self_times(spans) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s[3] >= 0:
            children[s[3]].append((s[1], s[2]))
    out = []
    for i, s in enumerate(spans):
        lo, hi = s[1], s[2]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((hi - lo) - covered)
    return out


def install_query_tracing(rec: Recorder) -> None:
    """Wrap the serving layers: searcher open/search/term stats, the
    scoring names each query module imports, the codec decoders that
    index.scoring imports, and the three query-family entry points."""
    from data_prepper_spark.index import (
        boolquery, filtered, query, querystring, scoring,
    )

    rec.wrap(query.BM25Searcher, "__init__", "query.open")
    rec.wrap(query.BM25Searcher, "search", "query.search")
    rec.wrap(query.BM25Searcher, "term_stats", "query.termstats")
    for mod in (query, boolquery, filtered, querystring):
        for attr, name in SCORING_NAMES.items():
            if attr in vars(mod):
                rec.wrap(mod, attr, name)
    # querystring imports decode_slice_lazy inside a function, reading it
    # from index.scoring at call time; modules that imported the name at
    # load time keep their own wrappers above
    rec.wrap(scoring, "decode_slice_lazy", "scoring.decode")
    for attr in CODEC_DECODERS:
        if attr in vars(scoring):
            rec.wrap(scoring, attr, "codec.decode")
    rec.wrap(boolquery, "search_bool", "boolquery.search")
    rec.wrap(filtered, "search_filtered", "filtered.search")
    rec.wrap(querystring, "search_simple_query_string", "querystring.search")
