"""Seeded inputs for the benchmark: web pages, the refresh batch plan and
the query stream, all derived from one ``--seed``.

The shape is fixed and only the draws depend on the seed, so two seeds
give different inputs that cost the same to index and to query:

- the vocabulary is 5000 seed-spelled words with a Zipf(1.07) rank
  distribution (the design of ``data_prepper_spark/corpus.py``, which
  hard-codes its seed);
- every query is built from a fixed list of *rank-band patterns*
  (head, mid, rare); the seed picks which words of each band fill them,
  cycling through a seeded permutation of the band so every rank is used
  equally often.

Every page carries one marker token ``k<doc>r<rev>``, unique to that
document revision.  The refresh correctness gate searches for it to
prove a batch is visible and that an upsert replaced the old text.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.07
MIN_LEN, MAX_LEN = 20, 400
EN_PER_20 = 18  # 90% of pages are English, the rest are filtered out
T0 = _dt.datetime(2025, 1, 1)

# 0-based Zipf rank bands the query patterns draw from
BANDS = {"head": (0, 24), "mid": (100, 400), "rare": (1500, 4000)}

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, lang string"
_CATS = ["news", "blog", "docs", "shop", "wiki", "forum", "code", "media"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

_weights = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
_CDF = np.cumsum(_weights / _weights.sum())
_CDF[-1] = 1.0


def vocabulary(seed: int) -> np.ndarray:
    """VOCAB_SIZE distinct letters-only words, rank order, spelled by *seed*.
    Letters only, so no word collides with a ``k<doc>r<rev>`` marker."""
    rng = np.random.default_rng([seed, 0])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        w = "".join(_LETTERS[rng.integers(0, 26, n)].tolist())
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.asarray(words, dtype=object)


def is_english(idx: np.ndarray, seed: int) -> np.ndarray:
    """Language of each doc index: a fixed hash of (seed, index), so a
    document keeps its language across revisions."""
    with np.errstate(over="ignore"):
        x = np.asarray(idx, dtype=np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(20)) < np.uint64(EN_PER_20)


def url_of(i: int) -> str:
    return f"https://site{i % 997}.example/{_CATS[i % 8]}/{i}"


def marker(i: int, rev: int) -> str:
    return f"k{i}r{rev}"


class Corpus:
    """Page generator for one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.words = vocabulary(seed)

    def pages(self, idx, revs, key: int) -> pd.DataFrame:
        """Pages for doc indices *idx* at revisions *revs*.  *key* names the
        call (0 for the bulk corpus, 1+b for refresh batch b) and seeds its
        text draws, so a plan regenerates identically."""
        idx = np.asarray(idx, dtype=np.int64)
        revs = np.asarray(revs, dtype=np.int64)
        rng = np.random.default_rng([self.seed, 1, key])
        lens = rng.integers(MIN_LEN, MAX_LEN + 1, idx.size)
        toks = self.words[np.searchsorted(_CDF, rng.random(int(lens.sum())), side="right")]
        ends = np.cumsum(lens)
        en = is_english(idx, self.seed)
        urls, htmls = [], []
        start = 0
        for j, (i, r) in enumerate(zip(idx.tolist(), revs.tolist())):
            end = int(ends[j])
            text = " ".join(toks[start:end].tolist()) + " " + marker(i, r)
            start = end
            urls.append(url_of(i))
            htmls.append(
                f"<html><head><title>{toks[end - 1]}</title></head>"
                f"<body><p>{text}</p></body></html>".encode()
            )
        return pd.DataFrame({
            "url": pd.Series(urls, dtype="object"),
            "warc_ts": pd.Timestamp(T0) + pd.to_timedelta(idx, unit="s"),
            "html": pd.Series(htmls, dtype="object"),
            "lang": np.where(en, "en", np.where(idx % 2 == 0, "de", "fr")).astype(object),
        })


@dataclass
class Batch:
    """One refresh micro-batch: new documents plus upserts of documents
    indexed earlier (same URL, next revision)."""

    new_idx: np.ndarray
    upsert_idx: np.ndarray
    upsert_rev: np.ndarray
    idx: np.ndarray = field(init=False)
    revs: np.ndarray = field(init=False)

    def __post_init__(self):
        self.idx = np.concatenate([self.new_idx, self.upsert_idx])
        self.revs = np.concatenate(
            [np.zeros(self.new_idx.size, np.int64), self.upsert_rev]
        )


def batch_plan(seed: int, n_base: int, n_batches: int, batch_docs: int,
               upsert_share: float) -> list[Batch]:
    """Micro-batches after a base of docs ``[0, n_base)``.  Each batch holds
    *batch_docs* pages; ``upsert_share`` of them re-ingest English docs
    from the base or an earlier batch."""
    rng = np.random.default_rng([seed, 2])
    n_up = int(round(batch_docs * upsert_share))
    n_new = batch_docs - n_up
    rev: dict[int, int] = {}
    out = []
    nxt = n_base
    for _ in range(n_batches):
        pool = np.arange(nxt, dtype=np.int64)
        pool = pool[is_english(pool, seed)]
        up = np.sort(rng.choice(pool, size=n_up, replace=False))
        revs = np.array([rev.get(int(i), 0) + 1 for i in up], dtype=np.int64)
        for i, r in zip(up.tolist(), revs.tolist()):
            rev[i] = r
        out.append(Batch(np.arange(nxt, nxt + n_new, dtype=np.int64), up, revs))
        nxt += n_new
    return out


# Query patterns per family; each entry is filled with words of the named
# bands.  The lists are fixed, so every seed has the same mix of costs.
# A pattern's queries cost about the same and patterns differ widely, so
# latencies cluster by pattern.  Each list has an odd length and a run
# draws every pattern equally often: the median then falls inside one
# pattern's cluster, not on the gap between two, where it would jump
# between them from run to run.
MATCH_PATTERNS = [
    ("rare",), ("mid",), ("head",), ("mid", "head"), ("rare", "head"),
    ("mid", "mid"), ("rare", "mid"), ("head", "head"), ("rare", "rare"),
    ("rare", "mid", "head"), ("mid", "mid", "head"), ("head", "head", "mid"),
    ("rare", "rare", "head"),
]
# (must, should, must_not)
BOOL_PATTERNS = [
    (("mid",), ("head",), ("rare",)),
    (("mid", "head"), ("mid",), ()),
    (("head",), (), ("mid",)),
    ((), ("mid", "rare"), ()),
    (("rare",), ("head", "mid"), ()),
    (("mid",), (), ("head",)),
    (("rare",), ("mid",), ()),
]
# (query bands, warc_ts window as fractions of the doc index range)
FILTERED_PATTERNS = [
    (("mid",), (0.0, 0.5)),
    (("mid", "head"), (0.25, 0.75)),
    (("rare", "head"), (0.1, 0.9)),
    (("head",), (0.6, 0.7)),
    (("mid", "mid"), (0.3, 0.6)),
]
# simple_query_string: groups separated by |, "-" negates within a group
SQS_PATTERNS = [
    "mid head",
    "mid | rare head",
    "mid head -rare",
    "mid mid | head rare",
    "rare | mid -head",
]
FAMILIES = ("match", "bool", "filtered", "sqs")
PATTERNS = {"match": MATCH_PATTERNS, "bool": BOOL_PATTERNS,
            "filtered": FILTERED_PATTERNS, "sqs": SQS_PATTERNS}


class _BandDraw:
    """Cycles through a seeded permutation of each band's ranks."""

    def __init__(self, words: np.ndarray, rng: np.random.Generator):
        self.words = words
        self.perm = {b: rng.permutation(np.arange(lo, hi)) for b, (lo, hi) in BANDS.items()}
        self.pos = dict.fromkeys(BANDS, 0)

    def __call__(self, band: str, avoid: set[str]) -> str:
        while True:
            p = self.perm[band]
            w = self.words[p[self.pos[band] % p.size]]
            self.pos[band] += 1
            if w not in avoid:
                avoid.add(w)
                return w


def query_stream(seed: int, counts: dict[str, int], n_docs: int) -> list[dict]:
    """``counts[family]`` distinct queries per family, interleaved so any
    prefix of the stream holds the families in proportion.  *n_docs* is
    the doc index range the ``warc_ts`` windows are cut from."""
    words = vocabulary(seed)
    draw = _BandDraw(words, np.random.default_rng([seed, 3]))
    per: dict[str, list[dict]] = {}
    for fam in FAMILIES:
        qs = []
        pats = PATTERNS[fam]
        for j in range(counts.get(fam, 0)):
            used: set[str] = set()
            pat = pats[j % len(pats)]
            if fam == "match":
                qs.append({"family": fam, "q": " ".join(draw(b, used) for b in pat)})
            elif fam == "bool":
                must, should, must_not = pat
                qs.append({
                    "family": fam,
                    "must": [draw(b, used) for b in must],
                    "should": [draw(b, used) for b in should],
                    "must_not": [draw(b, used) for b in must_not],
                })
            elif fam == "filtered":
                bands, (lo, hi) = pat
                qs.append({
                    "family": fam,
                    "q": " ".join(draw(b, used) for b in bands),
                    "filters": [
                        ["lang", "==", "en"],
                        ["warc_ts", ">=", int(lo * n_docs)],
                        ["warc_ts", "<", int(hi * n_docs)],
                    ],
                })
            else:
                toks = []
                for t in pat.split():
                    if t == "|":
                        toks.append(t)
                    elif t.startswith("-"):
                        toks.append("-" + draw(t[1:], used))
                    else:
                        toks.append(draw(t, used))
                qs.append({"family": fam, "q": " ".join(toks)})
        per[fam] = qs
    # interleave by share: each query sits at its fractional position
    keyed = [
        ((j + 0.5) / len(qs), FAMILIES.index(fam), q)
        for fam, qs in per.items() for j, q in enumerate(qs)
    ]
    keyed.sort(key=lambda t: (t[0], t[1]))
    return [q for _, _, q in keyed]


def ts_of(offset: int) -> _dt.datetime:
    """The ``warc_ts`` of doc index *offset* (filters carry offsets)."""
    return T0 + _dt.timedelta(seconds=offset)
