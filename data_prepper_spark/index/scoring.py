"""BM25 scoring kernels (numpy, shared by driver-side and distributed paths).

Two strategies over decoded posting slices:

- ``score_brute``: exact term-at-a-time accumulation over the union of
  docIDs (the correctness anchor).
- ``score_bmw``: block-max pruning — segments the docID space at every
  term's block boundary, upper-bounds each segment by Σ idf·block_ub,
  scores segments in descending bound order, in batches of 1, 2, 4, …
  (one read per chain, one ``score_brute`` pass and one threshold update
  per batch), and stops at the first segment whose bound falls below the
  running top-k threshold. Exact top-k (prune is strict ``<`` so score
  ties, broken by doc_id ASC, are never lost).

A query is ONE pass: ``score_bmw`` takes the slices of every docID range
at once, lazy or decoded, and groups each term's slices into chains of
disjoint, ordered docID spans — found by interval partitioning on docIDs,
never by range_id (:func:`_chain_groups`) — so one threshold prunes the
whole docID space.  Lazy slices read blocks through stream objects that
promote themselves to a memoized full decode once their cumulative reads
reach the stream length (:class:`_Stream`), so a warm searcher stops
re-decoding hot terms; a chain whose members are all memo-backed reads a
batch's segments out of one concatenated array (:meth:`_Chain.spans_values`).

Every query family reads postings the same way: one block-lazy
:class:`TermView` per term (:func:`term_views`) holds that term's slices
of every range and every duplicate row of a merged index, and the
searcher's tombstones are a deny set the kernels check — ``score_bmw``
beside ``allowed``, the conjunctive and filtered evaluators through the
views' candidates.

Accumulation order is fixed (terms processed in sorted order, float64),
so scores are bit-reproducible and rank-identical to the pure-Python
oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .codec import (
    _BIAS,
    _TAG_PFOR,
    _TAG_VARINT,
    decode_docids,
    decode_uints,
    decode_uints_batch,
    docids_from_deltas,
    pfor_block_index,
    pfor_decode_indexed,
    pfor_decode_range,
    split_rows,
    unpack_f32,
    unpack_i64,
    varint_decode,
    varint_decode_range,
    varint_value_ends,
)


class _Stream:
    """Random-access view of one tagged value stream of ``n`` values, with
    the hot-promotion rule every read shares (``gather`` for block reads —
    BMW segment batches and conjunctive candidates — and ``decode_range``
    for a slice's last block).

    Promotion (amortized 2×): each read adds its value count to a
    per-stream counter.  Once the cumulative count reaches ``n``, or one
    read covers at least half the stream, the stream decodes fully into
    its memo (``decode_all``) and serves that read and every later one by
    slicing.  Work wasted before promotion is below one full decode, and a
    hot term's stream then decodes once per searcher lifetime instead of
    once per query (cached posting rows keep the stream objects alive).
    The memo's memory is the decoded worst case the posting-cache budget
    already charges (query.py, 32 B/posting)."""

    __slots__ = ("b", "n", "_all", "_read", "_abs", "_last")

    def __init__(self, payload: np.ndarray, n: int):
        self.b = payload
        self.n = n
        self._all = None
        self._read = 0    # cumulative values read before promotion
        self._abs = None  # doc streams only: memoized absolute docIDs
        self._last = None  # doc streams only: memoized last docID

    def _hot(self, count: int) -> bool:
        """Count a read of *count* values; True once the memo serves it."""
        if self._all is None:
            self._read += count
            if 2 * count >= self.n or self._read >= self.n:
                self.decode_all()
        return self._all is not None

    def decode_range(self, a: int, z: int) -> np.ndarray:
        if self._hot(z - a):
            return self._all[a:z]
        return self._range(a, z)

    def gather(self, runs: np.ndarray) -> np.ndarray:
        """Values of many (va, vz) value-range runs, concatenated."""
        if self._all is not None or self._hot(int((runs[:, 1] - runs[:, 0]).sum())):
            return _take_runs(self._all, runs)
        return self._gather(runs)

    def decode_all(self) -> np.ndarray:
        """Full decode, memoized."""
        if self._all is None:
            self._all = self._full()
        return self._all


class _VarintStream(_Stream):
    """Tagged-varint stream: a one-pass terminator scan (lazy) yields
    per-value byte offsets, then any value range decodes independently
    (LEB128 is self-delimiting)."""

    __slots__ = ("_ends",)

    def __init__(self, payload: np.ndarray, n: int):
        super().__init__(payload, n)
        self._ends = None

    def _e(self):
        if self._ends is None:
            self._ends = varint_value_ends(self.b)
        return self._ends

    def _range(self, a: int, z: int) -> np.ndarray:
        return varint_decode_range(self.b, self._e(), a, z)

    def _gather(self, runs: np.ndarray) -> np.ndarray:
        # ONE varint pass: slice each run's byte range and decode the
        # concatenation (decoder setup paid once, not once per run)
        ends = self._e()
        parts = []
        for va, vz in runs:
            b0 = 0 if va == 0 else int(ends[va - 1]) + 1
            parts.append(self.b[b0 : int(ends[vz - 1]) + 1])
        return varint_decode(np.concatenate(parts).tobytes())

    def _full(self) -> np.ndarray:
        return varint_decode(self.b.tobytes())


class _PForStream(_Stream):
    """Tagged-PFor stream: a one-pass header walk (lazy, no value decode)
    indexes the 128-value blocks, then any value range decodes by touching
    only its covering blocks — PFor values are positional (no intra-stream
    delta chain)."""

    __slots__ = ("_offs", "_cum")

    def __init__(self, payload: np.ndarray, n: int):
        super().__init__(payload, n)
        self._offs = None
        self._cum = None

    def _idx(self):
        if self._offs is None:
            self._offs, self._cum = pfor_block_index(self.b)
        return self._offs, self._cum

    def _range(self, a: int, z: int) -> np.ndarray:
        offs, cum = self._idx()
        return pfor_decode_range(self.b, offs, cum, a, z)

    def _gather(self, runs: np.ndarray) -> np.ndarray:
        return np.concatenate([self._range(int(va), int(vz)) for va, vz in runs])

    def _full(self) -> np.ndarray:
        offs, cum = self._idx()
        return pfor_decode_indexed(self.b, offs, cum)


def _take_runs(arr: np.ndarray, runs: np.ndarray) -> np.ndarray:
    """*arr*'s (va, vz) value-range runs, concatenated (a view for one run)."""
    if runs.shape[0] == 1:
        return arr[int(runs[0, 0]) : int(runs[0, 1])]
    return np.concatenate([arr[int(va) : int(vz)] for va, vz in runs])


def stream_abs_docids(doc_s) -> np.ndarray:
    """Absolute docIDs of a docID delta stream, memoized on the stream.
    The delta stream's first value IS the biased absolute first docID
    (codec.delta_encode_docids stores it full-width), so one cumsum
    reconstructs the whole list; hot slices thereafter serve docID reads
    by pure slicing.  Shared by LazySlice block reads and the match-union
    paths (filtered/sorted/agg), so both memoize into the same array."""
    if doc_s._abs is None:
        vals = doc_s.decode_all()
        u = np.cumsum(vals, dtype=np.uint64)
        doc_s._abs = (u - _BIAS).astype(np.int64)
    return doc_s._abs


def _stream_for(raw: np.ndarray, n: int):
    """Tagged payload of *n* values → stream object, or None for an
    unknown tag."""
    if raw.size == 0 or raw[0] == _TAG_VARINT:
        return _VarintStream(raw[1:], n)
    if raw[0] == _TAG_PFOR:
        return _PForStream(raw[1:], n)
    return None


@dataclass
class TermSlice:
    """One (term, range) posting slice, decoded."""

    term: str
    idf: float
    doc_ids: np.ndarray     # int64, sorted
    tfs: np.ndarray         # int64
    dls: np.ndarray         # int64
    block_firsts: np.ndarray  # int64, doc_ids[::block_size]
    block_ubs: np.ndarray     # float32, per-block max of the tf-normalization
    avgdl: float | None = None  # per-slice override (multi-field: the term's
    #                             FIELD avgdl — Lucene's avgFieldLength)

    # the LazySlice read interface, so score_bmw takes either kind
    @property
    def n(self) -> int:
        return self.doc_ids.size

    def last_doc(self) -> int:
        return int(self.doc_ids[-1])

    def to_term_slice(self) -> TermSlice:
        return self


def decode_slice(row, idf: float, label: str | None = None) -> TermSlice:
    """Decode a postings-slice row (Row / dict / namedtuple-like) in full
    — the reference decoder the block-lazy reads are tested against.

    ``label`` is the term STRING for this row's term_id — slices are
    processed in sorted-label order so float accumulation order matches
    the pure-Python oracle exactly (rank/bit identity)."""
    get = row.__getitem__ if hasattr(row, "__getitem__") else getattr
    return TermSlice(
        term=label if label is not None else str(get("term_id")),
        idf=idf,
        doc_ids=decode_docids(bytes(get("doc_ids"))),
        tfs=decode_uints(bytes(get("tfs"))).astype(np.int64),
        dls=decode_uints(bytes(get("dls"))).astype(np.int64),
        block_firsts=unpack_i64(bytes(get("block_firsts"))),
        block_ubs=unpack_f32(bytes(get("block_ubs"))),
    )


class LazySlice:
    """Block-lazy posting slice: holds the RAW tagged streams and decodes
    only the value ranges BMW actually scores.

    Why it exists: eager ``decode_slice`` pays ~10 vectorized passes per
    stream over the FULL posting list of every query term — at 10M docs a
    stopword's slices dominate query latency even though block-max pruning
    scores only a handful of segments.  Properties of the on-disk formats
    make lazy reads free of any format change:

    - LEB128 is self-delimiting, so ONE terminator-scan pass
      (:func:`codec.varint_value_ends`) yields per-value byte offsets and
      any value range decodes independently; PFor values are positional
      (frame-of-reference + patches) so one header-walk pass
      (:func:`codec.pfor_block_index`) makes any range block-addressable;
    - ``block_firsts[j]`` stores block *j*'s first docID uncompressed, so
      a block-aligned range re-anchors the delta chain without decoding
      anything before it (the range's first delta is discarded in favor of
      the stored absolute value — same reconstruction, no prefix scan).

    Decode cost is then ∝ blocks-touched-by-scored-segments, not df —
    the property that holds at 10^12 docs.  Scores are bit-identical to
    the eager path: identical tf/dl/idf values feed the same
    ``score_brute`` accumulation in the same sorted-term order.
    """

    __slots__ = (
        "term", "idf", "n", "block_size", "doc_s", "tf_s", "dl_s",
        "block_firsts", "block_ubs",
    )

    def __init__(self, term, idf, n, block_size, doc_s, tf_s, dl_s,
                 block_firsts, block_ubs):
        self.term = term
        self.idf = idf
        self.n = n
        self.block_size = block_size
        self.doc_s = doc_s          # _VarintStream | _PForStream
        self.tf_s = tf_s
        self.dl_s = dl_s
        self.block_firsts = block_firsts
        self.block_ubs = block_ubs

    def _ids_range(self, va: int, vz: int) -> np.ndarray:
        """Absolute docIDs for value range [va, vz); va MUST be a block
        start (its stored delta is replaced by block_firsts' absolute).
        A promoted doc stream serves the slice of its memoized absolute
        docIDs instead — bit-identical: the build stores block_firsts =
        doc_ids[::block_size], so anchoring a run at its block's stored
        absolute equals the cumsum from the stream start."""
        vals = self.doc_s.decode_range(va, vz)
        if self.doc_s._all is not None:
            return stream_abs_docids(self.doc_s)[va:vz]
        # biased docID of the block's first posting (exact modular wrap)
        first_u = np.uint64(
            (int(self.block_firsts[va // self.block_size]) + (1 << 63)) & ((1 << 64) - 1)
        )
        u = np.empty(vals.size, dtype=np.uint64)
        u[0] = first_u
        np.cumsum(vals[1:], dtype=np.uint64, out=u[1:])
        u[1:] += first_u
        return (u - _BIAS).astype(np.int64)

    def last_doc(self) -> int:
        """Memoized on the doc stream, so a cached row decodes its last
        block once per searcher, not once per query."""
        d = self.doc_s
        if d._last is None:
            va = (self.block_firsts.size - 1) * self.block_size
            d._last = int(self._ids_range(va, self.n)[-1])
        return d._last

    def covering_blocks(self, cand: np.ndarray) -> np.ndarray:
        """Sorted unique block indices whose docID span may contain any of
        the sorted candidate docIDs *cand* — the skip-pointer lookup: a
        candidate can only live in the block whose first docID is the
        greatest ≤ it."""
        if self.block_firsts.size == 1:  # covered iff a candidate reaches it
            return np.zeros(
                int(cand.size > 0 and cand[-1] >= self.block_firsts[0]), np.int64
            )
        blk = np.searchsorted(self.block_firsts, cand, side="right") - 1
        blk = blk[int(np.searchsorted(blk, 0)):]  # sorted: drop the -1s
        if blk.size > 1:  # sorted, so unique = drop repeats of the left
            blk = blk[np.concatenate(([True], blk[1:] != blk[:-1]))]
        return blk

    def _block_runs(self, blocks: np.ndarray):
        """Sorted block indices → (va, vz) value-range array of their
        maximal contiguous runs, shape (n_runs, 2)."""
        bs = self.block_size
        if blocks[-1] - blocks[0] + 1 == blocks.size:  # one run
            return np.array(
                [[blocks[0] * bs, min((int(blocks[-1]) + 1) * bs, self.n)]]
            )
        splits = np.flatnonzero(np.diff(blocks) > 1) + 1
        starts = np.concatenate(([0], splits))
        ends = np.concatenate((splits, [blocks.size]))
        va = blocks[starts] * bs
        vz = np.minimum((blocks[ends - 1] + 1) * bs, self.n)
        return np.stack([va, vz], axis=1)

    def _anchored_ids(self, vals, runs):
        """Delta stream of many block-aligned runs → absolute docIDs via
        a segmented cumsum: each run's first delta is discarded in favor
        of its block's stored absolute first docID (uint64 modular
        arithmetic — bit-identical to the one-run `_ids_range`)."""
        counts = (runs[:, 1] - runs[:, 0]).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(counts[:-1])))
        anchors = (
            self.block_firsts[runs[:, 0] // self.block_size].astype(np.uint64)
            + np.uint64(1 << 63)
        )
        d = vals.copy()
        d[starts] = 0
        c = np.cumsum(d, dtype=np.uint64)
        off = anchors - c[starts]
        abs_u = c + np.repeat(off, counts)
        return (abs_u - _BIAS).astype(np.int64)

    def block_docids(self, blocks: np.ndarray) -> np.ndarray:
        """Absolute docIDs of the given sorted block indices only —
        single gathered decode of exactly those blocks' byte ranges.  The
        conjunctive-query analog of BMW's segment decode: cost ∝ blocks
        visited, not df."""
        if blocks.size == 0:
            return np.empty(0, dtype=np.int64)
        runs = self._block_runs(blocks)
        return self._run_ids(runs)

    def _run_ids(self, runs: np.ndarray) -> np.ndarray:
        """Absolute docIDs of the given value-range runs — sliced from
        the memoized absolute array once the doc stream is promoted, else
        the gather + segmented-cumsum reconstruction (identical values)."""
        if self.doc_s._all is None:
            vals = self.doc_s.gather(runs)
            if self.doc_s._all is None:
                return self._anchored_ids(vals, runs)
        return _take_runs(stream_abs_docids(self.doc_s), runs)

    def block_values(self, blocks: np.ndarray):
        """(doc_ids, tfs, dls) of the given sorted block indices —
        one gathered decode per stream (varint: ONE vectorized pass over
        the concatenated byte ranges; PFor: covering blocks only)."""
        if blocks.size == 0:
            return (np.empty(0, np.int64),) * 3
        runs = self._block_runs(blocks)
        ids = self._run_ids(runs)
        tfs = self.tf_s.gather(runs).astype(np.int64)
        dls = self.dl_s.gather(runs).astype(np.int64)
        return ids, tfs, dls

    def to_term_slice(self) -> TermSlice:
        """Full eager decode (brute-fallback path) — memo-backed: the
        docID cumsum and value decodes live on the streams (cached
        posting rows keep them across queries), so a hot slice converts
        by reference.  The int64 views share the memo buffers; every
        consumer treats TermSlice arrays as read-only (masking/filtering
        index into fresh arrays)."""
        return TermSlice(
            term=self.term,
            idf=self.idf,
            doc_ids=stream_abs_docids(self.doc_s),
            tfs=self.tf_s.decode_all().view(np.int64),
            dls=self.dl_s.decode_all().view(np.int64),
            block_firsts=self.block_firsts,
            block_ubs=self.block_ubs,
        )


def _row_streams(row):
    """(doc_s, tf_s, dl_s, n, block_firsts, block_ubs) of a postings row,
    or None if any stream carries an unknown tag.  Cached on a dict row
    as ``_lazy_streams``, so a cached posting row
    (BM25Searcher._pruned_slice_rows) re-serves later queries without
    re-indexing or re-decoding."""
    if isinstance(row, dict):
        hit = row.get("_lazy_streams")
        if hit is not None:
            return hit
    get = row.__getitem__ if hasattr(row, "__getitem__") else getattr
    n = int(get("df_slice"))
    streams = []
    for c in ("doc_ids", "tfs", "dls"):
        s = _stream_for(np.frombuffer(bytes(get(c)), dtype=np.uint8), n)
        if s is None:
            return None
        streams.append(s)
    hit = (
        streams[0], streams[1], streams[2], n,
        unpack_i64(bytes(get("block_firsts"))),
        unpack_f32(bytes(get("block_ubs"))),
    )
    if isinstance(row, dict):
        row["_lazy_streams"] = hit
    return hit


def decode_slice_lazy(row, idf: float, block_size: int, label: str) -> LazySlice | None:
    """LazySlice from a postings row, or None if any stream carries an
    unknown tag.  Both
    tagged codecs are range-addressable — varint via the terminator-scan
    value index, PFor via the block header index — and may mix per stream
    (merged mixed-codec indexes).  The stream objects (and their decode
    memos) live on the row (:func:`_row_streams`); the LazySlice itself
    is rebuilt per query because idf may carry a query boost."""
    hit = _row_streams(row)
    if hit is None:
        return None
    doc_s, tf_s, dl_s, n, bf, ub = hit
    return LazySlice(
        term=label, idf=idf, n=n, block_size=block_size,
        doc_s=doc_s, tf_s=tf_s, dl_s=dl_s, block_firsts=bf, block_ubs=ub,
    )


def prime_single_block(rows: list[dict], block_size: int) -> None:
    """Decode every one-block row of one read at once and install the
    values as the rows' stream memos (``_all`` on each stream, ``_abs`` on
    the doc stream), under the row's ``_lazy_streams`` entry.

    Any read of a one-block slice (df_slice <= block_size) decodes its
    whole stream anyway, so decoding it early wastes nothing, and one
    :func:`codec.decode_uints_batch` per stream column plus one segmented
    cumsum replaces ~3 small decodes per row.  Multi-block rows stay lazy.
    Values equal the per-row decode bit for bit (the batch decode's
    contract); each row gets its own copies, so an evicted cached row
    frees its memos instead of pinning the read's batch arrays."""
    one = [
        r for r in rows
        if int(r["df_slice"]) <= block_size and _row_streams(r) is not None
    ]
    if not one:
        return
    streams = [r["_lazy_streams"] for r in one]
    for k, c in enumerate(("doc_ids", "tfs", "dls")):
        vals, counts = decode_uints_batch([r[c] for r in one])
        for st, v in zip(streams, split_rows(vals, counts)):
            st[k]._all = v
        if k == 0:  # the doc stream also memoizes its absolute docIDs
            abs_ids = docids_from_deltas(vals, counts)
            for st, a in zip(streams, split_rows(abs_ids, counts)):
                st[0]._abs = a


def _member_sorted(ids: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Mask over *ids*: membership in the sorted array *sorted_set*."""
    if sorted_set.size == 0:
        return np.zeros(ids.shape, dtype=bool)
    loc = np.clip(np.searchsorted(sorted_set, ids), 0, sorted_set.size - 1)
    return sorted_set[loc] == ids


def _chain_groups(slices: list) -> list[list]:
    """Group one query's slices into CHAINS: per term, slices whose docID
    spans are disjoint and in order, so each chain reads as one slice and
    a whole query scores in one BMW pass.  Interval partitioning: sort by
    first docID and append each slice to the first chain of its term whose
    span ends below it, else open a new chain.  A span ends at the last
    docID or the last block start, whichever is later (a tombstone-masked
    slice keeps its stored blocks), so a chain's blocks stay in order too.

    Never chain by ``range_id``: a merged index keeps one slice per source
    side by side in a range (interleaved docIDs), and its sources may use
    different ``range_bits``, so range_id order is not docID order across
    sources.  Chains come back in term order (the fixed accumulation
    order); slices with the same term but a different idf or avgdl never
    share a chain."""
    by_key: dict[tuple, list[list]] = {}
    for s in sorted(slices, key=lambda s: int(s.block_firsts[0])):
        chains = by_key.setdefault((s.term, s.idf, getattr(s, "avgdl", None)), [])
        for c in chains:
            p = c[-1]
            if max(p.last_doc(), int(p.block_firsts[-1])) < s.block_firsts[0]:
                c.append(s)
                break
        else:
            chains.append([s])
    return [c for key in sorted(by_key, key=lambda k: k[0]) for c in by_key[key]]


class _Chain:
    """A chain of slices read as one slice by :func:`score_bmw`:
    concatenated block metadata for the segment upper bounds, and a batch
    of segments read in one go (:meth:`spans_values`).  Every member's
    first docID is a segment bound, so no segment straddles two members."""

    __slots__ = ("parts", "term", "idf", "avgdl", "block_firsts",
                 "block_ubs", "block_lasts", "_firsts", "_memo")

    def __init__(self, parts: list):
        self.parts = parts
        p = parts[0]
        self.term, self.idf, self.avgdl = p.term, p.idf, getattr(p, "avgdl", None)
        self.block_firsts = np.concatenate([p.block_firsts for p in parts])
        self.block_ubs = np.concatenate([p.block_ubs for p in parts])
        # a block bounds segments only up to its member's last docID
        self.block_lasts = np.repeat(
            [p.last_doc() for p in parts], [p.block_firsts.size for p in parts]
        )
        self._firsts = np.array([int(p.block_firsts[0]) for p in parts])
        self._memo = None

    def _memo_arrays(self):
        """(doc_ids, tfs, dls) of the whole chain as one array each, once
        every member is memo-backed (a decoded TermSlice, or a LazySlice
        whose three streams are promoted); None before that.  Concatenated
        once per query: members are disjoint and in docID order."""
        if self._memo is None:
            if not all(isinstance(p, TermSlice) or (
                p.doc_s._all is not None and p.tf_s._all is not None
                and p.dl_s._all is not None
            ) for p in self.parts):
                return None
            ts = [p.to_term_slice() for p in self.parts]
            cols = ([t.doc_ids for t in ts], [t.tfs for t in ts], [t.dls for t in ts])
            self._memo = tuple(c[0] if len(c) == 1 else np.concatenate(c)
                               for c in cols)
        return self._memo

    def spans_values(self, lo: np.ndarray, hi: np.ndarray):
        """(doc_ids, tfs, dls) of the postings inside the disjoint, sorted
        docID spans [lo[i], hi[i]), in docID order.  A memo-backed chain
        slices its one array; otherwise each member that holds a span
        reads its covering blocks in one gathered decode per stream."""
        memo = self._memo_arrays()
        if memo is not None:
            return _take_spans(*memo, lo, hi)
        j = np.maximum(np.searchsorted(self._firsts, lo, side="right") - 1, 0)
        cuts = (np.flatnonzero(np.diff(j)) + 1).tolist()
        out = [
            _member_spans(self.parts[int(j[a])], lo[a:z], hi[a:z])
            for a, z in zip([0] + cuts, cuts + [j.size])
        ]
        if len(out) == 1:
            return out[0]
        return tuple(np.concatenate(c) for c in zip(*out))


def _take_spans(ids, tfs, dls, lo, hi):
    """The [lo[i], hi[i]) docID spans of sorted *ids* and its aligned
    columns, concatenated: two searchsorted calls and one gather."""
    a = np.searchsorted(ids, lo, side="left")
    z = np.searchsorted(ids, hi, side="left")
    if a.size == 1:
        a, z = int(a[0]), int(z[0])
        return ids[a:z], tfs[a:z], dls[a:z]
    n = z - a
    idx = np.arange(int(n.sum())) + np.repeat(a - (np.cumsum(n) - n), n)
    return ids[idx], tfs[idx], dls[idx]


def _member_spans(p, lo, hi):
    """One chain member's postings inside the sorted docID spans
    [lo[i], hi[i]): a decoded member slices its arrays, a lazy one decodes
    the blocks covering the spans (:meth:`LazySlice.block_values`) and
    keeps the postings inside them."""
    if isinstance(p, TermSlice):
        return _take_spans(p.doc_ids, p.tfs, p.dls, lo, hi)
    bf = p.block_firsts
    first_b = np.maximum(np.searchsorted(bf, lo, side="right") - 1, 0)
    end_b = np.searchsorted(bf, hi, side="left")
    nb = bf.size
    # blocks inside any [first_b, end_b) run: a +1/-1 sweep over the blocks
    depth = np.cumsum(np.bincount(first_b, minlength=nb + 1)
                      - np.bincount(end_b, minlength=nb + 1))[:nb]
    ids, tfs, dls = p.block_values(np.flatnonzero(depth > 0))
    at = np.searchsorted(lo, ids, side="right") - 1
    keep = (at >= 0) & (ids < hi[np.maximum(at, 0)])
    return ids[keep], tfs[keep], dls[keep]


class TermView:
    """One query term's postings read as one posting list: its
    LazySlices across every docID range and every duplicate row (a merged
    index keeps one row per source in a range), chained by docID
    (:func:`_chain_groups`), minus the searcher's tombstones (*deny*,
    sorted docIDs).  Every driver query family and every distributed
    per-range kernel reads postings through views.

    Candidate reads (:meth:`contains`, :meth:`candidate_slices`,
    :meth:`coverage`) take sorted candidate docIDs that already exclude
    denied docs and decode only the blocks a candidate can live in — the
    stored ``block_firsts`` are the skip list (a promoted stream serves
    those blocks from its memo, see :class:`_Stream`).  Full reads
    (:meth:`docids`, :meth:`term_slices`) go through the stream memos, so
    a cached row decodes once per searcher, and drop denied docs.  A
    doc's postings of one term sit in one member, so scoring a term as
    one slice per member gives the same float sums as one merged slice."""

    __slots__ = ("term", "idf", "parts", "n", "deny", "_chains")

    def __init__(self, parts: list, deny: np.ndarray):
        self.parts = parts
        self.term, self.idf = parts[0].term, parts[0].idf
        self.n = sum(p.n for p in parts)
        self.deny = deny
        self._chains = None

    def _chain_list(self) -> list[tuple[list, np.ndarray]]:
        """(members, their first docIDs) per chain, built on first use."""
        if self._chains is None:
            self._chains = [
                (c, np.array([int(p.block_firsts[0]) for p in c]))
                for c in _chain_groups(self.parts)
            ]
        return self._chains

    def _pieces(self, cand: np.ndarray):
        """(member, a, z) for each member whose span can hold any of
        cand[a:z]: within a chain the members are disjoint and in order,
        so member j owns the candidates from its first docID up to the
        next member's."""
        for chain, firsts in self._chain_list():
            cuts = np.searchsorted(cand, firsts, side="left").tolist()
            for p, a, z in zip(chain, cuts, cuts[1:] + [cand.size]):
                if z > a:
                    yield p, a, z

    def contains(self, cand: np.ndarray) -> np.ndarray:
        """Mask over *cand*: the docs that hold this term."""
        hit = np.zeros(cand.size, dtype=bool)
        for p, a, z in self._pieces(cand):
            sub = cand[a:z]
            hit[a:z] |= _member_sorted(sub, p.block_docids(p.covering_blocks(sub)))
        return hit

    def candidate_slices(self, cand: np.ndarray) -> list[TermSlice]:
        """This term's postings on the docs *cand*, one TermSlice per
        member that holds any."""
        out = []
        for p, a, z in self._pieces(cand):
            sub = cand[a:z]
            ids, tfs, dls = p.block_values(p.covering_blocks(sub))
            keep = _member_sorted(ids, sub)
            if keep.any():
                out.append(TermSlice(self.term, self.idf, ids[keep], tfs[keep],
                                     dls[keep], p.block_firsts, p.block_ubs))
        return out

    def coverage(self, cand: np.ndarray) -> float:
        """Share of this term's multi-block members' blocks that can hold
        a candidate.  One-block members are left out: the read already
        decoded them whole (:func:`prime_single_block`), and a term with
        no multi-block member holds at most one block per row, so it
        reads 0."""
        multi = [p for p in self.parts if p.block_firsts.size > 1]
        if not multi:
            return 0.0
        hit = sum(p.covering_blocks(cand[a:z]).size
                  for p, a, z in self._pieces(cand) if p.block_firsts.size > 1)
        return hit / sum(p.block_firsts.size for p in multi)

    def docids(self) -> np.ndarray:
        """Every live docID of the term, sorted."""
        runs = [np.concatenate([stream_abs_docids(p.doc_s) for p in c])
                for c, _ in self._chain_list()]
        ids = runs[0] if len(runs) == 1 else np.sort(np.concatenate(runs))
        if self.deny.size:
            ids = ids[~_member_sorted(ids, self.deny)]
        return ids

    def term_slices(self) -> list[TermSlice]:
        """Every live posting, one decoded TermSlice per member."""
        out = []
        for p in self.parts:
            s = p.to_term_slice()
            if self.deny.size:
                s = mask_term_slice(s, self.deny)
            if s.doc_ids.size:
                out.append(s)
        return out


def term_views(rows, labels: dict, idf: dict, block_size: int,
               deny: np.ndarray) -> dict[int, TermView]:
    """term_id → :class:`TermView` over posting *rows* (any ranges, any
    duplicate rows).  *labels* maps term_id → term string; a term missing
    from *idf* scores with idf 0."""
    parts: dict[int, list] = {}
    for r in rows:
        tid = int(r["term_id"])
        s = decode_slice_lazy(r, idf.get(tid, 0.0), block_size, labels[tid])
        if s is None:
            raise ValueError(
                f"postings of term {labels[tid]!r} carry an unknown stream "
                "tag; rebuild the index"
            )
        if s.n:
            parts.setdefault(tid, []).append(s)
    return {i: TermView(p, deny) for i, p in parts.items()}


def view_slices(views: dict) -> list[TermSlice]:
    """The decoded live postings of every view (brute-scoring input)."""
    return [s for v in views.values() for s in v.term_slices()]


def bmw_slices(views: dict, ub_scale: float = 1.0) -> list:
    """Every member slice of *views*, the :func:`score_bmw` input.  A
    ``ub_scale`` != 1 (an avgdl override, see BM25Searcher._score_pruned)
    rebinds each member's block bounds inflated by it — never mutates:
    the stored array is shared with the row's cached streams.  float64,
    so the inflation never rounds below the true bound."""
    parts = [p for v in views.values() for p in v.parts]
    if ub_scale != 1.0:
        for p in parts:
            p.block_ubs = p.block_ubs.astype(np.float64) * ub_scale
    return parts


def mask_term_slice(s: TermSlice, deleted: np.ndarray) -> TermSlice:
    """TermSlice minus tombstoned docs.  Block metadata is kept as-is:
    masking only removes postings, so every surviving posting still lies
    inside its original block and the stored per-block upper bounds
    remain valid upper bounds — BMW pruning stays exact."""
    ids = s.doc_ids
    if ids.size == 0:
        return s
    # look up only the deleted docs inside the slice's span: a few
    # tombstones cost a few binary searches, not a pass over the slice
    d = deleted[np.searchsorted(deleted, ids[0]):
                np.searchsorted(deleted, ids[-1], side="right")]
    at = np.searchsorted(ids, d)  # every d <= ids[-1], so in bounds
    at = at[ids[at] == d]
    if at.size == 0:
        return s
    keep = np.ones(ids.size, dtype=bool)
    keep[at] = False
    return TermSlice(s.term, s.idf, s.doc_ids[keep], s.tfs[keep], s.dls[keep],
                     s.block_firsts, s.block_ubs, avgdl=s.avgdl)


# Pruning-convergence guard of score_bmw, checked between segment
# batches: once at least this many segments are scored without the
# threshold beating the remaining upper bounds, the kernel concedes and
# finishes with one exact brute pass (decode memos make the concession
# cheap for hot slices).  The batches double, so a call scores at most
# 2·BMW_MAX_SEG − 1 segments (31) before it concedes.  Keep the guard:
# without it a non-converging query gathers scattered lazy blocks, which
# costs more than one vectorized full decode.  Tunable for measurement.
BMW_MAX_SEG = 16


def _live(ids: np.ndarray, sc: np.ndarray, deny) -> tuple:
    """(ids, sc) without the denied docs; *ids* sorted."""
    if deny is None or ids.size == 0:
        return ids, sc
    a = int(np.searchsorted(deny, ids[0]))
    if a == deny.size or deny[a] > ids[-1]:  # no denied doc in the span
        return ids, sc
    keep = ~_member_sorted(ids, deny[a:])
    return ids[keep], sc[keep]


def score_bmw(
    slices: list, k1: float, b: float, avgdl: float, k: int,
    allowed: np.ndarray | None = None,
    theta0: float = -np.inf,
    deny: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max top-k in ONE call over the slices of any docID ranges.
    Exact (score DESC, doc_id ASC).  Slices are LazySlices (block-lazy
    decode: only the blocks of scored segments are read) or decoded
    TermSlices; either way they
    are grouped into chains (:func:`_chain_groups`), so a query scores its
    whole docID space on one segment grid under one running threshold.
    Lazy and eager decodes of the same slices give identical output;
    pinned by tests/test_index_build.py::test_lazy_bmw_identity,
    ::test_one_pass_bmw_identity and tests/test_bmw_properties.py.

    Batches: segments are taken in descending bound order, 1, 2, 4, 8, …
    at a time, so the interpreter cost is paid per batch, not per
    segment.  A batch drops its segments whose bound is below theta
    (a suffix: bounds descend), then makes one read per chain over the
    batch's docID spans, one ``score_brute`` pass and one theta update.
    The loop stops at the first segment whose bound is below theta, so
    every unscored segment's bound is strictly below the final theta
    and the top-k, ties included, is the one a segment-at-a-time loop
    finds.  A call of S scored segments makes at most ⌈log2(S+1)⌉
    passes.

    ``theta0``: an externally-known lower bound on the global k-th score
    (WAND across index segments — a family searcher carries the running
    top-k threshold between its period segments).  Segments whose upper
    bound is strictly below it are skipped even before k local docs are
    collected: a doc scoring < theta0 can never enter the global top-k,
    and docs scoring exactly theta0 still survive (prune is strict <), so
    doc_id tie-breaks are never lost.

    ``allowed`` (sorted docIDs) is Lucene's filter-during-WAND: only
    allowed docs are scored/collected, segments still prune on the
    UNFILTERED upper bounds (still valid upper bounds for any allowed
    doc, so the top-k stays exact) — the right strategy for a BROAD
    filter, where candidate-driven decode degenerates to a full decode
    but score pruning still skips most segments.

    ``deny`` (sorted docIDs) is the tombstone set, Lucene's liveDocs:
    denied docs are dropped from each segment's scores before they are
    collected (one membership test per segment, not per slice; a doc's
    score never depends on another's).  The bounds stay valid, since
    deleting only removes postings.

    Pruning-convergence guard: a rare term co-occurring with a stopword
    makes EVERY segment's upper bound exceed theta (the rare term's few
    wide blocks overlap the whole grid), so the segment loop degenerates
    to per-segment Python overhead × ~1k segments (measured 2-5 s per
    query at 1M docs).  Once BMW_MAX_SEG segments are scored without a
    break (checked between batches), exact brute scoring in ONE
    vectorized pass is strictly cheaper (~ms) — output is identical
    either way (both paths score exactly; only the pruning strategy
    differs)."""
    empty = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    slices = [s for s in slices if s.n]
    if not slices:
        return empty
    chains = [_Chain(c) for c in _chain_groups(slices)]
    bounds = np.unique(np.concatenate([c.block_firsts for c in chains]))
    n_seg = bounds.size
    seg_ub = np.zeros(n_seg, dtype=np.float64)
    covers = []  # per chain: the segments it can hold postings in
    for c in chains:
        blk = np.searchsorted(c.block_firsts, bounds, side="right") - 1
        valid = (blk >= 0) & (bounds <= c.block_lasts[np.maximum(blk, 0)])
        contrib = np.zeros(n_seg, dtype=np.float64)
        contrib[valid] = c.idf * c.block_ubs[blk[valid]].astype(np.float64)
        seg_ub += contrib
        covers.append(valid)
    seg_order = np.argsort(-seg_ub, kind="stable")
    seg_end = np.append(bounds[1:], np.iinfo(np.int64).max)

    got_ids: list[np.ndarray] = []
    got_scores: list[np.ndarray] = []
    n_got = 0
    theta = theta0
    pos, size = 0, 1
    while pos < n_seg and seg_ub[seg_order[pos]] >= theta:
        if pos >= BMW_MAX_SEG:
            return _brute_topk(chains, k1, b, avgdl, k, allowed, deny)
        batch = seg_order[pos : pos + size]
        # bounds descend along seg_order: the live part is a prefix
        batch = np.sort(batch[: int(np.count_nonzero(seg_ub[batch] >= theta))])
        pos += batch.size
        size *= 2
        sub = []
        for c, cov in zip(chains, covers):
            sel = batch[cov[batch]]
            if not sel.size:
                continue
            ids, tfs, dls = c.spans_values(bounds[sel], seg_end[sel])
            if allowed is not None and ids.size:
                keep = _member_sorted(ids, allowed)
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            if ids.size:
                sub.append(
                    TermSlice(c.term, c.idf, ids, tfs, dls, c.block_firsts,
                              c.block_ubs, avgdl=c.avgdl)
                )
        if not sub:
            continue
        ids, sc = _live(*score_brute(sub, k1, b, avgdl), deny)
        got_ids.append(ids)
        got_scores.append(sc)
        n_got += ids.size
        if n_got >= k:
            allsc = np.concatenate(got_scores)
            theta = max(theta, np.partition(-allsc, k - 1)[k - 1] * -1.0)
    if not got_ids:
        return empty
    return topk_select(np.concatenate(got_ids), np.concatenate(got_scores), k)


def _brute_topk(chains, k1, b, avgdl, k, allowed, deny):
    """score_bmw's concession: exact top-k of every posting of *chains*
    in one brute pass (the decode memos make it cheap for hot slices)."""
    full = [p.to_term_slice() for c in chains for p in c.parts]
    if allowed is not None:
        masked = []
        for s in full:
            keep = _member_sorted(s.doc_ids, allowed)
            if keep.any():
                masked.append(
                    TermSlice(
                        s.term, s.idf, s.doc_ids[keep], s.tfs[keep],
                        s.dls[keep], s.block_firsts, s.block_ubs,
                        avgdl=s.avgdl,
                    )
                )
        full = masked
    if not full:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ids, sc = _live(*score_brute(full, k1, b, avgdl), deny)
    return topk_select(ids, sc, k)


def idf_value(n_docs: int, df: int) -> float:
    if df <= 0:
        return 0.0
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _tf_norm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    denom = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    return tf * (k1 + 1.0) / denom


def score_brute(
    slices: list[TermSlice], k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Exact scores for every doc in the union. Returns (doc_ids, scores)."""
    if not slices:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    slices = sorted(slices, key=lambda s: s.term)  # fixed accumulation order
    union = np.unique(np.concatenate([s.doc_ids for s in slices]))
    scores = np.zeros(union.size, dtype=np.float64)
    for s in slices:
        idx = np.searchsorted(union, s.doc_ids)
        s_avgdl = avgdl if s.avgdl is None else s.avgdl
        scores[idx] += s.idf * _tf_norm(s.tfs, s.dls, k1, b, s_avgdl)
    return union, scores


def topk_select(
    doc_ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(score DESC, doc_id ASC) top-k."""
    if doc_ids.size == 0:
        return doc_ids, scores
    if doc_ids.size > k:
        # candidates = everything ≥ kth score, so boundary ties resolve exactly
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        cand = np.flatnonzero(scores >= kth)
    else:
        cand = np.arange(doc_ids.size)
    order = np.lexsort((doc_ids[cand], -scores[cand]))
    sel = cand[order][:k]
    return doc_ids[sel], scores[sel]
