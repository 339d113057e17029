"""Index build/query configuration.

Scale knobs and how they map to a 1000-executor / 10^12-doc deployment:

- ``range_bits``: the explicit head-term-skew salt. Postings for a term are
  sliced into 2^range_bits contiguous docID ranges; each (term, range) is one
  applyInPandas group, so the largest group is ~df(term)/2^range_bits rows.
  At 10^12 docs a stopword has df≈10^12 → pick range_bits≈16-18 to cap a
  slice near 10^7 postings (~100 MB decoded). At test scale 2-4 is plenty.
  This is the engine's replacement for the reference's consistent-hash-ring
  peer forwarding (SURVEY.md §2.9) — but deterministic and skew-proof.
- ``n_buckets``: term-hash partition count of the written index (the Iceberg
  ``bucket(term)`` analog). Queries prune to the q buckets of their terms.
- ``block_size``: postings per block-max entry (WAND skip granularity).
- ``codec``: posting-stream compression — 'varint' (LEB128) or 'pfor'
  (PForDelta: 128-value blocks bit-packed at the 90th-percentile width +
  varint patches).  Streams are tag-byte self-describing, so segments
  built with different codecs read back uniformly.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict


@dataclass(frozen=True)
class IndexConfig:
    k1: float = 1.2
    b: float = 0.75
    lang: str = "en"
    range_bits: int = 2
    block_size: int = 128
    n_buckets: int = 16
    codec: str = "varint"
    # positional postings: store per-(term,doc) token positions as a 4th
    # stream (raw LEB128 deltas concatenated per term) — enables exact
    # phrase queries (index/phrase.py).  Off by default: the BM25-only
    # index stays byte-identical to pre-positions builds.
    positions: bool = False

    @property
    def n_ranges(self) -> int:
        return 1 << self.range_bits

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "IndexConfig":
        keys = IndexConfig.__dataclass_fields__.keys()
        return IndexConfig(**{k: d[k] for k in keys if k in d})

    @staticmethod
    def for_corpus(
        n_docs: int,
        avg_doc_tokens: int = 150,
        target_group_postings: int = 2_000_000,
        n_buckets: int = 32,
        **kw,
    ) -> "IndexConfig":
        """Scale the docID-range salt with corpus size.

        The encode unit is one (term_bucket, range_id) applyInPandas
        group ≈ total_postings / (n_buckets · 2^range_bits) rows, so a
        FIXED range_bits makes per-task memory grow linearly with the
        corpus — measured on this box as build-scaling efficiency decay
        0.84 → 0.64 going 4M → 10M docs with range_bits=3 (BENCH.md).
        Bounding the group at ~target_group_postings keeps the encode
        task's working set flat at any corpus size: the knob a 10^12-doc
        deployment turns is range_bits ≈ log2(total/(buckets·target)),
        never task memory.  Rank identity is invariant to range_bits
        (slices are merged at query time; tests pin this)."""
        import math

        total = max(1, n_docs) * avg_doc_tokens
        groups_needed = max(1, total // (target_group_postings * n_buckets))
        range_bits = max(2, math.ceil(math.log2(groups_needed)))
        return IndexConfig(range_bits=range_bits, n_buckets=n_buckets, **kw)


# url deliberately NOT in the token stream: at ~100 tokens/doc it would be
# shipped 100× per doc through Arrow IPC, the staging write, and the
# posting shuffle.  docmeta joins urls back from the pages scan instead.
TOKENS_SCHEMA = "doc_id long, term string, tf int, dl int"
# positional variant: pos_blob = RAW (untagged) LEB128 deltas of the
# 0-based token positions of this (doc, term) — raw so the slice encoder
# can concatenate per-doc blobs into one tagged per-term stream
TOKENS_POS_SCHEMA = TOKENS_SCHEMA + ", pos_blob binary"
# postings are keyed by term_id = xxhash64(term) (the classic term
# dictionary split): the posting shuffle and encode kernel touch ONLY
# fixed-width integers — term strings live in the termstats table (the
# term dictionary) and never cross the Python boundary in the hot path.
SLICE_SCHEMA = (
    "term_id long, range_id int, df_slice long, cf_slice long, "
    "doc_ids binary, tfs binary, dls binary, "
    "block_firsts binary, block_ubs binary, max_ub float, n_blocks int"
)
# positional slices append one column; per-doc position counts are the
# decoded tfs, so no extra offsets are stored
SLICE_SCHEMA_POS = SLICE_SCHEMA + ", positions binary"
# the slice columns termstats folds per term (index/build.py)
SLICE_STATS_SCHEMA = "term_id long, df_slice long, cf_slice long, max_ub float"
# the term dictionary: one row per term with postings (index/build.py)
TERMSTATS_SCHEMA = "term_id long, df long, cf long, max_ub float, term string"

_ARROW_TYPES = {
    "long": "int64", "int": "int32", "float": "float32",
    "binary": "binary", "string": "string",
}


def arrow_schema(ddl: str):
    """The pyarrow schema of one of the flat DDL strings above — what the
    driver writers give a table so it reads back as the Spark-written
    one does."""
    import pyarrow as pa

    return pa.schema([
        (n, pa.type_for_alias(_ARROW_TYPES[t]))
        for n, t in (f.split() for f in ddl.split(","))
    ])
