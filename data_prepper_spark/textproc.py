"""The extraction + tokenization byte-contract.

This module is the single source of truth for how ``html BINARY`` becomes
``text STRING`` and how text becomes terms. Both the Spark pipeline
(vectorized over pandas/Arrow batches) and the pure-Python oracle call
into here, so "byte-identical extracted text per url" (BASELINE.json
input_hint) is enforced by construction and asserted by tests.

Reference analog: the grok/substitute/split/lower/trim processor chain of
Data Prepper (SURVEY.md §2.5; e.g.
/root/reference/data-prepper-plugins/grok-processor/.../GrokProcessor.java:232-258)
— a deterministic per-record string transform. Ours is columnar:
pandas ``.str`` ops over Arrow batches, no per-row Python in the Spark path.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Tokens are maximal runs of lowercase alphanumerics over the lowercased text.
TOKEN_PATTERN = r"[a-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)

# Extraction rule: the first <p>...</p> body (the corpus wraps text in
# exactly one); fallback strips <head> and all remaining tags.
_P_RE = re.compile(rb"<p>(.*)</p>", re.DOTALL)
_HEAD_RE = re.compile(r"<head>.*?</head>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")


def extract_text(html: bytes) -> str:
    """html bytes → extracted text (the per-url byte-identity contract)."""
    m = _P_RE.search(html)
    if m is not None:
        return m.group(1).decode("utf-8")
    s = html.decode("utf-8", errors="replace")
    return _TAG_RE.sub("", _HEAD_RE.sub("", s)).strip()


def tokenize(text: str) -> list[str]:
    """text → list of terms (shared spec; oracle calls this per doc)."""
    return _TOKEN_RE.findall(text.lower())


# ---------------------------------------------------------------- vectorized

def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized extraction over a pandas Series of bytes objects."""
    # bytes regex extraction; pandas .str works on object-dtype bytes via map —
    # use a C-level list comprehension over the compiled regex (no Spark-row
    # Python: this runs once per Arrow batch inside mapInPandas).
    out = [None] * len(html)
    vals = html.to_numpy()
    for i in range(len(vals)):
        out[i] = extract_text(vals[i])
    return pd.Series(out, index=html.index, dtype="object")


def tokenize_counts_arrow(texts: pd.Series):
    """Arrow-native per-doc term counting: RE2 regex + C++ hash group-by,
    ZERO per-token Python objects.

    The numpy/findall variant below materializes every token as a Python
    str (~100 strings/doc); at fleet parallelism the resulting pymalloc
    arena churn became a kernel page-fault storm on virtualized memory
    (see envtune.py).  Here tokens live only inside Arrow buffers:
    lower → replace non-[a-z0-9] runs with a space → split → filter '' →
    group_by((doc, term)).count.  Token semantics are identical to
    ``tokenize`` (asserted by tests/test_textproc.py on the fixtures).

    Returns ``(row_idx, terms, tfs, doc_lens)``; ``terms`` is a
    pandas ArrowDtype-backed array (zero-copy back into Spark's Arrow
    serializer).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    pa.set_cpu_count(1)  # one core per Spark worker; no nested pools
    arr = pa.Array.from_pandas(texts.astype("object"), type=pa.string())
    cleaned = pc.replace_substring_regex(
        pc.utf8_lower(arr), pattern="[^a-z0-9]+", replacement=" "
    )
    lists = pc.split_pattern(cleaned, " ")
    flat = pc.list_flatten(lists)
    parents = pc.list_parent_indices(lists)
    mask = pc.not_equal(flat, "")
    flat = flat.filter(mask)
    parents = parents.filter(mask)
    pnp = parents.to_numpy(zero_copy_only=False)
    lens = np.bincount(pnp, minlength=len(texts)).astype(np.int64)
    tbl = pa.table({"p": parents, "t": flat})
    agg = tbl.group_by(["p", "t"], use_threads=False).aggregate([("t", "count")])
    owners = agg.column("p").to_numpy(zero_copy_only=False).astype(np.int64)
    terms = pd.array(agg.column("t").combine_chunks(), dtype=pd.ArrowDtype(pa.string()))
    tfs = agg.column("t_count").to_numpy(zero_copy_only=False).astype(np.int64)
    return owners, terms, tfs, lens


def tokenize_counts(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-doc term counting for a batch of texts (numpy/object
    reference implementation — the Spark path uses tokenize_counts_arrow).

    Returns ``(row_idx, terms, tfs, doc_lens)`` where ``row_idx`` maps each
    (doc, term) pair back to its position in *texts*, and ``doc_lens[i]`` is
    the token count of doc i in the batch.
    """
    token_lists = texts.str.lower().str.findall(TOKEN_PATTERN)
    lens = token_lists.str.len().fillna(0).to_numpy(dtype=np.int64)
    flat = np.concatenate([np.asarray(t, dtype=object) for t in token_lists]) \
        if len(token_lists) and lens.sum() > 0 else np.empty(0, dtype=object)
    owners = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    if len(flat) == 0:
        return owners, flat, np.empty(0, dtype=np.int64), lens
    # group by (owner, term) without python loops: lexsort then run-length
    order = np.lexsort((flat.astype("U"), owners))
    f = flat[order]
    o = owners[order]
    new_run = np.empty(len(f), dtype=bool)
    new_run[0] = True
    new_run[1:] = (o[1:] != o[:-1]) | (f[1:] != f[:-1])
    starts = np.flatnonzero(new_run)
    counts = np.diff(np.append(starts, len(f)))
    return o[starts], f[starts], counts.astype(np.int64), lens
