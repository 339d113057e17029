"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB story):
  - exact dedup is one hash-groupBy — map-side partial agg, no skew risk
    (md5 keys are uniform).
  - pairwise similarity NEVER does a full cross join: Jaccard blocks by
    shared shingle, MinHash blocks by LSH band bucket, SimHash blocks by
    signature chunk.  Every candidate set is then exactly verified, so
    the output is deterministic (and SQL-reproducible) even though the
    blocking is approximate.
  - the shared token hash is ``token_hash60`` = first 15 hex digits of
    md5, as an int64.  md5 is deliberately chosen over xxhash64: both
    Spark AND DuckDB can compute it, so even MinHash signatures are
    verified bit-for-bit by the SQL oracle.  A production deployment
    would swap in xxhash64 (same topology, cheaper hash).

Reference analog: the `remove_duplicates` aggregate action
(/root/reference/data-prepper-plugins/aggregate-processor/src/main/java/
org/opensearch/dataprepper/plugins/processor/aggregate/actions/
RemoveDuplicatesAggregateAction.java:20) is the exact-key case; the
similarity family generalizes it to near-duplicate keys the reference
has no equivalent for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textstats import tokens_array

MERSENNE_HEX_DIGITS = 15  # 60 bits, always fits int64


def token_hash60(col: Column) -> Column:
    """Shared Spark/DuckDB string hash: int64 of md5's first 15 hex chars.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, MERSENNE_HEX_DIGITS), 16, 10).cast("long")


# ------------------------------------------------------------------ exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct md5(text),
    keeping the smallest id (deterministic winner), with the group size.

    Single shuffle on the 128-bit content hash; at 10^12 docs this is the
    cheapest possible dedup (no text comparison ever crosses the wire,
    only (hash, id))."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------- shingles

def shingle_col(text_col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of the tokenized text (JVM-side:
    transform over an index sequence + slice — no Python)."""
    toks = tokens_array(text_col)
    if n == 1:
        return F.array_distinct(toks)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_col(F.col(text_col), n)).alias("sh"),
    )


# ---------------------------------------------------------- exact jaccard

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """All pairs (a<b) with n-gram-shingle Jaccard ≥ threshold — EXACT
    output, prefix-filtered blocking.

    Blocking (prefix filter, the ppjoin family): order every doc's
    shingles by global rarity (df ASC, shingle ASC — one canonical order
    shared by all docs) and generate candidates only from each doc's
    PREFIX of the ``|X| - ceil(t/(1+t)·|X|) + 1`` rarest shingles.
    Provably lossless: J(A,B) ≥ t ⇒ |A∩B| ≥ t(|A|+|B|)/(1+t); if the two
    prefixes shared nothing, every common shingle would sit in a suffix,
    and the suffixes hold only (ceil(t|A|/(1+t))-1) + (ceil(t|B|/(1+t))-1)
    < t(|A|+|B|)/(1+t) elements — contradiction.  The win at scale: the
    candidate join's quadratic blow-up lives in high-df (stopword)
    shingles, and those are exactly the ones the prefix excludes.
    Verification then counts intersections over the FULL shingle sets, so
    the result equals the unblocked all-pairs answer (SQL-reproducible).
    Output jaccard is rounded to 6 places (stable across engines)."""
    from pyspark.sql import Window

    sh = _doc_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if prefix_filter:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("shdf"))
        w = Window.partitionBy("doc").orderBy(F.asc("shdf"), F.asc("sh"))
        ranked = (
            sh.join(dfreq, "sh")
            .join(sizes, "doc")
            .withColumn("pos", F.row_number().over(w))
        )
        plen = F.col("sz") - F.ceil(
            F.lit(threshold / (1.0 + threshold)) * F.col("sz")
        ) + 1
        block = ranked.filter(F.col("pos") <= plen).select("doc", "sh")
    else:
        block = sh
    a = block.alias("a")
    b = block.alias("b")
    cands = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )
    inter = (
        cands.join(sh.alias("s1"), F.col("doc_a") == F.col("s1.doc"))
        .join(
            sh.alias("s2"),
            (F.col("doc_b") == F.col("s2.doc")) & (F.col("s1.sh") == F.col("s2.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # plain long-keyed joins — AQE broadcasts automatically when small;
    # a per-doc table must never be hint-broadcast (OOM at 10^12 docs)
    out = (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """(doc, sig array<long>) — sig[j] = min over shingles of
    hash60(j || ':' || shingle).  Pure groupBy aggregation: num_perm
    map-side-combined mins, one shuffle on doc."""
    sh = _doc_shingles(df, id_col, text_col, n)
    mins = [
        F.min(token_hash60(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(f"h{j}")
        for j in range(num_perm)
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select(
        "doc", F.array(*[F.col(f"h{j}") for j in range(num_perm)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    oracle_hashes: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exactly verified.

    shingle → minhash (num_perm) → band keys (bands × rows_per_band) →
    bucket-join candidates (a<b, distinct) → exact Jaccard verify ≥
    threshold.  The verify step makes the output deterministic: LSH only
    decides WHICH pairs get checked, never the answer.

    oracle_hashes=True swaps xxhash64 (JVM-only) for the md5-family
    ``token_hash60`` chain at BOTH hash sites — per-permutation minhash
    ``hash60(j ':' shingle)`` and band key ``hash60(h_i ',' … ',' h_j)``
    — so the exact band topology (which pairs become candidates) is
    reproducible in DuckDB and the output is oracle-checkable
    bit-for-bit.  Production keeps the default (same topology, ~3×
    cheaper hash).

    Materializes eagerly (localCheckpoint) so the persisted shingle /
    band intermediates can be unpersisted before returning — repeated
    invocations in one session leak no cached partitions."""
    from pyspark import StorageLevel

    assert num_perm % bands == 0
    r = num_perm // bands
    # the shingle explosion feeds four branches (signatures, sizes, both
    # verify sides) — persist it once instead of re-running the regex +
    # n-gram transform per branch
    sh = _doc_shingles(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    if oracle_hashes:
        mins = [
            F.min(token_hash60(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(f"h{j}")
            for j in range(num_perm)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.lit(42 + j), F.col("sh"))).alias(f"h{j}")
            for j in range(num_perm)
        ]
    sig = sh.groupBy("doc").agg(*mins).select(
        "doc", F.array(*[F.col(f"h{j}") for j in range(num_perm)]).alias("sig")
    )

    def band_key(b: int):
        elems = [F.col("sig").getItem(b * r + i) for i in range(r)]
        if oracle_hashes:
            return token_hash60(F.concat_ws(",", *[e.cast("string") for e in elems]))
        return F.xxhash64(*elems)

    band_rows = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bkey"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bkey").persist(StorageLevel.MEMORY_AND_DISK)
    a = band_rows.alias("a")
    b_ = band_rows.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )
    # exact verification of candidates only (sh reused from the persist)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    pair_sh = cands.join(sh.alias("s1"), F.col("doc_a") == F.col("s1.doc")).join(
        sh.alias("s2"),
        (F.col("doc_b") == F.col("s2.doc")) & (F.col("s1.sh") == F.col("s2.sh")),
    )
    inter = pair_sh.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))
    # plain joins on the per-doc size table — never hint-broadcast (one
    # row per doc = multi-TB at 10^12 docs); AQE auto-broadcasts when small
    out = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .fillna({"inter": 0})
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # pairs output is tiny relative to the shingle table: materialize it,
    # then free the cached intermediates (materialize=False keeps the
    # lazy plan — for .explain() inspection — and leaves unpersist to the
    # caller)
    if materialize:
        out = out.localCheckpoint(eager=True)
        sh.unpersist()
        band_rows.unpersist()
    return out


# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, simhash long): 60-bit SimHash over tf-weighted token hashes.

    Single-pass: one groupBy(doc) with 60 conditional-sum aggregate
    expressions (bit b: Σ ±tf by whether bit b of hash60(token) is set),
    recomposed with 60 whens — all map-side-combined JVM aggregation, one
    shuffle of the (doc, tok, tf) table.  (An earlier explode-×60-bits
    formulation shuffled 60× the rows for the same result; the DuckDB
    oracle keeps that relational form — identical output, integer sums.)"""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_array(F.col(text_col))).alias("tok"),
    )
    tf = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    h = tf.withColumn("h", token_hash60(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = h.groupBy("doc").agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        contrib = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = contrib if sig is None else sig + contrib
    return per_doc.select("doc", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking: split the 60-bit signature into `chunks` 15-bit chunks; by
    pigeonhole, any pair within distance chunks-1 shares ≥1 exact chunk —
    candidates join per chunk, then exact bit_count(xor) verification."""
    assert max_hamming < chunks, "pigeonhole blocking needs max_hamming < chunks"
    sig = simhash_signatures(df, id_col, text_col)
    w = SIMHASH_BITS // chunks
    chunked = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * w)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("ckey"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc", "simhash", "ck.chunk", "ck.ckey")
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- line-level dedup

def line_dedup(
    df: DataFrame,
    id_col: str,
    lines_col: str,
    max_occurrences: int = 1,
) -> DataFrame:
    """Corpus-wide repeated-line removal (the Falcon/RefinedWeb
    line-dedup move): drop every line whose occurrence count across the
    WHOLE corpus exceeds ``max_occurrences``; each document keeps its
    surviving lines in original order (empty array when none survive).

    Scale shape: posexplode → one groupBy(line) count (map-side partial
    aggregation collapses the head — boilerplate lines combine before
    the shuffle) → shuffle join exploded lines against the count table
    (AQE broadcasts when the distinct-line table is small) → one
    groupBy(id) reassembly.  Two shuffles total, both keyed evenly
    (line hash / doc id); no window over the corpus, no driver state.
    At petabyte scale the count-join key could be xxhash64(line) to cut
    shuffle bytes — the raw string is kept here so the DuckDB oracle
    reproduces the topology byte-for-byte."""
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(lines_col)).alias("pos", "line")
    )
    counts = ex.groupBy("line").agg(F.count("*").alias("_n"))
    kept = (
        ex.join(counts, "line")
        .filter(F.col("_n") <= max_occurrences)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ).alias(lines_col)
        )
    )
    return (
        df.select(id_col)
        .join(kept, id_col, "left")
        .withColumn(
            lines_col,
            F.coalesce(F.col(lines_col), F.array().cast("array<string>")),
        )
    )


# --------------------------------------------------- URL canonical dedup

_TRACKING_PARAM_RX = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)="


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form for web-corpus dedup: lowercase scheme+host,
    strip default ports (:80 http / :443 https), drop tracking query
    params (utm_*, fbclid, gclid, ...), drop fragments.  Pure Catalyst
    (regexp extracts + higher-order filter) — runs in the scan
    projection, no UDF, no shuffle."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(no_frag, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.when(
        (scheme == "https"), F.regexp_replace(host, r":443$", "")
    ).when(
        (scheme == "http"), F.regexp_replace(host, r":80$", "")
    ).otherwise(host)
    path = F.regexp_extract(no_frag, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    kept_params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RX),
    )
    qjoined = F.array_join(kept_params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qjoined == "", F.lit("")).otherwise(F.concat(F.lit("?"), qjoined)),
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-level dedup: canonicalize, keep the lowest id per canonical
    URL.  One groupBy(canonical) min — map-side combine collapses
    duplicates before the shuffle; output marks every row keep/drop."""
    canon = df.withColumn("canonical_url", canonicalize_url(F.col(url_col)))
    winners = canon.groupBy("canonical_url").agg(F.min(id_col).alias("_win"))
    return (
        canon.join(winners, "canonical_url")
        .withColumn("is_keep", (F.col(id_col) == F.col("_win")).cast("int"))
        .drop("_win")
    )


# ------------------------------------------------------------ components

def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = min node id in the component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): O(log² n) rounds,
    each round exactly one groupBy-min plus one join — and crucially no
    per-node neighborhood is ever materialized on a single task (the
    groupBy carries only the running min), so a celebrity node with 10⁸
    near-dups costs the same as any other key at 10^12-doc scale.
    Per-round localCheckpoint cuts the iterative-join lineage (plan
    growth, not data, is the classic failure mode of loops on Spark).

    The reference has no graph stage; this extends its remove_duplicates
    semantics (SURVEY §2.6) from exact-key groups to transitive near-dup
    clusters, which is what a training-data pipeline actually dedups on.
    """
    spark = pairs.sparkSession
    e = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        dn = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = dn.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = dn.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        selfe = mins.select("u", F.col("m").alias("v"))
        return (
            nbrs.union(selfe).filter(F.col("u") != F.col("v")).distinct()
        )

    def _checksum(e: DataFrame):
        c = e.select(F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b"))
        # decimal(38,0) sum: ANSI mode (Spark 4) makes a long sum of
        # xxhash64 values throw on overflow
        row = c.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")

    # fixpoint: every edge is (node > root) → root; roots map to themselves
    assign = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    return assign.union(roots).distinct()
