"""Deduplication family for large-scale corpus curation.

The reference dedups exactly by content digest (SHA-256 of image bytes,
``utils/ImageParse.java:61,116-124``; group-merge ``DupDigestMergerJob.
java:151-174``). A training-data pipeline additionally needs near-dup
detection; this module provides:

- exact:      hash-groupBy on the normalized-text fingerprint
- MinHash+LSH: shingle → K minhashes → B bands → bucket-join candidates
- SimHash:    64-bit sign-aggregated token hashes, hamming buckets
- n-gram Jaccard: exact set overlap for candidate verification
- embedding near-dup lives in ``operators/similarity.py``

Scale notes: every variant is shuffle-by-signature (narrow keys), no
pairwise cross joins — candidate pairs only materialize inside an LSH
bucket. MinHash here is **md5-based** (min over md5(i‖shingle)) so the
DuckDB oracle can reproduce it bit-for-bit; at production scale you would
swap in xxhash64 permutations (same plan shape, cheaper hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..session import spread


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates by normalized-text MD5 (reference A9 analog).

    Returns (fingerprint, n_docs, min_doc_id) for groups with n_docs > 1.
    """
    return (
        docs.select(F.col(id_col), TX.doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """One row per (doc, band): ``(id_col, band, band_hash)`` — the shared
    LSH core of the bucket-listing and pair-emitting variants."""
    rows = k // bands
    # materialize tokens, then shingles, then the signature — inlining the
    # shingle expression into all K min-hash expressions makes Catalyst
    # evaluate it K times per row (and the CASE in word_shingles duplicates
    # the token transform); staged projections keep each computed once
    # spread() first: the tokenize/shingle/md5 chain is the expensive
    # stage and must not inherit a 1-row-group scan's single straggler
    # task (see session.spread); only (id, text) is shuffled
    toks = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), TX.word_tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(shingle_words - 1), F.lit(0)))
    sh = toks.select(
        F.col(id_col),
        F.when(
            n >= shingle_words,
            F.transform(idx, lambda i: F.array_join(F.slice("__toks", i, shingle_words), " ")),
        )
        .when(n > 0, F.array(F.array_join("__toks", " ")))
        .otherwise(F.array().cast("array<string>"))
        .alias("__sh"),
    )
    # K min-hashes via explode + K codegen'd MIN aggregates instead of K
    # interpreted array_min(transform(md5)) HOF passes over the shingle
    # array (higher-order functions are CodegenFallback — the md5 lambda
    # alone cost ~10 s at sf1.0). Same value by construction: MIN over the
    # exploded shingles of md5(i‖s) == array_min of the mapped array
    # (string min is the same lexicographic order), and ``explode_outer``
    # keeps zero-shingle docs as a NULL row so their per-hash MIN is NULL
    # exactly like array_min([]). One extra (tiny, 50k-sig-row, map-side
    # partial) exchange buys the hash work whole-stage codegen.
    ex = sh.select(F.col(id_col), F.explode_outer(F.col("__sh")).alias("__s"))
    min_cols = [
        F.min(F.md5(F.concat(F.lit(str(i) + "|"), F.col("__s")))).alias(f"__m{i}")
        for i in range(k)
    ]
    with_sig = ex.groupBy(id_col).agg(*min_cols)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"__m{b * rows + j}") for j in range(rows)])
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return with_sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bh")).select(
        id_col, F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash")
    )


def minhash_lsh_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """LSH candidate buckets: (band, band_hash, n_docs, doc_ids) with >1 doc.

    rows_per_band = k // bands; docs sharing any band hash are near-dup
    candidates. doc_ids are sorted for deterministic output. NOTE the
    per-bucket id list is an aggregation-buffer array — fine for reporting
    buckets, but on an adversarial corpus one degenerate bucket can hold
    the whole table; the production path is ``minhash_candidate_pairs``
    (pairs stream out of the join, nothing accumulates per bucket).
    """
    exploded = minhash_bands(docs, text_col, id_col, k, bands, shingle_words)
    return (
        exploded.groupBy("band", "band_hash")
        .agg(F.count("*").alias("n_docs"), F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-dup candidate PAIRS ``(id_a, id_b)``, id_a < id_b, distinct
    across bands. The skew-safe LSH shape: a within-bucket self-join emits
    pairs incrementally (sort-merge/hash join state, AQE-splittable), so no
    per-bucket array ever materializes.

    EXACT-TEXT duplicates are PRE-COLLAPSED before banding (the same
    100 TB skew fix as ``hamming_pairs``): docs group by ``md5(text)``;
    a g-member identical-text group emits g−1 star edges to the
    group-min representative instead of the g²/2 within-bucket clique,
    and only representatives are MinHashed and banded. Star edges are
    genuine candidates (identical text ⇒ identical signature ⇒ every
    band shared), and a member's banding behavior equals its
    representative's, so downstream verify+components
    (``text_dup_groups``) produce EXACTLY the groups the un-collapsed
    graph would — identical texts also verify identically under any
    Jaccard threshold."""
    keyed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__k")).repartition(
        "__k"
    )
    grp = keyed.groupBy("__k").agg(F.min(id_col).alias("__rep"))
    m = keyed.join(grp.hint("shuffle_hash"), "__k")
    star = m.where(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = m.where(F.col(id_col) == F.col("__rep")).select(id_col)
    rep_docs = docs.join(reps, id_col)
    b = minhash_bands(rep_docs, text_col, id_col, k, bands, shingle_words)
    b = b.repartition("band", "band_hash")
    a = b.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    c = b.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    rep_pairs = (
        a.join(c.hint("shuffle_hash"), ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return star.unionByName(rep_pairs)


def text_dup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end text dedup GROUPS: MinHash-LSH candidates → exact n-gram
    Jaccard verification (≥ ``threshold``) → connected components. Output
    ``(doc_id, group_id)`` for EVERY doc (singletons map to themselves) —
    keep one champion per group_id and the corpus is near-dup-free.

    Every stage is the scale shape: bands shuffle by (band, band_hash),
    pairs stream out of the bucket join, verification touches only
    candidate pairs (never all-pairs), grouping is O(log²)-round
    large-star/small-star. The verify join carries precomputed DISTINCT
    shingle arrays, not raw document texts — shuffle bytes are
    O(pairs × distinct shingles), and the shingling runs once per doc
    instead of once per pair side (identical Jaccard semantics to
    ``ngram_jaccard``; a production corpus can additionally xxhash64 each
    shingle to 8 bytes at the cost of exact-oracle comparability).
    Node ids must be integral (see ``connected_components``)."""
    cand = minhash_candidate_pairs(docs, text_col, id_col, k, bands, shingle_words)
    # Tokens staged in their own projection (multi-use alias blocks
    # project-collapse) so the interpreted shingle lambda slices a
    # materialized array instead of re-tokenizing per shingle — same fix
    # as minhash_bands; semantics identical to word_shingles(text).
    shd = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), TX.word_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.array_distinct(TX.word_shingles_from_tokens(F.col("__toks"), shingle_words)).alias("__sh"),
    )
    withsh = (
        cand.join(shd.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")), "id_a")
        .join(shd.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")), "id_b")
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    verified = withsh.where(jac >= threshold).select("id_a", "id_b")
    return connected_components(
        verified, nodes=docs.select(id_col), node_col=id_col
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("group_id"))


def simhash64(text: Column) -> Column:
    """64-bit SimHash of word tokens (token hash = xxhash64; sign-sum bits).

    Stays fully JVM-side: explode-free via higher-order functions —
    for each bit b, sum over tokens of ±1 by bit test, then reassemble.
    """
    toks = TX.word_tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit = lambda b: F.when(
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )
        > 0,
        F.lit(1 << b).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    out = F.lit(0).cast("long")
    for b in range(63):  # skip the sign bit to keep the result non-negative
        out = out.bitwiseOR(bit(b))
    return out


def simhash_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    token_hash: str = "md5",
) -> DataFrame:
    """Per-doc SimHash over exploded tokens: ``(id_col, simhash)``.

    Token hash is pluggable: ``md5`` (first 60 bits via ``conv(hex, 16,
    10)`` — reproducible in ANSI SQL, the oracle-checkable twin) or
    ``xxhash64`` (the PRODUCTION hash — cheaper, JVM-native, but with no
    DuckDB equivalent, so rows-only-checkable; use ``bits=63`` to skip
    the sign bit). Sign-summed per bit with codegen'd aggregates —
    faster at corpus scale than the interpreted per-row HOF fold of
    ``simhash64`` and provably equal to it for ``xxhash64``/63 bits
    (pinned by ``test_simhash_xx_frame_equals_hof``).
    """
    toks = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(TX.word_tokens(F.col(text_col))).alias("__t")
    )
    if token_hash == "md5":
        h = F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("long")
    elif token_hash == "xxhash64":
        h = F.xxhash64("__t")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    hashed = toks.select(id_col, h.alias("__h"))
    bit_aggs = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_aggs)
    # docs with zero tokens have no exploded rows: left join → all-bit-0
    sums = docs.select(id_col).join(sums, id_col, "left")
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.coalesce(F.col(f"s{b}"), F.lit(0)) > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_buckets_md5(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    bits: int = 60,
) -> DataFrame:
    """SQL-portable SimHash twin of ``simhash_buckets`` — REPORT variant.

    Same (bucket, n_docs, doc_ids) output contract. Like the minhash
    bucket-listing, the per-bucket id array is an aggregation buffer: fine
    for inspecting buckets, unbounded on a degenerate corpus — the
    production path is ``simhash_candidate_pairs``.
    """
    sim = simhash_frame(docs, text_col, id_col, bits)
    bucket = F.shiftright("simhash", bits - prefix_bits)
    return (
        sim.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    bits: int = 60,
    max_hamming: int | None = 8,
    token_hash: str = "md5",
) -> DataFrame:
    """Near-dup candidate PAIRS from SimHash — the skew-safe shape
    (mirrors ``minhash_candidate_pairs``): docs sharing the top
    ``prefix_bits`` bucket self-join and pairs STREAM out of the join
    (sort-merge/hash state, AQE skew-splittable) instead of accumulating
    per-bucket id arrays. The optional ``max_hamming`` gate applies the
    exact Hamming distance (``bit_count(a XOR b)``) as the verify step,
    JVM-side. Returns ``(id_a, id_b, hamming)``, id_a < id_b.

    IDENTICAL SimHash values are PRE-COLLAPSED before the bucket join
    (the ``hamming_pairs`` skew fix): a g-member identical-hash group —
    exact-dup texts are the common case, but any sign-sum collision
    collapses too — emits g−1 star edges ``(group-min id, member,
    hamming=0)``, and only DISTINCT SimHash values enter the self-join.
    Exactly faithful: a member's bucket AND its Hamming distance to any
    third doc depend only on its SimHash, which equals its
    representative's, so the collapsed graph has the same components
    under any ``max_hamming``.

    ``token_hash='md5'`` (default) is the oracle-reproducible twin;
    ``token_hash='xxhash64'`` with ``bits=63`` is the PRODUCTION path —
    identical plan shape and pair contract, cheaper hash."""
    sim = simhash_frame(docs, text_col, id_col, bits, token_hash).repartition("simhash")
    grp = sim.groupBy("simhash").agg(F.min(id_col).alias("__rep"))
    star = (
        sim.join(grp.hint("shuffle_hash"), "simhash")
        .where(F.col(id_col) != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    b = grp.select(
        F.col("__rep"), "simhash",
        F.shiftright("simhash", bits - prefix_bits).alias("bucket"),
    ).repartition("bucket")
    a = b.select(F.col("__rep").alias("id_a"), F.col("simhash").alias("__sa"), "bucket")
    c = b.select(F.col("__rep").alias("id_b"), F.col("simhash").alias("__sb"), "bucket")
    pairs = (
        a.join(c.hint("shuffle_hash"), "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming")
        )
    )
    if max_hamming is not None:
        pairs = pairs.where(F.col("hamming") <= max_hamming)
    return star.unionByName(pairs)


def hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bits: int = 64,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs from ANY fixed-width Hamming-space hash
    (pHash, SimHash, audio fingerprints) via multi-index banding
    (Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    Hashing", CVPR'12): split the hash into ``bits/band_bits`` bands;
    by pigeonhole, two hashes within Hamming distance d share at least
    one band verbatim whenever ``d < n_bands`` — so with the defaults
    (4 bands) recall is EXACT for ``max_hamming <= 3``. The exact
    ``bit_count(xor)`` Hamming gate verifies every banding survivor.

    IDENTICAL hashes are PRE-COLLAPSED before banding (the 100 TB skew
    fix): a g-member identical-hash group (a ubiquitous asset — blank
    image, silence frame — can put g in the millions) emits g−1 STAR
    EDGES ``(group-min id, member, hamming=0)`` instead of the g²/2
    within-bucket clique, and only DISTINCT hash values enter the band
    self-join. Output volume is therefore LINEAR in duplicate-group
    size. Star edges represent exact-dup connectivity losslessly (every
    member is Hamming-0 to its representative, and the representative
    carries the group's edges to other hash values), so
    ``connected_components`` over the output yields EXACTLY the groups
    the un-collapsed clique would — only the redundant intra-clique pair
    rows are gone. Consequence of banding distinct hashes through reps:
    a near-dup edge between two groups appears once, as
    (rep_a, rep_b, hamming); non-representative members pair only with
    their representative. Returns ``(id_a, id_b, hamming)``, id_a <
    id_b, streaming out of the join — the same skew-safe shape as
    ``simhash_candidate_pairs``."""
    n_bands = (bits + band_bits - 1) // band_bits
    if max_hamming >= n_bands:
        # Pigeonhole only guarantees a shared band for d < n_bands; a larger
        # threshold would SILENTLY return incomplete pairs. Fail loudly so a
        # caller widens band_bits/bands instead of shipping partial recall.
        raise ValueError(
            f"max_hamming={max_hamming} breaks the exact-recall guarantee: "
            f"bits={bits}, band_bits={band_bits} gives {n_bands} bands, so "
            f"recall is exact only for max_hamming < {n_bands}; use more "
            f"bands (smaller band_bits) or lower max_hamming"
        )
    mask = (1 << band_bits) - 1
    # Materialize the hashed table ONCE in the shuffle layer: the explicit
    # repartition on the hash value feeds (a) the identical-hash groupBy
    # (already co-partitioned — no second exchange) and (b) the member →
    # representative join, as a ReusedExchange. Every current caller's
    # upstream is an Arrow decode+hash pass (phash_frame), so the
    # expensive fingerprint stage runs exactly once.
    h = (
        df.where(F.col(hash_col).isNotNull())
        .select(F.col(id_col), F.col(hash_col).alias("__h"))
        .repartition("__h")
    )
    grp = h.groupBy("__h").agg(F.min(id_col).alias("__rep"))
    star = (
        h.join(grp.hint("shuffle_hash"), "__h")
        .where(F.col(id_col) != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("__h"), b * band_bits)
            .bitwiseAND(F.lit(mask).cast("long"))
            for b in range(n_bands)
        ]
    )
    # Band only the DISTINCT hash values (one representative each); the
    # banded table is again repartitioned on the join keys so the self-join
    # reuses one exchange instead of recomputing the aggregate per side.
    e = grp.select(
        F.col("__rep"), F.col("__h"), F.posexplode(bands).alias("band", "bv")
    ).repartition("band", "bv")
    a = e.select(F.col("__rep").alias("id_a"), F.col("__h").alias("__ha"), "band", "bv")
    b = e.select(F.col("__rep").alias("id_b"), F.col("__h").alias("__hb"), "band", "bv")
    rep_pairs = (
        a.join(b.hint("shuffle_hash"), ["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return star.unionByName(rep_pairs)


def ngram_jaccard(a: Column, b: Column, shingle_words: int = 3) -> Column:
    """Exact word-shingle Jaccard similarity between two text columns."""
    sa, sb = TX.word_shingles(a, shingle_words), TX.word_shingles(b, shingle_words)
    da, db = F.array_distinct(sa), F.array_distinct(sb)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(F.array_union(da, db))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def simhash_buckets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    prefix_bits: int = 16) -> DataFrame:
    """Near-dup candidates: docs sharing the top ``prefix_bits`` of simhash."""
    sh = simhash64(F.col(text_col))
    shifted = F.shiftright(sh, 63 - prefix_bits)
    return (
        docs.select(F.col(id_col), sh.alias("simhash"), shifted.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """Duplicate-pair graph → ``(node, component)``, component = min
    reachable id — the group-assignment step after any near-dup pass
    (MinHash/SimHash/embedding pairs give EDGES; curation needs GROUPS,
    one champion per component, exactly like the reference's digest-merge
    collapses a group: ``DupDigestMergerJob.java:151-174``).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14) — O(log²)
    rounds on any graph shape, so a 10^9-node duplicate chain converges in
    tens of shuffles where naive label propagation needs diameter rounds.
    Each half-step is one groupBy + one co-partitioned join on the node id;
    adjacency is NEVER collected into arrays (a 10^8-degree hub node would
    OOM a ``collect_list`` — here it is just a big, AQE-splittable group).

    ``nodes``/``node_col`` optionally add isolated nodes (own-id
    components). Convergence: edge-set fingerprint (count + xor of row
    hashes) fixpoint, capped at ``max_iter`` alternations.

    Node ids MUST be integral (the min-id component representative needs a
    total order that survives the ``long`` cast; a string id would cast to
    NULL under non-ANSI mode and silently collapse components). String ids
    (e.g. url_hash md5s) should be mapped first, e.g.
    ``df.withColumn("nid", F.xxhash64("url_hash"))`` plus a join back —
    enforced here with an explicit error rather than a wrong answer.
    """
    _INTEGRAL = ("byte", "short", "int", "long", "bigint", "integer", "smallint", "tinyint")

    def _check_integral(df: DataFrame, col: str, what: str) -> None:
        t = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields).get(col)
        if t is not None and t not in _INTEGRAL:
            raise TypeError(
                f"connected_components requires an integral {what} column; "
                f"'{col}' is {t} — hash string ids to long first "
                f"(e.g. F.xxhash64('{col}')) and join the mapping back"
            )

    _check_integral(pairs, src_col, "edge id")
    _check_integral(pairs, dst_col, "edge id")
    if nodes is not None:
        _check_integral(nodes, node_col or "node", "node id")
    e = pairs.select(
        F.col(src_col).cast("long").alias("u"), F.col(dst_col).cast("long").alias("v")
    ).where(F.col("u") != F.col("v"))

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        dird = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = dird.groupBy("u").agg(F.min("v").alias("m"))
        moved = dird.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_link = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            moved.union(self_link).where(F.col("u") != F.col("v")).distinct()
        )

    def fingerprint(edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            # xor, not sum: order-independent and overflow-free under ANSI
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        fp = fingerprint(e)
        if fp == prev:
            break
        prev = fp

    # at the fixpoint every edge is (node, root); roots map to themselves
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))
    if nodes is not None:
        all_nodes = nodes.select(F.col(node_col or "node").cast("long").alias("node")).distinct()
        out = (
            all_nodes.join(out, "node", "left")
            .select("node", F.coalesce("component", F.col("node")).alias("component"))
        )
    return out
