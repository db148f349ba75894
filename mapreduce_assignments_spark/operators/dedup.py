"""Deduplication operators for large-scale training-data pipelines.

Beyond reference parity (BASELINE.json north-star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash. All hot paths are
JVM-side expressions (no Python UDFs); every sketch uses the portable
md5-based hashes from ``functions.hashing`` so the DuckDB oracle can
reproduce results exactly.

Scale design notes (the whole point of these operators):

- exact: one hash aggregation on the text (or a digest of it — group
  on md5 to keep shuffle rows narrow when documents are MBs).
- n-gram Jaccard: candidate generation via an inverted shingle join —
  quadratic only within a shingle bucket, never globally. At 100 TB
  add a document-frequency cap on shingles (drop shingles appearing in
  > df_cap docs) to kill the quadratic blowup of boilerplate shingles;
  exposed as ``shingle_df_cap``.
- MinHash LSH: signatures are narrow (32 int64), banding turns
  near-dup search into an equi-join on (band, band_signature) — the
  textbook shuffle-friendly formulation.
- SimHash: one 32-bit signature per doc; ``simhash_near_dupes`` finds
  hamming-adjacent pairs by the pigeonhole banding trick — split the
  signature into max_hamming+1 bit-bands; any pair within the distance
  budget must agree exactly on at least one band, so candidates are an
  equi-join on (band, band_bits) and the exact hamming check runs only
  on candidates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..functions.hashing import (
    NUM_MINHASHES,
    h28,
    h28_spark_sql,
    h60,
    h60_spark_sql,
    minhash_value,
    minhash_value_spark_sql,
)
from .text import tokens_array, tokens_spark_sql

__all__ = [
    "exact_duplicates",
    "shingles",
    "ngram_jaccard_pairs",
    "exact_jaccard_for_pairs",
    "containment_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "verified_near_dupes",
    "source_overlap",
    "simhash",
    "simhash_near_dupes",
    "dedup_clusters",
    "contamination_flags",
    "split_leakage",
    "incremental_dedup",
    "ngram_novelty",
    "record_linkage_pairs",
    "cluster_canonical",
    "prefix_jaccard_pairs",
    "dup_span_report",
    "winnowing_fingerprints",
    "winnowing_candidates",
    "dedup_threshold_curve",
]


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: ``(keeper, n_dups)`` — keeper is the
    min doc_id of each identical-text group. Grouping on the md5
    digest keeps the shuffle narrow for large documents."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dups"))
        .select("keeper", "n_dups")
    )


def _shingle_array(n: int, text_col: str) -> F.Column:
    """Distinct word n-gram shingles of a document as an ARRAY —
    a higher-order transform over the token array (narrow, no
    shuffle). NULL-sized (< n tokens) docs are the caller's filter."""
    toks = tokens_array(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def _shingle_array_sql(n: int, text_col: str) -> str:
    """Spark SQL text twin of :func:`_shingle_array` — identical
    expression tree, one parse (see hashing.h28_spark_sql)."""
    toks = tokens_spark_sql(text_col)
    return (
        f"array_distinct(transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))))"
    )


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(doc_id, shingle)``.

    Shingle construction is a higher-order transform over the token
    array — narrow stage, no shuffle.
    """
    toks = tokens_array(text_col)
    # explode_outer: a plain explode would make the optimizer infer a
    # size()>0 filter that inlines the whole shingle pipeline at the
    # scan (see operators/text.py note); the size(toks) >= n guard
    # already proves the array non-empty, so outer emits no null rows.
    return docs.where(F.size(toks) >= n).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_shingle_array(n, text_col)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    shingle_df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity:
    ``(doc_a, doc_b, jaccard)`` with doc_a < doc_b, jaccard >= threshold.

    Candidates come from an inverted join on shared shingles;
    ``|A ∪ B| = |A| + |B| - |A ∩ B|`` avoids materializing unions.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    if shingle_df_cap:
        hot = sh.groupBy("shingle").count().where(F.col("count") > shingle_df_cap)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # The shingle subplan feeds three consumers (sizes + both join
    # sides); a lazy localCheckpoint materializes the tokenize+
    # shingle explode once instead of three times (measured 10.7 ->
    # 7.6 s same-session A/B at sf1, round 14). The trade at 100 TB:
    # the checkpointed frame is ~5-7x the text bytes on executor
    # disk, vs three full tokenization passes — the CPU win holds as
    # long as local disk outruns re-tokenizing, which it does on
    # every measured config; eager=False keeps plan-only consumers
    # job-free. Fault-tolerance trade (r14 ADVICE): localCheckpoint
    # truncates lineage onto EXECUTOR-LOCAL storage — losing an
    # executor now fails the job instead of recomputing the subtree.
    # Fine on local[n]; on a preemptible-node cluster, prefer a
    # reliable checkpoint dir (graph._checkpointer's pattern) or
    # accept job retry as the recovery path.
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    # sizes has one row per document — never force-broadcast it (OOM at
    # corpus scale); AQE picks broadcast when it actually fits.
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def exact_jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """True n-gram Jaccard for a GIVEN pair set — ``(doc_a, doc_b,
    jaccard)`` for exactly those input pairs that share at least one
    shingle (zero-overlap pairs drop, same as the inverted join).

    The candidate-bounded twin of :func:`ngram_jaccard_pairs`
    (threshold 0): instead of materializing the ENTIRE pair universe
    of the shingle-sharing graph and filtering to the pairs of
    interest afterwards, the pair list drives two joins back into the
    shingle stream (the prefix_jaccard ``verify="rejoin"`` shape) and
    the intersection is counted per supplied pair. Compute is
    Σ_pairs |A| rows — bounded by the candidate set, not by
    hot-shingle document frequency, which is what makes it safe on a
    skewed 100 TB corpus where an uncapped threshold-0 inverted join
    is the classic blowup (round-14 VERDICT). The jaccard expression
    reuses the exact integer operands and division shape of
    :func:`ngram_jaccard_pairs`, so values are bit-identical.

    ``pairs`` must be one row per (doc_a, doc_b) — duplicate rows
    would double-count intersections.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=False  # sizes + both rejoin sides — one materialization
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    p = pairs.select("doc_a", "doc_b")
    inter = (
        p.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    shingle_df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment:
    ``(doc_id, container_id, containment)`` where
    ``containment = |A ∩ B| / |A|`` — how much of document A's shingle
    set lives inside B. Catches the quote-expansion/boilerplate-wrap
    duplicates symmetric Jaccard misses: a short doc fully embedded in
    a long one has low Jaccard (the union is huge) but containment 1.0.
    Both directions are emitted (A-in-B and B-in-A are different
    facts); self-pairs excluded.

    Scale: same inverted shingle join as :func:`ngram_jaccard_pairs`
    (one shuffle on shingle, ``shingle_df_cap`` kills hot-shingle
    blowup), with the denominator being the CONTAINED side's size only.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    if shingle_df_cap:
        hot = sh.groupBy("shingle").count().where(F.col("count") > shingle_df_cap)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # three consumers of the shingle subplan — one materialization
    # (the ngram_jaccard_pairs measurement and trade note apply)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("container_id"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes, "doc_id")
        .select(
            "doc_id",
            "container_id",
            F.round(F.col("inter") / F.col("sz"), 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_MINHASHES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures ``(doc_id, sig ARRAY<BIGINT>[num_hashes])``.

    One md5 per distinct shingle, then ``num_hashes`` cheap universal
    hashes (a*h+b mod p) folded with ``array_min`` — ZERO shuffles:
    the whole signature is a per-row higher-order expression over the
    document's shingle array, so signatures stream straight into
    whatever wide operator follows (the LSH band join is then the
    pipeline's ONLY exchange). The earlier formulation exploded
    (doc_id, shingle-hash) rows into a num_hashes-buffer hash
    aggregation — same values, one corpus-sized shuffle more.
    """

    # Whole signature assembled as ONE SQL parse: the Column-API form
    # (num_hashes transform/array_min folds, a py4j round-trip per
    # node) spent ~1 s of pure driver time per construction; the
    # expression tree — and therefore the plan and every value — is
    # identical (pytest-pinned against the history's Column form).
    toks = tokens_spark_sql(text_col)
    hs = (
        f"transform({_shingle_array_sql(n, text_col)}, "
        f"__s -> {h28_spark_sql('__s')})"
    )
    sig = ", ".join(
        f"array_min(transform(hs, __h -> {minhash_value_spark_sql('__h', i)}))"
        for i in range(num_hashes)
    )
    base = docs.where(F.expr(f"size({toks}) >= {n}")).select(
        F.col(id_col).alias("doc_id"),
        F.expr(hs).alias("hs"),
    )
    return base.select("doc_id", F.expr(f"array({sig})").alias("sig"))


def minhash_lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_MINHASHES,
    bands: int = 8,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs with estimated similarity:
    ``(doc_a, doc_b, est_sim)`` where est_sim = fraction of agreeing
    minhashes, for pairs sharing at least one LSH band.

    Banding: num_hashes/bands rows per band; candidates = equi-join on
    (band_id, band_signature). est_sim >= threshold filters the output.

    Plan shape: the signature rides along through the band explode so
    agreement is computed directly on the banded self-join — one
    shuffle on (band, bsig) plus the distinct, instead of the textbook
    candidates→re-join-signatures-twice (three shuffles). The extra
    payload is num_hashes longs per banded row; the duplicate-pair
    dedup happens on the narrow (doc_a, doc_b, est_sim) rows.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    sigs = minhash_signatures(
        docs, n=n, num_hashes=num_hashes, text_col=text_col, id_col=id_col
    )
    # one SQL parse instead of bands x rows py4j calls (same tree)
    band_structs = F.expr(
        "array(" + ", ".join(
            f"struct({b} as band, concat_ws(',', "
            + ", ".join(f"cast(sig[{b * rows + r}] as string)" for r in range(rows))
            + ") as bsig)"
            for b in range(bands)
        ) + ")"
    )
    # outer: band_structs is a length-`bands` literal array (never
    # empty); inner explode would infer a pushed-down filter inlining
    # the full signature fold below the join (operators/text.py note).
    banded = sigs.select("doc_id", "sig", F.explode_outer(band_structs).alias("bs")).select(
        "doc_id", "sig", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )
    a, b = banded.alias("a"), banded.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with("a.sig", "b.sig", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        a.join(b, ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (agree.cast("double") / F.lit(float(num_hashes))).alias("est_sim"),
        )
        .distinct()
        .where(F.col("est_sim") >= threshold)
    )


def source_overlap(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source content-overlap matrix: exact shingle-set Jaccard
    for every source pair — ``(source_a, source_b, inter, jaccard)``.
    The curation dashboard that answers "which of my crawl feeds are
    re-serving each other's content?" before dedup spends compute on
    it.

    Scale: works on the DISTINCT (source, shingle) set, so corpus
    volume collapses to vocabulary volume before any join; the
    shingle self-join fans out at most S² rows per shingle for S
    sources — sources are dozens, not millions, so the hot-shingle
    blowup that forces a df-cap in :func:`ngram_jaccard_pairs` is
    structurally bounded here.
    """
    sh = (
        shingles(docs, n=n, text_col=text_col, id_col=id_col)
        .join(docs.select(F.col(id_col).alias("doc_id"), F.col(source_col)), "doc_id")
        .select(F.col(source_col).alias("src"), "shingle")
        .distinct()
    )
    sizes = sh.groupBy("src").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("src").alias("source_a"), F.col("sz").alias("_sa")), "source_a")
        .join(sizes.select(F.col("src").alias("source_b"), F.col("sz").alias("_sb")), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter",
            F.round(
                F.col("inter") / (F.col("_sa") + F.col("_sb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def verified_near_dupes(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_MINHASHES,
    bands: int = 8,
    est_threshold: float = 0.5,
    max_dist_ratio: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate-generate-then-EXACT-verify near-dup detection:
    banded-LSH candidates (:func:`minhash_lsh_candidates`, estimated
    Jaccard ≥ ``est_threshold``) verified by true edit distance —
    ``(doc_a, doc_b, est_sim, dist, dist_ratio)`` for pairs whose
    normalized Levenshtein ``dist / max(len_a, len_b)`` is at most
    ``max_dist_ratio``. The two-stage shape every production dedup
    runs: sketches prune the O(n²) space, an exact measure makes the
    final call.

    Scale: the quadratic-cost ``levenshtein`` only ever runs on
    LSH-surviving pairs (corpus-sublinear), and a length pre-filter
    runs first — ``|len_a − len_b|`` lower-bounds edit distance, so
    pairs that cannot pass are dropped before any DP matrix is built.
    Text payloads join onto the narrow candidate pairs (two key
    shuffles), never the reverse.
    """
    cands = minhash_lsh_candidates(
        docs,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=est_threshold,
        text_col=text_col,
        id_col=id_col,
    )
    texts = docs.select(F.col(id_col).alias("_vid"), F.col(text_col).alias("_vtext"))
    maxlen = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cands.join(
            texts.select(F.col("_vid").alias("doc_a"), F.col("_vtext").alias("text_a")),
            "doc_a",
        )
        .join(
            texts.select(F.col("_vid").alias("doc_b"), F.col("_vtext").alias("text_b")),
            "doc_b",
        )
        # length-gap lower bound: cannot pass the ratio gate => no DP run
        .where(
            F.abs(F.length("text_a") - F.length("text_b"))
            <= F.lit(max_dist_ratio) * maxlen
        )
        # The surviving pair set is tiny in BYTES but dense in CPU
        # (one O(len_a·len_b) DP per row): AQE coalesces it to ~1
        # post-shuffle partition by byte-size, and deterministic
        # filters push through a bare repartition, so without a
        # lineage cut the whole DP bill runs on ONE core (measured
        # 28 s single-task for 12k pairs at sf1; 45.4 -> 17.4 s
        # best-of-2 with the spread). Round-robin across the
        # cluster's cores, then cut lineage so the ratio filter
        # stays ABOVE the exchange.
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .withColumn("dist_ratio", F.round(F.col("dist") / maxlen, 6))
        .where(F.col("dist_ratio") <= max_dist_ratio)
        .select("doc_a", "doc_b", "est_sim", "dist", "dist_ratio")
    )


def simhash(
    docs: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash signatures ``(doc_id, simhash BIGINT)`` over token
    60-bit hashes weighted by term frequency.

    Bit b's vote is Σ over TOKEN INSTANCES of ±1 by the hash's bit
    value — mathematically identical to the textbook Σ over distinct
    tokens of ±tf, but it needs no tf aggregation: hash the token
    array once per row, then each bit is an ``aggregate`` fold over
    that array. ZERO shuffles (the earlier tf-groupBy formulation
    paid three corpus-sized exchanges for the same integers); the
    signature streams straight into ``simhash_near_dupes``'s banded
    join, which becomes the pipeline's only exchange.

    ``bits`` is capped at 62: bit b contributes the literal ``1 << b``,
    and 1 << 63 no longer fits Spark's signed LongType (round-4
    ADVICE — the old shiftleft formulation silently wrapped instead of
    erroring).
    """
    if not 1 <= bits <= 62:
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    # Signature assembled as ONE SQL parse — the Column-API form (bits
    # aggregate folds with Python lambdas) cost ~1.1-1.6 s of py4j
    # round-trips per CONSTRUCTION (measured; execution unchanged).
    # Same expression tree, bit-identical signatures (pytest-pinned).
    toks = tokens_spark_sql(text_col)
    hs = f"transform({toks}, __w -> {h60_spark_sql('__w')})"
    vote = (
        "aggregate(hs, 0L, (acc, h) -> acc + "
        "(case when (shiftright(h, {b}) & 1) = 1 then 1 else -1 end))"
    )
    sig = " + ".join(
        f"(case when {vote.format(b=b)} > 0 then {1 << b}L else 0L end)"
        for b in range(bits)
    )
    base = docs.where(F.expr(f"size({toks}) >= 1")).select(
        F.col(id_col).alias("doc_id"), F.expr(hs).alias("hs")
    )
    return base.select("doc_id", F.expr(sig).alias("simhash"))


def simhash_near_dupes(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance:
    ``(doc_a, doc_b, hamming)`` with doc_a < doc_b and
    hamming <= max_hamming.

    Pigeonhole banding: the ``bits``-bit signature is split into
    ``max_hamming + 1`` bands; a pair within the hamming budget cannot
    differ in every band, so candidates = equi-join on (band,
    band_bits) — never all-pairs — and ``bit_count(xor)`` verifies
    exactly on candidates only. All JVM expressions.
    """
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    bands = max_hamming + 1
    width = -(-bits // bands)  # ceil
    sig = simhash(docs, bits=bits, text_col=text_col, id_col=id_col)
    # one SQL parse instead of `bands` struct builders (same tree)
    band_structs = F.expr(
        "array(" + ", ".join(
            f"struct({b} as band, "
            f"shiftright(simhash, {b * width}) & {(1 << width) - 1} as bval)"
            for b in range(bands)
        ) + ")"
    )
    # outer: length-`bands` literal array, never empty (text.py note).
    banded = sig.select("doc_id", "simhash", F.explode_outer(band_structs).alias("bs")).select(
        "doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.bval").alias("bval")
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.expr("a.simhash ^ b.simhash"))
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the final
    stage of a dedup pipeline: pairs from any candidate generator
    (Jaccard / MinHash-LSH / SimHash / embedding) become clusters with
    a canonical keeper. Returns ``(doc_id, canonical_id,
    cluster_size)`` for every document appearing in >= 1 pair;
    ``canonical_id`` is the component's minimum doc_id (the standard
    keep-lowest retention policy), so "rows to drop" is simply
    ``doc_id != canonical_id``.

    Iterative min-label propagation: every node starts labeled with
    itself; each round a node adopts the minimum label among itself
    and its neighbors. Rounds needed = component diameter — dup
    clusters are short chains in practice, and the loop early-exits
    the first round nothing changes. The previous label rides the
    aggregation (``old`` = the self row's label, the only non-null),
    so the per-round change count is a ``df.observe`` metric resolved
    by the checkpoint materialization itself — ONE action per round;
    the round-4 shape re-joined new labels to old for a separate
    witness count (two actions, one extra join scan per round).

    Scale shape: state is one (node, label) row per PAIRED document —
    orders of magnitude smaller than the corpus; each round is one
    join (edges x labels, both hash-partitioned on the node id) plus
    one groupBy-min; nothing but the per-round change flag reaches the
    driver. Each round's state is eagerly ``localCheckpoint``-ed:
    ``labels`` appears twice in a round's plan (propagation join +
    self-union), so WITHOUT per-round lineage truncation the logical
    plan doubles every round — exponential analysis cost that OOMs the
    driver near 12 rounds regardless of data size (pagerank:
    ``graph._checkpointer`` solves the same problem). ``max_iter``
    bounds pathological chains (a partially converged labeling still
    merges every cluster of diameter <= max_iter; the cap is
    documented, not silent).
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        from pyspark.sql import Observation

        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"),
            F.col("label"),
            F.lit(None).cast("long").alias("old"),
        )
        self_rows = labels.select(
            "id", "label", F.col("label").alias("old")
        )
        # every id has exactly one self row (labels is grouped by id),
        # so min("old") recovers the previous label; labels only ever
        # decrease, so label < old counts exactly the changed nodes.
        obs = Observation()
        new_labels = (
            self_rows.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") < F.col("old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("id", "label")
        if (obs.get["changed"] or 0) == 0:
            converged = True
            break
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    out = labels.join(sizes, "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        "cluster_size",
    )
    # `out` depends only on the final checkpointed labels, never on
    # the cached edge list.
    edges.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_clusters hit max_iter={max_iter} before convergence; "
            "components wider than max_iter hops may be split",
            stacklevel=2,
        )
    return out


def cluster_aware_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """LEAKAGE-PROOF train/val/test assignment: split by near-dup
    CLUSTER, not by document — ``(doc_id, rep, split)`` where ``rep``
    is the document's connected-component representative (its own id
    for unpaired documents) and ``split`` hashes ``rep``, so every
    member of a near-dup cluster lands in the SAME split by
    construction. This is the FIX for what :func:`split_leakage`
    reports: a per-document :func:`sampling.hash_split` lets a test
    document's near-duplicate sit in train (silently inflating every
    eval metric — the scikit-learn GroupShuffleSplit rationale applied
    to dedup components); splitting on the component representative
    makes straddling pairs impossible for any pair inside ``pairs``'
    transitive closure. Deterministic end-to-end: components via
    min-label propagation, assignment via the content-hash binning
    every split operator here uses — re-ingestion never reshuffles.

    Scale shape: ``pairs`` (the expensive part) is an INPUT from any
    candidate generator; on top of it this costs the component loop
    on the paired-docs-only state (:func:`dedup_clusters` — orders of
    magnitude smaller than the corpus), one left join of the corpus
    keys against that map (broadcast-or-shuffle by AQE), and a narrow
    hash — no corpus self-join anywhere.
    """
    from .sampling import hash_split

    clusters = dedup_clusters(pairs, id_a=id_a, id_b=id_b)
    keyed = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(clusters.select("doc_id", "canonical_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("rep"),
        )
    )
    return hash_split(keyed, "rep", weights)


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with an evaluation set — ``(doc_id, n_hits)`` with
    n_hits = number of DISTINCT contaminated n-grams (rows only for
    contaminated docs; n_hits >= 1).

    The standard pre-training hygiene pass: eval suites leak into web
    corpora, and exact n-gram overlap (n around 5-13 in published
    pipelines) is the accepted detector.

    Scale shape: the benchmark side is an eval set — MBs against a
    100 TB corpus — so its distinct shingle set typically broadcasts
    and candidate detection is a map-side hash join on the corpus's
    narrow shingle stream (no corpus shuffle to find hits); the only
    wide operation is the per-doc hit count over matched rows, which
    the n-gram equi-join has already cut to a sliver of the corpus.

    The broadcast is NOT forced (round-4 ADVICE): a caller-supplied
    "benchmark" has no size contract, and a hard ``F.broadcast()`` hint
    overrides ``autoBroadcastJoinThreshold`` — an oversized eval side
    would OOM every executor. Left to the threshold (plus AQE's
    runtime re-plan), a small side still broadcasts and a large one
    degrades to a shuffle join instead of a crash.
    """
    corpus_sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    bench_sh = (
        shingles(benchmark, n=n, text_col=bench_text_col, id_col=bench_id_col)
        .select("shingle")
        .distinct()
    )
    return (
        corpus_sh.join(bench_sh, "shingle")
        # shingles() emits each doc's n-grams already distinct, so a
        # plain count is the distinct-hit count
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def semantic_decontamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag every corpus
    vector whose cosine against ANY eval-set vector reaches
    ``threshold`` — ``(vec_id, eval_id, sim)`` with the best-matching
    eval item per flagged vector (ties to the lowest eval_id).

    The semantic complement of :func:`contamination_flags`: lexical
    n-gram overlap misses paraphrased or translated eval leakage, and
    published pipelines increasingly screen both surfaces (embedding
    decontamination is described in public training-data reports).

    ``eval_set`` has ``(eval_id, c ARRAY<FLOAT/DOUBLE>)``. Scale
    shape mirrors the other decontamination passes: the eval side is
    benchmark-sized (MBs against a 100 TB corpus) so it broadcasts,
    the corpus scans ONCE with a narrow cosine map (no shuffle before
    the per-vector argmax window), and output is bounded by the
    contaminated fraction. For eval sets too large to broadcast, run
    the IVF path first and feed the probed candidate pairs here.
    """
    emb = corpus.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    ev = eval_set.select(
        "eval_id", F.col("c").cast("array<double>").alias("c")
    )
    from .similarity import cosine_similarity

    scored = emb.crossJoin(F.broadcast(ev)).select(
        F.col(id_col),
        "eval_id",
        F.round(cosine_similarity(F.col("c"), F.col(vec_col)), 6).alias("sim"),
    ).where(F.col("sim") >= threshold)
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("eval_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "eval_id", "sim")
    )


def split_leakage(candidates: DataFrame, splits: DataFrame) -> DataFrame:
    """Train/test leakage report: count near-duplicate pairs that
    straddle dataset splits — the check every training pipeline must
    run BEFORE shipping a split, because a test document whose
    near-duplicate sits in train silently inflates every eval metric.

    ``candidates``: near-dup pairs ``(doc_a, doc_b, ...)`` from any
    generator (:func:`minhash_lsh_candidates`,
    :func:`simhash_near_dupes`, :func:`verified_near_dupes`);
    ``splits``: ``(doc_id, split)`` from ``sampling.hash_split``.
    Output: one row per unordered split pair that leaks,
    ``(split_lo, split_hi, n_pairs)`` — split names sorted within the
    pair so (train, test) and (test, train) collapse.

    Scale: two joins of the (already sublinear) candidate pair set
    against the narrow ``(doc_id, split)`` table — the split side
    aggregates nothing and carries two columns, so at 100 TB it is
    the classic broadcast-or-shuffle dimension join, and the result
    is at most |splits|² rows.
    """
    a = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion exact dedup: from a NEW batch, keep only
    documents that are neither (a) already in the corpus (their text
    digest appears in ``seen_digests(digest)``) nor (b) duplicated
    WITHIN the batch (the min-id copy survives, matching
    :func:`exact_duplicates`' keeper rule). Returns the surviving
    ``(doc_id, digest)`` — the rows to append to both the corpus and
    the digest index.

    This is the steady-state shape of corpus ingestion: the 100 TB
    corpus is never rescanned — it is represented by its digest index
    (one 32-byte row per distinct document), and each day's batch
    costs one within-batch aggregation plus one anti-join against
    that index. The anti-join is a plain equi-join on the digest: AQE
    broadcasts a small index, shuffle-joins a big one, and at rest the
    index can be bucketed by digest so the exchange elides.
    """
    batch = new_docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest")
    )
    in_batch_keeper = batch.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id")
    )
    return in_batch_keeper.join(
        seen_digests.select("digest"), "digest", "left_anti"
    ).select("doc_id", "digest")


def ngram_novelty(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document n-gram novelty: ``(doc_id, n_grams, shared_grams,
    novelty)`` where ``shared_grams`` counts the document's distinct
    n-grams that also occur in at least one OTHER document and
    ``novelty = 1 - shared/total`` — the cross-document memorization
    signal training-data curation ranks on (a document whose n-grams
    all appear elsewhere adds nothing; cf. the dedup literature's
    duplicate-n-gram fraction). Documents shorter than ``n`` tokens
    carry no n-grams and are absent, same contract as
    :func:`shingles`.

    Scale shape: one exchange keyed by shingle for the document
    frequencies (map-side partial agg), then ONE annotation equi-join
    back onto the per-doc shingle rows — fan-out is 1:1 (each instance
    gains a df), never pairwise, so hot shingles cost nothing beyond
    their own row count — and a final per-doc aggregation. Contrast
    with :func:`ngram_jaccard_pairs`, which must generate pairs and
    therefore needs the df-cap; a pure annotation join does not.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    # distinct-per-doc by construction, so count(*) IS the document
    # frequency of the shingle
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    annotated = sh.join(df_counts, "shingle")
    return annotated.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("shared_grams"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)) / F.count("*"),
            6,
        ).alias("novelty"),
    )


def _deletion_variants_expr(col: str, tau: int) -> str:
    """SQL expression: array of every string reachable from ``col`` by
    deleting at most ``tau`` (1 or 2) characters, deduplicated. The
    symmetric-deletion signature set of FastSS (Bocek et al. 2007,
    public literature): lev(a, b) <= tau implies the two variant sets
    intersect, so an equi-join on variants is an EXACT candidate
    generator for a bounded-distance self-join."""
    l = f"length({col})"
    del1 = (
        f"transform(sequence(1, {l}), i -> "
        f"concat(substring({col}, 1, i - 1), substring({col}, i + 1, {l})))"
    )
    parts = [f"array({col})", f"CASE WHEN {l} >= 1 THEN {del1} ELSE array() END"]
    if tau >= 2:
        del2 = (
            f"flatten(transform(sequence(1, {l} - 1), i -> "
            f"transform(sequence(i + 1, {l}), j -> "
            f"concat(substring({col}, 1, i - 1), "
            f"substring({col}, i + 1, j - i - 1), "
            f"substring({col}, j + 1, {l})))))"
        )
        parts.append(f"CASE WHEN {l} >= 2 THEN {del2} ELSE array() END")
    return f"array_distinct(concat({', '.join(parts)}))"


def record_linkage_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    method: str = "auto",
    max_pairs_per_record: int | None = None,
    dedupe_values: bool | None = None,
    prune_expansion: bool | None = None,
) -> DataFrame:
    """Blocked entity resolution: candidate record pairs whose
    ``name_col`` values are within ``max_distance`` Levenshtein edits,
    compared ONLY inside blocks sharing every ``block_cols`` value —
    ``(id_a, id_b, name_a, name_b, distance)`` with id_a < id_b (the
    Fellegi–Sunter blocking strategy; public literature).

    Candidate generation is the scale story, and blocking alone is not
    enough when the block key has FIXED cardinality (25 nations):
    per-block membership then grows linearly with the table and the
    within-block self-join quadratically — measured 13.7 s -> 118 s
    for a 3x corpus. So for ``max_distance`` <= 2 the default is the
    symmetric-deletion scheme of FastSS (Bocek et al. 2007): every
    DISTINCT (block, name) class emits its <= tau-deletion variants
    (C(len, 2)-ish short strings), candidates are the equi-join on
    (block, variant), and only distinct candidate CLASS pairs — a
    superset of the true pairs but a subset of lev <= 2*tau — reach
    the verifier; verified class pairs then expand to record pairs
    through one (block, name) join per side, and identical-name
    record pairs come from a within-class self-join at distance 0
    with no DP at all. Variant volume is linear in the DISTINCT
    values, the join keys are near-unique, and the quadratic bill
    disappears (118 s -> ~8 s at the same 3x corpus); on low-entropy
    columns where each value repeats m times, candidate generation
    and verification are m x (and the within-value quadratic m² x)
    cheaper than instance-level FastSS — only the output-sized
    expansion join scales with the emitted pairs. A stat gate (two
    count jobs) picks class-level vs instance-level automatically;
    ``dedupe_values`` forces the choice (True = class path, False =
    instance path) for callers that already know their key entropy.
    NOTE: the auto gate is an EAGER Spark action at plan-construction
    time (one count + count_distinct scan of the input) — plan-only
    callers (explain runs, plan audits, speculative builds) should
    pass ``dedupe_values`` explicitly to stay lazy.
    ``method="blocked"`` keeps the plain block join: preferable when
    names are long (variant count grows with length squared at tau=2)
    or blocks are known-small. Either path feeds the same verifier, so
    results are identical.

    Verification uses bounded-DP levenshtein: with a threshold Spark
    only fills the 2k+1-wide band and bails the moment the bound is
    exceeded (returns -1) — 4x faster than the full DP on this
    workload's 18-char names (23 s -> 6 s at sf0.1, measured);
    survivors carry their true distance. A length-gap prefilter
    (|len(a) - len(b)| > max_distance already exceeds the bound) skips
    the DP entirely on the blocked path. Levenshtein is integer-exact
    in every engine.

    ``max_pairs_per_record`` bounds the OUTPUT, not the plan: on a
    low-entropy name column the candidate plan stays linear but the
    true match set itself is O(n * block-density) — an unbounded sink
    at 100 TB. With the knob set, each record keeps only its
    ``max_pairs_per_record`` closest matches (ties broken by partner
    id — deterministic), and a pair survives if EITHER endpoint ranks
    it (so every record retains its k nearest neighbours and total
    output is <= 2*k*n rows, linear by construction). The capped
    result is always a subset of the exact result; the default
    (``None``) is exact and unchanged.

    ``prune_expansion`` additionally bounds the capped query's
    INTERMEDIATE: the class->record expansion is pre-pruned to each
    class's bottom-k record ids (output-identical — see the in-line
    proof), turning a class pair's m_A*m_B rows into ~2k(m_A+m_B).
    The prune itself costs a rank window, so it only pays off past
    the m = 4k crossover; ``None`` (default) decides from the stat
    gate's max class size, ``True``/``False`` force it (forcing
    ``dedupe_values`` without forcing this defaults it ON — the lazy
    path collects no stats, and at forced-class scale the prune's
    absence is the dangerous direction).
    """
    from ..sources.tables import ensure_min_parallelism

    # Every stage below (variant explode, candidate join, DP verify)
    # is CPU-dense narrow work inheriting this frame's partitioning —
    # a one-row-group input would run it all on ONE task (measured:
    # the sf0.1 candidate join 10.5 -> 2.6 s from this alone). The
    # guard covers scan-inherited layouts only: it repartitions an
    # under-split scan, passes real multi-split corpora through with
    # no exchange (guide §2.5), and leaves a frame that already
    # carries an exchange to AQE's partitioning.
    keyed = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("rid"),
            F.col(name_col).alias("name"),
            *[F.col(c) for c in block_cols],
        ).where(F.col("name").isNotNull())
    )
    if method == "auto":
        method = "fastss" if max_distance <= 2 else "blocked"
    if method == "fastss" and max_distance > 2:
        raise ValueError(
            "fastss candidate generation implements tau <= 2; "
            "use method='blocked' for larger distances"
        )
    if method == "fastss":
        classes = keyed.select("name", *block_cols).distinct()
        if dedupe_values is None:
            # stat gate (same pattern as brute_force_topk's salting
            # gate): the class path only pays off when values repeat —
            # on all-unique names its distinct + expansion joins are
            # pure overhead (measured 11.5 -> 19.7 s at sf0.1), while
            # on repeated names it is the difference between verifying
            # m² identical-value pairs and verifying one class pair
            # (measured 652 -> 46 s at sf1, names repeated 10x). One
            # aggregation over per-class counts decides — and its MAX
            # class size also gates the expansion prune below.
            n_rows, n_cls, m_max = (
                keyed.groupBy(*block_cols, "name")
                .agg(F.count("*").alias("_m"))
                .agg(F.sum("_m"), F.count("*"), F.max("_m"))
                .first()
            )
            dedupe_values = (n_cls or 0) > 0 and n_rows / n_cls >= 1.5
            if prune_expansion is None and max_pairs_per_record:
                # Prune crossover (round-10 VERDICT item 6): the
                # bottom-k expansion prune replaces a class pair's
                # m_A*m_B (and a class's C(m,2) same-name) record
                # pairs with ~2k(m_A+m_B), at the cost of a rank
                # window + a second expansion arm. Same-box fresh-JVM
                # A/B (docs/SCALE.md round 11): m=1 prune +20%,
                # m=3 +25%, m=10 -41% (39 s vs 66 s), m=100 the
                # unpruned expansion never finishes — crossover
                # between m=3 and m=10, matching the ~2k-3k row-count
                # estimate. Gate on the MAX class size (not the
                # mean — one hot class in a unique-name corpus is
                # exactly the skew case the prune exists for).
                prune_expansion = (m_max or 0) > 2 * max_pairs_per_record
        if prune_expansion is None:
            # dedupe_values was forced, so no stats were collected:
            # default the prune ON — a caller forcing the class path
            # is asserting repeated values, and the prune is
            # output-identical (pytest-pinned) so the only risk is
            # the small-m overhead, not correctness
            prune_expansion = True
    if method == "fastss" and dedupe_values:
        # NAME-CLASS candidate generation: every stage up to (and
        # including) the Levenshtein verify runs on DISTINCT
        # (block, name) classes, not record instances. On a
        # low-entropy name column each distinct value repeats m times,
        # so instance-level work (variant explode, candidate join,
        # dedup, verify DP) would be m x larger — and the m² identical-
        # value pairs would each pay a DP call to learn distance 0.
        # The expansion join below is the only stage still
        # proportional to the OUTPUT.
        cvar = classes.select(
            "name", *block_cols,
            F.explode(
                F.expr(_deletion_variants_expr("name", max_distance))
            ).alias("v"),
        )
        ca = cvar.select(F.col("name").alias("name_a"), *block_cols, "v")
        cb = cvar.select(F.col("name").alias("name_b"), *block_cols, "v")
        cls_cand = (
            ca.join(cb, [*block_cols, "v"])
            .where(F.col("name_a") < F.col("name_b"))
            .select(*block_cols, "name_a", "name_b")
            .distinct()  # a class pair can share many variants
            # BARRIER (round-14 perf finding): the verify filter
            # below references only this distinct's grouping keys, so
            # Catalyst pushes levenshtein(name_a, name_b) >= 0 through
            # the aggregate INTO the variant join's condition — the
            # banded DP then runs per raw join row (~2x the distinct
            # pair count, measured 2.5M vs 0.7M at sf1) and AGAIN in
            # the post-distinct projection. The lineage cut pins the
            # DP after the dedup: 51.5 -> ~18 s sf1 best-of-2.
            .localCheckpoint(eager=False)
        )
        cls_verified = (
            cls_cand.withColumn(
                "distance", F.levenshtein("name_a", "name_b", max_distance)
            )
            .where(F.col("distance") >= 0)
            # BARRIER #2 (round-14): inside one codegen stage a
            # projected expression evaluates lazily PER CONSUMING
            # ROW — without this cut the expansion join below
            # re-runs the banded DP once per OUTPUT record pair
            # (16.3M calls for 163k verified class pairs at sf1,
            # measured 36 -> 3.5 s for the expansion write; the
            # winnowing materialized-hash lesson, here across a
            # join instead of a window)
            .localCheckpoint(eager=False)
        )
        # expand verified CLASS pairs to record pairs: one join per
        # side on (block, name) — each record has exactly one name, so
        # every unordered id pair materializes exactly once
        ids_a = keyed.select(
            F.col("rid").alias("ia"), F.col("name").alias("name_a"),
            *block_cols,
        )
        ids_b = keyed.select(
            F.col("rid").alias("ib"), F.col("name").alias("name_b"),
            *block_cols,
        )
        if max_pairs_per_record is not None and prune_expansion:
            # OUTPUT-IDENTICAL upstream prune for the capped query:
            # the cap ranks every pair by (distance, partner id) from
            # both endpoints, and all record pairs expanded from one
            # class pair share a distance — so a record's k best
            # partners inside any partner class are always that
            # class's k SMALLEST record ids. Pairs whose BOTH
            # endpoints fall outside their class's bottom-k therefore
            # rank > k from both viewpoints and can never survive the
            # cap; pruning them before the expansion join cuts the
            # intermediate from m_A*m_B (C(m,2) within-class) to
            # ~2k(m_A+m_B) per class pair — the sf10 probe measured
            # the unpruned expansion at ~10^9 rows through the rank
            # window for a <=2kn output. Ranks at the keep/drop
            # boundary are preserved: every record's true top-k
            # candidates are all kept (any pruned candidate has >= k
            # kept candidates ahead of it inside its own class), so
            # row_number decisions at <= k are unchanged.
            kb = max_pairs_per_record
            wcls = Window.partitionBy(*block_cols, "name").orderBy("rid")
            ranked_ids = keyed.withColumn("_crk", F.row_number().over(wcls))
            bot_a = ranked_ids.where(F.col("_crk") <= kb).select(
                F.col("rid").alias("ia"), F.col("name").alias("name_a"),
                *block_cols,
            )
            bot_b = ranked_ids.where(F.col("_crk") <= kb).select(
                F.col("rid").alias("ib"), F.col("name").alias("name_b"),
                *block_cols,
            )
            expanded = (
                cls_verified.join(ids_a, [*block_cols, "name_a"])
                .join(bot_b, [*block_cols, "name_b"])
                .unionByName(
                    cls_verified.join(bot_a, [*block_cols, "name_a"])
                    .join(ids_b, [*block_cols, "name_b"])
                )
                .select("ia", "ib", "name_a", "name_b", "distance")
            )
            # same-name candidates: each record with its class's
            # k+1 smallest ids (k partners once itself is excluded)
            same_src = (
                keyed.select(F.col("rid").alias("ia"), "name", *block_cols)
                .join(
                    ranked_ids.where(F.col("_crk") <= kb + 1).select(
                        F.col("rid").alias("ib"), "name", *block_cols
                    ),
                    [*block_cols, "name"],
                )
                .where(F.col("ia") != F.col("ib"))
                .select(
                    "ia", "ib",
                    F.col("name").alias("name_a"),
                    F.col("name").alias("name_b"),
                    F.lit(0).cast("int").alias("distance"),
                )
            )
            swap = F.col("ia") > F.col("ib")
            # both union arms (and both same-name orientations) can
            # emit the same unordered pair — canonicalize + distinct
            verified = (
                expanded.unionByName(same_src)
                .select(
                    F.when(swap, F.col("ib")).otherwise(F.col("ia")).alias("id_a"),
                    F.when(swap, F.col("ia")).otherwise(F.col("ib")).alias("id_b"),
                    F.when(swap, F.col("name_b")).otherwise(F.col("name_a")).alias("name_a"),
                    F.when(swap, F.col("name_a")).otherwise(F.col("name_b")).alias("name_b"),
                    "distance",
                )
                .distinct()
            )
        else:
            swap = F.col("ia") > F.col("ib")
            cross = (
                cls_verified.join(ids_a, [*block_cols, "name_a"])
                .join(ids_b, [*block_cols, "name_b"])
                .select(
                    F.when(swap, F.col("ib")).otherwise(F.col("ia")).alias("id_a"),
                    F.when(swap, F.col("ia")).otherwise(F.col("ib")).alias("id_b"),
                    F.when(swap, F.col("name_b")).otherwise(F.col("name_a")).alias("name_a"),
                    F.when(swap, F.col("name_a")).otherwise(F.col("name_b")).alias("name_b"),
                    "distance",
                )
            )
            # identical-name record pairs are distance 0 by definition —
            # no DP, just the within-class self-join (these pairs ARE the
            # output on duplicated values; nothing smaller can emit them)
            same = (
                keyed.select(F.col("rid").alias("id_a"), "name", *block_cols)
                .join(
                    keyed.select(F.col("rid").alias("id_b"), "name", *block_cols),
                    [*block_cols, "name"],
                )
                .where(F.col("id_a") < F.col("id_b"))
                .select(
                    "id_a", "id_b",
                    F.col("name").alias("name_a"), F.col("name").alias("name_b"),
                    F.lit(0).cast("int").alias("distance"),
                )
            )
            verified = cross.unionByName(same)
    elif method == "fastss":
        # instance-level FastSS: on all-unique values the class path
        # above degenerates to this plus pure overhead, so the gate
        # routes here
        variants = keyed.select(
            "rid", "name", *block_cols,
            F.explode(
                F.expr(_deletion_variants_expr("name", max_distance))
            ).alias("v"),
        )
        a = variants.select(
            F.col("rid").alias("id_a"), F.col("name").alias("name_a"),
            *block_cols, "v",
        )
        b = variants.select(
            F.col("rid").alias("id_b"), F.col("name").alias("name_b"),
            *block_cols, "v",
        )
        verified = (
            a.join(b, [*block_cols, "v"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "name_a", "name_b")
            .distinct()  # a pair can share many variants; verify once
            # same barrier as the class path: keep the DP from being
            # pushed through the distinct into the join condition
            .localCheckpoint(eager=False)
            .withColumn(
                "distance", F.levenshtein("name_a", "name_b", max_distance)
            )
            .where(F.col("distance") >= 0)
            .select("id_a", "id_b", "name_a", "name_b", "distance")
        )
    else:
        l = keyed.select(
            F.col("rid").alias("id_a"), F.col("name").alias("name_a"),
            *[F.col(c) for c in block_cols],
        )
        r = keyed.select(
            F.col("rid").alias("id_b"), F.col("name").alias("name_b"),
            *[F.col(c) for c in block_cols],
        )
        verified = (
            l.join(r, block_cols)
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                F.abs(F.length("name_a") - F.length("name_b")) <= max_distance
            )
            .withColumn(
                "distance", F.levenshtein("name_a", "name_b", max_distance)
            )
            .where(F.col("distance") >= 0)
            .select("id_a", "id_b", "name_a", "name_b", "distance")
        )
    if max_pairs_per_record is None:
        return verified
    if max_pairs_per_record < 1:
        raise ValueError("max_pairs_per_record must be >= 1")
    # NOTE: the cap consumes `verified` three times, but do NOT
    # localCheckpoint it — Spark's ReusedExchange already shares the
    # candidate/verify stages across the consumers, and materializing
    # the (potentially huge) pair set costs more than it saves
    # (measured: +2s at sf0.1, +11s at sf1 with a checkpoint here).
    # rank every verified pair from BOTH endpoints' viewpoints; keep
    # the pair if either endpoint ranks it within its k best. One
    # window exchange partitioned on record id — linear, skew-free
    # (each record contributes exactly its pair count twice).
    sym = verified.select(
        F.col("id_a").alias("rid"), F.col("id_b").alias("oid"), "distance"
    ).unionByName(
        verified.select(
            F.col("id_b").alias("rid"), F.col("id_a").alias("oid"), "distance"
        )
    )
    w = Window.partitionBy("rid").orderBy("distance", "oid")
    kept = (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= max_pairs_per_record)
        .select(
            F.least("rid", "oid").alias("id_a"),
            F.greatest("rid", "oid").alias("id_b"),
        )
        .distinct()
    )
    return verified.join(kept, ["id_a", "id_b"], "left_semi")


def dup_span_report(
    docs: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated-SPAN accounting (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": exact-substring dedup
    at fixed granularity): fingerprint every ``window``-token sliding
    span of every document and report, per document, how much of it is
    covered by spans that occur MORE THAN ONCE in the whole corpus
    (including a second time inside the same document — boilerplate
    repeats both ways). ``(doc_id, n_windows, n_dup_windows,
    dup_fraction)``; documents shorter than ``window`` tokens emit
    nothing (they have no span to judge).

    The paper's suffix array finds duplicated substrings of ANY
    length; at cluster scale the standard substitute is fixed-length
    span fingerprinting (a duplicated substring of length >= window
    always contains a duplicated window), which needs no global
    ordered structure: one narrow pass computes the fingerprints
    in-row (md5 of the space-joined span — reproducible in any
    engine), one hash exchange counts them, and a broadcast-sized
    distinct-fingerprint-per-doc join rolls them back up. No sort, no
    driver state; window count equals token count, so the exploded
    intermediate is the corpus token count — the same bill tokenize
    pays.
    """
    toks = tokens_array(text_col)
    w = F.lit(window)
    # sequence(1, 0) DESCENDS — never let the upper bound go below the
    # lower one; short docs get an empty array instead
    fps = F.when(
        F.size(toks) >= window,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - w + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer + null filter: a plain explode would make the
    # optimizer infer size(fps)>0 and re-evaluate the whole fingerprint
    # expression inside a pushed-down Filter (see operators/text.py)
    spans = docs.select(
        F.col(id_col).alias("doc_id"), F.explode_outer(fps).alias("fp")
    ).where(F.col("fp").isNotNull())
    per_doc_fp = spans.groupBy("doc_id", "fp").agg(F.count("*").alias("k"))
    fp_counts = per_doc_fp.groupBy("fp").agg(F.sum("k").alias("c"))
    return (
        per_doc_fp.join(fp_counts, "fp")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_windows"),
            F.sum(F.when(F.col("c") > 1, F.col("k")).otherwise(F.lit(0))).alias(
                "n_dup_windows"
            ),
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("k")).otherwise(F.lit(0)))
                / F.sum("k"),
                6,
            ).alias("dup_fraction"),
        )
    )


def cluster_canonical(clusters: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware canonical selection per near-duplicate cluster —
    the curation refinement of :func:`dedup_clusters`' keep-lowest-id
    rule: given the cluster labeling ``(doc_id, canonical_id,
    cluster_size)`` and a per-doc ``(doc_id, quality)`` score, keep
    the HIGHEST-quality member (ties to the lowest doc_id) — one row
    per cluster: ``(cluster_id, keep_doc_id, keep_quality,
    cluster_size)``.

    Scale: one join on doc_id (cluster membership is a tiny fraction
    of the corpus — only near-dup participants) and one window over
    cluster_id; cluster fan-out is bounded by the LSH/Jaccard
    candidate generation upstream, so no skew hazard beyond what the
    clustering itself already bounded.
    """
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        clusters.join(scores, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("canonical_id").alias("cluster_id"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("quality").alias("keep_quality"),
            "cluster_size",
        )
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style PREFIX FILTERING
    (Bayardo–Ma–Srikant / Xiao et al., public literature): under a
    global rarity order on shingles, a pair with Jaccard ≥ t MUST
    share a shingle within each side's first ``|x| − ⌈t·|x|⌉ + 1``
    shingles (since J ≥ t forces overlap ≥ t·|x| on both sides), so
    candidates come from an inverted join over PREFIXES only, then
    exact verification. Same output contract as
    :func:`ngram_jaccard_pairs` — ``(doc_a, doc_b, jaccard)``, and by
    construction the SAME rows: every filter below is lossless.

    POSITIONAL filter (Xiao et al.'s ppjoin bound, re-expressed as
    plain aggregates): per-doc lists are sorted by ONE global
    (df, shingle) order, so any shared shingle smaller than a
    both-prefix match is itself a both-prefix match — the pair's
    prefix matches w_1 < … < w_m are exactly its m smallest shared
    shingles, and every other shared shingle sits strictly after
    (i_k, j_k) in both lists. Hence two lossless overlap bounds from
    ONE group-by (no per-pair window sort):

        B_first = 1 + min(|x| − min i, |y| − min j)   (k = 1)
        B_last  = m + min(|x| − max i, |y| − max j)   (k = m)

    A pair is verified only if its best-possible Jaccard
    ``B/(|x|+|y|−B)`` with ``B = min(B_first, B_last, |x|, |y|)``
    reaches t. The compare reuses the SAME double-division shape as
    the final jaccard filter, and fp division is monotone over these
    exact-integer operands, so no float-boundary pair is lost.

    VERIFY strategy — the threshold decides the cheap physical plan
    (both are exact; ``verify="auto"`` picks by prefix share):

    - ``"count"`` (low t, prefixes ≈ whole lists): the candidate
      aggregate already holds ``m = |pref_x ∩ pref_y|``, and every
      other shared shingle has a side in a SUFFIX, so
      ``inter = m + |suff_x ∩ full_y| + |pref_x ∩ suff_y|`` — two
      joins whose volume is the naive join's MINUS the prefix join's
      (measured sf1 at t=0.1: 2.3M rows vs re-joining full lists per
      candidate = Σ|x| over 7.3M candidates ≈ 380M rows; 62.6 s →
      see SCALE.md). Never re-touches a candidate's full list.
    - ``"rejoin"`` (high t, prefixes short so candidates are few and
      suffixes are nearly the whole list): join candidates back to
      the full shingle lists and count — pair-bounded, never corpus².
      At high t the "count" suffix joins would approach the naive
      join volume, exactly what the short-prefix join avoids.

    Scale: the candidate join touches the rare end of every document's
    shingle list — prefix length shrinks as t grows (at t=0.9 only
    ~10% of shingles index), and rare-first ordering keeps the indexed
    postings short, attacking hot-shingle blowup WITHOUT losing
    recall. The shingle scan and the ranked lists are each
    lazily localCheckpoint'ed — 4-5 consumers, one materialization.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=False  # sizes + df_tbl + ranked (+ rejoin verify ×2)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df_tbl = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ranked = (
        sh.join(df_tbl, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .select("doc_id", "shingle", "sz", "rnk", (F.col("rnk") <= plen).alias("in_prefix"))
        .localCheckpoint(eager=False)  # prefix ×2 + both suffix-count joins
    )
    prefix = ranked.where("in_prefix").select("doc_id", "shingle", "sz", "rnk")
    matched = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "shingle")
        .where(F.col("pa.doc_id") < F.col("pb.doc_id"))
        # LENGTH filter (also lossless): J >= t forces
        # t * max(|x|, |y|) <= min(|x|, |y|) — prune size-mismatched
        # candidates BEFORE the aggregation and verification joins
        .where(
            F.least(F.col("pa.sz"), F.col("pb.sz"))
            >= F.lit(threshold) * F.greatest(F.col("pa.sz"), F.col("pb.sz"))
        )
        .groupBy(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
            F.col("pa.sz").alias("sza"),
            F.col("pb.sz").alias("szb"),
        )
        .agg(
            F.count("*").alias("m"),
            F.min("pa.rnk").alias("ia_min"),
            F.min("pb.rnk").alias("ib_min"),
            F.max("pa.rnk").alias("ia_max"),
            F.max("pb.rnk").alias("ib_max"),
        )
    )
    bound = F.least(
        F.lit(1)
        + F.least(
            F.col("sza") - F.col("ia_min"), F.col("szb") - F.col("ib_min")
        ),
        F.col("m")
        + F.least(
            F.col("sza") - F.col("ia_max"), F.col("szb") - F.col("ib_max")
        ),
        F.least(F.col("sza"), F.col("szb")),
    )
    cand = matched.where(
        bound / (F.col("sza") + F.col("szb") - bound) >= F.lit(threshold)
    ).select("doc_a", "doc_b", "sza", "szb", "m")
    if verify == "auto":
        # prefix share 1 - t/(1+t)·… ≈ 1 - t of each list: below
        # t=0.5 the suffix side is the small one — count it instead
        # of re-joining candidates' full lists
        verify = "count" if threshold < 0.5 else "rejoin"
    if verify == "count":
        suff = ranked.where(~F.col("in_prefix"))
        # shared shingles NOT counted in m have the smaller-id side
        # in its suffix (any other side), or the smaller-id side in
        # its prefix and the larger-id side in its suffix — two
        # disjoint joins, each suffix-bounded
        s1 = (
            suff.alias("sa")
            .join(ranked.alias("rb"), "shingle")
            .where(F.col("sa.doc_id") < F.col("rb.doc_id"))
            .select(
                F.col("sa.doc_id").alias("doc_a"),
                F.col("rb.doc_id").alias("doc_b"),
            )
        )
        s2 = (
            prefix.alias("px")
            .join(suff.alias("sb"), "shingle")
            .where(F.col("px.doc_id") < F.col("sb.doc_id"))
            .select(
                F.col("px.doc_id").alias("doc_a"),
                F.col("sb.doc_id").alias("doc_b"),
            )
        )
        extra = (
            s1.unionAll(s2).groupBy("doc_a", "doc_b").agg(
                F.count("*").alias("s")
            )
        )
        inter = (
            F.col("m") + F.coalesce(F.col("s"), F.lit(0))
        ).alias("inter")
        scored = cand.join(extra, ["doc_a", "doc_b"], "left").select(
            "doc_a", "doc_b", "sza", "szb", inter
        )
    elif verify == "rejoin":
        scored = (
            sh.select(F.col("doc_id").alias("doc_a"), "shingle")
            .join(cand.select("doc_a", "doc_b"), "doc_a")
            .join(
                sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                ["doc_b", "shingle"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")
                ),
                "doc_b",
            )
        )
    else:
        raise ValueError(f"unknown verify strategy: {verify!r}")
    return scored.select(
        "doc_a",
        "doc_b",
        (
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def _winnow_base(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """``(doc_id, n_kgrams, hs)`` — the positional word n-gram hash
    array MATERIALIZED as a column. The winnow step's per-window
    lambdas must reference a bound column, not the hash expression
    itself: an expression inlines into every window's slice and
    Spark re-evaluates ALL the md5s per window — O(n_grams²) hashes
    per document (measured: 124.6 s -> 3.2 s at sf1 for the
    fingerprint query when this projection boundary was added;
    CollapseProject declines to inline a non-cheap alias referenced
    by multiple consumers, so the boundary holds)."""
    toks = tokens_array(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return docs.where(F.size(toks) >= n).select(
        F.col(id_col).alias("doc_id"),
        (F.size(toks) - n + 1).alias("n_kgrams"),
        F.transform(grams, h28).alias("hs"),
    )


def _winnow_fps(w: int) -> F.Column:
    """The winnowed fingerprint SET over a materialized ``hs``
    column: the min hash of every length-``w`` window, deduplicated.
    Per-doc cost O(n_grams * w) comparisons (w is small); docs with
    fewer than ``w`` n-grams yield one whole-doc window."""
    hs = F.col("hs")
    nwin = F.greatest(F.lit(1), F.size(hs) - w + 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda p: F.array_min(F.slice(hs, p + 1, w)),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    n: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint density per document (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm; public
    literature): hash every word ``n``-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum — the selected
    set is a deterministic ~``2/(w+1)`` sample of the document's
    n-grams with the guarantee that any shared substring of length
    ``>= n + w - 1`` tokens leaves at least one COMMON fingerprint
    in both documents (the property ad-hoc sampling lacks).
    ``(doc_id, n_kgrams, n_fingerprints, density)``; docs with
    fewer than ``n`` tokens drop (no n-gram exists).

    Scale shape: the entire selection is a per-row array expression
    over the materialized hash column (see :func:`_winnow_base`) —
    ONE corpus scan, no shuffle at all; the output is a narrow
    per-doc projection. This is the fingerprint-extraction stage;
    :func:`winnowing_candidates` joins the sets.
    """
    base = _winnow_base(docs, n, text_col, id_col).withColumn(
        "fps", _winnow_fps(w)
    )
    return base.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").alias("n_fingerprints"),
        F.round(F.size("fps") / F.col("n_kgrams"), 6).alias("density"),
    )


def winnowing_candidates(
    docs: DataFrame,
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    fp_df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowed
    fingerprints: ``(doc_a, doc_b, shared_fps)`` with
    ``doc_a < doc_b`` and at least ``min_shared`` common
    fingerprints — the MOSS matching stage over
    :func:`winnowing_fingerprints`'s selection. Winnowing's
    guarantee makes this a RECALL-safe candidate generator for
    substring plagiarism/boilerplate at ~2/(w+1) of the full
    shingle-join bill.

    Scale shape: the inverted fingerprint equi-join of
    :func:`ngram_jaccard_pairs` — quadratic only within one
    fingerprint's posting list, with ``fp_df_cap`` dropping
    boilerplate fingerprints that appear in more docs than the cap
    (the shingle_df_cap discipline) so no hot key can go quadratic.
    """
    fp = (
        _winnow_base(docs, n, text_col, id_col)
        .withColumn("fps", _winnow_fps(w))
        .select("doc_id", F.explode_outer("fps").alias("fp"))
    )
    if fp_df_cap:
        hot = fp.groupBy("fp").count().where(F.col("count") > fp_df_cap)
        fp = fp.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def dedup_threshold_curve(
    docs: DataFrame,
    thresholds: tuple = (0.1, 0.3, 0.5, 0.7, 0.9),
    n: int = 3,
    shingle_df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup savings-vs-threshold sweep — the calibration table a
    pipeline owner reads to PICK the near-dup threshold before
    running :func:`dedup_clusters`/``dedup_apply`` at one value:
    ``(threshold, n_pairs, n_docs_flagged, tokens_flagged,
    savings_pct)``, one row per requested threshold (zero-hit
    thresholds still emit a zeros row — the matryoshka scaffold
    contract, so the curve never silently truncates).

    ``n_docs_flagged`` counts distinct higher-id pair members (the
    keep-smallest-id pairwise policy — an upper bound on what the
    transitive cluster-canonical policy removes);
    ``savings_pct = tokens_flagged / corpus tokens``.

    Scale shape: ONE exact-Jaccard candidate join at the LOOSEST
    threshold (the same inverted shingle join as
    :func:`ngram_jaccard_pairs`, df-cappable) feeds every curve
    point — the per-threshold work is a broadcast scaffold join and
    group-bys over the pair set, never a re-scan. Jaccards round to
    6 dp BEFORE the per-threshold compare (cross-engine boundary
    parity); the base filter stays on the unrounded value, matching
    ngram_jaccard_pairs exactly.
    """
    base = min(thresholds)
    pairs = (
        ngram_jaccard_pairs(
            docs, n=n, threshold=base, shingle_df_cap=shingle_df_cap,
            text_col=text_col, id_col=id_col,
        )
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        # the inverted-join pair set feeds BOTH curve aggregates
        # (n_pairs, flagged-doc rollup); without this cut the plan
        # carries the join subtree per consumer (12 exchanges vs the
        # base query's 3) and re-executes it unless ReusedExchange
        # happens to engage — the mutual_knn_pairs lesson applied at
        # birth (measured sf1: 18.2 -> 10.9 s best-of-3, i.e. the
        # base ngram_jaccard join's own 10.8 s). eager=False
        # (round-13 ADVICE): constructing the DataFrame (run_query
        # --explain, tools/plan_audit) must not execute the full
        # exact-Jaccard join; lineage is still cut and the subtree
        # still runs exactly once on first materialization.
        .localCheckpoint(eager=False)
    )
    th = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    cand = pairs.select(th, "doc_b", "jaccard").where(
        F.col("jaccard") >= F.col("threshold")
    )
    n_pairs = cand.groupBy("threshold").agg(F.count("*").alias("n_pairs"))
    tok = docs.select(
        F.col(id_col).alias("doc_b"),
        F.size(tokens_array(text_col)).alias("n_tok"),
    )
    flagged = (
        cand.select("threshold", "doc_b")
        .distinct()
        .join(tok, "doc_b")
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_docs_flagged"),
            F.sum("n_tok").alias("tokens_flagged"),
        )
    )
    total = docs.agg(
        F.sum(F.size(tokens_array(text_col))).alias("total_tok")
    )
    scaffold = docs.sparkSession.range(0, 1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("threshold")
    )
    return (
        scaffold.join(n_pairs, "threshold", "left")
        .join(flagged, "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0)).cast("long")
            .alias("n_docs_flagged"),
            F.coalesce("tokens_flagged", F.lit(0)).cast("long")
            .alias("tokens_flagged"),
            F.round(
                F.coalesce("tokens_flagged", F.lit(0))
                / F.col("total_tok"), 6
            ).alias("savings_pct"),
        )
    )
