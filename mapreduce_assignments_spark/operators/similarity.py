"""Similarity search over embedding columns.

North-star extension operators (BASELINE.json): approximate-nearest-
neighbor over ``embeddings(vec_id, embedding ARRAY<FLOAT>, label)``.

- brute-force cosine top-k: the exactness baseline. Queries are
  broadcast; similarity is a JVM-side higher-order fold
  (zip_with + aggregate), no Python in the loop; top-k per query is a
  TWO-PHASE ranking (salted partial top-k, then a final re-rank over
  the tiny survivor set) so corpus-scale scored rows never funnel into
  one-partition-per-query — the DataFrame analogue of the reference's
  mapper-local bounded priority queue + single-reducer merge
  (assignment4/FindMaxPageRankNodes.java:52-114).
- IVF (inverted-file) ANN: vectors are bucketed by nearest centroid;
  a query probes only its own cell — the classic recall/throughput
  trade. Centroid assignment is the same broadcast fold; at 100 TB the
  cell id becomes a partition column so probes are partition-pruned.

Determinism notes for oracle parity: similarity is computed in
float64 after casting, rounded to 6 places BEFORE ranking, with vec_id
as the tiebreaker — so Spark and DuckDB rank identically.

Embedding dedup (cosine >= threshold over all candidate pairs within
IVF cells) reuses the same machinery: `embedding_near_dupes`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

__all__ = [
    "cosine_similarity",
    "brute_force_topk",
    "ivf_train",
    "ivf_assign",
    "ivf_topk",
    "embedding_near_dupes",
    "lsh_hyperplanes",
    "lsh_buckets",
    "lsh_topk",
    "quantize_embeddings",
    "write_ivf_index",
    "probe_ivf_index",
    "ann_recall",
    "label_centroids",
    "centroid_confusion",
    "random_projection",
    "hard_negatives",
    "label_spread",
    "semantic_dedup",
    "knn_label_accuracy",
    "embedding_covariance",
    "quantization_error",
    "pq_train",
    "pq_codes",
    "pq_adc_topk",
    "ivf_silhouette",
    "matryoshka_recall",
    "embedding_pca",
    "mutual_knn_pairs",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_sql(a: str, b: str) -> str:
    """Spark SQL text twin of :func:`_dot` — identical expression tree
    (zip_with product, left-to-right 0.0-seeded fold), built as a
    string so literal-heavy consumers (:func:`ivf_assign`,
    :func:`_pq_code_expr` — k x dim literal nodes each) assemble their
    whole expression in ONE ``F.expr`` parse instead of one py4j
    round-trip per node (the r15 hashing.h28_spark_sql discipline;
    bit-identity is pytest-pinned against the Column forms)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x)"
    )


def _dlit(x: float) -> str:
    """Exact Spark SQL double literal for a Python float: ``repr``
    round-trips the IEEE value and the ``D`` suffix makes Spark parse
    it with Double.parseDouble (without it, ``0.5`` is DECIMAL)."""
    return f"{x!r}D"


def _arr_lit(c: list) -> str:
    """Spark SQL literal ``array<double>`` with exact values."""
    return "array(" + ", ".join(_dlit(float(x)) for x in c) + ")"


def _cell_pair_sims(members: DataFrame, directed: bool = False) -> DataFrame:
    """RAW cosine similarity for every within-cell pair, computed by a
    per-cell numpy kernel (guide §4.2 — hand whole batches to
    vectorized native code instead of running an interpreted
    higher-order fold per PAIR).

    BIT-IDENTICAL to the ``cosine_with_norms`` fold the quadratic
    scorers used through r15 (verified empirically: identical sim hex
    for every pair at sf0.1):

    - the dot accumulates positions LEFT TO RIGHT — one vectorized
      outer-product step per dimension, so each pair's accumulator
      performs exactly the fold's ``((0+x0)+x1)+...`` IEEE sequence;
    - the self-norms are ``sqrt`` of the accumulator's DIAGONAL —
      the same operation sequence as the hoisted ``sqrt(_dot(e, e))``;
    - the final ``dot / (na * nb)`` is the same two IEEE ops in the
      same order (numpy and the JVM are both FMA-free binary64 here);
    - ROUNDING STAYS JVM-SIDE: callers apply ``F.round(sim_raw, 6)``,
      so Spark's BigDecimal HALF_UP semantics are untouched.

    ``directed=True`` additionally emits the mirrored ``(b, a)`` rows
    (cosine is commutative at the IEEE level: the products and the
    norm multiply are single multiplications) — the shape
    ``mutual_knn_pairs``'s per-id ranking needs. Memory: the kernel
    materializes an m×m accumulator per cell, so the documented
    ``max_cell_size`` cap (4096 → 128 MB float64) is also the batch
    memory ceiling.

    Input must carry (cell, vec_id, embedding array<double>); output
    is ``(cell, id_a, id_b, sim_raw)``.
    """
    import numpy as np
    import pandas as pd

    empty = {
        "cell": pd.Series([], dtype="int32"),
        "id_a": pd.Series([], dtype="int64"),
        "id_b": pd.Series([], dtype="int64"),
        "sim_raw": pd.Series([], dtype="float64"),
    }

    def pair_sims(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(empty)
        pdf = pdf.sort_values("vec_id")
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        acc = np.zeros((m, m), dtype=np.float64)
        for i in range(A.shape[1]):
            c = A[:, i]
            acc += c[:, None] * c[None, :]
        n = np.sqrt(np.diag(acc))
        sims = acc / np.outer(n, n)
        iu, ju = np.triu_indices(m, 1)
        ids = pdf["vec_id"].to_numpy()
        id_a, id_b, s = ids[iu], ids[ju], sims[iu, ju]
        if directed:
            id_a, id_b = np.concatenate([id_a, id_b]), np.concatenate([id_b, id_a])
            s = np.concatenate([s, s])
        return pd.DataFrame({
            "cell": np.full(len(id_a), pdf["cell"].iloc[0], dtype="int32"),
            "id_a": id_a,
            "id_b": id_b,
            "sim_raw": s,
        })

    return members.groupBy("cell").applyInPandas(
        pair_sims, "cell int, id_a long, id_b long, sim_raw double"
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns — a sequential
    left-to-right fold in both Spark and DuckDB, so results agree."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine_similarity` with the self-norms precomputed.

    BIT-IDENTICAL to ``cosine_similarity(a, b)`` when ``na/nb`` are
    ``sqrt(_dot(x, x))`` of the same arrays — the operations and
    their order are unchanged, only WHERE the self-dots evaluate
    moves. That move matters on quadratic pair frames: Spark's
    higher-order array folds are interpreted (never whole-stage
    codegen'd), and self-dots computed inside a cell join run
    3 folds per PAIR; hoisting them to the (linear) member frames
    leaves 1 fold per pair + 1 per row — measured 22.3 -> ~8 s on
    embedding_near_dupes at sf1."""
    return _dot(a, b) / (na * nb)


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


# Below this much data in the largest leaf scan feeding the scored
# set, the single-window ranking is cheaper: one task per query can
# comfortably sort a few hundred MB, and the salt phase's extra
# shuffle+ranking pass costs more than it saves (measured +59% on the
# sf0.1 bench when salting unconditionally, round-3 VERDICT).
_SALT_MIN_LEAF_BYTES = 256 << 20


def _max_leaf_bytes(df: DataFrame) -> int:
    """Largest leaf-relation size estimate from JVM Catalyst stats
    (actual file sizes for parquet scans). Pure plan inspection — no
    job runs.

    A leaf whose stats are the unknown sentinel (~Long.MaxValue, e.g.
    LogicalRDD from ``createDataFrame`` or an uncomputed ``cache()``)
    counts as HUGE: an unsized input might be corpus-scale, and the
    only safe answer for an unsized plan is the scale-safe one. Sides
    that are small by construction (broadcast query vectors, centroid
    lists) are excluded by the CALLER gating on the corpus DataFrame
    alone (``_topk_per_query(gate_df=...)``), not by guessing which
    unknown leaves are benign — a cached corpus joined to a small
    file-backed side must still read huge (round-4 ADVICE)."""
    _UNKNOWN = 1 << 62
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
        return max((min(s, 1 << 60) for s in sizes), default=1 << 60)
    except Exception:
        return 1 << 60


def _topk_per_query(
    scored: DataFrame,
    k: int,
    salt_parts: int | None = None,
    gate_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k of ``(query_id, neighbor_id, sim)`` rows, cost-gated
    between one- and two-phase ranking.

    A single ``Window.partitionBy("query_id")`` ranking shuffles every
    scored row (corpus × queries) into #queries partitions — with a
    handful of queries that is a handful of tasks each holding
    corpus-scale data (straggler/OOM at 100 TB). So when the plan's
    biggest input scan is ≥ ``_SALT_MIN_LEAF_BYTES``:

    phase 1: rank within ``(query_id, salt)`` where salt is a
      deterministic hash of neighbor_id into ``salt_parts`` buckets;
      every partition sees ~1/salt_parts of one query's rows, and any
      global top-k row is necessarily top-k within its salt bucket;
    phase 2: re-rank the ≤ k·salt_parts survivors per query — tiny.

    Below the threshold (the whole scored set fits one task easily)
    the salt phase is pure overhead and the naive single window runs
    instead. Both paths order by (sim DESC, neighbor_id ASC), so the
    output is bit-identical either way. Pass ``salt_parts`` explicitly
    to override the gate (1 forces single-phase).

    ``gate_df`` is the DataFrame whose leaf stats drive the gate —
    callers pass the CORPUS side, because a per-query window partition
    holds at most one corpus's worth of rows and the broadcast query
    side never lands in it. Unsized inputs (cache/createDataFrame)
    read huge, so an unsized corpus always takes the salted plan."""
    if salt_parts is None:
        salt_parts = (
            scored.sparkSession.sparkContext.defaultParallelism
            if _max_leaf_bytes(gate_df if gate_df is not None else scored)
            >= _SALT_MIN_LEAF_BYTES
            else 1
        )
    order = (F.desc("sim"), F.asc("neighbor_id"))
    w2 = Window.partitionBy("query_id").orderBy(*order)
    if salt_parts <= 1:
        return (
            scored.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "sim")
        )
    w1 = Window.partitionBy("query_id", "__salt").orderBy(*order)
    return (
        scored.withColumn(
            "__salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(salt_parts))
        )
        .withColumn("__prank", F.row_number().over(w1))
        .where(F.col("__prank") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, include_self: bool = False
) -> DataFrame:
    """Exact cosine top-k: ``(query_id, neighbor_id, rank, sim)``.

    ``queries`` has (query_id, q ARRAY<FLOAT/DOUBLE>); it is broadcast
    so the corpus scans once with no shuffle before the top-k.
    """
    emb = _as_double(embeddings).select(
        "vec_id", "embedding",
        # hoist the corpus self-norm: 1 fold per corpus ROW instead
        # of 1 per (corpus x queries) scored pair (bit-identical,
        # see cosine_with_norms)
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("__ne"),
    )
    q = queries.select(
        F.col("query_id"), F.col("q").cast("array<double>").alias("q")
    ).select(
        "query_id", "q",
        F.sqrt(_dot(F.col("q"), F.col("q"))).alias("__nq"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.lit(True) if include_self else F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_with_norms(
                    F.col("q"), F.col("embedding"), F.col("__nq"), F.col("__ne")
                ),
                6,
            ).alias("sim"),
        )
    )
    return _topk_per_query(scored, k, gate_df=emb.select("vec_id", "embedding"))


def margin_mined_pairs(
    topk: DataFrame, margin_threshold: float = 1.2
) -> DataFrame:
    """Margin-based parallel-pair mining over a top-k candidate table
    (Artetxe & Schwenk, ACL'19 — the CCMatrix/LASER mining criterion,
    forward-margin variant): for each query, score its best neighbor
    by ``sim / mean(top-k sims)`` and keep the pair when the margin
    clears ``margin_threshold`` — an absolute-cosine cutoff cannot
    separate hubs (vectors similar to everything) from true
    translations/paraphrases, the ratio can.

    Input is ANY ``(query_id, neighbor_id, rank, sim)`` candidate
    table: :func:`brute_force_topk` as the exact baseline,
    :func:`ivf_topk` as the 100 TB path — mining quality is the
    candidate generator's concern, the margin is one window over its
    (queries x k)-bounded output. Returns ``(query_id, neighbor_id,
    sim, margin)`` for rank-1 pairs passing the bar.
    """
    w = Window.partitionBy("query_id")
    return (
        topk.withColumn(
            "margin", F.round(F.col("sim") / F.avg("sim").over(w), 6)
        )
        .where((F.col("rank") == 1) & (F.col("margin") >= margin_threshold))
        .select("query_id", "neighbor_id", "sim", "margin")
    )


def ivf_train(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    init_sample_size: int = 4096,
) -> DataFrame:
    """Train IVF centroids with spherical Lloyd's iterations:
    ``(cell_id, c ARRAY<DOUBLE>)``.

    Deterministic throughout: initialization is farthest-first over a
    deterministic hash-sample of the corpus — the lowest sampled
    ``vec_id`` seeds cell 0, then each next centroid is the sampled
    vector with the smallest max-cosine to the centroids chosen so far
    (ties to the lowest vec_id). This k-means++-style spread matters:
    seeding with the first k ids can land every seed in one true
    cluster and recall never recovers. Assignment ties break to the
    lowest cell id (``ivf_assign``); the update step is the
    element-wise mean of each cell's members (cosine assignment is
    scale-invariant, so the unnormalized mean is a valid
    spherical-k-means update).

    Scale shape: init reads the FULL corpus zero times — one count,
    then one narrow hash-sample scan (``sampling.deterministic_sample``,
    same rows every run/engine/partitioning) collects ≤
    ``init_sample_size`` vectors to the driver, and farthest-first runs
    driver-local in NumPy (sample_size × k × dim flops on ≤ a few MB).
    The round-2 shape — k−1 full-corpus cross-join scans each ending in
    a 1-row collect — was O(k) passes over 100 TB. Each Lloyd's
    iteration is one broadcast-assign scan plus one ``(cell, dim)``
    aggregation — rows shuffled = n_vectors × dim, partial-aggregated
    map-side. Centroids (k × dim doubles) are the only driver-side
    data; collecting them per iteration is the textbook small-side
    pattern, not a driver loop over the corpus. A cell that loses every
    member simply drops out (k shrinks).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if init_sample_size < 1:
        raise ValueError("init_sample_size must be >= 1")
    import numpy as np

    from .sampling import deterministic_sample

    emb = _as_double(embeddings)
    spark = embeddings.sparkSession
    schema = "cell_id int, c array<double>"
    n = emb.count()
    if n == 0:
        return spark.createDataFrame([], schema)
    fraction = min(1.0, init_sample_size / n)
    # collect unsorted and sort driver-side: the sample is ≤
    # init_sample_size rows by construction, and a distributed orderBy
    # before a full collect is one extra exchange+sort stage for rows
    # the driver re-materializes anyway (vec_id is unique, so the
    # Python sort is the identical order).
    sample = sorted(
        deterministic_sample(emb, "vec_id", fraction)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not sample:  # degenerate fraction rounding: fall back to one row
        sample = emb.orderBy("vec_id").limit(1).collect()
    vecs = np.array([list(r["embedding"]) for r in sample], dtype=np.float64)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    norms[norms == 0.0] = 1.0  # zero vectors: cos defined as 0 via 0/1
    seed_idx = [0]  # rows sorted by vec_id → index 0 is the lowest id
    near = np.full(len(sample), -np.inf)
    for _ in range(1, min(k, len(sample))):
        s = vecs[seed_idx[-1]]
        s_norm = norms[seed_idx[-1]]
        cos = (vecs @ s) / (norms * s_norm)
        # same 9-dp pre-max rounding as the round-2 distributed init
        near = np.maximum(near, np.round(cos, 9))
        # argmin takes the first minimum → lowest vec_id tiebreak
        seed_idx.append(int(near.argmin()))
    seeds = [[float(x) for x in vecs[i]] for i in seed_idx]
    cen = spark.createDataFrame(list(enumerate(seeds)), schema)
    # fixed-dimension contract (r15 ADVICE): the update step below
    # builds one avg() per position, so every embedding must carry the
    # sample's dimension; positions missing from a shorter array would
    # silently contribute NULLs instead of the posexplode shape's
    # present-positions-only semantics, and dim == 0 would make agg()
    # throw. The wide aggregate is one expression per dimension —
    # right-sized for the <=1k dims this engine targets; a 10k-dim
    # space would want the posexplode shape back.
    dim = int(vecs.shape[1])
    if dim == 0:
        raise ValueError("ivf_train: embeddings have dimension 0")
    for _ in range(n_iter):
        assigned = ivf_assign(emb, cen)
        # r15: element-wise mean as dim per-position avg aggregates in
        # ONE cell group-by — the posexplode shape paid a dim× row
        # blowup plus a second exchange for the same partial sums.
        new_rows = (
            assigned.groupBy("cell")
            .agg(*[F.avg(F.col("embedding")[p]).alias(f"v{p}") for p in range(dim)])
            .collect()
        )
        cen = spark.createDataFrame(
            [(r["cell"], [float(r[f"v{p}"]) for p in range(dim)]) for r in new_rows],
            schema,
        )
    return cen


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid:
    ``(vec_id, embedding, cell)``; ties break to the lowest cell id.

    ZERO-shuffle plan: the centroids are collected to the driver
    (k × dim doubles — the same small-side contract as broadcasting
    them) and inlined as literal arrays, so assignment is a narrow
    per-row argmax fold over k cosine expressions. The round-4 shape —
    crossJoin(broadcast(cen)) then ``row_number() OVER (PARTITION BY
    vec_id)`` — shuffled the corpus k-fold wide on vec_id just to pick
    each row's max; at 100 TB that exchange dwarfs the whole pipeline,
    and locally its removal halved every IVF query. The eager collect
    is bounded and matches :func:`ivf_train`'s per-iteration pattern
    (reference analogue: the side-file centroid state,
    RunPageRankBasic.java:304-318)."""
    import math

    emb = _as_double(embeddings)
    rows = sorted(
        (int(r["cell_id"]), [float(x) for x in r["c"]])
        for r in centroids.select("cell_id", "c").collect()
    )
    if not rows:
        return emb.select(
            "vec_id", "embedding", F.lit(None).cast("int").alias("cell")
        ).where(F.lit(False))

    def norm(c: list[float]) -> float:
        # left-to-right accumulation — bit-identical to the
        # F.aggregate fold the cosine expression would have used
        s = 0.0
        for x in c:
            s += x * x
        return math.sqrt(s)

    # ||v|| computed once per row in its own projection (k cosines
    # share it); centroid norms are Python constants. The argmax is
    # array_max over (csim, -cell_id) structs — struct ordering gives
    # max csim with lowest-cell-id tiebreak, and each cosine
    # expression appears exactly ONCE (a nested when()-chain would
    # duplicate the whole accumulated tree at every level — measured
    # 5x slower at k=8).
    with_norm = emb.select(
        "vec_id", "embedding", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("__n")
    )
    # one SQL parse instead of k x dim py4j literal nodes (same tree,
    # bit-identity pytest-pinned against the Column form)
    cands = F.expr(
        "array(" + ", ".join(
            f"struct(round({_dot_sql(_arr_lit(c), 'embedding')}"
            f" / ({_dlit(norm(c))} * __n), 6) as csim,"
            f" {-cell_id} as nid)"
            for cell_id, c in rows
        ) + ")"
    )
    return with_norm.select(
        "vec_id", "embedding", (-F.array_max(cands)["nid"]).cast("int").alias("cell")
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: search the query's ``nprobe`` nearest cells.
    ``(query_id, neighbor_id, rank, sim)`` — rank within the probed
    cells. At scale, ``cell`` is the physical partition key, so each
    probe reads ``nprobe`` partitions instead of the corpus; nprobe is
    the standard recall↔throughput dial (recall at nprobe=1 is poor
    when true neighbors straddle cell boundaries).

    With ``nprobe=1`` this reduces exactly to searching the query
    vector's own cell (a corpus query's top-1 centroid is its assigned
    cell)."""
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    # no .cache(): the assignment subplan is reused via exchange reuse;
    # an explicit cache would outlive the call (the returned DataFrame
    # is lazy) and leak storage memory.
    assigned = ivf_assign(embeddings, centroids)
    emb = _as_double(embeddings)
    cen = centroids.select(
        F.col("cell_id"), F.col("c").cast("array<double>").alias("c")
    )
    qv = emb.join(
        queries.select("query_id"), emb["vec_id"] == F.col("query_id")
    ).select("query_id", F.col("embedding").alias("q"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell_id"))
    q_cells = (
        qv.crossJoin(F.broadcast(cen))
        .select(
            "query_id",
            "q",
            "cell_id",
            F.round(cosine_similarity(F.col("c"), F.col("q")), 6).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "q", F.col("cell_id").alias("qcell"))
    )
    scored = (
        assigned.join(
            F.broadcast(q_cells),
            (assigned["cell"] == F.col("qcell"))
            & (assigned["vec_id"] != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("q"), F.col("embedding")), 6).alias("sim"),
        )
    )
    return _topk_per_query(scored, k, gate_df=emb)


def embedding_near_dupes(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    max_cell_size: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``(id_a, id_b, sim)``
    (id_a < id_b, sim >= threshold), candidate-limited to IVF cells:
    the pairwise comparison is quadratic only within a cell.

    ``max_cell_size`` bounds the quadratic term: a skewed embedding
    space can put a huge fraction of the corpus in one cell, and that
    single mega-cell re-creates the all-pairs blowup the bucketing
    exists to prevent (cap² pairs per cell is the hard ceiling).
    Members of an over-cap cell are excluded from pairing entirely —
    the same documented recall-for-boundedness trade as
    ``dedup.ngram_jaccard_pairs``'s hot-shingle ``df_cap``; pass
    ``None`` to disable."""
    assigned = ivf_assign(embeddings, centroids)
    if max_cell_size is not None:
        cell_n = Window.partitionBy("cell")
        assigned = (
            assigned.withColumn("__cell_n", F.count("*").over(cell_n))
            .where(F.col("__cell_n") <= max_cell_size)
            .drop("__cell_n")
        )
    # r16: pairwise scoring through the per-cell numpy kernel
    # (_cell_pair_sims, guide §4.2) instead of a self-join with one
    # interpreted cosine fold per pair — bit-identical by operation
    # sequence (see the kernel's docstring), measured 2.1x at sf0.1.
    # The kernel is the ONLY consumer of the member frame, so the
    # r14/r15 norm-hoist + checkpoint scaffolding is gone: the window
    # cap's hash(cell) exchange feeds the group map directly.
    pairs = _cell_pair_sims(assigned.select("cell", "vec_id", "embedding"))
    return (
        pairs.select(
            "id_a", "id_b", F.round("sim_raw", 6).alias("sim")
        )
        .where(F.col("sim") >= F.lit(threshold))
    )


# ----------------------------------------------------------------------------
# random-hyperplane LSH — the second ANN scale path beside IVF

def lsh_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH.

    Coefficient (p, d) = md5("hp:p:d") first 7 hex digits / 2^28 - 0.5,
    i.e. uniform in [-0.5, 0.5) — the same portable md5 construction as
    functions.hashing, so the EXACT SAME doubles can be embedded as
    literals in the DuckDB oracle (no cross-engine RNG to trust). No
    seed state, no NumPy: reproducible from the formula alone.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()[:7], 16) / 2**28 - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_buckets(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Sign-LSH band buckets: ``(id, *carry, band, bucket)`` — one row
    per band. ``carry`` columns ride along so a consumer that needs the
    vector next to its buckets (lsh_topk's scoring) gets it from the
    SAME narrow projection instead of re-joining the corpus on id —
    that self-join was a full corpus shuffle.

    Bit p of the signature is ``round(v · plane_p, 6) >= 0`` (rounded
    before the sign test so Spark's fold and DuckDB's unordered sum
    agree at the boundary); bands of ``n_planes / n_bands`` bits become
    small integer bucket ids. Entirely narrow: per-row JVM expressions
    plus a ``posexplode`` of ``n_bands`` ints — no shuffle, no Python.
    Cosine-similar vectors agree on many signs, so they collide in at
    least one band with high probability (the banded OR-of-ANDs
    amplification, same shape as dedup.minhash_lsh_candidates).
    """
    if n_planes % n_bands:
        raise ValueError(f"n_planes={n_planes} not divisible by n_bands={n_bands}")
    r = n_planes // n_bands
    planes = lsh_hyperplanes(n_planes, dim)
    # one SQL parse instead of n_planes x dim py4j literal nodes
    # (~1k round-trips per call, and lsh_topk calls this twice) —
    # identical expression tree, bit-identity pytest-pinned against
    # the Column form (the r15 h28_spark_sql discipline)
    v = f"cast({vec_col} as array<double>)"
    bits = [
        f"cast((round({_dot_sql(v, _arr_lit(planes[p]))}, 6) >= 0) as int)"
        for p in range(n_planes)
    ]
    buckets = [
        "cast((0 + "
        + " + ".join(f"({bits[b * r + j]} * {1 << j})" for j in range(r))
        + ") as int)"
        for b in range(n_bands)
    ]
    # outer: the bucket array is a length-n_bands literal (never
    # empty); a plain posexplode would infer a size()>0 filter that
    # inlines all n_planes dot-product folds a second time at the scan
    # (see operators/text.py note on InferFiltersFromGenerate).
    return embeddings.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode_outer(F.expr("array(" + ", ".join(buckets) + ")")).alias(
            "band", "bucket"
        ),
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k:
    ``(query_id, neighbor_id, rank, sim)``.

    The scale path where IVF's trained centroids aren't available:
    corpus and queries are bucketed by :func:`lsh_buckets`; a corpus
    row is scored against a query only when they share a (band,
    bucket). Plan shape at 100 TB:

    - bucketing is narrow (no shuffle) on both sides;
    - the query bucket table (n_bands rows per query, query vector
      riding along) is BROADCAST, so candidate generation is a map-side
      hash join — the corpus never shuffles to find its candidates;
    - exact cosine is computed in the same map stage; the only wide
      operations are a distinct over scored candidate pairs (a pair
      colliding in several bands must score once) and the two-phase
      salted top-k — both over the candidate set, which banding has
      already cut by ~bucket-count× relative to brute force.

    Exact-on-candidates: any returned (query, neighbor) carries the
    true cosine; approximation only loses neighbors that collide in no
    band. Deterministic: hyperplanes are md5-derived constants and
    ranking happens on round(sim, 6) with neighbor_id tiebreak.
    """
    emb = _as_double(embeddings)
    q = queries.select(
        F.col("query_id"), F.col("q").cast("array<double>").alias("q")
    )
    # carry the vectors through the bucketing projection — bucketing
    # stays a single narrow scan per side; the round-4 shape re-joined
    # each side to itself on id to fetch the vector back (a corpus
    # shuffle for cb).
    qb = lsh_buckets(q, "query_id", "q", n_planes, n_bands, dim, carry=("q",))
    cb = lsh_buckets(
        emb, "vec_id", "embedding", n_planes, n_bands, dim, carry=("embedding",)
    )
    scored = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("q"), F.col("embedding")), 6).alias("sim"),
        )
        .distinct()
    )
    return _topk_per_query(scored, k, gate_df=emb)


def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization against per-dimension global [min, max]:
    ``(vec_id, codes ARRAY<INT> (values in [-128, 127]), norm DOUBLE)``.

    The storage lever for corpus-scale ANN: 64-dim float32 vectors
    shrink 4x (and 8x vs float64 working precision), which at 100 TB
    is the difference between an index that fits hot storage and one
    that doesn't. ``norm`` (the original L2 norm) rides along so
    downstream cosine scoring can dequantize-and-normalize without
    touching the original vectors.

    Plan: one pass computes per-dimension min/max (posexplode →
    (pos) aggregation — 2·dim doubles, collected to the driver like
    IVF's centroids, the textbook small-side pattern); the quantize
    pass is then a NARROW per-row transform against the broadcast
    literal bounds — no second shuffle, no Python.

    Determinism / oracle parity: code = floor((v - mn)/(mx - mn)·255
    + 0.5) - 128 computed in float64 — floor(x + 0.5) rather than
    round() so Spark and DuckDB (whose round() tie-breaks can differ)
    agree bit-for-bit; a constant dimension (mx = mn) quantizes to 0.
    """
    emb = _as_double(embeddings, vec_col)
    # outer: avoids the inferred size()>0 filter re-casting the array
    # at the scan (operators/text.py note); vectors are non-empty.
    dims = (
        emb.select(F.posexplode_outer(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    mn = [r["mn"] for r in sorted(dims, key=lambda r: r["pos"])]
    mx = [r["mx"] for r in sorted(dims, key=lambda r: r["pos"])]
    mn_arr = F.array(*[F.lit(float(x)) for x in mn])
    mx_arr = F.array(*[F.lit(float(x)) for x in mx])
    code = F.zip_with(
        F.col(vec_col),
        F.zip_with(mn_arr, mx_arr, lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi"))),
        lambda v, b: F.when(b["hi"] == b["lo"], F.lit(0)).otherwise(
            F.floor((v - b["lo"]) / (b["hi"] - b["lo"]) * 255 + 0.5).cast("int") - 128
        ),
    )
    return emb.select(
        "vec_id",
        code.alias("codes"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )


def write_ivf_index(
    embeddings: DataFrame, centroids: DataFrame, path: str
) -> None:
    """Materialize the IVF index as CELL-PARTITIONED parquet — the
    physical layout behind the "at 100 TB the cell id becomes a
    partition column" claim: each cell is a directory, so a probe
    reads only its ``nprobe`` directories and the other ~k-1/k of the
    corpus is never opened (partition pruning, asserted in
    tests/test_plan_shapes.py)."""
    ivf_assign(embeddings, centroids).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """ANN search against a :func:`write_ivf_index` materialization:
    ``(query_id, neighbor_id, rank, sim)`` — same semantics as
    :func:`ivf_topk` (which recomputes assignment in-flight), but the
    scan touches only the probed cells' partitions.

    ``queries`` carries explicit vectors ``(query_id, q)``. The probed
    cell ids (n_queries x nprobe ints) are collected to the driver to
    become a partition-pruning IN-filter on the parquet read — the
    same small-side pattern as broadcasting the centroids themselves.
    """
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    cen = centroids.select(
        F.col("cell_id"), F.col("c").cast("array<double>").alias("c")
    )
    q = queries.select(
        F.col("query_id"), F.col("q").cast("array<double>").alias("q")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell_id"))
    probes = (
        q.crossJoin(F.broadcast(cen))
        .select(
            "query_id",
            "q",
            "cell_id",
            F.round(cosine_similarity(F.col("c"), F.col("q")), 6).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "q", F.col("cell_id").alias("qcell"))
    )
    cells = [r["qcell"] for r in probes.select("qcell").distinct().collect()]
    idx = spark.read.parquet(path).where(F.col("cell").isin(cells))
    scored = idx.join(
        F.broadcast(probes),
        (idx["cell"] == F.col("qcell")) & (idx["vec_id"] != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            cosine_similarity(F.col("q"), F.col("embedding").cast("array<double>")), 6
        ).alias("sim"),
    )
    return _topk_per_query(scored, k, gate_df=idx)


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k report: per query, the fraction of EXACT top-k
    neighbors the approximate result recovered — the evaluation every
    ANN deployment runs before trading brute force for an index, and
    the number that justifies (or indicts) an nprobe/banding setting.

    ``exact`` and ``approx`` both carry ``(query_id, neighbor_id, ...)``
    (:func:`brute_force_topk` / :func:`ivf_topk` / :func:`lsh_topk`).
    Output: ``(query_id, recall_at_k)``.

    Scale: both inputs are already top-k-sized (|queries| x k rows) —
    the join and per-query aggregate are trivially small next to the
    searches that produced them; evaluation cost is dominated by the
    brute-force ground truth, which is the point of sampling queries.
    """
    hit = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*"), 6
            ).alias("recall_at_k")
        )
    )


def label_centroids(embeddings: DataFrame, group_col: str = "label") -> DataFrame:
    """Per-group mean embedding, exploded to scalar rows
    ``(<group>, dim, centroid)`` with 1-based ``dim`` — the class
    prototype / embedding-drift monitor: compare this table across
    ingestion batches and a shifted centroid flags upstream encoder or
    corpus drift before any model does.

    Scale: posexplode multiplies rows by the dimensionality, but the
    per-(group, dim) average partially aggregates map-side, so the
    exchange carries |groups| x dim rows — dashboard-sized.

    Determinism: |groups|·dim rounded float means is the
    embedding_covariance flake class (a cell within an ulp of a 1e-6
    boundary can round differently under a different partial-sum
    order), so each summand is quantized to the fixed 2⁻²⁰ grid
    (``floor(x·2²⁰)`` as LONG) before aggregation — integer sums are
    order-independent, and the oracle mirrors the formula per-row.
    """
    e = embeddings.select(
        group_col,
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    scale = float(_COV_SCALE)
    return e.groupBy(
        group_col, (F.col("pos") + 1).cast("int").alias("dim")
    ).agg(
        F.round(
            F.sum(F.floor(F.col("x") * scale)).cast("double")
            / scale
            / F.count("*"),
            6,
        ).alias("centroid")
    )


def centroid_confusion(
    embeddings: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Nearest-centroid classifier confusion matrix:
    ``(label, predicted, n)`` where ``predicted`` is the label whose
    class centroid has max cosine to the vector — the zero-training
    embedding-quality probe (a clean embedding space is
    nearest-centroid separable; a smeared diagonal flags encoder or
    label noise before any model trains).

    Composition: :func:`label_centroids` builds the per-class means
    (rounded to 6dp — the cross-engine determinism contract), which
    ride :func:`ivf_assign`'s literal-inlined zero-shuffle argmax; the
    confusion matrix is one |labels|² aggregation. Nothing here is new
    machinery — that is the point.
    """
    cents = label_centroids(embeddings, group_col=label_col)
    cen = (
        cents.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("p"))
        .select(
            F.col(label_col).cast("int").alias("cell_id"),
            F.expr("transform(p, s -> s.centroid)").alias("c"),
        )
    )
    assigned = ivf_assign(embeddings, cen).select(
        "vec_id", F.col("cell").alias("predicted")
    )
    return (
        embeddings.select("vec_id", F.col(label_col).cast("int").alias("label"))
        .join(assigned, "vec_id")
        .groupBy("label", "predicted")
        .agg(F.count("*").alias("n"))
    )


# Deterministic sparse-projection hash: an LCG over the flattened
# (in_dim_index, out_dim_index) key, high bits folded mod 6 into
# Achlioptas's {+1, -1, 0, 0, 0, 0} sparse sign distribution. The
# identical integer arithmetic is replayable in any engine (the oracle
# runs it in DuckDB SQL) — products stay far below 2^63, so no
# overflow-wrap divergence is possible.
_RP_A = 1103515245
_RP_C = 12345
_RP_M = 2147483648  # 2^31


def random_projection(
    embeddings: DataFrame, in_dim: int = 64, out_dim: int = 8
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    DETERMINISTIC sparse sign matrix (Achlioptas, JCSS'03: entries
    +1/-1 with prob 1/6 each, else 0, scaled by sqrt(3/out_dim)) —
    the matrix is never materialized; each entry is recomputed from an
    integer hash of its (row, column) index, so every executor — and
    the DuckDB oracle — derives the identical matrix with no RNG, no
    broadcast, and no seed file.

    Returns ``(vec_id, dim, value)`` — the reduced vectors as scalar
    rows (pandas-canon safe), values rounded to 6 places.

    Scale shape: a pure narrow map — one JVM-side higher-order fold
    per output dimension (zip_with + aggregate, same machinery as
    :func:`cosine_similarity`), zero shuffles, zero Python. At 100 TB
    this pipelines with the parquet scan; output size is
    ``out_dim/in_dim`` of the input, which is the whole point of
    running it BEFORE an all-pairs or clustering stage. Because the
    map is narrow it also inherits the scan's partitioning, so a
    few-file input would serialize the whole operator —
    ``ensure_min_parallelism`` splits that case (and ONLY that case)
    up front. The guard covers scan-inherited layouts only: an input
    that already carries an exchange keeps the partitioning AQE gives
    it.
    """
    from ..sources.tables import ensure_min_parallelism

    embeddings = ensure_min_parallelism(embeddings)
    vec = F.col("embedding").cast("array<double>")
    scale = (3.0 / out_dim) ** 0.5

    def _entry(j: int) -> Column:
        def mult(v: Column, i: Column) -> Column:
            key = i.cast("long") * out_dim + j
            h = (
                F.shiftright((F.lit(_RP_A) * key + _RP_C) % F.lit(_RP_M), 16) % 6
            )
            r = (
                F.when(h == 0, F.lit(1.0))
                .when(h == 1, F.lit(-1.0))
                .otherwise(F.lit(0.0))
            )
            return v * r

        return F.round(
            F.aggregate(
                F.zip_with(vec, F.sequence(F.lit(0), F.lit(in_dim - 1)), mult),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale),
            6,
        )

    wide = embeddings.select(
        "vec_id", *[_entry(j).alias(f"d{j}") for j in range(out_dim)]
    )
    return wide.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"d{j}") for j in range(out_dim)])).alias(
            "dim", "value"
        ),
    )


def hard_negatives(embeddings: DataFrame, n_anchors: int = 10) -> DataFrame:
    """Contrastive-training triplet mining with HARD negatives: for
    each anchor (the ``n_anchors`` lowest vec_ids), the most-similar
    SAME-label vector (the positive) and the most-similar
    OTHER-label vector (the hard negative — the pair a contrastive
    loss learns the most from). One row per anchor:
    ``(anchor_id, pos_id, pos_sim, neg_id, neg_sim)``.

    Determinism: similarities round to 6 dp before ranking with
    vec_id tiebreaks — the brute_force_topk contract. Scale shape:
    anchors broadcast, the corpus is scanned ONCE (one scored pass
    feeds both the positive and negative rankings), and the top-1
    windows plan as WindowGroupLimit, so each map task forwards one
    candidate per (anchor, side) rather than its whole scored
    partition.
    """
    e = _as_double(embeddings)
    anchors = (
        e.orderBy("vec_id")
        .limit(n_anchors)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("a_vec"),
            F.col("label").alias("a_label"),
        )
    )
    scored = (
        e.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "a_label",
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("a_vec"), F.col("embedding")), 6).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("vec_id"))

    def top1(side: DataFrame, id_out: str, sim_out: str) -> DataFrame:
        return (
            side.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "anchor_id",
                F.col("vec_id").alias(id_out),
                F.col("sim").alias(sim_out),
            )
        )

    pos = top1(scored.where(F.col("label") == F.col("a_label")), "pos_id", "pos_sim")
    neg = top1(scored.where(F.col("label") != F.col("a_label")), "neg_id", "neg_sim")
    return pos.join(neg, "anchor_id")


def label_spread(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-norm health report: ``(label, n,
    mean_norm, var_norm)`` — collapsed or exploding norms within one
    label are the first sign of a broken encoder or a mislabeled
    ingestion batch. Norms round to 6 dp per row before aggregation
    (the engine-parity discipline); mean/variance come from the
    sum/sumsq closed form evaluated identically in the oracle. One
    narrow fold per row plus a single label-keyed aggregation.
    """
    e = _as_double(embeddings)
    norm = F.round(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), 6)
    per = e.select("label", norm.alias("nrm"))
    return per.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.sum("nrm") / F.count("*"), 6).alias("mean_norm"),
        F.round(
            F.sum(F.col("nrm") * F.col("nrm")) / F.count("*")
            - (F.sum("nrm") / F.count("*")) * (F.sum("nrm") / F.count("*")),
            6,
        ).alias("var_norm"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    max_cell_size: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication summary (Abbas et al.
    2023): bucket the corpus into centroid cells, call a vector a
    semantic duplicate if some LOWER-id vector in its cell has cosine
    ``>= threshold``, and report per cell — ``(cell, n_vecs,
    n_dropped, n_kept)``. The keep-lowest-id rule is the
    deterministic stand-in for SemDeDup's keep-one-per-group choice.

    Scale: identical candidate bounding to
    :func:`embedding_near_dupes` — the pairwise cosine is quadratic
    only within a cell, ``max_cell_size`` caps the blowup, and the
    duplicate flag is a semi-join of cell members against the
    (id_a < id_b) pair set, so no row ever materializes more than its
    cell's pair list. Cells over the cap are excluded entirely (the
    documented recall-for-boundedness trade).
    """
    assigned = ivf_assign(embeddings, centroids)
    if max_cell_size is not None:
        cell_n = Window.partitionBy("cell")
        assigned = (
            assigned.withColumn("__cell_n", F.count("*").over(cell_n))
            .where(F.col("__cell_n") <= max_cell_size)
            .drop("__cell_n")
        )
    # members feeds THREE consumers (the pair kernel, the per-cell
    # count, and the semi-join probe) — localCheckpoint so the scan +
    # assignment argmax runs once, not three times (the dedup_clusters
    # discipline for multiply-consumed frames)
    members = assigned.select("cell", "vec_id", "embedding").localCheckpoint(
        eager=False  # plan-only consumers stay job-free; runs once on 1st action
    )
    # r16: pairwise scoring through the per-cell numpy kernel
    # (_cell_pair_sims, guide §4.2) instead of a self-join with one
    # interpreted cosine fold per pair — bit-identical by operation
    # sequence (see the kernel's docstring); rounding stays JVM-side.
    dupes = (
        _cell_pair_sims(members)
        .where(F.round("sim_raw", 6) >= F.lit(threshold))
        .select("cell", F.col("id_b").alias("vec_id"))
        .distinct()
    )
    flagged = members.select("cell", "vec_id").join(
        dupes, ["cell", "vec_id"], "left_semi"
    )
    per_cell = members.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    drops = flagged.groupBy("cell").agg(F.count("*").alias("n_dropped"))
    return (
        per_cell.join(drops, "cell", "left_outer")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        )
    )


def knn_label_accuracy(
    embeddings: DataFrame, n_queries: int = 50, label_col: str = "label"
) -> DataFrame:
    """1-NN leave-one-out label accuracy over an embedding probe set —
    the standard embedding-quality eval: for the first ``n_queries``
    vectors (by id), predict each one\'s label from its nearest
    OTHER vector\'s label and report per true label — ``(label,
    n_queries, n_correct, accuracy)``.

    Scale: the probe set is id-bounded (``vec_id < n_queries``) and
    broadcasts; the corpus scans ONCE through the cost-gated top-k
    helper (:func:`_topk_per_query` salts when the corpus is big), so
    the eval is a broadcast-probe pass, not an all-pairs join — eval
    cost grows with corpus size × probe count, never corpus².
    """
    emb = _as_double(embeddings)
    probes = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    top1 = brute_force_topk(emb, probes, k=1)
    labels = embeddings.select("vec_id", F.col(label_col).alias("__lab"))
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("__lab").alias("true_label")
    )
    pred = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("__lab").alias("pred_label")
    )
    return (
        top1.join(F.broadcast(truth), "query_id")
        .join(pred, "neighbor_id")
        .groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
                )
                / F.count("*"),
                6,
            ).alias("accuracy"),
        )
    )


# Fixed-point grid for order-independent covariance sums: every
# summand becomes floor(x · 2^20), an exact LONG, so partial-aggregate
# order (Spark task scheduling vs DuckDB's scan order) cannot change
# the total by even an ulp. 2^-20 ≈ 1e-6 keeps the quantization error
# per term below the report's own 6-dp rounding grain.
_COV_SCALE = 1 << 20


def embedding_covariance(embeddings: DataFrame) -> DataFrame:
    """Full covariance matrix of the embedding distribution —
    ``(i, j, cov)`` for all d² component pairs, ``cov = E[x_i·x_j] −
    E[x_i]·E[x_j]`` — the input to PCA/whitening and the standard
    embedding-health diagnostic (collapsed dimensions show up as
    near-zero rows).

    Determinism (round-9 driver flake): the naive double sums are
    scheduling-ordered, so a cell whose true value sits within an ulp
    of a 1e-6 rounding boundary can legitimately hash-differ between
    engines/runs. Each summand is therefore quantized to the fixed
    2⁻²⁰ grid (``floor(x·2²⁰)`` as LONG) BEFORE aggregation — integer
    sums are exact and order-independent, so the output is
    hash-stable by construction under any task schedule. The DuckDB
    oracle applies the identical per-row quantization.

    Scale: the per-row flattened outer product (d² narrow longs)
    feeds ONE partial-aggregated exchange keyed on the flat position —
    map-side combine reduces every partition to d² partial sums, so
    the shuffle is d² × partitions regardless of corpus size; means
    ride the same pass as a second aggregate on the same key. No
    vec×vec self-join, no per-row state. d is model-bounded (64 here),
    so the result is dashboard-sized. LONG sums overflow only past
    2⁶³/2²⁰ ≈ 8.8e12 rows — beyond any single covariance job.
    """
    emb = _as_double(embeddings)
    first = emb.select("embedding").first()
    if first is None:  # empty corpus: no covariance (graceful degrade)
        return embeddings.sparkSession.createDataFrame(
            [], "i int, j int, cov double"
        )
    d = len(first["embedding"])
    scale = float(_COV_SCALE)
    flat = emb.select(
        F.posexplode(
            F.flatten(
                F.transform(
                    "embedding",
                    lambda x: F.transform(F.col("embedding"), lambda y: x * y),
                )
            )
        ).alias("pos", "xy"),
        F.col("embedding"),
    ).select(
        "pos",
        F.floor(F.col("xy") * scale).alias("qxy"),
        F.floor(
            F.col("embedding")[(F.col("pos") / d).cast("int")] * scale
        ).alias("qxi"),
    )
    return (
        flat.groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum("qxy").alias("sxy"),
            F.sum("qxi").alias("sxi"),
        )
        .join(
            F.broadcast(
                emb.select(F.posexplode("embedding").alias("j", "xj"))
                .select("j", F.floor(F.col("xj") * scale).alias("qxj"))
                .groupBy("j")
                .agg(F.sum("qxj").alias("sxj"))
            ),
            F.col("j") == F.col("pos") % d,
        )
        .select(
            (F.col("pos") / d).cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 normalizes the sign of zero symmetrically with the
            # DuckDB oracle: Spark's BigDecimal HALF_UP round already
            # emits +0.0 for tiny-negative cells where DuckDB's
            # multiply-based round emits -0.0, and the driver's value
            # hash covers the sign bit (round-10 driver red). IEEE
            # round-to-nearest guarantees -0.0 + 0.0 = +0.0.
            (
                F.round(
                    F.col("sxy").cast("double") / scale / F.col("n")
                    - (F.col("sxi").cast("double") / scale / F.col("n"))
                    * (F.col("sxj").cast("double") / scale / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def quantization_error(
    embeddings: DataFrame, label_col: str = "label"
) -> DataFrame:
    """How much cosine fidelity does int8 scalar quantization cost?
    Per label: ``(label, n_vecs, mean_cos, min_cos)`` where ``cos`` is
    the cosine between each original vector and its
    dequantized reconstruction under :func:`quantize_embeddings`'
    exact code math — the accept/reject gate before switching an ANN
    index to int8 storage.

    Scale: the per-dimension bounds are the same driver-collected
    2·dim doubles as the quantizer (textbook small side); the
    quantize→dequantize→cosine pipeline is then one NARROW per-row
    pass against broadcast literal bounds (no shuffle until the
    label-sized final aggregate). Per-row cosines round to 6 dp
    BEFORE averaging (the source_stats discipline) so the report is
    engine-exact.
    """
    emb = _as_double(embeddings)
    dims = (
        emb.select(F.posexplode_outer("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    mn = [r["mn"] for r in sorted(dims, key=lambda r: r["pos"])]
    mx = [r["mx"] for r in sorted(dims, key=lambda r: r["pos"])]
    mn_arr = F.array(*[F.lit(float(x)) for x in mn])
    mx_arr = F.array(*[F.lit(float(x)) for x in mx])
    bounds = F.zip_with(
        mn_arr, mx_arr, lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi"))
    )
    deq = F.zip_with(
        F.col("embedding"),
        bounds,
        lambda v, b: F.when(b["hi"] == b["lo"], b["lo"]).otherwise(
            b["lo"]
            + F.floor((v - b["lo"]) / (b["hi"] - b["lo"]) * 255 + 0.5)
            / F.lit(255.0)
            * (b["hi"] - b["lo"])
        ),
    )
    cos = F.round(cosine_similarity(F.col("embedding"), deq), 6)
    return (
        emb.select(F.col(label_col).alias("label"), cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("cos"), 6).alias("mean_cos"),
            F.min("cos").alias("min_cos"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): m-subspace codebooks, codes, ADC search


def _pq_subvectors(emb: DataFrame, m: int, sd: int) -> DataFrame:
    """Explode each vector into its m subvectors JVM-side:
    ``(vec_id, subspace, sv ARRAY<DOUBLE>, __n2)`` with the
    subvector's self-dot precomputed once (all k candidate distances
    share it)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice("embedding", j * sd + 1, sd).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return (
        emb.select("vec_id", F.explode(pairs).alias("s"))
        .select("vec_id", F.col("s.subspace").alias("subspace"), F.col("s.sv").alias("sv"))
        .withColumn("__n2", _dot(F.col("sv"), F.col("sv")))
    )


def _seq_dot(a: list, b: list) -> float:
    # left-to-right accumulation — bit-identical to the F.aggregate
    # fold and DuckDB's list_dot_product (the ivf_assign precedent)
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _pq_code_expr(cb: dict) -> Column:
    """Nearest-code expression over the exploded subvector frame:
    per subspace, argmin of round(||c||² − 2·c·sv + ||sv||², 6) with
    ties to the lowest code — a lazy when()-branch per subspace so
    each row evaluates only its own subspace's k distances, and the
    argmin is array_min over (d, code) structs (the ivf_assign
    single-evaluation discipline).

    Built as ONE SQL parse: the Column form was m x k x (d/m) py4j
    literal nodes (~1.9 s of pure driver time per call at m=k=sd=8,
    and pq_train re-calls it every Lloyd's round). Same expression
    tree; bit-identity pytest-pinned against the Column form."""
    branches = []
    for j in sorted(cb):
        cands = ", ".join(
            f"struct(round({_dlit(_seq_dot(c, c))}"
            f" - 2 * {_dot_sql(_arr_lit(c), 'sv')}"
            f" + __n2, 6) as d, {code} as code)"
            for code, c in cb[j]
        )
        branches.append(f"when subspace = {j} then array_min(array({cands})).code")
    return F.expr("cast(case " + " ".join(branches) + " end as int)")


def _collect_codebook(codebooks: DataFrame) -> dict:
    cb: dict = {}
    for r in codebooks.select("subspace", "code", "c").collect():
        cb.setdefault(int(r["subspace"]), []).append(
            (int(r["code"]), [float(x) for x in r["c"]])
        )
    for j in cb:
        cb[j].sort()
    return cb


def pq_train(
    embeddings: DataFrame, m: int = 4, k: int = 8, n_iter: int = 2
) -> DataFrame:
    """Train product-quantization codebooks — ``(subspace, code,
    c ARRAY<DOUBLE>)``: split the d-dim space into m contiguous
    subspaces of d/m dims and run k-means in each (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    public method). The compressed index stores m small codes per
    vector instead of d floats (at d=64 doubles and m=8, 8 one-byte
    codes vs 512 bytes — a 64× shrink), which is what makes a 100 TB
    embedding corpus searchable from RAM. Random Gaussian test data
    is PQ's worst case (no cluster structure for the codebooks to
    exploit); pq_recall_report measures exactly that loss.

    Deterministic throughout: initialization seeds subspace j's k
    codewords with the subvectors of the k LOWEST vec_ids (code =
    vec_id rank); assignment is min squared-L2 rounded at 6 dp with
    ties to the lowest code; the update is the element-wise mean.

    Scale shape: ALL m codebooks train in the SAME Spark jobs — the
    subvector explode is a narrow map (rows × m, never shuffled
    wide), each Lloyd's iteration is one literal-fold assignment
    scan plus ONE (subspace, code, pos) partial-aggregated exchange,
    and only the m×k×(d/m) codebook floats ever reach the driver
    (the ivf_train small-side contract). A codeword that loses every
    member drops out, identically in both engines."""
    if m < 1 or k < 1:
        raise ValueError("m and k must be >= 1")
    emb = _as_double(embeddings)
    spark = embeddings.sparkSession
    schema = "subspace int, code int, c array<double>"
    first = emb.orderBy("vec_id").limit(k).collect()  # bounded: k rows
    if not first:
        return spark.createDataFrame([], schema)
    dim = len(first[0]["embedding"])
    if dim == 0:
        raise ValueError("pq_train: embeddings have dimension 0")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # fixed-dimension contract (r15 ADVICE): the update step builds one
    # avg() per subvector position (sd of them) — shorter arrays would
    # contribute NULLs at missing positions; see ivf_train's note.
    sd = dim // m
    cb: dict = {
        j: [
            (rank, [float(x) for x in row["embedding"]][j * sd : (j + 1) * sd])
            for rank, row in enumerate(first)
        ]
        for j in range(m)
    }
    sub = _pq_subvectors(emb, m, sd)
    for _ in range(n_iter):
        assigned = sub.withColumn("code", _pq_code_expr(cb))
        # r15: element-wise mean as sd per-position avg aggregates in
        # ONE (subspace, code) group-by — the posexplode shape paid an
        # sd× row blowup plus a second exchange (pos-level then
        # code-level) for the same partial-aggregated double sums.
        rows = (
            assigned.groupBy("subspace", "code")
            .agg(*[F.avg(F.col("sv")[p]).alias(f"v{p}") for p in range(sd)])
            .collect()
        )
        cb = {}
        for r in rows:
            cb.setdefault(int(r["subspace"]), []).append(
                (int(r["code"]), [float(r[f"v{p}"]) for p in range(sd)])
            )
        for j in cb:
            cb[j].sort()
    return spark.createDataFrame(
        [(j, code, c) for j in sorted(cb) for code, c in cb[j]], schema
    )


def pq_codes(embeddings: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Encode each vector under trained PQ codebooks —
    ``(vec_id, subspace, code)``, the compressed index itself (m
    small ints per vector). ZERO-shuffle: the codebooks are collected
    (m×k×(d/m) doubles — the ivf_assign small-side contract) and
    inlined as literal arrays, so encoding is a narrow per-row
    argmin fold; the corpus is scanned once and never exchanged."""
    cb = _collect_codebook(codebooks)
    emb = _as_double(embeddings)
    spark = embeddings.sparkSession
    if not cb:
        return spark.createDataFrame([], "vec_id long, subspace int, code int")
    m = len(cb)
    sd = len(next(iter(cb.values()))[0][1])
    sub = _pq_subvectors(emb, m, sd)
    return sub.select(
        "vec_id", "subspace", _pq_code_expr(cb).alias("code")
    )


# fixed-point scale for ADC contributions: quantizing each lookup-table
# entry to floor(d2 · 2^20) LONG makes the per-pair sum over subspaces
# order-independent (the embedding_covariance discipline), so ranking
# ties and hashes are engine-exact.
_PQ_ADC_SCALE = 1 << 20


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_queries: int = 5,
    topk: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-compressed index —
    ``(query_id, neighbor_id, rank, adc_dist)``: each query builds a
    lookup table of its exact squared-L2 to every codeword (m×k
    entries), and a database vector's distance is the SUM of its m
    code lookups — the vectors themselves are never touched at query
    time (Jégou'11 ADC). This is the 100 TB query path: the scan
    reads only the (vec_id, subspace, code) index (m ints/vector),
    the LUT is a broadcast of n_queries × m × k rows, and the
    per-(query, vector) sum is one partial-aggregated exchange of
    integer summands. Contributions are fixed-point quantized
    (floor(d2·2²⁰) LONG) so the sum is order-independent; ranking
    orders by the exact integer sum with ties to the lowest
    neighbor_id."""
    emb = _as_double(embeddings)
    cb = _collect_codebook(codebooks)
    spark = embeddings.sparkSession
    out_schema = (
        "query_id long, neighbor_id long, rank int, adc_dist double"
    )
    if not cb:
        return spark.createDataFrame([], out_schema)
    m = len(cb)
    sd = len(next(iter(cb.values()))[0][1])
    codes = pq_codes(emb, codebooks)
    qsub = _pq_subvectors(
        emb.where(F.col("vec_id") < n_queries), m, sd
    ).select(
        F.col("vec_id").alias("query_id"),
        "subspace",
        F.col("sv").alias("qv"),
        F.col("__n2").alias("qn2"),
    )
    lut = (
        qsub.join(F.broadcast(codebooks), "subspace")
        .select(
            "query_id",
            "subspace",
            "code",
            F.floor(
                (
                    _dot(F.col("c"), F.col("c"))
                    - 2 * _dot(F.col("c"), F.col("qv"))
                    + F.col("qn2")
                )
                * F.lit(float(_PQ_ADC_SCALE))
            )
            .cast("long")
            .alias("dq"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dq").alias("s"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("s"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round(
                F.greatest(F.col("s"), F.lit(0)) / F.lit(float(_PQ_ADC_SCALE)), 6
            ).alias("adc_dist"),
        )
    )


def ivf_silhouette(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cell simplified silhouette of an IVF assignment —
    ``(cell, n_vecs, mean_silhouette)``: for each vector, a = cosine
    distance to its OWN (nearest) centroid, b = distance to the
    nearest OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]
    (Hruschka et al.'s centroid-based simplification of Rousseeuw's
    silhouette — O(n·k) instead of the O(n²) pairwise original,
    which is the only version that exists at 100 TB). High mean s =
    tight, well-separated cells; s near 0 = the partition is
    arbitrary (expected on unclustered data); negative = vectors
    sit closer to a neighboring centroid than their own.

    ONE narrow scan: all k cosines are a literal fold per row (the
    ivf_assign zero-shuffle contract), own/second-best come from one
    sorted struct array, and the per-cell mean aggregates
    fixed-point LONG summands (floor(s·2²⁰) — the order-independent
    discipline), so the report is engine-exact."""
    import math

    emb = _as_double(embeddings)
    rows = sorted(
        (int(r["cell_id"]), [float(x) for x in r["c"]])
        for r in centroids.select("cell_id", "c").collect()
    )
    spark = embeddings.sparkSession
    if len(rows) < 2:
        return spark.createDataFrame(
            [], "cell int, n_vecs long, mean_silhouette double"
        )

    def norm(c: list[float]) -> float:
        s = 0.0
        for x in c:
            s += x * x
        return math.sqrt(s)

    with_norm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("__n"),
    )
    cands = F.array(
        *[
            F.struct(
                F.round(
                    _dot(F.array(*[F.lit(x) for x in c]), F.col("embedding"))
                    / (F.lit(norm(c)) * F.col("__n")),
                    6,
                ).alias("cs"),
                F.lit(-cell_id).alias("nid"),
            )
            for cell_id, c in rows
        ]
    )
    ranked = F.sort_array(cands, asc=False)
    a = 1.0 - ranked[0]["cs"]
    b = 1.0 - ranked[1]["cs"]
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    per_vec = with_norm.select(
        (-ranked[0]["nid"]).cast("int").alias("cell"),
        F.floor(s * F.lit(1048576.0)).cast("long").alias("sq"),
    )
    return per_vec.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        # + 0.0 normalizes the sign of zero — a tiny-negative mean
        # rounds to -0.0 under DuckDB's multiply-based round() but
        # +0.0 under Spark's HALF_UP, and the driver hashes the sign
        # bit (the embedding_covariance round-10 lesson; silhouettes
        # are sign-indefinite so this report is in the exposed class)
        (
            F.round(F.sum("sq") / F.lit(1048576.0) / F.count("*"), 6)
            + F.lit(0.0)
        ).alias("mean_silhouette"),
    )


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 10,
) -> DataFrame:
    """Matryoshka / prefix-dimension retrieval evaluation (Kusupati
    et al., NeurIPS'22 — MRL; public literature): recall@k of
    brute-force cosine retrieval over the first ``d`` embedding
    coordinates against the full-dimension ground truth, one row per
    ``d`` — ``(dim, n_queries, hits, recall)``. The curve answers the
    index-sizing question MRL poses: how many prefix dims does the
    ANN tier need before full-dim rescoring?

    Scale shape: ONE corpus scan computes the full-dim similarity AND
    every prefix similarity per (query, vector) pair — prefix dots
    are plain slices of the same row, so evaluating |dims| prefixes
    costs |dims| extra fused expressions, not |dims| extra scans.
    The stacked (dim, query) rankings ride :func:`_topk_per_query`'s
    cost-gated one-/two-phase top-k via a struct-valued query key
    (dim 0 = the full-dim ground truth), and the final recall join is
    over k-bounded survivor sets. Sims are rounded to 6 dp BEFORE
    ranking with an id tiebreak — the brute_force_topk parity
    discipline.
    """
    emb = _as_double(embeddings)
    q = queries.select(
        F.col("query_id"), F.col("q").cast("array<double>").alias("q")
    )
    pairs = emb.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    variants = [
        F.struct(
            F.lit(0).alias("dim"),
            F.round(
                cosine_similarity(F.col("q"), F.col("embedding")), 6
            ).alias("sim"),
        )
    ] + [
        F.struct(
            F.lit(int(d)).alias("dim"),
            F.round(
                cosine_similarity(
                    F.slice(F.col("q"), 1, int(d)),
                    F.slice(F.col("embedding"), 1, int(d)),
                ),
                6,
            ).alias("sim"),
        )
        for d in dims
    ]
    stacked = pairs.select(
        F.col("query_id").alias("__q"),
        F.col("vec_id").alias("neighbor_id"),
        F.explode(F.array(*variants)).alias("v"),
    ).select(
        F.struct(F.col("v.dim").alias("dim"), F.col("__q").alias("q")).alias(
            "query_id"
        ),
        "neighbor_id",
        F.col("v.sim").alias("sim"),
    )
    topk = (
        _topk_per_query(stacked, k, gate_df=emb)
        .select(
            F.col("query_id.dim").alias("dim"),
            F.col("query_id.q").alias("query_id"),
            "neighbor_id",
        )
        # k-bounded survivors feed THREE consumers (n_queries agg,
        # truth side, per-dim side) — checkpoint so the corpus-sized
        # scored lineage runs once, not three times (the
        # mutual_knn_pairs discipline). eager=False: plan-only
        # consumers (run_query --explain, tools/plan_audit) must not
        # execute the join just to print the plan; lineage is still
        # cut and the subtree still runs exactly once on first action.
        .localCheckpoint(eager=False)
    )
    truth = topk.where(F.col("dim") == 0).select("query_id", "neighbor_id")
    # |queries| as an IN-PLAN broadcast scalar (1 row), not a
    # plan-build-time .count() — constructing this query fires no
    # Spark jobs (round-13 VERDICT item 5).
    nq = truth.agg(F.countDistinct("query_id").alias("__n_q"))
    hits = (
        topk.where(F.col("dim") != 0)
        # truth is |queries| x k rows — bounded by construction, so
        # the recall join broadcasts instead of shuffling the
        # (|dims| x |queries| x k)-bounded survivor side
        .join(F.broadcast(truth), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("dim")
        .agg(F.count("*").alias("hits"))
    )
    # Literal dims scaffold: a prefix dim whose top-k shares ZERO
    # neighbors with the full-dim truth must still report recall=0.0
    # instead of silently vanishing from the curve (the inner groupBy
    # above only emits dims with >= 1 hit).
    scaffold = embeddings.sparkSession.range(0, 1).select(
        F.explode(F.array(*[F.lit(int(d)) for d in dims])).alias("dim")
    )
    return (
        scaffold.join(hits, "dim", "left")
        .crossJoin(F.broadcast(nq))
        # empty eval set: no queries means no curve at all (the empty
        # in -> empty out contract), not a dims-sized block of
        # 0/0 rows
        .where(F.col("__n_q") > 0)
        .select(
            "dim",
            F.col("__n_q").cast("int").alias("n_queries"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0))
                / (F.col("__n_q") * F.lit(k)), 6
            ).alias("recall"),
        )
    )


def _round6_away(x: float) -> float:
    """HALF-AWAY-FROM-ZERO 6-dp rounding with the sign of zero
    normalized to +0.0 — bit-identical to DuckDB ``round(x, 6)`` and
    Spark ``F.round(x, 6)`` (verified over randomized doubles plus
    the .5-boundary cases), unlike Python's banker's ``round``."""
    import math

    v = math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6
    return v + 0.0 if v == 0.0 else v


def embedding_pca(embeddings: DataFrame, n_iter: int = 8) -> DataFrame:
    """First principal component of the embedding cloud by power
    iteration over the (already engine-exact) covariance —
    ``(i, loading, eigenvalue, explained_ratio)``, one row per
    dimension. The encoder-health diagnostic one step past
    :func:`embedding_covariance`: a dominant eigenvalue carrying
    most of the trace means the embedding space collapsed onto a
    line (anisotropy — Ethayarajh'19's finding for contextual
    encoders; public literature).

    Scale shape: the DATA-sized work is the covariance itself —
    one distributed pass with fixed-point LONG summands (see
    :func:`embedding_covariance`); the power iteration then runs
    driver-local on the collected d x d matrix (d² doubles — the
    bounded-small-side pattern of ivf_train's centroids, NOT a
    driver loop over the corpus). Cross-engine exactness is by
    construction: the covariance entries hash-match DuckDB already;
    every iteration quantizes the normalized vector to 6 dp with
    half-away-from-zero rounding (the engines' shared rule), so
    both engines iterate on IDENTICAL inputs; the dot-product folds
    are left-to-right in both (list_dot_product parity, verified
    bit-exact); sqrt/divide are correctly-rounded IEEE ops. No
    drift can accumulate across rounds.
    """
    schema = "i int, loading double, eigenvalue double, explained_ratio double"
    cov_df = embedding_covariance(embeddings)
    rows = cov_df.collect()  # bounded: d^2 rows, never the corpus
    if not rows:  # empty corpus: no covariance, no component
        return embeddings.sparkSession.createDataFrame([], schema)
    d = max(r["i"] for r in rows) + 1
    C = [[0.0] * d for _ in range(d)]
    for r in rows:
        C[r["i"]][r["j"]] = r["cov"]
    import math

    if not any(x for row in C for x in row):
        # all-zero covariance (e.g. every component below the 2^-20
        # quantization grid): power iteration would divide by a zero
        # norm — no signal means no component, same graceful-degrade
        # contract as the empty corpus
        return embeddings.sparkSession.createDataFrame([], schema)
    v = [1.0] * d
    for _ in range(n_iter):
        w = []
        for i in range(d):
            acc, Ci = 0.0, C[i]
            for j in range(d):
                acc = acc + Ci[j] * v[j]
            w.append(acc)
        acc = 0.0
        for x in w:
            acc = acc + x * x
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            # v fell into C's null space (possible on degenerate
            # integer-quantized matrices): no dominant direction
            return embeddings.sparkSession.createDataFrame([], schema)
        v = [_round6_away(x / nrm) for x in w]
    cv = []
    for i in range(d):
        acc, Ci = 0.0, C[i]
        for j in range(d):
            acc = acc + Ci[j] * v[j]
        cv.append(acc)
    num = 0.0
    for i in range(d):
        num = num + v[i] * cv[i]
    den = 0.0
    for x in v:
        den = den + x * x
    eig = _round6_away(num / den)
    trace = 0.0
    for i in range(d):
        trace = trace + C[i][i]
    if trace == 0.0:  # quantized-degenerate: no variance to explain
        return embeddings.sparkSession.createDataFrame([], schema)
    evr = _round6_away(eig / trace)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, v[i], eig, evr) for i in range(d)], schema
    )


def mutual_knn_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    max_cell_size: int | None = 4096,
) -> DataFrame:
    """Reciprocal-nearest-neighbor pairs within centroid cells —
    ``(id_a, id_b, sim)`` with ``id_a < id_b`` where EACH vector is
    in the other's within-cell cosine top-``k``. Mutuality is the
    classic precision filter over one-directional kNN (RNN matching,
    e.g. Qin'11's reciprocal re-ranking; SemDeDup-adjacent): a hub
    vector that merely appears in everyone's list pairs with nobody
    unless the relation is symmetric, so the output is a
    high-precision duplicate/paraphrase candidate set.

    Scale shape: the :func:`semantic_dedup` candidate bounding —
    cells from a broadcast-centroid argmax (zero exchanges),
    ``max_cell_size`` caps the quadratic within-cell bill, the
    per-vector ranking window partitions on ``id_a`` (cell-bounded
    input per partition), and mutuality is a self-semi-join of the
    k-bounded neighbor lists. Sims round to 6 dp BEFORE ranking with
    an id tiebreak (the brute_force_topk parity discipline).
    """
    assigned = ivf_assign(embeddings, centroids)
    if max_cell_size is not None:
        cell_n = Window.partitionBy("cell")
        assigned = (
            assigned.withColumn("__cell_n", F.count("*").over(cell_n))
            .where(F.col("__cell_n") <= max_cell_size)
            .drop("__cell_n")
        )
    # r16: pairwise scoring through the per-cell numpy kernel
    # (_cell_pair_sims with directed=True — the per-id ranking needs
    # both (a,b) and (b,a), and cosine is commutative at the IEEE
    # level) instead of a self-join with one interpreted fold per
    # pair; bit-identical by operation sequence (kernel docstring).
    # ivf_assign already carries the double-cast embedding, so the
    # former re-join of the raw embeddings table is gone too (vec_id
    # is unique — the join re-attached identical arrays).
    w = Window.partitionBy("id_a").orderBy(F.desc("sim"), F.asc("id_b"))
    nn = (
        _cell_pair_sims(
            assigned.select("cell", "vec_id", "embedding"), directed=True
        )
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
        # k·n-bounded; feeds BOTH sides of the mutuality semi-join below,
        # so materialize once instead of re-running the cell-quadratic
        # scoring subtree per side (matryoshka_recall's survivor lesson:
        # the same checkpoint there measured 23.9 -> 11.6 s at sf10).
        # eager=False (round-13 ADVICE): lineage still cut, subtree
        # still runs once on first materialization, but merely
        # BUILDING the DataFrame (explain, plan_audit) stays free.
        .localCheckpoint(eager=False)
    )
    rev = nn.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    )
    return (
        nn.join(rev, ["id_a", "id_b"], "left_semi")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim")
    )
