from __future__ import annotations

import numpy as np
import pytest

from mapreduce_assignments_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dupes,
    ivf_assign,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    # plant a near-dup of 0 at a non-centroid id (ids < 4 serve as IVF
    # centroids in these tests; a centroid always self-assigns)
    vecs[25] = vecs[0] + 0.01 * rng.normal(size=8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return df, vecs


def numpy_topk(vecs, qid, k):
    q = vecs[qid].astype("float64")
    sims = []
    for i, v in enumerate(vecs):
        if i == qid:
            continue
        v = v.astype("float64")
        s = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        sims.append((round(s, 6), -i))
    sims.sort(reverse=True)
    return [(-i, s) for s, i in sims[:k]]


def test_brute_force_topk_matches_numpy(emb):
    df, vecs = emb
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id < 3")
    out = brute_force_topk(df, queries, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
    for qid in range(3):
        want = numpy_topk(vecs, qid, 5)
        rows = sorted(got[qid])
        assert [n for _, n, _ in rows] == [n for n, _ in want]
        for (_, _, s), (_, ws) in zip(rows, want):
            assert s == pytest.approx(ws, abs=2e-6)


def test_topk_salted_equals_single_phase(emb, tmp_path):
    """The cost gate switches plans, never results: forcing the
    two-phase salted ranking must reproduce the single-window ranking
    bit-for-bit (including rank order under sim ties)."""
    from mapreduce_assignments_spark.operators.similarity import (
        _max_leaf_bytes,
        _topk_per_query,
        _as_double,
        cosine_similarity,
    )
    import pyspark.sql.functions as F

    df, _ = emb
    q = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id < 3")
    scored = (
        _as_double(df)
        .crossJoin(F.broadcast(q.withColumn("q", F.col("q").cast("array<double>"))))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("q"), F.col("embedding")), 6).alias("sim"),
        )
    )
    single = _topk_per_query(scored, 5, salt_parts=1).collect()
    salted = _topk_per_query(scored, 5, salt_parts=8).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(single, key=key) == sorted(salted, key=key)
    # createDataFrame input (LogicalRDD, no stats) → gate reports huge,
    # i.e. errs toward the scale-safe salted plan
    assert _max_leaf_bytes(scored) >= 256 << 20
    # parquet-backed input (written to tmp_path so the gate sees real
    # file-scan stats): accurate small size → single-phase plan
    df.write.mode("overwrite").parquet(str(tmp_path / "emb.parquet"))
    pq = df.sparkSession.read.parquet(str(tmp_path / "emb.parquet"))
    pq_scored = (
        _as_double(pq)
        .crossJoin(F.broadcast(q.withColumn("q", F.col("q").cast("array<double>"))))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("q"), F.col("embedding")), 6).alias("sim"),
        )
    )
    # the gate runs on the CORPUS side (gate_df), whose file-backed
    # stats are accurate and small → single-phase plan; the scored
    # join itself still carries the unsized broadcast query leaf
    assert _max_leaf_bytes(pq) < 256 << 20
    plan = (
        _topk_per_query(pq_scored, 5, gate_df=pq)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "__salt" not in plan
    # public API, all-file-backed: small corpus stays single-phase
    plan_pub = (
        brute_force_topk(pq, pq.selectExpr(
            "vec_id as query_id", "embedding as q").limit(3), k=5)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "__salt" not in plan_pub
    # the round-4 ADVICE hazard: an UNSIZED corpus (cache /
    # createDataFrame) joined to a small file-backed side must still
    # read huge — any unknown-stat leaf is treated as corpus-scale,
    # never masked by a sized sibling leaf
    mixed = _as_double(df).crossJoin(F.broadcast(pq.selectExpr(
        "vec_id as query_id", "cast(embedding as array<double>) as q"
    ).limit(3)))
    assert _max_leaf_bytes(mixed) >= 256 << 20
    # and the public API gates on the CORPUS side, so the small
    # file-backed query table cannot flip a big corpus to single-phase:
    # with an unsized corpus the salted plan must appear
    plan_mixed = (
        brute_force_topk(df, pq.selectExpr(
            "vec_id as query_id", "embedding as q").limit(3), k=5)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "__salt" in plan_mixed


def test_brute_force_finds_planted_near_dup(emb):
    df, _ = emb
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id = 0")
    top1 = brute_force_topk(df, queries, k=1).collect()[0]
    assert top1["neighbor_id"] == 25
    assert top1["sim"] > 0.99


def test_ivf_assign_covers_all(emb):
    df, _ = emb
    centroids = df.where("vec_id < 4").selectExpr("vec_id as cell_id", "embedding as c")
    assigned = ivf_assign(df, centroids)
    assert assigned.count() == 40
    cells = {r["cell"] for r in assigned.collect()}
    assert cells <= {0, 1, 2, 3}
    # a centroid must live in its own cell
    own = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for c in range(4):
        assert own[c] == c


def test_ivf_topk_subset_of_cell(emb):
    df, _ = emb
    centroids = df.where("vec_id < 4").selectExpr("vec_id as cell_id", "embedding as c")
    queries = df.selectExpr("vec_id as query_id").where("vec_id = 0")
    out = sorted(ivf_topk(df, centroids, queries, k=5).collect(), key=lambda r: r["rank"])
    assert 0 < len(out) <= 5
    assigned = {r["vec_id"]: r["cell"] for r in ivf_assign(df, centroids).collect()}
    qcell = assigned[0]
    for r in out:
        assert assigned[r["neighbor_id"]] == qcell
        assert r["neighbor_id"] != 0
    # the planted near-dup lands in the same cell and must be rank 1
    assert out[0]["neighbor_id"] == 25


def test_embedding_near_dupes(emb):
    df, _ = emb
    centroids = df.where("vec_id < 4").selectExpr("vec_id as cell_id", "embedding as c")
    pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in embedding_near_dupes(df, centroids, 0.95).collect()}
    assert (0, 25) in pairs
    assert pairs[(0, 25)] > 0.99


def test_embedding_near_dupes_cell_cap(emb):
    """A mega-cell must be excluded from pairing: with the cap below
    the planted pair's cell size the pair disappears; with no cap (or a
    generous one) it is found. Bounds the quadratic blowup a skewed
    embedding space would otherwise re-create."""
    df, _ = emb
    centroids = df.where("vec_id < 4").selectExpr("vec_id as cell_id", "embedding as c")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dupes(df, centroids, 0.95, max_cell_size=None).collect()
    }
    assert (0, 25) in uncapped
    # every cell holds ~10 of the 40 vectors; cap=2 drops them all
    capped = embedding_near_dupes(df, centroids, 0.95, max_cell_size=2).collect()
    assert capped == []


def test_ivf_train_sampled_init(emb):
    """Init must work (and stay deterministic) when the farthest-first
    seeds come from a hash-sample smaller than the corpus — the 100 TB
    path where the trainer never scans the full corpus during init."""
    from mapreduce_assignments_spark.operators.similarity import ivf_train

    df, _ = emb
    a = sorted(map(tuple, ivf_train(df, k=3, n_iter=2, init_sample_size=10).collect()))
    b = sorted(map(tuple, ivf_train(df, k=3, n_iter=2, init_sample_size=10).collect()))
    assert a == b
    assert 1 <= len(a) <= 3
    assert all(len(c) == 8 for _, c in a)


def test_ivf_train_end_to_end_recall(emb):
    from mapreduce_assignments_spark.operators.similarity import ivf_train

    df, _ = emb
    centroids = ivf_train(df, k=4, n_iter=3)
    got = centroids.collect()
    assert 1 <= len(got) <= 4
    assert all(len(r["c"]) == 8 for r in got)
    # recall of nprobe=1 IVF vs brute force over all 40 queries
    queries = df.selectExpr("vec_id as query_id", "embedding as q")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, centroids, df.selectExpr("vec_id as query_id"), k=3).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.5


def test_ivf_train_deterministic(emb):
    from mapreduce_assignments_spark.operators.similarity import ivf_train

    df, _ = emb
    a = sorted(map(tuple, ivf_train(df, k=3, n_iter=2).collect()))
    b = sorted(map(tuple, ivf_train(df, k=3, n_iter=2).collect()))
    assert a == b


def test_ivf_nprobe_expands_candidate_cells(emb):
    from mapreduce_assignments_spark.operators.similarity import ivf_train

    df, _ = emb
    centroids = ivf_train(df, k=4, n_iter=2)
    qids = df.selectExpr("vec_id as query_id").where("vec_id < 10")
    r1 = ivf_topk(df, centroids, qids, k=5, nprobe=1).count()
    r2 = ivf_topk(df, centroids, qids, k=5, nprobe=2).count()
    assert r2 >= r1
    with pytest.raises(ValueError):
        ivf_topk(df, centroids, qids, k=5, nprobe=0)


def test_ivf_recall_high_on_clustered_data(spark):
    """On data with real cluster structure (unlike the isotropic
    testdata embeddings, where within-label cosine is ~0.002 and no
    ANN partitioning can beat scanned-fraction recall), trained IVF at
    nprobe=1 must recover >=0.8 of the true top-k."""
    from mapreduce_assignments_spark.operators.similarity import ivf_train

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16)) * 5.0
    vecs = np.vstack([
        centers[c] + rng.normal(size=(50, 16)) * 0.3 for c in range(4)
    ]).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = ivf_train(df, k=4, n_iter=3)
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id % 10 = 0")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=10).collect()
    }
    qids = df.selectExpr("vec_id as query_id").where("vec_id % 10 = 0")
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, centroids, qids, k=10, nprobe=1).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.8


def test_lsh_planted_duplicate_always_found(emb):
    """An identical vector shares every sign bit, so it collides in all
    bands and MUST surface as the top-1 regardless of hash luck."""
    from mapreduce_assignments_spark.operators.similarity import lsh_topk

    df, vecs = emb
    dup = df.where("vec_id = 7").selectExpr("9999L as vec_id", "embedding", "label")
    corpus = df.unionByName(dup)
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id = 7")
    out = lsh_topk(corpus, queries, k=3, dim=8).collect()
    assert out[0]["neighbor_id"] == 9999
    assert out[0]["sim"] == 1.0


def test_lsh_exact_on_candidates_and_pruning(emb):
    """Every returned pair carries the TRUE cosine (approximation only
    loses pairs, never mis-scores them), and banding actually prunes:
    the scored candidate set is smaller than queries x corpus."""
    from mapreduce_assignments_spark.operators.similarity import (
        lsh_buckets,
        lsh_topk,
    )

    df, vecs = emb
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id < 3")
    out = lsh_topk(df, queries, k=40, dim=8).collect()

    def true_sim(qid, nid):
        q, v = vecs[qid].astype("float64"), vecs[nid].astype("float64")
        return round(float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v))), 6)

    assert out, "LSH returned nothing"
    for r in out:
        assert r["sim"] == pytest.approx(true_sim(r["query_id"], r["neighbor_id"]), abs=1e-9)
    # pruning: with k=40 >= corpus size the result IS the candidate set;
    # it must be strictly smaller than the 3 x 39 brute-force pair count
    assert len(out) < 3 * 39

    # bucket table shape: one row per (vector, band)
    b = lsh_buckets(df, "vec_id", "embedding", dim=8)
    assert b.count() == 40 * 4
    assert b.select("band").distinct().count() == 4


def test_lsh_deterministic(emb):
    from mapreduce_assignments_spark.operators.similarity import lsh_topk

    df, _ = emb
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id < 2")
    a = sorted(map(tuple, lsh_topk(df, queries, k=5, dim=8).collect()))
    b = sorted(map(tuple, lsh_topk(df, queries, k=5, dim=8).collect()))
    assert a == b


def test_quantize_embeddings_roundtrip_and_edges(emb):
    from mapreduce_assignments_spark.operators.similarity import quantize_embeddings
    import numpy as np

    df, vecs = emb
    out = quantize_embeddings(df).collect()
    assert len(out) == len(vecs)
    codes = {r["vec_id"]: r["codes"] for r in out}
    norms = {r["vec_id"]: r["norm"] for r in out}
    mn, mx = vecs.min(axis=0).astype("float64"), vecs.max(axis=0).astype("float64")
    for vid, cs in codes.items():
        assert all(-128 <= c <= 127 for c in cs)
        # dequantized value within half a quantization step of the original
        v = vecs[vid].astype("float64")
        deq = mn + (np.array(cs, dtype="float64") + 128) / 255.0 * (mx - mn)
        step = (mx - mn) / 255.0
        assert np.all(np.abs(deq - v) <= step / 2 + 1e-9)
        assert norms[vid] == pytest.approx(float(np.linalg.norm(v)), rel=1e-9)
    # determinism
    again = {r["vec_id"]: r["codes"] for r in quantize_embeddings(df).collect()}
    assert again == codes
    # constant dimension quantizes to 0 everywhere
    spark = df.sparkSession
    const = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    cc = {r["vec_id"]: r["codes"] for r in quantize_embeddings(const).collect()}
    assert cc[0][0] == 0 and cc[1][0] == 0      # dim 0 is constant
    assert cc[0][1] == -128 and cc[1][1] == 127  # dim 1 spans the range


def test_ivf_index_partition_pruned_probe(emb, tmp_path):
    """The materialized cell-partitioned index returns exactly what
    the in-flight ivf_topk computes, and its parquet scan carries a
    partition filter on cell — i.e. a probe READS only the probed
    directories, the 100 TB story made concrete."""
    from mapreduce_assignments_spark.operators.similarity import (
        write_ivf_index,
        probe_ivf_index,
    )

    df, _ = emb
    spark = df.sparkSession
    centroids = df.where("vec_id < 4").selectExpr("vec_id as cell_id", "embedding as c")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(df, centroids, path)
    queries = df.selectExpr("vec_id as query_id", "embedding as q").where("vec_id = 0")
    probed = probe_ivf_index(spark, path, queries, centroids, k=5)
    flight = ivf_topk(df, centroids, df.selectExpr("vec_id as query_id").where("vec_id = 0"), k=5)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, flight.collect())
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), f"no partition filter in scan:\n{plan[:2000]}"


def test_ann_recall_hand_computed(spark):
    from mapreduce_assignments_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # query 1 recovered 3 of 4; query 2 recovered 0 of 2 (only a
        # spurious neighbor the exact set never had)
        [(1, 10), (1, 11), (1, 13), (1, 99), (2, 98)],
        "query_id long, neighbor_id long",
    )
    got = {r["query_id"]: r["recall_at_k"] for r in ann_recall(exact, approx).collect()}
    assert got == {1: 0.75, 2: 0.0}


def test_centroid_confusion_separable_classes(spark):
    """Two well-separated classes: the confusion matrix is purely
    diagonal; one planted cross-class vector lands off-diagonal."""
    from mapreduce_assignments_spark.operators.similarity import (
        centroid_confusion,
    )

    rows = (
        [(i, [1.0, 0.0, 0.1 * (i % 2)], 0) for i in range(4)]
        + [(10 + i, [0.0, 1.0, 0.1 * (i % 2)], 1) for i in range(4)]
        + [(99, [0.0, 1.0, 0.0], 0)]  # labeled 0, sits in class 1 space
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label"], r["predicted"]): r["n"]
        for r in centroid_confusion(df).collect()
    }
    assert got[(1, 1)] == 4 and got[(0, 1)] == 1
    assert got[(0, 0)] == 4


def test_random_projection_matches_numpy_replica(spark):
    """The operator's LCG-derived sparse sign matrix and fold agree
    with a direct NumPy replay on random vectors."""
    from mapreduce_assignments_spark.operators.similarity import (
        _RP_A,
        _RP_C,
        _RP_M,
        random_projection,
    )

    rng = np.random.default_rng(3)
    in_dim, out_dim = 16, 4
    vecs = rng.normal(size=(20, in_dim)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def r(i, j):
        h = (((_RP_A * (i * out_dim + j) + _RP_C) % _RP_M) >> 16) % 6
        return 1.0 if h == 0 else (-1.0 if h == 1 else 0.0)

    R = np.array([[r(i, j) for j in range(out_dim)] for i in range(in_dim)])
    expected = vecs.astype("float64") @ R * (3.0 / out_dim) ** 0.5

    got = {
        (row["vec_id"], row["dim"]): row["value"]
        for row in random_projection(df, in_dim=in_dim, out_dim=out_dim).collect()
    }
    assert len(got) == 20 * out_dim
    for vid in range(20):
        for j in range(out_dim):
            assert got[(vid, j)] == pytest.approx(expected[vid, j], abs=1e-6)
    # the sparse matrix actually contains all three entry values
    vals = set(R.flatten().tolist())
    assert vals == {-1.0, 0.0, 1.0}


def test_random_projection_preserves_distances_loosely(spark):
    """JL sanity on the real shape (64 -> 8): squared distances are
    preserved in expectation — check the MEDIAN ratio lands within a
    generous band rather than any single pair."""
    from mapreduce_assignments_spark.operators.similarity import random_projection

    rng = np.random.default_rng(9)
    n, in_dim, out_dim = 60, 64, 8
    vecs = rng.normal(size=(n, in_dim)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = random_projection(df, in_dim=in_dim, out_dim=out_dim).collect()
    red = np.zeros((n, out_dim))
    for row in out:
        red[row["vec_id"], row["dim"]] = row["value"]
    ratios = []
    for a in range(0, 30):
        b = a + 30
        d_in = float(np.sum((vecs[a].astype("float64") - vecs[b]) ** 2))
        d_out = float(np.sum((red[a] - red[b]) ** 2))
        ratios.append(d_out / d_in)
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.5 < med < 2.0


def test_hard_negatives_picks_nearest_same_and_other_label(spark):
    from mapreduce_assignments_spark.operators.similarity import hard_negatives

    # anchor 0 (label 0): planted near-identical same-label 10 and a
    # slightly-rotated other-label 20; fillers are near-orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (10, [0.999, 0.01, 0.0, 0.0], 0),     # positive
        (11, [0.0, 1.0, 0.0, 0.0], 0),        # same label, far
        (20, [0.99, 0.1, 0.0, 0.0], 1),       # hard negative
        (21, [0.0, 0.0, 1.0, 0.0], 1),        # easy negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["anchor_id"]: r for r in hard_negatives(df, n_anchors=1).collect()}
    assert set(out) == {0}
    assert out[0]["pos_id"] == 10
    assert out[0]["neg_id"] == 20
    assert out[0]["pos_sim"] > out[0]["neg_sim"] > 0.9


def test_semantic_dedup_keeps_lowest_id(spark):
    from mapreduce_assignments_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # centroid/cell 0
            (1, [0.0, 1.0]),   # centroid/cell 1
            (10, [2.0, 0.01]), # cell 0, near-parallel to 20
            (20, [4.0, 0.02]), # duplicate of 10 (same direction) -> dropped
            (30, [0.0, 5.0]),  # alone-ish in cell 1 with vec 1
        ],
        "vec_id long, embedding array<double>",
    )
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell_id long, c array<double>"
    )
    rows = {r["cell"]: r for r in semantic_dedup(emb, cen, threshold=0.999).collect()}
    # cell 0 holds vecs {0,10,20}; 10 and 20 are parallel and 0 is close
    # to both, so 10 and 20 both have a lower-id near-dupe
    assert rows[0]["n_vecs"] == 3 and rows[0]["n_dropped"] == 2 and rows[0]["n_kept"] == 1
    assert rows[1]["n_vecs"] == 2 and rows[1]["n_dropped"] == 1


def test_knn_label_accuracy_counts(spark):
    from mapreduce_assignments_spark.operators.similarity import knn_label_accuracy

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "x"),   # NN is 2 (x) -> correct
            (1, [0.0, 1.0], "y"),   # NN is 3 (x) -> wrong
            (2, [1.0, 0.1], "x"),
            (3, [0.1, 1.0], "x"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    rows = {r["label"]: r for r in knn_label_accuracy(emb, n_queries=2).collect()}
    assert rows["x"]["n_queries"] == 1 and rows["x"]["n_correct"] == 1
    assert rows["x"]["accuracy"] == 1.0
    assert rows["y"]["n_queries"] == 1 and rows["y"]["n_correct"] == 0


def test_embedding_covariance_hand_checked(spark):
    from mapreduce_assignments_spark.operators.similarity import embedding_covariance

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(emb).collect()}
    # means: (2, 1); E[x0^2]=5 -> var0=1; E[x0 x1]=3 -> cov=1; E[x1^2]=2 -> var1=1
    assert rows == {(0, 0): 1.0, (0, 1): 1.0, (1, 0): 1.0, (1, 1): 1.0}


def test_embedding_covariance_quantized_matches_exact_float(spark):
    """Round-10 determinism pin (r9 driver flake): the fixed-point
    2^-20 summand quantization must not MOVE the answer — every cell
    of the quantized covariance stays within ~1e-6 of the exact
    float covariance numpy computes from the same vectors at the
    driver's own sf0.01."""
    import numpy as np

    from mapreduce_assignments_spark.operators.similarity import (
        embedding_covariance,
    )
    from mapreduce_assignments_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    exact = (x.T @ x) / len(x) - np.outer(x.mean(axis=0), x.mean(axis=0))
    got = embedding_covariance(emb).collect()
    assert len(got) == x.shape[1] ** 2
    worst = max(abs(r["cov"] - exact[r["i"], r["j"]]) for r in got)
    # quantization (<=2^-20 per term, one-sided floor) + 6-dp output
    # rounding: bounded by ~1.5 grid steps of 1e-6 each
    assert worst <= 2.5e-6, f"quantized covariance drifted: {worst}"


def test_quantization_error_perfect_on_two_point_grid(spark):
    """With exactly two distinct values per dimension the int8 grid
    hits both endpoints exactly -> cosine fidelity 1.0."""
    from mapreduce_assignments_spark.operators.similarity import quantization_error

    emb = spark.createDataFrame(
        [(0, [0.0, 1.0], "a"), (1, [2.0, 3.0], "a")],
        "vec_id long, embedding array<double>, label string",
    )
    [r] = quantization_error(emb).collect()
    assert r["label"] == "a" and r["n_vecs"] == 2
    assert r["mean_cos"] == 1.0 and r["min_cos"] == 1.0


def test_margin_mined_pairs_suppresses_hubs(spark):
    """The ratio margin keeps a query whose best neighbor stands out
    from its other candidates and drops a 'hub' query whose top-k sims
    are all near-equal, even when the hub's absolute best sim is
    HIGHER — the property an absolute cutoff cannot express."""
    from mapreduce_assignments_spark.operators.similarity import (
        margin_mined_pairs,
    )

    topk = spark.createDataFrame(
        # query 1: one clear translation (0.8 vs 0.4-ish tail)
        [(1, 11, 1, 0.80), (1, 12, 2, 0.42), (1, 13, 3, 0.40), (1, 14, 4, 0.38),
         # query 2: hub — higher absolute sim but a flat profile
         (2, 21, 1, 0.90), (2, 22, 2, 0.89), (2, 23, 3, 0.88), (2, 24, 4, 0.87)],
        "query_id long, neighbor_id long, rank int, sim double",
    )
    got = {r["query_id"]: r for r in margin_mined_pairs(topk, 1.2).collect()}
    assert set(got) == {1}
    assert got[1]["neighbor_id"] == 11
    assert got[1]["margin"] == round(0.80 / ((0.80 + 0.42 + 0.40 + 0.38) / 4), 6)


def test_semantic_decontamination_best_match_and_threshold(spark):
    """Each flagged corpus vector reports its single best eval match
    (ties to the lowest eval_id); sub-threshold vectors emit nothing."""
    from mapreduce_assignments_spark.operators.dedup import (
        semantic_decontamination,
    )

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        # eval 1 and 2 both match vec 10 exactly -> tie broken to 1
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.1, 1.0])],
        "eval_id long, c array<double>",
    )
    rows = {r["vec_id"]: r for r in
            semantic_decontamination(corpus, ev, threshold=0.9).collect()}
    assert set(rows) == {10, 11}          # vec 12 is anti-parallel: no flag
    assert rows[10]["eval_id"] == 1 and rows[10]["sim"] == 1.0
    assert rows[11]["eval_id"] == 3      # best match, not just any >= 0.9


def test_ensure_min_parallelism_guard(spark):
    """The narrow-map parallelism guard (round-7 VERDICT item 4):
    a one-partition input is split to defaultParallelism partitions;
    an already-parallel input passes through without a repartition,
    and values are untouched either way."""
    from mapreduce_assignments_spark.sources.tables import (
        ensure_min_parallelism,
    )

    target = spark.sparkContext.defaultParallelism
    threshold = max(2, target // 2)
    base = spark.range(1000).coalesce(1)
    guarded = ensure_min_parallelism(base)
    assert guarded.rdd.getNumPartitions() == target
    assert guarded.count() == 1000 and guarded.agg({"id": "sum"}).first()[0] == 499500

    # exchange-free frames are probed: at the threshold they pass
    # through, one partition below it they are split
    wide = spark.range(0, 1000, 1, numPartitions=threshold)
    passthrough = ensure_min_parallelism(wide)
    assert passthrough is wide  # no plan change at all
    narrow = spark.range(0, 1000, 1, numPartitions=threshold - 1)
    assert ensure_min_parallelism(narrow).rdd.getNumPartitions() == target

    # a frame with an exchange is AQE's to size, whatever its count
    shuffled = spark.range(1000).repartition(1)
    assert ensure_min_parallelism(shuffled) is shuffled


def test_random_projection_single_file_input_parallelizes(spark):
    """random_projection applies the guard itself: its plan over a
    coalesced single-partition input still runs on >1 task."""
    from mapreduce_assignments_spark.operators.similarity import (
        random_projection,
    )

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    out = random_projection(emb, in_dim=8, out_dim=2)
    assert out.rdd.getNumPartitions() > 1
    assert out.count() == 100


# ---------------------------------------------------------------------------
# product quantization (pq_train / pq_codes / pq_adc_topk)


def test_pq_train_shapes_and_determinism(emb):
    from mapreduce_assignments_spark.operators.similarity import pq_train

    df, _ = emb
    cb1 = pq_train(df, m=2, k=4, n_iter=2).collect()
    cb2 = pq_train(df, m=2, k=4, n_iter=2).collect()
    assert sorted((r.subspace, r.code, tuple(r.c)) for r in cb1) == sorted(
        (r.subspace, r.code, tuple(r.c)) for r in cb2
    )
    subs = {r.subspace for r in cb1}
    assert subs == {0, 1}
    for r in cb1:
        assert len(r.c) == 4  # dim 8 / m 2
        assert 0 <= r.code < 4


def test_pq_train_validates_and_empty(spark, emb):
    import pytest as _pytest

    from mapreduce_assignments_spark.operators.similarity import pq_train

    df, _ = emb
    with _pytest.raises(ValueError):
        pq_train(df, m=0)
    with _pytest.raises(ValueError):
        pq_train(df, m=3)  # dim 8 not divisible
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert pq_train(empty, m=2, k=4).count() == 0


def test_pq_codes_match_numpy_assignment(emb):
    """Every vector's code per subspace = argmin rounded squared-L2
    to the trained codewords (ties to lowest code), replicated in
    NumPy from the returned codebooks."""
    from mapreduce_assignments_spark.operators.similarity import pq_codes, pq_train

    df, vecs = emb
    cbdf = pq_train(df, m=2, k=4, n_iter=2)
    cb = {}
    for r in cbdf.collect():
        cb.setdefault(r.subspace, {})[r.code] = np.array(r.c)
    got = {
        (r.vec_id, r.subspace): r.code for r in pq_codes(df, cbdf).collect()
    }
    assert len(got) == 40 * 2
    for i in range(40):
        v = vecs[i].astype("float64")
        for j in (0, 1):
            sv = v[j * 4 : (j + 1) * 4]
            best = min(
                (round(float(((c - sv) ** 2).sum()), 6), code)
                for code, c in sorted(cb[j].items())
            )[1]
            # decomposition order differs from numpy's; allow exact or
            # distance-tied codes only
            chosen = got[(i, j)]
            d_chosen = round(float(((cb[j][chosen] - sv) ** 2).sum()), 6)
            d_best = round(float(((cb[j][best] - sv) ** 2).sum()), 6)
            assert d_chosen == d_best


def test_pq_adc_topk_orders_by_true_quantized_distance(emb):
    """ADC rank order must equal the NumPy replay of the quantized
    LUT sums: dist(q, x) = sum_j floor(l2(q_j, c[code_j]) * 2^20)."""
    from mapreduce_assignments_spark.operators.similarity import (
        _PQ_ADC_SCALE,
        pq_adc_topk,
        pq_codes,
        pq_train,
    )

    df, vecs = emb
    cbdf = pq_train(df, m=2, k=4, n_iter=2)
    cb = {}
    for r in cbdf.collect():
        cb.setdefault(r.subspace, {})[r.code] = np.array(r.c)
    codes = {(r.vec_id, r.subspace): r.code for r in pq_codes(df, cbdf).collect()}
    out = pq_adc_topk(df, cbdf, n_queries=2, topk=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for qid, rows in by_q.items():
        q = vecs[qid].astype("float64")
        expect = []
        for i in range(40):
            if i == qid:
                continue
            s = 0
            for j in (0, 1):
                qj = q[j * 4 : (j + 1) * 4]
                c = cb[j][codes[(i, j)]]
                d2 = float(c @ c) - 2 * float(c @ qj) + float(qj @ qj)
                s += int(np.floor(d2 * _PQ_ADC_SCALE))
            expect.append((s, i))
        expect.sort()
        got = [(r.rank, r.neighbor_id) for r in sorted(rows, key=lambda r: r.rank)]
        want = [(rk + 1, i) for rk, (_, i) in enumerate(expect[:5])]
        assert got == want
        for r in rows:
            assert r.adc_dist >= 0.0


def test_pq_adc_near_dup_is_top1(emb):
    """The planted near-duplicate of vector 0 must be ADC rank 1 for
    query 0 — compression cannot hide an almost-identical vector."""
    from mapreduce_assignments_spark.operators.similarity import pq_adc_topk, pq_train

    df, _ = emb
    cbdf = pq_train(df, m=2, k=8, n_iter=2)
    top = (
        pq_adc_topk(df, cbdf, n_queries=1, topk=3)
        .where("query_id = 0 AND rank = 1")
        .collect()
    )
    assert top and top[0].neighbor_id == 25


def test_ivf_silhouette_separated_vs_arbitrary(spark):
    """Two tight, well-separated clusters with their true centroids →
    mean silhouette near 1 in both cells; the same points under two
    nearly-identical centroids → silhouette collapses toward 0.
    Cell membership must agree with ivf_assign."""
    from mapreduce_assignments_spark.operators.similarity import (
        ivf_assign,
        ivf_silhouette,
    )

    base_a = np.array([10.0, 0.0, 0.0, 0.0])
    base_b = np.array([0.0, 10.0, 0.0, 0.0])
    rows = []
    for i in range(6):
        jitter = np.array([0.01 * i, 0.0, 0.01, 0.0])
        rows.append((i, [float(x) for x in base_a + jitter]))
        rows.append((100 + i, [float(x) for x in base_b + jitter]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cen = spark.createDataFrame(
        [(0, [float(x) for x in base_a]), (1, [float(x) for x in base_b])],
        "cell_id int, c array<double>",
    )
    out = {r.cell: r for r in ivf_silhouette(df, cen).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_vecs == 6 and out[1].n_vecs == 6
    assert out[0].mean_silhouette > 0.9 and out[1].mean_silhouette > 0.9
    # membership parity with ivf_assign
    asg = {r.vec_id: r.cell for r in ivf_assign(df, cen).collect()}
    assert all(asg[i] == 0 for i in range(6))
    assert all(asg[100 + i] == 1 for i in range(6))
    # two near-identical centroids -> the partition is arbitrary
    cen2 = spark.createDataFrame(
        [(0, [1.0, 1.0, 0.0, 0.0]), (1, [1.0, 1.0001, 0.0, 0.0])],
        "cell_id int, c array<double>",
    )
    out2 = ivf_silhouette(df, cen2).collect()
    for r in out2:
        assert abs(r.mean_silhouette) < 0.2


def test_ivf_silhouette_needs_two_centroids(spark, emb):
    from mapreduce_assignments_spark.operators.similarity import ivf_silhouette

    df, _ = emb
    one = spark.createDataFrame([(0, [1.0] * 8)], "cell_id int, c array<double>")
    assert ivf_silhouette(df, one).count() == 0


def test_matryoshka_recall_hand_checked(spark):
    """Prefix-dim retrieval where the 2-dim prefix ranking provably
    disagrees with the full 4-dim ranking: the query's true nearest
    neighbor hides its similarity in the TAIL dims, so recall@2 at
    dim 2 is 1/2 while dim 4 (trivially) would be 1."""
    from mapreduce_assignments_spark.operators.similarity import matryoshka_recall

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # the query
        (1, [1.0, 0.0, 0.0, 0.0]),          # identical -> full rank 1
        (2, [0.9, 0.1, 2.0, 0.0]),          # prefix-close, tail-far
        (3, [0.8, 0.2, 3.0, 3.0]),          # prefix-ok, tail-far
        (4, [0.0, 1.0, 0.0, 0.0]),          # orthogonal everywhere
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0").selectExpr("vec_id AS query_id", "embedding AS q")
    out = {
        r["dim"]: r
        for r in matryoshka_recall(emb, q, dims=(2,), k=2).collect()
    }
    # full-dim top-2 = {1, 2-vs-3-vs-4 by cosine}: 1 (1.0), then 2
    # (cos = .9/|v|). prefix-2 top-2 = {1 (1.0), 2 (cos=0.993)} —
    # both prefix picks survive? compute: full sims: v2 full cos =
    # 0.9/sqrt(.81+.01+4)=0.41; v3 = .8/sqrt(.64+.04+18)=0.185; v4=0.
    # full top2 = {1, 2}. prefix2 sims: v2=.9/sqrt(.82)=0.994,
    # v3=.8/sqrt(.68)=0.970, v4=0 -> prefix top2={1,2}. hits=2.
    assert out[2]["n_queries"] == 1
    assert out[2]["hits"] == 2 and out[2]["recall"] == 1.0
    # now a prefix that is actively misleading: dims=(1,) ranks by
    # the first coordinate alone — v1 (1.0), v2 (1.0 after cosine
    # normalization: 1-dim cosine is sign(x)) ties everything with
    # x>0; ties break by id -> {1, 2}; still the full set. Use a
    # query whose tail dominates instead:
    rows2 = [
        (0, [0.1, 1.0, 0.0]),
        (1, [0.1, 1.0, 0.0]),    # true NN
        (2, [0.1, -1.0, 0.0]),   # prefix-identical, full-opposite
        (3, [-0.1, 0.9, 0.0]),   # prefix-opposite, full-close
        (4, [0.1, -0.9, 0.1]),   # prefix-identical, full-opposite
    ]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    q2 = emb2.where("vec_id = 0").selectExpr("vec_id AS query_id", "embedding AS q")
    [r] = matryoshka_recall(emb2, q2, dims=(1,), k=2).collect()
    # 1-dim cosine = sign agreement: vecs 1,2,4 tie at 1.0 (id-break
    # keeps 1,2), vec 3 at -1. full top-2 = {1, 3}. overlap = {1}.
    assert r["hits"] == 1 and r["recall"] == 0.5


def test_embedding_pca_recovers_dominant_direction(spark):
    """Rank-1 data (every vector a multiple of one direction u plus a
    constant mean shift): the first PC must align with u and explain
    ~all the variance."""
    import math

    from mapreduce_assignments_spark.operators.similarity import embedding_pca

    u = [3.0, 4.0, 0.0, 0.0]  # |u| = 5
    rows = [
        (i, [c * x + 1.0 for x in u])
        for i, c in enumerate([-2.0, -1.0, 0.0, 1.0, 2.0, 3.0])
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["i"]: r for r in embedding_pca(emb, n_iter=8).collect()}
    assert len(got) == 4
    # loadings proportional to u/|u| = (0.6, 0.8, 0, 0), sign either way
    s = 1.0 if got[0]["loading"] > 0 else -1.0
    assert abs(s * got[0]["loading"] - 0.6) < 1e-4
    assert abs(s * got[1]["loading"] - 0.8) < 1e-4
    assert abs(got[2]["loading"]) < 1e-4 and abs(got[3]["loading"]) < 1e-4
    # unit length (6-dp quantized) and rank-1 => explained ratio ~ 1
    nrm = math.sqrt(sum(r["loading"] ** 2 for r in got.values()))
    assert abs(nrm - 1.0) < 1e-4
    assert got[0]["explained_ratio"] > 0.999
    assert got[0]["eigenvalue"] > 0


def test_round6_away_matches_engine_rounding():
    """The driver-local quantizer must be the engines' rule —
    half-AWAY-from-zero (Spark F.round / DuckDB round), not Python's
    banker's rounding — and must normalize -0.0."""
    import duckdb

    from mapreduce_assignments_spark.operators.similarity import _round6_away

    cases = [0.0000005, -0.0000005, 1.9999995e-6, 0.1234565, -0.1234565, 1e-9, -1e-9]
    con = duckdb.connect()
    for x in cases:
        d = con.execute("SELECT round(?::DOUBLE, 6) + 0.0", [x]).fetchone()[0]
        p = _round6_away(x)
        assert p == d, (x, p, d)
    import math

    assert not math.copysign(1, _round6_away(-1e-9)) < 0  # +0.0, not -0.0


def test_mutual_knn_pairs_excludes_one_directional_hubs(spark):
    """k=1 with three clustered vectors and one hub-ish outlier: the
    tight pair is mutual; the outlier's one-directional nearest
    neighbor never reciprocates, so it pairs with nobody."""
    from mapreduce_assignments_spark.operators.similarity import mutual_knn_pairs

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # 0 and 1: each other's NN -> mutual
        (2, [0.7, 0.7, 0.1]),     # nearest to 1, but 1's NN is 0
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "cell_id long, c array<double>"
    )  # one cell: all vectors compete
    got = [
        (r["id_a"], r["id_b"], r["sim"])
        for r in mutual_knn_pairs(emb, cen, k=1).collect()
    ]
    assert [(a, b) for a, b, _ in got] == [(0, 1)]
    assert got[0][2] > 0.98
    # k=2 widens the lists enough for 1<->2 to become mutual as well
    got2 = sorted(
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(emb, cen, k=2).collect()
    )
    assert (0, 1) in got2 and (1, 2) in got2 and (0, 3) not in got2


def test_matryoshka_recall_zero_hit_dim_reports_zero(spark):
    """A prefix dim whose top-k shares NOTHING with the full-dim truth
    must still emit a row with recall=0.0 (the dims scaffold), not
    silently vanish from the curve (round-12 ADVICE item 1)."""
    from mapreduce_assignments_spark.operators.similarity import matryoshka_recall

    rows = [
        (0, [0.1, 1.0]),
        (1, [-0.1, 1.0]),   # full-dim NN, prefix-opposite sign
        (2, [0.1, -1.0]),   # prefix NN, full-dim-opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0").selectExpr("vec_id AS query_id", "embedding AS q")
    # dims=(1,) k=1: prefix top-1 = {2} (sign +1 beats -1), full
    # top-1 = {1} (cos .98 vs -.98) -> zero overlap
    [r] = matryoshka_recall(emb, q, dims=(1,), k=1).collect()
    assert (r["dim"], r["n_queries"], r["hits"], r["recall"]) == (1, 1, 0, 0.0)


def test_cosine_with_norms_bit_identical(spark):
    """Hoisting the self-norms out of the pair expression must not
    change a single bit: cosine_with_norms(a, b, sqrt(dot(a,a)),
    sqrt(dot(b,b))) performs the same operations in the same order as
    cosine_similarity(a, b) — only WHERE the self-dots evaluate moves
    (the quadratic-join fold-hoist of round 14)."""
    import pyspark.sql.functions as F
    from mapreduce_assignments_spark.operators.similarity import (
        _dot,
        cosine_similarity,
        cosine_with_norms,
    )

    rows = [
        (i, [((i * 31 + j * 17) % 97) / 9.7 - 5.0 for j in range(16)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = df.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = df.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).where(F.col("ia") < F.col("ib"))
    got = pairs.select(
        "ia", "ib",
        cosine_similarity(F.col("va"), F.col("vb")).alias("c0"),
        cosine_with_norms(
            F.col("va"), F.col("vb"),
            F.sqrt(_dot(F.col("va"), F.col("va"))),
            F.sqrt(_dot(F.col("vb"), F.col("vb"))),
        ).alias("c1"),
    ).collect()
    assert got and all(r["c0"] == r["c1"] for r in got)  # bitwise, no round


def test_cell_pair_sims_kernel_bit_identical_to_fold(spark):
    """r16 contract: the per-cell numpy pair kernel (_cell_pair_sims)
    must reproduce the historical interpreted fold BIT-FOR-BIT — the
    dot accumulates positions left-to-right, the self-norms are the
    accumulator's diagonal, and dot/(na*nb) is the same two IEEE ops.
    Pinned here against the VERBATIM r15 join+fold expression (both
    directions, since mutual_knn consumes the mirrored rows too)."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.similarity import (
        _cell_pair_sims,
        _dot,
        cosine_with_norms,
    )

    rows = [
        (i, [((i * 29 + j * 13) % 101) / 10.1 - 5.0 for j in range(16)],
         int(i % 3))
        for i in range(60)
    ]
    members = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    ).select("cell", "vec_id", "embedding")

    # the verbatim r15 shape: hoisted self-norms + one fold per pair
    m = members.select(
        "cell", "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("__n"),
    )
    a = m.select("cell", F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("ea"), F.col("__n").alias("na"))
    b = m.select("cell", F.col("vec_id").alias("id_b"),
                 F.col("embedding").alias("eb"), F.col("__n").alias("nb"))
    fold = {
        (r["id_a"], r["id_b"]): float(r["sim"]).hex()
        for r in a.join(b, "cell")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a", "id_b",
            cosine_with_norms(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .collect()
    }
    kernel = {
        (r["id_a"], r["id_b"]): float(r["sim_raw"]).hex()
        for r in _cell_pair_sims(members, directed=True).collect()
    }
    assert kernel == fold and len(kernel) > 0
