"""Golden-output parity against the reference's OWN data and published
answers — the strongest end-to-end evidence of semantic parity.

Sources of truth:
- assignment1/assignment1.md:4-9   — word counts over
  bible+shakes.nopunc.gz: ''but=1, zorah=8, aaron=416.
- assignment2/assignment2.md:17-27 — PMI over the same corpus:
  107,511 pairs at threshold 10; max PMI 9.319931 shared by the
  (abednego, meshach, shadrach) trio; top-3 for "cloud" and "love".
- assignment4/assignment4.md:5-31  — personalized PageRank over
  sample-large.txt (1,458 nodes), sources 9470136 & 9300650,
  20 iterations: the full published top-10 per source at %.5f.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark.operators.graph import (
    format_rank_report,
    personalized_pagerank,
    top_k_per_source,
)
from mapreduce_assignments_spark.operators.text import pmi, tokens_array, word_count
from mapreduce_assignments_spark.sources.text_corpus import (
    read_adjacency_text,
    read_text_corpus,
)

BIBLE_SHAKES = "/root/reference/assignment2/bible+shakes.nopunc.gz"
SAMPLE_LARGE = "/root/reference/assignment4/sample-large.txt"
PMI_JOB1_OUT = "/root/reference/assignment2/bin/wc/part-r-00000"


def _reference_input(path: str) -> str:
    """Return ``path``, or FAIL (never skip) naming the missing input:
    these goldens are only evidence when they run, and a missing
    reference checkout must stay visible as a red test."""
    if not os.path.exists(path):
        pytest.fail(
            f"missing reference input {path}: the golden tests read the "
            "reference repository's own data, which is not present here "
            "— see ROADMAP.md 'Known red' (restore the data; do not skip)",
            pytrace=False,
        )
    return path

# assignment4/assignment4.md:7-17 and :21-31, verbatim.
GOLDEN_PPR = {
    9470136: [
        ("0.38857", 9470136), ("0.09418", 7992850), ("0.08586", 7891871),
        ("0.08063", 10208640), ("0.06603", 9427340), ("0.06603", 8747858),
        ("0.03546", 8702415), ("0.03183", 8669492), ("0.02246", 7970234),
        ("0.01693", 8846238),
    ],
    9300650: [
        ("0.44688", 9300650), ("0.09108", 10765057), ("0.08888", 9074395),
        ("0.07597", 9621997), ("0.07597", 8832646), ("0.07597", 10687744),
        ("0.01556", 10448801), ("0.01511", 9785148), ("0.01511", 8846237),
        ("0.01511", 11890488),
    ],
}


@pytest.fixture(scope="module")
def corpus(spark):
    return read_text_corpus(spark, _reference_input(BIBLE_SHAKES)).cache()


def test_word_count_goldens(corpus):
    assert corpus.count() == 156215
    wc = {
        r["word"]: r["cnt"]
        for r in word_count(corpus)
        .where(F.col("word").isin("aaron", "zorah", "''but"))
        .collect()
    }
    assert wc == {"aaron": 416, "zorah": 8, "''but": 1}


def test_pairs_pmi_job1_golden_file(corpus):
    """assignment2/bin/wc/part-r-00000 (163,362 rows) is PairsPMI
    job 1's committed output — the one reference artifact nothing
    replayed until round 3. Its pair semantics predate the
    ``Collections.sort`` at PairsPMI.java:71 (the committed code
    canonicalizes pairs; the committed OUTPUT does not): each line's
    DISTINCT words keep first-appearance order, ``(x, y)`` counts the
    docs where x first occurs before y first occurs, and ``(x, *)`` is
    x's doc frequency — established empirically ((a,aaron)=18 +
    (aaron,a)=46 = 64 docs containing both; lexical-canonical or
    adjacency semantics match neither split). Pairs carry the
    assignment's >=10 co-occurrence threshold (min committed count is
    exactly 10); marginals are unfiltered. FULL-file equality: every
    one of the 121,574 pair counts and 41,788 marginals must be
    reproduced exactly by the engine's primitives."""
    golden_pairs: dict[tuple[str, str], int] = {}
    golden_marg: dict[str, int] = {}
    with open(_reference_input(PMI_JOB1_OUT)) as fh:
        for line in fh:
            key, val = line.rstrip("\n").split("\t")
            w1, w2 = key[1:-1].split(", ", 1)
            if w2 == "*":
                golden_marg[w1] = int(float(val))
            else:
                golden_pairs[(w1, w2)] = int(float(val))
    assert len(golden_pairs) == 121574
    assert len(golden_marg) == 41788

    toks = corpus.select(
        "doc_id", F.posexplode(tokens_array("text")).alias("pos", "w")
    )
    first = toks.groupBy("doc_id", "w").agg(F.min("pos").alias("p"))
    a = first.select("doc_id", F.col("w").alias("w1"), F.col("p").alias("pa"))
    b = first.select("doc_id", F.col("w").alias("w2"), F.col("p").alias("pb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 10)
    )
    ours = {(r["w1"], r["w2"]): r["cnt"] for r in pairs.collect()}
    assert ours == golden_pairs
    marg = {
        r["w"]: r["df"]
        for r in first.groupBy("w").agg(F.count("*").alias("df")).collect()
    }
    assert marg == golden_marg


def test_pmi_goldens(corpus):
    p = pmi(corpus, min_cooccurrence=10).cache()
    # True semantic count (distinct-word pairs co-occurring in >=10
    # docs): 116,759. The reference publishes 107,511 because its job-2
    # re-parses job-1's TEXT output with split("-") (PairsPMI.java:258)
    # and Java renders floats < 1e-3 in scientific notation ("1.2E-4"),
    # so every pair with c(x,y)/c(x) < 0.001 is silently dropped — the
    # lossy text round-trip this engine's single-DAG formulation
    # avoids. We assert BOTH: our true count, and exact reproduction of
    # the published figure under the reference's survival condition.
    assert p.count() == 116759
    df = (
        corpus.select(F.explode(F.array_distinct(tokens_array("text"))).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("cx"))
    )
    survived = (
        p.join(df, "x").where((F.col("cnt") / F.col("cx")) >= 0.001).count()
    )
    assert survived == 107511
    top = p.orderBy(F.desc("pmi"), "x", "y").limit(3).collect()
    assert {(r["x"], r["y"]) for r in top} == {
        ("abednego", "meshach"),
        ("abednego", "shadrach"),
        ("meshach", "shadrach"),
    }
    for r in top:
        assert r["pmi"] == pytest.approx(9.319931, abs=1e-5)

    def top3(term):
        return [
            ((r["x"], r["y"]), round(r["pmi"], 6))
            for r in p.where((F.col("x") == term) | (F.col("y") == term))
            .orderBy(F.desc("pmi"))
            .limit(3)
            .collect()
        ]

    assert top3("cloud") == [
        (("cloud", "tabernacle"), pytest.approx(4.153025, abs=1e-5)),
        (("cloud", "glory"), pytest.approx(3.398875, abs=1e-5)),
        (("cloud", "fire"), pytest.approx(3.235472, abs=1e-5)),
    ]
    assert top3("love") == [
        (("hate", "love"), pytest.approx(2.575536, abs=1e-5)),
        (("hermia", "love"), pytest.approx(2.028992, abs=1e-5)),
        (("commandments", "love"), pytest.approx(1.939547, abs=1e-5)),
    ]
    p.unpersist()


def test_personalized_pagerank_golden_top10(spark):
    g = read_adjacency_text(spark, _reference_input(SAMPLE_LARGE))
    assert g.count() == 1458
    ranks = personalized_pagerank(
        g, sources=list(GOLDEN_PPR), n_iter=20
    )
    report = format_rank_report(top_k_per_source(ranks, k=10))
    got: dict[int, list] = {}
    for r in sorted(report.collect(), key=lambda r: (r["source"], r["rank"])):
        got.setdefault(r["source"], []).append((r["pr_fmt"], r["id"]))
    # Ties: nodes sharing a formatted mass may order differently than
    # the reference (it ranks by log-space FLOAT pr, we by linear
    # DOUBLE pr — differences below the 5th decimal). Two cases:
    # within-list ties (same 10 ids, swapped order) and boundary ties
    # (4 nodes share the rank-10 mass 0.01511; any 3 are a valid
    # top-10). So: exact formatted-mass sequence, exact (mass, id) set
    # above the boundary mass.
    for src, want in GOLDEN_PPR.items():
        assert [m for m, _ in got[src]] == [m for m, _ in want]
        boundary = want[-1][0]
        assert {(m, i) for m, i in got[src] if m != boundary} == {
            (m, i) for m, i in want if m != boundary
        }


def test_inverted_index_distinct_terms_and_size(corpus, tmp_path):
    """assignment1/assignment1.md:6 publishes 41,788 distinct terms;
    assignment3/assignment3.md:4 publishes a 6,553,277-byte compressed
    MapFile index. Our term-sorted zstd Parquet must have the same
    vocabulary and beat that hand-rolled d-gap+varint size."""
    import subprocess

    from mapreduce_assignments_spark.operators.index import (
        build_inverted_index,
        write_index,
    )

    idx = build_inverted_index(corpus)
    path = str(tmp_path / "bs_index.parquet")
    write_index(idx, path, num_partitions=4)
    spark = corpus.sparkSession
    back = spark.read.parquet(path)
    assert back.count() == 41788
    size = int(
        subprocess.run(["du", "-sb", path], capture_output=True, text=True)
        .stdout.split()[0]
    )
    assert size < 6_553_277


def test_boolean_retrieval_and_postings_goldens(spark):
    """assignment3 goldens (BooleanRetrievalCompressed.out /
    LookupPostingsCompressed.out): exact doc-id sets for the five
    canned boolean queries and exact postings/tf-histograms for
    starcross'd / gold / silver / bronze — using the byte-offset
    doc-id parity mode, so ids match the reference's printouts."""
    from mapreduce_assignments_spark.operators.index import (
        term_frequencies,
        tf_histogram,
    )
    from mapreduce_assignments_spark.plans.rpn import BooleanQueryPlanner

    corpus = read_text_corpus(spark, _reference_input(BIBLE_SHAKES), doc_id="offset")
    tfs = term_frequencies(corpus).cache()

    star = tfs.where(F.col("term") == "starcross'd").collect()
    assert [(r["docid"], r["tf"]) for r in star] == [(5047738, 1)]

    gold = tfs.where(F.col("term") == "gold")
    assert gold.count() == 584
    assert {r["tf"]: r["n_docs"] for r in tf_histogram(tfs, "gold").collect()} == {
        1: 523, 2: 58, 3: 3,
    }
    silver = tfs.where(F.col("term") == "silver")
    assert silver.count() == 354
    assert {r["tf"]: r["n_docs"] for r in tf_histogram(tfs, "silver").collect()} == {
        1: 314, 2: 39, 3: 1,
    }
    assert tfs.where(F.col("term") == "bronze").count() == 0

    planner = BooleanQueryPlanner(tfs)
    golden_queries = {
        "outrageous fortune AND": {4442172},
        "white rose AND": {
            7841087, 7841354, 7841879, 7841972, 7842315,
            7842458, 7845524, 8237199, 8275306, 9067070,
        },
        "means deceit AND": {6870153, 8135048},
        "white red OR rose AND pluck AND": {
            7841087, 7841229, 7841354, 7841396, 7842315,
        },
        "unhappy outrageous OR good your AND OR fortune AND": {
            4442172, 5167827, 7110114,
        },
    }
    for q, want in golden_queries.items():
        got = {r["docid"] for r in planner.plan(q).collect()}
        assert got == want, q
    tfs.unpersist()
