"""The benchmark's workloads: which registered queries each one times,
and why that mix.

Every name is a key of ``workloads.ALL_QUERIES`` with an entry in
``workloads.ORACLE``; the run checks both before it starts.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # execute-heavy: text, index and dedup expressions plus TPC-H scans
    # and shuffles, so most of a pass runs jobs and task CPU sits in the
    # expressions and the scan/shuffle path (README.md, measured traffic)
    "text_relational": (
        # paper assignments 1-3: word count, PMI, inverted index
        "word_count",
        "pmi",
        "inverted_index_stats",
        # filter-and-verify near-duplicate detection (minhash LSH
        # candidates, then exact Jaccard) and document fingerprints
        "verified_near_dupes",
        "doc_fingerprint",
        # assignment 6 and the TPC-H shapes: scan, join, aggregate
        "pricing_summary",
        "revenue_by_nation",
        "hourly_counts",
    ),
    # driver-bound: eager graph loops and streaming micro-batches, so
    # construct time and per-job overhead dominate while most slots sit
    # idle
    "graph_streaming": (
        # paper assignment 4 shape: one eager BFS loop per source
        "harmonic_centrality",
        # one micro-batch per file, each rewriting a parquet snapshot
        "streaming_snapshot_sink",
        # the sources read path: a schema-enforced JSONL read (the JSONL
        # itself is written once, in set-up)
        "jsonl_roundtrip",
    ),
}

# Registered queries no workload may time, with the reason.
EXCLUDED: dict[str, str] = {
    "streaming_quality_gate": (
        "_STAGED_QUALITY_STREAM caches computed partials, so a timed call "
        "measures a cache read"
    ),
    "compact_small_files": (
        "_STAGED_COMPACT keeps the compacted copy of its first call, so a "
        "timed call only reads two cached files"
    ),
}

# Known open engine defects: queries that run in a workload's untimed
# oracle pass, after its own queries, and whose oracle outcome is
# reported on the line before the result instead of in ``failed``.
# Their time is not billed to set-up. When one matches on every seed,
# it moves into the workload's list.
OPEN_DEFECTS: dict[str, tuple[str, ...]] = {
    # misses its oracle at the sixth decimal on some seeds: half-way
    # cases of rounding to six decimals
    "text_relational": ("quality_score",),
}

assert not EXCLUDED.keys() & {q for qs in WORKLOADS.values() for q in qs}
assert OPEN_DEFECTS.keys() <= WORKLOADS.keys()
