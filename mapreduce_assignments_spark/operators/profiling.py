"""Data-quality profiling (Deequ-style) for pipeline validation.

Training-data pipelines gate ingestion on column-level statistics:
completeness (non-null ratio), cardinality, and value bounds. This
module computes all of them for every requested column in ONE pass
over the data — a single wide aggregation, then a driver-free unpivot
of the one-row result into the long ``(column, metric...)`` shape
dashboards expect.

Scale: the only expensive piece is exact distinct counting — Spark
plans the multi-column ``count(DISTINCT ...)`` as one Expand (rows ×
n_cols) feeding a single partial-aggregated exchange. At 100 TB that
expand is the dominant cost, so ``exact=False`` swaps in
``approx_count_distinct`` (HLL++, no Expand, mergeable sketches) —
same one-pass shape, 2% relative error. The unpivot happens on a
one-row DataFrame, so it is free regardless of input size.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["profile_columns", "robust_outliers", "distribution_psi", "k_anonymity", "dp_noisy_counts", "corpus_card"]


def profile_columns(
    df: DataFrame, cols: Sequence[str], exact: bool = True
) -> DataFrame:
    """``(column, n_rows, non_null, n_distinct, min_value, max_value)``
    — one row per profiled column, min/max rendered as strings so
    heterogeneous column types share one schema.

    Pre-project any column whose string rendering is engine-specific
    (timestamps, raw doubles) into a canonical string/decimal form
    before profiling; the operator itself is type-agnostic.
    """
    distinct = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nn").alias("non_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.inline(rows))


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str = "event_id",
    z_cut: float = 3.5,
) -> DataFrame:
    """Median/MAD outlier scoring per group (the Iglewicz–Hoaglin
    modified z-score): ``robust_z = 0.6745·(x − median) / MAD``,
    flagged at ``|robust_z| ≥ z_cut``. Robust where mean/stddev
    scoring breaks — the outliers themselves cannot drag the baseline.
    Groups with MAD = 0 are unscorable (NULL z, never flagged).

    Scale: two grouped EXACT percentile aggregations (group-count-sized
    results, joined back; AQE broadcasts them) and narrow arithmetic —
    no window over raw rows, no sort. Median and MAD are rounded to
    6dp before scoring so the pipeline is engine-deterministic.
    """
    med = df.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("med")
    )
    dev = df.join(med, group_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.round(F.expr("percentile(_adev, 0.5)"), 6).alias("mad")
    )
    z = F.when(
        F.col("mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad"), 6
        ),
    )
    return (
        dev.join(mad, group_col)
        .withColumn("robust_z", z)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round(F.col(value_col), 6).alias(value_col),
            "med",
            "mad",
            "robust_z",
            (F.col("robust_z").isNotNull() & (F.abs(F.col("robust_z")) >= z_cut)).alias(
                "is_outlier"
            ),
        )
    )


def distribution_psi(
    df: DataFrame,
    value_col: str,
    segment_col: str,
    ref: str,
    cur: str,
) -> DataFrame:
    """Population-stability-index drift report between two segments'
    distributions of ``value_col`` (log2-bucketed by integer bit
    math, so bucket boundaries are engine-exact): one row
    ``(ref_rows, cur_rows, n_buckets_union, n_buckets_common, psi)``
    with ``psi = Σ (p_i - q_i)·ln(p_i/q_i)`` over buckets BOTH
    segments populate (the epsilon-free convention; the
    union-vs-common counts expose how much mass that skips). The
    standard ingestion-drift gate: psi < 0.1 stable, > 0.25 drifted.

    Engine parity: bucket proportions are exact integer ratios;
    per-bucket contributions round to 6 dp before the sum (the bm25
    discipline). Scale shape: one (segment, bucket) aggregation with
    map-side partials, then arithmetic over a bucket-count-sized
    frame — the totals broadcast back as a one-row crossJoin.
    """
    seg = F.col(segment_col)
    bucket = F.when(
        F.col(value_col) > 0, F.length(F.expr(f"bin({value_col})")) - 1
    ).otherwise(F.lit(-1))
    b = (
        df.where(seg.isin(ref, cur))
        .select(seg.alias("seg"), bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("seg") == ref, 1).otherwise(0)).alias("cnt_ref"),
            F.sum(F.when(F.col("seg") == cur, 1).otherwise(0)).alias("cnt_cur"),
        )
    )
    totals = b.agg(
        F.sum("cnt_ref").alias("ref_rows"), F.sum("cnt_cur").alias("cur_rows")
    )
    j = b.crossJoin(F.broadcast(totals))
    p = F.col("cnt_ref") / F.col("ref_rows")
    q = F.col("cnt_cur") / F.col("cur_rows")
    contrib = F.when(
        (F.col("cnt_ref") > 0) & (F.col("cnt_cur") > 0),
        F.round((p - q) * F.log(p / q), 6),
    )
    return j.agg(
        F.max("ref_rows").alias("ref_rows"),
        F.max("cur_rows").alias("cur_rows"),
        F.count("*").alias("n_buckets_union"),
        F.count(contrib).alias("n_buckets_common"),
        F.round(F.coalesce(F.sum(contrib), F.lit(0.0)), 6).alias("psi"),
    )


def k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    re-identification risk gate a dataset must pass before release:
    one row per equivalence class ``(<quasi_cols...>, class_size,
    violates)``, where ``violates`` marks classes smaller than ``k``
    (the dataset's k-anonymity is the minimum class size).

    Scale: a single partial-aggregated groupBy on the quasi-identifier
    tuple — output cardinality is the quasi-identifier domain, not the
    row count, so the result is dashboard-sized even at 100 TB. NULL
    quasi-values form their own class (Spark and SQL GROUP BY agree on
    NULL grouping), matching the release-gate convention that missing
    values are still a linkable signature.
    """
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count("*").alias("class_size"))
        .withColumn("violates", F.col("class_size") < F.lit(k))
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: str = "dp-v1",
) -> DataFrame:
    """Differentially-private group counts via the Laplace mechanism
    (Dwork, McSherry, Nissim & Smith, TCC'06 — public literature):
    release ``count + Lap(1/epsilon)`` per group. Each input row
    belongs to exactly one group, so the count query's L1 sensitivity
    is 1 and the per-group noise scale ``1/epsilon`` yields an
    epsilon-DP release.

    The noise is a DETERMINISTIC function of ``(seed, group)``: an
    md5-derived uniform in (0, 1) pushed through the Laplace inverse
    CDF. That keeps the release reproducible across reruns, engines,
    and the DuckDB oracle (an engine-RNG draw would hash-mismatch and,
    worse, silently re-randomize on retry — re-releasing fresh noise
    for the same query burns privacy budget). Rotating ``seed`` is the
    explicit, budget-accounted way to draw again.

    Returns ``(group_col, noisy_count)``. Scale shape: ONE
    partial-aggregated exchange (the groupBy count); the noise is a
    narrow map over the group-cardinality result.
    """
    from ..functions.hashing import h60

    b = 1.0 / epsilon
    u = (
        h60(F.concat(F.lit(seed), F.col(group_col).cast("string"))) + 1
    ) / F.lit(float(2**60 + 2))
    c = u - F.lit(0.5)
    noise = F.lit(-b) * F.signum(c) * F.log(F.lit(1.0) - 2 * F.abs(c))
    return (
        df.groupBy(group_col)
        .agg(F.count("*").alias("n"))
        .select(
            group_col,
            F.round(F.col("n") + noise, 6).alias("noisy_count"),
        )
    )


def corpus_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One-row-per-source corpus datasheet (Gebru et al. 2021,
    "Datasheets for Datasets" — the summary grid a dataset release
    ships with): ``(source, n_docs, total_tokens, en_share,
    uniq_ratio, avg_quality, p50_chars)``.

    - ``en_share``: fraction of documents tagged English — the
      language-mix headline;
    - ``uniq_ratio``: distinct text digests over documents — 1.0 means
      duplicate-free, the dedup-budget headline;
    - ``avg_quality``: the engine's composite quality score
      (:func:`~.text_quality.quality_expr`), so the card and the
      quality filter can never disagree about what "quality" means;
    - ``p50_chars``: exact interpolated median document length.

    Scale shape: one partial-aggregated exchange on ``source`` —
    every column is either an algebraic aggregate or count_distinct
    over an in-row digest; the quality expression is the same narrow
    JVM projection the filter pipeline uses. Group cardinality is the
    source count (tens), so the output is driver-safe by construction.
    """
    from .text import tokens_array
    from .text_quality import rounded_quality

    return (
        docs.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens_array(text_col))).alias("total_tokens"),
            F.round(
                F.avg(F.when(F.col(lang_col) == "en", 1.0).otherwise(0.0)), 6
            ).alias("en_share"),
            F.round(
                F.count_distinct(F.md5(F.col(text_col))) / F.count("*"), 6
            ).alias("uniq_ratio"),
            # per-doc pre-round before the mean: the same float
            # discipline (and the same value) as source_stats' oracle
            F.round(F.avg(rounded_quality(text_col)), 6).alias(
                "avg_quality"
            ),
            F.round(
                F.percentile(F.length(text_col), F.lit(0.5)), 6
            ).alias("p50_chars"),
        )
    )
