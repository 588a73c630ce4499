"""Histogram / fraction aggregation — the reference's `value_counts`
(/root/reference/epic/pandas/utils.py:281-320): counts per distinct value,
a `fraction` column summing to 1.0, optional binning, optional sort, and an
optional TOTAL row.

Spark-first shape: one hash aggregation (map-side partial + final), then the
fraction from an empty-partition window over the ALREADY-AGGREGATED
histogram (see `_with_fraction`). At 100 TB the groupBy output is
|distinct values| rows, so the window's single-partition exchange moves only
those rows and the base table is scanned once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _with_fraction(counts: DataFrame, count_col: str = "count") -> DataFrame:
    """fraction = count / Σcount via a single-partition window over the
    ALREADY-AGGREGATED histogram. A broadcast-total cross join would
    duplicate the aggregation branch (two scans of the base table at
    100 TB); this shape scans once and the single-partition exchange moves
    only |distinct values| rows — small by the nature of value_counts.
    (An empty-partition window over raw data would be wrong; over the
    aggregate it is the cheap option.)"""
    from pyspark.sql import Window

    w = Window.partitionBy()
    return counts.withColumn("fraction", F.col(count_col) / F.sum(count_col).over(w))


def value_counts(
    df: DataFrame,
    column: str,
    sort: bool = True,
    ascending: bool = False,
    dropna: bool = True,
    total: bool = False,
    total_label: str = "TOTAL",
) -> DataFrame:
    """Counts + fractions of the distinct values of ``column``.

    Output schema: (value, count, fraction). The TOTAL row (utils.py:316-318
    uses a collision-safe label; here the caller picks ``total_label``) is a
    union with the global aggregate.
    """
    src = df.select(F.col(column).alias("value"))
    if dropna:
        src = src.filter(F.col("value").isNotNull())
    counts = src.groupBy("value").agg(F.count(F.lit(1)).alias("count"))
    if total:
        # the TOTAL branch references counts twice; a lazy local checkpoint
        # materializes the (tiny) histogram once instead of re-scanning
        counts = counts.localCheckpoint(eager=False)
    out = _with_fraction(counts)
    if total:
        grand = out.agg(
            F.lit(total_label).alias("value"),
            F.sum("count").alias("count"),
            F.sum("fraction").alias("fraction"),
        )
        out = out.unionByName(grand)
    if sort:
        out = out.orderBy(
            F.col("count").asc() if ascending else F.col("count").desc(),
            F.col("value").asc(),  # deterministic tie-break
        )
    return out


def value_counts_binned(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int,
    sort: bool = False,
) -> DataFrame:
    """`value_counts(bins=n)` (utils.py:312): histogram over equi-width bins.

    Emits numeric bin edges (bin, bin_lo, bin_hi) instead of pandas Interval
    labels so the result is oracle-comparable (SURVEY.md §7.3 item 5).
    Values outside [lo, hi] clamp into the edge buckets, matching
    numpy/pandas `cut` behavior on the min/max-derived edges.

    Single hash-agg on the computed bucket id; bucket math is a pure
    whole-stage-codegen expression — no UDF, no extra shuffle.
    """
    width = (hi - lo) / n_bins
    bucket = F.least(
        F.lit(n_bins), F.greatest(F.lit(1), F.width_bucket(F.col(column), F.lit(lo), F.lit(hi), F.lit(n_bins)))
    )
    counts = (
        df.filter(F.col(column).isNotNull())
        .select(bucket.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("bin_lo", F.lit(lo) + (F.col("bin") - 1) * F.lit(width))
        .withColumn("bin_hi", F.lit(lo) + F.col("bin") * F.lit(width))
    )
    out = _with_fraction(counts).select("bin", "bin_lo", "bin_hi", "count", "fraction")
    return out.orderBy("bin") if sort else out


def grouped_histogram(
    df: DataFrame,
    value_col: str,
    by: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-group histogram over GLOBAL shared bin edges — the
    group_bar_hist pipeline (/root/reference/epic/pandas/matplotlib/
    plot.py:410-418: one np.histogram_bin_edges for all groups, then
    per-group counts). Callers derive lo/hi from a min/max aggregate or
    approxQuantile when not known a priori; binning + the (group, bin)
    hash-agg is then a single pass."""
    width = (hi - lo) / n_bins
    bucket = F.least(
        F.lit(n_bins),
        F.greatest(F.lit(1), F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_bins))),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(by), bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("bin_lo", F.lit(lo) + (F.col("bin") - 1) * F.lit(width))
        .withColumn("bin_hi", F.lit(lo) + F.col("bin") * F.lit(width))
    )
