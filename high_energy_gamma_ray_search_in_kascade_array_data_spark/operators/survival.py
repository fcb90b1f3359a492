"""Survival-curve operator — the reference's flagship analytical query.

The reference computes, for 10 000 probability thresholds, the fraction
of each class whose classifier score falls below the threshold
(``train_classification.py:301-312``, ``evaluate_classification.py:123-134``)
— an O(bins × N) rescan loop over in-memory arrays.

Spark-first re-expression (SURVEY §2 A5/A6/A9): one pass —
  1. fixed-width histogram: ``bin = least(floor(p*nbins), nbins-1)``
     → ``groupBy(label, bin).count()``  (map-side partial agg, one shuffle
     keyed on (label, bin) — cardinality ≤ n_class × nbins regardless of N);
  2. cumulative count per class: window ``sum over (partition by label
     order by bin)`` — runs on the tiny aggregated relation, not the events;
  3. normalize by the per-class total: window ``sum over (partition by
     label)`` (A9).

At 100 TB the only event-scale exchange is the partial-aggregated
histogram shuffle, whose output is bounded by nbins×n_class rows; the
windows touch only that. This is the plan you want at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def histogram(df: DataFrame, value_col: str, nbins: int, lo: float = 0.0, hi: float = 1.0, by: list[str] | None = None) -> DataFrame:
    """Fixed-width histogram of ``value_col`` over [lo, hi) with the
    top edge inclusive (NumPy ``np.histogram`` semantics,
    ``train_classification.py:295-297``). Optional extra group keys."""
    width = (hi - lo) / nbins
    bin_col = F.least(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(nbins - 1)).cast("int").alias("bin")
    keys = [F.col(c) for c in (by or [])] + [bin_col]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("bin_count"))


def survival_curve(df: DataFrame, label_col: str = "label", prob_col: str = "p", nbins: int = 100) -> DataFrame:
    """Per-class empirical CDF of ``prob_col`` (survival curve).

    Input: one row per event with a class label and a score in [0, 1].
    Output: (label, bin, bin_count, cum_count, class_total,
    surviving_frac), monotone nondecreasing in ``bin`` and terminating
    at 1.0 per class.
    """
    return survival_from_histogram(histogram(df, prob_col, nbins, by=[label_col]), label_col)


def survival_from_histogram(hist: DataFrame, label_col: str = "label") -> DataFrame:
    """Stages 2–3 on a relation already binned to (label, bin,
    bin_count) — the output of :func:`histogram`, or a histogram a
    stream keeps up to date. Both window sums are projected once, in
    one projection, and the fraction reads the projected columns."""
    w_cum = Window.partitionBy(label_col).orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(label_col)
    sums = hist.select(
        label_col,
        "bin",
        "bin_count",
        F.sum("bin_count").over(w_cum).alias("cum_count"),
        F.sum("bin_count").over(w_all).alias("class_total"),
    )
    # exact single IEEE division of two integers — bit-identical in
    # any engine, no rounding needed
    return sums.withColumn("surviving_frac", F.col("cum_count").cast("double") / F.col("class_total"))
