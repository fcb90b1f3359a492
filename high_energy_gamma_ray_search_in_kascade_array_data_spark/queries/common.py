"""Shared derivations used across the corpus.

The driver fixtures carry no KASCADE shower table, so the physics
corpus derives a deterministic shower-shaped relation from ``events``
using exact integer arithmetic (bit-identical in Spark and DuckDB; see
registry.py for the cross-engine determinism rules). Column semantics
mirror FIXTURES.md §A1 / SURVEY §1.1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table


# Money sums in exact integer units (the ab_test_welch discipline).  A
# price in whole cents times a fraction in whole percent points is an
# exact BIGINT count of 1e-4 currency units; their SUM is rounded to
# cents once, half up.  A rounded SUM of doubles instead depends on
# summation order, which the two engines do not share, so a sum on a
# half cent rounded differently (q10_returned_items, generated seed 17).
def money_sum(price: Column, frac: Column) -> Column:
    """SUM(price * frac) rounded to cents, as a double."""
    units = F.sum(F.round(price * 100).cast("long") * F.round(frac * 100).cast("long")) + 50
    # an exact multiple of 100 units over 10000: the same double as cents / 100
    return (units - F.pmod(units, F.lit(100))) / 10000


def money_sum_sql(price: str, frac: str) -> str:
    """DuckDB twin of ``money_sum``."""
    units = f"SUM(CAST(ROUND({price} * 100) AS BIGINT) * CAST(ROUND({frac} * 100) AS BIGINT))"
    return f"CAST(({units} + 50) // 100 AS DOUBLE) / 100"


def shower(df: DataFrame, *extra: str | Column) -> DataFrame:
    """Deterministic shower-event columns derived from ``df``'s
    ``event_id`` — the events table, the events stream or scored rows:
    label 0=gamma/1=proton, lg_e ∈ [14,16.5), ze ∈ [0,45),
    az ∈ [0,360), classifier score p ∈ [0,1), core position ∈ [−16,16];
    then ``extra``."""
    eid = F.col("event_id")
    return df.select(
        eid,
        (eid % 2).cast("int").alias("label"),
        (F.lit(14.0) + (eid * 131 % 2500) / F.lit(1000.0)).alias("lg_e"),
        (eid * 17 % 45).cast("double").alias("ze"),
        (eid * 29 % 360).cast("double").alias("az"),
        ((eid * 37 % 1000) / F.lit(1000.0)).alias("p"),
        ((eid * 13 % 33).cast("double") - 16).alias("core_x"),
        ((eid * 19 % 33).cast("double") - 16).alias("core_y"),
        *extra,
    )


def shower_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shower relation (:func:`shower`) of the ``events`` table,
    keeping its ``value``."""
    return shower(load_table(spark, sf_dir, "events"), "value")


# DuckDB twin of shower_frame — keep in lockstep with shower().
SHOWER_CTE = """
shower AS (
  SELECT event_id,
         CAST(event_id % 2 AS INTEGER) AS label,
         14.0 + (event_id * 131 % 2500) / 1000.0 AS lg_e,
         CAST(event_id * 17 % 45 AS DOUBLE) AS ze,
         CAST(event_id * 29 % 360 AS DOUBLE) AS az,
         (event_id * 37 % 1000) / 1000.0 AS p,
         CAST(event_id * 13 % 33 AS DOUBLE) - 16 AS core_x,
         CAST(event_id * 19 % 33 AS DOUBLE) - 16 AS core_y,
         value
  FROM events
)"""


def detector_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic long-form 16×16 detector readout derived from
    ``events`` (FIXTURES.md §A2): one station row per event with exact
    integer channels."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.select(
        eid,
        (eid % 16).cast("int").alias("ix"),
        (F.expr("event_id div 16") % 16).cast("int").alias("iy"),
        ((eid * 7 % 100).cast("double") / 10).alias("arrival_time"),
        ((eid * 11 % 500).cast("double") / 5).alias("edep"),
        (eid * 3 % 7).cast("double").alias("muons"),
    )


GRID_CTE = """
grid AS (
  SELECT event_id,
         CAST(event_id % 16 AS INTEGER) AS ix,
         CAST((event_id // 16) % 16 AS INTEGER) AS iy,
         CAST(event_id * 7 % 100 AS DOUBLE) / 10 AS arrival_time,
         CAST(event_id * 11 % 500 AS DOUBLE) / 5 AS edep,
         CAST(event_id * 3 % 7 AS DOUBLE) AS muons
  FROM events
)"""

# Deterministic uniform pseudo-random in [0,1): Knuth multiplicative
# hash — exact BIGINT arithmetic, identical in both engines. Used by
# the stratified split (X1) and pseudo-sampling (X2) so the oracle can
# reproduce Spark's "random" draws exactly. RND2 is an INDEPENDENT
# second draw (different odd multiplier) for operations that must not
# correlate with the split (augmentation sampling).
#
# The id is pre-reduced mod 2^31 so the multiplication stays inside
# int64 for ANY id — without it, ids ≥ ~3.5e9 overflow (ANSI-mode
# error in Spark, BIGINT overflow in DuckDB) at exactly the corpus
# sizes the draw exists for. Draws for ids < 2^31 (every current
# fixture) are bit-identical to the unreduced form; the draw sequence
# has period 2^31 in the id, irrelevant for sampling purposes.
RND_SQL = "((event_id % 2147483648) * 2654435761 % 4294967296) / 4294967296.0"
RND2_SQL = "((event_id % 2147483648) * 2246822519 % 4294967296) / 4294967296.0"


def rnd_col() -> F.Column:
    return (F.col("event_id") % 2147483648) * 2654435761 % 4294967296 / F.lit(4294967296.0)


def rnd2_col() -> F.Column:
    return (F.col("event_id") % 2147483648) * 2246822519 % 4294967296 / F.lit(4294967296.0)
