"""Skew handling: salted two-phase aggregation (north_rule R11).

The corpus is deliberately skewed (a mega-repo owns ~30% of rows,
FIXTURES.md §1). A plain groupBy on ``repo`` sends 30% of the data to one
reducer; salting splits the hot key across ``n_salt`` partial groups, then
combines partials — the classic two-phase aggregation. Spark's own
hash-agg already does map-side partial aggregation for algebraic
aggregates, so salting matters for (a) collect-type aggregates and (b)
extreme key skew where even reduce-side partials land on one task.

AQE skew-join splitting (enabled in session.py) covers the join side; this
module covers groupBy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict,
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output column name -> (phase1_expr, phase2_fn) where
    phase1_expr is a Column aggregated within (keys + salt) and phase2_fn
    recombines the partials, e.g.::

        salted_agg(df, ["repo"], {
            "n_rows":  (F.count(F.lit(1)), F.sum),
            "n_chars": (F.sum(F.length("content")), F.sum),
        })
    """
    phase1 = (
        df.withColumn("_salt", F.spark_partition_id() % n_salt)
        .groupBy(*keys, "_salt")
        .agg(*[expr.alias(f"_p1_{name}") for name, (expr, _) in aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[
            fn(F.col(f"_p1_{name}")).alias(name)
            for name, (_, fn) in aggs.items()
        ]
    )


def skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Pre-join skew diagnostics for a prospective shuffle key:
    the ``top_n`` heaviest key values with their row share and the
    key-space skew factor (heaviest key's count / mean count per key —
    the number that predicts whether AQE skew splitting or salting is
    needed BEFORE paying for the shuffle).

    One key-keyed aggregation + one 1-row global aggregate broadcast
    back; top-n is TakeOrdered, never a global sort. Output:
    (key, n, share, skew_factor, rank) — share/skew rounded 6 dp, rank
    by (n DESC, key ASC) so the cut is deterministic under ties.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    keys = list(key_cols)
    # concat_ws silently DROPS null inputs, which would merge a NULL key
    # component with the empty string (and ('a', NULL) with ('a',)) —
    # encode each component null-safely with a sentinel instead
    parts = [
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in keys
    ]
    counts = df.groupBy(
        F.concat_ws("␟", *parts).alias("key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = counts.agg(
        F.sum("n").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"),
        F.max("n").cast("double").alias("_maxn"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("_maxn") / (F.col("_total") / F.col("_nkeys")), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_n)
        .withColumn("rank", _rank_window().cast("long"))
    )


def _rank_window():
    # rank over the already-limited top-n frame: the single-partition
    # window touches <= top_n rows, never the key space
    from pyspark.sql import Window

    return F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key")))


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Predict an equi-join's output size BEFORE paying for it:
    |A ⋈ B| = Σ_k n_A(k)·n_B(k), computed exactly from the two per-key
    count tables — two aggregations + one key-scale join, never the
    data-scale join itself. Returns ONE row with the total plus the
    ``top_n`` heaviest key contributions concatenated for diagnostics
    (which keys would explode the join).

    The planning companion to ``skew_report``: run both on candidate
    join keys to choose between broadcast, bucketed layout, and salting
    while the 100 TB shuffle is still hypothetical.
    """
    from ..fs import cut_lineage

    keys = list(key_cols)
    ka = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("_na"))
    kb = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("_nb"))
    # contrib feeds both the total and the top-keys branch; materialize
    # the key-scale frame once so the two data-scale aggregations are
    # not re-executed per branch
    contrib = cut_lineage(
        ka.join(kb, keys).select(
            F.concat_ws(
                "␟", *[F.col(k).cast("string") for k in keys]
            ).alias("key"),
            (F.col("_na") * F.col("_nb")).cast("long").alias("rows"),
        )
    )
    # collect_list order after a limit is partition-dependent; sorting
    # the collected structs (neg-rows, key) pins the concatenation order
    top = (
        contrib.orderBy(F.desc("rows"), F.asc("key"))
        .limit(top_n)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct((-F.col("rows")).alias("neg"), F.col("key"))
                        )
                    ),
                    lambda s: F.concat_ws(
                        "=", s["key"], (-s["neg"]).cast("string")
                    ),
                ),
                ", ",
            ).alias("top_keys")
        )
    )
    total = contrib.agg(
        F.coalesce(F.sum("rows"), F.lit(0)).cast("long").alias("join_rows"),
        F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
    )
    return total.crossJoin(F.broadcast(top))
