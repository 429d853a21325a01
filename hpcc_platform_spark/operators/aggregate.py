"""Aggregation family (SURVEY.md §2.4).

Reference contract: per-group processFirst/processNext + cross-partition
mergeAggregate (IHThorRowAggregator, rtl/include/eclhelper.hpp:1553-1558) —
the classic partial/final split Thor does by hand
(thorlcr/activities/aggregate/thaggregateslave.cpp:184, slaves send partials,
node 1 merges). Spark's HashAggregate already emits partial→exchange→final,
so every combinator here is a plain groupBy/agg and inherits map-side
combine for free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hpcc_platform_spark.operators.numbering import global_row_number


def global_agg(df: DataFrame, *aggs: Column) -> DataFrame:
    """Whole-dataset aggregate (TAKaggregate :896; COUNT/EXISTS fused
    variants :1010-1011). One partial per partition, single final merge."""
    return df.agg(*aggs)


def table_agg(
    df: DataFrame, keys: Sequence[str | Column], *aggs: Column
) -> DataFrame:
    """TABLE(ds, {keys, aggs}, keys) — grouped hash aggregate
    (TAKhashaggregate :897; thorlcr/activities/hashdistrib/ hash tables)."""
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.groupBy(*cols).agg(*aggs)


def group_having(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    having: Column,
) -> DataFrame:
    """TABLE + HAVING — grouped aggregate with post-aggregation filter.

    ECL expresses this as a filter on the TABLE result; Catalyst pushes
    nothing back (correct: the predicate reads aggregates)."""
    return df.groupBy(*keys).agg(*aggs).where(having)


def quantile_exact(
    df: DataFrame,
    value_col: str,
    n_tiles: int,
    tiebreak: Sequence[str],
) -> DataFrame:
    """QUANTILE(ds, n) (TAKquantile :1082, IHThorQuantileArg
    eclhelper.hpp:1399) — exact n-tile boundary rows.

    The reference returns the ranked rows that split the sorted input into n
    equal parts (Roxie ccdserver.cpp:8921-9170). Exact distributed form:
    global numbering (operators/numbering.py — a global sort plus Spark's
    distributed sequence, NO single-partition exchange), then pick the
    boundary row of each tile by its exact global position (ntile
    semantics: the first ``total % n`` tiles hold one extra row). The boundaries need the row
    total as a Python value: one ``count()``. For approximate at 100 TB scale
    prefer ``percentile_approx`` — this exact form pays one global range
    sort, same as the reference's. ``tiebreak`` makes the order total.
    """
    order = [F.col(value_col)] + [F.col(c) for c in tiebreak]
    total = df.count()
    base, rem = divmod(total, n_tiles)
    boundaries: dict[int, int] = {}
    for t in range(1, n_tiles):
        if base == 0 and t > rem:  # empty tile — no boundary row
            continue
        boundaries[t * base + min(t, rem)] = t
    if not boundaries:
        return df.select(
            F.lit(None).cast("int").alias("tile"), F.col(value_col)
        ).limit(0)
    pairs = [x for rn, t in boundaries.items() for x in (F.lit(rn), F.lit(t))]
    tile_col = F.create_map(*pairs)[F.col("__rn__")]
    return (
        global_row_number(df, order, name="__rn__")
        .where(F.col("__rn__").isin(*boundaries))
        .select(tile_col.alias("tile"), F.col(value_col))
    )


def distribution(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """DISTRIBUTION(ds[, fields]) (TAKdistribution :916) — per-field profile.

    The reference builds per-type value-distribution tables capped at 10,000
    distinct values (rtl/eclrtl/rtldistr.cpp:26 DISTRIBUTION_THRESHOLD) and
    reports XML. Spark-first: one pass computing count / distinct / min / max
    per requested column via a melt + groupBy — returns a tidy DataFrame
    rather than XML. Exact distinct counts shuffle per column; at extreme
    scale swap count_distinct→approx_count_distinct at the call site.
    """
    cols = list(cols) if cols is not None else df.columns
    stack_expr = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    melted = df.selectExpr(f"stack({len(cols)}, {stack_expr}) as (field, value)")
    return melted.groupBy("field").agg(
        F.count("value").alias("n_nonnull"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def time_rollup_hierarchy(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy (the brief's custom
    operator; TimescaleDB continuous aggregates / Druid rollup): bucket
    the finest level from the raw stream ONCE, then derive every coarser
    level by re-aggregating the finer level's partial aggregates
    (sum-of-sums, sum-of-counts, min-of-mins...). At 100 TB the raw scan
    happens exactly once; each further level aggregates the previous
    level's tiny output, which is the whole point of rollup hierarchies.
    AVG is derived from (sum, count) at the end — never averaged across
    levels, which would be wrong.

    ``levels`` must be ordered finest -> coarsest (any granularities
    ``date_trunc`` accepts). Output: one row per (level, bucket) with
    n/total/vmin/vmax/avg, unioned across levels.
    """
    if not levels:
        raise ValueError("levels must name at least one granularity")
    # Validate finest -> coarsest: a coarse-first ordering would silently
    # label coarse buckets with fine level names and mis-aggregate.
    _GRANULARITY_RANK = {
        "microsecond": 0, "millisecond": 1, "second": 2, "minute": 3,
        "hour": 4, "day": 5, "week": 6, "month": 7, "quarter": 8, "year": 9,
    }
    ranks = [_GRANULARITY_RANK.get(lv.lower()) for lv in levels]
    if None in ranks:
        bad = levels[ranks.index(None)]
        raise ValueError(f"unknown granularity {bad!r}")
    if ranks != sorted(ranks) or len(set(ranks)) != len(ranks):
        raise ValueError(
            f"levels must be ordered finest -> coarsest without repeats, got {list(levels)}"
        )
    lowered = [lv.lower() for lv in levels]
    if "week" in lowered and lowered.index("week") < len(lowered) - 1:
        raise ValueError(
            "week buckets cannot roll up into coarser levels "
            "(weeks span month boundaries); put 'week' last or in its own call"
        )
    v = F.col(value_col)
    fine = (
        df.groupBy(F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("total"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )
    )
    # Single-plan fan-out, NOT a union of per-level branches: a lazy union
    # would re-run the fine aggregation (and the raw scan under it) once
    # per level — Spark does not CSE identical subtrees across union
    # branches. Instead each fine bucket explodes into its (level,
    # truncated-bucket) labels and ONE re-aggregation produces every
    # level: raw scanned once, plan-asserted in tests.
    labeled = fine.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("level"),
                        F.date_trunc(lv, F.col("bucket")).alias("bucket"),
                    )
                    for lv in levels
                ]
            )
        ).alias("lb"),
        "n",
        "total",
        "vmin",
        "vmax",
    )
    out = labeled.groupBy(
        F.col("lb.level").alias("level"), F.col("lb.bucket").alias("bucket")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
    return out.select(
        "level",
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.round("total", 4).alias("total"),
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
        # avg from the ROUNDED total: summation order differs between
        # engines, so full-precision total/n can land on opposite sides of
        # a round-half boundary; the 4-dp total is the cross-engine value.
        F.round(F.round("total", 4) / F.col("n"), 4).alias("avg_val"),
    )
