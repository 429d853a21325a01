"""Projection / per-row & per-group transforms (SURVEY.md §2.2).

Reference activities covered here (rtl/include/eclhelper.hpp kinds):
PROJECT (TAKproject :893, TAKcountproject :917), FILTER group-variant
(TAKfiltergroup :1014), NORMALIZE (TAKnormalize :907, child :910),
ITERATE (TAKiterate :895), PROCESS (TAKprocess :994), ROLLUP
(TAKrollup :894), CHOOSEN (TAKfirstn :898), CHOOSESETS (TAKchoosesets :918),
ENTH/SAMPLE (TAKenth :913, TAKsample :899), SELECTNth (TAKselectn :912),
COMBINE (TAKcombine :981).

Scale notes: everything here lowers to built-in window/groupBy/explode plans
(whole-stage codegen); only the *general* non-associative ITERATE/ROLLUP
recurrences drop to Arrow-batched ``applyInPandas``, partitioned by group key
so each group's sequential scan runs distributed across executors.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hpcc_platform_spark.operators.numbering import (
    PID,
    global_row_number,
    ranged_partitions,
)


def _cols(spec: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in spec]


def project(df: DataFrame, *cols: str | Column, **named: Column) -> DataFrame:
    """PROJECT(ds, TRANSFORM(...)) — per-row reshape.

    Reference: TAKproject, thorlcr/activities/project/ (the per-row transform
    helper); in Spark this is a plain ``select`` — stays in codegen.
    """
    return df.select(*_cols(cols), *[c.alias(n) for n, c in named.items()])


def project_counter(
    df: DataFrame,
    order_by: Sequence[str | Column],
    counter_name: str = "counter",
) -> DataFrame:
    """PROJECT with COUNTER (TAKcountproject :917) — global row numbering.

    The reference numbers rows in stream order; Spark needs an explicit total
    order. Lowered to a global sort plus Spark's distributed sequence in
    ``operators/numbering.py`` (the reference's own msort rank-offset design,
    thorlcr/msort/tsortm.cpp:66,242) — no single-partition exchange, scales
    to arbitrary data sizes. Callers that can tolerate partition-local
    numbering should use ``monotonically_increasing_id`` instead.
    """
    return global_row_number(df, order_by, name=counter_name)


def filter_group(
    df: DataFrame,
    keys: Sequence[str | Column],
    cond: Column,
    mode: str = "any",
) -> DataFrame:
    """Grouped FILTER (TAKfiltergroup :1014): keep/drop whole groups.

    ECL semantics: on a GROUPed dataset, a filter that refers to the group
    keeps or drops entire groups. mode='any' keeps groups where some row
    matches; 'all' where every row matches. Lowered to a window-computed
    group flag — one shuffle on the group key, no join.
    """
    flag = F.max(cond.cast("int")) if mode == "any" else F.min(cond.cast("int"))
    w = Window.partitionBy(*_cols(keys))
    return df.withColumn("__keep__", flag.over(w)).where(F.col("__keep__") == 1).drop("__keep__")


def normalize(
    df: DataFrame,
    child_col: str,
    parent_cols: Sequence[str] | None = None,
    child_alias: str = "child",
    with_counter: str | None = None,
) -> DataFrame:
    """NORMALIZE(parent, LEFT.children, TRANSFORM) (TAKnormalizechild :910).

    Expands a child-dataset column (array<struct>) into one row per child.
    ``posexplode`` provides ECL's COUNTER (1-based position within parent).
    Reference impl: thorlcr/activities/normalize/, Roxie ccdserver.cpp:8528.
    """
    parents = list(parent_cols) if parent_cols is not None else [
        c for c in df.columns if c != child_col
    ]
    if with_counter:
        out = df.select(
            *parents, F.posexplode(child_col).alias("__pos__", child_alias)
        ).withColumn(with_counter, F.col("__pos__") + 1).drop("__pos__")
    else:
        out = df.select(*parents, F.explode(child_col).alias(child_alias))
    return out


def normalize_counter(
    df: DataFrame,
    n: int | str | Column,
    counter_name: str = "counter",
) -> DataFrame:
    """NORMALIZE(ds, count, TRANSFORM w/ COUNTER) (TAKnormalize :907) —
    the counter form: emit ``n`` rows per input row, COUNTER = 1..n.

    Lowered to ``explode(sequence(1, n))`` — fully codegen'd, no UDF.
    """
    n_col = F.lit(n) if isinstance(n, int) else (F.col(n) if isinstance(n, str) else n)
    return df.withColumn(counter_name, F.explode(F.sequence(F.lit(1), n_col.cast("int"))))


def iterate_running(
    df: DataFrame,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str | Column] | None = None,
    combine: dict[str, str] | None = None,
    **running: Column,
) -> DataFrame:
    """ITERATE (TAKiterate :895) — the *linear* cases.

    ECL's ITERATE feeds each output row the previous output row. When the
    recurrence is a running aggregate (sum/count/max/lag-style), it lowers
    exactly onto window frames — distributed, no Python. ``running`` maps
    output name → aggregate Column; each is applied over
    rowsBetween(unboundedPreceding, currentRow).

    With ``partition_by`` the window is already distributed. WITHOUT it a
    naive global window would funnel everything through one task, so the
    global case goes two-phase instead (the msort rank-offset design,
    thorlcr/msort/tsortm.cpp:66,242): range-partition on the order keys,
    aggregate per-partition totals (few rows to the driver), broadcast
    cumulative prefixes, and combine them with the partition-local running
    value. ``combine`` names each output's prefix combiner — '+' (default,
    for sum/count), 'min', or 'max'; anything non-associative needs
    ``iterate_pandas``.

    Reference: thorlcr/activities/iterate/, Roxie ccdserver.cpp:18264.
    """
    if partition_by:
        w = (
            Window.partitionBy(*_cols(partition_by))
            .orderBy(*_cols(order_by))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df
        for name, expr in running.items():
            out = out.withColumn(name, expr.over(w))
        return out

    combine = combine or {}
    ranged = ranged_partitions(df, order_by)
    totals = {
        r["__pid__"]: r
        for r in ranged.groupBy(PID)
        .agg(*[expr.alias(n) for n, expr in running.items()])
        .collect()
    }
    w = (
        Window.partitionBy(PID)
        .orderBy(*_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged
    for name, expr in running.items():
        op = combine.get(name, "+")
        # Cumulative prefix over all earlier partitions, driver-side (one
        # value per partition), broadcast back as a literal map.
        prefix: dict[int, object] = {}
        acc = None
        for pid in sorted(totals):
            if acc is not None:
                prefix[pid] = acc
            t = totals[pid][name]
            if t is None:
                continue
            if acc is None:
                acc = t
            elif op == "+":
                acc = acc + t
            elif op == "min":
                acc = min(acc, t)
            elif op == "max":
                acc = max(acc, t)
            else:
                raise ValueError(f"unknown combine {op!r} for {name!r}")
        local = expr.over(w)
        if prefix:
            pairs = [x for pid, v in prefix.items() for x in (F.lit(pid), F.lit(v))]
            pref_col = F.create_map(*pairs)[F.col(PID)]
            if op == "+":
                # NULL-safe: leading all-NULL rows in a later partition have
                # local == NULL but must still carry earlier partitions'
                # prefix; only all-NULL everywhere stays NULL (SQL SUM).
                merged = F.when(
                    local.isNull() & pref_col.isNull(), F.lit(None)
                ).otherwise(
                    F.coalesce(local, F.lit(0)) + F.coalesce(pref_col, F.lit(0))
                )
            elif op == "min":
                merged = F.least(local, F.coalesce(pref_col, local))
            else:
                merged = F.greatest(local, F.coalesce(pref_col, local))
        else:
            merged = local
        out = out.withColumn(name, merged)
    return out.drop(PID)


def iterate_pandas(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    fn: Callable,
    schema: str,
) -> DataFrame:
    """ITERATE/PROCESS general form — arbitrary non-associative recurrence.

    ``fn(pdf: pandas.DataFrame) -> pandas.DataFrame`` receives one group,
    already sorted by ``order_by``, and may carry state down the rows
    (the reference's PROCESS right-hand state record, TAKprocess :994).
    Groups run in parallel across executors; within a group the scan is
    sequential — same contract as the reference's single-stream ITERATE.

    Lowering: ``groupBy().applyInPandas`` pays a per-GROUP Arrow round trip
    (each group is its own batch + Python invocation — milliseconds of
    fixed cost per group, ruinous for many small groups). Instead the rows
    are hash-partitioned by key and key-clustered within each partition,
    and ONE ``mapInPandas`` stream per partition slices its batches into
    groups (same shuffle, same per-group ``fn`` contract); only a group
    straddling a batch boundary is carried over, so extra memory is
    bounded by one group, as before.
    """
    keys = list(keys)
    order = list(order_by)

    def run(batches):
        import pandas as pd

        def emit(pdf):
            return fn(pdf.sort_values(order, kind="stable"))

        pending = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            # Partition rows are sorted by the keys → groups are contiguous;
            # a group id increments wherever any key column changes
            # (null-safe: NaN vs NaN is NOT a change — groupBy keys nulls
            # together).
            cur, prev = pdf[keys], pdf[keys].shift()
            changed = (cur != prev) & ~(cur.isna() & prev.isna())
            gid = changed.any(axis=1).cumsum()
            last = gid.iloc[-1]
            # The last group may continue in the next batch — hold it back.
            pending = pdf[gid == last]
            head = pdf[gid != last]
            if len(head):
                out = [emit(g) for _, g in head.groupby(gid[gid != last], sort=False)]
                yield pd.concat(out, ignore_index=True)
        if pending is not None and len(pending):
            yield emit(pending)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(run, schema=schema)
    )


def rollup_adjacent(
    df: DataFrame,
    keys: Sequence[str | Column],
    aggs: Sequence[Column],
) -> DataFrame:
    """ROLLUP (TAKrollup :894) — associative transform case.

    ECL ROLLUP merges *adjacent* matching rows on a sorted input. When the
    merge transform is associative+commutative (sum/min/max/concat-set — the
    overwhelmingly common case) and the input is sorted by the match keys,
    adjacent-merge ≡ group-merge, so it lowers to a hash aggregate (no sort
    needed at all — strictly better than the reference's sorted-stream scan,
    thorlcr/activities/rollup/throllupslave.cpp).
    """
    return df.groupBy(*_cols(keys)).agg(*aggs)


def rollup_pandas(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    merge_fn: Callable,
    schema: str,
) -> DataFrame:
    """ROLLUP general form — order-dependent pairwise merge within groups.

    ``merge_fn(pdf) -> pdf`` gets the group sorted by ``order_by`` and
    implements the left←merge(left,right) fold the reference does row-by-row
    (throllupslave.cpp keepLeft loop).
    """

    def run(pdf):
        return merge_fn(pdf.sort_values(list(order_by), kind="stable"))

    return df.groupBy(*keys).applyInPandas(run, schema=schema)


def choosen(df: DataFrame, n: int, order_by: Sequence[str | Column] | None = None) -> DataFrame:
    """CHOOSEN(ds, n) (TAKfirstn :898) — first n rows.

    With ``order_by`` this is deterministic top-n (Spark plans
    TakeOrderedAndProject: per-partition heap + merge of heaps — the same
    algorithm as the reference's TOPN, thorlcr/activities/firstn/).
    Without, it's Spark ``limit`` (arbitrary n rows, like unordered CHOOSEN).
    """
    if order_by is not None:
        return df.orderBy(*_cols(order_by)).limit(n)
    return df.limit(n)


def choosesets(
    df: DataFrame,
    category_cols: Sequence[str | Column],
    n: int,
    order_by: Sequence[str | Column],
) -> DataFrame:
    """CHOOSESETS(ds, cat => n) (TAKchoosesets :918) — n rows per category.

    Lowered to row_number over (partitionBy category, orderBy tiebreak) ≤ n:
    one shuffle, distributed. Reference: thorlcr/activities/choosesets/.
    """
    w = Window.partitionBy(*_cols(category_cols)).orderBy(*_cols(order_by))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def enth(
    df: DataFrame,
    interval: int,
    order_by: Sequence[str | Column],
    which: int = 1,
) -> DataFrame:
    """ENTH / deterministic SAMPLE (TAKenth :913, TAKsample :899).

    ECL's ENTH picks every interval-th record deterministically (not random
    sampling). Needs a total order to be well-defined distributed; globally
    numbered rows (numbering.py, no single-partition exchange) where
    rn % interval == which.
    """
    out = global_row_number(df, order_by, name="__rn__")
    return out.where(F.col("__rn__") % interval == which % interval).drop("__rn__")


def selectnth(df: DataFrame, n: int, order_by: Sequence[str | Column]) -> DataFrame:
    """ds[n] (TAKselectn :912) — the single n-th row in the given order.

    Scale path: global numbering (a sort plus Spark's distributed sequence)
    and a filter on the position; n past the row count gives an empty
    frame of the same shape (the reference seeks the n-th row of a single
    sorted stream, thorlcr/activities/selectnth/ — this is the distributed
    analog).
    """
    out = global_row_number(df, order_by, name="__rn__")
    return out.where(F.col("__rn__") == n).drop("__rn__")


def combine(
    df_left: DataFrame,
    df_right: DataFrame,
    order_left: Sequence[str | Column],
    order_right: Sequence[str | Column],
    strict: bool = True,
) -> DataFrame:
    """COMBINE(l, r, TRANSFORM) (TAKcombine :981) — positional zip.

    The reference zips two equal-length datasets row-by-row (Roxie
    ccdserver.cpp:14789) and errors on length mismatch. Spark has no stable
    positional identity across shuffles, so position is made explicit via
    global numbering (numbering.py — no single-partition exchange), then an
    equi-join on position. With ``strict`` (the reference's semantics) a
    length mismatch raises instead of silently truncating to the shorter
    side; that check counts each side once, while the query is built.
    """
    if strict:
        n_left, n_right = df_left.count(), df_right.count()
        if n_left != n_right:
            raise ValueError(
                f"COMBINE length mismatch: left has {n_left} rows, right has "
                f"{n_right} (reference TAKcombine requires equal lengths)"
            )
    lhs = global_row_number(df_left, order_left, name="__pos__")
    rhs = global_row_number(df_right, order_right, name="__pos__")
    return lhs.join(rhs, "__pos__", "inner").drop("__pos__")
