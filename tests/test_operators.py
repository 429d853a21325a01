"""Behavioral tests for operators whose semantics aren't (fully) covered by
the SQL-oracle gate: failure paths, pandas-lowered recurrences, partition
mechanics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hpcc_platform_spark.operators import (
    iterate_pandas,
    limit_fail,
    loop_until,
    rollup_pandas,
    salt_skew,
    subsort,
)
from hpcc_platform_spark.operators.limit import LimitExceeded, limit_onfail, limit_skip


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "c", 5.0), (2, "d", 15.0), (2, "e", 25.0)],
        "grp int, tag string, val double",
    )


def test_limit_fail_raises(small):
    with pytest.raises(LimitExceeded):
        limit_fail(small, 3)
    assert limit_fail(small, 5).count() == 5


def test_limit_skip_empties(small):
    assert limit_skip(small, 3).count() == 0
    assert limit_skip(small, 10).count() == 5


def test_limit_onfail_substitutes(small, spark):
    from pyspark.sql import Row

    sub = Row(grp=-1, tag="FAILED", val=0.0)
    out = limit_onfail(small, 2, sub).collect()
    assert len(out) == 1 and out[0].tag == "FAILED"


def test_iterate_pandas_general_recurrence(small):
    """EMA — a genuinely non-associative ITERATE the window can't express."""

    def ema(pdf: pd.DataFrame) -> pd.DataFrame:
        state = None
        out = []
        for v in pdf["val"]:
            state = v if state is None else 0.5 * v + 0.5 * state
            out.append(state)
        return pdf.assign(ema=out)

    got = (
        iterate_pandas(small, ["grp"], ["tag"], ema, "grp int, tag string, val double, ema double")
        .orderBy("grp", "tag")
        .collect()
    )
    by_key = {(r.grp, r.tag): r.ema for r in got}
    assert by_key[(1, "a")] == 10.0
    assert by_key[(1, "b")] == 15.0  # 0.5*20 + 0.5*10
    assert by_key[(2, "e")] == 0.5 * 25 + 0.5 * (0.5 * 15 + 0.5 * 5)


def test_iterate_pandas_group_spanning_arrow_batches(spark):
    """The mapInPandas lowering slices each partition's Arrow stream into
    key-contiguous groups, carrying a group that straddles a batch boundary
    into the next batch. Pin that carry-over: with a 7-row batch cap, a
    60-row group MUST span batches yet still fold as one sequential scan
    (running sum over the whole group, not per-fragment resets)."""
    rows = [(g, i, 1.0) for g in (1, 2) for i in range(60)]

    def running(pdf: pd.DataFrame) -> pd.DataFrame:
        out, acc = [], 0.0
        for v in pdf["val"]:
            acc += v
            out.append(acc)
        return pdf.assign(run=out)[["grp", "seq", "run"]]

    df = spark.createDataFrame(rows, "grp int, seq int, val double")
    old_cap = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = iterate_pandas(
            df, ["grp"], ["seq"], running, "grp int, seq int, run double"
        ).collect()
    finally:
        if old_cap is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_cap)
    assert len(got) == 120
    by_key = {(r.grp, r.seq): r.run for r in got}
    # A per-fragment reset would restart the sum at each 7-row batch.
    assert by_key[(1, 59)] == 60.0 and by_key[(2, 59)] == 60.0
    assert by_key[(2, 6)] == 7.0 and by_key[(2, 7)] == 8.0


def test_rollup_pandas_adjacent_merge(small):
    """Order-dependent pairwise merge: concat tags in sort order per group."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "tags": ["+".join(pdf["tag"])],
                "total": [pdf["val"].sum()],
            }
        )

    got = {
        r.grp: (r.tags, r.total)
        for r in rollup_pandas(
            small, ["grp"], ["tag"], merge, "grp int, tags string, total double"
        ).collect()
    }
    assert got[1] == ("a+b", 30.0)
    assert got[2] == ("c+d+e", 45.0)


def test_loop_until_condition(spark):
    df = spark.range(1).select(F.lit(1).alias("v"))
    out = loop_until(
        df,
        body=lambda d, i: d.withColumn("v", F.col("v") * 2),
        done=lambda d, i: d.head().v >= 16,
        max_iters=20,
    )
    assert out.head().v == 16


def test_subsort_orders_within_prefix(spark):
    df = spark.createDataFrame(
        [(1, 3), (1, 1), (2, 9), (1, 2), (2, 4)], "pfx int, x int"
    )
    out = subsort(df, ["pfx"], ["x"])
    # Within each partition, rows must be ordered by (pfx, x).
    def check(it):
        prev = None
        for row in it:
            if prev is not None:
                assert (row.pfx, row.x) >= prev
            prev = (row.pfx, row.x)
        return iter([])

    out.rdd.mapPartitions(lambda it: check(it)).count()


def test_salt_skew_deterministic_and_bounded(spark):
    df = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v int")
    salted = salt_skew(df, "k", n_salts=8)
    vals = [r["__salt__"] for r in salted.orderBy("v").collect()]
    assert all(0 <= s < 8 for s in vals)
    again = [r["__salt__"] for r in salt_skew(df, "k", 8).orderBy("v").collect()]
    assert vals == again  # deterministic


def test_catch_dataset_substitutes_on_error(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators.catchop import catch_dataset

    df = spark.range(3).select(
        F.assert_true(F.col("id") < 2).alias("x"), F.col("id")
    )
    out = catch_dataset(df, on_fail="substitute", substitute=Row(x=None, id=-1))
    assert [r.id for r in out.collect()] == [-1]

    ok = catch_dataset(spark.range(3).selectExpr("null as x", "id"), on_fail="skip")
    assert ok.count() == 3


def test_soapcall_retries_then_succeeds(spark):
    from hpcc_platform_spark.sources.soapcall import soapcall

    def flaky(reqs, _state={"n": 0}):
        # fails on the first attempt per executor task, then succeeds —
        # exercises the retry loop without the network
        _state["n"] += 1
        if _state["n"] == 1:
            raise ConnectionError("transient")
        return [{"id": r["id"], "twice": r["id"] * 2} for r in reqs]

    df = spark.range(10).coalesce(1)
    out = soapcall(df, flaky, "id long, twice long", batch_rows=4, retries=3)
    rows = {r.id: r.twice for r in out.collect()}
    assert rows == {i: 2 * i for i in range(10)}


def test_salted_join_matches_unsalted(spark, sf_dir):
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators.skew import salted_agg_sum, salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, ["o_custkey"]).count()
    salted = salted_join(orders, cust, ["o_custkey"], salt_n=8).count()
    assert salted == plain

    plain_agg = {
        r.o_custkey: round(r.s, 4)
        for r in orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s")).collect()
    }
    salted_agg = {
        r.o_custkey: round(r.total, 4)
        for r in salted_agg_sum(
            orders, ["o_custkey"], {"o_totalprice": "total"}, salt_n=8
        ).collect()
    }
    assert salted_agg == plain_agg


def test_salted_join_under_deliberate_skew(spark, sf_dir):
    """Zipf-hot-key fixture (~30% of rows on one key): the salt must
    spread the hot key across salt_n reducer groups while leaving the
    join result identical to the unsalted join, row for row."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    sk = li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .cast("long")
        .alias("skew_key"),
        "l_extendedprice",
    )
    hot_share = sk.where(F.col("skew_key") == 0).count() / sk.count()
    assert hot_share > 0.25  # the fixture really is skewed

    sm = supp.select(F.col("s_suppkey").alias("skew_key"), "s_name")
    plain = (
        sk.join(sm, "skew_key")
        .groupBy("skew_key")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    salted = (
        salted_join(sk, sm, ["skew_key"], salt_n=8)
        .groupBy("skew_key")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    p = {r.skew_key: (r.n, r.s) for r in plain.collect()}
    s = {r.skew_key: (r.n, r.s) for r in salted.collect()}
    assert p == s

    # The hot key's rows actually span multiple salt buckets.
    sk_salted = sk.withColumn("__salt__", F.floor(F.rand(42) * 8).cast("int"))
    n_buckets = (
        sk_salted.where(F.col("skew_key") == 0).select("__salt__").distinct().count()
    )
    assert n_buckets == 8


def test_assert_sorted_passes_and_fails(spark):
    import pytest
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators import assert_sorted, local_sort

    df = spark.range(1000).select((F.col("id") * 37 % 1000).alias("k")).repartition(4)
    ok = assert_sorted(local_sort(df, "k"), "k")
    assert ok.count() == 1000  # sorted input passes through unchanged
    bad = assert_sorted(df, "k")  # unsorted: the check must trip
    with pytest.raises(Exception, match="SORTED assertion failed"):
        bad.count()


def test_partition_meta_reports_range_layout(spark):
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators import distribute_range, partition_meta

    df = spark.range(1000).select(F.col("id").alias("k"))
    ranged = distribute_range(df, ["k"], 4)
    meta = partition_meta(ranged, "k").collect()
    assert sum(r.n_rows for r in meta) == 1000
    # Range layout: partition key intervals are disjoint and ordered.
    spans = sorted((r.min_k, r.max_k) for r in meta if r.n_rows)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2


def test_pipe_through_xml_roundtrip(spark):
    """XML framing: identity pipe preserves values incl. XML-special chars
    (escaped on write, unescaped on parse) and NULLs (omitted elements)."""
    from hpcc_platform_spark.sources import pipe_through

    rows = [(1, "a<b&c>'d\"", 1.5), (2, None, None), (3, "plain", -2.25)]
    df = spark.createDataFrame(rows, "id int, s string, v double")
    out = pipe_through(
        df, ["cat"], "id int, s string, v double", framing="xml"
    ).orderBy("id").collect()
    assert [(r.id, r.s, r.v) for r in out] == rows


def test_pipe_through_xml_empty_string_and_timestamp_null(spark):
    """ADVICE r5: a non-NULL empty string must survive the XML round trip
    (present-but-empty element -> '', not NULL) and a NULL timestamp (NaT
    in pandas) must be omitted, not serialized as literal 'NaT' text."""
    import datetime

    from hpcc_platform_spark.sources import pipe_through

    rows = [
        (1, "", datetime.datetime(2024, 1, 2, 3, 4, 5)),
        (2, None, None),
        (3, "x", None),
    ]
    df = spark.createDataFrame(rows, "id int, s string, ts timestamp")
    out = pipe_through(
        df, ["cat"], "id int, s string, ts timestamp", framing="xml"
    ).orderBy("id").collect()
    assert (out[0].s, out[0].ts) == ("", rows[0][2])
    assert (out[1].s, out[1].ts) == (None, None)
    assert (out[2].s, out[2].ts) == ("x", None)


def test_pipe_through_xml_custom_row_tag_and_schema_mismatch(spark):
    from hpcc_platform_spark.sources import pipe_through

    df = spark.createDataFrame([(7, "x")], "id int, s string")
    out = pipe_through(
        df, ["cat"], "id int, s string", framing="xml", row_tag="Rec"
    ).collect()
    assert out[0].id == 7 and out[0].s == "x"

    import pytest

    with pytest.raises(ValueError, match="framing"):
        pipe_through(df, ["cat"], "id int", framing="tsv")


def test_asof_join_backward_forward_tolerance(spark):
    """As-of semantics: backward takes the latest right row at-or-before,
    forward the earliest at-or-after, tolerance nulls distant matches,
    unmatched rows keep NULLs; name collisions get suffixed."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators import asof_join

    left = spark.createDataFrame(
        [("a", 10, 1), ("a", 25, 2), ("b", 5, 3), ("c", 7, 4)],
        "k string, t long, lid int",
    )
    right = spark.createDataFrame(
        [("a", 8, 100.0), ("a", 20, 200.0), ("a", 25, 250.0), ("b", 9, 300.0)],
        "k string, t long, price double",
    )
    back = {
        r.lid: (r.t_right, r.price)
        for r in asof_join(left, right, "k", "t", "t").collect()
    }
    assert back[1] == (8, 100.0)       # latest right at-or-before t=10
    assert back[2] == (25, 250.0)      # exact-time tie matches
    assert back[3] == (None, None)     # right only has t=9 > 5
    assert back[4] == (None, None)     # key never on right

    fwd = {
        r.lid: (r.t_right, r.price)
        for r in asof_join(left, right, "k", "t", "t", direction="forward").collect()
    }
    assert fwd[1] == (20, 200.0)
    assert fwd[2] == (25, 250.0)
    assert fwd[3] == (9, 300.0)
    assert fwd[4] == (None, None)

    tol = {
        r.lid: (r.t_right, r.price)
        for r in asof_join(
            left, right, "k", "t", "t", tolerance=F.lit(2)
        ).collect()
    }
    assert tol[1] == (8, 100.0)        # gap 2 <= 2 kept
    assert tol[2] == (25, 250.0)       # gap 0
    assert tol[3] == (None, None)


def test_asof_join_null_keys_never_match(spark):
    """NULL never equals NULL (join/ASOF semantics): NULL-key left rows
    survive with NULL payload and must NOT match NULL-key right rows."""
    from hpcc_platform_spark.operators import asof_join

    left = spark.createDataFrame(
        [(None, 10, 1), ("a", 10, 2)], "k string, t long, lid int"
    )
    right = spark.createDataFrame(
        [(None, 5, 99.0), ("a", 5, 100.0)], "k string, t long, price double"
    )
    got = {r.lid: (r.t_right, r.price) for r in asof_join(left, right, "k", "t", "t").collect()}
    assert got[1] == (None, None)   # NULL key: no match, row retained
    assert got[2] == (5, 100.0)
    assert len(got) == 2


def test_asof_join_plan_has_no_join_node(spark, sf_dir):
    """The as-of composition must stay a union + partitioned window: no
    join operator of any kind (and so no BNLJ range-join explosion)."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["asof_join_events"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct", "ShuffledHashJoin"):
        assert node not in plan, node
    assert "Window" in plan


def test_q15_shape_reuses_revenue_view_via_persist(spark, sf_dir):
    """workload_top_supplier consumes the revenue view twice (max + the
    equality filter); auto_persist must make both consumers read the
    cached aggregate — lineitem scanned once, two InMemoryTableScans."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_top_supplier"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Both consumers read the cache. (The plan TEXT prints the cached
    # relation's defining subtree under every InMemoryTableScan, so a
    # lineitem-scan text count would double-report; the cache hits are
    # the semantic fact.)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_q21_shape_uses_semi_anti_no_cartesian(spark, sf_dir):
    """The stacked EXISTS/NOT-EXISTS must resolve to leftsemi/leftanti
    joins on the order key — never a cartesian/BNLJ correlated probe."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_waiting_suppliers"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan, bad


def test_hypertable_rollup_single_scan_and_consistency(spark, sf_dir):
    """The rollup hierarchy must scan the raw table exactly once (explode
    fan-out, not union-of-branches), and coarser levels must re-aggregate
    finer partials consistently (day totals == sum of its hours)."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["hypertable_rollup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")

    rows = df.collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.level, []).append(r)
    day_total = sum(r.total for r in by_level["day"])
    hour_total = sum(r.total for r in by_level["hour"])
    minute_total = sum(r.total for r in by_level["minute"])
    assert abs(day_total - hour_total) < 1e-6
    assert abs(hour_total - minute_total) < 1e-6
    assert sum(r.n for r in by_level["day"]) == sum(r.n for r in by_level["minute"])


def test_rollup_hierarchy_rejects_bad_level_orderings(spark):
    """Coarse-first, repeated, unknown, and week->month orderings must be
    rejected up front — a coarse-first ordering would silently mislabel
    buckets and return wrong finer-level aggregates."""
    import pytest

    from hpcc_platform_spark.operators.aggregate import time_rollup_hierarchy

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 1.0)], "id int, ts string, v double"
    ).selectExpr("id", "cast(ts as timestamp) as ts", "v")
    for bad in (("day", "minute"), ("hour", "hour"), ("nanosec",), ("week", "month")):
        with pytest.raises(ValueError):
            time_rollup_hierarchy(df, "ts", "v", levels=bad)
    # The documented good ordering still works.
    assert time_rollup_hierarchy(df, "ts", "v", levels=("minute", "hour")).count() == 2


def test_dedup_clusters_raises_when_diameter_exceeds_max_iters(spark):
    """A chain longer than max_iters rounds must raise, not silently
    return half-merged components."""
    import pytest

    from hpcc_platform_spark.pipeline.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup_clusters(chain, max_iters=2)
    ok = dedup_clusters(chain, max_iters=15)
    assert {r.canonical_id for r in ok.collect()} == {0}


def test_q6_shape_pushdown_single_scan(spark, sf_dir):
    """Q6 shape (workload_forecast_revenue): one parquet scan with the
    date/discount/quantity predicates pushed into it, no join nodes, and
    only the 1-row partial-agg exchange."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_forecast_revenue"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, bad
    # pushed filters reach the scan (simpleString truncates; check the
    # full FileSourceScan metadata via the formatted explain)
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in formatted
    assert "l_quantity" in formatted.split("PushedFilters")[1][:400]


def test_q11_shape_single_fact_scan_broadcast_total(spark, sf_dir):
    """Q11 shape (workload_important_parts): the per-part view feeds both
    the grand total and the share filter — auto_persist must make the
    second consumer a cache read (not a second lineitem scan), and the
    1-row total must come back as a broadcast, never a shuffle join."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_important_parts"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q16_shape_broadcast_anti_join(spark, sf_dir):
    """Q16 shape (workload_part_supplier_variety): the NOT-IN exclusion
    must be a broadcast LEFT ANTI join and the part attribute filter a
    broadcast equi-join — the fact table shuffles only for the
    distinct-count aggregation."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_part_supplier_variety"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("CartesianProduct", "SortMergeJoin"):
        assert bad not in plan, bad


def test_q17_shape_exact_integer_threshold(spark, sf_dir):
    """Q17 shape (workload_small_order_revenue): smoke-check the result is
    non-vacuous (value equality is covered by the DuckDB oracle test; the
    integer-arithmetic threshold makes that comparison exact)."""
    from hpcc_platform_spark.queries import REGISTRY

    df = REGISTRY["workload_small_order_revenue"].fn(spark, sf_dir)
    row = df.collect()[0]
    assert row.small_lines > 0
    assert row.avg_yearly > 0


def test_join_atmost_range_abandons_per_left_row(spark):
    """The range tail makes the abandon decision per LHS row: the same
    RHS key group can be under the limit for one LHS row and over it for
    another — and abandoned LHS rows come back unmatched (LEFT OUTER)."""
    from hpcc_platform_spark.operators import join_atmost_range

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 10), (3, "z", 0)],
        "lid int, lk string, anchor int",
    )
    right = spark.createDataFrame(
        [("k", 99), ("k", 98), ("k", 9), ("k", 8), ("k", 7)],
        "rk string, rv int",
    )
    out = join_atmost_range(
        left, right,
        eq_pairs=[("lk", "rk")],
        range_cond=F.abs(F.col("anchor") - F.col("rv")) <= 3,
        atmost=2,
        left_id="lid",
    )
    rows = sorted((r.lid, r.rv) for r in out.collect())
    # lid=1 matches {99,98} (2 <= atmost: kept); lid=2 matches {9,8,7}
    # (3 > atmost: abandoned -> unmatched); lid=3 matches nothing.
    assert rows == [(1, 98), (1, 99), (2, None), (3, None)]
    strict = join_atmost_range(
        left, right,
        eq_pairs=[("lk", "rk")],
        range_cond=F.abs(F.col("anchor") - F.col("rv")) <= 3,
        atmost=2,
        left_id="lid",
        keep_unmatched=False,
    )
    assert sorted((r.lid, r.rv) for r in strict.collect()) == [(1, 98), (1, 99)]


def test_lookup_join_keep_tie_order_and_broadcast(spark):
    """KEEP(n) keeps exactly the first n per key under the DECLARED
    order, and the reduced RHS is broadcast (BroadcastHashJoin plan)."""
    from hpcc_platform_spark.operators import lookup_join_keep

    left = spark.createDataFrame([("a",), ("b",)], "k string")
    right = spark.createDataFrame(
        [("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z"), ("b", 9, "w")],
        "k string, ord int, payload string",
    )
    out = lookup_join_keep(left, right, keys=["k"], keep=2, order_by=["ord"])
    got = sorted((r.k, r.ord) for r in out.collect())
    assert got == [("a", 1), ("a", 2), ("b", 9)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
