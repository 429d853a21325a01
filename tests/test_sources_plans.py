"""Sources, workunit results, PERSIST cache semantics, scalar wrappers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpcc_platform_spark.functions import (
    clean_spaces,
    date_to_int,
    ecl_hashmd5,
    int_to_date,
    wild_match,
)
from hpcc_platform_spark.plans import PersistCache
from hpcc_platform_spark.sources import WorkunitResults, build_index, read_index


def test_workunit_results_roundtrip(spark):
    wu = WorkunitResults(spark)
    df = spark.range(5).withColumn("x", F.col("id") * 2)
    wu.write("doubled", df)
    wu.write("threshold", 42)
    assert wu.read("threshold") == 42
    assert wu.read("doubled").count() == 5
    assert spark.sql("SELECT sum(x) AS s FROM wu_doubled").head().s == 20
    assert wu.names() == ["doubled", "threshold"]


def test_persist_cache_hits_and_invalidates(spark, tmp_path):
    cache = PersistCache(spark, str(tmp_path / "persist"))
    df = spark.range(100).withColumn("y", F.col("id") % 7)
    first = cache.persist(df, "mod7")
    n_dirs = len(os.listdir(tmp_path / "persist"))
    again = cache.persist(df, "mod7")
    assert len(os.listdir(tmp_path / "persist")) == n_dirs  # cache hit
    assert first.count() == again.count() == 100
    # Different plan → different key → new materialization.
    cache.persist(df.where(F.col("y") == 0), "mod7")
    assert len(os.listdir(tmp_path / "persist")) == n_dirs + 1


def test_index_pushdown_reaches_scan(spark, sf_dir, tmp_path):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    idx_path = str(tmp_path / "part_idx")
    build_index(part, idx_path, keyed=["p_partkey"], n_parts=4)
    out = read_index(
        spark, idx_path, keyed_filter=F.col("p_partkey") <= 100, columns=["p_partkey"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,100)" in plan
    assert out.count() == part.where("p_partkey <= 100").count()


def test_date_codecs_roundtrip(spark):
    df = spark.sql("SELECT DATE'2024-02-29' AS d")
    got = df.select(
        date_to_int("d").alias("i"), int_to_date(date_to_int("d")).alias("back")
    ).head()
    assert got.i == 20240229
    assert str(got.back) == "2024-02-29"


def test_string_wrappers(spark):
    df = spark.createDataFrame([("  a   b  c ", "file_001.txt")], "s string, f string")
    row = df.select(
        clean_spaces("s").alias("cs"),
        wild_match("f", "file_*.txt").alias("m1"),
        wild_match("f", "file_???.txt").alias("m2"),
        wild_match("f", "data_*.txt").alias("m3"),
        ecl_hashmd5("s").alias("h"),
    ).head()
    assert row.cs == "a b c"
    assert row.m1 and row.m2 and not row.m3
    assert len(row.h) == 32


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Both sides bucketed on the join key -> no shuffle Exchange in the
    physical plan (broadcast disabled to force the SMJ path)."""
    from hpcc_platform_spark.queries.registry import REGISTRY

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["bucketed_join"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_published_query_replans_against_cache(spark, sf_dir):
    from pyspark.sql import functions as F

    from hpcc_platform_spark.plans.published import PublishedQuery

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def builder(inputs, segment):
        return inputs["customer"].where(F.col("c_mktsegment") == segment)

    q = PublishedQuery({"customer": cust}, builder)
    try:
        n1 = q(segment="BUILDING").count()
        n2 = q(segment="MACHINERY").count()
        assert n1 > 0 and n2 > 0
        assert q(segment="BUILDING").count() == n1  # stable across calls
    finally:
        q.unpublish()


def test_query_library_interface_check(spark, sf_dir):
    import pytest
    from pyspark.sql import functions as F

    from hpcc_platform_spark.plans.library import QueryLibrary

    lib = QueryLibrary()
    lib.define(
        "top_nations",
        lambda df, n: df.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(n),
        schema="n_regionkey int, n bigint",
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = lib.call("top_nations", nation, 3)
    assert out.count() <= 3

    lib.define("bad", lambda df: df.select("n_name"), schema="wrong_col string")
    with pytest.raises(TypeError, match="interface mismatch"):
        lib.call("bad", nation)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_shapes_headline_queries(spark, sf_dir):
    """Plan-shape contracts for the load-bearing operators: broadcast on
    the dim side, map-side partial aggregation, top-k without global sort,
    and filter pushdown into the scan."""
    from hpcc_platform_spark.queries.registry import REGISTRY

    plan = _plan(REGISTRY["lookup_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    plan = _plan(REGISTRY["groupagg_q1"].fn(spark, sf_dir))
    assert "partial_sum" in plan or "partial_" in plan  # map-side combine
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan

    plan = _plan(REGISTRY["topn"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no sort

    plan = _plan(REGISTRY["workload_shipping_priority"].fn(spark, sf_dir))
    assert "PushedFilters" in plan and "BUILDING" in plan  # segment filter at scan


def test_smart_join_aqe_runtime_selection(spark, sf_dir):
    """SMART join == AQE runtime join selection: a small RHS becomes a
    broadcast join AT RUNTIME (no hint in the plan); a large RHS stays a
    shuffle join. Results identical either way."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.operators import smart_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp_small = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = smart_join(li, supp_small, ["l_suppkey"])
    n = joined.count()  # run it so AQE finalizes the physical plan
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_plan, "AQE should broadcast the small RHS"
    assert "ShuffledHashJoin" not in final_plan.split("BroadcastHashJoin")[0]
    # Parity with an explicit shuffle join (broadcast disabled).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = smart_join(li, supp_small, ["l_suppkey"]).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert n == m


def test_compressed_write_roundtrip_and_smaller(spark, tmp_path):
    """OUTPUT,COMPRESSED analogue: zstd parquet roundtrips and compresses
    better than uncompressed."""
    import os

    from pyspark.sql import functions as F

    from hpcc_platform_spark.sources import write_parquet

    df = spark.range(50_000).select(
        F.col("id"), F.lpad(F.col("id").cast("string"), 30, "x").alias("pad")
    )
    zst, raw = str(tmp_path / "zst"), str(tmp_path / "raw")
    write_parquet(df, zst, compression="zstd")
    write_parquet(df, raw, compression="none")

    def size(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    assert spark.read.parquet(zst).count() == 50_000
    assert size(zst) < size(raw)


def test_keyed_filter_validation(spark, tmp_path):
    """KEYED/WILD validation against the persisted key layout (reference:
    hqlcfilter.hpp:64 buildSegments): non-key fields rejected, skipped
    leading keys need WILD, payload predicates go through payload_filter."""
    import pytest
    from pyspark.sql import functions as F

    from hpcc_platform_spark.sources.index import build_index, read_index

    df = spark.createDataFrame(
        [(i, i % 5, i % 3, f"p{i}") for i in range(100)],
        "k1 int, k2 int, k3 int, payload string",
    )
    path = str(tmp_path / "idx")
    build_index(df, path, keyed=["k1", "k2", "k3"], n_parts=2)

    # Valid: contiguous keyed prefix.
    assert read_index(spark, path, (F.col("k1") == 3) & (F.col("k2") == 3)).count() == 1

    # Non-keyed field inside the KEYED filter -> rejected with the layout.
    with pytest.raises(ValueError, match="non-keyed.*payload"):
        read_index(spark, path, F.col("payload") == "p1")

    # Skipping k1 while filtering k2 needs WILD(k1).
    with pytest.raises(ValueError, match="skips leading.*k1"):
        read_index(spark, path, F.col("k2") == 1)
    assert read_index(spark, path, F.col("k2") == 1, wild=["k1"]).count() == 20

    # Payload predicates are legal via payload_filter (and still applied).
    got = read_index(
        spark, path, F.col("k1") == 7, payload_filter=F.col("payload") == "p7"
    )
    assert got.count() == 1


def test_read_table_events_branches_on_observed_ts_dtype(spark, sf_dir, tmp_path):
    """The round-4 breaker: read_table must adapt to however the engine
    surfaces the events TIMESTAMP(NANOS) column — BIGINT nanos (legacy
    flag honored) or TIMESTAMP_NTZ (Spark 4.1 native) — instead of
    hard-coding one encoding. Both paths must yield identical session-TZ
    timestamps."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from hpcc_platform_spark.session import read_table

    # Real testdata path (whatever this Spark version reads it as).
    real = read_table(spark, sf_dir, "events")
    assert dict(real.dtypes)["ts"] == "timestamp"
    r = real.orderBy("event_id").select("event_id", "ts").head()

    # Synthetic nanos-as-long staging of the same rows -> LongType branch.
    staged_dir = str(tmp_path)
    nanos = real.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    nanos.write.mode("overwrite").parquet(os.path.join(staged_dir, "events.parquet"))
    via_long = read_table(spark, staged_dir, "events")
    assert dict(via_long.dtypes)["ts"] == "timestamp"
    r2 = via_long.orderBy("event_id").select("event_id", "ts").head()
    assert (r.event_id, r.ts) == (r2.event_id, r2.ts)
    assert isinstance(r.ts, datetime.datetime)


def test_read_table_sees_a_table_rewritten_at_the_same_path(spark, tmp_path):
    """The pinned-schema cache is keyed on (path, mtime): a parquet table
    rewritten in place with an extra column is read with its new schema."""
    from hpcc_platform_spark.session import read_table

    path = os.path.join(str(tmp_path), "t.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert read_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).withColumn("x", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(path)
    again = read_table(spark, str(tmp_path), "t")
    assert again.columns == ["id", "x"]
    assert sorted(r.x for r in again.collect()) == [0, 2, 4]


def test_scan_aggregate_pushes_into_footers(spark, sf_dir):
    """COUNT/MIN/MAX must be answered by the scan itself (PushedAggregation
    in the V2 parquet scan — TAKindexcount/TAKindexaggregate fusion), and
    agree with the ordinary full-scan aggregation."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.sources.index import (
        _v2_agg_pushdown,
        scan_count,
        scan_min_max,
    )

    path = f"{sf_dir}/lineitem.parquet"
    with _v2_agg_pushdown(spark):
        plan = (
            spark.read.parquet(path)
            .groupBy()
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedAggregation: [COUNT(*)]" in plan, plan

    df = spark.read.parquet(path)
    expect = df.agg(
        F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")
    ).collect()[0]
    assert scan_count(spark, path) == expect[0]
    mm = scan_min_max(spark, path, ["l_orderkey"])
    assert mm["l_orderkey"] == (expect[1], expect[2])


def test_zorder_tightens_secondary_column_stats(spark, sf_dir):
    """Clustering on the Morton curve must tighten per-file min/max spans
    of the SECONDARY column vs a plain leading-key sort (that's the whole
    point: footer pruning works for filters on either column), while
    preserving the exact row multiset."""
    import pyarrow.parquet as pq
    import glob

    from pyspark.sql import functions as F

    from hpcc_platform_spark.sources.zorder import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    base = "/tmp/hpcc_platform_spark_scratch/zorder_test"
    linear, zpath = f"{base}/linear", f"{base}/zorder"
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.mode("overwrite").parquet(linear)
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], n_parts=8)

    def partkey_span(path):
        total = 0.0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "l_partkey":
                        st = col.statistics
                        total += st.max - st.min
        return total

    lin_span, z_span = partkey_span(linear), partkey_span(zpath)
    assert z_span < lin_span * 0.7, (lin_span, z_span)

    # same rows, exactly
    a = li.groupBy().agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_partkey")
    ).collect()
    b = spark.read.parquet(zpath).groupBy().agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_partkey")
    ).collect()
    assert a == b


def test_plan_audit_reports_known_shapes(spark, sf_dir):
    """plan_report/assert_plan extract the contracts the plan tests grep
    for — exercised against queries whose shapes are already pinned."""
    from hpcc_platform_spark.plans.audit import assert_plan, plan_report
    from hpcc_platform_spark.queries.registry import REGISTRY

    # plan shapes depend on session state other tests legitimately mutate
    # (auto_persist caches turn scans into InMemoryTableScans) — reset
    spark.catalog.clearCache()

    r = assert_plan(
        REGISTRY["workload_forecast_revenue"].fn(spark, sf_dir),
        require_pushdown=True,
    )
    assert r.n_scans == 1 and not r.joins

    r = assert_plan(
        REGISTRY["lookup_join"].fn(spark, sf_dir),
        require_broadcast=True,
        forbid_join_types=("SortMergeJoin",),
    )
    assert "BroadcastHashJoin" in r.joins

    q5 = plan_report(REGISTRY["workload_local_supplier_volume"].fn(spark, sf_dir))
    assert not q5.has_cartesian and q5.aqe
    assert q5.n_scans == 6 and q5.scans_with_pushdown == 6

    # a deliberately bad plan trips the assertion
    import pytest

    li = spark.read.parquet(f"{sf_dir}/nation.parquet")
    bad = li.crossJoin(spark.read.parquet(f"{sf_dir}/region.parquet").hint("shuffle_replicate_nl"))
    with pytest.raises(AssertionError, match="CartesianProduct"):
        assert_plan(bad)


def test_plan_shapes_blas_and_ecl_having(spark, sf_dir):
    """Round-6 additions keep the scale contracts: the BLAS Gram matrix
    is join+agg (never cartesian), and the front door's GROUP+HAVING
    window shares its shuffle with the downstream TABLE aggregation
    (one exchange on the group key, not two)."""
    from hpcc_platform_spark.plans.audit import assert_plan
    from hpcc_platform_spark.queries.registry import REGISTRY

    spark.catalog.clearCache()

    r = assert_plan(REGISTRY["blas_gram_matrix"].fn(spark, sf_dir))
    assert r.joins, "gram matrix must be a join, not nested loops"
    assert not r.has_cartesian

    r = assert_plan(REGISTRY["ecl_front_having"].fn(spark, sf_dir))
    # window partitionBy(l_orderkey) + groupBy(l_orderkey): Catalyst
    # reuses the hash partitioning — exactly one shuffle exchange
    assert r.n_exchanges == 1, r.text


def test_index_bloom_filter_written_and_lookup_pushed(spark, tmp_path):
    """r6 VERDICT ask #6 (jhtree bloom parity, system/jhtree/bloom.hpp):
    an index built with bloom_cols on a non-leading key writes a parquet
    bloom filter for that column (checked in the footer), and a point
    lookup on it reaches the scan as a pushed filter — the row-group
    skip path for non-leading-key lookups."""
    import glob

    from pyspark.sql import functions as F

    from hpcc_platform_spark.sources.index import build_index, read_index

    path = str(tmp_path / "bloom_idx")
    # non-leading key 'second' must be high-cardinality: parquet skips
    # blooms for dictionary-encoded columns (the dictionary already
    # serves as an exact row-group filter)
    df = spark.range(200_000).selectExpr(
        "cast(id % 100 as long) as k", "id * 7919 as second", "id as payload"
    )
    build_index(df, path, ["k", "second"], n_parts=2, bloom_cols=["second"])

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    found_bloom = False
    for f in glob.glob(f"{path}/part-*.parquet"):
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            blocks = rd.getFooter().getBlocks()
            for bi in range(blocks.size()):
                cols = blocks.get(bi).getColumns()
                for ci in range(cols.size()):
                    c = cols.get(ci)
                    if c.getPath().toDotString() == "second":
                        if c.getBloomFilterOffset() > 0:
                            found_bloom = True
        finally:
            rd.close()
    assert found_bloom, "no parquet bloom filter written for bloom_cols"

    # point lookup on the non-leading key: pushed to the scan (bloom +
    # stats prune row groups inside the reader), correct result
    probe = 50_000 * 7919
    out = read_index(
        spark, path, keyed_filter=(F.col("second") == probe), wild=["k"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "second" in plan
    rows = out.collect()
    assert len(rows) == 1 and rows[0].payload == 50_000
    missing = 123  # 123 % 7919 != 0 -> absent
    assert (
        read_index(
            spark, path, keyed_filter=(F.col("second") == missing), wild=["k"]
        ).count()
        == 0
    )


def test_inline_dataset_lowers_literals_to_jvm_plan(spark):
    """inline_dataset must build a pure-JVM literal plan (no Python-RDD
    scan — `Scan ExistingRDD` re-runs a Python worker handshake per
    partition per action) for every shape, nested structs and empty
    rows included, with exact value/type parity against
    createDataFrame."""
    import datetime
    import decimal

    from hpcc_platform_spark.sources.inline import inline_dataset

    schema = (
        "i int, l long, s string, b boolean, f double, "
        "dec decimal(10,2), d date, ts timestamp, raw binary, arr array<int>"
    )
    rows = [
        (
            1, 2**40, "héllo", True, 1.5,
            decimal.Decimal("12.34"), datetime.date(2024, 2, 29),
            datetime.datetime(2024, 2, 29, 12, 0, 1), bytearray(b"\x00\xff"),
            [1, 2, 3],
        ),
        (None, None, None, None, None, None, None, None, None, []),
    ]
    got = inline_dataset(spark, rows, schema)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "EvalPython" not in plan, plan
    ref = spark.createDataFrame(rows, schema)
    # dtypes (not full schema): literal plans legitimately carry tighter
    # nullability than the Python-RDD path; values must match exactly
    assert got.dtypes == ref.dtypes
    assert got.collect() == ref.collect()

    def jvm_only(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "ExistingRDD" not in plan and "EvalPython" not in plan

    nested = inline_dataset(
        spark, [((1, "x"),)], "st struct<a:int,b:string>"
    )
    assert jvm_only(nested)
    assert nested.head().st.asDict() == {"a": 1, "b": "x"}
    empty = inline_dataset(spark, [], "x int, y string")
    assert jvm_only(empty)
    assert empty.count() == 0 and empty.schema.fieldNames() == ["x", "y"]


def test_rows_literal_encoder_rules(spark):
    """rows_literal: structs as tuple, Row or dict; NaN/±inf and
    unsigned-64 decimals exact; atomic element types; a value that does
    not fit its declared type raises (FAILFAST), as a map type does."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from hpcc_platform_spark.sources.inline import (
        inline_dataset,
        parse_schema,
        rows_literal,
    )

    st = parse_schema("a long, f double, u decimal(20,0)")
    rows = [
        (1, float("nan"), 2**64 - 1),
        Row(f=float("inf"), a=2, u=0),
        {"a": 3, "f": float("-inf")},
    ]
    got = spark.range(1).select(F.inline(rows_literal(rows, st))).collect()
    assert [r.a for r in got] == [1, 2, 3]
    assert got[0].f != got[0].f and got[1].f == float("inf")
    assert got[2].f == float("-inf") and got[2].u is None
    assert got[0].u == 2**64 - 1
    vals = rows_literal([3, None, 1], T.LongType())
    assert spark.range(1).select(vals.alias("v")).head().v == [3, None, 1]
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        spark.range(1).select(rows_literal([(2**40,)], parse_schema("i int"))).collect()
    with pytest.raises(TypeError):
        inline_dataset(spark, [(1.5,)], "i long")
    with pytest.raises(TypeError, match="map"):
        rows_literal([({"k": 1},)], parse_schema("m map<string,int>"))
