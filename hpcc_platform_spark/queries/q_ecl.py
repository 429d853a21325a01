"""ECL front-door coverage: real ECL query TEXT executed end-to-end
through eclfront.run_ecl and oracle-checked — proof that a reference
user's everyday query files run verbatim (lexer ecl/hql/hqllex.l,
grammar ecl/hql/hqlgram.y are the reference analogue of this funnel).
"""

from __future__ import annotations

from hpcc_platform_spark.queries.registry import query, tables


def _catalog(spark, sf_dir, *names):
    return dict(zip(names, tables(spark, sf_dir, *names)))


@query(
    "ecl_front_groupagg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice), 4) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_quantity < 10 AND l_discount > 0.05
    GROUP BY l_returnflag
    """,
    category="workload",
)
def ecl_front_groupagg(spark, sf_dir):
    """ECL text → filtered TABLE group-aggregate, executed verbatim."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    fast := lineitem(l_quantity < 10, l_discount > 0.05);
    OUTPUT(TABLE(fast,
        { l_returnflag,
          total := ROUND(SUM(GROUP, l_extendedprice), 4),
          n := COUNT(GROUP) },
        l_returnflag));
    """
    return run_ecl(ecl, _catalog(spark, sf_dir, "lineitem"))


@query(
    "ecl_front_join_topn",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 100000
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 10
    """,
    category="workload",
)
def ecl_front_join_topn(spark, sf_dir):
    """ECL text → filter, LOOKUP join, TOPN with tiebreak — verbatim."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    big := orders(o_totalprice > 100000);
    j := JOIN(big, customer, LEFT.o_custkey = RIGHT.c_custkey, LOOKUP);
    OUTPUT(TOPN(j, 10, -o_totalprice, o_orderkey));
    """
    out = run_ecl(ecl, _catalog(spark, sf_dir, "orders", "customer"))
    return out.select("o_orderkey", "c_name", "o_totalprice")


@query(
    "ecl_front_scalar_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 50000 AND 150000
      AND NOT o_orderstatus = 'F'
    """,
    category="workload",
)
def ecl_front_scalar_count(spark, sf_dir):
    """ECL text → IN / BETWEEN / NOT filter + dataset COUNT — verbatim."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    OUTPUT(COUNT(orders(
        o_orderpriority IN ['1-URGENT', '2-HIGH']
        AND o_totalprice BETWEEN 50000 AND 150000
        AND NOT (o_orderstatus = 'F'))));
    """
    return run_ecl(ecl, _catalog(spark, sf_dir, "orders"))


@query(
    "ecl_front_q3_shape",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    category="workload",
)
def ecl_front_q3_shape(spark, sf_dir):
    """TPC-H Q3 written as plain ECL text and executed through the front
    door: a LOOKUP join of the customer slice, a partitioned (un-flagged)
    join of that result with lineitem, a grouped TABLE with a computed revenue
    aggregate, TOPN with tiebreak — same plan family as the DataFrame
    version (workload_shipping_priority), proving a real multi-join
    reference query runs verbatim."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    bld := customer(c_mktsegment = 'BUILDING');
    ords := orders(o_orderdate < '1995-03-15');
    late := lineitem(l_shipdate > '1995-03-15');
    co := JOIN(ords, bld, LEFT.o_custkey = RIGHT.c_custkey, LOOKUP);
    col := JOIN(late, co, LEFT.l_orderkey = RIGHT.o_orderkey);
    rev := TABLE(col,
        { l_orderkey, o_orderdate,
          revenue := ROUND(SUM(GROUP, l_extendedprice * (1 - l_discount)), 4) },
        l_orderkey, o_orderdate);
    OUTPUT(TOPN(rev, 10, -revenue, l_orderkey));
    """
    out = run_ecl(
        ecl, _catalog(spark, sf_dir, "customer", "orders", "lineitem")
    )
    return out.select("l_orderkey", "revenue", "o_orderdate")


@query(
    "ecl_front_merge_sample",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 10000
    ), numbered AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_totalprice FROM numbered WHERE rn % 7 = 1
    """,
    category="workload",
)
def ecl_front_merge_sample(spark, sf_dir):
    """ECL text → MERGE of two sorted slices + positional SAMPLE — the
    front door tracks the merged order so SAMPLE is deterministic
    (TAKmerge :937 + TAKsample :899 lowered through the global
    numbering operator)."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    a := SORT(orders(o_totalprice > 200000), o_orderkey);
    b := SORT(orders(o_totalprice < 10000), o_orderkey);
    m := MERGE(a, b, SORTED(o_orderkey));
    OUTPUT(SAMPLE(m, 7));
    """
    out = run_ecl(ecl, _catalog(spark, sf_dir, "orders"))
    return out.select("o_orderkey", "o_totalprice")


@query(
    "ecl_front_having",
    oracle="""
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 4) AS total
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) > 5
    """,
    category="workload",
)
def ecl_front_having(spark, sf_dir):
    """ECL text → GROUP + HAVING with a COUNT(GROUP) condition
    (TAKhavingselect :1014): the group filter is windowed over the keys
    so surviving groups keep all their rows for the downstream TABLE."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    g := GROUP(lineitem, l_orderkey);
    big := HAVING(g, COUNT(GROUP) > 5);
    OUTPUT(TABLE(big,
        { l_orderkey,
          n := COUNT(GROUP),
          total := ROUND(SUM(GROUP, l_extendedprice), 4) },
        l_orderkey));
    """
    return run_ecl(ecl, _catalog(spark, sf_dir, "lineitem"))


@query(
    "ecl_front_denormalize",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           COUNT(l.l_orderkey) AS n_children,
           COALESCE(ROUND(SUM(l.l_quantity), 4), 0.0) AS child_qty
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    category="workload",
)
def ecl_front_denormalize(spark, sf_dir):
    """ECL text → DENORMALIZE(..., GROUP, TRANSFORM(SELF.items :=
    ROWS(RIGHT), SELF := LEFT)) (TAKdenormalizegroup :1068): child rows
    folded into a nested list; flattened to counts/sums for the oracle."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.eclfront import run_ecl

    # Child projected to the consumed fields BEFORE the nest (guide §2.2,
    # project early): collect_list buffers are opaque to Catalyst's nested-
    # column pruning, so nesting the full 10-field child record shuffled
    # and broadcast ~10x the bytes the flattening select below reads
    # (measured 3.5 s -> 2.0 s at sf0.1). Same DENORMALIZE,GROUP lowering,
    # same declared output.
    ecl = """
    OUTPUT(DENORMALIZE(orders, TABLE(lineitem, {l_orderkey, l_quantity}),
        LEFT.o_orderkey = RIGHT.l_orderkey, GROUP,
        TRANSFORM(SELF.items := ROWS(RIGHT), SELF := LEFT)));
    """
    out = run_ecl(ecl, _catalog(spark, sf_dir, "orders", "lineitem"))
    return out.select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.size("items"), F.lit(0)).cast("long").alias("n_children"),
        F.coalesce(
            F.round(
                F.aggregate("items", F.lit(0.0), lambda a, x: a + x["l_quantity"]),
                4,
            ),
            F.lit(0.0),
        ).alias("child_qty"),
    )


@query(
    "ecl_front_append_scalar_fns",
    oracle="""
    SELECT o_orderkey,
           LOWER(o_orderpriority) AS pr,
           CAST(LENGTH(o_orderstatus) AS INT) AS plen,
           LEAST(o_totalprice, 100000.0) AS capped
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    category="workload",
)
def ecl_front_append_scalar_fns(spark, sf_dir):
    """ECL text → dataset append (inline FUNNEL), DISTRIBUTE(HASH(...)),
    LIMIT guard, and the scalar surface: STD.Str.ToLowerCase, LENGTH,
    two-argument MIN — all lowered to JVM expressions."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    urgent := orders(o_orderpriority = '1-URGENT');
    high := orders(o_orderpriority = '2-HIGH');
    both := DISTRIBUTE(urgent + high, HASH(o_custkey));
    OUTPUT(TABLE(both, { o_orderkey,
        pr := STD.Str.ToLowerCase(o_orderpriority),
        plen := LENGTH(o_orderstatus),
        capped := MIN(o_totalprice, 100000.0) }));
    """
    return run_ecl(ecl, _catalog(spark, sf_dir, "orders"))


@query(
    "prefix_join_atmost",
    oracle="""
    WITH L AS (
      SELECT substr(p_name, 1, 9) AS name, p_partkey AS val
      FROM part WHERE p_partkey % 7 = 0
    ), R AS (
      SELECT substr(p_name, 1, CAST(9 + p_partkey % 4 AS BIGINT)) AS name,
             p_partkey AS val
      FROM part WHERE p_partkey % 3 = 0
    ), ln AS (
      SELECT name, val, ROW_NUMBER() OVER (ORDER BY name, val) AS uid FROM L
    ), rn AS (
      SELECT name, val, ROW_NUMBER() OVER (ORDER BY name, val) AS uid FROM R
    ), u AS (
      SELECT name, 0 AS side, uid FROM ln
      UNION ALL SELECT name, 1 AS side, uid FROM rn
    ), urn AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY name, side, uid) AS urn FROM u
    ), pos AS (
      SELECT uid, urn - uid + 1 AS pos1 FROM urn WHERE side = 0
    ), lp AS (
      SELECT ln.name, ln.val, ln.uid, pos.pos1,
             COALESCE(LAG(pos.pos1) OVER (ORDER BY ln.uid), 1) AS pprev
      FROM ln JOIN pos USING (uid)
    ), band AS (
      SELECT lp.*, UNNEST(range(CAST(greatest(pos1 - 4, 1) AS BIGINT),
                                CAST(pos1 + 4 AS BIGINT))) AS j
      FROM lp
    ), cand AS (
      SELECT band.*, rn.name AS rname FROM band JOIN rn ON rn.uid = band.j
    ), vt AS (
      SELECT *,
        CASE WHEN name = rname THEN 0
             ELSE len(list_filter(
                    range(1, CAST(least(length(name), length(rname))
                                  AS BIGINT) + 1),
                    k -> substr(name, 1, CAST(k AS BIGINT))
                       = substr(rname, 1, CAST(k AS BIGINT)))) + 1
        END AS v
      FROM cand
    ), mem AS (
      SELECT * FROM vt
      WHERE (j < pos1 AND (j >= pprev OR v >= 2))
         OR j = pos1
         OR (j > pos1 AND (v >= 2 OR v = 0))
    ), trimd AS (
      SELECT *,
        SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY uid) AS pex,
        COUNT(CASE WHEN v > 0 THEN 1 END) OVER (
          PARTITION BY uid ORDER BY v DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pge
      FROM mem
    )
    SELECT DISTINCT name AS lname, rname
    FROM trimd
    WHERE pex <= 3 AND (v = 0 OR pex + pge <= 3)
    ORDER BY lname, rname
    """,
    category="join",
)
def prefix_join_atmost(spark, sf_dir):
    """Limited prefix-match JOIN (JFlimitedprefixjoin eclhelper.hpp
    :1740; CRollingCache thsortu.cpp:67,110,1424-1506): LEFT.name[1..*]
    = RIGHT.name[1..*] matches on the shorter string's length with
    ATMOST(cond, 3) — the rolling-cache membership + whole-class
    trimming semantics. Runs the eclfront physical operator (global
    ranking + positional band join, _prefix_join_prepare /
    _prefix_join_filter) over derived part-name prefixes; the DuckDB
    oracle replicates the same algorithm (union rank -> pos, band,
    composite prefix-diff v, membership, class trim) with window
    functions. Output is the DISTINCT matched name-pair set, which is
    invariant to equal-key tie-breaks at the band edges."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    L := TABLE(part(p_partkey % 7 = 0),
        { STRING name := p_name[1..9]; UNSIGNED8 val := p_partkey; });
    R := TABLE(part(p_partkey % 3 = 0),
        { STRING name := p_name[1..(9 + p_partkey % 4)];
          UNSIGNED8 val := p_partkey; });
    rec := { STRING lname; STRING rname; };
    rec t(L le, R ri) := TRANSFORM
        SELF.lname := le.name; SELF.rname := ri.name;
    END;
    J := JOIN(L, R, LEFT.name[1..*] = RIGHT.name[1..*],
        t(LEFT, RIGHT), ATMOST(LEFT.name[1..*] = RIGHT.name[1..*], 3));
    OUTPUT(DEDUP(SORT(J, lname, rname), lname, rname));
    """
    out = run_ecl(ecl, _catalog(spark, sf_dir, "part"))
    return out.select("lname", "rname")
