"""Targeted tests for the r2 ADVICE items: pipe schema parsing + streaming,
join_limit single-scan fail guard, helper float-sort alignment."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hpcc_platform_spark.operators import join_limit
from hpcc_platform_spark.sources import pipe_through
from tests.helpers import _canon


def test_pipe_parses_parameterized_types(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, s string"
    )
    out = pipe_through(df, ["cat"], "id decimal(10,2), s string")
    rows = sorted((float(r.id), r.s) for r in out.collect())
    assert rows == [(1.0, "a"), (2.0, "b")]


def test_pipe_streams_large_partition(spark):
    n = 60_000  # several Arrow batches and read_csv chunks
    df = spark.range(n).select(F.col("id"), (F.col("id") * 2).alias("v")).coalesce(2)
    out = pipe_through(df, ["cat"], "id bigint, v bigint")
    assert out.count() == n
    assert out.agg(F.sum("v")).head()[0] == n * (n - 1)


def test_pipe_empty_partitions(spark):
    df = spark.range(0).select(F.col("id"))
    assert pipe_through(df, ["cat"], "id bigint").count() == 0


def test_pipe_nonzero_exit_raises(spark):
    df = spark.range(5).select(F.col("id"))
    out = pipe_through(df, ["sh", "-c", "cat; exit 3"], "id bigint")
    with pytest.raises(Exception, match="exited with 3"):
        out.count()


def test_join_limit_fail_is_lazy_and_single_plan(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    # Construction must NOT raise (no eager count)...
    out = join_limit(left, right, ["k"], limit=1, on_exceed="fail")
    # ...the error fires at execution, from the in-plan guard.
    with pytest.raises(Exception, match="JOIN LIMIT"):
        out.collect()
    ok = join_limit(left, right, ["k"], limit=2, on_exceed="fail")
    assert ok.count() == 3


def test_canon_aligns_rows_despite_float_ulp_noise():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0000000001, 1.0]})
    b = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 1.0000000001]})
    ga, gb = _canon(a), _canon(b)
    # Same non-float key order on both sides even though raw float sort
    # order would have swapped the rows.
    assert list(ga["k"]) == list(gb["k"]) == ["x", "y"]


# --- r3 ADVICE items -------------------------------------------------------


def test_fixed_width_negatives_large_doubles_and_nulls(spark, tmp_path):
    """fixedwidth write must be reversible for negative ints, |x| >= 1000
    doubles (no thousands-separator commas), and NULL fields (blank field,
    not a corrupted whole record)."""
    from hpcc_platform_spark.sources import (
        FixedLayout,
        read_fixed_width,
        write_fixed_width,
    )

    layout = FixedLayout(
        [
            ("i", 8, "int"),
            ("d", 16, "double"),
            ("s", 6, "string"),
            ("dt", 8, "date"),
        ]
    )
    df = spark.createDataFrame(
        [
            (-42, -1234567.5, "neg", "1994-01-02"),
            (7, 98765432.25, "big", "1994-01-03"),
            (None, None, "nul", None),
            (0, 0.0, "", "1994-01-04"),
        ],
        "i int, d double, s string, dt string",
    ).select("i", "d", "s", F.col("dt").cast("date").alias("dt"))
    path = str(tmp_path / "fw")
    write_fixed_width(df, path, layout)
    out = read_fixed_width(spark, path, layout)
    got = sorted(
        ((r.i, r.d, r.s, str(r.dt) if r.dt else None) for r in out.collect()),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0),
    )
    assert got == [
        (-42, -1234567.5, "neg", "1994-01-02"),
        (0, 0.0, "", "1994-01-04"),
        (7, 98765432.25, "big", "1994-01-03"),
        (None, None, "nul", None),
    ]


def test_numbered_counter_is_64bit(spark):
    from hpcc_platform_spark.operators import global_row_number

    df = spark.range(10).select(F.col("id").alias("k"))
    out = global_row_number(df, ["k"], name="rn")
    assert dict(out.dtypes)["rn"] == "bigint"


def test_numbering_cache_never_evicts_implicitly(spark):
    """The global running ITERATE collects one aggregate per range
    partition while the query is built, then reads the same partitions
    again when the query runs. Its ranged frame must stay cached until
    release_numbering_caches(): a frame dropped before its consumer ran
    would re-sample its range exchange, so the collected prefixes would
    belong to other partitions. Past the threshold a ResourceWarning is
    given, never an eviction. Plain numbering caches nothing."""
    import warnings

    from hpcc_platform_spark.operators import global_row_number, iterate_running
    from hpcc_platform_spark.operators.numbering import (
        _WARN_THRESHOLD,
        _live_caches,
        release_numbering_caches,
    )

    release_numbering_caches()
    df = spark.range(100).select(F.col("id").alias("k"))
    global_row_number(df, ["k"]).count()
    assert not _live_caches
    n = _WARN_THRESHOLD + 2
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for _ in range(n):
            iterate_running(df, ["k"], s=F.sum("k")).count()
    assert len(_live_caches) == n  # nothing evicted behind the consumer
    assert any(issubclass(w.category, ResourceWarning) for w in caught)
    release_numbering_caches()
    assert not _live_caches


def test_iterate_running_null_prefix_carries_earlier_partitions(spark):
    """Rows whose partition-local running sum is NULL (leading all-NULL rows
    in a later range partition) must still see earlier partitions' prefix."""
    from hpcc_platform_spark.operators import iterate_running

    rows = [(i, float(i)) for i in range(1, 51)] + [
        (i, None) for i in range(51, 61)
    ] + [(i, 1.0) for i in range(61, 71)]
    df = spark.createDataFrame(rows, "pos int, v double")
    out = iterate_running(df, order_by=["pos"], rsum=F.sum("v"))
    got = {r.pos: r.rsum for r in out.collect()}
    # After the NULL run, the running sum must still include rows 1..50.
    assert got[55] == sum(range(1, 51))
    assert got[61] == sum(range(1, 51)) + 1.0
    # All-NULL leading rows before any value stay NULL? (none here; check
    # the first row is its own value)
    assert got[1] == 1.0


def test_iterate_running_all_null_leading_rows_stay_null(spark):
    from hpcc_platform_spark.operators import iterate_running

    rows = [(1, None), (2, None), (3, 5.0), (4, 2.0)]
    df = spark.createDataFrame(rows, "pos int, v double")
    out = iterate_running(df, order_by=["pos"], rsum=F.sum("v"))
    got = {r.pos: r.rsum for r in out.collect()}
    assert got[1] is None and got[2] is None
    assert got[3] == 5.0 and got[4] == 7.0


def test_assert_sorted_null_keys_and_column_rejection(spark):
    from hpcc_platform_spark.operators import assert_sorted

    # NULLS FIRST is valid Spark asc order — must pass, not TypeError.
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",)], "k string"
    ).coalesce(1)
    assert assert_sorted(df, "k").count() == 3
    # NULL after a value violates asc NULLS FIRST within the partition.
    bad = spark.createDataFrame([("a",), (None,)], "k string").coalesce(1)
    with pytest.raises(Exception, match="SORTED"):
        assert_sorted(bad, "k").collect()
    with pytest.raises(TypeError, match="column NAMES"):
        assert_sorted(df, F.col("k"))


def test_assert_sorted_nan_sorts_last_distinct_from_null(spark):
    """Spark asc float order is NULL... values... NaN; a correctly-sorted
    frame containing both must pass, and NaN-before-value must fail."""
    import math

    from hpcc_platform_spark.operators import assert_sorted

    ok = spark.createDataFrame(
        [(None,), (1.5,), (2.5,), (float("nan"),)], "v double"
    ).coalesce(1).sortWithinPartitions("v")
    rows = assert_sorted(ok, "v").collect()
    assert len(rows) == 4
    assert math.isnan(rows[-1].v)

    import pandas as pd
    import pytest
    bad = spark.createDataFrame(
        [(float("nan"),), (1.5,)], "v double"
    ).coalesce(1)
    with pytest.raises(Exception, match="SORTED assertion failed"):
        assert_sorted(bad, "v").collect()


def test_fixed_width_numeric_overflow_raises_not_corrupts(spark, tmp_path):
    """A magnitude wider than the field raises at write: a truncated
    number would read back as a DIFFERENT valid number. LONG_MIN must not
    trip ANSI abs() overflow either."""
    from hpcc_platform_spark.sources import (
        FixedLayout,
        read_fixed_width,
        write_fixed_width,
    )

    layout = FixedLayout([("i", 6, "int"), ("d", 10, "double")])

    bad_int = spark.createDataFrame([(-1234567, 1.0)], "i int, d double")
    with pytest.raises(Exception, match="fixed-width overflow.*'i'"):
        write_fixed_width(bad_int, str(tmp_path / "a"), layout)

    bad_dbl = spark.createDataFrame([(1, -123456.75)], "i int, d double")
    with pytest.raises(Exception, match="fixed-width overflow.*'d'"):
        write_fixed_width(bad_dbl, str(tmp_path / "b"), layout)

    long_layout = FixedLayout([("v", 20, "long")])
    edge = spark.createDataFrame([(-(2**63),)], "v long")
    write_fixed_width(edge, str(tmp_path / "c"), long_layout)
    assert read_fixed_width(spark, str(tmp_path / "c"), long_layout).head().v == -(2**63)


def test_group_does_not_alias_onto_ungrouped_name(spark):
    """r6 ADVICE (high): GROUP(d, k) must not register grouped state on
    the input object — TABLE over the ungrouped name stays a single
    global aggregate even after the name was GROUPed elsewhere."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{1}, {1}, {2}], { integer v });
    g := GROUP(SORT(d, v), v);
    OUTPUT(TABLE(d, { c := COUNT(GROUP) }));
    """
    out = run_ecl_actions(ecl, {}, spark=spark)[-1].collect()
    assert len(out) == 1 and out[0].c == 3


def test_group_result_still_grouped_for_having(spark):
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{1}, {1}, {2}], { integer v });
    OUTPUT(SORT(HAVING(GROUP(d, v), COUNT(GROUP) > 1), v));
    """
    out = run_ecl_actions(ecl, {}, spark=spark)[-1].collect()
    assert [r.v for r in out] == [1, 1]


def test_extract_tri_unit_diagonal_materializes_implicit_zeros(spark):
    """r6 ADVICE (low): a diagonal cell absent from the COO input is an
    implicit zero and must still become 1.0 under unit_diagonal."""
    from hpcc_platform_spark.operators.blas import extract_tri

    # 3x3 with NO (1,1) entry; (2,2) present with value 7
    m = spark.createDataFrame(
        [(0, 0, 5.0), (0, 2, 3.0), (2, 2, 7.0), (2, 0, 4.0)],
        "i long, j long, v double",
    )
    got = sorted(
        (r.i, r.j, r.v) for r in extract_tri(m, upper=True, unit_diagonal=True).collect()
    )
    assert got == [(0, 0, 1.0), (0, 2, 3.0), (1, 1, 1.0), (2, 2, 1.0)]
    # explicit n extends past observed indices
    got_n = sorted(
        (r.i, r.j, r.v)
        for r in extract_tri(m, upper=True, unit_diagonal=True, n=4).collect()
    )
    assert (3, 3, 1.0) in got_n


# ---- round-8 ADVICE items ----


def test_dedup_fields_and_condition_combine(spark):
    """DEDUP(ds, f1, cond): listed key fields AND the general match
    condition must all agree for rows to match (r8 ADVICE #1)."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    ds := DATASET([{1, 1}, {1, 2}, {2, 3}, {2, 3}, {2, 9}],
                  {UNSIGNED k, UNSIGNED v});
    s := SORT(ds, k, v);
    OUTPUT(DEDUP(s, k, LEFT.v = RIGHT.v));
    """
    rows = [(r.k, r.v) for r in run_ecl(ecl, {}, spark=spark).collect()]
    # matches need BOTH k equal and v equal: (2,3),(2,3) collapse; the
    # cross-k v ties and same-k v mismatches all survive
    assert rows == [(1, 1), (1, 2), (2, 3), (2, 9)]


def test_dedup_two_conditions_and_together(spark):
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    ds := DATASET([{1, 1}, {1, 2}, {1, 2}, {2, 2}],
                  {UNSIGNED k, UNSIGNED v});
    s := SORT(ds, k, v);
    OUTPUT(DEDUP(s, LEFT.k = RIGHT.k, LEFT.v = RIGHT.v));
    """
    rows = [(r.k, r.v) for r in run_ecl(ecl, {}, spark=spark).collect()]
    assert rows == [(1, 1), (1, 2), (2, 2)]


def test_right_outer_default_join_fills_left_side(spark):
    """RIGHT/FULL outer misses fill LEFT-side columns with the type's
    empty value, same as the right side (r8 ADVICE #2)."""
    from hpcc_platform_spark.eclfront import run_ecl

    ecl = """
    l := DATASET([{1, 'a'}], {UNSIGNED k, STRING3 lv});
    r := DATASET([{1, 'x'}, {7, 'y'}], {UNSIGNED k, STRING3 rv});
    j := JOIN(l, r, LEFT.k = RIGHT.k, RIGHT OUTER);
    OUTPUT(SORT(j, rv));
    """
    rows = [(r.k, r.lv, r.rv) for r in run_ecl(ecl, {}, spark=spark).collect()]
    assert rows == [(1, "a  ", "x  "), (0, "   ", "y  ")]


def test_when_success_actions_fire_in_registration_order(spark, tmp_path):
    """Multiple SUCCESS contingencies on one OUTPUT drain FIFO
    (r8 ADVICE #3)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    ds := DATASET([{1}], {UNSIGNED v});
    a1 := OUTPUT(DATASET([{'first'}], {STRING5 tag}), NAMED('t1'));
    a2 := OUTPUT(DATASET([{'secnd'}], {STRING5 tag}), NAMED('t2'));
    main := WHEN(WHEN(ds, a1, SUCCESS), a2, SUCCESS);
    OUTPUT(main);
    OUTPUT(DATASET(WORKUNIT('t1'), {STRING5 tag})
           + DATASET(WORKUNIT('t2'), {STRING5 tag}), NAMED('both'));
    """
    outs = run_ecl_actions(ecl, {}, spark=spark)
    tags = [r.tag for r in outs[-1].collect()]
    assert tags == ["first", "secnd"]


def test_multikey_dict_nonconstant_probe(spark):
    """A non-constant ROW probe against a composite-key dictionary
    compares component-wise instead of failing in isin (r8 ADVICE #4)."""
    from hpcc_platform_spark.eclfront import run_ecl

    src = spark.createDataFrame(
        [(("x  ", 1), 5), (("x  ", 2), 6), (("y  ", 2), 7)],
        "kr struct<a:string,b:bigint>, n bigint",
    )
    ecl = """
    d := DICTIONARY([{'x', 1 => 10}, {'y', 2 => 20}],
                    {STRING3 a, UNSIGNED b => UNSIGNED v});
    OUTPUT(TABLE(src, {n, hit := kr IN d}));
    """
    rows = [
        (r.n, r.hit)
        for r in run_ecl(ecl, {"src": src}, spark=spark).collect()
    ]
    assert rows == [(5, True), (6, False), (7, True)]


# ---- round-9 ADVICE items ------------------------------------------------


def test_patmatch_no_duplicate_definitions():
    """find_path/_tree_skip were once defined twice (r9 ADVICE #1); guard
    against same-module re-definition creeping back."""
    import ast
    import inspect

    from hpcc_platform_spark.operators import patmatch

    tree = ast.parse(inspect.getsource(patmatch))
    names = [
        n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    ]
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"duplicate module-level definitions: {dupes}"


def test_dbz_fail_fires_per_row_not_just_constants(spark):
    """#option('divideByZero','fail') aborts on a zero divisor in ROW
    data, not only in constant-folded arithmetic (r9 ADVICE #2)."""
    from hpcc_platform_spark.eclfront import run_ecl

    src = spark.createDataFrame([(10, 2), (7, 0)], "a bigint, b bigint")
    ecl = """
    #option('divideByZero', 'fail');
    OUTPUT(TABLE(src, {q := a / b}));
    """
    with pytest.raises(Exception, match="Division by zero"):
        run_ecl(ecl, {"src": src}, spark=spark).collect()
    # without the option, the zero-divisor row yields 0 (ECL default)
    ok = run_ecl(
        "OUTPUT(TABLE(src, {q := a / b}));", {"src": src}, spark=spark
    ).collect()
    assert [r.q for r in ok] == [5.0, 0.0] or [r.q for r in ok] == [5.0, None]


def test_unquote_plain_string_keeps_backslash_u(spark):
    """\\uXXXX decodes only inside u'...' unicode literals; a plain
    STRING literal keeps the escape-char passthrough (r9 ADVICE #4)."""
    from hpcc_platform_spark.eclfront import _unquote

    assert _unquote("u'ab\\u6c34cd'") == "ab水cd"
    assert _unquote("'ab\\u6c34cd'") == "abu6c34cd"  # \u -> u passthrough


def test_rx_groups_ignores_parens_in_char_class():
    """The fallback scanner must not count '(' inside [...] as a capture
    group (r9 ADVICE #5). \\p{L} forces the fallback path."""
    from hpcc_platform_spark.eclfront import _rx_groups

    assert _rx_groups(r"\p{L}([(])x") == 1
    assert _rx_groups(r"\p{L}[()](a)(b)") == 2


def test_scalar_catch_is_per_evaluation(spark):
    """CATCH over a dbz-fail division falls back PER ROW: a failure
    that first appears on row 2 yields the fallback on that row only,
    keeping row 1's value (r7 ask #6, closed r10). The old limit(1)
    probe kept the failing branch and aborted the whole workunit."""
    from hpcc_platform_spark.eclfront import run_ecl

    src = spark.createDataFrame([(1, 10), (2, 0), (3, 5)], "k bigint, d bigint")
    ecl = """
    #option('divideByZero', 'fail');
    OUTPUT(SORT(TABLE(src, {k, q := CATCH(100 DIV d, -1)}), k));
    """
    rows = run_ecl(ecl, {"src": src}, spark=spark).collect()
    assert [(r.k, r.q) for r in rows] == [(1, 10), (2, -1), (3, 20)]


def test_scalar_catch_constant_failure_takes_fallback(spark):
    """CATCH(1/0, fb) under dbz-fail: the constant-folded failure is
    caught at parse time and the fallback is returned."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    #option('divideByZero', 'fail');
    OUTPUT(CATCH(1 DIV 0, 42));
    """
    (df,) = run_ecl_actions(ecl, {}, spark=spark)
    assert df.collect()[0][0] == 42


# ---- round-10 ADVICE items -----------------------------------------------


def test_when_success_scope_survives_output_deferral(spark):
    """A WHEN-SUCCESS action registered inside a FUNCTION body keeps its
    captured parameter scope when deferred past the OUTPUT that
    references it (r10 ADVICE #1)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    f(unsigned amount) := FUNCTION
      doubled := amount + amount;
      note := OUTPUT(DATASET([{doubled}], {unsigned v}), NAMED('side'));
      ds := DATASET([{amount}], {unsigned v});
      RETURN WHEN(ds, note, SUCCESS);
    END;
    OUTPUT(f(21));
    """
    dfs = run_ecl_actions(ecl, {}, spark=spark)
    vals = sorted(r[0] for df in dfs for r in df.collect())
    assert vals == [21, 42]


def test_dict_key_field_nonconstant_probe_string_miss(spark):
    """Reading a STRING key field back with a non-constant probe misses
    to '' (the type's empty value), not '0' (r10 ADVICE #3)."""
    from hpcc_platform_spark.eclfront import run_ecl

    src = spark.createDataFrame([("red",), ("nope",)], "c string")
    ecl = """
    d := DICTIONARY([{'red' => 1}, {'blue' => 2}],
                    {STRING colour => unsigned code});
    OUTPUT(TABLE(src, {k := d[c].colour}));
    """
    rows = [r.k for r in run_ecl(ecl, {"src": src}, spark=spark).collect()]
    assert rows == ["red", ""]


def test_catch_set_literal_first_arg(spark):
    """CATCH whose failing first argument contains a bracketed set
    literal with top-level commas still finds the real fallback comma
    (r10 ADVICE #4)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    #option('divideByZero', 'fail');
    OUTPUT(CATCH((1 DIV 0) IN [1, 2, 3], false));
    """
    (df,) = run_ecl_actions(ecl, {}, spark=spark)
    assert df.collect()[0][0] is False


# ---- round-11 ADVICE items -----------------------------------------------


def test_mergejoin_mofn_counts_distinct_inputs(spark):
    """MERGEJOIN MOFN(m[,max]) keeps a stepped-key class when between m
    and max DISTINCT inputs contribute rows, and merges every row of a
    qualifying class (r11 ADVICE #2 / VERDICT What's-wrong #1 — the
    option was previously parsed and silently dropped)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    r := { unsigned doc, unsigned wpos };
    d1 := DATASET([{1,1},{1,5},{2,2},{4,1}], r);
    d2 := DATASET([{1,2},{2,3},{3,1}], r);
    d3 := DATASET([{2,9},{3,4},{5,1}], r);
    OUTPUT(MERGEJOIN([d1, d2, d3], STEPPED(LEFT.doc = RIGHT.doc),
                     SORTED(doc, wpos), DEDUP, MOFN(2)));
    OUTPUT(MERGEJOIN([d1, d2, d3], STEPPED(LEFT.doc = RIGHT.doc),
                     SORTED(doc, wpos), DEDUP, MOFN(2, 2)));
    """
    atleast2, exactly2 = run_ecl_actions(ecl, {}, spark=spark)
    assert [(int(r[0]), int(r[1])) for r in atleast2.collect()] == [
        (1, 1), (1, 2), (1, 5), (2, 2), (2, 3), (2, 9), (3, 1), (3, 4),
    ]
    # doc 2 matches all three inputs -> excluded by max=2
    assert [(int(r[0]), int(r[1])) for r in exactly2.collect()] == [
        (1, 1), (1, 2), (1, 5), (3, 1), (3, 4),
    ]


def test_mergejoin_unknown_bare_option_raises(spark):
    """A bare identifier that is not a record field no longer becomes a
    silent sort key (r11 VERDICT What's-wrong #6)."""
    import pytest

    from hpcc_platform_spark.eclfront import EclSyntaxError, run_ecl_actions

    ecl = """
    r := { unsigned doc };
    d1 := DATASET([{1}], r);
    d2 := DATASET([{1}], r);
    OUTPUT(MERGEJOIN([d1, d2], STEPPED(LEFT.doc = RIGHT.doc), dedpu));
    """
    with pytest.raises(EclSyntaxError, match="dedpu"):
        run_ecl_actions(ecl, {}, spark=spark)


def test_promote_superfile_list_string_argument(spark):
    """PromoteSuperFileList with a plain comma-separated string argument
    splits on commas instead of iterating characters (r11 ADVICE #4)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    IMPORT Std;
    r := { unsigned v };
    a := DATASET([{1}], r);
    SEQUENTIAL(
      OUTPUT(a, , 'sub1'),
      Std.File.CreateSuperFile('sfa'),
      Std.File.CreateSuperFile('sfb'),
      Std.File.AddSuperFile('sfb', 'sub1'),
      Std.File.PromoteSuperFileList('sfa,sfb', 'sub1'),
      OUTPUT(DATASET('sfa', r, THOR))
    );
    """
    dfs = run_ecl_actions(ecl, {}, spark=spark)
    assert [int(r[0]) for r in dfs[-1].collect()] == [1]


def test_bitwise_precedence_matches_hqlgram(spark):
    """hqlgram.y %left tiers: & binds tighter than |/^, and both bind
    tighter than * and + (r12 ADVICE #1) — `flags & mask + 1` is
    `(flags & mask) + 1`."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    OUTPUT(5 & 3 + 1);
    OUTPUT(4 | 2 & 6);
    OUTPUT(2 * 3 & 1);
    OUTPUT(1 << 2 + 1);
    """
    dfs = run_ecl_actions(ecl, {}, spark=spark)
    assert [int(df.collect()[0][0]) for df in dfs] == [2, 6, 2, 8]


def test_unknown_posix_class_raises(spark):
    """An unknown [:class:] raises a clear front-door error instead of
    an invalid Java pattern (r12 ADVICE #5)."""
    import pytest

    from hpcc_platform_spark.eclfront import EclSyntaxError, run_ecl_actions

    from hpcc_platform_spark.eclfront import _posix_java

    with pytest.raises(EclSyntaxError, match="bogus"):
        _posix_java("[[:bogus:]]")
    assert _posix_java("[[:alpha:]]") == "[\\p{Alpha}]"


def test_unbalanced_dbglog_paren_raises_syntax_error(spark):
    """An unbalanced paren in a no-op diagnostic action raises
    EclSyntaxError, not TypeError (r12 ADVICE #2)."""
    import pytest

    from hpcc_platform_spark.eclfront import EclSyntaxError, run_ecl_actions

    with pytest.raises(EclSyntaxError):
        run_ecl_actions("dbglog('x';", {}, spark=spark)


def test_correlated_filter_scales_without_driver_map(spark):
    """A correlated child filter inside a PROJECT assignment lowers to
    groupBy+collect_list+join — no driver-side map, no row cap
    (r11/r12 ask: 1M child rows pass; the old path raised at 5000)."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.eclfront import run_ecl_actions

    parent = spark.range(1, 1001).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    child = spark.range(0, 1_000_000).select(
        (F.col("id") % 1000 + 1).alias("k"),
        F.col("id").alias("payload"),
    )
    ecl = """
    p := parentds;
    c := childds;
    out := PROJECT(p, TRANSFORM({unsigned k, unsigned cnt},
        SELF.k := LEFT.k;
        SELF.cnt := COUNT(c(k = p.k))));
    OUTPUT(SORT(out, k));
    """
    dfs = run_ecl_actions(
        ecl, {"parentds": parent, "childds": child}, spark=spark
    )
    rows = dfs[-1].limit(5).collect()
    assert [(int(r[0]), int(r[1])) for r in rows] == [
        (1, 1000), (2, 1000), (3, 1000), (4, 1000), (5, 1000)
    ]


def test_postfix_filter_correlated_child_scales(spark):
    """A correlated child filter inside a dataset's POSTFIX FILTER also
    takes the join plan (r13 ask: the filter re-bases its frame via
    _corr_swaps) — 1M child rows pass where the driver map capped at
    5000."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.eclfront import run_ecl_actions

    parent = spark.range(1, 1001).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    child = spark.range(0, 1_000_000).select(
        (F.col("id") % 2000 + 1).alias("ck"),
        F.col("id").alias("payload"),
    )
    ecl = """
    p := parentds;
    c := childds;
    out := p(EXISTS(c(ck = p.k)));
    OUTPUT(COUNT(out));
    """
    dfs = run_ecl_actions(
        ecl, {"parentds": parent, "childds": child}, spark=spark
    )
    # every parent key 1..1000 appears among ck = 1..2000
    assert int(dfs[-1].collect()[0][0]) == 1000


def test_set_of_dataset_scales_without_literal(spark):
    """SET(ds, field) feeding IN in a re-base context folds executor-
    side (broadcast crossJoin of ONE aggregated row) — 100k values pass
    where the driver literal caps at 10k (r13 ask #2: the 1M literal
    went the wrong direction)."""
    from pyspark.sql import functions as F

    from hpcc_platform_spark.eclfront import run_ecl_actions

    parent = spark.range(0, 1000).select(F.col("id").alias("k"))
    vals = spark.range(0, 100_000).select(
        (F.col("id") * 2).alias("ev")
    )
    ecl = """
    p := parentds;
    v := valsds;
    out := p(k IN SET(v, ev));
    OUTPUT(COUNT(out));
    """
    dfs = run_ecl_actions(
        ecl, {"parentds": parent, "valsds": vals}, spark=spark
    )
    # even keys 0..998 are present
    assert int(dfs[-1].collect()[0][0]) == 500


def test_csv_dialect_read_scales_without_driver_collect(spark):
    """r14 verdict #8: the dialect-corner CSV reader must work beyond
    the old 100k-line driver cap with NO driver .collect() — the whole
    stream is one executor-side mapInPandas task (quoted terminators
    span records, so the split is inherently sequential)."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    n = 150_000
    ecl = f"""
    rec := {{ unsigned id; string name; }};
    src := DATASET({n}, TRANSFORM(rec, SELF.id := COUNTER-1;
                                       SELF.name := 'n'));
    OUTPUT(src,,'bigcsv', CSV(SEPARATOR(',')), OVERWRITE);
    d := DATASET('bigcsv', rec, CSV(SEPARATOR(',')));
    OUTPUT(COUNT(d));
    OUTPUT(SUM(d, id));
    """
    dfs = run_ecl_actions(ecl, {}, spark=spark)
    assert int(dfs[-2].collect()[0][0]) == n
    assert int(dfs[-1].collect()[0][0]) == n * (n - 1) // 2


def test_hashmd5_nonconstant_column(spark):
    """r15 ADVICE: HASHMD5 over a non-constant single argument used to
    fall into a dispatch dict with no 'hashmd5' key (raw KeyError);
    now it lowers to JVM md5 over the raw string bytes, matching the
    constant fold's uppercase hex."""
    import hashlib

    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{'abc'}, {'xyz'}], { string3 v });
    OUTPUT(TABLE(NOFOLD(d), { string h := HASHMD5(v) }));
    """
    got = [r.h for r in run_ecl_actions(ecl, {}, spark=spark)[-1].collect()]
    assert got == [
        hashlib.md5(b"abc").hexdigest().upper(),
        hashlib.md5(b"xyz").hexdigest().upper(),
    ]


def test_data_hash_latin1_bytes():
    """r15 ADVICE: DATA values carried as str must hash their RAW bytes
    (latin-1 byte-per-char), not a multi-byte UTF-8 expansion."""
    from hpcc_platform_spark.functions.eclhash import typed_bytes

    raw = bytes([0x0A, 0x80, 0xFF]).decode("latin-1")
    assert typed_bytes(raw, "data") == bytes([0x0A, 0x80, 0xFF])
    assert typed_bytes(raw, "data", mode="md5") == bytes(
        [0x0A, 0x80, 0xFF]
    )


def test_strip_ignorable_is_property_not_category():
    """r15 ADVICE: strip on Default_Ignorable_Code_Point, not category
    Cf — U+0600 ARABIC NUMBER SIGN is Cf but carries collation weight
    (kept); U+3164 HANGUL FILLER is Lo but default-ignorable
    (stripped); U+200B zero-width space stays stripped."""
    from hpcc_platform_spark.functions.eclhash import strip_ignorable

    assert strip_ignorable("a؀b") == "a؀b"
    assert strip_ignorable("aㅤb") == "ab"
    assert strip_ignorable("a​b") == "ab"
    assert strip_ignorable("a­b") == "ab"


def test_assert_dataset_row_dependent_fail_aborts(spark):
    """r15 ADVICE: ASSERT(ds, cond, FAIL) with a ROW-DEPENDENT
    condition used to silently degrade to a soft no-op; a failing row
    must abort at collect time."""
    import pytest as _pt

    from hpcc_platform_spark.eclfront import run_ecl_actions

    ok = """
    d := DATASET([{1}, {2}, {3}], { unsigned v });
    OUTPUT(ASSERT(NOFOLD(d), v < 10, FAIL));
    """
    rows = run_ecl_actions(ok, {}, spark=spark)[-1].collect()
    assert [int(r.v) for r in rows] == [1, 2, 3]
    bad = """
    d := DATASET([{1}, {2}, {3}], { unsigned v });
    OUTPUT(ASSERT(NOFOLD(d), v < 3, FAIL));
    """
    with _pt.raises(Exception, match="assert failed"):
        run_ecl_actions(bad, {}, spark=spark)[-1].collect()


def test_pipe_repeat_group_gid_unique_across_partitions(spark):
    """r16 ADVICE: the REPEAT,GROUP fallback gid was the partition-local
    row index — rows in different partitions could share a __pgrp__ and
    silently merge groups. The fallback now offsets by the task's
    partition id (2^33 packing), so group ids are globally unique."""
    from hpcc_platform_spark.sources.pipe import pipe_exec

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k long, v string"
    ).repartition(4)
    out = pipe_exec(
        df,
        "cat",
        "k long, v string",
        write_mode="csv",
        read_mode="csv",
        repeat=True,
        group=True,
    )
    rows = out.collect()
    # one input row per REPEAT invocation -> 8 distinct group ids
    assert len({r["__pgrp__"] for r in rows}) == 8


def test_corr_literal_fallback_rejects_nested_fields(spark):
    """r16 ADVICE: _ds_literal_array coerced unknown field types to
    double — a nested child-dataset column would become NULL silently.
    It must fail loudly instead."""
    import weakref

    import pytest as _pt

    from hpcc_platform_spark import eclfront as ef
    from pyspark.sql import functions as F

    parser = ef._Parser.__new__(ef._Parser)
    parser._ds_facts = weakref.WeakKeyDictionary()
    ds = spark.range(3).select(
        F.col("id").alias("a"),
        F.array(F.struct(F.col("id").alias("x"))).alias("kids"),
    )
    parser._carry(ds, fields=[
        ("a", "long", None, None),
        ("kids", "array<struct<x:bigint>>", None, None),
    ])
    with _pt.raises(ef.EclFailError, match="nested"):
        parser._ds_literal_array(ds)


# ---- round-17 ADVICE items -------------------------------------------------


def test_hashmd5_numeric_column_hashes_le_value_bytes(spark):
    """r16 ADVICE: non-constant HASHMD5 of a numeric column must hash
    the value's 8 little-endian bytes (rtlHashMd5 over the raw value,
    mirroring typed_bytes/_int_bytes), not its decimal text."""
    import hashlib
    import struct

    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{1}, {255}, {-2}], { integer v });
    OUTPUT(TABLE(NOFOLD(d), { string h := HASHMD5(v) }));
    """
    got = [r.h for r in run_ecl_actions(ecl, {}, spark=spark)[-1].collect()]
    want = [
        hashlib.md5(struct.pack("<q", n)).hexdigest().upper()
        for n in (1, 255, -2)
    ]
    assert got == want


def test_hashmd5_data_column_hashes_latin1_bytes(spark):
    """r16 ADVICE: a DATA-tagged column carries one char per byte
    (latin-1 round trip); HASHMD5 must hash those raw bytes, not their
    UTF-8 expansion (0xE9 -> 0xC3 0xA9)."""
    import hashlib

    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{'aé'}], { string2 v });
    OUTPUT(TABLE(NOFOLD(d), { string h := HASHMD5((DATA)v) }));
    """
    got = [r.h for r in run_ecl_actions(ecl, {}, spark=spark)[-1].collect()]
    assert got == [hashlib.md5(b"a\xe9").hexdigest().upper()]


def test_hashmd5_string_column_keeps_utf8_contract(spark):
    """Plain STRING columns keep the typed_bytes md5-mode contract the
    constant fold uses: raw untrimmed UTF-8 bytes."""
    import hashlib

    from hpcc_platform_spark.eclfront import run_ecl_actions

    ecl = """
    d := DATASET([{'aé'}, {'b '}], { string2 v });
    OUTPUT(TABLE(NOFOLD(d), { string h := HASHMD5(v) }));
    """
    got = [r.h for r in run_ecl_actions(ecl, {}, spark=spark)[-1].collect()]
    assert got == [
        hashlib.md5("aé".encode("utf-8")).hexdigest().upper(),
        hashlib.md5(b"b ").hexdigest().upper(),
    ]


def test_when_cron_count_replay_is_structural(spark):
    """r16 ADVICE: the WHEN(CRON(...), COUNT(n)) replay detection was a
    bag-of-words token scan — any annotation containing the tokens
    when/cron/count replayed the OUTPUT. It must fire only when
    COUNT(n) is a direct argument of a WHEN whose first argument is a
    CRON(...) call."""
    from hpcc_platform_spark.eclfront import run_ecl_actions

    # positive control: a real cron schedule fires the statement n times
    pos = """
    ds := DATASET([{1}], { unsigned v });
    OUTPUT(ds, NAMED('acc'), EXTEND) : WHEN(CRON('* * * * *'), COUNT(3));
    OUTPUT(DATASET(WORKUNIT('acc'), { unsigned v }));
    """
    dfs = run_ecl_actions(pos, {}, spark=spark)
    assert dfs[-1].count() == 3

    # spurious shape: when/cron/count tokens all present, but COUNT is
    # an argument of a non-CRON event — must NOT replay
    neg = """
    ds := DATASET([{1}], { unsigned v });
    OUTPUT(ds, NAMED('acc2'), EXTEND) : WHEN(EVENT(cron, tick), COUNT(2));
    OUTPUT(DATASET(WORKUNIT('acc2'), { unsigned v }));
    """
    dfs2 = run_ecl_actions(neg, {}, spark=spark)
    assert dfs2[-1].count() == 1
