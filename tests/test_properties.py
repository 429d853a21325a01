"""Property-based tests (hypothesis): operator semantics vs pure-Python
models on generated inputs.

The reference ships no property testing (SURVEY.md §5) — its oracle is
cross-engine agreement on a curated corpus. Here the DuckDB oracle plays
that role for SQL-expressible queries; these properties additionally pin
the *operator contracts* (dedup keep/best choice, choosesets bounds,
stateful iterate recurrences, top-k ties) on adversarial small inputs that
the TPC-H-ish fixtures never produce (ties, empty groups, single rows).

Example counts are modest: each example pays a Spark job; the value is in
the generated edge cases, not volume.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)

# (key, val) rows: few distinct keys → plenty of ties and dup keys.
rows_st = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-10, 10)), min_size=0, max_size=30
)


@given(rows=rows_st)
@settings(**SETTINGS)
def test_dedup_best_keeps_extreme_per_key(spark, rows):
    from hpcc_platform_spark.operators.dedup import dedup_best

    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, k, v) for i, (k, v) in enumerate(rows)], columns=["id", "k", "v"]
        ),
        "id long, k long, v long",
    )
    got = {
        (r.k, r.v, r.id)
        for r in dedup_best(df, ["k"], [F.desc("v"), F.asc("id")]).collect()
    }
    best: dict[int, tuple] = {}
    for i, (k, v) in enumerate(rows):
        # max v wins, lowest id breaks ties — mirrors (desc(v), asc(id))
        if k not in best or (-v, i) < (-best[k][1], best[k][2]):
            best[k] = (k, v, i)
    assert got == set(best.values())


@given(rows=rows_st, n=st.integers(1, 4))
@settings(**SETTINGS)
def test_choosesets_bounds_and_membership(spark, rows, n):
    from hpcc_platform_spark.operators.transform import choosesets

    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, k, v) for i, (k, v) in enumerate(rows)], columns=["id", "k", "v"]
        ),
        "id long, k long, v long",
    )
    out = choosesets(df, ["k"], n, ["v", "id"]).collect()
    per_key = defaultdict(list)
    for r in out:
        per_key[r.k].append((r.v, r.id))
    model = defaultdict(list)
    for i, (k, v) in enumerate(rows):
        model[k].append((v, i))
    for k, vals in model.items():
        expect = sorted(vals)[:n]
        assert sorted(per_key[k]) == expect  # exactly the n first by order


@given(rows=rows_st)
@settings(**SETTINGS)
def test_iterate_pandas_matches_sequential_fold(spark, rows):
    """Non-associative recurrence (clamped running sum) — per key, in order,
    must equal the sequential Python fold."""
    from hpcc_platform_spark.operators.transform import iterate_pandas

    if not rows:
        return
    pdf_in = pd.DataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], columns=["id", "k", "v"]
    )
    df = spark.createDataFrame(pdf_in, "id long, k long, v long")

    def clamp_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        acc, out = 0, []
        for v in pdf["v"]:
            acc = min(15, max(-15, acc + int(v)))
            out.append(acc)
        return pdf.assign(acc=out)[["id", "k", "acc"]]

    got = {
        r.id: r.acc
        for r in iterate_pandas(
            df, keys=["k"], order_by=["id"], fn=clamp_fold, schema="id long, k long, acc long"
        ).collect()
    }
    model = {}
    accs: dict[int, int] = defaultdict(int)
    for i, (k, v) in enumerate(rows):
        accs[k] = min(15, max(-15, accs[k] + v))
        model[i] = accs[k]
    assert got == model


@given(rows=rows_st, n=st.integers(1, 5))
@settings(**SETTINGS)
def test_topn_is_sorted_prefix(spark, rows, n):
    from hpcc_platform_spark.operators.sort import topn

    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, k, v) for i, (k, v) in enumerate(rows)], columns=["id", "k", "v"]
        ),
        "id long, k long, v long",
    )
    got = [(r.v, r.id) for r in topn(df, n, F.asc("v"), F.asc("id")).collect()]
    expect = sorted((v, i) for i, (_k, v) in enumerate(rows))[:n]
    assert got == expect


@given(
    words=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=2,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_minhash_identical_docs_estimate_one(spark, words):
    """Identical docs always estimate Jaccard 1.0 and always collide in
    every band (minhash correctness invariant)."""
    from hpcc_platform_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=16, shingle_k=2)
    out = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4).collect()
    assert len(out) == 1 and out[0].jaccard_est == 1.0


@given(
    doc_words=st.lists(
        st.lists(st.sampled_from(["apple", "bear", "cat", "dog", "elk"]),
                 min_size=1, max_size=8),
        min_size=1, max_size=8,
    ),
    m=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_m_of_n_matches_set_model(spark, doc_words, m):
    """search_m_of_n must return exactly the docs containing >= m of the
    query terms — checked against a Python set model on generated corpora."""
    from hpcc_platform_spark.operators.textsearch import (
        build_inverted_index,
        search_m_of_n,
    )

    terms = ["apple", "bear", "cat"]
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(doc_words)],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs)
    got = {r.doc for r in search_m_of_n(idx, terms, m).collect()}
    model = {
        i for i, ws in enumerate(doc_words)
        if sum(t in set(ws) for t in terms) >= m
    }
    assert got == model


@given(rows=rows_st)
@settings(**SETTINGS)
def test_global_row_number_matches_sorted_enumerate(spark, rows):
    from hpcc_platform_spark.operators import global_row_number

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "uid int, k int, v int"
    ) if rows else spark.createDataFrame([], "uid int, k int, v int")
    out = global_row_number(df, ["k", "v", "uid"], name="rn")
    got = {r.uid: r.rn for r in out.collect()}
    order = sorted(range(len(rows)), key=lambda i: (rows[i][0], rows[i][1], i))
    expect = {uid: pos + 1 for pos, uid in enumerate(order)}
    assert got == expect


@given(rows=rows_st, n=st.integers(1, 8))
@settings(**SETTINGS)
def test_enth_and_selectnth_agree_with_model(spark, rows, n):
    from hpcc_platform_spark.operators import enth, selectnth

    df = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(rows)], "uid int, k int"
    ) if rows else spark.createDataFrame([], "uid int, k int")
    order = sorted(range(len(rows)), key=lambda i: (rows[i][0], i))
    # ENTH: every n-th in total order (1-based positions where pos % n == 1 % n)
    got_enth = sorted(r.uid for r in enth(df, n, ["k", "uid"]).collect())
    exp_enth = sorted(
        uid for pos, uid in enumerate(order) if (pos + 1) % n == 1 % n
    )
    assert got_enth == exp_enth
    # SELECTNth: the single n-th row (empty past the end)
    got_nth = [r.uid for r in selectnth(df, n, ["k", "uid"]).collect()]
    exp_nth = [order[n - 1]] if n <= len(order) else []
    assert got_nth == exp_nth


# As-of join: unique (key, time) pairs on the right so the expected match
# is well-defined (two right rows at the same instant tie arbitrarily —
# as in pandas.merge_asof — and are excluded from the generator, not the
# implementation).
asof_case_st = st.fixed_dictionaries(
    {
        "left": st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)),
            min_size=1,
            max_size=20,
        ),
        "right": st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)),
            min_size=0,
            max_size=20,
            unique=True,
        ),
        "direction": st.sampled_from(["backward", "forward"]),
        "tol": st.one_of(st.none(), st.integers(0, 10)),
    }
)


@given(case=asof_case_st)
@settings(**SETTINGS)
def test_asof_join_matches_python_model(spark, case):
    """asof_join vs the brute-force definition: for each left row, the
    nearest right row at-or-before (backward) / at-or-after (forward) on
    the same key, within tolerance; NULL when none. Random keys, times,
    direction, and tolerance."""
    from hpcc_platform_spark.operators.asof import asof_join

    left_rows = [(i, k, t) for i, (k, t) in enumerate(case["left"])]
    right_rows = [(100 + i, k, t) for i, (k, t) in enumerate(case["right"])]
    left = spark.createDataFrame(left_rows, "lid long, k long, lt long")
    right = (
        spark.createDataFrame(right_rows, "rid long, k long, rt long")
        if right_rows
        else spark.createDataFrame([], "rid long, k long, rt long")
    )
    tol = None if case["tol"] is None else F.lit(case["tol"])
    out = asof_join(
        left,
        right,
        on="k",
        left_time="lt",
        right_time="rt",
        direction=case["direction"],
        tolerance=tol,
    )
    got = {r.lid: r.rid for r in out.collect()}

    expect = {}
    for lid, k, lt in left_rows:
        cands = []
        for rid, rk, rt in right_rows:
            if rk != k:
                continue
            if case["direction"] == "backward":
                if rt <= lt and (case["tol"] is None or lt - rt <= case["tol"]):
                    cands.append((rt, rid))
            else:
                if rt >= lt and (case["tol"] is None or rt - lt <= case["tol"]):
                    cands.append((-rt, rid))
        expect[lid] = max(cands)[1] if cands else None
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=0, max_size=25
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture],
          derandomize=True)
def test_dedup_clusters_star_matches_union_find(spark, edges):
    """Large-star/small-star connected components vs a pure-Python
    union-find on random graphs (self-loops, parallel edges, chains)."""
    from hpcc_platform_spark.pipeline.dedup import dedup_clusters_star

    df = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {(r.id, r.canonical_id) for r in dedup_clusters_star(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min.setdefault(find(n), min(
            m for m in parent if find(m) == find(n)
        ))
    expect = {(n, comp_min[find(n)]) for n in parent}
    assert got == expect


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    seed=st.integers(0, 10**6),
)
@settings(max_examples=25, deadline=None, derandomize=True)
def test_png_codec_roundtrip_random(w, h, seed):
    """Pure-Python PNG codec round-trips arbitrary dimensions and pixel
    data exactly (no Spark involved — pure function property)."""
    from hpcc_platform_spark.pipeline.png import png_decode, png_encode

    rng_state = seed
    rgb = bytearray()
    for _ in range(w * h * 3):
        rng_state = (rng_state * 1103515245 + 12345) % (2**31)
        rgb.append(rng_state % 256)
    w2, h2, out = png_decode(png_encode(w, h, bytes(rgb)))
    assert (w2, h2) == (w, h) and bytes(out) == bytes(rgb)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=25),
        min_size=0,
        max_size=6,
    ),
    chunk=st.integers(1, 7),
    stride=st.integers(1, 7),
)
@settings(**SETTINGS)
def test_chunk_documents_matches_python_model(spark, docs, chunk, stride):
    from hpcc_platform_spark.pipeline.chunking import chunk_documents

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else None
    expected = set()
    for i, toks in enumerate(docs):
        for ci, start in enumerate(range(0, len(toks), stride)):
            w = toks[start : start + chunk]
            expected.add((i, ci, len(w), " ".join(w)))
    if df is None:
        assert expected == set()
        return
    got = {
        (r.doc_id, r.chunk_index, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk_size=chunk, stride=stride).collect()
    }
    assert got == expected


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=0, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=0, max_size=12
    ),
    atmost=st.integers(1, 3),
    tol=st.integers(0, 5),
)
@settings(**SETTINGS)
def test_join_atmost_range_matches_python_model(spark, left, right, atmost, tol):
    from hpcc_platform_spark.operators import join_atmost_range

    lrows = [(i, k, v) for i, (k, v) in enumerate(left)]
    if not lrows:
        return
    ldf = spark.createDataFrame(lrows, "lid long, lk long, lv long")
    rdf = (
        spark.createDataFrame(
            [(k, v) for k, v in right], "rk long, rv long"
        )
        if right
        else spark.createDataFrame([], "rk long, rv long")
    )
    out = join_atmost_range(
        ldf,
        rdf,
        eq_pairs=[("lk", "rk")],
        range_cond=F.abs(F.col("lv") - F.col("rv")) <= tol,
        atmost=atmost,
        left_id="lid",
    )
    key = lambda t: (t[0], t[1] is None, t[1] if t[1] is not None else 0)
    got = sorted(((r.lid, r.rv) for r in out.collect()), key=key)

    expected = []
    for lid, k, v in lrows:
        matches = [rv for rk, rv in right if rk == k and abs(v - rv) <= tol]
        if matches and len(matches) <= atmost:
            expected.extend((lid, rv) for rv in matches)
        else:
            expected.append((lid, None))
    assert got == sorted(expected, key=key)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    terms=st.sets(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=3),
)
@settings(**SETTINGS)
def test_bm25_matches_python_model(spark, docs, terms):
    import math

    from hpcc_platform_spark.pipeline.ranking import bm25_search

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_search(df, sorted(terms), k=100).collect()}

    k1, b = 1.2, 0.75
    n_docs = len(docs)
    avgdl = sum(len(d) for d in docs) / n_docs
    dfreq = {t: sum(1 for d in docs if t in d) for t in terms}
    expected = {}
    for i, d in enumerate(docs):
        score = 0.0
        for t in terms:
            tf = d.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl))
        if score > 0:
            expected[i] = round(score, 4)
    assert set(got) == set(expected)
    for i in expected:
        assert abs(got[i] - expected[i]) <= 1e-4


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 4095), st.integers(0, 4095)),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_zorder_value_matches_python_morton(spark, vals):
    """The JVM shift/or chain must compute the exact Morton interleave of
    the two rank lanes (bit i of rank j lands at position i*n + j)."""
    from hpcc_platform_spark.sources.zorder import zorder_value

    def morton(a, b, bits=12):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vals)], "i long, a long, b long"
    )
    out = df.select(
        "i", zorder_value([F.col("a"), F.col("b")], bits=12).alias("z")
    )
    got = {r.i: r.z for r in out.collect()}
    assert got == {i: morton(a, b) for i, (a, b) in enumerate(vals)}
    # locality sanity: z-order of (x, 0) is monotone in x
    xs = sorted({a for a, _ in vals})
    zs = [morton(x, 0) for x in xs]
    assert zs == sorted(zs)
