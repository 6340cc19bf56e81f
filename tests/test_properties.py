"""Property-based checks (hypothesis): the invariants SURVEY.md §5 calls
for — layout invariance, encode/decode round-trips, as-of vs brute force,
LSH soundness. Spark jobs per example are expensive: few, small examples."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from tests._budget import examples
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

triples_strategy = st.lists(
    st.tuples(
        st.integers(-50, 50).filter(lambda x: x != 0),
        st.sampled_from([11, 22, 33]),
        st.integers(-50, 50).filter(lambda x: x != 0),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=triples_strategy)
@settings(**SETTINGS)
def test_layout_invariance_property(spark, rows):
    """Same triples, any layout/cluster key → same query answer (the
    equivalence the reference's four drivers assert informally)."""
    from rdfproject_msc_spark import queries as Q
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    results = []
    for layout, key in (("single", None), ("single", "s"), ("sign_split", "p")):
        store = TripleStore(df, layout=layout, cluster_by=key)
        out = Q.path_2hop(store, None, 11, 22, None)
        results.append(sorted(map(tuple, out.collect())))
    assert results[0] == results[1] == results[2]


@given(
    pairs=st.lists(
        st.tuples(st.integers(1, 1000), st.text(min_size=1, max_size=8)),
        min_size=1,
        max_size=20,
        unique_by=(lambda p: p[0], lambda p: p[1]),
    )
)
@settings(**SETTINGS)
def test_dictionary_roundtrip_property(spark, pairs):
    from rdfproject_msc_spark.dictionary import Dictionary

    d = Dictionary(spark.createDataFrame(pairs, "id long, term string"))
    ids = spark.createDataFrame([(i,) for i, _ in pairs], "x long")
    back = d.encode(d.decode(ids, ["x"]), ["x"])
    assert sorted(r.x for r in back.collect()) == sorted(i for i, _ in pairs)


@given(
    left=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 30)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 30), st.integers(0, 99)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, left, right):
    from rdfproject_msc_spark.operators.asof import asof_join

    # dedupe right on (k, t): keep max id (the operator's documented contract)
    best = {}
    for k, t, i in right:
        if (k, t) not in best or i > best[(k, t)]:
            best[(k, t)] = i
    right_rows = [(k, t, i) for (k, t), i in best.items()]

    ldf = spark.createDataFrame(
        [(k, t, n) for n, (k, t) in enumerate(left)], "k long, t long, n long"
    )
    rdf = spark.createDataFrame(right_rows or [(99, -1, -1)], "k long, t long, id long")
    out = asof_join(
        ldf, rdf, on="k", left_ts="t", right_ts="t", right_cols=["id"],
        prefix="m_", tiebreak="id",
    )
    got = {r.n: r.m_id for r in out.collect()}

    def brute(k, t):
        cands = [(rt, i) for rk, rt, i in right_rows if rk == k and rt <= t]
        return max(cands)[1] if cands else None

    want = {n: brute(k, t) for n, (k, t) in enumerate(left)}
    assert got == want


@given(
    left=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-50, 50)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-50, 50)), min_size=0, max_size=12
    ),
    delta=st.integers(1, 30),
)
@settings(**SETTINGS)
def test_interval_join_matches_bruteforce(spark, left, right, delta):
    from rdfproject_msc_spark.operators.asof import interval_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, t long, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(right)] or [(99, 0, -1)],
        "k long, t long, rid long",
    )
    out = interval_join(ldf, rdf, on="k", left_ts="t", right_ts="t", max_delta=delta)
    got = sorted((r.lid, r.near_rid) for r in out.collect())
    want = sorted(
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and abs(lt - rt) <= delta
    )
    assert got == want


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_optional_matches_python_eval(spark, rows, p1, p2):
    """OPTIONAL left-join semantics vs a direct Python evaluation: matched
    rows extend, unmatched rows null-extend, multiplicities preserved."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = f"SELECT ?a ?b ?c WHERE {{ ?a {p1} ?b . OPTIONAL {{ ?b {p2} ?c . }} }}"
    got = sorted(
        ((r.a, r.b, r.c) for r in sparql_to_df(TripleStore(df), q).collect()),
        key=lambda t: (t[0], t[1], t[2] is None, t[2] or 0),
    )
    want = []
    for s, p, o in rows:
        if p != p1:
            continue
        exts = [oo for ss, pp, oo in rows if pp == p2 and ss == o]
        if exts:
            want.extend((s, o, c) for c in exts)
        else:
            want.append((s, o, None))
    want.sort(key=lambda t: (t[0], t[1], t[2] is None, t[2] or 0))
    assert got == want


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_union_matches_python_eval(spark, rows, p1, p2):
    """UNION multiset semantics vs direct Python evaluation: arm results
    concatenate (duplicates preserved — p1 == p2 doubles every match)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = f"SELECT ?x ?y WHERE {{ {{ ?x {p1} ?y }} UNION {{ ?x {p2} ?y }} }}"
    got = sorted(
        (r.x, r.y) for r in sparql_to_df(TripleStore(df), q).collect()
    )
    want = sorted(
        [(s, o) for s, p, o in rows if p == p1]
        + [(s, o) for s, p, o in rows if p == p2]
    )
    assert got == want


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
    p3=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_nested_optional_matches_python_eval(spark, rows, p1, p2, p3):
    """OPTIONAL inside OPTIONAL vs direct Python evaluation of the
    bottom-up group algebra: the INNER left join binds within the group
    before the OUTER null-extension (§18.2.2.2 LeftJoin composition)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = (
        f"SELECT ?a ?b ?c ?d WHERE {{ ?a {p1} ?b . "
        f"OPTIONAL {{ ?b {p2} ?c . OPTIONAL {{ ?c {p3} ?d }} }} }}"
    )
    key = lambda t: tuple((v is None, v or 0) for v in t)
    got = sorted(
        (
            (r.a, r.b, r.c, r.d)
            for r in sparql_to_df(TripleStore(df), q).collect()
        ),
        key=key,
    )
    # group standalone: (b, c, d) rows of `?b p2 ?c OPTIONAL { ?c p3 ?d }`
    group = []
    for s, p, o in rows:
        if p != p2:
            continue
        exts = [oo for ss, pp, oo in rows if pp == p3 and ss == o]
        if exts:
            group.extend((s, o, d) for d in exts)
        else:
            group.append((s, o, None))
    want = []
    for s, p, o in rows:
        if p != p1:
            continue
        matches = [(c, d) for b, c, d in group if b == o]
        if matches:
            want.extend((s, o, c, d) for c, d in matches)
        else:
            want.append((s, o, None, None))
    assert got == sorted(want, key=key)


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
    p3=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_optional_in_union_arm_matches_python_eval(
    spark, rows, p1, p2, p3
):
    """OPTIONAL nested in a UNION arm: the arm null-extends within itself
    BEFORE the multiset union; the other arm never binds ?z."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = (
        f"SELECT ?x ?y ?z WHERE {{ "
        f"{{ ?x {p1} ?y . OPTIONAL {{ ?y {p2} ?z }} }} UNION {{ ?x {p3} ?y }} }}"
    )
    key = lambda t: tuple((v is None, v or 0) for v in t)
    got = sorted(
        ((r.x, r.y, r.z) for r in sparql_to_df(TripleStore(df), q).collect()),
        key=key,
    )
    want = []
    for s, p, o in rows:
        if p == p1:
            exts = [oo for ss, pp, oo in rows if pp == p2 and ss == o]
            if exts:
                want.extend((s, o, z) for z in exts)
            else:
                want.append((s, o, None))
        if p == p3:
            want.append((s, o, None))
    assert got == sorted(want, key=key)


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_subgroup_join_equals_flat_bgp(spark, rows, p1, p2):
    """Plain nested `{}` subgroups join exactly like the flat BGP
    (§18.2.2.2 Join is associative over the group boundaries)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    store = TripleStore(df)
    nested = sparql_to_df(
        store,
        f"SELECT ?a ?b ?c WHERE {{ {{ ?a {p1} ?b }} . {{ ?b {p2} ?c }} }}",
    )
    flat = sparql_to_df(
        store, f"SELECT ?a ?b ?c WHERE {{ ?a {p1} ?b . ?b {p2} ?c }}"
    )
    assert sorted(map(tuple, nested.collect())) == sorted(
        map(tuple, flat.collect())
    )


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_minhash_is_sound_subset_of_exact(spark, texts):
    """Every pair MinHash-LSH emits is verified exact-Jaccard ≥ threshold —
    the output is ALWAYS a subset of the exact all-pairs result (recall is
    probabilistic, precision is not)."""
    from rdfproject_msc_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(df, n=2, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(df, n=2, threshold=0.4).collect()
    }
    assert lsh <= exact


_filter_cmp = st.tuples(
    st.sampled_from("ab"),
    st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
    st.integers(-5, 5),
)
_filter_expr = st.recursive(
    _filter_cmp,
    lambda kids: st.one_of(
        st.tuples(st.just("not"), kids),
        st.tuples(st.just("and"), kids, kids),
        st.tuples(st.just("or"), kids, kids),
    ),
    max_leaves=4,
)


def _render_filter(e) -> str:
    if e[0] == "not":
        return f"!({_render_filter(e[1])})"
    if e[0] in ("and", "or"):
        op = "&&" if e[0] == "and" else "||"
        return f"({_render_filter(e[1])} {op} {_render_filter(e[2])})"
    v, op, c = e
    return f"?{v} {op} {c}"


def _eval_filter(e, env) -> bool:
    if e[0] == "not":
        return not _eval_filter(e[1], env)
    if e[0] == "and":
        return _eval_filter(e[1], env) and _eval_filter(e[2], env)
    if e[0] == "or":
        return _eval_filter(e[1], env) or _eval_filter(e[2], env)
    v, op, c = e
    x = env[v]
    return {
        "=": x == c, "!=": x != c, "<": x < c,
        "<=": x <= c, ">": x > c, ">=": x >= c,
    }[op]


@given(rows=triples_strategy, expr=_filter_expr)
@settings(**SETTINGS)
def test_sparql_filter_expression_matches_python_eval(spark, rows, expr):
    """Arbitrary &&/||/! filter trees over bound variables vs direct Python
    boolean evaluation (both variables always bound → 2-valued logic)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = f"SELECT ?a ?b WHERE {{ ?a 11 ?b . FILTER({_render_filter(expr)}) }}"
    got = sorted((r.a, r.b) for r in sparql_to_df(TripleStore(df), q).collect())
    want = sorted(
        (s, o)
        for s, p, o in rows
        if p == 11 and _eval_filter(expr, {"a": s, "b": o})
    )
    assert got == want


@given(rows=triples_strategy)
@settings(**SETTINGS)
def test_sparql_aggregates_match_python_eval(spark, rows):
    """GROUP BY lowering vs direct Python aggregation (count/sum/min/max
    per key; avg checked via sum/count to stay in exact arithmetic)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = (
        "SELECT ?s (COUNT(?o) AS ?n) (SUM(?o) AS ?t) (MIN(?o) AS ?lo) "
        "(MAX(?o) AS ?hi) WHERE { ?s 11 ?o } GROUP BY ?s"
    )
    got = {
        r.s: (r.n, r.t, r.lo, r.hi)
        for r in sparql_to_df(TripleStore(df), q).collect()
    }
    groups: dict[int, list[int]] = {}
    for s, p, o in rows:
        if p == 11:
            groups.setdefault(s, []).append(o)
    want = {
        s: (len(v), sum(v), min(v), max(v)) for s, v in groups.items()
    }
    assert got == want


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22]),
    p2=st.sampled_from([11, 22, 33]),
    p3=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_union_compatible_join_matches_python_eval(spark, rows, p1, p2, p3):
    """Required pattern joined with a union whose second arm binds NOTHING
    shared: SPARQL compatible-binding join keeps every arm-2 solution
    against every required solution (unbound ?b is compatible), while arm-1
    joins on ?b. Checked against direct Python evaluation."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = (
        f"SELECT ?a ?b ?c ?d WHERE {{ ?a {p1} ?b . "
        f"{{ ?b {p2} ?c }} UNION {{ ?d {p3} ?c }} }}"
    )
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted(
        ((r.a, r.b, r.c, r.d) for r in sparql_to_df(TripleStore(df), q).collect()),
        key=key,
    )
    req = [(s, o) for s, p, o in rows if p == p1]
    want = []
    for a, b in req:
        want.extend(
            (a, b, c, None) for s, p, c in rows if p == p2 and s == b
        )
        want.extend((a, b, c, d) for d, p, c in rows if p == p3)
    want.sort(key=key)
    assert got == want


@given(
    rows=triples_strategy,
    p1=st.sampled_from([11, 22, 33]),
    p2=st.sampled_from([11, 22, 33]),
)
@settings(**SETTINGS)
def test_sparql_path_alternation_matches_python_eval(spark, rows, p1, p2):
    """`(p1/p2|p2)` = multiset sum of the sequence arm and the direct arm
    (SPARQL §9.1 alternation over §5.4 multiset union)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = f"SELECT ?x ?y WHERE {{ ?x ({p1}/{p2}|{p2}) ?y }}"
    got = sorted(
        (r.x, r.y) for r in sparql_to_df(TripleStore(df), q).collect()
    )
    seq = [
        (s1, o2)
        for s1, pp1, o1 in rows
        if pp1 == p1
        for s2, pp2, o2 in rows
        if pp2 == p2 and s2 == o1
    ]
    direct = [(s, o) for s, p, o in rows if p == p2]
    assert got == sorted(seq + direct)


@given(rows=triples_strategy, p1=st.sampled_from([11, 22, 33]))
@settings(**SETTINGS)
def test_sparql_inverse_path_matches_forward(spark, rows, p1):
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    inv = sorted(
        (r.x, r.y)
        for r in sparql_to_df(
            TripleStore(df), f"SELECT ?x ?y WHERE {{ ?y ^{p1} ?x }}"
        ).collect()
    )
    fwd = sorted(
        (r.x, r.y)
        for r in sparql_to_df(
            TripleStore(df), f"SELECT ?x ?y WHERE {{ ?x {p1} ?y }}"
        ).collect()
    )
    assert inv == fwd


@given(rows=triples_strategy, p1=st.sampled_from([11, 22, 33]))
@settings(**SETTINGS)
def test_sparql_closure_matches_python_bfs(spark, rows, p1):
    """`p+` = DISTINCT reachability pairs — compared against a direct
    Python BFS from every source node."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    got = sorted(
        (r.x, r.y)
        for r in sparql_to_df(
            TripleStore(df), f"SELECT ?x ?y WHERE {{ ?x {p1}+ ?y }}"
        ).collect()
    )
    adj: dict[int, set[int]] = {}
    for s, p, o in rows:
        if p == p1:
            adj.setdefault(s, set()).add(o)
    want = set()
    for start in adj:
        frontier = set(adj[start])
        seen = set(frontier)
        while frontier:
            frontier = {
                n for f in frontier for n in adj.get(f, ()) if n not in seen
            }
            seen |= frontier
        want |= {(start, n) for n in seen}
    assert got == sorted(want)


_arith_leaf = st.one_of(
    st.tuples(st.just("num"), st.integers(-5, 5)),
    st.tuples(st.just("var"), st.sampled_from("ab")),
)
_arith_expr = st.recursive(
    _arith_leaf,
    lambda kids: st.tuples(st.sampled_from(["+", "-", "*"]), kids, kids),
    max_leaves=6,
)


def _render_arith(e) -> str:
    if e[0] == "num":
        return str(e[1])
    if e[0] == "var":
        return f"?{e[1]}"
    return f"({_render_arith(e[1])} {e[0]} {_render_arith(e[2])})"


def _eval_arith(e, env) -> int:
    if e[0] == "num":
        return e[1]
    if e[0] == "var":
        return env[e[1]]
    x, y = _eval_arith(e[1], env), _eval_arith(e[2], env)
    return x + y if e[0] == "+" else x - y if e[0] == "-" else x * y


@given(rows=triples_strategy, expr=_arith_expr)
@settings(**SETTINGS)
def test_sparql_bind_matches_python_eval(spark, rows, expr):
    """Arbitrary parenthesized BIND arithmetic trees vs direct Python
    integer evaluation (all variables bound → no NULL propagation paths)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    df = spark.createDataFrame(rows, "s long, p long, o long")
    q = (
        f"SELECT ?a ?b ?z WHERE {{ ?a 11 ?b . "
        f"BIND({_render_arith(expr)} AS ?z) }}"
    )
    got = sorted(
        (r.a, r.b, r.z) for r in sparql_to_df(TripleStore(df), q).collect()
    )
    want = sorted(
        (s, o, _eval_arith(expr, {"a": s, "b": o}))
        for s, p, o in rows
        if p == 11
    )
    assert got == want


# random nested-group query shapes: a recursive chain generator where each
# nesting level consumes its parent's object variable — shared join keys
# are always required-bound by construction, so no query is rejected and
# the Spark result must equal the direct Python evaluation of the
# bottom-up group algebra
group_shape = st.recursive(
    st.one_of(
        st.just(("leaf",)),
        # r8: PROPERTY-PATH leaves — sequence (bag semantics: one
        # solution per intermediate), alternation (multiset union),
        # closure (distinct reachability) — so paths are fuzzed INSIDE
        # random OPTIONAL/subgroup/UNION nesting, not only standalone
        st.tuples(st.just("pleaf"), st.sampled_from(["seq", "alt", "plus"])),
    ),
    lambda child: st.one_of(
        st.tuples(st.just("opt"), child),
        st.tuples(st.just("sub"), child),
        st.tuples(st.just("union"), child, child),
        # r6: a subgroup whose FILTER references its PARENT's chain
        # variable — OUT OF SCOPE inside the group (§18.2.2.2 bottom-up):
        # comparison/BOUND → false (group empties), !BOUND → true (no-op)
        st.tuples(
            st.just("subf"), child,
            st.sampled_from(["cmp", "nbound", "bound"]),
        ),
        # r7: a subgroup whose BIND references the PARENT's chain
        # variable — OUT OF SCOPE inside the group (§18.2.2.2
        # bottom-up): arith → error → target unbound, IF(BOUND) → false
        # branch; "own" binds the group's shared var (in scope — sanity
        # that the same position still computes when bound)
        st.tuples(
            st.just("subb"), child,
            st.sampled_from(["arith", "ifb", "own"]),
        ),
    ),
    max_leaves=4,
)


def _shape_to_query(shape, var_in, preds, counter):
    """Render a shape as the group body text binding var_in → fresh vars."""
    p = preds[next(counter) % len(preds)]
    v = f"v{next(counter)}"
    base = f"?{var_in} {p} ?{v} ."
    kind = shape[0]
    if kind == "leaf":
        return base
    if kind == "pleaf":
        mode = shape[1]
        if mode == "seq":
            p2 = preds[next(counter) % len(preds)]
            return f"?{var_in} {p}/{p2} ?{v} ."
        if mode == "alt":
            p2 = preds[next(counter) % len(preds)]
            return f"?{var_in} ({p}|{p2}) ?{v} ."
        return f"?{var_in} {p}+ ?{v} ."
    if kind == "opt":
        inner = _shape_to_query(shape[1], v, preds, counter)
        return f"{base} OPTIONAL {{ {inner} }}"
    if kind == "sub":
        inner = _shape_to_query(shape[1], v, preds, counter)
        return f"{base} {{ {inner} }}"
    if kind == "subf":
        inner = _shape_to_query(shape[1], v, preds, counter)
        flt = {
            "cmp": f"FILTER(?{var_in} > 0)",
            "nbound": f"FILTER(!BOUND(?{var_in}))",
            "bound": f"FILTER(BOUND(?{var_in}))",
        }[shape[2]]
        return f"{base} {{ {inner} {flt} }}"
    if kind == "subb":
        w = f"w{next(counter)}"
        inner = _shape_to_query(shape[1], v, preds, counter)
        bnd = {
            "arith": f"BIND(?{var_in} + 1 AS ?{w})",
            "ifb": f"BIND(IF(BOUND(?{var_in}), 1, 0) AS ?{w})",
            "own": f"BIND(?{v} + 1 AS ?{w})",
        }[shape[2]]
        return f"{base} {{ {inner} {bnd} }}"
    a = _shape_to_query(shape[1], v, preds, counter)
    b = _shape_to_query(shape[2], v, preds, counter)
    return f"{base} {{ {a} }} UNION {{ {b} }}"


def _eval_group_text(shape, var_in, rows, preds, counter):
    """Python twin of _shape_to_query's semantics: returns a list of
    binding dicts (multiset)."""
    p = int(preds[next(counter) % len(preds)])
    v = f"v{next(counter)}"
    base = [
        {var_in: s, v: o} for s, pp, o in rows if pp == p
    ]
    kind = shape[0]
    if kind == "leaf":
        return base
    if kind == "pleaf":
        mode = shape[1]
        if mode == "seq":
            p2 = int(preds[next(counter) % len(preds)])
            return [
                {var_in: s1, v: o2}
                for s1, pp1, o1 in rows
                if pp1 == p
                for s2, pp2, o2 in rows
                if pp2 == p2 and s2 == o1
            ]
        if mode == "alt":
            p2 = int(preds[next(counter) % len(preds)])
            return [
                {var_in: s, v: o} for s, pp, o in rows if pp == p
            ] + [{var_in: s, v: o} for s, pp, o in rows if pp == p2]
        adj: dict[int, set[int]] = {}
        for s, pp, o in rows:
            if pp == p:
                adj.setdefault(s, set()).add(o)
        out = []
        for start in adj:
            frontier, seen = set(adj[start]), set(adj[start])
            while frontier:
                frontier = {
                    n
                    for f in frontier
                    for n in adj.get(f, ())
                    if n not in seen
                }
                seen |= frontier
            out.extend({var_in: start, v: n} for n in seen)
        return out
    if kind == "opt":
        inner = _eval_group_text(shape[1], v, rows, preds, counter)
        out = []
        for b in base:
            ext = [i for i in inner if i[v] == b[v]]
            if ext:
                out.extend({**b, **i} for i in ext)
            else:
                out.append(b)
        return out
    if kind == "sub":
        inner = _eval_group_text(shape[1], v, rows, preds, counter)
        return [
            {**b, **i} for b in base for i in inner if i[v] == b[v]
        ]
    if kind == "subf":
        inner = _eval_group_text(shape[1], v, rows, preds, counter)
        if shape[2] in ("cmp", "bound"):
            # var_in is unbound INSIDE the group: comparison errors /
            # BOUND is false -> every group solution drops
            inner = []
        return [
            {**b, **i} for b in base for i in inner if i[v] == b[v]
        ]
    if kind == "subb":
        w = f"w{next(counter)}"
        inner = _eval_group_text(shape[1], v, rows, preds, counter)
        if shape[2] == "arith":
            # var_in is unbound INSIDE the group: ?var_in + 1 errors ->
            # the target stays unbound (key absent)
            pass
        elif shape[2] == "ifb":
            # BOUND(var_in) is false inside the group -> else branch
            inner = [{**i, w: 0} for i in inner]
        else:  # own: the group's shared var is bound
            inner = [{**i, w: i[v] + 1} for i in inner]
        return [
            {**b, **i} for b in base for i in inner if i[v] == b[v]
        ]
    a = _eval_group_text(shape[1], v, rows, preds, counter)
    bb = _eval_group_text(shape[2], v, rows, preds, counter)
    arms = a + bb
    return [{**b, **i} for b in base for i in arms if i[v] == b[v]]


@given(rows=triples_strategy, shape=group_shape)
@settings(max_examples=examples(8), deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_random_nested_group_trees_match_python_eval(spark, rows, shape):
    """Randomly shaped nested OPTIONAL/subgroup/UNION trees (chained so
    every shared key is required-bound) evaluate identically in Spark and
    in a direct Python rendering of the bottom-up group algebra."""
    import itertools as it

    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    preds = ["11", "22", "33"]
    q_body = _shape_to_query(shape, "r", preds, it.count())
    df = spark.createDataFrame(rows, "s long, p long, o long")
    out = sparql_to_df(TripleStore(df), f"SELECT * WHERE {{ {q_body} }}")
    got = sorted(
        (tuple((c, r[c]) for c in sorted(out.columns)) for r in out.collect()),
        key=lambda t: tuple((x[1] is None, x[1] or 0) for x in t),
    )
    want_bindings = _eval_group_text(shape, "r", rows, preds, it.count())
    cols = sorted(out.columns)
    want = sorted(
        (tuple((c, b.get(c)) for c in cols) for b in want_bindings),
        key=lambda t: tuple((x[1] is None, x[1] or 0) for x in t),
    )
    assert got == want


# ---- dataset-clause fuzz (§13.2, r7) --------------------------------------
# the round-6 sparql_from miss (a FROM NAMED set no pattern could reach,
# green only because both engines returned empty) is exactly the blindness
# example-based tests have — so FROM / FROM NAMED sets and GRAPH blocks
# are drawn TOGETHER and compared against a bottom-up Python twin with
# dataset scoping.

_quads_strategy = st.lists(
    st.tuples(
        st.integers(1, 3),            # graph
        st.integers(1, 5),            # s
        st.sampled_from([11, 22]),    # p
        st.integers(1, 5),            # o
    ),
    min_size=0,
    max_size=14,
    unique=True,  # a graph is a SET of triples
)


@given(
    quads=_quads_strategy,
    trips=triples_strategy,
    from_ids=st.sets(st.integers(1, 3), max_size=3),
    named_ids=st.sets(st.integers(1, 3), max_size=3),
)
@settings(**SETTINGS)
def test_dataset_clauses_match_python_eval(
    spark, quads, trips, from_ids, named_ids
):
    """FROM/FROM NAMED composed with a GRAPH ?g block: when either clause
    is present the default graph is the SET union of the FROM graphs and
    GRAPH ranges over only the FROM NAMED graphs; with no clauses the
    store's own default graph and all named graphs apply. Additionally,
    whenever the drawn quads happen to be graph-disjoint, the
    graphs_disjoint fast path must return the identical multiset."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    trips = list({t for t in trips})  # triples table as a set, like quads
    ds = " ".join(
        [f"FROM {g}" for g in sorted(from_ids)]
        + [f"FROM NAMED {g}" for g in sorted(named_ids)]
    )
    q = (
        f"SELECT ?a ?b ?g ?c {ds} WHERE "
        "{ ?a 11 ?b . GRAPH ?g { ?b 22 ?c } }"
    )

    def run(disjoint):
        st_ = TripleStore(
            spark.createDataFrame(
                trips or [(0, 0, 0)], "s long, p long, o long"
            ),
            quads=spark.createDataFrame(
                quads or [(0, 0, 0, 0)], "g long, s long, p long, o long"
            ),
            graphs_disjoint=disjoint,
        )
        out = sparql_to_df(st_, q)
        return sorted(
            (r["a"], r["b"], r["g"], r["c"]) for r in out.collect()
        )

    got = run(False)

    # Python twin with dataset scoping
    if from_ids or named_ids:
        default = {(s, p, o) for g, s, p, o in quads if g in from_ids}
        named = [(g, s, p, o) for g, s, p, o in quads if g in named_ids]
    else:
        default = set(trips)
        named = list(quads)
    want = sorted(
        (a, b, g, c)
        for (a, p1, b) in default
        if p1 == 11
        for (g, b2, p2, c) in named
        if p2 == 22 and b2 == b
    )
    assert got == want

    # disjoint fast path: exact same multiset whenever the invariant holds
    spo_graphs = {}
    for g, s, p, o in quads:
        spo_graphs.setdefault((s, p, o), set()).add(g)
    if all(len(gs) == 1 for gs in spo_graphs.values()):
        assert run(True) == want


# ---- typed-value comparison fuzz (r7) -------------------------------------

_VAL_TERMS = st.lists(
    st.tuples(
        st.integers(100, 140),  # object id
        st.one_of(
            st.none(),  # dictionary-absent → integer literal
            st.builds(
                lambda x: f'"{x}"^^:decimal', st.integers(-40, 40)
            ),
            st.builds(
                lambda x: f'"{x}.5"^^:double', st.integers(-40, 40)
            ),
            st.builds(
                lambda d: f'"2020-01-{d:02d}"^^:date', st.integers(1, 28)
            ),
            st.just("plain text"),
            st.just('"tag"@en'),
            st.just(":iri_obj"),
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(
    terms=_VAL_TERMS,
    op=st.sampled_from(["<", "<=", ">", ">=", "=", "!="]),
    const=st.one_of(
        st.integers(-30, 30).map(lambda x: ("num", float(x) + 0.5)),
        st.integers(1, 28).map(lambda d: ("date", f"2020-01-{d:02d}")),
    ),
    negate=st.booleans(),
)
@settings(**SETTINGS)
def test_value_comparison_matches_python_eval(
    spark, terms, op, const, negate
):
    """FILTER(?o <op> typed-constant) vs a Python twin of the §17.3
    operand mapping: integer literals compare as themselves, decimal/
    double literals by lexical value, date literals by date; every other
    kind is a type ERROR (dropped at BOTH polarities — !error stays
    error)."""
    import datetime

    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    kind, value = const
    lit = (
        str(value)
        if kind == "num"
        else f'"{value}"^^xsd:date'
    )
    flt = f"?o {op} {lit}"
    if negate:
        flt = f"!({flt})"
    trips = [(1, 10, oid) for oid, _ in terms]
    dict_rows = [(10, ":p")] + [
        (oid, term) for oid, term in terms if term is not None
    ]
    store = TripleStore(
        spark.createDataFrame(trips, "s long, p long, o long")
    )
    d = Dictionary(
        spark.createDataFrame(dict_rows, "id long, term string")
    )
    got = sorted(
        r.o
        for r in sparql_to_df(
            store,
            f"SELECT ?o WHERE {{ ?s :p ?o . FILTER({flt}) }}",
            d,
        ).collect()
    )

    import re as _re

    def pyval(term, oid):
        if term is None:
            return float(oid)
        m = _re.fullmatch(r'"(-?\d+(?:\.\d+)?)"\^\^:(?:decimal|double)', term)
        if m:
            return float(m.group(1))
        m = _re.fullmatch(r'"(\d{4}-\d{2}-\d{2})"\^\^:date', term)
        if m:
            return datetime.date.fromisoformat(m.group(1))
        return None  # type error

    cmpf = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
        "=": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
    }[op]
    rhs = (
        value
        if kind == "num"
        else datetime.date.fromisoformat(value)
    )
    want = []
    for oid, term in terms:
        v = pyval(term, oid)
        if v is None or type(v) is not type(rhs) and not (
            isinstance(v, float) and isinstance(rhs, float)
        ):
            continue  # type error at either polarity
        r = cmpf(v, rhs)
        if r != negate:
            want.append(oid)
    assert got == sorted(want)


# ---- string-expression fuzz (r7) ------------------------------------------

_SEXPR = st.deferred(
    lambda: st.one_of(
        st.just(("sof", "o")),
        st.sampled_from([("slit", "ab x"), ("slit", "zz"), ("slit", "")]),
        st.tuples(st.sampled_from(["ucase", "lcase"]), _SEXPR),
        st.tuples(
            st.just("substr"), _SEXPR, st.integers(1, 6),
            st.one_of(st.none(), st.integers(0, 5)),
        ),
        st.tuples(
            st.sampled_from(["strbefore", "strafter"]), _SEXPR,
            st.sampled_from(["a", "x", "", '"', "@"]),
        ),
        st.tuples(
            st.just("concat"),
            st.lists(_SEXPR, min_size=1, max_size=3).map(tuple),
        ),
    )
)


def _render_sexpr(node) -> str:
    k = node[0]
    if k == "slit":
        return '"' + node[1].replace('"', '\\"') + '"'
    if k == "sof":
        return f"STR(?{node[1]})"
    if k in ("ucase", "lcase"):
        return f"{k.upper()}({_render_sexpr(node[1])})"
    if k == "substr":
        _, a, start, ln = node
        inner = _render_sexpr(a)
        return (
            f"SUBSTR({inner}, {start})"
            if ln is None
            else f"SUBSTR({inner}, {start}, {ln})"
        )
    if k in ("strbefore", "strafter"):
        sep = node[2].replace('"', '\\"')
        return f'{k.upper()}({_render_sexpr(node[1])}, "{sep}")'
    return "CONCAT(" + ", ".join(_render_sexpr(a) for a in node[1]) + ")"


def _eval_sexpr(node, sval: str) -> str:
    k = node[0]
    if k == "slit":
        return node[1]
    if k == "sof":
        return sval
    if k == "ucase":
        return _eval_sexpr(node[1], sval).upper()
    if k == "lcase":
        return _eval_sexpr(node[1], sval).lower()
    if k == "substr":
        _, a, start, ln = node
        s = _eval_sexpr(a, sval)
        return s[start - 1 :] if ln is None else s[start - 1 : start - 1 + ln]
    if k in ("strbefore", "strafter"):
        s, sep = _eval_sexpr(node[1], sval), node[2]
        if sep == "":
            return "" if k == "strbefore" else s
        i = s.find(sep)
        if i < 0:
            return ""
        return s[:i] if k == "strbefore" else s[i + len(sep):]
    return "".join(_eval_sexpr(a, sval) for a in node[1])


@given(expr=_SEXPR)
@settings(**SETTINGS)
def test_string_expression_bind_matches_python_eval(spark, expr):
    """Random §17.4.3 string-expression trees in BIND evaluate exactly
    like a direct Python implementation of the spec rules (1-based
    SUBSTR, ''/full-string empty-separator cases, no-match → '')."""
    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    terms = {
        2: '"chat"@en',
        3: "Hello xyz a",
        5: None,  # integer literal: STR = '5'
    }
    store = TripleStore(
        spark.createDataFrame(
            [(1, 10, o) for o in terms], "s long, p long, o long"
        )
    )
    d = Dictionary(
        spark.createDataFrame(
            [(10, ":p")] + [(o, t) for o, t in terms.items() if t],
            "id long, term string",
        )
    )
    q = (
        "SELECT ?o ?t WHERE { ?s :p ?o . "
        f"BIND({_render_sexpr(expr)} AS ?t) }}"
    )
    got = {r.o: r.t for r in sparql_to_df(store, q, d).collect()}
    for oid in terms:
        sval = terms[oid] if terms[oid] is not None else str(oid)
        assert got[oid] == _eval_sexpr(expr, sval), (
            _render_sexpr(expr), oid, sval
        )


# ---- string-expression fuzz vs DuckDB (r8) --------------------------------
# The r7 fuzz checks the string grammar against a Python twin; this one
# composes nested SUBSTR/STRBEFORE/STRAFTER/REPLACE/UCASE/LCASE/CONCAT
# chains in SELECT expressions AND FILTER comparisons and checks them
# against DUCKDB — the cross-engine oracle — over terms chosen to hit the
# codepoint/regex edges where engines diverge: empty strings, multibyte,
# regex metachars in REPLACE, quotes, separators absent/empty.

_DK_LITS = ["", "a", "x.y", 'wi"th', "é漢 b"]
_DK_SEPS = ["a", "", ".", "é", " "]
# regex patterns (REPLACE is fn:replace = regex): literal, class, plus,
# escaped metachar, dot, multibyte — same dialect in Java and DuckDB RE2
_DK_PATS = ["a", "[ab]", "x+", "\\.", ".", "é"]
_DK_REPS = ["", "_", "Z"]

_DKEXPR = st.deferred(
    lambda: st.one_of(
        st.just(("sof",)),
        st.sampled_from([("slit", x) for x in _DK_LITS]),
        st.tuples(st.sampled_from(["ucase", "lcase"]), _DKEXPR),
        st.tuples(
            st.just("substr"), _DKEXPR, st.integers(1, 5),
            st.one_of(st.none(), st.integers(0, 4)),
        ),
        st.tuples(
            st.sampled_from(["strbefore", "strafter"]), _DKEXPR,
            st.sampled_from(_DK_SEPS),
        ),
        st.tuples(
            st.just("replace"), _DKEXPR, st.sampled_from(_DK_PATS),
            st.sampled_from(_DK_REPS),
        ),
        st.tuples(
            st.just("concat"),
            st.lists(_DKEXPR, min_size=1, max_size=3).map(tuple),
        ),
    )
)


def _dk_sparql_lit(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _dk_render(node) -> str:
    k = node[0]
    if k == "sof":
        return "STR(?o)"
    if k == "slit":
        return _dk_sparql_lit(node[1])
    if k in ("ucase", "lcase"):
        return f"{k.upper()}({_dk_render(node[1])})"
    if k == "substr":
        _, a, start, ln = node
        inner = _dk_render(a)
        return (
            f"SUBSTR({inner}, {start})"
            if ln is None
            else f"SUBSTR({inner}, {start}, {ln})"
        )
    if k in ("strbefore", "strafter"):
        return (
            f"{k.upper()}({_dk_render(node[1])}, "
            f"{_dk_sparql_lit(node[2])})"
        )
    if k == "replace":
        _, a, pat, rep = node
        return (
            f"REPLACE({_dk_render(a)}, {_dk_sparql_lit(pat)}, "
            f"{_dk_sparql_lit(rep)})"
        )
    return "CONCAT(" + ", ".join(_dk_render(a) for a in node[1]) + ")"


def _dk_sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _dk_sql(node, col: str) -> str:
    """The same expression tree as DuckDB SQL over string column `col`
    (position/substr/length are codepoint-based in DuckDB, matching
    Spark's JVM string functions and §17.4.3's character semantics)."""
    k = node[0]
    if k == "sof":
        return col
    if k == "slit":
        return _dk_sqlq(node[1])
    if k in ("ucase", "lcase"):
        fn = "upper" if k == "ucase" else "lower"
        return f"{fn}({_dk_sql(node[1], col)})"
    if k == "substr":
        _, a, start, ln = node
        inner = _dk_sql(a, col)
        return (
            f"substr({inner}, {start})"
            if ln is None
            else f"substr({inner}, {start}, {ln})"
        )
    if k in ("strbefore", "strafter"):
        s, sep = _dk_sql(node[1], col), node[2]
        if sep == "":
            # §17.4.3.12-13 empty-separator cases
            return "''" if k == "strbefore" else s
        sq = _dk_sqlq(sep)
        pos = f"position({sq} IN {s})"
        if k == "strbefore":
            return f"CASE WHEN {pos} > 0 THEN substr({s}, 1, {pos} - 1) ELSE '' END"
        return (
            f"CASE WHEN {pos} > 0 "
            f"THEN substr({s}, {pos} + length({sq})) ELSE '' END"
        )
    if k == "replace":
        _, a, pat, rep = node
        return (
            f"regexp_replace({_dk_sql(a, col)}, {_dk_sqlq(pat)}, "
            f"{_dk_sqlq(rep)}, 'g')"
        )
    return "concat(" + ", ".join(_dk_sql(a, col) for a in node[1]) + ")"


@given(expr=_DKEXPR, op=st.sampled_from(["=", "!="]))
@settings(**SETTINGS)
def test_string_expression_matches_duckdb(spark, expr, op):
    """Random string-expression chains in a SELECT expression and in a
    FILTER comparison produce exactly DuckDB's answer on the same terms."""
    import duckdb

    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    terms = {2: "x.y z", 3: 'Héllo "q" a', 5: None, 7: "aabxé", 8: ""}
    store = TripleStore(
        spark.createDataFrame(
            [(1, 10, o) for o in terms], "s long, p long, o long"
        )
    )
    d = Dictionary(
        spark.createDataFrame(
            [(10, ":p")] + [(o, t) for o, t in terms.items() if t is not None],
            "id long, term string",
        )
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE vals (o BIGINT, s VARCHAR)")
    for o, t in terms.items():
        con.execute(
            "INSERT INTO vals VALUES (?, ?)", [o, t if t is not None else str(o)]
        )

    # SELECT-expression projection
    rendered = _dk_render(expr)
    # the projection regex supports 10 nested parens; the `(... AS ?t)`
    # wrapper adds one — skip the rare deeper trees
    depth = cur = 0
    for ch in rendered:
        if ch == "(":
            cur += 1
            depth = max(depth, cur)
        elif ch == ")":
            cur -= 1
    assume(depth <= 9)
    got = {
        r.o: r.t
        for r in sparql_to_df(
            store,
            f"SELECT ?o ({rendered} AS ?t) WHERE {{ ?s :p ?o }}",
            d,
        ).collect()
    }
    want = dict(
        con.execute(f"SELECT o, {_dk_sql(expr, 's')} FROM vals").fetchall()
    )
    assert got == want, rendered

    # FILTER comparison against a value DuckDB computed for one row
    # (ensures the filter is sometimes satisfiable, not vacuous);
    # CONCAT-wrap single-leaf trees so the chain enters the
    # string-expression FILTER branch
    frendered = (
        rendered if expr[0] not in ("sof", "slit") else f"CONCAT({rendered})"
    )
    lit = want[2]
    fq = (
        f"SELECT ?o WHERE {{ ?s :p ?o . "
        f"FILTER({frendered} {op} {_dk_sparql_lit(lit)}) }}"
    )
    got_ids = sorted(r.o for r in sparql_to_df(store, fq, d).collect())
    dop = "=" if op == "=" else "<>"
    want_ids = sorted(
        o
        for (o,) in con.execute(
            f"SELECT o FROM vals WHERE {_dk_sql(expr, 's')} {dop} ?",
            [lit],
        ).fetchall()
    )
    assert got_ids == want_ids, (fq, lit)


# ---------------------------------------------------------------------------
# r9: raw-RDF first mile — format∘parse identity and the dictionary's
# DuckDB row_number twin under ADVERSARIAL terms (unicode, escapes,
# dots-against-the-terminator, mixed bnodes/literals/IRIs)

_iri_chars = st.text(
    st.sampled_from("abcXYZ09/:#_.~%?&=-"), min_size=1, max_size=12
)
_iris = _iri_chars.map(lambda s: f"<urn:{s}>")
_bnodes = st.from_regex(r"_:[A-Za-z0-9]+(\.[A-Za-z0-9]+)*", fullmatch=True)
_lit_body = st.text(
    st.characters(
        codec="utf-8", exclude_characters='"\\\n\r', exclude_categories=("Cs",)
    ),
    max_size=15,
).map(lambda s: s.replace("\\", "\\\\").replace('"', '\\"'))
_literals = st.one_of(
    _lit_body.map(lambda b: f'"{b}"'),
    st.tuples(_lit_body, st.from_regex(r"[a-zA-Z]+(-[a-zA-Z0-9]+)?", fullmatch=True)).map(
        lambda t: f'"{t[0]}"@{t[1]}'
    ),
    st.tuples(_lit_body, _iris).map(lambda t: f'"{t[0]}"^^{t[1]}'),
)
_statements = st.lists(
    st.tuples(
        st.one_of(_iris, _bnodes), _iris, st.one_of(_iris, _bnodes, _literals)
    ),
    min_size=1,
    max_size=25,
)


@given(stmts=_statements, tight_dot=st.booleans())
@settings(**SETTINGS)
def test_nt_format_parse_identity_fuzz(spark, tmp_path_factory, stmts, tight_dot):
    """parse(format(X)) == X for adversarial term sets, in strict-fail
    mode (any line the grammar cannot re-read is a bug, not a skip);
    with tight_dot the terminating dot hugs the object (legal NT)."""
    from rdfproject_msc_spark.sources.ntriples import (
        format_ntriples,
        parse_ntriples,
    )

    base = tmp_path_factory.mktemp("ntfuzz")
    sep = "" if tight_dot else " "
    lines = [f"{s} {p} {o}{sep}." for s, p, o in stmts]
    # a bnode hugging the dot would merge: only IRIs/literals may be tight
    if tight_dot:
        lines = [
            f"{s} {p} {o} ." if o.startswith("_:") else f"{s} {p} {o}."
            for s, p, o in stmts
        ]
    path = str(base / "f.nt")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    got = sorted(
        map(tuple, parse_ntriples(spark, path, on_error="fail").collect())
    )
    assert got == sorted(stmts)
    # and the library writer reproduces the same statements
    out = str(base / "round")
    format_ntriples(
        parse_ntriples(spark, path, on_error="fail")
    ).write.mode("overwrite").text(out)
    back = sorted(
        map(tuple, parse_ntriples(spark, out, on_error="fail").collect())
    )
    assert back == sorted(stmts)


@given(stmts=_statements)
@settings(**SETTINGS)
def test_dictionary_ids_match_duckdb_fuzz(spark, tmp_path_factory, stmts):
    """Dense signed ids == DuckDB row_number over the same term set for
    adversarial (incl. non-ASCII) terms — pins that the driver ranking's
    code-point sort and DuckDB's memcmp collation agree on the rank
    order (tests/test_ingest_rdf.py pins it equal to Spark's)."""
    import duckdb

    from rdfproject_msc_spark.sources.ntriples import (
        build_dictionary,
        parse_ntriples,
    )

    base = tmp_path_factory.mktemp("dictfuzz")
    path = str(base / "f.nt")
    with open(path, "w", encoding="utf-8") as fh:
        for s, p, o in stmts:
            fh.write(f"{s} {p} {o} .\n")
    parsed = parse_ntriples(spark, path, on_error="fail")
    got = sorted(
        map(
            tuple,
            build_dictionary(parsed, "term LIKE '_:%'").collect(),
        )
    )
    terms = sorted({t for st_ in stmts for t in st_})
    con = duckdb.connect()
    con.execute("CREATE TABLE terms(term VARCHAR)")
    con.executemany("INSERT INTO terms VALUES (?)", [(t,) for t in terms])
    want = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT CASE WHEN neg THEN -rnk ELSE rnk END AS id, term
FROM (SELECT term, term LIKE '_:%' AS neg,
             row_number() OVER (PARTITION BY term LIKE '_:%'
                                ORDER BY term) AS rnk
      FROM terms)
"""
            ).fetchall(),
        )
    )
    assert got == want
