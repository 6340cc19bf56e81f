"""Compatible-bindings joins over possibly-unbound variables (SPARQL 1.1
§18.2.1): a shared variable bound only in an OPTIONAL or in some UNION
arms joins by compatibility — unbound matches anything and the merged
solution takes whichever side is bound. Spark's equi-join inverts this
(NULL == x is NULL), so the planner lowers these joins to a DISJOINT
bound-mask branch decomposition (`_compat_inner_join`) where every branch
stays a hash equi-join.

The reference's Jena front-end accepted every one of these queries
(MyOpVisitorBase.java:49); expectations here are hand-derived from the
fixture graph and cross-checked by the property test at the bottom
against a direct Python implementation of the §18.2.1 Join operator.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests._budget import examples

from rdfproject_msc_spark.sparql.parser import SparqlSyntaxError
from rdfproject_msc_spark.sparql.planner import sparql_to_df
from rdfproject_msc_spark.store import TripleStore


@pytest.fixture(scope="module")
def compat_store(spark):
    # s1/s2 have p1; only s1 has the OPTIONAL p2 → x; x-chain p3 edges
    rows = [
        (1, 1, 10),
        (2, 1, 20),
        (1, 2, 100),
        (100, 3, 7),
        (200, 3, 8),
    ]
    return TripleStore(spark.createDataFrame(rows, "s long, p long, o long"))


def _rows(df, *cols):
    key = lambda t: tuple((v is None, v or 0) for v in t)
    return sorted(
        (tuple(getattr(r, c) for c in cols) for r in df.collect()), key=key
    )


def test_left_nullable_group_join(compat_store):
    """Ω1 leaves ?x unbound for s2; the unbound row is compatible with
    EVERY Ω2 solution (it joins them all, binding ?x from the right)."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?x ?y WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?x 3 ?y } }",
    )
    assert _rows(df, "s", "x", "y") == sorted(
        [(1, 100, 7), (2, 100, 7), (2, 200, 8)]
    )


def test_right_nullable_group_join(compat_store):
    """The nullable side on the RIGHT: left ?x is always bound, the right
    subgroup binds it optionally — left rows keep their own binding when
    the right row leaves ?x unbound."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?x ?y ?z WHERE { { ?x 3 ?y } "
        "{ ?z 1 ?a OPTIONAL { ?z 2 ?x } } }",
    )
    assert _rows(df, "x", "y", "z") == sorted(
        [(100, 7, 1), (100, 7, 2), (200, 8, 2)]
    )


def test_both_sides_nullable_stays_unbound(compat_store):
    """When BOTH sides can leave ?x unbound the merged binding can remain
    unbound (s2⨝z2) — and bound-bound pairs must still agree."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?z ?x WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?z 1 ?b OPTIONAL { ?z 2 ?x } } }",
    )
    assert _rows(df, "s", "z", "x") == sorted(
        [(1, 1, 100), (1, 2, 100), (2, 1, 100), (2, 2, None)],
        key=lambda t: tuple((v is None, v or 0) for v in t),
    )


def test_union_arm_joins_nullable_prior(compat_store):
    """A UNION block after an OPTIONAL-nullable binding: each arm joins
    the prior solutions by compatibility, then the arms union."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?x ?y WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?x 3 ?y } UNION { ?y 2 ?x } }",
    )
    assert _rows(df, "s", "x", "y") == sorted(
        [(1, 100, 7), (1, 100, 1), (2, 100, 7), (2, 200, 8), (2, 100, 1)]
    )


def test_filter_after_compat_join(compat_store):
    """FILTER over the MERGED binding: applies to the coalesced value
    (3VL drops the still-unbound rows, §17.2 error semantics)."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?x ?y WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?x 3 ?y } FILTER(?x > 100) }",
    )
    assert _rows(df, "s", "x", "y") == [(2, 200, 8)]


def test_compat_var_rebinds_to_non_null(compat_store):
    """After joining with a side that ALWAYS binds ?x, the merged ?x is
    bound again — a later equi-join on it must not re-reject."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?x ?y ?w WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?x 3 ?y } { ?x 3 ?w } }",
    )
    # after the first compat join ?x is non-null; third group equi-joins
    assert _rows(df, "s", "x", "y", "w") == sorted(
        [(1, 100, 7, 7), (2, 100, 7, 7), (2, 200, 8, 8)]
    )


_ARM = "{ ?s 1 ?a OPTIONAL { ?s 2 ?x } OPTIONAL { ?s 2 ?y } OPTIONAL { ?s 2 ?z } }"
# five left-nullable keys: 2^5 = 32 bound-mask branches
_FIVE = "".join(f"OPTIONAL {{ ?s 2 ?x{i} }} " for i in range(1, 6))
_FIVE_BODY = "{ ?x1 3 ?x2 . ?x3 3 ?x4 . ?x5 3 ?q }"
BRANCH_CAP_QUERIES = {
    # 3 both-sides-nullable shared vars → 27 disjoint branches
    "inner_join": (
        f"SELECT * WHERE {{ {_ARM} "
        f"{_ARM.replace('?s', '?t').replace('?a', '?b')} }}"
    ),
    "optional": f"SELECT * WHERE {{ ?s 1 ?a {_FIVE} OPTIONAL {_FIVE_BODY} }}",
    "minus": f"SELECT * WHERE {{ ?s 1 ?a {_FIVE} MINUS {_FIVE_BODY} }}",
    "exists": (
        f"SELECT * WHERE {{ ?s 1 ?a {_FIVE} FILTER EXISTS {_FIVE_BODY} }}"
    ),
    "values_multi": (
        f"SELECT * WHERE {{ ?s 1 ?a {_FIVE} "
        "VALUES (?x1 ?x2 ?x3 ?x4 ?x5) { (1 2 3 4 5) } }"
    ),
    # 2 outer-nullable + 3 child-nullable keys: each side alone is under
    # the cap (4 and 8 branches), their product (32) is not
    "optional_both_sides": (
        "SELECT * WHERE { ?s 1 ?x3 OPTIONAL { ?s 2 ?x1 } "
        "OPTIONAL { ?s 2 ?x2 } OPTIONAL { ?s 2 ?j "
        "OPTIONAL { ?j 3 ?x1 } OPTIONAL { ?j 3 ?x2 } OPTIONAL { ?j 3 ?x3 } } }"
    ),
}


@pytest.mark.parametrize("form", sorted(BRANCH_CAP_QUERIES))
def test_branch_cap_rejects(compat_store, form):
    """Every bound-mask lowering (two-sided inner join, OPTIONAL, MINUS,
    FILTER EXISTS, multi-var VALUES, and OPTIONAL keyed on variables
    nullable on both sides) rejects a key set whose branch count
    exceeds the cap, naming it, rather than emitting a huge plan."""
    with pytest.raises(SparqlSyntaxError, match="bound-mask"):
        sparql_to_df(compat_store, BRANCH_CAP_QUERIES[form])


# --- property test: Spark plan ≡ direct Python §18.2.1 Join -----------

triples = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),
        st.sampled_from([1, 2, 3]),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=0,
    max_size=14,
)


def _py_compat_join(om1, om2):
    """Direct §18.2.1: merge compatible mappings (None = unbound)."""
    out = []
    for m1 in om1:
        for m2 in om2:
            ok = all(
                m1.get(k) is None or m2.get(k) is None or m1[k] == m2[k]
                for k in set(m1) & set(m2)
            )
            if ok:
                merged = dict(m1)
                for k, v in m2.items():
                    if merged.get(k) is None:
                        merged[k] = v
                out.append(merged)
    return out


@given(rows=triples)
@settings(
    max_examples=examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_compat_join_matches_python_eval(spark, rows):
    """Both-sides-nullable group join ≡ the Python Join over the same two
    solution multisets (built by the same bottom-up algebra)."""
    df = spark.createDataFrame(rows, "s long, p long, o long")
    out = sparql_to_df(
        TripleStore(df),
        "SELECT ?s ?z ?x WHERE { { ?s 1 ?a OPTIONAL { ?s 2 ?x } } "
        "{ ?z 1 ?b OPTIONAL { ?z 2 ?x } } }",
    )
    got = sorted(
        ((r["s"], r["z"], r["x"]) for r in out.collect()),
        key=lambda t: tuple((v is None, v or 0) for v in t),
    )

    def side(sv, av):
        base = [{sv: s, av: o} for s, p, o in rows if p == 1]
        opt = [{sv: s, "x": o} for s, p, o in rows if p == 2]
        out = []
        for b in base:
            ext = [o for o in opt if o[sv] == b[sv]]
            if ext:
                out.extend({**b, "x": o["x"]} for o in ext)
            else:
                out.append({**b, "x": None})
        return out

    want = sorted(
        (
            (m["s"], m["z"], m.get("x"))
            for m in _py_compat_join(side("s", "a"), side("z", "b"))
        ),
        key=lambda t: tuple((v is None, v or 0) for v in t),
    )
    assert got == want


# --- per-clause property tests: OPTIONAL / MINUS / EXISTS / VALUES ----


def _nkey(t):
    return tuple((v is None, v or 0) for v in t)


def _py_left_join(om1, om2):
    """Direct §18.2.2.2 LeftJoin (no filter): compatible merges, else the
    left mapping passes through null-extended."""
    out = []
    for m1 in om1:
        ms = []
        for m2 in om2:
            if all(
                m1.get(k) is None or m2.get(k) is None or m1[k] == m2[k]
                for k in set(m1) & set(m2)
            ):
                merged = dict(m1)
                for k, v in m2.items():
                    if merged.get(k) is None:
                        merged[k] = v
                ms.append(merged)
        out.extend(ms) if ms else out.append(m1)
    return out


def _py_minus(om1, om2):
    """Direct §18.5 Minus: remove μ1 when some μ2 is compatible AND the
    domains overlap (an unbound slot is outside the domain)."""

    def dom_overlap(m1, m2):
        return any(
            m1.get(k) is not None and m2.get(k) is not None
            for k in set(m1) & set(m2)
        )

    def compat(m1, m2):
        return all(
            m1.get(k) is None or m2.get(k) is None or m1[k] == m2[k]
            for k in set(m1) & set(m2)
        )

    return [
        m1
        for m1 in om1
        if not any(compat(m1, m2) and dom_overlap(m1, m2) for m2 in om2)
    ]


def _py_exists(om1, om2, neg):
    def compat(m1, m2):
        return all(
            m1.get(k) is None or m2.get(k) is None or m1[k] == m2[k]
            for k in set(m1) & set(m2)
        )

    return [
        m1 for m1 in om1 if any(compat(m1, m2) for m2 in om2) != neg
    ]


def _side(rows, sv, av):
    base = [{sv: s, av: o} for s, p, o in rows if p == 1]
    opt = [{sv: s, "x": o} for s, p, o in rows if p == 2]
    out = []
    for b in base:
        ext = [o for o in opt if o[sv] == b[sv]]
        if ext:
            out.extend({**b, "x": o["x"]} for o in ext)
        else:
            out.append({**b, "x": None})
    return out


def _rel3(rows):
    return [{"x": s, "y": o} for s, p, o in rows if p == 3]


def _run(spark, rows, q, *cols):
    df = spark.createDataFrame(rows, "s long, p long, o long")
    out = sparql_to_df(TripleStore(df), q)
    return sorted(
        (tuple(r[c] for c in cols) for r in out.collect()), key=_nkey
    )


@given(rows=triples)
@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_optional_on_nullable_key_matches_python_eval(spark, rows):
    got = _run(
        spark,
        rows,
        "SELECT ?s ?x ?y WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } "
        "OPTIONAL { ?x 3 ?y } }",
        "s",
        "x",
        "y",
    )
    want = sorted(
        (
            (m["s"], m.get("x"), m.get("y"))
            for m in _py_left_join(_side(rows, "s", "a"), _rel3(rows))
        ),
        key=_nkey,
    )
    assert got == want


@given(rows=triples)
@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minus_on_nullable_key_matches_python_eval(spark, rows):
    got = _run(
        spark,
        rows,
        "SELECT ?s ?x WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } "
        "MINUS { ?x 3 ?y } }",
        "s",
        "x",
    )
    want = sorted(
        (
            (m["s"], m.get("x"))
            for m in _py_minus(_side(rows, "s", "a"), _rel3(rows))
        ),
        key=_nkey,
    )
    assert got == want


@given(rows=triples, neg=st.booleans())
@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exists_on_nullable_key_matches_python_eval(spark, rows, neg):
    kw = "FILTER NOT EXISTS" if neg else "FILTER EXISTS"
    got = _run(
        spark,
        rows,
        f"SELECT ?s ?x WHERE {{ ?s 1 ?a OPTIONAL {{ ?s 2 ?x }} "
        f"{kw} {{ ?x 3 ?y }} }}",
        "s",
        "x",
    )
    want = sorted(
        (
            (m["s"], m.get("x"))
            for m in _py_exists(_side(rows, "s", "a"), _rel3(rows), neg)
        ),
        key=_nkey,
    )
    assert got == want


@given(rows=triples)
@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_values_on_nullable_var_matches_python_eval(spark, rows):
    got = _run(
        spark,
        rows,
        "SELECT ?s ?x WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } "
        "VALUES ?x { 1 3 } }",
        "s",
        "x",
    )
    want = sorted(
        (
            (m["s"], m.get("x"))
            for m in _py_compat_join(
                _side(rows, "s", "a"), [{"x": 1}, {"x": 3}]
            )
        ),
        key=_nkey,
    )
    assert got == want


def test_order_by_nullable_var_unbound_sorts_lowest(compat_store):
    """§15.1: unbound sorts lowest — ASC puts the null-extended row
    first, DESC puts it last (Spark's asc-nulls-first / desc-nulls-last
    defaults implement exactly this; pinned so a sort-flag change can't
    silently diverge)."""
    q = "SELECT ?s ?x WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } } ORDER BY %s"
    asc = sparql_to_df(compat_store, q % "?x").collect()
    assert [(r["s"], r["x"]) for r in asc] == [(2, None), (1, 100)]
    desc = sparql_to_df(compat_store, q % "DESC(?x)").collect()
    assert [(r["s"], r["x"]) for r in desc] == [(1, 100), (2, None)]


def test_group_by_nullable_var_groups_unbound_together(compat_store):
    """§11: solutions where the key is unbound form ONE group (Spark's
    NULL grouping implements this directly); COUNT(?v) counts bound
    values only, so the unbound-?x group still counts its ?s rows."""
    df = sparql_to_df(
        compat_store,
        "SELECT ?x (COUNT(?s) AS ?n) WHERE "
        "{ ?s 1 ?a OPTIONAL { ?s 2 ?x } } GROUP BY ?x",
    )
    got = sorted(
        ((r["x"], r["n"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert got == [(100, 1), (None, 1)]


# --- §17.4 functional forms over possibly-unbound vars ----------------


def test_bind_coalesce_if_abs(compat_store):
    """COALESCE/IF/ABS are the §17.4 unbound-handling toolkit: COALESCE
    falls back past the unbound ?x, BOUND-IF branches on it, and a
    comparison-IF with an unbound side ERRORS (leaves the target
    unbound — no silent else branch)."""
    base = "{ ?s 1 ?a OPTIONAL { ?s 2 ?x } "
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?y WHERE " + base + "BIND(COALESCE(?x, -1) AS ?y) }",
    )
    assert _rows(df, "s", "y") == [(1, 100), (2, -1)]
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?y WHERE " + base + "BIND(IF(BOUND(?x), ?x * 2, 0) AS ?y) }",
    )
    assert _rows(df, "s", "y") == [(1, 200), (2, 0)]
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?y WHERE " + base + "BIND(IF(!BOUND(?x), 1, ?x) AS ?y) }",
    )
    assert _rows(df, "s", "y") == [(1, 100), (2, 1)]
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?y WHERE " + base + "BIND(IF(?x > 50, 1, 0) AS ?y) }",
    )
    assert _rows(df, "s", "y") == [(1, 1), (2, None)]
    df = sparql_to_df(
        compat_store,
        "SELECT ?s ?y WHERE { ?s 1 ?a BIND(ABS(0 - ?a) AS ?y) }",
    )
    assert _rows(df, "s", "y") == [(1, 10), (2, 20)]


def test_describe_nullable_var_skips_unbound(compat_store):
    """DESCRIBE ?x where ?x is OPTIONAL-bound: the unbound binding names
    no resource (§16.4) — only resource 100's triples come back."""
    df = sparql_to_df(
        compat_store,
        "DESCRIBE ?x WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } }",
    )
    assert sorted((r.s, r.p, r.o) for r in df.collect()) == [
        (1, 2, 100),
        (100, 3, 7),
    ]


def test_filter_functional_forms(compat_store):
    """The same §17.4 forms compose inside FILTER arithmetic: COALESCE
    defaults the unbound side, ABS wraps a difference, BOUND-IF selects
    the compared value."""
    base = "SELECT ?s WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } FILTER(%s) }"
    df = sparql_to_df(compat_store, base % "COALESCE(?x, 0) > 50")
    assert [r.s for r in df.collect()] == [1]
    df = sparql_to_df(compat_store, base % "ABS(10 - ?a) = 10")
    assert [r.s for r in df.collect()] == [2]
    df = sparql_to_df(compat_store, base % "IF(BOUND(?x), ?x, 0) > 50")
    assert [r.s for r in df.collect()] == [1]
    df = sparql_to_df(compat_store, base % "COALESCE(?x, 0) >= 0")
    assert sorted(r.s for r in df.collect()) == [1, 2]


def test_blank_nodes_are_existential_vars(compat_store):
    """§19.8: query blank nodes are existentials, not terms. `_:m`
    co-refers within the query (a join through a hidden var); `[]` is
    fresh per occurrence; neither appears in SELECT * output."""
    df = sparql_to_df(
        compat_store, "SELECT ?s ?y WHERE { ?s 2 _:m . _:m 3 ?y }"
    )
    assert _rows(df, "s", "y") == [(1, 7)]
    df = sparql_to_df(compat_store, "SELECT ?s WHERE { ?s 1 [] }")
    assert sorted(r.s for r in df.collect()) == [1, 2]
    df = sparql_to_df(compat_store, "SELECT * WHERE { ?s 2 _:m . _:m 3 ?y }")
    assert df.columns == ["s", "y"]
    # two [] are independent existentials, not a join
    df = sparql_to_df(
        compat_store, "SELECT ?s ?z WHERE { ?s 2 [] . ?z 3 [] }"
    )
    assert _rows(df, "s", "z") == [(1, 100), (1, 200)]


def test_textual_order_join_after_optional(spark):
    """The fuzzer's minimal counterexample, pinned deterministically:
    `?s 1 ?a OPTIONAL { ?s 2 ?x } { ?x 3 ?g0 }` — §18.2.2.6 applies the
    LeftJoin FIRST (written order), so ?x=1 is bound when the group join
    arrives and the group's only row (?x=2) is incompatible → empty.
    The old fixed clause order hoisted the group join (binding ?x=2),
    then null-extended the OPTIONAL — one phantom row."""
    df = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 1), (2, 3, 1)], "s long, p long, o long"
    )
    out = sparql_to_df(
        TripleStore(df),
        "SELECT * WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } { ?x 3 ?g0 } }",
    )
    assert out.collect() == []
    # the commuted spelling keeps the join-first meaning
    out2 = sparql_to_df(
        TripleStore(df),
        "SELECT * WHERE { ?s 1 ?a { ?x 3 ?g0 } OPTIONAL { ?s 2 ?x } }",
    )
    cols = sorted(out2.columns)
    assert sorted(tuple(r[c] for c in cols) for r in out2.collect()) == [
        (1, 1, 1, 2)
    ]


def test_values_written_before_binder_joins_fresh(spark):
    """Inline VALUES is a JOIN (§18.2.2.2): written before the OPTIONAL
    that could bind ?x, it binds ?x itself and the later OPTIONAL keys
    on that binding (no match for x=5 → null-extension keeps 5)."""
    df = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 1)], "s long, p long, o long"
    )
    out = sparql_to_df(
        TripleStore(df),
        "SELECT * WHERE { ?s 1 ?a VALUES ?x { 5 } OPTIONAL { ?s 2 ?x } }",
    )
    cols = sorted(out.columns)
    assert [tuple(r[c] for c in cols) for r in out.collect()] == [(1, 1, 5)]


@given(
    rows=triples,
    clause=st.sampled_from(["optional", "minus", "exists", "not_exists"]),
)
@settings(
    max_examples=examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_group_internal_nullable_fuzz(spark, rows, clause):
    """Property check on the right-side bound-mask lowering: outer
    `?s 1 ?x` (both required); child `{ ?s 2 ?k OPTIONAL { ?k 3 ?x } }`
    leaves shared ?x optionally bound. Compared against a direct Python
    evaluation of §18.2.1 compatibility per clause."""
    base = [{"s": s, "x": o} for s, p, o in rows if p == 1]
    mid = [(s, o) for s, p, o in rows if p == 2]
    ext = [(s, o) for s, p, o in rows if p == 3]
    ch = []
    for s, k in mid:
        xs = [o for kk, o in ext if kk == k]
        if xs:
            ch.extend({"s": s, "k": k, "x": o} for o in xs)
        else:
            ch.append({"s": s, "k": k})

    def compat(m, c):
        return all(
            m[v] == c[v] for v in ("s", "x") if v in m and v in c
        )

    om = []
    for m in base:
        matches = [c for c in ch if compat(m, c)]
        if clause == "optional":
            if matches:
                om.extend({**m, "k": c["k"]} for c in matches)
            else:
                om.append({**m, "k": None})
        elif clause == "minus":
            if not matches:  # child always binds ?s → domains overlap
                om.append(m)
        elif clause == "exists":
            if matches:
                om.append(m)
        else:
            if not matches:
                om.append(m)

    kw = {
        "optional": "OPTIONAL",
        "minus": "MINUS",
        "exists": "FILTER EXISTS",
        "not_exists": "FILTER NOT EXISTS",
    }[clause]
    q = (
        "SELECT * WHERE { ?s 1 ?x "
        + kw
        + " { ?s 2 ?k OPTIONAL { ?k 3 ?x } } }"
    )
    df = spark.createDataFrame(rows, "s long, p long, o long")
    out = sparql_to_df(TripleStore(df), q)
    cols = sorted(out.columns)
    got = sorted(
        (tuple(r[c] for c in cols) for r in out.collect()), key=_nkey
    )
    want = sorted((tuple(m.get(c) for c in cols) for m in om), key=_nkey)
    assert got == want


def test_multivar_values_nullable_and_fresh(spark):
    """Multi-var VALUES over possibly-unbound vars JOINS the data block
    (formerly rejected): UNDEF = NULL in a broadcast literal relation,
    left bound-mask branches, coalesce merge — an unbound left ?x takes
    the row's value, an UNDEF slot leaves it unbound; written before its
    binder the block binds fresh values the later OPTIONAL keys on."""
    rows = [(1, 1, 7), (2, 1, 9), (3, 1, 8), (1, 2, 5)]
    st_ = TripleStore(spark.createDataFrame(rows, "s long, p long, o long"))

    def r(q):
        out = sparql_to_df(st_, q)
        key = lambda t: tuple((v is None, v) for v in t)
        return sorted(
            (
                tuple(x[c] for c in sorted(out.columns))
                for x in out.collect()
            ),
            key=key,
        )

    assert r(
        "SELECT * WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } "
        "VALUES (?s ?x) { (1 5) (2 6) (3 UNDEF) } }"
    ) == [(7, 1, 5), (8, 3, None), (9, 2, 6)]
    assert r(
        "SELECT * WHERE { ?s 1 ?a VALUES (?s ?x) { (1 5) (1 6) (2 UNDEF) } "
        "OPTIONAL { ?s 2 ?x } }"
    ) == [(7, 1, 5), (7, 1, 6), (9, 2, None)]


def test_leading_clause_starts_from_empty_solution(spark):
    """§18.2.2.6: a group starts as Z, the one-empty-solution multiset —
    a group whose FIRST clause is OPTIONAL applies LeftJoin(Z, A) and
    the later pattern JOINS (inner) with that: P rows without an A-match
    drop when A is nonempty, survive null-extended when A is empty."""
    st_ = TripleStore(
        spark.createDataFrame(
            [(1, 1, 1), (2, 1, 5), (1, 2, 9)], "s long, p long, o long"
        )
    )

    def r(st__, q):
        out = sparql_to_df(st__, q)
        key = lambda t: tuple((v is None, v) for v in t)
        return sorted(
            (
                tuple(x[c] for c in sorted(out.columns))
                for x in out.collect()
            ),
            key=key,
        )

    q = "SELECT * WHERE { OPTIONAL { ?s 2 ?x } ?s 1 ?a }"
    # A = {(s=1,x=9)} nonempty → Join(A, P) drops the s=2 P row
    assert r(st_, q) == [(1, 1, 9)]
    # A empty → LeftJoin(Z, ∅) = {μ0} → P survives, ?x unbound
    st_empty = TripleStore(
        spark.createDataFrame(
            [(1, 1, 1), (2, 1, 5)], "s long, p long, o long"
        )
    )
    assert r(st_empty, q) == [(1, 1, None), (5, 2, None)]
    # leading BIND = Extend(Z, ...): a constant binding joins everything
    assert r(st_empty, "SELECT * WHERE { BIND(7 AS ?c) ?s 1 ?a }") == [
        (1, 7, 1), (5, 7, 2)
    ]
    # leading VALUES = Join(Z, data): binds then restricts the pattern
    assert r(st_empty, "SELECT * WHERE { VALUES ?s { 2 9 } ?s 1 ?a }") == [
        (5, 2)
    ]


def test_group_internal_nullable_keys(spark):
    """The child of an OPTIONAL/MINUS/EXISTS leaves a shared var (?x)
    optionally bound — formerly rejected, now lowered via RIGHT-side
    bound-mask branches: matched rows from per-mask hash inner joins
    (child-unbound ?x drops the conjunct, merged ?x = outer value),
    unmatched rows from chained anti joins. Fixture: ?s 5 ?x outer
    bindings (1,7)(2,9)(3,8)(4,11); child { ?s 2 ?k OPTIONAL { ?k 3 ?x } }
    yields (s=1,k=10,x=7) bound-match, (s=2,k=20,x=∅) compat-match,
    (s=4,k=30,x=99) INcompatible, s=3 no child row."""
    rows = [
        (1, 5, 7), (2, 5, 9), (3, 5, 8), (4, 5, 11),
        (1, 2, 10), (2, 2, 20), (4, 2, 30),
        (10, 3, 7), (30, 3, 99),
    ]
    st_ = TripleStore(spark.createDataFrame(rows, "s long, p long, o long"))

    def r(q):
        out = sparql_to_df(st_, q)
        key = lambda t: tuple((v is None, v) for v in t)
        return sorted(
            (
                tuple(x[c] for c in sorted(out.columns))
                for x in out.collect()
            ),
            key=key,
        )

    child = "{ ?s 2 ?k OPTIONAL { ?k 3 ?x } }"
    assert r(f"SELECT * WHERE {{ ?s 5 ?x OPTIONAL {child} }}") == [
        (10, 1, 7), (20, 2, 9), (None, 3, 8), (None, 4, 11)
    ]
    assert r(f"SELECT * WHERE {{ ?s 5 ?x MINUS {child} }}") == [
        (3, 8), (4, 11)
    ]
    assert r(f"SELECT * WHERE {{ ?s 5 ?x FILTER EXISTS {child} }}") == [
        (1, 7), (2, 9)
    ]
    assert r(f"SELECT * WHERE {{ ?s 5 ?x FILTER NOT EXISTS {child} }}") == [
        (3, 8), (4, 11)
    ]
    # keys nullable on BOTH sides (r9): the left×right mask product —
    # formerly the last compat reject. ?x is OPTIONAL-bound outside AND
    # inside the child; (s=2) matches via the child's unbound ?x, the
    # bound-bound pairs (s=1: 10 vs 7, s=4: 30 vs 99) are incompatible
    both = child.replace("?k", "?j")
    assert r(f"SELECT * WHERE {{ ?s 5 ?a OPTIONAL {{ ?s 2 ?x }} OPTIONAL {both} }}") == [
        (7, None, 1, 10), (8, None, 3, None), (9, 20, 2, 20),
        (11, None, 4, 30),
    ]
    assert r(f"SELECT * WHERE {{ ?s 5 ?a OPTIONAL {{ ?s 2 ?x }} MINUS {both} }}") == [
        (7, 1, 10), (8, 3, None), (11, 4, 30)
    ]
    assert r(
        f"SELECT * WHERE {{ ?s 5 ?a OPTIONAL {{ ?s 2 ?x }} FILTER EXISTS {both} }}"
    ) == [(9, 2, 20)]
    assert r(
        f"SELECT * WHERE {{ ?s 5 ?a OPTIONAL {{ ?s 2 ?x }} "
        f"FILTER NOT EXISTS {both} }}"
    ) == [(7, 1, 10), (8, 3, None), (11, 4, 30)]


def test_bind_vs_minus_textual_order(spark):
    """A BIND target named like a MINUS group variable resolves by
    written position (the r4 ADVICE rejection is obsolete under textual
    dispatch): BIND first → §8.3 compares ?m (both domains bind it);
    MINUS first → positionally domain-disjoint, removes nothing. An
    EXISTS in the same position gates on group-nonemptiness."""
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 5), (1, 3, 2)], "s long, p long, o long"
    )
    st = TripleStore(df)

    def rows(q):
        out = sparql_to_df(st, q)
        return sorted(
            map(tuple, out.select(*sorted(out.columns)).collect())
        )

    assert rows(
        "SELECT * WHERE { ?s 1 ?a BIND(?a + 1 AS ?m) MINUS { ?x 3 ?m } }"
    ) == [(5, 6, 2)]
    assert rows(
        "SELECT * WHERE { ?s 1 ?a MINUS { ?x 3 ?m } BIND(?a + 1 AS ?m) }"
    ) == [(1, 2, 1), (5, 6, 2)]
    assert rows(
        "SELECT * WHERE "
        "{ ?s 1 ?a FILTER EXISTS { ?x 3 ?m } BIND(?a + 1 AS ?m) }"
    ) == [(1, 2, 1), (5, 6, 2)]
    # NOT EXISTS flips the nonempty gate: the group has rows → drop all
    assert rows(
        "SELECT * WHERE "
        "{ ?s 1 ?a FILTER NOT EXISTS { ?x 3 ?m } BIND(?a + 1 AS ?m) }"
    ) == []


# --- composed-clause fuzz: random clause multisets over a nullable var


@given(
    rows=triples,
    n_groups=st.integers(min_value=0, max_value=2),
    n_opts=st.integers(min_value=0, max_value=2),
    use_minus=st.booleans(),
    exists_kind=st.sampled_from([None, "exists", "not_exists"]),
    use_values=st.booleans(),
    both_kind=st.sampled_from([None, "optional", "minus"]),
)
@settings(
    max_examples=examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_clause_compositions_over_nullable_var(
    spark, rows, n_groups, n_opts, use_minus, exists_kind, use_values,
    both_kind,
):
    """Random multisets of {group join, OPTIONAL, MINUS, [NOT] EXISTS,
    VALUES} all keyed on the OPTIONAL-nullable ?x, evaluated in WRITTEN
    order on both sides (§18.2.2.6 textual translation — the planner
    dispatches clauses in written order since the r5 refactor this
    fuzzer forced: it caught the old fixed clause order hoisting a group
    join over the textually-earlier base OPTIONAL, which flips results
    whenever the join can rebind nullable ?x). Nullability EVOLUTION is
    the hard part: a group join can rebind ?x non-null, VALUES binds it,
    and every later clause must see the updated state."""
    parts = []
    for i in range(n_groups):
        parts.append(f"{{ ?x 3 ?g{i} }}")
    for i in range(n_opts):
        parts.append(f"OPTIONAL {{ ?x 3 ?o{i} }}")
    if use_minus:
        parts.append("MINUS { ?x 3 ?m }")
    if exists_kind:
        kw = "FILTER EXISTS" if exists_kind == "exists" else "FILTER NOT EXISTS"
        parts.append(f"{kw} {{ ?x 3 ?e }}")
    if use_values:
        parts.append("VALUES ?x { 1 3 }")
    if both_kind:
        # a BOTH-sides-nullable child (r9): binds ?x inside its own
        # OPTIONAL, composed AFTER the other clauses so it sees the
        # evolved nullability state of ?x
        kw = "OPTIONAL" if both_kind == "optional" else "MINUS"
        parts.append(f"{kw} {{ ?s 2 ?j OPTIONAL {{ ?j 3 ?x }} }}")
    q = (
        "SELECT * WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } "
        + " ".join(parts)
        + " }"
    )
    df = spark.createDataFrame(rows, "s long, p long, o long")
    try:
        out = sparql_to_df(TripleStore(df), q)
    except SparqlSyntaxError:
        # branch-cap rejections are legitimate (many nullable vars)
        return
    cols = sorted(out.columns)
    got = sorted(
        (tuple(r[c] for c in cols) for r in out.collect()), key=_nkey
    )

    om = _side(rows, "s", "a")
    rel3 = _rel3(rows)
    for i in range(n_groups):
        om = _py_compat_join(
            om, [{"x": m["x"], f"g{i}": m["y"]} for m in rel3]
        )
    for i in range(n_opts):
        om = _py_left_join(
            om, [{"x": m["x"], f"o{i}": m["y"]} for m in rel3]
        )
    if use_minus:
        om = _py_minus(om, [{"x": m["x"], "m": m["y"]} for m in rel3])
    if exists_kind:
        om = _py_exists(
            om,
            [{"x": m["x"], "e": m["y"]} for m in rel3],
            exists_kind == "not_exists",
        )
    if use_values:
        om = _py_compat_join(om, [{"x": 1}, {"x": 3}])
    if both_kind:
        child = _py_left_join(
            [{"s": s, "j": o} for s, p, o in rows if p == 2],
            [{"j": s, "x": o} for s, p, o in rows if p == 3],
        )
        om = (
            _py_left_join(om, child)
            if both_kind == "optional"
            else _py_minus(om, child)
        )
    want = sorted(
        (tuple(m.get(c) for c in cols) for m in om), key=_nkey
    )
    assert got == want


# --- both-sides-nullable fuzz (r9: the mask-branch PRODUCT) ---------------


@given(
    rows=triples,
    clause=st.sampled_from(["optional", "minus", "exists", "not_exists"]),
)
@settings(
    max_examples=examples(16),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_both_sides_nullable_matches_python_eval(spark, rows, clause):
    """Keys nullable on BOTH sides (r9, formerly the last compat
    reject): outer ?x is OPTIONAL-bound, the child binds ?x inside its
    own OPTIONAL — every clause kind must equal the direct Python
    §18.2.1/§18.5/§8.1.1 evaluation of the same two solution
    multisets."""
    child_src = "{ ?s 2 ?j OPTIONAL { ?j 3 ?x } }"
    kw = {
        "optional": f"OPTIONAL {child_src}",
        "minus": f"MINUS {child_src}",
        "exists": f"FILTER EXISTS {child_src}",
        "not_exists": f"FILTER NOT EXISTS {child_src}",
    }[clause]
    q = f"SELECT * WHERE {{ ?s 1 ?a OPTIONAL {{ ?s 2 ?x }} {kw} }}"
    df = spark.createDataFrame(rows, "s long, p long, o long")
    out = sparql_to_df(TripleStore(df), q)
    cols = sorted(out.columns)
    got = sorted(
        (tuple(r[c] for c in cols) for r in out.collect()), key=_nkey
    )

    om = _side(rows, "s", "a")
    child = _py_left_join(
        [{"s": s, "j": o} for s, p, o in rows if p == 2],
        [{"j": s, "x": o} for s, p, o in rows if p == 3],
    )
    if clause == "optional":
        model = _py_left_join(om, child)
    elif clause == "minus":
        model = _py_minus(om, child)
    else:
        model = _py_exists(om, child, clause == "not_exists")
    want = sorted(
        (tuple(m.get(c) for c in cols) for m in model), key=_nkey
    )
    assert got == want
