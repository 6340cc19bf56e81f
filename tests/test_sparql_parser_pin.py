"""Spark-free pins for the SPARQL expression parsers.

One FILTER holding every leaf kind pins the AST the parser builds and
the exact output of the five collectors the planner imports; malformed
FILTER, BIND, string-expression, string-IF condition and FILTER
arithmetic operands pin which grammar reports the error."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark.sparql.parser import (
    SparqlSyntaxError,
    filter_expr_barecmp_vars,
    filter_expr_streq_literals,
    filter_expr_strfn_vars,
    filter_expr_term_vars,
    filter_expr_vars,
    parse_sparql,
)

# every FILTER leaf kind, one variable (or two) each
_ALL_LEAVES = (
    'BOUND(?a) && sameTerm(?a, ?b) && LANG(?c) = "en"'
    " && DATATYPE(?d) = xsd:date"
    ' && LANGMATCHES(LANG(?c), "EN") && isIRI(?e) && STRLEN(STR(?f)) > 3'
    " && YEAR(?g) >= 2020 && xsd:decimal(?h) < 2.5"
    ' && SUBSTR(STR(?i), 1, 2) = "ab"'
    ' && (UCASE(?j) = "X" || !(STR(?k) = "lit")) && 19.5 < ?l'
    ' && "2020-01-01"^^xsd:date <= ?m && REGEX(?n, "^a", "i")'
    ' && CONTAINS(STR(?o), "z")'
    ' && ?p IN (1, "x", :t) && ?q NOT IN (2, 3) && ?r = <http://ex.org/t>'
    ' && ?s + 1 > ?t * 2 && ?u > 40 && ?v = "w"'
)
_PATTERNS = (
    "?a :p ?b . ?c :p ?d . ?e :p ?f . ?g :p ?h . ?i :p ?j . ?k :p ?l . "
    "?m :p ?n . ?o :p ?p . ?q :p ?r . ?s :p ?t . ?u :p ?v"
)

_LEAVES = [
    ("bound", "a"),
    ("a", "=", ("var", "b")),
    ("termfn", "lang", "c", "en", False),
    ("termfn", "datatype", "d", ":date", False),
    ("langmatches", "c", "en"),
    ("termis", "iri", "e"),
    ("strlen", "f", ">", 3, True),
    ("castcmp", "year", "g", ">=", "num", 2020.0),
    ("castcmp", "decimal", "h", "<", "num", 2.5),
    ("strexprcmp", ("substr", ("sof", "i"), 1, 2), "=", "ab"),
    (
        "or",
        ("strcase", "ucase", "j", "X", False, False),
        ("not", ("streq", "k", "lit", False)),
    ),
    ("valcmp", "l", ">", "num", 19.5),
    ("valcmp", "m", ">=", "date", "2020-01-01"),
    ("strfn", "regex", "n", "^a", "i"),
    ("strfn", "contains", "o", "z", ""),
    ("or", ("in", "p", (1,), False), ("strin", "p", ("x", ":t"), False)),
    ("in", "q", (2, 3), True),
    ("streq", "r", ":t", False),
    ("cmp", ("+", ("var", "s"), ("num", 1)), ">", ("*", ("var", "t"), ("num", 2))),
    ("u", ">", ("num", 40)),
    ("streq", "v", "w", False),
]


def _all_leaves_filter():
    bgp = parse_sparql(f"SELECT * WHERE {{ {_PATTERNS} FILTER({_ALL_LEAVES}) }}")
    (expr,) = bgp.filters
    return expr


def test_every_leaf_kind_parses_to_its_ast():
    want = _LEAVES[0]
    for leaf in _LEAVES[1:]:
        want = ("and", want, leaf)
    assert _all_leaves_filter() == want


def test_leaf_collectors():
    expr = _all_leaves_filter()
    assert filter_expr_vars(expr) == set("abcdefghijklmnopqrstuv")
    assert filter_expr_strfn_vars(expr) == set("cdefghijlmno")
    assert filter_expr_barecmp_vars(expr) == {"s", "t", "u"}
    assert filter_expr_term_vars(expr) == set("cdefghijklmnoprv")
    assert filter_expr_streq_literals(expr) == {":t", "lit", "w", "x"}


@pytest.mark.parametrize(
    "query, prefix",
    [
        # FILTER leaf
        ("SELECT ?x WHERE { ?x :p ?y FILTER(BOUND(3)) }", "bad FILTER"),
        # BIND arithmetic
        ("SELECT ?x WHERE { ?x :p ?y BIND(?y + AS ?z) }", "bad BIND"),
        # string expression
        (
            'SELECT ?x WHERE { ?x :p ?y BIND(SUBSTR(STR(?y), "a") AS ?z) }',
            "bad string",
        ),
        # string IF: an empty condition is the string grammar's error, a
        # malformed one the FILTER grammar's (the condition is a FILTER)
        (
            'SELECT ?x WHERE { ?x :p ?y BIND(IF(, "a", "b") AS ?z) }',
            "bad string",
        ),
        (
            'SELECT ?x WHERE { ?x :p ?y BIND(IF(?y < , "a", "b") AS ?z) }',
            "bad FILTER",
        ),
        # FILTER comparison operand arithmetic
        ("SELECT ?x WHERE { ?x :p ?y FILTER(?y + * 3 > 2) }", "bad FILTER"),
        ("SELECT ?x WHERE { ?x :p ?y FILTER(?y + 1 > ) }", "bad FILTER"),
    ],
)
def test_malformed_expression_error_prefix(query, prefix):
    with pytest.raises(SparqlSyntaxError) as exc:
        parse_sparql(query)
    assert str(exc.value).startswith(f"{prefix} ")
