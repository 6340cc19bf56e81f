"""Turtle ingestion (sources/turtle.py): per-file mapInPandas parse to
the shared lexical-form relation, NT-equivalence, Engine fmt="ttl"."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources.ntriples import ingest_rdf, parse_ntriples
from rdfproject_msc_spark.sources.turtle import parse_turtle

TTL = """\
@prefix ex: <http://ex.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@base <http://base.org/> .
# comment line
ex:a ex:knows ex:b , ex:c ;
     ex:name "Alice" ;
     ex:age 42 ;
     ex:height 1.75 ;
     ex:score 6.02e23 ;
     ex:active true .
<rel> a ex:Thing .
ex:c ex:label "caf\\u00e9"^^xsd:string .
"""

# the SAME graph in N-Triples (minimal escaping — the canonical target)
NT = """\
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/c> .
<http://ex.org/a> <http://ex.org/name> "Alice" .
<http://ex.org/a> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://ex.org/a> <http://ex.org/height> "1.75"^^<http://www.w3.org/2001/XMLSchema#decimal> .
<http://ex.org/a> <http://ex.org/score> "6.02e23"^^<http://www.w3.org/2001/XMLSchema#double> .
<http://ex.org/a> <http://ex.org/active> "true"^^<http://www.w3.org/2001/XMLSchema#boolean> .
<http://base.org/rel> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/Thing> .
<http://ex.org/c> <http://ex.org/label> "café"^^<http://www.w3.org/2001/XMLSchema#string> .
"""


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_turtle_equals_ntriples_of_same_graph(spark, tmp_path):
    """Turtle abbreviations (prefixes, ';'/',' lists, 'a', @base,
    numeric/boolean shorthand, \\u escapes) parse to the EXACT relation
    the N-Triples reader produces for the same graph."""
    (tmp_path / "g.ttl").write_text(TTL)
    (tmp_path / "g.nt").write_text(NT)
    got = rows(parse_turtle(spark, str(tmp_path / "g.ttl"), on_error="fail"))
    want = rows(parse_ntriples(spark, str(tmp_path / "g.nt")))
    assert got == want


def test_long_strings_and_quote_runs(spark, tmp_path):
    (tmp_path / "s.ttl").write_text(
        '@prefix ex: <http://ex.org/> .\n'
        'ex:b ex:note """line1\nline2 with "quote""""@en .\n'
        "ex:b ex:alt 'single' .\n"
        "ex:b ex:tab \"a\\tb\" .\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path / "s.ttl"), on_error="fail"))
    assert got == sorted(
        [
            (
                "<http://ex.org/b>",
                "<http://ex.org/note>",
                '"line1\\nline2 with \\"quote\\""@en',
            ),
            ("<http://ex.org/b>", "<http://ex.org/alt>", '"single"'),
            ("<http://ex.org/b>", "<http://ex.org/tab>", '"a\tb"'),
        ]
    )


def test_anon_bnodes_deterministic_per_file(spark, tmp_path):
    src = (
        "@prefix ex: <http://ex.org/> .\n"
        "_:b1 ex:knows [ ex:name \"Anon\" ] .\n"
        "[ ex:p ex:o ] .\n"
    )
    (tmp_path / "b.ttl").write_text(src)
    first = rows(parse_turtle(spark, str(tmp_path / "b.ttl"), on_error="fail"))
    again = rows(parse_turtle(spark, str(tmp_path / "b.ttl"), on_error="fail"))
    assert first == again  # replayed delivery re-derives identical labels
    anon = {t for r in first for t in r if t.startswith("_:ttlanon-")}
    assert len(anon) == 2
    assert any(r[0] == "_:b1" for r in first)


def test_collections_expand_to_first_rest_chains(spark, tmp_path):
    """RDF collections (§2.8, r11): ``( e1 … en )`` in subject and
    object position — nested, and empty ``()`` — parses to the EXACT
    rdf:first/rdf:rest/rdf:nil chain an N-Triples serialization of the
    same graph produces, with deterministic per-file cell labels
    (replayed delivery → identical terms)."""
    import hashlib

    ttl = (
        "@prefix ex: <http://ex.org/> .\n"
        "ex:a ex:list (1 (2 3) ()) .\n"  # object, nested, empty element
        "( ex:x ) ex:tag ex:t .\n"  # collection as SUBJECT
        "ex:b ex:empty () .\n"  # empty collection = the IRI rdf:nil
    )
    p = tmp_path / "c.ttl"
    p.write_text(ttl)
    first = rows(parse_turtle(spark, str(p), on_error="fail"))
    again = rows(parse_turtle(spark, str(p), on_error="fail"))
    assert first == again  # replay determinism

    # the cell labels are the documented scheme: md5 of the binaryFile
    # path (a file: URI), shared document-order counter with […] nodes
    origin = (
        spark.read.format("binaryFile").load(str(p)).select("path").first()[0]
    )
    tag = hashlib.md5(origin.encode()).hexdigest()[:8]
    L = [f"_:ttllist-{tag}-{k}" for k in range(1, 7)]
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    XSD = "http://www.w3.org/2001/XMLSchema#"
    nt = "".join(
        f"{s} {pr} {o} .\n"
        for s, pr, o in [
            # inner (2 3): cells minted while reading the outer elements
            (L[0], f"<{RDF}first>", f'"2"^^<{XSD}integer>'),
            (L[0], f"<{RDF}rest>", L[1]),
            (L[1], f"<{RDF}first>", f'"3"^^<{XSD}integer>'),
            (L[1], f"<{RDF}rest>", f"<{RDF}nil>"),
            # outer (1 <inner> ()): three cells after the elements
            (L[2], f"<{RDF}first>", f'"1"^^<{XSD}integer>'),
            (L[2], f"<{RDF}rest>", L[3]),
            (L[3], f"<{RDF}first>", L[0]),
            (L[3], f"<{RDF}rest>", L[4]),
            (L[4], f"<{RDF}first>", f"<{RDF}nil>"),
            (L[4], f"<{RDF}rest>", f"<{RDF}nil>"),
            ("<http://ex.org/a>", "<http://ex.org/list>", L[2]),
            # ( ex:x ) as subject
            (L[5], f"<{RDF}first>", "<http://ex.org/x>"),
            (L[5], f"<{RDF}rest>", f"<{RDF}nil>"),
            (L[5], "<http://ex.org/tag>", "<http://ex.org/t>"),
            # () object = rdf:nil, no cells
            ("<http://ex.org/b>", "<http://ex.org/empty>", f"<{RDF}nil>"),
        ]
    )
    (tmp_path / "twin.nt").write_text(nt)
    twin = rows(parse_ntriples(spark, str(tmp_path / "twin.nt")))
    assert first == twin


def test_engine_sparql_walks_a_collection(spark, tmp_path):
    """Engine end-to-end over fmt='ttl' with a collection: a SPARQL
    rdf:rest*/rdf:first walk returns exactly the list members."""
    p = tmp_path / "menu.ttl"
    p.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        'ex:menu ex:items ("soup" "fish" "cake") .\n'
    )
    eng = Engine(spark).load_triples(str(p), fmt="ttl")
    got = sorted(
        r[0]
        for r in eng.sparql(
            "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
            "SELECT ?item WHERE { <http://ex.org/menu> "
            "<http://ex.org/items> ?l . ?l rdf:rest* ?cell . "
            "?cell rdf:first ?item }",
            decode=True,
        ).collect()
    )
    assert got == ['"cake"', '"fish"', '"soup"']


def test_format_turtle_round_trip(spark, tmp_path):
    """Turtle EXPORT (r11, format_turtle/write_turtle): subject-grouped
    ';' / ',' / 'a' abbreviations, optional prefix compaction with an
    '@prefix' header per part FILE — parse_turtle(write_turtle(g)) ≡ g
    both ways."""
    from rdfproject_msc_spark.sources.turtle import (
        format_turtle,
        write_turtle,
    )

    (tmp_path / "g.nt").write_text(NT)
    g = parse_ntriples(spark, str(tmp_path / "g.nt"))
    # directive-free form: plain distributed text, any line split valid
    out1 = tmp_path / "plain_ttl"
    write_turtle(g, str(out1))
    assert rows(parse_turtle(spark, str(out1), on_error="fail")) == rows(g)
    # prefix-compacted form: per-part headers, same graph back
    out2 = tmp_path / "pfx_ttl"
    write_turtle(g, str(out2), prefixes={"ex": "http://ex.org/"})
    assert rows(parse_turtle(spark, str(out2), on_error="fail")) == rows(g)
    # the compacted text actually uses the abbreviations
    text = "\n".join(
        r[0]
        for r in format_turtle(g, prefixes={"ex": "http://ex.org/"}).collect()
    )
    assert "ex:a " in text  # prefixed subject
    assert " ;\n    " in text  # predicate grouping
    assert " , " in text  # object list
    assert " a ex:Thing" in text  # rdf:type → 'a' (predicate only)


def test_two_files_parse_independently(spark, tmp_path):
    """Per-file parallelism: directives are file-scoped — the same
    prefix name maps differently in each file."""
    (tmp_path / "a.ttl").write_text(
        "@prefix p: <http://one.org/> .\np:x p:y p:z .\n"
    )
    (tmp_path / "b.ttl").write_text(
        "@prefix p: <http://two.org/> .\np:x p:y p:z .\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path), on_error="fail"))
    assert got == sorted(
        [
            ("<http://one.org/x>", "<http://one.org/y>", "<http://one.org/z>"),
            ("<http://two.org/x>", "<http://two.org/y>", "<http://two.org/z>"),
        ]
    )


def test_skip_drops_whole_bad_file_fail_raises(spark, tmp_path):
    (tmp_path / "good.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:a ex:b ex:c .\n"
    )
    (tmp_path / "bad.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:a ex:b ex:c\nex:d ex:undeclared"
    )
    got = rows(parse_turtle(spark, str(tmp_path), on_error="skip"))
    assert got == [("<http://ex.org/a>", "<http://ex.org/b>", "<http://ex.org/c>")]
    with pytest.raises(Exception, match="expected") as failed:
        parse_turtle(spark, str(tmp_path), on_error="fail").collect()
    assert "Turtle parse failed for" in str(failed.value)
    assert "bad.ttl" in str(failed.value)  # names the file that broke


@pytest.mark.parametrize(
    "body, msg",
    [
        ("<urn:a> ", "expected a predicate"),
        ("<urn:a> <urn:b> [", "expected a predicate"),
        ("<urn:a> <urn:b> <urn:c> ;", "expected a predicate"),
        ("<urn:a> <urn:b> ", "expected a term"),
    ],
)
def test_truncated_file_is_a_parse_error(spark, tmp_path, body, msg):
    """A document that ends inside a statement is malformed like any
    other: skip mode drops that file alone, fail mode names it."""
    (tmp_path / "good.ttl").write_text("<urn:x> <urn:y> <urn:z> .\n")
    (tmp_path / "cut.ttl").write_text(body)
    got = rows(parse_turtle(spark, str(tmp_path), on_error="skip"))
    assert got == [("<urn:x>", "<urn:y>", "<urn:z>")]
    with pytest.raises(Exception, match=msg) as failed:
        parse_turtle(spark, str(tmp_path), on_error="fail").collect()
    assert "cut.ttl" in str(failed.value)
    assert "line 1: " in str(failed.value)


@pytest.mark.parametrize(
    "body, msg",
    [
        ("(1 2) .", "expected a predicate"),
        ("ex:a ex:list (1 2", "unterminated"),
        ("{ ex:a ex:b ex:c . }", "TriG"),
        ("ex:a undeclared:b ex:c .", "undeclared prefix"),
        ('@base <http://no-slash.org> .\n<rel> a ex:T .', "must end"),
        ('ex:a ex:b "unterminated .', "quoted string"),
        ('"literal" ex:b ex:c .', "cannot be a subject"),
    ],
)
def test_reject_shapes(spark, tmp_path, body, msg):
    p = tmp_path / "r.ttl"
    p.write_text("@prefix ex: <http://ex.org/> .\n" + body + "\n")
    with pytest.raises(Exception, match=msg):
        parse_turtle(spark, str(p), on_error="fail").collect()


def test_bnode_object_flush_against_dot(spark, tmp_path):
    """A labeled blank node flush against the statement terminator
    (`ex:s ex:p _:b1.`) parses — the '.' is the terminator, not part of
    the label (BLANK_NODE_LABEL cannot end in '.')."""
    (tmp_path / "b.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:s ex:p _:b1.\n"
        "_:b1 ex:name \"n\".\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path / "b.ttl"), on_error="fail"))
    assert got == sorted(
        [
            ("<http://ex.org/s>", "<http://ex.org/p>", "_:b1"),
            ("_:b1", "<http://ex.org/name>", '"n"'),
        ]
    )


def test_prefix_named_prefix_is_not_a_directive(spark, tmp_path):
    """A statement whose subject uses a prefix literally named 'prefix'
    or 'base' is a statement, not a directive (the keyword must be
    followed by whitespace)."""
    (tmp_path / "p.ttl").write_text(
        "@prefix prefix: <http://p.org/> .\n"
        "@prefix base: <http://b.org/> .\n"
        "prefix:foo base:bar prefix:baz .\n"
        "base:x base:y base:z .\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path / "p.ttl"), on_error="fail"))
    assert got == sorted(
        [
            ("<http://p.org/foo>", "<http://b.org/bar>", "<http://p.org/baz>"),
            ("<http://b.org/x>", "<http://b.org/y>", "<http://b.org/z>"),
        ]
    )


def test_sparql_prefix_form_directives(spark, tmp_path):
    """SPARQL-style PREFIX/BASE (no '@', no trailing dot) also parse."""
    (tmp_path / "p.ttl").write_text(
        "PREFIX ex: <http://ex.org/>\nBASE <http://b.org/>\n"
        "ex:a ex:knows <rel> .\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path / "p.ttl"), on_error="fail"))
    assert got == [
        ("<http://ex.org/a>", "<http://ex.org/knows>", "<http://b.org/rel>")
    ]


def test_engine_ttl_end_to_end(spark, tmp_path):
    """Engine.load_triples(fmt='ttl'): raw Turtle in, lexical-style
    SPARQL out — sharing the whole nt dictionary/encode/planner stack."""
    (tmp_path / "g.ttl").write_text(TTL)
    eng = Engine(spark).load_triples(
        str(tmp_path / "g.ttl"), fmt="ttl", layout="sign_split", cluster_by="s"
    )
    assert eng.term_style == "lexical"
    res = eng.sparql(
        "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:knows ?o }",
        decode=True,
    )
    assert sorted(r["o"] for r in res.collect()) == [
        "<http://ex.org/b>",
        "<http://ex.org/c>",
    ]
    # typed-shorthand data matches a typed SPARQL constant (bare integer
    # in lexical style normalizes to the same canonical literal)
    res2 = eng.sparql(
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:age 42 }",
        decode=True,
    )
    assert [r["s"] for r in res2.collect()] == ["<http://ex.org/a>"]
    # and the updated store is UPDATE-able like any other engine
    eng.update(
        "PREFIX ex: <http://ex.org/> "
        "DELETE { ?s ex:knows ?o } INSERT { ?s ex:met ?o } "
        "WHERE { ?s ex:knows ?o }"
    )
    res3 = eng.sparql(
        "PREFIX ex: <http://ex.org/> SELECT ?o WHERE { ex:a ex:met ?o }",
        decode=True,
    )
    assert sorted(r["o"] for r in res3.collect()) == [
        "<http://ex.org/b>",
        "<http://ex.org/c>",
    ]


def test_cli_ingest_ttl(spark, tmp_path):
    """CLI first mile over Turtle: --ttl → persisted store + parquet
    dictionary, queryable via the sparql subcommand's parquet path."""
    from rdfproject_msc_spark.cli import main

    (tmp_path / "g.ttl").write_text(TTL)
    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    rc = main(
        ["ingest", "--ttl", str(tmp_path / "g.ttl"), "--out", store,
         "--dict-out", dct]
    )
    assert rc == 0
    ids = {r["term"]: r["id"] for r in spark.read.parquet(dct).collect()}
    assert "<http://ex.org/a>" in ids
    assert spark.read.parquet(store).count() == 9


def test_incremental_ingest_turtle(spark, tmp_path):
    """ingest_rdf(fmt="ttl", dictionary=…): unseen terms append, existing ids
    untouched — the same delivery-loop contract as N-Triples."""
    (tmp_path / "one").mkdir()
    (tmp_path / "two").mkdir()
    (tmp_path / "one" / "a.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:a ex:knows ex:b .\n"
    )
    (tmp_path / "two" / "b.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:b ex:knows ex:newguy .\n"
    )
    enc1, _, d1 = ingest_rdf(spark, str(tmp_path / "one"), "ttl")
    ids1 = {r["term"]: r["id"] for r in d1.collect()}
    enc2, _, d2 = ingest_rdf(
        spark, str(tmp_path / "two"), "ttl", dictionary=d1
    )
    ids2 = {r["term"]: r["id"] for r in d2.collect()}
    assert all(ids2[t] == i for t, i in ids1.items())  # untouched
    assert "<http://ex.org/newguy>" in ids2
    assert enc1.count() == 1 and enc2.count() == 1


# ---- property fuzz: random graphs rendered as abbreviated Turtle and as
# canonical N-Triples must parse to the same relation -----------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from tests._budget import examples

_EXP = "http://fz.org/"
_NAMES = [f"n{i}" for i in range(5)]
_LIT_TEXT = st.text(
    alphabet=st.sampled_from('abc "\\\n\tzé'), min_size=0, max_size=6
)
_obj = st.one_of(
    st.tuples(st.just("iri"), st.sampled_from(_NAMES)),
    st.tuples(st.just("int"), st.integers(min_value=-99, max_value=99)),
    st.tuples(st.just("lit"), _LIT_TEXT),
    st.tuples(st.just("lang"), _LIT_TEXT, st.sampled_from(["en", "fr"])),
)
_triple_v = st.tuples(
    st.sampled_from(_NAMES), st.sampled_from(_NAMES[:3]), _obj
)


def _nt_escape(v: str) -> str:
    out = (
        v.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )
    return f'"{out}"'


def _obj_nt(o) -> str:
    if o[0] == "iri":
        return f"<{_EXP}{o[1]}>"
    if o[0] == "int":
        return f'"{o[1]}"^^<http://www.w3.org/2001/XMLSchema#integer>'
    if o[0] == "lit":
        return _nt_escape(o[1])
    return f"{_nt_escape(o[1])}@{o[2]}"


def _obj_ttl(o, rnd) -> str:
    if o[0] == "iri":
        return (
            f"fz:{o[1]}" if rnd.random() < 0.5 else f"<{_EXP}{o[1]}>"
        )
    if o[0] == "int":
        return str(o[1])  # the bare shorthand
    if o[0] == "lit":
        if rnd.random() < 0.3 and '"' not in o[1]:
            body = (
                o[1]
                .replace("\\", "\\\\")
            )
            return f'"""{body}"""'  # long form: raw newlines/tabs legal
        return _nt_escape(o[1])
    return f"{_nt_escape(o[1])}@{o[2]}"


@settings(
    max_examples=examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    triples=st.lists(_triple_v, min_size=1, max_size=8),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_turtle_abbreviations_fuzz(spark, tmp_path_factory, triples, seed):
    """Random graphs written as abbreviated Turtle (prefixed names,
    ';'/',' lists, numeric shorthand, random long-string form) and as
    canonical N-Triples parse to the same multiset of lexical terms."""
    import random

    rnd = random.Random(seed)
    base = tmp_path_factory.mktemp("ttlfuzz")
    nt_lines = [
        f"<{_EXP}{s}> <{_EXP}{p}> {_obj_nt(o)} ." for s, p, o in triples
    ]
    # abbreviated Turtle: group by subject, then by predicate
    by_s: dict = {}
    for s, p, o in triples:
        by_s.setdefault(s, {}).setdefault(p, []).append(o)
    ttl = ["@prefix fz: <http://fz.org/> ."]
    for s, preds in by_s.items():
        s_tok = f"fz:{s}" if rnd.random() < 0.5 else f"<{_EXP}{s}>"
        po = [
            f"fz:{p} " + " , ".join(_obj_ttl(o, rnd) for o in objs)
            for p, objs in preds.items()
        ]
        ttl.append(f"{s_tok} " + " ;\n   ".join(po) + " .")
        if rnd.random() < 0.3:
            ttl.append("# interleaved comment")
    (base / "g.nt").write_text("\n".join(nt_lines) + "\n")
    (base / "g.ttl").write_text("\n".join(ttl) + "\n")
    want = sorted(
        map(tuple, parse_ntriples(spark, str(base / "g.nt")).collect())
    )
    got = sorted(
        map(
            tuple,
            parse_turtle(spark, str(base / "g.ttl"), on_error="fail").collect(),
        )
    )
    assert got == want


def test_whitespace_free_directive_and_empty_prefix(spark, tmp_path):
    """Legal whitespace-free forms parse: `PREFIX: <i>` declares the
    EMPTY prefix label and `BASE<i>` is a directive ('<' cannot start
    a pname local part) — while `prefix:foo` subjects still parse as
    statements (round-10 review finding)."""
    (tmp_path / "wf.ttl").write_text(
        "PREFIX: <http://e/>\n"
        "BASE<http://b.org/>\n"
        ":a :p <rel> .\n"
    )
    got = rows(parse_turtle(spark, str(tmp_path / "wf.ttl"), on_error="fail"))
    assert got == [("<http://e/a>", "<http://e/p>", "<http://b.org/rel>")]
