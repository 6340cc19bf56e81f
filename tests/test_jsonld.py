"""JSON-LD ingestion (sources/jsonld.py): the parse relation pins
against the N-Triples parser on an equivalent serialization, the
context machinery (terms, compact IRIs, @vocab/@base, typed
coercions), @list chains, the documented rejects, and the Engine/CLI
lifecycles."""

from __future__ import annotations

import json

import pytest

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources.jsonld import parse_jsonld
from rdfproject_msc_spark.sources.ntriples import parse_ntriples

EX = "http://ex.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

DOC = {
    "@context": {
        "ex": EX,
        "name": "ex:name",
        "age": {"@id": "ex:age", "@type": f"{XSD}integer"},
        "knows": {"@id": "ex:knows", "@type": "@id"},
        "@base": "http://base.org/",
    },
    "@graph": [
        {
            "@id": "ex:alice",
            "@type": "ex:Person",
            "name": {"@value": "Alice", "@language": "en"},
            "age": "30",
            "knows": ["ex:bob", "_:c"],
            "ex:score": 2.5,
            "ex:active": True,
            "ex:rank": 7,
        },
        {
            "@id": "_:c",
            "name": 'say "hi"\ntwice',
        },
        {
            "@id": "doc1",
            "ex:see": {"@id": "other"},
        },
    ],
}

NT = f"""\
<{EX}alice> <{RDF}type> <{EX}Person> .
<{EX}alice> <{EX}name> "Alice"@en .
<{EX}alice> <{EX}age> "30"^^<{XSD}integer> .
<{EX}alice> <{EX}knows> <{EX}bob> .
<{EX}alice> <{EX}knows> _:c .
<{EX}alice> <{EX}score> "2.5E0"^^<{XSD}double> .
<{EX}alice> <{EX}active> "true"^^<{XSD}boolean> .
<{EX}alice> <{EX}rank> "7"^^<{XSD}integer> .
_:c <{EX}name> "say \\"hi\\"\\ntwice" .
<http://base.org/doc1> <{EX}see> <http://base.org/other> .
"""


def _rel(df):
    return {(r["s_term"], r["p_term"], r["o_term"]) for r in df.collect()}


def test_jsonld_matches_ntriples_relation(spark, tmp_path):
    """The headline pin: a JSON-LD and an N-Triples serialization of
    the same graph produce the IDENTICAL (s,p,o) lexical relation —
    term/typed/@id coercions, compact IRIs, @base resolution, language
    value objects, number/boolean mappings, escaped literal bodies,
    labeled bnodes, a top-level @graph wrapper."""
    j = tmp_path / "g.jsonld"
    j.write_text(json.dumps(DOC))
    n = tmp_path / "g.nt"
    n.write_text(NT)
    got = _rel(parse_jsonld(spark, str(j), on_error="fail"))
    want = _rel(parse_ntriples(spark, str(n), on_error="fail"))
    assert got == want


def test_nested_nodes_vocab_and_lists(spark, tmp_path):
    """@vocab property expansion, anonymous nested node objects, and
    @list → rdf:first/rest/nil chains with deterministic labels."""
    doc = {
        "@context": {"@vocab": EX},
        "@id": f"{EX}menu",
        "addr": {"city": "Athens"},
        "items": {"@list": [{"@id": f"{EX}tea"}, {"@id": f"{EX}cake"}]},
    }
    p = tmp_path / "n.jsonld"
    p.write_text(json.dumps(doc))
    rel = _rel(parse_jsonld(spark, str(p), on_error="fail"))
    by_p: dict = {}
    for s, pr, o in rel:
        by_p.setdefault(pr, []).append((s, o))
    (addr,) = [o for _, o in by_p[f"<{EX}addr>"]]
    assert addr.startswith("_:jldanon-")
    assert (addr, '"Athens"') in by_p[f"<{EX}city>"]
    firsts = dict(by_p[f"<{RDF}first>"])
    rests = dict(by_p[f"<{RDF}rest>"])
    (head,) = [o for _, o in by_p[f"<{EX}items>"]]
    assert firsts[head] == f"<{EX}tea>"
    assert firsts[rests[head]] == f"<{EX}cake>"
    assert rests[rests[head]] == f"<{RDF}nil>"
    # determinism: a second parse mints identical labels
    assert rel == _rel(parse_jsonld(spark, str(p), on_error="fail"))


def test_documented_rejects_and_skip(spark, tmp_path):
    """Remote contexts, named @graph blocks, @reverse, and unmappable
    properties are loud errors in fail mode; skip drops the file."""
    cases = [
        {"@context": "https://schema.org", "@id": f"{EX}x"},
        {"@context": {"ex": EX}, "@id": "ex:g",
         "@graph": [{"@id": "ex:y", "ex:p": "v"}]},
        {"@context": {"ex": EX}, "@id": "ex:x",
         "@reverse": {"ex:p": {"@id": "ex:y"}}},
        {"@id": f"{EX}x", "unmapped": "value"},
    ]
    for i, doc in enumerate(cases):
        p = tmp_path / f"bad{i}.jsonld"
        p.write_text(json.dumps(doc))
        with pytest.raises(Exception) as failed:
            parse_jsonld(spark, str(p), on_error="fail").collect()
        assert f"bad{i}.jsonld" in str(failed.value)  # names the file
    good = tmp_path / "good.jsonld"
    good.write_text(json.dumps(
        {"@context": {"ex": EX}, "@id": "ex:a", "ex:p": "v"}
    ))
    rel = _rel(parse_jsonld(spark, str(tmp_path), on_error="skip"))
    assert rel == {(f"<{EX}a>", f"<{EX}p>", '"v"')}


def test_engine_lifecycle_and_cli(spark, tmp_path):
    """Engine.load_triples(fmt='jsonld') answers SPARQL over the
    encoded store; CLI ingest --jsonld persists a queryable store."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.dictionary import Dictionary

    p = tmp_path / "g.jsonld"
    p.write_text(json.dumps(DOC))
    eng = Engine(spark).load_triples(str(p), fmt="jsonld")
    rows = eng.sparql(
        f"SELECT ?n WHERE {{ <{EX}alice> <{EX}name> ?n }}", decode=True
    ).collect()
    assert [r["n"] for r in rows] == ['"Alice"@en']

    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    assert main([
        "ingest", "--jsonld", str(p), "--out", store,
        "--dict-out", dct, "--on-error", "fail",
    ]) == 0
    eng2 = Engine(spark).open(store, layout="sign_split")
    eng2.dictionary = Dictionary(
        spark.read.parquet(dct), broadcast_hint=False
    )
    eng2.term_style = "lexical"
    rows = eng2.sparql(
        f"SELECT ?o WHERE {{ <{EX}alice> <{EX}knows> ?o . "
        f"FILTER isIRI(?o) }}",
        decode=True,
    ).collect()
    assert [r["o"] for r in rows] == [f"<{EX}bob>"]
