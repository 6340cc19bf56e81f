"""TriG ingestion (sources/turtle.py:parse_trig, ingest_rdf(fmt="trig")):
the named-graph TEXT format — graph blocks over the Turtle grammar,
emitting the exact parse_nquads quad relation; the encode is the one
first mile's quad back half (sources/ntriples.py:encode_quad_relation),
shared with fmt="nq", so a TriG and an N-Quads serialization of the same
dataset produce identical ids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources.ntriples import ingest_rdf, parse_nquads
from rdfproject_msc_spark.sources.turtle import parse_trig, parse_turtle
from rdfproject_msc_spark.store import TripleStore

# one dataset, two serializations — must parse to the SAME quad relation
TRIG = """\
@prefix ex: <http://ex.org/> .
ex:a ex:p ex:b .
ex:g1 {
  ex:a ex:p ex:c ;
       ex:n "x" .
  ex:c ex:p ex:a
}
GRAPH ex:g2 { ex:b ex:p ex:c . }
{ ex:b ex:n "y" . }
_:g3 { ex:a ex:n "z" . }
"""

NQ = """\
<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/p> <http://ex.org/c> <http://ex.org/g1> .
<http://ex.org/a> <http://ex.org/n> "x" <http://ex.org/g1> .
<http://ex.org/c> <http://ex.org/p> <http://ex.org/a> <http://ex.org/g1> .
<http://ex.org/b> <http://ex.org/p> <http://ex.org/c> <http://ex.org/g2> .
<http://ex.org/b> <http://ex.org/n> "y" .
<http://ex.org/a> <http://ex.org/n> "z" _:g3 .
"""


def rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def test_trig_equals_nquads_relation(spark, tmp_path):
    """TriG ≡ N-Quads pin: both serializations of the same dataset parse
    to the identical (g_term, s_term, p_term, o_term) relation — bare
    blocks and top-level statements in the default graph (NULL g_term),
    labeled/GRAPH blocks in their named graphs, blank-node labels kept."""
    (tmp_path / "d.trig").write_text(TRIG)
    (tmp_path / "d.nq").write_text(NQ)
    got = rows(parse_trig(spark, str(tmp_path / "d.trig"), on_error="fail"))
    want = rows(parse_nquads(spark, str(tmp_path / "d.nq"), on_error="fail"))
    assert got == want
    assert len(got) == 7


def test_trig_directive_scoping_across_blocks(spark, tmp_path):
    """Directives are document-scoped: a @prefix declared between blocks
    applies inside every later block (one prefix table, TriG §5.2)."""
    (tmp_path / "s.trig").write_text(
        "@prefix a: <http://a.org/> .\n"
        "a:g { a:s a:p a:o . }\n"
        "@prefix b: <http://b.org/> .\n"
        "GRAPH a:g2 { b:s a:p b:o . }\n"
    )
    got = rows(parse_trig(spark, str(tmp_path / "s.trig"), on_error="fail"))
    assert got == rows(
        spark.createDataFrame(
            [
                ("<http://a.org/g>", "<http://a.org/s>",
                 "<http://a.org/p>", "<http://a.org/o>"),
                ("<http://a.org/g2>", "<http://b.org/s>",
                 "<http://a.org/p>", "<http://b.org/o>"),
            ],
            "g_term string, s_term string, p_term string, o_term string",
        )
    )


def test_trig_optional_final_dot_and_abbreviations(spark, tmp_path):
    """Inside a block the FINAL '.' is optional (triplesBlock grammar);
    ';'/',' abbreviation lists and anonymous bnodes work in blocks."""
    (tmp_path / "f.trig").write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:g {\n"
        "  ex:a ex:p ex:b , ex:c ;\n"
        "       ex:q [ ex:n \"i\" ]\n"
        "}\n"
    )
    got = rows(parse_trig(spark, str(tmp_path / "f.trig"), on_error="fail"))
    gs = {g for g, *_ in got}
    assert gs == {"<http://ex.org/g>"}
    assert len(got) == 4  # p->b, p->c, q->anon, anon n->"i"


@pytest.mark.parametrize(
    "body, msg",
    [
        ("ex:g { ex:h { ex:s ex:p ex:o . } }", "cannot nest"),
        ('"lit" { ex:s ex:p ex:o . }', "cannot be a subject"),
        ("ex:g { ex:s ex:p ex:o .", "unterminated"),
        ("GRAPH ex:g ex:s ex:p ex:o .", "needs a"),
        ("ex:g { GRAPH ex:h { ex:s ex:p ex:o . } }", "cannot nest"),
    ],
)
def test_trig_reject_shapes(spark, tmp_path, body, msg):
    p = tmp_path / "r.trig"
    p.write_text("@prefix ex: <http://ex.org/> .\n" + body + "\n")
    with pytest.raises(Exception, match=msg):
        parse_trig(spark, str(p), on_error="fail").collect()


def test_trig_graph_prefix_name_is_not_keyword(spark, tmp_path):
    """A statement whose subject uses a prefix literally named 'GRAPH'
    stays a statement (the keyword needs following whitespace)."""
    (tmp_path / "k.trig").write_text(
        "@prefix GRAPH: <http://g.org/> .\n"
        "GRAPH:s GRAPH:p GRAPH:o .\n"
    )
    got = rows(parse_trig(spark, str(tmp_path / "k.trig"), on_error="fail"))
    assert got == [
        (None, "<http://g.org/s>", "<http://g.org/p>", "<http://g.org/o>")
    ]


def test_turtle_mode_still_rejects_blocks(spark, tmp_path):
    (tmp_path / "t.ttl").write_text("{ <urn:s> <urn:p> <urn:o> . }\n")
    with pytest.raises(Exception, match="parse_trig"):
        parse_turtle(spark, str(tmp_path / "t.ttl"), on_error="fail").collect()


def test_ingest_trig_matches_ingest_nquads(spark, tmp_path):
    """The shared encode back half: ingest_rdf's "trig" and "nq" over
    the same dataset yield identical triples, quads, and dictionary ids
    (ids are a pure function of the term set)."""
    (tmp_path / "d.trig").write_text(TRIG)
    (tmp_path / "d.nq").write_text(NQ)
    t1, q1, d1 = ingest_rdf(spark, str(tmp_path / "d.trig"), "trig")
    t2, q2, d2 = ingest_rdf(spark, str(tmp_path / "d.nq"), "nq")
    assert rows(t1) == rows(t2)
    assert rows(q1) == rows(q2)
    assert rows(d1) == rows(d2)
    Dictionary(d1).validate()


def test_trig_engine_graph_query_end_to_end(spark, tmp_path):
    """TriG in, SPARQL GRAPH out: ingest_rdf(fmt="trig") → TripleStore +
    attach_quads → lexical-style GRAPH query over a block's content."""
    (tmp_path / "d.trig").write_text(TRIG)
    triples, quads, d = ingest_rdf(spark, str(tmp_path / "d.trig"), "trig")
    eng = Engine(
        spark,
        store=TripleStore(triples, layout="single"),
        dictionary=Dictionary(d, broadcast_hint=False),
        term_style="lexical",
    )
    eng.store.attach_quads(quads)
    got = rows(
        eng.sparql(
            "SELECT ?s ?o WHERE "
            "{ GRAPH <http://ex.org/g1> { ?s <http://ex.org/p> ?o . } }",
            decode=True,
        )
    )
    assert got == [
        ("<http://ex.org/a>", "<http://ex.org/c>"),
        ("<http://ex.org/c>", "<http://ex.org/a>"),
    ]
    # graph variable: every named graph holding an ex:p triple
    got = rows(
        eng.sparql(
            "SELECT DISTINCT ?g WHERE "
            "{ GRAPH ?g { ?s <http://ex.org/p> ?o . } }",
            decode=True,
        )
    )
    assert got == [("<http://ex.org/g1>",), ("<http://ex.org/g2>",)]


def test_cli_ingest_trig(spark, tmp_path):
    from rdfproject_msc_spark.cli import main

    (tmp_path / "d.trig").write_text(TRIG)
    store, dct, qd = (
        str(tmp_path / "s"), str(tmp_path / "d"), str(tmp_path / "q")
    )
    with pytest.raises(SystemExit, match="quads-out"):
        main(["ingest", "--trig", str(tmp_path / "d.trig"),
              "--out", store, "--dict-out", dct])
    rc = main(
        ["ingest", "--trig", str(tmp_path / "d.trig"), "--out", store,
         "--dict-out", dct, "--quads-out", qd]
    )
    assert rc == 0
    assert spark.read.parquet(store).count() == 2  # default-graph rows
    quads = spark.read.parquet(qd)
    assert quads.count() == 5
    assert set(quads.columns) == {"g", "s", "p", "o"}
    # graph-partitioned layout: constant-GRAPH queries prune directories
    d_df = spark.read.parquet(dct)
    gid = Dictionary(d_df, broadcast_hint=False).encode_terms(
        ["<http://ex.org/g1>"]
    )["<http://ex.org/g1>"]
    assert quads.filter(F.col("g") == gid).count() == 3


def test_trig_collection_inside_graph_block(spark, tmp_path):
    """A collection inside a named block (r11): the whole rdf:first/
    rdf:rest chain lands in THAT graph, matching the N-Quads twin."""
    (tmp_path / "c.trig").write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:g { ex:a ex:list (ex:x ex:y) . }\n"
    )
    got = rows(parse_trig(spark, str(tmp_path / "c.trig"), on_error="fail"))
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    # every row is in <http://ex.org/g>, and the chain shape holds
    assert all(r[0] == "<http://ex.org/g>" for r in got)
    firsts = {(r[1], r[3]) for r in got if r[2] == f"<{RDF}first>"}
    rests = {(r[1], r[3]) for r in got if r[2] == f"<{RDF}rest>"}
    heads = [r[3] for r in got if r[2] == "<http://ex.org/list>"]
    assert len(heads) == 1 and heads[0].startswith("_:ttllist-")
    c1 = heads[0]
    (c2,) = [o for s, o in rests if s == c1]
    assert (c1, "<http://ex.org/x>") in firsts
    assert (c2, "<http://ex.org/y>") in firsts
    assert (c2, f"<{RDF}nil>") in rests
    assert len(got) == 5


def test_trig_whitespace_free_graph_keyword(spark, tmp_path):
    """`GRAPH<g>{…}` is legal whitespace-free TriG — the keyword
    lookahead accepts '<' (round-10 review finding)."""
    (tmp_path / "wf.trig").write_text(
        "GRAPH<urn:g>{ <urn:s> <urn:p> <urn:o> . }\n"
    )
    got = rows(parse_trig(spark, str(tmp_path / "wf.trig"), on_error="fail"))
    assert got == [("<urn:g>", "<urn:s>", "<urn:p>", "<urn:o>")]
