"""W3C SPARQL results serialization (sparql/results.py): JSON binding
objects, CSV plain forms, TSV N-Triples forms, the bounded-JSON guard."""

from __future__ import annotations

import glob
import json

import pytest

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sparql.results import (
    ask_json,
    capped_frame,
    results_json,
    write_results_csv,
    write_results_tsv,
)

NT = """\
<urn:a> <urn:knows> <urn:b> .
<urn:a> <urn:name> "Al\\"ice" .
<urn:b> <urn:name> "Bob"@en .
<urn:b> <urn:age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:x <urn:knows> <urn:a> .
"""


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("res") / "g.nt"
    p.write_text(NT)
    return Engine(spark).load_triples(str(p), fmt="nt", layout="single")


def test_results_json_term_kinds(eng):
    df = eng.sparql(
        "SELECT ?s ?o WHERE { ?s <urn:name> ?o }", decode=True
    )
    doc = json.loads(results_json(capped_frame(df, 10), limit=10))
    assert doc["head"]["vars"] == ["s", "o"]
    got = {
        b["s"]["value"]: b["o"] for b in doc["results"]["bindings"]
    }
    assert got["urn:a"] == {"type": "literal", "value": 'Al"ice'}
    assert got["urn:b"] == {
        "type": "literal",
        "value": "Bob",
        "xml:lang": "en",
    }
    assert all(
        b["s"]["type"] == "uri" for b in doc["results"]["bindings"]
    )


def test_results_json_typed_bnode_and_unbound(eng):
    df = eng.sparql(
        "SELECT ?s ?age WHERE { ?s <urn:knows> ?o "
        "OPTIONAL { ?s <urn:age> ?age } }",
        decode=True,
    )
    doc = json.loads(results_json(capped_frame(df, 10), limit=10))
    kinds = {}
    for b in doc["results"]["bindings"]:
        kinds[(b["s"]["type"], b["s"]["value"])] = b.get("age")
    # the bnode subject serializes as a bnode; unbound age is OMITTED
    assert kinds[("bnode", "x")] is None
    assert ("uri", "urn:a") in kinds


def test_results_json_limit_guard(eng):
    df = eng.sparql("SELECT ?s ?p ?o WHERE { ?s ?p ?o }", decode=True)
    with pytest.raises(ValueError, match="limit"):
        results_json(capped_frame(df, 2), limit=2)


def test_ask_json():
    assert json.loads(ask_json(True)) == {"head": {}, "boolean": True}


def _read_parts(pattern):
    lines = []
    for f in sorted(glob.glob(pattern)):
        with open(f) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def test_write_results_csv(eng, tmp_path):
    df = eng.sparql(
        "SELECT ?s ?o WHERE { ?s <urn:name> ?o }", decode=True
    )
    out = str(tmp_path / "csv")
    write_results_csv(df, out)
    lines = _read_parts(out + "/part-*.csv")
    body = sorted(l for l in lines if l != "s,o")
    # plain string forms: brackets off, quoting undone (the embedded
    # quote doubles per CSV rules), tags dropped
    assert body == sorted(['urn:a,"Al""ice"', "urn:b,Bob"])


def test_write_results_csv_backslash_escape_order(spark, tmp_path):
    """An NT literal with an ESCAPED backslash followed by 'n'/'t'/'r'
    ("a\\\\nb", value a\\nb — literal backslash then the letter) must
    not be corrupted into a control character: escaped backslashes park
    in a sentinel before \\n/\\t/\\r unescape (same order _term_kind
    uses), and \\r IS unescaped."""
    df = spark.createDataFrame(
        [('"a\\\\nb"',), ('"x\\ry"',), ('"p\\\\tq"',)], ["o"]
    )
    out = str(tmp_path / "csv")
    write_results_csv(df, out)
    raw = "".join(
        open(f, newline="").read()
        for f in sorted(glob.glob(out + "/part-*.csv"))
    )
    assert "a\\nb" in raw  # literal backslash + n survives
    assert "p\\tq" in raw
    assert "x\ry" in raw  # \r unescaped to a real CR
    assert "a\nb" not in raw.replace("a\\nb", "")


def test_write_results_tsv_round_trip(eng, tmp_path):
    df = eng.sparql(
        "SELECT ?s ?o WHERE { ?s <urn:name> ?o }", decode=True
    )
    out = str(tmp_path / "tsv")
    write_results_tsv(df, out)
    lines = _read_parts(out + "/part-*.csv")
    body = sorted(l for l in lines if not l.startswith("?s"))
    # TSV cells are the N-Triples term forms VERBATIM (lossless)
    assert body == sorted(
        ['<urn:a>\t"Al\\"ice"', '<urn:b>\t"Bob"@en']
    )
    header = [l for l in lines if l.startswith("?s")]
    assert header and header[0] == "?s\t?o"


def test_cli_sparql_results_formats(spark, tmp_path, eng):
    """CLI: --results json/tsv write the W3C formats alongside the
    console output."""
    from rdfproject_msc_spark.cli import main

    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    eng.save(store, dict_path=dct)
    jpath = str(tmp_path / "res.json")
    rc = main(
        ["sparql", "--store", store, "--dict", dct,
         "--dict-format", "parquet", "--layout", "single",
         "--query", "SELECT ?s ?o WHERE { ?s <urn:name> ?o }",
         "--decode", "--results", "json", "--results-out", jpath]
    )
    assert rc == 0
    doc = json.loads(open(jpath).read())
    assert doc["head"]["vars"] == ["s", "o"]
    assert len(doc["results"]["bindings"]) == 2
    tdir = str(tmp_path / "res_tsv")
    rc = main(
        ["sparql", "--store", store, "--dict", dct,
         "--dict-format", "parquet", "--layout", "single",
         "--query", "SELECT ?s ?o WHERE { ?s <urn:name> ?o }",
         "--decode", "--results", "tsv", "--results-out", tdir]
    )
    assert rc == 0
    lines = _read_parts(tdir + "/part-*.csv")
    assert any(l.startswith("?s") for l in lines)


def test_cli_results_auto_decodes_or_refuses(spark, tmp_path, eng):
    """--results without --decode: auto-decode when a dictionary is
    loaded (a results document of integer ids is never a valid term
    serialization); refuse when there is no dictionary at all."""
    from rdfproject_msc_spark.cli import main

    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    eng.save(store, dict_path=dct)
    jpath = str(tmp_path / "auto.json")
    rc = main(
        ["sparql", "--store", store, "--dict", dct,
         "--dict-format", "parquet", "--layout", "single",
         "--query", "SELECT ?s ?o WHERE { ?s <urn:name> ?o }",
         "--results", "json", "--results-out", jpath]
    )
    assert rc == 0
    doc = json.loads(open(jpath).read())
    vals = {b["s"]["value"] for b in doc["results"]["bindings"]}
    assert vals == {"urn:a", "urn:b"}  # terms, not dictionary ids
    with pytest.raises(SystemExit, match="TERMS"):
        main(
            ["sparql", "--store", store, "--layout", "single",
             "--query", "SELECT ?s WHERE { ?s <urn:name> ?o }",
             "--results", "json",
             "--results-out", str(tmp_path / "never.json")]
        )


def test_results_xml_term_kinds_and_escaping(eng):
    """sparql-results-xml: uri/bnode/lang/typed bindings, unbound
    omitted, XML-escaped values — parsed back with ElementTree (the
    well-formedness check) and compared against the JSON twin."""
    import xml.etree.ElementTree as ET

    from rdfproject_msc_spark.sparql.results import results_xml

    df = eng.sparql(
        "SELECT ?s ?p ?o WHERE { ?s ?p ?o }", decode=True
    )
    doc = results_xml(capped_frame(df, 50), limit=50)
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    heads = [
        v.get("name") for v in root.find(f"{ns}head").findall(f"{ns}variable")
    ]
    assert heads == ["s", "p", "o"]
    results = root.find(f"{ns}results").findall(f"{ns}result")
    jdoc = json.loads(results_json(capped_frame(df, 50), limit=50))
    assert len(results) == len(jdoc["results"]["bindings"])
    got = set()
    for res in results:
        row = {}
        for b in res.findall(f"{ns}binding"):
            el = b[0]
            tag = el.tag.removeprefix(ns)
            row[b.get("name")] = (
                tag,
                el.text or "",
                el.get("{http://www.w3.org/XML/1998/namespace}lang"),
                el.get("datatype"),
            )
        got.add(tuple(sorted(row.items())))
    want = set()
    for b in jdoc["results"]["bindings"]:
        row = {}
        for name, k in b.items():
            tag = "uri" if k["type"] == "uri" else (
                "bnode" if k["type"] == "bnode" else "literal"
            )
            row[name] = (
                tag, k["value"], k.get("xml:lang"), k.get("datatype")
            )
        want.add(tuple(sorted(row.items())))
    assert got == want
    kinds = {v[0] for row in got for _, v in row}
    assert {"uri", "bnode", "literal"} <= kinds


def test_results_xml_escapes_markup(spark):
    import xml.etree.ElementTree as ET

    from rdfproject_msc_spark.sparql.results import results_xml

    df = spark.createDataFrame(
        [('"a<b>&c"@en',), ("<urn:x?a=1&b=2>",)], ["o"]
    )
    doc = results_xml(capped_frame(df, 5), limit=5)
    root = ET.fromstring(doc)  # must be well-formed despite markup chars
    texts = {el.text for el in root.iter() if el.text}
    assert "a<b>&c" in texts
    assert "urn:x?a=1&b=2" in texts


def test_results_xml_limit_guard_and_ask(eng):
    from rdfproject_msc_spark.sparql.results import ask_xml, results_xml

    df = eng.sparql("SELECT ?s ?o WHERE { ?s <urn:name> ?o }", decode=True)
    with pytest.raises(ValueError, match="one document"):
        results_xml(capped_frame(df, 1), limit=1)
    assert "<boolean>true</boolean>" in ask_xml(True)
    assert "<boolean>false</boolean>" in ask_xml(False)


def test_cli_sparql_results_xml(spark, tmp_path, eng):
    import xml.etree.ElementTree as ET

    from rdfproject_msc_spark.cli import main

    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    eng.save(store, dict_path=dct)
    xpath = str(tmp_path / "res.xml")
    rc = main(
        ["sparql", "--store", store, "--dict", dct,
         "--dict-format", "parquet", "--layout", "single",
         "--query", "SELECT ?s ?o WHERE { ?s <urn:name> ?o }",
         "--results", "xml", "--results-out", xpath]
    )
    assert rc == 0
    root = ET.fromstring(open(xpath).read())
    ns = "{http://www.w3.org/2005/sparql-results#}"
    assert len(root.find(f"{ns}results").findall(f"{ns}result")) == 2


def test_results_csv_unescapes_unicode_escapes(spark, tmp_path):
    """The CSV sink shares the planner's column-level unescape, so a
    stored \\uXXXX escape renders as the character — identical to what
    STR(?x) sees (round-10 review finding)."""
    df = spark.createDataFrame(
        [('"caf\\u00e9"',), ('"bs\\bmid\\fend"',)], ["o"]
    )
    out = str(tmp_path / "csv")
    write_results_csv(df, out)
    raw = "".join(
        open(f, newline="").read()
        for f in sorted(glob.glob(out + "/part-*.csv"))
    )
    assert "café" in raw
    assert "bs\bmid\fend" in raw


def test_capped_frame_under_the_cap_collects_in_one_job(
    spark, count_jobs, tmp_path
):
    """The session reads one wave of cores per bounded collect, so a
    result under the cap over at most that many partitions takes one
    job, however few rows its first partition holds."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 40, 1, cores).write.parquet(str(tmp_path / "r"))
    df = spark.read.parquet(str(tmp_path / "r")).filter("id % 7 = 3")
    assert 1 < df.rdd.getNumPartitions() <= cores
    jobs, rows = count_jobs(lambda: capped_frame(df, 100).collect())
    assert sorted(r.id for r in rows) == [3, 10, 17, 24, 31, 38]
    assert jobs == 1
