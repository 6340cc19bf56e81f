"""The one raw-RDF first mile (sources/ntriples.py:ingest_rdf): CLI
``ingest`` and ``Engine.load_triples`` write the same rows for every
triple format, and ``load_triples(fmt="nt")`` runs each of the three
``ntriples`` module hooks (``parse_ntriples``, ``build_dictionary``,
``encode_triples``) exactly once — the hooks rdfbench's tracer wraps to
report its ``ntriples.*`` layer metrics. The per-file parsers' worker
code runs in an interpreter that cannot import the package. The
driver and the distributed dictionary ranking give the same ids, STR
values and encoded rows for a build, an incremental ingest and
``vacuum(reindex=True)``."""

from __future__ import annotations

import collections
import importlib
import json
import subprocess
import sys

import pytest
from pyspark import cloudpickle

from rdfproject_msc_spark.cli import main
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources import ntriples

# one graph: a plain literal, an @en literal, a blank node and a
# non-ASCII IRI and literal, in each triple format
GRAPH = {
    "nt": (
        "g.nt",
        '<http://ex.org/a> <http://ex.org/name> "Alice" .\n'
        '<http://ex.org/a> <http://ex.org/greeting> "hello"@en .\n'
        "<http://ex.org/a> <http://ex.org/knows> _:b1 .\n"
        '_:b1 <http://ex.org/name> "Zoë" .\n'
        "<http://ex.org/café> <http://ex.org/knows> <http://ex.org/a> .\n",
    ),
    "ttl": (
        "g.ttl",
        "@prefix ex: <http://ex.org/> .\n"
        'ex:a ex:name "Alice" ; ex:greeting "hello"@en ; ex:knows _:b1 .\n'
        '_:b1 ex:name "Zoë" .\n'
        "<http://ex.org/café> ex:knows ex:a .\n",
    ),
    "rdfxml": (
        "g.rdf",
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:ex="http://ex.org/">\n'
        '  <rdf:Description rdf:about="http://ex.org/a">\n'
        "    <ex:name>Alice</ex:name>\n"
        '    <ex:greeting xml:lang="en">hello</ex:greeting>\n'
        '    <ex:knows rdf:nodeID="b1"/>\n'
        "  </rdf:Description>\n"
        '  <rdf:Description rdf:nodeID="b1">'
        "<ex:name>Zoë</ex:name></rdf:Description>\n"
        '  <rdf:Description rdf:about="http://ex.org/café">'
        '<ex:knows rdf:resource="http://ex.org/a"/></rdf:Description>\n'
        "</rdf:RDF>\n",
    ),
    "jsonld": (
        "g.jsonld",
        '{"@context": {"ex": "http://ex.org/"}, "@graph": [\n'
        ' {"@id": "ex:a", "ex:name": "Alice",\n'
        '  "ex:greeting": {"@value": "hello", "@language": "en"},\n'
        '  "ex:knows": {"@id": "_:b1"}},\n'
        ' {"@id": "_:b1", "ex:name": "Zoë"},\n'
        ' {"@id": "http://ex.org/café", "ex:knows": {"@id": "ex:a"}}\n'
        "]}\n",
    ),
}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _counting_hooks(mp, calls):
    """Wrap the three ntriples stages so each call is recorded; a wrapper
    installed on the module attribute is what rdfbench's tracer does."""
    for attr in ("parse_ntriples", "build_dictionary", "encode_triples"):
        orig = getattr(ntriples, attr)

        def counted(*a, _orig=orig, _attr=attr, **kw):
            calls.append(_attr)
            return _orig(*a, **kw)

        mp.setattr(ntriples, attr, counted)


def test_cli_and_engine_write_the_same_rows(spark, tmp_path, monkeypatch):
    dictionaries = {}
    for fmt, (name, text) in GRAPH.items():
        src = tmp_path / fmt / name
        src.parent.mkdir()
        src.write_text(text, encoding="utf-8")
        cli_store, cli_dict = (str(tmp_path / fmt / d) for d in ("s1", "d1"))
        assert main(
            ["ingest", f"--{fmt}", str(src), "--out", cli_store,
             "--dict-out", cli_dict, "--layout", "single"]
        ) == 0
        eng_store, eng_dict = (str(tmp_path / fmt / d) for d in ("s2", "d2"))
        calls = []
        with monkeypatch.context() as mp:
            _counting_hooks(mp, calls)
            Engine(spark).load_triples(str(src), fmt=fmt).save(
                eng_store, dict_path=eng_dict
            )
        # the hook contract: each stage runs once per load, and the nt
        # parse goes through the module attribute too
        assert sorted(calls) == ["build_dictionary", "encode_triples"] + (
            ["parse_ntriples"] if fmt == "nt" else []
        )
        d = _rows(spark.read.parquet(cli_dict).select("id", "term"))
        assert d == _rows(spark.read.parquet(eng_dict).select("id", "term"))
        spo = _rows(spark.read.parquet(cli_store).select("s", "p", "o"))
        assert spo == _rows(
            spark.read.parquet(eng_store).select("s", "p", "o")
        )
        assert len(spo) == 5
        dictionaries[fmt] = d
    terms = {t for _, t in dictionaries["nt"]}
    assert {'"hello"@en', "_:b1", '"Zoë"', "<http://ex.org/café>"} <= terms
    # the four serializations of one graph meet in one dictionary
    assert all(d == dictionaries["nt"] for d in dictionaries.values())


def test_ingest_rdf_rejects_before_reading(spark, tmp_path):
    missing = str(tmp_path / "absent")
    with pytest.raises(ValueError, match="unknown RDF format"):
        ntriples.ingest_rdf(spark, missing, "n3")
    for fmt in ("nq", "trig"):
        with pytest.raises(ValueError, match="triple formats only"):
            ntriples.ingest_rdf(
                spark, missing, fmt, dictionary=spark.range(1)
            )


# one document per per-file parser, each minting blank-node labels
EX = "http://ex.org/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
BY_VALUE = {
    "parse_turtle": (
        "turtle",
        "g.ttl",
        f"@prefix ex: <{EX}> .\n"
        'ex:a ex:knows [ ex:name "Zoë" ] ; ex:items ( 1 ex:b ) .\n',
    ),
    "parse_trig": (
        "turtle",
        "g.trig",
        f"@prefix ex: <{EX}> .\n"
        'ex:g { ex:a ex:knows [ ex:name "Zoë" ] . }\n'
        "ex:a ex:items ( ex:b ) .\n",
    ),
    "parse_rdfxml": (
        "rdfxml",
        "g.rdf",
        f'<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="{EX}">\n'
        f'  <rdf:Description rdf:about="{EX}a">\n'
        '    <ex:knows><rdf:Description><ex:name xml:lang="en">Zoë'
        "</ex:name></rdf:Description></ex:knows>\n"
        '    <ex:items rdf:parseType="Collection">'
        f'<rdf:Description rdf:about="{EX}b"/></ex:items>\n'
        "  </rdf:Description>\n</rdf:RDF>\n",
    ),
    "parse_jsonld": (
        "jsonld",
        "g.jsonld",
        json.dumps({
            "@context": {"ex": EX},
            "@id": "ex:a",
            "ex:knows": {"ex:name": "Zoë", "ex:age": 7},
            "ex:items": {"@list": [{"@id": "ex:b"}, 1.5]},
        }),
    ),
}

# runs one pickled mapInPandas function over a one-document batch in an
# isolated interpreter, after checking the package is not importable there
_WORKER = """
import json, pickle, sys
import pandas as pd
try:
    import rdfproject_msc_spark
except ModuleNotFoundError:
    pass
else:
    sys.exit("rdfproject_msc_spark is importable")
func, path, content = pickle.loads(sys.stdin.buffer.read())
batch = pd.DataFrame({"path": [path], "content": [content]})
rows = [r for out in func(iter([batch])) for r in out.values.tolist()]
print(json.dumps(rows))
"""


def _run_isolated(payload: bytes, cwd) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-I", "-c", _WORKER],
        input=payload, capture_output=True, cwd=cwd, timeout=120,
    )


@pytest.mark.parametrize("name", sorted(BY_VALUE))
def test_parsers_run_where_the_package_cannot_be_imported(
    spark, tmp_path, monkeypatch, name
):
    """The function each per-file parser hands to ``mapInPandas``,
    pickled as Spark ships it, runs in ``python -I`` outside the repo
    and yields the rows of the Spark parse; unregistered from
    by-value pickling it cannot even load there."""
    module, fname, text = BY_VALUE[name]
    parse = getattr(
        importlib.import_module(f"rdfproject_msc_spark.sources.{module}"),
        name,
    )
    (tmp_path / fname).write_text(text)
    doc = str(tmp_path / fname)
    want = collections.Counter(
        map(tuple, parse(spark, doc, on_error="fail").collect())
    )
    assert any(t and t.startswith("_:") for row in want for t in row)

    shipped = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    real = frame.mapInPandas

    def capture(self, func, schema, *args, **kwargs):
        shipped.append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInPandas", capture)
    parse(spark, doc, on_error="fail")
    (func,) = shipped
    # the batch as the binaryFile listing hands it to the function: the
    # listed path seeds the blank-node labels
    path, content = (
        spark.read.format("binaryFile").load(doc).select("path", "content")
        .first()
    )
    work = tmp_path / "work"
    work.mkdir()

    done = _run_isolated(
        cloudpickle.dumps((func, path, bytes(content))), work
    )
    assert done.returncode == 0, done.stderr.decode()
    got = collections.Counter(map(tuple, json.loads(done.stdout)))
    assert got == want

    sources = sys.modules["rdfproject_msc_spark.sources"]
    cloudpickle.unregister_pickle_by_value(sources)
    try:
        by_reference = cloudpickle.dumps((func, path, bytes(content)))
    finally:
        cloudpickle.register_pickle_by_value(sources)
    failed = _run_isolated(by_reference, work)
    assert failed.returncode != 0
    assert "ModuleNotFoundError" in failed.stderr.decode()
    assert "rdfproject_msc_spark" in failed.stderr.decode()


# One graph for the two dictionary ranking paths. Both sign classes
# hold non-ASCII and astral terms; U+E000 sorts before U+1F600 by code
# point (and UTF-8 bytes) but after it in UTF-16, so a ranking in the
# wrong order shows. NEG_OR_NULL gives the "drop" IRI a NULL class,
# which drops that term (and its triple) on both paths.
LINES = [
    '<http://ex.org/café> <http://ex.org/p> "Zoë" .',
    '<http://ex.org/a> <http://ex.org/p> "\ue000 private use" .',
    '<http://ex.org/a> <http://ex.org/p> "\U0001f600 astral" .',
    "<http://ex.org/a> <http://ex.org/q> <http://ex.org/\U00010000> .",
    '_:b1 <http://ex.org/p> "中文"@zh .',
    "<urn:ev:ü> <http://ex.org/p> <urn:ev:\U0001f600> .",
    "<urn:ev:\ue000> <http://ex.org/q> _:b2 .",
    "<http://ex.org/a> <http://ex.org/p> <http://ex.org/drop> .",
]
NEG_OR_NULL = (
    "CASE WHEN term LIKE '%drop%' THEN NULL "
    "ELSE left(term, 2) = '_:' OR term LIKE '<urn:ev%' END"
)
NT_DOC = "\n".join(LINES) + "\n"
DOCS = {
    "nt": NT_DOC,
    "ttl": NT_DOC,  # N-Triples is Turtle
    "nq": "\n".join(
        LINES[:4]
        + [line[:-1] + "<urn:ev:graph> ." for line in LINES[4:7]]
        + [LINES[7][:-1] + "_:g1 ."]
    )
    + "\n",
    "trig": "\n".join(
        LINES[:4]
        + ["<urn:ev:graph> {", *LINES[4:7], "}", "_:g1 {", LINES[7], "}"]
    )
    + "\n",
}


def _both_paths(monkeypatch, run):
    """``run()`` under the default term bound, where the fixtures rank
    on the driver, then with the bound at 0, where they rank
    distributed."""
    small = run()
    with monkeypatch.context() as mp:
        mp.setattr(ntriples, "_CACHE_MAX", 0)
        return small, run()


def _released(caches):
    for c in caches:
        c.unpersist()


@pytest.mark.parametrize("fmt", ["nt", "nq", "ttl", "trig"])
def test_driver_and_distributed_ranking_agree(
    spark, tmp_path, monkeypatch, fmt
):
    from rdfproject_msc_spark.dictionary import _str_values

    path = tmp_path / f"g.{fmt}"
    path.write_text(DOCS[fmt], encoding="utf-8")

    def run():
        caches: list = []
        triples, quads, d = ntriples.ingest_rdf(
            spark, str(path), fmt, negative_when=NEG_OR_NULL, caches=caches
        )
        out = (
            d.isLocal(),
            _rows(_str_values(d)),
            _rows(triples),
            None if quads is None else _rows(quads),
        )
        _released(caches)
        return out

    small, large = _both_paths(monkeypatch, run)
    assert (small[0], large[0]) == (True, False)
    assert small[1:] == large[1:]
    ids = {t: i for i, t, _ in small[1]}
    assert "<http://ex.org/drop>" not in ids
    assert ids['"\ue000 private use"'] < ids['"\U0001f600 astral"']
    assert -ids["<urn:ev:\ue000>"] < -ids["<urn:ev:\U0001f600>"]
    assert min(ids["_:b1"], ids["<urn:ev:ü>"]) < 0 < ids['"Zoë"']
    triples, quads = small[2], small[3]
    assert len(triples) + len(quads or []) == 7  # the "drop" triple is gone


def test_incremental_ingest_agrees_on_both_paths(
    spark, tmp_path, monkeypatch
):
    first, second = tmp_path / "a.nt", tmp_path / "b.nt"
    first.write_text("\n".join(LINES[:5]) + "\n", encoding="utf-8")
    second.write_text("\n".join(LINES[3:]) + "\n", encoding="utf-8")
    base: list = []
    _, _, d0 = ntriples.ingest_rdf(
        spark, str(first), "nt", negative_when=NEG_OR_NULL, caches=base
    )

    def run():
        caches: list = []
        triples, _, d = ntriples.ingest_rdf(
            spark, str(second), "nt", negative_when=NEG_OR_NULL,
            dictionary=d0, caches=caches,
        )
        out = _rows(d), _rows(triples)
        _released(caches)
        return out

    old = _rows(d0)
    small, large = _both_paths(monkeypatch, run)
    _released(base)
    assert small == large
    # existing ids untouched; the new negatives continue their class
    # (the first file held one) in code-point order
    assert set(old) <= set(small[0])
    assert sorted(set(small[0]) - set(old)) == [
        (-5, "_:b2"),
        (-4, "<urn:ev:\U0001f600>"),
        (-3, "<urn:ev:\ue000>"),
        (-2, "<urn:ev:ü>"),
    ]
    assert len(small[1]) == 4


def test_vacuum_reindex_agrees_on_both_paths(spark, tmp_path, monkeypatch):
    path = tmp_path / "g.nt"
    path.write_text(NT_DOC, encoding="utf-8")

    def run():
        eng = Engine(spark).load_triples(
            str(path), fmt="nt", negative_when=NEG_OR_NULL
        )
        eng.update(
            "DELETE DATA { "
            '<http://ex.org/café> <http://ex.org/p> "Zoë" . '
            "<urn:ev:ü> <http://ex.org/p> <urn:ev:\U0001f600> . }"
        )
        stats = eng.vacuum(reindex=True)
        out = stats, _rows(eng.dictionary.df), _rows(eng.store.df)
        eng.close()
        return out

    small, large = _both_paths(monkeypatch, run)
    assert small == large
    stats, d, _ = small
    assert stats["dropped"] == 4
    pos = sorted(t for i, t in d if i > 0)
    neg = sorted(t for i, t in d if i < 0)
    assert d == sorted(
        [(k, t) for k, t in enumerate(pos, start=1)]
        + [(-k, t) for k, t in enumerate(neg, start=1)]
    )
