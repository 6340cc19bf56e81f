"""The endpoint's answer cache (engine.py): a repeated request runs no
parse, plan or Spark job and returns the same bytes, answers stay those
of a fresh plan across every snapshot change, the key separates what
an answer reads, errors and nondeterministic queries are never cached,
and the byte budget holds."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark import engine as E
from rdfproject_msc_spark.dictionary import DictionaryError
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.serve import _run_query
from rdfproject_msc_spark.sparql.parser import SparqlSyntaxError
from rdfproject_msc_spark.sparql.results import (
    ResultSizeExceeded,
    _term_kind,
)

EX = "http://ex.org/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}c> <{EX}name> "Cee" .
<{EX}knows> <{RDFS}subPropertyOf> <{EX}meets> .
"""
OTHER_NT = f"<{EX}a> <{EX}knows> <{EX}e> .\n"


def knows(s: str) -> str:
    return f"SELECT ?o WHERE {{ <{EX}{s}> <{EX}knows> ?o }}"


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plan_cache")
    (d / "d.nt").write_text(NT)
    (d / "other.nt").write_text(OTHER_NT)
    paths = {
        "other": str(d / "other.nt"),
        "store": str(d / "store"),
        "dict": str(d / "dict"),
    }
    Engine(spark).load_triples(str(d / "d.nt"), fmt="nt").save(
        paths["store"], dict_path=paths["dict"]
    )
    return paths


@pytest.fixture()
def eng(spark, paths):
    return Engine(spark).open(paths["store"], dict_path=paths["dict"])


@pytest.fixture()
def calls(monkeypatch):
    """Counts of parse_sparql and sparql_to_df calls, at every name the
    package calls them by."""
    from rdfproject_msc_spark.sparql import parser, planner

    n = Counter()

    def counted(key, fn):
        def wrapper(*args, **kwargs):
            n[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    parse = counted("parse", parser.parse_sparql)
    plan = counted("plan", planner.sparql_to_df)
    for mod in (parser, planner):
        monkeypatch.setattr(mod, "parse_sparql", parse)
    for mod in (planner, E):
        monkeypatch.setattr(mod, "sparql_to_df", plan)
    return n


def _answer(eng, query: str) -> list:
    """The endpoint's JSON answer as sorted value tuples, asked twice
    (the second is a hit) and checked against an uncached plan."""
    body = _run_query(eng, query, "json", 100, False)[0]
    assert _run_query(eng, query, "json", 100, False)[0] == body
    doc = json.loads(body)
    got = sorted(
        tuple(b.get(v, {}).get("value") for v in doc["head"]["vars"])
        for b in doc["results"]["bindings"]
    )
    fresh = eng.sparql(query, decode=True, strict_terms=False).collect()
    want = sorted(
        tuple(None if v is None else _term_kind(str(v))["value"] for v in r)
        for r in fresh
    )
    assert got == want, query
    return got


def _entry(eng, query: str):
    """The cached JSON answer of ``query`` at row cap 100, if any."""
    return eng._answers.get((eng.term_style, query, "json", 100, False))


GRAPH_QUERY = (
    f"CONSTRUCT {{ ?s <{EX}likes> ?o }} "
    f"WHERE {{ ?s <{RDFS}subPropertyOf> ?o }}"
)


def test_repeated_request_skips_parse_and_plan(eng, calls, count_jobs):
    # a new constant per request: a first run resolves it with a job
    for fmt, query in (
        ("json", knows("a")),
        ("xml", knows("b")),
        ("tsv", knows("c")),
        ("csv", f"SELECT ?s WHERE {{ ?s <{EX}name> ?n }}"),
        ("json", f"ASK {{ ?s <{EX}knows> <{EX}meets> }}"),
        ("xml", f"ASK {{ ?s <{EX}knows> <{EX}b> }}"),
        ("nt", GRAPH_QUERY),
        ("turtle", GRAPH_QUERY),
    ):
        def ask():
            return _run_query(eng, query, fmt, 100, False)

        calls.clear()
        jobs, first = count_jobs(ask)
        assert jobs, fmt
        assert calls["parse"] and calls["plan"], fmt
        calls.clear()
        jobs, again = count_jobs(ask)
        assert jobs == 0, fmt
        assert not calls, fmt
        assert again == first
        assert again[0].encode("utf-8") == first[0].encode("utf-8")
    # Engine.sparql itself plans anew on every call
    calls.clear()
    assert eng.sparql(knows("a")) is not eng.sparql(knows("a"))
    assert calls["plan"] == 2


def test_answers_follow_every_snapshot_change(eng, paths):
    a, b, c, d, e = (f"{EX}{x}" for x in "abcde")
    assert _answer(eng, knows("a")) == [(b,)]
    eng.update(f"INSERT DATA {{ <{a}> <{EX}knows> <{c}> }}")
    assert _answer(eng, knows("a")) == [(b,), (c,)]
    eng.update(
        f"DELETE {{ <{a}> <{EX}knows> ?o }} "
        f"INSERT {{ <{a}> <{EX}knows> <{d}> }} "
        f"WHERE {{ <{a}> <{EX}knows> ?o }}"
    )
    assert _answer(eng, knows("a")) == [(d,)]
    for reindex in (False, True):
        assert _entry(eng, knows("a")) is not None
        eng.vacuum(reindex=reindex)
        assert not eng._answers  # released at once, not at the next read
        assert _answer(eng, knows("a")) == [(d,)]
    eng.open(paths["store"], dict_path=paths["dict"])
    assert _answer(eng, knows("a")) == [(b,)]
    meets = f"SELECT ?o WHERE {{ <{a}> <{EX}meets> ?o }}"
    assert _answer(eng, meets) == []
    eng.materialize_rdfs()
    assert _answer(eng, meets) == [(b,)]
    eng.load_triples(paths["other"], fmt="nt")
    assert _answer(eng, knows("a")) == [(e,)]


def test_attach_quads_in_place_replans(eng):
    ids = eng.dictionary.lookup_terms([f"<{EX}a>", f"<{EX}b>"])
    q = "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s ?p ?o } }"
    store = eng.store
    for name in ("a", "b"):
        g = F.lit(ids[f"<{EX}{name}>"]).cast("long").alias("g")
        store.attach_quads(store.df.select(g, "s", "p", "o"))
        assert eng.store is store
        assert _answer(eng, q) == [(f"{EX}{name}",)]
        got = eng.sparql(q, decode=True).collect()
        assert [r["g"] for r in got] == [f"<{EX}{name}>"]
    planned = _entry(eng, q)
    store.graphs_disjoint = not store.graphs_disjoint
    assert _answer(eng, q) == [(f"{EX}b",)]
    assert _entry(eng, q) is not planned


def test_strict_and_term_style_are_separate_entries(eng):
    absent = f"SELECT ?s WHERE {{ ?s <{EX}knows> <{EX}nowhere> }}"
    for _ in range(2):
        assert _answer(eng, absent) == []
        with pytest.raises(DictionaryError):
            _run_query(eng, absent, "json", 100, True)

    q = knows("a")
    lexical = _answer(eng, q)
    planned = _entry(eng, q)
    eng.term_style = "localized"
    _answer(eng, q)
    assert _entry(eng, q) is not planned
    assert len([k for k in eng._answers if k[1] == q]) == 2
    eng.term_style = "lexical"
    assert _answer(eng, q) == lexical
    assert _entry(eng, q) is planned


def test_errors_are_never_cached(eng, calls):
    absent = f"SELECT ?s WHERE {{ ?s <{EX}knows> <{EX}nowhere> }}"
    everything = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    for _ in range(2):
        with pytest.raises(SparqlSyntaxError):
            _run_query(eng, "SELECT ?s WHERE {", "json", 100, False)
        with pytest.raises(DictionaryError):
            _run_query(eng, absent, "json", 100, True)
        with pytest.raises(ResultSizeExceeded):
            _run_query(eng, everything, "json", 2, False)
    queries = {key[1] for key in eng._answers}
    assert not queries & {"SELECT ?s WHERE {", absent, everything}
    calls.clear()
    with pytest.raises(ResultSizeExceeded):
        _run_query(eng, everything, "json", 2, False)
    assert calls["plan"] == 1


NONDETERMINISTIC = [
    f"SELECT ?s ?v WHERE {{ ?s <{EX}knows> ?o BIND({fn} AS ?v) }}"
    for fn in ("NOW()", "RAND()", "UUID()", "STRUUID()")
] + [
    f"SELECT ?s ({fn} AS ?v) WHERE {{ ?s <{EX}knows> ?o }}"
    for fn in ("NOW()", "RAND()", "UUID()", "STRUUID()")
] + [
    f"SELECT ?s WHERE {{ ?s <{EX}knows> ?o FILTER({fn} != ?o) }}"
    for fn in ("NOW()", "RAND()", "UUID()", "STRUUID()")
]


@pytest.mark.parametrize("query", NONDETERMINISTIC)
def test_nondeterministic_queries_reject_and_leave_no_entry(eng, query):
    """An answer depends only on the snapshot and the key: on the
    endpoint path (no clock) every nondeterministic built-in rejects at
    parse, on every repeat, in every format."""
    for fmt in ("json", "csv", "xml"):
        for _ in range(2):
            with pytest.raises(SparqlSyntaxError):
                _run_query(eng, query, fmt, 100, False)
    assert not eng._answers


def _sizes(eng) -> dict:
    return {key[1]: size for key, (_, size) in eng._answers.items()}


def test_answers_stay_correct_past_the_bound(monkeypatch, eng):
    want = {"a": [(f"{EX}b",)], "b": [(f"{EX}c",)], "c": []}
    for s, expect in want.items():
        assert _answer(eng, knows(s)) == expect
    budget = max(_sizes(eng).values())  # room for one answer at a time
    monkeypatch.setattr(E, "_ANSWER_CACHE_BYTES", budget)
    eng.release_caches()
    for _ in range(2):
        for s, expect in want.items():
            assert _answer(eng, knows(s)) == expect
            assert 0 < eng._answers_size <= budget
            assert eng._answers_size == sum(_sizes(eng).values())
    # an answer larger than the whole budget is served, not kept
    monkeypatch.setattr(E, "_ANSWER_CACHE_BYTES", 1)
    eng.release_caches()
    assert _answer(eng, knows("a")) == want["a"]
    assert not eng._answers and eng._answers_size == 0


def test_small_byte_budget_evicts_least_recently_used(monkeypatch, eng, calls):
    q1, q2, q3 = (knows(s) for s in "abc")
    for q in (q1, q2, q3):
        _run_query(eng, q, "json", 100, False)
    sizes = _sizes(eng)
    monkeypatch.setattr(E, "_ANSWER_CACHE_BYTES", sum(sizes.values()) - 1)
    eng.release_caches()
    _run_query(eng, q1, "json", 100, False)
    _run_query(eng, q2, "json", 100, False)
    calls.clear()
    _run_query(eng, q1, "json", 100, False)  # a hit: q1 is now the newest
    assert not calls
    _run_query(eng, q3, "json", 100, False)  # evicts q2, the oldest use
    assert set(_sizes(eng)) == {q1, q3}
    assert eng._answers_size == sizes[q1] + sizes[q3]
    calls.clear()
    body = _run_query(eng, q2, "json", 100, False)[0]  # a miss again
    assert calls["parse"] and calls["plan"]
    assert [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]] \
        == [f"{EX}c"]
    assert set(_sizes(eng)) == {q3, q2}  # q1 was the oldest use now


def test_concurrent_requests_keep_the_bound(monkeypatch):
    """More threads than cores hit one engine's cache with a short
    switch interval: every value answers its own key, and the cached
    bytes never pass the budget. No Spark: the cache only reads the
    store's identity and two of its attributes."""
    import sys
    import threading
    from types import SimpleNamespace

    def value(k: int) -> tuple:
        return (f"body-{k}" * (1 + k), "json")

    one = E._answer_bytes(("localized", "k", 8), value(8))
    monkeypatch.setattr(E, "_ANSWER_CACHE_BYTES", 4 * one)
    eng = Engine(None, store=SimpleNamespace(_quads=None,
                                             graphs_disjoint=False))
    sizes, wrong = [], []

    def worker(n: int) -> None:
        for i in range(400):
            k = (n + i) % 9
            got = eng._reuse(("k", k), lambda k=k: value(k))
            if got != value(k):
                wrong.append((k, got))
            sizes.append(eng._answers_size)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(n,)) for n in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert len(sizes) == 16 * 400 and max(sizes) <= 4 * one
    assert eng._answers_size == sum(s for _, s in eng._answers.values())
