"""The per-Dictionary lookup maps (the whole dictionary on the driver
when it fits, bounded caches otherwise), the endpoint's driver-side
decode and the STR-value relation an opened dictionary derives once,
on a save → open lexical store (the shape the HTTP endpoint serves)."""

from __future__ import annotations

import json

import pytest

from rdfproject_msc_spark import dictionary as D
from rdfproject_msc_spark.dictionary import Dictionary, DictionaryError
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.serve import _run_query
from rdfproject_msc_spark.sparql import results as RES
from rdfproject_msc_spark.sparql.results import ResultSizeExceeded

EX = "http://ex.org/"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"
NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}c> <{EX}knows> <{EX}a> .
<{EX}d> <{EX}knows> <{EX}a> .
<{EX}a> <{EX}name> "Al\\nice" .
<{EX}b> <{EX}name> "say \\"hi\\"" .
<{EX}c> <{EX}name> "caf\\u00E9"@fr .
<{EX}d> <{EX}name> "smile \\U0001F600 ok" .
<{EX}a> <{EX}age> "30"^^{XSD_INT} .
<{EX}b> <{EX}age> "7"^^{XSD_INT} .
<{EX}c> <{EX}age> "41"^^{XSD_INT} .
"""


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(in-memory ingest engine, save → open engine, paths)."""
    d = tmp_path_factory.mktemp("dict_cache")
    (d / "d.nt").write_text(NT)
    mem = Engine(spark).load_triples(str(d / "d.nt"), fmt="nt")
    paths = (str(d / "store"), str(d / "dict"))
    mem.save(paths[0], dict_path=paths[1])
    opened = Engine(spark).open(paths[0], dict_path=paths[1])
    return mem, opened, paths


@pytest.fixture()
def opened(spark, stores):
    """A fresh save → open engine: empty caches, free to update."""
    return Engine(spark).open(stores[2][0], dict_path=stores[2][1])


def _job_ids(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


# -- term → id cache -------------------------------------------------------


def test_second_plan_of_a_query_runs_no_spark_job(spark, opened):
    q = (
        f"SELECT ?o ?n WHERE {{ <{EX}a> <{EX}knows> ?o . "
        f"?o <{EX}name> ?n FILTER(CONTAINS(STR(?n), \"hi\")) }}"
    )
    before = _job_ids(spark)
    opened.sparql(q)
    first = _job_ids(spark) - before
    assert first, "the first plan resolves its constants with a job"
    before = _job_ids(spark)
    df = opened.sparql(q)
    assert _job_ids(spark) - before == set()
    assert df.count() == 1


def test_absent_term_added_by_insert_resolves(opened):
    new = f"<{EX}zed>"
    assert opened.dictionary.lookup_terms([new]) == {}
    opened.update(f"INSERT DATA {{ {new} <{EX}knows> <{EX}a> }}")
    assert new in opened.dictionary.lookup_terms([new])
    rows = opened.sparql(
        f"SELECT ?o WHERE {{ {new} <{EX}knows> ?o }}", decode=True
    ).collect()
    assert [r["o"] for r in rows] == [f"<{EX}a>"]


def test_cached_absent_term_still_raises_under_strict(opened):
    absent = f"<{EX}never-seen>"
    assert opened.dictionary.lookup_terms([absent]) == {}
    with pytest.raises(DictionaryError):
        opened.dictionary.encode_terms([absent, f"<{EX}knows>"])
    with pytest.raises(DictionaryError):
        opened.sparql(
            f"SELECT ?s WHERE {{ ?s <{EX}knows> {absent} }}",
            strict_terms=True,
        )
    # the lenient lowering still answers the spec's empty result
    assert opened.sparql(
        f"SELECT ?s WHERE {{ ?s <{EX}knows> {absent} }}", strict_terms=False
    ).count() == 0


def test_lookups_past_the_cache_bound_stay_correct(monkeypatch, opened):
    expect = {r["term"]: r["id"] for r in opened.dictionary.df.collect()}
    terms = sorted(expect) + [f"<{EX}absent{i}>" for i in range(3)]
    monkeypatch.setattr(D, "_CACHE_MAX", 4)
    d = opened.dictionary
    want = {t: expect[t] for t in terms if t in expect}
    assert d.lookup_terms(terms) == want  # more new keys than the bound
    assert d._whole is False  # too large to hold whole: per-key path
    assert len(d._ids) <= 4
    for i in range(0, len(terms), 3):  # clears and refills repeatedly
        chunk = terms[i : i + 3]
        assert d.lookup_terms(chunk) == {
            t: expect[t] for t in chunk if t in expect
        }
        assert len(d._ids) <= 4
    ids = sorted(expect.values()) + [0]
    by_id = {i: t for t, i in expect.items()}
    assert d.decode_ids(ids) == by_id
    for i in range(0, len(ids), 3):
        chunk = ids[i : i + 3]
        assert d.decode_ids(chunk) == {i: by_id[i] for i in chunk if i}
        assert len(d._terms) <= 4
    # a driver-row extend of a large dictionary stays on the per-key path
    ext = d.extend([(10**6, f"<{EX}zed>")])
    assert ext._whole is False
    assert ext.lookup_terms(terms[:2] + [f"<{EX}zed>"]) == {
        **{t: expect[t] for t in terms[:2]}, f"<{EX}zed>": 10**6
    }
    assert ext.decode_ids([10**6, 0]) == {10**6: f"<{EX}zed>"}


def test_whole_dictionary_answers_every_key_without_a_job(spark, opened):
    d = opened.dictionary
    expect = {r["term"]: r["id"] for r in d.df.collect()}
    assert d._whole is None
    before = _job_ids(spark)
    assert d.lookup_terms([f"<{EX}a>"]) == {f"<{EX}a>": expect[f"<{EX}a>"]}
    assert _job_ids(spark) - before  # the fill
    assert d._whole and d._ids == expect
    absent = [f"<{EX}absent{i}>" for i in range(3)]
    by_id = {i: t for t, i in expect.items()}
    before = _job_ids(spark)
    assert d.lookup_terms(sorted(expect) + absent) == expect
    assert d.decode_ids(sorted(by_id) + [0, 10**9]) == by_id
    with pytest.raises(DictionaryError):
        d.encode_terms(absent)
    # an INSERT's driver-row extend carries the whole map
    new = f"<{EX}zed>"
    opened.update(f"INSERT DATA {{ {new} <{EX}knows> {absent[0]} }}")
    ext = opened.dictionary
    assert ext is not d and ext._whole
    before = _job_ids(spark)
    found = ext.lookup_terms([new, absent[0], absent[1], f"<{EX}a>"])
    assert set(found) == {new, absent[0], f"<{EX}a>"}
    assert ext.decode_ids([found[new], found[absent[0]], -(10**9)]) == {
        found[new]: new, found[absent[0]]: absent[0]
    }
    assert _job_ids(spark) - before == set()
    rows = opened.sparql(
        f"SELECT ?o WHERE {{ {new} <{EX}knows> ?o }}", decode=True
    ).collect()
    assert [r["o"] for r in rows] == [absent[0]]


def test_driver_row_extend_keeps_cache_entries(spark):
    d = Dictionary(
        spark.createDataFrame([(1, "a")], "id long, term string")
    )
    assert d.lookup_terms(["a", "b"]) == {"a": 1}  # "b" cached absent
    assert d.decode_ids([1, 2]) == {1: "a"}  # 2 cached absent
    ext = d.extend([(2, "b")])
    before = _job_ids(spark)
    assert ext.lookup_terms(["a", "b"]) == {"a": 1, "b": 2}
    assert ext.decode_ids([1, 2]) == {1: "a", 2: "b"}
    assert _job_ids(spark) - before == set()
    assert d.lookup_terms(["b"]) == {}  # the base is unchanged
    # an extension by a DataFrame starts with empty caches
    frame = d.extend(spark.createDataFrame([(3, "c")], "id long, term string"))
    assert frame._ids == {} and frame._terms == {}
    assert frame.lookup_terms(["a", "b", "c"]) == {"a": 1, "c": 3}


def test_vacuumed_and_reopened_dictionaries_start_empty(spark, stores):
    eng = Engine(spark).open(stores[2][0], dict_path=stores[2][1])
    q = f"SELECT ?o WHERE {{ <{EX}a> <{EX}knows> ?o }}"
    for step in (
        lambda: eng.vacuum(),
        lambda: eng.vacuum(reindex=True),
        lambda: eng.open(stores[2][0], dict_path=stores[2][1]),
    ):
        _run_query(eng, q, "json", 100, False)
        assert eng.dictionary._ids and eng.dictionary._terms
        step()
        assert eng.dictionary._ids == {} and eng.dictionary._terms == {}
        doc = json.loads(_run_query(eng, q, "json", 100, False)[0])
        assert [b["o"]["value"] for b in doc["results"]["bindings"]] == [
            f"{EX}b"
        ]


# -- driver-side decode of the one-document forms --------------------------

_BUILD = {
    "json": RES.results_json,
    "xml": RES.results_xml,
    "tsv": RES.results_tsv,
}


def _canonical(doc: str, fmt: str, ordered: bool):
    """The document, with solution order normalized unless ``ordered``."""
    if fmt == "json":
        d = json.loads(doc)
        if not ordered:
            d["results"]["bindings"].sort(key=json.dumps)
        return d
    lines = doc.splitlines()
    if ordered:
        return lines
    return sorted(lines)


DECODE_CASES = {
    # ORDER BY … LIMIT: the collect keeps the order
    "order_limit": (
        f"SELECT ?s ?age WHERE {{ ?s <{EX}age> ?age }} "
        "ORDER BY DESC(?age) LIMIT 2",
        True,
    ),
    # OPTIONAL with unbound values (?d has no age)
    "optional": (
        f"SELECT ?s ?age WHERE {{ ?s <{EX}name> ?n "
        f"OPTIONAL {{ ?s <{EX}age> ?age }} }}",
        False,
    ),
    # COUNT is a long column that must not be decoded
    "group_count": (
        f"SELECT ?o (COUNT(?s) AS ?c) WHERE {{ ?s <{EX}knows> ?o }} "
        "GROUP BY ?o",
        False,
    ),
    # identity BIND decodes; a computed (long) BIND does not
    "binds": (
        f"SELECT ?s ?y ?z WHERE {{ ?s <{EX}knows> ?o "
        "BIND(?o AS ?y) BIND(STRLEN(STR(?o)) AS ?z) }",
        False,
    ),
    # a graph-absent constant: ?d (no age) takes the VALUES row's 0
    # sentinel, which decodes to unbound
    "absent_constant": (
        f"SELECT ?s ?x WHERE {{ ?s <{EX}knows> <{EX}a> "
        f"OPTIONAL {{ ?s <{EX}age> ?x }} VALUES ?x {{ <{EX}nowhere> }} }}",
        False,
    ),
}


@pytest.mark.parametrize("case", sorted(DECODE_CASES))
def test_driver_decode_matches_join_decode(stores, case):
    _, opened, _ = stores
    query, ordered = DECODE_CASES[case]
    joined = opened.sparql(query, decode=True, strict_terms=False)
    for fmt, build in _BUILD.items():
        got, used = _run_query(opened, query, fmt, 100, False)
        assert used == fmt
        want = build(RES.capped_frame(joined, 100), limit=100)
        assert _canonical(got, fmt, ordered) == _canonical(
            want, fmt, ordered
        ), (case, fmt)
    if case == "absent_constant":
        doc = json.loads(_run_query(opened, query, "json", 100, False)[0])
        assert doc["results"]["bindings"] == [
            {"s": {"type": "uri", "value": f"{EX}d"}}
        ]
    if case == "group_count":
        doc = json.loads(_run_query(opened, query, "json", 100, False)[0])
        counts = sorted(b["c"]["value"] for b in doc["results"]["bindings"])
        assert counts == ["1", "1", "2"]


def test_driver_decode_keeps_the_row_cap(stores):
    _, opened, _ = stores
    q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    for fmt in _BUILD:
        with pytest.raises(ResultSizeExceeded, match="exceeds limit=3"):
            _run_query(opened, q, fmt, 3, False)
    for build in _BUILD.values():
        with pytest.raises(ResultSizeExceeded, match="exceeds limit=3"):
            build(
                RES.capped_frame(opened.sparql(q, decode=True), 3),
                limit=3,
            )


# -- STR values over a derived (opened) vs persisted (ingest) relation -----

STR_QUERIES = [
    f"SELECT ?s (STR(?n) AS ?v) WHERE {{ ?s <{EX}name> ?n }}",
    f"SELECT ?s (STRLEN(STR(?n)) AS ?v) WHERE {{ ?s <{EX}name> ?n }}",
    f"SELECT ?s WHERE {{ ?s <{EX}name> ?n FILTER(CONTAINS(STR(?n), \"\\n\")) }}",
    f"SELECT ?s WHERE {{ ?s <{EX}name> ?n "
    + r'FILTER(CONTAINS(STR(?n), "\"hi\"")) }',
    f"SELECT ?s WHERE {{ ?s <{EX}name> ?n FILTER(REGEX(STR(?n), \"fé$\")) }}",
    f"SELECT ?s WHERE {{ ?s <{EX}name> ?n FILTER(CONTAINS(STR(?n), \"\U0001F600\")) }}",
    f"SELECT ?s WHERE {{ ?s <{EX}name> ?n FILTER(STRLEN(STR(?n)) = 10) }}",
]


def test_str_values_agree_on_opened_and_ingested_stores(stores):
    mem, opened, _ = stores
    assert not mem.dictionary._own_sv  # persisted by the ingest
    assert mem.dictionary._base_sv is not None
    answers = []
    for q in STR_QUERIES:
        got = sorted(
            tuple(r) for r in opened.sparql(q, decode=True).collect()
        )
        want = sorted(tuple(r) for r in mem.sparql(q, decode=True).collect())
        assert got == want, q
        answers.append(got)
    a, b, c, d = (f"<{EX}{x}>" for x in "abcd")
    assert dict(answers[0]) == {
        a: "Al\nice", b: 'say "hi"', c: "café", d: "smile \U0001F600 ok",
    }
    assert answers[2:] == [[(a,)], [(b,)], [(c,)], [(d,)], [(d,)]]
    assert opened.dictionary._own_sv  # derived once, on first use


def _derivations(monkeypatch) -> list:
    """The relations the dictionary derives STR values over, as they
    are derived."""
    seen = []

    def recording(df):
        seen.append(df)
        return derive(df)

    derive = D._str_values
    monkeypatch.setattr(D, "_str_values", recording)
    return seen


def _value_query(constant: str) -> str:
    return (
        f"SELECT ?s WHERE {{ ?s <{EX}name> ?n "
        f"FILTER(CONTAINS(STR(?n), \"{constant}\")) }}"
    )


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_second_value_query_runs_no_derivation(monkeypatch, opened):
    seen = _derivations(monkeypatch)
    assert opened.sparql(_value_query("hi"), decode=True).count() == 1
    assert len(seen) == 1 and opened.dictionary._own_sv
    seen.clear()
    df = opened.sparql(_value_query("caf"), decode=True)
    assert not seen
    # the plan reads the materialized values: no unescape chain in it
    plan = _optimized(df)
    assert "array_join" not in plan and "LogicalRDD" in plan
    assert [r["s"] for r in df.collect()] == [f"<{EX}c>"]


def test_read_after_insert_derives_only_the_new_rows(monkeypatch, opened):
    seen = _derivations(monkeypatch)
    opened.sparql(_value_query("hi")).count()
    base = opened.dictionary._base_sv
    assert len(seen) == 1
    seen.clear()
    opened.update(
        f'INSERT DATA {{ <{EX}e> <{EX}name> "fresh \\u00E9 one" . '
        f'<{EX}f> <{EX}name> "another" }}'
    )
    ext = opened.dictionary
    assert ext._base_sv is base and ext._own_sv
    got = opened.sparql(_value_query("é on"), decode=True).collect()
    assert [r["s"] for r in got] == [f"<{EX}e>"]
    # one derivation, over the update's new terms alone
    assert len(seen) == 1
    assert sorted(r["term"] for r in seen[0].collect()) == sorted(
        t for _, t in ext._local
    )
    assert len(ext._local) == 4  # two subjects, two literals


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_derived_str_values_release_with_their_base(spark, stores):
    store, dict_path = stores[2]
    eng = Engine(spark).open(store, dict_path=dict_path)
    q = _value_query("hi")
    for step in (
        lambda: eng.vacuum(),
        lambda: eng.open(store, dict_path=dict_path),
        lambda: eng.close(),
    ):
        assert eng.sparql(q).count() == 1
        d = eng.dictionary
        rdd = d._base_sv._jdf.queryExecution().analyzed().rdd().id()
        assert rdd in _persisted(spark)
        step()
        assert rdd not in _persisted(spark)
        assert d._base_sv is None and not d._own_sv
    # a closed engine's dictionary derives again when asked
    assert eng.sparql(q, decode=True).collect()[0]["s"] == f"<{EX}b>"
    eng.close()
