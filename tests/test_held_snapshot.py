"""A small opened snapshot is held in memory (engine.py ``HELD_BYTES``):
``Engine.open`` reads a store and dictionary of at most that many
Parquet bytes once, into local checkpoints, and releases them once
nothing reads them. Answers match the Parquet-read path, reads scan no
file, a larger store keeps its sign directory pruning, and nothing
persisted piles up across opens."""

from __future__ import annotations

import json

import pytest

from rdfproject_msc_spark import engine as E
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.serve import _answer

EX = "http://ex.org/"
DEC = "http://www.w3.org/2001/XMLSchema#decimal"

NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}c> <{EX}knows> <{EX}d> .
<{EX}a> <{EX}name> "Alice" .
<{EX}b> <{EX}name> "Bob"@en .
<{EX}c> <{EX}name> "Carol" .
<{EX}a> <{EX}age> "31"^^<{DEC}> .
<{EX}b> <{EX}age> "42"^^<{DEC}> .
<{EX}c> <{EX}age> "27"^^<{DEC}> .
<urn:ev1> <{EX}by> <{EX}a> .
<urn:ev1> <{EX}price> "12.5"^^<{DEC}> .
<urn:ev2> <{EX}by> <{EX}a> .
<urn:ev2> <{EX}price> "7.25"^^<{DEC}> .
<urn:ev3> <{EX}by> <{EX}b> .
<urn:ev3> <{EX}price> "3.0"^^<{DEC}> .
"""

NEG = "term LIKE '<urn:ev%'"

P = f"PREFIX ex: <{EX}> "

# the seven read shapes of the endpoint benchmark
READS = {
    "chain": P + "SELECT ?x ?z WHERE { ?x ex:knows ?y . ?y ex:knows ?z }",
    "star": P + "SELECT ?s ?n ?a WHERE { ?s ex:name ?n . ?s ex:age ?a . "
    "?s ex:knows ?o }",
    "optional": P + "SELECT ?s ?n WHERE { ?s ex:knows ?o "
    "OPTIONAL { ?s ex:name ?n } }",
    "count": P + "SELECT ?s (COUNT(?e) AS ?c) WHERE { ?e ex:by ?s } "
    "GROUP BY ?s",
    "top": P + "SELECT ?e ?p WHERE { ?e ex:price ?p FILTER(?p > 5) } "
    "ORDER BY DESC(?p) LIMIT 2",
    "contains": P + "SELECT ?s WHERE { ?s ex:name ?n "
    'FILTER(CONTAINS(STR(?n), "o")) }',
    "regex": P + "SELECT ?s WHERE { ?s ex:name ?n "
    'FILTER(REGEX(STR(?n), "^Ca")) }',
}

UPDATES = [
    (
        P + f'INSERT DATA {{ ex:d ex:name "Dora" . <urn:ev4> ex:by ex:d }}',
        "count",
    ),
    (P + "DELETE DATA { ex:b ex:knows ex:c }", "chain"),
    (
        P + "DELETE { ?s ex:name ?n } INSERT { ?s ex:name \"Cora\" } "
        'WHERE { ?s ex:name ?n FILTER(STR(?n) = "Carol") }',
        "contains",
    ),
]


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    """A sign-split store and dictionary written by ``save``."""
    d = tmp_path_factory.mktemp("held")
    (d / "g.nt").write_text(NT)
    eng = Engine(spark).load_triples(
        str(d / "g.nt"), fmt="nt", layout="sign_split", negative_when=NEG
    )
    eng.save(str(d / "store"), dict_path=str(d / "dict"))
    eng.close()
    return str(d / "store"), str(d / "dict")


def opened(spark, saved) -> Engine:
    store, dct = saved
    eng = Engine(spark).open(store, layout="sign_split", dict_path=dct)
    eng._negative_when = NEG
    return eng


def answer(eng, query: str) -> list:
    """The endpoint's JSON answer as sorted bindings (ORDER BY kept for
    the one ordered shape)."""
    body, _ = _answer(eng, query, "json", 1000, False)
    rows = [
        json.dumps(b, sort_keys=True)
        for b in json.loads(body)["results"]["bindings"]
    ]
    return rows if "ORDER BY" in query else sorted(rows)


def session(eng) -> list:
    """Every read shape, then each update followed by a read, then a
    vacuum and a last read of every shape."""
    out = [answer(eng, q) for q in READS.values()]
    for text, read in UPDATES:
        eng.update(text)
        out.append(answer(eng, READS[read]))
    out.append(eng.vacuum())
    out.extend(answer(eng, q) for q in READS.values())
    return out


def test_answers_equal_held_and_read(spark, saved, monkeypatch):
    eng = opened(spark, saved)
    assert len(eng._held) == 2  # the store and the dictionary
    held = session(eng)
    eng.close()
    monkeypatch.setattr(E, "HELD_BYTES", 0)
    eng = opened(spark, saved)
    assert not eng._held
    assert session(eng) == held
    eng.close()
    counts = [json.loads(b) for b in held[3]]
    assert {(b["s"]["value"], b["c"]["value"]) for b in counts} == {
        (f"{EX}a", "2"),
        (f"{EX}b", "1"),
    }


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_over_the_bound_keeps_sign_pruning(spark, saved, monkeypatch):
    monkeypatch.setattr(E, "HELD_BYTES", 0)
    eng = opened(spark, saved)
    plan = _executed(eng.store.positive)
    assert "PartitionFilters" in plan
    assert "(sign" in plan.split("PartitionFilters")[1].split("]")[0]
    eng.close()


def test_under_the_bound_reads_scan_no_file(spark, saved):
    eng = opened(spark, saved)
    for name, q in READS.items():
        for decode in (False, True):
            plan = _executed(eng.sparql(q, decode=decode))
            assert "FileScan" not in plan, (name, decode, plan)
    assert "FileScan" not in _executed(eng.store.positive)
    eng.close()


def _persisted(spark) -> set:
    """The ids of the persisted RDDs. Tests compare sets, not counts:
    the context cleaner may unpersist an earlier test's relation between
    two readings."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_opens_and_close_leave_nothing_persisted(spark, saved):
    store, dct = saved
    before = _persisted(spark)
    eng = Engine(spark)
    for _ in range(5):
        eng.open(store, layout="sign_split", dict_path=dct)
        assert answer(eng, READS["contains"])  # derives STR values too
        assert len(_persisted(spark) - before) == 3
    # an open without a dictionary keeps reading the held one
    eng.open(store, layout="sign_split")
    assert len(_persisted(spark) - before) == 3
    want = answer(eng, READS["chain"])
    eng.close()
    assert not _persisted(spark) - before
    # a closed engine reads its Parquet files again
    assert not eng._held
    assert answer(eng, READS["chain"]) == want
    assert "FileScan" in _executed(eng.store.df)


def test_close_keeps_what_a_grown_dictionary_reads(spark, saved):
    """A template blank node extends the dictionary by a relation over
    the held one; ``close`` keeps that held relation, and the next
    ``open`` releases it."""
    store, dct = saved
    start = _persisted(spark)
    eng = opened(spark, saved)
    held_at_open = _persisted(spark) - start  # the store and the dictionary
    eng.update(P + "INSERT { ?s ex:tag _:t } WHERE { ?s ex:age ?a }")
    q = P + "SELECT ?s WHERE { ?s ex:tag ?t }"
    want = answer(eng, q)
    assert len(want) == 3
    eng.close()
    held, used, _ = eng._held[0]
    assert len(eng._held) == 1 and used is not held  # the dictionary
    old = (_persisted(spark) - start) & held_at_open
    assert len(old) == 1  # the held dictionary stays persisted
    assert answer(eng, q) == want
    before = _persisted(spark)
    eng.open(store, layout="sign_split", dict_path=dct)
    after = _persisted(spark)
    assert len(after - before) == 2  # two held
    assert not old & after  # the old one gone
    assert not any(e[0] is held for e in eng._held)
    eng.close()


def test_vacuum_checkpoints_release_once_unread(spark, saved):
    """The checkpoints ``vacuum`` installs are held like what ``open``
    holds: ``close`` keeps them, so the engine still answers, and the
    next ``open`` releases them. Compared as sets of RDD ids: the
    context cleaner may drop an earlier test's relation meanwhile."""
    store, dct = saved
    before = _persisted(spark)
    eng = Engine(spark)
    for _ in range(3):
        eng.open(store, layout="sign_split", dict_path=dct)
        eng.update(P + "DELETE DATA { ex:b ex:knows ex:c }")
        eng.vacuum()
    want = answer(eng, READS["chain"])
    eng.close()
    assert answer(eng, READS["chain"]) == want
    eng.open(store, layout="sign_split", dict_path=dct)
    eng.close()
    assert _persisted(spark) <= before


def test_open_runs_only_the_held_checkpoints(spark, saved, count_jobs):
    """``open`` reads the store and dictionary with the schemas ``save``
    writes: the two local checkpoints are its only jobs, none infers a
    schema from the Parquet footers."""
    store, dct = saved
    eng = Engine(spark)
    jobs, _ = count_jobs(
        lambda: eng.open(store, layout="sign_split", dict_path=dct)
    )
    assert len(eng._held) == 2
    assert jobs == 2
    eng.close()


def test_insert_data_ranks_from_the_held_dictionary(
    spark, saved, count_jobs, monkeypatch
):
    """New terms of an INSERT DATA take their append bases from the
    dictionary a lookup already holds whole: the ranking runs no job
    and gives the ids the aggregate over the dictionary would."""
    from rdfproject_msc_spark.sources import ntriples

    eng = opened(spark, saved)
    assert answer(eng, READS["chain"])  # holds the dictionary
    held = eng.dictionary
    assert held.held_ids() is not None
    rank, ranked = ntriples.rank_new_terms, []

    def counted(*args, **kwargs):
        ranked.append(count_jobs(lambda: rank(*args, **kwargs)))
        return ranked[-1][1]

    monkeypatch.setattr(ntriples, "rank_new_terms", counted)
    eng.update(P + 'INSERT DATA { ex:e ex:name "Eve" . <urn:ev9> ex:by ex:e }')
    [(jobs, rows)] = ranked
    assert jobs == 0
    pos, neg = ntriples._append_bases(held.df)
    assert sorted(rows) == [
        (-(neg + 1), "<urn:ev9>"),
        (pos + 1, '"Eve"'),
        (pos + 2, f"<{EX}e>"),
    ]
    q = P + "SELECT ?n WHERE { ?e ex:by ex:e . ex:e ex:name ?n }"
    assert answer(eng, q) == [json.dumps(
        {"n": {"type": "literal", "value": "Eve"}}, sort_keys=True
    )]
    eng.close()
