"""Bounded-delta updates (store.py, sparql/update.py): a store keeps its
base relation plus one materialized ``added``/``removed`` delta, so the
plan stays the same size however many updates ran, the base keeps its
sign partition pruning, nothing persisted piles up, and request-sized
dictionary appends rank on the driver with the ids
``extend_dictionary`` would give."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources.ntriples import (
    extend_dictionary,
    rank_new_terms,
)

EX = "http://ex.org/"

NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}c> <{EX}knows> <{EX}a> .
<{EX}a> <{EX}name> "Alice" .
<{EX}b> <{EX}name> "Bob" .
<urn:ev1> <{EX}at> "t1" .
"""

NEG = "term LIKE '<urn:ev%'"


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    """An ingested graph saved as a sign-split store + dictionary."""
    d = tmp_path_factory.mktemp("delta")
    (d / "g.nt").write_text(NT)
    eng = Engine(spark).load_triples(
        str(d / "g.nt"), fmt="nt", layout="sign_split", negative_when=NEG
    )
    eng.save(str(d / "store"), dict_path=str(d / "dict"))
    model = set(map(tuple, eng.decode(eng.store.df).collect()))
    eng.close()
    return str(d / "store"), str(d / "dict"), model


def opened(spark, saved) -> Engine:
    store, dct, _ = saved
    eng = Engine(spark).open(store, layout="sign_split", dict_path=dct)
    eng._negative_when = NEG
    return eng


def decoded(eng) -> set:
    return set(map(tuple, eng.decode(eng.store.df).collect()))


def plan_lines(df) -> int:
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


def data(triples) -> str:
    return " . ".join(f"{s} {p} {o}" for s, p, o in triples)


def test_plan_size_is_the_same_after_1_and_10_mixed_updates(spark, saved):
    eng = opened(spark, saved)
    model = set(saved[2])
    knows, name = f"<{EX}knows>", f"<{EX}name>"
    # the first update deletes a base row and adds a new one, so both
    # delta sets are non-empty from here on
    eng.update(
        f"DELETE {{ ?s {knows} <{EX}c> }} INSERT {{ ?s <{EX}likes> <{EX}c> }} "
        f"WHERE {{ ?s {knows} <{EX}c> }}"
    )
    model -= {(f"<{EX}b>", knows, f"<{EX}c>")}
    model |= {(f"<{EX}b>", f"<{EX}likes>", f"<{EX}c>")}
    after_one = plan_lines(eng.store.df)
    for i in range(9):
        new = (f"<{EX}n{i}>", knows, f"<{EX}a>")
        if i % 3 == 0:
            eng.update(f"INSERT DATA {{ {data([new])} }}")
            model.add(new)
        elif i % 3 == 1:
            gone = (f"<{EX}n{i - 1}>", knows, f"<{EX}a>")
            eng.update(f"DELETE DATA {{ {data([gone])} }}")
            model.discard(gone)
        else:
            eng.update(
                f'DELETE {{ ?s {name} "Bob" }} '
                f'INSERT {{ ?s {name} "Bob{i}" }} WHERE {{ ?s {name} "Bob" }}'
                f' ; INSERT DATA {{ <{EX}b> {name} "Bob" }}'
            )
            model.add((f"<{EX}b>", name, f'"Bob{i}"'))
    assert plan_lines(eng.store.df) == after_one
    assert decoded(eng) == model


def test_positive_keeps_the_sign_partition_filter(spark, saved):
    eng = opened(spark, saved)
    eng.update(
        f"INSERT DATA {{ <{EX}d> <{EX}knows> <{EX}a> }} ; "
        f'DELETE DATA {{ <{EX}a> <{EX}name> "Alice" }}'
    )
    for view, sign in ((eng.store.positive, 1), (eng.store.negative_raw, 0)):
        view.collect()
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            rf"PartitionFilters: \[[^\]]*\(sign#\d+ = {sign}\)", plan
        ), plan
    # the views still split the updated graph by subject sign
    assert eng.store.positive.filter(F.col("s") < 0).count() == 0
    assert eng.store.negative_raw.count() == 1


_ALPHABET = "az~éÿĀ中퟿�\U00010000\U0001f600"


@pytest.mark.parametrize("seed", [1, 2])
def test_driver_ranking_matches_extend_dictionary(spark, seed):
    rng = random.Random(seed)

    def term():
        cls = rng.choice(["<urn:ev", "<urn:x"])
        return cls + "".join(rng.choice(_ALPHABET) for _ in range(3)) + ">"

    old = sorted({term() for _ in range(20)})
    dictionary = spark.createDataFrame(
        [(i + 5, t) for i, t in enumerate(old)] + [(-3, "<urn:ev-seed>")],
        "id long, term string",
    )
    new = sorted({term() for _ in range(40)} - set(old))
    parsed = spark.createDataFrame(
        [(t, t, t) for t in new], "s_term string, p_term string, o_term string"
    )
    for neg in (F.col("term").startswith("<urn:x"), NEG, None):
        caches: list = []
        want = sorted(
            map(
                tuple,
                extend_dictionary(
                    dictionary, parsed, negative_when=neg, caches=caches
                ).collect(),
            )
        )
        for c in caches:
            c.unpersist()
        assert sorted(rank_new_terms(dictionary, new, neg)) == want


def test_readded_and_deleted_rows_roundtrip_save_open(spark, saved, tmp_path):
    eng = opened(spark, saved)
    alice = (f"<{EX}a>", f"<{EX}name>", '"Alice"')
    bob = (f"<{EX}b>", f"<{EX}name>", '"Bob"')
    fresh = (f"<{EX}z>", f"<{EX}knows>", f"<{EX}a>")
    kept = (f"<{EX}y>", f"<{EX}knows>", f"<{EX}a>")
    eng.update(f"DELETE DATA {{ {data([alice, bob])} }}")
    eng.update(f"INSERT DATA {{ {data([alice, fresh, kept])} }}")
    eng.update(f"DELETE DATA {{ {data([fresh])} }}")
    model = (set(saved[2]) - {bob}) | {kept}
    assert decoded(eng) == model
    eng.save(str(tmp_path / "s"), dict_path=str(tmp_path / "d"))
    back = Engine(spark).open(
        str(tmp_path / "s"), layout="sign_split", dict_path=str(tmp_path / "d")
    )
    assert decoded(back) == model


@pytest.mark.parametrize("local_rows", [4096, 2])
def test_updates_leave_only_the_live_delta_persisted(
    spark, saved, monkeypatch, local_rows
):
    """N updates that add terms, delete rows and rewrite by pattern
    leave no persisted relation behind except the live delta — none at
    all while it fits a local relation, one checkpoint once it does
    not."""
    from rdfproject_msc_spark import store as store_mod
    from rdfproject_msc_spark.sparql import update as update_mod

    monkeypatch.setattr(store_mod, "LOCAL_DELTA_ROWS", local_rows)
    monkeypatch.setattr(update_mod, "LOCAL_DELTA_ROWS", local_rows)
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    eng = opened(spark, saved)
    before = persisted()
    model = set(saved[2])
    for i in range(4):
        rows = [(f"<{EX}p{i}>", f"<{EX}knows>", f"<{EX}q{i}-{k}>")
                for k in range(3)]
        eng.update(f"INSERT DATA {{ {data(rows)} }}")
        model |= set(rows)
        eng.update(f"DELETE DATA {{ {data(rows[:1])} }}")
        model -= set(rows[:1])
        eng.update(
            f"DELETE {{ ?s <{EX}knows> <{EX}q{i}-1> }} "
            f"INSERT {{ ?s <{EX}met> <{EX}q{i}-1> }} "
            f"WHERE {{ ?s <{EX}knows> <{EX}q{i}-1> }}"
        )
        model -= {(f"<{EX}p{i}>", f"<{EX}knows>", f"<{EX}q{i}-1>")}
        model |= {(f"<{EX}p{i}>", f"<{EX}met>", f"<{EX}q{i}-1>")}
    delta = eng.store._delta
    live = (
        {delta.rel._jdf.queryExecution().analyzed().rdd().id()}
        if delta.rel is not None
        else set()
    )
    assert (delta.rel is not None) == (local_rows == 2)
    assert persisted() - before == live
    assert decoded(eng) == model
    eng.vacuum()  # folds the delta into one checkpoint and releases it
    assert not live & persisted()
    assert decoded(eng) == model


def test_ingested_dictionary_keeps_str_values_through_inserts(spark, tmp_path):
    """An INSERT DATA that appends terms extends the ingest's STR-value
    relation by the new terms alone: value filters over the new term
    work, and the attach reads the extended relation instead of deriving
    STR over the whole dictionary."""
    (tmp_path / "g.nt").write_text(NT)
    eng = Engine(spark).load_triples(str(tmp_path / "g.nt"), fmt="nt")
    eng.update(f'INSERT DATA {{ <{EX}d> <{EX}name> "Dana" }}')
    sv = eng.dictionary.sv_df
    assert sv is not None
    new = sv.filter(F.col("term") == '"Dana"').collect()
    assert [r["__sv"] for r in new] == ["Dana"]
    q = (
        f'SELECT ?s WHERE {{ ?s <{EX}name> ?n . FILTER(CONTAINS(STR(?n), "ana")) }}'
    )
    got = [r["s"] for r in eng.sparql(q, decode=True).collect()]
    assert got == [f"<{EX}d>"]
    eng.close()
