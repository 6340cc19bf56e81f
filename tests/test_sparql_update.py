"""SPARQL 1.1 Update (sparql/update.py): copy-on-write INSERT DATA /
DELETE DATA / DELETE WHERE / DELETE-INSERT-WHERE / CLEAR over the
Engine, with DuckDB set-algebra twins over the same initial graph."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sparql.parser import SparqlSyntaxError

EX = "http://ex.org/"

NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}c> <{EX}knows> <{EX}a> .
<{EX}a> <{EX}name> "Alice" .
<{EX}b> <{EX}name> "Bob" .
"""

# the same graph as a DuckDB VALUES relation (term-level twin)
CTE = (
    "t(s, p, o) AS (VALUES "
    f"('<{EX}a>', '<{EX}knows>', '<{EX}b>'), "
    f"('<{EX}b>', '<{EX}knows>', '<{EX}c>'), "
    f"('<{EX}c>', '<{EX}knows>', '<{EX}a>'), "
    f"('<{EX}a>', '<{EX}name>', '\"Alice\"'), "
    f"('<{EX}b>', '<{EX}name>', '\"Bob\"'))"
)


@pytest.fixture(scope="module")
def nt_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("upd") / "data.nt"
    p.write_text(NT)
    return str(p)


def make_engine(spark, nt_path, **kw) -> Engine:
    kw.setdefault("layout", "sign_split")
    kw.setdefault("cluster_by", "s")
    return Engine(spark).load_triples(nt_path, fmt="nt", **kw)


def decoded_set(eng: Engine) -> list[tuple]:
    return sorted(map(tuple, eng.decode(eng.store.df).collect()))


def duck_set(sql: str) -> list[tuple]:
    return sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))


def test_insert_data_new_terms_and_set_semantics(spark, nt_path):
    eng = make_engine(spark, nt_path)
    n_dict0 = eng.dictionary.df.count()
    stmt = (
        f"INSERT DATA {{ <{EX}d> <{EX}knows> <{EX}a> . "
        f"<{EX}a> <{EX}knows> <{EX}b> }}"  # second triple already present
    )
    eng.update(stmt)
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE} SELECT * FROM t UNION "
        f"VALUES ('<{EX}d>', '<{EX}knows>', '<{EX}a>') ORDER BY 1,2,3"
    )
    # exactly one new term (<d>); ids stay valid (unique, non-zero)
    assert eng.dictionary.df.count() == n_dict0 + 1
    eng.dictionary.validate()
    # idempotence: re-running the same INSERT DATA changes nothing
    before = decoded_set(eng)
    eng.update(stmt)
    assert decoded_set(eng) == before
    # the views re-registered over the updated snapshot
    assert (
        eng.sql("SELECT count(*) AS n FROM table").first()["n"]
        == len(before)
    )


def test_delete_data_including_unknown_term_noop(spark, nt_path):
    eng = make_engine(spark, nt_path)
    eng.update(
        f'DELETE DATA {{ <{EX}a> <{EX}name> "Alice" . '
        f"<{EX}zz> <{EX}knows> <{EX}a> }}"  # zz unknown → no-op row
    )
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE} SELECT * FROM t "
        f"EXCEPT VALUES ('<{EX}a>', '<{EX}name>', '\"Alice\"') ORDER BY 1,2,3"
    )


def test_delete_where_duckdb_twin(spark, nt_path):
    eng = make_engine(spark, nt_path)
    eng.update(f"DELETE WHERE {{ ?s <{EX}knows> ?x }}")
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE} SELECT * FROM t WHERE p <> '<{EX}knows>' ORDER BY 1,2,3"
    )


def test_modify_rename_predicate_duckdb_twin(spark, nt_path):
    eng = make_engine(spark, nt_path)
    eng.update(
        f"PREFIX ex: <{EX}> "
        "DELETE { ?s ex:knows ?o } INSERT { ?o ex:knownBy ?s } "
        "WHERE { ?s ex:knows ?o }"
    )
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE}, m AS (SELECT s, o FROM t WHERE p = '<{EX}knows>') "
        f"SELECT * FROM t EXCEPT SELECT s, '<{EX}knows>', o FROM m "
        f"UNION SELECT o, '<{EX}knownBy>', s FROM m ORDER BY 1,2,3"
    )
    # the updated graph is queryable through the SPARQL read path
    res = eng.sparql(
        f"PREFIX ex: <{EX}> SELECT ?x WHERE {{ ?x ex:knownBy ex:a }}",
        decode=True,
    )
    assert [r["x"] for r in res.collect()] == [f"<{EX}b>"]


def test_modify_optional_unbound_drops_instantiation(spark, nt_path):
    """§3.1.3: a solution leaving a template variable unbound produces
    no instantiation — c knows a but a has no name… wait, a HAS a name;
    c's name is missing, so ?s=b (knows c) instantiates nothing."""
    eng = make_engine(spark, nt_path)
    eng.update(
        f"PREFIX ex: <{EX}> "
        "INSERT { ?s ex:friendName ?n } "
        "WHERE { ?s ex:knows ?o OPTIONAL { ?o ex:name ?n } }"
    )
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE}, m AS ("
        f"  SELECT k.s, n.o AS n FROM t k "
        f"  JOIN t n ON n.s = k.o AND n.p = '<{EX}name>' "
        f"  WHERE k.p = '<{EX}knows>') "
        f"SELECT * FROM t UNION SELECT s, '<{EX}friendName>', n FROM m "
        "ORDER BY 1,2,3"
    )


def test_insert_delete_same_triple_delete_first(spark, nt_path):
    """DELETE then INSERT over the same solutions: re-inserting a
    just-deleted triple keeps it (§3.1.3 application order)."""
    eng = make_engine(spark, nt_path)
    before = decoded_set(eng)
    eng.update(
        f"PREFIX ex: <{EX}> "
        "DELETE { ?s ex:knows ?o } INSERT { ?s ex:knows ?o } "
        "WHERE { ?s ex:knows ?o }"
    )
    assert decoded_set(eng) == before


def test_sequence_of_operations_in_order(spark, nt_path):
    eng = make_engine(spark, nt_path)
    eng.update(
        f"PREFIX ex: <{EX}> "
        "INSERT DATA { ex:d ex:knows ex:a } ; "
        "DELETE WHERE { ?s ex:name ?n } ; "
        "DELETE DATA { ex:d ex:knows ex:a }"
    )
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE} SELECT * FROM t WHERE p = '<{EX}knows>' ORDER BY 1,2,3"
    )


def test_insert_data_named_graph_and_disjointness_probe(spark, nt_path):
    eng = make_engine(spark, nt_path)
    # no quads yet → INSERT DATA GRAPH creates the quad relation;
    # an empty store is vacuously disjoint but starts False (unproven)
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}g1> {{ <{EX}a> <{EX}knows> <{EX}c> }} "
        f"GRAPH <{EX}g2> {{ <{EX}b> <{EX}knows> <{EX}a> }} }}"
    )
    assert eng.store.has_quads
    got = sorted(
        map(tuple, eng.decode(eng.store.quads).collect())
    )
    assert got == sorted(
        [
            (f"<{EX}g1>", f"<{EX}a>", f"<{EX}knows>", f"<{EX}c>"),
            (f"<{EX}g2>", f"<{EX}b>", f"<{EX}knows>", f"<{EX}a>"),
        ]
    )
    # GRAPH query over the inserted graph
    res = eng.sparql(
        f"SELECT ?o WHERE {{ GRAPH <{EX}g1> {{ <{EX}a> <{EX}knows> ?o }} }}",
        decode=True,
    )
    assert [r["o"] for r in res.collect()] == [f"<{EX}c>"]
    # a claimed-disjoint store keeps the proof when the delta preserves
    # it, and drops to False when the same triple lands in two graphs
    eng.store.graphs_disjoint = True
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}g1> {{ <{EX}c> <{EX}knows> <{EX}b> }} }}"
    )
    assert eng.store.graphs_disjoint is True
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}g2> {{ <{EX}c> <{EX}knows> <{EX}b> }} }}"
    )
    assert eng.store.graphs_disjoint is False
    # DELETE DATA with a GRAPH block removes only that graph's quad
    eng.update(
        f"DELETE DATA {{ GRAPH <{EX}g2> {{ <{EX}c> <{EX}knows> <{EX}b> }} }}"
    )
    left = eng.decode(eng.store.quads).filter(
        F.col("s") == f"<{EX}c>"
    )
    assert [r["g"] for r in left.collect()] == [f"<{EX}g1>"]


def test_clear_variants(spark, nt_path):
    eng = make_engine(spark, nt_path)
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}g1> {{ <{EX}a> <{EX}knows> <{EX}c> }} }}"
    )
    eng.update(f"CLEAR GRAPH <{EX}g1>")
    assert eng.store.quads.count() == 0
    assert eng.store.df.count() == 5  # default graph untouched
    eng.update("CLEAR DEFAULT")
    assert eng.store.df.count() == 0
    # CLEAR of a graph that never existed: no-op, not an error
    eng.update(f"CLEAR GRAPH <{EX}nope>")


def test_negative_when_rule_classes_new_terms(spark, nt_path):
    """New INSERTed terms follow the engine's ingest-time sign-class
    rule: event terms route to the Negative table."""
    eng = make_engine(
        spark, nt_path, negative_when="term LIKE '<urn:event_%'"
    )
    eng.update(
        f"INSERT DATA {{ <urn:event_9> <{EX}knows> <{EX}a> }}"
    )
    ids = eng.dictionary.encode_terms(["<urn:event_9>"])
    assert ids["<urn:event_9>"] < 0
    neg = eng.sql("SELECT count(*) AS n FROM Negative").first()["n"]
    assert neg == 1


def test_ground_insert_plan_is_broadcast_only(spark, nt_path, tmp_path):
    """After a ground INSERT+DELETE over a PERSISTED store, the updated
    relation's plan carries no exchange and no join: the presence probe
    ran once, at update time, and the small delta applies as a hash-set
    filter over the scan plus a local union — the store is scanned,
    never shuffled, and nothing is broadcast per read."""
    eng = make_engine(spark, nt_path)
    eng.save(str(tmp_path / "store"), dict_path=str(tmp_path / "dict"))
    eng2 = Engine(spark).open(
        str(tmp_path / "store"),
        layout="sign_split",
        dict_path=str(tmp_path / "dict"),
    )
    eng2.update(
        f"INSERT DATA {{ <{EX}d> <{EX}knows> <{EX}a> }} ; "
        f'DELETE DATA {{ <{EX}a> <{EX}name> "Alice" }}'
    )
    plan = eng2.store.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "LocalTableScan" in plan
    assert len(decoded_set(eng2)) == 5


@pytest.mark.parametrize(
    "stmt, msg",
    [
        (f"INSERT DATA {{ ?s <{EX}p> <{EX}o> }}", "ground"),
        (f"DELETE DATA {{ _:b <{EX}p> <{EX}o> }}", "blank nodes"),
        (
            f"DELETE {{ _:b <{EX}p> ?o }} WHERE {{ ?s <{EX}p> ?o }}",
            "blank nodes",
        ),
        (f"INSERT DATA {{ <{EX}s> _:b <{EX}o> }}", "predicate"),
        ("CREATE GRAPH ?g", "constant IRI"),
        (f"DROP GRAPH ?g", "constant IRI"),
        (f"COPY ?g TO <{EX}g>", "constant graph"),
        (f"DELETE {{ ?s <{EX}p>+ ?o }} WHERE {{ ?s <{EX}p> ?o }}", ""),
        (f"INSERT {{ ?s <{EX}p> ?o }}", "WHERE"),
        ("", "empty update"),
    ],
)
def test_rejects(spark, nt_path, stmt, msg):
    eng = make_engine(spark, nt_path)
    with pytest.raises(SparqlSyntaxError, match=msg):
        eng.update(stmt)


def test_update_localized_style(spark, sf_dir, tmp_path):
    """Updates over a reference-convention (localized) dictionary:
    ':local' constants and raw integer ids both resolve."""
    from rdfproject_msc_spark.sources.derived import (
        dictionary_df,
        triples_df,
    )

    triples_df(spark, sf_dir).write.mode("overwrite").csv(
        str(tmp_path / "triples"), sep=" "
    )
    dictionary_df(spark, sf_dir).write.mode("overwrite").csv(
        str(tmp_path / "dict"), sep="\t"
    )
    eng = Engine(spark).load_triples(
        str(tmp_path / "triples"),
        str(tmp_path / "dict"),
        layout="sign_split",
        cluster_by="s",
    )
    n0 = eng.store.df.count()
    # raw-id triple (the localized model's integer shorthand)
    eng.update("INSERT DATA { 91001 91002 91003 }")
    assert eng.store.df.count() == n0 + 1
    eng.update("DELETE DATA { 91001 91002 91003 }")
    assert eng.store.df.count() == n0
    # localized-term triple introducing a new local name
    eng.update("INSERT DATA { :upd_subject :upd_pred :upd_obj }")
    ids = eng.dictionary.encode_terms([":upd_subject", ":upd_pred", ":upd_obj"])
    assert all(v > 0 for v in ids.values())
    res = eng.sparql(
        "SELECT ?o WHERE { :upd_subject :upd_pred ?o }", decode=True
    )
    assert [r["o"] for r in res.collect()] == [":upd_obj"]


def test_update_save_open_roundtrip(spark, nt_path, tmp_path):
    """An updated snapshot persists: save() after update writes the
    post-update store AND the extended dictionary; a fresh open answers
    over the updated graph."""
    eng = make_engine(spark, nt_path)
    eng.update(
        f"INSERT DATA {{ <{EX}d> <{EX}knows> <{EX}a> }} ; "
        f"DELETE WHERE {{ ?s <{EX}name> ?n }}"
    )
    eng.save(str(tmp_path / "store"), dict_path=str(tmp_path / "dict"))
    eng2 = Engine(spark).open(
        str(tmp_path / "store"),
        layout="sign_split",
        dict_path=str(tmp_path / "dict"),
    )
    assert decoded_set(eng2) == duck_set(
        f"WITH {CTE} SELECT * FROM t WHERE p <> '<{EX}name>' "
        f"UNION VALUES ('<{EX}d>', '<{EX}knows>', '<{EX}a>') ORDER BY 1,2,3"
    )
    res = eng2.sparql(
        f"SELECT ?o WHERE {{ <{EX}d> <{EX}knows> ?o }}", decode=True
    )
    assert [r["o"] for r in res.collect()] == [f"<{EX}a>"]


def test_cli_update(spark, nt_path, tmp_path):
    """CLI loop: ingest → update (copy-on-write re-persist) → sparql
    over the updated snapshot."""
    from rdfproject_msc_spark.cli import main

    s1, d1 = str(tmp_path / "s1"), str(tmp_path / "d1")
    assert main(["ingest", "--nt", nt_path, "--out", s1, "--dict-out", d1]) == 0
    s2, d2 = str(tmp_path / "s2"), str(tmp_path / "d2")
    rc = main(
        ["update", "--store", s1, "--dict", d1, "--out", s2,
         "--dict-out", d2, "--request",
         f"INSERT DATA {{ <{EX}d> <{EX}knows> <{EX}a> }} ; "
         f"DELETE WHERE {{ ?s <{EX}name> ?n }}"]
    )
    assert rc == 0
    eng = Engine(spark).open(s2, layout="sign_split", dict_path=d2)
    got = decoded_set(eng)
    assert (f"<{EX}d>", f"<{EX}knows>", f"<{EX}a>") in got
    assert not any(p == f"<{EX}name>" for _, p, _ in got)
    # same-path guards
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="differ"):
        main(["update", "--store", s1, "--dict", d1, "--out", s2,
              "--dict-out", d1, "--request", "CLEAR DEFAULT"])


# ---- property fuzz: random op sequences vs a Python set model ----------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from tests._budget import examples

_SUBJ = [f"<urn:t{i}>" for i in range(4)]
_PRED = [f"<urn:p{i}>" for i in range(3)]
_UNIVERSE = [(s, p, o) for s in _SUBJ for p in _PRED for o in _SUBJ]

_triple = st.sampled_from(_UNIVERSE)
_triples = st.lists(_triple, min_size=1, max_size=5)
_slot = st.one_of(st.sampled_from(_SUBJ), st.none())  # None = variable
_op = st.one_of(
    st.tuples(st.just("insert"), _triples),
    st.tuples(st.just("delete"), _triples),
    st.tuples(
        st.just("delete_where"),
        st.tuples(_slot, st.sampled_from(_PRED), _slot),
    ),
    st.tuples(
        st.just("rename"), st.sampled_from(_PRED), st.sampled_from(_PRED)
    ),
)


@pytest.fixture(scope="module")
def fuzz_base(spark, tmp_path_factory):
    """One ingest shared by every example: the FULL universe (so every
    constant resolves in the dictionary forever); each example replays
    its op sequence from this pristine engine state."""
    p = tmp_path_factory.mktemp("updfuzz") / "u.nt"
    p.write_text("".join(f"{s} {pr} {o} .\n" for s, pr, o in _UNIVERSE))
    return str(p)


@settings(
    max_examples=examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=4))
def test_update_sequences_match_set_model(spark, fuzz_base, ops):
    """Any sequence of INSERT DATA / DELETE DATA / DELETE WHERE /
    DELETE-INSERT rename leaves the engine's graph equal to the plain
    Python set model of SPARQL update semantics."""
    eng = make_engine(spark, fuzz_base)
    model = set(_UNIVERSE)
    for op in ops:
        if op[0] == "insert":
            stmt = " . ".join(f"{s} {p} {o}" for s, p, o in op[1])
            eng.update(f"INSERT DATA {{ {stmt} }}")
            model |= set(op[1])
        elif op[0] == "delete":
            stmt = " . ".join(f"{s} {p} {o}" for s, p, o in op[1])
            eng.update(f"DELETE DATA {{ {stmt} }}")
            model -= set(op[1])
        elif op[0] == "delete_where":
            s_slot, pred, o_slot = op[1]
            s_tok = s_slot if s_slot else "?s"
            o_tok = o_slot if o_slot else "?o"
            eng.update(f"DELETE WHERE {{ {s_tok} {pred} {o_tok} }}")
            model = {
                (s, p, o)
                for s, p, o in model
                if not (
                    p == pred
                    and (s_slot is None or s == s_slot)
                    and (o_slot is None or o == o_slot)
                )
            }
        else:
            _, p_from, p_to = op
            eng.update(
                f"DELETE {{ ?s {p_from} ?o }} INSERT {{ ?s {p_to} ?o }} "
                f"WHERE {{ ?s {p_from} ?o }}"
            )
            moved = {(s, p, o) for s, p, o in model if p == p_from}
            model -= moved
            model |= {(s, p_to, o) for s, _, o in moved}
    assert set(decoded_set(eng)) == model


def test_delete_where_graph_blocks(spark, nt_path):
    """DELETE WHERE over named graphs: a variable-graph pattern deletes
    matched quads from EVERY graph; a constant-graph pattern from one."""
    eng = make_engine(spark, nt_path)
    eng.update(
        f"INSERT DATA {{ "
        f"GRAPH <{EX}g1> {{ <{EX}a> <{EX}knows> <{EX}b> . "
        f"<{EX}a> <{EX}name> <{EX}b> }} "
        f"GRAPH <{EX}g2> {{ <{EX}a> <{EX}knows> <{EX}c> }} }}"
    )
    eng.update(f"DELETE WHERE {{ GRAPH ?g {{ ?s <{EX}knows> ?o }} }}")
    left = sorted(map(tuple, eng.decode(eng.store.quads).collect()))
    assert left == [(f"<{EX}g1>", f"<{EX}a>", f"<{EX}name>", f"<{EX}b>")]
    # the default graph is untouched by a GRAPH-only DELETE WHERE
    assert len(decoded_set(eng)) == 5
    # constant graph: only that graph's quad goes
    eng.update(
        f"DELETE WHERE {{ GRAPH <{EX}g1> {{ ?s <{EX}name> ?o }} }}"
    )
    assert eng.store.quads.count() == 0


def test_modify_graph_templates(spark, nt_path):
    """Templates with GRAPH blocks: archive default-graph matches into
    a named graph chosen per solution (variable g) or fixed (constant),
    deleting them from the default graph."""
    eng = make_engine(spark, nt_path)
    # seed one named graph so the quad relation exists for the variable case
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}arch> {{ <{EX}z> <{EX}zz> <{EX}z> }} }}"
    )
    # constant-graph INSERT template: move every knows edge into <arch>
    eng.update(
        f"PREFIX ex: <{EX}> "
        "DELETE { ?s ex:knows ?o } "
        f"INSERT {{ GRAPH <{EX}arch> {{ ?s ex:knows ?o }} }} "
        "WHERE { ?s ex:knows ?o }"
    )
    assert decoded_set(eng) == duck_set(
        f"WITH {CTE} SELECT * FROM t WHERE p <> '<{EX}knows>' ORDER BY 1,2,3"
    )
    quads = sorted(map(tuple, eng.decode(eng.store.quads).collect()))
    assert (f"<{EX}arch>", f"<{EX}a>", f"<{EX}knows>", f"<{EX}b>") in quads
    assert len(quads) == 4  # 3 moved edges + the seed
    # variable-graph DELETE template: pull the a-edge back out of the
    # graph bound by the WHERE
    eng.update(
        f"PREFIX ex: <{EX}> "
        "DELETE { GRAPH ?g { ex:a ex:knows ?o } } "
        "INSERT { ex:a ex:knows ?o } "
        "WHERE { GRAPH ?g { ex:a ex:knows ?o } }"
    )
    quads2 = sorted(map(tuple, eng.decode(eng.store.quads).collect()))
    assert not any(s == f"<{EX}a>" for _, s, _, _ in quads2)
    assert (f"<{EX}a>", f"<{EX}knows>", f"<{EX}b>") in decoded_set(eng)


_GRAPHS = ["<urn:g1>", "<urn:g2>"]
_gsrc = st.sampled_from(["default"] + _GRAPHS)
_gop = st.one_of(
    st.tuples(st.just("insert_g"), st.sampled_from(_GRAPHS), _triples),
    st.tuples(st.just("delete_g"), st.sampled_from(_GRAPHS), _triples),
    st.tuples(
        st.just("delete_where_g"),
        st.tuples(_slot, st.sampled_from(_PRED), _slot),
    ),
    st.tuples(
        st.just("archive"),
        st.sampled_from(_GRAPHS),
        st.sampled_from(_PRED),
    ),
    st.tuples(st.just("drop"), st.sampled_from(_GRAPHS)),
    st.tuples(
        st.just("gm"),
        st.sampled_from(["copy", "move", "add"]),
        _gsrc,
        _gsrc,
    ),
)


@settings(
    max_examples=examples(6),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_gop, min_size=1, max_size=3))
def test_named_graph_update_sequences_match_set_model(
    spark, fuzz_base, ops
):
    """Named-graph op sequences (GRAPH INSERT/DELETE DATA, variable-
    graph DELETE WHERE, archive-into-graph modify) equal the Python
    model of one set per graph."""
    eng = make_engine(spark, fuzz_base)
    seed = (_SUBJ[0], _PRED[0], _SUBJ[0])
    eng.update(
        f"INSERT DATA {{ GRAPH {_GRAPHS[0]} {{ {' '.join(seed)} }} "
        f"GRAPH {_GRAPHS[1]} {{ {' '.join(seed)} }} }}"
    )
    default = set(_UNIVERSE)
    graphs = {g: {seed} for g in _GRAPHS}
    for op in ops:
        if op[0] == "insert_g":
            _, g, ts = op
            stmt = " . ".join(f"{s} {p} {o}" for s, p, o in ts)
            eng.update(f"INSERT DATA {{ GRAPH {g} {{ {stmt} }} }}")
            graphs[g] |= set(ts)
        elif op[0] == "delete_g":
            _, g, ts = op
            stmt = " . ".join(f"{s} {p} {o}" for s, p, o in ts)
            eng.update(f"DELETE DATA {{ GRAPH {g} {{ {stmt} }} }}")
            graphs[g] -= set(ts)
        elif op[0] == "delete_where_g":
            s_slot, pred, o_slot = op[1]
            s_tok = s_slot if s_slot else "?s"
            o_tok = o_slot if o_slot else "?o"
            eng.update(
                f"DELETE WHERE {{ GRAPH ?g {{ {s_tok} {pred} {o_tok} }} }}"
            )
            for g in graphs:
                graphs[g] = {
                    (s, p, o)
                    for s, p, o in graphs[g]
                    if not (
                        p == pred
                        and (s_slot is None or s == s_slot)
                        and (o_slot is None or o == o_slot)
                    )
                }
        elif op[0] == "archive":  # default-graph pred edges into g
            _, g, pred = op
            eng.update(
                f"DELETE {{ ?s {pred} ?o }} "
                f"INSERT {{ GRAPH {g} {{ ?s {pred} ?o }} }} "
                f"WHERE {{ ?s {pred} ?o }}"
            )
            moved = {(s, p, o) for s, p, o in default if p == pred}
            default -= moved
            graphs[g] |= moved
        elif op[0] == "drop":
            _, g = op
            eng.update(f"DROP SILENT GRAPH {g}")
            graphs[g] = set()
        else:  # gm: COPY/MOVE/ADD with DEFAULT or named on either side
            _, kind, src, dst = op
            s_tok = "DEFAULT" if src == "default" else f"GRAPH {src}"
            d_tok = "DEFAULT" if dst == "default" else f"GRAPH {dst}"
            eng.update(f"{kind.upper()} SILENT {s_tok} TO {d_tok}")
            src_set = default if src == "default" else graphs[src]
            absent = src != "default" and not src_set
            if not absent and src != dst:
                data = set(src_set)
                if kind == "add":
                    if dst == "default":
                        default |= data
                    else:
                        graphs[dst] |= data
                else:  # copy / move replace the destination
                    if dst == "default":
                        default = data
                    else:
                        graphs[dst] = data
                    if kind == "move":
                        if src == "default":
                            default = set()
                        else:
                            graphs[src] = set()
    assert set(decoded_set(eng)) == default
    got_quads = {
        (r["g"], r["s"], r["p"], r["o"])
        for r in eng.decode(eng.store.quads).collect()
    }
    want_quads = {
        (g, s, p, o) for g, ts in graphs.items() for s, p, o in ts
    }
    assert got_quads == want_quads


def test_insert_data_blank_nodes_mint_deterministically(spark, nt_path):
    """§3.1.1 blank nodes in INSERT DATA (r11): one node per label per
    operation (the same label co-refers within it, distinct labels
    stay distinct), deterministic across replays — re-INSERTing the
    same payload is a set-semantics no-op."""
    eng = make_engine(spark, nt_path)
    stmt = (
        f"INSERT DATA {{ _:b <{EX}knows> <{EX}a> . "
        f'_:b <{EX}name> "Fresh" . _:c <{EX}knows> _:b }}'
    )
    eng.update(stmt)
    got = decoded_set(eng)
    assert len(got) == 8  # 5 base + 3 minted
    (b,) = {s for s, p, o in got if o == '"Fresh"'}
    assert b.startswith("_:u")
    assert (b, f"<{EX}knows>", f"<{EX}a>") in got  # _:b co-refers
    c_rows = [
        s for s, p, o in got if o == b and p == f"<{EX}knows>"
    ]
    assert len(c_rows) == 1
    assert c_rows[0].startswith("_:u") and c_rows[0] != b  # _:c fresh
    eng.update(stmt)  # replay re-derives the SAME nodes → no-op
    assert decoded_set(eng) == got


def test_insert_template_blank_nodes_fresh_per_solution(spark, nt_path):
    """§3.1.3.2 (r11): an INSERT-template blank node mints one FRESH
    node per solution, co-referring across that solution's template
    triples; the dictionary extension persists; replaying the same
    statement over unchanged solutions is a set-semantics no-op."""
    eng = make_engine(spark, nt_path)
    stmt = (
        f"INSERT {{ ?s <{EX}via> _:n . _:n <{EX}tag> ?o }} "
        f"WHERE {{ ?s <{EX}knows> ?o }}"
    )
    eng.update(stmt)
    got = decoded_set(eng)
    vias = {(s, o) for s, p, o in got if p == f"<{EX}via>"}
    tags = {(s, o) for s, p, o in got if p == f"<{EX}tag>"}
    assert len(vias) == 3 and len(tags) == 3  # one per solution
    nodes = {o for _, o in vias}
    assert len(nodes) == 3  # DISTINCT node per solution
    assert all(n.startswith("_:u") for n in nodes)
    # co-reference: each minted node carries exactly one tag edge
    for node in nodes:
        assert len([o for s, o in tags if s == node]) == 1
    eng.update(stmt)  # unchanged solutions → same keys → no-op
    assert decoded_set(eng) == got


def test_graph_management_ops_match_duckdb_set_algebra(spark, nt_path):
    """CREATE/DROP/COPY/MOVE/ADD (§3.2.3–3.2.7, r11): after each op the
    quad relation equals a DuckDB set-algebra twin computed from the
    PRE-state — graphs are rows, so the ops are filters, relabels, and
    set-unions."""
    eng = make_engine(spark, nt_path)
    eng.update(
        f"INSERT DATA {{ "
        f"GRAPH <{EX}g1> {{ <{EX}a> <{EX}knows> <{EX}b> . "
        f"<{EX}b> <{EX}knows> <{EX}c> }} "
        f"GRAPH <{EX}g2> {{ <{EX}c> <{EX}knows> <{EX}a> }} }}"
    )

    def quads():
        return sorted(map(tuple, eng.decode(eng.store.quads).collect()))

    state = quads()

    def vals(rows):
        return (
            "q(g, s, p, o) AS (VALUES "
            + ", ".join(
                f"('{g}', '{s}', '{p}', '{o}')" for g, s, p, o in rows
            )
            + ")"
        )

    def step(stmt, algebra):
        nonlocal state
        eng.update(stmt)
        want = duck_set(f"WITH {vals(state)} {algebra}")
        assert quads() == want
        state = want

    g1, g2, g3 = f"<{EX}g1>", f"<{EX}g2>", f"<{EX}g3>"
    # CREATE on a fresh label: validated no-op (graphs are rows)
    step(f"CREATE GRAPH <{EX}fresh>", "SELECT g, s, p, o FROM q")
    # COPY replaces the destination graph with the source rows
    step(
        f"COPY GRAPH {g1} TO GRAPH {g2}",
        f"SELECT g, s, p, o FROM q WHERE g <> '{g2}' "
        f"UNION SELECT '{g2}', s, p, o FROM q WHERE g = '{g1}'",
    )
    # ADD set-unions into a brand-NEW graph label (dictionary extends)
    step(
        f"ADD GRAPH {g2} TO GRAPH {g3}",
        f"SELECT g, s, p, o FROM q "
        f"UNION SELECT '{g3}', s, p, o FROM q WHERE g = '{g2}'",
    )
    # MOVE relabels the source's rows and retires the source graph
    step(
        f"MOVE GRAPH {g3} TO GRAPH {g1}",
        f"SELECT g, s, p, o FROM q WHERE g NOT IN ('{g3}', '{g1}') "
        f"UNION SELECT '{g1}', s, p, o FROM q WHERE g = '{g3}'",
    )
    # DROP removes the graph's rows (CLEAR + label retirement)
    step(
        f"DROP GRAPH {g2}",
        f"SELECT g, s, p, o FROM q WHERE g <> '{g2}'",
    )
    # the default graph rode along untouched
    assert len(decoded_set(eng)) == 5


def test_graph_management_default_interplay(spark, nt_path):
    """COPY/MOVE/ADD with DEFAULT on either side: MOVE DEFAULT empties
    the default graph, ADD back restores it (set union), COPY over a
    dirty default REPLACES it, and same-graph forms are no-ops."""
    eng = make_engine(spark, nt_path)
    base = decoded_set(eng)
    arch = f"<{EX}arch>"
    eng.update(f"MOVE DEFAULT TO GRAPH {arch}")
    assert decoded_set(eng) == []
    got_q = sorted(map(tuple, eng.decode(eng.store.quads).collect()))
    assert got_q == sorted((arch, s, p, o) for s, p, o in base)
    eng.update(f"ADD GRAPH {arch} TO DEFAULT")
    assert decoded_set(eng) == base  # union into the emptied default
    eng.update("COPY DEFAULT TO DEFAULT")  # same graph: no-op
    assert decoded_set(eng) == base
    eng.update(f"INSERT DATA {{ <{EX}z> <{EX}knows> <{EX}a> }}")
    eng.update(f"COPY GRAPH {arch} TO DEFAULT")  # replace, not union
    assert decoded_set(eng) == base
    # the archive copy still answers GRAPH queries after the round trip
    got = sorted(
        r[0]
        for r in eng.sparql(
            f"SELECT ?s WHERE {{ GRAPH {arch} {{ ?s <{EX}name> ?o }} }}",
            decode=True,
        ).collect()
    )
    assert got == [f"<{EX}a>", f"<{EX}b>"]


def test_graph_management_errors_and_silent(spark, nt_path):
    """§3.2.3–3.2.7 SHOULD-error cases raise; SILENT turns each into a
    no-op; MOVE g TO g is a no-op, NOT a clear."""
    eng = make_engine(spark, nt_path)
    with pytest.raises(ValueError, match="does not exist"):
        eng.update(f"DROP GRAPH <{EX}nope>")
    eng.update(f"DROP SILENT GRAPH <{EX}nope>")  # no-op
    with pytest.raises(ValueError, match="source graph"):
        eng.update(f"COPY GRAPH <{EX}nope> TO DEFAULT")
    before = decoded_set(eng)
    eng.update(f"MOVE SILENT GRAPH <{EX}nope> TO DEFAULT")  # no-op
    assert decoded_set(eng) == before
    eng.update(
        f"INSERT DATA {{ GRAPH <{EX}g> {{ <{EX}a> <{EX}knows> <{EX}b> }} }}"
    )
    with pytest.raises(ValueError, match="already"):
        eng.update(f"CREATE GRAPH <{EX}g>")
    eng.update(f"CREATE SILENT GRAPH <{EX}g>")  # no-op
    q0 = sorted(map(tuple, eng.decode(eng.store.quads).collect()))
    eng.update(f"MOVE GRAPH <{EX}g> TO GRAPH <{EX}g>")
    assert sorted(map(tuple, eng.decode(eng.store.quads).collect())) == q0


def test_cli_update_quads_guard(spark, nt_path, tmp_path):
    """An update that leaves named graphs behind requires --quads-out —
    silently dropping the quad relation from the snapshot would lose
    data."""
    from rdfproject_msc_spark.cli import main

    s1, d1 = str(tmp_path / "s1"), str(tmp_path / "d1")
    assert main(["ingest", "--nt", nt_path, "--out", s1, "--dict-out", d1]) == 0
    with pytest.raises(SystemExit, match="quads-out"):
        main(
            ["update", "--store", s1, "--dict", d1,
             "--out", str(tmp_path / "s2"), "--dict-out", str(tmp_path / "d2"),
             "--request",
             f"INSERT DATA {{ GRAPH <{EX}g> {{ <{EX}a> <{EX}p2> <{EX}b> }} }}"]
        )
    # with --quads-out the same request persists the graph
    rc = main(
        ["update", "--store", s1, "--dict", d1,
         "--out", str(tmp_path / "s3"), "--dict-out", str(tmp_path / "d3"),
         "--quads-out", str(tmp_path / "q3"),
         "--request",
         f"INSERT DATA {{ GRAPH <{EX}g> {{ <{EX}a> <{EX}p2> <{EX}b> }} }}"]
    )
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "q3")).count() == 1


def test_load_into_default_graph(spark, nt_path, tmp_path):
    """LOAD <file>: the document's triples set-union into the default
    graph, unseen terms append to the dictionary with existing ids
    untouched, and a re-LOAD is a no-op (set semantics)."""
    eng = make_engine(spark, nt_path)
    ids_before = {
        r["term"]: r["id"] for r in eng.dictionary.df.collect()
    }
    extra = tmp_path / "extra.nt"
    extra.write_text(
        f"<{EX}d> <{EX}knows> <{EX}a> .\n"
        f'<{EX}d> <{EX}name> "Dora" .\n'
        f"<{EX}a> <{EX}knows> <{EX}b> .\n"  # already present
    )
    eng.update(f"LOAD <file://{extra}>")
    got = decoded_set(eng)
    assert (f"<{EX}d>", f"<{EX}knows>", f"<{EX}a>") in got
    assert (f"<{EX}d>", f"<{EX}name>", '"Dora"') in got
    assert len(got) == 7  # 5 original + 2 genuinely new
    ids_after = {r["term"]: r["id"] for r in eng.dictionary.df.collect()}
    assert all(ids_after[t] == i for t, i in ids_before.items())
    eng.update(f"LOAD <file://{extra}>")  # idempotent
    assert len(decoded_set(eng)) == 7


def test_load_into_named_graph(spark, nt_path, tmp_path):
    """LOAD <file> INTO GRAPH g: triples land in the named graph (the
    label itself may be a new dictionary term) and answer GRAPH
    queries; the default graph is untouched."""
    eng = make_engine(spark, nt_path)
    extra = tmp_path / "g.nt"
    extra.write_text(f"<{EX}x> <{EX}knows> <{EX}y> .\n")
    eng.update(f"LOAD <file://{extra}> INTO GRAPH <{EX}g1>")
    assert len(decoded_set(eng)) == 5  # default graph untouched
    got = sorted(
        map(
            tuple,
            eng.sparql(
                f"SELECT ?s ?o WHERE "
                f"{{ GRAPH <{EX}g1> {{ ?s <{EX}knows> ?o . }} }}",
                decode=True,
            ).collect(),
        )
    )
    assert got == [(f"<{EX}x>", f"<{EX}y>")]
    # the graph label is a dictionary term
    assert eng.dictionary.lookup_terms([f"<{EX}g1>"])


def test_load_turtle_document(spark, nt_path, tmp_path):
    eng = make_engine(spark, nt_path)
    doc = tmp_path / "doc.ttl"
    doc.write_text(
        f"@prefix ex: <{EX}> .\n"
        "ex:t ex:knows ex:a ;\n"
        '     ex:name "Tess" .\n'
    )
    eng.update(f"LOAD <file://{doc}>")
    got = decoded_set(eng)
    assert (f"<{EX}t>", f"<{EX}name>", '"Tess"') in got
    assert len(got) == 7


def test_load_silent_and_failure_modes(spark, nt_path, tmp_path):
    """LOAD of an unreadable document raises; LOAD SILENT is a no-op
    (§3.1.4) and later operations in the sequence still apply."""
    eng = make_engine(spark, nt_path)
    with pytest.raises(Exception):
        eng.update(f"LOAD <file://{tmp_path}/nope.nt>")
    eng.update(
        f"LOAD SILENT <file://{tmp_path}/nope.nt> ; "
        f"INSERT DATA {{ <{EX}z> <{EX}knows> <{EX}a> . }}"
    )
    got = decoded_set(eng)
    assert (f"<{EX}z>", f"<{EX}knows>", f"<{EX}a>") in got
    assert len(got) == 6


def test_load_silent_malformed_document_is_whole_noop(
    spark, nt_path, tmp_path
):
    """r10 ADVICE pin: SILENT must not change WHAT loads. A document
    with a malformed line fails as a WHOLE under both forms — §3.1.4's
    SILENT turns the failure into a no-op, never into a partial ingest
    of the well-formed lines."""
    eng = make_engine(spark, nt_path)
    bad = tmp_path / "bad.nt"
    bad.write_text(
        f"<{EX}ok> <{EX}knows> <{EX}a> .\n"
        "this line is not an N-Triple\n"
    )
    with pytest.raises(Exception):
        eng.update(f"LOAD <file://{bad}>")
    eng.update(
        f"LOAD SILENT <file://{bad}> ; "
        f"INSERT DATA {{ <{EX}z> <{EX}knows> <{EX}a> . }}"
    )
    got = decoded_set(eng)
    assert (f"<{EX}z>", f"<{EX}knows>", f"<{EX}a>") in got
    # the well-formed line did NOT partially ingest under either form
    assert not any(s == f"<{EX}ok>" for s, _, _ in got)
    assert len(got) == 6


def test_load_rejects_dataset_formats_and_var_graph(spark, nt_path, tmp_path):
    eng = make_engine(spark, nt_path)
    with pytest.raises(SparqlSyntaxError, match="TRIPLE document"):
        eng.update(f"LOAD <file://{tmp_path}/d.nq>")
    with pytest.raises(SparqlSyntaxError, match="constant IRI"):
        eng.update(f"LOAD <file://{tmp_path}/d.nt> INTO GRAPH ?g")


def test_load_review_findings(spark, nt_path, tmp_path):
    """Round-10 review pins: (1) a ';' glued to the INTO GRAPH IRI is
    the statement separator, not part of the graph term; (2) LOAD
    deduplicates the document (an RDF document is a SET); (4) LOAD on
    a localized-convention store rejects didactically instead of
    silently splitting resources into two term conventions."""
    eng = make_engine(spark, nt_path)
    extra = tmp_path / "dup.nt"
    extra.write_text(
        f"<{EX}d> <{EX}knows> <{EX}a> .\n"
        f"<{EX}d> <{EX}knows> <{EX}a> .\n"  # intra-document duplicate
    )
    # (1): the separator parses as a separator — both ops apply, and
    # the graph term is exactly <urn:g> (no trailing ';')
    eng.update(
        f"LOAD <file://{extra}> INTO GRAPH <{EX}g> ; "
        f"INSERT DATA {{ <{EX}z> <{EX}knows> <{EX}a> . }}"
    )
    assert eng.dictionary.lookup_terms([f"<{EX}g>"])
    assert eng.dictionary.lookup_terms([f"<{EX}g>;"]) == {}
    got = sorted(
        map(
            tuple,
            eng.sparql(
                f"SELECT ?s ?o WHERE "
                f"{{ GRAPH <{EX}g> {{ ?s <{EX}knows> ?o . }} }}",
                decode=True,
            ).collect(),
        )
    )
    # (2): the duplicated statement landed ONCE
    assert got == [(f"<{EX}d>", f"<{EX}a>")]
    # (2) default graph too
    eng2 = make_engine(spark, nt_path)
    eng2.update(f"LOAD <file://{extra}>")
    assert (
        eng2.store.df.count() == 6  # 5 original + 1 (deduped) new
    )
    # (4): localized stores reject
    eng3 = make_engine(spark, nt_path)
    eng3.term_style = "localized"
    with pytest.raises(SparqlSyntaxError, match="localized"):
        eng3.update(f"LOAD <file://{extra}>")
    eng4 = Engine(spark)
    eng4.store = eng3.store
    eng4.dictionary = None
    with pytest.raises(SparqlSyntaxError, match="dictionary"):
        eng4.update(f"LOAD <file://{extra}>")


def _quad_engine(spark, tmp_path):
    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sources.ntriples import ingest_nquads
    from rdfproject_msc_spark.store import TripleStore

    nq = tmp_path / "wu.nq"
    nq.write_text(
        f"<{EX}a> <{EX}p> <{EX}b> .\n"
        f"<{EX}a> <{EX}p> <{EX}c> <{EX}g1> .\n"
        f"<{EX}c> <{EX}p> <{EX}a> <{EX}g1> .\n"
        f"<{EX}x> <{EX}p> <{EX}y> <{EX}g2> .\n"
    )
    triples, quads, d = ingest_nquads(spark, str(nq))
    eng = Engine(
        spark,
        store=TripleStore(triples, layout="single"),
        dictionary=Dictionary(d, broadcast_hint=False),
        term_style="lexical",
    )
    eng.store.attach_quads(quads)
    return eng


def _dump(eng):
    t = sorted(
        map(tuple, eng.decode(eng.store.df).collect())
    )
    q = (
        sorted(
            map(
                tuple,
                eng.dictionary.decode(
                    eng.store.quads, ["g", "s", "p", "o"]
                ).collect(),
            )
        )
        if eng.store.has_quads
        else []
    )
    return t, q


def test_with_scopes_modify_to_named_graph(spark, tmp_path):
    """WITH <g> (§3.1.3): default-graph template entries retarget to g
    and the WHERE matches against g as the active default — a rename
    inside g1 leaves the default graph and g2 byte-identical."""
    eng = _quad_engine(spark, tmp_path)
    eng.update(
        f"WITH <{EX}g1> DELETE {{ ?s <{EX}p> ?o }} "
        f"INSERT {{ ?s <{EX}q> ?o }} WHERE {{ ?s <{EX}p> ?o }}"
    )
    t, q = _dump(eng)
    assert t == [(f"<{EX}a>", f"<{EX}p>", f"<{EX}b>")]
    assert (f"<{EX}g1>", f"<{EX}a>", f"<{EX}q>", f"<{EX}c>") in q
    assert not any(
        g == f"<{EX}g1>" and p == f"<{EX}p>" for g, _, p, _ in q
    )
    assert (f"<{EX}g2>", f"<{EX}x>", f"<{EX}p>", f"<{EX}y>") in q


def test_with_delete_where_shortcut(spark, tmp_path):
    eng = _quad_engine(spark, tmp_path)
    eng.update(f"WITH <{EX}g2> DELETE WHERE {{ ?s <{EX}p> ?o }}")
    t, q = _dump(eng)
    assert not any(g == f"<{EX}g2>" for g, *_ in q)
    assert len(t) == 1  # default graph untouched
    assert (f"<{EX}g1>", f"<{EX}a>", f"<{EX}p>", f"<{EX}c>") in q


def test_using_defines_the_where_dataset(spark, tmp_path):
    """USING <g> ≡ FROM <g> for the WHERE: match in g2, insert into the
    default graph; USING NAMED scopes GRAPH blocks."""
    eng = _quad_engine(spark, tmp_path)
    eng.update(
        f"DELETE {{ }} INSERT {{ ?s <{EX}seen> ?o }} "
        f"USING <{EX}g2> WHERE {{ ?s <{EX}p> ?o }}"
    )
    t, _ = _dump(eng)
    assert (f"<{EX}x>", f"<{EX}seen>", f"<{EX}y>") in t
    assert not any(s == f"<{EX}a>" and p == f"<{EX}seen>" for s, p, _ in t)
    # USING NAMED: only g1 visible to the GRAPH variable
    eng2 = _quad_engine(spark, tmp_path)
    eng2.update(
        f"DELETE {{ }} INSERT {{ ?s <{EX}seen> ?o }} "
        f"USING NAMED <{EX}g1> WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}"
    )
    t, _ = _dump(eng2)
    assert (f"<{EX}a>", f"<{EX}seen>", f"<{EX}c>") in t
    assert not any(s == f"<{EX}x>" for s, p, _ in t if p == f"<{EX}seen>")


def test_with_rejects(spark, tmp_path):
    eng = _quad_engine(spark, tmp_path)
    with pytest.raises(SparqlSyntaxError, match="constant IRI"):
        eng.update(f"WITH ?g DELETE WHERE {{ ?s <{EX}p> ?o }}")
    with pytest.raises(SparqlSyntaxError, match="USING NAMED"):
        eng.update(
            f"WITH <{EX}g1> DELETE {{ ?s <{EX}p> ?o }} "
            f"WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}"
        )
    with pytest.raises(SparqlSyntaxError, match="WITH prefixes"):
        eng.update(f"WITH <{EX}g1> CLEAR ALL")
