"""Write one normalized OPTIMIZED LOGICAL plan per SPARQL query into a
directory — the plan-identity check for planner refactors: run it on
two checkouts and compare with `diff -r`.

Usage: python tools/dump_plans.py OUT_DIR SF_DIR
  OUT_DIR  output directory (created; one file per query)
  SF_DIR   registry data directory (e.g. the sf0.001 test data)
Env:
  PLANS_REPO  repo root to import from (default: this script's parent)

Query sets, one subdirectory each:
  registry/     the sparql*/rdf* registry rows (`spec.fn(spark, SF_DIR)`)
  w3c/          the W3C query-evaluation entries (tests/w3c manifests)
  conformance/  the spec-conformance cases (tests/test_spec_conformance)
  masks/        nullable-key clauses over a small in-memory store — the
                bound-mask lowerings none of the sets above reach
  update/       one SPARQL UPDATE request per file, each over a fresh copy
                of a small lexical store with one named graph: the plans
                of the resulting `store.df` and `store.quads` plus the
                sorted `_:` dictionary terms (minted blank-node labels),
                and a CONSTRUCT whose template holds a blank node (its
                plan and decoded rows)
  opened/       the endpoint benchmark's seven read shapes (chain, star,
                OPTIONAL, GROUP BY count, numeric FILTER … ORDER BY DESC
                … LIMIT, CONTAINS(STR()), REGEX(STR())), decoded, over a
                small sign-split store and dictionary saved and reopened
                through `Engine.open`

A query or request that raises writes `ERROR <type>: <first message
line>` instead of a plan, so a changed rejection shows in the diff too.
Normalization strips only what differs between two runs of the same
code: expression ids, plan ids, AQE stage and codegen counters, RDD ids
and the checkout and temp-directory paths. The registry rows' per-process
scratch directory reads as the temp directory it sits in, so the dumps
compare with those of a checkout whose rows wrote straight under it.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

REPO = os.environ.get(
    "PLANS_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

_MASK_ROWS = [
    (1, 1, 7), (2, 1, 9), (3, 1, 8), (4, 1, 11), (1, 2, 10), (2, 2, 20),
    (4, 2, 30), (10, 3, 7), (30, 3, 99), (1, 5, 7), (2, 5, 9),
]
_CHILD = "{ ?s 2 ?j OPTIONAL { ?j 3 ?x } }"
_LEFT = "?s 1 ?a OPTIONAL { ?s 2 ?x }"
MASK_QUERIES = {
    "optional_plain": "SELECT * WHERE { ?s 1 ?a OPTIONAL { ?s 2 ?x } }",
    "optional_left": f"SELECT * WHERE {{ {_LEFT} OPTIONAL {{ ?x 3 ?o }} }}",
    "optional_left_filter": (
        f"SELECT * WHERE {{ {_LEFT} OPTIONAL {{ ?x 3 ?o FILTER(?o > 7) }} }}"
    ),
    "optional_right": f"SELECT * WHERE {{ ?s 1 ?x OPTIONAL {_CHILD} }}",
    "optional_right_two_keys": (
        "SELECT * WHERE { ?s 5 ?x . ?x 3 ?k "
        "OPTIONAL { ?s 2 ?k OPTIONAL { ?k 3 ?x } } }"
    ),
    "optional_both": f"SELECT * WHERE {{ {_LEFT} OPTIONAL {_CHILD} }}",
    "optional_both_filter": (
        f"SELECT * WHERE {{ {_LEFT} OPTIONAL "
        "{ ?s 2 ?j OPTIONAL { ?j 3 ?x } FILTER(?j > 1) } }"
    ),
    "minus_plain": "SELECT * WHERE { ?s 1 ?a MINUS { ?s 2 ?x } }",
    "minus_left": f"SELECT * WHERE {{ {_LEFT} MINUS {{ ?x 3 ?m }} }}",
    "minus_right": f"SELECT * WHERE {{ ?s 1 ?x MINUS {_CHILD} }}",
    "minus_both": f"SELECT * WHERE {{ {_LEFT} MINUS {_CHILD} }}",
    "minus_disjoint": "SELECT * WHERE { ?s 1 ?a MINUS { ?x 3 ?m } BIND(1 AS ?m) }",
    "exists_plain": "SELECT * WHERE { ?s 1 ?a FILTER EXISTS { ?s 2 ?x } }",
    "exists_left": f"SELECT * WHERE {{ {_LEFT} FILTER EXISTS {{ ?x 3 ?e }} }}",
    "not_exists_left": (
        f"SELECT * WHERE {{ {_LEFT} FILTER NOT EXISTS {{ ?x 3 ?e }} }}"
    ),
    "exists_right": f"SELECT * WHERE {{ ?s 1 ?x FILTER EXISTS {_CHILD} }}",
    "not_exists_right": (
        f"SELECT * WHERE {{ ?s 1 ?x FILTER NOT EXISTS {_CHILD} }}"
    ),
    "exists_both": f"SELECT * WHERE {{ {_LEFT} FILTER EXISTS {_CHILD} }}",
    "not_exists_both": (
        f"SELECT * WHERE {{ {_LEFT} FILTER NOT EXISTS {_CHILD} }}"
    ),
    "exists_disjoint": (
        "SELECT * WHERE { ?s 1 ?a FILTER EXISTS { ?x 3 ?m } BIND(1 AS ?m) }"
    ),
    "values_single_nullable": f"SELECT * WHERE {{ {_LEFT} VALUES ?x {{ 5 7 }} }}",
    "values_single_fresh": "SELECT * WHERE { VALUES ?s { 1 2 } ?s 1 ?a }",
    "values_multi_filter": (
        "SELECT * WHERE { ?s 1 ?a VALUES (?s ?a) { (1 7) (2 UNDEF) } }"
    ),
    "values_multi_nullable": (
        f"SELECT * WHERE {{ {_LEFT} VALUES (?s ?x) {{ (1 5) (2 6) (3 UNDEF) }} }}"
    ),
    "values_multi_fresh": (
        "SELECT * WHERE { ?s 1 ?a VALUES (?s ?x) { (1 5) (1 6) (2 UNDEF) } "
        "OPTIONAL { ?s 2 ?x } }"
    ),
    "group_join_left": f"SELECT * WHERE {{ {_LEFT} {{ ?x 3 ?g }} }}",
    "group_join_both": (
        f"SELECT * WHERE {{ {_LEFT} {{ ?t 2 ?x OPTIONAL {{ ?x 3 ?g }} }} "
        "{ ?t 5 ?g } }"
    ),
    "union_nullable": (
        f"SELECT * WHERE {{ {_LEFT} {{ ?x 3 ?u }} UNION {{ ?s 5 ?x }} }}"
    ),
    "union_plain": "SELECT * WHERE { ?s 1 ?a { ?s 2 ?u } UNION { ?s 5 ?w } }",
    "subquery_nullable": (
        f"SELECT * WHERE {{ {_LEFT} {{ SELECT ?x ?y WHERE {{ ?x 3 ?y }} }} }}"
    ),
    "bind_nullable": f"SELECT * WHERE {{ {_LEFT} BIND(?x + 1 AS ?b) }}",
    "closure": "SELECT * WHERE { ?s 3+ ?o }",
    "closure_star_seeded": "SELECT * WHERE { 10 3* ?o }",
    "closure_opt_seeded": "SELECT * WHERE { ?s 2? 30 }",
    "path_seq": "SELECT * WHERE { ?s 2/3 ?o }",
    "path_star_var": "SELECT * WHERE { ?s (2/3)* ?o }",
    "path_star_seeded": "SELECT * WHERE { 1 (2/3)* ?o }",
}

_UPD_NQ = """\
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/b> <http://ex.org/knows> <http://ex.org/c> .
<http://ex.org/c> <http://ex.org/knows> <http://ex.org/a> .
<http://ex.org/a> <http://ex.org/name> "Alice" .
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/c> <http://ex.org/g1> .
<http://ex.org/c> <http://ex.org/name> "Cee" <http://ex.org/g1> .
"""
_UPD_LOAD_NT = "<http://ex.org/l> <http://ex.org/knows> <http://ex.org/a> .\n"
# the LOAD document's path replaces {load}
UPDATE_REQUESTS = {
    "insert_data": (
        "PREFIX : <http://ex.org/> INSERT DATA { :a :knows :d . "
        "GRAPH :g1 { :d :knows :a } }"
    ),
    "insert_data_bnode": (
        'PREFIX : <http://ex.org/> INSERT DATA { :a :knows _:x . _:x :name "X" }'
    ),
    "delete_data": (
        "PREFIX : <http://ex.org/> DELETE DATA { :a :knows :b . "
        "GRAPH :g1 { :a :knows :c } }"
    ),
    "delete_where": "PREFIX : <http://ex.org/> DELETE WHERE { ?s :knows ?o }",
    "with_delete_where": (
        "PREFIX : <http://ex.org/> WITH :g1 DELETE WHERE { ?s :knows ?o }"
    ),
    "modify_bnode": (
        "PREFIX : <http://ex.org/> DELETE { ?s :knows ?o } "
        "INSERT { ?s :via _:b . _:b :to ?o } WHERE { ?s :knows ?o }"
    ),
    "insert_where_graph_bnode": (
        "PREFIX : <http://ex.org/> INSERT { GRAPH :g2 { [] :from ?s } } "
        "WHERE { ?s :name ?n }"
    ),
    "modify_using": (
        "PREFIX : <http://ex.org/> DELETE { } INSERT { ?s :seen ?o } "
        "USING :g1 WHERE { ?s :knows ?o }"
    ),
    "with_modify": (
        "PREFIX : <http://ex.org/> WITH :g1 DELETE { ?s :name ?n } "
        "INSERT { ?s :label ?n } WHERE { ?s :name ?n }"
    ),
    "clear_default": "CLEAR DEFAULT",
    "clear_named": "CLEAR NAMED",
    "clear_all": "CLEAR ALL",
    "clear_graph": "CLEAR GRAPH <http://ex.org/g1>",
    "clear_silent_absent_graph": "CLEAR SILENT GRAPH <http://ex.org/nope>",
    "drop_graph": "DROP GRAPH <http://ex.org/g1>",
    "drop_absent_graph": "DROP GRAPH <http://ex.org/nope>",
    "drop_all": "DROP ALL",
    "create_existing": "CREATE GRAPH <http://ex.org/g1>",
    "copy": "COPY <http://ex.org/g1> TO <http://ex.org/g2>",
    "move_default": "MOVE DEFAULT TO <http://ex.org/g2>",
    "add_to_default": "ADD GRAPH <http://ex.org/g1> TO DEFAULT",
    "load": "LOAD <file://{load}>",
    "load_into_graph": "LOAD <file://{load}> INTO GRAPH <http://ex.org/g3>",
}
CONSTRUCT_BNODE = (
    "PREFIX : <http://ex.org/> CONSTRUCT { ?s :via _:b . _:b :to ?o } "
    "WHERE { ?s :knows ?o }"
)

_OPENED_NT = """\
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/b> <http://ex.org/knows> <http://ex.org/c> .
<http://ex.org/a> <http://ex.org/name> "Alice" .
<http://ex.org/b> <http://ex.org/name> "Bob"@en .
<http://ex.org/a> <http://ex.org/age> "31"^^<http://www.w3.org/2001/XMLSchema#decimal> .
<http://ex.org/b> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#decimal> .
<urn:ev1> <http://ex.org/by> <http://ex.org/a> .
<urn:ev1> <http://ex.org/price> "12.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
<urn:ev2> <http://ex.org/by> <http://ex.org/b> .
<urn:ev2> <http://ex.org/price> "3.0"^^<http://www.w3.org/2001/XMLSchema#decimal> .
"""
_EX = "PREFIX : <http://ex.org/> "
OPENED_QUERIES = {
    "chain": _EX + "SELECT ?x ?z WHERE { ?x :knows ?y . ?y :knows ?z }",
    "star": _EX + "SELECT ?s ?n ?a WHERE { ?s :name ?n . ?s :age ?a . "
    "?s :knows ?o }",
    "optional": _EX + "SELECT ?s ?n WHERE { ?s :knows ?o "
    "OPTIONAL { ?s :name ?n } }",
    "count": _EX + "SELECT ?s (COUNT(?e) AS ?c) WHERE { ?e :by ?s } "
    "GROUP BY ?s",
    "top": _EX + "SELECT ?e ?p WHERE { ?e :price ?p FILTER(?p > 5) } "
    "ORDER BY DESC(?p) LIMIT 2",
    "contains": _EX + "SELECT ?s WHERE { ?s :name ?n "
    'FILTER(CONTAINS(STR(?n), "o")) }',
    "regex": _EX + 'SELECT ?s WHERE { ?s :name ?n FILTER(REGEX(STR(?n), "^A")) }',
}

_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"(QueryStage) \d+"), r"\1 "),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


def normalize(plan: str, paths: list[tuple[str, str]]) -> str:
    for path, name in paths:
        plan = plan.replace(path, name)
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _write(out_dir: str, sub: str, name: str, build, paths) -> None:
    """``build`` returns a DataFrame (its plan is written) or the text."""
    os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", name)
    try:
        out = build()
        text = normalize(out if isinstance(out, str) else _plan(out), paths)
    except Exception as exc:  # noqa: BLE001 — the rejection IS the output
        msg = (str(exc).strip().splitlines() or [""])[0]
        text = f"ERROR {type(exc).__name__}: {normalize(msg, paths)}\n"
    with open(os.path.join(out_dir, sub, safe + ".txt"), "w") as f:
        f.write(text)


def main() -> None:
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    from rdfproject_msc_spark import registry
    from rdfproject_msc_spark.engine import Engine
    from rdfproject_msc_spark.registry import REGISTRY
    from rdfproject_msc_spark.session import get_spark
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    import tests.test_spec_conformance as conformance
    import tests.test_w3c_manifests as w3c

    # untruncated file locations: the truncation point moves with the
    # checkout path's length
    spark = get_spark(
        app_name="dump-plans", cpus=4,
        extra_conf={"spark.sql.maxMetadataStringLength": "100000"},
    )
    tmp = tempfile.mkdtemp(prefix="dump_plans_")
    paths = [(p, "<path>") for p in (tmp, os.path.realpath(REPO), REPO)]
    scratch = getattr(registry, "_scratch_root", None)
    if scratch is not None:
        paths.insert(1, (scratch(), tempfile.gettempdir()))

    for name, spec in REGISTRY.items():
        if name.startswith(("sparql", "rdf")):
            _write(out_dir, "registry", name,
                   lambda: spec.fn(spark, sf_dir), paths)

    engines = w3c.w3c_engines.__wrapped__(spark)
    for e in w3c.ENTRIES:
        if not e["type"].endswith("QueryEvaluationTest>"):
            continue
        with open(e["query"], encoding="utf-8") as f:
            query = f.read()

        def build(e=e, query=query):
            eng = engines(e["data"], tuple(e.get("graph_data") or ()))
            return eng.sparql(query, decode=True, strict_terms=False)

        _write(out_dir, "w3c", f"{e['suite']}_{e['id']}", build, paths)

    built = {}
    for key, text in conformance.DATA.items():
        path = os.path.join(tmp, key, "data.ttl")
        os.makedirs(os.path.dirname(path))
        with open(path, "w") as f:
            f.write(text)
        built[key] = Engine(spark).load_triples(path, fmt="ttl")
    for case in conformance.CASES:
        eng = built[case["data"]]
        _write(out_dir, "conformance", case["name"],
               lambda: eng.sparql(
                   case["query"], decode=True, strict_terms=False
               ), paths)

    store = TripleStore(
        spark.createDataFrame(_MASK_ROWS, "s long, p long, o long")
    )
    for name, query in MASK_QUERIES.items():
        _write(out_dir, "masks", name,
               lambda: sparql_to_df(store, query), paths)

    _dump_updates(spark, out_dir, tmp, paths)
    _dump_opened(spark, out_dir, tmp, paths)
    spark.stop()
    shutil.rmtree(tmp)


def _dump_updates(spark, out_dir: str, tmp: str, paths) -> None:
    """The ``update/`` set: each request runs on its own engine over the
    same ingested relations, so every file stands alone."""
    from pyspark.sql import functions as F

    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.engine import Engine
    from rdfproject_msc_spark.sources.ntriples import ingest_rdf
    from rdfproject_msc_spark.store import TripleStore

    nq, load = os.path.join(tmp, "upd.nq"), os.path.join(tmp, "load.nt")
    with open(nq, "w") as f:
        f.write(_UPD_NQ)
    with open(load, "w") as f:
        f.write(_UPD_LOAD_NT)
    # checkpointed: each plan shows the ingested relations as leaves
    triples, quads, d = (
        df.localCheckpoint() for df in ingest_rdf(spark, nq, "nq")
    )

    def engine():
        eng = Engine(
            spark,
            store=TripleStore(triples, layout="single"),
            dictionary=Dictionary(d, broadcast_hint=False),
            term_style="lexical",
        )
        eng.store.attach_quads(quads)
        return eng

    def run(request):
        eng = engine().update(request)
        store = eng.store
        bnodes = sorted(
            r["term"]
            for r in eng.dictionary.df.filter(
                F.col("term").startswith("_:")
            ).collect()
        )
        return "\n".join([
            "== store.df", _plan(store.df),
            "== store.quads",
            _plan(store.quads) if store.has_quads else "(none)",
            "== _: terms", *bnodes, "",
        ])

    for name, request in UPDATE_REQUESTS.items():
        _write(out_dir, "update", name,
               lambda: run(request.replace("{load}", load)), paths)

    def construct():
        df = engine().sparql(CONSTRUCT_BNODE, decode=True)
        rows = sorted(" ".join(r) for r in df.collect())
        return "\n".join([_plan(df), "== rows", *rows, ""])

    _write(out_dir, "update", "construct_bnode", construct, paths)


def _dump_opened(spark, out_dir: str, tmp: str, paths) -> None:
    """The ``opened/`` set: the read shapes over a store and dictionary
    that ``Engine.open`` reads back from ``save``'s Parquet."""
    from rdfproject_msc_spark.engine import Engine

    d = os.path.join(tmp, "opened")
    os.makedirs(d)
    nt, store, dct = (os.path.join(d, n) for n in ("g.nt", "store", "dict"))
    with open(nt, "w") as f:
        f.write(_OPENED_NT)
    ingest = Engine(spark).load_triples(
        nt, fmt="nt", layout="sign_split",
        negative_when="term LIKE '<urn:ev%'",
    )
    ingest.save(store, dict_path=dct)
    ingest.close()
    eng = Engine(spark).open(store, layout="sign_split", dict_path=dct)
    for name, query in OPENED_QUERIES.items():
        _write(out_dir, "opened", name,
               lambda: eng.sparql(query, decode=True), paths)
    eng.close()


if __name__ == "__main__":
    main()
