"""Raw-RDF ingestion (sources/ntriples.py): parser fixtures (IRIs, bnodes,
literals with escapes/lang/datatype, comments, malformed lines), the
dictionary builder vs a DuckDB row_number twin, dense/signed/no-zero id
invariants, determinism under re-partitioning, encode→decode round-trip,
Engine fmt="nt" end-to-end, the no-driver-materialization plan shape over
the term bound, and the jobs and files of a small cold ingest under it."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.sources import ntriples
from rdfproject_msc_spark.sources.ntriples import (
    build_dictionary,
    encode_triples,
    ingest_rdf,
    parse_ntriples,
)

NT_FIXTURE = """\
# a comment line
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .

<http://ex.org/b> <http://ex.org/name> "Bob" .
_:blank1 <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://ex.org/b> <http://ex.org/label> "Bo\\"b the \\\\builder"@en .
<http://ex.org/c> <http://ex.org/note> "ends with dot . inside"@en-GB .
  <http://ex.org/a> <http://ex.org/knows> _:blank1 .
"""

MALFORMED = "<http://ex.org/a> missing-angle-predicate <http://ex.org/b> .\n"


@pytest.fixture(scope="module")
def nt_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("nt") / "data.nt"
    p.write_text(NT_FIXTURE)
    return str(p)


def test_parse_fixture(spark, nt_path):
    rows = sorted(
        map(tuple, parse_ntriples(spark, nt_path).collect())
    )
    assert rows == sorted(
        [
            ("<http://ex.org/a>", "<http://ex.org/knows>", "<http://ex.org/b>"),
            ("<http://ex.org/b>", "<http://ex.org/name>", '"Bob"'),
            (
                "_:blank1",
                "<http://ex.org/age>",
                '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
            ),
            (
                "<http://ex.org/b>",
                "<http://ex.org/label>",
                '"Bo\\"b the \\\\builder"@en',
            ),
            (
                "<http://ex.org/c>",
                "<http://ex.org/note>",
                '"ends with dot . inside"@en-GB',
            ),
            ("<http://ex.org/a>", "<http://ex.org/knows>", "_:blank1"),
        ]
    )


def test_parse_skip_vs_fail(spark, tmp_path):
    p = tmp_path / "bad.nt"
    p.write_text(NT_FIXTURE + MALFORMED)
    ok = parse_ntriples(spark, str(p), on_error="skip")
    assert ok.count() == 6  # malformed line dropped, comments/blanks free
    strict = parse_ntriples(spark, str(p), on_error="fail")
    with pytest.raises(Exception, match="malformed N-Triples line"):
        strict.collect()
    with pytest.raises(ValueError, match="on_error"):
        parse_ntriples(spark, str(p), on_error="boom")


def test_dictionary_dense_signed_ids(spark, nt_path):
    parsed = parse_ntriples(spark, nt_path)
    d = build_dictionary(parsed, negative_when="term LIKE '_:%'")
    rows = {r["term"]: r["id"] for r in d.collect()}
    pos = sorted(t for t in rows if not t.startswith("_:"))
    neg = sorted(t for t in rows if t.startswith("_:"))
    # ids are the lexicographic rank within the sign class: dense, no 0
    assert [rows[t] for t in pos] == list(range(1, len(pos) + 1))
    assert [rows[t] for t in neg] == list(range(-1, -len(neg) - 1, -1))
    Dictionary(d).validate()  # unique ids, unique terms, no zero


def _assert_dictionary_matches_duckdb(spark, nt_path):
    parsed = parse_ntriples(spark, nt_path).cache()
    got = sorted(
        map(tuple, build_dictionary(parsed, "term LIKE '_:%'").collect())
    )
    terms = [
        (r["term"],)
        for r in parsed.selectExpr("s_term AS term")
        .unionAll(parsed.selectExpr("p_term"))
        .unionAll(parsed.selectExpr("o_term"))
        .distinct()
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE terms(term VARCHAR)")
    con.executemany("INSERT INTO terms VALUES (?)", terms)
    want = sorted(
        map(
            tuple,
            con.execute(
                """
SELECT CASE WHEN neg THEN -rnk ELSE rnk END AS id, term
FROM (SELECT term, term LIKE '_:%' AS neg,
             row_number() OVER (PARTITION BY term LIKE '_:%'
                                ORDER BY term) AS rnk
      FROM terms)
"""
            ).fetchall(),
        )
    )
    assert got == want


def test_dictionary_matches_duckdb_row_number(spark, nt_path):
    # the fixture is under the default term bound: ranked on the driver
    _assert_dictionary_matches_duckdb(spark, nt_path)


def test_dictionary_matches_duckdb_row_number_distributed(
    spark, nt_path, monkeypatch
):
    monkeypatch.setattr(ntriples, "_CACHE_MAX", 0)  # rank distributed
    _assert_dictionary_matches_duckdb(spark, nt_path)


def test_ids_invariant_under_input_partitioning(spark, nt_path, monkeypatch):
    monkeypatch.setattr(ntriples, "_CACHE_MAX", 0)  # rank distributed
    parsed = parse_ntriples(spark, nt_path)
    a = sorted(map(tuple, build_dictionary(parsed, num_partitions=2).collect()))
    b = sorted(
        map(
            tuple,
            build_dictionary(
                parsed.repartition(7), num_partitions=5
            ).collect(),
        )
    )
    assert a == b


def test_encode_decode_round_trip(spark, nt_path):
    parsed = parse_ntriples(spark, nt_path)
    enc, _, d = ingest_rdf(
        spark, nt_path, "nt", negative_when="term LIKE '_:%'"
    )
    assert enc.count() == parsed.count()
    dec = Dictionary(d, broadcast_hint=False).decode(
        enc.select(
            F.col("s").alias("s_term"),
            F.col("p").alias("p_term"),
            F.col("o").alias("o_term"),
        )
    )
    assert sorted(map(tuple, dec.collect())) == sorted(
        map(tuple, parsed.collect())
    )


def test_engine_nt_end_to_end(spark, nt_path):
    """Engine.load_triples(fmt='nt'): raw terms in, SQL over encoded ids,
    decode back out — with the bnode class routed to the Negative table."""
    eng = Engine(spark).load_triples(
        nt_path,
        fmt="nt",
        layout="sign_split",
        negative_when="term LIKE '_:%'",
    )
    ids = eng.dictionary.encode_terms(
        ["<http://ex.org/knows>", "<http://ex.org/a>"]
    )
    res = eng.sql(
        "SELECT s, o FROM (SELECT * FROM Positive UNION ALL "
        f"SELECT * FROM Negative) WHERE p = {ids['<http://ex.org/knows>']} "
        f"AND s = {ids['<http://ex.org/a>']}"
    )
    objs = sorted(
        r["o_term"]
        for r in eng.dictionary.decode(
            res.select(F.col("o").alias("o_term"))
        ).collect()
    )
    assert objs == ["<http://ex.org/b>", "_:blank1"]
    # the bnode object decoded from a NEGATIVE id (sign class respected)
    bnode_id = eng.dictionary.encode_terms(["_:blank1"])["_:blank1"]
    assert bnode_id < 0
    assert eng.store.negative.count() == 1  # the _:blank1-subject triple
    with pytest.raises(ValueError, match="dict_path must be None"):
        Engine(spark).load_triples(nt_path, dict_path="/x", fmt="nt")


def test_build_plan_never_collects_terms(spark, nt_path, monkeypatch):
    """Over the term bound the dictionary build stays distributed: no
    driver-side term-set materialization anywhere in the plan (the
    broadcasted offsets relation is #partitions-sized, not data-sized)
    and no Python. The bound is forced to 0 so the fixture is over it."""
    monkeypatch.setattr(ntriples, "_CACHE_MAX", 0)
    parsed = parse_ntriples(spark, nt_path)
    d = build_dictionary(parsed, num_partitions=4)
    d.collect()
    plan = d._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "Python" not in final
    assert "CollectLimit" not in final


def test_small_cold_ingest_jobs_and_files(
    spark, nt_path, tmp_path, monkeypatch
):
    """Under the term bound a cold ingest ranks its dictionary from one
    term collect and writes one store file per sign class; the same
    ingest ranked distributed (bound 0) runs more than twice the jobs."""
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    def cold(out):
        first = last_job()
        eng = Engine(spark).load_triples(
            nt_path, fmt="nt", layout="sign_split",
            negative_when="term LIKE '_:%'",
        )
        eng.save(str(out / "store"), dict_path=str(out / "dict"))
        eng.close()
        return last_job() - first

    small = cold(tmp_path / "small")
    with monkeypatch.context() as mp:
        mp.setattr(ntriples, "_CACHE_MAX", 0)
        large = cold(tmp_path / "large")
    assert small <= 12
    assert large > 2 * small
    store = tmp_path / "small" / "store"
    files = sorted(p.parent.name for p in store.rglob("*.parquet"))
    assert files == ["sign=0", "sign=1"]
    for name in ("store", "dict"):
        a, b = (
            sorted(map(tuple, spark.read.parquet(
                str(tmp_path / run / name)).collect()))
            for run in ("small", "large")
        )
        assert a == b


def test_encode_at_sf(spark, sf_dir, tmp_path):
    """Volume check on real testdata: derive NT lines from the nation and
    region tables, ingest, and verify the triple count and id density."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    lines = nation.select(
        F.concat(
            F.lit("<urn:nation_"),
            "n_nationkey",
            F.lit("> <urn:inRegion> <urn:region_"),
            "n_regionkey",
            F.lit("> ."),
        ).alias("value")
    )
    path = str(tmp_path / "nt")
    lines.write.mode("overwrite").text(path)
    enc, _, d = ingest_rdf(spark, path, "nt")
    assert enc.count() == nation.count()
    n_terms = d.count()
    assert d.agg(F.max("id")).first()[0] == n_terms  # dense, all positive


NQ_FIXTURE = """\
# default graph + two named graphs
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/c> <http://ex.org/g1> .
<http://ex.org/b> <http://ex.org/name> "Bob"@en <http://ex.org/g1> .
<http://ex.org/c> <http://ex.org/name> "Cee" <http://ex.org/g2> .
_:bn <http://ex.org/in> <http://ex.org/c> _:g3 .
"""


def test_extend_dictionary_appends_without_touching_ids(spark, nt_path, tmp_path):
    from rdfproject_msc_spark.sources.ntriples import extend_dictionary

    _, _, d0 = ingest_rdf(
        spark, nt_path, "nt", negative_when="term LIKE '_:%'"
    )
    d0 = d0.cache()
    base = {r["term"]: r["id"] for r in d0.collect()}
    # a delivery: one known term, two new positives, one new negative
    p = tmp_path / "delta.nt"
    p.write_text(
        "<http://ex.org/zzz> <http://ex.org/knows> _:blank9 .\n"
        "<http://ex.org/a> <http://ex.org/alpha> _:blank1 .\n"
    )
    enc, _, d1 = ingest_rdf(
        spark, str(p), "nt", negative_when="term LIKE '_:%'", dictionary=d0
    )
    after = {r["term"]: r["id"] for r in d1.collect()}
    for t, i in base.items():
        assert after[t] == i  # existing ids untouched
    news = set(after) - set(base)
    assert news == {"<http://ex.org/zzz>", "<http://ex.org/alpha>", "_:blank9"}
    pos_base = max(i for i in base.values() if i > 0)
    neg_base = min(i for i in base.values() if i < 0)
    new_pos = sorted(t for t in news if not t.startswith("_:"))
    # appended block: dense, contiguous, lexicographic within the delivery
    assert [after[t] for t in new_pos] == [pos_base + 1, pos_base + 2]
    assert after["_:blank9"] == neg_base - 1
    Dictionary(d1).validate()
    # the delivery encodes against the UNION dictionary: full round-trip
    dec = Dictionary(d1, broadcast_hint=False).decode(
        enc.select(
            F.col("s").alias("s_term"),
            F.col("p").alias("p_term"),
            F.col("o").alias("o_term"),
        )
    )
    assert sorted(map(tuple, dec.collect())) == sorted(
        [
            ("<http://ex.org/zzz>", "<http://ex.org/knows>", "_:blank9"),
            ("<http://ex.org/a>", "<http://ex.org/alpha>", "_:blank1"),
        ]
    )
    # replaying the SAME delivery derives the same ids (deterministic)
    from rdfproject_msc_spark.sources.ntriples import parse_ntriples

    fresh2 = extend_dictionary(
        d0, parse_ntriples(spark, str(p)), "term LIKE '_:%'"
    )
    assert sorted(map(tuple, fresh2.collect())) == sorted(
        (after[t], t) for t in news
    )


def test_nquads_ingest_splits_default_and_named(spark, tmp_path):
    p = tmp_path / "data.nq"
    p.write_text(NQ_FIXTURE)
    triples, quads, d = ingest_rdf(spark, str(p), "nq")
    dd = Dictionary(d, broadcast_hint=False)
    assert triples.count() == 1  # the label-less statement
    assert quads.count() == 4
    # graph labels are dictionary terms like any other
    gids = dd.encode_terms(["<http://ex.org/g1>", "<http://ex.org/g2>", "_:g3"])
    got = {
        r["g"]: r_cnt
        for r, r_cnt in (
            (r, r["n"])
            for r in quads.groupBy("g").agg(F.count("*").alias("n")).collect()
        )
    }
    assert got == {
        gids["<http://ex.org/g1>"]: 2,
        gids["<http://ex.org/g2>"]: 1,
        gids["_:g3"]: 1,
    }
    Dictionary(d).validate()


def test_nquads_attach_to_store_graph_query(spark, tmp_path):
    """Close the GRAPH loop: N-Quads in, TripleStore + attach_quads, a
    same-graph id query out."""
    from rdfproject_msc_spark.store import TripleStore

    p = tmp_path / "data.nq"
    p.write_text(NQ_FIXTURE)
    triples, quads, d = ingest_rdf(spark, str(p), "nq")
    store = TripleStore(triples, layout="single")
    store.attach_quads(quads)
    dd = Dictionary(d, broadcast_hint=False)
    g1 = dd.encode_terms(["<http://ex.org/g1>"])["<http://ex.org/g1>"]
    in_g1 = store.quads.filter(F.col("g") == g1)
    assert in_g1.count() == 2


def test_format_parse_round_trip(spark, nt_path, tmp_path):
    from rdfproject_msc_spark.sources.ntriples import (
        format_ntriples,
        parse_ntriples,
    )

    parsed = parse_ntriples(spark, nt_path)
    out = str(tmp_path / "export_nt")
    format_ntriples(parsed).write.mode("overwrite").text(out)
    back = parse_ntriples(spark, out, on_error="fail")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, parsed.collect())
    )


def test_format_nquads_round_trip(spark, tmp_path):
    """format_nquads is the inverse of parse_nquads: the default/named
    split survives export → re-parse bit-identically (NULL graph term →
    3-term line, named → 4-term line)."""
    from rdfproject_msc_spark.sources.ntriples import (
        format_nquads,
        parse_nquads,
    )

    nq = tmp_path / "d.nq"
    nq.write_text(
        "<urn:a> <urn:p> <urn:b> <urn:g1> .\n"
        "<urn:a> <urn:p> \"lit\"@en .\n"
        "<urn:b> <urn:p> <urn:c> <urn:g2> .\n"
    )
    parsed = parse_nquads(spark, str(nq))
    out = str(tmp_path / "export_nq")
    format_nquads(parsed).write.mode("overwrite").text(out)
    back = parse_nquads(spark, out, on_error="fail")
    key = lambda r: tuple((v is None, v) for v in r)
    assert sorted(map(tuple, back.collect()), key=key) == sorted(
        map(tuple, parsed.collect()), key=key
    )


def test_cli_ingest_nt_then_incremental(spark, nt_path, tmp_path):
    """CLI first mile: NT → persisted store + dictionary; then an
    incremental delivery via --dict-in keeps every existing id."""
    from rdfproject_msc_spark.cli import main

    store1, dict1 = str(tmp_path / "s1"), str(tmp_path / "d1")
    rc = main(
        ["ingest", "--nt", nt_path, "--out", store1, "--dict-out", dict1,
         "--negative-when", "term LIKE '_:%'"]
    )
    assert rc == 0
    d1 = {r["term"]: r["id"] for r in spark.read.parquet(dict1).collect()}
    assert d1["_:blank1"] < 0

    delta = tmp_path / "delta.nt"
    delta.write_text("<http://ex.org/zzz> <http://ex.org/knows> _:blank9 .\n")
    store2, dict2 = str(tmp_path / "s2"), str(tmp_path / "d2")
    rc = main(
        ["ingest", "--nt", str(delta), "--out", store2, "--dict-out", dict2,
         "--dict-in", dict1, "--negative-when", "term LIKE '_:%'"]
    )
    assert rc == 0
    d2 = {r["term"]: r["id"] for r in spark.read.parquet(dict2).collect()}
    for t, i in d1.items():
        assert d2[t] == i
    assert "_:blank9" in d2 and d2["_:blank9"] < 0


def test_cli_ingest_nq_with_quads(spark, tmp_path):
    from rdfproject_msc_spark.cli import main

    p = tmp_path / "data.nq"
    p.write_text(NQ_FIXTURE)
    store, dct, qd = (
        str(tmp_path / "s"), str(tmp_path / "d"), str(tmp_path / "q")
    )
    rc = main(
        ["ingest", "--nq", str(p), "--out", store, "--dict-out", dct,
         "--quads-out", qd]
    )
    assert rc == 0
    assert spark.read.parquet(store).count() == 1
    quads = spark.read.parquet(qd)
    assert quads.count() == 4
    assert set(quads.columns) == {"g", "s", "p", "o"}


def test_sparql_lexical_over_nt_store(spark, tmp_path):
    """The complete raw-RDF user story: N-Triples in, SPARQL out. A
    dictionary built from raw RDF stores full lexical forms, so
    Engine.load_triples(fmt='nt') flips the planner to term_style=
    'lexical': '<iri>' constants match verbatim, PREFIX names EXPAND to
    the full IRI (instead of the reference convention's ':local'
    collapse), lang tags stay as written, and typed literals keep
    '^^<datatype>' (never collapsing to raw ids — built ids are ranks)."""
    nt = tmp_path / "g.nt"
    nt.write_text(
        "<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .\n"
        "<http://ex.org/b> <http://ex.org/knows> <http://ex.org/c> .\n"
        '<http://ex.org/b> <http://ex.org/name> "Bob"@en-GB .\n'
        '<http://ex.org/c> <http://ex.org/age> '
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt", layout="sign_split")
    assert eng.term_style == "lexical"

    q = """PREFIX ex: <http://ex.org/>
SELECT ?x ?n WHERE { ex:a ex:knows ?x . ?x ex:name ?n . }"""
    got = sorted(map(tuple, eng.sparql(q, decode=True).collect()))
    assert got == [("<http://ex.org/b>", '"Bob"@en-GB')]

    # full-IRI constants + an as-written lang-tagged constant
    q2 = (
        'SELECT ?x WHERE { <http://ex.org/b> <http://ex.org/name> '
        '"Bob"@en-GB . <http://ex.org/b> <http://ex.org/knows> ?x . }'
    )
    assert [
        r[0] for r in eng.sparql(q2, decode=True).collect()
    ] == ["<http://ex.org/c>"]

    # typed-literal constant matches its lexical form (no id collapse)
    q3 = (
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        'SELECT ?s WHERE { ?s <http://ex.org/age> "42"^^xsd:integer . }'
    )
    assert [
        r[0] for r in eng.sparql(q3, decode=True).collect()
    ] == ["<http://ex.org/c>"]


def test_term_style_is_scoped_not_sticky(spark, tmp_path):
    """term_style is per-parse: a lexical parse must not leak into the
    next default parse (the contextvar resets), and explicit bad values
    reject."""
    from rdfproject_msc_spark.sparql.parser import (
        SparqlSyntaxError,
        parse_sparql,
    )

    q = "SELECT ?x WHERE { <http://ex.org/a> <http://ex.org/p> ?x . }"
    lex = parse_sparql(q, term_style="lexical")
    assert lex.where.patterns[0].s == ("term", "<http://ex.org/a>")
    loc = parse_sparql(q)  # ambient default: the reference convention
    assert loc.where.patterns[0].s == ("term", ":a")
    with pytest.raises(SparqlSyntaxError, match="term_style"):
        parse_sparql(q, term_style="fancy")


def test_streaming_nt_ingest_equals_batch(spark, tmp_path):
    """Streaming first mile (r9): NT files arriving over multiple
    micro-batches parse with the EXACT batch expressions and encode via
    stream-static joins against a batch-built dictionary — the encoded
    parquet equals the batch encode, and a TripleStore over it answers
    queries. A second delivery carrying NEW terms encodes after (and
    only after) a batch extend_dictionary run — the documented
    incremental loop."""
    from rdfproject_msc_spark import streaming as S
    from rdfproject_msc_spark.sources.ntriples import (
        extend_dictionary,
        parse_ntriples,
    )
    from rdfproject_msc_spark.store import TripleStore

    nt_dir = tmp_path / "landing"
    nt_dir.mkdir()
    (nt_dir / "a.nt").write_text(NT_FIXTURE)
    base_path = str(nt_dir / "a.nt")
    enc_batch, _, d = ingest_rdf(
        spark, base_path, "nt", negative_when="term LIKE '_:%'"
    )
    d = d.cache()

    out = str(tmp_path / "encoded")
    ckpt = str(tmp_path / "ckpt")
    q = S.ingest_ntriples_stream(
        spark, str(nt_dir), d, out, ckpt, max_files_per_trigger=1
    )
    got = spark.read.parquet(out)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, enc_batch.collect())
    )
    store = TripleStore(spark.read.parquet(out), layout="sign_split")
    assert store.negative.count() == 1  # the _:blank1-subject triple

    # delivery 2: one statement with a NEW term — dropped under the
    # current dictionary (unrepresentable), encoded after extension
    (nt_dir / "b.nt").write_text(
        "<http://ex.org/a> <http://ex.org/knows> <http://ex.org/NEW> .\n"
    )
    S.ingest_ntriples_stream(spark, str(nt_dir), d, out, ckpt)
    n_before = spark.read.parquet(out).count()
    assert n_before == enc_batch.count()  # new-term statement dropped

    d2 = d.unionAll(
        extend_dictionary(
            d, parse_ntriples(spark, str(nt_dir / "b.nt")), "term LIKE '_:%'"
        )
    ).cache()
    ckpt2 = str(tmp_path / "ckpt2")  # fresh stream over the same landing
    out2 = str(tmp_path / "encoded2")
    S.ingest_ntriples_stream(spark, str(nt_dir), d2, out2, ckpt2)
    assert spark.read.parquet(out2).count() == enc_batch.count() + 1


def test_parse_edge_cases_dot_and_crlf(spark, tmp_path):
    """Grammar corners: a bnode object directly against the terminating
    dot (legal NT — the tokenizer must not eat the dot), a label-internal
    dot (stays in the token), and CRLF line endings (trailing \\r on
    statements, comments, and blank lines)."""
    p = tmp_path / "edge.nt"
    p.write_bytes(
        b"<http://e/a> <http://e/p> _:b.\r\n"
        b"<http://e/a> <http://e/p> _:x.y .\r\n"
        b"# comment\r\n"
        b"\r\n"
        b'<http://e/a> <http://e/p> "v" .\r\n'
    )
    rows = sorted(
        map(tuple, parse_ntriples(spark, str(p), on_error="fail").collect())
    )
    assert rows == sorted(
        [
            ("<http://e/a>", "<http://e/p>", "_:b"),
            ("<http://e/a>", "<http://e/p>", "_:x.y"),
            ("<http://e/a>", "<http://e/p>", '"v"'),
        ]
    )


def test_sparql_lexical_plain_literal_escapes_and_bare_int(spark, tmp_path):
    """The review-found lexical-mode constant bugs, pinned: plain string
    literals keep their quotes (match the stored lexical form), escaped
    literal bytes match as written, and a bare integer is xsd:integer
    shorthand — never a raw dictionary id."""
    nt = tmp_path / "lit.nt"
    nt.write_text(
        '<http://e/a> <http://e/name> "Bob" .\n'
        '<http://e/b> <http://e/name> "Bo\\"b the \\\\builder"@en .\n'
        '<http://e/c> <http://e/age> '
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    got = [
        r[0]
        for r in eng.sparql(
            'SELECT ?s WHERE { ?s <http://e/name> "Bob" . }', decode=True
        ).collect()
    ]
    assert got == ["<http://e/a>"]
    got = [
        r[0]
        for r in eng.sparql(
            'SELECT ?s WHERE { ?s <http://e/name> '
            '"Bo\\"b the \\\\builder"@en . }',
            decode=True,
        ).collect()
    ]
    assert got == ["<http://e/b>"]
    # bare 42 = "42"^^xsd:integer (NOT the term ranked 42, which would be
    # a silent wrong answer — there are fewer than 42 terms here, so the
    # raw-id reading would return nothing)
    got = [
        r[0]
        for r in eng.sparql(
            "SELECT ?s WHERE { ?s <http://e/age> 42 . }", decode=True
        ).collect()
    ]
    assert got == ["<http://e/c>"]


def test_cli_ingest_then_sparql(spark, tmp_path, capsys):
    """The advertised first-mile story through the CLI alone: ingest raw
    NT, then SPARQL over the persisted store with the parquet dictionary
    (term style flips to lexical automatically)."""
    from rdfproject_msc_spark.cli import main

    nt = tmp_path / "g.nt"
    nt.write_text(
        "<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .\n"
        '<http://ex.org/b> <http://ex.org/name> "Bob" .\n'
    )
    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    assert main(["ingest", "--nt", str(nt), "--out", store,
                 "--dict-out", dct]) == 0
    rc = main(
        ["sparql", "--store", store, "--dict", dct,
         "--dict-format", "parquet", "--decode",
         "--query",
         "PREFIX ex: <http://ex.org/> "
         "SELECT ?n WHERE { ex:a ex:knows ?x . ?x ex:name ?n . }"]
    )
    assert rc == 0
    assert '"Bob"' in capsys.readouterr().out


def test_cli_ingest_guards(tmp_path):
    from rdfproject_msc_spark.cli import main
    import pytest as _pt

    nt = tmp_path / "x.nt"
    nt.write_text("<http://e/a> <http://e/p> <http://e/b> .\n")
    nq = tmp_path / "x.nq"
    nq.write_text("<http://e/a> <http://e/p> <http://e/b> <http://e/g> .\n")
    d = str(tmp_path / "d")
    with _pt.raises(SystemExit, match="differ from --dict-in"):
        main(["ingest", "--nt", str(nt), "--out", str(tmp_path / "s"),
              "--dict-out", d, "--dict-in", d])
    with _pt.raises(SystemExit, match="--quads-out"):
        main(["ingest", "--nq", str(nq), "--out", str(tmp_path / "s"),
              "--dict-out", d])
    with _pt.raises(SystemExit, match="triple formats only"):
        main(["ingest", "--trig", str(nq), "--out", str(tmp_path / "s"),
              "--dict-out", d, "--quads-out", str(tmp_path / "q"),
              "--dict-in", str(tmp_path / "d0")])
    s = str(tmp_path / "s")
    # same path spelled two ways: the guard compares real paths
    same = str(tmp_path / "x" / ".." / "s")
    with _pt.raises(SystemExit, match="--dict-out must differ from --dict "):
        main(["update", "--store", s, "--dict", d, "--request", "CLEAR ALL",
              "--out", str(tmp_path / "s2"), "--dict-out", d])
    with _pt.raises(SystemExit, match="--out must differ from --store"):
        main(["update", "--store", s, "--dict", d, "--request", "CLEAR ALL",
              "--out", same, "--dict-out", str(tmp_path / "d2")])
    with _pt.raises(SystemExit, match="--out must differ from --store"):
        main(["materialize", "--store", s, "--dict", d, "--out", same])


def test_lexical_accessor_surface(spark, tmp_path):
    """LANG/DATATYPE/isIRI/isBlank/isLiteral and typed-VALUE comparisons
    over a LEXICAL store (r9): the planner's term-kind grammar recognizes
    both storage conventions at once, DATATYPE() output stays localized
    (style-independent expectations), and date/decimal comparisons parse
    the '^^<full-iri>' lexical forms."""
    nt = tmp_path / "k.nt"
    nt.write_text(
        '<http://e/a> <http://e/name> "Alpha"@en .\n'
        '<http://e/b> <http://e/name> "Beta" .\n'
        "<http://e/a> <http://e/born> "
        '"2001-05-04"^^<http://www.w3.org/2001/XMLSchema#date> .\n'
        "<http://e/b> <http://e/born> "
        '"1999-01-02"^^<http://www.w3.org/2001/XMLSchema#date> .\n'
        "<http://e/a> <http://e/score> "
        '"19.75"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n'
        "<http://e/a> <http://e/knows> <http://e/b> .\n"
        "_:bn <http://e/knows> <http://e/a> .\n"
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")

    def ids(q):
        return sorted(
            r[0] for r in eng.sparql(q, decode=True).collect()
        )

    xsd = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert ids(
        'SELECT ?s WHERE { ?s <http://e/name> ?n . FILTER(LANG(?n) = "en") }'
    ) == ["<http://e/a>"]
    assert ids(
        xsd + "SELECT ?s WHERE { ?s <http://e/born> ?b . "
        "FILTER(DATATYPE(?b) = xsd:date) }"
    ) == ["<http://e/a>", "<http://e/b>"]
    assert ids(
        "SELECT ?o WHERE { ?s <http://e/knows> ?o . FILTER(isIRI(?o)) }"
    ) == ["<http://e/a>", "<http://e/b>"]
    assert ids(
        "SELECT ?s WHERE { ?s <http://e/knows> ?o . FILTER(isBlank(?s)) }"
    ) == ["_:bn"]
    assert ids(
        "SELECT ?n WHERE { ?s <http://e/name> ?n . FILTER(isLiteral(?n)) }"
    ) == ['"Alpha"@en', '"Beta"']
    # typed-VALUE comparisons over '^^<full-iri>' lexical forms
    assert ids(
        xsd + "SELECT ?s WHERE { ?s <http://e/born> ?b . "
        'FILTER(?b >= "2000-01-01"^^xsd:date) }'
    ) == ["<http://e/a>"]
    assert ids(
        "SELECT ?s WHERE { ?s <http://e/score> ?v . FILTER(?v > 19.5) }"
    ) == ["<http://e/a>"]
    assert ids(
        xsd + "SELECT ?s WHERE { ?s <http://e/born> ?b . "
        'FILTER(xsd:date(?b) < "2000-06-06"^^xsd:date) }'
    ) == ["<http://e/b>"]


def test_lexical_cmp_leaf_value_semantics(spark, tmp_path):
    """r10 ADVICE: ARITHMETIC comparison leaves (FILTER(?x > 5+0),
    FILTER(?x*2 > 30)) evaluate pattern variables by typed numeric
    VALUE on lexical stores, exactly like the bare FILTER(?x > 5)
    form — not over raw dictionary ids, which are lexicographic ranks
    there. Non-numeric terms are type errors (NULL → drop)."""
    nt = tmp_path / "c.nt"
    xi = "^^<http://www.w3.org/2001/XMLSchema#integer>"
    nt.write_text(
        f'<http://e/a> <http://e/score> "7"{xi} .\n'
        f'<http://e/b> <http://e/score> "19"{xi} .\n'
        f'<http://e/c> <http://e/score> "100"{xi} .\n'
        '<http://e/d> <http://e/score> "not-a-number" .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")

    def ids(q):
        return sorted(r[0] for r in eng.sparql(q, decode=True).collect())

    # the cmp leaf agrees with the bare leaf (pinned since r10); under
    # id semantics the ranks would order "100" < "19" < "7"
    bare = ids(
        "SELECT ?s WHERE { ?s <http://e/score> ?v . FILTER(?v > 18) }"
    )
    assert bare == ["<http://e/b>", "<http://e/c>"]
    assert ids(
        "SELECT ?s WHERE { ?s <http://e/score> ?v . FILTER(?v > 18 + 0) }"
    ) == bare
    assert ids(
        "SELECT ?s WHERE { ?s <http://e/score> ?v . FILTER(?v * 2 > 36) }"
    ) == bare
    # variable-bearing arithmetic on BOTH sides: values, not id order
    assert ids(
        "SELECT ?s WHERE { ?s <http://e/score> ?v . "
        "FILTER(?v - 1 >= ?v / 2 + 49) }"
    ) == ["<http://e/c>"]


def test_lexical_bind_arithmetic_value_semantics(spark, tmp_path):
    """r11: BIND arithmetic over pattern variables on a lexical store
    evaluates typed numeric VALUES (the spec §11 discounted-price
    example), not encoded ids (lexicographic ranks); a non-numeric
    operand is a type error — the target stays unbound."""
    E = "http://e/"
    xd = "^^<http://www.w3.org/2001/XMLSchema#decimal>"
    xi = "^^<http://www.w3.org/2001/XMLSchema#integer>"
    nt = tmp_path / "b.nt"
    nt.write_text(
        f'<{E}book1> <{E}title> "SPARQL Tutorial" .\n'
        f'<{E}book1> <{E}price> "42"{xi} .\n'
        f'<{E}book1> <{E}discount> "0.2"{xd} .\n'
        f'<{E}book2> <{E}title> "The Semantic Web" .\n'
        f'<{E}book2> <{E}price> "23"{xi} .\n'
        f'<{E}book2> <{E}discount> "0.25"{xd} .\n'
        f'<{E}book3> <{E}title> "Oddity" .\n'
        f'<{E}book3> <{E}price> "strange" .\n'
        f'<{E}book3> <{E}discount> "0.5"{xd} .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    rows = eng.sparql(
        f"SELECT ?title ?price WHERE {{ ?x <{E}price> ?p . "
        f"?x <{E}discount> ?d . "
        f"BIND(?p - ?p * ?d AS ?price) ?x <{E}title> ?title }} "
        "ORDER BY ?title",
        decode=True,
    ).collect()
    got = [
        (r["title"], None if r["price"] is None else round(r["price"], 6))
        for r in rows
    ]
    assert got == [
        ('"Oddity"', None),  # "strange": type error -> unbound
        ('"SPARQL Tutorial"', 33.6),
        ('"The Semantic Web"', 17.25),
    ]
    # identity binds still COPY the id column (and decode as terms)
    got = sorted(
        r["y"]
        for r in eng.sparql(
            f"SELECT ?y WHERE {{ ?x <{E}price> ?p . BIND(?p AS ?y) }}",
            decode=True,
        ).collect()
    )
    assert got == ['"23"' + xi, '"42"' + xi, '"strange"']
    # IF conditions route values too; a non-numeric operand errors the
    # whole IF (guarded when, no otherwise) -> unbound target
    got = sorted(
        (r["title"], None if r["y"] is None else round(r["y"], 6))
        for r in eng.sparql(
            f"SELECT ?title ?y WHERE {{ ?x <{E}price> ?p . "
            f"BIND(IF(?p > 30, ?p * 2, 0) AS ?y) ?x <{E}title> ?title }}",
            decode=True,
        ).collect()
    )
    assert got == [
        ('"Oddity"', None),
        ('"SPARQL Tutorial"', 84.0),
        ('"The Semantic Web"', 0),
    ]


def test_construct_fresh_bnodes_per_solution(spark, tmp_path):
    """§16.2 fresh-per-solution template blank nodes (r11): the spec's
    vcard example — one fresh node per solution, co-referring across
    that solution's template triples, distinct across solutions,
    deterministic across replays, and round-tripping into a store via
    the decoded text."""
    E = "http://e/"
    V = "http://www.w3.org/2001/vcard-rdf/3.0#"
    nt = tmp_path / "f.nt"
    nt.write_text(
        f'<{E}alice> <{E}name> "Alice" .\n'
        f'<{E}bob> <{E}name> "Bob" .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    q = (
        f"CONSTRUCT {{ ?x <{V}N> _:v . _:v <{V}givenName> ?name }} "
        f"WHERE {{ ?x <{E}name> ?name }}"
    )
    got = sorted(map(tuple, eng.sparql(q, decode=True).collect()))
    again = sorted(map(tuple, eng.sparql(q, decode=True).collect()))
    assert got == again  # replay determinism (keyed labels)
    assert len(got) == 4
    n_edge = {s: o for s, p, o in got if p == f"<{V}N>"}
    gname = {s: o for s, p, o in got if p == f"<{V}givenName>"}
    assert set(n_edge) == {f"<{E}alice>", f"<{E}bob>"}
    va, vb = n_edge[f"<{E}alice>"], n_edge[f"<{E}bob>"]
    assert va != vb  # one FRESH node per solution
    assert va.startswith("_:c") and vb.startswith("_:c")
    assert gname[va] == '"Alice"' and gname[vb] == '"Bob"'
    # round-trip: the decoded graph re-ingests and answers
    out = tmp_path / "rt.nt"
    out.write_text("".join(f"{s} {p} {o} .\n" for s, p, o in got))
    e2 = Engine(spark).load_triples(str(out), fmt="nt")
    rows = e2.sparql(
        f"SELECT ?g WHERE {{ ?x <{V}N> ?v . ?v <{V}givenName> ?g }}",
        decode=True,
    ).collect()
    assert sorted(r["g"] for r in rows) == ['"Alice"', '"Bob"']


def test_lexical_sum_avg_value_semantics(spark, tmp_path):
    """r11: SUM/AVG over lexical pattern variables aggregate typed
    numeric VALUES (the spec §11.1 GROUP BY/HAVING example — total book
    price per org, keep totals > 10), not encoded ids (ranks)."""
    E = "http://books.example/"
    xi = "^^<http://www.w3.org/2001/XMLSchema#integer>"
    nt = tmp_path / "agg.nt"
    nt.write_text(
        f"<{E}org1> <{E}affiliates> <{E}auth1> .\n"
        f"<{E}org1> <{E}affiliates> <{E}auth2> .\n"
        f"<{E}auth1> <{E}writesBook> <{E}book1> .\n"
        f'<{E}book1> <{E}price> "9"{xi} .\n'
        f"<{E}auth2> <{E}writesBook> <{E}book2> .\n"
        f'<{E}book2> <{E}price> "5"{xi} .\n'
        f"<{E}org2> <{E}affiliates> <{E}auth3> .\n"
        f"<{E}auth3> <{E}writesBook> <{E}book3> .\n"
        f'<{E}book3> <{E}price> "7"{xi} .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    body = (
        f"WHERE {{ ?org <{E}affiliates> ?auth . "
        f"?auth <{E}writesBook> ?book . ?book <{E}price> ?lprice }} "
        "GROUP BY ?org "
    )
    rows = eng.sparql(
        "SELECT (SUM(?lprice) AS ?totalPrice) "
        + body
        + "HAVING (SUM(?lprice) > 10)",
        decode=True,
    ).collect()
    assert [round(r["totalPrice"], 6) for r in rows] == [14.0]
    rows = eng.sparql(
        "SELECT ?org (AVG(?lprice) AS ?a) " + body + "ORDER BY ?org",
        decode=True,
    ).collect()
    assert [(r["org"], round(r["a"], 6)) for r in rows] == [
        (f"<{E}org1>", 7.0),
        (f"<{E}org2>", 7.0),
    ]


def test_lexical_plain_order_by_value_semantics(spark, tmp_path):
    """§15.1 value ordering (r11): plain ORDER BY ?v on a lexical store
    sorts unbound < blank nodes < IRIs < literals (§15.1.1), numeric
    literals by typed VALUE (2 before 10 — id order, a lexicographic
    rank, would say otherwise), non-numerics by codepoint STR value.
    DESC exactly reverses; DISTINCT composes; non-projected keys take
    the pre-projection branch; LIMIT still plans TakeOrderedAndProject."""
    E = "http://e/"
    xi = "^^<http://www.w3.org/2001/XMLSchema#integer>"
    nt = tmp_path / "o.nt"
    nt.write_text(
        f'<{E}s1> <{E}p> "10"{xi} .\n'
        f'<{E}s2> <{E}p> "2"{xi} .\n'
        f'<{E}s3> <{E}p> "banana" .\n'
        f'<{E}s4> <{E}p> "apple" .\n'
        f"<{E}s5> <{E}p> <{E}iri> .\n"
        f"<{E}s6> <{E}p> _:bn .\n"
        + "".join(f"<{E}s{i}> <{E}t> <{E}T> .\n" for i in range(1, 8))
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    value_order = [
        None,  # unbound first (§15.1.1)
        "_:bn",
        f"<{E}iri>",
        f'"2"{xi}',
        f'"10"{xi}',
        '"apple"',
        '"banana"',
    ]
    got = [
        r["v"]
        for r in eng.sparql(
            f"SELECT ?s ?v WHERE {{ ?s <{E}t> <{E}T> . "
            f"OPTIONAL {{ ?s <{E}p> ?v }} }} ORDER BY ?v ?s",
            decode=True,
        ).collect()
    ]
    assert got == value_order
    got_desc = [
        r["v"]
        for r in eng.sparql(
            f"SELECT ?s ?v WHERE {{ ?s <{E}t> <{E}T> . "
            f"OPTIONAL {{ ?s <{E}p> ?v }} }} ORDER BY DESC(?v) DESC(?s)",
            decode=True,
        ).collect()
    ]
    assert got_desc == value_order[::-1]
    # DISTINCT composes (post-projection sort after dedup)
    got = [
        r["v"]
        for r in eng.sparql(
            f"SELECT DISTINCT ?v WHERE {{ ?s <{E}p> ?v }} ORDER BY ?v",
            decode=True,
        ).collect()
    ]
    assert got == value_order[1:]
    # non-projected key: the pre-projection branch value-orders too
    got = [
        r["s"]
        for r in eng.sparql(
            f"SELECT ?s WHERE {{ ?s <{E}p> ?v }} ORDER BY ?v",
            decode=True,
        ).collect()
    ]
    assert got == [f"<{E}s{i}>" for i in (6, 5, 2, 1, 4, 3)]
    # LIMIT keeps the no-global-sort plan
    df = eng.sparql(
        f"SELECT ?v WHERE {{ ?s <{E}p> ?v }} ORDER BY ?v LIMIT 3"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_engine_save_open_round_trip_lexical(spark, tmp_path):
    """Session lifecycle for a raw-ingested engine: save the layout AND
    the built dictionary, reopen in a fresh Engine, SPARQL still answers
    (term style restored to lexical with the parquet dictionary)."""
    nt = tmp_path / "g.nt"
    nt.write_text(
        "<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .\n"
        '<http://ex.org/b> <http://ex.org/name> "Bob" .\n'
    )
    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    Engine(spark).load_triples(
        str(nt), fmt="nt", layout="sign_split"
    ).save(store, dict_path=dct)

    eng2 = Engine(spark).open(store, layout="sign_split", dict_path=dct)
    assert eng2.term_style == "lexical"
    got = sorted(
        map(
            tuple,
            eng2.sparql(
                "PREFIX ex: <http://ex.org/> "
                "SELECT ?n WHERE { ex:a ex:knows ?x . ?x ex:name ?n . }",
                decode=True,
            ).collect(),
        )
    )
    assert got == [('"Bob"',)]
    with pytest.raises(ValueError, match="nothing to save"):
        Engine(spark).open(store).save(store + "2", dict_path=dct + "2")


def test_graph_and_construct_over_lexical_quads(spark, tmp_path):
    """Close the named-graph loop at the SPARQL level: N-Quads ingest →
    attach_quads → GRAPH <iri> query with lexical constants; CONSTRUCT
    emits decoded lexical terms, and (r11) a template constant the
    dictionary lacks mints a fresh id through the query-sized append."""
    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.store import TripleStore

    nq = tmp_path / "d.nq"
    nq.write_text(
        "<http://e/a> <http://e/p> <http://e/b> .\n"
        "<http://e/a> <http://e/p> <http://e/c> <http://e/g1> .\n"
        '<http://e/b> <http://e/n> "x" <http://e/g1> .\n'
        "<http://e/c> <http://e/p> <http://e/a> <http://e/g2> .\n"
    )
    triples, quads, d = ingest_rdf(spark, str(nq), "nq")
    eng = Engine(
        spark,
        store=TripleStore(triples, layout="single"),
        dictionary=Dictionary(d, broadcast_hint=False),
        term_style="lexical",
    )
    eng.store.attach_quads(quads)
    got = sorted(
        map(
            tuple,
            eng.sparql(
                "SELECT ?s ?o WHERE "
                "{ GRAPH <http://e/g1> { ?s <http://e/p> ?o . } }",
                decode=True,
            ).collect(),
        )
    )
    assert got == [("<http://e/a>", "<http://e/c>")]
    built = sorted(
        map(
            tuple,
            eng.sparql(
                "CONSTRUCT { ?o <http://e/p> ?s } "
                "WHERE { ?s <http://e/p> ?o . }",
                decode=True,
            ).collect(),
        )
    )
    assert built == [("<http://e/b>", "<http://e/p>", "<http://e/a>")]
    # r11: a template constant the dictionary lacks MINTS an id (new
    # vocabulary is CONSTRUCT's normal business, §16.2's own example
    # emits vcard over foaf) — the local extension decodes it
    minted = sorted(
        map(
            tuple,
            eng.sparql(
                "CONSTRUCT { ?o <http://e/NOPE> ?s } "
                "WHERE { ?s <http://e/p> ?o . }",
                decode=True,
            ).collect(),
        )
    )
    assert minted == [("<http://e/b>", "<http://e/NOPE>", "<http://e/a>")]


def test_iri_and_strdt_constructors_lexical(spark, tmp_path):
    """IRI()/STRDT() construct terms in the AMBIENT style: on a lexical
    store IRI(CONCAT(...)) produces '<...>' that joins back to dictionary
    terms, and STRDT keeps a full '<datatype>' verbatim."""
    nt = tmp_path / "c.nt"
    nt.write_text(
        '<http://e/a> <http://e/code> "a" .\n'
        "<http://e/a> <http://e/p> <http://e/b> .\n"
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    # IRI over a computed string: must produce the stored '<http://e/b>'
    # form (string-function inputs here are query constants)
    got = eng.sparql(
        'SELECT ?u WHERE { ?s <http://e/p> ?o . '
        'BIND(IRI(CONCAT("http://e/", "b")) AS ?u) }',
    ).collect()
    assert [r["u"] for r in got] == ["<http://e/b>"]
    got = eng.sparql(
        'SELECT ?t WHERE { ?s <http://e/p> ?o . '
        'BIND(STRDT("a", <http://www.w3.org/2001/XMLSchema#token>) AS ?t) }',
    ).collect()
    assert [r["t"] for r in got] == [
        '"a"^^<http://www.w3.org/2001/XMLSchema#token>'
    ]


LEX_STR_NT = (
    '<http://e/a> <http://e/name> "Bob" .\n'
    '<http://e/b> <http://e/name> "Bob"@en .\n'
    '<http://e/c> <http://e/name> "Alice" .\n'
    '<http://e/d> <http://e/name> "say \\"hi\\"\\tnow" .\n'
    '<http://e/a> <http://e/age> '
    '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    '<http://e/b> <http://e/age> '
    '"39"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    '<http://e/c> <http://e/age> '
    '"40.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n'
    '_:blank <http://e/name> "Hidden Bob" .\n'
)

# §17.4.2.5 STR over lexical term text, as DuckDB SQL (the ECHAR subset
# this fixture uses): IRIs drop their brackets, literals unquote +
# unescape (escaped backslashes parked in a sentinel first), blank
# nodes are type errors (NULL)
DUCK_STRVAL = r"""
CASE
  WHEN o_term LIKE '<%' THEN substr(o_term, 2, length(o_term) - 2)
  WHEN o_term LIKE '"%' THEN
    replace(replace(replace(replace(replace(replace(
      regexp_extract(o_term, '^"((?:[^"\\]|\\.)*)"', 1),
      '\\', chr(1)), '\n', chr(10)), '\t', chr(9)), '\r', chr(13)),
      '\"', '"'), chr(1), '\')
  ELSE NULL
END
"""


def _lex_eng_and_duck(spark, tmp_path):
    nt = tmp_path / "strsem.nt"
    nt.write_text(LEX_STR_NT)
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s_term VARCHAR, p_term VARCHAR, o_term VARCHAR)")
    rows = [
        tuple(r)
        for r in parse_ntriples(spark, str(nt), on_error="fail").collect()
    ]
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    return eng, con


def test_lexical_str_semantics_duckdb_twin(spark, tmp_path):
    """String functions over variables on a LEXICAL store evaluate the
    spec STR value (§17.4.2.5: unquoted, unescaped lexical form; IRIs
    without brackets; blank nodes are type errors) — each query checked
    against a DuckDB twin computing the same derivation in SQL over the
    parsed term relation. Replaces the r9 raw-term-text caveat."""
    eng, con = _lex_eng_and_duck(spark, tmp_path)

    def spark_q(filt):
        return sorted(
            r[0]
            for r in eng.sparql(
                "SELECT ?s WHERE { ?s <http://e/name> ?x . "
                f"FILTER({filt}) }}",
                decode=True,
            ).collect()
        )

    def duck_q(pred):
        return sorted(
            r[0]
            for r in con.execute(
                "SELECT s_term FROM "
                f"(SELECT s_term, {DUCK_STRVAL} AS v FROM t "
                "WHERE p_term = '<http://e/name>') "
                f"WHERE {pred}"
            ).fetchall()
        )

    cases = [
        ('STR(?x) = "Bob"', "v = 'Bob'"),
        ('STR(?x) != "Bob"', "v <> 'Bob'"),
        ('CONTAINS(STR(?x), "ob")', "contains(v, 'ob')"),
        ('STRSTARTS(STR(?x), "Bo")', "starts_with(v, 'Bo')"),
        ('STRENDS(STR(?x), "ce")', "suffix(v, 'ce')"),
        ('REGEX(STR(?x), "^B.b$")', "regexp_matches(v, '^B.b$')"),
        ("STRLEN(STR(?x)) = 3", "length(v) = 3"),
        ('UCASE(STR(?x)) = "BOB"', "upper(v) = 'BOB'"),
        ('CONTAINS(STR(?x), "\\"hi\\"")', "contains(v, '\"hi\"')"),
    ]
    for sparql_f, duck_p in cases:
        got, want = spark_q(sparql_f), duck_q(duck_p)
        assert got == want, (sparql_f, got, want)
    # escaped-tab literal: the DERIVED value holds a real tab
    assert spark_q("STRLEN(STR(?x)) = 12") == duck_q("length(v) = 12")
    # STR over a BLANK NODE is a type error (§17.4.2.5 defines STR on
    # IRIs and literals only): the _:blank subject drops, IRIs match —
    # and STR of an IRI is its codepoints WITHOUT the angle brackets
    got = sorted(
        r[0]
        for r in eng.sparql(
            "SELECT ?s WHERE { ?s <http://e/name> ?x . "
            'FILTER(STRSTARTS(STR(?s), "http")) }',
            decode=True,
        ).collect()
    )
    assert got == sorted(
        r[0]
        for r in con.execute(
            "SELECT s_term FROM t WHERE p_term = '<http://e/name>' "
            "AND s_term LIKE '<http%'"
        ).fetchall()
    )
    assert "_:blank" not in got and len(got) == 4


def test_lexical_numeric_value_comparisons_duckdb_twin(spark, tmp_path):
    """Bare and integer-typed numeric FILTERs on a lexical store compare
    typed VALUES derived from the term text (§17.3) — never the
    rank-assigned ids (the r9 id-as-value caveat, deleted). Integer,
    decimal and mixed comparisons agree with a DuckDB twin casting the
    extracted lexicals."""
    eng, con = _lex_eng_and_duck(spark, tmp_path)

    def spark_q(filt):
        return sorted(
            r[0]
            for r in eng.sparql(
                "SELECT ?s WHERE { ?s <http://e/age> ?x . "
                f"FILTER({filt}) }}",
                decode=True,
            ).collect()
        )

    def duck_q(pred):
        return sorted(
            r[0]
            for r in con.execute(
                "SELECT s_term FROM "
                "(SELECT s_term, TRY_CAST(regexp_extract(o_term, "
                "'^\"(-?[0-9.eE+]+)\"', 1) AS DOUBLE) AS v "
                "FROM t WHERE p_term = '<http://e/age>') "
                f"WHERE {pred}"
            ).fetchall()
        )

    for sparql_f, duck_p in [
        ("?x > 40", "v > 40"),
        ("?x >= 40.5", "v >= 40.5"),
        ("?x < 40", "v < 40"),
        ("?x = 42", "v = 42"),
        ("?x != 42", "v <> 42"),
        (
            '?x > "40"^^<http://www.w3.org/2001/XMLSchema#integer>',
            "v > 40",
        ),
    ]:
        got, want = spark_q(sparql_f), duck_q(duck_p)
        assert got == want, (sparql_f, got, want)
    # sanity: the raw-id reading would have matched different subjects
    # (ids here are small ranks, all < 20)
    assert spark_q("?x > 40") == ["<http://e/a>", "<http://e/c>"]


def test_lexical_str_unicode_escapes(spark, tmp_path):
    """\\uXXXX and \\UXXXXXXXX escapes in stored lexical forms unescape
    in the derived STR value (hex → UTF-16 code units, JVM-side), and a
    parked escaped backslash before 'u' stays literal."""
    nt = tmp_path / "uni.nt"
    nt.write_text(
        '<http://e/a> <http://e/note> "caf\\u00e9" .\n'
        '<http://e/b> <http://e/note> "grin \\U0001F600" .\n'
        '<http://e/c> <http://e/note> "raw \\\\u0041" .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    got = {
        r[0]: r[1]
        for r in eng.sparql(
            "SELECT ?s ?v WHERE { ?s <http://e/note> ?x . "
            "BIND(STR(?x) AS ?v) }",
            decode=True,
        ).collect()
    }
    assert got["<http://e/a>"] == "café"
    assert got["<http://e/b>"] == "grin \U0001F600"
    assert got["<http://e/c>"] == "raw \\u0041"  # parked, not decoded


def test_lexical_var_var_ordered_comparison_rejects(spark, tmp_path):
    """Ordered ?x < ?y on a lexical store would compare rank ids —
    didactic reject (equality stays: term identity IS id identity)."""
    nt = tmp_path / "vv.nt"
    nt.write_text(LEX_STR_NT)
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    with pytest.raises(Exception, match="rank-assigned"):
        eng.sparql(
            "SELECT ?s WHERE { ?s <http://e/name> ?x . "
            "?s <http://e/age> ?y . FILTER(?x < ?y) }"
        )
    # equality between variables still compiles (term identity)
    assert (
        eng.sparql(
            "SELECT ?s WHERE { ?s <http://e/name> ?x . "
            "?s <http://e/age> ?y . FILTER(?x = ?y) }"
        ).count()
        == 0
    )


def test_lexical_having_and_decode_of_computed_columns(spark, tmp_path):
    """Two r10 follow-ups pinned: (a) HAVING bare-numeric comparisons
    over a PATTERN-VAR group key evaluate typed values on a lexical
    store (ids are ranks), while aggregate aliases keep plain value
    comparisons; (b) decode=True leaves computed columns (aggregate
    aliases, BIND targets) untouched instead of mis-decoding a COUNT
    into whatever term holds that rank."""
    nt = tmp_path / "h.nt"
    nt.write_text(
        '<http://e/a> <http://e/score> '
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/b> <http://e/score> '
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/c> <http://e/score> '
        '"7"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/a> <http://e/knows> <http://e/b> .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    # group key ?v holds integer-typed literals: HAVING(?v > 8) must
    # compare the VALUE 10 vs 8 — under rank semantics the ids here are
    # all < 10 and the answer would silently differ
    got = sorted(
        map(
            tuple,
            eng.sparql(
                "SELECT ?v (COUNT(?s) AS ?n) WHERE "
                "{ ?s <http://e/score> ?v } GROUP BY ?v HAVING(?v > 8)",
                decode=True,
            ).collect(),
        )
    )
    assert got == [
        ('"10"^^<http://www.w3.org/2001/XMLSchema#integer>', 2)
    ]
    # aggregate-alias HAVING still compares the computed count, and the
    # decoded output keeps ?n as the NUMBER 2 (not a rank-2 term)
    got = sorted(
        map(
            tuple,
            eng.sparql(
                "SELECT ?v (COUNT(?s) AS ?n) WHERE "
                "{ ?s <http://e/score> ?v } GROUP BY ?v HAVING(?n > 1)",
                decode=True,
            ).collect(),
        )
    )
    assert got == [
        ('"10"^^<http://www.w3.org/2001/XMLSchema#integer>', 2)
    ]


def test_lexical_strlang_strdt_reescape(spark, tmp_path):
    """STRLANG/STRDT on a lexical store re-escape the derived STR value
    when constructing term text (dictionary terms carry NT-escaped
    source bytes), so the constructed term matches stored entries
    byte-for-byte."""
    nt = tmp_path / "e.nt"
    nt.write_text(
        '<http://e/a> <http://e/note> "say \\"hi\\"" .\n'
        '<http://e/a> <http://e/note2> "say \\"hi\\""@en .\n'
    )
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    got = [
        r[0]
        for r in eng.sparql(
            "SELECT ?t WHERE { ?s <http://e/note> ?x . "
            'BIND(STRLANG(STR(?x), "en") AS ?t) }'
        ).collect()
    ]
    assert got == ['"say \\"hi\\""@en']
    # byte-identical to the stored tagged term: the id join closes
    assert eng.dictionary.lookup_terms(got) != {}
    got = [
        r[0]
        for r in eng.sparql(
            "SELECT ?t WHERE { ?s <http://e/note> ?x . "
            "BIND(STRDT(STR(?x), "
            "<http://www.w3.org/2001/XMLSchema#token>) AS ?t) }"
        ).collect()
    ]
    assert got == [
        '"say \\"hi\\""^^<http://www.w3.org/2001/XMLSchema#token>'
    ]


def test_decode_keeps_identity_binds(spark, tmp_path):
    """decode=True decodes an IDENTITY bind (BIND(?x AS ?y) copies an
    id column) while computed binds stay values (round-10 review)."""
    nt = tmp_path / "ib.nt"
    nt.write_text("<http://e/a> <http://e/p> <http://e/b> .\n")
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    row = eng.sparql(
        "SELECT ?x ?y ?n WHERE { ?x <http://e/p> ?o . "
        "BIND(?x AS ?y) BIND(1 + 1 AS ?n) }",
        decode=True,
    ).collect()[0]
    assert row["x"] == "<http://e/a>"
    assert row["y"] == "<http://e/a>"  # identity bind decodes
    assert row["n"] == 2  # computed bind stays a value
