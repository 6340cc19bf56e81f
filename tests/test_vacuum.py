"""Engine.vacuum() + ingest-cache lifecycle: after a DELETE-heavy
update chain, dead dictionary terms drop (one anti-join), the stacked
copy-on-write lineage is cut, and the ingest caches release — with
query answers preserved bit-for-bit (ids included) by default, and
decoded answers preserved under reindex=True (dense ids again)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.engine import Engine

EX = "http://ex.org/"

NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}a> <{EX}name> "Alice" .
<{EX}b> <{EX}name> "Bob" .
<{EX}c> <{EX}only> "unique-object" .
"""


def make_engine(spark, tmp_path) -> Engine:
    p = tmp_path / "v.nt"
    p.write_text(NT)
    return Engine(spark).load_triples(str(p), fmt="nt", layout="single")


def encoded_set(eng):
    return sorted(map(tuple, eng.store.df.collect()))


def decoded_set(eng):
    return sorted(map(tuple, eng.decode(eng.store.df).collect()))


def test_vacuum_drops_exactly_the_dead_terms(spark, tmp_path):
    """Deleting the only triple using <only> and "unique-object" leaves
    exactly those two terms dead; vacuum drops them and nothing else,
    and the surviving store is bit-for-bit identical (same ids)."""
    eng = make_engine(spark, tmp_path)
    eng.update(f'DELETE DATA {{ <{EX}c> <{EX}only> "unique-object" . }}')
    enc_before = encoded_set(eng)
    dec_before = decoded_set(eng)
    live_terms = {
        t for row in dec_before for t in row
    }
    n_dict = eng.dictionary.df.count()
    stats = eng.vacuum()
    assert stats == {
        "terms_before": n_dict,
        "terms_after": len(live_terms),
        "dropped": n_dict - len(live_terms),
    }
    assert stats["dropped"] == 2  # <...only> + "unique-object"
    assert encoded_set(eng) == enc_before  # ids preserved exactly
    assert decoded_set(eng) == dec_before
    gone = eng.dictionary.lookup_terms([f"<{EX}only>", '"unique-object"'])
    assert gone == {}
    # SPARQL still answers over the compacted snapshot
    got = [
        r[0]
        for r in eng.sparql(
            f"SELECT ?x WHERE {{ <{EX}a> <{EX}knows> ?x }}", decode=True
        ).collect()
    ]
    assert got == [f"<{EX}b>"]


def test_vacuum_reindex_dense_ids_same_answers(spark, tmp_path):
    """reindex=True re-ranks survivors into a dense signed id space
    (lexicographic within the original sign class) and rewrites the
    store through the mapping — decoded answers identical."""
    eng = make_engine(spark, tmp_path)
    eng.update(
        f'DELETE DATA {{ <{EX}c> <{EX}only> "unique-object" . '
        f'<{EX}a> <{EX}name> "Alice" . }}'
    )
    dec_before = decoded_set(eng)
    stats = eng.vacuum(reindex=True)
    assert stats["dropped"] == 3  # <only>, "unique-object", "Alice"
    assert decoded_set(eng) == dec_before
    d = {r["id"]: r["term"] for r in eng.dictionary.df.collect()}
    ids = sorted(d)
    # dense 1..P (this fixture has no negative class)
    assert ids == list(range(1, len(ids) + 1))
    # rank = lexicographic order of the surviving terms
    assert [d[i] for i in ids] == sorted(d.values())
    eng.dictionary.validate()
    got = sorted(
        r[0]
        for r in eng.sparql(
            f"SELECT ?s WHERE {{ ?s <{EX}knows> ?o }}", decode=True
        ).collect()
    )
    assert got == [f"<{EX}a>", f"<{EX}b>"]


def test_vacuum_reindex_refuses_dictionary_absent_ids(
    spark, sf_dir, tmp_path
):
    """r10 ADVICE (medium): on a localized-convention store holding raw
    integer ids absent from the dictionary (the reference model's
    integer-literal shorthand), reindex=True would rewrite the store
    through the old→new mapping — built from dictionary terms only —
    and silently DELETE every triple carrying such an id. The guard
    refuses; reindex=False still vacuums (raw ids pass through)."""
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
        str(tmp_path / "triples"), str(tmp_path / "dict"), layout="single"
    )
    eng.update("INSERT DATA { 91001 91002 91003 }")
    n0 = eng.store.df.count()
    with pytest.raises(ValueError, match="not dictionary terms"):
        eng.vacuum(reindex=True)
    assert eng.store.df.count() == n0  # the refusal left the store alone
    eng.vacuum()  # id-preserving vacuum is still safe here
    assert eng.store.df.count() == n0
    assert (91001, 91002, 91003) in set(map(tuple, eng.store.df.collect()))


def test_vacuum_releases_ingest_caches(spark, tmp_path):
    """load_triples(fmt='nt') registers every persisted ingest frame;
    vacuum materializes the compacted snapshot then unpersists them
    all (close() does the same without compacting)."""
    eng = make_engine(spark, tmp_path)
    eng.store.df.count()  # materialize so the caches fill
    cached = list(eng._ingest_caches)
    assert cached and any(df.storageLevel.useMemory for df in cached)
    eng.vacuum()
    assert eng._ingest_caches == []
    assert all(not df.storageLevel.useMemory for df in cached)
    # the compacted engine still answers (nothing read the dropped caches)
    assert eng.store.df.count() == 5


def test_close_and_context_manager_release(spark, tmp_path):
    p = tmp_path / "c.nt"
    p.write_text(NT)
    with Engine(spark).load_triples(str(p), fmt="nt") as eng:
        eng.store.df.count()
        cached = list(eng._ingest_caches)
        assert cached
    assert eng._ingest_caches == []
    assert all(not df.storageLevel.useMemory for df in cached)


def test_vacuum_with_quads_preserves_graph_answers(spark, tmp_path):
    """Vacuum counts quad references too: a term used ONLY in a named
    graph survives, and GRAPH answers are unchanged (both modes)."""
    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sources.ntriples import ingest_rdf
    from rdfproject_msc_spark.store import TripleStore

    nq = tmp_path / "v.nq"
    nq.write_text(
        f"<{EX}a> <{EX}p> <{EX}b> .\n"
        f"<{EX}a> <{EX}p> <{EX}c> <{EX}g1> .\n"
        f"<{EX}c> <{EX}p> <{EX}a> <{EX}g2> .\n"
    )
    triples, quads, d = ingest_rdf(spark, str(nq), "nq")
    eng = Engine(
        spark,
        store=TripleStore(triples, layout="single"),
        dictionary=Dictionary(d, broadcast_hint=False),
        term_style="lexical",
    )
    eng.store.attach_quads(quads)
    q = (
        f"SELECT ?s ?o WHERE {{ GRAPH <{EX}g1> "
        f"{{ ?s <{EX}p> ?o . }} }}"
    )
    before = sorted(map(tuple, eng.sparql(q, decode=True).collect()))
    stats = eng.vacuum()
    assert stats["dropped"] == 0  # every term referenced somewhere
    assert sorted(map(tuple, eng.sparql(q, decode=True).collect())) == before
    stats = eng.vacuum(reindex=True)
    assert stats["dropped"] == 0
    assert sorted(map(tuple, eng.sparql(q, decode=True).collect())) == before
    eng.dictionary.validate()


def test_vacuum_requires_dictionary(spark, tmp_path):
    from rdfproject_msc_spark.store import TripleStore

    eng = Engine(
        spark,
        store=TripleStore(
            spark.createDataFrame([(1, 2, 3)], "s long, p long, o long"),
            layout="single",
        ),
    )
    with pytest.raises(ValueError, match="dictionary"):
        eng.vacuum()


def test_cli_vacuum(spark, tmp_path, capsys):
    """CLI lifecycle: ingest → update (delete) → vacuum --reindex →
    query the compacted snapshot."""
    from rdfproject_msc_spark.cli import main

    nt = tmp_path / "c.nt"
    nt.write_text(NT)
    store, dct = str(tmp_path / "s"), str(tmp_path / "d")
    assert main(["ingest", "--nt", str(nt), "--out", store,
                 "--dict-out", dct]) == 0
    s2, d2 = str(tmp_path / "s2"), str(tmp_path / "d2")
    assert main(
        ["update", "--store", store, "--dict", dct,
         "--request",
         f'DELETE DATA {{ <{EX}c> <{EX}only> "unique-object" . }}',
         "--out", s2, "--dict-out", d2]
    ) == 0
    s3, d3 = str(tmp_path / "s3"), str(tmp_path / "d3")
    with pytest.raises(SystemExit, match="must differ"):
        main(["vacuum", "--store", s2, "--dict", d2,
              "--out", s2, "--dict-out", d3])
    assert main(
        ["vacuum", "--store", s2, "--dict", d2, "--out", s3,
         "--dict-out", d3, "--reindex"]
    ) == 0
    assert "2 dropped" in capsys.readouterr().out
    d_df = spark.read.parquet(d3)
    ids = sorted(r["id"] for r in d_df.collect())
    assert ids == list(range(1, len(ids) + 1))  # dense after reindex
    rc = main(
        ["sparql", "--store", s3, "--dict", d3, "--dict-format",
         "parquet", "--decode", "--query",
         f"SELECT ?x WHERE {{ <{EX}a> <{EX}knows> ?x }}"]
    )
    assert rc == 0
