"""Persisted-layout tests: write/read round-trip, partition pruning, and
pushed filters — the plan-level evidence for the 100 TB read path."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from rdfproject_msc_spark.sources.derived import triples_df
from rdfproject_msc_spark.store import TripleStore


@pytest.fixture(scope="module")
def persisted(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "triples")
    mem = TripleStore(triples_df(spark, sf_dir), layout="sign_split", cluster_by="s")
    mem.write(path)
    return mem, TripleStore.read(spark, path, layout="sign_split", cluster_by="s")


def test_roundtrip_same_rows(persisted):
    mem, disk = persisted
    assert mem.df.count() == disk.df.count()
    assert mem.positive.count() == disk.positive.count()
    assert mem._negative_raw.count() == disk._negative_raw.count()
    # spot-check exact content equality via anti-joins (order-free)
    assert mem.df.exceptAll(disk.df).count() == 0
    assert disk.df.exceptAll(mem.df).count() == 0


def test_sign_partition_pruning_in_plan(persisted):
    _, disk = persisted
    plan = disk.positive._jdf.queryExecution().executedPlan().toString()
    # sign is a Parquet partition column: the filter must appear as a
    # PartitionFilter (directory pruning), NOT a post-scan Filter node.
    assert "PartitionFilters" in plan and "sign" in plan
    assert "(sign" in plan.split("PartitionFilters")[1].split("]")[0]


def test_subject_filter_pushed_to_scan(persisted, spark):
    _, disk = persisted
    bound = disk.positive.filter(F.col("s") == 12)
    plan = bound._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "s" in pushed and "12" in pushed


def test_layout_invariance(spark, sf_dir, persisted):
    """Query results are invariant under layout choice — the equivalence the
    reference's four drivers assert informally by existing (SURVEY.md §5)."""
    from rdfproject_msc_spark import queries as Q
    from rdfproject_msc_spark.sources.derived import (
        P_IN_NATION,
        P_IN_REGION,
        P_PLACED_BY,
    )

    _, disk = persisted
    mem_single = TripleStore(triples_df(spark, sf_dir))
    a = Q.path_2hop(mem_single, 12, P_PLACED_BY, P_IN_NATION, P_IN_REGION)
    b = Q.path_2hop(disk, 12, P_PLACED_BY, P_IN_NATION, P_IN_REGION)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


NQ = """\
<urn:a> <urn:p> <urn:b> .
<urn:ev1> <urn:p> "x" <urn:g1> .
<urn:a> <urn:q> "y"@en <urn:g2> .
"""


def test_given_schemas_match_what_the_writers_write(spark, tmp_path):
    """``read``, ``read_quads`` and ``Engine.open`` give Spark the schema
    instead of inferring it from the Parquet footers. For every layout
    the writers produce (single, sign_split, quads partitioned by ``g``,
    the saved dictionary), reading with the given schema yields exactly
    what inference finds, partition columns included, so a change to a
    writer cannot silently desynchronize its reader."""
    from rdfproject_msc_spark.engine import DICTIONARY_SCHEMA, Engine
    from rdfproject_msc_spark.sources.ntriples import ingest_rdf
    from rdfproject_msc_spark.store import TRIPLE_SCHEMA

    (tmp_path / "g.nq").write_text(NQ)
    triples, quads, _ = ingest_rdf(spark, str(tmp_path / "g.nq"), "nq")
    (tmp_path / "g.nt").write_text(NQ.replace(" <urn:g1>", "").replace(
        " <urn:g2>", ""
    ))
    written = []
    for layout in ("single", "sign_split"):
        eng = Engine(spark).load_triples(
            str(tmp_path / "g.nt"), fmt="nt", layout=layout,
            negative_when="term LIKE '<urn:ev%'",
        )
        store, dct = str(tmp_path / layout), str(tmp_path / f"d{layout}")
        eng.save(store, dict_path=dct)
        eng.close()
        written += [(store, TRIPLE_SCHEMA), (dct, DICTIONARY_SCHEMA)]
    TripleStore(triples, quads=quads).write_quads(str(tmp_path / "quads"))
    written.append((str(tmp_path / "quads"), TRIPLE_SCHEMA))
    for path, schema in written:
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(schema).parquet(path).schema == inferred, path
    names = [spark.read.parquet(p).columns[-1] for p, _ in written[2::2]]
    assert names == ["sign", "g"]


def test_read_quads_with_g_as_a_data_column(spark, tmp_path):
    """Quads written without ``g`` directories still open: ``g`` is then
    a data column, which ``read_quads`` finds by inference."""
    rows = [(7, 1, 2, 3), (8, 1, 2, 4)]
    path = str(tmp_path / "quads")
    schema = "g long, s long, p long, o long"
    spark.createDataFrame(rows, schema).write.parquet(path)
    quads = TripleStore.read_quads(spark, path).select("g", "s", "p", "o")
    assert sorted(map(tuple, quads.collect())) == rows
