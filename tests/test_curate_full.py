"""End-to-end integration of the complete curation pipeline: every stage's
contract re-verified on the OUTPUT (the composed plan must not lose any
stage's guarantee), plus determinism across independent runs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rdfproject_msc_spark.operators.curate import curate_full
from rdfproject_msc_spark.sources.tables import load_table


def _inputs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 41 == 3)
    corpus = docs.filter(F.col("doc_id") % 41 != 3)
    return corpus, bench


def test_curate_full_contracts(spark, sf_dir):
    corpus, bench = _inputs(spark, sf_dir)
    out = curate_full(corpus, bench).cache()
    n_in, n_out = corpus.count(), out.count()
    assert 0 < n_out <= n_in

    # every stage's guarantee holds on the final output
    rows = out.collect()
    cols = out.columns
    for need in (
        "doc_id", "text", "quality_score", "top_bigram_frac",
        "dup_trigram_frac", "bits_per_token", "embedding", "n_redactions",
    ):
        assert need in cols, need
    texts = [r.text for r in rows]
    assert len(set(texts)) == len(texts)  # exact-dedup survives composition
    for r in rows:
        assert r.quality_score >= 0.3
        assert r.top_bigram_frac <= 0.5
        assert r.dup_trigram_frac <= 0.5
        assert r.bits_per_token <= 20.0
        nrm = float(np.linalg.norm(np.array(r.embedding)))
        assert abs(nrm - 1.0) < 1e-5 or nrm == 0.0

    # decontamination really removed the contaminated docs: recompute the
    # report on the INPUT and check none of its flagged ids survived
    from rdfproject_msc_spark.operators.decontam import ngram_contamination
    from rdfproject_msc_spark.operators.textclean import with_clean_text

    cleaned = with_clean_text(corpus).withColumn("text", F.col("text_clean"))
    flagged = {
        r.doc_id
        for r in ngram_contamination(cleaned, bench, n=5, threshold=0.5)
        .filter("contaminated")
        .collect()
    }
    survived = {r.doc_id for r in rows}
    assert not (flagged & survived)


def test_curate_full_deterministic(spark, sf_dir):
    corpus, bench = _inputs(spark, sf_dir)
    a = curate_full(corpus, bench).select("doc_id", "bits_per_token").collect()
    b = curate_full(corpus, bench).select("doc_id", "bits_per_token").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cli_curate(spark, sf_dir, tmp_path):
    """The curate subcommand runs the full pipeline over a documents
    parquet and persists ANN-ready output (no benchmark → decontamination
    flags nothing, pipeline still runs)."""
    import os

    from rdfproject_msc_spark.cli import main

    out = str(tmp_path / "curated")
    rc = main(
        [
            "curate",
            "--docs", os.path.join(sf_dir, "documents.parquet"),
            "--out", out,
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert 0 < got.count() <= 500
    for c in ("doc_id", "text", "embedding", "bits_per_token"):
        assert c in got.columns


def test_prepare_training_set_contracts(spark, sf_dir):
    """documents → packed training sequences: per-stage contracts
    re-verified on the composed output — curation filtered, mixture
    multiplicities honored, every chunk within the token window, packs
    within budget (except single over-budget examples), ordering
    deterministic across runs."""
    from pyspark.sql import functions as F

    from rdfproject_msc_spark.operators.curate import prepare_training_set
    from rdfproject_msc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("1 = 0")
    out = prepare_training_set(
        docs,
        bench,
        mixture_rates={"src0": 2.0, "src1": 0.0},
        max_tokens=32,
        overlap=8,
        pack_budget=128,
    )
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) >= {
        "doc_id", "copy", "chunk_id", "chunk", "n_tokens", "pack_id",
    }
    # chunk windows respect max_tokens
    assert all(1 <= r.n_tokens <= 32 for r in rows)
    # mixture: src0 docs appear with copies {0,1}; src1 vanished entirely
    srcs = {r.doc_id: r for r in docs.select("doc_id", "source").collect()}
    copies = {}
    for r in rows:
        copies.setdefault(r.doc_id, set()).add(r.copy)
    for did, cset in copies.items():
        if srcs[did].source == "src0":
            assert cset == {0, 1}, (did, cset)
        else:
            assert srcs[did].source != "src1"
            assert cset == {0}
    # pack assignment is by RUNNING-OFFSET (pack k covers prefix tokens
    # [k·B, (k+1)·B)): a pack's payload can exceed the budget only by the
    # straddling example's tail, i.e. < budget + max_tokens
    per_pack = (
        out.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("n"))
        .collect()
    )
    assert all(p.t < 128 + 32 for p in per_pack)
    # determinism
    again = prepare_training_set(
        docs, bench,
        mixture_rates={"src0": 2.0, "src1": 0.0},
        max_tokens=32, overlap=8, pack_budget=128,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_curate_scans_documents_once(spark, sf_dir):
    """The curate pushdown barrier keeps the LSH and stats consumers on one
    shared subtree: the executed corpus_curate plan reads the documents
    table exactly once."""
    from rdfproject_msc_spark.registry import corpus_curate

    df = corpus_curate(spark, sf_dir)
    df.collect()  # read the plan that ran, not a fresh count() plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, scans
    assert "documents" in scans[0], scans
