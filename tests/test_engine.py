"""Engine facade test: the full text→layout→SQL/SPARQL→decode lifecycle
through the public API."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark import Engine
from rdfproject_msc_spark.sources.derived import dictionary_df, triples_df


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("engine")
    triples_df(spark, sf_dir).write.mode("overwrite").csv(
        str(base / "triples"), sep=" "
    )
    dictionary_df(spark, sf_dir).write.mode("overwrite").csv(
        str(base / "dict"), sep="\t"
    )
    return Engine(spark).load_triples(
        str(base / "triples"),
        str(base / "dict"),
        layout="sign_split",
        cluster_by="s",
    )


def test_sql_path(engine):
    df = engine.sql("SELECT count(*) AS n FROM Positive")
    assert df.collect()[0].n > 0


def test_sparql_path_with_decode(engine):
    df = engine.sparql(
        "SELECT ?c ?n WHERE { :order_1 :placedBy ?c . ?c :inNation ?n . }",
        decode=True,
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].c.startswith(":customer_")
    assert rows[0].n.startswith(":nation_")


def test_save_open_roundtrip(engine, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("persist") / "store")
    engine.save(path)
    e2 = Engine(spark, dictionary=engine.dictionary).open(
        path, layout="sign_split", cluster_by="s"
    )
    a = engine.sparql("SELECT ?e WHERE { ?e :byUser :customer_7 . }")
    b = e2.sparql("SELECT ?e WHERE { ?e :byUser :customer_7 . }")
    assert sorted(r.e for r in a.collect()) == sorted(r.e for r in b.collect())


def test_sparql_strict_terms_mode(engine):
    """r11: the default raises on a dictionary-absent constant (typo
    guard); strict_terms=False resolves it to the never-assigned
    sentinel — the spec's EMPTY result for a term the graph lacks."""
    from rdfproject_msc_spark.dictionary import DictionaryError

    q = "SELECT ?x WHERE { ?x :placedBy :no_such_customer_xyz . }"
    with pytest.raises(DictionaryError, match="not in dictionary"):
        engine.sparql(q).collect()
    assert engine.sparql(q, strict_terms=False).collect() == []


def test_errors_without_store(spark):
    e = Engine(spark)
    with pytest.raises(ValueError, match="no triples loaded"):
        e.sparql("SELECT ?x WHERE { ?x :p ?y . }")


def test_cli_sparql_run_and_explain(engine, spark, tmp_path_factory, capsys):
    """CLI sparql subcommand end-to-end over a persisted store, plus the
    --explain flag (prints the formatted physical plan, executes
    nothing)."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.derived import dictionary_df

    base = tmp_path_factory.mktemp("cli_store")
    store_path = str(base / "store")
    engine.save(store_path)
    dict_path = str(base / "dict")
    dictionary_df(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).csv(dict_path, sep="\t")

    q = "SELECT ?c WHERE { :order_1 :placedBy ?c }"
    rc = main(
        [
            "sparql",
            "--store", store_path,
            "--dict", dict_path,
            "--query", q,
            "--show", "5",
        ]
    )
    assert rc == 0
    assert "c" in capsys.readouterr().out

    rc = main(
        [
            "sparql",
            "--store", store_path,
            "--dict", dict_path,
            "--query", q,
            "--explain",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan" in out


def test_cli_load_then_sql(engine, spark, sf_dir, tmp_path_factory, capsys):
    """CLI ``load`` persists the reference's text triples, and ``sql``
    over that store answers as ``Engine.sql`` does."""
    import re

    from rdfproject_msc_spark.cli import main

    base = tmp_path_factory.mktemp("cli_load")
    triples_df(spark, sf_dir).write.mode("overwrite").csv(
        str(base / "triples"), sep=" "
    )
    dictionary_df(spark, sf_dir).write.mode("overwrite").csv(
        str(base / "dict"), sep="\t"
    )
    store_path = str(base / "store")
    q = "SELECT count(*) AS n FROM Positive"
    want = engine.sql(q).collect()[0].n
    assert main([
        "load", "--triples", str(base / "triples"), "--dict",
        str(base / "dict"), "--layout", "sign_split", "--cluster-by", "s",
        "--out", store_path,
    ]) == 0
    n = spark.read.parquet(store_path).count()
    assert f"persisted {n} triples to {store_path} " in capsys.readouterr().out
    assert main(["sql", "--store", store_path, "--query", q]) == 0
    assert re.findall(r"^\|(\d+)\s*\|$", capsys.readouterr().out, re.M) == [
        str(want)
    ]
    engine.store.register(spark, "table")  # the CLI re-registered the views


def test_engine_quads_lifecycle(engine, spark, tmp_path_factory, capsys):
    """Named graphs through the public API: attach a quad relation,
    answer a GRAPH query, persist with save(quads_path=...), reopen via
    load_quads, and drive the CLI --quads flag end-to-end."""
    from pyspark.sql import functions as F

    from rdfproject_msc_spark.cli import main

    base = tmp_path_factory.mktemp("engine_quads")
    quads = engine.store.df.select(
        (F.abs(F.col("s")) % F.lit(4)).alias("g"), "s", "p", "o"
    )
    engine.store.attach_quads(quads)
    q = "SELECT ?g ?e WHERE { GRAPH ?g { ?e :byUser :customer_7 } }"
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert a  # customer_7 has events at sf0.001
    assert all(0 <= g <= 3 for g, _ in a)

    store_path = str(base / "store")
    quads_path = str(base / "quads")
    engine.save(store_path, quads_path=quads_path)
    e2 = Engine(spark, dictionary=engine.dictionary).open(
        store_path, layout="sign_split", cluster_by="s"
    ).load_quads(quads_path)
    assert sorted(map(tuple, e2.sparql(q).collect())) == a

    dict_path = str(base / "dict")
    dictionary_df(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).csv(dict_path, sep="\t")
    rc = main(
        [
            "sparql",
            "--store", store_path,
            "--quads", quads_path,
            "--dict", dict_path,
            "--query", "SELECT ?e WHERE { GRAPH 1 { ?e :hasType ?t } }",
            "--show", "3",
        ]
    )
    assert rc == 0
    assert "e" in capsys.readouterr().out


def test_cli_split_and_dedup_passages(spark, sf_dir, tmp_path_factory, capsys):
    """The r7 pipeline subcommands end-to-end: leakage-safe split writes
    a split-partitioned layout (the quarantine bucket present when the
    synthetic corpus leaks), and passage dedup reports removed spans."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_r7")
    docs_path = str(base / "docs")
    load_table(spark, sf_dir, "documents").write.parquet(docs_path)

    out_split = str(base / "split")
    rc = main(["split", "--docs", docs_path, "--out", out_split])
    assert rc == 0
    assert "split sizes" in capsys.readouterr().out
    splits = {
        r["split"]
        for r in spark.read.parquet(out_split).select("split").distinct().collect()
    }
    assert {"train", "val", "test"} <= splits

    out_pd = str(base / "pd")
    rc = main(
        ["dedup-passages", "--docs", docs_path, "--out", out_pd, "--k", "3"]
    )
    assert rc == 0
    assert "duplicates removed" in capsys.readouterr().out
    import pyspark.sql.functions as F

    dropped = (
        spark.read.parquet(out_pd)
        .agg(F.sum("n_dropped").alias("d"))
        .collect()[0]["d"]
    )
    assert dropped > 0


def test_cli_quality_and_decontaminate(spark, sf_dir, tmp_path_factory, capsys):
    """The r8 pipeline subcommands end-to-end: model-based quality scoring
    with the built-in reference classifier (and --keep-only filtering),
    and the standalone decontamination report with the Bloom pre-filter
    producing the same flags as the plain path."""
    import pyspark.sql.functions as F

    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_r8")
    docs_path = str(base / "docs")
    bench_path = str(base / "bench")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 41 != 3).write.parquet(docs_path)
    docs.filter(F.col("doc_id") % 41 == 3).write.parquet(bench_path)

    out_q = str(base / "scored")
    rc = main(["quality", "--docs", docs_path, "--out", out_q])
    assert rc == 0
    assert "quality:" in capsys.readouterr().out
    scored = spark.read.parquet(out_q)
    assert scored.count() == spark.read.parquet(docs_path).count()
    assert {"doc_id", "quality_prob", "kept"} <= set(scored.columns)

    out_d = str(base / "report")
    rc = main(
        ["decontaminate", "--docs", docs_path, "--benchmark", bench_path,
         "--out", out_d, "--ngram", "3", "--bloom-fpp", "0.01"]
    )
    assert rc == 0
    assert "decontaminate:" in capsys.readouterr().out
    got = spark.read.parquet(out_d)
    assert got.filter(F.col("n_matched") > 0).count() > 0

    out_s = str(base / "split_bloom")
    rc = main(
        ["split", "--docs", docs_path, "--out", out_s, "--bloom-fpp", "0.01"]
    )
    assert rc == 0
    assert "split sizes" in capsys.readouterr().out


def test_cli_select_budget(spark, sf_dir, tmp_path_factory, capsys):
    """r8 budgeted selection end-to-end: score with the reference
    classifier, keep the greedy prefix that fits the token budget."""
    import pyspark.sql.functions as F

    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_sel")
    docs_path = str(base / "docs")
    load_table(spark, sf_dir, "documents").write.parquet(docs_path)
    out = str(base / "selected")
    rc = main(["select", "--docs", docs_path, "--out", out,
               "--budget", "5000", "--keep-only"])
    assert rc == 0
    assert "select:" in capsys.readouterr().out
    sel = spark.read.parquet(out)
    assert sel.count() > 0
    assert sel.agg(F.max("cum_tokens")).collect()[0][0] <= 5000


def test_cli_dsir(spark, sf_dir, tmp_path_factory, capsys):
    """r8 DSIR selection end-to-end: hashed n-gram importance sample of
    the raw corpus toward a target corpus."""
    import pyspark.sql.functions as F

    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_dsir")
    docs = load_table(spark, sf_dir, "documents")
    raw_path = str(base / "raw")
    tgt_path = str(base / "target")
    docs.filter(F.col("doc_id") % 13 != 0).write.parquet(raw_path)
    docs.filter(F.col("doc_id") % 13 == 0).write.parquet(tgt_path)
    out = str(base / "selected")
    rc = main(["dsir", "--raw", raw_path, "--target", tgt_path,
               "--out", out, "--k", "10", "--buckets", "512"])
    assert rc == 0
    assert "selected 10 documents" in capsys.readouterr().out
    sel = spark.read.parquet(out)
    assert sel.count() == 10
    assert set(sel.columns) == {"doc_id", "n_feats", "log_weight", "select_key"}


def test_cli_export_shards(spark, sf_dir, tmp_path_factory, capsys):
    """r8 training-shard export end-to-end: shuffled JSONL shards plus a
    manifest whose counts cover the corpus."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_exp")
    docs_path = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.parquet(docs_path)
    out = str(base / "shards")
    rc = main(["export", "--docs", docs_path, "--out", out,
               "--shards", "4", "--seed", "7"])
    assert rc == 0
    assert f"exported {docs.count()} rows" in capsys.readouterr().out
    assert spark.read.json(out).count() == docs.count()


def test_cli_neardup_ingest_loop(spark, sf_dir, tmp_path_factory, capsys):
    """r8 incremental near-dup loop: build the index, probe a delivery,
    append it, probe the next — each probe's pairs land as parquet."""
    import pyspark.sql.functions as F

    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_nd")
    docs = load_table(spark, sf_dir, "documents")
    held, d1 = str(base / "held"), str(base / "d1")
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(held)
    docs.filter(F.col("doc_id") % 3 == 1).write.parquet(d1)
    idx, out = str(base / "idx"), str(base / "pairs")
    rc = main(["neardup", "--index", idx, "--build", held])
    assert rc == 0
    rc = main(["neardup", "--index", idx, "--probe", d1, "--out", out,
               "--append", d1])
    assert rc == 0
    assert "near-dup pairs" in capsys.readouterr().out
    pairs = spark.read.parquet(out)
    assert pairs.count() > 0
    assert set(pairs.columns) == {"id_left", "id_right", "jaccard"}


def test_cli_report(spark, sf_dir, tmp_path_factory, capsys):
    """r8 corpus report end-to-end."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_rep")
    docs_path = str(base / "docs")
    load_table(spark, sf_dir, "documents").write.parquet(docs_path)
    rc = main(["report", "--docs", docs_path])
    assert rc == 0
    out = capsys.readouterr().out
    assert "n_docs:" in out and "dup_rate:" in out


def test_cli_tokenize(spark, sf_dir, tmp_path_factory, capsys):
    """r8 tokenization end-to-end."""
    from rdfproject_msc_spark.cli import main
    from rdfproject_msc_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("cli_tok")
    docs_path = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.parquet(docs_path)
    out = str(base / "ids")
    rc = main(["tokenize", "--docs", docs_path, "--out", out,
               "--vocab-size", "4096", "--max-len", "128", "--pad"])
    assert rc == 0
    assert "tokenized" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    row = back.head()
    assert len(row["input_ids"]) == 128
