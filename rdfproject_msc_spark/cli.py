"""Command-line interface: one table of subcommands over one engine.

    python -m rdfproject_msc_spark load   --triples T.txt --dict D.tsv \
        --layout sign_split --cluster-by s --out /data/store
    python -m rdfproject_msc_spark sql    --store /data/store \
        --query "SELECT count(*) AS n FROM Positive"
    python -m rdfproject_msc_spark sparql --store /data/store --dict D.tsv \
        --query "SELECT ?x WHERE { ?x :byUser :customer_7 . }" --decode
    python -m rdfproject_msc_spark run    --name tpch_q1 --sf-dir /root/testdata/sf0.001
    python -m rdfproject_msc_spark search --docs docs.parquet \
        --query "spark hash join" --k 10        # or --index after --build-index

``COMMANDS`` lists the 22 subcommands, each an entry ``(name, help,
add_arguments(parser), run(args) -> int)``. ``main`` builds one
subparser per entry, adds ``--cpus`` to each, and calls the entry's
``run``. To add a subcommand, write its two functions and append its
entry. A ``run`` makes every check that needs no Spark first and only
then starts a session through ``_spark``, so a flag mistake costs no
session start. The six commands over a persisted store declare their
flags with ``_add_store`` and open it with ``_open``; the four that
print a result declare ``--show``/``--out`` with ``_add_output`` and
print it with ``_emit``; commands that write Parquet use ``_write``.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

_LAYOUTS = ("single", "sign_split")


def _spark(cpus: int | None):
    from rdfproject_msc_spark.session import get_spark

    return get_spark(app_name="rdfspark-cli", cpus=cpus)


def _must_differ(a: str | None, b: str | None, message: str) -> None:
    """Exit with ``message`` when ``a`` and ``b`` name the same path: a
    command that reads one snapshot while writing the next must not
    overwrite what it still reads. Checked before Spark starts."""
    if a and b and os.path.realpath(a) == os.path.realpath(b):
        raise SystemExit(message)


def _add_output(p: argparse.ArgumentParser) -> None:
    p.add_argument("--show", type=int, default=20, help="rows to print")
    p.add_argument("--out", default=None, help="write result as CSV here")


def _emit(df, args) -> None:
    if args.out:
        from rdfproject_msc_spark.sources.triples import write_result_csv

        write_result_csv(df, args.out)
    df.show(args.show, truncate=False)


def _write(df, path: str, partition_by: str | None = None):
    """Overwrite ``path`` with ``df`` as Parquet, partitioned by the
    ``partition_by`` column if one is given; returns the read of what
    was written, so counts scan the files instead of running ``df``
    again."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return df.sparkSession.read.parquet(path)


def _add_store(
    p: argparse.ArgumentParser,
    dict_required: bool | None = True,
    dict_format: str | None = None,
    term_style: bool = True,
    quads: str | None = None,
) -> None:
    """The flags that name a persisted store for ``_open``: ``--store``
    and ``--layout``, ``--dict`` (required, optional, or absent when
    ``dict_required`` is None), ``--dict-format`` with the default
    ``dict_format`` (absent when None: the dictionary is parquet),
    ``--term-style``, and ``--quads`` with the help ``quads`` (absent
    when None). An absent flag reads as its default."""
    p.set_defaults(
        dict_path=None, dict_format="parquet", term_style=None, quads=None
    )
    p.add_argument("--store", required=True)
    p.add_argument("--layout", choices=_LAYOUTS, default="sign_split")
    if dict_required is not None:
        p.add_argument(
            "--dict", dest="dict_path", required=dict_required,
            help="dictionary path (format per --dict-format)" if dict_format
            else "dictionary parquet (ingest-built)",
        )
    if dict_format:
        p.add_argument(
            "--dict-format", choices=("tsv", "parquet"), default=dict_format,
            help="tsv = the reference's id<TAB>term format (localized "
            "SPARQL constants); parquet = an `ingest`-built dictionary "
            "(full lexical forms — term style flips to lexical)",
        )
    if term_style:
        p.add_argument(
            "--term-style", choices=("localized", "lexical"), default=None,
            help="override the constant convention (default lexical with "
            "a parquet dictionary, else localized)",
        )
    if quads:
        p.add_argument("--quads", default=None, help=quads)


def _open(args):
    """Start Spark and open the store the ``_add_store`` flags name, its
    quads and its dictionary. A parquet dictionary is ingest-built:
    ``open`` reads it without a broadcast hint and switches constants to
    lexical forms; a TSV one is the reference's format."""
    from rdfproject_msc_spark.engine import Engine

    parquet = args.dict_format == "parquet"
    eng = Engine(_spark(args.cpus)).open(
        args.store,
        layout=args.layout,
        dict_path=args.dict_path if parquet else None,
        term_style=args.term_style,
    )
    if args.quads:
        eng.load_quads(args.quads)
    if args.dict_path and not parquet:
        from rdfproject_msc_spark.dictionary import Dictionary
        from rdfproject_msc_spark.sources.triples import read_dictionary_tsv

        eng.dictionary = Dictionary(read_dictionary_tsv(eng.spark, args.dict_path))
    return eng


def _load_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--triples", required=True)
    p.add_argument("--dict", dest="dict_path", default=None)
    p.add_argument("--fmt", choices=("text", "parquet"), default="text")
    p.add_argument("--layout", choices=_LAYOUTS, default="single")
    p.add_argument("--cluster-by", choices=("s", "p"), default=None)
    p.add_argument("--out", required=True)


def _load(args) -> int:
    from rdfproject_msc_spark.engine import Engine

    eng = Engine(_spark(args.cpus)).load_triples(
        args.triples,
        args.dict_path,
        fmt=args.fmt,
        layout=args.layout,
        cluster_by=args.cluster_by,
    )
    eng.save(args.out)
    n = eng.store.df.count()
    print(f"persisted {n} triples to {args.out} "
          f"(layout={args.layout}, cluster_by={args.cluster_by})")
    return 0


def _ingest_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--nt", default=None, help="N-Triples file/dir")
    p.add_argument("--nq", default=None, help="N-Quads file/dir")
    p.add_argument("--ttl", default=None,
                   help="Turtle file/dir (parsed per file)")
    p.add_argument("--trig", default=None,
                   help="TriG file/dir (parsed per file; named-graph "
                   "blocks land in --quads-out)")
    p.add_argument("--rdfxml", default=None,
                   help="RDF/XML file/dir (parsed per file - the "
                   "ontology-interchange format)")
    p.add_argument("--jsonld", default=None,
                   help="JSON-LD file/dir (parsed per file - "
                   "inline contexts only)")
    p.add_argument("--out", required=True, help="store output dir")
    p.add_argument("--dict-out", required=True,
                   help="dictionary parquet output dir")
    p.add_argument("--quads-out", default=None,
                   help="named-graph quads output dir (--nq/--trig)")
    p.add_argument("--dict-in", default=None,
                   help="existing dictionary parquet: incremental "
                   "ingest — unseen terms append, existing ids kept")
    p.add_argument("--negative-when", default=None,
                   help="SQL bool expr over `term` choosing the "
                   "Negative sign class (e.g. \"term LIKE '_:%%'\")")
    p.add_argument("--layout", choices=_LAYOUTS, default="sign_split")
    p.add_argument("--on-error", choices=("skip", "fail"), default="skip")


def _ingest(args) -> int:
    from rdfproject_msc_spark.sources.ntriples import ingest_rdf
    from rdfproject_msc_spark.store import TripleStore

    given = [
        (fmt, getattr(args, fmt))
        for fmt in ("nt", "nq", "ttl", "trig", "rdfxml", "jsonld")
        if getattr(args, fmt)
    ]
    if len(given) != 1:
        raise SystemExit(
            "ingest needs exactly one of --nt / --nq / --ttl / "
            "--trig / --rdfxml / --jsonld"
        )
    [(fmt, path)] = given
    # overwriting the parquet the lazy union still reads would
    # destroy the existing ids mid-job — require a fresh path
    _must_differ(
        args.dict_in, args.dict_out,
        "--dict-out must differ from --dict-in (the append reads "
        "the old dictionary while writing the new one)",
    )
    if fmt in ("nq", "trig") and not args.quads_out:
        raise SystemExit(
            "--nq/--trig requires --quads-out: named-graph statements "
            "would otherwise be parsed and silently discarded"
        )
    if fmt in ("nq", "trig") and args.dict_in:
        raise SystemExit(
            "--dict-in applies to triple formats only "
            "(--nt / --ttl / --rdfxml / --jsonld)"
        )
    spark = _spark(args.cpus)
    # ONE parse pass per corpus: ingest_rdf persists the parsed
    # relation and the dictionary, so the dictionary, store and
    # quads writes below all read those caches
    caches: list = []
    triples, quads, d = ingest_rdf(
        spark,
        path,
        fmt,
        negative_when=args.negative_when,
        on_error=args.on_error,
        dictionary=(
            spark.read.parquet(args.dict_in) if args.dict_in else None
        ),
        caches=caches,
    )
    d = _write(d, args.dict_out)
    TripleStore(triples, layout=args.layout).write(args.out)
    if quads is not None:
        _write(quads, args.quads_out, "g")
    for c in caches:
        c.unpersist()
    n = spark.read.parquet(args.out).count()
    nd = d.count()
    print(
        f"ingested {n} triples, {nd} dictionary terms "
        f"(store={args.out}, dict={args.dict_out})"
    )
    return 0


def _update_args(p: argparse.ArgumentParser) -> None:
    _add_store(p, quads="named-graph quad parquet to attach")
    p.add_argument("--request", required=True,
                   help="the UPDATE string (';'-separated operations)")
    p.add_argument("--out", required=True, help="updated store output dir")
    p.add_argument("--dict-out", required=True,
                   help="updated dictionary parquet output dir "
                   "(must differ from --dict)")
    p.add_argument("--quads-out", default=None,
                   help="updated quads output dir (with --quads)")
    p.add_argument("--negative-when", default=None,
                   help="SQL bool expr over `term`: sign class for "
                   "NEW INSERTed terms")


def _update(args) -> int:
    _must_differ(
        args.dict_path, args.dict_out,
        "--dict-out must differ from --dict (the copy-on-write "
        "plan reads the old dictionary while writing the new one)",
    )
    _must_differ(
        args.store, args.out,
        "--out must differ from --store (the updated snapshot "
        "reads the old store while writing)",
    )
    eng = _open(args)
    eng.update(args.request, negative_when=args.negative_when)
    if eng.store.has_quads and not args.quads_out:
        raise SystemExit(
            "the updated store carries named graphs: pass "
            "--quads-out or the quad relation would be dropped "
            "from the persisted snapshot"
        )
    eng.save(
        args.out,
        quads_path=args.quads_out if eng.store.has_quads else None,
        dict_path=args.dict_out,
    )
    n = eng.spark.read.parquet(args.out).count()
    nd = eng.spark.read.parquet(args.dict_out).count()
    print(
        f"updated: {n} triples, {nd} dictionary terms "
        f"(store={args.out}, dict={args.dict_out})"
    )
    return 0


def _materialize_args(p: argparse.ArgumentParser) -> None:
    _add_store(p)
    p.add_argument("--out", required=True,
                   help="materialized store output dir")
    p.add_argument("--same-as", action="store_true",
                   help="canonicalize owl:sameAs clusters first")


def _materialize(args) -> int:
    _must_differ(
        args.store, args.out,
        "--out must differ from --store (the materialized "
        "snapshot reads the old store while writing)",
    )
    eng = _open(args)
    n0 = eng.store.df.count()
    if args.same_as:
        eng.canonicalize_same_as()
    eng.materialize_rdfs()
    eng.save(args.out)
    n1 = eng.spark.read.parquet(args.out).count()
    print(f"materialized: {n0} -> {n1} triples ({args.out})")
    return 0


def _vacuum_args(p: argparse.ArgumentParser) -> None:
    _add_store(
        p, term_style=False,
        quads="named-graph quad parquet to include in the reference set "
        "(and rewrite under --reindex)",
    )
    p.add_argument("--out", required=True, help="compacted store output dir")
    p.add_argument("--dict-out", required=True,
                   help="compacted dictionary output dir")
    p.add_argument("--quads-out", default=None,
                   help="compacted quads output dir (with --quads)")
    p.add_argument("--reindex", action="store_true",
                   help="re-rank surviving terms into dense ids and "
                   "rewrite the store")


def _vacuum(args) -> int:
    for a, b, what in (
        (args.store, args.out, "--out/--store"),
        (args.dict_path, args.dict_out, "--dict-out/--dict"),
    ):
        _must_differ(
            a, b,
            f"{what} must differ (the compaction reads the old "
            "snapshot while writing the new one)",
        )
    if args.quads and not args.quads_out:
        raise SystemExit("--quads needs --quads-out")
    eng = _open(args)
    stats = eng.vacuum(reindex=args.reindex)
    eng.save(
        args.out,
        quads_path=args.quads_out if args.quads else None,
        dict_path=args.dict_out,
    )
    print(
        f"vacuumed: {stats['terms_before']} -> {stats['terms_after']} "
        f"terms ({stats['dropped']} dropped"
        f"{', reindexed' if args.reindex else ''}; store={args.out})"
    )
    return 0


def _sql_args(p: argparse.ArgumentParser) -> None:
    _add_store(p, dict_required=None, term_style=False)
    p.add_argument("--query", required=True)
    _add_output(p)


def _sql(args) -> int:
    eng = _open(args)
    eng.store.register(eng.spark, "table")
    _emit(eng.sql(args.query), args)
    return 0


_QUADS_HELP = "named-graph quad parquet (g,s,p,o) — enables GRAPH blocks"


def _sparql_args(p: argparse.ArgumentParser) -> None:
    _add_store(p, dict_required=False, dict_format="tsv", quads=_QUADS_HELP)
    p.add_argument("--query", required=True)
    p.add_argument("--decode", action="store_true")
    p.add_argument(
        "--clock",
        default=None,
        metavar="DATETIME",
        help="explicit xsd:dateTime lexical that folds NOW() to a "
        "constant at plan time (determinism-preserving); without it "
        "NOW() keeps its documented reject",
    )
    p.add_argument(
        "--results",
        choices=("csv", "tsv", "json", "xml"),
        default=None,
        help="ALSO write the W3C results format to --results-out "
        "(csv/tsv: distributed sinks; json: one bounded document)",
    )
    p.add_argument("--results-out", default=None)
    p.add_argument(
        "--json-limit", type=int, default=10000,
        help="row cap for the one-document json format",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the physical plan instead of executing",
    )
    _add_output(p)


def _sparql(args) -> int:
    if args.results and not args.decode and not args.dict_path:
        # a W3C results document of raw dictionary ids is never a
        # valid serialization of the actual terms (with a dictionary,
        # --results auto-decodes)
        raise SystemExit(
            "--results serializes TERMS, not dictionary ids: "
            "pass --dict (or --decode with a dictionary)"
        )
    # --explain writes no results, so it needs no --results-out
    if args.results and not args.results_out and not args.explain:
        raise SystemExit("--results needs --results-out")
    eng = _open(args)
    # --results auto-decodes: the guard above saw a dictionary
    decode = args.decode or bool(args.results)
    df = eng.sparql(args.query, decode=decode, clock=args.clock)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.results:
        from rdfproject_msc_spark.sparql import results as RES

        if args.results == "csv":
            RES.write_results_csv(df, args.results_out)
        elif args.results == "tsv":
            RES.write_results_tsv(df, args.results_out)
        else:
            build = (
                RES.results_xml
                if args.results == "xml"
                else RES.results_json
            )
            doc = build(
                RES.capped_frame(df, args.json_limit),
                limit=args.json_limit,
            )
            with open(args.results_out, "w") as fh:
                fh.write(doc)
    _emit(df, args)
    return 0


def _serve_args(p: argparse.ArgumentParser) -> None:
    _add_store(p, dict_format="parquet", quads=_QUADS_HELP)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8898)
    p.add_argument(
        "--json-limit", type=int, default=10000,
        help="row cap for the one-document response formats",
    )
    p.add_argument(
        "--max-requests", type=int, default=None,
        help="serve N requests then exit (integration tests)",
    )
    p.add_argument(
        "--enable-update", action="store_true",
        help="accept the SPARQL 1.1 Protocol update operation (POST "
        "update=… / application/sparql-update) — a WRITE surface, so "
        "off by default; updates apply to the in-session snapshot "
        "(copy-on-write), nothing on disk changes",
    )
    p.add_argument(
        "--strict-terms", action="store_true",
        help="raise on dictionary-absent constants (the Python API's "
        "typo-guard default); the endpoint default answers the spec's "
        "EMPTY result instead — the right behavior for untrusted "
        "queries",
    )


def _serve(args) -> int:
    from rdfproject_msc_spark.serve import serve

    serve(
        _open(args),
        host=args.host,
        port=args.port,
        json_limit=args.json_limit,
        max_requests=args.max_requests,
        strict_terms=args.strict_terms,
        enable_update=args.enable_update,
    )
    return 0


def _run_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--name", help="required unless --list")
    p.add_argument("--sf-dir", help="required unless --list")
    p.add_argument("--list", action="store_true")
    _add_output(p)
    p.set_defaults(error=p.error)  # _run's usage error names `run`


def _run(args) -> int:
    from rdfproject_msc_spark.registry import REGISTRY

    if args.list or args.name == "list":
        for name in REGISTRY:
            print(name)
        return 0
    if args.name is None or args.sf_dir is None:
        args.error("run needs --name and --sf-dir (or --list)")
    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; --list to enumerate", file=sys.stderr)
        return 2
    _emit(REGISTRY[args.name].fn(_spark(args.cpus), args.sf_dir), args)
    return 0


def _benchmark(docs, path: str | None):
    """The benchmark parquet at ``path``; without one an empty set, so
    decontamination flags nothing."""
    return docs.sparkSession.read.parquet(path) if path else docs.filter("1 = 0")


def _quality_model(spark, labeled: str | None):
    """The quality classifier fit on the ``labeled`` parquet, else the
    built-in reference one."""
    from rdfproject_msc_spark.operators.classify import (
        REFERENCE_MODEL,
        fit_quality_classifier,
    )

    if labeled:
        return fit_quality_classifier(spark.read.parquet(labeled))
    return REFERENCE_MODEL


def _curate_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument(
        "--benchmark",
        default=None,
        help="benchmark/eval-set parquet for decontamination (optional)",
    )
    p.add_argument("--out", required=True, help="output parquet path")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--max-bits-per-token", type=float, default=20.0)
    p.add_argument("--embed-dim", type=int, default=64)


def _curate(args) -> int:
    from rdfproject_msc_spark.operators.curate import curate_full

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    out = curate_full(
        docs,
        _benchmark(docs, args.benchmark),
        near_dup_threshold=args.near_dup_threshold,
        min_quality=args.min_quality,
        max_bits_per_token=args.max_bits_per_token,
        embed_dim=args.embed_dim,
    )
    kept = _write(out, args.out).count()
    total = docs.count()
    print(f"curated {total} -> {kept} documents ({args.out})")
    return 0


def _split_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--ngram", type=int, default=5)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument(
        "--bloom-fpp",
        type=float,
        default=None,
        help="Bloom-pre-filter the train-side n-gram shuffle at this "
        "false-positive rate (results identical; see operators/bloom.py)",
    )


def _split(args) -> int:
    from rdfproject_msc_spark.operators.leakage import leakage_safe_split

    spark = _spark(args.cpus)
    out = leakage_safe_split(
        spark.read.parquet(args.docs),
        n=args.ngram,
        threshold=args.threshold,
        bloom_fpp=args.bloom_fpp,
    )
    stats = {
        r["split"]: r["n"]
        for r in _write(out, args.out, "split")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(f"split sizes: {stats} ({args.out})")
    return 0


def _decontaminate_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--benchmark", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--ngram", type=int, default=5)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--bloom-fpp", type=float, default=None)


def _decontaminate(args) -> int:
    from rdfproject_msc_spark.operators.decontam import ngram_contamination

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    report = ngram_contamination(
        docs,
        spark.read.parquet(args.benchmark),
        n=args.ngram,
        threshold=args.threshold,
        bloom_fpp=args.bloom_fpp,
    )
    flagged = _write(report, args.out).filter(F.col("contaminated")).count()
    total = docs.count()
    print(f"decontaminate: {flagged}/{total} flagged ({args.out})")
    return 0


def _quality_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--labeled",
        default=None,
        help="labeled parquet to fit a model from (else REFERENCE_MODEL)",
    )
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument(
        "--keep-only", action="store_true",
        help="write only rows at/above the threshold",
    )


def _quality(args) -> int:
    from rdfproject_msc_spark.operators.classify import quality_scores

    spark = _spark(args.cpus)
    scored = quality_scores(
        spark.read.parquet(args.docs),
        _quality_model(spark, args.labeled),
        threshold=args.threshold,
    )
    if args.keep_only:
        scored = scored.filter(F.col("kept"))
    stats = (
        _write(scored, args.out)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("kept").cast("long")).alias("kept"),
        )
        .collect()[0]
    )
    print(
        f"quality: {stats['kept']}/{stats['n']} at/above "
        f"{args.threshold} ({args.out})"
    )
    return 0


def _dedup_passages_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--k",
        type=int,
        default=32,
        help="passage length in words (default 32 ≈ the ~50-token spans "
        "of Lee et al. 2022; see SCALE.md for the k=3 vs k=32 probe)",
    )


def _dedup_passages(args) -> int:
    from rdfproject_msc_spark.operators.passages import passage_dedup

    out = passage_dedup(_spark(args.cpus).read.parquet(args.docs), k=args.k)
    agg = (
        _write(out, args.out)
        .agg(
            F.sum("n_passages").alias("p"),
            F.sum("n_dropped").alias("d"),
        )
        .collect()[0]
    )
    print(
        f"passages: {agg['p']} total, {agg['d']} duplicates removed "
        f"({args.out})"
    )
    return 0


def _prepare_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--benchmark", default=None)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--rate",
        action="append",
        default=[],
        metavar="SOURCE=RATE",
        help="mixture rate per source (repeatable); e.g. --rate wiki=2.5",
    )
    p.add_argument("--max-tokens", type=int, default=512)
    p.add_argument("--overlap", type=int, default=0)
    p.add_argument("--pack-budget", type=int, default=2048)


def _prepare(args) -> int:
    from rdfproject_msc_spark.operators.curate import prepare_training_set

    rates = {}
    for spec in args.rate:
        src, _, r = spec.partition("=")
        try:
            rate = float(r)
        except ValueError:
            rate = None
        if not src or rate is None:
            raise SystemExit(
                f"--rate takes SOURCE=RATE with a numeric rate, got {spec!r}"
            )
        rates[src] = rate
    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    out = prepare_training_set(
        docs,
        _benchmark(docs, args.benchmark),
        mixture_rates=rates or None,
        max_tokens=args.max_tokens,
        overlap=args.overlap,
        pack_budget=args.pack_budget,
    )
    res = _write(out, args.out)
    n = res.count()
    packs = res.select("pack_id").distinct().count()
    print(f"prepared {n} training examples in {packs} packs ({args.out})")
    return 0


def _select_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--budget", type=int, required=True, help="token budget")
    p.add_argument("--labeled", default=None,
                   help="labeled parquet to fit the scorer from "
                   "(else the built-in reference classifier)")
    p.add_argument("--keep-only", action="store_true",
                   help="write only the selected prefix")


def _select(args) -> int:
    from rdfproject_msc_spark.operators.selection import select_quality_budget

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    verdict = select_quality_budget(
        docs, _quality_model(spark, args.labeled), args.budget
    )
    # join the id-level verdict back onto the input docs so the output
    # is directly consumable by tokenize/export (text travels along —
    # without this a --keep-only result forces a manual join back)
    out = docs.join(verdict, "doc_id")
    if args.keep_only:
        out = out.filter(F.col("selected"))
    stats = (
        _write(out, args.out)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("selected").cast("long")).alias("sel"),
            F.max(F.when(F.col("selected"), F.col("cum_tokens"))).alias(
                "spent"
            ),
        )
        .collect()[0]
    )
    print(
        f"select: {stats['sel']}/{stats['n']} documents, "
        f"{stats['spent']}/{args.budget} tokens ({args.out})"
    )
    return 0


def _tokenize_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--vocab-size", type=int, default=32768)
    p.add_argument("--max-len", type=int, default=None)
    p.add_argument("--pad", action="store_true",
                   help="right-pad to --max-len (fixed shapes)")
    p.add_argument("--no-special", action="store_true",
                   help="omit BOS/EOS")
    p.add_argument("--fit-vocab", metavar="DIR", default=None,
                   help="fit a trained top-V vocabulary from --docs, "
                   "persist it to DIR, and tokenize through it "
                   "(OOV -> UNK) instead of the hash vocab")
    p.add_argument("--use-vocab", metavar="DIR", default=None,
                   help="tokenize through an existing fitted "
                   "vocabulary parquet (token, token_id)")


def _tokenize(args) -> int:
    from rdfproject_msc_spark.operators.tokenize import (
        fit_vocab,
        tokenize_ids,
        tokenize_ids_vocab,
    )

    if args.fit_vocab and args.use_vocab:
        raise SystemExit("--fit-vocab and --use-vocab are exclusive")
    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    kw = dict(
        max_len=args.max_len,
        add_special=not args.no_special,
        pad_to_max=args.pad,
    )
    if args.fit_vocab:
        vocab = _write(fit_vocab(docs, vocab_size=args.vocab_size), args.fit_vocab)
        out = tokenize_ids_vocab(docs, vocab, **kw)
    elif args.use_vocab:
        out = tokenize_ids_vocab(docs, spark.read.parquet(args.use_vocab), **kw)
    else:
        out = tokenize_ids(docs, vocab_size=args.vocab_size, **kw)
    stats = _write(out, args.out).agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("toks")
    ).head()
    print(
        f"tokenized {stats['n']} documents, {stats['toks']} tokens "
        f"to {args.out}"
    )
    return 0


def _report_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", default=None, help="optional parquet output")


def _report(args) -> int:
    from rdfproject_msc_spark.operators.report import corpus_report

    rep = corpus_report(_spark(args.cpus).read.parquet(args.docs))
    for r in rep.collect():
        print(f"{r['metric']}: {r['value']:.6f}")
    if args.out:
        _write(rep, args.out)
    return 0


def _neardup_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--index", required=True, help="band-index path")
    p.add_argument("--build", default=None, help="corpus parquet to build from")
    p.add_argument("--append", default=None, help="delivery parquet to append")
    p.add_argument("--probe", default=None, help="delivery parquet to probe")
    p.add_argument("--out", default=None, help="pairs output (with --probe)")
    p.add_argument("--threshold", type=float, default=0.5)


def _neardup(args) -> int:
    from rdfproject_msc_spark.operators import dedup as dedup_mod

    if args.probe and not args.out:
        raise SystemExit("--probe requires --out")
    spark = _spark(args.cpus)
    mp = spark.sparkContext.defaultParallelism
    if args.build:
        dedup_mod.minhash_write(
            spark.read.parquet(args.build), args.index, min_partitions=mp
        )
        print(f"built index at {args.index}")
    if args.probe:
        pairs = dedup_mod.minhash_join_persisted(
            spark.read.parquet(args.probe),
            args.index,
            threshold=args.threshold,
            min_partitions=mp,
        )
        n = _write(pairs, args.out).count()
        print(f"probe: {n} near-dup pairs to {args.out}")
    if args.append:
        dedup_mod.minhash_write(
            spark.read.parquet(args.append),
            args.index,
            min_partitions=mp,
            mode="append",
        )
        print(f"appended {args.append} to {args.index}")
    return 0


def _export_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--shards", type=int, required=True)
    p.add_argument("--seed", type=int, default=0,
                   help="epoch seed: new seed = fresh permutation")
    p.add_argument("--fmt", choices=["json", "parquet"], default="json")
    p.add_argument("--order-col", default=None,
                   help="curriculum mode: range-shard ascending by this column")
    p.add_argument("--id-col", default="doc_id")


def _export(args) -> int:
    from rdfproject_msc_spark.sources.export import write_training_shards

    manifest = write_training_shards(
        _spark(args.cpus).read.parquet(args.docs),
        args.out,
        args.shards,
        id_col=args.id_col,
        seed=args.seed,
        fmt=args.fmt,
        order_col=args.order_col,
    )
    rows = manifest.collect()
    total = sum(r["n_rows"] for r in rows)
    print(
        f"exported {total} rows to {args.out} in {len(rows)} shards "
        f"(fmt={args.fmt}, seed={args.seed})"
    )
    return 0


def _dsir_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--raw", required=True, help="raw corpus parquet")
    p.add_argument("--target", required=True, help="target corpus parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--k", type=int, required=True)
    p.add_argument("--buckets", type=int, default=10_000)
    p.add_argument(
        "--argmax",
        action="store_true",
        help="deterministic top-k by weight instead of the Gumbel sample",
    )


def _dsir(args) -> int:
    from rdfproject_msc_spark.operators.dsir import dsir_select

    spark = _spark(args.cpus)
    out = dsir_select(
        spark.read.parquet(args.raw),
        spark.read.parquet(args.target),
        args.k,
        n_buckets=args.buckets,
        temperature=None if args.argmax else 1.0,
    )
    n = _write(out, args.out).count()
    print(f"selected {n} documents to {args.out}")
    return 0


def _search_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--docs", default=None, help="documents parquet path")
    p.add_argument("--index", default=None, help="bm25_write layout path")
    p.add_argument(
        "--build-index",
        action="store_true",
        help="with --docs and --index: write the postings layout and exit",
    )
    p.add_argument("--query", default=None)
    p.add_argument("--k", type=int, default=10)
    _add_output(p)


def _search(args) -> int:
    from rdfproject_msc_spark.operators.bm25 import (
        bm25_topk,
        bm25_topk_persisted,
        bm25_write,
    )

    if args.build_index and not (args.docs and args.index):
        error = "--build-index needs --docs and --index"
    elif not args.build_index and not args.query:
        error = "--query is required"
    elif not (args.build_index or args.index or args.docs):
        error = "need --docs or --index"
    else:
        error = None
    if error:
        print(error, file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    if args.build_index:
        bm25_write(spark.read.parquet(args.docs), args.index)
        print(f"wrote BM25 postings index to {args.index}")
        return 0
    if args.index:
        df = bm25_topk_persisted(spark, args.index, args.query, k=args.k)
    else:
        df = bm25_topk(spark.read.parquet(args.docs), args.query, k=args.k)
    _emit(df, args)
    return 0


COMMANDS = (
    ("load", "ingest triples text + dictionary, persist layout",
     _load_args, _load),
    ("ingest",
     "RAW N-Triples/N-Quads in: build the dictionary, "
     "encode, persist store + dictionary (the first mile the pre-encoded "
     "'load' path assumes already happened)",
     _ingest_args, _ingest),
    ("update",
     "SPARQL 1.1 UPDATE over a persisted store: apply "
     "INSERT DATA / DELETE DATA / DELETE WHERE / DELETE-INSERT-WHERE "
     "/ CLEAR copy-on-write, then re-persist store + dictionary",
     _update_args, _update),
    ("materialize",
     "RDFS+OWL-lite forward chaining over a persisted store: "
     "entailments (subclass/subproperty/domain/range/inverse/"
     "symmetric/transitive) materialize into a new snapshot; "
     "--same-as additionally smushes owl:sameAs identity clusters",
     _materialize_args, _materialize),
    ("vacuum",
     "compact a persisted store after update chains: drop "
     "dictionary terms no longer referenced by any triple/quad, "
     "optionally re-rank survivors into a dense id space "
     "(--reindex rewrites the store through the mapping), persist "
     "the compacted snapshot",
     _vacuum_args, _vacuum),
    ("sql", "SQL over a persisted store", _sql_args, _sql),
    ("sparql", "SPARQL BGP over a persisted store", _sparql_args, _sparql),
    ("serve",
     "HTTP SPARQL endpoint over a persisted store (SPARQL 1.1 "
     "Protocol query operation; JSON/XML/CSV/TSV via Accept)",
     _serve_args, _serve),
    ("run", "run a registry query by name", _run_args, _run),
    ("curate",
     "full corpus curation over a documents parquet "
     "(clean → dedup → quality → repetition → decontaminate → "
     "LM filter → vectorize)",
     _curate_args, _curate),
    ("split",
     "leakage-safe train/val/test split over a documents parquet "
     "(md5 split, train docs overlapping the holdout quarantined)",
     _split_args, _split),
    ("decontaminate",
     "benchmark decontamination report over a documents parquet "
     "(n-gram overlap vs an eval set; optional Bloom pre-filter)",
     _decontaminate_args, _decontaminate),
    ("quality",
     "model-based quality scoring (logistic probe over hashed-TF "
     "features); default model is the built-in reference classifier, "
     "or fit one from --labeled (parquet with doc_id/text/label)",
     _quality_args, _quality),
    ("dedup-passages",
     "corpus-wide exact passage dedup (repeated k-word spans "
     "keep only the corpus-first occurrence)",
     _dedup_passages_args, _dedup_passages),
    ("prepare",
     "documents parquet -> packed training sequences "
     "(curate -> mixture -> chunk -> pack)",
     _prepare_args, _prepare),
    ("select",
     "budgeted data selection: keep the highest-quality documents "
     "whose cumulative token count fits a training budget",
     _select_args, _select),
    ("tokenize",
     "text -> trainer-ready token-id sequences "
     "(hash vocab; BOS/EOS, truncation, optional padding)",
     _tokenize_args, _tokenize),
    ("report",
     "one-pass corpus report: volume, token budget, composition, "
     "dup rate, filter pass-rates",
     _report_args, _report),
    ("neardup",
     "incremental near-dup ingest loop over a persisted MinHash "
     "band index: --build once, then --probe each delivery and "
     "--append it (history is shingled exactly once)",
     _neardup_args, _neardup),
    ("export",
     "export a curated corpus as shuffled training shards "
     "(deterministic epoch permutation, row-count manifest)",
     _export_args, _export),
    ("dsir",
     "DSIR importance selection: keep the k raw documents that "
     "look most like a target corpus (hashed n-gram LM ratio, "
     "Gumbel-top-k resampling)",
     _dsir_args, _dsir),
    ("search",
     "BM25 lexical top-k over a documents parquet "
     "(--index/--build-index for the persisted postings path)",
     _search_args, _search),
)


def main(argv: list[str] | None = None) -> int:
    top = argparse.ArgumentParser(prog="rdfspark")
    sub = top.add_subparsers(dest="command", required=True)
    runs = {}
    for name, help_, add_arguments, run in COMMANDS:
        p = sub.add_parser(name, help=help_)
        add_arguments(p)
        p.add_argument("--cpus", type=int, default=None)
        runs[name] = run
    args = top.parse_args(argv)
    return runs[args.command](args)


if __name__ == "__main__":
    raise SystemExit(main())
