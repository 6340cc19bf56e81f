"""Command-line interface — the reference's four ``main()`` drivers as four
subcommands over one engine.

    python -m rdfproject_msc_spark load   --triples T.txt --dict D.tsv \
        --layout sign_split --cluster-by s --out /data/store
    python -m rdfproject_msc_spark sql    --store /data/store \
        --query "SELECT count(*) AS n FROM Positive"
    python -m rdfproject_msc_spark sparql --store /data/store --dict D.tsv \
        --query "SELECT ?x WHERE { ?x :byUser :customer_7 . }" --decode
    python -m rdfproject_msc_spark run    --name tpch_q1 --sf-dir /root/testdata/sf0.001
    python -m rdfproject_msc_spark search --docs docs.parquet \
        --query "spark hash join" --k 10        # or --index after --build-index
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from rdfproject_msc_spark.session import get_spark

    return get_spark(app_name="rdfspark-cli", cpus=cpus)


def _must_differ(a: str | None, b: str | None, message: str) -> None:
    """Exit with ``message`` when ``a`` and ``b`` name the same path: a
    command that reads one snapshot while writing the next must not
    overwrite what it still reads. Checked before Spark starts."""
    import os

    if a and b and os.path.realpath(a) == os.path.realpath(b):
        raise SystemExit(message)


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--show", type=int, default=20, help="rows to print")
    p.add_argument("--out", default=None, help="write result as CSV here")


def _emit(df, args) -> None:
    if args.out:
        from rdfproject_msc_spark.sources.triples import write_result_csv

        write_result_csv(df, args.out)
    df.show(args.show, truncate=False)


def main(argv: list[str] | None = None) -> int:
    top = argparse.ArgumentParser(prog="rdfspark")
    sub = top.add_subparsers(dest="command", required=True)

    p_load = sub.add_parser("load", help="ingest triples text + dictionary, persist layout")
    p_load.add_argument("--triples", required=True)
    p_load.add_argument("--dict", dest="dict_path", default=None)
    p_load.add_argument("--fmt", choices=("text", "parquet"), default="text")
    p_load.add_argument("--layout", choices=("single", "sign_split"), default="single")
    p_load.add_argument("--cluster-by", choices=("s", "p"), default=None)
    p_load.add_argument("--out", required=True)
    p_load.add_argument("--cpus", type=int, default=None)

    p_ing = sub.add_parser(
        "ingest",
        help="RAW N-Triples/N-Quads in: build the dictionary distributedly, "
        "encode, persist store + dictionary (the first mile the pre-encoded "
        "'load' path assumes already happened)",
    )
    p_ing.add_argument("--nt", default=None, help="N-Triples file/dir")
    p_ing.add_argument("--nq", default=None, help="N-Quads file/dir")
    p_ing.add_argument("--ttl", default=None,
                       help="Turtle file/dir (parsed per file)")
    p_ing.add_argument("--trig", default=None,
                       help="TriG file/dir (parsed per file; named-graph "
                       "blocks land in --quads-out)")
    p_ing.add_argument("--rdfxml", default=None,
                       help="RDF/XML file/dir (parsed per file - the "
                       "ontology-interchange format)")
    p_ing.add_argument("--jsonld", default=None,
                       help="JSON-LD file/dir (parsed per file - "
                       "inline contexts only)")
    p_ing.add_argument("--out", required=True, help="store output dir")
    p_ing.add_argument("--dict-out", required=True,
                       help="dictionary parquet output dir")
    p_ing.add_argument("--quads-out", default=None,
                       help="named-graph quads output dir (--nq/--trig)")
    p_ing.add_argument("--dict-in", default=None,
                       help="existing dictionary parquet: incremental "
                       "ingest — unseen terms append, existing ids kept")
    p_ing.add_argument("--negative-when", default=None,
                       help="SQL bool expr over `term` choosing the "
                       "Negative sign class (e.g. \"term LIKE '_:%%'\")")
    p_ing.add_argument("--layout", choices=("single", "sign_split"),
                       default="sign_split")
    p_ing.add_argument("--on-error", choices=("skip", "fail"), default="skip")
    p_ing.add_argument("--cpus", type=int, default=None)

    p_upd = sub.add_parser(
        "update",
        help="SPARQL 1.1 UPDATE over a persisted store: apply "
        "INSERT DATA / DELETE DATA / DELETE WHERE / DELETE-INSERT-WHERE "
        "/ CLEAR copy-on-write, then re-persist store + dictionary",
    )
    p_upd.add_argument("--store", required=True)
    p_upd.add_argument("--layout", choices=("single", "sign_split"),
                       default="sign_split")
    p_upd.add_argument("--dict", dest="dict_path", required=True,
                       help="dictionary parquet (ingest-built)")
    p_upd.add_argument("--term-style", choices=("localized", "lexical"),
                       default=None,
                       help="constant convention (default lexical — the "
                       "ingest-built parquet convention)")
    p_upd.add_argument("--request", required=True,
                       help="the UPDATE string (';'-separated operations)")
    p_upd.add_argument("--out", required=True, help="updated store output dir")
    p_upd.add_argument("--dict-out", required=True,
                       help="updated dictionary parquet output dir "
                       "(must differ from --dict)")
    p_upd.add_argument("--quads", default=None,
                       help="named-graph quad parquet to attach")
    p_upd.add_argument("--quads-out", default=None,
                       help="updated quads output dir (with --quads)")
    p_upd.add_argument("--negative-when", default=None,
                       help="SQL bool expr over `term`: sign class for "
                       "NEW INSERTed terms")
    p_upd.add_argument("--cpus", type=int, default=None)

    p_mat = sub.add_parser(
        "materialize",
        help="RDFS+OWL-lite forward chaining over a persisted store: "
        "entailments (subclass/subproperty/domain/range/inverse/"
        "symmetric/transitive) materialize into a new snapshot; "
        "--same-as additionally smushes owl:sameAs identity clusters",
    )
    p_mat.add_argument("--store", required=True)
    p_mat.add_argument("--layout", choices=("single", "sign_split"),
                       default="sign_split")
    p_mat.add_argument("--dict", dest="dict_path", required=True,
                       help="dictionary parquet (ingest-built)")
    p_mat.add_argument("--term-style", choices=("localized", "lexical"),
                       default=None)
    p_mat.add_argument("--out", required=True,
                       help="materialized store output dir")
    p_mat.add_argument("--same-as", action="store_true",
                       help="canonicalize owl:sameAs clusters first")
    p_mat.add_argument("--cpus", type=int, default=None)

    p_vac = sub.add_parser(
        "vacuum",
        help="compact a persisted store after update chains: drop "
        "dictionary terms no longer referenced by any triple/quad, "
        "optionally re-rank survivors into a dense id space "
        "(--reindex rewrites the store through the mapping), persist "
        "the compacted snapshot",
    )
    p_vac.add_argument("--store", required=True)
    p_vac.add_argument("--layout", choices=("single", "sign_split"),
                       default="sign_split")
    p_vac.add_argument("--dict", dest="dict_path", required=True,
                       help="dictionary parquet (ingest-built)")
    p_vac.add_argument("--quads", default=None,
                       help="named-graph quad parquet to include in the "
                       "reference set (and rewrite under --reindex)")
    p_vac.add_argument("--out", required=True,
                       help="compacted store output dir")
    p_vac.add_argument("--dict-out", required=True,
                       help="compacted dictionary output dir")
    p_vac.add_argument("--quads-out", default=None,
                       help="compacted quads output dir (with --quads)")
    p_vac.add_argument("--reindex", action="store_true",
                       help="re-rank surviving terms into dense ids and "
                       "rewrite the store")
    p_vac.add_argument("--cpus", type=int, default=None)

    p_sql = sub.add_parser("sql", help="SQL over a persisted store")
    p_sql.add_argument("--store", required=True)
    p_sql.add_argument("--layout", choices=("single", "sign_split"), default="sign_split")
    p_sql.add_argument("--query", required=True)
    _add_common(p_sql)

    p_sparql = sub.add_parser("sparql", help="SPARQL BGP over a persisted store")
    p_sparql.add_argument("--store", required=True)
    p_sparql.add_argument("--layout", choices=("single", "sign_split"), default="sign_split")
    p_sparql.add_argument("--dict", dest="dict_path", default=None)
    p_sparql.add_argument(
        "--dict-format",
        choices=("tsv", "parquet"),
        default="tsv",
        help="tsv = the reference's id<TAB>term format (localized "
        "SPARQL constants); parquet = an `ingest`-built dictionary "
        "(full lexical forms — term style flips to lexical)",
    )
    p_sparql.add_argument(
        "--term-style",
        choices=("localized", "lexical"),
        default=None,
        help="override the constant convention implied by --dict-format",
    )
    p_sparql.add_argument("--query", required=True)
    p_sparql.add_argument(
        "--quads",
        default=None,
        help="named-graph quad parquet (g,s,p,o) — enables GRAPH blocks",
    )
    p_sparql.add_argument("--decode", action="store_true")
    p_sparql.add_argument(
        "--clock",
        default=None,
        metavar="DATETIME",
        help="explicit xsd:dateTime lexical that folds NOW() to a "
        "constant at plan time (determinism-preserving); without it "
        "NOW() keeps its documented reject",
    )
    p_sparql.add_argument(
        "--results",
        choices=("csv", "tsv", "json", "xml"),
        default=None,
        help="ALSO write the W3C results format to --results-out "
        "(csv/tsv: distributed sinks; json: one bounded document)",
    )
    p_sparql.add_argument("--results-out", default=None)
    p_sparql.add_argument(
        "--json-limit", type=int, default=10000,
        help="row cap for the one-document json format",
    )
    p_sparql.add_argument(
        "--explain",
        action="store_true",
        help="print the physical plan instead of executing",
    )
    _add_common(p_sparql)

    p_srv = sub.add_parser(
        "serve",
        help="HTTP SPARQL endpoint over a persisted store (SPARQL 1.1 "
        "Protocol query operation; JSON/XML/CSV/TSV via Accept)",
    )
    p_srv.add_argument("--store", required=True)
    p_srv.add_argument(
        "--layout", choices=("single", "sign_split"), default="sign_split"
    )
    p_srv.add_argument("--dict", dest="dict_path", required=True)
    p_srv.add_argument(
        "--dict-format", choices=("tsv", "parquet"), default="parquet"
    )
    p_srv.add_argument(
        "--term-style", choices=("localized", "lexical"), default=None
    )
    p_srv.add_argument("--quads", default=None)
    p_srv.add_argument("--host", default="127.0.0.1")
    p_srv.add_argument("--port", type=int, default=8898)
    p_srv.add_argument(
        "--json-limit", type=int, default=10000,
        help="row cap for the one-document response formats",
    )
    p_srv.add_argument(
        "--max-requests", type=int, default=None,
        help="serve N requests then exit (integration tests)",
    )
    p_srv.add_argument(
        "--enable-update", action="store_true",
        help="accept the SPARQL 1.1 Protocol update operation (POST "
        "update=… / application/sparql-update) — a WRITE surface, so "
        "off by default; updates apply to the in-session snapshot "
        "(copy-on-write), nothing on disk changes",
    )
    p_srv.add_argument(
        "--strict-terms", action="store_true",
        help="raise on dictionary-absent constants (the Python API's "
        "typo-guard default); the endpoint default answers the spec's "
        "EMPTY result instead — the right behavior for untrusted "
        "queries",
    )
    p_srv.add_argument("--cpus", type=int, default=None)

    p_run = sub.add_parser("run", help="run a registry query by name")
    p_run.add_argument("--name", help="required unless --list")
    p_run.add_argument("--sf-dir", help="required unless --list")
    p_run.add_argument("--list", action="store_true")
    _add_common(p_run)

    p_cur = sub.add_parser(
        "curate",
        help="full corpus curation over a documents parquet "
        "(clean → dedup → quality → repetition → decontaminate → "
        "LM filter → vectorize)",
    )
    p_cur.add_argument("--docs", required=True, help="documents parquet path")
    p_cur.add_argument(
        "--benchmark",
        default=None,
        help="benchmark/eval-set parquet for decontamination (optional)",
    )
    p_cur.add_argument("--out", required=True, help="output parquet path")
    p_cur.add_argument("--min-quality", type=float, default=0.3)
    p_cur.add_argument("--near-dup-threshold", type=float, default=0.5)
    p_cur.add_argument("--max-bits-per-token", type=float, default=20.0)
    p_cur.add_argument("--embed-dim", type=int, default=64)
    p_cur.add_argument("--cpus", type=int, default=None)

    p_split = sub.add_parser(
        "split",
        help="leakage-safe train/val/test split over a documents parquet "
        "(md5 split, train docs overlapping the holdout quarantined)",
    )
    p_split.add_argument("--docs", required=True)
    p_split.add_argument("--out", required=True)
    p_split.add_argument("--ngram", type=int, default=5)
    p_split.add_argument("--threshold", type=float, default=0.5)
    p_split.add_argument(
        "--bloom-fpp",
        type=float,
        default=None,
        help="Bloom-pre-filter the train-side n-gram shuffle at this "
        "false-positive rate (results identical; see operators/bloom.py)",
    )
    p_split.add_argument("--cpus", type=int, default=None)

    p_dec = sub.add_parser(
        "decontaminate",
        help="benchmark decontamination report over a documents parquet "
        "(n-gram overlap vs an eval set; optional Bloom pre-filter)",
    )
    p_dec.add_argument("--docs", required=True)
    p_dec.add_argument("--benchmark", required=True)
    p_dec.add_argument("--out", required=True)
    p_dec.add_argument("--ngram", type=int, default=5)
    p_dec.add_argument("--threshold", type=float, default=0.5)
    p_dec.add_argument("--bloom-fpp", type=float, default=None)
    p_dec.add_argument("--cpus", type=int, default=None)

    p_q = sub.add_parser(
        "quality",
        help="model-based quality scoring (logistic probe over hashed-TF "
        "features); default model is the built-in reference classifier, "
        "or fit one from --labeled (parquet with doc_id/text/label)",
    )
    p_q.add_argument("--docs", required=True)
    p_q.add_argument("--out", required=True)
    p_q.add_argument(
        "--labeled",
        default=None,
        help="labeled parquet to fit a model from (else REFERENCE_MODEL)",
    )
    p_q.add_argument("--threshold", type=float, default=0.5)
    p_q.add_argument(
        "--keep-only", action="store_true",
        help="write only rows at/above the threshold",
    )
    p_q.add_argument("--cpus", type=int, default=None)

    p_pdedup = sub.add_parser(
        "dedup-passages",
        help="corpus-wide exact passage dedup (repeated k-word spans "
        "keep only the corpus-first occurrence)",
    )
    p_pdedup.add_argument("--docs", required=True)
    p_pdedup.add_argument("--out", required=True)
    p_pdedup.add_argument(
        "--k",
        type=int,
        default=32,
        help="passage length in words (default 32 ≈ the ~50-token spans "
        "of Lee et al. 2022; see SCALE.md for the k=3 vs k=32 probe)",
    )
    p_pdedup.add_argument("--cpus", type=int, default=None)

    p_prep = sub.add_parser(
        "prepare",
        help="documents parquet -> packed training sequences "
        "(curate -> mixture -> chunk -> pack)",
    )
    p_prep.add_argument("--docs", required=True)
    p_prep.add_argument("--benchmark", default=None)
    p_prep.add_argument("--out", required=True)
    p_prep.add_argument(
        "--rate",
        action="append",
        default=[],
        metavar="SOURCE=RATE",
        help="mixture rate per source (repeatable); e.g. --rate wiki=2.5",
    )
    p_prep.add_argument("--max-tokens", type=int, default=512)
    p_prep.add_argument("--overlap", type=int, default=0)
    p_prep.add_argument("--pack-budget", type=int, default=2048)
    p_prep.add_argument("--cpus", type=int, default=None)

    p_sel = sub.add_parser(
        "select",
        help="budgeted data selection: keep the highest-quality documents "
        "whose cumulative token count fits a training budget",
    )
    p_sel.add_argument("--docs", required=True)
    p_sel.add_argument("--out", required=True)
    p_sel.add_argument("--budget", type=int, required=True,
                       help="token budget")
    p_sel.add_argument("--labeled", default=None,
                       help="labeled parquet to fit the scorer from "
                       "(else the built-in reference classifier)")
    p_sel.add_argument("--keep-only", action="store_true",
                       help="write only the selected prefix")
    p_sel.add_argument("--cpus", type=int, default=None)

    p_tok = sub.add_parser(
        "tokenize",
        help="text -> trainer-ready token-id sequences "
        "(hash vocab; BOS/EOS, truncation, optional padding)",
    )
    p_tok.add_argument("--docs", required=True)
    p_tok.add_argument("--out", required=True)
    p_tok.add_argument("--vocab-size", type=int, default=32768)
    p_tok.add_argument("--max-len", type=int, default=None)
    p_tok.add_argument("--pad", action="store_true",
                       help="right-pad to --max-len (fixed shapes)")
    p_tok.add_argument("--no-special", action="store_true",
                       help="omit BOS/EOS")
    p_tok.add_argument("--fit-vocab", metavar="DIR", default=None,
                       help="fit a trained top-V vocabulary from --docs, "
                       "persist it to DIR, and tokenize through it "
                       "(OOV -> UNK) instead of the hash vocab")
    p_tok.add_argument("--use-vocab", metavar="DIR", default=None,
                       help="tokenize through an existing fitted "
                       "vocabulary parquet (token, token_id)")
    p_tok.add_argument("--cpus", type=int, default=None)

    p_rep = sub.add_parser(
        "report",
        help="one-pass corpus report: volume, token budget, composition, "
        "dup rate, filter pass-rates",
    )
    p_rep.add_argument("--docs", required=True)
    p_rep.add_argument("--out", default=None, help="optional parquet output")
    p_rep.add_argument("--cpus", type=int, default=None)

    p_nd = sub.add_parser(
        "neardup",
        help="incremental near-dup ingest loop over a persisted MinHash "
        "band index: --build once, then --probe each delivery and "
        "--append it (history is shingled exactly once)",
    )
    p_nd.add_argument("--index", required=True, help="band-index path")
    p_nd.add_argument("--build", default=None, help="corpus parquet to build from")
    p_nd.add_argument("--append", default=None, help="delivery parquet to append")
    p_nd.add_argument("--probe", default=None, help="delivery parquet to probe")
    p_nd.add_argument("--out", default=None, help="pairs output (with --probe)")
    p_nd.add_argument("--threshold", type=float, default=0.5)
    p_nd.add_argument("--cpus", type=int, default=None)

    p_exp = sub.add_parser(
        "export",
        help="export a curated corpus as shuffled training shards "
        "(deterministic epoch permutation, row-count manifest)",
    )
    p_exp.add_argument("--docs", required=True)
    p_exp.add_argument("--out", required=True)
    p_exp.add_argument("--shards", type=int, required=True)
    p_exp.add_argument("--seed", type=int, default=0,
                       help="epoch seed: new seed = fresh permutation")
    p_exp.add_argument("--fmt", choices=["json", "parquet"], default="json")
    p_exp.add_argument("--order-col", default=None,
                       help="curriculum mode: range-shard ascending by this column")
    p_exp.add_argument("--id-col", default="doc_id")
    p_exp.add_argument("--cpus", type=int, default=None)

    p_dsir = sub.add_parser(
        "dsir",
        help="DSIR importance selection: keep the k raw documents that "
        "look most like a target corpus (hashed n-gram LM ratio, "
        "Gumbel-top-k resampling)",
    )
    p_dsir.add_argument("--raw", required=True, help="raw corpus parquet")
    p_dsir.add_argument("--target", required=True, help="target corpus parquet")
    p_dsir.add_argument("--out", required=True)
    p_dsir.add_argument("--k", type=int, required=True)
    p_dsir.add_argument("--buckets", type=int, default=10_000)
    p_dsir.add_argument(
        "--argmax",
        action="store_true",
        help="deterministic top-k by weight instead of the Gumbel sample",
    )
    p_dsir.add_argument("--cpus", type=int, default=None)

    p_srch = sub.add_parser(
        "search",
        help="BM25 lexical top-k over a documents parquet "
        "(--index/--build-index for the persisted postings path)",
    )
    p_srch.add_argument("--docs", default=None, help="documents parquet path")
    p_srch.add_argument("--index", default=None, help="bm25_write layout path")
    p_srch.add_argument(
        "--build-index",
        action="store_true",
        help="with --docs and --index: write the postings layout and exit",
    )
    p_srch.add_argument("--query", default=None)
    p_srch.add_argument("--k", type=int, default=10)
    p_srch.add_argument("--cpus", type=int, default=None)
    p_srch.add_argument("--show", type=int, default=20)
    p_srch.add_argument("--out", default=None)

    args = top.parse_args(argv)

    from rdfproject_msc_spark.engine import Engine

    if args.command == "load":
        spark = _spark(args.cpus)
        eng = Engine(spark).load_triples(
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

    if args.command == "ingest":
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
        d.write.mode("overwrite").parquet(args.dict_out)
        TripleStore(triples, layout=args.layout).write(args.out)
        if quads is not None:
            quads.write.mode("overwrite").partitionBy("g").parquet(
                args.quads_out
            )
        for c in caches:
            c.unpersist()
        n = spark.read.parquet(args.out).count()
        nd = spark.read.parquet(args.dict_out).count()
        print(
            f"ingested {n} triples, {nd} dictionary terms "
            f"(store={args.out}, dict={args.dict_out})"
        )
        return 0

    if args.command == "vacuum":
        for a, b, what in (
            (args.store, args.out, "--out/--store"),
            (args.dict_path, args.dict_out, "--dict-out/--dict"),
        ):
            _must_differ(
                a, b,
                f"{what} must differ (the compaction reads the old "
                "snapshot while writing the new one)",
            )
        spark = _spark(args.cpus)
        eng = Engine(spark).open(
            args.store, layout=args.layout, dict_path=args.dict_path
        )
        if args.quads:
            if not args.quads_out:
                raise SystemExit("--quads needs --quads-out")
            eng.load_quads(args.quads)
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

    if args.command == "sql":
        spark = _spark(args.cpus)
        eng = Engine(spark).open(args.store, layout=args.layout)
        eng.store.register(spark, "table")
        _emit(eng.sql(args.query), args)
        return 0

    if args.command == "update":
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
        spark = _spark(args.cpus)
        eng = Engine(spark).open(
            args.store,
            layout=args.layout,
            dict_path=args.dict_path,
            term_style=args.term_style,
        )
        if args.quads:
            eng.load_quads(args.quads)
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
        n = spark.read.parquet(args.out).count()
        nd = spark.read.parquet(args.dict_out).count()
        print(
            f"updated: {n} triples, {nd} dictionary terms "
            f"(store={args.out}, dict={args.dict_out})"
        )
        return 0

    if args.command == "materialize":
        _must_differ(
            args.store, args.out,
            "--out must differ from --store (the materialized "
            "snapshot reads the old store while writing)",
        )
        spark = _spark(args.cpus)
        eng = Engine(spark).open(
            args.store,
            layout=args.layout,
            dict_path=args.dict_path,
            term_style=args.term_style,
        )
        n0 = eng.store.df.count()
        if args.same_as:
            eng.canonicalize_same_as()
        eng.materialize_rdfs()
        eng.save(args.out)
        n1 = spark.read.parquet(args.out).count()
        print(f"materialized: {n0} -> {n1} triples ({args.out})")
        return 0

    if args.command in ("sparql", "serve"):
        if (
            getattr(args, "results", None)
            and not args.decode
            and not args.dict_path
        ):
            # a W3C results document of raw dictionary ids is never a
            # valid serialization of the actual terms: refuse before
            # Spark starts (with a dictionary, --results auto-decodes)
            raise SystemExit(
                "--results serializes TERMS, not dictionary ids: "
                "pass --dict (or --decode with a dictionary)"
            )
        spark = _spark(args.cpus)
        # a parquet dictionary is ingest-built: open() reads it without
        # a broadcast hint and switches constants to lexical forms
        eng = Engine(spark).open(
            args.store,
            layout=args.layout,
            dict_path=(
                args.dict_path if args.dict_format == "parquet" else None
            ),
            term_style=args.term_style,
        )
        if args.quads:
            eng.load_quads(args.quads)
        if args.dict_path and args.dict_format == "tsv":
            from rdfproject_msc_spark.dictionary import Dictionary
            from rdfproject_msc_spark.sources.triples import read_dictionary_tsv

            eng.dictionary = Dictionary(
                read_dictionary_tsv(spark, args.dict_path)
            )
        if args.command == "serve":
            from rdfproject_msc_spark.serve import serve

            serve(
                eng,
                host=args.host,
                port=args.port,
                json_limit=args.json_limit,
                max_requests=args.max_requests,
                strict_terms=args.strict_terms,
                enable_update=args.enable_update,
            )
            return 0
        # --results auto-decodes: the guard above saw a dictionary
        decode = args.decode or bool(args.results)
        df = eng.sparql(args.query, decode=decode, clock=args.clock)
        if args.explain:
            df.explain("formatted")
            return 0
        if args.results:
            if not args.results_out:
                raise SystemExit("--results needs --results-out")
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

    if args.command == "curate":
        from rdfproject_msc_spark.operators.curate import curate_full

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        bench = (
            spark.read.parquet(args.benchmark)
            if args.benchmark
            # no benchmark → empty set → decontamination flags nothing
            else docs.filter("1 = 0")
        )
        out = curate_full(
            docs,
            bench,
            near_dup_threshold=args.near_dup_threshold,
            min_quality=args.min_quality,
            max_bits_per_token=args.max_bits_per_token,
            embed_dim=args.embed_dim,
        )
        out.write.mode("overwrite").parquet(args.out)
        kept = spark.read.parquet(args.out).count()
        total = docs.count()
        print(f"curated {total} -> {kept} documents ({args.out})")
        return 0

    if args.command == "split":
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.operators.leakage import leakage_safe_split

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        out = leakage_safe_split(
            docs,
            n=args.ngram,
            threshold=args.threshold,
            bloom_fpp=args.bloom_fpp,
        )
        out.write.mode("overwrite").partitionBy("split").parquet(args.out)
        stats = {
            r["split"]: r["n"]
            for r in spark.read.parquet(args.out)
            .groupBy("split")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        print(f"split sizes: {stats} ({args.out})")
        return 0

    if args.command == "decontaminate":
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.operators.decontam import (
            ngram_contamination,
        )

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark)
        report = ngram_contamination(
            docs,
            bench,
            n=args.ngram,
            threshold=args.threshold,
            bloom_fpp=args.bloom_fpp,
        )
        report.write.mode("overwrite").parquet(args.out)
        flagged = (
            spark.read.parquet(args.out).filter(F.col("contaminated")).count()
        )
        total = docs.count()
        print(f"decontaminate: {flagged}/{total} flagged ({args.out})")
        return 0

    if args.command == "quality":
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.operators.classify import (
            REFERENCE_MODEL,
            fit_quality_classifier,
            quality_scores,
        )

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        if args.labeled:
            model = fit_quality_classifier(spark.read.parquet(args.labeled))
        else:
            model = REFERENCE_MODEL
        scored = quality_scores(docs, model, threshold=args.threshold)
        if args.keep_only:
            scored = scored.filter(F.col("kept"))
        scored.write.mode("overwrite").parquet(args.out)
        stats = (
            spark.read.parquet(args.out)
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

    if args.command == "tokenize":
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
            vocab = fit_vocab(docs, vocab_size=args.vocab_size)
            vocab.write.mode("overwrite").parquet(args.fit_vocab)
            out = tokenize_ids_vocab(
                docs, spark.read.parquet(args.fit_vocab), **kw
            )
        elif args.use_vocab:
            out = tokenize_ids_vocab(
                docs, spark.read.parquet(args.use_vocab), **kw
            )
        else:
            out = tokenize_ids(docs, vocab_size=args.vocab_size, **kw)
        out.write.mode("overwrite").parquet(args.out)
        import pyspark.sql.functions as F

        stats = spark.read.parquet(args.out).agg(
            F.count("*").alias("n"), F.sum("n_tokens").alias("toks")
        ).head()
        print(
            f"tokenized {stats['n']} documents, {stats['toks']} tokens "
            f"to {args.out}"
        )
        return 0

    if args.command == "report":
        from rdfproject_msc_spark.operators.report import corpus_report

        spark = _spark(args.cpus)
        rep = corpus_report(spark.read.parquet(args.docs))
        rows = rep.collect()
        for r in rows:
            print(f"{r['metric']}: {r['value']:.6f}")
        if args.out:
            rep.write.mode("overwrite").parquet(args.out)
        return 0

    if args.command == "neardup":
        from rdfproject_msc_spark.operators import dedup as dedup_mod

        spark = _spark(args.cpus)
        mp = spark.sparkContext.defaultParallelism
        if args.build:
            dedup_mod.minhash_write(
                spark.read.parquet(args.build), args.index, min_partitions=mp
            )
            print(f"built index at {args.index}")
        if args.probe:
            if not args.out:
                raise SystemExit("--probe requires --out")
            pairs = dedup_mod.minhash_join_persisted(
                spark.read.parquet(args.probe),
                args.index,
                threshold=args.threshold,
                min_partitions=mp,
            )
            pairs.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
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

    if args.command == "export":
        from rdfproject_msc_spark.sources.export import write_training_shards

        spark = _spark(args.cpus)
        manifest = write_training_shards(
            spark.read.parquet(args.docs),
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

    if args.command == "dsir":
        from rdfproject_msc_spark.operators.dsir import dsir_select

        spark = _spark(args.cpus)
        out = dsir_select(
            spark.read.parquet(args.raw),
            spark.read.parquet(args.target),
            args.k,
            n_buckets=args.buckets,
            temperature=None if args.argmax else 1.0,
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"selected {n} documents to {args.out}")
        return 0

    if args.command == "select":
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.operators.classify import (
            REFERENCE_MODEL,
            fit_quality_classifier,
        )
        from rdfproject_msc_spark.operators.selection import (
            select_quality_budget,
        )

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        model = (
            fit_quality_classifier(spark.read.parquet(args.labeled))
            if args.labeled
            else REFERENCE_MODEL
        )
        verdict = select_quality_budget(docs, model, args.budget)
        # join the id-level verdict back onto the input docs so the output
        # is directly consumable by tokenize/export (text travels along —
        # without this a --keep-only result forces a manual join back)
        out = docs.join(verdict, "doc_id")
        if args.keep_only:
            out = out.filter(F.col("selected"))
        out.write.mode("overwrite").parquet(args.out)
        stats = (
            spark.read.parquet(args.out)
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

    if args.command == "dedup-passages":
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.operators.passages import passage_dedup

        spark = _spark(args.cpus)
        docs = spark.read.parquet(args.docs)
        out = passage_dedup(docs, k=args.k)
        out.write.mode("overwrite").parquet(args.out)
        agg = (
            spark.read.parquet(args.out)
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

    if args.command == "prepare":
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
        bench = (
            spark.read.parquet(args.benchmark)
            if args.benchmark
            else docs.filter("1 = 0")
        )
        out = prepare_training_set(
            docs,
            bench,
            mixture_rates=rates or None,
            max_tokens=args.max_tokens,
            overlap=args.overlap,
            pack_budget=args.pack_budget,
        )
        out.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        n = res.count()
        packs = res.select("pack_id").distinct().count()
        print(f"prepared {n} training examples in {packs} packs ({args.out})")
        return 0

    if args.command == "search":
        from rdfproject_msc_spark.operators.bm25 import (
            bm25_topk,
            bm25_topk_persisted,
            bm25_write,
        )

        spark = _spark(args.cpus)
        if args.build_index:
            if not (args.docs and args.index):
                print("--build-index needs --docs and --index", file=sys.stderr)
                return 2
            bm25_write(spark.read.parquet(args.docs), args.index)
            print(f"wrote BM25 postings index to {args.index}")
            return 0
        if not args.query:
            print("--query is required", file=sys.stderr)
            return 2
        if args.index:
            df = bm25_topk_persisted(spark, args.index, args.query, k=args.k)
        elif args.docs:
            df = bm25_topk(spark.read.parquet(args.docs), args.query, k=args.k)
        else:
            print("need --docs or --index", file=sys.stderr)
            return 2
        _emit(df, args)
        return 0

    if args.command == "run":
        from rdfproject_msc_spark.registry import REGISTRY

        if args.list or args.name == "list":
            for name in REGISTRY:
                print(name)
            return 0
        if args.name is None or args.sf_dir is None:
            p_run.error("run needs --name and --sf-dir (or --list)")
        if args.name not in REGISTRY:
            print(f"unknown query {args.name!r}; --list to enumerate", file=sys.stderr)
            return 2
        spark = _spark(args.cpus)
        _emit(REGISTRY[args.name].fn(spark, args.sf_dir), args)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
