"""Engine facade: the three user-facing entry points (SURVEY.md §3).

    engine = Engine(spark)
    engine.load_triples(triples_path, dict_path, layout="sign_split",
                        cluster_by="s")          # ingest + layout (EP 3)
    engine.sql("SELECT ... FROM table ...")      # SQL path        (EP 2)
    engine.sparql("SELECT ?x WHERE { ... }")     # SPARQL path     (EP 1+2)

This replaces the reference's four copy-pasted ``main()`` drivers
(PartitionQuerying*.java) with one object: layout is a constructor argument,
queries are methods, and decode is an option — every (layout × key ×
query-path) combination the reference hard-coded is reachable, plus the
persisted-Parquet path the reference lacked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.sources import triples as TIO
from rdfproject_msc_spark.sparql.planner import sparql_to_df
from rdfproject_msc_spark.store import TripleStore


class Engine:
    """One triple store + one dictionary + the query surface over them."""

    def __init__(
        self,
        spark: SparkSession,
        store: TripleStore | None = None,
        dictionary: Dictionary | None = None,
        term_style: str = "localized",
    ):
        self.spark = spark
        self.store = store
        self.dictionary = dictionary
        # bookkeeping for the UPDATE path (sparql/update.py): the view
        # name to re-register after a copy-on-write swap, and the
        # ingest-time sign-class rule new INSERTed terms should follow
        self._register_as: str | None = None
        self._negative_when = None
        # SPARQL-constant convention: "localized" for reference-format
        # dictionaries (':local' terms), "lexical" for dictionaries built
        # from raw RDF (full '<iri>' forms). load_triples(fmt="nt") flips
        # this automatically.
        self.term_style = term_style
        # DataFrames the raw-RDF ingest persisted (parsed relation,
        # dictionary, rank intermediates) — released by release_caches()
        # / close() / vacuum() once nothing reads their lineage
        self._ingest_caches: list = []

    # -- entry point 3: ingest + layout -----------------------------------
    def load_triples(
        self,
        triples_path: str,
        dict_path: str | None = None,
        fmt: str = "text",
        layout: str = "single",
        cluster_by: str | None = None,
        register_as: str = "table",
        negative_when=None,
        on_error: str = "skip",
        **store_kwargs,
    ) -> "Engine":
        """Read triples + optional dictionary TSV, apply the physical
        layout, and register SQL views. Returns self.

        ``fmt``: ``"text"`` (pre-encoded space-separated ints — the
        reference's contract), ``"parquet"`` (persisted encoded layout),
        ``"nt"`` (RAW N-Triples: the dictionary is BUILT distributedly and
        the terms encoded — sources/ntriples.py; ``negative_when`` chooses
        the Negative sign class by term, ``dict_path`` must be None),
        ``"ttl"`` (RAW Turtle — sources/turtle.py parses per file, same
        built-dictionary contract as "nt"), ``"rdfxml"`` (RAW RDF/XML —
        sources/rdfxml.py, the ontology-interchange format), or
        ``"jsonld"`` (RAW JSON-LD — sources/jsonld.py, the web-embedded
        format; both share the per-file parse and built-dictionary
        contract)."""
        if fmt == "text":
            df = TIO.read_triples_text(self.spark, triples_path)
        elif fmt == "parquet":
            df = TIO.read_triples_parquet(self.spark, triples_path)
        elif fmt in ("nt", "ttl", "rdfxml", "jsonld"):
            if dict_path is not None:
                raise ValueError(
                    f"fmt={fmt!r} builds its dictionary from the data; "
                    "dict_path must be None"
                )
            if fmt == "nt":
                from rdfproject_msc_spark.sources.ntriples import (
                    ingest_ntriples as _ingest,
                )
            elif fmt == "ttl":
                from rdfproject_msc_spark.sources.turtle import (
                    ingest_turtle as _ingest,
                )
            elif fmt == "rdfxml":
                from rdfproject_msc_spark.sources.rdfxml import (
                    ingest_rdfxml as _ingest,
                )
            else:
                from rdfproject_msc_spark.sources.jsonld import (
                    ingest_jsonld as _ingest,
                )

            df, dict_df = _ingest(
                self.spark,
                triples_path,
                negative_when=negative_when,
                on_error=on_error,
                caches=self._ingest_caches,
            )
            # r13: the in-memory lifecycle materializes the ENCODED
            # relation once, like parsed and the dictionary before it —
            # each action otherwise re-ran the three term-encode joins
            # per pattern reference (a 2-hop self-join re-encoded the
            # whole corpus twice, every time), and each of those joins
            # is a fresh broadcast-build stage because AQE never reuses
            # broadcast exchanges over cached relations (measured r13).
            # At corpus scale the equivalent boundary is save()+open():
            # the encoded store is written once and scanned thereafter.
            from pyspark.storagelevel import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._ingest_caches.append(df)
            # r13: pre-derive the §17.4.2.5 STR values next to the
            # dictionary (one extra cached column) — every lexical-store
            # term attach re-ran the unquote/unescape regex chain over
            # |dict| rows per action before this.
            from rdfproject_msc_spark.sparql.planner import _lex_str_value

            dict_sv = dict_df.select(
                "id",
                "term",
                _lex_str_value(F.col("id"), F.col("term")).alias("__sv"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self._ingest_caches.append(dict_sv)
            # built dictionaries scale with the corpus: no broadcast hint
            self.dictionary = Dictionary(
                dict_sv.select("id", "term"),
                broadcast_hint=False,
                sv_df=dict_sv,
            )
            # built dictionaries store full lexical forms: SPARQL
            # constants must normalize to the same convention
            self.term_style = "lexical"
        else:
            raise ValueError(f"unknown triples format: {fmt!r}")
        self._release_store()
        self.store = TripleStore(
            df, layout=layout, cluster_by=cluster_by, **store_kwargs
        )
        if register_as:
            self.store.register(self.spark, register_as)
        self._register_as = register_as or None
        self._negative_when = negative_when
        if dict_path is not None:
            self.dictionary = Dictionary(
                TIO.read_dictionary_tsv(self.spark, dict_path)
            )
        return self

    def load_quads(self, quads_path: str) -> "Engine":
        """Attach a named-graph quad relation ``(g, s, p, o)`` (parquet —
        a ``write_quads`` layout or any file with those columns) to the
        current store: GRAPH blocks (§13.3) become answerable. The
        default graph stays the triple relation."""
        self._require_store().attach_quads(
            TripleStore.read_quads(self.spark, quads_path)
        )
        return self

    def save(
        self,
        path: str,
        quads_path: str | None = None,
        dict_path: str | None = None,
    ) -> "Engine":
        """Persist the laid-out store (write once → prune forever);
        ``quads_path`` additionally persists the attached named graphs
        partitioned BY GRAPH (constant-GRAPH directory pruning);
        ``dict_path`` persists the dictionary as parquet — the hand-off a
        BUILT (fmt="nt") dictionary needs so a later ``open`` can query
        without re-running the ingest."""
        self._require_store().write(path)
        if quads_path is not None:
            self._require_store().write_quads(quads_path)
        if dict_path is not None:
            if self.dictionary is None:
                raise ValueError("no dictionary loaded — nothing to save")
            self.dictionary.df.write.mode("overwrite").parquet(dict_path)
        return self

    def open(
        self,
        path: str,
        layout: str = "single",
        cluster_by: str | None = None,
        dict_path: str | None = None,
        term_style: str | None = None,
        dict_broadcast: bool = False,
    ) -> "Engine":
        """Open a persisted store without re-shuffling. ``dict_path``
        restores a parquet dictionary (``save(dict_path=…)`` output);
        ``term_style`` restores the SPARQL constant convention —
        defaults to "lexical" when a dictionary parquet is given (built
        dictionaries store lexical forms; pass "localized" explicitly
        for a reference-convention dictionary that was re-saved as
        parquet). ``dict_broadcast`` defaults False: built dictionaries
        scale with the corpus."""
        self._release_store()
        self.store = TripleStore.read(
            self.spark, path, layout=layout, cluster_by=cluster_by
        )
        if dict_path is not None:
            self.dictionary = Dictionary(
                self.spark.read.parquet(dict_path),
                broadcast_hint=dict_broadcast,
            )
            self.term_style = term_style or "lexical"
        elif term_style is not None:
            self.term_style = term_style
        return self

    # -- entry point 2: SQL ------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """SQL over the registered views (``table`` / ``Positive`` /
        ``Negative``) — Catalyst plans, AQE re-plans at runtime."""
        return self.spark.sql(query)

    # -- entry point 1: SPARQL --------------------------------------------
    def sparql(
        self,
        query: str,
        decode: bool = False,
        strict_terms: bool = True,
        clock=None,
    ) -> DataFrame:
        """SPARQL BGP → DataFrame join plan (→ optional dictionary
        decode). ``strict_terms=False``: constants the dictionary lacks
        match NOTHING (the spec's empty result) instead of raising the
        typo guard — the conformance stance for untrusted queries.
        ``clock``: an explicit xsd:dateTime lexical (or ``datetime``)
        that folds bare ``NOW()`` calls to that constant at plan time;
        without it NOW() keeps its documented nondeterminism reject."""
        return sparql_to_df(
            self._require_store(),
            query,
            self.dictionary,
            decode=decode,
            term_style=self.term_style,
            strict_terms=strict_terms,
            clock=clock,
        )

    # -- SPARQL 1.1 Update (copy-on-write) ---------------------------------
    def update(self, update_str: str, negative_when=None) -> "Engine":
        """Apply a SPARQL UPDATE request (INSERT DATA / DELETE DATA /
        DELETE WHERE / DELETE…INSERT…WHERE / LOAD / CLEAR and graph
        management — sparql/update.py) to this engine. The store keeps
        its base relation and folds each row-level change, once, into
        two small materialized sets — ``added`` and ``removed`` — that
        every later read composes as ``base ▷ removed ∪ added``; CLEAR,
        DROP, COPY and MOVE replace the base instead. New terms append
        to the dictionary, and the SQL views re-register. Nothing on
        disk changes until ``save()``, which writes the composed
        relation. Relations planned before the update must be planned
        again: the superseded delta is released."""
        from rdfproject_msc_spark.sparql.update import apply_update

        apply_update(self, update_str, negative_when=negative_when)
        return self

    def materialize_rdfs(self) -> "Engine":
        """Forward-chain the RDFS + OWL-lite entailments into the store
        (operators/rdfs.py): subClassOf/subPropertyOf transitivity,
        property inheritance, domain/range typing, inverse/symmetric
        property edges (the oriented property-graph mapping), and
        per-declared-property transitive closures — schema closures are
        ontology-sized broadcasts, the corpus pays one distinct. The
        store swaps copy-on-write, exactly like ``update``; queries
        over the materialized store see entailed triples with no
        query-time rewriting. ``canonicalize_same_as()`` first when the
        data carries owl:sameAs identities."""
        from rdfproject_msc_spark.operators.rdfs import (
            rdfs_closure,
            resolve_vocab,
        )
        from rdfproject_msc_spark.sparql.update import _clone_store

        if self.dictionary is None:
            raise ValueError(
                "materialize_rdfs needs a dictionary (the RDFS "
                "vocabulary ids come from it)"
            )
        store = self._require_store()
        vocab = resolve_vocab(self.dictionary, self.term_style)
        self.store = _clone_store(store, df=rdfs_closure(store.df, vocab))
        if self._register_as:
            self.store.register(self.spark, self._register_as)
        return self

    def canonicalize_same_as(self) -> "Engine":
        """owl:sameAs smushing (operators/rdfs.py): identity clusters
        (connected components of the sameAs graph) collapse onto their
        min-id representative — every statement rewrites through the
        mapping, the sameAs statements drop, the store swaps
        copy-on-write. A dictionary without the sameAs term means no
        such statements can exist: no-op."""
        from rdfproject_msc_spark.operators.rdfs import (
            resolve_vocab,
            same_as_fixpoint,
        )
        from rdfproject_msc_spark.sparql.update import _clone_store

        if self.dictionary is None:
            raise ValueError("canonicalize_same_as needs a dictionary")
        store = self._require_store()
        vocab = resolve_vocab(self.dictionary, self.term_style)
        # explicit sameAs + prp-fp/prp-ifp identities, iterated to the
        # merge fixpoint (operators/rdfs.py:same_as_fixpoint, r10)
        out = same_as_fixpoint(store.df, vocab)
        if out is None:
            return self  # no identity vocabulary in this dictionary
        self.store = _clone_store(store, df=out)
        if self._register_as:
            self.store.register(self.spark, self._register_as)
        return self

    def decode(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        if self.dictionary is None:
            raise ValueError("no dictionary loaded")
        return self.dictionary.decode(df, columns)

    # -- lifecycle: cache release + compaction ------------------------------
    def release_caches(self) -> "Engine":
        """Unpersist every DataFrame the raw-RDF ingest cached. Only call
        once nothing live reads their lineage (after ``save()`` + re-
        ``open()``, or after ``vacuum()`` — which calls this itself);
        unpersisting earlier silently recomputes the multi-shuffle rank
        build per downstream action instead of breaking anything."""
        for df in self._ingest_caches:
            df.unpersist()
        self._ingest_caches.clear()
        return self

    def close(self) -> None:
        """End-of-lifetime hook: release the ingest caches. The
        SparkSession is the caller's (not stopped here); the Engine
        object is reusable after a new ``load_triples``/``open``."""
        self.release_caches()

    def __enter__(self) -> "Engine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def vacuum(self, reindex: bool = False) -> dict:
        """Compact after an update chain: drop dictionary terms no
        longer referenced by any triple or quad (DELETE never retires
        terms on its own), fold the base and its pending ``added`` /
        ``removed`` sets into one materialized snapshot
        (``localCheckpoint`` — executor-local; call ``save()`` for a
        durable copy), and release the superseded deltas and the ingest
        caches the snapshot no longer reads. Reads need no vacuum to
        stay fast — updates keep the store's plan bounded — so what it
        buys is the dropped dead terms and one checkpoint in place of
        base + delta.

        ``reindex=False`` (default) preserves every surviving id —
        query answers are bit-for-bit identical, encoded ids included.
        ``reindex=True`` additionally re-ranks the surviving terms into
        a dense id space (lexicographic rank within the ORIGINAL sign
        class, the build_dictionary rule) and rewrites the store/quads
        through the old→new mapping — decoded answers identical, ids
        dense again. Returns ``{"terms_before", "terms_after",
        "dropped"}``."""
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.sources.ntriples import _lex_ranks

        store = self._require_store()
        if self.dictionary is None:
            raise ValueError("vacuum needs a dictionary")
        refs = (
            store.df.select(F.col("s").alias("id"))
            .unionAll(store.df.select(F.col("p").alias("id")))
            .unionAll(store.df.select(F.col("o").alias("id")))
        )
        if store.has_quads:
            for c in ("g", "s", "p", "o"):
                refs = refs.unionAll(store.quads.select(F.col(c).alias("id")))
        refs = refs.distinct()
        # ONE dictionary-sized action serves both the stats (`dropped`;
        # terms_before derives as after + dropped, so no separate
        # count() scan) and the reindex SAFETY probe: ids referenced by
        # the store but ABSENT from the dictionary (raw integer literals
        # under the localized convention — a documented store shape).
        # The reindex rewrite below joins the store THROUGH the old→new
        # mapping, which only dictionary-resident terms enter, so any
        # unmapped id would silently DELETE its triples/quads — and a
        # left join + coalesce would not be safe either (reassigned
        # dense ids can collide with the kept raw values). Refuse.
        stats = (
            self.dictionary.df.select("id")
            .withColumn("__dict", F.lit(True))
            .join(refs.withColumn("__ref", F.lit(True)), "id", "full_outer")
            .agg(
                F.count(F.when(F.col("__ref").isNull(), 1)).alias("dropped"),
                F.count(F.when(F.col("__dict").isNull(), 1)).alias(
                    "unmapped"
                ),
            )
            .first()
        )
        dropped, unmapped = int(stats["dropped"]), int(stats["unmapped"])
        if reindex and unmapped:
            raise ValueError(
                f"vacuum(reindex=True): {unmapped} store id(s) are not "
                "dictionary terms (raw integer literals under the "
                "localized convention); the old→new rewrite would "
                "silently delete every triple/quad holding one. Run "
                "vacuum(reindex=False), or re-ingest from raw RDF "
                "(term_style='lexical' dictionaries are total) before "
                "reindexing."
            )
        live = self.dictionary.df.join(refs, "id", "left_semi")
        new_df, new_quads = store.df, store.quads if store.has_quads else None
        rank_caches: list = []
        if reindex:
            npart = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            pos = _lex_ranks(
                live.filter(F.col("id") > 0).select("term"),
                npart,
                rank_caches,
            )
            neg = _lex_ranks(
                live.filter(F.col("id") < 0).select("term"),
                npart,
                rank_caches,
            )
            new_dict = pos.select(
                F.col("rank").alias("id"), "term"
            ).unionAll(neg.select((-F.col("rank")).alias("id"), "term"))
            mapping = (
                live.select(F.col("id").alias("__old"), "term")
                .join(
                    new_dict.select(F.col("id").alias("__new"), "term"),
                    "term",
                )
                .select("__old", "__new")
            )

            def _remap(df: DataFrame, cols: list[str]) -> DataFrame:
                # per-column id rewrite; the mapping is corpus-sized
                # (no broadcast hint — AQE picks)
                for c in cols:
                    df = (
                        df.join(mapping, df[c] == mapping["__old"], "inner")
                        .drop(c, "__old")
                        .withColumnRenamed("__new", c)
                    )
                return df.select(*cols)

            new_df = _remap(store.df, ["s", "p", "o"])
            if new_quads is not None:
                new_quads = _remap(store.quads, ["g", "s", "p", "o"])
        else:
            new_dict = live
        # materialize the compacted snapshot (cuts lineage to the
        # superseded ingest caches AND the stacked update deltas)
        new_dict = new_dict.localCheckpoint(eager=True)
        new_df = new_df.localCheckpoint(eager=True)
        if new_quads is not None:
            new_quads = new_quads.localCheckpoint(eager=True)
        after = new_dict.count()
        for c in rank_caches:
            c.unpersist()  # the checkpointed snapshot no longer reads them
        self.dictionary = Dictionary(
            new_dict, broadcast_hint=self.dictionary.broadcast_hint
        )
        self.store = store.with_base(new_df, new_quads, pin=False)
        store.release_deltas()
        if self._register_as:
            self.store.register(self.spark, self._register_as)
        self.release_caches()
        return {
            "terms_before": after + dropped,
            "terms_after": after,
            "dropped": dropped,
        }

    def _release_store(self) -> None:
        """Release the pending update deltas of the store being replaced."""
        if self.store is not None:
            self.store.release_deltas()

    def _require_store(self) -> TripleStore:
        if self.store is None:
            raise ValueError("no triples loaded — call load_triples() or open()")
        return self.store
