"""Raw-RDF ingestion: N-Triples parsing + distributed dictionary construction.

The missing FIRST MILE of the reference's workflow. The reference consumes
input that is already dictionary-encoded (PartitionQueryingSubject.java:55
reads `ais_jan2016_20170329_encoded.sample.txt`) and a ready-made dictionary
TSV that it only ever reads (PartitionQueryingSubject.java:63-70) — the
encoding step exists in neither repo, so a user holding actual N-Triples
cannot onboard. This module closes that gap Spark-first:

- ``parse_ntriples``: line-oriented N-Triples → a ``(s_term, p_term,
  o_term)`` string relation. One JVM-side anchored regex per line
  (regexp_extract — whole-stage codegen, no Python); comment/blank lines
  skipped; malformed lines either dropped (``on_error="skip"``) or failed
  loudly inside the scan (``on_error="fail"`` via a codegen'd
  ``raise_error`` branch — no driver-side validation pass). Terms keep
  their exact N-Triples lexical form (``<iri>``, ``_:bnode``,
  ``"literal"@lang`` / ``^^<dt>``) — the dictionary stores lexical forms,
  so parse→encode→decode→format round-trips byte-identically.

- ``build_dictionary``: term → dense signed id, fully distributed — the
  term set is NEVER materialized driver-side (contrast the reference's
  HashMap, fatal at 100 TB). The id of a term is its LEXICOGRAPHIC RANK
  within its sign class: positives 1..P, negatives −1..−N (id 0 stays the
  SPARQL translator's variable sentinel, MyOpVisitorBase.java:74-78; the
  sign class implements the reference's semantic Positive/Negative
  routing, PartitionQueryingBRDSubject.java:100-124, chosen here by a
  caller predicate over the term text). Rank is computed with the same
  two-phase prefix machinery as operators/packing.py:79 /
  operators/selection.py: ``repartitionByRange(term)`` (sampled,
  skew-adaptive boundaries), per-partition counts → a #partitions-sized
  prefix relation, broadcast back, ``row_number`` within partitions. The
  rank is EXACT wherever the sampled boundaries fall (the prefix respects
  the total order across and within partitions), so ids are a pure
  function of the term set — deterministic under any input partitioning,
  and exactly replicable by a ``row_number() OVER (ORDER BY term)``
  oracle. The ranged frame is persisted before the fork into the
  totals/probe subtrees (one sampled boundary instantiation — the
  selection.py rule).

- ``encode_triples``: three term-keyed joins against the dictionary (the
  dictionary GROWS with the corpus, so no broadcast hint — AQE picks;
  this is the standard distributed-RDF encode shape, one-time cost
  amortized by the persisted integer layout).

``Engine.load_triples(path, fmt="nt")`` wires the full flow: parse →
build dictionary → encode → layout, leaving the engine holding the built
``Dictionary`` for SPARQL constants and decode.

Cache lifetime: the ingest paths persist the parsed relation and the
dictionary (both are traversed by several downstream subtrees; without
the persist the multi-shuffle rank build re-runs per consumer). The
returned DataFrames stay lazy over those caches, so they cannot be
unpersisted here. Callers that need the lifecycle pass ``caches=[...]``
— every persisted frame is appended, and ``Engine`` releases them via
``release_caches()`` / ``close()`` / ``vacuum()`` once the compacted
snapshot no longer reads them. Without a registry they live until the
session ends (Spark evicts LRU under pressure); the CLI sidesteps this
by persisting to Parquet and re-reading.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Line validation (ONE anchored rlike per line) + term tokenization (ONE
# global extract per line): subject (IRI | bnode), predicate (IRI), object
# (IRI | bnode | literal with optional @lang / ^^<datatype>), terminating
# dot, optional trailing \r (CRLF files). Escaped quotes inside literals
# ride the (?:[^"\\]|\\.)* body, so a literal containing '" .' cannot
# terminate the line early, and the tokenizer cannot match an IRI-looking
# '<x>' INSIDE a literal (at the quote position the literal alternative
# consumes the whole quoted run first).
NT_SUBJECT = r"(<[^>]*>|_:\S+)"
NT_PREDICATE = r"(<[^>]*>)"
NT_LITERAL = r'"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*|\^\^<[^>]*>)?'
NT_OBJECT = rf"(<[^>]*>|_:\S+|{NT_LITERAL})"
NT_LINE = rf"^[ \t]*{NT_SUBJECT}[ \t]+{NT_PREDICATE}[ \t]+{NT_OBJECT}[ \t]*\.[ \t\r]*$"
# N-Quads: same line with an optional 4th term (graph IRI or bnode);
# absent → the default graph (empty g_term)
NQ_GRAPH = r"(?:[ \t]+(<[^>]*>|_:\S+))?"
NQ_LINE = rf"^[ \t]*{NT_SUBJECT}[ \t]+{NT_PREDICATE}[ \t]+{NT_OBJECT}{NQ_GRAPH}[ \t]*\.[ \t\r]*$"
# global term tokenizer: on a LINE-VALIDATED input, the matches are exactly
# the statement's terms in order (the dot and whitespace match nothing).
# The bnode alternative takes a dot only when a non-space follows — so a
# label-internal dot (_:a.b, legal) stays in the token while the
# TERMINATING dot of a no-space '_:b.' ending (also legal) does not; the
# anchored validation regex reaches the same split by backtracking.
NT_TERM = rf"<[^>]*>|_:(?:[^\s.]|\.(?=\S))+|{NT_LITERAL}"
_BLANK_OR_COMMENT = r"^[ \t]*(#|\r?$)"


def _tokenize_validated(
    lines: DataFrame, line_re: str, what: str, on_error: str
) -> DataFrame:
    """The shared validated-tokenize step of every line-oriented scan
    (N-Triples and N-Quads use the SAME term tokenizer over different
    anchored line grammars): blank/comment lines out, one anchored
    validation rlike, one global term extraction, malformed lines
    dropped (``skip``) or failed INSIDE the scan via a codegen'd
    ``raise_error`` branch (``fail`` — no driver-side validation pass).
    One code path, so a grammar tweak lands once for batch NT,
    streaming NT, and NQ alike."""
    if on_error not in ("skip", "fail"):
        raise ValueError(f"on_error must be 'skip' or 'fail', got {on_error!r}")
    content = lines.filter(~F.col("value").rlike(_BLANK_OR_COMMENT))
    ok = F.col("value").rlike(line_re)
    toks = F.regexp_extract_all("value", F.lit(NT_TERM), 0)
    if on_error == "fail":
        toks = F.when(
            ok, toks
        ).otherwise(
            F.raise_error(
                F.concat(F.lit(f"malformed {what} line: "), F.col("value"))
            )
        )
        return content.select(toks.alias("__t"))
    return content.filter(ok).select(toks.alias("__t"))


def parse_ntriples_lines(lines: DataFrame, on_error: str = "skip") -> DataFrame:
    """The parse as pure column expressions over a ``value`` line relation
    — shared verbatim by the batch reader and the streaming twin
    (streaming/rdf.py), so the two parse bit-identically by construction.
    Two regex passes per line (one anchored validation rlike + one global
    term tokenization), not one per output column.
    """
    parsed = _tokenize_validated(lines, NT_LINE, "N-Triples", on_error)
    return parsed.select(
        F.col("__t")[0].alias("s_term"),
        F.col("__t")[1].alias("p_term"),
        F.col("__t")[2].alias("o_term"),
    )


def parse_ntriples(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """N-Triples text → ``(s_term, p_term, o_term)`` lexical-form strings.

    ``on_error="skip"`` drops malformed lines; ``"fail"`` raises inside the
    scan on the first malformed line (comment/blank lines are never
    malformed). Both paths are pure column expressions over one text scan.
    """
    return parse_ntriples_lines(spark.read.text(path), on_error=on_error)


def parse_nquads(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """N-Quads text → ``(g_term, s_term, p_term, o_term)``. A line without
    a graph label is a default-graph statement: ``g_term`` is NULL. Same
    one-regex-per-line scan and skip/fail contract as ``parse_ntriples``.
    """
    parsed = _tokenize_validated(
        spark.read.text(path), NQ_LINE, "N-Quads", on_error
    )
    return parsed.select(
        # 4 tokens → labeled statement; 3 → default graph (NULL g_term)
        F.when(F.size("__t") == 4, F.col("__t")[3]).alias("g_term"),
        F.col("__t")[0].alias("s_term"),
        F.col("__t")[1].alias("p_term"),
        F.col("__t")[2].alias("o_term"),
    )


def format_ntriples(parsed: DataFrame) -> DataFrame:
    """``(s_term, p_term, o_term)`` lexical forms → one-column N-Triples
    lines (the inverse of ``parse_ntriples``: parse∘format is identity —
    terms are stored as exact lexical forms, so no escaping pass is
    needed). Write with ``df.write.text(path)`` for the interchange file.
    """
    return parsed.select(
        F.concat_ws(
            " ", F.col("s_term"), F.col("p_term"), F.col("o_term"), F.lit(".")
        ).alias("value")
    )


def format_nquads(parsed: DataFrame) -> DataFrame:
    """``(g_term | NULL, s_term, p_term, o_term)`` lexical forms →
    one-column N-Quads lines (the inverse of ``parse_nquads``): a NULL
    graph term emits the 3-term default-graph statement, a named one
    appends the graph label — so a dataset round-trips through
    ``parse_nquads`` to the identical default/named split."""
    return parsed.select(
        F.concat_ws(
            " ",
            F.col("s_term"),
            F.col("p_term"),
            F.col("o_term"),
            *( [F.col("g_term")] if "g_term" in parsed.columns else [] ),
        ).alias("__body"),
    ).select(F.concat(F.col("__body"), F.lit(" .")).alias("value"))


def _lex_ranks(
    terms: DataFrame, num_partitions: int, caches: list | None = None
) -> DataFrame:
    """``(term)`` → ``(term, rank)`` with rank = 1-based lexicographic rank,
    computed without any global sort materialization or driver collect:
    range-partition by term, prefix the per-partition counts (a
    #partitions-sized relation), broadcast the offsets back, number rows
    within partitions."""
    from pyspark.sql import Window

    ranged = terms.repartitionByRange(
        num_partitions, F.col("term").asc()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(ranged)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    totals = with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_parts = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_parts), F.lit(0)).alias("__offset"),
    )
    w_within = Window.partitionBy("__pid").orderBy(F.col("term").asc())
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "rank",
            (F.col("__offset") + F.row_number().over(w_within)).cast("long"),
        )
        .select("term", "rank")
    )


def build_dictionary(
    parsed: DataFrame,
    negative_when: Column | str | None = None,
    num_partitions: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Distinct terms of a parsed triple relation → ``(id, term)`` with
    dense signed ids: id(t) = lexicographic rank of t within its sign
    class (positives 1..P, negatives −1..−N, never 0).

    ``negative_when``: boolean expression over ``term`` choosing the
    negative class (the reference's semantic Negative table routing);
    default: everything positive. Accepts a Column or a SQL string."""
    spark = parsed.sparkSession
    npart = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    terms = (
        parsed.select(F.col("s_term").alias("term"))
        .unionAll(parsed.select(F.col("p_term").alias("term")))
        .unionAll(parsed.select(F.col("o_term").alias("term")))
        .distinct()
    )
    classed = terms.withColumn("__neg", _negative_expr(negative_when))
    pos = _lex_ranks(
        classed.filter(~F.col("__neg")).select("term"), npart, caches
    )
    negs = _lex_ranks(
        classed.filter(F.col("__neg")).select("term"), npart, caches
    )
    return pos.select(F.col("rank").alias("id"), "term").unionAll(
        negs.select((-F.col("rank")).alias("id"), "term")
    )


def extend_dictionary(
    dictionary: DataFrame,
    parsed: DataFrame,
    negative_when: Column | str | None = None,
    num_partitions: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Incremental ingest (the dictionary twin of the MinHash index's
    ``mode="append"``): assign ids to the terms of ``parsed`` that the
    existing ``dictionary`` does NOT hold, without touching any existing
    id — new positives take max(id)+rank, new negatives min(id)−rank
    (rank = lexicographic rank among the NEW terms of that class, same
    two-phase machinery as the initial build). Returns the id rows for
    the NEW terms only; union with the existing dictionary to encode.

    Ids stay dense per class across appends (appended blocks are dense
    and contiguous); they are no longer globally term-sorted — that was
    an artifact of the initial build, not a contract (the contract is:
    unique, non-zero, sign = class). Deterministic given (dictionary,
    new term set): a replayed delivery re-derives the same ids, and two
    DIFFERENT deliveries must append serially (concurrent appends would
    both start from the same max)."""
    spark = parsed.sparkSession
    npart = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    terms = (
        parsed.select(F.col("s_term").alias("term"))
        .unionAll(parsed.select(F.col("p_term").alias("term")))
        .unionAll(parsed.select(F.col("o_term").alias("term")))
        .distinct()
    )
    fresh = terms.join(dictionary.select("term"), "term", "left_anti")
    classed = fresh.withColumn("__neg", _negative_expr(negative_when))
    row = _append_bases(dictionary)
    pos = _lex_ranks(
        classed.filter(~F.col("__neg")).select("term"), npart, caches
    )
    negs = _lex_ranks(
        classed.filter(F.col("__neg")).select("term"), npart, caches
    )
    return pos.select(
        (F.col("rank") + F.lit(int(row["pos_base"]))).alias("id"), "term"
    ).unionAll(
        negs.select(
            (-(F.col("rank") + F.lit(int(row["neg_base"])))).alias("id"),
            "term",
        )
    )


def _negative_expr(negative_when) -> Column:
    if negative_when is None:
        return F.lit(False)
    if isinstance(negative_when, str):
        return F.expr(negative_when)
    return negative_when


def _append_bases(dictionary: DataFrame):
    """One bounded aggregation: the append bases (0 when a class is
    empty, so a first append onto an empty class starts at 1 / -1)."""
    return dictionary.agg(
        F.coalesce(
            F.max(F.when(F.col("id") > 0, F.col("id"))), F.lit(0)
        ).alias("pos_base"),
        F.coalesce(
            F.max(F.when(F.col("id") < 0, -F.col("id"))), F.lit(0)
        ).alias("neg_base"),
    ).first()


def rank_new_terms(
    dictionary: DataFrame,
    terms,
    negative_when: Column | str | None = None,
) -> list[tuple[int, str]]:
    """The driver-side twin of ``extend_dictionary`` for term sets sized
    by a request (SPARQL Update constants and graph names): ``terms`` the
    ``dictionary`` does not hold → their ``(id, term)`` rows, bit-identical
    to ``extend_dictionary``'s. ``negative_when`` is evaluated over a local
    relation (no job); the only job is the append-bases aggregate.
    Ranking sorts by code point, which is the UTF-8 byte order Spark's
    binary string ordering uses."""
    terms = sorted(set(terms))
    if not terms:
        return []
    from rdfproject_msc_spark.store import local_relation

    classed = (
        local_relation(dictionary.sparkSession, [(t,) for t in terms], ["term"])
        .select("term", _negative_expr(negative_when).alias("__neg"))
        .collect()
    )
    row = _append_bases(dictionary)
    out = []
    for neg, base, sign in ((False, row["pos_base"], 1),
                            (True, row["neg_base"], -1)):
        # a NULL class drops the term, as extend_dictionary's filters do
        ranked = [r["term"] for r in classed if r["__neg"] is neg]
        out += [(sign * (int(base) + k), t)
                for k, t in enumerate(ranked, start=1)]
    return out


def encode_triples(parsed: DataFrame, dictionary: DataFrame) -> DataFrame:
    """``(s_term, p_term, o_term)`` → ``(s, p, o)`` long ids via three
    term-keyed joins; any OTHER columns of ``parsed`` pass through (the
    quad path rides this with its already-encoded ``g``). Inner joins:
    every term is in the dictionary by construction when the dictionary
    was built from this relation (a PARTIAL dictionary would silently
    drop triples — callers encoding against a foreign dictionary should
    validate coverage first)."""
    extra = [
        c
        for c in parsed.columns
        if c not in ("s_term", "p_term", "o_term")
    ]
    out = parsed
    for term_col, id_col in (
        ("s_term", "s"),
        ("p_term", "p"),
        ("o_term", "o"),
    ):
        d = dictionary.select(
            F.col("id").alias(id_col), F.col("term").alias(term_col)
        )
        out = out.join(d, term_col, "inner")
    return out.select(*extra, "s", "p", "o")


def ingest_ntriples(
    spark: SparkSession,
    path: str,
    *,
    negative_when: Column | str | None = None,
    on_error: str = "skip",
    num_partitions: int | None = None,
    dictionary: DataFrame | None = None,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full first mile: parse → build dictionary → encode. Returns
    ``(encoded_triples, dictionary)`` — both lazy plans over one parsed
    relation (persisted, since the dictionary build and the encode both
    traverse it).

    Pass ``dictionary`` (an existing ``(id, term)`` relation) for
    INCREMENTAL ingest: unseen terms append via ``extend_dictionary``
    (existing ids untouched) and the returned dictionary is the union —
    the delivery loop that pairs with the persisted MinHash index's
    ``mode="append"``."""
    parsed = parse_ntriples(spark, path, on_error=on_error).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if caches is not None:
        caches.append(parsed)
    if dictionary is None:
        full = build_dictionary(
            parsed,
            negative_when=negative_when,
            num_partitions=num_partitions,
            caches=caches,
        )
    else:
        fresh = extend_dictionary(
            dictionary,
            parsed,
            negative_when=negative_when,
            num_partitions=num_partitions,
            caches=caches,
        )
        full = dictionary.select("id", "term").unionAll(fresh)
    # persist the dictionary too: every downstream consumer re-traverses
    # it (three encode joins, SPARQL constant lookups, decode joins) and
    # would otherwise re-run the two-shuffle rank build each time
    full = full.persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(full)
    return encode_triples(parsed, full), full


def ingest_nquads(
    spark: SparkSession,
    path: str,
    *,
    negative_when: Column | str | None = None,
    on_error: str = "skip",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """N-Quads first mile: parse → ONE dictionary over every term
    (graph labels included) → encode. Returns ``(triples, quads,
    dictionary)``: label-less statements become the DEFAULT-graph triple
    relation ``(s, p, o)``; labeled statements become the named-graph
    quad relation ``(g, s, p, o)`` — the exact split the engine's GRAPH
    surface consumes (``TripleStore.attach_quads``: the default graph IS
    the triple relation, SPARQL §13.3)."""
    parsed = parse_nquads(spark, path, on_error=on_error)
    return encode_quad_relation(
        parsed, negative_when=negative_when, num_partitions=num_partitions
    )


def quad_term_relation(parsed: DataFrame) -> DataFrame:
    """A quad relation's FULL vocabulary as a ``(s_term, p_term,
    o_term)`` relation: graph labels fold in as extra rows so ONE
    dictionary covers them too. Shared by ``encode_quad_relation`` and
    the CLI's parse-once ingest path."""
    spo = parsed.select("s_term", "p_term", "o_term")
    g_terms = parsed.filter(F.col("g_term").isNotNull()).select(
        F.col("g_term").alias("s_term"),
        F.col("g_term").alias("p_term"),
        F.col("g_term").alias("o_term"),
    )
    return spo.unionAll(g_terms)


def encode_quad_relation(
    parsed: DataFrame,
    *,
    negative_when: Column | str | None = None,
    num_partitions: int | None = None,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared back half of every quad-bearing first mile (N-Quads and
    TriG): a ``(g_term | NULL, s_term, p_term, o_term)`` relation →
    ``(triples, quads, dictionary)`` with ONE dictionary over every term
    including graph labels. The input is persisted here (dictionary
    build + two encodes traverse it)."""
    parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(parsed)
    dictionary = build_dictionary(
        quad_term_relation(parsed),
        negative_when=negative_when,
        num_partitions=num_partitions,
        caches=caches,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(dictionary)
    triples = encode_triples(
        parsed.filter(F.col("g_term").isNull()).select(
            "s_term", "p_term", "o_term"
        ),
        dictionary,
    )
    named = parsed.filter(F.col("g_term").isNotNull())
    d_g = dictionary.select(
        F.col("id").alias("g"), F.col("term").alias("g_term")
    )
    quads = encode_triples(
        named.join(d_g, "g_term").select("g", "s_term", "p_term", "o_term"),
        dictionary,
    )
    return triples, quads.select("g", "s", "p", "o"), dictionary
