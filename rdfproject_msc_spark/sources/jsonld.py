"""JSON-LD ingestion: the web-embedded RDF format, parsed per FILE.

schema.org markup, API payloads and crawl-extracted structured data
ship as JSON-LD. Like RDF/XML (sources/rdfxml.py) this is extension
surface — the reference consumes pre-encoded integers only
(PartitionQueryingSubject.java:55) — and it reuses the exact
architecture every other raw-RDF reader here proved out:

- **Per-FILE parse unit.** A JSON-LD document is ONE JSON value whose
  meaning depends on its ``@context`` — there is no line split. Each
  file parses whole inside one Arrow ``mapInPandas`` stage over a
  ``binaryFile`` listing (parallelism = file count; crawl corpora ship
  as many files, and a giant single file should be converted to
  N-Triples for a line-parallel scan — the documented escape hatch).
- **Deterministic blank-node labels**: explicit ``_:label`` ids pass
  through; anonymous node objects and ``@list`` cells mint
  ``_:jldanon-<md5(path)[:8]>-<n>`` / ``_:jldlist-…`` in document
  order — identical on Spark task retry.
- **Emitted relation ≡ the other parsers'**: ``(s_term, p_term,
  o_term)`` full lexical forms with the shared minimal N-Triples
  escape set, so ``ingest_rdf(fmt="jsonld")`` runs the one first
  mile (sources/ntriples.py) unchanged and a JSON-LD and an
  N-Triples serialization of one graph produce identical relations
  and ids.

Supported subset (expansion + toRdf essentials, documented):
``@context`` term definitions — plain ``term → IRI`` strings,
expanded definitions ``{"@id": …, "@type": "@id" | <datatype>}``,
compact-IRI prefixes (``"schema:name"``), ``@vocab`` and ``@base``;
node objects with ``@id`` / ``@type`` (also as the expanded-def typed
value coercion); string / number / boolean JSON values (numbers map
per the spec: integral → xsd:integer, else canonical-exponent
xsd:double); value objects ``{"@value", "@language" | "@type"}``;
IRI-reference objects ``{"@id"}``; arrays as multi-values; ``@list``
→ rdf:first/rest/nil chains; nested node objects (bnode or @id
object + its own triples); a top-level ``@graph`` array (the common
document wrapper — contents land in the default graph).

Documented rejects (``on_error="fail"`` raises; ``"skip"`` drops the
file whole): NAMED ``@graph`` under a node with ``@id`` (named graphs
belong to the quad path — convert to N-Quads/TriG), ``@reverse``,
``@container`` maps (``@index``/``@language`` keyed), ``@nest``, and
remote contexts (a URL in ``@context`` — fetching inside an executor
task is wrong at every scale; inline the context or pre-expand).

The grammar is module-level (``parse_file`` and the ``_JsonLd``
expander); ``ntriples.parse_rdf_files`` ships it to Python workers BY
VALUE, so workers need no importable copy of this package.
"""

from __future__ import annotations

import json
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession

from rdfproject_msc_spark.sources.ntriples import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD,
    blank_nodes,
    literal,
    parse_rdf_files,
)

_KEYWORDS = {
    "@context", "@id", "@type", "@value", "@language", "@list", "@graph",
    "@base", "@vocab",
}
_REJECTED = {"@reverse", "@nest", "@index", "@container", "@set"}


def parse_jsonld(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """JSON-LD files → ``(s_term, p_term, o_term)`` lexical-form
    strings, one Arrow ``mapInPandas`` stage over a ``binaryFile``
    listing."""
    return parse_rdf_files(spark, path, on_error, parse_file, "JSON-LD")


def parse_file(data: bytes, origin: str) -> list:
    """One JSON-LD document → ``(s, p, o)`` rows; ``origin`` (the file
    path) seeds the blank-node labels. Raises ``ValueError`` on
    malformed input, including the ``KeyError``/``TypeError`` of a
    document whose JSON shape the subset does not expect."""
    try:
        return _JsonLd(origin).document(json.loads(data.decode("utf-8")))
    except (KeyError, TypeError) as e:
        raise ValueError(str(e)) from e


def _canon_double(v: float) -> str:
    # the spec's canonical lexical (XSD double, 1 ≤ |mantissa| < 10, no
    # exponent sign padding): 1.5 → "1.5E0"
    mant, _, exp = f"{v:.15E}".partition("E")
    mant = mant.rstrip("0")
    if mant.endswith("."):
        mant += "0"
    return f"{mant}E{int(exp)}"


def _value_literal(value, lang=None, dt=None) -> str:
    """A JSON value as a literal term: booleans and numbers map to their
    XSD types per the spec, everything else is a string literal."""
    if isinstance(value, bool):
        return f'"{"true" if value else "false"}"^^<{XSD}boolean>'
    if isinstance(value, int):
        return f'"{value}"^^<{XSD}integer>'
    if isinstance(value, float):
        # JSON numbers with a fraction/exponent map to xsd:double in the
        # canonical exponent lexical (integral floats included — JSON
        # parsed them as float, and the spec keeps the double mapping)
        return f'"{_canon_double(value)}"^^<{XSD}double>'
    return literal(str(value), lang, dt)


def _build_context(ctx, outer: dict) -> dict:
    """Inline contexts only; term map + @vocab/@base."""
    if ctx is None:
        return outer
    if isinstance(ctx, list):
        out = outer
        for c in ctx:
            out = _build_context(c, out)
        return out
    if isinstance(ctx, str):
        raise ValueError(
            "remote @context documents are not fetched (executor-side "
            "HTTP is wrong at every scale); inline the context or "
            "pre-expand the document"
        )
    out = dict(outer)
    for term, defn in ctx.items():
        if term in ("@base", "@vocab"):
            out[term] = defn
        elif isinstance(defn, str):
            out[term] = {"@id": defn}
        elif isinstance(defn, dict):
            bad = _REJECTED.intersection(defn)
            if bad:
                raise ValueError(f"unsupported @context feature: {bad}")
            out[term] = defn
        else:
            raise ValueError(f"malformed term definition for {term!r}")
    return out


def _expand_iri(ref: str, ctx: dict, vocab: bool) -> str | None:
    """Term / compact IRI / absolute / relative expansion. ``vocab=True``
    is property/type position (@vocab applies); returns None when
    nothing resolves."""
    if ref.startswith("_:"):
        return ref
    defn = ctx.get(ref)
    if isinstance(defn, dict) and "@id" in defn:
        inner = defn["@id"]
        if inner != ref:  # guard a self-referential term
            return _expand_iri(inner, ctx, vocab=True)
    if ":" in ref:
        pfx, _, local = ref.partition(":")
        pdef = ctx.get(pfx)
        if isinstance(pdef, dict) and "@id" in pdef:
            return pdef["@id"] + local
        return ref  # an absolute IRI (scheme:…)
    if vocab and "@vocab" in ctx:
        return ctx["@vocab"] + ref
    base = ctx.get("@base")
    if base:
        return urljoin(base, ref)
    return None


class _JsonLd:
    """The expansion of ONE document to rows, with its blank-node
    minter (``_:jldanon-`` and ``_:jldlist-`` count separately)."""

    def __init__(self, origin: str):
        self.mint = blank_nodes("jld", origin)
        self.rows: list = []

    def document(self, doc) -> list:
        ctx = _build_context(
            doc.get("@context") if isinstance(doc, dict) else None, {}
        )
        if isinstance(doc, list):
            for node in doc:
                self.node_object(node, ctx)
        elif isinstance(doc, dict):
            if "@graph" in doc and "@id" not in doc:
                graph = doc["@graph"]
                for node in graph if isinstance(graph, list) else [graph]:
                    self.node_object(node, ctx)
            elif set(doc) - {"@context"}:
                self.node_object(doc, ctx)
        else:
            raise ValueError("a JSON-LD document is an object or array")
        return self.rows

    def node_id(self, obj: dict, ctx: dict) -> str:
        rid = obj.get("@id")
        if rid is None:
            return self.mint("anon")
        if not isinstance(rid, str):
            raise ValueError("@id must be a string")
        if rid.startswith("_:"):
            return rid
        iri = _expand_iri(rid, ctx, vocab=False)
        return f"<{iri if iri is not None else rid}>"

    def node_object(self, obj: dict, ctx: dict) -> str:
        bad = _REJECTED.intersection(obj)
        if bad:
            raise ValueError(f"unsupported JSON-LD keyword: {bad}")
        ctx = _build_context(obj.get("@context"), ctx)
        if "@graph" in obj and "@id" in obj:
            raise ValueError(
                "named @graph blocks are quad-model data - convert to "
                "N-Quads/TriG for the quad path"
            )
        subj = self.node_id(obj, ctx)
        types = obj.get("@type")
        if types is not None:
            for t in types if isinstance(types, list) else [types]:
                iri = _expand_iri(t, ctx, vocab=True)
                if iri is None:
                    raise ValueError(f"cannot expand @type {t!r}")
                self.rows.append((subj, RDF_TYPE, f"<{iri}>"))
        for key, value in obj.items():
            if key in _KEYWORDS:
                continue
            defn = ctx.get(key)
            prop = _expand_iri(key, ctx, vocab=True)
            if prop is None:
                # a term the context does not map and no @vocab: the spec
                # DROPS it; that silence hides typos, so it is an error
                # here (skip mode drops the file)
                raise ValueError(
                    f"property {key!r} does not expand to an IRI (no term "
                    "definition, prefix, or @vocab)"
                )
            coercion = defn.get("@type") if isinstance(defn, dict) else None
            for v in value if isinstance(value, list) else [value]:
                self.rows.append(
                    (subj, f"<{prop}>", self.object_term(v, ctx, coercion))
                )
        return subj

    def object_term(self, value, ctx: dict, coercion) -> str:
        """One VALUE in object position → a term (emitting any nested
        node's rows)."""
        if isinstance(value, dict):
            if "@value" in value:
                bad = set(value) - {"@value", "@language", "@type"}
                if bad:
                    raise ValueError(f"unsupported value-object keys: {bad}")
                dt = value.get("@type")
                if dt is not None:
                    dt_iri = _expand_iri(dt, ctx, vocab=True)
                    dt = dt_iri if dt_iri is not None else dt
                return _value_literal(
                    value["@value"], value.get("@language"), dt
                )
            if "@list" in value:
                return self.list_head(value["@list"], ctx, coercion)
            if set(value) == {"@id"}:
                return self.node_id(value, ctx)
            return self.node_object(value, ctx)  # nested node
        if isinstance(value, str) and coercion == "@id":
            iri = _expand_iri(value, ctx, vocab=False)
            if value.startswith("_:"):
                return value
            return f"<{iri if iri is not None else value}>"
        if isinstance(value, str) and coercion is not None:
            dt = _expand_iri(coercion, ctx, vocab=True)
            return _value_literal(
                value, None, dt if dt is not None else coercion
            )
        return _value_literal(value)

    def list_head(self, items, ctx: dict, coercion) -> str:
        """``@list`` → an rdf:first/rest chain, one cell per item."""
        if not isinstance(items, list):
            items = [items]
        cells = [
            (self.mint("list"), self.object_term(it, ctx, coercion))
            for it in items
        ]
        for i, (cell, term) in enumerate(cells):
            self.rows.append((cell, RDF_FIRST, term))
            nxt = cells[i + 1][0] if i + 1 < len(cells) else RDF_NIL
            self.rows.append((cell, RDF_REST, nxt))
        return cells[0][0] if cells else RDF_NIL
