"""RDF/XML ingestion: the ontology-interchange format, parsed per FILE.

Most published ontologies (OWL vocabularies, schema.org dumps, legacy
LOD exports) ship as RDF/XML — and the RDFS/OWL materializer
(operators/rdfs.py) is exactly the consumer that wants them. The
reference consumes pre-encoded integer triples only
(PartitionQueryingSubject.java:55 reads an ``_encoded`` sample), so
this module — like sources/ntriples.py and sources/turtle.py — is
extension surface: the first mile the reference never had.

Same proven architecture as the Turtle path (sources/turtle.py):

- **Per-FILE parse unit.** RDF/XML is a DOCUMENT grammar (one XML
  tree, inherited ``xml:base``/``xml:lang`` scopes, striped
  node/property nesting) — there is no sound line split. Each file
  parses whole inside ONE Arrow ``mapInPandas`` stage over a
  ``binaryFile`` listing: parallelism = file count, the natural unit
  (ontologies and LOD exports ship as many files; a single giant
  RDF/XML file should be converted to N-Triples for a line-parallel
  scan — same documented escape hatch as Turtle).
- **stdlib ``xml.etree``** (namespace-aware; no external-entity
  expansion — an entity the parser does not know is a parse error,
  which is the safe behavior for untrusted files).
- **Deterministic blank-node labels.** ``rdf:nodeID="x"`` passes
  through as ``_:x`` (the NT convention, same as Turtle's labeled
  nodes); syntax-implied bnodes (anonymous descriptions,
  ``rdf:parseType="Resource"``, property-attribute objects) mint
  ``_:xmlanon-<md5(file path)[:8]>-<n>`` and Collection cells
  ``_:xmllist-<md5(file path)[:8]>-<n>`` in document order — stable
  across re-runs and Spark task RETRIES (a retried task re-parses the
  same file and mints identical labels; a nondeterministic label
  would poison the dictionary build).
- **Emitted relation ≡ the other parsers'**: ``(s_term, p_term,
  o_term)`` full lexical forms — ``<iri>``, ``_:label``, ``"body"``
  [``@lang`` | ``^^<dt>``] with the SAME minimal N-Triples escape set
  the Turtle ingest canonicalizes to — so ``ingest_rdf(fmt="rdfxml")``
  runs the one first mile (sources/ntriples.py) unchanged, and an RDF/XML
  and an N-Triples serialization of the same graph produce identical
  relations and identical ids.

Coverage (RDF/XML 1.1 syntax): rdf:RDF roots and bare node-element
roots, rdf:Description and typed node elements, rdf:about / rdf:ID /
rdf:nodeID subjects, property attributes (incl. rdf:type), nested
node elements, rdf:resource / rdf:nodeID objects, rdf:datatype and
inherited xml:lang literals, rdf:parseType Resource / Collection /
Literal (XMLLiteral via ElementTree re-serialization — canonical-XML
exactness is out of scope and documented), rdf:li → rdf:_n container
expansion, rdf:ID statement reification, xml:base resolution
(RFC 3986 urljoin, including fragment-only rdf:ID references).

``on_error="fail"`` raises on the first malformed file; ``"skip"``
drops the WHOLE offending file — after an XML parse error there is no
sound recovery point (same stance as Turtle).

The grammar is module-level (``parse_file`` and the ``_RdfXml``
walker); ``ntriples.parse_rdf_files`` ships it to Python workers BY
VALUE, so workers need no importable copy of this package.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession

from rdfproject_msc_spark.sources.ntriples import (
    RDF,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    blank_nodes,
    literal,
    parse_rdf_files,
    write_text_parts,
)


def parse_rdfxml(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """RDF/XML files → ``(s_term, p_term, o_term)`` lexical-form
    strings, one Arrow ``mapInPandas`` stage over a ``binaryFile``
    listing."""
    return parse_rdf_files(spark, path, on_error, parse_file, "RDF/XML")


def parse_file(data: bytes, origin: str) -> list:
    """One RDF/XML document → ``(s, p, o)`` rows; ``origin`` (the file
    path) seeds the blank-node labels. Raises ``ValueError`` on
    malformed input, XML syntax errors included."""
    try:
        root = ET.fromstring(data.decode("utf-8"))
    except ET.ParseError as e:
        raise ValueError(str(e)) from e
    doc = _RdfXml(origin)
    base, lang = _scope(root, "", None)
    if _split_qname(root.tag, "root element") == f"{RDF}RDF":
        for child in root:
            doc.node_element(child, base, lang)
    else:
        # a bare node element is a legal document root
        doc.node_element(root, base, lang)
    return doc.rows


_XML = "http://www.w3.org/XML/1998/namespace"
_XMLLIT = f"{RDF}XMLLiteral"
_ABOUT, _ID, _NODE_ID = f"{{{RDF}}}about", f"{{{RDF}}}ID", f"{{{RDF}}}nodeID"
_RESOURCE, _DATATYPE = f"{{{RDF}}}resource", f"{{{RDF}}}datatype"
_PARSE_TYPE, _TYPE_ATTR = f"{{{RDF}}}parseType", f"{{{RDF}}}type"
_LANG, _BASE = f"{{{_XML}}}lang", f"{{{_XML}}}base"
# attributes that are never property attributes: the rdf:* ones that
# STEER the grammar (rdf:type IS a legal property attribute), the xml:
# scopes, and xml:space
_NOT_PROPERTY = {
    _ABOUT, _ID, _NODE_ID, _RESOURCE, _DATATYPE, _PARSE_TYPE, _LANG, _BASE,
    f"{{{_XML}}}space",
}
# node-element names the grammar forbids as subjects
_NOT_NODE = {
    f"{RDF}{n}"
    for n in ("RDF", "ID", "about", "parseType", "resource", "nodeID",
              "li", "aboutEach", "aboutEachPrefix", "bagID")
}


def _split_qname(tag: str, what: str) -> str:
    # ElementTree expands to '{ns}local'; an UNNAMESPACED name cannot
    # form an IRI — that is the pre-namespaces RDF/XML dialect, rejected
    # loudly
    if not tag.startswith("{"):
        raise ValueError(
            f"{what} {tag!r} has no XML namespace - cannot form an IRI "
            "(pre-namespaces RDF/XML is not supported)"
        )
    ns, local = tag[1:].split("}", 1)
    return ns + local


def _resolve(ref: str, base: str) -> str:
    # RFC 3986 resolution against the in-scope xml:base; with no base a
    # relative reference stays verbatim (a VALID relative-IRI term, same
    # stance as Turtle without @base)
    return urljoin(base, ref) if base else ref


def _scope(el, base: str, lang: str | None) -> tuple[str, str | None]:
    b = el.get(_BASE)
    if b is not None:
        base = urljoin(base, b) if base else b
    lg = el.get(_LANG)
    if lg is not None:
        lang = lg or None  # xml:lang="" clears the scope
    return base, lang


class _RdfXml:
    """The walk of ONE document's element tree: node elements and
    property elements, the rows they emit, and the blank-node minter
    (``_:xmlanon-`` and ``_:xmllist-`` count separately)."""

    def __init__(self, origin: str):
        self.mint = blank_nodes("xml", origin)
        self.rows: list = []

    def emit(self, s: str, p: str, o: str) -> None:
        self.rows.append((s, p, o))

    def node_element(self, el, base: str, lang: str | None) -> str:
        base, lang = _scope(el, base, lang)
        tag = _split_qname(el.tag, "node element")
        if tag in _NOT_NODE:
            raise ValueError(f"{tag!r} is not a legal node element")
        about, rid, nid = el.get(_ABOUT), el.get(_ID), el.get(_NODE_ID)
        if sum(x is not None for x in (about, rid, nid)) > 1:
            raise ValueError(
                "at most one of rdf:about / rdf:ID / rdf:nodeID per node "
                "element"
            )
        if about is not None:
            subj = f"<{_resolve(about, base)}>"
        elif rid is not None:
            subj = f"<{_resolve('#' + rid, base)}>"
        elif nid is not None:
            subj = f"_:{nid}"
        else:
            subj = self.mint("anon")
        if tag != f"{RDF}Description":
            self.emit(subj, RDF_TYPE, f"<{tag}>")
        # property ATTRIBUTES (abbreviated syntax)
        self.property_attributes(
            subj,
            {k: v for k, v in el.attrib.items() if k not in _NOT_PROPERTY},
            base,
            lang,
        )
        li = [0]
        for child in el:
            self.property_element(subj, child, base, lang, li)
        return subj

    def property_attributes(
        self, subj: str, attrs: dict, base: str, lang: str | None
    ) -> None:
        for k, v in attrs.items():
            if k == _TYPE_ATTR:
                self.emit(subj, RDF_TYPE, f"<{_resolve(v, base)}>")
            else:
                self.emit(
                    subj,
                    f"<{_split_qname(k, 'property attribute')}>",
                    literal(v, lang),
                )

    def reify(self, rid: str, base: str, s: str, p: str, o: str) -> None:
        st = f"<{_resolve('#' + rid, base)}>"
        self.emit(st, RDF_TYPE, f"<{RDF}Statement>")
        self.emit(st, f"<{RDF}subject>", s)
        self.emit(st, f"<{RDF}predicate>", p)
        self.emit(st, f"<{RDF}object>", o)

    def property_element(
        self, subj: str, el, base: str, lang: str | None, li: list
    ) -> None:
        base, lang = _scope(el, base, lang)
        tag = _split_qname(el.tag, "property element")
        if tag == f"{RDF}li":  # container membership: rdf:_1, rdf:_2, …
            li[0] += 1
            tag = f"{RDF}_{li[0]}"
        obj = self.property_object(el, tag, base, lang)
        self.emit(subj, f"<{tag}>", obj)
        rid = el.get(_ID)
        if rid is not None:
            self.reify(rid, base, subj, f"<{tag}>", obj)

    def property_object(
        self, el, tag: str, base: str, lang: str | None
    ) -> str:
        """The object term of one property element, after emitting what
        the element's content says about it."""
        parse_type = el.get(_PARSE_TYPE)
        children = list(el)
        text = el.text or ""
        if parse_type == "Resource":
            # implicit bnode whose children are PROPERTY elements
            b = self.mint("anon")
            li = [0]
            for child in children:
                self.property_element(b, child, base, lang, li)
            return b
        if parse_type == "Collection":
            # rdf:first/rdf:rest chain, one cell per node element
            cells = [
                (self.mint("list"), self.node_element(c, base, lang))
                for c in children
            ]
            for i, (cell, value) in enumerate(cells):
                self.emit(cell, RDF_FIRST, value)
                nxt = cells[i + 1][0] if i + 1 < len(cells) else RDF_NIL
                self.emit(cell, RDF_REST, nxt)
            return cells[0][0] if cells else RDF_NIL
        if parse_type is not None:
            # "Literal" and every unrecognized parseType value are
            # XML-literal per the grammar
            xml_text = text + "".join(
                ET.tostring(c, encoding="unicode") for c in children
            )
            return literal(xml_text, dt=_XMLLIT)
        if children:
            if text.strip():
                raise ValueError(
                    f"property element <{tag}> mixes text and element "
                    "content (only rdf:parseType='Literal' may)"
                )
            if len(children) != 1:
                raise ValueError(
                    f"property element <{tag}> has {len(children)} node "
                    "elements (exactly one allowed)"
                )
            return self.node_element(children[0], base, lang)
        resource, nid = el.get(_RESOURCE), el.get(_NODE_ID)
        attrs = {k: v for k, v in el.attrib.items() if k not in _NOT_PROPERTY}
        if resource is None and nid is None and not attrs:
            # literal form: the EXACT text content (no trimming — RDF/XML
            # literals are verbatim character data)
            return literal(text, lang, el.get(_DATATYPE))
        # empty-element RESOURCE form; its property attributes describe
        # the object
        if resource is not None and nid is not None:
            raise ValueError("rdf:resource and rdf:nodeID are exclusive")
        if resource is not None:
            obj = f"<{_resolve(resource, base)}>"
        elif nid is not None:
            obj = f"_:{nid}"
        else:
            obj = self.mint("anon")
        self.property_attributes(obj, attrs, base, lang)
        return obj


def format_rdfxml(
    parsed: DataFrame, prefixes: dict[str, str]
) -> DataFrame:
    """``(s_term, p_term, o_term)`` lexical forms → one
    ``<rdf:Description>`` element line per SUBJECT (the inverse of
    ``parse_rdfxml``): IRI subjects carry ``rdf:about``, blank nodes
    ``rdf:nodeID``; IRI objects render as ``rdf:resource`` empty
    elements, bnode objects as ``rdf:nodeID``, literals as element
    text with ``xml:lang`` / ``rdf:datatype`` (bodies NT-unescaped
    then XML-escaped — the one column-level unescape shared with the
    planner's STR derivation). One shuffle (the subject groupBy); the
    per-subject text builds in pure column expressions (no Python).
    parse_rdfxml(write_rdfxml(g)) ≡ g.

    RDF/XML's grammar requires every PROPERTY to be a QName — there is
    no full-IRI fallback like Turtle's. Every predicate must therefore
    match ``prefixes`` (``name → namespace``) with an NCName local
    part; one that does not raises INSIDE the scan (codegen'd
    ``raise_error`` — fail loudly, never emit an unparseable
    document). rdf:type objects could compact to typed node elements;
    they deliberately stay plain property elements (one grammar shape,
    round-trip identical either way)."""
    import re as _re

    from pyspark.sql import functions as F

    from rdfproject_msc_spark.sparql.planner import _nt_unescape

    def xesc(col, attr: bool = False):
        out = F.replace(col, F.lit("&"), F.lit("&amp;"))
        out = F.replace(out, F.lit("<"), F.lit("&lt;"))
        out = F.replace(out, F.lit(">"), F.lit("&gt;"))
        if attr:
            out = F.replace(out, F.lit('"'), F.lit("&quot;"))
        return out

    # predicate → QName (chained constant patterns, whole-stage codegen)
    p = F.col("p_term")
    qname = F.lit(None).cast("string")
    for name, iri in sorted(prefixes.items()):
        pat = "^<" + _re.escape(iri) + r"([A-Za-z_][A-Za-z0-9_.\-]*)>$"
        qname = F.when(
            p.rlike(pat),
            F.concat(F.lit(name + ":"), F.regexp_extract(p, pat, 1)),
        ).otherwise(qname)
    qname = F.when(qname.isNotNull(), qname).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "format_rdfxml: predicate matches no declared "
                    "prefix + NCName (RDF/XML properties must be "
                    "QNames): "
                ),
                p,
            )
        )
    )

    o = F.col("o_term")
    body = F.regexp_extract(o, r'^"((?:[^"\\]|\\.)*)"', 1)
    rest = F.regexp_replace(o, r'^"(?:[^"\\]|\\.)*"', "")
    lang = F.regexp_extract(rest, r"^@([A-Za-z0-9\-]+)$", 1)
    dt = F.coalesce(
        F.nullif(F.regexp_extract(rest, r"^\^\^<(.+)>$", 1), F.lit("")),
        F.nullif(F.regexp_extract(rest, r"^\^\^(.+)$", 1), F.lit("")),
    )
    obj_xml = (
        F.when(
            o.startswith("<"),
            F.concat(
                F.lit(' rdf:resource="'),
                xesc(F.expr("substring(o_term, 2, length(o_term) - 2)"),
                     attr=True),
                F.lit('"/>'),
            ),
        )
        .when(
            o.startswith("_:"),
            F.concat(
                F.lit(' rdf:nodeID="'),
                F.expr("substring(o_term, 3, length(o_term) - 2)"),
                F.lit('"/>'),
            ),
        )
        .otherwise(
            F.concat(
                F.when(
                    lang != "",
                    F.concat(F.lit(' xml:lang="'), lang, F.lit('"')),
                ).otherwise(F.lit("")),
                F.when(
                    dt.isNotNull(),
                    F.concat(
                        F.lit(' rdf:datatype="'), xesc(dt, attr=True),
                        F.lit('"'),
                    ),
                ).otherwise(F.lit("")),
                F.lit(">"),
                xesc(_nt_unescape(body)),
                F.lit("</"),
                qname,
                F.lit(">"),
            )
        )
    )
    el = F.concat(F.lit("<"), qname, obj_xml)

    grouped = (
        parsed.select("s_term", el.alias("el"))
        .groupBy("s_term")
        .agg(F.array_join(F.sort_array(F.collect_list("el")), "").alias("els"))
    )
    s = F.col("s_term")
    subj_attr = F.when(
        s.startswith("_:"),
        F.concat(
            F.lit('rdf:nodeID="'),
            F.expr("substring(s_term, 3, length(s_term) - 2)"),
            F.lit('"'),
        ),
    ).otherwise(
        F.concat(
            F.lit('rdf:about="'),
            xesc(F.expr("substring(s_term, 2, length(s_term) - 2)"),
                 attr=True),
            F.lit('"'),
        )
    )
    return grouped.select(
        F.concat(
            F.lit("<rdf:Description "), subj_attr, F.lit(">"),
            F.col("els"), F.lit("</rdf:Description>"),
        ).alias("value")
    )


def write_rdfxml(
    parsed: DataFrame, path: str, prefixes: dict[str, str]
) -> None:
    """Persist a triple relation as RDF/XML text: one subject element
    per line, each part FILE wrapped into a well-formed document (the
    ``<rdf:RDF>`` root carries the xmlns declarations — per-partition
    header/footer via ``ntriples.write_text_parts``, as the Turtle
    ``@prefix`` header; empty partitions still write a valid empty
    document)."""
    lines = format_rdfxml(parsed, prefixes)
    decls = "".join(
        f' xmlns:{k}="{v}"' for k, v in sorted(prefixes.items())
    )
    header = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<rdf:RDF '
        f'xmlns:rdf="{RDF}"' + decls + ">"
    )
    write_text_parts(lines, path, [header], ["</rdf:RDF>"])
