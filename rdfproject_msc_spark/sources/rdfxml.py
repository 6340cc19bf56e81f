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
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rdfproject_msc_spark.sources.ntriples import list_rdf_files

PARSED_SCHEMA = "s_term string, p_term string, o_term string"


def parse_rdfxml(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """RDF/XML files → ``(s_term, p_term, o_term)`` lexical-form
    strings, one Arrow ``mapInPandas`` stage over a ``binaryFile``
    listing. Every helper is nested INSIDE the closure (shipped by
    value — workers must not need the repo on sys.path)."""
    files = list_rdf_files(spark, path, on_error)
    fail = on_error == "fail"

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import hashlib
        import xml.etree.ElementTree as ET
        from urllib.parse import urljoin

        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        XML = "http://www.w3.org/XML/1998/namespace"
        TYPE = f"<{RDF}type>"
        FIRST, REST = f"<{RDF}first>", f"<{RDF}rest>"
        NIL = f"<{RDF}nil>"
        XMLLIT = f"{RDF}XMLLiteral"
        # rdf:* attributes that STEER the grammar (never property
        # attributes); rdf:type IS a legal property attribute
        STEER = {
            f"{{{RDF}}}{n}"
            for n in (
                "about", "ID", "nodeID", "resource", "datatype",
                "parseType",
            )
        }
        LANG, BASE = f"{{{XML}}}lang", f"{{{XML}}}base"
        # xml:space and the xmlns pseudo-attrs ElementTree may surface
        IGNORED = {f"{{{XML}}}space"}
        # node-element names the grammar forbids as subjects
        NOT_NODE = {
            f"{{{RDF}}}{n}"
            for n in ("RDF", "ID", "about", "parseType", "resource",
                      "nodeID", "li", "aboutEach", "aboutEachPrefix",
                      "bagID")
        }

        def split_qname(tag: str, what: str) -> str:
            # ElementTree expands to '{ns}local'; an UNNAMESPACED name
            # cannot form an IRI — that is the pre-namespaces RDF/XML
            # dialect, rejected loudly
            if not tag.startswith("{"):
                raise ValueError(
                    f"{what} {tag!r} has no XML namespace - "
                    "cannot form an IRI (pre-namespaces RDF/XML is "
                    "not supported)"
                )
            ns, local = tag[1:].split("}", 1)
            return ns + local

        def canon_string(value: str) -> str:
            out = (
                value.replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
            return f'"{out}"'

        def literal(value: str, lang: str | None, dt: str | None) -> str:
            body = canon_string(value)
            if dt:
                return f"{body}^^<{dt}>"
            if lang:
                return f"{body}@{lang}"
            return body

        def parse_file(data: bytes, origin: str) -> list:
            anon_tag = hashlib.md5(origin.encode()).hexdigest()[:8]
            anon_n = [0]
            list_n = [0]
            triples: list = []

            def emit(s: str, p: str, o: str) -> None:
                triples.append((s, p, o))

            def fresh_anon() -> str:
                anon_n[0] += 1
                return f"_:xmlanon-{anon_tag}-{anon_n[0]}"

            def fresh_cell() -> str:
                list_n[0] += 1
                return f"_:xmllist-{anon_tag}-{list_n[0]}"

            def resolve(ref: str, base: str) -> str:
                # RFC 3986 resolution against the in-scope xml:base;
                # with no base a relative reference stays verbatim
                # (a VALID relative-IRI term, same stance as Turtle
                # without @base)
                return urljoin(base, ref) if base else ref

            def scope(el, base: str, lang: str | None):
                b = el.get(BASE)
                if b is not None:
                    base = urljoin(base, b) if base else b
                lg = el.get(LANG)
                if lg is not None:
                    lang = lg or None  # xml:lang="" clears the scope
                return base, lang

            def node_element(el, base: str, lang: str | None) -> str:
                base, lang = scope(el, base, lang)
                tag = split_qname(el.tag, "node element")
                if (
                    tag.startswith(RDF)
                    and f"{{{RDF}}}{tag[len(RDF):]}" in NOT_NODE
                ):
                    raise ValueError(f"{tag!r} is not a legal node element")
                about = el.get(f"{{{RDF}}}about")
                rid = el.get(f"{{{RDF}}}ID")
                nid = el.get(f"{{{RDF}}}nodeID")
                if sum(x is not None for x in (about, rid, nid)) > 1:
                    raise ValueError(
                        "at most one of rdf:about / rdf:ID / "
                        "rdf:nodeID per node element"
                    )
                if about is not None:
                    subj = f"<{resolve(about, base)}>"
                elif rid is not None:
                    subj = f"<{resolve('#' + rid, base)}>"
                elif nid is not None:
                    subj = f"_:{nid}"
                else:
                    subj = fresh_anon()
                if tag != f"{RDF}Description":
                    emit(subj, TYPE, f"<{tag}>")
                # property ATTRIBUTES (abbreviated syntax)
                for k, v in el.attrib.items():
                    if k in STEER or k in (LANG, BASE) or k in IGNORED:
                        continue
                    if k == f"{{{RDF}}}type":
                        emit(subj, TYPE, f"<{resolve(v, base)}>")
                        continue
                    emit(
                        subj,
                        f"<{split_qname(k, 'property attribute')}>",
                        literal(v, lang, None),
                    )
                li = [0]
                for child in el:
                    property_element(subj, child, base, lang, li)
                return subj

            def prop_iri(el, li) -> str:
                tag = split_qname(el.tag, "property element")
                if tag == f"{RDF}li":
                    li[0] += 1
                    return f"<{RDF}_{li[0]}>"
                return f"<{tag}>"

            def reify(rid: str, base: str, s: str, p: str, o: str):
                st = f"<{resolve('#' + rid, base)}>"
                emit(st, TYPE, f"<{RDF}Statement>")
                emit(st, f"<{RDF}subject>", s)
                emit(st, f"<{RDF}predicate>", p)
                emit(st, f"<{RDF}object>", o)

            def property_element(
                subj: str, el, base: str, lang: str | None, li
            ) -> None:
                base, lang = scope(el, base, lang)
                prop = prop_iri(el, li)
                p_inner = prop[1:-1]
                rid = el.get(f"{{{RDF}}}ID")
                parse_type = el.get(f"{{{RDF}}}parseType")
                resource = el.get(f"{{{RDF}}}resource")
                nid = el.get(f"{{{RDF}}}nodeID")
                dt = el.get(f"{{{RDF}}}datatype")
                # property attributes on this PROPERTY element (legal
                # only on the empty-element resource form)
                pattrs = {
                    k: v
                    for k, v in el.attrib.items()
                    if k not in STEER
                    and k not in (LANG, BASE)
                    and k not in IGNORED
                    and k != f"{{{RDF}}}ID"
                }
                text = el.text or ""
                children = list(el)

                if parse_type == "Resource":
                    # implicit bnode whose children are PROPERTY elements
                    b = fresh_anon()
                    emit(subj, prop, b)
                    if rid is not None:
                        reify(rid, base, subj, prop, b)
                    inner_li = [0]
                    for child in children:
                        property_element(b, child, base, lang, inner_li)
                    return
                if parse_type == "Collection":
                    # rdf:first/rdf:rest chain, one cell per node element
                    cells = [
                        (fresh_cell(), node_element(c, base, lang))
                        for c in children
                    ]
                    head = cells[0][0] if cells else NIL
                    emit(subj, prop, head)
                    if rid is not None:
                        reify(rid, base, subj, prop, head)
                    for i, (cell, value) in enumerate(cells):
                        emit(cell, FIRST, value)
                        emit(
                            cell,
                            REST,
                            cells[i + 1][0] if i + 1 < len(cells) else NIL,
                        )
                    return
                if parse_type is not None:
                    # "Literal" and every unrecognized parseType value
                    # are XML-literal per the grammar
                    xml_text = text + "".join(
                        ET.tostring(c, encoding="unicode") for c in children
                    )
                    obj = literal(xml_text, None, XMLLIT)
                    emit(subj, prop, obj)
                    if rid is not None:
                        reify(rid, base, subj, prop, obj)
                    return
                if children:
                    if text.strip():
                        raise ValueError(
                            f"property element <{p_inner}> mixes text "
                            "and element content (only "
                            "rdf:parseType='Literal' may)"
                        )
                    if len(children) != 1:
                        raise ValueError(
                            f"property element <{p_inner}> has "
                            f"{len(children)} node elements (exactly "
                            "one allowed)"
                        )
                    obj = node_element(children[0], base, lang)
                    emit(subj, prop, obj)
                    if rid is not None:
                        reify(rid, base, subj, prop, obj)
                    return
                if resource is not None or nid is not None or pattrs:
                    # empty-element RESOURCE form
                    if resource is not None and nid is not None:
                        raise ValueError(
                            "rdf:resource and rdf:nodeID are exclusive"
                        )
                    if resource is not None:
                        obj = f"<{resolve(resource, base)}>"
                    elif nid is not None:
                        obj = f"_:{nid}"
                    else:
                        obj = fresh_anon()
                    emit(subj, prop, obj)
                    if rid is not None:
                        reify(rid, base, subj, prop, obj)
                    for k, v in pattrs.items():
                        if k == f"{{{RDF}}}type":
                            emit(obj, TYPE, f"<{resolve(v, base)}>")
                            continue
                        emit(
                            obj,
                            f"<{split_qname(k, 'property attribute')}>",
                            literal(v, lang, None),
                        )
                    return
                # literal form: the EXACT text content (no trimming —
                # RDF/XML literals are verbatim character data)
                obj = literal(text, lang, dt)
                emit(subj, prop, obj)
                if rid is not None:
                    reify(rid, base, subj, prop, obj)

            root = ET.fromstring(data.decode("utf-8"))
            base, lang = scope(root, "", None)
            if split_qname(root.tag, "root element") == f"{RDF}RDF":
                for child in root:
                    node_element(child, base, lang)
            else:
                # a bare node element is a legal document root
                node_element(root, base, lang)
            return triples

        for pdf in batches:
            ss, ps, os_ = [], [], []
            for pathv, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows = parse_file(bytes(content), str(pathv))
                except (ValueError, ET.ParseError, UnicodeDecodeError):
                    if fail:
                        raise
                    continue  # skip mode: drop the whole file
                for s, p, o in rows:
                    ss.append(s)
                    ps.append(p)
                    os_.append(o)
            yield pd.DataFrame({"s_term": ss, "p_term": ps, "o_term": os_})

    return files.mapInPandas(
        parse_batches, schema=PARSED_SCHEMA
    )


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
    header/footer via the same Arrow ``mapInPandas`` first/last-batch
    technique as the Turtle ``@prefix`` prepend; empty partitions
    still write a valid empty document)."""
    lines = format_rdfxml(parsed, prefixes)
    decls = "".join(
        f' xmlns:{k}="{v}"' for k, v in sorted(prefixes.items())
    )
    header = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<rdf:RDF '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        + decls + ">"
    )

    def _wrap(batches):
        yield pd.DataFrame({"value": [header]})
        yield from batches
        yield pd.DataFrame({"value": ["</rdf:RDF>"]})

    lines.mapInPandas(_wrap, schema="value string").write.mode(
        "overwrite"
    ).text(path)
