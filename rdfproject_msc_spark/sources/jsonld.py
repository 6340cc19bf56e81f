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
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rdfproject_msc_spark.sources.ntriples import list_rdf_files

PARSED_SCHEMA = "s_term string, p_term string, o_term string"


def parse_jsonld(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """JSON-LD files → ``(s_term, p_term, o_term)`` lexical-form
    strings, one Arrow ``mapInPandas`` stage over a ``binaryFile``
    listing. Helpers are nested inside the closure (shipped by value —
    workers need nothing on sys.path)."""
    files = list_rdf_files(spark, path, on_error)
    fail = on_error == "fail"

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import hashlib
        import json
        from urllib.parse import urljoin

        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        XSD = "http://www.w3.org/2001/XMLSchema#"
        TYPE = f"<{RDF}type>"
        FIRST, REST, NIL = f"<{RDF}first>", f"<{RDF}rest>", f"<{RDF}nil>"
        KEYWORDS = {
            "@context", "@id", "@type", "@value", "@language", "@list",
            "@graph", "@base", "@vocab",
        }
        REJECTED = {"@reverse", "@nest", "@index", "@container", "@set"}

        def canon_string(value: str) -> str:
            out = (
                value.replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
            return f'"{out}"'

        def canon_double(v: float) -> str:
            # the spec's canonical lexical (XSD double, 1 ≤ |mantissa|
            # < 10, no exponent sign padding): 1.5 → "1.5E0"
            mant, _, exp = f"{v:.15E}".partition("E")
            mant = mant.rstrip("0")
            if mant.endswith("."):
                mant += "0"
            return f"{mant}E{int(exp)}"

        def parse_file(data: bytes, origin: str) -> list:
            doc = json.loads(data.decode("utf-8"))
            anon_tag = hashlib.md5(origin.encode()).hexdigest()[:8]
            counters = {"anon": 0, "list": 0}
            triples: list = []

            def fresh(kind: str) -> str:
                counters[kind] += 1
                return f"_:jld{kind}-{anon_tag}-{counters[kind]}"

            def build_context(ctx, outer):
                """Inline contexts only; term map + @vocab/@base."""
                if ctx is None:
                    return outer
                if isinstance(ctx, list):
                    out = outer
                    for c in ctx:
                        out = build_context(c, out)
                    return out
                if isinstance(ctx, str):
                    raise ValueError(
                        "remote @context documents are not fetched "
                        "(executor-side HTTP is wrong at every scale); "
                        "inline the context or pre-expand the document"
                    )
                out = dict(outer)
                for term, defn in ctx.items():
                    if term in ("@base", "@vocab"):
                        out[term] = defn
                        continue
                    if isinstance(defn, str):
                        out[term] = {"@id": defn}
                    elif isinstance(defn, dict):
                        bad = REJECTED.intersection(defn)
                        if bad:
                            raise ValueError(
                                f"unsupported @context feature: {bad}"
                            )
                        out[term] = defn
                    else:
                        raise ValueError(
                            f"malformed term definition for {term!r}"
                        )
                return out

            def expand_iri(ref: str, ctx, vocab: bool) -> str | None:
                """Term / compact IRI / absolute / relative expansion.
                ``vocab=True`` is property/type position (@vocab
                applies); returns None when nothing resolves."""
                if ref.startswith("_:"):
                    return ref
                defn = ctx.get(ref)
                if isinstance(defn, dict) and "@id" in defn:
                    inner = defn["@id"]
                    if inner != ref:  # guard a self-referential term
                        return expand_iri(inner, ctx, vocab=True)
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

            def node_id(obj: dict, ctx) -> str:
                rid = obj.get("@id")
                if rid is None:
                    return fresh("anon")
                if not isinstance(rid, str):
                    raise ValueError("@id must be a string")
                if rid.startswith("_:"):
                    return rid
                iri = expand_iri(rid, ctx, vocab=False)
                return f"<{iri if iri is not None else rid}>"

            def literal(value, lang, dt) -> str:
                if isinstance(value, bool):
                    return f'"{"true" if value else "false"}"^^<{XSD}boolean>'
                if isinstance(value, int):
                    return f'"{value}"^^<{XSD}integer>'
                if isinstance(value, float):
                    # JSON numbers with a fraction/exponent map to
                    # xsd:double in the canonical exponent lexical
                    # (integral floats included — JSON parsed them as
                    # float, and the spec keeps the double mapping)
                    return f'"{canon_double(value)}"^^<{XSD}double>'
                body = canon_string(str(value))
                if dt:
                    return f"{body}^^<{dt}>"
                if lang:
                    return f"{body}@{lang}"
                return body

            def object_term(value, ctx, coercion) -> str:
                """One VALUE in object position → a term (emitting any
                nested node's triples)."""
                if isinstance(value, dict):
                    if "@value" in value:
                        bad = set(value) - {"@value", "@language", "@type"}
                        if bad:
                            raise ValueError(
                                f"unsupported value-object keys: {bad}"
                            )
                        dt = value.get("@type")
                        if dt is not None:
                            dt_iri = expand_iri(dt, ctx, vocab=True)
                            dt = dt_iri if dt_iri is not None else dt
                        return literal(
                            value["@value"], value.get("@language"), dt
                        )
                    if "@list" in value:
                        items = value["@list"]
                        if not isinstance(items, list):
                            items = [items]
                        cells = [
                            (fresh("list"), object_term(it, ctx, coercion))
                            for it in items
                        ]
                        for i, (cell, term) in enumerate(cells):
                            triples.append((cell, FIRST, term))
                            triples.append((
                                cell,
                                REST,
                                cells[i + 1][0] if i + 1 < len(cells) else NIL,
                            ))
                        return cells[0][0] if cells else NIL
                    if set(value) == {"@id"}:
                        return node_id(value, ctx)
                    return node_object(value, ctx)  # nested node
                if isinstance(value, str):
                    if coercion == "@id":
                        iri = expand_iri(value, ctx, vocab=False)
                        if value.startswith("_:"):
                            return value
                        return f"<{iri if iri is not None else value}>"
                    if coercion is not None:
                        dt = expand_iri(coercion, ctx, vocab=True)
                        return literal(
                            value, None, dt if dt is not None else coercion
                        )
                    return literal(value, None, None)
                return literal(value, None, None)

            def node_object(obj: dict, ctx) -> str:
                bad = REJECTED.intersection(obj)
                if bad:
                    raise ValueError(f"unsupported JSON-LD keyword: {bad}")
                ctx = build_context(obj.get("@context"), ctx)
                if "@graph" in obj and "@id" in obj:
                    raise ValueError(
                        "named @graph blocks are quad-model data - "
                        "convert to N-Quads/TriG for the quad path"
                    )
                subj = node_id(obj, ctx)
                types = obj.get("@type")
                if types is not None:
                    for t in types if isinstance(types, list) else [types]:
                        iri = expand_iri(t, ctx, vocab=True)
                        if iri is None:
                            raise ValueError(f"cannot expand @type {t!r}")
                        triples.append((subj, TYPE, f"<{iri}>"))
                for key, value in obj.items():
                    if key in KEYWORDS:
                        continue
                    defn = ctx.get(key)
                    prop = expand_iri(key, ctx, vocab=True)
                    if prop is None:
                        # a term the context does not map and no @vocab:
                        # the spec DROPS it; that silence hides typos, so
                        # it is an error here (skip mode drops the file)
                        raise ValueError(
                            f"property {key!r} does not expand to an IRI "
                            "(no term definition, prefix, or @vocab)"
                        )
                    coercion = (
                        defn.get("@type") if isinstance(defn, dict) else None
                    )
                    values = value if isinstance(value, list) else [value]
                    for v in values:
                        triples.append(
                            (subj, f"<{prop}>", object_term(v, ctx, coercion))
                        )
                return subj

            ctx0 = build_context(
                doc.get("@context") if isinstance(doc, dict) else None, {}
            )
            if isinstance(doc, list):
                for node in doc:
                    node_object(node, ctx0)
            elif isinstance(doc, dict):
                if "@graph" in doc and "@id" not in doc:
                    graph = doc["@graph"]
                    for node in graph if isinstance(graph, list) else [graph]:
                        node_object(node, ctx0)
                elif set(doc) - {"@context"}:
                    node_object(doc, ctx0)
            else:
                raise ValueError("a JSON-LD document is an object or array")
            return triples

        for pdf in batches:
            ss, ps, os_ = [], [], []
            for pathv, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows = parse_file(bytes(content), str(pathv))
                except (ValueError, KeyError, TypeError) as e:
                    if fail:
                        raise ValueError(
                            f"JSON-LD parse failed for {pathv}: {e}"
                        ) from e
                    continue  # skip mode: drop the whole file
                for s, p, o in rows:
                    ss.append(s)
                    ps.append(p)
                    os_.append(o)
            yield pd.DataFrame({"s_term": ss, "p_term": ps, "o_term": os_})

    return files.mapInPandas(
        parse_batches, schema=PARSED_SCHEMA
    )
