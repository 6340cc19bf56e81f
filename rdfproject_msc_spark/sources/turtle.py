"""Turtle ingestion: the raw-RDF first mile for the format people
actually write by hand.

N-Triples (sources/ntriples.py) is line-delimited, so its parse is pure
column expressions over ``spark.read.text``. Turtle is NOT: statements
span lines, and ``@prefix``/``@base`` directives are document-scoped
state, so an intra-file split is unsound without a stateful pre-scan.
The honest Spark unit of parallelism is therefore the FILE:
``ntriples.list_rdf_files`` lists the input once as binary files, and an
Arrow-batched ``mapInPandas`` stage parses each file's text with a pure
Python recursive-descent tokenizer, emitting the SAME ``(s_term,
p_term, o_term)`` lexical-form relation the N-Triples reader produces —
everything downstream (``ingest_rdf``'s dictionary build and encode,
layouts, SPARQL ``term_style="lexical"``) is shared, not duplicated. At
corpus scale a Turtle delivery is thousands of files, so per-file
parallelism is real; one giant single file serializes by nature of the
grammar (documented — re-shard or convert such inputs to N-Triples,
which splits by line).

Canonical term forms (so Turtle- and NT-ingested graphs agree):

- IRIs expand (prefixed names, ``a``, relative-against-``@base``) to
  full ``<iri>``.
- String literals canonicalize to minimal N-Triples escaping of the
  UNESCAPED value (``\\``, ``\"``, newline, CR escaped; everything else
  raw) — both quote styles and long strings converge to one form.
- Numeric/boolean shorthands become their RDF 1.1 typed literals with
  the lexical form as written (``42`` → ``"42"^^<…#integer>``) —
  exactly what the lexical SPARQL term style produces for a bare
  integer constant, so shorthand data matches shorthand queries.
- Labeled blank nodes pass through as ``_:label`` terms (the NT
  convention here); anonymous ``[…]`` nodes mint deterministic labels
  ``_:ttlanon-<md5(file path)[:8]>-<n>`` in document order, so a
  replayed delivery re-derives identical terms (the same determinism
  contract as the dictionary build).
- RDF collections ``( e1 … en )`` (r11) expand to their rdf:first /
  rdf:rest / rdf:nil chain — one cell bnode per element, labels
  ``_:ttllist-<md5(file path)[:8]>-<n>`` from the same document-order
  counter as ``[…]`` (same replay determinism); ``()`` is the IRI
  rdf:nil. The distinct label prefix keeps the ``[ … ] .``
  bare-statement allowance (§2.7, blankNodePropertyList only) from
  leaking to collections — ``( 1 2 ) .`` stays a syntax error, as the
  grammar requires a predicateObjectList after a collection subject.

TriG graph blocks reject under ``parse_turtle`` but parse under
``parse_trig`` (r10), which emits the ``parse_nquads`` quad relation —
``<label> { … }`` / ``GRAPH <label> { … }`` / bare ``{ … }`` blocks,
document-scoped directives shared across blocks, optional final '.'
inside a block.

The parser lives INSIDE the mapInPandas closure: cloudpickle ships
nested defs by value, so Python workers need no importable copy of this
package (the multimodal decoder precedent — a module-level helper
pickles as a module reference and fails on workers whose sys.path lacks
the repo).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfproject_msc_spark.sources.ntriples import list_rdf_files

PARSED_SCHEMA = "s_term string, p_term string, o_term string"
PARSED_QUAD_SCHEMA = (
    "g_term string, s_term string, p_term string, o_term string"
)

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDF_FIRST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>"
RDF_REST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"
RDF_NIL = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"
XSD = "http://www.w3.org/2001/XMLSchema#"


def parse_turtle(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """Turtle files → ``(s_term, p_term, o_term)`` lexical-form strings,
    one mapInPandas stage over a binaryFile listing.

    ``on_error="fail"`` raises on the first malformed file;
    ``"skip"`` drops the WHOLE offending file — Turtle's directive
    state makes statement-level recovery unsound (after a parse error
    the prefix table may be wrong, and silently mis-expanded IRIs are
    worse than a dropped file)."""
    return _parse_files(spark, path, on_error, trig=False)


def parse_trig(
    spark: SparkSession, path: str, on_error: str = "skip"
) -> DataFrame:
    """TriG files → ``(g_term | NULL, s_term, p_term, o_term)`` — the
    named-graph TEXT format the quad lifecycle otherwise only gets from
    N-Quads. Same per-FILE mapInPandas unit and skip/fail contract as
    ``parse_turtle`` (TriG inherits Turtle's document-scoped directive
    state, so the grammar is equally non-line-splittable); the emitted
    relation matches ``parse_nquads`` exactly: top-level statements and
    bare ``{ … }`` blocks land in the default graph (NULL ``g_term``),
    ``<label> { … }`` / ``GRAPH <label> { … }`` blocks in that named
    graph. Directives declared anywhere apply document-wide from that
    point (TriG §5.2 — one prefix table across blocks)."""
    return _parse_files(spark, path, on_error, trig=True)


def _parse_files(
    spark: SparkSession, path: str, on_error: str, trig: bool
) -> DataFrame:
    files = list_rdf_files(spark, path, on_error)
    fail = on_error == "fail"

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import hashlib
        import re as _re

        _SCHEME = _re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*:")
        _INTEGER = _re.compile(r"[+-]?[0-9]+")
        _DECIMAL = _re.compile(r"[+-]?[0-9]*\.[0-9]+")
        _DOUBLE = _re.compile(
            r"[+-]?(?:[0-9]+\.[0-9]*|\.?[0-9]+)[eE][+-]?[0-9]+"
        )
        # term-ish token: dots stay IN (decimals, dotted local names) and
        # a trailing statement '.' strips afterwards; ';' ',' brackets and
        # quotes delimit (PN_LOCAL escapes of those delimiters are outside
        # the subset)
        _PNAME = _re.compile(r"[^\s;,\[\]()<>\"'{}]+")
        _ECHARS = {
            "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
            '"': '"', "'": "'", "\\": "\\",
        }
        _LOCAL_ESC = set("_~.-!$&'()*+,;=/?#@%")

        def canon_string(value: str) -> str:
            # minimal N-Triples escaping of the raw value
            out = (
                value.replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
            return f'"{out}"'

        def parse_text(text: str, origin: str) -> list:
            i = 0
            n = len(text)
            prefixes: dict[str, str] = {}
            base: str | None = None
            anon_tag = hashlib.md5(origin.encode()).hexdigest()[:8]
            anon_n = [0]
            triples: list = []  # (g | None, s, p, o) rows
            cur_g: list = [None]  # active graph label inside a block

            def err(msg: str):
                line = text.count("\n", 0, i) + 1
                raise ValueError(f"{origin}:{line}: {msg}")

            def skip_ws():
                nonlocal i
                while i < n:
                    c = text[i]
                    if c in " \t\r\n":
                        i += 1
                    elif c == "#":
                        j = text.find("\n", i)
                        i = n if j < 0 else j + 1
                    else:
                        return

            def resolve(iri: str) -> str:
                if _SCHEME.match(iri) or base is None:
                    return iri
                if iri.startswith("#") or iri.startswith("?"):
                    return base + iri
                # practical resolution: base must end in '/' or '#'
                # (enforced at @base time), so join is concatenation
                return base + iri

            def read_iriref() -> str:
                nonlocal i
                j = text.find(">", i)
                if j < 0:
                    err("unterminated IRI")
                raw = text[i + 1 : j]
                if any(c in raw for c in ' "{}|^`'):
                    err(f"illegal character in IRI <{raw}>")
                i = j + 1
                return f"<{resolve(raw)}>"

            def unescape_local(local: str) -> str:
                if "\\" not in local:
                    return local
                out = []
                k = 0
                while k < len(local):
                    if local[k] == "\\" and k + 1 < len(local):
                        if local[k + 1] not in _LOCAL_ESC:
                            err(f"bad local-name escape in {local!r}")
                        out.append(local[k + 1])
                        k += 2
                    else:
                        out.append(local[k])
                        k += 1
                return "".join(out)

            def read_pname(tok: str) -> str:
                if ":" not in tok:
                    err(f"expected an IRI or prefixed name, got {tok!r}")
                pfx, local = tok.split(":", 1)
                if pfx not in prefixes:
                    err(f"undeclared prefix {pfx + ':'!r}")
                return f"<{prefixes[pfx]}{unescape_local(local)}>"

            def read_string_body() -> str:
                """Cursor on the opening quote; returns the UNESCAPED value."""
                nonlocal i
                q = text[i]
                long_form = text[i : i + 3] == q * 3
                i += 3 if long_form else 1
                out = []
                while i < n:
                    c = text[i]
                    if c == "\\":
                        if i + 1 >= n:
                            err("dangling escape in string")
                        e = text[i + 1]
                        if e in _ECHARS:
                            out.append(_ECHARS[e])
                            i += 2
                        elif e in ("u", "U"):
                            width = 4 if e == "u" else 8
                            hexs = text[i + 2 : i + 2 + width]
                            if len(hexs) != width:
                                err("truncated \\u escape")
                            try:
                                out.append(chr(int(hexs, 16)))
                            except ValueError:
                                err(f"bad \\u escape {hexs!r}")
                            i += 2 + width
                        else:
                            err(f"unknown string escape \\{e}")
                        continue
                    if long_form:
                        if c == q:
                            # greedy quote-run: content may contain up to
                            # two consecutive quotes; in a longer run the
                            # LAST three are the terminator
                            r = i
                            while r < n and text[r] == q:
                                r += 1
                            run = r - i
                            if run >= 3:
                                out.append(q * (run - 3))
                                i = r
                                return "".join(out)
                            out.append(q * run)
                            i = r
                            continue
                        out.append(c)
                        i += 1
                        continue
                    if c == q:
                        i += 1
                        return "".join(out)
                    if c in "\n\r":
                        err("newline in single-quoted string")
                    out.append(c)
                    i += 1
                err("unterminated string")

            def read_literal() -> str:
                nonlocal i
                value = read_string_body()
                body = canon_string(value)
                if i < n and text[i] == "@":
                    j = i + 1
                    while j < n and (text[j].isalnum() or text[j] == "-"):
                        j += 1
                    tag = text[i + 1 : j]
                    if not tag:
                        err("empty language tag")
                    i = j
                    return f"{body}@{tag}"
                if text[i : i + 2] == "^^":
                    i += 2
                    skip_ws()
                    if i < n and text[i] == "<":
                        dt = read_iriref()
                    else:
                        m = _PNAME.match(text, i)
                        if not m:
                            err("expected datatype after ^^")
                        i = m.end()
                        dt = read_pname(m.group(0))
                    return f"{body}^^{dt}"
                return body

            def fresh_anon() -> str:
                anon_n[0] += 1
                return f"_:ttlanon-{anon_tag}-{anon_n[0]}"

            def read_term(as_subject: bool) -> str:
                nonlocal i
                c = text[i]
                if c == "<":
                    return read_iriref()
                if c in "\"'":
                    if as_subject:
                        err("a literal cannot be a subject")
                    return read_literal()
                if c == "[":
                    i += 1
                    skip_ws()
                    label = fresh_anon()
                    if text[i] == "]":
                        i += 1
                        return label
                    read_po_list(label)
                    skip_ws()
                    if i >= n or text[i] != "]":
                        err("unterminated [ property list ]")
                    i += 1
                    return label
                if c == "(":
                    # RDF collection (§2.8): ( e1 … en ) expands to its
                    # rdf:first/rdf:rest chain — elements read first (a
                    # nested […] or ( … ) mints ITS nodes inline, so the
                    # shared counter stays document-ordered), then one
                    # cell bnode per element. () is the IRI rdf:nil.
                    i += 1
                    elems = []
                    while True:
                        skip_ws()
                        if i >= n:
                            err("unterminated ( collection )")
                        if text[i] == ")":
                            i += 1
                            break
                        elems.append(read_term(as_subject=False))
                    if not elems:
                        return RDF_NIL
                    cells = []
                    for _ in elems:
                        anon_n[0] += 1
                        cells.append(f"_:ttllist-{anon_tag}-{anon_n[0]}")
                    for k, (cell, e) in enumerate(zip(cells, elems)):
                        triples.append((cur_g[0], cell, RDF_FIRST, e))
                        nxt = cells[k + 1] if k + 1 < len(cells) else RDF_NIL
                        triples.append((cur_g[0], cell, RDF_REST, nxt))
                    return cells[0]
                if text[i : i + 2] == "_:":
                    m = _PNAME.match(text, i)
                    tok = m.group(0)
                    # the statement terminator can sit flush against a
                    # blank-node label (`_:b1.`) — same strip as pnames
                    while tok.endswith("."):
                        tok = tok[:-1]
                    i += len(tok)
                    return tok
                m = _PNAME.match(text, i)
                if not m:
                    err(f"unexpected character {c!r}")
                tok = m.group(0)
                # trailing '.' is the statement terminator, not part of
                # the name/number (IRIs with inner dots keep them)
                while tok.endswith(".") and not (
                    _DECIMAL.fullmatch(tok) or _DOUBLE.fullmatch(tok)
                ):
                    tok = tok[:-1]
                i += len(tok) if tok else 0
                if not tok:
                    err("expected a term")
                if not as_subject:
                    if _INTEGER.fullmatch(tok):
                        return f'"{tok}"^^<{XSD}integer>'
                    if _DECIMAL.fullmatch(tok):
                        return f'"{tok}"^^<{XSD}decimal>'
                    if _DOUBLE.fullmatch(tok):
                        return f'"{tok}"^^<{XSD}double>'
                    if tok in ("true", "false"):
                        return f'"{tok}"^^<{XSD}boolean>'
                return read_pname(tok)

            def read_verb() -> str:
                nonlocal i
                if text[i] == "<":
                    return read_iriref()
                m = _PNAME.match(text, i)
                if not m:
                    err("expected a predicate")
                tok = m.group(0)
                while tok.endswith("."):
                    tok = tok[:-1]
                if not tok:
                    err("expected a predicate")
                i += len(tok)
                if tok == "a":
                    return RDF_TYPE
                return read_pname(tok)

            def read_po_list(subject: str):
                nonlocal i
                while True:
                    skip_ws()
                    verb = read_verb()
                    while True:
                        skip_ws()
                        obj = read_term(as_subject=False)
                        triples.append((cur_g[0], subject, verb, obj))
                        skip_ws()
                        if i < n and text[i] == ",":
                            i += 1
                            continue
                        break
                    if i < n and text[i] == ";":
                        i += 1
                        skip_ws()
                        # trailing ';' before '.' or ']' is legal
                        if i < n and text[i] in ".]};":
                            while i < n and text[i] == ";":
                                i += 1
                                skip_ws()
                            return
                        continue
                    return

            def expect_dot():
                nonlocal i
                skip_ws()
                if i >= n or text[i] != ".":
                    err("expected '.' at end of statement")
                i += 1

            def read_graph_block(label):
                """One ``{ … }`` block of triples statements into graph
                ``label`` (None = the default graph). Blocks cannot
                nest; the FINAL '.' inside a block is optional (TriG
                triplesBlock ::= triples ('.' triplesBlock?)?)."""
                nonlocal i
                i += 1  # consume '{'
                cur_g[0] = label
                while True:
                    skip_ws()
                    if i >= n:
                        err("unterminated { graph block }")
                    if text[i] == "}":
                        i += 1
                        break
                    if text[i] == "{" or _re.match(
                        r"GRAPH(?=[\s#<])", text[i:], _re.I
                    ):
                        err("graph blocks cannot nest")
                    subject = read_term(as_subject=True)
                    skip_ws()
                    if i < n and text[i] == "{":
                        err("graph blocks cannot nest")
                    if (
                        subject.startswith("_:ttlanon-")
                        and i < n
                        and text[i] in ".}"
                    ):
                        if text[i] == ".":
                            i += 1
                        continue
                    read_po_list(subject)
                    skip_ws()
                    if i < n and text[i] == ".":
                        i += 1
                    elif not (i < n and text[i] == "}"):
                        err("expected '.' or '}' in graph block")
                cur_g[0] = None

            while True:
                skip_ws()
                if i >= n:
                    break
                # SPARQL-style directive disambiguation:
                # `prefix:foo :p :o .` is a statement whose subject
                # uses a prefix literally named "prefix" (a bare \b
                # would misparse it as a directive), while the legal
                # whitespace-free forms still parse as directives —
                # `PREFIX: <i>` (empty prefix label: ':' followed by
                # whitespace or '<') and `BASE<i>` ('<' cannot start a
                # pname local part)
                if text[i] == "@" or _re.match(
                    r"(?:PREFIX(?=[\s#]|:(?=[\s#<]))|BASE(?=[\s#<]))",
                    text[i:],
                    _re.I,
                ):
                    at_form = text[i] == "@"
                    m = _re.match(
                        r"@?(prefix|base)\b", text[i:], _re.I
                    )
                    if not m:
                        err(f"unknown directive at {text[i:i+12]!r}")
                    kind = m.group(1).lower()
                    i += m.end()
                    skip_ws()
                    if kind == "prefix":
                        j = text.find(":", i)
                        if j < 0:
                            err("@prefix needs 'name:'")
                        name = text[i:j].strip()
                        i = j + 1
                        skip_ws()
                        if i >= n or text[i] != "<":
                            err("@prefix needs an <iri>")
                        iri = read_iriref()[1:-1]
                        prefixes[name] = iri
                    else:
                        if i >= n or text[i] != "<":
                            err("@base needs an <iri>")
                        b = read_iriref()[1:-1]
                        if not (b.endswith("/") or b.endswith("#")):
                            err(
                                "@base must end with '/' or '#' (the "
                                "practical-resolution subset: relative "
                                "IRIs join by concatenation)"
                            )
                        base = b
                    if at_form:
                        expect_dot()
                    continue
                if text[i] == "{":
                    if not trig:
                        err(
                            "TriG graph blocks are not Turtle — parse "
                            "with parse_trig / ingest --trig"
                        )
                    read_graph_block(None)  # bare block = default graph
                    continue
                if trig and _re.match(
                    r"GRAPH(?=[\s#<])", text[i:], _re.I
                ):
                    # GRAPH <label> { … } — keyword requires following
                    # whitespace or '<' (GRAPH:foo stays a prefixed
                    # name; GRAPH<g>{…} is legal whitespace-free TriG)
                    i += 5
                    skip_ws()
                    # read_term(as_subject=True) already rejects
                    # literal labels ("a literal cannot be a subject")
                    label = read_term(as_subject=True)
                    skip_ws()
                    if i >= n or text[i] != "{":
                        err("GRAPH needs a { … } block")
                    read_graph_block(label)
                    continue
                subject = read_term(as_subject=True)
                skip_ws()
                if trig and i < n and text[i] == "{":
                    # labelOrSubject followed by a block: a graph label
                    # (literals already rejected as subjects)
                    read_graph_block(subject)
                    continue
                # `[ :p :o ] .` — a blankNodePropertyList statement with
                # no outer predicate list is legal (§2.7)
                if subject.startswith("_:ttlanon-") and i < n and text[i] == ".":
                    i += 1
                    continue
                read_po_list(subject)
                expect_dot()
            return triples

        for pdf in batches:
            gs, ss, ps, os_ = [], [], [], []
            for pathv, content in zip(pdf["path"], pdf["content"]):
                try:
                    text = bytes(content).decode("utf-8")
                    rows = parse_text(text, str(pathv))
                except (ValueError, UnicodeDecodeError):
                    if fail:
                        raise
                    continue  # skip mode: drop the whole file
                for g, s, p, o in rows:
                    gs.append(g)
                    ss.append(s)
                    ps.append(p)
                    os_.append(o)
            cols = {"s_term": ss, "p_term": ps, "o_term": os_}
            if trig:
                cols = {"g_term": gs, **cols}
            yield pd.DataFrame(cols)

    return files.mapInPandas(
        parse_batches, schema=PARSED_QUAD_SCHEMA if trig else PARSED_SCHEMA
    )


def format_turtle(
    parsed: DataFrame, prefixes: dict[str, str] | None = None
) -> DataFrame:
    """``(s_term, p_term, o_term)`` lexical forms → one Turtle
    statement-group line per SUBJECT (the inverse direction of
    ``parse_turtle``): predicates of one subject join with ``;``,
    repeated-predicate objects with ``,``, rdf:type compacts to ``a``,
    and — when ``prefixes`` maps ``name → iri`` — IRIs with a safe
    local part compact to prefixed names. One shuffle (the subject
    groupBy); the per-subject text builds in a pure column HOF
    (no Python). parse_turtle(format_turtle(g)) ≡ g.

    Prefix-compacted output needs its ``@prefix`` directives, which
    Turtle scopes per FILE — ``write_turtle`` handles that; WITHOUT
    prefixes the output is directive-free, so any line split is a
    valid Turtle document (distributed text write, like the NT sink).

    Scale note: a subject's whole predicate-object list builds into
    one row — the inherent shape of subject-grouped Turtle. Degenerate
    million-triple subjects belong in the N-Triples sink instead
    (format_ntriples — line-splittable both ways)."""

    import re as _re

    def compact(col: Column, as_predicate: bool = False) -> Column:
        out = col
        for name, iri in sorted((prefixes or {}).items()):
            # only locals safe in PN_LOCAL without escaping compact;
            # everything else keeps the full <iri> form (still valid)
            pat = "^<" + _re.escape(iri) + "([A-Za-z][A-Za-z0-9_-]*)>$"
            out = F.when(
                col.rlike(pat),
                F.concat(
                    F.lit(name + ":"), F.regexp_extract(col, pat, 1)
                ),
            ).otherwise(out)
        if as_predicate:  # `a` is PREDICATE-position-only grammar
            out = F.when(col == RDF_TYPE, F.lit("a")).otherwise(out)
        return out

    po = parsed.select(
        "s_term",
        F.struct(
            compact(F.col("p_term"), as_predicate=True).alias("p"),
            compact(F.col("o_term")).alias("o"),
        ).alias("po"),
    )
    grouped = po.groupBy("s_term").agg(
        F.sort_array(F.collect_list("po")).alias("pos")
    )
    acc0 = F.struct(
        F.lit("").alias("txt"), F.lit("").alias("lastp")
    )
    body = F.aggregate(
        F.col("pos"),
        acc0,
        lambda acc, x: F.struct(
            F.concat(
                acc["txt"],
                F.when(
                    acc["lastp"] == x["p"],
                    F.concat(F.lit(" , "), x["o"]),
                ).otherwise(
                    F.concat(
                        F.when(acc["txt"] == "", F.lit("")).otherwise(
                            F.lit(" ;\n    ")
                        ),
                        x["p"],
                        F.lit(" "),
                        x["o"],
                    )
                ),
            ).alias("txt"),
            x["p"].alias("lastp"),
        ),
        lambda acc: acc["txt"],
    )
    return grouped.select(
        F.concat(compact(F.col("s_term")), F.lit(" "), body, F.lit(" .")).alias(
            "value"
        )
    )


def write_turtle(
    parsed: DataFrame, path: str, prefixes: dict[str, str] | None = None
) -> None:
    """Persist a triple relation as Turtle text. Without prefixes the
    formatted lines are directive-free and write as plain distributed
    text. WITH prefixes, every part FILE must carry the ``@prefix``
    header before its statements (Turtle scopes directives per file) —
    the one per-partition stateful step, done with an Arrow-batched
    ``mapInPandas`` first-batch prepend (format-mandated, same
    justification as the per-file parse; the header is a handful of
    constant lines, and statement batches stream through as whole
    Arrow frames — no row-at-a-time Python)."""
    lines = format_turtle(parsed, prefixes)
    if not prefixes:
        lines.write.mode("overwrite").text(path)
        return
    header = [f"@prefix {k}: <{v}> ." for k, v in sorted(prefixes.items())]

    def _with_header(batches):
        # Arrow-batched (NOT the row-at-a-time RDD API): the directive
        # lines prepend to the partition's FIRST batch only; every
        # statement batch passes through as a whole Arrow frame, so
        # the per-row cost stays columnar. A partition that yields no
        # batches writes an empty part file with no header — exactly
        # the old behavior (a headerless EMPTY Turtle file is valid).
        first = True
        for pdf in batches:
            if first:
                first = False
                yield pd.DataFrame({"value": header})
            yield pdf

    lines.mapInPandas(_with_header, schema="value string").write.mode(
        "overwrite"
    ).text(path)
