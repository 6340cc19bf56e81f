"""Turtle ingestion: the raw-RDF first mile for the format people
actually write by hand.

N-Triples (sources/ntriples.py) is line-delimited, so its parse is pure
column expressions over ``spark.read.text``. Turtle is NOT: statements
span lines, and ``@prefix``/``@base`` directives are document-scoped
state, so an intra-file split is unsound without a stateful pre-scan.
The honest Spark unit of parallelism is therefore the FILE:
``ntriples.parse_rdf_files`` lists the input once as binary files, and
its Arrow-batched ``mapInPandas`` stage parses each file's text with a
pure Python recursive-descent tokenizer, emitting the SAME ``(s_term,
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

The grammar is module-level: ``parse_file`` and the ``_Turtle`` cursor
class, one method per production. ``ntriples.parse_rdf_files`` ships
them to Python workers BY VALUE (the ``sources`` package is registered
with cloudpickle), so workers need no importable copy of this package,
and the driver, tests and other code call ``parse_file`` without Spark.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfproject_msc_spark.sources.ntriples import (
    PARSED_QUAD_SCHEMA,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD,
    blank_nodes,
    canon_string,
    parse_rdf_files,
    write_text_parts,
)


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
    return parse_rdf_files(spark, path, on_error, parse_file, "Turtle")


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
    return parse_rdf_files(
        spark,
        path,
        on_error,
        functools.partial(parse_file, trig=True),
        "TriG",
        PARSED_QUAD_SCHEMA,
    )


def parse_file(data: bytes, origin: str, trig: bool = False) -> list:
    """One Turtle document → ``(s, p, o)`` rows, or with ``trig``
    ``(g | None, s, p, o)`` rows; ``origin`` (the file path) seeds the
    blank-node labels. Raises ``ValueError`` on malformed input."""
    return _Turtle(data.decode("utf-8"), origin, trig).document()


_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*:")
_INTEGER = re.compile(r"[+-]?[0-9]+")
_DECIMAL = re.compile(r"[+-]?[0-9]*\.[0-9]+")
_DOUBLE = re.compile(r"[+-]?(?:[0-9]+\.[0-9]*|\.?[0-9]+)[eE][+-]?[0-9]+")
# term-ish token: dots stay IN (decimals, dotted local names) and a
# trailing statement '.' strips afterwards; ';' ',' brackets and quotes
# delimit (PN_LOCAL escapes of those delimiters are outside the subset)
_PNAME = re.compile(r"[^\s;,\[\]()<>\"'{}]+")
# SPARQL-style directive disambiguation: `prefix:foo :p :o .` is a
# statement whose subject uses a prefix literally named "prefix" (a bare
# \b would misparse it as a directive), while the legal whitespace-free
# forms still parse as directives — `PREFIX: <i>` (empty prefix label:
# ':' followed by whitespace or '<') and `BASE<i>` ('<' cannot start a
# pname local part)
_SPARQL_DIRECTIVE = re.compile(
    r"(?:PREFIX(?=[\s#]|:(?=[\s#<]))|BASE(?=[\s#<]))", re.I
)
_DIRECTIVE = re.compile(r"@?(prefix|base)\b", re.I)
# the TriG keyword needs following whitespace or '<' (GRAPH:foo stays a
# prefixed name; GRAPH<g>{…} is legal whitespace-free TriG)
_GRAPH = re.compile(r"GRAPH(?=[\s#<])", re.I)
_ECHARS = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_LOCAL_ESC = set("_~.-!$&'()*+,;=/?#@%")


class _Turtle:
    """The recursive-descent parse of ONE document: the cursor (``text``,
    ``i``), the document-scoped directive state (``prefixes``, ``base``),
    the blank-node minter and the active graph label (TriG blocks), one
    method per production. ``_:ttlanon-``/``_:ttllist-`` labels share one
    document-order counter."""

    def __init__(self, text: str, origin: str, trig: bool):
        self.text, self.i, self.n = text, 0, len(text)
        self.trig = trig
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.mint = blank_nodes("ttl", origin, one_counter=True)
        self.graph: str | None = None  # active graph label inside a block
        self.rows: list = []

    def emit(self, s: str, p: str, o: str) -> None:
        self.rows.append((self.graph, s, p, o) if self.trig else (s, p, o))

    def err(self, msg: str):
        line = self.text.count("\n", 0, self.i) + 1
        raise ValueError(f"line {line}: {msg}")

    def peek(self, what: str) -> str:
        if self.i >= self.n:
            self.err(f"expected {what}, found the end of the document")
        return self.text[self.i]

    def at(self, chars: str) -> bool:
        return self.i < self.n and self.text[self.i] in chars

    def skip_ws(self) -> None:
        text, n = self.text, self.n
        while self.i < n:
            c = text[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif c == "#":
                j = text.find("\n", self.i)
                self.i = n if j < 0 else j + 1
            else:
                return

    def resolve(self, iri: str) -> str:
        # practical resolution: base must end in '/' or '#' (enforced at
        # @base time), so a join is concatenation
        if _SCHEME.match(iri) or self.base is None:
            return iri
        return self.base + iri

    def iriref(self) -> str:
        j = self.text.find(">", self.i)
        if j < 0:
            self.err("unterminated IRI")
        raw = self.text[self.i + 1 : j]
        if any(c in raw for c in ' "{}|^`'):
            self.err(f"illegal character in IRI <{raw}>")
        self.i = j + 1
        return f"<{self.resolve(raw)}>"

    def pname(self, tok: str) -> str:
        if ":" not in tok:
            self.err(f"expected an IRI or prefixed name, got {tok!r}")
        pfx, local = tok.split(":", 1)
        if pfx not in self.prefixes:
            self.err(f"undeclared prefix {pfx + ':'!r}")
        if "\\" in local:  # PN_LOCAL_ESC: the escaped character itself
            out, k = [], 0
            while k < len(local):
                if local[k] == "\\" and k + 1 < len(local):
                    if local[k + 1] not in _LOCAL_ESC:
                        self.err(f"bad local-name escape in {local!r}")
                    out.append(local[k + 1])
                    k += 2
                else:
                    out.append(local[k])
                    k += 1
            local = "".join(out)
        return f"<{self.prefixes[pfx]}{local}>"

    def string_body(self) -> str:
        """Cursor on the opening quote; returns the UNESCAPED value."""
        text, n = self.text, self.n
        q = text[self.i]
        long_form = text[self.i : self.i + 3] == q * 3
        self.i += 3 if long_form else 1
        out = []
        while self.i < n:
            c = text[self.i]
            if c == "\\":
                out.append(self.string_escape())
                continue
            if long_form and c == q:
                # greedy quote-run: content may contain up to two
                # consecutive quotes; in a longer run the LAST three are
                # the terminator
                r = self.i
                while r < n and text[r] == q:
                    r += 1
                run = r - self.i
                self.i = r
                if run >= 3:
                    out.append(q * (run - 3))
                    return "".join(out)
                out.append(q * run)
                continue
            if not long_form:
                if c == q:
                    self.i += 1
                    return "".join(out)
                if c in "\n\r":
                    self.err("newline in single-quoted string")
            out.append(c)
            self.i += 1
        self.err("unterminated string")

    def string_escape(self) -> str:
        """Cursor on a backslash inside a string; returns its character."""
        text = self.text
        if self.i + 1 >= self.n:
            self.err("dangling escape in string")
        e = text[self.i + 1]
        if e in _ECHARS:
            self.i += 2
            return _ECHARS[e]
        if e not in ("u", "U"):
            self.err(f"unknown string escape \\{e}")
        width = 4 if e == "u" else 8
        hexs = text[self.i + 2 : self.i + 2 + width]
        if len(hexs) != width:
            self.err("truncated \\u escape")
        try:
            ch = chr(int(hexs, 16))
        except ValueError:
            self.err(f"bad \\u escape {hexs!r}")
        self.i += 2 + width
        return ch

    def literal(self) -> str:
        text, n = self.text, self.n
        body = canon_string(self.string_body())
        if self.at("@"):
            j = self.i + 1
            while j < n and (text[j].isalnum() or text[j] == "-"):
                j += 1
            tag = text[self.i + 1 : j]
            if not tag:
                self.err("empty language tag")
            self.i = j
            return f"{body}@{tag}"
        if text[self.i : self.i + 2] == "^^":
            self.i += 2
            self.skip_ws()
            if self.at("<"):
                return f"{body}^^{self.iriref()}"
            m = _PNAME.match(text, self.i)
            if not m:
                self.err("expected datatype after ^^")
            self.i = m.end()
            return f"{body}^^{self.pname(m.group(0))}"
        return body

    def term(self, as_subject: bool) -> str:
        text = self.text
        c = self.peek("a term")
        if c == "<":
            return self.iriref()
        if c in "\"'":
            if as_subject:
                self.err("a literal cannot be a subject")
            return self.literal()
        if c == "[":
            return self.blank_node_property_list()
        if c == "(":
            return self.collection()
        m = _PNAME.match(text, self.i)
        if text[self.i : self.i + 2] == "_:":
            # the statement terminator can sit flush against a blank-node
            # label (`_:b1.`) — same strip as pnames
            tok = m.group(0).rstrip(".")
            self.i += len(tok)
            return tok
        if not m:
            self.err(f"unexpected character {c!r}")
        tok = m.group(0)
        # a trailing '.' is the statement terminator, not part of the
        # name/number (IRIs with inner dots keep them)
        while tok.endswith(".") and not (
            _DECIMAL.fullmatch(tok) or _DOUBLE.fullmatch(tok)
        ):
            tok = tok[:-1]
        if not tok:
            self.err("expected a term")
        self.i += len(tok)
        if not as_subject:
            for pattern, dt in (
                (_INTEGER, "integer"), (_DECIMAL, "decimal"),
                (_DOUBLE, "double"),
            ):
                if pattern.fullmatch(tok):
                    return f'"{tok}"^^<{XSD}{dt}>'
            if tok in ("true", "false"):
                return f'"{tok}"^^<{XSD}boolean>'
        return self.pname(tok)

    def blank_node_property_list(self) -> str:
        """``[ … ]``: its label mints before its contents parse."""
        self.i += 1
        self.skip_ws()
        label = self.mint("anon")
        if self.at("]"):
            self.i += 1
            return label
        self.po_list(label)
        self.skip_ws()
        if not self.at("]"):
            self.err("unterminated [ property list ]")
        self.i += 1
        return label

    def collection(self) -> str:
        """RDF collection (§2.8): ``( e1 … en )`` expands to its
        rdf:first/rdf:rest chain — elements read first (a nested […] or
        ( … ) mints ITS nodes inline, so the shared counter stays
        document-ordered), then one cell bnode per element. ``()`` is the
        IRI rdf:nil."""
        self.i += 1
        elems = []
        while True:
            self.skip_ws()
            if self.i >= self.n:
                self.err("unterminated ( collection )")
            if self.text[self.i] == ")":
                self.i += 1
                break
            elems.append(self.term(as_subject=False))
        if not elems:
            return RDF_NIL
        cells = [self.mint("list") for _ in elems]
        for k, (cell, e) in enumerate(zip(cells, elems)):
            self.emit(cell, RDF_FIRST, e)
            nxt = cells[k + 1] if k + 1 < len(cells) else RDF_NIL
            self.emit(cell, RDF_REST, nxt)
        return cells[0]

    def verb(self) -> str:
        if self.peek("a predicate") == "<":
            return self.iriref()
        m = _PNAME.match(self.text, self.i)
        if not m:
            self.err("expected a predicate")
        tok = m.group(0).rstrip(".")
        if not tok:
            self.err("expected a predicate")
        self.i += len(tok)
        return RDF_TYPE if tok == "a" else self.pname(tok)

    def po_list(self, subject: str) -> None:
        while True:
            self.skip_ws()
            verb = self.verb()
            while True:
                self.skip_ws()
                self.emit(subject, verb, self.term(as_subject=False))
                self.skip_ws()
                if not self.at(","):
                    break
                self.i += 1
            if not self.at(";"):
                return
            self.i += 1
            self.skip_ws()
            # a trailing ';' before '.' or ']' is legal
            if self.at(".]};"):
                while self.at(";"):
                    self.i += 1
                    self.skip_ws()
                return

    def expect_dot(self) -> None:
        self.skip_ws()
        if not self.at("."):
            self.err("expected '.' at end of statement")
        self.i += 1

    def directive(self) -> None:
        """``@prefix``/``@base`` (closed by '.') or their SPARQL forms."""
        at_form = self.text[self.i] == "@"
        m = _DIRECTIVE.match(self.text, self.i)
        if not m:
            self.err(f"unknown directive at {self.text[self.i:self.i+12]!r}")
        self.i = m.end()
        self.skip_ws()
        if m.group(1).lower() == "prefix":
            j = self.text.find(":", self.i)
            if j < 0:
                self.err("@prefix needs 'name:'")
            name = self.text[self.i:j].strip()
            self.i = j + 1
            self.skip_ws()
            if not self.at("<"):
                self.err("@prefix needs an <iri>")
            self.prefixes[name] = self.iriref()[1:-1]
        else:
            if not self.at("<"):
                self.err("@base needs an <iri>")
            b = self.iriref()[1:-1]
            if not (b.endswith("/") or b.endswith("#")):
                self.err(
                    "@base must end with '/' or '#' (the practical-"
                    "resolution subset: relative IRIs join by "
                    "concatenation)"
                )
            self.base = b
        if at_form:
            self.expect_dot()

    def graph_block(self, label: str | None) -> None:
        """One ``{ … }`` block of triples statements into graph ``label``
        (None = the default graph). Blocks cannot nest; the FINAL '.'
        inside a block is optional (TriG triplesBlock ::= triples ('.'
        triplesBlock?)?)."""
        self.i += 1  # consume '{'
        self.graph = label
        while True:
            self.skip_ws()
            if self.i >= self.n:
                self.err("unterminated { graph block }")
            if self.text[self.i] == "}":
                self.i += 1
                break
            if self.text[self.i] == "{" or _GRAPH.match(self.text, self.i):
                self.err("graph blocks cannot nest")
            subject = self.term(as_subject=True)
            self.skip_ws()
            if self.at("{"):
                self.err("graph blocks cannot nest")
            if subject.startswith("_:ttlanon-") and self.at(".}"):
                if self.at("."):
                    self.i += 1
                continue
            self.po_list(subject)
            self.skip_ws()
            if self.at("."):
                self.i += 1
            elif not self.at("}"):
                self.err("expected '.' or '}' in graph block")
        self.graph = None

    def document(self) -> list:
        while True:
            self.skip_ws()
            if self.i >= self.n:
                return self.rows
            if self.text[self.i] == "@" or _SPARQL_DIRECTIVE.match(
                self.text, self.i
            ):
                self.directive()
            elif self.text[self.i] == "{":
                if not self.trig:
                    self.err(
                        "TriG graph blocks are not Turtle — parse with "
                        "parse_trig / ingest --trig"
                    )
                self.graph_block(None)  # bare block = default graph
            elif self.trig and _GRAPH.match(self.text, self.i):
                self.i += 5
                self.skip_ws()
                # term(as_subject=True) already rejects literal labels
                label = self.term(as_subject=True)
                self.skip_ws()
                if not self.at("{"):
                    self.err("GRAPH needs a { … } block")
                self.graph_block(label)
            else:
                self.triples()

    def triples(self) -> None:
        subject = self.term(as_subject=True)
        self.skip_ws()
        if self.trig and self.at("{"):
            # labelOrSubject followed by a block: a graph label (literals
            # already rejected as subjects)
            self.graph_block(subject)
            return
        # `[ :p :o ] .` — a blankNodePropertyList statement with no outer
        # predicate list is legal (§2.7)
        if subject.startswith("_:ttlanon-") and self.at("."):
            self.i += 1
            return
        self.po_list(subject)
        self.expect_dot()


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

    def compact(col: Column, as_predicate: bool = False) -> Column:
        out = col
        for name, iri in sorted((prefixes or {}).items()):
            # only locals safe in PN_LOCAL without escaping compact;
            # everything else keeps the full <iri> form (still valid)
            pat = "^<" + re.escape(iri) + "([A-Za-z][A-Za-z0-9_-]*)>$"
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
    write_text_parts(
        lines,
        path,
        [f"@prefix {k}: <{v}> ." for k, v in sorted(prefixes.items())],
    )
