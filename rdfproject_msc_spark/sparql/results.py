"""W3C SPARQL 1.1 query results serialization (CSV/TSV/JSON/XML).

The interchange half a SPARQL endpoint owes its callers: decoded
solution DataFrames serialize to the three standard result formats
(sparql11-results-csv-tsv, sparql11-results-json). Spark-first split:

- CSV and TSV are LINE-ORIENTED, so they write as distributed text
  (one row per solution, any scale) — CSV carries plain string forms
  (the spec's lossy human format: IRI brackets and literal quoting
  stripped), TSV carries full N-Triples-encoded terms (lossless for
  lexical-style stores, whose dictionary terms ARE N-Triples forms).
- The JSON and XML formats are ONE document each and therefore
  driver-sized by construction: ``results_json`` / ``results_xml``
  demand an explicit ``limit`` and raise when the result exceeds it —
  the didactic guard against collecting a data-sized result into one
  string (the NOW/UUID stance applied to memory).
- Given a ``dictionary``, the one-document JSON, XML and TSV forms
  decode on the driver: they collect at most ``limit + 1`` undecoded
  rows, apply the row cap, and only then map the id columns to terms
  with one bounded ``Dictionary.decode_ids`` lookup (none when its
  cache has seen every id). The collect keeps the rows' order, so an
  ORDER BY needs no re-sort after the decode. The one-document CSV
  form keeps the decode join: its plain-string transform is the column
  expression it shares with the distributed sink.

Term-kind classification reads the engine's term text grammar (the
same conventions the planner's accessors use): ``<iri>``/localized
``:name`` → iri, ``"lex"@tag`` → language literal, ``"lex"^^<dt>`` /
``"lex"^^:dt`` → typed literal, ``_:label`` → bnode, bare text →
plain literal. NULL = unbound: the binding is omitted (JSON), the
field stays empty (CSV/TSV) — exactly the spec's representation.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ResultSizeExceeded(ValueError):
    """A one-document result form was asked to materialize more rows
    than its explicit ``limit`` — the driver-memory guard every
    single-string serializer here enforces. A DEDICATED type so the
    HTTP endpoint can map exactly this condition to 413 Payload Too
    Large without swallowing unrelated ``ValueError``s (dictionary
    typo guards answer 400, planner rejects answer 500)."""


def _term_kind(term: str) -> dict:
    """One decoded term string → the results-JSON binding object."""
    if term.startswith("<") and term.endswith(">"):
        return {"type": "uri", "value": term[1:-1]}
    if term.startswith("_:"):
        return {"type": "bnode", "value": term[2:]}
    if term.startswith('"'):
        # find the CLOSING quote honoring backslash escapes
        i, n = 1, len(term)
        while i < n:
            if term[i] == "\\":
                i += 2
                continue
            if term[i] == '"':
                break
            i += 1
        body = term[1:i]
        rest = term[i + 1 :]
        value = (
            body.replace("\\\\", "\x00")
            .replace('\\"', '"')
            .replace("\\n", "\n")
            .replace("\\r", "\r")
            .replace("\\t", "\t")
            .replace("\x00", "\\")
        )
        if rest.startswith("@"):
            return {
                "type": "literal",
                "value": value,
                "xml:lang": rest[1:],
            }
        if rest.startswith("^^"):
            dt = rest[2:]
            dt = dt[1:-1] if dt.startswith("<") else dt
            return {"type": "literal", "value": value, "datatype": dt}
        return {"type": "literal", "value": value}
    if term.startswith(":"):
        # localized-convention IRI (the reference's ':local' names)
        return {"type": "uri", "value": term}
    return {"type": "literal", "value": term}


def _csv_plain_cols(df: DataFrame) -> list:
    """The results-CSV plain-string transform as pure column
    expressions (shared by the distributed sink and the endpoint's
    bounded document form): strip IRI brackets, unquote + N-Triples-
    unescape literal bodies, unbound → empty."""
    # the ONE column-level N-Triples unescape (sentinel-parked escaped
    # backslashes, ECHARs, \\uXXXX/\\UXXXXXXXX) — shared with the
    # planner's STR-value derivation so a literal renders identically
    # through FILTER/STR and through this sink
    from rdfproject_msc_spark.sparql.planner import _nt_unescape

    cols = []
    for c in df.columns:
        v = F.col(c).cast("string")
        # strip <>-brackets; unquote plain/tagged/typed literal bodies
        body = F.regexp_extract(v, r'^"((?:[^"\\]|\\.)*)"', 1)
        u = _nt_unescape(body)
        unescaped = F.when(v.startswith('"'), u).otherwise(
            F.when(
                v.startswith("<") & v.endswith(">"),
                F.expr(f"substring({c}, 2, length({c}) - 2)"),
            ).otherwise(v)
        )
        cols.append(F.coalesce(unescaped, F.lit("")).alias(c))
    return cols


def write_results_csv(df: DataFrame, path: str) -> None:
    """SPARQL 1.1 results CSV (distributed text write): header = the
    projection variables, cells = plain string forms, unbound = empty.
    The engine-side transform is pure column expressions, so the write
    scales like any text sink."""
    (
        df.select(*_csv_plain_cols(df))
        .write.mode("overwrite")
        .option("header", True)
        # RFC 4180 quote-doubling (the results-CSV spec), not Spark's
        # default backslash escaping
        .option("escape", '"')
        .csv(path)
    )


def results_csv(df: DataFrame, limit: int, dictionary=None) -> str:
    """Bounded ONE-document form of the CSV sink (the endpoint's
    negotiated ``text/csv``): the same plain string forms, RFC 4180
    quoting, CRLF line ends; raises past ``limit`` rows exactly like
    ``results_json`` — data-sized exports belong to the distributed
    sink."""
    import csv
    import io

    if dictionary is not None:
        df = dictionary.decode(df)
    rows = df.select(*_csv_plain_cols(df)).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ResultSizeExceeded(
            f"result exceeds limit={limit} rows — the one-document CSV "
            "form is driver-sized; use write_results_csv for data-sized "
            "results"
        )
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerow(df.columns)
    for r in rows:
        w.writerow([r[c] for c in df.columns])
    return buf.getvalue()


def _capped_rows(
    df: DataFrame, limit: int, form: str, dictionary=None, columns=None
) -> tuple[list[str], list]:
    """The header and at most ``limit`` rows of a one-document result
    form; raises ``ResultSizeExceeded`` past ``limit``. With a
    ``dictionary``, the integral ``columns`` (default: every integral
    column) are decoded on the driver AFTER the capped collect — an id
    absent from the dictionary decodes to None (unbound), as the
    decode join leaves it NULL."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ResultSizeExceeded(
            f"result exceeds limit={limit} rows — the {form}"
        )
    dtypes = df.dtypes
    cols = [c for c, _ in dtypes]
    if dictionary is None:
        return cols, rows
    wanted = set(cols if columns is None else columns)
    dec = {
        i
        for i, (c, t) in enumerate(dtypes)
        if c in wanted and t in ("bigint", "int", "smallint", "tinyint")
    }
    terms = dictionary.decode_ids(
        {r[i] for r in rows for i in dec if r[i] is not None}
    )
    return cols, [
        tuple(terms.get(v) if i in dec else v for i, v in enumerate(r))
        for r in rows
    ]


def results_tsv(
    df: DataFrame, limit: int, dictionary=None, columns=None
) -> str:
    """Bounded ONE-document form of the TSV sink: '?var' header, cells
    = N-Triples-encoded terms verbatim (tabs/newlines are escaped IN
    the encoding, so raw separators never occur), unbound = empty;
    same ``limit`` guard and driver-side decode as ``results_json``."""
    cols, rows = _capped_rows(
        df, limit,
        "one-document TSV form is driver-sized; use write_results_tsv "
        "for data-sized results",
        dictionary, columns,
    )
    lines = ["\t".join(f"?{c}" for c in cols)]
    for r in rows:
        lines.append("\t".join("" if v is None else str(v) for v in r))
    return "\n".join(lines) + "\n"


def write_results_tsv(df: DataFrame, path: str) -> None:
    """SPARQL 1.1 results TSV (distributed write): header = '?var'
    names, cells = the N-Triples-encoded terms verbatim — for a
    lexical-style store the dictionary terms already ARE those forms,
    so this is a zero-transform sink. Quoting is DISABLED (NT-encoded
    terms escape tabs/newlines as ``\\t``/``\\n``, so raw separators
    never occur in a cell); unbound = empty field. Multi-part outputs
    carry the header per part file (the same convention as the CSV
    sink — concatenating parts needs a header strip, as with any
    distributed header-ed text sink)."""
    renamed = df.select(
        *[F.coalesce(F.col(c), F.lit("")).alias(f"?{c}") for c in df.columns]
    )
    (
        renamed.write.mode("overwrite")
        .option("header", True)
        .option("sep", "\t")
        .option("quote", "")
        .option("emptyValue", "")
        .csv(path)
    )


def results_json(
    df: DataFrame, limit: int, dictionary=None, columns=None
) -> str:
    """The W3C results-JSON document — ONE string, so driver-sized by
    construction: raises when the result exceeds ``limit`` rows (ask
    for CSV/TSV sinks for data-sized results). Given a ``dictionary``,
    the id-valued ``columns`` (default: every integral column) decode
    on the driver after the capped collect."""
    cols, rows = _capped_rows(
        df, limit,
        "JSON results format is one document (driver memory); use "
        "write_results_csv/tsv for data-sized results",
        dictionary, columns,
    )
    bindings = []
    for r in rows:
        # unbound: the binding is omitted (spec)
        bindings.append(
            {c: _term_kind(str(v)) for c, v in zip(cols, r) if v is not None}
        )
    return json.dumps(
        {"head": {"vars": cols}, "results": {"bindings": bindings}},
        ensure_ascii=False,
    )


def ask_json(answer: bool) -> str:
    """The ASK form of the results-JSON document (§ boolean results)."""
    return json.dumps({"head": {}, "boolean": bool(answer)})


def _xml_escape(s: str, attr: bool = False) -> str:
    out = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if attr:
        out = out.replace('"', "&quot;")
    return out


def results_xml(
    df: DataFrame, limit: int, dictionary=None, columns=None
) -> str:
    """The W3C sparql-results-xml document (the fourth standard format,
    completing CSV/TSV/JSON) — ONE string, so driver-sized by the same
    ``limit`` guard and driver-side decode as ``results_json``. Binding
    elements come from the shared ``_term_kind`` classification: uri /
    bnode / literal with optional ``xml:lang`` or ``datatype``."""
    cols, rows = _capped_rows(
        df, limit,
        "XML results format is one document (driver memory); use "
        "write_results_csv/tsv for data-sized results",
        dictionary, columns,
    )
    parts = [
        '<?xml version="1.0"?>',
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">',
        "<head>"
        + "".join(
            f'<variable name="{_xml_escape(c, attr=True)}"/>' for c in cols
        )
        + "</head>",
        "<results>",
    ]
    for r in rows:
        b = ["<result>"]
        for c, v in zip(cols, r):
            if v is None:
                continue  # unbound: the binding is omitted (spec)
            k = _term_kind(str(v))
            val = _xml_escape(k["value"])
            if k["type"] == "uri":
                body = f"<uri>{val}</uri>"
            elif k["type"] == "bnode":
                body = f"<bnode>{val}</bnode>"
            elif "xml:lang" in k:
                lang = _xml_escape(k["xml:lang"], attr=True)
                body = f'<literal xml:lang="{lang}">{val}</literal>'
            elif "datatype" in k:
                dt = _xml_escape(k["datatype"], attr=True)
                body = f'<literal datatype="{dt}">{val}</literal>'
            else:
                body = f"<literal>{val}</literal>"
            b.append(
                f'<binding name="{_xml_escape(c, attr=True)}">{body}'
                "</binding>"
            )
        b.append("</result>")
        parts.append("".join(b))
    parts.extend(["</results>", "</sparql>"])
    return "\n".join(parts)


def ask_xml(answer: bool) -> str:
    """The ASK form of the results-XML document."""
    return (
        '<?xml version="1.0"?>\n'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">\n'
        "<head/>\n"
        f"<boolean>{'true' if answer else 'false'}</boolean>\n"
        "</sparql>"
    )
