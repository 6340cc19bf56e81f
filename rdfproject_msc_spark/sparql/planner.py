"""BGP → DataFrame plan: the classic SPARQL-on-Spark reduction.

Each triple pattern becomes a filtered scan of the triple relation (bound
terms → pushdown-able equality filters); shared variables become equi-join
keys; repeated variables within one pattern become intra-pattern equality
filters. This is the multi-pattern join the reference *intended* but broke
(MyOpVisitorBase.java:34-46 keeps only the last pattern — SURVEY.md Q3/Q6).

Engine-level optimizer logic (everything below Catalyst is delegated):
- constant encoding does ONE bounded dictionary lookup for all terms in the
  query (never a driver-side full reverse map, cf. MyOpVisitorBase.java:56-66);
- sign routing: a bound subject selects the Positive/Negative side statically
  (MyOpVisitorBase.java:82-86) via TripleStore.table_for_subject — on a
  sign-partitioned Parquet store this is Catalyst partition pruning;
- join-order heuristic: start from the most-bound (most selective) pattern,
  then greedily extend with patterns sharing a variable (avoids cartesian
  products); Catalyst/AQE then pick physical join strategies.

At scale: every per-pattern scan carries its equality filters into the
Parquet scan (PushedFilters), so a bound-predicate pattern reads only the
row groups whose min/max admit that predicate id when the store is
predicate-clustered.
"""

from __future__ import annotations

import contextvars
import itertools
import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.operators.graph import transitive_closure
from dataclasses import replace as _dc_replace

from rdfproject_msc_spark.sparql.parser import (
    _CMP_OPS,
    BGPQuery,
    GroupPattern,
    SparqlSyntaxError,
    _visible_binds,
    _walk_groups,
    arith_expr_vars,
    strexpr_vars,
    _STRICT_MODE,
    _CLOCK as _PARSER_CLOCK,
    filter_expr_barecmp_vars,
    filter_expr_streq_literals,
    filter_expr_strfn_vars,
    filter_expr_vars,
    parse_sparql,
    path_expr_terms,
)
from rdfproject_msc_spark.store import TripleStore

_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


# The term style the CURRENT plan compiles under (set by plan_bgp from
# the parsed query's recorded style). Kind classification below is
# style-free (the conventions are disjoint), but VALUE semantics are
# not: on a "lexical" store STR()/string functions must evaluate the
# unquoted, unescaped lexical form (§17.4.2.5) and bare numeric
# comparisons must evaluate typed VALUES — raw ids are lexicographic
# ranks there, so id arithmetic would be silently meaningless.
_ACTIVE_STYLE = contextvars.ContextVar("plan_term_style", default="localized")


def _nt_unescape(c: Column) -> Column:
    """Unescape an N-Triples string body (column form of the ECHAR +
    UCHAR productions): park escaped backslashes in a sentinel FIRST
    (so '\\\\n' — literal backslash then n — survives), resolve the
    control escapes, then \\uXXXX/\\UXXXXXXXX via hex → UTF-16 code
    units (JVM charset decode — no Python). Evaluated over dictionary
    term text; the \\u path is guarded so escape-free strings pay one
    contains() only."""
    u = F.regexp_replace(c, r"\\\\", "\x00")
    for esc, ch in (
        (r"\\n", "\n"), (r"\\t", "\t"), (r"\\r", "\r"),
        (r"\\b", "\b"), (r"\\f", "\f"), (r'\\"', '"'), (r"\\'", "'"),
    ):
        u = F.regexp_replace(u, esc, ch)

    def _decode_unit(e: Column) -> Column:
        # one split element, possibly starting with \uXXXX or \UXXXXXXXX
        hex4 = F.substring(e, 3, 4)
        hex8 = F.substring(e, 3, 8)
        cp = F.conv(hex8, 16, 10).cast("long")
        # astral code point → UTF-16 surrogate pair, else the unit itself
        hi = (F.lit(0xD800) + ((cp - 0x10000) / 1024).cast("long")).cast("long")
        lo = (F.lit(0xDC00) + ((cp - 0x10000) % 1024)).cast("long")
        pair = F.when(
            cp > 0xFFFF,
            F.concat(
                F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")
            ),
        ).otherwise(F.lpad(F.hex(cp), 4, "0"))
        return (
            F.when(
                e.rlike(r"^\\u[0-9A-Fa-f]{4}"),
                F.concat(
                    F.decode(F.unhex(hex4), "UTF-16BE"),
                    F.substring(e, 7, F.length(e)),
                ),
            )
            .when(
                e.rlike(r"^\\U[0-9A-Fa-f]{8}"),
                F.concat(
                    F.decode(F.unhex(pair), "UTF-16BE"),
                    F.substring(e, 11, F.length(e)),
                ),
            )
            .otherwise(e)
        )

    with_u = F.array_join(
        F.transform(F.split(u, r"(?=\\[uU])"), _decode_unit), ""
    )
    u = F.when(u.contains("\\u") | u.contains("\\U"), with_u).otherwise(u)
    return F.regexp_replace(u, "\x00", "\\\\")


def _lex_str_value(idc: Column, t: Column) -> Column:
    """STR(?x) per §17.4.2.5 over LEXICAL-form term text: an IRI's
    codepoints without the angle brackets, a literal's unquoted +
    unescaped lexical form (tag/datatype dropped), a blank node a type
    ERROR (NULL — STR is defined on IRIs and literals only), unbound
    NULL. The localized convention keeps raw term text instead (the
    reference's model, where plain literals are stored bare)."""
    body = F.regexp_extract(t, r'^"((?:[^"\\]|\\.)*)"', 1)
    return (
        F.when(idc.isNull(), F.lit(None).cast("string"))
        .when(t.isNull(), idc.cast("string"))
        .when(t.startswith("<") & t.endswith(">"),
              F.substring(t, 2, F.length(t) - 2))
        .when(t.startswith('"'), _nt_unescape(body))
        .when(t.startswith("_:"), F.lit(None).cast("string"))
        .otherwise(t)
    )


def _str_of(idc: Column, t: Column) -> Column:
    """The STR value of a term under the ACTIVE style: localized = the
    term text (dictionary-absent id = integer literal, decimal form);
    lexical = the §17.4.2.5 derivation above."""
    if _ACTIVE_STYLE.get() == "lexical":
        return _lex_str_value(idc, t)
    return F.when(idc.isNotNull(), F.coalesce(t, idc.cast("string")))


_SV = "__sv"  # suffix of the dictionary-side derived STR-value column


def _dict_relation(dictionary: "Dictionary", id_name: str, term_name: str):
    """The dictionary side of a term attach, columns renamed for the
    join. Under the LEXICAL style it carries a third column
    ``term_name + '__sv'`` holding the §17.4.2.5 STR value, derived on
    the DICTIONARY side of the join (|dict| rows) — string-function
    leaves read it instead of re-deriving per solution row (solutions
    ≥ dict always; the unescape chain must not run per output row)."""
    if _ACTIVE_STYLE.get() == "lexical":
        # the dictionary derives the STR values once (or the ingest
        # persisted them) — read them instead of re-building the
        # unescape chain on every attach
        sv = dictionary.sv_df
        # ids are long like Dictionary.df's; an already-long id stays
        # a bare column, so the attach still matches a cached sv_df
        sid = F.col("id")
        if dict(sv.dtypes)["id"] != "bigint":
            sid = sid.cast("long").alias("id")
        d = sv.select(sid, "term", F.col("__sv").alias(term_name + _SV))
    else:
        d = dictionary.df
    d = d.withColumnRenamed("id", id_name).withColumnRenamed(
        "term", term_name
    )
    return F.broadcast(d) if dictionary.broadcast_hint else d


def _sv_or(termmap: dict[str, str], var: str, fallback: Column) -> Column:
    """The STR-value column for an attached term: the dictionary-side
    derived column under lexical style, the caller's expression
    otherwise."""
    if _ACTIVE_STYLE.get() == "lexical":
        return F.col(termmap[var] + _SV)
    return fallback


# Term-TEXT grammar of the dictionary (see SPARQL.md), covering BOTH
# storage conventions at once (they are disjoint, so no style flag is
# needed): an IRI is stored localized with a leading ':' (reference
# convention) OR as the full '<iri>' lexical form (r9 built
# dictionaries); a blank node as '_:label'; a language-tagged literal as
# '"lex"@tag'; a non-integer typed literal as '"lex"^^:dtype' (localized)
# OR '"lex"^^<datatype-iri>' (lexical); any other text is a plain literal
# (xsd:string — quoted in lexical stores, bare in localized ones: both
# fall through to the same branch). An id with NO dictionary entry is an
# INTEGER literal (the typed-int data model; inert in lexical stores,
# where every id has an entry). All kinds are decidable by column
# expressions over (id, term) — LANG/DATATYPE/isIRI never need per-row
# Python, and they evaluate against the DICTIONARY (|dict| rows), not
# per solution.
_TAGGED_RE = '"@[A-Za-z][A-Za-z0-9-]*$'
_TYPED_RE = r'"\^\^(?::\w+|<[^>]*>)$'
# the datatype's LOCAL name from either convention: the final segment
# containing no '/', '#', ':' — ':date' and '<…XMLSchema#date>' both
# yield 'date' (the parser's _localize_iri rule, as a regex)
_TYPED_LOCAL_RE = r'"\^\^(?::|<[^>]*?)([^/#:>]+)>?$'


def _is_tagged(t: Column) -> Column:
    return t.startswith('"') & t.rlike(_TAGGED_RE)


def _is_typed(t: Column) -> Column:
    return t.startswith('"') & t.rlike(_TYPED_RE)


def _is_ref(t: Column) -> Column:
    """IRI or blank node (the non-literal kinds), either convention."""
    return t.startswith(":") | t.startswith("_:") | t.startswith("<")


def _term_lang(idc: Column, t: Column) -> Column:
    """LANG(?x) (§17.4.2.6): the tag for tagged literals, "" for every
    other literal (incl. integer literals = dictionary-absent ids), and
    an ERROR (NULL) for IRIs/blanks/unbound — 3VL drops those rows."""
    return (
        F.when(idc.isNull(), F.lit(None).cast("string"))
        .when(t.isNull(), F.lit(""))
        .when(_is_ref(t), F.lit(None).cast("string"))
        .when(
            _is_tagged(t),
            F.lower(F.regexp_extract(t, '"@([A-Za-z][A-Za-z0-9-]*)$', 1)),
        )
        .otherwise(F.lit(""))
    )


def _term_datatype(idc: Column, t: Column) -> Column:
    """DATATYPE(?x) (§17.4.2.7), localized: ':integer' for integer
    literals, ':langString' (rdf:langString) for tagged, the declared
    ':dtype' for typed, ':string' for plain literals; ERROR for
    IRIs/blanks/unbound."""
    return (
        F.when(idc.isNull(), F.lit(None).cast("string"))
        .when(t.isNull(), F.lit(":integer"))
        .when(_is_ref(t), F.lit(None).cast("string"))
        .when(_is_tagged(t), F.lit(":langString"))
        .when(
            _is_typed(t),
            # DATATYPE() output is the LOCALIZED name under either
            # storage convention, so oracle/test expectations are
            # style-independent
            F.concat(F.lit(":"), F.regexp_extract(t, _TYPED_LOCAL_RE, 1)),
        )
        .otherwise(F.lit(":string"))
    )


# lexical extractors for typed-value comparisons (§17.3 operand mapping):
# anchored to the FULL canonical term text, so a non-matching kind (IRI,
# tagged/plain literal, other datatype, malformed lexical) extracts ""
# and derives NULL — SPARQL's type ERROR, dropped by 3VL
# each datatype matches its localized form OR the full-IRI lexical form
# (r9 built dictionaries) — '…#date' / '…/date' / '…:date' inside <…>
def _dt_alt(local: str) -> str:
    return rf"(?::{local}|<[^>]*[/#:]{local}>)"


# integer datatypes included: on LEXICAL stores integers are real
# dictionary terms ('"42"^^<…#integer>'), not dictionary-absent ids —
# without these alternatives a typed-value comparison would silently
# type-error every integer literal there. Localized dictionaries never
# contain integer-datatype terms (they collapse to ids at ingest), so
# the alternatives are inert under that convention.
_NUM_LEX_RE = (
    r'^"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"\^\^'
    rf"(?:{_dt_alt('decimal')}|{_dt_alt('double')}|{_dt_alt('float')}"
    rf"|{_dt_alt('integer')}|{_dt_alt('int')}|{_dt_alt('long')}"
    rf"|{_dt_alt('short')}|{_dt_alt('byte')})$"
)
_DATE_LEX_RE = rf'^"(\d{{4}}-\d{{2}}-\d{{2}})"\^\^{_dt_alt("date")}$'
_DT_LEX_RE = (
    r'^"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?)"\^\^'
    rf'{_dt_alt("dateTime")}$'
)


def _term_numeric(idc: Column, t: Column) -> Column:
    """Numeric VALUE of a term: a dictionary-absent id IS an integer
    literal (its own value); a decimal/double/float typed literal parses
    its lexical form; every other kind is a type ERROR (NULL). Evaluated
    over the dictionary term text — |dict| rows, never per solution."""
    lex = F.regexp_extract(t, _NUM_LEX_RE, 1)
    return (
        F.when(idc.isNull(), F.lit(None).cast("double"))
        .when(t.isNull(), idc.cast("double"))
        .when(lex != F.lit(""), lex.cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


def _value_order_keys(idc: Column, t: Column, sv: Column, desc: bool):
    """§15.1 value-ordering key tuple for a plain ``ORDER BY ?v`` on a
    LEXICAL store: (term kind, numeric value, derived STR value).
    Kind rank is §15.1.1's order — unbound < blank nodes < IRIs <
    literals; within literals, numeric literals sort by typed value and
    precede the non-numerics, which sort by the §17.4.2.5 STR
    derivation (codepoint order — respects §15.1's string, boolean and
    dateTime comparisons; pairs the spec leaves incomparable take any
    consistent extension, which this is). DESC reverses every
    component, so the total order reverses exactly."""
    kind = (
        F.when(idc.isNull(), F.lit(0))
        .when(F.coalesce(t.startswith("_:"), F.lit(False)), F.lit(1))
        .when(F.coalesce(t.startswith("<"), F.lit(False)), F.lit(2))
        .otherwise(F.lit(3))
    )
    num = _term_numeric(idc, t)
    if desc:
        return [kind.desc(), num.desc_nulls_first(), sv.desc()]
    return [kind.asc(), num.asc_nulls_last(), sv.asc()]


def _term_temporal(t: Column, kind: str) -> Column:
    """Date / dateTime VALUE of a term; non-matching kinds → NULL (type
    ERROR). The lexical forms carry no timezone (parser-enforced), so the
    cast is session-timezone-stable on both engines."""
    # try_cast, not to_date/to_timestamp: the lexical regex checks SHAPE
    # only — "2020-13-45" passes it, and under ANSI an invalid date
    # would THROW mid-query instead of being the SPARQL type error
    # (NULL) it must be
    if kind == "date":
        lex = F.regexp_extract(t, _DATE_LEX_RE, 1)
        return F.when(lex != F.lit(""), lex.try_cast("date"))
    lex = F.regexp_extract(t, _DT_LEX_RE, 1)
    return F.when(lex != F.lit(""), lex.try_cast("timestamp"))


# plain-literal lexical forms castable to numeric / date (§17.5 string
# rows of the cast table). ANSI mode makes an unguarded string cast THROW
# on bad input, so every cast below is reached only under an rlike guard
# (CaseWhen branches evaluate lazily in codegen).
_PLAIN_NUM_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"
_PLAIN_INT_RE = r"^[+-]?\d+$"
_PLAIN_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_PLAIN_DT_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?$"


def _term_cast(kind: str, idc: Column, t: Column) -> Column:
    """xsd:T(?x) constructor cast (§17.5) over the term text: evaluates
    the cast-table rows this data model can represent — numeric literals
    (integer = dictionary-absent id, decimal/double/float = typed
    lexical), plain (xsd:string) literals with a valid lexical form, and
    date/dateTime typed literals. Every other (kind, target) pair is a
    cast ERROR → NULL → the BIND target is unbound / the sort key is
    NULL. `string` is not handled here (it is exactly STR, lowered as a
    termfn_expr). Also hosts the §17.4.5 date/time component accessors
    (YEAR/MONTH/DAY over date OR dateTime, HOURS/MINUTES/SECONDS over
    dateTime) and the §17.4.4 numeric rounders (FLOOR/CEIL/ROUND over
    the numeric VALUE) — they share the cast lowering because each is a
    typed-VALUE-of-the-term-text computation with ERROR → NULL."""
    plain = t.isNotNull() & ~_is_ref(t) & ~_is_tagged(t) & ~_is_typed(t)
    if kind in ("year", "month", "day"):
        # valid on BOTH xsd:date and xsd:dateTime typed literals (the
        # try_cast inside _term_temporal rejects shape-valid nonsense
        # like "2020-13-45"); every other kind is a type ERROR
        fn = {"year": F.year, "month": F.month, "day": F.dayofmonth}[kind]
        return F.coalesce(
            fn(_term_temporal(t, "date")), fn(_term_temporal(t, "dt"))
        ).cast("long")
    if kind in ("hours", "minutes"):
        fn = F.hour if kind == "hours" else F.minute
        return fn(_term_temporal(t, "dt")).cast("long")
    if kind == "seconds":
        # §17.4.5.6 returns xsd:decimal INCLUDING the fraction — extract
        # the seconds field from the lexical (F.second truncates), but
        # only for calendar-VALID timestamps (the try_cast guard)
        lex = F.regexp_extract(
            t, r'^"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)"\^\^:dateTime$', 1
        )
        return F.when(
            _term_temporal(t, "dt").isNotNull() & (lex != F.lit("")),
            lex.cast("double"),
        )
    if kind in ("floor", "ceil", "round"):
        # §17.4.4.1-3 over the numeric VALUE (integer literal = the id,
        # decimal/double/float = the typed lexical; plain literals are
        # NOT numeric → type ERROR, unlike the xsd:double cast).
        # ROUND ties go toward +INF per spec — floor(x + 0.5), NOT
        # Spark's HALF_UP (which sends -2.5 to -3; spec wants -2)
        v = _term_numeric(idc, t)
        if kind == "floor":
            return F.floor(v).cast("double")
        if kind == "ceil":
            return F.ceil(v).cast("double")
        return F.floor(v + F.lit(0.5)).cast("double")
    if kind == "strlen":
        # STRLEN of the STR value: localized = term-text length (or the
        # decimal-form length of an integer literal); lexical = length
        # of the derived unquoted lexical form; unbound → NULL
        return F.length(_str_of(idc, t)).cast("long")
    if kind in ("date", "dateTime"):
        typed = _term_temporal(t, "date" if kind == "date" else "dt")
        if kind == "date":
            from_plain = F.when(
                plain & t.rlike(_PLAIN_DATE_RE), F.to_date(t)
            )
        else:
            from_plain = F.when(
                plain & t.rlike(_PLAIN_DT_RE), F.to_timestamp(t)
            )
        return F.coalesce(typed, from_plain)
    # numeric targets: the typed-value derivation covers integer literals
    # and decimal/double/float lexicals; plain literals cast when their
    # lexical form is numeric (string→integer additionally requires an
    # INTEGER lexical per the XPath constructor rules, while
    # decimal→integer truncates toward zero — the double→long cast)
    num = _term_numeric(idc, t)
    if kind == "integer":
        # try_cast: a 30-digit lexical passes the shape regex but
        # overflows long — ANSI would throw; the cast ERROR is NULL
        from_plain = F.when(
            plain & t.rlike(_PLAIN_INT_RE), t.try_cast("long")
        )
        return F.coalesce(num.try_cast("long"), from_plain)
    from_plain = F.when(
        plain & t.rlike(_PLAIN_NUM_RE), t.try_cast("double")
    )
    return F.coalesce(num, from_plain)


def _compile_strexpr(node, idcol, termcol, colmap=None) -> Column:
    """String-manipulation expression AST (parser `_parse_str_expr`) →
    Column. ``idcol(v)`` returns the variable's id column; ``termcol(v)``
    its attached dictionary term column, or None when the variable is
    ALREADY a string (a string-valued BIND target — its column is its
    own STR value). All functions are JVM expressions (substring /
    locate / regexp_replace / concat) and propagate NULL — SPARQL's
    expression-error semantics."""
    k = node[0]
    if k == "slit":
        return F.lit(node[1])
    if k in ("sof", "svar"):
        v = node[1]
        tc = termcol(v)
        if tc is None:
            return idcol(v)
        idc = idcol(v)
        if _ACTIVE_STYLE.get() == "lexical":
            # termcol() under the lexical style yields the
            # dictionary-side DERIVED STR value — consume it verbatim
            # (re-deriving would corrupt values that merely look like
            # terms, e.g. a literal whose value starts with '_:')
            return tc
        # STR(?x): term text; dictionary-absent id = integer literal
        # whose STR is its decimal form
        return F.when(
            idc.isNotNull(), F.coalesce(tc, idc.cast("string"))
        )
    if k == "ucase":
        return F.upper(_compile_strexpr(node[1], idcol, termcol, colmap))
    if k == "lcase":
        return F.lower(_compile_strexpr(node[1], idcol, termcol, colmap))
    if k == "encuri":
        # ENCODE_FOR_URI (§17.4.3.11) = RFC 3986 percent-encoding with
        # the unreserved set [A-Za-z0-9._~-] kept. url_encode is the
        # form-encoding variant, so fix its three divergences: space is
        # '+' there but must be %20, '~' is escaped there but is
        # unreserved, '*' is kept there but must be %2A. url_encode
        # never emits a bare '+' or '*' for other inputs (both escape),
        # so the textual replaces cannot collide.
        s = F.url_encode(_compile_strexpr(node[1], idcol, termcol, colmap))
        s = F.replace(s, F.lit("+"), F.lit("%20"))
        s = F.replace(s, F.lit("%7E"), F.lit("~"))
        return F.replace(s, F.lit("*"), F.lit("%2A"))
    if k in ("strlang", "strdt"):
        # STRLANG/STRDT (§17.4.2.8-9): literal TERM text in the
        # dictionary's canonical form. On a LEXICAL store the STR value
        # is the UNESCAPED lexical form while dictionary terms carry
        # NT-escaped source bytes — re-escape the constructed body so
        # the term joins back to dictionary entries (minimal NT
        # escaping, the Turtle-ingest canonical set). Localized bodies
        # are stored raw between quotes: no escaping. NULL input →
        # NULL (expression error).
        s = _compile_strexpr(node[1], idcol, termcol, colmap)
        if _ACTIVE_STYLE.get() == "lexical":
            # literal (non-regex) replaces; same minimal set the
            # Turtle ingest canonicalizes to (sources/turtle.py)
            for ch, esc in (("\\", "\\\\"), ('"', '\\"'),
                            ("\n", "\\n"), ("\r", "\\r")):
                s = F.replace(s, F.lit(ch), F.lit(esc))
        suffix = f'"@{node[2]}' if k == "strlang" else f'"^^{node[2]}'
        return F.concat(F.lit('"'), s, F.lit(suffix))
    if k == "iri":
        # IRI/URI (§17.4.2.6): IRI TERM text in the style captured at
        # parse — localized (the way every constant IRI in a query is:
        # last '/'-segment, leading ':') or the lexical '<iri>' form —
        # so the constructed term matches dictionary entries under
        # either convention
        s = _compile_strexpr(node[1], idcol, termcol, colmap)
        if len(node) == 3 and node[2] == "lexical":
            return F.when(s.startswith("<"), s).otherwise(
                F.concat(F.lit("<"), s, F.lit(">"))
            )
        seg = F.substring_index(s, "/", -1)
        return F.when(seg.startswith(":"), seg).otherwise(
            F.concat(F.lit(":"), seg)
        )
    if k == "substr":
        c = _compile_strexpr(node[1], idcol, termcol, colmap)
        start, ln = node[2], node[3]
        if ln is None:
            return F.substring(c, F.lit(start), F.length(c))
        return F.substring(c, F.lit(start), F.lit(ln))
    if k in ("strbefore", "strafter"):
        c, sep = _compile_strexpr(node[1], idcol, termcol, colmap), node[2]
        if sep == "":
            # §17.4.3.12-13 empty separator: "" before, the full
            # string after (NULL input still NULL)
            return (
                F.when(c.isNotNull(), F.lit("")) if k == "strbefore" else c
            )
        p = F.locate(sep, c)
        hit = (
            F.substring(c, F.lit(1), p - 1)
            if k == "strbefore"
            else F.substring(c, p + len(sep), F.length(c))
        )
        # no match → "" (§17.4.3.12-13); NULL input → NULL
        return F.when(p > 0, hit).otherwise(
            F.when(c.isNotNull(), F.lit(""))
        )
    if k == "replace":
        _, a, pat, rep, flags = node
        return F.regexp_replace(
            _compile_strexpr(a, idcol, termcol, colmap),
            ("(?i)" if flags else "") + pat,
            rep,
        )
    if k == "hash":
        # §17.4.4.10-14: lowercase hex digest of the UTF-8 string
        _, fn, a = node
        c = _compile_strexpr(a, idcol, termcol, colmap)
        if fn == "md5":
            return F.md5(c.cast("binary"))
        if fn == "sha1":
            return F.sha1(c.cast("binary"))
        return F.sha2(c.cast("binary"), int(fn[3:]))
    if k == "scoalesce":
        # string COALESCE (§17.4.1.3): first non-error (non-NULL) value
        return F.coalesce(
            *[_compile_strexpr(a, idcol, termcol, colmap) for a in node[1]]
        )
    if k == "sif":
        # string IF (§17.4.1.2): guarded two-branch when with NO
        # otherwise — an ERROR condition errors the whole IF (NULL)
        if colmap is None:
            raise SparqlSyntaxError(
                "IF conditions are not supported in this string context"
            )
        cond = _compile_filter(node[1], colmap, None, None)
        return F.when(
            cond, _compile_strexpr(node[2], idcol, termcol, colmap)
        ).when(~cond, _compile_strexpr(node[3], idcol, termcol, colmap))
    # concat: NULL if ANY argument is NULL — SPARQL error propagation,
    # exactly Spark's concat
    return F.concat(
        *[_compile_strexpr(a, idcol, termcol, colmap) for a in node[1]]
    )


def _termis_expr(kind: str, idc: Column, t: Column) -> Column:
    """isIRI/isBlank/isLiteral/isNumeric (§17.4.2.1-4): boolean over the
    term kind; unbound → ERROR (NULL)."""
    if kind == "iri":
        core = F.coalesce(
            t.startswith(":") | t.startswith("<"), F.lit(False)
        )
    elif kind == "blank":
        core = F.coalesce(t.startswith("_:"), F.lit(False))
    elif kind == "literal":
        core = t.isNull() | ~_is_ref(t)
    else:  # numeric: integer literals are the engine's only numeric kind
        core = t.isNull()
    return F.when(idc.isNull(), F.lit(None).cast("boolean")).otherwise(core)


def _termfn_implied(fn: str, t: Column, value: str) -> Column | None:
    """A redundant NULL-INTOLERANT predicate implied by a positive
    accessor equality — conjoined at positive polarity so Catalyst can
    rewrite the dictionary left join to inner and push the match into
    the dictionary scan (same strategy as the strfn leaves). None when
    the equality admits dictionary-absent ids (no term predicate
    exists)."""
    if fn == "lang":
        # every solution with LANG = "tag" (nonempty) has a term ending
        # '"@tag' — the quote anchors the full tag
        return F.lower(t).endswith('"@' + value) if value else None
    if value == ":langString":
        return t.rlike(_TAGGED_RE)
    if value not in (":integer", ":string"):
        # implied superset predicate covering BOTH conventions: the term
        # ends '^^:dtype' (localized) or '…local>' under '^^<…>' (lexical)
        local = value[1:]
        return t.endswith('"^^' + value) | t.rlike(
            rf'"\^\^<[^>]*?{re.escape(local)}>$'
        )
    return None


def _compile_filter(
    node,
    colmap: dict[str, str],
    termmap: dict[str, str] | None = None,
    litids: dict[str, int] | None = None,
    positive: bool = True,
) -> Column:
    """FILTER expression AST → Column predicate.

    Spark's three-valued NULL logic coincides with SPARQL 1.1 §17.2's
    error-propagation for filters over possibly-unbound variables:
    false && error = false, true || error = true, !error = error, and a
    solution is kept only when the expression is plain true — so NULL
    (unbound) comparisons drop rows at the top level and fail LeftJoin
    conditions, exactly as SPARQL's type errors do. No special-casing.

    String-function leaves (§17.4.3) compile over the dictionary term
    column `termmap` maps the variable to (attached by plan_bgp); they are
    plain column predicates, so they compose with the connectives under
    the same three-valued logic."""
    if isinstance(node[1], str) and node[1] in _CMP_OPS:  # comparison leaf
        var, op, rhs = node
        if (
            _ACTIVE_STYLE.get() == "lexical"
            and rhs[0] == "num"
            and termmap is not None
            and var in termmap
            and not colmap[var].startswith("vb_")
        ):
            # lexical store: ids are lexicographic ranks, so a bare
            # numeric comparison evaluates the variable's typed numeric
            # VALUE from the attached term text (§17.3) — integer /
            # decimal / double / float literals match, every other kind
            # is a type ERROR (NULL → drop). Variables WITHOUT a term
            # attach (BIND targets, aggregate aliases) hold computed
            # values and compare directly below.
            return _OPS[op](
                _term_numeric(F.col(colmap[var]), F.col(termmap[var])),
                F.lit(float(rhs[1])),
            )
        rhs_col = F.lit(rhs[1]) if rhs[0] == "num" else F.col(colmap[rhs[1]])
        return _OPS[op](F.col(colmap[var]), rhs_col)
    if len(node) == 4 and node[0] == "cmp":  # arithmetic comparison leaf
        _, l_expr, op, r_expr = node
        # lexical store: pattern-var operands evaluate their typed
        # numeric VALUE (r10 ADVICE — raw ids are lexicographic ranks
        # there, so id arithmetic would be silently meaningless); the
        # term columns were attached by the barecmp collector. Computed
        # (BIND-target / aggregate) columns hold values and compare
        # directly, same rule as the bare leaf above.
        tm = termmap if _ACTIVE_STYLE.get() == "lexical" else None
        return _OPS[op](
            _compile_arith(l_expr, colmap, tm),
            _compile_arith(r_expr, colmap, tm),
        )
    if len(node) == 2 and node[0] == "bound":  # BOUND leaf (§17.4.1.1)
        # unbound maps to plain FALSE (not error): exactly isNotNull —
        # so !BOUND(?z) after OPTIONAL is negation-as-failure
        return F.col(colmap[node[1]]).isNotNull()
    if len(node) == 4 and node[0] == "in":  # [NOT] IN leaf (§17.4.1.9-10)
        # an In predicate over constants — Catalyst pushes it into the
        # scans like the VALUES compilation; NOT IN under 3VL drops
        # NULL (unbound) rows, matching SPARQL's error propagation
        _, var, vals, negated = node
        pred = F.col(colmap[var]).isin(list(vals))
        return ~pred if negated else pred
    if len(node) == 4 and node[0] == "strin":  # term IN-list leaf
        # `?x [NOT] IN ("a", "b")`: the literals resolved to ids at plan
        # time (shared bounded lookup with term equality); terms absent
        # from the dictionary appear in no triple and drop out of the id
        # list — same constant-folding as the streq leaf, same 3VL
        # alignment (unbound → NULL → drop / null-extend).
        _, var, texts, negated = node
        col = F.col(colmap[var])
        ids = [
            (litids or {})[t] for t in texts if t in (litids or {})
        ]
        if not ids:
            return col.isNotNull() if negated else F.lit(False)
        pred = col.isin(ids)
        return ~pred if negated else pred
    if len(node) == 4 and node[0] == "streq":  # term-equality leaf
        # FILTER(?x = "term") — the most common real-world FILTER form.
        # The literal resolved to an id at plan time (one bounded lookup,
        # `litids`), so this compiles to a PUSHDOWN-ABLE id equality — no
        # dictionary join, no per-row string work. A literal ABSENT from
        # the dictionary appears in no triple (the dictionary is total
        # over the graph's terms by construction), so the comparison
        # constant-folds: `=` is FALSE everywhere; `!=` holds exactly
        # where the variable is bound (unbound → SPARQL error → drop,
        # Spark NULL → drop — same 3VL alignment as every other leaf).
        _, var, text, negated = node
        col = F.col(colmap[var])
        tid = (litids or {}).get(text)
        if tid is None:
            return col.isNotNull() if negated else F.lit(False)
        return (col != F.lit(tid)) if negated else (col == F.lit(tid))
    if len(node) == 5 and node[0] == "strfn":  # string-function leaf
        _, fn, var, pattern, flags = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "string functions are not supported in this FILTER context"
            )
        # lexical style: evaluate over the dictionary-side derived STR
        # value (unquoted lexical form / unbracketed IRI), not raw text
        col = _sv_or(termmap, var, F.col(termmap[var]))
        if fn == "regex":
            # SPARQL REGEX is a partial match, exactly rlike's semantics;
            # the "i" flag becomes an inline (?i) — the one regex dialect
            # feature shared by every engine this pattern may run against
            return col.rlike(("(?i)" if flags else "") + pattern)
        if fn == "contains":
            return col.contains(pattern)
        if fn == "strstarts":
            return col.startswith(pattern)
        return col.endswith(pattern)
    if len(node) == 5 and node[0] == "strlen":  # STRLEN comparison leaf
        _, var, op, num, has_str = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "string functions are not supported in this FILTER context"
            )
        if _ACTIVE_STYLE.get() == "lexical":
            # lexical store: both forms measure the dictionary-side
            # derived STR value (blanks are type errors → NULL → drop)
            return _OPS[op](F.length(F.col(termmap[var] + _SV)), F.lit(num))
        if has_str:
            # STRLEN(STR(?x)): every term has a lexical form — a
            # dictionary-absent id measures its decimal STR (r8)
            idc = F.col(colmap[var])
            sval = F.when(
                idc.isNotNull(),
                F.coalesce(F.col(termmap[var]), idc.cast("string")),
            )
            return _OPS[op](F.length(sval), F.lit(num))
        # bare STRLEN(?x): term length, dictionary-side; NULL term
        # (unbound / integer literal) → type error → NULL → drop, and
        # the predicate is null-intolerant so Catalyst inner-izes the
        # dict join and pushes the length test into the dictionary scan
        return _OPS[op](F.length(F.col(termmap[var])), F.lit(num))
    if len(node) == 6 and node[0] == "strcase":  # UCASE/LCASE equality
        _, fn, var, text, negated, has_str = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "string functions are not supported in this FILTER context"
            )
        if _ACTIVE_STYLE.get() == "lexical":
            # lexical store: case-fold the dictionary-side derived STR
            # value for both forms (blanks are type errors → NULL → drop)
            sval = F.col(termmap[var] + _SV)
        elif has_str:
            # UCASE/LCASE(STR(?x)): STR of a dictionary-absent id is its
            # decimal form (r8 — the DuckDB fuzz caught the != form
            # dropping integer literals); case-folding is identity on
            # digits, so the coalesce gives them the right compare value
            sval = F.coalesce(
                F.col(termmap[var]), F.col(colmap[var]).cast("string")
            )
        else:
            # bare UCASE/LCASE(?x): non-string terms (absent ids) are a
            # type error → NULL → drop, keeping the predicate
            # null-intolerant so the dict join inner-izes
            sval = F.col(termmap[var])
        folded = (F.upper if fn == "ucase" else F.lower)(sval)
        return (
            (folded != F.lit(text)) if negated else (folded == F.lit(text))
        )
    if len(node) == 4 and node[0] == "strexprcmp":
        # string-expression comparison (r7): SUBSTR/STRBEFORE/STRAFTER/
        # REPLACE/CONCAT/UCASE/LCASE chains against a string literal —
        # compiled over the attached term columns, codepoint comparison
        # (Spark binary string order = DuckDB default collation)
        _, tree, op, text = node
        missing = [
            v
            for v in strexpr_vars(tree)
            if termmap is None or v not in termmap
        ]
        if missing:
            raise SparqlSyntaxError(
                "string functions are not supported in this FILTER context"
            )
        lexical = _ACTIVE_STYLE.get() == "lexical"
        sc = _compile_strexpr(
            tree,
            lambda v: F.col(colmap[v]),
            # under lexical style termcol() yields the dictionary-side
            # derived STR-value column (sof consumes it verbatim)
            lambda v: F.col(termmap[v] + _SV if lexical else termmap[v]),
            colmap,
        )
        return _OPS[op](sc, F.lit(text))
    if len(node) == 6 and node[0] == "castcmp":  # explicit-cast cmp (r7)
        _, kind, var, op, rk, rv = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "cast comparisons are not supported in this FILTER context"
            )
        val = _term_cast(kind, F.col(colmap[var]), F.col(termmap[var]))
        rhs = (
            F.lit(rv)
            if rk == "num"
            else (F.to_date(F.lit(rv)) if rk == "date" else F.to_timestamp(F.lit(rv)))
        )
        return _OPS[op](val, rhs)
    if len(node) == 5 and node[0] == "valcmp":  # typed-VALUE comparison
        # ?d >= "2020-02-15"^^xsd:date / ?p > 19.5 (§17.3 operand
        # mapping): the variable's VALUE derives from the dictionary term
        # text (numeric: integer literals are the id itself, decimal/
        # double/float parse their lexical form; date/dateTime parse the
        # ISO lexical); non-matching kinds are type ERRORS → NULL → drop
        _, var, op, kind, value = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "typed-value comparisons are not supported in this "
                "FILTER context"
            )
        idc, tc = F.col(colmap[var]), F.col(termmap[var])
        if kind == "num":
            pred = _OPS[op](_term_numeric(idc, tc), F.lit(float(value)))
            # no implied term predicate: integer literals (dictionary-
            # absent, NULL term) are legitimate matches, so the dict
            # join must stay LEFT
            return pred
        rhs = (
            F.to_date(F.lit(value))
            if kind == "date"
            else F.to_timestamp(F.lit(value))
        )
        pred = _OPS[op](_term_temporal(tc, kind), rhs)
        if positive:
            # every date/dateTime match HAS a typed term — conjoin the
            # null-intolerant suffix test so Catalyst inner-izes the
            # dictionary join and pushes it into the dict scan; superset
            # covering BOTH term conventions (localized ^^:date and
            # lexical ^^<…#date>)
            local = "date" if kind == "date" else "dateTime"
            pred = pred & (
                tc.endswith(f'"^^:{local}')
                | tc.rlike(rf'"\^\^<[^>]*[/#:]{local}>$')
            )
        return pred
    if len(node) == 5 and node[0] == "termfn":  # LANG/DATATYPE leaf
        _, fn, var, value, negated = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "term accessors are not supported in this FILTER context"
            )
        idc, tc = F.col(colmap[var]), F.col(termmap[var])
        ex = _term_lang(idc, tc) if fn == "lang" else _term_datatype(idc, tc)
        pred = (ex != F.lit(value)) if negated else (ex == F.lit(value))
        if positive and not negated:
            # at positive polarity NULL (SPARQL error) and FALSE both
            # drop the row, so conjoining the implied null-intolerant
            # term predicate is sound — and it lets Catalyst inner-ize
            # the dictionary join and push the match into the dict scan
            imp = _termfn_implied(fn, tc, value)
            if imp is not None:
                pred = pred & imp
        return pred
    if len(node) == 3 and node[0] == "langmatches":
        _, var, rng = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "term accessors are not supported in this FILTER context"
            )
        idc, tc = F.col(colmap[var]), F.col(termmap[var])
        lang = _term_lang(idc, tc)
        if rng == "*":
            pred = lang != F.lit("")
        else:
            pred = (lang == F.lit(rng)) | lang.startswith(rng + "-")
        if positive:
            pred = pred & tc.rlike(_TAGGED_RE)  # survivors are tagged
        return pred
    if len(node) == 3 and node[0] == "termis":  # isIRI/isLiteral/... leaf
        _, kind, var = node
        if termmap is None or var not in termmap:
            raise SparqlSyntaxError(
                "term accessors are not supported in this FILTER context"
            )
        idc, tc = F.col(colmap[var]), F.col(termmap[var])
        pred = _termis_expr(kind, idc, tc)
        if positive and kind == "iri":
            pred = pred & (tc.startswith(":") | tc.startswith("<"))
        elif positive and kind == "blank":
            pred = pred & tc.startswith("_:")
        return pred
    if node[0] == "not":
        # under negation NULL (error) and FALSE diverge (!error = error,
        # !false = true) — the subtree must compile the PRECISE 3VL
        # expression, no implied-predicate conjuncts
        return ~_compile_filter(node[1], colmap, termmap, litids, False)
    a = _compile_filter(node[1], colmap, termmap, litids, positive)
    b = _compile_filter(node[2], colmap, termmap, litids, positive)
    return (a & b) if node[0] == "and" else (a | b)


def _compile_arith(
    node, colmap: dict[str, str], termmap: dict[str, str] | None = None
) -> Column:
    """BIND arithmetic AST → Column (long arithmetic over encoded ids;
    NULL inputs propagate — SPARQL's expression-error-leaves-var-unbound).

    ``termmap`` (lexical-store FILTER context only): pattern variables
    with an attached term column evaluate their typed numeric VALUE via
    ``_term_numeric`` instead of the raw id — on lexical stores ids are
    lexicographic ranks, not values. BIND/ORDER call sites pass no
    termmap and keep the id semantics (localized stores: id IS the
    integer value by the reference convention)."""
    kind = node[0]
    if kind == "num":
        return F.lit(node[1]).cast("long")
    if kind == "var":
        v = node[1]
        if (
            termmap is not None
            and v in termmap
            and not colmap[v].startswith("vb_")
        ):
            return _term_numeric(F.col(colmap[v]), F.col(termmap[v]))
        return F.col(colmap[v])
    if kind == "abs":
        return F.abs(_compile_arith(node[1], colmap, termmap))
    if kind == "coalesce":
        # §17.4.1.3: first argument that does not error (errors are NULL
        # in the engine's lowering) — exactly Spark's coalesce
        return F.coalesce(
            *[_compile_arith(a, colmap, termmap) for a in node[1]]
        )
    if kind == "if":
        cond = _compile_if_cond(node[1], colmap, termmap)
        # §17.4.1.2: an ERROR condition errors the whole IF — two guarded
        # when-branches and NO otherwise, so a NULL condition yields NULL
        # rather than silently taking the else branch
        return F.when(cond, _compile_arith(node[2], colmap, termmap)).when(
            ~cond, _compile_arith(node[3], colmap, termmap)
        )
    a, b = (
        _compile_arith(node[1], colmap, termmap),
        _compile_arith(node[2], colmap, termmap),
    )
    if kind == "+":
        return a + b
    if kind == "-":
        return a - b
    if kind == "/":
        # SPARQL numeric division (§17.3 op:numeric-divide): decimal
        # result — double on both engines. try_divide (not `/`) because
        # ANSI-mode Spark raises on a zero divisor where SPARQL defines an
        # expression ERROR → NULL → the row drops in filters / the BIND
        # target stays unbound — and the behavior must not depend on the
        # session's ansi setting (the driver builds its own session).
        return F.try_divide(a, b)
    return a * b


def _compile_if_cond(
    node, colmap: dict[str, str], termmap: dict[str, str] | None = None
) -> Column:
    """IF-condition AST → boolean Column. BOUND never errors (§17.4.1.1);
    a comparison with a NULL side is NULL (3VL), which the IF compiler
    above propagates as an expression error. ``termmap`` threads the
    lexical-store value routing through condition comparisons (r11 —
    the same _term_numeric semantics as the enclosing arithmetic)."""
    if node[0] == "bound":
        return F.col(colmap[node[1]]).isNotNull()
    if node[0] == "not":
        return ~_compile_if_cond(node[1], colmap, termmap)
    _, op, l, r = node
    a, b = (
        _compile_arith(l, colmap, termmap),
        _compile_arith(r, colmap, termmap),
    )
    return {
        "=": a == b,
        "!=": a != b,
        "<": a < b,
        "<=": a <= b,
        ">": a > b,
        ">=": a >= b,
    }[op]


def _encode_constants(bgp: BGPQuery, dictionary: Dictionary | None) -> dict[str, int]:
    """Gather every term constant anywhere in the (recursive) group tree
    plus the CONSTRUCT/DESCRIBE slots, and resolve them in ONE bounded
    dictionary lookup (never a driver-side full reverse map,
    cf. MyOpVisitorBase.java:56-66)."""
    terms: set[str] = set()
    for g in _walk_groups(bgp.where):
        for tp in g.patterns:
            for kind, val in (tp.s, tp.p, tp.o):
                if kind == "term":
                    terms.add(val)
                elif kind == "notin":
                    terms |= {v for nk, v in val if nk == "term"}
        terms |= {
            val for _, entries in g.values for kind, val in entries if kind == "term"
        }
        terms |= {
            val
            for _, rows in g.values_multi
            for row in rows
            for kind, val in row
            if kind == "term"
        }
        terms |= {
            val for closure in g.closures for kind, val in closure[:3] if kind == "term"
        }
        for s_slot, ast, o_slot in g.paths:
            terms |= path_expr_terms(ast)
            terms |= {val for kind, val in (s_slot, o_slot) if kind == "term"}
        terms |= {val for (kind, val), _ in g.graphs if kind == "term"}
    terms |= {
        val
        for tp in bgp.construct
        for _, (kind, val) in tp.slots.items()
        if kind == "term"
    }
    terms |= {val for kind, val in bgp.describe_terms if kind == "term"}
    terms |= {
        val
        for kind, val in bgp.dataset_default + bgp.dataset_named
        if kind == "term"
    }
    if terms and dictionary is None:
        raise SparqlSyntaxError("query has term constants but no dictionary was given")
    if not terms:
        return {}
    if not _STRICT_MODE.get():
        # spec-conformance mode (r11, opt-in): a constant the
        # dictionary lacks appears in NO triple — resolve it to the
        # never-assigned 0 sentinel so the pattern matches nothing
        # (§5.2: empty solutions), instead of the default typo-guard
        # raise. Documented edge: a VALUES binding of a graph-absent
        # term then projects the sentinel (decodes NULL) — the
        # dictionary cannot name a term the graph has never seen.
        found = dictionary.lookup_terms(sorted(terms))
        return {t: found.get(t, 0) for t in terms}
    return dictionary.encode_terms(sorted(terms))


def _slot_id(term_ids: dict[str, int], slot) -> int | None:
    """The encoded id of a constant slot (an inline id or a dictionary
    term); None for a variable or UNDEF slot."""
    kind, val = slot
    if kind == "id":
        return int(val)
    if kind == "term":
        return term_ids[val]
    return None


def _pattern_scan(
    store: TripleStore, tp, term_ids: dict[str, int], idx: int,
    graph_var: str | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """One filtered scan; returns (df, var→column mapping).

    ``graph_var`` set = the pattern sits inside a ``GRAPH ?g`` block
    (§13.3): the scan reads the named-graph QUAD relation and the graph
    name becomes a fourth variable slot — shared across the block's
    patterns, it join-keys them to the same graph; shared with an s/p/o
    variable (``GRAPH ?x { ?x :p ?o }``) it becomes the usual
    repeated-variable equality filter. A constant ``GRAPH <iri>`` never
    reaches here — the planner rewrites it to a plain plan over that one
    graph's triples (g-equality pushed into the quad scan)."""

    slots = dict(tp.slots)
    if graph_var is not None:
        slots["g"] = ("var", graph_var)
    bound = {
        pos: _slot_id(term_ids, slot)
        for pos, slot in slots.items()
        if slot[0] != "notin"
    }
    if graph_var is not None:
        df = store.quads
    else:
        df = store.table_for_subject(bound.get("s"))

    conds = [F.col(pos) == F.lit(v) for pos, v in bound.items() if v is not None]
    # negated property set (§9.1 `!(p1|...|pn)`): a NOT-IN filter on the
    # position — still one pushdown-able scan predicate, no set machinery
    for pos, slot in slots.items():
        if slot[0] == "notin":
            excluded = [_slot_id(term_ids, s) for s in slot[1]]
            conds.append(~F.col(pos).isin(excluded))
    if conds:
        df = df.filter(reduce(lambda a, b: a & b, conds))

    var_cols: dict[str, str] = {}
    first_pos: dict[str, str] = {}
    keep = []
    for pos, (kind, val) in slots.items():
        if kind != "var":
            continue
        if val in first_pos:  # repeated var inside one pattern: ?x :p ?x
            # filter on the SOURCE positions (s/p/o/g still present here —
            # the v_* alias only exists after the select below)
            df = df.filter(F.col(pos) == F.col(first_pos[val]))
        else:
            first_pos[val] = pos
            col = f"v_{val}"
            keep.append(F.col(pos).alias(col))
            var_cols[val] = col
    out = df.select(*keep) if keep else df.select(F.lit(1).alias(f"_m{idx}"))
    return out, var_cols


def _order_patterns(patterns) -> list:
    """Most-bound first, then greedily connect via shared variables."""
    remaining = list(patterns)
    remaining.sort(key=lambda tp: -tp.bound_count())
    ordered = [remaining.pop(0)]
    seen_vars = set(ordered[0].variables())
    while remaining:
        nxt = next(
            (tp for tp in remaining if tp.variables() & seen_vars), remaining[0]
        )
        remaining.remove(nxt)
        ordered.append(nxt)
        seen_vars |= nxt.variables()
    return ordered


def _suffixed(df: DataFrame, suffix: str) -> tuple[DataFrame, dict[str, str]]:
    """Rename every column to `<col>_<suffix>` so a planned relation never
    collides with bound columns before a join; returns (df, old→new)."""
    renames = {c: f"{c}_{suffix}" for c in df.columns}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df, renames


class _PlanCtx:
    """Mutable per-plan state threaded through the recursive group planner:
    store / dictionary / encoded constants plus a counter producing
    plan-wide-unique column-name suffixes. Nested groups rename their
    columns before joining, and uniqueness must hold across the WHOLE
    tree, so the counter is shared by every recursion level."""

    def __init__(self, store, term_ids, dictionary, litids):
        self.store = store
        self.term_ids = term_ids
        self.dictionary = dictionary
        self.litids = litids
        self._counter = itertools.count()

    def nid(self) -> int:
        return next(self._counter)

    def scoped(self, store: TripleStore) -> "_PlanCtx":
        """The same plan over another store (a constant GRAPH block's
        triples, a graph path's struct-keyed virtual store), sharing the
        column-suffix counter."""
        sub = _PlanCtx(store, self.term_ids, self.dictionary, self.litids)
        sub._counter = self._counter
        return sub


def _join_group(
    ctx: _PlanCtx, patterns, graph_var: str | None = None
) -> tuple[DataFrame, dict[str, str], list[str]]:
    """Compose a list of patterns into one DataFrame via inner joins on
    shared variables. Returns (df, var→column map, first-appearance order)."""
    joined: DataFrame | None = None
    bound_cols: dict[str, str] = {}
    order: list[str] = []

    for tp in patterns:
        idx = ctx.nid()
        scan, var_cols = _pattern_scan(
            ctx.store, tp, ctx.term_ids, idx, graph_var
        )
        if joined is None:
            joined, bound_cols = scan, dict(var_cols)
            order = [v for v in var_cols]
            continue
        shared = [v for v in var_cols if v in bound_cols]
        scan, renames = _suffixed(scan, str(idx))
        if shared:
            cond = reduce(
                lambda a, b: a & b,
                [
                    F.col(bound_cols[v]) == F.col(renames[var_cols[v]])
                    for v in shared
                ],
            )
            joined = joined.join(scan, cond, "inner")
        else:
            joined = joined.crossJoin(scan)
        for v, c in var_cols.items():
            if v not in bound_cols:
                bound_cols[v] = renames[c]
                order.append(v)
        joined = joined.drop(*[renames[var_cols[v]] for v in shared])
    return joined, bound_cols, order


def _key_cond(lcols: dict[str, str], rcols: dict[str, str], keys) -> Column:
    """Equi-join conjunction over `keys` (literal TRUE when empty: every
    pair of rows is compatible)."""
    cs = [F.col(lcols[v]) == F.col(rcols[v]) for v in keys]
    return reduce(lambda a, b: a & b, cs) if cs else F.lit(True)


def _check_mask_cap(lnv: list[str], rnv: list[str], clause: str) -> None:
    """Every bound-mask lowering splits each side by which of its
    nullable join keys are bound — at most 2^(|lnv|+|rnv|) branch
    pairs, bounded at plan time (never data-dependent) by one cap."""
    n = 2 ** (len(lnv) + len(rnv))
    if n > 16:
        raise SparqlSyntaxError(
            f"{clause} keyed on variables that may be unbound (outer: "
            f"{['?' + v for v in lnv]}, group: {['?' + v for v in rnv]}) "
            f"expands to {n} disjoint bound-mask join branches (cap 16) — "
            "bind fewer OPTIONAL/UNION variables before reusing them as "
            "join keys"
        )


def _compat_inner_join(
    joined: DataFrame,
    bound_cols: dict[str, str],
    lnull: set[str],
    sdf: DataFrame,
    scols: dict[str, str],
    rnull: set[str],
    shared: list[str],
    clause: str,
) -> DataFrame:
    """SPARQL §18.2.1 compatible-bindings Join when shared variables may be
    UNBOUND on one or both sides (bound only in an OPTIONAL / in some UNION
    arms): unbound is compatible with anything, and the merged solution
    takes whichever side is bound — semantics Spark's equi-join inverts
    (NULL == x is NULL → the row silently drops).

    Lowering: decompose the compatible pair space into DISJOINT bound-mask
    branches so every branch stays a hash equi-join (never a null-tolerant
    OR-condition, which would force a nested-loop join at scale). Per
    nullable shared variable v the disjoint cases are
      B  — both sides bound  → v joins as an ordinary equi key,
      L0 — left unbound      → no constraint on the right (compatible),
      R0 — left bound, right unbound → no key for v,
    so a branch is (left filtered to its mask) ⋈ (right filtered to its
    mask) on [always-bound shared vars] + [vars in case B]; the union of
    branches is exactly the Join multiset (the cases partition it). The
    merged binding per branch is coalesce(left, right), kept under the
    LEFT column name so downstream bookkeeping is unchanged. Unlike the
    per-left-row clauses (`_mask_pairs`), a var nullable on both sides
    takes three cases here, not four: the B/L0/R0 split never pairs a
    left-unbound row twice.

    Branch count is ∏(1 + lnull(v) + rnull(v)) over nullable shared vars —
    bounded at plan time by the shared bound-mask cap, never
    data-dependent. Each branch re-executes the child plans' (pruned,
    pushdown-filtered) scans — total scan work is branch-count ×
    pruned-scan, bounded by the cap; cached/in-memory children are read
    once per branch from the cache. An all-unbound branch with no
    remaining key is a genuine SPARQL cartesian and compiles to crossJoin
    of the two FILTERED (hence small) sides.

    After this join a shared v can remain unbound only when BOTH sides can
    be unbound (branch L0 meeting a right-null row) — callers update their
    nullable set accordingly."""
    nv = [v for v in shared if v in lnull or v in rnull]
    _check_mask_cap(
        [v for v in nv if v in lnull], [v for v in nv if v in rnull], clause
    )
    safe = [v for v in shared if v not in nv]
    cases_per_var = [
        ["B"] + (["L0"] if v in lnull else []) + (["R0"] if v in rnull else [])
        for v in nv
    ]
    base_cols = list(joined.columns)
    shared_right = {scols[v] for v in shared}
    right_keep = [c for c in sdf.columns if c not in shared_right]
    branches = []
    for combo in itertools.product(*cases_per_var):
        l, r = joined, sdf
        keys = list(safe)
        for v, case in zip(nv, combo):
            lc, rc = bound_cols[v], scols[v]
            if case == "B":
                if v in lnull:
                    l = l.filter(F.col(lc).isNotNull())
                if v in rnull:
                    r = r.filter(F.col(rc).isNotNull())
                keys.append(v)
            elif case == "L0":
                l = l.filter(F.col(lc).isNull())
            else:  # R0: left bound, right unbound
                if v in lnull:
                    l = l.filter(F.col(lc).isNotNull())
                r = r.filter(F.col(rc).isNull())
        if keys:
            j = l.join(r, _key_cond(bound_cols, scols, keys), "inner")
        else:
            j = l.crossJoin(r)
        out = []
        merged = {bound_cols[v]: scols[v] for v in nv}
        for c in base_cols:
            if c in merged:
                out.append(F.coalesce(F.col(c), F.col(merged[c])).alias(c))
            else:
                out.append(F.col(c))
        out.extend(F.col(c) for c in right_keep)
        branches.append(j.select(*out))
    return reduce(lambda a, b: a.unionByName(b), branches)


def _join_compatible(
    left: DataFrame,
    lcols: dict[str, str],
    lnull: set[str],
    right: DataFrame,
    rcols: dict[str, str],
    rnull: set[str],
    shared: list[str],
    clause: str,
) -> DataFrame:
    """§18.2.2.2 Join of two solution relations — the one inner-join
    choice behind group joins, closures, paths, GRAPH blocks, subqueries
    and UNION arms: `_compat_inner_join` when a shared variable may be
    unbound on either side, else a hash equi-join, else (nothing shared)
    a cross join. The result keeps `left`'s columns (shared values under
    the left names) plus `right`'s unshared ones."""
    if any(v in lnull or v in rnull for v in shared):
        return _compat_inner_join(
            left, lcols, lnull, right, rcols, rnull, shared, clause
        )
    if shared:
        return left.join(
            right, _key_cond(lcols, rcols, shared), "inner"
        ).drop(*[rcols[v] for v in shared])
    return left.crossJoin(right)


def _mask_branches(df: DataFrame, cols: dict[str, str], nv: list[str]):
    """Partition a solution multiset by which of the nullable variables
    `nv` are bound: yields (branch_df, bound_vars) for each of the 2^|nv|
    masks, all-bound first. No nullable var = one unfiltered branch."""
    for combo in itertools.product([True, False], repeat=len(nv)):
        b = df
        for v, bound in zip(nv, combo):
            c = F.col(cols[v])
            b = b.filter(c.isNotNull() if bound else c.isNull())
        yield b, [v for v, bound in zip(nv, combo) if bound]


def _mask_pairs(
    left: DataFrame,
    lcols: dict[str, str],
    lnv: list[str],
    right: DataFrame,
    rcols: dict[str, str],
    rnv: list[str],
    shared: list[str],
    clause: str,
):
    """The bound-mask decomposition behind every per-left-row clause
    (OPTIONAL's null-extension, MINUS/EXISTS's keep-or-drop, multi-var
    VALUES). SPARQL's unbound-is-compatible rule (§18.2.1) and Spark's
    NULL==x→NULL disagree on nullable join keys, so both sides split by
    bound mask: `lnv` are the shared vars the accumulated (left) solution
    may leave unbound, `rnv` those the child (right) group may. Yields
    each left branch with its right branches, as (left_branch,
    [(right_branch, keys), ...]) where `keys` are the shared vars bound
    on BOTH sides of that pair — an unbound var is compatible with
    anything, so it contributes no conjunct.

    A left row's match set depends only on its own mask, so per-branch
    results union exactly, and the right branches partition the child
    rows, so per-pair matches never double-count. Every pair stays a
    hash equi-join (the OR-of-null-equality form would force a
    nested-loop join at scale). A side with no nullable key is one
    unfiltered branch, so the plain, left-only, right-only and
    both-sided cases are one loop; 2^(|lnv|+|rnv|) is capped at plan
    time. Key order follows the left branch when the left is masked,
    else the right branch (always-bound keys first)."""
    _check_mask_cap(lnv, rnv, clause)
    rights = [
        (r, [v for v in shared if v not in rnv] + rb)
        for r, rb in _mask_branches(right, rcols, rnv)
    ]
    for l, lb in _mask_branches(left, lcols, lnv):
        kl = [v for v in shared if v not in lnv] + lb
        yield l, [
            (r, [v for v in kl if v in kr] if lnv else kr) for r, kr in rights
        ]


def _filter_ends(
    pairs: DataFrame, s_id: int | None, o_id: int | None,
    s_col: str = "cs", o_col: str = "co",
) -> DataFrame:
    """Constant path endpoints as equality filters on a pair relation."""
    if s_id is not None:
        pairs = pairs.filter(F.col(s_col) == F.lit(s_id))
    if o_id is not None:
        pairs = pairs.filter(F.col(o_col) == F.lit(o_id))
    return pairs


def _zero_length_pairs(
    triples: DataFrame, s_id: int | None, o_id: int | None
) -> DataFrame:
    """§18.4 ZeroLengthPath pairs (cs, co) over the default graph: the
    var-var form binds every term of the GRAPH (distinct subjects ∪
    objects — one aggregation over the two columns, no join) to itself;
    a constant endpoint matches itself regardless of graph membership
    (one literal row, no scan; two different constants match nothing)."""
    if s_id is None and o_id is None:
        nodes = (
            triples.select(F.col("s").alias("cs"))
            .union(triples.select(F.col("o").alias("cs")))
            .distinct()
        )
        return nodes.select("cs", F.col("cs").alias("co"))
    seeds = {i for i in (s_id, o_id) if i is not None}
    return triples.sparkSession.createDataFrame(
        [(i, i) for i in seeds] if len(seeds) == 1 else [],
        "cs long, co long",
    )


def _graph_self_pairs(
    quads: DataFrame, s_id: int | None, o_id: int | None
) -> DataFrame:
    """Zero-length pairs of a constant endpoint under GRAPH ?g: the
    constant matches itself in EVERY named graph, even ones where the
    term does not occur — distinct graphs × one (g, constant) self-pair
    (two different constants never match)."""
    seeds = {i for i in (s_id, o_id) if i is not None}
    gs_ = quads.select("g").distinct()
    if len(seeds) > 1:
        gs_ = gs_.filter(F.lit(False))
    return gs_.select(
        F.struct(F.col("g"), F.lit(min(seeds)).cast("long").alias("n")).alias(
            "cs"
        )
    ).select(F.col("cs"), F.col("cs").alias("co"))


def _compile_path_relation(
    ctx: _PlanCtx, node, src_id: int | None = None, dst_id: int | None = None
) -> DataFrame:
    """Compile a composite property-path AST (SPARQL 1.1 §9.1 — `(p1|p2)+`,
    `p1/(p2*)`, `^(p1/p2)` and any nesting thereof) into a binary pair
    relation (cs, co).

    Lowering per node: a predicate is one filtered scan (pushdown-able
    p-equality — predicate-clustered stores prune to the predicate's row
    groups); `^` swaps the columns (zero plan cost); `/` chains hash
    equi-joins; `|` is a multiset union; a closure runs the semi-naive
    transitive_closure over the COMPILED inner relation — alternation and
    sequence produce exactly the edge relation the iteration needs, which
    is the §18.4 ALP algorithm evaluated over a derived edge set.

    `src_id`/`dst_id` seed constant endpoints and PROPAGATE structurally
    (r6): a pred/npred scan gains a pushdown-able endpoint equality; `^`
    swaps the seeds with the columns; `/` pushes src into its FIRST
    member and dst into its LAST (middles compile unseeded — no constant
    reaches them); `|` seeds every arm; a closure node runs the seeded
    BFS (`operators.graph.transitive_closure`) — so `:a (p/q*) ?x`
    explores a's neighborhood instead of materializing q's full closure.
    Closures with an UNSEEDED inner composite still compile the inner
    relation over the whole graph (the BFS edge set), the residual cost
    documented in SCALE.md; unseeded `*`/`?` zero-length arms bind every
    graph term to itself per §18.4's ZeroLengthPath. Multiplicity:
    closure nodes yield DISTINCT pairs (ALP is duplicate-free), seq/alt
    keep SPARQL's multiset algebra."""
    store = ctx.store
    kind = node[0]
    if kind == "pred":
        pid = _slot_id(ctx.term_ids, node[1])
        t = store.table_for_subject(None).filter(F.col("p") == F.lit(pid))
        t = _filter_ends(t, src_id, dst_id, "s", "o")
        return t.select(F.col("s").alias("cs"), F.col("o").alias("co"))
    if kind == "npred":
        # negated property set: one NOT-IN scan predicate (§9.1), same as
        # the pattern-level lowering — still pushdown-able
        excluded = [_slot_id(ctx.term_ids, slot) for slot in node[1]]
        t = store.table_for_subject(None).filter(~F.col("p").isin(excluded))
        t = _filter_ends(t, src_id, dst_id, "s", "o")
        return t.select(F.col("s").alias("cs"), F.col("o").alias("co"))
    if kind == "inv":
        r = _compile_path_relation(ctx, node[1], dst_id, src_id)
        return r.select(F.col("co").alias("cs"), F.col("cs").alias("co"))
    if kind == "seq":
        # §18.4 rewrite for '*'/'?' members INSIDE a sequence: such a
        # member contributes, per incoming endpoint x, the SET
        # {x} ∪ (closure(x) \ {(x,x)}) — the zero-length arm is the
        # IDENTITY on the join boundary, so the full-graph term-universe
        # materialization of ZeroLengthPath is never needed for a seq
        # member: the plan is union(carry-through, join-with-closure).
        # Self-loop pairs are removed from the closure branch because the
        # identity branch already supplies (x, x) once (ALP pairs are a
        # set). A LEADING '*'/'?' member without a src seed mirrors the
        # rewrite from the left.
        def _member_step(cnode: tuple, seeds: DataFrame | None) -> DataFrame:
            """The ≥1-step relation of a '*'/'?' seq member, self-loops
            removed (the identity branch supplies them). A '*' member's
            closure is SET-SEEDED from the adjoining frontier — only the
            subgraph reachable from the join boundary is explored, never
            the member's full closure."""
            inner = _compile_path_relation(ctx, cnode[1])
            if cnode[2] == "*":
                rel = transitive_closure(
                    inner, src="cs", dst="co", seed_set=seeds
                )
            else:
                rel = inner.distinct()
            return rel.filter(F.col("cs") != F.col("co"))

        def _seq_rel(ms, s_seed, d_seed) -> DataFrame:
            if len(ms) == 1:
                return _compile_path_relation(ctx, ms[0], s_seed, d_seed)
            head, rest = ms[0], ms[1:]
            if head[0] == "clos" and head[2] in ("*", "?") and s_seed is None:
                rrel = _seq_rel(rest, None, d_seed)
                i = ctx.nid()
                # leading closure: seed from the REST's source frontier,
                # walking the member's edges BACKWARD (swap, close, swap)
                if head[2] == "*":
                    seeds = rrel.select(F.col("cs").alias("n")).distinct()
                    inner = _compile_path_relation(ctx, head[1])
                    stepr = transitive_closure(
                        inner.select(
                            F.col("co").alias("cs"), F.col("cs").alias("co")
                        ),
                        src="cs",
                        dst="co",
                        seed_set=seeds,
                    )
                    step = stepr.select(
                        F.col("co").alias("cs"), F.col("cs").alias("co")
                    ).filter(F.col("cs") != F.col("co"))
                else:
                    step = _member_step(head, None)
                srel = step.select(
                    F.col("cs").alias(f"_ps{i}"),
                    F.col("co").alias(f"_po{i}"),
                )
                via = srel.join(
                    rrel, F.col(f"_po{i}") == F.col("cs"), "inner"
                ).select(F.col(f"_ps{i}").alias("cs"), F.col("co"))
                return rrel.unionByName(via)
            out = _compile_path_relation(ctx, head, s_seed, None)
            for mi, child in enumerate(rest, start=2):
                last = mi == len(ms)
                if child[0] == "clos" and child[2] in ("*", "?"):
                    i = ctx.nid()
                    seeds = out.select(F.col("co").alias("n")).distinct()
                    srel = _member_step(child, seeds).select(
                        F.col("cs").alias(f"_ps{i}"),
                        F.col("co").alias(f"_po{i}"),
                    )
                    via = out.join(
                        srel, F.col("co") == F.col(f"_ps{i}"), "inner"
                    ).select(F.col("cs"), F.col(f"_po{i}").alias("co"))
                    out = out.unionByName(via)
                    if last and d_seed is not None:
                        out = out.filter(F.col("co") == F.lit(d_seed))
                    continue
                r = _compile_path_relation(
                    ctx, child, None, d_seed if last else None
                )
                i = ctx.nid()
                r = r.select(
                    F.col("cs").alias(f"_ps{i}"),
                    F.col("co").alias(f"_po{i}"),
                )
                out = out.join(
                    r, F.col("co") == F.col(f"_ps{i}"), "inner"
                ).select(F.col("cs"), F.col(f"_po{i}").alias("co"))
            return out

        return _seq_rel(list(node[1]), src_id, dst_id)
    if kind == "alt":
        rels = [
            _compile_path_relation(ctx, c, src_id, dst_id) for c in node[1]
        ]
        return reduce(lambda a, b: a.unionByName(b), rels)
    # closure over a composite inner relation
    inner = _compile_path_relation(ctx, node[1])
    mode = node[2]
    if mode == "+":
        return transitive_closure(
            inner, src="cs", dst="co", src_id=src_id, dst_id=dst_id
        )
    zero = _zero_length_pairs(store.table_for_subject(None), src_id, dst_id)
    if mode == "*":
        step = transitive_closure(
            inner, src="cs", dst="co", src_id=src_id, dst_id=dst_id
        )
    else:  # "?": the inner relation itself, endpoint-filtered
        step = _filter_ends(inner, src_id, dst_id)
    return zero.unionByName(step).distinct()


def _scope_subquery_to_graph(sub, gvar: str):
    """§13.3 active-graph scoping for a subquery under ``GRAPH ?gvar`` —
    the per-graph evaluation as a pure rewrite over the parsed query:

        GRAPH ?g { SELECT P WHERE W }
      ≡ { SELECT ?g P WHERE { GRAPH ?g { W } } GROUP BY ?g, keys }

    The wrapped WHERE threads the graph variable through every pattern
    scan (the existing GRAPH-variable machinery), appending ?g to the
    GROUP BY keys partitions every aggregate per graph (an aggregate
    with NO keys becomes one row PER GRAPH — exactly per-graph
    evaluation), DISTINCT de-duplicates per (graph, projection), and
    projecting ?g makes the result join the enclosing block's graph
    binding. Nested GRAPH blocks inside W re-scope themselves, and
    nested subqueries re-enter this rewrite through the recursive plan.

    Rejects (didactic): ORDER BY / LIMIT / OFFSET (they would have to
    apply PER GRAPH — a windowed form this engine does not guess),
    FROM/FROM NAMED (a subquery cannot re-pick the dataset mid-scope),
    and a subquery that itself uses the graph variable's NAME (the
    rewrite would unify the inner variable with the graph slot, where
    §18.2.4.3 keeps a non-projected inner variable independent —
    rename it)."""
    if sub.order_by or sub.limit is not None or sub.offset is not None:
        raise SparqlSyntaxError(
            "ORDER BY / LIMIT / OFFSET in a subquery under GRAPH ?var "
            "are not supported (the modifier applies per graph); use a "
            "constant GRAPH <iri> block"
        )
    if sub.dataset_default or sub.dataset_named:
        raise SparqlSyntaxError(
            "FROM inside a subquery under GRAPH ?var is not supported"
        )
    used = sub.where.all_vars() | _visible_binds(sub.where) | set(
        sub.projection or ()
    )
    if gvar in used:
        raise SparqlSyntaxError(
            f"the subquery under GRAPH ?{gvar} uses the variable "
            f"?{gvar} itself; an inner variable of the same name is "
            "independent of the active graph (§18.2.4.3) and the "
            "engine will not silently unify them — rename one"
        )
    wrapped = GroupPattern(
        graphs=((("var", gvar), sub.where),), seq=(("graph", 0),)
    )
    new_proj = (gvar,) + tuple(sub.projection or ())
    new_gb = sub.group_by
    if sub.aggregates or sub.group_by:
        new_gb = (gvar,) + tuple(sub.group_by)
    return _dc_replace(
        sub, where=wrapped, projection=new_proj, group_by=new_gb
    )


class _Sol:
    """The solution ONE group accumulates while its clauses lower in
    written order: the relation (`df`, None before the first clause),
    var→column map, first-appearance order, the variables that may hold
    NULL (SPARQL "unbound" — bound only inside an OPTIONAL, or by
    some-but-not-all UNION arms) and the BIND targets holding STRING
    values. `graph_var` is the group's ``GRAPH ?g`` scope (None
    outside one)."""

    def __init__(self, graph_var: str | None = None):
        self.df: DataFrame | None = None
        self.cols: dict[str, str] = {}
        self.order: list[str] = []
        self.nullable: set[str] = set()
        self.string_targets: set[str] = set()
        self.graph_var = graph_var


def _attach_term(
    df: DataFrame, dictionary: Dictionary, id_col: str, sid: str, tcol: str
) -> DataFrame:
    """Left-join the dictionary term of id column `id_col` as `tcol`
    (plus its `tcol + __sv` STR value under the lexical style): a
    dangling id yields NULL, SPARQL's error-on-unbound input."""
    d = _dict_relation(dictionary, sid, tcol)
    return df.join(d, F.col(id_col) == F.col(sid), "left").drop(sid)


def _compose_inner(ctx, sol, sdf, scols, sorder, snull, clause) -> None:
    """Join one planned relation into the accumulated solution —
    §18.2.2.2 Join with §18.2.1 compatible-bindings semantics when a
    shared variable is nullable on either side. The shared machinery
    behind pattern runs, closures, paths, subgroups, GRAPH blocks and
    subqueries (they differ only in how their relation is produced)."""
    sdf, renames = _suffixed(sdf, f"n{ctx.nid()}")
    scols = {v: renames[c] for v, c in scols.items()}
    if sol.df is None:
        sol.df, sol.cols, sol.order = sdf, dict(scols), list(sorder)
        sol.nullable.update(snull)
        return
    shared = [v for v in scols if v in sol.cols]
    sol.df = _join_compatible(
        sol.df, sol.cols, sol.nullable, sdf, scols, snull, shared, clause
    )
    # the merged value stays unbound only where BOTH sides can be
    sol.nullable -= set(shared) - set(snull)
    for v in sorder:
        if v not in sol.cols:
            sol.cols[v] = scols[v]
            sol.order.append(v)
            if v in snull:
                sol.nullable.add(v)


def _lower_pattern_run(ctx, sol, tps) -> None:
    """A maximal run of consecutively written triple patterns — one
    BGP (§18.2.2.5), join-ordered most-bound-first WITHIN the run.
    Runs split by OPTIONAL/MINUS keep their written position: BGP
    joins commute with each other but not with LeftJoin/Minus."""
    rdf, rcols, rorder = _join_group(
        ctx, _order_patterns(tps), sol.graph_var
    )
    if sol.df is None:
        sol.df, sol.cols, sol.order = rdf, rcols, rorder
    else:
        _compose_inner(ctx, sol, rdf, rcols, rorder, set(), "group join")


def _pair_scan(pairs, s_slot, o_slot, tag, i, s_id, o_id, graph_var):
    """Bind a path's endpoint pair relation (cs, co) to its variables:
    constant endpoints filter, a repeated variable (`?x :p+ ?x`, cycle
    membership) keeps the s=o pairs, and each distinct variable becomes
    a `v{tag}{i}_` column. Under GRAPH ?g the endpoints are (g, node)
    structs: the graph binds ?g, and an endpoint variable named like the
    graph variable is the same repeated-variable filter. A path with no
    variable yields one marker row when any pair exists."""
    s_n, o_n = ("cs.n", "co.n") if graph_var is not None else ("cs", "co")
    pairs = _filter_ends(pairs, s_id, o_id, s_n, o_n)
    if s_slot[0] == "var" and o_slot[0] == "var" and s_slot[1] == o_slot[1]:
        pairs = pairs.filter(F.col(s_n) == F.col(o_n))
    var_cols: dict[str, str] = {}
    keep = []
    if graph_var is not None:
        if s_slot[0] == "var" and s_slot[1] == graph_var:
            pairs = pairs.filter(F.col("cs.g") == F.col("cs.n"))
        if o_slot[0] == "var" and o_slot[1] == graph_var:
            pairs = pairs.filter(F.col("cs.g") == F.col("co.n"))
        var_cols[graph_var] = f"vg{i}_{graph_var}"
        keep.append(F.col("cs.g").alias(var_cols[graph_var]))
    for pos, slot in ((s_n, s_slot), (o_n, o_slot)):
        if slot[0] == "var" and slot[1] not in var_cols:
            var_cols[slot[1]] = f"v{tag}{i}_{slot[1]}"
            keep.append(F.col(pos).alias(var_cols[slot[1]]))
    if keep:
        return pairs.select(*keep), var_cols
    return pairs.select(F.lit(1).alias(f"_{tag}{i}")).limit(1), var_cols


def _graph_closure_pairs(quads, pid, s_id, o_id, mode) -> DataFrame:
    """`?s :p+ ?o` inside GRAPH ?var (§13.3 × §9.1): reachability is
    PER GRAPH — a path never crosses graphs — so the closure runs over
    composite `(g, node)` struct keys: an edge in graph g connects
    (g,s)→(g,o), and the generic semi-naive iteration joins on struct
    equality unchanged. Constant endpoints post-filter the closure (the
    seeded-BFS shortcut needs one constant seed NODE, but here the seed
    differs per graph). `p*` / `p?` add the §18.4 zero-length pairs PER
    GRAPH: var-var form = every (g, term-of-g) bound to itself (one
    distinct over both quad node positions — the same term-universe
    materialization as the default-graph form, graph-keyed); a constant
    endpoint matches itself in EVERY named graph."""
    gedges = quads.filter(F.col("p") == F.lit(pid)).select(
        F.struct(F.col("g"), F.col("s").alias("n")).alias("gs"),
        F.struct(F.col("g"), F.col("o").alias("n")).alias("go"),
    )
    if mode == "+":
        return transitive_closure(gedges, src="gs", dst="go")
    if s_id is None and o_id is None:
        nodes = (
            quads.select(F.struct(F.col("g"), F.col("s").alias("n")).alias("gn"))
            .union(
                quads.select(
                    F.struct(F.col("g"), F.col("o").alias("n")).alias("gn")
                )
            )
            .distinct()
        )
        zero = nodes.select(F.col("gn").alias("cs"), F.col("gn").alias("co"))
    else:
        zero = _graph_self_pairs(quads, s_id, o_id)
    if mode == "*":
        step = transitive_closure(gedges, src="gs", dst="go")
    else:  # "?": one filtered edge scan
        step = gedges.select(F.col("gs").alias("cs"), F.col("go").alias("co"))
    return zero.unionByName(step).distinct()


def _lower_closure(ctx, sol, item) -> None:
    """Closure-family paths (§9.1): DISTINCT pairs joined into the group
    like a required pattern (closure-bound variables are never null).
      p+  reachability via operators.graph.transitive_closure (a constant
          endpoint becomes a seeded BFS — bounded neighborhood, never the
          full closure);
      p*  reachability ∪ the §18.4 zero-length pairs;
      p?  one filtered edge scan ∪ the zero-length pairs."""
    s_slot, p_slot, o_slot, mode = item
    ci = ctx.nid()
    pid, s_id, o_id = (
        _slot_id(ctx.term_ids, slot) for slot in (p_slot, s_slot, o_slot)
    )
    ends = (s_id, o_id)
    if sol.graph_var is not None:
        pairs = _graph_closure_pairs(ctx.store.quads, pid, s_id, o_id, mode)
    else:
        triples = ctx.store.table_for_subject(None)
        edges = triples.filter(F.col("p") == F.lit(pid))
        if mode == "?":  # a single filtered edge scan
            step = _filter_ends(
                edges.select(F.col("s").alias("cs"), F.col("o").alias("co")),
                s_id, o_id,
            )
        else:
            step = transitive_closure(
                edges, src="s", dst="o", src_id=s_id, dst_id=o_id
            )
        if mode == "+":
            pairs, ends = step, (None, None)  # the seeded BFS applied them
        else:
            # ∪ the zero-length pairs; the endpoints re-apply in
            # _pair_scan: the zero-length row of an s=o-constrained pair
            # survives only when both constants agree
            pairs = (
                _zero_length_pairs(triples, s_id, o_id)
                .unionByName(step)
                .distinct()
            )
    scan, var_cols = _pair_scan(
        pairs, s_slot, o_slot, "c", ci, *ends, sol.graph_var
    )
    _compose_inner(ctx, sol, scan, var_cols, list(var_cols), set(), "group join")


def _lower_path(ctx, sol, item) -> None:
    """Composite path expressions (§9.1 nested forms): compile the AST to
    a pair relation, apply endpoint constants, and join like a required
    pattern — the same shape as the single-predicate closure."""
    s_slot, ast, o_slot = item
    pi = ctx.nid()
    s_id, o_id = _slot_id(ctx.term_ids, s_slot), _slot_id(ctx.term_ids, o_slot)
    if sol.graph_var is None:
        pairs = _compile_path_relation(ctx, ast, s_id, o_id)
    else:
        # composite path inside GRAPH ?var: compile the SAME path AST
        # against a VIRTUAL store whose s/o are (g, node) structs —
        # every operator in _compile_path_relation is type-agnostic
        # (scans filter on p, seq/closure join on full-struct equality,
        # so chains never cross graphs; the zero-length term universe
        # comes from the struct s∪o, i.e. per graph). Constant endpoints
        # post-filter (the seed shortcut needs one constant NODE; here
        # it differs per graph).
        vdf = ctx.store.quads.select(
            F.struct(F.col("g"), F.col("s").alias("n")).alias("s"),
            F.col("p"),
            F.struct(F.col("g"), F.col("o").alias("n")).alias("o"),
        )
        pairs = _compile_path_relation(
            ctx.scoped(TripleStore(vdf)), ast, None, None
        )
        if (
            ast[0] == "clos"
            and ast[2] in ("*", "?")
            and (s_id is not None or o_id is not None)
        ):
            # the compiled per-graph term universe only covers graphs
            # containing the constant; §18.4 matches it in every graph
            pairs = pairs.unionByName(
                _graph_self_pairs(ctx.store.quads, s_id, o_id)
            ).distinct()
    scan, var_cols = _pair_scan(
        pairs, s_slot, o_slot, "p", pi, s_id, o_id, sol.graph_var
    )
    _compose_inner(ctx, sol, scan, var_cols, list(var_cols), set(), "group join")


def _lower_subgroup(ctx, sol, sub) -> None:
    """A plain nested subgroup `{ ... }` → inner join on the shared
    variables (§18.2.2.2 Join): the child group plans standalone —
    including its own OPTIONALs, UNIONs and filters — then composes."""
    planned = _plan_group(ctx, sub, graph_var=sol.graph_var)
    _compose_inner(ctx, sol, *planned, "group join")


def _lower_graph(ctx, sol, item) -> None:
    """A GRAPH block (§13.3): the child group plans with the named-graph
    QUAD relation as its scan source, then composes like a subgroup
    (§18.2.2.2 Join). A CONSTANT graph name rewrites to a plain plan
    over that ONE graph's triples — the g-equality pushes into the quad
    scan (partition pruning on a write_quads layout) and every engine
    feature (closures, paths, subqueries, nested GRAPH via the carried
    quads) works unchanged inside the block. A graph VARIABLE instead
    threads through the subtree's pattern scans as a fourth slot: within
    the block it join-keys every pattern to the same graph; outside it
    is an ordinary required (never-null) variable."""
    gslot, sub = item
    if gslot[0] == "var":
        planned = _plan_group(ctx, sub, graph_var=gslot[1])
    else:
        scoped = TripleStore(
            ctx.store.quads_for_graph(_slot_id(ctx.term_ids, gslot)),
            layout="single",
            quads=ctx.store.quads_relation,
        )
        planned = _plan_group(ctx.scoped(scoped), sub)
    _compose_inner(ctx, sol, *planned, "GRAPH join")


def _lower_subselect(ctx, sol, sub) -> None:
    """A subquery `{ SELECT ... }` (§12): planned as a complete
    standalone query via plan_bgp (own constant encoding, grouping,
    modifiers), then joined on the shared PROJECTED variables —
    §18.2.4.4: only the projection is visible outside. A subquery
    sharing no variable cross-joins (the scalar-aggregate idiom
    `{ SELECT (COUNT(*) AS ?t) ... }`: a 1-row broadcast side, which AQE
    plans as a broadcast nested loop). Nullability is conservative: any
    projected variable not bound by the subquery's required patterns
    (OPTIONAL-bound, some-UNION-arms, BIND over those) counts nullable;
    grouped aggregates ride the same rule."""
    if sol.graph_var is not None:
        # §13.3: the active graph scopes the subquery too — evaluate it
        # PER GRAPH via a pure algebraic rewrite (no per-graph loop):
        # GRAPH ?g { SELECT P WHERE W } becomes the standalone
        # { SELECT ?g P WHERE { GRAPH ?g { W } } } with ?g appended to
        # the GROUP BY keys, so aggregates partition per graph, DISTINCT
        # de-duplicates per graph, and the projected ?g join-keys the
        # result to the enclosing block's graph binding
        sub = _scope_subquery_to_graph(sub, sol.graph_var)
    sdf = plan_bgp(ctx.store, sub, ctx.dictionary)
    svars = list(sdf.columns)
    snull = set(svars) - sub.where.required_vars()
    _compose_inner(ctx, sol, sdf, {v: v for v in svars}, svars, snull, "subquery")


def _lower_union(ctx, sol, block) -> None:
    """A UNION block (SPARQL 1.1 §5.4 alternatives; the generalization of
    the reference translator's hand-emitted Positive UNION ALL Negative,
    MyOpVisitorBase.java:106-123). Duplicates preserved: UNION ALL
    semantics, matching SPARQL's multiset algebra. Arms are full groups
    (each may carry its own OPTIONALs / nested groups / filters).

    When prior bindings exist, each arm is joined to them SEPARATELY on
    the variables THAT ARM binds, and the per-arm join results are
    union'd. Joining a pre-unioned (null-extended) arm stack would drop
    every solution from an arm that does not bind a shared variable
    (NULL==x is NULL), where SPARQL's compatible-binding join keeps it —
    and per-arm joins keep every join a hash equi-join (no null-tolerant
    OR-condition that would force a nested-loop join at scale)."""
    bi = ctx.nid()
    arm_order: list[str] = []  # this block's vars in first-appearance order
    arms = []
    for ai, arm in enumerate(block):
        adf, acols, aorder, anull = _plan_group(
            ctx, arm, graph_var=sol.graph_var
        )
        adf, renames = _suffixed(adf, f"b{bi}a{ai}")
        arms.append(({v: renames[c] for v, c in acols.items()}, adf, anull))
        for v in aorder:
            if v not in arm_order:
                arm_order.append(v)
    ucols = {v: f"u{bi}_{v}" for v in arm_order}
    if sol.df is None:  # first content of a pure-union group
        normalized = [
            adf.select(
                *[F.col(acols[v]).alias(ucols[v]) for v in arm_order if v in acols]
            )
            for acols, adf, _ in arms
        ]
        sol.df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            normalized,
        )
        sol.cols, sol.order = dict(ucols), list(arm_order)
    else:
        base_cols = list(sol.df.columns)
        per_arm = []
        for acols, adf, anull in arms:
            shared = [v for v in acols if v in sol.cols]
            j = _join_compatible(
                sol.df, sol.cols, sol.nullable, adf, acols, anull, shared,
                "UNION",
            )
            # merged binding for a shared var is the prior-side value;
            # fresh vars get u_ columns, null-extended by the union
            per_arm.append(
                j.select(
                    *[F.col(c) for c in base_cols],
                    *[
                        F.col(acols[v]).alias(ucols[v])
                        for v in arm_order
                        if v in acols and v not in sol.cols
                    ],
                )
            )
        sol.df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), per_arm
        )
        for v in arm_order:
            if v not in sol.cols:
                sol.cols[v] = ucols[v]
                sol.order.append(v)
    # a union-bound var is nullable unless every arm binds it in its
    # required part
    for v in arm_order:
        if sol.cols[v] == ucols[v] and (
            not all(v in acols for acols, _, _ in arms)
            or any(v in anull for _, _, anull in arms)
        ):
            sol.nullable.add(v)
    # a var nullable BEFORE the block becomes bound when every arm
    # required-binds it: each per-arm compatible join coalesced the
    # merged value, so no branch leaves it NULL
    for v in list(sol.nullable):
        if (
            v in sol.cols
            and sol.cols[v] != ucols.get(v)
            and arms
            and all(v in acols and v not in anull for acols, _, anull in arms)
        ):
            sol.nullable.discard(v)


def _plan_child(ctx, sol, grp, tag: str, **kw):
    """Plan a child group of an OPTIONAL/MINUS/EXISTS standalone and
    suffix ALL its columns (`_{tag}{gi}`) so they never collide with
    bound ones. Returns (gi, df, var→column, first-appearance order,
    shared vars, the shared vars the outer solution may leave unbound,
    the shared vars the child may leave unbound)."""
    gdf, gcols, gorder, gnull = _plan_group(
        ctx, grp, graph_var=sol.graph_var, **kw
    )
    gi = ctx.nid()
    gdf, renames = _suffixed(gdf, f"{tag}{gi}")
    rcols = {v: renames[c] for v, c in gcols.items()}
    shared = [v for v in gcols if v in sol.cols]
    lnv = [v for v in shared if v in sol.nullable]
    rnv = [v for v in shared if v in gnull]
    return gi, gdf, rcols, gorder, shared, lnv, rnv


def _lower_optional(ctx, sol, opt) -> None:
    """An OPTIONAL child group → LEFT OUTER JOIN on the shared variables
    (SPARQL 1.1 §5.3 compatible-bindings semantics): the child composes
    inner-first (recursively — it may hold its own OPTIONALs/UNIONs),
    then left-joins, so group-local constraints bind before
    null-extension — the same machinery as the reference's J3
    left-outer shape (PartitionQueryingBRDSubject.java:156).

    Nullable keys take the `_mask_pairs` decomposition, and the query
    picks one of two join shapes. When the child leaves no shared var
    nullable, each left branch LEFT-joins the child (an unbound outer ?v
    drops its conjunct and the merged binding coalesces from the child).
    When it does (group-INTERNAL nullability), matched rows come from
    per-right-branch hash INNER joins and a left row matching no branch
    falls out of CHAINED anti joins, null-extended by the union —
    LeftJoin(P1, P2, F) exactly in both shapes."""
    gi, gdf, rcols, gorder, shared, lnv, rnv = _plan_child(
        ctx, sol, opt, "g", defer_filters=True
    )
    # the child's DIRECT FILTERs fold into the join condition —
    # SPARQL's LeftJoin(P1, P2, F) (§18.2.2.2): a match failing F is
    # kept null-extended, not dropped. The equi-conjuncts still drive a
    # hash join; the filter rides as the residual join predicate.
    # String-function leaves attach the variable's dictionary term to
    # whichever join SIDE binds the variable before the left join; a
    # dangling term yields NULL → the condition errors →
    # null-extension, SPARQL's error-in-F behavior.
    gflts = opt.filters
    gstr_set = {v for expr in gflts for v in filter_expr_strfn_vars(expr)}
    if _ACTIVE_STYLE.get() == "lexical":
        # same bare-numeric-comparison attach rule as group filters
        gstr_set |= {
            v
            for expr in gflts
            for v in filter_expr_barecmp_vars(expr)
            if not sol.cols.get(v, "").startswith("vb_")
            and not rcols.get(v, "").startswith("vb_")
        }
    gterms: dict[str, str] = {}
    if gstr_set and ctx.dictionary is None:
        raise SparqlSyntaxError(
            "string-function FILTERs need a dictionary to resolve terms"
        )
    for v in sorted(gstr_set):
        tcol, sid = f"__oterm{gi}_{v}", f"__osid{gi}_{v}"
        if v in rcols:  # group-bound: attach to the group side
            gdf = _attach_term(gdf, ctx.dictionary, rcols[v], sid, tcol)
        else:  # outer-bound: attach to the accumulated side
            sol.df = _attach_term(sol.df, ctx.dictionary, sol.cols[v], sid, tcol)
        gterms[v] = tcol
    fconds = [
        _compile_filter(expr, {**sol.cols, **rcols}, gterms, ctx.litids)
        for expr in gflts
    ]
    # merged values for left-nullable vars coalesce left-then-right,
    # under the left column names
    shared_right = {rcols[v] for v in shared}
    merged = {sol.cols[v]: rcols[v] for v in lnv}
    out = [
        F.coalesce(F.col(c), F.col(merged[c])).alias(c)
        if c in merged
        else F.col(c)
        for c in sol.df.columns
    ] + [F.col(c) for c in gdf.columns if c not in shared_right]
    # no child-nullable key = one child branch, left-joined; else inner
    # joins per child branch plus the chained-anti-join remainder
    how = "inner" if rnv else "left"
    parts = []
    for l, rights in _mask_pairs(
        sol.df, sol.cols, lnv, gdf, rcols, rnv, shared, "OPTIONAL"
    ):
        remaining = l
        for rb, keys in rights:
            cond = _key_cond(sol.cols, rcols, keys)
            for fc in fconds:
                cond = cond & fc
            parts.append(l.join(rb, cond, how).select(*out))
            if rnv:
                remaining = remaining.join(rb, cond, "left_anti")
        if rnv:
            parts.append(remaining)
    sol.df = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    if gterms:
        sol.df = sol.df.drop(*gterms.values())
        sol.df = sol.df.drop(*[c + _SV for c in gterms.values()])
    for v in gorder:
        if v not in sol.cols:
            sol.cols[v] = rcols[v]
            sol.order.append(v)
            sol.nullable.add(v)  # null when the left join has no match


def _lower_minus(ctx, sol, m) -> None:
    """A MINUS child group → LEFT ANTI JOIN on the shared variables
    (SPARQL 1.1 §8.3): a binding is removed when the group produces a
    compatible binding with domain overlap (§18.5). Over nullable keys
    (`_mask_pairs`) an unbound ?v is compatible with anything, so it
    contributes no conjunct, and a pair whose key set is empty is
    dom-disjoint and removes nothing; chained anti joins per left branch
    = survives every child branch."""
    _, gdf, rcols, _, shared, lnv, rnv = _plan_child(ctx, sol, m, "m")
    if not shared:
        # positionally domain-disjoint (the variables this group shares
        # textually — e.g. a later BIND's target — are not bound YET):
        # §8.3 keeps every solution, a no-op. Fully disjoint MINUS still
        # rejects at validation.
        return
    branches = []
    for l, rights in _mask_pairs(
        sol.df, sol.cols, lnv, gdf, rcols, rnv, shared, "MINUS"
    ):
        for rb, keys in rights:
            if keys:  # §18.5: an empty key set is a dom-disjoint pair
                l = l.join(rb, _key_cond(sol.cols, rcols, keys), "left_anti")
        branches.append(l)
    sol.df = reduce(lambda a, b: a.unionByName(b), branches)


def _lower_exists(ctx, sol, item) -> None:
    """A FILTER [NOT] EXISTS child group → LEFT SEMI / LEFT ANTI join on
    the shared variables (SPARQL 1.1 §8.1.1): existence tests never add
    bindings, they only keep/remove rows. Over nullable keys
    (`_mask_pairs`) a row passes when ANY child branch matches it: each
    left branch's rows partition by FIRST matching branch (semi keeps
    them, anti feeds the next branch), and NOT EXISTS keeps what no
    branch matched. An empty key set (every shared var unbound, or none
    shared) is a literal-true condition — the nonempty-group gate, with
    the group side broadcast."""
    neg, e = item
    _, gdf, rcols, _, shared, lnv, rnv = _plan_child(ctx, sol, e, "e")
    out = []
    for l, rights in _mask_pairs(
        sol.df, sol.cols, lnv, gdf, rcols, rnv, shared, "EXISTS"
    ):
        kept = []
        for rb, keys in rights:
            cond = _key_cond(sol.cols, rcols, keys)
            if not neg:
                kept.append(l.join(rb, cond, "left_semi"))
            l = l.join(rb, cond, "left_anti")  # unmatched: try the next
        out.append(l if neg else reduce(lambda a, b: a.unionByName(b), kept))
    sol.df = reduce(lambda a, b: a.unionByName(b), out)


def _lower_bind(ctx, sol, item) -> None:
    """A BIND assignment (§10.1): a computed column over already-bound
    variables (including OPTIONAL-bound ones: NULL propagates through
    the arithmetic, leaving the target unbound — SPARQL's expression
    error semantics). Plain withColumn projections — zero extra plan
    cost, and Catalyst folds them into the surrounding stage. Targets
    holding STRING values (LANG/DATATYPE/STR/xsd:string/string
    expressions) join `sol.string_targets`: a later string expression
    referencing one uses the column as-is instead of attaching a
    dictionary term."""
    bvar, bexpr = item
    cname = f"vb_{bvar}"
    dictionary = ctx.dictionary
    lexical = _ACTIVE_STYLE.get() == "lexical"
    # §18.2.2.2 (r7): a BIND expression variable this group does not
    # bind is UNBOUND when the BIND evaluates (groups plan bottom-up) —
    # mirror the nested-group FILTER rule: compile the reference as a
    # NULL column, the expression errors → the target is unbound. Only
    # NESTED groups reach here with such variables (root-group
    # validation rejects unknown vars as typos). The NULL columns are
    # TEMPORARY (dropped below): registering the outer var as bound-NULL
    # would corrupt the parent's compatible-bindings join where that var
    # IS bound.
    missing = sorted(arith_expr_vars(bexpr) - set(sol.cols))
    fcols = sol.cols
    tmp_unb: list[str] = []
    if missing:
        fcols = dict(sol.cols)
        for mv in missing:
            cn = f"__bunb{ctx.nid()}_{mv}"
            sol.df = sol.df.withColumn(cn, F.lit(None).cast("long"))
            fcols[mv] = cn
            tmp_unb.append(cn)
    if bexpr[0] == "strexpr":
        # BIND(SUBSTR/STRBEFORE/STRAFTER/REPLACE/CONCAT/UCASE/LCASE
        # (...) AS ?y) (§17.4.3, r7): string manipulation over term
        # text. Each ID variable the expression reads gets ONE
        # dictionary term join (the strfn strategy); the functions
        # compile to JVM column expressions (substring / locate /
        # regexp_replace / concat — whole-stage codegen, no Python).
        # NULL inputs propagate through every function → the target
        # is unbound (SPARQL expression-error semantics).
        if dictionary is None:
            raise SparqlSyntaxError(
                "string-expression BINDs need a dictionary to resolve terms"
            )
        need = {
            v for v in strexpr_vars(bexpr[1]) if v not in sol.string_targets
        }
        tcols: dict[str, str] = {}
        for v in sorted(need):
            bi = ctx.nid()
            tcol = f"__sterm{bi}_{v}"
            tcols[v] = tcol
            if v in missing:
                # outer-unbound reference: its term is NULL — no
                # dictionary join needed
                sol.df = sol.df.withColumn(tcol, F.lit(None).cast("string"))
                if lexical:
                    sol.df = sol.df.withColumn(
                        tcol + _SV, F.lit(None).cast("string")
                    )
                continue
            sol.df = _attach_term(
                sol.df, dictionary, sol.cols[v], f"__ssid{bi}", tcol
            )

        def _idc(v):
            return F.col(fcols[v])

        def _tc(v):
            if v in sol.string_targets:
                return None  # string target IS its own STR value
            if lexical:
                # the dictionary-side derived STR value (sof/svar
                # consumes it verbatim under this style)
                return F.col(tcols[v] + _SV)
            return F.col(tcols[v])

        sol.df = sol.df.withColumn(
            cname, _compile_strexpr(bexpr[1], _idc, _tc, fcols)
        )
        if tcols or tmp_unb:
            sol.df = sol.df.drop(*tcols.values(), *tmp_unb)
            sol.df = sol.df.drop(*[c + _SV for c in tcols.values()])
        sol.cols[bvar] = cname
        sol.order.append(bvar)
        sol.nullable.add(bvar)
        sol.string_targets.add(bvar)
        return
    if bexpr[0] in ("termfn_expr", "cast_expr"):
        # BIND(LANG(?x) AS ?l) / BIND(DATATYPE(?x) AS ?d): attach the
        # source variable's dictionary term (one broadcast left join,
        # same as the strfn strategy) and compute the STRING value
        # column-side. IRIs/blanks/unbound ERROR → NULL → the target is
        # unbound for those solutions (always nullable).
        _, fn, src_var = bexpr
        if dictionary is None:
            raise SparqlSyntaxError(
                "LANG()/DATATYPE()/STR()/xsd:T() BINDs need a "
                "dictionary to resolve terms"
            )
        bi = ctx.nid()
        tcol = f"__bterm{bi}_{src_var}"
        if src_var in missing:
            # outer-unbound reference: id and term are both NULL — no
            # dictionary join needed; the fn errors → unbound
            sol.df = sol.df.withColumn(tcol, F.lit(None).cast("string"))
            if lexical:
                sol.df = sol.df.withColumn(
                    tcol + _SV, F.lit(None).cast("string")
                )
        else:
            sol.df = _attach_term(
                sol.df, dictionary, sol.cols[src_var], f"__bsid{bi}", tcol
            )
        idc, tc = F.col(fcols[src_var]), F.col(tcol)
        if bexpr[0] == "cast_expr":
            # BIND(xsd:T(?x) AS ?y) (§17.5, r7): typed-VALUE column from
            # the term text; uncastable kinds → NULL → unbound
            ex = _term_cast(fn, idc, tc)
        elif fn == "str":
            # STR(?x) (§17.4.2.5): localized = term text
            # (dictionary-absent id = integer literal, decimal form);
            # lexical = the dictionary-side derived value
            ex = (
                F.col(tcol + _SV)
                if lexical
                else F.when(idc.isNotNull(), F.coalesce(tc, idc.cast("string")))
            )
        elif fn == "lang":
            ex = _term_lang(idc, tc)
        else:
            ex = _term_datatype(idc, tc)
        sol.df = sol.df.withColumn(cname, ex).drop(tcol, *tmp_unb)
        if lexical:
            sol.df = sol.df.drop(tcol + _SV)
        sol.cols[bvar] = cname
        sol.order.append(bvar)
        sol.nullable.add(bvar)
        if bexpr[0] == "termfn_expr":
            sol.string_targets.add(bvar)  # STR/LANG/DATATYPE are strings
        return
    btm: dict[str, str] | None = None
    bhelpers: list[str] = []
    if lexical and dictionary is not None and bexpr[0] != "var":
        # lexical store (r11): BIND arithmetic over PATTERN variables
        # evaluates typed numeric VALUES, not encoded ids (lexicographic
        # ranks there) — attach each id-valued operand's term and route
        # through _term_numeric via _compile_arith's termmap, the same
        # value semantics as the cmp FILTER leaf. Computed (vb_/string)
        # sources and outer-unbound NULL columns already hold values;
        # identity binds COPY the id column.
        btm = {}
        for v in sorted(arith_expr_vars(bexpr)):
            col = fcols.get(v, "")
            if v in missing or col.startswith("vb_") or v in sol.string_targets:
                continue
            bi = ctx.nid()
            tcol = f"__baterm{bi}_{v}"
            sol.df = _attach_term(sol.df, dictionary, col, f"__baid{bi}", tcol)
            btm[v] = tcol
            bhelpers += [tcol, tcol + _SV]
    sol.df = sol.df.withColumn(cname, _compile_arith(bexpr, fcols, btm))
    if bhelpers:
        sol.df = sol.df.drop(*bhelpers)
    if tmp_unb:
        sol.df = sol.df.drop(*tmp_unb)
    sol.cols[bvar] = cname
    sol.order.append(bvar)
    # bool(btm): a lexically-routed operand can be a non-numeric term —
    # a type ERROR (NULL) leaves the target unbound (§17.3)
    if missing or bool(btm) or arith_expr_vars(bexpr) & sol.nullable:
        sol.nullable.add(bvar)


def _lower_values(ctx, sol, item) -> None:
    """A single-variable VALUES block → isin() over the resolved ids: an
    In predicate Catalyst pushes into the Parquet scan (bounded by query
    size, like all constant encoding — never a data-sized driver
    structure)."""
    var, entries = item
    ids = [_slot_id(ctx.term_ids, e) for e in entries]
    if var not in sol.cols:
        # §18.2.2.2: inline VALUES is a JOIN with the data block — a
        # variable no EARLIER clause bound joins as a fresh binding (each
        # solution replicates per value; the block is query-sized, so
        # the literal relation broadcasts)
        vcol = f"vv{ctx.nid()}_{var}"
        vals_df = sol.df.sparkSession.createDataFrame(
            [(i,) for i in ids], f"{vcol} long"
        )
        sol.df = sol.df.crossJoin(F.broadcast(vals_df))
        sol.cols[var] = vcol
        sol.order.append(var)
        return
    if var not in sol.nullable:
        sol.df = sol.df.filter(F.col(sol.cols[var]).isin(ids))
        return
    # §18.2.1: an unbound ?var is compatible with EVERY data row of the
    # VALUES block and the merged solution binds it — so the unbound
    # rows replicate once per value (a broadcast cross join against the
    # query-sized literal relation), while bound rows keep the isin
    # pushdown filter
    vcol = f"__vals{ctx.nid()}"
    vals_df = sol.df.sparkSession.createDataFrame(
        [(i,) for i in ids], f"{vcol} long"
    )
    c = F.col(sol.cols[var])
    bound_b = sol.df.filter(c.isNotNull()).filter(c.isin(ids))
    null_b = (
        sol.df.filter(c.isNull())
        .crossJoin(F.broadcast(vals_df))
        .withColumn(sol.cols[var], F.col(vcol))
        .drop(vcol)
    )
    sol.df = bound_b.unionByName(null_b)
    sol.nullable.discard(var)  # every surviving row binds ?var


def _rows_unifiable(a, b) -> bool:
    """Two VALUES rows are UNIFIABLE when some solution could match both:
    every variable both rows define agrees (UNDEF constrains nothing).
    Mixed id/term slots count as potentially-equal (a term resolves to
    an id only at plan time), erring toward the exact join path."""
    return not any(
        ka == kb and ka != "undef" and va != vb
        for (ka, va), (kb, vb) in zip(a, b)
    )


def _lower_values_multi(ctx, sol, item) -> None:
    """A multi-variable VALUES block (set semantics — duplicate rows are
    rejected by the parser). A solution matching k rows must appear k
    TIMES in the VALUES join (§18.2.2.6 multiset semantics), which a row
    FILTER cannot produce — so only a block over required-bound vars
    with pairwise non-unifiable rows reduces to a filter; the rest JOIN
    a broadcast literal relation."""
    vars_, rows = item
    # a variable no EARLIER clause bound joins as a fresh binding:
    # materialize it unbound (all-NULL) and let the nullable path below
    # merge the block's values in — the data block is a JOIN
    # (§18.2.2.2), not a filter
    for v in vars_:
        if v not in sol.cols:
            c = f"vm{ctx.nid()}_{v}"
            sol.df = sol.df.withColumn(c, F.lit(None).cast("long"))
            sol.cols[v] = c
            sol.order.append(v)
            sol.nullable.add(v)
    lnv = [v for v in vars_ if v in sol.nullable]
    overlapping = any(
        _rows_unifiable(rows[i], rows[j])
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
    )
    if not lnv and not overlapping:
        # all vars required-bound and rows pairwise disjoint: the block
        # reduces to one OR-of-ANDs row filter — UNDEF slots are
        # wildcards (no conjunct), and disjointness makes the OR exactly
        # the multiset join result
        row_conds = []
        for row in rows:
            conds = [
                F.col(sol.cols[v]) == F.lit(_slot_id(ctx.term_ids, slot))
                for v, slot in zip(vars_, row)
                if slot[0] != "undef"
            ]
            row_conds.append(
                reduce(lambda a, b: a & b, conds) if conds else F.lit(True)
            )
        sol.df = sol.df.filter(reduce(lambda a, b: a | b, row_conds))
        return
    # possibly-unbound vars, or unifiable (non-disjoint) rows (r7): JOIN
    # with a broadcast literal relation (UNDEF = NULL). Left bound-mask
    # branches keep compatibility exact: in a branch, a var bound on the
    # left matches rows whose slot is UNDEF or equal (a solution matching
    # k rows joins k times — the multiset duplication the filter form
    # cannot express); an unbound var takes the row's value (coalesce
    # merge — NULL slot leaves it unbound). The join is a broadcast
    # nested-loop against a QUERY-sized relation (a few rows), bounded
    # at plan time like all constant encoding.
    vi = ctx.nid()
    rcols = {v: f"vr{vi}_{v}" for v in vars_}
    schema = ", ".join(f"{rcols[v]} long" for v in vars_)
    data = [tuple(_slot_id(ctx.term_ids, slot) for slot in row) for row in rows]
    vals_df = sol.df.sparkSession.createDataFrame(data, schema)
    colvar = {sol.cols[v]: v for v in vars_}
    branches = []
    for l, rights in _mask_pairs(
        sol.df, sol.cols, lnv, F.broadcast(vals_df), rcols, [], list(vars_),
        "VALUES",
    ):
        ((r, keys),) = rights
        conds = [
            F.col(rcols[v]).isNull() | (F.col(sol.cols[v]) == F.col(rcols[v]))
            for v in keys
        ]
        cond = reduce(lambda a, b: a & b, conds) if conds else F.lit(True)
        out = [
            F.coalesce(F.col(c), F.col(rcols[colvar[c]])).alias(c)
            if c in colvar and colvar[c] in lnv and colvar[c] not in keys
            else F.col(c)
            for c in l.columns
        ]
        branches.append(l.join(r, cond, "inner").select(*out))
    sol.df = reduce(lambda a, b: a.unionByName(b), branches)
    # a var every row DEFINES is bound in every surviving solution
    for vix, v in enumerate(vars_):
        if v in lnv and all(row[vix][0] != "undef" for row in rows):
            sol.nullable.discard(v)


def _lower_group_filters(ctx, sol, filters) -> None:
    """Group-scoped FILTER constraints, applied at group end (§18.2.2.3)
    BEFORE projection so non-projected variables filter too; Catalyst
    pushes var-vs-constant comparisons into the scans and splits
    top-level conjunctions for pushdown on both join sides.
    String-function leaves (§17.4.3) reference TERMS, but the relation
    holds dictionary-encoded ids: attach each string-filtered variable's
    term via ONE dictionary join, keyed on the id. The join is a left
    join (a dangling id yields NULL → the predicate errors → the row
    drops, SPARQL's STR-of-unbound error semantics), but Catalyst
    rewrites left-join + null-intolerant predicate into an inner join
    and pushes the string match into the DICTIONARY scan — so the match
    evaluates over |dict| distinct terms, never per solution row."""
    # §18.2.2.2 (r6): a filter variable this group does not bind is
    # UNBOUND when the filter evaluates (groups plan bottom-up) — compile
    # the reference as a NULL literal column: comparisons error → false
    # (row drops), BOUND → false, !BOUND → true. Only NESTED groups reach
    # here with such variables (the root group's validation rejects
    # unknown vars as typos).
    fvars = {v for expr in filters for v in filter_expr_vars(expr)}
    fmap = dict(sol.cols)
    unbound_cols: list[str] = []
    for v in sorted(fvars - set(sol.cols)):
        cn = f"__unb{ctx.nid()}_{v}"
        sol.df = sol.df.withColumn(cn, F.lit(None).cast("long"))
        fmap[v] = cn
        unbound_cols.append(cn)
    lexical = _ACTIVE_STYLE.get() == "lexical"
    str_vars = {v for expr in filters for v in filter_expr_strfn_vars(expr)}
    if lexical:
        # bare numeric comparisons evaluate typed VALUES over the term
        # text on lexical stores — attach terms for their variables too,
        # except computed (BIND-target) columns, which hold values and
        # compare directly
        str_vars |= {
            v
            for expr in filters
            for v in filter_expr_barecmp_vars(expr)
            if not sol.cols.get(v, "").startswith("vb_")
        }
    if any(v in sol.cols for v in str_vars) and ctx.dictionary is None:
        raise SparqlSyntaxError(
            "string-function FILTERs need a dictionary to resolve terms"
        )
    termmap: dict[str, str] = {}
    for v in sorted(str_vars):
        fi = ctx.nid()
        if v not in sol.cols:  # unbound: its term is NULL too
            cn = f"__unbt{fi}_{v}"
            sol.df = sol.df.withColumn(cn, F.lit(None).cast("string"))
            if lexical:
                sol.df = sol.df.withColumn(
                    cn + _SV, F.lit(None).cast("string")
                )
            termmap[v] = cn
            continue
        termmap[v] = f"__term{fi}_{v}"
        sol.df = _attach_term(
            sol.df, ctx.dictionary, sol.cols[v], f"__sid{fi}_{v}", termmap[v]
        )
    for expr in filters:
        sol.df = sol.df.filter(_compile_filter(expr, fmap, termmap, ctx.litids))
    if termmap:
        sol.df = sol.df.drop(*termmap.values())
        sol.df = sol.df.drop(*[c + _SV for c in termmap.values()])
    if unbound_cols:
        sol.df = sol.df.drop(*unbound_cols)


# clause kind → (lowering, GroupPattern field holding its items), in the
# historical fixed clause order a group with no recorded order uses
_LOWERINGS = {
    "closure": (_lower_closure, "closures"),
    "path": (_lower_path, "paths"),
    "subgroup": (_lower_subgroup, "subgroups"),
    "graph": (_lower_graph, "graphs"),
    "subselect": (_lower_subselect, "subselects"),
    "union": (_lower_union, "unions"),
    "optional": (_lower_optional, "optionals"),
    "bind": (_lower_bind, "binds"),
    "minus": (_lower_minus, "minuses"),
    "exists": (_lower_exists, "exists"),
    "values": (_lower_values, "values"),
    "values_multi": (_lower_values_multi, "values_multi"),
}
# clauses that need a solution to act on: leading, they start from Z
_LEFTLIKE = frozenset(
    ("optional", "bind", "minus", "exists", "values", "values_multi")
)


def _plan_group(
    ctx: _PlanCtx, grp: GroupPattern, defer_filters: bool = False,
    graph_var: str | None = None,
) -> tuple[DataFrame, dict[str, str], list[str], set[str]]:
    """Plan ONE group graph pattern recursively (SPARQL 1.1 §18.2.2.2's
    bottom-up algebra): each clause lowers in WRITTEN order into the
    group's accumulated solution (`_Sol`) through one module-level
    `_lower_*(ctx, sol, item)` function per clause kind, then the
    group's FILTERs apply (skipped when `defer_filters`: an OPTIONAL
    child's filters fold into its LeftJoin condition instead). Child
    groups plan standalone and compose — subgroups, GRAPH blocks,
    subqueries, closures and paths by inner join (`_compose_inner`),
    UNION blocks by per-arm join + multiset union, OPTIONAL by left
    join, MINUS/EXISTS by anti/semi join.

    Returns (df, var→column map, first-appearance order, nullable vars).
    Spark's NULL==x is NULL, which silently inverts SPARQL's
    unbound-is-compatible rule (§18.2.1), so joins keyed on nullable
    vars take a bound-mask branch decomposition everywhere under one
    plan-time cap (`_check_mask_cap`): the two-sided B/L0/R0
    `_compat_inner_join` behind every inner join (`_join_compatible`),
    and the left × right mask product `_mask_pairs` behind OPTIONAL,
    MINUS, EXISTS and multi-var VALUES (per-left-row semantics; a side
    with no nullable key is one unfiltered branch).

    Dispatch: §18.2.2.6 translates a group's elements in WRITTEN order,
    and the order is OBSERVABLE whenever a Join-family clause follows an
    OPTIONAL/MINUS that left a shared variable nullable (Join does not
    commute with LeftJoin/Minus — found by the clause fuzzer in
    tests/test_sparql_compat.py). Consecutive triple patterns form one
    BGP run (BGP joins commute within the run, so the most-bound-first
    ordering still applies inside it). A group whose FIRST clause is
    OPTIONAL/MINUS/BIND/VALUES/EXISTS starts from Z — the multiset
    holding one empty solution (§18.2.2.6's initial state), a
    zero-column one-row relation — so LeftJoin(Z, A) = A when A is
    nonempty else the null-extended empty solution, Extend and data
    blocks apply literally, and Minus/EXISTS gate trivially. One
    documented deviation: FILTER [NOT] EXISTS applies at its written
    position (paired with its non-substitution semi-join semantics;
    plain FILTER expressions still apply at group end per §18.2.2.3).

    ``graph_var`` set = this group is (part of) a ``GRAPH ?g`` block
    (§13.3): triple-pattern scans read the quad relation binding ?g, and
    the context inherits into every child group (OPTIONAL bodies, UNION
    arms, nested `{}`) — per §13.3 the active graph scopes the WHOLE
    enclosed pattern. A nested GRAPH block re-scopes. Constant-graph
    blocks never set this: they rewrite to a plain plan over the one
    graph's triples, so all of the closure/path/subquery machinery works
    unchanged there; under a graph VARIABLE, closures and paths run over
    (g, node) struct keys and subqueries rewrite to per-graph form."""
    sol = _Sol(graph_var)
    canonical = [("pattern", k) for k in range(len(grp.patterns))] + [
        (kind, k)
        for kind, (_, field) in _LOWERINGS.items()
        for k in range(len(getattr(grp, field)))
    ]
    entries = list(grp.seq)
    if sorted(entries) != sorted(canonical):
        # programmatically built group (no recorded order): the
        # historical fixed clause order
        entries = canonical
    i = 0
    while i < len(entries):
        kind, k = entries[i]
        if sol.df is None and kind in _LEFTLIKE:
            sol.df = ctx.store.df.sparkSession.range(1).drop("id")  # Z
        if kind == "pattern":
            run = []
            while i < len(entries) and entries[i][0] == "pattern":
                run.append(grp.patterns[entries[i][1]])
                i += 1
            _lower_pattern_run(ctx, sol, run)
            continue
        lower, field = _LOWERINGS[kind]
        lower(ctx, sol, getattr(grp, field)[k])
        i += 1
    if not defer_filters and grp.filters:
        _lower_group_filters(ctx, sol, grp.filters)
    return sol.df, sol.cols, sol.order, sol.nullable


def _dataset_scoped_store(
    store: TripleStore, bgp: BGPQuery, term_ids: dict[str, int]
) -> TripleStore:
    """Apply FROM / FROM NAMED (§13.2): when either clause is present the
    query's dataset is EXACTLY what the clauses describe — the active
    default graph is the set-union (RDF merge; graphs are sets, ids need
    no bnode standardization) of the FROM graphs, and GRAPH blocks range
    over only the FROM NAMED graphs. Both lower to `g IN (...)` filters
    over the quad relation, which push down to the scan — on a
    `write_quads` layout (partitionBy g) that is partition PRUNING: a
    query selecting 2 graphs of 10,000 reads 2 directories, the §13.2
    scale story."""
    if not (bgp.dataset_default or bgp.dataset_named):
        return store
    if store.quads is None:
        raise ValueError(
            "FROM/FROM NAMED need a store with named graphs (quads)"
        )

    from_ids = sorted({_slot_id(term_ids, s) for s in bgp.dataset_default})
    named_ids = sorted({_slot_id(term_ids, s) for s in bgp.dataset_named})
    quads = store.quads
    if not from_ids:  # FROM NAMED only: empty default graph
        default = quads.select("s", "p", "o").filter(F.lit(False))
    elif len(from_ids) == 1:  # one graph IS a set already — no distinct
        default = quads.filter(F.col("g") == F.lit(from_ids[0])).select(
            "s", "p", "o"
        )
    elif store.graphs_disjoint:
        # disjoint-graphs fast path (r7): the caller declared that no
        # triple appears in more than one graph, so the RDF merge IS the
        # plain union — no duplicate elimination, no Exchange. At scale
        # this removes a full shuffle of every selected triple (the
        # common case: partitioned loads write each triple to exactly
        # one graph). Results are identical by the declared invariant
        # (pinned in tests/test_sparql_graph.py).
        default = quads.filter(F.col("g").isin(from_ids)).select(
            "s", "p", "o"
        )
    else:
        default = (
            quads.filter(F.col("g").isin(from_ids))
            .select("s", "p", "o")
            .distinct()
        )
    named = (
        quads.filter(F.col("g").isin(named_ids))
        if named_ids
        else quads.filter(F.lit(False))
    )
    return TripleStore(
        default, quads=named, graphs_disjoint=store.graphs_disjoint
    )


def plan_bgp(
    store: TripleStore,
    bgp: BGPQuery,
    dictionary: Dictionary | None = None,
    fresh_dict_out: list | None = None,
) -> DataFrame:
    """Compose the BGP into a single DataFrame of variable bindings
    (ids). ``fresh_dict_out``: a CONSTRUCT minting fresh-per-solution
    bnodes (§16.2) appends its locally-extended Dictionary here so the
    caller can decode the minted ids."""
    token = _ACTIVE_STYLE.set(bgp.term_style)
    try:
        return _plan_bgp(store, bgp, dictionary, fresh_dict_out)
    finally:
        _ACTIVE_STYLE.reset(token)


def mint_template_bnodes(
    df: DataFrame,
    labels: list[str],
    key_cols: list[str],
    prefix: str,
    dictionary: Dictionary,
) -> tuple[DataFrame, dict[str, str], Dictionary]:
    """Template blank nodes minted fresh per row of ``df`` (CONSTRUCT
    §16.2, INSERT templates §3.1.3.2): label ``i`` of ``labels`` becomes
    the term ``prefix`` + md5(the row's ``key_cols``) + ``-i``. The same
    label co-refers across one row's template triples, distinct rows
    mint distinct nodes, and a replay re-derives the same text
    (value-equal rows mint the same node: the output is a set). The
    labels are data-sized vocabulary, so their ids come from the
    distributed incremental append, materialized eagerly so its rank
    caches release. → (``df`` plus a ``__fbl_<label>`` text and a
    ``__fbid_<i>`` id column per label, {label: id column}, the
    extended Dictionary)."""
    from rdfproject_msc_spark.sources.ntriples import extend_dictionary

    key = F.md5(
        F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols],
        )
    )
    lab_rel = None
    for i, lbl in enumerate(labels):
        df = df.withColumn(
            f"__fbl_{lbl}", F.concat(F.lit(prefix), key, F.lit(f"-{i}"))
        )
        part = df.select(F.col(f"__fbl_{lbl}").alias("term"))
        lab_rel = part if lab_rel is None else lab_rel.unionAll(part)
    parsed = lab_rel.select(
        *(F.col("term").alias(c) for c in ("s_term", "p_term", "o_term"))
    )
    caches: list = []
    fresh_ids = extend_dictionary(
        dictionary.df, parsed, caches=caches
    ).localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()  # the checkpoint no longer reads them
    ext = dictionary.extend(fresh_ids)
    id_cols: dict[str, str] = {}
    for i, lbl in enumerate(labels):
        # resolve against the EXTENDED dictionary (a minted label
        # colliding with a pre-existing bnode term must still resolve)
        m = ext.df.withColumnRenamed("id", f"__fbid_{i}").withColumnRenamed(
            "term", f"__fblt_{i}"
        )
        df = df.join(
            m, F.col(f"__fbl_{lbl}") == F.col(f"__fblt_{i}"), "left"
        ).drop(f"__fblt_{i}")
        id_cols[lbl] = f"__fbid_{i}"
    return df, id_cols, ext


def _plan_bgp(
    store: TripleStore,
    bgp: BGPQuery,
    dictionary: Dictionary | None = None,
    fresh_dict_out: list | None = None,
) -> DataFrame:
    term_ids = _encode_constants(bgp, dictionary)
    store = _dataset_scoped_store(store, bgp, term_ids)

    # term-equality FILTER literals (§17.4.1.7): resolved ONCE via a bounded
    # non-raising lookup — found literals compile to pushdown-able id
    # equalities; absent ones constant-fold (no triple can contain a term
    # the dictionary lacks). Gathered from EVERY group in the tree so each
    # compile site shares one lookup.
    streq_lits = sorted(
        {
            t
            for g in _walk_groups(bgp.where)
            for expr in g.filters
            for t in filter_expr_streq_literals(expr)
        }
        | {
            t
            for expr in bgp.having
            for t in filter_expr_streq_literals(expr)
        }
    )
    litids: dict[str, int] = {}
    if streq_lits:
        if dictionary is None:
            raise SparqlSyntaxError(
                "term-equality FILTERs need a dictionary to resolve literals"
            )
        litids = dictionary.lookup_terms(streq_lits)

    # DESCRIBE with constant resources (§16.4): one scan, two pushdown-able
    # IN filters — the description is every triple the resource appears in
    # as subject or object (documented symmetric form), as a graph set.
    if bgp.describe_terms:
        ids = [_slot_id(term_ids, slot) for slot in bgp.describe_terms]
        t = store.table_for_subject(None)
        return t.filter(
            F.col("s").isin(ids) | F.col("o").isin(ids)
        ).distinct()

    ctx = _PlanCtx(store, term_ids, dictionary, litids)
    joined, bound_cols, order, nullable_vars = _plan_group(ctx, bgp.where)

    # ASK (§16.3): existence of any solution — limit(1) stops the scan at
    # the first match (Spark plans a CollectLimit; with selective pushed
    # filters this touches a handful of row groups, never the full input),
    # then a count>0 aggregate yields the one-row boolean result.
    if bgp.ask:
        return joined.limit(1).agg(
            (F.count(F.lit(1)) > F.lit(0)).alias("ask")
        )

    # CONSTRUCT (§16.2): instantiate each template triple per solution,
    # union and de-duplicate — the output is a GRAPH (a set of id triples
    # in the engine's (s, p, o) model, ready for TripleStore ingestion).
    # A template whose variable is unbound in a solution produces NO
    # triple for that solution (§16.2 — skipped, not an error): a cheap
    # per-template isNotNull row filter, no extra shuffle.
    if bgp.construct:
        # fresh-per-solution template blank nodes (§16.2, r11): a
        # template bnode label NOT bound by the WHERE group mints one
        # fresh node per SOLUTION, keyed on its bound ids
        # (mint_template_bnodes). The extended dictionary is LOCAL —
        # returned via fresh_dict_out so decode renders the minted
        # labels. First-appearance order: the label's position, not its
        # parsed name, suffixes the minted text (anonymous [] labels
        # carry a global parse counter).
        fresh_labels: list[str] = []
        for tp in bgp.construct:
            for pos in ("s", "p", "o"):
                kind, val = tp.slots[pos]
                if (
                    kind == "var"
                    and val.startswith("__bn")
                    and val not in bound_cols
                    and val not in fresh_labels
                ):
                    fresh_labels.append(val)
        fresh_cols: dict[str, str] = {}
        if fresh_labels:
            if dictionary is None:
                raise SparqlSyntaxError(
                    "CONSTRUCT template blank nodes need a dictionary "
                    "(fresh labels mint dictionary ids)"
                )
            joined, fresh_cols, ext = mint_template_bnodes(
                joined,
                fresh_labels,
                [bound_cols[v] for v in sorted(bound_cols)],
                "_:c",
                dictionary,
            )
            if fresh_dict_out is not None:
                fresh_dict_out.append(ext)
        parts = []
        for tp in bgp.construct:
            tnull = sorted(
                (tp.variables() & nullable_vars) - set(fresh_cols)
            )
            src = joined
            for v in tnull:
                src = src.filter(F.col(bound_cols[v]).isNotNull())
            cols = []
            for pos in ("s", "p", "o"):
                kind, val = tp.slots[pos]
                if kind == "var":
                    c = fresh_cols.get(val) or bound_cols[val]
                    cols.append(F.col(c).alias(pos))
                elif kind == "id":
                    cols.append(F.lit(int(val)).cast("long").alias(pos))
                else:
                    cols.append(
                        F.lit(term_ids[val]).cast("long").alias(pos)
                    )
            parts.append(src.select(*cols))
        return reduce(lambda a, b: a.unionAll(b), parts).distinct()

    # DESCRIBE ?x WHERE {...} (§16.4): the distinct bindings of ?x are the
    # described resources — two hash SEMI-joins (subject side, object side)
    # against the triple relation, union'd and de-duplicated. Two equi-joins
    # rather than one OR-condition join: an OR join degenerates to a
    # nested-loop at scale, the union form stays hash-partitioned.
    if bgp.describe_var is not None:
        # an unbound binding names no resource and describes nothing
        # (§16.4) — filter, don't reject
        res = (
            joined.select(F.col(bound_cols[bgp.describe_var]).alias("rid"))
            .filter(F.col("rid").isNotNull())
            .distinct()
        )
        t = store.table_for_subject(None)
        by_s = t.join(res, t["s"] == res["rid"], "leftsemi")
        by_o = t.join(res, t["o"] == res["rid"], "leftsemi")
        return by_s.unionAll(by_o).distinct()

    # SELECT *: all variables in first-appearance order, minus the internal
    # ones introduced by sequence-path expansion (SPARQL 1.1 §9.1: path
    # intermediates are not visible bindings)
    proj = (
        list(bgp.projection)
        if bgp.projection is not None
        else [
            v
            for v in order
            if not v.startswith("__pp") and not v.startswith("__bn")
        ]
    )
    order_plain = [k for k, _ in bgp.order_by if not isinstance(k, tuple)]
    order_has_expr = any(isinstance(k, tuple) for k, _ in bgp.order_by)
    grouped = bool(bgp.group_by or bgp.aggregates)
    sort_pre_projection = (
        not grouped
        and bool(bgp.order_by)
        and (order_has_expr or not set(order_plain) <= set(proj))
    )

    if sort_pre_projection:
        # ORDER BY on a non-projected variable or an EXPRESSION (legal
        # SPARQL): sort + limit on the bound columns BEFORE the projection
        # renames/drops them; expression keys compile over the bound
        # variables directly (no materialized column — the sort evaluates
        # the arithmetic in place). DISTINCT + such an ORDER BY is
        # contradictory (the sort key is gone after duplicate
        # elimination) — reject rather than guess.
        if bgp.distinct:
            raise SparqlSyntaxError(
                "ORDER BY on a non-projected variable or expression "
                "cannot combine with DISTINCT"
            )

        # STR(?x) sort keys (r6): order by the DECODED term — attach the
        # variable's dictionary term via one broadcast left join (a
        # dangling id sorts as NULL), sort on it, and let the projection
        # drop the helper column. Spark string ordering is binary UTF-8,
        # matching DuckDB's default collation for oracles.
        lexical = _ACTIVE_STYLE.get() == "lexical" and dictionary is not None
        # §15.1 value ordering (r11): plain variable keys on a LEXICAL
        # store need the term attach too — ids are lexicographic ranks
        # per sign class there, so id order would interleave term kinds
        # meaninglessly. Localized stores keep id order (the reference
        # model: a dictionary-absent id IS its integer value).
        plain_value_keys = (
            {
                k
                for k, _ in bgp.order_by
                if not isinstance(k, tuple)
                and not bound_cols[k].startswith("vb_")
            }
            if lexical
            else set()
        )
        str_keys = (
            {
                k[1]
                for k, _ in bgp.order_by
                if isinstance(k, tuple) and k[0] == "str"
            }
            | {
                # xsd:T(?x) cast keys (r7) read the term text too
                k[2]
                for k, _ in bgp.order_by
                if isinstance(k, tuple) and k[0] == "cast"
            }
            | plain_value_keys
        )
        str_cols: dict[str, str] = {}
        if str_keys and dictionary is None:
            raise SparqlSyntaxError(
                "ORDER BY STR(...) / xsd:T(...) needs a dictionary to "
                "resolve terms"
            )
        for i, v in enumerate(sorted(str_keys)):
            d = _dict_relation(dictionary, f"__osid{i}", f"__oterm{i}")
            joined = joined.join(
                d, F.col(bound_cols[v]) == F.col(f"__osid{i}"), "left"
            ).drop(f"__osid{i}")
            str_cols[v] = f"__oterm{i}"

        def _key_col(k):
            if isinstance(k, tuple):
                if k[0] == "str":
                    # sort by the style's STR value: localized = the
                    # decoded term text (dangling id sorts NULL — the
                    # r6 pin); lexical = the dictionary-side derived
                    # unquoted form, so literal order does not hinge
                    # on the quoting character
                    return _sv_or(str_cols, k[1], F.col(str_cols[k[1]]))
                if k[0] == "cast":
                    # cast-VALUE sort key: numeric/date ordering over
                    # typed literals (uncastable kinds sort as NULL)
                    return _term_cast(
                        k[1],
                        F.col(bound_cols[k[2]]),
                        F.col(str_cols[k[2]]),
                    )
                return _compile_arith(k[1], bound_cols)
            return F.col(bound_cols[k])

        sort_cols: list = []
        for k, desc in bgp.order_by:
            if not isinstance(k, tuple) and k in plain_value_keys:
                sort_cols += _value_order_keys(
                    F.col(bound_cols[k]),
                    F.col(str_cols[k]),
                    F.col(str_cols[k] + _SV),
                    desc,
                )
            else:
                c = _key_col(k)
                sort_cols.append(c.desc() if desc else c.asc())
        joined = joined.orderBy(*sort_cols)
        if bgp.offset is not None:
            joined = joined.offset(bgp.offset)
        if bgp.limit is not None:
            joined = joined.limit(bgp.limit)

    order_gexpr = any(
        isinstance(k, tuple) and k[0] == "gexpr" for k, _ in bgp.order_by
    )
    if grouped:
        out = _plan_grouped(
            joined,
            bound_cols,
            bgp,
            dictionary,
            litids,
            defer_projection=order_gexpr,
        )
        if order_gexpr:
            # ORDER BY expression over the grouped output (r8):
            # `ORDER BY DESC(COUNT(?x))` — the expression's aggregates
            # lifted to hidden columns at parse time, so the sort key
            # compiles over the PRE-projection grouped output (where
            # hidden aggregate aliases still exist), then the projection
            # drops them. The sort evaluates in place — with LIMIT this
            # still plans as TakeOrderedAndProject, no materialized key.
            if bgp.distinct:
                raise SparqlSyntaxError(
                    "ORDER BY expressions over aggregates cannot "
                    "combine with DISTINCT"
                )
            gmap = {c: c for c in out.columns}

            def _gkey(k):
                if isinstance(k, tuple):
                    return _compile_arith(k[1], gmap)
                return F.col(k)

            out = out.orderBy(
                *[
                    _gkey(k).desc() if desc else _gkey(k).asc()
                    for k, desc in bgp.order_by
                ]
            )
            if bgp.offset is not None:
                out = out.offset(bgp.offset)
            if bgp.limit is not None:
                out = out.limit(bgp.limit)
            return out.select(*[F.col(c) for c in bgp.projection])
    else:
        out = joined.select(*[F.col(bound_cols[v]).alias(v) for v in proj])

    # solution modifiers — plain DataFrame ops; ORDER BY + LIMIT compiles to
    # TakeOrderedAndProject (no global sort materialization); OFFSET applies
    # between them (SPARQL 1.1 §15: slice = Slice(OrderBy(...), offset, limit))
    if bgp.distinct:
        out = out.distinct()
    if not sort_pre_projection:
        if bgp.order_by:
            lex_order = (
                _ACTIVE_STYLE.get() == "lexical" and dictionary is not None
            )
            keys: list = []
            helpers: list[str] = []
            for ki, (v, desc) in enumerate(bgp.order_by):
                # §15.1 value ordering (r11) for plain PATTERN-variable
                # keys on a lexical store (the post-projection twin of
                # the pre-projection branch above; applies to grouped
                # output too, where group keys are still id columns).
                # Computed columns (BIND targets, aggregate aliases —
                # absent from bound_cols or vb_-prefixed) hold values
                # and sort directly, as do all localized-store keys.
                if lex_order and not bound_cols.get(v, "vb_").startswith(
                    "vb_"
                ):
                    tname = f"__ovt{ki}"
                    d = _dict_relation(dictionary, f"__ovi{ki}", tname)
                    out = out.join(
                        d, F.col(v) == F.col(f"__ovi{ki}"), "left"
                    ).drop(f"__ovi{ki}")
                    helpers += [tname, tname + _SV]
                    keys += _value_order_keys(
                        F.col(v), F.col(tname), F.col(tname + _SV), desc
                    )
                else:
                    keys.append(F.col(v).desc() if desc else F.col(v).asc())
            out = out.orderBy(*keys)
            if helpers:
                out = out.drop(*helpers)
        if bgp.offset is not None:
            out = out.offset(bgp.offset)
        if bgp.limit is not None:
            out = out.limit(bgp.limit)
    return out


def _plan_grouped(
    joined: DataFrame,
    bound_cols: dict[str, str],
    bgp: BGPQuery,
    dictionary: Dictionary | None = None,
    litids: dict[str, int] | None = None,
    defer_projection: bool = False,
) -> DataFrame:
    """GROUP BY / aggregate lowering (SPARQL 1.1 §11) → groupBy/agg.

    Catalyst plans this as a partial (map-side) HashAggregate before the
    key shuffle, so the exchange carries one row per (partition, key), not
    per input row — the same shape as every analytics-side aggregation.
    COUNT maps to long (null-skipping, matching SPARQL's unbound-ignoring
    card[...]), AVG to double; COUNT(*) counts solutions including ones
    where the counted variable is unbound."""
    keys = [F.col(bound_cols[v]).alias(v) for v in bgp.group_by]
    # STR(?v) aggregate args (r7): attach each distinct variable's
    # dictionary term with ONE broadcast left join BEFORE the partial
    # aggregation — the aggregate then runs with string semantics
    str_args = sorted(
        {
            var[1]
            for _, var, _, _, _ in bgp.aggregates
            if isinstance(var, tuple) and var[0] == "str"
        }
    )
    strcols: dict[str, str] = {}
    if str_args and dictionary is None:
        raise SparqlSyntaxError(
            "STR(...) aggregates need a dictionary to resolve terms"
        )
    for i, v in enumerate(str_args):
        d = _dict_relation(dictionary, f"__gsid{i}", f"__gterm{i}")
        joined = joined.join(
            d, F.col(bound_cols[v]) == F.col(f"__gsid{i}"), "left"
        ).drop(f"__gsid{i}")
        strcols[v] = f"__gterm{i}"
    # SUM/AVG are NUMERIC aggregates (§11.4): on a LEXICAL store their
    # pattern-var arguments evaluate typed numeric VALUES via the same
    # _term_numeric routing as FILTER/BIND arithmetic (r11) — ids are
    # lexicographic ranks there, so an id sum is meaningless. Non-
    # numeric terms are type errors (NULL → skipped, §11's error-
    # removing cardinality). MIN/MAX/SAMPLE keep rank order (= term
    # order within a sign class); localized stores keep id arithmetic
    # (a dictionary-absent id IS its integer value by convention).
    numvars: set = set()
    if _ACTIVE_STYLE.get() == "lexical" and dictionary is not None:
        for func, var, _, _, _ in bgp.aggregates:
            if func not in ("sum", "avg") or var is None:
                continue
            cand = (
                {var}
                if isinstance(var, str)
                else (arith_expr_vars(var[1]) if var[0] != "str" else set())
            )
            numvars |= {
                v
                for v in cand
                if v in bound_cols and not bound_cols[v].startswith("vb_")
            }
    numcols: dict[str, str] = {}
    for i, v in enumerate(sorted(numvars)):
        d = _dict_relation(dictionary, f"__gnid{i}", f"__gnterm{i}")
        joined = joined.join(
            d, F.col(bound_cols[v]) == F.col(f"__gnid{i}"), "left"
        ).drop(f"__gnid{i}")
        numcols[v] = f"__gnterm{i}"
    aggs = []
    for func, var, distinct, alias, sep in bgp.aggregates:
        if var is None:  # COUNT(*)
            expr = F.count(F.lit(1))
        else:
            # aggregate over an expression (§11.1): the arithmetic
            # computes per solution row inside the partial aggregation —
            # still one map-side-combined pass
            if isinstance(var, tuple) and var[0] == "str":
                idc = F.col(bound_cols[var[1]])
                tc = F.col(strcols[var[1]])
                # STR value: localized = term text (absent id = decimal
                # form), lexical = the dictionary-side derived column;
                # unbound stays NULL (skipped by the null-skipping
                # aggregates, per §11's error-removing cardinality rule)
                col = _sv_or(
                    strcols,
                    var[1],
                    F.when(
                        idc.isNotNull(),
                        F.coalesce(tc, idc.cast("string")),
                    ),
                )
            elif isinstance(var, tuple):
                col = _compile_arith(
                    var[1],
                    bound_cols,
                    numcols if func in ("sum", "avg") else None,
                )
            else:
                col = F.col(bound_cols[var])
                if func in ("sum", "avg") and var in numcols:
                    col = _term_numeric(col, F.col(numcols[var]))
            if func == "count":
                expr = F.count_distinct(col) if distinct else F.count(col)
            elif func == "sum":
                expr = F.sum_distinct(col) if distinct else F.sum(col)
            elif func == "avg":
                # AVG(DISTINCT) (§11.4.5): no native distinct-avg — the
                # exact pair of distinct aggregates composes it (double
                # division per SPARQL's decimal avg; empty/all-null group
                # -> NULL via try_divide)
                expr = (
                    F.try_divide(F.sum_distinct(col), F.count_distinct(col))
                    if distinct
                    else F.avg(col)
                )
            elif func == "min":
                expr = F.min(col)
            elif func == "max":
                expr = F.max(col)
            elif func == "sample":
                # §11.4.8 leaves the choice implementation-defined; min is
                # the deterministic choice (same plan shape as MIN)
                expr = F.min(col)
            else:  # group_concat
                # §11.4.7 fixes no value order; sorting ascending before
                # joining makes the result deterministic and engine-
                # portable (DuckDB twin: string_agg(... ORDER BY v)).
                # collect_list is a holistic aggregate — the group's values
                # materialize on one executor, which is GROUP_CONCAT's
                # inherent cost at any scale, not a plan defect.
                vals = F.collect_list(col)
                if distinct:
                    vals = F.array_distinct(vals)
                expr = F.array_join(
                    F.transform(
                        F.array_sort(vals), lambda x: x.cast("string")
                    ),
                    sep,
                )
        aggs.append(expr.alias(alias))
    if aggs:
        out = joined.groupBy(*keys).agg(*aggs)
    else:
        # GROUP BY with no aggregates: the distinct grouping keys
        out = joined.select(*keys).distinct()
    # post-aggregation expressions (§11.1 — `(SUM(?x)/COUNT(?x) AS ?r)`):
    # plain computed columns over the grouped output, BEFORE HAVING so
    # constraints can reference them
    out_map = {c: c for c in out.columns}
    for alias, ast in bgp.agg_exprs:
        out = out.withColumn(alias, _compile_arith(ast, out_map))
        out_map[alias] = alias
    # HAVING (§11.5): a filter over the grouped output (group keys and
    # aggregate aliases are 1:1 column names here), applied BEFORE the
    # final projection so non-projected group keys remain filterable.
    # String-function leaves (r6) reference a GROUP KEY's term: attach it
    # via the same dictionary left join as pattern-level filters — the
    # match evaluates over |groups| rows post-aggregation.
    if bgp.having:
        hvars = {v for e in bgp.having for v in filter_expr_strfn_vars(e)}
        if _ACTIVE_STYLE.get() == "lexical":
            # bare numeric HAVING comparisons over PATTERN-VAR group
            # keys evaluate typed values on lexical stores (ids are
            # ranks) — attach their terms; aggregate aliases and
            # expression-key aliases (BIND targets) hold computed
            # values and compare directly (no attach → plain compare)
            binds = {
                bv for g in _walk_groups(bgp.where) for bv, _ in g.binds
            }
            hvars |= {
                v
                for e in bgp.having
                for v in filter_expr_barecmp_vars(e)
                if v in bgp.group_by and v not in binds
            }
        str_vars = sorted(hvars)
        tmap: dict[str, str] = {}
        if str_vars and dictionary is None:
            raise SparqlSyntaxError(
                "string functions in HAVING need a dictionary to resolve "
                "terms"
            )
        for i, v in enumerate(str_vars):
            d = _dict_relation(dictionary, f"__hsid{i}", f"__hterm{i}")
            out = out.join(
                d, F.col(out_map[v]) == F.col(f"__hsid{i}"), "left"
            ).drop(f"__hsid{i}")
            tmap[v] = f"__hterm{i}"
        for expr in bgp.having:
            out = out.filter(_compile_filter(expr, out_map, tmap, litids))
        if tmap:
            out = out.drop(*tmap.values())
            out = out.drop(*[c + _SV for c in tmap.values()])
    if defer_projection:
        # an ORDER BY expression over the grouped output needs the hidden
        # aggregate columns — the caller sorts, then projects
        return out
    return out.select(*[F.col(c) for c in bgp.projection])


def _with_construct_vocab(
    bgp: BGPQuery, dictionary: Dictionary | None
) -> Dictionary | None:
    """CONSTRUCT templates introduce NEW vocabulary as a matter of
    course (§16.2's own example emits vcard:FN over a foaf graph), so
    template constants absent from the dictionary mint ids through the
    incremental append path (r11) — the extension is QUERY-sized (the
    terms come from the query STRING, the encode_terms precedent) and
    deterministic (``rank_new_terms`` ranks), and the LOCAL extended
    dictionary serves both the plan's constant encoding and decode.
    The caller's dictionary object is untouched: the supported
    round-trip for a minted-vocabulary CONSTRUCT is ``decode=True``
    (or re-ingesting the decoded text). WHERE constants keep the
    typo-guard raise — a pattern constant the graph has never seen
    matches nothing and is a typo until proven otherwise."""
    if not bgp.construct or dictionary is None:
        return dictionary
    tpl_terms = sorted(
        {
            val
            for tp in bgp.construct
            for _, (kind, val) in tp.slots.items()
            if kind == "term"
        }
    )
    if not tpl_terms:
        return dictionary
    known = dictionary.lookup_terms(tpl_terms)
    missing = [t for t in tpl_terms if t not in known]
    if not missing:
        return dictionary
    from rdfproject_msc_spark.sources.ntriples import rank_new_terms

    rows = rank_new_terms(dictionary, missing)  # query-sized
    spark = dictionary.df.sparkSession
    ext = dictionary.df.unionAll(
        spark.createDataFrame(rows, "id long, term string")
    )
    return Dictionary(ext, broadcast_hint=dictionary.broadcast_hint)


_CLOCK_LEXICAL = re.compile(
    r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?"
)


def _validate_clock(clock) -> str | None:
    """Normalize the explicit NOW() clock to an xsd:dateTime LEXICAL:
    a ``datetime`` renders via isoformat(); a string must already be
    a dateTime lexical (a malformed clock would silently mint a
    literal no comparison matches — reject loudly instead)."""
    if clock is None:
        return None
    import datetime as _dt

    if isinstance(clock, _dt.datetime):
        return clock.isoformat()
    text = str(clock)
    if not _CLOCK_LEXICAL.fullmatch(text):
        raise SparqlSyntaxError(
            f"clock must be an xsd:dateTime lexical "
            f"(YYYY-MM-DDThh:mm:ss[.s…][Z|±hh:mm]), got {text!r}"
        )
    return text


def sparql_to_df(
    store: TripleStore,
    query: str,
    dictionary: Dictionary | None = None,
    decode: bool = False,
    term_style: str | None = None,
    strict_terms: bool = True,
    clock: "str | object | None" = None,
) -> DataFrame:
    """Parse + plan; optionally decode result ids back to terms (J5).
    ``term_style="lexical"`` matches constants against full N-Triples
    lexical forms — the convention of dictionaries BUILT from raw RDF
    (sources/ntriples.py); default is the reference's localized form.
    ``strict_terms=False`` (r11): the typo guards lift — constants
    absent from the dictionary match NOTHING (§5.2's empty result, the
    0-sentinel lowering) instead of raising, and fully
    variable-disjoint MINUS / EXISTS groups evaluate per spec (§18.5
    removes nothing / nonemptiness gate) instead of rejecting.
    ``clock`` (r12): an explicit xsd:dateTime lexical (or a
    ``datetime``) that folds every bare ``NOW()`` to that CONSTANT at
    parse time — determinism and Spark retry semantics hold because
    the value is part of the plan; without it the NOW() reject
    stands (parser.py `_CLOCK`)."""
    token = _STRICT_MODE.set(strict_terms)
    clock_token = _PARSER_CLOCK.set(_validate_clock(clock))
    try:
        return _sparql_to_df_inner(
            store, query, dictionary, decode, term_style
        )
    finally:
        _PARSER_CLOCK.reset(clock_token)
        _STRICT_MODE.reset(token)


def id_columns(bgp: BGPQuery, columns: list[str]) -> list[str]:
    """The result ``columns`` that may hold dictionary ids — the ones a
    decode maps to terms. Aggregate aliases, post-aggregation
    expression aliases and computed BIND targets hold VALUES: decoding
    them would turn a COUNT of 3 into whatever term holds id 3. An
    IDENTITY bind ``BIND(?x AS ?y)`` copies an id column and does
    decode. (Decoders also skip non-integral columns by dtype.)"""
    computed = (
        {alias for _, _, _, alias, _ in bgp.aggregates}
        | {alias for alias, _ in bgp.agg_exprs}
        | {
            bv
            for g in _walk_groups(bgp.where)
            for bv, bexpr in g.binds
            if not (
                isinstance(bexpr, tuple)
                and len(bexpr) == 2
                and bexpr[0] == "var"
            )
        }
    )
    return [c for c in columns if c not in computed]


def _sparql_to_df_inner(
    store, query, dictionary, decode, term_style
) -> DataFrame:
    bgp = parse_sparql(query, term_style=term_style)
    dictionary = _with_construct_vocab(bgp, dictionary)
    fresh_out: list = []
    df = plan_bgp(store, bgp, dictionary, fresh_dict_out=fresh_out)
    if fresh_out:
        # fresh-per-solution CONSTRUCT bnodes minted ids — decode
        # through the locally-extended dictionary
        dictionary = fresh_out[-1]
    if decode:
        if dictionary is None:
            raise SparqlSyntaxError("decode=True requires a dictionary")
        columns = id_columns(bgp, df.columns)
        # decode joins would otherwise destroy the query's ORDER BY (a
        # shuffled dictionary join re-partitions arbitrarily): capture a
        # sort-consistent ordinal BEFORE the joins (monotonic ids are
        # partition-major, and a global sort range-partitions, so the
        # ordinal order IS the sort order) and re-sort the result-sized
        # decoded output on it.
        ordered = bool(bgp.order_by)
        if ordered:
            df = df.withColumn("__ord", F.monotonically_increasing_id())
        df = dictionary.decode(df, columns)
        if ordered:
            df = df.orderBy("__ord").drop("__ord")
    return df
