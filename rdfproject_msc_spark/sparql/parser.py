"""Minimal SPARQL SELECT/BGP parser (pure Python, no external deps).

Scope matches the reference's query surface (SURVEY.md §2.8): SELECT over a
basic graph pattern of triple patterns. The reference used Jena
(MyOpVisitorBase.java:49-50) but its visitor kept only the LAST pattern of a
multi-triple BGP (static-field overwrite bug, MyOpVisitorBase.java:34-46) —
we keep ALL patterns and join them (the intended semantics, per the example
query at MyOpVisitorBase.java:132-133).

Beyond the reference: solution modifiers (DISTINCT/ORDER BY/LIMIT/OFFSET),
FILTER expressions (numeric comparisons over encoded ids combined with
&& / || / ! and parentheses, SPARQL 1.1 §17.2), FILTERs inside OPTIONAL
groups (folded into the LeftJoin condition, §18.2.2.2), OPTIONAL groups
(left joins), MINUS groups (left-anti joins), FILTER [NOT] EXISTS
(semi/anti joins), single- and multi-variable VALUES blocks (isin /
OR-of-ANDs filters), UNION blocks of group alternatives (arms joined
per-arm for compatible-binding semantics; blocks compose by join — the
generalization of the reference translator's hand-emitted Positive UNION
ALL Negative, MyOpVisitorBase.java:106-123), GROUP BY/HAVING with
COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT aggregates (§11; SAMPLE picks
the deterministic minimum, GROUP_CONCAT sorts values before joining —
both choices the spec leaves open, pinned for reproducibility),
sequence / alternation / inverse
/ closure-family property paths (§9.1 — sequences chain joins
through hidden fresh variables, alternation lowers to a UNION block,
inverse swaps the subject/object sides, `p+` lowers to DISTINCT
reachability pairs via operators.graph.transitive_closure, `p*` adds
the §18.4 zero-length pairs — every graph term relates to itself —
and `p?` is the zero-length pairs plus a single hop), all four
query forms — SELECT, ASK (§16.3), CONSTRUCT (§16.2), DESCRIBE (§16.4)
— and PREFIX expansion (the reference's Jena front-end resolved prefixes
before normalization, MyOpVisitorBase.java:49,74-78). Negated property sets `!(:p1|:p2)` compile to a NOT-IN scan predicate.
BIND(expr AS ?var) (§10.1) assigns integer arithmetic (+ - * with
parentheses) over previously-bound variables to a fresh variable,
usable by FILTER / projection / GROUP BY / ORDER BY; NULL (unbound)
inputs propagate, matching SPARQL's expression-error-leaves-unbound.
SELECT expression items `(arith AS ?alias)` (§18.2.4.4 Extend)
desugar onto the same machinery as synthetic BINDs.
FILTER also accepts the string functions REGEX (with the optional "i"
flag) / CONTAINS / STRSTARTS / STRENDS over `?var` or `STR(?var)`
(§17.4.3), fully composable with the boolean connectives: the planner
attaches the variable's dictionary term via a join and compiles the
match as a column predicate — Catalyst pushes the string match to the
(far smaller) dictionary side, the textbook evaluation strategy for
string predicates over dictionary-encoded data.
Round 5 made the group grammar RECURSIVE: `_parse_group` scans any
group graph pattern into a GroupPattern tree — nested `{}` subgroups,
OPTIONAL/MINUS/EXISTS bodies and UNION arms are full groups at
arbitrary depth, `{ SELECT ... }` subqueries (§12) parse standalone
with outer prefixes in scope, and composite property paths with
closures inside sequences/alternations (`p1/p2*`, `(p1|p2)+`) parse
into path ASTs via `_parse_path_expr`.
Out of scope, rejected explicitly: inverse/sequence members inside
negated sets and string functions inside HAVING (grouped output is
numeric). Nested-group FILTERs and BINDs referencing outer variables
ARE accepted and evaluate the unbound reference per §18.2.2.2 —
FILTER: error → filter-false; BIND: error → target unbound (r7). Multi-variable VALUES rows support
UNDEF wildcards and (since r7) NON-disjoint rows: pairwise-disjoint
blocks compile to the cheap OR-of-ANDs row filter, unifiable rows take
the broadcast-relation JOIN lowering that produces the spec's multiset
duplication.
Term-kind accessors (LANG, DATATYPE,
isIRI/isLiteral/isBlank/isNumeric, LANGMATCHES) ARE supported — they
compile to dictionary-side column predicates over the term-text
grammar (planner `_term_lang`/`_term_datatype`). FILTER
comparison sides accept full integer arithmetic (the BIND grammar:
`FILTER(?a - ?b > 5 * ?c)`), and string functions ARE allowed in
OPTIONAL-scoped FILTERs: the term column attaches to whichever join
side binds the variable and the predicate rides in the LeftJoin
condition.
Typed-literal VALUE comparisons (r7, §17.3 operand mapping):
`FILTER(?d >= "2020-02-15"^^xsd:date)`, `FILTER(?p > 19.5)` and the
decimal/double/float/dateTime forms compile to comparisons over a
value column derived from the dictionary term text (('valcmp', var,
op, kind, value) leaves — planner `_term_numeric`/`_term_temporal`);
integer-typed literals keep collapsing to the id model, and plain /
unknown-datatype literals stay term-identity-only (=, !=).
Constructor casts (§17.5): `BIND(xsd:integer(STR(?x)) AS ?n)` and the
decimal/double/float/date/dateTime/string targets lower to
('cast_expr', kind, var) — typed VALUE columns over the term text
(planner `_term_cast`; xsd:string ≡ STR); ORDER BY accepts
`[ASC|DESC](xsd:T(?x))` cast keys for VALUE ordering (plain `ORDER BY
?v` deliberately keeps the engine's encoded-id order, which the
modifier tests pin — use a cast key or STR(?v) for value/term order).
String-manipulation BINDs (r7, §17.4.3): SUBSTR / STRBEFORE /
STRAFTER / REPLACE / CONCAT / UCASE / LCASE over STR(?x), literals,
earlier string BIND targets and each other (nested), lowered to
('strexpr', tree) — `_parse_str_expr` — and compiled to JVM column
expressions with one dictionary join per distinct source variable.

Structure. Every expression parser runs over one `_Tokens` cursor,
which carries the grammar's error label ("bad FILTER / BIND / string
expression") and the argument shapes calls share (`?v`, `?v` or
`STR(?v)`, string and integer literals, an operator). There is one
grammar per expression kind: FILTER (`_parse_filter_expr` — the
connectives over `_comparison`, whose function-call leaves are the
`_FILTER_CALLS` table of `_f_*(cursor, name)` parsers), arithmetic
(`_arith` — BIND bodies and every FILTER comparison operand) and
string manipulation (`_parse_str_expr` — the `_STR_CALLS` table);
the property-path parser walks a path's characters with the same
cursor. The FILTER leaf kinds live in one table (`_LEAVES`: variables
read, and whether through ids, one literal lookup, or the term text)
that one walker serves all five `filter_expr_*` collectors from.
`parse_sparql` runs module-level phases in a fixed order: query form
(`_query_form`), WHERE group, GROUP BY expression keys, projection and
aggregates (`_projection`), scope checks (one `_check_agg_args`),
trailing VALUES, HAVING, grouping checks, ORDER BY, final checks.

Term forms (normalization mirrors MyOpVisitorBase.java:74-78):
  ?x / $x          variable
  pfx:name         declared prefix → expanded to <iri+name>, then localized
  :name            undeclared prefix kept verbatim (the dictionary stores them so)
  <http://.../x>   IRI: angle brackets stripped, prefix up to last '/' dropped,
                   leading ':' ensured → matches dictionary terms like ':node_...'
  "literal"        quotes stripped
  123 / -123       already-encoded integer id (passes through, no lookup)
"""

from __future__ import annotations

import contextvars
import itertools
import re
from dataclasses import dataclass, replace as _dc_replace

# VALUES rows inside a multi-variable block: `(a b)` / `(c UNDEF)`
_VALUES_ROW = re.compile(r"\(([^()]*)\)")
# group-level keyword detection for the recursive group scanner: a word is
# a keyword only when it stands alone (preceded by a delimiter and followed
# by a non-word char) — terms like :node_OPTIONAL2 never match
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# a `?v` / `$v` variable in modifier and VALUES text
_VAR_NAME = re.compile(r"[?$](\w+)")
_GROUP_KEYWORDS = frozenset(
    {"OPTIONAL", "MINUS", "FILTER", "BIND", "VALUES", "UNION", "GRAPH", "SERVICE"}
)
# FILTER: boolean expressions over comparisons combined with `&&` / `||`
# / `!` and parentheses (SPARQL 1.1 §17.2). Numeric comparisons act on
# the dictionary-encoded ids, which IS this engine's data model (the
# reference's own SQL compares encoded ids directly,
# PartitionQueryingSubject.java:130); string-valued leaves (term
# equality, [NOT] IN with terms, REGEX/CONTAINS/STRSTARTS/STRENDS,
# BOUND) each have dedicated leaf forms below, as do the term-kind
# accessors (LANG/DATATYPE/isIRI/isLiteral/isBlank/isNumeric/
# LANGMATCHES — evaluated over the dictionary term text), as do
# constructor-cast and accessor comparisons (castcmp).
#
# Expression AST (BGPQuery.filters elements):
#   (var, op, ('num', int) | ('var', name))   comparison leaf
#   ('not', expr) / ('and', a, b) / ('or', a, b)
# A node is a leaf iff node[1] is an operator symbol.
# note: `-?\d+` precedes the bare `-` so negative literals keep lexing as
# one token; the arithmetic parser re-splits a negative number where a
# binary operator was expected (`?a -3` ≡ `?a - 3`)
_FILTER_TOKEN = re.compile(
    r'\s*(\(|\)|&&|\|\||<[^>\s]*>|!=|<=|>=|=|<|>|!|[?$]\w+'
    r"|-?\d+\.\d+(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+|-?\d+"
    r'|"(?:[^"\\]|\\.)*"(?:\^\^(?:<[^>\s]*>|\w*:\w+))?'
    r'|\w+:\w+|:\w+|,|\+|-|\*|/|\w+)'
)
_CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")
# string-valued FILTER functions (SPARQL 1.1 §17.4.3): evaluated against the
# DICTIONARY terms, not the encoded ids — the planner attaches the term via a
# dictionary join and Catalyst pushes the match to the dictionary side (the
# textbook dictionary-encoding evaluation strategy). The STR() wrapper is
# accepted and means the same thing (ids ARE term references here).
# AST leaf: ('strfn', name, var, pattern, flags) — 5-tuple, distinguishable
# from the 3-tuple comparison leaf.
_STR_FNS = ("regex", "contains", "strstarts", "strends")
# BIND assignment (§10.1): `BIND(expr AS ?var)` — integer arithmetic over
# previously-bound variables (+ - * with parentheses; the engine's values
# ARE integers). AST nodes: ('num', n) | ('var', v) | (op, a, b).
_BIND_AS = re.compile(r"\sAS\s+[?$](?P<var>\w+)\s*$", re.I)
# tokens inside the BGP: quoted literal (ECHAR escapes, §19.8) with an
# optional ^^datatype or @lang suffix | <iri> | anything non-space
_TOKEN = re.compile(
    r'"(?:[^"\\]|\\.)*"(?:\^\^\S+|@[A-Za-z][A-Za-z0-9-]*)?|<[^>]*>|\S+'
)

# xsd integer datatypes whose typed literals ARE ids in this engine's
# integer-encoded data model ("123"^^xsd:integer ≡ 123)
_INT_DATATYPES = frozenset(
    {":integer", ":int", ":long", ":short", ":byte",
     ":nonNegativeInteger", ":positiveInteger"}
)

# ECHAR escape decoding (§19.8): the five SPARQL string escapes plus the
# escaped quote/backslash; an unknown escape is a syntax error
_ECHARS = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _unescape(text: str) -> str:
    """Decode ECHAR escapes inside a (quote-stripped) string literal."""
    if "\\" not in text:
        return text
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\\":
            if i + 1 >= n or text[i + 1] not in _ECHARS:
                raise SparqlSyntaxError(
                    f"bad string escape in literal: {text!r}"
                )
            out.append(_ECHARS[text[i + 1]])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _skip_string(src: str, i: int) -> int:
    """src[i] == '\"': return the index just past the closing quote,
    honoring backslash escapes."""
    i += 1
    n = len(src)
    while i < n:
        c = src[i]
        if c == "\\":
            i += 2
            continue
        if c == '"':
            return i + 1
        i += 1
    raise SparqlSyntaxError("unterminated string literal")
# SELECT header up to (and excluding) the WHERE group's opening brace;
# the group itself is brace-SCANNED (a regex-anchored trailing `}` would
# mis-split queries whose modifiers contain braces — trailing VALUES)
# REDUCED (§9.9.2) *permits* duplicate elimination without requiring it;
# returning the multiset unchanged is conformant, so it parses as a no-op
# one parenthesized projection item, nested to depth 6 — enough for
# `(CONCAT("<", UCASE(SUBSTR(STR(?o), 1, 2)), ">") AS ?t)`-class
# expressions (regexes cannot match arbitrary nesting; deeper forms can
# always be written as a BIND, whose body is brace-scanned)
_PAREN4 = r"[^()]*"
# depth 10 (r8: was 6 — the DuckDB string-expression fuzz found a legal
# 7-deep SUBSTR/UCASE chain the projection regex rejected)
for _ in range(10):
    _PAREN4 = r"\((?:[^()]|" + _PAREN4 + r")*\)"
_QUERY = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"SELECT\s+(?:(?P<distinct>DISTINCT)\s+|REDUCED\s+)?"
    r"(?P<proj>\*|(?:(?:[?$]\w+|" + _PAREN4 + r")\s*)+)\s*"
    r"(?P<dataset>(?:FROM\s+(?:NAMED\s+)?\S+\s*)*)"
    r"WHERE\s*(?=\{)",
    re.I | re.S,
)
# one dataset clause (§13.2) inside the _QUERY 'dataset' group
_FROM_CLAUSE = re.compile(r"FROM\s+(?P<named>NAMED\s+)?(?P<src>\S+)", re.I)
# projection items: a plain variable, or a parenthesized aggregate
# `(AGG([DISTINCT] ?v|*) AS ?alias)` (SPARQL 1.1 §11; one paren level)
_PROJ_ITEM = re.compile(r"[?$]\w+|" + _PAREN4)
# date/time accessors and numeric rounders (§17.4.5, §17.4.4): typed-VALUE
# derivations over the term text, in FILTER comparisons, BIND bodies,
# aggregate args and ORDER BY keys
_VALUE_FNS = ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
              "FLOOR", "CEIL", "ROUND")
_VALUE_FN_RE = "|".join(_VALUE_FNS)
_AGG_ITEM = re.compile(
    r"^\(\s*(?P<func>COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)\s*\(\s*"
    r"(?P<distinct>DISTINCT\s+)?"
    r"(?P<arg>\*|STR\s*\(\s*[?$]\w+\s*\)"
    # cast / accessor call args (r7): `SUM(xsd:decimal(?p))`,
    # `MIN(YEAR(?d))`, `COUNT(STRLEN(?x))` — desugared below onto a
    # synthetic BIND, so the aggregate itself sees a plain variable
    r"|(?:xsd:\w+|" + _VALUE_FN_RE + r"|STRLEN)"
    r"\s*\(\s*(?:STR\s*\(\s*[?$]\w+\s*\)|[?$]\w+)\s*\)"
    # one function call with args nested up to two levels (r8):
    # `GROUP_CONCAT(UCASE(STR(?s)))`, `MIN(SUBSTR(STR(?x), 1, 3))` —
    # anchored on a leading callable name so `COUNT(?a) + COUNT(?b)`
    # still falls through to the SELECT-expression agg-lifting path
    r"|(?:xsd:)?[A-Za-z_]\w*\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
    r"|[^();]+?)\s*"
    r'(?:;\s*SEPARATOR\s*=\s*"(?P<sep>[^"]*)"\s*)?\)\s+'
    r"AS\s+[?$](?P<alias>\w+)\s*\)$",
    re.I,
)
# a cast/accessor aggregate arg (the r7 desugar branch above)
_AGG_CALL_ARG = re.compile(
    r"(?:xsd:\w+|" + _VALUE_FN_RE
    + r"|STRLEN|SUBSTR|STRBEFORE|STRAFTER|REPLACE|CONCAT|UCASE|LCASE"
    r"|MD5|SHA1|SHA256|SHA384|SHA512|ENCODE_FOR_URI)\s*\(.*\)",
    re.I | re.S,
)
# non-aggregate SELECT expression `(arith AS ?alias)` (§18.2.4.4 Extend):
# desugars onto the BIND machinery — the alias becomes a synthetic BIND
# appended after the written ones, so scoping/freshness validation and the
# planner lowering are shared
_EXPR_ITEM = re.compile(r"^\(\s*(?P<expr>.+?)\s+AS\s+[?$](?P<alias>\w+)\s*\)$", re.S)
_GROUP = re.compile(r"GROUP\s+BY\s+(?P<keys>(?:[?$]\w+\s*)+)", re.I)
_HAVING = re.compile(r"HAVING\s*\(", re.I)
# aggregate calls INSIDE a HAVING body (§11.5): lifted to hidden aliases
_HAVING_AGG = re.compile(
    # arg: a variable, *, or a paren-free arithmetic expression over
    # variables/integers (r8 — `HAVING(SUM(?a * ?b) > 5)`,
    # `ORDER BY DESC(SUM(?a + 1))`); parenthesized sub-expressions inside
    # an aggregate arg stay unsupported (regex cannot nest) and keep the
    # named reject
    r"\b(COUNT|SUM|AVG|MIN|MAX|SAMPLE)\s*\(\s*(DISTINCT\s+)?"
    r"([?$]\w+(?:\s*[-+*/]\s*(?:[?$]\w+|-?\d+))+|[?$]\w+|\*)\s*\)",
    re.I,
)
# ASK query form (§16.3): boolean existence of any solution
_ASK = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"ASK\s*(?P<dataset>(?:FROM\s+(?:NAMED\s+)?\S+\s*)*)"
    r"(?:WHERE\s*)?\{(?P<bgp>.*)\}\s*$",
    re.I | re.S,
)
# CONSTRUCT query form (§16.2): template graph instantiated per solution.
# The template is plain triples (no groups/paths — per the grammar), so its
# braces are flat; the WHERE group may nest
_CONSTRUCT = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"CONSTRUCT\s*\{(?P<tpl>[^{}]*)\}\s*"
    r"(?P<dataset>(?:FROM\s+(?:NAMED\s+)?\S+\s*)*)"
    r"WHERE\s*\{(?P<bgp>.*)\}"
    r"\s*(?P<mods>[^{}]*?)\s*$",
    re.I | re.S,
)
# the §16.2.4 short form `CONSTRUCT WHERE { triples }`: template ≡
# pattern — the grammar restricts the WHERE to a plain TriplesTemplate
# (no FILTER/OPTIONAL/paths), which the template parser enforces
_CONSTRUCT_WHERE = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"CONSTRUCT\s*"
    r"(?P<dataset>(?:FROM\s+(?:NAMED\s+)?\S+\s*)*)"
    r"WHERE\s*\{(?P<bgp>[^{}]*)\}"
    r"\s*(?P<mods>[^{}]*?)\s*$",
    re.I | re.S,
)
# DESCRIBE query form (§16.4): either constant resources (no WHERE), or
# ONE variable scoped by a WHERE group
_DESCRIBE_TERMS = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"DESCRIBE\s+(?P<what>[^{}]+?)\s*$",
    re.I | re.S,
)
_DESCRIBE_VAR = re.compile(
    r"^\s*(?P<prefixes>(?:(?:PREFIX\s+\S+\s*|BASE\s*)<[^>]*>\s*)*)"
    r"DESCRIBE\s+(?P<var>[?$]\w+)\s*"
    r"(?P<dataset>(?:FROM\s+(?:NAMED\s+)?\S+\s*)*)"
    r"WHERE\s*\{(?P<bgp>.*)\}\s*$",
    re.I | re.S,
)
_PREFIX_DECL = re.compile(r"PREFIX\s+([\w.\-]*):\s*<([^>]*)>", re.I)
_BASE_DECL = re.compile(r"BASE\s*<([^>]*)>", re.I)
# IRIs with a scheme are absolute — everything else resolves against
# the prolog's BASE (when declared)
_IRI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*:")


def _resolve_against_base(base: str, ref: str) -> str:
    """RFC 3986 resolution that PRESERVES a trailing empty fragment —
    ``urljoin`` drops the '#' from ``rel#``, but a namespace IRI's
    trailing '#' is load-bearing (every localname concatenates after
    it)."""
    from urllib.parse import urljoin

    out = urljoin(base, ref)
    if ref.endswith("#") and not out.endswith("#"):
        out += "#"
    return out


def _build_prolog_map(
    prolog_src: str, outer: dict[str, str] | None
) -> dict[str, str]:
    """PREFIX declarations + the prolog's BASE (§4.1.1-2) as one map.
    The base rides under the reserved key ``"@base"`` (never a legal
    prefix name — prefix lookups split on ':' and cannot produce it);
    the LAST BASE wins, and declared prefix IRIs that are themselves
    relative resolve against it (the spec resolves each against the
    base in force at its declaration — this subset applies the final
    base, exact whenever a query declares at most one BASE, which the
    grammar group here guarantees by accepting one prolog run)."""
    out = dict(outer or {})
    for bm in _BASE_DECL.finditer(prolog_src):
        out["@base"] = bm.group(1)
    base = out.get("@base")
    for pm in _PREFIX_DECL.finditer(prolog_src):
        iri = pm.group(2)
        if base and not _IRI_SCHEME.match(iri):
            iri = _resolve_against_base(base, iri)
        out[pm.group(1)] = iri
    return out
_LIMIT = re.compile(r"LIMIT\s+(?P<n>\d+)", re.I)
_OFFSET = re.compile(r"OFFSET\s+(?P<n>\d+)", re.I)


class SparqlSyntaxError(ValueError):
    pass


@dataclass(frozen=True)
class TriplePattern:
    """One pattern; each slot is ('var', name) | ('term', text) | ('id', int)."""

    s: tuple[str, object]
    p: tuple[str, object]
    o: tuple[str, object]

    @property
    def slots(self):
        return {"s": self.s, "p": self.p, "o": self.o}

    def bound_count(self) -> int:
        # 'notin' (negated property set) binds nothing selective — it
        # excludes a handful of predicates — so it ranks like a variable
        # for the most-bound-first join ordering
        return sum(
            1
            for kind, _ in (self.s, self.p, self.o)
            if kind not in ("var", "notin")
        )

    def variables(self) -> set[str]:
        return {v for kind, v in (self.s, self.p, self.o) if kind == "var"}


@dataclass(frozen=True)
class GroupPattern:
    """One group graph pattern (SPARQL 1.1 §5.2) — the RECURSIVE unit.

    A group holds its own triple patterns, closure paths, FILTERs, BINDs
    and VALUES, plus CHILD groups: plain nested `{ ... }` subgroups (joined
    in, §18.2.2.2 Join), OPTIONAL groups (LeftJoin), UNION blocks of arm
    groups (multiset union), MINUS groups (anti-join) and FILTER [NOT]
    EXISTS groups (semi/anti-join). Children are full GroupPatterns, so
    OPTIONAL-inside-OPTIONAL, OPTIONAL-inside-UNION-arms and arbitrary
    brace nesting all compose — the surface Jena accepted for the
    reference (MyOpVisitorBase.java:49) but its translator never handled.

    The sequence protocol (len / index / iterate) delegates to `patterns`:
    a flat group IS its pattern list to existing consumers, so code (and
    pinned tests) written against the pre-recursive tuple-of-patterns
    representation keeps reading naturally."""

    patterns: tuple[TriplePattern, ...] = ()
    # FILTER expression ASTs scoped to this group. For an OPTIONAL child
    # these fold into the LeftJoin condition (§18.2.2.2); for any other
    # group they apply to the group's own solution before it composes.
    filters: tuple = ()
    # BIND assignments (§10.1): per-group Extend — expressions see only
    # THIS group's variables and earlier targets (validated recursively)
    binds: tuple[tuple[str, object], ...] = ()
    # OPTIONAL child groups → left join onto this group's solution
    optionals: tuple["GroupPattern", ...] = ()
    # UNION blocks (§5.4), each a tuple of arm groups; blocks compose by
    # join, arms by multiset union (null-extending unshared variables)
    unions: tuple[tuple["GroupPattern", ...], ...] = ()
    # MINUS child groups → left-anti join on the shared variables
    minuses: tuple["GroupPattern", ...] = ()
    # FILTER [NOT] EXISTS child groups: (negated, group) → semi/anti join
    exists: tuple[tuple[bool, "GroupPattern"], ...] = ()
    # plain nested `{ ... }` subgroups → inner join (§18.2.2.2 Join)
    subgroups: tuple["GroupPattern", ...] = ()
    # VALUES blocks: (var, allowed slots) → isin filter
    values: tuple[tuple[str, tuple[tuple[str, object], ...]], ...] = ()
    # multi-variable VALUES blocks: (vars, rows of slots) → OR-of-ANDs filter
    values_multi: tuple[
        tuple[tuple[str, ...], tuple[tuple[tuple[str, object], ...], ...]], ...
    ] = ()
    # closure-family paths `?s :p+ / :p* / :p? ?o` (§9.1): slots
    # (s, pred, o, mode) with mode in '+', '*', '?'
    closures: tuple[tuple[tuple, tuple, tuple, str], ...] = ()
    # composite path expressions `?s (:p1|:p2)+ ?o` (§9.1, nested forms):
    # (s_slot, path AST from _parse_path_expr, o_slot) — compiled by the
    # planner into a pair relation joined like a required pattern
    paths: tuple[tuple[tuple, object, tuple], ...] = ()
    # subqueries `{ SELECT ... }` (§12): full BGPQuery objects planned
    # standalone; only their PROJECTED variables are visible to this group
    # (§18.2.4.4 projection scoping) and join on the shared ones
    subselects: tuple = ()
    # GRAPH blocks (§13.3): (graph_slot, group) — the child group's scans
    # read the store's named-graph quad relation. A constant graph slot
    # (('term', t) | ('id', i)) restricts scans to ONE graph (pushdown /
    # partition pruning); a ('var', g) slot binds the graph name as a
    # solution variable shared by every pattern in the block. The block
    # joins into the group like a subgroup (§18.2.2.2 Join).
    graphs: tuple[tuple[tuple[str, object], "GroupPattern"], ...] = ()
    # the group's clauses in WRITTEN order — (kind, index-into-that-kind's
    # tuple) entries, kinds: pattern/closure/path/subgroup/graph/subselect/
    # union/optional/bind/minus/exists/values/values_multi. §18.2.2.6
    # translates a group's elements in textual order, and the order is
    # OBSERVABLE whenever a Join-family clause follows an OPTIONAL/MINUS
    # that left a shared variable nullable (LeftJoin does not commute with
    # Join) — the planner dispatches on this sequence. Empty (a
    # programmatically built group) = the fixed canonical order.
    seq: tuple[tuple[str, int], ...] = ()

    def __len__(self):
        return len(self.patterns)

    def __getitem__(self, i):
        return self.patterns[i]

    def __iter__(self):
        return iter(self.patterns)

    def required_vars(self) -> set[str]:
        """Variables bound by this group's REQUIRED parts (patterns,
        closures, subgroups, any UNION arm) — recursively. Union-arm
        variables are included (in scope per §18.2.1) even though some
        may be unbound in specific solutions; the planner tracks that
        separately as nullability."""
        out = {v for tp in self.patterns for v in tp.variables()}
        out |= {
            val
            for s, _, o, _ in self.closures
            for kind, val in (s, o)
            if kind == "var"
        }
        out |= {
            val
            for s, _, o in self.paths
            for kind, val in (s, o)
            if kind == "var"
        }
        for sub in self.subselects:
            # §12: only the subquery's projection is visible outside it
            out |= set(sub.projection)
        for sub in self.subgroups:
            out |= sub.required_vars()
        for gslot, sub in self.graphs:
            out |= sub.required_vars()
            if gslot[0] == "var":
                out.add(gslot[1])
        for blk in self.unions:
            for arm in blk:
                out |= arm.required_vars()
        return out

    def all_vars(self) -> set[str]:
        """Every variable this group can bind, including OPTIONAL-bound
        ones — recursively (the §18.2.1 in-scope set, minus BINDs)."""
        out = self.required_vars()
        for child in self.optionals + self.subgroups:
            out |= child.all_vars()
        for _, child in self.graphs:
            out |= child.all_vars()
        for blk in self.unions:
            for arm in blk:
                out |= arm.all_vars()
        return out

    def has_required_content(self) -> bool:
        return bool(
            self.patterns
            or self.closures
            or self.paths
            or self.subgroups
            or self.unions
            or self.subselects
            or self.graphs
        )


def _visible_binds(g: GroupPattern) -> set[str]:
    """BIND targets visible OUTSIDE the group (§18.2.4.4 in-scope set):
    this group's own targets plus those of its visible children —
    optionals, subgroups, GRAPH blocks and union arms (MINUS/EXISTS
    children's bindings never escape)."""
    out = {b for b, _ in g.binds}
    for child in list(g.optionals) + list(g.subgroups):
        out |= _visible_binds(child)
    for _, child in g.graphs:
        out |= _visible_binds(child)
    for blk in g.unions:
        for arm in blk:
            out |= _visible_binds(arm)
    return out


def _walk_groups(g: GroupPattern):
    """Yield every group in the tree (pre-order), self included."""
    yield g
    for child in (
        list(g.subgroups)
        + list(g.optionals)
        + list(g.minuses)
        + [e for _, e in g.exists]
        + [sub for _, sub in g.graphs]
        + [arm for blk in g.unions for arm in blk]
    ):
        yield from _walk_groups(child)


@dataclass(frozen=True)
class BGPQuery:
    projection: tuple[str, ...] | None  # None = SELECT *
    # the WHERE clause as a recursive group graph pattern tree
    where: GroupPattern = GroupPattern()
    # solution modifiers (SPARQL 1.1 §15): DISTINCT / ORDER BY / LIMIT
    distinct: bool = False
    # (key, descending) — key is a variable name, or ('expr', arith AST)
    # for a parenthesized ORDER BY expression (sorted pre-projection)
    order_by: tuple[tuple, ...] = ()
    limit: int | None = None
    # aggregation (SPARQL 1.1 §11): GROUP BY keys and projected aggregates
    # (func, var|None for COUNT(*), distinct, alias, separator) — separator
    # is GROUP_CONCAT's, None elsewhere; when either field is set the
    # planner lowers to groupBy/agg and `projection` holds the OUTPUT column
    # order (group vars and aggregate aliases interleaved as written)
    group_by: tuple[str, ...] = ()
    aggregates: tuple[tuple[str, str | None, bool, str, str | None], ...] = ()
    # HAVING constraints (§11.5): FILTER expression ASTs evaluated over the
    # grouped OUTPUT columns (group keys and aggregate aliases)
    having: tuple = ()
    # post-aggregation expression aliases (§11.1): (alias, arith AST over
    # group keys and [hidden] aggregate aliases), computed after groupBy
    agg_exprs: tuple[tuple[str, object], ...] = ()
    # CONSTRUCT template (§16.2): plain triples instantiated per solution;
    # the plan unions the instantiations and de-duplicates (the result is
    # a GRAPH — a set of (s, p, o) id triples)
    construct: tuple[TriplePattern, ...] = ()
    # DESCRIBE (§16.4): the description of a resource is every triple it
    # appears in as subject or object (the spec leaves 'description'
    # implementation-defined; this symmetric form is documented).
    # Either constant resource slots (no WHERE) ...
    describe_terms: tuple[tuple[str, object], ...] = ()
    # ... or ONE variable whose bindings in the WHERE group are described
    describe_var: str | None = None
    # ASK query form (§16.3): plan returns one row (ask: boolean)
    ask: bool = False
    # OFFSET (applies after ORDER BY, before LIMIT)
    offset: int | None = None
    # dataset clauses (§13.2): FROM graphs merge (set-union) into the
    # active default graph; FROM NAMED graphs are the ONLY graphs GRAPH
    # blocks range over. When EITHER is present the query's dataset is
    # exactly what the clauses describe (absent FROM → empty default
    # graph; absent FROM NAMED → no named graphs). Slots are
    # ('term', text) | ('id', int), resolved like pattern constants.
    dataset_default: tuple[tuple[str, object], ...] = ()
    dataset_named: tuple[tuple[str, object], ...] = ()
    # the constant-normalization style this query was parsed under
    # (see _TERM_STYLE) — recorded so the PLANNER can pick the matching
    # value semantics (lexical stores derive STR values from term text)
    term_style: str = "localized"
    # the prolog's PREFIX declarations, recorded verbatim (sorted
    # (name, iri) pairs) so consumers that SERIALIZE answers — the HTTP
    # endpoint's Turtle content negotiation — can reuse the query's own
    # namespace map without re-scanning the query text
    prefixes: tuple[tuple[str, str], ...] = ()

    # ---- flat-view accessors: the ROOT group's content, kept so code and
    # tests written against the pre-recursive flat representation keep
    # reading naturally (nested structure lives on `where`) ----
    @property
    def patterns(self) -> tuple[TriplePattern, ...]:
        return self.where.patterns

    @property
    def filters(self) -> tuple:
        return self.where.filters

    @property
    def binds(self) -> tuple[tuple[str, object], ...]:
        return self.where.binds

    @property
    def optionals(self) -> tuple[GroupPattern, ...]:
        return self.where.optionals

    @property
    def optional_filters(self) -> tuple[tuple, ...]:
        # index-aligned with `optionals` (the pre-recursive representation)
        return tuple(g.filters for g in self.where.optionals)

    @property
    def unions(self) -> tuple[tuple[GroupPattern, ...], ...]:
        return self.where.unions

    @property
    def minuses(self) -> tuple[GroupPattern, ...]:
        return self.where.minuses

    @property
    def exists(self) -> tuple[tuple[bool, GroupPattern], ...]:
        return self.where.exists

    @property
    def values(self) -> tuple:
        return self.where.values

    @property
    def values_multi(self) -> tuple:
        return self.where.values_multi

    @property
    def closures(self) -> tuple:
        return self.where.closures


def _localize_iri(inner: str) -> str:
    """Strip the IRI namespace up to the last '/' and ensure a leading ':'
    (MyOpVisitorBase.java:74-78) — matches dictionary terms like ':node_...'."""
    local = inner.rsplit("/", 1)[-1]
    return local if local.startswith(":") else ":" + local


# Term-style context for constant normalization (set by parse_sparql,
# inherited by recursive subquery parses):
# - "localized": the reference's convention (MyOpVisitorBase.java:74-78) —
#   IRIs collapse to their ':local' name, lang tags lowercase, datatypes
#   localize, xsd-integer literals collapse to raw ids. Matches
#   dictionaries in the reference's TSV format (':node_...').
# - "lexical": full N-Triples lexical forms — '<iri>' verbatim, prefixed
#   names EXPAND to '<full_iri>', lang tags as written, typed literals
#   keep '^^<full_datatype>' and never collapse to ids. Matches
#   dictionaries BUILT from raw RDF (sources/ntriples.py), whose terms are
#   exact lexical forms so decode/export round-trips.
_TERM_STYLE = contextvars.ContextVar("sparql_term_style", default="localized")
# strict (default): the TYPO GUARDS are on — dictionary-absent
# constants raise at encode, and fully variable-disjoint MINUS/EXISTS
# groups reject at validation. Non-strict (r11, `strict_terms=False`):
# spec behavior for unusual-but-legal queries — absent constants match
# nothing (0-sentinel), disjoint MINUS removes nothing (§18.5),
# disjoint EXISTS gates on group nonemptiness (both lowerings already
# exist in the planner; only the guards lift).
_STRICT_MODE = contextvars.ContextVar("sparql_strict_mode", default=True)
# the query's FIXED CLOCK (r12): None (default) keeps the principled
# NOW() reject — a per-evaluation clock breaks the engine's
# re-runnable hash-verified contract AND Spark's retried-task
# semantics (a retried task would observe a different value than the
# lost attempt). An EXPLICIT xsd:dateTime lexical set via
# `Engine.sparql(..., clock=…)` / CLI `--clock` folds every NOW() to
# that constant at PARSE time: determinism is preserved (the constant
# is part of the plan), and the caller owns the timestamp.
_CLOCK = contextvars.ContextVar("sparql_clock", default=None)


# fresh ids for anonymous blank nodes `[]` — process-global so every
# occurrence anywhere is distinct; labels never leak (hidden internal vars)
_BNODE_IDS = itertools.count()


def _normalize_term(
    tok: str, prefixes: dict[str, str] | None = None
) -> tuple[str, object]:
    """Classify one token (normalization per MyOpVisitorBase.java:74-78)."""
    if tok[0] in "?$":
        if not re.fullmatch(r"\w+", tok[1:]):
            # catches path operators glued to a variable predicate (?p+)
            # and plain malformed names — reject, don't bind silently
            raise SparqlSyntaxError(f"malformed variable name: {tok!r}")
        return ("var", tok[1:])
    if tok.startswith('"') and tok.endswith('"'):
        if _TERM_STYLE.get() == "lexical":
            # plain literal: the dictionary term IS the quoted source
            # bytes (SPARQL and N-Triples share the backslash escapes,
            # so keeping them means byte equality — no unescape pass)
            return ("term", tok)
        return ("term", _unescape(tok[1:-1]))
    if tok.startswith('"') and "^^" in tok:
        body, dt = tok.rsplit("^^", 1)
        if not (body.startswith('"') and body.endswith('"')):
            raise SparqlSyntaxError(f"malformed typed literal: {tok!r}")
        if _TERM_STYLE.get() == "lexical":
            # keep the full '^^<datatype>' lexical form (expanding a
            # prefixed datatype name) with the body's SOURCE bytes (the
            # escapes are shared with N-Triples — see the plain-literal
            # branch); NEVER collapse integers to ids — in a built
            # dictionary ids are ranks, unrelated to values
            dt_slot = _normalize_term(dt, prefixes)
            if dt_slot[0] != "term":
                raise SparqlSyntaxError(f"malformed typed literal: {tok!r}")
            return ("term", f"{body}^^{dt_slot[1]}")
        # xsd integer types collapse to the id data model; any other
        # datatype has no representation here — reject
        dt_slot = _normalize_term(dt, prefixes)
        # local datatype name: strip prefix/IRI path and any #fragment —
        # the final colon segment, so declared (':integer'), undeclared
        # ('xsd:integer') and full-IRI forms all localize identically
        dt_local = (
            str(dt_slot[1])
            .rsplit("#", 1)[-1]
            .rsplit("/", 1)[-1]
            .rsplit(":", 1)[-1]
        )
        if (
            dt_slot[0] == "term"
            and ":" + dt_local in _INT_DATATYPES
            and re.fullmatch(r"-?\d+", body[1:-1])
        ):
            return ("id", int(body[1:-1]))
        # any OTHER datatype: a typed literal term — canonical dictionary
        # text '"lex"^^:localdt' (datatype localized like every IRI), so
        # DATATYPE(?x) and constant matches work over the term text
        if dt_slot[0] == "term" and re.fullmatch(r"\w+", dt_local):
            return ("term", f'"{_unescape(body[1:-1])}"^^:{dt_local}')
        raise SparqlSyntaxError(
            f"unsupported typed literal {tok!r} (xsd integer datatypes "
            "collapse to ids; other datatypes need a simple local name)"
        )
    if tok.startswith('"') and "@" in tok:
        # language-tagged literal (RDF 1.1 §3.3): canonical dictionary
        # text keeps the quotes and a LOWERCASE tag — '"chat"@EN' and
        # '"chat"@en' are the same term (BCP47 tags are case-insensitive)
        body, tag = tok.rsplit("@", 1)
        if (
            body.startswith('"')
            and body.endswith('"')
            and len(body) >= 2
            and re.fullmatch(r"[A-Za-z][A-Za-z0-9-]*", tag)
        ):
            if _TERM_STYLE.get() == "lexical":
                # body and tag as WRITTEN: lexical-form dictionaries
                # store the source bytes — escapes included (shared with
                # N-Triples), and BCP47 case-folding is the caller's
                # normalization decision at ingest time, not the query's
                return ("term", f"{body}@{tag}")
            return ("term", f'"{_unescape(body[1:-1])}"@{tag.lower()}')
        raise SparqlSyntaxError(
            f"malformed language-tagged literal: {tok!r}"
        )
    if tok.startswith("<") and tok.endswith(">"):
        inner = tok[1:-1]
        base = (prefixes or {}).get("@base")
        if base and not _IRI_SCHEME.match(inner):
            # RFC 3986 resolution against the prolog's BASE (§4.1.1);
            # schemed IRIs are absolute and pass through untouched
            inner = _resolve_against_base(base, inner)
        if _TERM_STYLE.get() == "lexical":
            return ("term", f"<{inner}>")  # the '<iri>' IS the dictionary term
        return ("term", _localize_iri(inner))
    if tok.startswith("_:") or tok == "[]":
        # blank nodes in a query are existential variables (§19.8 /
        # §18.1.1 RDF instance mapping): lower to hidden internal vars —
        # `_:label` keeps its label (co-referring within the query),
        # `[]` is fresh per occurrence. Hidden from SELECT * like path
        # intermediates. Treating them as dictionary TERMS would silently
        # match nothing; this is the semantics Jena gave the reference.
        if tok == "[]":
            return ("var", f"__bn_anon{next(_BNODE_IDS)}")
        if not re.fullmatch(r"\w+", tok[2:]):
            raise SparqlSyntaxError(f"malformed blank node label: {tok!r}")
        return ("var", f"__bn_{tok[2:]}")
    if re.fullmatch(r"-?\d+", tok):
        if _TERM_STYLE.get() == "lexical":
            # SPARQL's bare-integer shorthand means "42"^^xsd:integer
            # (§19.2 numeric literals); in a BUILT dictionary ids are
            # lexicographic ranks, so treating the number as a raw id
            # (the reference convention below) would silently match
            # whatever term happens to hold that rank
            return (
                "term",
                f'"{tok}"^^<http://www.w3.org/2001/XMLSchema#integer>',
            )
        return ("id", int(tok))
    if _TERM_STYLE.get() == "lexical":
        # the remaining §19.2 bare shorthands, normalized to the SAME
        # canonical typed-literal text the Turtle ingest writes
        # (sources/turtle.py read_term) so pattern constants match
        # ingested terms byte-for-byte
        xsd = "http://www.w3.org/2001/XMLSchema#"
        if re.fullmatch(r"[+-]?\d*\.\d+", tok):
            return ("term", f'"{tok}"^^<{xsd}decimal>')
        if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.?\d+)[eE][+-]?\d+", tok):
            return ("term", f'"{tok}"^^<{xsd}double>')
        if tok in ("true", "false"):
            return ("term", f'"{tok}"^^<{xsd}boolean>')
    # prefixed name: expand via the declared PREFIX mapping (as Jena's
    # front-end did before normalization), then localize exactly like a
    # full IRI. Undeclared prefixes (incl. bare ':name') stay verbatim —
    # the dictionary stores terms in that form.
    if prefixes and ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx in prefixes:
            if _TERM_STYLE.get() == "lexical":
                return ("term", f"<{prefixes[pfx] + local}>")
            return ("term", _localize_iri(prefixes[pfx] + local))
    return ("term", tok)


def _tokenize_filter(src: str) -> list[str]:
    toks: list[str] = []
    pos = 0
    while pos < len(src):
        m = _FILTER_TOKEN.match(src, pos)
        if not m:
            if src[pos:].strip():
                raise SparqlSyntaxError(
                    f"unsupported FILTER expression at {src[pos:].strip()!r} "
                    "(supported: ?var OP number|?var with OP in = != < <= > >=, "
                    "combined with && || ! and parentheses)"
                )
            break
        toks.append(m.group(1))
        pos = m.end()
    return toks


_INT = re.compile(r"-?\d+")


class _Tokens:
    """Cursor over one expression's tokens — shared by the FILTER, BIND
    (arithmetic) and string-expression grammars, and by the property-path
    parser over a path's characters. ``label`` names the grammar in every
    error (``bad FILTER expression '<src>': ...``); ``prefixes`` resolves
    prefixed-name IRI constants in FILTER term comparisons. The argument
    helpers below are the shapes every function call shares: ``?v``,
    ``?v`` or ``STR(?v)``, string and integer literals, an operator."""

    def __init__(self, src: str, label: str, prefixes=None, toks=None):
        self.src = src
        self.label = label
        self.prefixes = prefixes
        self.toks = _tokenize_filter(src) if toks is None else toks
        self.pos = 0

    def fail(self, msg: str):
        raise SparqlSyntaxError(
            f"bad {self.label} expression {self.src!r}: {msg}"
        )

    def peek(self, ahead: int = 0):
        i = self.pos + ahead
        return self.toks[i] if i < len(self.toks) else None

    def take(self, expected=None):
        t = self.peek()
        if t is None or (expected is not None and t != expected):
            self.fail(f"expected {expected or 'a term'}, got {t!r}")
        self.pos += 1
        return t

    def parse(self, grammar):
        """Run ``grammar(self)`` over the whole token list."""
        node = grammar(self)
        if self.pos != len(self.toks):
            self.fail(f"trailing tokens {self.toks[self.pos:]!r}")
        return node

    def var(self, what: str) -> str:
        t = self.take()
        if not t.startswith(("?", "$")):
            self.fail(f"{what}, got {t!r}")
        return t[1:]

    def var_arg(self, what: str) -> str:
        """`(?v)` → v."""
        self.take("(")
        v = self.var(f"{what} takes a variable")
        self.take(")")
        return v

    def str_var(self, what: str) -> tuple[str, bool]:
        """`?v` or `STR(?v)` → (v, whether STR() was written)."""
        has_str = (self.peek() or "").lower() == "str" and self.peek(1) == "("
        if has_str:
            self.take()
            self.take("(")
        v = self.var(f"{what} takes a variable (optionally STR(?var))")
        if has_str:
            self.take(")")
        return v, has_str

    def str_var_arg(self, what: str) -> tuple[str, bool]:
        """`(?v)` or `(STR(?v))` → (v, whether STR() was written)."""
        self.take("(")
        out = self.str_var(what)
        self.take(")")
        return out

    def string(self, what: str) -> str:
        """A plain string literal → its unescaped text."""
        t = self.take()
        if not (t.startswith('"') and t.endswith('"')):
            self.fail(f"{what}, got {t!r}")
        return _unescape(t[1:-1])

    def integer(self, what: str, pattern=_INT) -> int:
        t = self.take()
        if not pattern.fullmatch(t):
            self.fail(f"{what}, got {t!r}")
        return int(t)

    def op(self, what: str, ops=_CMP_OPS) -> str:
        t = self.take()
        if t not in ops:
            self.fail(f"{what}, got {t!r}")
        return t


def _localize_datatype(tok: str) -> str:
    """Normalize a datatype IRI / prefixed name from a FILTER to the
    engine's localized ':name' form (same convention as _localize_iri);
    xsd integer datatypes collapse to ':integer' — the DATATYPE() value
    of a dictionary-absent id in the typed-int data model."""
    if tok.startswith("<") and tok.endswith(">"):
        local = tok[1:-1].rsplit("#", 1)[-1].rsplit("/", 1)[-1]
    elif ":" in tok:
        local = tok.rsplit(":", 1)[-1]
    else:
        raise SparqlSyntaxError(
            f"DATATYPE comparisons take a datatype IRI or prefixed "
            f"name, got {tok!r}"
        )
    if not re.fullmatch(r"\w+", local):
        raise SparqlSyntaxError(f"malformed datatype IRI: {tok!r}")
    return ":integer" if ":" + local in _INT_DATATYPES else ":" + local


# decimal / double lexical forms in FILTER comparisons (never valid ids —
# ids are integers — so a decimal constant always means a VALUE comparison)
_DEC_RE = re.compile(r"-?\d+\.\d+(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+")
# datatypes whose typed literals compare by NUMERIC VALUE (§17.3 operand
# mapping); integer datatypes are absent because they collapse to ids
_NUM_VAL_DATATYPES = frozenset({":decimal", ":double", ":float"})
_DATE_LEX = re.compile(r"\d{4}-\d{2}-\d{2}")
_DT_LEX = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?")


def _classify_filter_literal(tok: str, src: str):
    """Classify a quoted FILTER-comparison constant (optional ^^datatype):

    → ('int', n)       integer-datatype lexical — ids ARE the values
    → ('vnum', float)  decimal / double / float — compared by VALUE
    → ('vdate', lex)   xsd:date — compared by VALUE
    → ('vdt', lex)     xsd:dateTime (no timezone) — compared by VALUE
    → ('text', canon)  no / other datatype — term IDENTITY only (=, !=),
                       canon being the canonical dictionary text
    """
    if "^^" not in tok:
        if _TERM_STYLE.get() == "lexical":
            # lexical-form dictionaries store plain literals QUOTED with
            # their source bytes — term identity compares that exact text
            return ("text", tok)
        return ("text", _unescape(tok[1:-1]))
    body, dt = tok.rsplit("^^", 1)
    lex = _unescape(body[1:-1])
    local = _localize_datatype(dt)
    if local == ":integer":
        if not re.fullmatch(r"-?\d+", lex):
            raise SparqlSyntaxError(
                f"bad FILTER expression {src!r}: integer-typed literal "
                f"with non-integer lexical form {lex!r}"
            )
        if _TERM_STYLE.get() == "lexical":
            # ids are lexicographic ranks in a built dictionary, so an
            # integer-typed literal compares by numeric VALUE (§17.3),
            # never as a raw id
            return ("vnum", float(lex))
        return ("int", int(lex))
    if local in _NUM_VAL_DATATYPES:
        try:
            return ("vnum", float(lex))
        except ValueError:
            raise SparqlSyntaxError(
                f"bad FILTER expression {src!r}: numeric-typed literal "
                f"with non-numeric lexical form {lex!r}"
            ) from None
    if local == ":date":
        if not _DATE_LEX.fullmatch(lex):
            raise SparqlSyntaxError(
                f"bad FILTER expression {src!r}: xsd:date literal must "
                f"be YYYY-MM-DD, got {lex!r}"
            )
        return ("vdate", lex)
    if local == ":dateTime":
        if not _DT_LEX.fullmatch(lex):
            raise SparqlSyntaxError(
                f"bad FILTER expression {src!r}: xsd:dateTime literal "
                "must be YYYY-MM-DDTHH:MM:SS[.fff] (no timezone), got "
                f"{lex!r}"
            )
        return ("vdt", lex)
    if _TERM_STYLE.get() == "lexical":
        if dt.startswith("<") and dt.endswith(">"):
            # full-IRI datatype: the canonical lexical term keeps the
            # body's source bytes and the '^^<iri>' verbatim
            return ("text", f"{body}^^{dt}")
        raise SparqlSyntaxError(
            f"bad FILTER expression {src!r}: on a lexical store a "
            "typed-literal term equality needs the datatype as a full "
            f"<iri> (prefixed name {dt!r} cannot be expanded here)"
        )
    return ("text", f'"{lex}"^^{local}')


_MIRROR_OP = {"=": "=", "!=": "!=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}

_STR_EXPR_FNS = (
    "substr", "strbefore", "strafter", "replace", "concat", "ucase", "lcase",
    "md5", "sha1", "sha256", "sha384", "sha512",
)
# §17.4.4.10-14 hash functions: unary, lowercase-hex, deterministic —
# cross-engine exact (DuckDB md5()/sha256() match)
_HASH_FNS = ("md5", "sha1", "sha256", "sha384", "sha512")


def _parse_bind_body(body_expr: str):
    """Classify + parse one BIND / SELECT-expression body (the two share
    this lowering per §18.2.4.4): a term-kind accessor (LANG / DATATYPE /
    STR → termfn_expr), a §17.5 constructor cast (xsd:T → cast_expr;
    xsd:string ≡ STR), a §17.4.3 string manipulation (→ strexpr), or
    integer arithmetic (the default)."""
    tm = re.fullmatch(
        r"\s*(LANG|DATATYPE|STR)\s*\(\s*([?$]\w+)\s*\)\s*",
        body_expr,
        re.I,
    )
    if tm:
        return ("termfn_expr", tm.group(1).lower(), tm.group(2)[1:])
    cm = re.fullmatch(
        r"\s*xsd:(integer|decimal|double|float|date"
        r"|dateTime|string)\s*\(\s*"
        r"(?:STR\s*\(\s*([?$]\w+)\s*\)|([?$]\w+))\s*\)\s*",
        body_expr,
        re.I,
    )
    if cm:
        kind = _XSD_CAST_KINDS[cm.group(1).lower()]
        src_v = (cm.group(2) or cm.group(3))[1:]
        return (
            ("termfn_expr", "str", src_v)
            if kind == "string"
            else ("cast_expr", kind, src_v)
        )
    am = re.fullmatch(
        rf"\s*({_VALUE_FN_RE})\s*\(\s*([?$]\w+)\s*\)\s*",
        body_expr,
        re.I,
    )
    if am:
        # §17.4.5 date/time component accessors and §17.4.4 numeric
        # rounders (r7): typed-VALUE computations over the term text —
        # they ride the cast lowering (planner `_term_cast`)
        return ("cast_expr", am.group(1).lower(), am.group(2)[1:])
    sl = re.fullmatch(r'\s*"(?:[^"\\]|\\.)*"\s*', body_expr)
    if sl:
        # BIND("literal" AS ?v): a constant string column (r7)
        return ("strexpr", ("slit", _unescape(body_expr.strip()[1:-1])))
    lm = re.fullmatch(
        r"\s*STRLEN\s*\(\s*(?:STR\s*\(\s*([?$]\w+)\s*\)|([?$]\w+))\s*\)\s*",
        body_expr,
        re.I,
    )
    if lm:
        # BIND(STRLEN([STR(]?x[)]) AS ?n) (§17.4.3.2, r7): term-text
        # length as a numeric target — rides the cast lowering
        return ("cast_expr", "strlen", (lm.group(1) or lm.group(2))[1:])
    nd = re.match(r"\s*(NOW|RAND|UUID|STRUUID)\s*\(", body_expr, re.I)
    if nd:
        if (
            nd.group(1).upper() == "NOW"
            and _CLOCK.get() is not None
            and re.fullmatch(r"\s*NOW\s*\(\s*\)\s*", body_expr, re.I)
        ):
            # fixed-clock fold (r12): NOW() under an explicit
            # `clock=` becomes a CONSTANT xsd:dateTime literal term —
            # the exact lowering STRDT("…", xsd:dateTime) produces,
            # so value comparisons/accessors see a normal typed
            # literal. Determinism holds: the constant is part of the
            # parsed query, identical across reruns and task retries.
            dt = (
                "<http://www.w3.org/2001/XMLSchema#dateTime>"
                if _TERM_STYLE.get() == "lexical"
                else _localize_datatype("xsd:dateTime")
            )
            return ("strexpr", ("strdt", ("slit", _CLOCK.get()), dt))
        # deliberate stance (r8, SPARQL.md "Known deviations"): a
        # per-evaluation clock/RNG breaks the engine's re-runnable
        # hash-verified contract, and a Spark task RETRY would observe a
        # different value than the lost attempt — pass timestamps via
        # VALUES, use the deterministic md5-bucket sampling operators
        raise SparqlSyntaxError(
            f"{nd.group(1).upper()}() is deliberately unsupported: "
            "nondeterministic built-ins break re-executable task "
            "semantics (a retried Spark task would see a different "
            "value); bind timestamps via VALUES, pass an explicit "
            "clock (Engine.sparql(..., clock=…) / --clock folds a "
            "bare NOW() to that constant), or use the engine's "
            "deterministic sampling operators"
        )
    if re.match(
        r"\s*(?:SUBSTR|STRBEFORE|STRAFTER|REPLACE|CONCAT|UCASE|LCASE"
        r"|MD5|SHA1|SHA256|SHA384|SHA512"
        r"|ENCODE_FOR_URI|STRLANG|STRDT|IRI|URI)\s*\(",
        body_expr,
        re.I,
    ):
        return ("strexpr", _parse_str_expr(body_expr))
    if re.match(r"\s*(?:COALESCE|IF)\s*\(", body_expr, re.I):
        # COALESCE and IF are shared between the numeric grammar
        # (COALESCE(?a, 0), IF(?a > 1, 2, 3)) and the string grammar
        # (COALESCE(STR(?x), "none"), IF(?a > 1, "hi", "lo")) —
        # numeric first, string fallback
        try:
            return _parse_arith_expr(body_expr)
        except SparqlSyntaxError:
            return ("strexpr", _parse_str_expr(body_expr))
    return _parse_arith_expr(body_expr)


def _parse_str_expr(src: str):
    """String-manipulation BIND expression (§17.4.3, r7): SUBSTR /
    STRBEFORE / STRAFTER / REPLACE / CONCAT / UCASE / LCASE over STR(?x),
    bare variables, string literals, and each other (arbitrarily nested).

    AST nodes:
      ('slit', text)                string literal
      ('sof', var)                  STR(?x) — the term's lexical text
      ('svar', var)                 bare ?x in string position (planner:
                                    a string-valued BIND target is used
                                    as-is, an id variable means STR(?x))
      ('substr', sub, start, len|None)     1-based (XPath fn:substring)
      ('strbefore'|'strafter', sub, sep)   sep a string LITERAL
      ('replace', sub, pat, rep, flags)    regex replace, flags '' | 'i'
      ('concat', (args...))
      ('ucase'|'lcase', sub)
    """
    return _Tokens(src, "string").parse(_sexpr)


def _sexpr(cur: _Tokens):
    t = cur.take()
    if t.startswith('"'):
        if "^^" in t:
            cur.fail(
                "typed literals have no string value here; use a plain literal"
            )
        return ("slit", _unescape(t[1:-1]))
    if t.startswith(("?", "$")):
        return ("svar", t[1:])
    up = t.lower()
    if up in _STR_CALLS and cur.peek() == "(":
        return _STR_CALLS[up](cur, up)
    cur.fail(
        "expected a string function, STR(?x), a variable, or a string "
        f"literal, got {t!r}"
    )


def _s_unary(cur: _Tokens, up: str):
    """One string argument: UCASE / LCASE, the §17.4.4.10-14 hashes,
    ENCODE_FOR_URI (§17.4.3.11: percent-encode everything outside the
    RFC 3986 unreserved set, uppercase hex) and IRI / URI (§17.4.2.6:
    an IRI term built in the AMBIENT term style, captured here and
    applied by the planner — localized ':last-segment' per
    MyOpVisitorBase.java:74-78, or the lexical '<iri>' form)."""
    cur.take("(")
    a = _sexpr(cur)
    cur.take(")")
    if up in _HASH_FNS:
        return ("hash", up, a)
    if up == "encode_for_uri":
        return ("encuri", a)
    if up in ("iri", "uri"):
        return ("iri", a, _TERM_STYLE.get())
    return (up, a)


def _s_strlang(cur: _Tokens, up: str):
    """§17.4.2.8: a language-tagged literal TERM — the engine's canonical
    text '"lex"@tag' (lowercase tag, the dictionary convention), so it
    compares and joins against stored terms."""
    cur.take("(")
    a = _sexpr(cur)
    cur.take(",")
    tag = cur.string("STRLANG language tag must be a string literal")
    cur.take(")")
    if not re.fullmatch(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*", tag):
        cur.fail(f"STRLANG tag must be a BCP-47 shape, got {tag!r}")
    return ("strlang", a, tag.lower())


def _s_strdt(cur: _Tokens, up: str):
    """§17.4.2.9: a typed literal TERM — canonical text '"lex"^^:localdt'
    with the datatype localized like every constant IRI. Lexical style
    keeps a full '<iri>' datatype verbatim (the built-dictionary
    convention); prefixed datatype names still localize — this grammar
    carries no PREFIX map, so full-IRI datatypes are the lexical-mode
    spelling."""
    cur.take("(")
    a = _sexpr(cur)
    cur.take(",")
    dt = cur.take()
    cur.take(")")
    if _TERM_STYLE.get() == "lexical" and dt.startswith("<"):
        return ("strdt", a, dt)
    return ("strdt", a, _localize_datatype(dt))


_NAT = re.compile(r"\d+")


def _s_substr(cur: _Tokens, up: str):
    cur.take("(")
    a = _sexpr(cur)
    cur.take(",")
    start = cur.integer("SUBSTR start must be a non-negative integer", _NAT)
    ln = None
    if cur.peek() == ",":
        cur.take()
        ln = cur.integer("SUBSTR length must be a non-negative integer", _NAT)
    cur.take(")")
    return ("substr", a, start, ln)


def _s_strbefore(cur: _Tokens, up: str):
    """STRBEFORE / STRAFTER: the separator is a string literal."""
    cur.take("(")
    a = _sexpr(cur)
    cur.take(",")
    sep = cur.string(f"{up.upper()} separator must be a string literal")
    cur.take(")")
    return (up, a, sep)


def _s_replace(cur: _Tokens, up: str):
    cur.take("(")
    a = _sexpr(cur)
    cur.take(",")
    pat = cur.string("REPLACE pattern must be a string literal")
    cur.take(",")
    rep = cur.string("REPLACE replacement must be a string literal")
    flags = ""
    if cur.peek() == ",":
        cur.take()
        fl = cur.take()
        if fl != '"i"':
            cur.fail(f'REPLACE supports only the "i" flag, got {fl!r}')
        flags = "i"
    cur.take(")")
    return ("replace", a, pat, rep, flags)


def _s_if(cur: _Tokens, up: str):
    """String IF (§17.4.1.2 over string branches): the condition is the
    FILTER grammar's numeric/BOUND subset (string leaves inside the
    condition reject at compile — they would need their own term
    attachment)."""
    cur.take("(")
    depth = 0
    start = cur.pos
    while cur.peek() is not None:
        t = cur.peek()
        if t == "(":
            depth += 1
        elif t == ")":
            if depth == 0:
                break
            depth -= 1
        elif t == "," and depth == 0:
            break
        cur.pos += 1
    if cur.pos == start:
        cur.fail("empty IF condition")
    cond = _parse_filter_expr(" ".join(cur.toks[start : cur.pos]))
    cur.take(",")
    a = _sexpr(cur)
    cur.take(",")
    b = _sexpr(cur)
    cur.take(")")
    return ("sif", cond, a, b)


def _s_concat(cur: _Tokens, up: str):
    """CONCAT, and string COALESCE (§17.4.1.3 over string expressions:
    the post-OPTIONAL fallback idiom COALESCE(STR(?x), "none"))."""
    cur.take("(")
    args = [_sexpr(cur)]
    while cur.peek() == ",":
        cur.take()
        args.append(_sexpr(cur))
    cur.take(")")
    return ("concat" if up == "concat" else "scoalesce", tuple(args))


# string-expression functions: lowercase name → parser(cursor, name),
# called with the cursor on the opening parenthesis
_STR_CALLS = {
    "str": lambda cur, up: ("sof", cur.var_arg("STR")),
    **dict.fromkeys(
        ("ucase", "lcase", "encode_for_uri", "iri", "uri", *_HASH_FNS),
        _s_unary,
    ),
    "strlang": _s_strlang,
    "strdt": _s_strdt,
    "substr": _s_substr,
    "strbefore": _s_strbefore,
    "strafter": _s_strbefore,
    "replace": _s_replace,
    "if": _s_if,
    "concat": _s_concat,
    "coalesce": _s_concat,
}


def strexpr_vars(node) -> set[str]:
    """All variables referenced by a string-expression AST."""
    k = node[0]
    if k == "slit":
        return set()
    if k in ("sof", "svar"):
        return {node[1]}
    if k in ("concat", "scoalesce"):
        return set().union(*(strexpr_vars(a) for a in node[1]))
    if k == "sif":
        return (
            filter_expr_vars(node[1])
            | strexpr_vars(node[2])
            | strexpr_vars(node[3])
        )
    if k == "hash":
        return strexpr_vars(node[2])
    return strexpr_vars(node[1])  # unary wrappers / first operand


# §17.5 constructor casts: canonical spelling of the supported targets
_XSD_CAST_KINDS = {
    "integer": "integer",
    "decimal": "decimal",
    "double": "double",
    "float": "float",
    "date": "date",
    "datetime": "dateTime",
    "string": "string",
}


def _literal_cmp_leaf(var: str, op: str, lit_tok: str, src: str):
    """Build the comparison leaf for `?var <op> <quoted literal>` from the
    literal's classification: integer-typed → the legacy numeric-id leaf;
    decimal/double/float/date/dateTime → a VALUE comparison
    ('valcmp', var, op, kind, value) evaluated over the dictionary term
    text (kind ∈ 'num' | 'date' | 'dt'); anything else → term identity
    ('streq'), =/!= only."""
    kind, v = _classify_filter_literal(lit_tok, src)
    if kind == "int":
        return (var, op, ("num", v))
    if kind == "vnum":
        return ("valcmp", var, op, "num", v)
    if kind == "vdate":
        return ("valcmp", var, op, "date", v)
    if kind == "vdt":
        return ("valcmp", var, op, "dt", v)
    if op not in ("=", "!="):
        raise SparqlSyntaxError(
            f"bad FILTER expression {src!r}: ordering comparisons need a "
            "numeric- or date-typed literal; plain / unknown-datatype "
            "literals support = and != (term identity) only"
        )
    return ("streq", var, v, op == "!=")


def _parse_filter_expr(src: str, prefixes: dict[str, str] | None = None):
    """Recursive-descent parse of a FILTER expression into the AST above.
    Precedence (SPARQL 1.1 §17, same as C): ! > && > ||. ``prefixes``
    (the query's PREFIX map) resolves prefixed-name IRI constants in
    term-equality comparisons (`?x != :b`); callers without a prefix
    map in scope (string-expression IF conditions) pass None and full
    ``<iri>`` spellings still work."""
    return _Tokens(src, "FILTER", prefixes).parse(_or_expr)


def _or_expr(cur: _Tokens):
    node = _and_expr(cur)
    while cur.peek() == "||":
        cur.take()
        node = ("or", node, _and_expr(cur))
    return node


def _and_expr(cur: _Tokens):
    node = _unary(cur)
    while cur.peek() == "&&":
        cur.take()
        node = ("and", node, _unary(cur))
    return node


def _unary(cur: _Tokens):
    if cur.peek() == "!":
        cur.take()
        return ("not", _unary(cur))
    if cur.peek() == "(":
        cur.take()
        node = _or_expr(cur)
        cur.take(")")
        return node
    return _comparison(cur)


def _comparison(cur: _Tokens):
    """One FILTER leaf: a function call from `_FILTER_CALLS`, a reversed
    `constant <op> ?x` form, a `?x` comparison against a literal / IRI /
    IN list, or — the fallback — an arithmetic comparison."""
    lhs = cur.take()
    call = _FILTER_CALLS.get(lhs.lower())
    if call is not None and cur.peek() == "(":
        return call(cur, lhs)
    if _DEC_RE.fullmatch(lhs):
        # reversed bare-decimal form `19.5 < ?x`
        op = cur.op("a decimal constant can only appear in a comparison")
        v = cur.var("a decimal comparison takes a variable on the other side")
        return ("valcmp", v, _MIRROR_OP[op], "num", float(lhs))
    if lhs.startswith('"'):
        # reversed form `"literal" <op> ?x` (plain or typed literal):
        # mirror the operator and reuse the var-on-the-left leaves
        op = cur.op(f"a literal can only be compared with {_CMP_OPS}")
        v = cur.var("a literal comparison takes a variable on the other side")
        return _literal_cmp_leaf(v, _MIRROR_OP[op], lhs, cur.src)
    if lhs.startswith(("?", "$")):
        leaf = _var_leaf(cur, lhs[1:])
        if leaf is not None:
            return leaf
    cur.pos -= 1  # un-take: the operand grammar re-reads lhs
    left = _arith(cur)
    op = cur.op("expected comparison operator")
    right = _arith(cur)
    # legacy leaf shape when both sides are simple (the form every
    # existing consumer and test pins): (var, op, ('num'|'var', x))
    if left[0] == "var" and right[0] in ("num", "var"):
        if (
            _TERM_STYLE.get() == "lexical"
            and right[0] == "var"
            and op not in ("=", "!=")
        ):
            cur.fail(
                "on a lexical store an ordered variable-variable comparison "
                "would compare rank-assigned dictionary ids (meaningless "
                "order); compare each variable against typed constants, or "
                "use xsd:T(?x) cast comparisons"
            )
        return (left[1], op, right)
    return ("cmp", left, op, right)


def _var_leaf(cur: _Tokens, var: str):
    """`?x` compared against a literal, an IRI, or an IN list — None when
    the rest is an arithmetic comparison."""
    nxt, after = cur.peek() or "", cur.peek(1) or ""
    if nxt in _CMP_OPS and (after.startswith('"') or _DEC_RE.fullmatch(after)):
        # ?x <op> literal: plain `?x = "lit"` term equality (the most
        # common real-world FILTER form), typed-literal VALUE comparisons
        # (`?d >= "2020-02-15"^^xsd:date`, `?p > "19.5"^^xsd:decimal`),
        # and bare decimal constants (`?p > 19.5` — never a valid id, so
        # always by value)
        op = cur.take()
        lit = cur.take()
        if _DEC_RE.fullmatch(lit):
            return ("valcmp", var, op, "num", float(lit))
        return _literal_cmp_leaf(var, op, lit, cur.src)
    if nxt in ("=", "!=") and (
        after.startswith("<") or re.fullmatch(r"\w*:\w+", after)
    ):
        # `?x =|!= <iri>` / `pfx:name` — TERM equality against an IRI
        # constant (§17.4.1.7 on the id model: term identity IS id
        # identity). Lowers to the same 'streq' leaf as literal term
        # equality — the planner resolves the canonical term text to its
        # id with the bounded dictionary lookup, so the comparison runs
        # as a plain id equi-filter, never a string scan.
        op = cur.take()
        slot = _normalize_term(cur.take(), cur.prefixes)
        if slot[0] != "term":
            cur.fail("expected an IRI constant after the comparison")
        return ("streq", var, slot[1], op == "!=")
    if nxt.lower() == "in":
        cur.take()
        return _in_list(cur, var, negated=False)
    if nxt.lower() == "not" and after.lower() == "in":
        cur.take()
        cur.take()
        return _in_list(cur, var, negated=True)
    return None


def _in_list(cur: _Tokens, var: str, negated: bool):
    """`?v [NOT] IN (x1, x2, ...)` (§17.4.1.9-10): integer ids and/or
    string terms. Integers → ('in', var, ids, negated); strings →
    ('strin', var, texts, negated) — resolved to ids at plan time via
    the same bounded lookup as term equality. A mixed list is the
    disjunction of the two leaves (conjunction when negated — De
    Morgan over the not-equals)."""
    cur.take("(")
    ints: list[int] = []
    texts: list[str] = []
    while True:
        t = cur.take()
        if _INT.fullmatch(t):
            ints.append(int(t))
        elif t.startswith('"'):
            # plain or typed literal: IN is a term-identity test on
            # this engine (one id per distinct term), so a typed
            # literal resolves through the SAME normalization as a
            # BGP constant — integer datatypes to ids, anything else
            # to its canonical dictionary text
            slot = _normalize_term(t)
            (ints if slot[0] == "id" else texts).append(slot[1])
        elif t.startswith("<") or re.fullmatch(r"\w*:\w+", t):
            # IRI constants (r12): `?x IN (:a, <http://…/b>)` is the
            # same term-identity test — the canonical term text
            # resolves to its id through the bounded dictionary
            # lookup the strin leaf already performs
            slot = _normalize_term(t, cur.prefixes)
            if slot[0] == "id":
                ints.append(slot[1])
            elif slot[0] == "term":
                texts.append(slot[1])
            else:
                cur.fail(f"IN lists take constants, got {t!r}")
        else:
            cur.fail(
                f"IN lists take integer, string, or IRI constants, got {t!r}"
            )
        t = cur.take()
        if t == ")":
            break
        if t != ",":
            cur.fail(f"expected ',' or ')' in IN list, got {t!r}")
    leaves = []
    if ints:
        leaves.append(("in", var, tuple(ints), negated))
    if texts:
        leaves.append(("strin", var, tuple(texts), negated))
    if not leaves:
        cur.fail("empty IN list")
    if len(leaves) == 1:
        return leaves[0]
    return ("and" if negated else "or", leaves[0], leaves[1])


# ---- FILTER function-call leaves: _f_*(cursor, name as written), called
# with the cursor on the opening parenthesis; `_FILTER_CALLS` below maps
# each lowercase name to its parser.


def _f_bound(cur: _Tokens, name: str):
    """BOUND(?v) (§17.4.1.1): true iff the variable is bound — the one
    filter form that maps unbound to plain FALSE (not error); with ! it
    is SPARQL 1.0's negation-as-failure idiom."""
    return ("bound", cur.var_arg("BOUND"))


def _f_sameterm(cur: _Tokens, name: str):
    """sameTerm(?a, ?b) (§17.4.1.8): term identity IS id equality in the
    dictionary-encoded model (one id per distinct term), so it lowers to
    the plain equality leaf — unbound → error → filter-false, same as
    `=`; !sameTerm via the `not` unary. Constant operands: use a pattern
    constant instead (the planner's constant-encoding path) — rejected
    here to keep FILTER compilation dictionary-free."""
    cur.take("(")
    a = cur.take()
    cur.take(",")
    b = cur.take()
    cur.take(")")
    if not (a.startswith(("?", "$")) and b.startswith(("?", "$"))):
        cur.fail(
            "sameTerm takes two variables (for a constant, put the term in "
            f"the pattern), got {a!r}, {b!r}"
        )
    return (a[1:], "=", ("var", b[1:]))


def _f_termfn(cur: _Tokens, name: str):
    """LANG(?x) = "en" / DATATYPE(?x) = xsd:date (§17.4.2.6-7): term-kind
    accessors over the dictionary text — the planner attaches the term
    column (same join as REGEX) and compiles the kind/lang/datatype
    derivation as column expressions.
    AST: ('termfn', fn, var, normalized-value, negated)."""
    fn = name.lower()
    v = cur.var_arg(fn.upper())
    op = cur.op(
        f"{fn.upper()}() comparisons support = and != only", ("=", "!=")
    )
    if fn == "lang":
        value = cur.string("LANG() compares against a string literal").lower()
    else:
        value = _localize_datatype(cur.take())
    return ("termfn", fn, v, value, op == "!=")


def _f_langmatches(cur: _Tokens, name: str):
    """LANGMATCHES(LANG(?x), "range") (§17.4.3.20, basic filtering):
    range "*" matches any tagged literal; otherwise the tag equals the
    range or extends it with a subtag."""
    cur.take("(")
    t = cur.take()
    if t.lower() != "lang":
        cur.fail(
            f"LANGMATCHES takes LANG(?var) as its first argument, got {t!r}"
        )
    v = cur.var_arg("LANG")
    cur.take(",")
    rng = cur.string("LANGMATCHES range must be a string literal")
    cur.take(")")
    return ("langmatches", v, rng.lower())


# type-checking predicates (§17.4.2.1-4): booleans over the term kind.
# isNumeric is true exactly for integer literals (dictionary-absent ids)
# — the engine's only numeric kind.
_TERM_KINDS = {
    "isiri": "iri",
    "isuri": "iri",
    "isliteral": "literal",
    "isblank": "blank",
    "isnumeric": "numeric",
}


def _f_termis(cur: _Tokens, name: str):
    return ("termis", _TERM_KINDS[name.lower()], cur.var_arg(name))


def _f_strlen(cur: _Tokens, name: str):
    """STRLEN(STR(?x)) <op> n (§17.4.3.2): term LENGTH compared to an
    integer — evaluated over the dictionary term text (same join as
    REGEX); null-intolerant, so the dict join inner-izes and the length
    predicate pushes to the dict scan."""
    v, has_str = cur.str_var_arg("STRLEN")
    op = cur.op("STRLEN comparison needs an operator")
    n = cur.integer("STRLEN compares against an integer")
    return ("strlen", v, op, n, has_str)


def _f_castcmp(cur: _Tokens, name: str):
    """A typed-VALUE computation compared against a constant, riding the
    castcmp lowering (the kind names a planner `_term_cast` derivation):
    YEAR(?d) >= 2020 / FLOOR(?p) = 19 (r7) against a numeric constant,
    and the explicit cast xsd:T([STR(]?x[)]) <op> constant (§17.5
    operand, r7) against a constant of the target's family.
    AST: ('castcmp', kind, var, op, 'num'|'date'|'dt', value)."""
    cast = ":" in name
    if cast:
        kind = _XSD_CAST_KINDS[name.split(":", 1)[1].lower()]
        v, _ = cur.str_var_arg(f"{name}()")
        what = "cast"
        bad_const = "cast comparison constant must be numeric or date-typed"
        bad_tok = "cast comparison constant must be a number or typed literal"
    else:
        kind = name.lower()
        v = cur.var_arg(f"{name.upper()}()")
        what = name.upper()
        bad_const = bad_tok = f"{what} compares against a numeric constant"
    op = cur.op(f"{what} comparison needs an operator")
    lit = cur.take()
    if _DEC_RE.fullmatch(lit) or _INT.fullmatch(lit):
        rk, rv = "num", float(lit)
    elif lit.startswith('"'):
        k2, v2 = _classify_filter_literal(lit, cur.src)
        if k2 == "int":
            rk, rv = "num", float(v2)
        elif k2 == "vnum":
            rk, rv = "num", v2
        elif cast and k2 in ("vdate", "vdt"):
            rk, rv = k2[1:], v2
        else:
            cur.fail(bad_const)
    else:
        cur.fail(f"{bad_tok}, got {lit!r}")
    if rk != {"date": "date", "dateTime": "dt"}.get(kind, "num"):
        cur.fail(f"xsd:{kind} cast compared against a non-{kind} constant")
    return ("castcmp", kind, v, op, rk, rv)


def _f_strexpr(cur: _Tokens, name: str):
    """FN(...) <op> "literal" over a string-manipulation expression (r7):
    the call's token span re-renders and parses with the string-
    expression grammar."""
    start = cur.pos - 1
    depth = 0
    j = cur.pos
    while j < len(cur.toks):
        if cur.toks[j] == "(":
            depth += 1
        elif cur.toks[j] == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    if depth != 0:
        cur.fail(f"unbalanced parens in {name.upper()}(...)")
    tree = _parse_str_expr(" ".join(cur.toks[start : j + 1]))
    cur.pos = j + 1
    op = cur.op("string-expression comparison needs an operator")
    lit = cur.string("string-expression comparison takes a string literal")
    return ("strexprcmp", tree, op, lit)


def _f_case(cur: _Tokens, name: str):
    """UCASE/LCASE(?x | STR(?x)) =|!= "literal" (§17.4.3.4-5): case-folded
    term equality, dictionary-side — type-strict: integer literals have
    no term text and DROP. Any other argument (nested calls) takes the
    general string-expression comparison."""
    arg = cur.peek(1)
    if arg is None or not (arg.startswith(("?", "$")) or arg.lower() == "str"):
        return _f_strexpr(cur, name)
    fn = name.lower()
    v, has_str = cur.str_var_arg(fn.upper())
    op = cur.op(
        f"{fn.upper()}() comparisons support = and != only", ("=", "!=")
    )
    lit = cur.string(f"{fn.upper()}() compares against a string literal")
    return ("strcase", fn, v, lit, op == "!=", has_str)


def _f_str(cur: _Tokens, name: str):
    """STR(?x) = "literal": localized = term equality (§17.4.2.5 wrapper
    over the term model, id pushdown); lexical = a string comparison over
    the DERIVED STR value (so "Bob" matches '"Bob"', '"Bob"@en' and
    '<Bob>' alike — the spec's simple-literal comparison, not raw term
    text). AST: ('streq', var, text, negated) on the id model."""
    v = cur.var_arg("STR")
    if cur.peek() not in ("=", "!="):
        cur.fail(f"STR() comparisons support = and != only, got {cur.peek()!r}")
    op = cur.take()
    if _TERM_STYLE.get() == "lexical":
        lit = cur.string("STR() compares against a string literal")
        return ("strexprcmp", ("sof", v), op, lit)
    lit = cur.string("term equality takes a string literal")
    return ("streq", v, lit, op == "!=")


def _f_strfn(cur: _Tokens, name: str):
    """`NAME([STR(]?var[)], "pattern"[, "i"])` → ('strfn', name, var,
    pattern, flags) for REGEX / CONTAINS / STRSTARTS / STRENDS."""
    fn = name.lower()
    cur.take("(")
    v, _ = cur.str_var(fn.upper())
    cur.take(",")
    pat = cur.string(f"{fn.upper()} pattern must be a string literal")
    flags = ""
    if cur.peek() == ",":
        cur.take()
        fl = cur.take()
        if fn != "regex" or fl != '"i"':
            cur.fail(
                'only REGEX supports a flags argument, and only "i", '
                f"got {fl!r}"
            )
        flags = "i"
    cur.take(")")
    return ("strfn", fn, v, pat, flags)


_FILTER_CALLS = {
    "bound": _f_bound,
    "sameterm": _f_sameterm,
    "lang": _f_termfn,
    "datatype": _f_termfn,
    "langmatches": _f_langmatches,
    **dict.fromkeys(_TERM_KINDS, _f_termis),
    "strlen": _f_strlen,
    **dict.fromkeys((f.lower() for f in _VALUE_FNS), _f_castcmp),
    **dict.fromkeys(
        (f"xsd:{k}" for k in _XSD_CAST_KINDS if k != "string"), _f_castcmp
    ),
    **dict.fromkeys(_STR_EXPR_FNS, _f_strexpr),
    "ucase": _f_case,
    "lcase": _f_case,
    "str": _f_str,
    **dict.fromkeys(_STR_FNS, _f_strfn),
}


def _vars1(node) -> set[str]:
    return {node[1]}


def _vars2(node) -> set[str]:
    return {node[2]}


# The legacy comparison leaf (var, op, ('num'|'var', x)) carries no tag;
# `_leaf_tag` files it under this key.
_IDCMP = "idcmp"
# FILTER leaf table: tag → (variables the leaf reads, how it reads them)
#   "id"    compares encoded ids — no dictionary term needed
#   "lit"   resolves its literal(s) to ids with ONE bounded dictionary
#           lookup (term equality / term IN lists) — never a term join
#   "term"  derives a value from the dictionary term text: the planner
#           attaches the variable's term column before compiling
_LEAVES = {
    _IDCMP: (
        lambda n: {n[0]} | ({n[2][1]} if n[2][0] == "var" else set()),
        "id",
    ),
    "cmp": (lambda n: arith_expr_vars(n[1]) | arith_expr_vars(n[3]), "id"),
    "in": (_vars1, "id"),
    "bound": (_vars1, "id"),
    "streq": (_vars1, "lit"),
    "strin": (_vars1, "lit"),
    "strfn": (_vars2, "term"),
    "valcmp": (_vars1, "term"),
    "strexprcmp": (lambda n: strexpr_vars(n[1]), "term"),
    "castcmp": (_vars2, "term"),
    "termfn": (_vars2, "term"),
    "termis": (_vars2, "term"),
    "langmatches": (_vars1, "term"),
    "strlen": (_vars1, "term"),
    "strcase": (_vars2, "term"),
}


def _leaf_tag(node):
    """The `_LEAVES` key of a FILTER AST leaf; None for a connective
    ('not', e) / ('and'|'or', a, b)."""
    if isinstance(node[1], str) and node[1] in _CMP_OPS:
        return _IDCMP
    return node[0] if node[0] in _LEAVES else None


def _leaf_walk(node, pick) -> set:
    """Union of ``pick(tag, leaf)`` over the leaves of a FILTER AST."""
    tag = _leaf_tag(node)
    if tag is not None:
        return pick(tag, node)
    if node[0] == "not":
        return _leaf_walk(node[1], pick)
    return _leaf_walk(node[1], pick) | _leaf_walk(node[2], pick)


def _leaf_vars(node, kinds) -> set[str]:
    return _leaf_walk(
        node,
        lambda tag, n: _LEAVES[tag][0](n) if _LEAVES[tag][1] in kinds else set(),
    )


def filter_expr_vars(node) -> set[str]:
    """All variables referenced by a FILTER expression AST."""
    return _leaf_vars(node, ("id", "lit", "term"))


def filter_expr_strfn_vars(node) -> set[str]:
    """Variables of the leaves that read the dictionary term text — the
    planner attaches a dictionary term column for each before compiling.
    (Term-equality leaves are NOT included: they resolve their literal to
    an id and need no term column.)"""
    return _leaf_vars(node, ("term",))


def filter_expr_term_vars(node) -> set[str]:
    """Variables whose TERM (dictionary entry) the expression reads —
    the term-text leaves plus term-equality / term-IN leaves (which
    resolve their literal to an id and compare identities). Used to
    reject HAVING over COMPUTED group keys (r7): a BIND-target key is a
    value, not a dictionary id, so any term-semantics leaf over it would
    silently misinterpret."""
    return _leaf_vars(node, ("lit", "term"))


def filter_expr_barecmp_vars(node) -> set[str]:
    """Variables compared against a BARE numeric constant
    (`?x > 40` — the legacy id-comparison leaf), plus every variable of
    an arithmetic comparison (FILTER(?x > 5+0) — r10 ADVICE). Under
    ``term_style="lexical"`` the planner evaluates these by typed
    numeric VALUE (ids are lexicographic ranks there), which needs the
    term attach this collector drives; localized plans never call it."""

    def pick(tag, n):
        if tag == _IDCMP:
            return {n[0]} if n[2][0] == "num" else set()
        return _LEAVES[tag][0](n) if tag == "cmp" else set()

    return _leaf_walk(node, pick)


def filter_expr_streq_literals(node) -> set[str]:
    """String literals in term-equality and term-IN leaves — the planner
    resolves each via ONE bounded dictionary lookup (never a term join)
    and compiles an id equality; a literal absent from the dictionary
    appears in no triple and constant-folds."""
    return _leaf_walk(
        node,
        lambda tag, n: {n[2]} if tag == "streq"
        else set(n[2]) if tag == "strin" else set(),
    )


def _parse_arith_expr(src: str):
    """Parse a BIND arithmetic expression (the `_arith` grammar)."""
    return _Tokens(src, "BIND").parse(_arith)


def _arith(cur: _Tokens):
    """Integer arithmetic — the BIND grammar, also every FILTER
    arithmetic comparison side (§17.3 operator mappings): `*` `/` bind
    tighter than `+` `-`; atoms are variables, integers, parentheses and
    the §17.4 functional forms ABS(e), COALESCE(e, ...) and
    IF(cond, then, else) with cond = [!]BOUND(?v) or an arithmetic
    comparison — the unbound-handling toolkit that pairs with the
    engine's compatible-bindings joins. AST nodes: ('num', n) |
    ('var', v) | (op, a, b) | ('abs', a) | ('coalesce', [a, ...]) |
    ('if', cond, then, else)."""
    node = _arith_term(cur)
    _split_negative(cur)
    while cur.peek() in ("+", "-"):
        op = cur.take()
        node = (op, node, _arith_term(cur))
        _split_negative(cur)
    return node


def _split_negative(cur: _Tokens):
    # `?a -3` lexed the operand as one negative number; re-split it into
    # a subtraction where a binary operator is expected
    t = cur.peek()
    if t is not None and re.fullmatch(r"-\d+", t):
        cur.toks[cur.pos] = t[1:]
        cur.toks.insert(cur.pos, "-")


def _arith_term(cur: _Tokens):
    node = _arith_atom(cur)
    while cur.peek() in ("*", "/"):
        op = cur.take()
        node = (op, node, _arith_atom(cur))
    return node


def _arith_atom(cur: _Tokens):
    if cur.peek() == "(":
        cur.take()
        node = _arith(cur)
        cur.take(")")
        return node
    t = cur.take()
    up = t.upper()
    if up in ("ABS", "COALESCE", "IF") and cur.peek() == "(":
        cur.take("(")
        if up == "ABS":
            node = ("abs", _arith(cur))
        elif up == "COALESCE":
            args = [_arith(cur)]
            while cur.peek() == ",":
                cur.take()
                args.append(_arith(cur))
            node = ("coalesce", args)
        else:
            cond = _arith_cond(cur)
            cur.take(",")
            then = _arith(cur)
            cur.take(",")
            node = ("if", cond, then, _arith(cur))
        cur.take(")")
        return node
    if t.startswith(("?", "$")):
        return ("var", t[1:])
    if _INT.fullmatch(t):
        return ("num", int(t))
    cur.fail(
        "expected a variable, integer, or parenthesized expression, "
        f"got {t!r}"
    )


def _arith_cond(cur: _Tokens):
    """IF condition: [!]BOUND(?v) or an arithmetic comparison
    ('icmp', op, a, b)."""
    neg = False
    while cur.peek() == "!":
        cur.take()
        neg = not neg
    if (cur.peek() or "").upper() == "BOUND":
        cur.take()
        cur.take("(")
        v = cur.take()
        if not v.startswith(("?", "$")):
            cur.fail("BOUND takes a variable")
        cur.take(")")
        node = ("bound", v[1:])
    else:
        left = _arith(cur)
        op = cur.op(
            "IF condition must be [!]BOUND(?v) or an arithmetic comparison"
        )
        node = ("icmp", op, left, _arith(cur))
    return ("not", node) if neg else node


def arith_expr_vars(node) -> set[str]:
    """All variables referenced by a BIND arithmetic expression AST."""
    k = node[0]
    if k == "var":
        return {node[1]}
    if k == "num":
        return set()
    if k == "termfn_expr":  # BIND(LANG/DATATYPE(?x) AS ?y)
        return {node[2]}
    if k == "cast_expr":  # BIND(xsd:T(?x) AS ?y) (§17.5)
        return {node[2]}
    if k == "strexpr":  # BIND(SUBSTR/CONCAT/... AS ?y) (§17.4.3)
        return strexpr_vars(node[1])
    if k == "abs":
        return arith_expr_vars(node[1])
    if k == "coalesce":
        return set().union(*(arith_expr_vars(a) for a in node[1]))
    if k == "if":
        return (
            _cond_vars(node[1])
            | arith_expr_vars(node[2])
            | arith_expr_vars(node[3])
        )
    return arith_expr_vars(node[1]) | arith_expr_vars(node[2])


def _cond_vars(node) -> set[str]:
    if node[0] == "bound":
        return {node[1]}
    if node[0] == "not":
        return _cond_vars(node[1])
    return arith_expr_vars(node[2]) | arith_expr_vars(node[3])


_PATH_OPERATOR = re.compile(r"[*+!?]")
# internal variables introduced by sequence-path expansion; hidden from
# SELECT * projections
_PATH_VAR_PREFIX = "__pp"


def _expand_path(
    s_tok: str,
    p_tok: str,
    o_tok: str,
    prefixes: dict[str, str],
    path_counter,
) -> list[list[TriplePattern]]:
    """Expand a property path in the predicate slot (SPARQL 1.1 §9.1,
    grammar precedence `|` < `/` < `^`): returns one pattern list per
    `|`-alternative. A sequence `p1/p2/.../pn` becomes the join chain
    through fresh internal variables — exactly the 2-hop shape the engine
    already builds by hand (queries.py two_hop /
    MyOpVisitorBase.java:132-133's intent); an inverse step `^p` swaps the
    subject and object sides of its single pattern; alternation callers
    lower the arms to a synthesized UNION block. Non-path predicates pass
    through as one single-pattern alternative. Tokens this flat expansion
    cannot express — closure operators, grouping parens, composed negated
    sets — raise, and the caller falls back to the full §9.1 path-AST
    parser (`_parse_path_expr`) whose relations the planner compiles."""
    plain = not p_tok.startswith(('"', "<", "?", "$"))
    if plain and p_tok.startswith("(") and p_tok.endswith(")"):
        inner = p_tok[1:-1]
        if "(" in inner or ")" in inner or not inner:
            raise SparqlSyntaxError(f"unsupported property path {p_tok!r}")
        p_tok = inner
    if plain and (_PATH_OPERATOR.search(p_tok) or "(" in p_tok or ")" in p_tok):
        # closure operators or grouping parens inside the expression: not
        # expressible as a flat join chain — the caller falls back to the
        # full §9.1 path-AST parser (`_parse_path_expr`)
        raise SparqlSyntaxError(
            f"unsupported property path {p_tok!r} "
            "(supported: sequence p1/p2, alternation p1|p2, inverse ^p, "
            "closure p+)"
        )
    if not (plain and any(op in p_tok for op in "/|^")):
        return [
            [TriplePattern(*(_normalize_term(t, prefixes) for t in (s_tok, p_tok, o_tok)))]
        ]
    alternatives: list[list[TriplePattern]] = []
    for alt in p_tok.split("|"):
        segs = alt.split("/")
        if any(not seg or seg == "^" for seg in segs):
            raise SparqlSyntaxError(f"malformed property path: {p_tok!r}")
        out: list[TriplePattern] = []
        subj = _normalize_term(s_tok, prefixes)
        for i, seg in enumerate(segs):
            inverse = seg.startswith("^")
            pred = _normalize_term(seg[1:] if inverse else seg, prefixes)
            if "^" in (seg[1:] if inverse else seg):
                raise SparqlSyntaxError(f"malformed property path: {p_tok!r}")
            if i == len(segs) - 1:
                obj = _normalize_term(o_tok, prefixes)
            else:
                obj = ("var", f"{_PATH_VAR_PREFIX}{next(path_counter)}")
            out.append(
                TriplePattern(obj, pred, subj)
                if inverse
                else TriplePattern(subj, pred, obj)
            )
            subj = obj
        alternatives.append(out)
    return alternatives


# closure-family path `p+` / `p*` / `p?` (optionally parenthesized): a
# single plain constant predicate with one trailing operator. The mode
# char is kept: + = one-or-more (reachability), * = zero-or-more
# (reachability ∪ zero-length), ? = zero-or-one (single hop ∪ zero-length).
# Zero-length semantics follow §18.4's ZeroLengthPath: with both endpoints
# variable it binds every term OF THE GRAPH (distinct subjects ∪ objects)
# to itself; a constant endpoint matches itself regardless of membership.
# This fast path keeps the single-predicate closure on the seeded-BFS
# machinery; COMPOSITE paths containing closures — `(p1|p2)+`, `p1/(p2*)`,
# `^(p1/p2)+` — parse below into a full path AST (`_parse_path_expr`) the
# planner compiles to a pair relation.
_CLOSURE = re.compile(r"^\(?([^/|^*+!?()\s]+)([*+?])\)?$")

# characters that delimit a predicate name inside a path expression
_PATH_DELIMS = frozenset("/|^*+?()")


def _parse_path_expr(src: str, prefixes: dict[str, str]):
    """Full property-path expression parser (SPARQL 1.1 §9.1 grammar):
    precedence `|` < `/` < unary `^` / postfix `* + ?`, parentheses for
    grouping. Returns an AST over nodes
        ('pred', slot) | ('inv', a) | ('seq', [a, ...]) |
        ('alt', [a, ...]) | ('clos', a, '*'|'+'|'?')
    Per the grammar, `^p*` parses as `(^p)*` (the inverse binds to the
    path primary, the modifier to the whole element). Predicates must be
    constants — a variable or negated set inside a composite path is
    malformed. The cursor runs over the path's characters."""
    cur = _Tokens(src, "path", prefixes, toks=src)
    node = _path_alt(cur)
    if cur.pos != len(src):
        _path_error(cur)
    return node


def _path_error(cur: _Tokens):
    raise SparqlSyntaxError(f"malformed property path: {cur.src!r}")


def _path_alt(cur: _Tokens):
    parts = [_path_seq(cur)]
    while cur.peek() == "|":
        cur.take()
        parts.append(_path_seq(cur))
    return parts[0] if len(parts) == 1 else ("alt", parts)


def _path_seq(cur: _Tokens):
    parts = [_path_elt(cur)]
    while cur.peek() == "/":
        cur.take()
        parts.append(_path_elt(cur))
    return parts[0] if len(parts) == 1 else ("seq", parts)


def _path_elt(cur: _Tokens):
    inv = cur.peek() == "^"
    if inv:
        cur.take()
    node = _path_atom(cur)
    if inv:
        node = ("inv", node)
    while cur.peek() in ("*", "+", "?"):
        node = ("clos", node, cur.take())
    return node


def _path_pred(cur: _Tokens):
    start = cur.pos
    while cur.peek() not in (None, "!") and cur.peek() not in _PATH_DELIMS:
        cur.pos += 1
    name = cur.src[start : cur.pos]
    if not name or name[0] in "?$\"":
        _path_error(cur)
    slot = _normalize_term(name, cur.prefixes)
    if slot[0] == "var":
        _path_error(cur)
    return slot


def _path_member(cur: _Tokens):
    """One negated-set member: (inverse?, predicate slot)."""
    inv = cur.peek() == "^"
    if inv:
        cur.take()
    return inv, _path_pred(cur)


def _path_atom(cur: _Tokens):
    if cur.peek() == "!":
        # negated property set (§9.1 PathNegatedPropertySet): !p,
        # !(p1|p2|...), with inverse members per the spec identity
        #   !(P1|..|Pn|^Q1|..|^Qm) ≡ !(P1|..|Pn) | ^!(Q1|..|Qm)
        # — a NOT-IN scan over the forward members unioned with the
        # column-swap of a NOT-IN scan over the inverse members
        cur.take()
        if cur.peek() == "(":
            cur.take()
            members = [_path_member(cur)]
            while cur.peek() == "|":
                cur.take()
                members.append(_path_member(cur))
            if cur.peek() != ")":
                _path_error(cur)
            cur.take()
        else:
            members = [_path_member(cur)]
        fwd = tuple(slot for inv, slot in members if not inv)
        inv = tuple(slot for inv, slot in members if inv)
        parts = []
        if fwd:
            parts.append(("npred", fwd))
        if inv:
            parts.append(("inv", ("npred", inv)))
        return parts[0] if len(parts) == 1 else ("alt", parts)
    if cur.peek() == "(":
        cur.take()
        node = _path_alt(cur)
        if cur.peek() != ")":
            _path_error(cur)
        cur.take()
        return node
    return ("pred", _path_pred(cur))


def path_expr_has_closure(node) -> bool:
    k = node[0]
    if k in ("pred", "npred"):
        return False
    if k == "clos":
        return True
    if k == "inv":
        return path_expr_has_closure(node[1])
    return any(path_expr_has_closure(c) for c in node[1])


def path_expr_terms(node) -> set[str]:
    """Term constants inside a path AST (for the one bounded dictionary
    lookup in the planner's constant encoding)."""
    k = node[0]
    if k == "pred":
        kind, val = node[1]
        return {val} if kind == "term" else set()
    if k == "npred":
        return {val for kind, val in node[1] if kind == "term"}
    if k in ("inv", "clos"):
        return path_expr_terms(node[1])
    return set().union(*(path_expr_terms(c) for c in node[1]))


def _parse_patterns(
    src: str,
    prefixes: dict[str, str],
    path_counter=None,
    alt_blocks: list | None = None,
    closures: list | None = None,
    paths: list | None = None,
) -> list[TriplePattern]:
    """Tokenize the WHOLE pattern source first, then split the token stream
    on statement terminators. Splitting the raw string on "." would chop
    dots inside IRIs (<http://example.org/x> — hostnames always contain
    dots) and inside terms like :node_..._-9.15947_38.70289 (the
    reference's AIS vocabulary, MyOpVisitorBase.java:132).

    Alternation paths (`p1|p2`) lower to a synthesized UNION block appended
    to `alt_blocks` (one arm per alternative); composite paths that need
    relation compilation land in `paths`. The only caller passing None for
    those lists is the CONSTRUCT template parse (templates are plain
    triples — §16.2), which therefore rejects paths explicitly."""
    if path_counter is None:
        path_counter = itertools.count()
    patterns: list[TriplePattern] = []
    cur: list[str] = []

    def _flush() -> None:
        """Statement flush. Predicate-object lists (`;`) and object
        lists (`,`) — the grammar's PropertyListNotEmpty / ObjectList
        abbreviations — expand here into plain triples sharing the
        subject (and predicate); each expanded triple then runs the
        single-triple logic (paths, alternations, closures all work
        in any list position, exactly as if written unabbreviated)."""
        if not cur:
            return
        if ";" in cur or "," in cur:
            groups: list[list[str]] = [[]]
            for t in cur:
                if t == ";":
                    groups.append([])
                else:
                    groups[-1].append(t)
            if len(groups[0]) < 3:
                raise SparqlSyntaxError(
                    f"triple pattern needs 3 terms, got {cur!r}"
                )
            subj = groups[0][0]
            trips: list[list[str]] = []
            for gi, g in enumerate(groups):
                if not g:
                    continue  # a dangling ';' before '.' is legal
                toks = g[1:] if gi == 0 else g
                objs: list[list[str]] = [[]]
                for t in toks[1:]:
                    if t == ",":
                        objs.append([])
                    else:
                        objs[-1].append(t)
                if len(toks) < 2 or any(len(ob) != 1 for ob in objs):
                    raise SparqlSyntaxError(
                        f"malformed predicate-object list at {cur!r}"
                    )
                for ob in objs:
                    trips.append([subj, toks[0], ob[0]])
        else:
            trips = [list(cur)]
        for trip in trips:
            _flush_one(trip)
        cur.clear()

    def _flush_one(trip: list[str]) -> None:
        if len(trip) != 3:
            raise SparqlSyntaxError(
                f"triple pattern needs 3 terms, got {trip!r}"
            )
        if trip[1].startswith("!"):
            # negated property set `!p` / `!(p1|p2|...)` (§9.1): one scan
            # with a NOT-IN predicate filter — no inverse/sequence/closure
            # members, constants only. A negated set COMPOSED with other
            # path operators (`!(:p)/:q`) falls through to the full path
            # AST parser below.
            inner = trip[1][1:]
            if inner.startswith("(") and inner.endswith(")"):
                inner = inner[1:-1]
            alts = inner.split("|")
            if not inner or any(
                not a
                or "/" in a
                or a[0] in "?$^(!"
                or _PATH_OPERATOR.search(a)
                for a in alts
            ):
                if paths is not None:
                    ast = _parse_path_expr(trip[1], prefixes)
                    paths.append(
                        (
                            _normalize_term(trip[0], prefixes),
                            ast,
                            _normalize_term(trip[2], prefixes),
                        )
                    )
                    return
                raise SparqlSyntaxError(
                    f"unsupported negated property set: {trip[1]!r} "
                    "(constant predicates only, e.g. !(:p1|:p2))"
                )
            slots = tuple(_normalize_term(a, prefixes) for a in alts)
            patterns.append(
                TriplePattern(
                    _normalize_term(trip[0], prefixes),
                    ("notin", slots),
                    _normalize_term(trip[2], prefixes),
                )
            )
            return
        cm = (
            _CLOSURE.match(trip[1])
            if not trip[1].startswith(('"', "<", "?", "$"))
            else None
        )
        if cm:
            if closures is None:
                raise SparqlSyntaxError(
                    "closure paths (p+ / p* / p?) are not allowed here "
                    "(CONSTRUCT templates take plain triples)"
                )
            pred = _normalize_term(cm.group(1), prefixes)
            if pred[0] == "var":
                raise SparqlSyntaxError("closure path predicate must be constant")
            closures.append(
                (
                    _normalize_term(trip[0], prefixes),
                    pred,
                    _normalize_term(trip[2], prefixes),
                    cm.group(2),
                )
            )
            return
        try:
            alternatives = _expand_path(*trip, prefixes, path_counter)
        except SparqlSyntaxError:
            # composite path the simple expansion cannot express — nested
            # parens, or a closure operator inside a sequence/alternation
            # (`(p1|p2)+`, `p1/(p2*)`): parse the full §9.1 AST; the
            # planner compiles it to a pair relation. Raise the parse
            # error of the AST parser if the token is malformed outright.
            if paths is None or not (
                trip[1]
                and trip[1][0] not in "\"<?$"
                and any(ch in _PATH_DELIMS for ch in trip[1])
            ):
                raise
            ast = _parse_path_expr(trip[1], prefixes)
            paths.append(
                (
                    _normalize_term(trip[0], prefixes),
                    ast,
                    _normalize_term(trip[2], prefixes),
                )
            )
            return
        if len(alternatives) == 1:
            patterns.extend(alternatives[0])
        elif alt_blocks is None:
            raise SparqlSyntaxError(
                "alternation paths are not allowed here "
                "(CONSTRUCT templates take plain triples)"
            )
        else:
            alt_blocks.append(tuple(tuple(arm) for arm in alternatives))

    for tok in _TOKEN.findall(src):
        if tok == ".":
            _flush()
            continue
        terminate = False
        if not tok.startswith('"') and not tok.startswith("<") and tok.endswith("."):
            # statement terminator glued to the last term ("?y." form);
            # dots INSIDE the token (":n_-9.15") are preserved.
            tok = tok[:-1]
            terminate = True
        if tok and not tok.startswith(('"', "<")) and (
            ";" in tok or "," in tok
        ):
            # separators glued to bare terms ("?title;" / ":a,:b") —
            # quoted literals and <iri>s may legally CONTAIN these
            # characters and are excluded above
            for piece in re.split(r"([;,])", tok):
                if piece:
                    cur.append(piece)
        elif tok:
            cur.append(tok)
        if terminate:
            _flush()
    _flush()
    return patterns


def _skip_ws(src: str, i: int) -> int:
    while i < len(src) and src[i].isspace():
        i += 1
    return i


def _scan_delim(src: str, i: int, open_c: str, close_c: str, what: str):
    """src[i] must be `open_c`; return (inner, j) with j past the matching
    `close_c`. Double-quoted literals are skipped (a brace or paren inside
    a string never counts); IRIs cannot legally contain braces or quotes,
    and `<` appears as a comparison operator inside FILTER bodies, so no
    IRI special-casing is needed here."""
    if i >= len(src) or src[i] != open_c:
        raise SparqlSyntaxError(f"expected {open_c!r} to open {what}")
    depth = 0
    n = len(src)
    start = i + 1
    while i < n:
        c = src[i]
        if c == '"':
            i = _skip_string(src, i)
            continue
        if c == open_c:
            depth += 1
        elif c == close_c:
            depth -= 1
            if depth == 0:
                return src[start:i], i + 1
        i += 1
    raise SparqlSyntaxError(f"unbalanced {open_c}{close_c} in {what}")


def _parse_values_rows(vars_: tuple[str, ...], rows_src: str, prefixes):
    """Rows of a multi-variable VALUES block: width check, constants
    only, UNDEF wildcards. Non-disjoint rows parse fine — the planner
    picks the OR-of-ANDs filter or the multiset JOIN lowering by
    checking row unifiability itself."""
    if len(set(vars_)) != len(vars_):
        raise SparqlSyntaxError(f"duplicate VALUES variables: {vars_}")
    rows: list[tuple[tuple[str, object], ...]] = []
    for rm in _VALUES_ROW.finditer(rows_src):
        entries = tuple(
            ("undef", None)
            if t.upper() == "UNDEF"
            else _normalize_term(t, prefixes)
            for t in _TOKEN.findall(rm.group(1))
        )
        if len(entries) != len(vars_):
            raise SparqlSyntaxError(
                f"VALUES row width {len(entries)} != {len(vars_)} variables"
            )
        if any(kind == "var" for kind, _ in entries):
            raise SparqlSyntaxError("VALUES entries must be constants")
        rows.append(entries)
    if _VALUES_ROW.sub(" ", rows_src).strip():
        raise SparqlSyntaxError(f"malformed VALUES rows: {rows_src.strip()!r}")
    if not rows:
        raise SparqlSyntaxError("empty VALUES block")
    # non-disjoint rows (two rows some solution could match) are FINE
    # since r7: the planner routes them through the broadcast-relation
    # JOIN lowering, which produces the spec's multiset duplication the
    # OR-filter form cannot (historically a parse-time reject)
    return (vars_, tuple(rows))


def _parse_group(
    src: str, prefixes: dict[str, str], path_counter, depth: int = 0
) -> GroupPattern:
    """Recursive group-graph-pattern scanner (SPARQL 1.1 §5.2): one linear
    pass over the group source, accumulating triple-pattern text between
    group-level constructs and recursing into every `{ ... }` it meets —
    OPTIONAL/MINUS/FILTER [NOT] EXISTS bodies, UNION arm chains, and plain
    nested subgroups all become child GroupPatterns at arbitrary depth
    (the surface the reference's Jena front-end accepted,
    MyOpVisitorBase.java:49, which the flat regex extraction could not).

    Keyword detection is token-exact: a word counts only at a delimiter
    boundary, so terms like :node_OPTIONAL2 or variables like ?filter
    never trigger. Quoted literals and <IRIs> pass through verbatim.

    A group whose ENTIRE body is a SELECT — a UNION arm `{ SELECT ... }`,
    an OPTIONAL body, or a whole WHERE clause — parses as a subquery
    group (§12), same as the brace-scanned direct form."""
    if re.match(r"\s*SELECT\b", src, re.I):
        sub = parse_sparql(src, outer_prefixes=prefixes)
        if sub.projection is None:
            # SELECT * subquery (§12 + §18.2.4.4): project every visible
            # in-scope variable — pattern-bound vars plus BIND targets
            # down the visible children, minus path/bnode internals —
            # materialized HERE (sorted, deterministic) so the outer
            # group knows the subquery's join surface
            vis = sorted(
                v
                for v in (sub.where.all_vars() | _visible_binds(sub.where))
                if not v.startswith("__pp") and not v.startswith("__bn")
            )
            if not vis:
                raise SparqlSyntaxError(
                    "SELECT * subquery binds no visible variables"
                )
            sub = _dc_replace(sub, projection=tuple(vis))
        return GroupPattern(subselects=(sub,), seq=(("subselect", 0),))
    i, n = 0, len(src)
    buf: list[str] = []
    patterns: list[TriplePattern] = []
    filters: list = []
    binds: list[tuple[str, object]] = []
    optionals: list[GroupPattern] = []
    unions: list[tuple[GroupPattern, ...]] = []
    minuses: list[GroupPattern] = []
    exists: list[tuple[bool, GroupPattern]] = []
    subgroups: list[GroupPattern] = []
    values: list = []
    values_multi: list = []
    alt_blocks: list = []
    closures: list = []
    paths: list = []
    subselects: list = []
    graphs: list = []
    # clauses in WRITTEN order; ("altblock", i) entries are rewritten to
    # union indexes after the scan (alternation-path blocks append to
    # `unions` behind the written UNION blocks)
    seq: list[tuple[str, int]] = []

    def flush():
        text = "".join(buf)
        buf.clear()
        if text.strip():
            np, nc, npp, na = (
                len(patterns), len(closures), len(paths), len(alt_blocks)
            )
            patterns.extend(
                _parse_patterns(
                    text, prefixes, path_counter, alt_blocks, closures, paths
                )
            )
            seq.extend(("pattern", k) for k in range(np, len(patterns)))
            seq.extend(("closure", k) for k in range(nc, len(closures)))
            seq.extend(("path", k) for k in range(npp, len(paths)))
            seq.extend(("altblock", k) for k in range(na, len(alt_blocks)))

    def expect_brace(j: int, what: str):
        j = _skip_ws(src, j)
        return _scan_delim(src, j, "{", "}", what)

    def child(inner: str, empty_msg: str) -> GroupPattern:
        g = _parse_group(inner, prefixes, path_counter, depth + 1)
        if not g.has_required_content():
            raise SparqlSyntaxError(empty_msg)
        return g

    while i < n:
        c = src[i]
        if c == '"':
            j = _skip_string(src, i)
            buf.append(src[i:j])
            i = j
            continue
        if c == "<":
            j = src.find(">", i + 1)
            if j < 0:
                raise SparqlSyntaxError("unterminated IRI")
            buf.append(src[i : j + 1])
            i = j + 1
            continue
        if c == "}":
            raise SparqlSyntaxError("unbalanced '}' in group pattern")
        if c == "{":
            flush()
            inner, i = _scan_delim(src, i, "{", "}", "group pattern")
            arms = [inner]
            while True:  # `{...} UNION {...} [UNION {...}]` chain
                j = _skip_ws(src, i)
                m = _WORD.match(src, j)
                if not (m and m.group(0).upper() == "UNION"):
                    break
                inner2, i = expect_brace(m.end(), "UNION arm")
                arms.append(inner2)
            if len(arms) == 1:
                subgroups.append(child(inner, "empty group pattern"))
                seq.append(("subgroup", len(subgroups) - 1))
            else:
                unions.append(
                    tuple(child(a, "empty UNION arm") for a in arms)
                )
                seq.append(("union", len(unions) - 1))
            continue
        m = _WORD.match(src, i)
        boundary = i == 0 or src[i - 1].isspace() or src[i - 1] in ".{}()"
        if m and boundary and m.group(0).upper() in _GROUP_KEYWORDS:
            kw = m.group(0).upper()
            if kw == "SERVICE":
                raise SparqlSyntaxError(
                    "SERVICE is not supported (no federation)"
                )
            if kw == "GRAPH":
                flush()
                j = _skip_ws(src, m.end())
                gm = re.compile(r"[^\s{]+").match(src, j)
                if not gm:
                    raise SparqlSyntaxError(
                        "GRAPH needs a graph name (?var, <iri> or "
                        "prefixed name) before its group"
                    )
                gslot = _normalize_term(gm.group(0), prefixes)
                if gslot[0] == "notin":
                    raise SparqlSyntaxError(
                        "a negated property set is not a graph name"
                    )
                inner, i = expect_brace(gm.end(), "GRAPH")
                graphs.append((gslot, child(inner, "empty GRAPH group")))
                seq.append(("graph", len(graphs) - 1))
                continue
            if kw == "UNION":
                raise SparqlSyntaxError(
                    "UNION must follow a '{...}' group alternative"
                )
            flush()
            if kw == "OPTIONAL":
                inner, i = expect_brace(m.end(), "OPTIONAL")
                optionals.append(child(inner, "empty OPTIONAL group"))
                seq.append(("optional", len(optionals) - 1))
                continue
            if kw == "MINUS":
                inner, i = expect_brace(m.end(), "MINUS")
                minuses.append(child(inner, "empty MINUS group"))
                seq.append(("minus", len(minuses) - 1))
                continue
            if kw == "FILTER":
                j = _skip_ws(src, m.end())
                m2 = _WORD.match(src, j)
                if m2 and m2.group(0).upper() == "NOT":
                    j2 = _skip_ws(src, m2.end())
                    m3 = _WORD.match(src, j2)
                    if not (m3 and m3.group(0).upper() == "EXISTS"):
                        raise SparqlSyntaxError(
                            "expected EXISTS after FILTER NOT"
                        )
                    inner, i = expect_brace(m3.end(), "FILTER NOT EXISTS")
                    exists.append((True, child(inner, "empty EXISTS group")))
                    seq.append(("exists", len(exists) - 1))
                    continue
                if m2 and m2.group(0).upper() == "EXISTS":
                    inner, i = expect_brace(m2.end(), "FILTER EXISTS")
                    exists.append((False, child(inner, "empty EXISTS group")))
                    seq.append(("exists", len(exists) - 1))
                    continue
                if m2 and j < len(src) and src[j] != "(":
                    # paren-free builtin-call constraint (r11 — the
                    # grammar's `FILTER BuiltInCall` production:
                    # `FILTER regex(?t, "x")`, `FILTER isIRI(?x)`):
                    # re-assemble name(args) — the same text the
                    # bracketted form passes as its body
                    j3 = _skip_ws(src, m2.end())
                    if j3 < len(src) and src[j3] == "(":
                        args, i = _scan_delim(src, j3, "(", ")", "FILTER")
                        filters.append(
                            _parse_filter_expr(
                                f"{m2.group(0)}({args})", prefixes
                            )
                        )
                        continue
                inner, i = _scan_delim(src, j, "(", ")", "FILTER")
                filters.append(_parse_filter_expr(inner, prefixes))
                continue
            if kw == "BIND":
                j = _skip_ws(src, m.end())
                body, i = _scan_delim(src, j, "(", ")", "BIND")
                am = _BIND_AS.search(body)
                if not am:
                    raise SparqlSyntaxError(
                        f"BIND needs the form BIND(expr AS ?var): "
                        f"{body.strip()!r}"
                    )
                body_expr = body[: am.start()]
                # accessor (termfn_expr) / cast (cast_expr) / string
                # manipulation (strexpr) / integer arithmetic — one
                # classification shared with SELECT expression items
                binds.append(
                    (am.group("var"), _parse_bind_body(body_expr))
                )
                seq.append(("bind", len(binds) - 1))
                continue
            # VALUES
            j = _skip_ws(src, m.end())
            if j < n and src[j] in "?$":
                vm = _VAR_NAME.match(src, j)
                if not vm:
                    raise SparqlSyntaxError("malformed VALUES variable")
                vals_src, i = expect_brace(vm.end(), "VALUES")
                entries = tuple(
                    _normalize_term(tok, prefixes)
                    for tok in _TOKEN.findall(vals_src)
                )
                if not entries:
                    raise SparqlSyntaxError("empty VALUES block")
                if any(kind == "var" for kind, _ in entries):
                    raise SparqlSyntaxError("VALUES entries must be constants")
                values.append((vm.group(1), entries))
                seq.append(("values", len(values) - 1))
                continue
            if j < n and src[j] == "(":
                vars_src, j2 = _scan_delim(src, j, "(", ")", "VALUES")
                toks = vars_src.split()
                if not toks or any(not t.startswith(("?", "$")) for t in toks):
                    raise SparqlSyntaxError(
                        f"unsupported VALUES form: {vars_src.strip()!r}"
                    )
                vars_ = tuple(t.lstrip("?$") for t in toks)
                rows_src, i = expect_brace(j2, "VALUES")
                values_multi.append(
                    _parse_values_rows(vars_, rows_src, prefixes)
                )
                seq.append(("values_multi", len(values_multi) - 1))
                continue
            raise SparqlSyntaxError("unsupported VALUES form")
        buf.append(c)
        i += 1
    flush()
    # alternation paths (§9.1) lower to UNION blocks of single-pattern-list
    # arms: arms join per-arm with the rest of the group exactly like
    # written UNION groups (every arm binds the same endpoint variables)
    n_written_unions = len(unions)
    for blk in alt_blocks:
        unions.append(tuple(GroupPattern(patterns=tuple(arm)) for arm in blk))
    seq = [
        ("union", n_written_unions + k) if kind == "altblock" else (kind, k)
        for kind, k in seq
    ]
    return GroupPattern(
        patterns=tuple(patterns),
        filters=tuple(filters),
        binds=tuple(binds),
        optionals=tuple(optionals),
        unions=tuple(unions),
        minuses=tuple(minuses),
        exists=tuple(exists),
        subgroups=tuple(subgroups),
        values=tuple(values),
        values_multi=tuple(values_multi),
        closures=tuple(closures),
        paths=tuple(paths),
        subselects=tuple(subselects),
        graphs=tuple(graphs),
        seq=tuple(seq),
    )


def _validate_group_tree(
    g: GroupPattern, own_filter_scope: set[str] | None,
    inherited: frozenset[str] = frozenset(),
    nested: bool = False,
) -> None:
    """Structural validation, applied at every level of the group tree.

    `own_filter_scope` is the variable scope this group's DIRECT filters
    may reference, or None when the caller already validated them (an
    OPTIONAL child's direct filters fold into the LeftJoin condition, so
    the PARENT validates them against group-vars ∪ parent-required-vars).
    Every group plans standalone (SPARQL's bottom-up algebra). The ROOT
    group's filters reject unknown variables (a var in no pattern is a
    typo); a NESTED group's filters MAY reference variables the group
    cannot bind — §18.2.2.2 evaluates the group bottom-up, so the
    reference is unbound when the filter runs: comparison → error →
    filter-false, BOUND → false (r6, spec-conformant; the planner
    compiles the unbound reference as a NULL column, fuzz-pinned in
    tests/test_properties.py)."""
    req = g.required_vars() | set(inherited)
    if own_filter_scope is not None:
        own_filter_scope = set(own_filter_scope) | set(inherited)
    if own_filter_scope is not None and not nested:
        for expr in g.filters:
            for v in sorted(filter_expr_vars(expr)):
                if v not in own_filter_scope:
                    raise SparqlSyntaxError(
                        f"FILTER variable not in BGP: ?{v}"
                    )
    # BIND validation (§10.1), per group: the target must be FRESH in its
    # group (the spec makes an in-scope target a syntax error) and the
    # expression may only use THIS group's variables and earlier BIND
    # targets (groups plan standalone — an outer variable would silently
    # be unbound). Variables local to the group's MINUS/EXISTS children
    # are NOT in scope for freshness — but the planner computes BINDs
    # in WRITTEN order (§18.2.2.6): a BIND target named like a
    # MINUS/EXISTS group-local variable is fine — written BEFORE the
    # group, the shared name compares per §8.3 (both domains bind it);
    # written AFTER, the group never saw it and the target is fresh.
    # The planner dispatches clauses textually, so both spellings plan
    # to their written meaning (pinned in test_sparql_compat.py).
    bind_scope = g.all_vars() | set(inherited)
    for bvar, bexpr in g.binds:
        unknown = arith_expr_vars(bexpr) - bind_scope
        if unknown and not nested:
            # ROOT group: a variable in no pattern is a typo. A NESTED
            # group's BIND MAY reference variables the group cannot bind
            # — §18.2.2.2 evaluates the group bottom-up, so the
            # reference is unbound when the BIND runs: expression →
            # error → target unbound (r7, mirroring the nested-group
            # FILTER rule; the planner compiles the reference as a NULL
            # column)
            raise SparqlSyntaxError(
                f"BIND expression variables not in scope: "
                f"{['?' + v for v in sorted(unknown)]}"
            )
        if bvar in bind_scope:
            raise SparqlSyntaxError(f"BIND target is already bound: ?{bvar}")
        bind_scope.add(bvar)
    # VALUES vars may be OPTIONAL-bound (the planner compat-joins the
    # possibly-unbound rows); only a var bound NOWHERE in the group is a
    # typo and rejects
    # BIND targets count for the MINUS/EXISTS share checks and VALUES
    # scoping: a group sharing ONLY a BIND-bound variable is meaningful
    # (§8.3 compares any variable both domains bind). Whether it shares
    # AT THE CLAUSE'S WRITTEN POSITION is the planner's textual dispatch:
    # a MINUS written before the BIND that names its variable is
    # positionally domain-disjoint and removes nothing (spec-correct).
    group_scope = (
        g.all_vars() | set(inherited) | {bvar for bvar, _ in g.binds}
    )
    for var, _ in g.values:
        if var not in group_scope:
            raise SparqlSyntaxError(f"VALUES variable not in BGP: ?{var}")
    for vars_, _ in g.values_multi:
        for var in vars_:
            if var not in group_scope:
                raise SparqlSyntaxError(f"VALUES variable not in BGP: ?{var}")
    for sub in g.subgroups:
        _validate_group_tree(sub, sub.all_vars(), inherited, nested=True)
    # a GRAPH block's graph VARIABLE is in scope throughout the block
    # (§13.3 binds it for the whole enclosed pattern): filters and BIND
    # expressions at any depth inside may reference it, and the BIND
    # freshness check rejects a target that would shadow it
    for gslot, sub in g.graphs:
        child_inh = (
            inherited | {gslot[1]} if gslot[0] == "var" else inherited
        )
        _validate_group_tree(
            sub, sub.all_vars(), frozenset(child_inh), nested=True
        )
    for blk in g.unions:
        for arm in blk:
            _validate_group_tree(arm, arm.all_vars(), inherited, nested=True)
    # an OPTIONAL may key on a variable an EARLIER optional bound (the
    # planner compat-joins the possibly-unbound rows), so the join scope
    # accumulates in textual order; a fully disjoint OPTIONAL still
    # rejects (it would silently cartesian)
    opt_scope = set(req)
    for opt in g.optionals:
        # inside a GRAPH ?g block every child's scans bind ?g (inherited
        # is nonempty only there), so the graph var counts as shared
        if not ((opt.all_vars() | set(inherited)) & opt_scope):
            raise SparqlSyntaxError(
                "OPTIONAL group shares no variable with the required patterns"
            )
        # a group-scoped FILTER may reference the group's own variables and
        # the enclosing group's required ones — SPARQL's LeftJoin(P1, P2, F)
        # scope; variables of SIBLING optional groups are rejected (their
        # binding order would silently change the result)
        scope = opt.all_vars() | req
        for expr in opt.filters:
            for v in sorted(filter_expr_vars(expr)):
                if v not in scope:
                    raise SparqlSyntaxError(
                        f"OPTIONAL FILTER variable not in the group or the "
                        f"required patterns: ?{v}"
                    )
        _validate_group_tree(opt, None, inherited, nested=True)
        opt_scope |= opt.all_vars()
    # MINUS/EXISTS plan after every OPTIONAL, so optional-bound vars are
    # legitimate (compat-joined) keys; a group sharing NOTHING with the
    # enclosing scope still rejects (disjoint-domain MINUS removes
    # nothing per SPARQL — silently keeping everything hides a typo'd
    # variable)
    for grp in g.minuses:
        if (
            _STRICT_MODE.get()
            and not ((grp.all_vars() | set(inherited)) & group_scope)
        ):
            raise SparqlSyntaxError(
                "MINUS group shares no variable with the required patterns"
            )
        _validate_group_tree(grp, grp.all_vars(), inherited, nested=True)
    for _, grp in g.exists:
        if (
            _STRICT_MODE.get()
            and not ((grp.all_vars() | set(inherited)) & group_scope)
        ):
            raise SparqlSyntaxError(
                "EXISTS group shares no variable with the required patterns"
            )
        _validate_group_tree(grp, grp.all_vars(), inherited, nested=True)


def parse_sparql(
    query: str,
    outer_prefixes: dict[str, str] | None = None,
    term_style: str | None = None,
) -> BGPQuery:
    """Parse one query. `outer_prefixes` carries an ENCLOSING query's
    PREFIX declarations into a subquery (§12: subqueries do not redeclare
    prefixes; inner declarations would shadow outer ones).

    ``term_style``: "localized" (default — the reference's dictionary
    convention) or "lexical" (full N-Triples lexical forms, for
    dictionaries built from raw RDF); see ``_TERM_STYLE``. None inherits
    the ambient style, which is how recursive subquery parses stay
    consistent with their outer query.

    Phases, in the order their checks run: query form, WHERE group,
    GROUP BY expression keys, projection and aggregates, scope checks,
    trailing VALUES, HAVING, grouping checks, ORDER BY, final checks."""
    if term_style is not None:
        if term_style not in ("localized", "lexical"):
            raise SparqlSyntaxError(
                f"term_style must be 'localized' or 'lexical', got {term_style!r}"
            )
        token = _TERM_STYLE.set(term_style)
        try:
            return parse_sparql(query, outer_prefixes)
        finally:
            _TERM_STYLE.reset(token)
    form = _query_form(query)
    if isinstance(form, BGPQuery):
        return form
    prefixes = _build_prolog_map(form.prefixes_src, outer_prefixes)
    # dataset clauses (§13.2): FROM / FROM NAMED graph IRIs normalize
    # exactly like pattern constants (localized ':name' terms or ids)
    dataset_default: list[tuple[str, object]] = []
    dataset_named: list[tuple[str, object]] = []
    for fm in _FROM_CLAUSE.finditer(form.dataset_src):
        slot = _normalize_term(fm.group("src"), prefixes)
        if slot[0] == "var":
            raise SparqlSyntaxError(
                f"FROM takes a graph IRI, not a variable: ?{slot[1]}"
            )
        (dataset_named if fm.group("named") else dataset_default).append(slot)
    # the WHERE clause parses as a RECURSIVE group graph pattern (§5.2):
    # nested {} subgroups, OPTIONAL/MINUS/EXISTS bodies and UNION arms are
    # full groups at arbitrary depth; one fresh-var source query-wide
    root = _parse_group(form.bgp_src, prefixes, itertools.count())

    aggs = _Aggs()
    mods = _group_by_exprs(form.mods_src, aggs)
    projection = _projection(form.proj_src, aggs)
    if aggs.binds:
        # synthetic BINDs merge after the written ones (same scoping /
        # freshness validation)
        nb = len(root.binds)
        root = _dc_replace(
            root,
            binds=root.binds + tuple(aggs.binds),
            seq=root.seq
            + tuple(("bind", nb + k) for k in range(len(aggs.binds))),
        )
    if not root.has_required_content():
        raise SparqlSyntaxError("empty basic graph pattern")

    required_vars = root.required_vars()
    # in-scope variables for projection / FILTER / ORDER BY validation:
    # every pattern-bound variable plus every BIND target anywhere in the
    # tree (a nested group's BIND target is visible once the group joins
    # in). Per-group BIND scoping/freshness validates in
    # _validate_group_tree below.
    bind_targets = {
        bvar for g in _walk_groups(root) for bvar, _ in g.binds
    }
    pattern_vars = root.all_vars() | bind_targets
    # OPTIONAL-bound DESCRIBE vars are fine: an unbound binding names no
    # resource and the planner filters it (§16.4); only a var bound
    # NOWHERE is a typo
    if form.describe_var is not None and form.describe_var not in pattern_vars:
        raise SparqlSyntaxError(
            f"DESCRIBE variable must be bound by the required patterns: "
            f"?{form.describe_var}"
        )
    construct = _construct_template(form.tpl_src, prefixes, pattern_vars)
    # structural validation of the whole group tree: share-variable checks
    # for OPTIONAL/MINUS/EXISTS at every level, VALUES variable scoping,
    # and nested-group FILTER scoping (root filters validate against
    # pattern_vars, which includes BIND targets)
    _validate_group_tree(root, own_filter_scope=pattern_vars)
    if projection is not None:
        aliases = aggs.aliases()
        unknown = set(projection) - pattern_vars - aliases
        if unknown:
            raise SparqlSyntaxError(
                f"projected variables not in BGP: {sorted(unknown)}"
            )
        if aliases & pattern_vars:
            raise SparqlSyntaxError(
                f"aggregate alias shadows a pattern variable: "
                f"{sorted(aliases & pattern_vars)}"
            )
    _check_agg_args(aggs.aggregates, pattern_vars)

    mods, root = _trailing_values(mods, root, required_vars, prefixes)
    mods, having = _having(mods, aggs, prefixes)
    # re-check: lifting added entries
    _check_agg_args(aggs.aggregates, pattern_vars, bind_targets)
    gm = _GROUP.search(mods)
    group_by = (
        tuple(v.lstrip("?$") for v in gm.group("keys").split()) if gm else ()
    )
    grouped = bool(group_by) or bool(aggs.aggregates)
    _check_grouping(
        grouped, projection, group_by, having, aggs, pattern_vars, bind_targets
    )
    mods, order_by = _order_by(mods, aggs, grouped, pattern_vars)
    _check_order_keys(
        order_by, grouped, projection, group_by, aggs, pattern_vars,
        bind_targets,
    )

    lm = _LIMIT.search(mods)
    om = _OFFSET.search(mods)
    leftover = _OFFSET.sub("", _LIMIT.sub("", _GROUP.sub("", mods))).strip()
    if leftover:
        raise SparqlSyntaxError(f"unsupported solution modifiers: {leftover!r}")
    return BGPQuery(
        projection=projection,
        where=root,
        distinct=form.distinct,
        ask=form.ask,
        order_by=tuple(order_by),
        limit=int(lm.group("n")) if lm else None,
        construct=tuple(construct),
        describe_var=form.describe_var,
        offset=int(om.group("n")) if om else None,
        group_by=group_by,
        aggregates=tuple(aggs.aggregates),
        having=tuple(having),
        agg_exprs=tuple(aggs.exprs),
        dataset_default=tuple(dataset_default),
        dataset_named=tuple(dataset_named),
        term_style=_TERM_STYLE.get(),
        prefixes=_prefix_pairs(prefixes),
    )


def _prefix_pairs(prefixes: dict[str, str]) -> tuple:
    return tuple(sorted((k, v) for k, v in prefixes.items() if k != "@base"))


@dataclass(frozen=True)
class _Form:
    """A query's text split by its form: prolog, WHERE group, projection,
    the solution modifiers after the group, and the dataset clauses."""

    prefixes_src: str
    bgp_src: str
    dataset_src: str
    proj_src: str = "*"
    distinct: bool = False
    mods_src: str = ""
    ask: bool = False
    tpl_src: str | None = None
    describe_var: str | None = None


def _query_form(query: str):
    """Query-form phase: DESCRIBE / ASK / CONSTRUCT / SELECT → `_Form`.
    DESCRIBE over constant resources (no WHERE) short-circuits to the
    finished BGPQuery — its plan is a single filtered scan, no pattern
    machinery involved."""
    dv = _DESCRIBE_VAR.match(query)
    dt = _DESCRIBE_TERMS.match(query) if not dv else None
    if dt:
        prefixes = _build_prolog_map(dt.group("prefixes"), None)
        slots = tuple(
            _normalize_term(t, prefixes)
            for t in _TOKEN.findall(dt.group("what"))
        )
        if not slots:
            raise SparqlSyntaxError("DESCRIBE needs at least one resource")
        if any(kind == "var" for kind, _ in slots):
            raise SparqlSyntaxError(
                "DESCRIBE with variables needs a WHERE group "
                "(DESCRIBE ?x WHERE { ... }), one variable only"
            )
        return BGPQuery(
            projection=None,
            describe_terms=slots,
            term_style=_TERM_STYLE.get(),
            prefixes=_prefix_pairs(prefixes),
        )
    am = _ASK.match(query)
    cm = _CONSTRUCT.match(query) if not am else None
    cw = _CONSTRUCT_WHERE.match(query) if not (am or cm) else None
    if dv:
        return _Form(
            dv.group("prefixes"),
            dv.group("bgp"),
            dv.group("dataset") or "",
            describe_var=dv.group("var")[1:],
        )
    if am:
        # ASK (§16.3): does the pattern have ≥1 solution? Normalized to the
        # SELECT * machinery with the ask flag; no projection or modifiers.
        return _Form(
            am.group("prefixes"),
            am.group("bgp"),
            am.group("dataset") or "",
            ask=True,
        )
    if cm or cw:
        # CONSTRUCT (§16.2): the template parses after PREFIX resolution;
        # solution modifiers are rejected (the output graph is a set —
        # ordering/slicing solutions would be invisible in it). The
        # §16.2.4 short form CONSTRUCT WHERE { triples } reuses the
        # WHERE text as the template verbatim.
        m_c = cm or cw
        if m_c.group("mods").strip():
            raise SparqlSyntaxError(
                "CONSTRUCT does not take solution modifiers: "
                f"{m_c.group('mods').strip()!r}"
            )
        if cw:
            # §16.2.4 restricts the short form's WHERE to a plain
            # TriplesTemplate — group keywords reject loudly (TOKEN
            # scan, not a text sniff: keywords inside <iri>s or
            # literals never trigger)
            bad = [
                t
                for t in _TOKEN.findall(cw.group("bgp"))
                if not t.startswith(('"', "<"))
                and t.split("(")[0].upper()
                in ("FILTER", "OPTIONAL", "MINUS", "UNION", "GRAPH",
                    "BIND", "VALUES", "SELECT", "SERVICE")
            ]
            if bad:
                raise SparqlSyntaxError(
                    f"CONSTRUCT WHERE takes a plain triples template "
                    f"(§16.2.4), got {bad[0]!r} — use the full "
                    "CONSTRUCT { template } WHERE { patterns } form"
                )
        return _Form(
            m_c.group("prefixes"),
            m_c.group("bgp"),
            m_c.group("dataset") or "",
            tpl_src=cm.group("tpl") if cm else cw.group("bgp"),
        )
    m = _QUERY.match(query)
    if not m:
        raise SparqlSyntaxError(
            "expected: [PREFIX...] SELECT ?v...|* WHERE { patterns }, "
            "ASK [WHERE] { patterns }, CONSTRUCT { template } WHERE "
            "{ patterns }, DESCRIBE term..., or DESCRIBE ?x (one "
            "variable) WHERE { patterns }"
        )
    bgp_src, end = _scan_delim(query, m.end(), "{", "}", "WHERE group")
    return _Form(
        m.group("prefixes"),
        bgp_src,
        m.group("dataset") or "",
        proj_src=m.group("proj").strip(),
        distinct=bool(m.group("distinct")),
        mods_src=query[end:],
    )


def _construct_template(tpl_src, prefixes, pattern_vars) -> list:
    """The CONSTRUCT template's triples ([] for the other forms)."""
    if tpl_src is None:
        return []
    construct = _parse_patterns(tpl_src, prefixes)
    if not construct:
        raise SparqlSyntaxError("empty CONSTRUCT template")
    for tp in construct:
        for v in tp.variables():
            if v.startswith(_PATH_VAR_PREFIX):
                raise SparqlSyntaxError(
                    "property paths are not allowed in a CONSTRUCT "
                    "template (§16.2: templates are plain triples)"
                )
            if v not in pattern_vars:
                if v.startswith("__bn"):
                    # a template blank node with NO co-referring WHERE
                    # label is §16.2's fresh-per-solution instantiation —
                    # the planner mints one node per solution
                    # (deterministic keyed labels)
                    continue
                # a var in NO pattern is a typo; vars bound only in
                # OPTIONAL are fine — §16.2 drops a template's triple
                # for solutions where its variable is unbound (the
                # planner filters those rows per template)
                raise SparqlSyntaxError(
                    f"CONSTRUCT template variable must be bound by the "
                    f"required patterns: ?{v}"
                )
    return construct


class _Aggs:
    """What the projection and the solution modifiers collect:
    ``binds`` — synthetic BINDs (GROUP BY expression keys, SELECT
    expressions, cast/accessor aggregate args), merged after the written
    ones; ``aggregates`` — (func, arg, distinct, alias, separator);
    ``exprs`` — post-aggregation expression aliases
    `(SUM(?x)/COUNT(?x) AS ?r)`: (alias, arithmetic over aggregate
    aliases and group keys), computed OVER the grouped output."""

    def __init__(self):
        self.binds: list[tuple[str, object]] = []
        self.aggregates: list[tuple[str, object, bool, str, str | None]] = []
        self.exprs: list[tuple[str, object]] = []
        self._hidden = itertools.count()

    def aliases(self) -> set[str]:
        """Names the grouped output holds beside the GROUP BY keys."""
        return {alias for _, _, _, alias, _ in self.aggregates} | {
            a for a, _ in self.exprs
        }

    def lift(self, body: str) -> str:
        """Replace every aggregate call in `body` with a hidden-alias
        variable `?__haggN`, registering the aggregate — shared by HAVING
        bodies, SELECT expressions over aggregates and grouped ORDER BY
        expressions."""

        def repl(m: re.Match) -> str:
            func = m.group(1).lower()
            distinct = bool(m.group(2))
            arg = m.group(3)
            if arg == "*" and (func != "count" or distinct):
                raise SparqlSyntaxError(f"{func.upper()}(*) is not supported")
            alias = f"__hagg{next(self._hidden)}"
            if arg == "*":
                avar = None
            elif re.fullmatch(r"[?$]\w+", arg):
                avar = arg[1:]
            else:
                # aggregate over an expression (§11.1) inside HAVING /
                # SELECT expressions / ORDER BY (r8): same per-row
                # arithmetic-before-aggregation slot as projected ones
                avar = ("expr", _parse_arith_expr(arg))
            self.aggregates.append((func, avar, distinct, alias, None))
            return "?" + alias

        return _HAVING_AGG.sub(repl, body)


def _group_by_exprs(mods: str, aggs: _Aggs) -> str:
    """GROUP BY expression keys `GROUP BY (expr AS ?v)` (§11.2
    GroupCondition, r7): each parenthesized item desugars onto the BIND
    machinery — the expression becomes a synthetic BIND (same lowering,
    scoping and freshness validation as a SELECT expression) and the key
    the rest of the pipeline sees is the plain alias variable. Mixed
    plain/expression key lists work; a bare parenthesized expression
    without AS rejects (the key needs a name to be projectable, and
    silent auto-naming would hide typos). Returns the modifiers with the
    key list rewritten to plain variables."""
    gbm = re.search(r"GROUP\s+BY\s+", mods, re.I)
    if not gbm or "(" not in mods[gbm.end() :]:
        return mods
    pos = gbm.end()
    keys: list[str] = []
    changed = False
    while pos < len(mods):
        pos = _skip_ws(mods, pos)
        if pos >= len(mods):
            break
        if mods[pos] in "?$":
            vm = _VAR_NAME.match(mods, pos)
            if not vm:
                raise SparqlSyntaxError("malformed GROUP BY variable")
            keys.append("?" + vm.group(1))
            pos = vm.end()
            continue
        if mods[pos] == "(":
            content, pos = _scan_delim(mods, pos, "(", ")", "GROUP BY")
            em = re.fullmatch(
                r"(?P<expr>.+)\s+AS\s+[?$](?P<alias>\w+)\s*",
                content,
                re.S | re.I,
            )
            if not em:
                raise SparqlSyntaxError(
                    f"GROUP BY expression keys need a name: "
                    f"({content.strip()!r}) — write (expr AS ?v)"
                )
            aggs.binds.append(
                (em.group("alias"), _parse_bind_body(em.group("expr")))
            )
            keys.append("?" + em.group("alias"))
            changed = True
            continue
        break  # the next modifier (HAVING/ORDER/LIMIT/...) starts here
    if not changed:
        return mods
    return f"{mods[: gbm.start()]}GROUP BY {' '.join(keys)} {mods[pos:]}"


def _projection(proj_src: str, aggs: _Aggs):
    """SELECT items → the projected names (None for `*`): plain
    variables, aggregates `(AGG(arg) AS ?a)` and expressions
    `(expr AS ?a)` — over aggregates (§11.1: projections may combine
    aggregates arithmetically: the calls lift, the arithmetic computes
    on the grouped output) or else a synthetic BIND (§18.2.4.4 Extend:
    same lowering, same scope/freshness validation — accessors, casts
    and string manipulations compose here exactly like in a written
    BIND, r7)."""
    if proj_src == "*":
        return None
    items: list[str] = []
    for itm in _PROJ_ITEM.findall(proj_src):
        if itm.startswith(("?", "$")):
            items.append(itm[1:])
            continue
        am = _AGG_ITEM.match(itm)
        if am:
            items.append(_aggregate_item(am, aggs))
            continue
        em = _EXPR_ITEM.match(itm)
        if not em:
            raise SparqlSyntaxError(
                f"unsupported projection item: {itm!r} "
                "(supported: ?var, (AGG([DISTINCT] ?v|*) AS ?alias), "
                "or (expression AS ?alias))"
            )
        expr = em.group("expr")
        if _HAVING_AGG.search(expr):
            aggs.exprs.append(
                (em.group("alias"), _parse_arith_expr(aggs.lift(expr)))
            )
        else:
            aggs.binds.append((em.group("alias"), _parse_bind_body(expr)))
        items.append(em.group("alias"))
    if len(set(items)) != len(items):
        raise SparqlSyntaxError(f"duplicate projection names: {items}")
    return tuple(items)


def _aggregate_item(am: re.Match, aggs: _Aggs) -> str:
    """One `(AGG([DISTINCT] arg [; SEPARATOR=...]) AS ?alias)` item →
    its alias; the aggregate registers in ``aggs``."""
    func = am.group("func").lower()
    arg = am.group("arg").strip()
    distinct = bool(am.group("distinct"))
    sep = am.group("sep")
    if arg == "*" and (func != "count" or distinct):
        raise SparqlSyntaxError(f"{func.upper()}(*) is not supported")
    if sep is not None and func != "group_concat":
        raise SparqlSyntaxError("SEPARATOR is only valid on GROUP_CONCAT")
    if func == "group_concat" and sep is None:
        sep = " "  # the §11 default separator
    if arg == "*":
        avar = None
    elif re.fullmatch(r"[?$]\w+", arg):
        avar = arg[1:]
    elif re.fullmatch(r"STR\s*\(\s*[?$]\w+\s*\)", arg, re.I):
        # aggregate over the DECODED term text (r7): MIN/MAX/SAMPLE/
        # GROUP_CONCAT get STRING semantics (codepoint order / lexical
        # concatenation), COUNT counts solutions with a bound argument;
        # arg slot = ('str', var) — the planner attaches the dictionary
        # term before the partial aggregation
        if func in ("sum", "avg"):
            raise SparqlSyntaxError(f"{func.upper()}(STR(...)) is not numeric")
        avar = ("str", re.search(r"[?$](\w+)", arg).group(1))
    elif _AGG_CALL_ARG.fullmatch(arg):
        # cast / accessor aggregate args (r7): `SUM(xsd:decimal(?p))`,
        # `AVG(YEAR(?d))`, `MIN(xsd:date(?d))`, `COUNT(STRLEN(?x))` — the
        # typed VALUE computes once per solution row as a synthetic BIND
        # (the §17.5 / §17.4.5 lowering, errors → NULL → skipped by the
        # null-skipping aggregates, matching §11's error-removing
        # card[...]), and the aggregate itself runs over a plain bound
        # column
        node = _parse_bind_body(arg)
        if func in ("sum", "avg") and (
            node[0] == "termfn_expr"  # xsd:string ≡ STR
            or node[0] == "strexpr"  # computed string (r8)
            or (node[0] == "cast_expr" and node[1] in ("date", "dateTime"))
        ):
            raise SparqlSyntaxError(f"{func.upper()}({arg}) is not numeric")
        avar = f"__aggb{len(aggs.binds)}"
        aggs.binds.append((avar, node))
    else:
        # aggregate over an EXPRESSION (§11.1 — `SUM(?a * ?b)`,
        # `GROUP_CONCAT(?a + ?b)`): the arithmetic computes per solution
        # row BEFORE the aggregation; arg slot = ('expr', arith AST).
        # GROUP_CONCAT stringifies the numeric value (r8) — the concat
        # path casts to string.
        avar = ("expr", _parse_arith_expr(arg))
    aggs.aggregates.append((func, avar, distinct, am.group("alias"), sep))
    return am.group("alias")


def _check_agg_args(
    aggregates, pattern_vars, bind_targets=frozenset(), listed=False
):
    """Every aggregate argument is bound by the WHERE group, and a STR()
    argument by a pattern — a computed variable (one of
    ``bind_targets``) is a VALUE, not a dictionary id, so STR() would
    join it against unrelated terms (r7). ``listed`` reports the unbound
    names of any argument as one list (the ORDER BY wording)."""
    for _, avar, _, _, _ in aggregates:
        if isinstance(avar, tuple) and avar[0] == "str":
            if avar[1] not in pattern_vars:
                raise SparqlSyntaxError(
                    f"aggregate variable not in BGP: ?{avar[1]}"
                )
            if avar[1] in bind_targets:
                raise SparqlSyntaxError(
                    f"STR() aggregates need a pattern-bound variable "
                    f"(a computed variable has no dictionary term): "
                    f"?{avar[1]}"
                )
            continue
        if isinstance(avar, tuple):
            bad = arith_expr_vars(avar[1]) - pattern_vars
        else:
            bad = {avar} - pattern_vars - {None}
        names = ["?" + v for v in sorted(bad)]
        if bad and listed:
            raise SparqlSyntaxError(f"aggregate variables not in BGP: {names}")
        if bad and isinstance(avar, tuple):
            raise SparqlSyntaxError(
                f"aggregate-expression variables not in BGP: {names}"
            )
        if bad:
            raise SparqlSyntaxError(f"aggregate variable not in BGP: ?{avar}")


def _trailing_values(mods: str, root, required_vars, prefixes):
    """Trailing VALUES clause (§7.2.2): the spec's final algebra joins it
    with the WHERE pattern (§18.2.2.8 `pattern := Join(pattern, M)`),
    which is exactly the in-group VALUES compilation — so it merges into
    the root group (validated here; the tree was validated before).
    Returns (modifiers without it, root)."""
    trailing_v = list(root.values)
    trailing_vm = list(root.values_multi)
    while True:
        vm = re.search(r"\bVALUES\b", mods, re.I)
        if not vm:
            break
        j = _skip_ws(mods, vm.end())
        if j < len(mods) and mods[j] in "?$":
            nm = _VAR_NAME.match(mods, j)
            if not nm:
                raise SparqlSyntaxError("malformed VALUES variable")
            vals_src, end = _scan_delim(
                mods, _skip_ws(mods, nm.end()), "{", "}", "VALUES"
            )
            entries = tuple(
                _normalize_term(tok, prefixes)
                for tok in _TOKEN.findall(vals_src)
            )
            if not entries:
                raise SparqlSyntaxError("empty VALUES block")
            if any(kind == "var" for kind, _ in entries):
                raise SparqlSyntaxError("VALUES entries must be constants")
            if nm.group(1) not in required_vars:
                raise SparqlSyntaxError(
                    f"VALUES variable not in BGP: ?{nm.group(1)}"
                )
            trailing_v.append((nm.group(1), entries))
        elif j < len(mods) and mods[j] == "(":
            vars_src, j2 = _scan_delim(mods, j, "(", ")", "VALUES")
            toks = vars_src.split()
            if not toks or any(not t.startswith(("?", "$")) for t in toks):
                raise SparqlSyntaxError(
                    f"unsupported VALUES form: {vars_src.strip()!r}"
                )
            vars_ = tuple(t.lstrip("?$") for t in toks)
            for var in vars_:
                if var not in required_vars:
                    raise SparqlSyntaxError(
                        f"VALUES variable not in BGP: ?{var}"
                    )
            rows_src, end = _scan_delim(
                mods, _skip_ws(mods, j2), "{", "}", "VALUES"
            )
            trailing_vm.append(_parse_values_rows(vars_, rows_src, prefixes))
        else:
            raise SparqlSyntaxError("unsupported VALUES form")
        mods = mods[: vm.start()] + " " + mods[end:]
    if len(trailing_v) == len(root.values) and len(trailing_vm) == len(
        root.values_multi
    ):
        return mods, root
    return mods, _dc_replace(
        root,
        values=tuple(trailing_v),
        values_multi=tuple(trailing_vm),
        seq=root.seq
        + tuple(
            ("values", k) for k in range(len(root.values), len(trailing_v))
        )
        + tuple(
            ("values_multi", k)
            for k in range(len(root.values_multi), len(trailing_vm))
        ),
    )


def _having(mods: str, aggs: _Aggs, prefixes):
    """HAVING(expr) — extracted with balanced parens, reusing the FILTER
    expression grammar; evaluated over the grouped OUTPUT columns.
    Aggregate CALLS inside HAVING (§11.5 allows constraints over
    aggregates that are not projected — `HAVING(SUM(?x) > 5)`) lift to
    HIDDEN aggregates: each call becomes a synthetic `?__haggN` variable,
    the aggregate computes alongside the projected ones, the filter
    applies over the grouped output, and the final projection drops the
    hidden column. Returns (modifiers without it, HAVING expressions)."""
    having: list = []
    while True:
        hm = _HAVING.search(mods)
        if not hm:
            break
        depth, i = 1, hm.end()
        while i < len(mods) and depth:
            if mods[i] == "(":
                depth += 1
            elif mods[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise SparqlSyntaxError("unbalanced parentheses in HAVING")
        having.append(
            _parse_filter_expr(aggs.lift(mods[hm.end() : i - 1]), prefixes)
        )
        mods = mods[: hm.start()] + " " + mods[i:]
    return mods, having


def _check_grouping(
    grouped, projection, group_by, having, aggs, pattern_vars, bind_targets
):
    """HAVING, post-aggregation expressions and the projection against
    the grouped output: only GROUP BY keys and aggregate aliases exist
    after aggregation (§11.4's projection restriction — same rule as SQL
    GROUP BY)."""
    if having and not grouped:
        raise SparqlSyntaxError("HAVING requires GROUP BY or aggregates")
    # post-aggregation expressions may reference group keys and (hidden)
    # aggregate aliases — nothing else exists in the grouped output
    agg_aliases = {alias for _, _, _, alias, _ in aggs.aggregates}
    for _, ast in aggs.exprs:
        bad = arith_expr_vars(ast) - agg_aliases - set(group_by)
        if bad:
            raise SparqlSyntaxError(
                f"aggregate-expression variables must be GROUP BY keys or "
                f"aggregates: {['?' + v for v in sorted(bad)]}"
            )
    aliases = aggs.aliases()
    for expr in having:
        # string functions over a GROUP KEY's term are allowed (r6): the
        # planner attaches the key's dictionary term post-aggregation —
        # but an aggregate ALIAS has no term (it is a computed number)
        for v in sorted(filter_expr_strfn_vars(expr)):
            if v not in group_by:
                raise SparqlSyntaxError(
                    f"HAVING string functions apply to GROUP BY keys "
                    f"(dictionary terms), not aggregates: ?{v}"
                )
        for v in sorted(filter_expr_term_vars(expr)):
            if v in bind_targets:
                # a COMPUTED key (BIND target / expression key) is a
                # value, not a dictionary id — joining or resolving it
                # against the dictionary would match unrelated terms.
                # Reject rather than misinterpret (r7).
                raise SparqlSyntaxError(
                    f"HAVING term-semantics functions need a "
                    f"pattern-bound key (a computed key has no "
                    f"dictionary term): ?{v}"
                )
        for v in sorted(filter_expr_vars(expr)):
            if v not in group_by and v not in aliases:
                raise SparqlSyntaxError(
                    f"HAVING variable must be a GROUP BY key or an "
                    f"aggregate alias: ?{v}"
                )
    if not grouped:
        return
    if projection is None:
        raise SparqlSyntaxError("SELECT * cannot combine with GROUP BY/aggregates")
    for v in group_by:
        if v not in pattern_vars:
            raise SparqlSyntaxError(f"GROUP BY variable not in BGP: ?{v}")
    # every plain projected variable must be a grouping key
    bad = [v for v in projection if v not in aliases and v not in group_by]
    if bad:
        raise SparqlSyntaxError(
            f"projected variables must be GROUP BY keys or aggregates: "
            f"{['?' + v for v in bad]}"
        )


_ORDER_DIR = re.compile(r"(ASC|DESC)\s*\(", re.I)
_ORDER_STR = re.compile(r"STR\s*\(", re.I)
_ORDER_STR_KEY = re.compile(r"STR\s*\(\s*[?$](\w+)\s*\)", re.I)
_ORDER_CAST = re.compile(
    r"(?:xsd:(integer|decimal|double|float|date|dateTime)"
    rf"|({_VALUE_FN_RE}))"
    r"\s*\(\s*[?$](\w+)\s*\)",
    re.I,
)


def _order_by(mods: str, aggs: _Aggs, grouped: bool, pattern_vars):
    """ORDER BY keys: plain variables, STR(?x) and cast / accessor keys,
    or parenthesized integer-arithmetic EXPRESSIONS (`ORDER BY (?a - ?b)
    DESC(?x + 1)`, §15.1 OrderCondition with BrackettedExpression).
    Returns (modifiers without the clause, [(key, desc)])."""
    om = re.search(r"ORDER\s+BY\s+", mods, re.I)
    if not om:
        return mods, []
    order_by: list[tuple] = []
    pos = end = om.end()
    while True:
        pos = _skip_ws(mods, pos)
        if pos >= len(mods):
            end = pos
            break
        mdir = _ORDER_DIR.match(mods, pos)
        mstr = not mdir and _ORDER_STR.match(mods, pos)
        mcast = not (mdir or mstr) and _ORDER_CAST.match(mods, pos)
        if mdir or mods[pos] == "(":
            desc = bool(mdir) and mdir.group(1).upper() == "DESC"
            inner, pos = _scan_delim(
                mods, mdir.end() - 1 if mdir else pos, "(", ")", "ORDER BY"
            )
            order_by.append(
                (_order_expr_key(inner, aggs, grouped, pattern_vars), desc)
            )
        elif mstr:
            # bare STR(?x) key: sort by the DECODED term (r6)
            v = _VAR_NAME.match(mods, _skip_ws(mods, mstr.end()))
            if not v:
                raise SparqlSyntaxError("ORDER BY STR(...) takes a variable")
            pos = _skip_ws(mods, v.end())
            if pos >= len(mods) or mods[pos] != ")":
                raise SparqlSyntaxError("malformed ORDER BY STR(?var) key")
            pos += 1
            order_by.append((("str", v.group(1)), False))
        elif mcast:
            # bare xsd:T(?x) / YEAR(?x)-family key (r7): sort by the
            # CAST/accessor VALUE of the term — numeric/date ordering
            # over typed literals
            order_by.append((_cast_key(mcast), False))
            pos = mcast.end()
        else:
            mv = _VAR_NAME.match(mods, pos)
            if not mv:  # LIMIT / OFFSET / end of modifiers
                break
            order_by.append((mv.group(1), False))
            pos = mv.end()
        end = pos
    if not order_by:
        raise SparqlSyntaxError("ORDER BY needs at least one sort key")
    return mods[: om.start()] + " " + mods[end:], order_by


def _cast_key(m: re.Match):
    kind = (
        _XSD_CAST_KINDS[m.group(1).lower()] if m.group(1) else m.group(2).lower()
    )
    return ("cast", kind, m.group(3))


def _order_expr_key(inner: str, aggs: _Aggs, grouped: bool, pattern_vars):
    """A bracketted ORDER BY key `[ASC|DESC](...)`: STR(?x) (term order,
    r6), a cast / accessor (VALUE order, r7), a variable, or arithmetic —
    ('expr', ast), compiled by the planner as a sort column over the
    bound variables BEFORE projection; under GROUP BY ('gexpr', ast)
    (r8, §15.1 with §11): aggregate calls lift to hidden `?__haggN`
    aggregates — the SAME desugaring HAVING and SELECT expressions over
    aggregates use — and the arithmetic compiles over the grouped
    output, where group keys and aggregate aliases are 1:1 columns. So
    `ORDER BY DESC(COUNT(?x))` sorts by a hidden count computed
    alongside the projected aggregates."""
    txt = inner.strip()
    sm = _ORDER_STR_KEY.fullmatch(txt)
    if sm:
        return ("str", sm.group(1))
    cm = _ORDER_CAST.fullmatch(txt)
    if cm:
        return _cast_key(cm)
    if re.fullmatch(r"[?$]\w+", txt):
        return txt[1:]
    if not grouped:
        return ("expr", _parse_arith_expr(inner))
    n_before = len(aggs.aggregates)
    ast = _parse_arith_expr(aggs.lift(inner))
    # the grouping checks already ran: validate the aggregate args lifted
    # HERE against the WHERE group now
    _check_agg_args(aggs.aggregates[n_before:], pattern_vars, listed=True)
    return ("gexpr", ast)


def _check_order_keys(
    order_by, grouped, projection, group_by, aggs, pattern_vars, bind_targets
):
    """Final checks on the sort keys: each names a variable in scope —
    after aggregation only the grouped output's columns."""
    aliases = aggs.aliases()
    for key, _ in order_by:
        if not isinstance(key, tuple):
            if grouped and key not in projection:
                raise SparqlSyntaxError(
                    f"ORDER BY variable not in the grouped projection: ?{key}"
                )
            if not grouped and key not in pattern_vars:
                raise SparqlSyntaxError(f"ORDER BY variable not in BGP: ?{key}")
            continue
        if key[0] == "gexpr":
            # grouped-output expression key: every variable must be a
            # column of the grouped output — a GROUP BY key or an
            # aggregate alias (projected, post-agg, or hidden)
            bad = arith_expr_vars(key[1]) - set(group_by) - aliases
            if bad:
                raise SparqlSyntaxError(
                    f"ORDER BY expression variables must be GROUP BY "
                    f"keys or aggregates: "
                    f"{['?' + v for v in sorted(bad)]}"
                )
            continue
        if grouped:
            raise SparqlSyntaxError(
                "ORDER BY expressions are not supported with "
                "GROUP BY/aggregates (order by an aliased aggregate "
                "or group key instead)"
            )
        if key[0] in ("str", "cast"):
            # a computed variable is a VALUE, not a dictionary id — the
            # term join would be nonsense; sort by the plain variable
            # instead (value order) (r7)
            what, needs = (
                ("STR", "STR needs") if key[0] == "str" else ("cast", "casts need")
            )
            if key[-1] not in pattern_vars:
                raise SparqlSyntaxError(
                    f"ORDER BY {what} variable not in BGP: ?{key[-1]}"
                )
            if key[-1] in bind_targets:
                raise SparqlSyntaxError(
                    f"ORDER BY {needs} a pattern-bound variable (a computed "
                    f"variable has no dictionary term — sort by ?{key[-1]} "
                    "directly)"
                )
            continue
        unknown = arith_expr_vars(key[1]) - pattern_vars
        if unknown:
            raise SparqlSyntaxError(
                f"ORDER BY expression variables not in BGP: "
                f"{['?' + v for v in sorted(unknown)]}"
            )
