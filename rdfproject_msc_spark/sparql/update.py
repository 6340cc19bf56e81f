r"""SPARQL 1.1 Update (W3C sparql11-update) — a copy-on-write subset.

The reference is read-only: its drivers load a pre-encoded file and
query it (PartitionQueryingSubject.java:55 — there is no write path
anywhere). This module adds the UPDATE half of the SPARQL surface the
way a Spark engine can honestly offer it: **copy-on-write over
immutable DataFrames**. An update never mutates files in place — it
derives a new store (the same base plus a folded delta, below), swaps
it into the Engine, and re-registers the SQL views. Persisting the
updated snapshot is an explicit ``Engine.save()`` — the same
"write once, prune forever" story as ingest.

Supported operations (';'-separated, PREFIX decls shared):

- ``INSERT DATA { triples… GRAPH <g> { triples… } … }`` — ground
  triples/quads. Terms NOT in the dictionary are appended through
  ``sources/ntriples.rank_new_terms`` (existing ids untouched,
  deterministic), so an update can introduce brand-new vocabulary.
- ``DELETE DATA { … }`` — ground; a term absent from the dictionary
  means the triple cannot exist, so that row is a no-op (§3.1.2).
- ``DELETE WHERE { pattern }`` — the pattern is both the WHERE clause
  and the delete template (§3.1.3.3), incl. ``GRAPH`` blocks (constant
  or variable graph): matched quads delete from their named graphs.
  Paths/OPTIONAL are not a QuadPattern template (reject).
- ``DELETE { tpl } INSERT { tpl } WHERE { group }`` and the
  single-template forms ``DELETE {…} WHERE {…}`` / ``INSERT {…}
  WHERE {…}`` (§3.1.3). The WHERE group is the FULL query surface
  (OPTIONAL/FILTER/UNION/paths/subqueries/GRAPH — it compiles through
  ``sparql_to_df``); templates may hold ``GRAPH g {…}`` blocks with a
  constant or WHERE-bound variable graph (instantiations land in /
  delete from that named graph); both template sets instantiate
  against the same pre-state solutions, deletes apply before inserts
  (§3.1.3's semantics: one solution mapping set, DELETE then INSERT).
- ``CLEAR DEFAULT | NAMED | ALL | GRAPH <iri>`` (§3.2.2). Graphs are
  rows here, not resources: clearing a graph that holds no quads is a
  no-op (the SILENT distinction is moot and accepted).
- ``CREATE / DROP / COPY / MOVE / ADD`` (§3.2.3–3.2.7, r11): graph
  management over the quad relation. On a graphs-as-rows store these
  lower to quad filters / relabels / set-unions
  (``_apply_graph_manage``); CREATE is a validated no-op (empty
  graphs are not representable), and the spec's SHOULD-error cases
  (CREATE on an existing graph, DROP/COPY/MOVE/ADD on an absent one)
  raise unless SILENT.

Blank nodes in INSERT payloads (r11): INSERT DATA mints one node per
label per operation, INSERT templates one per (label, solution) —
both with DETERMINISTIC keyed labels (payload digest / template
digest + solution values), so the same label co-refers within its
scope and a replayed request re-derives identical nodes (idempotent
by construction — the engine's replay/oracle stance applied to the
spec's fresh-minting semantics). DELETE payloads keep the spec's
MUST-NOT.

Documented rejects (didactic errors, repo convention): template
variables not bound by the WHERE group (a typo guard, like the
planner's unknown-filter-var reject; the spec would silently drop the
instantiation).

Base + delta (store.py): an update never rewrites the store's base
relation. Every row-level form — INSERT/DELETE DATA, DELETE/INSERT
WHERE, LOAD, ADD — goes through ``TripleStore.with_changes``, which
probes the base ONCE for the changed keys and folds the change into two
materialized, deduplicated sets: ``removed ∪= D∩base; added −= D``, then
``removed −= I; added ∪= I−base``. Reads compose ``base ▷ removed ∪
added``, so the plan has the same leaves after one update or a hundred,
each update's work is paid once instead of by every later read, and the
base keeps its ``sign`` partition pruning. CLEAR /
DROP / COPY / MOVE replace the base instead (``_clone_store``);
``save()`` writes the composed relation and ``Engine.vacuum()`` folds
both sets into one checkpoint.

Scale design (the asymmetry drives every join below):

- Ground payloads (INSERT/DELETE DATA, template constants) are bounded
  by the query STRING — driver-side handling is query-sized, never
  data-sized (the ``encode_terms`` precedent). New terms rank on the
  driver (``rank_new_terms``) with the ids ``extend_dictionary`` would
  give; the one job is the append-bases aggregate.
- A change that fits a local delta (``LOCAL_DELTA_ROWS``) folds on the
  driver: a hash-set filter over the base is its only job, and reads
  apply the sets as that filter plus a local relation — no join and no
  broadcast exchange per read.
- A data-sized change (a WHERE matching more rows, a LOAD) folds in one
  distributed aggregation with no broadcast hint — AQE picks — and the
  sets become a ``localCheckpoint``, released once superseded.
- Layout clustering never re-runs: a ``repartitionByRange`` per update
  would re-shuffle the corpus per statement. The delta rides along
  unclustered until the next ``save()``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.sparql.parser import (
    SparqlSyntaxError,
    _PREFIX_DECL,
    _TERM_STYLE,
    _parse_patterns,
    _scan_delim,
    _skip_string,
    _skip_ws,
)
from rdfproject_msc_spark.store import (
    LOCAL_DELTA_ROWS,
    TripleStore,
    local_relation,
)

TRIPLE_SCHEMA = "s long, p long, o long"
QUAD_SCHEMA = "g long, s long, p long, o long"

_GRAPH_KW = re.compile(r"GRAPH\b", re.I)
_CLEAR_RE = re.compile(
    r"CLEAR\s+(?:SILENT\s+)?(?P<tgt>DEFAULT|NAMED|ALL|GRAPH\s+\S+)", re.I
)
_CREATE_RE = re.compile(
    r"CREATE\s+(?P<silent>SILENT\s+)?GRAPH\s+(?P<g>[^\s;]+)", re.I
)
_DROP_RE = re.compile(
    r"DROP\s+(?P<silent>SILENT\s+)?"
    r"(?P<tgt>DEFAULT\b|NAMED\b|ALL\b|GRAPH\s+[^\s;]+)",
    re.I,
)
_CMA_RE = re.compile(
    r"(?P<op>COPY|MOVE|ADD)\s+(?P<silent>SILENT\s+)?"
    r"(?P<src>DEFAULT\b|(?:GRAPH\s+)?[^\s;]+)\s+TO\s+"
    r"(?P<dst>DEFAULT\b|(?:GRAPH\s+)?[^\s;]+)",
    re.I,
)
_LOAD_RE = re.compile(
    r"LOAD\s+(?P<silent>SILENT\s+)?<(?P<iri>[^>]*)>"
    r"(?:\s+INTO\s+GRAPH\s+(?P<g><[^>]*>|[^\s;]+))?",
    re.I,
)


# ---------------------------------------------------------------------------
# parsed representation
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GroundData:
    """INSERT DATA / DELETE DATA payload: ground quads as normalized
    slots — ``(g_slot | None, s_slot, p_slot, o_slot)`` with slot =
    ("term", text) | ("id", int); g_slot None = default graph."""

    insert: bool
    quads: tuple


@dataclass(frozen=True)
class Modify:
    """DELETE/INSERT … WHERE (and DELETE WHERE, where the template IS
    the pattern source). Templates are tuples of ``(g_slot | None,
    TriplePattern)`` — g_slot None targets the default graph; a
    constant or variable g_slot targets that named graph.

    ``with_slot`` (r10, §3.1.3 WITH): default-graph template entries
    retarget to that named graph, and — absent USING clauses — the
    WHERE matches against it as the active default graph. ``using``
    (§3.1.3 USING [NAMED]) holds ``(kind, token)`` dataset clauses
    with kind ∈ "default"|"named"; they lower VERBATIM onto the
    planner's FROM / FROM NAMED machinery (USING defines the WHERE's
    dataset exactly as FROM does)."""

    delete_tpl: tuple
    insert_tpl: tuple
    where_src: str
    prefixes_src: str
    with_slot: tuple | None = None  # ("term", text) — constant IRI
    with_token: str | None = None   # the IRI as WRITTEN (query text)
    using: tuple = ()               # (("default"|"named", token), ...)


@dataclass(frozen=True)
class Clear:
    target: str  # "default" | "named" | "all"
    graph_slot: tuple | None = None  # ("term", text)|("id", int) for GRAPH


@dataclass(frozen=True)
class Load:
    """LOAD [SILENT] <document> [INTO GRAPH g] (§3.1.4): ground file
    ingestion through the update surface — the document parses with the
    engine's raw-RDF readers (N-Triples by default, Turtle for .ttl),
    unseen terms append via the incremental dictionary path, and the
    resulting graph set-unions into the default graph or the named
    target. SILENT turns an unreadable document into a no-op."""

    path: str
    graph_slot: tuple | None = None  # ("term", text) | ("id", int)
    silent: bool = False


@dataclass(frozen=True)
class GraphManage:
    """CREATE / DROP / COPY / MOVE / ADD (§3.2.3–3.2.7): graph
    management over the quad relation. Graphs are ROWS here, so these
    lower to quad filters, relabels, and set-unions — nearly free
    compared to a protocol endpoint's graph objects. ``src``/``dst``
    are ``"default"`` or a constant graph slot; ``target`` is DROP's
    DEFAULT/NAMED/ALL/graph form."""

    op: str  # "create" | "drop" | "copy" | "move" | "add"
    silent: bool = False
    target: str | None = None  # drop: "default"|"named"|"all"|"graph"
    graph_slot: tuple | None = None  # create / DROP GRAPH
    src: object = None  # "default" | ("term", text) | ("id", int)
    dst: object = None


def _ground_slots(pattern, allow_bnodes: bool = False) -> tuple:
    """Validate one template/data TriplePattern into ground slots.
    ``allow_bnodes`` (INSERT DATA, §3.1.1): a ``_:label`` slot passes
    through as ``("bnode", parsed-name)`` for the keyed mint in
    ``_resolve_ground``; DELETE DATA keeps the spec's MUST-NOT (a
    blank node never matches by label)."""
    out = []
    for pos, slot in (("s", pattern.s), ("p", pattern.p), ("o", pattern.o)):
        kind = slot[0]
        if kind == "var":
            name = str(slot[1])
            if name.startswith("__bn"):
                if not allow_bnodes:
                    raise SparqlSyntaxError(
                        "blank nodes are not allowed in DELETE DATA "
                        "(§3.1.2: a blank node never matches by label)"
                    )
                if pos == "p":
                    raise SparqlSyntaxError(
                        "a blank node cannot be a predicate"
                    )
                out.append(("bnode", name))
                continue
            raise SparqlSyntaxError(
                f"update DATA blocks take ground triples only: "
                f"variable ?{name} is not allowed (INSERT/DELETE DATA "
                "per §3.1.1-2; use DELETE/INSERT … WHERE for variables)"
            )
        if kind not in ("term", "id"):
            raise SparqlSyntaxError(
                f"unsupported term in update payload: {slot!r} "
                "(plain triples only — no paths or negated sets)"
            )
        out.append(slot)
    return tuple(out)


def _check_template_pattern(tp, what: str, allow_bnodes: bool) -> None:
    for pos, slot in (("s", tp.s), ("p", tp.p), ("o", tp.o)):
        if slot[0] == "var" and str(slot[1]).startswith("__bn"):
            if not allow_bnodes:
                raise SparqlSyntaxError(
                    f"blank nodes in {what} templates are not allowed "
                    "(§3.1.3.2 mints fresh nodes for INSERT templates "
                    "only; a DELETE blank node never matches by label)"
                )
            if pos == "p":
                raise SparqlSyntaxError("a blank node cannot be a predicate")
        if slot[0] not in ("var", "term", "id"):
            raise SparqlSyntaxError(
                f"{what} templates take plain triples, got {slot!r}"
            )


def _template_quads(src: str, prefixes, what: str) -> tuple:
    """Parse a template block into ``(g_slot | None, TriplePattern)``
    rows: plain triples target the default graph, ``GRAPH g {…}``
    blocks (constant OR variable g) target that named graph. Vars
    allowed anywhere; paths reject; blank nodes (r11) are allowed in
    INSERT templates — §3.1.3.2's fresh-per-solution instantiation,
    minted by ``apply_update`` — and reject in DELETE templates."""
    default, graphs = _split_graph_blocks(
        src, prefixes, allow_graph_vars=True
    )
    out = [(None, tp) for tp in default]
    for g_slot, pats in graphs:
        out.extend((g_slot, tp) for tp in pats)
    for g_slot, tp in out:
        if (
            g_slot is not None
            and g_slot[0] == "var"
            and str(g_slot[1]).startswith("__bn")
        ):
            raise SparqlSyntaxError(
                "a blank node cannot name a graph in a template"
            )
        _check_template_pattern(tp, what, allow_bnodes=what == "INSERT")
    return tuple(out)


def _split_graph_blocks(src: str, prefixes, allow_graph_vars: bool = False):
    """A QuadData/template body → (default-graph patterns,
    [(g_slot, patterns)]).

    Char-scan (not regex split): GRAPH inside a quoted literal must not
    open a block, so strings are skipped with the parser's own
    ``_skip_string``. ``allow_graph_vars``: templates may name the
    graph with a WHERE-bound variable; ground DATA blocks must not."""
    from rdfproject_msc_spark.sparql.parser import _normalize_term

    default_parts: list[str] = []
    graph_blocks = []
    i, seg_start, n = 0, 0, len(src)
    while i < n:
        c = src[i]
        if c == '"':
            i = _skip_string(src, i)
            continue
        if c == "<":  # IRI: skip to '>' so 'GRAPH' inside an IRI is inert
            j = src.find(">", i)
            i = n if j < 0 else j + 1
            continue
        m = _GRAPH_KW.match(src, i)
        is_boundary = i == 0 or not (src[i - 1].isalnum() or src[i - 1] in "_:?$")
        if m and is_boundary:
            default_parts.append(src[seg_start:i])
            j = _skip_ws(src, m.end())
            if j < n and src[j] == "<":
                k = src.find(">", j)
                if k < 0:
                    raise SparqlSyntaxError("unterminated IRI after GRAPH")
                g_tok, j = src[j : k + 1], k + 1
            else:
                k = j
                while k < n and not src[k].isspace() and src[k] != "{":
                    k += 1
                g_tok, j = src[j:k], k
            if not g_tok:
                raise SparqlSyntaxError("GRAPH needs a graph name in DATA blocks")
            g_slot = _normalize_term(g_tok, prefixes)
            if g_slot[0] == "var" and not allow_graph_vars:
                raise SparqlSyntaxError(
                    "GRAPH in update DATA blocks takes a constant graph "
                    f"name, got ?{g_slot[1]}"
                )
            j = _skip_ws(src, j)
            inner, j = _scan_delim(src, j, "{", "}", "GRAPH block")
            graph_blocks.append((g_slot, _parse_patterns(inner, prefixes)))
            i = seg_start = j
            continue
        i += 1
    default_parts.append(src[seg_start:])
    default = _parse_patterns(" ".join(default_parts), prefixes)
    return default, graph_blocks


def parse_update(src: str, term_style: str | None = None) -> list:
    """Parse an update string into a list of operations (GroundData /
    Modify / Clear), applied in order by ``apply_update``."""
    token = None
    if term_style is not None:
        if term_style not in ("localized", "lexical"):
            raise SparqlSyntaxError(
                f"term_style must be 'localized' or 'lexical', got {term_style!r}"
            )
        token = _TERM_STYLE.set(term_style)
    try:
        return _parse_update_inner(src)
    finally:
        if token is not None:
            _TERM_STYLE.reset(token)


def _parse_update_inner(src: str) -> list:
    prefixes = {m.group(1): m.group(2) for m in _PREFIX_DECL.finditer(src)}
    prefixes_src = "\n".join(
        m.group(0) for m in _PREFIX_DECL.finditer(src)
    )
    body = _PREFIX_DECL.sub(" ", src)
    ops: list = []
    i, n = 0, len(body)
    while True:
        i = _skip_ws(body, i)
        while i < n and body[i] == ";":
            i = _skip_ws(body, i + 1)
        if i >= n:
            break
        head = body[i:]
        if re.match(r"INSERT\s+DATA\b", head, re.I):
            j = _skip_ws(body, i + len(re.match(r"INSERT\s+DATA", head, re.I).group(0)))
            inner, j = _scan_delim(body, j, "{", "}", "INSERT DATA block")
            default, graphs = _split_graph_blocks(inner, prefixes)
            quads = [
                (None, *_ground_slots(p, allow_bnodes=True))
                for p in default
            ] + [
                (g, *_ground_slots(p, allow_bnodes=True))
                for g, pats in graphs
                for p in pats
            ]
            ops.append(GroundData(insert=True, quads=tuple(quads)))
            i = j
            continue
        if re.match(r"DELETE\s+DATA\b", head, re.I):
            j = _skip_ws(body, i + len(re.match(r"DELETE\s+DATA", head, re.I).group(0)))
            inner, j = _scan_delim(body, j, "{", "}", "DELETE DATA block")
            default, graphs = _split_graph_blocks(inner, prefixes)
            quads = [(None, *_ground_slots(p)) for p in default] + [
                (g, *_ground_slots(p)) for g, pats in graphs for p in pats
            ]
            ops.append(GroundData(insert=False, quads=tuple(quads)))
            i = j
            continue
        if re.match(r"DELETE\s+WHERE\b", head, re.I):
            j = _skip_ws(body, i + len(re.match(r"DELETE\s+WHERE", head, re.I).group(0)))
            inner, j = _scan_delim(body, j, "{", "}", "DELETE WHERE block")
            tpl = _template_quads(inner, prefixes, "DELETE WHERE")
            if not tpl:
                raise SparqlSyntaxError("DELETE WHERE needs at least one pattern")
            ops.append(
                Modify(
                    delete_tpl=tpl,
                    insert_tpl=(),
                    where_src=inner,
                    prefixes_src=prefixes_src,
                )
            )
            i = j
            continue
        with_token, with_slot = None, None
        mwith = re.match(r"WITH\s+(<[^>]*>|[^\s;{]+)\s+", head, re.I)
        if mwith:
            from rdfproject_msc_spark.sparql.parser import _normalize_term

            with_token = mwith.group(1)
            with_slot = _normalize_term(with_token, prefixes)
            if with_slot[0] == "var":
                raise SparqlSyntaxError("WITH takes a constant IRI")
            i = i + mwith.end()
            head = body[i:]
            if not re.match(r"(DELETE|INSERT)\s*", head, re.I):
                raise SparqlSyntaxError(
                    "WITH prefixes a DELETE/INSERT … WHERE or DELETE "
                    "WHERE operation (§3.1.3)"
                )
            # WITH + DELETE WHERE: the template-is-pattern shortcut —
            # handled by the dedicated branch below with the slot set
            mdw = re.match(r"DELETE\s+WHERE\b", head, re.I)
            if mdw:
                j = _skip_ws(body, i + mdw.end())
                inner, j = _scan_delim(body, j, "{", "}", "DELETE WHERE block")
                tpl = _template_quads(inner, prefixes, "DELETE WHERE")
                if not tpl:
                    raise SparqlSyntaxError(
                        "DELETE WHERE needs at least one pattern"
                    )
                ops.append(
                    Modify(
                        delete_tpl=tpl,
                        insert_tpl=(),
                        where_src=inner,
                        prefixes_src=prefixes_src,
                        with_slot=with_slot,
                        with_token=with_token,
                    )
                )
                i = j
                continue
        mm = re.match(r"(DELETE|INSERT)\s*\{", head, re.I)
        if mm:
            first_kw = mm.group(1).upper()
            j = i + mm.end() - 1
            tpl1_src, j = _scan_delim(body, j, "{", "}", f"{first_kw} template")
            j = _skip_ws(body, j)
            tpl2_src = None
            second_kw = None
            mm2 = re.match(r"(INSERT)\s*\{", body[j:], re.I)
            if first_kw == "DELETE" and mm2:
                second_kw = "INSERT"
                j2 = j + mm2.end() - 1
                tpl2_src, j = _scan_delim(body, j2, "{", "}", "INSERT template")
                j = _skip_ws(body, j)
            using: list = []
            while True:
                mu = re.match(
                    r"USING\s+(NAMED\s+)?(<[^>]*>|[^\s;{]+)\s*",
                    body[j:],
                    re.I,
                )
                if not mu:
                    break
                using.append(
                    ("named" if mu.group(1) else "default", mu.group(2))
                )
                j = j + mu.end()
            mw = re.match(r"WHERE\s*", body[j:], re.I)
            if not mw:
                raise SparqlSyntaxError(
                    f"{first_kw} {{…}} needs a WHERE group (ground updates "
                    "use INSERT DATA / DELETE DATA)"
                )
            j = _skip_ws(body, j + mw.end())
            where_src, j = _scan_delim(body, j, "{", "}", "WHERE group")
            tpl1 = _template_quads(tpl1_src, prefixes, first_kw)
            tpl2 = (
                _template_quads(tpl2_src, prefixes, "INSERT")
                if tpl2_src is not None
                else ()
            )
            if first_kw == "DELETE":
                ops.append(
                    Modify(
                        delete_tpl=tpl1,
                        insert_tpl=tpl2,
                        where_src=where_src,
                        prefixes_src=prefixes_src,
                        with_slot=with_slot,
                        with_token=with_token,
                        using=tuple(using),
                    )
                )
            else:
                ops.append(
                    Modify(
                        delete_tpl=(),
                        insert_tpl=tpl1,
                        where_src=where_src,
                        prefixes_src=prefixes_src,
                        with_slot=with_slot,
                        with_token=with_token,
                        using=tuple(using),
                    )
                )
            i = j
            continue
        mc = _CLEAR_RE.match(head)
        if mc:
            tgt = mc.group("tgt")
            i = i + mc.end()
            low = tgt.lower()
            if low in ("default", "named", "all"):
                ops.append(Clear(target=low))
            else:
                from rdfproject_msc_spark.sparql.parser import _normalize_term

                g_tok = tgt.split(None, 1)[1]
                g_slot = _normalize_term(g_tok, prefixes)
                if g_slot[0] == "var":
                    raise SparqlSyntaxError("CLEAR GRAPH takes a constant IRI")
                ops.append(Clear(target="graph", graph_slot=g_slot))
            continue
        ml = _LOAD_RE.match(head)
        if ml:
            from rdfproject_msc_spark.sparql.parser import _normalize_term

            path = ml.group("iri")
            if path.startswith("file://"):
                path = path[len("file://") :]
            g_slot = None
            if ml.group("g"):
                g_slot = _normalize_term(ml.group("g"), prefixes)
                if g_slot[0] == "var":
                    raise SparqlSyntaxError(
                        "LOAD … INTO GRAPH takes a constant IRI"
                    )
            ops.append(
                Load(
                    path=path,
                    graph_slot=g_slot,
                    silent=bool(ml.group("silent")),
                )
            )
            i = i + ml.end()
            continue
        mg = _CREATE_RE.match(head)
        if mg:
            from rdfproject_msc_spark.sparql.parser import _normalize_term

            g_slot = _normalize_term(mg.group("g"), prefixes)
            if g_slot[0] == "var":
                raise SparqlSyntaxError("CREATE GRAPH takes a constant IRI")
            ops.append(
                GraphManage(
                    op="create",
                    silent=bool(mg.group("silent")),
                    graph_slot=g_slot,
                )
            )
            i = i + mg.end()
            continue
        mg = _DROP_RE.match(head)
        if mg:
            from rdfproject_msc_spark.sparql.parser import _normalize_term

            tgt = mg.group("tgt")
            low = tgt.lower()
            if low in ("default", "named", "all"):
                ops.append(
                    GraphManage(
                        op="drop",
                        silent=bool(mg.group("silent")),
                        target=low,
                    )
                )
            else:
                g_slot = _normalize_term(tgt.split(None, 1)[1], prefixes)
                if g_slot[0] == "var":
                    raise SparqlSyntaxError("DROP GRAPH takes a constant IRI")
                ops.append(
                    GraphManage(
                        op="drop",
                        silent=bool(mg.group("silent")),
                        target="graph",
                        graph_slot=g_slot,
                    )
                )
            i = i + mg.end()
            continue
        mg = _CMA_RE.match(head)
        if mg:
            from rdfproject_msc_spark.sparql.parser import _normalize_term

            def _graph_or_default(tok: str):
                if tok.upper() == "DEFAULT":
                    return "default"
                parts = tok.split(None, 1)
                if parts[0].upper() == "GRAPH":
                    tok = parts[1]
                slot = _normalize_term(tok, prefixes)
                if slot[0] == "var":
                    raise SparqlSyntaxError(
                        f"{mg.group('op').upper()} takes constant graph "
                        "IRIs (or DEFAULT)"
                    )
                return slot

            ops.append(
                GraphManage(
                    op=mg.group("op").lower(),
                    silent=bool(mg.group("silent")),
                    src=_graph_or_default(mg.group("src")),
                    dst=_graph_or_default(mg.group("dst")),
                )
            )
            i = i + mg.end()
            continue
        raise SparqlSyntaxError(
            f"unrecognized update operation at: {head[:60]!r}"
        )
    if not ops:
        raise SparqlSyntaxError("empty update request")
    return ops


# ---------------------------------------------------------------------------
# application
# ---------------------------------------------------------------------------


def _clone_store(
    store: TripleStore,
    df: DataFrame | None = None,
    quads: DataFrame | None | str = "keep",
    graphs_disjoint: bool | None = None,
) -> TripleStore:
    """Replace a base: the copy reads ``df`` as its default-graph base
    and/or ``quads`` as its quad base, with that relation's pending delta
    emptied (CLEAR / DROP / COPY / MOVE, RDFS materialization, vacuum).
    Layout clustering does NOT re-run: a ``repartitionByRange`` per
    statement would re-shuffle the corpus. Row-level changes go through
    ``TripleStore.with_changes`` instead, which keeps the base and folds
    into its delta."""
    return store.with_base(df, quads, graphs_disjoint)


def _append_terms(spark, dictionary: Dictionary, terms, negative_when):
    """Append request-sized ``terms`` the dictionary lacks: ids ranked on
    the driver (``rank_new_terms``, bit-identical to ``extend_dictionary``)
    → (extended Dictionary, {term: id})."""
    from rdfproject_msc_spark.sources.ntriples import rank_new_terms

    rows = rank_new_terms(dictionary.df, terms, negative_when)
    return dictionary.extend(rows), {t: i for i, t in rows}


def _resolve_ground(
    spark: SparkSession,
    dictionary: Dictionary,
    quads,
    extend: bool,
    negative_when,
):
    """Ground slots → id rows. ``extend=True`` appends unseen terms to
    the dictionary (returns the possibly-extended Dictionary); with
    ``extend=False`` a row with an unknown term resolves to None (the
    triple cannot exist — DELETE DATA no-op semantics).

    INSERT DATA blank nodes (§3.1.1, r11): ``("bnode", name)`` slots
    mint deterministic terms ``_:u<md5(canonical payload)>-<k>`` with
    k = the label's first-appearance index (NOT the parsed name —
    anonymous ``[…]`` labels carry a global parse counter). Keyed on
    the payload CONTENT: the same label co-refers within the
    operation, and a REPLAYED request re-derives identical nodes —
    deterministic and idempotent by design (re-INSERTing the same
    payload is a set-semantics no-op; the spec's fresh-per-execution
    reading would defeat both, the NOW/UUID stance inverted into a
    stable key)."""
    border: dict[str, int] = {}
    for q in quads:
        for slot in q:
            if (
                slot is not None
                and slot[0] == "bnode"
                and slot[1] not in border
            ):
                border[slot[1]] = len(border)
    if border:
        import hashlib

        canon = repr(
            [
                tuple(
                    ("bnode", border[s[1]])
                    if (s is not None and s[0] == "bnode")
                    else s
                    for s in q
                )
                for q in quads
            ]
        )
        digest = hashlib.md5(canon.encode()).hexdigest()[:16]
        quads = tuple(
            tuple(
                ("term", f"_:u{digest}-{border[s[1]]}")
                if (s is not None and s[0] == "bnode")
                else s
                for s in q
            )
            for q in quads
        )
    texts = sorted(
        {
            slot[1]
            for q in quads
            for slot in q
            if slot is not None and slot[0] == "term"
        }
    )
    known = dictionary.lookup_terms(texts) if texts else {}
    missing = [t for t in texts if t not in known]
    if extend and missing:
        dictionary, fresh = _append_terms(
            spark, dictionary, missing, negative_when
        )
        known.update(fresh)
    rows = []
    for q in quads:
        ids = []
        ok = True
        for slot in q:
            if slot is None:
                ids.append(None)
                continue
            if slot[0] == "id":
                ids.append(int(slot[1]))
            elif slot[1] in known:
                ids.append(int(known[slot[1]]))
            else:
                ok = False
                break
        if ok:
            rows.append(tuple(ids))
    return rows, dictionary


def _insert_quads(spark: SparkSession, store: TripleStore, rows) -> TripleStore:
    rows = sorted(set(rows))
    disjoint = store.graphs_disjoint
    if disjoint and store.has_quads:
        # the flag licenses skipping the RDF-merge dedup (store.py):
        # preserve it only if the delta provably keeps every (s,p,o)
        # in one graph — a bounded broadcast probe, else drop to False
        d = local_relation(spark, rows, ["__g_new", "s", "p", "o"])
        cross = (
            store.quads.join(F.broadcast(d), ["s", "p", "o"], "inner")
            .filter(F.col("g") != F.col("__g_new"))
            .limit(1)
            .count()
        )
        disjoint = cross == 0
    if disjoint:
        graphs: dict = {}
        for g, *spo in rows:
            graphs.setdefault(tuple(spo), set()).add(g)
        disjoint = all(len(gs) == 1 for gs in graphs.values())
    return store.with_changes(
        inserted=rows, quads=True, graphs_disjoint=disjoint
    )


def _fold_matches(
    store: TripleStore,
    deleted: DataFrame | None,
    inserted: DataFrame | None,
    quads: bool = False,
    graphs_disjoint: bool | None = None,
) -> TripleStore:
    """Fold the change sets a WHERE clause instantiated: collected to the
    driver in one action when they fit a local delta (the request-sized
    fold), folded distributed otherwise."""
    parts = [
        d.withColumn("__del", F.lit(flag))
        for d, flag in ((deleted, True), (inserted, False))
        if d is not None
    ]
    if not parts:
        return store
    both = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    got = both.limit(LOCAL_DELTA_ROWS + 1).collect()
    if len(got) <= LOCAL_DELTA_ROWS:
        deleted = [tuple(r)[:-1] for r in got if r["__del"]]
        inserted = [tuple(r)[:-1] for r in got if not r["__del"]]
    return store.with_changes(
        deleted, inserted, quads=quads, graphs_disjoint=graphs_disjoint
    )


def _instantiate(solutions: DataFrame, templates, const_ids):
    """Template quads × solution rows → ``(triples_df | None,
    quads_df | None)``. A solution leaving any used variable unbound
    (NULL) drops that instantiation (§3.1.3); a template whose constant
    term is absent from the dictionary matches nothing it could produce
    against existing data and resolves through ``const_ids`` (insert
    templates always resolve — the dictionary was extended first)."""
    tri_parts, quad_parts = [], []
    for g_slot, tp in templates:
        slots = ([(g_slot, "g")] if g_slot is not None else []) + [
            (tp.s, "s"), (tp.p, "p"), (tp.o, "o"),
        ]
        cols = []
        ok = True
        not_null = []
        for slot, name in slots:
            if slot[0] == "var":
                cols.append(F.col(str(slot[1])).cast("long").alias(name))
                not_null.append(str(slot[1]))
            elif slot[0] == "id":
                cols.append(F.lit(int(slot[1])).cast("long").alias(name))
            else:
                tid = const_ids.get(slot[1])
                if tid is None:
                    ok = False
                    break
                cols.append(F.lit(int(tid)).cast("long").alias(name))
        if not ok:
            continue
        inst = solutions
        for v in not_null:
            inst = inst.filter(F.col(v).isNotNull())
        sel = inst.select(*cols)
        (quad_parts if g_slot is not None else tri_parts).append(sel)

    def _union(parts):
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out  # duplicates collapse in the store's delta fold

    return _union(tri_parts), _union(quad_parts)


def _slot_gid(engine, slot) -> int | None:
    """Resolve a constant graph slot to its id (None = term unknown —
    the graph cannot hold a single quad). Query-sized lookup."""
    if slot[0] == "id":
        return int(slot[1])
    return engine.dictionary.lookup_terms([slot[1]]).get(slot[1])


def _ensure_gid(engine, slot, negative_when) -> int:
    """Resolve a destination graph slot, APPENDING the label to the
    dictionary when new (same driver-side append as INSERT DATA:
    existing ids untouched)."""
    gid = _slot_gid(engine, slot)
    if gid is not None:
        return gid
    engine.dictionary, fresh = _append_terms(
        engine.spark, engine.dictionary, [slot[1]], negative_when
    )
    return fresh[slot[1]]


def _named_graph_exists(store: TripleStore, gid: int | None) -> bool:
    """Bounded existence probe: one directory-prunable g-equality scan,
    first row wins (graphs-as-rows: a graph exists iff it holds quads)."""
    if gid is None or not store.has_quads:
        return False
    return (
        store.quads.filter(F.col("g") == F.lit(int(gid))).limit(1).count()
        > 0
    )


def _apply_graph_manage(
    engine, store: TripleStore, op: GraphManage, negative_when
) -> TripleStore:
    """CREATE/DROP/COPY/MOVE/ADD over the quad relation (§3.2.3–3.2.7).

    Graphs-as-rows consequences, all spec-sanctioned:
    - empty named graphs are not representable, so CREATE is a
      validated no-op (it errors on an EXISTING graph per §3.2.3
      unless SILENT — the only state it could check);
    - DROP GRAPH ≡ CLEAR GRAPH on the rows, plus §3.2.4's
      absent-graph error unless SILENT;
    - COPY/MOVE/ADD are one quad filter + relabel + set-union each —
      no store shuffle beyond the data-sized ADD dedup anti-join.

    The ``graphs_disjoint`` flag drops conservatively whenever rows
    are ADDED to the quad relation (COPY/ADD, MOVE from default) —
    the copied (s,p,o)s now exist in two graphs or may collide with
    other graphs; MOVE named→named relabels-and-removes, preserving
    disjointness; quad-shrinking forms keep the flag (a subset of a
    disjoint relation is disjoint)."""
    spark = engine.spark
    if op.op == "create":
        if op.silent:
            return store  # unconditional no-op
        gid = _slot_gid(engine, op.graph_slot)
        if _named_graph_exists(store, gid):
            raise ValueError(
                "CREATE GRAPH: the graph already holds quads (§3.2.3 "
                "errors on an existing graph) — use CREATE SILENT"
            )
        return store  # empty graphs are not representable: no-op
    if op.op == "drop":
        if op.target == "default":
            return _clone_store(
                store, df=spark.createDataFrame([], TRIPLE_SCHEMA)
            )
        if op.target in ("named", "all"):
            new = store
            if op.target == "all":
                new = _clone_store(
                    new, df=spark.createDataFrame([], TRIPLE_SCHEMA)
                )
            if new.has_quads:
                new = _clone_store(
                    new,
                    quads=spark.createDataFrame([], QUAD_SCHEMA),
                    graphs_disjoint=True,
                )
            return new
        gid = _slot_gid(engine, op.graph_slot)
        if not op.silent and not _named_graph_exists(store, gid):
            raise ValueError(
                "DROP GRAPH: the graph does not exist (§3.2.4 errors on "
                "an absent graph) — use DROP SILENT"
            )
        if gid is None or not store.has_quads:
            return store
        return _clone_store(
            store, quads=store.quads.filter(F.col("g") != F.lit(gid))
        )
    # COPY / MOVE / ADD
    if op.src == "default":
        src_gid, src_rows = None, store.df
    else:
        src_gid = _slot_gid(engine, op.src)
        if not _named_graph_exists(store, src_gid):
            if op.silent:
                return store  # §3.2.5–7 SILENT: absent source → no-op
            raise ValueError(
                f"{op.op.upper()}: the source graph does not exist — "
                f"use {op.op.upper()} SILENT"
            )
        src_rows = store.quads_for_graph(src_gid)
    if op.dst == "default":
        dst_gid = None
    else:
        dst_gid = _ensure_gid(engine, op.dst, negative_when)
    if (op.src == "default") == (op.dst == "default") and src_gid == dst_gid:
        return store  # same graph: no-op (§3.2.5–7)
    if op.dst == "default":
        if op.op == "add":
            # set union: RDF graphs are sets — the delta fold keeps only
            # genuinely-new rows (data-sized: no hint, AQE picks)
            new = store.with_changes(inserted=src_rows)
        else:
            new = _clone_store(store, df=src_rows)
        if op.op == "move":
            new = _clone_store(
                new, quads=new.quads.filter(F.col("g") != F.lit(src_gid))
            )
        return new
    # named destination
    relabeled = src_rows.select(
        F.lit(dst_gid).cast("long").alias("g"), "s", "p", "o"
    )
    if not store.has_quads:
        disjoint = True  # the result holds exactly one named graph
    elif op.op == "move" and op.src != "default":
        disjoint = store.graphs_disjoint  # relabel + remove preserves
    else:
        disjoint = False  # rows added to the quad relation: conservative
    if op.op == "add":
        new = store.with_changes(
            inserted=relabeled, quads=True, graphs_disjoint=disjoint
        )
    else:  # copy / move replace the destination graph
        base = (
            store.quads
            if store.has_quads
            else spark.createDataFrame([], QUAD_SCHEMA)
        )
        new = _clone_store(
            store,
            quads=base.filter(F.col("g") != F.lit(dst_gid)).unionAll(
                relabeled
            ),
            graphs_disjoint=disjoint,
        )
    if op.op == "move":
        if op.src == "default":
            new = _clone_store(
                new, df=spark.createDataFrame([], TRIPLE_SCHEMA)
            )
        else:
            new = _clone_store(
                new, quads=new.quads.filter(F.col("g") != F.lit(src_gid))
            )
    return new


def apply_update(engine, src: str, negative_when=None) -> None:
    """Parse ``src`` and apply each operation to ``engine`` in order
    (later operations see earlier results). Mutates ``engine.store``
    (copy-on-write clone) and, when INSERT introduces new terms,
    ``engine.dictionary``."""
    spark = engine.spark
    ops = parse_update(src, term_style=engine.term_style)
    if negative_when is None:
        negative_when = getattr(engine, "_negative_when", None)
    for op in ops:
        store = engine._require_store()
        _apply_op(engine, store, op, negative_when)
        # the replaced store's deltas the new one no longer reads
        store.release_deltas(keep=engine.store)
    if getattr(engine, "_register_as", None):
        engine.store.register(spark, engine._register_as)


def _apply_op(engine, store: TripleStore, op, negative_when) -> None:
    """Apply one parsed operation, swapping ``engine.store`` (and
    ``engine.dictionary`` when terms are appended)."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df

    spark = engine.spark
    if isinstance(op, GroundData):
        if not op.quads:
            return
        rows, new_dict = _resolve_ground(
            spark, engine.dictionary, op.quads, op.insert, negative_when
        )
        if op.insert:
            engine.dictionary = new_dict
        t_rows = [r[1:] for r in rows if r[0] is None]
        q_rows = [r for r in rows if r[0] is not None]
        if t_rows:
            store = store.with_changes(
                **{"inserted" if op.insert else "deleted": t_rows}
            )
        if q_rows and op.insert:
            store = _insert_quads(spark, store, q_rows)
        elif q_rows and store.has_quads:
            store = store.with_changes(deleted=q_rows, quads=True)
        engine.store = store
    elif isinstance(op, Modify):
        # WITH (§3.1.3): default-graph template entries retarget to
        # the named graph; explicit GRAPH blocks keep their own
        def _retarget(tpl):
            if op.with_slot is None:
                return tpl
            return tuple(
                (g if g is not None else op.with_slot, tp)
                for g, tp in tpl
            )

        delete_tpl = _retarget(op.delete_tpl)
        insert_tpl = _retarget(op.insert_tpl)
        tpl_vars = sorted(
            {
                str(slot[1])
                for g_slot, tp in delete_tpl + insert_tpl
                for slot in ((g_slot,) if g_slot else ())
                + (tp.s, tp.p, tp.o)
                if slot[0] == "var"
                # template blank nodes are NEVER WHERE bindings —
                # §3.1.3.2 instantiates them fresh per solution
                # (minted below), so they must not project
                and not str(slot[1]).startswith("__bn")
            }
        )
        proj = (
            " ".join(f"?{v}" for v in tpl_vars) if tpl_vars else "*"
        )
        # USING [NAMED] lowers verbatim onto FROM / FROM NAMED —
        # §3.1.3: when present the WHERE's dataset is exactly what
        # the clauses describe. Absent USING, WITH's graph is the
        # active default (FROM <g>); a GRAPH block inside would
        # then see an EMPTY named-graph set under the planner's
        # exact-dataset rule while the spec keeps the full graph
        # store — reject rather than silently narrow.
        if op.using:
            dataset = " ".join(
                ("FROM NAMED " if kind == "named" else "FROM ") + tok
                for kind, tok in op.using
            )
        elif op.with_token is not None:
            if re.search(r"\bGRAPH\b", op.where_src, re.I):
                raise SparqlSyntaxError(
                    "GRAPH blocks inside a WITH-scoped WHERE need "
                    "explicit USING NAMED clauses (the planner's "
                    "dataset is exactly what the clauses describe; "
                    "WITH alone would silently hide every named "
                    "graph from the block)"
                )
            dataset = f"FROM {op.with_token}"
        else:
            dataset = ""
        query = (
            f"{op.prefixes_src}\nSELECT {proj} {dataset} "
            f"WHERE {{ {op.where_src} }}"
        )
        solutions = sparql_to_df(
            store, query, engine.dictionary, term_style=engine.term_style
        )
        # INSERT-template blank nodes (§3.1.3.2, r11): one FRESH
        # node per solution — label = "_:u" + a template digest
        # (positional, stable under anonymous-label renaming) + a
        # solution-value key + the label's index; co-refers across
        # that solution's template triples, distinct across
        # solutions and across different templates, and replay-
        # deterministic (value-equal duplicate solutions mint the
        # same node — the inserted graph is a set). The labels are
        # DATA-sized vocabulary: distributed incremental append
        # (eager checkpoint, rank caches released), the engine's
        # dictionary extends for real — inserts persist.
        fresh_labels: list[str] = []
        for g_slot, tp in insert_tpl:
            for slot in (tp.s, tp.o):
                name = str(slot[1])
                if (
                    slot[0] == "var"
                    and name.startswith("__bn")
                    and name not in fresh_labels
                ):
                    fresh_labels.append(name)
        if fresh_labels:
            import hashlib as _hashlib

            from rdfproject_msc_spark.sources.ntriples import (
                extend_dictionary,
            )

            canon = repr(
                [
                    (
                        g,
                        tuple(
                            ("bnode", fresh_labels.index(str(s[1])))
                            if (
                                s[0] == "var"
                                and str(s[1]).startswith("__bn")
                            )
                            else s
                            for s in (tp.s, tp.p, tp.o)
                        ),
                    )
                    for g, tp in insert_tpl
                ]
            )
            tdig = _hashlib.md5(canon.encode()).hexdigest()[:8]
            base_cols = sorted(solutions.columns)
            key = F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit(""))
                        for c in base_cols
                    ],
                )
            )
            lab_rel = None
            for k, lbl in enumerate(fresh_labels):
                solutions = solutions.withColumn(
                    f"__ulab{k}",
                    F.concat(
                        F.lit(f"_:u{tdig}-"), key, F.lit(f"-{k}")
                    ),
                )
                part = solutions.select(
                    F.col(f"__ulab{k}").alias("s_term")
                )
                lab_rel = (
                    part if lab_rel is None else lab_rel.unionAll(part)
                )
            parsed = lab_rel.select(
                "s_term",
                F.col("s_term").alias("p_term"),
                F.col("s_term").alias("o_term"),
            )
            mint_caches: list = []
            fresh_ids = extend_dictionary(
                engine.dictionary.df, parsed, caches=mint_caches
            ).localCheckpoint(eager=True)
            for c in mint_caches:
                c.unpersist()  # the checkpoint no longer reads them
            engine.dictionary = engine.dictionary.extend(fresh_ids)
            ext = engine.dictionary.df
            for k, lbl in enumerate(fresh_labels):
                m = ext.withColumnRenamed(
                    "id", f"__uid{k}"
                ).withColumnRenamed("term", f"__ut{k}")
                solutions = (
                    solutions.join(
                        m,
                        F.col(f"__ulab{k}") == F.col(f"__ut{k}"),
                        "left",
                    )
                    .drop(f"__ut{k}")
                    .withColumn(lbl, F.col(f"__uid{k}"))
                    .drop(f"__uid{k}", f"__ulab{k}")
                )
        # template constants: insert-side terms may be NEW (extend);
        # delete-side unknown terms simply instantiate nothing
        ins_texts = sorted(
            {
                slot[1]
                for g_slot, tp in insert_tpl
                for slot in ((g_slot,) if g_slot else ())
                + (tp.s, tp.p, tp.o)
                if slot[0] == "term"
            }
        )
        del_texts = sorted(
            {
                slot[1]
                for g_slot, tp in delete_tpl
                for slot in ((g_slot,) if g_slot else ())
                + (tp.s, tp.p, tp.o)
                if slot[0] == "term"
            }
        )
        const_ids = engine.dictionary.lookup_terms(
            sorted(set(ins_texts) | set(del_texts))
        )
        new_terms = [t for t in ins_texts if t not in const_ids]
        if new_terms:
            engine.dictionary, fresh = _append_terms(
                spark, engine.dictionary, new_terms, negative_when
            )
            const_ids.update(fresh)
        # both sets instantiate against the SAME pre-state solutions,
        # persisted: each fold reads them once and cuts the lineage
        solutions = solutions.persist()
        try:
            del_tri, del_q = _instantiate(solutions, delete_tpl, const_ids)
            ins_tri, ins_q = _instantiate(solutions, insert_tpl, const_ids)
            store = _fold_matches(store, del_tri, ins_tri)
            if not store.has_quads:
                del_q = None  # no named graphs: nothing to delete
            # a data-sized quad insert: re-proving disjointness would
            # cost a corpus join per statement — drop the flag
            # conservatively (write_quads re-proves at save)
            store = _fold_matches(
                store,
                del_q,
                ins_q,
                quads=True,
                graphs_disjoint=False if ins_q is not None else None,
            )
            engine.store = store
        finally:
            solutions.unpersist()
    elif isinstance(op, Load):
        # ground file ingestion composed from the incremental
        # raw-RDF first mile: parse → extend_dictionary (existing
        # ids untouched) → encode → set-union into the target graph
        if op.path.endswith((".nq", ".trig")):
            raise SparqlSyntaxError(
                "LOAD takes a TRIPLE document (N-Triples/Turtle); "
                "datasets (N-Quads/TriG) carry their own graph "
                "labels — use the ingest surface for those"
            )
        if engine.dictionary is None:
            raise SparqlSyntaxError(
                "LOAD needs a dictionary-backed store (the parsed "
                "terms must encode); load or ingest one first"
            )
        if engine.term_style != "lexical":
            # a raw RDF document parses to full lexical forms;
            # appending those to a localized-convention dictionary
            # would silently split every resource into two terms
            raise SparqlSyntaxError(
                "LOAD parses RDF documents into lexical-form terms "
                "and the store's dictionary uses the localized "
                "convention — re-ingest the store from raw RDF, or "
                "add the data with INSERT DATA (whose constants "
                "normalize per the engine's term style)"
            )
        if op.path.endswith(".ttl"):
            from rdfproject_msc_spark.sources.turtle import (
                ingest_turtle as _load_ingest,
            )
        else:
            from rdfproject_msc_spark.sources.ntriples import (
                ingest_ntriples as _load_ingest,
            )
        load_caches: list = []
        try:
            df, dict_df = _load_ingest(
                spark,
                op.path,
                dictionary=engine.dictionary.df,
                negative_when=negative_when,
                # always "fail", SILENT included: §3.1.4's SILENT
                # contract is failure → whole-operation NO-OP, not
                # partial ingest — a malformed line must not make
                # the same document load DIFFERENT data depending
                # on the flag. The try/except around the eager
                # checkpoint below turns the failure into the no-op.
                on_error="fail",
                caches=load_caches,
            )
            # keep the STR values next to the loaded dictionary: the
            # checkpoint below derives them once
            from rdfproject_msc_spark.sparql.planner import _lex_str_value

            dict_df = dict_df.select(
                "id",
                "term",
                _lex_str_value(F.col("id"), F.col("term")).alias("__sv"),
            )
            # materialize INSIDE the try: SILENT must swallow
            # failures surfacing anywhere in the scan (a file
            # deleted between listing and read, a corrupt member
            # of a directory), not just the first-row probe —
            # and the checkpoint severs the ingest-cache lineage
            # so those caches release below. Intra-document
            # duplicates collapse in the store's delta fold.
            df = df.localCheckpoint(eager=True)
            dict_df = dict_df.localCheckpoint(eager=True)
        except Exception:
            for c in load_caches:
                c.unpersist()
            if op.silent:
                return  # §3.1.4 SILENT: failure → no-op
            raise
        for c in load_caches:
            c.unpersist()  # both outputs are checkpointed copies
        engine.dictionary = Dictionary(
            dict_df.select("id", "term"),
            broadcast_hint=engine.dictionary.broadcast_hint,
            sv_df=dict_df,
        )
        if op.graph_slot is None:
            store = store.with_changes(inserted=df)
        else:
            # the graph label itself may be a NEW term
            gid = _ensure_gid(engine, op.graph_slot, negative_when)
            # a data-sized single-graph insert: within-graph rows
            # are trivially disjoint, but cross-graph duplicates
            # against existing quads would need a corpus probe —
            # drop the flag conservatively (save() re-proves)
            store = store.with_changes(
                inserted=df.select(
                    F.lit(gid).cast("long").alias("g"), "s", "p", "o"
                ),
                quads=True,
                graphs_disjoint=False,
            )
        engine.store = store
    elif isinstance(op, Clear):
        if op.target in ("default", "all"):
            empty = spark.createDataFrame([], TRIPLE_SCHEMA)
            store = _clone_store(store, df=empty)
        if op.target in ("named", "all") and store.has_quads:
            store = _clone_store(
                store,
                quads=spark.createDataFrame([], QUAD_SCHEMA),
                graphs_disjoint=True,
            )
        if op.target == "graph" and store.has_quads:
            slot = op.graph_slot
            gid = (
                int(slot[1])
                if slot[0] == "id"
                else engine.dictionary.lookup_terms([slot[1]]).get(slot[1])
            )
            if gid is not None:
                store = _clone_store(
                    store,
                    quads=store.quads.filter(F.col("g") != F.lit(gid)),
                )
        engine.store = store
    elif isinstance(op, GraphManage):
        engine.store = _apply_graph_manage(
            engine, store, op, negative_when
        )
    else:  # pragma: no cover
        raise AssertionError(f"unknown op {op!r}")
