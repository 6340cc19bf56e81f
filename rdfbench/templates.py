"""Request templates: SPARQL text, constants and the DuckDB twin answer.

Two classes, after the split in "SPARQL Graph Pattern Processing with
Apache Spark" (GRADES 2017):

- ``join``: answers come from joins on term ids alone (chains, a star,
  a grouped count, an OPTIONAL);
- ``value``: answers depend on literal values (a numeric FILTER with
  ORDER BY ... LIMIT over decimals, CONTAINS and REGEX over STR()).

Every answer is checked row for row against the twin, which evaluates the
same pattern as SQL over the triple table. Rows are compared as
multisets, in order where the query has ORDER BY ... LIMIT, and as a
subset of the full answer where the query has LIMIT without ORDER BY.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

from gen import ETYPES, NATIONS, REGIONS, SEGMENTS, VOCAB, iri, pred, plain

PREFIX = f"PREFIX v: <{VOCAB}>\n"

# the lexical value of a literal term in the twin
_LEX = "regexp_extract({0}, '^\"(.*)\"', 1)"
_NUM = "CAST(" + _LEX + " AS DECIMAL(18, 2))"


@dataclass(frozen=True)
class Request:
    """One generated query: template name, class and constants."""

    template: str
    cls: str
    params: tuple

    @property
    def text(self) -> str:
        return PREFIX + TEMPLATES[self.template].sparql(*self.params)


@dataclass(frozen=True)
class Template:
    cls: str
    sparql: object  # (*params) -> SPARQL body
    twin_sql: object  # (table, *params) -> (sql, args)
    mode: str  # "set", "ordered" or "limit"
    draw: object  # (rng, ds) -> params


def _chain2(n):
    return (
        f"SELECT ?o WHERE {{ ?o v:placedBy ?c . "
        f"?c v:inNation {iri('nation', n)} }}"
    )


def _chain2_sql(t, n):
    return (
        f"SELECT a.s FROM {t} a JOIN {t} b ON a.o = b.s "
        "WHERE a.p = ? AND b.p = ? AND b.o = ?",
        [pred("placedBy"), pred("inNation"), iri("nation", n)],
    )


def _chain3(k):
    return (
        "SELECT ?o ?c ?n ?r WHERE { ?o v:placedBy ?c . ?c v:inNation ?n . "
        f"?n v:inRegion ?r }} LIMIT {k}"
    )


def _chain3_sql(t, k):
    return (
        f"SELECT a.s, a.o, b.o, c.o FROM {t} a JOIN {t} b ON a.o = b.s "
        f"JOIN {t} c ON b.o = c.s WHERE a.p = ? AND b.p = ? AND c.p = ?",
        [pred("placedBy"), pred("inNation"), pred("inRegion")],
    )


def _star(n, seg):
    return (
        f"SELECT ?c ?name ?bal WHERE {{ ?c v:inNation {iri('nation', n)} . "
        f"?c v:name ?name . ?c v:acctBal ?bal . ?c v:segment {plain(seg)} }}"
    )


def _star_sql(t, n, seg):
    return (
        f"SELECT a.s, b.o, c.o FROM {t} a JOIN {t} b ON a.s = b.s "
        f"JOIN {t} c ON a.s = c.s JOIN {t} d ON a.s = d.s "
        "WHERE a.p = ? AND a.o = ? AND b.p = ? AND c.p = ? AND d.p = ? "
        "AND d.o = ?",
        [pred("inNation"), iri("nation", n), pred("name"), pred("acctBal"),
         pred("segment"), plain(seg)],
    )


def _group(r):
    return (
        "SELECT ?n (COUNT(?o) AS ?cnt) WHERE { ?o v:placedBy ?c . "
        f"?c v:inNation ?n . ?n v:inRegion {iri('region', r)} }} GROUP BY ?n"
    )


def _group_sql(t, r):
    # the count is compared by value: its datatype is not checked
    return (
        f"SELECT b.o, CAST(count(*) AS VARCHAR) FROM {t} a "
        f"JOIN {t} b ON a.o = b.s JOIN {t} c ON b.o = c.s "
        "WHERE a.p = ? AND b.p = ? AND c.p = ? AND c.o = ? GROUP BY b.o",
        [pred("placedBy"), pred("inNation"), pred("inRegion"),
         iri("region", r)],
    )


def _optional(n, etype):
    return (
        f"SELECT ?c ?e WHERE {{ ?c v:inNation {iri('nation', n)} . "
        f"OPTIONAL {{ ?e v:byUser ?c . ?e v:hasType {iri('etype', etype)} }} }}"
    )


def _optional_sql(t, n, etype):
    return (
        f"SELECT a.s, e.s FROM {t} a LEFT JOIN ("
        f"SELECT x.s, x.o FROM {t} x JOIN {t} y ON x.s = y.s "
        "WHERE x.p = ? AND y.p = ? AND y.o = ?) e ON e.o = a.s "
        "WHERE a.p = ? AND a.o = ?",
        [pred("byUser"), pred("hasType"), iri("etype", etype),
         pred("inNation"), iri("nation", n)],
    )


def _numeric(cents, k):
    return (
        "SELECT ?o ?p WHERE { ?o v:totalPrice ?p . "
        f"FILTER(?p > {cents // 100}) }} ORDER BY DESC(?p) LIMIT {k}"
    )


def _numeric_sql(t, cents, k):
    return (
        f"SELECT s, o FROM {t} WHERE p = ? AND {_NUM.format('o')} > ? "
        f"ORDER BY {_NUM.format('o')} DESC LIMIT {k}",
        [pred("totalPrice"), cents // 100],
    )


def _contains(sub):
    return (
        "SELECT ?c ?name WHERE { ?c v:name ?name . "
        f'FILTER(CONTAINS(STR(?name), "{sub}")) }}'
    )


def _contains_sql(t, sub):
    return (
        f"SELECT s, o FROM {t} WHERE p = ? AND contains({_LEX.format('o')}, ?)",
        [pred("name"), sub],
    )


def _regex(prefix):
    return (
        "SELECT ?x ?label WHERE { ?x v:label ?label . "
        f'FILTER(REGEX(STR(?label), "^{prefix}")) }}'
    )


def _regex_sql(t, prefix):
    return (
        f"SELECT s, o FROM {t} WHERE p = ? "
        f"AND starts_with({_LEX.format('o')}, ?)",
        [pred("label"), prefix],
    )


TEMPLATES = {
    "chain2": Template(
        "join", _chain2, _chain2_sql, "set",
        lambda rng, ds: (rng.randrange(len(NATIONS)),),
    ),
    "chain3_limit": Template(
        "join", _chain3, _chain3_sql, "limit",
        lambda rng, ds: (1000,),
    ),
    "star": Template(
        "join", _star, _star_sql, "set",
        lambda rng, ds: (rng.randrange(len(NATIONS)), rng.choice(SEGMENTS)),
    ),
    "group_count": Template(
        "join", _group, _group_sql, "set",
        lambda rng, ds: (rng.randrange(len(REGIONS)),),
    ),
    "optional": Template(
        "join", _optional, _optional_sql, "set",
        lambda rng, ds: (rng.randrange(len(NATIONS)), rng.choice(ETYPES)),
    ),
    "numeric_topk": Template(
        "value", _numeric, _numeric_sql, "ordered",
        lambda rng, ds: (rng.choice(ds.orders)[2], 50),
    ),
    "contains": Template(
        "value", _contains, _contains_sql, "set",
        lambda rng, ds: (f"{rng.randrange(len(ds.customers)):09d}"[-3:],),
    ),
    "regex": Template(
        "value", _regex, _regex_sql, "set",
        lambda rng, ds: (rng.choice([n for n, _ in NATIONS] + REGIONS)[:2],),
    ),
}


def request_stream(seed: int, ds, passes: int) -> list[Request]:
    """``passes`` rounds over every template, in a seeded order per
    round. Half the constants repeat one of two per-template favourites
    (the same query text recurs); the other half are drawn fresh. Result
    sizes that set a request's cost (LIMIT, top-k, prefix length) are
    fixed, so a run's latency does not depend on which ones its seed drew."""
    rng = random.Random(f"{seed}-requests")
    hot = {
        name: [t.draw(rng, ds) for _ in range(2)]
        for name, t in TEMPLATES.items()
    }
    out = []
    for _ in range(passes):
        names = list(TEMPLATES)
        rng.shuffle(names)
        for name in names:
            t = TEMPLATES[name]
            params = (
                rng.choice(hot[name]) if rng.random() < 0.5
                else t.draw(rng, ds)
            )
            out.append(Request(name, t.cls, params))
    return out


def canon(binding: dict | None):
    """A results-JSON binding as its N-Triples term text (None when
    unbound)."""
    if binding is None:
        return None
    kind, value = binding["type"], binding["value"]
    if kind == "uri":
        return f"<{value}>"
    if kind == "bnode":
        return f"_:{value}"
    if "xml:lang" in binding:
        return f'"{value}"@{binding["xml:lang"]}'
    if "datatype" in binding:
        return f'"{value}"^^<{binding["datatype"]}>'
    return f'"{value}"'


def response_rows(doc: dict, req: Request) -> list[tuple]:
    cols = doc["head"]["vars"]
    rows = []
    for b in doc["results"]["bindings"]:
        row = [canon(b.get(c)) for c in cols]
        if req.template == "group_count":
            # compare the count by value
            row[1] = b["cnt"]["value"]
        rows.append(tuple(row))
    return rows


def expected_rows(twin, req: Request, table: str) -> list[tuple]:
    sql, args = TEMPLATES[req.template].twin_sql(table, *req.params)
    return [tuple(r) for r in twin.rows(sql, args)]


def matches(req: Request, got: list[tuple], want: list[tuple]) -> bool:
    mode = TEMPLATES[req.template].mode
    if mode == "ordered":
        return got == want
    if mode == "limit":
        k = req.params[0]
        return len(got) == min(k, len(want)) and not (
            Counter(got) - Counter(want)
        )
    return Counter(got) == Counter(want)
