"""Seeded input generator and DuckDB twin for the RDF benchmark.

The generated graph has the shape of the TPC-H-style tables the engine's
oracles use (regions, nations, customers, orders, events), at a size set
by ``customers``. Everything derives from ``seed``: the same seed gives the
same N-Triples text, the same tables and the same request constants.

Term kinds in the output: IRIs, plain literals (names, segments, status),
``@en``-tagged literals (nation and region labels) and ``xsd:decimal``
literals (account balance, order price, event value). Event subjects are
the terms the engine is told to put in the Negative sign class.

Decimal values are unique per predicate, so ``ORDER BY ?value LIMIT k``
selects one answer on every engine.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

BASE = "http://example.org/rdfbench/"
VOCAB = BASE + "v#"
XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"
EVENT_PREFIX = f"<{BASE}event/"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# (name, region) as in TPC-H
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
ETYPES = ["click", "error", "purchase", "signup", "view"]


def iri(kind: str, key) -> str:
    return f"<{BASE}{kind}/{key}>"


def pred(name: str) -> str:
    return f"<{VOCAB}{name}>"


def plain(s: str) -> str:
    return f'"{s}"'


def en(s: str) -> str:
    return f'"{s}"@en'


def dec_lex(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    a = abs(cents)
    return f"{sign}{a // 100}.{a % 100:02d}"


def dec(cents: int) -> str:
    return f'"{dec_lex(cents)}"^^<{XSD_DECIMAL}>'


@dataclass
class Dataset:
    """The generated tables (lists of tuples) and their triples."""

    seed: int
    customers: list  # (custkey, name, nationkey, acctbal_cents, segment)
    orders: list  # (orderkey, custkey, price_cents, status)
    events: list  # (eventid, custkey, etype, value_cents)
    triples: list  # (s, p, o) lexical terms


def generate(seed: int, customers: int) -> Dataset:
    """Tables of ``customers`` customers, 10 orders and 7 events per
    customer on average, and their RDF triples."""
    rng = random.Random(seed)
    n_orders = customers * 10
    n_events = customers * 7
    # unique decimals per predicate: sampled without replacement
    bals = rng.sample(range(-99_999, 999_999), customers)
    prices = rng.sample(range(100_000, 50_000_000), n_orders)
    values = rng.sample(range(1, 1_000_000), n_events)
    cust = [
        (
            c,
            f"Customer#{c:09d}",
            rng.randrange(len(NATIONS)),
            bals[c],
            rng.choice(SEGMENTS),
        )
        for c in range(customers)
    ]
    orders = [
        (o, rng.randrange(customers), prices[o], rng.choice(STATUSES))
        for o in range(n_orders)
    ]
    events = [
        (e, rng.randrange(customers), rng.choice(ETYPES), values[e])
        for e in range(n_events)
    ]
    t = []
    for r, name in enumerate(REGIONS):
        t.append((iri("region", r), pred("label"), en(name)))
    for n, (name, r) in enumerate(NATIONS):
        t.append((iri("nation", n), pred("inRegion"), iri("region", r)))
        t.append((iri("nation", n), pred("label"), en(name)))
    for c, name, n, bal, seg in cust:
        s = iri("customer", c)
        t.append((s, pred("inNation"), iri("nation", n)))
        t.append((s, pred("name"), plain(name)))
        t.append((s, pred("acctBal"), dec(bal)))
        t.append((s, pred("segment"), plain(seg)))
    for o, c, price, status in orders:
        s = iri("order", o)
        t.append((s, pred("placedBy"), iri("customer", c)))
        t.append((s, pred("totalPrice"), dec(price)))
        t.append((s, pred("status"), plain(status)))
    for e, c, etype, value in events:
        s = iri("event", e)
        t.append((s, pred("byUser"), iri("customer", c)))
        t.append((s, pred("hasType"), iri("etype", etype)))
        t.append((s, pred("value"), dec(value)))
    rng.shuffle(t)
    return Dataset(seed, cust, orders, events, t)


def write_ntriples(ds: Dataset, directory: str, parts: int = 4) -> str:
    """Write the triples as ``parts`` N-Triples files; returns the dir."""
    os.makedirs(directory, exist_ok=True)
    for i in range(parts):
        with open(os.path.join(directory, f"part-{i}.nt"), "w") as f:
            f.writelines(
                f"{s} {p} {o} .\n" for s, p, o in ds.triples[i::parts]
            )
    return directory


class Twin:
    """DuckDB copy of the generated triples, from which every expected
    answer is computed: ``triples`` holds the generated graph and ``cur``
    the graph as a write script has changed it so far."""

    def __init__(self, ds: Dataset):
        import duckdb
        import pyarrow as pa

        self.con = duckdb.connect()
        table = pa.table(
            {
                "s": [x[0] for x in ds.triples],
                "p": [x[1] for x in ds.triples],
                "o": [x[2] for x in ds.triples],
            }
        )
        self.con.register("_triples", table)
        self.con.execute("CREATE TABLE triples AS SELECT * FROM _triples")
        self.con.unregister("_triples")
        self.reset()

    def reset(self) -> None:
        """Start ``cur`` over from the generated graph."""
        self.con.execute("CREATE OR REPLACE TABLE cur AS SELECT * FROM triples")

    def rows(self, sql: str, params=None) -> list:
        return self.con.execute(sql, params or []).fetchall()

    def execute(self, sql: str, params=None) -> None:
        self.con.execute(sql, params or [])

    def term_counts(self, table: str = "triples") -> tuple[int, int, int]:
        """(triples, distinct terms, distinct Negative-class terms)."""
        n = self.rows(f"SELECT count(*) FROM {table}")[0][0]
        terms = (
            f"SELECT s AS t FROM {table} UNION SELECT p FROM {table} "
            f"UNION SELECT o FROM {table}"
        )
        d = self.rows(f"SELECT count(*) FROM ({terms})")[0][0]
        neg = self.rows(
            f"SELECT count(*) FROM ({terms}) WHERE starts_with(t, ?)",
            [EVENT_PREFIX],
        )[0][0]
        return n, d, neg
