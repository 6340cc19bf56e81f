"""Per-layer metrics of a traced run, from its spans and operations.

Each request-level metric is the median over the traced read requests of
the run, and again over the ``join`` and the ``value`` class (``.join``
and ``.value`` suffixes). Set-up layers (session, N-Triples ingest,
store, dictionary write) happen once per run. A layer the workload does
not reach reports 0.
"""

from __future__ import annotations

import statistics

from tracing import duration_ms, self_ms

REQUEST = [
    ("dictionary.lookup_calls", "count"),
    ("dictionary.lookup_ms", "ms"),
    ("parser.parse_ms", "ms"),
    ("parser.calls_per_request", "count"),
    ("planner.self_ms", "ms"),
    ("planner.spark_jobs", "count"),
    ("spark.exec_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.executor_run_ms", "ms"),
    ("results.serialize_ms", "ms"),
    ("results.rows", "count"),
    ("results.bytes", "B"),
    ("serve.self_ms", "ms"),
]
SETUP = [
    ("session.start_s", "s"),
    ("ingest.cold_s", "s"),
    ("ntriples.parse_s", "s"),
    ("ntriples.triples", "count"),
    ("ntriples.dictionary_s", "s"),
    ("ntriples.terms", "count"),
    ("ntriples.encode_s", "s"),
    ("store.write_s", "s"),
    ("store.bytes", "B"),
    ("store.files", "count"),
    ("store.open_s", "s"),
    ("dictionary.write_s", "s"),
]
UPDATE = [
    ("update.request_ms", "ms"),
    ("update.parse_ms", "ms"),
    ("update.apply_ms", "ms"),
    ("update.spark_jobs", "count"),
    ("update.store_plan_nodes", "count"),
    ("update.vacuum_s", "s"),
]
CLIENT = [
    ("client.query_p50_ms", "ms"),
    ("client.join_p50_ms", "ms"),
    ("client.value_p50_ms", "ms"),
    ("process.peak_rss_mb", "MB"),
]
OVERHEAD = [("trace.overhead_ms", "ms")]
CLASSES = ("join", "value")


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in output order."""
    suffixed = [
        (f"{n}.{c}", u) for c in CLASSES for n, u in REQUEST
    ]
    return SETUP + REQUEST + suffixed + UPDATE + CLIENT + OVERHEAD


def _by_request(spans: list) -> dict:
    out: dict = {}
    for s in spans:
        if s["request"] is not None:
            out.setdefault(s["request"], []).append(s)
    return out


def _named(spans: list, name: str) -> list:
    return [s for s in spans if s["name"] == name]


def _read_sample(op, spans: list, all_spans: list) -> dict:
    run = _named(spans, "serve.run_query")[0]
    inner = [s for s in spans if s["parent"] == run["id"]]
    planner = _named(spans, "planner.sparql_to_df")
    # parse_sparql calls itself once per query: count the outer calls
    parses = [
        s for s in _named(spans, "parser.parse_sparql")
        if s["parent"] is None
        or all_spans[s["parent"]]["name"] != "parser.parse_sparql"
    ]
    lookups = _named(spans, "dictionary.lookup_terms")
    res = _named(spans, "results.results_json")
    spark = run["spark"]
    sample = {
        "dictionary.lookup_calls": len(lookups),
        "dictionary.lookup_ms": sum(duration_ms(s) for s in lookups),
        "parser.parse_ms": sum(duration_ms(s) for s in parses),
        "parser.calls_per_request": len(parses),
        "planner.self_ms": sum(self_ms(all_spans, s) for s in planner),
        "planner.spark_jobs": sum(s["spark"]["jobs"] for s in planner),
        "results.serialize_ms": sum(
            duration_ms(s) - s["spark"]["exec_ms"] for s in res
        ),
        "results.rows": len(op.rows or ()),
        "results.bytes": op.bytes,
        "serve.self_ms": op.latency_ms - sum(duration_ms(s) for s in inner),
    }
    for key in ("exec_ms", "jobs", "stages", "tasks", "shuffle_bytes",
                "spill_bytes", "executor_run_ms"):
        sample[f"spark.{key}"] = spark[key]
    return sample


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(bench) -> dict:
    spans = bench.tracer.spans
    requests = _by_request(spans)
    measured = [o for o in bench.ops if o.phase == "measure"]
    traced_reads = [
        o for o in measured
        if o.kind == "read" and o.traced and o.status == 200
        and _named(requests.get(o.id, []), "serve.run_query")
    ]
    samples = [
        (o.req.cls, _read_sample(o, requests[o.id], spans))
        for o in traced_reads
    ]
    values: dict = {}
    for name, _ in REQUEST:
        values[name] = _median(s[name] for _, s in samples)
        for c in CLASSES:
            values[f"{name}.{c}"] = _median(
                s[name] for cls, s in samples if cls == c
            )

    setup_spans = [s for s in spans if s["request"] is None]

    def total(name):
        return sum(duration_ms(s) for s in _named(setup_spans, name)) / 1e3

    def rows(name):
        return sum(s.get("rows") or 0 for s in _named(setup_spans, name))

    values.update({
        "session.start_s": bench.setup["session_s"],
        "ingest.cold_s": bench.setup["ingest_s"],
        "ntriples.parse_s": total("ntriples.parse_ntriples"),
        "ntriples.triples": rows("ntriples.parse_ntriples"),
        "ntriples.dictionary_s": total("ntriples.build_dictionary"),
        "ntriples.terms": rows("ntriples.build_dictionary"),
        "ntriples.encode_s": total("ntriples.encode_triples"),
        "store.write_s": total("store.write"),
        "store.bytes": bench.facts["store_bytes"],
        "store.files": bench.facts["store_files"],
        "store.open_s": bench.setup["open_s"],
        "dictionary.write_s": total("engine.save") - total("store.write"),
    })

    updates = [o for o in measured if o.kind == "update"]
    traced_updates = [o for o in updates if o.traced and o.id in requests]

    def upd(o, name):
        return sum(duration_ms(s) for s in _named(requests[o.id], name))

    values.update({
        "update.request_ms": _median(
            o.latency_ms for o in updates if not o.traced
        ),
        "update.parse_ms": _median(
            upd(o, "update.parse_update") for o in traced_updates
        ),
        "update.apply_ms": _median(
            upd(o, "update.apply_update") - upd(o, "update.parse_update")
            for o in traced_updates
        ),
        "update.spark_jobs": _median(
            sum(s["spark"]["jobs"]
                for s in _named(requests[o.id], "update.apply_update"))
            for o in traced_updates
        ),
        "update.store_plan_nodes": _median(
            o.plan_nodes for o in traced_updates
        ),
        "update.vacuum_s": bench.facts.get("vacuum_s", 0.0),
    })
    values.update({
        "client.query_p50_ms": bench.read_p50(),
        "client.join_p50_ms": bench.read_p50("join"),
        "client.value_p50_ms": bench.read_p50("value"),
        "process.peak_rss_mb": bench.peak_rss_mb(),
    })
    reads = [o for o in measured if o.kind == "read"]
    values["trace.overhead_ms"] = _median(
        o.latency_ms for o in reads if o.traced
    ) - _median(o.latency_ms for o in reads if not o.traced)
    return {n: {"value": values[n], "unit": u} for n, u in names()}
