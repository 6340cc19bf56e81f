"""HTTP SPARQL endpoint (SPARQL 1.1 Protocol: query + update operations).

A thin stdlib front door over the Engine: ``GET /sparql?query=…`` and
``POST /sparql`` (urlencoded form or ``application/sparql-query``
body) run through the same planner as ``Engine.sparql``, and the
response is the content-negotiated W3C results document
(sparql/results.py) — JSON by default, XML / CSV / TSV via ``Accept``.
The JSON, XML and TSV documents decode on the driver after the capped
collect: at most ``json_limit + 1`` undecoded rows come back, and only
their ids are looked up in the dictionary.
CONSTRUCT/DESCRIBE answer an RDF graph: N-Triples by default,
subject-grouped Turtle (prefixes from the query's own prolog) under
``Accept: text/turtle``.

The Protocol's UPDATE operation (``POST`` with an ``update=`` form
field or an ``application/sparql-update`` body) routes through
``Engine.update`` and answers 204. It is a WRITE surface, so it is
OFF unless the server starts with ``enable_update=True`` (CLI
``--enable-update``); disabled servers answer 403.

Error taxonomy (documented in README): **400** malformed query/update
(the protocol's MalformedQuery) and — under ``strict_terms`` — the
dictionary's unknown-term typo guard; **403** update against a
query-only server; **413** exactly the one-document row-cap guard
(the dedicated ``ResultSizeExceeded``); **500** everything else
(QueryRequestRefused), including planner rejects like FROM against a
triple-only store.

Deliberately ``http.server``: the endpoint is an integration surface
for standard tooling (curl, rdflib SPARQLStore, notebooks) against a
local or driver-side engine — not a production web stack (no auth, no
TLS, one process). HTTP responses are one document by nature, so
serving is driver-sized by construction; data-sized exports belong to
the distributed CSV/TSV sinks.
"""

from __future__ import annotations

from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

# most-specific Accept token wins, first match in header order
_FMT = {
    "application/sparql-results+json": "json",
    "application/json": "json",
    "application/sparql-results+xml": "xml",
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    "text/turtle": "turtle",
    "application/n-triples": "nt",
}
_CTYPE = {
    "json": "application/sparql-results+json",
    "xml": "application/sparql-results+xml",
    "csv": "text/csv; charset=utf-8",
    "tsv": "text/tab-separated-values; charset=utf-8",
    "nt": "application/n-triples; charset=utf-8",
    "turtle": "text/turtle; charset=utf-8",
}


def _negotiate(accept: str) -> str:
    for tok in (accept or "").split(","):
        fmt = _FMT.get(tok.split(";")[0].strip().lower())
        if fmt:
            return fmt
    return "json"  # the protocol's server-chooses default


def _graph_body(df, bgp, fmt: str, limit: int) -> tuple[str, str]:
    """Serialize a CONSTRUCT/DESCRIBE answer — an RDF GRAPH, not a
    results document — under the one-document row cap. N-Triples is
    the server default (the engine's canonical term text IS the NT
    form); ``Accept: text/turtle`` negotiates subject-grouped Turtle
    through the SAME formatter as the distributed sink
    (sources/turtle.py:format_turtle), with ``@prefix`` directives
    taken from the query's own prolog."""
    from rdfproject_msc_spark.sparql.results import ResultSizeExceeded

    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ResultSizeExceeded(
            f"result exceeds limit={limit} rows — a graph answer "
            "over HTTP is one document; use the engine's "
            "distributed sinks for data-sized graphs"
        )
    if fmt != "turtle":
        body = "".join(f"{r['s']} {r['p']} {r['o']} .\n" for r in rows)
        return body, "nt"
    from rdfproject_msc_spark.sources.turtle import format_turtle

    prefixes = dict(bgp.prefixes)
    spark = df.sparkSession
    graph = spark.createDataFrame(
        [(r["s"], r["p"], r["o"]) for r in rows],
        "s_term string, p_term string, o_term string",
    )
    lines = [r["value"] for r in format_turtle(graph, prefixes).collect()]
    header = [f"@prefix {k}: <{v}> ." for k, v in sorted(prefixes.items())]
    return "\n".join(header + lines) + "\n", "turtle"


def _run_query(
    engine, query: str, fmt: str, limit: int, strict_terms: bool
) -> tuple[str, str]:
    """Execute and serialize: returns (body, format-actually-used).
    The query FORM comes from the parsed query (not a text sniff —
    a PREFIX IRI containing 'describe' must not reroute a SELECT);
    the parse is pure-Python and query-sized: parsing once here and
    once in Engine.sparql costs about 0.5 ms per parse against a
    300-600 ms request on the benchmark's store. ASK has no CSV/TSV
    document form — those Accepts fall back to the JSON boolean
    document (server-chosen format, per protocol).

    SELECT answers in JSON, XML and TSV are planned undecoded and
    decode on the driver, after the capped collect, through the
    dictionary's id → term cache (sparql/results.py); CSV, ASK and
    graph answers keep the decode join."""
    from rdfproject_msc_spark.sparql import results as RES
    from rdfproject_msc_spark.sparql.parser import parse_sparql
    from rdfproject_msc_spark.sparql.planner import id_columns

    bgp = parse_sparql(query, term_style=engine.term_style)
    graph = bool(bgp.construct or bgp.describe_terms or bgp.describe_var)
    join_decode = graph or bgp.ask or fmt == "csv"
    dictionary = engine.dictionary
    df = engine.sparql(
        query,
        decode=dictionary is not None and join_decode,
        strict_terms=strict_terms,
    )
    if graph:
        return _graph_body(df, bgp, fmt, limit)
    if bgp.ask:
        ans = bool(df.collect()[0]["ask"])
        if fmt == "xml":
            return RES.ask_xml(ans), "xml"
        return RES.ask_json(ans), "json"
    if fmt == "csv":
        return RES.results_csv(df, limit=limit), "csv"
    decode = (
        {"dictionary": dictionary, "columns": id_columns(bgp, df.columns)}
        if dictionary is not None
        else {}
    )
    if fmt == "xml":
        return RES.results_xml(df, limit=limit, **decode), "xml"
    if fmt == "tsv":
        return RES.results_tsv(df, limit=limit, **decode), "tsv"
    return RES.results_json(df, limit=limit, **decode), "json"


def _make_handler(engine, json_limit: int, strict_terms: bool,
                  enable_update: bool):
    from rdfproject_msc_spark.dictionary import DictionaryError
    from rdfproject_msc_spark.sparql.parser import SparqlSyntaxError
    from rdfproject_msc_spark.sparql.results import ResultSizeExceeded

    class Handler(BaseHTTPRequestHandler):
        server_version = "rdfproject-msc-spark/0.1"

        def log_message(self, *args):  # quiet by default (tests, batch)
            pass

        def _reply(self, code: int, body: str, ctype: str) -> None:
            data = body.encode("utf-8")
            self.send_response(code)
            if data:
                self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if data:
                self.wfile.write(data)

        def _answer(self, query: str | None) -> None:
            if not query:
                return self._reply(
                    400,
                    "missing 'query' parameter",
                    "text/plain; charset=utf-8",
                )
            fmt = _negotiate(self.headers.get("Accept", ""))
            try:
                body, used = _run_query(
                    engine, query, fmt, json_limit, strict_terms
                )
            except SparqlSyntaxError as e:  # MalformedQuery
                return self._reply(
                    400, f"malformed query: {e}", "text/plain; charset=utf-8"
                )
            except ResultSizeExceeded as e:  # the one-document row cap
                return self._reply(413, str(e), "text/plain; charset=utf-8")
            except DictionaryError as e:
                # strict-mode unknown-constant typo guard: the QUERY is
                # at fault, not the server — a 400, never a 413/500
                return self._reply(
                    400, f"unknown term: {e}", "text/plain; charset=utf-8"
                )
            except Exception as e:  # QueryRequestRefused
                return self._reply(
                    500,
                    f"query evaluation failed: {e}",
                    "text/plain; charset=utf-8",
                )
            self._reply(200, body, _CTYPE[used])

        def _answer_update(self, update_str: str | None) -> None:
            if not enable_update:
                return self._reply(
                    403,
                    "update operation disabled: this server is "
                    "read-only (start with --enable-update / "
                    "enable_update=True to accept writes)",
                    "text/plain; charset=utf-8",
                )
            if not update_str:
                return self._reply(
                    400,
                    "missing 'update' parameter",
                    "text/plain; charset=utf-8",
                )
            try:
                engine.update(update_str)
            except SparqlSyntaxError as e:  # MalformedUpdate
                return self._reply(
                    400, f"malformed update: {e}", "text/plain; charset=utf-8"
                )
            except Exception as e:  # UpdateRequestRefused
                return self._reply(
                    500,
                    f"update failed: {e}",
                    "text/plain; charset=utf-8",
                )
            self._reply(204, "", "text/plain")

        def do_GET(self):  # noqa: N802 (http.server naming)
            qs = parse_qs(urlparse(self.path).query)
            # the protocol allows update via POST ONLY (it mutates) —
            # a GET ?update= is not an update request, and falls to
            # the missing-query 400 below
            self._answer((qs.get("query") or [None])[0])

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n).decode("utf-8")
            ctype = (self.headers.get("Content-Type") or "").split(";")[0]
            ctype = ctype.strip().lower()
            if ctype == "application/sparql-query":
                return self._answer(raw)
            if ctype == "application/sparql-update":
                return self._answer_update(raw)
            # application/x-www-form-urlencoded (the form default):
            # query= is the query operation, update= the update one
            form = parse_qs(raw)
            upd = (form.get("update") or [None])[0]
            if upd is not None:
                return self._answer_update(upd)
            self._answer((form.get("query") or [None])[0])

    return Handler


def make_server(
    engine,
    host: str = "127.0.0.1",
    port: int = 0,
    json_limit: int = 10000,
    strict_terms: bool = False,
    enable_update: bool = False,
) -> HTTPServer:
    """Bind (port 0 = ephemeral — read ``server_address[1]``) without
    serving; callers drive ``handle_request()`` / ``serve_forever``.

    ``strict_terms`` defaults to FALSE here — the endpoint is the
    untrusted-query surface, where a constant the graph has never seen
    should answer the spec's EMPTY result, not the engine's typo-guard
    error (which remains the right default for hand-written queries
    through the Python API).

    ``enable_update`` defaults to FALSE — the update operation is a
    write surface and must be an explicit opt-in."""
    return HTTPServer(
        (host, port),
        _make_handler(engine, json_limit, strict_terms, enable_update),
    )


def serve(
    engine,
    host: str = "127.0.0.1",
    port: int = 8898,
    json_limit: int = 10000,
    max_requests: int | None = None,
    strict_terms: bool = False,
    enable_update: bool = False,
) -> None:
    """Serve until interrupted (or for ``max_requests`` requests)."""
    httpd = make_server(
        engine, host, port, json_limit, strict_terms, enable_update
    )
    bound = httpd.server_address
    print(f"SPARQL endpoint listening on http://{bound[0]}:{bound[1]}/sparql")
    try:
        if max_requests is None:
            httpd.serve_forever()
        else:
            for _ in range(max_requests):
                httpd.handle_request()
    except KeyboardInterrupt:
        pass
    finally:
        httpd.server_close()
