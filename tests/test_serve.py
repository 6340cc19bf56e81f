"""HTTP SPARQL endpoint (serve.py + CLI ``serve``): a REAL HTTP client
drives the SPARQL 1.1 Protocol query operation over a lexical store —
GET and both POST forms, all four negotiated result formats, ASK, the
MalformedQuery 400, and the one-document row-cap 413."""

from __future__ import annotations

import json
import socket
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from rdfproject_msc_spark.engine import Engine
from rdfproject_msc_spark.serve import make_server

EX = "http://ex.org/"
NT = f"""\
<{EX}a> <{EX}knows> <{EX}b> .
<{EX}b> <{EX}knows> <{EX}c> .
<{EX}a> <{EX}name> "Alice" .
"""


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("serve") / "d.nt"
    p.write_text(NT)
    return Engine(spark).load_triples(str(p), fmt="nt")


@pytest.fixture()
def endpoint(engine):
    httpd = make_server(engine, port=0, json_limit=100)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}/sparql"
    httpd.shutdown()
    httpd.server_close()


def _get(url, accept=None):
    req = urllib.request.Request(
        url, headers={"Accept": accept} if accept else {}
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.headers.get("Content-Type", ""), r.read().decode("utf-8")


def test_endpoint_formats_and_protocol(endpoint):
    q = f"SELECT ?o WHERE {{ <{EX}a> <{EX}knows> ?o }}"
    url = endpoint + "?query=" + urllib.parse.quote(q)

    # GET, JSON default
    ctype, body = _get(url)
    assert ctype.startswith("application/sparql-results+json")
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["o"]
    assert [(b["o"]["type"], b["o"]["value"]) for b in
            doc["results"]["bindings"]] == [("uri", f"{EX}b")]

    # XML via Accept
    ctype, body = _get(url, "application/sparql-results+xml")
    assert ctype.startswith("application/sparql-results+xml")
    assert "<sparql" in body and f"{EX}b" in body

    # CSV: plain string forms, header = var names
    ctype, body = _get(url, "text/csv")
    assert ctype.startswith("text/csv")
    lines = body.splitlines()
    assert lines[0] == "o" and lines[1] == f"{EX}b"

    # TSV: N-Triples-encoded terms, '?var' header
    ctype, body = _get(url, "text/tab-separated-values")
    assert ctype.startswith("text/tab-separated-values")
    lines = body.splitlines()
    assert lines[0] == "?o" and lines[1] == f"<{EX}b>"

    # POST urlencoded form
    data = urllib.parse.urlencode({"query": q}).encode()
    with urllib.request.urlopen(endpoint, data=data, timeout=60) as r:
        doc = json.load(r)
    assert [b["o"]["value"] for b in doc["results"]["bindings"]] == [
        f"{EX}b"
    ]

    # POST application/sparql-query body + ASK boolean document
    ask = f"ASK {{ <{EX}a> <{EX}knows> <{EX}b> }}"
    req = urllib.request.Request(
        endpoint,
        data=ask.encode(),
        headers={"Content-Type": "application/sparql-query"},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert json.load(r)["boolean"] is True

    # CONSTRUCT answers an RDF graph as N-Triples, not a results doc
    cq = (
        f"CONSTRUCT {{ ?o <{EX}knownBy> ?s }} "
        f"WHERE {{ ?s <{EX}knows> ?o }}"
    )
    ctype, body = _get(endpoint + "?query=" + urllib.parse.quote(cq))
    assert ctype.startswith("application/n-triples")
    assert f"<{EX}b> <{EX}knownBy> <{EX}a> .\n" in body
    assert len(body.splitlines()) == 2

    # MalformedQuery -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            endpoint + "?query=" + urllib.parse.quote("NOT SPARQL AT ALL"),
            timeout=60,
        )
    assert ei.value.code == 400

    # missing query parameter -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(endpoint, timeout=60)
    assert ei.value.code == 400

    # a dictionary-absent constant answers the spec's EMPTY result
    # (the endpoint defaults to strict_terms=False - untrusted queries
    # should not 500 on vocabulary the graph has never seen)
    q2 = f'SELECT ?x WHERE {{ ?x <{EX}knows> <{EX}never-seen> }}'
    with urllib.request.urlopen(
        endpoint + "?query=" + urllib.parse.quote(q2), timeout=60
    ) as r:
        doc = json.load(r)
    assert doc["results"]["bindings"] == []


def test_endpoint_row_cap_answers_413(engine):
    httpd = make_server(engine, port=0, json_limit=1)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"  # 3 rows > cap 1
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/sparql?query="
                + urllib.parse.quote(q),
                timeout=60,
            )
        assert ei.value.code == 413
        assert "exceeds limit" in ei.value.read().decode()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_cli_serve_end_to_end(spark, tmp_path):
    """The CLI wiring: ingest to a parquet store + dictionary, start
    ``serve --max-requests 1`` in a thread, answer one real request."""
    from rdfproject_msc_spark.cli import main

    nt = tmp_path / "d.nt"
    nt.write_text(NT)
    store, dct = str(tmp_path / "store"), str(tmp_path / "dict")
    assert (
        main(["ingest", "--nt", str(nt), "--out", store, "--dict-out", dct])
        == 0
    )
    with socket.socket() as s:  # a free ephemeral port for the CLI
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    t = threading.Thread(
        target=main,
        args=(
            [
                "serve",
                "--store", store,
                "--dict", dct,
                "--layout", "single",
                "--port", str(port),
                "--max-requests", "1",
            ],
        ),
        daemon=True,
    )
    t.start()
    q = f"SELECT ?o WHERE {{ <{EX}b> <{EX}knows> ?o }}"
    url = f"http://127.0.0.1:{port}/sparql?query=" + urllib.parse.quote(q)
    doc = None
    for _ in range(120):  # poll until the server binds
        try:
            with urllib.request.urlopen(url, timeout=60) as r:
                doc = json.load(r)
            break
        except (urllib.error.URLError, ConnectionError):
            import time

            time.sleep(0.5)
    assert doc is not None, "endpoint never came up"
    assert [b["o"]["value"] for b in doc["results"]["bindings"]] == [
        f"{EX}c"
    ]
    t.join(timeout=30)
    assert not t.is_alive()  # --max-requests 1 exited the serve loop

def test_select_with_describe_prefix_iri_is_a_results_doc(endpoint):
    """Form detection comes from the PARSED query: a SELECT whose
    prolog declares a PREFIX IRI containing 'describe' must answer a
    results document (a text sniff over the prolog would reroute it
    to the graph-answer branch and 500)."""
    q = (
        f"PREFIX d: <{EX}describe#> "
        f"SELECT ?o WHERE {{ <{EX}a> <{EX}knows> ?o }}"
    )
    ctype, body = _get(endpoint + "?query=" + urllib.parse.quote(q))
    assert ctype.startswith("application/sparql-results+json")
    doc = json.loads(body)
    assert [b["o"]["value"] for b in doc["results"]["bindings"]] == [
        f"{EX}b"
    ]


def test_construct_negotiates_turtle(engine, tmp_path):
    """``Accept: text/turtle`` on a CONSTRUCT answers subject-grouped
    Turtle with ``@prefix`` directives from the query's own prolog —
    and the body parses back (sources/turtle.py) to the same graph."""
    from rdfproject_msc_spark.sources.turtle import parse_turtle

    httpd = make_server(engine, port=0, json_limit=100)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        cq = (
            f"PREFIX ex: <{EX}> "
            f"CONSTRUCT {{ ?o ex:knownBy ?s }} WHERE {{ ?s ex:knows ?o }}"
        )
        ctype, body = _get(
            f"http://127.0.0.1:{port}/sparql?query="
            + urllib.parse.quote(cq),
            accept="text/turtle",
        )
        assert ctype.startswith("text/turtle")
        assert f"@prefix ex: <{EX}> ." in body
        assert "ex:knownBy" in body  # prefix-compacted, not <iri>
        p = tmp_path / "answer.ttl"
        p.write_text(body)
        got = {
            (r["s_term"], r["p_term"], r["o_term"])
            for r in parse_turtle(
                engine.spark, str(p), on_error="fail"
            ).collect()
        }
        assert got == {
            (f"<{EX}b>", f"<{EX}knownBy>", f"<{EX}a>"),
            (f"<{EX}c>", f"<{EX}knownBy>", f"<{EX}b>"),
        }
        # the NT default is unchanged when turtle is not asked for
        ctype, body = _get(
            f"http://127.0.0.1:{port}/sparql?query="
            + urllib.parse.quote(cq)
        )
        assert ctype.startswith("application/n-triples")
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_strict_mode_unknown_term_answers_400_not_413(engine):
    """The dictionary's typo guard is the CLIENT's fault: under
    ``--strict-terms`` an unknown constant answers 400 (it used to be
    swallowed by a blanket ``except ValueError`` into 413)."""
    httpd = make_server(engine, port=0, json_limit=100, strict_terms=True)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        q = f"SELECT ?x WHERE {{ ?x <{EX}knows> <{EX}never-seen> }}"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/sparql?query="
                + urllib.parse.quote(q),
                timeout=60,
            )
        assert ei.value.code == 400
        assert "unknown term" in ei.value.read().decode()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_update_rejected_by_default(endpoint):
    """The update operation is a write surface: OFF unless the server
    opts in — both protocol spellings answer 403, and nothing else."""
    upd = f"INSERT DATA {{ <{EX}x> <{EX}knows> <{EX}y> }}"
    # urlencoded form field
    data = urllib.parse.urlencode({"update": upd}).encode()
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(endpoint, data=data, timeout=60)
    assert ei.value.code == 403
    # direct application/sparql-update body
    req = urllib.request.Request(
        endpoint,
        data=upd.encode(),
        headers={"Content-Type": "application/sparql-update"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=60)
    assert ei.value.code == 403


def test_update_operation_end_to_end(spark, tmp_path):
    """``enable_update=True``: INSERT DATA over HTTP answers 204 and
    the inserted triple is visible to a follow-up query; a malformed
    update answers 400. A FRESH engine — updates are copy-on-write on
    the shared module fixture's store otherwise."""
    p = tmp_path / "d.nt"
    p.write_text(NT)
    eng = Engine(spark).load_triples(str(p), fmt="nt")
    httpd = make_server(eng, port=0, json_limit=100, enable_update=True)
    port = httpd.server_address[1]
    url = f"http://127.0.0.1:{port}/sparql"
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        upd = f'INSERT DATA {{ <{EX}c> <{EX}name> "Carol" }}'
        req = urllib.request.Request(
            url,
            data=upd.encode(),
            headers={"Content-Type": "application/sparql-update"},
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 204
            assert r.read() == b""
        q = f"SELECT ?n WHERE {{ <{EX}c> <{EX}name> ?n }}"
        with urllib.request.urlopen(
            url + "?query=" + urllib.parse.quote(q), timeout=120
        ) as r:
            doc = json.load(r)
        assert [b["n"]["value"] for b in doc["results"]["bindings"]] == [
            "Carol"
        ]
        # MalformedUpdate -> 400 (the form-field spelling this time)
        data = urllib.parse.urlencode({"update": "NOT AN UPDATE"}).encode()
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(url, data=data, timeout=120)
        assert ei.value.code == 400
    finally:
        httpd.shutdown()
        httpd.server_close()


def _raw_post(port: int, head: bytes, body: bytes = b"") -> bytes:
    """One POST over a raw socket that stays open for writing, and the
    whole reply (the server closes after one response)."""
    with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
        s.sendall(
            b"POST /sparql HTTP/1.1\r\nHost: localhost\r\n"
            b"Content-Type: application/sparql-query\r\n"
            + head + b"\r\n" + body
        )
        reply = b""
        while chunk := s.recv(4096):
            reply += chunk
    return reply


@pytest.mark.parametrize(
    "head, body, message",
    [
        (b"Content-Length: abc\r\n", b"", b"invalid Content-Length"),
        (b"Content-Length: -1\r\n", b"", b"invalid Content-Length"),
        (b"Content-Length: 2\r\n", b"\xff\xfe", b"not UTF-8"),
    ],
    ids=["non_numeric_length", "negative_length", "non_utf8_body"],
)
def test_malformed_post_answers_400(head, body, message):
    """A malformed POST body answers 400 at once: no dropped connection,
    and no read that waits for the client to close. None of these
    requests reaches the engine."""
    httpd = make_server(None, port=0)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        reply = _raw_post(httpd.server_address[1], head, body)
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert reply.startswith(b"HTTP/1.0 400 "), reply[:80]
    assert message in reply
