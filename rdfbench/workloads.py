"""The two workloads: ``query`` (read-only) and ``update`` (writes and
the reads that must see them).

Both start the same way, and that start is the set-up the benchmark
times: a SparkSession from the package's ``get_spark``, the seeded input
as N-Triples files, a cold ``Engine.load_triples(fmt="nt")`` + ``save``
(the first load in the session, which every CLI ingest pays), a fresh
``Engine.open`` of the saved store, the HTTP endpoint from
``serve.make_server`` on a thread, and (``query`` only) two warm-up passes.
Then one client sends requests in a closed loop (the next request after
the previous reply).

``query`` rotates over every template (``templates.py``) in seeded
passes, at least two, while another whole pass fits in the run's
seconds. ``update`` runs whole cycles: it
reopens the saved store, sends a fixed script of three updates (INSERT
DATA with new terms, DELETE DATA, DELETE ... INSERT ... WHERE), each
followed by a read that must see it. Every cycle starts from the saved
store, so each run's updates meet the same copy-on-write depth. The
traced run ends with ``Engine.vacuum()``.

Answers are checked after the timed window, against the DuckDB twin.
"""

from __future__ import annotations

import json
import math
import os
import random
import resource
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import gen
import templates as T
from tracing import Tracer


WARMUP_PASSES = 2


class Op:
    """One client operation and what the checker needs to judge it."""

    def __init__(self, kind: str, req=None, text: str = "", phase: str = ""):
        self.kind = kind  # "read", "update" or "vacuum"
        self.req = req  # templates.Request for reads
        self.text = text
        self.phase = phase  # "warmup", "measure"
        self.cycle = None  # update cycle
        self.traced = False
        self.latency_ms = 0.0
        self.status = None
        self.rows = None
        self.bytes = 0
        self.error = None
        self.plan_nodes = None
        self.id = None


class Bench:
    def __init__(self, workload, seed, seconds, trace, customers, run_dir):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.customers = customers
        self.run_dir = run_dir
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.setup: dict[str, float] = {}
        self.facts: dict = {}
        self.tracer = None
        self.vacuum = None
        self.spark = None
        self.server = None
        self._thread = None

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        from rdfproject_msc_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        # keep every scratch file of Python, py4j and the JVM in the run dir
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="rdfbench",
            cpus=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                # C1 only: the JIT reaches its steady speed within the
                # warm-up passes instead of recompiling hot paths during the
                # timed window. C1 only also shrinks the default code cache
                # to 48 MB, which Spark fills about 50 s after start; the
                # flush that follows makes some 25,000 methods not entrant
                # and doubles latency for several seconds, so the cache
                # gets the tiered JIT's size back. A fixed-size heap under
                # the parallel collector: G1's adaptive heap stayed near
                # 600 MB, collected every second, with concurrent marking
                # cycles started by humongous allocations.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                    "-Xms2g -XX:+UseParallelGC",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.setup["session_s"] = time.perf_counter() - t0
        self.facts["cpus"] = cpus
        if self.trace:
            self.tracer = Tracer(self.spark)

    def stop(self) -> None:
        """Stop the endpoint thread, the SparkSession and the JVM, and
        wait for each to end."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self._thread.join(timeout=30)
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    # -- set-up: input, ingest, open, endpoint -------------------------------
    def build(self) -> None:
        from pyspark.sql import functions as F

        from rdfproject_msc_spark.engine import Engine

        t0 = time.perf_counter()
        self.ds = gen.generate(self.seed, self.customers)
        nt = gen.write_ntriples(self.ds, os.path.join(self.run_dir, "nt"))
        self.setup["input_s"] = time.perf_counter() - t0
        self.twin = gen.Twin(self.ds)
        self.store_path = os.path.join(self.run_dir, "store")
        self.dict_path = os.path.join(self.run_dir, "dictionary")

        if self.tracer:
            self.tracer.install()
        self.attempted += 1
        t0 = time.perf_counter()
        eng = Engine(self.spark).load_triples(
            nt,
            fmt="nt",
            layout="sign_split",
            negative_when=F.col("term").startswith(gen.EVENT_PREFIX),
        )
        eng.save(self.store_path, dict_path=self.dict_path)
        eng.close()
        self.setup["ingest_s"] = time.perf_counter() - t0
        if self.tracer:
            self.tracer.uninstall()
        self.check_ingest()

        self.engine = Engine(self.spark)
        t0 = time.perf_counter()
        self.reopen()
        self.setup["open_s"] = time.perf_counter() - t0

        from rdfproject_msc_spark.serve import make_server

        self.server = make_server(self.engine, enable_update=True)
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self._thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/sparql"

    def reopen(self) -> None:
        self.engine.open(
            self.store_path, layout="sign_split", dict_path=self.dict_path
        )

    def check_ingest(self) -> None:
        from pyspark.sql import functions as F

        n, terms, neg = self.twin.term_counts()
        got_n = self.spark.read.parquet(self.store_path).count()
        d = self.spark.read.parquet(self.dict_path)
        row = d.agg(
            F.count("*").alias("terms"),
            F.sum((F.col("id") < 0).cast("long")).alias("neg"),
        ).first()
        self.facts.update(triples=n, terms=terms, negative_terms=neg)
        if (got_n, row["terms"], row["neg"]) != (n, terms, neg):
            self.failures.append(
                f"ingest: store has {got_n} triples, {row['terms']} terms, "
                f"{row['neg']} negative; twin {n}, {terms}, {neg}"
            )
        files, size = 0, 0
        for path in (self.store_path, self.dict_path):
            for dirpath, _, names in os.walk(path):
                for name in names:
                    if name.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, name))
        self.facts.update(store_files=files, store_bytes=size)

    # -- client ----------------------------------------------------------------
    def send(self, op: Op) -> Op:
        """Send one request and wait for the whole reply."""
        op.id = len(self.ops)
        self.ops.append(op)
        self.attempted += 1
        field = "update" if op.kind == "update" else "query"
        data = urllib.parse.urlencode({field: op.text}).encode()
        req = urllib.request.Request(
            self.url,
            data=data,
            headers={"Accept": "application/sparql-results+json"},
        )
        tracer = self.tracer if op.traced else None
        if tracer:
            tracer.request = op.id
            span = tracer.begin(f"client.{op.kind}")
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=170) as resp:
                body = resp.read()
                op.status = resp.status
        except urllib.error.HTTPError as e:
            body = e.read()
            op.status = e.code
        except OSError as e:
            body = b""
            op.error = repr(e)
        op.latency_ms = (time.perf_counter() - t0) * 1000.0
        if tracer:
            tracer.end(span)
            tracer.request = None
        op.bytes = len(body)
        if op.kind == "read" and op.status == 200:
            op.rows = T.response_rows(json.loads(body), op.req)
        elif op.kind == "update" and op.status != 204:
            op.error = op.error or body[:300].decode("utf-8", "replace")
        elif op.kind == "read" and op.error is None:
            op.error = body[:300].decode("utf-8", "replace")
        if tracer and op.kind == "update":
            plan = self.engine.store.df._jdf.queryExecution().logical()
            op.plan_nodes = len(plan.treeString().splitlines())
        return op

    def read(self, req, phase: str, traced: bool = False) -> Op:
        op = Op("read", req, req.text, phase)
        op.traced = traced
        return self.send(op)

    # -- workloads ---------------------------------------------------------------
    def run_query(self) -> None:
        stream = T.request_stream(self.seed, self.ds, passes=200)
        per_pass = len(T.TEMPLATES)
        # the first passes run while the JVM compiles the hot paths; after
        # one pass, the measured passes still got faster one by one
        warm = WARMUP_PASSES * per_pass
        t0 = time.perf_counter()
        for req in stream[:warm]:
            self.read(req, "warmup")
        self.setup["warmup_s"] = time.perf_counter() - t0
        start = time.perf_counter()
        deadline = start + self.seconds
        # whole passes only, at least two, so every run measures the same
        # template mix, and none that would end past the deadline, so the
        # run's length stays near --seconds; the traced run alternates
        # untraced and traced passes
        for p in range(len(stream) // per_pass - WARMUP_PASSES):
            now = time.perf_counter()
            if p >= 2 and now + (now - start) / p > deadline:
                break
            traced = bool(self.trace) and p % 2 == 1
            if traced:
                self.tracer.install()
            first = warm + p * per_pass
            for req in stream[first:first + per_pass]:
                self.read(req, "measure", traced)
            if traced:
                self.tracer.uninstall()
        self.window_s = time.perf_counter() - start

    def update_script(self, cycle: int) -> list[dict]:
        """Three steps, each an update text, the twin statements that
        make the same change, the read that must see it, and the terms
        the update may add to the dictionary."""
        rng = random.Random(f"{self.seed}-update-{cycle}")
        ds = self.ds
        token = f"NEW{cycle:03d}{rng.randrange(10**6):06d}"
        cust = gen.iri("customer", token)
        n = rng.randrange(len(gen.NATIONS))
        ins = [
            (cust, gen.pred("inNation"), gen.iri("nation", n)),
            (cust, gen.pred("name"), gen.plain(f"Customer#{token}")),
            (cust, gen.pred("acctBal"), gen.dec(10**8 + rng.randrange(10**6))),
            (cust, gen.pred("segment"), gen.plain(rng.choice(gen.SEGMENTS))),
        ]
        o, c, price, status = rng.choice(ds.orders)
        dele = [
            (gen.iri("order", o), gen.pred("placedBy"), gen.iri("customer", c)),
            (gen.iri("order", o), gen.pred("totalPrice"), gen.dec(price)),
            (gen.iri("order", o), gen.pred("status"), gen.plain(status)),
        ]
        c_nation = ds.customers[c][2]
        n2 = rng.randrange(len(gen.NATIONS))
        s1, s2 = rng.sample(gen.SEGMENTS, 2)

        def data(triples):
            return " ".join(f"{s} {p} {o} ." for s, p, o in triples)

        def values(triples):
            return ", ".join(["(?, ?, ?)"] * len(triples)), [
                x for t in triples for x in t
            ]

        ins_v, ins_args = values(ins)
        del_v, del_args = values(dele)
        seg = gen.pred("segment")
        moved = (
            "SELECT a.s FROM cur a JOIN cur b ON a.s = b.s WHERE a.p = ? "
            "AND a.o = ? AND b.p = ? AND b.o = ?"
        )
        moved_args = [gen.pred("inNation"), gen.iri("nation", n2), seg,
                      gen.plain(s1)]
        return [
            {
                "text": f"INSERT DATA {{ {data(ins)} }}",
                "twin": [(f"INSERT INTO cur VALUES {ins_v}", ins_args)],
                "read": T.Request("contains", "value", (token,)),
                "terms": {x for t in ins for x in t},
            },
            {
                "text": f"DELETE DATA {{ {data(dele)} }}",
                "twin": [(f"DELETE FROM cur WHERE (s, p, o) IN ({del_v})",
                          del_args)],
                "read": T.Request("chain2", "join", (c_nation,)),
                "terms": set(),
            },
            {
                "text": f"DELETE {{ ?c v:segment {gen.plain(s1)} }} "
                        f"INSERT {{ ?c v:segment {gen.plain(s2)} }} "
                        f"WHERE {{ ?c v:inNation {gen.iri('nation', n2)} . "
                        f"?c v:segment {gen.plain(s1)} }}",
                "twin": [
                    ("CREATE OR REPLACE TEMP TABLE moved AS " + moved,
                     moved_args),
                    ("DELETE FROM cur WHERE p = ? AND o = ? AND s IN "
                     "(SELECT s FROM moved)", [seg, gen.plain(s1)]),
                    ("INSERT INTO cur SELECT s, ?, ? FROM moved",
                     [seg, gen.plain(s2)]),
                ],
                "read": T.Request("star", "join", (n2, s2)),
                "terms": {gen.plain(s2)},
            },
        ]

    def run_cycle(self, cycle: int, phase: str, traced: bool) -> None:
        self.reopen()
        for step in self.update_script(cycle):
            op = Op("update", None, T.PREFIX + step["text"], phase)
            op.traced = traced
            op.cycle = cycle
            self.send(op)
            self.read(step["read"], phase, traced).cycle = cycle

    def run_update(self) -> None:
        # no warm-up: the first cycle also pays the update path's first-use
        # compilation, the same way in every run; a warm-up cycle cost 20 s
        # of every run's budget and did not narrow the run-to-run spread
        start = time.perf_counter()
        deadline = start + self.seconds
        cycle, last = 0, 0.0
        while cycle < (2 if self.trace else 1) or (
            time.perf_counter() + last <= deadline
        ):
            traced = bool(self.trace) and cycle % 2 == 1
            if traced:
                self.tracer.install()
            c0 = time.perf_counter()
            self.run_cycle(cycle, "measure", traced)
            last = time.perf_counter() - c0
            if traced:
                self.tracer.uninstall()
            cycle += 1
        self.cycles = cycle
        self.window_s = time.perf_counter() - start
        if self.trace:
            self.run_vacuum()

    def run_vacuum(self) -> None:
        """``Engine.vacuum()`` after the last cycle. It runs in the traced
        run only: at 8-16 s it would take a fifth of every untraced run."""
        op = Op("vacuum", phase="measure")
        op.id = len(self.ops)
        op.traced = True
        self.ops.append(op)
        self.attempted += 1
        self.tracer.install()
        t0 = time.perf_counter()
        try:
            self.vacuum = self.engine.vacuum()
        except Exception as e:  # an engine failure is a failed operation
            op.error = repr(e)
            self.failures.append(f"vacuum: {e!r}")
        op.latency_ms = (time.perf_counter() - t0) * 1000.0
        self.facts["vacuum_s"] = op.latency_ms / 1000.0
        self.tracer.uninstall()

    # -- checking ------------------------------------------------------------
    def check(self, corrupt: bool = False) -> list[str]:
        """Judge every operation against the twin; ``corrupt`` adds a row
        to one expected answer first (the self-test's proof that the gate
        catches a wrong answer)."""
        failures = []
        twin = self.twin
        cycle, script, step = None, [], 0
        for op in self.ops:
            if op.kind == "vacuum":
                continue  # judged below, against the last cycle's graph
            if self.workload == "update" and op.cycle != cycle:
                # each cycle starts from the reopened, saved store
                twin.reset()
                cycle, script, step = op.cycle, self.update_script(op.cycle), 0
            if op.error is not None or op.status not in (200, 204):
                failures.append(f"op {op.id}: status {op.status} {op.error}")
                continue
            if op.kind == "update":
                for sql, args in script[step]["twin"]:
                    twin.execute(sql, args)
                step += 1
                continue
            table = "cur" if self.workload == "update" else "triples"
            want = T.expected_rows(twin, op.req, table)
            if corrupt and T.TEMPLATES[op.req.template].mode != "limit":
                width = len(op.rows[0]) if op.rows else 1
                want = want + [("<urn:corrupted>",) * width]
                corrupt = False
            if not T.matches(op.req, op.rows, want):
                failures.append(
                    f"op {op.id}: {op.req.template}{op.req.params} returned "
                    f"{len(op.rows)} rows, twin {len(want)}"
                )
        if self.workload == "update" and self.vacuum is not None:
            # the dictionary held the saved terms plus the last cycle's
            # new ones; vacuum keeps exactly the terms still in use
            base = {r[0] for r in twin.rows(
                "SELECT s FROM triples UNION SELECT p FROM triples "
                "UNION SELECT o FROM triples")}
            added = set().union(*(st["terms"] for st in script)) - base
            _, terms, _ = twin.term_counts("cur")
            want = {"terms_after": terms,
                    "dropped": len(base) + len(added) - terms}
            got = {k: self.vacuum[k] for k in want}
            if got != want:
                failures.append(f"vacuum: {got}, twin {want}")
        return failures

    # -- metrics -------------------------------------------------------------
    def measured(self, kind: str) -> list[Op]:
        """The untraced operations of one kind in the timed window."""
        return [o for o in self.ops
                if o.kind == kind and o.phase == "measure" and not o.traced]

    def read_p50(self, cls: str | None = None) -> float:
        """Median latency of the untraced timed reads (of one class)."""
        return statistics.median(
            o.latency_ms for o in self.measured("read")
            if cls is None or o.req.cls == cls
        )

    def ops_per_s(self) -> float:
        """Closed-loop operations per second over the timed window."""
        done = sum(1 for o in self.ops if o.phase == "measure")
        return done / self.window_s

    def end_to_end(self) -> dict:
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            "store_bytes_per_triple": (
                self.facts["store_bytes"] / self.facts["triples"], "B"),
            "ops_per_s": (self.ops_per_s(), "1/s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def details(self) -> dict:
        """What the last line has no room for: constants, sample counts,
        the read tail, the failure share and the update-only latencies."""
        lat = sorted(o.latency_ms for o in self.measured("read"))
        tail = None
        for pct in (99, 95, 90, 75, 50):
            beyond = sum(1 for x in lat if x > _percentile(lat, pct))
            if beyond >= 10:
                tail = {"percentile": pct, "ms": _percentile(lat, pct),
                        "beyond": beyond}
                break
        out = {
            "workload": self.workload,
            "seed": self.seed,
            "customers": self.customers,
            "setup": self.setup,
            "facts": self.facts,
            "window_s": self.window_s,
            "reads": len(lat),
            "read_tail": tail,
            "failed_ops_frac": len(self.failures) / self.attempted,
            # too few samples, or too wide a run-to-run spread, for a bound
            "ingest_cold_s": self.setup["ingest_s"],
            "query_p50_ms": self.read_p50(),
            "join_p50_ms": self.read_p50("join"),
            "value_p50_ms": self.read_p50("value"),
            "requests": [
                [o.phase, o.kind, o.req.template if o.req else None,
                 list(o.req.params) if o.req else None,
                 round(o.latency_ms, 3), o.traced]
                for o in self.ops
            ],
            "failures": self.failures[:20],
        }
        if self.workload == "update":
            updates = [o.latency_ms for o in self.measured("update")]
            out.update(
                cycles=self.cycles,
                update_p50_ms=statistics.median(updates) if updates else None,
                read_after_write_p50_ms=statistics.median(lat) if lat else None,
                vacuum=self.vacuum,
            )
        return out


def _percentile(sorted_values: list, pct: float) -> float:
    """Nearest-rank percentile."""
    k = math.ceil(pct / 100.0 * len(sorted_values)) - 1
    return sorted_values[max(0, k)]


def run(workload, seed, seconds, trace, customers, run_dir, selftest=False):
    """Run one workload; returns (result, details, bench)."""
    bench = Bench(workload, seed, seconds, trace, customers, run_dir)
    try:
        bench.start_session()
        bench.build()
        if workload == "query":
            bench.run_query()
        else:
            bench.run_update()
        bench.failures += bench.check()
        if selftest:
            bench.facts["gate_check_failures"] = len(bench.check(corrupt=True))
        if trace:
            import layers

            metrics = layers.per_layer(bench)
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in bench.end_to_end().items()}
        details = bench.details()
        result = {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": metrics,
        }
        return result, details, bench
    finally:
        bench.stop()
