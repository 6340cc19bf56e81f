"""Span tracing for the traced benchmark run, from outside the package.

``Tracer.install()`` wraps the engine's public layer functions (module
attributes and class methods) with timing wrappers; ``uninstall()`` puts
the originals back, so traced and untraced operations can alternate in
one run. Spans stay in memory as dicts (name, start, end, parent, request
id, attributes) and are written out once, at the end of the run.

Spark counters come from the application status store: the jobs that ran
inside a span are the job ids that appeared between its start and end
(one closed-loop client, so nothing else submits jobs meanwhile). The
listener bus is drained first so the store holds every finished job.
``exec_ms`` is the time at least one of those jobs was running.

Ingest functions return lazy DataFrames, so a span around them alone
would time plan construction. The ingest already persists the parsed
relation, the dictionary and the encoded relation; the traced wrappers
persist and count each one inside its own span, which moves that layer's
Spark work into the span that owns it. ``ingest_ntriples``' and
``load_triples``' own ``persist`` calls then find the frame cached.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    """In-memory span recorder with switchable wrappers."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.request: str | None = None
        self._local = threading.local()
        self._originals: list[tuple] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, spark_counters: bool = False) -> dict:
        stack = self._stack()
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
        }
        if spark_counters:
            span["_jobs_before"] = self._drained_job_ids()
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict, **attrs) -> dict:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        before = span.pop("_jobs_before", None)
        if before is not None:
            span["spark"] = self._spark_counters(before)
        span.update(attrs)
        return span

    # -- Spark status store --------------------------------------------------
    def _job_ids(self) -> set:
        tracker = self.spark.sparkContext.statusTracker()
        return set(tracker.getJobIdsForGroup(None))

    def _drained_job_ids(self) -> set:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return self._job_ids()

    def _spark_counters(self, before: set) -> dict:
        sc = self.spark.sparkContext
        new = sorted(self._drained_job_ids() - before)
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = {
            "jobs": len(new),
            "stages": 0,
            "tasks": 0,
            "exec_ms": 0.0,
            "executor_run_ms": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        intervals = []
        for job in new:
            data = store.job(job)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime(), done.get().getTime())
                )
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
        # jobs of one action can overlap: count the time any job ran
        end = None
        for start, stop in sorted(intervals):
            if end is None or start > end:
                out["exec_ms"] += stop - start
                end = stop
            elif stop > end:
                out["exec_ms"] += stop - end
                end = stop
        return out

    # -- wrappers ------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        original = owner.__dict__[attr]
        self._originals.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def _timed(self, fn, name: str, spark_counters: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.begin(name, spark_counters)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return wrapper

    def _materialized(self, fn, name: str):
        """Time a lazy-DataFrame function including the persist + count
        the ingest would otherwise run later, inside the write."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            from pyspark.storagelevel import StorageLevel

            span = tracer.begin(name, spark_counters=True)
            rows = None
            try:
                df = fn(*args, **kwargs).persist(StorageLevel.MEMORY_AND_DISK)
                rows = df.count()
                return df
            finally:
                tracer.end(span, rows=rows)

        return wrapper

    def install(self) -> None:
        """Wrap each layer's public entry points (idempotent)."""
        if self._originals:
            return
        from rdfproject_msc_spark import engine, serve
        from rdfproject_msc_spark.dictionary import Dictionary
        from rdfproject_msc_spark.sources import ntriples
        from rdfproject_msc_spark.sparql import parser, planner, results
        from rdfproject_msc_spark.sparql import update
        from rdfproject_msc_spark.store import TripleStore

        for mod, attr in (
            (ntriples, "parse_ntriples"),
            (ntriples, "build_dictionary"),
            (ntriples, "encode_triples"),
        ):
            self._patch(
                mod, attr,
                self._materialized(getattr(mod, attr), f"ntriples.{attr}"),
            )
        # the planner and the update path hold their own references
        parse_sparql = parser.parse_sparql
        for mod in (parser, planner):
            self._patch(
                mod, "parse_sparql",
                self._timed(parse_sparql, "parser.parse_sparql"),
            )
        sparql_to_df = planner.sparql_to_df
        for mod in (engine, planner):
            self._patch(
                mod, "sparql_to_df",
                self._timed(sparql_to_df, "planner.sparql_to_df", True),
            )
        for attr in ("lookup_terms", "encode_terms"):
            self._patch(
                Dictionary, attr,
                self._timed(getattr(Dictionary, attr), f"dictionary.{attr}",
                            True),
            )
        self._patch(
            results, "results_json",
            self._timed(results.results_json, "results.results_json", True),
        )
        self._patch(
            update, "parse_update",
            self._timed(update.parse_update, "update.parse_update"),
        )
        self._patch(
            update, "apply_update",
            self._timed(update.apply_update, "update.apply_update", True),
        )
        self._patch(
            serve, "_run_query",
            self._timed(serve._run_query, "serve.run_query", True),
        )
        self._patch(
            TripleStore, "write",
            self._timed(TripleStore.write, "store.write", True),
        )
        self._patch(
            engine.Engine, "save",
            self._timed(engine.Engine.save, "engine.save", True),
        )

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, original = self._originals.pop()
            setattr(owner, attr, original)

    # -- output --------------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def duration_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def children(spans: list, parent: dict) -> list:
    return [s for s in spans if s["parent"] == parent["id"]]


def self_ms(spans: list, span: dict) -> float:
    """Span duration minus the time its direct children cover."""
    return duration_ms(span) - sum(
        duration_ms(c) for c in children(spans, span)
    )
