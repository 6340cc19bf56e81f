"""Run one workload of the end-to-end RDF benchmark.

    python3 rdfbench/run.py --workload query --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository. The engine is
imported from ``rdfproject_msc_spark`` in the current directory; without
it the benchmark exits with code 2 and prints no result. Every file a run
writes (N-Triples, store, dictionary, Spark scratch space) goes into a
fresh directory under ``.rdfbench/runs/``, removed at the end; a traced
run keeps its spans in ``.rdfbench/spans/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it holds the run's details: seed, constants, sample counts, read tail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "update"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--customers", type=int, default=100,
        help="input size: 10 orders and 7 events per customer",
    )
    ap.add_argument(
        "--selftest", action="store_true",
        help="also report how many failures one corrupted expected "
             "answer causes",
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rdfproject_msc_spark",
                                       "engine.py")):
        print("rdfbench: run from the repository root; "
              "rdfproject_msc_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    runs = os.path.join(root, ".rdfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=runs
    )
    try:
        result, details, bench = workloads.run(
            args.workload, args.seed, args.seconds, args.trace,
            args.customers, run_dir, selftest=args.selftest,
        )
        if bench.tracer is not None:
            spans_dir = os.path.join(root, ".rdfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(
                spans_dir,
                f"{args.workload}-seed{args.seed}-{int(time.time())}.jsonl",
            )
            bench.tracer.write(path)
            details["spans"] = os.path.relpath(path, root)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
