from __future__ import annotations

import os

import pytest

from rdfproject_msc_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="tests", cpus=4)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (Spark jobs ``fn()`` ran, its result): job
    ids compared before and after, once the listener bus is drained."""
    sc = spark.sparkContext

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def count(fn):
        before = job_ids()
        out = fn()
        return len(job_ids() - before), out

    return count


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full: heavyweight test, skipped unless RUN_FULL_TESTS=1 "
        "(the driver's verify window truncates the full ~75-minute "
        "suite; see tests/_budget.py)",
    )


def _full_suite_ids() -> set[str]:
    """Node ids deferred to the RUN_FULL_TESTS=1 run — the slowest tests
    by measured duration (tests/full_suite_tests.txt, regenerated from a
    full `--durations=0` profile; see tests/_budget.py for why)."""
    path = os.path.join(os.path.dirname(__file__), "full_suite_tests.txt")
    if not os.path.exists(path):
        return set()
    with open(path) as fh:
        return {
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        }


def pytest_report_header(config):
    if os.environ.get("RUN_FULL_TESTS"):
        return "RUN_FULL_TESTS=1: deferred tests run"
    return (
        f"deferred to RUN_FULL_TESTS=1: {len(_full_suite_ids())} tests "
        "(tests/full_suite_tests.txt) plus those marked full; a node id "
        "named on the command line still runs"
    )


def _named_node_ids(config) -> list[str]:
    """Command-line arguments that name a test node (`file::test`),
    rewritten relative to the rootdir the way item node ids are."""
    out = []
    for arg in config.args:
        if "::" not in arg:
            continue
        path, rest = arg.split("::", 1)
        rel = os.path.relpath(os.path.abspath(path), str(config.rootpath))
        out.append(rel.replace(os.sep, "/") + "::" + rest)
    return out


def pytest_collection_modifyitems(config, items):
    if os.environ.get("RUN_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="full-suite test: set RUN_FULL_TESTS=1 (driver "
        "verify-window budget, tests/_budget.py)"
    )
    deferred = _full_suite_ids()
    named = _named_node_ids(config)
    for item in items:
        if any(
            item.nodeid == n or item.nodeid.startswith((n + "[", n + "::"))
            for n in named
        ):
            continue  # collected by node id, not by file or directory
        if "full" in item.keywords or item.nodeid in deferred:
            item.add_marker(skip)
