"""Extras around the analytics entries: the approx-sketch error bound that
cannot be oracle-checked (HLL++ differs from DuckDB's HLL) is pinned here
against the exact entry instead, and the rows' scratch directory is one
per process."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F

from rdfproject_msc_spark.sources.tables import load_table


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """approx_count_distinct(rsd=0.05) must land within ~3×rsd of the exact
    count — the sketch is the 100 TB path; the exact entry is its oracle."""
    ev = load_table(spark, sf_dir, "events")
    both = (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        )
        .collect()
    )
    assert len(both) > 0
    for r in both:
        assert abs(r.approx - r.exact) <= max(0.15 * r.exact, 2), r


def test_cube_has_all_grouping_sets(spark, sf_dir):
    from rdfproject_msc_spark.registry import orders_cube

    rows = orders_cube(spark, sf_dir).collect()
    shapes = {(r.o_orderpriority is None, r.o_year is None) for r in rows}
    assert shapes == {(False, False), (False, True), (True, False), (True, True)}


def test_pivot_row_sums_match_totals(spark, sf_dir):
    from rdfproject_msc_spark.registry import events_pivot

    df = events_pivot(spark, sf_dir)
    total = df.select(
        sum(
            [F.sum(c) for c in ("click", "error", "purchase", "signup", "view")],
            F.lit(0),
        ).alias("t")
    ).collect()[0].t
    assert total == load_table(spark, sf_dir, "events").count()


def test_scratch_directory_is_one_per_process():
    """Rows that write scratch inputs share one directory per process,
    under the temp directory; another process gets its own, removed
    when it exits."""
    from rdfproject_msc_spark import registry as R

    root = R._scratch_root()
    for name in ("rdfproject_msc_text", "rdfproject_msc_nt"):
        path = R._scratch(name, "sf0.001")
        assert path == os.path.join(root, name, "sf0.001")
    assert R._scratch_root() == root and os.path.isdir(root)
    assert os.path.dirname(root) == tempfile.gettempdir()
    code = (
        "from rdfproject_msc_spark import registry as R; "
        "print(R._scratch_root())"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    others = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=repo, check=True,
            capture_output=True, text=True,
        ).stdout.strip()
        for _ in range(2)
    ]
    assert len({root, *others}) == 3
    assert not any(os.path.exists(o) for o in others)
