"""Budgeted data selection: keep the best documents that fit a token budget.

The step after quality scoring (operators/classify.py) in a DCLM-style
pipeline: training runs consume a FIXED token budget, so "filter at
threshold τ" is the wrong knob — the right one is "take documents in
descending score order until the budget is spent". That is a global
ordered prefix sum over the corpus.

100 TB design: the naive formulation — ``Window.orderBy(score)`` with no
partition key — collapses to a single partition and dies at scale. This
uses ``repartitionByRange`` on (score DESC, id) instead: Spark's range
partitioner SAMPLES the score distribution, so partition boundaries adapt
to skew (a million documents scoring 0.99 spread across partitions rather
than serializing one), and the partition INDEX becomes the global order's
coarse key. Then the same two-phase prefix as packing:
per-partition token totals (tiny relation, one row per partition) prefix
over partition ids, broadcast back, window-cumsum WITHIN each partition.
Selection membership is EXACT regardless of where the sampled boundaries
fall — the prefix respects the total order (score DESC, id ASC) across
and within partitions either way, which is why the DuckDB single-window
oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def select_to_budget(
    df: DataFrame,
    budget: int,
    *,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + ``cum_tokens`` (running token total in (score DESC,
    id ASC) order, INCLUDING the row) + ``selected`` (cum_tokens ≤
    budget: the greedy prefix that fits). Deterministic given scores,
    token counts and ids — ties break on id."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    npart = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # persist the ranged frame BEFORE forking it into the totals subtree
    # and the probe subtree: RangePartitioner SAMPLES its boundaries, and
    # two independent instantiations of this exchange could sample
    # differently (exchange reuse is an optimizer rule, not a guarantee) —
    # the cache pins exactly one instantiation, so the __pid seen by the
    # offsets build is the __pid seen by the probe. Disk-backed: at scale
    # this is one extra spill-read of the corpus, never a recompute.
    ranged = df.repartitionByRange(
        npart, F.col(score_col).desc(), F.col(id_col).asc()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # after repartitionByRange the partition index IS the range index:
    # pid order == global (score DESC, id) order, so it is a sound
    # prefix key (plain spark_partition_id on arbitrary data would not be)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    totals = with_pid.groupBy("__pid").agg(
        F.sum(F.col(token_col)).alias("__part_tokens")
    )
    w_parts = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__part_tokens").over(w_parts), F.lit(0)).alias(
            "__offset"
        ),
    )
    w_within = (
        Window.partitionBy("__pid")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "cum_tokens",
            F.col("__offset") + F.sum(F.col(token_col)).over(w_within),
        )
        .withColumn("selected", F.col("cum_tokens") <= F.lit(int(budget)))
        .drop("__pid", "__offset")
    )


def select_quality_budget(
    docs: DataFrame,
    model,
    budget: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score (classify.quality_scores) → count tokens (textstats) →
    greedy-select to the budget. One lazy plan; the selection ranks by
    the model's probability."""
    from rdfproject_msc_spark.operators.classify import quality_scores
    from rdfproject_msc_spark.operators.textstats import token_count

    scored = quality_scores(
        docs, model, id_col=id_col, text_col=text_col
    ).select(id_col, "quality_prob")
    with_tokens = docs.select(
        F.col(id_col), token_count(F.col(text_col)).alias("n_tokens")
    )
    return select_to_budget(
        with_tokens.join(scored, id_col),
        budget,
        score_col="quality_prob",
        token_col="n_tokens",
        id_col=id_col,
    )
