"""Training-data export sink: deterministic epoch shuffle, size-balanced
shard assignment, JSONL or Parquet shard files, and a row-count manifest.

The last step of a curation pipeline hands the corpus to a trainer, which
wants (a) documents in a RANDOM order that is nevertheless reproducible —
re-exporting the same corpus yields byte-identical shards, so checkpoints
and data ablations line up; (b) shards of roughly equal row counts so data
loaders stripe evenly across workers; (c) a manifest recording exactly what
each shard holds, so a resumed/partial read can be audited.

Design (all deterministic, no RNG state):
- The shuffle key is md5(seed || id) — the same cross-engine nibble
  arithmetic as operators/sampling.py, so the order is reproducible from
  (corpus, seed) alone and changing the seed is a fresh epoch permutation.
- Shard assignment is that same key MODULO n_shards, so a shard is a
  uniform random 1/n_shards slice, independent of input partitioning.
  Expected shard skew is O(sqrt(N/n_shards)) rows — negligible at training
  scale; exact-equal sharding would need a global prefix sum (as
  operators/packing.py computes) for no trainer-visible benefit.
- Files are written with ``partitionBy("shard")`` after an explicit
  ``repartition(n_shards, shard)``: hashing the shard value sends EVERY
  row of a given shard to one task, so each shard directory holds a
  single file. Distinct shard values can hash-collide into the same task
  (leaving others empty) — that skews WRITER load across tasks, not the
  file layout or shard membership; callers needing strictly one shard
  per writer should raise n_shards rather than rely on the hash spread.
- Within a shard, rows sort by the shuffle key (``sortWithinPartitions``)
  — a map-side sort after the exchange; no global sort appears anywhere.
- The manifest is a per-shard aggregation of the SAME DataFrame that was
  written (counts computed from what landed on disk, not what was
  planned), written next to the shards as one small JSON-lines file.

At 100 TB: one hash-keyed exchange + map-side sorts; n_shards bounds the
writer-task count, and every property above is independent of input
partitioning — re-running on a differently-partitioned copy of the corpus
produces the same shard membership and order.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"


def epoch_key(id_col: Column, seed: int) -> Column:
    """Deterministic per-epoch permutation key: md5 of seed||id. 13 hex
    digits (52 bits) — collision-free ordering in practice, and ties fall
    back to the id itself when sorting."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")


def with_shard(
    df: DataFrame,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Add ``__key`` (epoch permutation key) and ``shard`` columns. The
    shard is the key modulo n_shards, so membership is a uniform random
    but reproducible function of (id, seed) only."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = epoch_key(F.col(id_col), seed)
    return df.withColumn("__key", key).withColumn(
        "shard", (F.col("__key") % n_shards).cast("int")
    )


def order_boundaries(
    df: DataFrame,
    order_col: str,
    n_shards: int,
    *,
    mode: str = "exact",
    accuracy: int = 10_000,
) -> list[float]:
    """Deterministic range boundaries for curriculum sharding: the
    (n_shards − 1) interior quantiles of ``order_col``. A driver-side
    scalar list (model-sized), independent of input partitioning — unlike
    ``repartitionByRange``'s sampled boundaries, which depend on the
    input's physical layout. ``mode="approx"`` switches to
    ``percentile_approx`` with explicit ``accuracy`` (rank error ≤
    1/accuracy, bounded aggregation state) for corpora whose distinct
    score count makes the exact aggregate's state a hazard; the shard
    assignment below takes the boundaries as data either way."""
    from rdfproject_msc_spark.operators.lmscore import _quantiles

    fr = [i / n_shards for i in range(1, n_shards)]
    return _quantiles(df, order_col, fr, mode, accuracy)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    seed: int = 0,
    fmt: str = "json",
    order_col: str | None = None,
    quantile_mode: str = "exact",
) -> DataFrame:
    """Export ``df`` as ``n_shards`` shard files under ``path`` (layout:
    ``shard=K/part-*.json[.parquet]``) plus a row-count manifest at
    ``path/_manifest``. Returns the manifest DataFrame
    (shard, n_rows, min_key, max_key).

    Default mode: uniformly SHUFFLED shards (epoch permutation; see
    module docstring). ``order_col`` switches to CURRICULUM mode: shard k
    holds the k-th ascending range of that column (difficulty score,
    length, quality — whatever the schedule orders by), rows sorted by it
    within each shard, so reading shards 0..n in order IS the global
    curriculum. Shard boundaries are exact quantiles (deterministic,
    partitioning-independent — ``order_boundaries``), ties broken by id;
    the manifest's min/max keys then record each shard's score range.
    Heavily TIED scores can leave some quantile ranges empty (e.g. every
    chunk at max_tokens) — consumers must iterate the manifest's shard
    list, not assume 0..n−1 directories all exist.

    ``fmt='json'`` writes JSON Lines (the interchange format trainers
    ingest); ``fmt='parquet'`` keeps types exactly (round-trip tested).
    """
    if fmt not in ("json", "parquet"):
        raise ValueError(f"fmt must be json or parquet, got {fmt}")
    if order_col is not None:
        bounds = order_boundaries(df, order_col, n_shards, mode=quantile_mode)
        # NULL scores sort after everything (the SQL NULLS LAST
        # convention): they land in the tail shard instead of a silent
        # __HIVE_DEFAULT_PARTITION__ directory
        key = F.coalesce(
            F.col(order_col).cast("double"), F.lit(float("inf"))
        )
        shard = F.lit(0)
        for b in bounds:
            shard = shard + (key > F.lit(b)).cast("int")
        sharded = (
            df.withColumn("__key", key)
            .withColumn("shard", shard.cast("int"))
            .repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "__key", id_col)
        )
    else:
        sharded = (
            with_shard(df, n_shards, id_col=id_col, seed=seed)
            .repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "__key", id_col)
        )
    writer = sharded.drop("__key").write.mode("overwrite").partitionBy("shard")
    getattr(writer, fmt)(path)
    spark = df.sparkSession
    back = getattr(spark.read, fmt)(path)
    # manifest from what LANDED: the directory's shard value, and the
    # mode's own key (score range in curriculum mode, permutation key in
    # shuffle mode)
    key = (
        F.col(order_col).cast("double")
        if order_col is not None
        else epoch_key(F.col(id_col), seed).cast("double")
    )
    manifest = (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(key).alias("min_key"),
            F.max(key).alias("max_key"),
        )
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode("overwrite").json(
        os.path.join(path, MANIFEST_DIR)
    )
    return manifest


def read_training_shards(
    spark, path: str, *, fmt: str = "json", shards: list[int] | None = None
) -> DataFrame:
    """Read back an export (optionally a subset of shards — partition
    pruning keeps unselected shard directories unread, which is the point
    of the layout)."""
    df = getattr(spark.read, fmt)(path)
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    return df
