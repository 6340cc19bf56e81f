"""Similarity search over an embedding column (array<float>).

Two tiers:
- brute-force cosine top-k — exact baseline; one pass, JVM-side arithmetic
  (``zip_with`` + ``aggregate``), no Python in the loop. At scale: the query
  vector is a literal in the plan (no join), the scan is embarrassingly
  parallel, and top-k is a TakeOrdered — no full sort, no shuffle of vectors.
- LSH-bucketed (random-hyperplane signatures) — the 100 TB path: candidates
  meet only within matching signature buckets; brute-force verifies inside
  the bucket. Hyperplanes are derived deterministically from a seed via a
  hash-based pseudo-random construction so results are reproducible without
  driver-side RNG state.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (double math).

    Each cast array is LET-BOUND via a single-element transform (r12):
    the dot and the norm both consumed the cast tree, re-evaluating it
    per reference. Same folds, same order — bit-identical scores."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.element_at(
        F.transform(
            F.array(ad),
            lambda av: F.element_at(
                F.transform(
                    F.array(bd),
                    lambda bv: _dot(av, bv) / (_norm(av) * _norm(bv)),
                ),
                1,
            ),
        ),
        1,
    )


def cosine_to_literal(vec_col: Column, qv: list[float]) -> Column:
    """Cosine similarity of an array column against a LITERAL query vector,
    fully unrolled: 2·dim multiply-adds that stay inside whole-stage
    codegen. The higher-order-function path (``F.aggregate``/``zip_with``)
    runs on Spark's interpreted expression evaluator — at dim 64 the
    unrolled form measured 1.3× on the sf0.1 brute-force scan, and the gap
    is per-row, so it grows with the corpus. Accumulation order matches
    the HOF left fold exactly (ascending index), so scores are
    bit-identical to ``cosine_similarity`` against the same vector."""
    qv = [float(x) for x in qv]
    qn = math.sqrt(sum(x * x for x in qv))
    el = [
        F.element_at(vec_col, i + 1).cast("double") for i in range(len(qv))
    ]
    dot = reduce(add, (el[i] * F.lit(qv[i]) for i in range(len(qv))))
    nrm = F.sqrt(reduce(add, (e * e for e in el)))
    return dot / (nrm * F.lit(qn))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a literal query vector.

    Deterministic tie-break on id. Output: (id, score) with score rounded to
    6 decimals (cross-engine float stability).
    """
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
            "score"
        ),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def cosine_topk_to(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k most similar to the vector whose id == query_id (excluded from
    results). The query vector is fetched with one BOUNDED driver collect
    (dim floats — same class of bounded pull as the IVF centroids,
    SCALE.md) and inlined as plan literals, so the scan side is a single
    stage of whole-stage-codegen'd arithmetic + TakeOrdered: zero joins,
    zero shuffles, zero interpreted higher-order functions (the previous
    broadcast-single-row-join form kept the scoring on the interpreted
    HOF path — measured 1.3× slower at sf0.1, per-row cost so the gap
    grows with the corpus)."""
    row = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    if row is None:
        raise ValueError(f"query_id {query_id} not found in {id_col}")
    return cosine_topk(
        df.filter(F.col(id_col) != query_id),
        [float(x) for x in row[0]],
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes: plane j, component i is
    sign(sha256(seed:j:i)). Identical on every executor AND reproducible by
    any other engine (the oracle inlines these as SQL literals), so LSH
    semantics are cross-engine pinned — no RNG state shipping."""
    import hashlib

    def plane(j: int) -> list[float]:
        comps = []
        for i in range(dim):
            h = int.from_bytes(
                hashlib.sha256(f"{seed}:{j}:{i}".encode()).digest()[:4], "big"
            )
            comps.append(1.0 if h % 2 == 0 else -1.0)
        return comps

    return [plane(j) for j in range(n_planes)]


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane (SimHash) signature per vector: bit j = (v·plane_j
    ≥ 0); signature = bits packed MSB-first (plane 0 highest). Per-row, zero
    shuffle — at scale signatures are computed once and persisted."""
    # HOF dots deliberately: an unrolled n_planes×dim literal expansion
    # was A/B'd in r12 and LOST (0.48s vs 0.27s on the sf0.1 scan) — at
    # this expression size codegen falls back to interpreted evaluation,
    # where per-element element_at chains are slower than the HOF's
    # tight array fold. The cast-to-double array is LET-BOUND via a
    # single-element transform (r12): each of the n_planes dots consumed
    # the cast expression tree, re-evaluating it per plane; binding it as
    # a lambda argument evaluates it once per row. Fold order per dot is
    # unchanged, so signatures are bit-identical.
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    planes = hyperplanes(dim, n_planes, seed)

    def _sig(v: Column) -> Column:
        sig = None
        for p_comps in planes:
            p = F.array(*[F.lit(c) for c in p_comps])
            bit = (_dot(v, p) >= 0).cast("long")
            sig = bit if sig is None else sig * 2 + bit
        return sig

    return df.select(
        F.col(id_col),
        F.element_at(F.transform(F.array(vd), _sig), 1).alias("signature"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded LSH: split the signature into bands; vectors sharing any band
    bucket become candidate pairs (self-join per band, unioned, distinct).
    The band value is the shuffle key — small ints, never vectors."""
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    sigs = lsh_signatures(df, dim, n_planes, seed, vec_col, id_col)
    mask = F.lit((1 << bits_per_band) - 1).cast("long")
    out = None
    for b in range(bands):
        band = sigs.select(
            F.col(id_col).alias("id"),
            F.shiftright(F.col("signature"), b * bits_per_band)
            .bitwiseAND(mask)
            .alias("band_val"),
        )
        a, bb = band.alias("a"), band.alias("b")
        pairs = a.join(
            bb,
            (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        out = pairs if out is None else out.unionAll(pairs)
    return out.distinct()


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-level near-duplicate pairs: LSH band candidates + exact
    cosine verify ≥ threshold. The all-pairs n² cosine join never happens —
    only bucket collisions are scored. Output: (id_a, id_b, score).

    Like the MinHash path, the verify stage joins the vectors back by id for
    candidates only; shuffle keys in candidate generation are (band, value)
    ints, never vectors."""
    cand = lsh_candidate_pairs(df, dim, n_planes, bands, seed, vec_col, id_col)
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    scored = (
        cand.join(
            vecs.select(
                F.col("__vid").alias("id_a"), F.col("__v").alias("__va")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("__vid").alias("id_b"), F.col("__v").alias("__vb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6).alias(
                "score"
            ),
        )
    )
    return scored.filter(F.col("score") >= threshold)


def kmeans_centroids(
    df: DataFrame,
    dim: int,
    k: int = 16,
    n_iter: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Init: the k vectors with the smallest xxhash64(id, seed) — reproducible
    without RNG state, spread uniformly over the corpus. Each iteration is
    one distributed pass: assign every vector to its nearest centroid
    (cosine argmax, per-row), then recompute centroids as per-component sums
    (``dim`` algebraic aggregates — map-side partial combine, exactly like
    the SimHash bit sums). Only the k×dim centroid table ever reaches the
    driver — bounded by k, never by data size.
    """
    init = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in init]
    for _ in range(n_iter):
        assigned = df.select(
            F.col(vec_col).alias("v"),
            _nearest_centroid(F.col(vec_col), centroids).alias("c"),
        )
        sums = assigned.groupBy("c").agg(
            F.count("*").alias("n"),
            *[F.sum(F.col("v")[i].cast("double")).alias(f"s{i}") for i in range(dim)],
        )
        for r in sums.collect():
            centroids[r["c"]] = [r[f"s{i}"] / r["n"] for i in range(dim)]
    return centroids


def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the cosine-nearest centroid, computed per-row JVM-side.
    Deterministic tie-break: the lowest index wins (array_position finds the
    first occurrence of the max)."""
    # try_divide: a zero vector has no defined direction — its scores
    # are NULL and so is its assignment (callers treat it as inert)
    # instead of an ANSI divide-by-zero error.
    # HOF dots deliberately: the k×dim literal unrolling was A/B'd in
    # r12 and LOST 4× (codegen falls back at this expression size and
    # interpreted element_at chains lose to the HOF array fold).
    # The cast array, its norm, and the score array are each LET-BOUND
    # via a single-element transform (r12): the k dots re-evaluated the
    # cast tree per centroid, the k denominators re-evaluated the norm
    # fold per centroid, and the argmax (array_position + array_max)
    # evaluated the whole score array twice. Binding each as a lambda
    # argument evaluates it once per row; every subexpression and its
    # fold order are unchanged, so assignments are bit-identical.
    vd = F.transform(vec, lambda x: x.cast("double"))

    def _with_vd(v: Column) -> Column:
        def _with_norm(vn: Column) -> Column:
            scores = F.array(
                *[
                    F.try_divide(
                        _dot(v, F.array(*[F.lit(c) for c in cen])),
                        vn * F.lit(sum(c * c for c in cen) ** 0.5),
                    )
                    for cen in centroids
                ]
            )
            return F.element_at(
                F.transform(
                    F.array(scores),
                    lambda sc: (
                        F.array_position(sc, F.array_max(sc)) - 1
                    ).cast("int"),
                ),
                1,
            )

        return F.element_at(
            F.transform(F.array(_norm(v)), _with_norm), 1
        )

    return F.element_at(F.transform(F.array(vd), _with_vd), 1)


def ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF inverted-file assignment: (id, centroid) — the vector analogue of
    a partition column. At scale this is written ONCE as Parquet partitioned
    by ``centroid``; a query probing p of k centroids then reads p/k of the
    corpus via directory pruning, exactly like the triple store's sign
    split."""
    return df.select(
        F.col(id_col), _nearest_centroid(F.col(vec_col), centroids).alias("centroid")
    )


def ivf_write(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the corpus as centroid-partitioned Parquet — IVF's
    write-once half: one directory per centroid, vectors stored with their
    assignment. Every subsequent probe query prunes to nprobe directories
    (PartitionFilters), the same mechanism as the triple store's sign
    split.

    The k×dim centroid table is persisted beside the data under
    ``_centroids`` (underscore-prefixed → invisible to Spark's file
    listing, like ``_SUCCESS``), so the layout is self-contained: a later
    session can probe it without re-deriving the quantizer.

    The layout also carries the int8-quantized vector (``qvec``, via
    operators.quantize) beside the float one: Parquet is columnar, so a
    quantized probe scans ONLY the 4×-smaller qvec column (pinned by a
    ReadSchema plan test) and the float column is read just for the
    re-rank candidates."""
    from rdfproject_msc_spark.operators.quantize import with_qvec

    (
        with_qvec(df, vec_col)
        .withColumn("centroid", _nearest_centroid(F.col(vec_col), centroids))
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(path)
    )
    (
        df.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "centroid int, vector array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_centroids")
    )


def ivf_load_centroids(spark, path: str) -> list[list[float]]:
    """Load the quantizer persisted by ``ivf_write`` (bounded: k rows)."""
    rows = spark.read.parquet(f"{path}/_centroids").collect()
    out: list[list[float]] = [None] * len(rows)  # type: ignore[list-item]
    for r in rows:
        out[r["centroid"]] = list(r["vector"])
    return out


def ivf_topk_persisted(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    exclude_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe an ``ivf_write`` layout: filter to the nprobe centroid
    directories nearest the query (directory pruning — the non-probed
    corpus is never read), score candidates exactly, take top-k.

    ``centroids=None`` loads the quantizer persisted beside the layout by
    ``ivf_write`` (the default path: the layout is self-contained)."""
    if centroids is None:
        centroids = ivf_load_centroids(spark, path)
    qn = sum(x * x for x in query_vec) ** 0.5

    def cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    probes = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[:nprobe]
    scan = spark.read.parquet(path).filter(F.col("centroid").isin(probes))
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    return (
        scan.select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_persisted_quantized(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 4,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    exclude_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe an ``ivf_write`` layout on the QUANTIZED column: directory
    pruning picks nprobe centroid dirs, the candidate scan reads only the
    int8 ``qvec`` column (column pruning — 4× less IO than the float scan;
    cosine is scale-invariant, so the per-vector quantization scale is not
    even needed), the top rerank·k candidates are re-scored exactly from
    the float column via a semi-join on the same layout. Output columns
    and rounding match ``ivf_topk_persisted``."""
    if centroids is None:
        centroids = ivf_load_centroids(spark, path)
    qn = sum(x * x for x in query_vec) ** 0.5

    def cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    probes = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[:nprobe]
    qscan = spark.read.parquet(path).filter(F.col("centroid").isin(probes))
    if exclude_id is not None:
        qscan = qscan.filter(F.col(id_col) != exclude_id)
    approx = (
        qscan.select(
            F.col(id_col),
            cosine_to_literal(F.col("qvec"), query_vec).alias("ascore"),
        )
        .orderBy(F.col("ascore").desc(), F.col(id_col))
        .limit(rerank * k)
    )
    fscan = spark.read.parquet(path).filter(F.col("centroid").isin(probes))
    return (
        fscan.join(approx.select(id_col), id_col, "leftsemi")
        .select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_to(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iter: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via IVF: score only vectors assigned to the
    ``nprobe`` centroids nearest the query — the second ANN scale path next
    to ``lsh_topk_to`` (IVF prunes by geometry partition, LSH by signature
    bucket; at 100 TB IVF reads nprobe/n_centroids of a centroid-partitioned
    layout while LSH needs a signature index).

    The centroid probe order is computed driver-side from the k×dim centroid
    table (bounded by n_centroids) plus one bounded single-row lookup of the
    query vector. Recall < 1 by construction and tunable via nprobe; tests
    measure it against the exact ``cosine_topk_to``.
    """
    centroids = kmeans_centroids(df, dim, n_centroids, n_iter, seed, vec_col, id_col)
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    qvec = [float(x) for x in qrow[0]]
    qn = sum(x * x for x in qvec) ** 0.5

    def cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5
        return sum(a * b for a, b in zip(qvec, c)) / (qn * cn)

    probes = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[:nprobe]
    cand = ivf_index(df, centroids, vec_col, id_col).filter(
        F.col("centroid").isin(probes)
    )
    scored = (
        df.join(cand.select(id_col), id_col, "leftsemi")
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), qvec), 6).alias(
                "score"
            ),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def lsh_topk_to(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k by cosine to the vector with id == query_id:
    candidates are vectors sharing ≥1 LSH band bucket with the query; exact
    cosine scores + top-k only within candidates.

    Scale shape: the query's band values are a tiny relation → broadcast
    semi-join prunes the candidate set before any vector arithmetic; only
    candidate vectors are scored. With persisted signatures (bucket-partitioned
    Parquet — ``lsh_write`` / ``lsh_topk_persisted``), the scan itself prunes
    to matching buckets — the brute-force full-scan disappears. Recall is
    tunable via (n_planes, bands); it is NOT 1.0 — tests measure it against
    ``cosine_topk_to``.

    ``probes`` enables MULTIPROBE (``_multiprobe_bands``): each band also
    probes its probes-1 least-confident single-bit-flip buckets, recovering
    recall at selective parameters (many bits per band) where the exact
    bucket alone would miss near neighbors. probes=1 is classic banded LSH.
    """
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    mask = F.lit((1 << bits_per_band) - 1).cast("long")
    sigs = lsh_signatures(df, dim, n_planes, seed, vec_col, id_col)
    band_vals = F.array(
        *[
            F.shiftright(F.col("signature"), b * bits_per_band).bitwiseAND(mask)
            for b in range(bands)
        ]
    )
    bv = sigs.select(
        F.col(id_col).alias("id"), F.posexplode(band_vals).alias("band", "band_val")
    )
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found in {id_col}")
    qvec = [float(x) for x in qrow[0]]
    if probes <= 1:
        # classic single-probe: the query's buckets come from the corpus
        # signature relation itself (a pushed vec_id filter — one row
        # group); measured marginally faster than the literal form at
        # sf0.1 (A/B'd round 5), so the benched default keeps it
        qb = bv.filter(F.col("id") == query_id).select("band", "band_val")
    else:
        # multiprobe: the probe set (exact buckets + margin-ranked bit
        # flips) is DRIVER-side bounded arithmetic from the query vector,
        # bit-exact vs the JVM signature expression — a literal
        # bands×probes relation broadcast against the corpus signatures
        qb = df.sparkSession.createDataFrame(
            _multiprobe_bands(qvec, dim, n_planes, bands, seed, probes),
            "band int, band_val long",
        )
    cand = (
        bv.join(F.broadcast(qb), ["band", "band_val"])
        .filter(F.col("id") != query_id)
        .select("id")
        .distinct()
    )
    scored = df.join(cand, df[id_col] == cand.id, "leftsemi").select(
        F.col(id_col),
        F.round(cosine_to_literal(F.col(vec_col), qvec), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _py_plane_dots(
    query_vec: list[float], dim: int, n_planes: int, seed: int
) -> list[float]:
    """Driver-side per-plane dot products for ONE vector (bounded: dim ×
    n_planes flops). Same left-fold accumulation order as the JVM
    expression, so signs (and therefore signature bits) agree exactly."""
    dots = []
    for comps in hyperplanes(dim, n_planes, seed):
        dot = 0.0
        for a, b in zip(query_vec, comps):
            dot += float(a) * b
        dots.append(dot)
    return dots


def _multiprobe_bands(
    query_vec: list[float],
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    probes: int = 1,
) -> list[tuple[int, int]]:
    """Multiprobe LSH probe set (Lv et al., VLDB'07): per band, the query's
    exact bucket plus its ``probes - 1`` least-confident single-bit flips —
    a bit whose hyperplane margin |v·plane| is small is the one a true
    neighbor most likely landed on the other side of, so those buckets are
    probed first. All driver-side bounded arithmetic (dim × n_planes flops
    + a sort of bits_per_band ints per band); no data is touched.

    Multiprobe trades probe count for selectivity: MORE bits per band
    (smaller buckets, cheaper candidate sets) at the same recall, instead
    of relying on many coarse OR'd bands. probes=1 is exactly the classic
    single-probe band set."""
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    dots = _py_plane_dots(query_vec, dim, n_planes, seed)
    sig = 0
    for dot in dots:
        sig = sig * 2 + (1 if dot >= 0 else 0)
    out: list[tuple[int, int]] = []
    for b in range(bands):
        bv = (sig >> (b * bits_per_band)) & mask
        out.append((b, bv))
        # band b's bit i (LSB-first within the band) is plane
        # n_planes-1 - (b*bits_per_band + i) (MSB-first packing)
        flip_order = sorted(
            range(bits_per_band),
            key=lambda i: abs(dots[n_planes - 1 - b * bits_per_band - i]),
        )
        for i in flip_order[: max(0, probes - 1)]:
            out.append((b, bv ^ (1 << i)))
    return out


def lsh_write(
    df: DataFrame,
    path: str,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the LSH signature index as (band, band_val)-partitioned
    Parquet — the layout that makes `lsh_topk_to`'s full-corpus signature
    scan disappear: a probe reads only the `bands` directories matching
    the query's band values (PartitionFilters), i.e. the candidate lists
    themselves. Vectors ride beside the index under ``_vectors`` and the
    LSH parameters under ``_meta`` (underscore dirs are invisible to the
    main read), so the layout is self-contained like the IVF one.

    bands × 2^(n_planes/bands) directories total (default 4 × 16 = 64) —
    directory count is bounded by the parameters, never by data volume."""
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    mask = F.lit((1 << bits_per_band) - 1).cast("long")
    sigs = lsh_signatures(df, dim, n_planes, seed, vec_col, id_col)
    band_vals = F.array(
        *[
            F.shiftright(F.col("signature"), b * bits_per_band).bitwiseAND(mask)
            for b in range(bands)
        ]
    )
    (
        sigs.select(
            F.col(id_col), F.posexplode(band_vals).alias("band", "band_val")
        )
        .write.mode("overwrite")
        .partitionBy("band", "band_val")
        .parquet(path)
    )
    df.select(id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/_vectors"
    )
    (
        df.sparkSession.createDataFrame(
            [(dim, n_planes, bands, seed)],
            "dim int, n_planes int, bands int, seed int",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_meta")
    )


def lsh_topk_persisted(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Probe a ``lsh_write`` layout: the query's band values are computed
    driver-side (deterministic hyperplanes — bounded arithmetic, no data
    touched), the index scan prunes to those (band, band_val) directories
    (PartitionFilters — candidate lists only, never the corpus index),
    candidates semi-join their vectors, exact cosine re-ranks. Identical
    candidates and scoring to the in-memory ``lsh_topk_to`` at the same
    parameters (equality pinned in tests). ``probes`` > 1 adds each band's
    least-confident single-bit-flip buckets (multiprobe) — still bands ×
    probes directories read, set by parameters, never data volume."""
    meta = spark.read.parquet(f"{path}/_meta").first()
    wanted = _multiprobe_bands(
        query_vec,
        meta["dim"],
        meta["n_planes"],
        meta["bands"],
        meta["seed"],
        probes,
    )
    index = spark.read.parquet(path)
    cond = reduce(
        lambda a, b: a | b,
        [
            (F.col("band") == F.lit(b)) & (F.col("band_val") == F.lit(v))
            for b, v in wanted
        ],
    )
    cand = index.filter(cond).select(id_col).distinct()
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    vectors = spark.read.parquet(f"{path}/_vectors")
    return (
        vectors.join(cand, id_col, "leftsemi")
        .select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_stream_append(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Streaming ingestion into the ``ivf_write`` layout shape: vectors
    arriving on a stream are centroid-assigned and int8-quantized with the
    SAME stateless per-row expressions the batch writer uses, then appended
    as centroid-partitioned Parquet — so ``ivf_topk_persisted`` /
    ``_quantized`` probes (and their directory + column pruning) run
    unchanged over data that arrived via the stream. The embeddings twin of
    streaming/events.stream_triples_to_store.

    Append-only file sink + checkpoint = exactly-once per micro-batch;
    ``availableNow`` drains the staged input and stops (production runs the
    same query on a processing-time trigger). The k×dim quantizer is
    persisted beside the data (bounded, driver-side) so the streamed layout
    is as self-contained as a batch-written one.

    A streamed layout is its own store (the parquet sink's _spark_metadata
    log owns the directory — do not mix batch writes into it); a
    bootstrap-batch + streamed-increment deployment probes both layouts and
    unions the candidates.
    """
    from rdfproject_msc_spark.operators.quantize import with_qvec

    out = with_qvec(stream.select(id_col, vec_col), vec_col).withColumn(
        "centroid", _nearest_centroid(F.col(vec_col), centroids)
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .partitionBy("centroid")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Write the quantizer sidecar unconditionally: the write is idempotent
    # (same centroids every call — quantizer identity is this layout's
    # invariant) and mode("overwrite") goes through the Hadoop FileSystem
    # API, so it behaves identically on local paths, HDFS, and S3. An
    # existence pre-check via os.path would only see the local filesystem
    # and silently miss on object stores.
    (
        stream.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "centroid int, vector array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_centroids")
    )


def lsh_stream_append(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Streaming ingestion into the ``lsh_write`` layout shape — the LSH
    twin of ``ivf_stream_append``: vectors arriving on a stream are
    signature-hashed and band-exploded with the SAME stateless per-row
    expressions the batch writer uses, then appended as
    (band, band_val)-partitioned Parquet, so ``lsh_topk_persisted``
    probes (and their directory pruning + multiprobe) run unchanged over
    data that arrived via the stream.

    Two checkpointed append-only file sinks (index rows and the scoring
    vectors under ``_vectors`` — underscore dirs stay invisible to the
    index read), each exactly-once per micro-batch; ``availableNow``
    drains the staged input and stops. The parameter sidecar ``_meta``
    overwrites idempotently through the Hadoop FileSystem API (portable
    to HDFS/S3, same rationale as the IVF centroid sidecar)."""
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    mask = F.lit((1 << bits_per_band) - 1).cast("long")
    sigs = lsh_signatures(stream, dim, n_planes, seed, vec_col, id_col)
    band_vals = F.array(
        *[
            F.shiftright(F.col("signature"), b * bits_per_band).bitwiseAND(mask)
            for b in range(bands)
        ]
    )
    idx = sigs.select(
        F.col(id_col), F.posexplode(band_vals).alias("band", "band_val")
    )
    q_idx = (
        idx.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", f"{checkpoint_dir}/index")
        .outputMode("append")
        .partitionBy("band", "band_val")
        .trigger(availableNow=True)
        .start()
    )
    q_vec = (
        stream.select(id_col, vec_col)
        .writeStream.format("parquet")
        .option("path", f"{path}/_vectors")
        .option("checkpointLocation", f"{checkpoint_dir}/vectors")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q_idx.awaitTermination()
    q_vec.awaitTermination()
    (
        stream.sparkSession.createDataFrame(
            [(dim, n_planes, bands, seed)],
            "dim int, n_planes int, bands int, seed int",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_meta")
    )


def lsh_topk_multi(
    spark,
    paths: list[str],
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Probe SEVERAL ``lsh_write``/``lsh_stream_append`` layouts sharing
    one parameter set and merge their candidates — the bootstrap-batch +
    streamed-increment deployment, LSH twin of ``ivf_topk_multi``.
    Directory pruning applies per layout; candidate ids union before ONE
    exact scoring + TakeOrdered, so the merge adds no shuffle. Parameter
    identity is enforced by comparing each layout's ``_meta`` sidecar
    (4 ints, bounded driver-side) — probing a layout hashed with
    different planes would silently miss vectors."""
    if not paths:
        raise ValueError("lsh_topk_multi needs at least one layout path")
    metas = [spark.read.parquet(f"{p}/_meta").first() for p in paths]
    params = [(m["dim"], m["n_planes"], m["bands"], m["seed"]) for m in metas]
    if len(set(params)) != 1:
        raise ValueError(
            f"layouts disagree on LSH parameters: {dict(zip(paths, params))}"
        )
    dim, n_planes, bands, seed = params[0]
    wanted = _multiprobe_bands(query_vec, dim, n_planes, bands, seed, probes)
    cond = reduce(
        lambda a, b: a | b,
        [
            (F.col("band") == F.lit(b)) & (F.col("band_val") == F.lit(v))
            for b, v in wanted
        ],
    )
    cands = [
        spark.read.parquet(p).filter(cond).select(id_col) for p in paths
    ]
    cand = reduce(lambda a, b: a.unionByName(b), cands).distinct()
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    vectors = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(f"{p}/_vectors") for p in paths],
    )
    return (
        vectors.join(cand, id_col, "leftsemi")
        .select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_multi(
    spark,
    paths: list[str],
    query_vec: list[float],
    k: int = 10,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    exclude_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe SEVERAL IVF layouts sharing one quantizer and merge their
    candidates — the bootstrap-batch + streamed-increment deployment
    (``ivf_write`` once, then ``ivf_stream_append`` stores accumulating
    beside it). Directory pruning applies per layout (each scan reads its
    own nprobe centroid directories); candidates union before one exact
    scoring + TakeOrdered, so the merge adds no shuffle.

    All layouts must have been written against the SAME centroids —
    enforced by comparing each layout's persisted quantizer (k×dim floats,
    a bounded driver-side check) rather than trusted."""
    if not paths:
        raise ValueError("ivf_topk_multi needs at least one layout path")
    if centroids is None:
        centroids = ivf_load_centroids(spark, paths[0])
    for p in paths:
        theirs = ivf_load_centroids(spark, p)
        if theirs != centroids:
            raise ValueError(
                f"layout {p!r} was written with different centroids — "
                "probing it with this quantizer would silently miss vectors"
            )
    qn = sum(x * x for x in query_vec) ** 0.5

    def cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    probes = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[:nprobe]
    scans = [
        spark.read.parquet(p)
        .filter(F.col("centroid").isin(probes))
        .select(id_col, vec_col)
        for p in paths
    ]
    scan = reduce(lambda a, b: a.unionByName(b), scans)
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    return (
        scan.select(
            F.col(id_col),
            F.round(cosine_to_literal(F.col(vec_col), query_vec), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
