"""Deduplication operators over a document corpus.

Scale notes: exact dedup is a single hash aggregation (map-side partial
combine, AQE-coalesced); the grouping key is hashed (xxhash64 + length) so
the shuffle comparator works on 16-byte keys instead of full document text —
at 100 TB that is the difference between a feasible and an infeasible
shuffle. Near-dup at scale is MinHash-LSH (``minhash_lsh_pairs``): banded
signature buckets are the shuffle keys; exact Jaccard verifies only within
buckets; the all-pairs inverted-index join (``jaccard_pairs``) is the exact
baseline/verifier, not the scale path.

Collision note: keying on (xxhash64, length) merges distinct documents only
on a 64-bit hash collision at equal length (~2⁻⁶⁴ per pair) — accepted and
documented, NOT verified within groups. Use ``exact_dedup`` when bit-exact
grouping on content is required.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct content value.

    Returns all original columns of the surviving rows. Groups on
    (xxhash64(content), length(content)) — a 16-byte leading grouping key —
    with a final exact guard on the content itself: within a hash group, rows
    whose content differs are NOT merged (content is part of the key), so the
    result equals GROUP BY content bit-for-bit even under hash collisions,
    while the common case never compares full text in the shuffle comparator.

    The survivor row is a ``min_by`` AGGREGATE (was a row_number window until
    r12): partial aggregation combines duplicates map-side, so a text
    duplicated a million times ships ONE row per map task instead of a
    million rows into one sorted window partition — the same hot-key
    argument as ``passages.passage_dedup``, and it removes the window's
    per-partition sort outright.
    """
    # the content column is already the tail of the grouping key — keep it
    # OUT of the min_by payload struct (it would ship the text twice per
    # shuffled row) and re-attach it from the key on the way out
    others = [c for c in df.columns if c != content_col]
    grouped = df.groupBy(
        F.xxhash64(F.col(content_col)).alias("__h"),
        F.length(F.col(content_col)).alias("__l"),
        F.col(content_col).alias("__c"),
    )
    if others == [id_col]:
        # (id, content) input — min_by of a one-field struct IS min(id),
        # and a LONG aggregation buffer keeps the whole thing a
        # HashAggregate; the struct buffer below is unsupported there, so
        # Spark falls back to SortAggregate (a per-partition sort of the
        # corpus by the text-tailed key on BOTH sides of the exchange —
        # r13, guide §2.4). Callers that only need (id, content) should
        # project before calling (curate_stats does).
        keep = grouped.agg(F.min(F.col(id_col)).alias(id_col))
        return keep.select(
            *[
                F.col("__c").alias(c) if c == content_col else F.col(c)
                for c in df.columns
            ]
        )
    keep = grouped.agg(
        F.min_by(F.struct(*others), F.col(id_col)).alias("__row")
    )
    return keep.select(
        *[
            F.col("__c").alias(c)
            if c == content_col
            else F.col("__row").getField(c).alias(c)
            for c in df.columns
        ]
    )


def exact_dedup_keys(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dedup summary: one row per distinct content with the kept id and the
    duplicate count — the scale-path variant (shuffles hashes, not text).

    Probabilistic guarantee: groups on (xxhash64, length); a collision at
    equal length (~2⁻⁶⁴) silently merges two distinct documents. See module
    docstring; use ``exact_dedup`` for the bit-exact variant.
    """
    hashed = df.select(
        F.col(id_col),
        F.xxhash64(F.col(content_col)).alias("content_hash"),
        F.length(F.col(content_col)).cast("long").alias("content_len"),
    )
    return hashed.groupBy("content_hash", "content_len").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_dups"),
    )


def _shingled(
    df: DataFrame, content_col: str, id_col: str, n: int
) -> tuple[DataFrame, Column]:
    """The shingle front half with the token array BOUND as a projected
    column (r12): a higher-order function evaluates its lambda BODY per
    element, and the window lambda's ``slice(toks, i+1, n)`` captured the
    whole split-expression tree — the text was re-tokenized once per
    window. Projecting the token array first makes the capture a plain
    attribute read (cheap per element); CollapseProject keeps the
    projection separate because the alias is non-cheap and referenced
    more than once (measured 10-16× on the n-gram family at sf0.1; same
    arrays, element for element). Binding via a projected COLUMN rather
    than a single-element ``transform`` let-expression is deliberate:
    a pandas-UDF argument containing the let-form broke Python-UDF
    extraction on one side of the banded self-join (the twin Project
    kept the raw PythonUDF and the task failed with INTERNAL_ERROR
    "Cannot evaluate expression"), while the projected column keeps the
    UDF argument in the shape the extractor has always handled.

    Returns (projected frame, shingle expression over the bound column).
    """
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    tmp = df.select(F.col(id_col), toks.alias("__sh_tk"))
    tk = F.col("__sh_tk")
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
    )
    return tmp, F.array_distinct(F.filter(windows, lambda s: s != ""))


def shingle_sets(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — one row per document, set semantics."""
    tmp, sh = _shingled(df, content_col, id_col, n)
    return tmp.select(F.col(id_col), sh.alias("shingles"))


def ngram_shingles(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Word n-gram shingle set per document (JVM-side: split + transform).

    Foundation for MinHash/Jaccard near-dup. Output: (id, shingle) pairs,
    distinct — i.e. the shingle *set*, exploded for distributed processing.

    ``max_doc_freq``: drop shingles occurring in more than this many
    documents ("stop-shingles"). A hot shingle of document frequency f makes
    the inverted-index self-join emit f² rows; capping bounds that blowup.
    Capping changes which pairs become CANDIDATES, so it belongs in candidate
    generation only — verification must use the full sets.
    """
    tmp, sh = _shingled(df, content_col, id_col, n)
    out = tmp.select(F.col(id_col), F.explode(sh).alias("shingle"))
    if max_doc_freq is not None:
        freq = out.groupBy("shingle").agg(F.count("*").alias("__df"))
        out = (
            out.join(freq.filter(F.col("__df") <= max_doc_freq), "shingle")
            .drop("__df")
        )
    return out


def jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold (exact, via the
    inverted-index join — no O(n²) cartesian: pairs sharing zero shingles
    never meet).

    At 100 TB this is the verification stage run AFTER MinHash-LSH candidate
    generation; standalone it is exact but shuffle-heavy on hot shingles
    (stop-shingle removal / LSH pre-filter is the scale path).
    """
    sh = ngram_shingles(df, content_col, id_col, n).withColumnRenamed(id_col, "id")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def _minhash_coeffs(n_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """Deterministic odd-multiplier/offset pairs for the universal hash
    family h_i(x) = (a_i·x + b_i) mod 2⁶⁴, derived from sha256(seed, i)."""
    import hashlib

    a_list, b_list = [], []
    for i in range(n_hashes):
        d = hashlib.sha256(f"minhash:{seed}:{i}".encode()).digest()
        a_list.append(int.from_bytes(d[:8], "big") | 1)
        b_list.append(int.from_bytes(d[8:16], "big"))
    return a_list, b_list


def _minhash_sig_udf(n_hashes: int, seed: int):
    """Arrow-batched Pandas UDF: hashed-shingle array → MinHash signature.

    sig[i] = min over hashed shingles h of (a_i·h + b_i) mod 2⁶⁴, reinterpreted
    as signed int64. Why a UDF in an engine that keeps hot paths JVM-side:
    the pure-Column formulation needs n_hashes higher-order ``transform``
    calls, and HOFs are excluded from whole-stage codegen — Spark interprets
    them per element (n_hashes × shingles × docs interpreted dispatches,
    measured ~40× slower than this vectorized numpy batch). The UDF receives
    only 8-byte hashes (never text), so Arrow transfer is tiny.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a_list, b_list = _minhash_coeffs(n_hashes, seed)

    @pandas_udf("array<bigint>")
    def sig(hs: pd.Series) -> pd.Series:
        a = np.array(a_list, dtype=np.uint64)
        b = np.array(b_list, dtype=np.uint64)
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(None)
                continue
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            # (k, n_hashes) mixing with silent mod-2⁶⁴ wraparound, min per fn
            m = (hv[:, None] * a + b).min(axis=0)
            out.append(m.astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over hashed shingles of
    (a_i·xxhash64(shingle) + b_i) mod 2⁶⁴.

    Computed per-row (one JVM string-hash pass, then a vectorized Pandas UDF
    for the n_hashes-way mixing — see ``_minhash_sig_udf`` for why): ZERO
    shuffle — at 100 TB signatures stream out of the scan stage. A document
    with no shingles gets a null signature (never matches a band).
    Output: (id, shingles, sig: array<long>) — shingles kept for the caller's
    verification stage.
    """
    sh = shingle_sets(df, content_col, id_col, n)
    sig_udf = _minhash_sig_udf(n_hashes, seed)
    hs = sh.select(
        F.col(id_col),
        F.col("shingles"),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("__hs"),
    )
    return hs.select(
        F.col(id_col),
        F.col("shingles"),
        sig_udf(F.col("__hs")).alias("sig"),
    )


def _md5_bits64(col: Column) -> tuple[Column, Column]:
    """The first 16 hex nibbles of md5(col) as two 32-bit halves — every
    primitive here (md5, substring, base-16 conversion) behaves identically
    in Spark and DuckDB, so SimHash built on it is exactly cross-engine
    reproducible (unlike xxhash64, which only Spark has).

    Bit mapping (identical to the historical per-nibble form, which ran 16
    ``conv`` calls per shingle instead of these 2): SimHash bit ``b`` reads
    nibble ``15 - b//4`` (1-based digest position ``p = 16 - b//4``) at bit
    ``b % 4``. For b < 32, p ∈ 9..16 and the 8-char substring at position 9
    holds digit p at value-bit ``4*(16-p) + (b%4) = b``; for b >= 32, p ∈
    1..8 and the leading 8-char substring holds it at bit ``b - 32``. So:
    bit b = (lo32 >> b) & 1 for b < 32, (hi32 >> (b-32)) & 1 otherwise.
    """
    digest = F.md5(col)
    lo32 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    hi32 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    return lo32, hi32


def _simhash_sig_udf():
    """Arrow-batched Pandas UDF: per-document array of packed 64-bit md5
    values → [lo, hi] SimHash halves.

    Input element = ``shiftleft(hi32, 32) | lo32`` (see ``_md5_bits64``), so
    bit ``b`` of the packed value IS SimHash bit ``b``. The per-bit ±1 sums
    reduce to 2·S_b − N ≥ 0 where S_b is the count of set bits at position b
    and N the shingle count — one vectorized unpack+sum over the whole Arrow
    batch (rows concatenated, ``np.add.reduceat`` per document), instead of
    64 aggregate expressions per exploded shingle row (r13, guide §4.2 —
    same design as ``_minhash_sig_udf``, and the same reason: the pure-JVM
    form pays per-element interpreted dispatch × 64 bit expressions plus a
    groupBy(id) exchange; here signatures stream out of the scan stage)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    BLOCK = 1 << 20  # shingles per block: 64 MB of unpacked bits, bounded

    @pandas_udf("array<bigint>")
    def sig(packed: pd.Series) -> pd.Series:
        weights = np.float64(2) ** np.arange(32)  # 2^b exact in float64
        out = np.empty(len(packed), dtype=object)
        out[:] = None
        # a NULL packed array (NULL text) is an empty one: no shingles,
        # NULL signature
        arrs = [
            np.asarray(p if p is not None else (), dtype=np.int64)
            for p in packed
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64)
        idx = np.flatnonzero(lens)
        pos = 0
        while pos < len(idx):
            # take a doc block whose total shingle count stays under BLOCK
            end, tot = pos, 0
            while end < len(idx) and (tot == 0 or tot + lens[idx[end]] <= BLOCK):
                tot += lens[idx[end]]
                end += 1
            block = idx[pos:end]
            flat = np.concatenate([arrs[i] for i in block]).astype("<u8")
            # one byte per bit: (shingles, 64) uint8, bit b at column b
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            starts = np.zeros(len(block), dtype=np.int64)
            np.cumsum(lens[block][:-1], out=starts[1:])
            s = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
            keep = (2 * s - lens[block][:, None]) >= 0
            lo = (keep[:, :32] @ weights).astype(np.uint64).astype(np.int64)
            hi = (keep[:, 32:] @ weights).astype(np.uint64).astype(np.int64)
            for j, i in enumerate(block):
                out[i] = np.array([lo[j], hi[j]], dtype=np.int64)
            pos = end
        return pd.Series(out)

    return sig


def simhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_partitions: int | None = None,
) -> DataFrame:
    """64-bit SimHash per document over word n-gram shingles, packed as two
    32-bit halves (lo = bits 0-31, hi = bits 32-63; avoids signed-overflow
    games with bit 63).

    bit b = sign of Σ over shingles of (±1 depending on bit b of
    md5(shingle)). Computed per-row (r13): the shingle SET stays an array,
    one ``transform`` packs md5 into a 64-bit value per shingle, and a
    vectorized Arrow UDF does the 64-way bit-count (``_simhash_sig_udf``) —
    ZERO shuffle, vs the previous exploded-shingle groupBy(id) with 64
    conditional-sum aggregate expressions per row. Documents with no
    shingles are dropped (the exploded form never emitted rows for them).
    Output: (id, lo: long, hi: long).
    """
    src = df.select(F.col(id_col), F.col(content_col))
    if min_partitions is not None:
        # spread the shingle+md5 CPU work when the source is a single small
        # file (cf. minhash_lsh_pairs — same local-parallelism concern)
        src = src.repartition(min_partitions, id_col)
    tmp, sh = _shingled(src, content_col, id_col, n)
    # digest array projected separately so md5 runs once per shingle (the
    # lambda-capture rule from r12: HOF bodies re-evaluate captures per
    # element, and there is no CSE inside interpreted lambdas)
    rows = (
        tmp.select(F.col(id_col).alias("id"), sh.alias("__sh_arr"))
        .select(
            "id", F.transform("__sh_arr", lambda s: F.md5(s)).alias("__dg")
        )
        .select(
            "id",
            F.transform(
                "__dg",
                lambda d: F.shiftleft(
                    F.conv(F.substring(d, 1, 8), 16, 10).cast("long"), 32
                ).bitwiseOR(
                    F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
                ),
            ).alias("__packed"),
        )
    )
    sig_udf = _simhash_sig_udf()
    sigs = rows.select("id", sig_udf(F.col("__packed")).alias("__sig0"))
    # Null signatures (shingle-less docs) are dropped via explode-of-when,
    # NOT a Filter: a filter predicate referencing the UDF output gets
    # pushed below the repartition exchange, where it re-runs the ENTIRE
    # interpreted shingle+md5+UDF chain on the raw scan's partitions just
    # to test null-ness (measured 18s vs 0.7s at sf0.1) — the same
    # no-pushable-predicate rule as _lsh_band_rows' band wrap.
    return sigs.select(
        "id",
        F.explode(
            F.when(F.col("__sig0").isNotNull(), F.array("__sig0"))
        ).alias("__sig"),
    ).select(
        "id",
        F.element_at("__sig", 1).alias("lo"),
        F.element_at("__sig", 2).alias("hi"),
    )


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 6,
    min_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    Candidates come from 8 bands of 8 bits: by pigeonhole, any pair within
    hamming 7 shares at least one exact band, so for max_hamming ≤ 7 the
    banded join has GUARANTEED recall 1 — the output equals brute-force
    all-pairs hamming, which is exactly what the DuckDB oracle computes.
    Shuffle keys are (band, 8-bit value) ints; hamming verify via
    bit_count(xor) on candidates only.
    """
    assert max_hamming <= 7, "8x8 banding guarantees recall only to hamming 7"
    sigs = simhash_signatures(df, content_col, id_col, n, min_partitions)
    # Materialize the signature relation behind its OWN exchange (r12): the
    # self-join consumes sigs twice, and without this the whole
    # explode+md5+aggregate pipeline re-runs per side (only the raw-text
    # exchange was reused — the signature agg needs no exchange of its own
    # because the input is already id-partitioned, so nothing above the text
    # shuffle was shared). One tiny (id, lo, hi) shuffle buys the second
    # side a ReusedExchange of the computed signatures — guide §2.4's
    # "share one exchange", §8's "move the lightweight proxy once".
    sigs = (
        sigs.repartition(min_partitions, "id")
        if min_partitions
        else sigs.repartition("id")
    )
    bands = []
    for b in range(8):
        half = F.col("lo") if b < 4 else F.col("hi")
        bands.append(
            F.shiftright(half, (b % 4) * 8).bitwiseAND(F.lit(255))
        )
    bv = sigs.select(
        "id", "lo", "hi", F.posexplode(F.array(*bands)).alias("band", "band_val")
    )
    a, b2 = bv.alias("a"), bv.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
                + F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
            ).alias("hamming"),
        )
        # hamming BEFORE distinct (r12): hamming is a pure function of the
        # pair, so filter∘distinct ≡ distinct∘filter — but the banded join
        # also emits RANDOM 8-bit band collisions (~N²/2⁸ per band, i.e.
        # quadratic in corpus size: 406k candidate rows for 5k docs at
        # sf0.1 vs 214 qualifying), and filtering first keeps that noise
        # out of the distinct's exchange entirely (guide §2.3 — drop rows
        # before the shuffle). Measured 1.16s → 1.02s at sf0.1, identical
        # 214 pairs.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand.select("id_a", "id_b", "hamming")


def _lsh_band_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int,
    n_hashes: int,
    bands: int,
    seed: int,
    min_partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: hashed shingle sets (id, hs) and banded
    bucket rows (id, band, band_val). Same expressions on both sides of
    any LSH join — the zero-false-negative property (a true near-dup pair
    always shares a band value with probability 1-(1-J^r)^bands) depends
    on build symmetry exactly like the Bloom filter's probe."""
    r = n_hashes // bands
    src = df.select(F.col(id_col).alias("id"), F.col(content_col))
    if min_partitions is not None:
        # repartition the RAW text before shingling so the (CPU-heavy)
        # shingle+hash work parallelizes even off a single-file scan.
        # NOTE: no filter may sit between here and the shingle projection —
        # predicate pushdown would push it (and the whole shingle expression
        # tree it references) below the exchange, serializing the work back
        # onto the scan partitions.
        src = src.repartition(min_partitions, "id")
    sh = shingle_sets(src, content_col, "id", n)
    sig_udf = _minhash_sig_udf(n_hashes, seed)
    sigs = sh.select(
        "id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"),
    ).select("id", "hs", sig_udf(F.col("hs")).alias("sig"))
    # Materialize (id, hs, sig) behind ONE exchange (r12): every LSH caller
    # consumes this relation 3-4 times (both band sides of the candidate
    # join, both/one verify attach), and without a materialization point the
    # shingle+hash pipeline re-ran per consumer and the Arrow signature UDF
    # per band side (only the raw-TEXT exchange above was reused). The
    # shuffle payload is the hashed proxy (8-byte shingle hashes + the
    # signature), never text — guide §2.4 "share one exchange" / §8 "move
    # the lightweight proxy once, decide on it many times".
    mat = (
        sigs.repartition(min_partitions, "id")
        if min_partitions
        else sigs.repartition("id")
    )
    hs = mat.select("id", "hs")

    band_vals = F.array(
        *[
            F.xxhash64(F.slice(F.col("sig"), b * r + 1, r), F.lit(b))
            for b in range(bands)
        ]
    )
    # A shingle-less document has a null signature (see _minhash_sig_udf);
    # wrapping the band array in that null makes posexplode emit ZERO rows
    # for it — empty docs can never bucket together, and there is no
    # pushable filter predicate (see the repartition note above).
    bv = mat.select(
        F.col("id"),
        F.posexplode(F.when(F.col("sig").isNotNull(), band_vals)).alias(
            "band", "band_val"
        ),
    )
    return hs, bv


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
    min_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH candidates + exact Jaccard verify.

    The 100 TB near-dup path (vs ``jaccard_pairs``' all-pairs join):
    1. shingle sets hashed to long arrays ONCE (one string-hash pass);
    2. signatures per-row, no shuffle (``_minhash_sig``);
    3. banded buckets: band value = xxhash64(signature slice) — the ONLY
       shuffle keys are (band_idx, band_val) pairs of ints, never text;
    4. self-join within buckets → candidate pairs (distinct);
    5. Jaccard verify on candidates only, via per-row
       array_intersect/array_union of the two HASHED shingle sets — no
       shingle-level join, so hot shingles cannot blow up the verify stage.
       (Jaccard over 64-bit-hashed shingles equals Jaccard over shingles up
       to a ~n²·2⁻⁶⁴ collision mass — far below the 6-decimal rounding.)

    With n_hashes=64, bands=32 (rows r=2): P(miss | J) = (1-J²)^32 —
    ≤1e-4 at J=0.5, ≤4e-11 at J=0.88. Output: (id_a, id_b, jaccard) for
    verified Jaccard ≥ threshold; equals the exact all-pairs result except
    for the vanishing false-negative mass, which a threshold-matched oracle
    pins at test scale.

    ``min_partitions``: repartition the shingled input when the source scan
    yields fewer partitions (local small-file inputs serialize the hashing
    otherwise). Leave None at scale — a 100 TB input already has the
    parallelism, and the repartition would be a full-corpus shuffle.
    """
    assert n_hashes % bands == 0
    hs, bv = _lsh_band_rows(
        df, content_col, id_col, n, n_hashes, bands, seed, min_partitions
    )
    a, b = bv.alias("a"), bv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(
            hs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")),
            "id_a",
        )
        .join(
            hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("hs_a", "hs_b")),
                    F.size(F.array_union("hs_a", "hs_b")),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
    min_partitions: int | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate join: which LEFT documents near-match a
    RIGHT document (new crawl vs existing corpus, vendor delivery vs what
    we already hold, corpus vs eval set at the document level).

    ``minhash_lsh_pairs`` finds pairs WITHIN one corpus; this joins two —
    the incremental-ingest primitive, because the right side's banded rows
    are exactly what ``minhash_lsh_pairs`` computes, so an existing
    corpus's bands can be persisted once and every new delivery probes
    them without re-shingling history (the persisted-index economics of
    similarity.lsh_write, applied to documents).

    Same machinery, same guarantees: banded (band, band_val) candidates —
    the only shuffle keys are int pairs, never text — then exact Jaccard
    verify on hashed shingle sets. Output: (id_left, id_right, jaccard)
    for verified Jaccard ≥ threshold. Both ids keep their own corpora's
    namespaces (no id ordering between sides is assumed or required).
    """
    assert n_hashes % bands == 0
    hs_l, bv_l = _lsh_band_rows(
        left, content_col, id_col, n, n_hashes, bands, seed, min_partitions
    )
    hs_r, bv_r = _lsh_band_rows(
        right, content_col, id_col, n, n_hashes, bands, seed, min_partitions
    )
    a, b = bv_l.alias("a"), bv_r.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("a.id").alias("id_left"), F.col("b.id").alias("id_right")
        )
        .distinct()
    )
    verified = (
        cand.join(
            hs_l.select(F.col("id").alias("id_left"), F.col("hs").alias("hs_a")),
            "id_left",
        )
        .join(
            hs_r.select(
                F.col("id").alias("id_right"), F.col("hs").alias("hs_b")
            ),
            "id_right",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("hs_a", "hs_b")),
                    F.size(F.array_union("hs_a", "hs_b")),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_left", "id_right", "jaccard")


def minhash_write(
    df: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
    min_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus's MinHash band index: (id, band_val) partitioned
    by ``band`` (directory count = ``bands``, bounded by parameters, never
    data), hashed shingle sets under ``_shingles`` (the verify stage's
    input), geometry under ``_meta`` (underscore dirs are invisible to the
    main read — the same self-contained layout as similarity.lsh_write).

    ``mode="append"`` grows the index incrementally — the ingest loop is
    "join the delivery against the index, then append the delivery":
    history is shingled exactly once, ever. Appends verify the stored
    geometry first; a mixed-geometry index would silently lose recall
    (band values from different (n, n_hashes, bands, seed) never match).
    """
    spark = df.sparkSession
    geom = (n, n_hashes, bands, seed)
    if mode == "append":
        stored = minhash_meta(spark, path)
        if stored != geom:
            raise ValueError(
                f"index at {path} has geometry {stored}, append has {geom}"
            )
    hs, bv = _lsh_band_rows(
        df, content_col, id_col, n, n_hashes, bands, seed, min_partitions
    )
    bv.write.mode(mode).partitionBy("band").parquet(path)
    hs.write.mode(mode).parquet(f"{path}/_shingles")
    if mode != "append":
        (
            spark.createDataFrame(
                [geom], "n int, n_hashes int, bands int, seed int"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/_meta")
        )


def minhash_meta(spark, path: str) -> tuple[int, int, int, int]:
    row = spark.read.parquet(f"{path}/_meta").head()
    return (row["n"], row["n_hashes"], row["bands"], row["seed"])


def minhash_join_persisted(
    left: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_partitions: int | None = None,
) -> DataFrame:
    """``minhash_lsh_join`` against a PERSISTED right side: the delivery's
    bands join the index's band rows (int-pair shuffle keys; the index
    side arrives pre-banded from disk — no re-shingling of history), and
    the verify stage reads the stored hashed shingle sets. Geometry comes
    from ``_meta``, so a probe cannot silently disagree with the build.
    Output schema = minhash_lsh_join: (id_left, id_right, jaccard)."""
    spark = left.sparkSession
    n, n_hashes, bands, seed = minhash_meta(spark, path)
    hs_l, bv_l = _lsh_band_rows(
        left, content_col, id_col, n, n_hashes, bands, seed, min_partitions
    )
    bv_r = spark.read.parquet(path)
    hs_r = spark.read.parquet(f"{path}/_shingles")
    a, b = bv_l.alias("a"), bv_r.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("a.id").alias("id_left"), F.col("b.id").alias("id_right")
        )
        .distinct()
    )
    verified = (
        cand.join(
            hs_l.select(F.col("id").alias("id_left"), F.col("hs").alias("hs_a")),
            "id_left",
        )
        .join(
            hs_r.select(
                F.col("id").alias("id_right"), F.col("hs").alias("hs_b")
            ),
            "id_right",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("hs_a", "hs_b")),
                    F.size(F.array_union("hs_a", "hs_b")),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_left", "id_right", "jaccard")
