"""Operator-level tests for the training-data-pipeline extensions."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfproject_msc_spark.operators import dedup, similarity
from rdfproject_msc_spark.sources.tables import load_table


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """Verified LSH output == exact all-pairs Jaccard at the same threshold
    (recall is (1-(1-J^r)^b) ≈ 1 for J ≥ threshold with these params)."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.5, n_hashes=64, bands=32)
    exact = dedup.jaccard_pairs(docs, threshold=0.5)
    got = sorted(map(tuple, lsh.collect()))
    want = sorted(map(tuple, exact.collect()))
    assert got == want
    assert len(got) > 0  # testdata contains planted near-dups


def test_minhash_candidates_far_smaller_than_all_pairs(spark, sf_dir):
    """The LSH candidate set must be a tiny fraction of n² — that IS the
    scale story; if this regresses the operator is an all-pairs join in
    disguise."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    sigs = dedup.minhash_signatures(docs).withColumnRenamed("doc_id", "id")
    bands, r = 32, 2
    band_vals = F.array(
        *[
            F.xxhash64(F.slice(F.col("sig"), b * r + 1, r), F.lit(b))
            for b in range(bands)
        ]
    )
    bv = sigs.select("id", F.posexplode(band_vals).alias("band", "band_val"))
    a, b = bv.alias("a"), bv.alias("b")
    n_cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    assert n_cand < n * n * 0.01, f"{n_cand} candidates vs {n * n} pairs"


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """LSH top-k is approximate; pin its recall vs the exact result so a
    semantics regression (bad banding, wrong planes) is caught."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id
        for r in similarity.cosine_topk_to(emb, query_id=0, k=10).collect()
    }
    approx = {
        r.vec_id
        for r in similarity.lsh_topk_to(
            emb, query_id=0, k=10, dim=64, n_planes=16, bands=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # embeddings are near-random (top cosine ~0.33) — the hardest case for
    # hyperplane LSH; 2-bit bands give P(candidate) ≈ 0.96 per true neighbor.
    assert recall >= 0.8, f"recall {recall}"


def test_ann_lsh_multiprobe_raises_recall(spark, sf_dir):
    """Multiprobe LSH (probe each band's least-confident single-bit-flip
    buckets) recovers recall at SELECTIVE parameters: with 4-bit bands
    (16 buckets each) the exact-bucket probe misses true neighbors that
    one extra probe per band recovers. Pins the multiprobe knob's value:
    recall must improve monotonically and reach the useful range."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id
        for r in similarity.cosine_topk_to(emb, query_id=0, k=10).collect()
    }

    def recall(probes):
        approx = {
            r.vec_id
            for r in similarity.lsh_topk_to(
                emb,
                query_id=0,
                k=10,
                dim=64,
                n_planes=16,
                bands=4,
                probes=probes,
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)
    assert r2 >= 0.8, f"multiprobe recall {r2} (single-probe {r1})"


def test_lsh_candidate_pairs_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_candidate_pairs(emb, dim=64, n_planes=16, bands=4)
    n = pairs.count()
    total = emb.count()
    assert 0 < n < total * (total - 1) / 2


def test_ivf_partitions_all_vectors(spark, sf_dir):
    """Every vector lands in exactly one of the k centroid partitions, and
    no partition is empty-by-construction pathological (k << n)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, k=8, n_iter=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    idx = similarity.ivf_index(emb, cents)
    total = emb.count()
    assert idx.count() == total
    sizes = idx.groupBy("centroid").count().collect()
    assert sum(r["count"] for r in sizes) == total
    assert all(0 <= r["centroid"] < 8 for r in sizes)


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF top-k is approximate (reads nprobe/k of the corpus); pin recall
    vs exact brute force. Near-random embeddings are the hardest case —
    with nprobe covering half the centroids, recall must stay useful."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id
        for r in similarity.cosine_topk_to(emb, query_id=0, k=10).collect()
    }
    approx = {
        r.vec_id
        for r in similarity.ivf_topk_to(
            emb, query_id=0, k=10, dim=64, n_centroids=8, nprobe=4, n_iter=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.kmeans_centroids(emb, dim=64, k=4, n_iter=1)
    b = similarity.kmeans_centroids(emb, dim=64, k=4, n_iter=1)
    assert a == b


def test_exact_dedup_collision_exactness(spark):
    """exact_dedup groups on (hash, len, content): even if two texts collided
    in xxhash64 they would not merge. Simulated by checking distinct texts
    with equal length survive independently."""
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df)
    assert sorted((r.doc_id, r.text) for r in out.collect()) == [
        (1, "aaa"),
        (2, "bbb"),
    ]


def test_shingle_sets_empty_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three four")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.shingles for r in dedup.shingle_sets(df, n=3).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["one two three", "two three four"]
    # and the LSH pipeline tolerates empty docs end-to-end
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.1)
    assert pairs.filter((F.col("id_a") == 1) | (F.col("id_b") == 1)).count() == 0


def test_ngram_shingles_doc_freq_cap(spark):
    df = spark.createDataFrame(
        [(i, "common common common unique%d x y" % i) for i in range(5)],
        "doc_id long, text string",
    )
    uncapped = dedup.ngram_shingles(df, n=3)
    capped = dedup.ngram_shingles(df, n=3, max_doc_freq=2)
    hot = "common common common"
    assert uncapped.filter(F.col("shingle") == hot).count() == 5
    assert capped.filter(F.col("shingle") == hot).count() == 0
    # unique shingles survive the cap
    assert capped.filter(F.col("shingle").startswith("common unique")).count() == 5


def test_ivf_persisted_prunes_directories(spark, sf_dir, tmp_path):
    """The persisted IVF layout must answer probes via PartitionFilters
    (directory pruning) and agree with the in-memory IVF path on the same
    centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, k=8, n_iter=2)
    path = str(tmp_path / "ivf")
    similarity.ivf_write(emb, cents, path)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = similarity.ivf_topk_persisted(
        spark, path, qvec, k=10, centroids=cents, nprobe=4, exclude_id=0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan

    in_memory = similarity.ivf_topk_to(
        emb, query_id=0, k=10, dim=64, n_centroids=8, nprobe=4, n_iter=2
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, in_memory.collect())
    )


def test_ivf_persisted_layout_is_self_contained(spark, sf_dir, tmp_path):
    """centroids=None must load the quantizer persisted beside the layout
    and return the same answer as passing the centroids explicitly — and
    the _centroids sidecar must stay invisible to the data scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, k=8, n_iter=2)
    path = str(tmp_path / "ivf")
    similarity.ivf_write(emb, cents, path)

    assert similarity.ivf_load_centroids(spark, path) == [
        [float(x) for x in c] for c in cents
    ]
    data_cols = spark.read.parquet(path).columns
    assert "centroid" in data_cols and "vector" not in data_cols

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    explicit = similarity.ivf_topk_persisted(
        spark, path, qvec, k=10, centroids=cents, nprobe=4, exclude_id=0
    )
    from_sidecar = similarity.ivf_topk_persisted(
        spark, path, qvec, k=10, nprobe=4, exclude_id=0
    )
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, from_sidecar.collect())
    )


def test_language_id_ngram_discriminates(spark):
    from rdfproject_msc_spark.operators import textstats

    rows = [
        (1, "the cat is on the mat and the dog is in the house"),
        (2, "el perro que corre es de la casa y la niña"),
        (3, "le chien est un animal et les chats sont petits"),
        (4, "der hund und die katze sind schön ich möchte"),
        (5, "我在这里的时候他是我的朋友"),
        (6, ""),  # zero hits → 'und'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.lang_pred_ngram
        for r in textstats.language_id_ngram(df).collect()
    }
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "zh", 6: "und"}


def test_language_id_ngram_tiebreak_alphabetical(spark):
    from rdfproject_msc_spark.operators import textstats

    # "est" is in both the es ("es"? no — fr) profile; craft a text hitting
    # exactly one gram from two languages: " et " hits fr's " et"; " el "
    # hits es's " el" → 1-1 tie → alphabetically-first code wins (es)
    df = spark.createDataFrame([(1, "el et")], "doc_id long, text string")
    out = textstats.language_id_ngram(df).collect()[0]
    assert out.lang_pred_ngram == "es"


def test_ivf_quantized_probe_prunes_float_column(spark, sf_dir, tmp_path):
    """The quantized probe's candidate scan must read ONLY the int8 qvec
    column (Parquet column pruning — the 4× IO claim), with the float
    column touched just by the re-rank scan; and its top-k must match the
    float probe at ≥0.9 recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, k=8, n_iter=2)
    path = str(tmp_path / "ivfq")
    similarity.ivf_write(emb, cents, path)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    quant = similarity.ivf_topk_persisted_quantized(
        spark, path, qvec, k=10, nprobe=4, exclude_id=0
    )
    exact = similarity.ivf_topk_persisted(
        spark, path, qvec, k=10, nprobe=4, exclude_id=0
    )
    got = {r.vec_id for r in quant.collect()}
    want = {r.vec_id for r in exact.collect()}
    assert len(got & want) / 10 >= 0.9

    plan = quant._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("qvec" in ln and "embedding" not in ln.split("ReadSchema")[-1] for ln in scans), scans


def test_lsh_persisted_probe_matches_in_memory(spark, sf_dir, tmp_path):
    """The bucket-partitioned signature layout must return exactly the
    in-memory lsh_topk_to result (same candidates, same scoring), and the
    index scan must carry PartitionFilters on (band, band_val) — the
    candidate lists are read, never the full signature index."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    similarity.lsh_write(emb, path, dim=64, n_planes=16, bands=8)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    persisted = similarity.lsh_topk_persisted(
        spark, path, qvec, k=10, exclude_id=0
    )
    in_memory = similarity.lsh_topk_to(
        emb, query_id=0, k=10, dim=64, n_planes=16, bands=8
    )
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, in_memory.collect())
    )

    # multiprobe parity: the persisted probe set and the in-memory one are
    # the same driver-side computation, so results stay identical at any
    # probe count
    p3 = similarity.lsh_topk_persisted(
        spark, path, qvec, k=10, exclude_id=0, probes=2
    )
    m3 = similarity.lsh_topk_to(
        emb, query_id=0, k=10, dim=64, n_planes=16, bands=8, probes=2
    )
    assert sorted(map(tuple, p3.collect())) == sorted(map(tuple, m3.collect()))

    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "band" in ln
    ]
    assert any("PartitionFilters: [" in ln and "band" in ln.split("PartitionFilters")[-1] for ln in scan_lines), scan_lines


def test_mixture_sample_matches_duckdb_oracle(spark, sf_dir):
    """Training-mixture sampling (per-source rates, upsampling by
    duplication) vs an exact DuckDB twin of the md5 digits-13-18 bucket
    arithmetic: multiplicity = floor(rate) + (bucket < frac·1000)."""
    from rdfproject_msc_spark.operators import sampling
    from tests.oracle import assert_matches_oracle

    docs = load_table(spark, sf_dir, "documents")
    rates = {"src0": 2.5, "src1": 0.0, "src2": 0.3}
    out = sampling.mixture_sample(
        docs, rates, source_col="source", id_col="doc_id", default_rate=1.0
    ).select("doc_id", "source", "copy")

    hex6 = " + ".join(
        f"(strpos('0123456789abcdef', "
        f"substr(md5(CAST(doc_id AS VARCHAR)), {13 + i}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    sql = f"""
    WITH r AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.0
                    WHEN 'src2' THEN 0.3 ELSE 1.0 END AS rate,
               CAST(({hex6}) % 1000 AS BIGINT) AS b
        FROM documents
    ), m AS (
        SELECT doc_id, source,
               CAST(floor(rate) +
                    (CASE WHEN b < round((rate - floor(rate)) * 1000)
                          THEN 1 ELSE 0 END) AS INT) AS n
        FROM r
    )
    SELECT doc_id, source, CAST(u.c AS INT) AS copy
    FROM m, unnest(range(m.n)) AS u(c)
    WHERE n > 0
    """
    assert_matches_oracle(out, sql, sf_dir)

    # expected-multiplicity sanity: src1 vanishes, src0 rows appear 2 or
    # 3 times each, unlisted sources exactly once
    got = out.groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in got}
    assert "src1" not in by_src
    assert 2 * 25 <= by_src["src0"] <= 3 * 25
    assert by_src["src3"] == 25


def test_chunk_documents_matches_duckdb_oracle(spark, sf_dir):
    """Overlapping token-window chunking vs an exact DuckDB twin
    (string_split_regex + generate_series + list slicing)."""
    from rdfproject_msc_spark.operators.chunking import chunk_documents
    from tests.oracle import assert_matches_oracle

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, max_tokens=32, overlap=8)
    sql = """
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
        FROM documents
    ), c AS (
        SELECT doc_id, toks, n,
               1 + CAST(floor((greatest(n - 32, 0) + 23) / 24) AS INT) AS nc
        FROM t WHERE n > 0
    )
    SELECT doc_id,
           CAST(u.i AS INT) AS chunk_id,
           array_to_string(toks[(u.i * 24 + 1):(u.i * 24 + 32)], ' ') AS chunk,
           CAST(len(toks[(u.i * 24 + 1):(u.i * 24 + 32)]) AS BIGINT) AS n_tokens
    FROM c, unnest(range(c.nc)) AS u(i)
    """
    assert_matches_oracle(out, sql, sf_dir)


def test_chunk_documents_edges(spark):
    from rdfproject_msc_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "   "), (4, "x")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=4, overlap=2).collect()
    rows = sorted((r.doc_id, r.chunk_id, r.chunk, r.n_tokens) for r in out)
    # doc 1: 7 tokens, stride 2 → windows [0:4),[2:6),[4:7) → 1+ceil(3/2)=3
    assert rows == [
        (1, 0, "a b c d", 4),
        (1, 1, "c d e f", 4),
        (1, 2, "e f g", 3),
        (4, 0, "x", 1),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_temperature_rates_properties(spark, sf_dir):
    """Temperature mixing (r8): T=1 is the identity reweighting, large T
    flattens toward uniform, expected output size hits the target, and
    the rates compose with mixture_sample."""
    import pytest

    from rdfproject_msc_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    n_total = sum(counts.values())

    # T=1: natural proportions → every rate is exactly 1 (pure identity)
    r1 = sampling.temperature_rates(docs, 1.0)
    assert set(r1) == set(counts)
    for s in counts:
        assert r1[s] == pytest.approx(1.0)

    # expected output size == target for any T
    for t, target in ((0.5, n_total), (3.0, 2 * n_total), (100.0, 500)):
        rates = sampling.temperature_rates(docs, t, total_rows=target)
        expected = sum(rates[s] * counts[s] for s in counts)
        assert expected == pytest.approx(target)

    # large T → per-source expected rows approach uniform
    ru = sampling.temperature_rates(docs, 1000.0)
    per_source = [ru[s] * counts[s] for s in counts]
    assert max(per_source) / min(per_source) < 1.05

    # composes with mixture_sample; realized size near expectation
    rates = sampling.temperature_rates(docs, 2.0)
    out = sampling.mixture_sample(docs, rates)
    realized = out.count()
    assert abs(realized - n_total) < 0.15 * n_total

    # T <= 0 rejected
    with pytest.raises(ValueError):
        sampling.temperature_rates(docs, 0.0)


CROSS_JACCARD_SQL = r"""
WITH toks AS (
    SELECT doc_id, (doc_id % 2 = 0) AS left_side,
           string_split_regex(trim(text), '\s+') AS t
    FROM docs
),
sh AS (
    SELECT DISTINCT doc_id AS id, left_side,
           array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    WHERE array_to_string(t[i:i+2], ' ') <> ''
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS id_left, b.id AS id_right, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.left_side AND NOT b.left_side
    GROUP BY a.id, b.id
)
SELECT id_left, id_right,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_left
JOIN sizes sb ON sb.id = id_right
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.5
ORDER BY id_left, id_right
"""


def test_minhash_lsh_join_matches_exact_cross_jaccard(spark, sf_dir):
    """Cross-corpus LSH join (r8): left = even ids, right = odd ids; the
    verified banded join equals exact cross-corpus Jaccard at the same
    threshold (same miss-probability argument as dedup_minhash: the
    planted near-dups sit at J >= 0.88, miss <= 4e-11)."""
    import duckdb

    docs = load_table(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    got = sorted(
        map(
            tuple,
            dedup.minhash_lsh_join(
                left,
                right,
                n=3,
                threshold=0.5,
                min_partitions=spark.sparkContext.defaultParallelism,
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW docs AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(CROSS_JACCARD_SQL).fetchall()]
    assert got == want
    assert len(got) > 0  # the planted near-dups straddle the parity split


def test_minhash_lsh_join_disjoint_namespaces(spark):
    """Ids on the two sides are independent namespaces: the same id value
    on both sides must still pair (no a.id < b.id ordering leaks in from
    the within-corpus variant)."""
    left = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "totally different words in this one here now")],
        "doc_id long, text string",
    )
    got = dedup.minhash_lsh_join(left, right, n=3, threshold=0.5).collect()
    assert [(r["id_left"], r["id_right"]) for r in got] == [(1, 1)]
    assert got[0]["jaccard"] == 1.0


def test_minhash_persisted_index_equals_in_memory(spark, sf_dir, tmp_path):
    """Persisted band index (r8): probe against the written index is
    bit-identical to the in-memory cross-corpus join; append grows the
    index incrementally (history shingled once, ever); geometry drift
    rejected."""
    import pytest

    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 3 == 0)  # held corpus
    b = docs.filter(F.col("doc_id") % 3 == 1)  # first delivery
    c = docs.filter(F.col("doc_id") % 3 == 2)  # second delivery
    mp = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "mh_index")

    dedup.minhash_write(a, path, min_partitions=mp)
    got = sorted(
        map(
            tuple,
            dedup.minhash_join_persisted(
                b, path, threshold=0.5, min_partitions=mp
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            dedup.minhash_lsh_join(
                b, a, threshold=0.5, min_partitions=mp
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # append the delivery; probing the next one sees a UNION b
    dedup.minhash_write(b, path, min_partitions=mp, mode="append")
    got2 = sorted(
        map(
            tuple,
            dedup.minhash_join_persisted(
                c, path, threshold=0.5, min_partitions=mp
            ).collect(),
        )
    )
    want2 = sorted(
        map(
            tuple,
            dedup.minhash_lsh_join(
                c, a.unionByName(b), threshold=0.5, min_partitions=mp
            ).collect(),
        )
    )
    assert got2 == want2 and len(got2) > 0

    # geometry mismatch on append is an error, not silent recall loss
    with pytest.raises(ValueError, match="geometry"):
        dedup.minhash_write(c, path, bands=16, mode="append")
