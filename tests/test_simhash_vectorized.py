"""Pin the r13 vectorized SimHash signature path: the Arrow UDF's per-bit
majority over packed md5 values must equal the per-bit ±1 sum definition, and
shingle-less documents must stay absent from the signature relation (the old
exploded-aggregate form never emitted rows for them)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfproject_msc_spark.operators import dedup


def _brute_sig(shingles: list[str]) -> tuple[int, int]:
    """Reference SimHash from the definition: bit b = sign of the ±1 sum of
    md5-bit b over the shingle set (bit b of digest = nibble 15-b//4 at
    b%4 — the documented _md5_bits64 mapping)."""
    import hashlib

    lo = hi = 0
    for b in range(64):
        s = 0
        for sh in shingles:
            dg = hashlib.md5(sh.encode()).hexdigest()
            nib = int(dg[15 - b // 4], 16)
            s += ((nib >> (b % 4)) & 1) * 2 - 1
        if s >= 0:
            if b < 32:
                lo |= 1 << b
            else:
                hi |= 1 << (b - 32)
    return lo, hi


def _shingles(text: str, n: int = 3) -> list[str]:
    toks = text.strip().split()
    out = []
    for i in range(max(len(toks) - n, 0) + 1):
        s = " ".join(toks[i : i + n])
        if s and s not in out:
            out.append(s)
    return out


def test_simhash_signatures_match_definition(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "a b"),  # fewer tokens than n: one short shingle
        (4, "   "),  # whitespace-only: zero shingles -> absent
        (5, "x " * 300),  # long repetitive doc, single distinct shingle
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["lo"], r["hi"])
        for r in dedup.simhash_signatures(df).collect()
    }
    want = {
        i: _brute_sig(_shingles(t)) for i, t in rows if _shingles(t)
    }
    assert got == want
    assert 4 not in got  # shingle-less doc emits no signature row


def test_simhash_pairs_bruteforce_equivalence(spark):
    # near-identical docs must pair; distinct ones must not
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " lambda"),
        (3, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, max_hamming=6).collect()
    }
    sigs = {i: _brute_sig(_shingles(t)) for i, t in rows}

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    want = {
        (a, b): ham(sigs[a], sigs[b])
        for a in sigs
        for b in sigs
        if a < b and ham(sigs[a], sigs[b]) <= 6
    }
    assert pairs == want


def test_simhash_signature_plan_has_single_python_eval(spark):
    """The r13 regression guard: a pushable null-filter on the UDF output
    once re-ran the whole interpreted shingle+md5+UDF chain below the
    repartition exchange (18s vs 0.7s at sf0.1). The executed plan must
    contain exactly ONE ArrowEvalPython."""
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        ["doc_id", "text"],
    )
    sigs = dedup.simhash_signatures(df, min_partitions=4)
    sigs.collect()
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]  # AQE echoes the initial plan too
    assert final.count("ArrowEvalPython") == 1, final


def test_simhash_udf_null_packed_row_gives_null_signature(spark):
    """A NULL packed-shingle array (e.g. from a NULL text) is an empty
    document: the UDF returns a NULL signature instead of failing the
    task."""
    df = spark.createDataFrame(
        [(1, [3, 5]), (2, None), (3, [])], "id long, packed array<bigint>"
    )
    sig = dedup._simhash_sig_udf()
    got = {
        r["id"]: r["sig"]
        for r in df.select("id", sig("packed").alias("sig")).collect()
    }
    assert got[2] is None and got[3] is None
    assert got[1] is not None and len(got[1]) == 2
