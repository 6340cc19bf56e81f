"""Hash-vocab tokenization: text → the ``array<int>`` token-id sequences a
trainer actually consumes.

Two tiers over the SAME pre-tokenizer (textstats.BPE_ISH_PATTERN, the one
token_count_bpe budgets with, so counts and ids agree by construction):

- HASH tier (``tokenize_ids``): map each pre-token to a fixed id range via
  md5 bucketing — deterministic, vocab-free, zero shuffle; the stand-in
  for pipelines that only need id-shaped sequences (the same decision as
  the multimodal decoders: real plumbing, stubbed model).
- TRAINED-VOCAB tier (``fit_vocab`` + ``tokenize_ids_vocab``): fit a
  top-V vocabulary from the corpus (one token-keyed aggregation with
  map-side combine + a bounded top-V, the lmscore.unigram_vocab shape),
  then map tokens through a BROADCAST vocab join with UNK fallback —
  real, decodable token ids. The join tier costs one posexplode + one
  doc-keyed shuffle to reassemble sequences; the vocabulary is a model
  parameter (bounded by V), so the join side always broadcasts.

Every downstream shape — special tokens, truncation, padding, packing — is
shared between the tiers (``_finalize_ids``).

Id space: 0..N_SPECIAL-1 reserved (PAD=0, BOS=1, EOS=2, UNK=3 — UNK unused
by the hash map, reserved for the vocab-table variant), content ids in
[N_SPECIAL, vocab_size).

100 TB design: pure per-row array expressions (regexp_extract_all +
transform + md5 arithmetic) — whole-stage codegen, zero shuffle, no
Python; md5 nibble hashing keeps the DuckDB twin exact like every other
sampling/bucketing operator in the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdfproject_msc_spark.operators.sampling import hash_bucket
from rdfproject_msc_spark.operators.textstats import BPE_ISH_PATTERN

PAD_ID, BOS_ID, EOS_ID, UNK_ID = 0, 1, 2, 3
N_SPECIAL = 4


def token_ids(col: Column, vocab_size: int = 32_768) -> Column:
    """array<int> of hash-vocab ids for a text column (no specials)."""
    if vocab_size <= N_SPECIAL:
        raise ValueError(f"vocab_size must exceed {N_SPECIAL}, got {vocab_size}")
    toks = F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)
    return F.transform(
        toks,
        lambda t: (
            hash_bucket(t, n_buckets=vocab_size - N_SPECIAL)
            + F.lit(N_SPECIAL)
        ).cast("int"),
    )


def _finalize_ids(
    ids: Column,
    max_len: int | None,
    add_special: bool,
    pad_to_max: bool,
) -> tuple[Column, Column]:
    """Shared specials/truncation/padding contract: content truncates to
    max_len − 2 when specials are added (the trainer convention), BOS…EOS
    wrap, n counts real (non-PAD) tokens, PAD right-fills to max_len."""
    if max_len is not None:
        budget = max_len - (2 if add_special else 0)
        if budget < 0:
            raise ValueError(f"max_len={max_len} cannot fit special tokens")
        ids = F.slice(ids, 1, budget)
    if add_special:
        ids = F.concat(
            F.array(F.lit(BOS_ID).cast("int")),
            ids,
            F.array(F.lit(EOS_ID).cast("int")),
        )
    n = F.size(ids)
    if pad_to_max:
        if max_len is None:
            raise ValueError("pad_to_max requires max_len")
        ids = F.concat(
            ids,
            F.array_repeat(
                F.lit(PAD_ID).cast("int"), F.lit(max_len) - n
            ),
        )
    return ids, n


def tokenize_ids(
    df: DataFrame,
    vocab_size: int = 32_768,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_len: int | None = None,
    add_special: bool = True,
    pad_to_max: bool = False,
) -> DataFrame:
    """(id_col, input_ids, n_tokens) — the training-sequence projection.

    ``add_special`` wraps BOS … EOS (counted in ``max_len``'s budget:
    content truncates to max_len − 2 first, the trainer convention).
    ``pad_to_max`` right-pads with PAD to exactly max_len — fixed-shape
    batches for frameworks that want them.
    NULL text tokenizes like empty text (BOS EOS only / empty array)."""
    c = F.coalesce(F.col(content_col), F.lit(""))
    ids, n = _finalize_ids(
        token_ids(c, vocab_size), max_len, add_special, pad_to_max
    )
    return df.select(
        F.col(id_col),
        ids.alias("input_ids"),
        n.cast("long").alias("n_tokens"),
    )


def fit_vocab(
    docs: DataFrame,
    vocab_size: int = 32_768,
    content_col: str = "text",
) -> DataFrame:
    """Fit a trained vocabulary from the corpus: the top
    ``vocab_size − N_SPECIAL`` pre-tokens by (count DESC, token ASC) —
    the deterministic cut, same as lmscore.unigram_vocab — with dense ids
    assigned in that order starting at N_SPECIAL. Returns ``(token,
    n, token_id)``.

    100 TB shape: ONE token-keyed aggregation (map-side combine collapses
    each partition to its distinct tokens) + a bounded top-V; the
    row_number window runs over the already-LIMITed, model-sized relation
    (V rows — never the corpus), so the single-partition window is
    bounded by a model parameter, not by data."""
    from pyspark.sql import Window

    if vocab_size <= N_SPECIAL:
        raise ValueError(f"vocab_size must exceed {N_SPECIAL}, got {vocab_size}")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(content_col), F.lit("")),
                F.lit(BPE_ISH_PATTERN),
                0,
            )
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(
        vocab_size - N_SPECIAL
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        "token",
        "n",
        (F.row_number().over(w) + F.lit(N_SPECIAL - 1)).cast("int").alias(
            "token_id"
        ),
    )


def tokenize_ids_vocab(
    df: DataFrame,
    vocab: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_len: int | None = None,
    add_special: bool = True,
    pad_to_max: bool = False,
) -> DataFrame:
    """(id_col, input_ids, n_tokens) via a TRAINED vocabulary (the
    documented hash-tier swap, now real): each pre-token maps through a
    broadcast join against ``vocab`` (``fit_vocab`` output or any
    ``(token, token_id)`` table); tokens outside the vocabulary map to
    UNK_ID. Same pre-tokenizer and same specials/truncation/padding
    contract as ``tokenize_ids``, so the two tiers agree on sequence
    LENGTHS everywhere and on ids wherever the vocabulary covers the doc.

    Plan shape: posexplode (position-preserving) → broadcast hash join
    (vocab is model-sized) → ONE doc-keyed shuffle reassembling the
    sequence via array_sort over (pos, id) structs. NULL/empty text
    yields the empty sequence (posexplode_outer keeps the doc row)."""
    toks = F.regexp_extract_all(
        F.coalesce(F.col(content_col), F.lit("")),
        F.lit(BPE_ISH_PATTERN),
        0,
    )
    exploded = df.select(
        F.col(id_col), F.posexplode_outer(toks).alias("__pos", "__tok")
    )
    v = F.broadcast(
        vocab.select(
            F.col("token").alias("__tok"),
            F.col("token_id").cast("int").alias("__vid"),
        )
    )
    joined = exploded.join(v, "__tok", "left")
    pairs = F.array_sort(
        F.collect_list(
            # empty/NULL docs surface as a single null-pos row: skip it
            # (collect_list drops NULL entries) so they yield [] not [UNK]
            F.when(
                F.col("__pos").isNotNull(),
                F.struct(
                    F.col("__pos").alias("pos"),
                    F.coalesce(F.col("__vid"), F.lit(UNK_ID))
                    .cast("int")
                    .alias("id"),
                ),
            )
        )
    )
    seqs = joined.groupBy(id_col).agg(
        F.transform(pairs, lambda p: p["id"]).alias("__raw")
    )
    ids, n = _finalize_ids(F.col("__raw"), max_len, add_special, pad_to_max)
    return seqs.select(
        F.col(id_col),
        ids.alias("input_ids"),
        n.cast("long").alias("n_tokens"),
    )
