"""Deduplication operators for training-data pipelines.

- exact_dedup: hash-groupBy on normalized text (md5). One shuffle on the
  digest; the canonical survivor is min(doc_id) — deterministic.
- jaccard_pairs: exact word-set Jaccard via explode + equi-join on token.
  Classic candidate-pair generation: |A∩B| from the token join, |A∪B| =
  |A|+|B|-|A∩B|. Shuffles on the token key; frequent tokens are the skew
  risk, so tokens above a document-frequency cap are dropped (standard
  trick — a token in >X% of docs has no discriminative power anyway).
- minhash_lsh_pairs: MinHash signatures (K permutations via affine hashes of
  the 64-bit xxhash of each shingle) -> LSH banding -> candidates join only
  within buckets -> exact Jaccard verify. The scale path: candidate count
  grows with collisions, not with N^2.
- simhash: 64-bit SimHash fingerprint from per-token hashes; near-dup =
  Hamming distance <= k (exposed as fingerprint + band keys).

Text and token-id rows differ only in how a row becomes an element-hash
array in [0, 2^31-1): ``word_hashes`` (xxhash64 per word) or
``token_hashes`` (a fixed affine map per token id). Everything after it is
written once for both: the n-gram combine, MinHash/LSH with its verify
tail, and the exact-substring span removal pass (``_span_removal_pass``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extractor_spark.functions.text import words
from feature_extractor_spark.session import local_frame


def _norm_text(text_col: str):
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts; keep min(id) as canonical.
    Returns (digest, canonical_id, n_dups)."""
    return (
        df.select(F.md5(_norm_text(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, distinct tokens per doc (set semantics)."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.transform(words(F.col(text_col)), F.lower))).alias(
                "token"
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_df_ratio: float | None = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard similarity for all pairs sharing >=1 token.

    ``max_df_ratio`` drops tokens present in more than that share of docs
    (skew guard + noise filter) BEFORE the self-join. ON BY DEFAULT (0.5):
    a token in >half the corpus makes the token equi-join quadratic in the
    worst partition — the one shape that cannot survive 100x scale. Pass
    None explicitly to disable (exact textbook Jaccard over all tokens).
    Set sizes are computed AFTER the filter, so jaccard stays a true
    Jaccard over the filtered token sets.
    Returns (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.
    """
    toks = _doc_tokens(df, id_col, text_col)
    if max_df_ratio is not None:
        # corpus size folded into the plan (1-row aggregate cross-joined into
        # the frequency filter) — no separate df.count() driver action per call
        ndocs = df.agg(F.count(F.lit(1)).alias("__n"))
        dfreq = toks.groupBy("token").agg(F.countDistinct(id_col).alias("df"))
        keep = (
            dfreq.crossJoin(F.broadcast(ndocs))
            .filter(F.col("df") <= max_df_ratio * F.col("__n"))
            .select("token")
        )
        toks = toks.join(F.broadcast(keep), "token")
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    a = toks.select(F.col(id_col).alias("id_a"), "token")
    b = toks.select(F.col(id_col).alias("id_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH

# 2^31-1: keeps a*h + b < 2^62, safe under ANSI long arithmetic
_M31 = (1 << 31) - 1


def _minhash_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _M31), rnd.randrange(0, _M31)) for _ in range(k)]


def _minhash_signature(hash_col, k: int, seed: int = 7):
    """K affine-permutation minhashes over a pre-hashed shingle ARRAY.
    transform + array_min built-ins — correct, but Catalyst interprets HOF
    lambdas (no codegen): K*|shingles| interpreted evals per document.
    minhash_lsh_pairs uses the explode+groupBy twin below instead, which
    runs the same K affine mins as compiled aggregate expressions; this
    array form is kept for composition into array-level pipelines and as
    the parity reference in tests."""
    params = _minhash_params(k, seed)

    def perm(a, b):
        # single-arg lambda required: PySpark derives HOF arity from the
        # Python signature, so default-arg capture would break it
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_M31))

    return F.array(
        *[F.array_min(F.transform(hash_col, perm(a, b))) for a, b in params]
    )


def _minhash_signatures_agg(
    docs: DataFrame,
    id_col: str,
    hash_arr_col: str,
    k: int,
    seed: int = 7,
    carry: "list[str] | None" = None,
) -> DataFrame:
    """Same K minhashes as ``_minhash_signature`` (bit-identical, tested;
    a doc with no hashes has no row here, where the array form gives K
    NULLs), computed as explode -> groupBy(id) -> K min() aggregates. Each affine
    permutation is a compiled (whole-stage-codegen) expression instead of an
    interpreted HOF lambda — measured ~10x on long documents — and the
    groupBy's map-side partial aggregation reduces the exploded rows to one
    K-wide row per (doc, partition) before the shuffle, so the shuffle
    volume is O(docs * K), independent of shingle count.

    ``carry``: per-doc CONSTANT columns to thread through the aggregation
    (as ``min()`` — compiled, no Expand, one extra buffer each). Used by
    the LSH tail to ride the distinct-gram set size along instead of
    re-joining it later (r10)."""
    params = _minhash_params(k, seed)
    carry = list(carry or [])
    ex = docs.select(
        F.col(id_col), *[F.col(c) for c in carry], F.explode(hash_arr_col).alias("__sh")
    )
    aggs = [
        F.min(F.pmod(F.col("__sh") * F.lit(a) + F.lit(b), F.lit(_M31))).alias(
            f"__m{i}"
        )
        for i, (a, b) in enumerate(params)
    ] + [F.min(c).alias(c) for c in carry]
    return ex.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[f"__m{i}" for i in range(k)]).alias("sig"),
        *[F.col(c) for c in carry],
    )


def with_shingles(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "sh"
) -> DataFrame:
    """Word n-gram shingles as strings.

    The words array is materialized as a real column FIRST: referencing the
    tokenization subtree inside the per-index lambda would re-evaluate
    split/lower once per shingle (quadratic in document length — measured
    ~10x slowdown). element_at is O(1) per word vs slice's O(n)."""
    ws = F.transform(words(F.col(text_col)), F.lower)
    df = df.withColumn("__ws", ws)
    count = F.size(F.col("__ws")) - (n - 1)
    sh = F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("__ws"), i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn(out_col, sh).drop("__ws")


def word_hashes(words_col):
    """Per-word 64-bit hash folded into [0, 2^31-1)."""
    return F.transform(words_col, lambda w: F.pmod(F.xxhash64(w), F.lit(_M31)))


def token_hashes(tokens_col):
    """Per-token hash in [0, 2^31-1) for token-id arrays: a fixed affine
    map (Knuth multiplicative constant), no string hashing at all. A token
    id < 2^31 keeps the product < 2^63 (ANSI overflow throws)."""
    return F.transform(
        tokens_col,
        lambda tok: F.pmod(
            tok.cast("long") * F.lit(2654435761) + F.lit(40503), F.lit(_M31)
        ),
    )


_COMBINE_MULTS = {
    0: [536870909, 402653171, 268435399, 134217689, 67108859],
    # independent second family (variant=1): pairing two 31-bit combines
    # gives an effective ~62-bit gram key for consumers that act on hash
    # equality WITHOUT a verify stage (span removal) — a single 31-bit
    # space false-marks at ~1-in-250-docs even on the sf0.01 testdata
    1: [715827883, 479001599, 999999937, 998244353, 805306457],
}


def combine_word_hashes(wh_col, n: int = 3, variant: int = 0):
    """n-gram shingle hashes from a column of PRE-HASHED words: combine the
    n word hashes of each shingle with odd multipliers (wrapping long
    arithmetic), folded into [0, 2^31-1). ``variant`` selects an
    independent multiplier family (see _COMBINE_MULTS).

    ``wh_col`` MUST be a reference to a materialized column (F.col), never
    the word-hash subtree inline: every ``element_at`` below re-evaluates
    its array child, so an inline subtree re-tokenizes + re-hashes the whole
    document once per element_at — 3 * |shingles| full-document scans
    (measured: the entire minhash build went 16.4s -> 0.7s at sf0.1 when
    the word-hash array became a real column). The multi-reference itself
    is what stops Catalyst's CollapseProject from inlining the alias back.
    """
    # ANSI mode: long overflow THROWS, so keep everything under 2^63 —
    # word hashes folded to [0, 2^31), odd multipliers < 2^30 (each product
    # < 2^61), and each product reduced mod 2^31-1 BEFORE the sum (so the
    # sum stays < n * 2^31 for any shingle width)
    mults = list(_COMBINE_MULTS[variant])
    while len(mults) < n:
        mults.append(mults[len(mults) % 5] ^ (len(mults) * 2654435761 % (1 << 29)))
    count = F.size(wh_col) - (n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.pmod(
                sum(
                    F.pmod(F.element_at(wh_col, i + j) * F.lit(mults[j]), F.lit(_M31))
                    for j in range(n)
                ),
                F.lit(_M31),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def _hashed_shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> tuple[DataFrame, DataFrame]:
    """(persisted word-hash table, ``(id, __h, __sz)`` gram frame derived
    from it; ``__sz`` is the distinct-gram set size).

    The persist sits at the WORD-HASH level, and that placement is load-
    bearing twice over: (a) it is the only reliable projection-collapse
    barrier — an aliased __wh column in the same plan gets inlined by
    CollapseProject into every element_at of the shingle combine, which
    re-tokenizes + re-hashes the whole document once per shingle element
    (measured: 14.7s -> ~1s for the sf0.1 build; visible as 6 copies of
    xxhash64 in the optimized plan — tests/test_plan_quality.py pins the
    count at exactly 1); (b) the cache feeds every consumer of the gram
    frame (signatures and both verify sides; in the streaming ingest its
    one checkpoint) — the per-consumer recompute from the cached array
    (the O(shingles) combine) is the cheap part.
    The repartition ahead of it spreads a small single-split input (and,
    at scale, skewed file sizes) across the cluster before the hash work.
    Caller owns unpersisting the returned wh_tbl."""
    ws = F.transform(words(F.col(text_col)), F.lower)
    return _grams_from_word_hashes(df, id_col, text_col, word_hashes(ws), shingle_n)


def _grams_from_word_hashes(
    df: DataFrame, id_col: str, src_col: str, wh, gram_n: int
) -> tuple[DataFrame, DataFrame]:
    """Shared front of the text and token-array paths: ``wh`` (per-element
    hashes of ``src_col``) persisted as ``__wh`` after a repartition, then
    the n-gram combine over the cached arrays (docs without a gram dropped)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    wh_tbl = (
        df.select(id_col, src_col)
        .repartition(par)
        .select(F.col(id_col), wh.alias("__wh"))
        .persist()
    )
    grams = (
        wh_tbl.select(
            F.col(id_col), combine_word_hashes(F.col("__wh"), gram_n).alias("__h")
        )
        .filter(F.size("__h") > 0)
        .withColumn("__sz", F.size(F.array_distinct("__h")))
    )
    return wh_tbl, grams


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash/LSH near-dup candidate pairs with exact-Jaccard verification
    on the (hashed) shingle sets of the candidates only.

    rows = bands implies num_hashes % bands == 0; candidate pairs share at
    least one identical band. Only candidates are verified — the N^2 term
    never materializes. Shingles exist only as 64-bit hashes end-to-end:
    jaccard is computed over hashed-shingle SETS, which equals
    string-shingle jaccard up to hash collisions (~2^-31 per pair; parity
    vs string-shingle jaccard is tested).

    The verified pairs are materialized and the shingle caches released
    before returning (localCheckpoint, freed on GC)."""
    wh_tbl, docs = _hashed_shingle_table(df, id_col, text_col, shingle_n)
    return _lsh_pairs_from_grams(wh_tbl, docs, id_col, num_hashes, bands, threshold)


def minhash_lsh_pairs_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 32,
    bands: int = 8,
    gram_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash/LSH near-dup pairs over PRE-TOKENIZED sequences — the
    input_hint payload (doc_id, tokens:array<int>): real LLM dedup runs on
    token n-grams, not reconstructed text. Token ids map to [0, 2^31-1)
    via ``token_hashes`` (no string hashing at all), n-grams combine
    exactly like the text path's hashed shingles, and the banding /
    candidate-only exact-Jaccard verification is the shared scale plan.
    Jaccard is over hashed token-n-gram SETS."""
    wh_tbl, docs = _grams_from_word_hashes(
        df, id_col, tokens_col, token_hashes(F.col(tokens_col)), gram_n
    )
    return _lsh_pairs_from_grams(wh_tbl, docs, id_col, num_hashes, bands, threshold)


def signature_bands(
    docs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: "list[str] | None" = None,
) -> DataFrame:
    """(id, band, bucket) LSH band-bucket rows from a hashed-gram frame
    (``__h`` column). Ids only — carrying the gram arrays through the
    exploded band join would amplify them x bands through the shuffle.
    Shared by the pairwise dedup tail and the incremental-ingest index
    (streaming/incremental_dedup.py): both sides of any candidate lookup
    MUST use this exact bucketing or candidates silently vanish.
    ``carry``: extra per-doc scalar columns threaded through unchanged
    (bucketing itself is byte-identical with or without them)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    carry = list(carry or [])
    sig = _minhash_signatures_agg(docs, id_col, "__h", num_hashes, carry=carry)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", i * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    return sig.select(
        id_col, *carry, F.explode(band_structs).alias("bb")
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        *carry,
    )


def _lsh_pairs_from_grams(
    wh_tbl: DataFrame,
    docs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """The pairwise front ends' driver: band the ``(id, __h, __sz)`` gram
    frame, run the shared candidate/verify tail, materialize the verified
    pairs and release both caches (``wh_tbl`` is the upstream one).
    ``docs`` is persisted (r8): the signature aggregates and BOTH verify
    sides read it, and without a cache each re-runs the n-gram combine
    (measured -15% on the stage at 30k seqs)."""
    docs = docs.persist()
    banded = signature_bands(docs, id_col, num_hashes, bands, carry=["__sz"])
    # checkpoint while the caches are alive, then release them: a persist
    # that outlives its operator pins storage memory for the whole app,
    # localCheckpoint blocks are freed when the returned frame is dropped
    out = _verified_pairs(docs, banded, id_col, threshold).localCheckpoint(eager=True)
    wh_tbl.unpersist()
    docs.unpersist()
    return out


def _verified_pairs(
    grams: DataFrame, banded: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """The one candidate/verify tail (lazy): (id_a, id_b, jaccard) with
    id_a < id_b for every pair sharing a band bucket whose exact Jaccard
    over the distinct-gram sets reaches ``threshold``. ``grams`` is the
    ``(id, __h, __sz)`` frame, ``banded`` its ``signature_bands`` rows
    carrying ``__sz``. Used by minhash_lsh_pairs(_tokens) and by the
    streaming ingest's within-batch step.

    r10 size-ratio prefilter (guide §2.3/§3.2 — decide with small rows,
    move the heavy arrays only for survivors): jaccard <= min/max of the
    two DISTINCT-gram set sizes, so any candidate with
    least(sz)/greatest(sz) < threshold can never verify — measured 11.6M
    distinct candidates -> 0.42M verified at the tokens path's
    threshold 0.9, so most gram-array joins + intersections were
    provably wasted. The set size rides the signature aggregation + band
    explode as one extra int (``carry``) — NO size join exists at any
    scale — and the filter runs directly on the band join output, BEFORE
    the dropDuplicates exchange, so the dedup shuffles only survivors.
    EXACT-preserving: double rounding is monotone, so fl(min/max) >=
    fl(inter/union) whenever the reals order that way — any pair passing
    the final jaccard >= threshold filter passes this one (boundary case
    pinned in tests)."""
    a = banded.select(
        F.col(id_col).alias("id_a"), "band", "bucket",
        F.col("__sz").alias("__sz_a"),
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), "band", "bucket",
        F.col("__sz").alias("__sz_b"),
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__sz_a", "__sz_b").cast("double")
            / F.greatest("__sz_a", "__sz_b")
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b", "__sz_a", "__sz_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = grams.select(F.col(id_col).alias("id_a"), F.col("__h").alias("sh_a"))
    sh_b = grams.select(F.col(id_col).alias("id_b"), F.col("__h").alias("sh_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| over the distinct-gram sets: same
    # integer, same double division as size(array_union(..)) — but no
    # per-pair union array is ever built (it was half the verify CPU)
    union = F.col("__sz_a") + F.col("__sz_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: sum of ±1 per bit over token hashes, sign -> bit.
    Bit b of hash(token) contributes +1 if set else -1; fingerprint bit
    b = 1 iff the sum is positive. All built-in expressions.

    ``hash_fn``:
    - "xxhash64" (default, scale path): 64-bit JVM hash, cheapest.
    - "md5_60": first 15 hex digits of md5 as a 60-bit integer — bitwise
      reproducible in any engine with md5 (the DuckDB oracle computes the
      identical fingerprint), at ~2x the hash cost. Pass bits<=60 with it.
    """
    if hash_fn == "md5_60":
        if bits > 60:
            raise ValueError("md5_60 yields 60 usable bits")
        hasher = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")  # noqa: E731
    elif hash_fn == "xxhash64":
        # single-arg lambda: HOF arity is derived from the Python signature,
        # and xxhash64's *cols signature defeats that derivation
        hasher = lambda t: F.xxhash64(t)  # noqa: E731
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    toks = F.transform(words(F.col(text_col)), F.lower)
    # explode -> groupBy with `bits` compiled sum() aggregates instead of
    # `bits` interpreted F.aggregate HOF lambdas over the token array
    # (Catalyst does not codegen lambda bodies; measured ~4x at sf0.1, and
    # the groupBy's map-side partial aggregation keeps the shuffle at one
    # `bits`-wide row per (doc, partition)). explode_outer + a null guard
    # keeps token-less documents in the output with fingerprint 0 — same
    # contract as the array form (empty aggregate -> all sums 0 -> bits 0).
    # The repartition spreads a small single-split input across the
    # cluster before the hash work (single-task otherwise).
    par = df.sparkSession.sparkContext.defaultParallelism
    ex = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(par)
        .select(F.col(id_col), F.explode_outer(toks).alias("__w"))
        .select(F.col(id_col), hasher(F.col("__w")).alias("__th"))
    )
    h = F.col("__th")
    # ±1 bit sums re-expressed as plain popcounts: s_b = 2*ones_b - n, so
    # bit b = 1 iff s_b > 0 iff 2*ones_b > n — and the per-bit counters
    # are PACKED three-to-a-long in 20-bit lanes (r9: 60 separate sum
    # buffers -> 21, -12% isolated on the fingerprint stage; per-token
    # expression work is unchanged, the win is aggregation-buffer
    # update/merge overhead). Lane safety: each lane counts set bits over
    # a doc's tokens, so it overflows only past 2^20 tokens in ONE doc —
    # guarded loudly below via the count that is computed anyway (chunk
    # such documents upstream; silent lane carry would corrupt NEIGHBOR
    # bits). Nulls (token-less docs via explode_outer) drop out of both
    # sum and count, yielding fingerprint 0 as before.
    LANE = 20
    LANES = 3
    n_acc = (bits + LANES - 1) // LANES
    packed_sums = []
    for k in range(n_acc):
        expr = None
        for j in range(LANES):
            b = k * LANES + j
            if b >= bits:
                break
            term = F.shiftleft(
                F.shiftright(h, b).bitwiseAND(F.lit(1)), j * LANE
            )
            expr = term if expr is None else expr + term
        packed_sums.append(F.sum(expr).alias(f"__a{k}"))
    packed_sums.append(F.count(h).alias("__n"))
    agg = ex.groupBy(id_col).agg(*packed_sums)
    n = F.col("__n")
    fp = None
    for k in range(n_acc):
        acc = F.coalesce(F.col(f"__a{k}"), F.lit(0))
        for j in range(LANES):
            b = k * LANES + j
            if b >= bits:
                break
            ones = F.shiftright(acc, j * LANE).bitwiseAND(F.lit((1 << LANE) - 1))
            bit = (
                F.when(ones * 2 > n, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            term = F.shiftleft(bit, b)
            fp = term if fp is None else fp.bitwiseOR(term)
    # the lane-overflow guard rides the same select — assert_true is a
    # row-level expression, so a >= 2^20-token document fails the job by
    # name instead of silently corrupting neighbor lanes
    guard = F.assert_true(
        n < F.lit(1 << LANE),
        F.lit(
            f"simhash: document with >= 2^{LANE} tokens overflows the "
            "packed bit-counter lanes; chunk it upstream"
        ),
    )
    return agg.select(
        F.col(id_col), F.when(guard.isNull(), fp).alias("simhash")
    )


def hamming_near_dup_pairs(
    fp: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs over ANY 64-bit-or-narrower fingerprint
    column (SimHash, image dHash/aHash, ...) by Hamming distance <=
    ``max_hamming`` — the pigeonhole banding machinery, factored out of
    ``simhash_near_dup`` (r8) so every Hamming-fingerprint modality
    shares one verified implementation.

    Pigeonhole banding makes this EXACT, not approximate: the fingerprint
    is split into ``bands`` contiguous chunks (default max_hamming + 1);
    any pair within Hamming distance d < bands differs in at most d chunks,
    so at least one chunk is identical — candidate generation joins on
    (band_index, chunk) and NEVER misses a qualifying pair. Verification
    is one xor + bit_count per candidate (built-in, codegen). Arithmetic
    shiftright + mask extracts chunks correctly even when bit 63 is set
    (negative long fingerprints).

    Scale shape: the join key is (band, chunk) — |bands| rows per doc, one
    shuffle; candidate count is driven by chunk collisions, not N^2. A
    pathological corpus (everything near-identical) degrades to the true
    pair count, which is the output size anyway.
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if not (1 <= bits <= 64):
        # JVM shiftright wraps the shift amount mod 64, so chunk offsets
        # past 63 would silently extract the WRONG chunks and miss pairs
        # despite the documented EXACT guarantee — fail loudly instead
        raise ValueError(f"bits ({bits}) must be in [1, 64]")
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) for the "
            "pigeonhole guarantee"
        )
    base = bits // bands  # chunk widths: base or base+1 (remainder spread)
    rem = bits % bands
    offs, off = [], 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        offs.append((off, width))
        off += width
    def _chunk(o: int, w: int):
        c = F.shiftright(F.col(fp_col), o)
        # w == 64 (bands=1, i.e. max_hamming=0 exact-fingerprint search):
        # the full-width mask literal (1<<64)-1 does not fit a Spark long
        # — and no mask is needed, the shifted value IS the chunk
        if w < 64:
            c = c.bitwiseAND(F.lit((1 << w) - 1))
        return c

    chunks = F.array(
        *[
            F.struct(F.lit(i).alias("band"), _chunk(o, w).alias("chunk"))
            for i, (o, w) in enumerate(offs)
        ]
    )
    banded = fp.select(id_col, fp_col, F.explode(chunks).alias("bc")).select(
        F.col(id_col),
        fp_col,
        F.col("bc.band").alias("band"),
        F.col("bc.chunk").alias("chunk"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(fp_col).alias("fp_a"), "band", "chunk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(fp_col).alias("fp_b"), "band", "chunk"
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    max_hamming: int = 3,
    bands: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= ``max_hamming``
    — ``simhash`` fingerprints fed through the shared exact pigeonhole
    machinery (``hamming_near_dup_pairs``; see its docstring for the
    banding guarantee and scale shape).
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    fp = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    return hamming_near_dup_pairs(
        fp, id_col, "simhash", bits=bits, max_hamming=max_hamming, bands=bands
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14 — public algorithm): for each node u,
    connect every STRICTLY LARGER neighbor to the minimum of u's closed
    neighborhood. Input/output: undirected edge set as (src, dst) rows
    (orientation irrelevant; self-loops dropped)."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("mn")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge (big -> small); for each
    node u connect all of u's smaller neighbors AND u itself to the
    minimum of {u} ∪ smaller-neighbors."""
    directed = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # all dst < src, so min(N⁻(u) ∪ {u}) = min(dst)
    mins = directed.groupBy("src").agg(F.min("dst").alias("mn"))
    rewired = (
        directed.join(mins, "src")
        .filter(F.col("dst") != F.col("mn"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )
    selfs = mins.select("src", F.col("mn").alias("dst"))
    return (
        rewired.union(selfs)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs -> canonical assignment.

    Pair emitters (jaccard/minhash/simhash/embedding) produce EDGES; actual
    deduplication needs the transitive closure: if A~B and B~C, one
    canonical survivor for {A, B, C}, labeled by its minimum member
    (deterministic survivor, same convention as exact_dedup).

    Two paths, identical output (r7):

    - **Bounded driver union-find** when the distinct edge set holds at
      most ``driver_max_edges`` rows: one collect of at most
      ``driver_max_edges + 1`` rows + classic union-find + min-relabel,
      then the same node-universe join as the distributed path. Near-dup
      edge sets are the verified MINORITY of a deduplicated corpus — at
      the default 1M-edge bound the collect is tens of MB, while the
      distributed loop pays 4+ eager jobs PER ROUND of pure scheduler
      latency on a graph that fits in one task. This is the documented
      bounded-collect contract (the collect's size gates it; the fallback
      is automatic).
    - **Alternating large-star / small-star** (Kiveris et al., SOCC'14)
      above the bound — each round is two grouped-min shuffles over the
      current edge set, round count O(log n) on real graphs (vs graph
      DIAMETER for plain min-label propagation, which a 10^12-row
      corpus's template-duplicate chains can push past any fixed cap).
      The fixpoint of both operations is a union of stars centered at
      component minima.

    Convergence of the distributed path is verified, not assumed: the
    loop stops when a large-star + small-star round leaves the edge set
    unchanged, and RAISES RuntimeError if ``max_iter`` rounds pass
    without a fixpoint — silently returning non-canonical labels would
    split a component across multiple survivors with no signal to the
    caller. Set ``driver_max_edges=0`` to force the distributed path
    (tests pin its convergence behavior that way).

    ``nodes``: the full universe (isolated docs keep themselves as
    canonical). Returns (id_col, canonical_id). ``stats``, if given, gets
    ``{"rounds": <n>, "n_edges": <m>, "path": "driver"|"distributed"}``
    (one round = large-star + small-star; the driver path reports
    rounds=0).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if driver_max_edges > 0:
        # one bounded collect both decides the path and feeds it
        rows = edges.limit(int(driver_max_edges) + 1).collect()
        if len(rows) <= driver_max_edges:
            if stats is not None:
                stats.update(n_edges=len(rows), rounds=0, path="driver")
            return _driver_union_find(rows, nodes, id_col)
    # localCheckpoint (not persist) each round: iterative self-referencing
    # plans double in size per round (sym embeds the edge plan twice), so
    # without lineage TRUNCATION Catalyst re-analysis cost grows
    # exponentially with round count — caching alone does not stop that
    edges = edges.localCheckpoint(eager=True)
    if stats is not None:
        stats["n_edges"] = edges.count()  # cheap: counts the checkpoint
        stats["path"] = "distributed"

    def _canonical(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()

    def _signature(e: DataFrame) -> tuple:
        """(edge count, commutative hash-sum) of a canonical-oriented
        distinct edge set: one map-side-partial aggregate, no shuffle join
        — the cheap per-round stand-in for set equality."""
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: exact + commutative, and immune to the
            # ANSI long-overflow a sum of 2^63-range hashes would hit
            F.sum(F.xxhash64("src", "dst").cast("decimal(20,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    converged = False
    rounds = 0
    prev_sig = None
    for _ in range(max_iter):
        rounds += 1
        after_large = _large_star(edges)
        # _small_star output is already (big -> small) oriented + distinct
        after_small = _small_star(after_large).localCheckpoint(eager=True)
        # fixpoint check, two tiers: per round only the scalar signature
        # (count + order-insensitive hash-sum) is compared — an aggregate
        # with map-side partials, vs the two full exceptAll anti-join
        # shuffles this replaced. The exact exceptAll equality check runs
        # ONCE, on the round the signature claims convergence, so a hash
        # collision can never end the loop early.
        if prev_sig is None:
            prev_sig = _signature(_canonical(edges))
        sig = _signature(after_small)
        if sig == prev_sig:
            old_directed = _canonical(edges)
            changed = (
                after_small.exceptAll(old_directed).limit(1).count()
                + old_directed.exceptAll(after_small).limit(1).count()
            )
            if changed == 0:
                edges = after_small
                converged = True
                break
        prev_sig = sig
        edges = after_small
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters: large-star/small-star did not converge in "
            f"{max_iter} rounds — component structure is pathological or "
            f"max_iter is too low (rounds needed ~ O(log n))"
        )
    # fixpoint edges form stars (child -> component min); roots and
    # isolated nodes are their own canonical
    assign = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("canonical")
    )
    return _assign_to_universe(assign, nodes, id_col)


def _assign_to_universe(
    assign: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """(node, canonical) star edges -> one row per universe node, with
    isolated/root nodes canonical to themselves (shared tail of both
    closure paths)."""
    return (
        nodes.select(F.col(id_col).alias("node"))
        .distinct()
        .join(assign, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("canonical"), F.col("node")).alias("canonical_id"),
        )
    )


def _driver_union_find(rows: list, nodes: DataFrame, id_col: str) -> DataFrame:
    """Bounded-edge fast path of ``near_dup_clusters``: over the collected
    (src, dst) edge rows (within the documented bound), run path-compressed
    union-find, relabel every component by its MINIMUM member (identical
    survivor convention to the star-contraction fixpoint), and join the
    (node -> min) star edges back against the node universe. One collect +
    one local relation + the same broadcast-friendly universe join —
    versus 4+ eager jobs per star-contraction round."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # every touched node -> its component's minimum member
    node_root = {}
    for a, b in rows:
        for x in (a, b):
            if x not in node_root:
                node_root[x] = find(x)
    comp_min: dict = {}
    for x, rt in node_root.items():
        if rt not in comp_min or x < comp_min[rt]:
            comp_min[rt] = x
    star = [
        (x, comp_min[rt]) for x, rt in node_root.items() if x != comp_min[rt]
    ]
    id_type = nodes.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("canonical", id_type)]
    )
    assign = local_frame(nodes.sparkSession, star, schema)
    return _assign_to_universe(assign, nodes, id_col)


def _re_escape(sep: str) -> str:
    """Literal separator -> regex for F.split (split takes a pattern)."""
    import re as _re

    return _re.escape(sep)


def line_dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    out_col: str | None = None,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level boilerplate removal (the C4 recipe, Raffel
    et al. 2020 "Exploring the Limits of Transfer Learning..." — public
    method): any line occurring in at least ``min_docs`` DISTINCT
    documents (nav menus, cookie banners, footers — content that repeats
    across pages without the pages being near-dups) is removed from every
    document. Returns the input rows with ``out_col`` (default: replaces
    ``text_col``) holding the cleaned text plus ``n_removed_lines``.

    Scale shape: lines cross the shuffle only as 64-bit xxhash64 keys —
    one posexplode to (doc, pos, line_hash), a distinct (doc, hash)
    projection feeding a per-hash distinct-doc count (map-side partials),
    and the small common-hash set (boilerplate is by definition the
    repeated minority) joins back BROADCAST against the exploded lines.
    Reconstruction keeps each doc's original line text and order
    (group-max over pos), so untouched docs round-trip byte-identical.
    Empty lines are preserved verbatim (never counted, never removed) —
    paragraph structure is not boilerplate. NULL-text docs pass through
    unchanged (n_removed_lines=0) rather than being dropped.

    ``sep`` picks the dedup granularity: the default "\n" is C4's line
    rule; sep="\n\n" runs the same machinery per PARAGRAPH (blocks that
    repeat corpus-wide — license headers, bio boxes — without their
    individual lines being common enough to trip the line rule).

    Deliberate two-scan shape: the exploded line frame feeds both the
    df-count branch and the removal join, so the corpus is read (and
    split) twice. Persisting the exploded lines instead would hold
    ~corpus-size bytes of cache at exactly the scale where memory is
    scarce; two cheap map passes beat that trade, same reasoning as the
    reference-free two-phase scans elsewhere in this package.
    """
    out_col = out_col or text_col
    exploded = _exploded_lines(docs, id_col, text_col, sep)
    common = (
        exploded.filter(F.col("__lh").isNotNull())
        .select(id_col, "__lh")
        .distinct()
        .groupBy("__lh")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__lh")
    )
    return strip_lines_by_hash(docs, common, id_col, text_col, out_col, sep)


def _exploded_lines(
    docs: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """(id, __pos, __line, __lh) per ``sep``-delimited line: the shared
    explode of line_dedup_corpus / strip_lines_by_hash / the streaming
    line-frequency index. __lh is NULL for blank lines (never counted,
    never removed — paragraph structure is not boilerplate)."""
    lh = F.xxhash64(F.trim(F.col("__line")))
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re_escape(sep))),
    ).select(
        id_col,
        F.col("pos").alias("__pos"),
        F.col("col").alias("__line"),
    ).withColumn(
        "__lh",
        F.when(F.trim(F.col("__line")) == "", None).otherwise(lh),
    )


def strip_lines_by_hash(
    docs: DataFrame,
    common_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str | None = None,
    sep: str = "\n",
) -> DataFrame:
    """Remove every line whose trimmed-line xxhash64 appears in
    ``common_hashes`` (a one-column frame of hashes, however derived) —
    the removal half of ``line_dedup_corpus``, factored out so the
    streaming ingest can strip against a PERSISTED cross-batch
    line-frequency index (streaming/incremental_dedup.py) instead of
    recounting the corpus. Returns the input rows with ``out_col``
    (default: replaces ``text_col``) and ``n_removed_lines``; untouched
    docs round-trip byte-identical, NULL-text docs pass through.
    """
    out_col = out_col or text_col
    exploded = _exploded_lines(docs, id_col, text_col, sep)
    common = common_hashes.select(
        F.col(common_hashes.columns[0]).alias("__lh")
    ).distinct()
    # NO forced broadcast on the common set: boilerplate is usually the
    # small minority, but a pathologically templated corpus (the case
    # this operator exists for) can push the >=min_docs line set past
    # executor memory — let Catalyst/AQE pick broadcast vs shuffle from
    # the actual size at runtime
    flagged = exploded.join(
        common.withColumn("__rm", F.lit(True)), "__lh", "left"
    )
    rebuilt = (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rm").isNull(),
                                F.struct(F.col("__pos"), F.col("__line")),
                            )
                        )
                    ),
                    lambda s: s.getField("__line"),
                ),
                sep,
            ).alias("__clean"),
            F.sum(F.when(F.col("__rm").isNotNull(), 1).otherwise(0)).alias(
                "n_removed_lines"
            ),
        )
    )
    # LEFT join: a NULL-text doc never reaches `rebuilt` (split(NULL) is
    # NULL, posexplode emits nothing) — an inner join would silently drop
    # the row from the corpus; instead it passes through unchanged with
    # n_removed_lines=0. Non-null docs always have a non-null __clean
    # (array_join of a possibly-empty array), so the coalesce only fires
    # for the NULL-text passthrough.
    joined = docs.join(rebuilt, id_col, "left").withColumn(
        "n_removed_lines", F.coalesce(F.col("n_removed_lines"), F.lit(0))
    )
    return joined.withColumn(
        out_col, F.coalesce(F.col("__clean"), F.col(text_col))
    ).drop("__clean")


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination flags: one row per training doc with the
    count of its distinct word ``n``-grams that also occur anywhere in the
    ``benchmark`` set, plus ``is_contaminated`` (count >= min_hits).

    This is the standard eval-set decontamination check (public method:
    GPT-3's 13-gram overlap filter, Brown et al. 2020 appendix C; PaLM
    and Llama report the same n-gram collision approach) — a training doc
    sharing a long verbatim n-gram with a benchmark question leaks the
    answer into training.

    Scale shape: the benchmark side is SMALL by construction (eval sets
    are thousands of rows, the corpus is 10^12) — its distinct gram
    hashes broadcast; the corpus side is one map pass (tokenize + hash +
    explode distinct grams) into the broadcast join and a per-doc count.
    No shuffle touches the corpus except the final per-doc groupBy, and
    grams exist only as 64-bit hashes end-to-end (same machinery as
    minhash/shared-n-gram: ``_hashed_shingle_table``). Docs shorter than
    ``n`` words have no grams and are trivially clean.
    """
    wh_d, d = _hashed_shingle_table(docs, id_col, text_col, n)
    wh_b, b = _hashed_shingle_table(benchmark, bench_id_col, bench_text_col, n)
    bench_grams = (
        b.select(F.explode(F.array_distinct("__h")).alias("__g")).distinct()
    )
    doc_grams = d.select(
        F.col(id_col), F.explode(F.array_distinct("__h")).alias("__g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    zero = F.coalesce(F.col("n_contaminated_grams"), F.lit(0))
    out = (
        docs.select(id_col)
        .distinct()
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            zero.alias("n_contaminated_grams"),
            (zero >= F.lit(min_hits)).alias("is_contaminated"),
        )
    )
    out = out.localCheckpoint(eager=True)
    wh_d.unpersist()
    wh_b.unpersist()
    return out


def shared_ngram_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    max_gram_docs: int = 50,
) -> DataFrame:
    """Pairs of documents sharing at least one EXACT word n-gram — the
    candidate stage of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    method): a long verbatim overlap implies one shared n-gram, so this
    finds copy-paste contamination MinHash can miss when the shared span
    is a small fraction of both docs (Jaccard below any usable threshold).

    Scale shape: grams exist only as 64-bit hashes (the minhash combine);
    each doc emits its DISTINCT gram hashes once; grams occurring in more
    than ``max_gram_docs`` docs are dropped before the self-join (stock
    phrases/boilerplate would otherwise quadratically explode the pair
    count — the cap is the standard df-cut, same rationale as
    jaccard_pairs' df-ratio guard). Returns (id_a, id_b, n_shared_grams)
    with id_a < id_b.
    """
    wh_tbl, docs = _hashed_shingle_table(df, id_col, text_col, n)
    grams = (
        docs.select(F.col(id_col), F.explode(F.array_distinct("__h")).alias("__g"))
    )
    # df-cut: keep grams rare enough to be discriminative
    rare = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_gram_docs)
        .select("__g")
    )
    rg = grams.join(rare, "__g")
    a = rg.select(F.col(id_col).alias("id_a"), "__g")
    b = rg.select(F.col(id_col).alias("id_b"), "__g")
    out = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    out = out.localCheckpoint(eager=True)
    wh_tbl.unpersist()
    return out


def _duplicate_span_arrays(
    pos_grams: DataFrame, id_col: str, L: int, min_count: int
) -> DataFrame:
    """(id, __spans:array<struct<__s,__e>>, n_dup_spans) of merged maximal
    duplicated spans from a (id, __pos, __g) positional-gram frame: grams
    occurring >= min_count times corpus-wide mark positions; overlapping
    marks merge via the gaps-and-islands window (one shuffle on the doc
    key). Shared by the text and tokens span-removal variants."""
    from pyspark.sql import Window

    dup = (
        pos_grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("__g")
    )
    marked = pos_grams.join(dup, "__g").select(id_col, "__pos")
    # gaps-and-islands: a mark starts a new span iff it begins past the
    # running max end of all earlier marks in the doc
    w = Window.partitionBy(id_col).orderBy("__pos")
    prev_end = F.max(F.col("__pos") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_end.isNull() | (F.col("__pos") >= prev_end), 1
    ).otherwise(0)
    islands = marked.withColumn(
        "__isl",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy(id_col, "__isl").agg(
        F.min("__pos").alias("__s"), (F.max("__pos") + L).alias("__e")
    )
    return spans.groupBy(id_col).agg(
        F.collect_list(F.struct("__s", "__e")).alias("__spans"),
        F.count(F.lit(1)).alias("n_dup_spans"),
    )


def _residual_dup_gram_count(
    df: DataFrame, text_col: str, L: int, min_count: int
) -> int:
    """Count of DISTINCT word L-grams still duplicated >= min_count times
    in ``text_col`` — the convergence probe for span removal (VERDICT r6
    item 5): one map pass re-deriving the paired gram hashes (the same
    frame shape the removal pass builds) plus one map-side-partial
    aggregate; only the scalar reaches the driver."""
    wh_tbl = df.select(words(F.col(text_col)).alias("__ws")).withColumn(
        "__wh", word_hashes(F.col("__ws"))
    )
    grams = wh_tbl.select(
        F.explode(
            F.arrays_zip(
                combine_word_hashes(F.col("__wh"), L).alias("g1"),
                combine_word_hashes(F.col("__wh"), L, variant=1).alias("g2"),
            )
        ).alias("__g")
    )
    return (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= int(min_count))
        .count()
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
    min_count: int = 2,
    out_col: str | None = None,
    max_passes: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Exact-substring span removal — the removal stage of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better",
    §4.1 ExactSubstr — public method): any word span of at least
    ``min_len`` tokens that occurs at least ``min_count`` times in the
    corpus (across OR within documents) is removed from every document.
    This completes the machinery ``shared_ngram_pairs`` only finds
    candidates for: a duplicated substring of length M >= L contains
    M-L+1 duplicated L-grams, so marking every position covered by a
    duplicated L-gram and merging overlapping marks reconstructs exactly
    the maximal duplicated spans (the standard n-gram formulation of the
    suffix-array algorithm).

    Returns the input rows plus ``out_col`` (default: replaces
    ``text_col``) with the surviving words joined by single spaces,
    ``n_removed_tokens`` and ``n_dup_spans`` (accumulated across passes).
    Documents with no duplicated span keep their ORIGINAL text
    byte-identical (they never reach the rebuild join); whitespace is
    normalized only in documents that actually lost a span.
    Case-sensitive on purpose: "exact substring" means verbatim.

    Scale shape: grams cross the shuffle only as 64-bit combines of
    word hashes (the minhash machinery); the duplicated-gram set is the
    repeated MINORITY, so the mark join is AQE-broadcastable; span
    merging is the classic gaps-and-islands window over (doc, pos) —
    one shuffle on the doc key the rebuild groupBy reuses; the rebuild
    touches only marked docs. No all-pairs stage exists at any size.

    Convergence (VERDICT r6 item 5): one pass matches the paper's
    practice, but stitching the text around a removed span CAN create a
    new duplicated >= min_len span. The rerun trigger is now measured,
    not guessed: ``stats`` (a dict) receives
    ``n_residual_dup_grams`` — the count of distinct L-grams still
    duplicated >= min_count times in the OUTPUT — and ``n_passes``.
    ``max_passes > 1`` loops removal until the residual hits 0 or the
    budget runs out (the probe already exists per extra pass, so the
    loop adds no new plan shape; each pass is the same bounded dataflow
    over strictly shrinking text)."""
    out_col = out_col or text_col
    L = int(min_len)
    if L < 2:
        raise ValueError(f"remove_duplicate_spans: min_len must be >= 2, got {L}")
    if int(max_passes) < 1:
        raise ValueError(
            f"remove_duplicate_spans: max_passes must be >= 1, got {max_passes}"
        )

    def one_pass(d: DataFrame, src: str) -> DataFrame:
        return _span_removal_pass(
            d, id_col, src, words(F.col(src)), word_hashes, L, min_count,
            out_col, finish=lambda ws: F.array_join(ws, " "),
        )

    joined = one_pass(df, text_col)
    passes = 1
    residual: int | None = None
    while True:
        need_probe = stats is not None or passes < int(max_passes)
        if need_probe:
            residual = _residual_dup_gram_count(joined, out_col, L, min_count)
        if passes >= int(max_passes) or residual == 0:
            break
        # pass k+1 reads the PASS-k output column and accumulates counters
        prev = joined.withColumnRenamed(
            "n_removed_tokens", "__prev_removed"
        ).withColumnRenamed("n_dup_spans", "__prev_spans")
        joined = (
            one_pass(prev, out_col)
            .withColumn(
                "n_removed_tokens",
                F.col("__prev_removed") + F.col("n_removed_tokens"),
            )
            .withColumn(
                "n_dup_spans", F.col("__prev_spans") + F.col("n_dup_spans")
            )
            .drop("__prev_removed", "__prev_spans")
        )
        passes += 1
    if stats is not None:
        stats["n_residual_dup_grams"] = int(residual)
        stats["n_passes"] = passes
    return joined


def _span_removal_pass(
    df: DataFrame,
    id_col: str,
    src_col: str,
    elems,
    hashes,
    L: int,
    min_count: int,
    out_col: str,
    finish=None,
) -> DataFrame:
    """One mark/merge/rebuild pass of exact-substring span removal (the
    ``remove_duplicate_spans`` docstring describes the dataflow) over
    ``elems``, the element array of ``src_col`` (``words(text)`` or the
    token array), hashed per element by ``hashes`` (``word_hashes`` or
    ``token_hashes``). Returns the input rows with ``out_col`` (the
    surviving elements, through ``finish`` when given, e.g. an
    ``array_join`` back to text), ``n_removed_tokens`` and ``n_dup_spans``
    for THIS pass; rows without a duplicated span keep ``src_col``
    untouched. localCheckpointed (each pass is a fixpoint-loop iterate —
    same lineage-truncation reasoning as near_dup_clusters)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # persist at the element level: the array feeds gram hashing AND the
    # rebuild, and the barrier stops CollapseProject from re-tokenizing
    # per element (same reasoning as _hashed_shingle_table)
    wh_tbl = (
        df.select(id_col, src_col)
        .repartition(par)
        .select(F.col(id_col), elems.alias("__ws"))
        .withColumn("__wh", hashes(F.col("__ws")))
        .persist()
    )
    pos_grams = wh_tbl.select(
        F.col(id_col),
        # gram key = PAIR of independent 31-bit combines (~62-bit): span
        # marking removes on hash equality with NO verify stage, so the
        # single 31-bit combine the verified minhash path uses would
        # false-remove at scale (observed 2 collisions in 500 docs)
        F.posexplode(
            F.arrays_zip(
                combine_word_hashes(F.col("__wh"), L).alias("g1"),
                combine_word_hashes(F.col("__wh"), L, variant=1).alias("g2"),
            )
        ).alias("__pos", "__g"),
    )
    span_arr = _duplicate_span_arrays(pos_grams, id_col, L, min_count)
    clean = F.filter(
        F.col("__ws"),
        lambda e, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s.getField("__s")) & (i < s.getField("__e")),
        ),
    )
    rebuilt = wh_tbl.join(span_arr, id_col).select(
        F.col(id_col),
        (finish(clean) if finish is not None else clean).alias("__clean"),
        F.aggregate(
            F.col("__spans"),
            F.lit(0),
            lambda acc, s: acc + (s.getField("__e") - s.getField("__s")),
        ).alias("n_removed_tokens"),
        "n_dup_spans",
    )
    joined = (
        df.join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("__clean"), F.col(src_col)))
        .withColumn("n_removed_tokens", F.coalesce("n_removed_tokens", F.lit(0)))
        .withColumn("n_dup_spans", F.coalesce("n_dup_spans", F.lit(0)))
        .drop("__clean")
    )
    joined = joined.localCheckpoint(eager=True)
    wh_tbl.unpersist()
    return joined


def remove_duplicate_spans_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_len: int = 50,
    min_count: int = 2,
    n_tok_col: str | None = "n_tok",
) -> DataFrame:
    """Exact-substring span removal over PRE-TOKENIZED sequences — the
    input_hint payload (doc_id, tokens:array<int32>, n_tok). Lee et al.
    2022 run ExactSubstr on token streams with a 50-token threshold
    (§4.1), which is exactly this variant: any token span of >= min_len
    occurring >= min_count times corpus-wide is cut from every sequence.
    No text anywhere: token ids hash via ``token_hashes``, and the
    mark/merge/rebuild pass is the text path's (``_span_removal_pass``).

    Returns the input rows with ``tokens_col`` rebuilt (element type
    preserved), ``n_removed_tokens``, ``n_dup_spans``, and ``n_tok_col``
    recomputed when present (pass None to skip). Sequences without a
    duplicated span pass through with their original array untouched.
    """
    L = int(min_len)
    if L < 2:
        raise ValueError(
            f"remove_duplicate_spans_tokens: min_len must be >= 2, got {L}"
        )
    joined = _span_removal_pass(
        df, id_col, tokens_col, F.col(tokens_col), token_hashes, L, min_count,
        tokens_col,
    )
    if n_tok_col is not None and n_tok_col in df.columns:
        joined = joined.withColumn(
            n_tok_col, F.size(tokens_col).cast(df.schema[n_tok_col].dataType)
        )
    return joined
