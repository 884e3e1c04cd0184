"""End-to-end training-data curation over the documents/tokens tables.

The composed production path the north rule describes (BASELINE.json):
raw corpus -> exact dedup -> transitive near-dup dedup -> quality +
repetition filtering -> deterministic per-source sampling -> stable
training-order shuffle -> GPT-style sequence packing -> lineage-committed
partitioned write that a killed run resumes by manifest diff. Every stage
is one of the engine's individually driver-verified operators; this module
only COMPOSES them, so the pipeline inherits their scale contracts:

- dedup never materializes N^2 (banded LSH candidates, star-contraction
  closure in O(log n) rounds),
- filters and sampling are map-side only (no shuffle),
- packing's global prefix sum is one materialized range partitioning
  read twice + a |partitions|-row broadcast,
- the write commits per-source dynamic partitions in batched jobs with
  per-unit lineage metrics (plans/lineage.py).

Two front ends share one dedup stage: ``curate`` (text) and
``curate_tokens`` (pre-tokenized sequences) differ only in how a row
becomes its exact-dedup key (md5 of the normalized text, or two seeded
xxhash64s of the token array) and its element-hash array for MinHash
(``dedup.word_hashes`` / ``dedup.token_hashes``). The exact -> near-dup
stage after that is written once (``_exact_dedup``, ``_drop_near_dups``),
and so is the shuffle/pack tail (``_shuffle_and_pack``).

CLI (spark-submit --py-files dist/feature_extractor_spark.zip):

    python -m feature_extractor_spark.plans.tokens_pipeline \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/curated --checkpoint /tmp/curated_ckpt \
        --context-len 2048 --min-quality 0.2 --web-fraction 0.5
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_extractor_spark.functions.text import (
    quality_score,
    repetition_signals,
    token_counts,
)
from feature_extractor_spark.operators import dedup
from feature_extractor_spark.operators.packing import pack_sequences
from feature_extractor_spark.operators.sampling import (
    deterministic_shuffle,
    stratified_sample,
)


def _pair_guard(
    pairs: DataFrame,
    id_col: str,
    stage_counts: dict | None,
    max_pairs_per_doc: int | None,
) -> DataFrame:
    """Candidate-pair observability + density guard for the composed
    curation paths (VERDICT r6 item 2): a systematically templated corpus
    (e.g. lattice-shifted templates) makes the verified near-dup graph
    DENSE, silently turning the connected-components closure into the
    dominant cost — the funnel counted surviving docs but never pairs, so
    nothing surfaced the blowup before it burned a cluster.

    When either knob is set, the pairs frame is materialized ONCE
    (eager localCheckpoint — near_dup_clusters starts by checkpointing
    its edges anyway, so the closure re-reads this materialization
    instead of re-executing the LSH plan) and ONE aggregate over it
    records, into ``stage_counts`` as plain ints:

    - ``near_dup_pairs``: verified pair count (sum of degrees / 2),
    - ``near_dup_max_degree``: max pairs touching a single doc.

    ``max_pairs_per_doc`` RAISES (listing the worst offenders) when any
    doc's degree exceeds it — consistent with SemDeDup's cell cap: pair
    blowup means the corpus needs a tighter threshold or pre-cleaning,
    and failing loudly beats an unbounded closure. The degree aggregate
    is one shuffle over 2x|pairs| rows keyed on the doc id — bounded by
    the pair set the closure must hold anyway. With both knobs unset the
    pairs frame passes through untouched (zero extra jobs)."""
    if stage_counts is None and max_pairs_per_doc is None:
        return pairs
    ckpt = pairs.localCheckpoint(eager=True)
    deg = (
        ckpt.select(F.explode(F.array("id_a", "id_b")).alias("__node"))
        .groupBy("__node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    row = deg.agg(
        F.coalesce(F.sum("__deg"), F.lit(0)).alias("deg_sum"),
        F.coalesce(F.max("__deg"), F.lit(0)).alias("max_deg"),
    ).first()
    n_pairs, max_deg = int(row["deg_sum"]) // 2, int(row["max_deg"])
    if stage_counts is not None:
        stage_counts["near_dup_pairs"] = n_pairs
        stage_counts["near_dup_max_degree"] = max_deg
    if max_pairs_per_doc is not None and max_deg > int(max_pairs_per_doc):
        worst = [
            (r["__node"], int(r["__deg"]))
            for r in deg.orderBy(F.col("__deg").desc(), F.col("__node"))
            .limit(5)
            .collect()
        ]
        raise ValueError(
            f"curate: near-dup candidate density exceeds max_pairs_per_doc="
            f"{max_pairs_per_doc} (max degree {max_deg}, {n_pairs} verified "
            f"pairs; worst {id_col}s: {worst}). The similarity graph is too "
            f"dense for a useful closure — raise the threshold, pre-clean "
            f"boilerplate (line/span dedup), or lift the cap deliberately."
        )
    return ckpt


def _exact_dedup(df: DataFrame, id_col: str, key: list) -> DataFrame:
    """Exact dedup of both front ends: one row per distinct ``key`` (a
    list of Columns, the row's content digest), the min-``id_col``
    survivor. Same survivor rule as operators/dedup.exact_dedup, but as a
    rank-1 window instead of groupBy+self-join: ONE scan and ONE
    key-hashed shuffle where the join form re-scans the (by now branched,
    pruned-differently, non-exchange-reusable) input subtree twice and
    shuffles it again by id."""
    from pyspark.sql import Window

    # r10: pre-repartition on the window's own key at cluster width. AQE
    # coalesces the window exchange by shuffle BYTES (a 50k-doc corpus
    # compresses to a few MB -> ~11 partitions), but the per-row work in
    # the stage it feeds — the digest, the rank window, the keep-join
    # probe — is compute AQE cannot see: the stage ran 11 tasks of ~1.6 s
    # while 21 cores idled (event-log profile, local[32]). A user
    # repartition on the identical expressions is exempt from coalescing
    # and satisfies the window's ClusteredDistribution, so no second
    # exchange appears (tests/test_plan_quality.py pins one Exchange and
    # one Window). Same fix family as the repartition in _drop_near_dups.
    par = df.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy(*key).orderBy(id_col)
    return (
        df.repartition(par, *key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _drop_near_dups(
    survivors: DataFrame,
    pairs: DataFrame,
    id_col: str,
    stage_counts: dict | None,
    max_pairs_per_doc: int | None,
) -> DataFrame:
    """Transitive near-dup dedup of both front ends: the verified pairs
    (pair density recorded / guarded by ``_pair_guard``) -> star-
    contraction closure -> keep each component's minimum id. Counts
    ``near_dup_dedup`` and, with ``stage_counts`` set, the closure
    telemetry ``cc_path``/``cc_rounds``/``cc_n_edges`` (plain ints).
    ``dedup.near_dup_clusters`` is looked up on its module at call time
    (a traced perfbench run wraps it there)."""
    pairs = _pair_guard(pairs, id_col, stage_counts, max_pairs_per_doc)
    cc_stats: dict = {}
    clusters = dedup.near_dup_clusters(pairs, survivors, id_col, stats=cc_stats)
    if stage_counts is not None:
        stage_counts["cc_path"] = cc_stats.get("path")
        stage_counts["cc_rounds"] = int(cc_stats.get("rounds", 0))
        stage_counts["cc_n_edges"] = int(cc_stats.get("n_edges", 0))
    keep = clusters.filter(F.col(id_col) == F.col("canonical_id")).select(id_col)
    survivors = _funnel_count(
        survivors.join(keep, id_col), stage_counts, "near_dup_dedup", id_col
    )
    # r10: explicit repartition before the filter tail. AQE coalesces the
    # keep-join's output by SHUFFLE BYTES (the curated survivors compress
    # to a few MB -> ONE partition), but everything downstream of that
    # exchange — quality_score's ngram sort/aggregate expressions,
    # repetition_signals, token_counts' regexp passes, the token filters
    # and chunking — is per-row compute AQE cannot see: the whole text
    # tail ran as a single 20 s task while the rest of the cluster idled
    # (event-log profile, local[32]). A user repartition is exempt from
    # AQE coalescing and spreads the tail across the cluster (same fix,
    # same reasoning as operators/fused.windowed_encode's group
    # repartition).
    par = survivors.sparkSession.sparkContext.defaultParallelism
    return survivors.repartition(par)


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    near_dup_threshold: float = 0.5,
    min_quality: float = 0.0,
    max_dup_line_frac: float = 0.5,
    max_top_2gram_frac: float = 0.9,
    sample_fractions: dict[str, float] | None = None,
    context_len: int = 2048,
    seed: int = 0,
    redact: bool = False,
    lm_max_bits: float | None = None,
    quality_classifier: "tuple | None" = None,
    classifier_alpha: float = 2.0,
    benchmark: DataFrame | None = None,
    decontam_n: int = 13,
    c4_rules: bool = False,
    line_dedup_min_docs: int | None = None,
    exact_span_min_len: int | None = None,
    unicode_norm: str | None = None,
    stage_counts: dict | None = None,
    max_pairs_per_doc: int | None = None,
    packing: str = "contiguous",
    pack_n_shards: int | None = None,
) -> DataFrame:
    """The curation dataflow as ONE composable lazy plan (no actions except
    the bounded driver loop inside the connected-components closure).
    ``redact=True`` additionally scrubs PII from the surviving text
    (typed placeholders + per-kind counts, functions/text.redact_pii) —
    after dedup, so redaction never changes dedup identity.
    ``benchmark`` (a small eval-set DataFrame with the same id/text
    columns) enables GPT-3-style decontamination: any surviving doc
    sharing a ``decontam_n``-gram with the benchmark is dropped
    (operators/dedup.contamination_flags — benchmark grams broadcast).
    ``quality_classifier`` (r9) is a pre-trained ``(weights, bias)``
    pair from ``functions/classifier.train_quality_classifier``: docs
    are scored map-side and kept by the deterministic Pareto-style rule
    ``u(id) < score^classifier_alpha``.

    ``stage_counts``, if given, collects per-stage survivor counts via
    ``observe()`` on the returned plan — the metrics ride jobs the plan
    runs anyway (no extra jobs): the stages up to the packing scan report
    when that scan materializes its range partitioning, the rest with the
    caller's action. The metric is an HLL distinct-count of the id
    column (rsd 1%, exact at small cardinality), NOT a row count — on
    purpose: the CC closure's eager jobs re-execute upstream nodes, and a
    plain count double-tallies every replay, while a distinct-id sketch
    merges idempotently. After an action has run, pass the dict to
    ``resolve_stage_counts`` for plain ints. Disabled stages are absent.
    With ``stage_counts`` set the funnel also carries the near-dup PAIR
    metrics (``near_dup_pairs``, ``near_dup_max_degree`` — see
    ``_pair_guard``); ``max_pairs_per_doc`` turns the degree metric into
    a hard guard that RAISES on a pathologically dense similarity graph.

    Returns one row per surviving document with its original columns plus
    quality/repetition signals, ``n_tok``/``n_bpe_tokens``, the stable
    ``shuffle_key``, and packing coordinates (``tok_start``/``bin_id``/
    ``bin_pos``/``spans_boundary``) in the shuffled training order.
    """
    _check_packing("curate", packing)
    # 0. optional C4 pre-cleaning, BEFORE dedup identity is computed:
    #    unicode_norm first (composed accents + stripped zero-widths make
    #    visually identical strings hash identically), then
    #    line_dedup_min_docs removes corpus-wide boilerplate lines
    #    (cookie banners make unrelated pages near-dups), then c4_rules
    #    applies the per-page line filters + page flags
    if unicode_norm is not None:
        from feature_extractor_spark.functions.text import normalize_unicode

        docs = normalize_unicode(docs, text_col, form=unicode_norm)
    if line_dedup_min_docs is not None:
        docs = dedup.line_dedup_corpus(
            docs, id_col, text_col, min_docs=line_dedup_min_docs
        ).drop("n_removed_lines")
    if c4_rules:
        from feature_extractor_spark.functions.text import c4_clean

        docs = (
            c4_clean(docs, text_col, out_col=f"__{text_col}_c4")
            .filter(F.col("c4_keep"))
            .drop(text_col, "c4_too_short", "c4_has_lorem", "c4_has_brace", "c4_keep")
            .withColumnRenamed(f"__{text_col}_c4", text_col)
        )
    if exact_span_min_len is not None:
        # Lee et al. ExactSubstr removal — also BEFORE dedup identity, so
        # removing a big shared span can legitimately turn two docs into
        # exact/near dups that the dedup stages then collapse
        docs = dedup.remove_duplicate_spans(
            docs, id_col, text_col, min_len=exact_span_min_len
        ).drop("n_removed_tokens", "n_dup_spans")

    def _count(df: DataFrame, stage: str) -> DataFrame:
        return _funnel_count(df, stage_counts, stage, id_col)

    docs = _count(docs, "input")

    # 1. exact dedup: identical normalized text (md5 digest) -> min-id
    #    survivor
    survivors = _count(
        _exact_dedup(docs, id_col, [F.md5(dedup._norm_text(text_col))]),
        "exact_dedup",
    )

    # 2. transitive near-dup dedup: banded MinHash candidates -> verified
    #    Jaccard pairs (materialized inside the LSH call, its word-hash/
    #    gram caches released there) -> closure -> component minima
    pairs = dedup.minhash_lsh_pairs(
        survivors, id_col, text_col, threshold=near_dup_threshold
    )
    survivors = _drop_near_dups(
        survivors, pairs, id_col, stage_counts, max_pairs_per_doc
    )

    # 3. quality + Gopher repetition filters (all map-side expressions)
    scored = repetition_signals(quality_score(survivors, text_col), text_col)
    filtered = scored.filter(
        (F.col("quality") >= F.lit(float(min_quality)))
        & (F.col("dup_line_frac") <= F.lit(float(max_dup_line_frac)))
        & (F.col("top_2gram_frac") <= F.lit(float(max_top_2gram_frac)))
    )
    filtered = _count(filtered, "quality_filters")

    # 4. deterministic per-source sampling (map-side CASE filter)
    if sample_fractions:
        filtered = stratified_sample(
            filtered, id_col, source_col, sample_fractions,
            default_fraction=1.0, seed=seed,
        )

    # 4.4 optional CCNet-style LM filter: char-trigram model trained on a
    #     bounded seeded sample of the INPUT corpus (self-referential
    #     reference — drops the docs least like the corpus's own bulk),
    #     scored in one Arrow pass, cut at lm_max_bits bits/char
    if lm_max_bits is not None:
        from feature_extractor_spark.functions.lm import lm_score, train_char_lm

        model = train_char_lm(docs, text_col, id_col)
        filtered = lm_score(filtered, model, text_col).filter(
            F.col("lm_bits_per_char") <= F.lit(float(lm_max_bits))
        )
        filtered = _count(filtered, "lm_filter")

    # 4.2 optional seed-set quality classifier (GPT-3-style, r9): score
    #     with the PRE-TRAINED (weights, bias) pair — training is a
    #     separate bounded job (functions/classifier.train_quality_
    #     classifier), never hidden inside the corpus pass — then the
    #     deterministic Pareto-style soft keep (u(id) < score^alpha)
    if quality_classifier is not None:
        from feature_extractor_spark.functions.classifier import (
            quality_sample,
            resolve_classifier,
            score_quality,
        )

        qw, qb, q_ngram = resolve_classifier(quality_classifier)
        filtered = quality_sample(
            score_quality(filtered, qw, qb, text_col, ngram=q_ngram),
            id_col=id_col,
            alpha=classifier_alpha,
            seed=seed + 101,
        )
        filtered = _count(filtered, "classifier_filter")

    # 4.5 optional benchmark decontamination (BEFORE redaction: scrubbed
    #     text would hide grams the original shares with the benchmark): drop docs sharing any
    #     decontam_n-gram with the (small, broadcast) eval set
    if benchmark is not None:
        flags = dedup.contamination_flags(
            filtered, benchmark, id_col, text_col, id_col, text_col,
            n=decontam_n,
        )
        filtered = filtered.join(
            flags.filter(~F.col("is_contaminated")).select(id_col), id_col
        )
        filtered = _count(filtered, "decontamination")

    # 4.6 optional PII scrubbing (map-side regex; post-dedup on purpose)
    if redact:
        from feature_extractor_spark.functions.text import redact_pii

        filtered = redact_pii(filtered, text_col)

    # 5. token counts + stable training-order shuffle + sequence packing
    with_tokens = token_counts(filtered, text_col).withColumn(
        "n_tok", F.col("n_bpe_tokens")
    )
    return _shuffle_and_pack(
        with_tokens, id_col, "n_tok", packing, context_len, pack_n_shards,
        seed, stage_counts,
    )


def _check_packing(caller: str, packing: str) -> None:
    """Reject a bad ``packing`` before any plan-time Spark job runs."""
    if packing not in ("contiguous", "ffd"):
        raise ValueError(
            f"{caller}: packing must be 'contiguous' or 'ffd', got {packing!r}"
        )


def _funnel_count(
    df: DataFrame, stage_counts: dict | None, stage: str, id_col: str
) -> DataFrame:
    """``df`` observed into ``stage_counts[stage]`` when the funnel is on."""
    if stage_counts is None:
        return df
    from pyspark.sql import Observation

    obs = Observation()
    stage_counts[stage] = obs
    # approx_count_distinct, NOT count: replay-idempotent (see curate)
    return df.observe(obs, F.approx_count_distinct(id_col, 0.01).alias("rows"))


def _shuffle_and_pack(
    df: DataFrame,
    id_col: str,
    n_tok_col: str,
    packing: str,
    context_len: int,
    pack_n_shards: int | None,
    seed: int,
    stage_counts: dict | None,
) -> DataFrame:
    """Stable training-order shuffle + packing + the ``output`` count.

    ``contiguous``: ``pack_sequences`` in (shuffle_key, id) order — the id
    as a second native order column breaks hash ties. The shuffled frame
    goes straight in: the packing scan checkpoints its own range
    partitioning, the one barrier, so the dedup/filter pipeline runs
    once. ``ffd``: best-fit whole-sequence bins (``pack_bins``), shuffled
    by bin — the padded-batch fine-tuning recipe."""
    if packing == "ffd":
        from feature_extractor_spark.operators.packing import pack_bins

        binned = _observe_packing(
            pack_bins(
                df, id_col, n_tok_col=n_tok_col,
                capacity=context_len, n_shards=pack_n_shards,
            ),
            stage_counts,
            n_tok_col,
        )
        out = deterministic_shuffle(binned, "bin_id", seed=seed)
    else:
        out = pack_sequences(
            deterministic_shuffle(df, id_col, seed=seed),
            order_col=["shuffle_key", id_col], n_tok_col=n_tok_col,
            context_len=context_len,
        )
    return _funnel_count(out, stage_counts, "output", id_col)


def _observe_packing(
    binned: DataFrame, stage_counts: dict | None, n_tok_col: str
) -> DataFrame:
    """Packing-efficiency observability for ``packing="ffd"`` (VERDICT r7
    item 7): fill_ratio / n_bins / n_oversize_bins ride the caller's one
    action via ``observe()``, like every other funnel metric. All three
    are REPLAY-IDEMPOTENT by construction (the funnel's discipline):
    distinct-counts don't double-tally a re-scan, and fill_ratio is a
    ratio of sums, so a uniform replay cancels. The per-bin slot total
    needs no per-bin aggregate: since ``bin_fill`` is the bin's token
    sum, ``sum(bin_capacity * n_tok / bin_fill)`` over a bin's rows is
    exactly ``bin_capacity`` — so the row-level sum equals the per-bin
    capacity total, and capacity comes from the ``bin_capacity`` column
    ``pack_bins`` carries (never an independent argument that could
    disagree with the packing call)."""
    if stage_counts is None:
        return binned
    from pyspark.sql import Observation

    obs = Observation()
    stage_counts["packing"] = obs
    nt = F.col(n_tok_col)
    live = ~F.col("oversize")
    # a bin whose rows are ALL n_tok=0 has bin_fill=0 (pack_bins accepts
    # zero-token rows): the per-row slot identity divides by bin_fill, so
    # such bins' slots would be NULL and their capacity would silently
    # drop out of the denominator, overstating fill. Guard the division
    # and add those bins' capacity back explicitly — bin_capacity is one
    # constant column across the call, so it is n_zero_fill_bins * max(cap).
    # (Caveat: the distinct-count side stays fixed under a replayed scan
    # while the sums double, so the ratio's replay-cancellation is exact
    # only when no zero-fill bin exists — the degenerate all-zero-token
    # case, accepted and documented.)
    fill_pos = F.col("bin_fill") > 0
    slots = F.when(live & fill_pos, F.col("bin_capacity") * nt / F.col("bin_fill"))
    zero_fill_cap = F.coalesce(
        F.approx_count_distinct(
            F.when(live & ~fill_pos, F.col("bin_id")), 0.01
        )
        * F.max("bin_capacity"),
        F.lit(0),
    )
    return binned.observe(
        obs,
        F.approx_count_distinct("bin_id", 0.01).alias("n_bins"),
        F.approx_count_distinct(
            F.when(F.col("oversize"), F.col("bin_id")), 0.01
        ).alias("n_oversize_bins"),
        (F.sum(F.when(live, nt)) / (F.sum(slots) + zero_fill_cap)).alias(
            "fill_ratio"
        ),
    )


def resolve_stage_counts(stage_counts: dict) -> dict:
    """Convert the Observation handles ``curate(stage_counts=...)``
    collected into plain ints. Call AFTER an action has executed the
    returned plan (Observation.get blocks until its metrics exist).
    ``near_dup_pairs`` / ``near_dup_max_degree`` (from ``_pair_guard``)
    are already ints — the guard runs eagerly at plan-build time because
    the closure materializes the pair set then anyway. Multi-metric
    observations (the ffd ``packing`` entry) flatten to
    ``<stage>_<metric>`` keys; fill_ratio stays a float.

    Empty-stream caveat (r8): when a stage's ENTIRE input subtree is
    provably empty (e.g. a pre-clean filter drops every document), AQE's
    empty-relation propagation can eliminate the CollectMetrics node —
    the JVM observation then holds a schemaless row that makes
    ``Observation.get`` raise an assertion. Elimination requires an
    empty stream, so the true value of every such metric is its
    zero-rows value: this resolves those stages to 0 instead of
    propagating the internal error."""
    out: dict = {}
    for k, v in stage_counts.items():
        if isinstance(v, (int, float, str)) or v is None:
            out[k] = v
            continue
        try:
            m = dict(v.get)
        except Exception as e:
            if "AssertionError" not in str(e):
                raise  # a real gateway/metrics failure must surface
            # AQE eliminated this CollectMetrics node (empty input
            # subtree, see docstring): zero rows flowed, every metric is
            # its zero-rows value — emitted under the SAME key shape a
            # non-empty run produces (consumers index packing_fill_ratio
            # etc. unconditionally). The detection is a substring match on
            # the py4j-wrapped JVM error (the AQE case surfaces only a bare
            # "java.lang.AssertionError: assertion failed", with no
            # CollectMetrics context to pin on), so WARN with the original
            # text — an unrelated JVM assertion taking this path must at
            # least leave a trace instead of silently becoming zeros.
            import warnings

            warnings.warn(
                f"resolve_stage_counts: stage {k!r} resolved to its "
                f"zero-rows values after an AssertionError from "
                f"Observation.get (expected cause: AQE empty-relation "
                f"elimination of the CollectMetrics node). Original "
                f"error: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
            if k == "packing":
                out["packing_n_bins"] = 0
                out["packing_n_oversize_bins"] = 0
                out["packing_fill_ratio"] = None
            else:
                out[k] = 0
            continue
        if set(m) == {"rows"}:
            out[k] = int(m["rows"])
        else:
            for mk, mv in m.items():
                out[f"{k}_{mk}"] = (
                    int(mv) if isinstance(mv, int) else mv
                )
    return out


def curate_tokens(
    tokens_df: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    source_col: str = "source",
    ts_col: str = "ts",
    near_dup_threshold: float = 0.6,
    gram_n: int = 5,
    min_tok: int = 8,
    max_tok: int | None = None,
    max_dup_gram_frac: float | None = None,
    sample_fractions: dict[str, float] | None = None,
    context_len: int = 2048,
    seed: int = 0,
    exact_span_min_len: int | None = None,
    eos_id: int | None = None,
    chunk_max_len: int | None = None,
    chunk_overlap: int = 0,
    stage_counts: dict | None = None,
    max_pairs_per_doc: int | None = None,
    packing: str = "contiguous",
    pack_n_shards: int | None = None,
) -> DataFrame:
    """Curation twin for the PRE-TOKENIZED input (BASELINE.json
    input_hint: ``doc_id:string, tokens:array<int32>, n_tok:int32,
    source:string``): no text anywhere — the text path's exact ->
    near-dup stage on a token-array key and token n-grams
    (``minhash_lsh_pairs_tokens``), filtering on token counts, then the
    same deterministic sample / stable shuffle / packing tail. Each ROW is one training sequence; a synthetic ``seq_id``
    (xxhash64 of doc id + ts) keys dedup, sampling, and the shuffle.
    ``stage_counts`` works as in ``curate`` (replay-idempotent HLL
    distinct-seq_id metric via observe; resolve_stage_counts after an
    action)."""
    _check_packing("curate_tokens", packing)

    def _count(df: DataFrame, stage: str) -> DataFrame:
        return _funnel_count(df, stage_counts, stage, "seq_id")

    seqs = tokens_df.withColumn(
        "seq_id", F.xxhash64(F.col(doc_col), F.col(ts_col))
    )
    if exact_span_min_len is not None:
        # Lee et al. ExactSubstr on the token stream, BEFORE dedup
        # identity (cutting a big shared span can make two sequences
        # exact dups the next stage collapses) — same discipline as the
        # text path's pre-cleaning. Keyed on seq_id: doc_id repeats
        # across a doc's sequences, and the rebuild join needs the
        # unique per-row key.
        seqs = dedup.remove_duplicate_spans_tokens(
            seqs,
            "seq_id",
            tokens_col,
            min_len=exact_span_min_len,
            n_tok_col=n_tok_col,
        ).drop("n_removed_tokens", "n_dup_spans")
    seqs = _count(seqs, "input")

    # 1. exact dedup: identical token arrays -> min-seq_id survivor. The
    #    key hashes the tokens (VERDICT r6 item 4: the raw multi-KB array
    #    as shuffle and sort key costs what 16 bytes of longs do) with TWO
    #    independently seeded xxhash64s (ADVICE r7): one 64-bit key
    #    expects ~10^4 birthday collisions at the 10^12-row design scale,
    #    128 bits ~2^-48, the class of the text path's md5. Seed literal
    #    FIRST: multi-arg xxhash64 chains left to right (seed = hash so
    #    far), so xxhash64(tokens, lit) would be a function of
    #    xxhash64(tokens); xxhash64(lit, tokens) hashes under a new seed.
    toks = F.col(tokens_col)
    survivors = _count(
        _exact_dedup(
            seqs,
            "seq_id",
            [F.xxhash64(toks), F.xxhash64(F.lit(0x9E3779B9), toks)],
        ),
        "exact_dedup",
    )

    # 2. transitive near-dup over token n-grams
    pairs = dedup.minhash_lsh_pairs_tokens(
        survivors, "seq_id", tokens_col,
        gram_n=gram_n, threshold=near_dup_threshold,
    )
    survivors = _drop_near_dups(
        survivors, pairs, "seq_id", stage_counts, max_pairs_per_doc
    )

    # 3. token-count bounds + optional token-space repetition filter
    #    (both map-side)
    filtered = survivors.filter(F.col(n_tok_col) >= F.lit(int(min_tok)))
    if max_tok is not None:
        filtered = filtered.filter(F.col(n_tok_col) <= F.lit(int(max_tok)))
    if max_dup_gram_frac is not None:
        from feature_extractor_spark.functions.text import (
            token_repetition_signals,
        )

        filtered = token_repetition_signals(
            filtered, tokens_col, gram_n=gram_n
        ).filter(F.col("dup_gram_frac") <= F.lit(float(max_dup_gram_frac)))

    filtered = _count(filtered, "token_filters")

    # 3a. optional fixed-context chunking of long sequences, AFTER dedup
    #     (dedup identity is the whole sequence) and BEFORE EOS/packing:
    #     each chunk becomes its own training row with a derived seq_id
    #     (xxhash64 of parent seq_id + chunk index — deterministic, so
    #     sampling/shuffle/resume stay stable); tails shorter than
    #     min_tok are dropped, consistent with the min_tok filter above
    if chunk_max_len is not None:
        from feature_extractor_spark.operators.packing import (
            chunk_tokens as _chunk_tokens,
        )

        filtered = (
            _chunk_tokens(
                filtered,
                tokens_col,
                max_len=chunk_max_len,
                overlap=chunk_overlap,
                min_tail=min_tok,
            )
            .drop(tokens_col, n_tok_col, "chunk_start")
            .withColumnRenamed("chunk_tokens", tokens_col)
            .withColumnRenamed("chunk_n_tok", n_tok_col)
            .withColumn("seq_id", F.xxhash64(F.col("seq_id"), F.col("chunk_id")))
            .drop("chunk_id")
        )
        filtered = _count(filtered, "chunking")

    # 3b. optional EOS doc-separator, AFTER dedup/filters (it would be a
    #     no-op for identity anyway) and BEFORE packing, so packing
    #     coordinates count the EOS slot
    if eos_id is not None:
        from feature_extractor_spark.operators.packing import append_eos

        filtered = append_eos(filtered, tokens_col, eos_id, n_tok_col)

    # 4./5. deterministic per-source sampling + stable shuffle + packing
    if sample_fractions:
        filtered = stratified_sample(
            filtered, "seq_id", source_col, sample_fractions,
            default_fraction=1.0, seed=seed,
        )
    return _shuffle_and_pack(
        filtered, "seq_id", n_tok_col, packing, context_len, pack_n_shards,
        seed, stage_counts,
    )


def run_curation(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    unit_col: str = "source",
    fail_after_units: int | None = None,
    **curate_kwargs,
) -> dict:
    """Read the corpus, curate, and commit the result partitioned by
    ``unit_col`` with per-unit lineage + resume (plans/lineage.py). A
    killed run re-invoked with the same dirs recomputes only the units
    missing from the manifest."""
    from feature_extractor_spark.plans.lineage import run_stage_with_resume

    docs = spark.read.parquet(input_path)
    # materialize the curated frame ONCE: the resume loop reads it once
    # per batch of units, and without a persist each batch would
    # re-execute the whole dedup/filter/pack pipeline. MEMORY_AND_DISK: curated output
    # is much smaller than the input and spills instead of recomputing.
    curated = curate(docs, **curate_kwargs).persist()
    # unit universe from the cheap raw scan, not from a full execution of
    # the curated plan (curation can only drop rows, never invent units —
    # a unit fully curated away commits an empty partition, which is the
    # correct "done" record for it)
    units = [str(r[0]) for r in docs.select(unit_col).distinct().collect()]
    try:
        return run_stage_with_resume(
            spark,
            "tokens_curation",
            curated,
            unit_col,
            lambda df_slice: df_slice,
            output_dir,
            checkpoint_dir,
            fail_after_units=fail_after_units,
            units=units,
        )
    finally:
        curated.unpersist()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="curate a documents corpus")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--context-len", type=int, default=2048)
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--max-dup-line-frac", type=float, default=0.5)
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--web-fraction", type=float, default=None,
                   help="downsample source=web to this keep fraction")
    p.add_argument("--packing", choices=["contiguous", "ffd"],
                   default="contiguous",
                   help="contiguous GPT-style packing (default) or "
                        "padding-aware whole-document best-fit bins")
    p.add_argument("--max-pairs-per-doc", type=int, default=None,
                   help="RAISE when any doc's verified near-dup degree "
                        "exceeds this (dense-similarity-graph guard)")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from feature_extractor_spark.session import get_spark

    spark = get_spark("tokens-curation", cores=args.cores)
    fractions = {"web": args.web_fraction} if args.web_fraction is not None else None
    res = run_curation(
        spark, args.input, args.output, args.checkpoint,
        context_len=args.context_len,
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        near_dup_threshold=args.near_dup_threshold,
        sample_fractions=fractions,
        packing=args.packing,
        max_pairs_per_doc=args.max_pairs_per_doc,
    )
    print({"processed_units": res["processed"], "skipped_units": res["skipped"]})


if __name__ == "__main__":
    main()
