"""End-to-end curation pipeline (plans/tokens_pipeline.py): composed
dedup -> filter -> sample -> shuffle -> pack -> lineage-committed write,
on the real sf0.001 documents table."""

import pytest
from pyspark.sql import functions as F

from conftest import JobCount
from feature_extractor_spark.plans.tokens_pipeline import curate, run_curation

SF_DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF_DOCS)


def test_curate_invariants(spark, docs):
    out = curate(docs, min_quality=0.0, max_dup_line_frac=1.0,
                 max_top_2gram_frac=1.0, context_len=512).persist()
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out <= n_in

    # survivors unique, and none is a known near-dup of a smaller-id doc
    assert out.select("doc_id").distinct().count() == n_out

    # packing coordinates: bin_pos in [0, L); tok_start strictly increasing
    # along the shuffle order; contiguous (next start = start + n_tok)
    pdf = out.select("shuffle_key", "doc_id", "n_tok", "tok_start", "bin_id",
                     "bin_pos").toPandas().sort_values(["shuffle_key", "doc_id"])
    assert (pdf["bin_pos"] >= 0).all() and (pdf["bin_pos"] < 512).all()
    starts = pdf["tok_start"].to_numpy()
    toks = pdf["n_tok"].to_numpy()
    assert starts[0] == 0
    assert ((starts[1:] - starts[:-1]) == toks[:-1]).all()
    assert (pdf["bin_id"].to_numpy() == starts // 512).all()
    out.unpersist()


def test_curate_drops_near_dups_and_low_quality(spark, docs):
    strict = curate(docs, min_quality=0.2, max_dup_line_frac=0.2,
                    max_top_2gram_frac=0.5, context_len=512)
    loose = curate(docs, min_quality=0.0, max_dup_line_frac=1.0,
                   max_top_2gram_frac=1.0, context_len=512)
    assert strict.count() <= loose.count()

    # sampling: one real source downweighted to ~half, others untouched
    # (baseline uses the same default filters, so the only delta is sampling)
    target = docs.select("source").orderBy("source").first()["source"]
    sampled = curate(docs, sample_fractions={target: 0.5}, context_len=512)
    full = curate(docs, context_len=512)
    full_by = {r["source"]: r["n"] for r in
               full.groupBy("source").agg(F.count("*").alias("n")).collect()}
    samp_by = {r["source"]: r["n"] for r in
               sampled.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert target in full_by and samp_by.get(target, 0) < full_by[target]
    for src, n in full_by.items():
        if src != target:
            assert samp_by.get(src, 0) == n


def test_curate_deterministic(spark, docs):
    a = curate(docs, context_len=256).select("doc_id", "tok_start", "bin_id")
    b = curate(docs, context_len=256).select("doc_id", "tok_start", "bin_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_run_curation_kill_and_resume(spark, tmp_path):
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_curation(spark, SF_DOCS, out_dir, ck, fail_after_units=2,
                     context_len=512)
    res = run_curation(spark, SF_DOCS, out_dir, ck, context_len=512)
    assert len(res["skipped"]) == 2 and len(res["processed"]) >= 1

    # resumed output == clean one-shot run
    clean_dir, clean_ck = str(tmp_path / "clean"), str(tmp_path / "cck")
    run_curation(spark, SF_DOCS, clean_dir, clean_ck, context_len=512)
    got = spark.read.parquet(out_dir).select("doc_id", "tok_start")
    exp = spark.read.parquet(clean_dir).select("doc_id", "tok_start")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_curate_tokens_input_hint_shape(spark):
    """Tokens-table curation (input_hint payload): exact dup arrays drop
    to one survivor, near-dup sequences collapse transitively, and packing
    invariants hold — all without any text column."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    base = synth_tokens(spark, n_rows=400, n_docs=40)
    # inject exact duplicates: 10 rows re-emitted under new doc/ts identity
    dup = (
        base.limit(10)
        .withColumn("doc_id", F.concat(F.lit("copy_"), F.col("doc_id")))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 MINUTES"))
    )
    df = base.unionByName(dup)

    out = curate_tokens(df, context_len=256, min_tok=8).persist()
    n_out = out.count()
    # every injected duplicate array collapsed to one survivor
    assert n_out <= base.count()
    assert out.select("seq_id").distinct().count() == n_out
    # no two surviving rows share a token array
    assert out.groupBy("tokens").count().filter("count > 1").count() == 0

    # packing contiguity along the shuffle order
    pdf = out.select("shuffle_key", "seq_id", "n_tok", "tok_start").toPandas()
    pdf = pdf.sort_values(["shuffle_key", "seq_id"])
    starts, toks = pdf["tok_start"].to_numpy(), pdf["n_tok"].to_numpy()
    assert starts[0] == 0 and ((starts[1:] - starts[:-1]) == toks[:-1]).all()
    out.unpersist()

    # determinism
    again = curate_tokens(df, context_len=256, min_tok=8).select(
        "seq_id", "tok_start"
    )
    prev = out.select("seq_id", "tok_start")
    assert prev.exceptAll(again).count() == 0 and again.exceptAll(prev).count() == 0


def test_curate_tokens_offsets_gap_free_at_4000_rows(spark, small_range_sample):
    """Packing offsets stay a gap-free prefix sum at a size where each
    range partition outgrows its bound sample: 4000 sequences with their
    token arrays as payload, two sampled rows per range partition."""
    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    toks = synth_tokens(spark, n_rows=4000, n_docs=40)
    # collected at full width: a narrow select prunes both branches of the
    # scan to the same columns, which hides a per-branch range exchange
    pdf = (
        curate_tokens(toks, context_len=256, min_tok=8)
        .toPandas()
        .sort_values("tok_start", kind="mergesort")
    )
    assert len(pdf) > 3500
    starts, n_tok = pdf["tok_start"].to_numpy(), pdf["n_tok"].to_numpy()
    assert starts[0] == 0
    assert ((starts[1:] - starts[:-1]) == n_tok[:-1]).all()


def test_curate_with_redaction(spark, docs):
    from feature_extractor_spark.plans.tokens_pipeline import curate

    out = curate(docs, context_len=512, redact=True)
    cols = out.columns
    assert "text_redacted" in cols
    assert all(f"n_{k}" in cols for k in ("email", "ip", "ssn", "phone"))


def test_curate_tokens_repetition_filter(spark):
    """max_dup_gram_frac drops looping sequences from the tokens path."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    base = synth_tokens(spark, n_rows=100, n_docs=20)
    looping = base.limit(5).select(
        F.concat(F.lit("loop_"), F.col("doc_id")).alias("doc_id"),
        F.flatten(F.array_repeat(F.slice(F.col("tokens"), 1, 5), 8)).alias("tokens"),
        F.lit(40).alias("n_tok"),
        F.col("source"),
        (F.col("ts") + F.expr("INTERVAL 999 MINUTES")).alias("ts"),
    )
    df = base.unionByName(looping)

    kept = curate_tokens(df, context_len=256, max_dup_gram_frac=0.5)
    assert kept.filter(F.col("doc_id").startswith("loop_")).count() == 0
    loose = curate_tokens(df, context_len=256)
    assert loose.filter(F.col("doc_id").startswith("loop_")).count() > 0


def test_curate_tokens_chunking_option(spark):
    """chunk_max_len splits long sequences into bounded training rows
    (derived deterministic seq_ids), composing with eos_id and packing."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    df = synth_tokens(spark, n_rows=300, n_docs=30, min_tok=8, max_tok=64)
    out = curate_tokens(
        df, context_len=256, min_tok=8, chunk_max_len=24, chunk_overlap=0,
        eos_id=50256,
    ).persist()
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_tok"] <= 24 + 1  # chunk bound + the EOS slot
        assert r["tokens"][-1] == 50256
        assert r["n_tok"] == len(r["tokens"])
    # derived seq_ids stay unique
    assert out.select("seq_id").distinct().count() == len(rows)

    # with overlap=0 and no tails below min_tok=1... tails >= min_tok
    # survive; chunking multiplies rows vs the unchunked run
    base = curate_tokens(df, context_len=256, min_tok=8)
    assert len(rows) > base.count()

    # determinism across reruns (resume contract)
    again = curate_tokens(
        df, context_len=256, min_tok=8, chunk_max_len=24, chunk_overlap=0,
        eos_id=50256,
    ).select("seq_id", "tok_start")
    prev = out.select("seq_id", "tok_start")
    assert prev.exceptAll(again).count() == 0 and again.exceptAll(prev).count() == 0
    out.unpersist()


def test_curate_lm_filter(spark, docs):
    """lm_max_bits drops the least-corpus-like documents and keeps the
    pipeline schema intact."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.plans.tokens_pipeline import curate

    loose = curate(docs, context_len=512)
    cut = curate(docs, context_len=512, lm_max_bits=6.0)
    n_loose, n_cut = loose.count(), cut.count()
    assert 0 < n_cut <= n_loose
    assert "lm_bits_per_char" in cut.columns
    assert cut.agg(F.max("lm_bits_per_char")).first()[0] <= 6.0


def test_curate_c4_and_line_dedup_options(spark):
    """c4_rules drops no-terminal-punct pages; line_dedup_min_docs strips
    a corpus-wide banner BEFORE dedup so banner-sharing docs don't become
    near-dups of each other."""
    from feature_extractor_spark.plans.tokens_pipeline import curate

    banner = "Subscribe to our newsletter today folks"
    body = lambda i: " ".join(
        f"doc{i}word{j} and the sentence continues here." for j in range(12)
    )
    rows = [(f"d{i}", f"{banner}\n{body(i)}", "web") for i in range(4)]
    rows.append(("junk", "no punctuation no sentences here at all", "web"))
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")

    out = curate(
        docs, context_len=128, c4_rules=True, line_dedup_min_docs=3,
        near_dup_threshold=0.9,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # the junk page dies to the C4 sentence rule; the 4 real docs survive
    # individually (the shared banner was stripped pre-dedup)
    assert "junk" not in got
    assert set(got) == {f"d{i}" for i in range(4)}
    for r in got.values():
        assert banner not in r["text"]


def test_curate_unicode_norm_changes_dedup_identity(spark):
    """unicode_norm runs before dedup keying: a composed-vs-decomposed +
    zero-width-polluted twin of a doc is an exact dup after NFC cleanup
    and must collapse to the min-id survivor; without the option both
    survive (the failure mode the stage exists to prevent)."""
    body = " ".join(
        f"caf\u00e9 menu word{j} and the sentence continues here."
        for j in range(12)
    )
    twin = "\u200b" + body.replace("caf\u00e9", "cafe\u0301")
    rows = [("a1", body, "web"), ("a2", twin, "web"),
            ("b1", "completely different text about other things entirely "
                   "with many distinct words in this sentence.", "web")]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")

    kept_raw = {r["doc_id"] for r in curate(docs, context_len=128).collect()}
    assert {"a1", "a2"} <= kept_raw  # invisible bytes defeat exact dedup

    kept = {r["doc_id"] for r in
            curate(docs, context_len=128, unicode_norm="NFC").collect()}
    assert "a1" in kept and "a2" not in kept and "b1" in kept


def test_curate_stage_counts_observability(spark):
    """stage_counts rides the single caller action (observe, no extra
    jobs) and reports a monotone non-increasing survivor funnel whose
    endpoints match the actual input/output row counts."""
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate,
        resolve_stage_counts,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts: dict = {}
    out = curate(docs, context_len=512, stage_counts=counts)
    n_out = out.count()  # the one action
    got = resolve_stage_counts(counts)
    # HLL distinct-ids: exact at this cardinality (and replay-idempotent
    # under the CC closure's eager jobs — a plain count double-tallies)
    assert abs(got["input"] - docs.count()) <= 5
    assert abs(got["output"] - n_out) <= 5
    funnel = [got[k] for k in
              ("input", "exact_dedup", "near_dup_dedup", "quality_filters",
               "output")]
    assert all(a + 5 >= b for a, b in zip(funnel, funnel[1:])), funnel
    assert "lm_filter" not in got and "decontamination" not in got


def test_curate_tokens_stage_counts(spark):
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate_tokens,
        resolve_stage_counts,
    )
    from feature_extractor_spark.sources.tokens import synth_tokens

    toks = synth_tokens(spark, n_rows=2000, n_docs=50)
    counts: dict = {}
    out = curate_tokens(toks, context_len=256, stage_counts=counts)
    n = out.count()
    got = resolve_stage_counts(counts)
    assert abs(got["input"] - 2000) <= 20  # HLL rsd
    assert abs(got["output"] - n) <= 20
    order = ["input", "exact_dedup", "near_dup_dedup", "token_filters", "output"]
    vals = [got[k] for k in order]
    assert all(a + 20 >= b for a, b in zip(vals, vals[1:])), vals


def test_curate_tokens_exact_span_stage(spark):
    """exact_span_min_len in curate_tokens cuts a duplicated token span
    before dedup identity — both host sequences survive (remainders
    differ) with the span gone and n_tok recomputed."""
    import numpy as np

    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens

    rng = np.random.default_rng(11)
    span = [int(x) for x in rng.integers(10_000, 50_000, size=25)]
    mk = lambda pre, post: pre + span + post
    rows = [
        ("a", 1, mk([1, 2, 3, 4, 5, 6, 7, 8], [9, 10]), "web"),
        ("b", 2, mk([20, 21, 22, 23, 24, 25, 26], [27, 28, 29]), "web"),
        ("c", 3, [int(x) for x in rng.integers(0, 9_000, size=40)], "web"),
    ]
    df = spark.createDataFrame(
        [(d, t, tok, len(tok), s) for d, t, tok, s in rows],
        "doc_id string, ts long, tokens array<int>, n_tok int, source string",
    )
    out = curate_tokens(
        df, context_len=32, min_tok=2, exact_span_min_len=20
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {"a", "b", "c"}
    toks = {r["doc_id"]: r["tokens"] for r in out}
    assert toks["a"] == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    assert toks["b"] == [20, 21, 22, 23, 24, 25, 26, 27, 28, 29]
    assert len(toks["c"]) == 40
    ntoks = {r["doc_id"]: r["n_tok"] for r in out}
    assert ntoks["a"] == 10 and ntoks["b"] == 10 and ntoks["c"] == 40


def test_pair_guard_dense_clique_raises_and_funnel_reports_pairs(spark):
    """VERDICT r6 item 2: a planted dense near-dup clique (40 docs of
    near-identical text -> ~all-pairs verified edges) must trip the
    max_pairs_per_doc guard with the offender ids in the message, while
    the unguarded run reports the pair count and max degree through the
    stage_counts funnel."""
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate,
        resolve_stage_counts,
    )

    base = " ".join(f"w{i}" for i in range(60))
    rows = [(i, f"{base} unique{i}", "web") for i in range(40)]
    # plus isolated docs that share nothing with the clique
    rows += [
        (100 + i, " ".join(f"z{i}x{j}" for j in range(40)), "web")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    with pytest.raises(ValueError, match="max_pairs_per_doc"):
        curate(docs, context_len=256, max_pairs_per_doc=10)

    counts: dict = {}
    out = curate(docs, context_len=256, stage_counts=counts,
                 max_pairs_per_doc=10_000)
    n_out = out.count()
    got = resolve_stage_counts(counts)
    # clique of 40: every member pairs with most others; one survivor
    assert got["near_dup_pairs"] >= 40 * 30 // 2
    assert got["near_dup_max_degree"] >= 30
    # closure telemetry rides the same funnel (r7): which path, edges
    assert got["cc_path"] == "driver" and got["cc_rounds"] == 0
    assert got["cc_n_edges"] >= 40 * 30 // 2
    assert n_out <= 1 + 10  # one clique survivor + the isolated docs


def test_pair_guard_no_extra_jobs_when_unset(spark):
    """With neither stage_counts nor max_pairs_per_doc the guard must be
    a passthrough — the pairs frame object is returned untouched."""
    from feature_extractor_spark.plans.tokens_pipeline import _pair_guard

    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert _pair_guard(df, "doc_id", None, None) is df


def test_curate_tokens_exact_dedup_windows_on_hash_key(spark):
    """VERDICT r6 item 4: the exact-dedup window shuffles on
    xxhash64(tokens) (an 8-byte key), not on the raw multi-KB array."""
    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    toks = synth_tokens(spark, n_rows=300, n_docs=20)
    # packing="ffd": contiguous packing's scan checkpoints its range
    # partitioning, which hides the upstream subtree behind a Scan
    # ExistingRDD in the plan STRING; the exact-dedup stage this test
    # pins is the same under either packing
    out = curate_tokens(toks, context_len=256, packing="ffd")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r10: the window's exchange is the user pre-repartition on the SAME
    # two xxhash64 keys (AQE-exempt, cluster-width — see curate_tokens);
    # the window's _w0/_w1 projection sits ABOVE it with no second
    # exchange. The r6 invariant is unchanged: every exchange keys on
    # the 8-byte hashes, never on the raw multi-KB token array.
    assert "xxhash64(tokens" in plan, plan
    assert "hashpartitioning(xxhash64(tokens" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "hashpartitioning(_w0#" not in plan, plan  # no second exchange
    assert "hashpartitioning(tokens#" not in plan, plan


def test_curate_tokens_ffd_packing_option(spark):
    """packing='ffd' swaps the contiguous prefix-sum packing for whole-
    sequence capacity bins: every non-oversize bin fits context_len, no
    sequence is split, and the funnel still reports endpoints."""
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate_tokens,
        resolve_stage_counts,
    )
    from feature_extractor_spark.sources.tokens import synth_tokens

    toks = synth_tokens(spark, n_rows=1500, n_docs=40)
    counts: dict = {}
    out = curate_tokens(
        toks, context_len=128, min_tok=8, packing="ffd", stage_counts=counts
    ).persist()
    n = out.count()
    assert n > 0
    got = resolve_stage_counts(counts)
    assert abs(got["output"] - n) <= 20
    assert "bin_id" in out.columns and "spans_boundary" not in out.columns
    viol = (
        out.filter(~F.col("oversize"))
        .groupBy("bin_id")
        .agg(F.sum("n_tok").alias("fill"))
        .filter(F.col("fill") > 128)
        .count()
    )
    assert viol == 0
    # sequences are whole rows: token arrays untouched by packing
    assert out.filter(F.size("tokens") != F.col("n_tok")).count() == 0
    # packing efficiency rides the funnel (VERDICT r7 item 7): the
    # observed fill_ratio/n_bins must match a direct recomputation on
    # the output (HLL distinct-count tolerance on n_bins)
    true_bins = out.select("bin_id").distinct().count()
    true_fill = (
        out.filter(~F.col("oversize"))
        .groupBy("bin_id")
        .agg(F.sum("n_tok").alias("f"), F.first("bin_capacity").alias("c"))
        .agg((F.sum("f") / F.sum("c")).alias("r"))
        .first()["r"]
    )
    assert abs(got["packing_n_bins"] - true_bins) <= max(2, 0.03 * true_bins)
    assert got["packing_n_oversize_bins"] == 0
    assert abs(got["packing_fill_ratio"] - true_fill) < 1e-6
    out.unpersist()

    # the bad value is rejected before any Spark job runs
    with JobCount(spark) as jobs, pytest.raises(ValueError, match="packing"):
        curate_tokens(toks, packing="zip")
    assert jobs.n == 0


def test_curate_text_path_ffd_packing_option(spark, docs):
    """packing='ffd' on the TEXT path: whole documents binned to
    context_len capacity, no prefix-sum coordinates, funnel intact."""
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate,
        resolve_stage_counts,
    )

    counts: dict = {}
    out = curate(
        docs, context_len=512, packing="ffd", stage_counts=counts
    ).persist()
    n = out.count()
    assert n > 0
    got = resolve_stage_counts(counts)
    assert abs(got["output"] - n) <= 10
    assert "bin_id" in out.columns and "tok_start" not in out.columns
    viol = (
        out.filter(~F.col("oversize"))
        .groupBy("bin_id")
        .agg(F.sum("n_tok").alias("fill"))
        .filter(F.col("fill") > 512)
        .count()
    )
    assert viol == 0
    out.unpersist()
    with JobCount(spark) as jobs, pytest.raises(ValueError, match="packing"):
        curate(docs, packing="zip")
    assert jobs.n == 0


def test_exact_dedup_window_key_is_two_independent_hashes(spark):
    """r8 review pin: the exact-dedup window must partition on TWO hash
    expressions with the seed literal FIRST in the second —
    xxhash64(tokens, lit) is a pure function of xxhash64(tokens) (Spark
    chains multi-arg hashes left to right), so lit-last would silently
    collapse the key back to 64 bits."""
    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens

    toks = synth_tokens(spark, n_rows=200, n_docs=20)
    # packing="ffd" keeps the upstream subtree visible in the plan string
    # (see the hash-key pin above)
    out = curate_tokens(toks, context_len=128, min_tok=1, packing="ffd")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = [
        l for l in plan.splitlines()
        if "xxhash64(tokens#" in l and "xxhash64(2654435769, tokens#" in l
    ]
    # the rank-1 window's projected keys: the plain hash AND the
    # re-seeded hash with the literal FIRST must appear side by side
    # in one Project (seed-last would print xxhash64(tokens#, 2654...))
    assert lines, plan


def test_stage_counts_survive_fully_empty_stream(spark, docs):
    """r8 soak finding: when a pre-clean stage empties the corpus, AQE's
    empty-relation propagation eliminates CollectMetrics nodes and
    Observation.get raises a JVM assertion — resolve_stage_counts must
    map those stages to 0 (zero rows provably flowed), never propagate
    the internal error. c4_rules on the synthetic word-lattice text
    (no terminal punctuation) is exactly such a config."""
    from feature_extractor_spark.plans.tokens_pipeline import (
        curate,
        resolve_stage_counts,
    )

    counts: dict = {}
    out = curate(docs, c4_rules=True, context_len=512, stage_counts=counts)
    assert out.count() == 0
    got = resolve_stage_counts(counts)  # must not raise
    assert got["output"] == 0
    assert all(
        isinstance(vv, (int, float, str)) or vv is None for vv in got.values()
    ), got
