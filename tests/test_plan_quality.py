"""Physical-plan invariants — the scale contract, enforced.

Correctness tests prove the values; these prove the PLAN is the one a
100 TB run needs: filters reach the parquet scan, projection prunes the
read schema, small dimensions broadcast, fact-fact joins stay sort-merge,
window stacks reuse one shuffle, and the hot relational path stays inside
whole-stage codegen. A refactor that silently de-optimizes any of these
still passes value tests — this file is what catches it."""

import re

import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.sources import load_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = load_table(spark, SF, "events")
    q = ev.filter(F.col("event_type") == "purchase").select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_column_pruning_reaches_read_schema(spark):
    ev = load_table(spark, SF, "events")
    q = ev.select("user_id", "value")
    plan = _plan(q)
    # only the projected columns are read — not ts/event_type/event_id
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "user_id" in read_schema and "value" in read_schema
    assert "event_type" not in read_schema and "ts" not in read_schema


def test_q3_broadcasts_dims_and_sort_merges_facts(spark):
    from feature_extractor_spark.plans import ENTRY_QUERIES

    q = ENTRY_QUERIES["q3_revenue_by_nation"](spark, SF)
    plan = _plan(q)
    n_bc = plan.count("BroadcastHashJoin")
    # dims ALWAYS broadcast; the fact-fact join is sort-merge at scale but
    # Spark may legitimately broadcast it at tiny SF (orders fits under the
    # threshold) — accept either, reject a shuffled dim join
    assert n_bc >= 2
    assert "SortMergeJoin" in plan or n_bc == 3


def test_window_stack_reuses_one_shuffle(spark):
    """lag + lead + rolling mean + row_number over the same
    (entity, ts) ordering must plan exactly ONE exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    q = (
        ev.withColumn("l1", F.lag("value").over(w))
        .withColumn("f1", F.lead("value").over(w))
        .withColumn("m4", F.avg("value").over(w.rowsBetween(-3, 0)))
        .withColumn("pos", F.row_number().over(w))
    )
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 1


def test_relational_core_stays_in_codegen(spark):
    """q1 (scan+filter+agg) must be fully inside WholeStageCodegen spans —
    no interpreted expression islands in the hot path."""
    from feature_extractor_spark.plans import ENTRY_QUERIES

    q = ENTRY_QUERIES["q1_pricing_summary"](spark, SF)
    # .write executes a COPY of the plan; collect() finalizes AQE on THIS
    # queryExecution so codegen spans become visible
    q.collect()
    plan = _plan(q)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string; both
    # the partial and final aggregates must carry one
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


def test_normalize_broadcast_join_is_broadcast(spark):
    from feature_extractor_spark.plans import ENTRY_QUERIES

    q = ENTRY_QUERIES["j4_normalize_broadcast"](spark, SF)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_minhash_shingle_build_not_duplicated(spark):
    """The word-hash subtree must appear exactly once in the cached
    shingle-table plan — CollapseProject inlining it into every
    element_at made the build quadratic (the round-3 regression)."""
    docs = load_table(spark, SF, "documents")
    from feature_extractor_spark.operators.dedup import _hashed_shingle_table

    wh_tbl, sh = _hashed_shingle_table(docs, "doc_id", "text", 3)
    try:
        # exactly ONE xxhash64 (inside the cached word-hash projection);
        # CollapseProject inlining it into the element_at lambdas made the
        # build quadratic (6 copies) before the persist barrier
        n = _optimized(sh).count("xxhash64")
        assert n == 1, f"word-hash subtree duplicated: {n} xxhash64 nodes"
    finally:
        wh_tbl.unpersist()


@pytest.mark.parametrize("table", ["events", "documents", "embeddings"])
def test_limit_does_not_full_scan(spark, table):
    df = load_table(spark, SF, table).limit(5)
    assert "GlobalLimit" in _plan(df) or "CollectLimit" in _plan(df)


def test_lsh_rerank_uses_gemm_not_hof_dot(spark):
    """lsh_bucketed_topk candidate scoring must be the Arrow GEMM kernel
    (MapInPandas), not the interpreted zip_with/aggregate dot product —
    Catalyst does not codegen HOF lambda bodies, so a regression to the
    expression dot is ~10x per candidate at scale."""
    from feature_extractor_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 0)
    out = lsh_bucketed_topk(q, emb, "vec_id", "embedding", k=3, dim=64)
    opt = _optimized(out)
    assert "MapInPandas" in opt
    # the scoring projection above the candidate join must not re-introduce
    # an aggregate(zip_with(...)) cosine; signature banding HOFs live BELOW
    # the join, so check the segment above the MapInPandas node
    above = opt.split("MapInPandas")[0]
    assert "zip_with" not in above and "aggregate(" not in above


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed+sorted on the join key must join with NO
    Exchange on either side (the write-once / join-forever trade for the
    tokens table): bucket pruning is the whole point — a refactor that
    drops the bucket spec reintroduces the dominant shuffle silently."""
    from feature_extractor_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    agg = ev.groupBy("user_id").count()
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(ev, "t_ev_bucketed", "user_id", n_buckets=8)
        write_bucketed(agg, "t_agg_bucketed", "user_id", n_buckets=8)
        # AQE off for a stable plan string (it rewrites SMJ at runtime);
        # broadcast off because this test models the FACT-FACT case where
        # neither side fits in memory — at sf0.01 the planner would
        # otherwise just broadcast the small side and skip bucketing
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = read_bucketed(spark, "t_ev_bucketed")
        b = read_bucketed(spark, "t_agg_bucketed")
        joined = a.join(b, "user_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == ev.count()

        # control: the same join from plain (non-bucketed) frames shuffles
        plain = ev.join(agg, "user_id")
        assert "Exchange" in _plan(plain)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS t_ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_agg_bucketed")


def test_c4_clean_stays_map_side_jvm(spark):
    """C4 page cleaning must plan with NO exchange and NO Python eval —
    pure whole-stage-codegen expressions."""
    from feature_extractor_spark.functions.text import c4_clean

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(c4_clean(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # neither Batch- nor ArrowEvalPython


def test_line_dedup_corpus_no_python_hashed_shuffle(spark):
    """Corpus line dedup: no Python stages anywhere; line text must not
    ride the count-side shuffle (only the 64-bit __lh hash does)."""
    from feature_extractor_spark.operators.dedup import line_dedup_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = line_dedup_corpus(docs, min_docs=2)
    plan = _plan(out)
    assert "EvalPython" not in plan
    opt = _optimized(out)
    # the distinct/count branch projects (doc_id, __lh) only — the __line
    # payload is pruned before that aggregate's exchange
    agg_side = opt.split("Aggregate")[-1]
    assert "__lh" in agg_side


def test_seasonal_decompose_single_entity_shuffle(spark):
    """All four window families (trend MAs, phase index, per-phase mean,
    entity mean) must reuse ONE hash exchange on the entity key."""
    from feature_extractor_spark.functions.decompose import seasonal_decompose

    df = spark.range(1000).select(
        F.concat(F.lit("e"), (F.col("id") % 5).cast("string")).alias("doc_id"),
        F.col("id").alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    plan = _plan(seasonal_decompose(df, period=24))
    assert plan.count("Exchange hashpartitioning") == 1


def test_duplicate_span_machinery_plan_shape(spark):
    """ExactSubstr span removal (r6): the shared mark/merge plan must be
    all-JVM (no Python stages), shuffle grams only as 64-bit hashes, and
    reuse ONE doc-key hash exchange across the island window and both
    span groupBys."""
    from feature_extractor_spark.functions.text import words
    from feature_extractor_spark.operators.dedup import (
        _duplicate_span_arrays,
        combine_word_hashes,
        word_hashes,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wh = docs.select(
        "doc_id", words(F.col("text")).alias("__ws")
    ).withColumn("__wh", word_hashes(F.col("__ws")))
    pos = wh.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                combine_word_hashes(F.col("__wh"), 20).alias("g1"),
                combine_word_hashes(F.col("__wh"), 20, variant=1).alias("g2"),
            )
        ).alias("__pos", "__g"),
    )
    out = _duplicate_span_arrays(pos, "doc_id", 20, 2)
    plan = _plan(out)
    assert "EvalPython" not in plan
    # ONE doc-key exchange: window sort partitioning satisfies both the
    # (doc, island) and (doc) groupBys downstream
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    # the dup-gram aggregate shuffles on the 64-bit gram hash only
    assert plan.count("Exchange hashpartitioning(__g") == 1


def test_curate_pack_barrier_single_materialization(spark):
    """curate's packing scan has ONE barrier: pack_sequences' two branches
    (full-width local window + pruned per-partition offsets) both read the
    same checkpointed range partitioning. Two exchanges would draw two
    range-bound samples and disagree on row partitions (overlapping
    offsets), and a live parquet scan would mean the dedup/filter
    pipeline re-executes per branch. Same with the stage_counts funnel,
    whose observe() nodes report when the checkpoint runs its stages."""
    from feature_extractor_spark.plans.tokens_pipeline import curate

    def rdd_scans(df):
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        nodes = [leaves.apply(i) for i in range(leaves.size())]
        return [
            n.rdd().id() for n in nodes
            if n.getClass().getSimpleName() == "RDDScanExec"
        ]

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for counts in (None, {}):
        out = curate(docs, context_len=512, stage_counts=counts)
        out.write.format("noop").mode("overwrite").save()
        scans = rdd_scans(out)
        assert len(scans) == 2 and len(set(scans)) == 1, scans
        assert "Scan parquet" not in _plan(out)
        assert "InMemoryTableScan" not in _plan(out)


def _routed_featurize_inputs(spark, path):
    """Parquet events (key h holds half the rows) and purchases."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("h" if i % 2 else f"k{i % 13}", t + dt.timedelta(minutes=i), float(i))
         for i in range(600)],
        "doc_id string, ts timestamp, value double",
    ).write.parquet(f"{path}/events")
    spark.createDataFrame(
        [("h" if i % 2 else f"k{i % 13}", t + dt.timedelta(minutes=7 * i), 1.0)
         for i in range(60)],
        "doc_id string, ts timestamp, aux double",
    ).write.parquet(f"{path}/purchases")
    return spark.read.parquet(f"{path}/events"), spark.read.parquet(f"{path}/purchases")


def _routed_featurize_static_plan(spark, tmp_path):
    """The executed plan, AQE off, of the auto as-of join and the fused
    stage with heavy key h over the parquet inputs."""
    from feature_extractor_spark.encoder import init_weights
    from feature_extractor_spark.operators.asof import asof_join
    from feature_extractor_spark.operators.fused import windowed_encode

    ev, pu = _routed_featurize_inputs(spark, tmp_path)
    w = init_weights(window_size=8, n_features=2, latent_dim=4)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE off: the static plan, as written, before any stage runs
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined = asof_join(ev, pu, on="ts", by="doc_id", strategy="auto",
                           heavy_keys=["h"]).na.fill({"aux": 0.0})
        z = windowed_encode(joined, "doc_id", "ts", ["value", "aux"], None, 8, w,
                            heavy_keys=["h"])
        return _plan(z)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_routed_featurize_static_plan_scan_count(spark, tmp_path):
    """The routed featurize plan scans the parquet inputs 5 times: both in
    the local LOCF, both again (heavy rows only) in the cell summary, which
    is its own chunk domain, and events (heavy rows only) in the fused
    stage's cell offsets. A separate chunk domain scanned both inputs once
    more (6); a light/heavy split above the as-of join plans its whole
    subtree once per branch (10)."""
    plan = _routed_featurize_static_plan(spark, tmp_path)
    assert plan.count("FileScan") <= 5, plan


def test_routed_featurize_row_numbers_reuse_asof_shuffle(spark, tmp_path):
    """The as-of LOCF exchange is on the heavy-cell expression, so the
    fused stage's row-number window over the same cells needs no shuffle
    of its own: 8 exchanges, none on an (entity, __cell) alias (10 while a
    chunk domain was aggregated apart from the summary and joined to it, 11
    when that window shuffled every row again)."""
    plan = _routed_featurize_static_plan(spark, tmp_path)
    assert plan.count("Exchange") <= 8, plan
    assert not re.search(r"hashpartitioning\(doc_id#\d+, __cell", plan), plan


def test_asof_auto_summary_is_hash_aggregate(spark, tmp_path):
    """The per-cell summary keeps fixed-width max_by buffers, so it is a
    hash aggregate; a struct-valued max(struct(ts, v)) plans a sort
    aggregate."""
    from feature_extractor_spark.operators.asof import asof_join

    ev, pu = _routed_featurize_inputs(spark, tmp_path)
    got = asof_join(ev, pu, on="ts", by="doc_id", strategy="auto", heavy_keys=["h"])
    assert got.count() == 600
    plan = _plan(got)
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_asof_no_cell_plan_is_one_window_over_one_shuffle(spark, tmp_path):
    """With no heavy key the as-of scan runs on no cell: union_locf and
    auto with ``[]`` plan the same single shuffle on the key and one
    window, and Catalyst prunes the cell summary, its carry and the stitch
    join (no aggregate, no join)."""
    from feature_extractor_spark.operators.asof import asof_join

    ev, pu = _routed_featurize_inputs(spark, tmp_path)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plans = [
            _plan(asof_join(ev, pu, on="ts", by="doc_id", **kw))
            for kw in ({"strategy": "union_locf"}, {"strategy": "auto", "heavy_keys": []})
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert re.search(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", plan), plan
        assert plan.count("Window ") == 1, plan
        assert "Aggregate" not in plan and "Join" not in plan, plan
    # the same plan up to expression and plan ids
    plain, auto = (re.sub(r"#\d+|plan_id=\d+", "", p) for p in plans)
    assert plain == auto, (plain, auto)


def test_exact_dedup_plan_is_one_window_over_one_shuffle(spark, sf_small):
    """The exact-dedup stage of both curation front ends: the repartition
    on the key at cluster width satisfies the rank window's distribution,
    so each plans 1 Exchange and 1 Window — for the md5 text key and for
    the two-hash token key."""
    from feature_extractor_spark.operators.dedup import _norm_text
    from feature_extractor_spark.plans.tokens_pipeline import _exact_dedup
    from feature_extractor_spark.sources.tokens import synth_tokens

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    seqs = synth_tokens(spark, n_rows=300, n_docs=20).withColumn(
        "seq_id", F.xxhash64("doc_id", "ts")
    )
    toks = F.col("tokens")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plans = [
            _plan(_exact_dedup(docs, "doc_id", [F.md5(_norm_text("text"))])),
            _plan(_exact_dedup(
                seqs, "seq_id",
                [F.xxhash64(toks), F.xxhash64(F.lit(0x9E3779B9), toks)],
            )),
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Window ") == 1, plan
