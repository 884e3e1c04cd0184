"""Sequence packing (operators/packing.py): two-phase global prefix sum
vs a pandas cumsum oracle, partition-count invariance, per-group variant,
interior-bin fullness."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.operators.packing import pack_sequences, packing_stats
from feature_extractor_spark.sources.tokens import synth_tokens


@pytest.fixture(scope="module")
def tok(spark):
    return synth_tokens(spark, n_rows=2000, n_docs=30, heavy_share=4).select(
        "doc_id", F.unix_timestamp("ts").alias("k"), "n_tok", "source"
    )


def _oracle(pdf: pd.DataFrame, ctx: int, by=None) -> pd.DataFrame:
    pdf = pdf.sort_values("k", kind="mergesort").reset_index(drop=True)
    if by:
        pdf["tok_start"] = (
            pdf.groupby(by)["n_tok"].cumsum() - pdf["n_tok"]
        )
    else:
        pdf["tok_start"] = pdf["n_tok"].cumsum() - pdf["n_tok"]
    pdf["bin_id"] = pdf["tok_start"] // ctx
    pdf["bin_pos"] = pdf["tok_start"] % ctx
    pdf["spans_boundary"] = (pdf["bin_pos"] + pdf["n_tok"]) > ctx
    return pdf


@pytest.fixture(params=["2000", "4000-wide-small-sample"])
def packing_input(request, spark, tok):
    if request.param == "2000":
        return tok
    request.getfixturevalue("small_range_sample")
    # the token arrays ride along as a wide payload the offsets branch prunes
    return synth_tokens(spark, n_rows=4000, n_docs=30, heavy_share=4).select(
        "doc_id", F.unix_timestamp("ts").alias("k"), "n_tok", "source", "tokens"
    )


def test_global_packing_matches_pandas(spark, packing_input):
    got = (
        pack_sequences(packing_input, "k", "n_tok", context_len=512)
        .orderBy("k")
        .toPandas()
    )
    exp = _oracle(packing_input.drop("tokens").toPandas(), 512)
    for c in ["tok_start", "bin_id", "bin_pos"]:
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())
    assert got["spans_boundary"].tolist() == exp["spans_boundary"].tolist()


def test_packing_partition_invariance(spark, tok):
    a = pack_sequences(tok.repartition(1), "k", context_len=512).orderBy("k").toPandas()
    b = pack_sequences(tok.repartition(13), "k", context_len=512).orderBy("k").toPandas()
    np.testing.assert_array_equal(a["tok_start"].to_numpy(), b["tok_start"].to_numpy())


def test_per_group_packing(spark, tok):
    got = (
        pack_sequences(tok, "k", context_len=512, partition_col="source")
        .orderBy("k")
        .toPandas()
    )
    exp = _oracle(tok.toPandas(), 512, by="source")
    np.testing.assert_array_equal(
        got["tok_start"].to_numpy(), exp["tok_start"].to_numpy()
    )


def test_interior_bins_exactly_full(spark, tok):
    """Contiguous packing fills every interior bin to the brim: tokens
    STARTING in bin b plus the carry-in from a spanning predecessor cover
    exactly context_len for all but the last bin."""
    ctx = 512
    packed = pack_sequences(tok, "k", context_len=ctx).orderBy("k").toPandas()
    total = packed["n_tok"].sum()
    n_bins = -(-int(total) // ctx)
    stats = packing_stats(
        spark.createDataFrame(packed[["bin_id", "n_tok", "spans_boundary"]])
    ).toPandas()
    assert stats["bin_id"].tolist() == list(range(n_bins))
    # reconstruct per-bin occupancy from coordinates: every position of
    # every interior bin is covered exactly once
    occ = np.zeros(n_bins * ctx, dtype=np.int64)
    for s, n in zip(packed["tok_start"], packed["n_tok"]):
        occ[s : s + n] += 1
    assert (occ[: int(total)] == 1).all()
    assert (occ[int(total) :] == 0).all()


# ---------------------------------------------------------------------------
# r7: padding-aware bin packing (best-fit-decreasing; ``packing="ffd"``
# in the curation paths)


def test_pack_bins_ffd_matches_python_oracle_single_shard(spark):
    from feature_extractor_spark.operators.packing import pack_bins

    items = [(f"s{i:03d}", n) for i, n in enumerate(
        [900, 100, 800, 300, 700, 650, 200, 2500, 60, 60, 60, 1024, 1024]
    )]
    df = spark.createDataFrame(items, "sid string, n_tok int")
    got = {
        r["sid"]: (r["bin_id"], r["bin_fill"], r["oversize"])
        for r in pack_bins(df, "sid", capacity=1024, n_shards=1).collect()
    }
    assert got == _py_bfd(items, 1024)


def test_pack_bins_ffd_capacity_and_determinism(spark):
    from feature_extractor_spark.operators.packing import (
        bin_packing_stats,
        pack_bins,
    )
    from feature_extractor_spark.sources.tokens import synth_tokens

    tok = synth_tokens(spark, n_rows=3000, n_docs=100).withColumn(
        "sid", F.concat("doc_id", F.lit("#"), F.col("ts").cast("string"))
    )
    out = pack_bins(tok, "sid", capacity=128, n_shards=16).persist()
    # capacity respected for every non-oversize bin
    viol = (
        out.filter(~F.col("oversize"))
        .groupBy("bin_id")
        .agg(F.sum("n_tok").alias("fill"))
        .filter(F.col("fill") > 128)
        .count()
    )
    assert viol == 0
    # bin_fill column equals the bin's actual total
    mismatch = (
        out.groupBy("bin_id")
        .agg(F.sum("n_tok").alias("f"), F.first("bin_fill").alias("bf"))
        .filter(F.col("f") != F.col("bf"))
        .count()
    )
    assert mismatch == 0
    # partitioning-independence: identical assignment after repartition
    again = {
        r["sid"]: r["bin_id"]
        for r in pack_bins(
            tok.repartition(7), "sid", capacity=128, n_shards=16
        ).collect()
    }
    assert {r["sid"]: r["bin_id"] for r in out.collect()} == again
    # packing efficiency: best fit with 8-64-token items into 128-slots should
    # fill well past naive one-seq-per-bin; sanity-floor at 85%
    stats = bin_packing_stats(out).collect()[0]  # capacity from bin_capacity col
    assert stats["fill_ratio"] > 0.85
    assert stats["n_seqs"] == 3000 and stats["n_oversize_bins"] == 0
    out.unpersist()


def test_pack_bins_ffd_oversize_singletons(spark):
    from feature_extractor_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [("a", 10), ("big", 99), ("b", 12)], "sid string, n_tok int"
    )
    got = {
        r["sid"]: r
        for r in pack_bins(df, "sid", capacity=32, n_shards=1).collect()
    }
    assert got["big"]["oversize"] and got["big"]["bin_fill"] == 99
    assert not got["a"]["oversize"] and got["a"]["bin_id"] == got["b"]["bin_id"]
    # the oversize bin is a singleton
    assert got["big"]["bin_id"] not in (got["a"]["bin_id"],)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_bfd(items, cap):
    """Best-fit-decreasing oracle: smallest fitting remainder, ties to the
    lowest bin id (mirrors pack_bins)."""
    fills, rems, out = [], [], {}
    for i, n in sorted(items, key=lambda x: (-x[1], x[0])):
        if n > cap:
            out[i] = (len(fills), True)
            fills.append(n)
            rems.append(-1)  # closed
            continue
        cands = [(r, b) for b, r in enumerate(rems) if 0 <= n <= r]
        if cands:
            r, b = min(cands)
            fills[b] += n
            rems[b] = r - n
        else:
            b = len(fills)
            fills.append(n)
            rems.append(cap - n)
        out[i] = (b, False)
    return {i: (b, fills[b], o) for i, (b, o) in out.items()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lengths=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=60),
    cap=st.integers(min_value=16, max_value=256),
)
def test_pack_bins_best_fit_property_matches_python(spark, lengths, cap):
    """Property: single-shard pack_bins is EXACTLY Python
    best-fit-decreasing (the O(n log n) scale path's bisect list must
    implement the same smallest-remainder/lowest-bin rule)."""
    from feature_extractor_spark.operators.packing import pack_bins

    items = [(f"s{i:03d}", n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(items, "sid string, n_tok int")
    got = {
        r["sid"]: (r["bin_id"], r["bin_fill"], r["oversize"])
        for r in pack_bins(df, "sid", capacity=cap, n_shards=1).collect()
    }
    assert got == _py_bfd(items, cap)


def test_pack_bins_pandas_stage_sees_no_payload(spark):
    """Plan pin (VERDICT r7 item 1): the applyInPandas packing stage
    must consume ONLY (__shard, id, n_tok) — the token-array payload
    stays JVM-side and re-joins on the id. The FlatMapGroupsInPandas
    node prints its function's input attributes, so a payload column
    leaking into the Arrow hop shows up right on that line."""
    from feature_extractor_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [(f"s{i}", 10 + i % 50, list(range(i % 7))) for i in range(50)],
        "sid string, n_tok int, tokens array<int>",
    )
    out = pack_bins(df, "sid", capacity=128, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    [fmg] = [l for l in plan.splitlines() if "FlatMapGroupsInPandas" in l]
    assert "tokens#" not in fmg, fmg
    # and the payload still comes out the other side, assignment intact
    assert out.filter(F.size("tokens") >= 0).count() == 50


def test_pack_bins_payload_invariance_and_capacity_column(spark):
    """The assignment is a pure function of (id, n_tok): adding payload
    columns must not change any bin id, and pack_bins carries the
    packing capacity as the bin_capacity column."""
    from feature_extractor_spark.operators.packing import pack_bins

    meta = [(f"s{i:02d}", 5 + (i * 37) % 90) for i in range(80)]
    narrow = spark.createDataFrame(meta, "sid string, n_tok int")
    wide = spark.createDataFrame(
        [(s, n, list(range(n)), f"src{i%3}") for i, (s, n) in enumerate(meta)],
        "sid string, n_tok int, tokens array<int>, source string",
    )
    a = {r["sid"]: (r["bin_id"], r["bin_fill"], r["oversize"])
         for r in pack_bins(narrow, "sid", capacity=96, n_shards=4).collect()}
    rows = pack_bins(wide, "sid", capacity=96, n_shards=4).collect()
    b = {r["sid"]: (r["bin_id"], r["bin_fill"], r["oversize"]) for r in rows}
    assert a == b
    assert all(r["bin_capacity"] == 96 for r in rows)
    # payload columns survive the join-back untouched
    assert all(len(r["tokens"]) == r["n_tok"] for r in rows)


def test_bin_packing_stats_capacity_misuse_raises(spark):
    """bin_packing_stats must be impossible to run against the wrong
    capacity: explicit capacity + bin_capacity column -> error; no
    column and no explicit capacity -> error; external frames without
    the column still work with an explicit value."""
    import pytest

    from feature_extractor_spark.operators.packing import (
        bin_packing_stats,
        pack_bins,
    )

    df = spark.createDataFrame(
        [(f"s{i}", 10 + i) for i in range(20)], "sid string, n_tok int"
    )
    packed = pack_bins(df, "sid", capacity=64, n_shards=2)
    with pytest.raises(ValueError, match="omit the capacity"):
        bin_packing_stats(packed, capacity=128)
    with pytest.raises(ValueError, match="no bin_capacity column"):
        bin_packing_stats(packed.drop("bin_capacity"))
    ext = bin_packing_stats(packed.drop("bin_capacity"), capacity=64).first()
    col = bin_packing_stats(packed).first()
    assert ext["n_slots"] == col["n_slots"] and ext["n_bins"] == col["n_bins"]


def test_pack_bins_default_shards_is_cluster_independent(spark):
    """ADVICE r7: the n_shards default must be a fixed constant, not
    derived from defaultParallelism — bin ids must not depend on the
    cluster that ran the job."""
    from feature_extractor_spark.operators import packing

    assert packing.DEFAULT_N_SHARDS == 1024
    import inspect

    src = inspect.getsource(packing.pack_bins)
    assert "defaultParallelism" not in src


def test_pack_bins_null_and_duplicate_ids_raise(spark):
    """r8 review: the join-back id contract is enforced loudly — a NULL
    id (would silently vanish from the inner join) and a duplicate id
    (would multiply rows) both raise inside the packing stage."""
    from feature_extractor_spark.operators.packing import pack_bins

    nulls = spark.createDataFrame(
        [("a", 5), (None, 7), ("b", 9)], "sid string, n_tok int"
    )
    with pytest.raises(Exception, match="NULL 'sid'"):
        pack_bins(nulls, "sid", capacity=32, n_shards=2).collect()
    dups = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 9)], "sid string, n_tok int"
    )
    with pytest.raises(Exception, match="duplicate 'sid'"):
        pack_bins(dups, "sid", capacity=32, n_shards=2).collect()


