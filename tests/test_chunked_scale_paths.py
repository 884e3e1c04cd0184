"""Skew-proof scale paths must be semantically identical to the plain
per-entity paths: the fused stage's chunked window build and chunked
(two-phase scan) LOCF."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.encoder import init_weights
from feature_extractor_spark.functions.timeutil import epoch_seconds
from feature_extractor_spark.operators.asof import (
    _asof_union_locf_chunked,
    asof_join,
)
from feature_extractor_spark.operators.fused import windowed_encode
from feature_extractor_spark.operators.skew import detect_heavy_hitters


def _series(spark, n=200, entities=("a", "b")):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (e, base + dt.timedelta(hours=i), float(i) + (0.5 if e == "b" else 0.0))
        for e in entities
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id string, ts timestamp, value double")


def _fused(df, w, **kw):
    """Latents of ``windowed_encode`` over ``value``, sorted."""
    weights = init_weights(window_size=w, n_features=1, latent_dim=4)
    return (
        windowed_encode(df, "doc_id", "ts", ["value"], None, w, weights, **kw)
        .orderBy("doc_id", "ts")
        .toPandas()
    )


def _assert_same_latents(a, b):
    assert a["ts"].tolist() == b["ts"].tolist()
    za = np.asarray([np.asarray(v) for v in a["z_mean"]])
    zb = np.asarray([np.asarray(v) for v in b["z_mean"]])
    assert np.allclose(za, zb, rtol=1e-5, atol=1e-6)


@pytest.mark.parametrize("rows_per_chunk", [16, 33, 1000])
def test_chunked_windows_match_plain(spark, rows_per_chunk):
    """Entities cut into chunks (of exactly W rows, unaligned, and one per
    entity), numbered whole or on the heavy keys' 6 h cells (34 per
    entity here) == every entity in one chunk."""
    df = _series(spark)
    w = 16
    plain = _fused(df, w)
    assert len(plain) == 2 * (200 - w + 1)
    for heavy in (None, ["a", "b"]):
        chunked = _fused(df, w, rows_per_chunk=rows_per_chunk, heavy_keys=heavy)
        assert len(chunked) == len(plain)
        _assert_same_latents(plain, chunked)


def test_chunked_windows_rejects_tiny_chunks(spark):
    df = _series(spark, n=20)
    weights = init_weights(window_size=8, n_features=1, latent_dim=4)
    with pytest.raises(ValueError, match="rows_per_chunk"):
        windowed_encode(df, "doc_id", "ts", ["value"], None, 8, weights,
                        rows_per_chunk=4)


def _asof_fixtures(spark):
    rng = np.random.default_rng(11)
    base = dt.datetime(2024, 1, 1)
    left_rows, right_rows = [], []
    for k in ("a", "b", "c"):
        for t in sorted(rng.choice(50_000, size=300, replace=False)):
            left_rows.append((k, base + dt.timedelta(minutes=int(t)), float(t)))
        if k != "c":
            # sparse right side with long empty stretches (carry must cross
            # many empty chunks)
            for t in sorted(rng.choice(8_000, size=25, replace=False)):
                right_rows.append((k, base + dt.timedelta(minutes=int(t)), float(t) * 10))
    left = spark.createDataFrame(left_rows, "doc_id string, ts timestamp, lval double")
    right = spark.createDataFrame(right_rows, "doc_id string, ts timestamp, aux double")
    return left, right


@pytest.mark.parametrize("chunk_seconds", [3600, 86400])
@pytest.mark.parametrize("tolerance", [None, 36000])
def test_chunked_locf_matches_plain(spark, chunk_seconds, tolerance):
    left, right = _asof_fixtures(spark)
    plain = (
        asof_join(left, right, on="ts", by="doc_id", tolerance_seconds=tolerance)
        .orderBy("doc_id", "ts")
        .toPandas()
    )
    chunked = (
        _asof_union_locf_chunked(
            left, right, "ts", "doc_id", ["aux"], tolerance,
            F.floor(epoch_seconds(F.col("ts")) / chunk_seconds),
        )
        .orderBy("doc_id", "ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(plain, chunked)


def _skewed(spark, n_heavy=3000, n_light=50, n_entities=20):
    base = dt.datetime(2024, 1, 1)
    rows = [("heavy", base + dt.timedelta(minutes=i), float(i)) for i in range(n_heavy)]
    for e in range(n_entities):
        rows += [
            (f"light_{e}", base + dt.timedelta(minutes=7 * i), float(i) * 2)
            for i in range(n_light)
        ]
    return spark.createDataFrame(rows, "doc_id string, ts timestamp, value double")


def test_auto_windows_match_plain_on_skew(spark):
    """The production route: detected heavy hitters numbered on their time
    cells, 256-row chunks (12 of the heavy entity) == one chunk each."""
    df = _skewed(spark)
    w = 16
    heavy = detect_heavy_hitters(df, "doc_id", threshold_share=0.02)
    assert "heavy" in heavy
    plain = _fused(df, w)
    auto = _fused(df, w, heavy_keys=heavy, rows_per_chunk=256)
    assert len(plain) == len(auto) == (3000 - w + 1) + 20 * (50 - w + 1)
    _assert_same_latents(plain, auto)


def test_scan_row_numbers_match_global(spark):
    """The fused stage's row numbers == a global per-entity row_number: a
    heavy entity over seven 6 h cells (one row with a NULL ts), light
    entities as one NULL cell each, and a NULL entity."""
    from feature_extractor_spark.operators.fused import _chunk_assign
    from pyspark.sql import Window as W

    base = dt.datetime(2024, 1, 1)
    rows = [("heavy", base + dt.timedelta(minutes=5 * i)) for i in range(500)]
    rows.append(("heavy", None))
    for e in ("light_0", "light_1", None):
        rows += [(e, base + dt.timedelta(minutes=7 * i)) for i in range(30)]
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)], "i long, doc_id string, ts timestamp"
    )
    got = _chunk_assign(df, "doc_id", "ts", 16, 64, ["heavy"]).filter(~F.col("__ctx"))
    w = W.partitionBy("doc_id").orderBy("ts")
    exp = df.select("i", (F.row_number().over(w) - 1).alias("__rn_exp"))
    joined = got.join(exp, "i")
    assert joined.filter(~F.col("__rn").eqNullSafe(F.col("__rn_exp"))).count() == 0
    assert joined.count() == got.count() == df.count()


def test_auto_asof_matches_plain_on_skew(spark):
    df = _skewed(spark)
    right = df.filter(F.col("value") % 5 == 0).select(
        "doc_id", "ts", (F.col("value") * 10).alias("aux")
    )
    plain = asof_join(df, right, on="ts", by="doc_id").orderBy("doc_id", "ts").toPandas()
    auto = (
        asof_join(df, right, on="ts", by="doc_id", strategy="auto")
        .orderBy("doc_id", "ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(plain, auto)


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join on Zipf-skewed data, for inner and left,
    with and without heavy-key targeting."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.operators.skew import salted_join

    left = spark.range(2000).select(
        F.when(F.col("id") % 3 == 0, F.lit("heavy"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(300).select(
        F.when(F.col("id") % 4 == 0, F.lit("heavy"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 60).cast("string")))
        .alias("k"),
        F.col("id").alias("rv"),
    )
    exp_inner = left.join(right, "k").groupBy("k").count()
    got_inner = (
        salted_join(left, right, "k", heavy_keys=["heavy"], salt_buckets=8)
        .groupBy("k")
        .count()
    )
    assert got_inner.exceptAll(exp_inner).count() == 0
    assert exp_inner.exceptAll(got_inner).count() == 0

    exp_left = left.join(right, "k", "left").groupBy("k").count()
    got_left = (
        salted_join(left, right, "k", heavy_keys=["heavy"], how="left", salt_buckets=8)
        .groupBy("k")
        .count()
    )
    assert got_left.exceptAll(exp_left).count() == 0
    assert exp_left.exceptAll(got_left).count() == 0

    # salt-everything mode (small right side)
    got_all = salted_join(left, right, "k", salt_buckets=4).groupBy("k").count()
    assert got_all.exceptAll(exp_inner).count() == 0
    assert exp_inner.exceptAll(got_all).count() == 0


def test_salt_is_deterministic_across_evaluations(spark):
    """The salt must be a pure function of row content so a retried map
    task re-emits identical (key, salt) pairs. monotonically_increasing_id
    / rand() salts are forbidden: a lost-map-task recompute would reshuffle
    rows to different (key, salt) partitions after some reducers already
    fetched, silently duplicating or dropping rows. Evidence: evaluating
    the SAME salted plan twice (second run cannot reuse the first's
    shuffle files once we vary the action) yields identical per-row salt
    assignments, and the salt depends only on the salt_from columns."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.operators.skew import (
        _content_salt,
        salted_repartition,
    )

    df = spark.range(5000).select(
        F.concat(F.lit("d"), (F.col("id") % 7).cast("string")).alias("doc_id"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    salted = salted_repartition(df, "doc_id", salt_buckets=8, salt_from=["ts"])
    a = salted.select("doc_id", "ts", "__salt").orderBy("doc_id", "ts").collect()
    b = salted.select("doc_id", "ts", "__salt").orderBy("doc_id", "ts").collect()
    assert a == b
    # recomputing from a fresh, differently-partitioned copy of the same
    # rows (simulating a retry that re-reads the source) gives the same salt
    fresh = df.repartition(13).withColumn(
        "__salt", _content_salt(df, 8, ["ts"])
    )
    c = fresh.select("doc_id", "ts", "__salt").orderBy("doc_id", "ts").collect()
    assert a == c
    # every bucket is actually used (the salt does spread rows)
    used = {r["__salt"] for r in a}
    assert used == set(range(8))


def test_detect_heavy_hitters_top_k_is_exact(spark):
    """More distinct keys than the top-k bound ceil(1 / threshold_share):
    the top-k collect returns exactly the keys a full count over the same
    sample finds above the share, most frequent first."""
    # 30 %, 20 % and 10 % of the rows, the rest over 97 light keys
    bucket = F.col("id") % 20
    df = spark.range(0, 4000, numPartitions=4).select(
        F.when(bucket < 6, F.lit("h0"))
        .when(bucket < 10, F.lit("h1"))
        .when(bucket < 12, F.lit("h2"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
        .alias("doc_id")
    )
    share = 0.05  # the top 20 keys
    sample = df.sample(fraction=0.1, seed=42)
    counts = {r["doc_id"]: r["count"] for r in sample.groupBy("doc_id").count().collect()}
    assert len(counts) > 20
    total = sum(counts.values())
    want = sorted((k for k, n in counts.items() if n > share * total),
                  key=lambda k: -counts[k])
    assert want == ["h0", "h1", "h2"]
    assert detect_heavy_hitters(df, "doc_id", threshold_share=share) == want


def test_detect_heavy_hitters_share_is_strict(spark):
    """A key at exactly the threshold share is not heavy: the only key
    holds all of the sample, and the share 1 asks for more than that."""
    df = spark.range(0, 500).select(F.lit("only").alias("doc_id"))
    assert detect_heavy_hitters(df, "doc_id", threshold_share=1.0) == []
    assert detect_heavy_hitters(df, "doc_id", threshold_share=0.99) == ["only"]
