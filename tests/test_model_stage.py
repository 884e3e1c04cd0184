"""The Arrow model stage (``encoder/stage.model_stage``): every stage built
on it returns, row for row, the bits its NumPy function gives on the
collected input, and it is the encoder package's one ``mapInPandas``.

A float32 GEMM's bits depend on how many rows one call holds, so the
exact check runs one row per Arrow batch against the function applied to
each collected row alone. A second run at the session's batch size checks
that every output row stays with its own input (allclose, the reference
tolerance)."""

import contextlib
import os

import numpy as np
import pytest

from feature_extractor_spark.encoder import golden
from feature_extractor_spark.encoder.forward import (
    decoder_forward,
    encoder_forward,
    init_decoder_weights,
    init_weights,
)
from feature_extractor_spark.encoder.plugins import (
    init_vae_small,
    init_vae_small_decoder,
    vae_small_decode,
    vae_small_forward,
    vae_small_forward_full,
)
from feature_extractor_spark.encoder.stage import (
    decode_seq_stage,
    decode_stage,
    encode_stage,
)

ENCODER_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "feature_extractor_spark",
    "encoder",
)
W, F_IN, H, C = 16, 2, 4, 3
COND = [f"c{i}" for i in range(C)]
GOLDEN_FEATS = [f"g{i}" for i in range(8)]
N = 48


@contextlib.contextmanager
def _arrow_batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _f32(v) -> np.ndarray:
    """One collected array cell (nested cells come back as object arrays)
    -> flat float32."""
    a = np.asarray(v)
    if a.dtype == object:
        a = np.stack([np.asarray(e) for e in a])
    return a.astype(np.float32).reshape(-1)


def _frame(spark):
    """``row_id``; a nested W x F window; a non-zero h context; C scalar
    conditions; 8 scalar golden features; a flat 8-latent ``z_mean``."""
    rng = np.random.default_rng(7)
    rows = [
        (
            i,
            rng.standard_normal((W, F_IN)).tolist(),
            rng.standard_normal(H).astype(np.float32).tolist(),
            *rng.standard_normal(C).tolist(),
            *rng.uniform(0, 1, 8).tolist(),
            rng.standard_normal(8).astype(np.float32).tolist(),
        )
        for i in range(N)
    ]
    ddl = ", ".join(
        ["row_id long", "window array<array<double>>", "h_context array<float>"]
        + [f"{c} double" for c in COND + GOLDEN_FEATS]
        + ["z_mean array<float>"]
    )
    return spark.createDataFrame(rows, ddl)


def _golden_weights() -> dict:
    """Seeded weights in the layout ``golden_transformer_encode`` reads."""
    rng = np.random.default_rng(5)

    def t(*shape):
        return (rng.standard_normal(shape) / np.sqrt(shape[0])).astype(np.float32)

    w = {
        name: {f"{name}/kernel:0": t(d_in, d_out), f"{name}/bias:0": t(d_out)}
        for name, (d_in, d_out) in {
            "dense": (8, 128), "dense_1": (128, 64), "dense_2": (64, 128),
            "dense_3": (128, 16),
        }.items()
    }
    mha = "multi_head_attention"
    w[mha] = {}
    for p in "qkvo":
        w[mha][f"{mha}/{mha}_W{p}:0"] = t(128, 128)
        w[mha][f"{mha}/{mha}_b{p}:0"] = t(128)
    for ln in ("layer_normalization", "layer_normalization_1"):
        w[ln] = {f"{ln}/gamma:0": 1 + t(128), f"{ln}/beta:0": t(128)}
    for (layer, name), shape in golden.EXPECTED_ENCODER_SHAPES.items():
        assert w[layer][name].shape == shape, (layer, name)
    return w


def _encoder_case(plugin, log_var):
    if plugin is None:
        weights = init_weights(
            window_size=W, n_features=F_IN, rnn_hidden_dim=H,
            conditioning_dim=C, latent_dim=6,
        )
        fn = encoder_forward
    else:
        weights = init_vae_small(
            window_size=W, n_features=F_IN, rnn_hidden_dim=H,
            conditioning_dim=C, latent_dim=8, initial_conv_filters=32,
            lstm_units=8,
        )
        fn = vae_small_forward_full if log_var else vae_small_forward

    def stage(df):
        return encode_stage(
            df, weights, cond_cols=COND, keep_cols=["row_id"], plugin=plugin,
            log_var_col="z_log_var" if log_var else None,
        )

    def numpy(rows):
        x = np.stack([_f32(r) for r in rows["window"]]).reshape(len(rows), W, F_IN)
        h = np.stack([_f32(r) for r in rows["h_context"]])
        out = fn(x, h, rows[COND].to_numpy(dtype=np.float32), weights)
        return out if log_var else (out,)

    return stage, numpy, ["z_mean", "z_log_var"] if log_var else ["z_mean"]


def _decode_case():
    weights = init_decoder_weights(latent_dim=8, n_features=F_IN)

    def numpy(rows):
        z = np.stack([_f32(r) for r in rows["z_mean"]])
        return (decoder_forward(z, weights),)

    return (
        lambda df: decode_stage(df, weights, keep_cols=["row_id"]),
        numpy,
        ["reconstruction"],
    )


def _decode_seq_case():
    weights = init_vae_small_decoder(
        window_size=16, latent_dim=8, output_feature_dim=F_IN,
        rnn_hidden_dim=H, conditioning_dim=C, initial_conv_filters=32,
    )
    assert int(weights["meta"][6]) == 1  # W / 2^4 steps of 8 latents

    def numpy(rows):
        z = np.stack([_f32(r) for r in rows["z_mean"]]).reshape(len(rows), 1, 8)
        zeros_h = np.zeros((len(rows), H), np.float32)
        zeros_c = np.zeros((len(rows), C), np.float32)
        return (vae_small_decode(z, zeros_h, zeros_c, weights),)

    return (
        lambda df: decode_seq_stage(df, weights, keep_cols=["row_id"]),
        numpy,
        ["reconstruction"],
    )


def _golden_case(monkeypatch):
    weights = _golden_weights()
    monkeypatch.setattr(golden, "load_golden_encoder", lambda path=None: weights)

    def numpy(rows):
        x = rows[GOLDEN_FEATS].to_numpy(dtype=np.float32)[:, None, :]
        return (golden.golden_transformer_encode(x, weights),)

    return (
        lambda df: golden.golden_encode_stage(
            df, GOLDEN_FEATS, keep_cols=["row_id"]
        ),
        numpy,
        ["z_latent"],
    )


@pytest.mark.parametrize(
    "case",
    ["encoder_forward", "vae_small", "vae_small+log_var", "decoder_forward",
     "vae_small_decode", "golden_transformer_encode"],
)
def test_stage_rows_are_the_numpy_function_of_the_input(spark, monkeypatch, case):
    stage, numpy, out_cols = {
        "encoder_forward": lambda: _encoder_case(None, False),
        "vae_small": lambda: _encoder_case("vae_small", False),
        "vae_small+log_var": lambda: _encoder_case("vae_small", True),
        "decoder_forward": _decode_case,
        "vae_small_decode": _decode_seq_case,
        "golden_transformer_encode": lambda: _golden_case(monkeypatch),
    }[case]()
    df = _frame(spark)
    src = df.orderBy("row_id").toPandas()

    with _arrow_batch_rows(spark, 1):
        got = stage(df).orderBy("row_id").toPandas()
    assert list(got.columns) == ["row_id", *out_cols]
    assert got["row_id"].tolist() == src["row_id"].tolist()
    for i in range(N):
        want = numpy(src.iloc[i : i + 1])
        for col, arr in zip(out_cols, want):
            np.testing.assert_array_equal(_f32(got[col].iloc[i]), arr[0])

    batched = stage(df).orderBy("row_id").toPandas()
    assert batched["row_id"].tolist() == src["row_id"].tolist()
    for col, arr in zip(out_cols, numpy(src)):
        got_arr = np.stack([_f32(v) for v in batched[col]])
        np.testing.assert_allclose(got_arr, arr, rtol=1e-5, atol=1e-6)


def _source(name: str) -> str:
    with open(os.path.join(ENCODER_DIR, name)) as f:
        return f.read()


def test_one_arrow_model_stage():
    """``stage.model_stage`` is the one place the encoder package
    broadcasts a model and maps Arrow batches; ``golden`` goes through it."""
    stage, gold = _source("stage.py"), _source("golden.py")
    assert stage.count("mapInPandas(") == 1
    assert stage.count(".broadcast(") == 1
    assert "mapInPandas(" not in gold and ".broadcast(" not in gold
