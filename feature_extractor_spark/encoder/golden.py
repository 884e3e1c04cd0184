"""Golden-weight transformer AE: the reference's trained test models
(/root/reference/tests/models/{encoder,decoder}_model_transformer_va.h5.keras)
loaded through the pure-Python HDF5 reader and executed in NumPy.

The saved graphs (keras 2.10, recovered from each file's model_config):

encoder (B, 1, 8) -> (B, 16):
    x + concat-positional-encoding(1, 8)
    -> Dense(128, linear)
    -> MultiHeadAttention(head_num=8, activation=relu)   [keras-multi-head]
    -> LayerNormalization
    -> FFN: Dense(64, tanh) -> Dense(128, linear), residual Add
    -> LayerNormalization -> Flatten -> Dense(16, linear)

decoder (B, 16) -> (B, 1, 8):
    RepeatVector(1) -> Dense(128, tanh) -> + pos-enc -> Dense(16, linear)
    -> MHA(head_num=2, relu) -> LN -> FFN(8 tanh -> 16) + Add -> LN
    -> Dense(128, linear) -> MHA(head_num=8, relu) -> LN
    -> FFN(64 tanh -> 128) + Add -> LN -> Flatten -> Dense(8, linear)
    -> Reshape(1, 8)

The MultiHeadAttention here is NOT keras.layers.MultiHeadAttention: the
config keys (head_num, history_only) and flat Wq/Wk/Wv/Wo weights identify
the public CyberZHG keras-multi-head layer (MIT). Its inference semantics
(reimplemented from the documented behavior, no code copied): project
q/k/v with full-width matrices + bias, apply the activation to each
projection, split into heads, scaled-dot-product attention per head
(scale 1/sqrt(d/H)), merge heads, output projection + bias, activation
again on the output.

Because the running environment has no TensorFlow, parity is established
structurally (every stored weight consumed exactly once, shape-checked
against the recovered config) and behaviorally (deterministic outputs,
batch invariance, golden output checksums pinned in tests).
"""

from __future__ import annotations

import numpy as np

from feature_extractor_spark.encoder.h5_reader import keras_weights
from feature_extractor_spark.encoder.layers import (
    ACTIVATIONS,
    DTYPE,
    _softmax_last,
    layer_norm,
    positional_encoding_concat,
)

GOLDEN_DIR = "/root/reference/tests/models"
ENCODER_PATH = f"{GOLDEN_DIR}/encoder_model_transformer_va.h5.keras"
DECODER_PATH = f"{GOLDEN_DIR}/decoder_model_transformer_va.h5.keras"

_relu = ACTIVATIONS["relu"]


def cyberzhg_mha(x: np.ndarray, w: dict, name: str, head_num: int) -> np.ndarray:
    """keras-multi-head MultiHeadAttention inference (self-attention),
    activation=relu as stored in the golden config."""
    g = lambda suffix: w[name][f"{name}/{name}_{suffix}:0"]  # noqa: E731
    q = _relu(x @ g("Wq") + g("bq"))
    k = _relu(x @ g("Wk") + g("bk"))
    v = _relu(x @ g("Wv") + g("bv"))
    B, T, d = q.shape
    dk = d // head_num
    # split heads: (B, T, H, dk) -> (B, H, T, dk)
    qs = q.reshape(B, T, head_num, dk).transpose(0, 2, 1, 3)
    ks = k.reshape(B, T, head_num, dk).transpose(0, 2, 1, 3)
    vs = v.reshape(B, T, head_num, dk).transpose(0, 2, 1, 3)
    att = _softmax_last((qs @ ks.transpose(0, 1, 3, 2)) / np.sqrt(DTYPE(dk)))
    y = (att @ vs).transpose(0, 2, 1, 3).reshape(B, T, d)
    return _relu(y @ g("Wo") + g("bo")).astype(DTYPE, copy=False)


def _dense(x, w, name, act=None):
    y = x @ w[name][f"{name}/kernel:0"] + w[name][f"{name}/bias:0"]
    if act == "tanh":
        y = np.tanh(y)
    elif act == "relu":
        y = _relu(y)
    return y.astype(DTYPE, copy=False)


def _ln(x, w, name):
    return layer_norm(
        x, w[name][f"{name}/gamma:0"], w[name][f"{name}/beta:0"], eps=1e-3
    )


def load_golden_encoder(path: str = ENCODER_PATH) -> dict:
    return keras_weights(path)


def load_golden_decoder(path: str = DECODER_PATH) -> dict:
    return keras_weights(path)


def golden_transformer_encode(x: np.ndarray, w: dict) -> np.ndarray:
    """(B, 1, 8) float32 -> (B, 16) latent, with the trained weights."""
    x = x.astype(DTYPE, copy=False)
    B, T, F = x.shape
    z = x + positional_encoding_concat(T, F)[None, :, :]
    z = _dense(z, w, "dense")  # 128, linear
    z = cyberzhg_mha(z, w, "multi_head_attention", head_num=8)
    z = _ln(z, w, "layer_normalization")
    f = _dense(z, w, "dense_1", act="tanh")  # 64
    f = _dense(f, w, "dense_2")  # 128 linear
    z = _ln(z + f, w, "layer_normalization_1")
    flat = z.reshape(B, -1)
    out = flat @ w["dense_3"]["dense_3/kernel:0"] + w["dense_3"]["dense_3/bias:0"]
    return out.astype(DTYPE, copy=False)


def golden_transformer_decode(z: np.ndarray, w: dict) -> np.ndarray:
    """(B, 16) latent -> (B, 1, 8) reconstruction, trained weights."""
    z = z.astype(DTYPE, copy=False)
    B = z.shape[0]
    x = z[:, None, :]  # RepeatVector(1)
    x = _dense(x, w, "dense_4", act="tanh")  # 128
    x = x + positional_encoding_concat(1, x.shape[-1])[None, :, :]
    x = _dense(x, w, "dense_5")  # 16 linear
    x = cyberzhg_mha(x, w, "multi_head_attention_1", head_num=2)
    x = _ln(x, w, "layer_normalization_2")
    f = _dense(x, w, "dense_6", act="tanh")  # 8
    f = _dense(f, w, "dense_7")  # 16
    x = _ln(x + f, w, "layer_normalization_3")
    x = _dense(x, w, "dense_8")  # 128
    x = cyberzhg_mha(x, w, "multi_head_attention_2", head_num=8)
    x = _ln(x, w, "layer_normalization_4")
    f = _dense(x, w, "dense_9", act="tanh")  # 64
    f = _dense(f, w, "dense_10")  # 128
    x = _ln(x + f, w, "layer_normalization_5")
    flat = x.reshape(B, -1)
    out = flat @ w["dense_11"]["dense_11/kernel:0"] + w["dense_11"]["dense_11/bias:0"]
    return out.reshape(B, 1, 8).astype(DTYPE, copy=False)


EXPECTED_ENCODER_SHAPES = {
    ("dense", "dense/kernel:0"): (8, 128),
    ("dense", "dense/bias:0"): (128,),
    ("multi_head_attention", "multi_head_attention/multi_head_attention_Wq:0"): (128, 128),
    ("multi_head_attention", "multi_head_attention/multi_head_attention_Wk:0"): (128, 128),
    ("multi_head_attention", "multi_head_attention/multi_head_attention_Wv:0"): (128, 128),
    ("multi_head_attention", "multi_head_attention/multi_head_attention_Wo:0"): (128, 128),
    ("layer_normalization", "layer_normalization/gamma:0"): (128,),
    ("dense_1", "dense_1/kernel:0"): (128, 64),
    ("dense_2", "dense_2/kernel:0"): (64, 128),
    ("layer_normalization_1", "layer_normalization_1/gamma:0"): (128,),
    ("dense_3", "dense_3/kernel:0"): (128, 16),
}


def golden_encode_stage(
    df,
    feature_cols: list[str],
    keep_cols: list[str] | None = None,
    encoder_path: str = ENCODER_PATH,
):
    """Distributed golden-encoder forward through ``stage.model_stage``: 8
    scalar feature columns form the (B, 1, 8) per-step input, emitted as
    ``z_latent`` (B, 16)."""
    from feature_extractor_spark.encoder.stage import model_stage

    assert len(feature_cols) == 8, "golden encoder takes 8 features per step"
    keep = keep_cols or [c for c in df.columns if c not in feature_cols]
    return model_stage(
        df.select(*keep, *feature_cols), load_golden_encoder(encoder_path),
        keep, [], feature_cols,
        lambda _, x, w: (golden_transformer_encode(x[:, None, :], w),),
        ["z_latent"],
    )
