"""Plugin registry + faithful NumPy forward graphs (SURVEY.md §2.9 U1-U3, U5).

The reference exposes its encoder/decoder architectures as named plugins
(/root/reference/setup.py:11-32, app/plugin_loader.py:12-48). This module is
the engine-side registry: the same names map to NumPy inference graphs that
reproduce each plugin's Keras layer stack exactly (layer math in layers.py).
TensorFlow isn't in this container, so weights are seeded (deterministic
PCG64), reproducing the ARCHITECTURE, not a particular trained model — the
parity target is batch-invariance + allclose against the same graph run
single-process, the reference's own save/load test standard
(encoder_plugin_vae_small.py:322).

Registered names and their reference source:

- ``vae_small`` — the CVAE per-step inference network
  (encoder_plugin_vae_small.py:110-219): RepeatVector(h)+RepeatVector(cond)
  concat -> concatenated sin/cos positional encoding (:15-28) -> 2-head
  MultiHeadAttention (key_dim=d//2) + residual + LayerNorm (:141-157) ->
  4x [Conv1D(k=3, stride=2, 'same') + LeakyReLU(0.2)] with halving filters
  128->64->32->16 (:162-178) -> BatchNormalization (:181) ->
  Bidirectional(LSTM(64, return_sequences)) (:183-191) -> TimeDistributed
  Dense heads z_mean/z_log_var (:201-210). Latents are SEQUENCES shaped
  (B, W/2^4, latent); inference uses z_mean (app/data_processor.py:662-671).
- ``ann`` / ``default`` — per-channel branches: Flatten -> 2x Dense(units,
  tanh) -> Reshape(units, 1), channel concat (encoder_plugin_ann.py:86-117).
- ``cnn`` — Conv1D(128, k=3, s=2, 'same', linear) -> Conv1D(64, k=3, s=2,
  'same', tanh) (encoder_plugin_cnn.py:88-117).
- ``vae`` — same two-conv stack as cnn (encoder_plugin_vae.py:85-110);
  separate seed stream.
- ``lstm`` — pos-enc -> 2-head MHA + residual + LayerNorm -> AvgPool1D(3,2,
  'same') -> BiLSTM(32) -> BiLSTM(32) -> AvgPool1D(3,2,'same')
  (encoder_plugin_lstm.py:110-160).
- ``transformer`` — pos-enc -> 2-head MHA + residual + LayerNorm ->
  Conv1D(128,3,2,'same',tanh) -> Conv1D(64,3,2,'same',tanh)
  (encoder_plugin_transformer.py:110-165).

``rnn`` and ``cnn_signed`` are declared in the reference's setup.py but the
plugin modules do not exist in the repo (dangling entry points) — requesting
them raises KeyError, mirroring what the reference itself would do.

Every forward has the uniform signature ``forward(x, h, cond, weights) ->
(B, D) float32``; legacy AE plugins (ann/cnn/lstm/transformer/vae) take only
the window and ignore h/cond, exactly like the reference's legacy
``Plugin.encode(data)``. Sequence outputs are flattened row-major for Arrow
transport; ``out_shape(weights)`` gives the logical (T', D') shape back.
"""

from __future__ import annotations

import numpy as np

from feature_extractor_spark.encoder.forward import encoder_forward
from feature_extractor_spark.encoder.layers import (
    DTYPE,
    avg_pool1d_same,
    batch_norm_inference,
    bilstm,
    bilstm_weights,
    conv1d_same,
    conv1d_transpose_same,
    dense,
    glorot,
    he_normal,
    layer_norm,
    leaky_relu,
    mha,
    mha_weights,
    positional_encoding_concat,
)


def _ceil_div(n: int, s: int) -> int:
    return -(-n // s)


# ---------------------------------------------------------------------------
# vae_small (the reference's production CVAE encoder)


def init_vae_small(
    window_size: int,
    n_features: int,
    rnn_hidden_dim: int = 4,
    conditioning_dim: int = 10,
    latent_dim: int = 8,
    initial_conv_filters: int = 128,
    num_conv_layers: int = 4,
    min_conv_filters: int = 16,
    lstm_units: int = 64,
    seed: int = 1234,
) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    d = n_features + rnn_hidden_dim + conditioning_dim
    w: dict[str, np.ndarray] = {}
    w.update(mha_weights(rng, d, heads=2, key_dim=max(1, d // 2), prefix="mha_"))
    w["ln_g"] = np.ones(d, dtype=DTYPE)
    w["ln_b"] = np.zeros(d, dtype=DTYPE)
    cin, filters, t = d, initial_conv_filters, window_size
    for i in range(num_conv_layers):
        w[f"conv{i}_k"] = he_normal(rng, 3, cin, filters)
        w[f"conv{i}_b"] = np.zeros(filters, dtype=DTYPE)
        cin, t = filters, _ceil_div(t, 2)
        filters = max(min_conv_filters, filters // 2)
    # BatchNorm at Keras init values (inference uses MOVING stats)
    w["bn_g"] = np.ones(cin, dtype=DTYPE)
    w["bn_b"] = np.zeros(cin, dtype=DTYPE)
    w["bn_mean"] = np.zeros(cin, dtype=DTYPE)
    w["bn_var"] = np.ones(cin, dtype=DTYPE)
    w.update(bilstm_weights(rng, cin, lstm_units, prefix="lstm_"))
    w["zmean_k"] = glorot(rng, 2 * lstm_units, latent_dim)
    w["zmean_b"] = np.zeros(latent_dim, dtype=DTYPE)
    w["zlogvar_k"] = glorot(rng, 2 * lstm_units, latent_dim)
    w["zlogvar_b"] = np.zeros(latent_dim, dtype=DTYPE)
    w["meta"] = np.array(
        [window_size, n_features, rnn_hidden_dim, conditioning_dim, latent_dim,
         num_conv_layers, t],  # t = output temporal dim W/2^N
        dtype=np.int64,
    )
    return w


def vae_small_seq(
    x: np.ndarray, h: np.ndarray, cond: np.ndarray, w: dict[str, np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Full faithful forward: (z_mean_seq, z_log_var_seq), each
    (B, W/2^N, latent)."""
    x = x.astype(DTYPE, copy=False)
    B, W, _ = x.shape
    n_conv = int(w["meta"][5])
    h_rep = np.repeat(h.astype(DTYPE)[:, None, :], W, axis=1)
    c_rep = np.repeat(cond.astype(DTYPE)[:, None, :], W, axis=1)
    z = np.concatenate([x, h_rep, c_rep], axis=-1)  # (B, W, d)

    z = z + positional_encoding_concat(W, z.shape[-1])[None, :, :]
    z = layer_norm(z + mha(z, w, prefix="mha_"), w["ln_g"], w["ln_b"])
    for i in range(n_conv):
        z = conv1d_same(z, w[f"conv{i}_k"], w[f"conv{i}_b"], stride=2)
        z = leaky_relu(z, 0.2)
    z = batch_norm_inference(z, w["bn_g"], w["bn_b"], w["bn_mean"], w["bn_var"])
    z = bilstm(z, w, prefix="lstm_")  # (B, T', 2u)
    z_mean = dense(z, w["zmean_k"], w["zmean_b"])
    z_log_var = dense(z, w["zlogvar_k"], w["zlogvar_b"])
    return z_mean, z_log_var


def vae_small_forward(x, h, cond, w) -> np.ndarray:
    """Registry-uniform forward: z_mean sequence flattened to (B, T'*L)."""
    z_mean, _ = vae_small_seq(x, h, cond, w)
    return np.ascontiguousarray(z_mean).reshape(len(z_mean), -1)


def vae_small_forward_full(x, h, cond, w) -> tuple[np.ndarray, np.ndarray]:
    """The reference encoder contract returns BOTH heads
    (encoder_plugin_vae_small.py:228-235: encode -> (z_mean, z_log_var)):
    flattened (B, T'*L) pair for Arrow transport. Inference consumes only
    z_mean (reference app/data_processor.py:662-671); z_log_var feeds the
    KL term and uncertainty diagnostics."""
    z_mean, z_log_var = vae_small_seq(x, h, cond, w)
    B = len(z_mean)
    return (
        np.ascontiguousarray(z_mean).reshape(B, -1),
        np.ascontiguousarray(z_log_var).reshape(B, -1),
    )


def init_vae_small_decoder(
    window_size: int,
    latent_dim: int,
    output_feature_dim: int,
    rnn_hidden_dim: int = 4,
    conditioning_dim: int = 10,
    initial_conv_filters: int = 128,
    num_conv_layers: int = 4,
    min_conv_filters: int = 16,
    seed: int = 4321,
) -> dict[str, np.ndarray]:
    """Faithful vae_small decoder weights
    (decoder_plugin_vae_small.py:81-240): ConvTranspose mirror of the
    encoder conv stack (filters reversed), late pos-enc + 2-head MHA +
    LayerNorm, 1x1 Conv projection, last-timestep output."""
    rng = np.random.default_rng(seed)
    enc_filters = []
    f = initial_conv_filters
    for i in range(num_conv_layers):
        enc_filters.append(f)
        if i < num_conv_layers - 1:
            f = max(min_conv_filters, f // 2)
    dec_filters = enc_filters[::-1]  # e.g. [16, 32, 64, 128]
    t_in = window_size
    for _ in range(num_conv_layers):
        t_in //= 2
    w: dict[str, np.ndarray] = {}
    cin = latent_dim + rnn_hidden_dim + conditioning_dim
    for i, filters in enumerate(dec_filters):
        w[f"convt{i}_k"] = he_normal(rng, 3, filters, cin)  # (k, Cout, Cin)
        w[f"convt{i}_b"] = np.zeros(filters, dtype=DTYPE)
        cin = filters
    d = dec_filters[-1]  # enc_initial_filters
    w.update(mha_weights(rng, d, heads=2, key_dim=max(1, d // 2), prefix="mha_"))
    w["ln_g"] = np.ones(d, dtype=DTYPE)
    w["ln_b"] = np.zeros(d, dtype=DTYPE)
    w["proj_k"] = he_normal(rng, 1, d, output_feature_dim)
    w["proj_b"] = np.zeros(output_feature_dim, dtype=DTYPE)
    w["meta"] = np.array(
        [window_size, output_feature_dim, rnn_hidden_dim, conditioning_dim,
         latent_dim, num_conv_layers, t_in],
        dtype=np.int64,
    )
    return w


def vae_small_decode(
    z_seq: np.ndarray, h: np.ndarray, cond: np.ndarray, w: dict[str, np.ndarray]
) -> np.ndarray:
    """(B, T', L) latent sequence -> (B, F_out) last-step reconstruction."""
    z_seq = z_seq.astype(DTYPE, copy=False)
    B, T, _ = z_seq.shape
    n_conv = int(w["meta"][5])
    h_rep = np.repeat(h.astype(DTYPE)[:, None, :], T, axis=1)
    c_rep = np.repeat(cond.astype(DTYPE)[:, None, :], T, axis=1)
    x = np.concatenate([z_seq, h_rep, c_rep], axis=-1)
    for i in range(n_conv):
        x = conv1d_transpose_same(x, w[f"convt{i}_k"], w[f"convt{i}_b"], stride=2)
        x = leaky_relu(x, 0.2)
    x = x + positional_encoding_concat(x.shape[1], x.shape[2])[None, :, :]
    x = layer_norm(x + mha(x, w, prefix="mha_"), w["ln_g"], w["ln_b"])
    x = conv1d_same(x, w["proj_k"], w["proj_b"], stride=1)  # 1x1, linear
    return np.ascontiguousarray(x[:, -1, :])


# ---------------------------------------------------------------------------
# Legacy AE encoders (window-only input)


def init_ann(
    window_size: int,
    n_features: int,
    initial_layer_size: int = 128,
    intermediate_layers: int = 2,
    seed: int = 11,
    **_,
) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {}
    for c in range(n_features):
        d_in = window_size
        for i in range(intermediate_layers):
            w[f"br{c}_d{i}_k"] = glorot(rng, d_in, initial_layer_size)
            w[f"br{c}_d{i}_b"] = np.zeros(initial_layer_size, dtype=DTYPE)
            d_in = initial_layer_size
    # output is (B, units, C): T' = units (meta[6]), D' = n_features (meta[4])
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, n_features,
         intermediate_layers, initial_layer_size],
        dtype=np.int64,
    )
    return w


def ann_forward(x, h, cond, w) -> np.ndarray:
    """Per-channel Flatten -> Dense stack -> channel concat
    (encoder_plugin_ann.py:86-117). Output (B, units, C) flattened."""
    x = x.astype(DTYPE, copy=False)
    B, W, C = x.shape
    n_layers = int(w["meta"][5])
    branches = []
    for c in range(C):
        z = x[:, :, c]  # Flatten of (W, 1) slice
        for i in range(n_layers):
            z = dense(z, w[f"br{c}_d{i}_k"], w[f"br{c}_d{i}_b"], act="tanh")
        branches.append(z[:, :, None])  # Reshape (units, 1)
    out = np.concatenate(branches, axis=2)  # (B, units, C)
    return np.ascontiguousarray(out).reshape(B, -1)


def _init_two_conv(window_size, n_features, merged_units, branch_units, seed):
    rng = np.random.default_rng(seed)
    w = {
        "conv0_k": glorot(rng, 3, n_features, merged_units),
        "conv0_b": np.zeros(merged_units, dtype=DTYPE),
        "conv1_k": glorot(rng, 3, merged_units, branch_units),
        "conv1_b": np.zeros(branch_units, dtype=DTYPE),
    }
    t_out = _ceil_div(_ceil_div(window_size, 2), 2)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, branch_units, 2, t_out], dtype=np.int64
    )
    return w


def init_cnn(window_size, n_features, initial_layer_size: int = 128,
             layer_size_divisor: int = 2, seed: int = 22, **_):
    return _init_two_conv(
        window_size, n_features, initial_layer_size,
        initial_layer_size // layer_size_divisor, seed,
    )


def cnn_forward(x, h, cond, w) -> np.ndarray:
    """Conv1D(128,3,2,'same',linear) -> Conv1D(64,3,2,'same',tanh)
    (encoder_plugin_cnn.py:88-117). Output (B, ceil(W/4), 64) flattened."""
    x = x.astype(DTYPE, copy=False)
    z = conv1d_same(x, w["conv0_k"], w["conv0_b"], stride=2, act="linear")
    z = conv1d_same(z, w["conv1_k"], w["conv1_b"], stride=2, act="tanh")
    return np.ascontiguousarray(z).reshape(len(z), -1)


def init_vae(window_size, n_features, initial_layer_size: int = 128,
             layer_size_divisor: int = 2, seed: int = 33, **_):
    """Same two-conv stack as cnn (encoder_plugin_vae.py:85-110)."""
    return _init_two_conv(
        window_size, n_features, initial_layer_size,
        initial_layer_size // layer_size_divisor, seed,
    )


def _init_attn_front(rng, d):
    w = mha_weights(rng, d, heads=2, key_dim=max(1, d // 2), prefix="mha_")
    w["ln_g"] = np.ones(d, dtype=DTYPE)
    w["ln_b"] = np.zeros(d, dtype=DTYPE)
    return w


def _attn_front(x, w):
    """pos-enc -> 2-head MHA -> residual -> LayerNorm (shared front of the
    lstm and transformer plugins)."""
    z = x + positional_encoding_concat(x.shape[1], x.shape[2])[None, :, :]
    return layer_norm(z + mha(z, w, prefix="mha_"), w["ln_g"], w["ln_b"])


def init_lstm(window_size, n_features, initial_layer_size: int = 128,
              layer_size_divisor: int = 2, seed: int = 44, **_):
    rng = np.random.default_rng(seed)
    lstm_units = initial_layer_size // layer_size_divisor // layer_size_divisor
    w = _init_attn_front(rng, n_features)
    w.update(bilstm_weights(rng, n_features, lstm_units, prefix="l1_"))
    w.update(bilstm_weights(rng, 2 * lstm_units, lstm_units, prefix="l2_"))
    t = _ceil_div(_ceil_div(window_size, 2), 2)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, 2 * lstm_units, 2, t], dtype=np.int64
    )
    return w


def lstm_forward(x, h, cond, w) -> np.ndarray:
    """pos-enc -> MHA+LN -> AvgPool(3,2,'same') -> BiLSTM -> BiLSTM ->
    AvgPool(3,2,'same') (encoder_plugin_lstm.py:110-160)."""
    x = x.astype(DTYPE, copy=False)
    z = _attn_front(x, w)
    z = avg_pool1d_same(z, pool=3, stride=2)
    z = bilstm(z, w, prefix="l1_")
    z = bilstm(z, w, prefix="l2_")
    z = avg_pool1d_same(z, pool=3, stride=2)
    return np.ascontiguousarray(z).reshape(len(z), -1)


def init_transformer(window_size, n_features, initial_layer_size: int = 128,
                     layer_size_divisor: int = 2, seed: int = 55, **_):
    rng = np.random.default_rng(seed)
    merged = initial_layer_size
    branch = merged // layer_size_divisor
    w = _init_attn_front(rng, n_features)
    w["conv0_k"] = glorot(rng, 3, n_features, merged)
    w["conv0_b"] = np.zeros(merged, dtype=DTYPE)
    w["conv1_k"] = glorot(rng, 3, merged, branch)
    w["conv1_b"] = np.zeros(branch, dtype=DTYPE)
    t = _ceil_div(_ceil_div(window_size, 2), 2)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, branch, 2, t], dtype=np.int64
    )
    return w


def transformer_forward(x, h, cond, w) -> np.ndarray:
    """pos-enc -> MHA+LN -> Conv1D(128,3,2,'same',tanh) ->
    Conv1D(64,3,2,'same',tanh) (encoder_plugin_transformer.py:110-165)."""
    x = x.astype(DTYPE, copy=False)
    z = _attn_front(x, w)
    z = conv1d_same(z, w["conv0_k"], w["conv0_b"], stride=2, act="tanh")
    z = conv1d_same(z, w["conv1_k"], w["conv1_b"], stride=2, act="tanh")
    return np.ascontiguousarray(z).reshape(len(z), -1)


# ---------------------------------------------------------------------------
# Legacy AE decoders (U3)


def init_cnn_decoder(window_size, n_features, initial_layer_size: int = 128,
                     layer_size_divisor: int = 2, seed: int = 66, **_):
    """cnn/vae decoder (decoder_plugin_cnn.py:64-112): latent (W/4, branch)
    -> ConvT(branch, k3, s2, 'same', tanh) -> ConvT(C, k3, s2, 'same',
    linear) -> crop right to W."""
    rng = np.random.default_rng(seed)
    branch = initial_layer_size // layer_size_divisor
    return {
        "convt0_k": glorot(rng, 3, branch, branch),  # (k, Cout, Cin)
        "convt0_b": np.zeros(branch, dtype=DTYPE),
        "convt1_k": glorot(rng, 3, n_features, branch),
        "convt1_b": np.zeros(n_features, dtype=DTYPE),
        "meta": np.array(
            [window_size, n_features, 0, 0, branch, 2, _ceil_div(window_size, 4)],
            dtype=np.int64,
        ),
    }


def cnn_decode(z_seq: np.ndarray, h, cond, w) -> np.ndarray:
    """(B, W/4, branch) -> (B, W, F) reconstruction."""
    W_out = int(w["meta"][0])
    x = conv1d_transpose_same(
        z_seq.astype(DTYPE, copy=False), w["convt0_k"], w["convt0_b"], stride=2,
        act="tanh",
    )
    x = conv1d_transpose_same(x, w["convt1_k"], w["convt1_b"], stride=2,
                              act="linear")
    return x[:, :W_out, :]  # Cropping1D((0, overshoot))


def init_ann_decoder(window_size, n_features, initial_layer_size: int = 128,
                     intermediate_layers: int = 2, seed: int = 77, **_):
    """ann decoder (decoder_plugin_ann.py:45-158): per-channel branch from
    the encoder's (units, C) output — Flatten -> Dense(units, tanh) x L ->
    Dense(W, linear) -> Reshape(W, 1), channel concat."""
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {}
    units = initial_layer_size
    for c in range(n_features):
        d_in = units
        for i in range(intermediate_layers):
            w[f"br{c}_d{i}_k"] = glorot(rng, d_in, units)
            w[f"br{c}_d{i}_b"] = np.zeros(units, dtype=DTYPE)
            d_in = units
        w[f"br{c}_out_k"] = glorot(rng, units, window_size)
        w[f"br{c}_out_b"] = np.zeros(window_size, dtype=DTYPE)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, n_features, intermediate_layers, units],
        dtype=np.int64,
    )
    return w


def ann_decode(z_seq: np.ndarray, h, cond, w) -> np.ndarray:
    """(B, units, C) encoder output -> (B, W, C) reconstruction."""
    z_seq = z_seq.astype(DTYPE, copy=False)
    B, _, C = z_seq.shape
    n_layers = int(w["meta"][5])
    branches = []
    for c in range(C):
        x = z_seq[:, :, c]
        for i in range(n_layers):
            x = dense(x, w[f"br{c}_d{i}_k"], w[f"br{c}_d{i}_b"], act="tanh")
        x = dense(x, w[f"br{c}_out_k"], w[f"br{c}_out_b"])  # linear
        branches.append(x[:, :, None])
    return np.concatenate(branches, axis=2)


# ---------------------------------------------------------------------------
# cnn_working pair — the skip-connection architecture
# (encoder_plugin_cnn_working.py:44-100, decoder_plugin_cnn_working.py:38-103;
# the reference never wires it into the CVAE manager, so like there the skip
# tensors flow only through the explicit roundtrip path)


def _maxpool2_valid(x: np.ndarray) -> np.ndarray:
    """Keras MaxPooling1D(pool_size=2) default: stride 2, padding 'valid'
    -> T_out = floor(T/2), trailing odd step dropped."""
    B, T, C = x.shape
    t2 = T // 2
    return x[:, : t2 * 2, :].reshape(B, t2, 2, C).max(axis=2)


def _cnn_working_sizes(initial, intermediate, divisor, interface, floor=1):
    sizes, cur = [], initial
    for _ in range(intermediate):
        sizes.append(cur)
        cur = max(cur // divisor, floor)
    return sizes + [interface]


def init_cnn_working(
    window_size,
    n_features,
    interface_size: int = 4,
    initial_layer_size: int = 32,
    intermediate_layers: int = 3,
    layer_size_divisor: int = 2,
    seed: int = 31,
    **_,
):
    """cnn_working encoder (encoder_plugin_cnn_working.py:44-100):
    Dense(layers[0], tanh) -> [Conv1D(size,3,'same',tanh, HeNormal) ->
    skip-record -> MaxPool(2)] per intermediate size>1 -> BatchNorm ->
    Dense(last_size, tanh) -> BatchNorm -> Flatten ->
    Dense(interface, linear)."""
    layers = _cnn_working_sizes(
        initial_layer_size, intermediate_layers, layer_size_divisor, 1
    )[:-1] + [interface_size]
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {
        "d0_k": glorot(rng, n_features, layers[0]),
        "d0_b": np.zeros(layers[0], dtype=DTYPE),
    }
    conv_sizes = [s for s in layers[:-1] if s > 1]
    in_ch, t = layers[0], window_size
    for idx, size in enumerate(conv_sizes):
        w[f"conv{idx}_k"] = he_normal(rng, 3, in_ch, size)
        w[f"conv{idx}_b"] = np.zeros(size, dtype=DTYPE)
        in_ch, t = size, t // 2
    f_enc = conv_sizes[-1] if conv_sizes else layers[0]
    for bn in ("bn1", "bn2"):
        dim = f_enc
        w[f"{bn}_g"] = np.ones(dim, dtype=DTYPE)
        w[f"{bn}_b"] = np.zeros(dim, dtype=DTYPE)
        w[f"{bn}_m"] = np.zeros(dim, dtype=DTYPE)
        w[f"{bn}_v"] = np.ones(dim, dtype=DTYPE)
    w["df_k"] = glorot(rng, f_enc, f_enc)
    w["df_b"] = np.zeros(f_enc, dtype=DTYPE)
    w["out_k"] = glorot(rng, t * f_enc, interface_size)
    w["out_b"] = np.zeros(interface_size, dtype=DTYPE)
    w["conv_sizes"] = np.array(conv_sizes, dtype=np.int64)
    # latent is a single (B, L) vector: logical shape (T'=1, D'=L)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, interface_size, len(conv_sizes), 1],
        dtype=np.int64,
    )
    return w


def cnn_working_encode_with_skips(
    x: np.ndarray, w: dict[str, np.ndarray]
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Forward returning (latent (B, L), skip tensors recorded BEFORE each
    pooling, encoder order) — the decoder concatenates them back."""
    z = dense(x.astype(DTYPE, copy=False), w["d0_k"], w["d0_b"], act="tanh")
    skips = []
    for idx in range(len(w["conv_sizes"])):
        z = conv1d_same(z, w[f"conv{idx}_k"], w[f"conv{idx}_b"], stride=1, act="tanh")
        skips.append(z)
        z = _maxpool2_valid(z)
    z = batch_norm_inference(z, w["bn1_g"], w["bn1_b"], w["bn1_m"], w["bn1_v"])
    z = dense(z, w["df_k"], w["df_b"], act="tanh")
    z = batch_norm_inference(z, w["bn2_g"], w["bn2_b"], w["bn2_m"], w["bn2_v"])
    flat = np.ascontiguousarray(z).reshape(len(z), -1)
    return dense(flat, w["out_k"], w["out_b"]), skips


def cnn_working_forward(x, h, cond, w) -> np.ndarray:
    """Registry-uniform forward (legacy AE interface: window only)."""
    return cnn_working_encode_with_skips(x, w)[0]


def init_cnn_working_decoder(
    window_size,
    n_features,
    interface_size: int = 4,
    initial_layer_size: int = 32,
    intermediate_layers: int = 3,
    layer_size_divisor: int = 2,
    seed: int = 32,
    **_,
):
    """cnn_working decoder (decoder_plugin_cnn_working.py:38-103):
    Dense(T*F_enc, tanh) -> reshape -> [UpSample(2) -> concat(skip) ->
    Conv1D(mirror_filter,3,'same',tanh)] per intermediate layer -> Flatten
    -> Dense(W*F, linear) -> reshape (W, F). Mirror filters recompute the
    size ladder with the decoder's own floor quirk
    (max(cur//div, interface_size), decoder_plugin_cnn_working.py:75-80)."""
    enc_layers = _cnn_working_sizes(
        initial_layer_size, intermediate_layers, layer_size_divisor, 1
    )[:-1] + [interface_size]
    conv_sizes = [s for s in enc_layers[:-1] if s > 1]
    f_enc = conv_sizes[-1] if conv_sizes else enc_layers[0]
    t_enc = window_size // (2 ** len(conv_sizes))
    dec_ladder = _cnn_working_sizes(
        initial_layer_size, intermediate_layers, layer_size_divisor, interface_size
    )
    mirror = dec_ladder[:-1][::-1]
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {
        "din_k": glorot(rng, interface_size, t_enc * f_enc),
        "din_b": np.zeros(t_enc * f_enc, dtype=DTYPE),
    }
    cur = f_enc
    for idx in range(len(conv_sizes)):
        skip_ch = conv_sizes[-(idx + 1)]
        filt = mirror[idx] if idx < len(mirror) else mirror[-1]
        w[f"mir{idx}_k"] = he_normal(rng, 3, cur + skip_ch, filt)
        w[f"mir{idx}_b"] = np.zeros(filt, dtype=DTYPE)
        cur = filt
    w["dout_k"] = glorot(rng, window_size * cur, window_size * n_features)
    w["dout_b"] = np.zeros(window_size * n_features, dtype=DTYPE)
    w["conv_sizes"] = np.array(conv_sizes, dtype=np.int64)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, interface_size, len(conv_sizes), t_enc],
        dtype=np.int64,
    )
    w["f_enc"] = np.array([f_enc], dtype=np.int64)
    return w


def cnn_working_decode(
    z: np.ndarray, h, cond, w, skips: list[np.ndarray] | None = None
) -> np.ndarray:
    """(B, L) latent (+ encoder skip tensors) -> (B, W, F) reconstruction.
    ``skips=None`` substitutes zero tensors of the encoder's skip shapes —
    the same placeholder convention as the zero h-context (P5); the real
    roundtrip passes the recorded skips."""
    z = np.asarray(z, dtype=DTYPE)
    if z.ndim == 3:  # registry hands flattened-seq latents as (B, 1, L)
        z = z.reshape(len(z), -1)
    W_out = int(w["meta"][0])
    f_enc = int(w["f_enc"][0])
    t_enc = int(w["meta"][6])
    conv_sizes = [int(s) for s in w["conv_sizes"]]
    x = dense(z, w["din_k"], w["din_b"], act="tanh").reshape(len(z), t_enc, f_enc)
    for idx in range(len(conv_sizes)):
        x = np.repeat(x, 2, axis=1)  # UpSampling1D(2)
        if skips is not None:
            skip = skips[-(idx + 1)]
        else:
            skip = np.zeros(
                (len(z), x.shape[1], conv_sizes[-(idx + 1)]), dtype=DTYPE
            )
        x = np.concatenate([x, skip.astype(DTYPE, copy=False)], axis=-1)
        x = conv1d_same(x, w[f"mir{idx}_k"], w[f"mir{idx}_b"], stride=1, act="tanh")
    flat = np.ascontiguousarray(x).reshape(len(z), -1)
    out = dense(flat, w["dout_k"], w["dout_b"])
    return out.reshape(len(z), W_out, -1)


# ---------------------------------------------------------------------------
# Registry (U5) — the reference's entry-point names (setup.py:11-32)


ENCODERS: dict[str, tuple] = {
    # name -> (init_fn, forward_fn)
    "default": (init_ann, ann_forward),  # setup.py maps default -> ann
    "ann": (init_ann, ann_forward),
    "cnn": (init_cnn, cnn_forward),
    "vae": (init_vae, cnn_forward),
    "lstm": (init_lstm, lstm_forward),
    "transformer": (init_transformer, transformer_forward),
    "vae_small": (init_vae_small, vae_small_forward),
    "cnn_working": (init_cnn_working, cnn_working_forward),
}

def init_transformer_decoder(window_size, n_features, initial_layer_size: int = 128,
                             layer_size_divisor: int = 2, seed: int = 88, **_):
    """transformer decoder (decoder_plugin_transformer.py:146-240):
    ConvT(merged,3,2,'same',tanh) -> ConvT(C,3,2,'same',tanh) -> +pos-enc ->
    2-head MHA + residual + LayerNorm -> center-crop to W."""
    rng = np.random.default_rng(seed)
    merged = initial_layer_size
    branch = merged // layer_size_divisor
    w: dict[str, np.ndarray] = {
        "convt0_k": glorot(rng, 3, merged, branch),  # (k, Cout, Cin)
        "convt0_b": np.zeros(merged, dtype=DTYPE),
        "convt1_k": glorot(rng, 3, n_features, merged),
        "convt1_b": np.zeros(n_features, dtype=DTYPE),
    }
    w.update(mha_weights(rng, n_features, heads=2,
                         key_dim=max(1, n_features // 2), prefix="mha_"))
    w["ln_g"] = np.ones(n_features, dtype=DTYPE)
    w["ln_b"] = np.zeros(n_features, dtype=DTYPE)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, branch, 2,
         _ceil_div(_ceil_div(window_size, 2), 2)], dtype=np.int64
    )
    return w


def transformer_decode(z_seq: np.ndarray, h, cond, w) -> np.ndarray:
    W_out = int(w["meta"][0])
    x = conv1d_transpose_same(z_seq.astype(DTYPE, copy=False),
                              w["convt0_k"], w["convt0_b"], stride=2, act="tanh")
    x = conv1d_transpose_same(x, w["convt1_k"], w["convt1_b"], stride=2,
                              act="tanh")
    x = x + positional_encoding_concat(x.shape[1], x.shape[2])[None, :, :]
    x = layer_norm(x + mha(x, w, prefix="mha_"), w["ln_g"], w["ln_b"])
    crop = x.shape[1] - W_out
    if crop > 0:  # center crop (Cropping1D((crop//2, rest)))
        lo = crop // 2
        x = x[:, lo : lo + W_out, :]
    return x


def init_lstm_decoder(window_size, n_features, initial_layer_size: int = 128,
                      layer_size_divisor: int = 2, seed: int = 99, **_):
    """lstm decoder (decoder_plugin_lstm.py:130-234): UpSample(2) ->
    BiLSTM -> BiLSTM -> UpSample(2) -> +pos-enc -> 2-head MHA + residual +
    LN -> BiLSTM -> Conv1D(C, k=1, linear) -> center-crop."""
    rng = np.random.default_rng(seed)
    u = initial_layer_size // layer_size_divisor // layer_size_divisor
    w: dict[str, np.ndarray] = {}
    w.update(bilstm_weights(rng, 2 * u, u, prefix="l1_"))  # input = enc 2u
    w.update(bilstm_weights(rng, 2 * u, u, prefix="l2_"))
    d = 2 * u
    w.update(mha_weights(rng, d, heads=2, key_dim=max(1, d // 2), prefix="mha_"))
    w["ln_g"] = np.ones(d, dtype=DTYPE)
    w["ln_b"] = np.zeros(d, dtype=DTYPE)
    w.update(bilstm_weights(rng, d, u, prefix="l3_"))
    w["proj_k"] = glorot(rng, 1, 2 * u, n_features)
    w["proj_b"] = np.zeros(n_features, dtype=DTYPE)
    w["meta"] = np.array(
        [window_size, n_features, 0, 0, 2 * u, 3,
         _ceil_div(_ceil_div(window_size, 2), 2)], dtype=np.int64
    )
    return w


def lstm_decode(z_seq: np.ndarray, h, cond, w) -> np.ndarray:
    W_out = int(w["meta"][0])
    x = np.repeat(z_seq.astype(DTYPE, copy=False), 2, axis=1)  # UpSampling1D
    x = bilstm(x, w, prefix="l1_")
    x = bilstm(x, w, prefix="l2_")
    x = np.repeat(x, 2, axis=1)
    x = x + positional_encoding_concat(x.shape[1], x.shape[2])[None, :, :]
    x = layer_norm(x + mha(x, w, prefix="mha_"), w["ln_g"], w["ln_b"])
    x = bilstm(x, w, prefix="l3_")
    x = conv1d_same(x, w["proj_k"], w["proj_b"], stride=1)  # 1x1, linear
    crop = x.shape[1] - W_out
    if crop > 0:
        lo = crop // 2
        x = x[:, lo : lo + W_out, :]
    return x


DECODERS: dict[str, tuple] = {
    # name -> (init_fn, decode_fn) ; decode(z_seq, h, cond, weights)
    "default": (init_ann_decoder, ann_decode),
    "ann": (init_ann_decoder, ann_decode),
    "cnn": (init_cnn_decoder, cnn_decode),
    "vae": (init_cnn_decoder, cnn_decode),
    "lstm": (init_lstm_decoder, lstm_decode),
    "transformer": (init_transformer_decoder, transformer_decode),
    "vae_small": (init_vae_small_decoder, vae_small_decode),
    "cnn_working": (init_cnn_working_decoder, cnn_working_decode),
}

_DANGLING = {"rnn", "cnn_signed"}  # declared in setup.py, module missing


def get_encoder_full(name: str):
    """Dual-head forward (z_mean, z_log_var) for plugins whose reference
    contract returns both (only the CVAE vae_small family does)."""
    if name == "vae_small":
        return vae_small_forward_full
    raise KeyError(
        f"plugin {name!r} has no z_log_var head (reference contract returns "
        "a single latent for legacy AE plugins)"
    )


def get_encoder(name: str) -> tuple:
    """Resolve a plugin by its reference entry-point name."""
    if name in _DANGLING:
        raise KeyError(
            f"plugin {name!r} is a dangling entry point in the reference "
            "(setup.py names it, the module does not exist)"
        )
    if name not in ENCODERS:
        raise KeyError(f"unknown encoder plugin {name!r}; have {sorted(ENCODERS)}")
    return ENCODERS[name]


def encoder_fn(name: str | None):
    """The forward of ``plugin=name``: None is the compact default graph
    (``forward.encoder_forward``), any other name the registry's."""
    return encoder_forward if name is None else get_encoder(name)[1]


def out_shape(weights: dict[str, np.ndarray]) -> tuple[int, int]:
    """Logical (T', D') shape of the flattened forward output."""
    meta = weights["meta"]
    return int(meta[6]), int(meta[4])
