"""Layer math + plugin forward graphs (U1-U3, U5): Keras-semantics parity,
batch invariance, registry resolution, and the Spark encode_stage(plugin=...)
path against the single-process oracle."""

import numpy as np
import pytest

from feature_extractor_spark.encoder import layers as L
from feature_extractor_spark.encoder import plugins as P

RNG = np.random.default_rng(99)


# ---------------------------------------------------------------------------
# Layer semantics


def test_conv1d_same_matches_naive():
    x = RNG.standard_normal((2, 9, 3)).astype(np.float32)
    k = RNG.standard_normal((3, 3, 5)).astype(np.float32)
    b = RNG.standard_normal(5).astype(np.float32)
    for stride in (1, 2):
        got = L.conv1d_same(x, k, b, stride=stride)
        out_t, pl, pr = L._same_pad(9, 3, stride)
        xp = np.pad(x, ((0, 0), (pl, pr), (0, 0)))
        # reference: the same float32 inputs, accumulated in float64
        xp64, k64, b64 = (a.astype(np.float64) for a in (xp, k, b))
        want = np.zeros((2, out_t, 5))
        mag = np.zeros((2, out_t, 5))  # sum of |terms| per output element
        for t in range(out_t):
            for j in range(3):
                want[:, t] += xp64[:, t * stride + j] @ k64[j]
                mag[:, t] += np.abs(xp64[:, t * stride + j]) @ np.abs(k64[j])
        want += b64
        mag += np.abs(b64)
        # Higham's forward error bound for a float32 dot product of
        # n = k*Cin + 1 terms (bias included) summed in any order:
        # |got - want| <= gamma_n * sum|terms|, gamma_n = n*u / (1 - n*u)
        # (Accuracy and Stability of Numerical Algorithms, 2nd ed., eq. 3.5)
        n, u = 3 * 3 + 1, 2.0**-24
        gamma_n = n * u / (1 - n * u)
        err = np.abs(got.astype(np.float64) - want)
        assert np.all(err <= gamma_n * mag), float((err / (gamma_n * mag)).max())
        assert got.shape[1] == -(-9 // stride)  # TF same: ceil(T/stride)


def test_conv1d_transpose_is_adjoint_of_conv():
    """<conv(x), y> == <x, convT(y)> with tied kernels — the defining
    property of Conv1DTranspose (it IS the gradient of the forward conv)."""
    T, s, k, cin, cout = 12, 2, 3, 4, 6
    x = RNG.standard_normal((1, T, cin)).astype(np.float64)
    y = RNG.standard_normal((1, T // s, cout)).astype(np.float64)
    kern = RNG.standard_normal((k, cin, cout)).astype(np.float64)
    conv_x = L.conv1d_same(
        x.astype(np.float32), kern.astype(np.float32), np.zeros(cout, np.float32), stride=s
    )
    # adjoint maps (B, T/s, cout) -> (B, T, cin); transpose kernel layout is
    # (k, Cout_t=cin, Cin_t=cout), which is exactly the forward (k, cin, cout)
    convt_y = L.conv1d_transpose_same(
        y.astype(np.float32),
        kern.astype(np.float32),
        np.zeros(cin, np.float32),
        stride=s,
    )
    lhs = float((conv_x.astype(np.float64) * y).sum())
    rhs = float((x * convt_y.astype(np.float64)).sum())
    assert abs(lhs - rhs) / max(abs(lhs), 1e-9) < 1e-4


def test_conv1d_transpose_upsamples():
    x = RNG.standard_normal((3, 5, 4)).astype(np.float32)
    k = RNG.standard_normal((3, 7, 4)).astype(np.float32)  # (k, Cout, Cin)
    out = L.conv1d_transpose_same(x, k, np.zeros(7, np.float32), stride=2)
    assert out.shape == (3, 10, 7)


def test_avg_pool_same_excludes_padding():
    # T=4, pool=3, stride=2: out=2, pad_total=1 -> TF pads RIGHT only;
    # window 0 = mean(x0..x2), window 1 = mean(x2,x3) (pad excluded)
    x = np.arange(8, dtype=np.float32).reshape(1, 4, 2)
    out = L.avg_pool1d_same(x, pool=3, stride=2)
    assert out.shape == (1, 2, 2)
    np.testing.assert_allclose(out[0, 0], x[0, :3].mean(axis=0), rtol=1e-6)
    np.testing.assert_allclose(out[0, 1], x[0, 2:4].mean(axis=0), rtol=1e-6)


def test_lstm_gate_order_and_state():
    """Single-step LSTM against the hand-written Keras cell equations
    (gate order i,f,c,o; unit_forget_bias)."""
    d, u = 3, 2
    w = L.lstm_weights(np.random.default_rng(5), d, u)
    x = RNG.standard_normal((2, 1, d)).astype(np.float32)
    got = L.lstm_seq(x, w["k"], w["r"], w["b"])[:, 0, :]
    z = x[:, 0, :] @ w["k"] + w["b"]  # h=0 at t=0
    sig = lambda v: 1 / (1 + np.exp(-v))
    i, f, g, o = z[:, :u], z[:, u:2*u], z[:, 2*u:3*u], z[:, 3*u:]
    c = sig(i) * np.tanh(g)  # f-gate irrelevant: c_prev = 0
    want = sig(o) * np.tanh(c)
    np.testing.assert_allclose(got, want, rtol=1e-5)


def test_bilstm_backward_is_time_reversed():
    d, u = 3, 4
    w = L.bilstm_weights(np.random.default_rng(6), d, u, prefix="x_")
    x = RNG.standard_normal((1, 7, d)).astype(np.float32)
    out = L.bilstm(x, w, prefix="x_")
    assert out.shape == (1, 7, 2 * u)
    bw_direct = L.lstm_seq(x[:, ::-1, :], w["x_bw_k"], w["x_bw_r"], w["x_bw_b"])
    np.testing.assert_allclose(out[0, :, u:], bw_direct[0, ::-1, :], rtol=1e-5)


def test_positional_encoding_is_concat_not_interleaved():
    pe = L.positional_encoding_concat(4, 6)
    assert pe.shape == (4, 6)
    # first half columns are sines of even-index angles; pos=0 row: sin->0, cos->1
    np.testing.assert_allclose(pe[0, :3], 0.0, atol=1e-7)
    np.testing.assert_allclose(pe[0, 3:], 1.0, atol=1e-7)


def test_mha_is_batch_invariant_and_shape_preserving():
    d = 8
    w = L.mha_weights(np.random.default_rng(7), d, heads=2, key_dim=4, prefix="m_")
    x = RNG.standard_normal((4, 5, d)).astype(np.float32)
    full = L.mha(x, w, prefix="m_")
    assert full.shape == x.shape
    half = L.mha(x[:2], w, prefix="m_")
    np.testing.assert_allclose(full[:2], half, rtol=1e-5)


# ---------------------------------------------------------------------------
# Plugin graphs


def _xhc(W=16, F=2, H=4, C=10, B=6):
    return (
        RNG.standard_normal((B, W, F)).astype(np.float32),
        RNG.standard_normal((B, H)).astype(np.float32),
        RNG.standard_normal((B, C)).astype(np.float32),
    )


def test_vae_small_output_shape_and_sequence_latents():
    """Latents are SEQUENCES (B, W/2^N, latent) — the reference's
    z_mean_seq (encoder_plugin_vae_small.py:201-213)."""
    x, h, cond = _xhc(W=16)
    w = P.init_vae_small(16, 2, 4, 10, latent_dim=8,
                         initial_conv_filters=32, lstm_units=8)
    zm, zlv = P.vae_small_seq(x, h, cond, w)
    assert zm.shape == (6, 1, 8)  # 16 / 2^4 = 1
    assert zlv.shape == (6, 1, 8)
    flat = P.vae_small_forward(x, h, cond, w)
    assert flat.shape == (6, 8)
    assert P.out_shape(w) == (1, 8)


def test_vae_small_batch_invariance():
    x, h, cond = _xhc(W=16)
    w = P.init_vae_small(16, 2, 4, 10, latent_dim=8,
                         initial_conv_filters=32, lstm_units=8)
    full = P.vae_small_forward(x, h, cond, w)
    part = np.concatenate(
        [P.vae_small_forward(x[i:i+1], h[i:i+1], cond[i:i+1], w) for i in range(6)]
    )
    np.testing.assert_allclose(full, part, rtol=1e-5, atol=1e-6)


def test_vae_small_conditioning_matters():
    x, h, cond = _xhc(W=16)
    w = P.init_vae_small(16, 2, 4, 10, latent_dim=8,
                         initial_conv_filters=32, lstm_units=8)
    a = P.vae_small_forward(x, h, cond, w)
    b = P.vae_small_forward(x, h, cond + 1.0, w)
    assert not np.allclose(a, b)


def test_vae_small_decoder_roundtrip_shapes():
    x, h, cond = _xhc(W=16)
    w = P.init_vae_small(16, 2, 4, 10, latent_dim=8,
                         initial_conv_filters=32, lstm_units=8)
    zm, _ = P.vae_small_seq(x, h, cond, w)
    dw = P.init_vae_small_decoder(16, latent_dim=8, output_feature_dim=2,
                                  rnn_hidden_dim=4, conditioning_dim=10,
                                  initial_conv_filters=32)
    rec = P.vae_small_decode(zm, h, cond, dw)
    assert rec.shape == (6, 2)  # last-step reconstruction (decoder :238-240)


@pytest.mark.parametrize(
    "name",
    ["default", "ann", "cnn", "vae", "lstm", "transformer", "cnn_working"],
)
def test_legacy_plugins_shapes_and_batch_invariance(name):
    W, F, B = 12, 3, 5
    init, fwd = P.get_encoder(name)
    w = init(W, F, initial_layer_size=16)
    x = RNG.standard_normal((B, W, F)).astype(np.float32)
    zeros = np.zeros((B, 0), np.float32)
    out = fwd(x, zeros, zeros, w)
    t, d = P.out_shape(w)
    assert out.shape == (B, t * d)
    part = np.concatenate(
        [fwd(x[i:i+1], zeros[:1], zeros[:1], w) for i in range(B)]
    )
    np.testing.assert_allclose(out, part, rtol=1e-4, atol=1e-5)


def test_cnn_temporal_downsampling():
    init, fwd = P.get_encoder("cnn")
    w = init(12, 3, initial_layer_size=16)
    assert P.out_shape(w) == (3, 8)  # ceil(ceil(12/2)/2)=3, 16//2=8


def test_registry_dangling_and_unknown():
    with pytest.raises(KeyError, match="dangling"):
        P.get_encoder("rnn")
    with pytest.raises(KeyError, match="unknown"):
        P.get_encoder("nope")
    assert set(P.ENCODERS) == {
        "default", "ann", "cnn", "vae", "lstm", "transformer", "vae_small",
        "cnn_working",
    }


def test_cnn_working_skip_roundtrip():
    """cnn_working pair (reference encoder_plugin_cnn_working.py:44-100,
    decoder_plugin_cnn_working.py:38-103): skip tensors recorded before
    each pooling feed the mirrored decoder; reconstruction returns the
    original (B, W, F) shape, and the skips demonstrably flow (zero-skip
    placeholder decode differs from the skip-fed decode)."""
    W, F, B, L = 16, 2, 5, 4
    enc_w = P.init_cnn_working(W, F, interface_size=L, initial_layer_size=16)
    dec_w = P.init_cnn_working_decoder(W, F, interface_size=L, initial_layer_size=16)
    x = RNG.standard_normal((B, W, F)).astype(np.float32)
    z, skips = P.cnn_working_encode_with_skips(x, enc_w)
    assert z.shape == (B, L)
    # skips recorded BEFORE pooling: lengths W, W/2, W/4; conv filter widths
    assert [s.shape[1] for s in skips] == [16, 8, 4]
    assert [s.shape[2] for s in skips] == [16, 8, 4]
    rec = P.cnn_working_decode(z, None, None, dec_w, skips=skips)
    assert rec.shape == (B, W, F)
    rec0 = P.cnn_working_decode(z, None, None, dec_w, skips=None)
    assert rec0.shape == (B, W, F)
    assert not np.allclose(rec, rec0)
    # batch invariance through the skip path
    parts = np.concatenate(
        [
            P.cnn_working_decode(
                z[i : i + 1], None, None, dec_w,
                skips=[s[i : i + 1] for s in skips],
            )
            for i in range(B)
        ]
    )
    np.testing.assert_allclose(rec, parts, rtol=1e-4, atol=1e-5)


# ---------------------------------------------------------------------------
# Spark stage with plugin forwards


def test_encode_stage_cnn_matches_single_process(spark, sf_small):
    from pyspark.sql import functions as F_
    from feature_extractor_spark.encoder import encode_stage
    from feature_extractor_spark.operators.windows import sliding_windows

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    win = sliding_windows(ev, "user_id", "ts", ["value"], 8)
    init, fwd = P.get_encoder("cnn")
    w = init(8, 1, initial_layer_size=16)
    out = encode_stage(
        win, w, cond_cols=[], keep_cols=["user_id", "ts"], plugin="cnn"
    ).toPandas()
    assert len(out) > 0
    # single-process oracle on the same windows
    pdf = win.select("user_id", "ts", "window").toPandas()
    x = np.stack([np.asarray(v, np.float32)[:, None] for v in pdf["window"]])
    zeros = np.zeros((len(x), 0), np.float32)
    want = fwd(x, zeros, zeros, w)
    got = (
        out.set_index(["user_id", "ts"])
        .loc[list(zip(pdf["user_id"], pdf["ts"]))]["z_mean"]
    )
    got = np.stack([np.asarray(v, np.float32) for v in got])
    np.testing.assert_allclose(got, want, rtol=1e-4, atol=1e-5)


def test_encode_stage_vae_small_distributed(spark, sf_small):
    from feature_extractor_spark.encoder import encode_stage
    from feature_extractor_spark.functions.conditions import (
        cyclical_datetime_features,
        zero_context,
    )
    from feature_extractor_spark.operators.windows import sliding_windows

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    win = sliding_windows(ev, "user_id", "ts", ["value"], 16)
    win = cyclical_datetime_features(win)
    win = zero_context(win, 4)
    cond = [c for c in win.columns if c.startswith(("sin_", "cos_"))]
    w = P.init_vae_small(16, 1, 4, len(cond), latent_dim=8,
                         initial_conv_filters=32, lstm_units=8)
    out = encode_stage(
        win, w, cond_cols=cond, keep_cols=["user_id", "ts"], plugin="vae_small"
    )
    first = out.first()
    assert len(first["z_mean"]) == 8  # T'(=1) * latent(=8)


def test_cnn_decoder_roundtrip_shapes():
    W, F, B = 12, 3, 4
    e_init, e_fwd = P.get_encoder("cnn")
    ew = e_init(W, F, initial_layer_size=16)
    x = RNG.standard_normal((B, W, F)).astype(np.float32)
    zeros = np.zeros((B, 0), np.float32)
    flat = e_fwd(x, zeros, zeros, ew)
    t, d = P.out_shape(ew)
    z = flat.reshape(B, t, d)
    d_init, d_fwd = P.DECODERS["cnn"]
    dw = d_init(W, F, initial_layer_size=16)
    rec = d_fwd(z, zeros, zeros, dw)
    assert rec.shape == (B, W, F)  # crop back to W (decoder_plugin_cnn.py:99-101)


def test_ann_decoder_roundtrip_shapes():
    W, F, B = 10, 2, 4
    e_init, e_fwd = P.get_encoder("ann")
    ew = e_init(W, F, initial_layer_size=8)
    x = RNG.standard_normal((B, W, F)).astype(np.float32)
    zeros = np.zeros((B, 0), np.float32)
    flat = e_fwd(x, zeros, zeros, ew)
    z = flat.reshape(B, 8, F)  # (units, C) channel layout
    d_init, d_fwd = P.DECODERS["ann"]
    dw = d_init(W, F, initial_layer_size=8)
    rec = d_fwd(z, zeros, zeros, dw)
    assert rec.shape == (B, W, F)


@pytest.mark.parametrize("name,W,F", [("transformer", 12, 3), ("transformer", 10, 2),
                                       ("lstm", 12, 3), ("lstm", 10, 2)])
def test_seq_decoders_roundtrip_shapes(name, W, F):
    """lstm/transformer decoders invert their encoders' output shape back
    to (B, W, F) with center-crop on the overshoot."""
    B = 4
    e_init, e_fwd = P.get_encoder(name)
    ew = e_init(W, F, initial_layer_size=16)
    x = RNG.standard_normal((B, W, F)).astype(np.float32)
    zeros = np.zeros((B, 0), np.float32)
    flat = e_fwd(x, zeros, zeros, ew)
    t, d = P.out_shape(ew)
    z = flat.reshape(B, t, d)
    d_init, d_fwd = P.DECODERS[name]
    dw = d_init(W, F, initial_layer_size=16)
    rec = d_fwd(z, zeros, zeros, dw)
    assert rec.shape == (B, W, F)
    assert np.isfinite(rec).all()
