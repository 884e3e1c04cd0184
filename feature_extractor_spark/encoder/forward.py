"""Deterministic encoder forward pass in pure NumPy (SURVEY.md §2.9 U1).

Mirrors the *shape* of the reference's ``vae_small`` inference network
(/root/reference/app/plugins/encoder_plugin_vae_small.py:80-235):

  inputs (x_window (B,W,F), h_prev (B,H), cond (B,C))
  -> repeat h/cond along time + concat             (ref :114-122)
  -> additive sin/cos positional encoding          (ref :15-28, :131-139)
  -> single-head self-attention + residual + LayerNorm (ref :141-157)
  -> strided linear downsample (conv stride 2)     (ref :162-178)
  -> tanh dense head on the last time step -> z_mean (ref :201-213 emit
     z_mean; inference is deterministic — saved encoder outputs z_mean,
     no sampling: /root/reference/app/data_processor.py:662-671)

TensorFlow is not available in this container, so the graph runs on seeded
float32 NumPy weights. The SAME function serves as the single-process oracle
(tests feed the full array at once) and as the distributed kernel (the Spark
stage feeds Arrow batches) — the parity test asserts batch-invariance and
allclose(rtol=1e-5), the tolerance the reference uses for its own save/load
round-trip (encoder_plugin_vae_small.py:322).
"""

from __future__ import annotations

import numpy as np

from feature_extractor_spark.encoder.layers import _softmax_last, layer_norm

DTYPE = np.float32


def init_weights(
    window_size: int,
    n_features: int,
    rnn_hidden_dim: int = 4,
    conditioning_dim: int = 10,
    latent_dim: int = 8,
    d_model: int = 16,
    seed: int = 1234,
) -> dict[str, np.ndarray]:
    """Seeded float32 weights for the forward graph. Deterministic across
    platforms (PCG64 stream)."""
    rng = np.random.default_rng(seed)
    fin = n_features + rnn_hidden_dim + conditioning_dim

    def mat(*shape):
        return (rng.standard_normal(shape) / np.sqrt(shape[0])).astype(DTYPE)

    return {
        "meta": np.array(
            [window_size, n_features, rnn_hidden_dim, conditioning_dim, latent_dim, d_model],
            dtype=np.int64,
        ),
        "w_in": mat(fin, d_model),
        "b_in": np.zeros(d_model, dtype=DTYPE),
        "w_q": mat(d_model, d_model),
        "w_k": mat(d_model, d_model),
        "w_v": mat(d_model, d_model),
        "ln_g": np.ones(d_model, dtype=DTYPE),
        "ln_b": np.zeros(d_model, dtype=DTYPE),
        "w_conv": mat(2 * d_model, d_model),  # kernel 2, stride 2
        "b_conv": np.zeros(d_model, dtype=DTYPE),
        "w_mu": mat(d_model, latent_dim),
        "b_mu": np.zeros(latent_dim, dtype=DTYPE),
    }


_PE_CACHE: dict[tuple[int, int], np.ndarray] = {}
_SCRATCH: dict[tuple[int, int, int], dict] = {}


def _positional_encoding(W: int, d: int) -> np.ndarray:
    pe = _PE_CACHE.get((W, d))
    if pe is not None:
        return pe
    pos = np.arange(W, dtype=DTYPE)[:, None]
    i = np.arange(d, dtype=DTYPE)[None, :]
    angle = pos / np.power(DTYPE(10000.0), (2 * (i // 2)) / DTYPE(d))
    pe = np.zeros((W, d), dtype=DTYPE)
    pe[:, 0::2] = np.sin(angle[:, 0::2])
    pe[:, 1::2] = np.cos(angle[:, 1::2])
    _PE_CACHE[(W, d)] = pe
    return pe


def encoder_forward(
    x: np.ndarray,  # (B, W, F) float32
    h: np.ndarray,  # (B, H) float32
    cond: np.ndarray,  # (B, C) float32
    weights: dict[str, np.ndarray],
) -> np.ndarray:
    """Returns z_mean (B, latent_dim) float32. Row-independent: the output
    of row i depends only on inputs of row i, so any batch split yields
    identical results (the property the Spark stage relies on).

    Bandwidth-tuned: the kernel is memory-bound under many-process
    concurrency (measured 0.38 scaling efficiency 8->32 procs before), so
    (a) the RepeatVector+concat input is folded into the GEMM algebraically
    — [x|h_rep|c_rep] @ w_in == x @ w_in[:F] + (h @ w_in[F:F+H] +
    cond @ w_in[F+H:]) broadcast over W, skipping the (B, W, F+H+C)
    materialization entirely; (b) output-dependency pruning: the tanh head
    reads ONLY the last strided-conv step, which reads only the last two
    post-attention positions — so queries/scores/att/LN are computed for
    those two positions instead of all W (attention flops W^2 -> 2W; same
    values bit-for-bit as the full graph, which lives on as
    ``encoder_forward_full`` and is parity-tested against this); (c)
    softmax / layernorm / residual / activations run in place on reused
    scratch buffers (a fresh >128 KB NumPy alloc is mmap-backed: the kernel
    zero-fills new pages every call, doubling DRAM traffic); (d) the
    positional encoding is cached."""
    x = x.astype(DTYPE, copy=False)
    B, W, F_ = x.shape
    w_in = weights["w_in"]
    d = w_in.shape[1]
    H = h.shape[1]

    # fused KV projection weight, built once per weights dict (worker-local
    # deserialized copy — mutating it is private to this process)
    w_kv = weights.get("_w_kv")
    if w_kv is None:
        w_kv = np.concatenate([weights["w_k"], weights["w_v"]], axis=1)
        weights["_w_kv"] = w_kv

    key = (B, W, d)
    s = _SCRATCH.get(key)
    if s is None:
        if len(_SCRATCH) > 8:  # tail batch sizes; keep the cache bounded
            _SCRATCH.clear()
        s = {
            "z": np.empty((B, W, d), DTYPE),
            "kv": np.empty((B, W, 2 * d), DTYPE),
            "scores": np.empty((B, 2, W), DTYPE),
        }
        _SCRATCH[key] = s
    z, kv, scores = s["z"], s["kv"], s["scores"]

    # input projection without materializing repeat+concat:
    # [x|h_rep|c_rep] @ w_in == x @ w_in[:F] + broadcast row-bias
    np.matmul(x.reshape(B * W, F_), w_in[:F_], out=z.reshape(B * W, d))
    bias = weights["b_in"][None, :].astype(DTYPE)  # (1, d)
    if H:
        bias = bias + h.astype(DTYPE, copy=False) @ w_in[F_ : F_ + H]
    if cond.shape[1]:
        bias = bias + cond.astype(DTYPE, copy=False) @ w_in[F_ + H :]
    z += bias[:, None, :]  # per-row constant along W
    z += _positional_encoding(W, d)[None, :, :]

    # K, V over all W positions; Q only at the two positions the head reads
    # (the last strided-conv pair: 2*(W//2)-2 and its successor)
    i0 = 2 * (W // 2) - 2
    np.matmul(z.reshape(B * W, d), w_kv, out=kv.reshape(B * W, 2 * d))
    k = kv[:, :, :d]
    v = kv[:, :, d:]
    q2 = z[:, i0 : i0 + 2, :] @ weights["w_q"]  # (B, 2, d)
    np.matmul(q2, k.transpose(0, 2, 1), out=scores)  # (B, 2, W)
    scores *= DTYPE(1.0) / np.sqrt(DTYPE(d))
    scores -= scores.max(axis=-1, keepdims=True)
    np.exp(scores, out=scores)
    scores /= scores.sum(axis=-1, keepdims=True)
    att2 = scores @ v  # (B, 2, d)
    # residual + layernorm at the two read positions only
    z2 = z[:, i0 : i0 + 2, :] + att2
    mu = z2.mean(axis=-1, keepdims=True)
    z2 -= mu
    var = np.mean(np.square(z2), axis=-1, keepdims=True)
    var += DTYPE(1e-5)
    np.sqrt(var, out=var)
    z2 /= var
    z2 *= weights["ln_g"]
    z2 += weights["ln_b"]

    # last strided "conv" step: the final adjacent pair -> linear -> leaky
    zc = z2.reshape(B, 2 * d) @ weights["w_conv"] + weights["b_conv"]
    zc = np.where(zc > 0, zc, DTYPE(0.2) * zc)

    z_mean = np.tanh(zc @ weights["w_mu"] + weights["b_mu"])
    return z_mean.astype(DTYPE, copy=False)


def encoder_forward_full(
    x: np.ndarray,
    h: np.ndarray,
    cond: np.ndarray,
    weights: dict[str, np.ndarray],
) -> np.ndarray:
    """The unpruned graph — attention/LN/conv materialized at every
    position. Semantically identical to ``encoder_forward`` (which prunes
    computation to the positions the output depends on); kept as the test
    oracle for that equivalence."""
    x = x.astype(DTYPE, copy=False)
    B, W, _ = x.shape
    h_rep = np.repeat(h.astype(DTYPE)[:, None, :], W, axis=1)
    c_rep = np.repeat(cond.astype(DTYPE)[:, None, :], W, axis=1)
    z = np.concatenate([x, h_rep, c_rep], axis=-1)
    z = z @ weights["w_in"] + weights["b_in"]
    z = z + _positional_encoding(W, z.shape[-1])[None, :, :]
    q = z @ weights["w_q"]
    k = z @ weights["w_k"]
    v = z @ weights["w_v"]
    d = DTYPE(z.shape[-1])
    att = _softmax_last((q @ k.transpose(0, 2, 1)) / np.sqrt(d)) @ v
    z = layer_norm(z + att, weights["ln_g"], weights["ln_b"], eps=1e-5)
    W2 = W // 2
    zc = z[:, : 2 * W2, :].reshape(B, W2, -1) @ weights["w_conv"] + weights["b_conv"]
    zc = np.where(zc > 0, zc, DTYPE(0.2) * zc)
    last = zc[:, -1, :]
    z_mean = np.tanh(last @ weights["w_mu"] + weights["b_mu"])
    return z_mean.astype(DTYPE, copy=False)


def init_decoder_weights(
    latent_dim: int,
    n_features: int,
    d_model: int = 16,
    seed: int = 4321,
) -> dict[str, np.ndarray]:
    """Seeded float32 weights for the generative (decoder) network
    (SURVEY.md §2.9 U2; reference decoder contract
    /root/reference/app/autoencoder_manager.py:165-174)."""
    rng = np.random.default_rng(seed)

    def mat(*shape):
        return (rng.standard_normal(shape) / np.sqrt(shape[0])).astype(DTYPE)

    return {
        "w_up": mat(latent_dim, d_model),
        "b_up": np.zeros(d_model, dtype=DTYPE),
        "w_out": mat(d_model, n_features),
        "b_out": np.zeros(n_features, dtype=DTYPE),
    }


def decoder_forward(
    z: np.ndarray,  # (B, latent) float32
    weights: dict[str, np.ndarray],
) -> np.ndarray:
    """Mirror of the encoder tail: latent -> hidden (leaky relu) -> output
    features. The reference decoder emits the LAST time step only
    (decoder_plugin_vae_small.py:228-245), so this produces (B, F) —
    the point-in-time reconstruction."""
    h = z.astype(DTYPE, copy=False) @ weights["w_up"] + weights["b_up"]
    h = np.where(h > 0, h, DTYPE(0.2) * h)
    out = h @ weights["w_out"] + weights["b_out"]
    return out.astype(DTYPE, copy=False)
