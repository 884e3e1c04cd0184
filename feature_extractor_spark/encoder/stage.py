"""The Arrow model stage (SURVEY.md §2.9 U1, §3.2): ``model_stage`` is the
one body that runs a NumPy model over Spark rows. ``encode_stage``,
``decode_stage``, ``decode_seq_stage`` and ``golden.golden_encode_stage``
only say which columns go in, which arrays come out and which NumPy
function maps one to the other.

``mapInPandas`` over Arrow batches: the model state is broadcast once
(SparkContext broadcast — one copy per executor, not per task),
deserialized lazily inside the generator, and every batch runs the whole
NumPy graph vectorized. No per-row Python anywhere (input_hint mandate).

Batch sizing: spark.sql.execution.arrow.maxRecordsPerBatch (session.py sets
4096) bounds per-task memory at batch × W × F × 4 bytes.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extractor_spark.encoder.forward import decoder_forward
from feature_extractor_spark.encoder.plugins import (
    encoder_fn,
    get_encoder_full,
    vae_small_decode,
)


def _matrix(col: pd.Series) -> np.ndarray:
    """(B,) arrays of one length n -> float32 (B, n).

    One np.concatenate over the whole Arrow batch + one reshape — no
    per-row Python. (A nested array<array<T>> column is flattened JVM-side
    with F.flatten before the UDF; converting nested object arrays
    row-by-row in Python measured ~3x slower end-to-end.)"""
    flat = np.concatenate(col.to_numpy()).astype(np.float32, copy=False)
    return flat.reshape(len(col), -1)


def model_stage(
    df: DataFrame,
    state,
    keep: list[str],
    array_cols: list[str],
    scalar_cols: list[str],
    fn: Callable,
    out_cols: list[str],
) -> DataFrame:
    """Rows of ``keep`` + one array<float> column per ``out_cols`` name.

    Per non-empty Arrow batch of B rows, ``fn(arrays, scalars, state)``
    gets each ``array_cols`` column as a float32 (B, n) matrix, the
    ``scalar_cols`` as one float32 (B, len(scalar_cols)) matrix and the
    broadcast ``state``, and returns one (B, d) array per ``out_cols``."""
    for c in array_cols:
        if isinstance(df.schema[c].dataType.elementType, T.ArrayType):
            df = df.withColumn(c, F.flatten(F.col(c)))
    bw = df.sparkSession.sparkContext.broadcast(state)
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(c, T.ArrayType(T.FloatType()), False) for c in out_cols]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bw.value  # one deserialization per task; broadcast = one per executor
        for pdf in batches:
            if pdf.empty:
                continue
            arrays = [_matrix(pdf[c]) for c in array_cols]
            scalars = pdf[scalar_cols].to_numpy(dtype=np.float32)
            out = pdf[keep].copy()
            for c, v in zip(out_cols, fn(arrays, scalars, st)):
                out[c] = list(v)
            yield out

    return df.mapInPandas(run, schema)


def encode_stage(
    df: DataFrame,
    weights: dict[str, np.ndarray],
    window_col: str = "window",
    h_col: str = "h_context",
    cond_cols: list[str] | None = None,
    keep_cols: list[str] | None = None,
    plugin: str | None = None,
    log_var_col: str | None = None,
) -> DataFrame:
    """Run the encoder over window rows.

    - ``window_col``: array<array<float>> (W × F, oldest first)
    - ``h_col``: array<float> recurrent context (zeros placeholder, P5);
      optional — legacy AE plugins (ann/cnn/lstm/transformer) take only the
      window, so a missing h_col feeds a zero-width context
    - ``cond_cols``: scalar double columns forming the conditioning vector
      (the 10 cyclical features, P4)
    - ``plugin``: reference plugin name resolved through the registry
      (``plugins.encoder_fn``)
    Output: input keep_cols + ``z_mean`` array<float> latent vector
    (sequence latents arrive flattened row-major; plugins.out_shape gives
    the logical (T', D') back).

    ``log_var_col``: also emit the encoder's second head as an extra
    array<float> column — the reference encoder contract is
    ``encode -> (z_mean, z_log_var)`` (encoder_plugin_vae_small.py:228-235);
    only plugins with a log-var head support it (vae_small family).
    """
    if log_var_col is None:
        forward, out_cols = encoder_fn(plugin), ["z_mean"]
    else:
        forward, out_cols = get_encoder_full(plugin), ["z_mean", log_var_col]
    have_h = h_col in df.columns
    keep = keep_cols or [c for c in df.columns if c not in (window_col, h_col)]
    n_features = int(weights["meta"][1])

    def run(arrays, cond, w):
        x = arrays[0].reshape(len(cond), -1, n_features)
        h = arrays[1] if have_h else np.zeros((len(cond), 0), dtype=np.float32)
        out = forward(x, h, cond, w)
        return (out,) if log_var_col is None else out

    # window rows are self-contained, so the forward pass is embarrassingly
    # parallel — but the upstream window build leaves rows partitioned by
    # entity, and a heavy-hitter entity turns into one straggler Python
    # worker. A round-robin repartition ahead of the UDF costs one balanced
    # shuffle and removes the skew (measured: required for local[8]->local[32]
    # scaling on Zipf-skewed entities).
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2)
    array_cols = [window_col, h_col] if have_h else [window_col]
    return model_stage(
        df, dict(weights), keep, array_cols, cond_cols or [], run, out_cols
    )


def name_reconstruction_columns(
    df: DataFrame,
    target_names: list[str] | None,
    rec_col: str = "reconstruction",
    n_features: int | None = None,
    weights: dict[str, np.ndarray] | None = None,
) -> DataFrame:
    """Decoder output naming parity (reference app/data_processor.py:732-738):
    when the configured ``cvae_target_feature_names`` arity matches the
    reconstruction width, the array is split into columns under those names;
    otherwise generic ``reconstructed_feature_i`` names are used.

    The width is statically known in every composed pipeline — pass it as
    ``n_features`` or hand over the decoder ``weights`` (meta[1] = output
    feature dim). A ``.first()`` probe is kept ONLY as a last resort for
    frames of unknown provenance: it is a driver-side action that executes
    the upstream plan once, so it must never sit inside a library pipeline."""
    n = n_features
    if n is None and weights is not None and "meta" in weights:
        n = int(weights["meta"][1])
    if n is None:
        first = df.select(rec_col).first()
        if first is not None:
            n = len(first[rec_col])
    if n is None:
        return df
    if target_names and len(target_names) == n:
        names = list(target_names)
    else:
        names = [f"reconstructed_feature_{i}" for i in range(n)]
    cols = [c for c in df.columns if c != rec_col]
    return df.select(
        *cols,
        *[F.element_at(F.col(rec_col), i + 1).alias(names[i]) for i in range(n)],
    )


def decode_seq_stage(
    df: DataFrame,
    weights: dict[str, np.ndarray],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """U2 faithful vae_small decoder stage: flattened SEQUENCE latents
    (``z_mean``, T'*L per row, as emitted by encode_stage(plugin='vae_small'))
    -> ``reconstruction``, the (B, F_out) last-step reconstruction (reference
    decoder_plugin_vae_small.py:81-240). h/cond default to zeros (P5)."""
    keep = keep_cols or [c for c in df.columns if c != "z_mean"]
    meta = weights["meta"]
    t_prime, latent = int(meta[6]), int(meta[4])
    h_dim, c_dim = int(meta[2]), int(meta[3])

    def run(arrays, _, w):
        B = len(arrays[0])
        z = arrays[0].reshape(B, t_prime, latent)
        h = np.zeros((B, h_dim), dtype=np.float32)
        cond = np.zeros((B, c_dim), dtype=np.float32)
        return (vae_small_decode(z, h, cond, w),)

    return model_stage(
        df, dict(weights), keep, ["z_mean"], [], run, ["reconstruction"]
    )


def decode_stage(
    df: DataFrame,
    weights: dict[str, np.ndarray],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """U2 decoder forward: the ``z_mean`` latent array -> ``reconstruction``,
    the reconstructed point-in-time feature vector (reference decoder
    evaluation path, SURVEY.md §3.3)."""
    keep = keep_cols or [c for c in df.columns if c != "z_mean"]
    return model_stage(
        df, dict(weights), keep, ["z_mean"], [],
        lambda arrays, _, w: (decoder_forward(arrays[0], w),), ["reconstruction"],
    )
