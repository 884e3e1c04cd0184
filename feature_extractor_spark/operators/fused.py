"""Fused window-build + encoder forward (the 100 TB path).

The declarative path (collect_list windows -> Arrow -> encoder UDF)
materializes every window as a W-element array: W× the data volume through
the JVM, the shuffle, and Arrow. At W=144 that is a 144× write
amplification of pure overhead — the reference pipeline's windows are
consumed by exactly one reader (the encoder).

This operator never materializes windows outside a NumPy view:

  raw rows -> per-entity row numbers within (entity, skew.heavy_cell):
              heavy entities in parallel time cells plus prefix offsets,
              every other entity as one NULL cell
           -> chunks of rows_per_chunk rows + W-1 context-row replication
              (explode)
           -> ONE shuffle of raw rows on (entity, chunk) into one partition
              per core, sorted by (entity, chunk, row number, ts)
           -> mapInPandas, one vectorized kernel call per Arrow batch:
                owned rows (not context, row number >= W-1) in NumPy, one
                np.sliding_window_view (zero-copy) over the batch, encoder
                forward in sub-batches, emit (entity, ts, z_mean); the
                batch's last group is carried into the next batch

Every row takes this one route; the heavy keys only change how the row
numbers are computed, never which path a row goes down.

Parity vs the unfused path is allclose(rtol=1e-5) (tests); throughput and
scaling are the reason it exists (see BENCH.md).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extractor_spark.encoder.plugins import encoder_fn
from feature_extractor_spark.operators.skew import heavy_cell

# encoder rows per kernel call: bounds the kernel working set. With the
# output-pruned attention (scores are (B, 2, W), not (B, W, W)) the set is
# GEMM-stream friendly and 128 is the measured sweet spot: 618k windows/s
# at 32 procs vs 316k at sub=32 (tiny GEMMs) and flat beyond 128.
_SUB_BATCH = 128


def _chunk_assign(
    src: DataFrame, entity_col: str, ts_col: str, W: int, rows_per_chunk: int,
    heavy_keys: list | None,
) -> DataFrame:
    """Per-entity 0-based ``__rn`` in ts order -> row-count chunks -> W-1
    context rows replicated into the next chunk (single pass, inline).

    ``__rn`` is a row_number within (entity, ``skew.heavy_cell``): a heavy
    entity is numbered in parallel across its time cells, then shifted by
    the prefix sum of its earlier cells' counts; every other entity is one
    NULL cell, numbered whole, with no offset to add."""
    marked = src.withColumn("__cell", heavy_cell(entity_col, ts_col, heavy_keys))
    w_local = Window.partitionBy(entity_col, "__cell").orderBy(ts_col)
    base = marked.withColumn("__rn", F.row_number().over(w_local) - 1)
    if heavy_keys:
        w_off = (
            Window.partitionBy(entity_col)
            .orderBy("__cell")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            marked.filter(F.col("__cell").isNotNull())
            .groupBy(entity_col, "__cell")
            .count()
            .select(entity_col, "__cell", F.sum("count").over(w_off).alias("__off"))
        )
        # a NULL cell (light or NULL entity) matches no offset row, and an
        # entity's first cell has no earlier cells to sum
        base = base.join(offsets, [entity_col, "__cell"], "left").withColumn(
            "__rn", F.col("__rn") + F.coalesce(F.col("__off"), F.lit(0))
        )
    chunk = F.floor(F.col("__rn") / rows_per_chunk)
    assign = F.when(
        F.pmod(F.col("__rn"), F.lit(rows_per_chunk)) >= rows_per_chunk - (W - 1),
        F.array(
            F.struct(chunk.alias("__chunk"), F.lit(False).alias("__ctx")),
            F.struct((chunk + 1).alias("__chunk"), F.lit(True).alias("__ctx")),
        ),
    ).otherwise(
        F.array(F.struct(chunk.alias("__chunk"), F.lit(False).alias("__ctx")))
    )
    return base.select(*src.columns, "__rn", F.inline(assign))


def _cyclical_np(ts: pd.Series) -> np.ndarray:
    """The reference's 10 cyclical datetime features, vectorized in NumPy
    (matches functions/conditions.cyclical_datetime_features; parity in
    tests). Computing them here instead of as JVM columns removes 10 double
    columns from the shuffle and the Arrow transfer."""
    dt = ts.dt
    two_pi = np.float32(2 * np.pi)
    parts = [
        (dt.hour.to_numpy(), 24.0),
        (dt.weekday.to_numpy(), 7.0),  # pandas: Monday=0 (reference formula)
        (dt.day.to_numpy(), 31.0),
        (dt.month.to_numpy(), 12.0),
        (dt.dayofyear.to_numpy(), 366.0),
    ]
    cols = []
    for vals, period in parts:
        ang = two_pi * vals.astype(np.float32) / np.float32(period)
        cols.append(np.sin(ang))
        cols.append(np.cos(ang))
    return np.stack(cols, axis=1)


def _group_starts(ent: np.ndarray, chunk: np.ndarray) -> np.ndarray:
    """True where a new (entity, chunk) group starts in sorted rows. NULL
    entity keys form one group, as Window.partitionBy keeps them (NaN and
    None compare unequal to themselves)."""
    na = pd.isna(ent)
    start = np.ones(len(ent), dtype=bool)
    start[1:] = ((ent[1:] != ent[:-1]) & ~(na[1:] & na[:-1])) | (
        chunk[1:] != chunk[:-1]
    )
    return start


def _same(a, b) -> bool:
    return bool(pd.isna(a) and pd.isna(b)) or a == b


def windowed_encode(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    feature_cols: list[str],
    cond_cols: list[str] | None,
    window_size: int,
    weights: dict[str, np.ndarray],
    h_dim: int = 4,
    rows_per_chunk: int = 8192,
    heavy_keys: list | None = None,
    plugin: str | None = None,
) -> DataFrame:
    """df must carry entity, ts, feature_cols (doubles) and cond_cols
    (doubles, point-in-time conditioning at the window's right edge).
    ``cond_cols=None`` computes the reference's 10 cyclical datetime
    features from ts inside the stage (cheaper: nothing extra shuffled).
    Returns (entity, ts, z_mean).

    ``heavy_keys`` (None and ``[]`` alike mean none): the entities whose
    rows are numbered within ``skew.heavy_cell`` time cells, the cells the
    ``auto`` as-of join cuts them on, so numbering a Zipf-head entity is
    not one serial task. Every entity, heavy or not, is then cut into
    chunks of ``rows_per_chunk`` rows, each led by the W-1 rows before it,
    and shuffled once on (entity, chunk)."""
    W = window_size
    if rows_per_chunk < W:
        raise ValueError("rows_per_chunk must be >= window_size")
    forward_fn = encoder_fn(plugin)

    in_stage_conds = cond_cols is None
    src = df.select(entity_col, ts_col, *feature_cols, *(cond_cols or []))
    rows = _chunk_assign(src, entity_col, ts_col, W, rows_per_chunk, heavy_keys)

    sc = df.sparkSession.sparkContext
    bw = sc.broadcast(dict(weights))
    schema = T.StructType(
        [
            df.schema[entity_col],
            df.schema[ts_col],
            T.StructField("z_mean", T.ArrayType(T.FloatType()), False),
        ]
    )

    def encode(frames: list[pd.DataFrame], wts: dict) -> Iterator[pd.DataFrame]:
        """Windows + latents for whole (entity, chunk) groups, sorted."""
        pdf = pd.concat(frames, ignore_index=True)
        n = len(pdf)
        if n < W:
            return
        ent = pdf[entity_col].to_numpy()
        # a group owns the windows ending at its non-context rows with W-1
        # predecessors in the entity; those predecessors are in the group,
        # as its own rows or the W-1 context rows that lead it
        owned = ~pdf["__ctx"].to_numpy() & (pdf["__rn"].to_numpy() >= W - 1)
        idx = np.flatnonzero(owned)
        if not len(idx):
            return
        feats = pdf[feature_cols].to_numpy(dtype=np.float32)  # (n, F)
        # zero-copy (n-W+1, W, F); the window ending at row i is wins[i-W+1]
        wins = np.swapaxes(
            np.lib.stride_tricks.sliding_window_view(feats, W, axis=0), 1, 2
        )
        ts = pdf[ts_col].iloc[idx]
        if in_stage_conds:
            conds = _cyclical_np(ts)
        elif cond_cols:
            conds = pdf[cond_cols].to_numpy(dtype=np.float32)[idx]
        else:
            conds = np.zeros((len(idx), 0), dtype=np.float32)
        outs = []
        for s in range(0, len(idx), _SUB_BATCH):
            sel = idx[s : s + _SUB_BATCH]
            x = np.ascontiguousarray(wins[sel - (W - 1)])
            h = np.zeros((len(sel), h_dim), dtype=np.float32)
            outs.append(forward_fn(x, h, conds[s : s + _SUB_BATCH], wts))
        yield pd.DataFrame(
            {
                entity_col: ent[idx],
                ts_col: ts.to_numpy(),
                "z_mean": list(np.concatenate(outs)),
            }
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """One ``encode`` per Arrow batch over its closed groups; the last,
        possibly open group waits in ``carry`` for the next batch. A group
        longer than a batch spans several, so its frames are buffered and
        concatenated once when it closes."""
        wts = bw.value
        carry: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            start = _group_starts(
                pdf[entity_col].to_numpy(), pdf["__chunk"].to_numpy()
            )
            if carry:
                tail = carry[-1]
                start[0] = not (
                    _same(tail[entity_col].iloc[-1], pdf[entity_col].iloc[0])
                    and tail["__chunk"].iloc[-1] == pdf["__chunk"].iloc[0]
                )
            cut = np.flatnonzero(start)
            if not len(cut):  # the whole batch continues the carried group
                carry.append(pdf)
                continue
            closed = carry + [pdf.iloc[: cut[-1]]]
            carry = [pdf.iloc[cut[-1] :]]
            yield from encode(closed, wts)
        if carry:
            yield from encode(carry, wts)

    # one task per core: at these sizes a Python task's fixed cost (launch
    # to UDF entry) outweighs its share of the encoder work. An explicit
    # repartition is exempt from AQE coalescing, which sizes partitions by
    # shuffle bytes and would starve this compute-bound stage. The __rn
    # tiebreak orders equal-ts context and owned rows the same on every run.
    return (
        rows.repartition(sc.defaultParallelism, F.col(entity_col), F.col("__chunk"))
        .sortWithinPartitions(entity_col, "__chunk", "__rn", ts_col)
        .mapInPandas(kernel, schema)
    )
