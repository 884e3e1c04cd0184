"""Sliding-window feature building (SURVEY.md §2.5 W1-W3, §2.2 P3).

Reference semantics (create_sliding_windows,
/root/reference/app/data_processor.py:18-38): stride-1 windows of length W
over a time-ordered frame; N rows -> N-W+1 windows; empty when N < W; the
sample's label/timestamp is the window's LAST step (zero temporal leakage —
a window at ts t contains only rows with ts <= t).

``sliding_windows`` is ``collect_list(...).over(rowsBetween(-(W-1), 0))``:
declarative; Catalyst/Tungsten stream it through the window operator's
external sorter with spill. Each output row carries its own W-length array,
so the shuffle writes O(N·W) values — fine for small/medium W.
Windows consumed only by the encoder never leave NumPy, and heavy-hitter
entities are split into row chunks there: see
``operators/fused.windowed_encode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_windows(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
    window_size: int,
    out_col: str = "window",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """W1, collect_list path: one row per (entity, ts) with ``out_col`` =
    array of the last ``window_size`` structs (oldest first).

    Rows whose history is shorter than W are dropped (reference emits
    N-W+1 windows; N<W -> empty result)."""
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col)
        .rowsBetween(-(window_size - 1), 0)
    )
    payload = (
        F.struct(*[F.col(c) for c in value_cols])
        if len(value_cols) > 1
        else F.col(value_cols[0])
    )
    keep = keep_cols or []
    return (
        df.select(entity_col, ts_col, *value_cols, *keep)
        .withColumn(out_col, F.collect_list(payload).over(w))
        .filter(F.size(out_col) == window_size)
        .select(entity_col, ts_col, *keep, out_col)
    )


def lag_lead_features(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    lags: list[int] | None = None,
    leads: list[int] | None = None,
) -> DataFrame:
    """W3: explicit lag/lead token-window features.

    Each lag k is ``lag(value, k) over (partition by entity order by ts)``
    — one window operator, no self-join, shuffle only on the entity key."""
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    out = df
    for k in lags or []:
        out = out.withColumn(f"{value_col}_lag_{k}", F.lag(value_col, k).over(w))
    for k in leads or []:
        out = out.withColumn(f"{value_col}_lead_{k}", F.lead(value_col, k).over(w))
    return out


def last_step(df: DataFrame, window_col: str, out_col: str = "target") -> DataFrame:
    """P3: point-in-time target = last element of the window
    (y = x[:, -1, :], /root/reference/app/data_processor.py:102)."""
    return df.withColumn(out_col, F.element_at(F.col(window_col), -1))
