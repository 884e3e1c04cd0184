"""Conditioning features (SURVEY.md §2.2 P4-P7, §2.5 W5).

P4 — 10 cyclical datetime features, matching the reference exactly
(calculate_datetime_features, /root/reference/app/data_processor.py:41-65):
sin/cos of hour/24, weekday/7 (Monday=0, pandas dt.weekday), day-of-month/31,
month/12, day-of-year/366. Pure Column expressions — JVM-side, codegen'd,
zero Python in the hot path.

P6/W5 — sin/cos positional encoding over a row index
(/root/reference/positional_encoding.py:6-25).

P5 — zero recurrent-context vector placeholder
(/root/reference/app/data_processor.py:168-171).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TWO_PI = 2.0 * math.pi


def _cyc(expr: Column, period: float) -> tuple[Column, Column]:
    angle = F.lit(TWO_PI) * expr / F.lit(period)
    return F.sin(angle), F.cos(angle)


def cyclical_datetime_features(
    df: DataFrame, ts_col: str = "ts", prefix: str = ""
) -> DataFrame:
    """Append the 10 cyclical features. Weekday uses pandas convention
    (Monday=0..Sunday=6): Spark dayofweek is 1=Sunday..7=Saturday, so
    weekday = (dayofweek + 5) mod 7."""
    ts = F.col(ts_col)
    weekday = F.pmod(F.dayofweek(ts) + 5, F.lit(7)).cast("double")
    parts = {
        "hour": (F.hour(ts).cast("double"), 24.0),
        "dow": (weekday, 7.0),
        "dom": (F.dayofmonth(ts).cast("double"), 31.0),
        "month": (F.month(ts).cast("double"), 12.0),
        "doy": (F.dayofyear(ts).cast("double"), 366.0),
    }
    out = df
    for name, (expr, period) in parts.items():
        s, c = _cyc(expr, period)
        out = out.withColumn(f"{prefix}sin_{name}", s).withColumn(
            f"{prefix}cos_{name}", c
        )
    return out


def positional_encoding(
    df: DataFrame,
    order_col: str,
    d_model: int = 4,
    prefix: str = "pe_",
    partition_col: str | None = None,
) -> DataFrame:
    """Append sin/cos positional-encoding columns computed from the row's
    global (or per-partition) position — row_number over the order column,
    then the transformer PE formula pos / 10000^(2i/d).

    ``partition_col=None`` mirrors the reference's GLOBAL position semantics
    without a global ``Window.orderBy`` (one task for the whole dataset):
    the position is the exclusive sum of ``lit(1)`` by the packing
    operator's two-phase scan over one checkpointed range partitioning
    (operators/packing._global_exclusive_sum)."""
    if partition_col:
        w = Window.partitionBy(partition_col).orderBy(order_col)
        out = df.withColumn("__pos", F.row_number().over(w).cast("double") - 1)
    else:
        from feature_extractor_spark.operators.packing import (
            _global_exclusive_sum,
        )

        out = _global_exclusive_sum(df, [order_col], F.lit(1), "__pos")
        out = out.withColumn("__pos", F.col("__pos").cast("double"))
    for i in range(d_model // 2):
        denom = float(10000 ** (2 * i / d_model))
        out = out.withColumn(
            f"{prefix}sin_{i}", F.sin(F.col("__pos") / F.lit(denom))
        ).withColumn(f"{prefix}cos_{i}", F.cos(F.col("__pos") / F.lit(denom)))
    return out.drop("__pos")


def weekday_filter(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """P7: drop Saturday/Sunday rows
    (/root/reference/app/REFERENCE_Functionality.md:185).
    Spark dayofweek: 1=Sunday, 7=Saturday."""
    return df.filter(~F.dayofweek(F.col(ts_col)).isin(1, 7))


def zero_context(df: DataFrame, dim: int, out_col: str = "h_context") -> DataFrame:
    """P5: zeros(N, rnn_hidden_dim) placeholder context vector."""
    return df.withColumn(out_col, F.array_repeat(F.lit(0.0).cast("float"), dim))
