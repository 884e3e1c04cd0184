"""Corpus profiling: one-pass per-column statistics for pipeline ops.

Training-data pipelines need cheap dataset health checks (null surges,
length-distribution drift, cardinality blowups) before/after every
curation stage. ``profile_columns`` computes everything in ONE aggregate
job — a single scan with map-side partials, no per-column passes:

- all columns: null count + approx distinct (HLL, ``approx_count_distinct``)
- numeric: min / max / mean / approx p25/p50/p75/p99
  (``percentile_approx``, t-digest-style sketch — bounded memory at any
  row count)
- string: min/max/avg length
- array: min/max/avg size

Returns a LONG-format DataFrame (column, metric, value: double,
value_str) so downstream checks are joins, not schema surgery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extractor_spark.session import local_frame

_PCTS = [0.25, 0.5, 0.75, 0.99]


def profile_columns(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Single-job profile of ``columns`` (default: all). One wide
    aggregate row is computed distributed, then unpivoted driver-side
    (constant-size: metrics x columns scalars)."""
    cols = columns if columns is not None else df.columns
    # (column, metric) labels ride a side list keyed by agg POSITION —
    # never parsed back out of the alias, so any column name (including
    # ones containing '__') profiles correctly
    aggs = [F.count(F.lit(1)).alias("__n")]
    labels: list[tuple[str, str]] = [("", "__n")]

    def add(c: str, metric: str, expr) -> None:
        aggs.append(expr.alias(f"__m{len(aggs)}"))
        labels.append((c, metric))

    for c in cols:
        dt = df.schema[c].dataType
        add(c, "nulls", F.count(F.when(F.col(c).isNull(), 1)))
        add(c, "distinct", F.approx_count_distinct(c))
        if isinstance(dt, T.NumericType):
            add(c, "min", F.min(c).cast("double"))
            add(c, "max", F.max(c).cast("double"))
            add(c, "mean", F.avg(c))
            add(c, "pcts", F.percentile_approx(F.col(c).cast("double"), _PCTS, 10_000))
        elif isinstance(dt, T.StringType):
            ln = F.length(c)
            add(c, "min_len", F.min(ln).cast("double"))
            add(c, "max_len", F.max(ln).cast("double"))
            add(c, "avg_len", F.avg(ln))
        elif isinstance(dt, T.ArrayType):
            sz = F.size(c)
            add(c, "min_size", F.min(sz).cast("double"))
            add(c, "max_size", F.max(sz).cast("double"))
            add(c, "avg_size", F.avg(sz))
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            add(c, "min_ts", F.min(c).cast("string"))
            add(c, "max_ts", F.max(c).cast("string"))
    row = df.agg(*aggs).first()

    n_rows = int(row[0])
    out_rows: list[tuple] = []
    for (col, metric), val in zip(labels[1:], row[1:]):
        if metric == "pcts":
            if val is not None:
                for p, v in zip(_PCTS, val):
                    out_rows.append(
                        (col, f"p{int(p * 100)}", float(v), None)
                    )
            continue
        if metric in ("min_ts", "max_ts"):
            out_rows.append((col, metric, None, val))
            continue
        out_rows.append(
            (col, metric, None if val is None else float(val), None)
        )
    for c in cols:
        out_rows.append((c, "rows", float(n_rows), None))
    return local_frame(
        df.sparkSession,
        out_rows,
        "column string, metric string, value double, value_str string",
    )
