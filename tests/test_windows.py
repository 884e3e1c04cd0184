"""W1/W3/P3 parity: golden sliding-window semantics from the reference's
own (stale but normative) unit tests
(/root/reference/tests/unit_tests/test_data_handler.py:37-76): stride 1,
N-W+1 windows, empty when N < W, window label at the LAST step."""

import datetime as dt

import pandas as pd
import pytest

from feature_extractor_spark.operators.windows import (
    lag_lead_features,
    last_step,
    sliding_windows,
)


def _series_df(spark, n=20, entities=("a", "b")):
    rows = []
    for e in entities:
        for i in range(n):
            rows.append(
                (e, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i) + (0.5 if e == "b" else 0.0))
            )
    return spark.createDataFrame(rows, "doc_id string, ts timestamp, value double")


def _oracle_windows(n, w, offset=0.0):
    """Pandas/Python oracle: stride-1 windows, N-W+1 of them."""
    vals = [float(i) + offset for i in range(n)]
    return [vals[i : i + w] for i in range(n - w + 1)] if n >= w else []


@pytest.mark.parametrize("w", [1, 3, 5])
def test_sliding_window_counts_and_values(spark, w):
    n = 12
    df = _series_df(spark, n=n, entities=("a",))
    got = (
        sliding_windows(df, "doc_id", "ts", ["value"], w)
        .orderBy("ts")
        .collect()
    )
    exp = _oracle_windows(n, w)
    assert len(got) == n - w + 1
    assert [list(r["window"]) for r in got] == exp


def test_sliding_window_empty_when_short(spark):
    df = _series_df(spark, n=3, entities=("a",))
    assert sliding_windows(df, "doc_id", "ts", ["value"], 5).count() == 0


def test_sliding_window_exact_length(spark):
    df = _series_df(spark, n=4, entities=("a",))
    got = sliding_windows(df, "doc_id", "ts", ["value"], 4).collect()
    assert len(got) == 1
    assert list(got[0]["window"]) == [0.0, 1.0, 2.0, 3.0]


def test_last_step_is_point_in_time(spark):
    """P3 + zero-leakage: the target equals the value AT the window ts."""
    df = _series_df(spark, n=10, entities=("a",))
    win = sliding_windows(df, "doc_id", "ts", ["value"], 4)
    got = last_step(win, "window").join(df, ["doc_id", "ts"]).collect()
    for r in got:
        assert r["target"] == r["value"]


def test_temporal_leakage_property(spark):
    """Perturb rows with ts > t: windows at ts <= t must not change."""
    n, w = 16, 4
    base = _series_df(spark, n=n, entities=("a",))
    cut = dt.datetime(2024, 1, 1) + dt.timedelta(hours=9)
    from pyspark.sql import functions as F

    perturbed = base.withColumn(
        "value", F.when(F.col("ts") > cut, F.col("value") * 1000 + 7).otherwise(F.col("value"))
    )
    wa = sliding_windows(base, "doc_id", "ts", ["value"], w).filter(F.col("ts") <= cut)
    wb = sliding_windows(perturbed, "doc_id", "ts", ["value"], w).filter(F.col("ts") <= cut)
    pa = wa.orderBy("ts").toPandas()
    pb = wb.orderBy("ts").toPandas()
    assert len(pa) == len(pb) > 0
    for x, y in zip(pa["window"], pb["window"]):
        assert list(x) == list(y)


def test_lag_lead(spark):
    df = _series_df(spark, n=6, entities=("a",))
    out = (
        lag_lead_features(df, "doc_id", "ts", "value", lags=[1, 2], leads=[1])
        .orderBy("ts")
        .toPandas()
    )
    assert out["value_lag_1"].tolist()[1:] == out["value"].tolist()[:-1]
    assert pd.isna(out["value_lag_1"].iloc[0])
    assert pd.isna(out["value_lag_2"].iloc[1])
    assert out["value_lead_1"].tolist()[:-1] == out["value"].tolist()[1:]
