"""P4 cyclical features vs pandas oracle (reference formula,
app/data_processor.py:41-65) + tokens-source token-array equality."""

import datetime as dt
import math

import numpy as np
import pytest

from feature_extractor_spark.functions.conditions import (
    cyclical_datetime_features,
    weekday_filter,
    zero_context,
)
from feature_extractor_spark.sources.tokens import expected_tokens, synth_tokens


def _pandas_cyclical(ts: dt.datetime) -> dict:
    two_pi = 2 * math.pi
    doy = ts.timetuple().tm_yday
    return {
        "sin_hour": math.sin(two_pi * ts.hour / 24),
        "cos_hour": math.cos(two_pi * ts.hour / 24),
        "sin_dow": math.sin(two_pi * ts.weekday() / 7),  # pandas: Monday=0
        "cos_dow": math.cos(two_pi * ts.weekday() / 7),
        "sin_dom": math.sin(two_pi * ts.day / 31),
        "cos_dom": math.cos(two_pi * ts.day / 31),
        "sin_month": math.sin(two_pi * ts.month / 12),
        "cos_month": math.cos(two_pi * ts.month / 12),
        "sin_doy": math.sin(two_pi * doy / 366),
        "cos_doy": math.cos(two_pi * doy / 366),
    }


def test_cyclical_features_match_reference_formula(spark):
    stamps = [
        dt.datetime(2024, 1, 1, 0),
        dt.datetime(2024, 2, 29, 13),
        dt.datetime(2024, 7, 4, 23),
        dt.datetime(2024, 12, 31, 6),
        dt.datetime(2025, 6, 15, 12),
    ]
    df = spark.createDataFrame([(t,) for t in stamps], "ts timestamp")
    got = cyclical_datetime_features(df).orderBy("ts").collect()
    for row, ts in zip(got, stamps):
        exp = _pandas_cyclical(ts)
        for k, v in exp.items():
            assert abs(row[k] - v) < 1e-9, (ts, k, row[k], v)


def test_weekday_filter(spark):
    days = [dt.datetime(2024, 1, 1) + dt.timedelta(days=i) for i in range(14)]
    df = spark.createDataFrame([(t,) for t in days], "ts timestamp")
    got = [r["ts"] for r in weekday_filter(df).collect()]
    assert all(t.weekday() < 5 for t in got)
    assert len(got) == 10


def test_zero_context(spark):
    df = spark.createDataFrame([(1,)], "id int")
    row = zero_context(df, 4).first()
    assert list(row["h_context"]) == [0.0] * 4


def test_tokens_source_token_array_equality(spark):
    """Per-row token-array equality vs the independent Python oracle
    (BASELINE.json per-row invariant)."""
    df = synth_tokens(spark, n_rows=500, n_docs=20)
    rows = df.collect()
    assert len(rows) == 500
    # invariant: n_tok == size(tokens)
    assert all(r["n_tok"] == len(r["tokens"]) for r in rows)
    # recompute row ids from the deterministic formula and compare arrays
    by_first = {}
    for rid in range(500):
        exp = expected_tokens(rid)
        by_first.setdefault((len(exp), exp[0]), []).append(exp)
    for r in rows:
        key = (r["n_tok"], r["tokens"][0])
        assert key in by_first
        assert list(r["tokens"]) in by_first[key]


def test_tokens_source_skew_and_monotonic_ts(spark):
    df = synth_tokens(spark, n_rows=1000, n_docs=50, heavy_share=5)
    pdf = df.toPandas()
    counts = pdf.groupby("doc_id").size()
    assert counts["doc_000000"] >= 0.15 * len(pdf)  # heavy hitter exists
    for _, g in pdf.groupby("doc_id"):
        ts = g.sort_values("ts")["ts"].to_list()
        assert all(a < b for a, b in zip(ts, ts[1:]))
    assert (pdf["n_tok"] == pdf["tokens"].str.len()).all()
    assert set(pdf["source"]) <= {"web", "books", "code", "news"}
    assert (np.concatenate(pdf["tokens"].to_numpy()) < 50257).all()


@pytest.mark.parametrize("n_rows", [500, 4000], ids=["500", "4000-wide-small-sample"])
def test_positional_encoding_global_scan_matches_window(spark, request, n_rows):
    """The scan-based global position (partition_col=None) must equal a
    naive global row_number ordering. The 4000-row case carries a wide
    payload and samples two rows per range-exchange partition."""
    import datetime as _dt
    from pyspark.sql import functions as F
    from feature_extractor_spark.functions.conditions import positional_encoding

    if n_rows > 500:
        request.getfixturevalue("small_range_sample")
    t = _dt.datetime(2024, 1, 1)
    rows = [(i, t + _dt.timedelta(minutes=7 * i)) for i in range(n_rows)]
    df = (
        spark.createDataFrame(rows, "id long, ts timestamp")
        .withColumn("payload", F.repeat(F.lit("x"), 512))
        .repartition(8)
    )
    got = positional_encoding(df, "ts", d_model=4).orderBy("id").toPandas()
    import numpy as np

    pos = np.arange(n_rows, dtype=np.float64)  # id order == ts order
    np.testing.assert_allclose(got["pe_sin_0"], np.sin(pos), rtol=1e-12)
    np.testing.assert_allclose(got["pe_cos_1"], np.cos(pos / 100.0), rtol=1e-12)
