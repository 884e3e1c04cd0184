"""J3 as-of join parity: both strategies vs pandas.merge_asof, the
chunked scan of the ``auto`` route vs the plain one, plus the
zero-temporal-leakage property (BASELINE.json quality gate)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.functions.timeutil import epoch_seconds
from feature_extractor_spark.operators.asof import (
    _asof_union_locf_chunked,
    asof_join,
)


def _fixtures(spark, seed=7, n_left=120, n_right=40, keys=("a", "b", "c")):
    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    left_rows, right_rows = [], []
    for k in keys:
        lts = np.sort(rng.choice(10_000, size=n_left, replace=False))
        for t in lts:
            left_rows.append((k, base + dt.timedelta(minutes=int(t)), float(t)))
        if k != "c":  # key 'c' has NO right rows -> nulls after backfill
            rts = np.sort(rng.choice(10_000, size=n_right, replace=False))
            for t in rts:
                right_rows.append((k, base + dt.timedelta(minutes=int(t)), float(t) * 10))
    left = spark.createDataFrame(left_rows, "doc_id string, ts timestamp, lval double")
    right = spark.createDataFrame(right_rows, "doc_id string, ts timestamp, aux double")
    return left, right


def _cells(width):
    """Chunk column of ``width``-second time cells for the chunked scan."""
    return F.floor(epoch_seconds(F.col("ts")) / width)


def _pandas_oracle(left, right, tolerance=None, direction="backward"):
    lp = left.toPandas().sort_values(["ts"], kind="mergesort")
    rp = right.toPandas().sort_values(["ts"], kind="mergesort")
    tol = pd.Timedelta(seconds=tolerance) if tolerance else None
    out = pd.merge_asof(
        lp, rp[["doc_id", "ts", "aux"]], on="ts", by="doc_id",
        direction=direction, tolerance=tol,
    )
    return out.sort_values(["doc_id", "ts"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["union_locf", "auto"])
def test_asof_matches_pandas(spark, strategy):
    left, right = _fixtures(spark)
    got = (
        asof_join(left, right, on="ts", by="doc_id", strategy=strategy)
        .orderBy("doc_id", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = _pandas_oracle(left, right)
    pd.testing.assert_frame_equal(
        got[["doc_id", "ts", "lval", "aux"]], exp[["doc_id", "ts", "lval", "aux"]]
    )


@pytest.mark.parametrize("strategy", ["union_locf", "auto"])
def test_asof_tolerance(spark, strategy):
    left, right = _fixtures(spark)
    got = (
        asof_join(left, right, on="ts", by="doc_id", tolerance_seconds=1800, strategy=strategy)
        .orderBy("doc_id", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = _pandas_oracle(left, right, tolerance=1800)
    pd.testing.assert_frame_equal(
        got[["doc_id", "ts", "lval", "aux"]], exp[["doc_id", "ts", "lval", "aux"]]
    )


def test_asof_exact_ts_visible(spark):
    """A right row AT the probe ts must be picked up (<=, not <)."""
    t = dt.datetime(2024, 1, 1, 12)
    left = spark.createDataFrame([("a", t, 1.0)], "doc_id string, ts timestamp, lval double")
    right = spark.createDataFrame([("a", t, 99.0)], "doc_id string, ts timestamp, aux double")
    got = asof_join(left, right, on="ts", by="doc_id").collect()
    assert got[0]["aux"] == 99.0


def test_asof_zero_temporal_leakage(spark):
    """Perturbing right rows with ts > t never changes output at ts <= t."""
    left, right = _fixtures(spark)
    cut = dt.datetime(2024, 1, 3)
    perturbed = right.withColumn(
        "aux", F.when(F.col("ts") > cut, F.lit(-1e9)).otherwise(F.col("aux"))
    )
    a = asof_join(left, right, on="ts", by="doc_id").filter(F.col("ts") <= cut)
    b = asof_join(left, perturbed, on="ts", by="doc_id").filter(F.col("ts") <= cut)
    pa = a.orderBy("doc_id", "ts").toPandas()
    pb = b.orderBy("doc_id", "ts").toPandas()
    assert len(pa) == len(pb) > 0
    pd.testing.assert_frame_equal(pa, pb)


def test_asof_auto_keeps_null_keys(spark):
    """Null-keyed rows must survive the heavy/light split (a bare ~isin is
    NULL for NULL keys, which silently dropped them from both branches)."""
    t = dt.datetime(2024, 1, 1)
    rows = [("a", t + dt.timedelta(hours=i), float(i)) for i in range(6)]
    rows += [(None, t + dt.timedelta(hours=i), 100.0 + i) for i in range(3)]
    left = spark.createDataFrame(rows, "doc_id string, ts timestamp, lval double")
    right = spark.createDataFrame(
        [("a", t + dt.timedelta(hours=2), 7.0)],
        "doc_id string, ts timestamp, aux double",
    )
    got = asof_join(
        left, right, on="ts", by="doc_id", strategy="auto", heavy_keys=["a"]
    )
    assert got.count() == 9  # 6 'a' rows + 3 null-keyed rows
    assert got.filter("doc_id IS NULL").count() == 3


def _cells_fixtures(spark):
    """Heavy keys h and g over eight 6 h cells: h has right rows only in its
    first two cells and g only in its last two, so a value crosses empty
    cells backward (h) and forward (g). Light keys a, b, c (c has no right
    rows) and NULL keys on both sides."""
    base = dt.datetime(2024, 1, 1)  # on a 6 h cell boundary

    def at(minutes):
        return base + dt.timedelta(minutes=minutes)

    left = [(k, at(m), float(m)) for k in "hg" for m in range(0, 48 * 60, 20)]
    left += [(k, at(60 * h), float(h)) for k in "abc" for h in range(1, 48, 7)]
    left += [(None, at(60 * h), -float(h)) for h in (2, 11, 20, 29, 38)]
    right = [("h", at(60 * h), 10.0 * h) for h in (1, 4, 8)]
    right += [("g", at(60 * h), 10.0 * h) for h in (38, 41, 46)]
    right += [("b", at(180), 3.0), ("b", at(1500), 25.0)]
    right += [(None, at(300), -5.0), (None, at(1800), -30.0)]
    return (
        spark.createDataFrame(left, "doc_id string, ts timestamp, lval double"),
        spark.createDataFrame(right, "doc_id string, ts timestamp, aux double"),
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("tol", [None, 8 * 3600], ids=["no-tol", "tol-8h"])
def test_asof_auto_cells_match_pandas(spark, direction, tol):
    """The auto route's one chunked scan (heavy keys in 6 h cells, every
    other key, NULL included, in one NULL cell) == pandas merge_asof, which also
    matches NULL keys to each other. An 8 h tolerance cuts values carried
    across cells in both directions."""
    left, right = _cells_fixtures(spark)
    got = asof_join(
        left, right, on="ts", by="doc_id", direction=direction,
        tolerance_seconds=tol, strategy="auto", heavy_keys=["h", "g"],
    ).toPandas()
    got = got.sort_values(["doc_id", "ts"]).reset_index(drop=True)
    exp = _pandas_oracle(left, right, tolerance=tol, direction=direction)
    assert got["doc_id"].isna().sum() == 5
    pd.testing.assert_frame_equal(
        got[["doc_id", "ts", "lval", "aux"]], exp[["doc_id", "ts", "lval", "aux"]]
    )


def test_asof_chunked_nulls_in_values_match_plain(spark):
    """Per-column LOCF semantics: a later right row with NULL in one value
    column must not mask an earlier non-null value (chunked == plain even
    with nulls scattered across chunks)."""
    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", t + dt.timedelta(hours=i)) for i in range(0, 48, 2)],
        "doc_id string, ts timestamp",
    )
    # aux1 goes null after hour 5; aux2 null before hour 9 — the last right
    # ROW is never the last non-null for both columns at once
    right_rows = []
    for i in range(0, 40, 3):
        right_rows.append(
            (
                "a",
                t + dt.timedelta(hours=i, minutes=30),
                float(i) if i < 6 else None,
                None if i < 9 else 100.0 + i,
            )
        )
    right = spark.createDataFrame(
        right_rows, "doc_id string, ts timestamp, aux1 double, aux2 double"
    )
    plain = asof_join(left, right, on="ts", by="doc_id", strategy="union_locf")
    chunked = _asof_union_locf_chunked(
        left, right, "ts", "doc_id", ["aux1", "aux2"], None, _cells(4 * 3600)
    )
    pa = plain.orderBy("ts").toPandas()
    pb = chunked.orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(pa, pb)
    # the early aux1 value survives past later null-aux1 right rows
    assert pa["aux1"].iloc[-1] == 3.0
    assert pa["aux2"].iloc[-1] == 139.0


def test_asof_chunked_nulls_with_tolerance_match_plain(spark):
    """Tolerance freshness uses the last right ROW's ts (row-level), even
    when the value itself was carried from an earlier row — chunked must
    reproduce union_locf's exact behavior."""
    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", t + dt.timedelta(hours=i)) for i in range(0, 30)],
        "doc_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", t + dt.timedelta(hours=1), 1.0),
            ("a", t + dt.timedelta(hours=10), None),
        ],
        "doc_id string, ts timestamp, aux double",
    )
    for tol in (5 * 3600, 100 * 3600):
        plain = asof_join(
            left, right, on="ts", by="doc_id", strategy="union_locf",
            tolerance_seconds=tol,
        )
        chunked = _asof_union_locf_chunked(
            left, right, "ts", "doc_id", ["aux"], tol, _cells(6 * 3600)
        )
        pd.testing.assert_frame_equal(
            plain.orderBy("ts").toPandas(), chunked.orderBy("ts").toPandas()
        )


@pytest.mark.parametrize("strategy", ["union_locf", "auto"])
@pytest.mark.parametrize("tol", [None, 1800])
def test_asof_forward_matches_pandas(spark, strategy, tol):
    """direction='forward' (next observation, for label construction) must
    equal pandas merge_asof(direction='forward') with and without
    tolerance, including the no-right-rows key."""
    left, right = _fixtures(spark)
    got = (
        asof_join(
            left, right, on="ts", by="doc_id", strategy=strategy,
            direction="forward", tolerance_seconds=tol,
        )
        .orderBy("doc_id", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = _pandas_oracle(left, right, tolerance=tol, direction="forward")
    pd.testing.assert_frame_equal(
        got[["doc_id", "ts", "lval", "aux"]], exp[["doc_id", "ts", "lval", "aux"]]
    )


def test_asof_forward_chunked_and_auto_match_plain(spark):
    """Chunked scan and the skew-auto router must reproduce the plain
    forward result exactly (the time-mirrored two-phase prefix scan)."""
    left, right = _fixtures(spark)
    plain = (
        asof_join(left, right, on="ts", by="doc_id", direction="forward")
        .orderBy("doc_id", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    for out in (
        _asof_union_locf_chunked(
            left, right, "ts", "doc_id", ["aux"], None, _cells(3600), "forward"
        ),
        asof_join(
            left, right, on="ts", by="doc_id", direction="forward",
            strategy="auto", heavy_keys=["a"],
        ),
    ):
        got = out.orderBy("doc_id", "ts").toPandas().reset_index(drop=True)
        pd.testing.assert_frame_equal(got, plain)


def test_asof_forward_exact_ts_and_equal_boundary(spark):
    """Forward semantics is >=: a right row AT the left ts is attached."""
    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", t, 1.0)], "doc_id string, ts timestamp, lval double"
    )
    right = spark.createDataFrame(
        [("a", t, 42.0), ("a", t + dt.timedelta(hours=1), 99.0)],
        "doc_id string, ts timestamp, aux double",
    )
    got = asof_join(left, right, on="ts", by="doc_id", direction="forward").first()
    assert got["aux"] == 42.0


def test_asof_forward_nulls_in_values_match_plain_chunked(spark):
    """Per-column carry symmetry: a NEARER future right row with a null in
    column c must not mask a FARTHER future non-null c."""
    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", t + dt.timedelta(hours=h), float(h)) for h in range(0, 30, 2)],
        "doc_id string, ts timestamp, lval double",
    )
    right = spark.createDataFrame(
        [
            ("a", t + dt.timedelta(hours=5), None),
            ("a", t + dt.timedelta(hours=20), 7.0),
        ],
        "doc_id string, ts timestamp, aux double",
    )
    plain = asof_join(
        left, right, on="ts", by="doc_id", direction="forward"
    ).orderBy("ts").toPandas()
    chunked = _asof_union_locf_chunked(
        left, right, "ts", "doc_id", ["aux"], None, _cells(6 * 3600), "forward"
    ).orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(plain, chunked)
    # rows at/before h=5 see the h=20 value (null at h=5 does not mask)
    assert plain.iloc[0]["aux"] == 7.0


@pytest.mark.parametrize("strategy", ["merge_asof", "union_locf_chunked"])
def test_asof_rejects_unknown_strategy(spark, strategy):
    left, right = _fixtures(spark, n_left=2, n_right=2)
    with pytest.raises(ValueError, match="unknown strategy"):
        asof_join(left, right, on="ts", by="doc_id", strategy=strategy)
