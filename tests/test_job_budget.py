"""Job budget: the Spark jobs a public call runs, counted around the call.
Lazy operators must build their plan without running any job (a job at
plan construction under AQE runs upstream shuffles that the real action
runs again); the eager ones are pinned at today's figures as ceilings."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import JobCount
from feature_extractor_spark.encoder import init_weights
from feature_extractor_spark.functions.text import encode_bpe
from feature_extractor_spark.operators.asof import asof_join
from feature_extractor_spark.operators.fused import windowed_encode
from feature_extractor_spark.operators.skew import detect_heavy_hitters


@pytest.fixture(scope="module")
def events(spark):
    """Key h holds half the rows, the other keys share the rest."""
    t = dt.datetime(2024, 1, 1)
    rows = [("h" if i % 2 else f"k{i % 13}", t + dt.timedelta(minutes=i), float(i))
            for i in range(600)]
    return spark.createDataFrame(rows, "doc_id string, ts timestamp, value double")


@pytest.fixture(scope="module")
def purchases(spark):
    t = dt.datetime(2024, 1, 1)
    rows = [("h" if i % 2 else f"k{i % 13}", t + dt.timedelta(minutes=7 * i), 1.0)
            for i in range(60)]
    return spark.createDataFrame(rows, "doc_id string, ts timestamp, aux double")


@pytest.mark.parametrize("heavy_keys", [None, ["h"]], ids=["chunked", "routed"])
def test_windowed_encode_plan_runs_no_job(spark, events, heavy_keys):
    w = init_weights(window_size=8, n_features=1, latent_dim=4)
    with JobCount(spark) as jobs:
        windowed_encode(events, "doc_id", "ts", ["value"], None, 8, w,
                        heavy_keys=heavy_keys)
    assert jobs.n == 0


def test_asof_union_locf_plan_runs_no_job(spark, events, purchases):
    with JobCount(spark) as jobs:
        asof_join(events, purchases, on="ts", by="doc_id", strategy="union_locf")
    assert jobs.n == 0


def test_asof_auto_job_ceiling(spark, events, purchases):
    # the heavy-key time span (.first()) sizes the chunks
    with JobCount(spark) as jobs:
        asof_join(events, purchases, on="ts", by="doc_id", strategy="auto",
                  heavy_keys=["h"])
    assert jobs.n <= 2


def test_detect_heavy_hitters_job_ceiling(spark, events):
    with JobCount(spark) as jobs:
        heavy = detect_heavy_hitters(events, "doc_id", threshold_share=0.2)
    assert heavy == ["h"]
    assert jobs.n <= 5


def test_encode_bpe_plan_over_shuffled_input_runs_no_job(spark):
    # SQL VALUES tables are local relations: collecting them (encode_bpe
    # broadcasts both as dicts) runs no job
    merges = spark.sql("SELECT * FROM VALUES (0, 'l', 'o') AS t(rank, `left`, `right`)")
    vocab = spark.sql("SELECT * FROM VALUES ('lo', 2), ('w</w>', 3) AS t(token, id)")
    docs = spark.createDataFrame(
        [(i % 3, "low") for i in range(30)], "doc_id long, text string"
    ).groupBy("doc_id").agg(F.max("text").alias("text"))
    with JobCount(spark) as jobs:
        enc = encode_bpe(docs, merges, vocab)
    assert jobs.n == 0
    assert enc.count() == 3
