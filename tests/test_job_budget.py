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
from feature_extractor_spark.operators.dedup import near_dup_clusters
from feature_extractor_spark.operators.fused import windowed_encode
from feature_extractor_spark.operators.skew import detect_heavy_hitters
from feature_extractor_spark.streaming.incremental_dedup import ingest_batch


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


def test_near_dup_clusters_driver_path_job_ceiling(spark):
    # edge checkpoint, its count and the union-find collect
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame([(x,) for x in "abcdefg"], "doc_id string")
    stats: dict = {}
    with JobCount(spark) as jobs:
        near_dup_clusters(pairs, nodes, stats=stats)
    assert stats["path"] == "driver"
    assert jobs.n <= 5


def test_ingest_batch_index_path_job_ceiling(spark, tmp_path):
    idx, acc, stats = (str(tmp_path / d) for d in ("idx", "acc", "stats"))
    words = [" ".join(f"w{k}{i}" for i in range(12)) for k in range(3)]

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    ingest_batch(batch([("a0", words[0]), ("b0", words[1])]), 0, idx, acc,
                 stats_dir=stats)
    # two copies of a fresh doc and a copy of an indexed one
    b1 = batch([("c1", words[2]), ("c2", words[2]), ("a1", words[0])])
    with JobCount(spark) as jobs:
        ingest_batch(b1, 1, idx, acc, stats_dir=stats)
    assert {r["doc_id"] for r in spark.read.parquet(f"{acc}/batch_id=1").collect()} == {"c1"}
    # one hashing pass feeds pairs, lookup and index rows (61 jobs when
    # each of them hashed the batch itself)
    assert jobs.n <= 33
