"""Session defaults derived from the machine when the env vars are unset."""

import os

import pytest

from feature_extractor_spark import session


def test_machine_cores_follow_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.machine_cores() == 3


@pytest.mark.parametrize(
    "total_gb,expected", [(15, "7680m"), (48, "24576m"), (256, "24576m")]
)
def test_driver_memory_is_half_of_physical_capped_at_24g(monkeypatch, total_gb,
                                                        expected):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_gb * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    assert session.driver_memory_default() == expected


def test_commits_leave_the_session_overwrite_mode_alone(spark, tmp_path,
                                                         monkeypatch):
    """Every committing entry point sets its overwrite mode on its own
    writer. A session-wide set would leak to other threads on the same
    session: a concurrent static overwrite would truncate partitions."""
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from feature_extractor_spark.operators.ann_index import (
        ann_index_append,
        build_ann_index,
    )
    from feature_extractor_spark.plans.lineage import run_stage_with_resume
    from feature_extractor_spark.streaming.incremental_dedup import (
        ingest_batch,
        ingest_lines_batch,
    )

    keys = []
    for name in ("set", "unset"):
        def record(self, key, *args, _orig=getattr(RuntimeConfig, name)):
            keys.append(key)
            return _orig(self, key, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)

    docs = spark.createDataFrame(
        [(f"d{k}", " ".join(f"w{k}{i}" for i in range(12))) for k in range(3)],
        "doc_id string, text string",
    )
    for bid in (0, 1):  # the first batch, then the index path
        ingest_batch(docs, bid, str(tmp_path / "idx"), str(tmp_path / "acc"),
                     stats_dir=str(tmp_path / "stats"))
    ingest_lines_batch(docs, 0, str(tmp_path / "lidx"), str(tmp_path / "clean"))
    run_stage_with_resume(
        spark, "s", docs.withColumn("u", F.substring("doc_id", 2, 1)), "u",
        lambda df: df, str(tmp_path / "lin"), str(tmp_path / "ckpt"),
    )
    vecs = spark.createDataFrame(
        [(f"v{i}", [float((i * j) % 7) for j in range(8)]) for i in range(24)],
        "vec_id string, embedding array<double>",
    )
    idx = str(tmp_path / "ann")
    build_ann_index(vecs, idx, n_lists=2, m=2, k_codes=4, sample_size=24)
    ann_index_append(vecs, idx, batch_id=1)
    assert not [k for k in keys if "partitionOverwriteMode" in k], keys
