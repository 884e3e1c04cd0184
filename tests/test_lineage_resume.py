"""Kill-and-resume: a crashed stage resumes by manifest diff, recomputing
only the missing units, and the final output equals a clean one-shot run."""

import os

import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.plans.lineage import CheckpointLog, run_stage_with_resume


def _input(spark):
    return spark.range(0, 1000).select(
        (F.col("id") % 10).cast("string").alias("bucket"),
        F.col("id"),
        (F.col("id") * 2.5).alias("value"),
    )


def _transform(df):
    return df.withColumn("doubled", F.col("value") * 2)


def test_kill_and_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    df = _input(spark)

    # first run dies after 4 units
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_with_resume(
            spark, "double", df, "bucket", _transform, out_dir, ckpt_dir,
            fail_after_units=4,
        )
    log = CheckpointLog(spark, ckpt_dir)
    assert len(log.completed_units("double")) == 4

    # resume: exactly the 6 missing units are recomputed
    res = run_stage_with_resume(
        spark, "double", df, "bucket", _transform, out_dir, ckpt_dir
    )
    assert len(res["processed"]) == 6
    assert len(res["skipped"]) == 4
    assert set(res["processed"]).isdisjoint(res["skipped"])

    # output is complete and correct
    got = spark.read.parquet(out_dir)
    assert got.count() == 1000
    assert got.filter(F.col("doubled") != F.col("value") * 2).count() == 0

    # third run: everything skipped, nothing recomputed
    res2 = run_stage_with_resume(
        spark, "double", df, "bucket", _transform, out_dir, ckpt_dir
    )
    assert res2["processed"] == []
    assert len(res2["skipped"]) == 10


def test_transform_executes_once_per_unit(spark, tmp_path):
    """The row metric rides the write action via observe(): a UDF call
    counter proves each unit's plan ran exactly once (count()-then-write
    executed everything twice)."""
    from pyspark.sql import types as T

    acc = spark.sparkContext.accumulator(0)

    @F.udf(T.DoubleType())
    def counted(v):
        acc.add(1)
        return v * 2.0

    def transform(df):
        return df.withColumn("doubled", counted(F.col("value")))

    run_stage_with_resume(
        spark, "once", _input(spark), "bucket", transform,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    assert acc.value == 1000  # one UDF call per input row, not 2000


def test_lineage_metrics_recorded(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    run_stage_with_resume(
        spark, "double", _input(spark), "bucket", _transform, out_dir, ckpt_dir
    )
    m = CheckpointLog(spark, ckpt_dir).read().toPandas()
    assert len(m) == 10
    assert (m["rows"] == 100).all()
    assert (m["bytes"] > 0).all()  # real on-disk bytes
    assert (m["n_files"] >= 1).all()
    assert (m["wall_sec"] > 0).all()
    assert m["stage"].eq("double").all()


def test_snapshot_diff_lists_incremental_units(spark, tmp_path):
    """Snapshot-diff semantics: a snapshot taken mid-run and one taken after
    completion differ by exactly the units committed in between — the
    incremental-consumption contract (Iceberg snapshot analog)."""
    import time as _time

    from pyspark.sql import functions as F

    from feature_extractor_spark.plans.lineage import (
        current_snapshot,
        run_stage_with_resume,
    )

    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("grp"), F.col("id").alias("v")
    )
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    # first run crashes after 2 of 4 units
    try:
        run_stage_with_resume(
            spark, "s", df, "grp", lambda d: d.withColumn("v2", F.col("v") * 2),
            out_dir, ck, fail_after_units=2,
        )
    except RuntimeError:
        pass
    snap_mid = current_snapshot(spark, ck)
    assert len(snap_mid.units("s")) == 2
    _time.sleep(0.01)  # commit timestamps strictly after the mid snapshot

    res = run_stage_with_resume(
        spark, "s", df, "grp", lambda d: d.withColumn("v2", F.col("v") * 2),
        out_dir, ck,
    )
    assert len(res["processed"]) == 2 and len(res["skipped"]) == 2
    snap_end = current_snapshot(spark, ck)
    assert snap_end.units("s") == {"0", "1", "2", "3"}
    assert snap_end.diff(snap_mid, "s") == set(res["processed"])


def test_batched_commit_runs_few_jobs(spark, tmp_path):
    """10 units must commit in ceil(10 / lineage.UNITS_PER_JOB) = 1
    batched write job, not 10 — total Spark job count for the stage stays
    far below the one-job-per-unit regime (~22 jobs before batching)."""
    n_before = len(
        spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    )
    run_stage_with_resume(
        spark, "batched", _input(spark), "bucket", _transform,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    jobs_after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    n_jobs = len(jobs_after) - n_before
    # unit-list collect + manifest read + 1 batched write + 1 manifest append
    # (+ small slack for scheduler-internal jobs) — one-job-per-unit was 20+
    assert n_jobs <= 8, f"stage ran {n_jobs} jobs for 10 units"
    # per-unit manifest rows survive batching
    m = CheckpointLog(spark, str(tmp_path / "ckpt")).read().toPandas()
    assert len(m) == 10 and (m["rows"] == 100).all()


def test_batch_commits_as_one_branch(spark, tmp_path):
    """A batch of k units over a p-partition input is one filtered branch
    with one write stage of p tasks (k*p when each unit was its own union
    branch scanning every partition). A listed unit with no rows still
    gets its manifest row."""
    from conftest import JobCount

    from feature_extractor_spark.plans.lineage import UNITS_PER_JOB

    p = 3
    df = spark.range(0, 160, numPartitions=p).select(
        (F.col("id") % UNITS_PER_JOB).cast("string").alias("bucket"),
        F.col("id").cast("double").alias("value"),
    )
    # the 16 digit units sort first, so "none" is a batch of its own
    units = [str(u) for u in range(UNITS_PER_JOB)] + ["none"]
    with JobCount(spark) as jobs:
        run_stage_with_resume(
            spark, "branch", df, "bucket", _transform, str(tmp_path / "out"),
            str(tmp_path / "ckpt"), units=units,
        )
    tracker = spark.sparkContext.statusTracker()
    tasks = sorted(
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(jobs.group)
        for s in tracker.getJobInfo(j).stageIds
    )
    # two write stages; the manifest read and appends run one task each
    assert [n for n in tasks if n > 1] == [p, p], tasks
    m = CheckpointLog(spark, str(tmp_path / "ckpt")).read().toPandas()
    rows = dict(zip(m["unit"], m["rows"]))
    assert rows.pop("none") == 0
    assert set(rows.values()) == {160 // UNITS_PER_JOB} and len(rows) == UNITS_PER_JOB


def test_transform_must_keep_the_unit_column(spark, tmp_path):
    with pytest.raises(ValueError, match="bucket"):
        run_stage_with_resume(
            spark, "drop", _input(spark), "bucket", lambda df: df.drop("bucket"),
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
        )


def test_lineage_on_a_file_uri(spark, tmp_path, monkeypatch):
    """Output and checkpoint dirs given as ``file://`` URIs: the manifest
    directory is made and the committed files are listed through the
    Hadoop FileSystem API (``os`` calls made a stray ``./file:`` tree and
    then failed to read the manifest), and each manifest row carries the
    unit's real on-disk bytes and file count."""
    monkeypatch.chdir(tmp_path)
    out_dir, ckpt_dir = tmp_path / "out", tmp_path / "ckpt"
    run_stage_with_resume(
        spark, "double", _input(spark), "bucket", _transform,
        out_dir.as_uri(), ckpt_dir.as_uri(),
    )
    assert not (tmp_path / "file:").exists()
    m = CheckpointLog(spark, ckpt_dir.as_uri()).read().toPandas()
    assert len(m) == 10 and (m["rows"] == 100).all()
    for r in m.itertuples():
        files = list((out_dir / f"bucket={r.unit}").glob("*.parquet"))
        assert r.n_files == len(files) >= 1
        assert r.bytes == sum(f.stat().st_size for f in files)


def test_manifest_time_is_utc_under_any_driver_zone(spark, tmp_path, monkeypatch):
    """``committed_at`` is the commit's instant whatever the driver's local
    zone (a naive UTC wall time was read as driver-local, 4-5 h off in New
    York), and the latest snapshot sees every unit just committed."""
    import time

    from feature_extractor_spark.plans.lineage import current_snapshot

    df = spark.range(10).select(
        (F.col("id") % 2).cast("string").alias("grp"), F.col("id").alias("v")
    )
    ck = str(tmp_path / "ck")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        t0 = time.time()
        run_stage_with_resume(
            spark, "s", df, "grp", lambda d: d, str(tmp_path / "out"), ck
        )
        t1 = time.time()
        log = CheckpointLog(spark, ck)
        stamps = [
            r[0] for r in log.read().select(F.unix_micros("committed_at")).collect()
        ]
        assert len(stamps) == 2
        assert all(t0 - 1 <= us / 1e6 <= t1 + 1 for us in stamps), (t0, stamps)
        assert current_snapshot(spark, ck).units("s") == {"0", "1"}
    finally:
        monkeypatch.undo()
        time.tzset()
