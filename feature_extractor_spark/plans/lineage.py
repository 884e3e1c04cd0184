"""Per-stage lineage + checkpoint/resume (SURVEY.md §4.2-5, north rule).

The reference has zero fault tolerance — a killed run restarts from scratch
(best model kept only in RAM, /root/reference/app/data_processor.py:341-351).
Here every stage writes, alongside its output, a lineage manifest recording
per-work-unit row/byte metrics; a killed job resumes by diffing the manifest
against the unit universe and recomputing only the missing units.

This is the parquet analog of an Iceberg checkpoint table + snapshot diff
(no Iceberg runtime jars in this container; the layout mirrors Iceberg's
manifest-list design so swapping the backend is a sink change, not a logic
change):

  <checkpoint_dir>/manifest/part-*.parquet   append-only commit records
  <output_dir>/<unit_col>=<v>/part-*.parquet dynamic-partition output

Exactly-once contract: outputs are committed with dynamic partition
overwrite FIRST, the manifest row is appended AFTER. A crash between the
two re-runs that unit on resume and overwrites its partition idempotently —
effectively-once output, at-least-once compute (the standard trade absent a
multi-table transaction).
"""

from __future__ import annotations

import datetime as dt
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feature_extractor_spark.session import (
    hadoop_path,
    local_frame,
    overwrite_partitions,
)

_MANIFEST_SCHEMA = (
    "stage string, unit string, rows long, bytes long, "
    "n_files long, wall_sec double, committed_at timestamp, run_id string"
)
_MANIFEST_FIELDS = [f.split()[0] for f in _MANIFEST_SCHEMA.split(", ")]

# pending units commit in batches of this many, one write job per batch, so
# job-launch latency does not multiply with the unit count
UNITS_PER_JOB = 16


class CheckpointLog:
    """Append-only lineage manifest over parquet."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.dir = checkpoint_dir
        self.manifest_dir = f"{checkpoint_dir}/manifest"
        fs, p = hadoop_path(spark, self.manifest_dir)
        fs.mkdirs(p)

    def read(self) -> DataFrame:
        # the directory exists from __init__, and an empty one reads as no
        # rows, so a failing read is a real failure and propagates
        return self.spark.read.schema(_MANIFEST_SCHEMA).parquet(
            self.manifest_dir
        )

    def completed_units(self, stage: str) -> set[str]:
        return {
            r["unit"]
            for r in self.read().filter(F.col("stage") == stage).select("unit").collect()
        }

    def append(self, records: list[dict]) -> None:
        if not records:
            return
        pdf = local_frame(
            self.spark, [tuple(r[f] for f in _MANIFEST_FIELDS) for r in records],
            _MANIFEST_SCHEMA,
        )
        # one small commit file per append; readers union all files
        pdf.coalesce(1).write.mode("append").parquet(self.manifest_dir)


def _partition_stats(
    spark: SparkSession, output_dir: str, unit_col: str, units: list[str]
) -> dict[str, tuple[int, int]]:
    """(bytes, n_files) per unit from the committed files — real on-disk
    byte metrics, not estimates — listed through the Hadoop FileSystem API,
    so any scheme the output path has works."""
    stats = {}
    for u in units:
        fs, pdir = hadoop_path(spark, f"{output_dir}/{unit_col}={u}")
        n_bytes = n_files = 0
        if fs.exists(pdir):
            for st in fs.listStatus(pdir):
                if st.getPath().getName().endswith(".parquet"):
                    n_bytes += st.getLen()
                    n_files += 1
        stats[u] = (n_bytes, n_files)
    return stats


def run_stage_with_resume(
    spark: SparkSession,
    stage_name: str,
    input_df: DataFrame,
    unit_col: str,
    transform,
    output_dir: str,
    checkpoint_dir: str,
    fail_after_units: int | None = None,
    units: list[str] | None = None,
) -> dict:
    """Run ``transform`` over every pending unit and commit output +
    lineage. Units already in the manifest are skipped (resume = anti-join).

    Granularity contract: ``unit_col`` is COARSE by design — pick it like an
    Iceberg partition spec (date bucket, entity bucket; tens-to-thousands of
    units, not millions). The distinct unit list is collected to the driver,
    and each unit's slice must fit a dynamic partition.

    Job shape: pending units are grouped into batches of ``UNITS_PER_JOB``;
    each batch is ONE branch, ``transform(input_df.filter(unit_col IN
    batch))``, committed with one dynamic-partition overwrite, so the write
    stage runs one task per input partition however many units the batch
    holds. ``transform`` must keep ``unit_col`` (ValueError otherwise) and
    must not mix units: row-wise, or grouped by ``unit_col``. Per-unit row
    counts come from one ``observe()`` node riding the write action, one
    ``count_if(unit_col = u)`` per unit — the transform executes exactly
    ONCE (a count() before the write would re-run the whole plan). A unit
    with no rows writes no files and still gets its manifest row, with
    ``rows == 0``.

    Crash contract: outputs commit first (idempotent overwrite), manifest
    rows append second, per BATCH — a crash mid-batch re-runs that whole
    batch on resume (at-least-once compute, effectively-once output).
    ``fail_after_units`` injects a crash for the kill-and-resume test
    (the injected boundary is also a batch boundary, so exactly that many
    units commit).

    Returns {"processed": [...], "skipped": [...]}.
    """
    log = CheckpointLog(spark, checkpoint_dir)
    done = log.completed_units(stage_name)
    # pass `units` when the unit universe is known from a cheaper source
    # (e.g. the raw input's partition values) — the default distinct()
    # executes input_df's full plan once just to enumerate units
    all_units = (
        sorted(str(u) for u in units)
        if units is not None
        else [
            str(r[0])
            for r in input_df.select(unit_col).distinct().orderBy(unit_col).collect()
        ]
    )
    pending = [u for u in all_units if u not in done]
    run_id = uuid.uuid4().hex[:12]

    fail_at = fail_after_units if fail_after_units is not None else len(pending)
    runnable = pending[:fail_at]
    unit = F.col(unit_col).cast("string")
    processed = []
    for i in range(0, len(runnable), UNITS_PER_JOB):
        batch = runnable[i : i + UNITS_PER_JOB]
        t0 = time.time()
        out = transform(input_df.filter(unit.isin(batch)))
        if unit_col not in out.columns:
            raise ValueError(
                f"run_stage_with_resume: the transform of stage {stage_name!r} "
                f"dropped the unit column {unit_col!r}"
            )
        obs = Observation()
        out = out.observe(
            obs,
            *[F.count_if(unit == u).alias(f"rows_{k}") for k, u in enumerate(batch)],
        )
        # output first (idempotent dynamic-partition overwrite, one job)...
        overwrite_partitions(out, output_dir, unit_col)
        batch_wall = max(time.time() - t0, 1e-6)
        rows = obs.get
        stats = _partition_stats(spark, output_dir, unit_col, batch)
        # ...manifest second (commit point), one row per unit
        log.append(
            [
                {
                    "stage": stage_name,
                    "unit": u,
                    "rows": rows[f"rows_{k}"],
                    "bytes": stats[u][0],
                    "n_files": stats[u][1],
                    "wall_sec": batch_wall / len(batch),
                    "committed_at": dt.datetime.now(dt.timezone.utc),
                    "run_id": run_id,
                }
                for k, u in enumerate(batch)
            ]
        )
        processed.extend(batch)
    if fail_after_units is not None and len(pending) > fail_after_units:
        raise RuntimeError(f"injected failure after {fail_after_units} units")
    return {"processed": processed, "skipped": sorted(done)}


# ---------------------------------------------------------------------------
# Snapshot surface (the Iceberg-snapshot analog made explicit)


def _snapshot_id(log: CheckpointLog) -> str | None:
    """Monotonic snapshot id = the latest commit timestamp in the manifest
    (append-only, so "as of commit <= T" is a consistent view), as an ISO
    time with a UTC offset: its instant does not depend on the driver's or
    the session's time zone. Taken as epoch microseconds, since a collected
    timestamp is a naive driver-local datetime."""
    row = log.read().agg(F.unix_micros(F.max("committed_at")).alias("t")).first()
    if row["t"] is None:
        return None
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (epoch + dt.timedelta(microseconds=row["t"])).isoformat()


class Snapshot:
    """A consistent view of the lineage manifest at a point in time.

    ``CheckpointLog`` is append-only, so every committed manifest row has a
    stable ``committed_at``; a snapshot is simply "all commits at or before
    T". ``diff`` between two snapshots lists the units committed in
    between — exactly what a resuming (or incrementally consuming)
    downstream job should process, without recomputing or re-reading
    anything already consumed. This mirrors Iceberg's snapshot/
    incremental-read model on plain parquet (no Iceberg jars in this
    environment); swapping the backend changes the storage of the
    manifest, not this logic.

    ``as_of`` is an ISO-8601 time (default: the latest commit); one without
    a UTC offset is read in the session time zone.
    """

    def __init__(self, log: CheckpointLog, as_of: str | None = None):
        self.log = log
        self.as_of = as_of if as_of is not None else _snapshot_id(log)

    def units(self, stage: str) -> set[str]:
        df = self.log.read().filter(F.col("stage") == stage)
        if self.as_of is not None:
            df = df.filter(F.col("committed_at") <= F.lit(self.as_of).cast("timestamp"))
        return {r["unit"] for r in df.select("unit").distinct().collect()}

    def diff(self, other: "Snapshot", stage: str) -> set[str]:
        """Units committed after ``other`` up to this snapshot."""
        return self.units(stage) - other.units(stage)


def current_snapshot(spark: SparkSession, checkpoint_dir: str) -> Snapshot:
    return Snapshot(CheckpointLog(spark, checkpoint_dir))
