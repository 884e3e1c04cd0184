"""Skew handling: salted repartition + heavy-hitter detection (SURVEY.md §4.2-6).

Heavy-hitter doc_ids (Zipf head) overload single tasks in groupBy/join.
Strategy:
- detection: sampled count per key (approximate, one top-k action)
- salting: ``salt = pmod(xxhash64(stable row columns), K)`` appended to the
  key for heavy keys only, so light keys keep a 1-task group and heavy keys
  fan out K ways
- AQE skew-join splitting is enabled globally in session.py as the
  runtime backstop for joins.

Why the salt MUST be a deterministic function of row content (never
``rand()`` or ``monotonically_increasing_id()``): Spark recomputes lost
map tasks. If a map task dies after some reducers already fetched its
shuffle output, the surviving rows are recomputed — and a nondeterministic
salt can send the recomputed copy of a row to a DIFFERENT (key, salt)
reduce partition than the copy some reducer already consumed. The result
is silent row duplication or loss through the shuffle: the classic
repartition-on-random-key retry hazard, and it strikes at exactly the
scale (1000-executor, lost-node-per-hour) this operator exists for.
``xxhash64`` over stable row columns gives every recomputation of a row
the same salt, so retries are idempotent.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from feature_extractor_spark.functions.timeutil import epoch_seconds


# heavy keys are cut into time cells of this width: the as-of scan's
# chunks and the fused stage's row-number cells are one grid
HEAVY_CELL_SECONDS = 6 * 3600


def heavy_cell(key: str, ts: str, heavy_keys: list | None) -> Column:
    """The cell rule both skew routes cut rows on: a heavy key's row gets
    ``floor(epoch_seconds(ts) / HEAVY_CELL_SECONDS)``, every other key,
    NULL included, gets NULL, which stands for one cell per key with
    nothing carried across cells. A heavy key's NULL-ts rows get the
    lowest cell, ahead of every other, where a nulls-first sort on ts puts
    them."""
    if not heavy_keys:
        return F.lit(None).cast("long")
    cell = F.floor(epoch_seconds(ts) / F.lit(HEAVY_CELL_SECONDS))
    # isin is NULL for a NULL key, so when() leaves it NULL too
    return F.when(
        F.col(key).isin(heavy_keys), F.coalesce(cell, F.lit(-(2**63)))
    )


def detect_heavy_hitters(
    df: DataFrame, key_col: str, threshold_share: float = 0.02
) -> list[str]:
    """Keys holding more than ``threshold_share`` of a 10 % row sample,
    most frequent first. One action: fewer than ``1 / threshold_share``
    keys can each hold more than that share, so the top
    ``ceil(1 / threshold_share)`` counts hold them all, and an observed
    row count of the same sample gives the total."""
    if not 0 < threshold_share <= 1:
        raise ValueError(f"threshold_share must be in (0, 1], got {threshold_share!r}")
    rows = Observation()
    top = (
        df.select(key_col).sample(fraction=0.1, seed=42)
        .observe(rows, F.count(F.lit(1)).alias("n"))
        .groupBy(key_col).count()
        .orderBy(F.desc("count"))
        .limit(math.ceil(1 / threshold_share))
        .collect()
    )
    total = rows.get["n"]
    return [r[key_col] for r in top if r["count"] > threshold_share * total]


def _content_salt(
    df: DataFrame, salt_buckets: int, salt_from: list[str] | None
) -> Column:
    """Deterministic salt in [0, salt_buckets): xxhash64 of stable row
    columns. ``salt_from`` names the columns that distinguish rows within
    a key (e.g. the ts column); default = every column, which is always
    deterministic and spreads any rows that differ anywhere."""
    cols = salt_from if salt_from else df.columns
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt_buckets))


def salted_repartition(
    df: DataFrame,
    key_col: str,
    salt_buckets: int = 16,
    heavy_keys: list[str] | None = None,
    salt_col: str = "__salt",
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Append a deterministic salt column and repartition on (key, salt).

    If ``heavy_keys`` is given, only those keys are salted (light keys get
    salt 0 and stay single-task); otherwise every key is salted — use that
    for pure per-row map stages where grouping order doesn't matter.
    ``salt_from`` selects the columns hashed into the salt (default: all) —
    pass the within-key discriminator (e.g. the ts column) to keep the
    hash cheap on wide rows.
    """
    salt = _content_salt(df, salt_buckets, salt_from)
    if heavy_keys is not None:
        salt = F.when(F.col(key_col).isin(heavy_keys), salt).otherwise(F.lit(0))
    return df.withColumn(salt_col, salt).repartition(F.col(key_col), F.col(salt_col))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 16,
    heavy_keys: list | None = None,
    how: str = "inner",
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Skew-proof equi-join: heavy keys on the (big, skewed) LEFT side get
    a deterministic content-derived salt so their rows spread across
    ``salt_buckets`` tasks; the RIGHT side replicates its heavy-key rows
    once per salt (light keys keep salt 0 — no replication). The join runs
    on (key, salt), so no single task owns a whole heavy key's probe side.

    This is for the fact-fact case where the right side is too big to
    broadcast but its HEAVY-KEY SLICE is small (the common shape: a few
    pathological keys, each with modest right-side rows). AQE's skew-join
    split handles sort-merge skew at runtime; explicit salting is the
    deterministic plan-level form that also composes under joins AQE
    cannot rewrite. ``heavy_keys=None`` salts every key (right side
    replicates x salt_buckets — only sensible for small right sides).

    ``salt_from`` names the LEFT columns hashed into the salt (default:
    all left columns). The salt is a pure function of row content, so a
    retried map task re-emits identical (key, salt) pairs — see the module
    docstring for why this is load-bearing.

    Supports how in ('inner', 'left'). Result == the unsalted join
    (tested), minus any ordering guarantees.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = _content_salt(left, salt_buckets, salt_from)
    if heavy_keys is not None:
        salt = F.when(F.col(on).isin(heavy_keys), salt).otherwise(F.lit(0))
    l_salted = left.withColumn("__salt", salt)

    replicate = F.sequence(F.lit(0), F.lit(salt_buckets - 1))
    if heavy_keys is not None:
        replicate = F.when(F.col(on).isin(heavy_keys), replicate).otherwise(
            F.array(F.lit(0))
        )
    r_salted = right.withColumn("__salt", F.explode(replicate.cast("array<long>")))

    out = l_salted.join(r_salted, [on, "__salt"], how)
    return out.drop("__salt")


def _has_exchange(plan) -> bool:
    """Whether a JVM physical plan shuffles or broadcasts anywhere (an
    adaptive plan is one that does)."""
    if plan.nodeName() == "AdaptiveSparkPlan" or "Exchange" in plan.nodeName():
        return True
    kids = plan.children()
    return any(_has_exchange(kids.apply(i)) for i in range(kids.size()))


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin a scan-rooted ``df`` with fewer partitions than the
    session's parallelism up to it, ahead of a compute-heavy Python pass
    that would otherwise inherit a compact input's few splits. Inputs that
    shuffle are returned unchanged: their partition count is only known
    once their exchanges run, and under AQE asking for it while a plan is
    being built runs those shuffles, which the real action runs again. A
    scan-rooted plan is never adaptive, so its split count comes from the
    executed plan without a job."""
    par = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if _has_exchange(plan) or plan.execute().getNumPartitions() >= par:
        return df
    return df.repartition(par)
