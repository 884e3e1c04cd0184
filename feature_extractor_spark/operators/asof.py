"""As-of (point-in-time) join with LOCF backfill (SURVEY.md §2.3 J3).

The reference's alignment is positional/temporal (window ends at the labeled
step, /root/reference/app/data_processor.py:18-38 + :102); the engine makes
it an explicit operator: for every left row (key, ts) attach the most recent
right row with right.ts <= left.ts (backward direction / last observation
carried forward). Zero temporal leakage by construction — rows with
right.ts > left.ts can never influence the output.

``direction="forward"`` attaches the EARLIEST right row with right.ts >=
left.ts instead (next observation) — the same scan time-reversed, in both
strategies. Forward reads the future BY DESIGN: it is for label/target
construction (e.g. "next price after t"), never for features at t —
keep feature pipelines on backward, where the no-leakage property holds.

One scan, the two-phase parallel prefix scan of ``_asof_union_locf_chunked``;
the strategy only picks the time cells it runs on:

- ``union_locf`` (default): no cell. One window pass ``last(value,
  ignorenulls=True) over (partition by key order by ts, side)`` over the
  tagged union of left probes and right state, one shuffle on the key and
  no join: Catalyst folds the cross-cell branch away. Works for any key
  cardinality and is the 100 TB-safe default (sort-merge-shaped).

- ``auto``: the skew-adaptive route. Heavy-hitter keys (``heavy_keys``, or
  ``skew.detect_heavy_hitters`` when None) are cut into time cells by
  ``skew.heavy_cell``, the rule the fused stage numbers rows on; every
  other key is one NULL cell. LOCF runs inside each cell and the last value
  is carried across the heavy keys' cells, so one Zipf-head key no longer
  serializes into a single task, and a NULL-cell key gets exactly the plain
  LOCF. With no heavy key it is ``union_locf``. Only heavy keys get cells:
  cutting EVERY key into fine cells makes the cell summary ~|left| rows
  and its carry scan the new straggler (measured 3x slower than plain on
  3k uniform keys).

A tolerance (max staleness) is supported in both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_extractor_spark.functions.timeutil import epoch_seconds
from feature_extractor_spark.operators.skew import detect_heavy_hitters, heavy_cell


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    strategy: str = "union_locf",
    heavy_keys: list | None = None,
) -> DataFrame:
    """The left rows, each with the right row's ``value_cols`` as of its
    ``on`` within its ``by`` key (see the module docstring). The plan is
    built without a Spark job, except ``strategy="auto"`` with
    ``heavy_keys=None``: it runs ``skew.detect_heavy_hitters`` on ``left``
    first, one top-k collect (2 jobs)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward, got {direction!r}")
    if strategy not in ("union_locf", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    heavy = heavy_keys if strategy == "auto" else []
    if heavy is None:
        heavy = detect_heavy_hitters(left, by)
    return _asof_union_locf_chunked(
        left, right, on, by, value_cols, tolerance_seconds,
        heavy_cell(by, on, heavy) if heavy else None, direction,
    )


def _tagged(
    left: DataFrame, right: DataFrame, on: str, by: str, value_cols: list[str]
) -> DataFrame:
    """Left probes (``__side`` 1) and right state rows (``__side`` 0) in one
    frame: the left's columns plus ``__r_<c>`` per value column and the
    right row's ts as ``__r_ts``, NULL where a side lacks them."""
    r_tagged = right.select(
        by,
        on,
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(on).alias("__r_ts"),
    )
    return left.withColumn("__side", F.lit(1)).unionByName(
        r_tagged, allowMissingColumns=True
    )


def _local_locf(
    tagged: DataFrame, partition_cols: list[str], on: str, value_cols: list[str],
    fwd: bool,
) -> DataFrame:
    """The left rows of ``tagged``, each with the last right row's ts
    (``__ts``) and the last non-null of every value column (``__v_<c>``)
    in its partition. side 0 sorts right-side state BEFORE left probes at
    equal ts, so an exact-ts right row is visible to the left row at the
    same instant (merge_asof semantics: <= backward, >= forward). Forward
    (next observation) is the same scan over time REVERSED: order by ts
    desc and the running last(ignorenulls) carries the NEXT right row
    back."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(on).desc() if fwd else F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return tagged.select(
        "*",
        F.last("__r_ts", ignorenulls=True).over(w).alias("__ts"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__v_{c}")
            for c in value_cols
        ],
    ).filter(F.col("__side") == 1)


def _project(
    df: DataFrame, left_cols: list[str], on: str, value_cols: list[str],
    carried_ts: Column, values: list[Column], tolerance_seconds: int | None,
    fwd: bool,
) -> DataFrame:
    """The left columns plus one carried value per value column, NULL where
    the carried right ROW's ts (row-level, even when a value came from an
    earlier row) is more than ``tolerance_seconds`` away."""
    gap = epoch_seconds(F.col(on)) - epoch_seconds(carried_ts)
    staleness = -gap if fwd else gap
    out = []
    for c, v in zip(value_cols, values):
        if tolerance_seconds is not None:
            v = F.when(staleness <= F.lit(tolerance_seconds), v)
        out.append(v.alias(c))
    return df.select(*left_cols, *out)


def _asof_union_locf_chunked(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    tolerance_seconds: int | None,
    chunk: Column | None,
    direction: str = "backward",
) -> DataFrame:
    """LOCF as the classic two-phase parallel prefix scan over time chunks,
    ``chunk`` being each row's chunk number (an expression over ``by`` and
    ``on`` that grows with ts within a key), so one heavy-hitter key need
    not serialize into a single task:

      phase 1: local LOCF within (key, time-chunk) — parallel across chunks
               of the same key
      phase 2: per-(key, chunk) "last right value" summaries (tiny: one row
               per chunk), carried forward ACROSS chunks with one more LOCF
               over the summary rows (serial per key, but only #chunks rows)
      phase 3: join carry-in back on (key, chunk);
               final = coalesce(local, carry_in)

    Exact for ANY chunking — a right value carries across arbitrarily many
    empty chunks through the summary scan. A row whose ``chunk`` is NULL is
    in its key's one NULL chunk: it gets phase 1 only, and phases 2 and 3
    never see it. ``chunk=None`` puts every row there: the plain LOCF, one
    shuffle on the key, and Catalyst prunes phases 2 and 3 from the plan.
    ``direction="forward"`` is the time-mirrored scan: local pass ordered
    desc, per-chunk summaries keep the EARLIEST non-null per column, and
    the carry window walks chunks in descending order (next observation
    carried backward)."""
    fwd = direction == "forward"
    tagged = _tagged(left, right, on, by, value_cols)
    # no cell: every row is in its key's NULL cell, shuffled on the key
    parts = [F.col(by)] if chunk is None else [F.col(by), chunk]
    if chunk is None:
        chunk = F.lit(None).cast("long")

    # phase 1: local LOCF inside each (key, chunk). The exchange is on the
    # chunk EXPRESSION, which survives _project, so a consumer that
    # recomputes the same chunk (fused.windowed_encode's row numbers over
    # skew.heavy_cell) reuses this shuffle. Only this branch is
    # repartitioned: the summary branch partially aggregates before its
    # own exchange, which a full-row shuffle ahead of the split would
    # replace.
    local = _local_locf(
        tagged.repartition(*parts).withColumn("__chunk", chunk),
        [by, "__chunk"], on, value_cols, fwd,
    )

    # phase 2: per-chunk summaries of the right side, then cross-chunk scan.
    # The summary groups every row of a non-NULL chunk, left probes too:
    # their __r_* are NULL, which max/max_by skip, so its group keys are
    # exactly the chunk domain the carry walks. PER-COLUMN summaries, not
    # row-level: plain LOCF carries each value column independently with
    # last(ignorenulls), so a later right row with a NULL in column c must
    # NOT mask an earlier non-null c. (Row-level max(struct(ts, values))
    # diverged exactly there.) The ts carried for the tolerance check stays
    # ROW-level (last right row's ts), matching the local pass's __ts.
    # max_by/min_by keep a fixed-width buffer, so the summary is a hash
    # aggregate.
    agg, agg_by = (F.min, F.min_by) if fwd else (F.max, F.max_by)
    summary = (
        tagged.withColumn("__chunk", chunk)
        .filter(F.col("__chunk").isNotNull())
        .groupBy(by, "__chunk")
        .agg(
            agg("__r_ts").alias("__last_ts"),
            *[
                agg_by(
                    f"__r_{c}", F.when(F.col(f"__r_{c}").isNotNull(), F.col("__r_ts"))
                ).alias(f"__last_{c}")
                for c in value_cols
            ],
        )
    )
    w_carry = (
        Window.partitionBy(by)
        .orderBy(F.col("__chunk").desc() if fwd else F.col("__chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        by,
        "__chunk",
        F.last("__last_ts", ignorenulls=True).over(w_carry).alias("__carry_ts"),
        *[
            F.last(f"__last_{c}", ignorenulls=True).over(w_carry).alias(f"__carry_{c}")
            for c in value_cols
        ],
    )

    # phase 3: stitch; a NULL chunk matches no carry row
    return _project(
        local.join(carry, [by, "__chunk"], "left"), left.columns, on, value_cols,
        F.coalesce(F.col("__ts"), F.col("__carry_ts")),
        [F.coalesce(F.col(f"__v_{c}"), F.col(f"__carry_{c}")) for c in value_cols],
        tolerance_seconds, fwd,
    )
