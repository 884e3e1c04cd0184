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

Two strategies:

- ``union_locf`` (default): union(left-probe, right-state) tagged, one
  window pass ``last(value, ignorenulls=True) over (partition by key
  order by ts, side)``. One shuffle on the key, no join at all — Catalyst
  plans a single sort + window; AQE handles partition sizing. Works for any
  key cardinality and is the 100 TB-safe default (sort-merge-shaped).

- ``auto``: the skew-adaptive route. Heavy-hitter keys (``heavy_keys``, or
  ``skew.detect_heavy_hitters`` when None) take a two-phase parallel
  prefix scan over time chunks, so one Zipf-head key no longer serializes
  into a single task; every other key takes ``union_locf``.

A tolerance (max staleness) is supported in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extractor_spark.functions.timeutil import epoch_seconds
from feature_extractor_spark.operators.skew import detect_heavy_hitters

# ``auto``: a key is heavy above this share of the sampled left rows, and
# each heavy key's time span is cut into this many chunks
_HEAVY_SHARE = 0.02
_TARGET_CHUNKS = 128


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
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    if strategy == "union_locf":
        return _asof_union_locf(
            left, right, on, by, value_cols, tolerance_seconds, direction
        )
    if strategy == "auto":
        return _asof_auto(
            left, right, on, by, value_cols, tolerance_seconds, heavy_keys,
            direction,
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def _asof_auto(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    tolerance_seconds: int | None,
    heavy_keys: list | None,
    direction: str,
) -> DataFrame:
    """Skew-adaptive hybrid (the production default at scale).

    The per-key union_locf is already parallel ACROSS keys; a key only hurts
    when it alone dwarfs a task. So: route the keys holding more than
    ``_HEAVY_SHARE`` of left rows through the chunked scan path, with chunk
    width sized from their time span so each heavy key splits into
    ~``_TARGET_CHUNKS`` parallel slices, and the rest through the plain
    path. Fine-grained chunking of EVERY key would be wrong: the
    chunk-domain table degenerates to ~|left| rows and the cross-chunk scan
    becomes the new straggler (measured 3x slower than plain on 3k uniform
    keys)."""
    heavy = heavy_keys
    if heavy is None:
        heavy = detect_heavy_hitters(left, by, threshold_share=_HEAVY_SHARE)
    if not heavy:
        return _asof_union_locf(
            left, right, on, by, value_cols, tolerance_seconds, direction
        )
    # null-keyed rows route to the light branch explicitly: a bare
    # ~isin(heavy) evaluates to NULL for NULL keys, silently dropping them
    # from BOTH branches (the plain paths keep them)
    not_heavy = F.col(by).isNull() | ~F.col(by).isin(heavy)
    l_heavy = left.filter(F.col(by).isin(heavy))
    r_heavy = right.filter(F.col(by).isin(heavy))
    l_light = left.filter(not_heavy)
    r_light = right.filter(not_heavy)
    span = l_heavy.agg(
        epoch_seconds(F.min(on)).alias("lo"), epoch_seconds(F.max(on)).alias("hi")
    ).first()
    chunk_seconds = max(1, int((span["hi"] - span["lo"]) / _TARGET_CHUNKS) + 1)
    light_out = _asof_union_locf(
        l_light, r_light, on, by, value_cols, tolerance_seconds, direction
    )
    heavy_out = _asof_union_locf_chunked(
        l_heavy, r_heavy, on, by, value_cols, tolerance_seconds, chunk_seconds,
        direction,
    )
    return light_out.unionByName(heavy_out)


def _asof_union_locf(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    tolerance_seconds: int | None,
    direction: str = "backward",
) -> DataFrame:
    left_cols = left.columns
    # side=0 sorts right-side state BEFORE left probes at equal ts, so an
    # exact-ts right row is visible to the left row at the same instant
    # (merge_asof semantics: <= backward, >= forward). Forward (next
    # observation) is the same scan over time REVERSED: order by ts desc
    # and the running last(ignorenulls) carries the NEXT right row back.
    l_tagged = left.select(
        *left_cols,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[on].dataType).alias("__r_ts"),
    )
    r_tagged = right.select(
        F.col(by),
        F.col(on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in (by, on)],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(on).alias("__r_ts"),
    ).select(*l_tagged.columns)

    ts_ord = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    w = (
        Window.partitionBy(by)
        .orderBy(ts_ord, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = l_tagged.unionByName(r_tagged)
    out_vals = []
    carried_ts = F.last("__r_ts", ignorenulls=True).over(w)
    staleness = (
        epoch_seconds(F.col(on)) - epoch_seconds(carried_ts)
        if direction == "backward"
        else epoch_seconds(carried_ts) - epoch_seconds(F.col(on))
    )
    for c in value_cols:
        v = F.last(f"__r_{c}", ignorenulls=True).over(w)
        if tolerance_seconds is not None:
            v = F.when(staleness <= F.lit(tolerance_seconds), v)
        out_vals.append(v.alias(c))
    return (
        filled.select(*left_cols, F.col("__side"), *out_vals)
        .filter(F.col("__side") == 1)
        .drop("__side")
    )


def _asof_union_locf_chunked(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    tolerance_seconds: int | None,
    chunk_seconds: int,
    direction: str = "backward",
) -> DataFrame:
    """Skew-proof LOCF: the plain union_locf partitions by key, so one
    heavy-hitter key serializes into a single task. This variant is the
    classic two-phase parallel prefix scan over time chunks:

      phase 1: local LOCF within (key, time-chunk) — parallel across chunks
               of the same key
      phase 2: per-(key, chunk) "last right value" summaries (tiny: one row
               per chunk), carried forward ACROSS chunks with one more LOCF
               over the summary rows (serial per key, but only #chunks rows)
      phase 3: join carry-in back on (key, chunk);
               final = coalesce(local, carry_in)

    Exact for ANY chunking — a right value carries across arbitrarily many
    empty chunks through the summary scan. Same semantics as union_locf
    (verified in tests). ``direction="forward"`` is the time-mirrored
    scan: local pass ordered desc, per-chunk summaries keep the EARLIEST
    non-null per column, and the carry window walks chunks in descending
    order (next observation carried backward)."""
    fwd = direction == "forward"
    left_cols = left.columns
    chunk = lambda c: F.floor(epoch_seconds(c) / F.lit(chunk_seconds))  # noqa: E731

    l_tagged = left.select(
        *left_cols,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[on].dataType).alias("__r_ts"),
    )
    r_tagged = right.select(
        F.col(by),
        F.col(on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in (by, on)],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(on).alias("__r_ts"),
    ).select(*l_tagged.columns)
    unioned = l_tagged.unionByName(r_tagged).withColumn("__chunk", chunk(F.col(on)))
    # three consumers (local LOCF, summaries, chunk domain): an explicit
    # exchange on (key, chunk) lets Catalyst plan ONE shuffle and feed all
    # three subtrees from it (ReusedExchange) — upstream scan/feature
    # expressions run once, with no cache memory held
    unioned = unioned.repartition(F.col(by), F.col("__chunk"))

    # phase 1: local LOCF inside each (key, chunk)
    w_local = (
        Window.partitionBy(by, "__chunk")
        .orderBy(
            F.col(on).desc() if fwd else F.col(on).asc(),
            F.col("__side").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = unioned.select(
        *left_cols,
        "__side",
        "__chunk",
        F.last("__r_ts", ignorenulls=True).over(w_local).alias("__loc_ts"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w_local).alias(f"__loc_{c}")
            for c in value_cols
        ],
    ).filter(F.col("__side") == 1)

    # phase 2: per-chunk summaries of the right side, then cross-chunk scan.
    # PER-COLUMN summaries, not row-level: plain union_locf carries each
    # value column independently with last(ignorenulls), so a later right
    # row with a NULL in column c must NOT mask an earlier non-null c.
    # (Row-level max(struct(ts, values)) diverged exactly there.) The ts
    # carried for the tolerance check stays ROW-level (last right row's ts),
    # matching union_locf's carried_ts.
    agg_ts = F.min("__r_ts") if fwd else F.max("__r_ts")
    agg_struct = F.min if fwd else F.max
    summary = (
        unioned.filter(F.col("__side") == 0)
        .groupBy(by, "__chunk")
        .agg(
            agg_ts.alias("__last_ts"),
            *[
                agg_struct(
                    F.when(
                        F.col(f"__r_{c}").isNotNull(),
                        F.struct(
                            F.col("__r_ts").alias("ts"),
                            F.col(f"__r_{c}").alias("v"),
                        ),
                    )
                ).alias(f"__last_{c}")
                for c in value_cols
            ],
        )
    )
    domain = unioned.select(by, "__chunk").distinct()
    w_carry = (
        Window.partitionBy(by)
        .orderBy(F.col("__chunk").desc() if fwd else F.col("__chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        domain.join(summary, [by, "__chunk"], "left")
        .select(
            by,
            "__chunk",
            F.last("__last_ts", ignorenulls=True).over(w_carry).alias("__carry_ts"),
            *[
                F.last(f"__last_{c}", ignorenulls=True)
                .over(w_carry)
                .alias(f"__carry_{c}")
                for c in value_cols
            ],
        )
    )

    # phase 3: stitch
    out = local.join(carry, [by, "__chunk"], "left")
    carried_ts = F.coalesce(F.col("__loc_ts"), F.col("__carry_ts"))
    staleness = (
        epoch_seconds(F.col(on)) - epoch_seconds(carried_ts)
        if not fwd
        else epoch_seconds(carried_ts) - epoch_seconds(F.col(on))
    )
    vals = []
    for c in value_cols:
        v = F.coalesce(F.col(f"__loc_{c}"), F.col(f"__carry_{c}.v"))
        if tolerance_seconds is not None:
            v = F.when(staleness <= F.lit(tolerance_seconds), v)
        vals.append(v.alias(c))
    return out.select(*left_cols, *vals)
