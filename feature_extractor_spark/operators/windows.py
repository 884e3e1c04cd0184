"""Sliding-window feature building (SURVEY.md §2.5 W1-W3, §2.2 P3).

Reference semantics (create_sliding_windows,
/root/reference/app/data_processor.py:18-38): stride-1 windows of length W
over a time-ordered frame; N rows -> N-W+1 windows; empty when N < W; the
sample's label/timestamp is the window's LAST step (zero temporal leakage —
a window at ts t contains only rows with ts <= t).

``sliding_windows`` is ``collect_list(...).over(rowsBetween(-(W-1), 0))``:
declarative; Catalyst/Tungsten stream it through the window operator's
external sorter with spill. Each output row carries its own W-length array,
so the shuffle writes O(N·W) values — fine for small/medium W.
``sliding_windows_chunked`` / ``sliding_windows_auto`` split heavy-hitter
entities into row chunks. Windows consumed only by the encoder never leave
NumPy: see ``operators/fused.windowed_encode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_windows(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
    window_size: int,
    out_col: str = "window",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """W1, collect_list path: one row per (entity, ts) with ``out_col`` =
    array of the last ``window_size`` structs (oldest first).

    Rows whose history is shorter than W are dropped (reference emits
    N-W+1 windows; N<W -> empty result)."""
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col)
        .rowsBetween(-(window_size - 1), 0)
    )
    payload = (
        F.struct(*[F.col(c) for c in value_cols])
        if len(value_cols) > 1
        else F.col(value_cols[0])
    )
    keep = keep_cols or []
    return (
        df.select(entity_col, ts_col, *value_cols, *keep)
        .withColumn(out_col, F.collect_list(payload).over(w))
        .filter(F.size(out_col) == window_size)
        .select(entity_col, ts_col, *keep, out_col)
    )


def sliding_windows_chunked(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
    window_size: int,
    rows_per_chunk: int = 8192,
    out_col: str = "window",
    rn_ts_chunk_seconds: int | None = None,
) -> DataFrame:
    """W1 skew-proof path: split each entity into fixed-size row chunks,
    replicate exactly the last W-1 rows of each chunk into the next chunk as
    context, then build windows per (entity, chunk) partition.

    Why: the plain path partitions by entity, so a heavy-hitter entity
    (Zipf head) serializes into one task — at 10^12 rows a single doc_id can
    hold billions of rows. Here the only per-entity serial pass is a
    row_number (cheap sort, no array materialization); the expensive
    collect_list amplification runs on bounded (rows_per_chunk + W - 1)
    slices, parallel across chunks of the SAME entity.

    Output is identical to ``sliding_windows`` (verified in tests): context
    rows contribute history but are not re-emitted, and rows with fewer
    than W predecessors are dropped globally, not per chunk.
    """
    if rows_per_chunk < window_size:
        raise ValueError("rows_per_chunk must be >= window_size (context spans one chunk)")
    src = df.select(entity_col, ts_col, *value_cols)
    if rn_ts_chunk_seconds is None:
        w_rn = Window.partitionBy(entity_col).orderBy(ts_col)
        base = src.withColumn("__rn", F.row_number().over(w_rn) - 1)
    else:
        # two-level scan row_number: a heavy entity's global row_number is a
        # serial sort of ALL its rows in one task. Instead: local row_number
        # within (entity, time-chunk) [parallel] + cumulative chunk-count
        # offsets [one tiny scan over #chunks rows per entity].
        base = _scan_row_numbers(src, entity_col, ts_col, rn_ts_chunk_seconds)
    chunk = F.floor(F.col("__rn") / rows_per_chunk)
    # one pass, no union: every row emits its owned (chunk, ctx=false) copy,
    # and the last W-1 rows of each chunk also emit a (chunk+1, ctx=true)
    # context copy. A union of two branches would run the per-entity
    # row_number sort twice — with a heavy-hitter entity that doubles the
    # straggler task.
    assign = F.when(
        F.pmod(F.col("__rn"), F.lit(rows_per_chunk))
        >= rows_per_chunk - (window_size - 1),
        F.array(
            F.struct(chunk.alias("c"), F.lit(False).alias("ctx")),
            F.struct((chunk + 1).alias("c"), F.lit(True).alias("ctx")),
        ),
    ).otherwise(F.array(F.struct(chunk.alias("c"), F.lit(False).alias("ctx"))))
    both = (
        base.withColumn("__a", F.explode(assign))
        .withColumn("__chunk", F.col("__a.c"))
        .withColumn("__ctx", F.col("__a.ctx"))
        .drop("__a")
    )
    w_chunk = (
        Window.partitionBy(entity_col, "__chunk")
        .orderBy(ts_col)
        .rowsBetween(-(window_size - 1), 0)
    )
    payload = (
        F.struct(*[F.col(c) for c in value_cols])
        if len(value_cols) > 1
        else F.col(value_cols[0])
    )
    return (
        both.withColumn(out_col, F.collect_list(payload).over(w_chunk))
        .filter(~F.col("__ctx"))
        .filter(F.col("__rn") >= window_size - 1)  # global W-history rule
        .filter(F.size(out_col) == window_size)
        .select(entity_col, ts_col, out_col)
    )


def _scan_row_numbers(
    src: DataFrame, entity_col: str, ts_col: str, ts_chunk_seconds: int
) -> DataFrame:
    """Global per-entity 0-based __rn without a per-entity serial sort:
    row_number within (entity, time-chunk) + prefix-sum of chunk counts."""
    from feature_extractor_spark.functions.timeutil import epoch_seconds

    tchunk = F.floor(epoch_seconds(F.col(ts_col)) / F.lit(ts_chunk_seconds))
    marked = src.withColumn("__tc", tchunk)
    w_local = Window.partitionBy(entity_col, "__tc").orderBy(ts_col)
    local = marked.withColumn("__lrn", F.row_number().over(w_local) - 1)
    w_off = (
        Window.partitionBy(entity_col)
        .orderBy("__tc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        marked.groupBy(entity_col, "__tc")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .select(F.col(entity_col).alias("__oe"), F.col("__tc").alias("__otc"), "__off")
    )
    # NULL-safe on the entity: a plain equi-join drops NULL-keyed rows, which
    # Window.partitionBy above keeps as one entity
    on = F.col(entity_col).eqNullSafe(F.col("__oe")) & (F.col("__tc") == F.col("__otc"))
    return (
        local.join(offsets, on)
        .withColumn("__rn", (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__tc", "__lrn", "__oe", "__otc", "__off")
    )


def sliding_windows_auto(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_cols: list[str],
    window_size: int,
    heavy_share: float = 0.02,
    rows_per_chunk: int = 8192,
    target_chunks: int = 128,
    out_col: str = "window",
    heavy_keys: list | None = None,
    ts_chunk_seconds: int | None = None,
) -> DataFrame:
    """Skew-adaptive window build (production default at scale): the plain
    per-entity path for the key population (parallel across keys), the
    chunked path with scan-based row numbers for detected heavy hitters.
    Same output as ``sliding_windows`` (tested).

    Pass ``heavy_keys`` (+ optional ``ts_chunk_seconds``) when known — the
    detection queries otherwise EXECUTE ``df``'s plan twice more, which is
    expensive when df is itself a join/window pipeline."""
    from feature_extractor_spark.functions.timeutil import epoch_seconds

    heavy = heavy_keys
    if heavy is None:
        sampled = df.select(entity_col).sample(fraction=0.1, seed=42)
        counts = sampled.groupBy(entity_col).count()
        total = counts.agg(F.sum("count")).first()[0] or 0
        heavy = (
            [r[0] for r in counts.filter(F.col("count") > heavy_share * total).collect()]
            if total
            else []
        )
    if not heavy:
        return sliding_windows(df, entity_col, ts_col, value_cols, window_size, out_col)
    d_heavy = df.filter(F.col(entity_col).isin(heavy))
    # isNull() branch: ~isin is NULL (not False) for NULL keys — without it
    # null-keyed rows vanish from both branches
    d_light = df.filter(F.col(entity_col).isNull() | ~F.col(entity_col).isin(heavy))
    ts_chunk = ts_chunk_seconds
    if ts_chunk is None:
        span = d_heavy.agg(
            epoch_seconds(F.min(ts_col)).alias("lo"),
            epoch_seconds(F.max(ts_col)).alias("hi"),
        ).first()
        ts_chunk = max(1, int((span["hi"] - span["lo"]) / target_chunks) + 1)
    light_out = sliding_windows(
        d_light, entity_col, ts_col, value_cols, window_size, out_col
    )
    heavy_out = sliding_windows_chunked(
        d_heavy,
        entity_col,
        ts_col,
        value_cols,
        window_size,
        rows_per_chunk=rows_per_chunk,
        out_col=out_col,
        rn_ts_chunk_seconds=ts_chunk,
    )
    return light_out.unionByName(heavy_out)


def lag_lead_features(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    lags: list[int] | None = None,
    leads: list[int] | None = None,
) -> DataFrame:
    """W3: explicit lag/lead token-window features.

    Each lag k is ``lag(value, k) over (partition by entity order by ts)``
    — one window operator, no self-join, shuffle only on the entity key."""
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    out = df
    for k in lags or []:
        out = out.withColumn(f"{value_col}_lag_{k}", F.lag(value_col, k).over(w))
    for k in leads or []:
        out = out.withColumn(f"{value_col}_lead_{k}", F.lead(value_col, k).over(w))
    return out


def last_step(df: DataFrame, window_col: str, out_col: str = "target") -> DataFrame:
    """P3: point-in-time target = last element of the window
    (y = x[:, -1, :], /root/reference/app/data_processor.py:102)."""
    return df.withColumn(out_col, F.element_at(F.col(window_col), -1))
