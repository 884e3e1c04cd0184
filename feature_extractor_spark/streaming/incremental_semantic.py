"""Incremental SEMANTIC dedup against the persisted ANN index (r8).

The embedding twin of the streaming LSH text ingest
(incremental_dedup.py): at 100 TB you semantically dedup the corpus once
(operators/similarity.semantic_dedup), persist its IVF+PQ index
(operators/ann_index.build_ann_index), and then new embedding batches
arrive continuously and must be checked against everything already
accepted WITHOUT rescanning raw corpus vectors. The index stores m bytes
of PQ code per corpus vector; candidate lookup probes only the new
vector's nearest coarse cells, and verification compares the new RAW
vector against the candidate's PQ-RECONSTRUCTED vector (codebook lookup,
plus the cell centroid for residual indexes — standard asymmetric
comparison, Jegou et al. 2011): exact on the query side, quantized on
the corpus side, so the effective threshold carries the documented PQ
reconstruction error instead of requiring raw corpus storage.

Per micro-batch (``foreachBatch``, same contract as the text ingest):

1. within-batch semantic dedup — cells from the INDEX's own centroids
   (so batch geometry matches the corpus's), within-cell pairwise cosine
   >= threshold, star-contraction closure, min-id canonical survivors,
2. index lookup — probe ``n_probe`` cells per new vector, reconstruct
   candidates from codes, flag cosine >= threshold; PLUS an exact check
   against the raw vectors accepted by earlier batches (PQ
   reconstruction is only faithful within the trained distribution, so
   codes alone cannot flag twins of a novel-cluster accept — the raw
   accepted side covers post-build drift until a rebuild folds it in),
3. accepted (non-duplicate) vectors append to the corpus output AND
   their codes append to the index (``ann_index_append`` — encoded with
   the PERSISTED model, never retraining), so batch N+1 dedups against
   batch N.

Idempotency/restart: the accepted write and the code append both land in
``batch_id``-keyed partitions with dynamic overwrite — a replayed
micro-batch overwrites its own partitions. The index must exist before
ingest starts (build_ann_index on the historical corpus); a missing
index raises rather than silently admitting duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extractor_spark.operators.ann_index import (
    _load_model,
    _require_index,
    ann_index_append,
)
from feature_extractor_spark.session import overwrite_partitions, path_exists
from feature_extractor_spark.streaming.incremental_dedup import (
    _foreach_batch,
    write_stats_row,
)


def _probe_cells(df: DataFrame, C, vec_col: str, id_col: str, n_probe: int):
    """(id, vec, cell) rows: each vector exploded to its n_probe nearest
    coarse cells (one Arrow map, centroid matrix broadcast)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(C, dtype=np.float64))
    n_probe = min(int(n_probe), len(C))
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField(vec_col, df.schema[vec_col].dataType),
            T.StructField("cell", T.IntegerType(), False),
        ]
    )

    def run(batches: "Iterator[pd.DataFrame]"):
        cc = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            if pdf[id_col].isna().any():
                # a NULL id would slip through the candidate join's
                # null-unsafe __new_id != __corpus_id filter and be
                # reported is_dup=false — silently admitting potential
                # duplicates. Reject loudly (pack_bins discipline).
                raise ValueError(
                    f"_probe_cells: NULL {id_col!r} in input — NULL ids "
                    "cannot be dedup-checked; assign ids upstream"
                )
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            probe = np.argsort(-(X @ cc.T), axis=1)[:, :n_probe]
            idx = np.repeat(np.arange(len(pdf)), n_probe)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[idx],
                    vec_col: pdf[vec_col].to_numpy()[idx],
                    "cell": probe.ravel().astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema)


def flag_against_ann_index(
    new_vectors: DataFrame,
    index_dir: str,
    id_col: str | None = None,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_probe: int = 4,
    balance_limit: float = 4.0,
    exclude_batch_id: int | None = None,
    _model=None,
) -> DataFrame:
    """(id, is_dup, dup_of, cosine) for every new vector vs the persisted
    index: candidates only from the vector's ``n_probe`` nearest cells,
    verified by cosine against the candidate's PQ reconstruction.
    ``dup_of`` is the best match (max cosine, ties to the smaller corpus
    id). The new side is assumed micro-batch sized and broadcasts into
    the candidate join; the corpus side is one scan of the m-bytes/vector
    codes table. The stored sample balance applies the SAME
    n_probe-widening rule as ann_index_topk (review r8: a skewed index
    would otherwise give the dedup probe systematically lower recall
    than the query path on the same artifact). ``exclude_batch_id``
    drops that codes partition from the candidate scan — the ingest
    passes its own partition so a REPLAYED batch never compares rows
    against their own previous append (PQ reconstruction error could
    flag a row the exact within-batch check deliberately kept).
    ``_model`` is the ingest's preloaded (meta, C, books) to avoid
    re-collecting the model state per call."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = new_vectors.sparkSession
    if _model is None:
        _require_index(spark, index_dir)
        meta, C, books = _load_model(spark, index_dir)
    else:
        meta, C, books = _model
    if float(meta["balance"]) > balance_limit:
        n_probe = min(int(meta["n_lists"]), n_probe * 2)
    if id_col is None:
        id_col = meta["id_col"]
    probed = _probe_cells(new_vectors, C, vec_col, id_col, n_probe)
    codes = spark.read.parquet(f"{index_dir}/codes")
    if exclude_batch_id is not None:
        codes = codes.filter(F.col("batch_id") != int(exclude_batch_id))
    codes = codes.select(
        F.col(meta["id_col"]).alias("__corpus_id"), "cell", "pq_code"
    )
    cand = codes.join(
        F.broadcast(
            probed.select(
                F.col(id_col).alias("__new_id"),
                F.col(vec_col).alias("__qv"),
                "cell",
            )
        ),
        "cell",
        # null-safe negation: _probe_cells already rejects NULL new-side
        # ids loudly, but a NULL corpus id must not silently drop the
        # candidate either (eqNullSafe keeps it, and the cosine check
        # still runs against its reconstruction)
    ).filter(~F.col("__new_id").eqNullSafe(F.col("__corpus_id")))

    bc = spark.sparkContext.broadcast(
        (
            np.asarray(C, dtype=np.float64),
            np.asarray(books, dtype=np.float64),
            bool(meta["residual"]),
        )
    )
    new_id_type = new_vectors.schema[id_col].dataType
    corpus_id_type = codes.schema["__corpus_id"].dataType
    schema = T.StructType(
        [
            T.StructField("__new_id", new_id_type),
            T.StructField("__corpus_id", corpus_id_type),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def verify(batches: "Iterator[pd.DataFrame]"):
        cc, bb, res = bc.value
        m, _, sub = bb.shape
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__qv"]]
            )
            codes_m = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]]
            )
            # PQ reconstruction: concat per-subspace codewords (+ the
            # cell centroid for residual indexes)
            R = np.concatenate(
                [bb[s][codes_m[:, s]] for s in range(m)], axis=1
            )
            if res:
                R = R + cc[pdf["cell"].to_numpy()]
            qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-300)
            rn = np.maximum(np.linalg.norm(R, axis=1), 1e-300)
            cos = (Q * R).sum(axis=1) / qn / rn
            yield pd.DataFrame(
                {
                    "__new_id": pdf["__new_id"],
                    "__corpus_id": pdf["__corpus_id"],
                    "cosine": cos,
                }
            )

    scored = cand.select("__new_id", "__corpus_id", "cell", "__qv", "pq_code").mapInPandas(
        verify, schema
    ).filter(F.col("cosine") >= float(threshold))
    # best match: max cosine, ties to the smaller corpus id (native type)
    best = scored.groupBy("__new_id").agg(
        F.min(
            F.struct(
                (-F.col("cosine")).alias("nc"),
                F.col("__corpus_id").alias("corpus_id"),
            )
        ).alias("__b"),
        F.max("cosine").alias("cosine"),
    )
    out = (
        new_vectors.select(F.col(id_col).alias("__new_id"))
        .distinct()
        .join(best, "__new_id", "left")
        .select(
            F.col("__new_id").alias(id_col),
            F.col("cosine").isNotNull().alias("is_dup"),
            F.col("__b.corpus_id").alias("dup_of"),
            "cosine",
        )
    )
    return out.localCheckpoint(eager=True)


def _within_batch_semantic_pairs(
    batch: DataFrame,
    C,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_cell_rows: int = 20_000,
) -> DataFrame:
    """(id_a, id_b) cosine >= threshold pairs WITHIN the batch, cells
    from the index centroids (bounded quadratic per cell; micro-batches
    are small by contract). A cell larger than ``max_cell_rows`` RAISES
    rather than silently going quadratic — a skewed micro-batch
    concentrated in one cell is a configuration problem (batch too big,
    or the index's cell geometry too coarse for the incoming
    distribution), the same loud-failure contract as
    ``semantic_dedup``'s max_cluster_rows guard."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    assigned = _probe_cells(batch, C, vec_col, id_col, n_probe=1)
    id_type = batch.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
        ]
    )
    thr = float(threshold)
    cap = int(max_cell_rows)

    def pairs(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            empty = pdf[id_col].iloc[0:0]
            return pd.DataFrame({"id_a": empty, "id_b": empty})
        if n > cap:
            raise ValueError(
                f"_within_batch_semantic_pairs: cell {key[0]} with {n} "
                f"rows exceeds max_cell_rows={cap}; shrink the "
                "micro-batch or rebuild the index with more lists "
                "(within-cell pair work is quadratic by design)"
            )
        pdf = pdf.sort_values(id_col, kind="mergesort")
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = X @ X.T
        ia, ib = np.where(np.triu(S >= thr, k=1))
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib]})

    return assigned.groupBy("cell").applyInPandas(pairs, schema)


def ann_semantic_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_probe: int = 4,
    max_cell_rows: int = 20_000,
    max_unindexed_frac: float | None = 0.5,
    stats_dir: str | None = None,
) -> None:
    """One micro-batch of the semantic ingest (usable for batch backfills
    too). Idempotent per batch_id: the accepted write and the code append
    are dynamic-partition overwrites keyed on batch_id. The index's codes
    partition uses ``batch_id + 1`` (0 is the build).

    ``max_unindexed_frac`` (r9) is the MECHANICAL rebuild trigger the r8
    verdict asked for: step 2b's exact check grows with every accepted
    vector since the index build, so once the raw accepted count exceeds
    ``max_unindexed_frac * n_vectors_at_build`` the batch RAISES with the
    rebuild procedure instead of letting the per-batch GEMM grow without
    bound (``None`` disables — for backfills that deliberately end with a
    rebuild). The accepted count is read fresh per batch (one count job
    over the accepted parquet, excluding this batch's own replayable
    partition) rather than mutating index meta — meta stays
    write-once-per-build, so replays can't double-count.

    ``stats_dir`` (r9) enables the per-batch funnel: one row
    (batch_id, n_input, n_within_dup, n_index_dup, n_raw_dup, n_accepted)
    written as a dynamic-partition overwrite keyed on batch_id — a
    replayed batch overwrites its own stats row, the curation-funnel
    replay discipline. Disabled (None) the ingest runs no extra count
    jobs."""
    spark = batch_df.sparkSession
    _require_index(spark, index_dir)
    meta, C, books = _load_model(spark, index_dir)  # loaded ONCE per batch
    id_col = meta["id_col"]
    batch_df = batch_df.persist()
    try:
        # 1. within-batch semantic dedup (min-id canonical survivor)
        from feature_extractor_spark.operators.dedup import near_dup_clusters

        pairs = _within_batch_semantic_pairs(
            batch_df, C, id_col, vec_col, threshold,
            max_cell_rows=max_cell_rows,
        )
        clusters = near_dup_clusters(pairs, batch_df, id_col)
        unique = batch_df.join(
            clusters.filter(F.col(id_col) == F.col("canonical_id")).select(
                id_col
            ),
            id_col,
        )
        # 2a. against the persisted index (the TRAINED corpus). PQ
        #     reconstruction is only faithful within the trained
        #     distribution: a vector from a genuinely NOVEL cluster
        #     reconstructs toward its coarse centroid, so its future
        #     twins would evade this check...
        flags = flag_against_ann_index(
            unique, index_dir, id_col=id_col, vec_col=vec_col,
            threshold=threshold, n_probe=n_probe,
            # a replayed batch must never see its OWN previous append
            exclude_batch_id=int(batch_id) + 1,
            _model=(meta, C, books),
        )
        survivors = unique.join(
            flags.filter(~F.col("is_dup")).select(id_col), id_col
        )
        # 2b. ...therefore post-build accepts are ALSO checked EXACTLY
        #     against the raw accepted vectors already written by earlier
        #     batches (accepted_dir holds them anyway). This side grows
        #     only with genuinely-new accepted vectors; a periodic
        #     rebuild (build_ann_index over corpus + accepted) folds them
        #     into the trained index and resets it, the standard
        #     IVF-drift operating procedure.
        from feature_extractor_spark.operators.similarity import cosine_topk

        n_raw_dup = 0
        if path_exists(spark, accepted_dir):
            # filter out this batch's OWN partition (review r8): a replay
            # would otherwise self-match every previously-accepted row at
            # cosine 1.0, empty the survivors, skip the code append, and
            # permanently lose the codes of a batch that crashed between
            # the accepted write and the append (same discipline as the
            # text ingest's line-frequency merge).
            prev = (
                spark.read.parquet(accepted_dir)
                .filter(F.col("batch_id") != int(batch_id))
                .select(id_col, vec_col)
            )
            if max_unindexed_frac is not None:
                n_indexed = int(meta.get("n_vectors") or 0)
                n_prev = prev.count()
                if n_indexed > 0 and n_prev > max_unindexed_frac * n_indexed:
                    raise RuntimeError(
                        f"ann_semantic_ingest_batch: {n_prev} raw accepted "
                        f"vectors since the index build exceed "
                        f"max_unindexed_frac={max_unindexed_frac} of the "
                        f"{n_indexed} indexed vectors — step 2b's exact "
                        "check is no longer bounded. Rebuild the index "
                        "(build_ann_index over corpus + accepted_dir, then "
                        "reset accepted_dir / restart the stream from a "
                        "fresh checkpoint) before ingesting further, or "
                        "pass max_unindexed_frac=None to disable the guard "
                        "deliberately."
                    )
            hits = (
                cosine_topk(
                    survivors.select(id_col, vec_col), prev,
                    id_col=id_col, vec_col=vec_col, k=1, include_self=True,
                )
                .filter(F.col("cosine") >= float(threshold))
                .select(F.col("query_id").alias(id_col))
                .distinct()
            )
            if stats_dir is not None:
                # checkpoint so the count and the anti-join share one
                # execution of the cosine_topk lineage
                hits = hits.localCheckpoint(eager=True)
                n_raw_dup = hits.count()
            survivors = survivors.join(hits, id_col, "left_anti")
        # localCheckpoint, NOT persist: the survivors plan READS
        # accepted_dir (step 2b), and Spark invalidates caches that
        # depend on a path when that path is written — so a persist
        # would silently re-execute AFTER the accepted write below,
        # anti-joining this batch against ITSELF and skipping the code
        # append. Checkpointing severs the parquet lineage first.
        accepted = survivors.localCheckpoint(eager=True)
        # 3. accepted vectors + their index codes, idempotent per batch
        overwrite_partitions(
            accepted.withColumn("batch_id", F.lit(int(batch_id))),
            accepted_dir, "batch_id",
        )
        n_accepted = accepted.count()
        if n_accepted > 0:
            ann_index_append(
                accepted, index_dir, batch_id=int(batch_id) + 1,
                vec_col=vec_col, _model=(meta, C, books),
            )
        if stats_dir is not None:
            # per-batch funnel row (replay-idempotent: overwrites its own
            # batch_id partition via the shared writer). flags is eagerly
            # checkpointed, so the two counts over it are cheap re-reads.
            n_input = batch_df.count()
            n_unique = flags.count()  # one row per within-batch survivor
            n_index_dup = flags.filter(F.col("is_dup")).count()
            write_stats_row(
                spark, stats_dir, batch_id,
                {
                    "n_input": n_input,
                    "n_within_dup": n_input - n_unique,
                    "n_index_dup": n_index_dup,
                    "n_raw_dup": n_raw_dup,
                    "n_accepted": n_accepted,
                },
            )
    finally:
        batch_df.unpersist()


def stream_semantic_ingest(
    stream_vectors: DataFrame, index_dir: str, accepted_dir: str,
    checkpoint_dir: str, **kwargs,
):
    """Wire ``ann_semantic_ingest_batch`` into a Structured Streaming
    query; ``kwargs`` are its options. Returns the unstarted
    DataStreamWriter."""
    return _foreach_batch(
        stream_vectors, checkpoint_dir, ann_semantic_ingest_batch, index_dir,
        accepted_dir, **kwargs,
    )
