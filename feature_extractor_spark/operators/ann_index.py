"""Persistent IVF(+PQ) ANN index: build once, query many (r8).

``ivfpq_topk`` retrains centroids/codebooks and re-encodes the corpus on
every call — fine for a one-shot search, wrong operationally at 100 TB,
where "similarity search" means a long-lived artifact: encode the corpus
ONCE, then serve many query batches (and ingest new vectors) against the
stored codes. This module persists exactly the state Jegou et al. 2011's
IVFADC needs, in the same crash-safe batch-partitioned parquet layout the
streaming LSH index uses (streaming/incremental_dedup.py):

    <index_dir>/meta/       one row: dim, n_lists, m, k_codes, residual,
                            seed, balance, id column name/type tag
    <index_dir>/centroids/  (cell int, centroid array<double>)
    <index_dir>/codebooks/  (subspace int, code int, vec array<double>)
    <index_dir>/codes/      (id, cell int, pq_code array<int>)
                            partitioned by batch_id

Build writes codes under ``batch_id=0``; ``ann_index_append`` encodes new
vectors with the PERSISTED centroids/codebooks (never retraining — codes
stay comparable) and overwrites its own ``batch_id=<n>`` partition, so a
replayed ingest is idempotent, exactly like the streaming dedup ingest.
``compact_ann_index`` delegates to the shared crash-safe swap
(``streaming.incremental_dedup.compact_index(tables=("codes",))``).

Query cost model: meta + centroids + codebooks are bounded driver reads
(n_lists + m*k_codes rows); the coded corpus is a parquet scan of
(id, cell, pq_code) rows — m bytes of code per vector, no floats — and
scoring reuses the exact ``_adc_score`` path of ``ivfpq_topk``, so a
persisted index returns bit-identical results to a fresh build with the
same parameters (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extractor_spark.operators.similarity import (
    _adc_score,
    _fit_pq,
    _pq_sample,
    kmeans_centroids,
)
from feature_extractor_spark.session import (
    hadoop_path,
    local_frame,
    overwrite_partitions,
    path_exists,
)


def _require_index(spark, index_dir: str) -> None:
    """Raise loudly when any index table is missing — a silent empty read
    would serve zero neighbors and look like low recall (same discipline
    as the streaming index's explicit existence probe)."""
    missing = [
        sub
        for sub in ("meta", "centroids", "codebooks", "codes")
        if not path_exists(spark, f"{index_dir}/{sub}")
    ]
    if missing:
        raise FileNotFoundError(
            f"ann index at {index_dir!r} is missing tables {missing}; "
            "run build_ann_index first"
        )


def _load_model(spark, index_dir: str):
    """(meta dict, C (n_lists, dim) float64, books (m, k, sub) float64) —
    bounded driver reads by construction."""
    import numpy as np

    meta = spark.read.parquet(f"{index_dir}/meta").collect()[0].asDict()
    cents = spark.read.parquet(f"{index_dir}/centroids").orderBy("cell").collect()
    C = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
    rows = (
        spark.read.parquet(f"{index_dir}/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    m, k = int(meta["m"]), int(meta["k_codes"])
    sub = int(meta["dim"]) // m
    books = np.asarray([r["vec"] for r in rows], dtype=np.float64).reshape(
        m, k, sub
    )
    return meta, C, books


def _encode_with(df: DataFrame, C, books, id_col: str, vec_col: str,
                 residual: bool) -> DataFrame:
    """(id, cell, pq_code) for ``df`` using FIXED centroids/codebooks —
    the assign+encode Arrow stage of ivfpq_topk, parameterized by loaded
    model state instead of a fresh fit."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            np.asarray(C, dtype=np.float64),
            np.asarray(books, dtype=np.float64),
            bool(residual),
        )
    )
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("pq_code", T.ArrayType(T.IntegerType()), False),
        ]
    )

    def assign_encode(batches: "Iterator[pd.DataFrame]"):
        cc, bb, res = bc.value
        mm, _, sub = bb.shape
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cells = np.argmax(X @ cc.T, axis=1).astype(np.int32)
            if res:
                X = X - cc[cells]
            codes = np.empty((len(X), mm), dtype=np.int32)
            for s in range(mm):
                Xs = X[:, s * sub : (s + 1) * sub]
                B = bb[s]
                d2 = (B**2).sum(axis=1)[None, :] - 2.0 * (Xs @ B.T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": cells, "pq_code": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(assign_encode, schema)


def build_ann_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    m: int = 8,
    k_codes: int = 32,
    sample_size: int | None = None,
    seed: int = 23,
    residual: bool = True,
    target_cell_rows: int = 4096,
) -> dict:
    """Train + persist the index (overwrites any existing one at
    ``index_dir``): centroids/codebooks from the same bounded seeded
    sample discipline as ``ivfpq_topk`` (identical fit given identical
    parameters — tested), corpus codes under ``batch_id=0``. Returns
    {"n_vectors": ..., "n_lists": ..., "balance": ...}.

    ``n_lists=None`` (the default — r9, mirroring ``semantic_dedup``'s
    auto-sizing at operators/similarity.py:1076) derives the list count
    from ONE corpus count job: ``n_lists = ceil(N / target_cell_rows)``,
    so the mean cell stays ~``target_cell_rows`` no matter the corpus
    scale — a fixed default of 16 lists over a 100x corpus would make
    every n_probe=4 query scan 25% of all codes. ``sample_size=None``
    scales the training sample with what is being fit:
    ``max(4096, 32*n_lists, 32*k_codes)`` — at least 32 sample points per
    k-means centroid and per PQ codeword. Pass explicit values to pin the
    geometry (e.g. to compare against a fresh ``ivfpq_topk`` run)."""
    import numpy as np

    spark = corpus.sparkSession
    # REBUILD crash safety (review r9): meta-written-last marks a
    # completed build, but only if a rebuild over an existing index
    # cannot leave the PREVIOUS build's meta pairing with new
    # centroids/codebooks/codes after a mid-rebuild crash. Delete the
    # old meta FIRST: any crash between here and the final meta write
    # leaves the index meta-less, so _require_index fails loudly and
    # the operator re-runs the build — never a silently mixed model.
    fs, meta = hadoop_path(spark, f"{index_dir}/meta")
    # a missing meta (first build) deletes nothing
    fs.delete(meta, True)
    n_corpus = None
    if n_lists is None:
        # one count job, driver-side arithmetic only (auto-size)
        n_corpus = corpus.count()
        n_lists = max(1, -(-n_corpus // max(1, int(target_cell_rows))))
    if sample_size is None:
        sample_size = max(4096, 32 * int(n_lists), 32 * int(k_codes))
    cents, balance = kmeans_centroids(
        corpus, id_col, vec_col, n_lists, sample_size, seed=seed
    )
    if not cents:
        raise ValueError("build_ann_index: empty corpus")
    C = np.asarray(cents, dtype=np.float64)
    Xs = _pq_sample(corpus, id_col, vec_col, sample_size, seed)
    if residual:
        cell_s = np.argmax(Xs @ C.T, axis=1)
        books = _fit_pq(Xs - C[cell_s], m, k_codes, iters=5, seed=seed)
    else:
        books = _fit_pq(Xs, m, k_codes, iters=5, seed=seed)

    dim = int(Xs.shape[1])
    local_frame(
        spark, [(i, c) for i, c in enumerate(C)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    local_frame(
        spark,
        [
            (s, j, books[s, j])
            for s in range(m)
            for j in range(k_codes)
        ],
        "subspace int, code int, vec array<double>",
    ).write.mode("overwrite").parquet(f"{index_dir}/codebooks")

    codes = _encode_with(corpus, C, books, id_col, vec_col, residual)
    # STATIC overwrite pinned on this write: under a session-wide dynamic
    # partitionOverwriteMode, a rebuild over an existing index would
    # replace only batch_id=0 and leave stale batch_id>0 partitions encoded
    # with the OLD model — silently wrong neighbors. Static overwrite
    # truncates the table.
    (
        codes.withColumn("batch_id", F.lit(0))
        .write.option("partitionOverwriteMode", "static")
        .mode("overwrite")
        .partitionBy("batch_id")
        .parquet(f"{index_dir}/codes")
    )
    n = spark.read.parquet(f"{index_dir}/codes").count()
    # meta is written LAST: its presence marks a completed build (a crash
    # mid-build leaves no meta — the old meta is deleted FIRST at build
    # start, so this holds for REBUILDS over an existing index too — and
    # _require_index fails loudly instead of serving a half-written or
    # mixed index), and it carries n_vectors — the
    # indexed-corpus size the semantic ingest's rebuild trigger compares
    # its raw accepted count against. Meta is write-once-per-build on
    # purpose: per-batch mutation would double-count under foreachBatch
    # replays.
    local_frame(
        spark,
        [
            (
                dim, int(len(C)), int(m), int(k_codes), bool(residual),
                int(seed), float(balance), id_col, int(n),
            )
        ],
        "dim int, n_lists int, m int, k_codes int, residual boolean, "
        "seed int, balance double, id_col string, n_vectors long",
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return {"n_vectors": int(n), "n_lists": int(len(C)), "balance": balance}


def ann_index_append(
    new_vectors: DataFrame,
    index_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
    _model=None,
) -> int:
    """Ingest new vectors into the persisted index WITHOUT retraining:
    encode with the stored centroids/codebooks and overwrite this batch's
    own ``batch_id=<n>`` partition (dynamic partition overwrite — a
    replayed ingest lands on its own partition, idempotent, exactly the
    streaming dedup contract). ``batch_id`` must be > 0 (0 is the build;
    -1 is the compacted history). Returns the number of rows written."""
    if int(batch_id) <= 0:
        raise ValueError(
            f"ann_index_append: batch_id must be > 0, got {batch_id} "
            "(0 = build, -1 = compacted history)"
        )
    spark = new_vectors.sparkSession
    if _model is None:
        _require_index(spark, index_dir)
        meta, C, books = _load_model(spark, index_dir)
    else:  # preloaded by the streaming ingest (one load per batch)
        meta, C, books = _model
    id_col = meta["id_col"]
    codes = _encode_with(
        new_vectors, C, books, id_col, vec_col, bool(meta["residual"])
    )
    overwrite_partitions(
        codes.withColumn("batch_id", F.lit(int(batch_id))),
        f"{index_dir}/codes", "batch_id",
    )
    return int(
        spark.read.parquet(f"{index_dir}/codes")
        .filter(F.col("batch_id") == int(batch_id))
        .count()
    )


def ann_index_topk(
    queries: DataFrame,
    index_dir: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    max_queries: int = 100_000,
    balance_limit: float = 4.0,
) -> DataFrame:
    """Top-k ADC search against the PERSISTED index: loads the bounded
    model state (meta/centroids/codebooks), scans only the coded corpus
    (id, cell, pq_code — m bytes/vector), and runs the exact shared
    ``_adc_score`` query path, so results are identical to a fresh
    ``ivfpq_topk`` with the same parameters. The stored sample balance
    applies the same n_probe-widening rule as the inline form. Raises
    FileNotFoundError when the index is absent."""
    spark = queries.sparkSession
    _require_index(spark, index_dir)
    meta, C, books = _load_model(spark, index_dir)
    if float(meta["balance"]) > balance_limit:
        n_probe = min(int(meta["n_lists"]), n_probe * 2)
    id_col = meta["id_col"]
    corpus_idx = spark.read.parquet(f"{index_dir}/codes").select(
        id_col, "cell", "pq_code"
    )
    return _adc_score(
        queries, corpus_idx, C, books, bool(meta["residual"]),
        id_col=id_col, vec_col=vec_col, k=k, n_probe=n_probe,
        max_queries=max_queries,
    )


def compact_ann_index(spark, index_dir: str, target_partitions: int | None = None) -> dict:
    """Merge all ``batch_id`` partitions of the codes table into the
    single ``batch_id=-1`` history partition via the shared crash-safe
    swap (``streaming.incremental_dedup.compact_index`` — write new,
    rename old aside, rename new in, recover on re-run). Run only while
    no ingest is active, same contract as the streaming index."""
    from feature_extractor_spark.streaming.incremental_dedup import (
        compact_index,
    )

    _require_index(spark, index_dir)
    return compact_index(
        spark, index_dir, target_partitions=target_partitions,
        tables=("codes",),
    )
