"""Incremental (streaming) near-dup ingest against a growing corpus index.

At 100 TB you dedup a corpus ONCE; after that, new documents arrive
continuously and must be checked against everything already accepted
without recomputing the corpus. This module keeps a persistent LSH index
(two append-only parquet tables) and ingests new batches through it:

    <index_dir>/bands/      (doc_id, band, bucket)   candidate lookup
    <index_dir>/shingles/   (doc_id, __h)            exact-Jaccard verify

Per micro-batch (Structured Streaming ``foreachBatch`` — the standard
pattern for stream writes that need multi-table transactions Spark does
not provide natively), the batch is hashed ONCE: one materialized
``(id, __h, __sz)`` gram frame and its ``signature_bands`` rows feed
three consumers:

1. within-batch dedup: the shared LSH candidate/verify tail
   (``operators.dedup._verified_pairs``) + the connected-components
   closure (a batch can contain its own duplicates),
2. index lookup: the batch's band buckets join the index's — candidates
   only, never batch x corpus — then exact Jaccard on the hashed shingle
   sets of the candidates (one materialized flag row per survivor),
3. accepted (non-duplicate) docs append to the corpus output AND their
   own gram/band rows (a semi-join on the accepted ids) append to the
   index, so batch N+1 dedups against batch N.

Idempotency/restart: every write lands under a ``batch_id=<n>`` dynamic
partition with overwrite mode, so a replayed micro-batch (foreachBatch is
at-least-once on failure) overwrites its own partition instead of
duplicating rows; the stream checkpoint tracks which source files are
consumed. Bucketing MUST match the index builder's — both sides go
through ``operators.dedup.signature_bands``.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_extractor_spark.operators.dedup import (
    _hashed_shingle_table,
    _verified_pairs,
    contamination_flags,
    # not called: bound for perfbench's traced run, which wraps it (with
    # near_dup_clusters and flag_against_index) by name in this module
    minhash_lsh_pairs,  # noqa: F401
    near_dup_clusters,
    signature_bands,
)
from feature_extractor_spark.session import (
    hadoop_path,
    local_frame,
    overwrite_partitions,
    path_exists,
)


def _hash_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The batch's one hashing pass: the ``(id, __h, __sz)`` gram frame and
    its ``signature_bands`` rows ``(id, band, bucket, __sz)``, both
    materialized (docs under ``shingle_n`` words have neither)."""
    wh_tbl, grams = _hashed_shingle_table(docs, id_col, text_col, shingle_n)
    grams = grams.localCheckpoint(eager=True)
    wh_tbl.unpersist()
    banded = signature_bands(grams, id_col, num_hashes, bands, carry=["__sz"])
    return grams, banded.localCheckpoint(eager=True)


def flag_against_index(
    survivors: DataFrame,
    grams: DataFrame,
    banded: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """(id, is_dup, dup_of, jaccard) for every id of ``survivors`` vs the
    index, materialized. ``grams`` / ``banded`` are the batch's hashing
    pass (``_hash_batch``: the ``(id, __h, __sz)`` gram frame and its
    bands); they may cover more ids than ``survivors``.

    Candidates come only from shared (band, bucket) rows; each candidate
    is verified with exact Jaccard over hashed shingle sets. ``dup_of``
    is the best match (max jaccard, ties to the smaller corpus id)."""
    cand = (
        banded.join(
            index_bands.select(
                F.col(id_col).alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select(id_col, "corpus_id")
        .dropDuplicates([id_col, "corpus_id"])
    )
    # Jaccard as _verified_pairs computes it, over distinct-gram set
    # sizes: no per-pair union array
    inter = F.size(F.array_intersect("h_new", "h_old"))
    verified = (
        cand.join(
            grams.select(
                id_col, F.col("__h").alias("h_new"), F.col("__sz").alias("sz_new")
            ),
            id_col,
        )
        .join(
            index_shingles.select(
                F.col(id_col).alias("corpus_id"), F.col("__h").alias("h_old")
            ),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            inter
            / (F.col("sz_new") + F.size(F.array_distinct("h_old")) - inter),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # min over (-jaccard, corpus_id): max jaccard, ties to the smaller id.
    # corpus_id stays in its NATIVE type inside the struct — min over
    # (double, any-orderable) works directly, and casting through string
    # would both order numeric ids lexicographically ('10' < '9') and
    # change the dup_of column type away from the id column's.
    best = verified.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("nj"),
                F.col("corpus_id").alias("corpus_id"),
            )
        ).alias("__b"),
        F.max("jaccard").alias("jaccard"),
    )
    return (
        survivors.select(id_col)
        .distinct()
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("jaccard").isNotNull().alias("is_dup"),
            F.col("__b.corpus_id").alias("dup_of"),
            "jaccard",
        )
        .localCheckpoint(eager=True)
    )


def write_stats_row(spark, stats_dir: str, batch_id: int, row: dict) -> None:
    """Shared per-batch funnel writer (text + semantic ingests): one
    all-long row under a ``batch_id`` dynamic-partition overwrite, so a
    replayed batch overwrites its own stats row — the replay-idempotence
    mechanics live in ONE place for every funnel."""
    stats_row = local_frame(
        spark, [tuple(int(v) for v in row.values())],
        ", ".join(f"{k} long" for k in row),
    )
    overwrite_partitions(
        stats_row.withColumn("batch_id", F.lit(int(batch_id))), stats_dir,
        "batch_id",
    )


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.9,
    benchmark: DataFrame | None = None,
    decontam_n: int = 13,
    stats_dir: str | None = None,
    quality_classifier: "tuple | None" = None,
    classifier_alpha: float = 2.0,
    classifier_seed: int = 101,
) -> None:
    """One micro-batch of the dedup ingest (usable directly for batch
    backfills too). Idempotent per (batch_id): all three writes are
    dynamic-partition overwrites keyed on batch_id.

    ``stats_dir`` (r9, the text twin of the semantic ingest's funnel):
    one row (batch_id, n_input, n_within_dup, n_index_dup, n_decontam,
    n_quality, n_accepted) per batch, written as a dynamic-partition
    overwrite keyed on batch_id — a replayed batch overwrites its own
    stats row. Disabled (None) the ingest runs no extra count jobs.

    ``quality_classifier`` (r9): a pre-trained ``(weights, bias[,
    ngram])`` tuple (functions/classifier) applies the map-side score +
    deterministic Pareto keep after dedup and BEFORE decontamination —
    the same stage order AND the same default keep seed
    (``classifier_seed=101`` = curate's ``seed + 101`` at curate's
    default seed 0) as the batch path, so the two paths keep the same
    docs for the same classifier. Deterministic (hash-keyed uniform),
    so the replay contract is unchanged. Accepted rows carry their
    ``quality_score``.

    ``benchmark`` (r8): a static eval-set frame with the same id/text
    columns enables per-batch decontamination, matching the batch
    ``curate(benchmark=...)`` hook — any surviving doc sharing a
    ``decontam_n``-gram with the benchmark is dropped BEFORE the accept
    write and before its rows enter the index (a leaked doc must never
    become the canonical copy future batches dedup against). The
    benchmark grams broadcast per batch (contamination_flags); dropping
    is deterministic, so the replay contract is unchanged — a replayed
    batch overwrites its own partition with identical content."""
    spark = batch_df.sparkSession
    # NULL-id guard (r9, same class as the semantic ingest's): a NULL id
    # drops out of every join in the dedup path, so the doc would be
    # silently LOST (or, via band-key candidates, admitted unverified).
    # assert_true embeds the check in the plan as a filter predicate —
    # it raises on the first NULL row inside the existing jobs, no extra
    # count pass, and Catalyst cannot prune a filter condition.
    batch_df = batch_df.filter(
        F.assert_true(
            F.col(id_col).isNotNull(),
            F.lit(
                f"ingest_batch: NULL {id_col} — ids must be non-null "
                "(they key dedup, the index, and the accept write)"
            ),
        ).isNull()
    )
    batch_df = batch_df.persist()
    # every persist taken below is registered here and released in the
    # finally block — the pre-decontam frame in particular is shadowed by
    # the post-decontam join, and unpersisting only the final frame would
    # leak one cached DataFrame per micro-batch of a long-running stream
    persisted: list[DataFrame] = []
    try:
        # the one hashing pass: every step below reads these two frames
        grams, banded = _hash_batch(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        )
        index_rows = {
            "bands": banded.select(id_col, "band", "bucket"),
            "shingles": grams.select(id_col, "__h"),
        }
        # 1. within-batch transitive dedup
        pairs = _verified_pairs(grams, banded, id_col, threshold)
        clusters = near_dup_clusters(pairs, batch_df, id_col)
        unique = clusters.filter(F.col(id_col) == F.col("canonical_id"))
        # 2. against the existing index. Only a MISSING index (first
        # batch, both tables probed explicitly) skips the cross-batch
        # check; read or compute failures propagate so the stream retries
        # the batch: swallowing them would admit duplicates silently.
        # flags: one materialized row per within-batch survivor
        if all(path_exists(spark, f"{index_dir}/{sub}") for sub in index_rows):
            # exclude this batch's OWN index partitions (r9, mirroring the
            # semantic ingest's hardened replay contract): a replayed
            # batch previously matched its own docs at jaccard 1.0 via the
            # rows its first run appended, emptying the accepted set — the
            # on-disk outcome stayed correct only because an empty dynamic
            # overwrite writes no partitions (an accidental no-op), and
            # any side artifact that always writes (the stats funnel)
            # diverged from the original run. Partition-pruned exclusion
            # makes the replay RE-DERIVE identical content instead; the
            # compacted history partition (-1) never collides.
            # read with the schema this function writes: inferring it
            # from the files would run one job per table
            index = [
                spark.read.schema(T.StructType(
                    [*df.schema, T.StructField("batch_id", T.IntegerType())]
                ))
                .parquet(f"{index_dir}/{sub}")
                .filter(F.col("batch_id") != int(batch_id))
                for sub, df in index_rows.items()
            ]
            flags = flag_against_index(
                unique, grams, banded, *index, id_col, threshold
            )
        else:  # first batch: no index yet
            flags = unique.select(
                id_col, F.lit(False).alias("is_dup")
            ).localCheckpoint(eager=True)
        accepted = batch_df.join(
            flags.filter(~F.col("is_dup")).select(id_col), id_col
        )
        if quality_classifier is not None:
            # BEFORE decontamination — the same stage order as batch
            # curate, and the same keep seed (review r9: diverging seed
            # or order would make the batch and streaming paths keep
            # different borderline docs for the same classifier)
            from feature_extractor_spark.functions.classifier import (
                quality_sample,
                resolve_classifier,
                score_quality,
            )

            qw, qb, q_ngram = resolve_classifier(quality_classifier)
            accepted = quality_sample(
                score_quality(accepted, qw, qb, text_col, ngram=q_ngram),
                id_col=id_col,
                alpha=classifier_alpha,
                seed=classifier_seed,
            )
        cflags = None
        if benchmark is not None:
            # persist BEFORE the flags pass: contamination_flags eagerly
            # localCheckpoints, so an un-persisted `accepted` would
            # execute the whole dedup + index-flag lineage twice per
            # micro-batch (once here, once for the writes below)
            accepted = accepted.persist()
            persisted.append(accepted)
            cflags = contamination_flags(
                accepted, benchmark, id_col, text_col,
                bench_id_col=id_col, bench_text_col=text_col, n=decontam_n,
            )
            accepted = accepted.join(
                cflags.filter(~F.col("is_contaminated")).select(id_col),
                id_col,
            )
        accepted = accepted.persist()
        persisted.append(accepted)
        # 3. accepted docs + their index rows (the batch's own gram and
        # band rows of the accepted ids), idempotent per batch
        acc_ids = accepted.select(id_col)
        rows = {accepted_dir: accepted} | {
            f"{index_dir}/{sub}": df.join(acc_ids, id_col, "left_semi")
            for sub, df in index_rows.items()
        }
        bid = F.lit(int(batch_id))
        for out, df in rows.items():
            overwrite_partitions(df.withColumn("batch_id", bid), out, "batch_id")
        if stats_dir is not None:
            # per-batch funnel row (replay-idempotent: overwrites its own
            # batch_id partition), counted in ONE query over frames that
            # are already materialized
            parts = [
                batch_df.select(F.lit("n_input").alias("k")),
                flags.select(
                    F.when(F.col("is_dup"), "n_index_dup")
                    .otherwise("n_index_new").alias("k")
                ),
                accepted.select(F.lit("n_accepted").alias("k")),
            ]
            if cflags is not None:
                parts.append(
                    cflags.filter(F.col("is_contaminated")).select(
                        F.lit("n_decontam").alias("k")
                    )
                )
            n = Counter(dict(
                reduce(DataFrame.union, parts).groupBy("k").count().collect()
            ))
            n_unique = n["n_index_dup"] + n["n_index_new"]
            write_stats_row(
                spark, stats_dir, batch_id,
                {
                    "n_input": n["n_input"],
                    "n_within_dup": n["n_input"] - n_unique,
                    "n_index_dup": n["n_index_dup"],
                    "n_decontam": n["n_decontam"],
                    # quality drops derive arithmetically — every other
                    # stage is counted above
                    "n_quality": n["n_index_new"] - n["n_decontam"]
                    - n["n_accepted"],
                    "n_accepted": n["n_accepted"],
                },
            )
    finally:
        for df in persisted:
            df.unpersist()
        batch_df.unpersist()


def _foreach_batch(
    stream: DataFrame, checkpoint_dir: str, ingest, *args, **kwargs
):
    """The DataStreamWriter that calls ``ingest(batch_df, batch_id, *args,
    **kwargs)`` on every non-empty micro-batch. The caller starts it,
    typically with ``.trigger(availableNow=True)`` for backfills."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            ingest(batch_df, batch_id, *args, **kwargs)

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )


def stream_dedup_ingest(
    stream_docs: DataFrame, index_dir: str, accepted_dir: str,
    checkpoint_dir: str, **kwargs,
):
    """Wire ``ingest_batch`` into a Structured Streaming query; ``kwargs``
    are its options (``benchmark`` adds per-batch decontamination,
    ``stats_dir`` the per-batch funnel, ``quality_classifier`` the
    map-side quality keep). Returns the unstarted DataStreamWriter."""
    return _foreach_batch(
        stream_docs, checkpoint_dir, ingest_batch, index_dir, accepted_dir,
        **kwargs,
    )


def ingest_lines_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    cleaned_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    sep: str = "\n",
) -> None:
    """One micro-batch of INCREMENTAL line-level boilerplate removal
    (VERDICT r6 item 6) — the streaming twin of
    ``operators.dedup.line_dedup_corpus``: boilerplate lines (cookie
    banners, nav menus) arrive incrementally too, and a banner that is
    rare inside any single batch becomes corpus-frequent ACROSS batches.

    Index layout (same discipline as the doc-level LSH index above —
    append-only batch partitions, replay-idempotent overwrites,
    compactable with ``compact_index(..., tables=("line_freqs",))``):

        <index_dir>/line_freqs/   (line_hash, n_docs) per batch_id

    Per batch: (1) count this batch's per-line distinct-doc frequencies
    (lines cross the shuffle only as 64-bit trimmed-line xxhash64 keys);
    (2) merge with the PERSISTED frequencies of all PRIOR batches
    (partition-pruned to exclude this batch_id, which makes a foreachBatch
    REPLAY read exactly what the original run read — at-least-once
    becomes effectively-once); (3) strip every line whose cross-batch
    total reaches ``min_docs`` from this batch's docs
    (``strip_lines_by_hash``); (4) commit cleaned docs + this batch's
    frequency rows as dynamic-partition overwrites keyed on batch_id.

    Semantics vs the batch operator: the threshold is evaluated against
    everything seen SO FAR, so early batches keep lines that only later
    become corpus-frequent (they are already committed); later batches
    strip them. A full-corpus re-pass with ``line_dedup_corpus`` remains
    the retroactive option. A doc re-appearing in multiple batches counts
    once PER BATCH (the index stores per-batch distinct-doc counts) —
    ingest feeds are deduplicated upstream by the LSH ingest, so this
    overcount is accepted rather than paying a cross-batch distinct."""
    spark = batch_df.sparkSession
    from feature_extractor_spark.operators.dedup import (
        _exploded_lines,
        strip_lines_by_hash,
    )

    batch_df = batch_df.persist()
    try:
        batch_freqs = (
            _exploded_lines(batch_df, id_col, text_col, sep)
            .filter(F.col("__lh").isNotNull())
            .select(F.col(id_col), F.col("__lh").alias("line_hash"))
            .distinct()
            .groupBy("line_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .localCheckpoint(eager=True)
        )
        freqs_path = f"{index_dir}/line_freqs"
        total = batch_freqs
        # only a MISSING index softens the merge into batch-only counting
        if path_exists(spark, freqs_path):
            prior = (
                spark.read.parquet(freqs_path)
                # exclude THIS batch's own partition so a replay reads
                # exactly the pre-replay state (idempotency)
                .filter(F.col("batch_id") != int(batch_id))
                .select("line_hash", "n_docs")
            )
            total = prior.unionByName(batch_freqs)
        common = (
            total.groupBy("line_hash")
            .agg(F.sum("n_docs").alias("n_docs"))
            .filter(F.col("n_docs") >= int(min_docs))
            .select("line_hash")
        )
        cleaned = strip_lines_by_hash(
            batch_df, common, id_col, text_col, sep=sep
        )
        bid = F.lit(int(batch_id))
        for out, df in ((cleaned_dir, cleaned), (freqs_path, batch_freqs)):
            overwrite_partitions(df.withColumn("batch_id", bid), out, "batch_id")
    finally:
        batch_df.unpersist()


def stream_line_dedup_ingest(
    stream_docs: DataFrame, index_dir: str, cleaned_dir: str,
    checkpoint_dir: str, **kwargs,
):
    """Wire ``ingest_lines_batch`` into a Structured Streaming query;
    ``kwargs`` are its options. Returns the unstarted DataStreamWriter."""
    return _foreach_batch(
        stream_docs, checkpoint_dir, ingest_lines_batch, index_dir,
        cleaned_dir, **kwargs,
    )


def compact_index(
    spark,
    index_dir: str,
    target_partitions: int | None = None,
    tables: tuple[str, ...] = ("bands", "shingles"),
) -> dict:
    """Offline maintenance for the append-only LSH index: each micro-batch
    appends a ``batch_id=<n>`` partition with its own small files, so after
    many batches the candidate-lookup join pays a file-listing and
    small-file tax on every batch. This rewrites both tables into a flat
    compacted layout (one partitionless parquet dataset, sized to
    ``target_partitions`` files; default = the session's shuffle
    parallelism) and swaps it in.

    All history merges into a single ``batch_id=-1`` partition — the
    partition LAYOUT is preserved (mixing flat files with partition dirs
    would break discovery for the stream's later dynamic-partition
    writes), and -1 can never collide with a replayed micro-batch id.

    MUST run while the ingest stream is stopped AND after a clean
    shutdown — without Iceberg there is no snapshot isolation: the swap
    (write new -> rename old away -> rename new in) needs no concurrent
    reader/writer, and compacting the partial writes of a batch whose
    offset never committed would make its eventual replay double those
    rows (normally the replay's partition overwrite makes it idempotent).
    The old data is kept at ``<index_dir>/<table>__pre_compact`` until
    the swap completes, so a crash mid-swap leaves old or new intact
    under a recoverable name. Idempotent re-runs are safe. Dedup behavior
    is unchanged (tested): flag_against_index never reads batch_id.

    ``tables`` picks which index tables to compact — the default is the
    doc-level LSH pair ("bands", "shingles"); pass ("line_freqs",) for
    the line-frequency index.

    Returns {"<table>_files": n} per compacted table.
    """
    n_out = target_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    stats = {}
    for sub in tables:
        cur = f"{index_dir}/{sub}"
        tmp = f"{index_dir}/{sub}__compacting"
        bak = f"{index_dir}/{sub}__pre_compact"
        (fs, p_cur), (_, p_tmp), (_, p_bak) = (
            hadoop_path(spark, p) for p in (cur, tmp, bak)
        )
        if not fs.exists(p_cur) and fs.exists(p_bak):
            # a prior run crashed inside the swap window (cur renamed to
            # bak, replacement not yet renamed in): complete the documented
            # recovery by restoring the intact pre-compact copy, then
            # re-compact normally — this is what makes re-runs idempotent
            if not fs.rename(p_bak, p_cur):
                raise IOError(
                    f"compact_index: could not restore {bak} to {cur}"
                )
        if not fs.exists(p_cur):
            raise FileNotFoundError(f"compact_index: missing {cur}")
        for stale in (p_tmp, p_bak):  # recover from a previous crash
            if fs.exists(stale):
                fs.delete(stale, True)
        df = (
            spark.read.parquet(cur)
            .drop("batch_id")
            .withColumn("batch_id", F.lit(-1))
        )
        df.repartition(n_out).write.mode("overwrite").partitionBy(
            "batch_id"
        ).parquet(tmp)
        if not fs.rename(p_cur, p_bak):
            raise IOError(f"compact_index: could not move {cur} aside")
        if not fs.rename(p_tmp, p_cur):
            # restore the original on failure
            fs.rename(p_bak, p_cur)
            raise IOError(f"compact_index: could not swap in {tmp}")
        fs.delete(p_bak, True)
        stats[f"{sub}_files"] = len(spark.read.parquet(cur).inputFiles())
    return stats
