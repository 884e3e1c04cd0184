"""Incremental dedup ingest: new batches dedup against the accepted
corpus index without recomputing it; replayed batches are idempotent."""

import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.streaming.incremental_dedup import (
    _hash_batch,
    flag_against_index,
    ingest_batch,
    stream_dedup_ingest,
)

A = "the quick brown fox jumps over the lazy dog again and again today"
A_NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
B = "completely different content about spark partitioning and shuffles"
C = "a third unrelated document discussing parquet row group layouts"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _flag(new, idx_bands, idx_shingles, threshold=0.5):
    """flag_against_index over every doc of ``new``, from its own hashing
    pass (as ingest_batch calls it)."""
    return flag_against_index(
        new, *_hash_batch(new), idx_bands, idx_shingles, threshold=threshold
    )


def test_ingest_within_and_across_batches(spark, tmp_path):
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")

    # batch 0: A, a near-dup of A, and B -> within-batch dedup keeps 2
    ingest_batch(
        _df(spark, [("a1", A), ("a2", A_NEAR), ("b1", B)]), 0, idx, acc,
        threshold=0.5,
    )
    got0 = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got0 == {"a1", "b1"}

    # batch 1: another near-dup of A (cross-batch, via the index) + new C
    ingest_batch(
        _df(spark, [("a3", A_NEAR), ("c1", C)]), 1, idx, acc, threshold=0.5
    )
    got1 = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got1 == {"a1", "b1", "c1"}

    # replaying batch 1 (at-least-once foreachBatch) must not duplicate
    ingest_batch(
        _df(spark, [("a3", A_NEAR), ("c1", C)]), 1, idx, acc, threshold=0.5
    )
    rows = spark.read.parquet(acc).collect()
    assert {r["doc_id"] for r in rows} == {"a1", "b1", "c1"}
    assert len(rows) == 3


def test_flag_against_index_reports_best_match(spark, tmp_path):
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    ingest_batch(_df(spark, [("a1", A), ("b1", B)]), 0, idx, acc, threshold=0.5)

    flags = {
        r["doc_id"]: r
        for r in _flag(
            _df(spark, [("x1", A_NEAR), ("x2", C)]),
            spark.read.parquet(f"{idx}/bands"),
            spark.read.parquet(f"{idx}/shingles"),
        ).collect()
    }
    assert flags["x1"]["is_dup"] and flags["x1"]["dup_of"] == "a1"
    assert 0.5 <= flags["x1"]["jaccard"] <= 1.0
    assert not flags["x2"]["is_dup"] and flags["x2"]["dup_of"] is None


def test_index_rows_are_exactly_those_of_the_accepted_docs(spark, tmp_path):
    """The bands/ and shingles/ rows a batch appends are derived from its
    one hashing pass: they must equal signature_bands / _hashed_shingle_table
    run on its accepted output alone — no row of a within-batch duplicate,
    an index duplicate or a benchmark leak, none for a doc under 3 words,
    and the same bucket values the index builder computes."""
    from feature_extractor_spark.operators.dedup import (
        _hashed_shingle_table,
        signature_bands,
    )

    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    ingest_batch(_df(spark, [("a1", A), ("b1", B)]), 0, idx, acc, threshold=0.5)
    leak = "which river flows through the capital city of the country named in the passage"
    batch = _df(spark, [
        ("c1", C), ("c2", C),  # within-batch duplicate
        ("x1", A_NEAR),  # index duplicate of a1
        ("l1", "background reading: " + leak),  # benchmark leak
        ("s1", "two words"),  # no 3-gram
        ("d1", "yet another fresh document about columnar storage engines"),
    ])
    ingest_batch(batch, 1, idx, acc, threshold=0.5,
                 benchmark=_df(spark, [("q1", leak)]))

    accepted = spark.read.parquet(f"{acc}/batch_id=1").select("doc_id", "text")
    assert {r["doc_id"] for r in accepted.collect()} == {"c1", "s1", "d1"}
    wh, grams = _hashed_shingle_table(accepted, "doc_id", "text", 3)
    want_bands = sorted(
        tuple(r) for r in signature_bands(grams, "doc_id", 32, 8).collect()
    )
    want_shingles = sorted(
        (r["doc_id"], tuple(r["__h"])) for r in grams.select("doc_id", "__h").collect()
    )
    wh.unpersist()
    got_bands = sorted(
        tuple(r) for r in spark.read.parquet(f"{idx}/bands/batch_id=1")
        .select("doc_id", "band", "bucket").collect()
    )
    got_shingles = sorted(
        (r["doc_id"], tuple(r["__h"]))
        for r in spark.read.parquet(f"{idx}/shingles/batch_id=1").collect()
    )
    assert {r[0] for r in got_bands} == {"c1", "d1"}
    assert got_bands == want_bands
    assert got_shingles == want_shingles


def test_corrupt_index_raises_instead_of_admitting_dups(spark, tmp_path):
    """Only a MISSING index may skip the cross-batch check. A present but
    unreadable index must RAISE (so the stream retries the batch), never
    silently accept the whole batch with dedup disabled."""
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    ingest_batch(_df(spark, [("a1", A), ("b1", B)]), 0, idx, acc, threshold=0.5)

    # corrupt both index tables: parquet footers gone
    import pathlib

    for sub in ("bands", "shingles"):
        for f in pathlib.Path(idx, sub).rglob("*.parquet"):
            f.write_bytes(b"not a parquet file")

    with pytest.raises(Exception) as exc:
        ingest_batch(
            _df(spark, [("a9", A_NEAR), ("c1", C)]), 1, idx, acc, threshold=0.5
        )
    # and nothing from the failed batch was committed as accepted
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {"a1", "b1"}
    assert "parquet" in str(exc.value).lower() or "footer" in str(exc.value).lower()


def test_dup_of_keeps_id_native_type_and_numeric_tie_order(spark, tmp_path):
    """dup_of must carry the id column's native type and break jaccard
    ties on the NUMERIC min (9 < 10), not the lexicographic one
    ('10' < '9')."""
    from feature_extractor_spark.operators.dedup import (
        _hashed_shingle_table,
        signature_bands,
    )

    docs = spark.createDataFrame(
        [(9, A), (10, A)], "doc_id long, text string"
    )
    wh, d = _hashed_shingle_table(docs, "doc_id", "text", 3)
    idx_bands = signature_bands(d, "doc_id", 32, 8).localCheckpoint(eager=True)
    idx_shingles = d.select("doc_id", "__h").localCheckpoint(eager=True)
    wh.unpersist()

    new = spark.createDataFrame([(99, A)], "doc_id long, text string")
    out = _flag(new, idx_bands, idx_shingles)
    row = out.collect()[0]
    assert out.schema["dup_of"].dataType.simpleString() == "bigint"
    assert row["is_dup"] and row["dup_of"] == 9


def test_stream_dedup_ingest_end_to_end(spark, tmp_path):
    """Real Structured Streaming run over a file source: two availableNow
    passes with files added in between — the checkpoint resumes, and the
    second pass dedups against the first pass's index."""
    src = str(tmp_path / "src")
    idx, acc, ck = (str(tmp_path / d) for d in ("idx", "acc", "ck"))

    _df(spark, [("a1", A), ("b1", B)]).coalesce(1).write.mode("append").parquet(src)
    schema = "doc_id string, text string"

    def run_once():
        q = (
            stream_dedup_ingest(
                spark.readStream.schema(schema).parquet(src),
                idx, acc, ck, threshold=0.5,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {"a1", "b1"}

    # new files: a cross-run near-dup and a genuinely new doc
    _df(spark, [("a9", A_NEAR), ("c1", C)]).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "b1", "c1"
    }


def test_compact_index_preserves_dedup_and_reduces_files(spark, tmp_path):
    """After compaction: same cross-batch dedup decisions, fewer files,
    and subsequent ingest batches still write/replay correctly into the
    partitioned layout."""
    from feature_extractor_spark.streaming.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    docs = [("a1", A), ("b1", B)]
    for i, row in enumerate(docs):
        ingest_batch(_df(spark, [row]), i, idx, acc, threshold=0.5)

    import pathlib

    def nfiles(sub):
        return len(list(pathlib.Path(idx, sub).rglob("*.parquet")))

    before = nfiles("bands")
    pre = {
        r["doc_id"]: r["is_dup"]
        for r in _flag(
            _df(spark, [("x1", A_NEAR), ("x2", C)]),
            spark.read.parquet(f"{idx}/bands"),
            spark.read.parquet(f"{idx}/shingles"),
        ).collect()
    }

    stats = compact_index(spark, idx, target_partitions=1)
    assert stats["bands_files"] == 1 and stats["shingles_files"] == 1
    assert nfiles("bands") < before

    post = {
        r["doc_id"]: r["is_dup"]
        for r in _flag(
            _df(spark, [("x1", A_NEAR), ("x2", C)]),
            spark.read.parquet(f"{idx}/bands"),
            spark.read.parquet(f"{idx}/shingles"),
        ).collect()
    }
    assert post == pre == {"x1": True, "x2": False}

    # the stream keeps working against the compacted index: new batch
    # dedups cross-batch and replaying it stays idempotent
    ingest_batch(_df(spark, [("a9", A_NEAR), ("c1", C)]), 7, idx, acc, threshold=0.5)
    got = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got == {"a1", "b1", "c1"}
    ingest_batch(_df(spark, [("a9", A_NEAR), ("c1", C)]), 7, idx, acc, threshold=0.5)
    rows = spark.read.parquet(acc).collect()
    assert len(rows) == 3

    # idempotent re-compaction
    stats2 = compact_index(spark, idx, target_partitions=1)
    assert stats2["bands_files"] == 1


def test_compact_index_crash_recovery_restores_pre_compact(spark, tmp_path):
    """ADVICE r5: a crash in the swap window (cur renamed to __pre_compact,
    replacement not yet renamed in) must be recoverable by simply re-running
    compact_index — it restores the intact backup and re-compacts, and the
    index answers identically afterwards."""
    import os
    import pathlib

    from feature_extractor_spark.streaming.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    for i, row in enumerate([("a1", A), ("b1", B)]):
        ingest_batch(_df(spark, [row]), i, idx, acc, threshold=0.5)

    def decisions():
        return {
            r["doc_id"]: r["is_dup"]
            for r in _flag(
                _df(spark, [("x1", A_NEAR), ("x2", C)]),
                spark.read.parquet(f"{idx}/bands"),
                spark.read.parquet(f"{idx}/shingles"),
            ).collect()
        }

    pre = decisions()
    assert pre == {"x1": True, "x2": False}

    # simulate the exact crash window: cur moved aside, nothing swapped in
    os.rename(f"{idx}/bands", f"{idx}/bands__pre_compact")

    stats = compact_index(spark, idx, target_partitions=1)
    assert stats["bands_files"] == 1 and stats["shingles_files"] == 1
    assert pathlib.Path(idx, "bands").exists()
    assert not pathlib.Path(idx, "bands__pre_compact").exists()
    assert decisions() == pre


def test_line_dedup_ingest_cross_batch_banner_and_replay(spark, tmp_path):
    """VERDICT r6 item 6: a banner line that is RARE within every single
    batch but corpus-frequent ACROSS batches must be stripped from later
    batches (the batch-local rule could never fire); replaying a batch
    (foreachBatch at-least-once) must yield byte-identical output and an
    unchanged index."""
    from feature_extractor_spark.streaming.incremental_dedup import (
        ingest_lines_batch,
    )

    idx = str(tmp_path / "lidx")
    out = str(tmp_path / "clean")
    banner = "subscribe to our newsletter"

    def doc(i, with_banner):
        body = f"unique body {i} words w{i}a w{i}b"
        return (f"d{i}", f"{banner}\n{body}" if with_banner else body)

    # batches 0 and 1 each carry the banner in ONE doc — below min_docs=3
    # within any batch and within the index alone
    ingest_lines_batch(
        _df(spark, [doc(0, True), doc(1, False)]), 0, idx, out, min_docs=3
    )
    ingest_lines_batch(
        _df(spark, [doc(2, True), doc(3, False)]), 1, idx, out, min_docs=3
    )
    got01 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert banner in got01["d0"]["text"]  # not yet corpus-frequent
    assert banner in got01["d2"]["text"]
    assert got01["d1"]["n_removed_lines"] == 0

    # batch 2: the banner's cross-batch doc-frequency reaches 3 -> strip
    ingest_lines_batch(
        _df(spark, [doc(4, True), doc(5, False)]), 2, idx, out, min_docs=3
    )
    got2 = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{out}/batch_id=2").collect()
    }
    assert banner not in got2["d4"]["text"]
    assert got2["d4"]["n_removed_lines"] == 1
    assert got2["d4"]["text"] == f"unique body 4 words w4a w4b"
    assert got2["d5"]["text"] == f"unique body 5 words w5a w5b"  # untouched

    # replay batch 2 (at-least-once): identical output, unchanged index
    before_rows = sorted(
        (r["line_hash"], r["n_docs"], r["batch_id"])
        for r in spark.read.parquet(f"{idx}/line_freqs").collect()
    )
    ingest_lines_batch(
        _df(spark, [doc(4, True), doc(5, False)]), 2, idx, out, min_docs=3
    )
    got2_replay = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{out}/batch_id=2").collect()
    }
    assert {k: (v["text"], v["n_removed_lines"]) for k, v in got2.items()} == {
        k: (v["text"], v["n_removed_lines"]) for k, v in got2_replay.items()
    }
    after_rows = sorted(
        (r["line_hash"], r["n_docs"], r["batch_id"])
        for r in spark.read.parquet(f"{idx}/line_freqs").collect()
    )
    assert before_rows == after_rows


def test_stream_line_dedup_ingest_end_to_end_and_compaction(spark, tmp_path):
    """Structured Streaming wiring for the line-frequency ingest, plus
    compact_index(tables=("line_freqs",)) preserving behavior."""
    from feature_extractor_spark.streaming.incremental_dedup import (
        compact_index,
        ingest_lines_batch,
        stream_line_dedup_ingest,
    )

    src = str(tmp_path / "src")
    idx, out, ck = (str(tmp_path / d) for d in ("lidx", "clean", "ck"))
    banner = "cookie consent required"
    _df(
        spark,
        [("a", f"{banner}\nbody a"), ("b", f"{banner}\nbody b")],
    ).coalesce(1).write.mode("append").parquet(src)
    schema = "doc_id string, text string"

    def run_once():
        q = (
            stream_line_dedup_ingest(
                spark.readStream.schema(schema).parquet(src),
                idx, out, ck, min_docs=3,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    # compaction of the line index must not change later-batch behavior
    compact_index(spark, idx, tables=("line_freqs",))
    _df(spark, [("c", f"{banner}\nbody c")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert banner in got["a"] and banner in got["b"]  # df was 2 < 3 then
    assert got["c"] == "body c"  # third sighting crossed the threshold


def test_strip_lines_by_hash_direct(spark):
    """The factored removal half: strips exactly the given hash set,
    blank lines never removed, untouched docs byte-identical."""
    from pyspark.sql import functions as F

    from feature_extractor_spark.operators import strip_lines_by_hash

    docs = _df(
        spark,
        [("x", "keep me\nbad line\n\nalso keep"), ("y", "only good text")],
    )
    common = spark.createDataFrame(
        [("bad line",)], "line string"
    ).select(F.xxhash64(F.trim("line")).alias("line_hash"))
    got = {
        r["doc_id"]: r
        for r in strip_lines_by_hash(docs, common).collect()
    }
    assert got["x"]["text"] == "keep me\n\nalso keep"
    assert got["x"]["n_removed_lines"] == 1
    assert got["y"]["text"] == "only good text"
    assert got["y"]["n_removed_lines"] == 0


def test_streaming_decontamination_flags_planted_leak(spark, tmp_path):
    """r8: benchmark decontamination on the foreachBatch ingest path —
    a doc in batch 2 sharing a 13-gram with the (static broadcast) eval
    set is dropped before the accept write AND never enters the index;
    replay stays idempotent."""
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    leak_text = (
        "what is the airspeed velocity of an unladen swallow carrying a "
        "coconut across the channel in winter"
    )
    bench = _df(spark, [("q1", leak_text)])

    # batch 0: clean docs, benchmark active from the start
    ingest_batch(
        _df(spark, [("b1", B), ("c1", C)]), 0, idx, acc,
        threshold=0.5, benchmark=bench,
    )
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {
        "b1", "c1",
    }

    # batch 2: a planted leak (contains the benchmark 13-gram verbatim)
    # plus a clean doc
    leaked = "intro text then " + leak_text + " and a closing remark"
    ingest_batch(
        _df(spark, [("bad1", leaked), ("a1", A)]), 2, idx, acc,
        threshold=0.5, benchmark=bench,
    )
    got = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert got == {"b1", "c1", "a1"}  # bad1 flagged and dropped
    # the leaked doc's rows never entered the index
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert "bad1" not in idx_ids and "a1" in idx_ids

    # replay batch 2: byte-identical outcome (at-least-once contract)
    ingest_batch(
        _df(spark, [("bad1", leaked), ("a1", A)]), 2, idx, acc,
        threshold=0.5, benchmark=bench,
    )
    rows = spark.read.parquet(acc).collect()
    assert {r["doc_id"] for r in rows} == {"b1", "c1", "a1"}
    assert len(rows) == 3

    # docs shorter than n words are trivially clean (no false drops)
    ingest_batch(
        _df(spark, [("tiny", "short doc")]), 3, idx, acc,
        threshold=0.5, benchmark=bench,
    )
    assert "tiny" in {r["doc_id"] for r in spark.read.parquet(acc).collect()}


def test_benchmark_ingest_does_not_leak_cached_frames(spark, tmp_path):
    """r9 (ADVICE): the benchmark branch persists a pre-decontam frame
    that the post-decontam join shadows — every persist taken inside
    ingest_batch must be released before it returns, or a long-running
    stream grows one cached DataFrame per micro-batch."""
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    bench = _df(spark, [("q1", "totally unrelated benchmark text here")])
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for bid in range(3):
        ingest_batch(
            _df(spark, [(f"d{bid}a", A + f" v{bid}"), (f"d{bid}b", B + f" v{bid}")]),
            bid, idx, acc, threshold=0.5, benchmark=bench,
        )
    assert cm.numCachedEntries() == before


def test_ingest_funnel_stats_counts_and_replay(spark, tmp_path):
    """r9: the text ingest's per-batch funnel (input / within-batch dup /
    index dup / decontam / accepted) — counts planted for every stage,
    replay overwrites its own row."""
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    st = str(tmp_path / "stats")
    leak = (
        "what is the airspeed velocity of an unladen swallow crossing "
        "the channel in deep winter fog"
    )
    bench = _df(spark, [("q1", leak)])

    # batch 0 (no index yet): A + near-dup of A (within-batch dup) + B
    ingest_batch(
        _df(spark, [("a1", A), ("a2", A_NEAR), ("b1", B)]), 0, idx, acc,
        threshold=0.5, benchmark=bench, stats_dir=st,
    )
    s0 = spark.read.parquet(st).filter("batch_id = 0").collect()[0]
    assert (
        s0["n_input"], s0["n_within_dup"], s0["n_index_dup"],
        s0["n_decontam"], s0["n_accepted"],
    ) == (3, 1, 0, 0, 2)

    # batch 1: a near-dup of indexed A (index dup) + a planted benchmark
    # leak (decontam) + a clean doc (accepted)
    leaked = "prefix words then " + leak + " and a closing remark"
    ingest_batch(
        _df(spark, [("a3", A_NEAR), ("bad1", leaked), ("c1", C)]),
        1, idx, acc, threshold=0.5, benchmark=bench, stats_dir=st,
    )
    s1 = spark.read.parquet(st).filter("batch_id = 1").collect()[0]
    assert (
        s1["n_input"], s1["n_within_dup"], s1["n_index_dup"],
        s1["n_decontam"], s1["n_accepted"],
    ) == (3, 0, 1, 1, 1)

    # replay batch 1: one identical row, not two
    ingest_batch(
        _df(spark, [("a3", A_NEAR), ("bad1", leaked), ("c1", C)]),
        1, idx, acc, threshold=0.5, benchmark=bench, stats_dir=st,
    )
    rows = spark.read.parquet(st).filter("batch_id = 1").collect()
    assert len(rows) == 1 and rows[0]["n_accepted"] == 1
    assert spark.read.parquet(st).count() == 2


def test_null_doc_id_rejected(spark, tmp_path):
    """r9: a NULL-id doc must RAISE (it would silently drop out of every
    dedup join or ride band-key candidates unverified), same discipline
    as the semantic ingest's NULL-vector-id guard."""
    with pytest.raises(Exception, match="NULL doc_id"):
        ingest_batch(
            _df(spark, [("ok", A), (None, B)]), 0,
            str(tmp_path / "idx"), str(tmp_path / "acc"), threshold=0.5,
        )


def test_ingest_quality_classifier_filters_noise(spark, tmp_path):
    """r9: the streaming ingest applies the pre-trained quality
    classifier after dedup/decontam — noise docs are kept out of the
    accepted corpus AND the index, the funnel counts them, and the
    replay stays idempotent (hash-keyed deterministic keep)."""
    import numpy as np

    from feature_extractor_spark.functions.classifier import (
        train_quality_classifier,
    )

    q_words = ["theorem", "analysis", "method", "precise", "evidence",
               "measured", "study", "derivation"]
    n_words = ["click", "buy", "free", "winner", "casino", "now"]

    def mk(words, n, prefix, seed):
        rng = np.random.RandomState(seed)
        return _df(
            spark,
            [
                (
                    f"{prefix}{i}",
                    " ".join(words[j] for j in rng.randint(0, len(words), 14)),
                )
                for i in range(n)
            ],
        )

    w, b = train_quality_classifier(
        mk(q_words, 50, "p", 1), mk(n_words, 50, "n", 2),
        dim=1 << 14, iters=30, sample_per_class=100, n_parts=8,
    )
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    st = str(tmp_path / "stats")
    batch = mk(q_words, 5, "good", 3).unionByName(mk(n_words, 5, "bad", 4))
    ingest_batch(
        batch, 0, idx, acc, threshold=0.5,
        stats_dir=st, quality_classifier=(w, b), classifier_alpha=2.0,
    )
    got = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert all(d.startswith("good") for d in got) and len(got) >= 4
    # noise never entered the index either
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert not any(d.startswith("bad") for d in idx_ids)
    s0 = spark.read.parquet(st).filter("batch_id = 0").collect()[0]
    assert s0["n_quality"] >= 5 and s0["n_accepted"] == len(got)
    # accepted rows carry their score
    assert "quality_score" in spark.read.parquet(acc).columns
    # replay: byte-identical accepted set and stats
    ingest_batch(
        batch, 0, idx, acc, threshold=0.5,
        stats_dir=st, quality_classifier=(w, b), classifier_alpha=2.0,
    )
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == got
    s0r = spark.read.parquet(st).filter("batch_id = 0").collect()
    assert len(s0r) == 1 and s0r[0]["n_accepted"] == len(got)
