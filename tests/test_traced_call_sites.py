"""perfbench's traced run (``--trace 1``) gives program functions their own
span by replacing them on their module (each workload's
``patch_targets``). These tests run the program with spies on exactly
those attributes, so a refactor that stops calling one through its module
(a name bound at import time, a changed call shape) fails here rather
than in a traced benchmark run."""

import os

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def _spy(monkeypatch, targets) -> dict:
    """Wrap each (module, name, ...) target; returns the recorded
    ``(args, kwargs, out)`` calls per (module name, attribute)."""
    calls: dict = {}
    for module, name, *_ in targets:
        key = (module.__name__, name)
        calls[key] = []

        def spy(*args, _fn=getattr(module, name), _calls=calls[key], **kwargs):
            out = _fn(*args, **kwargs)
            _calls.append((args, kwargs, out))
            return out

        monkeypatch.setattr(module, name, spy)
    return calls


def test_curate_ingest_traced_targets_are_called(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import workloads

    from feature_extractor_spark.plans.tokens_pipeline import curate_tokens
    from feature_extractor_spark.sources.tokens import synth_tokens
    from feature_extractor_spark.streaming import incremental_dedup as inc

    targets = workloads.CurateIngest(1, str(tmp_path / "work")).patch_targets()
    calls = _spy(monkeypatch, targets)

    curate_tokens(
        synth_tokens(spark, n_rows=400, n_docs=20), context_len=256,
        chunk_max_len=32,
    )
    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about spark partitioning and shuffles"
    for k, rows in enumerate([[("a", text)], [("a2", text), ("b", other)]]):
        inc.ingest_batch(
            spark.createDataFrame(rows, "doc_id string, text string"), k,
            str(tmp_path / "idx"), str(tmp_path / "acc"), threshold=0.5,
        )

    # ingest_batch pairs through _verified_pairs; the traced name must
    # still resolve for the patch
    assert callable(inc.minhash_lsh_pairs)
    for module, name, _, counter in targets:
        key = (module.__name__, name)
        if key == (inc.__name__, "minhash_lsh_pairs"):
            continue
        assert calls[key], f"{key} was not called through its module"
        if counter is not None:
            for args, kwargs, out in calls[key]:
                counter(args, kwargs, out)
    # the cc counter reads the id column positionally and the stats kwarg
    args, kwargs, _ = calls[("feature_extractor_spark.operators.dedup",
                             "near_dup_clusters")][0]
    assert args[2] == "seq_id" and "stats" in kwargs
