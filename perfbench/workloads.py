"""The benchmark's workloads: what one repetition calls in the program,
how its output is checked, and which per-layer figures a traced
repetition yields.

Every workload is a closed loop with one client: the next repetition
starts when the previous one has committed its output. ``curate_ingest``
runs two phases per repetition, each timed on its own: a bulk curation of
a token corpus (``CurateTokens``), then one micro-batch of the streaming
ingest (``IngestStream``).
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
import spans

CONTEXT_LEN = 2048


class AsofSkew:
    """Headline featurize dataflow: heavy-hitter detection, skew-adaptive
    as-of join of a sparse purchase side, fused W=16 window build over two
    event features plus the as-of value with the default encoder, committed
    to parquet (read back for the check)."""

    name = "asof_skew"
    # the end-to-end metrics this workload is meant to move; compare.py
    # gives verdicts for these (plus setup_s and peak_rss_mb) only
    headline = ("seq_per_s",)
    # nothing to build before the timed job
    setup_step = None
    h_dim = 4

    def __init__(self, seed: int, work: str):
        from feature_extractor_spark.encoder import encoder_forward, init_weights

        self.data = gen.asof_skew(seed)
        self.planted = self.data["planted"]
        self.paths = {t: os.path.join(work, "input", t) for t in self.data["tables"]}
        self.weights = init_weights(
            window_size=gen.ASOF_WINDOW, n_features=len(gen.ASOF_FEATURES),
            rnn_hidden_dim=self.h_dim, conditioning_dim=10, latent_dim=16,
        )
        self.forward = encoder_forward
        self.reference = None

    def exhausted(self) -> bool:
        return False

    @staticmethod
    def rates(result: dict, wall: float) -> dict:
        return {"seq_per_s": result["seq_out"] / wall, "rows_per_s": result["rows_in"] / wall,
                "batch_p50_s": wall}

    def write_inputs(self) -> int:
        return sum(
            gen.write_parquet(df, self.paths[t]) for t, df in self.data["tables"].items()
        )

    def rep(self, spark, tracer: spans.Tracer, out_dir: str) -> dict:
        from feature_extractor_spark.operators.asof import asof_join
        from feature_extractor_spark.operators.fused import windowed_encode
        from feature_extractor_spark.operators.skew import detect_heavy_hitters

        with tracer.layer("sources"):
            ev = tracer.force(spark.read.parquet(self.paths["events"]))
            pu = tracer.force(spark.read.parquet(self.paths["purchases"]))
        with tracer.layer("skew"):
            heavy = detect_heavy_hitters(ev, "doc_id", threshold_share=0.02)
        with tracer.layer("asof"):
            joined = tracer.force(
                asof_join(
                    ev, pu, on="ts", by="doc_id", strategy="auto", heavy_keys=heavy,
                ).na.fill({"purchase_value": 0.0})
            )
        with tracer.layer("fused"):
            z = tracer.force(
                windowed_encode(
                    joined, "doc_id", "ts", list(gen.ASOF_FEATURES), None,
                    gen.ASOF_WINDOW, self.weights, h_dim=self.h_dim, heavy_keys=heavy,
                )
            )
        with tracer.layer("sink"):
            z.write.mode("overwrite").parquet(out_dir)
        return {
            "rows_in": self.planted["n_events"],
            "seq_out": self.planted["n_sequences"],
            "heavy_keys": sorted(heavy),
        }

    def check(self, out_dir: str, result: dict) -> list[str]:
        errors = []
        if result["heavy_keys"] != self.planted["heavy_keys"]:
            errors.append(
                f"heavy keys {result['heavy_keys']} != planted {self.planted['heavy_keys']}"
            )
        if self.reference is None:
            t = self.data["tables"]
            self.reference = checks.featurize_reference(
                t["events"], t["purchases"], gen.ASOF_WINDOW, self.forward, self.weights,
                self.h_dim,
            )
        out = checks.read_output(out_dir)
        return errors + checks.check_featurize(out, self.reference, self.planted["n_sequences"])

    def patch_targets(self) -> list:
        return []

    def kernel_windows_per_s(self, n: int = 16384, sub_batch: int = 128) -> float:
        """The encoder kernel alone, in this process on one core, at this
        workload's shape and the fused stage's sub-batch size."""
        rng = np.random.default_rng(0)
        x = rng.standard_normal((n, gen.ASOF_WINDOW, len(gen.ASOF_FEATURES))).astype(np.float32)
        h = np.zeros((n, self.h_dim), np.float32)
        c = rng.standard_normal((n, 10)).astype(np.float32)
        self.forward(x[:sub_batch], h[:sub_batch], c[:sub_batch], self.weights)
        t0 = time.perf_counter()
        for s in range(0, n, sub_batch):
            self.forward(x[s:s + sub_batch], h[s:s + sub_batch], c[s:s + sub_batch], self.weights)
        return n / (time.perf_counter() - t0)

    def layer_metrics(self, tracer, log, rep_id, result, out_dir, base_id) -> dict:
        src = spans.job_stats(log, rep_id, "sources")
        asof = spans.job_stats(log, rep_id, "asof")
        fused = spans.job_stats(log, rep_id, "fused")
        kernel_wps = self.kernel_windows_per_s()
        kernel_s = result["seq_out"] / kernel_wps
        return {
            "sources.scan_s": tracer.span_seconds(rep_id, "sources"),
            "sources.input_mb": src["input_mb"],
            "skew.detect_s": tracer.span_seconds(rep_id, "skew"),
            "skew.heavy_keys": len(result["heavy_keys"]),
            "asof.join_s": tracer.span_seconds(rep_id, "asof"),
            "asof.shuffle_mb": asof["shuffle_mb"],
            "asof.task_skew": asof["task_skew"],
            "fused.stage_s": tracer.span_seconds(rep_id, "fused"),
            "fused.tasks": fused["tasks"],
            "fused.task_skew": fused["task_skew"],
            "fused.shuffle_mb": fused["shuffle_mb"],
            "fused.replicated_row_ratio": fused["shuffle_records"] / result["rows_in"],
            "fused.glue_s": fused["run_s"] - kernel_s,
            "encoder.kernel_windows_per_s": kernel_wps,
            "encoder.kernel_share": kernel_s / max(fused["run_s"], 1e-9),
        }


class CurateTokens:
    """Phase 1 of ``curate_ingest``: pre-tokenized corpus curation, exact +
    near-duplicate removal (LSH pairs and connected components), token
    filters, chunking, EOS and packing, committed partitioned by source
    with lineage."""

    def __init__(self, seed: int, work: str):
        self.data = gen.curate_tokens(seed)
        self.planted = self.data["planted"]
        self.paths = {"tokens": os.path.join(work, "input", "tokens")}
        self.work = work
        self.n_reps = 0

    def write_inputs(self) -> int:
        return gen.write_parquet(self.data["tables"]["tokens"], self.paths["tokens"])

    def rep(self, spark, tracer: spans.Tracer, out_dir: str) -> dict:
        from feature_extractor_spark.plans.lineage import run_stage_with_resume
        from feature_extractor_spark.plans.tokens_pipeline import curate_tokens

        self.n_reps += 1
        # a fresh checkpoint per repetition: with the previous manifest the
        # resume logic would skip every unit
        ckpt = os.path.join(self.work, "checkpoint", str(self.n_reps))
        with tracer.layer("sources"):
            tok = tracer.force(spark.read.parquet(self.paths["tokens"]))
        with tracer.layer("tokens_pipeline"):
            # stage_counts stays off: its observe() nodes cost about 6 jobs
            # and 30 % of a repetition here, too much for the run length;
            # traced runs count the funnel exactly at the layer calls instead
            curated = curate_tokens(
                tok, context_len=CONTEXT_LEN, min_tok=gen.CURATE_MIN_TOK,
                near_dup_threshold=0.9, chunk_max_len=gen.CURATE_CHUNK_LEN,
                chunk_overlap=gen.CURATE_CHUNK_OVERLAP, eos_id=gen.CURATE_EOS,
            )
            # as plans.tokens_pipeline.run_curation does: one materialized
            # result feeds every per-unit branch of the commit
            curated = tracer.force(curated.persist())
        try:
            with tracer.layer("lineage"):
                res = run_stage_with_resume(
                    spark, "tokens_curation", curated, "source", lambda df: df,
                    out_dir, ckpt, units=list(gen.SOURCES),
                )
        finally:
            curated.unpersist()
        result = {
            "rows_in": self.planted["funnel"]["input"],
            "seq_out": self.planted["funnel"]["output"],
            "units": res["processed"],
        }
        if tracer.enabled:
            # exact funnel, counted where each layer's output is forced
            cc = tracer.span("dedup.cc")["counts"]
            chunk = tracer.span("packing.chunk")
            result["counts"] = {
                "input": tracer.span("sources")["rows"][0],
                "near_dup_dedup": cc["kept"],
                "token_filters": chunk["counts"]["in"],
                "chunking": chunk["rows"][0],
                "output": tracer.span("packing.pack")["rows"][0],
                "pairs": tracer.span("dedup.lsh_pairs")["rows"][0],
                "cc_rounds": cc["rounds"],
            }
        return result

    def check(self, out_dir: str, result: dict) -> list[str]:
        errors = []
        if sorted(result["units"]) != sorted(gen.SOURCES):
            errors.append(f"committed units {result['units']} != {list(gen.SOURCES)}")
        counts = result.get("counts", {})
        for stage, n in self.planted["funnel"].items():
            if stage in counts and counts[stage] != n:
                errors.append(f"funnel {stage}: {counts[stage]} rows, planted {n}")
        out = checks.read_output(out_dir)
        return errors + checks.check_curate(
            out, self.data["tables"]["tokens"], self.planted, CONTEXT_LEN
        )

    def patch_targets(self) -> list[tuple]:
        """Program functions curate_tokens calls internally that get their
        own span (and counts) in a traced repetition."""
        from pyspark.sql import functions as F

        from feature_extractor_spark.operators import dedup, packing
        from feature_extractor_spark.plans import tokens_pipeline

        def cc_counts(args, kwargs, out):
            kept = out.filter(F.col(args[2]) == F.col("canonical_id")).count()
            return {"kept": kept, "rounds": kwargs["stats"].get("rounds", 0)}

        return [
            (dedup, "minhash_lsh_pairs_tokens", "dedup.lsh_pairs", None),
            (dedup, "near_dup_clusters", "dedup.cc", cc_counts),
            (packing, "chunk_tokens", "packing.chunk", lambda a, k, out: {"in": a[0].count()}),
            (tokens_pipeline, "pack_sequences", "packing.pack", None),
        ]

    def layer_metrics(self, tracer, log, rep_id, result, out_dir, base_id) -> dict:
        src = spans.job_stats(log, rep_id, "sources")
        counts = result["counts"]
        out = checks.read_output(out_dir)
        n_bins = int(out["bin_id"].max()) + 1
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(out_dir)
            for f in fs if f.endswith(".parquet")
        ]
        metrics = {
            "sources.scan_s": tracer.span_seconds(rep_id, "sources"),
            "sources.input_mb": src["input_mb"],
            "dedup.lsh_pairs_s": tracer.span_seconds(rep_id, "dedup.lsh_pairs"),
            "dedup.pairs": counts["pairs"],
            "dedup.cc_s": tracer.span_seconds(rep_id, "dedup.cc"),
            "dedup.cc_rounds": counts["cc_rounds"],
            "packing.pack_s": tracer.span_seconds(rep_id, "packing.pack"),
            "packing.fill_ratio": float(out["n_tok"].sum()) / (n_bins * CONTEXT_LEN),
            "packing.offset_errors": checks.packing_offset_errors(out),
            "tokens_pipeline.self_s": tracer.self_times(rep_id)["tokens_pipeline"],
            "tokens_pipeline.survivor_ratio": counts["output"] / counts["input"],
            "lineage.commit_s": tracer.span_seconds(rep_id, "lineage"),
            "lineage.files": len(files),
            "lineage.write_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        }
        for stage in ("input", "near_dup_dedup", "token_filters", "chunking", "output"):
            metrics[f"tokens_pipeline.funnel.{stage}"] = counts[stage]
        return metrics


class IngestStream:
    """Phase 2 of ``curate_ingest``, latency-shaped: one seeded micro-batch
    per repetition through ``streaming.incremental_dedup.ingest_batch``
    (``stats_dir`` on) against a persisted LSH index that grows by every
    accepted batch. Batch 0 (in set-up) builds the index; every later
    batch takes the index path."""

    def __init__(self, seed: int, work: str):
        self.data = gen.ingest_stream(seed)
        self.planted = self.data["planted"]["batches"]
        self.paths = {t: os.path.join(work, "input", t) for t in self.data["tables"]}
        self.index_dir = os.path.join(work, "index")
        self.accepted_dir = os.path.join(work, "accepted")
        self.stats_dir = os.path.join(work, "stats")
        self.next_batch = 0

    def write_inputs(self) -> int:
        # one file per micro-batch, as it lands
        return sum(
            gen.write_parquet(df, self.paths[t], n_files=1)
            for t, df in self.data["tables"].items()
        )

    def exhausted(self) -> bool:
        return self.next_batch >= len(self.planted)

    def rep(self, spark, tracer: spans.Tracer, out_dir: str) -> dict:
        from feature_extractor_spark.streaming.incremental_dedup import ingest_batch

        k = self.next_batch
        self.next_batch += 1
        with tracer.phase("ingest"):
            with tracer.layer("sources"):
                batch = tracer.force(spark.read.parquet(self.paths[f"batch{k:02d}"]))
            with tracer.layer("incremental_dedup"):
                ingest_batch(batch, k, self.index_dir, self.accepted_dir,
                             stats_dir=self.stats_dir)
        funnel = self.planted[k]["funnel"]
        return {"batch": k, "rows_in": funnel["n_input"], "seq_out": funnel["n_accepted"]}

    def _stats(self, k: int) -> dict:
        return checks.read_output(f"{self.stats_dir}/batch_id={k}").iloc[0].to_dict()

    def check(self, out_dir: str, result: dict) -> list[str]:
        k = result["batch"]
        accepted = checks.read_output(f"{self.accepted_dir}/batch_id={k}")["doc_id"].tolist()
        return checks.check_ingest(accepted, self._stats(k), self.planted[k])

    def patch_targets(self) -> list[tuple]:
        """The dedup steps ingest_batch calls internally, each with its own
        span in a traced repetition."""
        from feature_extractor_spark.streaming import incremental_dedup as inc

        return [
            (inc, "minhash_lsh_pairs", "incremental_dedup.pairs", None),
            (inc, "near_dup_clusters", "incremental_dedup.clusters", None),
            (inc, "flag_against_index", "incremental_dedup.lookup", None),
        ]

    def layer_metrics(self, tracer, log, rep_id, result, out_dir, base_id) -> dict:
        src = spans.job_stats(log, rep_id, "sources")
        stats = self._stats(result["batch"])
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self.index_dir)
            for f in fs if f.endswith(".parquet")
        ]
        return {
            "sources.scan_s": tracer.span_seconds(rep_id, "sources"),
            "sources.input_mb": src["input_mb"],
            "incremental_dedup.within_batch_s":
                tracer.span_seconds(rep_id, "incremental_dedup.pairs")
                + tracer.span_seconds(rep_id, "incremental_dedup.clusters"),
            "incremental_dedup.lookup_s": tracer.span_seconds(rep_id, "incremental_dedup.lookup"),
            # Spark jobs of one untraced batch: tracing adds its own
            "incremental_dedup.jobs_per_batch":
                spans.job_stats(log, base_id, phase="ingest")["jobs"],
            "incremental_dedup.index_files": len(files),
            "incremental_dedup.index_mb": sum(os.path.getsize(f) for f in files) / 2**20,
            "incremental_dedup.index_dup_ratio":
                stats["n_index_dup"] / (stats["n_input"] - stats["n_within_dup"]),
        }


class CurateIngest:
    """The token-side workload: per repetition, the bulk curation of the
    token corpus (``CurateTokens``), then one ingest micro-batch
    (``IngestStream``). The phases are timed on their own: ``rows_per_s``
    and ``seq_per_s`` are curation figures, ``batch_p50_s`` is the ingest
    batch's latency."""

    name = "curate_ingest"
    headline = ("rows_per_s", "batch_p50_s")

    def __init__(self, seed: int, work: str):
        self.curate = CurateTokens(seed, work)
        self.ingest = IngestStream(seed, work)
        self.data = {"tables": {**self.curate.data["tables"], **self.ingest.data["tables"]}}
        # set-up ingests batch 0, which builds the index: every timed batch
        # takes the index path, as in a long-running stream
        self.setup_step = self.ingest

    def write_inputs(self) -> int:
        return self.curate.write_inputs() + self.ingest.write_inputs()

    def exhausted(self) -> bool:
        """True when every generated micro-batch has been ingested."""
        return self.ingest.exhausted()

    @staticmethod
    def rates(result: dict, wall: float) -> dict:
        c, i = result["curate"], result["ingest"]
        return {"seq_per_s": c["seq_out"] / c["wall_s"], "rows_per_s": c["rows_in"] / c["wall_s"],
                "batch_p50_s": i["wall_s"]}

    def rep(self, spark, tracer: spans.Tracer, out_dir: str) -> dict:
        out = {}
        for phase, wl in (("curate", self.curate), ("ingest", self.ingest)):
            t = time.perf_counter()
            out[phase] = wl.rep(spark, tracer, out_dir)
            out[phase]["wall_s"] = time.perf_counter() - t
        return out

    def check(self, out_dir: str, result: dict) -> list[str]:
        return (self.curate.check(out_dir, result["curate"])
                + self.ingest.check(out_dir, result["ingest"]))

    def patch_targets(self) -> list[tuple]:
        return self.curate.patch_targets() + self.ingest.patch_targets()

    def layer_metrics(self, tracer, log, rep_id, result, out_dir, base_id) -> dict:
        # the sources figures of either phase cover the repetition, both scans
        return {
            **self.curate.layer_metrics(tracer, log, rep_id, result["curate"], out_dir, base_id),
            **self.ingest.layer_metrics(tracer, log, rep_id, result["ingest"], out_dir, base_id),
        }


WORKLOADS = {w.name: w for w in (AsofSkew, CurateIngest)}
