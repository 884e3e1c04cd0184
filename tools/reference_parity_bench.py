"""Reference-parity benchmark: the reference's OWN workload, this engine.

The only published reference numbers are full-pipeline wall-clocks on the
"phase 3/4" dataset (BASELINE.md): 25,200 hourly rows, window 144, 54
features/step, CVAE `vae_small` latent 32 — 4213.8 s training-inclusive
(examples/results/phase_4_2/phase_4_2_cnn_small_debug_out.json:2), and its
evaluation mode runs the same encoder forward over the same windows. This
script measures THIS engine doing that exact inference shape end to end:
deterministic 25,200-row synthetic series -> W=144 stride-1 windows -> 10
cyclical conditioning features -> faithful vae_small forward (latent 32,
plugin defaults) -> latents materialized.

Prints one JSON line {"rows", "sequences", "wall_sec", "sequences_per_sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_ROWS = int(os.environ.get("PARITY_ROWS", "25200"))
W = int(os.environ.get("PARITY_W", "144"))
N_FEAT = int(os.environ.get("PARITY_F", "54"))
LATENT = int(os.environ.get("PARITY_LATENT", "32"))


def run(spark) -> dict:
    """Measure the reference's exact phase-4.2 inference workload on an
    existing session; returns the metrics dict."""
    cores = spark.sparkContext.defaultParallelism
    # deterministic hourly series, 54 features per step (pure expressions)
    rid = F.col("id")
    feats = F.array(
        *[
            (F.sin(rid / F.lit(24.0 + j)) + F.cos(rid / F.lit(7.0 + j))).cast("float")
            for j in range(N_FEAT)
        ]
    )
    df = (
        spark.range(N_ROWS)
        .select(
            F.lit("series").alias("doc_id"),
            F.timestamp_seconds(F.lit(1704067200) + rid * 3600).alias("ts"),
            feats.alias("f"),
        )
    )
    df.write.mode("overwrite").parquet("/tmp/fx_parity_input")
    src = spark.read.parquet("/tmp/fx_parity_input")

    from feature_extractor_spark.encoder import encode_stage, init_vae_small
    from feature_extractor_spark.functions.conditions import (
        cyclical_datetime_features,
        zero_context,
    )
    from feature_extractor_spark.operators.windows import sliding_windows

    weights = init_vae_small(
        window_size=W, n_features=N_FEAT, rnn_hidden_dim=4,
        conditioning_dim=10, latent_dim=LATENT,
    )

    def pipeline():
        win = sliding_windows(src, "doc_id", "ts", ["f"], W)
        win = win.withColumn("window", F.flatten("window"))
        win = cyclical_datetime_features(win)
        win = zero_context(win, 4)  # P5 zero h-context, rnn_hidden_dim=4
        cond = [c for c in win.columns if c.startswith(("sin_", "cos_"))]
        return encode_stage(
            win, weights, cond_cols=cond, keep_cols=["doc_id", "ts"],
            plugin="vae_small",
        )

    pipeline().write.format("noop").mode("overwrite").save()  # warm
    walls = []
    for _ in range(2):
        t0 = time.time()
        pipeline().write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    wall = min(walls)
    n_seq = N_ROWS - W + 1
    return {
        "rows": N_ROWS,
        "window": W,
        "features_per_step": N_FEAT,
        "latent": LATENT,
        "sequences": n_seq,
        "wall_sec": round(wall, 2),
        "sequences_per_sec": round(n_seq / wall, 1),
        "cores": cores,
    }


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from feature_extractor_spark.session import get_spark

    spark = get_spark("parity-bench", cores=cores)
    print(json.dumps(run(spark)))
    spark.stop()


if __name__ == "__main__":
    main()
