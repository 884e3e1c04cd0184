"""End-to-end pipeline composition + CLI (SURVEY.md §3.2 equivalent).

The reference's encoder-evaluation entry point
(load_and_evaluate_encoder, /root/reference/app/data_processor.py:607-685)
as one distributed job:

  read tokenized/series table -> (optional as-of join of auxiliary series)
  -> fused window build + cyclical conditioning + encoder forward
  -> latents written to parquet (+ lineage manifest)

CLI flag names follow the reference where sensible (window_size,
latent_dim, rnn_hidden_dim; x_test_file -> --input).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_extractor_spark.encoder import init_weights
from feature_extractor_spark.operators.asof import asof_join
from feature_extractor_spark.operators.fused import windowed_encode
from feature_extractor_spark.operators.skew import detect_heavy_hitters


def encoder_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    entity_col: str,
    ts_col: str,
    feature_cols: list[str],
    window_size: int = 144,
    latent_dim: int = 32,
    rnn_hidden_dim: int = 4,
    aux_df: DataFrame | None = None,
    aux_value_cols: list[str] | None = None,
    weights: dict | None = None,
) -> DataFrame:
    """The §3.2 dataflow with skew-adaptive physical strategies."""
    heavy = detect_heavy_hitters(input_df, entity_col)
    df = input_df
    feats = list(feature_cols)
    if aux_df is not None:
        df = asof_join(
            df, aux_df, on=ts_col, by=entity_col,
            value_cols=aux_value_cols, strategy="auto", heavy_keys=heavy,
        )
        aux_cols = aux_value_cols or [
            c for c in aux_df.columns if c not in (ts_col, entity_col)
        ]
        df = df.na.fill({c: 0.0 for c in aux_cols})
        feats += aux_cols
    if weights is None:
        weights = init_weights(
            window_size=window_size,
            n_features=len(feats),
            rnn_hidden_dim=rnn_hidden_dim,
            conditioning_dim=10,
            latent_dim=latent_dim,
        )
    return windowed_encode(
        df, entity_col, ts_col, feats, None, window_size, weights,
        h_dim=rnn_hidden_dim, heavy_keys=heavy,
    )


def main(argv: list[str] | None = None) -> None:
    """CLI with the reference's config precedence (config_merger.py:18-77):
    plugin params < defaults < --config JSON file < typed CLI flags.
    Unknown --key value pairs pass through with int/float coercion."""
    import sys

    from feature_extractor_spark.plans.config import (
        DEFAULT_VALUES,
        load_config_file,
        merge_config,
        process_unknown_args,
        typed_flags_from_argv,
    )

    p = argparse.ArgumentParser(description="feature-extractor-spark encoder pipeline")
    p.add_argument("--input", required=True, help="input parquet path")
    p.add_argument("--output", required=True, help="latents parquet path")
    p.add_argument("--config", default=None, help="JSON config file (file layer)")
    p.add_argument(
        "--remote_load_config", default=None,
        help="URL of a remote JSON config; replaces the file layer "
             "(reference main.py:48-50)",
    )
    p.add_argument("--username", default=None, help="basic-auth user for remote config")
    p.add_argument("--password", default=None, help="basic-auth password for remote config")
    p.add_argument("--entity_col", default=None)
    p.add_argument("--ts_col", default=None)
    p.add_argument("--feature-cols", nargs="+", required=True, dest="feature_cols")
    p.add_argument("--window_size", type=int, default=None)
    p.add_argument("--latent_dim", type=int, default=None)
    p.add_argument("--rnn_hidden_dim", type=int, default=None)
    p.add_argument("--cores", type=int, default=None)
    args, unknown = p.parse_known_args(argv)

    raw_argv = argv if argv is not None else sys.argv[1:]
    file_config = load_config_file(args.config)
    if args.remote_load_config:
        from feature_extractor_spark.plans.remote_config import remote_load_config

        remote = remote_load_config(
            args.remote_load_config, args.username, args.password
        )
        if remote is not None:  # failed fetch falls back to the file layer
            file_config = remote
    cfg = merge_config(
        defaults=DEFAULT_VALUES,
        plugin_params={},
        file_config=file_config,
        cli_args={k: v for k, v in vars(args).items() if v is not None},
        typed_flags=typed_flags_from_argv(raw_argv),
        unknown_args=process_unknown_args(unknown),
    )
    if cfg.get("remote_save_config"):  # reference main.py:124-127
        from feature_extractor_spark.plans.remote_config import remote_save_config

        remote_save_config(
            cfg, cfg["remote_save_config"], cfg.get("username"), cfg.get("password")
        )

    from feature_extractor_spark.session import get_spark

    spark = get_spark("fx-pipeline", cores=args.cores)
    df = spark.read.parquet(args.input)
    z = encoder_pipeline(
        spark, df,
        cfg.get("entity_col", "doc_id"), cfg.get("ts_col", "ts"),
        args.feature_cols,
        window_size=int(cfg["window_size"]),
        latent_dim=int(cfg["latent_dim"]),
        rnn_hidden_dim=int(cfg["rnn_hidden_dim"]),
    )
    z.write.mode("overwrite").parquet(args.output)


if __name__ == "__main__":
    main()
