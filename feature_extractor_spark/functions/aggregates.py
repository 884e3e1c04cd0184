"""Aggregation operators (SURVEY.md §2.4 A1-A6).

MAE/MSE are plain Column aggregates (map-side partial aggregation for
free). MMD uses a deterministic modulo-sample (not
df.sample: reproducible across engines and runs) + broadcast cross join of
two tiny sampled sets. KL divergence works on array columns via
aggregate(zip_with(...)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mae(t: Column, p: Column) -> Column:
    """A1 (reference app/autoencoder_helper.py:143-148)."""
    return F.avg(F.abs(t - p))


def mse(t: Column, p: Column) -> Column:
    """A2 (reference app/plugins/decoder_plugin_cnn.py:159-163)."""
    return F.avg(F.pow(t - p, F.lit(2)))


def kl_divergence(mu: Column, log_var: Column) -> Column:
    """A5 per-row KL vs standard normal over array columns
    (reference KLDivergenceLayer, app/autoencoder_manager.py:26-45):
    -0.5 * sum(1 + log_var - mu^2 - exp(log_var))."""
    terms = F.zip_with(
        mu, log_var, lambda m, lv: F.lit(1.0) + lv - m * m - F.exp(lv)
    )
    return -0.5 * F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def mmd_rbf(
    x: DataFrame,
    y: DataFrame,
    value_col: str,
    sigma: float = 1.0,
    sample_mod: int = 97,
    id_col: str | None = None,
) -> DataFrame:
    """A4 MMD^2 with RBF kernel on <=N/mod sampled scalar rows
    (reference compute_mmd, app/autoencoder_helper.py:26-80 samples <=1000
    rows). Sampling is pmod(id, mod)==0 — deterministic and engine-agnostic.
    MMD^2 = E[k(x,x')] + E[k(y,y')] - 2 E[k(x,y)].
    Returns a 1-row DataFrame (mmd2 double)."""

    def sample(df):
        if id_col is not None:
            df = df.filter(F.pmod(F.col(id_col), F.lit(sample_mod)) == 0)
        return df.select(F.col(value_col).alias("v"))

    xs, ys = sample(x), sample(y)

    def kernel_mean(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
        j = a.select(F.col("v").alias("va")).crossJoin(
            F.broadcast(b.select(F.col("v").alias("vb")))
        )
        k = F.exp(-F.pow(F.col("va") - F.col("vb"), F.lit(2)) / (2.0 * sigma * sigma))
        return j.agg(F.avg(k).alias(name))

    kxx = kernel_mean(xs, xs, "kxx")
    kyy = kernel_mean(ys, ys, "kyy")
    kxy = kernel_mean(xs, ys, "kxy")
    return (
        kxx.crossJoin(kyy)
        .crossJoin(kxy)
        .select(
            (F.col("kxx") + F.col("kyy") - 2.0 * F.col("kxy")).alias("mmd2")
        )
    )
