"""Round-8 driver rows: the pack_bins_bfd full-recomputation oracle is a
real signal — value-equal on the true configuration, and RED under a
capacity or fit-rule perturbation (the discipline every r6+ hard oracle
follows: a check that cannot flip red checks nothing)."""

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.plans.entry_queries import (
    _PACK_BINS_ORACLE,
    _PACK_CAP,
    pack_bins_bfd,
)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF = f"{TESTDATA}/sf0.01"


def _oracle() -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    return con.sql(_PACK_BINS_ORACLE).df()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        if pd.api.types.is_bool_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(bool)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def _py_ffd(items, cap):
    """(id -> (bin, fill, oversize)) first-fit-decreasing over (n desc, id
    asc): the fit rule the best-fit oracle must tell apart."""
    fills, out = [], {}
    for i, n in sorted(items, key=lambda x: (-x[1], x[0])):
        if n > cap:
            out[i] = (len(fills), n, True)
            fills.append(n)
            continue
        for b, f in enumerate(fills):
            if f + n <= cap:
                fills[b] = f + n
                out[i] = (b, None, False)
                break
        else:
            out[i] = (len(fills), None, False)
            fills.append(n)
    return {i: (b, fills[b] if f is None else f, o) for i, (b, f, o) in out.items()}, fills


def test_pack_bins_bfd_row_matches_duckdb_recomputation(spark):
    got = _canon(pack_bins_bfd(spark, SF).toPandas())
    exp = _canon(_oracle())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the data puts real mass on multi-item bins (not all singletons)
    per_bin = got.groupby("bin_id").size()
    assert (per_bin > 1).sum() > 10


def test_pack_bins_bfd_row_flips_red_on_capacity_and_fit(spark):
    """A capacity-1 shift OR swapping best-fit for first-fit must change
    assignments vs the oracle — proving the oracle pins the exact BFD
    contract, not just 'some packing'."""
    from feature_extractor_spark.operators.packing import pack_bins
    from feature_extractor_spark.sources import load_table

    exp = _canon(_oracle())
    docs = load_table(spark, SF, "documents")
    items = docs.select(
        "doc_id", (F.col("n_chars") % 300 + 1).cast("int").alias("n_tok")
    )

    def run(**kw):
        out = pack_bins(items, "doc_id", n_tok_col="n_tok", n_shards=1, **kw)
        return _canon(
            out.select("doc_id", "n_tok", "bin_id", "bin_fill", "oversize")
            .toPandas()
        )

    wrong_cap = run(capacity=_PACK_CAP - 1)
    assert not wrong_cap.equals(exp)
    # first fit on the same items and order: a different fit rule must
    # give a different assignment than the oracle's best fit
    items = list(exp[["doc_id", "n_tok"]].itertuples(index=False, name=None))
    ffd, _ = _py_ffd(items, _PACK_CAP)
    wrong_fit = _canon(pd.DataFrame(
        [(i, n, *ffd[i]) for i, n in items],
        columns=["doc_id", "n_tok", "bin_id", "bin_fill", "oversize"],
    ))
    assert not wrong_fit.equals(exp)


def _bpe_oracle_df(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    return con.sql(sql).df()


def test_encode_bpe_row_matches_duckdb_and_has_mass(spark):
    from feature_extractor_spark.plans.entry_queries import (
        _bpe_oracle,
        encode_bpe_subword,
    )

    got = _canon(encode_bpe_subword(spark, SF).toPandas())
    exp = _canon(_bpe_oracle_df(_bpe_oracle()))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the probes carry real mass: merges actually fire (token_sum differs
    # from a char-level encoding) and UNKs exist but don't dominate
    assert got["n_unk"].sum() > 0
    assert (got["n_tok"] > 0).all()


def test_encode_bpe_row_flips_red_on_rank_and_vocab(spark):
    """Swapping the ranks of two interacting merges, or shifting vocab
    ids, must change the probes vs the oracle — the row pins merge ORDER
    and id ASSIGNMENT, not just 'some tokenization'."""
    from pyspark.sql import functions as FF

    from feature_extractor_spark.functions.text import encode_bpe
    from feature_extractor_spark.plans.entry_queries import (
        _BPE_MERGES,
        _bpe_oracle,
        _bpe_vocab,
    )
    from feature_extractor_spark.sources import load_table

    exp = _canon(_bpe_oracle_df(_bpe_oracle()))
    docs = load_table(spark, SF, "documents")

    def probes(merges, vocab):
        mdf = spark.createDataFrame(merges, "rank int, left string, right string")
        vdf = spark.createDataFrame(
            list(vocab.items()), "token string, id int"
        )
        enc = encode_bpe(docs, mdf, vdf, text_col="text", lowercase=False)
        t = FF.col("tokens")
        n = FF.size(t)
        pos_sum = FF.when(
            n > 0,
            FF.aggregate(
                FF.zip_with(
                    t, FF.sequence(FF.lit(1), n),
                    lambda x, i: x.cast("long") * i,
                ),
                FF.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        ).otherwise(FF.lit(0).cast("long"))
        return _canon(
            enc.select(
                "doc_id",
                FF.coalesce(FF.col("n_tok"), FF.lit(0)).cast("int").alias("n_tok"),
                FF.element_at(t, 1).alias("first_token"),
                FF.element_at(t, -1).alias("last_token"),
                FF.coalesce(
                    FF.aggregate(
                        t, FF.lit(0).cast("long"),
                        lambda a, x: a + x.cast("long"),
                    ),
                    FF.lit(0),
                ).alias("token_sum"),
                pos_sum.alias("pos_checksum"),
                FF.coalesce(
                    FF.size(FF.filter(t, lambda x: x == 1)).cast("long"),
                    FF.lit(0),
                ).alias("n_unk"),
            ).toPandas()
        )

    # rank perturbation: swap the non-confluent pair (c,a)/(a,n</w>) —
    # "scan" becomes [s, c, an</w>] instead of [s, ca, n</w>]
    swapped = list(_BPE_MERGES)
    i_ca = next(i for i, m in enumerate(swapped) if m[1:] == ("c", "a"))
    i_an = next(
        i for i, m in enumerate(swapped)
        if m[1] == "a" and m[2].startswith("n")
    )
    r_ca, r_an = swapped[i_ca][0], swapped[i_an][0]
    swapped[i_ca] = (r_an, "c", "a")
    swapped[i_an] = (r_ca, swapped[i_an][1], swapped[i_an][2])
    assert not probes(swapped, _bpe_vocab()).equals(exp)

    # vocab perturbation: shift every id by one
    shifted = {s: i + 1 for s, i in _bpe_vocab().items()}
    assert not probes(_BPE_MERGES, shifted).equals(exp)
