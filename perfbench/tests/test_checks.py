"""Each correctness check accepts a correct output and rejects a corrupted
one: a dropped row, a perturbed latent, an uncollapsed duplicate."""

import numpy as np
import pandas as pd
import pytest

import checks
import gen
from feature_extractor_spark.encoder import encoder_forward, init_weights


@pytest.fixture(scope="module")
def featurize():
    d = gen.asof_skew(5)
    w = init_weights(window_size=gen.ASOF_WINDOW, n_features=len(gen.ASOF_FEATURES),
                     rnn_hidden_dim=4, conditioning_dim=10, latent_dim=16)
    t = d["tables"]
    ref = checks.featurize_reference(t["events"], t["purchases"], gen.ASOF_WINDOW,
                                     encoder_forward, w)
    out = ref.rename(columns={"z_ref": "z_mean"})
    return ref, out, d["planted"]["n_sequences"]


def test_featurize_accepts_reference(featurize):
    ref, out, n = featurize
    assert checks.check_featurize(out, ref, n) == []


def test_featurize_rejects_dropped_row(featurize):
    ref, out, n = featurize
    assert checks.check_featurize(out.drop(index=17), ref, n)


def test_featurize_rejects_perturbed_latent(featurize):
    ref, out, n = featurize
    bad = out.copy()
    z = bad.at[123, "z_mean"].copy()
    z[3] += 1e-2
    bad.at[123, "z_mean"] = z
    errors = checks.check_featurize(bad, ref, n)
    assert len(errors) == 1 and "1 latents differ" in errors[0]


def test_featurize_reference_never_reads_a_later_purchase():
    t0 = pd.Timestamp("2024-01-01", tz="UTC")
    ev = pd.DataFrame({"doc_id": ["a"] * 16,
                       "ts": [t0 + pd.Timedelta(minutes=i) for i in range(16)],
                       "value": np.zeros(16), "volume": np.ones(16)})
    later = pd.DataFrame({"doc_id": ["a"], "ts": [t0 + pd.Timedelta(minutes=15, seconds=30)],
                          "purchase_value": [5.0]})
    earlier = later.assign(ts=t0 - pd.Timedelta(seconds=30))
    w = init_weights(window_size=16, n_features=3, rnn_hidden_dim=4,
                     conditioning_dim=10, latent_dim=16)
    z_none = checks.featurize_reference(ev, later, 16, encoder_forward, w)["z_ref"][0]
    z_zero = checks.featurize_reference(ev, later.iloc[:0], 16, encoder_forward, w)["z_ref"][0]
    z_seen = checks.featurize_reference(ev, earlier, 16, encoder_forward, w)["z_ref"][0]
    np.testing.assert_array_equal(z_none, z_zero)
    assert not np.allclose(z_none, z_seen)


def packed(table: pd.DataFrame, rows: list[int], context_len: int = 2048) -> pd.DataFrame:
    """A correct curated output for the given surviving input rows."""
    recs = []
    for i in rows:
        r = table.iloc[i]
        for chunk in checks.expected_chunks(r["tokens"]):
            recs.append({"doc_id": r["doc_id"], "tokens": np.array(chunk, np.int32),
                         "n_tok": len(chunk), "source": r["source"]})
    out = pd.DataFrame(recs)
    out["tok_start"] = np.concatenate([[0], np.cumsum(out["n_tok"])[:-1]])
    out["bin_id"] = out["tok_start"] // context_len
    out["bin_pos"] = out["tok_start"] % context_len
    return out


@pytest.fixture(scope="module")
def curate():
    d = gen.curate_tokens(5)
    p = d["planted"]
    fam, kind = p["family"], p["kind"]
    first = {}
    for i, f in enumerate(fam):
        if f >= 0:
            first.setdefault(f, i)
    keep = sorted(set(first.values()) | set(np.nonzero(kind == "single")[0]))
    return d["tables"]["tokens"], p, keep, first


def test_curate_accepts_correct_output(curate):
    table, p, keep, _ = curate
    assert checks.check_curate(packed(table, keep), table, p, 2048) == []


def test_curate_rejects_dropped_row(curate):
    table, p, keep, _ = curate
    out = packed(table, keep)
    assert checks.check_curate(out.drop(index=len(out) - 1), table, p, 2048)


def test_curate_rejects_uncollapsed_duplicate(curate):
    table, p, keep, first = curate
    fam = p["family"]
    f0, i0 = next(iter(first.items()))
    twin = int(np.nonzero(fam == f0)[0][1])
    errors = checks.check_curate(packed(table, sorted(keep + [twin])), table, p, 2048)
    assert any("exactly one survivor" in e for e in errors)


def test_curate_counts_overlapping_packing_offsets(curate):
    table, p, keep, _ = curate
    out = packed(table, keep)
    assert checks.packing_offset_errors(out) == 0
    out.loc[5, "tok_start"] = out.loc[4, "tok_start"]
    assert checks.packing_offset_errors(out) > 0


@pytest.fixture(scope="module")
def ingest():
    p = gen.ingest_stream(5)["planted"]["batches"][3]
    accepted = p["singles"] + [members[0] for members in p["families"]]
    stats = {**p["funnel"], "n_decontam": 0, "n_quality": 0}
    return p, accepted, stats


def test_ingest_accepts_correct_output(ingest):
    p, accepted, stats = ingest
    assert checks.check_ingest(accepted, stats, p) == []


def test_ingest_rejects_dropped_row(ingest):
    p, accepted, stats = ingest
    assert checks.check_ingest(accepted[1:], stats, p)


def test_ingest_rejects_uncollapsed_duplicate(ingest):
    p, accepted, stats = ingest
    errors = checks.check_ingest(accepted + [p["families"][0][1]], stats, p)
    assert any("exactly one accepted member" in e for e in errors)


def test_ingest_rejects_unflagged_cross_batch_duplicate(ingest):
    p, accepted, stats = ingest
    errors = checks.check_ingest(accepted + [p["cross"][0]], stats, p)
    assert any("cross-batch duplicates accepted" in e for e in errors)


def test_ingest_rejects_funnel_that_does_not_sum(ingest):
    p, accepted, stats = ingest
    assert checks.check_ingest(accepted, {**stats, "n_accepted": stats["n_accepted"] - 1}, p)
