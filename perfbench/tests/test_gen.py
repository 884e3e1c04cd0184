"""Seeded inputs: reproducible per seed, and carrying what they declare."""

import numpy as np
import pandas as pd
import pytest

import gen


@pytest.mark.parametrize("make", [gen.asof_skew, gen.curate_tokens, gen.ingest_stream])
def test_same_seed_same_inputs_other_seed_differs(make):
    a, b, c = make(7), make(7), make(8)
    for name, df in a["tables"].items():
        pd.testing.assert_frame_equal(df, b["tables"][name])
        assert not df.equals(c["tables"][name])


def test_asof_heavy_hitters_and_sequence_count_as_declared():
    d = gen.asof_skew(3)
    ev, pu, planted = d["tables"]["events"], d["tables"]["purchases"], d["planted"]
    share = ev["doc_id"].value_counts() / len(ev)
    for key, declared in planted["heavy_shares"].items():
        assert share[key] == pytest.approx(declared, abs=1 / len(ev))
        assert share[key] > 0.02
    light = share.drop(planted["heavy_keys"])
    assert light.max() < 0.01
    assert sorted(share[share > 0.02].index) == planted["heavy_keys"]
    n = ev.groupby("doc_id").size().to_numpy()
    assert planted["n_sequences"] == int(np.maximum(n - gen.ASOF_WINDOW + 1, 0).sum())
    # no purchase shares a timestamp with an event of its entity
    assert not ev.merge(pu, on=["doc_id", "ts"]).shape[0]
    assert not ev.duplicated(["doc_id", "ts"]).any()


def _grams(tokens, n=5):
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def test_curate_planted_duplicates_as_declared():
    d = gen.curate_tokens(3)
    t, p = d["tables"]["tokens"], d["planted"]
    family, kind = p["family"], p["kind"]
    assert len(t) == p["funnel"]["input"] == gen.CURATE_ROWS
    assert (kind == "short").sum() == p["n_short"]
    assert (t["n_tok"][kind == "short"] < gen.CURATE_MIN_TOK).all()
    assert (t["n_tok"] == t["tokens"].map(len)).all()
    dropped = {"exact": 0, "near": 0}
    for f in np.unique(family[family >= 0]):
        members = np.nonzero(family == f)[0]
        toks = [t["tokens"].iloc[i] for i in members]
        k = kind[members[0]]
        dropped[k] += len(members) - 1
        for other in toks[1:]:
            if k == "exact":
                assert np.array_equal(toks[0], other)
            else:
                a, b = _grams(toks[0]), _grams(other)
                assert len(a & b) / len(a | b) >= 0.9
    assert dropped["exact"] == p["n_exact_dropped"]
    assert dropped["near"] == p["n_near_dropped"]
    # unrelated sequences share no 5-gram, so no accidental duplicate exists
    singles = [_grams(t["tokens"].iloc[i]) for i in np.nonzero(kind == "single")[0][:300]]
    seen = set()
    for g in singles:
        assert not (g & seen)
        seen |= g


def _shingles(text, n=3):
    w = text.split()
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_ingest_planted_duplicates_as_declared():
    d = gen.ingest_stream(3)
    batches = d["planted"]["batches"]
    assert len(batches) == len(d["tables"]) == gen.INGEST_BATCHES
    accepted = {}  # shingle sets of every doc an earlier batch accepts
    for k, p in enumerate(batches):
        t = d["tables"][f"batch{k:02d}"].set_index("doc_id")["text"]
        sh = {i: _shingles(t[i]) for i in t.index}
        f = p["funnel"]
        assert len(t) == f["n_input"] == gen.INGEST_BATCH_DOCS
        assert f["n_within_dup"] + f["n_index_dup"] + f["n_accepted"] == f["n_input"]
        assert sum(len(m) - 1 for m in p["families"]) == f["n_within_dup"]
        assert len(p["cross"]) == f["n_index_dup"] == (gen.INGEST_CROSS if k else 0)
        for members in p["families"]:
            for other in members[1:]:
                a, b = sh[members[0]], sh[other]
                assert len(a & b) / len(a | b) >= 0.9
        # every cross-batch copy matches a doc accepted by batch 0 or k - 1
        earlier = accepted.get(0, []) + (accepted.get(k - 1, []) if k > 1 else [])
        for c in p["cross"]:
            assert max(len(sh[c] & e) / len(sh[c] | e) for e in earlier) >= 0.9
        # fresh docs share no shingle with anything else in the batch
        seen = set()
        for i in p["singles"]:
            assert not (sh[i] & seen)
            seen |= sh[i]
        accepted[k] = [sh[i] for i in p["singles"]]
