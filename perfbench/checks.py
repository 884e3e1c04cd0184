"""Correctness checks for the workloads' outputs.

Each check takes the program's committed output (read back with pyarrow,
no Spark) plus the generator's tables and ``planted`` declaration, and
returns a list of human-readable errors; an empty list means correct.
The references are independent of the Spark code paths under test:
pandas ``merge_asof`` and NumPy sliding windows for the featurize
pipeline, plain Python chunking and prefix sums for curation, and the
generator's own record of every planted duplicate for the ingest.
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


def read_output(path: str) -> pd.DataFrame:
    """Read a directory of parquet files (hive partitions become columns)."""
    return pq.read_table(path).to_pandas()


def _cyclical(ts: pd.Series) -> np.ndarray:
    """The reference's 10 cyclical datetime features at each timestamp:
    sin/cos of hour/24, weekday/7 (Monday=0), day/31, month/12 and
    day-of-year/366, in that order."""
    dt = ts.dt
    cols = []
    for vals, period in (
        (dt.hour, 24.0), (dt.weekday, 7.0), (dt.day, 31.0),
        (dt.month, 12.0), (dt.dayofyear, 366.0),
    ):
        ang = 2 * np.pi * vals.to_numpy(dtype=np.float64) / period
        cols += [np.sin(ang), np.cos(ang)]
    return np.stack(cols, axis=1).astype(np.float32)


def featurize_reference(
    events: pd.DataFrame, purchases: pd.DataFrame, window: int, forward, weights: dict,
    h_dim: int = 4,
) -> pd.DataFrame:
    """(doc_id, ts, z_ref): the latent of every full window, built from a
    backward ``merge_asof`` (a purchase at ts <= the event's ts, never a
    later one) and NumPy sliding windows over ``gen.ASOF_FEATURES``."""
    ev = events.sort_values("ts", kind="mergesort")
    pu = purchases.sort_values("ts", kind="mergesort")
    joined = pd.merge_asof(ev, pu, on="ts", by="doc_id", direction="backward")
    joined["purchase_value"] = joined["purchase_value"].fillna(0.0)
    joined = joined.sort_values(["doc_id", "ts"], kind="mergesort").reset_index(drop=True)
    parts = []
    for doc_id, g in joined.groupby("doc_id", sort=True):
        n = len(g)
        if n < window:
            continue
        feats = g[list(gen.ASOF_FEATURES)].to_numpy(dtype=np.float32)
        x = np.swapaxes(np.lib.stride_tricks.sliding_window_view(feats, window, axis=0), 1, 2)
        ends = g["ts"].iloc[window - 1:]
        cond = _cyclical(ends)
        h = np.zeros((len(x), h_dim), dtype=np.float32)
        z = np.concatenate(
            [forward(np.ascontiguousarray(x[s:s + 128]), h[s:s + 128], cond[s:s + 128], weights)
             for s in range(0, len(x), 128)]
        )
        parts.append(pd.DataFrame({"doc_id": doc_id, "ts": ends.to_numpy(), "z_ref": list(z)}))
    return pd.concat(parts, ignore_index=True)


def check_featurize(
    out: pd.DataFrame, reference: pd.DataFrame, n_sequences: int,
    rtol: float = 1e-4, atol: float = 1e-5,
) -> list[str]:
    """Sequence count equals sum(max(0, n - W + 1)); the (entity, ts) keys
    equal the reference's; every latent is allclose to the reference."""
    errors = []
    if len(out) != n_sequences:
        errors.append(f"sequence count {len(out)} != expected {n_sequences}")
    dup = out.duplicated(["doc_id", "ts"])
    if dup.any():
        errors.append(f"{int(dup.sum())} duplicated (doc_id, ts) outputs")
    out = out.assign(ts=pd.to_datetime(out["ts"], utc=True))
    ref = reference.assign(ts=pd.to_datetime(reference["ts"], utc=True))
    m = ref.merge(out, on=["doc_id", "ts"], how="outer", indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing or extra:
        errors.append(f"{missing} expected windows missing, {extra} unexpected")
    both = m[m["_merge"] == "both"]
    if len(both):
        z = np.stack(both["z_mean"].to_numpy()).astype(np.float32)
        z_ref = np.stack(both["z_ref"].to_numpy())
        if z.shape != z_ref.shape:
            errors.append(f"latent shape {z.shape} != reference {z_ref.shape}")
        else:
            bad = ~np.isclose(z, z_ref, rtol=rtol, atol=atol).all(axis=1)
            if bad.any():
                worst = float(np.abs(z - z_ref).max())
                errors.append(
                    f"{int(bad.sum())} latents differ from the reference "
                    f"(max abs diff {worst:.3g})"
                )
    return errors


def expected_chunks(tokens: np.ndarray) -> list[tuple]:
    """The chunks of one surviving sequence, each followed by EOS."""
    return [
        tuple(tokens[s:s + n].tolist()) + (gen.CURATE_EOS,)
        for s, n in gen.chunk_spans(len(tokens))
    ]


def check_curate(
    out: pd.DataFrame, table: pd.DataFrame, planted: dict, context_len: int,
) -> list[str]:
    """One survivor per planted duplicate family, every unrelated sequence
    kept, short ones dropped; the packed tokens of each survivor equal its
    chunks plus EOS; bins and offsets agree. Whether the offsets form a
    gap-free prefix sum is counted by ``packing_offset_errors`` instead:
    the program does not guarantee it yet (see the benchmark README)."""
    errors: list[str] = []
    want = planted["funnel"]["output"]
    if len(out) != want:
        errors.append(f"output rows {len(out)} != expected {want}")

    row_of = {d: i for i, d in enumerate(table["doc_id"])}
    unknown = set(out["doc_id"]) - set(row_of)
    if unknown:
        errors.append(f"{len(unknown)} output doc_ids not in the input")
    kept = sorted(row_of[d] for d in set(out["doc_id"]) if d in row_of)
    family, kind = planted["family"], planted["kind"]
    per_family = collections.Counter(int(family[i]) for i in kept if family[i] >= 0)
    n_families = int(family.max()) + 1
    bad_fam = [f for f in range(n_families) if per_family.get(f, 0) != 1]
    if bad_fam:
        errors.append(
            f"{len(bad_fam)} duplicate families without exactly one survivor "
            f"(e.g. family {bad_fam[0]}: {per_family.get(bad_fam[0], 0)})"
        )
    kept_set = set(kept)
    lost = int(sum(1 for i in np.nonzero(kind == "single")[0] if i not in kept_set))
    if lost:
        errors.append(f"{lost} unique sequences dropped")
    short = int(sum(1 for i in np.nonzero(kind == "short")[0] if i in kept_set))
    if short:
        errors.append(f"{short} sequences below min_tok kept")

    got = collections.defaultdict(collections.Counter)
    for d, toks in zip(out["doc_id"], out["tokens"]):
        got[d][tuple(np.asarray(toks).tolist())] += 1
    wrong = 0
    for d, chunks in got.items():
        if d in row_of:
            exp = collections.Counter(expected_chunks(table["tokens"].iloc[row_of[d]]))
            wrong += exp != chunks
    if wrong:
        errors.append(f"{wrong} survivors whose packed tokens != chunks + EOS")
    src = table["source"].to_numpy()
    bad_src = int(sum(1 for d, s in zip(out["doc_id"], out["source"])
                      if d in row_of and src[row_of[d]] != s))
    if bad_src:
        errors.append(f"{bad_src} rows committed under the wrong source partition")

    lens = out["tokens"].map(len).to_numpy()
    if (out["n_tok"].to_numpy() != lens).any():
        errors.append("n_tok disagrees with the token array length")
    start = out["tok_start"].to_numpy(dtype=np.int64)
    if (out["bin_id"].to_numpy() != start // context_len).any() or (
        out["bin_pos"].to_numpy() != start % context_len
    ).any():
        errors.append("bin_id / bin_pos disagree with tok_start")
    return errors


def packing_offset_errors(out: pd.DataFrame) -> int:
    """Rows whose tok_start differs from the gap-free prefix sum of n_tok
    in tok_start order (0 for a correct contiguous packing)."""
    o = out.sort_values("tok_start", kind="mergesort")
    n_tok = o["n_tok"].to_numpy(dtype=np.int64)
    expect = np.concatenate([[0], np.cumsum(n_tok)[:-1]])
    return int((o["tok_start"].to_numpy(dtype=np.int64) != expect).sum())


def check_ingest(accepted: list[str], stats: dict, planted: dict) -> list[str]:
    """One micro-batch: the accepted doc ids are exactly the batch's fresh
    docs plus one member per duplicate family, no cross-batch copy among
    them; the funnel row sums to the input and matches the planted counts."""
    errors = []
    got = collections.Counter(accepted)
    twice = sum(n > 1 for n in got.values())
    if twice:
        errors.append(f"{twice} doc ids accepted more than once")
    lost = sum(d not in got for d in planted["singles"])
    if lost:
        errors.append(f"{lost} unique docs not accepted")
    bad_fam = [f for f in planted["families"] if sum(d in got for d in f) != 1]
    if bad_fam:
        errors.append(f"{len(bad_fam)} duplicate families without exactly one accepted member")
    leaked = sum(d in got for d in planted["cross"])
    if leaked:
        errors.append(f"{leaked} cross-batch duplicates accepted (not flagged against the index)")
    known = set(planted["singles"]) | set(planted["cross"]).union(*planted["families"])
    unknown = len(set(got) - known)
    if unknown:
        errors.append(f"{unknown} accepted doc ids not in the batch")
    parts = ("n_within_dup", "n_index_dup", "n_decontam", "n_quality", "n_accepted")
    if sum(stats.get(k, 0) for k in parts) != stats.get("n_input"):
        errors.append(f"funnel row does not sum to its input: {stats}")
    for k, n in planted["funnel"].items():
        if stats.get(k) != n:
            errors.append(f"funnel {k}: {stats.get(k)}, planted {n}")
    return errors
