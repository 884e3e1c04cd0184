"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: NumPy draws from
``default_rng([seed, <workload tag>])``, so the same seed yields identical
inputs and the program never sees the seed itself. Each generator returns
the tables as pandas frames plus a ``planted`` dict declaring what was
built in (heavy-hitter shares, duplicate families, expected counts); the
correctness checks in ``checks.py`` compare the program's outputs with it.

Nothing here imports Spark: inputs are written with pyarrow and read back
by the program through an ordinary parquet file scan.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- asof_skew -------------------------------------------------------------
ASOF_EVENTS = 20_000
ASOF_ENTITIES = 400
# three planted heavy hitters, each well above detect_heavy_hitters' 2%
# threshold even under its 10% sampling; every light entity stays below 1%
ASOF_HEAVY_SHARES = (0.06, 0.05, 0.04)
ASOF_PURCHASE_RATE = 0.1
ASOF_WINDOW = 16
# the window's features: two event columns plus the as-of purchase value
ASOF_FEATURES = ("value", "volume", "purchase_value")
ASOF_SPAN_MINUTES = 60 * 24 * 60  # 60 days of minute slots per entity
ASOF_T0 = pd.Timestamp("2024-01-01", tz="UTC")

# --- curate_tokens ---------------------------------------------------------
CURATE_ROWS = 1_000
CURATE_EXACT_FAMILIES = 30  # identical token arrays, 2-3 copies each
CURATE_NEAR_FAMILIES = 30  # last token differs, 2-3 copies each
CURATE_SHORT = 25  # below min_tok: dropped by the token filter
CURATE_MIN_TOK = 8
CURATE_CHUNK_LEN = 48
CURATE_CHUNK_OVERLAP = 8
CURATE_EOS = 50256
CURATE_VOCAB = 50256  # ids 0..50255; the EOS id never occurs in the input
SOURCES = ("web", "books", "code", "news")
N_FILES = 4  # parquet files per input table: a multi-file scan, as landed data

# --- ingest_stream ---------------------------------------------------------
INGEST_BATCHES = 8  # batch 0 builds the index; later batches take the index path
INGEST_BATCH_DOCS = 120
INGEST_FAMILIES = 8  # within-batch duplicate families, 2-3 copies each
INGEST_CROSS = 12  # copies of docs accepted by earlier batches
INGEST_MIN_WORDS = 60  # one changed last word keeps 3-shingle Jaccard >= 57/59
INGEST_MAX_WORDS = 120
INGEST_VOCAB = 1_000_000  # random docs share no 3-shingle


def asof_skew(seed: int) -> dict:
    """Zipf-keyed events (two features, ``value`` and ``volume``) with
    three heavy hitters plus a sparse purchase side. Event timestamps sit
    on whole minutes and purchases on half minutes, so no purchase ties an
    event and the backward as-of match of every event is unambiguous."""
    rng = np.random.default_rng([seed, 1])
    n_heavy = len(ASOF_HEAVY_SHARES)
    heavy_counts = [int(round(s * ASOF_EVENTS)) for s in ASOF_HEAVY_SHARES]
    n_light = ASOF_EVENTS - sum(heavy_counts)
    # Zipf-like tail with an offset so the largest light entity holds
    # about 1% of the events (stays below the 2% heavy threshold)
    ranks = np.arange(1, ASOF_ENTITIES - n_heavy + 1)
    weights = 1.0 / (ranks + 20.0) ** 0.7
    light_counts = rng.multinomial(n_light, weights / weights.sum())
    counts = np.concatenate([heavy_counts, light_counts])
    entity_ids = np.array([f"e{i:04d}" for i in range(ASOF_ENTITIES)])

    ev_ent, ev_min, pu_ent, pu_min = [], [], [], []
    for i, n in enumerate(counts):
        if n == 0:
            continue
        ev_ent.append(np.full(n, i))
        ev_min.append(np.sort(rng.choice(ASOF_SPAN_MINUTES, n, replace=False)))
        n_p = max(1, int(round(n * ASOF_PURCHASE_RATE)))
        pu_ent.append(np.full(n_p, i))
        pu_min.append(rng.choice(ASOF_SPAN_MINUTES, n_p, replace=False))
    ev_ent, ev_min = np.concatenate(ev_ent), np.concatenate(ev_min)
    pu_ent, pu_min = np.concatenate(pu_ent), np.concatenate(pu_min)

    events = pd.DataFrame(
        {
            "doc_id": entity_ids[ev_ent],
            "ts": ASOF_T0 + pd.to_timedelta(ev_min * 60, unit="s"),
            "value": rng.standard_normal(len(ev_ent)),
            "volume": rng.exponential(1.0, len(ev_ent)),
        }
    )
    purchases = pd.DataFrame(
        {
            "doc_id": entity_ids[pu_ent],
            "ts": ASOF_T0 + pd.to_timedelta(pu_min * 60 + 30, unit="s"),
            "purchase_value": rng.gamma(2.0, 10.0, len(pu_ent)),
        }
    )
    # file order is not time order, as in a landed table
    events = events.iloc[rng.permutation(len(events))].reset_index(drop=True)
    purchases = purchases.iloc[rng.permutation(len(purchases))].reset_index(drop=True)
    W = ASOF_WINDOW
    return {
        "tables": {"events": events, "purchases": purchases},
        "planted": {
            "heavy_keys": sorted(entity_ids[:n_heavy].tolist()),
            "heavy_shares": dict(zip(entity_ids[:n_heavy].tolist(), ASOF_HEAVY_SHARES)),
            "max_light_share": float(light_counts.max() / ASOF_EVENTS),
            "n_events": int(ASOF_EVENTS),
            "n_sequences": int(np.maximum(counts - W + 1, 0).sum()),
        },
    }


def chunk_spans(n: int) -> list[tuple[int, int]]:
    """(start, length) of the chunks ``chunk_tokens`` keeps for a sequence
    of n tokens: windows of CURATE_CHUNK_LEN every (len - overlap) tokens;
    a non-first chunk survives only with >= min_tok tokens, more than the
    overlap."""
    step = CURATE_CHUNK_LEN - CURATE_CHUNK_OVERLAP
    out = []
    for cid, start in enumerate(range(0, n, step)):
        length = min(CURATE_CHUNK_LEN, n - start)
        if cid == 0 or (length >= CURATE_MIN_TOK and length > CURATE_CHUNK_OVERLAP):
            out.append((start, length))
    return out


def curate_tokens(seed: int) -> dict:
    """Input-hint table (doc_id, tokens, n_tok, source, ts) with planted
    exact-duplicate families, near-duplicate families (copies that differ
    only in the last token: 5-gram Jaccard >= 0.96, above the 0.9
    threshold) and sequences too short for the token filter. Unrelated
    sequences are uniform draws from a 50k vocabulary and share no 5-gram."""
    rng = np.random.default_rng([seed, 2])
    fam_sizes_exact = rng.integers(2, 4, CURATE_EXACT_FAMILIES)
    fam_sizes_near = rng.integers(2, 4, CURATE_NEAR_FAMILIES)
    n_family_rows = int(fam_sizes_exact.sum() + fam_sizes_near.sum())
    n_single = CURATE_ROWS - n_family_rows - CURATE_SHORT

    rows: list[np.ndarray] = []
    family: list[int] = []  # -1 for rows outside any family
    kind: list[str] = []
    n_chunks = 0  # chunks of the surviving sequences (one per family)

    def draw(lo: int, hi: int) -> np.ndarray:
        return rng.integers(0, CURATE_VOCAB, rng.integers(lo, hi + 1)).astype(np.int32)

    for _ in range(n_single):
        rows.append(draw(CURATE_MIN_TOK, 160))
        family.append(-1)
        kind.append("single")
        n_chunks += len(chunk_spans(len(rows[-1])))
    fid = 0
    for size in fam_sizes_exact:
        base = draw(CURATE_MIN_TOK, 160)
        n_chunks += len(chunk_spans(len(base)))
        for _ in range(size):
            rows.append(base.copy())
            family.append(fid)
            kind.append("exact")
        fid += 1
    for size in fam_sizes_near:
        base = draw(64, 160)  # >= 60 grams: one changed gram keeps J >= 0.96
        n_chunks += len(chunk_spans(len(base)))  # members share a length
        for c in range(size):
            t = base.copy()
            if c:
                t[-1] = (t[-1] + c) % CURATE_VOCAB
            rows.append(t)
            family.append(fid)
            kind.append("near")
        fid += 1
    for _ in range(CURATE_SHORT):
        rows.append(draw(1, CURATE_MIN_TOK - 1))
        family.append(-1)
        kind.append("short")

    order = rng.permutation(len(rows))
    tokens = [rows[i] for i in order]
    n = len(tokens)
    table = pd.DataFrame(
        {
            "doc_id": [f"d{i:06d}" for i in range(n)],
            "tokens": tokens,
            "n_tok": np.array([len(t) for t in tokens], dtype=np.int32),
            "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n)],
            "ts": pd.Timestamp("2024-01-01", tz="UTC")
            + pd.to_timedelta(np.sort(rng.choice(10 * n, n, replace=False)), unit="s"),
        }
    )
    family = np.asarray(family)[order]
    kind = np.asarray(kind)[order]
    n_exact_dropped = int((fam_sizes_exact - 1).sum())
    n_near_dropped = int((fam_sizes_near - 1).sum())
    n_after_dedup = n - n_exact_dropped - n_near_dropped
    return {
        "tables": {"tokens": table},
        "planted": {
            "family": family,
            "kind": kind,
            "funnel": {
                "input": n,
                "near_dup_dedup": n_after_dedup,
                "token_filters": n_after_dedup - CURATE_SHORT,
                "chunking": n_chunks,
                "output": n_chunks,
            },
            "n_exact_dropped": n_exact_dropped,
            "n_near_dropped": n_near_dropped,
            "n_short": CURATE_SHORT,
        },
    }


def ingest_stream(seed: int) -> dict:
    """INGEST_BATCHES micro-batches of (doc_id, text) docs of random words.
    Each batch plants within-batch duplicate families (exact copies, or
    copies whose last word differs) and, from batch 1 on, cross-batch
    copies of docs that batch 0 or the previous batch accepted. Every other
    doc is fresh and shares no 3-shingle with any other, so the accepted
    set of each batch is known exactly: the fresh docs plus one member per
    family."""
    rng = np.random.default_rng([seed, 3])

    def draw() -> np.ndarray:
        return rng.integers(0, INGEST_VOCAB, rng.integers(INGEST_MIN_WORDS, INGEST_MAX_WORDS + 1))

    def near(words: np.ndarray) -> np.ndarray:
        w = words.copy()
        w[-1] = (w[-1] + rng.integers(1, INGEST_VOCAB)) % INGEST_VOCAB
        return w

    tables, batches = {}, []
    fresh: list[list[np.ndarray]] = []  # per batch: the fresh docs it accepts
    for k in range(INGEST_BATCHES):
        n_cross = INGEST_CROSS if k else 0
        sizes = rng.integers(2, 4, INGEST_FAMILIES)
        n_single = INGEST_BATCH_DOCS - int(sizes.sum()) - n_cross
        docs = [draw() for _ in range(n_single)]
        role = ["single"] * n_single
        family = [-1] * n_single
        for f, size in enumerate(sizes):
            base = draw()
            for c in range(size):
                # even families are exact copies, odd ones near copies
                docs.append(base if c == 0 or f % 2 == 0 else near(base))
                role.append("family")
                family.append(f)
        if k:
            # distinct targets: two copies of one target would be
            # within-batch duplicates of each other as well
            pool = fresh[0] + (fresh[k - 1] if k > 1 else [])
            for j, t in enumerate(rng.choice(len(pool), n_cross, replace=False)):
                docs.append(pool[t] if j % 2 == 0 else near(pool[t]))
                role.append("cross")
                family.append(-1)
        fresh.append(docs[:n_single])
        order = rng.permutation(len(docs))
        ids = [f"b{k:02d}d{i:04d}" for i in range(len(docs))]
        tables[f"batch{k:02d}"] = pd.DataFrame(
            {"doc_id": ids, "text": [" ".join(f"w{w}" for w in docs[i]) for i in order]}
        )
        role = np.asarray(role)[order]
        family = np.asarray(family)[order]
        n_within = int((sizes - 1).sum())
        batches.append({
            "singles": [ids[i] for i in np.nonzero(role == "single")[0]],
            "families": [[ids[i] for i in np.nonzero(family == f)[0]]
                         for f in range(INGEST_FAMILIES)],
            "cross": [ids[i] for i in np.nonzero(role == "cross")[0]],
            "funnel": {
                "n_input": len(docs),
                "n_within_dup": n_within,
                "n_index_dup": n_cross,
                "n_accepted": len(docs) - n_within - n_cross,
            },
        })
    return {"tables": tables, "planted": {"batches": batches}}


GENERATORS = {"asof_skew": asof_skew, "curate_tokens": curate_tokens,
              "ingest_stream": ingest_stream}


def write_parquet(df: pd.DataFrame, path: str, n_files: int = N_FILES) -> int:
    """Write ``df`` as ``n_files`` parquet files under directory ``path``
    (timestamps as UTC-adjusted microseconds, arrays as list<int32>).
    Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    schema = pa.Schema.from_pandas(df, preserve_index=False)
    for i, field in enumerate(schema):
        if field.name == "tokens":
            schema = schema.set(i, pa.field("tokens", pa.list_(pa.int32())))
        elif pa.types.is_timestamp(field.type):
            schema = schema.set(i, pa.field(field.name, pa.timestamp("us", tz="UTC")))
    total = 0
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False), f
        )
        total += os.path.getsize(f)
    return total
