"""Dedup + similarity operators: exactness, LSH recall vs exact oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_extractor_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    with_shingles,
)
from feature_extractor_spark.operators.similarity import cosine_topk, lsh_bucketed_topk


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  quick  brown fox jumps over the lazy dog "),  # ws/case dup
        (4, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (5, "completely different content about spark engines"),
        (6, "spark engines process completely different content about"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    groups = {r["canonical_id"]: r["n_dups"] for r in out}
    assert groups[1] == 3  # 1, 2, 3 normalize to the same digest
    assert groups[4] == 1
    assert len(out) == 4


def test_jaccard_pairs_exact_values(spark):
    # max_df_ratio=None: textbook Jaccard over ALL tokens (this corpus is
    # tiny, so most tokens exceed any df cap)
    out = jaccard_pairs(_docs(spark), threshold=0.5, max_df_ratio=None).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # docs 1-2 identical token sets -> jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    # 1 vs 4: 8-word sets, 7 shared -> 7/9
    assert abs(pairs[(1, 4)] - 7 / 9) < 1e-12
    # 5 vs 6: doc 6 adds "process" -> 6 shared / 7 union
    assert abs(pairs[(5, 6)] - 6 / 7) < 1e-12


def test_jaccard_pairs_df_guard(spark):
    """Default skew guard: tokens in > max_df_ratio of docs are dropped
    BEFORE the self-join, and set sizes reflect the filtered sets."""
    rows = [
        (1, "common alpha beta"),
        (2, "common alpha gamma"),
        (3, "common delta epsilon"),
        (4, "common zeta eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'common' has df=4/4 > 0.5 -> dropped; 'alpha' df=2/4 <= 0.5 -> kept
    out = jaccard_pairs(docs, threshold=0.1, max_df_ratio=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert set(pairs) == {(1, 2)}  # only the alpha-sharing pair survives
    r = pairs[(1, 2)]
    assert r["size_a"] == 2 and r["size_b"] == 2  # sizes exclude 'common'
    assert abs(r["jaccard"] - 1 / 3) < 1e-12


def test_minhash_lsh_finds_high_jaccard_pairs(spark):
    """LSH candidates must contain every pair the exact method scores at
    >= 0.9 (recall check), and every reported jaccard must equal the exact
    shingle-set jaccard (verification is exact)."""
    docs = _docs(spark)
    got = minhash_lsh_pairs(docs, threshold=0.5, num_hashes=32, bands=16).collect()
    got_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert (1, 2) in got_pairs and got_pairs[(1, 2)] == 1.0
    assert (1, 3) in got_pairs


def test_size_prefilter_keeps_boundary_ratio_pair(spark):
    """r10: the size-ratio candidate prefilter (jaccard <= min/max of the
    distinct-gram set sizes) must be EXACT-preserving at the boundary —
    a pair whose size ratio equals the threshold EXACTLY (B a prefix of
    A: both the ratio and the true jaccard are (m-3)/(m-2)) survives,
    and the reported jaccard is the exact set jaccard."""
    m = 35
    words = [f"w{i:03d}" for i in range(m)]
    a_text = " ".join(words)
    b_text = " ".join(words[:-1])  # 3-gram set of B ⊂ A: j = 32/33
    thr = (m - 3) / (m - 2)
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, "completely different words here")],
        "doc_id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=thr).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)] == (m - 3) / (m - 2)


def test_simhash_identical_and_different(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert out[1] == out[2]  # identical text -> identical fingerprint
    ham_near = bin(out[1] ^ out[4]).count("1")
    ham_far = bin(out[1] ^ out[5]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_shingles_semantics(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    out = with_shingles(df, "text", 3).collect()[0]["sh"]
    assert list(out) == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "id long, text string")
    assert list(with_shingles(short, "text", 3).collect()[0]["sh"]) == []


def _emb(spark, n=60, d=8, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((6, d))
    rows = []
    for i in range(n):
        v = base[i % 6] + 0.05 * rng.standard_normal(d)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_matches_numpy(spark):
    emb = _emb(spark)
    pdf = emb.toPandas()
    mat = np.array([np.array(v) for v in pdf["embedding"]])
    q = emb.filter(F.col("vec_id") < 3)
    got = cosine_topk(q, emb, k=3).orderBy("query_id", "rank").collect()
    for qid in range(3):
        sims = mat @ mat[qid] / (np.linalg.norm(mat, axis=1) * np.linalg.norm(mat[qid]))
        sims[qid] = -np.inf
        # numpy oracle with the same (sim desc, id asc) tie-break
        order = sorted(range(len(sims)), key=lambda i: (-sims[i], i))[:3]
        got_q = [r["neighbor_id"] for r in got if r["query_id"] == qid]
        assert got_q == order
        got_sims = [r["cosine"] for r in got if r["query_id"] == qid]
        assert np.allclose(got_sims, [sims[i] for i in order], rtol=1e-6)


def test_lsh_topk_subset_quality(spark):
    """LSH ANN: every returned neighbor's cosine must equal the exact cosine
    (re-rank is exact), and recall@3 vs brute force should be decent on
    clustered data."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 6)
    exact = cosine_topk(q, emb, k=3).collect()
    approx = lsh_bucketed_topk(q, emb, k=3, n_planes=6, n_tables=6, dim=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # cosines reported by LSH match the exact scorer for the same pairs
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-9


def test_embedding_near_dup_lsh_recall(spark):
    """LSH near-dup pairs must recover (almost) every exact pair at
    cosine >= 0.9, and report the exact cosine for each pair found."""
    from feature_extractor_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _emb(spark, n=60, d=8)
    exact = embedding_near_dup_pairs(emb, threshold=0.9, exact=True).collect()
    approx = embedding_near_dup_pairs(
        emb, threshold=0.9, dim=8, n_planes=6, n_tables=8, exact=False
    ).collect()
    exact_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact}
    approx_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in approx}
    assert len(exact_pairs) > 10
    recall = len(set(approx_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.9, f"near-dup LSH recall too low: {recall}"
    for key, cos in approx_pairs.items():
        if key in exact_pairs:
            assert abs(cos - exact_pairs[key]) < 1e-9  # verify is exact
    # no false positives below threshold
    assert all(c >= 0.9 for c in approx_pairs.values())


def test_ivf_topk_recall_and_exact_rerank(spark):
    from feature_extractor_spark.operators.similarity import ivf_topk

    emb = _emb(spark, n=80, d=8)
    q = emb.filter(F.col("vec_id") < 6)
    exact = cosine_topk(q, emb, k=3).collect()
    approx = ivf_topk(q, emb, k=3, n_lists=8, n_probe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-9


def test_ivf_kmeans_balanced_cells_on_clustered_blobs(spark):
    """k-means centroids on CLUSTERED data (Gaussian blobs): cells must stay
    balanced (max cell <= ~4x mean on the sample) and recall at equal
    n_probe must hold — the failure mode of raw corpus-row centroids, where
    one cell swallows most of a clustered corpus (VERDICT r2)."""
    from feature_extractor_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(11)
    # 4 tight, well-separated blobs — the adversarial case for unrefined
    # centroid sampling (a sample likely lands several centroids in one blob)
    centers = rng.standard_normal((4, 8)) * 6.0
    rows = []
    for i in range(120):
        v = centers[i % 4] + 0.3 * rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents, balance = kmeans_centroids(emb, n_lists=4, iters=3)
    assert len(cents) == 4
    assert balance <= 4.0, f"unbalanced cells after Lloyd: {balance}"
    for c in cents:
        assert abs(np.linalg.norm(c) - 1.0) < 1e-9  # unit-normalized

    q = emb.filter(F.col("vec_id") < 4)
    exact = cosine_topk(q, emb, k=3).collect()
    approx = ivf_topk(q, emb, k=3, n_lists=4, n_probe=1).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # blobs separated: each query's true neighbors live in its own cell,
    # so even n_probe=1 is exact when the cells track the blobs
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall == 1.0, f"clustered recall with n_probe=1: {recall}"


def test_ivf_empty_and_tiny_corpus(spark):
    """ADVICE r2: centroid selection must not break on corpora smaller than
    n_lists (and never rely on id % mod hitting anything)."""
    from feature_extractor_spark.operators.similarity import ivf_topk

    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = tiny.filter(F.col("vec_id") == 1)
    out = ivf_topk(q, tiny, k=2, n_lists=16, n_probe=16).collect()
    assert {r["neighbor_id"] for r in out} == {2, 3}
    assert out[0]["neighbor_id"] == 2  # nearest first


def test_simhash_md5_variant_matches_structure(spark):
    """The DuckDB-portable md5_60 simhash preserves the xxhash64 variant's
    structure: identical docs -> identical fingerprints, near-dups closer
    in Hamming space than unrelated docs."""
    out = {
        r["doc_id"]: r["simhash"]
        for r in simhash(_docs(spark), bits=60, hash_fn="md5_60").collect()
    }
    assert out[1] == out[2] == out[3]
    assert 0 <= out[1] < (1 << 60)
    ham_near = bin(out[1] ^ out[4]).count("1")
    ham_far = bin(out[1] ^ out[5]).count("1")
    assert ham_near < ham_far


def test_hashed_shingle_jaccard_matches_string_shingles(spark):
    """minhash's hashed-shingle jaccard must equal exact string-shingle
    jaccard (no collisions on this corpus)."""
    docs = _docs(spark)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.05, num_hashes=32, bands=32).collect()
    }
    # string-shingle oracle in pandas
    pdf = with_shingles(docs, "text", 3).toPandas()
    sets = {r["doc_id"]: set(r["sh"]) for _, r in pdf.iterrows()}
    for (a, b), j in got.items():
        sa, sb = sets[a], sets[b]
        exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert abs(j - exact) < 1e-12, (a, b, j, exact)


@pytest.mark.parametrize("payload", ["text", "tokens"])
def test_minhash_signatures_agg_matches_array_form(spark, payload):
    """``_minhash_signatures_agg`` (explode -> K compiled min aggregates)
    gives the K minhashes of ``_minhash_signature`` (transform + array_min)
    bit for bit, on text shingle hashes and on token-id hash arrays. A doc
    with no hashes has no row in the aggregate (explode drops it); the
    array form gives it K NULLs."""
    from feature_extractor_spark.functions.text import words
    from feature_extractor_spark.operators.dedup import (
        _minhash_signature,
        _minhash_signatures_agg,
        combine_word_hashes,
        token_hashes,
        word_hashes,
    )

    k = 16
    if payload == "text":
        df = _docs(spark).unionByName(
            spark.createDataFrame([(7, "")], "doc_id long, text string")
        )
        ws = F.transform(words(F.col("text")), F.lower)
        hashes = combine_word_hashes(word_hashes(ws), 3)
    else:
        rng = np.random.default_rng(3)
        rows = [
            (i, rng.integers(0, 50_000, int(rng.integers(1, 40))).tolist())
            for i in range(1, 7)
        ] + [(7, [])]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        hashes = token_hashes(F.col("tokens"))
    h = df.select("doc_id", hashes.alias("h")).localCheckpoint()
    want = {
        r["doc_id"]: list(r["sig"])
        for r in h.select("doc_id", _minhash_signature(F.col("h"), k).alias("sig"))
        .collect()
    }
    got = {
        r["doc_id"]: list(r["sig"])
        for r in _minhash_signatures_agg(h, "doc_id", "h", k).collect()
    }
    assert want.pop(7) == [None] * k
    assert len(want) == 6 and got == want


def test_simhash_near_dup_exact_by_pigeonhole(spark):
    """Banded candidate generation must find EXACTLY the brute-force
    Hamming<=k pair set (pigeonhole: bands > k), and reject bands<=k."""
    import pytest

    from feature_extractor_spark.operators.dedup import simhash, simhash_near_dup

    docs_df = _docs(spark)
    got = (
        simhash_near_dup(docs_df, "doc_id", "text", bits=60, max_hamming=8, bands=9)
        .orderBy("id_a", "id_b")
        .collect()
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs_df, "doc_id", "text", bits=60).collect()}
    ids = sorted(fps)
    exp = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 8
    )
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == exp

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup(docs_df, max_hamming=4, bands=4)


def test_near_dup_clusters_union_find_parity(spark):
    """Label propagation == plain-Python union-find on a multi-component
    graph incl. a chain (transitivity) and isolated nodes."""
    from feature_extractor_spark.operators.dedup import near_dup_clusters

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 20)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 31)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(pairs, nodes, "doc_id").collect()
    }

    parent = {i: i for i in range(1, 31)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp = {}
    for i in parent:
        comp.setdefault(find(i), []).append(i)
    exp = {i: min(comp[find(i)]) for i in parent}
    assert got == exp
    # chain 1-2-3-4 collapsed transitively; 5-20-21-22 merged across edges
    assert got[4] == 1 and got[22] == 5 and got[30] == 30


def test_near_dup_clusters_long_chain_converges_in_log_rounds(spark):
    """A 60-node path graph (diameter 59) must fully collapse to ONE
    canonical id — plain min-label propagation needs diameter rounds and a
    25-round cap would silently split it; the large-star/small-star scheme
    must converge in O(log n) rounds. Also covers a long chain entered in
    reversed-edge orientation (worst case for naive propagation)."""
    import math

    from feature_extractor_spark.operators.dedup import near_dup_clusters

    n = 60
    edges = [(i + 1, i) for i in range(1, n)]  # reversed orientation
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(
            pairs, nodes, "doc_id", stats=stats, driver_max_edges=0
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    # star-contraction round bound (each round = large-star + small-star)
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)) + 1, stats


def test_near_dup_clusters_raises_on_iteration_exhaustion(spark):
    """max_iter exhaustion must RAISE, never silently return non-canonical
    labels (a >max_iter component split across survivors is data loss)."""
    import pytest

    from feature_extractor_spark.operators.dedup import near_dup_clusters

    edges = [(i + 1, i) for i in range(1, 40)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 41)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(
            pairs, nodes, "doc_id", max_iter=1, driver_max_edges=0
        )


def test_near_dup_clusters_string_ids(spark):
    """String doc_ids (the documents-table reality) order lexicographically;
    canonical must be the lexicographic component min."""
    from feature_extractor_spark.operators.dedup import near_dup_clusters

    edges = [("doc_b", "doc_c"), ("doc_c", "doc_a"), ("doc_x", "doc_y")]
    nodes = spark.createDataFrame(
        [("doc_a",), ("doc_b",), ("doc_c",), ("doc_x",), ("doc_y",), ("doc_z",)],
        "doc_id string",
    )
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(pairs, nodes, "doc_id").collect()
    }
    assert got == {
        "doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
        "doc_x": "doc_x", "doc_y": "doc_x", "doc_z": "doc_z",
    }


def test_near_dup_clusters_random_graphs_vs_union_find(spark):
    """Star contraction == union-find on seeded random graphs of varied
    shape (sparse, dense, many components, self-loops, duplicate edges)."""
    import random

    from feature_extractor_spark.operators.dedup import near_dup_clusters

    for seed, n, m in [(1, 30, 15), (2, 40, 80), (3, 25, 5), (4, 50, 50)]:
        rnd = random.Random(seed)
        edges = [
            (rnd.randrange(1, n + 1), rnd.randrange(1, n + 1)) for _ in range(m)
        ]
        nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in near_dup_clusters(pairs, nodes, "doc_id").collect()
        }

        parent = {i: i for i in range(1, n + 1)}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                parent[find(a)] = find(b)
        comp: dict = {}
        for i in parent:
            comp.setdefault(find(i), []).append(i)
        exp = {i: min(comp[find(i)]) for i in parent}
        assert got == exp, f"seed={seed}"


def test_minhash_lsh_pairs_tokens_python_oracle(spark):
    """Token-array (input_hint payload) minhash dedup: found pairs and
    their Jaccard values must match a plain-Python oracle over the same
    hashed token n-gram sets."""
    from feature_extractor_spark.operators.dedup import (
        _M31,
        minhash_lsh_pairs_tokens,
    )

    base = list(range(100, 160))          # 60 tokens
    near = base[:55] + [999, 998, 997, 996, 995]   # ~overlapping
    other = list(range(5000, 5060))       # disjoint
    rows = [(1, base), (2, near), (3, other), (4, base[:3])]  # 4: too short
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs_tokens(
            df, gram_n=5, threshold=0.3
        ).collect()
    }

    MULTS = [536870909, 402653171, 268435399, 134217689, 67108859]

    def gram_set(tokens):
        hs = [(t * 2654435761 + 40503) % _M31 for t in tokens]
        return {
            sum((hs[i + j] * MULTS[j]) % _M31 for j in range(5)) % _M31
            for i in range(len(hs) - 4)
        }

    sets = {i: gram_set(t) for i, t in rows}
    exp = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.3:
                    exp[(a, b)] = j
    # (1,2) well above threshold -> banding recall is certain; disjoint and
    # too-short docs must not pair
    assert (1, 2) in exp
    assert set(got) == set(exp)
    for k, j in exp.items():
        assert abs(got[k] - j) < 1e-12


def _blobs(spark, n_clusters=8, per_cluster=40, dim=32, seed=3):
    """Clustered unit vectors (ANN-friendly, unlike the near-orthogonal
    driver embeddings)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            v = c + 0.15 * rng.normal(size=dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_and_adc_match_numpy(spark):
    """PQ codes and ADC distances must equal a direct NumPy evaluation of
    the same codebooks (the distributed path adds nothing numerically)."""
    import numpy as np

    from feature_extractor_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    corpus = _blobs(spark, n_clusters=4, per_cluster=25, dim=16)
    books, d = pq_codebooks(corpus, m=4, k=8, sample_size=100)
    assert books.shape == (4, 8, 4) and d == 16

    codes = {
        r["vec_id"]: list(r["pq_code"]) for r in pq_encode(corpus, books).collect()
    }
    X = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
         for r in corpus.collect()}
    for vid, x in list(X.items())[:20]:
        exp = [
            int(np.argmin(((books[s] - x[s * 4 : (s + 1) * 4]) ** 2).sum(axis=1)))
            for s in range(4)
        ]
        assert codes[vid] == exp, vid

    q = corpus.filter("vec_id % 50 = 0")
    got = pq_topk(q, pq_encode(corpus, books), books, k=3).collect()
    qx = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
          for r in q.collect()}
    for r in got:
        x = qx[r["query_id"]]
        c = codes[r["neighbor_id"]]
        exp_d = sum(
            ((x[s * 4 : (s + 1) * 4] - books[s][c[s]]) ** 2).sum() for s in range(4)
        )
        assert abs(r["adc_distance"] - exp_d) < 1e-9


def test_pq_topk_recall_on_clustered_data(spark):
    """ADC over 8-byte codes must recover most true neighbors on clustered
    embeddings (the representative case PQ exists for)."""
    from feature_extractor_spark.operators.similarity import (
        cosine_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    corpus = _blobs(spark, n_clusters=8, per_cluster=40, dim=32)
    books, _ = pq_codebooks(corpus, m=8, k=32, sample_size=320)
    codes = pq_encode(corpus, books)
    q = corpus.filter("vec_id % 40 = 0")

    exact = cosine_topk(q, corpus, k=10)
    approx = pq_topk(q, codes, books, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall

    # determinism
    again = {(r["query_id"], r["neighbor_id"]) for r in
             pq_topk(q, codes, books, k=10).collect()}
    assert again == a


def test_ivfpq_topk_recall_and_determinism(spark):
    """IVF+PQ composition: candidates only from probed cells, ADC scoring
    on codes — recall on clustered data stays usable, output deterministic."""
    from feature_extractor_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    corpus = _blobs(spark, n_clusters=8, per_cluster=40, dim=32)
    q = corpus.filter("vec_id % 40 = 0")

    exact = cosine_topk(q, corpus, k=10)
    approx = ivfpq_topk(
        q, corpus, k=10, n_lists=8, n_probe=4, m=8, k_codes=32,
        sample_size=320,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall

    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            q, corpus, k=10, n_lists=8, n_probe=4, m=8, k_codes=32,
            sample_size=320,
        ).collect()
    }
    assert again == a


def test_ivfpq_residual_beats_raw_recall(spark):
    """IVFADC (residual=True) encodes x - centroid[cell]; residuals have
    far less variance than raw vectors, so at IDENTICAL (m, k_codes) the
    codes reconstruct tighter and recall vs exact cosine top-k must be at
    least the raw-vector variant's. Both paths stay deterministic."""
    from feature_extractor_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    corpus = _blobs(spark, n_clusters=8, per_cluster=40, dim=32)
    q = corpus.filter("vec_id % 40 = 0")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(q, corpus, k=10).collect()}

    kwargs = dict(k=10, n_lists=8, n_probe=4, m=8, k_codes=32, sample_size=320)

    def run(residual):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in ivfpq_topk(q, corpus, residual=residual, **kwargs).collect()
        }

    raw = run(False)
    res = run(True)
    recall_raw = len(exact & raw) / len(exact)
    recall_res = len(exact & res) / len(exact)
    assert recall_res >= recall_raw, (recall_res, recall_raw)
    assert recall_res >= 0.6, recall_res
    # determinism of the residual path
    assert run(True) == res


def test_shared_ngram_pairs_finds_copy_paste_minhash_misses(spark):
    """Two long docs sharing one verbatim 25-word span: Jaccard over the
    whole docs is far below any minhash threshold, but the shared-n-gram
    detector must flag the pair (and count its shared grams), while
    unrelated docs stay unpaired. The df-cut must drop boilerplate grams."""
    from feature_extractor_spark.operators.dedup import (
        jaccard_pairs,
        shared_ngram_pairs,
    )

    span = " ".join(f"span{i}" for i in range(25))
    d1 = " ".join(f"alpha{i}" for i in range(200)) + " " + span
    d2 = span + " " + " ".join(f"beta{i}" for i in range(200))
    d3 = " ".join(f"gamma{i}" for i in range(150))
    boiler = "all rights reserved " * 10
    docs = spark.createDataFrame(
        [("a", d1), ("b", d2), ("c", d3),
         ("x1", boiler + "unique x1 tail"), ("x2", boiler + "other x2 tail"),
         ("x3", boiler + "third x3 tail")],
        "doc_id string, text string",
    )

    got = {
        (r["id_a"], r["id_b"]): r["n_shared_grams"]
        for r in shared_ngram_pairs(docs, n=20, max_gram_docs=2).collect()
    }
    assert ("a", "b") in got and got[("a", "b")] >= 1
    assert not any("c" in pair for pair in got)
    # boilerplate grams occur in 3 docs > max_gram_docs=2 -> x-pairs dropped
    assert not any(p[0].startswith("x") for p in got)

    # whole-doc jaccard is tiny: the minhash path would never pair a,b
    jac = jaccard_pairs(docs.filter("doc_id in ('a','b')"), threshold=0.3)
    assert jac.count() == 0


def test_contamination_flags_gpt3_style(spark):
    """A training doc containing a benchmark question's 13-gram verbatim
    must flag contaminated with the right gram count; clean docs and
    docs sharing only short overlaps must not. Oracle: Python set
    intersection over lowercase word 13-grams."""
    from feature_extractor_spark.operators.dedup import contamination_flags

    bench_q = " ".join(f"benchword{i}" for i in range(20))
    filler = " ".join(f"filler{i}" for i in range(60))
    short_overlap = " ".join(f"benchword{i}" for i in range(8))  # < n words
    rows = [
        ("train_clean", filler),
        ("train_leak", f"{filler} {bench_q} more trailing text here"),
        ("train_short", f"{short_overlap} {filler}"),
        ("train_tiny", "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench = spark.createDataFrame(
        [("q1", bench_q), ("q2", "unrelated benchmark question entirely")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r
        for r in contamination_flags(docs, bench, n=13).collect()
    }
    assert set(got) == {r[0] for r in rows}
    assert got["train_leak"]["is_contaminated"]
    for clean in ("train_clean", "train_short", "train_tiny"):
        assert not got[clean]["is_contaminated"], clean
        assert got[clean]["n_contaminated_grams"] == 0

    # gram-count oracle: distinct 13-grams of the doc ∩ benchmark grams
    def grams(t, n=13):
        w = [x.lower() for x in t.split()]
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    bench_g = grams(bench_q) | grams("unrelated benchmark question entirely")
    exp = len(grams(rows[1][1]) & bench_g)
    assert got["train_leak"]["n_contaminated_grams"] == exp > 0


def test_curate_decontaminates_against_benchmark(spark):
    """curate(benchmark=...) drops exactly the docs sharing an n-gram with
    the eval set and keeps the rest of the pipeline output unchanged."""
    from feature_extractor_spark.plans.tokens_pipeline import curate

    bench_q = " ".join(f"evalword{i}" for i in range(15))
    mk = lambda i: " ".join(f"doc{i}word{j}" for j in range(40))
    rows = [(f"d{i}", mk(i), "web") for i in range(6)]
    rows.append(("d_leak", f"{mk(99)} {bench_q}", "web"))
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    bench = spark.createDataFrame([("q", bench_q)], "doc_id string, text string")

    base = {r["doc_id"] for r in curate(docs, context_len=64).collect()}
    deconned = {
        r["doc_id"]
        for r in curate(docs, context_len=64, benchmark=bench).collect()
    }
    assert "d_leak" in base
    assert deconned == base - {"d_leak"}


def test_semantic_dedup_matches_exact_pipeline_on_blobs(spark):
    """SemDeDup (cluster-bounded pairs + closure) must equal the exact
    all-pairs near-dup pipeline on clustered data where duplicate pairs
    never straddle clusters, keep deterministic component-min survivors,
    and RAISE on an oversized cell instead of attempting the quadratic
    GEMM."""
    import numpy as np
    import pytest as _pytest

    from feature_extractor_spark.operators.dedup import near_dup_clusters
    from feature_extractor_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for j in range(20):
            # every other vector is a tight near-dup of the previous one
            v = c + (0.001 if j % 2 else 0.4) * rng.normal(size=16)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = semantic_dedup(emb, n_clusters=6, threshold=0.999, sample_size=200)
    got_map = {r["vec_id"]: r["canonical_id"] for r in got.collect()}
    assert len(got_map) == len(rows)

    exact_pairs = embedding_near_dup_pairs(emb, threshold=0.999, exact=True)
    exp = {
        r["vec_id"]: r["canonical_id"]
        for r in near_dup_clusters(exact_pairs, emb, "vec_id").collect()
    }
    assert got_map == exp
    # it actually deduplicates something
    assert len(set(got_map.values())) < len(rows)

    # determinism
    again = {r["vec_id"]: r["canonical_id"] for r in
             semantic_dedup(emb, n_clusters=6, threshold=0.999,
                            sample_size=200).collect()}
    assert again == got_map

    # oversized-cell guard: 1 cluster -> every row in one cell > cap
    with _pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup(
            emb, n_clusters=1, threshold=0.999, sample_size=200,
            max_cluster_rows=50,
        ).collect()


def test_line_dedup_corpus_removes_boilerplate(spark):
    """The C4 across-corpus rule: a line appearing in >= min_docs distinct
    docs vanishes from all of them; unique lines, intra-doc repeats below
    the doc threshold, and empty lines survive; untouched docs round-trip
    byte-identical."""
    from feature_extractor_spark.operators.dedup import line_dedup_corpus

    banner = "Accept our cookies to continue"
    rows = [
        ("d1", f"{banner}\nunique one\n\nlast line."),
        ("d2", f"intro text\n{banner}\nmore content"),
        ("d3", f"{banner}\nclosing words"),
        # banner twice in ONE doc only -> 1 distinct doc -> stays
        ("d4", "solo banner\nsolo banner\nbody"),
        ("d5", "totally untouched\n\ndocument text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in line_dedup_corpus(docs, min_docs=3).collect()}

    assert got["d1"]["text"] == "unique one\n\nlast line."
    assert got["d2"]["text"] == "intro text\nmore content"
    assert got["d3"]["text"] == "closing words"
    assert got["d1"]["n_removed_lines"] == 1
    assert got["d4"]["text"] == rows[3][1] and got["d4"]["n_removed_lines"] == 0
    assert got["d5"]["text"] == rows[4][1] and got["d5"]["n_removed_lines"] == 0

    # oracle on real data: line occurrence counts from a Python pass
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = line_dedup_corpus(real, min_docs=2)
    import collections

    texts = {r["doc_id"]: r["text"] for r in real.collect()}
    cnt = collections.Counter()
    for t in texts.values():
        for ln in {l.strip() for l in t.split("\n") if l.strip()}:
            cnt[ln] += 1
    common = {l for l, c in cnt.items() if c >= 2}
    for r in out.collect():
        exp_lines = [
            l for l in texts[r["doc_id"]].split("\n")
            if l.strip() == "" or l.strip() not in common
        ]
        assert r["text"] == "\n".join(exp_lines), r["doc_id"]


def test_c4_clean_line_and_page_rules(spark):
    from feature_extractor_spark.functions.text import c4_clean

    doc = "\n".join(
        [
            "This is a proper sentence with enough words.",  # kept
            "short.",                                        # < 3 words
            "no terminal punctuation here",                  # no punct
            "Please enable JavaScript to view this page.",   # javascript
            'He said "stop right there."',                   # kept (quote end)
        ]
    )
    rows = [
        ("good", doc + "\nAnother fine sentence here. And one more now. Plus a third!"),
        ("lorem", "Lorem ipsum dolor sit amet. More words here today. Third sentence is present."),
        ("brace", "function() { return 1; } This has code. Two more sentences. Three now here."),
        ("short", "Only one good sentence here."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in c4_clean(df).collect()}

    kept_lines = got["good"]["text_clean"].split("\n")
    assert "This is a proper sentence with enough words." in kept_lines
    assert 'He said "stop right there."' in kept_lines
    assert not any("JavaScript" in l for l in kept_lines)
    assert not any(l == "short." for l in kept_lines)
    assert not any("no terminal" in l for l in kept_lines)
    assert got["good"]["c4_keep"]

    assert got["lorem"]["c4_has_lorem"] and not got["lorem"]["c4_keep"]
    assert got["brace"]["c4_has_brace"] and not got["brace"]["c4_keep"]
    assert got["short"]["c4_too_short"] and not got["short"]["c4_keep"]


def test_semantic_dedup_blockwise_and_autosize(spark):
    """ADVICE r5 fixes: (a) the in-cell pair stage is blockwise — a tiny
    pair_block_rows that forces many slabs per cell must give byte-equal
    results to one big block; (b) n_clusters=None auto-sizes from the
    corpus count and max_cluster_rows so every cell stays under the cap
    even on a skewed blob corpus."""
    import numpy as np

    from feature_extractor_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(4, 12))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    # skewed: cluster 0 has 60 rows, the rest 10 each
    for ci, c in enumerate(centers):
        for j in range(60 if ci == 0 else 10):
            v = c + (0.001 if j % 2 else 0.4) * rng.normal(size=12)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    base = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup(
            emb, n_clusters=4, threshold=0.999, sample_size=200
        ).collect()
    }
    blocked = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup(
            emb, n_clusters=4, threshold=0.999, sample_size=200,
            pair_block_rows=3,
        ).collect()
    }
    assert blocked == base
    assert len(set(base.values())) < len(rows)  # it deduplicates

    # auto-sizing: cap=80 -> target mean cell 10 -> C=ceil(90/10)=9 cells;
    # must complete WITHOUT tripping the oversized-cell RAISE despite the
    # 60-row skewed blob, and still dedup within blobs
    auto = semantic_dedup(
        emb, n_clusters=None, threshold=0.999, sample_size=200,
        max_cluster_rows=80,
    )
    got = {r["vec_id"]: r["canonical_id"] for r in auto.collect()}
    assert len(got) == len(rows)
    assert len(set(got.values())) < len(rows)


def test_line_dedup_corpus_null_text_passthrough(spark):
    """ADVICE r5: NULL-text docs must survive line_dedup_corpus unchanged
    (n_removed_lines=0), not silently vanish via the rebuild join."""
    from feature_extractor_spark.operators.dedup import line_dedup_corpus

    banner = "Accept our cookies to continue"
    rows = [
        ("d1", f"{banner}\nkeep me"),
        ("d2", f"{banner}\nother body"),
        ("d3", f"{banner}\nthird body"),
        ("dnull", None),
        ("dempty", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in line_dedup_corpus(docs, min_docs=3).collect()}

    assert set(got) == {"d1", "d2", "d3", "dnull", "dempty"}
    assert got["d1"]["text"] == "keep me"
    assert got["dnull"]["text"] is None
    assert got["dnull"]["n_removed_lines"] == 0
    assert got["dempty"]["text"] == ""
    assert got["dempty"]["n_removed_lines"] == 0


def test_remove_duplicate_spans_exact_substr(spark):
    """Lee et al. ExactSubstr removal (round 6): a verbatim >= min_len
    word span shared by two otherwise Jaccard-dissimilar docs is removed
    from BOTH; the dissimilar remainders survive; a within-doc repeat is
    removed at every occurrence; untouched docs round-trip byte-identical
    (original whitespace included); spans shorter than min_len stay."""
    from feature_extractor_spark.operators.dedup import remove_duplicate_spans

    span = " ".join(f"S{i}" for i in range(25))
    short_span = " ".join(f"T{i}" for i in range(10))  # < min_len: stays
    rep = " ".join(f"R{i}" for i in range(22))
    rows = [
        (1, f"alpha beta gamma {span} delta epsilon {short_span}"),
        (2, f"one two three four five {span} six seven {short_span}"),
        (3, "totally  unrelated\twords nothing shared here at all"),
        (4, f"repeat {rep} middle {rep} end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, min_len=20).collect()
    }
    assert got[1]["text"] == f"alpha beta gamma delta epsilon {short_span}"
    assert got[2]["text"] == f"one two three four five six seven {short_span}"
    assert got[1]["n_dup_spans"] == 1 and got[1]["n_removed_tokens"] == 25
    # untouched doc keeps its exact original bytes (double space + tab)
    assert got[3]["text"] == rows[2][1] and got[3]["n_removed_tokens"] == 0
    # within-doc duplication: both occurrences removed
    assert got[4]["text"] == "repeat middle end"
    assert got[4]["n_dup_spans"] == 2 and got[4]["n_removed_tokens"] == 44

    # the remainders are Jaccard-dissimilar -> near-dup dedup would have
    # missed this pair entirely (the gap this operator closes)
    a = set(got[1]["text"].split())
    b = set(got[2]["text"].split())
    jacc = len(a & b) / len(a | b)
    assert jacc < 0.5

    # overlapping duplicated grams merge into ONE maximal span, not many:
    # a 40-word shared span at min_len=20 yields exactly 1 span of 40
    long_span = " ".join(f"L{i}" for i in range(40))
    df2 = spark.createDataFrame(
        [(1, f"x {long_span} y"), (2, f"p q {long_span} r")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df2, min_len=20).collect()
    }
    assert got2[1]["n_dup_spans"] == 1 and got2[1]["n_removed_tokens"] == 40
    assert got2[1]["text"] == "x y" and got2[2]["text"] == "p q r"


def test_curate_exact_span_stage(spark):
    """exact_span_min_len wires span removal into curate() BEFORE dedup
    identity: two docs sharing a big span but nothing else both survive
    dedup (their cleaned texts differ), with the span gone from the
    packed corpus."""
    from feature_extractor_spark.plans.tokens_pipeline import curate

    span = " ".join(f"S{i}" for i in range(30))
    rows = [
        ("a", f"alpha beta gamma delta epsilon {span}", "web"),
        ("b", f"one two three four five six {span}", "web"),
        ("c", "plain document with enough words to pass the filters", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = curate(
        docs,
        near_dup_threshold=0.9,
        context_len=64,
        exact_span_min_len=20,
    ).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {"a", "b", "c"}  # nothing dropped: remainders dissimilar
    texts = {r["doc_id"]: r["text"] for r in out}
    for t in texts.values():
        assert "S0" not in t and "S29" not in t  # the span is gone


def test_remove_duplicate_spans_tokens_payload(spark):
    """ExactSubstr over the input_hint payload (tokens:array<int32>): a
    duplicated >= min_len token span is cut from every sequence (element
    type preserved, n_tok recomputed); clean sequences keep their exact
    original arrays; min_len=50 default matches Lee et al. §4.1."""
    import numpy as np

    from feature_extractor_spark.operators.dedup import (
        remove_duplicate_spans_tokens,
    )

    rng = np.random.default_rng(7)
    span = [int(x) for x in rng.integers(10_000, 50_000, size=30)]
    a = [1, 2, 3] + span + [4, 5]
    b = [9, 8, 7, 6] + span + [11]
    c = [int(x) for x in rng.integers(0, 9_000, size=60)]
    rows = [
        ("a", a, len(a), "web"),
        ("b", b, len(b), "web"),
        ("c", c, len(c), "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans_tokens(df, min_len=20).collect()
    }
    assert got["a"]["tokens"] == [1, 2, 3, 4, 5]
    assert got["b"]["tokens"] == [9, 8, 7, 6, 11]
    assert got["a"]["n_removed_tokens"] == 30 and got["a"]["n_dup_spans"] == 1
    assert got["a"]["n_tok"] == 5 and got["b"]["n_tok"] == 5
    assert got["c"]["tokens"] == c and got["c"]["n_tok"] == 60
    assert got["c"]["n_removed_tokens"] == 0
    # dtype preserved through the rebuild
    assert dict(remove_duplicate_spans_tokens(df, min_len=20).dtypes)[
        "tokens"
    ] == "array<int>"


def test_line_dedup_paragraph_granularity(spark):
    """sep='\\n\\n' removes corpus-wide repeated PARAGRAPHS while leaving
    lines inside unique paragraphs alone — even when one line of the
    unique paragraph coincides with a line of the boilerplate block
    (the case the line rule would over-remove)."""
    from feature_extractor_spark.operators.dedup import line_dedup_corpus

    license_block = "licensed under terms\nsee the file for details"
    rows = []
    for i in range(4):
        body = f"unique paragraph {i} one\nsee the file for details"
        rows.append((f"d{i}", f"{license_block}\n\n{body}", ))
    rows.append(("solo", "standalone text\n\nno shared blocks here"))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    out = {
        r["doc_id"]: r
        for r in line_dedup_corpus(
            docs, "doc_id", "text", min_docs=3, sep="\n\n"
        ).collect()
    }
    for i in range(4):
        t = out[f"d{i}"]["text"]
        assert license_block not in t
        # the shared LINE inside the unique paragraph survives: paragraph
        # granularity removes blocks, not lines
        assert "see the file for details" in t
        assert out[f"d{i}"]["n_removed_lines"] == 1
    assert out["solo"]["text"] == "standalone text\n\nno shared blocks here"
    assert out["solo"]["n_removed_lines"] == 0


def test_span_removal_convergence_probe_and_multi_pass(spark):
    """VERDICT r6 item 5: removing a duplicated span can STITCH a new
    duplicated span into existence (docs 1/2 share X1..X4; after its
    removal doc 1 becomes 'a1 a2 a3 a4', which doc 3 already contains).
    The residual probe must measure that (>0 after one pass), and
    max_passes must drive it to 0 on the second pass with counters
    accumulated across passes."""
    from feature_extractor_spark.operators.dedup import remove_duplicate_spans

    rows = [
        (1, "a1 a2 X1 X2 X3 X4 a3 a4"),
        (2, "b1 b2 X1 X2 X3 X4 b3 b4"),
        (3, "d1 a1 a2 a3 a4 d2"),
        (4, "u1 u2 u3 u4 u5 u6 u7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    stats1: dict = {}
    out1 = remove_duplicate_spans(df, min_len=4, stats=stats1)
    got1 = {r["doc_id"]: r for r in out1.collect()}
    assert stats1["n_passes"] == 1
    assert stats1["n_residual_dup_grams"] > 0  # the stitched new dup
    assert got1[1]["text"] == "a1 a2 a3 a4"  # pass 1 only cut X
    assert got1[3]["text"] == "d1 a1 a2 a3 a4 d2"  # untouched in pass 1

    stats2: dict = {}
    out2 = remove_duplicate_spans(df, min_len=4, max_passes=3, stats=stats2)
    got2 = {r["doc_id"]: r for r in out2.collect()}
    assert stats2["n_passes"] == 2  # converged before the budget of 3
    assert stats2["n_residual_dup_grams"] == 0
    assert got2[1]["text"] == ""  # X, then the stitched span
    assert got2[2]["text"] == "b1 b2 b3 b4"
    assert got2[3]["text"] == "d1 d2"
    assert got2[4]["text"] == "u1 u2 u3 u4 u5 u6 u7"  # byte-identical
    # counters accumulate across passes
    assert got2[1]["n_removed_tokens"] == 8 and got2[1]["n_dup_spans"] == 2
    assert got2[3]["n_removed_tokens"] == 4 and got2[3]["n_dup_spans"] == 1

    with pytest.raises(ValueError):
        remove_duplicate_spans(df, min_len=4, max_passes=0)


def test_near_dup_clusters_driver_path_equals_distributed(spark):
    """r7 bounded driver union-find: identical canonical assignment to the
    star-contraction path on a graph mixing chains, merged components,
    isolated nodes, and reversed orientations; stats reports which path
    ran. Default invocations on small edge sets take the driver path."""
    from feature_extractor_spark.operators.dedup import near_dup_clusters

    edges = (
        [(i + 1, i) for i in range(1, 30)]  # 30-chain, reversed
        + [(40, 45), (45, 41), (41, 49)]  # merged component min=40
        + [(70, 71)]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 100)], "doc_id long"
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    st_driver: dict = {}
    a = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(
            pairs, nodes, "doc_id", stats=st_driver
        ).collect()
    }
    st_dist: dict = {}
    b = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(
            pairs, nodes, "doc_id", stats=st_dist, driver_max_edges=0
        ).collect()
    }
    assert a == b
    assert st_driver["path"] == "driver" and st_driver["rounds"] == 0
    assert st_dist["path"] == "distributed" and st_dist["rounds"] >= 1
    assert st_driver["n_edges"] == st_dist["n_edges"] == len(set(edges))
    assert a[30] == 1 and a[49] == 40 and a[71] == 70 and a[99] == 99


def test_near_dup_clusters_driver_path_string_ids_and_empty(spark):
    from feature_extractor_spark.operators.dedup import near_dup_clusters

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("z",)], "doc_id string"
    )
    pairs = spark.createDataFrame([("c", "b"), ("b", "a")], "id_a string, id_b string")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(pairs, nodes, "doc_id").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}
    # empty edge set: everyone canonical to themselves, no crash
    empty = spark.createDataFrame([], "id_a string, id_b string")
    got2 = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_clusters(empty, nodes, "doc_id").collect()
    }
    assert got2 == {k: k for k in ("a", "b", "c", "z")}
