"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: cross join queries × corpus with the dot
  product as built-in ``aggregate(zip_with(...))`` — JVM-side, no Python.
  The query side is broadcast (it's small by construction), so the "cross
  join" is really a broadcast nested loop that streams the corpus once:
  the correct baseline at any corpus size as long as |queries| is bounded.
- LSH-bucketed variant (scale path): random-hyperplane signatures bucket
  the corpus; candidates only from matching buckets, then exact cosine
  re-rank. Recall < 1 by design; the bench compares both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extractor_spark.session import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
    method: str = "gemm",
    max_queries: int = 100_000,
) -> DataFrame:
    """Brute-force cosine top-k. Returns (query_id, neighbor_id, cosine,
    rank). Ties broken by neighbor_id (deterministic).

    ``method``:
    - "gemm" (default): one float64 GEMM per Arrow corpus batch against the
      broadcast query matrix, then a map-side PARTIAL top-k per (query,
      batch) — only partitions*|Q|*k candidate rows reach the final
      ranking shuffle, vs |corpus|*|Q| scored rows for the expression
      path. Partial selection orders by (-cosine, neighbor_id), the same
      total order as the final rank, so the merge is exact including ties.
      ~10x over the interpreted zip_with/aggregate dot product (Catalyst
      does not codegen lambda bodies).
    - "expr": the all-built-in broadcast-nested-loop form — keeps the
      whole plan in Column expressions for composition/oracle symmetry.
    """
    if method == "expr":
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            _norm(F.col(vec_col)).alias("cn"),
        )
        joined = c.crossJoin(F.broadcast(q))
        if not include_self:
            joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
        scored = joined.select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
        return _rank_topk(scored, k)
    if method != "gemm":
        raise ValueError(f"unknown method: {method}")

    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # query side is bounded by contract (it was broadcast in the expr path
    # too); float64 throughout so cosines match a float64 oracle at
    # rounding precision. The limit(max_queries+1) makes the bound a hard
    # guard instead of a driver OOM: an oversized query frame fails loudly
    # with a pointer to method='expr' (which at least dies at the broadcast
    # threshold) before any rows ship to the driver.
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk(method='gemm'): query side exceeds max_queries="
            f"{max_queries} rows — the gemm path collects + broadcasts the "
            f"full query matrix. Pass a bounded query set, raise "
            f"max_queries deliberately, or use method='expr'."
        )
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    spark = corpus.sparkSession
    if not qrows:
        return _rank_topk(local_frame(spark, [], out_schema), k)
    q_ids = np.asarray([r[0] for r in qrows])
    Qm = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qn = np.maximum(np.linalg.norm(Qm, axis=1), 1e-300)
    bq = spark.sparkContext.broadcast((q_ids, Qm, qn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, Q, qnorm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cn = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
            S = (C @ Q.T) / cn[:, None] / qnorm[None, :]  # (B, Q)
            n_ids = pdf[id_col].to_numpy()
            if not include_self:
                S = np.where(n_ids[:, None] == ids_q[None, :], -np.inf, S)
            kk = min(k, len(pdf))
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids_q)):
                # exact partial: same (-cosine, neighbor_id) order as the
                # final rank, so ties at the k-boundary survive the merge
                idx = np.lexsort((n_ids, -S[:, j]))[:kk]
                idx = idx[np.isfinite(S[idx, j])]
                out_q.extend([ids_q[j]] * len(idx))
                out_n.extend(n_ids[idx])
                out_c.extend(S[idx, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(partial, k)


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 11,
    max_queries: int = 100_000,
) -> DataFrame:
    """Random-hyperplane LSH ANN: ``n_tables`` independent signatures of
    ``n_planes`` bits each; candidates = same (table, signature) bucket;
    exact cosine re-rank of candidates via the float64 GEMM kernel (same
    operation order as ``cosine_topk``'s gemm path). Hyperplanes are
    seeded literals folded into the plan — identical on driver and
    executors. Query side is bounded by contract (``max_queries`` guard,
    same rationale as cosine_topk)."""
    import random

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rnd = random.Random(seed)
    tables = [
        [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]

    def signature(vec, planes):
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(p) for p in plane]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            for plane in planes
        ]
        out = F.lit(0)
        for i, b in enumerate(bits):
            out = out + F.shiftleft(b.cast("long"), i)
        return out

    def banded(df, side):
        structs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    signature(F.col(vec_col), tables[t]).alias("sig"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"{side}_v"),
            F.explode(structs).alias("b"),
        ).select(f"{side}_id", f"{side}_v", F.col("b.table").alias("table"), F.col("b.sig").alias("sig"))

    qb = banded(queries, "query")
    cb = banded(corpus, "neighbor")
    cand = (
        cb.join(F.broadcast(qb.drop("query_v")), ["table", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "neighbor_v")
    )
    # exact re-rank via the same float64 GEMM kernel as cosine_topk: one
    # matrix product per Arrow batch against the broadcast query matrix
    # (Catalyst does not codegen HOF lambda bodies, so the interpreted
    # zip_with/aggregate dot is ~10x slower per candidate). Scoring is
    # restricted to (query, candidate) pairs the banded join produced.
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from pyspark.sql import types as T

    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"lsh_bucketed_topk: query side exceeds max_queries="
            f"{max_queries} rows — the re-rank collects + broadcasts the "
            f"query matrix. Pass a bounded query set or raise max_queries."
        )
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    spark = corpus.sparkSession
    if not qrows:
        return _rank_topk(local_frame(spark, [], out_schema), k)
    q_index = {r[0]: i for i, r in enumerate(qrows)}
    Qm = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qn = np.maximum(np.linalg.norm(Qm, axis=1), 1e-300)
    bq = spark.sparkContext.broadcast((q_index, Qm, qn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, Q, qnorm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["neighbor_v"]]
            )
            cn = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
            qi = pdf["query_id"].map(idx).to_numpy()
            # same float64 operation order as cosine_topk's gemm kernel —
            # keeps the two paths bit-identical on shared pairs
            cos = np.einsum("ij,ij->i", C, Q[qi]) / cn / qnorm[qi]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cosine": cos,
                }
            )

    scored = cand.mapInPandas(score, out_schema)
    return _rank_topk(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int | None = None,
    seed: int = 17,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    ``exact=False`` (scale path): random-hyperplane LSH buckets the corpus
    — two vectors with cosine >= 0.9 agree on a random hyperplane with
    p = 1 - acos(0.9)/pi ~ 0.86, so P(same 8-bit signature in >=1 of 6
    tables) > 0.97 — candidates only from shared buckets, exact cosine
    verify. The N^2 term never materializes.

    ``exact=True`` (oracle/baseline): full self-join — only for bounded
    inputs and the DuckDB correctness oracle.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    if exact:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        # bucket ids only (vectors re-attached after dedup) — carrying the
        # arrays through the exploded bucket join would amplify them
        import random

        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        rnd = random.Random(seed)
        tables = [
            [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
            for _ in range(n_tables)
        ]

        def signature(vec, planes):
            out = F.lit(0)
            for i, plane in enumerate(planes):
                bit = F.when(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.array(*[F.lit(p) for p in plane]),
                            lambda x, y: x.cast("double") * y,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    > 0,
                    F.lit(1),
                ).otherwise(F.lit(0))
                out = out + F.shiftleft(bit.cast("long"), i)
            return out

        structs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    signature(F.col(vec_col), tables[t]).alias("sig"),
                )
                for t in range(n_tables)
            ]
        )
        banded = df.select(
            F.col(id_col).alias("id"), F.explode(structs).alias("bkt")
        ).select("id", F.col("bkt.table").alias("table"), F.col("bkt.sig").alias("sig"))
        pairs = (
            banded.alias("x")
            .join(banded.alias("y"), ["table", "sig"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = pairs.join(a, "id_a").join(b, "id_b")
    return (
        cand.select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    sample_size: int = 4096,
    iters: int = 3,
    seed: int = 23,
):
    """Spherical k-means centroids from a bounded, seeded corpus sample.

    Scale shape: the sample is a TakeOrdered over a deterministic hash of
    the id (map-side partial top-k, driver merge — never a full collect),
    Lloyd iterations run driver-side in NumPy on <= sample_size rows, and
    the refined centroids ship back as broadcast literals. Deterministic:
    seeded hash order + fixed iteration count, no RNG at assignment time.
    The values are the same bits on every CPU: each value-bearing reduction
    (row norms, cell means, centroid norms) is NumPy's own, whose summation
    order is fixed by NumPy. BLAS (``X @ C.T``, whose kernel and so its
    rounding OpenBLAS picks per CPU) only chooses an ``argmax`` index.

    Returns (centroids: list[list[float]] unit-normalized, balance: float
    max-cell/mean-cell population on the sample)."""
    import numpy as np

    rows = (
        corpus.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(_M31)))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    if X.size == 0:
        return [], 1.0
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n_lists = min(n_lists, len(X))
    C = X[:n_lists].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                # not np.linalg.norm(m): on a 1-D array it calls BLAS ddot,
                # whose summation order OpenBLAS picks from the CPU
                C[j] = m / max(np.sqrt(np.add.reduce(m * m)), 1e-12)
            # empty cell: keep the previous centroid (deterministic, and the
            # cell simply stays small — balance check below compensates)
    assign = np.argmax(X @ C.T, axis=1)
    counts = np.bincount(assign, minlength=n_lists)
    balance = float(counts.max() / max(counts.mean(), 1e-12))
    return [list(map(float, c)) for c in C], balance


# fold target reused by kmeans_centroids' sample ordering (31-bit positive)
_M31 = (1 << 31) - 1


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    kmeans_iters: int = 3,
    seed: int = 23,
    balance_limit: float = 4.0,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into ``n_lists``
    centroid cells, search only the ``n_probe`` cells nearest each query.

    Centroids come from ``kmeans_centroids`` — a seeded bounded sample
    refined with Lloyd iterations driver-side, so cells stay balanced on
    clustered real embeddings (a raw corpus-row sample makes one cell hold
    most of the corpus — the skew this operator exists to avoid). If the
    sample's max-cell population still exceeds ``balance_limit``x the mean,
    ``n_probe`` widens (doubles, capped at n_lists) to protect recall.

    At 100 TB the cell assignment is a single map-side pass (centroids
    broadcast as literals), the probe join hits only ~n_probe/n_lists of
    the corpus, and the final re-rank is exact cosine.
    Returns (query_id, neighbor_id, cosine, rank)."""
    cents, balance = kmeans_centroids(
        corpus, id_col, vec_col, n_lists, sample_size, kmeans_iters, seed
    )
    if not cents:
        # empty corpus: nothing to search — id type follows the corpus
        # schema (a hardcoded long would break unions for string-id corpora)
        from pyspark.sql import types as T

        id_type = corpus.schema[id_col].dataType
        empty_schema = T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("neighbor_id", id_type),
                T.StructField("cosine", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return local_frame(corpus.sparkSession, [], empty_schema)
    if balance > balance_limit:
        n_probe = min(len(cents), n_probe * 2)
    cent_arr = [
        F.struct(
            F.lit(i).alias("cell"),
            F.array(*[F.lit(x) for x in cv]).alias("cv"),
        )
        for i, cv in enumerate(cents)
    ]
    cents_col = F.array(*cent_arr)

    def best_cells(vec, n):
        """Top-n nearest centroid cells by cosine, as an array<int>."""
        # query-norm dropped from the ranking (constant across cells) and
        # centroid norms are 1.0 by construction — plain dot ranks cells
        # (a HOF lambda re-evaluates its subtree per element, so keep it lean)
        scored = F.transform(
            cents_col,
            lambda c: F.struct(
                _dot(vec, c["cv"]).alias("s"),
                c["cell"].alias("cell"),
            ),
        )
        ordered = F.reverse(F.array_sort(scored))
        return F.transform(F.slice(ordered, 1, n), lambda x: x["cell"])

    c_assign = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(best_cells(F.col(vec_col), 1), 1).alias("cell"),
    )
    q_assign = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(best_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    cand = (
        c_assign.join(F.broadcast(q_assign), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 5,
    seed: int = 29,
):
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public method): the vector
    space splits into ``m`` subspaces; each gets a ``k``-centroid k-means
    codebook so a D-dim float vector compresses to m small codes (m bytes
    at k<=256) — the memory path that lets a 10^12-vector index live in
    RAM. Same bounded-seeded-sample discipline as ``kmeans_centroids``:
    TakeOrdered over a deterministic id hash, driver-side Lloyd on
    <= sample_size rows, codebooks ship back as a broadcast.

    Returns (codebooks: np.ndarray (m, k, D/m) float64, dim: int)."""
    import numpy as np

    X = _pq_sample(corpus, id_col, vec_col, sample_size, seed)
    return _fit_pq(X, m, k, iters, seed), X.shape[1]


def _pq_sample(corpus, id_col, vec_col, sample_size, seed):
    """Bounded deterministic vector sample (driver-side numpy matrix)."""
    import numpy as np

    rows = (
        corpus.select(vec_col)
        .orderBy(
            F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(_M31))
        )
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    if X.size == 0:
        raise ValueError("pq_codebooks: empty corpus")
    return X


def _fit_pq(X, m: int, k: int, iters: int, seed: int):
    """Per-subspace Lloyd k-means over a driver-side sample matrix ``X``
    (rows = training vectors — RAW vectors for plain PQ, residuals
    ``x - centroid[cell]`` for IVFADC). Returns (m, k, D/m) codebooks."""
    import numpy as np

    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        kk = min(k, len(Xs))
        # deterministic init: first kk distinct-ish sample rows
        C = Xs[:kk].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(kk):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
                else:
                    # deterministic re-seed for an empty cell
                    C[j] = Xs[int(rng.integers(0, len(Xs)))]
        books[s, :kk] = C
        if kk < k:
            books[s, kk:] = C[np.arange(k - kk) % kk]
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to PQ codes (array<int>, one code per subspace):
    one Arrow batch at a time, a (B, k) distance GEMM per subspace — no
    per-row Python. Output carries only (id, codes): the m-byte index
    representation."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField(code_col, T.ArrayType(T.IntegerType()), False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m, _, sub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                C = books[s]
                # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row
                d2 = (C**2).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], code_col: list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    k: int = 5,
    max_queries: int = 100_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    (m, k_codes) lookup table of squared subdistances driver-side; scoring
    a corpus vector is m table lookups — no float vectors touched at scan
    time. Map-side partial top-k per Arrow batch (same exact-merge
    discipline as cosine_topk: order by (distance, neighbor_id)).
    Returns (query_id, neighbor_id, adc_distance, rank)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus_codes.sparkSession
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, sub = books.shape
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_topk: query side exceeds max_queries={max_queries}"
        )
    id_type = corpus_codes.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("adc_distance", T.DoubleType()),
        ]
    )
    if not qrows:
        empty = local_frame(spark, [], out_schema)
        return empty.withColumn("rank", F.lit(1)).limit(0)
    q_ids = np.asarray([r[0] for r in qrows])
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # (n_q, m, k) subdistance tables
    tables = np.empty((len(Q), m, kc), dtype=np.float64)
    for s in range(m):
        Qs = Q[:, s * sub : (s + 1) * sub]
        C = books[s]
        tables[:, s, :] = (
            (Qs**2).sum(axis=1)[:, None]
            - 2.0 * (Qs @ C.T)
            + (C**2).sum(axis=1)[None, :]
        )
    bq = spark.sparkContext.broadcast((q_ids, tables))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, tabs = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf[code_col]]
            )  # (B, m)
            n_ids = pdf[id_col].to_numpy()
            B = len(codes)
            rows_q, rows_n, rows_d = [], [], []
            sub_idx = np.arange(m)
            for qi in range(len(ids_q)):
                # ADC: sum of per-subspace table entries at the stored codes
                d = tabs[qi][sub_idx[None, :], codes].sum(axis=1)  # (B,)
                mask = n_ids != ids_q[qi]
                kk = min(k, int(mask.sum()))
                if kk == 0:
                    continue
                dm = np.where(mask, d, np.inf)
                idx = np.lexsort((n_ids, dm))[:kk]
                rows_q.extend([ids_q[qi]] * kk)
                rows_n.extend(n_ids[idx])
                rows_d.extend(dm[idx])
            yield pd.DataFrame(
                {
                    "query_id": rows_q,
                    "neighbor_id": rows_n,
                    "adc_distance": rows_d,
                }
            )

    partial = corpus_codes.select(id_col, code_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_distance").asc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_distance", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 32,
    sample_size: int = 4096,
    seed: int = 23,
    balance_limit: float = 4.0,
    max_queries: int = 100_000,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composition (the standard billion-scale ANN layout):
    coarse k-means cells bound WHICH vectors are scored (n_probe/n_lists
    of the corpus), PQ codes bound WHAT is read per vector (m small codes,
    no floats at scan time). Corpus side is one map-side pass: cell
    assignment from broadcast centroid literals + PQ encode in the same
    Arrow stage; query side broadcasts (id, probed cells) plus per-query
    ADC tables.

    ``residual=False``: codes quantize RAW vectors — simpler, one shared
    (m, k_codes) ADC table per query. ``residual=True`` is the standard
    IVFADC layout (Jegou et al. 2011): codebooks train on and encode the
    residual ``x - centroid[cell]``, which has far less variance than x
    itself, so the same (m, k_codes) code budget reconstructs tighter and
    recall rises (enforced in tests on clustered blobs). The query side
    then needs one ADC table per PROBED CELL — entries are
    ``||(q - c_cell)_s - codeword||^2`` — so tables are (n_q, n_probe, m,
    k_codes) and scoring looks up the candidate's cell slot; the lookup
    rides a dense (n_q, n_lists) slot array, still zero per-row Python.
    Deterministic either way. Returns (query_id, neighbor_id,
    adc_distance, rank)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cents, balance = kmeans_centroids(
        corpus, id_col, vec_col, n_lists, sample_size, seed=seed
    )
    if not cents:
        raise ValueError("ivfpq_topk: empty corpus")
    if balance > balance_limit:
        n_probe = min(len(cents), n_probe * 2)
    spark = corpus.sparkSession
    C = np.asarray(cents, dtype=np.float64)  # (n_lists, dim), unit rows
    if residual:
        Xs = _pq_sample(corpus, id_col, vec_col, sample_size, seed)
        cell_s = np.argmax(Xs @ C.T, axis=1)
        books = _fit_pq(Xs - C[cell_s], m, k_codes, iters=5, seed=seed)
    else:
        books, _ = pq_codebooks(
            corpus, id_col, vec_col, m=m, k=k_codes, sample_size=sample_size,
            seed=seed,
        )

    bc = spark.sparkContext.broadcast(
        (C, np.asarray(books, dtype=np.float64), residual)
    )
    id_type = corpus.schema[id_col].dataType
    enc_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("pq_code", T.ArrayType(T.IntegerType()), False),
        ]
    )

    def assign_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cc, bb, res = bc.value
        mm, _, sub = bb.shape
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cells = np.argmax(X @ cc.T, axis=1).astype(np.int32)
            if res:
                X = X - cc[cells]  # IVFADC: encode the residual
            codes = np.empty((len(X), mm), dtype=np.int32)
            for s in range(mm):
                Xs = X[:, s * sub : (s + 1) * sub]
                B = bb[s]
                d2 = (B**2).sum(axis=1)[None, :] - 2.0 * (Xs @ B.T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": cells, "pq_code": list(codes)}
            )

    corpus_idx = corpus.select(id_col, vec_col).mapInPandas(
        assign_encode, enc_schema
    )
    return _adc_score(
        queries, corpus_idx, C, books, residual,
        id_col=id_col, vec_col=vec_col, k=k, n_probe=n_probe,
        max_queries=max_queries,
    )


def _adc_score(
    queries: DataFrame,
    corpus_idx: DataFrame,
    C,
    books,
    residual: bool,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    max_queries: int,
) -> DataFrame:
    """The query half of IVF(+PQ) ADC search, shared between the inline
    ``ivfpq_topk`` and the persisted-index ``ann_index_topk`` (r8):
    ``corpus_idx`` is the coded corpus (id, cell, pq_code) from any
    source — a fresh ``assign_encode`` pass or a parquet index read —
    and C/books are the (already trained or loaded) centroid matrix and
    PQ codebooks. Behavior and determinism are exactly the pre-refactor
    ivfpq_topk query path (tests pin equality)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus_idx.sparkSession
    C = np.asarray(C, dtype=np.float64)
    id_type = corpus_idx.schema[id_col].dataType

    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(f"adc top-k: query side exceeds max_queries={max_queries}")
    if not qrows:
        return local_frame(
            spark,
            [],
            T.StructType(
                [
                    T.StructField("query_id", id_type),
                    T.StructField("neighbor_id", id_type),
                    T.StructField("adc_distance", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    q_ids = [r[0] for r in qrows]
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    probe = np.argsort(-(Q @ C.T), axis=1)[:, :n_probe]
    B = np.asarray(books, dtype=np.float64)
    mm, kc, sub = B.shape
    bsq = (B**2).sum(axis=2)  # (m, kc)

    def _adc_table(Qmat):
        """(len(Qmat), m, kc) squared-subdistance tables for query rows."""
        t = np.empty((len(Qmat), mm, kc), dtype=np.float64)
        for s in range(mm):
            Qs = Qmat[:, s * sub : (s + 1) * sub]
            t[:, s, :] = (
                (Qs**2).sum(axis=1)[:, None]
                - 2.0 * (Qs @ B[s].T)
                + bsq[s][None, :]
            )
        return t

    q_index = {qid: i for i, qid in enumerate(q_ids)}
    if residual:
        # IVFADC: one table per probed cell — the query-side residual
        # q - c_cell differs per cell. slot_arr maps (query, cell) to its
        # probe slot densely so the scorer stays fully vectorized.
        n_slots = probe.shape[1]
        tables = np.empty((len(Q), n_slots, mm, kc), dtype=np.float64)
        slot_arr = np.full((len(Q), len(C)), -1, dtype=np.int32)
        for j in range(n_slots):
            tables[:, j] = _adc_table(Q - C[probe[:, j]])
            slot_arr[np.arange(len(Q)), probe[:, j]] = j
        bt = spark.sparkContext.broadcast((q_index, tables, slot_arr))
    else:
        tables = _adc_table(Q)
        bt = spark.sparkContext.broadcast((q_index, tables, None))

    probe_rows = [
        (qid, int(c)) for qid, cells in zip(q_ids, probe) for c in cells
    ]
    q_probe = local_frame(
        spark,
        probe_rows,
        T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("cell", T.IntegerType()),
            ]
        ),
    )
    # r10: the broadcast probe join and the Python ADC pass inherit the
    # coded-corpus scan's split count — a compacted single-file codes
    # table put ~6M candidate scorings through ONE task (2.4 s serial,
    # event-log profile) while the cluster idled. Rows are (id, cell,
    # m-byte code): a few MB per million vectors to round-robin.
    from feature_extractor_spark.operators.skew import widen_narrow_scan

    cand = widen_narrow_scan(corpus_idx).join(F.broadcast(q_probe), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )

    score_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("adc_distance", T.DoubleType()),
        ]
    )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, tabs, slots = bt.value
        sub_idx = np.arange(mm)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]]
            )
            qi = pdf["query_id"].map(idx).to_numpy()
            if slots is None:
                d = tabs[qi[:, None], sub_idx[None, :], codes].sum(axis=1)
            else:
                # residual: pick the per-(query, cell) table via the dense
                # slot array (candidates only come from probed cells, so
                # the slot is always >= 0)
                sl = slots[qi, pdf["cell"].to_numpy()]
                d = tabs[
                    qi[:, None], sl[:, None], sub_idx[None, :], codes
                ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf[id_col],
                    "adc_distance": d,
                }
            )

    scored = cand.select("query_id", id_col, "cell", "pq_code").mapInPandas(
        adc, score_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_distance").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_distance", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.95,
    sample_size: int = 4096,
    seed: int = 23,
    max_cluster_rows: int = 20_000,
    pair_block_rows: int = 2_048,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public method): cluster the embedding space with
    spherical k-means, compare pairs ONLY within a cluster (cosine >=
    ``threshold``), take the transitive closure, keep one canonical
    survivor per semantic group. Returns (id_col, canonical_id, cell).

    ``n_clusters=None`` (the default — default invocations self-scale
    instead of raising when a fixed cluster count meets a large corpus)
    auto-sizes: one count job, then C = ceil(N / (max_cluster_rows/8)) —
    the mean cell lands at cap/8 so only ~8x cell skew can trip the
    backstop RAISE. Pass an explicit ``n_clusters`` to pin the cell
    geometry (e.g. to reuse centroids across runs).

    Scale shape: centroids come from the bounded seeded sample
    (``kmeans_centroids``); cell assignment is one Arrow map pass with the
    centroid matrix broadcast; the quadratic term is bounded per cell —
    with C clusters over N rows the pair work is ~N^2/C instead of N^2,
    and each cell's similarity runs inside one ``applyInPandas`` group
    (cells shuffle once on the cell key). The in-cell GEMM is BLOCKWISE:
    peak similarity-matrix memory is ``pair_block_rows * n * 8`` bytes
    (block x n float64), NOT ``n^2 * 8`` — at the default cap of 20k rows
    and 2,048-row blocks that is ~330 MB per group, vs the ~3.2 GB a
    dense 20k x 20k matrix would need (and ~320 GB at 200k). A cell
    larger than ``max_cluster_rows`` still RAISES rather than silently
    attempting quadratic pair WORK — the fix is more clusters, exactly as
    the paper scales (50k clusters for LAION); the cap bounds compute and
    the emitted-pair count, the blocking bounds memory. Closure +
    canonical labeling reuse the star-contraction component machinery
    (``near_dup_clusters``), so survivors are deterministic component
    minima.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if n_clusters is None:
        # auto-size: target a MEAN cell of max_cluster_rows/8 so the RAISE
        # backstop only fires on ~8x skew, not on the expected cell size;
        # one count job, driver-side arithmetic only
        n_rows = corpus.count()
        n_clusters = max(1, -(-n_rows // max(1, int(max_cluster_rows) // 8)))
    cents, _ = kmeans_centroids(
        corpus, id_col, vec_col, n_clusters, sample_size, seed=seed
    )
    if not cents:
        raise ValueError("semantic_dedup: empty corpus")
    spark = corpus.sparkSession
    C = np.asarray(cents, dtype=np.float64)
    bc = spark.sparkContext.broadcast(C)
    id_type = corpus.schema[id_col].dataType

    assign_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField(vec_col, corpus.schema[vec_col].dataType),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cc = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(X, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            cells = np.argmax((X / norms) @ cc.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": cells, vec_col: pdf[vec_col]}
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    cap = int(max_cluster_rows)
    blk = max(1, int(pair_block_rows))

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if n > cap:
            raise ValueError(
                f"semantic_dedup: cell with {n} rows exceeds max_cluster_rows="
                f"{cap}; raise n_clusters (pair work within a cell is "
                f"quadratic by design; memory is bounded at "
                f"pair_block_rows*n*8 = {blk * n * 8} bytes)"
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        Xn = X / norms
        # blockwise upper triangle: each pass materializes only a
        # (block x n) similarity slab, never the full n x n matrix
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n - 1, blk):
            hi = min(lo + blk, n)
            S = Xn[lo:hi] @ Xn.T  # (hi-lo) x n
            ia, ib = np.nonzero(S >= thr)
            ia = ia + lo
            keep = ib > ia  # strict upper triangle in global coords
            out_a.append(ids[ia[keep]])
            out_b.append(ids[ib[keep]])
            out_c.append(S[ia[keep] - lo, ib[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "cosine": np.concatenate(out_c) if out_c else [],
            }
        )

    # two consumers read `assigned` (the in-cell pair stage and the final
    # cell join): without a persist the Arrow assign pass re-executes per
    # consumer (multi-consumer subplans do not share work) — a second full
    # corpus scan at scale. near_dup_clusters materializes eagerly, so the
    # cache is populated there and released before returning.
    assigned = assigned.persist()
    pairs = assigned.groupBy("cell").applyInPandas(cell_pairs, pair_schema)

    from feature_extractor_spark.operators.dedup import near_dup_clusters

    clusters = near_dup_clusters(pairs, corpus, id_col)
    out = clusters.join(
        assigned.select(id_col, "cell"), id_col
    ).select(id_col, "canonical_id", "cell")
    out = out.localCheckpoint(eager=True)
    assigned.unpersist()
    return out
