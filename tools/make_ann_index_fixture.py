"""Generate the committed ANN-index model fixture for the
ann_persisted_topk contract query (VERDICT r8 item 6).

The centroids and PQ codebooks are k-means/Lloyd products (not
SQL-expressible) but DETERMINISTIC (seeded sample + fixed iterations), so
they are committed once and treated as data — exactly the pq_codebooks
fixture discipline. The fixture maker calls ``build_ann_index`` itself
(never a parallel re-implementation), so the committed model is by
construction the model the driver row trains at query time; pytest pins
bit-equality (tests/test_latent_fixtures.py) so a drifted trainer fails
loudly before the driver does.

Everything downstream of the model — corpus cell assignment (argmax
dot), per-subspace code assignment (argmin), the n_probe nearest-cell
probe sets, ADC distances and the top-k ranking — is pure relational
algebra the DuckDB oracle RECOMPUTES from these two files + the
embeddings table, which makes the PERSISTED-index query path itself meet
the driver's hard value-hash signal.

Geometry (keep in sync with plans/entry_queries.ann_persisted_topk):
n_lists=16, m=8, k_codes=16, sample_size=4096, seed=23, residual=False
(residual ADC needs a per-(query, cell) table — expressible but a
combinatorial SQL blow-up; the residual path keeps its pytest
bit-equality coverage instead).

The committed centroids do not depend on the OpenBLAS kernel: every
value the trainer computes comes from NumPy's own reductions, and BLAS
only picks argmax indices. To check it, run the pin under another kernel,
e.g. ``OPENBLAS_CORETYPE=Prescott`` (or ``Haswell``, ``SkylakeX``) in front
of ``pytest tests/test_latent_fixtures.py``; the fixture must still match.

Regeneration is DELIBERATE:  python tools/make_ann_index_fixture.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("FIXTURE_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "latents",
)

ANN_PARAMS = dict(
    n_lists=16, m=8, k_codes=16, sample_size=4096, seed=23, residual=False
)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_extractor_spark.operators.ann_index import build_ann_index
    from feature_extractor_spark.session import get_spark

    spark = get_spark("make-ann-fixture", cores=4)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = tempfile.mkdtemp(prefix="fx_ann_fixture_") + "/idx"
    stats = build_ann_index(emb, idx, **ANN_PARAMS)
    print(f"built: {stats}")
    os.makedirs(OUT_DIR, exist_ok=True)
    sf_name = os.path.basename(os.path.normpath(SF_DIR))
    for sub, name in (("centroids", "ann_centroids"), ("codebooks", "ann_codebooks")):
        tbl = pq.read_table(f"{idx}/{sub}")
        order = (
            ["cell"] if sub == "centroids" else ["subspace", "code"]
        )
        tbl = tbl.sort_by([(c, "ascending") for c in order])
        path = os.path.join(OUT_DIR, f"{name}_{sf_name}.parquet")
        pq.write_table(tbl, path, compression="zstd")
        print(f"wrote {path}: {tbl.num_rows} rows")


if __name__ == "__main__":
    main()
