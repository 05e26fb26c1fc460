"""Iterative-OPQ re-adjudication on a NON-GAUSSIAN MIXTURE fixture
(VERDICT r12 stretch #7 / NOTES r12 #2).

The r12 adjudication rejected Ge et al.'s alternating minimization
because on the single-population correlated rig one-shot PCA already
sat at the planted-derotation ceiling — there was nothing left to buy.
The one regime where the iterative objective could beat PCA is a
MIXTURE of anisotropic clusters with DIFFERENT orientations: no single
rotation decorrelates every cluster, PCA optimizes global variance
concentration, while OPQ-NP optimizes the actual quantization error of
the mixture under one global R — distinct objectives, potentially
distinct optima.

Fixture: x = R_k · (w ⊙ z) + μ_k for cluster k ∈ {0,1,2} — shared
exponential anisotropy w, per-cluster seeded orthogonal R_k (QR of
Gaussian), separated means. Seeded, deterministic.

Measured per code size (recall@10 against exact L2, the r12 rig
protocol, all engine-served):

- ``naive``       — contiguous slices;
- ``permuted``    — variance permutation (dim_permutation);
- ``pca``         — the shipped trained path (rotation="pca" composed
                    with the permutation);
- ``opq_np``      — OPQ non-parametric: numpy alternating minimization
                    (init R = PCA basis; loop: rotate → per-subspace
                    Lloyd codebooks → reconstruct → Procrustes SVD for
                    R), then the LEARNED matrix served through the
                    ENGINE's explicit-rotation path (rotation=R,
                    balance_dims=True) — exactly the adoption route if
                    it wins, so the measured number is the number
                    users would get.

Decision rule (the r12 gate, recorded in COVERAGE.md r13): adopt an
engine-side iterative trainer only if opq_np beats pca by more than
the rig's noise band (>0.05 recall@10) at ≥1 code size; otherwise
re-confirm the rejection with numbers.

Usage: python scripts/measure_opq_mixture_r13.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N, DIM, NQ, K = 18_000, 64, 50, 10
N_CLUSTERS = 3
SEED = 20260816
CONFIGS = [(8, 16), (8, 64)]  # (m, ksub)
OPQ_ITERS = 12


def build_fixture(spark):
    import numpy as np

    rng = np.random.default_rng(SEED)
    w = np.power(2.0, -np.arange(DIM) / 8.0)
    xs = []
    per = N // N_CLUSTERS
    for k in range(N_CLUSTERS):
        z = rng.standard_normal((per, DIM))
        r, _ = np.linalg.qr(rng.standard_normal((DIM, DIM)))
        mu = rng.standard_normal(DIM)
        mu = 6.0 * mu / np.linalg.norm(mu)
        xs.append((z * w) @ r.T + mu)
    x = np.vstack(xs)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    path = "/tmp/opq_mixture_rig_r13"
    df.repartition(8).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), x


def train_opq_np(x, m: int, ksub: int, n_iter: int = OPQ_ITERS):
    """Ge et al. CVPR 2013 §4 (non-parametric OPQ), numpy, seeded:
    alternate (a) per-subspace Lloyd on the rotated data, (b) R from
    the Procrustes solution min_R ||XR − Y|| = U·Vᵀ of SVD(XᵀY), Y the
    subspace-wise reconstruction. Returns rot rows (out = rot @ x, the
    engine's rotate_expr convention rot[i] = row i)."""
    import numpy as np

    rng = np.random.default_rng(SEED + 7)
    n, dim = x.shape
    sub = dim // m
    # init: PCA basis (eigenvectors of covariance, descending)
    c = np.cov(x, rowvar=False)
    vals, vecs = np.linalg.eigh(c)
    r = vecs[:, ::-1]  # columns = components; xr = x @ r
    for _ in range(n_iter):
        xr = x @ r
        y = np.empty_like(xr)
        for j in range(m):
            s = xr[:, j * sub:(j + 1) * sub]
            # seeded Lloyd, ksub centroids, 8 inner iterations
            idx = rng.choice(n, size=ksub, replace=False)
            cent = s[idx].copy()
            for _ in range(8):
                d2 = ((s[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
                a = d2.argmin(1)
                for kk in range(ksub):
                    mask = a == kk
                    if mask.any():
                        cent[kk] = s[mask].mean(0)
            y[:, j * sub:(j + 1) * sub] = cent[a]
        u, _, vt = np.linalg.svd(x.T @ y)
        r = u @ vt
    # engine convention: rotated = rot_matrix @ x, rows are output
    # coordinates — x @ r == (rᵀ · xᵀ)ᵀ, so rot rows = columns of r
    return [[float(v) for v in r[:, i]] for i in range(dim)]


def recall_at_k(spark, emb, m, ksub, balance, rotation=None):
    from pyspark.sql import Window, functions as F

    from activedata_etl_spark.ext import pq as PQ
    from activedata_etl_spark.ext.pq import l2
    from activedata_etl_spark.ext.similarity import _dvec

    qs = emb.filter(F.col("vec_id") < NQ)
    got = PQ.pq_topk(emb, qs, "vec_id", "embedding", k=K, m=m, ksub=ksub,
                     n_iter=2, dim=DIM, balance_dims=balance,
                     rotation=rotation)
    q = qs.select(F.col("vec_id").alias("q_id"),
                  _dvec(F.col("embedding")).alias("qv"))
    c = emb.select(F.col("vec_id").alias("id"),
                   _dvec(F.col("embedding")).alias("cv"))
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(),
                                           F.col("id").asc())
    exact = (q.crossJoin(c).filter(F.col("q_id") != F.col("id"))
             .withColumn("d", l2("qv", "cv"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= K).select("q_id", "id"))
    hits = (got.withColumnRenamed("vec_id", "id")
            .join(exact, ["q_id", "id"]).count())
    return round(hits / (NQ * K), 3)


def main() -> None:
    from activedata_etl_spark.session import get_spark

    spark = get_spark("opq_mixture_r13")
    emb, x = build_fixture(spark)
    emb = emb.persist()
    emb.count()
    out = {"fixture": {"n": N, "dim": DIM, "clusters": N_CLUSTERS,
                       "seed": SEED, "opq_iters": OPQ_ITERS}}
    for m, ksub in CONFIGS:
        t0 = time.time()
        opq_rot = train_opq_np(x, m, ksub)
        train_sec = round(time.time() - t0, 1)
        key = f"m={m},ksub={ksub}"
        out[key] = {
            "naive": recall_at_k(spark, emb, m, ksub, False),
            "permuted": recall_at_k(spark, emb, m, ksub, True),
            "pca": recall_at_k(spark, emb, m, ksub, True, rotation="pca"),
            "opq_np": recall_at_k(spark, emb, m, ksub, True,
                                  rotation=opq_rot),
            "opq_train_sec": train_sec,
        }
        print(json.dumps({key: out[key]}), flush=True)
    for k in list(out):
        if k.startswith("m="):
            out[k]["daylight"] = round(out[k]["opq_np"] - out[k]["pca"], 3)
    dest = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "scripts", "opq_mixture_r13.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"out": dest,
                      "daylight": {k: out[k]["daylight"] for k in out
                                   if k.startswith("m=")}}), flush=True)


if __name__ == "__main__":
    main()
