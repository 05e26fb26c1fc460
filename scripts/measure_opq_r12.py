"""Full-OPQ adjudication on a CORRELATED-anisotropic fixture (VERDICT
r11 #2 / NOTES r11 #3).

The r11 permutation (ext/pq.dim_permutation) captured the
variance-IMBALANCE win; a trained rotation (full OPQ, Ge et al. CVPR
2013) can additionally pay only when dimensions are CORRELATED — which
no prior fixture had. This rig plants the correlation deterministically:

    x = R · (w ⊙ z)

with z pseudo-noise from a seeded RNG, w an exponentially-decaying
per-dimension weight vector (the anisotropy), and R a fixed orthogonal
matrix (QR of a seeded Gaussian — the rotation that smears the
anisotropic axes across ALL coordinates, creating cross-dimension
correlation while leaving every per-coordinate variance roughly equal,
i.e. exactly the regime where the permutation is blind).

Measured, per code size: recall@10 of
  - naive PQ on x                    (contiguous slices),
  - permuted PQ on x                 (dim_permutation — expected ≈naive
                                      here: post-rotation variances are
                                      near-uniform, nothing to balance),
  - ORACLE-rotated PQ (Rᵀx = w ⊙ z)  (the best any trained rotation
                                      could do — an upper bound: OPQ's
                                      alternating minimization converges
                                      toward exactly this derotation),
  - oracle-rotated + permuted        (the full OPQ pipeline: derotate,
                                      then balance the recovered
                                      anisotropy across subspaces).

Exact L2 top-k is rotation-invariant, so ONE exact baseline serves all
four variants. The adjudication rule (the ahash-group precedent): adopt
a trained-rotation engine path only if the upper bound materially beats
the permutation; otherwise record the numbers and keep the permutation
as the shipped answer.

Usage: python scripts/measure_opq_r12.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N, DIM, NQ, K = 20_000, 64, 50, 10
SEED = 20260816
CONFIGS = [(4, 8), (8, 16), (8, 64)]  # (m, ksub)


def build_fixture(spark):
    import numpy as np

    rng = np.random.default_rng(SEED)
    z = rng.standard_normal((N, DIM))
    w = np.power(2.0, -np.arange(DIM) / 8.0)          # anisotropy
    r, _ = np.linalg.qr(rng.standard_normal((DIM, DIM)))  # correlation
    base = z * w                                       # w ⊙ z
    x = base @ r.T                                     # R · (w ⊙ z)
    derot = x @ r                                      # Rᵀ · x == base
    rows = [(int(i), [float(v) for v in x[i]], [float(v) for v in derot[i]])
            for i in range(N)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, emb array<double>, emb_derot array<double>")
    path = "/tmp/opq_rig_r12"
    df.repartition(8).write.mode("overwrite").parquet(path)
    # per-coordinate variance ratio before/after rotation — documents
    # that the rotation really flattened the anisotropy the permutation
    # needs (printed into the artifact)
    vx, vb = x.var(axis=0), base.var(axis=0)
    return (spark.read.parquet(path),
            {"var_ratio_rotated": round(float(vx.max() / vx.min()), 2),
             "var_ratio_derotated": round(float(vb.max() / vb.min()), 2)})


def recall_at_k(spark, emb, vec_col, m, ksub, balance, rotation=None):
    from pyspark.sql import Window, functions as F

    from activedata_etl_spark.ext import pq as PQ
    from activedata_etl_spark.ext.pq import l2
    from activedata_etl_spark.ext.similarity import _dvec

    e = emb.select("vec_id", F.col(vec_col).alias("embedding"))
    qs = e.filter(F.col("vec_id") < NQ)
    got = PQ.pq_topk(e, qs, "vec_id", "embedding", k=K, m=m, ksub=ksub,
                     n_iter=2, dim=DIM, balance_dims=balance,
                     rotation=rotation)
    q = qs.select(F.col("vec_id").alias("q_id"),
                  _dvec(F.col("embedding")).alias("qv"))
    c = e.select(F.col("vec_id").alias("id"),
                 _dvec(F.col("embedding")).alias("cv"))
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(),
                                           F.col("id").asc())
    exact = (q.crossJoin(c).filter(F.col("q_id") != F.col("id"))
             .withColumn("d", l2("qv", "cv"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= K).select("q_id", "id"))
    # pq_topk outputs (q_id, vec_id, adc) — align names
    hits = (got.withColumnRenamed("vec_id", "id")
            .join(exact, ["q_id", "id"]).count())
    return round(hits / (NQ * K), 3)


def main() -> None:
    from activedata_etl_spark.session import get_spark

    spark = get_spark("opq_r12")
    emb, meta = build_fixture(spark)
    emb = emb.persist()
    emb.count()
    out = {"fixture": {"n": N, "dim": DIM, "seed": SEED, **meta}}
    for m, ksub in CONFIGS:
        key = f"m={m},ksub={ksub}"
        out[key] = {
            "naive": recall_at_k(spark, emb, "emb", m, ksub, False),
            "permuted": recall_at_k(spark, emb, "emb", m, ksub, True),
            "rotated": recall_at_k(spark, emb, "emb_derot", m, ksub, False),
            "rotated_permuted": recall_at_k(spark, emb, "emb_derot",
                                            m, ksub, True),
            # the ENGINE's trained path on the RAW correlated vectors —
            # adoption bar: matches the oracle-derotation upper bound
            "pca_engine": recall_at_k(spark, emb, "emb", m, ksub, True,
                                      rotation="pca"),
        }
        print(json.dumps({key: out[key]}), flush=True)
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/opq_r12.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"done": True, "out": dest}))


if __name__ == "__main__":
    main()
