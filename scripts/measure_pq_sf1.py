"""PQ / IVF-PQ at rig scale (VERDICT r10 #2): the family landed in r10
with correctness proof and sf0.1 serving latencies only — this harness
prices it at 1× (sf0.1) and 10× (the sf1 rig) the way SCALE.md prices
every other index family:

- **encode throughput**: full-corpus pq_encode against a frozen
  codebook (the build-side cost that scales with corpus bytes),
  vectors/s.
- **per-batch append wall**: append_ivfpq_index of a 1% batch against
  a 99% index — the nightly-maintenance shape; flat across 10× proves
  no index-sized read hides in the append path.
- **ADC serving latency vs nprobe**: ivfpq_index_topk from the
  persisted cid-partitioned index at nprobe ∈ {1, 2, 4, 8} — the
  knob a deployment turns; latency should grow ~linearly in probed
  clusters, NOT in corpus size.
- **recall vs nprobe**: fraction of the EXACT L2 top-k recovered at
  each nprobe (sim_pq_recall_audit's machinery over the rig corpus) —
  the curve that justifies a chosen nprobe.
- **train_fraction**: pq_train wall full-corpus vs the deterministic
  10% md5 sample (r11 knob) — the sample bounds training cost while
  encode stays full-corpus.

Usage: python scripts/measure_pq_sf1.py [out_json]
(Idle machine only — concurrent runs contaminate the medians.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = {
    "1x": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "10x": os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_bench/sf1"),
}
PARAMS = dict(nlist=16, m=4, ksub=8, n_iter=2, dim=64)
K = 10
N_QUERIES = 50
NPROBES = [1, 2, 4, 8]


def _median(fn, n=3):
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    return round(runs[len(runs) // 2], 3)


def exact_l2_topk(emb, qs, k):
    from pyspark.sql import Window, functions as F

    from activedata_etl_spark.ext.pq import l2
    from activedata_etl_spark.ext.similarity import _dvec

    q = qs.select(F.col("vec_id").alias("q_id"),
                  _dvec(F.col("embedding")).alias("qv"))
    c = emb.select(F.col("vec_id").alias("id"),
                   _dvec(F.col("embedding")).alias("cv"))
    scored = (q.crossJoin(c).filter(F.col("q_id") != F.col("id"))
              .withColumn("d", l2("qv", "cv")))
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(),
                                           F.col("id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).select("q_id", "id"))


def main() -> None:
    from pyspark.sql import functions as F

    from activedata_etl_spark.ext import pq as PQ
    from activedata_etl_spark.io import load_table
    from activedata_etl_spark.session import get_spark

    spark = get_spark("pq_sf1")
    out: dict = {}
    for scale, sf_dir in SCALES.items():
        emb = load_table(spark, sf_dir, "embeddings") \
            .select("vec_id", "embedding")
        n_vecs = emb.count()
        rec: dict = {"n_vectors": n_vecs}

        # --- train: full corpus vs deterministic 10% sample ----------
        t0 = time.perf_counter()
        cb_full = PQ.pq_train(emb, "vec_id", "embedding", m=PARAMS["m"],
                              ksub=PARAMS["ksub"], n_iter=PARAMS["n_iter"],
                              dim=PARAMS["dim"])
        cb_full.count()
        rec["train_full_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        PQ.pq_train(emb, "vec_id", "embedding", m=PARAMS["m"],
                    ksub=PARAMS["ksub"], n_iter=PARAMS["n_iter"],
                    dim=PARAMS["dim"], train_fraction=0.1).count()
        rec["train_sample10_sec"] = round(time.perf_counter() - t0, 3)

        # --- encode throughput (frozen codebook, full corpus) ---------
        cb = cb_full.localCheckpoint(eager=True)
        enc = _median(lambda: PQ.pq_encode(
            emb, "vec_id", "embedding", cb, PARAMS["m"],
            PARAMS["dim"]).count())
        rec["encode_sec"] = enc
        rec["encode_vecs_per_sec"] = round(n_vecs / max(enc, 1e-9))

        # --- persisted IVF-PQ index: build, 1% append, serving --------
        idx = f"/tmp/pq_rig_{scale}"
        shutil.rmtree(idx, ignore_errors=True)
        old = emb.filter(F.pmod("vec_id", F.lit(100)) != 1)
        batch = emb.filter(F.pmod("vec_id", F.lit(100)) == 1)
        t0 = time.perf_counter()
        PQ.build_ivfpq_index(old, "vec_id", "embedding", idx, **PARAMS)
        rec["ivfpq_build_sec"] = round(time.perf_counter() - t0, 3)
        rec["append_1pct_sec"] = _median(lambda: PQ.append_ivfpq_index(
            batch, "vec_id", "embedding", spark, idx), n=3)

        qs = emb.orderBy("vec_id").limit(N_QUERIES) \
            .localCheckpoint(eager=True)
        exact = {(r["q_id"], r["id"])
                 for r in exact_l2_topk(emb, qs, K).collect()}
        rec["serve"] = {}
        for nprobe in NPROBES:
            lat = _median(lambda np=nprobe: PQ.ivfpq_index_topk(
                qs, "vec_id", "embedding", spark, idx, k=K,
                nprobe=np).count())
            got = {(r["q_id"], r["vec_id"])
                   for r in PQ.ivfpq_index_topk(
                       qs, "vec_id", "embedding", spark, idx, k=K,
                       nprobe=nprobe).collect()}
            rec["serve"][f"nprobe={nprobe}"] = {
                "latency_sec": lat,
                "recall_at_k": round(len(got & exact) / len(exact), 4),
            }
        out[scale] = rec
        print(json.dumps({scale: rec}), flush=True)
        shutil.rmtree(idx, ignore_errors=True)

    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pq_sf1.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"done": True, "out": dest}))


if __name__ == "__main__":
    main()
