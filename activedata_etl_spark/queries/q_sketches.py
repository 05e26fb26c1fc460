"""Round-6 queries: the bottom-k (KMV) signature family — the third
portable sketch next to the HLL registers and CMS counters
(functions/bottomk.py): one md5-derived k-row signature per group serves
as a mergeable uniform sample, a distinct-count estimator, and a
pairwise-Jaccard estimator, all bit-reproducible by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import bottomk as BK
from ..io import load_table
from ..staging import scratch_path
from .registry import query

#: signature CTE over the distinct (event_type, user_id) sets — the
#: shared substrate; rank over md5(user_id) per event type.
_SIG_CTE = """d AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL
    ), s AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h,
             user_id AS key,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY md5(CAST(user_id AS VARCHAR))) AS INT) AS rank
      FROM d
    )"""


@query(
    "agg_bottomk_signature",
    oracle=f"""
    WITH {_SIG_CTE}
    SELECT event_type, h, key, rank FROM s WHERE rank <= 8
    """,
)
def agg_bottomk_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature table itself: the 8 hash-smallest distinct users
    per event type, every row value-checked — this is the persistable
    sketch state (like agg_hll_registers / agg_cms_registers for their
    families), doubling as a deterministic uniform sample of each
    group's key set."""
    e = load_table(spark, sf_dir, "events")
    return BK.bottomk_signature(e, ["event_type"], "user_id", k=8)


@query(
    "agg_bottomk_ndv",
    oracle=f"""
    WITH {_SIG_CTE},
    sig AS (SELECT * FROM s WHERE rank <= 64),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sig,
             MAX(CASE WHEN rank = 64 THEN
               CAST(('0x' || substring(h, 1, 8)) AS BIGINT) END) AS h_k
      FROM sig GROUP BY 1
    ), est AS (
      SELECT event_type, n_sig,
             CASE WHEN h_k IS NULL THEN CAST(n_sig AS DOUBLE)
                  ELSE 63.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END
               AS est_ndv
      FROM g
    ), exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS exact_ndv
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type, e.n_sig, e.est_ndv, x.exact_ndv,
           abs(e.est_ndv - x.exact_ndv) / x.exact_ndv < 0.5 AS within_tol
    FROM est e JOIN exact x USING (event_type)
    """,
)
def agg_bottomk_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate per event type (k=64) with the exact
    count and a tolerance flag in the same row — the sketch-audit
    pattern (agg_hll_estimate's sibling). Unsaturated groups are exact
    by construction; saturated groups are one integer-derived double
    division, identical in both engines."""
    e = load_table(spark, sf_dir, "events")
    sig = BK.bottomk_signature(e, ["event_type"], "user_id", k=64)
    est = BK.bottomk_ndv(sig, ["event_type"], k=64)
    exact = (e.where(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").cast("bigint")
                  .alias("exact_ndv")))
    return (est.join(exact, "event_type")
            .withColumn("within_tol",
                        F.abs(F.col("est_ndv") - F.col("exact_ndv"))
                        / F.col("exact_ndv") < 0.5))


@query(
    "sim_bottomk_jaccard",
    oracle=f"""
    WITH {_SIG_CTE},
    sig AS (SELECT event_type AS g, h FROM s WHERE rank <= 16),
    gs AS (SELECT DISTINCT g FROM sig),
    pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
    u AS (
      SELECT p.ga, p.gb, s.h,
             MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sig s ON s.g = p.ga OR s.g = p.gb
      GROUP BY 1, 2, 3
    ), t AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rank
      FROM u
    )
    SELECT ga AS event_type, gb AS event_type_b,
           CAST(COUNT(*) AS BIGINT) AS n_union_sample,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS j_est
    FROM t WHERE rank <= 16 GROUP BY 1, 2
    """,
)
def sim_bottomk_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard between event types' user sets estimated from
    their 16-row signatures ALONE — the source-similarity matrix that
    costs k·sources² signature rows instead of a corpus scan (the
    one-signature-per-set form of MinHash resemblance). Every
    intermediate (union sample, shared count) is integer and
    value-checked; the estimate is one division of integer-derived
    doubles."""
    e = load_table(spark, sf_dir, "events")
    sig = BK.bottomk_signature(e, ["event_type"], "user_id", k=16)
    return BK.bottomk_jaccard(sig, "event_type", k=16)


@query(
    "sim_bottomk_setops",
    oracle=f"""
    WITH {_SIG_CTE},
    sig AS (SELECT event_type AS g, h FROM s WHERE rank <= 64),
    gs AS (SELECT DISTINCT g FROM sig),
    pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
    u AS (
      SELECT p.ga, p.gb, s.h,
             MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sig s ON s.g = p.ga OR s.g = p.gb
      GROUP BY 1, 2, 3
    ), t AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rank
      FROM u
    ), agg AS (
      SELECT ga, gb,
             CAST(COUNT(*) AS BIGINT) AS n_union_sample,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared,
             MAX(CASE WHEN rank = 64 THEN
               CAST(('0x' || substring(h, 1, 8)) AS BIGINT) END) AS h_k
      FROM t WHERE rank <= 64 GROUP BY 1, 2
    ), est AS (
      SELECT ga, gb, n_union_sample, n_shared,
             CASE WHEN h_k IS NULL THEN CAST(n_union_sample AS DOUBLE)
                  ELSE 63.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END
               AS union_est,
             CAST(n_shared AS DOUBLE) / CAST(n_union_sample AS DOUBLE)
               AS j_est
      FROM agg
    ), dd AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL
    ), sz AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM dd GROUP BY 1
    ), inter AS (
      SELECT a.event_type AS ga, b.event_type AS gb,
             CAST(COUNT(*) AS BIGINT) AS exact_intersect
      FROM dd a JOIN dd b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ), ex AS (
      SELECT i.ga, i.gb, i.exact_intersect,
             CAST(sa.n + sb.n - i.exact_intersect AS BIGINT) AS exact_union
      FROM inter i JOIN sz sa ON sa.event_type = i.ga
                   JOIN sz sb ON sb.event_type = i.gb
    )
    SELECT est.ga AS event_type, est.gb AS event_type_b,
           est.n_union_sample, est.n_shared,
           est.union_est, est.j_est,
           est.j_est * est.union_est AS intersect_est,
           ex.exact_union, ex.exact_intersect,
           abs(est.union_est - ex.exact_union)
             / ex.exact_union < 0.5 AS union_within_tol,
           abs(est.j_est * est.union_est - ex.exact_intersect)
             / (ex.exact_intersect + 1) < 0.5 AS intersect_within_tol
    FROM est JOIN ex ON ex.ga = est.ga AND ex.gb = est.gb
    """,
)
def sim_bottomk_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-OPERATION cardinalities for every event-type pair from their
    64-row signatures alone (functions/bottomk.bottomk_setops): union
    NDV by the KMV estimator on the merged sample (exact when
    unsaturated — closure makes the merge a signature of the union),
    intersection NDV = J-estimate x union estimate. The audit columns
    carry the EXACT union/intersection (oracle-side discipline, a data
    scan the serving path never pays) and deterministic tolerance
    flags. This is the "how many distinct users do these two sources
    share" question answered at signature cost — k x sources^2 rows,
    no rescan."""
    e = load_table(spark, sf_dir, "events")
    sig = BK.bottomk_signature(e, ["event_type"], "user_id", k=64)
    est = BK.bottomk_setops(sig, "event_type", k=64)
    d = (e.filter(F.col("user_id").isNotNull())
         .select("event_type", "user_id").distinct())
    a = d.select(F.col("event_type").alias("ga"),
                 F.col("user_id").alias("u"))
    b = d.select(F.col("event_type").alias("gb"),
                 F.col("user_id").alias("u"))
    ex = (a.join(b, "u").filter(F.col("ga") < F.col("gb"))
          .groupBy("ga", "gb")
          .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersect")))
    szs = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    na = szs.select(F.col("event_type").alias("ga"), F.col("n").alias("na"))
    nb = szs.select(F.col("event_type").alias("gb"), F.col("n").alias("nb"))
    ex = (ex.join(na, "ga").join(nb, "gb")
          .select("ga", "gb", "exact_intersect",
                  (F.col("na") + F.col("nb") - F.col("exact_intersect"))
                  .cast("bigint").alias("exact_union")))
    return (est.join(ex, (est["event_type"] == ex["ga"])
                     & (est["event_type_b"] == ex["gb"]))
            .select("event_type", "event_type_b", "n_union_sample",
                    "n_shared", "union_est", "j_est", "intersect_est",
                    "exact_union", "exact_intersect",
                    (F.abs(F.col("union_est") - F.col("exact_union"))
                     / F.col("exact_union") < 0.5)
                    .alias("union_within_tol"),
                    (F.abs(F.col("intersect_est")
                           - F.col("exact_intersect"))
                     / (F.col("exact_intersect") + 1) < 0.5)
                    .alias("intersect_within_tol")))


# ---- log-histogram quantile registers (functions/qhist.py) ----

#: register CTE: octave bucket of n_chars per lang (bucket 0 = v<=0).
_QH_CTE = """qr AS (
      SELECT lang,
             CAST(CASE WHEN n_chars <= 0 THEN 0
                       ELSE length(bin(CAST(n_chars AS BIGINT))) END
                  AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    )"""


@query(
    "agg_qhist_registers",
    oracle=f"WITH {_QH_CTE}\n    SELECT * FROM qr",
)
def agg_qhist_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-register table itself (the fourth portable sketch
    family): octave buckets of document length per language, ≤64 rows
    per group no matter the corpus size, SUM-mergeable across shards.
    Every count is value-checked against the oracle's independent
    reconstruction."""
    from ..functions import qhist as QH

    d = load_table(spark, sf_dir, "documents")
    return QH.qhist_registers(d, ["lang"], "n_chars")


@query(
    "agg_qhist_quantile_audit",
    oracle=f"""
    WITH {_QH_CTE},
    cum AS (
      -- NB: identifiers are case-insensitive in both engines — a column
      -- named "N" here would collide with the register count "n" (it
      -- DID: MAX(N) silently aggregated the per-bucket counts) — so the
      -- partition total is "tot"
      SELECT lang, bucket, n,
             SUM(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
             SUM(n) OVER (PARTITION BY lang) AS tot
      FROM qr
    ), b AS (
      SELECT lang, CAST(MAX(tot) AS BIGINT) AS n_rows,
             CAST(MIN(CASE WHEN cum >= (tot * 1 + 1) // 2 THEN bucket END)
                  AS INT) AS p50_bucket,
             CAST(MIN(CASE WHEN cum >= (tot * 19 + 19) // 20 THEN bucket END)
                  AS INT) AS p95_bucket
      FROM cum GROUP BY lang
    ), ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS tot
      FROM documents
    ), ex AS (
      SELECT lang,
             CAST(MAX(CASE WHEN rn = (tot * 1 + 1) // 2 THEN n_chars END)
                  AS BIGINT) AS exact_p50,
             CAST(MAX(CASE WHEN rn = (tot * 19 + 19) // 20 THEN n_chars END)
                  AS BIGINT) AS exact_p95
      FROM ranked GROUP BY lang
    )
    -- bucket 0 admits every v <= 0: its lower bound is NULL (unbounded
    -- below) so the [lo, hi] envelope claim stays TRUE for negative
    -- data; the in_bounds flags treat NULL lo as "no lower bound"
    SELECT b.lang, b.n_rows, b.p50_bucket,
           CAST(CASE WHEN b.p50_bucket <= 0 THEN NULL
                     ELSE (CAST(1 AS BIGINT) << (b.p50_bucket - 1)) END
                AS BIGINT) AS p50_lo,
           CAST(CASE WHEN b.p50_bucket <= 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << b.p50_bucket) - 1 END
                AS BIGINT) AS p50_hi,
           b.p95_bucket,
           CAST(CASE WHEN b.p95_bucket <= 0 THEN NULL
                     ELSE (CAST(1 AS BIGINT) << (b.p95_bucket - 1)) END
                AS BIGINT) AS p95_lo,
           CAST(CASE WHEN b.p95_bucket <= 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << b.p95_bucket) - 1 END
                AS BIGINT) AS p95_hi,
           ex.exact_p50, ex.exact_p95,
           ((b.p50_bucket <= 0
             OR CAST((CAST(1 AS BIGINT) << (b.p50_bucket - 1))
                 AS BIGINT) <= ex.exact_p50)
            AND ex.exact_p50 <= CAST(CASE WHEN b.p50_bucket <= 0 THEN 0
                      ELSE (CAST(1 AS BIGINT) << b.p50_bucket) - 1 END
                 AS BIGINT)) AS p50_in_bounds,
           ((b.p95_bucket <= 0
             OR CAST((CAST(1 AS BIGINT) << (b.p95_bucket - 1))
                 AS BIGINT) <= ex.exact_p95)
            AND ex.exact_p95 <= CAST(CASE WHEN b.p95_bucket <= 0 THEN 0
                      ELSE (CAST(1 AS BIGINT) << b.p95_bucket) - 1 END
                 AS BIGINT)) AS p95_in_bounds
    FROM b JOIN ex USING (lang)
    """,
)
def agg_qhist_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 BOUNDS per language answered from the PERSISTED quantile
    index (two batch-keyed shards, SUM-merged on read), audited in-query
    against the exact rank-ceil(p·N) order statistic: the envelope
    theorem says the exact value lies in [2^(b−1), 2^b), and both flags
    are value-checked per row. At 100 TB the bounds come from ≤64
    register rows per group; the exact order statistic here is the
    AUDIT (oracle-side discipline), not the serving path."""
    from pyspark.sql import Window

    from ..functions import qhist as QH

    d = load_table(spark, sf_dir, "documents")
    path = scratch_path("qhist")
    for b in (0, 1):
        QH.append_qhist_index(
            d.filter(F.pmod("doc_id", F.lit(2)) == b),
            ["lang"], "n_chars", path, batch_id=b)
    regs = QH.read_qhist_index(spark, path, ["lang"])
    bounds = QH.qhist_quantile_bounds(
        regs, ["lang"], {"p50": (1, 2), "p95": (19, 20)})
    w = Window.partitionBy("lang").orderBy("n_chars")
    ranked = (d.select("lang", "n_chars")
              .withColumn("rn", F.row_number().over(w))
              .withColumn("N", F.count(F.lit(1))
                          .over(Window.partitionBy("lang"))))
    ex = (ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == F.expr("CAST((N * 1 + 1) DIV 2 AS BIGINT)"),
                     F.col("n_chars"))).cast("bigint").alias("exact_p50"),
        F.max(F.when(F.col("rn") == F.expr("CAST((N * 19 + 19) DIV 20 AS BIGINT)"),
                     F.col("n_chars"))).cast("bigint").alias("exact_p95")))
    return (bounds.join(ex, "lang")
            # NULL lo = unbounded below (bucket 0): no lower-bound check
            .withColumn("p50_in_bounds",
                        (F.col("p50_lo").isNull()
                         | (F.col("p50_lo") <= F.col("exact_p50")))
                        & (F.col("exact_p50") <= F.col("p50_hi")))
            .withColumn("p95_in_bounds",
                        (F.col("p95_lo").isNull()
                         | (F.col("p95_lo") <= F.col("exact_p95")))
                        & (F.col("exact_p95") <= F.col("p95_hi"))))


@query(
    "agg_qhist_delta_tv",
    oracle="""
    WITH qa AS (
      SELECT lang,
             CAST(CASE WHEN n_chars <= 0 THEN 0
                       ELSE length(bin(CAST(n_chars AS BIGINT))) END
                  AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS ca
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ), qb AS (
      SELECT lang,
             CAST(CASE WHEN n_chars <= 0 THEN 0
                       ELSE length(bin(CAST(n_chars AS BIGINT))) END
                  AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ), j AS (
      SELECT COALESCE(qa.lang, qb.lang) AS lang,
             COALESCE(qa.bucket, qb.bucket) AS bucket,
             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      FROM qa FULL JOIN qb ON qa.lang = qb.lang AND qa.bucket = qb.bucket
    ), t AS (
      SELECT lang, SUM(ca) AS na, SUM(cb) AS nb,
             SUM(abs(ca * (SELECT SUM(cb) FROM j j2 WHERE j2.lang = j.lang)
                     - cb * (SELECT SUM(ca) FROM j j3 WHERE j3.lang = j.lang)))
               AS num
      FROM j GROUP BY lang
    )
    SELECT lang, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CAST(num AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)
                                  * CAST(nb AS DOUBLE)) AS tv
    FROM t
    """,
)
def agg_qhist_delta_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor from the quantile index alone: TV
    distance between the batch-0 and batch-1 length distributions per
    language, computed entirely from the two register SHARDS
    (partition-pruned reads — the corpus is never rescanned). The
    nightly question this answers: did tonight's batch shift the length
    distribution of any language? Exact integer numerator, one final
    division (the text_term_drift_tv pattern for numeric columns)."""
    import os

    from ..functions import qhist as QH

    d = load_table(spark, sf_dir, "documents")
    path = scratch_path("qhist")
    for b in (0, 1):
        QH.append_qhist_index(
            d.filter(F.pmod("doc_id", F.lit(2)) == b),
            ["lang"], "n_chars", path, batch_id=b)
    base = spark.read.option("basePath", path)
    ra = base.parquet(os.path.join(path, "batch=0")) \
        .select("lang", "bucket", "n")
    rb = base.parquet(os.path.join(path, "batch=1")) \
        .select("lang", "bucket", "n")
    return QH.qhist_tv_distance(ra, rb, ["lang"])


# ---- multimodal: scene-cut segmentation over frame energy ----

@query(
    "multimodal_scene_cuts",
    oracle="""
    WITH frames AS (
      SELECT doc_id, k AS frame_idx,
             substring(text, k * 16 + 1, 16) AS fr
      FROM documents, LATERAL (
        SELECT unnest(range(0, least(8,
          greatest(1, CAST(ceil(length(text) / 16.0) AS BIGINT))))) AS k)
    ), fe AS (
      SELECT doc_id AS id, CAST(frame_idx AS INT) AS frame_idx,
             CAST(COALESCE(list_sum(list_transform(
               string_split_regex(fr, ''), ch -> ascii(ch))), 0) AS BIGINT)
               AS energy
      FROM frames
    ), d AS (
      SELECT id, frame_idx, energy,
             abs(energy - LAG(energy) OVER
               (PARTITION BY id ORDER BY frame_idx)) AS jump
      FROM fe
    ), cuts AS (
      SELECT id, frame_idx, energy,
             COALESCE(jump, 0) AS jump,
             (jump IS NOT NULL AND jump > 64) AS is_cut
      FROM d
    )
    SELECT id, frame_idx, energy, CAST(jump AS BIGINT) AS jump, is_cut,
           CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER
             (PARTITION BY id ORDER BY frame_idx) AS INT) AS scene_id
    FROM cuts
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut segmentation — the video-pipeline primitive built ON
    TOP of the real multimodal plumbing: frames come out of the
    Arrow-batched 1:N mapInPandas codec boundary
    (ext/multimodal.frame_energy, codec stubbed to byte arithmetic),
    then cut detection is pure JVM window work (lag, threshold, running
    cut count → scene ids). A frame whose energy jumps by > 64 from its
    predecessor opens a new scene. At 100 TB the Python stage touches
    each payload once; segmentation never leaves whole-stage codegen,
    and state per key is one lag row. Exact integers throughout."""
    from pyspark.sql import Window

    from ..ext import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    fe = MM.frame_energy(MM.pack(d, "doc_id", "text", "audio/fake"),
                         frame_bytes=16, max_frames=8) \
        .select("id", "frame_idx", "energy")
    w = Window.partitionBy("id").orderBy("frame_idx")
    jump = F.abs(F.col("energy") - F.lag("energy").over(w))
    cuts = (fe.withColumn("__j__", jump)
            .withColumn("is_cut",
                        F.col("__j__").isNotNull() & (F.col("__j__") > 64))
            .withColumn("jump", F.coalesce("__j__", F.lit(0))
                        .cast("bigint")).drop("__j__"))
    return cuts.select(
        "id", "frame_idx", "energy", "jump", "is_cut",
        F.sum(F.col("is_cut").cast("int")).over(
            Window.partitionBy("id").orderBy("frame_idx")
            .rowsBetween(Window.unboundedPreceding, 0))
        .cast("int").alias("scene_id"))


# ---- jx front-end reach into the new sketch ops ----

from ..plans import query as JXP  # noqa: E402
from .registry import ORACLES as _REG  # noqa: E402


def _run_jx(spark: SparkSession, sf_dir: str, q: dict) -> DataFrame:
    from ..io import register_views

    register_views(spark, sf_dir)
    return JXP.run(spark, q)


@query(
    "jx_bottomk_setops",
    oracle=f"""
    WITH {_SIG_CTE},
    sig AS (SELECT event_type AS g, h FROM s WHERE rank <= 64),
    gs AS (SELECT DISTINCT g FROM sig),
    pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
    u AS (
      SELECT p.ga, p.gb, s.h,
             MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sig s ON s.g = p.ga OR s.g = p.gb
      GROUP BY 1, 2, 3
    ), t AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rank
      FROM u
    ), agg AS (
      SELECT ga, gb,
             CAST(COUNT(*) AS BIGINT) AS n_union_sample,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared,
             MAX(CASE WHEN rank = 64 THEN
               CAST(('0x' || substring(h, 1, 8)) AS BIGINT) END) AS h_k
      FROM t WHERE rank <= 64 GROUP BY 1, 2
    )
    SELECT ga AS event_type, gb AS event_type_b, n_union_sample, n_shared,
           CASE WHEN h_k IS NULL THEN CAST(n_union_sample AS DOUBLE)
                ELSE 63.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END
             AS union_est,
           CAST(n_shared AS DOUBLE) / CAST(n_union_sample AS DOUBLE)
             AS j_est,
           (CAST(n_shared AS DOUBLE) / CAST(n_union_sample AS DOUBLE))
             * (CASE WHEN h_k IS NULL THEN CAST(n_union_sample AS DOUBLE)
                     ELSE 63.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END)
             AS intersect_est
    FROM agg
    """,
)
def jx_bottomk_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature set-operation estimates through the jx front-end
    (op "bottomk_setops") — routing must be result-invisible; the
    serving-path output carries the estimators only (the exact-audit
    columns are the direct query's oracle-side discipline)."""
    return _run_jx(spark, sf_dir, {
        "from": {"op": "bottomk_setops", "table": "events",
                 "group": "event_type", "value": "user_id", "k": 64},
    })


@query("jx_bottomk_jaccard", oracle=_REG["sim_bottomk_jaccard"])
def jx_bottomk_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k Jaccard matrix through the jx JSON front-end —
    same oracle as the direct path (routing must be result-invisible),
    composing with a normal where clause downstream of the op."""
    return _run_jx(spark, sf_dir, {
        "from": {"op": "bottomk_jaccard", "table": "events",
                 "group": "event_type", "value": "user_id", "k": 16},
    })


@query(
    "jx_quantile_bounds",
    oracle=f"""
    WITH {_QH_CTE},
    cum AS (
      SELECT lang, bucket, n,
             SUM(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
             SUM(n) OVER (PARTITION BY lang) AS tot
      FROM qr
    ), b AS (
      SELECT lang, CAST(MAX(tot) AS BIGINT) AS n_rows,
             CAST(MIN(CASE WHEN cum >= (tot * 1 + 1) // 2 THEN bucket END)
                  AS INT) AS p50_bucket
      FROM cum GROUP BY lang
    )
    SELECT lang, n_rows, p50_bucket,
           CAST(CASE WHEN p50_bucket <= 0 THEN NULL
                     ELSE (CAST(1 AS BIGINT) << (p50_bucket - 1)) END
                AS BIGINT) AS p50_lo,
           CAST(CASE WHEN p50_bucket <= 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << p50_bucket) - 1 END
                AS BIGINT) AS p50_hi
    FROM b
    WHERE n_rows >= 70
    """,
)
def jx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bounds through the jx front-end, with a post-op where
    clause (n_rows >= 70, which really filters at sf0.01) proving the op output composes with the
    normal clause pipeline."""
    return _run_jx(spark, sf_dir, {
        "from": {"op": "quantile_bounds", "table": "documents",
                 "group": "lang", "value": "n_chars",
                 "ps": {"p50": [1, 2]}},
        "where": {"gte": ["n_rows", 70]},
    })
