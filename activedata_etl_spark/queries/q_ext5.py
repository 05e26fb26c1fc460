"""Extension ops round 4: reference-LM quality scoring and the other
r4 training-data additions.

Oracle strategy (same as q_ext4): no transcendental functions cross the
engine boundary — ln() differs in the last ulp between Spark and DuckDB
(measured) — so every float is built from integer-operand IEEE division
and fixed-order double summation, which are bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ext import text as TX
from ..io import load_table
from ..staging import scratch_path
from .registry import query

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# reference slice for the LM: three of the twenty synthetic sources
_LM_REF = "('src0', 'src1', 'src2')"


@query(
    "text_lm_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents
    ),
    doc_bg AS (
      SELECT doc_id, i - 1 AS pos,
             list_extract(t, i) || ' ' || list_extract(t, i + 1) AS bg,
             list_extract(t, i) AS w1
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
    ),
    ref_uni AS (
      SELECT w, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS w FROM toks WHERE source IN {_LM_REF})
      GROUP BY w
    ),
    ref_bg AS (
      SELECT bg, COUNT(*) AS c12 FROM doc_bg
      JOIN documents USING (doc_id) WHERE source IN {_LM_REF}
      GROUP BY bg
    ),
    vocab AS (SELECT COUNT(*) AS v FROM ref_uni),
    scored AS (
      SELECT d.doc_id, d.pos,
             r.c12 IS NULL AS unseen,
             CAST(COALESCE(r.c12, 0) + 1 AS DOUBLE)
               / CAST(COALESCE(u.c1, 0) + vocab.v AS DOUBLE) AS p
      FROM doc_bg d
      LEFT JOIN ref_bg r USING (bg)
      LEFT JOIN ref_uni u ON d.w1 = u.w
      CROSS JOIN vocab
    )
    SELECT doc_id,
           COUNT(*)                                   AS n_bigrams,
           CAST(SUM(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE), list(p ORDER BY pos)),
             (acc, v) -> acc + v) / COUNT(*)          AS mean_p
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality filter (Wenzek et al. 2019 train a
    KenLM on Wikipedia and score the crawl): a bigram LM with add-one
    smoothing is built from a trusted reference slice (3 of the 20
    sources), then EVERY document is scored by its mean transition
    probability and unseen-bigram count — the ranking signal a
    perplexity threshold uses, formulated log-free so it is bit-exactly
    oracle-checkable (see module docstring). Plan: two count shuffles
    over the reference slice, broadcast model join onto the exploded
    corpus bigrams, one groupBy(doc) — at 100 TB the model tables stay
    broadcast-small because the trusted slice is a sliver of the crawl."""
    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source").isin("src0", "src1", "src2"))
    return TX.bigram_lm_score(d, ref, "doc_id", "text")


def _qcodes_sql(source: str = "embeddings") -> str:
    return f"""
    qv AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
             embedding
      FROM {source}
    ),
    codes AS (
      SELECT vec_id,
             CASE WHEN s > 0 THEN list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
             END AS q
      FROM qv
    )"""


_QCODES = _qcodes_sql()

_IDOT = "CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2])) AS DOUBLE)"


@query(
    "sim_ann_quantized_topk",
    oracle=f"""
    WITH {_QCODES},
    scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             {_IDOT.format(a='a.q', b='b.q')}
               / (sqrt({_IDOT.format(a='a.q', b='a.q')})
                  * sqrt({_IDOT.format(a='b.q', b='b.q')})) AS qcos
      FROM codes a, codes b
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT q_id, vec_id, qcos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY qcos DESC, vec_id ASC) AS rn
      FROM scored) WHERE rn <= 3
    """,
)
def sim_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over INT8-quantized embeddings (ext/similarity.py
    quantize_int8): the 4×-memory-reduction path for 100 TB ANN. The
    quantized cosine is pure integer dot products (scales cancel), so
    unlike float accumulation it is bit-deterministic under ANY
    partitioning — the oracle replicates quantization + integer dots and
    must agree to the last bit. Brute-force form here (the exactness
    baseline); the codes drop into the same sign-LSH/IVF blocking as the
    float path since sign(q_i) = sign(x_i)."""
    from ..ext import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select("vec_id", SIM.quantize_int8(F.col("embedding"))["q"].alias("q"))
    q = (codes.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"), F.col("q").alias("qq")))
    scored = (q.crossJoin(codes)
              .filter(F.col("q_id") != F.col("vec_id"))
              .withColumn("qcos", SIM.quantized_cosine(F.col("qq"), F.col("q"))))
    return SIM.topk_per_query(scored, "q_id", "qcos", "vec_id", 3) \
        .select("q_id", "vec_id", "qcos")


def _band_index_oracle(threshold: float = 0.95, n_bits: int = 16,
                       n_bands: int = 4) -> str:
    """Blocking from FLOAT band signs, scores from int8 codes — stated
    with neither the persisted index nor the fan-out construction."""
    def band_sig(b: int) -> str:
        lo, hi = b * n_bits + 1, (b + 1) * n_bits
        return (f"array_to_string(list_transform(list_slice(embedding, {lo}, {hi}),"
                " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')")

    values = ",\n          ".join(f"({b}, {band_sig(b)})" for b in range(n_bands))
    qcos = (f"{_IDOT.format(a='a.q', b='c.q')}"
            f" / (sqrt({_IDOT.format(a='a.q', b='a.q')})"
            f" * sqrt({_IDOT.format(a='c.q', b='c.q')}))")
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
    ),
    {_qcodes_sql('corpus')},
    bands AS (
      SELECT vec_id, b.band_idx, b.band_sig FROM corpus,
        LATERAL (SELECT * FROM (VALUES
          {values}
        ) t(band_idx, band_sig)) b
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM bands a JOIN bands c
        ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
       AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, {qcos} AS qcos
    FROM cand JOIN codes a ON cand.id_a = a.vec_id
              JOIN codes c ON cand.id_b = c.vec_id
    WHERE {qcos} >= {threshold}"""


@query("sim_band_index_pairs", oracle=_band_index_oracle())
def sim_band_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs answered from the PERSISTED quantized embedding
    index alone (ext/similarity.py build_band_index /
    pairs_from_band_index): one index row per vector holds int8 codes
    (4× smaller than the floats) plus float-sign band keys, so the
    pairwise stage never rereads the embedding table — the vector twin of
    dedup_index_query. The duplicated corpus guarantees signal (random
    fixture vectors never reach τ=0.95); the oracle states
    blocking-by-float-signs + integer-dot cosine with no index and no
    prepass, proving the persisted path is semantics-preserving."""
    from ..ext import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    path = scratch_path("band_index")
    SIM.build_band_index(corpus, "vec_id", "embedding", path)
    return SIM.pairs_from_band_index(spark, path, threshold=0.95)


def _bpe_encode_oracle(n_merges: int = 3) -> str:
    """The induction chain of q_ext4._bpe_oracle with the word carried
    through each merge round, closed by a per-document re-join."""
    ctes = ["""w AS (
      SELECT w, COUNT(*) AS wf FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
      WHERE NOT contains(w, '~') AND length(w) > 0 GROUP BY w)""",
            """s0 AS (
      SELECT w, array_to_string(string_split_regex(w, ''), '~') AS seq, wf
      FROM w)"""]
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS (
          SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(SUM(wf) AS BIGINT) AS n
          FROM (
            SELECT unnest(list_transform(
                     range(1, len(string_split(seq, '~'))),
                     j -> struct_pack(lhs := string_split(seq, '~')[j],
                                      rhs := string_split(seq, '~')[j + 1])))
                   AS p, wf
            FROM s{i - 1})
          GROUP BY 1, 2)""")
        ctes.append(f"""t{i} AS (
          SELECT lhs, rhs FROM p{i} ORDER BY n DESC, lhs, rhs LIMIT 1)""")
        ctes.append(f"""s{i} AS (
          SELECT w, replace(seq, lhs || '~' || rhs, lhs || rhs) AS seq, wf
          FROM s{i - 1} CROSS JOIN t{i})""")
    ctes.append(f"""vocab AS (
      SELECT w, CAST(len(string_split(seq, '~')) AS INT) AS n_sub FROM s{n_merges})""")
    ctes.append("""doc_tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents)""")
    return "WITH " + ",\n".join(ctes) + """
    SELECT doc_id,
           COUNT(*)                          AS n_enc_words,
           CAST(SUM(v.n_sub) AS BIGINT)      AS n_subwords,
           CAST(SUM(length(d.w)) AS BIGINT)  AS n_chars
    FROM doc_tok d JOIN vocab v USING (w)
    GROUP BY doc_id"""


@query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer loop: learn 3 BPE merges from the
    corpus (text_bpe_merges), apply them to the DISTINCT-word vocabulary
    (ext/text.bpe_apply — per-word cost paid once per vocab entry, not
    per occurrence), join back onto documents, and report per-doc subword
    budget: encodable words, subword count after merging, character
    count. This is the token-counting a training-data budget actually
    uses — counted under the induced tokenizer, not whitespace. The
    oracle re-derives the merges AND the encoding independently and must
    agree on every count."""
    d = load_table(spark, sf_dir, "documents")
    merges = TX.bpe_merges(d, "text", n_merges=3)
    vocab = (d.select(F.explode(TX.tokens("text")).alias("w"))
             .filter(~F.col("w").contains("~") & (F.length("w") > 0))
             .distinct())
    enc = TX.bpe_apply(vocab, merges).select(
        "w", F.size(F.split("seq", "~")).alias("n_sub"))
    doc_tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    return (doc_tok.join(enc, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_enc_words"),
                 F.sum("n_sub").cast("bigint").alias("n_subwords"),
                 F.sum(F.length("w")).cast("bigint").alias("n_chars")))


def _cluster_outlier_oracle(nlist: int = 16, n_iter: int = 2,
                            frac: float = 0.05) -> str:
    from .q_ext import _ivf_ctes, _sql_cos

    ctes = _ivf_ctes(nlist, n_iter)
    ctes.append(f"""scored AS (
      SELECT a.vec_id, a.cid, {_sql_cos('a.vv', 'c.cvec')} AS ccos
      FROM af a JOIN c{n_iter} c USING (cid))""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT vec_id, cid, ccos,
           PERCENT_RANK() OVER (PARTITION BY cid ORDER BY ccos, vec_id)
             <= {frac} AS is_outlier
    FROM scored""")


@query("sim_cluster_outliers", oracle=_cluster_outlier_oracle())
def sim_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space junk detection: vectors least aligned with their
    own k-means centroid are flagged per cluster — the embedding twin of
    the text quality-percentile filter (mislabeled/garbled/off-manifold
    samples sit far from every prototype). RANK-based cutoff
    (percent_rank ≤ 5%, ties broken by id), not a z-score: moments over
    doubles are accumulation-order-dependent, percent_rank is exact
    integer division — hash-exact across engines. Plan: broadcast
    centroid join (no vector shuffle) + one window exchange on cid."""
    from pyspark.sql import Window

    from ..ext import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cent, assign = SIM.ivf_build(emb, "vec_id", "embedding", nlist=16, n_iter=2)
    scored = (assign.join(F.broadcast(cent), "cid")
              .withColumn("ccos", SIM.cosine(F.col("__v__"), F.col("cvec"))))
    w = Window.partitionBy("cid").orderBy(F.col("ccos").asc(),
                                          F.col("vec_id").asc())
    return scored.select(
        "vec_id", "cid", "ccos",
        (F.percent_rank().over(w) <= 0.05).alias("is_outlier"))


@query(
    "corpus_url_canonical_dedup",
    oracle="""
    SELECT 'https://www.example.com/page/' || CAST(doc_id % 50 AS VARCHAR)
             AS canonical_url,
           COUNT(*)           AS n_dups,
           MAX(doc_id)        AS kept_doc,
           MIN(doc_id)        AS first_doc
    FROM documents
    GROUP BY 1
    """,
)
def corpus_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup with keep-newest policy — the crawl-side exact
    dedup that runs BEFORE any content hashing (the same page refetched
    via tracking-parameter / case / default-port / fragment variants is
    one document). Messy URLs are synthesized three ways per page
    (plain; upper-cased host + utm query; :443 port + trailing slash +
    fragment), then canonicalized from the URL STRING ALONE — lowercase
    host via parse_url (which also drops the port), path with query and
    fragment gone, trailing slash stripped. The oracle states the
    canonical straight from the construction rule and never sees the
    messy string, so a green check pins the canonicalizer exactly.
    Keep-newest = argmax over the fetch order surrogate (doc_id).
    Scan-local expressions + one groupBy: linear at any crawl size."""
    d = load_table(spark, sf_dir, "documents")
    p = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 3
    url = (
        F.when(v == 0, F.concat(F.lit("https://www.example.com/page/"), p))
        .when(v == 1, F.concat(F.lit("https://WWW.Example.COM/page/"), p,
                               F.lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(F.concat(F.lit("https://www.example.com:443/page/"), p,
                            F.lit("/#frag")))
    )
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url(url, F.lit("HOST"))),
        F.regexp_replace(F.parse_url(url, F.lit("PATH")), "/$", ""))
    return (d.select(F.col("doc_id"), canonical.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.max("doc_id").alias("kept_doc"),
                 F.min("doc_id").alias("first_doc")))


def _pagerank_oracle(n_iter: int = 3) -> str:
    """Unrolled synchronous PageRank over the events co-occurrence graph
    (same edge CTE as graph_triangle_cooccurrence); contribution sums
    fold in src order, teleport/damping kept symbolic as doubles so both
    engines compute bit-identical IEEE expressions."""
    d = "CAST(0.85 AS DOUBLE)"
    ctes = ["""occ AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h
      FROM events)""",
            """e AS (
      SELECT l.user_id AS a, r.user_id AS b
      FROM occ l JOIN occ r
        ON l.event_type = r.event_type AND l.h = r.h AND l.user_id < r.user_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3)""",
            """directed AS (
      SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)""",
            "nodes AS (SELECT DISTINCT src AS node FROM directed)",
            "nn AS (SELECT COUNT(*) AS n FROM nodes)",
            "od AS (SELECT src, COUNT(*) AS d FROM directed GROUP BY src)",
            """r0 AS (
      SELECT node, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes, nn)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f"""c{i} AS (
          SELECT dd.dst, dd.src, r.r / od.d AS c
          FROM directed dd JOIN od USING (src)
          JOIN r{i - 1} r ON dd.src = r.node)""")
        ctes.append(f"""s{i} AS (
          SELECT dst, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY src)),
            (a, v) -> a + v) AS s
          FROM c{i} GROUP BY dst)""")
        ctes.append(f"""r{i} AS (
          SELECT n.node,
                 (CAST(1 AS DOUBLE) - {d}) / nn.n
                   + {d} * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
          FROM nodes n LEFT JOIN s{i} s ON n.node = s.dst CROSS JOIN nn)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\n    SELECT node AS user_id, r FROM r{n_iter}")


@query("graph_pagerank_cooccurrence", oracle=_pagerank_oracle())
def graph_pagerank_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 synchronous iterations, d=0.85) over the same user
    co-occurrence graph the triangle query builds — the
    crawl-prioritization / authority ranking a web pipeline runs on its
    link graph, here as a generic edges→ranks operator
    (ext/graph.pagerank). The oracle unrolls the iterations as CTEs and
    value-checks every rank to the last bit (src-ordered contribution
    folds; symbolic teleport term)."""
    from ..ext import graph as G

    e = (load_table(spark, sf_dir, "events")
         .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("h"))
         .distinct())
    edges = G.cooccurrence_edges(e, "user_id", ["event_type", "h"],
                                 min_common=3).select("a", "b")
    return (G.pagerank(edges, n_iter=3, damping=0.85)
            .select(F.col("node").alias("user_id"), "r"))


@query(
    "text_sparse_cosine_pairs",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id AS id, w AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
      WHERE length(w) > 0 GROUP BY 1, 2
    ),
    keep AS (
      SELECT term FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
      WHERE df <= 100
    ),
    tfk AS (SELECT tf.* FROM tf JOIN keep USING (term)),
    norms AS (
      SELECT id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
      FROM tfk GROUP BY id
    ),
    dots AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM tfk a JOIN tfk b ON a.term = b.term AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
    FROM dots JOIN norms na ON dots.id_a = na.id
              JOIN norms nb ON dots.id_b = nb.id
    WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.5
    """,
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse (token-count) document cosine via an inverted index
    (ext/text.sparse_cosine_pairs): pairs exist only for docs sharing a
    term, dot products are integer sums (bit-deterministic, unlike float
    accumulation), and the df≤100 cap is both IR stopword pruning and
    the hot-key bound (a term in half the corpus fans out |corpus|²/4
    candidates and carries no signal). The lexical-overlap complement of
    the embedding-cosine and Jaccard dedup paths — catches near-dups
    that token ORDER changes hide from shingles."""
    d = load_table(spark, sf_dir, "documents")
    return TX.sparse_cosine_pairs(d, "doc_id", "text",
                                  max_df=100, threshold=0.5)


@query(
    "etl_zorder_key",
    oracle="""
    SELECT o_orderkey,
           CAST(list_sum(list_transform(range(0, 16),
             i -> (((o_custkey >> i) & 1) << (2 * i))
                + ((((o_orderkey % 512) >> i) & 1) << (2 * i + 1))
           )) AS BIGINT) AS zkey
    FROM orders
    """,
)
def etl_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two dimensions of orders
    (sources/layout.py) — the multi-dimensional layout lever partition
    pruning and bucketing don't give: files written in z-key ranges hold
    small hyper-rectangles of (custkey, date) space, so parquet footer
    min/max skips most files for a predicate on EITHER dimension (the
    Delta/Iceberg OPTIMIZE ZORDER mechanism as a plain repartition).
    Pure integer bit interleaving; the oracle reconstructs every key
    bit-for-bit (disjoint bit positions make OR ≡ SUM). The layout
    effect itself — per-file stat ranges tightening on both dims at
    once — is measured in test_etl (test_zorder_layout)."""
    from ..sources.layout import zorder_key

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        zorder_key([F.col("o_custkey"), F.pmod(F.col("o_orderkey"), F.lit(512))],
                   bits=16).alias("zkey"))


def _split_decontam_oracle(train_frac: float = 0.9, chunk: int = 10) -> str:
    from ..ext.sampling import sql_hash_bucket

    bucket = sql_hash_bucket("doc_id", salt="split1")
    cut = f"CAST({train_frac} * 4294967296 AS BIGINT)"
    return f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {bucket} < {cut} THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ),
    t AS (
      SELECT doc_id, split,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
             generate_subscripts(
               string_split_regex(lower(trim(text)), '\\s+'), 1) AS i
      FROM labeled
    ),
    ch AS (
      SELECT doc_id, split, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM t GROUP BY doc_id, split, floor((i - 1) / {chunk})
    ),
    eval_chunks AS (SELECT DISTINCT h FROM ch WHERE split = 'eval'),
    contaminated AS (
      SELECT DISTINCT ch.doc_id FROM ch JOIN eval_chunks USING (h)
      WHERE ch.split = 'train'
    )
    SELECT l.doc_id, l.split,
           c.doc_id IS NOT NULL AS is_contaminated,
           l.split = 'train' AND c.doc_id IS NULL AS keep_for_train
    FROM labeled l LEFT JOIN contaminated c USING (doc_id)"""


@query("sample_split_decontaminated", oracle=_split_decontam_oracle())
def sample_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split with a contamination guard — the composition an
    LLM data pipeline actually ships: a DETERMINISTIC hash split (stable
    under corpus growth and repartition, ext/sampling.split_label), then
    any train document sharing a 10-token chunk with ANY eval document
    is expelled from the training set (benchmark-leakage hygiene, the
    chunk_table machinery of C4 dedup reused as the decontaminator).
    Plan: scan-local split labels + chunk hashes, one distinct on eval
    chunk hashes (a sliver of the corpus — AQE broadcasts it), one
    semi-join; no text ever shuffles."""
    from ..ext import dedup as DD
    from ..ext import sampling as SA

    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn("split", SA.split_label(
        F.col("doc_id"), {"train": 0.9, "eval": 0.1}, salt="split1"))
    ch = DD.chunk_table(labeled, "doc_id", "text", chunk=10,
                        extra_cols=("split",))
    eval_chunks = ch.filter(F.col("split") == "eval").select("h").distinct()
    contaminated = (ch.filter(F.col("split") == "train")
                    .join(eval_chunks, "h", "left_semi")
                    .select("doc_id").distinct()
                    .withColumn("__c__", F.lit(True)))
    return (labeled.join(contaminated, "doc_id", "left")
            .select("doc_id", "split",
                    F.coalesce("__c__", F.lit(False)).alias("is_contaminated"),
                    ((F.col("split") == "train")
                     & ~F.coalesce("__c__", F.lit(False)))
                    .alias("keep_for_train")))


@query(
    "etl_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*)      AS group_size,
           COUNT(*) >= 5 AS meets_k
    FROM customer
    GROUP BY 1, 2
    """,
)
def etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    gate a training-data release runs next to PII redaction
    (text_pii_redaction removes direct identifiers; this measures
    whether attribute COMBINATIONS still single people out): every
    (nation, market-segment) equivalence class below k=5 marks rows a
    linkage attack could re-identify. One groupBy at any scale; the
    failing classes are the rows to generalize or suppress."""
    c = load_table(spark, sf_dir, "customer")
    return (c.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("group_size"))
            .withColumn("meets_k", F.col("group_size") >= 5))


_CMS_CELLS = """
    cms_cells AS (
      SELECT event_type, CAST(r.row AS INT) AS row,
             CAST(CAST(('0x' || substring(md5('r' || r.row || '|' ||
               CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS INT) AS col,
             user_id
      FROM events, LATERAL (SELECT unnest(range(0, 4)) AS row) r
    ),
    cms_regs AS (
      SELECT event_type, row, col, CAST(COUNT(*) AS BIGINT) AS n
      FROM cms_cells GROUP BY 1, 2, 3
    )"""


@query(
    "agg_cms_registers",
    oracle=f"WITH {_CMS_CELLS}\n    SELECT * FROM cms_regs",
)
def agg_cms_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable count-min register table itself (functions/cms.py):
    4×64 md5-bucketed counters of user activity per event type — the
    frequency twin of agg_hll_registers. Every counter is value-checked
    against the oracle's independent reconstruction; this is the
    persistable, SUM-mergeable heavy-hitter index state, not a black-box
    sketch blob."""
    from ..functions import cms

    e = load_table(spark, sf_dir, "events")
    return cms.cms_registers(e, ["event_type"], "user_id")


@query(
    "agg_cms_estimate",
    oracle=f"""
    WITH {_CMS_CELLS},
    probes AS (
      SELECT DISTINCT event_type, user_id FROM events WHERE user_id < 10
    ),
    probe_cells AS (
      SELECT p.event_type, p.user_id, CAST(r.row AS INT) AS row,
             CAST(CAST(('0x' || substring(md5('r' || r.row || '|' ||
               CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS INT) AS col
      FROM probes p, LATERAL (SELECT unnest(range(0, 4)) AS row) r
    ),
    est AS (
      SELECT pc.event_type, pc.user_id,
             CAST(MIN(COALESCE(cr.n, 0)) AS BIGINT) AS est
      FROM probe_cells pc
      LEFT JOIN cms_regs cr USING (event_type, row, col)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS exact
      FROM events WHERE user_id < 10 GROUP BY 1, 2
    )
    SELECT est.event_type, est.user_id, est.est, exact.exact,
           est.est >= exact.exact AS one_sided_ok
    FROM est JOIN exact USING (event_type, user_id)
    """,
)
def agg_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates for a probe set, audited IN-QUERY
    against the exact counts (the agg_sketch_audit pattern): the
    estimate is min over the 4 row counters, and the one-sided-error
    guarantee (never an undercount) is value-checked per probe. The
    estimate join touches only the 4×64-per-group register table, never
    the corpus."""
    from ..functions import cms

    e = load_table(spark, sf_dir, "events")
    regs = cms.cms_registers(e, ["event_type"], "user_id")
    probes = (e.filter(F.col("user_id") < 10)
              .select("event_type", "user_id").distinct())
    est = cms.cms_estimate(regs, probes, ["event_type"], "user_id")
    exact = (e.filter(F.col("user_id") < 10)
             .groupBy("event_type", "user_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact")))
    return (est.join(exact, ["event_type", "user_id"])
            .select("event_type", "user_id", "est", "exact",
                    (F.col("est") >= F.col("exact")).alias("one_sided_ok")))


@query(
    "events_linear_trend",
    oracle="""
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS us, value FROM events
    ),
    mins AS (SELECT event_type, MIN(us) AS us0 FROM base GROUP BY event_type),
    xy AS (
      SELECT b.event_type,
             (b.us - m.us0) // 1000000 AS x,
             b.value AS y
      FROM base b JOIN mins m USING (event_type)
    ),
    mo AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
                       AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
                       AS VARCHAR) AS DOUBLE) AS sxx
      FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx)            AS slope,
           sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (sx / n)
                                                                AS intercept
    FROM mo
    """,
)
def events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend per event type — "is this metric drifting"
    as one aggregation, no iterative fitting: slope/intercept from the
    decimal-exact moment sums (the agg_corr_covar machinery: factor-wise
    decimal casts, exact-string decimal→double, closing arithmetic
    byte-identical on both engines). x is whole seconds since the
    group's first event (integer floor-div — keeps x² sums inside
    decimal precision AND makes x engine-exact); moments are additive,
    so the same five sums merge across shards/days for an incremental
    trend index."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", F.unix_micros("ts").alias("us"), "value")
    mins = base.groupBy("event_type").agg(F.min("us").alias("us0"))
    xy = (base.join(F.broadcast(mins), "event_type")
          .select("event_type",
                  F.expr("(us - us0) div 1000000").alias("x"),
                  F.col("value").alias("y")))
    dec = "decimal(19,6)"
    mo = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec))
         .cast("string").cast("double").alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec))
         .cast("string").cast("double").alias("sxx"),
    )
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return mo.select(
        "event_type", "n", slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")))
        .alias("intercept"))


@query(
    "agg_histogram_2d",
    oracle="""
    WITH b AS (
      SELECT NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS px,
             NTILE(8) OVER (ORDER BY o_custkey, o_orderkey)    AS py,
             o_totalprice
      FROM orders
    )
    SELECT px, py, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM b GROUP BY px, py
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth 2-D histogram (the dashboard heatmap / joint-
    distribution profile): both axes binned by RANK (ntile over a
    total order — exact integer bucketing, no float bin edges to
    disagree on), cells carry count + decimal-exact mass. Two window
    exchanges + one groupBy; at scale swap ntile for the two-pass
    rank-based percentile cut (functions/aggs) to avoid single-ordering
    windows over the full table."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    wx = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    wy = Window.orderBy(F.col("o_custkey"), F.col("o_orderkey"))
    b = o.select(F.ntile(8).over(wx).alias("px"),
                 F.ntile(8).over(wy).alias("py"), "o_totalprice")
    return (b.groupBy("px", "py")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                 .cast("double").alias("sum_price")))


@query(
    "events_funnel_window",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.t_view, MIN(e.us) AS t_click
      FROM v JOIN (SELECT user_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = 'click') e
        ON e.user_id = v.user_id AND e.us >= v.t_view
       AND e.us < v.t_view + 3600000000
      GROUP BY v.user_id, v.t_view
    )
    SELECT v.user_id,
           c.user_id IS NOT NULL AS converted,
           (c.t_click - v.t_view) // 1000000 AS seconds_to_click
    FROM v LEFT JOIN c ON v.user_id = c.user_id
    """,
)
def events_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step with a CONVERSION WINDOW — not just "clicked after
    viewing" (events_funnel_steps) but "clicked within 1 hour of the
    first view", the form product analytics actually ships. The
    window-bounded match is a time-binned candidate join in integer
    microseconds (first view per user broadcasts; click candidates
    filter on the bound before the min), never an unbounded inequality
    scan. Seconds-to-convert comes out of integer floor-div — exact."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min(us).alias("t_view")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", us.alias("us")))
    c = (clicks.join(F.broadcast(v), "user_id")
         .filter((F.col("us") >= F.col("t_view"))
                 & (F.col("us") < F.col("t_view") + 3600000000))
         .groupBy("user_id", "t_view").agg(F.min("us").alias("t_click")))
    return (v.join(c.select("user_id", "t_click"), "user_id", "left")
            .select("user_id",
                    F.col("t_click").isNotNull().alias("converted"),
                    F.expr("(t_click - t_view) div 1000000")
                    .alias("seconds_to_click")))


def _hll_setops_oracle() -> str:
    """Three register tables (orders keys, customer keys, max-merged
    union) and their raw estimates, reconstructed end to end; the
    intersection is inclusion–exclusion over the three estimates."""
    def regs(name: str, src: str) -> str:
        return f"""r_{name} AS (
      SELECT (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1 AS bucket,
             list_reduce(list_transform(range(3, 18),
               i -> CAST(strpos('0123456789abcdef', substring(hx, i, 1)) - 1
                         AS BIGINT)),
               (a, b) -> a * 16 + b) AS x
      FROM (SELECT md5(CAST(k AS VARCHAR)) AS hx FROM ({src}))
    ),
    regs_{name} AS (
      SELECT CAST(bucket AS INT) AS bucket,
             MAX(CASE WHEN x = 0 THEN 61 ELSE 61 - length(bin(x)) END)
               AS max_rho
      FROM r_{name} GROUP BY 1
    ),
    val_{name} AS (
      SELECT 1.0854228543761655e+23 / CAST(CAST(
               SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0)))
               + (256 - COUNT(*)) * CAST((CAST(1 AS BIGINT) << 61) AS DECIMAL(38,0))
             AS VARCHAR) AS DOUBLE) AS est
      FROM regs_{name}
    )"""

    return f"""
    WITH {regs('a', 'SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0')},
    {regs('b', 'SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0')},
    regs_u AS (
      SELECT bucket, MAX(max_rho) AS max_rho FROM (
        SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
      GROUP BY bucket
    ),
    val_u AS (
      SELECT 1.0854228543761655e+23 / CAST(CAST(
               SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0)))
               + (256 - COUNT(*)) * CAST((CAST(1 AS BIGINT) << 61) AS DECIMAL(38,0))
             AS VARCHAR) AS DOUBLE) AS est
      FROM regs_u
    ),
    exact AS (
      SELECT COUNT(DISTINCT o.o_custkey) AS exact_intersection
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderkey % 3 = 0 AND c.c_custkey % 2 = 0
    )
    SELECT va.est AS est_a, vb.est AS est_b, vu.est AS est_union,
           va.est + vb.est - vu.est AS est_intersection,
           exact.exact_intersection,
           abs(va.est + vb.est - vu.est - exact.exact_intersection)
             / exact.exact_intersection < 0.3 AS within_tolerance
    FROM val_a va, val_b vb, val_u vu, exact"""


@query("agg_hll_set_cardinality", oracle=_hll_setops_oracle())
def agg_hll_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra set cardinalities — join-size estimation WITHOUT
    the join: |orders keys|, |customer keys|, |union| (max-merged
    registers, the HLL union identity), and |intersection| by
    inclusion–exclusion over three raw estimates. This is what a 100 TB
    planner consults before choosing a join strategy: three register
    tables (~256 rows each, persisted by the HLL index) replace a scan
    of either side. The exact intersection and a tolerance audit ride
    along (intersection error compounds three sketches — bound 30%
    at m=256); every intermediate is oracle-reconstructed."""
    from ..functions import hll

    # proper subsets with PARTIAL overlap: A = customers placing every
    # third order, B = even-keyed customers
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % 3 == 0)
         .select(F.col("o_custkey").alias("k")))
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_custkey") % 2 == 0)
         .select(F.col("c_custkey").alias("k")))
    ra = hll.hll_registers(o, [], "k")
    rb = hll.hll_registers(c, [], "k")
    ru = hll.hll_merge(ra, rb, group_cols=[])
    ea = hll.hll_estimate(ra, []).select(F.col("raw_est").alias("est_a"))
    eb = hll.hll_estimate(rb, []).select(F.col("raw_est").alias("est_b"))
    eu = hll.hll_estimate(ru, []).select(F.col("raw_est").alias("est_union"))
    exact = (load_table(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 3 == 0)
             .join(load_table(spark, sf_dir, "customer")
                   .filter(F.col("c_custkey") % 2 == 0),
                   F.col("o_custkey") == F.col("c_custkey"))
             .agg(F.countDistinct("o_custkey").alias("exact_intersection")))
    inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (ea.crossJoin(eb).crossJoin(eu).crossJoin(F.broadcast(exact))
            .select("est_a", "est_b", "est_union",
                    inter.alias("est_intersection"),
                    "exact_intersection",
                    (F.abs(inter - F.col("exact_intersection"))
                     / F.col("exact_intersection") < 0.3)
                    .alias("within_tolerance")))


@query(
    "etl_scd2_history",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey,
             md5(CAST(o_totalprice AS VARCHAR) || '|' || o_orderstatus) AS fp2,
             md5(CAST(o_totalprice + 1 AS VARCHAR) || '|' || o_orderstatus) AS fp1
      FROM orders
    )
    SELECT o_orderkey, fp2 AS fp, 2 AS valid_from,
           CAST(NULL AS INT) AS valid_to, TRUE AS is_current
    FROM cur WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT o_orderkey, fp1, 1, 2, FALSE
    FROM cur WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0
    UNION ALL
    SELECT o_orderkey, fp2, 2, CAST(NULL AS INT), TRUE
    FROM cur WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0
    UNION ALL
    SELECT o_orderkey, fp2, 1, CAST(NULL AS INT), TRUE
    FROM cur WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension history built by folding two snapshot
    versions through sources/etl.scd2_merge (the same synthetic
    'yesterday' as etl_snapshot_diff: %97 keys missing, %89 keys stale):
    changed keys carry a CLOSED row [1,2) plus the open current row,
    added keys open at 2, unchanged keys stay open from 1. The oracle
    states the final history straight from the construction rule —
    never running the merge — so a green check proves the fold
    (close/open/survive cases) end to end."""
    from ..sources.etl import scd2_merge

    o = load_table(spark, sf_dir, "orders")
    v1 = (o.filter(F.col("o_orderkey") % 97 != 0)
          .withColumn("o_totalprice",
                      F.when(F.col("o_orderkey") % 89 == 0,
                             F.col("o_totalprice") + 1)
                      .otherwise(F.col("o_totalprice"))))
    empty = spark.createDataFrame(
        [], "o_orderkey bigint, fp string, valid_from int, valid_to int")
    h1 = scd2_merge(empty, v1, ["o_orderkey"],
                    ["o_totalprice", "o_orderstatus"], version=1)
    h2 = scd2_merge(h1, o, ["o_orderkey"],
                    ["o_totalprice", "o_orderstatus"], version=2)
    return h2.withColumn("is_current", F.col("valid_to").isNull())


def _quality_report_oracle() -> str:
    from ..ext.pii import PII_PATTERNS

    pii = " + ".join(f"len(regexp_extract_all(text, '{p}'))"
                     for p in PII_PATTERNS.values())
    return f"""
    WITH toks AS (
      SELECT doc_id, source, text, {_TOKS} AS t FROM documents
    ),
    doc_bg AS (
      SELECT doc_id, i - 1 AS pos,
             list_extract(t, i) || ' ' || list_extract(t, i + 1) AS bg,
             list_extract(t, i) AS w1
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
    ),
    ref_uni AS (
      SELECT w, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS w FROM toks WHERE source IN {_LM_REF})
      GROUP BY w
    ),
    ref_bg AS (
      SELECT bg, COUNT(*) AS c12 FROM doc_bg
      JOIN documents USING (doc_id) WHERE source IN {_LM_REF}
      GROUP BY bg
    ),
    vocab AS (SELECT COUNT(*) AS v FROM ref_uni),
    lm AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), list(p ORDER BY pos)),
               (acc, x) -> acc + x) / COUNT(*) AS mean_p
      FROM (
        SELECT d.doc_id, d.pos,
               CAST(COALESCE(r.c12, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(u.c1, 0) + vocab.v AS DOUBLE) AS p
        FROM doc_bg d
        LEFT JOIN ref_bg r USING (bg)
        LEFT JOIN ref_uni u ON d.w1 = u.w
        CROSS JOIN vocab)
      GROUP BY doc_id
    ),
    chtok AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
      FROM toks
    ),
    ch AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM chtok GROUP BY doc_id, floor((i - 1) / 10)
    ),
    dup AS (SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    chs AS (
      SELECT ch.doc_id, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM ch LEFT JOIN dup USING (h) GROUP BY ch.doc_id
    )
    SELECT t.source,
           COUNT(*)                                    AS n_docs,
           CAST(SUM(len(t.t)) AS BIGINT)               AS n_tokens,
           quantile_cont(CAST(len(t.t) AS DOUBLE), 0.5) AS med_tokens,
           quantile_cont(lm.mean_p, 0.5)               AS med_lm_score,
           CAST(SUM(CASE WHEN {pii} > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_pii_docs,
           CAST(SUM(chs.n_dup) AS DOUBLE)
             / CAST(SUM(chs.n_chunks) AS DOUBLE)       AS dup_chunk_share
    FROM toks t
    LEFT JOIN lm USING (doc_id)
    LEFT JOIN chs USING (doc_id)
    GROUP BY t.source"""


@query("corpus_quality_report", oracle=_quality_report_oracle())
def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus REPORT CARD — the governance table a data
    team reviews before a training run, composed from four independent
    quality subsystems in ONE Catalyst plan: token volume (scan-local),
    reference-LM score medians (broadcast model join), C4 chunk-dedup
    shares (hash-only shuffle), and PII incidence (scan-local regex).
    Medians are exact interpolations (no mean-of-doubles — the decimal
    tie lesson lives in NOTES_r4); shares are integer/integer IEEE
    divisions. The oracle rebuilds all four subsystems independently."""
    from ..ext import dedup as DD
    from ..ext.pii import pii_counts

    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source").isin("src0", "src1", "src2"))
    lm = TX.bigram_lm_score(d, ref, "doc_id", "text") \
        .select("doc_id", "mean_p")
    chs = DD.chunk_dedup_stats(d, "doc_id", "text", chunk=10, min_docs=2) \
        .select("doc_id", "n_chunks", "n_dup_chunks")
    base = d.select("doc_id", "source",
                    F.size(TX.tokens("text")).alias("n_tok"),
                    pii_counts("text")[-1].alias("pii_total"))
    return (base.join(lm, "doc_id", "left").join(chs, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("n_tokens"),
                 F.median(F.col("n_tok").cast("double")).alias("med_tokens"),
                 F.median("mean_p").alias("med_lm_score"),
                 F.sum((F.col("pii_total") > 0).cast("int")).cast("bigint")
                  .alias("n_pii_docs"),
                 (F.sum("n_dup_chunks").cast("double")
                  / F.sum("n_chunks").cast("double"))
                 .alias("dup_chunk_share")))


@query(
    "multimodal_frame_energy",
    oracle="""
    WITH frames AS (
      SELECT doc_id, k AS frame_idx,
             substring(text, k * 16 + 1, 16) AS fr
      FROM documents, LATERAL (
        SELECT unnest(range(0, least(8,
          greatest(1, CAST(ceil(length(text) / 16.0) AS BIGINT))))) AS k)
    )
    SELECT doc_id AS id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(fr) AS INT) AS n_bytes,
           CAST(COALESCE(list_sum(list_transform(
             string_split_regex(fr, ''), ch -> ascii(ch))), 0) AS BIGINT)
             AS energy,
           CAST(COALESCE(list_sum(list_transform(
             string_split_regex(fr, ''), ch -> ascii(ch) * ascii(ch))), 0)
             AS BIGINT) AS energy_sq
    FROM frames
    """,
)
def multimodal_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-frame energy profiling through the REAL multimodal plumbing
    (BinaryType payloads, Arrow-batched 1:N mapInPandas fan-out,
    ext/multimodal.frame_energy) with the codec stubbed to byte
    arithmetic — and, unlike the earlier shape-only multimodal checks,
    fully value-paired: the fixture text is ASCII, so the oracle
    recomputes every frame's byte energy from the string side. 16-byte
    frames, ≤8 per doc; energies are exact integer sums."""
    from ..ext import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    mm = MM.pack(d, "doc_id", "text", "audio/fake")
    return MM.frame_energy(mm, frame_bytes=16, max_frames=8)


_BLOOM_POS = ("CAST(('0x' || substring(md5('b' || {s} || '|' ||"
              " CAST({k} AS VARCHAR)), 1, 8)) AS BIGINT) % 4096")


def _bloom_words_sql(src: str, key: str) -> str:
    return f"""
    bpos AS (
      SELECT {_BLOOM_POS.format(s='r.s', k=key)} AS p
      FROM ({src}), LATERAL (SELECT unnest(range(0, 3)) AS s) r
    ),
    bwords AS (
      SELECT CAST(p // 64 AS INT) AS word,
             CAST(bit_or(CASE WHEN p % 64 = 63
               THEN CAST(-9223372036854775808 AS BIGINT)
               ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END) AS BIGINT)
               AS bits
      FROM bpos GROUP BY 1
    )"""


@query(
    "agg_bloom_words",
    oracle=f"WITH {_bloom_words_sql('SELECT o_custkey FROM orders', 'o_custkey')}"
           "\n    SELECT * FROM bwords",
)
def agg_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable Bloom word table itself (functions/bloom.py):
    md5-positioned bits OR'd into 64-bit words — the persistable,
    bit_or-mergeable MEMBERSHIP index completing the sketch family
    (HLL=distinct, CMS=frequency, Bloom=membership). Every word is
    value-checked against the oracle's reconstruction."""
    from ..functions import bloom

    o = load_table(spark, sf_dir, "orders")
    return bloom.bloom_build(o, [], "o_custkey")


@query(
    "agg_bloom_probe",
    oracle=f"""
    WITH {_bloom_words_sql('SELECT o_custkey FROM orders', 'o_custkey')},
    probes AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000 FROM customer WHERE c_custkey % 7 = 0
    ),
    ppos AS (
      SELECT k, {_BLOOM_POS.format(s='r.s', k='k')} AS p
      FROM probes, LATERAL (SELECT unnest(range(0, 3)) AS s) r
    ),
    hits AS (
      SELECT ppos.k,
             SUM(CASE WHEN (COALESCE(bw.bits, 0)
                   & (CASE WHEN ppos.p % 64 = 63
                      THEN CAST(-9223372036854775808 AS BIGINT)
                      ELSE CAST(1 AS BIGINT) << CAST(ppos.p % 64 AS INT) END))
                   <> 0
                 THEN 1 ELSE 0 END) = 3 AS maybe_present
      FROM ppos LEFT JOIN bwords bw ON CAST(ppos.p // 64 AS INT) = bw.word
      GROUP BY ppos.k
    ),
    truth AS (SELECT DISTINCT o_custkey AS k FROM orders)
    SELECT hits.k, hits.maybe_present,
           truth.k IS NOT NULL AS actually_present,
           (truth.k IS NULL) OR hits.maybe_present AS one_sided_ok
    FROM hits LEFT JOIN truth USING (k)
    """,
)
def agg_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership probes against the persisted Bloom words — half the
    probe keys are real customers with orders, half are shifted absent
    keys — with the exact membership and the one-sided guarantee (a
    present key is NEVER reported absent) audited per row. The probe
    join touches only the 64-row word table."""
    from ..functions import bloom

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    filt = bloom.bloom_build(o, [], "o_custkey")
    probes = (c.select(F.col("c_custkey").alias("k"))
              .unionByName(c.select((F.col("c_custkey") + 1000000).alias("k"))))
    got = bloom.bloom_probe(filt, probes, [], "k")
    truth = (o.select(F.col("o_custkey").alias("k")).distinct()
             .withColumn("__t__", F.lit(True)))
    return (got.join(truth, "k", "left")
            .select("k", "maybe_present",
                    F.coalesce("__t__", F.lit(False)).alias("actually_present"),
                    (~F.coalesce("__t__", F.lit(False))
                     | F.col("maybe_present")).alias("one_sided_ok")))


@query(
    "agg_hll_windowed_ndv",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hr,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ), r AS (
      SELECT hr,
             (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1 AS bucket,
             list_reduce(list_transform(range(3, 18),
               i -> CAST(strpos('0123456789abcdef', substring(hx, i, 1)) - 1
                         AS BIGINT)),
               (a, b) -> a * 16 + b) AS x
      FROM h
    ), regs AS (
      SELECT hr, CAST(bucket AS INT) AS bucket,
             MAX(CASE WHEN x = 0 THEN 61 ELSE 61 - length(bin(x)) END)
               AS max_rho
      FROM r GROUP BY 1, 2
    ), est AS (
      SELECT hr, COUNT(*) AS n_buckets,
             1.0854228543761655e+23 / CAST(CAST(
               SUM(CAST((CAST(1 AS BIGINT) << (61 - max_rho)) AS DECIMAL(38,0)))
               + (256 - COUNT(*)) * CAST((CAST(1 AS BIGINT) << 61) AS DECIMAL(38,0))
             AS VARCHAR) AS DOUBLE) AS raw_est
      FROM regs GROUP BY hr
    ), exact AS (
      SELECT date_trunc('hour', ts) AS hr,
             COUNT(DISTINCT user_id) AS exact_ndv
      FROM events GROUP BY 1
    )
    SELECT est.hr, est.n_buckets, est.raw_est, exact.exact_ndv,
           abs(est.raw_est - exact.exact_ndv) / exact.exact_ndv < 0.2
             AS within_tolerance
    FROM est JOIN exact USING (hr)
    """,
)
def agg_hll_windowed_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per HOUR from per-window HLL registers — the
    sketch × time-series composition a streaming dashboard persists
    (one 256-row register set per window, appendable and max-mergeable
    across late batches), audited in-row against the exact windowed
    count-distinct. Windowed register tables are what the streaming HLL
    index stores when keyed by event-time bucket."""
    from ..functions import hll

    e = load_table(spark, sf_dir, "events")
    hrs = e.select(F.date_trunc("hour", "ts").alias("hr"), "user_id")
    regs = hll.hll_registers(hrs, ["hr"], "user_id")
    est = hll.hll_estimate(regs, ["hr"]).select("hr", "n_buckets", "raw_est")
    exact = hrs.groupBy("hr").agg(F.countDistinct("user_id").alias("exact_ndv"))
    return (est.join(exact, "hr")
            .withColumn("within_tolerance",
                        F.abs(F.col("raw_est") - F.col("exact_ndv"))
                        / F.col("exact_ndv") < 0.2))


@query(
    "text_bigram_lift",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (
      SELECT list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
    ),
    cbg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    cu AS (
      SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks)
      GROUP BY w
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok
          FROM (SELECT unnest(t) FROM toks))
    SELECT w1, w2, c12,
           CAST(c12 * n.n_tok AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) AS lift
    FROM cbg JOIN cu a ON cbg.w1 = a.w JOIN cu b ON cbg.w2 = b.w
    CROSS JOIN n
    WHERE c12 >= 20
    """,
)
def text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by LIFT — PMI's rational core without the log
    (c12·N / (c1·c2), exact integer operands → one IEEE division, so it
    ranks identically to PMI and hash-matches the oracle, where ln()
    would not). Bigrams with c12 ≥ 20: the multiword-expression
    candidates a tokenizer/vocabulary builder reviews. Two count
    shuffles + unigram joins (broadcast at corpus scale — the vocabulary
    is tiny next to the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    bg = (d.select(F.explode(TX.ngrams(toks, 2)).alias("bg"))
          .select(F.split("bg", " ")[0].alias("w1"),
                  F.split("bg", " ")[1].alias("w2")))
    cbg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cu = (d.select(F.explode(toks).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n = d.select(F.explode(toks).alias("w")) \
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    return (cbg.filter(F.col("c12") >= 20)
            .join(cu.withColumnRenamed("w", "w1")
                    .withColumnRenamed("c", "ca"), "w1")
            .join(cu.withColumnRenamed("w", "w2")
                    .withColumnRenamed("c", "cb"), "w2")
            .crossJoin(F.broadcast(n))
            .select("w1", "w2", "c12",
                    ((F.col("c12") * F.col("n_tok")).cast("double")
                     / (F.col("ca") * F.col("cb")).cast("double"))
                    .alias("lift")))


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    ),
    c2 AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
    c1 AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS total FROM c2 GROUP BY cur)
    SELECT c2.cur, c2.nxt, c2.n,
           CAST(c2.n AS DOUBLE) / CAST(c1.total AS DOUBLE) AS p
    FROM c2 JOIN c1 USING (cur)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next | current) as exact count ratios (the path-mining
    companion of the trigram query; what funnel designers and bot
    detectors read). One window pass on the (user, time, id) total
    order, two count aggregations, one IEEE division per cell."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = e.select("user_id", F.col("event_type").alias("cur"),
                   F.lead("event_type").over(w).alias("nxt"))
    c2 = (seq.filter(F.col("nxt").isNotNull())
          .groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n")))
    c1 = c2.groupBy("cur").agg(F.sum("n").cast("bigint").alias("total"))
    return (c2.join(c1, "cur")
            .select("cur", "nxt", "n",
                    (F.col("n").cast("double") / F.col("total").cast("double"))
                    .alias("p")))


@query(
    "events_seasonal_deviation",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, value,
             CAST(extract('hour' FROM ts) AS INT) AS hod
      FROM events
    ),
    med AS (
      SELECT hod, quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
      FROM base GROUP BY hod
    )
    SELECT b.event_id, b.hod, b.value, med.m AS hod_median,
           CAST(b.value AS DOUBLE) - med.m AS deviation,
           abs(CAST(b.value AS DOUBLE) - med.m) > 50.0 AS is_anomaly
    FROM base b JOIN med USING (hod)
    """,
)
def events_seasonal_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile anomaly flags: each event's value against the
    corpus MEDIAN for its hour-of-day (the robust seasonal baseline —
    medians are exact interpolations, immune to both outliers and the
    float-sum ordering that makes mean-based profiles engine-divergent).
    24-row profile broadcasts back; deviation is one IEEE subtraction.
    The daily-rhythm companion of the rolling-MAD detector (which
    flags vs the LOCAL window; this flags vs the seasonal norm)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id", "value",
                    F.hour("ts").cast("int").alias("hod"))
    med = base.groupBy("hod").agg(
        F.median(F.col("value").cast("double")).alias("m"))
    dev = F.col("value").cast("double") - F.col("m")
    return (base.join(F.broadcast(med), "hod")
            .select("event_id", "hod", "value",
                    F.col("m").alias("hod_median"),
                    dev.alias("deviation"),
                    (F.abs(dev) > 50.0).alias("is_anomaly")))


@query(
    "etl_scd2_lookup",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey,
             md5(CAST(o_totalprice AS VARCHAR) || '|' || o_orderstatus) AS fp2,
             md5(CAST(o_totalprice + 1 AS VARCHAR) || '|' || o_orderstatus) AS fp1
      FROM orders
    )
    SELECT o_orderkey, 1 AS as_of_version,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL
                WHEN o_orderkey % 89 = 0 THEN fp1
                ELSE fp2 END AS fp
    FROM cur
    UNION ALL
    SELECT o_orderkey, 2, fp2 FROM cur
    """,
)
def etl_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ side of SCD2: point-in-version lookup — "which dimension
    row was valid when this fact happened" — as a range-containment
    probe into the history table (valid_from ≤ v < valid_to, open rows
    unbounded). Probing every key at versions 1 AND 2 exercises all
    three cases: missing-then-added (%97 → NULL at v1), changed (%89 →
    the superseded fingerprint at v1, current at v2), stable. The
    history broadcasts here; at warehouse scale both sides bucket on
    the key and the containment check rides the colocated join."""
    from ..sources.etl import scd2_merge

    o = load_table(spark, sf_dir, "orders")
    v1 = (o.filter(F.col("o_orderkey") % 97 != 0)
          .withColumn("o_totalprice",
                      F.when(F.col("o_orderkey") % 89 == 0,
                             F.col("o_totalprice") + 1)
                      .otherwise(F.col("o_totalprice"))))
    empty = spark.createDataFrame(
        [], "o_orderkey bigint, fp string, valid_from int, valid_to int")
    hist = scd2_merge(scd2_merge(empty, v1, ["o_orderkey"],
                                 ["o_totalprice", "o_orderstatus"], 1),
                      o, ["o_orderkey"],
                      ["o_totalprice", "o_orderstatus"], 2)
    probes = o.select("o_orderkey").crossJoin(
        spark.range(1, 3).select(F.col("id").cast("int").alias("as_of_version")))
    hit = ((F.col("valid_from") <= F.col("as_of_version"))
           & (F.col("valid_to").isNull()
              | (F.col("as_of_version") < F.col("valid_to"))))
    return (probes.join(F.broadcast(hist),
                        (probes.o_orderkey == hist.o_orderkey) & hit, "left")
            .select(probes.o_orderkey, "as_of_version", "fp"))


@query(
    "text_quality_calibrated",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents
    ),
    doc_bg AS (
      SELECT doc_id, i - 1 AS pos,
             list_extract(t, i) || ' ' || list_extract(t, i + 1) AS bg,
             list_extract(t, i) AS w1
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
    ),
    ref_uni AS (
      SELECT w, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS w FROM toks WHERE source IN {_LM_REF})
      GROUP BY w
    ),
    ref_bg AS (
      SELECT bg, COUNT(*) AS c12 FROM doc_bg
      JOIN documents USING (doc_id) WHERE source IN {_LM_REF}
      GROUP BY bg
    ),
    vocab AS (SELECT COUNT(*) AS v FROM ref_uni),
    lm AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), list(p ORDER BY pos)),
               (acc, x) -> acc + x) / COUNT(*) AS mean_p
      FROM (
        SELECT d.doc_id, d.pos,
               CAST(COALESCE(r.c12, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(u.c1, 0) + vocab.v AS DOUBLE) AS p
        FROM doc_bg d
        LEFT JOIN ref_bg r USING (bg)
        LEFT JOIN ref_uni u ON d.w1 = u.w
        CROSS JOIN vocab)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.source, lm.mean_p,
           PERCENT_RANK() OVER (PARTITION BY t.source
                                ORDER BY lm.mean_p, t.doc_id) AS q_source,
           PERCENT_RANK() OVER (ORDER BY lm.mean_p, t.doc_id) AS q_global
    FROM toks t JOIN lm USING (doc_id)
    """,
)
def text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality calibration: raw LM scores aren't comparable
    across sources (each source has its own register/style), so the
    filter threshold that matters is the PER-SOURCE percentile — emitted
    here next to the global one (both percent_rank: exact integer
    division, ties broken by id). "Keep the top 60% of each source" is
    then one predicate on q_source — the per-source quota form of
    quality filtering that keeps small sources from being wiped out by
    a global cut."""
    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source").isin("src0", "src1", "src2"))
    lm = TX.bigram_lm_score(d, ref, "doc_id", "text").select("doc_id", "mean_p")
    from pyspark.sql import Window

    scored = d.select("doc_id", "source").join(lm, "doc_id")
    ws = Window.partitionBy("source").orderBy("mean_p", "doc_id")
    wg = Window.orderBy("mean_p", "doc_id")
    return scored.select(
        "doc_id", "source", "mean_p",
        F.percent_rank().over(ws).alias("q_source"),
        F.percent_rank().over(wg).alias("q_global"))


@query(
    "sim_dimension_profile",
    oracle="""
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT dim,
             CAST(floor(v * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS qv
      FROM x
    ),
    mo AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(qv) AS BIGINT) AS s1,
             CAST(CAST(SUM(CAST(qv AS DECIMAL(38,0)) * CAST(qv AS DECIMAL(38,0)))
                  AS VARCHAR) AS DOUBLE) AS s2
      FROM q GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, n,
           CAST(s1 AS DOUBLE) / (n * CAST(1000000000 AS DOUBLE)) AS mean_v,
           s2 / (n * 1e18) - (CAST(s1 AS DOUBLE) / (n * CAST(1000000000 AS DOUBLE)))
             * (CAST(s1 AS DOUBLE) / (n * CAST(1000000000 AS DOUBLE))) AS var_v,
           CAST(s1 AS DOUBLE) / (n * CAST(1000000000 AS DOUBLE))
             BETWEEN -0.05 AND 0.05 AS centered_ok
    FROM mo
    """,
)
def sim_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health check: per-DIMENSION mean and variance —
    the diagnostic that catches dead dimensions (zero variance),
    un-centered encoders (mean drift), and scale outliers before they
    poison cosine geometry. Moments use the centroid-fix arithmetic
    (floor-quantized integer sums — no double→decimal tie rule; the
    square sums multiply exact decimals and exit via the string route),
    so every float is bit-reproduced by the oracle. One posexplode +
    one groupBy(dim): 64 output rows at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    B = F.lit(1000000000.0)
    x = emb.select(F.posexplode("embedding").alias("dim", "v0")) \
        .select("dim", F.floor(F.col("v0").cast("double") * B)
                .cast("bigint").alias("qv"))
    mo = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").cast("bigint").alias("s1"),
        F.sum(F.col("qv").cast("decimal(38,0)")
              * F.col("qv").cast("decimal(38,0)"))
         .cast("string").cast("double").alias("s2"))
    mean = F.col("s1").cast("double") / (F.col("n") * B)
    return mo.select(
        F.col("dim").cast("int").alias("dim"), "n",
        mean.alias("mean_v"),
        (F.col("s2") / (F.col("n") * F.lit(1e18)) - mean * mean).alias("var_v"),
        mean.between(-0.05, 0.05).alias("centered_ok"))


@query(
    "text_vocab_growth",
    oracle=f"""
    WITH firsts AS (
      SELECT w, MIN(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
      GROUP BY w
    ),
    per_doc AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new_types
      FROM firsts GROUP BY first_doc
    )
    SELECT d.doc_id,
           COALESCE(p.n_new_types, 0) AS n_new_types,
           CAST(SUM(COALESCE(p.n_new_types, 0)) OVER (
             ORDER BY d.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_types
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps-law measurement a tokenizer/
    vocab budget is planned against): per document in ingest order, how
    many never-before-seen word types it contributes, and the running
    vocabulary size. NOT a quadratic rescan per prefix — each type's
    FIRST document comes from one min-groupBy, the per-doc novelty
    counts from a second, and the curve is a running-sum window. All
    integer arithmetic."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    firsts = (d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
              .groupBy("w").agg(F.min("doc_id").alias("first_doc")))
    per_doc = (firsts.groupBy(F.col("first_doc").alias("doc_id"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_types")))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"))
            .withColumn("cum_types",
                        F.sum("n_new_types").over(w).cast("bigint")))


@query(
    "corpus_tokens_by_quality_cut",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tok,
             NTILE(10) OVER (PARTITION BY source
               ORDER BY len({_TOKS}), doc_id) AS decile
      FROM documents
    )
    SELECT source, decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_in_decile,
           CAST(SUM(SUM(n_tok)) OVER (PARTITION BY source
             ORDER BY decile DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS tokens_at_or_above
    FROM scored GROUP BY source, decile
    """,
)
def corpus_tokens_by_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-budget planning: token volume surviving each per-source
    quality cut — docs ranked into per-source deciles (here by length
    as the stand-in score; swap in q_source from
    text_quality_calibrated unchanged), with the running
    tokens-at-or-above each decile. "If we keep the top 30% of every
    source, how many tokens do we train on" is one row lookup. Rank
    bucketing + integer sums + one running window: exact everywhere."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(TX.tokens("text"))
    wd = Window.partitionBy("source").orderBy(n_tok, "doc_id")
    scored = d.select("doc_id", "source", n_tok.alias("n_tok"),
                      F.ntile(10).over(wd).alias("decile"))
    per = (scored.groupBy("source", "decile")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("tokens_in_decile")))
    wc = (Window.partitionBy("source").orderBy(F.col("decile").desc())
          .rowsBetween(Window.unboundedPreceding, 0))
    return per.withColumn(
        "tokens_at_or_above",
        F.sum("tokens_in_decile").over(wc).cast("bigint"))
