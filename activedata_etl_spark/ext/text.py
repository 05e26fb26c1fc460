"""Text-analysis operators for training-data pipelines (north-star §2.11).

All pure Column expressions (JVM-side, codegen'd) — tokenization, shingling,
fingerprinting, quality scoring, language ID — designed so the 100 TB path
is a single scan with no shuffle until the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..staging import stage

#: Tiny per-language stopword lists for the n-gram/stopword-overlap
#: language-ID heuristic. Real pipelines plug a model here; the heuristic
#: keeps the operator deterministic and scan-local.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "nicht"],
    "es": ["el", "la", "los", "que", "de"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(text) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(text) -> Column:
    return F.size(tokens(text))


def ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-grams WITH duplicates (order-sensitive, for repetition
    scoring); `shingles` is the distinct-set variant for dedup.

    Built as n shifted slices zipped together — O(n·len) — NOT a slice
    per position (O(len²) copying: measured 9s vs 0.2s per metric over
    sf0.1 docs when the quadratic form sat inside a quality gate)."""
    ln = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, j + 1, ln) for j in range(n)]
    joined = shifted[0]
    for s in shifted[1:]:
        joined = F.zip_with(joined, s,
                            lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(ln >= 1, joined).otherwise(
        F.expr("CAST(array() AS array<string>)"))


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-grams (distinct), the unit for Jaccard/minhash dedup."""
    return F.array_distinct(ngrams(toks, n))


def repetition_ratio(toks: Column, n: int = 3) -> Column:
    """Fraction of duplicated n-grams within the doc (Gopher/C4-style
    repetition filter): 1 − |distinct n-grams| / |n-grams|; null when the
    doc is too short to have any. Pure scan-local Column arithmetic."""
    g = ngrams(toks, n)
    return F.when(F.size(g) > 0,
                  1 - F.size(F.array_distinct(g)) / F.size(g))


def chunk_tokens(toks: Column, window: int, stride: int | None = None) -> Column:
    """Split a token sequence into fixed-size windows (array of arrays) —
    the context-window chunking step before sequence packing. ``stride``
    < ``window`` gives overlapping chunks (sliding-window training data).
    Scan-local; pair with ``F.posexplode`` for one row per chunk."""
    stride = window if stride is None else stride
    # clamp to ≥1: any non-empty doc yields at least its (short) whole-doc
    # chunk; without the clamp sequence(0, -1) would DESCEND in Spark.
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - window) / F.lit(stride)).cast("int") + 1, F.lit(1))
    starts = F.sequence(F.lit(0), n_chunks - 1)
    return F.when(F.size(toks) > 0,
                  F.transform(starts, lambda k: F.slice(toks, k * stride + 1, window))) \
        .otherwise(F.expr("CAST(array() AS array<array<string>>)"))


#: GPT-2-ish pretokenizer approximation: letter runs, digit runs, and
#: punctuation runs (``\p{L}``/``\p{N}`` work in both Java regex and RE2).
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def bpe_ish_tokens(text) -> Column:
    """BPE-style pretokenization (letters/digits/punct runs) — the token
    counting a training-data pipeline budgets with, as opposed to the
    whitespace tokens the dedup shingles use."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


_ROLL_P = 1_000_000_007


def rolling_hash(toks: Column) -> Column:
    """Polynomial rolling hash over the token sequence (order-sensitive,
    unlike the set-based minhash): h = Σ v(tok_i)·131^(n-i) mod p with
    v(t) = 31·len(t) + codepoint(t[0]). Pure integer Column arithmetic,
    reproducible by any engine; intermediate values stay < 2^40 so no
    overflow-wrap divergence between engines."""
    v = lambda t: (F.length(t) * 31 + F.ascii(t)) % _ROLL_P  # noqa: E731
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 131 + v(t)) % _ROLL_P,
    )


def fingerprint(text) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    md5 (not xxhash64) so any engine can reproduce it bit-for-bit."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def quality_metrics(text) -> list[Column]:
    """Cheap quality signals: length, token stats, type-token ratio,
    mean token length — the usual first-pass corpus filters."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    return [
        F.length(c).alias("q_chars"),
        n_tok.alias("q_tokens"),
        F.size(F.array_distinct(toks)).alias("q_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("q_ttr"),
        ((F.length(c) - n_tok + 1) / n_tok).alias("q_mean_token_len"),
    ]


def lang_scores(toks: Column) -> dict[str, Column]:
    """Stopword-overlap score per language (distinct-marker hits)."""
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(toks: Column) -> Column:
    """Argmax language with deterministic tiebreak (lexicographic lang
    code wins ties, 'und' when no marker hits)."""
    scores = lang_scores(toks)
    best = None
    for lang in sorted(scores):  # lexicographic ⇒ ties resolve deterministically
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("s"), F.lit(lang).alias("l"))
        else:
            best = F.when(s > best.getField("s"),
                          F.struct(s.alias("s"), F.lit(lang).alias("l"))).otherwise(best)
    return F.when(best.getField("s") > 0, best.getField("l")).otherwise(F.lit("und"))


def pack_bins(df, shard_col: str, id_col: str, n_tok_col: str,
              capacity: int):
    """Sequence packing: assign each document a BIN within its shard so
    concatenating a bin's docs (in id order) yields ~``capacity`` tokens —
    the contiguous-stream packing used to build fixed-length training
    contexts (doc boundaries may straddle bins; the chunker handles
    splitting). bin = floor(tokens-before-this-doc / capacity) over the
    shard's id-ordered stream.

    Scale: the running sum partitions by SHARD — parallelism = shard
    count, and no global single-task window ever exists. Shard by
    whatever the corpus is already organized on (source, language, date,
    id-range); packing quality only needs shards ≫ capacity in tokens.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(shard_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    prev = F.coalesce(F.sum(n_tok_col).over(w), F.lit(0).cast("bigint"))
    return df.withColumn(
        "bin", F.floor(prev / F.lit(float(capacity))).cast("bigint"))


#: Gopher-rule stopword list (Rae et al. 2021 §A1.1 uses a small English
#: function-word set; the rule is "≥ 2 distinct hits", a cheap proxy for
#: "is actual prose").
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]


def gopher_metrics(text) -> list[Column]:
    """Gopher-style document-quality signals (Rae et al. 2021, §A1.1),
    the standard pre-dedup corpus gate: word count bounds, mean word
    length bounds, symbol-to-word ratio, distinct-stopword hits, and the
    duplicate-2-gram fraction. All scan-local Column arithmetic (one
    projection, no shuffle); thresholds live in the caller so one scan
    can feed several policies.

    Divisions are expressed identically on the oracle side (int/int →
    double in both engines), so the float metrics hash exactly.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("bigint"),
                          lambda acc, t: acc + F.length(t))
    n_sym = F.size(F.filter(toks, lambda t: t.rlike(r"^[^\p{L}\p{N}]+$")))
    return [
        n.alias("n_words"),
        (sum_len / n).alias("mean_word_len"),
        (n_sym / n).alias("symbol_ratio"),
        F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))).alias("stop_hits"),
        F.coalesce(repetition_ratio(toks, 2), F.lit(0.0)).alias("dup_2gram"),
    ]


def gopher_keep(min_words: int = 20, max_words: int = 100_000,
                min_mwl: float = 2.0, max_mwl: float = 10.0,
                max_symbol_ratio: float = 0.1, min_stop_hits: int = 2,
                max_dup_2gram: float = 0.85) -> Column:
    """Keep flag over the :func:`gopher_metrics` output columns."""
    return (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mwl, max_mwl)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("stop_hits") >= min_stop_hits)
        & (F.col("dup_2gram") <= max_dup_2gram)
    )


def length_batches(df, shard_col: str, id_col: str, n_tok_col: str,
                   batch_size: int):
    """Length-bucketed batching audit: sort each shard's docs by token
    count, cut into fixed-size batches, report per-batch padding waste
    (n_docs·max_len − Σ len — the tokens a fixed-shape batch pads).
    Sorting by length before batching is THE standard padding reducer;
    this operator quantifies the win per shard so mixtures can be
    re-sharded where waste is high.

    Scale: the row_number window partitions by SHARD (parallelism =
    shard count, no global sort); everything after is one partial-agg'd
    groupBy."""
    from pyspark.sql import Window

    w = Window.partitionBy(shard_col).orderBy(n_tok_col, id_col)
    batched = df.withColumn(
        "batch", F.floor((F.row_number().over(w) - 1) / batch_size))
    return (batched.groupBy(shard_col, "batch")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max(n_tok_col).alias("max_tok"),
                 F.sum(F.col(n_tok_col)).cast("bigint").alias("sum_tok"))
            .withColumn("padding_waste",
                        (F.col("n_docs") * F.col("max_tok")
                         - F.col("sum_tok")).cast("bigint")))


def bpe_merges(df, text_col: str, n_merges: int = 3, sep: str = "~"):
    """Byte-pair-encoding merge induction (Sennrich et al. 2016) — learn
    the first ``n_merges`` merges from the corpus, the vocabulary-
    construction step a tokenizer pipeline runs before token counting.

    The trick that makes this a Spark-sized problem: after ONE corpus
    scan (word → frequency), every round works on the weighted
    VOCABULARY (distinct words), not the corpus — pair counting and the
    merge rewrite are vocab-cardinality jobs however big the text is.
    Greedy merge application is expressed as leftmost non-overlapping
    string replace over a separator-joined symbol string, which both
    Spark's replace() and any oracle engine's replace() implement with
    identical semantics (probed: 'a~a~a' + (a,a) → [aa, a] on both).

    Returns one row per learned merge: (merge_rank, lhs, rhs, merged, n) with
    n = the weighted pair count that won the round. Words containing the
    separator character are excluded (guard, not silent corruption).
    """
    from pyspark.sql import functions as F

    # STAGE the weighted vocabulary and each round's 1-row winner in
    # memory: round r's `top` subtree is consumed twice (the output row
    # and the state rewrite), and it transitively contains every earlier
    # round — unstaged, the corpus scan re-executes ~2^n_merges times
    # inside one plan (26× wall at the sf1 rig). The returned frame
    # reads them lazily, so they live until the caller's scope closes.
    words = stage(df.select(F.explode(tokens(text_col)).alias("w"))
                  .filter(~F.col("w").contains(sep) & (F.length("w") > 0))
                  .groupBy("w").agg(F.count(F.lit(1)).alias("wf")), "memory")
    state = words.select(
        F.concat_ws(sep, F.split(F.col("w"), "")).alias("seq"), "wf")
    out = None
    for rank in range(1, n_merges + 1):
        syms = F.split(F.col("seq"), sep)
        # guard 1-symbol words: sequence(1, 0) DESCENDS in Spark
        pairs = F.when(F.size(syms) > 1, F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda j: F.struct(F.element_at(syms, j).alias("lhs"),
                               F.element_at(syms, j + 1).alias("rhs")))) \
            .otherwise(F.expr(
                "CAST(array() AS array<struct<lhs:string,rhs:string>>)"))
        counted = (state.select(F.explode(pairs).alias("p"), "wf")
                   .groupBy("p.lhs", "p.rhs")
                   .agg(F.sum("wf").cast("bigint").alias("n")))
        top = stage(counted.orderBy(F.col("n").desc(), "lhs", "rhs")
                    .limit(1).select("lhs", "rhs", "n"), "memory")
        row = top.select(F.lit(rank).alias("merge_rank"), "lhs", "rhs",
                         F.concat("lhs", "rhs").alias("merged"), "n")
        out = row if out is None else out.unionByName(row)
        state = (state.crossJoin(F.broadcast(top))
                 .select(F.replace(
                     F.col("seq"),
                     F.concat("lhs", F.lit(sep), "rhs"),
                     F.concat("lhs", "rhs")).alias("seq"), "wf"))
    return out


def gopher_table(df, id_cols: list[str], text_col: str = "text"):
    """Two-stage form of :func:`gopher_metrics`: materialize the token
    and 2-gram arrays in a first projection, derive the metric scalars
    in a second. Identical values (verified), 2.3× faster at sf0.1 —
    expression-level CSE does not reach the three references the
    repetition ratio makes to its n-gram array, so a single projection
    evaluates the array pipeline three times."""
    # r13 opt (guide §4.1/§1): tokenize ONCE. ngrams(toks, 2) expands to
    # two shifted slices that each re-embed the split(lower(trim(text)))
    # subtree — the old staged projection carried SIX copies of the
    # tokenizer regex (plan-counted), and higher-order functions keep
    # the projection out of whole-stage codegen's subexpression
    # elimination, so every copy ran per row. Materializing __tk__ in
    # its own projection makes the n-gram stage reference the token
    # array instead; CollapseProject keeps the stages apart because the
    # non-cheap alias is referenced more than once. Values unchanged.
    staged0 = df.select(*id_cols, tokens(text_col).alias("__tk__"))
    staged = staged0.select(*id_cols, "__tk__",
                            ngrams(F.col("__tk__"), 2).alias("__g2__"))
    n = F.size("__tk__")
    return staged.select(
        *id_cols,
        n.alias("n_words"),
        (F.aggregate("__tk__", F.lit(0).cast("bigint"),
                     lambda a, t: a + F.length(t)) / n).alias("mean_word_len"),
        (F.size(F.filter("__tk__", lambda t: t.rlike(r"^[^\p{L}\p{N}]+$")))
         / n).alias("symbol_ratio"),
        F.size(F.array_intersect(
            "__tk__", F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
         .alias("stop_hits"),
        F.coalesce(
            F.when(F.size("__g2__") > 0,
                   1 - F.size(F.array_distinct("__g2__")) / F.size("__g2__")),
            F.lit(0.0)).alias("dup_2gram"),
    )


def bigram_lm_tables(ref, text_col: str = "text"):
    """Reference-corpus bigram language model: (unigrams[w, c1],
    bigrams[bg, c12], vocab[1 row: __V__]).

    The CCNet-style quality filter trains a small LM on a trusted slice
    (its Wikipedia KenLM) and scores the whole crawl against it. Here the
    model IS two count tables — O(reference tokens) rows, built with one
    shuffle each — plus the vocabulary size for add-one smoothing. At
    100 TB the reference slice is a fraction of a percent of the corpus,
    so these tables are small enough to broadcast into the scoring join.
    """
    tk = tokens(text_col)
    uni = (ref.select(F.explode(tk).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
    bg = (ref.select(F.explode(ngrams(tk, 2)).alias("bg"))
          .groupBy("bg").agg(F.count(F.lit(1)).alias("c12")))
    vocab = uni.groupBy().agg(F.count(F.lit(1)).alias("__V__"))
    return uni, bg, vocab


def bigram_lm_score(df, ref, id_col: str, text_col: str = "text"):
    """Score every document's bigrams against the reference LM:
    (id, n_bigrams, n_unseen, mean_p).

    ``mean_p`` is the MEAN TRANSITION PROBABILITY with add-one smoothing,
    P(w2|w1) = (c12 + 1) / (c1 + V) — deliberately NOT log-perplexity:
    ln() differs between engines in the last ulp (measured: Spark
    1.0986122886681096 vs DuckDB ...98 for ln 3), while integer-operand
    IEEE division and fixed-order summation are bit-deterministic, so
    the score is hash-exactly oracle-checkable. It ranks documents the
    same way perplexity does for a filter threshold (monotone in the
    per-transition likelihoods it averages); ``n_unseen`` (bigrams never
    seen in the reference) is the heavy-tail signal log-space would
    amplify. The per-doc sum folds in POSITION order over a sorted
    struct array, so the result is partition-order independent.

    Plan: the two model tables join onto the exploded corpus bigrams
    (broadcast when small — the usual case), one groupBy(id) closes.
    Docs with fewer than two tokens have no transitions and drop out;
    keep them upstream with a left join if needed.
    """
    uni, bg, vocab = bigram_lm_tables(ref, text_col)
    # r13 opt (guide §4.1): tokenize once — ngrams inlined under the
    # posexplode re-embedded the tokenizer regex per shifted slice (no
    # CSE reaches generator input); stage the token array first.
    doc = (df.select(F.col(id_col), tokens(text_col).alias("__tk0__"))
           .select(F.col(id_col),
                   F.posexplode(ngrams(F.col("__tk0__"), 2))
                   .alias("__pos__", "bg")))
    joined = (
        doc.join(bg, "bg", "left")
        .withColumn("__w1__", F.split("bg", " ")[0])
        .join(uni.withColumnRenamed("w", "__w1__"), "__w1__", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("__p__",
                    (F.coalesce("c12", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("c1", F.lit(0)) + F.col("__V__")).cast("double"))
    )
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(F.col("c12").isNull().cast("bigint")).alias("n_unseen"),
                 (F.aggregate(
                     F.array_sort(F.collect_list(F.struct("__pos__", "__p__"))),
                     F.lit(0.0), lambda a, s: a + s["__p__"])
                  / F.count(F.lit(1))).alias("mean_p")))


def bpe_apply(words, merges, word_col: str = "w", sep: str = "~"):
    """Apply learned BPE merges (rank order) to each word — adds ``seq``,
    the separator-joined subword symbols.

    The ENCODE half of the tokenizer loop (:func:`bpe_merges` is the
    induction half): the merge table folds over each word as a chain of
    leftmost-nonoverlapping replaces — the same replace() semantics the
    induction used, so encode(induce(corpus)) is self-consistent by
    construction. The merges broadcast (they are vocabulary metadata,
    a few rows); encoding is a scan-local expression. Apply it to the
    DISTINCT-word table and join back to documents — per-word work is
    paid once per vocabulary entry, not once per corpus occurrence."""
    marr = (merges.groupBy()
            .agg(F.array_sort(F.collect_list(F.struct(
                "merge_rank", "lhs", "rhs"))).alias("__m__")))
    seq0 = F.concat_ws(sep, F.split(F.col(word_col), ""))
    return (words.crossJoin(F.broadcast(marr))
            .withColumn("seq", F.aggregate(
                "__m__", seq0,
                lambda acc, m: F.replace(
                    acc,
                    F.concat(m["lhs"], F.lit(sep), m["rhs"]),
                    F.concat(m["lhs"], m["rhs"]))))
            .drop("__m__"))


def sparse_cosine_pairs(df, id_col: str, text_col: str = "text",
                        max_df: int | None = None,
                        threshold: float = 0.5):
    """Document-pair cosine over SPARSE token-count vectors via an
    inverted index — the IR-style complement of the dense embedding path:
    no embeddings needed, pairs materialize only for documents sharing a
    term (one equi-join shuffle on the term), and all dot products are
    INTEGER sums (term frequencies), so scores are bit-deterministic.

    ``max_df`` drops terms appearing in more than that many documents
    before the join — simultaneously the stopword pruning IR does anyway
    and the hot-key cap every pairwise operator here carries (a term in
    half the corpus would fan out |corpus|²/4 candidate rows; it also
    carries no similarity signal).

    Identical-content prepass (the standing rule for pairwise ops, see
    SCALE.md): docs with identical token arrays collapse to one
    canonical before the term join — K copies of a page would otherwise
    grow every posting list K× and the dot-pair stage K². Document
    frequency for the cap is weighted by copy count, so the df relation
    is stated over the ORIGINAL corpus, prepass invisible; copy-pairs
    re-expand at the end with the same dot/(n·n) expression the verify
    computes, so values match an oracle that never deduped. Returns
    (id_a, id_b, cos) with id_a < id_b and cos ≥ threshold."""
    groups = (df.groupBy(F.xxhash64(tokens(text_col)).alias("__h__"))
              .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids__"),
                   F.first(F.col(text_col)).alias("__t__"),
                   F.count(F.lit(1)).alias("__nc__")))
    canon = stage(groups.select(
        F.element_at("__ids__", 1).alias("id"), "__ids__", "__t__", "__nc__"
    ), "memory")
    tf = (canon.select("id", "__nc__", F.explode(tokens("__t__")).alias("term"))
          .filter(F.length("term") > 0)
          .groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"),
                                     F.first("__nc__").alias("__nc__")))
    if max_df is not None:
        keep = (tf.groupBy("term")
                .agg(F.sum("__nc__").cast("bigint").alias("__df__"))
                .filter(F.col("__df__") <= max_df).select("term"))
        tf = tf.join(keep, "term")
    sumsq = (tf.groupBy("id")
             .agg(F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("ss")))
    norms = sumsq.select("id", F.sqrt(F.col("ss").cast("double")).alias("nrm"))
    a = tf.select("term", F.col("id").alias("ca"), F.col("tf").alias("tfa"))
    b = tf.select("term", F.col("id").alias("cb"), F.col("tf").alias("tfb"))
    dots = (a.join(b, "term")
            .filter(F.col("ca") < F.col("cb"))
            .groupBy("ca", "cb")
            .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("bigint").alias("dot")))
    na = norms.select(F.col("id").alias("ca"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("cb"), F.col("nrm").alias("nb"))
    ids_a = canon.select(F.col("id").alias("ca"), F.col("__ids__").alias("ids_a"))
    ids_b = canon.select(F.col("id").alias("cb"), F.col("__ids__").alias("ids_b"))
    cross = (dots.join(na, "ca").join(nb, "cb")
             .withColumn("cos", F.col("dot").cast("double")
                         / (F.col("na") * F.col("nb")))
             .filter(F.col("cos") >= threshold)
             .join(ids_a, "ca").join(ids_b, "cb")
             .select(F.explode("ids_a").alias("x"), F.col("ids_b"), "cos")
             .select("x", F.explode("ids_b").alias("y"), "cos")
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), "cos"))
    within = (canon.filter(F.size("__ids__") >= 2)
              .join(sumsq, "id")  # inner: docs with no kept terms never pair
              .withColumn("cos", F.col("ss").cast("double")
                          / (F.sqrt(F.col("ss").cast("double"))
                             * F.sqrt(F.col("ss").cast("double"))))
              .filter(F.col("cos") >= threshold)
              .select(F.explode(F.flatten(F.transform(
                  "__ids__",
                  lambda x, i: F.transform(
                      F.slice(F.col("__ids__"), i + F.lit(2),
                              F.size(F.col("__ids__"))),
                      lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                  ),
              ))).alias("p"), "cos")
              .select("p.id_a", "p.id_b", "cos"))
    return cross.unionByName(within)


def bm25_topk(df, id_col: str, text_col: str, terms: list[str],
              k: int = 15, k1_x10: int = 12, b_x100: int = 75):
    """Okapi BM25 (Robertson et al., TREC-3 1994) top-k retrieval over
    the corpus for a fixed term set — the lexical-search complement of
    the embedding ANN path, and the retrieval scorer most training-data
    pipelines use for decontamination lookups and hard-negative mining.

    Cross-engine determinism: BM25 is normally written with an ln() idf
    and double accumulation — both non-portable (libm last-ulp; sum
    order). Rearranged here as a RATIO OF EXACT INTEGERS per (doc,term):

        score = A·tf·(2N−2df+1)·total
                / [(2df+1)·(1000·tf·total + B1·total + B2·dl·N)]

    with A = 100·(k1_x10+10), B1 = k1_x10·(100−b_x100),
    B2 = k1_x10·b_x100 — k1/b folded to integers (×1000), and idf as
    the Robertson ratio (N−df+½)/(df+½) ⇒ ×2 ⇒ (2N−2df+1)/(2df+1):
    ln() is monotone in it, so ranking is the classic BM25 ranking.
    Every operand above is an exact BIGINT; the only floating ops are
    one multiply and one divide per (doc,term) — IEEE-identical in any
    engine — and the per-doc combine, which floor-quantizes each term
    score to 1e-6 and sums BIGINTs (order-free, no decimal tie rule).

    Plan at 100 TB: tokenization and the term filter are scan-local, so
    the only doc-keyed shuffle carries |terms|·(matching docs) rows —
    never the corpus; df and the (N, total) pair are tiny broadcasts;
    the final top-k lowers to TakeOrderedAndProject (per-partition
    heaps, no global sort).
    """
    A = 100 * (k1_x10 + 10)
    B1 = k1_x10 * (100 - b_x100)
    B2 = k1_x10 * b_x100
    base = df.select(F.col(id_col), tokens(text_col).alias("__t__"))
    tf = (base.select(id_col, F.size("__t__").cast("bigint").alias("__dl__"),
                      F.explode("__t__").alias("__w__"))
          .filter(F.col("__w__").isin(terms))
          .groupBy(id_col, "__w__")
          .agg(F.count(F.lit(1)).alias("__tf__"),
               F.first("__dl__").alias("__dl__")))
    dfreq = (tf.groupBy("__w__")
             .agg(F.count(F.lit(1)).cast("bigint").alias("__df__")))
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("__n__"),
                 F.sum(F.size("__t__")).cast("bigint").alias("__total__"))
    num = (F.lit(A) * F.col("__tf__")
           * (2 * F.col("__n__") - 2 * F.col("__df__") + 1)).cast("bigint")
    den_inner = (1000 * F.col("__tf__") * F.col("__total__")
                 + F.lit(B1) * F.col("__total__")
                 + F.lit(B2) * F.col("__dl__") * F.col("__n__")).cast("bigint")
    scored = (tf.join(F.broadcast(dfreq), "__w__")
              .crossJoin(F.broadcast(n))
              .withColumn("__s__",
                          num.cast("double") * F.col("__total__").cast("double")
                          / ((2 * F.col("__df__") + 1).cast("double")
                             * den_inner.cast("double"))))
    agg = (scored.groupBy(id_col)
           .agg((F.sum(F.floor(F.col("__s__") * F.lit(1000000.0))
                       .cast("bigint")).cast("double")
                 / F.lit(1000000.0)).alias("bm25")))
    return agg.orderBy(F.desc("bm25"), id_col).limit(k)


def rrf_fuse(lex, sem, id_col: str, n: int, k0: int = 60):
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    result lists — the standard hybrid-retrieval combiner (lexical BM25
    leg + semantic ANN leg) because it needs no score calibration:
    fused = Σ 1/(k0 + rank_leg), missing leg contributes 0.

    Inputs are the ALREADY-TRUNCATED top-N legs (each a handful of rows
    straight out of a TakeOrderedAndProject), each carrying a ``rank``
    column. Determinism: ranks are exact integers, each reciprocal is
    one IEEE division, and the two-term sum has a FIXED order (lex then
    sem) — mirror the same order in any oracle. The window/join here run
    over ≤2N rows, so the single-partition concern does not apply; the
    heavy lifting (corpus-scale scoring) happened inside the legs.
    """
    a = lex.select(F.col(id_col), F.col("rank").alias("__rl__"))
    b = sem.select(F.col(id_col), F.col("rank").alias("__rs__"))
    one = F.lit(1).cast("double")
    return (a.join(b, id_col, "full_outer")
            .withColumn("rrf",
                        F.coalesce(one / (F.lit(k0) + F.col("__rl__"))
                                   .cast("double"), F.lit(0.0))
                        + F.coalesce(one / (F.lit(k0) + F.col("__rs__"))
                                     .cast("double"), F.lit(0.0)))
            .select(id_col, F.col("__rl__").alias("rank_lex"),
                    F.col("__rs__").alias("rank_sem"), "rrf"))


def bm25_postings(df, id_col: str, text_col: str):
    """Per-document posting facts for the BM25 index: (id, term, tf, dl).
    Facts, not counters — so the index stays replay-safe under batch-
    keyed overwrite (unlike CMS sums); df / N / total-token stats are
    DERIVED on read, which also means deleting a batch directory
    correctly retracts its documents from every statistic."""
    base = df.select(F.col(id_col).alias("id"),
                     tokens(text_col).alias("__t__"))
    return (base.select("id", F.size("__t__").cast("bigint").alias("dl"),
                        F.explode("__t__").alias("term"))
            .groupBy("id", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"),
                 F.first("dl").alias("dl")))


def append_bm25_index(df, id_col: str, text_col: str,
                      path: str, batch_id: int) -> None:
    """Incremental retrieval-index maintenance with AT-LEAST-ONCE
    safety: each micro-batch OVERWRITES its own batch-keyed directory
    (the idempotent etl-key pattern every index here uses) — replaying
    batch k rewrites identical posting bytes instead of duplicating
    them.

    Alongside the postings, a DOC-LENGTH facts shard (id, dl — one row
    per doc) lands under ``_dl/batch=k``: the corpus stats (N, Σdl)
    that every query needs then derive from a doc-count-sized table
    instead of a full postings scan (the r9 sf1 measurement showed the
    stats aggregation, not delta scoring, dominating the index-served
    path at 10×). The underscore prefix keeps the facts dir invisible
    to the postings read's partition discovery, same as _compact.tmp.
    Retract a batch with :func:`retract_bm25_batch` (both shards must
    drop together or the stats count ghost docs)."""
    import os

    post = bm25_postings(df, id_col, text_col)
    shard = os.path.join(path, f"batch={batch_id}")
    post.write.mode("overwrite").parquet(shard)
    # derive the facts from the just-written shard (column-pruned read
    # of two hash-width columns), NOT from `post` — two actions on the
    # same unpersisted frame would tokenize the batch twice (r9 review
    # finding #7)
    spark = df.sparkSession
    (spark.read.parquet(shard).groupBy("id")
     .agg(F.first("dl").alias("dl"))
     .write.mode("overwrite")
     .parquet(os.path.join(path, "_dl", f"batch={batch_id}")))


def retract_bm25_batch(path: str, batch_id: int) -> None:
    """Remove one ingest batch from the index — postings AND its
    doc-length facts shard, so every merge-on-read statistic forgets
    the batch's docs together (GDPR/retention lifecycle step)."""
    import os
    import shutil

    shutil.rmtree(os.path.join(path, f"batch={batch_id}"),
                  ignore_errors=True)
    shutil.rmtree(os.path.join(path, "_dl", f"batch={batch_id}"),
                  ignore_errors=True)


def bm25_query_index(spark, path: str, terms: list[str], k: int = 15,
                     k1_x10: int = 12, b_x100: int = 75,
                     batch: int | None = None):
    """BM25 top-k served from the PERSISTED postings index — the
    retrieval path a service hits, with corpus stats derived
    merge-on-read so appended batches are searchable immediately.

    Same exact-integer rational as :func:`bm25_topk` (byte-identical
    scores, so the oracle for an index-served query is the plain
    corpus SQL — index invisibility). Plan: the term filter hits the
    postings scan (only the query's terms are read — at 100 TB, store
    the postings bucketed/sorted by term and this becomes an index
    seek); df and the (N, total) pair are two tiny aggregates of the
    dl facts, broadcast back.

    ``batch`` restricts the SCORED documents to one batch directory —
    the nightly-ingest delta query ("which of today's docs rank for
    this standing query") — while every corpus statistic (df, N, total
    tokens) still derives from ALL batches merged on read, so a delta
    doc is scored exactly as a from-scratch full-corpus run would score
    it. Plan effect: partition pruning makes the scored scan
    |delta|-sized; the stats aggregates stay corpus-wide but are
    posting-facts-sized, not text-sized."""
    A = 100 * (k1_x10 + 10)
    B1 = k1_x10 * (100 - b_x100)
    B2 = k1_x10 * b_x100
    import os

    cols = ["id", "term", "tf", "dl"] + ([] if batch is None else ["batch"])
    post = spark.read.option("basePath", path).parquet(path).select(*cols)
    dl_root = os.path.join(path, "_dl")

    def _batches(root):
        return {d for d in os.listdir(root) if d.startswith("batch=")}

    if os.path.isdir(dl_root) and _batches(dl_root) >= _batches(path):
        # doc-length facts shard: (N, Σdl) from a doc-count-sized table
        # — no posting-sized shuffle per query. Used only when EVERY
        # postings batch has its facts shard: a post-r9 append onto a
        # pre-r9 index leaves older batches without one, and stats from
        # the partial sidecar would silently exclude their docs from
        # N/avgdl (r9 review finding #2).
        docs = spark.read.option("basePath", dl_root).parquet(dl_root) \
            .select("id", "dl")
    else:
        # pre-r9 or partially-backfilled index: derive from postings
        docs = post.groupBy("id").agg(F.first("dl").alias("dl"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("__n__"),
                 F.sum("dl").cast("bigint").alias("__total__"))
    tf = post.filter(F.col("term").isin(terms))
    dfreq = (tf.groupBy("term")
             .agg(F.count(F.lit(1)).cast("bigint").alias("__df__")))
    if batch is not None:  # AFTER dfreq: document frequency stays global
        tf = tf.filter(F.col("batch") == batch).drop("batch")
    num = (F.lit(A) * F.col("tf")
           * (2 * F.col("__n__") - 2 * F.col("__df__") + 1)).cast("bigint")
    den_inner = (1000 * F.col("tf") * F.col("__total__")
                 + F.lit(B1) * F.col("__total__")
                 + F.lit(B2) * F.col("dl") * F.col("__n__")).cast("bigint")
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(n))
              .withColumn("__s__",
                          num.cast("double") * F.col("__total__").cast("double")
                          / ((2 * F.col("__df__") + 1).cast("double")
                             * den_inner.cast("double"))))
    agg = (scored.groupBy("id")
           .agg((F.sum(F.floor(F.col("__s__") * F.lit(1000000.0))
                       .cast("bigint")).cast("double")
                 / F.lit(1000000.0)).alias("bm25")))
    return (agg.select(F.col("id").alias("doc_id"), "bm25")
            .orderBy(F.desc("bm25"), "doc_id").limit(k))


RERANK_SCHEMA = "doc_id bigint, rerank double"


def rerank_stub(candidates, id_col: str, text_col: str, query: str):
    """Model-based rerank stage for retrieval pipelines (the cross-
    encoder step after BM25/ANN candidate generation), with the MODEL
    STUBBED per the multimodal convention: no transformer runtime exists
    in this environment, so the scorer is a deterministic stand-in —
    md5(query || text) → uniform [0,1) — and the REAL part is the Spark
    plumbing a true cross-encoder needs: Arrow-batched ``mapInPandas``
    over the candidate rows (one pandas batch per partition chunk,
    bytes never cross a Python row boundary), score column out,
    deterministic re-sort downstream. Swapping in a real model changes
    only the body of ``score_batch``.

    Because the stand-in is md5, the whole stage is oracle-expressible
    — so unlike most model stages the plumbing itself is value-checked
    against SQL, not just shape-checked. Scores: one IEEE division of
    exact integers, engine-portable."""
    import hashlib

    from collections.abc import Iterator

    import pandas as pd

    prefix = query + "|"

    def score_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            h = b[text_col].map(
                lambda t: int(hashlib.md5(
                    (prefix + t).encode()).hexdigest()[:8], 16))
            yield pd.DataFrame({
                "doc_id": b[id_col],
                "rerank": h.astype("float64") / 4294967296.0,
            })

    return candidates.select(F.col(id_col), F.col(text_col)) \
        .mapInPandas(score_batch, RERANK_SCHEMA)


def compact_bm25_index(spark, path: str) -> int:
    """Compact a batch-keyed postings index into ONE shard — the
    small-files lifecycle step every batch-appended index needs at
    scale (a year of micro-batches = thousands of parquet dirs; scan
    setup cost grows linearly while merge-on-read stays correct).
    Postings are per-doc facts, so compaction is pure concatenation —
    the merged result is byte-equivalent to merge-on-read over the
    shards, verified by the maintenance test.

    Crash-safe ordering: the compacted shard is fully written under a
    temp name first; old shards are removed only after, and the rename
    to ``batch=0`` is last (a crash in between leaves either the old
    shards or a complete compacted set + leftover tmp — never a
    partial index; leftover tmp dirs are cleaned on the next compact).
    Returns the number of shards compacted away."""
    import os
    import shutil

    batches = [d for d in os.listdir(path) if d.startswith("batch=")]
    tmp = os.path.join(path, "_compact.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.option("basePath", path).parquet(path) \
        .select("id", "term", "tf", "dl") \
        .write.mode("overwrite").parquet(tmp)
    dl_root = os.path.join(path, "_dl")
    tmp_dl = os.path.join(dl_root, "_compact.tmp")
    if os.path.isdir(dl_root):
        shutil.rmtree(tmp_dl, ignore_errors=True)
        spark.read.option("basePath", dl_root).parquet(dl_root) \
            .select("id", "dl").write.mode("overwrite").parquet(tmp_dl)
    for d in batches:
        shutil.rmtree(os.path.join(path, d))
    os.rename(tmp, os.path.join(path, "batch=0"))
    if os.path.isdir(dl_root):
        for d in [x for x in os.listdir(dl_root) if x.startswith("batch=")]:
            shutil.rmtree(os.path.join(dl_root, d))
        os.rename(tmp_dl, os.path.join(dl_root, "batch=0"))
    return len(batches)


def pack_bins_split(df, shard_col: str, id_col: str, n_tok_col: str,
                    capacity: int):
    """Sequence packing WITH document splitting — the variant
    :func:`pack_bins` documents as out of scope there: documents longer
    than ``capacity`` are first split into capacity-sized pieces (so
    every piece fits one context window), then the per-shard greedy
    cumulative packing assigns pieces to bins. Max in-bin waste stays
    < capacity AND no piece ever exceeds the window — the two
    guarantees a trainer's collator needs together.

    Output: one row per piece (shard, id, piece, piece_tok, bin). Same
    scaling shape as pack_bins: per-shard window over (id, piece), one
    exchange; the piece explode is scan-local integer arithmetic."""
    from pyspark.sql import Window

    n = F.col(n_tok_col).cast("bigint")
    pieces = df.select(
        F.col(shard_col), F.col(id_col), n.alias("__n__"),
        F.explode(F.sequence(
            F.lit(0).cast("bigint"),
            ((n - 1) / capacity).cast("bigint"))).alias("piece"))
    pieces = pieces.withColumn(
        "piece_tok",
        F.least(F.lit(capacity).cast("bigint"),
                F.col("__n__") - F.lit(capacity) * F.col("piece")))
    w = (Window.partitionBy(shard_col).orderBy(id_col, "piece")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (pieces.withColumn(
        "bin", F.floor(F.coalesce(F.sum("piece_tok").over(w), F.lit(0))
                       / F.lit(float(capacity))).cast("bigint"))
        .select(shard_col, id_col, "piece", "piece_tok", "bin"))


def purge_from_fact_index(spark, path: str, ids, id_col: str = "id") -> int:
    """Right-to-be-forgotten over a batch-keyed FACT index (bm25
    postings, winnowing fingerprints, chunk tables): rewrite every
    batch shard that contains any of ``ids`` WITHOUT those rows —
    because the indexes store per-document facts and derive statistics
    merge-on-read, removing the rows removes the documents from every
    served number (df, N, total, pair sets) with no tombstone logic.

    Only shards that actually contain a purged id are rewritten (a
    membership probe per shard — cheap column-pruned scans); each
    rewrite goes through a temp dir + rename so a crash leaves either
    the old or the new shard, never a partial one. A ``_dl`` doc-facts
    sidecar (the bm25 layout) is purged the same way — its docs feed
    N/Σdl, so a ghost row there would keep counting a forgotten doc.
    Returns the number of shards rewritten. ``ids`` may be a list or a
    single-column DataFrame."""
    import os
    import shutil

    from pyspark.sql import DataFrame as _DF, functions as _F

    from .iosafe import adopt_orphans

    adopt_orphans(path)
    if isinstance(ids, _DF):
        ids_df = ids.toDF(id_col)
    else:
        ids_df = spark.createDataFrame([(i,) for i in ids], [id_col])
    rewritten = 0
    roots = [path] + ([os.path.join(path, "_dl")]
                      if os.path.isdir(os.path.join(path, "_dl")) else [])
    for root in roots:
        rewritten += _purge_root(spark, root, ids_df, id_col)
    return rewritten


def _purge_root(spark, path: str, ids_df, id_col: str) -> int:
    import os

    from pyspark.sql import functions as _F

    from .iosafe import atomic_rewrite

    rewritten = 0
    for d in sorted(os.listdir(path)):
        sub = os.path.join(path, d)
        if not (d.startswith("batch=") and os.path.isdir(sub)):
            continue
        shard = spark.read.parquet(sub)
        hit = shard.join(_F.broadcast(ids_df), id_col, "left_semi").limit(1)
        if not hit.count():
            continue
        # iosafe.atomic_rewrite: the old `batch=N.purge.tmp` sibling was
        # VISIBLE to partition discovery — a crash between write and
        # swap left the index serving duplicate rows (r10 review)
        atomic_rewrite(
            shard.join(_F.broadcast(ids_df), id_col, "left_anti"), sub)
        rewritten += 1
    return rewritten
