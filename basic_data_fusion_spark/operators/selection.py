"""Data-selection operators: importance weighting for corpus curation.

Beyond the reference's surface (BASELINE.json north star): DSIR-style
importance resampling (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling", arXiv:2302.03169) scores every raw
document by how target-like its hashed n-gram profile is — the standard
way to tilt a 100 TB crawl toward a quality/domain target without
training a classifier.

All hot paths are JVM expressions. The bucket models are tiny (≤ the
hashed feature-space size) and broadcast; only (doc, bucket) pairs ever
shuffle. Log terms are rounded to fixed point per BUCKET (not per doc)
before the integer per-doc accumulation, so results are bit-deterministic
across partitionings and engines (the lm_surprisal pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import half_up_long
from ..sources.partitioning import spread_narrow
from .text import tokens

_SCALE = 100_000_000.0  # 1e8 fixed-point for per-bucket log ratios


def hashed_ngram_bucket(col: Column, buckets: int) -> Column:
    """Portable hashed-feature id: first 8 hex chars of md5 → uint32 →
    mod buckets. md5 (not xxhash64) so a single-node SQL oracle computes
    the identical bucket."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % F.lit(buckets))


def _feature_instances(df: DataFrame, text_col: str, id_col: str | None,
                       buckets: int,
                       flag: Column | None = None) -> DataFrame:
    """One row per hashed unigram/bigram INSTANCE. Tokenization matches
    operators/text.tokens; bigrams via the staged-projection idiom
    (see text.repetition_features) so the document is tokenized once.

    A narrow source spreads before the tokenize+md5-bucket explosion —
    the CPU-heavy stage of every DSIR pass — via the same conditional
    repartition idiom as winnowing/ExactSubstr (skipped when the input
    is already wider than the parallelism, so no text shuffle at
    scale).

    ``flag`` (optional) is a per-row boolean expression evaluated on
    ``df`` and carried through the explosion as ``__tgt`` — the
    target-membership marker ``dsir_log_weights`` uses to derive both
    corpora's bucket counts from ONE tokenize pass."""
    df = spread_narrow(df)
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    in_cols = [F.col(id_col)] if id_col else []
    if flag is not None:
        in_cols = in_cols + [flag.alias("__tgt")]
    staged = df.select(*in_cols, toks.alias("__toks"),
                       F.size(toks).alias("__n"))
    grams = F.concat(
        F.col("__toks"),
        F.when(F.col("__n") >= 2,
               F.transform(F.sequence(F.lit(1), (F.col("__n") - 1).cast("int")),
                           lambda i: F.concat_ws(" ", F.slice("__toks", i, 2))))
         .otherwise(F.array().cast("array<string>")))
    pass_cols = ([F.col(id_col)] if id_col else []) + \
        ([F.col("__tgt")] if flag is not None else [])
    out_cols = pass_cols + [F.explode(grams).alias("__gram")]
    return (staged.select(*out_cols)
            .withColumn("bucket", hashed_ngram_bucket(F.col("__gram"), buckets))
            .drop("__gram"))


def dsir_log_weights(raw: DataFrame, target: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     buckets: int = 4096,
                     target_filter: Column | None = None) -> DataFrame:
    """Per-document DSIR log importance weight
    ``Σ_f c_f · (ln p_target(f) − ln p_raw(f))`` over hashed
    unigram+bigram features with add-one smoothing (arXiv:2302.03169
    §2.2; resample by these weights to tilt raw data toward the target).

    Returns (id, n_features, log_weight); docs with no features (empty
    text) carry NULL log_weight.

    Scale shape: feature explosion — the CPU-heavy part at corpus scale —
    runs ONCE per corpus in the plan: the raw side aggregates straight to
    (doc, bucket) counts and every coarser relation derives from that
    (bucket totals = Σ over docs, corpus total = Σ over buckets, each a
    tiny ≤``buckets``-row aggregation whose exchange Spark reuses), and
    the target side likewise rolls up from its bucket counts. The
    per-bucket log ratio is rounded to 1e-8 fixed point ONCE, then each
    document accumulates ``Σ c_f · ratio_fixed`` in exact integer
    arithmetic — partitioning cannot reorder a float sum. The ratio
    table (≤ ``buckets`` rows) broadcasts onto the (doc, bucket) counts;
    one shuffle by bucket, one by doc id.

    ``target_filter`` (r13 opt, guide §2 "do the work once"): when the
    target corpus is a row-level SLICE of ``raw`` (the common in-corpus
    tilt, e.g. ``raw.filter(lang == 'en')``), pass the predicate here
    and ``target`` is ignored — the target's bucket counts derive from
    the SAME (doc, bucket) relation the raw side already aggregates
    (membership rides the explosion as a per-doc flag), so the whole
    target-side tokenize→explode→shuffle subtree disappears from the
    plan. Counts are identical by construction: instances of
    ``raw.filter(p)`` = instances of ``raw`` whose row satisfies
    ``p``."""
    b = F.lit(buckets)
    if target_filter is not None:
        inst = _feature_instances(raw, text_col, id_col, buckets,
                                  flag=target_filter)
        per_doc = (inst.groupBy(id_col, "bucket")
                   .agg(F.count(F.lit(1)).alias("n"),
                        # __tgt is constant within a doc (a per-row
                        # predicate on doc attributes); max() picks it
                        # without caring how instances partition
                        F.max("__tgt").alias("__tgt")))
        doc_counts = per_doc.select(id_col, "bucket", "n")
        raw_counts = doc_counts.groupBy("bucket").agg(F.sum("n").alias("cr"))
        tgt_counts = (per_doc.filter(F.col("__tgt"))
                      .groupBy("bucket").agg(F.sum("n").alias("ct")))
    else:
        doc_counts = (_feature_instances(raw, text_col, id_col, buckets)
                      .groupBy(id_col, "bucket")
                      .agg(F.count(F.lit(1)).alias("n")))
        raw_counts = doc_counts.groupBy("bucket").agg(F.sum("n").alias("cr"))
        tgt_counts = (_feature_instances(target, text_col, None, buckets)
                      .groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")))
    # SUM over an EMPTY counts relation is NULL, not 0 — an empty target
    # corpus (filter matched nothing) must degrade to the uniform prior,
    # not to NULL weights
    raw_tot = raw_counts.agg(
        F.coalesce(F.sum("cr"), F.lit(0).cast("long")).alias("__tr"))
    tgt_tot = tgt_counts.agg(
        F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("__tt"))

    ratio = (raw_counts.join(tgt_counts, "bucket", "full")
             .select("bucket",
                     F.coalesce("cr", F.lit(0)).alias("cr"),
                     F.coalesce("ct", F.lit(0)).alias("ct"))
             .crossJoin(F.broadcast(raw_tot))
             .crossJoin(F.broadcast(tgt_tot))
             .select(
                 "bucket",
                 half_up_long(
                     (F.log((F.col("ct") + 1).cast("double")
                            / (F.col("__tt") + b).cast("double"))
                      - F.log((F.col("cr") + 1).cast("double")
                              / (F.col("__tr") + b).cast("double")))
                     * F.lit(_SCALE)).alias("__lr_fixed")))

    scored = (doc_counts.join(F.broadcast(ratio), "bucket")
              .groupBy(id_col)
              .agg(F.sum("n").alias("n_features"),
                   (F.sum(F.col("n") * F.col("__lr_fixed")).cast("double")
                    / F.lit(_SCALE)).alias("log_weight")))
    return (raw.select(id_col)
            .join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_features", F.lit(0).cast("long")).alias("n_features"),
                    "log_weight"))


def temperature_mix(df: DataFrame, source_col: str = "source",
                    id_col: str = "doc_id", alpha: float = 0.3,
                    target_frac: float = 0.5) -> DataFrame:
    """Temperature-based source rebalancing (XLM-R, Conneau et al. 2020
    §3.1; mC4 uses the same exponent trick): sample sources with
    probability ∝ (n_s/N)^α — α < 1 upweights small sources — keeping an
    expected ``target_frac`` of the corpus overall.

    Returns (id, source, keep_rate, keep): ``keep_rate`` is the
    per-source acceptance probability min(1, T·q_s/n_s) and ``keep`` is
    a DETERMINISTIC hash-uniform draw (md5 of the id, first 32 bits),
    so reruns and engines agree row-for-row — no seeded RNG whose
    partition layout changes the sample.

    Determinism detail: p_s^α goes through libm ``pow``, whose last-ulp
    rounding differs across engines — each p_s^α is rounded to 1e-12
    fixed point BEFORE the integer normalization sum, the lm_surprisal
    pattern, making every downstream double bit-identical. All stats
    are source-level (≤ #sources rows, broadcast); the corpus pass is
    one groupBy(source) count plus a map-side join + filter."""
    pa_fixed = half_up_long(
        F.pow(F.col("n_s").cast("double") / F.col("__N").cast("double"),
              F.lit(float(alpha))) * F.lit(1e12))
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(F.coalesce(F.sum("n_s"), F.lit(0).cast("long")).alias("__N"))
    pa = (counts.crossJoin(F.broadcast(tot))
          .select(source_col, "n_s", "__N", pa_fixed.alias("__pa")))
    z = pa.agg(F.coalesce(F.sum("__pa"), F.lit(0).cast("long")).alias("__Z"))
    rates = (pa.crossJoin(F.broadcast(z))
             .select(
                 source_col,
                 F.least(
                     F.lit(1.0),
                     (F.lit(float(target_frac)) * F.col("__N").cast("double")
                      * (F.col("__pa").cast("double") / F.col("__Z").cast("double")))
                     / F.col("n_s").cast("double")).alias("keep_rate")))
    u = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
         .cast("double") / F.lit(4294967296.0))
    return (df.select(id_col, source_col)
            .join(F.broadcast(rates), source_col)
            .select(id_col, source_col, "keep_rate",
                    (u < F.col("keep_rate")).alias("keep")))


def train_quality_classifier(positive: DataFrame, negative: DataFrame,
                             text_col: str = "text", buckets: int = 1 << 14,
                             max_iter: int = 30, reg: float = 1e-3):
    """Fasttext-style model-based quality filter (the GPT-3 pipeline's
    quality classifier, Brown et al. 2020 appendix A; CCNet uses the
    same shape): logistic regression over hashed bag-of-token features,
    positive = curated/target corpus, negative = raw crawl sample.

    All JVM: ``ml.feature.HashingTF`` hashes the token array
    executor-side (no Python featurizer), ``ml.classification.
    LogisticRegression`` trains with L-BFGS — each iteration is one
    map-side gradient aggregation, so training scales like any other
    aggregation. Returns the fitted PipelineModel; apply with
    ``quality_classifier_scores``."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    train = (positive.select(toks.alias("__toks"), F.lit(1.0).alias("label"))
             .unionByName(
                 negative.select(toks.alias("__toks"), F.lit(0.0).alias("label"))))
    pipe = Pipeline(stages=[
        HashingTF(inputCol="__toks", outputCol="features", numFeatures=buckets),
        LogisticRegression(maxIter=max_iter, regParam=reg),
    ])
    return pipe.fit(train)


def quality_classifier_scores(df: DataFrame, model, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Score documents with a trained quality classifier:
    (id, quality_prob). ``model.transform`` runs entirely JVM-side; the
    probability is P(label=1) = target-like."""
    from pyspark.ml.functions import vector_to_array

    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    scored = model.transform(df.select(F.col(id_col), toks.alias("__toks")))
    return scored.select(
        id_col,
        vector_to_array("probability").getItem(1).alias("quality_prob"))


def binary_auc(scored: DataFrame, label: Column,
               score_col: str = "quality_prob") -> DataFrame:
    """ROC AUC of a binary scorer as a one-row relation
    ``(n_pos, n_neg, auc)`` — the separation gate a production quality
    classifier keeps beside its training job (did this retrain still
    separate target from crawl?).

    Mann–Whitney formulation with exact tie handling: AUC =
    (Σ avg-rank(positives) − n_pos(n_pos+1)/2) / (n_pos·n_neg), where a
    tie group's members all take the group's mean rank.  Ranks come
    from ``rank()`` (min-rank) plus a score-keyed count — both derived
    from the score ORDER only, so the AUC is integer-derived and
    invariant to partitioning (ranks are doubled into integers before
    summation: avg-rank is always a multiple of ½).

    Scale note (r7): ranks reduce to per-distinct-score aggregates +
    ONE distributed prefix sum (ordering.global_running_sum), so the
    gate no longer single-partition-sorts even on a full corpus — the
    rank-sum accumulates the same exact integers as the former
    rank()/count() window formulation."""
    from .ordering import global_running_sum

    base = scored.select(F.col(score_col).alias("__s"),
                         label.cast("int").alias("__y"))
    g = (base.groupBy("__s")
         .agg(F.count(F.lit(1)).cast("long").alias("__t"),
              F.sum("__y").cast("long").alias("__pos")))
    runs = global_running_sum(g, ["__s"], "__t", "__cum")
    # 2·avg_rank of a tie run = 2·min_rank + (t − 1)
    #                        = 2·(cum − t) + t + 1: exact integers
    r2 = 2 * (F.col("__cum") - F.col("__t")) + F.col("__t") + 1
    agg = runs.agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum(F.col("__t") - F.col("__pos")).cast("long").alias("n_neg"),
        F.sum(r2 * F.col("__pos")).cast("long").alias("__rp2"))
    # one-class input → AUC undefined: NULL, not a crash (ANSI mode
    # makes a bare 0-divisor throw) and not a fabricated 0.5
    defined = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        "n_pos", "n_neg",
        F.when(defined,
               (F.col("__rp2").cast("double") / 2.0
                - F.col("n_pos").cast("double")
                * (F.col("n_pos") + 1).cast("double") / 2.0)
               / (F.col("n_pos").cast("double")
                  * F.col("n_neg").cast("double")))
        .alias("auc"))


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = 4096,
                target_filter: Column | None = None) -> DataFrame:
    """Top-k selection by DSIR weight with a deterministic id tie-break.
    (Paper-faithful Gumbel resampling is ``dsir_gumbel_sample``; this
    deterministic rank is the argmax tier.) Global top-k: Spark's
    sort-limit runs as per-partition top-k + a k-row driver merge,
    never a full sort."""
    w = dsir_log_weights(raw, target, text_col, id_col, buckets,
                         target_filter=target_filter)
    return (w.filter(F.col("log_weight").isNotNull())
            .orderBy(F.desc("log_weight"), F.asc(id_col)).limit(k))


def hash_uniform(col: Column, seed: str) -> Column:
    """Deterministic uniform draw in (0, 1): first 32 bits of
    ``md5(seed ':' value)`` (big-endian), offset by 0.5 so neither
    endpoint is reachable — safe under ``ln``/``ln(1−u)`` transforms.
    Seeded variant of the ``temperature_mix`` draw; reruns, partitionings
    and engines agree row-for-row (no RNG whose partition layout changes
    the sample)."""
    h = (F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), col.cast("string"))), 1, 8),
            16, 10).cast("double"))
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


def dsir_gumbel_sample(raw: DataFrame, target: DataFrame, k: int,
                       text_col: str = "text", id_col: str = "doc_id",
                       buckets: int = 4096, seed: str = "gumbel",
                       target_filter: Column | None = None) -> DataFrame:
    """Paper-faithful DSIR resampling (arXiv:2302.03169 §2.3): sampling
    k documents WITHOUT replacement with probability ∝ exp(log_weight)
    is exactly the top-k of ``log_weight + G_i`` with i.i.d. standard
    Gumbel noise ``G_i = −ln(−ln(u_i))`` (the Gumbel-top-k trick, Kool
    et al. 2019). The uniform is the deterministic ``hash_uniform`` draw,
    so the sample is reproducible across engines and partitionings.

    Determinism: ``log_weight`` is already an exact integer sum / 1e8;
    the Gumbel term goes through libm ``ln`` twice, so it is rounded to
    the same 1e-8 fixed point BEFORE an integer add — the perturbed key
    is compared in exact integer arithmetic (lm_surprisal pattern).
    Returns (id, log_weight, gumbel_key), the k sampled docs. Same
    sort-limit shape as ``dsir_select`` — per-partition top-k, k-row
    driver merge."""
    w = (dsir_log_weights(raw, target, text_col, id_col, buckets,
                          target_filter=target_filter)
         .filter(F.col("log_weight").isNotNull()))
    u = hash_uniform(F.col(id_col), seed)
    g_fixed = half_up_long(-F.log(-F.log(u)) * F.lit(_SCALE))
    lw_fixed = half_up_long(F.col("log_weight") * F.lit(_SCALE))
    keyed = w.select(F.col(id_col), F.col("log_weight"),
                     (lw_fixed + g_fixed).alias("__kf"))
    return (keyed.orderBy(F.desc("__kf"), F.asc(id_col)).limit(k)
            .select(id_col, "log_weight",
                    (F.col("__kf").cast("double") / F.lit(_SCALE))
                    .alias("gumbel_key")))


def pareto_keep(df: DataFrame, score_col: str = "quality_score",
                id_col: str = "doc_id", alpha: float = 9.0,
                seed: str = "pareto") -> DataFrame:
    """GPT-3's actual quality-selection rule (Brown et al. 2020,
    appendix A): keep a document iff ``score > 1 − X`` with
    ``X ~ Pareto(α)`` (numpy's Lomax form ``X = (1−u)^(−1/α) − 1``),
    so high-scoring docs are kept almost surely but a heavy tail of
    low-scoring docs survives for diversity — P(keep | score s) =
    (2 − s)^(−α) for s ≤ 1.

    The draw is the deterministic ``hash_uniform`` (no RNG); ``X`` goes
    through libm ``pow`` and is rounded to 1e-12 fixed point before the
    comparison (temperature_mix pattern) so keep/drop is bit-stable
    across engines. Pure map-side: no shuffle at all — composes with any
    scored relation (``quality_score`` for the deterministic tier,
    ``quality_classifier_scores`` for the model tier).
    Returns (id, score, pareto_x, keep)."""
    u = hash_uniform(F.col(id_col), seed)
    x_fixed = half_up_long(
        (F.pow(F.lit(1.0) - u, F.lit(-1.0 / float(alpha))) - F.lit(1.0))
        * F.lit(1e12))
    pareto_x = (x_fixed.cast("double") / F.lit(1e12)).alias("pareto_x")
    return (df.select(F.col(id_col), F.col(score_col), pareto_x)
            .withColumn("keep",
                        F.col(score_col) > (F.lit(1.0) - F.col("pareto_x"))))


def token_budget_mix(df: DataFrame, budget_tokens: int,
                     weights: dict[str, float],
                     source_col: str = "source", text_col: str = "text",
                     id_col: str = "doc_id",
                     default_weight: float = 0.0) -> DataFrame:
    """Assemble a training mixture under a TOKEN budget: each source s
    gets ``budget·w_s`` tokens, realized as a per-source document keep
    rate ``r_s = min(1, budget·w_s / tokens_s)`` applied with the
    deterministic md5-uniform draw. This is the step that turns published
    mixture weights (the GPT-3 table 2.2 / LLaMA table 1 shape) into an
    actual per-document keep decision at corpus scale.

    Returns (id, source, n_tokens, keep_rate, keep) for every doc.

    A source's weight defaults to ``default_weight`` (0 → excluded).
    When a source has no tokens at all its rate is 1 (nothing to
    budget; guards the division under ANSI mode).

    Scale shape: ONE tokenize+count pass groupBy(source) (map-side
    partial sums), a ≤#sources-row broadcast of rates, and a map-side
    keep predicate — same two-job shape as ``temperature_mix``. The draw
    is hash-derived (first 32 md5 bits of the id), so the realized
    sample is independent of partitioning and identical on any engine.
    Expected kept tokens per source ≈ r_s·tokens_s = budget·w_s (exact
    in expectation; variance shrinks with corpus size — at 100 TB the
    relative error is negligible, which is why production mixers use
    rates, not exact knapsack packing).
    """
    n_tok = F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "",
                   F.lit(0)
                   ).otherwise(F.size(F.filter(tokens(F.col(text_col)),
                                               lambda x: x != "")))
    # rows group and join on a NULL-coalesced key so NULL-source docs
    # form their own default-weight stratum instead of silently dropping
    # out of the inner equi-join; the OUTPUT still shows the original
    # (possibly NULL) source value
    src_key = F.coalesce(F.col(source_col).cast("string"), F.lit(""))
    base = df.select(F.col(id_col), F.col(source_col),
                     src_key.alias("__src"),
                     n_tok.cast("long").alias("n_tokens"))
    totals = base.groupBy("__src").agg(F.sum("n_tokens").alias("__T"))
    w = None
    for src, wt in sorted(weights.items()):
        branch = (w.when if w is not None else F.when)
        w = branch(F.col("__src") == src, F.lit(float(wt)))
    w = (w.otherwise(F.lit(float(default_weight))) if w is not None
         else F.lit(float(default_weight)))
    rate = F.when(
        F.col("__T") > 0,
        F.least(F.lit(1.0),
                F.lit(float(budget_tokens)) * w / F.col("__T").cast("double"))
    ).otherwise(F.lit(1.0))
    rates = totals.select("__src", rate.alias("keep_rate"))
    u = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
         .cast("double") / F.lit(4294967296.0))
    return (base.join(F.broadcast(rates), "__src")
            .select(id_col, source_col, "n_tokens", "keep_rate",
                    (u < F.col("keep_rate")).alias("keep")))


def curriculum_order(df: DataFrame, score_col: str, id_col: str = "doc_id",
                     n_stages: int = 4) -> DataFrame:
    """Bucketed curriculum serve order (Bengio et al. 2009's
    easy-to-hard schedule in the form production pipelines actually
    use — sorted *stages* with within-stage shuffling, so early
    training sees easy data without the optimizer seeing a
    difficulty-sorted, correlation-heavy stream):

    - stage  = NTILE(n_stages) over (score, id)   # easy → hard
    - within-stage order = (md5(id), id)          # deterministic shuffle
    - serve_pos = global row number over (stage, md5(id), id)

    Everything is engine-portable (NTILE remainder-to-early-buckets
    semantics match ANSI; md5 is the repo's standard deterministic
    shuffle key). Two global sort windows — the price of materializing
    a total serve order; at the 100 TB tier use
    ``curriculum_order_sharded``, which runs the same curriculum within
    md5 serve shards so no global sort exists (tested, plan-guarded).
    Returns (id, score, stage, serve_pos).
    """
    return _curriculum(df, score_col, id_col, n_stages, None)


def corpus_composition(df: DataFrame, source_col: str = "source",
                       lang_col: str = "lang", text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Corpus composition report: per (source, language) document,
    token and character counts plus each cell's share of corpus
    tokens — the first table in every training-data card (what the
    mixture ops here consume as ground truth). One fact-table
    aggregation; the grand total derives from a window over the
    dimension-sized cell table. Token counts use the engine's standard
    whitespace tokenizer; NULL text counts as an empty document.
    Returns (source, lang, n_docs, n_tokens, n_chars, pct_tokens).
    """
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    cells = (df.groupBy(F.col(source_col).alias("source"),
                        F.col(lang_col).alias("lang"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.size(toks)).cast("long").alias("n_tokens"),
                  F.sum(F.length(F.coalesce(F.col(text_col), F.lit(""))))
                  .cast("long").alias("n_chars")))
    total = F.sum("n_tokens").over(Window.partitionBy())
    return cells.withColumn(
        "pct_tokens",
        F.col("n_tokens").cast("double") / total.cast("double"))


def interleave_order(df: DataFrame, weights: dict[str, float],
                     source_col: str = "source", id_col: str = "doc_id",
                     default_weight: float = 1.0) -> DataFrame:
    """Deterministic proportional interleave across sources — the serve
    order that realizes a mixture table at training time (stride
    scheduling / weighted fair queuing): each source's documents are
    shuffled deterministically (md5(id) key), then the i-th document of
    a weight-w source serves at stride key i/w, so a weight-2 source
    appears twice as often as a weight-1 source at EVERY prefix of the
    stream, not just in aggregate — which is what keeps gradient-batch
    composition stationary across a training run.

    Two window passes, both engine-portable integer/double arithmetic:
    a per-source rank (shuffles by source — bounded-cardinality keys)
    and the global serve order. The second is a global sort — the price
    of a total order; at the 100 TB tier use
    ``interleave_order_sharded`` (the mixture holds per shard because
    the shard hash is independent of source), which removes the global
    sort — tested, plan-guarded, per-shard-gated by
    ``interleave_mixture_gate_sharded``. Returns (id, source,
    rank_in_source, serve_pos). Reference analogue: none (serving
    extension).
    """
    return _interleave(df, weights, source_col, id_col, default_weight,
                       None)


def interleave_mixture_gate(df: DataFrame, weights: dict[str, float],
                            source_col: str = "source",
                            id_col: str = "doc_id", *,
                            prefix_frac: float = 0.1,
                            band: float = 0.05,
                            default_weight: float = 1.0) -> DataFrame:
    """Acceptance gate for ``interleave_order``: does the FIRST
    ``prefix_frac`` of the serve stream realize the target mixture?
    One row per source with its target share (weight normalized over
    the observed sources), its achieved share in the prefix, and a
    ``within_band`` verdict — the check a training pipeline runs on a
    serve manifest before pointing a run at it (stationary early-batch
    composition is the property stride scheduling exists to provide).

    Composes the interleave, takes the prefix by serve position, and
    compares integer-derived shares against the literal weight table;
    sources absent from the prefix still get a (zero-share, failing)
    row. All joins are broadcasts of source-cardinality relations.
    """
    return _mixture_gate(df, weights, source_col, id_col, prefix_frac,
                         band, default_weight, None)


# ---------------- serve orders: one body per algorithm ----------------
# Each body serves one stream when ``shard`` is None; given a shard-id
# Column it runs the same algorithm within every serve shard (the shard
# leads every partition and grouping key and is output as ``shard``).

def _source_weight(weights: dict[str, float], source_col: str,
                   default_weight: float) -> Column:
    """Literal CASE mapping source → mixture weight (broadcast-free:
    the table is a handful of literals folded into the expression)."""
    w_expr = None
    for src, wt in sorted(weights.items()):
        cond = F.col(source_col) == src
        lit = F.lit(float(wt))
        w_expr = F.when(cond, lit) if w_expr is None else w_expr.when(cond, lit)
    return (w_expr.otherwise(F.lit(float(default_weight)))
            if w_expr is not None else F.lit(float(default_weight)))


def serve_shard(col: Column, n_shards: int) -> Column:
    """Deterministic serve-shard id: first 32 md5 bits of the id mod
    ``n_shards`` (the ``write_sharded`` routing, engine-portable).
    Independent of source/score/length by construction — which is
    exactly why per-shard mixtures and curricula hold in expectation."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long"), F.lit(int(n_shards))).cast("int")


def _interleave(df: DataFrame, weights: dict[str, float], source_col: str,
                id_col: str, default_weight: float,
                shard: Column | None) -> DataFrame:
    keys = [] if shard is None else ["shard"]
    ranked = df.select(
        F.col(id_col), F.col(source_col),
        *([] if shard is None else [shard.alias("shard")]),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
        _source_weight(weights, source_col, default_weight).alias("__w"))
    w_src = (Window.partitionBy(*keys, source_col)
             .orderBy(F.col("__h").asc(), F.col(id_col).asc()))
    ranked = ranked.withColumn(
        "rank_in_source", F.row_number().over(w_src).cast("long"))
    stride = F.col("rank_in_source").cast("double") / F.col("__w")
    w_serve = (Window.partitionBy(*keys)
               .orderBy(stride.asc(), F.col(source_col).asc(),
                        F.col("rank_in_source").asc()))
    return (ranked
            .withColumn("serve_pos",
                        F.row_number().over(w_serve).cast("long"))
            .select(id_col, source_col, *keys, "rank_in_source",
                    "serve_pos"))


def _mixture_gate(df: DataFrame, weights: dict[str, float],
                  source_col: str, id_col: str, prefix_frac: float,
                  band: float, default_weight: float,
                  shard: Column | None) -> DataFrame:
    keys = [] if shard is None else ["shard"]
    serve = _interleave(df, weights, source_col, id_col, default_weight,
                        shard)
    sources = (serve.groupBy(*keys, source_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_source"))
               .withColumn("__w", _source_weight(weights, source_col,
                                                 default_weight)))
    totals = (sources.groupBy(*keys)
              .agg(F.sum("__w").alias("__sum_w"),
                   F.sum("n_source").alias("__n")))
    # one stream has a one-row totals relation: joined with no key
    on = keys or None
    k = F.ceil(F.col("__n") * F.lit(float(prefix_frac))).cast("long")
    prefix = (serve.join(F.broadcast(totals), on)
              .filter(F.col("serve_pos") <= k)
              .groupBy(*keys, source_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_prefix")))
    out = (sources.join(prefix, [*keys, source_col], "left")
           .join(F.broadcast(totals), on))
    n_prefix = F.coalesce(F.col("n_prefix"), F.lit(0)).cast("long")
    target = F.col("__w") / F.col("__sum_w")
    share = n_prefix.cast("double") / k
    return (out.select(
        *keys, F.col(source_col), F.col("n_source"),
        n_prefix.alias("n_prefix"),
        k.alias("prefix_len"),
        target.alias("target_share"),
        share.alias("prefix_share"),
        (F.abs(share - target) <= F.lit(float(band))).alias("within_band"))
        .orderBy(*keys, source_col))


def _curriculum(df: DataFrame, score_col: str, id_col: str, n_stages: int,
                shard: Column | None) -> DataFrame:
    keys = [] if shard is None else ["shard"]
    w_stage = (Window.partitionBy(*keys)
               .orderBy(F.col(score_col).asc(), F.col(id_col).asc()))
    staged = (df.select(F.col(id_col), F.col(score_col),
                        *([] if shard is None else [shard.alias("shard")]),
                        F.md5(F.col(id_col).cast("string")).alias("__h"))
              .withColumn("stage", F.ntile(n_stages).over(w_stage)))
    w_serve = (Window.partitionBy(*keys)
               .orderBy(F.col("stage").asc(), F.col("__h").asc(),
                        F.col(id_col).asc()))
    return (staged
            .withColumn("serve_pos",
                        F.row_number().over(w_serve).cast("long"))
            .select(id_col, score_col, *keys, "stage", "serve_pos"))


def interleave_order_sharded(df: DataFrame, weights: dict[str, float],
                             n_shards: int = 16,
                             source_col: str = "source",
                             id_col: str = "doc_id",
                             default_weight: float = 1.0) -> DataFrame:
    """``interleave_order`` with NO global window — the tested 100 TB
    path: documents route to ``n_shards`` serve shards by an md5 hash
    of the id (source-independent, so every shard sees the same mixture
    in expectation), and the stride-scheduling interleave runs WITHIN
    each shard (``serve_pos`` is per-shard; training serves shard files
    round-robin or in parallel, the standard sharded-manifest layout).

    Both windows carry a partition key — per-source rank partitions by
    (shard, source), the serve order by shard — so no relation ever
    moves through a single task: plan-guarded by
    ``test_sharded_serve_no_global_window``.  Restricted to one shard,
    the output is EXACTLY ``interleave_order`` of that shard's
    documents (path-equivalence test); the per-shard mixture is gated
    by ``interleave_mixture_gate_sharded``.
    Returns (id, source, shard, rank_in_source, serve_pos).
    """
    return _interleave(df, weights, source_col, id_col, default_weight,
                       serve_shard(F.col(id_col), n_shards))


def interleave_mixture_gate_sharded(df: DataFrame,
                                    weights: dict[str, float],
                                    n_shards: int = 16,
                                    source_col: str = "source",
                                    id_col: str = "doc_id", *,
                                    prefix_frac: float = 0.1,
                                    band: float = 0.05,
                                    default_weight: float = 1.0
                                    ) -> DataFrame:
    """The mixture acceptance gate asserted PER SHARD: for each shard,
    does the first ``prefix_frac`` of that shard's serve stream realize
    the target mixture?  One row per (shard, source) — the manifest
    check a sharded training layout runs before a job fans out over the
    shard files (a shard whose early batches are off-mixture skews the
    workers reading it, even if the global stream is fine).

    Same integer-derived arithmetic as the single-stream gate; target
    shares normalize over the sources OBSERVED in each shard.  All
    aggregations key on (shard, source) — bounded cardinality — and the
    prefix filter composes with the sharded interleave's per-shard
    windows, so the gate inherits the no-global-window plan.
    Returns (shard, source, n_source, n_prefix, prefix_len,
    target_share, prefix_share, within_band).
    """
    return _mixture_gate(df, weights, source_col, id_col, prefix_frac,
                         band, default_weight,
                         serve_shard(F.col(id_col), n_shards))


def curriculum_order_sharded(df: DataFrame, score_col: str,
                             n_shards: int = 16,
                             id_col: str = "doc_id",
                             n_stages: int = 4) -> DataFrame:
    """``curriculum_order`` with NO global window — the tested 100 TB
    path: documents route to md5 serve shards (score-independent, so
    each shard's score distribution matches the corpus), stages come
    from NTILE within the shard, and the easy→hard serve order is
    per-shard.  Every window partitions by shard; restricted to one
    shard the output is exactly ``curriculum_order`` of that shard's
    documents.  Returns (id, score, shard, stage, serve_pos)."""
    return _curriculum(df, score_col, id_col, n_stages,
                       serve_shard(F.col(id_col), n_shards))
