"""Text-analysis operators for large-scale document pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — each as pure
``pyspark.sql.functions`` compositions (JVM-side, codegen'd, no Python in
the hot path). Designed for the ``documents`` table schema
(doc_id, text, lang, source, n_chars) but column-name-parameterized.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cache_pinned
from ..functions.scalars import half_up_long, let
from ..sources.partitioning import spread_narrow

# Minimal stopword profiles for the n-gram/stopword language heuristic.
# (Real deployments swap in full profiles; the mechanism is the point.)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "den", "von", "mit"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不", "这", "人"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: word-piece regex split (letters runs, digit
    runs, single punctuation) — the cheap proxy for tokenizer cost used in
    data-pipeline budgeting."""
    pieces = F.regexp_extract_all(F.lower(col), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), 1)
    return F.size(pieces)


def _lang_score_array(col: Column, langs: list[str]) -> Column:
    """Per-language stopword-hit counts in ONE pass over the token array
    (len(langs)-wide accumulator). A per-profile filter over the tokens
    re-traverses them once per language — at corpus scale that
    multiplies the hot loop by the profile count."""
    stop_arrays = [F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
                   for lang in langs]
    zero = F.array_repeat(F.lit(0), len(langs))
    return F.aggregate(
        tokens(col), zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[F.array_contains(sw, t).cast("int") for sw in stop_arrays]),
            lambda a, hit: a + hit))


def detect_language(col: Column, min_hits: int = 1) -> Column:
    """Argmax language over ``LANG_PROFILES`` with deterministic
    tie-break (lexicographic lang code — first max in sorted order
    wins); NULL when no profile scores ≥ min_hits."""
    langs = sorted(LANG_PROFILES)
    scores = _lang_score_array(col, langs)
    best = F.array_max(scores)
    idx = F.array_position(scores, best)  # 1-based, first max
    lang = F.element_at(F.array(*[F.lit(lang) for lang in langs]), idx.cast("int"))
    return F.when(best >= min_hits, lang).otherwise(F.lit(None))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (length/punct/stopword/word-shape
    ratios — the standard pretraining-corpus filters).

    The token array and token count are STAGED through a projection
    boundary before the feature expressions reference them: the
    unstaged form re-tokenized the document once per referencing
    feature (~6× per row — same lesson as ``gopher_rules``' staged
    scalars; see SCALE.md). Values are bit-identical — the staged
    columns feed the exact same expression trees.

    r13 opt: the feature pass is CPU-bound (tokenize + four regex
    scrubs per document); spread a narrow single-file scan so it
    parallelizes (spread_narrow no-ops when the input already has a
    shuffle upstream — e.g. inside the curation composites)."""
    df = spread_narrow(df)
    c = F.col(text_col)
    staged = df.withColumns({
        "__toks": tokens(c),
        "__n_tok": token_count(c),
    })
    toks = F.col("__toks")
    n_tok = F.col("__n_tok")
    n_chars = F.length(c)
    n_punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
    n_digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    sw = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_word_len = F.when(n_tok > 0,
                           F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                           .cast("double") / n_tok)
    return staged.select(
        *[F.col(name) for name in df.columns],
        n_chars.alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_digits.cast("double") / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
        (n_upper.cast("double") / F.greatest(n_chars, F.lit(1))).alias("upper_ratio"),
        (n_stop.cast("double") / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
    )


def repetition_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    use these to drop boilerplate/spam): type-token ratio, most-frequent
    word/bigram mass, longest same-word run. The reference has no
    repetition analysis; this extends its quality surface
    (analysis/statistics.py value-counts idiom) to corpus curation.

    All-JVM higher-order functions over each token array: no shuffle, no
    explode, O(distinct_words × n_tokens) per document — the right trade
    for web-document-sized texts, where distinct_words is small. Ratios
    are integer-count divisions; NULL text scores as the empty doc.

    The token/bigram arrays are materialized through staged projections:
    a nested higher-order function re-evaluates its argument subtree once
    per OUTER array element, so feeding ``split(...)`` directly into
    ``transform(distinct, w -> filter(toks, ...))`` re-tokenizes the
    document u times per row (~16× slower end-to-end measured at sf0.1).
    Input is repartitioned — the pass is CPU-bound and a single-file
    parquet source would otherwise pin it to one core.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = (spread_narrow(df)
            .select(F.col(id_col),
                    tokens(txt).alias("toks"),
                    token_count(txt).cast("long").alias("n_tokens")))
    t, n = F.col("toks"), F.col("n_tokens")
    staged = base.select(
        F.col(id_col), "toks", "n_tokens",
        F.array_distinct(t).alias("uniq"),
        F.when(n >= 2,
               F.transform(F.sequence(F.lit(1), (n - 1).cast("int")),
                           lambda i: F.concat_ws(" ", F.slice(t, i, 2))))
         .otherwise(F.array().cast("array<string>")).alias("bgs"))

    def top_count(arr: Column, distinct: Column) -> Column:
        counts = F.transform(distinct, lambda w: F.size(F.filter(arr, lambda x: x == w)))
        return F.coalesce(F.array_max(counts), F.lit(0))

    run_step = lambda acc, x: F.struct(
        x.alias("prev"),
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
        F.greatest(
            acc["best"],
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))).alias("best"))
    max_run = F.aggregate(
        t,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        run_step, lambda acc: acc["best"])

    n_bigrams = F.size(F.col("bgs"))
    zero_if_empty = lambda c: F.when(n == 0, F.lit(0.0)).otherwise(c)
    return staged.select(
        F.col(id_col),
        n.alias("n_tokens"),
        zero_if_empty(F.size("uniq").cast("double") / n).alias("distinct_ratio"),
        zero_if_empty(top_count(t, F.col("uniq")).cast("double") / n).alias("top_word_frac"),
        F.when(n_bigrams == 0, F.lit(0.0))
         .otherwise(top_count(F.col("bgs"), F.array_distinct("bgs")).cast("double")
                    / n_bigrams).alias("top_bigram_frac"),
        F.when(n == 0, F.lit(0)).otherwise(max_run).cast("long").alias("max_run"),
    )


def token_rarity(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Corpus-statistics rarity profile per document: for each token
    INSTANCE look up its document frequency (how many docs contain the
    token), then aggregate per doc — mean/min/max df and the fraction of
    instances appearing in >half the corpus (``common_frac``). Low
    mean-df flags gibberish/OOV-heavy docs; high common-frac flags
    boilerplate — the vocabulary-based complement to the per-doc
    repetition signals. All counts are integers → ratios are
    bit-deterministic (no log/ln, whose libm rounding differs across
    engines).

    Two shuffles: token → df aggregation, then doc-id aggregation; the
    (token, df) relation joins instance rows on the token key. At corpus
    scale that join is a plain shuffle join (vocab can exceed broadcast
    size); skew on stop-words is bounded because the df table has ONE
    row per token. The corpus size enters the plan as a broadcast 1-row
    aggregate cross-joined onto the vocab-sized df relation (NOT an eager
    ``df.count()``) — the whole operator stays one lazy plan with no
    driver-side job.
    """
    spark = df.sparkSession
    # blank text tokenizes to [''] — filter it so empty docs yield zero
    # instances (and fall to the anti-join branch) instead of a '' token
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = (spread_narrow(df)
            .select(F.col(id_col), toks.alias("toks"),
                    F.size(toks).cast("long").alias("n_tokens")))
    inst = base.select(id_col, "n_tokens", F.explode("toks").alias("token"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    docfreq = (base.select(id_col, F.explode(F.array_distinct("toks")).alias("token"))
               .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
               .crossJoin(F.broadcast(n_docs)))
    scored = (inst.join(docfreq, "token")
              .groupBy(id_col)
              .agg(F.first("n_tokens").alias("n_tokens"),
                   F.sum("df").alias("__sum_df"),
                   F.min("df").alias("min_df"),
                   F.max("df").alias("max_df"),
                   F.sum(F.when(F.col("df") > F.col("__n_docs") / F.lit(2.0), 1)
                          .otherwise(0)).alias("__n_common")))
    out = scored.select(
        F.col(id_col), "n_tokens",
        (F.col("__sum_df").cast("double") / F.col("n_tokens")).alias("mean_df"),
        "min_df", "max_df",
        (F.col("__n_common").cast("double") / F.col("n_tokens")).alias("common_frac"))
    empties = (df.select(id_col).join(out.select(id_col), id_col, "left_anti")
               .select(F.col(id_col), F.lit(0).cast("long").alias("n_tokens"),
                       F.lit(0.0).alias("mean_df"),
                       F.lit(None).cast("long").alias("min_df"),
                       F.lit(None).cast("long").alias("max_df"),
                       F.lit(0.0).alias("common_frac")))
    return out.union(empties)


def tfidf_terms(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    canonical map-reduce term-weighting pipeline (tf relation → df
    relation → join → per-doc rank). Keyword extraction / topic
    labelling primitive for corpus curation.

    Scoring uses the log-free idf variant ``tf * N / df``: ranking by it
    is order-equivalent to ``tf * (N/df)`` with a monotone idf, and —
    unlike ``ln``, whose libm rounding differs across engines — IEEE-754
    ``*``/``/`` on integer-derived doubles is correctly rounded, so the
    score is bit-deterministic and oracle-checkable.

    Plan shape (the canonical one for this workload): explode stays in
    the scan stage with map-side partial aggregation; shuffle 1 keys
    (doc, token) for tf; shuffle 2 keys token for df (one row per token,
    so stop-word skew cannot concentrate); the tf⋈df join broadcasts the
    df relation when the vocabulary is small enough, else AQE picks a
    shuffle join; shuffle 3 keys doc for the rank window. No driver
    action — N comes from a 1-row agg cross-joined in, keeping the whole
    thing one lazy plan.
    """
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    inst = df.select(F.col(id_col), F.explode(toks).alias("token"))
    tf = inst.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (tf.join(docfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .select(id_col, "token", "tf", "df",
                      (F.col("tf").cast("double") * F.col("__n") / F.col("df"))
                      .alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(id_col, "token", "tf", "df", "score", "rnk"))


def token_diversity(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document token-distribution diversity via the Gini-Simpson
    index ``1 - Σ tf² / n²`` (probability two random token draws
    differ). Near-0 flags degenerate/repetitive docs the way entropy
    would — but stays integer-derived (sums of tf and tf² are exact
    BIGINTs; the single double division is IEEE-exact), so it is
    cross-engine deterministic where ``Σ p·ln p`` is not.

    Two shuffles — (doc, token) for tf, then doc — both with map-side
    combine. Empty docs surface with n_tokens=0 and NULL diversity.
    """
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    inst = df.select(F.col(id_col), F.explode(toks).alias("token"))
    tf = inst.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    agg = (tf.groupBy(id_col)
           .agg(F.sum("tf").alias("n_tokens"),
                F.sum(F.col("tf") * F.col("tf")).alias("sum_sq"),
                F.count(F.lit(1)).alias("n_distinct")))
    out = agg.select(
        id_col, "n_tokens", "n_distinct",
        (F.lit(1.0) - F.col("sum_sq").cast("double")
         / (F.col("n_tokens") * F.col("n_tokens"))).alias("simpson"))
    empties = (df.select(id_col).join(out.select(id_col), id_col, "left_anti")
               .select(F.col(id_col), F.lit(0).cast("long").alias("n_tokens"),
                       F.lit(0).cast("long").alias("n_distinct"),
                       F.lit(None).cast("double").alias("simpson")))
    return out.union(empties)


def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 10, max_punct_ratio: float = 0.2,
                  min_stopword_ratio: float = 0.01) -> DataFrame:
    """Composite 0-1 quality score + keep flag (Gopher-style rule mix)."""
    feats = quality_features(df, text_col)
    score = (
        F.when(F.col("n_tokens") >= min_tokens, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= max_punct_ratio, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= min_stopword_ratio, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.col("mean_word_len").between(2.0, 12.0), F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return feats.withColumn("quality_score", score) \
                .withColumn("keep", score >= F.lit(0.7))


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercased text.
    md5 is identical across engines — the exact-dedup join key."""
    # collapse FIRST, then trim: trim() only strips spaces, so a
    # trailing "\n" would survive trim-then-collapse as " "
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


# ---------- Unicode canonicalization (dedup-key tier, r12) ----------
#
# The text half of key canonicalization (``dedup.canonical_url`` is the
# URL half): the C4/RefinedWeb-family preprocessing step that folds
# confusable Unicode variants BEFORE exact/fuzzy dedup keys are built,
# so a fullwidth or curly-quoted near-copy of an ASCII page lands in
# the same dedup bucket.  Spark exposes no Unicode-normalize builtin
# (and DuckDB none for NFKC), so the tier is TWO layers:
#
# 1. ``canonical_text`` — a pure JVM expression chain (one ``translate``
#    + a few exact ``replace``s + one whitespace-collapse regex)
#    generated from the SHARED fold tables below.  Engine-portable:
#    ``canonical_text_sql`` renders the identical chain as ANSI SQL
#    (translate/replace/regexp_replace exist in DuckDB with matching
#    semantics), so contract rows hash cross-engine.  Map-only — at
#    100 TB this is a projection over the scan, no shuffle, no Python.
# 2. ``nfkc_text`` — the full-fidelity NFKC tier (Arrow-batched
#    ``mapInPandas`` over ``unicodedata.normalize``), for corpora where
#    the fold tables' deliberate subset isn't enough (Han compatibility
#    ideographs, circled digits, superscripts...).  A documented
#    Python-tier op like ``compression_ratio``; pinned by planted
#    fixtures, not an oracle (no SQL engine at hand speaks NFKC).
#
# The fold tables cover the classes that dominate real web text and are
# exactly NFKC-compatible on their domain: fullwidth ASCII, Unicode
# spaces, curly quotes, dash variants, zero-width/soft-hyphen deletion,
# ellipsis and f-ligature expansion.  Documented NFKC gap: everything
# outside the tables (e.g. ² → 2, ① → 1) passes through unchanged —
# use ``nfkc_text`` when that matters.

# 1:1 folds (src char → dst char), applied in one translate() pass.
_CANON_1TO1: dict[str, str] = {
    # fullwidth ASCII block U+FF01–U+FF5E → U+0021–U+007E
    **{chr(0xFF01 + i): chr(0x21 + i) for i in range(94)},
    # Unicode spaces → ASCII space (ideographic, NBSP, en/em family)
    **{chr(cp): " " for cp in (0x3000, 0x00A0, 0x1680, 0x202F, 0x205F,
                               *range(0x2000, 0x200B))},
    # single-quote variants → apostrophe
    **{c: "'" for c in "‘’‚‛"},
    # double-quote variants (incl. guillemets) → straight quote
    **{c: '"' for c in "“”„‟«»"},
    # dash variants (hyphens, figure/en/em/horizontal-bar, minus) → '-'
    **{c: "-" for c in "‐‑‒–—―−"},
}
# Deleted outright: zero-widths, BOM, soft hyphen (translate drops a
# src char with no dst counterpart — same rule in Spark and DuckDB).
_CANON_DROP = "​‌‍﻿­"
# Ordered 1:N expansions, applied as exact replace() after the
# translate (sources are disjoint, order is fixed for determinism).
_CANON_MULTI: list[tuple[str, str]] = [
    ("…", "..."),
    ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
    ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬆ", "st"),
]
# Literal control chars, not escapes: identical bytes reach the Java
# regex and RE2 — both treat them as themselves, so no dialect risk.
_CANON_WS_PATTERN = "[ \t\n\r\f]+"


def canonical_text(col: Column) -> Column:
    """Canonical form of free text — the dedup-key normalization
    (see the tier comment above).  NULL propagates.  Chain order:
    translate folds/drops → ligature/ellipsis expansion → whitespace
    collapse → trim → case fold (collapse BEFORE trim, the
    :func:`fingerprint` lesson: trim only strips spaces)."""
    src = "".join(_CANON_1TO1) + _CANON_DROP
    dst = "".join(_CANON_1TO1.values())
    c = F.translate(col, src, dst)
    for s, d in _CANON_MULTI:
        c = F.replace(c, F.lit(s), F.lit(d))
    c = F.trim(F.regexp_replace(c, _CANON_WS_PATTERN, " "))
    return F.lower(c)


def canonical_text_sql(expr: str) -> str:
    """Render :func:`canonical_text` as ANSI SQL over ``expr`` — the
    oracle replay, generated from the SAME fold tables so the two
    engines cannot drift.  (DuckDB's regexp_replace needs the explicit
    ``'g'`` flag; Spark's Column API — used on the engine side — is
    global by default.)"""
    q = lambda s: "'" + s.replace("'", "''") + "'"
    src = "".join(_CANON_1TO1) + _CANON_DROP
    dst = "".join(_CANON_1TO1.values())
    e = f"translate({expr}, {q(src)}, {q(dst)})"
    for s, d in _CANON_MULTI:
        e = f"replace({e}, {q(s)}, {q(d)})"
    e = f"trim(regexp_replace({e}, {q(_CANON_WS_PATTERN)}, ' ', 'g'))"
    return f"lower({e})"


def nfkc_text(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Full NFKC normalization — the fidelity tier above
    :func:`canonical_text` for corpora where the JVM fold tables'
    subset isn't enough.  Returns ``(id, canon_text, changed)``.

    Deliberately a PYTHON-tier op (Arrow-batched ``mapInPandas``, the
    ``compression_ratio`` pattern): no JVM builtin speaks NFKC, and
    ``unicodedata`` is stdlib, deterministic for a given Unicode
    version, and vectorizes fine over Arrow batches.  ``casefold()``
    (not ``lower()``) folds case — the Unicode-correct many-to-one
    case map NFKC pipelines pair with."""
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType([
        df.schema[id_col],
        StructField("canon_text", StringType()),
        StructField("changed", BooleanType()),
    ])

    def run(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    rows.append((mid, None, None))
                    continue
                c = " ".join(unicodedata.normalize("NFKC", t)
                             .casefold().split())
                rows.append((mid, c, c != t))
            yield pd.DataFrame(rows, columns=[id_col, "canon_text",
                                              "changed"])

    return (spread_narrow(df)
            .select(id_col, text_col).mapInPandas(run, out_schema))


def rolling_hash_fingerprint(col: Column, window: int = 3) -> Column:
    """Order-sensitive rolling fingerprint: xxhash64 of each token
    ``window``-shingle, combined with a polynomial accumulator — detects
    reordered-content near-dups that a set-based fingerprint misses.
    Engine-specific hash (xxhash64) → not oracle-comparable by design.
    The token array is bound once (``let``), as in ``word_shingles``."""
    # Mersenne-prime modulus small enough that acc*31 + pmod(h) never
    # overflows a long under ANSI arithmetic (acc < 2^31 → product < 2^36).
    mod = F.lit(2147483647).cast("long")  # 2^31 - 1

    def fold(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - window + 1, F.lit(1)))
        shingle_hashes = F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, window))))
        return F.aggregate(
            shingle_hashes, F.lit(0).cast("long"),
            lambda acc, h: F.pmod(acc * F.lit(31) + F.pmod(h, mod), mod))

    return let(tokens(col), fold)


# PII / URL scrubbing — standard pretraining-corpus hygiene. Patterns are
# intentionally simple (precision over recall) and shared verbatim with
# the SQL oracle; all replacements are single regexp_replace passes.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "URL": r"https?://[^\s]+",
    "PHONE": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def redact_pii(col: Column) -> Column:
    """Replace each ``PII_PATTERNS`` match with its ``[TAG]``; application
    order is the sorted tag order (deterministic)."""
    out = col
    for tag in sorted(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[tag], f"[{tag}]")
    return out


def pii_counts(col: Column) -> list[Column]:
    """One count column per ``PII_PATTERNS`` tag (``n_<tag>``)."""
    return [F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[tag]), 0))
            .alias(f"n_{tag.lower()}") for tag in sorted(PII_PATTERNS)]


def strip_high_df_tokens(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         max_df_frac: float = 0.5) -> DataFrame:
    """Corpus-level boilerplate removal: delete every token whose document
    frequency exceeds ``max_df_frac`` of the corpus and re-assemble each
    document from its surviving tokens in original order (the line/段落-
    level analogue is what CCNet/RefinedWeb run over Common Crawl; with
    whitespace tokens this is the same plan at word granularity).

    Returns one row per input document: ``doc_id, clean_text, n_tokens,
    n_removed`` — docs whose every token is boilerplate come back with
    ``clean_text = ''``.

    Plan shape: positional explode → token-level document-frequency
    aggregation (ONE row per vocab entry, so the shuffle is vocab-bounded,
    not corpus-bounded) → the banned set is tiny by construction (tokens
    in >max_df_frac of docs — bounded by 1/max_df_frac · vocab mass) and
    broadcasts into a LEFT ANTI join against token instances → per-doc
    re-assembly groups on the id key. Two shuffles total at any scale;
    the corpus size enters as a broadcast 1-row aggregate cross-joined
    onto the vocab-sized df relation — no eager ``df.count()``, the whole
    operator is one lazy plan.
    """
    spark = df.sparkSession
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = (spread_narrow(df)
            .select(F.col(id_col), toks.alias("toks"),
                    F.size(toks).cast("long").alias("n_tokens")))
    inst = base.select(id_col, F.posexplode("toks").alias("pos", "token"))
    docfreq = (base.select(id_col, F.explode(F.array_distinct("toks")).alias("token"))
               .groupBy("token").agg(F.count(F.lit(1)).alias("df")))
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    banned = (docfreq.crossJoin(F.broadcast(n_docs))
              .filter(F.col("df").cast("double")
                      > F.lit(float(max_df_frac)) * F.col("__n_docs")))
    kept = inst.join(F.broadcast(banned.select("token")), "token", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("__n_kept"),
                    F.concat_ws(" ", F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "token"))),
                        lambda s: s["token"])).alias("__clean")))
    return (base.select(id_col, "n_tokens")
            .join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__clean"), F.lit("")).alias("clean_text"),
                    F.col("n_tokens"),
                    (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
                    .alias("n_removed")))


def lm_surprisal(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Unigram-LM scoring (the statistical-LM quality filter of CCNet,
    Wenzek et al. 2019, arXiv:1911.00359, with the corpus's own unigram
    distribution standing in for the external KenLM): per-document mean
    token surprisal −ln p(tok). Low mean surprisal flags boilerplate
    (all-common tokens), high flags gibberish/OOV-heavy docs — used as a
    band-pass filter between quantile cuts.

    Bit-determinism across engines: libm ``ln`` may differ in the last
    ulp between the JVM and the oracle's C library, so each instance's
    surprisal is quantized to 8 dp as an INTEGER once, and every
    cross-row reduction is an integer sum; the final mean divides the
    integer total by (1e8 · n_tokens) in a fixed expression order.

    Plan: one explode → vocab-sized count aggregation (+ a 1-row total) →
    join back to instances → per-doc aggregation. Same two-shuffle shape
    as token_rarity. The unigram table is deliberately NOT broadcast-
    hinted: a web-corpus whitespace-token vocabulary is unbounded (URLs,
    typos, code), so the join strategy is left to AQE — it broadcasts
    when the measured vocab is small and falls back to a shuffle join
    when it isn't. (Contrast strip_high_df_tokens, whose banned set IS
    bounded by construction — df > frac·N caps it at vocab_mass/frac —
    and keeps its explicit broadcast.)
    """
    spark = df.sparkSession
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = (spread_narrow(df)
            .select(F.col(id_col), toks.alias("toks")))
    inst = base.select(id_col, F.explode("toks").alias("token"))
    # ONE tokenize+explode pass builds the count table (r13 opt, guide
    # §2 "do the work once"): freq feeds the instance join AND the
    # grand total, and unpinned each consumer would re-run the whole
    # tokenize pipeline (no exchange reuse across the differently
    # shaped aggregates — 3 corpus passes, measured).  freq is
    # VOCAB-sized, so the pin is bounded at any corpus scale; the
    # total rolls up from it as an exact BIGINT sum of counts —
    # bit-identical to counting the instances directly.
    freq = cache_pinned(
        inst.groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    total = freq.agg(F.sum("c").alias("n"))
    s_int = half_up_long(-F.log(F.col("c").cast("double") / F.col("n"))
                         * F.lit(1e8))
    scored = (inst
              .join(freq, "token")
              .crossJoin(F.broadcast(total))
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                   F.sum(s_int).alias("__ss")))
    out = scored.select(
        F.col(id_col), "n_tokens",
        ((F.col("__ss").cast("double") / F.lit(1e8)) / F.col("n_tokens"))
        .alias("mean_surprisal"))
    empties = (df.select(id_col).join(out.select(id_col), id_col, "left_anti")
               .select(F.col(id_col), F.lit(0).cast("long").alias("n_tokens"),
                       F.lit(None).cast("double").alias("mean_surprisal")))
    return out.union(empties)


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the entropy-proxy quality
    signal (Gopher, Rae et al. 2021 §A1.1 filters on it: highly
    compressible text is repetitive boilerplate, incompressible text is
    often binary junk or high-entropy noise; both tails get dropped).

    Deliberately a PYTHON-tier op (Arrow-batched ``mapInPandas``, like
    the multimodal codecs): DEFLATE has no JVM-expression equivalent,
    and the signal is worth one vectorized Python pass. Ratio =
    compressed/raw bytes of UTF-8 text; NULL text → ratio NULL.
    Deterministic: zlib at a fixed level is stable across platforms for
    identical input bytes.  Text rows are small, so the session's Arrow
    batch size serves (unlike the multimodal codecs, whose megabyte
    payloads need tiny batches).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField(id_col, LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_compressed", LongType()),
        StructField("compression_ratio", DoubleType()),
    ])

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    rows.append((mid, None, None, None))
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                rows.append((mid, len(raw), len(comp),
                             (len(comp) / len(raw)) if raw else None))
            yield pd.DataFrame(rows, columns=[
                id_col, "n_bytes", "n_compressed", "compression_ratio"])

    return (spread_narrow(df)
            .select(id_col, text_col).mapInPandas(run, schema))


def stupid_backoff_lm(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", alpha: float = 0.4,
                      train_nibbles: int = 8, order: int = 2) -> DataFrame:
    """Order-n Stupid Backoff LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" §4): per-document mean
    −ln S(w_n | w_1 … w_{n-1}) over every n-gram (n = ``order``), where
    level j = 0 … n−1 backs off to the (n−j)-gram ending at w_n::

        S = α^j · c(w_{j+1} … w_n) / c(w_{j+1} … w_{n-1})
                      at the first level j < n−1 whose (n−j)-gram was seen
          = α^{n-1} · c(w_n) / N      else if w_n was seen
          = α^n / N                   else (OOV floor)

    ``order=2`` is the bigram model (one backoff level), ``order=3`` the
    trigram model (two levels — the depth CCNet's 5-gram KenLM operates
    at); ``order < 2`` raises ``ValueError``.

    This is the distributed statistical-LM perplexity filter of CCNet
    (Wenzek et al. 2019) with the corpus's own held-out half standing in
    for the external KenLM: counts come ONLY from the deterministic
    md5-nibble train half (first hex nibble of ``md5(id)`` <
    ``train_nibbles`` of 16), so the backoff paths actually fire on the
    scored half instead of being vacuously seen. Extends the reference's
    statistics surface (analysis/statistics.py) to LM-based corpus
    filtering — the reference has no LM scoring.

    Bit-determinism across engines: each instance's −ln S is quantized to
    an 8-dp INTEGER before any cross-row reduction (same idiom as
    ``lm_surprisal``); Stupid Backoff needs no normalization, so every
    score is a ratio of exact integer counts, and α^j is the left-nested
    product α·α·…·α the oracles spell out.

    Plan: one tokenize pass over the train half emits every POSITION as
    (w1, w2 … wn) with NULL padding past the end of the doc and
    aggregates once into a pinned count table (n-gram-vocab-sized); each
    k-gram table is that table filtered on ``w_k IS NOT NULL`` and summed
    — exact BIGINT sums, the same counts a separate explosion per k would
    give from one tokenize pass instead of n.  The all-docs n-gram
    instance table LEFT-JOINs each level's numerator and context count
    (strategy left to AQE — n-gram vocabulary is unbounded at web scale),
    the 1-row total rides a broadcast, then ONE per-doc aggregation.
    Returns (id, ``n_bigrams`` / ``n_trigrams`` / ``n_<order>grams``,
    ``mean_neg_log_score``); docs with fewer than ``order`` tokens score
    NULL with count 0.
    """
    n = int(order)
    if n < 2:
        raise ValueError(f"order must be >= 2, got {order!r}")
    count_col = {2: "n_bigrams", 3: "n_trigrams"}.get(n, f"n_{n}grams")
    w = [f"w{i}" for i in range(1, n + 1)]
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = (spread_narrow(df)
            .select(F.col(id_col), toks.alias("toks")))
    inst_expr = F.when(
        F.size("toks") >= n,
        F.expr(f"transform(sequence(0, size(toks)-{n}), i -> struct("
               + ", ".join(f"toks[i+{k}] AS {w[k]}" for k in range(n)) + "))"))
    inst = (base.select(id_col, F.explode(inst_expr).alias("p"))
            .select(id_col, *[F.col(f"p.{c}").alias(c) for c in w]))
    nib = F.conv(F.md5(F.col(id_col).cast("string")).substr(1, 1), 16, 10).cast("int")
    train = base.filter(nib < F.lit(int(train_nibbles)))
    pad_expr = F.when(
        F.size("toks") >= 1,
        F.expr("transform(sequence(0, size(toks)-1), i -> struct(toks[i] AS w1"
               + "".join(f", CASE WHEN i < size(toks)-{k} THEN toks[i+{k}] END"
                         f" AS {w[k]}" for k in range(1, n)) + "))"))
    tcounts = cache_pinned(
        train.select(F.explode(pad_expr).alias("p"))
        .groupBy(*[F.col(f"p.{c}").alias(c) for c in w])
        .agg(F.count(F.lit(1)).alias("__c")))
    tot = tcounts.agg(F.sum("__c").alias("n"))

    def kgram(k: int, first: int, name: str) -> DataFrame:
        """Train k-gram counts ``name``, keyed by the instance columns
        w_{first+1} … w_{first+k}."""
        seen = tcounts.where(F.col(w[k - 1]).isNotNull())
        if k < n:  # at k = n the count table is already keyed by the n-gram
            seen = seen.groupBy(*w[:k]).agg(F.sum("__c").alias("__c"))
        return seen.select(*[F.col(w[i]).alias(w[first + i]) for i in range(k)],
                           F.col("__c").alias(name))

    def alpha_pow(j: int) -> Column:
        """α^j as the left-nested literal product α·α·… the oracles spell
        out — a folded ``alpha**j`` can differ in the last ulp."""
        return functools.reduce(operator.mul, [F.lit(alpha)] * j)

    scored, s = inst, None
    for j in range(n):  # backoff level j: the (n-j)-gram ending at w_n
        k = n - j
        num = F.col(f"__num{j}")
        scored = scored.join(kgram(k, j, f"__num{j}"), w[j:], "left")
        s_j = num.cast("double") if j == 0 else alpha_pow(j) * num.cast("double")
        if k > 1:
            # the context of a seen k-gram was seen, so __den{j} >= 1
            scored = scored.join(kgram(k - 1, j, f"__den{j}"), w[j:n - 1], "left")
            s_j, seen = s_j / F.col(f"__den{j}"), num.isNotNull()
        else:
            # the unigram and OOV levels divide by N: guarded so an empty
            # train half yields NULL scores instead of an ANSI DIVIDE_BY_ZERO
            s_j, seen = s_j / F.col("n"), num.isNotNull() & (F.col("n") > 0)
        s = F.when(seen, s_j) if s is None else s.when(seen, s_j)
    s = s.when(F.col("n") > 0, alpha_pow(n) / F.col("n"))
    s_int = half_up_long(-F.log(s) * F.lit(1e8))
    scored = (scored
              .crossJoin(F.broadcast(tot))
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias(count_col),
                   F.sum(s_int).alias("__ss")))
    out = scored.select(
        F.col(id_col), count_col,
        ((F.col("__ss").cast("double") / F.lit(1e8)) / F.col(count_col))
        .alias("mean_neg_log_score"))
    empties = (df.select(id_col).join(out.select(id_col), id_col, "left_anti")
               .select(F.col(id_col), F.lit(0).cast("long").alias(count_col),
                       F.lit(None).cast("double").alias("mean_neg_log_score")))
    return out.union(empties)


def perplexity_buckets(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", lang_col: str = "lang",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3): within
    each language, rank documents by their statistical-LM score and cut
    into equal-sized buckets — ``head`` (most fluent third), ``middle``,
    ``tail``. CCNet keeps head+middle for pretraining and drops tail.

    Composes ``lm_surprisal`` with an NTILE window under the total order
    (mean_surprisal, id) so the cut is exactly reproducible cross-engine;
    docs with no tokens (NULL surprisal) are excluded rather than riding
    on engine-specific NULL ordering. The window shuffles once on the
    language key; per-language partitions are only as big as the corpus
    slice, and at 100 TB the same shape runs per language shard.
    """
    scored = (lm_surprisal(df, text_col=text_col, id_col=id_col)
              .filter(F.col("mean_surprisal").isNotNull())
              .join(df.select(id_col, lang_col), id_col))
    w = Window.partitionBy(lang_col).orderBy("mean_surprisal", id_col)
    nt = F.ntile(int(n_buckets)).over(w)
    bucket_label = F.when(nt == 1, F.lit("head"))
    for i in range(2, int(n_buckets)):
        bucket_label = bucket_label.when(nt == i, F.lit("middle"))
    bucket_label = bucket_label.otherwise(F.lit("tail"))
    return (scored.select(F.col(id_col), F.col(lang_col),
                          F.col("mean_surprisal"),
                          nt.alias("bucket"),
                          bucket_label.alias("bucket_label")))


def bm25_topk(df: DataFrame, query_terms: list[str],
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 full-text retrieval (Robertson & Zaragoza 2009; idf per
    Lucene's non-negative variant): score every document against a bag of
    query terms and return the top ``k``::

        score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
                       · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))

    Extends the engine with the retrieval primitive every RAG/eval corpus
    pipeline needs next to ANN search — the reference has no text
    retrieval. Only rows containing ≥1 query term survive the explode
    filter, so the per-term table is bounded by |query| · N_matching, not
    the corpus token count; corpus stats (N, total length) ride in a
    1-row broadcast. Bit-determinism: the per-(doc,term) contribution is
    quantized to an 8-dp INTEGER before the per-doc sum, and the top-k
    order is the total order (score_int DESC, id) — ties never depend on
    partition layout. Top-k itself is the sort-limit partial top-k (no
    global sort materializes).
    """
    spark = df.sparkSession
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    # corpus tokens are lowercased/trimmed — normalize the query bag the
    # same way so 'Spark' matches; raw-uppercase terms silently matching
    # nothing is a footgun, not a feature
    terms = sorted({t.strip().lower() for t in query_terms if t.strip()})
    # tokenize ONCE (r13 opt, guide §2 "do the work once"): the corpus
    # stats and the tf explosion both need the token pipeline, and two
    # lazy consumers would run it twice.  The pinned relation keeps
    # only (id, dl, query-term matches) — one int plus the handful of
    # matching tokens per doc, never the full token array — so the
    # cache is query-bag-bounded, not corpus-token-sized (a production
    # deployment pre-builds exactly this posting shape as its index).
    # dl and the match filter are the same expressions as before, so
    # tf/df/idf and the oracle are unchanged.
    matched = F.filter(toks, lambda x: x.isin(terms))
    base = cache_pinned(
        spread_narrow(df)
        .select(F.col(id_col), F.size(toks).alias("dl"),
                matched.alias("__mt")))
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("dl").alias("total_dl"))
    tf = (base.select(id_col, "dl", F.explode("__mt").alias("token"))
          .groupBy(id_col, "dl", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5)))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    contrib = (idf * F.col("tf").cast("double") * (F.lit(k1) + F.lit(1.0))
               / (F.col("tf") + F.lit(k1)
                  * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)))
    c_int = half_up_long(contrib * F.lit(1e8))
    scored = (tf.join(F.broadcast(dfreq), "token")
              .crossJoin(F.broadcast(stats))
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
                   F.sum(c_int).alias("__s")))
    return (scored
            .orderBy(F.col("__s").desc(), F.col(id_col))
            .limit(int(k))
            .select(F.col(id_col), "n_terms_matched",
                    (F.col("__s").cast("double") / F.lit(1e8)).alias("bm25_score")))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token shingle,
    slide a ``w``-hash window, and keep the minimum hash of each window
    (rightmost on ties); consecutive windows sharing their minimum
    deduplicate. Guarantees every match of length ≥ w+k−1 tokens shares
    a fingerprint, at ~2/(w+1) selection density — the local
    fingerprinting tier between the whole-doc md5 and the ExactSubstr
    span pass.

    All array-side (sequence/slice/array_min — no explode until the
    final selected set, which is w-times smaller than the shingle set);
    hashes are the first 32 md5 bits, so the DuckDB oracle replays them
    exactly. Docs with fewer than ``k`` tokens yield no fingerprints;
    docs with fewer than ``w`` windows yield their global minimum.
    Returns (id, pos, fp) — pos is the 1-based shingle index.
    """
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    # spread a narrow source (single small file -> 1 split) across the
    # cluster before the md5-heavy hashing; a corpus already wider than
    # the parallelism skips the repartition, so no text shuffle at scale
    df = spread_narrow(df)

    def shingle_hashes(t):
        return F.when(F.size(t) >= k, F.transform(
            F.sequence(F.lit(1), F.size(t) - k + 1),
            lambda i: F.conv(F.substring(
                F.md5(F.concat_ws(" ", F.slice(t, i, F.lit(k)))), 1, 8),
                16, 10).cast("long")))

    # tokens bound once (``let``); a doc with fewer than k tokens hashes
    # to NULL, which the explode below drops (a ``size >= k`` filter would
    # be pushed below this projection and tokenize every document twice).
    # The hash array materializes behind the projection boundary: window
    # slices below would otherwise RE-EVALUATE the whole md5 array per
    # window (no common-subexpression elimination inside lambdas) —
    # O(m²) hashing, measured 124 s vs ~2 s at sf0.1
    hashed = df.select(F.col(id_col), let(toks, shingle_hashes).alias("__hs"))
    hs = F.col("__hs")

    def windows(m):
        def pick(j):
            s = F.slice(hs, j, F.least(F.lit(w), m - j + 1))
            mn = F.array_min(s)
            rel = F.size(s) + 1 - F.array_position(F.reverse(s), mn)
            return F.struct((j + rel - 1).cast("int").alias("pos"),
                            mn.alias("fp"))

        numw = F.greatest(m - w + 1, F.lit(1))
        return F.array_distinct(F.transform(F.sequence(F.lit(1), numw), pick))

    wins = F.when(hs.isNotNull(), let(F.size(hs), windows))
    return (hashed.select(F.col(id_col), F.explode(wins).alias("__sel"))
            .select(id_col, F.col("__sel.pos").alias("pos"),
                    F.col("__sel.fp").alias("fp")))


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3, w: int = 4,
                         min_shared: int = 2,
                         max_df: int | None = 1000,
                         span: int = 1000) -> DataFrame:
    """Document near-dup/plagiarism candidates from shared winnowing
    fingerprints (the MOSS match step): docs pair when they share at
    least ``min_shared`` distinct fingerprint VALUES. The join key is
    the fingerprint — selected at ~2/(w+1) of shingle density — so the
    shuffle carries the winnowed set, never full shingle sets or text.

    ``max_df`` is the quadratic-blowup guard: a fingerprint appearing
    in d documents expands to d·(d−1)/2 pairs, so ONE
    boilerplate fingerprint shared by a million docs would emit 5·10¹¹
    rows at the 100 TB tier. Fingerprints above the document-frequency
    cap are dropped before pairing (they carry no near-dup signal —
    exactly the df-threshold logic of the boilerplate strip); pass
    ``None`` to disable. Returns (id_a, id_b, n_shared) with
    id_a < id_b.

    Plan shape (round-6 rework): the r5 single-``collect_set`` fold
    materialized each fingerprint's FULL doc-id set in one aggregation
    row BEFORE the df-cap filter could drop it — the same
    collect-on-a-skewed-key profile the r5 audit flagged on the PPJoin
    tier (a universal boilerplate fingerprint = one corpus-sized array
    in one task), and with ``max_df=None`` the d·(d−1)/2 expansion
    ALSO ran map-side in that single task. Now: (1) a count-only
    two-phase ``countDistinct`` df pass whose state is bounded at any
    skew; (2) fingerprints with df ≤ ``span`` take the array fold —
    collect_set is now BOUNDED because the df filter runs BEFORE the
    collect — and expand map-side; (3) rarer-than-``max_df`` but
    hotter-than-``span`` fingerprints (only reachable with ``max_df`` >
    ``span`` or ``None``) expand through a distributed fp-keyed self-join,
    spreading a hot fingerprint's quadratic blowup across tasks instead
    of concentrating it. The md5 fingerprint pipeline still evaluates
    once (persisted via caching.cache_pinned — winnowed density is
    ~2/(w+1) of the shingle set, far below text size). ``span`` is the
    per-task bound the array path honors (parameterized so tests can
    exercise the join path on small corpora)."""
    fp_rel = cache_pinned(
        winnow_fingerprints(df, text_col=text_col, id_col=id_col,
                            k=k, w=w).select(F.col(id_col), "fp"))
    # two-phase distinct count: (fp, id) partial-dedup then fp count —
    # both aggregation states bounded regardless of fingerprint skew
    dfreq = (fp_rel.groupBy("fp")
             .agg(F.countDistinct(F.col(id_col)).alias("__df")))
    eligible = dfreq.where(F.col("__df") >= 2)
    if max_df is not None:
        eligible = eligible.where(F.col("__df") <= max_df)
    small = eligible.where(F.col("__df") <= span).select("fp")
    big = eligible.where(F.col("__df") > span).select("fp")
    # small path: df-filtered BEFORE the collect, so every array ≤ span;
    # collect_set dedups (doc, fp) repeats and sort gives id_a < id_b
    # for free when expanding i<j index pairs
    grouped = (fp_rel.join(small, "fp")
               .groupBy("fp")
               .agg(F.sort_array(F.collect_set(F.col(id_col)))
                    .alias("__ids")))
    # the id array is bound once (``let``): the inner bound reads the
    # variable's size, not a row expression per outer element
    pair_expr = let(F.col("__ids"), lambda ids: F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(ids) - 1),
        lambda i: F.transform(
            F.sequence(i + 1, F.size(ids)),
            lambda j: F.struct(F.element_at(ids, i).alias("id_a"),
                               F.element_at(ids, j).alias("id_b"))))))
    small_pairs = (grouped.select(F.explode(pair_expr).alias("__p"))
                   .select("__p.id_a", "__p.id_b"))
    # big path: distributed expansion — the self-join streams a hot
    # fingerprint's pair fan-out across tasks; dedup (doc, fp) first so
    # multi-position repeats don't inflate n_shared
    hot = fp_rel.join(big, "fp").distinct()
    big_pairs = (hot.select("fp", F.col(id_col).alias("id_a"))
                 .join(hot.select("fp", F.col(id_col).alias("id_b")), "fp")
                 .where(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b"))
    return (small_pairs.unionByName(big_pairs)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def distinctive_terms(df: DataFrame, flag: Column, text_col: str = "text",
                      min_count: int = 5, k: int = 50) -> DataFrame:
    """Dunning log-likelihood keyness (Dunning 1993, "Accurate Methods
    for the Statistics of Surprise and Coincidence"): the terms that
    most distinguish the ``flag`` slice of the corpus from the rest —
    the standard corpus-comparison report (what characterizes this
    source/language/time-slice?).

    For each term with total count ≥ ``min_count``::

        G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)),  E_a = A·(a+b)/(A+B)

    (zero cells contribute 0 — the x·ln x → 0 limit). One tokenize +
    explode pass produces conditional counts; corpus totals ride a
    broadcast 1-row relation; each ln term quantizes to 8 dp before
    the exact integer combination, so the ranking is bit-stable
    cross-engine. Returns the top ``k`` by (G², term) with the signed
    direction (enriched = G² where a/A > b/B, else −G²).
    """
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    inst = (df.select(flag.cast("int").alias("__in"),
                      F.explode(toks).alias("term")))
    counts = inst.groupBy("term").agg(
        F.sum("__in").alias("a"),
        F.sum(1 - F.col("__in")).alias("b"))
    totals = counts.agg(F.sum("a").alias("__A"), F.sum("b").alias("__B"))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    A, B = F.col("__A").cast("double"), F.col("__B").cast("double")
    ea = A * (a + b) / (A + B)
    eb = B * (a + b) / (A + B)
    q8 = lambda x: half_up_long(x * F.lit(1e8))
    ta = F.when(F.col("a") > 0, q8(a * F.log(a / ea))).otherwise(F.lit(0))
    tb = F.when(F.col("b") > 0, q8(b * F.log(b / eb))).otherwise(F.lit(0))
    g2 = (F.lit(2.0) * (ta + tb).cast("double")) / F.lit(1e8)
    # Degenerate-slice guard (ANSI mode): an empty flag slice (A=0) or
    # empty complement (B=0) would make a/A or b/B raise DIVIDE_BY_ZERO;
    # the direction is undefined there, so keyness goes NULL — same
    # contract as the other stats operators' degenerate cases.
    p_rate = F.when(A > F.lit(0.0), a / A).otherwise(F.lit(0.0))
    q_rate = F.when(B > F.lit(0.0), b / B).otherwise(F.lit(0.0))
    signed = F.when((A > F.lit(0.0)) & (B > F.lit(0.0)),
                    F.when(p_rate > q_rate, g2).otherwise(-g2))
    out = (counts.crossJoin(F.broadcast(totals))
           .where(F.col("a") + F.col("b") >= min_count)
           .select("term", F.col("a").cast("long").alias("n_in"),
                   F.col("b").cast("long").alias("n_out"),
                   g2.alias("g2"), signed.alias("keyness")))
    return (out.orderBy(F.desc("g2"), F.asc("term")).limit(int(k)))


def js_divergence(df: DataFrame, flag: Column,
                  text_col: str = "text") -> DataFrame:
    """Jensen–Shannon divergence between the unigram distributions of
    the ``flag`` slice and the rest of the corpus — the bounded
    (0..ln 2), symmetric distribution-shift metric used to quantify
    drift between sources, vintages or mixtures (companion to the
    per-term :func:`distinctive_terms` ranking; this is the scalar).

    JSD(P||Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2, with the
    x·ln x → 0 limit for absent terms. One tokenize+explode pass
    produces both conditional counts; totals ride a broadcast 1-row
    relation; each term quantizes to 12 dp before exact integer
    summation — bit-identical cross-engine. Returns one row
    (js_nats, n_terms, n_tokens_in, n_tokens_out).
    """
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    inst = (df.select(flag.cast("int").alias("__in"),
                      F.explode(toks).alias("term")))
    counts = inst.groupBy("term").agg(
        F.sum("__in").alias("a"),
        F.sum(1 - F.col("__in")).alias("b"))
    totals = counts.agg(F.sum("a").alias("__A"), F.sum("b").alias("__B"))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    A, B = F.col("__A").cast("double"), F.col("__B").cast("double")
    # Degenerate-slice guard (ANSI mode): with an empty flag slice
    # (A=0, every a=0) the unguarded a/A raises DIVIDE_BY_ZERO even
    # though the a>0 branch below is never taken, because p feeds the
    # always-evaluated m=(p+q)/2 term.  A zero-total side contributes a
    # zero distribution; JSD then collapses to the finite ln 2 bound.
    p = F.when(A > F.lit(0.0), a / A).otherwise(F.lit(0.0))
    q = F.when(B > F.lit(0.0), b / B).otherwise(F.lit(0.0))
    m = (p + q) / F.lit(2.0)
    q12 = lambda x: half_up_long(x * F.lit(1e12))
    term = (F.when(F.col("a") > 0, q12(p * F.log(p / m))).otherwise(F.lit(0))
            + F.when(F.col("b") > 0, q12(q * F.log(q / m))).otherwise(F.lit(0)))
    return (counts.crossJoin(F.broadcast(totals))
            .agg((F.sum(term).cast("double") / F.lit(1e12) / F.lit(2.0))
                 .alias("js_nats"),
                 F.count(F.lit(1)).cast("long").alias("n_terms"),
                 F.first("__A").cast("long").alias("n_tokens_in"),
                 F.first("__B").cast("long").alias("n_tokens_out")))


# ---------------- Gopher-style rule filters ----------------

# The "must-have" English word list from the Gopher repetition/quality
# rules (Rae et al. 2021, "Scaling Language Models", §A1.1): a document
# is expected to contain at least ``min_stop_hits`` DISTINCT of these.
GOPHER_MUST_HAVE = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", *,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_line_ratio: float = 0.3,
                 min_alpha_word_frac: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """Per-document Gopher quality-rule flags (Rae et al. 2021 §A1.1) —
    the standard pretraining heuristic filter set: word-count bounds,
    mean-word-length bounds, symbol-to-word ratio (# and ellipses),
    bullet-start / ellipsis-end line ratios, alphabetic-word fraction,
    and must-have-stopword presence.  One boolean column per rule plus
    the conjunction ``keep``.

    Everything is JVM projections (no shuffle, no UDF): at 100 TB this
    is a map-only pass that pipelines with the scan, and the flags are
    the cheap first stage of a curation cascade — later (shuffling)
    dedup stages only see survivors.  Reference analogue: none (the
    reference has no corpus filters); thresholds follow the public
    Gopher paper.

    Three staged projections, each materializing what the next re-uses:
    arrays (tokens feed five rules, lines two), then the integer
    feature scalars (the token-length fold and the rlike filter are the
    expensive trees — referencing them as COLUMNS means they evaluate
    once per row, where deriving every flag from the raw expressions
    re-evaluated the fold ~6x per row), then ratios/flags.  Same
    staging rationale as repetition_features above, one level further.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    arrays = df.select(
        F.col(id_col), c.alias("__text"),
        F.filter(tokens(c), lambda t: t != "").alias("__toks"),
        F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "").alias("__lines"),
    )
    toks, lines, txt = F.col("__toks"), F.col("__lines"), F.col("__text")
    feats = arrays.select(
        F.col(id_col),
        F.size(toks).alias("__n_words"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
         .alias("__sum_len"),
        F.length(F.regexp_replace(txt, "[^#]", "")).alias("__n_hash"),
        ((F.length(txt) - F.length(F.regexp_replace(txt, r"\.\.\.", "")))
         / F.lit(3)).cast("long").alias("__n_ellipsis"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
         .alias("__n_alpha"),
        F.size(F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_MUST_HAVE])))
         .alias("__stop_hits"),
        F.size(lines).alias("__n_lines"),
        F.size(F.filter(
            lines,
            lambda l: F.substring(F.trim(l), 1, 1).isin("-", "*", "•")))
         .alias("__n_bullet"),
        F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
         .alias("__n_ell_end"),
    )
    n_words = F.col("__n_words")
    # integer-derived divisions -> bit-deterministic doubles
    ratio = lambda num, den: F.when(den > 0, num.cast("double") / den) \
                              .otherwise(F.lit(0.0))
    mean_word_len = ratio(F.col("__sum_len"), n_words)
    symbol_ratio = ratio(F.col("__n_hash") + F.col("__n_ellipsis"), n_words)
    bullet_ratio = ratio(F.col("__n_bullet"), F.col("__n_lines"))
    ell_ratio = ratio(F.col("__n_ell_end"), F.col("__n_lines"))
    alpha_frac = ratio(F.col("__n_alpha"), n_words)
    stop_hits = F.col("__stop_hits")
    flags = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_word_len >= F.lit(float(min_mean_word_len)))
                              & (mean_word_len <= F.lit(float(max_mean_word_len))),
        "rule_symbol_ratio": symbol_ratio <= F.lit(float(max_symbol_ratio)),
        "rule_bullet_lines": bullet_ratio <= F.lit(float(max_bullet_ratio)),
        "rule_ellipsis_lines": ell_ratio <= F.lit(float(max_ellipsis_line_ratio)),
        "rule_alpha_words": alpha_frac >= F.lit(float(min_alpha_word_frac)),
        "rule_stopwords": stop_hits >= F.lit(int(min_stop_hits)),
    }
    keep = None
    for expr in flags.values():
        keep = expr if keep is None else (keep & expr)
    return feats.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("keep"),
    )


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, k: int = 30,
                     decimals: int = 6) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information over
    adjacent token pairs — the corpus-analysis pass that surfaces
    multiword expressions ("new york", "machine learning") and, on a
    training corpus, boilerplate n-grams worth a dedup rule:
    ``pmi = ln(N · c(a,b) / (c(a) · c(b)))`` with a ``min_count``
    support floor so rare-pair noise (whose PMI is inflated by
    construction) never ranks.

    One positional explode feeds BOTH count tables (bigrams via lead
    over the in-document position, unigrams from the same rows); the
    pair relation then joins the vocabulary-sized unigram counts twice.
    Counts are exact integers; the single ``ln`` is rounded to
    ``decimals`` (libm last-ulp policy, grouped_k2 pattern) so the
    report value-hashes cross-engine. Top-k is a TakeOrdered with
    (pmi, pair) tie-break. Reference analogue: none (text-analysis
    extension)."""
    spark = df.sparkSession
    # __rid is staged BEFORE the generator so every token of a document
    # shares one id ((rid, i) then orders tokens within a document
    # without shuffling text); a nondeterministic id in the same
    # projection as the explode could evaluate per GENERATED row
    with_id = (df.repartition(spark.sparkContext.defaultParallelism)
               .select(F.monotonically_increasing_id().alias("__rid"),
                       F.filter(tokens(F.col(text_col)),
                                lambda t: t != "").alias("__tk")))
    base = with_id.select("__rid",
                          F.posexplode("__tk").alias("__i", "__w"))
    base = cache_pinned(base)
    uni = base.groupBy(F.col("__w").alias("w")).agg(
        F.count(F.lit(1)).alias("c_w"))
    w_doc = Window.partitionBy("__rid").orderBy("__i")
    bg = (base.withColumn("__next", F.lead("__w").over(w_doc))
          .filter(F.col("__next").isNotNull())
          .groupBy(F.col("__w").alias("w1"), F.col("__next").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c_ab"))
          .filter(F.col("c_ab") >= int(min_count)))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    n_bigrams = (df.select(
        F.sum(F.greatest(F.size(F.filter(tokens(F.col(text_col)),
                                         lambda t: t != "")) - 1,
                         F.lit(0))).alias("__n")))
    pmi = F.round(F.log(F.col("c_ab").cast("double") * F.col("__n")
                        / (F.col("c_a").cast("double") * F.col("c_b"))),
                  int(decimals))
    return (bg.join(u1, "w1").join(u2, "w2")
            .crossJoin(F.broadcast(n_bigrams))
            .select("w1", "w2", "c_ab", "c_a", "c_b",
                    pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
            .limit(int(k)))


def c4_rules(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", *,
             min_sentences: int = 3,
             min_terminal_line_frac: float = 1.0,
             min_words_per_line: int = 5,
             badwords: tuple[str, ...] = ()) -> DataFrame:
    """Per-document C4 cleanup flags (Raffel et al. 2020 §2.2) — the
    other canonical pretraining filter set beside ``gopher_rules``:
    sentence-count floor, lines-end-in-terminal-punctuation, no
    "lorem ipsum", no curly brace (code), no "javascript" lines, no
    blocklist words; plus the short-line fraction C4's line filter
    would remove. One boolean per rule and the conjunction ``keep``.

    Same execution shape as ``gopher_rules``: staged line array →
    integer feature scalars → flags, three map-only projections that
    pipeline with the scan (no shuffle, no UDF). Reference analogue:
    none (corpus-filter extension)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    arrays = df.select(
        F.col(id_col), c.alias("__text"),
        F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "").alias("__lines"),
    )
    lines, txt = F.col("__lines"), F.col("__text")
    lc = F.lower(txt)
    line_words = lambda l: F.size(F.filter(F.split(F.trim(l), r"\s+"),
                                           lambda t: t != ""))
    feats = arrays.select(
        F.col(id_col),
        F.size(lines).alias("__n_lines"),
        (F.length(txt) - F.length(F.regexp_replace(txt, r"[.!?]", "")))
        .alias("__n_sentences"),
        F.size(F.filter(lines, lambda l: F.trim(l).rlike('[.!?"]$')))
        .alias("__n_terminal"),
        F.size(F.filter(lines, lambda l: line_words(l) < min_words_per_line))
        .alias("__n_short"),
        F.size(F.filter(lines,
                        lambda l: F.lower(l).contains("javascript")))
        .alias("__n_js"),
        lc.contains("lorem ipsum").alias("__has_lorem"),
        txt.contains("{").alias("__has_brace"),
        (sum((lc.contains(w.lower()).cast("int") for w in badwords),
             F.lit(0)) > 0).alias("__has_badword"),
    )
    ratio = lambda num, den: F.when(den > 0, num.cast("double") / den) \
                              .otherwise(F.lit(0.0))
    term_frac = ratio(F.col("__n_terminal"), F.col("__n_lines"))
    flags = {
        "rule_min_sentences": F.col("__n_sentences") >= int(min_sentences),
        "rule_terminal_lines":
            term_frac >= F.lit(float(min_terminal_line_frac)),
        "rule_no_lorem": ~F.col("__has_lorem"),
        "rule_no_brace": ~F.col("__has_brace"),
        "rule_no_javascript": F.col("__n_js") == 0,
        "rule_no_badwords": ~F.col("__has_badword"),
    }
    keep = None
    for expr in flags.values():
        keep = expr if keep is None else (keep & expr)
    return feats.select(
        F.col(id_col),
        F.col("__n_lines").cast("long").alias("n_lines"),
        F.col("__n_sentences").cast("long").alias("n_sentences"),
        term_frac.alias("terminal_line_frac"),
        ratio(F.col("__n_short"), F.col("__n_lines")).alias("short_line_frac"),
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("keep"),
    )
