"""Deduplication operators for pretraining-scale corpora.

Five tiers, cheapest-first — the standard large-corpus dedup ladder:

1. **Exact** (``exact_dedup``): md5-normalized content hash, one groupBy.
   Shuffle key is the 32-char hash, never the document body.
2. **N-gram Jaccard** (``ngram_jaccard_pairs``): exact set-overlap on word
   shingles via explode + self-join on shingle — the verification step
   for candidate pairs. O(pairs sharing a shingle), pruned by doc freq.
3. **MinHash + LSH** (``minhash_signatures``/``lsh_candidate_pairs``):
   k seeded xxhash64 min-hashes, banded to buckets; candidates verified
   with tier 2. Scales to corpora where all-pairs is impossible: the only
   shuffle is on (band, bucket-hash).
4. **SimHash** (``simhash64``/``simhash_near_dups``): 64-bit weighted
   bit-vote fingerprint; near-dup = small Hamming distance, found by
   16-bit band join (≤3-bit difference ⇒ one of 4 bands equal).
5. **Embedding cosine** (``embedding_near_dups`` in similarity.py):
   semantic near-dup over the embeddings table.

All hot paths are built-in JVM expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cache_pinned
from ..functions.scalars import let
from ..session import local_frame
from ..sources.partitioning import spread_narrow
from .text import fingerprint, tokens


# ---------------- tier 1: exact ----------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct (normalized) content: canonical (min) id and
    copy count. ``canonical_id`` selection is deterministic."""
    return (df.groupBy(fingerprint(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one (min-id) row per distinct content — the dedup transform
    itself. Implemented as a min-id semi-join so full rows never shuffle
    by content."""
    keep = (df.select(F.col(id_col),
                      fingerprint(F.col(text_col)).alias("content_hash"))
            .groupBy("content_hash").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------- tier 1b: line-level (sub-document) ----------------

def collapse_repeated_lines(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """INTRA-document consecutive-duplicate-line collapse — the cheap
    within-doc half of line cleanup (:func:`line_dedup` is the
    corpus-level half: a line repeated across ≥N documents is banned
    everywhere; THIS collapses a line repeated back-to-back inside one
    document — duplicated nav blocks, stuttering extractors, repeated
    headers — keeping the first occurrence).  Returns
    ``(id, clean_text, n_lines, n_collapsed)``.

    Pure map-side JVM expression: split on newline, keep line i iff
    ``i == 0 or line != previous line`` (exact comparison — trimming
    belongs to the corpus tier), rejoin.  No shuffle, no UDF; at 100 TB
    this is a projection over the scan, the same shape as the Gopher/C4
    rule gates.  Reference analogue: none (cleaning extension; C4 §2.2
    and RefinedWeb §3.3 apply line rules of this family)."""
    ls = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    # F.filter's index lambda is 0-based; element_at is 1-based, so
    # element_at(l, i) IS the previous element of the 0-based i-th.
    # The i==0 guard must be an explicit WHEN branch: element_at(l, 0)
    # is a runtime error, and a boolean Or makes no evaluation-order
    # promise (r11 advisory) — CASE does.  The lines are bound once
    # (``let``): captured as ``ls`` the lambda would re-split the
    # document for every line.
    kept = let(ls, lambda l: F.filter(
        l, lambda x, i: F.when(i == F.lit(0), F.lit(True))
        .otherwise(x != F.element_at(l, i))))
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(ls).cast("long").alias("n_lines"),
        (F.size(ls) - F.size(kept)).cast("long").alias("n_collapsed"))


def line_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               min_docs: int = 2) -> DataFrame:
    """Corpus-level LINE deduplication (C4, Raffel et al. 2020 §2.2;
    RefinedWeb, Penedo et al. 2023 §3.3): a line whose trimmed content
    appears in ≥ ``min_docs`` DISTINCT documents is boilerplate (nav
    bars, cookie banners, license headers) and is removed from EVERY
    document. Within-document repetition alone never bans a line, and
    blank lines are structural — never counted, never removed. The
    reference has no corpus-level curation; this extends its
    duplicate-detection surface (file_handling/upload.py content hash)
    below document granularity.

    Returns (id, clean_text, n_lines, n_removed) for every input doc.

    Scale shape: lines shuffle by ``md5(trim(line))`` — a bounded key,
    never the document body — for the distinct-doc count; the banned
    relation (one row per frequent line) anti-joins back, and AQE
    broadcasts it when small. Re-assembly sorts each doc's surviving
    (pos, line) pairs inside one aggregation — no window, one shuffle by
    doc id. All JVM expressions; no Python touches row data."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
         .alias("pos", "line"))
    keyed = lines.withColumn("__k", F.md5(F.trim(F.col("line"))))
    banned = (keyed.filter(F.trim("line") != "")
              .groupBy("__k")
              .agg(F.countDistinct(id_col).alias("__line_df"))
              .filter(F.col("__line_df") >= min_docs)
              .select("__k"))
    kept = (keyed.join(banned, "__k", "left_anti")
            .groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("pos", "line"))),
                         lambda x: x["line"]),
                     "\n").alias("clean_text"),
                 F.count(F.lit(1)).alias("__n_kept")))
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
         .cast("long").alias("n_lines"))
    return (base.join(kept, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_lines",
                    (F.col("n_lines") - F.coalesce("__n_kept", F.lit(0)))
                    .cast("long").alias("n_removed")))


# ---------------- tier 0: URL-level ----------------

def canonical_url(col: Column) -> Column:
    """Canonical form of a URL — the key for URL-level dedup, the FIRST
    stage of a crawl pipeline (RefinedWeb, Penedo et al. 2023 §3.1
    dedups by URL before any content pass). Normalizations, all JVM
    string expressions (reproducible in any SQL engine, no URL library):

    - strip fragment (``#…``), surrounding whitespace
    - lowercase scheme and host; drop a leading ``www.``
    - drop default ports (``:80`` for http, ``:443`` for https)
    - drop tracking params (``utm_*``, ``fbclid``, ``gclid``, ``ref=``)
    - sort surviving query params (param order is not identity)
    - drop a trailing slash on a non-root path; root path ``/`` ≡ none
    """
    u = F.regexp_replace(F.trim(col), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
            .otherwise(host))
    pathq = F.substr(rest, F.length(hostport) + 1)
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = (F.when(F.contains(pathq, F.lit("?")),
                    F.substr(pathq, F.length(path) + 2))
             .otherwise(F.lit("")))
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_") & ~x.startswith("fbclid")
        & ~x.startswith("gclid") & ~x.startswith("ref="))
    sorted_q = F.array_join(F.array_sort(params), "&")
    path_n = (F.when(path.isin("", "/"), F.lit(""))
              .otherwise(F.regexp_replace(path, "/$", "")))
    return F.concat(
        scheme, F.lit("://"), host, path_n,
        F.when(sorted_q == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), sorted_q)))


def url_dedup_groups(df: DataFrame, url_col: str = "url",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per canonical URL: deterministic canonical (min) id, total
    page count and distinct surface forms. Shuffle key is the canonical
    string — bounded, never page content."""
    return (df.groupBy(canonical_url(F.col(url_col)).alias("canonical_url"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct(url_col).alias("n_distinct_raw")))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Keep one (min-id) row per canonical URL — min-id semi-join, same
    shape as ``exact_dedup`` so full rows never shuffle by URL."""
    keep = (df.select(F.col(id_col),
                      canonical_url(F.col(url_col)).alias("__cu"))
            .groupBy("__cu").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


def canonical_assignments(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-row duplicate assignment keyed on the UNICODE-CANONICAL text
    (:func:`~.text.canonical_text` — width/confusable/whitespace fold,
    the text half of key canonicalization; :func:`canonical_url` is the
    URL half).  Returns ``(id, canonical_id, n_copies)`` for every
    input row: ``canonical_id`` is the min id of the row's canonical
    group, so a fullwidth or curly-quoted near-copy of an ASCII page
    lands in its original's group — the C4/RefinedWeb preprocessing
    step the exact ladder otherwise skips (r11 verdict #5).

    Scale shape: only ``(id, md5(canon))`` pairs shuffle — one groupBy
    on the 32-char hash plus one hash-keyed join back; bodies never
    move, the fold itself is a map-side JVM projection."""
    from .text import canonical_text

    key = F.md5(canonical_text(F.col(text_col)))
    base = df.select(F.col(id_col), key.alias("__ck"))
    grp = base.groupBy("__ck").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"))
    return (base.join(grp, "__ck")
            .select(id_col, "canonical_id", "n_copies"))


def canonical_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep one (min-id) row per Unicode-canonical content — the
    transform twin of :func:`canonical_assignments`, same min-id
    semi-join shape as :func:`exact_dedup` so full rows never shuffle
    by content."""
    from .text import canonical_text

    keep = (df.select(F.col(id_col),
                      F.md5(canonical_text(F.col(text_col)))
                      .alias("__ck"))
            .groupBy("__ck").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------- tier 1c: exact duplicated substrings ----------------

def exact_substring_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", window: int = 50,
                          min_docs: int = 2) -> DataFrame:
    """ExactSubstr-style span deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4.1):
    any token span of length ≥ ``window`` that appears verbatim in
    ``min_docs`` or more DISTINCT documents is removed from every
    document.  This is the pass serious corpus pipelines run between
    whole-line dedup (``line_dedup``) and fuzzy shingle/MinHash dedup —
    offset-shifted copies that whole-line hashing misses are caught here.
    The reference has no analogue (its dedup surface stops at
    file-content MD5, file_handling/upload.py:47-92).

    Mechanics: every ``window``-token sliding window (stride 1) is keyed
    by ``md5`` of its space-joined lowercased tokens.  A duplicated span
    of length L ≥ window yields L−window+1 duplicated windows whose
    union covers exactly the L span tokens, so "token is covered by ≥1
    duplicated window" reproduces "remove duplicated spans ≥ window
    tokens" exactly; spans shorter than ``window`` are never touched.

    Returns (id, clean_text, n_tokens, n_removed) for every input doc.
    Matching is case-insensitive (lowercased window keys) but
    ``clean_text`` rebuilds from the ORIGINAL-case tokens — survivors
    keep their casing; only inter-token whitespace collapses to single
    spaces (inherent to a token-level rebuild, same as the paper's
    token-stream formulation).

    Scale shape: only (id, window-start, 32-char md5) triples shuffle —
    never document bodies.  Duplicated window keys are found with one
    groupBy on the hash; the (id, pos) hits semi-join back and expand to
    covered token positions (explode factor ``window`` on *duplicated*
    windows only); re-assembly is the same single-aggregation sort as
    ``line_dedup`` — one shuffle by doc id, no window function.  Window
    hashing costs O(n·window) transient chars per doc; at 100 TB swap
    the md5-of-concat for an O(n) polynomial rolling hash (prefix
    products mod a prime) — kept md5 here so the DuckDB oracle can
    reproduce the key bit-exactly.  All JVM expressions; no Python UDFs.
    """
    w = int(window)
    # spread a narrow source before the O(n·window) md5 hashing (see
    # sources/partitioning.spread_narrow — conditional, so no text
    # shuffle for an already-wide corpus)
    base = _tokenized_base(spread_narrow(df), text_col, id_col)
    wins = _window_hash_table(base, id_col, w)

    dup_keys = (wins.groupBy("__h")
                .agg(F.countDistinct(id_col).alias("__df"))
                .filter(F.col("__df") >= min_docs)
                .select("__h"))
    dup_wins = wins.join(dup_keys, "__h", "left_semi")
    return _covered_span_report(base, dup_wins, id_col, w)


def _tokenized_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __t, __o): lowercased tokens keying the windows, and
    original-case tokens for the rebuild.  Lowercasing never changes
    whitespace, so both splits are position-aligned."""
    blank = F.trim(F.coalesce(F.col(text_col), F.lit(""))) == ""
    empty_arr = F.array().cast("array<string>")
    toks = F.when(blank, empty_arr).otherwise(tokens(F.col(text_col)))
    orig = F.when(blank, empty_arr).otherwise(
        F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.select(F.col(id_col), toks.alias("__t"), orig.alias("__o"))


def _window_hash_table(base: DataFrame, id_col: str, w: int) -> DataFrame:
    """(id, wpos, __h): every ``w``-token sliding window (stride 1)
    keyed by md5 of its space-joined lowercased tokens; wpos is the
    1-based token index of the window start.  Only these narrow triples
    ever shuffle — never document bodies."""
    win_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__t") - w + 1, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice("__t", i, w))))
    return (base.filter(F.size("__t") >= w)
            .select(id_col, F.posexplode(win_hashes).alias("__p0", "__h"))
            .select(id_col, (F.col("__p0") + 1).alias("wpos"), "__h"))


def _covered_span_report(base: DataFrame, dup_wins: DataFrame,
                         id_col: str, w: int) -> DataFrame:
    """Shared tail of the span-removal operators
    (``exact_substring_dedup``, ``decontaminate_spans``): expand the
    flagged windows to covered token positions, drop those tokens, and
    rebuild (id, clean_text, n_tokens, n_removed) for every input doc."""
    covered = (dup_wins
               .select(id_col,
                       F.explode(F.sequence(F.col("wpos"),
                                            F.col("wpos") + w - 1))
                       .alias("tokpos"))
               .distinct())

    all_toks = (base.select(id_col, F.posexplode("__o").alias("__p0", "tok"))
                .select(id_col, (F.col("__p0") + 1).alias("tokpos"), "tok"))
    kept = (all_toks.join(covered, [id_col, "tokpos"], "left_anti")
            .groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                         lambda x: x["tok"]),
                     " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("__n_kept")))

    return (base.select(F.col(id_col),
                        F.size("__t").cast("long").alias("n_tokens"))
            .join(kept, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_tokens",
                    (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
                    .cast("long").alias("n_removed")))


def decontaminate_spans(train: DataFrame, held_out: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        window: int = 13) -> DataFrame:
    """Surgical benchmark decontamination (GPT-3 §C's removal variant):
    instead of dropping every training document that shares an n-gram
    with the held-out set (``cross_corpus_overlap`` + filter — the
    blunt instrument), remove only the CONTAMINATED SPANS: any
    ``window``-token sequence of a training doc that appears verbatim
    anywhere in the held-out corpus is cut out; the clean remainder
    survives.  GPT-3 used 13-gram collisions; at that length false
    positives are rare, so span removal keeps data a doc-level drop
    would waste.  The reference has no analogue (its overlap surface
    stops at file-level MD5).

    Returns (id, clean_text, n_tokens, n_removed) for every train doc
    — the same contract as ``exact_substring_dedup``, which shares its
    machinery: the only difference is WHERE the flagged window keys
    come from (the held-out corpus, not a ≥min_docs self-count).

    Scale shape: train side shuffles only (id, wpos, md5) triples; the
    held-out side reduces to DISTINCT window hashes — benchmarks are
    tiny relative to a training corpus, so that relation broadcasts and
    the probe is map-side.  All JVM expressions; no Python UDFs.
    """
    w = int(window)
    base = _tokenized_base(spread_narrow(train), text_col, id_col)
    wins = _window_hash_table(base, id_col, w)

    eval_keys = (_window_hash_table(
                     _tokenized_base(held_out, text_col, id_col),
                     id_col, w)
                 .select("__h").distinct())
    dup_wins = wins.join(F.broadcast(eval_keys), "__h", "left_semi")
    return _covered_span_report(base, dup_wins, id_col, w)


def memorization_risk_report(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", window: int = 20,
                             k: int = 20) -> DataFrame:
    """Memorization-risk audit (Carlini et al. 2021/2022: verbatim
    sequences repeated across training data are the ones models emit):
    the top-``k`` most-duplicated ``window``-token sequences in the
    corpus, with how many distinct documents and total occurrences each
    has — ``(span, n_docs, n_occurrences)`` ordered by
    (n_docs DESC, n_occurrences DESC, span).  The actionable shortlist
    for an ExactSubstr pass or a blocklist.  Spans are reported in the
    lowercased token form that keys the count (case-insensitive match,
    same convention as ``exact_substring_dedup``).

    Scale shape: counting groups 16-byte md5 keys, never span text; the
    top-k survives on the bounded aggregate (TakeOrdered, no global
    sort materialization).  Span text is only reconstructed for the k
    winners, by re-slicing the ONE representative (min (id, wpos))
    document per winner — a broadcast semi-probe back into the corpus,
    touching k documents.  Overlapping occurrences inside one document
    each count toward n_occurrences (stride-1 windows), in both engines.
    """
    w, k = int(window), int(k)
    base = _tokenized_base(spread_narrow(df), text_col, id_col)
    wins = _window_hash_table(base, id_col, w)

    top = (wins.groupBy("__h")
           .agg(F.countDistinct(id_col).alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
                F.min(F.struct(F.col(id_col).alias("id"),
                               F.col("wpos").alias("wpos"))).alias("__rep"))
           .filter(F.col("n_docs") >= 2))

    # Reconstruct span text for the winners only: probe the k
    # representative docs (broadcast of a k-row relation).
    rep = (top.select("__h", "n_docs", "n_occurrences",
                      F.col("__rep.id").alias("__rid"),
                      F.col("__rep.wpos").alias("__rpos"))
           .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "__h")
           .limit(k))
    return (base.join(F.broadcast(rep),
                      base[id_col] == rep["__rid"])
            .select(F.concat_ws(
                        " ", F.slice("__t", F.col("__rpos"), w))
                    .alias("span"),
                    "n_docs", "n_occurrences")
            .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "span"))


# ---------------- shingles ----------------

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram set per document (empty/short docs → whole-doc
    shingle so they can still exact-match).

    The token array is bound ONCE per row (``let``) and the per-shingle
    lambda slices the bound variable.  Captured as a row expression
    instead, ``split(lower(trim(text)))`` re-ran for every shingle —
    Catalyst does no CSE inside lambda bodies — so a document cost
    O(tokens²) (SCALE.md "Lambda bodies: bind, don't capture")."""
    return F.array_distinct(let(tokens(col), lambda t: F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)))))


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """(id, shingle) exploded pairs + per-doc shingle counts."""
    return (df.select(F.col(id_col),
                      F.explode(word_shingles(F.col(text_col), n)).alias("shingle")))


# ---------------- tier 2: exact n-gram jaccard on candidate pairs ----------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """All pairs with word-``n``-gram Jaccard ≥ threshold.

    Plan shape (the part that must survive 100 TB):
    explode shingles → self-join on shingle → pair-count = |∩| →
    broadcast-join per-doc set sizes → jaccard = |∩| / (|A|+|B|−|∩|).
    Integer counts → bit-deterministic jaccard.
    """
    # shingle construction is the CPU-bound stage and feeds THREE consumers
    # (sizes + both self-join sides): parallelize it (single-file sources
    # are 1 partition) and persist so it is evaluated once, not per side.
    sh = shingle_table(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism),
        text_col, id_col, n)
    sh = cache_pinned(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (inter.join(sz_a, "id_a").join(sz_b, "id_b")
           .withColumn("jaccard",
                       F.col("n_common").cast("double")
                       / (F.col("size_a") + F.col("size_b") - F.col("n_common")))
           .filter(F.col("jaccard") >= threshold))
    return out.select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")


# ---------------- tier 3: minhash + LSH ----------------

MERSENNE31 = 2147483647  # 2^31 - 1


def plan_minhash_bands(threshold: float, num_hashes: int = 64,
                       fn_weight: float = 1.0) -> tuple[int, int]:
    """Pick the LSH banding (bands, rows_per_band) for a target Jaccard
    ``threshold`` — the knob callers otherwise guess.  For b bands of r
    rows, P(candidate | jaccard=s) = 1 − (1 − s^r)^b, an S-curve with
    inflection ≈ (1/b)^(1/r); the planner scans every (b, r) with
    b·r ≤ num_hashes and minimizes the integrated error
    ∫₀ᵗ P(s) ds  +  fn_weight · ∫ₜ¹ (1 − P(s)) ds
    (false-positive mass below the threshold plus weighted
    false-negative mass above it — the MMDS ch.3 objective, evaluated
    on a fixed 1000-point grid so the choice is deterministic).
    ``fn_weight > 1`` biases toward recall (dedup pipelines usually
    prefer re-verifying extra candidates over missing near-dups).
    Driver-side arithmetic only; feed the result to
    ``minhash_dedup_pairs``/``lsh_candidate_pairs``.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best, best_cost = None, None
    grid = [(i + 0.5) / 1000.0 for i in range(1000)]
    for r in range(1, num_hashes + 1):
        b = num_hashes // r
        if b < 1:
            break
        cost = 0.0
        for s in grid:
            p = 1.0 - (1.0 - s ** r) ** b
            cost += (p if s < threshold else fn_weight * (1.0 - p)) / 1000.0
        if best_cost is None or cost < best_cost:
            best, best_cost = (b, r), cost
    return best


def _affine_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine min-hash family
    h_i(x) = (a_i * x + b_i) mod p — derived from the seed via a simple
    LCG so no RNG state is needed."""
    params = []
    state = seed * 2654435761 % MERSENNE31
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % MERSENNE31
        a = state or 1
        state = (state * 1103515245 + 12345) % MERSENNE31
        b = state
        params.append((a, b))
    return params


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3, num_hashes: int = 64, seed: int = 42,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """k×min-hash signature per doc. Each shingle string is xxhash64'd
    ONCE; the k hash functions are affine transforms of that base hash
    (h_i = (a_i*h + b_i) mod 2^31-1) — the standard universal-hash
    min-hash family. The k mins are folded in a SINGLE traversal of the
    shingle array with a k-wide accumulator (``aggregate`` + ``zip_with``)
    so the tokenize/shingle/hash pipeline is evaluated once per row, not
    once per hash function. All intermediates stay < 2^62, safe under
    ANSI arithmetic.

    Input spreads via ``spread_narrow`` — the expression is CPU-bound,
    and a single-file parquet source would otherwise pin it to one core;
    an already-wide corpus skips the shuffle.

    ``hash_fn``: ``"xxhash64"`` (default, fastest) or ``"md5"`` — the
    first 15 hex chars of md5 as a 60-bit integer, identical on any SQL
    engine, making the whole minhash pipeline ORACLE-CHECKABLE at the
    cost of the slower hash (the deterministic tier of
    ``minhash_dedup_pairs``)."""
    sig = minhash_signature_column(F.col(text_col), n, num_hashes, seed,
                                   hash_fn)
    return spread_narrow(df).select(F.col(id_col), sig.alias("signature"))


def minhash_signature_column(text: Column, n: int = 3,
                             num_hashes: int = 64, seed: int = 42,
                             hash_fn: str = "xxhash64") -> Column:
    """The signature EXPRESSION behind :func:`minhash_signatures` — a
    pure Column: ``word_shingles`` then :func:`_signature_of_shingles`.

    A caller that already holds the shingle set (the pinned ``sets`` of
    :func:`minhash_dedup_pairs` and :func:`lsh_config_sweep`, the
    streaming gate's projection) signs that column with
    ``_signature_of_shingles`` instead, so each document is tokenized
    and shingled once — calling this as well would shingle it a second
    time."""
    return _signature_of_shingles(word_shingles(text, n), num_hashes,
                                  seed, hash_fn)


def _signature_of_shingles(grams: Column, num_hashes: int, seed: int,
                           hash_fn: str) -> Column:
    """k×min-hash fold of a shingle-set column (see
    :func:`minhash_signatures` for the hash family)."""
    p = F.lit(MERSENNE31).cast("long")
    if hash_fn == "md5":
        base = F.transform(
            grams,
            lambda s: F.pmod(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"), p))
    elif hash_fn == "xxhash64":
        base = F.transform(grams, lambda s: F.pmod(F.xxhash64(s), p))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} "
                         "(expected 'xxhash64' or 'md5')")

    params = _affine_params(num_hashes, seed)
    # ONE SQL parse for the (a, b) literal array: the F.array/F.struct
    # form crossed py4j ~7× per hash function (~0.8 s of plan-build per
    # bench run at num_hashes=64 — the nested_double_lit lesson, r13
    # opt round); the parsed tree constant-folds to the same Literal.
    ab = F.expr("array(" + ",".join(
        f"named_struct('a',{a}L,'b',{b}L)" for a, b in params) + ")")
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    return F.aggregate(
        base, init,
        lambda acc, h: F.zip_with(
            acc, ab,
            lambda m, pr: F.least(m, F.pmod(pr["a"] * h + pr["b"], p))))


def _band_bucket_cols(bands: int, num_hashes: int,
                      hash_buckets: bool = True,
                      signature_col: str = "signature") -> list[Column]:
    """The ``bands`` band-bucket key expressions of a signature column —
    the ONE bucket-hash construction shared by :func:`minhash_band_keys`
    (which explodes them into the join relation) and
    :func:`minhash_bucket_array` (which keeps them as an array on the
    row for the stateless streaming gate's first-matching-band dedup).
    A persisted standing-corpus index and any later batch must hash
    buckets bit-identically, so the expression is defined exactly
    once."""
    rows_per_band = num_hashes // bands

    def bucket(bi: int):
        # ONE SQL parse per band instead of ~3 py4j calls per signature
        # element (r13 opt round; the parsed tree is identical)
        elems = ",".join(
            f"cast(element_at(`{signature_col}`,"
            f" {bi * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band))
        joined = f"concat_ws(',',{elems})"
        # hashed buckets shuffle 8-byte keys (default); raw-string
        # buckets are engine-portable — the oracle-checkable tier
        return F.expr(f"cast(xxhash64({joined}) as string)"
                      if hash_buckets else joined)

    return [bucket(bi) for bi in range(bands)]


def minhash_bucket_array(bands: int, num_hashes: int,
                         hash_buckets: bool = True,
                         signature_col: str = "signature") -> Column:
    """``array<string>`` of a signature's band-bucket keys (see
    :func:`_band_bucket_cols` for the shared-expression contract)."""
    return F.array(*_band_bucket_cols(bands, num_hashes, hash_buckets,
                                      signature_col))


def minhash_band_keys(sig: DataFrame, id_col: str, out_id: str,
                      bands: int, num_hashes: int,
                      hash_buckets: bool = True) -> DataFrame:
    """(id, band, bucket) relation from a signature table — the banded
    join form of the shared bucket expressions."""
    buckets = _band_bucket_cols(bands, num_hashes, hash_buckets)
    b = sig.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"), bk.alias("bucket"))
            for bi, bk in enumerate(buckets)
        ])).alias("bb"))
    return b.select(out_id, "bb.band", "bb.bucket")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 16, num_hashes: int | None = None,
                        hash_buckets: bool = True) -> DataFrame:
    """Band the signature, bucket-join: docs agreeing on ALL rows of any
    band become candidates. Shuffle key = (band, bucket hash) — tiny.

    The banded relation is persisted: the a/b sides of the self-join
    would otherwise each re-evaluate the full signature pipeline
    (the most expensive expression in the dedup ladder) from scratch."""
    sig = signatures
    if num_hashes is None:
        first = sig.select(F.size("signature").alias("n")).first()
        num_hashes = first["n"]
    banded = minhash_band_keys(sig, id_col, id_col, bands, num_hashes,
                               hash_buckets=hash_buckets)
    banded = cache_pinned(banded)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.5, seed: int = 42,
                        deterministic: bool = False) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard — the full
    scalable near-dup pipeline. Verification joins ONLY the candidate
    pairs back to the per-doc shingle sets (array_intersect per pair);
    it never enumerates all pairs, so cost is O(candidates), not
    O(corpus²) — the property that keeps this viable at 100 TB."""
    # shingle construction is CPU-bound and this relation feeds BOTH
    # sides of the candidate join — parallelize and persist it
    sets = (df.repartition(df.sparkSession.sparkContext.defaultParallelism)
            .select(F.col(id_col),
                    word_shingles(F.col(text_col), n).alias("shingles")))
    sets = cache_pinned(sets)
    # deterministic tier: md5-derived base hash + raw-string band
    # buckets — every key reproducible in plain SQL, so the WHOLE
    # candidate pipeline (not just the verified output) oracle-checks.
    # The signature signs the pinned shingle sets: no second shingling
    # pass and no second spread of the text.
    hash_fn = "md5" if deterministic else "xxhash64"
    sig = sets.select(F.col(id_col), _signature_of_shingles(
        F.col("shingles"), num_hashes, seed, hash_fn).alias("signature"))
    cands = lsh_candidate_pairs(sig, id_col, bands, num_hashes=num_hashes,
                                hash_buckets=not deterministic)
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (cands.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard",
                        n_common.cast("double")
                        / (F.size("sh_a") + F.size("sh_b") - n_common))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def lsh_config_sweep(df: DataFrame, bands_options=(4, 8, 16, 32),
                     threshold: float = 0.8, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3,
                     num_hashes: int = 64, seed: int = 42,
                     deterministic: bool = False) -> DataFrame:
    """LSH banding-config planning report — the (bands, rows-per-band)
    knob counterpart of the threshold sweeps (:func:`dedup_impact_sweep`
    prices thresholds over one pair relation;
    :func:`fuzzy_decontam_sweep` prices the fuzzy gate's cut; this
    prices the BANDING itself): per candidate factorization of
    ``num_hashes``, how many candidate pairs the banded join emits
    (the cost side — every candidate pays one exact-jaccard
    verification), how many survive verification at ``threshold``
    (the yield), the resulting candidate precision, and the closed-form
    S-curve capture probability ``1 - (1 - t^r)^b`` at the working
    threshold (the theoretical recall the banding buys).  A curation
    run reads the knee of this table to pick bands before building the
    production index.

    ONE signature pass serves every config (the signature is pinned;
    each config re-bands the same arrays), each config's candidate join
    shuffles only (band, bucket) keys, and verification touches each
    DISTINCT candidate pair once across all configs (a narrower config's
    candidates are a subset of a wider one's only statistically, so the
    union is deduped before the shingle join).  Bodies never shuffle.
    Counts are exact; precision is an integer-derived division
    (NULL when a config emits no candidates); the S-curve column is
    config arithmetic embedded as a literal (chained multiplication, so
    the oracle replays the identical IEEE value).  Reference analogue:
    none (planning extension, Leskovec/Rajaraman/Ullman MMDS §3.4
    banding analysis)."""
    opts = sorted({int(b) for b in bands_options})
    for b in opts:
        if num_hashes % b != 0:
            raise ValueError(f"bands={b} does not divide {num_hashes}")
    hash_fn = "md5" if deterministic else "xxhash64"
    # the pinned shingle sets feed the signature AND both sides of the
    # verification join (minhash_dedup_pairs pins the identical
    # relation for the same reason): the text is spread and shingled once
    sets = cache_pinned(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col),
                word_shingles(F.col(text_col), n).alias("__sh")))
    sig = cache_pinned(sets.select(F.col(id_col), _signature_of_shingles(
        F.col("__sh"), num_hashes, seed, hash_fn).alias("signature")))
    cands = None
    for b in opts:
        c = (lsh_candidate_pairs(sig, id_col, bands=b,
                                 num_hashes=num_hashes,
                                 hash_buckets=not deterministic)
             .select(F.lit(b).alias("bands"), "id_a", "id_b"))
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.localCheckpoint(eager=False)  # feeds distinct + rollup
    a = sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    bb = sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (n_common.cast("double")
           / (F.size("sh_a") + F.size("sh_b") - n_common))
    verified = (cands.select("id_a", "id_b").distinct()
                .join(a, "id_a").join(bb, "id_b")
                .select("id_a", "id_b", jac.alias("__jac")))
    per = (cands.join(verified, ["id_a", "id_b"])
           .groupBy("bands")
           .agg(F.count(F.lit(1)).alias("n_candidates"),
                F.sum((F.col("__jac") >= F.lit(float(threshold)))
                      .cast("long")).alias("n_verified")))
    conf_rows = []
    t = float(threshold)
    for b in opts:
        r = num_hashes // b
        conf_rows.append((b, r, _s_curve_capture(t, r, b)))
    conf = local_frame(
        df.sparkSession, conf_rows,
        "bands int, rows_per_band int, capture_prob_at_t double")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return (conf.join(per, "bands", "left")
            .select("bands", "rows_per_band",
                    z("n_candidates").alias("n_candidates"),
                    z("n_verified").alias("n_verified"),
                    F.try_divide(z("n_verified").cast("double"),
                                 z("n_candidates").cast("double"))
                    .alias("precision"),
                    "capture_prob_at_t")
            .orderBy("bands"))


def _s_curve_capture(t: float, r: int, b: int) -> float:
    """``1 - (1 - t^r)^b`` by CHAINED multiplication (not ``**``), so an
    oracle replaying the same chain left-to-right lands on the
    bit-identical IEEE double."""
    tr = 1.0
    for _ in range(r):
        tr *= t
    q = 1.0 - tr
    qb = 1.0
    for _ in range(b):
        qb *= q
    return 1.0 - qb


def incremental_minhash_dedup(existing: DataFrame, new: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              num_hashes: int = 64, bands: int = 16,
                              threshold: float = 0.5,
                              seed: int = 42,
                              deterministic: bool = False,
                              existing_sig: DataFrame | None = None,
                              existing_shingles: DataFrame | None = None,
                              broadcast_existing: bool = False,
                              ) -> DataFrame:
    """Fuzzy tier of incremental ingestion dedup (pairs with
    ``incremental_exact_dedup``): NEW docs that are near-duplicates of
    the STANDING corpus, found via the banded MinHash index and verified
    with exact shingle Jaccard. Returns (new_id, existing_id, jaccard)
    — one row per verified near-dup link, ≥ ``threshold``.

    Scale shape: a real deployment PERSISTS the standing corpus's
    (band, bucket) index and shingle sets between increments (both are
    plain relations produced here by the same expressions that would
    have written them); per increment only the NEW batch is hashed, the
    candidate join touches matching buckets, and verification joins
    only candidate pairs to the two shingle relations. The standing
    corpus is never re-shingled per batch in steady state and never
    self-joins — cost is O(batch + candidates), the property that keeps
    per-crawl dedup viable against a 100 TB history.

    ``deterministic=True`` switches to the md5 base hash and raw-string
    band buckets (the same det tier as ``minhash_dedup_pairs``) so the
    incremental pipeline — index, probe, verification — replays in
    plain SQL and value-hashes against a generated oracle.

    ``existing_sig`` / ``existing_shingles`` are the PERSISTED-index
    hooks: pass the standing corpus's ``minhash_signatures`` output
    (id, signature) and its shingle relation (id, shingles) — both
    plain relations this operator would otherwise recompute — and the
    per-increment cost drops to signing the BATCH plus the candidate
    joins; the standing corpus is never re-read as text.  This is the
    steady-state shape the docstring above describes and the streaming
    ``minhash_index_sink`` implements; with the hooks the operator
    itself runs it in batch mode.  The relations must have been built
    with the same (n, num_hashes, seed, hash_fn) parameters.

    ``broadcast_existing=True`` hints BOTH existing-side relations
    (band keys into the candidate join, shingles into verification)
    for broadcast — the right shape when the standing side is SMALL
    relative to the batch (benchmark decontamination, where "existing"
    is an eval set): the batch/corpus side then never shuffles at all;
    candidates fall out of a broadcast probe and verification
    broadcasts the eval shingles into the candidate rows.
    """
    hash_fn = "md5" if deterministic else "xxhash64"
    hb = not deterministic
    sig_ex = existing_sig if existing_sig is not None else \
        minhash_signatures(existing, text_col, id_col, n, num_hashes,
                           seed, hash_fn=hash_fn)
    sig_new = minhash_signatures(new, text_col, id_col, n, num_hashes,
                                 seed, hash_fn=hash_fn)
    bk_ex = minhash_band_keys(sig_ex, id_col, "existing_id", bands,
                              num_hashes, hash_buckets=hb)
    if broadcast_existing:
        bk_ex = F.broadcast(bk_ex)
    cands = (minhash_band_keys(sig_new, id_col, "new_id", bands,
                               num_hashes, hash_buckets=hb)
             .join(bk_ex, ["band", "bucket"])
             .select("new_id", "existing_id").distinct())
    sh_new = (spread_narrow(new)
              .select(F.col(id_col).alias("new_id"),
                      word_shingles(F.col(text_col), n).alias("sh_n")))
    if existing_shingles is not None:
        sh_ex = existing_shingles.select(
            F.col(id_col).alias("existing_id"),
            F.col("shingles").alias("sh_e"))
    else:
        sh_ex = (spread_narrow(existing)
                 .select(F.col(id_col).alias("existing_id"),
                         word_shingles(F.col(text_col), n).alias("sh_e")))
    if broadcast_existing:
        sh_ex = F.broadcast(sh_ex)
    n_common = F.size(F.array_intersect("sh_n", "sh_e"))
    return (cands.join(sh_new, "new_id").join(sh_ex, "existing_id")
            .withColumn("jaccard",
                        n_common.cast("double")
                        / (F.size("sh_n") + F.size("sh_e") - n_common))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "existing_id", "jaccard"))


# ---------------- cross-corpus decontamination ----------------

def cross_corpus_overlap(train: DataFrame, held_out: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 3, min_common: int = 2) -> DataFrame:
    """Benchmark decontamination: training documents sharing ≥
    ``min_common`` word n-grams with any held-out document —
    ``(train_id, eval_id, n_common)``. Standard practice before
    training (e.g. GPT-3 §C / PaLM app.): drop or flag train docs that
    leak evaluation content. Same shuffle shape as the jaccard tier —
    join on the shingle, never doc×doc; the held-out side is typically
    tiny (benchmarks), so its shingle relation broadcasts."""
    tr = shingle_table(spread_narrow(train),
                       text_col, id_col, n).withColumnRenamed(id_col, "train_id")
    ev = (shingle_table(held_out, text_col, id_col, n)
          .withColumnRenamed(id_col, "eval_id").distinct())
    return (tr.join(ev, "shingle")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= min_common))


def decontam_by_benchmark(train: DataFrame, held_out: DataFrame,
                          benchmark_col: str = "benchmark",
                          text_col: str = "text", id_col: str = "doc_id",
                          window: int = 13) -> DataFrame:
    """Per-BENCHMARK contamination breakdown — the aggregate report a
    decontamination run publishes when the held-out side is a SUITE
    (MMLU + GSM8K + HumanEval + …), not one corpus: for each benchmark,
    how many of its eval docs leaked into the training corpus, how many
    train docs are dirty against it, and the colliding-window mass.
    The doc-level tiers answer "is this train doc dirty"
    (:func:`cross_corpus_overlap`, ``streaming_decontaminate``); this
    answers "WHICH benchmark leaked and how badly" — what decides
    whether a reported eval number is trustworthy.

    Returns one row per benchmark: ``(benchmark, n_eval_docs,
    n_eval_docs_leaked, n_train_docs_dirty, n_hit_windows,
    pct_train_docs_dirty)``.

    Scale shape: eval windows reduce to DISTINCT (benchmark, hash)
    keys and BROADCAST (benchmark suites are tiny next to the corpus);
    train bodies never shuffle — only the post-probe (train_id,
    benchmark, hash) triples feed the rollups, and the hit relation is
    lineage-truncated because three aggregations consume it.  The
    eval-leak side joins the eval keys against the DISTINCT hit hashes
    (bounded by the eval window count, so that side broadcasts too).
    Counts exact, the fraction integer-derived.  Reference analogue:
    none (decontamination reporting extension; GPT-3 §C publishes
    exactly this table shape)."""
    w = int(window)
    # window hashing is CPU-bound; a single-file source would pin each
    # side to one core (cross_corpus_overlap precedent)
    ev_win = _window_hash_table(
        _tokenized_base(spread_narrow(held_out), text_col, id_col),
        id_col, w)
    ev_bench = held_out.select(F.col(id_col).alias("__eid"),
                               F.col(benchmark_col).alias("benchmark"))
    ev_keys = (ev_win.select(F.col(id_col).alias("__eid"), "__h")
               .join(ev_bench, "__eid")
               .select("benchmark", "__eid", "__h"))
    ev_keys = cache_pinned(ev_keys)   # feeds the probe AND the leak join
    probe = ev_keys.select("benchmark", "__h").distinct()
    tr_win = _window_hash_table(
        _tokenized_base(spread_narrow(train), text_col, id_col),
        id_col, w) \
        .select(F.col(id_col).alias("__tid"), "__h")
    hits = (tr_win.join(F.broadcast(probe), "__h")
            .select("benchmark", "__tid", "__h")
            .localCheckpoint(eager=False))
    dirty = (hits.select("benchmark", "__tid").distinct()
             .groupBy("benchmark")
             .agg(F.count(F.lit(1)).alias("n_train_docs_dirty")))
    mass = hits.groupBy("benchmark").agg(
        F.count(F.lit(1)).alias("n_hit_windows"))
    hit_hashes = hits.select("benchmark", "__h").distinct()
    leaked = (ev_keys.join(F.broadcast(hit_hashes), ["benchmark", "__h"])
              .select("benchmark", "__eid").distinct()
              .groupBy("benchmark")
              .agg(F.count(F.lit(1)).alias("n_eval_docs_leaked")))
    per_bench = ev_bench.groupBy("benchmark").agg(
        F.count(F.lit(1)).alias("n_eval_docs"))
    totals = train.agg(F.count(F.lit(1)).alias("__n_train"))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return (per_bench
            .join(leaked, "benchmark", "left")
            .join(dirty, "benchmark", "left")
            .join(mass, "benchmark", "left")
            .crossJoin(F.broadcast(totals))
            .select("benchmark",
                    z("n_eval_docs").alias("n_eval_docs"),
                    z("n_eval_docs_leaked").alias("n_eval_docs_leaked"),
                    z("n_train_docs_dirty").alias("n_train_docs_dirty"),
                    z("n_hit_windows").alias("n_hit_windows"),
                    # try_divide, not /: an EMPTY train corpus must read
                    # NULL (the lsh_config_sweep precision convention),
                    # not NaN (r11 advisory)
                    F.try_divide(z("n_train_docs_dirty").cast("double"),
                                 F.col("__n_train").cast("double"))
                    .alias("pct_train_docs_dirty"))
            .orderBy("benchmark"))


def fuzzy_decontaminate(train: DataFrame, held_out: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 42,
                        deterministic: bool = False) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy tier the
    exact family lacks (``cross_corpus_overlap`` catches verbatim
    n-gram leaks, ``bloom_decontaminate`` the same at map-side cost;
    neither catches an eval answer leaked with light paraphrase or
    formatting drift, which is what fuzzy decontam exists for in
    production pipelines).  Per TRAIN doc: ``(id, contaminated,
    matched_id, jaccard)`` — the best-matching held-out doc at exact
    shingle Jaccard ≥ ``threshold`` (ties: highest jaccard, then
    smallest eval id), NULL/false when clean.

    Scale shape — the eval set is benchmark-sized, the corpus is the
    100 TB side, so the plan must never shuffle the corpus: the eval
    side's band keys and shingle sets are BROADCAST
    (``incremental_minhash_dedup(broadcast_existing=True)``), making
    candidate discovery a broadcast probe over the corpus's own band
    keys and verification a broadcast join onto candidate rows only.
    The final best-match window partitions by train doc id (bounded by
    per-doc candidate fan-out, never data-sized), and the left join
    back to `train` is id-projection-sized — deliberately UNhinted:
    the match relation's cardinality is data-dependent (usually tiny,
    pathologically large on a poisoned corpus), so AQE's runtime
    conversion to broadcast is the right mechanism, not a static hint.

    ``deterministic=True`` switches the whole pipeline to the md5 /
    raw-bucket tier so it value-hashes against a SQL oracle (same
    trade as ``minhash_dedup_pairs``)."""
    links = incremental_minhash_dedup(
        held_out, train, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        seed=seed, deterministic=deterministic, broadcast_existing=True)
    w = Window.partitionBy("new_id").orderBy(F.col("jaccard").desc(),
                                             F.col("existing_id"))
    best = (links.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("new_id").alias(id_col),
                    F.col("existing_id").alias("matched_id"),
                    F.col("jaccard")))
    return (train.select(id_col)
            .join(best, id_col, "left")
            .withColumn("contaminated", F.col("matched_id").isNotNull()))


def fuzzy_decontam_sweep(train: DataFrame, held_out: DataFrame,
                         thresholds: list[float], text_col: str = "text",
                         id_col: str = "doc_id", n: int = 3,
                         num_hashes: int = 64, bands: int = 16,
                         seed: int = 42, deterministic: bool = False,
                         weight_col: str = "n_chars") -> DataFrame:
    """Fuzzy-gate planning report (the :func:`dedup_impact_sweep`
    pattern applied to :func:`fuzzy_decontaminate`): dirty-document
    rate and removal cost at each candidate Jaccard threshold, priced
    from ONE banded pair scan instead of one decontam run per
    threshold.  The exact tier has fraction/report/surgery follow-ups
    (``decontam_fraction``, ``decontam_window_sweep``); this is the
    fuzzy tier's counterpart, so a curation run can pick its paraphrase
    gate's threshold from a single report.

    The link relation is the broadcast-probe banded candidate scan cut
    once at ``min(thresholds)`` — eval side broadcast at both the
    candidate and verification joins, corpus never shuffles (the
    100 TB shape; see :func:`fuzzy_decontaminate`).  Each link then
    explodes against the LITERAL threshold array; a train doc is
    contaminated at ``t`` iff some candidate link reaches jaccard ≥ t
    (same per-pair rule the gate itself applies — the sweep reports
    BANDED-candidate contamination, i.e. what the gate would actually
    remove, not exhaustive-pair truth, which the recall gates price
    separately).  Scale shape: |links| × |thresholds| explode, two
    hash aggregations on that, one join onto the corpus's (id, weight)
    projection, a broadcast of the 1-row totals.  Counts exact,
    fractions integer-derived.  Reference analogue: none (planning
    extension)."""
    ts = sorted(float(t) for t in thresholds)
    t_arr = F.array(*[F.lit(t) for t in ts])
    links = incremental_minhash_dedup(
        held_out, train, text_col=text_col, id_col=id_col, n=n,
        num_hashes=num_hashes, bands=bands, threshold=ts[0], seed=seed,
        deterministic=deterministic, broadcast_existing=True)
    # the link relation feeds TWO aggregation branches (link counts and
    # the distinct-dirty-doc rollup) and the broadcast-probe plan has no
    # exchange to reuse — without lineage truncation the whole corpus
    # scan + signing + verification would run once per branch
    links = links.localCheckpoint(eager=False)
    hits = (links.withColumn("threshold", F.explode(t_arr))
            .where(F.col("jaccard") >= F.col("threshold")))
    link_counts = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_links"))
    dirty = (hits.select("threshold", F.col("new_id").alias(id_col))
             .distinct()
             .join(train.select(id_col, weight_col), id_col)
             .groupBy("threshold")
             .agg(F.count(F.lit(1)).alias("docs_contaminated"),
                  F.sum(weight_col).alias("chars_removed")))
    totals = train.agg(F.count(F.lit(1)).alias("__n_docs"),
                       F.sum(weight_col).alias("__n_chars"))
    base = (train.sparkSession.range(1)
            .select(F.explode(t_arr).alias("threshold")))
    out = (base.join(link_counts, "threshold", "left")
           .join(dirty, "threshold", "left")
           .crossJoin(F.broadcast(totals)))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return out.select(
        "threshold",
        z("n_links").alias("n_links"),
        z("docs_contaminated").alias("docs_contaminated"),
        z("chars_removed").alias("chars_removed"),
        (z("docs_contaminated").cast("double") / F.col("__n_docs"))
        .alias("pct_docs_contaminated"),
        (z("chars_removed").cast("double") / F.col("__n_chars"))
        .alias("pct_chars_removed"),
    ).orderBy("threshold")


# ---------------- cluster assembly: connected components ----------------

def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iterations: int = 25,
                         local_edge_cap: int = 200_000) -> DataFrame:
    """Connected components over a pair list → ``(node, component)`` with
    component = min node id in the component. Non-singleton nodes only
    (callers union in singletons; see ``dedup_clusters``).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round is two
    groupBy-min + join passes over the edge list, converging in
    O(log n) rounds — no driver-side graph state, no collect_set of
    neighbor lists (the high-degree-node killer), so a 100 TB pair list
    shuffles only (node, min) pairs. Lineage is truncated per round with
    localCheckpoint, otherwise the iterated plan grows exponentially.

    large-star: ∀u, connect every neighbor v > u to m = min(N(u) ∪ {u})
    small-star: orient edges u > v; connect N⁻(u) ∪ {u} to min(N⁻(u))
    Fixed point = every node points directly at its component min.

    Round scheduling (r7): checkpoints are LAZY (``eager=False``) so
    the per-round convergence action is the job that materializes them
    — one job per round, not two — and convergence is the DIRECT
    fixed-point test instead of a round-over-round signature compare,
    which needed one full extra confirmation round to observe a stable
    fixed point.  The fixed point is "e is a disjoint union of stars",
    which needs BOTH halves: no node is child and parent (star), and
    no child has two parents (function) — a child with edges to two
    roots passes the star half alone while its two components still
    must merge (property-tested counterexample: edges (0,3) (1,4)
    (2,3) (2,4) contract in one round to {2→0, 2→1, 3→0, 4→1}, star
    but not a function).  Both halves fold into ONE node-keyed
    aggregation job, so the round cost stays one action.  Near-dup
    graphs converge in 1-2 rounds, so the confirmation round WAS the
    floor: dedup_clusters 2.3→1.5 s at sf0.1, unchanged labels.  The groupBy-min + join
    round body is kept over a window-min formulation deliberately:
    partial aggregation plus AQE skew-join splitting keep a hub node's
    edge mass divisible across tasks, where WindowExec would buffer it
    in one.

    Small-graph fast path (r13 opt round 1, guide §1.2 "the
    distributed algorithm" / §5 driver discipline): when the deduped
    edge relation holds at most ``local_edge_cap`` rows of integral
    ids, the components come from a driver-side union-find over ONE
    bounded collect (``limit(cap+1)``: a result of at most ``cap``
    rows IS the edge list, a longer one means run the rounds) instead
    of the alternating rounds — each distributed
    round costs several shuffle stages plus a convergence action,
    pure scheduling floor on a graph that fits in kilobytes.  The
    labels are identical by the same min-member law (union links the
    larger root under the smaller, so every final root is its
    component's min member; pinned against the distributed path by
    test_connected_components_fast_path_matches_distributed).  The
    collect is capped — at the default 200k edges it is a few MB,
    the same bounded-collect class as the vocab/limit sites — and a
    corpus-scale pair graph blows past the cap and runs the rounds
    unchanged, so the fast path is scale-adaptive, not a local tune:
    the acceptance gates' ``gate_slice(max_rows=…)`` inputs stay
    under the cap at ANY corpus size (that is the r12 verdict's
    fixed-size-slice design), while production pair relations at
    100 TB take the distributed path.  ``local_edge_cap=0`` disables
    the fast path (tests use it to pin the rounds).  The labels leave
    the driver through ``session.local_frame``: a JVM-only
    ``LocalRelation`` that every consumer (``dedup_clusters`` reads it
    three times) scans without a Python-RDD round trip, and whose size
    statistics let those joins broadcast it.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=False))
    if local_edge_cap:
        from pyspark.sql import types as T

        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ut, vt = e.schema["u"].dataType, e.schema["v"].dataType
        # ONE bounded action is both the size probe and the collect:
        # limit(cap+1) stops the scan as soon as cap+1 rows exist, so a
        # corpus-scale graph that will blow past the cap pays one
        # cap-bounded collect, not a full edge-relation pass, to learn
        # it must run the rounds (the rounds materialize the lazy
        # checkpoint themselves on the first convergence action)
        rows = (e.limit(int(local_edge_cap) + 1).collect()
                if isinstance(ut, integral) and ut == vt else None)
        if rows is not None and len(rows) <= int(local_edge_cap):
            parent: dict = {}

            def _find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for a, b in rows:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            schema = T.StructType([T.StructField("node", ut),
                                   T.StructField("component", ut)])
            return local_frame(edges.sparkSession,
                               [(n, _find(n)) for n in parent], schema)
    for _ in range(max_iterations):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .distinct())

        o = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        omins = o.groupBy("u").agg(F.min("v").alias("m"))
        e = (o.join(omins, "u")
             .select(F.col("v").alias("n"), F.col("m"))
             .filter(F.col("n") != F.col("m"))
             .union(omins.select(F.col("u").alias("n"), F.col("m")))
             .distinct()
             .select(F.col("n").alias("u"), F.col("m").alias("v"))
             .localCheckpoint(eager=False))

        # fixed point iff e is a disjoint star union: no node is both
        # child and parent AND no child has two parents.  One node-keyed
        # aggregation job — which also materializes the checkpoint.
        viol = (e.select(F.col("u").alias("n"), F.lit(1).alias("c"),
                         F.lit(0).alias("p"))
                .union(e.select(F.col("v").alias("n"), F.lit(0), F.lit(1)))
                .groupBy("n")
                .agg(F.sum("c").alias("nc"), F.max("p").alias("np"))
                .agg(F.coalesce(F.sum(F.when(
                    (F.col("nc") > 1) | ((F.col("nc") > 0) & (F.col("np") > 0)),
                    1).otherwise(0)), F.lit(0)).alias("v"))
                .first()["v"])
        if viol == 0:
            break
    # fixed point: e is a star graph node→component-min; add the roots
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (e.union(roots).distinct()
            .select(F.col("u").alias("node"), F.col("v").alias("component")))


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Near-dup pairs → cluster labels for EVERY document:
    ``(id, cluster_id, cluster_size)``, cluster_id = min doc id in the
    cluster (singletons label themselves, size 1). This is the step that
    turns pair output (minhash/simhash/jaccard tiers) into an actionable
    keep-one-per-cluster decision; the keep set is
    ``cluster_id == id``.

    The labels are read three times: the size aggregate, the inner
    join and the singleton anti-join.  On the small-graph fast path of
    :func:`connected_components` they are a ``LocalRelation``, so each
    read is a JVM-local scan (no Python-RDD job) and the two joins can
    broadcast it."""
    labels = connected_components(pairs, src, dst)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    labeled = (labels.join(sizes, "component")
               .select(F.col("node").alias(id_col),
                       F.col("component").alias("cluster_id"),
                       "cluster_size"))
    singles = (df.select(id_col)
               .join(labels.select(F.col("node").alias(id_col)), id_col, "left_anti")
               .select(F.col(id_col),
                       F.col(id_col).alias("cluster_id"),
                       F.lit(1).cast("long").alias("cluster_size")))
    return labeled.union(singles)


def cluster_labels(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """``dedup_clusters`` without the cluster-size machinery:
    ``(id, cluster_id)`` for every document of ``df``, cluster_id = min
    member id (singletons label themselves).  For consumers that only
    need the LABEL MAP (split assignment, star edges for incremental
    merges) the size aggregation + join-back that ``dedup_clusters``
    pays is dead weight Catalyst cannot prune (the inner join is not
    provably cardinality-preserving), so this variant skips it — one
    left join + coalesce instead of a groupBy, an inner join and an
    anti-join (r13 opt, guide §1.2 "don't compute things you throw
    away").  Precondition: every pair endpoint appears in ``df``
    (the labels are df-keyed; a pair id outside ``df`` would be
    dropped where ``dedup_clusters`` emits it).  Values are otherwise
    identical to ``dedup_clusters``'s (id, cluster_id) projection."""
    comps = (connected_components(pairs, src, dst)
             .withColumnRenamed("node", id_col))
    return (df.select(id_col)
            .join(comps, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("cluster_id")))


# ---------------- tier 4: simhash ----------------

def _signed_mask(bit: int) -> int:
    """1<<bit as a signed 64-bit value (bit 63 → long min, two's complement)."""
    v = 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash64(col: Column, n: int = 2) -> Column:
    """64-bit SimHash over word n-grams: per bit, sum of ±1 votes from each
    shingle's xxhash64; bit set iff vote > 0.

    ONE pass over the shingle array with a 64-wide vote accumulator
    (``aggregate`` + ``zip_with``) — the naive 64-independent-aggregates
    formulation re-traverses the array per bit and is ~50× slower."""
    hashes = F.transform(word_shingles(col, n), lambda s: F.xxhash64(s))
    return _simhash_fold(hashes, [_signed_mask(b) for b in range(64)])


def _simhash_fold(hashes: Column, masks: list[int]) -> Column:
    """The SimHash vote fold shared by both tiers: per mask bit, the sum
    of ±1 votes over ``hashes``; the result ORs the masks whose vote is
    positive."""
    m_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    zero = F.array_repeat(F.lit(0), len(masks))
    votes = F.aggregate(
        hashes, zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(m_arr, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, v: a + v))
    bits = F.zip_with(votes, m_arr,
                      lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


SIMHASH_BANDS = 4  # 4 × 16-bit bands: pigeonhole covers hamming ≤ 3


def simhash_band_structs(sim_col: str = "simhash") -> list[Column]:
    """The 4×16-bit band key structs shared by the batch band join and
    the streaming band-bucket state — both tiers MUST compute identical
    keys (the streaming test asserts batch parity), so the expression
    lives once."""
    return [
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned(sim_col, 16 * i)
                 .bitwiseAND(F.lit(0xFFFF)).alias("bits"))
        for i in range(SIMHASH_BANDS)
    ]


def check_simhash_hamming_bound(max_hamming: int) -> None:
    """Pigeonhole over 4 bands only guarantees a shared band for pairs
    within 3 bits; a larger ``max_hamming`` would silently produce false
    negatives, so it is a hard error rather than a footgun."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {SIMHASH_BANDS}-band "
            f"pigeonhole guarantee (≤ {SIMHASH_BANDS - 1}); raise the band "
            "count before raising the distance bound")


def simhash_near_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3, n: int = 2) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming. Pigeonhole band join:
    with 4 16-bit bands, any pair within 3 bits agrees on ≥1 whole band —
    join on (band, band-bits), verify the full distance.

    The (id, simhash) relation is repartitioned for CPU parallelism and
    persisted so the self-join doesn't evaluate the 64-bit vote fold
    twice."""
    check_simhash_hamming_bound(max_hamming)
    return _simhash_band_join(df, simhash64(F.col(text_col), n),
                              simhash_band_structs(), id_col, max_hamming)


def _simhash_band_join(df: DataFrame, sketch: Column,
                       band_structs: list[Column], id_col: str,
                       max_hamming: int) -> DataFrame:
    """Band-join/verify scaffold shared by the xxhash64 and deterministic
    simhash tiers — one definition so a candidate-join fix (skew
    handling, persist policy) applies to both. The (id, sketch) relation
    is repartitioned for CPU parallelism and persisted so the self-join
    doesn't evaluate the vote fold twice."""
    spark = df.sparkSession
    sh = cache_pinned(
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col), sketch.alias("simhash")))
    banded = sh.select(id_col, "simhash",
                       F.explode(F.array(*band_structs)).alias("bb")) \
               .select(id_col, "simhash", "bb.band", "bb.bits")
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
                      "band", "bits")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
                      "band", "bits")
    return (a.join(b, ["band", "bits"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    hamming64(F.col("sim_a"), F.col("sim_b")).alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


# ---------------- tier 1c: incremental (batch vs standing corpus) ----------------

def incremental_exact_dedup(existing: DataFrame, new: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Dedup an INCOMING batch against a standing corpus — the shape every
    crawl pipeline runs per increment (the standing side is an index of
    content hashes, not documents; re-shuffling the historical corpus per
    batch would be the scale killer). A new doc is dropped when its
    normalized content hash matches the corpus index (``dup_of_corpus``)
    or an earlier doc in the same batch (``dup_in_batch``, min-id wins);
    otherwise ``unique``. Extends the reference's whole-upload duplicate
    check (file_handling/upload.py:47-92) to incremental ingestion.

    Returns one row per NEW doc: (id, keep, reason).

    Scale shape: the corpus side reduces to DISTINCT 32-char hashes (the
    index a real deployment persists between increments); the batch side
    shuffles once on the hash for the within-batch min and once for the
    left join against the index — document bodies never shuffle.
    """
    # NULL text ≡ empty text (the corpus-wide convention) — also keeps
    # the hash join total: NULL keys would silently drop batch rows
    idx = (existing.select(
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("__h"))
        .distinct())
    hashed = new.select(
        F.col(id_col),
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("__h"))
    batch_min = hashed.groupBy("__h").agg(F.min(id_col).alias("__min_id"))
    joined = (hashed
              .join(batch_min, "__h")
              .join(idx.withColumn("__in_corpus", F.lit(True)), "__h", "left"))
    reason = (F.when(F.col("__in_corpus"), F.lit("dup_of_corpus"))
              .when(F.col(id_col) != F.col("__min_id"), F.lit("dup_in_batch"))
              .otherwise(F.lit("unique")))
    return joined.select(F.col(id_col), (reason == "unique").alias("keep"),
                         reason.alias("reason"))


# ---------------- bloom-filter decontamination (map-side scale tier) ----------------

def _bloom_bit(seed: int, key: Column, m_bits: int,
               deterministic: bool) -> Column:
    """Seeded bit position for one Bloom hash: ``xxhash64`` (fast,
    engine-specific) or the md5-hex15 construction the det-SQL tier
    replays cross-engine (seed folds in as a ``"seed:"`` prefix so each
    of the k hashes is independent)."""
    if deterministic:
        h = F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(str(int(seed))), key)),
            1, 15), 16, 10).cast("long")
        return F.pmod(h, F.lit(int(m_bits)))
    return F.pmod(F.xxhash64(F.lit(int(seed)), key), F.lit(int(m_bits)))


def bloom_build(keys: DataFrame, key_col: str, m_bits: int = 1 << 20,
                k_hashes: int = 5, deterministic: bool = False) -> list[int]:
    """Build a Bloom filter over a key relation with pure DataFrame
    aggregation: each key sets ``k_hashes`` bits chosen by seeded
    ``xxhash64`` (or the md5-derived det tier — ``deterministic=True`` —
    whose bit positions replay in plain SQL for the oracle twin); bit
    positions fold to 64-bit words with ``bit_or`` in a
    single groupBy on the word index (≤ m/64 groups), and the finished
    bitmap — m/64 longs, driver-bounded by the CHOSEN m, not the key
    count — returns as a plain list ready to fold into probe plans as a
    literal. (Spark's own bloom_filter_agg is internal-only; this is the
    same construction from registry functions.)"""
    words = (int(m_bits) + 63) // 64
    bit_exprs = [
        _bloom_bit(i, F.col(key_col), m_bits, deterministic)
        for i in range(int(k_hashes))
    ]
    inst = keys.select(F.explode(F.array(*bit_exprs)).alias("__bit"))
    rows = (inst.select((F.col("__bit") / 64).cast("long").alias("__w"),
                        F.expr("shiftleft(1L, CAST(__bit % 64 AS INT))")
                        .alias("__m"))
            .groupBy("__w").agg(F.bit_or("__m").alias("__mask"))
            .collect())
    bitmap = [0] * words
    for r in rows:
        bitmap[int(r["__w"])] = int(r["__mask"])
    return bitmap


def long_array_lit(values: list[int]) -> Column:
    """``array<bigint>`` literal through the SQL parser — same rationale
    as ``similarity.nested_double_lit``: ``F.lit`` crosses py4j per
    element (~ms each; a 16k-word bitmap would cost ~16 s per plan), the
    parsed array constant-folds to one Literal in ~ms."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def bloom_might_contain(key: Column, bitmap: list[int], m_bits: int,
                        k_hashes: int = 5,
                        deterministic: bool = False) -> Column:
    """Membership probe against a ``bloom_build`` bitmap: true iff all k
    seeded bit positions are set (``deterministic`` must match the
    build). Map-side only — the bitmap rides the
    plan as one array<long> literal; no join, no shuffle. False positives
    at the standard (1 − e^{−kn/m})^k rate; never false negatives."""
    bm = long_array_lit(bitmap)
    out = None
    for i in range(int(k_hashes)):
        bit = _bloom_bit(i, key, m_bits, deterministic)
        word = F.element_at(bm, (bit / 64).cast("int") + 1)
        c = F.bit_get(word, F.pmod(bit, F.lit(64)).cast("int")) == 1
        out = c if out is None else (out & c)
    return out


def bloom_decontaminate(train: DataFrame, held_out: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, m_bits: int = 1 << 20,
                        k_hashes: int = 5,
                        deterministic: bool = False) -> DataFrame:
    """Map-side benchmark decontamination — the 100 TB fast path beside
    the exact shingle join (``cross_corpus_overlap``): held-out n-grams
    build a Bloom filter ONCE (size fixed by m, not by corpus), then
    every training doc is flagged from its own shingle array with a
    higher-order filter against the bitmap literal — the corpus is
    touched in a single zero-shuffle projection; no shingle explode, no
    join. Returns (id, n_shingles, n_flagged, contaminated) per train
    doc. Never false-negative: every truly leaked doc is flagged; false
    positives at the Bloom rate route to the exact tier for
    confirmation."""
    ev = (held_out.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle")))
    # no distinct(): bloom bit-setting is idempotent — skipping the
    # dedup shuffle is the point
    bitmap = bloom_build(ev, "shingle", m_bits=m_bits, k_hashes=k_hashes,
                         deterministic=deterministic)
    # stage 1 materializes the shingle array ONCE per row (higher-order
    # lambdas are interpreted — no CSE across the two consumers);
    # repartition spreads a single-file source across cores, the probe
    # itself is embarrassingly parallel
    # NULL text ≡ empty text (corpus-wide convention — incremental_exact_
    # dedup above): without the coalesce, size(NULL array) propagates
    # NULL into `contaminated` and NULL-text docs vanish from boolean
    # filters on either polarity
    staged = (spread_narrow(train)
              .select(F.col(id_col),
                      word_shingles(
                          F.coalesce(F.col(text_col), F.lit("")), n)
                      .alias("__sh")))
    flagged = F.filter(
        F.col("__sh"),
        lambda s: bloom_might_contain(s, bitmap, m_bits, k_hashes,
                                      deterministic=deterministic))
    return (staged
            .select(F.col(id_col),
                    F.size("__sh").cast("long").alias("n_shingles"),
                    F.size(flagged).cast("long").alias("n_flagged"))
            .withColumn("contaminated", F.col("n_flagged") > 0))


# ---------------- tier 4b: deterministic (oracle-checkable) simhash ----------------

def simhash60_det(col: Column, n: int = 2) -> Column:
    """60-bit SimHash with an md5-derived per-shingle hash (first 15 hex
    chars as a 60-bit integer) — every bit reproducible in plain SQL, so
    the near-dup pipeline built on it oracle-checks end to end (the
    xxhash64 ``simhash64`` stays the fast 64-bit tier). Same one-pass
    60-wide vote fold; all masks positive (no signed-bit two's-complement
    special case)."""
    hashes = F.transform(
        word_shingles(col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    return _simhash_fold(hashes, [1 << b for b in range(60)])


def simhash_near_dups_det(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", max_hamming: int = 3,
                          n: int = 2) -> DataFrame:
    """Deterministic-tier near-dup pairs: Hamming(simhash60) ≤
    ``max_hamming`` via the 4×15-bit pigeonhole band join — bit-for-bit
    reproducible in SQL (generated DuckDB oracle), unlike the xxhash64
    tier. Same shuffle shape: band keys only."""
    check_simhash_hamming_bound(max_hamming)
    det_bands = [
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("simhash", 15 * i)
                 .bitwiseAND(F.lit(0x7FFF)).alias("bits"))
        for i in range(4)
    ]
    return _simhash_band_join(df, simhash60_det(F.col(text_col), n),
                              det_bands, id_col, max_hamming)


def source_overlap(df: DataFrame, source_col: str = "source",
                   text_col: str = "text", granularity: str = "shingle",
                   n: int = 5, min_shared: int = 1) -> DataFrame:
    """Cross-source duplication matrix — the dedup-planning diagnostic
    (which sources copy from each other, and how much?): for every
    source pair, the number of distinct content keys they share and
    the Jaccard overlap of their key sets. ``granularity`` picks the
    key: ``"document"`` (whole normalized doc — exact copies),
    ``"line"`` (shared boilerplate lines), or ``"shingle"`` (default —
    ``n``-token windows, the RealNews/C4-style cross-source phrase
    leak check).

    One pass reduces the corpus to distinct (source, key-hash) rows;
    the pair join shuffles only hashes (never text), and per-source
    totals ride a broadcast dimension-sized relation. Returns
    (source_a, source_b, n_shared, n_a, n_b, jaccard) with
    source_a < source_b.
    """
    from basic_data_fusion_spark.operators.text import fingerprint, tokens

    # every granularity runs a CPU-bound hash pass (doc fingerprint,
    # per-line md5, or per-window md5) in the scan stage; spread a
    # narrow single-file source so it parallelizes (r13 opt: shingle
    # tier ran 1.6 s exec with the hashing pinned to the scan task)
    df = spread_narrow(df)
    src = F.col(source_col).alias("__src")
    if granularity == "document":
        keyed = df.select(src, fingerprint(F.col(text_col)).alias("__h"))
    elif granularity == "line":
        line = F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                                 "\n")).alias("__line")
        keyed = (df.select(src, line)
                 .where(F.trim("__line") != "")
                 .select("__src", F.md5(F.trim("__line")).alias("__h")))
    elif granularity == "shingle":
        toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                        lambda x: x != "")
        # tokens bound once; a doc with fewer than n tokens yields NULL,
        # which the explode drops (a ``size >= n`` filter would be pushed
        # below the projection and tokenize every document twice)
        sh = let(toks, lambda t: F.when(F.size(t) >= n, F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, F.lit(n)))))))
        keyed = df.select(src, F.explode(sh).alias("__h"))
    else:
        raise ValueError(f"unknown granularity {granularity!r}")
    hashes = keyed.distinct()
    totals = hashes.groupBy("__src").agg(F.count(F.lit(1)).alias("__n"))
    a = hashes.select(F.col("__src").alias("source_a"), "__h")
    b = hashes.select(F.col("__src").alias("source_b"), "__h")
    shared = (a.join(b, "__h")
              .where(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
              .where(F.col("n_shared") >= min_shared))
    ta = totals.select(F.col("__src").alias("source_a"),
                       F.col("__n").alias("n_a"))
    tb = totals.select(F.col("__src").alias("source_b"),
                       F.col("__n").alias("n_b"))
    out = (shared.join(F.broadcast(ta), "source_a")
           .join(F.broadcast(tb), "source_b"))
    return out.select(
        "source_a", "source_b", "n_shared",
        F.col("n_a").cast("long"), F.col("n_b").cast("long"),
        (F.col("n_shared").cast("double")
         / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"))
        .alias("jaccard"))


# ---------------- cluster representative selection ----------------

def incremental_clusters(labels: DataFrame, new_pairs: DataFrame,
                         new_ids: DataFrame, id_col: str = "doc_id",
                         cluster_col: str = "cluster_id",
                         src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Near-dup cluster MAINTENANCE: merge a new batch into an existing
    labeling without re-pairing the old corpus.  ``labels`` is the
    standing (id, cluster_id) map (cluster_id = min member id, the
    ``dedup_clusters`` contract); ``new_pairs`` is the batch's pair
    output — every near-dup pair touching a new document, e.g. from
    ``incremental_minhash_dedup``'s candidate tier (new↔corpus AND
    new↔new); ``new_ids`` is the batch id relation (for singletons).

    The standing labels ARE the old graph, contracted: each non-trivial
    label is a star edge (id → cluster_id) preserving exactly the old
    connectivity, so components of (star ∪ new_pairs) equal components
    of (old_pairs ∪ new_pairs) — the full recompute — and the CC labels
    (min member id) coincide (the old cluster min IS the min of its
    members).  Equivalence is pinned by
    ``test_incremental_clusters_equals_recompute``.

    Scale shape: the expensive step of a dedup refresh is PAIR
    GENERATION over the corpus; this never re-pairs old↔old.  CC runs
    over |non-singleton old docs| star edges + |batch pairs|, and star
    graphs converge in 1-2 alternating rounds.  Returns
    (id, cluster_id, cluster_size) over old ∪ new documents —
    the same contract as ``dedup_clusters``."""
    star = (labels.filter(F.col(id_col) != F.col(cluster_col))
            .select(F.col(id_col).alias(src),
                    F.col(cluster_col).alias(dst)))
    edges = star.unionByName(
        new_pairs.select(F.col(src), F.col(dst)))
    all_ids = (labels.select(id_col)
               .unionByName(new_ids.select(id_col)).distinct())
    return dedup_clusters(all_ids, edges, id_col=id_col, src=src, dst=dst)


def keep_best_per_cluster(df: DataFrame, pairs: DataFrame,
                          scored: DataFrame, id_col: str = "doc_id",
                          score_col: str = "quality_score") -> DataFrame:
    """Quality-aware representative selection — the production form of
    keep-one-per-cluster: near-dup pairs collapse to connected-component
    clusters and each cluster keeps its HIGHEST-QUALITY member (min id
    on ties) instead of the arbitrary min-id doc.  This is the
    FineWeb/RefinedWeb-style dedup decision where the retained copy
    should be the cleanest rendering of the page, not whichever crawled
    first.

    ``scored`` supplies (id, score); singletons keep themselves.  One
    cluster-keyed window ranks members — cluster sizes are bounded by
    the upstream pair threshold, so the window partition never holds
    more than a duplicate clique.  A document MISSING from ``scored``
    is kept in the output with a NULL score and ranks LAST in its
    cluster (min-id tie-break) — an inner join here would silently drop
    the doc from the report AND could shift which member a cluster
    keeps, turning an upstream scoring gap into a wrong dedup decision.
    Returns (id, cluster_id, cluster_size, score, keep).

    Scale shape (r13 restructure, r12 verdict #4): only PAIR MEMBERS
    ride the CC labeling and the cluster-keyed ranking window —
    singletons (the vast majority of a real corpus; every doc the pair
    tier never touched) take a map-side branch (anti-join on the
    member-id relation, keep=True, cluster_id=self) and never shuffle
    on cluster_id.  The previous form pushed the WHOLE corpus through
    the window sort to rank mostly singleton partitions of size 1;
    now window input is pair-mass-sized, which is what the sf10
    finishing stage was paying for.  Results are identical: a
    singleton's window rank was always 1.
    """
    from pyspark.sql import Window

    # non-singleton labels come from the pair graph alone
    # (dedup_clusters's `labeled` relation, inlined so the singleton
    # branch can skip the window entirely)
    labels = connected_components(pairs, "id_a", "id_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    labeled = (labels.join(sizes, "component")
               .select(F.col("node").alias(id_col),
                       F.col("component").alias("cluster_id"),
                       "cluster_size"))
    joined = labeled.join(scored.select(F.col(id_col),
                                        F.col(score_col)), id_col, "left")
    # NULL score → -inf rank key: unscored members lose to any scored one
    rank_score = F.coalesce(F.col(score_col),
                            F.lit(float("-inf")).cast("double"))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.desc(rank_score), F.asc(id_col)))
    ranked = (joined.withColumn("keep", F.row_number().over(w) == 1)
              .select(id_col, "cluster_id", "cluster_size", score_col,
                      "keep"))
    singles = (df.select(id_col)
               .join(labels.select(F.col("node").alias(id_col)),
                     id_col, "left_anti")
               .join(scored.select(F.col(id_col), F.col(score_col)),
                     id_col, "left")
               .select(F.col(id_col),
                       F.col(id_col).alias("cluster_id"),
                       F.lit(1).cast("long").alias("cluster_size"),
                       F.col(score_col),
                       F.lit(True).alias("keep")))
    return ranked.unionByName(singles)


# ---------------- corpus snapshot diff ----------------

def corpus_diff(old: DataFrame, new: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the data-versioning primitive
    (what changed between crawl N and crawl N+1?): per id, status is
    ``added`` (only in new), ``removed`` (only in old), ``changed``
    (both, content hash differs) or ``unchanged``.  Both sides reduce to
    (id, md5) before the single full-outer hash join, so document
    bodies never shuffle — the diff of two 100 TB snapshots moves two
    id+hash relations.

    Returns (id, status, old_hash, new_hash).
    """
    o = old.select(
        F.col(id_col).alias("__id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("old_hash"))
    n = new.select(
        F.col(id_col).alias("__id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("new_hash"))
    status = (F.when(F.col("old_hash").isNull(), F.lit("added"))
              .when(F.col("new_hash").isNull(), F.lit("removed"))
              .when(F.col("old_hash") != F.col("new_hash"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return (o.join(n, "__id", "full_outer")
            .select(F.col("__id").alias(id_col), status.alias("status"),
                    "old_hash", "new_hash"))


def url_host(col: Column) -> Column:
    """Registrable host of a URL (lowercased, ``www.``/default-port
    stripped) — the grouping key for per-domain corpus reports; same
    normalization steps as :func:`canonical_url`."""
    u = F.regexp_replace(F.trim(col), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    return (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
            .otherwise(host))


def domain_report(urls: DataFrame, scored: DataFrame,
                  url_col: str = "url", id_col: str = "doc_id",
                  score_col: str = "quality_score",
                  keep_col: str = "keep") -> DataFrame:
    """Per-domain corpus health report — the crawl-curation table
    RefinedWeb/FineWeb-style pipelines keep per registrable domain: page
    count, distinct canonical URLs (→ URL-dup ratio), fixed-point mean
    quality and keep rate.  One hash aggregation on the host key; the
    quality relation joins on id before grouping, so page bodies never
    shuffle.  Returns (host, n_docs, n_pages, url_dup_ratio,
    mean_quality, keep_rate).
    """
    from ..functions.scalars import half_up_long
    base = (urls.select(F.col(id_col),
                        url_host(F.col(url_col)).alias("host"),
                        canonical_url(F.col(url_col)).alias("__cu"))
            .join(scored.select(F.col(id_col), F.col(score_col),
                                F.col(keep_col)), id_col))
    agg = base.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("__cu").cast("long").alias("n_pages"),
        F.sum(half_up_long(F.col(score_col) * F.lit(1e6)))
        .alias("__qs"),
        F.sum(F.col(keep_col).cast("int")).cast("long").alias("__nk"))
    return agg.select(
        "host", "n_docs", "n_pages",
        (F.lit(1.0) - F.col("n_pages").cast("double")
         / F.col("n_docs").cast("double")).alias("url_dup_ratio"),
        (F.col("__qs").cast("double") / F.lit(1e6)
         / F.col("n_docs").cast("double")).alias("mean_quality"),
        (F.col("__nk").cast("double") / F.col("n_docs").cast("double"))
        .alias("keep_rate"))


# ---------------- tier 2b: prefix-filtering similarity join ----------------

def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                threshold: float = 0.8) -> DataFrame:
    """EXACT similarity join via prefix filtering (AllPairs/PPJoin —
    Bayardo et al. WWW'07, Xiao et al. WWW'08): all pairs with shingle
    Jaccard ≥ ``threshold``, without LSH's probabilistic recall and
    without the all-pairs blowup. Complements the MinHash tier: same
    output contract as ``ngram_jaccard_pairs``, different scaling lever.

    The filter: order every document's shingles by GLOBAL rarity
    (ascending document frequency, shingle string as tie-break) and keep
    only the first ``|S| − ⌈t·|S|⌉ + 1`` as its PREFIX. Two sets with
    Jaccard ≥ t overlap in ≥ ⌈t·|S|⌉ elements, so they MUST share at
    least one prefix element — candidates are pairs sharing a prefix
    shingle, then exact-Jaccard verified. Complete by construction
    (every qualifying pair is generated — asserted against the
    exhaustive tier in tests), and the candidate join joins on the
    RAREST shingles, so hot boilerplate shingles never become join keys
    — the skew profile the df-capped exhaustive tier needs a cap for,
    PPJoin gets for free.

    Scale shape: one count-only groupBy(shingle) for the df table
    (aggregation state is a single long per shingle — bounded at ANY
    skew); the df join re-emits (doc, shingle, df) triples as a
    STREAMED per-key fan-out; the prefix explode carries
    ~(1−t)·|S|+1 rows per doc; the candidate join keys on low-df
    shingles only; verification re-joins candidate ids to the two
    shingle-set relations. Shuffle keys are shingle hashes and id
    pairs — never text. Everything is integer/md5-deterministic, so the
    pair set value-hashes cross-engine.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    t = float(threshold)
    # the shingle arrays feed the df count AND the df join — persist so
    # the tokenize/slice/concat pipeline evaluates once (lifecycle:
    # caching.cache_pinned; deterministic, so eviction is always safe)
    base = cache_pinned(
        spread_narrow(df)
        .select(F.col(id_col),
                word_shingles(F.col(text_col), n).alias("__sh")))
    inst = base.select(id_col, F.explode("__sh").alias("shingle"))
    # df annotation via count-aggregate + join (round-6 rework): the
    # previous single-shuffle fold collected each shingle's FULL doc-id
    # posting list into one aggregation row before re-exploding it — a
    # boilerplate shingle present in ~every document put the whole
    # corpus's ids in one task (the collect_list-on-a-skewed-key OOM;
    # the one 100 TB scale-killer the r5 audit found).  The count
    # aggregation's state is one long per shingle regardless of skew,
    # and the join fans a hot key out across streamed rows instead of
    # one materialized array.  A df-capped hybrid (fold cold shingles,
    # join only hot ones) was considered and rejected: finding hot
    # shingles requires exactly this count pass, after which one join
    # annotates hot and cold instances alike — a third cold-path
    # aggregation would only add a shuffle.  Net cost vs the fold: one
    # extra (doc, shingle) shuffle (~20% locally, planted-skew test in
    # test_pipeline_ops); bounded memory at any skew is the price's
    # justification.
    dfreq = inst.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    triples = inst.join(dfreq, "shingle")
    # per-doc rarity order via ONE doc-keyed aggregation: collect the
    # (df, shingle) structs, array_sort (struct order = (df ASC,
    # shingle ASC) — the global rarity total order), slice the prefix.
    # Prefix keeps the first s − ⌈t·s⌉ + 1 elements;
    # round(t*s, 9) before CEIL: IEEE t*s can land a hair above the
    # exact integer (0.8*5 = 4.0000000000000004), and an unrounded CEIL
    # would shrink the prefix below the completeness bound.
    # per_doc's sorted array ALSO carries each doc's full shingle set,
    # so the prefix cut AND both verification sides read the persisted
    # doc-count-sized relation — nothing upstream re-evaluates.
    per_doc = cache_pinned(
        triples
        .groupBy(id_col)
        .agg(F.array_sort(
            F.collect_list(F.struct("__df", "shingle")))
            .alias("__ranked")))
    s_sz = F.size("__ranked")
    plen = (s_sz - F.ceil(F.round(F.lit(t) * s_sz, 9)) + 1).cast("int")
    prefix = (per_doc
              .select(id_col,
                      F.explode(F.slice(F.col("__ranked"), F.lit(1), plen))
                      .alias("__ps"))
              .select(id_col, F.col("__ps.shingle").alias("shingle")))
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    cands = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    sets = per_doc.select(
        id_col,
        F.transform("__ranked", lambda x: x["shingle"]).alias("__set"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
    common = F.size(F.array_intersect("__sa", "__sb"))
    return (cands.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        common.cast("double")
                        / (F.size("__sa") + F.size("__sb") - common))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))


# ---------------- acceptance gates: recall report + leakage-safe split ----------------

def gate_slice(df: DataFrame, frac: float, id_col: str = "doc_id",
               seed: str = "gate_slice",
               max_rows: int | None = None) -> DataFrame:
    """Deterministic md5 corpus slice for the expensive acceptance
    gates: keep rows whose ``hash_uniform(id)`` draw falls below
    ``frac``.  The gates (``dedup_recall_report``,
    ``leakage_safe_split``'s hygiene check) compose FULL dedup
    pipelines by definition — exhaustive pair truth sets, CC labelings
    — so at production scale they price a bounded sample by default and
    the full corpus is the opt-in (``frac=1.0`` short-circuits to the
    input unchanged).

    Pair-tier cost falls ~1/frac² (both endpoints must survive the
    slice — pair density is quadratic in documents), and the slice is
    engine/partitioning-invariant (md5 on the id, no RNG), so a DuckDB
    oracle replays the same predicate and the sliced gate still
    value-hashes.  Plan shape: one map-side filter, no shuffle.

    A FRACTION alone keeps the gate quadratic in corpus size — the r12
    sf-decade sweep DNF'd ``dedup_recall_report`` at sf10 for exactly
    this (0.3 of 500k docs is a 150k-doc exhaustive truth set).
    ``max_rows`` caps the slice at a FIXED size: the ``max_rows``
    smallest ``hash_uniform`` draws (ties broken on id), still
    deterministic and SQL-replayable (``ORDER BY draw, id LIMIT n``),
    so a gate priced at ``max_rows=5000`` costs the same at sf0.1 and
    at 100 TB.  The cap adds one total-order top-n on the (draw, id)
    projection — rank-shuffle of id pairs only, never bodies; the
    driver-sf contracts pass no cap so their hashes are unchanged."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"gate_slice frac must be in (0, 1], got {frac}")
    from .selection import hash_uniform

    out = df
    if frac < 1.0:
        out = df.filter(hash_uniform(F.col(id_col), seed)
                        < F.lit(float(frac)))
    if max_rows is not None:
        keep = (out.select(F.col(id_col),
                           hash_uniform(F.col(id_col), seed).alias("__u"))
                .orderBy(F.asc("__u"), F.asc(id_col))
                .limit(int(max_rows))
                .select(id_col))
        out = out.join(F.broadcast(keep), id_col, "left_semi")
    return out

def dedup_recall_report(truth_pairs: DataFrame,
                        arms: dict[str, DataFrame]) -> DataFrame:
    """Recall/precision acceptance gate for approximate near-dup tiers,
    computed in-engine — the dedup analogue of ``similarity.ann_recall``
    (is the LSH/banded tier still finding the pairs the exhaustive tier
    would?).  ``truth_pairs`` is the exhaustive (id_a, id_b) pair set;
    each arm scores against it and the report emits one row per arm.

    The truth set is pair-count-sized, so it rides every arm's plan as
    a broadcast build side; counts are exact integers and the
    recall/precision divisions integer-derived, so the report
    value-hashes cross-engine when the arms are deterministic tiers.
    Returns (arm, n_truth, n_found, n_hits, recall, precision).
    """
    if not arms:
        raise ValueError("dedup_recall_report needs at least one arm")
    # the truth relation feeds |arms| broadcast joins PLUS the n_truth
    # count — without a pin the whole exhaustive-pair pipeline re-runs
    # per consumer (cache_pinned inside the jaccard tier covers its
    # shingle relations, but the candidate join + verification re-ran
    # 3x for a two-arm report; r13 opt, guide §2 "do the work once").
    # Pair-count-sized (the gate slices bound it), registry-released.
    t = cache_pinned(truth_pairs.select("id_a", "id_b").distinct()
                     .withColumn("__t", F.lit(1)))
    tn = t.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    per = None
    for name in sorted(arms):
        a = arms[name].select("id_a", "id_b").distinct()
        row = (a.join(F.broadcast(t), ["id_a", "id_b"], "left")
               .agg(F.count(F.lit(1)).cast("long").alias("n_found"),
                    F.count("__t").cast("long").alias("n_hits"))
               .withColumn("arm", F.lit(name)))
        per = row if per is None else per.unionByName(row)
    # Both divisions can see a zero denominator: an empty truth set
    # (n_truth=0) and an EMPTY ARM — the per-arm row is a global agg,
    # so an arm that found no pairs still emits a row with n_found=0.
    # try_divide → NULL on zero, never an ANSI divide-by-zero crash
    # (and evaluates each operand once; see spark-guarded-division).
    return (per.crossJoin(F.broadcast(tn))
            .select("arm", "n_truth", "n_found", "n_hits",
                    F.try_divide(F.col("n_hits").cast("double"),
                                 F.col("n_truth").cast("double"))
                    .alias("recall"),
                    F.try_divide(F.col("n_hits").cast("double"),
                                 F.col("n_found").cast("double"))
                    .alias("precision")))


def leakage_safe_split(df: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id",
                       train_frac: float = 0.8, val_frac: float = 0.1,
                       seed: str = "split") -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates across
    splits: documents are routed by a deterministic uniform draw on
    their near-dup CLUSTER id (connected components of the pair graph),
    so every member of a duplicate clique lands in the same split.  The
    standard eval-hygiene requirement a naive per-document split
    violates — a test document whose near-copy sits in train is a
    leaked answer, and at pretraining scale near-dup rates make that
    the rule, not the exception.

    The draw is ``selection.hash_uniform`` (md5-derived, engine- and
    partitioning-invariant), so split membership reproduces everywhere;
    split sizes are proportional in expectation at CLUSTER granularity.
    Scale shape: one CC labeling (the dedup_clusters machinery) plus a
    per-row hash — no extra shuffle beyond the cluster join.
    Returns (id, cluster_id, split).
    """
    from .selection import hash_uniform

    # cluster_labels, not dedup_clusters: the split needs only the label
    # map, and the size aggregation + join would be computed and thrown
    # away (pair endpoints ⊆ df holds — pairs come from the same corpus)
    clusters = cluster_labels(df, pairs, id_col=id_col)
    u = hash_uniform(F.col("cluster_id"), seed)
    split = (F.when(u < F.lit(float(train_frac)), F.lit("train"))
             .when(u < F.lit(float(train_frac) + float(val_frac)),
                   F.lit("val"))
             .otherwise(F.lit("test")))
    return clusters.select(F.col(id_col), "cluster_id",
                           split.alias("split"))


def dedup_impact_sweep(docs: DataFrame, pairs: DataFrame,
                       thresholds: list[float], id_col: str = "doc_id",
                       weight_col: str = "n_chars") -> DataFrame:
    """Dedup planning report: for each candidate similarity threshold,
    how much of the corpus would greedy keep-smallest-id removal delete.

    ``pairs`` is any (id_a, id_b, jaccard) relation with id_a < id_b
    already cut at min(thresholds) — at production scale the
    prefix-filter or LSH candidate tiers; the exhaustive n-gram tier in
    the oracle-checked contract row.  The removal rule is pairwise and
    deterministic: a document is removed at threshold t iff it has a
    smaller-id partner with jaccard ≥ t (no transitive closure — the
    planning estimate deliberately prices each threshold from the SAME
    pair relation so the sweep is one scan of the pairs, not one dedup
    run per threshold).

    Scale shape: ONE scan of the pairs (each pair classified into its
    highest-threshold band — no |pairs| × |thresholds| explode), two
    hash aggregations on band keys, one join back to the (id, weight)
    projection of the corpus — bodies never shuffle — and every
    per-threshold figure read as a suffix sum over the ≤|thresholds|
    band rows (broadcast).  Percentages are integer-derived divisions,
    so the report is bit-deterministic.
    Reference analogue: none (planning extension).
    """
    ts = sorted(float(t) for t in thresholds)
    t_arr = F.array(*[F.lit(t) for t in ts])
    # band(j) = #{i : j >= ts[i]} — the SAME literal comparisons the
    # old |pairs|×|ts| explode made, evaluated once per PAIR: a pair
    # passes ts[i] iff band >= i+1, so every per-threshold count is a
    # suffix sum over the ≤|ts| band groups, and a doc's removal band
    # is max(band) = band(max jaccard) (band is monotone in jaccard).
    # This drops the threshold explode, the (threshold, id) distinct
    # shuffle, and the per-threshold doc join (r13 opt, guide §2.3
    # "shuffle fewer bytes"): the pair relation is scanned once, docs
    # join once, the sweep arms become suffix sums over tiny broadcast
    # relations.  Counts and char sums are the same exact integers
    # (weight_col must be integral for bit-determinism — already the
    # operator's implicit contract), summed band-first.
    band = F.size(F.filter(t_arr, lambda t: F.col("jaccard") >= t))
    # pair-count-bounded (id, band) pairs feed BOTH sweep arms — pin so
    # the upstream pair tier (at production scale the PPJoin/LSH
    # candidate join + verification) runs once, not once per arm (the
    # dedup_recall_report truth-pin precedent)
    pb = cache_pinned(pairs.select("id_b", band.alias("__band"))
                      .where(F.col("__band") >= 1))
    pair_bands = pb.groupBy("__band").agg(
        F.count(F.lit(1)).alias("__np"))
    doc_bands = (pb.groupBy(F.col("id_b").alias(id_col))
                 .agg(F.max("__band").alias("__band"))
                 .join(docs.select(id_col, weight_col), id_col)
                 .groupBy("__band")
                 .agg(F.count(F.lit(1)).alias("__nd"),
                      F.sum(weight_col).alias("__nc")))
    totals = docs.agg(F.count(F.lit(1)).alias("__n_docs"),
                      F.sum(weight_col).alias("__n_chars"))
    base = (docs.sparkSession.range(1)
            .select(F.posexplode(t_arr).alias("__i", "threshold")))
    pc = (base.join(F.broadcast(pair_bands),
                    F.col("__band") > F.col("__i"), "left")
          .groupBy("__i", "threshold")
          .agg(F.sum("__np").alias("n_pairs")))
    rm = (base.join(F.broadcast(doc_bands),
                    F.col("__band") > F.col("__i"), "left")
          .groupBy("__i", "threshold")
          .agg(F.sum("__nd").alias("docs_removed"),
               F.sum("__nc").alias("chars_removed")))
    out = (pc.join(rm, ["__i", "threshold"])
           .crossJoin(F.broadcast(totals)))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return out.select(
        "threshold",
        z("n_pairs").alias("n_pairs"),
        z("docs_removed").alias("docs_removed"),
        z("chars_removed").alias("chars_removed"),
        (z("docs_removed").cast("double") / F.col("__n_docs"))
        .alias("pct_docs_removed"),
        (z("chars_removed").cast("double") / F.col("__n_chars"))
        .alias("pct_chars_removed"),
    ).orderBy("threshold")


def decontam_window_sweep(train: DataFrame, held_out: DataFrame,
                          windows: list[int], text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Contamination-gate planning report: the dirty-document and
    dirty-window rates at several candidate n-gram window sizes, so a
    pipeline picks its decontamination width (GPT-3 used 13; shorter
    windows catch more but over-flag common phrases) from ONE report
    instead of N gate runs.

    One tokenize pass per side; each side's token arrays explode
    against the LITERAL window-size array (the sweep-family shape —
    the per-(doc, w) window hashes are generated from the SAME staged
    array). Held-out keys reduce to distinct (w, hash) and broadcast
    into the train probe; per-(w, doc) hit counts roll up to one row
    per window size. Everything shuffled is (id, w, hash) triples —
    bodies never move. Counts are exact integers, fractions
    integer-derived. Reference analogue: none (planning extension).
    """
    ws = sorted(int(w) for w in windows)
    w_arr = F.array(*[F.lit(w) for w in ws])

    def side_windows(df: DataFrame) -> DataFrame:
        # tokenize + |windows| per-window md5 passes are the sweep's CPU
        # mass; spread a narrow single-file scan so they parallelize
        # (r13 opt: the train probe ran its hashing in the 1-task scan
        # stage — 3.5 s exec on ~20 tasks at sf0.1)
        base = (_tokenized_base(spread_narrow(df), text_col, id_col)
                .select(id_col, "__t")
                .withColumn("w", F.explode(w_arr)))
        hashes = F.when(
            F.size("__t") >= F.col("w"),
            F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.size("__t") - F.col("w") + 1,
                                      F.lit(0))),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__t", i,
                                                         F.col("w"))))),
        ).otherwise(F.array().cast("array<string>"))
        return base.select(id_col, "w",
                           F.posexplode_outer(hashes).alias("__p0", "__h"))

    ev = (side_windows(held_out)
          .filter(F.col("__h").isNotNull())
          .select("w", "__h").distinct()
          .withColumn("__hit", F.lit(1)))
    per_doc = (side_windows(train)
               .join(F.broadcast(ev), ["w", "__h"], "left")
               .groupBy("w", id_col)
               .agg(F.count("__h").cast("long").alias("n_windows"),
                    F.sum(F.coalesce("__hit", F.lit(0)))
                    .cast("long").alias("n_hits")))
    totals = train.agg(F.count(F.lit(1)).alias("__n_docs"))
    report = (per_doc.groupBy("w").agg(
        F.sum((F.col("n_windows") > 0).cast("long")).alias("n_docs_evaluable"),
        F.sum((F.col("n_hits") > 0).cast("long")).alias("n_dirty_docs"),
        F.sum("n_windows").cast("long").alias("n_windows"),
        F.sum("n_hits").cast("long").alias("n_contaminated_windows"))
        .crossJoin(F.broadcast(totals)))
    z = lambda a, b: F.when(F.col(b) > 0,
                            F.col(a).cast("double") / F.col(b)) \
                      .otherwise(F.lit(0.0))
    return (report.select(
        F.col("w").cast("long").alias("window"),
        F.col("__n_docs").cast("long").alias("n_docs"),
        "n_docs_evaluable", "n_dirty_docs",
        z("n_dirty_docs", "__n_docs").alias("dirty_doc_frac"),
        "n_windows", "n_contaminated_windows",
        z("n_contaminated_windows", "n_windows").alias("dirty_window_frac"))
        .orderBy("window"))


def attribute_spans(corpus: DataFrame, queries: DataFrame, *,
                    window: int = 13, k: int = 3,
                    max_window_doc_freq: int = 1000,
                    text_col: str = "text", id_col: str = "doc_id",
                    query_id_col: str = "query_id") -> DataFrame:
    """Training-data attribution: for each query text, the top-``k``
    corpus documents sharing the most ``window``-token spans with it,
    with the fraction of the query's windows each explains — the
    inverse of the decontamination probe (memorization_risk asks
    "which spans repeat"; this asks "a generation looks memorized —
    WHERE did it come from").

    Both sides reduce to distinct (id, window-hash) pairs before the
    only join; corpus windows present in more than
    ``max_window_doc_freq`` documents are dropped first (boilerplate
    spans attribute to everything and only fan out the join — the same
    df-cap rationale as the winnowing match step). Per-query totals
    broadcast; coverage is an integer-derived division; top-k ranks on
    (shared windows desc, doc id asc). Bodies never shuffle.
    """
    w, cap = int(window), int(max_window_doc_freq)
    qw = (_window_hash_table(
              _tokenized_base(queries, text_col, query_id_col),
              query_id_col, w)
          .select(query_id_col, "__h").distinct())
    q_tot = (qw.groupBy(query_id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("__q_windows")))
    # the corpus side's tokenize + per-window md5 is the pass's CPU
    # mass; spread a narrow single-file scan so it parallelizes
    # (r13 opt: 3.2 s exec pinned to the scan stage at sf0.1 before)
    cw = (_window_hash_table(
              _tokenized_base(spread_narrow(corpus), text_col, id_col),
              id_col, w)
          .select(id_col, "__h").distinct())
    df_ok = (cw.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
             .filter(F.col("__df") <= cap).select("__h"))
    cw = cw.join(df_ok, "__h", "left_semi")
    matched = (qw.join(cw, "__h")
               .groupBy(query_id_col, id_col)
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_shared_windows")))
    ranked = (matched.join(F.broadcast(q_tot), query_id_col)
              .withColumn("query_coverage",
                          F.col("n_shared_windows").cast("double")
                          / F.col("__q_windows")))
    rw = (Window.partitionBy(query_id_col)
          .orderBy(F.desc("n_shared_windows"), F.asc(id_col)))
    return (ranked.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= int(k))
            .select(query_id_col, F.col(id_col).alias("source_doc_id"),
                    "n_shared_windows",
                    F.col("__q_windows").alias("n_query_windows"),
                    "query_coverage", "rank"))
