"""Distributed BPE tokenizer preparation.

Beyond the reference's surface (BASELINE.json north star): byte-pair
encoding merge training (Sennrich et al. 2016, arXiv:1508.07909) the way
map-reduce BPE trainers do it — all statistics run over the WORD-FREQUENCY
table (vocab-sized, ~10^6 rows at 100 TB), never over the raw corpus:

1. one corpus pass builds (word, n) counts;
2. each merge round counts weighted adjacent symbol pairs over that small
   relation, takes the (count desc, pair asc) argmax, and rewrites the
   symbol arrays — a driver loop of ``n_merges`` cheap jobs, the standard
   structure (the corpus is touched exactly once).

Encoding joins documents back to the merged word table on the word key —
the merge fold is a JVM higher-order function; no Python touches rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import let
from .text import tokens


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) frequency table — the only corpus-wide pass."""
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    return (df.select(F.explode(toks).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("n")))


def _to_symbols(word: Column) -> Column:
    """Initial symbol sequence: characters, with the word-end marker on
    the final character (the classic BPE alphabet).  The character
    array is bound once (``let``) so the last-index test reads its size
    instead of re-splitting the word per character."""
    return let(F.split(word, ""), lambda chars: F.transform(
        chars,
        lambda c, i: F.when(i == F.size(chars) - 1,
                            F.concat(c, F.lit("</w>"))).otherwise(c)))


def _merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Replace every leftmost non-overlapping adjacent (left, right) with
    the concatenation — one fold, JVM-side. State = (output array,
    pending symbol); the pending slot gives the single-symbol lookbehind
    the non-overlap rule needs."""
    merged = F.lit(left + right)
    empty = F.array().cast("array<string>")
    step = lambda acc, s: F.when(
        acc["pending"].isNotNull() & (acc["pending"] == F.lit(left)) & (s == F.lit(right)),
        F.struct(F.concat(acc["out"], F.array(merged)).alias("out"),
                 F.lit(None).cast("string").alias("pending"))
    ).otherwise(
        F.struct(
            F.when(acc["pending"].isNotNull(),
                   F.concat(acc["out"], F.array(acc["pending"])))
             .otherwise(acc["out"]).alias("out"),
            s.alias("pending")))
    finish = lambda acc: F.when(
        acc["pending"].isNotNull(), F.concat(acc["out"], F.array(acc["pending"]))
    ).otherwise(acc["out"])
    init = F.struct(empty.alias("out"), F.lit(None).cast("string").alias("pending"))
    return F.aggregate(symbols, init, step, finish)


def bpe_train(df: DataFrame, n_merges: int, text_col: str = "text",
              min_pair_count: int = 2) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges. Returns the ordered merge list
    [(left, right, weighted_count)]; stops early when no pair reaches
    ``min_pair_count``.

    Deterministic: argmax ties break on (left, right) lexicographically.
    Each round shuffles only the vocab-sized symbol table; the word table
    is cached once and replaced (localCheckpoint) per round so the lineage
    does not accumulate ``n_merges`` nested folds."""
    words = (word_counts(df, text_col)
             .select(_to_symbols(F.col("word")).alias("syms"), "n")
             .localCheckpoint())
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (words.select(
            F.explode(F.when(
                F.size("syms") >= 2,
                F.transform(F.sequence(F.lit(1), (F.size("syms") - 1).cast("int")),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("left"),
                                F.element_at("syms", (i + 1).cast("int")).alias("right"))))
             .otherwise(F.array().cast("array<struct<left:string,right:string>>"))
            ).alias("p"), "n")
            .groupBy("p.left", "p.right").agg(F.sum("n").alias("c")))
        best = (pairs.orderBy(F.desc("c"), F.asc("left"), F.asc("right"))
                .limit(1).collect())
        if not best or best[0]["c"] < min_pair_count:
            break
        left, right, c = best[0]["left"], best[0]["right"], int(best[0]["c"])
        merges.append((left, right, c))
        words = (words.select(_merge_pair(F.col("syms"), left, right).alias("syms"), "n")
                 .localCheckpoint())
    return merges


def bpe_train_local(df: DataFrame, n_merges: int, text_col: str = "text",
                    min_pair_count: int = 2, max_vocab: int = 2_000_000,
                    ) -> list[tuple[str, str, int]]:
    """The production BPE-training shape (HuggingFace tokenizers /
    SentencePiece): ONE distributed corpus pass builds the (word, n)
    frequency table — the only part that scales with data volume — then
    the merge loop runs driver-local over that vocab-sized table with
    incremental pair-count updates. Zero per-merge cluster jobs, so the
    ``n_merges``-sequential-jobs latency wall of ``bpe_train`` (32k
    jobs for a production vocab) disappears entirely; a 100 TB corpus
    and a 1 GB corpus train at the same speed once counted.

    Exact: same (count desc, pair asc) argmax and leftmost-nonoverlap
    rewrite as ``bpe_train`` — differential-tested to produce identical
    merge sequences, returned in the same [(left, right, count)] form.

    The collect is bounded by ``max_vocab`` distinct words (raises
    rather than silently truncating — fall back to ``bpe_train`` for
    adversarially unbounded vocabularies)."""
    from collections import Counter, defaultdict

    rows = (word_counts(df, text_col)
            .orderBy("word")  # deterministic iteration order
            .limit(max_vocab + 1).collect())
    if len(rows) > max_vocab:
        raise ValueError(
            f"vocabulary exceeds max_vocab={max_vocab}; "
            "use bpe_train for unbounded vocabularies")
    wc = {r["word"]: int(r["n"]) for r in rows}
    words = {w: tuple(list(w[:-1]) + [w[-1] + "</w>"]) for w in wc}

    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for w, syms in words.items():
        for p in zip(syms, syms[1:]):
            pair_counts[p] += wc[w]
            pair_words[p].add(w)

    def rewrite(syms: tuple, left: str, right: str) -> tuple:
        out: list[str] = []
        pend = None
        for s in syms:
            if pend == left and s == right:
                out.append(left + right)
                pend = None
            else:
                if pend is not None:
                    out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        return tuple(out)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best_c = 0
        best_p = None
        for p, c in pair_counts.items():
            if c > best_c or (c == best_c and best_p is not None and p < best_p):
                best_c, best_p = c, p
        if best_p is None or best_c < min_pair_count:
            break
        left, right = best_p
        merges.append((left, right, best_c))
        for w in list(pair_words[best_p]):
            old = words[w]
            new = rewrite(old, left, right)
            words[w] = new
            n = wc[w]
            for p in zip(old, old[1:]):
                pair_counts[p] -= n
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                s = pair_words.get(p)
                if s is not None:
                    s.discard(w)
                    if not s:
                        del pair_words[p]
            for p in zip(new, new[1:]):
                pair_counts[p] += n
                pair_words[p].add(w)
    return merges


def bpe_encode(df: DataFrame, merges: list[tuple[str, str, int]],
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge list: build the distinct-word → symbol-array
    map by folding the merges IN ONE PLAN over the (small) word table,
    then join documents' exploded tokens back on the word key — the
    corpus never runs the merge fold itself. Output one row per doc:
    (id, bpe_tokens array<string>, n_bpe_tokens)."""
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    inst = (df.select(F.col(id_col), F.posexplode(toks).alias("pos", "word")))
    vocab = inst.select("word").distinct()
    syms = _to_symbols(F.col("word"))
    for left, right, _ in merges:
        syms = _merge_pair(syms, left, right)
    vocab = vocab.select("word", syms.alias("syms"))
    rebuilt = (inst.join(vocab, "word")
               .groupBy(id_col)
               .agg(F.flatten(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                            lambda x: x["syms"])).alias("bpe_tokens")))
    return (df.select(id_col)
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("bpe_tokens", F.array().cast("array<string>"))
                     .alias("bpe_tokens"))
            .withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long")))


# ------------- Unigram-LM (SentencePiece-style) trainer (r12) -------------
#
# Kudo 2018 ("Subword Regularization", arXiv:1804.10959 §3; the
# SentencePiece unigram trainer): seed a large candidate vocabulary from
# frequent substrings, fit piece probabilities by EM over the corpus,
# prune the pieces whose removal costs the likelihood least, repeat
# until the target size.  This implementation is the hard-EM (Viterbi)
# flavor: the E-step assigns each word its single best segmentation —
# the standard production simplification, and the one that makes every
# statistic an integer (occurrence counts) or a fixed-point quantized
# float (loss contributions), so the distributed trainer is EXACTLY
# reproducible against the pure-local reference (`unigram_train_local`)
# regardless of partitioning or aggregation order.
#
# Scale shape (same law as the BPE trio above): the CORPUS is touched
# exactly once (`word_counts`); every EM pass runs over the vocab-sized
# word table with the piece table broadcast inside an Arrow-batched
# `mapInPandas` closure (the per-word Viterbi DP is a genuinely
# imperative inner loop — the documented Python-tier case), and each
# M-step is ONE groupBy over pieces.  At 100 TB the word table is
# ~10^6 rows; the driver holds only piece statistics (bounded by
# `seed_size`).

_UNIGRAM_LOSS_SCALE = 1 << 20   # fixed-point quantum for loss sums
_UNIGRAM_LOSS_CAP = 1 << 40     # per-(word, piece) "essential" sentinel


def _viterbi_word(word: str, logp: dict, max_piece_len: int,
                  need_alts: bool = False, unk_lp: float | None = None):
    """Best segmentation of ``word`` under piece log-probs ``logp``.

    DP over prefix positions, candidates tried LONGEST-FIRST with a
    strictly-greater acceptance rule — deterministic tie-break (longest
    piece wins a tie) with no float comparison ambiguity.  ``unk_lp``
    (encode-time byte-fallback analogue): an out-of-vocab SINGLE
    character scores ``unk_lp`` instead of being unusable, so any
    string segments.  With ``need_alts``, also returns
    ``{piece: best score of a path avoiding that piece}`` for each
    distinct piece on the best path — the likelihood drop Kudo's prune
    ranks on (−inf when no avoiding path exists)."""
    n = len(word)
    neg = float("-inf")

    def solve(banned: str | None = None):
        best = [neg] * (n + 1)
        best[0] = 0.0
        back: list = [0] * (n + 1)
        for i in range(1, n + 1):
            for ln in range(min(max_piece_len, i), 0, -1):
                piece = word[i - ln:i]
                if piece == banned:
                    continue
                lp = logp.get(piece)
                if lp is None:
                    if unk_lp is None or ln != 1:
                        continue
                    lp = unk_lp
                if best[i - ln] == neg:
                    continue
                s = best[i - ln] + lp
                if s > best[i]:
                    best[i] = s
                    back[i] = ln
        if best[n] == neg:
            return None, neg
        out: list[str] = []
        i = n
        while i > 0:
            ln = back[i]
            out.append(word[i - ln:i])
            i -= ln
        out.reverse()
        return out, best[n]

    pieces, score = solve()
    if not need_alts:
        return pieces, score
    alts: dict[str, float] = {}
    for p in set(pieces or ()):
        _, s = solve(banned=p)
        alts[p] = s
    return pieces, score, alts


def unigram_seed_counts(df: DataFrame, text_col: str = "text",
                        max_piece_len: int = 8) -> DataFrame:
    """(piece, c): corpus-weighted substring frequencies up to
    ``max_piece_len`` over the word table — the seed-candidate relation
    (Kudo 2018 seeds from frequent substrings; suffix-array in the
    original, a bounded substring explode here).  All JVM: per word,
    substrings enumerate as a flattened nested transform; counts weight
    by word frequency.  Shuffles only (piece, n) pairs — the corpus is
    not re-read (word_counts is the one corpus pass)."""
    wc = word_counts(df, text_col)
    w = F.col("word")
    n = F.length(w).cast("int")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(int(max_piece_len)),
                               (n - i + 1).cast("int")).cast("int")),
            lambda ln: w.substr(i, ln))))
    return (wc.select(F.explode(subs).alias("piece"), "n")
            .groupBy("piece").agg(F.sum("n").alias("c")))


def _unigram_estep(words: DataFrame, logp: dict,
                   max_piece_len: int) -> DataFrame:
    """One hard-EM E-step over the word table: per piece, the total
    Viterbi-path occurrence count (weighted by word frequency, exact
    long) and the total loss contribution (likelihood drop if the piece
    were removed, weighted, fixed-point at 2^-20 — quantized PER
    (word, piece) so partition/aggregation order cannot change the sum;
    an irreplaceable piece contributes the saturating
    ``_UNIGRAM_LOSS_CAP``).  Arrow-batched over the vocab-sized word
    table; ONE groupBy on piece."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("piece", StringType()),
        StructField("cnt", LongType()),
        StructField("loss_fp", LongType()),
    ])
    mpl = int(max_piece_len)

    def run(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            agg: dict[str, list[int]] = {}
            for w, n in zip(pdf["word"], pdf["n"]):
                n = int(n)
                pieces, score, alts = _viterbi_word(
                    w, logp, mpl, need_alts=True)
                if pieces is None:
                    continue
                for p, k in Counter(pieces).items():
                    alt = alts[p]
                    if alt == float("-inf"):
                        fp = _UNIGRAM_LOSS_CAP
                    else:
                        fp = int(round((score - alt) * n
                                       * _UNIGRAM_LOSS_SCALE))
                    e = agg.setdefault(p, [0, 0])
                    e[0] += k * n
                    e[1] += fp
            yield pd.DataFrame(
                [(p, c, lf) for p, (c, lf) in agg.items()],
                columns=["piece", "cnt", "loss_fp"])

    from ..sources.partitioning import spread_narrow

    return (spread_narrow(words).mapInPandas(run, schema)
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"),
                 F.sum("loss_fp").alias("loss_fp")))


def _validate_unigram_params(vocab_size: int, prune_frac: float) -> None:
    """Both trainers share the ``_unigram_fit`` prune loop, whose
    progress guarantee is ``keep_n < n_multi`` — with ``prune_frac <=
    0`` the loop keeps every multi-char piece each round and never
    terminates (r12 advisory).  Validate at the trainer entry so the
    error surfaces before any corpus pass."""
    if int(vocab_size) < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not 0.0 < float(prune_frac) <= 1.0:
        raise ValueError(
            f"prune_frac must be in (0, 1], got {prune_frac}")


def _unigram_fit(seed_rows: list, vocab_size: int,
                 max_piece_len: int, n_em_rounds: int, prune_frac: float,
                 estep) -> list[tuple[str, float]]:
    """Shared EM+prune driver loop: ``estep(logp) -> [(piece, cnt,
    loss_fp)]`` is the only part that differs between the distributed
    trainer (Spark E-step) and the local reference (plain dict) — the
    seeding, M-step, prune ordering and termination are THIS code for
    both, so a differential failure isolates to the distributed pass."""
    import math

    cur = {p: c for p, c in seed_rows}

    def mstep(stats: dict) -> dict:
        total = sum(c for c, _ in stats.values())
        out = {}
        for p in cur:
            c = stats.get(p, (0, 0))[0]
            if c > 0:
                out[p] = math.log(c / total)
            elif len(p) == 1:
                out[p] = math.log(0.5 / total)   # keep char coverage
        return out

    # init probs straight from seed counts
    total0 = sum(cur.values())
    logp = {p: math.log(c / total0) for p, c in cur.items()}
    while True:
        stats = None
        for _ in range(max(1, int(n_em_rounds))):
            stats = {p: (c, lf) for p, c, lf in estep(logp)}
            cur_keep = {p for p in cur
                        if len(p) == 1 or stats.get(p, (0, 0))[0] > 0}
            cur = {p: cur[p] for p in cur_keep}
            logp = mstep(stats)
        n_multi = sum(1 for p in cur if len(p) > 1)
        target_multi = max(0, int(vocab_size) - len(
            [p for p in cur if len(p) == 1]))
        if n_multi <= target_multi:
            break
        keep_n = max(target_multi, int(n_multi * (1.0 - prune_frac)))
        ranked = sorted(
            ((p, stats.get(p, (0, 0))[1]) for p in cur if len(p) > 1),
            key=lambda t: (-t[1], t[0]))
        kept_multi = {p for p, _ in ranked[:keep_n]}
        cur = {p: c for p, c in cur.items()
               if len(p) == 1 or p in kept_multi}
        logp = {p: lp for p, lp in logp.items() if p in cur}
    # final refresh so returned probs reflect the final vocab
    stats = {p: (c, lf) for p, c, lf in estep(logp)}
    logp = mstep(stats)
    return sorted(logp.items())


def unigram_train(df: DataFrame, vocab_size: int, text_col: str = "text",
                  seed_size: int = 1000, max_piece_len: int = 8,
                  n_em_rounds: int = 2, prune_frac: float = 0.25,
                  min_count: int = 2) -> list[tuple[str, float]]:
    """Learn a unigram-LM piece vocabulary (see the tier comment above).
    Returns ``[(piece, logprob)]`` sorted by piece.

    Distributed shape: one corpus pass (word table, localCheckpoint),
    one substring-explode aggregation for seeds, then per EM round one
    Arrow pass + one groupBy over the VOCAB-SIZED word table — the
    driver holds only piece statistics.  Single characters are always
    seeded and never pruned (full coverage, SentencePiece's
    required-char rule); multi-char seeds are the top ``seed_size`` by
    (weighted count desc, piece asc) at ``min_count`` support."""
    _validate_unigram_params(vocab_size, prune_frac)
    words = word_counts(df, text_col).localCheckpoint()
    seeds_df = unigram_seed_counts(df, text_col, max_piece_len)
    chars = [(r["piece"], int(r["c"]))
             for r in seeds_df.filter(F.length("piece") == 1).collect()]
    multis = [(r["piece"], int(r["c"])) for r in
              (seeds_df.filter((F.length("piece") > 1)
                               & (F.col("c") >= int(min_count)))
               .orderBy(F.desc("c"), F.asc("piece"))
               .limit(int(seed_size)).collect())]
    seed_rows = sorted(chars + multis)

    def estep(logp):
        return [(r["piece"], int(r["cnt"]), int(r["loss_fp"]))
                for r in _unigram_estep(words, logp,
                                        max_piece_len).collect()]

    return _unigram_fit(seed_rows, vocab_size, max_piece_len,
                        n_em_rounds, prune_frac, estep)


def unigram_train_local(df: DataFrame, vocab_size: int,
                        text_col: str = "text", seed_size: int = 1000,
                        max_piece_len: int = 8, n_em_rounds: int = 2,
                        prune_frac: float = 0.25, min_count: int = 2,
                        max_vocab: int = 2_000_000,
                        ) -> list[tuple[str, float]]:
    """Pure-local reference trainer (the ``bpe_train_local`` analogue):
    ONE distributed pass builds the word table, then seeding, EM and
    pruning run driver-local over plain dicts.  Differentially tested
    to produce the IDENTICAL ``[(piece, logprob)]`` list as
    :func:`unigram_train` — integer counts and per-(word, piece)
    fixed-point loss quantization make both orderings exact."""
    _validate_unigram_params(vocab_size, prune_frac)
    from collections import Counter

    rows = (word_counts(df, text_col).orderBy("word")
            .limit(max_vocab + 1).collect())
    if len(rows) > max_vocab:
        raise ValueError(
            f"vocabulary exceeds max_vocab={max_vocab}")
    wc = {r["word"]: int(r["n"]) for r in rows}

    sub_counts: Counter = Counter()
    for w, n in wc.items():
        for i in range(len(w)):
            for ln in range(1, min(max_piece_len, len(w) - i) + 1):
                sub_counts[w[i:i + ln]] += n
    chars = [(p, c) for p, c in sub_counts.items() if len(p) == 1]
    multis = sorted(((p, c) for p, c in sub_counts.items()
                     if len(p) > 1 and c >= int(min_count)),
                    key=lambda t: (-t[1], t[0]))[:int(seed_size)]
    seed_rows = sorted(chars + multis)

    def estep(logp):
        agg: dict[str, list[int]] = {}
        for w, n in wc.items():
            pieces, score, alts = _viterbi_word(
                w, logp, int(max_piece_len), need_alts=True)
            if pieces is None:
                continue
            for p, k in Counter(pieces).items():
                alt = alts[p]
                if alt == float("-inf"):
                    fp = _UNIGRAM_LOSS_CAP
                else:
                    fp = int(round((score - alt) * n
                                   * _UNIGRAM_LOSS_SCALE))
                e = agg.setdefault(p, [0, 0])
                e[0] += k * n
                e[1] += fp
        return [(p, c, lf) for p, (c, lf) in agg.items()]

    return _unigram_fit(seed_rows, vocab_size, max_piece_len,
                        n_em_rounds, prune_frac, estep)


def unigram_encode(df: DataFrame, pieces: list[tuple[str, float]],
                   text_col: str = "text", id_col: str = "doc_id",
                   unk_lp: float = -100.0) -> DataFrame:
    """Apply a learned unigram vocabulary: Viterbi-segment the DISTINCT
    words (Arrow pass over the word table with the piece log-probs in
    the closure), then join documents' exploded tokens back on the word
    key — the :func:`bpe_encode` shape, the corpus never runs the DP.
    ``unk_lp`` is the char-fallback score, so any word segments (the
    byte-fallback analogue); round-trip ``concat(pieces) == word``
    holds for every word by construction.  Output one row per doc:
    ``(id, unigram_tokens array<string>, n_unigram_tokens)``."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    logp = dict(pieces)
    max_len = max((len(p) for p in logp), default=1)
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda x: x != "")
    inst = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "word"))
    vocab = inst.select("word").distinct()

    schema = StructType([
        StructField("word", StringType()),
        StructField("syms", ArrayType(StringType())),
    ])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for w in pdf["word"]:
                segs, _ = _viterbi_word(w, logp, max_len, unk_lp=unk_lp)
                rows.append((w, segs if segs is not None else [w]))
            yield pd.DataFrame(rows, columns=["word", "syms"])

    from ..sources.partitioning import spread_narrow

    seg = spread_narrow(vocab).mapInPandas(run, schema)
    rebuilt = (inst.join(seg, "word")
               .groupBy(id_col)
               .agg(F.flatten(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "syms"))),
                            lambda x: x["syms"])).alias("unigram_tokens")))
    return (df.select(id_col)
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("unigram_tokens",
                               F.array().cast("array<string>"))
                     .alias("unigram_tokens"))
            .withColumn("n_unigram_tokens",
                        F.size("unigram_tokens").cast("long")))
