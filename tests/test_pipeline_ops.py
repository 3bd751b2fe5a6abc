"""Dedup / similarity / text-analysis semantics on small controlled data
plus recall checks against exhaustive tiers on the sf0.001 documents."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from basic_data_fusion_spark.operators import dedup, similarity, text

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "The  quick brown fox jumps over the lazy DOG"),  # dup after normalize
        (4, "the quick brown fox jumps over the sleepy dog"), # near dup
        (5, "completely different text about spark engines"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(small_docs):
    groups = dedup.exact_dedup_groups(small_docs).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in groups}
    assert by_canon[1] == 3  # 1, 2, 3 normalize to the same content
    assert by_canon[4] == 1 and by_canon[5] == 1
    kept = dedup.exact_dedup(small_docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 4, 5, 6]


def test_ngram_jaccard_small(small_docs):
    pairs = dedup.ngram_jaccard_pairs(small_docs, n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    # identical docs → jaccard 1.0
    assert got[(1, 2)] == 1.0 and got[(1, 3)] == 1.0
    # one word of nine changed → 3 of 7 distinct 3-shingles survive... > 0.5 is out
    assert (1, 4) not in got or got[(1, 4)] < 1.0


def test_minhash_recall_equals_exact(docs):
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()}
    mh = {(r["id_a"], r["id_b"]) for r in
          dedup.minhash_dedup_pairs(docs, n=3, num_hashes=32, bands=16,
                                    threshold=0.8).collect()}
    assert exact, "fixture should contain planted near-dups"
    # verification makes precision exact; recall at j≈0.99 with 16 bands ≈ 1
    assert mh == exact


def test_simhash_subset_of_near_dups(docs):
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.7).collect()}
    sh = {(r["id_a"], r["id_b"]) for r in
          dedup.simhash_near_dups(docs, max_hamming=3, n=2).collect()}
    assert sh, "simhash should find planted near-dups"
    assert sh <= exact  # hamming≤3 is stricter than jaccard 0.7
    assert len(sh) >= len(exact) // 4  # conservative recall floor


def test_simhash_identical_and_disjoint(small_docs):
    sh = {r["doc_id"]: r["simhash"] for r in
          small_docs.filter(F.col("text") != "").select(
              "doc_id", dedup.simhash64(F.col("text")).alias("simhash")).collect()}
    assert sh[1] == sh[2]  # identical text → identical fingerprint
    assert dedup._signed_mask(63) == -(1 << 63)


def test_embedding_near_dup_recall_planted(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((20, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-identical copy of each (tiny perturbation)
        rows.append((100 + i, [float(x) for x in v + rng.normal(0, 0.01, 64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_near_dups(df, threshold=0.99, exhaustive=True).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           similarity.embedding_near_dups(df, threshold=0.99, planes=12).collect()}
    assert len(exact) == 20  # each planted pair
    assert len(lsh & exact) / len(exact) >= 0.9  # LSH recall on near-identical


def test_brute_force_topk_self_first(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    first = {r["query_id"]: r for r in top if r["rank"] == 1}
    for qid, r in first.items():
        assert r["neighbor_id"] == qid  # self is its own nearest neighbor
        assert r["cosine_sim"] == pytest.approx(1.0, abs=1e-6)


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    import pyarrow.parquet as pq
    t = pq.read_table(f"{SF0001}/embeddings.parquet")
    E = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    lab = np.array(t["label"].to_pylist())
    centroids = [E[lab == c].mean(axis=0).tolist() for c in sorted(set(lab))]
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = similarity.brute_force_topk(emb, q, k=3).collect()
    ivf = similarity.ivf_topk(emb, q, centroids, k=3, nprobe=3).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    iset = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    assert len(iset & bset) / len(bset) >= 0.6  # nprobe=3 of 10 cells


def test_token_counts_edges(spark):
    rows = [(1, "one two  three"), (2, ""), (3, "   "), (4, "word"), (5, "a-b c.d 42!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n"], r["bpe"]) for r in df.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe")).collect()}
    assert got[1][0] == 3
    assert got[2][0] == 0 and got[3][0] == 0
    assert got[4][0] == 1
    # "a-b c.d 42!" → pieces: a,-,b,c,.,d,42,! = 8
    assert got[5][1] == 8


def test_detect_language(spark):
    rows = [
        (1, "the cat and the dog of a house in that it is for"),
        (2, "el perro y la casa de que en un una los por"),
        (3, "der hund und die katze das ein eine zu den von mit"),
        (4, "zzz qqq xxx www"),  # no stopword hits → NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", text.detect_language(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "de"
    assert got[4] is None


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello   World"), (2, "hello world"), (3, "  HELLO WORLD \n")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = [r["fp"] for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_rolling_hash_order_sensitive(spark):
    rows = [(1, "alpha beta gamma delta epsilon"), (2, "epsilon delta gamma beta alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = [r["fp"] for r in df.select(
        text.rolling_hash_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] != fps[1]  # same token set, different order → different print


def test_quality_score_keep_flags(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away today"),
        (2, "!!! ??? ### $$$ %%%"),
        (3, "a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.quality_score(df).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False  # all punctuation
    assert got[3]["keep"] is False  # too short


def test_filtering_report_composite(spark):
    from basic_data_fusion_spark.operators.aggregations import filtering_report

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    steps = [
        ("segment", F.col("c_mktsegment").isin(["AUTOMOBILE", "BUILDING"])),
        ("acctbal", F.col("c_acctbal").between(1000.0, 8000.0)),
    ]
    rep = filtering_report(cust, "c_custkey", steps, age_col="c_acctbal",
                           sex_col="c_mktsegment")
    impact = {r["step"]: r["n_remaining"] for r in rep["impact"].collect()}
    assert impact["baseline"] >= impact["segment"] >= impact["acctbal"]
    # per-step breakdown counts agree with the impact table
    for step in ("baseline", "segment", "acctbal"):
        n = rep["breakdowns"][step]["count"].first()["n_participants"]
        assert n == impact[step]
    # sex breakdown at the segment step only contains the kept segments
    segs = {r["c_mktsegment"]
            for r in rep["breakdowns"]["segment"]["by_sex"].collect()}
    assert segs <= {"AUTOMOBILE", "BUILDING"}


def test_filtering_report_pins_its_base(spark):
    """The report's cached base relation is registered with the caching
    module, so ``release_cached`` frees it."""
    from basic_data_fusion_spark.caching import pinned_count, release_cached
    from basic_data_fusion_spark.operators.aggregations import filtering_report
    from tests.conftest import SF0001

    release_cached()
    cust = spark.read.parquet(f"{SF0001}/customer.parquet")
    rep = filtering_report(cust, "c_custkey",
                           [("segment", F.col("c_mktsegment") == "BUILDING")])
    assert pinned_count() == 1
    rep["impact"].collect()
    assert cust.storageLevel.useMemory
    assert release_cached() == 1
    assert not cust.storageLevel.useMemory and pinned_count() == 0


def test_line_dedup_corpus_boilerplate(spark):
    """A line in ≥2 distinct docs is removed everywhere (even its
    within-doc repeats); within-doc-only repetition and blank lines
    survive; empty/NULL docs pass through."""
    from basic_data_fusion_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "COOKIE BANNER\nunique line one\nCOOKIE BANNER"),
         (2, "  COOKIE BANNER  \nunique line two"),   # trim-matched
         (3, "twice\ntwice\n\nkept"),                  # within-doc only
         (4, ""), (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "unique line one" and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "unique line two" and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "twice\ntwice\n\nkept"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[5]["clean_text"] == ""
    # min_docs=3: nothing crosses the threshold any more
    all_clean = line_dedup(docs, min_docs=3).collect()
    assert all(r["n_removed"] == 0 for r in all_clean)


def test_exact_substring_dedup_planted_span(spark):
    """ExactSubstr (Lee et al. 2022): a ≥window token span shared by two
    docs at DIFFERENT offsets is removed from both (exactly the span —
    unique prefix/suffix tokens survive); spans shorter than the window
    survive; within-doc-only repetition survives (min_docs counts
    distinct docs); empty/NULL docs pass through."""
    from basic_data_fusion_spark.operators.dedup import exact_substring_dedup

    span = " ".join(f"s{i}" for i in range(60))       # 60-token shared span
    short = " ".join(f"t{i}" for i in range(30))      # 30-token shared span
    docs = spark.createDataFrame(
        [(1, "alpha beta " + span + " gamma"),
         (2, span + " delta " + short),
         (3, "solo " + short),                        # short span: survives
         (4, ("u " * 49).strip()),                    # 49 toks, no window
         # the same 50-token span twice WITHIN one doc: min_docs counts
         # distinct docs, so nothing is removed
         (5, " ".join(f"r{i}" for i in range(50)) + " mid "
             + " ".join(f"r{i}" for i in range(50))),
         (6, ""), (7, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in exact_substring_dedup(docs, window=50).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[1]["n_tokens"] == 63 and out[1]["n_removed"] == 60
    assert out[2]["clean_text"] == "delta " + short
    assert out[2]["n_removed"] == 60
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"] == "solo " + short
    assert out[4]["n_removed"] == 0 and out[4]["n_tokens"] == 49
    assert out[5]["n_removed"] == 0                   # within-doc only
    assert out[6]["clean_text"] == "" and out[6]["n_tokens"] == 0
    assert out[7]["clean_text"] == "" and out[7]["n_removed"] == 0
    # a doc duplicated verbatim in ≥2 docs is removed entirely
    dup2 = spark.createDataFrame(
        [(1, span), (2, span)], "doc_id long, text string")
    for r in exact_substring_dedup(dup2, window=50).collect():
        assert r["clean_text"] == "" and r["n_removed"] == 60


def test_decontaminate_spans_planted(spark):
    """Surgical decontamination: only the held-out-colliding window is
    cut from a train doc (unique tokens survive); train docs with no
    collision pass through untouched; matching is case-insensitive;
    held-out docs themselves are not in the output."""
    from basic_data_fusion_spark.operators.dedup import decontaminate_spans

    leak = "the quick brown fox jumps"                # 5-token eval span
    train = spark.createDataFrame(
        [(1, "intro " + leak + " outro"),
         (2, "totally clean document here"),
         (3, "INTRO " + leak.upper() + " OUTRO"),     # case-insensitive hit
         (4, ""), (5, None)],
        "doc_id long, text string")
    held = spark.createDataFrame(
        [(100, "padding " + leak + " trailer")], "doc_id long, text string")

    out = {r["doc_id"]: r.asDict()
           for r in decontaminate_spans(train, held, window=5).collect()}
    assert set(out) == {1, 2, 3, 4, 5}                # train ids only
    assert out[1]["clean_text"] == "intro outro"
    assert out[1]["n_tokens"] == 7 and out[1]["n_removed"] == 5
    assert out[2]["n_removed"] == 0
    assert out[2]["clean_text"] == "totally clean document here"
    # original case survives on kept tokens; removal keyed on lowercase
    assert out[3]["clean_text"] == "INTRO OUTRO" and out[3]["n_removed"] == 5
    assert out[4]["clean_text"] == "" and out[4]["n_tokens"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 0


def test_memorization_risk_report_planted(spark):
    """Top repeated windows: a 4-token span planted in 3 docs tops the
    report with n_docs=3; a span repeated only WITHIN one doc is
    excluded (n_docs >= 2 gate); occurrences count stride-1 overlaps in
    every doc; output is capped at k."""
    from basic_data_fusion_spark.operators.dedup import (
        memorization_risk_report,
    )

    hot = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [(1, "x " + hot + " y"),
         (2, hot),
         (3, "z " + hot),
         # within-doc repetition only — must NOT appear
         (4, "p q r s p q r s".replace("s p", "s mid p")),
         (5, "")],
        "doc_id long, text string")
    rows = memorization_risk_report(docs, window=4, k=10).collect()
    spans = [r["span"] for r in rows]
    assert spans[0] == hot
    top = rows[0]
    assert top["n_docs"] == 3 and top["n_occurrences"] == 3
    assert all("p q r s" != s for s in spans)
    assert len(rows) <= 10
    # k cap: ask for 1, get exactly the hottest span
    only = memorization_risk_report(docs, window=4, k=1).collect()
    assert len(only) == 1 and only[0]["span"] == hot


def test_dsir_weights_tilt_toward_target(spark):
    """DSIR log-weights must rank target-like docs above off-target docs:
    with an English target over the mixed-language corpus, the top
    decile by weight is overwhelmingly English."""
    from basic_data_fusion_spark.operators.selection import (
        dsir_log_weights,
        dsir_select,
    )

    raw = spark.read.parquet(f"{SF0001}/documents.parquet")
    tgt = raw.filter(F.col("lang") == "en")
    w = dsir_log_weights(raw, tgt, buckets=1024)
    assert w.count() == raw.count()           # every doc scored
    en = {r[0] for r in tgt.select("doc_id").collect()}
    top = [r["doc_id"] for r in dsir_select(raw, tgt, 50, buckets=1024).collect()]
    frac = sum(1 for i in top if i in en) / len(top)
    assert frac >= 0.8, f"top-50 should be mostly target-like, got {frac}"
    # weights are deterministic across re-computation (fixed-point ratios)
    w2 = dsir_log_weights(raw, tgt, buckets=1024)
    a = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    b = {r["doc_id"]: r["log_weight"] for r in w2.collect()}
    assert a == b


def test_dsir_target_filter_path_is_bitwise_identical(spark):
    """The single-pass target_filter path (r13 opt: target bucket counts
    derived from the raw side's one tokenize pass) must be BITWISE the
    two-pass path on every column — including n_features and NULL
    log_weights — for both weight and Gumbel-sample tiers."""
    from basic_data_fusion_spark.operators.selection import (
        dsir_gumbel_sample,
        dsir_log_weights,
    )

    raw = spark.read.parquet(f"{SF0001}/documents.parquet")
    pred = F.col("lang") == "en"
    two = dsir_log_weights(raw, raw.filter(pred), buckets=1024).collect()
    one = dsir_log_weights(raw, raw.filter(pred), buckets=1024,
                           target_filter=pred).collect()
    key = lambda rows: {r["doc_id"]: (r["n_features"], r["log_weight"])
                        for r in rows}
    assert key(two) == key(one)
    g_two = dsir_gumbel_sample(raw, raw.filter(pred), 20,
                               buckets=1024).collect()
    g_one = dsir_gumbel_sample(raw, raw.filter(pred), 20, buckets=1024,
                               target_filter=pred).collect()
    assert [tuple(r) for r in g_two] == [tuple(r) for r in g_one]


def test_url_canonicalization_and_dedup(spark):
    """RefinedWeb-style URL dedup: case, default ports, www, fragments,
    trailing slashes, tracking params and param order all collapse to
    one canonical URL; genuinely different pages do not."""
    from basic_data_fusion_spark.operators.dedup import (
        canonical_url,
        url_dedup,
        url_dedup_groups,
    )

    rows = [
        (1, "https://example.com/a/b?x=1&y=2"),
        (2, "HTTPS://EXAMPLE.COM:443/a/b?y=2&x=1#sec"),       # dup of 1
        (3, "https://www.example.com/a/b/?utm_source=s&x=1&y=2"),  # dup of 1
        (4, "http://example.com:80/a/b?x=1&y=2"),             # http ≠ https
        (5, "https://example.com/a/b?x=1&y=3"),               # different query
        (6, "https://example.com/"),                          # root ≡ no path
        (7, "https://example.com"),                           # dup of 6
        (8, "https://example.com/a/b?gclid=g&fbclid=f&ref=r"),  # all tracking
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    canon = {r["doc_id"]: r["c"]
             for r in df.select("doc_id",
                                canonical_url(F.col("url")).alias("c")).collect()}
    assert canon[1] == canon[2] == canon[3] == "https://example.com/a/b?x=1&y=2"
    assert canon[4] == "http://example.com/a/b?x=1&y=2" != canon[1]
    assert canon[5] != canon[1]
    assert canon[6] == canon[7] == "https://example.com"
    assert canon[8] == "https://example.com/a/b"
    groups = {r["canonical_url"]: r for r in url_dedup_groups(df).collect()}
    g = groups["https://example.com/a/b?x=1&y=2"]
    assert g["canonical_id"] == 1 and g["n_urls"] == 3 and g["n_distinct_raw"] == 3
    kept = {r["doc_id"] for r in url_dedup(df).collect()}
    assert kept == {1, 4, 5, 6, 8}


def test_canonical_text_folds_confusables(spark):
    """Unicode canonicalization (the text half of key canonicalization):
    width variants, curly quotes, dash variants, Unicode spaces,
    zero-widths, soft hyphens, ellipsis, f-ligatures and case all fold
    to the same ASCII canonical form; genuinely different text does
    not collapse."""
    from basic_data_fusion_spark.operators.dedup import (
        canonical_assignments,
        canonical_dedup,
    )
    from basic_data_fusion_spark.operators.text import canonical_text

    zwsp, nbsp, ideo = chr(0x200B), chr(0x00A0), chr(0x3000)
    rows = [
        (1, "the file is... \"fine\" - ok"),
        # fullwidth letters/punct + ideographic space + ligature
        (2, "the " + chr(0xFB01) + "le is" + chr(0x2026) + ideo
            + chr(0x201C) + "fine" + chr(0x201D) + " " + chr(0x2014)
            + " ok"),
        # zero-width/soft-hyphen noise + NBSP + case + curly apostrophe
        (3, zwsp + "THE FI" + chr(0x00AD) + "LE" + nbsp
            + "IS... " + chr(0x201E) + "FINE" + chr(0x201F)
            + " " + chr(0x2212) + " ok" + zwsp),
        (4, "the file is... \"fine\" - not ok"),   # genuinely different
        (5, None),                                  # NULL propagates
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    canon = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", canonical_text(F.col("text")).alias("c")).collect()}
    assert canon[1] == canon[2] == canon[3] == 'the file is... "fine" - ok'
    assert canon[4] != canon[1]
    assert canon[5] is None
    asg = {r["doc_id"]: r for r in canonical_assignments(df).collect()}
    assert asg[1]["canonical_id"] == asg[2]["canonical_id"] \
        == asg[3]["canonical_id"] == 1
    assert asg[1]["n_copies"] == 3 and asg[4]["n_copies"] == 1
    kept = {r["doc_id"] for r in canonical_dedup(df).collect()}
    assert kept == {1, 4, 5}


def test_canonical_text_sql_matches_spark(spark):
    """Cross-engine differential for the oracle replay: DuckDB running
    ``canonical_text_sql`` produces byte-identical canonical forms to
    the Spark Column chain on a corpus exercising EVERY fold-table
    entry (each 1:1 fold, each drop, each multi-char expansion, plus
    whitespace runs and case)."""
    import duckdb

    from basic_data_fusion_spark.operators.text import (
        _CANON_1TO1,
        _CANON_DROP,
        _CANON_MULTI,
        canonical_text,
        canonical_text_sql,
    )

    rows = [(i, f"A {c}x{c} B\t\n {c}") for i, c in enumerate(_CANON_1TO1)]
    rows += [(1000 + i, f"pre{c}post") for i, c in enumerate(_CANON_DROP)]
    rows += [(2000 + i, f"L {s} R {s}{s}")
             for i, (s, _) in enumerate(_CANON_MULTI)]
    rows += [(3000, "  MiXeD   CaSe\f\r text  "), (3001, ""), (3002, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", canonical_text(F.col("text")).alias("c")).collect()}

    con = duckdb.connect()
    pdf = df.toPandas()
    con.register("t", pdf)
    sql = f"SELECT doc_id, {canonical_text_sql('text')} AS c FROM t"
    want = {int(i): c for i, c in con.execute(sql).fetchall()}
    assert got == want


def test_nfkc_text_tier(spark):
    """The full-fidelity NFKC Arrow tier: covers what the JVM fold
    tables deliberately skip (superscripts, circled digits), agrees
    with ``canonical_text`` on the fold-table domain, casefolds
    Unicode-correctly (ß → ss), and propagates NULL."""
    from basic_data_fusion_spark.operators.text import nfkc_text

    rows = [
        (1, "x" + chr(0x00B2) + " " + chr(0x2460) + " done"),  # ² ①
        (2, chr(0xFF28) + chr(0xFF25) + chr(0xFF31) + "  ok"),  # fullwidth
        (3, "Ma" + chr(0x00DF) + "e"),                          # ß → ss
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["canon_text"], r["changed"])
           for r in nfkc_text(df).collect()}
    assert got[1] == ("x2 1 done", True)
    assert got[2] == ("heq ok", True)
    assert got[3] == ("masse", True)
    assert got[4] == (None, None)


def test_dsir_gumbel_sample_tilts_and_perturbs(spark):
    """Gumbel-top-k resampling: the sample still tilts hard toward the
    target (most of the 50 are English), but the Gumbel perturbation
    makes it a genuine sample — it must differ from the deterministic
    argmax top-50 — and it is reproducible across invocations."""
    from basic_data_fusion_spark.operators.selection import (
        dsir_gumbel_sample,
        dsir_select,
    )

    raw = spark.read.parquet(f"{SF0001}/documents.parquet")
    tgt = raw.filter(F.col("lang") == "en")
    en = {r[0] for r in tgt.select("doc_id").collect()}
    samp = dsir_gumbel_sample(raw, tgt, 50, buckets=1024).collect()
    assert len(samp) == 50
    frac = sum(1 for r in samp if r["doc_id"] in en) / 50
    assert frac >= 0.6, f"sample should tilt toward target, got {frac}"
    # keys are the weight plus noise, never the bare weight
    assert all(r["gumbel_key"] != r["log_weight"] for r in samp)
    top = {r["doc_id"] for r in dsir_select(raw, tgt, 50, buckets=1024).collect()}
    assert {r["doc_id"] for r in samp} != top    # perturbation changed the set
    again = dsir_gumbel_sample(raw, tgt, 50, buckets=1024).collect()
    assert [(r["doc_id"], r["gumbel_key"]) for r in samp] == \
           [(r["doc_id"], r["gumbel_key"]) for r in again]


def test_pareto_keep_acceptance_rates(spark):
    """GPT-3 appendix-A rule: P(keep | score s) = (2−s)^(−α).  Check the
    empirical rate against the closed form at two score levels, the
    always-keep boundary at s=1, and determinism across invocations."""
    from basic_data_fusion_spark.operators.selection import pareto_keep

    n = 4000
    rows = [(i, 0.7) for i in range(n)] + \
           [(n + i, 0.2) for i in range(n)] + \
           [(2 * n + i, 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, quality_score double")
    out = pareto_keep(df).collect()
    rate = {s: sum(1 for r in out if r["quality_score"] == s and r["keep"])
            for s in (0.7, 0.2, 1.0)}
    # closed form: (2-0.7)^-9 ≈ 0.0943, (2-0.2)^-9 ≈ 0.00510
    exp7, exp2 = (2 - 0.7) ** -9 * n, (2 - 0.2) ** -9 * n
    assert abs(rate[0.7] - exp7) < 4 * (exp7 ** 0.5 + 1)   # ~4σ band
    assert abs(rate[0.2] - exp2) < 4 * (exp2 ** 0.5 + 1)
    assert rate[0.7] > rate[0.2]                # monotone in score
    assert rate[1.0] == 200                     # X > 0 a.s. → always keep
    assert all(r["pareto_x"] > 0 for r in out)
    again = pareto_keep(df).collect()
    assert {(r["doc_id"], r["keep"]) for r in out} == \
           {(r["doc_id"], r["keep"]) for r in again}


def test_temperature_mix_rebalances_sources(spark):
    """α<1 temperature sampling must upweight the small source (higher
    keep_rate than the big one), hold the overall expected fraction near
    target_frac, and be deterministic across invocations."""
    from basic_data_fusion_spark.operators.selection import temperature_mix

    rows = [(i, "big") for i in range(900)] + \
           [(900 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, alpha=0.3, target_frac=0.5).collect()
    rates = {r["source"]: r["keep_rate"] for r in out}
    assert rates["small"] > rates["big"]
    # closed-form check: q_s ∝ (n_s/N)^α, rate = min(1, T·q_s/n_s);
    # the small source saturates at 1.0 (no renormalization — matches
    # the XLM-R formulation)
    pb, ps = (900 / 1000) ** 0.3, (100 / 1000) ** 0.3
    qb, qs = pb / (pb + ps), ps / (pb + ps)
    assert rates["small"] == pytest.approx(min(1.0, 500 * qs / 100), abs=1e-9)
    assert rates["big"] == pytest.approx(min(1.0, 500 * qb / 900), abs=1e-9)
    expected = sum(r["keep_rate"] for r in out)
    kept = sum(1 for r in out if r["keep"])
    assert abs(kept - expected) < 60           # md5 draw near expectation
    again = {(r["doc_id"], r["keep"]) for r in
             temperature_mix(df, alpha=0.3, target_frac=0.5).collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in out}


def test_compression_ratio_signal(spark):
    """zlib entropy proxy: repetitive text compresses far better than
    high-entropy noise; NULL text → NULL metrics; values match Python
    zlib exactly."""
    import zlib

    rep = "spam spam spam spam spam spam spam spam spam spam " * 20
    noise = " ".join(f"x{i}q{i * 7 % 97}z" for i in range(200))
    docs = spark.createDataFrame(
        [(1, rep), (2, noise), (3, None)], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in text.compression_ratio(docs).collect()}
    assert out[1]["compression_ratio"] < 0.1 < out[2]["compression_ratio"]
    assert out[3]["compression_ratio"] is None and out[3]["n_bytes"] is None
    assert out[1]["n_compressed"] == len(zlib.compress(rep.encode(), 6))
    assert out[2]["n_bytes"] == len(noise.encode())


def test_bpe_train_matches_reference_algorithm(spark):
    """Distributed BPE vs a direct implementation of Sennrich et al.'s
    algorithm (count weighted adjacent pairs on the word table, merge the
    argmax, repeat) — merges must match exactly, order included."""
    from collections import Counter

    from basic_data_fusion_spark.operators.tokenizer import bpe_encode, bpe_train

    corpus = [(1, "low low low low low"), (2, "lower lower newest newest"),
              (3, "newest newest newest newest widest widest widest")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = bpe_train(df, n_merges=8)

    wc = Counter(w for _, t in corpus for w in t.lower().split())
    words = {w: [*w[:-1], w[-1] + "</w>"] for w in wc}
    expect = []
    for _ in range(8):
        pc: Counter = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        top = max(pc.values())
        pair = min(p for p, c in pc.items() if c == top)
        if top < 2:
            break
        expect.append((pair[0], pair[1], top))
        a, b = pair
        for w, syms in words.items():
            out, pend = [], None
            for s in syms:
                if pend == a and s == b:
                    out.append(a + b)
                    pend = None
                else:
                    if pend is not None:
                        out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            words[w] = out
    assert merges == expect

    enc = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert enc[1]["bpe_tokens"] == ["low</w>"] * 5
    assert enc[3]["n_bpe_tokens"] < sum(len(w) + 1 for w in
                                        "newest newest newest newest widest widest widest".split())


def test_bpe_trainer_tiers_identical_merges(spark):
    """Both trainer tiers must learn the IDENTICAL merge sequence (order
    and counts included). The local tier removes the per-merge
    Spark-round latency wall entirely."""
    from basic_data_fusion_spark.operators.tokenizer import (
        bpe_train,
        bpe_train_local,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(120)
    n = 24
    seq = bpe_train(docs, n_merges=n)          # n_merges pair-count rounds
    assert len(seq) == n
    assert bpe_train_local(docs, n_merges=n) == seq
    # conflict-heavy tiny corpus: never diverges from the sequential
    # sequence
    tiny = spark.createDataFrame(
        [(1, "ab ab ab abc abc bc bc bcd cd cd cd")],
        "doc_id long, text string")
    assert bpe_train_local(tiny, n_merges=6) == bpe_train(tiny, n_merges=6)


def test_unigram_trainer_distributed_matches_local(spark):
    """Unigram-LM trainer (Kudo 2018, hard-EM flavor): the distributed
    trainer (Spark seed aggregation + Arrow E-step + groupBy M-step)
    must produce the IDENTICAL [(piece, logprob)] list as the
    pure-local reference — exact float equality, made possible by
    integer occurrence counts and per-(word, piece) fixed-point loss
    quantization (aggregation order cannot move either)."""
    from basic_data_fusion_spark.operators.tokenizer import (
        unigram_train,
        unigram_train_local,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(80)
    kw = dict(vocab_size=60, seed_size=120, max_piece_len=6,
              n_em_rounds=2, prune_frac=0.25)
    dist = unigram_train(docs, **kw)
    local = unigram_train_local(docs, **kw)
    assert dist == local
    assert len(dist) <= 60 + sum(1 for p, _ in dist if len(p) == 1)
    # single chars always survive; every piece has a finite logprob
    assert all(lp < 0 and lp == lp for _, lp in dist)

    tiny = spark.createDataFrame(
        [(1, "abab abab ababab xy xy"), (2, "abab cd cd cd")],
        "doc_id long, text string")
    kw2 = dict(vocab_size=8, seed_size=40, max_piece_len=4,
               n_em_rounds=2, prune_frac=0.5)
    assert unigram_train(tiny, **kw2) == unigram_train_local(tiny, **kw2)


def test_unigram_learns_planted_piece_and_encodes(spark):
    """A corpus dominated by 'ab' repetition must keep 'ab' (or a
    longer ab-run) as a learned piece, and Viterbi encoding must use
    multi-char pieces (fewer pieces than characters), round-trip
    exactly, handle unknown chars via the char fallback, and return
    empty arrays for empty/NULL docs."""
    from basic_data_fusion_spark.operators.tokenizer import (
        unigram_encode,
        unigram_train_local,
    )

    corpus = [(1, "abab abab abab ababab"), (2, "ababab abab zq"),
              (3, "abab abab")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    pieces = unigram_train_local(df, vocab_size=6, seed_size=30,
                                 max_piece_len=4, min_count=2)
    vocab = {p for p, _ in pieces}
    assert any("ab" in p and len(p) > 1 for p in vocab), vocab

    enc_in = spark.createDataFrame(
        [(1, "abab abab"), (2, "zq koo"), (3, ""), (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in unigram_encode(enc_in, pieces).collect()}
    assert "".join(got[1]["unigram_tokens"]) == "abababab"
    assert got[1]["n_unigram_tokens"] < 8  # multi-char pieces were used
    # unknown chars ('koo' has chars outside the training corpus):
    # char-fallback still segments and round-trips
    assert "".join(got[2]["unigram_tokens"]) == "zqkoo"
    assert got[3]["unigram_tokens"] == [] and got[3]["n_unigram_tokens"] == 0
    assert got[4]["unigram_tokens"] == [] and got[4]["n_unigram_tokens"] == 0


def test_unigram_prune_respects_vocab_size_and_chars(spark):
    """Pruning drives the multi-char piece count down to the target
    while every single character survives for coverage; the final
    vocabulary segments the whole training corpus (no word falls back
    to -inf)."""
    from basic_data_fusion_spark.operators.tokenizer import (
        _viterbi_word,
        unigram_train_local,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(60)
    pieces = unigram_train_local(docs, vocab_size=40, seed_size=200,
                                 max_piece_len=6)
    logp = dict(pieces)
    chars_in_corpus = {c for r in docs.select("text").collect()
                       if r["text"] for w in r["text"].lower().split()
                       for c in w}
    assert chars_in_corpus <= {p for p in logp if len(p) == 1}
    n_multi = sum(1 for p in logp if len(p) > 1)
    assert n_multi <= 40
    for r in docs.select("text").limit(20).collect():
        for w in (r["text"] or "").lower().split():
            segs, score = _viterbi_word(w, logp, 6)
            assert segs is not None and "".join(segs) == w


def test_quality_classifier_separates_planted_classes(spark):
    """Hashed-feature logistic quality filter: clean prose (positive)
    vs shuffled gibberish (negative) must separate almost perfectly on
    held-out docs, and scoring stays JVM-side."""
    from basic_data_fusion_spark.operators.selection import (
        quality_classifier_scores,
        train_quality_classifier,
    )

    clean = [(i, "the quick brown fox jumps over the lazy dog again and again")
             for i in range(40)]
    noise = [(100 + i, " ".join(f"zx{j}q{i}" for j in range(12)))
             for i in range(40)]
    pos = spark.createDataFrame(clean[:30], "doc_id long, text string")
    neg = spark.createDataFrame(noise[:30], "doc_id long, text string")
    model = train_quality_classifier(pos, neg, buckets=1 << 10)
    held = spark.createDataFrame(clean[30:] + noise[30:], "doc_id long, text string")
    scores = {r["doc_id"]: r["quality_prob"]
              for r in quality_classifier_scores(held, model).collect()}
    assert all(scores[i] > 0.5 for i, _ in clean[30:])
    assert all(scores[i] < 0.5 for i, _ in noise[30:])
    plan = quality_classifier_scores(held, model)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_filter_impact_individual_standalone_counts(spark):
    """Each predicate alone vs baseline — order-independent, unlike the
    cumulative cascade."""
    from basic_data_fusion_spark.operators.aggregations import (
        filter_impact_individual,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    steps = [
        ("segment", F.col("c_mktsegment").isin(["AUTOMOBILE", "BUILDING"])),
        ("acctbal", F.col("c_acctbal").between(1000.0, 8000.0)),
    ]
    got = {r["step"]: r for r in
           filter_impact_individual(cust, "c_custkey", steps).collect()}
    baseline = cust.select("c_custkey").distinct().count()
    for label, pred in steps:
        expect = cust.filter(pred).select("c_custkey").distinct().count()
        assert got[label]["n_remaining"] == expect
        assert got[label]["n_removed"] == baseline - expect
        assert got[label]["pct_removed"] == pytest.approx(
            100.0 * (baseline - expect) / baseline)
    # swapping step order must not change any standalone row
    swapped = {r["step"]: r["n_remaining"] for r in
               filter_impact_individual(cust, "c_custkey", steps[::-1]).collect()}
    assert swapped == {k: v["n_remaining"] for k, v in got.items()}


def test_categorical_summary_single_plan(spark):
    """One-pass categorical summary: counts, uniques, ordered top-k, and
    all-NULL columns retained with empty arrays."""
    from basic_data_fusion_spark.operators.aggregations import categorical_summary

    df = spark.createDataFrame(
        [("a", "x", None), ("b", "x", None), ("a", "y", None), ("a", None, None)],
        "c1 string, c2 string, c3 string")
    out = {r["column"]: r for r in
           categorical_summary(df, ["c1", "c2", "c3"], top_k=2).collect()}
    assert out["c1"]["n_non_null"] == 4 and out["c1"]["n_unique"] == 2
    assert out["c1"]["top_values"] == ["a", "b"]
    assert out["c1"]["top_counts"] == [3, 1]
    assert out["c2"]["n_non_null"] == 3 and out["c2"]["n_unique"] == 2
    assert out["c2"]["top_values"] == ["x", "y"]
    assert out["c3"]["n_non_null"] == 0 and out["c3"]["n_unique"] == 0
    assert out["c3"]["top_values"] == [] and out["c3"]["top_counts"] == []


def test_approx_count_distinct_tier(spark):
    from basic_data_fusion_spark.operators.aggregations import count_distinct_keys

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    exact = count_distinct_keys(cust, "c_custkey").first()["n_participants"]
    approx = count_distinct_keys(cust, "c_custkey", approx=True).first()["n_participants"]
    assert abs(approx - exact) / exact < 0.1


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (transitive closure) + pair 10-11 + isolated via dedup_clusters
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_but_not_function(spark):
    """Regression (r7, hypothesis-found): edges (0,3) (1,4) (2,3) (2,4)
    contract in one alternating-star round to {2→0, 2→1, 3→0, 4→1} —
    a STAR graph (no node child and parent) but NOT a function (node 2
    has two roots), so a star-only convergence test stops early and
    splits one component into {0,2,3} / {1,4}.  The fixed-point test
    must require both halves."""
    edges = spark.createDataFrame(
        [(0, 3), (1, 4), (2, 3), (2, 4)], "id_a long, id_b long")
    # local_edge_cap=0: this regression pins the DISTRIBUTED rounds'
    # fixed-point test, which the small-graph fast path would bypass
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(
               edges, local_edge_cap=0).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_connected_components_fast_path_matches_distributed(spark):
    """The r13 small-graph fast path (driver union-find under
    local_edge_cap) must label exactly like the distributed
    alternating-star rounds — same nodes, same min-member components —
    including multi-merge chains and the star-but-not-function shape."""
    rng = np.random.default_rng(11)
    pairs = [(int(a), int(b))
             for a, b in rng.integers(0, 120, (140, 2)) if a != b]
    pairs += [(0, 3), (1, 4), (2, 3), (2, 4)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    fast = {(r["node"], r["component"])
            for r in dedup.connected_components(edges).collect()}
    dist = {(r["node"], r["component"])
            for r in dedup.connected_components(
                edges, local_edge_cap=0).collect()}
    assert fast == dist and len(fast) > 0


def test_connected_components_random_vs_union_find(spark):
    rng = np.random.default_rng(7)
    n_nodes, n_edges = 200, 150  # sparse → many components, some big
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, n_nodes, (n_edges, 2))
             if a != b]
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for p in pairs for x in p}
    expected = {x: find(x) for x in touched}

    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    # local_edge_cap=0 pins the DISTRIBUTED alternating-star rounds —
    # this is their only sizable random-graph oracle (the driver
    # fast path has its own parity test above and would otherwise
    # silently absorb this graph since 150 < local_edge_cap)
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(
               edges, local_edge_cap=0).collect()}
    assert got == expected


def test_dedup_clusters_labels_and_singletons(spark, small_docs):
    pairs = dedup.ngram_jaccard_pairs(small_docs, n=3, threshold=0.8)
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in dedup.dedup_clusters(small_docs, pairs).collect()}
    assert len(out) == small_docs.count()          # every doc labeled once
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    # doc 4 (one word changed, jaccard ~0.56) stays below 0.8 → singleton
    assert out[4] == (4, 1)
    assert out[5] == (5, 1) and out[6] == (6, 1)   # singletons label themselves


def _leaf_is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.startswith("LocalRelation")


def test_connected_components_fast_path_cap_boundary(spark):
    """The single bounded collect decides the path: a graph with
    exactly ``local_edge_cap`` edges takes the driver union-find (its
    labels are a LocalRelation), one more edge than the cap runs the
    distributed rounds — with identical labels either way."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (5, 5)],
        "id_a long, id_b long")   # 5 distinct oriented non-loop edges
    fast = dedup.connected_components(edges, local_edge_cap=5)
    dist = dedup.connected_components(edges, local_edge_cap=4)
    assert _leaf_is_local_relation(fast)
    assert not _leaf_is_local_relation(dist)
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert {r["node"]: r["component"] for r in fast.collect()} == want
    assert {r["node"]: r["component"] for r in dist.collect()} == want


def test_connected_components_and_dedup_clusters_near_edge_cap(spark):
    """The fast path at its largest size: 199,998 edges (just under the
    default 200k cap) in 22,222 ten-node chains, plus ten documents
    outside every pair.  The labels ride as one LocalRelation; every
    node must land on its chain's min member and ``dedup_clusters``
    must size every cluster and keep the singletons."""
    n_nodes = 222_220
    edges = (spark.range(n_nodes).where(F.col("id") % 10 != 9)
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 1).alias("id_b")))
    labels = dedup.connected_components(edges)
    assert _leaf_is_local_relation(labels)
    bad = labels.where(F.col("component")
                       != F.col("node") - F.col("node") % 10)
    assert labels.count() == n_nodes and bad.count() == 0

    docs = spark.range(n_nodes + 10).withColumnRenamed("id", "doc_id")
    out = dedup.dedup_clusters(docs, edges)
    sizes = {r["cluster_size"]: r["n"] for r in
             out.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert sizes == {10: n_nodes, 1: 10}
    wrong = out.where(F.col("cluster_id")
                      != F.when(F.col("doc_id") < n_nodes,
                                F.col("doc_id") - F.col("doc_id") % 10)
                      .otherwise(F.col("doc_id")))
    assert wrong.count() == 0


def test_repetition_features(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y x y"), (3, ""), (4, "solo")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in text.repetition_features(docs).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4 and r1["distinct_ratio"] == 0.5
    assert r1["top_word_frac"] == 0.75          # 'a' 3 of 4
    assert r1["top_bigram_frac"] == 2 / 3       # 'a a' 2 of 3
    assert r1["max_run"] == 3
    r2 = out[2]
    assert r2["distinct_ratio"] == 0.5 and r2["max_run"] == 1
    assert r2["top_bigram_frac"] == 2 / 3       # 'x y' twice of 3
    assert out[3] == {"doc_id": 3, "n_tokens": 0, "distinct_ratio": 0.0,
                      "top_word_frac": 0.0, "top_bigram_frac": 0.0, "max_run": 0}
    r4 = out[4]
    assert r4["n_tokens"] == 1 and r4["top_word_frac"] == 1.0
    assert r4["top_bigram_frac"] == 0.0 and r4["max_run"] == 1


def _repetition_reference(text_value):
    """Pure-Python repetition_features: Spark's trim strips spaces only,
    and its split regex \\s is the ASCII whitespace class."""
    import re

    t = (text_value or "").strip(" ").lower()
    toks = re.split(r"[ \t\n\x0b\f\r]+", t)
    n = 0 if t == "" else len(toks)
    if n == 0:
        return {"n_tokens": 0, "distinct_ratio": 0.0, "top_word_frac": 0.0,
                "top_bigram_frac": 0.0, "max_run": 0}
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    run = best = 0
    for i, w in enumerate(toks):
        run = run + 1 if i and w == toks[i - 1] else 1
        best = max(best, run)
    return {"n_tokens": n,
            "distinct_ratio": len(set(toks)) / n,
            "top_word_frac": max(toks.count(w) for w in set(toks)) / n,
            "top_bigram_frac": (max(bigrams.count(g) for g in set(bigrams))
                                / len(bigrams)) if bigrams else 0.0,
            "max_run": best}


def test_repetition_features_match_reference(spark):
    """repetition_features equals a pure-Python reference exactly — on a
    300-token document, whitespace-only and NULL text (scored as the
    empty doc, never dropped) and 50 real documents."""
    long_doc = " ".join(["tok%d" % (i % 37) for i in range(300)])
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y x y"), (3, ""), (4, "solo"),
         (5, long_doc), (6, "  "), (7, "r r r r r r"), (8, None)],
        "doc_id long, text string").union(
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(50)
        .withColumn("doc_id", F.col("doc_id") + 1000))
    want = {r["doc_id"]: {"doc_id": r["doc_id"], **_repetition_reference(r["text"])}
            for r in docs.collect()}
    got = {r["doc_id"]: r.asDict() for r in text.repetition_features(docs).collect()}
    assert len(want) == 58 and got == want


def test_trained_centroids_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    centroids = similarity.train_centroids(emb, k=10, max_iter=10)
    assert len(centroids) == 10 and len(centroids[0]) == 64
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = similarity.brute_force_topk(emb, q, k=3).collect()
    ivf = similarity.ivf_topk(emb, q, centroids, k=3, nprobe=3).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    iset = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    assert len(iset & bset) / len(bset) >= 0.6  # nprobe=3 of 10 trained cells


def test_token_rarity_semantics(spark):
    docs = spark.createDataFrame(
        [(1, "common common rare1"), (2, "common rare2"), (3, "common"), (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in text.token_rarity(docs).collect()}
    # df: common=3 docs, rare1=1, rare2=1; n_docs=4, half=2.0
    r1 = out[1]
    assert r1["n_tokens"] == 3
    assert r1["mean_df"] == (3 + 3 + 1) / 3
    assert r1["min_df"] == 1 and r1["max_df"] == 3
    assert r1["common_frac"] == 2 / 3          # two 'common' instances of 3
    assert out[3]["common_frac"] == 1.0 and out[3]["mean_df"] == 3.0
    assert out[4]["n_tokens"] == 0 and out[4]["mean_df"] == 0.0
    assert out[4]["min_df"] is None


def test_chunk_documents_boundaries(spark):
    from basic_data_fusion_spark.operators.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, words), (2, "a b c"), (3, "")],
                                 "doc_id long, text string")
    out = sorted((r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
                 for r in chunk_documents(docs, chunk_tokens=4).collect())
    assert out == [
        (1, 0, 4, "w0 w1 w2 w3"), (1, 1, 4, "w4 w5 w6 w7"), (1, 2, 2, "w8 w9"),
        (2, 0, 3, "a b c"),
    ]  # doc 3 (empty) yields no chunks


def test_pack_sequences_contiguous_fill(spark):
    from basic_data_fusion_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i"), (4, "j")],
        "doc_id long, text string")  # token counts 3, 2, 4, 1
    got = {r["doc_id"]: r["pack_id"]
           for r in pack_sequences(docs, budget=4).collect()}
    # offsets: 0, 3, 5, 9 → packs 0, 0, 1, 2
    assert got == {1: 0, 2: 0, 3: 1, 4: 2}


def test_cross_corpus_overlap_detects_leak(spark):
    leak = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [(1, leak), (2, "completely different content about engines")],
        "doc_id long, text string")
    eval_df = spark.createDataFrame(
        [(100, leak), (101, "unrelated benchmark question text")],
        "doc_id long, text string")
    hits = dedup.cross_corpus_overlap(train, eval_df, n=3, min_common=5).collect()
    assert [(r["train_id"], r["eval_id"]) for r in hits] == [(1, 100)]


def test_tfidf_terms_ranking_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple banana shared"), (2, "shared cherry"), (3, "")],
        "doc_id long, text string")
    out = text.tfidf_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 3 is empty -> no rows at all
    assert set(by_doc) == {1, 2}
    d1 = sorted(by_doc[1], key=lambda r: r["rnk"])
    # apple: tf=2 df=1 score=2*3/1=6 ; banana: tf=1 df=1 score=3 ;
    # shared: tf=1 df=2 score=1.5 -> top2 = apple, banana
    assert [r["token"] for r in d1] == ["apple", "banana"]
    assert d1[0]["tf"] == 2 and d1[0]["df"] == 1 and d1[0]["score"] == 6.0
    d2 = sorted(by_doc[2], key=lambda r: r["rnk"])
    # cherry (3.0) beats shared (1.5); equal-score ties fall back to token asc
    assert [r["token"] for r in d2] == ["cherry", "shared"]


def test_token_diversity_bounds_and_empties(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in text.token_diversity(docs).collect()}
    assert out[1]["simpson"] == 0.0                       # degenerate: one type
    assert out[2]["simpson"] == 1 - 4 / 16                # uniform over 4 types
    assert out[2]["n_distinct"] == 4
    assert out[3]["n_tokens"] == 0 and out[3]["simpson"] is None


def test_semantic_dedup_planted_duplicates(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-identical copy with a HIGHER id → must be dropped
        rows.append((100 + i, [float(x) for x in v + rng.normal(0, 0.005, 64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r.asDict() for r in
           similarity.semantic_dedup(df, k=4, threshold=0.99).collect()}
    assert len(out) == 24                      # one row per input vector
    for i in range(12):
        assert out[i]["keep"] is True          # lowest id of each pair survives
        assert out[100 + i]["keep"] is False   # its planted copy is dropped
        # copy lands in the same k-means cell as its original (they are
        # ~identical vectors), which is what makes the within-cell
        # comparison complete for true near-dups
        assert out[100 + i]["cell"] == out[i]["cell"]


def test_semantic_dedup_deterministic(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    a = sorted(similarity.semantic_dedup(emb, k=8).collect())
    b = sorted(similarity.semantic_dedup(emb, k=8).collect())
    assert a == b  # seeded k-means + id-ordered greedy → stable output


def test_strip_high_df_tokens_semantics(spark):
    docs = spark.createDataFrame(
        [(1, "common noise alpha common"),   # 'common' df=3/4 > 0.5 → banned
         (2, "common beta"),
         (3, "Common gamma  beta"),          # lowercase fold; multi-space
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           text.strip_high_df_tokens(docs, max_df_frac=0.5).collect()}
    # df: common=3, beta=2, others=1; n_docs=4 → banned = {common} (3 > 2.0)
    assert out[1] == {"doc_id": 1, "clean_text": "noise alpha",
                      "n_tokens": 4, "n_removed": 2}
    assert out[2] == {"doc_id": 2, "clean_text": "beta",
                      "n_tokens": 2, "n_removed": 1}
    assert out[3] == {"doc_id": 3, "clean_text": "gamma beta",
                      "n_tokens": 3, "n_removed": 1}
    assert out[4] == {"doc_id": 4, "clean_text": "", "n_tokens": 0,
                      "n_removed": 0}


def test_strip_high_df_tokens_all_banned(spark):
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x")], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           text.strip_high_df_tokens(docs, max_df_frac=0.5).collect()}
    for i in (1, 2, 3):
        assert out[i]["clean_text"] == "" and out[i]["n_removed"] == 1


def _backoff_count_col(order):
    return {2: "n_bigrams", 3: "n_trigrams"}.get(order, f"n_{order}grams")


@pytest.mark.parametrize("order", [2, 3, 4])
def test_stupid_backoff_paths_match_reference(spark, order):
    """Every order-n Stupid Backoff level (seen n-gram, each shorter
    context, unigram) and the OOV floor fire on a planted corpus and
    match a generic pure-Python n-gram reference."""
    import hashlib
    import math

    from basic_data_fusion_spark.operators.text import stupid_backoff_lm

    # ids 0..15 → first md5 nibble decides train membership, same rule as
    # the operator; the held-out text walks off the train n-grams one
    # level at a time and ends on unseen words
    train_ids = [i for i in range(16)
                 if int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) < 8]
    assert train_ids and len(train_ids) < 16
    rows = [(i, "a b c d e a b c d e" if i in train_ids else
             "a b c d e zzz b c d e qqq c d e rrr d e sss e ttt uuu")
            for i in range(16)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in stupid_backoff_lm(df, order=order).collect()}

    counts: dict[tuple, int] = {}
    for i in train_ids:
        t = rows[i][1].split()
        for k in range(1, order + 1):
            for g in zip(*[t[j:] for j in range(k)]):
                counts[g] = counts.get(g, 0) + 1
    n = sum(c for g, c in counts.items() if len(g) == 1)

    def alpha_pow(j):  # left-nested α·α·…, as the operator builds it
        p = 1.0
        for _ in range(j):
            p *= 0.4
        return p

    def score(gram):
        """(backoff level, S) — level ``order`` is the OOV floor."""
        for j in range(order):
            if gram[j:] in counts:
                den = counts[gram[j:-1]] if j < order - 1 else n
                return j, alpha_pow(j) * counts[gram[j:]] / den
        return order, alpha_pow(order) / n

    fired = set()
    for i, text_value in rows:
        t = text_value.split()
        grams = list(zip(*[t[j:] for j in range(order)]))
        levels, scores = zip(*[score(g) for g in grams])
        fired |= set(levels)
        ss = sum(int(round(-math.log(s) * 1e8)) for s in scores)
        assert out[i][_backoff_count_col(order)] == len(grams)
        assert abs(out[i]["mean_neg_log_score"] - (ss / 1e8) / len(grams)) < 1e-9, \
            (i, text_value)
    assert fired == set(range(order + 1)), fired
    held = [i for i in range(16) if i not in train_ids]
    assert all(out[i]["mean_neg_log_score"] > out[j]["mean_neg_log_score"]
               for i in held for j in train_ids)


@pytest.mark.parametrize("order", [2, 3, 4])
def test_stupid_backoff_short_docs_null(spark, order):
    """Docs with fewer than ``order`` tokens score NULL with count 0."""
    from basic_data_fusion_spark.operators.text import stupid_backoff_lm

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, " ".join(["w"] * (order - 1))),
         (5, " ".join(["w"] * order))],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in stupid_backoff_lm(df, order=order).collect()}
    count_col = _backoff_count_col(order)
    for i in (1, 2, 3, 4):
        assert out[i][count_col] == 0 and out[i]["mean_neg_log_score"] is None
    assert out[5][count_col] == 1


def test_stupid_backoff_rejects_order_below_two(spark):
    from basic_data_fusion_spark.operators.text import stupid_backoff_lm

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        stupid_backoff_lm(df, order=1)


def test_perplexity_buckets_balanced_and_ordered(spark):
    from basic_data_fusion_spark.operators.text import perplexity_buckets

    rows = [(i, " ".join(["common"] * 5 + [f"rare{i}"] * (i % 4)), "en")
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = perplexity_buckets(df).collect()
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # NTILE: bucket sizes differ by at most 1
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == 30
    # head has uniformly lower-or-equal surprisal than tail
    assert max(r["mean_surprisal"] for r in by_bucket[1]) <= \
        min(r["mean_surprisal"] for r in by_bucket[3])
    labels = {r["bucket"]: r["bucket_label"] for r in out}
    assert labels == {1: "head", 2: "middle", 3: "tail"}


def test_bm25_matches_python_reference(spark):
    import math

    from basic_data_fusion_spark.operators.text import bm25_topk

    corpus = [
        (0, "spark query join spark spark"),
        (1, "query engine design"),
        (2, "join order optimization join"),
        (3, "unrelated words entirely here"),
        (4, "spark"),
        (5, ""),
    ]
    terms = ["spark", "join"]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = [(r["doc_id"], r["n_terms_matched"], r["bm25_score"])
           for r in bm25_topk(df, terms, k=3).collect()]

    docs = {i: t.split() for i, t in corpus}
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n_docs
    k1, b = 1.2, 0.75
    dfreq = {t: sum(1 for d in docs.values() if t in d) for t in terms}
    scores = {}
    for i, toks in docs.items():
        s = 0
        m = 0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            m += 1
            idf = math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += int(round(idf * tf * (k1 + 1.0)
                           / (tf + k1 * (1 - b + b * len(toks) / avgdl)) * 1e8))
        if m:
            scores[i] = (m, s)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:3]
    assert got == [(i, m, s / 1e8) for i, (m, s) in expect]
    # doc 0 (3×spark + join ... ) must outrank the single-term docs
    assert got[0][0] == 0


def test_pq_encode_matches_numpy(spark):
    """PQ codes from the JVM expression match a numpy argmin over the same
    codebooks exactly (first-min tie-break)."""
    import numpy as np

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    books = similarity.train_pq_codebooks(emb, m=8, ksub=16, sample=200,
                                          max_iter=5)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    got = {r["vec_id"]: list(r["codes"])
           for r in similarity.pq_encode(emb, books).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    b = np.array(books)  # m × ksub × dsub
    for r in rows:
        v = np.array(list(r["embedding"]), dtype=np.float64).reshape(8, 8)
        expect = [int(((v[s][None, :] - b[s]) ** 2).sum(axis=1).argmin())
                  for s in range(8)]
        assert got[r["vec_id"]] == expect, r["vec_id"]


def test_pq_topk_recall_and_determinism(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    books = similarity.train_pq_codebooks(emb, m=16, ksub=256, sample=500,
                                          max_iter=8)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # exact-L2 ground truth (PQ/ADC approximates L2, not cosine)
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    bset = set()
    for r in rows:
        if r["vec_id"] >= 20:
            continue
        d2 = ((x - np.array(list(r["embedding"]))) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        for j in order[:3]:
            bset.add((r["vec_id"], int(ids[j])))
    pq = similarity.pq_topk(emb, q, books, k=3).collect()
    pset = {(r["query_id"], r["neighbor_id"]) for r in pq}
    # 16 subspaces × 256 codes (the standard PQ shape): measured 0.82
    # recall@3 vs exact L2 on this fixture; the bar leaves jitter room
    assert len(pset & bset) / len(bset) >= 0.7
    # deterministic across partitionings
    again = similarity.pq_topk(emb.repartition(7), q, books, k=3).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in again} == \
        {(r["query_id"], r["neighbor_id"], r["rank"]) for r in pq}


def test_pq_codebooks_deterministic_and_bounded(spark):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    b1 = similarity.train_pq_codebooks(emb, m=4, ksub=8, sample=100)
    b2 = similarity.train_pq_codebooks(emb.repartition(5), m=4, ksub=8,
                                       sample=100)
    assert b1 == b2  # md5-ranked sample is partitioning-independent
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16


def test_incremental_dedup_reasons(spark):
    existing = spark.createDataFrame(
        [(100, "standing corpus doc"), (101, "another   OLD doc")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "Standing  corpus DOC"),   # dup of corpus after normalize
         (2, "fresh content a"),
         (3, "fresh content a"),        # in-batch dup of 2 (min-id wins)
         (4, "fresh content b"),
         (5, None)],                    # NULL ≡ empty, unique here
        "doc_id long, text string")
    out = {r["doc_id"]: (r["keep"], r["reason"])
           for r in dedup.incremental_exact_dedup(existing, batch).collect()}
    assert out[1] == (False, "dup_of_corpus")
    assert out[2] == (True, "unique")
    assert out[3] == (False, "dup_in_batch")
    assert out[4] == (True, "unique")
    assert out[5] == (True, "unique")
    assert len(out) == 5  # NULL-text rows must not drop out of the join


def test_token_budget_mix_rates_and_determinism(spark):
    from basic_data_fusion_spark.operators.selection import token_budget_mix

    rows = []
    for i in range(200):
        src = ["web", "code", "books"][i % 3]
        rows.append((i, " ".join(["tok"] * 10), src))   # 10 tokens each
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    budget = 400
    out = token_budget_mix(df, budget_tokens=budget,
                           weights={"web": 0.5, "code": 0.25},
                           default_weight=0.0).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # closed-form rates: T_web = 67*10, T_code = 67*10, T_books = 66*10
    n_web = len(by_src["web"])
    assert all(abs(r["keep_rate"] - min(1.0, budget * 0.5 / (n_web * 10))) < 1e-12
               for r in by_src["web"])
    # default weight 0 → excluded source keeps nothing
    assert not any(r["keep"] for r in by_src["books"])
    assert all(r["keep_rate"] == 0.0 for r in by_src["books"])
    # kept token mass ≈ budget share (hash-uniform draw, 200 docs → loose)
    kept_web = sum(r["n_tokens"] for r in by_src["web"] if r["keep"])
    assert 0 < kept_web <= n_web * 10
    # partitioning-independent
    again = token_budget_mix(df.repartition(7), budget_tokens=budget,
                             weights={"web": 0.5, "code": 0.25},
                             default_weight=0.0).collect()
    assert {(r["doc_id"], r["keep"]) for r in again} == \
        {(r["doc_id"], r["keep"]) for r in out}


def test_bloom_build_and_probe_properties(spark):
    """No false negatives ever; false-positive rate within ~3x of the
    closed-form (1-e^{-kn/m})^k bound on a disjoint probe set."""
    import math

    keys = spark.createDataFrame([(f"member{i}",) for i in range(500)], ["s"])
    m, k = 1 << 14, 5
    bm = dedup.bloom_build(keys, "s", m_bits=m, k_hashes=k)
    assert len(bm) == m // 64
    probe = spark.createDataFrame(
        [(f"member{i}",) for i in range(500)]
        + [(f"other{i}",) for i in range(4000)], ["s"])
    res = {r["s"]: r["hit"] for r in probe.withColumn(
        "hit", dedup.bloom_might_contain(F.col("s"), bm, m, k)).collect()}
    assert all(res[f"member{i}"] for i in range(500)), "false negative!"
    fp = sum(res[f"other{i}"] for i in range(4000)) / 4000
    bound = (1 - math.exp(-k * 500 / m)) ** k
    assert fp <= max(3 * bound, 0.01), (fp, bound)


def test_bloom_decontaminate_flags_planted_leak(spark):
    held = spark.createDataFrame(
        [(900, "the secret benchmark question about rivers")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "totally clean training text with no overlap whatsoever"),
         (2, "contains the secret benchmark question about rivers verbatim"),
         (3, "another clean document entirely different words")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.bloom_decontaminate(train, held, n=3).collect()}
    assert out[2]["contaminated"] and out[2]["n_flagged"] >= 3
    assert not out[1]["contaminated"] and not out[3]["contaminated"]
    # bloom candidates are a superset of the exact-join tier (no FNs)
    exact = {r["train_id"] for r in dedup.cross_corpus_overlap(
        train, held, n=3, min_common=1).collect()}
    flagged = {i for i, r in out.items() if r["contaminated"]}
    assert exact <= flagged


def test_ivfpq_refine_improves_recall(spark):
    """IVF-PQ composition: nprobe cells bound candidates, ADC orders
    them, exact re-rank on the shortlist must match-or-beat raw ADC
    recall vs exact-L2 ground truth."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    centroids = similarity.train_centroids(emb, k=10, max_iter=10)
    books = similarity.train_pq_codebooks(emb, m=16, ksub=64, sample=500,
                                          max_iter=8)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    truth = set()
    for r in rows:
        if r["vec_id"] >= 20:
            continue
        d2 = ((x - np.array(list(r["embedding"]))) ** 2).sum(axis=1)
        for j in np.lexsort((ids, d2))[:3]:
            truth.add((r["vec_id"], int(ids[j])))
    adc = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.ivfpq_topk(emb, q, centroids, books, k=3,
                                 nprobe=4).collect()}
    ref = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.ivfpq_topk(emb, q, centroids, books, k=3, nprobe=4,
                                 refine=4).collect()}
    r_adc = len(adc & truth) / len(truth)
    r_ref = len(ref & truth) / len(truth)
    assert r_ref >= r_adc, (r_adc, r_ref)
    assert r_ref >= 0.6, (r_adc, r_ref)
    # exact counts per query
    per_q = {}
    for qid, _ in ref:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert all(v == 3 for v in per_q.values())


def test_exactsubstr_preserves_case_of_survivors(spark):
    """Matching is case-insensitive but clean_text rebuilds from the
    ORIGINAL-case tokens — a doc with no duplicated spans must come back
    with its casing intact (reviewer finding: the old rebuild lowercased
    the whole corpus)."""
    span = "one two three four five six"
    rows = [(1, f"Unique PREFIX Alpha {span}"),
            (2, f"Different Start Bravo {span.upper()}"),  # case-insensitive dup
            (3, "Totally Clean Doc With Mixed CASE words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.exact_substring_dedup(df, window=6, min_docs=2).collect()}
    # doc 3 untouched: original casing preserved
    assert out[3]["clean_text"] == "Totally Clean Doc With Mixed CASE words here"
    assert out[3]["n_removed"] == 0
    # the shared span is removed from both (matched case-insensitively),
    # survivors keep their original case
    assert out[1]["n_removed"] == 6 and out[2]["n_removed"] == 6
    assert out[1]["clean_text"].startswith("Unique PREFIX Alpha")
    assert "one" not in out[1]["clean_text"]
    assert out[2]["clean_text"].startswith("Different Start Bravo")


def test_token_budget_mix_null_source_not_dropped(spark):
    from basic_data_fusion_spark.operators.selection import token_budget_mix

    rows = [(1, "a b c", "web"), (2, "d e f", None), (3, "g h", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in
           token_budget_mix(df, budget_tokens=100,
                            weights={"web": 1.0}, default_weight=1.0).collect()}
    assert len(out) == 3, "NULL-source docs must not drop out of the join"
    assert out[2]["source"] is None and out[2]["keep_rate"] == 1.0
    assert out[2]["keep"] and out[3]["keep"]


def test_bloom_decontaminate_null_text_is_empty(spark):
    held = spark.createDataFrame([(9, "x y z")], "doc_id long, text string")
    train = spark.createDataFrame([(1, None), (2, "clean words only here")],
                                  "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.bloom_decontaminate(train, held, n=3).collect()}
    assert out[1]["contaminated"] is not None  # NULL must not propagate
    assert out[1]["n_shingles"] is not None


def test_bm25_normalizes_query_terms(spark):
    from basic_data_fusion_spark.operators.text import bm25_topk

    df = spark.createDataFrame([(0, "spark join engine"), (1, "other words")],
                               "doc_id long, text string")
    got = bm25_topk(df, ["  Spark ", "JOIN", ""], k=2).collect()
    assert [r["doc_id"] for r in got] == [0]
    assert got[0]["n_terms_matched"] == 2


def test_incremental_minhash_dedup_planted(spark):
    """Fuzzy incremental tier: a new doc that near-duplicates a standing
    doc links to it; unrelated new docs do not; recall equals a batch
    minhash run restricted to (new × existing) pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lamda mu nu xi omicron pi rho sigma tau upsilon"
    existing = spark.createDataFrame(
        [(100, base), (101, "standing corpus completely different text here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base.replace("delta", "DELTA2")),      # near dup of 100
         (2, "brand new unrelated content entirely fresh words")],
        "doc_id long, text string")
    got = {(r["new_id"], r["existing_id"]): r["jaccard"] for r in
           dedup.incremental_minhash_dedup(existing, new,
                                           threshold=0.5).collect()}
    assert (1, 100) in got and got[(1, 100)] >= 0.5
    assert not any(nid == 2 for nid, _ in got)
    # parity vs the batch tier restricted to cross-corpus pairs
    both = existing.union(new)
    batch = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
             for r in dedup.minhash_dedup_pairs(both, threshold=0.5).collect()
             if (r["id_a"] < 100) != (r["id_b"] < 100)}
    got_pairs = {(min(a, b), max(a, b)) for a, b in got}
    assert got_pairs == batch


def test_incremental_minhash_persisted_index_parity(spark):
    """The persisted-index hooks (existing_sig / existing_shingles —
    the steady-state shape where the standing corpus is never re-read
    as text) produce the identical link set to the recompute path, and
    the hooked plan does not rescan the existing side's text."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lamda mu nu xi omicron pi rho sigma tau upsilon"
    existing = spark.createDataFrame(
        [(100, base), (101, "standing corpus completely different text here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base.replace("delta", "DELTA2")),
         (2, "brand new unrelated content entirely fresh words")],
        "doc_id long, text string")
    recompute = {(r["new_id"], r["existing_id"]): r["jaccard"] for r in
                 dedup.incremental_minhash_dedup(
                     existing, new, threshold=0.5).collect()}
    # "persisted" index: the same relations the operator would build,
    # materialized once (as a store would hold them)
    sig = dedup.minhash_signatures(existing, "text", "doc_id", 3, 64, 42)
    sh = existing.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("shingles"))
    hooked_df = dedup.incremental_minhash_dedup(
        existing, new, threshold=0.5,
        existing_sig=sig.localCheckpoint(),
        existing_shingles=sh.localCheckpoint())
    hooked = {(r["new_id"], r["existing_id"]): r["jaccard"]
              for r in hooked_df.collect()}
    assert hooked == recompute and (1, 100) in hooked


def test_banded_composite_split_equals_operator_calls(docs):
    """The banded cluster-maintenance contract builds ONE det-banded
    verified pair relation and splits it by endpoint class (band keys
    are per-doc).  Pin that the split equals the three operator calls
    it stands in for: minhash_dedup_pairs(old), the
    incremental_minhash_dedup(old, batch) index probe, and
    minhash_dedup_pairs(batch)."""
    old = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # the composite's single-relation form
    sets = docs.select("doc_id",
                       dedup.word_shingles(F.col("text"), 3)
                       .alias("shingles"))
    sig = dedup.minhash_signatures(docs, "text", "doc_id", 3, 64, 42,
                                   hash_fn="md5")
    cands = dedup.lsh_candidate_pairs(sig, "doc_id", bands=16,
                                      num_hashes=64, hash_buckets=False)
    a = sets.select(F.col("doc_id").alias("id_a"),
                    F.col("shingles").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"),
                    F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (n_common.cast("double")
           / (F.size("sh_a") + F.size("sh_b") - n_common))
    pairs = {(r["id_a"], r["id_b"]) for r in
             (cands.join(a, "id_a").join(b, "id_b")
              .filter(jac >= F.lit(0.8)).select("id_a", "id_b")
              .collect())}
    new = lambda i: i % 10 == 0
    split_old = {(x, y) for x, y in pairs if not new(x) and not new(y)}
    split_new = {(x, y) for x, y in pairs if new(x) or new(y)}
    # the three operator calls, normalized to (min,max) pairs
    op_old = {(r["id_a"], r["id_b"]) for r in
              dedup.minhash_dedup_pairs(old, threshold=0.8,
                                        deterministic=True).collect()}
    op_cross = {(min(r["new_id"], r["existing_id"]),
                 max(r["new_id"], r["existing_id"])) for r in
                dedup.incremental_minhash_dedup(
                    old, batch, threshold=0.8,
                    deterministic=True).collect()}
    op_within = {(r["id_a"], r["id_b"]) for r in
                 dedup.minhash_dedup_pairs(batch, threshold=0.8,
                                           deterministic=True).collect()}
    assert split_old == op_old
    assert split_new == op_cross | op_within
    assert split_new, "fixture must exercise the merge path"


def _ref_word_shingles(doc: str | None, n: int) -> list[str]:
    """word_shingles in plain Python: lower, strip SPACES only (Spark's
    trim), split on ASCII whitespace runs keeping empty fields (Java's
    ``split(regex, -1)``), slide an n-window, dedup in first-seen order;
    a short or NULL document is one whole-doc shingle."""
    toks = ([] if doc is None
            else re.split(r"[ \t\n\x0b\f\r]+", doc.lower().strip(" ")))
    grams = [" ".join(toks[i:i + n])
             for i in range(max(len(toks) - n + 1, 1))]
    return list(dict.fromkeys(grams))


def test_word_shingles_matches_python_reference(spark):
    """The bound-token-array kernel equals the Python reference on the
    edge cases: NULL, empty, whitespace-only, a leading tab or newline
    (trim strips spaces only, so split keeps a leading empty token),
    1-2 tokens, repeated tokens and mixed whitespace."""
    texts = [None, "", "   ", " \t ", "\tfoo bar baz", "\nfoo bar",
             "one", "one two", "a a a a a", "x y x y x y",
             "The  Quick\tbrown\n\nfox jumps OVER the lazy dog ",
             "  padded words here  ", "trailing tab\t"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    for n in (1, 2, 3, 5):
        got = {r["doc_id"]: r["sh"] for r in df.select(
            "doc_id", dedup.word_shingles(F.col("text"), n).alias("sh"))
            .collect()}
        for i, t in enumerate(texts):
            assert got[i] == _ref_word_shingles(t, n), (n, t)


@pytest.mark.parametrize("deterministic", [False, True])
def test_minhash_dedup_pairs_equals_operator_chain(docs, deterministic):
    """minhash_dedup_pairs signs its pinned shingle sets; its rows equal
    the chain built from the public pieces — minhash_signatures over the
    text, lsh_candidate_pairs, exact verification — on both tiers."""
    hash_fn = "md5" if deterministic else "xxhash64"
    sig = dedup.minhash_signatures(docs, "text", "doc_id", 3, 64, 42,
                                   hash_fn=hash_fn)
    cands = dedup.lsh_candidate_pairs(sig, "doc_id", bands=16,
                                      num_hashes=64,
                                      hash_buckets=not deterministic)
    sets = docs.select("doc_id",
                       dedup.word_shingles(F.col("text"), 3).alias("sh"))
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (n_common.cast("double")
           / (F.size("sh_a") + F.size("sh_b") - n_common))
    want = sorted(tuple(r) for r in
                  cands.join(a, "id_a").join(b, "id_b")
                  .select("id_a", "id_b", jac.alias("jaccard"))
                  .filter(F.col("jaccard") >= 0.5).collect())
    got = sorted(tuple(r) for r in dedup.minhash_dedup_pairs(
        docs, threshold=0.5, deterministic=deterministic).collect())
    assert want and got == want


def test_minhash_det_tier_equals_exact(docs):
    """The md5-based deterministic MinHash tier recalls the same verified
    pair set as the exact jaccard pass (and therefore as the xxhash64
    tier, which has the same guarantee)."""
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()}
    det = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_dedup_pairs(docs, n=3, num_hashes=32, bands=16,
                                     threshold=0.8,
                                     deterministic=True).collect()}
    assert exact and det == exact


def test_simhash_det_tier_subset_and_recall(docs):
    """The md5-based 60-bit simhash tier has the same contract as the
    xxhash64 tier: its pairs are near-dups under jaccard and it recalls
    a reasonable share of the exact near-dup set."""
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.7).collect()}
    det = {(r["id_a"], r["id_b"]) for r in
           dedup.simhash_near_dups_det(docs, max_hamming=3, n=2).collect()}
    assert det, "det simhash should find planted near-dups"
    # simhash gives no hard subset guarantee vs jaccard (dissimilar docs
    # CAN vote to close fingerprints) — assert precision/recall bands
    # instead of exact containment so the test survives fixture changes
    assert len(det & exact) / len(det) >= 0.75
    assert len(det & exact) >= len(exact) // 4


def test_rrf_fuse_hand_computed(spark):
    """Union semantics and exact scores: a doc in both arms sums both
    reciprocal terms, single-arm docs keep one term + NULL rank for the
    missing arm; ties order by id; k truncates."""
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank int")
    b = spark.createDataFrame([(3, 1), (4, 2)], "id long, rank int")
    got = {r["id"]: r for r in
           similarity.rrf_fuse(a, b, id_col="id", k_const=60).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3]["rrf_score"] == 1.0 / 63 + 1.0 / 61
    assert got[1]["rrf_score"] == 1.0 / 61 and got[1]["rank_b"] is None
    assert got[4]["rrf_score"] == 1.0 / 62 and got[4]["rank_a"] is None
    # doc 3 (both arms) outranks every single-arm doc; k=2 keeps 3 then 1
    top = similarity.rrf_fuse(a, b, id_col="id", k_const=60, k=2).collect()
    assert [r["id"] for r in top] == [3, 1]


def test_sq8_topk_recall_and_determinism(spark):
    """int8 scalar quantization preserves exact-L2 neighbors almost
    perfectly (255 levels/dim is a much finer grid than PQ's 16-byte
    codes — recall@3 ≈ 1 on this fixture) and codes/distances are
    partitioning-independent."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    bset = set()
    for r in rows:
        if r["vec_id"] >= 20:
            continue
        d2 = ((x - np.array(list(r["embedding"]))) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        for j in order[:3]:
            bset.add((r["vec_id"], int(ids[j])))
    sq = similarity.sq8_topk(emb, q, k=3, dim=64).collect()
    sset = {(r["query_id"], r["neighbor_id"]) for r in sq}
    assert len(sset & bset) / len(bset) >= 0.9
    again = similarity.sq8_topk(emb.repartition(7), q, k=3, dim=64).collect()
    assert {(r["query_id"], r["neighbor_id"], r["adc_l2"], r["rank"])
            for r in again} == \
        {(r["query_id"], r["neighbor_id"], r["adc_l2"], r["rank"])
         for r in sq}


def test_sq8_encode_bounds_and_degenerate_dim(spark):
    """Codes live in [0,255]; min maps to 0, max to 255; a constant
    dimension codes to 0 everywhere."""
    df = spark.createDataFrame(
        [(1, [0.0, 5.0]), (2, [10.0, 5.0]), (3, [5.0, 5.0])],
        "vec_id long, embedding array<double>")
    b = similarity.sq8_bounds(df, dim=2)
    got = {r["vec_id"]: r["code"] for r in
           similarity.sq8_encode(df, b).collect()}
    assert got[1] == [0, 0] and got[2] == [255, 0]
    assert got[3] == [128, 0]  # round(5*255/10) = round(127.5) half-up


def test_curriculum_order_stage_monotone_and_shuffled(spark):
    """Stages partition by difficulty (every stage-1 score <= every
    stage-2 score, etc.), serve order visits stages in order, and the
    within-stage order is NOT the score order (it's the md5 shuffle)."""
    from basic_data_fusion_spark.operators import selection

    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "doc_id long, score double")
    rows = selection.curriculum_order(df, "score", n_stages=4).collect()
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r)
    assert sorted(by_stage) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in by_stage.values())
    for s in (1, 2, 3):
        assert max(r["score"] for r in by_stage[s]) < \
            min(r["score"] for r in by_stage[s + 1])
    # serve positions are contiguous per stage, stage-major
    for s in (1, 2, 3, 4):
        ps = sorted(r["serve_pos"] for r in by_stage[s])
        assert ps == list(range((s - 1) * 10 + 1, s * 10 + 1))
    # within a stage the serve order differs from plain score order
    order1 = [r["doc_id"] for r in
              sorted(by_stage[1], key=lambda r: r["serve_pos"])]
    assert order1 != sorted(order1)
    # deterministic across partitionings
    again = selection.curriculum_order(df.repartition(7), "score",
                                       n_stages=4).collect()
    assert {(r["doc_id"], r["serve_pos"]) for r in again} == \
        {(r["doc_id"], r["serve_pos"]) for r in rows}


def test_corpus_composition_null_text_and_shares(spark):
    from basic_data_fusion_spark.operators import selection

    df = spark.createDataFrame(
        [(1, "a b c", "en", "web"), (2, None, "en", "web"),
         (3, "x y", "de", "book")],
        "doc_id long, text string, lang string, source string")
    got = {(r["source"], r["lang"]): r for r in
           selection.corpus_composition(df).collect()}
    assert got[("web", "en")]["n_docs"] == 2
    assert got[("web", "en")]["n_tokens"] == 3   # NULL text = empty doc
    assert got[("book", "de")]["n_tokens"] == 2
    assert got[("web", "en")]["pct_tokens"] == 3 / 5
    assert sum(r["pct_tokens"] for r in got.values()) == pytest.approx(1.0)


def test_label_cohesion_geometry(spark):
    """Tight cluster -> mean cosine near 1; antipodal members -> near
    0 mean cosine against a near-zero centroid is ill-posed, so use a
    spread cluster instead and check ordering; centroid norm matches
    numpy; partitioning-independent."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    tight = [(i, 0, [float(x) for x in base + rng.normal(0, 0.01, 8)])
             for i in range(20)]
    spread = [(i + 100, 1, [float(x) for x in rng.standard_normal(8)])
              for i in range(20)]
    df = spark.createDataFrame(tight + spread,
                               "vec_id long, label int, embedding array<double>")
    got = {r["label"]: r for r in
           similarity.label_cohesion(df, "label", "embedding", dim=8).collect()}
    assert got[0]["n"] == 20 and got[1]["n"] == 20
    assert got[0]["mean_cosine"] > 0.999
    assert got[0]["mean_cosine"] > got[1]["mean_cosine"]
    cent = np.mean([np.round(np.array(v) * 1e6) / 1e6 for _, _, v in tight],
                   axis=0)
    assert got[0]["centroid_norm"] == pytest.approx(
        float(np.linalg.norm(cent)), rel=1e-5)
    again = {r["label"]: r["mean_cosine"] for r in
             similarity.label_cohesion(df.repartition(7), "label",
                                       "embedding", dim=8).collect()}
    assert again == {k: r["mean_cosine"] for k, r in got.items()}


def test_winnow_fingerprints_guarantee_and_density(spark):
    """Winnowing contract: any shared substring of >= w+k-1 tokens
    yields a shared fingerprint; selection density ~2/(w+1); short/NULL
    docs yield nothing; pure-python differential on the exact
    pos/fp sets."""
    import hashlib

    shared = "the quick brown fox jumps over the lazy dog tonight"
    d1 = "alpha beta " + shared + " gamma delta epsilon"
    d2 = "one two three four " + shared + " five six"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, "too short"), (4, None)],
        "doc_id long, text string")
    rows = text.winnow_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    assert 3 not in by_doc and 4 not in by_doc
    # shared >= w+k-1 = 6 tokens -> at least one common fp value
    fps1 = {fp for _, fp in by_doc[1]}
    fps2 = {fp for _, fp in by_doc[2]}
    assert fps1 & fps2

    def python_winnow(doc, k=3, w=4):
        t = doc.lower().split()
        m = len(t) - k + 1
        hs = [int(hashlib.md5(" ".join(t[i:i + k]).encode())
                  .hexdigest()[:8], 16) for i in range(m)]
        out = set()
        for j in range(max(m - w + 1, 1)):
            s = hs[j:j + w]
            mn = min(s)
            rel = len(s) - 1 - s[::-1].index(mn)
            out.add((j + rel + 1, mn))
        return out

    assert by_doc[1] == python_winnow(d1)
    assert by_doc[2] == python_winnow(d2)
    # density: selected <= windows, roughly 2/(w+1) of shingles
    n_shingles = len(d1.split()) - 2
    assert len(by_doc[1]) <= n_shingles
    assert len(by_doc[1]) >= n_shingles // (4 + 1)


def test_winnow_overlap_pairs_planted(spark):
    """Docs sharing a long span pair up; unrelated docs don't; the
    ordering id_a < id_b holds."""
    shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    df = spark.createDataFrame(
        [(1, "intro words " + shared),
         (2, shared + " closing words here"),
         (3, "completely different text about spark query engines today"),
         (4, "another unrelated document mentioning nothing in common")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
             text.winnow_overlap_pairs(df, k=3, w=4, min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(a < b for a, b in pairs)
    assert (3, 4) not in pairs


def test_distinctive_terms_llr(spark):
    """G2 matches a pure-python Dunning computation with the same 8-dp
    quantization; a term exclusive to the flagged slice tops the
    ranking with positive keyness; a balanced term scores ~0."""
    import math

    docs = ([(i, "quantum flux " + "common words here", "en")
             for i in range(10)]
            + [(100 + i, "boring prose common words here", "de")
               for i in range(10)])
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    rows = text.distinctive_terms(df, F.col("lang") == "en",
                                  min_count=5, k=20).collect()
    by_term = {r["term"]: r for r in rows}
    assert by_term["quantum"]["keyness"] > 0
    assert by_term["boring"]["keyness"] < 0
    assert by_term["common"]["g2"] == 0.0  # perfectly balanced

    # python reference for one term
    a, b = 10, 0          # 'quantum': only in the en slice
    A = sum(len(t.split()) for _, t, l in docs if l == "en")
    B = sum(len(t.split()) for _, t, l in docs if l != "en")
    ea = A * (a + b) / (A + B)
    g2 = 2.0 * round(a * math.log(a / ea) * 1e8) / 1e8
    assert by_term["quantum"]["g2"] == pytest.approx(g2, abs=1e-8)


def test_source_overlap_granularities(spark):
    """Document granularity catches exact cross-source copies; shingle
    granularity catches shared phrases; jaccard uses distinct-key
    sets; a<b ordering; unrelated sources absent."""
    shared_doc = "identical page content reproduced verbatim elsewhere"
    phrase = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, shared_doc, "web"), (2, shared_doc, "news"),
         (3, "intro " + phrase + " outro", "web"),
         (4, phrase + " completely different tail", "books"),
         (5, "nothing in common at all here", "forums")],
        "doc_id long, text string, source string")
    docs = {(r["source_a"], r["source_b"]): r for r in
            dedup.source_overlap(df, granularity="document",
                                 min_shared=1).collect()}
    assert ("news", "web") in docs and docs[("news", "web")]["n_shared"] == 1
    assert all(a < b for a, b in docs)

    sh = {(r["source_a"], r["source_b"]): r for r in
          dedup.source_overlap(df, granularity="shingle", n=5,
                               min_shared=1).collect()}
    assert ("books", "web") in sh  # the 7-token phrase shares 5-shingles
    assert sh[("books", "web")]["n_shared"] == 3  # 7-5+1 shared windows
    assert all("forums" not in pair for pair in sh)
    r = sh[("books", "web")]
    assert r["jaccard"] == r["n_shared"] / (r["n_a"] + r["n_b"] - r["n_shared"])


def test_js_divergence_properties(spark):
    """Identical slices -> 0; disjoint vocabularies -> ln 2; symmetric
    in the flag; matches a pure-python computation with the same 12-dp
    quantization."""
    import math

    same = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "alpha beta gamma", "de")],
        "doc_id long, text string, lang string")
    r = text.js_divergence(same, F.col("lang") == "en").collect()[0]
    assert r["js_nats"] == 0.0

    disjoint = spark.createDataFrame(
        [(1, "aa bb cc", "en"), (2, "xx yy zz", "de")],
        "doc_id long, text string, lang string")
    r = text.js_divergence(disjoint, F.col("lang") == "en").collect()[0]
    assert r["js_nats"] == pytest.approx(math.log(2), abs=1e-9)

    mixed = spark.createDataFrame(
        [(1, "a a b", "en"), (2, "a c c c", "de")],
        "doc_id long, text string, lang string")
    r1 = text.js_divergence(mixed, F.col("lang") == "en").collect()[0]
    r2 = text.js_divergence(mixed, F.col("lang") == "de").collect()[0]
    assert r1["js_nats"] == pytest.approx(r2["js_nats"], abs=1e-12)

    pa = {"a": 2 / 3, "b": 1 / 3, "c": 0.0}
    pb = {"a": 1 / 4, "b": 0.0, "c": 3 / 4}
    q12 = lambda x: round(x * 1e12) / 1e12
    js = sum(q12(pa[t] * math.log(pa[t] / ((pa[t] + pb[t]) / 2)))
             for t in pa if pa[t] > 0)
    js += sum(q12(pb[t] * math.log(pb[t] / ((pa[t] + pb[t]) / 2)))
              for t in pb if pb[t] > 0)
    assert r1["js_nats"] == pytest.approx(js / 2, abs=1e-11)
    assert 0.0 < r1["js_nats"] < math.log(2)


def test_winnow_overlap_max_df_guard(spark):
    """A fingerprint shared by more docs than max_df is dropped before
    pairing (quadratic-blowup guard); rare shared spans still pair."""
    boiler = "this footer appears on every single page of the site"
    rare = "unique plagiarized passage copied exactly once more"
    rows = [(i, boiler + f" filler {i} {i} {i}") for i in range(6)]
    rows += [(100, "intro " + rare), (101, rare + " outro")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["id_a"], r["id_b"]) for r in
              text.winnow_overlap_pairs(df, min_shared=1,
                                        max_df=3).collect()}
    assert (100, 101) in capped
    assert not any(a < 6 and b < 6 for a, b in capped), \
        "boilerplate-only pairs must be suppressed by the df cap"
    uncapped = {(r["id_a"], r["id_b"]) for r in
                text.winnow_overlap_pairs(df, min_shared=1,
                                          max_df=None).collect()}
    assert any(a < 6 and b < 6 for a, b in uncapped)


def test_hll_sketch_tier_and_merge(spark):
    """HLL estimates land within the lg_k=12 error band of exact
    counts, and the MERGE of per-source sketches equals the
    whole-corpus sketch estimate exactly (mergeability — the rollup
    contract that makes the tier useful at scale)."""
    from basic_data_fusion_spark.operators import aggregations as agg

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    est = agg.hll_distinct_counts(
        orders, ["o_custkey", "o_orderstatus"]).collect()[0]
    exact_ck = orders.select("o_custkey").distinct().count()
    assert abs(est["o_custkey_approx_distinct"] - exact_ck) <= 0.05 * exact_ck
    assert est["o_orderstatus_approx_distinct"] == 3  # tiny = exact

    parts = agg.hll_partitioned_sketches(orders, "o_orderstatus",
                                         "o_custkey")
    assert parts.count() == 3
    merged = agg.hll_merge_estimate(parts).collect()[0]["merged_distinct"]
    whole = agg.hll_distinct_counts(orders, ["o_custkey"]) \
        .collect()[0]["o_custkey_approx_distinct"]
    assert merged == whole  # sketch union == sketch of union


def test_approx_heavy_hitters_matches_exact_small_space(spark):
    """On a key space that fits the sketch the approx top-k equals the
    exact grouped counts."""
    from basic_data_fusion_spark.operators import aggregations as agg

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    got = {(r["item"], r["approx_count"]) for r in
           agg.approx_heavy_hitters(li, "l_returnflag", k=3).collect()}
    exact = {(r["l_returnflag"], r["n"]) for r in
             li.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exact


def test_keyness_and_jsd_degenerate_empty_slice(spark):
    """ANSI-mode degenerate contract (advice r4): an empty flag slice
    (or empty complement) must NOT raise DIVIDE_BY_ZERO.  Keyness
    direction is undefined there -> NULL; JSD of a zero distribution
    vs the corpus collapses to the ln 2 bound."""
    import math

    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "alpha delta", "en")],
        "doc_id long, text string, lang string")
    # flag slice empty (A=0)
    rows = text.distinctive_terms(df, F.lit(False), min_count=1,
                                  k=10).collect()
    assert rows and all(r["keyness"] is None for r in rows)
    assert all(r["n_in"] == 0 for r in rows)
    r = text.js_divergence(df, F.lit(False)).collect()[0]
    assert r["js_nats"] == pytest.approx(math.log(2) / 2, abs=1e-9)
    assert r["n_tokens_in"] == 0
    # complement empty (B=0) — symmetric case
    rows = text.distinctive_terms(df, F.lit(True), min_count=1,
                                  k=10).collect()
    assert rows and all(r["keyness"] is None for r in rows)
    r = text.js_divergence(df, F.lit(True)).collect()[0]
    assert r["js_nats"] == pytest.approx(math.log(2) / 2, abs=1e-9)


def test_bloom_det_tier_no_false_negatives_and_matches_python(spark):
    """Deterministic Bloom tier (md5-hex15 bit positions): planted
    leaks are always flagged (no false negatives), and every bit
    position matches a pure-python md5 replay of the same
    construction."""
    import hashlib

    held = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, "prefix the quick brown fox jumps suffix words"),  # leak
         (11, "completely unrelated clean document body here")],
        "doc_id long, text string")
    m, k = 1 << 14, 3
    got = {r["doc_id"]: r for r in
           dedup.bloom_decontaminate(train, held, n=3, m_bits=m,
                                     k_hashes=k,
                                     deterministic=True).collect()}
    assert got[10]["contaminated"]          # planted leak flagged
    assert got[10]["n_flagged"] >= 3        # its shared 3-grams all hit

    # python replay of the bit construction for one shingle
    def bit(seed, shingle):
        h = int(hashlib.md5(f"{seed}:{shingle}".encode()).hexdigest()[:15],
                16)
        return h % m
    bits = set()
    toks = "the quick brown fox jumps over the lazy dog".split()
    for i in range(len(toks) - 2):
        sh = " ".join(toks[i:i + 3])
        for j in range(k):
            bits.add(bit(j, sh))
    bm = dedup.bloom_build(
        spark.createDataFrame([(s,) for s in
                               {" ".join(toks[i:i + 3])
                                for i in range(len(toks) - 2)}],
                              "s string"),
        "s", m_bits=m, k_hashes=k, deterministic=True)
    set_bits = {w * 64 + b for w, word in enumerate(bm)
                for b in range(64) if (word >> b) & 1}
    assert set_bits == bits


def test_ann_recall_operator(spark):
    """ann_recall: perfect arm -> 1.0 per query; disjoint arm -> 0.0;
    partial arm counts exact hits; every query appears per arm."""
    from basic_data_fusion_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(q, n) for q in (1, 2) for n in (10, 11, 12)],
        "query_id long, neighbor_id long")
    perfect = exact
    disjoint = spark.createDataFrame(
        [(q, n) for q in (1, 2) for n in (90, 91, 92)],
        "query_id long, neighbor_id long")
    partial = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 99), (2, 12), (2, 98), (2, 97)],
        "query_id long, neighbor_id long")
    got = {(r["arm"], r["query_id"]): r for r in
           ann_recall(exact, {"a_perfect": perfect, "b_none": disjoint,
                              "c_part": partial}, k=3).collect()}
    assert len(got) == 6
    assert got[("a_perfect", 1)]["recall_at_k"] == 1.0
    assert got[("b_none", 2)]["recall_at_k"] == 0.0
    assert got[("c_part", 1)]["n_hits"] == 2
    assert got[("c_part", 1)]["recall_at_k"] == pytest.approx(2 / 3)
    assert got[("c_part", 2)]["n_hits"] == 1
    assert all(r["n_returned"] == 3 for r in got.values())


def test_keep_best_per_cluster(spark):
    """Highest-quality member survives each near-dup cluster; min id
    breaks ties; singletons keep themselves."""
    from basic_data_fusion_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "solo")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long")
    scored = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.9), (9, 0.1)],
        "doc_id long, quality_score double")
    got = {r["doc_id"]: r for r in
           keep_best_per_cluster(docs, pairs, scored).collect()}
    assert len(got) == 4
    assert all(r["cluster_id"] == 1 and r["cluster_size"] == 3
               for r in (got[1], got[2], got[3]))
    # 2 and 3 tie on score -> min id 2 wins; min-id doc 1 does NOT
    assert got[2]["keep"] and not got[3]["keep"] and not got[1]["keep"]
    assert got[9]["keep"] and got[9]["cluster_size"] == 1


def test_corpus_diff_statuses(spark):
    """added / removed / changed / unchanged all classified from one
    full-outer join of (id, md5) relations."""
    from basic_data_fusion_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (5, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh"), (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in
           corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged"}


def test_domain_report_aggregates(spark):
    """Per-host rollup: URL-variant pages collapse into n_pages, dup
    ratio and keep rate come out as exact integer-derived divisions."""
    from basic_data_fusion_spark.operators.dedup import domain_report

    urls = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "https://WWW.A.com/x/"),
         (3, "https://a.com/y"), (4, "http://b.org:80/only")],
        "doc_id long, url string")
    scored = spark.createDataFrame(
        [(1, 0.8, True), (2, 0.6, True), (3, 0.4, False),
         (4, 1.0, True)],
        "doc_id long, quality_score double, keep boolean")
    got = {r["host"]: r for r in domain_report(urls, scored).collect()}
    a = got["a.com"]
    assert a["n_docs"] == 3 and a["n_pages"] == 2  # x and x/ collapse
    assert a["url_dup_ratio"] == pytest.approx(1 - 2 / 3)
    assert a["mean_quality"] == pytest.approx(0.6)
    assert a["keep_rate"] == pytest.approx(2 / 3)
    b = got["b.org"]
    assert b["n_docs"] == 1 and b["url_dup_ratio"] == 0.0


def test_incremental_minhash_det_tier_matches_fast_tier(spark):
    """The md5/raw-bucket deterministic incremental tier finds the same
    verified cross-corpus links (same jaccard values) as the xxhash64
    fast tier — verification is the exact jaccard in both, so only the
    candidate generation differs and both recall the planted link."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lamda mu nu xi omicron pi rho sigma tau upsilon"
    existing = spark.createDataFrame(
        [(100, base), (101, "standing corpus completely different text here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base.replace("delta", "DELTA2")),
         (2, "brand new unrelated content entirely fresh words")],
        "doc_id long, text string")
    fast = {(r["new_id"], r["existing_id"]): r["jaccard"] for r in
            dedup.incremental_minhash_dedup(existing, new,
                                            threshold=0.5).collect()}
    det = {(r["new_id"], r["existing_id"]): r["jaccard"] for r in
           dedup.incremental_minhash_dedup(existing, new, threshold=0.5,
                                           deterministic=True).collect()}
    assert det == fast and (1, 100) in det


def test_pq_det_tier_matches_plain_tier_codes_and_ranks(spark):
    """With the same fixed codebooks, the det tier's integer-quantized
    distances assign the same codes and the same top-k ranking as the
    plain-double tier (1e-12 quanta on O(1)-magnitude embeddings dwarf
    any true distance gap), and the ADC distances agree to the quantum."""
    import numpy as np

    from basic_data_fusion_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    books = [[[float(x) for x in rng.standard_normal(4)]
              for _ in range(8)] for _ in range(4)]
    q = (df.filter(F.col("vec_id") < 3)
         .selectExpr("vec_id AS query_id", "embedding"))
    plain_codes = {r["vec_id"]: list(r["codes"]) for r in
                   pq_encode(df, books).collect()}
    det_codes = {r["vec_id"]: list(r["codes"]) for r in
                 pq_encode(df, books, deterministic=True).collect()}
    assert det_codes == plain_codes
    plain = {(r["query_id"], r["rank"]): r for r in
             pq_topk(df, q, books, k=5).collect()}
    det = {(r["query_id"], r["rank"]): r for r in
           pq_topk(df, q, books, k=5, deterministic=True).collect()}
    assert set(det) == set(plain)
    for key, r in det.items():
        assert r["neighbor_id"] == plain[key]["neighbor_id"]
        assert r["adc_dist"] == pytest.approx(plain[key]["adc_dist"],
                                              abs=1e-9)


def test_two_level_ivf_assignment(spark):
    """Hierarchical assignment: vectors sitting ON a centroid route to
    that centroid's cell (the router is exact when the nearest centroid
    dominates); cells are valid indices; near-identical planted pairs
    land in the same cell so SemDeDup's candidate recall survives the
    approximate router."""
    import numpy as np

    from basic_data_fusion_spark.operators.similarity import (
        ivf_index_two_level,
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    cents = [[float(x) for x in rng.standard_normal(8)]
             for _ in range(81)]  # 81 cells -> 9 super-cells
    rows = [(i, cents[i * 7 % 81]) for i in range(30)]  # exactly on cents
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cell"] for r in
           ivf_index_two_level(df, cents, metric="cosine").collect()}
    assert all(0 <= c < 81 for c in got.values())
    for i in range(30):
        assert got[i] == i * 7 % 81  # on-centroid vectors route exactly

    # planted near-identical pair -> same cell -> dedup drops the copy
    base = [float(x) for x in rng.standard_normal(8)]
    near = [v + 1e-6 for v in base]
    far_rows = [(100 + j,
                 [float(x) for x in rng.standard_normal(8)])
                for j in range(200)]
    ded = spark.createDataFrame([(1, base), (2, near)] + far_rows,
                                "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(ded, k=81, threshold=0.999,
                          target_cell_size=2).collect()}
    assert out[1]["keep"] and not out[2]["keep"]
    assert out[1]["cell"] == out[2]["cell"]


def test_ivfpq_det_tier_matches_plain_tier(spark):
    """With the same fixed centroids and codebooks, the det tier's
    integer quanta reproduce the plain tier's cell assignments,
    shortlist and refined ranking (1e-12 quanta dwarf true distance
    gaps on O(1) embeddings)."""
    import numpy as np

    from basic_data_fusion_spark.operators.similarity import ivfpq_topk

    rng = np.random.default_rng(9)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = [[float(x) for x in rng.standard_normal(16)] for _ in range(4)]
    books = [[[float(x) for x in rng.standard_normal(4)]
              for _ in range(8)] for _ in range(4)]
    q = (df.filter(F.col("vec_id") < 3)
         .selectExpr("vec_id AS query_id", "embedding"))
    plain = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["l2_dist"])
             for r in ivfpq_topk(df, q, cents, books, k=5, nprobe=2,
                                 refine=3).collect()}
    det = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["l2_dist"])
           for r in ivfpq_topk(df, q, cents, books, k=5, nprobe=2,
                               refine=3, deterministic=True).collect()}
    assert set(det) == set(plain)
    for key, (nid, d) in det.items():
        assert nid == plain[key][0]
        assert d == pytest.approx(plain[key][1], abs=1e-9)


def test_prefix_filter_jaccard_complete_vs_exact(docs):
    """PPJoin completeness: the prefix-filter join finds EXACTLY the
    exhaustive jaccard pair set (no LSH recall loss) at two different
    thresholds, jaccard values included."""
    for t in (0.8, 0.5):
        exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                 dedup.ngram_jaccard_pairs(docs, n=3,
                                           threshold=t).collect()}
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               dedup.prefix_filter_jaccard_pairs(docs, n=3,
                                                 threshold=t).collect()}
        assert got == exact and exact


def test_prefix_filter_prefix_length_boundary(spark):
    """The ceil-rounding guard: at t=0.8 and |S|=5 the prefix must keep
    2 shingles (5 − ⌈4⌉ + 1), not 1 — an unrounded IEEE 0.8·5 would
    shrink it and drop borderline pairs. Two docs sharing exactly 4 of
    5 shingles (J=2/3 < t) plus two identical docs (J=1 ≥ t) pin both
    sides of the decision."""
    a = "w1 w2 w3 w4 w5 w6 w7"       # 5 3-shingles
    b = "w1 w2 w3 w4 w5 w6 zz"       # shares 4 of its 5
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.prefix_filter_jaccard_pairs(
               spark.createDataFrame([(1, a), (2, b), (3, a)],
                                     "doc_id long, text string"),
               n=3, threshold=0.8).collect()}
    assert (1, 3) in got and (1, 2) not in got


def test_cms_sketch_properties(spark):
    """Count-Min invariants: estimates NEVER underestimate; a key space
    far smaller than the width estimates exactly; merging two shard
    sketches (cell-wise sum) equals the whole-corpus sketch."""
    from basic_data_fusion_spark.operators.aggregations import (
        cms_build,
        cms_estimate,
    )

    rows = [(i, f"k{i % 17}") for i in range(1000)]
    df = spark.createDataFrame(rows, "i long, k string")
    true = {r["k"]: r["n"] for r in
            df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    cms = cms_build(df, "k", width=256, depth=4)
    probes = df.select("k").distinct()
    est = {r["k"]: r["cms_n"] for r in
           cms_estimate(cms, probes, "k", width=256, depth=4).collect()}
    assert est == true  # 17 keys in 256 buckets: no collisions expected
    assert all(est[k] >= true[k] for k in true)

    # mergeability: shard sketches sum cell-wise to the whole sketch
    # (deterministic split by row index — a limit() split would draw
    # two independent nondeterministic subsets)
    a = cms_build(df.filter(F.col("i") < 500), "k", width=256, depth=4)
    b = cms_build(df.filter(F.col("i") >= 500), "k", width=256, depth=4)
    merged = {(r["d"], r["bucket"]): r["n"] for r in
              a.unionByName(b).groupBy("d", "bucket")
              .agg(F.sum("n").alias("n")).collect()}
    whole = {(r["d"], r["bucket"]): r["n"] for r in cms.collect()}
    assert merged == whole


# ---------------- round-6 regression tests ----------------


def test_prefix_filter_planted_stop_shingle(spark):
    """Skew guard for the PPJoin df annotation (r5 audit finding): a
    boilerplate shingle planted in EVERY document previously made one
    collect_list aggregation row hold the whole corpus's ids. The
    count+join form is bounded at any skew — and must still produce
    exactly the exhaustive tier's pair set on the skewed corpus."""
    stop = "click here to accept cookies"  # shared 3-shingles in all docs
    rows = [(i, f"{stop} unique{i} content{i} words{i} body{i} tail{i}")
            for i in range(40)]
    rows += [(100, f"{stop} alpha beta gamma delta epsilon zeta"),
             (101, f"{stop} alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.prefix_filter_jaccard_pairs(df, n=3,
                                             threshold=0.5).collect()}
    assert got == exact
    assert (100, 101) in got  # the planted near-dup survives the skew


def test_keep_best_missing_score_defaults(spark):
    """A doc absent from ``scored`` stays in the report (NULL score) and
    ranks LAST in its cluster — the r5 inner join silently dropped it
    and could flip which member the cluster keeps."""
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (7, "lonely")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # doc 1 (min id, would win an id tie-break) is UNSCORED; doc 2 scored
    scored = spark.createDataFrame([(2, 0.1)],
                                   "doc_id long, quality_score double")
    got = {r["doc_id"]: r for r in
           dedup.keep_best_per_cluster(docs, pairs, scored).collect()}
    assert set(got) == {1, 2, 7}          # nothing silently dropped
    assert got[1]["quality_score"] is None
    assert got[2]["keep"] and not got[1]["keep"]  # any score beats none
    assert got[7]["keep"]                  # unscored singleton keeps itself


def test_winnow_overlap_join_path_matches_array_path(spark):
    """The distributed self-join expansion (fingerprints hotter than
    ``span``) and the map-side array expansion produce identical
    (id_a, id_b, n_shared) sets — pinned by forcing every fingerprint
    through each path on the same corpus."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [(i, base + f" tail{i} extra{i}") for i in range(8)]
    rows.append((50, "entirely different set of words here now ok"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    via_array = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
                 text.winnow_overlap_pairs(df, max_df=None,
                                           span=1000).collect()}
    via_join = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
                text.winnow_overlap_pairs(df, max_df=None,
                                          span=1).collect()}
    assert via_join == via_array and via_array
    # max_df still caps BOTH paths
    capped = text.winnow_overlap_pairs(df, max_df=2, span=1).collect()
    hot_df8 = [p for p in capped if p["id_a"] < 8 and p["id_b"] < 8]
    assert hot_df8 == []  # the 8-doc-hot fingerprints are over the cap


def test_cache_pinned_lifecycle(spark):
    """Operator persists register with the caching module; release_cached
    unpersists them all (JVM-side persistent RDD count returns to its
    baseline) — the documented batch-driver lifecycle contract."""
    from basic_data_fusion_spark.caching import (
        pinned_count,
        release_cached,
    )

    release_cached()  # clean slate from earlier tests in the session
    jvm_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, f"some text body number {i % 3} repeated") for i in range(30)],
        "doc_id long, text string")
    for _ in range(2):  # repeated invocation must not leak unbounded
        dedup.prefix_filter_jaccard_pairs(df, n=2, threshold=0.9).count()
    assert pinned_count() >= 2
    released = release_cached()
    assert released >= 2 and pinned_count() == 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= jvm_rdds


def test_flagship_cohort_pinned_once(spark):
    """``PlanBuilder.dataframe()`` pins the merged cohort: after the first
    action a second aggregate reads the cache (no broadcast job, at most
    a map and a result job); two calls with one spec share one cache
    entry; ``release_cached`` unpersists it."""
    import __spark_entry__ as entrymod
    from basic_data_fusion_spark.caching import release_cached
    from tests.conftest import SF0001, jobs_run

    release_cached()
    spark.catalog.clearCache()
    jvm_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = entrymod.queries()["flagship_merge"](spark, SF0001)
    _, first = jobs_run(spark, lambda: df.agg(F.count("*")).collect())
    _, second = jobs_run(spark, lambda: df.agg(F.max("o_totalprice")).collect())

    def broadcasts(jobs):
        return [j for j in jobs if "broadcast exchange"
                in str(j.jobTags().mkString("|"))]

    assert broadcasts(first), "the first action builds the cohort"
    assert not broadcasts(second) and len(second) <= 2
    again = entrymod.queries()["flagship_merge"](spark, SF0001)
    assert again.count() == df.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == jvm_rdds + 1
    assert release_cached() == 2
    assert not df.storageLevel.useMemory
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == jvm_rdds


def test_ann_recall_guards(spark):
    """No arms (an empty dict or an empty stacked frame) yields the
    same empty report; a perfect arm on a corpus smaller than k scores
    1.0 — the denominator is min(k, per-query exact count), not the
    literal k."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "query_id long, neighbor_id long")
    from_dict = similarity.ann_recall(exact, {}, k=5)
    stacked = spark.createDataFrame(
        [], "arm string, query_id long, neighbor_id long")
    from_frame = similarity.ann_recall(exact, stacked, k=5)
    assert from_dict.schema.simpleString() == \
        from_frame.schema.simpleString()
    assert from_dict.columns == ["arm", "query_id", "n_returned",
                                 "n_hits", "recall_at_k"]
    assert from_dict.collect() == [] and from_frame.collect() == []
    got = {(r["arm"], r["query_id"]): r for r in
           similarity.ann_recall(exact, {"perfect": exact},
                                 k=5).collect()}
    # query 1 has 2 exact neighbors, query 2 has 1 — both < k=5
    assert got[("perfect", 1)]["recall_at_k"] == 1.0
    assert got[("perfect", 2)]["recall_at_k"] == 1.0
    # an arm row whose query has ZERO exact rows is scored (recall 0),
    # not silently dropped by an inner denominator join
    orphan = spark.createDataFrame([(9, 99)],
                                   "query_id long, neighbor_id long")
    got2 = {(r["arm"], r["query_id"]): r for r in
            similarity.ann_recall(exact, {"orphan": orphan},
                                  k=5).collect()}
    assert ("orphan", 9) in got2
    assert got2[("orphan", 9)]["recall_at_k"] == 0.0


def test_semantic_dedup_train_sample_scales_with_cells(spark):
    """The quantizer training sample grows with the auto-scaled cell
    count: a tiny ``train_sample`` with many cells previously left
    k-means with fewer training points than clusters (degenerate at
    ~25.6M vectors in production; reproduced here with a tiny
    target_cell_size at toy scale). Must run and keep every planted exact-dup drop."""
    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.standard_normal(8)]
    rows = [(1, base), (2, base)]  # planted exact dup
    rows += [(10 + j, [float(x) for x in rng.standard_normal(8)])
             for j in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # cells = ceil(302/2) = 151 >> train_sample=10 -> eff_train = 604 > n
    out = {r["vec_id"]: r for r in
           similarity.semantic_dedup(df, target_cell_size=2,
                                     train_sample=10,
                                     threshold=0.999).collect()}
    assert len(out) == 302
    assert out[1]["keep"] and not out[2]["keep"]


def test_hll_band_report(spark):
    """The HLL acceptance gate: exact distinct counts are exact, the
    estimate sits inside its band on sane key spaces, and a degenerate
    band (0.0 tolerance on a large key space) CAN flip the flag — the
    bit genuinely reflects the sketch, not a constant."""
    from basic_data_fusion_spark.operators.aggregations import (
        hll_band_report,
    )

    df = spark.createDataFrame(
        [(i, i % 7, f"v{i}") for i in range(5000)],
        "a long, b long, c string")
    got = {r["column_name"]: r for r in
           hll_band_report(df, ["a", "b", "c"]).collect()}
    assert got["a"]["n_exact"] == 5000 and got["a"]["within_band"]
    assert got["b"]["n_exact"] == 7 and got["b"]["within_band"]
    assert got["c"]["n_exact"] == 5000 and got["c"]["within_band"]
    # zero band: only sketch-exact columns survive; the big key spaces
    # have nonzero HLL error, so their flags must be able to go False
    tight = {r["column_name"]: r["within_band"] for r in
             hll_band_report(df, ["a", "b"], band=0.0).collect()}
    assert tight["b"] is True  # 7 keys: HLL exact
    assert tight["a"] is False  # 5000 keys at lg_k=12: ~0.8% error


def test_binary_auc_exact_values(spark):
    """Mann-Whitney AUC with exact tie handling against hand-computed
    values: perfect separation = 1.0, anti-separation = 0.0, all-tied
    scores = 0.5, and a mixed case matches the closed form."""
    from basic_data_fusion_spark.operators.selection import binary_auc

    def auc_of(rows):
        df = spark.createDataFrame(rows, "quality_prob double, y boolean")
        return binary_auc(df, F.col("y")).collect()[0]

    perfect = auc_of([(0.9, True), (0.8, True), (0.2, False), (0.1, False)])
    assert perfect["auc"] == 1.0 and perfect["n_pos"] == 2
    inverted = auc_of([(0.1, True), (0.2, False)])
    assert inverted["auc"] == 0.0
    tied = auc_of([(0.5, True), (0.5, True), (0.5, False), (0.5, False)])
    assert tied["auc"] == 0.5
    # pos scores {0.8, 0.4}, neg {0.6, 0.2}: pairs won 3 of 4 -> 0.75
    mixed = auc_of([(0.8, True), (0.4, True), (0.6, False), (0.2, False)])
    assert mixed["auc"] == 0.75


def test_quantile_rollup_merge_and_accuracy(spark):
    """Mergeable quantile tier invariants: (1) summing per-partition
    sketches equals the whole-corpus sketch (mergeability by
    construction); (2) every estimate is within one bin width of the
    exact percentile (the equi-width error bound); (3) estimates are
    identical whether computed from 1 partition or many (partitioning
    invariance of integer counts)."""
    from basic_data_fusion_spark.operators.aggregations import (
        quantile_hist_sketch,
        quantile_rollup,
    )

    rows = [(i % 4, float(i) ** 1.5) for i in range(2000)]
    df = spark.createDataFrame(rows, "part int, x double")
    lo, hi = 0.0, float(1999) ** 1.5
    bins, qs = 256, [0.25, 0.5, 0.9]

    sk = quantile_hist_sketch(df, "part", "x", lo, hi, bins)
    whole = quantile_hist_sketch(
        df.withColumn("part", F.lit(0)), "part", "x", lo, hi, bins)
    merged = {r["bin"]: r["n"] for r in
              sk.groupBy("bin").agg(F.sum("n").alias("n")).collect()}
    assert merged == {r["bin"]: r["n"] for r in whole.collect()}

    est = {r["quantile"]: r["estimate"] for r in
           quantile_rollup(sk, lo, hi, bins, qs).collect()}
    exact = df.agg(*[F.expr(f"percentile(x, {q})").alias(str(q))
                     for q in qs]).first()
    bin_w = (hi - lo) / bins
    for q in qs:
        assert abs(est[q] - exact[str(q)]) <= bin_w, (q, est[q], exact[str(q)])

    est_1p = {r["quantile"]: r["estimate"] for r in
              quantile_rollup(whole, lo, hi, bins, qs).collect()}
    assert est_1p == est


def test_quantile_rollup_report_degenerate(spark):
    """An empty relation or an all-NULL value column has no binning
    domain; the report must return 0 rows with the contract schema
    instead of crashing on float(None)."""
    from basic_data_fusion_spark.operators.aggregations import (
        quantile_rollup_report,
    )

    empty = spark.createDataFrame([], "part string, x double")
    out = quantile_rollup_report(empty, "part", "x")
    assert out.columns == ["quantile", "n_total", "estimate"]
    assert out.count() == 0

    all_null = spark.createDataFrame([("a", None), ("b", None)],
                                     "part string, x double")
    assert quantile_rollup_report(all_null, "part", "x").count() == 0


def test_dedup_recall_report(spark):
    """Gate semantics on a controlled truth set: a perfect arm scores
    recall 1.0 / precision 1.0; an arm with one miss and one false
    positive scores 0.5 / 0.5; the empty-arms dict raises."""
    truth = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    perfect = truth
    half = spark.createDataFrame([(1, 2), (7, 8)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="at least one arm"):
        dedup.dedup_recall_report(truth, {})
    got = {r["arm"]: r for r in
           dedup.dedup_recall_report(
               truth, {"perfect": perfect, "half": half}).collect()}
    assert got["perfect"]["recall"] == 1.0
    assert got["perfect"]["precision"] == 1.0
    assert got["half"]["n_truth"] == 2 and got["half"]["n_found"] == 2
    assert got["half"]["n_hits"] == 1
    assert got["half"]["recall"] == 0.5 and got["half"]["precision"] == 0.5


def test_gate_slice(spark, docs):
    """The md5 gate slice: deterministic across invocations, monotone
    in frac (a 0.3 slice is a subset of a 0.5 slice — same seed, same
    draw), frac=1.0 is the identity (same plan object, no filter), and
    out-of-range fracs raise."""
    ids = lambda frac: {r["doc_id"] for r in
                        dedup.gate_slice(docs, frac).select("doc_id")
                        .collect()}
    s3, s5 = ids(0.3), ids(0.5)
    assert 0 < len(s3) < len(s5) < docs.count()
    assert s3 <= s5
    assert ids(0.3) == s3  # deterministic
    assert dedup.gate_slice(docs, 1.0) is docs
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="frac"):
            dedup.gate_slice(docs, bad)


def test_dedup_recall_report_empty_arm(spark):
    """An arm that found ZERO pairs still gets a report row (the
    per-arm score is a global agg, so n_found=0 rows exist) and its
    precision must be NULL, not an ANSI divide-by-zero crash.  Same
    for recall against an EMPTY truth set."""
    truth = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["arm"]: r for r in
           dedup.dedup_recall_report(
               truth, {"empty": empty, "full": truth}).collect()}
    assert got["empty"]["n_found"] == 0 and got["empty"]["n_hits"] == 0
    assert got["empty"]["precision"] is None
    assert got["empty"]["recall"] == 0.0
    assert got["full"]["precision"] == 1.0
    # empty truth set: recall NULL for every arm, precision still real
    got2 = {r["arm"]: r for r in
            dedup.dedup_recall_report(empty, {"full": truth}).collect()}
    assert got2["full"]["recall"] is None
    assert got2["full"]["precision"] == 0.0


def test_leakage_safe_split_no_cluster_straddle(spark, docs):
    """The eval-hygiene invariant: every near-dup cluster lands entirely
    in ONE split (zero pairs straddle), every doc is assigned, and the
    assignment is deterministic across invocations."""
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    out = dedup.leakage_safe_split(docs, pairs).collect()
    assert len(out) == docs.count()
    split_of = {r["doc_id"]: r["split"] for r in out}
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # near-dup pairs specifically never straddle
    for p in pairs.collect():
        assert split_of[p["id_a"]] == split_of[p["id_b"]]
    again = {r["doc_id"]: r["split"] for r in
             dedup.leakage_safe_split(docs, pairs).collect()}
    assert again == split_of


def test_semantic_dedup_tiny_corpus(spark):
    """A 0/1-vector corpus has no pairs: every vector keeps itself and
    KMeans (which requires k >= 2) is never trained; a 2-vector corpus
    trains a valid 2-cell quantizer and still drops the planted dup."""
    one = spark.createDataFrame([(1, [1.0] * 8)],
                                "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(one, k=1, target_cell_size=1).collect()
    assert len(out) == 1 and out[0]["keep"]
    two = spark.createDataFrame([(1, [1.0] * 8), (2, [1.0] * 8)],
                                "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["keep"] for r in
           similarity.semantic_dedup(two, k=1, target_cell_size=1,
                                     threshold=0.99).collect()}
    assert got == {1: True, 2: False}


def test_degenerate_inputs_never_crash(spark):
    """Empty relations and all-NULL columns must flow through the
    arithmetic-heavy operators as empty/NULL results, never as
    exceptions (ANSI mode turns unguarded ÷0 and float(None) into
    crashes — the round-6 fuzz found real instances in pearson/
    histogram/quantile_rollup; this pins the guards).  One corpus per
    family keeps the sweep cheap; the full six-corpus fuzz lives in the
    round logs."""
    from basic_data_fusion_spark.operators import (
        aggregations as agg, dedup, events, joins, linkage, quality,
        relational, stats,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    null_num = spark.createDataFrame([("a", None), ("b", None)],
                                     "g string, x double")
    empty_ev = spark.createDataFrame(
        [], "user_id long, event string, ts timestamp, value double")

    # dedup ladder on an empty corpus
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.exact_substring_dedup(empty_docs).count() == 0
    assert dedup.memorization_risk_report(empty_docs).count() == 0
    assert dedup.decontaminate_spans(empty_docs, empty_docs).count() == 0
    # stats/aggregations on all-NULL numerics
    assert agg.quantile_rollup_report(null_num, "g", "x").count() == 0
    assert agg.numeric_summary(null_num, ["x"]).count() >= 0
    stats.histogram(null_num, "x").count()
    stats.correlation_matrix(null_num.withColumn("y", F.col("x")),
                             ["x", "y"]).count()
    quality.benford_audit(null_num, "x").count()
    # event/time-series shapes on an empty stream
    assert events.funnel_counts(empty_ev, ["a", "b"], "user_id",
                                "event", "ts").count() >= 0
    assert events.retention_matrix(empty_ev, user_col="user_id",
                                   ts_col="ts").count() == 0
    assert linkage.rolling_zscore(empty_ev, "user_id", "ts", "event",
                                  "value").count() == 0
    assert joins.skew_report(empty_ev, "event").count() == 0
    assert relational.positive_mean_cents(empty_ev, "value").count() >= 0


def test_plan_minhash_bands(spark):
    """Band planning sanity: the chosen banding's S-curve inflection
    (1/b)^(1/r) tracks the requested threshold (low thresholds get
    many short bands, high thresholds few long bands); the full hash
    budget is used; recall weighting moves the curve left (more
    permissive); bad inputs raise."""
    import pytest as _pytest

    from basic_data_fusion_spark.operators.dedup import plan_minhash_bands

    for t in (0.3, 0.5, 0.7, 0.9):
        b, r = plan_minhash_bands(t, num_hashes=64)
        assert b * r <= 64 and b >= 1 and r >= 1
        inflection = (1.0 / b) ** (1.0 / r)
        assert abs(inflection - t) < 0.2, (t, b, r, inflection)
    b_lo, r_lo = plan_minhash_bands(0.3, 64)
    b_hi, r_hi = plan_minhash_bands(0.9, 64)
    assert r_lo < r_hi and b_lo > b_hi
    # recall bias: higher fn_weight never RAISES the inflection point
    b1, r1 = plan_minhash_bands(0.7, 64, fn_weight=1.0)
    b4, r4 = plan_minhash_bands(0.7, 64, fn_weight=4.0)
    assert (1.0 / b4) ** (1.0 / r4) <= (1.0 / b1) ** (1.0 / r1) + 1e-9
    with _pytest.raises(ValueError):
        plan_minhash_bands(0.0)
    with _pytest.raises(ValueError):
        plan_minhash_bands(0.5, num_hashes=1)


def test_hard_negatives_excludes_same_label(spark):
    """Hard-negative mining: the nearest SAME-label vector (a perfect
    copy that tops plain top-k) never appears; the mined negative is
    the closest different-label vector; both labels ride the output;
    k caps each query's list; a query whose label covers the whole
    corpus yields no rows."""
    from basic_data_fusion_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0, 0.0], 1),   # query
        (1, [1.0, 0.0, 0.0], 1),   # identical, same label -> excluded
        (2, [0.9, 0.1, 0.0], 2),   # closest different-label -> rank 1
        (3, [0.0, 1.0, 0.0], 2),
        (4, [0.0, 0.0, 1.0], 3),
    ]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>, label int")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    got = similarity.hard_negatives(emb, q, k=2).collect()
    assert [r["neighbor_id"] for r in got] == [2, 3]
    assert all(r["neighbor_label"] != r["query_label"] for r in got)
    assert got[0]["rank"] == 1 and got[1]["rank"] == 2

    # all corpus vectors share the query's label -> nothing to mine
    same = emb.withColumn("label", F.lit(1))
    qs = (same.filter(F.col("vec_id") == 0)
          .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    assert similarity.hard_negatives(same, qs, k=2).count() == 0


def test_similarity_degenerate_vectors_never_crash(spark):
    """Zero vectors, NULL embeddings, and empty arrays must yield NULL
    cosine (ranked last, never returned above real neighbors) instead
    of ANSI DIVIDE_BY_ZERO; trainers drop invalid vectors and raise a
    CLEAR error only when nothing is left to train on."""
    import pytest as _pytest

    from basic_data_fusion_spark.operators import similarity

    rows = [(1, [0.0, 0.0], 1), (2, [1.0, 1.0], 2), (3, None, 3),
            (4, [], 4), (5, [0.5, 0.5], 5)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>, label int")
    q = (emb.filter(F.col("vec_id") == 2)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    got = similarity.brute_force_topk(emb, q, k=3).collect()
    # real neighbors rank first; degenerate ones only trail as NULL sims
    assert [r["neighbor_id"] for r in got][:2] == [2, 5]
    assert all(r["cosine_sim"] is not None for r in got[:2])
    neg = similarity.hard_negatives(emb, q, k=2).collect()
    assert neg[0]["neighbor_id"] == 5 and neg[0]["cosine_sim"] is not None

    # trainers: invalid vectors dropped; all-invalid raises clearly
    cents = similarity.train_centroids(emb, k=2)
    assert all(len(c) == 2 for c in cents)
    bad = spark.createDataFrame([(1, None), (2, [])],
                                "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="no non-empty vectors"):
        similarity.train_centroids(bad)
    with _pytest.raises(ValueError, match="no non-empty vectors"):
        similarity.train_pq_codebooks(bad, m=2, ksub=2)


def test_gopher_rules_planted_violations(spark):
    """Each Gopher rule trips on a document planted to violate exactly
    it (word count, mean word length, symbol ratio, bullet lines,
    ellipsis lines, alpha-word fraction, stopword presence)."""
    good_body = ("the quick brown fox jumps over lazy dogs near the "
                 "river bank and that have with more plain words ") * 5
    rows = [
        (0, good_body),                                   # passes all
        (1, "the short one"),                             # word count
        (2, "a " * 60 + "the be of"),                     # mean word len < 3
        (3, ("the word " * 30) + "#" * 40),               # symbol ratio (#)
        (4, "\n".join(f"- the bullet item {i} here" for i in range(10))
            + "\nthe only plain line with that have of and be to with "
            + "more words here to cross the floor " * 3),  # bullet > 0.9? no:
        # 10 of 11 lines bulleted = 0.909 > 0.9 -> fails rule_bullet_lines
        (5, "\n".join(f"the trailing line {i} that have with..." for i in range(10))
            + "\n" + good_body),                          # ellipsis lines
        (6, ("123 456 789 " * 20) + "the be"),            # alpha frac
        (7, "zebra quagga okapi " * 20),                  # no must-have stopword
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert got[0]["keep"]
    assert not got[1]["rule_word_count"]
    assert not got[2]["rule_mean_word_len"]
    assert not got[3]["rule_symbol_ratio"] and got[3]["symbol_ratio"] > 0.1
    assert not got[4]["rule_bullet_lines"]
    assert not got[5]["rule_ellipsis_lines"]
    assert not got[6]["rule_alpha_words"]
    assert not got[7]["rule_stopwords"] and got[7]["stop_hits"] == 0
    for d in (1, 2, 3, 4, 5, 6, 7):
        assert not got[d]["keep"]


def test_dedup_impact_sweep_planted(spark):
    """Hand-computed sweep on a planted pair relation: monotone
    non-increasing removal as the threshold rises, greedy
    keep-smallest-id rule (doc removed iff it is the LARGER id of a
    qualifying pair), zero-filled thresholds above every pair."""
    docs = spark.createDataFrame(
        [(i, "t", 100 * (i + 1)) for i in range(6)],
        "doc_id long, text string, n_chars long")
    pairs = spark.createDataFrame(
        [(0, 1, 0.95), (0, 2, 0.85), (1, 2, 0.85), (3, 4, 0.75)],
        "id_a long, id_b long, jaccard double")
    got = {r["threshold"]: r for r in
           dedup.dedup_impact_sweep(docs, pairs, [0.7, 0.8, 0.9, 0.99])
           .collect()}
    assert set(got) == {0.7, 0.8, 0.9, 0.99}
    # t=0.7: removed = {1, 2, 4} -> chars 200+300+500
    assert got[0.7]["n_pairs"] == 4
    assert got[0.7]["docs_removed"] == 3
    assert got[0.7]["chars_removed"] == 1000
    assert got[0.7]["pct_docs_removed"] == 0.5
    # t=0.8: pair (3,4) drops out -> removed {1, 2}
    assert got[0.8]["n_pairs"] == 3
    assert got[0.8]["docs_removed"] == 2
    assert got[0.8]["chars_removed"] == 500
    # t=0.9: only (0,1) -> removed {1}
    assert got[0.9]["n_pairs"] == 1
    assert got[0.9]["docs_removed"] == 1
    # t=0.99: nothing qualifies; the row is still present, zero-filled
    assert got[0.99]["n_pairs"] == 0
    assert got[0.99]["docs_removed"] == 0
    assert got[0.99]["pct_chars_removed"] == 0.0


def test_embedding_outliers_planted(spark):
    """A vector planted OPPOSITE its label's tight cluster ranks as the
    label's #1 outlier; a degenerate zero vector surfaces first (NULL
    cosine, NULLS FIRST) in its own label."""
    base = [1.0] + [0.0] * 63
    near = [0.98, 0.01] + [0.0] * 62
    opp = [-1.0] + [0.0] * 63
    zero = [0.0] * 64
    rows = [(1, base, 0), (2, near, 0), (3, base, 0), (4, opp, 0),
            (10, base, 1), (11, near, 1), (12, zero, 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {(r["label"], r["outlier_rank"]): r for r in
           similarity.embedding_outliers(emb, k=2).collect()}
    assert got[(0, 1)]["vec_id"] == 4          # planted opposite wins
    assert got[(0, 1)]["cosine_to_centroid"] < 0
    assert got[(1, 1)]["vec_id"] == 12         # zero vector first
    assert got[(1, 1)]["cosine_to_centroid"] is None


def test_interleave_order_proportional_prefix(spark):
    """Stride scheduling: at every aligned prefix of the serve stream a
    weight-2 source has served ~2x a weight-1 source (off by at most
    one stride round), and the order is deterministic across runs."""
    from basic_data_fusion_spark.operators.selection import interleave_order

    rows = ([(i, "a") for i in range(40)] + [(i, "b") for i in range(100, 140)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = interleave_order(df, {"a": 2.0, "b": 1.0}).collect()
    serve = sorted(out, key=lambda r: r["serve_pos"])
    # positions are a dense 1..N total order
    assert [r["serve_pos"] for r in serve] == list(range(1, 81))
    for n in (15, 30, 45, 60):
        head = serve[:n]
        a = sum(1 for r in head if r["source"] == "a")
        b = n - a
        assert abs(a - 2 * b) <= 2, (n, a, b)
    # weight-2 source exhausts first (same stride span, double rate)
    assert all(r["source"] == "b" for r in serve[-10:])
    again = interleave_order(df, {"a": 2.0, "b": 1.0}).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_packing_efficiency_sweep_hand_computed(spark):
    """Hand-computed sweep: naive = per-doc ceil(n/ctx), packed lower
    bound = ceil(total/ctx); blank docs contribute nothing."""
    from basic_data_fusion_spark.operators.packing import (
        packing_efficiency_sweep,
    )

    rows = [(1, " ".join(["w"] * 10)), (2, " ".join(["w"] * 70)),
            (3, " ".join(["w"] * 130)), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["ctx"]: r for r in
           packing_efficiency_sweep(df, [64, 128]).collect()}
    assert got[64]["n_docs"] == 3 and got[64]["total_tokens"] == 210
    assert got[64]["n_seq_naive"] == 1 + 2 + 3
    assert got[64]["pad_frac_naive"] == (6 * 64 - 210) / (6 * 64)
    assert got[64]["n_seq_packed_lb"] == 4
    assert got[64]["pad_frac_packed_lb"] == (4 * 64 - 210) / (4 * 64)
    assert got[128]["n_seq_naive"] == 1 + 1 + 2
    assert got[128]["n_seq_packed_lb"] == 2


def test_pmi_collocations_planted(spark):
    """A planted collocation (always-adjacent pair) outranks frequent
    independent pairs, with the hand-computed PMI value."""
    import math

    filler = "aa bb cc dd " * 3                   # independent pairs
    rows = [(i, filler + "san francisco") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.pmi_collocations(df, min_count=5, k=5).collect()
    top = got[0]
    assert (top["w1"], top["w2"]) == ("san", "francisco")
    # counts: each doc has 14 tokens -> 13 bigrams, 8 docs -> N = 104;
    # c(san,francisco)=8, c(san)=8, c(francisco)=8
    assert top["c_ab"] == 8 and top["c_a"] == 8 and top["c_b"] == 8
    assert top["pmi"] == round(math.log(8 * 104 / (8 * 8)), 6)


def test_decontam_window_sweep_width_effect(spark):
    """A planted 10-token overlap flags at window 7 but NOT at window
    13 — exactly the width trade-off the sweep exists to expose."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [(1, leak + " unique tail words here one two three"),
         (2, "totally different content with many plain words in it")],
        "doc_id long, text string")
    held = spark.createDataFrame(
        [(100, leak + " other benchmark suffix tokens")],
        "doc_id long, text string")
    got = {r["window"]: r for r in
           dedup.decontam_window_sweep(train, held, [7, 13]).collect()}
    assert got[7]["n_dirty_docs"] == 1
    assert got[7]["n_contaminated_windows"] == 4   # 10-token overlap, w=7
    assert got[13]["n_dirty_docs"] == 0
    assert got[13]["n_docs"] == 2
    assert got[7]["dirty_doc_frac"] == 0.5


def test_c4_rules_planted_violations(spark):
    """Each C4 page rule trips on a document planted to violate exactly
    it; the clean page keeps; the short-line fraction counts <5-word
    lines."""
    rows = [
        (0, "Alpha beta gamma delta epsilon one. Two more words follow!"
            " A third question here?\nThe very last line ends nicely."),
        (1, "no punctuation anywhere on this line\nnor on this one"),
        (2, "Contains Lorem Ipsum filler. Second sentence! Third one?"),
        (3, "Code page { with braces. Second! Third?"),
        (4, "Enable JavaScript to continue. Second! Third?"),
        (5, "Tiny line.\nAnother big line with many words in it today."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.c4_rules(df).collect()}
    assert got[0]["keep"]
    assert not got[1]["rule_min_sentences"]
    assert not got[1]["rule_terminal_lines"]
    assert not got[2]["rule_no_lorem"]          # case-insensitive
    assert not got[3]["rule_no_brace"]
    assert not got[4]["rule_no_javascript"]     # case-insensitive
    assert got[5]["short_line_frac"] == 0.5     # "Tiny line." has 2 words
    for d in (1, 2, 3, 4):
        assert not got[d]["keep"]


def test_attribute_spans_planted_sources(spark):
    """A query stitched from two train documents attributes to BOTH
    with partial coverage summing to ~1; a boilerplate window planted
    in every train doc is df-capped out so it attributes to nothing."""
    a_body = " ".join(f"alpha{i}" for i in range(20))
    b_body = " ".join(f"beta{i}" for i in range(20))
    stop = " ".join(f"common{i}" for i in range(13))
    train = spark.createDataFrame(
        [(1, a_body + " " + stop), (2, b_body + " " + stop)]
        + [(10 + i, f"filler{i} " * 30 + stop) for i in range(4)],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, a_body + " " + b_body)], "query_id long, text string")
    got = dedup.attribute_spans(train, queries, window=13, k=3,
                                max_window_doc_freq=2).collect()
    by_src = {r["source_doc_id"]: r for r in got}
    assert set(by_src) == {1, 2}           # both halves found, filler not
    assert by_src[1]["rank"] == 1 and by_src[1]["n_shared_windows"] == 8
    # 40-token query -> 28 windows; 8 windows live fully inside each half
    assert by_src[1]["n_query_windows"] == 28
    assert by_src[1]["query_coverage"] == 8 / 28


def test_interleave_mixture_gate_planted(spark):
    """Gate targets = weights normalized over observed sources; the
    stride-scheduled prefix realizes them within the band."""
    from basic_data_fusion_spark.operators.selection import (
        interleave_mixture_gate,
    )

    rows = ([(i, "a") for i in range(80)] + [(100 + i, "b") for i in range(80)]
            + [(200 + i, "c") for i in range(80)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: r for r in
           interleave_mixture_gate(df, {"a": 2.0, "b": 1.0},
                                   prefix_frac=0.25, band=0.05).collect()}
    assert got["a"]["target_share"] == 0.5          # 2 / (2+1+1)
    assert got["b"]["target_share"] == 0.25
    assert got["c"]["target_share"] == 0.25         # default weight
    assert got["a"]["prefix_len"] == 60
    assert all(got[s]["within_band"] for s in "abc")
    assert abs(got["a"]["prefix_share"] - 0.5) <= 0.05


def test_sharded_serve_path_equivalence(spark):
    """Restricted to one shard, each sharded serve operator is EXACTLY
    its single-stream tier applied to that shard's documents — the
    correctness anchor that lets the sharded path claim the same
    semantics without any global window."""
    from basic_data_fusion_spark.operators.packing import (
        pack_sequences,
        pack_sequences_sharded,
    )
    from basic_data_fusion_spark.operators.selection import (
        curriculum_order,
        curriculum_order_sharded,
        interleave_order,
        interleave_order_sharded,
        serve_shard,
    )

    rows = [(i, f"src{i % 3}", "word " * (5 + i % 7)) for i in range(120)]
    df = (spark.createDataFrame(rows, "doc_id long, source string, text string")
          .withColumn("n_chars", F.length("text")))
    n_shards = 4
    weights = {"src0": 3.0, "src1": 2.0}
    il = interleave_order_sharded(df, weights, n_shards).collect()
    cu = curriculum_order_sharded(df, "n_chars", n_shards).collect()
    pk = pack_sequences_sharded(df, budget=32, n_shards=n_shards).collect()
    assert {r["shard"] for r in il} == set(range(n_shards))
    tagged = df.withColumn("shard", serve_shard(F.col("doc_id"), n_shards))
    for s in range(n_shards):
        sub = tagged.filter(F.col("shard") == s).drop("shard")
        exp_il = {(r["doc_id"], r["source"], r["rank_in_source"],
                   r["serve_pos"])
                  for r in interleave_order(sub, weights).collect()}
        got_il = {(r["doc_id"], r["source"], r["rank_in_source"],
                   r["serve_pos"]) for r in il if r["shard"] == s}
        assert got_il == exp_il, f"interleave shard {s}"
        exp_cu = {(r["doc_id"], r["n_chars"], r["stage"], r["serve_pos"])
                  for r in curriculum_order(sub, "n_chars").collect()}
        got_cu = {(r["doc_id"], r["n_chars"], r["stage"], r["serve_pos"])
                  for r in cu if r["shard"] == s}
        assert got_cu == exp_cu, f"curriculum shard {s}"
        exp_pk = {(r["doc_id"], r["n_tokens"], f"{s}_{r['pack_id']}")
                  for r in pack_sequences(sub, budget=32).collect()}
        got_pk = {(r["doc_id"], r["n_tokens"], r["pack_id"])
                  for r in pk if r["shard"] == s}
        assert got_pk == exp_pk, f"pack shard {s}"


def test_total_order_primitives(spark):
    """ordering.total_order_pos == global row_number and
    ordering.global_running_sum == global windowed sum, on an input
    deliberately scattered across more partitions than the range
    shuffle's target (exercises offsets across non-uniform fills)."""
    from basic_data_fusion_spark.operators.ordering import (
        global_running_sum,
        total_order_pos,
    )

    rows = [(i * 7919 % 601, i) for i in range(601)]  # shuffled keys
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = {r["k"]: r["pos"]
           for r in total_order_pos(df, ["k"], "pos", 5).collect()}
    assert got == {k: k + 1 for k, _ in rows}
    runs = {r["k"]: r["rs"]
            for r in global_running_sum(df, ["k"], "v", "rs", 5).collect()}
    acc, expect = 0, {}
    for k, v in sorted(rows):
        acc += v
        expect[k] = acc
    assert runs == expect


def test_global_ntile_matches_ntile(spark):
    """ordering.global_ntile is bit-identical to ``F.ntile`` over the
    same total order, across NTILE remainder shapes: n % k != 0,
    n < k, exact multiples and a single row."""
    from pyspark.sql import Window

    from basic_data_fusion_spark.operators.ordering import global_ntile

    for n, k in [(123, 4), (3, 5), (8, 4), (10, 4), (1, 4)]:
        rows = [(i * 37 % 11, i) for i in range(n)]  # tied scores
        df = spark.createDataFrame(rows, "score long, id long")
        got = {r["id"]: r["b"]
               for r in global_ntile(df, ["score", "id"], k, "b").collect()}
        w = Window.orderBy("score", "id")
        exp = {r["id"]: r["b"]
               for r in df.select("id", F.ntile(k).over(w).alias("b"))
               .collect()}
        assert got == exp, f"ntile n={n} k={k}"


def test_interleave_gate_sharded_mirror(spark):
    """The per-shard mixture gate rows mirror an independent Python
    recomputation from the sharded serve stream: per-shard prefix
    lengths, counts, and targets normalized over the sources OBSERVED
    in each shard."""
    import math

    from basic_data_fusion_spark.operators.selection import (
        interleave_mixture_gate_sharded,
        interleave_order_sharded,
    )

    rows = ([(i, "a") for i in range(90)]
            + [(200 + i, "b") for i in range(90)]
            + [(400 + i, "c") for i in range(90)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights, n_shards, frac = {"a": 2.0, "b": 1.0}, 4, 0.25
    serve = interleave_order_sharded(df, weights, n_shards).collect()
    got = {(r["shard"], r["source"]): r for r in
           interleave_mixture_gate_sharded(
               df, weights, n_shards, prefix_frac=frac,
               band=0.1).collect()}
    by_shard = {}
    for r in serve:
        by_shard.setdefault(r["shard"], []).append(r)
    n_rows = 0
    for s, members in by_shard.items():
        srcs = {m["source"] for m in members}
        sum_w = sum(weights.get(x, 1.0) for x in srcs)
        k = math.ceil(len(members) * frac)
        prefix = [m for m in members if m["serve_pos"] <= k]
        for src in srcs:
            row = got[(s, src)]
            n_rows += 1
            assert row["n_source"] == sum(
                1 for m in members if m["source"] == src)
            assert row["prefix_len"] == k
            assert row["n_prefix"] == sum(
                1 for m in prefix if m["source"] == src)
            assert row["target_share"] == weights.get(src, 1.0) / sum_w
            assert row["prefix_share"] == row["n_prefix"] / k
            assert row["within_band"] == (
                abs(row["prefix_share"] - row["target_share"]) <= 0.1)
    assert n_rows == len(got)


def test_ordering_tier_degenerate_inputs(spark):
    """Empty and single-row relations through the distributed
    total-order machinery: offsets over an empty count relation must
    not throw, ntile of one row is bucket 1, and both packers of an
    empty corpus are empty with the contract schema."""
    from basic_data_fusion_spark.operators.ordering import (
        global_ntile,
        global_running_sum,
        total_order_pos,
    )
    from basic_data_fusion_spark.operators.packing import (
        pack_sequences,
        pack_sequences_sharded,
    )

    empty = spark.createDataFrame([], "k long, v long")
    assert total_order_pos(empty, ["k"], "pos").count() == 0
    assert global_running_sum(empty, ["k"], "v", "rs").count() == 0
    assert global_ntile(empty, ["k"], 4, "b").count() == 0
    one = spark.createDataFrame([(7, 3)], "k long, v long")
    r = total_order_pos(one, ["k"], "pos").first()
    assert r["pos"] == 1
    assert global_ntile(one, ["k"], 4, "b").first()["b"] == 1
    assert global_running_sum(one, ["k"], "v", "rs").first()["rs"] == 3
    edocs = spark.createDataFrame([], "doc_id long, text string")
    out = pack_sequences(edocs, budget=16)
    assert out.columns == ["doc_id", "n_tokens", "pack_id"]
    assert out.count() == 0
    out = pack_sequences_sharded(edocs, budget=16, n_shards=4)
    assert out.columns == ["doc_id", "n_tokens", "shard", "pack_id"]
    assert out.count() == 0


def test_incremental_clusters_equals_recompute(spark):
    """Star contraction preserves connectivity: merging a batch's pairs
    into standing labels (never re-pairing the old corpus) must equal
    the full recompute over ALL pairs — including batch pairs that
    BRIDGE two previously-separate old clusters, batch singletons, and
    untouched old singletons."""
    rows = []
    # old corpus: two 3-cliques (0-1-2, 10-11-12) + singletons 20, 21
    # batch: 30 bridges the two cliques; 31 pairs with 20; 32 alone
    texts = {0: "a a a", 1: "a a a", 2: "a a a",
             10: "b b b", 11: "b b b", 12: "b b b",
             20: "c c c", 21: "d d d",
             30: "bridge", 31: "c c c", 32: "e e e"}
    pairs_all = [(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12),
                 (2, 30), (10, 30), (20, 31)]
    ids = sorted(texts)
    docs = spark.createDataFrame([(i, texts[i]) for i in ids],
                                 "doc_id long, text string")
    ap = spark.createDataFrame(pairs_all, "id_a long, id_b long")
    old_ids = {i for i in ids if i < 30}
    old_pairs = ap.filter((F.col("id_a") < 30) & (F.col("id_b") < 30))
    labels_old = dedup.dedup_clusters(
        docs.filter(F.col("doc_id") < 30), old_pairs).select(
        "doc_id", "cluster_id")
    new_pairs = ap.filter((F.col("id_a") >= 30) | (F.col("id_b") >= 30))
    new_ids = docs.filter(F.col("doc_id") >= 30).select("doc_id")
    incr = {tuple(r) for r in dedup.incremental_clusters(
        labels_old, new_pairs, new_ids).collect()}
    full = {tuple(r) for r in dedup.dedup_clusters(docs, ap).collect()}
    assert incr == full
    got = {r[0]: (r[1], r[2]) for r in incr}
    assert got[30] == (0, 7)      # bridged mega-cluster: 0,1,2,10,11,12,30
    assert got[31] == (20, 2)
    assert got[32] == (32, 1)
    assert got[21] == (21, 1)


def test_fuzzy_decontaminate_flags_near_dup_leak(spark):
    """fuzzy_decontaminate: the fuzzy tier must catch a paraphrase-grade
    leak the exact n-gram tier misses at a high min_common, flag exact
    copies too, keep clean docs clean, and report one best match per
    train doc (highest jaccard, then smallest eval id)."""
    base = " ".join(f"tok{i}" for i in range(40))
    held = spark.createDataFrame(
        [(900, base), (901, base + " tail900 extra")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "totally clean training text with no overlap whatsoever"),
         (2, base),                                   # exact copy of 900
         (3, base + " lightly edited ending here"),   # near-dup paraphrase
         (4, "another clean document entirely different words")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.fuzzy_decontaminate(train, held, n=3, threshold=0.7)
           .collect()}
    assert len(out) == 4                      # every train doc reported
    assert out[2]["contaminated"] and out[2]["matched_id"] == 900
    assert out[2]["jaccard"] == 1.0           # identical shingle sets
    assert out[3]["contaminated"] and out[3]["matched_id"] in (900, 901)
    assert 0.7 <= out[3]["jaccard"] < 1.0
    assert not out[1]["contaminated"] and out[1]["matched_id"] is None
    assert not out[4]["contaminated"] and out[4]["jaccard"] is None
    # deterministic tier agrees on the flag set (md5 vs xxhash64 band
    # paths may differ in CANDIDATES but verification is exact jaccard,
    # so flags can only differ through band recall — identical here)
    det = {r["doc_id"]: r["contaminated"] for r in
           dedup.fuzzy_decontaminate(train, held, n=3, threshold=0.7,
                                     deterministic=True).collect()}
    assert det == {i: out[i]["contaminated"] for i in out}


def test_fuzzy_decontam_sweep_prices_thresholds(spark):
    """fuzzy_decontam_sweep: one banded scan must price every
    threshold — the planted paraphrase (jaccard ≈ 0.86) counts as
    dirty at 0.5/0.8 but drops out at 0.95, where only the exact copy
    remains; clean docs never count; costs are the dirty docs' n_chars
    over the train totals."""
    base = " ".join(f"tok{i}" for i in range(40))
    para = base + " lightly edited ending here"
    clean1 = "totally clean training text with no overlap whatsoever"
    clean2 = "another clean document entirely different words"
    held = spark.createDataFrame([(900, base)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, clean1), (2, base), (3, para), (4, clean2)],
        "doc_id long, text string").withColumn(
            "n_chars", F.length("text").cast("long"))
    out = {r["threshold"]: r for r in dedup.fuzzy_decontam_sweep(
        train, held, thresholds=[0.5, 0.8, 0.95], n=3).collect()}
    assert set(out) == {0.5, 0.8, 0.95}
    n_total = len(clean1) + len(base) + len(para) + len(clean2)
    for t in (0.5, 0.8):   # exact copy AND paraphrase are dirty
        r = out[t]
        assert r["n_links"] == 2 and r["docs_contaminated"] == 2
        assert r["chars_removed"] == len(base) + len(para)
        assert r["pct_docs_contaminated"] == 2 / 4
        assert r["pct_chars_removed"] == (len(base) + len(para)) / n_total
    r = out[0.95]          # only the exact copy survives the cut
    assert r["n_links"] == 1 and r["docs_contaminated"] == 1
    assert r["chars_removed"] == len(base)
    assert r["pct_docs_contaminated"] == 1 / 4
    # det tier: identical report (verification is exact jaccard in both)
    det = {r["threshold"]: tuple(r) for r in dedup.fuzzy_decontam_sweep(
        train, held, thresholds=[0.5, 0.8, 0.95], n=3,
        deterministic=True).collect()}
    assert det == {t: tuple(out[t]) for t in out}


def test_lsh_config_sweep_prices_banding(spark):
    """lsh_config_sweep: one signature pass must price every banding —
    an exact copy (identical signature, so a candidate under EVERY
    config) keeps n_verified >= 1 everywhere; the S-curve capture
    column matches the closed form and rises monotonically with bands;
    precision is verified/candidates."""
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, base),                       # exact copy pair
         (3, base + " lightly edited ending here"),  # near-dup
         (4, "totally unrelated words in this clean document"),
         (5, "another clean doc with different content entirely")],
        "doc_id long, text string")
    out = {r["bands"]: r for r in dedup.lsh_config_sweep(
        docs, bands_options=(4, 8, 16, 32), threshold=0.8,
        deterministic=True).collect()}
    assert set(out) == {4, 8, 16, 32}
    caps = []
    for b, r in out.items():
        assert r["rows_per_band"] == 64 // b
        # the exact copy agrees on every band of every config
        assert r["n_verified"] >= 1
        assert r["n_candidates"] >= r["n_verified"]
        assert r["precision"] == r["n_verified"] / r["n_candidates"]
        expect = 1.0 - (1.0 - 0.8 ** (64 // b)) ** b
        assert abs(r["capture_prob_at_t"] - expect) < 1e-9
        caps.append((b, r["capture_prob_at_t"]))
    caps.sort()
    assert all(a[1] < b[1] for a, b in zip(caps, caps[1:]))
    # fast tier returns the same report SHAPE (counts may differ only
    # through band recall; the exact-copy floor still holds)
    fast = {r["bands"]: r for r in dedup.lsh_config_sweep(
        docs, bands_options=(4, 8, 16, 32), threshold=0.8).collect()}
    assert all(fast[b]["n_verified"] >= 1 for b in (4, 8, 16, 32))
    # cross-operator consistency: the sweep's bands=16 verified count
    # IS the minhash_dedup_pairs relation at the same config
    pairs16 = dedup.minhash_dedup_pairs(docs, n=3, num_hashes=64,
                                        bands=16, threshold=0.8,
                                        deterministic=True).count()
    assert out[16]["n_verified"] == pairs16


def test_decontam_by_benchmark_isolates_the_leaky_suite(spark):
    """decontam_by_benchmark: a train doc quoting a 13-token span from
    bench_a's eval doc dirties bench_a's row ONLY; bench_b reports
    clean with its eval docs still counted; the dirty fraction is over
    the whole train corpus."""
    span = " ".join(f"q{i}" for i in range(13))
    held = spark.createDataFrame(
        [(900, "bench_a", span + " answer forty two"),
         (901, "bench_b", " ".join(f"z{i}" for i in range(20))),
         (902, "bench_b", "short doc")],   # <13 tokens: no windows
        "doc_id long, benchmark string, text string")
    train = spark.createDataFrame(
        [(1, "totally clean " + " ".join(f"c{i}" for i in range(20))),
         (2, "leaked verbatim " + span + " and more words after")],
        "doc_id long, text string")
    out = {r["benchmark"]: r for r in dedup.decontam_by_benchmark(
        train, held, window=13).collect()}
    assert set(out) == {"bench_a", "bench_b"}
    a, b = out["bench_a"], out["bench_b"]
    assert a["n_eval_docs"] == 1 and a["n_eval_docs_leaked"] == 1
    assert a["n_train_docs_dirty"] == 1 and a["n_hit_windows"] >= 1
    assert a["pct_train_docs_dirty"] == 1 / 2
    assert b["n_eval_docs"] == 2 and b["n_eval_docs_leaked"] == 0
    assert b["n_train_docs_dirty"] == 0 and b["n_hit_windows"] == 0
    assert b["pct_train_docs_dirty"] == 0.0


def test_collapse_repeated_lines(spark):
    """collapse_repeated_lines: back-to-back duplicate lines collapse
    to their first occurrence; non-adjacent repeats survive (that's
    the corpus tier's job); consecutive blank lines collapse like any
    other exact run; single-line and empty docs pass through."""
    docs = spark.createDataFrame(
        [(1, "a\na\na\nb\na"),          # run of 3 + non-adjacent repeat
         (2, "x\n\n\n\ny"),             # blank-line run
         (3, "only line"),
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.collapse_repeated_lines(docs).collect()}
    assert out[1]["clean_text"] == "a\nb\na"
    assert out[1]["n_lines"] == 5 and out[1]["n_collapsed"] == 2
    assert out[2]["clean_text"] == "x\n\ny"
    assert out[2]["n_lines"] == 5 and out[2]["n_collapsed"] == 2
    assert out[3]["clean_text"] == "only line"
    assert out[3]["n_collapsed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 1


def test_dim_truncation_sweep_planted_geometry(spark):
    """dim_truncation_sweep: vectors identical in their first 8 dims
    and one-hot-distinguished in dims 9-16 — truncated-to-8 search ties
    every neighbor (min-id wins, so only query 0's true top-1 survives:
    micro recall exactly 1/10), while the full 16 dims recover
    everything (exactly 1.0, the built-in self-check row)."""
    rows = []
    for i in range(10):
        v = [1.0] * 8 + [0.0] * 8
        v[8 + i % 8] = float(2 + i)   # distinguishing tail
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    out = {r["dim"]: r for r in similarity.dim_truncation_sweep(
        emb, queries, dims=(8, 16), k=1).collect()}
    assert set(out) == {8, 16}
    assert out[8]["n_queries"] == out[16]["n_queries"] == 10
    assert out[8]["n_possible_total"] == out[16]["n_possible_total"] == 10
    assert out[8]["n_hits_total"] == 1          # only query 0's tie-win
    assert out[8]["micro_recall"] == 1 / 10
    assert out[16]["n_hits_total"] == 10
    assert out[16]["micro_recall"] == 1.0


def test_dim_truncation_fused_matches_per_arm(spark):
    """The fused single-scan tier (r13 opt: all cut dots are prefix
    sums of one quantized-product array) must reproduce the per-arm
    brute-force composition EXACTLY — counts and micro_recall bitwise —
    on fixed-width vectors, including NULL-embedding rows."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(40)]
    rows.append((40, None))  # NULL row must rank last, not vanish
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    ds = (3, 6, 12)
    fused = similarity.dim_truncation_sweep(emb, queries, dims=ds,
                                            k=4).collect()
    # per-arm reference: the pre-r13 composition, inlined
    exact = similarity.brute_force_topk(emb, queries, k=4,
                                        deterministic=True)
    arms = {}
    for d in ds:
        tc = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tq = queries.select("query_id",
                            F.slice("embedding", 1, d).alias("embedding"))
        arms[f"dim{d:03d}"] = similarity.brute_force_topk(
            tc, tq, k=4, deterministic=True)
    per = similarity.ann_recall(exact, arms, k=4)
    ex_n = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_exact"))
    denom = F.least(F.lit(4).cast("long"),
                    F.coalesce(F.col("__n_exact"), F.lit(4).cast("long")))
    ref = (per.join(F.broadcast(ex_n), "query_id", "left")
           .groupBy(F.substring("arm", 4, 3).cast("int").alias("dim"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                F.sum("n_hits").cast("long").alias("n_hits_total"),
                F.sum(denom).cast("long").alias("n_possible_total"))
           .withColumn("micro_recall",
                       F.col("n_hits_total").cast("double")
                       / F.col("n_possible_total").cast("double"))
           .orderBy("dim").collect())
    assert [tuple(r) for r in fused] == [tuple(r) for r in ref]
    assert fused[-1]["micro_recall"] == 1.0   # full-dim self-check


def test_gate_slice_max_rows_cap(spark):
    """Fixed-size acceptance slices (r12 sf-decade finding): max_rows
    bounds the slice at a constant size regardless of corpus scale —
    deterministic (smallest hash_uniform draws, id tie-break), a
    strict subset of the uncapped slice, and stable across input
    partitioning."""
    from basic_data_fusion_spark.operators.dedup import gate_slice

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    full = {r["doc_id"] for r in
            gate_slice(docs, 0.5).select("doc_id").collect()}
    capped = [r["doc_id"] for r in
              gate_slice(docs, 0.5, max_rows=40).select("doc_id").collect()]
    assert len(capped) == 40
    assert set(capped) <= full
    # repartitioned input yields the identical slice
    again = {r["doc_id"] for r in
             gate_slice(docs.repartition(13), 0.5, max_rows=40)
             .select("doc_id").collect()}
    assert set(capped) == again
    # cap larger than the slice is a no-op
    assert {r["doc_id"] for r in
            gate_slice(docs, 0.5, max_rows=10_000)
            .select("doc_id").collect()} == full


def test_canonical_fold_feeds_fuzzy_dedup(spark):
    """The canonical→fuzzy composition (C4/RefinedWeb preprocessing
    order): a fullwidth/curly-quoted NEAR-copy (different tail, so not
    an exact dup even after folding) shares no raw shingles with its
    ASCII original — the raw fuzzy tier finds nothing — but after
    canonical_text pre-folding the banded MinHash tier surfaces the
    pair at high Jaccard.  Pins the recipe: fold the text column, then
    run the unchanged fuzzy pipeline."""
    from basic_data_fusion_spark.operators.dedup import minhash_dedup_pairs
    from basic_data_fusion_spark.operators.text import canonical_text

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet hills before dawn breaks")
    # fullwidth letters + ideographic spaces + a different short tail
    wide = "".join(chr(0xFEE0 + ord(c)) if "a" <= c <= "z" else c
                   for c in base).replace(" ", chr(0x3000)) \
        + chr(0x3000) + "ｅｘｔｒａ ｗｏｒｄｓ ｈｅｒｅ"
    rows = [(1, base + " extra tail here"), (2, wide),
            (3, "completely unrelated content about query planners and "
                "shuffle partitions in distributed database engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    raw = minhash_dedup_pairs(df, n=3, threshold=0.5, deterministic=True)
    assert raw.count() == 0  # confusable disguise defeats raw shingles

    folded = df.withColumn("text", canonical_text(F.col("text")))
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_dedup_pairs(folded, n=3, threshold=0.5,
                                          deterministic=True).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] >= 0.5


def test_unigram_trainer_param_validation(spark):
    """prune_frac <= 0 made _unigram_fit's prune loop keep every
    multi-char piece each round and never terminate (r12 advisory);
    both trainers now validate (0, 1] prune_frac and vocab_size >= 1
    BEFORE any corpus pass."""
    from basic_data_fusion_spark.operators.tokenizer import (
        unigram_train,
        unigram_train_local,
    )

    tiny = spark.createDataFrame([(1, "ab ab cd")],
                                 "doc_id long, text string")
    for trainer in (unigram_train, unigram_train_local):
        with pytest.raises(ValueError, match="prune_frac"):
            trainer(tiny, vocab_size=8, prune_frac=0.0)
        with pytest.raises(ValueError, match="prune_frac"):
            trainer(tiny, vocab_size=8, prune_frac=1.5)
        with pytest.raises(ValueError, match="vocab_size"):
            trainer(tiny, vocab_size=0)


def test_dim_truncation_probe_null_and_ragged(spark):
    """The dims-vs-vector-length guard probes min(size) over NON-NULL
    vectors (r12 advisory): a NULL embedding row must not spuriously
    raise for valid dims (F.size(NULL) is -1), and a ragged corpus
    must be measured by its SHORTEST vector so no row is silently
    clamped."""
    withnull = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0, 0.0, 2.0]), (2, [0.0, 1.0, 0.0, 0.5])],
        "vec_id long, embedding array<double>")
    queries = (withnull.filter(F.col("embedding").isNotNull())
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    # NULL row present, dims within the real length: must not raise
    similarity.dim_truncation_sweep(withnull, queries, dims=(2, 4), k=1)
    with pytest.raises(ValueError, match="minimum vector length"):
        similarity.dim_truncation_sweep(withnull, queries, dims=(8,), k=1)
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 2.0]), (2, [0.0, 1.0, 0.5])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="minimum vector length"):
        similarity.dim_truncation_sweep(ragged, queries, dims=(4,), k=1)
    similarity.dim_truncation_sweep(ragged, queries, dims=(3,), k=1)
