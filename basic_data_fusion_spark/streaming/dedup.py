"""Streaming deduplication with bounded state.

The batch dedup ladder (operators/dedup.py) assumes a complete corpus;
an ingestion pipeline sees the same document/event again within minutes
(at-least-once sources, retried producers). ``streaming_exact_dedup``
drops re-deliveries with state bounded by the watermark —
``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only until
the watermark passes its event time, so state is O(keys per watermark
window), not O(all keys ever) (the unbounded-state failure mode of plain
``dropDuplicates`` on a stream).

The reference has no streaming surface (SURVEY.md §2.11); its nearest
analogue is upload-time duplicate-file detection
(file_handling/csv_utils.py content fingerprinting), which this extends
to continuous ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def streaming_exact_dedup(df: DataFrame, keys: list[str], ts_col: str = "ts",
                          watermark: str = "10 minutes") -> DataFrame:
    """Keep the first arrival per ``keys``; re-deliveries within the
    watermark horizon are dropped, state expires after it. On a batch
    DataFrame this degrades to plain ``dropDuplicates`` (same keep-one
    semantics, no state concern), so one call site serves both the
    backfill and the live path."""
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return (df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


def streaming_decontaminate(df: DataFrame, held_out: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            window: int = 13) -> DataFrame:
    """Streaming benchmark decontamination: flag each incoming document
    that shares any ``window``-token sequence with the STATIC held-out
    corpus — ``(id, n_windows, n_contaminated, contaminated)`` per doc,
    emitted per micro-batch.  The live-ingestion twin of
    ``dedup.cross_corpus_overlap``/``decontaminate_spans``: the gate a
    crawl pipeline runs before a document ever lands in the training
    corpus, instead of a full-corpus sweep after.

    The held-out side is a BATCH relation (benchmarks change rarely):
    its distinct window hashes become a static broadcast the stream's
    windows are left-joined against — a stateless map-side probe, so
    the query needs no watermark, no stateful operator, and restarts
    cleanly from any checkpoint.  At 100 TB/day ingest this is the only
    shape that works: per-doc work is O(tokens), state is zero, and the
    held-out index refreshes by restarting the query (or swapping in
    ``dedup.bloom_decontaminate``'s bitmap for an even smaller probe).

    Works identically on a batch ``df`` (the functions it composes are
    plain projections/joins), so backfill and live ingestion share one
    call site.  The one streaming aggregation (per-doc hit counts) has
    no watermark — each doc's windows arrive in its own micro-batch, so
    run the query in ``update`` mode or inside a ``foreachBatch`` sink
    (the repo's exactly-once sink pattern, sinks.py).
    """
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.dedup import (
        _tokenized_base,
        _window_hash_table,
    )

    w = int(window)
    eval_keys = (_window_hash_table(
                     _tokenized_base(held_out, text_col, id_col),
                     id_col, w)
                 .select("__h").distinct()
                 .withColumn("__hit", F.lit(1)))

    # tokenize + per-window md5 is CPU-bound; spread a narrow batch
    # scan so the probe parallelizes (spread_narrow passes streaming
    # frames through untouched — the live-ingest path is unchanged)
    from basic_data_fusion_spark.sources.partitioning import spread_narrow

    base = _tokenized_base(spread_narrow(df), text_col, id_col)
    # posexplode_outer keeps zero-window (short) docs as a NULL row, so
    # ONE aggregation covers every doc — no stream-to-aggregate back-join
    # (unsupported in streaming) and no doc silently dropped.  The short
    # side must be guarded BEFORE sequence(): sequence(1, 0) descends.
    win_hashes = F.when(
        F.size("__t") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - w + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice("__t", i, w))))
    ).otherwise(F.array().cast("array<string>"))
    wins = (base.select(id_col,
                        F.posexplode_outer(win_hashes).alias("__p0", "__h")))
    return (wins.join(F.broadcast(eval_keys), "__h", "left")
            .groupBy(id_col)
            .agg(F.count("__h").cast("long").alias("n_windows"),
                 F.sum(F.coalesce("__hit", F.lit(0)))
                 .cast("long").alias("n_contaminated"))
            .select(id_col, "n_windows", "n_contaminated",
                    (F.col("n_contaminated") > 0).alias("contaminated")))


def streaming_simhash_candidates(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 max_hamming: int = 3,
                                 n: int = 2) -> DataFrame:
    """Streaming NEAR-dup detection — the fuzzy tier next to
    ``streaming_exact_dedup``: each incoming doc is checked against every
    doc seen so far whose simhash shares a 16-bit band, and a candidate
    row ``(doc_id, dup_of, hamming)`` is emitted per verified match
    (hamming ≤ ``max_hamming`` over the full 64-bit sketch).

    Mechanics: the doc's 64-bit simhash (same JVM vote fold as the batch
    tier) explodes into its 4 band keys BEFORE the stateful op; state is
    keyed by (band, bits) and holds the (id, sketch) list of prior
    members of that bucket. Pigeonhole guarantees a pair within
    ``max_hamming`` ≤ 3 bits agrees on ≥1 whole band, so within state
    retention there are NO false negatives; a pair close on several
    bands emits once per agreeing band — consumers dedup candidates in
    the sink (the exactly-once foreachBatch sink's natural job), which
    is cheaper than cross-band coordination inside the operator.

    Scale shape: one shuffle per micro-batch on the band key; state is
    O(docs per bucket) and the candidate comparisons per doc are only
    against its own buckets' members — the streaming analogue of the
    batch band join. Production deployments bound state with a
    processing-time timeout (drop buckets idle longer than the dedup
    horizon); the operator itself is horizon-agnostic.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from basic_data_fusion_spark.operators.dedup import (
        check_simhash_hamming_bound,
        simhash64,
        simhash_band_structs,
    )

    check_simhash_hamming_bound(max_hamming)
    banded = (df.select(F.col(id_col),
                        simhash64(F.col(text_col), n).alias("__sim"))
              .select(id_col, "__sim",
                      F.explode(F.array(*simhash_band_structs("__sim")))
                      .alias("bb"))
              .select(id_col, "__sim", F.col("bb.band").alias("band"),
                      F.col("bb.bits").alias("bits")))

    out_schema = f"{id_col} bigint, dup_of bigint, hamming int"
    state_schema = "ids array<bigint>, sims array<bigint>"

    def update(key, pdf_iter, state: GroupState):
        ids, sims = state.get if state.exists else ([], [])
        ids, sims = list(ids), list(sims)
        rows = []
        for pdf in pdf_iter:
            # deterministic order within the batch: lower id is "prior"
            pdf = pdf.sort_values(id_col)
            for doc, sim in zip(pdf[id_col], pdf["__sim"]):
                doc, sim = int(doc), int(sim)
                for pid, psim in zip(ids, sims):
                    h = bin((sim ^ psim) & ((1 << 64) - 1)).count("1")
                    if h <= max_hamming:
                        rows.append((doc, pid, h))
                ids.append(doc)
                sims.append(sim)
        state.update((ids, sims))
        return iter([pd.DataFrame(rows, columns=[id_col, "dup_of", "hamming"])]
                    if rows else [])

    return (banded.groupBy("band", "bits")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def streaming_fuzzy_decontaminate(df: DataFrame, held_out: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id", n: int = 3,
                                  num_hashes: int = 64, bands: int = 16,
                                  threshold: float = 0.8, seed: int = 42,
                                  deterministic: bool = False) -> DataFrame:
    """Streaming NEAR-dup decontamination — the fuzzy tier of the
    ingestion gate (``streaming_decontaminate`` catches verbatim
    window leaks; this catches paraphrase-grade ones): each incoming
    document is MinHash-banded against the STATIC held-out corpus and
    every verified leak is emitted as a link row ``(id, matched_id,
    jaccard)`` with exact shingle Jaccard ≥ ``threshold``.  A document
    absent from the output is clean; link rows are exactly the batch
    tier's ``incremental_minhash_dedup(held_out, batch)`` rows, so
    backfill and live ingestion share semantics (and the parity test
    pins it).

    ZERO STATE, APPEND MODE, NO WATERMARK — the property that makes it
    a gate rather than a job.  Two things make that possible:

    1. Stream-static broadcast joins only: the eval side's exploded
       (band, bucket) keys and its (shingles, bucket-array) relation
       are batch-built and broadcast; the stream side is projections
       of the one source frame (shingles, then the signature of that
       column, then the bucket array — a second frame over the source
       would be a stream-stream join) followed by a 16-way posexplode.
    2. The batch tier dedups multi-band candidate collisions with
       ``distinct()`` — a stateful operator on a stream.  Here the
       dedup is STATELESS: both rows of a candidate carry their full
       bucket arrays, so each joined row can compute the pair's FIRST
       matching band and survive only if it IS that band — exactly one
       emitted row per (doc, eval doc) pair, no state, no shuffle.

    Per-doc cost is O(tokens + bands + candidates); the 16× band
    fan-out carries the shingle/bucket arrays through a map-only
    stage (broadcast join, no exchange).  At 100 TB/day this is the
    same shape as the exact gate: per-row work, zero state, restart
    from any checkpoint, eval refresh = query restart.  Works
    identically on a batch ``df`` (all plain projections/joins).

    ``deterministic=True`` selects the md5/raw-bucket tier (same
    trade as ``minhash_dedup_pairs``)."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.dedup import (
        _signature_of_shingles,
        minhash_bucket_array,
        word_shingles,
    )

    hash_fn = "md5" if deterministic else "xxhash64"
    hb = not deterministic

    def prepared(rel: DataFrame, out_id: str, sh: str, bk: str) -> DataFrame:
        # the signature signs the projected shingle column, so each row
        # is tokenized and shingled once (chained projections of the
        # same frame — still no second stream)
        return (rel.select(F.col(id_col).alias(out_id),
                           word_shingles(F.col(text_col), n).alias(sh))
                .withColumn("signature", _signature_of_shingles(
                    F.col(sh), num_hashes, seed, hash_fn))
                .withColumn(bk, minhash_bucket_array(bands, num_hashes, hb))
                .drop("signature"))

    # The eval side is STATIC across micro-batches but lives inside a
    # streaming plan, which re-evaluates its subtree every trigger —
    # without the pin each batch re-shingles and re-signs the whole
    # held-out set.  cache_pinned materializes it once (eval-set-sized,
    # the repo's persist-only-when-reused policy); measured 5.7 →
    # ~2 s/batch on the 24-batch sf0.1 gate run (SCALE.md r10).
    from basic_data_fusion_spark.caching import cache_pinned

    # posexplode_OUTER: a bucket array always holds ``bands`` keys, so
    # the rows are the same, but an inner explode of a column makes
    # Catalyst infer ``size(bk) > 0`` and push it below the projection,
    # inlining the whole shingle + signature pipeline once per
    # signature element into a filter on the scan
    ev = prepared(held_out, "matched_id", "__sh_e", "__bk_e")
    ev_x = F.broadcast(cache_pinned(ev.select(
        "matched_id", "__sh_e", "__bk_e",
        F.posexplode_outer("__bk_e").alias("__band", "__bucket"))))

    s_x = (prepared(df, id_col, "__sh_s", "__bk_s")
           .select(id_col, "__sh_s", "__bk_s",
                   F.posexplode_outer("__bk_s").alias("__band", "__bucket")))

    # stateless candidate dedup: keep only the FIRST matching band of
    # each (doc, eval) pair — computable per row from the two arrays
    first_band = F.element_at(
        F.filter(F.sequence(F.lit(0), F.lit(int(bands) - 1)),
                 lambda i: F.element_at("__bk_s", i + F.lit(1))
                 == F.element_at("__bk_e", i + F.lit(1))), 1)
    n_common = F.size(F.array_intersect("__sh_s", "__sh_e"))
    jac = (n_common.cast("double")
           / (F.size("__sh_s") + F.size("__sh_e") - n_common))
    return (s_x.join(ev_x, ["__band", "__bucket"])
            .filter(F.col("__band") == first_band)
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(float(threshold)))
            .select(id_col, "matched_id", "jaccard"))
