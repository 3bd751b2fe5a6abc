"""Streaming layer: batch/stream parity and watermark plumbing.

The window operators are single expressions that run in both batch and
Structured Streaming; parity is asserted by executing the SAME plan over
the sf0.001 events table via Trigger.AvailableNow into a memory sink and
comparing with the batch result.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from basic_data_fusion_spark.streaming import windows as W

SF = "/root/testdata/sf0.001"


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def _ts_fix(df):
    # canonicalize whatever encoding the driver wrote (ns-long / NTZ / LTZ)
    from basic_data_fusion_spark.catalog import normalize_timestamps

    ns_cols = ["ts"] if dict(df.dtypes).get("ts") == "bigint" else []
    return normalize_timestamps(df, ns_cols)


def _events_batch(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _ts_fix(spark.read.parquet(f"{SF}/events.parquet"))


def _events_stream(spark, tmp_path):
    # the file stream source requires a directory — stage the single
    # parquet file into one
    import shutil

    d = tmp_path / "events_dir"
    d.mkdir(exist_ok=True)
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _ts_fix(W.as_stream(spark, str(d)))


def test_tumbling_batch_stream_parity(spark, tmp_path):
    batch = W.tumbling_window_agg(_events_batch(spark), "ts", "1 day",
                                  keys=["event_type"])

    stream_in = W.with_watermark(_events_stream(spark, tmp_path), "ts", "1 hour")
    streamed = W.run_available_now(
        W.tumbling_window_agg(stream_in, "ts", "1 day", keys=["event_type"]),
        "t_tumbling_parity")

    pd.testing.assert_frame_equal(_norm(batch.toPandas()),
                                  _norm(streamed.toPandas()))


def test_session_batch_stream_parity(spark, tmp_path):
    batch = W.session_window_agg(_events_batch(spark), "ts", "30 minutes",
                                 keys=["user_id"])

    stream_in = W.with_watermark(_events_stream(spark, tmp_path), "ts", "1 hour")
    streamed = W.run_available_now(
        W.session_window_agg(stream_in, "ts", "30 minutes", keys=["user_id"]),
        "t_session_parity")

    pd.testing.assert_frame_equal(_norm(batch.toPandas()),
                                  _norm(streamed.toPandas()))


def test_sliding_each_event_in_two_windows(spark):
    ev = _events_batch(spark)
    n_events = ev.count()
    agg = W.sliding_window_agg(ev, "ts", "1 day", "12 hours")
    total = agg.agg(F.sum("n_events")).first()[0]
    assert total == 2 * n_events


def test_session_window_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (10 min gap)
        (1, "2024-01-01 02:00:00", 3.0),   # new session (>30 min gap)
        (2, "2024-01-01 00:00:00", 4.0),   # separate key
    ]
    df = (spark.createDataFrame(rows, "user_id long, ts_s string, value double")
          .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"))
    out = W.session_window_agg(df, "ts", "30 minutes", keys=["user_id"])
    got = {(r["user_id"], str(r["session_start"]), r["n_events"])
           for r in out.collect()}
    assert got == {
        (1, "2024-01-01 00:00:00", 2),
        (1, "2024-01-01 02:00:00", 1),
        (2, "2024-01-01 00:00:00", 1),
    }
    ends = {str(r["session_end"]) for r in out.collect()}
    # end = last event + gap
    assert "2024-01-01 00:40:00" in ends and "2024-01-01 02:30:00" in ends


def test_stateful_running_stats_matches_batch(spark, tmp_path):
    """Custom state via applyInPandasWithState: after consuming all
    micro-batches, the final per-key emission equals the batch aggregate
    bit-for-bit, regardless of batch arrival order (counters are
    algebraic)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.streaming.stateful import running_user_stats

    batch = _events_batch(spark)
    expected = _norm(batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_values"),
        fixed_point_sum(F.col("value")).alias("sum_value"),
        F.max(F.unix_micros("ts")).alias("max_ts_us")).toPandas())

    # stage 3 chronology-agnostic splits so state must carry across
    # micro-batches (maxFilesPerTrigger=1 -> 3 triggers)
    d = tmp_path / "events_split"
    d.mkdir(exist_ok=True)
    for i in range(3):
        (batch.filter(F.col("event_id") % 3 == i)
         .coalesce(1).write.mode("overwrite").parquet(str(d / f"part{i}")))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(d / "part*" / "*.parquet")))):
        shutil.copy(f, d / f"batch{i}.parquet")
        shutil.rmtree(d / f"part{i}")

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    out = W.run_available_now(running_user_stats(stream),
                              "t_stateful_running", output_mode="update")
    got = out.toPandas()
    # keep the last (cumulative-max) emission per key
    got = (got.sort_values(["user_id", "n_events"])
           .groupby("user_id", as_index=False).last())
    assert got["n_events"].sum() == batch.count()  # saw every event
    pd.testing.assert_frame_equal(_norm(got), expected, check_dtype=False)


def test_exactly_once_parquet_sink(spark, tmp_path):
    """foreachBatch sink: all micro-batches land exactly once; a replayed
    batch function call (same batch_id) would overwrite, not duplicate."""
    from basic_data_fusion_spark.streaming.sinks import (
        exactly_once_parquet_sink,
        read_sink,
    )

    batch = _events_batch(spark)
    d = tmp_path / "in"
    d.mkdir()
    for i in range(2):
        (batch.filter(F.col("event_id") % 2 == i).coalesce(1)
         .write.parquet(str(d / f"f{i}")))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(d / "f*" / "*.parquet")))):
        shutil.copy(f, d / f"in{i}.parquet")
        shutil.rmtree(d / f"f{i}")

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = exactly_once_parquet_sink(stream, out, ckpt)
    q.awaitTermination()

    sunk = read_sink(spark, out)
    assert sunk.select("run_id").distinct().count() == 1
    assert sunk.select("batch_id").distinct().count() == 2
    assert sunk.count() == batch.count()
    assert sunk.agg(F.sum("event_id")).first()[0] == \
        batch.agg(F.sum("event_id")).first()[0]

    # restart over the same checkpoint: nothing new to process, no dupes
    q2 = exactly_once_parquet_sink(stream, out, ckpt)
    q2.awaitTermination()
    assert read_sink(spark, out).count() == batch.count()


def test_exactly_once_sink_namespaced_accumulates_across_runs(spark,
                                                              tmp_path):
    """namespaced=True switches the output to run_id=R/batch_id=N: a
    SECOND run (fresh checkpoint, batch ids restarting at 0) appends
    beside the first instead of overwriting its batch-0 directory —
    the silent-loss hazard the bare layout documents.  Since r12 this
    IS the default, so the test exercises the default path (no
    ``namespaced=`` argument)."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        exactly_once_parquet_sink,
        read_sink,
    )

    out = str(tmp_path / "out")
    n_total = 0
    for sub in ("one", "two"):
        d = tmp_path / f"in_{sub}"
        _feed_files(spark, d, [[(1 if sub == "one" else 2,
                                 f"body {sub}")]])
        n_total += 1
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        q = exactly_once_parquet_sink(stream, out,
                                      str(tmp_path / f"ckpt_{sub}"))
        q.awaitTermination()
    runs = [x for x in os.listdir(out) if x.startswith("run_id=")]
    assert len(runs) == 2 and all(r.startswith("run_id=r") for r in runs)
    sunk = read_sink(spark, out)
    assert sunk.count() == n_total
    assert {r["doc_id"] for r in sunk.select("doc_id").collect()} == {1, 2}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream event-time range join (watermarked, bounded state)
    returns exactly the batch interval_join pairs."""
    from basic_data_fusion_spark.operators.joins import interval_join
    from basic_data_fusion_spark.streaming.joins import stream_interval_join

    ev = _events_batch(spark)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"))
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("eu"),
        F.col("ts").alias("ets"))
    expected = sorted(
        (r["click_id"], r["err_id"]) for r in
        interval_join(clicks, errors, "cu", "eu", "cts", "ets",
                      0.0, 300.0).collect())

    cdir, edir = tmp_path / "clicks", tmp_path / "errors"
    clicks.coalesce(1).write.parquet(str(cdir))
    errors.coalesce(1).write.parquet(str(edir))
    cs = spark.readStream.schema(clicks.schema).parquet(str(cdir))
    es = spark.readStream.schema(errors.schema).parquet(str(edir))
    joined = stream_interval_join(cs, es, "cu", "eu", "cts", "ets", 0, 300)
    out = W.run_available_now(joined.select("click_id", "err_id"),
                              "t_ss_interval", output_mode="append")
    got = sorted((r["click_id"], r["err_id"]) for r in out.collect())
    assert got == expected and len(got) > 0


def test_streaming_exact_dedup_drops_redeliveries(spark, tmp_path):
    from basic_data_fusion_spark.streaming.dedup import streaming_exact_dedup

    # two files = two micro-batches; event 1 and 2 re-delivered in both
    rows1 = [(1, "2024-01-01 00:00:01", "a"), (2, "2024-01-01 00:00:02", "b"),
             (1, "2024-01-01 00:00:01", "a")]                     # in-batch dup
    rows2 = [(2, "2024-01-01 00:00:02", "b"),                     # cross-batch dup
             (3, "2024-01-01 00:05:00", "c")]
    schema = "event_id long, ts_s string, payload string"
    d = tmp_path / "in"
    d.mkdir()
    for i, rows in enumerate([rows1, rows2]):
        (spark.createDataFrame(rows, schema)
         .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
         .coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}")))

    batch = spark.read.option("recursiveFileLookup", "true").parquet(str(d))
    stream = (spark.readStream.schema(batch.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))

    out = W.run_available_now(
        streaming_exact_dedup(stream, ["event_id"], "ts", "10 minutes"),
        "t_stream_dedup", output_mode="append")
    got = sorted((r["event_id"], r["payload"]) for r in out.collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # batch path: same keep-one semantics via plain dropDuplicates
    bout = streaming_exact_dedup(batch, ["event_id"])
    assert sorted(r["event_id"] for r in bout.collect()) == [1, 2, 3]


def test_streaming_quality_classifier_scores_match_batch(spark, tmp_path):
    """The trained quality classifier is a deterministic transformer, so
    it applies unchanged to a readStream source — streaming scores must
    equal batch scores row-for-row (model-on-stream, the live-ingestion
    quality gate at scale)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from basic_data_fusion_spark.operators.selection import (
        quality_classifier_scores,
        train_quality_classifier,
    )

    clean = "the quick brown fox jumps over the lazy dog again and again"
    noise = "zx1q zx2q zx3q zx4q zx5q zx6q zx7q zx8q"
    pos = spark.createDataFrame([(i, clean) for i in range(20)],
                                "doc_id long, text string")
    neg = spark.createDataFrame([(i, noise) for i in range(20)],
                                "doc_id long, text string")
    model = train_quality_classifier(pos, neg, buckets=1 << 10)

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "docs.jsonl").write_text(
        '{"doc_id": 1, "text": "%s"}\n' % clean
        + '{"doc_id": 2, "text": "%s"}\n' % noise)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    stream = spark.readStream.schema(schema).json(str(indir))
    scored = quality_classifier_scores(stream, model)
    q = (scored.writeStream.format("memory").queryName("scored_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["doc_id"]: r["quality_prob"]
           for r in spark.sql("SELECT * FROM scored_stream").collect()}
    batch = {r["doc_id"]: r["quality_prob"] for r in quality_classifier_scores(
        spark.createDataFrame([(1, clean), (2, noise)],
                              "doc_id long, text string"), model).collect()}
    assert got == batch
    assert got[1] > 0.5 > got[2]


def test_streaming_corpus_ingestion_end_to_end(spark, tmp_path):
    """Composite live-ingestion pipeline: JSONL file stream → quality
    gate → watermark-bounded exact dedup → exactly-once parquet sink.
    Ties the sources, text, streaming-dedup and sink layers together the
    way a production corpus ingester would chain them."""
    from basic_data_fusion_spark.operators.text import quality_score
    from basic_data_fusion_spark.streaming.dedup import streaming_exact_dedup
    from basic_data_fusion_spark.streaming.sinks import (
        exactly_once_parquet_sink,
        read_sink,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        '{"doc_id": 1, "text": "%s", "ts": "2024-01-01 00:00:01"}\n' % good
        + '{"doc_id": 2, "text": "!!! ??? ###", "ts": "2024-01-01 00:00:02"}\n'
        + '{"doc_id": 1, "text": "%s", "ts": "2024-01-01 00:00:01"}\n' % good)
    (indir / "b2.jsonl").write_text(
        '{"doc_id": 1, "text": "%s", "ts": "2024-01-01 00:00:01"}\n' % good
        + '{"doc_id": 3, "text": "%s now", "ts": "2024-01-01 00:03:00"}\n' % good)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType()),
                         StructField("ts", TimestampType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").json(str(indir)))
    gated = quality_score(stream).filter("keep").select("doc_id", "text", "ts")
    deduped = streaming_exact_dedup(gated, ["doc_id"], "ts", "10 minutes")
    q = exactly_once_parquet_sink(deduped, str(tmp_path / "out"),
                                  str(tmp_path / "ckpt"))
    q.awaitTermination()

    out = read_sink(spark, str(tmp_path / "out"))
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # doc 2 fails quality; doc 1's three copies collapse to one
    assert got == [1, 3]


def test_streaming_simhash_near_dup_candidates(spark, tmp_path):
    """Custom stateful streaming near-dup: docs arriving in DIFFERENT
    micro-batches are matched through band-bucket state (no false
    negatives within retention); sink-side dedup of the per-band
    candidates reproduces the batch simhash tier's pair set."""
    from basic_data_fusion_spark.operators.dedup import simhash_near_dups
    from basic_data_fusion_spark.streaming.dedup import (
        streaming_simhash_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("lazy", "sleepy")),         # near dup of 1/2
        (4, "completely different text about query engines and sparks"),
        (5, base),                                   # later-batch dup
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {(r["id_a"], r["id_b"]) for r in
                simhash_near_dups(batch_df, max_hamming=3).collect()}
    assert expected, "fixture must contain near dups"

    # two micro-batches: docs 1-4 then doc 5 (state must carry across)
    d = tmp_path / "docs_stream"
    d.mkdir()
    spark.createDataFrame(rows[:4], "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "p0"))
    spark.createDataFrame(rows[4:], "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "p1"))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(d / "p*" / "*.parquet")))):
        shutil.copy(f, d / f"batch{i}.parquet")
    shutil.rmtree(d / "p0")
    shutil.rmtree(d / "p1")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    out = W.run_available_now(streaming_simhash_candidates(stream),
                              "t_stream_simhash", output_mode="append")
    got_rows = out.toPandas()
    # sink-side candidate dedup (pairs can emit once per agreeing band)
    got = {(min(a, b), max(a, b))
           for a, b in zip(got_rows["dup_of"], got_rows["doc_id"])}
    assert got == expected
    # the cross-batch pair specifically must be present
    assert any(5 in p for p in got)


def test_index_backed_dedup_unbounded_horizon(spark, tmp_path):
    """The persisted-index sink drops a duplicate arriving in a LATER
    micro-batch — beyond any watermark horizon — while watermark-state
    dedup alone would have forgotten it; within-batch dups collapse to
    the min id; the index carries across a fresh restart."""
    from basic_data_fusion_spark.streaming.sinks import (
        index_backed_dedup_sink,
        read_sink,
    )

    d = tmp_path / "in"
    d.mkdir()
    spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content"), (3, "alpha  CONTENT")],
        "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "p0"))
    spark.createDataFrame(
        [(10, "alpha content"), (11, "gamma content")],
        "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "p1"))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(d / "p*" / "*.parquet")))):
        shutil.copy(f, d / f"batch{i}.parquet")
    shutil.rmtree(d / "p0")
    shutil.rmtree(d / "p1")

    out, idx, ck = (str(tmp_path / "out"), str(tmp_path / "idx"),
                    str(tmp_path / "ck"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    q = index_backed_dedup_sink(stream, out, idx, ck)
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in read_sink(spark, out).collect())
    # 3 normalizes to doc 1's content (in-batch dup); 10 duplicates doc 1
    # from the EARLIER batch (index, not state); 2 and 11 unique
    assert got == [1, 2, 11]

    # a brand-new stream run (fresh checkpoint — simulating next day's
    # job) still sees the standing index
    spark.createDataFrame([(20, "ALPHA content"), (21, "delta content")],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "p2"))
    for f in glob.glob(str(d / "p2" / "*.parquet")):
        shutil.copy(f, d / "batch9.parquet")
    shutil.rmtree(d / "p2")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", "1").parquet(str(d)))
    q2 = index_backed_dedup_sink(stream2, str(tmp_path / "out2"), idx,
                                 str(tmp_path / "ck2"))
    q2.awaitTermination()
    got2 = sorted(r["doc_id"] for r in
                  read_sink(spark, str(tmp_path / "out2")).collect())
    # run 2 reprocesses every file with a fresh checkpoint, but the
    # standing index (namespaced by run 1's run_id, so run 2's batch 0
    # does NOT shadow it) drops all previously-seen content — only the
    # genuinely new doc survives
    assert got2 == [21]


def test_streaming_rolling_zscore_matches_batch(spark, tmp_path):
    """Online anomaly scoring with bounded state (last-7 integer views
    per key): with chronological delivery across 3 micro-batches, every
    (n_prior, z, is_anomaly) equals the batch rolling_zscore
    bit-for-bit — state carries the trailing window across batch
    boundaries."""
    import glob
    import os
    import shutil

    from basic_data_fusion_spark.operators.linkage import rolling_zscore
    from basic_data_fusion_spark.streaming.stateful import (
        streaming_rolling_zscore,
    )

    batch = (_events_batch(spark)
             .filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id", "value"))
    expected = _norm(
        rolling_zscore(batch, "user_id", "ts", "event_id", "value",
                       lookback=7, min_prior=3, decimals=4)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id",
                "value", "n_prior", "z", "is_anomaly").toPandas())

    # chronological thirds -> 3 triggers, trailing windows MUST span
    # batch boundaries; ascending mtimes pin the file-source order
    d = tmp_path / "zstream"
    d.mkdir(exist_ok=True)
    splits = [batch.orderBy("ts", "event_id").filter(c) for c in [
        F.col("ts") <= F.lit("2024-02-01"),
        (F.col("ts") > F.lit("2024-02-01")) & (F.col("ts") <= F.lit("2024-03-01")),
        F.col("ts") > F.lit("2024-03-01")]]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(str(d / f"s{i}"))
        f = glob.glob(str(d / f"s{i}" / "*.parquet"))[0]
        shutil.copy(f, d / f"batch{i}.parquet")
        shutil.rmtree(d / f"s{i}")
        os.utime(d / f"batch{i}.parquet", (1000 + i, 1000 + i))

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    got = _norm(W.run_available_now(
        streaming_rolling_zscore(stream, lookback=7, min_prior=3,
                                 decimals=4),
        "t_stream_zscore", output_mode="append").toPandas())
    assert len(got) == len(expected) and len(got) == batch.count()
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_streaming_rolling_zscore_null_value_parity(spark, tmp_path):
    """NULL tolerance (advice r4): a NULL value must not kill the
    stream (int(NaN) in the state worker) — it occupies a window slot
    but contributes nothing to the sums/counts and scores NULL z,
    exactly like the batch twin's frame semantics."""
    from basic_data_fusion_spark.operators.linkage import rolling_zscore
    from basic_data_fusion_spark.streaming.stateful import (
        streaming_rolling_zscore,
    )

    rows = []
    for i in range(12):
        v = None if i in (4, 7) else float(100 + (i % 5))
        rows.append((1, f"2024-01-{i + 1:02d} 00:00:00", i, v))
    rows.append((1, "2024-01-20 00:00:00", 99, 500.0))  # the anomaly
    batch = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))

    expected = _norm(
        rolling_zscore(batch, "user_id", "ts", "event_id", "value",
                       lookback=7, min_prior=3, decimals=4)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id",
                "value", "n_prior", "z", "is_anomaly").toPandas())

    d = tmp_path / "znull"
    d.mkdir(exist_ok=True)
    batch.coalesce(1).write.mode("overwrite").parquet(str(d / "b0"))
    import glob
    import shutil
    f = glob.glob(str(d / "b0" / "*.parquet"))[0]
    shutil.copy(f, d / "batch0.parquet")
    shutil.rmtree(d / "b0")

    stream = (spark.readStream.schema(batch.schema).parquet(str(d)))
    got = _norm(W.run_available_now(
        streaming_rolling_zscore(stream, lookback=7, min_prior=3,
                                 decimals=4),
        "t_stream_zscore_null", output_mode="append").toPandas())
    assert len(got) == len(expected)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)
    # the NULL rows themselves scored NULL z and survived
    nulls = got[got["event_id"].isin([4, 7])]
    assert nulls["z"].isna().all()


def test_quantile_sketch_sink_rollup_matches_batch(spark, tmp_path):
    """The streaming histogram sink completes the mergeable quantile
    tier: per-batch sketches written by the stream, merged by
    quantile_rollup, produce BIT-IDENTICAL estimates to the one-shot
    batch sketch over the same data — mergeability means the batch
    boundary cannot be observed. Replays overwrite their own batch_id
    directory, so the store never double-counts."""
    import glob
    import shutil

    from basic_data_fusion_spark.operators.aggregations import (
        quantile_hist_sketch,
        quantile_rollup,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        quantile_sketch_sink,
        read_sink,
    )

    batch = _events_batch(spark).select("event_id", "value")
    lo_hi = batch.agg(F.min(F.col("value").cast("double")),
                      F.max(F.col("value").cast("double"))).first()
    lo, hi = float(lo_hi[0]), float(lo_hi[1])
    bins, qs = 128, [0.25, 0.5, 0.9]

    d = tmp_path / "in"
    d.mkdir()
    for i in range(2):
        (batch.filter(F.col("event_id") % 2 == i).coalesce(1)
         .write.parquet(str(d / f"f{i}")))
    for i, f in enumerate(sorted(glob.glob(str(d / "f*" / "*.parquet")))):
        shutil.copy(f, d / f"in{i}.parquet")
        shutil.rmtree(d / f"f{i}")

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    sk_path, ckpt = str(tmp_path / "sk"), str(tmp_path / "ckpt")
    q = quantile_sketch_sink(stream, sk_path, ckpt,
                             part_col="event_id", value_col="value",
                             lo=lo, hi=hi, bins=bins)
    q.awaitTermination()

    sunk = read_sink(spark, sk_path)
    assert sunk.select("batch_id").distinct().count() == 2
    streamed = {(r["quantile"]): (r["n_total"], r["estimate"]) for r in
                quantile_rollup(sunk, lo, hi, bins, qs).collect()}
    one_shot = quantile_hist_sketch(batch, "event_id", "value",
                                    lo, hi, bins)
    expected = {(r["quantile"]): (r["n_total"], r["estimate"]) for r in
                quantile_rollup(one_shot, lo, hi, bins, qs).collect()}
    assert streamed == expected


def test_minhash_index_sink_fuzzy_dedup_across_batches(spark, tmp_path):
    """Streaming fuzzy dedup against the persisted signature index: a
    batch-2 copy of a batch-1 doc is dropped (cross-batch, unbounded
    horizon), an in-batch copy loses to its smaller-id sibling, novel
    docs survive, and only survivors join the index."""
    from basic_data_fusion_spark.streaming.sinks import (
        minhash_index_sink,
        read_sink,
    )

    long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("entirely different words about streaming systems and "
             "their various failure modes in production pipelines")
    batch1 = [(1, long), (2, other)]
    batch2 = [(3, long),                       # near-dup of indexed 1 -> drop
              (4, "fresh novel content here about something new ok"),
              (5, "fresh novel content here about something new ok")]  # in-batch dup of 4 -> drop
    d = tmp_path / "in"
    d.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        (spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
         .write.parquet(str(d / f"f{i}")))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(d / "f*" / "*.parquet")))):
        shutil.copy(f, d / f"in{i}.parquet")
        shutil.rmtree(d / f"f{i}")

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    q = minhash_index_sink(stream, out, idx, str(tmp_path / "ckpt"),
                           threshold=0.8)
    q.awaitTermination()

    survived = sorted(r["doc_id"] for r in read_sink(spark, out).collect())
    assert survived == [1, 2, 4]
    indexed = sorted(r["doc_id"] for r in
                     spark.read.parquet(f"{idx}/sigs").collect())
    assert indexed == [1, 2, 4]  # dropped dups never index
    # replay idempotence: re-invoking the batch fn with the same
    # batch_id overwrites its own partitions -> no double counting
    sunk = read_sink(spark, out)
    assert sunk.count() == 3


def test_streaming_decontaminate_flags_leaks(spark, tmp_path):
    """Streaming decontamination gate: docs sharing a 5-token window
    with the static held-out set are flagged across micro-batches
    (update mode, stateless probe — no watermark needed); clean and
    too-short docs pass unflagged; the batch path returns identical
    rows from the same call site."""
    from basic_data_fusion_spark.streaming.dedup import (
        streaming_decontaminate,
    )

    leak = "the quick brown fox jumps"
    rows1 = [(1, "intro " + leak + " outro"),           # contaminated
             (2, "totally clean document right here")]  # clean
    rows2 = [(3, leak),                                 # exactly the leak
             (4, "tiny doc")]                           # < window: 0 windows
    schema = "doc_id long, text string"
    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate([rows1, rows2]):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}")))

    held = spark.createDataFrame(
        [(100, "padding " + leak + " trailer")], schema)

    batch = spark.read.option("recursiveFileLookup", "true").parquet(str(d))
    stream = (spark.readStream.schema(batch.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))

    out = W.run_available_now(
        streaming_decontaminate(stream, held, window=5),
        "t_stream_decontam", output_mode="update")
    got = {r["doc_id"]: (r["n_windows"], r["n_contaminated"],
                         r["contaminated"]) for r in out.collect()}
    assert got[1] == (3, 1, True)     # 7 toks → 3 windows, 1 hits the leak
    assert got[2][2] is False and got[2][1] == 0
    assert got[3] == (1, 1, True)
    assert got[4] == (0, 0, False)    # 2 toks < window: no windows, clean

    bgot = {r["doc_id"]: (r["n_windows"], r["n_contaminated"],
                          r["contaminated"])
            for r in streaming_decontaminate(batch, held, window=5).collect()}
    assert bgot == got


def test_streaming_gopher_gate_matches_batch(spark, tmp_path):
    """gopher_rules is a stateless map-only projection, so it applies
    unchanged to a readStream source — the live-ingestion rule gate.
    Streaming flags must equal batch flags row-for-row (no watermark,
    no state, restart-safe by construction)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from basic_data_fusion_spark.operators.text import gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and that have "
            "with more plain words here to cross the rule floor ") * 3
    bad = "zx " * 8
    indir = tmp_path / "in"
    indir.mkdir()
    import json as _json
    (indir / "docs.jsonl").write_text(
        _json.dumps({"doc_id": 1, "text": good}) + "\n"
        + _json.dumps({"doc_id": 2, "text": bad}) + "\n")
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    stream = spark.readStream.schema(schema).json(str(indir))
    flagged = gopher_rules(stream, min_words=30, min_stop_hits=1)
    q = (flagged.writeStream.format("memory").queryName("gopher_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["doc_id"]: r.asDict()
           for r in spark.sql("SELECT * FROM gopher_stream").collect()}
    batch = {r["doc_id"]: r.asDict() for r in gopher_rules(
        spark.createDataFrame([(1, good), (2, bad)],
                              "doc_id long, text string"),
        min_words=30, min_stop_hits=1).collect()}
    assert got == batch
    assert got[1]["keep"] and not got[2]["keep"]


def test_index_exists_probe(spark, tmp_path):
    """The cross-batch index probe goes through the Hadoop FileSystem
    API (path-scheme-aware — hdfs/s3a answer correctly in production),
    not a driver-local os.path.isdir: absent -> False, written parquet
    -> True, and a bare file:// URI resolves too."""
    from basic_data_fusion_spark.streaming.sinks import _index_exists

    missing = str(tmp_path / "nope")
    assert _index_exists(spark, missing) is False
    d = str(tmp_path / "idx")
    spark.range(3).write.parquet(d)
    assert _index_exists(spark, d) is True
    assert _index_exists(spark, "file://" + d) is True


def test_cluster_label_sink_incremental_merges(spark, tmp_path):
    """Streaming cluster maintenance: labels accumulate across
    micro-batches with an unbounded horizon, a batch-2 bridge document
    MERGES two previously-separate batch-1 clusters (the affected old
    doc is re-emitted in the delta with its new label), later copies
    join standing clusters, and the folded label map equals a one-shot
    clustering of the full corpus under the SAME signature-estimated
    pair definition."""
    from basic_data_fusion_spark.operators.dedup import (
        dedup_clusters,
        minhash_band_keys,
        minhash_signatures,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        read_cluster_labels,
    )

    base = [f"w{i}" for i in range(32)]
    tail = [f"t{i}" for i in range(8)]
    A = " ".join(base)                 # sim(A,B)=0.78 < 0.8 (det, seed 42)
    B = " ".join(base + tail)          # sim(A,M)=0.84, sim(B,M)=0.91
    M = " ".join(base + tail[:4])      # -> M bridges the A and B clusters
    uniq1 = "entirely different words about streaming label stores"
    uniq2 = "another disjoint document concerning checkpoint replays"
    batches = [
        [(1, A), (2, B), (11, A)],      # clusters {1,11} and {2}
        [(3, M), (12, uniq1)],          # 3 bridges -> {1,2,3,11}
        [(13, A), (14, uniq2)],         # 13 joins the merged cluster
    ]
    d = tmp_path / "in"
    d.mkdir()
    import glob
    import shutil
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
         .write.parquet(str(d / f"f{i}")))
        f = glob.glob(str(d / f"f{i}" / "*.parquet"))[0]
        shutil.copy(f, d / f"in{i}.parquet")
        shutil.rmtree(d / f"f{i}")

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    labels_dir = str(tmp_path / "labels")
    q = cluster_label_sink(stream, labels_dir, str(tmp_path / "idx"),
                           str(tmp_path / "ckpt"), threshold=0.8)
    q.awaitTermination()

    got = {r["doc_id"]: r["cluster_id"]
           for r in read_cluster_labels(spark, labels_dir).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 11: 1, 13: 1, 12: 12, 14: 14}

    # the batch-2 delta must re-emit doc 2 (its label changed 2 -> 1)
    b2 = {r["doc_id"]: r["cluster_id"] for r in spark.read.parquet(
        labels_dir).filter(F.col("batch_id") == 1).collect()}
    assert b2[2] == 1 and b2[3] == 1

    # parity: one-shot clustering of the full corpus under the SAME
    # banded-candidate + signature-estimated pair definition
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string")
    sig = minhash_signatures(all_docs, "text", "doc_id", 3, 64, 42)
    bk = minhash_band_keys(sig, "doc_id", "doc_id", 16, 64)
    cand = (bk.alias("x").join(bk.alias("y"), ["band", "bucket"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("id_a"),
                    F.col("y.doc_id").alias("id_b")).distinct())
    sa = sig.select(F.col("doc_id").alias("id_a"),
                    F.col("signature").alias("__sa"))
    sb = sig.select(F.col("doc_id").alias("id_b"),
                    F.col("signature").alias("__sb"))
    eq = F.zip_with("__sa", "__sb", lambda a, b: (a == b).cast("int"))
    est = (F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
           .cast("double") / F.lit(64))
    pairs = (cand.join(sa, "id_a").join(sb, "id_b")
             .filter(est >= F.lit(0.8)).select("id_a", "id_b"))
    oneshot = {r["doc_id"]: r["cluster_id"]
               for r in dedup_clusters(all_docs, pairs).collect()}
    assert got == oneshot


def test_cluster_label_sink_second_run_outranks_first(spark, tmp_path):
    """Cross-run latest-wins: batch_id restarts at 0 per run, so a
    SECOND run (new checkpoint → new run_id) writing the same labels
    store must beat the first run's labels even though the first run
    reached higher batch ids.  The run epoch (max standing epoch + 1,
    stamped on every delta row) is what makes the fold total — a bare
    max_by over batch_id would resurrect run 1's stale labels here."""
    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        read_cluster_labels,
    )

    text_b = "alpha beta gamma delta epsilon zeta eta theta"
    text_c = "one two three four five six seven eight nine ten"

    def run(sub: str, rows_per_batch: list[list[tuple[int, str]]]) -> None:
        d = tmp_path / sub
        d.mkdir()
        import glob
        import shutil
        for i, rows in enumerate(rows_per_batch):
            (spark.createDataFrame(rows, "doc_id long, text string")
             .coalesce(1).write.parquet(str(d / f"f{i}")))
            f = glob.glob(str(d / f"f{i}" / "*.parquet"))[0]
            shutil.copy(f, d / f"in{i}.parquet")
            shutil.rmtree(d / f"f{i}")
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        q = cluster_label_sink(stream, str(tmp_path / "labels"),
                               str(tmp_path / "idx"),
                               str(tmp_path / f"ckpt_{sub}"),
                               threshold=0.8)
        q.awaitTermination()

    # run 1: three micro-batches; doc 13's label row (cluster 12) is
    # written at batch_id=2 — the HIGHEST batch id in the store
    run("one", [[(11, text_b)], [(12, text_c)], [(13, text_c)]])
    # run 2: ONE micro-batch (batch_id=0): doc 2 joins the {12,13}
    # cluster and re-roots it to min id 2, so run 2's delta re-emits
    # 12 and 13 with label 2 at batch_id=0.  Without the run epoch,
    # max_by(batch_id) resurrects doc 13's stale batch_id=2 label.
    run("two", [[(2, text_c)]])

    got = {r["doc_id"]: r["cluster_id"]
           for r in read_cluster_labels(
               spark, str(tmp_path / "labels")).collect()}
    assert got == {2: 2, 11: 11, 12: 2, 13: 2}, got
    # epochs are monotone across runs in the store
    eps = {r["epoch"] for r in spark.read.parquet(
        str(tmp_path / "labels")).select("epoch").collect()}
    assert eps == {1, 2}


def test_compact_cluster_labels_preserves_fold_and_epoch_order(spark, tmp_path):
    """Compaction folds the delta log into one snapshot with an
    identical latest-wins result, removes every other run directory,
    and keeps the epoch frontier so a post-compaction writer run still
    outranks the snapshot."""
    from basic_data_fusion_spark.streaming.sinks import (
        compact_cluster_labels,
        read_cluster_labels,
    )

    store = str(tmp_path / "labels")
    # hand-built delta log: run a (epoch 1, batches 0-1) then run b
    # (epoch 2, batch 0) re-rooting doc 13's cluster
    deltas = [
        ("a", 0, [(11, 11), (12, 12)], 1),
        ("a", 1, [(13, 12)], 1),
        ("b", 0, [(2, 2), (12, 2), (13, 2)], 2),
    ]
    for run, b, rows, ep in deltas:
        (spark.createDataFrame([(d, c, ep) for d, c in rows],
                               "doc_id long, cluster_id long, epoch long")
         .write.mode("overwrite")
         .parquet(f"{store}/run_id={run}/batch_id={b}"))

    before = {r["doc_id"]: r["cluster_id"]
              for r in read_cluster_labels(spark, store).collect()}
    assert before == {2: 2, 11: 11, 12: 2, 13: 2}

    removed = compact_cluster_labels(spark, store)
    assert removed == 2  # run_id=a and run_id=b
    import os
    assert os.listdir(store) == ["run_id=__compact__"]
    after = {r["doc_id"]: r["cluster_id"]
             for r in read_cluster_labels(spark, store).collect()}
    assert after == before
    # snapshot carries the current epoch frontier
    eps = {r["epoch"] for r in
           spark.read.parquet(store).select("epoch").collect()}
    assert eps == {2}

    # a post-compaction writer run claims epoch 3 and outranks: doc 2
    # joins cluster with doc 1 via a fresh sink run over the same store
    from basic_data_fusion_spark.streaming.sinks import cluster_label_sink
    import glob
    import shutil
    d = tmp_path / "in"
    d.mkdir()
    (spark.createDataFrame([(1, "post compact writer run")],
                           "doc_id long, text string").coalesce(1)
     .write.parquet(str(d / "f0")))
    f = glob.glob(str(d / "f0" / "*.parquet"))[0]
    shutil.copy(f, d / "in0.parquet")
    shutil.rmtree(d / "f0")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    q = cluster_label_sink(stream, store, str(tmp_path / "idx"),
                           str(tmp_path / "ckpt"), threshold=0.8)
    q.awaitTermination()
    final = {r["doc_id"]: r["cluster_id"]
             for r in read_cluster_labels(spark, store).collect()}
    assert final == {**before, 1: 1}
    eps = {r["epoch"] for r in
           spark.read.parquet(store).select("epoch").collect()}
    assert eps == {2, 3}


def _write_delta(spark, store, run, b, rows, ep):
    (spark.createDataFrame([(d, c, ep) for d, c in rows],
                           "doc_id long, cluster_id long, epoch long")
     .write.mode("overwrite")
     .parquet(f"{store}/run_id={run}/batch_id={b}"))


def _feed_files(spark, d, batches):
    import glob
    import shutil
    import time
    d.mkdir(exist_ok=True)
    existing = len(glob.glob(str(d / "in*.parquet")))
    # FileStreamSource orders files by modification time with unstable
    # ties — pin strictly increasing mtimes so batch assignment is
    # deterministic across runs (A/B twins must see identical batches)
    t0 = time.time() - 10_000
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(str(d / f"f{i}")))
        f = glob.glob(str(d / f"f{i}" / "*.parquet"))[0]
        dst = d / f"in{existing + i}.parquet"
        shutil.copy(f, dst)
        import os
        os.utime(dst, (t0 + existing + i, t0 + existing + i))
        shutil.rmtree(d / f"f{i}")


def test_compact_cluster_labels_twice_keeps_snapshot_rows(spark, tmp_path):
    """Second compaction regression (r8 advisory): the old implementation
    wrote the new snapshot with mode=overwrite INTO the live
    run_id=__compact__ directory while the fold job still lazily read
    it — Spark deletes the target before executing, so every compaction
    after the first crashed on the vanished inputs (or silently dropped
    the labels living only in the snapshot under ignoreMissingFiles).
    Back-to-back compactions and compaction of a snapshot-plus-new-run
    log must both preserve the fold."""
    from basic_data_fusion_spark.streaming.sinks import (
        compact_cluster_labels,
        read_cluster_labels,
    )

    store = str(tmp_path / "labels")
    # doc 99's label lives ONLY in run a — after the first compaction,
    # only in the snapshot; losing the snapshot loses it silently
    _write_delta(spark, store, "a", 0, [(99, 99), (11, 11)], ep=1)
    _write_delta(spark, store, "b", 0, [(12, 12)], ep=2)
    want = {99: 99, 11: 11, 12: 12}
    assert compact_cluster_labels(spark, store) == 2
    # back-to-back second compaction: the fold's only source is the
    # snapshot itself
    assert compact_cluster_labels(spark, store) == 1
    got = {r["doc_id"]: r["cluster_id"]
           for r in read_cluster_labels(spark, store).collect()}
    assert got == want
    # a new run lands after compaction, then a third compaction folds
    # snapshot + run; doc 99 must still survive
    _write_delta(spark, store, "c", 0, [(12, 11), (13, 11)], ep=3)
    assert compact_cluster_labels(spark, store) == 2
    got = {r["doc_id"]: r["cluster_id"]
           for r in read_cluster_labels(spark, store).collect()}
    assert got == {99: 99, 11: 11, 12: 11, 13: 11}
    import os
    assert sorted(os.listdir(store)) == ["run_id=__compact__"]


def test_cluster_label_sink_auto_compaction_parity(spark, tmp_path):
    """compact_every=2 folds the log mid-run after batches 2 and 4; the
    final label map must equal the uncompacted run's, later batches
    must outrank the mid-run snapshot (a merge AFTER a compaction still
    re-roots), and the store must end smaller than the delta log."""
    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        read_cluster_labels,
    )

    base = [f"w{i}" for i in range(32)]
    tail = [f"t{i}" for i in range(8)]
    A = " ".join(base)
    B = " ".join(base + tail)
    M = " ".join(base + tail[:4])   # bridges A's and B's clusters
    uniq = "entirely different words about compaction timing"
    # batch 2 triggers a compaction (compact_every=2); the bridge doc
    # arrives in batch 3 — AFTER the snapshot — so the merge's re-rooted
    # labels must beat the snapshot rows in the fold
    batches = [[(1, A), (2, B)], [(11, A), (12, uniq)],
               [(13, B)], [(3, M)]]

    def run(sub, compact_every):
        _feed_files(spark, tmp_path / f"in_{sub}", batches)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / f"in_{sub}")))
        q = cluster_label_sink(stream, str(tmp_path / f"labels_{sub}"),
                               str(tmp_path / f"idx_{sub}"),
                               str(tmp_path / f"ckpt_{sub}"),
                               threshold=0.8,
                               compact_every=compact_every)
        q.awaitTermination()
        return {r["doc_id"]: r["cluster_id"]
                for r in read_cluster_labels(
                    spark, str(tmp_path / f"labels_{sub}")).collect()}

    plain = run("plain", None)
    compacted = run("auto", 2)
    assert compacted == plain
    assert plain[3] == plain[1] == plain[2]  # the post-snapshot merge
    import os
    runs_plain = os.listdir(str(tmp_path / "labels_plain"))
    runs_auto = os.listdir(str(tmp_path / "labels_auto"))
    # 4 batches, compactions after batch ids 1 and 3: the store holds
    # one snapshot run (+ nothing else — the last batch compacted too)
    assert "run_id=__compact__" in runs_auto
    assert len(runs_auto) < len(
        spark.read.parquet(str(tmp_path / "labels_plain"))
        .select("batch_id").distinct().collect()) or len(runs_auto) == 1
    assert len(runs_plain) == 1  # single run dir, 4 batch dirs inside


def test_cluster_label_sink_custom_id_col_matches_doc_id_run(spark,
                                                            tmp_path):
    """The label store is keyed by ``doc_id`` whatever ``id_col`` the
    stream uses: a ``rec_id`` run with mid-run compaction (the fold and
    ``read_cluster_labels`` both key on ``doc_id``) gives the same label
    map as the ``doc_id`` run."""
    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        read_cluster_labels,
    )

    base = [f"w{i}" for i in range(32)]
    tail = [f"t{i}" for i in range(8)]
    A, B = " ".join(base), " ".join(base + tail)
    M = " ".join(base + tail[:4])
    # the fold after batch 1 leaves a snapshot; batch 2's bridge merge
    # reads its standing labels from it
    batches = [[(1, A), (2, B)], [(11, A), (12, "a lone document")],
               [(3, M)]]
    _feed_files(spark, tmp_path / "in", batches)

    def run(sub, id_col):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / "in"))
                  .withColumnRenamed("doc_id", id_col))
        q = cluster_label_sink(stream, str(tmp_path / f"labels_{sub}"),
                               str(tmp_path / f"idx_{sub}"),
                               str(tmp_path / f"ckpt_{sub}"),
                               id_col=id_col, threshold=0.8,
                               compact_every=2)
        q.awaitTermination()
        return {r["doc_id"]: r["cluster_id"]
                for r in read_cluster_labels(
                    spark, str(tmp_path / f"labels_{sub}")).collect()}

    want = run("doc", "doc_id")
    assert want == {1: 1, 2: 1, 3: 1, 11: 1, 12: 12}
    assert run("rec", "rec_id") == want


def test_banded_pairs_match_python_reference(spark, tmp_path):
    """The shared filter-then-verify probe against a pure-Python
    reference over the collected signatures and band keys: pairs share
    a (band, bucket) key and agree on >= threshold of the signature
    positions; history pairs skip exactly the current (run, batch)
    partition, and within-batch pairs point at the smaller id."""
    from basic_data_fusion_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
    )
    from basic_data_fusion_spark.streaming.sinks import _banded_pairs

    base = [f"w{i}" for i in range(32)]
    tail = [f"t{i}" for i in range(8)]
    A = " ".join(base)                 # sim(A,B)=0.78, sim(A,M)=0.84,
    B = " ".join(base + tail)          # sim(B,M)=0.91 (seed 42)
    M = " ".join(base + tail[:4])
    lone = "entirely different words about banded probes"

    def signed(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = minhash_signatures(df, "text", "doc_id", 3, 64, 42)
        return sig, minhash_band_keys(sig, "doc_id", "doc_id", 16, 64)

    idx = str(tmp_path / "idx")
    history = {("rH", 0): [(100, A), (101, lone), (102, B)],
               ("rC", 2): [(300, A)],           # same run, older batch
               ("rC", 3): [(200, M)]}           # the current partition
    hist_sigs, hist_keys = [], []
    for (run, b), rows in history.items():
        sig, keys = signed(rows)
        sig.write.parquet(f"{idx}/sigs/run_id={run}/batch_id={b}")
        keys.write.parquet(f"{idx}/bands/run_id={run}/batch_id={b}")
        if (run, b) != ("rC", 3):
            hist_sigs += sig.collect()
            hist_keys += keys.collect()

    # near-dups of history (1, 8), an exact re-delivery of history id
    # 101, in-batch siblings (5 ~ 1, 8 ~ 1) and a below-threshold
    # candidate (8 vs B)
    sig, keys = signed([(1, M), (101, lone), (5, B), (8, A),
                        (9, "nothing like the rest of this batch")])
    got = {(r["id_a"], r["id_b"]) for r in _banded_pairs(
        sig, keys, "doc_id", idx, ("rC", 3), 64, 0.8).collect()}

    def similar(x, y):
        return sum(a == b for a, b in zip(x, y)) / 64 >= 0.8

    bsig = {r["doc_id"]: r["signature"] for r in sig.collect()}
    bkeys = [(r["doc_id"], r["band"], r["bucket"]) for r in keys.collect()]
    want = {(a, h["doc_id"]) for a, band, bucket in bkeys
            for h in hist_keys
            if (h["band"], h["bucket"]) == (band, bucket)
            and any(s["doc_id"] == h["doc_id"]
                    and similar(bsig[a], s["signature"])
                    for s in hist_sigs)}
    want |= {(a, b) for a, band, bucket in bkeys
             for b, band2, bucket2 in bkeys
             if a > b and (band, bucket) == (band2, bucket2)
             and similar(bsig[a], bsig[b])}
    assert got == want
    assert {(1, 100), (1, 102), (8, 100), (8, 300), (101, 101),
            (5, 1), (8, 1)} <= got
    assert (8, 5) not in got and (8, 102) not in got
    assert not any(200 in p for p in got)


def test_compact_minhash_index_between_runs_preserves_results(spark, tmp_path):
    """Compacting the banded index stores (bands/sigs) between writer
    runs must not change anything downstream: a second
    cluster_label_sink run over the compacted index produces the same
    final label map as the never-compacted twin, and the index stores
    collapse to one snapshot run each."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        compact_cluster_labels,
        compact_minhash_index,
        read_cluster_labels,
    )

    base = [f"w{i}" for i in range(32)]
    A = " ".join(base)
    B = " ".join(base + ["t0", "t1", "t2", "t3"])   # near-dup of A's tail
    uniq = "a wholly different document about index compaction"
    run1 = [[(1, A)], [(12, uniq)]]
    run2 = [[(3, A)], [(13, B)]]    # 3 joins {1}; 13 bridges via sim

    def pipeline(sub, compact_between):
        for i, batches in enumerate([run1, run2]):
            _feed_files(spark, tmp_path / f"in_{sub}_{i}", batches)
            stream = (spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", "1")
                      .parquet(str(tmp_path / f"in_{sub}_{i}")))
            q = cluster_label_sink(stream, str(tmp_path / f"labels_{sub}"),
                                   str(tmp_path / f"idx_{sub}"),
                                   str(tmp_path / f"ckpt_{sub}_{i}"),
                                   threshold=0.8)
            q.awaitTermination()
            if compact_between and i == 0:
                removed = compact_minhash_index(
                    spark, str(tmp_path / f"idx_{sub}"))
                assert removed == 2  # one run dir in each of bands/sigs
                compact_cluster_labels(spark, str(tmp_path / f"labels_{sub}"))
        return {r["doc_id"]: r["cluster_id"]
                for r in read_cluster_labels(
                    spark, str(tmp_path / f"labels_{sub}")).collect()}

    plain = pipeline("plain", False)
    compacted = pipeline("comp", True)
    assert compacted == plain
    assert plain[3] == plain[1]  # the cross-run near-dup joined
    for rel in ["bands", "sigs"]:
        runs = [d for d in os.listdir(str(tmp_path / "idx_comp" / rel))
                if d.startswith("run_id=")]
        # snapshot run + run 2's new directory
        assert "run_id=__compact__" in runs and len(runs) == 2


def test_compact_index_store_exact_dedup_between_runs(spark, tmp_path):
    """The exact-hash index of index_backed_dedup_sink survives
    compaction: a later run still drops a re-delivered duplicate (the
    snapshot keeps remembering forever) and passes fresh content."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        compact_index_store,
        index_backed_dedup_sink,
        read_sink,
    )

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def run(sub, batches):
        _feed_files(spark, tmp_path / f"in_{sub}", batches)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / f"in_{sub}")))
        q = index_backed_dedup_sink(stream, out, idx,
                                    str(tmp_path / f"ckpt_{sub}"))
        q.awaitTermination()

    run("one", [[(1, "alpha beta gamma")], [(2, "delta epsilon zeta")]])
    assert compact_index_store(spark, idx) == 1
    runs = [d for d in os.listdir(idx) if d.startswith("run_id=")]
    assert runs == ["run_id=__compact__"]
    # run 2: doc 11 re-delivers doc 1's content (must drop against the
    # compacted snapshot), doc 12 is fresh (must survive)
    run("two", [[(11, "alpha beta gamma"), (12, "brand new words here")]])
    got = {r["doc_id"] for r in read_sink(spark, out).collect()}
    assert got == {1, 2, 12}


def test_exact_dedup_mid_run_auto_compaction_parity(spark, tmp_path):
    """compact_every on the exact-hash dedup sink: mid-run index folds
    must not change which documents survive (the fold excludes and
    preserves the current batch, so every later probe sees exactly the
    history it would have seen against the delta log), and the index
    ends as one snapshot plus at most compact_every-1 fresh batch dirs."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        index_backed_dedup_sink,
        read_sink,
    )

    batches = [[(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
               [(3, "alpha beta gamma"), (4, "fresh words here")],
               [(5, "fresh words here"), (6, "delta epsilon zeta"),
                (7, "entirely new final content")]]

    def run(sub, compact_every):
        _feed_files(spark, tmp_path / f"in_{sub}", batches)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / f"in_{sub}")))
        q = index_backed_dedup_sink(stream, str(tmp_path / f"out_{sub}"),
                                    str(tmp_path / f"idx_{sub}"),
                                    str(tmp_path / f"ckpt_{sub}"),
                                    compact_every=compact_every)
        q.awaitTermination()
        return {r["doc_id"] for r in
                read_sink(spark, str(tmp_path / f"out_{sub}")).collect()}

    assert run("plain", None) == {1, 2, 4, 7}
    assert run("auto", 1) == {1, 2, 4, 7}
    # the probed hash set is identical either way
    plain_h = {r["__h"] for r in
               spark.read.parquet(str(tmp_path / "idx_plain")).collect()}
    auto_h = {r["__h"] for r in
              spark.read.parquet(str(tmp_path / "idx_auto")).collect()}
    assert auto_h == plain_h
    # store shape: one snapshot + the preserved current (last) batch
    runs = sorted(d for d in os.listdir(str(tmp_path / "idx_auto"))
                  if d.startswith("run_id="))
    assert "run_id=__compact__" in runs and len(runs) == 2
    kept = [d for d in runs if d != "run_id=__compact__"][0]
    assert os.listdir(str(tmp_path / "idx_auto" / kept)) == ["batch_id=2"]


def test_minhash_sink_mid_run_auto_compaction_parity(spark, tmp_path):
    """compact_every on the fuzzy dedup sink: survivors match the
    uncompacted twin across history near-dups, in-batch siblings, and
    post-compaction arrivals; both index relations end at one snapshot
    plus the preserved newest batch."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        minhash_index_sink,
        read_sink,
    )

    base = [f"w{i}" for i in range(32)]
    A = " ".join(base)
    B = " ".join(base + ["t0", "t1"])        # near-dup of A
    uniq = "completely different text about mid run compaction hooks"
    batches = [[(1, A), (2, uniq)],
               [(3, B), (4, "novel content in the second batch ok")],
               [(5, A)]]                      # post-compaction re-arrival

    def run(sub, compact_every):
        _feed_files(spark, tmp_path / f"in_{sub}", batches)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / f"in_{sub}")))
        q = minhash_index_sink(stream, str(tmp_path / f"out_{sub}"),
                               str(tmp_path / f"idx_{sub}"),
                               str(tmp_path / f"ckpt_{sub}"),
                               threshold=0.8,
                               compact_every=compact_every)
        q.awaitTermination()
        return {r["doc_id"] for r in
                read_sink(spark, str(tmp_path / f"out_{sub}")).collect()}

    plain = run("plain", None)
    auto = run("auto", 2)
    assert auto == plain == {1, 2, 4}
    for rel in ["bands", "sigs"]:
        runs = sorted(d for d in
                      os.listdir(str(tmp_path / "idx_auto" / rel))
                      if d.startswith("run_id="))
        assert "run_id=__compact__" in runs and len(runs) == 2


def test_compact_index_store_keep_current_replay_exclusion(spark, tmp_path):
    """The mid-run fold's safety property, pinned directly: after
    compact_index_store(keep_current=(run, batch)), the sink's replay
    exclusion filter still sees exactly the pre-compaction history —
    the kept partition stays addressable by (run_id, batch_id) and its
    rows are NOT in the snapshot (a fold that swallowed them would make
    a crash-replayed dedup batch anti-join itself away: output loss)."""
    import os

    from pyspark.sql import functions as F

    from basic_data_fusion_spark.streaming.sinks import compact_index_store

    store = str(tmp_path / "idx")
    rows = {("a", 0): ["h1", "h2"], ("a", 1): ["h3"],
            ("b", 0): ["h4"], ("b", 1): ["h5", "h6"]}
    for (run, batch), hs in rows.items():
        (spark.createDataFrame([(h,) for h in hs], "__h string")
         .write.parquet(f"{store}/run_id={run}/batch_id={batch}"))

    def probe_excluding(run, batch):
        return {r["__h"] for r in
                (spark.read.parquet(store)
                 .filter(~((F.col("run_id") == run)
                           & (F.col("batch_id") == batch)))
                 .select("__h").collect())}

    before = probe_excluding("b", 1)
    assert before == {"h1", "h2", "h3", "h4"}
    removed = compact_index_store(spark, store, keep_current=("b", 1))
    assert removed == 1  # run a fully removed; run b kept (batch 1)
    assert probe_excluding("b", 1) == before
    # full content unchanged; kept partition intact on disk
    assert probe_excluding("none", -1) == {f"h{i}" for i in range(1, 7)}
    assert sorted(d for d in os.listdir(store) if d.startswith("run_id=")) \
        == ["run_id=__compact__", "run_id=b"]
    assert os.listdir(f"{store}/run_id=b") == ["batch_id=1"]


def test_compact_index_store_dedups_crash_leftover_duplicates(spark, tmp_path):
    """A crash between the promote and delete steps leaves the snapshot
    AND the original run dirs in the store — duplicated history. The
    set-semantic probes are unaffected, and the NEXT fold's distinct
    collapses the duplicates instead of compounding them into the new
    snapshot."""
    from basic_data_fusion_spark.streaming.sinks import compact_index_store

    store = str(tmp_path / "idx")
    (spark.createDataFrame([("h1",), ("h2",)], "__h string")
     .write.parquet(f"{store}/run_id=a/batch_id=0"))
    assert compact_index_store(spark, store) == 1
    # simulate the crash leftover: a run dir whose rows duplicate the
    # snapshot's
    (spark.createDataFrame([("h1",), ("h2",)], "__h string")
     .write.parquet(f"{store}/run_id=a/batch_id=0"))
    assert spark.read.parquet(store).count() == 4
    # folds old snapshot + leftover run dir (2 removed) into a fresh one
    assert compact_index_store(spark, store) == 2
    got = spark.read.parquet(store).select("__h").collect()
    assert sorted(r["__h"] for r in got) == ["h1", "h2"]


def test_dedup_sink_checkpoint_resume_over_compacted_index(spark, tmp_path):
    """Resuming the SAME checkpoint (same run_id, batch ids continue)
    over an index that was mid-run-compacted in the first run: the
    snapshot plus the preserved last batch must keep dropping all
    previously-seen content, and the resumed batches fold into the
    store on their own later compactions."""
    import glob
    import shutil

    from basic_data_fusion_spark.streaming.sinks import (
        index_backed_dedup_sink,
        read_sink,
    )

    d = tmp_path / "in"
    out, idx, ck = (str(tmp_path / "out"), str(tmp_path / "idx"),
                    str(tmp_path / "ck"))

    def feed(rows_batches):
        _feed_files(spark, d, rows_batches)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        q = index_backed_dedup_sink(stream, out, idx, ck, compact_every=1)
        q.awaitTermination()

    # run 1: batches 0 and 1, each followed by a compaction
    feed([[(1, "alpha content"), (2, "beta content")],
          [(3, "alpha content"), (4, "gamma content")]])
    assert sorted(r["doc_id"] for r in read_sink(spark, out).collect()) \
        == [1, 2, 4]
    # resume the SAME checkpoint: batch ids continue at 2; duplicates of
    # content living ONLY in the snapshot (batch 0's hashes were folded)
    # and in the preserved batch-1 dir must both drop
    feed([[(10, "alpha content"), (11, "gamma content"),
           (12, "fresh resumed content")]])
    got = sorted(r["doc_id"] for r in read_sink(spark, out).collect())
    assert got == [1, 2, 4, 12]
    import os
    runs = sorted(x for x in os.listdir(idx) if x.startswith("run_id="))
    # last batch (2) compacted too: snapshot + its preserved directory
    assert "run_id=__compact__" in runs and len(runs) == 2


def test_quantile_sketch_two_runs_accumulate(spark, tmp_path):
    """Second-run overwrite regression (the dedup-sink bug class, r9):
    a fresh accumulation run restarts batch ids at 0, so a
    non-namespaced store would overwrite the first run's batch-0
    histogram.  With run-namespaced dirs both runs' counts survive and
    the rollup sees every value ever streamed."""
    from basic_data_fusion_spark.operators.aggregations import (
        quantile_rollup,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        quantile_sketch_sink,
        read_sketch_store,
    )

    sk = str(tmp_path / "sk")
    lo, hi, bins = 0.0, 100.0, 32

    def run(sub, values):
        rows = [(i, float(v)) for i, v in enumerate(values)]
        d = tmp_path / f"in_{sub}"
        d.mkdir()
        (spark.createDataFrame(rows, "event_id long, value double")
         .coalesce(1).write.parquet(str(d / "f0")))
        import glob
        import shutil
        f = glob.glob(str(d / "f0" / "*.parquet"))[0]
        shutil.copy(f, d / "in0.parquet")
        shutil.rmtree(d / "f0")
        stream = (spark.readStream.schema("event_id long, value double")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        q = quantile_sketch_sink(stream, sk, str(tmp_path / f"ck_{sub}"),
                                 part_col="event_id", value_col="value",
                                 lo=lo, hi=hi, bins=bins)
        q.awaitTermination()

    run("one", [10, 20, 30])
    run("two", [40, 50])          # fresh checkpoint -> new run, batch 0 again
    rolled = quantile_rollup(read_sketch_store(spark, sk),
                             lo, hi, bins, [0.5]).collect()
    assert rolled[0]["n_total"] == 5  # a bare batch_id store would show 2


def test_quantile_sketch_mid_run_compaction_parity(spark, tmp_path):
    """compact_every folds the sketch store mid-run without changing
    any rollup answer; the store ends at one snapshot plus the
    preserved newest batch."""
    import os

    from basic_data_fusion_spark.operators.aggregations import (
        quantile_rollup,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        quantile_sketch_sink,
        read_sketch_store,
    )

    lo, hi, bins, qs = 0.0, 100.0, 64, [0.25, 0.5, 0.9]
    batches = [[(i, float(3 * i % 97)) for i in range(50)],
               [(100 + i, float(7 * i % 89)) for i in range(50)],
               [(200 + i, float(11 * i % 83)) for i in range(50)]]

    def run(sub, compact_every):
        d = tmp_path / f"in_{sub}"
        d.mkdir()
        import glob
        import shutil
        for bi, b in enumerate(batches):
            (spark.createDataFrame(b, "event_id long, value double")
             .coalesce(1).write.parquet(str(d / f"f{bi}")))
            f = glob.glob(str(d / f"f{bi}" / "*.parquet"))[0]
            shutil.copy(f, d / f"in{bi}.parquet")
            shutil.rmtree(d / f"f{bi}")
        stream = (spark.readStream.schema("event_id long, value double")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        sk = str(tmp_path / f"sk_{sub}")
        q = quantile_sketch_sink(stream, sk, str(tmp_path / f"ck_{sub}"),
                                 part_col="event_id", value_col="value",
                                 lo=lo, hi=hi, bins=bins,
                                 compact_every=compact_every)
        q.awaitTermination()
        rolled = {r["quantile"]: (r["n_total"], r["estimate"]) for r in
                  quantile_rollup(read_sketch_store(spark, sk),
                                  lo, hi, bins, qs).collect()}
        return sk, rolled

    _, plain = run("plain", None)
    sk_auto, auto = run("auto", 1)
    assert auto == plain
    runs = sorted(x for x in os.listdir(sk_auto)
                  if x.startswith("run_id="))
    assert "run_id=__compact__" in runs and len(runs) == 2


def test_read_sketch_store_exact_across_crash_leftover(spark, tmp_path):
    """Sketch rows are sums, so a compaction crash between promote and
    delete (row present in BOTH snapshot and its original directory)
    would double-count under a naive read — the provenance-keyed fold
    must return identical rollups before, during, and after that
    state, and the next compaction must collapse it."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.streaming.sinks import (
        compact_sketch_store,
        read_sketch_store,
    )

    sk = str(tmp_path / "sk")
    rows = [("p1", 0, 3), ("p1", 1, 2), ("p2", 0, 5)]
    (spark.createDataFrame(rows, "partition string, bin int, n long")
     .withColumn("src_run", F.lit("r1"))
     .withColumn("src_batch", F.lit(0).cast("long"))
     .write.parquet(f"{sk}/run_id=r1/batch_id=0"))
    before = {(r["partition"], r["bin"]): r["n"]
              for r in read_sketch_store(spark, sk).collect()}
    assert compact_sketch_store(spark, sk) == 1
    # simulate the crash leftover: the original dir reappears beside
    # the snapshot
    (spark.createDataFrame(rows, "partition string, bin int, n long")
     .withColumn("src_run", F.lit("r1"))
     .withColumn("src_batch", F.lit(0).cast("long"))
     .write.parquet(f"{sk}/run_id=r1/batch_id=0"))
    during = {(r["partition"], r["bin"]): r["n"]
              for r in read_sketch_store(spark, sk).collect()}
    assert during == before  # no double counting
    assert compact_sketch_store(spark, sk) == 2
    after = {(r["partition"], r["bin"]): r["n"]
             for r in read_sketch_store(spark, sk).collect()}
    assert after == before


def test_compactor_injected_crash_states_fold_identically(spark, tmp_path):
    """Each intermediate directory state the staged compaction sequence
    can crash in — orphan _compact_staging, promoted-but-undeleted
    (__compact_new__ beside the original runs), and final-renamed
    beside a leftover run — must (a) read/probe identically to the
    clean store and (b) converge to the clean snapshot on the next
    compaction.  Covers BOTH families: the set-semantic index store and
    the rank-semantic labels store."""
    import os

    from pyspark.sql import functions as F

    from basic_data_fusion_spark.streaming.sinks import (
        compact_cluster_labels,
        compact_index_store,
        read_cluster_labels,
    )

    # ---- index store (distinct-probe semantics) ----
    idx = str(tmp_path / "idx")
    (spark.createDataFrame([("h1",), ("h2",)], "__h string")
     .write.parquet(f"{idx}/run_id=a/batch_id=0"))
    (spark.createDataFrame([("h3",)], "__h string")
     .write.parquet(f"{idx}/run_id=a/batch_id=1"))
    probe = lambda: sorted(
        r["__h"] for r in
        spark.read.parquet(idx).select("__h").distinct().collect())
    clean = probe()

    # state 1: orphan staging (crash before promote) — hidden from reads
    (spark.createDataFrame([("junk",)], "__h string")
     .write.parquet(f"{idx}/_compact_staging/batch_id=0"))
    assert probe() == clean
    # state 2: promoted beside originals (crash before deletion) —
    # duplicated history, inert to the distinct probe
    (spark.createDataFrame([("h1",), ("h2",), ("h3",)], "__h string")
     .write.parquet(f"{idx}/run_id=__compact_new__/batch_id=0"))
    assert probe() == clean
    # next compaction converges from this state (the __compact_new__
    # relic is cleared by the promote step itself, outside the counted
    # deletion loop)
    removed = compact_index_store(spark, idx)
    assert removed == 1 and probe() == clean
    assert sorted(d for d in os.listdir(idx)
                  if d.startswith("run_id=")) == ["run_id=__compact__"]
    # state 3: final snapshot beside a leftover original run
    (spark.createDataFrame([("h3",)], "__h string")
     .write.parquet(f"{idx}/run_id=a/batch_id=1"))
    assert probe() == clean
    assert compact_index_store(spark, idx) == 2
    assert probe() == clean

    # ---- labels store (latest-wins fold semantics) ----
    lab = str(tmp_path / "lab")
    rows1 = [(1, 1), (2, 2)]
    rows2 = [(2, 1)]                         # batch 1 re-roots doc 2
    for b, rows in ((0, rows1), (1, rows2)):
        (spark.createDataFrame(rows, "doc_id long, cluster_id long")
         .withColumn("epoch", F.lit(1).cast("long"))
         .write.parquet(f"{lab}/run_id=r/batch_id={b}"))
    fold = lambda: {r["doc_id"]: r["cluster_id"] for r in
                    read_cluster_labels(spark, lab).collect()}
    clean_fold = fold()
    assert clean_fold == {1: 1, 2: 1}
    # promoted-but-undeleted: the full fold sits at the frontier rank
    # (epoch 1, batch 1) beside the original deltas — rank-equal rows
    # carry the SAME label, so max_by cannot observe the crash
    (spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")
     .withColumn("epoch", F.lit(1).cast("long"))
     .write.parquet(f"{lab}/run_id=__compact_new__/batch_id=1"))
    assert fold() == clean_fold
    compact_cluster_labels(spark, lab)
    assert fold() == clean_fold
    assert sorted(d for d in os.listdir(lab)
                  if d.startswith("run_id=")) == ["run_id=__compact__"]


def test_suggest_compact_every_bounds_store_dirs(spark, tmp_path):
    """suggest_compact_every sizing (r9 verdict #7): the helper's choice
    keeps the index store's leaf-directory count at or under the bound
    across a 24-batch run (transiently +1 during a fold's
    promote-to-delete window), and the store ends at one snapshot plus
    the preserved current batch.  Dedup results stay exact (expected
    set computed analytically, not vs a twin — the full A/B lives in
    test_exact_dedup_mid_run_auto_compaction_parity)."""
    import os
    import threading
    import time

    from basic_data_fusion_spark.streaming.sinks import (
        index_backed_dedup_sink,
        read_sink,
        suggest_compact_every,
    )

    # sizing formula: bound-2 folds, floor 8 for tiny bounds
    assert suggest_compact_every(10) == 8
    assert suggest_compact_every(16) == 14
    assert suggest_compact_every(64) == 62
    assert suggest_compact_every(4) == 8   # fold-overhead floor wins

    bound = 10
    n = suggest_compact_every(bound)       # 8 -> folds at b=7,15,23
    # every third doc shares one body: only the first (doc 0) survives
    batches = [[(i, "dup body" if i % 3 == 0 else f"doc body {i}")]
               for i in range(24)]
    _feed_files(spark, tmp_path / "in24", batches)
    idx = tmp_path / "idx24"

    peak = [0]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            if idx.exists():
                c = 0
                for d in os.listdir(idx):
                    if d.startswith("_"):
                        continue   # staging is listing-invisible
                    sub = idx / d
                    if sub.is_dir():
                        c += len(os.listdir(sub))
                peak[0] = max(peak[0], c)
            time.sleep(0.02)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / "in24")))
        q = index_backed_dedup_sink(stream, str(tmp_path / "out24"),
                                    str(idx), str(tmp_path / "ckpt24"),
                                    compact_every=n)
        q.awaitTermination()
    finally:
        stop.set()
        t.join(timeout=5)

    got = {r["doc_id"] for r in
           read_sink(spark, str(tmp_path / "out24")).collect()}
    assert got == {0} | {i for i in range(24) if i % 3 != 0}
    # bound held throughout (+1 = documented promote-to-delete window)
    assert 0 < peak[0] <= bound + 1, peak[0]
    # final shape: snapshot + preserved last batch, nothing else
    runs = sorted(d for d in os.listdir(idx) if d.startswith("run_id="))
    assert "run_id=__compact__" in runs and len(runs) == 2
    kept = [d for d in runs if d != "run_id=__compact__"][0]
    assert os.listdir(idx / kept) == ["batch_id=23"]


def test_labels_mid_run_compaction_reuses_epoch_on_restart(spark, tmp_path):
    """compact_cluster_labels keep_current (r9 advisory): a mid-run fold
    used to delete every run_id=R delta, so a checkpoint restart of the
    SAME run found no own-epoch rows and claimed a fresh epoch —
    fold-order correct but against the sink's documented epoch-reuse
    invariant.  With the preserved newest delta the restart's probe
    finds the run's rows and every post-restart batch stamps the SAME
    epoch."""
    import os

    from basic_data_fusion_spark.streaming.sinks import cluster_label_sink

    lab, idx = str(tmp_path / "lab"), str(tmp_path / "idx")
    d = tmp_path / "in"

    def start():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        return cluster_label_sink(stream, lab, idx,
                                  str(tmp_path / "ckpt"),
                                  compact_every=2)

    # first run: batches 0,1 -> fold fires at batch 1 with keep_current
    _feed_files(spark, d, [[(1, "first unique body")],
                           [(2, "second unique body")]])
    start().awaitTermination()
    runs = sorted(x for x in os.listdir(lab) if x.startswith("run_id="))
    assert "run_id=__compact__" in runs and len(runs) == 2
    run_dir = [x for x in runs if x != "run_id=__compact__"][0]
    assert os.listdir(os.path.join(lab, run_dir)) == ["batch_id=1"]

    # restart the SAME checkpoint with two more batches: the epoch
    # probe must find the preserved delta and REUSE epoch 1
    _feed_files(spark, d, [[(3, "third unique body")],
                           [(4, "fourth unique body")]])
    start().awaitTermination()
    store = spark.read.parquet(lab)
    own = (store.filter(F.col("run_id") != "__compact__")
           .select("epoch").distinct().collect())
    assert {int(r["epoch"]) for r in own} == {1}


def test_streaming_fuzzy_decontaminate_matches_batch_links(spark, tmp_path):
    """Stateless fuzzy ingestion gate: paraphrase-grade leaks the exact
    window gate misses are flagged across micro-batches in APPEND mode
    with zero state; link rows equal the batch tier's
    incremental_minhash_dedup(held_out, batch) rows exactly (including
    jaccard values and multi-band candidates deduped STATELESSLY via
    the first-matching-band rule); clean docs emit nothing."""
    from basic_data_fusion_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from basic_data_fusion_spark.streaming.dedup import (
        streaming_fuzzy_decontaminate,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    held = spark.createDataFrame(
        [(900, base), (901, base + " tail900 extra")],
        "doc_id long, text string")
    rows1 = [(1, "totally clean streaming text with no overlap at all"),
             (2, base)]                                  # exact copy
    rows2 = [(3, base + " lightly edited ending here"),  # paraphrase
             (4, "another clean document entirely different words")]
    schema = "doc_id long, text string"
    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate([rows1, rows2]):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}")))

    batch = spark.read.option("recursiveFileLookup", "true").parquet(str(d))
    stream = (spark.readStream.schema(batch.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))

    gate = streaming_fuzzy_decontaminate(stream, held, n=3, threshold=0.7)
    assert gate.isStreaming
    out = W.run_available_now(gate, "t_fuzzy_gate", output_mode="append")
    got = {(r["doc_id"], r["matched_id"]): r["jaccard"]
           for r in out.collect()}
    # doc 2 is an exact copy of 900 AND within threshold of 901; doc 3
    # near-dups both; clean docs 1/4 emit nothing
    assert got[(2, 900)] == 1.0
    assert all(0.7 <= j <= 1.0 for j in got.values())
    assert {k[0] for k in got} == {2, 3}
    # exactly one row per (doc, eval) pair — the stateless first-band
    # dedup did the distinct()'s job
    assert len(got) == len(set(got))

    links = {(r["new_id"], r["existing_id"]): r["jaccard"]
             for r in incremental_minhash_dedup(
                 held, batch, threshold=0.7).collect()}
    assert got == links
    # the same call site runs in batch (backfill path), same rows
    bgot = {(r["doc_id"], r["matched_id"]): r["jaccard"]
            for r in streaming_fuzzy_decontaminate(
                batch, held, n=3, threshold=0.7).collect()}
    assert bgot == got
    # deterministic tier: same flag set through the md5/raw-bucket path
    dgot = {(r["doc_id"], r["matched_id"]): r["jaccard"]
            for r in streaming_fuzzy_decontaminate(
                batch, held, n=3, threshold=0.7,
                deterministic=True).collect()}
    assert dgot == got


def test_vector_index_sink_probe_matches_batch_ivf(spark, tmp_path):
    """Streaming IVF index maintenance: the store built batch-by-batch
    (with a mid-run compaction) probes to EXACTLY the batch ivf_topk
    result over the accumulated corpus — same centroids, deterministic
    fixed-point tier, precomputed self-dots — and the store ends at one
    snapshot plus the preserved newest batch."""
    import glob
    import os
    import shutil
    import time

    from basic_data_fusion_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        train_centroids,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        read_vector_index,
        vector_index_sink,
    )

    corpus = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
              .select("vec_id", "embedding"))
    cents = train_centroids(corpus, k=8, seed=42)
    queries = (corpus.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    # feed the corpus as 3 micro-batches (vec_id mod 3), pinned mtimes
    d = tmp_path / "vec_in"
    d.mkdir()
    t0 = time.time() - 10_000
    for i in range(3):
        (corpus.filter(F.col("vec_id") % 3 == i)
         .coalesce(1).write.parquet(str(tmp_path / f"s{i}")))
        src = glob.glob(str(tmp_path / f"s{i}" / "*.parquet"))[0]
        dst = d / f"in{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        shutil.rmtree(tmp_path / f"s{i}")

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    idx = str(tmp_path / "vecidx")
    q = vector_index_sink(stream, idx, str(tmp_path / "ckpt"), cents,
                          metric="fixed_cosine", compact_every=2)
    q.awaitTermination()

    # store shape: compaction fired at batch 1; batch 2 appended after
    runs = sorted(x for x in os.listdir(idx) if x.startswith("run_id="))
    assert "run_id=__compact__" in runs and len(runs) == 2

    got = (ivf_topk_indexed(read_vector_index(spark, idx), queries, cents,
                            k=5, nprobe=3, deterministic=True)
           .collect())
    want = ivf_topk(corpus, queries, cents, k=5, nprobe=3,
                    deterministic=True).collect()
    key = lambda rows: {(r["query_id"], r["rank"]):
                        (r["neighbor_id"], r["cosine_sim"]) for r in rows}
    assert key(got) == key(want) and len(got) == len(want) == 25


@pytest.mark.parametrize("first_run_id", ["826605350243", "026605350243"])
def test_all_digit_run_id_store_keeps_string_type(spark, tmp_path,
                                                  first_run_id):
    """Partition-type-inference flake (caught by the r10 full-suite
    run, p≈0.4% per run): a first run whose derived md5 id is ALL
    DECIMAL DIGITS makes Spark infer the store's run_id partition
    column as BIGINT, and the second (hex-id) run's epoch probe /
    replay exclusion then dies on CAST_INVALID_INPUT.  The second
    parametrization is the nastier LEADING-ZERO variant (r10 advisory):
    BIGINT inference drops the zero, so a cast back to string yields a
    DIFFERENT id and the exclusion silently never matches — _read_store
    therefore reads with partition-type inference disabled so the
    directory string survives verbatim.  Reproduced deterministically
    via explicit run ids."""
    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        read_cluster_labels,
    )

    lab, idx = str(tmp_path / "lab"), str(tmp_path / "idx")

    def run(sub, run_id, rows):
        d = tmp_path / f"in_{sub}"
        _feed_files(spark, d, [rows])
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(d)))
        q = cluster_label_sink(stream, lab, idx,
                               str(tmp_path / f"ckpt_{sub}"),
                               run_id=run_id)
        q.awaitTermination()

    run("one", first_run_id, [(1, "first corpus body one")])
    # pre-fix this second run crashed inside the epoch probe (or, for
    # the leading-zero id, silently mislabeled: the probe cast the
    # BIGINT partition back to a zero-less string and never matched)
    run("two", "a302243ae032", [(2, "second corpus body two")])
    got = {r["doc_id"]: r["cluster_id"]
           for r in read_cluster_labels(spark, lab).collect()}
    assert got == {1: 1, 2: 2}
    # the store must hold the EXACT directory strings, zero included
    from basic_data_fusion_spark.streaming.sinks import _read_store
    runs = {r["run_id"] for r in _read_store(spark, lab)
            .select("run_id").distinct().collect()}
    assert runs == {first_run_id, "a302243ae032"}


def test_derived_run_ids_are_never_numeric():
    """New stores can never hit the all-digit inference flake at all:
    derived run ids carry a non-digit prefix (r10 advisory)."""
    from basic_data_fusion_spark.streaming.sinks import _derived_run_id

    for ckpt in ("a", "b", "/tmp/ckpt", "x" * 100):
        rid = _derived_run_id(ckpt)
        assert rid.startswith("r") and not rid.isdigit() and len(rid) == 13
    assert _derived_run_id("a") == _derived_run_id("a")
    assert _derived_run_id("a") != _derived_run_id("b")


def test_retrain_vector_index_parity_and_drift_report(spark, tmp_path):
    """Centroid-drift remediation end-to-end: a vector store built with
    STALE centroids (trained before a planted distribution shift) is
    rebuilt by retrain_vector_index into a new-path store; probing the
    rebuilt store with the retrained centroids must EXACTLY equal batch
    ivf_topk over the accumulated corpus with the same centroids, and
    centroid_drift_report must price the decay: on shifted-half
    queries the retrained arm's micro-recall is at least the stale
    arm's (the planted shift — a negated second half — scatters
    incoherently across stale cells)."""
    import glob
    import os
    import shutil
    import time

    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        ivf_topk,
        ivf_topk_indexed,
        train_centroids,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        read_vector_index,
        retrain_vector_index,
        vector_index_sink,
    )

    half_a = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
              .select("vec_id", "embedding").filter(F.col("vec_id") < 200))
    half_b = half_a.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"))
    corpus = half_a.unionByName(half_b)
    stale = train_centroids(half_a, k=8, seed=42)   # pre-drift quantizer

    d = tmp_path / "vec_in"
    d.mkdir()
    t0 = time.time() - 10_000
    for i, part in enumerate((half_a, half_b)):
        part.coalesce(1).write.parquet(str(tmp_path / f"s{i}"))
        src = glob.glob(str(tmp_path / f"s{i}" / "*.parquet"))[0]
        dst = d / f"in{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        shutil.rmtree(tmp_path / f"s{i}")

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    idx = str(tmp_path / "vecidx")
    q = vector_index_sink(stream, idx, str(tmp_path / "ckpt"), stale,
                          metric="fixed_cosine")
    q.awaitTermination()

    idx2 = str(tmp_path / "vecidx_retrained")
    fresh = retrain_vector_index(spark, idx, idx2, k=8,
                                 metric="fixed_cosine", seed=42)
    assert len(fresh) == 8 and all(len(c) == 64 for c in fresh)
    runs = [x for x in os.listdir(idx2) if x.startswith("run_id=r")]
    assert len(runs) == 1  # one namespaced rebuild directory

    queries = (half_b.filter(F.col("vec_id") < 10_005)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = (ivf_topk_indexed(read_vector_index(spark, idx2), queries, fresh,
                            k=5, nprobe=2, deterministic=True).collect())
    want = ivf_topk(corpus, queries, fresh, k=5, nprobe=2,
                    deterministic=True).collect()
    key = lambda rows: {(r["query_id"], r["rank"]):
                        (r["neighbor_id"], r["cosine_sim"]) for r in rows}
    assert key(got) == key(want) and len(got) == len(want)

    rep = {r["arm"]: r for r in centroid_drift_report(
        corpus, queries, {"stale": stale, "retrained": fresh},
        k=5, nprobe=2, deterministic=True).collect()}
    assert set(rep) == {"stale", "retrained"}
    for r in rep.values():
        assert 0.0 <= r["micro_recall"] <= 1.0
        assert r["n_possible_total"] == 5 * 5
    assert rep["retrained"]["micro_recall"] >= rep["stale"]["micro_recall"]


def test_sink_refuses_mixed_layout_store(spark, tmp_path):
    """A sink pointed at a store holding bare top-level ``batch_id=N``
    directories must refuse at START time, before it writes the
    mixed-depth partition tree Spark cannot list."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        exactly_once_parquet_sink,
    )

    batch = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    d = tmp_path / "in"
    _feed_files(spark, d, [[(1, "a")]])
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(d)))

    bare = str(tmp_path / "bare")
    batch.write.parquet(f"{bare}/batch_id=0")
    with pytest.raises(IOError, match="mixed-depth"):
        exactly_once_parquet_sink(stream, bare, str(tmp_path / "c1"))
    assert os.listdir(bare) == ["batch_id=0"]


def test_store_sinks_refuse_bare_stores(spark, tmp_path):
    """Every store a sink writes, the banded index relations included,
    is checked at start: a bare ``batch_id=N`` store in any of them is
    refused before the stream runs a batch."""
    import os

    from basic_data_fusion_spark.streaming.sinks import (
        cluster_label_sink,
        index_backed_dedup_sink,
        minhash_index_sink,
        quantile_sketch_sink,
        vector_index_sink,
    )

    _feed_files(spark, tmp_path / "in", [[(1, "a")]])
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "in")))
    bare, idx = str(tmp_path / "bare"), str(tmp_path / "idx")
    fresh, ck = str(tmp_path / "fresh"), str(tmp_path / "ck")
    spark.range(1).write.parquet(f"{bare}/batch_id=0")
    spark.range(1).write.parquet(f"{idx}/sigs/batch_id=0")
    starts = [
        lambda: index_backed_dedup_sink(stream, fresh, bare, ck),
        lambda: quantile_sketch_sink(stream, bare, ck, part_col="doc_id",
                                     value_col="doc_id", lo=0.0, hi=1.0),
        lambda: minhash_index_sink(stream, fresh, idx, ck),
        lambda: cluster_label_sink(stream, bare, str(tmp_path / "i2"), ck),
        lambda: cluster_label_sink(stream, fresh, idx, ck),
        lambda: vector_index_sink(stream, bare, ck, [[1.0]]),
    ]
    for start in starts:
        with pytest.raises(IOError, match="mixed-depth"):
            start()
    assert os.listdir(bare) == ["batch_id=0"]
    assert sorted(os.listdir(idx)) == ["sigs"]
    assert not os.path.exists(fresh) and not os.path.exists(ck)


def test_centroid_drift_counts_empty_probe_queries(spark):
    """A query whose nprobe probed cells are ALL EMPTY yields no arm
    rows; it must still contribute its denominator (r12 advisory) —
    dropping it inflates micro_recall exactly in the cell-collapse
    regime the gate exists to catch, and lets n_queries differ across
    arms."""
    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
    )

    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]),       # probes the populated cell
         (1, [0.0, 1.0, 0.0, 0.0])],      # both probed cells empty
        "query_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0],
             [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.9, 0.1, 0.0]]
    rep = {r["arm"]: r for r in centroid_drift_report(
        corpus, queries, {"only": cents}, k=2, nprobe=2,
        deterministic=True).collect()}
    r = rep["only"]
    assert r["n_queries"] == 2                   # empty-probe query kept
    assert r["n_possible_total"] == 4            # min(k, n_exact) per query
    assert r["n_hits_total"] == 2                # query 0's two hits only
    assert r["micro_recall"] == 0.5

def test_drift_triggered_retrain_policy(spark, tmp_path):
    """The closed retrain loop (r12 verdict #6): a planted distribution
    shift (negated second half) must cross the policy's recall floor on
    the stale quantizer → maybe_retrain_vector_index rebuilds into a
    new path; the rebuilt store RESTORES the recall row (retrained ≥
    stale, the r12 restoration contract), so the same policy anchored
    between the two measured operating points no longer triggers.
    Floors are relative to the measured points, not absolute: ml.KMeans
    random init is partition-layout-dependent, so absolute IVF recall
    is not a stable test constant — the POLICY wiring is what's pinned."""
    import glob
    import os
    import shutil
    import time

    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        drift_retrain_decision,
        train_centroids,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        maybe_retrain_vector_index,
        read_vector_index,
        vector_index_sink,
    )

    half_a = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
              .select("vec_id", "embedding").filter(F.col("vec_id") < 200))
    half_b = half_a.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"))
    corpus = half_a.unionByName(half_b)
    stale = train_centroids(half_a, k=8, seed=42)   # pre-drift quantizer

    d = tmp_path / "vec_in"
    d.mkdir()
    t0 = time.time() - 10_000
    for i, part in enumerate((half_a, half_b)):
        part.coalesce(1).write.parquet(str(tmp_path / f"s{i}"))
        src = glob.glob(str(tmp_path / f"s{i}" / "*.parquet"))[0]
        dst = d / f"in{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        shutil.rmtree(tmp_path / f"s{i}")
    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(d)))
    idx = str(tmp_path / "vecidx")
    q = vector_index_sink(stream, idx, str(tmp_path / "ckpt"), stale,
                          metric="fixed_cosine")
    q.awaitTermination()

    # shifted-half queries: their neighbors live where the stale
    # quantizer has no coherent cells
    queries = (half_b.filter(F.col("vec_id") < 10_005)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    idx2 = str(tmp_path / "vecidx_retrained")
    decision, fresh = maybe_retrain_vector_index(
        spark, idx, idx2, queries, stale, k=5, nprobe=2,
        recall_floor=0.9, metric="fixed_cosine", seed=42)
    assert decision["retrain"], decision
    assert "micro_recall" in decision["reason"]
    assert decision["micro_recall"] < 0.9
    assert fresh is not None and len(fresh) == 8
    assert os.path.isdir(idx2)

    # restoration: the rebuilt store + returned centroids recover at
    # least the stale operating point, and the policy anchored between
    # the two measured points no longer fires on the retrained arm
    store2 = read_vector_index(spark, idx2).select("vec_id", "embedding")
    rep2 = centroid_drift_report(store2, queries, {"retrained": fresh},
                                 k=5, nprobe=2, deterministic=True)
    d2 = drift_retrain_decision(rep2, "retrained",
                                recall_floor=decision["micro_recall"],
                                candidate_factor=3.0,
                                corpus_size=store2.count(), n_cells=8,
                                nprobe=2)
    # restoration: retrained >= stale, so at a floor set to the stale
    # operating point the policy no longer fires
    assert d2["micro_recall"] >= decision["micro_recall"]
    assert not d2["retrain"], d2


def test_drift_policy_candidate_ceiling_axis(spark):
    """The cost axis of the retrain rule, pinned deterministically:
    centroids e0..e7 with ALL corpus mass collapsed into cell 0 — probe
    recall stays perfect (the neighbors are in the probed cell), but
    every query's nprobe=2 probe scans the whole corpus, so
    n_candidates_total = n_queries x corpus >> the balanced budget
    (n_queries x nprobe x corpus / 8) and the policy must trigger on
    the candidate-volume ceiling alone."""
    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        drift_retrain_decision,
    )

    dim = 8
    base = [0.0] * dim

    def vec(i, scale):
        v = list(base)
        v[0] = 1.0
        v[1] = 0.001 * (i % 7)   # tiny jitter, still nearest e0
        return [x * scale for x in v]

    corpus = spark.createDataFrame(
        [(i, vec(i, 1.0)) for i in range(40)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(i, vec(i, 0.9)) for i in range(5)],
        "query_id long, embedding array<double>")
    cents = [[1.0 if j == c else 0.0 for j in range(dim)]
             for c in range(8)]
    rep = centroid_drift_report(corpus, queries, {"collapsed": cents},
                                k=3, nprobe=2, deterministic=True)
    d = drift_retrain_decision(rep, "collapsed", recall_floor=0.5,
                               candidate_factor=3.0, corpus_size=40,
                               n_cells=8, nprobe=2)
    assert d["micro_recall"] == 1.0          # recall axis is silent
    assert d["n_candidates_total"] >= 5 * 40  # every probe scans it all
    assert d["candidate_budget"] == 3.0 * 5 * 2 * 40 / 8
    assert d["retrain"] and "balanced budget" in d["reason"]


def test_drift_policy_recall_floor_axis(spark):
    """The recall axis of the retrain rule, pinned deterministically:
    corpus mass lives in cell 0 but the query's affinity points at
    cells 5/6 (both empty) — probe recall is exactly 0 while candidate
    volume is 0 (far below budget), so the policy must trigger on the
    recall floor alone.  Also re-exercises the empty-probe grid fix:
    the zero-candidate query still contributes its denominator."""
    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        drift_retrain_decision,
    )

    dim = 8
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.001 * (i % 7)] + [0.0] * (dim - 2))
         for i in range(20)],
        "vec_id long, embedding array<double>")
    qv = [0.0] * dim
    qv[5] = 1.0
    qv[6] = 0.2
    queries = spark.createDataFrame(
        [(0, qv)], "query_id long, embedding array<double>")
    cents = [[1.0 if j == c else 0.0 for j in range(dim)]
             for c in range(8)]
    rep = centroid_drift_report(corpus, queries, {"stale": cents},
                                k=3, nprobe=2, deterministic=True)
    d = drift_retrain_decision(rep, "stale", recall_floor=0.5,
                               candidate_factor=3.0, corpus_size=20,
                               n_cells=8, nprobe=2)
    assert d["n_queries"] == 1
    assert d["micro_recall"] == 0.0
    assert d["n_candidates_total"] == 0
    assert d["retrain"] and "micro_recall" in d["reason"]
