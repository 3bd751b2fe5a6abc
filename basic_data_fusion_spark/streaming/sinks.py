"""Streaming sinks: exactly-once parquet output via foreachBatch.

Structured Streaming's file sink is append-only exactly-once already,
but only for blind appends. ``foreachBatch`` is the general sink
surface (upserts, merges, multi-sink fan-out); the cost is that the
batch function may be re-invoked with the SAME batch_id after a failure,
so the function itself must be idempotent. The pattern here makes the
write replay-safe by making the target deterministic per batch:
mode=overwrite into a ``batch_id=N`` directory — a retry of batch N
rewrites the same files instead of duplicating rows.

Scale notes: each micro-batch writes through the normal distributed
parquet path (one file per partition); the checkpoint tracks batch
progress, so AvailableNow restarts resume, not reprocess.
"""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame


def _derived_run_id(checkpoint: str) -> str:
    """Run id derived from the checkpoint path — stable across retries
    of one query, distinct across fresh runs — prefixed ``r`` so it can
    NEVER be all decimal digits.  An all-digit directory value makes
    partition-type inference flip a store's ``run_id`` column to
    BIGINT; with a LEADING zero (``012…``) the original string is then
    unrecoverable even by casting back (the zero is gone), so the
    replay exclusion and the epoch probe silently stop matching and a
    checkpoint replay drops the whole batch as self-duplicates.  The
    prefix stops new numeric ids at the source; :func:`_read_store`
    additionally reads with partition-type inference DISABLED so
    legacy stores already holding numeric ids keep their exact string
    values too.

    UPGRADE note: the prefix CHANGES the derived id, so "stable across
    retries" holds within one code version only — a checkpoint started
    under the pre-prefix formula and resumed after the upgrade derives
    a DIFFERENT id, which breaks the replay exclusion for the in-flight
    batch (it re-matches its own prior index write and drops itself)
    and makes the epoch probe claim a fresh epoch mid-run.  Resuming a
    live pre-upgrade checkpoint over an existing store therefore needs
    the old id passed EXPLICITLY (``run_id=md5(checkpoint)[:12]``, the
    old formula) for that run's remaining lifetime; fresh checkpoints
    need nothing."""
    return "r" + hashlib.md5(checkpoint.encode()).hexdigest()[:12]


def _index_exists(spark: SparkSession, path: str) -> bool:
    """Does a Spark-readable index already exist at ``path``?

    Probed through the Hadoop FileSystem API resolved FROM the path
    (so hdfs://, s3a://, and plain local paths all answer correctly —
    a driver-local ``os.path.isdir`` is always False on a remote store,
    which would silently disable cross-batch history dedup in exactly
    the production layout these sinks describe).  Falls back to an
    attempted read when the JVM gateway isn't reachable (e.g. Spark
    Connect), where a missing path raises AnalysisException.

    Only *path genuinely absent* maps to False.  A transient store
    error (S3/HDFS connectivity, permissions) PROPAGATES so the batch
    fails loudly and Structured Streaming retries it — collapsing every
    exception to False would silently disable history dedup / cluster
    merging for that batch while still committing it as successful.
    """
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
    except Exception:
        # No Py4J gateway (Spark Connect): probe by read.  Classify the
        # error — only the documented missing-path AnalysisException is
        # "absent"; anything else is a real failure and re-raises.
        from pyspark.errors import AnalysisException
        try:
            spark.read.parquet(path).schema
            return True
        except AnalysisException as exc:
            msg = str(exc)
            cls = getattr(exc, "getErrorClass", lambda: None)() or ""
            if "PATH_NOT_FOUND" in cls or "Path does not exist" in msg \
                    or "PATH_NOT_FOUND" in msg:
                return False
            raise
    # fs.exists returns False for a missing path without raising;
    # exceptions from here (connectivity, auth) propagate deliberately.
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    return bool(fs.exists(jpath))


_READ_STORE_LOCK = threading.Lock()


def _read_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read a run-namespaced store with CANONICAL partition types.

    ``run_id`` is a string by contract, but Spark infers partition
    column types from the directory VALUES — and a run whose derived
    ``md5(checkpoint)[:12]`` id happens to be all decimal digits
    (p ≈ (10/16)^12 ≈ 0.4% per run) flips the whole column to BIGINT,
    at which point every string comparison in the family — the replay
    exclusion (``not_this``), the epoch probe, the ``keep_current``
    fold filters — throws CAST_INVALID_INPUT under ANSI.  A latent
    flake of exactly this shape hit the r10 full-suite run (an
    all-digit first-run id + a hex second-run id in
    ``cluster_label_sink``).  Worse than the loud crash: a LEADING-ZERO
    all-digit id (``012…``, ~0.04% per derived id) survives the cast
    silently wrong — BIGINT inference drops the zero, the cast yields a
    *different* string, and the replay exclusion / epoch probe never
    match again (a checkpoint replay then matches the batch's own prior
    index write and drops the whole batch as self-duplicates).  So the
    read itself runs with ``partitionColumnTypeInference`` DISABLED —
    every partition value stays the exact directory string — and the
    casts below canonicalize ``batch_id`` back to long (new writes are
    additionally immunized at the source: :func:`_derived_run_id`
    prefixes ``r``).  The conf flip is scoped to relation resolution
    (inference happens inside ``spark.read.parquet``) and restored in
    a ``finally``.  The race is two-sided (r11 advisory): a concurrent
    STORE reader racing the window at worst sees inference ON — the
    r10 status quo, which the ``r`` prefix already makes safe for
    every non-legacy store — but an unrelated partitioned read on the
    same session (the lock only serializes ``_read_store`` callers)
    can transiently observe inference OFF and get STRING-typed
    partition columns (e.g. a date-partitioned layout's DATE key).
    The package's own paths never overlap the two (store probes run
    inside foreachBatch/compaction call chains that don't issue
    layout reads); a session shared with arbitrary concurrent
    partitioned reads should either serialize them against store
    probes or read with an explicit schema, which skips inference
    entirely.

    DATA schema needs the same care: without mergeSchema, Spark takes
    one file's schema for the whole store, chosen by listing order —
    so in a MIXED store (pre-epoch legacy files beside epoch-stamped
    ones) whether the ``epoch`` column exists at all depended on which
    run id sorted first ('old' vs a hex id: schema with epoch; 'old'
    vs an ``r``-prefixed id: epoch silently dropped, every row folds
    at epoch 0 and a legacy row can outrank a live run's label).
    mergeSchema makes the union schema unconditional; legacy rows read
    NULL epoch, which :func:`_with_epoch` coalesces to 0.  Store
    directory counts are bounded by the compaction family, so the
    footer-merge cost stays small.

    The flip is serialized by a process-wide lock: two concurrent
    readers on one session (foreachBatch threads, a compaction hook
    racing a probe) could otherwise interleave save/flip/restore so
    that one read runs with inference ON and the OTHER's ``finally``
    pins the transient 'false' into the session conf permanently —
    silently retyping every later partitioned read in the session.
    The lock scope is relation resolution only (inference happens
    inside ``spark.read.parquet``), not the query's execution."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    with _READ_STORE_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            d = spark.read.option("mergeSchema", "true").parquet(store_path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    if "run_id" in d.columns:
        d = d.withColumn("run_id", F.col("run_id").cast("string"))
    if "batch_id" in d.columns:
        d = d.withColumn("batch_id", F.col("batch_id").cast("long"))
    return d


def _assert_store_layout(spark: SparkSession, path: str,
                         namespaced: bool) -> None:
    """Refuse to write one layout beside the other (r12 advisory): a
    namespaced run resuming over a legacy bare ``batch_id=N`` store —
    or a ``namespaced=False`` caller pointed at a ``run_id=R`` store —
    would produce the mixed-depth partition tree Spark cannot list,
    and only fail LATER, at read time, after the damage is on disk.
    Detection is one top-level directory listing (cheap on any store);
    raise with the migration pointer instead of relying on every
    caller to remember the store's birth layout."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return
    has_bare = has_run = False
    for st in fs.listStatus(jpath):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            has_bare = True
        elif name.startswith("run_id="):
            has_run = True
    if namespaced and has_bare:
        raise IOError(
            f"{path} holds a legacy bare batch_id=N store; writing "
            f"run_id=R/batch_id=N beside it would create a mixed-depth "
            f"partition tree Spark cannot list. Run "
            f"migrate_legacy_store(spark, {path!r}) once (stream "
            f"stopped), or pass namespaced=False if the store is "
            f"single-run by contract")
    if not namespaced and has_run:
        raise IOError(
            f"{path} holds a run-namespaced run_id=R/batch_id=N store; "
            f"writing bare batch_id=N beside it would create a "
            f"mixed-depth partition tree Spark cannot list. Drop "
            f"namespaced=False (the default layout matches the store)")


def exactly_once_parquet_sink(df: DataFrame, path: str, checkpoint: str,
                              available_now: bool = True,
                              namespaced: bool = True,
                              run_id: str | None = None) -> StreamingQuery:
    """Write a streaming DataFrame to ``path`` with replay-idempotent
    batches (overwrite-per-batch partition directories).

    Default (``namespaced=True``, flipped in r12 per the r11 verdict)
    is the ``run_id=R/batch_id=N`` layout the index/sketch sinks use:
    output accumulates safely across runs, because batch ids restart
    at 0 per checkpoint and a bare layout would let a SECOND run
    pointed at the same ``path`` silently overwrite the first run's
    batches.  ``namespaced=False`` keeps the legacy bare ``batch_id=N``
    layout for single-run callers whose store was born that way —
    single-run BY CONTRACT, caller beware.  Don't MIX layouts under one
    ``path`` — a mixed-depth partition tree is unreadable (the
    migrate_legacy_store hazard); an existing opposite-layout store
    under ``path`` is DETECTED here and refused with a pointer to
    :func:`migrate_legacy_store` (r12 advisory — failing at start
    time beats an unreadable mixed-depth tree at read time); pick the
    layout at the store's birth or migrate once."""
    run = run_id or (_derived_run_id(checkpoint) if namespaced else None)
    _assert_store_layout(df.sparkSession, path, namespaced=run is not None)
    prefix = f"{path}/run_id={run}" if run is not None else path

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{prefix}/batch_id={batch_id}")

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    """Read everything the sink has produced (batch_id — and run_id in
    the namespaced layout — become partition columns via directory
    discovery).  Routed through :func:`_read_store` so an explicit
    NUMERIC run_id (user-supplied job ids like '012') keeps its exact
    directory string instead of being type-inferred to BIGINT with the
    leading zero destroyed, and batch_id is canonicalized to long."""
    return _read_store(spark, path)


def index_backed_dedup_sink(df: DataFrame, out_path: str, index_path: str,
                            checkpoint: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            available_now: bool = True,
                            run_id: str | None = None,
                            compact_every: int | None = None) -> StreamingQuery:
    """Streaming exact dedup with an UNBOUNDED horizon: each micro-batch
    anti-joins against a PERSISTED content-hash index, dedups within
    itself (min-id wins), then appends its survivors to ``out_path`` and
    their hashes to ``index_path`` — both into replay-idempotent
    ``run_id=R/batch_id=N`` directories.

    This is the tier above ``streaming_exact_dedup``: watermark-bounded
    state drops re-deliveries within the horizon and then FORGETS — a
    re-crawl of the same page a week later sails through. The external
    index (what production pipelines keep in a store or Bloom cascade;
    plain partitioned parquet here) remembers forever, at the cost of
    one index scan per batch. Scale shape per batch: index side reduces
    to DISTINCT 32-char hashes, batch shuffles once on the hash;
    document bodies never shuffle. The index grows one small hash
    directory per batch — ``compact_every=N`` folds it mid-run after
    every Nth batch via ``compact_index_store`` (pick N with
    :func:`suggest_compact_every`), with the current batch's partition
    excluded and preserved so the replay exclusion keeps working —
    see that docstring for the crash analysis — or fold it
    between runs without the hook (r9; the generic layout compactor
    works too but is not in-place/crash-safe).

    ``run_id`` namespaces this query's index AND output partitions
    (default: derived from the checkpoint path — stable across retries
    of the same query, distinct across fresh runs). Replay safety
    excludes only THIS run's current batch partition from the
    anti-join; a bare ``batch_id`` filter would collide with a previous
    run's partition 0 and silently un-index it.  The output dirs are
    run-namespaced for the same reason (r9 fix): batch ids restart at 0
    per run, so a second run over the same ``out_path`` would OVERWRITE
    the first run's batch-0 survivors — silent output loss on exactly
    the unbounded-horizon reuse this sink exists for.

    LEGACY-LAYOUT HAZARD: the run-namespacing is a breaking layout
    change — resuming over a pre-r9 store (bare ``batch_id=N``
    directories, output OR index) produces a mixed-depth partition
    tree Spark cannot list.  Run :func:`migrate_legacy_store` once on
    ``out_path`` and ``index_path`` (stream stopped) before the first
    namespaced run touches an old store.
    """

    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.text import fingerprint

    run = run_id or _derived_run_id(checkpoint)
    _assert_store_layout(df.sparkSession, out_path, namespaced=True)
    _assert_store_layout(df.sparkSession, index_path, namespaced=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashed = batch_df.withColumn(
            "__h", fingerprint(F.coalesce(F.col(text_col), F.lit(""))))
        if _index_exists(spark, index_path):
            idx = (_read_store(spark, index_path)
                   .filter(~((F.col("run_id") == run)
                             & (F.col("batch_id") == batch_id)))
                   .select("__h").distinct())
            hashed = hashed.join(idx, "__h", "left_anti")
        keep = (hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
                .select(id_col))
        survivors = hashed.join(keep, id_col, "left_semi").persist()
        (survivors.drop("__h").write.mode("overwrite")
         .parquet(f"{out_path}/run_id={run}/batch_id={batch_id}"))
        (survivors.select("__h").distinct().write.mode("overwrite")
         .parquet(f"{index_path}/run_id={run}/batch_id={batch_id}"))
        survivors.unpersist()
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact_index_store(spark, index_path,
                                keep_current=(run, batch_id))

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def quantile_sketch_sink(df: DataFrame, sketch_path: str, checkpoint: str,
                         part_col: str, value_col: str,
                         lo: float, hi: float, bins: int = 1024,
                         available_now: bool = True,
                         run_id: str | None = None,
                         compact_every: int | None = None) -> StreamingQuery:
    """Streaming side of the mergeable quantile tier
    (operators/aggregations.quantile_hist_sketch): each micro-batch
    reduces to its ``(partition, bin, n)`` histogram rows and writes
    them to a replay-idempotent ``run_id=R/batch_id=N`` directory.
    Because the sketch is mergeable by construction (bins sum), the
    standing sketch store answers any later quantile question — per
    partition, per batch range, or global — via ``quantile_rollup``
    over :func:`read_sketch_store`, WITHOUT reprocessing the stream.

    This is the ingest-time shape the batch tier documents: at 100 TB
    the stream is the only pass that ever sees the raw values; every
    downstream percentile reads kilobyte-scale integer histograms.
    State is bounded by bins×partitions per batch (no watermark
    needed — the sink is a pure per-batch aggregation, not stateful
    across batches); a failure-retried batch overwrites its own
    directory, so the store never double-counts.

    Output directories are run-namespaced (r9, same fix as the dedup
    sinks): batch ids restart at 0 per run, so a second accumulation
    run over the same standing store would otherwise OVERWRITE the
    first run's batch-0 histogram — silent count loss in a store whose
    whole point is remembering every batch.  Every row also carries
    its provenance as REGULAR columns (``src_run``, ``src_batch``):
    sketch rows are SUMS, so unlike the set-semantic index stores a
    duplicated row is NOT inert — provenance is what lets
    :func:`read_sketch_store` and :func:`compact_sketch_store` fold
    the store exactly at every crash point.  ``compact_every=N`` folds
    the store after every Nth batch (current batch excluded and
    preserved — the keep-current discipline of
    :func:`compact_index_store`).

    Stores written by the pre-r9 sink (bare ``batch_id=N`` at the top
    level) keep reading via :func:`read_sketch_store`, but CANNOT be
    appended to by this sink (Spark cannot list mixed partition
    depths): run :func:`compact_sketch_store` once first — it migrates
    the legacy layout into a snapshot run.
    """

    from basic_data_fusion_spark.operators.aggregations import (
        quantile_hist_sketch,
    )

    run = run_id or _derived_run_id(checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = (quantile_hist_sketch(batch_df, part_col, value_col,
                                   lo, hi, bins)
              .withColumn("src_run", F.lit(run))
              .withColumn("src_batch", F.lit(int(batch_id)).cast("long")))
        sk.write.mode("overwrite").parquet(
            f"{sketch_path}/run_id={run}/batch_id={batch_id}")
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact_sketch_store(batch_df.sparkSession, sketch_path,
                                 keep_current=(run, batch_id))

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _sketch_with_provenance(d: DataFrame) -> DataFrame:
    """Normalize a sketch store to provenance-keyed rows: legacy stores
    (pre-r9 bare ``batch_id=N`` layout, no ``src_*`` columns) read as
    ``src_run="__legacy__"``/``src_batch=batch_id``."""
    if "src_run" not in d.columns:
        d = (d.withColumn("src_run", F.lit("__legacy__"))
             .withColumn("src_batch", F.col("batch_id").cast("long")))
    return d


def read_sketch_store(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Current ``(partition, bin, n)`` rows of a ``quantile_sketch_sink``
    store, exact at every compaction crash point: a crash between the
    compactor's promote and delete steps briefly leaves a row both in
    the snapshot and in its original directory, and because sketch
    rows are SUMS that duplication would double-count — so the fold
    keys on provenance ``(src_run, src_batch, partition, bin)`` and
    takes ``max(n)`` (duplicates are bit-identical copies of the same
    batch write).  Feed the result to ``quantile_rollup``."""
    d = _sketch_with_provenance(_read_store(spark, sketch_path))
    return (d.groupBy("src_run", "src_batch", "partition", "bin")
            .agg(F.max("n").alias("n"))
            .select("partition", "bin", "n"))


def compact_sketch_store(spark: SparkSession, sketch_path: str,
                         keep_current: tuple[str, int] | None = None) -> int:
    """Fold a ``quantile_sketch_sink`` store into one snapshot run —
    directory-count control, same motive as :func:`compact_index_store`
    (the probe-vs-history table in SCALE.md).  The fold preserves each
    row's PROVENANCE columns instead of sum-merging: merging would
    destroy the key that keeps crash-leftover duplicates exact (see
    :func:`read_sketch_store`), and the store's cost driver is
    directory count, not its ≤ bins×partitions rows per batch.
    Duplicates from an earlier crash collapse here via the same
    provenance-keyed ``max``.

    ``keep_current=(run, batch)`` is the mid-run form (see
    :func:`compact_index_store`).  A legacy bare-``batch_id=N`` store
    migrates to the run-namespaced layout (its rows keyed
    ``src_run="__legacy__"``); the legacy directories are removed in
    the same deletion phase as the folded runs.  The migration's
    promote-to-delete window is the ONE step in the compactor family
    without full crash-safety: a crash there leaves a mixed-depth
    layout Spark cannot list (run_id=…/batch_id=… beside bare
    batch_id=…) — no rows are lost (the promoted snapshot holds them
    all), but recovery is manual: delete the leftover top-level
    ``batch_id=`` directories.  Run the one-time migration with the
    stream stopped.  Returns the number of directories fully
    removed."""
    d = _sketch_with_provenance(_read_store(spark, sketch_path))
    if keep_current is not None:
        run, batch = keep_current
        d = d.filter(~((F.col("run_id") == run)
                       & (F.col("batch_id") == int(batch))))
    snap = (d.groupBy("src_run", "src_batch", "partition", "bin")
            .agg(F.max("n").alias("n")))
    return _replace_runs_with_snapshot(spark, sketch_path, snap, 0,
                                       keep=keep_current,
                                       also_legacy_batch_dirs=True)


def minhash_index_sink(df: DataFrame, out_path: str, index_path: str,
                       checkpoint: str, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, bands: int = 16,
                       threshold: float = 0.8, seed: int = 42,
                       available_now: bool = True,
                       run_id: str | None = None,
                       compact_every: int | None = None) -> StreamingQuery:
    """Streaming FUZZY dedup with an unbounded horizon — the MinHash
    tier above ``index_backed_dedup_sink``'s exact tier, completing the
    streaming dedup ladder: each micro-batch signs its documents,
    probes a PERSISTED banded index for candidates, verifies by
    SIGNATURE-estimated Jaccard (equal-position fraction — the standard
    store-the-sketch-not-the-corpus trade: shingle sets are
    corpus-sized, signatures are ``num_hashes`` longs), drops batch
    docs near-duplicate to the indexed history OR to a smaller-id batch
    sibling, then appends its survivors to ``out_path`` and their
    signatures + band keys to the two index stores — everything into
    replay-idempotent ``run_id=R/batch_id=N`` directories (outputs
    run-namespaced since r9: batch ids restart per run, so a second
    run would otherwise overwrite the first run's batch-0 survivors).

    Layout mirrors a production deployment: ``index_path/bands`` holds
    the compact (band, bucket, id) probe relation, ``index_path/sigs``
    the (id, signature) verification relation — the candidate join
    never touches signatures, verification joins only candidates.
    Per-batch cost is O(batch + candidates) against any history size;
    document bodies never shuffle. Only SURVIVORS index (a dropped
    duplicate's canonical is already there).

    ``run_id`` namespaces this query's index partitions (same replay
    rationale as ``index_backed_dedup_sink``).  ``compact_every=N``
    folds both index relations mid-run after every Nth batch
    (:func:`compact_minhash_index` with the current batch preserved —
    see :func:`compact_index_store` for the replay/crash analysis).

    LEGACY-LAYOUT HAZARD: resuming over a pre-r9 store (bare
    ``batch_id=N`` directories — ``out_path`` or either index
    relation) produces a mixed-depth layout Spark cannot list; run
    :func:`migrate_legacy_store` on each such path first (stream
    stopped — see ``index_backed_dedup_sink``).
    """

    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.dedup import (
        minhash_band_keys,
        minhash_signatures,
    )

    run = run_id or _derived_run_id(checkpoint)
    band_dir = f"{index_path}/bands"
    sig_dir = f"{index_path}/sigs"

    def est_sim(sa, sb):
        eq = F.zip_with(sa, sb, lambda a, b: (a == b).cast("int"))
        return (F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
                .cast("double") / F.lit(int(num_hashes)))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sig = minhash_signatures(batch_df, text_col, id_col, n,
                                 num_hashes, seed).persist()
        bkeys = minhash_band_keys(sig, id_col, id_col, bands, num_hashes)
        not_this = lambda rel: rel.filter(
            ~((F.col("run_id") == run) & (F.col("batch_id") == batch_id)))
        drops = None
        if _index_exists(spark, band_dir):
            idx_b = not_this(_read_store(spark, band_dir)).select(
                "band", "bucket", F.col(id_col).alias("__ex_id"))
            idx_s = not_this(_read_store(spark, sig_dir)).select(
                F.col(id_col).alias("__ex_id"),
                F.col("signature").alias("__ex_sig"))
            cand = (bkeys.join(idx_b, ["band", "bucket"])
                    .select(id_col, "__ex_id").distinct())
            drops = (cand.join(sig, id_col).join(idx_s, "__ex_id")
                     .filter(est_sim(F.col("signature"), F.col("__ex_sig"))
                             >= F.lit(float(threshold)))
                     .select(id_col).distinct())
        a = bkeys.select(F.col(id_col).alias("__ia"), "band", "bucket")
        b = bkeys.select(F.col(id_col).alias("__ib"), "band", "bucket")
        in_cand = (a.join(b, ["band", "bucket"])
                   .filter(F.col("__ia") < F.col("__ib"))
                   .select("__ia", "__ib").distinct())
        sa = sig.select(F.col(id_col).alias("__ia"),
                        F.col("signature").alias("__sa"))
        sb = sig.select(F.col(id_col).alias("__ib"),
                        F.col("signature").alias("__sb"))
        in_drop = (in_cand.join(sa, "__ia").join(sb, "__ib")
                   .filter(est_sim(F.col("__sa"), F.col("__sb"))
                           >= F.lit(float(threshold)))
                   .select(F.col("__ib").alias(id_col)).distinct())
        drops = in_drop if drops is None else drops.unionByName(in_drop).distinct()
        survivors = batch_df.join(drops, id_col, "left_anti").persist()
        (survivors.write.mode("overwrite")
         .parquet(f"{out_path}/run_id={run}/batch_id={batch_id}"))
        surv_sig = sig.join(survivors.select(id_col), id_col, "left_semi")
        (surv_sig.write.mode("overwrite")
         .parquet(f"{sig_dir}/run_id={run}/batch_id={batch_id}"))
        (minhash_band_keys(surv_sig, id_col, id_col, bands, num_hashes)
         .write.mode("overwrite")
         .parquet(f"{band_dir}/run_id={run}/batch_id={batch_id}"))
        survivors.unpersist()
        sig.unpersist()
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact_minhash_index(spark, index_path,
                                  keep_current=(run, batch_id))

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _with_epoch(d: DataFrame) -> DataFrame:
    """Tolerate labels stores written by the pre-epoch sink format.

    The r8 sink stamps every delta row with a monotone run ``epoch``;
    a store written by an earlier sink has no such column, so reading,
    claiming, or compacting it would fail on UNRESOLVED_COLUMN at the
    very first touch.  Legacy rows default to epoch 0: any post-upgrade
    writer run claims ``max(0, …) + 1 >= 1`` and outranks them, and
    within the legacy rows ``batch_id`` alone stays the tiebreak —
    exactly the pre-epoch single-run fold those stores were written
    under.  No rewrite/backfill needed; the first compaction after the
    upgrade materializes the column into the snapshot.

    A MIXED store (legacy files beside epoch-stamped ones) reads with
    the merged schema (``_read_store`` sets mergeSchema), so the
    column exists but legacy rows carry NULL — coalesce those to 0
    too, or ``max_by(…, struct(epoch, batch_id))`` sorts the NULLs
    unpredictably against real epochs."""
    if "epoch" not in d.columns:
        d = d.withColumn("epoch", F.lit(0).cast("long"))
    return d.withColumn("epoch", F.coalesce(F.col("epoch").cast("long"),
                                            F.lit(0)))


def read_cluster_labels(spark: SparkSession, labels_path: str) -> DataFrame:
    """Current (doc_id, cluster_id) map from a ``cluster_label_sink``
    delta store: per document, the row from the LATEST write wins
    (merges re-emit the affected old docs with their new label, so the
    newest delta row is always the current label).

    "Latest" is the cross-run key ``(epoch, batch_id)``: ``batch_id``
    restarts at 0 per run (new checkpoint → new run_id), so a bare
    max_by over batch_id would let a long-dead run's high batch ids
    beat a fresh run's labels.  The sink stamps every delta row with a
    monotone run ``epoch`` (max standing epoch + 1, claimed at the
    run's first batch; a checkpoint-restart of the same run reuses its
    epoch), making the fold total across runs.  Pre-epoch legacy rows
    read as epoch 0 (:func:`_with_epoch`)."""
    d = _with_epoch(_read_store(spark, labels_path))
    return (d.groupBy("doc_id")
            .agg(F.expr("max_by(cluster_id, struct(epoch, batch_id))")
                 .alias("cluster_id")))


def suggest_compact_every(max_store_dirs: int = 16) -> int:
    """Pick a ``compact_every`` for the index/label sinks that bounds
    the store at ``max_store_dirs`` top-level partition directories.

    The sizing rule comes from the store's shape under mid-run
    compaction: a fold at batch ``k*N-1`` leaves 1 snapshot directory
    plus the kept current-batch directory; the next ``N-1`` batches
    each add one delta; the fold batch itself writes its directory
    BEFORE folding.  Peak directory count at batch boundaries is
    therefore ``N + 2`` (snapshot + kept + N-1 deltas + the fold
    batch's own write), so ``N = max_store_dirs - 2`` keeps the store
    at or under the bound throughout the run — except the fold's own
    promote-to-delete window, where the new snapshot briefly coexists
    with the directories it replaces (+1; see
    :func:`_replace_runs_with_snapshot`).

    Crossover guidance (the SCALE.md r9 probe-vs-history table): probe
    cost on this store family is driven by DIRECTORY COUNT (file
    listing + footer opens), measured 0.74→1.97 s over 16× history
    growth vs flat 0.41 s compacted, while one fold costs a read of
    snapshot + N deltas — amortized per batch it shrinks as N grows.
    On filesystems with cheap listing (HDFS, local) a looser bound
    (32-64 dirs) trades fewer folds for slightly slower probes; on
    object stores (s3a://), where LIST is the expensive operation,
    keep the default 16 or tighter — i.e. "compact roughly daily" for
    a daily-batch pipeline.  The floor of 8 keeps a tiny bound from
    folding every 1-2 batches, where the fold's own job overhead
    dominates the listing it saves — so for ``max_store_dirs < 10``
    the floor wins and the store may briefly hold up to 10
    directories; the bound is honored exactly for every
    ``max_store_dirs >= 10``."""
    return max(8, int(max_store_dirs) - 2)


def migrate_legacy_store(spark: SparkSession, store_path: str,
                         legacy_run: str = "__legacy__") -> int:
    """One-time migration of a pre-r9 bare ``batch_id=N`` store layout
    into the run-namespaced ``run_id=R/batch_id=N`` layout, by renaming
    each top-level ``batch_id=`` directory under ``run_id=<legacy_run>``.

    Why it exists: the r9 run-namespacing of the dedup/minhash sinks'
    OUTPUT directories is a breaking layout change — the first batch a
    new run writes to a legacy ``out_path`` turns it into a mixed-depth
    partition tree Spark cannot list.  The sketch store migrates inside
    :func:`compact_sketch_store`; outputs have no compactor (they are
    data, not an index), so this helper is their migration path.  It
    also works on a legacy index relation: the migrated rows read as
    ``run_id=<legacy_run>`` — a value no live run's replay exclusion
    matches, so legacy history stays probed, which is the correct
    semantics for an unbounded-horizon index.

    Pure metadata: Hadoop FileSystem renames only (no read, no rewrite),
    so it is cheap on any store size and works on hdfs:// and s3a://
    paths the same way (on object stores a "rename" is a copy+delete
    per object — still bounded by the store's file count, not bytes,
    for parquet dirs of bounded file count).  Run it with the stream
    STOPPED.  A crash mid-way leaves the store mixed-depth (still
    unreadable) but RE-RUNNING the helper completes the migration —
    each remaining bare directory is moved independently; already-moved
    directories are not touched.  Refuses (raises) if the target
    ``run_id=<legacy_run>/batch_id=N`` already exists, which only
    happens if two different legacy stores are migrated into the same
    path.  Returns the number of directories moved."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    moved = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("batch_id=")):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(
            f"{store_path}/run_id={legacy_run}/{name}")
        if fs.exists(dest):
            raise IOError(f"migrate: {dest} already exists")
        fs.mkdirs(dest.getParent())
        if not fs.rename(st.getPath(), dest):
            raise IOError(f"migrate: rename {name} -> {dest} failed")
        moved += 1
    return moved


def compact_cluster_labels(spark: SparkSession, labels_path: str,
                           keep_current: tuple[str, int] | None = None,
                           ) -> int:
    """Compact a ``cluster_label_sink`` delta log into one snapshot.

    The log grows one small delta per micro-batch and the latest-wins
    fold reads ALL of it — the 12-batch scale run measured ~15% fold
    drift per 12× history (SCALE.md r8).  Compaction folds the log
    once (the same ``max_by(cluster_id, struct(epoch, batch_id))``
    expression ``read_cluster_labels`` uses) and replaces every run
    directory with a single ``run_id=__compact__`` snapshot stamped
    ``(max epoch, max batch_id at that epoch)`` — the exact rank of the
    newest standing delta — so the fold before and after compaction is
    identical, the next writer run (``max epoch + 1``) outranks the
    snapshot, and a RUNNING writer's later batches (same epoch, higher
    batch_id) outrank it too, which is what lets the sink invoke this
    mid-run (``compact_every``).

    Crash-safe by construction — the snapshot job must never delete
    files it is about to read (a ``mode=overwrite`` straight into a
    live ``run_id=`` directory deletes the prior snapshot BEFORE the
    fold executes: FileNotFoundException, or silent row loss under
    ``spark.sql.files.ignoreMissingFiles``).  Sequence:

    1. Stage the fold into ``_compact_staging/`` INSIDE the store —
       the leading underscore hides it from Spark's file listing, so
       the write overlaps nothing the fold reads, and a crash here
       leaves the log untouched plus an invisible orphan (overwritten
       by the next compaction).
    2. Promote: rename the staging dir to ``run_id=__compact_new__``.
       From this instant the complete fold is PART of the log at the
       top rank — every later crash point folds to the same result.
    3. Delete every other ``run_id=`` directory (all folded into the
       snapshot; deletes run only after the staging job completed).
    4. Rename ``__compact_new__`` → ``__compact__``.

    All moves stay inside ``labels_path`` (one FileSystem, rename not
    copy); deletion/rename go through the Hadoop FileSystem API
    resolved from the path, so hdfs:// and s3a:// stores compact the
    same way.

    ``keep_current=(run_id, batch_id)`` — the mid-run form the sink's
    ``compact_every`` hook uses — preserves that one delta directory
    through the deletion phase so the run's epoch probe (the
    ``max(when(run_id == run, epoch))`` read at a checkpoint restart's
    first batch) still finds the run's own rows and REUSES its epoch,
    as the sink documents.  Without it a mid-run fold deletes every
    ``run_id=R`` delta, and a restart of the same run claims a fresh
    epoch — fold-order still correct (the new epoch outranks the
    snapshot) but the documented epoch-reuse invariant silently breaks
    (r9 advisory).  UNLIKE the index compactors, the kept partition's
    rows are NOT excluded from the fold: the snapshot must stay the
    complete latest-wins fold, and the resulting duplication is
    rank-equal AND value-equal (the snapshot is stamped with the
    newest standing rank, which mid-run IS the kept batch's rank), so
    ``max_by`` resolves it to the same label either way.  Residual
    edge: a checkpoint REPLAY of the just-compacted batch recomputes
    an empty delta (standing labels already hold its results) and
    overwrites the kept directory with it — a SECOND restart after
    that finds no rows for the run and falls back to claiming a fresh
    epoch.  Correctness-neutral in both cases.

    Returns the number of run directories removed."""
    d = _with_epoch(_read_store(spark, labels_path))
    frontier = d.agg(
        F.max("epoch").alias("e"),
        F.expr("max(struct(epoch, batch_id)).batch_id").alias("b")).first()
    top = int(frontier["e"] or 0)
    topb = int(frontier["b"] or 0)
    snap = (d.groupBy("doc_id")
            .agg(F.expr("max_by(cluster_id, struct(epoch, batch_id))")
                 .alias("cluster_id"))
            .withColumn("epoch", F.lit(top).cast("long")))
    return _replace_runs_with_snapshot(spark, labels_path, snap, topb,
                                       keep=keep_current)


def _replace_runs_with_snapshot(spark: SparkSession, store_path: str,
                                snap: DataFrame, batch_id: int,
                                keep: tuple[str, int] | None = None,
                                also_legacy_batch_dirs: bool = False) -> int:
    """The crash-safe replace-log-with-snapshot sequence shared by the
    store compactors (steps documented in
    :func:`compact_cluster_labels`): stage ``snap`` (whose plan may
    lazily read ``store_path``) into the listing-invisible
    ``_compact_staging/batch_id=<batch_id>``, promote it into the log
    by rename, delete the old ``run_id=`` directories only after the
    staging job completed, and rename to ``run_id=__compact__``.

    ``keep=(run, batch)`` preserves that one partition directory
    through the deletion phase (and within its run directory deletes
    only the OTHER batch directories) — the mid-run compaction hook
    (:func:`compact_index_store` with ``keep_current``) folds history
    while the current batch's own writes stay addressable by the
    sinks' ``(run_id, batch_id)`` replay exclusion.
    ``also_legacy_batch_dirs`` extends the deletion phase to top-level
    ``batch_id=`` directories (a pre-run-namespacing store layout the
    sketch compactor migrates — their rows are in the staged fold, and
    leaving them would make the store an unreadable mixed-depth
    layout).  Returns the number of directories fully removed."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    staging = jvm.org.apache.hadoop.fs.Path(
        f"{store_path}/_compact_staging")
    promoted = jvm.org.apache.hadoop.fs.Path(
        f"{store_path}/run_id=__compact_new__")
    # an orphan staging dir from a crashed step 1 is invisible to the
    # log (never listed), so deleting it cannot touch files the fold
    # below reads
    fs.delete(staging, True)
    snap.write.parquet(f"{store_path}/_compact_staging/batch_id={batch_id}")
    # a crashed step-2..4 relic IS part of the log (the fold above read
    # it and the fresh staging supersedes it); the staging job has
    # completed, so removing it now deletes nothing a running job reads
    fs.delete(promoted, True)
    if not fs.rename(staging, promoted):
        raise IOError(f"compact: rename to {promoted} failed")
    removed = 0
    keep_run = f"run_id={keep[0]}" if keep else None
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if also_legacy_batch_dirs and st.isDirectory() \
                and name.startswith("batch_id="):
            fs.delete(st.getPath(), True)
            removed += 1
            continue
        if not (st.isDirectory() and name.startswith("run_id=")
                and name != "run_id=__compact_new__"):
            continue
        if keep_run and name == keep_run:
            for child in fs.listStatus(st.getPath()):
                cname = child.getPath().getName()
                if child.isDirectory() and cname.startswith("batch_id=") \
                        and cname != f"batch_id={keep[1]}":
                    fs.delete(child.getPath(), True)
            continue
        fs.delete(st.getPath(), True)
        removed += 1
    final = jvm.org.apache.hadoop.fs.Path(
        f"{store_path}/run_id=__compact__")
    if not fs.rename(promoted, final):
        raise IOError(f"compact: rename to {final} failed")
    return removed


def compact_index_store(spark: SparkSession, store_path: str,
                        keep_current: tuple[str, int] | None = None) -> int:
    """Compact an APPEND-ONLY ``run_id=R/batch_id=N`` index store (the
    content-hash index of ``index_backed_dedup_sink``, or one of the
    ``sigs``/``bands`` relations under ``minhash_index_sink`` /
    ``cluster_label_sink``'s index path) into a single snapshot run.

    These stores grow one small parquet directory per micro-batch
    forever; the r9 24-batch scale run showed the per-batch cost drift
    is the INDEX side, and at production history lengths the
    file-listing and open cost of thousands of batch directories
    dominates the probe long before row count does.  Rows are plain
    facts (no latest-wins semantics), so compaction is an identity
    rewrite up to row multiplicity (``distinct`` — every probe is
    set-semantic, and dedup here is what keeps a crash between the
    promote and delete steps, which briefly duplicates history, from
    compounding into the next snapshot): read, drop the run/batch
    partition values, rewrite as ``run_id=__compact__/batch_id=0`` via
    the same crash-safe staging sequence the labels compactor uses
    (every crash point leaves a store whose probed content is
    unchanged).

    Without ``keep_current``, run BETWEEN writer runs only (stream
    stopped): the dedup sinks' replay safety depends on excluding THIS
    run's current batch partition from the probe (``not_this``), and a
    full fold moves those rows into the snapshot where the exclusion
    can no longer see them — a mid-run crash replay would then probe
    against the batch's own pre-crash writes (for the dedup sinks that
    anti-joins the whole replayed batch away: silent output loss).

    ``keep_current=(run_id, batch_id)`` is the MID-RUN form the sinks'
    ``compact_every`` hook uses from inside ``foreachBatch``, after the
    batch's own index write: the fold EXCLUDES the current batch's rows
    and the deletion phase PRESERVES its partition directory, so the
    store becomes ``snapshot(history) + run/batch=current`` and the
    replay exclusion keeps working — a checkpoint replay of the
    just-compacted batch probes exactly the history it probed the
    first time, rewrites the same partitions, and re-folds to the same
    snapshot.  Crash points during compaction leave either the
    untouched log (before promote) or snapshot+leftover-duplicates
    (between promote and delete) — duplicates are inert to the
    set-semantic probes and removed by the next fold's ``distinct``.
    Returns the number of run directories fully removed."""
    snap = _read_store(spark, store_path)
    if keep_current is not None:
        run, batch = keep_current
        snap = snap.filter(~((F.col("run_id") == run)
                             & (F.col("batch_id") == int(batch))))
    snap = snap.drop("run_id", "batch_id").distinct()
    return _replace_runs_with_snapshot(spark, store_path, snap, 0,
                                       keep=keep_current)


def compact_minhash_index(spark: SparkSession, index_path: str,
                          keep_current: tuple[str, int] | None = None) -> int:
    """Compact both relations of a banded MinHash index store (the
    ``bands`` and ``sigs`` subdirectories ``minhash_index_sink`` and
    ``cluster_label_sink`` maintain) — see :func:`compact_index_store`
    for semantics, the between-runs contract, and the mid-run
    ``keep_current`` form.  The two relations fold as two independent
    crash-safe sequences; a crash between them leaves one compacted and
    one not, which no probe can distinguish from content.  Returns the
    total run directories removed."""
    return (compact_index_store(spark, f"{index_path}/bands", keep_current)
            + compact_index_store(spark, f"{index_path}/sigs", keep_current))


def cluster_label_sink(df: DataFrame, labels_path: str, index_path: str,
                       checkpoint: str, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, bands: int = 16,
                       threshold: float = 0.8, seed: int = 42,
                       available_now: bool = True,
                       run_id: str | None = None,
                       compact_every: int | None = None) -> StreamingQuery:
    """Streaming near-dup CLUSTER MAINTENANCE with an unbounded
    horizon — the labeling capstone of the streaming dedup ladder:
    where ``minhash_index_sink`` drops fuzzy duplicates, this sink
    KEEPS every document and maintains the (doc_id, cluster_id) map
    incrementally.  Each micro-batch signs its documents, finds its
    pair set against the persisted banded index (batch↔history) and
    within itself (batch↔batch), both verified by signature-estimated
    Jaccard, then merges those pairs into the standing labels via
    ``dedup.incremental_clusters`` — star contraction means the result
    equals relabeling the full corpus, while per-batch cost stays
    O(batch pairs + changed labels), never a corpus re-pair.

    Storage is a DELTA log: each batch writes only its own documents
    plus the old documents whose label CHANGED (a merge re-roots a
    clique), into replay-idempotent ``run_id=R/batch_id=N``
    directories; every delta row carries the run's monotone ``epoch``
    so ``read_cluster_labels`` can fold the log latest-wins ACROSS
    runs (batch_id alone restarts at 0 per run).  ALL batch documents
    index (clustering keeps everything — unlike the dedup sink, where
    only survivors index).

    ``compact_every=N`` folds the delta log with
    :func:`compact_cluster_labels` after every Nth batch, INSIDE the
    foreachBatch function — the label fold is the one store read whose
    cost grows with history length (~15% per 12× log growth measured in
    SCALE.md r8), and periodic compaction pins it at one snapshot plus
    N deltas.  Safe mid-run because the snapshot is stamped with the
    newest standing ``(epoch, batch_id)``: this run's LATER batches
    outrank it, and a checkpoint replay of the just-compacted batch
    recomputes an empty delta against the already-folded standing
    labels (idempotent).  The fold preserves this run's newest delta
    directory (``keep_current``) so a checkpoint restart's epoch probe
    still finds ``run_id=R`` rows and REUSES the run's epoch (r9
    advisory; see :func:`compact_cluster_labels` for the one residual
    replay edge).  The hook also folds the banded index's two
    relations (:func:`compact_minhash_index` with the current batch
    preserved — the index is the store whose directory count, not row
    count, drives per-batch probe cost at production history lengths).
    Pre-epoch legacy stores read as epoch 0 (:func:`_with_epoch`) —
    the first post-upgrade run claims epoch 1 and outranks every
    legacy row.
    """

    from pyspark.sql.types import LongType, StructField, StructType

    from basic_data_fusion_spark.operators.dedup import (
        incremental_clusters,
        minhash_band_keys,
        minhash_signatures,
    )

    run = run_id or _derived_run_id(checkpoint)
    band_dir = f"{index_path}/bands"
    sig_dir = f"{index_path}/sigs"
    # Claimed once at this run's first batch; cached for the run's life.
    epoch_cell: list[int | None] = [None]

    def est_sim(sa, sb):
        eq = F.zip_with(sa, sb, lambda a, b: (a == b).cast("int"))
        return (F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
                .cast("double") / F.lit(int(num_hashes)))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Cluster ids are min member ids (the dedup_clusters contract),
        # so both empty-frame schemas take the id column's ACTUAL type —
        # hardcoding `long` breaks string/int doc ids at the very first
        # unionByName/join of a fresh store.
        id_type = batch_df.schema[id_col].dataType
        sig = minhash_signatures(batch_df, text_col, id_col, n,
                                 num_hashes, seed).persist()
        bkeys = minhash_band_keys(sig, id_col, id_col, bands, num_hashes)
        not_this = lambda rel: rel.filter(
            ~((F.col("run_id") == run) & (F.col("batch_id") == batch_id)))
        thr = F.lit(float(threshold))
        pair_schema = StructType([StructField("id_a", id_type),
                                  StructField("id_b", id_type)])
        pairs = local_frame(spark, [], pair_schema)
        if _index_exists(spark, band_dir):
            idx_b = not_this(_read_store(spark, band_dir)).select(
                "band", "bucket", F.col(id_col).alias("__ex_id"))
            idx_s = not_this(_read_store(spark, sig_dir)).select(
                F.col(id_col).alias("__ex_id"),
                F.col("signature").alias("__ex_sig"))
            # a self-row (this doc's own index entry from an earlier
            # run, or from a compacted index where not_this can't see
            # run/batch provenance) would only produce an inert CC
            # self-loop — prune it before the signature join
            cand = (bkeys.join(idx_b, ["band", "bucket"])
                    .filter(F.col("__ex_id") != F.col(id_col))
                    .select(id_col, "__ex_id").distinct())
            hist = (cand.join(sig, id_col).join(idx_s, "__ex_id")
                    .filter(est_sim(F.col("signature"),
                                    F.col("__ex_sig")) >= thr)
                    .select(F.col(id_col).alias("id_a"),
                            F.col("__ex_id").alias("id_b")).distinct())
            pairs = pairs.unionByName(hist)
        a = bkeys.select(F.col(id_col).alias("__ia"), "band", "bucket")
        b = bkeys.select(F.col(id_col).alias("__ib"), "band", "bucket")
        in_cand = (a.join(b, ["band", "bucket"])
                   .filter(F.col("__ia") < F.col("__ib"))
                   .select("__ia", "__ib").distinct())
        sa = sig.select(F.col(id_col).alias("__ia"),
                        F.col("signature").alias("__sa"))
        sb = sig.select(F.col(id_col).alias("__ib"),
                        F.col("signature").alias("__sb"))
        within = (in_cand.join(sa, "__ia").join(sb, "__ib")
                  .filter(est_sim(F.col("__sa"), F.col("__sb")) >= thr)
                  .select(F.col("__ia").alias("id_a"),
                          F.col("__ib").alias("id_b")).distinct())
        pairs = pairs.unionByName(within)
        if _index_exists(spark, labels_path):
            store = _with_epoch(_read_store(spark, labels_path))
            if epoch_cell[0] is None:
                # Reuse this run's epoch on checkpoint restart; a fresh
                # run claims max standing epoch + 1 so its rows outrank
                # every earlier run in the latest-wins fold.
                mine, top = (store.agg(
                    F.max(F.when(F.col("run_id") == run,
                                 F.col("epoch"))).alias("mine"),
                    F.max("epoch").alias("top")).collect()[0])
                epoch_cell[0] = int(mine) if mine is not None \
                    else int(top or 0) + 1
            labeled = not_this(store)
            standing = (labeled.groupBy(id_col)
                        .agg(F.expr(
                            "max_by(cluster_id, struct(epoch, batch_id))")
                             .alias("cluster_id")))
        else:
            if epoch_cell[0] is None:
                epoch_cell[0] = 1
            standing = local_frame(
                spark, [], StructType([StructField(id_col, id_type),
                                       StructField("cluster_id", id_type)]))
        updated = incremental_clusters(
            standing, pairs, batch_df.select(id_col), id_col=id_col)
        old = standing.select(F.col(id_col),
                              F.col("cluster_id").alias("__old"))
        delta = (updated.join(old, id_col, "left")
                 .filter(F.col("__old").isNull()
                         | (F.col("__old") != F.col("cluster_id")))
                 .select(id_col, "cluster_id",
                         F.lit(int(epoch_cell[0])).cast(LongType())
                         .alias("epoch")))
        (delta.write.mode("overwrite")
         .parquet(f"{labels_path}/run_id={run}/batch_id={batch_id}"))
        (sig.write.mode("overwrite")
         .parquet(f"{sig_dir}/run_id={run}/batch_id={batch_id}"))
        (bkeys.write.mode("overwrite")
         .parquet(f"{band_dir}/run_id={run}/batch_id={batch_id}"))
        sig.unpersist()
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            # keep_current preserves this run's newest delta dir so a
            # checkpoint restart's epoch probe still finds run_id=R
            # rows and reuses the epoch (r9 advisory; fold-neutral —
            # see compact_cluster_labels).
            compact_cluster_labels(spark, labels_path,
                                   keep_current=(run, batch_id))
            # The banded index folds under the same keep-current
            # discipline as the dedup sinks; this sink's probes would
            # tolerate even a folded current batch (self-rows are
            # pruned, and a rediscovered sibling pair merges into the
            # same clusters on replay), but one uniform invariant —
            # the current batch partition is never folded mid-run —
            # is the property the tests pin.
            compact_minhash_index(spark, index_path,
                                  keep_current=(run, batch_id))

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def vector_index_sink(df: DataFrame, index_path: str, checkpoint: str,
                      centroids: list[list[float]],
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      metric: str = "cosine",
                      available_now: bool = True,
                      run_id: str | None = None,
                      compact_every: int | None = None) -> StreamingQuery:
    """Streaming IVF vector-index maintenance — the embedding member of
    the store family (content-hash index, banded MinHash index, cluster
    labels, quantile sketches): each micro-batch of embeddings is
    assigned to its coarse cell against the DRIVER-LITERAL centroids
    (``similarity.ivf_index`` — the same single-literal transform-loop
    expression the batch tier uses, so an index built here and one
    built in batch are bit-identical under the same metric) and
    appended as ``(id, vec, cell, __cc self-dot)`` rows into
    replay-idempotent ``run_id=R/batch_id=N`` directories.  Queries
    probe the store with :func:`read_vector_index` →
    ``similarity.ivf_topk_indexed`` — identical results to running
    ``ivf_topk`` over the accumulated corpus (parity-pinned), without
    ever re-assigning history.

    Scale shape: per batch the work is O(batch × n_cells) assignment
    expressions and one append — no index read, no state, no shuffle
    (cell assignment is a projection; the store write partitions by
    directory, not by cell).  Self-dots are precomputed at WRITE time
    so every future probe skips the corpus-side norm pass — the
    classic build-once/probe-many trade.  Rows are plain facts, so the
    store compacts with the generic :func:`compact_index_store`
    (``compact_every=N`` mid-run, same keep-current discipline as the
    family even though this sink never reads its own store — one
    uniform invariant).  Centroid REFRESH is a new index path (the
    FAISS practice: re-assignment is a rebuild, not an edit);
    ``metric`` must match the probe's tier (``"fixed_cosine"`` for the
    deterministic/oracle tier, ``"cosine"`` for the fast tier —
    :func:`similarity.ivf_index` docstring).

    LEGACY-LAYOUT note: this sink is born run-namespaced; there are no
    pre-namespacing vector stores to migrate."""

    from basic_data_fusion_spark.operators.similarity import (
        dot,
        fixed_point_self_dot,
        ivf_index,
    )

    run = run_id or _derived_run_id(checkpoint)
    self_dot = fixed_point_self_dot if metric == "fixed_cosine" else \
        (lambda v: dot(v, v))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        indexed = (ivf_index(batch_df, centroids, id_col, vec_col,
                             metric=metric, repartition_input=False)
                   .withColumn("__cc", self_dot(F.col(vec_col))))
        (indexed.write.mode("overwrite")
         .parquet(f"{index_path}/run_id={run}/batch_id={batch_id}"))
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact_index_store(spark, index_path,
                                keep_current=(run, batch_id))

    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_vector_index(spark: SparkSession, index_path: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The probe-ready relation of a :func:`vector_index_sink` store —
    ``(id, vec, cell, __cc)``, run/batch provenance dropped.  Feed it
    to ``similarity.ivf_topk_indexed`` with the SAME centroids and
    metric the sink indexed under.  ``distinct`` makes crash-leftover
    duplicate rows (snapshot + undeleted original between a
    compaction's promote and delete steps) inert, exactly as the
    content-hash store's set-semantic probes are."""
    return (_read_store(spark, index_path)
            .select(id_col, vec_col, "cell", "__cc").distinct())


def retrain_vector_index(spark: SparkSession, index_path: str,
                         new_index_path: str, k: int = 16,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         metric: str = "cosine", max_iter: int = 20,
                         seed: int = 42,
                         run_id: str | None = None) -> list[list[float]]:
    """Centroid-drift remediation for a :func:`vector_index_sink` store
    (r11 verdict #3): the sink assigns cells against centroids FIXED at
    first build, so on a drifting corpus cell balance and probe recall
    decay silently — :func:`~..operators.similarity.
    centroid_drift_report` prices the decay; THIS is the fix.  Retrain
    the coarse quantizer over the ACCUMULATED store corpus
    (``similarity.train_centroids`` — distributed k-means, map-side
    partial sums) and build the re-indexed store at ``new_index_path``
    — a REBUILD into a fresh path, not an edit of the live one (the
    FAISS refresh practice, and what the sink docstring promises), so
    a crash mid-rebuild leaves the old store untouched and the cutover
    is an atomic path swap in the caller's config.  The rebuilt store
    uses the same run-namespaced layout (one ``run_id=R/batch_id=0``
    directory), so :func:`read_vector_index`, the probe path and the
    compaction family work on it unchanged; a resumed sink stream then
    points at the new path with the NEW centroids.

    Returns the retrained centroids — callers MUST probe the new store
    with them (mixing a store with another epoch's centroid set is the
    exact bug this rebuild-not-edit design prevents).

    Cost shape: one store read (distinct probe rows), one k-means over
    the corpus (each Lloyd round a map-side aggregation), one
    assignment projection, one write — all linear; nothing quadratic,
    no per-row Python."""
    from basic_data_fusion_spark.operators.similarity import (
        dot,
        fixed_point_self_dot,
        ivf_index,
        train_centroids,
    )

    corpus = (read_vector_index(spark, index_path, id_col, vec_col)
              .select(id_col, vec_col))
    cents = train_centroids(corpus, k=k, vec_col=vec_col,
                            max_iter=max_iter, seed=seed)
    self_dot = fixed_point_self_dot if metric == "fixed_cosine" else \
        (lambda v: dot(v, v))
    indexed = (ivf_index(corpus, cents, id_col, vec_col, metric=metric)
               .withColumn("__cc", self_dot(F.col(vec_col))))
    run = run_id or _derived_run_id(new_index_path)
    (indexed.write.mode("overwrite")
     .parquet(f"{new_index_path}/run_id={run}/batch_id=0"))
    return cents


def maybe_retrain_vector_index(spark: SparkSession, index_path: str,
                               new_index_path: str,
                               queries: DataFrame,
                               centroids: list[list[float]],
                               k: int = 5, nprobe: int = 2,
                               recall_floor: float = 0.8,
                               candidate_factor: float = 3.0,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               query_id_col: str = "query_id",
                               metric: str = "cosine",
                               max_iter: int = 20, seed: int = 42,
                               run_id: str | None = None,
                               ) -> tuple[dict, list[list[float]] | None]:
    """Drift-TRIGGERED retrain (r12 verdict #6): run the quantizer
    drift audit over the accumulated store, apply the documented
    threshold rule, and rebuild only when a decay axis crosses its
    line — the closed loop around the r12 pair
    (:func:`~..operators.similarity.centroid_drift_report` prices the
    decay, :func:`retrain_vector_index` is the fix).

    ``centroids`` are the store's CURRENT (at-build) centroid set;
    ``queries`` is the representative probe workload the deployment
    watches (recent queries, or a held-out sample).  The rule
    (:func:`~..operators.similarity.drift_retrain_decision`) rebuilds
    iff probe ``micro_recall`` falls below ``recall_floor`` OR probe
    candidate volume exceeds ``candidate_factor`` × the balanced-cells
    budget (``n_queries × nprobe × corpus/|centroids|``) — the two
    independent decay modes the audit prices (neighbors hiding in
    unprobed cells; drifted mass collapsing into few stale cells so
    cost explodes while recall holds).

    Returns ``(decision, new_centroids | None)``; on rebuild the
    caller cuts its probe path over to ``new_index_path`` with the
    returned centroids (rebuild-not-edit, as retrain_vector_index
    documents).  Cost: one exact scan over the store corpus + one
    cell-probe per arm (the audit), and only on trigger the k-means
    rebuild — run it on the audit cadence (per N batches / per epoch),
    not per query."""
    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        drift_retrain_decision,
    )

    corpus = (read_vector_index(spark, index_path, id_col, vec_col)
              .select(id_col, vec_col))
    n_corpus = corpus.count()
    report = centroid_drift_report(
        corpus, queries, {"current": centroids}, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        deterministic=(metric == "fixed_cosine"))
    decision = drift_retrain_decision(
        report, "current", recall_floor=recall_floor,
        candidate_factor=candidate_factor, corpus_size=n_corpus,
        n_cells=len(centroids), nprobe=nprobe)
    if not decision["retrain"]:
        return decision, None
    cents = retrain_vector_index(
        spark, index_path, new_index_path, k=len(centroids),
        id_col=id_col, vec_col=vec_col, metric=metric,
        max_iter=max_iter, seed=seed, run_id=run_id)
    return decision, cents
