"""Streaming stores: replay-idempotent ``foreachBatch`` sinks and their
compactors.

Structured Streaming may call a ``foreachBatch`` function again with
the SAME batch id after a failure, so every sink here makes its writes
deterministic per batch.  One store protocol serves the whole family
(exactly-once output, content-hash index, banded MinHash index, cluster
labels, quantile sketches, IVF vector index):

* **Layout.**  A store is a directory of ``run_id=R/batch_id=N``
  partitions.  Batch N of run R overwrites exactly its own directory,
  so a retried batch rewrites the same files instead of duplicating
  rows.  ``R`` is derived from the checkpoint path
  (:func:`_derived_run_id`; :func:`cluster_label_sink` also takes an
  explicit ``run_id``): stable across restarts of one query and
  distinct across fresh checkpoints.  Batch ids restart
  at 0 per checkpoint, so without the run level a second run would
  overwrite the first run's batch 0.  The checkpoint records batch
  progress, so an AvailableNow restart resumes instead of reprocessing.
  A path holding top-level ``batch_id=N`` directories is refused at
  start: Spark cannot list a mixed-depth partition tree.
* **Reads** go through :func:`_read_store`, which keeps each
  ``run_id`` as its exact directory string and types ``batch_id`` long.
  File-system probes go through the Hadoop FileSystem resolved from the
  path (:func:`_fs`), so hdfs://, s3a:// and local stores behave alike.
* **Replay exclusion (``not_this``).**  A sink that probes its own
  store drops its current ``(run, batch)`` partition from the probe, so
  a replay of batch N never matches batch N's own pre-crash writes.
  Filtering on ``batch_id`` alone would hide another run's batch N.
* **Compaction.**  A store grows one directory per batch, and listing
  and footer cost, not row count, then drives every probe.  The
  ``compact_*`` functions fold a store into one ``run_id=__compact__``
  snapshot in four steps (:func:`_replace_runs_with_snapshot`):

  1. stage the fold into ``_compact_staging/`` inside the store; the
     leading underscore hides it from Spark's listing, so the write
     overlaps nothing the fold reads, and a crash leaves the log intact
     beside an invisible orphan;
  2. promote: rename the staging directory to
     ``run_id=__compact_new__``, after which the fold is part of the log;
  3. delete every other ``run_id=`` directory;
  4. rename ``__compact_new__`` to ``__compact__``.

  A crash after step 2 leaves rows in both the snapshot and their
  original directory.  Each store reads that duplication as a no-op:
  index probes are set-semantic, sketch rows fold by provenance with
  ``max``, and a label snapshot sits at the rank of the newest delta it
  folded.
* **``keep_current=(run, batch)``** is the mid-run form.  That one
  partition survives step 3, and the index and sketch folds leave its
  rows out, so the store becomes ``snapshot + current batch``.  A
  checkpoint replay of the just-compacted batch then probes exactly the
  history it probed the first time, and the label sink's epoch probe
  still finds its own run.  Without ``keep_current``, compact only
  while no writer runs.  A sink's ``compact_every=N`` runs its
  compactor with ``keep_current`` after every Nth batch, inside
  ``foreachBatch`` (:func:`suggest_compact_every` sizes N).
"""

from __future__ import annotations

import hashlib
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructField, StructType

from ..operators.aggregations import quantile_hist_sketch
from ..operators.dedup import (
    incremental_clusters,
    minhash_band_keys,
    minhash_signatures,
)
from ..operators.similarity import (
    centroid_drift_report,
    dot,
    drift_retrain_decision,
    fixed_point_self_dot,
    ivf_index,
    train_centroids,
)
from ..operators.text import fingerprint
from ..session import local_frame
from ..sources.partitioning import spread_narrow


def _derived_run_id(checkpoint: str) -> str:
    """Run id derived from the checkpoint path, prefixed ``r`` so that it
    is never all decimal digits (see :func:`_read_store`)."""
    return "r" + hashlib.md5(checkpoint.encode()).hexdigest()[:12]


def _fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, resolved from its scheme."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _index_exists(spark: SparkSession, path: str) -> bool:
    """Does ``path`` exist?  Only a missing path answers False.  A store
    error (connectivity, permissions) propagates, so the batch fails and
    is retried instead of committing without its history probe."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


_READ_STORE_LOCK = threading.Lock()


def _read_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read a store with canonical partition columns.

    The read runs with partition-type inference disabled, so every
    ``run_id`` stays its exact directory string.  With inference on, an
    all-digit id (an explicit ``'012…'``) types the column BIGINT: string
    comparisons then fail under ANSI, and a leading zero is silently
    lost, so the replay exclusion and the epoch probe stop matching.
    ``batch_id`` is cast back to long.

    The conf flip covers relation resolution only and runs under a
    process-wide lock, so two store readers cannot interleave and pin
    the transient value into the session.  An unrelated partitioned read
    on the same session that races the window may see inference off;
    serialize such reads against store probes or give them a schema."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    with _READ_STORE_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            d = spark.read.parquet(store_path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    if "batch_id" in d.columns:
        d = d.withColumn("batch_id", F.col("batch_id").cast("long"))
    return d


def _drop_partition(d: DataFrame, keep: tuple[str, int] | None) -> DataFrame:
    """``d`` without the ``keep=(run, batch)`` partition (all of ``d`` when
    ``keep`` is None)."""
    if keep is None:
        return d
    run, batch = keep
    return d.filter(~((F.col("run_id") == run)
                      & (F.col("batch_id") == int(batch))))


def _put(df: DataFrame, store_path: str, run: str, batch_id: int) -> None:
    """Overwrite partition ``(run, batch_id)`` of a store with ``df``."""
    df.write.mode("overwrite").parquet(
        f"{store_path}/run_id={run}/batch_id={batch_id}")


def _assert_store_layout(spark: SparkSession, path: str) -> None:
    """Refuse a store that holds top-level ``batch_id=N`` directories,
    before anything is written beside them."""
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath) and any(
            st.isDirectory() and st.getPath().getName().startswith("batch_id=")
            for st in fs.listStatus(jpath)):
        raise IOError(
            f"{path} holds bare batch_id=N directories; writing "
            f"run_id=R/batch_id=N beside them would create a mixed-depth "
            f"partition tree Spark cannot list")


def _start(df: DataFrame, checkpoint: str, run: str,
           stores: tuple[str, ...], write, compact_every: int | None,
           compact) -> StreamingQuery:
    """Check the layout of every store the sink writes, then start ``df``
    through ``foreachBatch`` under an AvailableNow trigger: each batch
    runs ``write(batch_df, batch_id)``, and every ``compact_every``-th
    batch then runs ``compact(spark, (run, batch_id))``."""
    for store in stores:
        _assert_store_layout(df.sparkSession, store)

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        write(batch_df, batch_id)
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact(batch_df.sparkSession, (run, batch_id))

    return (df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def exactly_once_parquet_sink(df: DataFrame, path: str,
                              checkpoint: str) -> StreamingQuery:
    """Write a streaming DataFrame to ``path``, one replay-idempotent
    ``run_id=R/batch_id=N`` directory per micro-batch."""
    run = _derived_run_id(checkpoint)
    return _start(df, checkpoint, run, (path,),
                  lambda b, i: _put(b, path, run, i), None, None)


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    """Everything a sink has written, with ``run_id`` and ``batch_id`` as
    columns."""
    return _read_store(spark, path)


def index_backed_dedup_sink(df: DataFrame, out_path: str, index_path: str,
                            checkpoint: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            compact_every: int | None = None) -> StreamingQuery:
    """Streaming exact dedup with an UNBOUNDED horizon.  Each micro-batch
    anti-joins a persisted content-hash index, dedups within itself (the
    min id wins), then writes its survivors to ``out_path`` and their
    hashes to ``index_path``.

    This is the tier above ``streaming_exact_dedup``, whose
    watermark-bounded state forgets: a re-crawl of a page a week later
    passes it.  The index remembers forever, at one index scan per
    batch.  The index side reduces to distinct 32-char hashes and the
    batch shuffles once on the hash; document bodies never shuffle.
    ``compact_every`` folds the index with :func:`compact_index_store`.
    """
    run = _derived_run_id(checkpoint)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashed = batch_df.withColumn(
            "__h", fingerprint(F.coalesce(F.col(text_col), F.lit(""))))
        if _index_exists(spark, index_path):
            idx = _drop_partition(_read_store(spark, index_path),
                                  (run, batch_id)).select("__h").distinct()
            hashed = hashed.join(idx, "__h", "left_anti")
        keep = (hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
                .select(id_col))
        survivors = hashed.join(keep, id_col, "left_semi").persist()
        _put(survivors.drop("__h"), out_path, run, batch_id)
        _put(survivors.select("__h").distinct(), index_path, run, batch_id)
        survivors.unpersist()

    return _start(df, checkpoint, run, (out_path, index_path),
                  write, compact_every,
                  lambda spark, keep: compact_index_store(spark, index_path,
                                                          keep))


def quantile_sketch_sink(df: DataFrame, sketch_path: str, checkpoint: str,
                         part_col: str, value_col: str,
                         lo: float, hi: float, bins: int = 1024,
                         compact_every: int | None = None) -> StreamingQuery:
    """Streaming side of the mergeable quantile tier
    (``aggregations.quantile_hist_sketch``).  Each micro-batch reduces to
    its ``(partition, bin, n)`` histogram rows.  Bins sum, so the
    standing store answers any later quantile question (per partition,
    per batch range or global) through ``quantile_rollup`` over
    :func:`read_sketch_store`, without reprocessing the stream.  At
    100 TB the stream is the only pass that sees the raw values; every
    later percentile reads kilobyte-scale integer histograms.

    Each row carries its provenance as the regular columns ``src_run``
    and ``src_batch``.  Sketch rows are SUMS, so unlike an index row a
    duplicated one is not inert; provenance is what lets the readers
    fold crash duplicates exactly.  ``compact_every`` folds with
    :func:`compact_sketch_store`."""
    run = _derived_run_id(checkpoint)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _put(quantile_hist_sketch(batch_df, part_col, value_col, lo, hi, bins)
             .withColumn("src_run", F.lit(run))
             .withColumn("src_batch", F.lit(int(batch_id)).cast("long")),
             sketch_path, run, batch_id)

    return _start(df, checkpoint, run, (sketch_path,), write,
                  compact_every,
                  lambda spark, keep: compact_sketch_store(spark, sketch_path,
                                                           keep))


def _sketch_fold(d: DataFrame) -> DataFrame:
    """One row per provenance key ``(src_run, src_batch, partition, bin)``:
    crash duplicates are bit-identical copies of one batch write, so
    ``max(n)`` keeps exactly one."""
    return (d.groupBy("src_run", "src_batch", "partition", "bin")
            .agg(F.max("n").alias("n")))


def read_sketch_store(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Current ``(partition, bin, n)`` rows of a
    :func:`quantile_sketch_sink` store, exact at every compaction crash
    point.  Feed the result to ``quantile_rollup``."""
    return (_sketch_fold(_read_store(spark, sketch_path))
            .select("partition", "bin", "n"))


def compact_sketch_store(spark: SparkSession, sketch_path: str,
                         keep_current: tuple[str, int] | None = None) -> int:
    """Fold a :func:`quantile_sketch_sink` store into one snapshot run.
    The fold keeps each row's provenance instead of sum-merging: a
    merge would destroy the key that keeps crash duplicates exact, and
    the store's cost is its directory count, not its at most
    bins × partitions rows per batch.  Returns the number of directories
    removed."""
    d = _drop_partition(_read_store(spark, sketch_path), keep_current)
    return _replace_runs_with_snapshot(spark, sketch_path, _sketch_fold(d),
                                       0, keep_current)


def _banded_pairs(sig: DataFrame, bkeys: DataFrame, id_col: str,
                  index_path: str, current: tuple[str, int], num_hashes: int,
                  threshold: float) -> DataFrame:
    """Verified near-duplicate pairs ``(id_a, id_b)`` of one micro-batch.

    Filter then verify: candidates share a ``(band, bucket)`` key, and a
    candidate survives when the two signatures agree on at least
    ``threshold`` of their ``num_hashes`` positions.  ``id_a`` is always
    a batch document.  ``id_b`` is either a document of the banded index
    under ``index_path`` (``bands`` for the probe, ``sigs`` for
    verification, minus the ``current`` partition) or a SMALLER-id
    document of the same batch.  The candidate join never touches
    signatures, and verification joins only candidates, so a batch costs
    O(batch + candidates) against any history size.  A batch document
    whose id is already in the index pairs with itself."""
    spark = sig.sparkSession
    mine = sig.select(F.col(id_col).alias("id_a"),
                      F.col("signature").alias("__sa"))
    agree = F.zip_with("__sa", "__sb", lambda a, b: (a == b).cast("int"))
    similar = ((F.aggregate(agree, F.lit(0), lambda acc, x: acc + x)
                .cast("double") / F.lit(int(num_hashes)))
               >= F.lit(float(threshold)))

    def verified(cand: DataFrame, theirs: DataFrame) -> DataFrame:
        return (cand.select("id_a", "id_b").distinct()
                .join(mine, "id_a").join(theirs, "id_b")
                .filter(similar).select("id_a", "id_b").distinct())

    probe = bkeys.select(F.col(id_col).alias("id_a"), "band", "bucket")
    siblings = bkeys.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = verified(
        probe.join(siblings, ["band", "bucket"])
        .filter(F.col("id_a") > F.col("id_b")),
        sig.select(F.col(id_col).alias("id_b"),
                   F.col("signature").alias("__sb")))
    if _index_exists(spark, f"{index_path}/bands"):
        def history(rel: str, *cols) -> DataFrame:
            return _drop_partition(
                _read_store(spark, f"{index_path}/{rel}"), current).select(
                    F.col(id_col).alias("id_b"), *cols)
        hist = verified(
            probe.join(history("bands", "band", "bucket"),
                       ["band", "bucket"]),
            history("sigs", F.col("signature").alias("__sb")))
        pairs = hist.unionByName(pairs)
    return pairs


def minhash_index_sink(df: DataFrame, out_path: str, index_path: str,
                       checkpoint: str, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, bands: int = 16,
                       threshold: float = 0.8, seed: int = 42,
                       compact_every: int | None = None) -> StreamingQuery:
    """Streaming FUZZY dedup with an unbounded horizon: the MinHash tier
    above :func:`index_backed_dedup_sink`'s exact tier.  Each micro-batch
    signs its documents and drops every document that is a near-duplicate
    of the indexed history or of a smaller-id batch sibling
    (:func:`_banded_pairs`; verification estimates Jaccard from the
    signatures, because shingle sets are corpus-sized and signatures are
    ``num_hashes`` longs).  It writes the survivors to ``out_path`` and
    their signatures and band keys to ``index_path/sigs`` and
    ``index_path/bands``.  Only survivors are indexed: a dropped
    duplicate's canonical is already there.  ``compact_every`` folds both
    relations with :func:`compact_minhash_index`."""
    run = _derived_run_id(checkpoint)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        sig = minhash_signatures(batch_df, text_col, id_col, n,
                                 num_hashes, seed).persist()
        bkeys = minhash_band_keys(sig, id_col, id_col, bands, num_hashes)
        drops = (_banded_pairs(sig, bkeys, id_col, index_path,
                               (run, batch_id), num_hashes, threshold)
                 .select(F.col("id_a").alias(id_col)).distinct())
        survivors = batch_df.join(drops, id_col, "left_anti").persist()
        _put(survivors, out_path, run, batch_id)
        surv_sig = sig.join(survivors.select(id_col), id_col, "left_semi")
        _put(surv_sig, f"{index_path}/sigs", run, batch_id)
        _put(minhash_band_keys(surv_sig, id_col, id_col, bands, num_hashes),
             f"{index_path}/bands", run, batch_id)
        survivors.unpersist()
        sig.unpersist()

    return _start(df, checkpoint, run,
                  (out_path, f"{index_path}/bands", f"{index_path}/sigs"),
                  write, compact_every,
                  lambda spark, keep: compact_minhash_index(spark, index_path,
                                                            keep))


def _latest_labels(d: DataFrame) -> DataFrame:
    """Latest-wins fold of a label store: per ``doc_id``, the label of
    the highest ``(epoch, batch_id)``."""
    return (d.groupBy("doc_id")
            .agg(F.expr("max_by(cluster_id, struct(epoch, batch_id))")
                 .alias("cluster_id")))


def read_cluster_labels(spark: SparkSession, labels_path: str) -> DataFrame:
    """Current ``(doc_id, cluster_id)`` map of a :func:`cluster_label_sink`
    store.  Merges re-emit the affected old documents with their new
    label, so per document the newest delta row is the current label.
    "Newest" is ``(epoch, batch_id)``: batch ids restart at 0 per run,
    and the run epoch orders the runs."""
    return _latest_labels(_read_store(spark, labels_path))


def suggest_compact_every(max_store_dirs: int = 16) -> int:
    """A ``compact_every`` that bounds a store at ``max_store_dirs`` leaf
    directories.

    A fold at batch ``k*N-1`` leaves the snapshot plus the kept current
    batch; the next ``N-1`` batches each add one delta, and the fold
    batch writes its own directory before folding.  The peak is
    therefore ``N + 2``, and ``N = max_store_dirs - 2`` holds the bound,
    except for one extra directory during a fold's promote-to-delete
    window.  The floor of 8 keeps a tiny bound from folding every batch
    or two, where the fold's own jobs cost more than the listing they
    save; the bound holds exactly for every ``max_store_dirs >= 10``.

    Probe cost on these stores follows directory count (SCALE.md:
    0.74 → 1.97 s over 16× history, flat 0.41 s compacted), while a fold
    reads the snapshot and N deltas.  Where listing is cheap (HDFS,
    local) a looser bound of 32-64 trades fewer folds for slower probes;
    on object stores, where LIST is the expensive call, keep 16 or
    less."""
    return max(8, int(max_store_dirs) - 2)


def compact_cluster_labels(spark: SparkSession, labels_path: str,
                           keep_current: tuple[str, int] | None = None,
                           ) -> int:
    """Fold a :func:`cluster_label_sink` delta log into one snapshot.

    The snapshot is the latest-wins fold, stamped with the rank of the
    newest standing delta: the max epoch, and the max batch id at that
    epoch.  The fold reads the same before and after, the next writer
    run (max epoch + 1) outranks the snapshot, and so do a running
    writer's later batches (same epoch, higher batch id), which is what
    makes the mid-run form safe.

    Unlike the index compactors, the ``keep_current`` partition's rows
    stay IN the fold: the snapshot must remain the complete fold, and the
    kept rows are rank-equal and value-equal to it.  One edge remains: a
    checkpoint replay of the just-compacted batch writes an empty delta
    over the kept directory (the standing labels already hold its
    results), and a second restart after that claims a fresh epoch.
    Both outcomes give the same fold.  Returns the number of run
    directories removed."""
    d = _read_store(spark, labels_path)
    top, top_batch = d.agg(
        F.max("epoch"),
        F.expr("max(struct(epoch, batch_id)).batch_id")).first()
    snap = _latest_labels(d).withColumn("epoch",
                                        F.lit(int(top or 0)).cast("long"))
    return _replace_runs_with_snapshot(spark, labels_path, snap,
                                       int(top_batch or 0), keep_current)


def _replace_runs_with_snapshot(spark: SparkSession, store_path: str,
                                snap: DataFrame, batch_id: int,
                                keep: tuple[str, int] | None) -> int:
    """Replace a store's run directories with ``snap`` (whose plan may
    read the store) by the four crash-safe steps in the module
    docstring; the snapshot lands at ``run_id=__compact__/batch_id=``
    ``batch_id``.  ``keep=(run, batch)`` spares that one partition
    directory.  Returns the number of run directories fully removed."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs, root = _fs(spark, store_path)
    staging = hpath(f"{store_path}/_compact_staging")
    promoted = hpath(f"{store_path}/run_id=__compact_new__")
    # an orphan from a crashed step 1 is never listed, so the fold below
    # cannot be reading it
    fs.delete(staging, True)
    snap.write.parquet(f"{store_path}/_compact_staging/batch_id={batch_id}")
    # a relic of a crashed step 2-4 is part of the log the staged fold
    # just read, and that job has completed
    fs.delete(promoted, True)
    if not fs.rename(staging, promoted):
        raise IOError(f"compact: rename to {promoted} failed")
    removed = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("run_id=")
                and name != "run_id=__compact_new__"):
            continue
        if keep and name == f"run_id={keep[0]}":
            for child in fs.listStatus(st.getPath()):
                cname = child.getPath().getName()
                if child.isDirectory() and cname.startswith("batch_id=") \
                        and cname != f"batch_id={keep[1]}":
                    fs.delete(child.getPath(), True)
            continue
        fs.delete(st.getPath(), True)
        removed += 1
    final = hpath(f"{store_path}/run_id=__compact__")
    if not fs.rename(promoted, final):
        raise IOError(f"compact: rename to {final} failed")
    return removed


def compact_index_store(spark: SparkSession, store_path: str,
                        keep_current: tuple[str, int] | None = None) -> int:
    """Fold an append-only index store (the content-hash index, one
    relation of a banded MinHash index, or a vector index) into one
    snapshot run.  Rows are plain facts, so the fold is an identity
    rewrite up to multiplicity: ``distinct`` keeps crash duplicates from
    compounding into the next snapshot.  Returns the number of run
    directories removed."""
    snap = (_drop_partition(_read_store(spark, store_path), keep_current)
            .drop("run_id", "batch_id").distinct())
    return _replace_runs_with_snapshot(spark, store_path, snap, 0,
                                       keep_current)


def compact_minhash_index(spark: SparkSession, index_path: str,
                          keep_current: tuple[str, int] | None = None) -> int:
    """Compact both relations (``bands`` and ``sigs``) of a banded MinHash
    index with :func:`compact_index_store`.  They fold as two independent
    sequences; a crash between them leaves one folded and one not, which
    no probe can tell apart.  Returns the total run directories
    removed."""
    return (compact_index_store(spark, f"{index_path}/bands", keep_current)
            + compact_index_store(spark, f"{index_path}/sigs", keep_current))


def cluster_label_sink(df: DataFrame, labels_path: str, index_path: str,
                       checkpoint: str, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, bands: int = 16,
                       threshold: float = 0.8, seed: int = 42,
                       run_id: str | None = None,
                       compact_every: int | None = None) -> StreamingQuery:
    """Streaming near-duplicate CLUSTER maintenance with an unbounded
    horizon.  Where :func:`minhash_index_sink` drops fuzzy duplicates,
    this sink keeps every document and maintains its cluster label.
    Each micro-batch finds its verified pairs against the banded index
    and within itself (:func:`_banded_pairs`) and merges them into the
    standing labels with ``dedup.incremental_clusters``.  Star
    contraction makes the result equal to relabeling the full corpus at
    O(batch pairs + changed labels) per batch.  Every batch document is
    indexed.

    The label store is a delta log keyed by ``doc_id`` whatever
    ``id_col`` is: each batch writes its own documents plus the old
    documents whose label changed.  Every row carries the run's
    ``epoch``: a fresh run claims the max standing epoch + 1 at its
    first batch, and a checkpoint restart reuses its run's epoch.
    :func:`read_cluster_labels` folds the log latest-wins by
    ``(epoch, batch_id)``.  ``compact_every`` folds the labels with
    :func:`compact_cluster_labels` and the index with
    :func:`compact_minhash_index`."""
    run = run_id or _derived_run_id(checkpoint)
    epoch_cell: list[int | None] = [None]  # claimed once per run

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # cluster ids are min member ids, so the empty standing frame
        # takes the id column's own type
        id_type = batch_df.schema[id_col].dataType
        sig = minhash_signatures(batch_df, text_col, id_col, n,
                                 num_hashes, seed).persist()
        bkeys = minhash_band_keys(sig, id_col, id_col, bands, num_hashes)
        # a self-pair (a document's own index entry from an earlier run
        # or from a compacted index) is an inert CC self-loop; Catalyst
        # pushes this filter below the signature join
        pairs = _banded_pairs(sig, bkeys, id_col, index_path,
                              (run, batch_id), num_hashes, threshold
                              ).filter(F.col("id_a") != F.col("id_b"))
        if _index_exists(spark, labels_path):
            store = _read_store(spark, labels_path)
            if epoch_cell[0] is None:
                mine, top = store.agg(
                    F.max(F.when(F.col("run_id") == run, F.col("epoch"))),
                    F.max("epoch")).first()
                epoch_cell[0] = int(mine) if mine is not None \
                    else int(top or 0) + 1
            standing = (_latest_labels(_drop_partition(store, (run, batch_id)))
                        .withColumnRenamed("doc_id", id_col))
        else:
            epoch_cell[0] = epoch_cell[0] or 1
            standing = local_frame(
                spark, [], StructType([StructField(id_col, id_type),
                                       StructField("cluster_id", id_type)]))
        updated = incremental_clusters(
            standing, pairs, batch_df.select(id_col), id_col=id_col)
        old = standing.select(id_col, F.col("cluster_id").alias("__old"))
        delta = (updated.join(old, id_col, "left")
                 .filter(F.col("__old").isNull()
                         | (F.col("__old") != F.col("cluster_id")))
                 .select(F.col(id_col).alias("doc_id"), "cluster_id",
                         F.lit(int(epoch_cell[0])).cast("long")
                         .alias("epoch")))
        _put(delta, labels_path, run, batch_id)
        _put(sig, f"{index_path}/sigs", run, batch_id)
        _put(bkeys, f"{index_path}/bands", run, batch_id)
        sig.unpersist()

    def compact(spark: SparkSession, keep: tuple[str, int]) -> None:
        compact_cluster_labels(spark, labels_path, keep)
        compact_minhash_index(spark, index_path, keep)

    return _start(df, checkpoint, run,
                  (labels_path, f"{index_path}/bands", f"{index_path}/sigs"),
                  write, compact_every, compact)


def _ivf_rows(df: DataFrame, centroids: list[list[float]], id_col: str,
              vec_col: str, metric: str) -> DataFrame:
    """``similarity.ivf_index`` rows plus the precomputed self-dot
    ``__cc`` of ``metric``'s tier, so probes skip the corpus norm pass."""
    self_dot = fixed_point_self_dot if metric == "fixed_cosine" else \
        (lambda v: dot(v, v))
    return (ivf_index(df, centroids, id_col, vec_col, metric=metric)
            .withColumn("__cc", self_dot(F.col(vec_col))))


def vector_index_sink(df: DataFrame, index_path: str, checkpoint: str,
                      centroids: list[list[float]],
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      metric: str = "cosine",
                      compact_every: int | None = None) -> StreamingQuery:
    """Streaming IVF vector-index maintenance.  Each micro-batch of
    embeddings is assigned to its cell against the driver-literal
    ``centroids`` (``similarity.ivf_index``, the batch tier's expression,
    so both build bit-identical indexes under one metric) and written as
    ``(id, vec, cell, __cc)`` rows.  Probe the store with
    :func:`read_vector_index` and ``similarity.ivf_topk_indexed``: the
    results equal ``ivf_topk`` over the accumulated corpus, and history
    is never re-assigned.

    Per batch the work is one projection and one append: no index read,
    no state, no shuffle.  ``compact_every`` folds with
    :func:`compact_index_store`.  A centroid refresh is a new index path
    (:func:`retrain_vector_index`).  ``metric`` must match the probe's
    tier: ``"fixed_cosine"`` for the deterministic tier, ``"cosine"``
    for the fast one."""
    run = _derived_run_id(checkpoint)
    return _start(
        df, checkpoint, run, (index_path,),
        lambda b, i: _put(_ivf_rows(b, centroids, id_col, vec_col, metric),
                          index_path, run, i),
        compact_every,
        lambda spark, keep: compact_index_store(spark, index_path, keep))


def read_vector_index(spark: SparkSession, index_path: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The probe-ready ``(id, vec, cell, __cc)`` relation of a
    :func:`vector_index_sink` store.  Feed it to
    ``similarity.ivf_topk_indexed`` with the centroids and metric the
    sink indexed under.  ``distinct`` makes crash duplicates inert."""
    return (_read_store(spark, index_path)
            .select(id_col, vec_col, "cell", "__cc").distinct())


def retrain_vector_index(spark: SparkSession, index_path: str,
                         new_index_path: str, k: int = 16,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         metric: str = "cosine", max_iter: int = 20,
                         seed: int = 42) -> list[list[float]]:
    """Centroid-drift remedy for a :func:`vector_index_sink` store, whose
    cells are fixed at first build, so on a drifting corpus cell balance
    and recall decay (``similarity.centroid_drift_report`` prices it).
    Retrains the quantizer over the accumulated corpus
    (``similarity.train_centroids``) and REBUILDS the index at
    ``new_index_path`` as one ``run_id=R/batch_id=0`` directory.  The
    live store is never edited: a crash mid-rebuild leaves it untouched,
    and the cutover is a path swap in the caller's config.

    Returns the retrained centroids.  Probe the new store with them
    only: mixing a store with another centroid set is the bug the
    rebuild prevents.  Every step is linear: one store read, one
    k-means, one assignment projection, one write."""
    corpus = (read_vector_index(spark, index_path, id_col, vec_col)
              .select(id_col, vec_col))
    cents = train_centroids(corpus, k=k, vec_col=vec_col,
                            max_iter=max_iter, seed=seed)
    _put(_ivf_rows(spread_narrow(corpus), cents, id_col, vec_col, metric),
         new_index_path, _derived_run_id(new_index_path), 0)
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
                               max_iter: int = 20, seed: int = 42
                               ) -> tuple[dict, list[list[float]] | None]:
    """Drift-triggered retrain: audit the accumulated store with
    ``similarity.centroid_drift_report`` and rebuild with
    :func:`retrain_vector_index` only when
    ``similarity.drift_retrain_decision`` says so.

    ``centroids`` is the store's current centroid set and ``queries``
    the probe workload to watch (recent queries or a held-out sample).
    The rule rebuilds iff probe ``micro_recall`` falls below
    ``recall_floor`` OR probe candidate volume exceeds
    ``candidate_factor`` × the balanced-cells budget
    (``n_queries × nprobe × corpus/|centroids|``).  These are the two
    decay modes: neighbors hiding in unprobed cells, and drifted mass
    collapsing into a few stale cells, where cost explodes while recall
    holds.

    Returns ``(decision, new_centroids | None)``.  On a rebuild, the
    caller moves its probe path to ``new_index_path`` with the returned
    centroids.  Cost: one exact scan of the corpus and one cell probe
    per arm, plus the k-means rebuild on trigger; run it on an audit
    cadence, not per query."""
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
        max_iter=max_iter, seed=seed)
    return decision, cents
