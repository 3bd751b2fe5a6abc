"""Context-window preparation: document chunking and sequence packing.

The last mile of a training-data pipeline — after dedup/quality/PII the
corpus must be cut into model-context-sized pieces and packed into
fixed-token-budget training rows. The reference has nothing comparable
(its unit of work is a row, SURVEY §1.1); both operators are pure
DataFrame expressions with deterministic, oracle-checkable output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .selection import serve_shard
from .text import tokens


def _clean_tokens(text_col: str):
    # blank text tokenizes to [''] — drop it so empty docs yield no chunks
    return F.filter(tokens(F.col(text_col)), lambda x: x != "")


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split each document into consecutive ``chunk_tokens``-token chunks
    (last chunk ragged): ``(id, chunk_idx, chunk_text, n_tokens)``. One
    explode per document — no shuffle, no Python; chunk boundaries are
    token-index arithmetic so any engine reproduces them exactly.
    Empty/blank documents produce no chunks."""
    spark = df.sparkSession
    base = (df.repartition(spark.sparkContext.defaultParallelism)
            .select(F.col(id_col), _clean_tokens(text_col).alias("toks"))
            .filter(F.size("toks") > 0))
    n = F.size("toks")
    n_chunks = F.ceil(n / F.lit(float(chunk_tokens))).cast("int")
    out = (base.select(
        F.col(id_col), "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")))
    start = F.col("chunk_idx") * chunk_tokens + 1
    piece = F.slice("toks", start, chunk_tokens)
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"))


def pack_sequences(df: DataFrame, budget: int = 256,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Assign documents to fixed-token-budget training packs:
    ``(id, n_tokens, pack_id)``. Contiguous-fill semantics: docs are
    taken in ``id`` order and a doc belongs to the pack its STARTING
    offset falls in (`floor(running_offset / budget)`), so a pack can
    overflow by at most one document — the standard pack-then-truncate
    layout, and a deterministic definition both engines compute
    identically.

    The running sum is a window over a global order — a single-partition
    sort at the extreme. That is fine up to ~billions of rows of (id,
    count) pairs (the window sees two longs per doc, never text); beyond
    that use ``pack_sequences_sharded``, which packs each md5 serve
    shard in parallel (tested, plan-guarded)."""
    return _pack(df, budget, text_col, id_col, None)


def _pack(df: DataFrame, budget: int, text_col: str, id_col: str,
          shard: Column | None) -> DataFrame:
    """Contiguous fill over one stream (``shard`` None), or within each
    serve shard with ``pack_id = 'shard_localpack'``."""
    keys = [] if shard is None else ["shard"]
    toks = F.coalesce(F.size(_clean_tokens(text_col)), F.lit(0)).cast("long")
    base = df.select(F.col(id_col), toks.alias("n_tokens"),
                     *([] if shard is None else [shard.alias("shard")]))
    w = (Window.partitionBy(*keys).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # long `div` long — exact integer division with no 2^53 double
    # bound; offsets are total token counts, which exceed 2^53 well
    # before a window would anyway
    staged = base.withColumn("__off", offset)
    pack = F.expr(f"__off div {int(budget)}").cast("long")
    if shard is not None:
        pack = F.concat_ws("_", F.col("shard").cast("string"),
                           pack.cast("string"))
    return staged.select(F.col(id_col), "n_tokens", *keys,
                         pack.alias("pack_id"))


def packing_efficiency_sweep(df: DataFrame, context_lengths: list[int],
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Context-length planning report: for each candidate training
    context length, the sequence counts and padding fractions of the
    two boundary packing strategies — naive one-document-per-sequence
    (each doc occupies ceil(n/ctx) sequences, the last one padded) and
    the perfect-concat lower bound (ceil(total/ctx) sequences — what
    ``pack_sequences``-style greedy packing approaches). The spread
    between the two padding fractions is the token budget a packing
    stage can recover at that context length; pipelines pick ctx (and
    whether packing is worth its shuffle) from this table before
    spending a single training-token pass.

    One tokenize pass over the corpus: per-doc token counts explode
    against the LITERAL context-length array (same one-scan sweep shape
    as ``dedup_impact_sweep``), then one hash aggregation per ctx.
    Everything is integer arithmetic and integer-derived divisions —
    bit-deterministic. Reference analogue: none (planning extension).
    """
    ctxs = sorted(int(c) for c in context_lengths)
    c_arr = F.array(*[F.lit(c) for c in ctxs])
    n = F.size(_clean_tokens(text_col))
    per_doc = (df.select(F.col(id_col), n.alias("__n"))
               .filter(F.col("__n") > 0)
               .withColumn("ctx", F.explode(c_arr)))
    seqs_naive = F.ceil(F.col("__n") / F.col("ctx")).cast("long")
    agg = (per_doc.groupBy("ctx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n").cast("long").alias("total_tokens"),
        F.sum(seqs_naive).alias("n_seq_naive")))
    n_seq_packed = F.ceil(F.col("total_tokens") / F.col("ctx")).cast("long")
    pad = lambda n_seq: ((n_seq * F.col("ctx") - F.col("total_tokens"))
                         .cast("double")
                         / (n_seq * F.col("ctx")).cast("double"))
    return (agg.select(
        F.col("ctx").cast("long").alias("ctx"),
        "n_docs", "total_tokens", "n_seq_naive",
        pad(F.col("n_seq_naive")).alias("pad_frac_naive"),
        n_seq_packed.alias("n_seq_packed_lb"),
        pad(n_seq_packed).alias("pad_frac_packed_lb"))
        .orderBy("ctx"))


def pack_sequences_sharded(df: DataFrame, budget: int = 256,
                           n_shards: int = 16,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """``pack_sequences`` with NO global window — the tested 100 TB
    path: documents route to md5 serve shards (``selection.serve_shard``
    — length-independent, so shard fill rates match the corpus) and the
    contiguous-fill running sum is per-shard, giving globally-unique
    ``pack_id = 'shard_localpack'``.  The window partitions by shard, so
    no (id, count) relation moves through one task; restricted to one
    shard the packing is exactly ``pack_sequences`` of that shard's
    documents.  Returns (id, n_tokens, shard, pack_id)."""
    return _pack(df, budget, text_col, id_col,
                 serve_shard(F.col(id_col), n_shards))


def length_bucketed_batches(df: DataFrame, batch_size: int = 16,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Sorted (length-bucketed) batching report — the no-concat middle
    ground between naive arrival-order batching and ``pack_sequences``:
    documents sort by token count (id tie-break) and fill fixed-size
    batches of ``batch_size`` docs, so each batch pads only to its own
    max length instead of the corpus tail's.  The standard seq2seq
    padding-efficiency technique for pipelines that cannot concatenate
    across document boundaries (masking constraints, doc-level labels).

    Returns one row per batch: ``(batch_id, n_docs, batch_tokens,
    batch_max, padding)`` with ``padding = n_docs·batch_max −
    batch_tokens`` (the pad tokens a dense [n_docs × batch_max] tensor
    spends); the last batch is ragged.  Deterministic: the order is the
    total order (n_tokens, id), the batch id is integer arithmetic on
    the exact global rank — any engine reproduces it.

    Scale shape: the global rank comes from ``ordering.total_order_pos``
    (range shuffle + per-partition local ranks + broadcast offsets — no
    data-sized relation through one task; only (id, n_tokens) pairs
    move), and the report aggregation groups by batch id with map-side
    combine.  Reference analogue: none (training-serve extension;
    complements ``packing_efficiency_sweep``'s naive-vs-concat bounds).
    """
    from .ordering import total_order_pos

    toks = F.coalesce(F.size(_clean_tokens(text_col)), F.lit(0)).cast("long")
    base = df.select(F.col(id_col), toks.alias("n_tokens"))
    ranked = total_order_pos(base, ["n_tokens", id_col], "__r")
    ranked = ranked.withColumn(
        "batch_id", F.expr(f"(__r - 1) div {int(batch_size)}").cast("long"))
    return (ranked.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("batch_tokens"),
        F.max("n_tokens").cast("long").alias("batch_max"))
        .withColumn("padding",
                    (F.col("n_docs") * F.col("batch_max")
                     - F.col("batch_tokens")).cast("long"))
        .orderBy("batch_id"))
