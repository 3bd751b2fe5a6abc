"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — exact, O(queries × corpus), the
correctness reference. Scale paths: random-hyperplane LSH bucketing and
IVF (coarse k-means cells) so the per-query candidate set shrinks from
the full corpus to a few buckets; both reuse the same exact re-scoring.

Dot products run as JVM array expressions (``zip_with`` + ``aggregate``)
— no Python in the scoring loop. The deterministic variant quantizes the
per-dimension products (fixed-point) so results are reproducible bit-for-
bit across partitionings and comparable to a single-node oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cache_pinned
from ..functions.scalars import half_up_long
from ..session import local_frame
from ..sources.partitioning import spread_narrow


def nested_double_lit(x) -> Column:
    """Nested ``array<double>`` literal built through the SQL parser.

    ``F.lit`` on a nested Python list crosses py4j once per element —
    measured ~4.6 s for a 16×64×4 codebook, paid at every plan
    construction. The equivalent ``array(array(…))`` SQL string parses in
    ~10 ms and the optimizer constant-folds it to ONE Literal node, so
    runtime plans are identical. ``repr(float)`` is the shortest exact
    round-trip decimal and ``D`` pins the SQL type to DOUBLE."""
    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(e) for e in v) + ")"
        return repr(float(v)) + "D"

    return F.expr(render(x))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential array order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def safe_cos_div(num: Column, den: Column) -> Column:
    """NULL instead of ANSI DIVIDE_BY_ZERO when a zero/empty vector
    makes a cosine denominator 0. A NULL similarity sorts LAST under
    the descending rank every top-k tier uses (desc = nulls-last), so
    degenerate vectors never outrank real neighbors — and never crash
    the whole job, which is what an unguarded ÷0 does under ANSI.

    ``try_divide``, NOT ``when(den != 0, num / den)``: the CASE form
    evaluates ``den`` twice, and in the cosine tiers ``den`` contains
    the per-dimension self-dot folds — the r6 hardening's CASE cost
    IVF cell assignment ~40% (2.8 → 3.9 s at sf0.1, re-measured) by
    re-running the folds per (vector, centroid) pair. try_divide
    evaluates both operands once and NULLs on a zero denominator."""
    return F.try_divide(num, den)


def cosine(a: Column, b: Column) -> Column:
    return safe_cos_div(dot(a, b), norm(a) * norm(b))


def fp_sum(prod_arr: Column, scale: float = 1e12) -> Column:
    """Fixed-point array sum: each element quantized at 1/scale, summed
    as integers — order-independent and bit-identical on any engine."""
    q = F.transform(prod_arr, lambda v: half_up_long(v * F.lit(scale)))
    return (F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + v)
            .cast("double") / F.lit(scale))


def fixed_point_dot(a: Column, b: Column, scale: float = 1e12) -> Column:
    return fp_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), scale)


def fixed_point_self_dot(a: Column, scale: float = 1e12) -> Column:
    return fp_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")), scale)


def fixed_point_cosine(a: Column, b: Column, scale: float = 1e12) -> Column:
    """Order-independent cosine: per-dimension products quantized at
    1/scale then integer-summed — bit-identical on any engine that
    evaluates the same tree (see operators/deterministic_sql.py)."""
    ab = fixed_point_dot(a, b, scale)
    aa = fixed_point_self_dot(a, scale)
    bb = fixed_point_self_dot(b, scale)
    return safe_cos_div(ab, F.sqrt(aa) * F.sqrt(bb))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     deterministic: bool = False) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    The corpus side is the big relation; queries broadcast (top-k search
    with a bounded query set — the common batch-ANN shape). Ties break on
    neighbor id, making the k-set deterministic.
    """
    # per-side self-dots hoist OUT of the pair loop: cosine(q, c) needs
    # (dot, |q|², |c|²), and computing the self-dots inside the pair
    # expression re-evaluates them |queries|× per corpus row (and
    # |corpus|× per query). Materializing them behind each side's
    # projection boundary cuts the per-pair work to ONE dot product —
    # the exact same (aa, bb, ab) values feed the same division tree,
    # so results (and the det tier's oracle hashes) are bit-identical.
    self_dot = fixed_point_self_dot if deterministic else \
        (lambda v: dot(v, v))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"),
                       self_dot(F.col(vec_col)).alias("__qq"))
    # scoring is CPU-bound; a single-file corpus would pin it to one core
    c = (spread_narrow(corpus)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("__cvec"),
                 self_dot(F.col(vec_col)).alias("__cc")))
    pair_dot = fixed_point_dot if deterministic else dot
    sim = safe_cos_div(pair_dot(F.col("__qvec"), F.col("__cvec")),
                       F.sqrt("__qq") * F.sqrt("__cc"))
    scored = (c.crossJoin(F.broadcast(q))
              .withColumn("cosine_sim", sim))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "neighbor_id", "cosine_sim", "rank"))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id",
                   deterministic: bool = False) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-``k`` most-similar corpus vectors whose ``label_col``
    DIFFERS from the query's — the negatives that sit closest to the
    decision boundary, which is where contrastive/triplet losses get
    their gradient (same-label neighbors are the positives;
    ``brute_force_topk`` without the label test).  Ties break on
    neighbor id; the output adds the two labels so downstream pair
    writers don't re-join.

    Scale shape: identical to ``brute_force_topk`` — the bounded query
    set broadcasts with per-side self-dots hoisted out of the pair
    expression, the corpus never shuffles, and per-query top-k is a
    window rank on the query partition.  At corpus scales where even
    one broadcast pass is too hot, compose the IVF tier first (probe
    cells, then apply the label filter to the candidate list) — the
    label test composes with any candidate generator because it is a
    per-pair projection, not a join.
    """
    self_dot = fixed_point_self_dot if deterministic else \
        (lambda v: dot(v, v))
    q = queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qvec"),
                       F.col(label_col).alias("query_label"),
                       self_dot(F.col(vec_col)).alias("__qq"))
    c = (spread_narrow(corpus)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("__cvec"),
                 F.col(label_col).alias("neighbor_label"),
                 self_dot(F.col(vec_col)).alias("__cc")))
    pair_dot = fixed_point_dot if deterministic else dot
    sim = safe_cos_div(pair_dot(F.col("__qvec"), F.col("__cvec")),
                       F.sqrt("__qq") * F.sqrt("__cc"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_label") != F.col("query_label"))
              .withColumn("cosine_sim", sim))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"),
                                                 F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "query_label", "neighbor_id",
                    "neighbor_label", "cosine_sim", "rank"))


def embedding_near_dups(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", threshold: float = 0.95,
                        planes: int = 16, seed: int = 42,
                        exhaustive: bool = False,
                        deterministic: bool = False) -> DataFrame:
    """Pairs with cosine ≥ threshold. ``exhaustive=True`` compares all
    pairs (oracle tier). Default: random-hyperplane LSH — pairs must share
    their full sign-sketch bucket; near-identical vectors almost surely do.
    Shuffle key = 16-bit sketch, never the O(n²) pair space.
    ``deterministic=True`` scores with the fixed-point cosine so results
    are bit-comparable to a single-node SQL oracle."""
    sim_fn = fixed_point_cosine if deterministic else cosine
    if exhaustive:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (pairs.withColumn("cosine_sim", sim_fn(F.col("__va"), F.col("__vb")))
                .filter(F.col("cosine_sim") >= threshold)
                .select("id_a", "id_b", "cosine_sim"))
    sketched = df.select(F.col(id_col),
                         F.col(vec_col),
                         hyperplane_sketch(F.col(vec_col), planes, seed).alias("bucket"))
    a = sketched.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "bucket")
    b = sketched.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "bucket")
    return (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine_sim", sim_fn(F.col("__va"), F.col("__vb")))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim").distinct())


def hyperplane_sketch(vec: Column, planes: int = 16, seed: int = 42,
                      dim: int = 64) -> Column:
    """Sign sketch: bit b = [⟨v, r_b⟩ > 0] for seeded pseudo-random
    hyperplanes r_b. Hyperplanes are deterministic literals (seeded numpy)
    compiled into the plan — no state, no shuffle."""
    import numpy as np

    rng = np.random.default_rng(seed)
    hyper = rng.standard_normal((planes, dim))
    # one nested-array literal + a transform/aggregate fold — identical
    # bit values to the unrolled Σ [⟨v,r_b⟩ > 0]·2^b form (ascending b),
    # with generated code that no longer grows with the plane count
    planes_lit = nested_double_lit([[float(x) for x in row] for row in hyper])
    masks_lit = F.lit([1 << b for b in range(planes)])
    signs = F.transform(planes_lit, lambda p: dot(vec, p) > 0)
    bits = F.zip_with(signs, masks_lit,
                      lambda s, m: F.when(s, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v_: acc + v_)


def train_centroids(df: DataFrame, k: int = 16, vec_col: str = "embedding",
                    max_iter: int = 20, seed: int = 42) -> list[list[float]]:
    """Train the IVF coarse quantizer with distributed k-means
    (``pyspark.ml.clustering.KMeans``): each Lloyd iteration is a
    map-side partial-sum aggregation — no vector data ever concentrates
    on one node, so training scales to the full corpus. The k centroids
    (a few KB) return to the driver and become the broadcast literals
    that ``ivf_index``/``ivf_topk`` fold into their plans.

    Seeding is ``initMode='random'``: a coarse quantizer only shapes
    candidate cells (the exact cosine re-check decides membership), so
    the extra k-means|| seeding passes buy nothing here — the FAISS
    coarse-quantizer practice; measured identical training cost on the
    fixture corpus at ~40% less wall time."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL / empty / dim-inconsistent vectors crash ml.KMeans.fit with
    # an opaque JVM error; a real corpus hits all three (failed encoder
    # runs, schema drift). Train on the rows matching the first valid
    # row's dimension — the same drop-don't-crash policy as the scoring
    # tiers' NULL cosine.
    vecs = (df.select(F.col(vec_col).cast("array<double>").alias("__v"))
            .filter(F.col("__v").isNotNull() & (F.size("__v") > 0)))
    head = vecs.first()
    if head is None:
        raise ValueError("train_centroids: no non-empty vectors to train on")
    vecs = vecs.filter(F.size("__v") == len(head["__v"]))
    feats = vecs.select(array_to_vector(F.col("__v")).alias("features"))
    # ml.KMeans crashes (ArrayIndexOutOfBounds) when the training set
    # holds fewer DISTINCT points than k, and rejects k < 2 outright —
    # both reachable with tiny or duplicate-heavy corpora. Clamp k to
    # the distinct-point count (one aggregation over the training set,
    # which is already the bounded sample at scale); a single distinct
    # point needs no clustering at all.
    n_distinct = vecs.distinct().count()
    k_eff = min(int(k), n_distinct)
    if k_eff < 2:
        return [[float(x) for x in head["__v"]]]
    model = KMeans(k=k_eff, maxIter=max_iter, seed=seed,
                   initMode="random").fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def sq_l2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² in double precision, sequential array order — the one
    squared-distance fold shared by PQ encode, ADC tables and the IVF-PQ
    refine pass (edit here, every consumer follows)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                                      * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, d_: acc + d_)


def _cell_scores(vec: Column, centroids: list[list[float]],
                 metric: str) -> tuple[Column, bool]:
    """Per-cell affinity array for ``vec`` against the centroid literal;
    returns (scores, higher_is_better). ``"fixed_cosine"`` is the
    oracle-checkable tier: per-dimension products quantized before the
    sum, so any SQL engine reproduces the exact doubles (and hence the
    exact argmax cell)."""
    if metric == "cosine":
        # every caller uses these scores ONLY for argmax / probe
        # ranking, and cos(v,c) = dot(v, c/|c|) / |v| — the 1/|v|
        # factor is common across cells, so ranking by dot against
        # DRIVER-normalized centroids is order-identical at a third of
        # the per-cell cost (one fold instead of dot+|v|²+|c|²). The
        # det tier below keeps the full fixed-point cosine: its SQL
        # oracle replays that exact expression.
        import math

        scaled = []
        for c in centroids:
            nrm = math.sqrt(sum(x * x for x in c))
            scaled.append([x / nrm for x in c] if nrm > 0 else list(c))
        return (F.transform(nested_double_lit(scaled),
                            lambda c: dot(vec, c)), True)
    cent = nested_double_lit(centroids)
    if metric == "l2":
        return F.transform(cent, lambda c: sq_l2(vec, c)), False
    if metric == "fixed_l2":
        # BIGINT quanta — the argmin (and any rank over it) replays in
        # SQL; array_min/array_position operate on longs directly
        return F.transform(cent, lambda c: fp_sq_l2_int(vec, c)), False
    if metric == "fixed_cosine":
        # Same three doubles (ab, aa, bb) through the same division tree
        # as ``fixed_point_cosine`` — but the row self-dot ``aa`` is
        # bound ONCE per row (single-element lambda binding: HOFs are
        # interpreted, so the naive per-cell form re-ran the 64-element
        # quantize-fold k times per row) and each centroid's self-dot
        # ``bb`` folds to a driver-computed literal
        # (:func:`_fp_self_dot_py`, the bit-exact Python twin — Catalyst
        # does not constant-fold lambda HOFs even over literal arrays).
        # Per-(row, cell) work drops from three folds to one; values,
        # argmax cells and the SQL oracle are unchanged (r13 opt,
        # guide §1.2 per-task work).
        bbs = nested_double_lit([_fp_self_dot_py(c) for c in centroids])
        pairs = F.zip_with(cent, bbs,
                           lambda c, bb: F.struct(c.alias("c"),
                                                  bb.alias("bb")))
        scores = F.element_at(
            F.transform(
                F.array(fixed_point_self_dot(vec)),
                lambda aa: F.transform(
                    pairs,
                    lambda p: safe_cos_div(fixed_point_dot(vec, p["c"]),
                                           F.sqrt(aa) * F.sqrt(p["bb"])))),
            1)
        return scores, True
    raise ValueError(f"unknown metric {metric!r}")


def _fp_self_dot_py(v: list[float], scale: float = 1e12) -> float:
    """Driver-side twin of ``fixed_point_self_dot`` on a literal vector,
    bit-identical by construction: the column tree runs, per element,
    ``y = (x*x) * scale`` (two IEEE multiplies), ANSI-truncates ``y`` to
    BIGINT, bumps by ``sign(y)`` iff ``|y - trunc(y)| >= 0.5`` (the
    ``half_up_long`` form — the subtraction is exact, see its
    docstring), integer-sums, casts the sum to double and divides by
    ``scale``. Python's float ops are the same IEEE-754 doubles,
    ``int()`` truncates toward zero, and Python ints are exact, so every
    intermediate matches the JVM bit for bit (pinned by
    test_fp_self_dot_py_matches_column). Lets ``_cell_scores`` fold the
    per-centroid self-dots at plan-build time instead of re-running a
    64-element fold per (row, cell)."""
    total = 0
    for x in v:
        fx = float(x)
        y = (fx * fx) * scale
        t = int(y)
        if abs(y - float(t)) >= 0.5:
            t += 1 if y > 0 else (-1 if y < 0 else 0)
        total += t
    return float(total) / scale


def fp_sq_l2_int(a: Column, b: Column, scale: float = 1e12) -> Column:
    """Σ (aᵢ−bᵢ)² as BIGINT quanta of 1/scale — each squared term
    quantizes before the integer sum, so the value (and any comparison
    or further integer summation built on it) is order-independent and
    bit-identical on any engine. The det-tier companion of ``sq_l2``
    (whose sequential double fold an unordered SQL SUM cannot replay)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: half_up_long(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")) * F.lit(scale))),
        F.lit(0).cast("long"), lambda acc, d_: acc + d_)


def _adc_table(vec: Column, codebooks: list[list[list[float]]],
               deterministic: bool = False) -> Column:
    """m×ksub table of squared distances from each of ``vec``'s
    subvectors to every codebook centroid — the per-query ADC lookup.
    Det tier: BIGINT quanta entries, so the final m-term ADC sum stays
    an integer sum (order-free, oracle-replayable)."""
    dsub = len(codebooks[0][0])
    books = nested_double_lit(codebooks)
    d_fn = fp_sq_l2_int if deterministic else sq_l2
    return F.transform(
        books,
        lambda book, s: F.transform(
            book, lambda c: d_fn(F.slice(vec, s * dsub + 1, dsub), c)))


def ivf_index(df: DataFrame, centroids: list[list[float]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              metric: str = "cosine") -> DataFrame:
    """Assign each vector to its nearest centroid cell (IVF coarse
    quantization). Centroids are driver-provided literals (train with
    ml.clustering.KMeans or any offline pass).

    Assignment is CPU-bound (k cosines × dim per row), so a caller with
    a narrow source spreads it first (``spread_narrow``, as
    :func:`ivf_topk` does); a streaming micro-batch is indexed in place.

    The argmax materializes all k cosines into ONE array column and takes
    ``array_position(sims, array_max(sims))`` — each cosine is evaluated
    exactly once. (A chained ``when(s > best, …)`` argmax duplicates the
    running-best expression at every step: the tree grows ~2^k copies of
    the 64-term cosine aggregate and codegen explodes — measured 30+ s on
    2k rows at k=8 before this shape.) First-max wins, so centroid-order
    ties break deterministically toward the lower cell index.

    The centroid matrix enters the plan as ONE nested-array literal and
    the k cosines run through a single ``transform`` loop instead of k
    unrolled 64-term expression trees: the generated code stays a few
    hundred bytes regardless of k, so analysis + Janino compilation stop
    growing with the cell count (measured 2.2 s → 0.7 s per run at k=8,
    d=64; at a production k of 4096 the unrolled form would not compile).

    ``metric`` picks the cell affinity: ``"cosine"`` for the cosine-world
    operators (ivf_topk, semantic_dedup), ``"l2"`` for IVF-PQ — the
    coarse quantizer must use the SAME metric the fine stage ranks by,
    or nearest neighbors land in unprobed cells.
    """
    scores, hib = _cell_scores(F.col(vec_col), centroids, metric)
    best = F.array_max(scores) if hib else F.array_min(scores)
    cell = (F.array_position(scores, best) - 1).cast("int")
    return df.select(F.col(id_col), F.col(vec_col), cell.alias("cell"))


def _two_level_split(centroids: list[list[float]], seed: int = 7,
                     metric: str = "cosine") -> tuple[list[list[float]],
                                                      list[list[int]]]:
    """Group the cell centroids under ~√cells super-centroids (driver-
    local Lloyd on the centroid matrix — cells×dim doubles, trivially
    small). Returns (super_centroids, children) where children[j] lists
    the ORIGINAL cell indices routed under super-cell j; empty supers
    are dropped.

    The grouping must agree with the ROUTING metric or a vector sitting
    on centroid i can route to a super-cell that doesn't contain i: for
    cosine, Lloyd runs on L2-normalized centroids with re-normalized
    means (spherical k-means — argmin L2 ≡ argmax cosine on the unit
    sphere), and the membership lists come from a FINAL re-assignment
    against the finished super-centroids (the in-loop assignment lags
    one mean update)."""
    import math

    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(c, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        c = c / norms
    n = len(c)
    ksup = max(2, math.isqrt(n))
    rng = np.random.default_rng(seed)
    sup = c[rng.choice(n, size=ksup, replace=False)].copy()

    def reassign():
        d2 = ((c[:, None, :] - sup[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1)

    for _ in range(10):
        assign = reassign()
        for j in range(ksup):
            mask = assign == j
            if mask.any():
                m = c[mask].mean(axis=0)
                if metric == "cosine":
                    nm = np.linalg.norm(m)
                    m = m / nm if nm > 0 else m
                sup[j] = m
    assign = reassign()
    children = [[i for i in range(n) if assign[i] == j]
                for j in range(ksup)]
    keep = [j for j in range(ksup) if children[j]]
    return ([[float(x) for x in sup[j]] for j in keep],
            [children[j] for j in keep])


def ivf_index_two_level(df: DataFrame, centroids: list[list[float]],
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        metric: str = "cosine",
                        seed: int = 7) -> DataFrame:
    """Hierarchical (two-level) IVF assignment — the O(√cells)-per-row
    scale path the flat scan degrades from: route each vector to its
    nearest of ~√cells SUPER-centroids, then scan only that super-cell's
    child centroids. Per-row cost drops from ``cells`` distance folds to
    ``√cells + |children|`` (≈2√cells balanced), which is what keeps
    total assignment near-linear when the cell grid itself scales with
    the corpus (semantic_dedup auto-scales cells = n/256, so a flat scan
    would reintroduce an O(n²/256) term — the FAISS IMI/two-level
    rationale). Assignment is approximate at super-cell boundaries; the
    consumers re-check candidates with exact distances, so only recall
    margins move. Same output schema and input contract as
    ``ivf_index``: (id, vec, cell) with cell indices into the ORIGINAL
    centroid list."""
    sup, children = _two_level_split(centroids, seed=seed, metric=metric)
    vec = F.col(vec_col)
    sup_scores, hib = _cell_scores(vec, sup, metric)
    sup_best = (F.array_max(sup_scores) if hib
                else F.array_min(sup_scores))
    sup_idx = F.array_position(sup_scores, sup_best)  # 1-based
    if metric == "cosine":
        # rank-only scores — normalized children + dot, same
        # order-equivalence argument as _cell_scores' cosine branch
        import math

        def _unit(c):
            nrm = math.sqrt(sum(x * x for x in c))
            return [x / nrm for x in c] if nrm > 0 else list(c)

        child_mat = [[_unit(centroids[i]) for i in ch] for ch in children]
    else:
        child_mat = [[centroids[i] for i in ch] for ch in children]
    child_cents = nested_double_lit(child_mat)
    child_ids = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(str(int(i)) for i in ch) + ")"
            for ch in children) + ")")
    mine = F.element_at(child_cents, sup_idx.cast("int"))
    if metric == "l2":
        local = F.transform(mine, lambda c: sq_l2(vec, c))
        local_best = F.array_min(local)
    elif metric == "cosine":
        local = F.transform(mine, lambda c: dot(vec, c))
        local_best = F.array_max(local)
    else:
        raise ValueError(
            f"two-level assignment supports cosine/l2, not {metric!r} "
            "(the deterministic tier must replay flat in SQL)")
    pos = F.array_position(local, local_best)
    cell = F.element_at(F.element_at(child_ids, sup_idx.cast("int")),
                        pos.cast("int")).cast("int")
    return df.select(F.col(id_col), F.col(vec_col), cell.alias("cell"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: list[list[float]],
             k: int = 5, nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             deterministic: bool = False) -> DataFrame:
    """IVF search: score queries only against vectors in their ``nprobe``
    nearest cells — the candidate set shrinks by ~n_cells/nprobe versus
    brute force; same exact re-scoring and deterministic tie-break.

    ``deterministic=True`` runs assignment, probe AND scoring with the
    fixed-point cosine so the whole search — including which cell each
    vector lands in — is bit-reproducible in plain SQL (oracle tier;
    given fixed centroid literals the result value-hashes cross-engine).
    """
    metric = "fixed_cosine" if deterministic else "cosine"
    # per-side self-dots hoist out of the probe loop (same rationale and
    # same bit-identity argument as brute_force_topk)
    self_dot = fixed_point_self_dot if deterministic else \
        (lambda v: dot(v, v))
    indexed = (ivf_index(spread_narrow(corpus), centroids, id_col, vec_col,
                         metric=metric)
               .withColumn("__cc", self_dot(F.col(vec_col))))
    return ivf_topk_indexed(indexed, queries, centroids, k=k,
                            nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                            query_id_col=query_id_col,
                            deterministic=deterministic)


def ivf_topk_indexed(indexed: DataFrame, queries: DataFrame,
                     centroids: list[list[float]], k: int = 5,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     deterministic: bool = False) -> DataFrame:
    """The probe half of :func:`ivf_topk`, taking a PRE-BUILT indexed
    relation ``(id, vec, cell, __cc self-dot)`` instead of assigning
    cells inline — the search path over a PERSISTED index (the
    streaming ``vector_index_sink`` store, or any saved ``ivf_index``
    output enriched with self-dots).  The relation must have been
    assigned with the SAME centroids and metric this probe uses, or
    neighbors hide in unprobed cells; ``ivf_topk`` itself is exactly
    ``ivf_topk_indexed(ivf_index(...) + self-dot, ...)``."""
    metric = "fixed_cosine" if deterministic else "cosine"
    self_dot = fixed_point_self_dot if deterministic else \
        (lambda v: dot(v, v))
    pair_dot = fixed_point_dot if deterministic else dot
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"),
                       self_dot(F.col(vec_col)).alias("__qq"))
    # same single-literal + transform shape as ivf_index (codegen bounded
    # in k); posexplode position IS the cell index
    sims, _ = _cell_scores(F.col("__qvec"), centroids, metric)
    q_cells = (q.select(query_id_col, "__qvec", "__qq",
                        F.posexplode(sims).alias("cell", "sim"))
               .withColumn("__rk", F.row_number().over(
                   Window.partitionBy(query_id_col).orderBy(F.desc("sim"),
                                                            F.asc("cell"))))
               .filter(F.col("__rk") <= nprobe)
               .select(query_id_col, "__qvec", "__qq", "cell"))
    scored = (indexed.join(F.broadcast(q_cells), "cell")
              .withColumn("cosine_sim",
                          safe_cos_div(
                              pair_dot(F.col("__qvec"), F.col(vec_col)),
                              F.sqrt("__qq") * F.sqrt("__cc"))))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cosine_sim", "rank"))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8,
                   threshold: float = 0.95, seed: int = 42,
                   centroids: list[list[float]] | None = None,
                   deterministic: bool = False,
                   target_cell_size: int = 256,
                   train_sample: int = 100_000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the IVF coarse quantizer,
    compare pairs ONLY within a cluster, and greedily drop every vector
    that has a ≥``threshold``-cosine neighbor with a smaller id.

    Returns one row per input vector: ``(id, cell, keep)``.

    Scale shape: clustering reduces the pair candidate space from n² to
    Σ|cell|² ≈ n²/cells.  When the quantizer is trained here (no
    explicit ``centroids``), the cell count AUTO-SCALES with the corpus:
    cells = max(k, ⌈n/target_cell_size⌉), keeping expected cell
    occupancy — and therefore per-cell pair work — CONSTANT as the
    corpus grows, so total pair cost stays O(n·target_cell_size) instead
    of the quadratic n²/k a fixed k degrades to (the r5 sf1 spot-check
    measured exactly that cliff: 13.9× at 10× data with k=8; linear
    after this change).  Quantizer training stays bounded too: above
    ``train_sample`` vectors, k-means fits on a deterministic
    partition-invariant hash sample (FAISS coarse-quantizer practice —
    cell placement only shapes candidates; the exact cosine re-check
    decides membership).  The within-cell join shuffles on the cell key
    only.  Greedy lowest-id-wins needs no iteration, unlike
    connected-components canonicalization, and is the policy used by the
    reference pipelines this mirrors. Deterministic end to end: seeded
    k-means centroids fold into the plan as literals and the tie-break is
    the total order on ids.

    ``deterministic=True`` (requires explicit ``centroids``) runs
    assignment AND the pair predicate with the fixed-point cosine so the
    whole keep/drop decision replays in plain SQL — the oracle tier; the
    trained-quantizer default stays rows-only.
    """
    if deterministic and centroids is None:
        raise ValueError("deterministic tier needs explicit centroid "
                         "literals (a trained quantizer is engine-specific)")
    if centroids is None:
        n = df.count()
        if n < 2:
            # no pairs possible — every vector keeps itself (KMeans also
            # requires k >= 2, so training is meaningless here)
            return df.select(F.col(id_col), F.lit(0).alias("cell"),
                             F.lit(True).alias("keep"))
        # KMeans requires k >= 2; a 2-cell grid on a tiny corpus is
        # harmless (the exact cosine re-check decides membership)
        cells = max(2, int(k), -(-n // max(1, int(target_cell_size))))
        # the training sample must grow with the cell count: a fixed
        # 100k-vector cap meets cells = n/256 at n ≈ 25.6M, where k-means
        # k would exceed its training points and the quantizer
        # degenerates at exactly the scale the auto-scaling exists for.
        # ≥4 training vectors per cell keeps Lloyd well-posed while the
        # sample stays ≤ n/64 of the corpus — still a bounded pass.
        eff_train = max(int(train_sample), 4 * cells)
        train_df = df
        if n > eff_train:
            ppm = int(1_000_000 * eff_train / n)
            train_df = df.filter(
                F.pmod(F.xxhash64(F.col(id_col), F.lit(17)),
                       F.lit(1_000_000)) < ppm)
        # a coarse quantizer doesn't need convergence — 5 Lloyd rounds
        # place cells well enough for near-dup candidate generation (the
        # exact cosine re-check decides membership, so cell quality only
        # affects recall at the margins, and FAISS-style practice trains
        # the quantizer on few iterations / a sample for the same reason)
        centroids = train_centroids(train_df, k=cells, vec_col=vec_col,
                                    seed=seed, max_iter=5)
    # both sides of the within-cell self-join consume the assignment —
    # persist so the k-cosine argmax isn't evaluated twice (the same
    # pattern as the LSH banding persist); per-vector norms are computed
    # ONCE here so the pair predicate is a single dot product instead of
    # three 64-term aggregates
    metric = "fixed_cosine" if deterministic else "cosine"
    # per-vector norm (fast tier: plain; det tier: fixed-point self-dot)
    # computed ONCE here so the pair predicate needs a single dot product
    # — not three 64-term folds per candidate pair
    norm_expr = (fixed_point_self_dot(F.col(vec_col)) if deterministic
                 else norm(F.col(vec_col)))
    # past ~64 cells the flat centroid scan dominates (O(n·cells) =
    # O(n²/target_cell_size) with the auto-scaled grid); the two-level
    # router keeps assignment O(n·√cells). The det tier stays flat —
    # its oracle replays the flat argmax.
    index_fn = (ivf_index_two_level
                if (not deterministic and len(centroids) >= 64)
                else ivf_index)
    indexed = cache_pinned(
        index_fn(spread_narrow(df), centroids, id_col, vec_col, metric=metric)
        .withColumn("__norm", norm_expr))
    a = indexed.select("cell", F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("__va"), F.col("__norm").alias("__na"))
    b = indexed.select("cell", F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("__vb"), F.col("__norm").alias("__nb"))
    if deterministic:
        # same zero-norm guard as the fast tier (a zero vector's cosine
        # is NaN, and NaN >= t is TRUE under Spark ordering — without
        # the guard one degenerate vector would drop its whole cell);
        # __na here is the fixed-point self-dot, matching the oracle
        near = ((F.col("__na") > 0) & (F.col("__nb") > 0)
                & (safe_cos_div(fixed_point_dot(F.col("__va"),
                                                F.col("__vb")),
                                F.sqrt("__na") * F.sqrt("__nb"))
                   >= F.lit(float(threshold))))
    else:
        near = ((F.col("__na") > 0) & (F.col("__nb") > 0)
                & (dot(F.col("__va"), F.col("__vb"))
                   >= F.lit(float(threshold)) * F.col("__na") * F.col("__nb")))
    dropped = (a.join(b, "cell")
               .filter(F.col("id_a") < F.col("id_b"))
               .filter(near)
               .select(F.col("id_b").alias(id_col))
               .distinct())
    return (indexed
            .join(dropped.withColumn("__dropped", F.lit(True)), id_col, "left")
            .select(F.col(id_col), F.col("cell"),
                    F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep")))


# ---------------- product quantization (IVF-PQ scale tier) ----------------


def train_pq_codebooks(df: DataFrame, m: int = 8, ksub: int = 16,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       seed: int = 42, sample: int = 4096,
                       max_iter: int = 10) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m`` contiguous subvectors and learn ``ksub`` centroids per subspace
    with Lloyd's k-means.

    Training runs DRIVER-LOCAL on a deterministic bounded sample — the
    FAISS practice (quantizer quality saturates at a few hundred points
    per centroid, so the sample bound, not the corpus, sizes this): rows
    are ranked by ``md5(id)`` (engine/partitioning-independent) and the
    first ``sample`` collected, ≤ sample·dim doubles on the driver
    regardless of corpus size. Seeded numpy init + fixed iteration count
    make the codebooks a pure function of the data, so they fold into
    downstream plans as literals exactly like the IVF centroids.
    Returns ``m × ksub × (dim/m)`` nested lists.
    """
    import numpy as np

    # same drop-don't-crash policy as train_centroids: NULL/empty
    # vectors are skipped, the first valid row fixes the dimension.
    valid = (df.select(F.col(id_col), F.col(vec_col))
             .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)))
    head = valid.first()
    if head is None:
        raise ValueError(
            "train_pq_codebooks: no non-empty vectors to train on")
    rows = (valid.filter(F.size(vec_col) == len(head[1]))
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(int(sample)).collect())
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * dsub:(s + 1) * dsub]
        k = min(ksub, len(xs))
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(max_iter):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cents[j] = xs[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _subvectors(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Slice ``vec`` into the m PQ subvectors ONCE per row. Higher-order
    array functions are INTERPRETED (no whole-stage codegen), so the
    lambda nest is the cost model: the naive form sliced inside the
    per-centroid lambda — m·ksub slices/row, measured 3.4× slower."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)),
                       lambda s: F.slice(vec, s * dsub + 1, dsub))


def _codes_from_subs(subs: Column, codebooks: list[list[list[float]]],
                     deterministic: bool = False) -> Column:
    """Per-subspace argmin code from pre-sliced subvectors. First-min
    wins in array_position → deterministic code on centroid ties. Det
    tier: argmin over the fixed-point integer distances, so the CODE
    each vector gets replays in SQL."""
    books = nested_double_lit(codebooks)
    d_fn = fp_sq_l2_int if deterministic else sq_l2
    return F.transform(
        F.zip_with(books, subs,
                   lambda book, sub: F.transform(book, lambda c: d_fn(sub, c))),
        lambda d2s: (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int"))


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              deterministic: bool = False) -> DataFrame:
    """Encode every vector as ``m`` small codes: per subspace, the index
    of the nearest codebook centroid (squared L2). One nested-array
    literal per level — generated code constant in m·ksub (same idiom as
    ``ivf_index``). Returns (id, codes array<int>); at 100 TB the code
    table is m bytes/vector instead of 4·dim — the memory shape that
    makes billion-scale ANN fit."""
    return (spread_narrow(df)
            .select(F.col(id_col),
                    _subvectors(F.col(vec_col), codebooks).alias("__subs"))
            .select(F.col(id_col),
                    _codes_from_subs(F.col("__subs"), codebooks,
                                     deterministic).alias("codes")))


def pq_topk(corpus: DataFrame, queries: DataFrame,
            codebooks: list[list[list[float]]], k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id",
            deterministic: bool = False) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query builds its m×ksub
    distance table once (a transform over the codebook literal), then
    every corpus vector is scored from its codes alone —
    ``Σ_s table[s][code_s]`` — without touching the original floats.

    Scale shape: the corpus side carries only (id, codes); queries (with
    their small distance tables) broadcast; scoring is an m-term array
    lookup per (query, vector). Approximate by construction (quantized
    corpus side); re-rank the top candidates with exact distances when
    recall matters more than the 4·dim/m compression.
    """
    codes_df = pq_encode(corpus, codebooks, id_col, vec_col, deterministic)
    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
         .withColumn("__dtab", _adc_table(F.col("__qvec"), codebooks,
                                          deterministic))
         .drop("__qvec"))
    if deterministic:
        # integer table entries sum as integers (order-free) and exit
        # through ONE division — the value any SQL engine reproduces
        adc = (F.aggregate(
            F.zip_with(F.col("__dtab"), F.col("codes"),
                       lambda tab, code: F.element_at(tab, code + 1)),
            F.lit(0).cast("long"), lambda acc, d_: acc + d_)
            .cast("double") / F.lit(1e12))
    else:
        adc = F.aggregate(
            F.zip_with(F.col("__dtab"), F.col("codes"),
                       lambda tab, code: F.element_at(tab, code + 1)),
            F.lit(0.0), lambda acc, d_: acc + d_)
    scored = (codes_df.crossJoin(F.broadcast(q))
              .withColumn("adc_dist", adc))
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "adc_dist", "rank"))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame,
               centroids: list[list[float]],
               codebooks: list[list[list[float]]], k: int = 5,
               nprobe: int = 2, refine: int | None = None,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id",
               deterministic: bool = False) -> DataFrame:
    """IVF-PQ search (the full Jégou et al. 2011 composition, FAISS's
    billion-scale default): coarse cells bound WHICH vectors are scored
    (only the query's ``nprobe`` nearest cells), PQ codes bound WHAT is
    read per vector (m bytes instead of 4·dim floats), and an optional
    exact re-rank pass restores precision on the short list.

    ``refine=None`` returns ADC order directly. ``refine=r`` keeps the
    top ``k·r`` by ADC per query, joins ONLY those ids back to the
    original vectors (a k·r·|queries|-row semi-probe — the single place
    full vectors are touched after indexing), re-scores exactly, and
    returns the exact-distance top k. Deterministic end to end: every
    rank order ties-breaks on the id.

    Scale shape: index side carries (cell, id, codes); the scored
    candidate set shrinks by ~n_cells/nprobe before any distance math;
    queries + their m×ksub tables broadcast; the refine join's probe
    side is bounded by k·r·|queries| rows.
    """
    # cell assignment and PQ codes are both per-row projections of the
    # same scan — computed in ONE staged select (no corpus self-join, no
    # id shuffle; the corpus is read once). The coarse quantizer uses L2
    # on BOTH sides: the fine stage ranks by (squared-L2) ADC, and a
    # mixed-metric quantizer sends true neighbors to unprobed cells.
    metric = "fixed_l2" if deterministic else "l2"
    cell_scores, _ = _cell_scores(F.col(vec_col), centroids, metric)
    staged = (spread_narrow(corpus)
              .select(F.col(id_col),
                      cell_scores.alias("__cs"),
                      _subvectors(F.col(vec_col), codebooks).alias("__subs")))
    side = staged.select(
        F.col(id_col),
        (F.array_position(F.col("__cs"), F.array_min("__cs")) - 1)
        .cast("int").alias("cell"),
        _codes_from_subs(F.col("__subs"), codebooks,
                         deterministic).alias("codes"))

    q_scores, _ = _cell_scores(F.col("__qvec"), centroids, metric)
    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
         .withColumn("__dtab", _adc_table(F.col("__qvec"), codebooks,
                                          deterministic))
         .select(query_id_col, "__qvec", "__dtab",
                 F.posexplode(q_scores).alias("cell", "__cd2"))
         .withColumn("__rk", F.row_number().over(
             Window.partitionBy(query_id_col).orderBy(F.asc("__cd2"),
                                                      F.asc("cell"))))
         .filter(F.col("__rk") <= nprobe)
         .select(query_id_col, "__qvec", "__dtab", "cell"))

    if deterministic:
        adc = (F.aggregate(
            F.zip_with(F.col("__dtab"), F.col("codes"),
                       lambda tab, code: F.element_at(tab, code + 1)),
            F.lit(0).cast("long"), lambda acc, d_: acc + d_)
            .cast("double") / F.lit(1e12))
    else:
        adc = F.aggregate(
            F.zip_with(F.col("__dtab"), F.col("codes"),
                       lambda tab, code: F.element_at(tab, code + 1)),
            F.lit(0.0), lambda acc, d_: acc + d_)
    scored = side.join(F.broadcast(q), "cell").withColumn("adc_dist", adc)
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    shortlist_k = k * refine if refine else k
    short = (scored.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= shortlist_k))
    if not refine:
        return short.select(query_id_col, F.col(id_col).alias("neighbor_id"),
                            "adc_dist", "rank")
    vecs = corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec"))
    refine_d = ((lambda a, b: fp_sq_l2_int(a, b).cast("double")
                 / F.lit(1e12)) if deterministic else sq_l2)
    refined = (short.select(query_id_col, id_col, "__qvec")
               .join(vecs, id_col)
               .withColumn("l2_dist",
                           refine_d(F.col("__cvec"), F.col("__qvec"))))
    w2 = Window.partitionBy(query_id_col).orderBy(F.asc("l2_dist"), F.asc(id_col))
    return (refined.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "l2_dist", "rank"))


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, id_col: str,
             rank_col: str = "rank", k_const: int = 60,
             k: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists (Cormack,
    Clarke & Büttcher, SIGIR 2009): ``rrf(d) = Σ_arms 1/(k_const +
    rank_arm(d))`` over the UNION of candidates, a missing arm
    contributing 0 — the standard hybrid-retrieval combiner for a
    lexical (BM25) and a semantic (ANN) arm, needing no score
    calibration between arms.

    Both inputs are top-N lists (bounded), so the full-outer join is a
    broadcast-sized fuse regardless of corpus size; every arithmetic
    term is one correctly-rounded IEEE op on exact integers, making the
    fused score bit-identical on any engine. Ties order by id. Returns
    (id, rank_a, rank_b, rrf_score), top ``k`` if given.
    """
    a = ranked_a.select(F.col(id_col),
                        F.col(rank_col).cast("long").alias("rank_a"))
    b = ranked_b.select(F.col(id_col),
                        F.col(rank_col).cast("long").alias("rank_b"))
    term = lambda c: F.coalesce(
        F.lit(1.0) / (F.lit(k_const) + F.col(c)), F.lit(0.0))
    fused = (a.join(b, id_col, "full_outer")
             .withColumn("rrf_score", term("rank_a") + term("rank_b")))
    out = fused.select(id_col, "rank_a", "rank_b", "rrf_score")
    if k is not None:
        out = out.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(int(k))
    return out


def sq8_bounds(df: DataFrame, vec_col: str = "embedding",
               dim: int = 64) -> DataFrame:
    """Scalar-quantizer training: per-dimension min/max over the corpus,
    as ONE aggregation pass (``dim`` min + ``dim`` max expressions, all
    JVM-side with map-side combine — no explode of the fact table).
    Returns a 1-row DataFrame (mins: array<double>, maxs: array<double>)
    that downstream stages keep in-plan via broadcast."""
    v = lambda i: F.col(vec_col).getItem(i).cast("double")
    return df.agg(
        F.array(*[F.min(v(i)) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(v(i)) for i in range(dim)]).alias("maxs"))


def _sq8_code(vec: Column) -> Column:
    """uint8 code per dimension against in-scope mins/maxs columns:
    ``clamp(round((x−min)·255/(max−min)), 0, 255)``; degenerate
    dimensions (max=min) code to 0. Exact IEEE arithmetic — replayable
    verbatim in any engine."""
    xs = F.transform(vec, lambda x: x.cast("double"))
    shifted = F.zip_with(xs, F.col("mins"), lambda x, m: x - m)
    scales = F.zip_with(F.col("maxs"), F.col("mins"), lambda M, m: M - m)
    return F.zip_with(
        shifted, scales,
        lambda d, s: F.when(s == F.lit(0.0), F.lit(0)).otherwise(
            F.greatest(F.lit(0.0),
                       F.least(F.lit(255.0),
                               half_up_long(d * F.lit(255.0) / s)
                               .cast("double")))
            .cast("int")))


def sq8_encode(df: DataFrame, bounds: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Encode every vector to a 1-byte-per-dimension code (int8 scalar
    quantization — the 4× compression tier below PQ's 16×): the trained
    bounds ride as a broadcast 1-row relation, codes compute element-wise
    in whole-stage codegen. Returns (id, code: array<int>)."""
    return (df.crossJoin(F.broadcast(bounds))
            .select(F.col(id_col), _sq8_code(F.col(vec_col)).alias("code")))


def sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", dim: int = 64) -> DataFrame:
    """Asymmetric top-k over scalar-quantized codes: the query stays
    full-precision, corpus vectors are decoded from their uint8 codes
    (``min + code·(max−min)/255``), distance is the fixed-point squared
    L2 — bit-identical on any engine. Corpus side carries 1 byte/dim
    instead of 4 (the memory lever that lets a 100 TB embedding corpus
    fit its ANN working set); queries and bounds broadcast; ranking is
    the per-query window top-k."""
    # encode/decode/ADC are CPU-bound HOF pipelines; a single-file
    # corpus scan otherwise pins the whole pass to one core (r13 opt:
    # measured 7 tasks / 1.8 s exec at sf0.1 before the spread)
    corpus = spread_narrow(corpus)
    bounds = sq8_bounds(corpus, vec_col=vec_col, dim=dim)
    # one crossJoin carries the codes AND the bounds forward so the
    # 1-row training aggregate is referenced once (not re-evaluated by
    # a second broadcast of the same subtree)
    codes = (corpus.crossJoin(F.broadcast(bounds))
             .select(F.col(id_col), _sq8_code(F.col(vec_col)).alias("code"),
                     "mins", "maxs"))
    # decode depends only on the corpus row — materialize it ONCE per
    # row (a named column behind a projection boundary) instead of once
    # per (row, query) pair after the crossJoin
    scales = F.zip_with(F.col("maxs"), F.col("mins"), lambda M, m: M - m)
    dec = F.zip_with(
        F.zip_with(F.col("code"), scales,
                   lambda c, s: c.cast("double") * s / F.lit(255.0)),
        F.col("mins"), lambda t, m: t + m)
    decoded = codes.select(F.col(id_col), dec.alias("__dec"))
    q = queries.select(F.col(query_id_col),
                       F.transform(F.col(vec_col),
                                   lambda x: x.cast("double")).alias("__qv"))
    scored = decoded.crossJoin(F.broadcast(q))
    diff2 = F.zip_with(F.col("__qv"), F.col("__dec"),
                       lambda a, b: (a - b) * (a - b))
    scored = scored.withColumn("adc_l2", fp_sum(diff2, 1e12))
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_l2"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                    "adc_l2", "rank"))


def label_cohesion(df: DataFrame, label_col: str = "label",
                   vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-label centroid cohesion over an embedding column — the
    cluster-quality report for labeled/clustered corpora (are my class
    embeddings tight?): for each label, its member count, centroid
    L2 norm, and the mean cosine of members to their own centroid.

    Two passes, both label-keyed: (1) centroids from per-dimension
    fixed-point integer sums (one aggregation, ``dim`` expressions —
    no explode), divided by the member count; (2) members re-join
    their (broadcast, dimension-sized) centroid and the mean cosine
    accumulates fixed-point. Every division and the cosine evaluate
    through fixed IEEE trees, so the report is bit-identical to a
    single-node SQL replay at any partitioning.
    """
    # the 64-expression fixed-point sums and the per-member cosine are
    # CPU-bound; spread a narrow single-file scan so both label-keyed
    # passes parallelize (values are fixed-point — partitioning-invariant)
    df = spread_narrow(df)
    # per-dimension sums and the centroid array parse as SQL strings —
    # the F.round/F.col form crossed py4j ~7× per dimension (~1.9 s of
    # plan-build per bench run at dim=64; r13 opt round). 1.0E6 parses
    # as DOUBLE (exponent literals never hit the DECIMAL default).
    sums = df.groupBy(F.col(label_col).alias("__lbl")).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum(cast(round(cast(`{vec_col}`[{i}] as double)"
                 f" * 1.0E6, 0) as bigint))").alias(f"__s{i}")
          for i in range(dim)])
    centroid = F.expr("array(" + ",".join(
        f"(cast(__s{i} as double) / 1.0E6) / cast(n as double)"
        for i in range(dim)) + ")")
    cents = sums.select("__lbl", "n", centroid.alias("__cent"))
    scored = (df.join(F.broadcast(cents),
                      F.col(label_col) == F.col("__lbl"))
              .withColumn("__cos",
                          fixed_point_cosine(
                              F.transform(F.col(vec_col),
                                          lambda x: x.cast("double")),
                              F.col("__cent"))))
    return (scored.groupBy(F.col("__lbl").alias(label_col))
            .agg(F.first("n").cast("long").alias("n"),
                 F.sqrt(fixed_point_self_dot(F.first("__cent")))
                 .alias("centroid_norm"),
                 (F.sum(half_up_long(F.col("__cos") * F.lit(1e9)))
                  .cast("double") / F.lit(1e9)
                  / F.first("n").cast("double")).alias("mean_cosine")))


def ann_recall(exact: DataFrame, arms: dict[str, DataFrame] | DataFrame,
               k: int) -> DataFrame:
    """Recall@k report for approximate-nearest-neighbor tiers, computed
    in-engine: each arm's (query_id, neighbor_id) result set scores
    against the exact brute-force top-k and the report emits one row per
    (arm, query) — the acceptance gate a production ANN deployment keeps
    beside its index build (is the IVF/SQ8 tier still finding what the
    exact tier would?).

    The exact result is query-set-sized (|queries|·k rows), so it rides
    every arm's plan as a broadcast build side — the arms themselves
    stay whatever scale their own plans are; no extra shuffle beyond
    each arm's own. ``n_hits`` is an exact integer count and
    ``recall_at_k`` an integer-derived division, so the report
    value-hashes cross-engine.

    The denominator is ``min(k, per-query exact-result count)``: when
    the corpus holds fewer than ``k`` vectors the exact tier returns
    fewer than ``k`` neighbors, and a fixed-``k`` denominator would cap
    a PERFECT arm below 1.0 — exactly the regime (tiny eval slices,
    filtered corpora) where a recall gate matters most.

    ``arms`` is either a ``{name: (query_id, neighbor_id) frame}`` dict
    or ONE pre-stacked frame with columns ``(arm, query_id,
    neighbor_id)`` — one row per (arm, query, returned neighbor), for
    callers that compute every arm in one plan.  No arms (an empty
    dict or an empty stacked frame) yields an empty report.

    Returns (arm, query_id, n_returned, n_hits, recall_at_k).
    """
    # |queries|·k rows, consumed by the hit join AND the per-query
    # count — without a pin the exact brute-force scan upstream runs
    # once per consumer (r13 opt, guide §2 "do the work once");
    # registry-released
    ex = cache_pinned(exact.select("query_id", "neighbor_id")
                      .withColumn("__hit", F.lit(1)))
    # per-query exact count — query-set-sized, rides the same broadcast
    ex_n = (ex.groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("__n_exact")))
    if isinstance(arms, DataFrame):
        # pre-stacked arm frame (arm, query_id, neighbor_id) — callers
        # that compute every arm in ONE plan (centroid_drift_report's
        # stacked probe, r14) skip the per-arm union
        tagged = arms.select("arm", "query_id", "neighbor_id")
    elif not arms:
        # the empty stacked frame, typed like the exact tier's ids
        tagged = exact.select(F.lit(None).cast("string").alias("arm"),
                              "query_id", "neighbor_id").where(F.lit(False))
    else:
        tagged = None
        for name in sorted(arms):
            t = (arms[name].select("query_id", "neighbor_id")
                 .withColumn("arm", F.lit(name)))
            tagged = t if tagged is None else tagged.unionByName(t)
    per = (tagged.join(F.broadcast(ex), ["query_id", "neighbor_id"],
                       "left")
           .groupBy("arm", "query_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_returned"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long").alias("n_hits")))
    # LEFT join: a query where an arm returned neighbors but the exact
    # tier returned ZERO rows must still be scored, not silently
    # dropped from the report. With no exact rows there are no possible
    # hits, so the denominator falls back to k (recall = 0/k = 0.0).
    return (per.join(F.broadcast(ex_n), "query_id", "left")
            .select(
                "arm", "query_id", "n_returned", "n_hits",
                (F.col("n_hits").cast("double")
                 / F.least(F.lit(int(k)),
                           F.coalesce(F.col("__n_exact"),
                                      F.lit(int(k)).cast("long")))
                 .cast("double"))
                .alias("recall_at_k")))


def dim_truncation_sweep(corpus: DataFrame, queries: DataFrame,
                         dims=(8, 16, 32, 64), k: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         query_id_col: str = "query_id") -> DataFrame:
    """Embedding-DIMENSION planning report (the Matryoshka/MRL
    practice: serve ANN on a prefix of the embedding, keep the full
    vector only for re-ranking): per candidate prefix length, the
    micro-averaged recall@k of exact cosine search over the TRUNCATED
    vectors against exact search over the full vectors — the dimension
    knob beside the dedup family's threshold (:func:`~.dedup.
    dedup_impact_sweep`) and banding (:func:`~.dedup.lsh_config_sweep`)
    knobs.  A deployment reads the knee of this table to pick how many
    leading dimensions its ANN tier needs before paying for the index
    build; storage/compute at the chosen prefix scales linearly with it.

    One exact top-k per dim plus one for the full vectors — each is the
    :func:`brute_force_topk` shape (corpus-sided scan, queries
    broadcast, per-query window top-k), so the sweep's cost is
    |dims|+1 corpus scans and nothing shuffles but (query, neighbor)
    rows.  Recall is micro-averaged from EXACT integers (total hits /
    total per-query denominators, the :func:`ann_recall` denominator
    rule), so the report value-hashes cross-engine; the full-dim row
    doubles as a self-check (recall exactly 1.0).

    ``dims`` are validated against the corpus's MINIMUM non-null
    vector length (one small aggregation): ``F.slice`` CLAMPS, so an
    oversized dim would silently produce a mislabeled duplicate of the
    full-dim row at recall 1.0 (r11 advisory) — raise instead.  An
    unordered ``limit(1)`` probe is not enough (r12 advisory): a NULL
    embedding in the probed row makes ``F.size`` return −1 and raises
    spuriously, while a ragged corpus whose probed row happens to be
    long still clamps silently on the shorter rows.  The ``dimNNN``
    arm label is 3 digits wide, so dims are also capped at 999."""
    ds = sorted({int(d) for d in dims})
    if not ds or ds[0] < 1 or ds[-1] > 999:
        raise ValueError(f"dims must be within [1, 999], got {ds}")
    probe = (corpus.where(F.col(vec_col).isNotNull())
             .agg(F.min(F.size(vec_col)).alias("n"),
                  F.max(F.size(vec_col)).alias("x")).first())
    if probe is not None and probe["n"] is not None and ds[-1] > probe["n"]:
        raise ValueError(
            f"dim {ds[-1]} exceeds the corpus minimum vector length "
            f"{probe['n']} — F.slice would clamp and the arm would "
            f"silently duplicate or mislabel rows")
    # Fused single-scan tier (r13 opt, guide §2 "do the work once"):
    # when corpus AND query vectors are all exactly ds[-1] wide (the
    # fixed-width embedding-table case), every arm's fixed-point dot is
    # a PREFIX SUM of the same per-element quantized products —
    # fixed_point_dot(slice(a,1,d), slice(b,1,d)) quantizes the
    # identical per-element terms, so summing the first d elements of
    # ONE quantized-product array is bit-identical (and the full-width
    # cut IS the exact tier).  One corpus×queries pair pass replaces
    # |dims|+1 brute-force scans; per-pair quantize work drops from
    # Σd + d_max to d_max elements.  Sims, tie-breaks and top-k sets
    # are unchanged doubles, so the report value-hashes identically;
    # ragged/oversized corpora fall back to the per-arm path below.
    qprobe = (queries.where(F.col(vec_col).isNotNull())
              .agg(F.min(F.size(vec_col)).alias("n"),
                   F.max(F.size(vec_col)).alias("x")).first())
    uniform = (probe is not None and qprobe is not None
               and probe["n"] == probe["x"] == ds[-1]
               and qprobe["n"] == qprobe["x"] == ds[-1])
    if uniform:
        return _dim_sweep_fused(corpus, queries, ds, k, id_col, vec_col,
                                query_id_col)
    # |queries|·k rows consumed by ann_recall AND the denominator
    # count — pin so the full-width brute-force scan runs once
    exact = cache_pinned(
        brute_force_topk(corpus, queries, k=k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col,
                         deterministic=True))
    arms = {}
    for d in ds:
        tc = corpus.select(F.col(id_col),
                           F.slice(vec_col, 1, d).alias(vec_col))
        tq = queries.select(F.col(query_id_col),
                            F.slice(vec_col, 1, d).alias(vec_col))
        arms[f"dim{d:03d}"] = brute_force_topk(
            tc, tq, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, deterministic=True)
    per = ann_recall(exact, arms, k=k)
    ex_n = (exact.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__n_exact")))
    denom = F.least(F.lit(int(k)).cast("long"),
                    F.coalesce(F.col("__n_exact"),
                               F.lit(int(k)).cast("long")))
    return (per.join(F.broadcast(ex_n), query_id_col, "left")
            .groupBy(F.substring("arm", 4, 3).cast("int").alias("dim"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                 F.sum("n_hits").cast("long").alias("n_hits_total"),
                 F.sum(denom).cast("long").alias("n_possible_total"))
            .withColumn("micro_recall",
                        F.col("n_hits_total").cast("double")
                        / F.col("n_possible_total").cast("double"))
            .orderBy("dim"))


def _dim_sweep_fused(corpus: DataFrame, queries: DataFrame, ds: list[int],
                     k: int, id_col: str, vec_col: str,
                     query_id_col: str) -> DataFrame:
    """One-scan implementation of :func:`dim_truncation_sweep` for
    fixed-width (== ds[-1]) vectors.  Per side, the cut self-dots come
    from one quantized self-product array; per pair, all cut dots come
    from one quantized pair-product array (prefix sums at the cut
    points — bit-identical to the sliced fixed-point dots, see caller).
    The full-width cut doubles as the exact tier."""
    scale = 1e12
    cuts = F.lit([int(d) for d in ds])
    quant_self = lambda v: F.transform(
        v, lambda x: half_up_long(x.cast("double") * x.cast("double")
                                  * F.lit(scale)))
    cut_sums = lambda qp: F.transform(
        cuts, lambda d: F.aggregate(F.slice(qp, F.lit(1), d),
                                    F.lit(0).cast("long"),
                                    lambda acc, v_: acc + v_)
        .cast("double") / F.lit(scale))
    c = (spread_narrow(corpus)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("__cvec"),
                 cut_sums(quant_self(F.col(vec_col))).alias("__cc")))
    q = (queries
         .select(F.col(query_id_col), F.col(vec_col).alias("__qvec"),
                 cut_sums(quant_self(F.col(vec_col))).alias("__qq")))
    qp = F.zip_with(F.col("__qvec"), F.col("__cvec"),
                    lambda x, y: half_up_long(x.cast("double")
                                              * y.cast("double")
                                              * F.lit(scale)))
    ab = cut_sums(qp)
    num_aa = F.zip_with(ab, F.col("__qq"),
                        lambda a, aa: F.struct(a.alias("ab"),
                                               aa.alias("aa")))
    sims = F.zip_with(num_aa, F.col("__cc"),
                      lambda p, bb: safe_cos_div(
                          p["ab"], F.sqrt(p["aa"]) * F.sqrt(bb)))
    # a NULL vector must still emit one NULL-sim row per cut (ranked
    # last, as in the per-arm path) — posexplode of a NULL array would
    # silently drop the corpus row instead
    null_arr = F.array(*[F.lit(None).cast("double") for _ in ds])
    scored = (c.crossJoin(F.broadcast(q))
              .select("neighbor_id", query_id_col,
                      F.posexplode(F.coalesce(sims, null_arr))
                      .alias("__di", "cosine_sim")))
    w = Window.partitionBy("__di", query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    # |dims|·|queries|·k rows — gate-tier cache so the exact-arm
    # extraction and the per-dim scoring read one materialization
    topk = cache_pinned(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("__di", query_id_col, "neighbor_id"))
    last = len(ds) - 1
    exact = (topk.filter(F.col("__di") == last)
             .select(query_id_col, "neighbor_id")
             .withColumn("__hit", F.lit(1)))
    ex_n = (exact.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__n_exact")))
    per = (topk.join(F.broadcast(exact.select(query_id_col, "neighbor_id",
                                              "__hit")),
                     [query_id_col, "neighbor_id"], "left")
           .groupBy("__di", query_id_col)
           .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long").alias("n_hits")))
    denom = F.least(F.lit(int(k)).cast("long"),
                    F.coalesce(F.col("__n_exact"),
                               F.lit(int(k)).cast("long")))
    dims_lit = F.lit([int(d) for d in ds])
    return (per.join(F.broadcast(ex_n), query_id_col, "left")
            .groupBy(F.element_at(dims_lit, F.col("__di") + 1)
                     .cast("int").alias("dim"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                 F.sum("n_hits").cast("long").alias("n_hits_total"),
                 F.sum(denom).cast("long").alias("n_possible_total"))
            .withColumn("micro_recall",
                        F.col("n_hits_total").cast("double")
                        / F.col("n_possible_total").cast("double"))
            .orderBy("dim"))


def centroid_drift_report(corpus: DataFrame, queries: DataFrame,
                          arms: dict[str, list[list[float]]],
                          k: int = 5, nprobe: int = 2,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          query_id_col: str = "query_id",
                          deterministic: bool = False) -> DataFrame:
    """Coarse-quantizer DRIFT audit (r11 verdict #3): per candidate
    centroid set — typically ``{"stale": at-build centroids,
    "retrained": retrain over the accumulated corpus}`` — the
    micro-averaged recall@k of IVF cell-probe search against exact
    search over the SAME corpus and queries.  On a drifting corpus the
    cells a stale quantizer carves stop matching the data's density;
    this report prices that decay in the one number that matters
    (probe recall) BEFORE paying for an epoch-bumped re-index
    (:func:`~..streaming.sinks.retrain_vector_index` is the
    remediation; this is its go/no-go gate).

    Drift decays BOTH probe qualities, so the report prices both:
    ``micro_recall`` (neighbors hiding in unprobed cells) and
    ``n_candidates_total`` (drifted mass COLLAPSING into few stale
    cells, so every probe scans it — recall holds while cost silently
    explodes; the r11-verdict "cell balance" axis).  Candidates are
    counted by the probe's own definition: Σ over queries of the
    probed cells' member counts.

    Same integer-derived micro-average as :func:`dim_truncation_sweep`
    (total hits / total min(k, n_exact) denominators — the
    :func:`ann_recall` rule), so the deterministic tier value-hashes
    cross-engine.  Cost: ONE exact scan plus one cell-probe search and
    one assignment-count pass per arm; the exact tier is the expensive
    half, shared across arms — acceptable for a go/no-go gate run
    before a rebuild, not a hot path."""
    metric = "fixed_cosine" if deterministic else "cosine"
    # |queries|·k rows consumed by ann_recall AND this report's own
    # denominator count — pin so the exact brute-force scan (the
    # expensive shared half of the gate) executes once, not 3x
    # (r13 opt, guide §2 "do the work once")
    exact = cache_pinned(
        brute_force_topk(corpus, queries, k=k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col,
                         deterministic=deterministic))
    self_dot = fixed_point_self_dot if deterministic else \
        (lambda v: dot(v, v))
    # ONE corpus pass for ALL arms (r13 opt, guide §2 "do the work
    # once"): each arm's cell argmax is a per-row expression over the
    # same vector, so the arms stack as sibling columns in a single
    # projection — the corpus is spread, scanned and self-dotted ONCE
    # instead of once per arm (the per-arm pass previously also
    # re-computed the shared __cc self-dot per arm).  Cell values are
    # the identical ivf_index expression (same _cell_scores argmax,
    # same first-max tie-break), so per-arm probe results, cell sizes
    # and the SQL oracle are unchanged.  Gate-tier cache: bounded by
    # the corpus under audit; the persist registry releases it.
    names = sorted(arms)
    proj = [F.col(id_col), F.col(vec_col)]
    for i, name in enumerate(names):
        scores, hib = _cell_scores(F.col(vec_col), arms[name], metric)
        best = F.array_max(scores) if hib else F.array_min(scores)
        proj.append((F.array_position(scores, best) - 1).cast("int")
                    .alias(f"__cell_{i}"))
    proj.append(self_dot(F.col(vec_col)).alias("__cc"))
    combined = cache_pinned(spread_narrow(corpus).select(*proj))
    # STACKED per-arm probe (r14 opt, guide §2.4 "remove shuffles
    # outright"/§1.2 "count the jobs"): the per-arm loop ran one probe
    # window + candidate join + rank window + sizes aggregate + volume
    # aggregate PER ARM — ~4 extra stages and several broadcast jobs
    # per additional centroid set.  The arms differ only in which cell
    # column / affinity array they read, so every per-arm relation
    # stacks under an arm INDEX: one posexplode fans the corpus to
    # (arm, cell) rows map-side, one window plan picks every arm's
    # probe cells, one join + one rank window scores all arms, one
    # aggregate counts every arm's candidate volume.  The probe-cell
    # relation (``q_cells``) is query-set-sized and unpinned: its window
    # runs once for the scoring broadcast and once for the volume
    # aggregate, which costs less than a persist.  Per-arm expressions,
    # orderings and tie-breaks are identical (the window partitions add
    # the arm index), so per-arm rows — and the SQL oracle — are
    # unchanged.
    arm_lits = F.array(*[F.lit(n) for n in names])
    c_exp = combined.select(
        F.col(id_col), F.col(vec_col), F.col("__cc"),
        F.posexplode(F.array(*[F.col(f"__cell_{i}")
                               for i in range(len(names))]))
        .alias("__ai", "cell"))
    pair_dot = fixed_point_dot if deterministic else dot
    q = queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qvec"),
                       self_dot(F.col(vec_col)).alias("__qq"))
    per_arm_sims = [_cell_scores(F.col("__qvec"), arms[n], metric)[0]
                    for n in names]
    q_cells = (q.select(query_id_col, "__qvec", "__qq",
                        F.posexplode(F.array(*per_arm_sims))
                        .alias("__ai", "__sims"))
               .select(query_id_col, "__qvec", "__qq", "__ai",
                       F.posexplode("__sims").alias("cell", "sim"))
               .withColumn("__rk", F.row_number().over(
                   Window.partitionBy("__ai", query_id_col)
                   .orderBy(F.desc("sim"), F.asc("cell"))))
               .filter(F.col("__rk") <= nprobe)
               .select("__ai", query_id_col, "__qvec", "__qq", "cell"))
    scored = (c_exp.join(F.broadcast(q_cells), ["__ai", "cell"])
              .withColumn("cosine_sim",
                          safe_cos_div(
                              pair_dot(F.col("__qvec"), F.col(vec_col)),
                              F.sqrt("__qq") * F.sqrt("__cc"))))
    w_rank = (Window.partitionBy("__ai", query_id_col)
              .orderBy(F.desc("cosine_sim"), F.asc(id_col)))
    tagged = (scored.withColumn("rank", F.row_number().over(w_rank))
              .filter(F.col("rank") <= k)
              .select(F.element_at(arm_lits, F.col("__ai") + 1)
                      .alias("arm"),
                      F.col(query_id_col).alias("query_id"),
                      F.col(id_col).alias("neighbor_id")))
    # probe candidate volume: cell sizes joined onto each query's
    # top-nprobe cells (same affinity + tie-break as the probe); the
    # arm-literal left join keeps an all-empty-probe arm at volume 0,
    # exactly like the old per-arm no-groupBy aggregate
    sizes = (c_exp.groupBy("__ai", "cell")
             .agg(F.count(F.lit(1)).alias("__csz")))
    vol = (q_cells.select("__ai", "cell")
           .join(F.broadcast(sizes), ["__ai", "cell"])
           .groupBy("__ai")
           .agg(F.sum("__csz").cast("long").alias("__nct")))
    arm_idx = local_frame(corpus.sparkSession,
                          list(enumerate(names)), "__ai int, arm string")
    cands = (arm_idx.join(vol, "__ai", "left")
             .select("arm",
                     F.coalesce("__nct", F.lit(0).cast("long"))
                     .alias("n_candidates_total")))
    per = ann_recall(exact, tagged, k=k)
    # Re-anchor per-query rows on the FULL (arm × query) grid (r12
    # advisory): a query whose nprobe probed cells are ALL EMPTY
    # returns no arm rows, so it would vanish from ``per`` — and from
    # ``n_possible_total`` — precisely in the severe-drift/cell-
    # collapse regime this gate exists to catch, inflating
    # micro_recall and letting ``n_queries`` differ across arms.
    # The grid is |queries|×|arms| id rows — broadcast-tiny.
    arm_names = local_frame(corpus.sparkSession,
                            [(n,) for n in names], "arm string")
    grid = (queries.select(query_id_col).distinct()
            .crossJoin(F.broadcast(arm_names)))
    per = (grid.join(per.select("arm", query_id_col, "n_hits"),
                     ["arm", query_id_col], "left")
           .withColumn("n_hits",
                       F.coalesce(F.col("n_hits"),
                                  F.lit(0).cast("long"))))
    ex_n = (exact.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__n_exact")))
    denom = F.least(F.lit(int(k)).cast("long"),
                    F.coalesce(F.col("__n_exact"),
                               F.lit(int(k)).cast("long")))
    return (per.join(F.broadcast(ex_n), query_id_col, "left")
            .groupBy("arm")
            .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                 F.sum("n_hits").cast("long").alias("n_hits_total"),
                 F.sum(denom).cast("long").alias("n_possible_total"))
            .withColumn("micro_recall",
                        F.col("n_hits_total").cast("double")
                        / F.col("n_possible_total").cast("double"))
            .join(F.broadcast(cands), "arm")
            .select("arm", "n_queries", "n_hits_total",
                    "n_possible_total", "micro_recall",
                    "n_candidates_total")
            .orderBy("arm"))


def drift_retrain_decision(report: DataFrame, arm: str,
                           recall_floor: float = 0.8,
                           candidate_factor: float = 3.0,
                           corpus_size: int | None = None,
                           n_cells: int | None = None,
                           nprobe: int | None = None) -> dict:
    """Go/no-go RULE over a :func:`centroid_drift_report` row (r12
    verdict #6) — the documented threshold policy that turns the drift
    audit into an automatic rebuild trigger.  Rebuild iff either decay
    axis crosses its line:

    - **recall floor**: ``micro_recall < recall_floor`` — neighbors are
      hiding in unprobed cells; the quantizer no longer carves the
      data's density.
    - **candidate-volume ceiling**: ``n_candidates_total >
      candidate_factor × n_queries × nprobe × corpus_size / n_cells``
      — the BALANCED-cells probe budget (each probe scans
      corpus/n_cells members) exceeded ``candidate_factor``-fold:
      drifted mass has collapsed into few stale cells, so recall holds
      while every probe silently scans a growing fraction of the
      corpus.  Skipped when any of (corpus_size, n_cells, nprobe) is
      not supplied.

    ``report`` is arm-count-sized, so the collect is bounded; returns
    a plain dict (retrain / reason / the numbers behind it) the caller
    logs or acts on.  :func:`~..streaming.sinks.maybe_retrain_vector_
    index` composes this with the audit and the rebuild."""
    rows = {r["arm"]: r for r in report.collect()}
    if arm not in rows:
        raise ValueError(f"arm {arm!r} not in report ({sorted(rows)})")
    r = rows[arm]
    budget = None
    if corpus_size and n_cells and nprobe:
        budget = (float(candidate_factor) * r["n_queries"]
                  * int(nprobe) * int(corpus_size) / int(n_cells))
    reasons = []
    if r["micro_recall"] < float(recall_floor):
        reasons.append(
            f"micro_recall {r['micro_recall']:.4f} < floor {recall_floor}")
    if budget is not None and r["n_candidates_total"] > budget:
        reasons.append(
            f"n_candidates_total {r['n_candidates_total']} > "
            f"{candidate_factor}x balanced budget {budget:.0f}")
    return {
        "retrain": bool(reasons),
        "reason": "; ".join(reasons) or "within thresholds",
        "micro_recall": float(r["micro_recall"]),
        "n_candidates_total": int(r["n_candidates_total"]),
        "n_queries": int(r["n_queries"]),
        "candidate_budget": budget,
    }


def embedding_outliers(df: DataFrame, label_col: str = "label",
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       k: int = 5, dim: int = 64) -> DataFrame:
    """Per-label farthest-from-centroid members — the corpus-noise
    audit over an embedding column: the k members of each label with
    the LOWEST cosine to their own label centroid are the likely
    mislabels/noise a curation pass reviews or drops (the SemDeDup
    companion question: not "who is duplicated" but "who doesn't
    belong").

    Same two label-keyed passes as ``label_cohesion``: fixed-point
    per-dimension centroid sums (no explode), then members re-join
    their broadcast dimension-sized centroid and rank within their
    label by fixed-point cosine (ascending, NULLS FIRST so degenerate
    zero-norm vectors surface as maximal outliers; ties break on id).
    The per-label window is bounded by label cardinality; at 100 TB the
    rank-then-filter top-k shuffles only (id, label, cosine) triples —
    vectors never pass through the window.
    """
    # same spread + SQL-parse rationale as label_cohesion: CPU-bound
    # fixed-point passes, and the per-dimension expressions cross py4j
    # once as ONE parsed string instead of ~7× per dimension
    df = spread_narrow(df)
    sums = df.groupBy(F.col(label_col).alias("__lbl")).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum(cast(round(cast(`{vec_col}`[{i}] as double)"
                 f" * 1.0E6, 0) as bigint))").alias(f"__s{i}")
          for i in range(dim)])
    centroid = F.expr("array(" + ",".join(
        f"(cast(__s{i} as double) / 1.0E6) / cast(n as double)"
        for i in range(dim)) + ")")
    cents = sums.select("__lbl", centroid.alias("__cent"))
    scored = (df.join(F.broadcast(cents),
                      F.col(label_col) == F.col("__lbl"))
              .withColumn("__cos",
                          fixed_point_cosine(
                              F.transform(F.col(vec_col),
                                          lambda x: x.cast("double")),
                              F.col("__cent"))))
    # vectors drop BEFORE the window: only (label, id, cosine) shuffles
    slim = scored.select(F.col(label_col), F.col(id_col),
                         F.col("__cos").alias("cosine_to_centroid"))
    w = (Window.partitionBy(label_col)
         .orderBy(F.col("cosine_to_centroid").asc_nulls_first(),
                  F.col(id_col).asc()))
    return (slim.withColumn("outlier_rank", F.row_number().over(w))
            .where(F.col("outlier_rank") <= int(k)))
