"""Embedding similarity search (north-star; BASELINE.json).

Vectors are ``array<float>`` columns. All math happens JVM-side with
higher-order functions (``zip_with`` + ``aggregate``) in double
precision — no UDF, so the dot products run inside codegen.

Two paths:

* ``cosine_topk_bruteforce`` — queries × corpus equi-free join. The
  query side is small (top-k lookups), so it is BROADCAST: cost is one
  pass over the corpus per batch of queries, embarrassingly parallel,
  no shuffle of the corpus. This is the correctness baseline.
* ``ivf_topk`` — IVF-style two-stage ANN: assign every vector to its
  nearest pivot (broadcast pivots), then search only the query's
  cluster. The corpus pass emits (cluster, vec) once; the search join
  is pruned to matching clusters. At 100 TB this turns "scan all" into
  "scan 1/n_pivots" per query at some recall cost.

Cosines are rounded to 6 dp before ranking so rankings are stable
across engines/summation orders (ties then break on vec id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import fan_out, local_frame


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return dot(da, db) / (norm(da) * norm(db))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank) — excludes self.

    The double-cast array and the norm are per-ROW invariants of each
    side, so they materialize in the projections BELOW the join (once
    per corpus row / once per broadcast query row) instead of inside
    the per-PAIR score expression — higher-order functions evaluate
    interpreted, so an in-pair cast+norm multiplies the fold work by
    |queries| (the assign_clusters lesson). The score keeps the exact
    operation order of :func:`cosine` (dot / (qnorm * cnorm), then
    round 6), so every emitted double is bit-identical to the previous
    formulation.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        norm(_as_double(F.col(vec_col))).alias("__qnorm"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        norm(_as_double(F.col(vec_col))).alias("__cnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _pivot_literal(pivot_rows) -> Column:
    """The collected pivot set as ONE literal array-of-structs column,
    built via a single SQL ``expr`` string instead of P x dim nested
    ``F.lit`` calls — plan CONSTRUCTION was measured at 2-4x the
    EXECUTION cost of an assignment pass at test scale because every
    ``lit``/``struct``/``array`` call is a py4j round-trip; one expr
    string is one round-trip. Doubles render via ``repr`` (shortest
    round-trip decimal), which Spark's double-literal parser maps back
    to the identical IEEE value, so plans are bit-identical to the
    lit-built form."""
    import math

    def _pnorm(vec) -> float:
        # sequential left fold, matching the JVM aggregate()'s operation
        # order bit-for-bit (do NOT use math.fsum / sum(generator))
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    def _d(x: float) -> str:
        r = repr(float(x))
        # exponent forms ('1e-05') are already double literals in Spark
        # SQL; plain decimals need the D suffix to avoid DECIMAL typing
        return r + "D" if ("e" not in r and "E" not in r) else r

    # guard BEFORE rendering: repr(nan)/repr(inf) would emit bare
    # 'nan'/'inf' tokens into the expr string and surface as a
    # confusing SQL parse/resolution error far from the cause
    for r in pivot_rows:
        if any(not math.isfinite(float(x)) for x in r[1]):
            raise ValueError(
                f"pivot {r[0]!r} contains a non-finite component; "
                "clean or drop it before building the pivot literal"
            )

    if not pivot_rows:
        # a bare array() types as ARRAY<VOID> and every downstream
        # lambda field extraction (p['pv']) then fails ANALYSIS — on an
        # empty corpus the operator must still analyze and return zero
        # rows, so emit a correctly-typed empty literal instead.
        # CONTRACT: with zero pivots, array_max over the empty transform
        # is NULL, so assign_clusters yields cluster_id NULL for every
        # row and cluster equi-joins return empty — "no index → no
        # results", never a crash. Callers that REQUIRE pivots (k-means
        # seeding, PQ training) already raise their own documented
        # ValueError before reaching this literal.
        return F.expr(
            "CAST(array() AS ARRAY<STRUCT<pivot_id: BIGINT,"
            " pv: ARRAY<DOUBLE>, pnorm: DOUBLE>>)"
        )

    structs = [
        "named_struct('pivot_id', {id}L, 'pv', array({pv}), 'pnorm', {pn})".format(
            id=int(r[0]),
            pv=", ".join(_d(x) for x in r[1]),
            pn=_d(_pnorm(r[1])),
        )
        for r in pivot_rows
    ]
    return F.expr("array(" + ", ".join(structs) + ")")


def assign_clusters(
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: each vector → nearest pivot by cosine
    (deterministic tie-break on smallest pivot id).

    Zero-shuffle narrow map: the pivot set is tiny by construction
    (IVF centroids), so it is embedded as a literal array-of-structs
    and the argmax runs per row inside codegen via ``array_max`` over
    ``(sim, -pivot_id)`` structs — no corpus×P row amplification, no
    exchange, no window. The previous formulation (cross join + window
    argmax) shuffled P copies of every vector; at 100 TB that shuffle
    IS the job, while this version is pure scan."""
    pivot_rows = pivots.select(id_col, vec_col).collect()  # bounded: P centroids
    plit = _pivot_literal(pivot_rows)
    # higher-order functions evaluate interpreted (outside codegen), so
    # redundant math inside the lambda is P× real cost: the vector's own
    # norm is materialized ONCE per row in a projection behind the
    # repartition barrier (CollapseProject would otherwise inline it
    # back into the lambda), and pivot norms are baked into the literal.
    pre = fan_out(
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            norm(_as_double(F.col(vec_col))).alias("__vnorm"),
        )
    )
    v = _as_double(F.col(vec_col))
    # struct comparison is field-order lexicographic: max sim first,
    # then max(-pivot_id) == min pivot_id for ties
    best = F.array_max(
        F.transform(
            plit,
            lambda p: F.struct(
                F.round(dot(v, p["pv"]) / (F.col("__vnorm") * p["pnorm"]), 6).alias("sim"),
                (-p["pivot_id"]).alias("neg_pivot_id"),
            ),
        )
    )
    return pre.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__vnorm"),
        (-best["neg_pivot_id"]).cast("long").alias("cluster_id"),
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by IVF cluster.

    The same LSH/bucket discipline as the text dedup path: vectors are
    assigned to their nearest pivot with the shuffle-free narrow map
    (:func:`assign_clusters`), and the pairwise cosine check runs ONLY
    inside each cluster — one shuffle on the cluster id, never an
    all-pairs cross join. With P pivots the expected pair work drops by
    ~P×; near-identical vectors land in the same cluster by
    construction (recall loss only for pairs straddling a Voronoi
    boundary, the standard IVF trade).

    Output: (id_a, id_b, cosine_sim) with id_a < id_b, sim ≥ threshold.

    High-threshold prefilter (provably lossless): for unit vectors
    (â₁−b̂₁)² ≤ ‖â−b̂‖² = 2−2·cos(a,b), so cos ≥ t ⇒ the first
    NORMALIZED components differ by ≤ √(2−2t). The cheap |â₁−b̂₁|
    comparison short-circuits ahead of the interpreted 64-dim dot
    product inside the conjunctive filter, so at t = 0.999 ~99% of the
    within-cluster pairs never pay the dot (measured 10.2 s → bounded
    by the band survivors on the planted sf0.1 corpus). The bound is
    widened by the 6 dp rounding epsilon (a true cosine of t−5e-7
    rounds UP to t), so no admitted pair can be pruned.
    """
    # pin the assignment: both pair sides reference it, and the narrow
    # argmax map (P × dim multiply-adds per row) is the expensive part
    # of the plan — unpinned it would execute once per side
    assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    # F.get (not element_at): NULL on an empty array instead of an
    # ANSI index error; a NULL/degenerate band value drops the pair,
    # exactly as its NULL cosine would have
    first_norm = F.get(_as_double(F.col(vec_col)), 0) / F.col("__vnorm")
    # double-cast once per ROW here (not inside the per-pair dot): an
    # in-pair transform() re-casts the array per candidate pair
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        _as_double(F.col(vec_col)).alias("__va"),
        F.col("__vnorm").alias("__na"),
        first_norm.alias("__f1a"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        _as_double(F.col(vec_col)).alias("__vb"),
        F.col("__vnorm").alias("__nb"),
        first_norm.alias("__f1b"),
        "cluster_id",
    )
    band = float((2.0 - 2.0 * (threshold - 1e-6)) ** 0.5)
    # norms ride along from the assignment, so the per-pair interpreted
    # work is one dot product, not dot + two norms
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        6,
    )
    return (
        a.join(b, on="cluster_id")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("__f1a") - F.col("__f1b")) <= band)
        )
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: search only within the query's IVF cluster.

    Output: (query_id, neighbor_id, cosine_sim, rank). Recall < 1.0 by
    design; nprobe>1 is a straightforward extension (keep rn <= nprobe
    in the assignment).

    ``assigned`` optionally supplies a prebuilt (pinned) inverted list
    from :func:`assign_clusters` — an ANN INDEX is built once and
    served to many searches; callers comparing several methods over
    the same corpus (e.g. the recall report) must not pay the
    assignment pass per method."""
    # pin the assignment: both the query side and the corpus side
    # reference it, and the interpreted P×dim argmax map is the
    # expensive part of the plan — unpinned, Spark replays it once per
    # reference (same hazard cosine_neardup_pairs pins above)
    if assigned is None:
        assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    # double-cast once per ROW in the projections below the join — an
    # in-pair transform() re-allocates and re-casts the 64-wide array
    # per (query, neighbor) pair (interpreted HOF; the
    # cosine_topk_bruteforce / assign_clusters lesson)
    q = assigned.join(
        queries.select(F.col(id_col).alias("query_id")),
        assigned[id_col] == F.col("query_id"),
    ).select(
        "query_id",
        _as_double(F.col(vec_col)).alias("__qvec"),
        F.col("__vnorm").alias("__qnorm"),
        F.col("cluster_id"),
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        F.col("__vnorm").alias("__cnorm"),
        "cluster_id",
    )
    scored = (
        c.join(F.broadcast(q), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_planes(nbits: int = 16, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-bit (SimHash-style)
    cosine LSH, rounded to 6 dp so the same decimal literals feed both
    the Spark plan and the SQL oracle (identical IEEE doubles)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rs.standard_normal((nbits, dim))]


def hyperplane_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    bands: int = 2,
) -> DataFrame:
    """Random-hyperplane LSH over a vector column: bit i = sign of
    ⟨v, h_i⟩; the bit string splits into ``bands`` band-buckets
    (vectors colliding in ANY band are cosine-similar candidates —
    P[bit match] = 1 − θ/π).

    Scale: a pure narrow map — the hyperplanes are literal constants
    (compiled into the plan, nothing broadcast), each vector computes
    nbits dot products and leaves as (id, band_no, bucket) rows. The
    ONLY shuffle in a dedup pipeline built on this is the groupBy on
    the tiny (band_no, bucket) key — same shape as the MinHash path
    (`dedup.lsh_banded`), which is what makes it a 100 TB candidate
    generator where brute-force cosine is quadratic."""
    planes = planes if planes is not None else hyperplane_planes()
    nbits = len(planes)
    per = nbits // bands
    v = _as_double(F.col(vec_col))
    bits = [
        (dot(v, F.array(*[F.lit(x) for x in p])) >= 0).cast("int").alias(f"__bit{i}")
        for i, p in enumerate(planes)
    ]
    sig = df.select(F.col(id_col), *bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_no"),
            sum(
                (F.col(f"__bit{b * per + i}") * F.lit(2**i)) for i in range(per)
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band_no").alias("band_no"), F.col("bb.bucket").alias("bucket"))


def _farthest_vectors(
    corpus: DataFrame,
    centroid_rows: list,
    n: int,
    id_col: str,
    vec_col: str,
) -> list:
    """The ``n`` corpus vectors LEAST similar to any current centroid
    (lowest max-cosine, ties to the smallest id) — the deterministic
    farthest-point reseed pool for emptied k-means clusters. One narrow
    scan (centroids ride as literals, same as :func:`assign_clusters`)
    + a global top-n; ``orderBy().limit(n)`` plans as TakeOrdered, so
    each partition ships at most n rows to the driver."""
    plit = _pivot_literal(centroid_rows)
    v = _as_double(F.col(vec_col))
    best = F.array_max(
        F.transform(
            plit,
            lambda p: F.round(dot(v, p["pv"]) / (norm(v) * p["pnorm"]), 6),
        )
    )
    return (
        corpus.select(F.col(id_col), F.col(vec_col), best.alias("__best_sim"))
        .orderBy(F.col("__best_sim").asc(), F.col(id_col).asc())
        .limit(n)
        .collect()
    )


def kmeans_iterate(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF pivot TRAINING (cosine assignment,
    per-dimension mean recompute) — turns the ANN stack's "first k
    vectors" pivots into data-fitted centroids that ``ivf_topk`` /
    ``cosine_neardup_pairs`` consume unchanged.

    Returns the centroid table ``(id_col = cluster id, vec_col =
    array<double>)`` after ``iters`` assign+recompute rounds, seeded
    with the k lowest-id vectors — by ``orderBy(id_col).limit(k)``, so
    the guarantee holds for ANY id domain (non-contiguous or
    non-zero-based ids seed correctly); fewer than k corpus vectors is
    an error, never a silent shrink.

    k stays CONSTANT across iterations: a cluster that captures no
    vectors in an assignment round is reseeded deterministically with
    the farthest-point rule (the corpus vector with the lowest
    max-cosine to the surviving centroids, ties to the smallest id) —
    Lloyd's otherwise silently drops empty clusters and every later
    iteration runs with shrunk k. Seeding near-duplicate vectors makes
    empties likely on clustered real data, so the guard matters.

    Scale shape per iteration: one narrow zero-shuffle assignment pass
    over the corpus (:func:`assign_clusters` embeds the k centroids as
    literals) + one groupBy whose map-side partial aggregation reduces
    every partition to <= k rows of k x dim running sums — the shuffle
    moves O(k x dim x partitions) bytes, never corpus rows. The driver
    holds only the k x dim centroid table between iterations (the
    per-iteration collect is THE standard Lloyd's barrier); the reseed
    pass (one extra TakeOrdered scan) runs only on the empty-cluster
    path. Centroid components round to ``round_digits`` so the trained
    pivots are reproducible across engines and summation orders.
    """
    spark = corpus.sparkSession
    schema = f"{id_col} long, {vec_col} array<double>"
    seed_rows = corpus.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k).collect()
    if len(seed_rows) != k:
        raise ValueError(
            f"kmeans_iterate: corpus has {len(seed_rows)} vectors, need k={k} seeds"
        )
    if dim is None:
        # vector width comes free with the seed collect — no separate
        # probe job; pass dim explicitly only to assert a known width
        dim = len(seed_rows[0][1])
    # the cluster-id set is fixed for the whole run: the ids of the k
    # seed vectors (on 0-based contiguous ids this is 0..k-1, matching
    # the SQL oracle's `vec_id < k` seed)
    pivot_ids = [int(r[0]) for r in seed_rows]
    pivots = local_frame(
        spark, [(int(r[0]), [float(x) for x in r[1]]) for r in seed_rows], schema
    )
    for _ in range(iters):
        assigned = assign_clusters(corpus, pivots, id_col, vec_col)
        aggs = [
            F.round(F.avg(F.col(vec_col)[i].cast("double")), round_digits).alias(f"__c{i}")
            for i in range(dim)
        ]
        # materialize the k-row centroid table and cut lineage: left
        # lazy, iteration N's plan would re-run every earlier
        # iteration's corpus pass (1+2+..+N scans); collected, each
        # scan happens exactly once. Driver holds k x dim doubles —
        # the standard Lloyd's barrier, bounded regardless of corpus
        # size.
        cent_rows = assigned.groupBy("cluster_id").agg(*aggs).collect()
        cents = {
            int(r["cluster_id"]): [r[f"__c{i}"] for i in range(dim)] for r in cent_rows
        }
        missing = sorted(cid for cid in pivot_ids if cid not in cents)
        if missing:
            surviving = [(cid, cents[cid]) for cid in sorted(cents)]
            far = _farthest_vectors(corpus, surviving, len(missing), id_col, vec_col)
            for cid, row in zip(missing, far):
                cents[cid] = [round(float(x), round_digits) for x in row[1]]
        pivots = local_frame(spark, [(cid, cents[cid]) for cid in pivot_ids], schema)
    return pivots


def assign_clusters_multi(
    corpus: DataFrame,
    pivots: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``nprobe`` pivot assignment (the query-side half of
    multi-probe IVF): each vector maps to its ``nprobe`` nearest pivots
    by cosine, ties to the smaller pivot id.

    Same zero-shuffle discipline as :func:`assign_clusters` — pivots
    ride as literals, and the per-row top-n comes from sorting the
    P-element (sim, -pivot_id) struct array descending and slicing,
    still a narrow map (P is tiny by construction). Output: one row per
    (vector, probe) with ``probe_rank`` 1..nprobe.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    pivot_rows = pivots.select(id_col, vec_col).collect()  # bounded: P centroids
    plit = _pivot_literal(pivot_rows)
    pre = fan_out(
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            norm(_as_double(F.col(vec_col))).alias("__vnorm"),
        )
    )
    v = _as_double(F.col(vec_col))
    scored = F.transform(
        plit,
        lambda p: F.struct(
            F.round(dot(v, p["pv"]) / (F.col("__vnorm") * p["pnorm"]), 6).alias("sim"),
            (-p["pivot_id"]).alias("neg_pivot_id"),
        ),
    )
    # descending struct sort == best-first: (sim desc, pivot_id asc)
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    exploded = pre.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__vnorm"),
        F.posexplode(top).alias("__pos", "__probe"),
    )
    return exploded.select(
        id_col,
        vec_col,
        "__vnorm",
        (-F.col("__probe.neg_pivot_id")).cast("long").alias("cluster_id"),
        (F.col("__pos") + 1).alias("probe_rank"),
    )


def ivf_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe IVF top-k: each query searches its ``nprobe``
    nearest clusters instead of one, recovering most of the recall an
    nprobe=1 search loses at Voronoi boundaries for ~nprobe× the probe
    cost (still 1/(P/nprobe) of the corpus per query).

    The corpus side keeps single-assignment (each vector lives in ONE
    inverted list — the index invariant); only the query fans out, so a
    (query, neighbor) pair arises at most once and needs no dedup.
    Output: (query_id, neighbor_id, cosine_sim, rank). ``assigned``
    optionally reuses a prebuilt inverted list (see :func:`ivf_topk`).
    """
    if assigned is None:
        assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    q = assign_clusters_multi(
        assigned.join(queries.select(F.col(id_col).alias("__qid")),
                      assigned[id_col] == F.col("__qid")).select(id_col, vec_col),
        pivots,
        nprobe,
        id_col,
        vec_col,
    ).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        F.col("__vnorm").alias("__qnorm"),
        "cluster_id",
    )
    # per-ROW double cast below the join (the ivf_topk discipline)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        F.col("__vnorm").alias("__cnorm"),
        "cluster_id",
    )
    scored = (
        c.join(F.broadcast(q), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: each component
    maps to round(127 * x / max|x|), stored alongside the scale needed
    to dequantize (x ≈ q * scale / 127).

    This is the standard 4x storage/bandwidth compression for ANN
    corpora — at 100 TB of float32 embeddings the index shrinks to
    ~25 TB with recall loss typically <1% for cosine search. A pure
    narrow map (two higher-order passes per row: max-abs fold, then
    transform), no UDF, no shuffle; zero vectors quantize to all-zero
    with scale 0 rather than dividing by zero. ``keep`` names extra
    input columns to carry through unchanged (e.g. an IVF
    ``cluster_id``, so the code table doubles as the inverted list
    without a re-join).
    """
    v = _as_double(F.col(vec_col))
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    q = F.when(
        F.col(scale_col) > 0,
        F.transform(
            v, lambda x: F.round(x * 127.0 / F.col(scale_col)).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        corpus.select(F.col(id_col), F.col(vec_col), *keep, amax.alias(scale_col))
        .withColumn(out_col, q)
        .select(id_col, scale_col, out_col, *keep)
    )


def _int8_norm(c: Column) -> Column:
    """Euclidean norm of an int8 code array — exact integer
    square-sum fold, one double sqrt at the end (shared by the SQ8
    flat and IVF coarse stages so the expression cannot drift)."""
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )


def quantized_topk_rescore(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rescore_factor: int = 3,
) -> DataFrame:
    """Two-stage search over the int8-quantized corpus: a cheap coarse
    top-(k x rescore_factor) by quantized cosine, then EXACT float
    rescoring of only those candidates — the standard
    compress-search-rescore loop that makes a 4x-smaller index serve
    full-precision results.

    Cosine is scale-invariant, so the per-vector quantization scales
    cancel and the coarse score is cos(qvec_a, qvec_b) on the int8
    codes — integer dot products and integer norms, exact in both
    engines (no float summation hazard until the final division). The
    rescore joins only ~k x rescore_factor rows per query back to the
    float vectors.

    Output: (query_id, neighbor_id, cosine_sim, rank) — cosine_sim is
    the EXACT rounded float cosine, rank over the rescored candidates.
    """
    # integer norms are per-ROW invariants: compute them once in the
    # projections below the join instead of per (query, neighbor) pair
    # (interpreted HOF folds — the cosine_topk_bruteforce discipline)
    q8 = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("__qq"),
        _int8_norm(F.col("qvec")).alias("__qn"),
    )
    c8 = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("__qc"),
        _int8_norm(F.col("qvec")).alias("__cn"),
    )
    idot = F.aggregate(
        F.zip_with("__qq", "__qc", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = (
        c8.crossJoin(F.broadcast(q8))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(idot / (F.col("__qn") * F.col("__cn")), 6).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def _rescore_topk(
    coarse: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    rescore_factor: int,
) -> DataFrame:
    """The shared cut-and-rescore tail of every compressed-coarse
    search (SQ8 flat, IVF-SQ8, PQ-ADC): rank the coarse frame's
    ``qcos`` (DESC, neighbor ASC), keep the top k × rescore_factor
    candidates, join them back to full-precision vectors, score the
    exact rounded cosine, and rank again for the final top-``k``. ONE
    implementation so BOTH tie-breaks and the 6-dp rounding — all
    load-bearing for oracle hash parity — cannot drift between the
    three call sites."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    cands = coarse.withColumn("__crank", F.row_number().over(w)).filter(
        F.col("__crank") <= k * rescore_factor
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    rescored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def _pow32() -> Column:
    """Exact integer powers-of-two literals for sign-bit packing — bits
    0..31 only, so every packed word stays inside the non-negative
    32-bit range and NO engine ever shifts into the BIGINT sign bit
    (DuckDB raises Out of Range on ``1::BIGINT << 63``; two 32-bit
    halves sidestep the hazard on both sides). Built lazily: Column
    construction needs an active session, so no module-level literal."""
    return F.array(*[F.lit(1 << j).cast("long") for j in range(32)])


def binary_quantize(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """1-bit (sign) quantization: component j contributes bit j iff
    x_j > 0, packed into ``dim/32`` BIGINT words (``bq_w0``,
    ``bq_w1``, ...). A 64-dim float32 vector (256 bytes) collapses to
    8 bytes — a 32x storage/bandwidth cut, the most aggressive point
    on the quantization axis (SQ8 is 4x, PQ m=8 is 32x with codebook
    lookups; binary needs NO codebook and its distance is two CPU
    instructions).

    Pure narrow map (slice + zip_with + aggregate inside codegen), no
    UDF, no shuffle; exactly reproducible cross-engine because the bit
    values are integer literals OR-folded — no float, no shift into
    the sign bit. ``keep`` carries extra columns through (e.g. an IVF
    ``cluster_id``)."""
    v = _as_double(F.col(vec_col))

    pow32 = _pow32()

    def _word(w: int) -> Column:
        bits = F.zip_with(
            F.slice(v, w * 32 + 1, 32),
            pow32,
            lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(
            bits, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
        )

    words = [_word(w).alias(f"bq_w{w}") for w in range(dim // 32)]
    return corpus.select(F.col(id_col), F.col(vec_col), *keep, *words)


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    rescore_factor: int = 3,
) -> DataFrame:
    """Two-stage search over the sign-bit-quantized corpus: coarse
    top-(k x rescore_factor) by Hamming similarity on the packed words
    (``bit_count(w_q XOR w_c)`` per 32-bit half — integer-exact on
    both engines), then EXACT float rescoring of only those
    candidates. The binary-quantization point of the
    compress-search-rescore family (SQ8 = quantized_topk_rescore,
    PQ = pq_adc_topk): the coarse scan reads 8 bytes/vector instead
    of 256, so at 100 TB of vectors the coarse stage touches ~3 TB.

    For sign bits, Hamming distance is a monotone proxy for angular
    distance (each agreeing sign bit is a quadrant agreement), so the
    coarse similarity is ``dim - hamming`` ranked DESC with the
    neighbor-id ASC tiebreak — integer-exact, no rounding needed
    until the full-precision rescore."""
    nwords = dim // 32
    q = binary_quantize(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"bq_w{w}").alias(f"__qw{w}") for w in range(nwords)],
    )
    c = binary_quantize(corpus, id_col, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"bq_w{w}").alias(f"__cw{w}") for w in range(nwords)],
    )
    hamming = None
    for w in range(nwords):
        h = F.bit_count(F.col(f"__qw{w}").bitwiseXOR(F.col(f"__cw{w}")))
        hamming = h if hamming is None else hamming + h
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(dim) - hamming).cast("long").alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def binary_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    rescore_factor: int = 3,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-BQ: sign-bit Hamming coarse search restricted to each
    query's ``nprobe`` nearest IVF clusters, then exact full-precision
    rescoring — the binary tier's composition with the inverted list,
    exactly how :func:`quantized_ivf_topk` stacks SQ8 on it and
    :func:`matryoshka_ivf_topk` stacks the prefix cut. At 100 TB the
    coarse stage reads ~nprobe/P of the corpus at 8 bytes/vector — a
    P/nprobe × 32 scan-volume cut (128× at the defaults), the deepest
    pruning point in the ladder; recall is governed by the IVF probe
    and the sign-bit angular proxy jointly, which is why the harness
    measures it against the shared exact truth (method row
    ``bq_ivf``).

    ``assigned`` optionally reuses the pinned inverted list; the
    cluster-pruned join, tiebreaks, and :func:`_rescore_topk` tail are
    shared verbatim with the other IVF searches."""
    if assigned is None:
        assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    nwords = dim // 32
    cw = binary_quantize(assigned, id_col, vec_col, dim, keep=("cluster_id",)).select(
        F.col(id_col).alias("neighbor_id"),
        "cluster_id",
        *[F.col(f"bq_w{w}").alias(f"__cw{w}") for w in range(nwords)],
    )
    qsub = assigned.join(
        queries.select(F.col(id_col).alias("__qid")),
        assigned[id_col] == F.col("__qid"),
    ).select(id_col, vec_col)
    qprobe = assign_clusters_multi(qsub, pivots, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cluster_id"
    )
    qw = binary_quantize(qsub, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"bq_w{w}").alias(f"__qw{w}") for w in range(nwords)],
    )
    qside = qw.join(qprobe, "query_id")
    hamming = None
    for w in range(nwords):
        h = F.bit_count(F.col(f"__qw{w}").bitwiseXOR(F.col(f"__cw{w}")))
        hamming = h if hamming is None else hamming + h
    coarse = (
        cw.join(F.broadcast(qside), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(dim) - hamming).cast("long").alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def matryoshka_funnel_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    k: int = 10,
    rescore_factor: int = 3,
) -> DataFrame:
    """Matryoshka funnel search (Kusupati et al. 2022): coarse
    top-(k × rescore_factor) by cosine over the leading ``prefix_dim``
    components of each vector, then EXACT full-dimension rescoring of
    only those candidates — the serving shape the X190 truncation-
    recall report measures for. MRL-trained encoders pack the most
    information into leading dimensions, so the coarse stage reads
    prefix_dim/dim of the vector bytes per candidate (the
    dimension-axis sibling of :func:`quantized_topk_rescore`, which
    shrinks ELEMENTS to int8 where this shrinks the element COUNT);
    at 100 TB a 16-of-64 prefix cuts the coarse scan payload 4× with
    recall governed by the measured X190 curve, and full-width vectors
    are touched for only k × rescore_factor rows per query.

    Exactness discipline: both stages round cosines to 6 dp with
    neighbor-id tiebreaks (prefix dots fold in index order, so both
    engines agree bit-for-bit); ``prefix_dim`` ≥ the stored width
    degrades gracefully to the exact search (slice caps at the array
    length). Output: (query_id, neighbor_id, cosine_sim, rank) with
    cosine_sim the EXACT rounded full-width cosine.
    """
    # prefix double-cast + prefix norm are per-ROW invariants — hoist
    # them below the join (the cosine_topk_bruteforce discipline); the
    # score keeps cosine()'s exact operation order, so values are
    # bit-identical
    qp = _as_double(F.slice(F.col(vec_col), 1, prefix_dim))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qp.alias("__qp"),
        norm(qp).alias("__qpn"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        qp.alias("__cp"),
        norm(qp).alias("__cpn"),
    )
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qp"), F.col("__cp"))
                / (F.col("__qpn") * F.col("__cpn")),
                6,
            ).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def quantized_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rescore_factor: int = 3,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-SQ8: the composed 100 TB ANN index shape — int8-quantized
    coarse search restricted to each query's ``nprobe`` nearest IVF
    clusters, then exact float rescoring of the survivors.
    ``assigned`` optionally reuses a prebuilt inverted list (see
    :func:`ivf_topk`).

    :func:`quantized_topk_rescore` compresses the corpus 4x but still
    scans ALL of it per query batch; :func:`ivf_topk_multiprobe` prunes
    the scan to nprobe/P of the corpus but reads full-precision floats.
    This operator stacks both: the coarse stage reads int8 codes from
    only the probed inverted lists (~P/nprobe x less data x 4x smaller
    elements), and full-precision vectors are touched for just
    k x rescore_factor candidate rows per query.

    Plan shape: one pinned single-assignment pass builds the inverted
    lists (each corpus vector lives in exactly ONE list — the index
    invariant, so a (query, neighbor) pair arises at most once and
    needs no dedup); quantization rides the same scan as a narrow map.
    The query side (tiny) fans out to nprobe lists and broadcasts into
    the cluster-pruned join. Integer dot products and norms are exact
    in both engines, so the coarse ranking is reproducible.

    Output: (query_id, neighbor_id, cosine_sim, rank) — cosine_sim is
    the EXACT rounded float cosine over rescored candidates.
    """
    if assigned is None:
        assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    # corpus code table doubles as the inverted list: (id, codes, list);
    # the integer norm is a per-ROW invariant computed below the join
    # (the quantized_topk_rescore discipline)
    c8 = quantize_int8(assigned, id_col, vec_col, keep=("cluster_id",)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("__qc"),
        _int8_norm(F.col("qvec")).alias("__cn"),
        "cluster_id",
    )
    qsub = assigned.join(
        queries.select(F.col(id_col).alias("__qid")),
        assigned[id_col] == F.col("__qid"),
    ).select(id_col, vec_col)
    qprobe = assign_clusters_multi(qsub, pivots, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cluster_id"
    )
    q8 = quantize_int8(qsub, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("__qq"),
        _int8_norm(F.col("qvec")).alias("__qn"),
    )
    qside = q8.join(qprobe, "query_id")
    idot = F.aggregate(
        F.zip_with("__qq", "__qc", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = (
        c8.join(F.broadcast(qside), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(idot / (F.col("__qn") * F.col("__cn")), 6).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def matryoshka_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    k: int = 10,
    rescore_factor: int = 3,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-MRL: the Matryoshka funnel stacked on the inverted list —
    coarse search by truncated-prefix cosine restricted to each
    query's ``nprobe`` nearest IVF clusters, then exact
    full-dimension rescoring of the survivors. Exactly how
    :func:`quantized_ivf_topk` stacks SQ8 on the list, with the
    element-COUNT cut (prefix_dim/dim of the bytes) in place of the
    element-WIDTH cut (int8): at 100 TB the coarse stage reads
    ~nprobe/P of the corpus at prefix_dim/dim of the vector payload —
    a P/nprobe × dim/prefix_dim scan-volume cut (4 × 4 = 16× at the
    defaults) before any float is touched at full width.

    ``assigned`` optionally reuses a prebuilt inverted list; plan
    shape, tiebreaks, and the exact-rescore tail are shared verbatim
    with the other IVF searches (one pinned assignment pass, broadcast
    query fan-out to nprobe lists, cluster-pruned join,
    :func:`_rescore_topk`).

    Output: (query_id, neighbor_id, cosine_sim, rank) — cosine_sim is
    the EXACT rounded full-width cosine over rescored candidates.
    """
    if assigned is None:
        assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(eager=False)
    # prefix double-cast + prefix norm hoisted below the join (the
    # matryoshka_funnel_topk discipline) — bit-identical score
    pref = _as_double(F.slice(F.col(vec_col), 1, prefix_dim))
    cp = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        pref.alias("__cp"),
        norm(pref).alias("__cpn"),
        "cluster_id",
    )
    qsub = assigned.join(
        queries.select(F.col(id_col).alias("__qid")),
        assigned[id_col] == F.col("__qid"),
    ).select(id_col, vec_col)
    qprobe = assign_clusters_multi(qsub, pivots, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cluster_id"
    )
    qp = qsub.select(
        F.col(id_col).alias("query_id"),
        pref.alias("__qp"),
        norm(pref).alias("__qpn"),
    )
    qside = qp.join(qprobe, "query_id")
    coarse = (
        cp.join(F.broadcast(qside), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("__qp"), F.col("__cp"))
                / (F.col("__qpn") * F.col("__cpn")),
                6,
            ).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search
# ---------------------------------------------------------------------------
def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays — an index-ordered
    left fold, matching DuckDB's ``list_sum(list_transform(...))`` so
    oracle replays are bit-identical before rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_codebook_literal(codebooks: dict[tuple[int, int], list[float]], m: int) -> Column:
    """The trained codebooks as ONE parsed expression:
    ``array_j( array_c( struct(code, cb array<double>) ) )`` — same
    single-SQL-string discipline as :func:`_pivot_literal`. Codes are
    listed in ascending order inside each subspace."""
    import math

    subs = []
    for j in range(m):
        entries = []
        for (jj, code), vec in sorted(codebooks.items()):
            if jj != j:
                continue
            for x in vec:
                if not math.isfinite(x):
                    raise ValueError(f"non-finite codebook component in sub {j} code {code}")
            arr = ",".join(f"CAST({x!r} AS DOUBLE)" for x in vec)
            entries.append(f"named_struct('code', {code}, 'cb', array({arr}))")
        subs.append(f"array({','.join(entries)})")
    return F.expr(f"array({','.join(subs)})")


def _pq_assign_code(sv: Column, cands: Column) -> Column:
    """Nearest codeword for one subvector: min rounded squared-L2, ties
    to the smallest code (ascending struct sort on (dist, code))."""
    scored = F.transform(
        cands,
        lambda p: F.struct(
            F.round(_l2sq(sv, p["cb"]), 6).alias("d"), p["code"].alias("code")
        ),
    )
    return F.array_sort(scored).getItem(0)["code"].cast("int")


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> dict[tuple[int, int], list[float]]:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subspaces and run ONE Lloyd's iteration of ``ksub``-means per
    subspace (L2 assignment, per-dimension mean recompute, both rounded
    to ``round_digits`` for cross-engine reproducibility), seeded with
    the ``ksub`` lowest-id vectors' subvectors.

    All m trainings share the SAME physical passes: one subspace-explode
    scan assigns every (vector, subspace) row to its seed codeword (seed
    codebooks ride as one literal), and one groupBy((sub, code)) with
    map-side partial aggregation recomputes every codebook — the shuffle
    moves m × ksub × dim/m running sums per partition, never corpus
    rows. The driver holds m × ksub × dim/m doubles (the PQ analogue of
    the Lloyd's centroid barrier). Codewords that capture no vectors
    after the iteration are DROPPED (both engines mirror this; no
    reseed — PQ quality degrades gracefully with a shorter codebook,
    unlike IVF where ``kmeans_iterate`` keeps k constant).

    At 100 TB, do NOT train on the full corpus: pass a deterministic
    sample (e.g. ``corpus.filter(hash-bucket < p)``) — PQ codebooks
    saturate at ~100k training vectors, which turns the one
    linear-in-corpus stage of the PQ pipeline into a bounded one. The
    demo queries train on the whole (tiny) test corpus only because it
    is smaller than a realistic sample.

    Returns {(sub_no, code) -> codeword (dim/m doubles)}.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    seed_rows = (
        corpus.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(ksub).collect()
    )
    if len(seed_rows) != ksub:
        raise ValueError(f"pq_train_codebooks: corpus has {len(seed_rows)} < ksub={ksub} vectors")
    seeds: dict[tuple[int, int], list[float]] = {}
    for rank, r in enumerate(seed_rows):
        vec = [float(x) for x in r[1]]
        for j in range(m):
            seeds[(j, rank)] = vec[j * dsub : (j + 1) * dsub]
    seed_lit = _pq_codebook_literal(seeds, m)
    sub_structs = [
        F.struct(
            F.lit(j).alias("sub_no"),
            F.slice(_as_double(F.col(vec_col)), j * dsub + 1, dsub).alias("sv"),
        )
        for j in range(m)
    ]
    subs = fan_out(corpus.select(id_col, vec_col)).select(
        F.col(id_col), F.explode(F.array(*sub_structs)).alias("s")
    ).select(id_col, F.col("s.sub_no").alias("sub_no"), F.col("s.sv").alias("sv"))
    assigned = subs.select(
        "sub_no",
        "sv",
        _pq_assign_code(
            F.col("sv"), F.element_at(seed_lit, F.col("sub_no") + 1)
        ).alias("code"),
    )
    aggs = [
        F.round(F.avg(F.col("sv").getItem(i)), round_digits).alias(f"__c{i}")
        for i in range(dsub)
    ]
    rows = assigned.groupBy("sub_no", "code").agg(*aggs).collect()
    return {
        (int(r["sub_no"]), int(r["code"])): [r[f"__c{i}"] for i in range(dsub)]
        for r in rows
    }


def pq_encode(
    corpus: DataFrame,
    codebooks: dict[tuple[int, int], list[float]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>, *keep) — each vector compressed to ``m``
    codeword ids (64 floats → 4 bytes at m=4/ksub≤256: a 64× index
    compression). One narrow map: all m argmins evaluate in a single
    projection over the codebook literal; no explode, no shuffle.
    ``keep`` carries extra columns (e.g. an IVF ``cluster_id``) through
    the same scan so an IVF-PQ index never needs a second corpus pass.

    The m per-subspace argmins run inside ONE ``transform`` over
    ``sequence(0, m-1)`` so the codebook literal is embedded ONCE in
    the plan — the previous ``F.array`` of m separate argmin columns
    re-embedded the full m×ksub×dsub-double literal per subspace
    (~8×1024 doubles at m=8), and the DRIVER re-analyzed every copy on
    every job (r16 verdict item 1). Same arithmetic per element, same
    ascending subspace order, so the emitted codes are bit-identical;
    the sliced subvector start is a per-element expression now, which
    the interpreted HOF evaluated per row either way."""
    dsub = dim // m
    cblit = _pq_codebook_literal(codebooks, m)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: _pq_assign_code(
            F.slice(_as_double(F.col(vec_col)), j * dsub + 1, dsub),
            F.element_at(cblit, j + 1),
        ),
    )
    return corpus.select(F.col(id_col), codes.alias("codes"), *[F.col(c) for c in keep])


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: dict[tuple[int, int], list[float]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    rescore_factor: int = 3,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC top-k: coarse search reads ONLY the m-byte PQ codes —
    per (query, corpus-code) the reconstructed cosine comes from 2m
    table lookups (the asymmetric-distance trick: each query
    precomputes its dot product with every codeword ONCE; corpus rows
    are then scored without touching any float vector) — followed by
    exact float rescoring of the top k × rescore_factor survivors.

    Plan shape: the query side (tiny) computes its m × ksub lookup
    table in one projection over the codebook literal and broadcasts;
    the corpus side streams codes through a narrow map — the scan reads
    m ints per row instead of ``dim`` floats, the 100 TB win. Codeword
    self-dots (reconstruction norms) are Python-computed literals.
    ``codes`` optionally reuses a prebuilt ``pq_encode`` output
    (id_col + codes; extra columns dropped) so several searches share
    one encoded-corpus table.
    Output: (query_id, neighbor_id, cosine_sim, rank) with EXACT
    rounded float cosine, matching the other search operators.
    """
    dsub = dim // m
    dense_lit, normlit = _pq_dense_tables(codebooks, m, dsub)
    if codes is None:
        codes = pq_encode(corpus, codebooks, m, id_col, vec_col, dim)
    codes = codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    qside = _pq_query_lut(queries, dense_lit, normlit, m, dsub, id_col, vec_col)
    coarse = (
        codes.crossJoin(F.broadcast(qside))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pq_adc_qcos(m, F.col("__norms")).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)


def _pq_dense_tables(
    codebooks: dict[tuple[int, int], list[float]], m: int, dsub: int
) -> tuple[Column, Column]:
    """DENSE per-code literal tables (index = code + 1) shared by the
    flat and IVF ADC searches: codes are seed ranks 0..ksub-1 by
    construction, and a codeword dropped in training can never be
    EMITTED by pq_encode (its argmin runs over the surviving codebook
    only), so the zero placeholders below are unreachable — they exist
    purely to keep the hot-path lookup a plain array index (element_at
    on a literal, codegen'd) instead of a per-row map_from_entries
    build (interpreted; measured 2x slower at sf0.1). Returns
    (codeword table, reconstruction-norm ||cb||² table, python-exact)."""
    max_code = max(code for _, code in codebooks)
    dense: list[list[list[float]]] = [
        [codebooks.get((j, c), [0.0] * dsub) for c in range(max_code + 1)]
        for j in range(m)
    ]
    dense_lit = F.expr(
        "array(%s)"
        % ",".join(
            "array(%s)"
            % ",".join(
                "array(%s)" % ",".join(f"CAST({x!r} AS DOUBLE)" for x in cb)
                for cb in sub
            )
            for sub in dense
        )
    )
    normlit = F.expr(
        "array(%s)"
        % ",".join(
            "array(%s)"
            % ",".join(
                "CAST(%r AS DOUBLE)" % sum((x * x for x in cb), 0.0) for cb in sub
            )
            for sub in dense
        )
    )
    return dense_lit, normlit


def _pq_query_lut(
    queries: DataFrame,
    dense_lit: Column,
    normlit: Column,
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, __lut, __qnorm, __norms): per-query ADC lookup table
    lut[j][c] = dot(q_j, codeword c) — computed once per (tiny) query
    row and broadcast with it into the coarse join, alongside the
    codeword reconstruction-norm table."""
    qv = _as_double(F.col(vec_col))
    lut = F.transform(
        dense_lit,
        lambda sub, j: F.transform(
            sub, lambda cb: dot(F.slice(qv, j * dsub + 1, dsub), cb)
        ),
    )
    return queries.select(
        F.col(id_col).alias("query_id"),
        lut.alias("__lut"),
        norm(qv).alias("__qnorm"),
        # the reconstruction-norm table rides the (tiny) query side as
        # ONE literal projection — the ADC score used to re-embed it m
        # times (m copies of an m×ksub-double literal per search plan,
        # r16 verdict item 1); downstream references are attributes now
        normlit.alias("__norms"),
    )


def _pq_adc_qcos(m: int, normlit: Column) -> Column:
    """Reconstructed cosine from 2m table hits over the ``codes`` /
    ``__lut`` / ``__qnorm`` columns — no float vector touched."""

    def lookup(tab: Column, j: int) -> Column:
        return F.element_at(
            F.element_at(tab, j + 1), F.element_at(F.col("codes"), j + 1) + 1
        )

    rdot = sum(lookup(F.col("__lut"), j) for j in range(m))
    rnorm2 = sum(lookup(normlit, j) for j in range(m))
    return F.round(rdot / (F.col("__qnorm") * F.sqrt(rnorm2)), 6)


def pq_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    codebooks: dict[tuple[int, int], list[float]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    rescore_factor: int = 3,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ADC top-k — the canonical billion-scale ANN index shape
    (inverted lists for scan pruning × product quantization for
    bandwidth): the ADC coarse search runs only inside each query's
    ``nprobe`` nearest inverted lists, reading m-byte PQ codes instead
    of ``dim`` floats, then exact float rescoring of the
    k × rescore_factor survivors.

    Completes the ladder flat → IVF → IVF-multiprobe → SQ8 → IVF-SQ8 →
    PQ → IVF-PQ: relative to :func:`pq_adc_topk` the corpus scan drops
    to ~nprobe/P of the lists; relative to :func:`quantized_ivf_topk`
    each scanned row costs 2m table hits instead of a dim-long integer
    dot product, and the code table is dim/m× smaller again.

    Plan shape: one pinned single-assignment pass builds the inverted
    lists; PQ encoding rides the same scan as a narrow map (``keep``
    carries cluster_id — no second corpus pass, no join to re-attach
    the list id). The query side (tiny) computes its LUT once, fans out
    to ``nprobe`` lists, and broadcasts into the cluster-pruned join.
    Single-assignment keeps (query, neighbor) pairs unique — no dedup.
    ``codes`` optionally reuses a prebuilt ``pq_encode(...,
    keep=("cluster_id",))`` table (must carry cluster_id).

    Output: (query_id, neighbor_id, cosine_sim, rank) with EXACT
    rounded float cosine, matching the other search operators.
    """
    dsub = dim // m
    dense_lit, normlit = _pq_dense_tables(codebooks, m, dsub)
    if codes is None:
        # the inverted-list pass (incl. its eager pivot collect) is only
        # needed to BUILD the code table; a caller supplying codes has
        # already paid it once for all searches
        if assigned is None:
            assigned = assign_clusters(corpus, pivots, id_col, vec_col).localCheckpoint(
                eager=False
            )
        codes = pq_encode(
            assigned, codebooks, m, id_col, vec_col, dim, keep=("cluster_id",)
        )
    codes = codes.select(F.col(id_col).alias("neighbor_id"), "codes", "cluster_id")
    qprobe = assign_clusters_multi(queries, pivots, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cluster_id"
    )
    qside = _pq_query_lut(queries, dense_lit, normlit, m, dsub, id_col, vec_col).join(
        qprobe, "query_id"
    )
    coarse = (
        codes.join(F.broadcast(qside), on="cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pq_adc_qcos(m, F.col("__norms")).alias("qcos"),
        )
    )
    return _rescore_topk(coarse, queries, corpus, id_col, vec_col, k, rescore_factor)
