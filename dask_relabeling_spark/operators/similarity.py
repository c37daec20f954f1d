"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k with JVM-side vector arithmetic
(``zip_with`` + ``aggregate`` — no Python in the loop).  Scale path:
LSH-bucketed search (random-hyperplane signs) that prunes candidates with an
equality join on the bucket key, the same pattern as MinHash-LSH dedup.

At 100 TB the broadcast side is the query set (small), the big side streams:
``crossJoin(broadcast(queries))`` is a broadcast nested-loop that never
shuffles the corpus, and the top-k is a ``row_number`` window partitioned by
query id over the scored stream.
"""
from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import warn_once


def _nonfinite(x: Column) -> Column:
    return x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))


def as_vec(c) -> Column:
    """Embedding-column ingestion: cast to ``array<double>``, NULL
    unless every component is non-null and finite.  A vector with a
    NaN/±Inf component (a crashed embedder, a bad parse) is ill-formed,
    and an ill-formed vector must behave exactly like a NULL embedding
    everywhere downstream — the engines disagree on almost everything
    about non-finite values (Spark compares NaN greater-than-everything
    but ANSI-errors casting it to integral types; DuckDB does the same
    comparison but errors on CAST(NaN AS BIGINT); NULL ranks last on
    both), so normalizing ONCE at ingestion is the only portable total
    convention — every similarity/centroid/moment path then reuses the
    already-verified NULL-embedding behavior (tools/null_parity_sweep
    edge profile; DuckDB side: plans/llm.py::_DUCK_VEC)."""
    col = F.col(c) if isinstance(c, str) else c
    v = col.cast("array<double>")
    return F.when(~F.exists(v, _nonfinite), v)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, TOTAL over dirty corpora: a zero-norm vector
    (a failed embedding job writes all-zeros) has no defined angle, so
    the score is NULL — try_divide, not ``/``, because under ANSI mode
    one zero vector otherwise kills the whole job with DIVIDE_BY_ZERO
    (tools/null_parity_sweep.py, edge profile).  NULL scores sort LAST
    under the rank windows' DESC (both engines' default), so zero-norm
    vectors lose every top-k tie-break instead of crashing it; the
    oracles guard their divisions with the matching CASE WHEN nrm > 0.

    Also total over ILL-FORMED inputs: a NaN/Inf component poisons the
    dot/norm folds into a non-finite ratio, and the engines disagree on
    non-finite ordering — so a non-finite ratio is NULL, exactly like
    zero-norm.  This result-level guard costs one scalar check per
    score (vs a whole extra pass for ``as_vec`` on the input), letting
    single-pass scoring scans skip ingestion normalization; the oracles
    get the same totality from ``_DUCK_VEC`` NULLing the vector.
    ``nanvl`` (not a when-guard) so the HOF ratio is referenced exactly
    once — HOF exprs are CodegenFallback, so a multiply-referenced
    ratio re-evaluates the folds per reference.  NaN is the ONLY
    non-finite ratio possible: ±Inf needs a zero norm-product with a
    nonzero dot (contradiction) or an Inf dot with finite norms
    (contradiction), and zero-norm is already NULL via try_divide."""
    return F.nanvl(F.try_divide(_dot(a, b), _norm(a) * _norm(b)),
                   F.lit(None).cast("double"))


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding"
                ) -> DataFrame:
    """Brute-force cosine top-k against one query vector.

    Ranked output (rank, id) with a deterministic id tie-break; the score
    itself is intentionally not part of the contract (float formatting
    differs across engines).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # plain cast, NOT as_vec: this scan's whole execution cost is one
    # pass per vector, and an ingestion finiteness pass would add a
    # second (plus HOF-heavy analysis time that dominates small-SF
    # walls); cosine()'s result-level finite guard gives the same NULL
    # score for ill-formed vectors at the cost of one scalar check.
    # The projection keeps the cast single-evaluation (no CSE across
    # HOF lambdas; CollapseProject keeps a non-cheap multi-use alias)
    scored = (df.select(F.col(id_col),
                        F.col(vec_col).cast("array<double>").alias("v"))
              .select(F.col(id_col),
                      cosine(F.col("v"), q).alias("cos")))
    # Global top-k via orderBy+limit: Spark plans TakeOrderedAndProject —
    # a per-partition bounded heap + driver merge, never an
    # Exchange SinglePartition over the scored corpus (a bare
    # row_number() window would funnel every scored row through one
    # partition).  The rank window then runs over the already-limited
    # k rows; TakeOrderedAndProjectExec outputs a single sorted
    # partition, so no exchange (and no re-sort) is inserted for it.
    topk = scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cos"), F.col(id_col))
    return (topk.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col))


def cosine_neardup_pairs(df: DataFrame, threshold_num: int = 45,
                         threshold_den: int = 100,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs above num/den.

    Brute-force variant (correctness baseline): all a<b pairs scored with
    JVM array arithmetic.  The LSH variant below is the scale path; at
    sf-test sizes this exact form is also the oracle's plan.
    """
    vecs = (df.select(F.col(id_col).alias("id"),
                      as_vec(vec_col).alias("v"))
            .select("id", "v", _norm(F.col("v")).alias("nrm")))
    a, b = vecs.alias("a"), vecs.alias("b")
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            # try_divide: zero-norm vectors score NULL and fail the
            # threshold filter instead of killing the job (see cosine)
            .withColumn("cos", F.try_divide(
                _dot(F.col("a.v"), F.col("b.v")),
                F.col("a.nrm") * F.col("b.nrm")))
            .filter(F.col("cos") * threshold_den >= threshold_num)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))


def ivf_cell_assignments(df: DataFrame, n_centroids: int = 8,
                         n_assign: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Multi-assignment IVF quantization: every vector is assigned to its
    ``n_assign`` nearest centroid cells by cosine (ties -> lowest cid).
    Centroids are the ``n_centroids`` lowest-id vectors (sort+limit —
    sparse/offset id spaces work) — the same deterministic quantizer as
    ``ivf_cells`` (a trained k-means drop-in swaps the centroid
    frame).

    Shape: corpus x broadcast(tiny centroids) nested-loop, then a
    ``row_number`` window partitioned by the high-cardinality vector id
    (n_centroids rows per partition key — no skew, no single-partition
    stage).  Output: (id, cell), ``n_assign`` rows per vector.
    """
    vecs = df.select(F.col(id_col).alias("id"),
                     as_vec(vec_col).alias("v"))
    cents = (vecs.orderBy("id").limit(n_centroids)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    scored = (vecs.crossJoin(F.broadcast(cents))
              .select("id", "cid",
                      cosine(F.col("v"), F.col("cv")).alias("cos")))
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.col("cid"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_assign)
            .select("id", F.col("cid").alias("cell")))


def ivf_neardup_pairs(df: DataFrame, threshold_num: int = 45,
                      threshold_den: int = 100,
                      n_centroids: Optional[int] = None,
                      n_assign: int = 2, target_cell: int = 256,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs, bucketed (SemDeDup-style): candidates are
    pairs sharing at least one of their ``n_assign`` nearest IVF cells,
    then exact-cosine verified with the integer-rational threshold.

    This is the scale path that replaces the brute-force all-pairs join
    (`cosine_neardup_pairs`, kept as the correctness baseline/test
    oracle): candidate generation is an equality join on the cell key,
    so work is bounded by cell sizes.  The centroid count is
    SCALE-TRUE by default: ``n_centroids = max(8, ceil(n /
    target_cell))`` derived from the corpus size (same contract as
    ``semantic_dedup``'s k∝n — a FIXED count makes cells, and hence
    within-cell candidate pairs, grow quadratically with the corpus:
    the round-7 probe measured the fixed-8 variant unable to finish
    10× data in 7 min while the scale-true one stays linear).  Recall
    is the documented ANN trade: pairs split across cell boundaries
    are missed (multi-assignment recovers most; measured 12/14 at the
    sf0.01 gate where the planted pairs sit barely above the 0.45
    threshold — genuinely-near duplicates assign together with
    probability ~1).  Output: (id_a, id_b).

    NOTE: when ``n_centroids`` is None the builder is NOT fully lazy —
    deriving the scale-true count requires ``df.count()``, an eager
    action at construction time.  The input is ``scoped_persist``-ed
    first so the count materializes the blocks the downstream plan then
    reuses (one upstream execution, not two); callers with a known
    corpus size can stay lazy by passing ``n_centroids`` explicitly.
    """
    if n_centroids is None:
        import math
        from ..session import scoped_persist
        df = scoped_persist(df)
        n_centroids = max(8, math.ceil(df.count() / target_cell))
    cells = ivf_cell_assignments(df, n_centroids, n_assign,
                                 id_col, vec_col)
    cand = (cells.alias("a")
            .join(cells.alias("b"),
                  (F.col("a.cell") == F.col("b.cell")) &
                  (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())
    # two-step projection: one as_vec evaluation per row, not two —
    # no CSE across HOF lambdas (see cosine_neardup_pairs)
    vecs = (df.select(F.col(id_col).alias("id"),
                      as_vec(vec_col).alias("v"))
            .select("id", "v", _norm(F.col("v")).alias("nrm")))
    scored = (cand
              .join(vecs.select(F.col("id").alias("id_a"),
                                F.col("v").alias("va"),
                                F.col("nrm").alias("na")), "id_a")
              .join(vecs.select(F.col("id").alias("id_b"),
                                F.col("v").alias("vb"),
                                F.col("nrm").alias("nb")), "id_b")
              .withColumn("cos", F.try_divide(
                  _dot(F.col("va"), F.col("vb")),
                  F.col("na") * F.col("nb"))))
    return (scored.filter(F.col("cos") * threshold_den >= threshold_num)
            .select("id_a", "id_b"))


def default_lsh_planes(n_planes: int = 5, dim: int = 64,
                       seed: int = 20240813) -> List[List[float]]:
    """Deterministic pseudo-random hyperplanes (64-bit LCG), identical
    constants on the Spark side and in the generated SQL oracle — both
    engines compute bit-identical bucket keys."""
    s = seed
    planes: List[List[float]] = []
    for _ in range(n_planes):
        p = []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # top 32 bits / 2^31 in [0, 2) -> uniform [-1, 1).  (A previous
            # revision shifted by 33, leaving every coordinate in [-1, 0):
            # all-negative planes are mutually correlated and collapse most
            # vectors into 2 of the 2^n buckets, defeating the pruning.)
            p.append(((s >> 32) / float(1 << 31)) - 1.0)
        planes.append(p)
    return planes


def hyperplane_lsh_buckets(df: DataFrame, planes: List[List[float]],
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over fixed planes.
    Vectors in one bucket are cosine-close with high probability; ANN
    queries join on the bucket key instead of scanning the corpus."""
    # one as_vec evaluation per row, not one per plane (see cosine_topk)
    vecs = df.select(F.col(id_col), as_vec(vec_col).alias("v"))
    bits = [F.when(_dot(F.col("v"),
                        F.array(*[F.lit(float(x)) for x in p]))
                   >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in planes]
    return vecs.select(F.col(id_col),
                       F.concat(*bits).alias("bucket"))


def lsh_cosine_topk(df: DataFrame, query_vec: Sequence[float],
                    planes: List[List[float]], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> DataFrame:
    """ANN top-k: score only the query's LSH bucket (falls back to exact
    rank semantics only within the bucket — the documented ANN trade-off).

    The query's bucket is computed with the SAME Spark expression as the
    corpus buckets (one single-row job) — numpy's pairwise summation can
    round a near-zero dot product to the opposite sign of the engine's
    sequential fold, which would put the query in a bucket none of its
    corpus neighbors occupy."""
    spark = df.sparkSession
    qdf = spark.createDataFrame([(0, list(float(v) for v in query_vec))],
                                f"{id_col} int, {vec_col} array<double>")
    qb = hyperplane_lsh_buckets(qdf, planes, id_col, vec_col) \
        .first()["bucket"]
    bucketed = hyperplane_lsh_buckets(df, planes, id_col, vec_col)
    cand = df.join(bucketed.filter(F.col("bucket") == qb)
                   .select(id_col), id_col)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def pq_codes(df: DataFrame, n_sub: int = 8, sub_dim: int = 8,
             n_centroids: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Product-quantization codes: split each vector into ``n_sub``
    sub-vectors of ``sub_dim`` dims; per sub-space, assign the nearest
    (L2, ties -> lowest centroid id) of ``n_centroids`` codebook entries
    and pack the per-sub-space codes into one integer.  Codebooks
    are the sub-vectors of the ``n_centroids`` LOWEST-ID vectors,
    selected by sort+limit (so sparse/offset id spaces work too) — the
    same deterministic stand-in quantizer as ``ivf_cells`` (a trained
    codebook frame is a drop-in).

    The packed field is the codebook entry's RANK (0-based position in
    cid order), never the raw cid value: ranks always fit the
    ``bits``-wide field regardless of the corpus id space, and the ADC
    table in ``ivfpq_topk`` (sorted by cid, indexed positionally) lines
    up with them by construction.  Packing raw cids would overflow the
    field — and silently corrupt neighboring sub-space codes — the
    moment ids aren't dense 0-based.

    This is the memory side of large-scale ANN: 64 float32 dims become
    ``n_sub * log2(n_centroids)`` bits (here 16), so a 100 TB embedding
    corpus's index fits in RAM.  Shape: corpus x broadcast(tiny
    codebook) nested-loop, all ``n_sub`` sub-distances computed in one
    pass over that join (JVM ``zip_with``/``aggregate`` on array
    slices), then ONE ``min_by``-per-sub-space aggregation keyed by the
    high-cardinality vector id — no skew, no second shuffle.
    Output: (id, code) with code = sum(rank_s << (bits*s)).
    """
    bits = max(1, (n_centroids - 1).bit_length())
    vecs = df.select(F.col(id_col).alias("id"),
                     as_vec(vec_col).alias("v"))
    # (crank, cid, cv): rank derived by packing the tiny codebook into
    # one sorted row and posexploding — no global window, no exchange.
    cents = (vecs.orderBy("id").limit(n_centroids)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
             .agg(F.array_sort(F.collect_list(F.struct("cid", "cv")))
                  .alias("cs"))
             .select(F.posexplode("cs").alias("crank", "c"))
             .select("crank", F.col("c.cid").alias("cid"),
                     F.col("c.cv").alias("cv")))

    def sub_l2(s: int) -> Column:
        a = F.slice(F.col("v"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("cv"), s * sub_dim + 1, sub_dim)
        return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, d: acc + d)

    scored = (vecs.crossJoin(F.broadcast(cents))
              .select("id", "crank",
                      *[sub_l2(s).alias(f"d{s}") for s in range(n_sub)]))
    # ties -> lowest cid == lowest crank (rank is monotone in cid)
    code_terms = [
        F.min_by("crank", F.struct(F.col(f"d{s}"), F.col("crank")))
        .alias(f"c{s}") for s in range(n_sub)]
    agg = scored.groupBy("id").agg(*code_terms)
    packed = None
    for s in range(n_sub):
        term = F.shiftleft(F.col(f"c{s}").cast("long"), bits * s)
        packed = term if packed is None else packed + term
    return agg.select("id", packed.cast("long").alias("code"))


def ivf_cells(df: DataFrame, n_centroids: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid cell by cosine (ties -> lowest centroid id).  Centroids
    are the ``n_centroids`` LOWEST-ID vectors, selected by sort+limit
    (sparse/offset id spaces work) — a deterministic quantizer both
    engines can replay (a trained k-means drop-in just swaps the
    centroid frame).

    One broadcast nested-loop over the tiny centroid set + a fine-grained
    ``max_by`` aggregation keyed by vector id: the corpus never shuffles
    on anything coarser than its own id, so no skew regardless of how
    lopsided the cells are.  Output: (id, cell).  At scale, persist this
    (or write it bucketed by cell) so probes prune at the scan.
    """
    vecs = df.select(F.col(id_col).alias("id"),
                     as_vec(vec_col).alias("v"))
    cents = (vecs.orderBy("id").limit(n_centroids)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    scored = (vecs.crossJoin(F.broadcast(cents))
              .select("id", "cid",
                      cosine(F.col("v"), F.col("cv")).alias("cos")))
    return (scored.groupBy("id")
            .agg(F.max_by("cid", F.struct(F.col("cos"),
                                          (-F.col("cid")).alias("neg")))
                 .alias("cell")))


def ivf_cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                    n_centroids: int = 8, n_probe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> DataFrame:
    """IVF ANN top-k: rank the query against the centroids, score only
    vectors whose cell is among the ``n_probe`` nearest — the classic
    inverted-file pruning (scan cost ~ n_probe/n_centroids of the
    corpus).  Probe selection runs as a Spark job over the centroid
    frame, never driver-side numpy, so the float fold order matches the
    cell-assignment expression exactly (a pairwise-summed near-tie could
    otherwise probe a different cell than assignment chose).
    """
    spark = df.sparkSession
    qdf = spark.createDataFrame([(list(float(v) for v in query_vec),)],
                                f"{vec_col} array<double>")
    cents = (df.select(F.col(id_col).alias("cid"),
                       as_vec(vec_col).alias("cv"))
             .orderBy("cid").limit(n_centroids))
    probe = [r["cid"] for r in
             (cents.crossJoin(F.broadcast(qdf))
              .select("cid", cosine(F.col("cv"),
                                    as_vec(vec_col))
                      .alias("cos"))
              .orderBy(F.desc("cos"), "cid").limit(n_probe).collect())]
    cells = ivf_cells(df, n_centroids, id_col, vec_col)
    cand = df.join(cells.filter(F.col("cell").isin(probe))
                   .select(F.col("id").alias(id_col)), id_col)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def _probe_and_adc(cents: DataFrame, qdf: DataFrame, n_probe: int,
                   n_codes: int, n_sub: int, sub_dim: int,
                   cb: Optional[DataFrame] = None,
                   engine_topk: bool = False):
    """Probe-cell selection AND the ADC lookup table from ONE job over
    the tiny quantizer metadata — ``(probe_cids, tab)``.

    Previously these were two separate driver actions — a probe
    collect over the centroid frame and an ADC ``first()`` over the
    codebook frame — each paying a full job round-trip (scheduling +
    codegen of the HOF folds + a tiny-parquet read) per query; the
    r16 decomposition measured them as per-job fixed costs, not data
    (guide §1.2/§2.4: two consumers of tiny metadata share one pass).
    With ``cb=None`` the PQ codebook is the ``n_codes`` lowest-cid
    centroid rows (how ``pq_codes`` itself derives it — the
    rebuild-per-query path), so one scan of ``cents`` serves both;
    with an explicit ``cb`` frame (the stored-index path, where a
    trained-quantizer build may write a codebook that is NOT a
    centroid prefix) the two frames ride one job as a tagged union.

    Fold orders are unchanged: ``cos`` is the ``cosine()`` expression
    verbatim (cell assignment's fold), each ``ds[s]`` the
    ``pq_codes``/build sub-L2 fold verbatim, both computed engine-side
    and collected as exact Python floats.  Only the top-``n_probe``
    SELECTION moves driver-side, over those exact doubles: Spark's
    ``orderBy(desc(cos), cid)`` is DESC NULLS LAST with cos either
    NULL or finite (``cosine`` maps NaN/zero-norm to NULL, and ±Inf is
    unreachable — see its docstring), which the key below reproduces
    exactly (Python float comparison == IEEE double comparison; -0.0
    ties 0.0 on both sides and the cid tiebreak decides).  The ADC
    table is the codebook rows cid-ascending — exactly the old
    ``array_sort(collect_list(struct(cid, ds)))``.  Parity with the
    two-job formulation is pinned in
    tests/test_similarity.py::test_fused_probe_adc_matches_two_jobs.

    SCALE GUARD (round 17, ``engine_topk``): the default path collects
    the full centroid frame — right for the handful-of-centroids
    quantizers this module registers (an interleaved A/B measured the
    engine-side alternative +0.4 s per query of pure plan overhead at
    n_centroids=8), wrong for a trained quantizer's 10^4-10^6
    centroids, where it is a driver-side materialization in a query
    path.  With ``engine_topk=True`` the top-``n_probe`` selection
    runs engine-side (``orderBy(desc(cos), cid).limit`` — the exact
    pre-r16 ``_probe_cells`` selection, identical keys to the driver
    sort) and the codebook rides the SAME single collect as a tagged
    union, so the one-job shape is kept and the collect returns at
    most n_probe + n_codes (+ explicit-cb) rows regardless of
    quantizer size.  Callers flip it from what they know —
    ``ivfpq_topk`` from its ``n_centroids`` argument,
    ``ivfpq_topk_indexed`` from the stored centroid table's on-disk
    footprint (a driver-side FS metadata call, no job).  Parity of
    both paths — including a 10^4-centroid frame — is pinned in
    tests/test_similarity.py::test_fused_probe_adc_large_quantizer."""
    def q_sub_l2(s: int) -> Column:
        a = F.slice(F.col("qv"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("cv"), s * sub_dim + 1, sub_dim)
        return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, d: acc + d)

    def scored(frame):
        # ONE crossJoin+select over the (possibly unioned) source: the
        # cos/ds HOF folds codegen once — duplicating them per union
        # arm measured +0.25 s of pure plan overhead per query
        return (frame.crossJoin(F.broadcast(qdf))
                .select("cid", "pq",
                        cosine(F.col("cv"), F.col("qv")).alias("cos"),
                        F.array(*[q_sub_l2(s) for s in range(n_sub)])
                        .alias("ds")))

    if engine_topk:
        csrc = scored(cents.select("cid", "cv")
                      .withColumn("pq", F.lit(False)))
        probe_side = csrc.orderBy(F.desc("cos"), "cid").limit(n_probe)
        cb_side = (scored(cb.select("cid", "cv")
                          .withColumn("pq", F.lit(True)))
                   if cb is not None
                   else csrc.orderBy("cid").limit(n_codes)
                   .withColumn("pq", F.lit(True)))
        rows = probe_side.unionByName(cb_side).collect()
        # a union's collect order is not a contract — the driver
        # re-sorts the <= n_probe + n_codes collected rows below with
        # the same keys the engine used
        cent_rows = [r for r in rows if not r["pq"]]
        cb_rows = [r for r in rows if r["pq"]]
    else:
        src = cents.select("cid", "cv")
        if cb is not None:
            src = (src.withColumn("pq", F.lit(False))
                   .unionByName(cb.select("cid", "cv")
                                .withColumn("pq", F.lit(True))))
        else:
            src = src.withColumn("pq", F.lit(None).cast("boolean"))
        rows = scored(src).collect()
        cent_rows = ([r for r in rows if not r["pq"]] if cb is not None
                     else rows)
        cb_rows = ([r for r in rows if r["pq"]] if cb is not None
                   else sorted(rows, key=lambda r: r["cid"])[:n_codes])
    by_cos = sorted(cent_rows,
                    key=lambda r: (r["cos"] is None,
                                   -r["cos"] if r["cos"] is not None
                                   else 0.0,
                                   r["cid"]))
    probe = [r["cid"] for r in by_cos[:n_probe]]
    cb_rows = sorted(cb_rows, key=lambda r: r["cid"])
    tab = [None if r["ds"] is None else list(r["ds"]) for r in cb_rows]
    return probe, tab


def _lit_double(x) -> Column:
    return (F.lit(None).cast("double") if x is None
            else F.lit(float(x)))


# Quantizer-size bounds for the full-collect probe path (see
# _probe_and_adc's SCALE GUARD note): a known centroid COUNT above the
# first, or a stored centroid table whose on-disk BYTES exceed the
# second, flips the probe selection engine-side.  Both are bounds on
# what a query path may pull to the driver, far below broadcast-size
# territory; the registered 8-centroid quantizers sit orders of
# magnitude under them either way.
_COLLECT_MAX_CENTROIDS = 1024
_COLLECT_MAX_METADATA_BYTES = 8 * 1024 * 1024


def _stored_metadata_is_small(spark, path: str) -> bool:
    """True when the stored table under ``path`` is small enough to
    collect whole — decided from the FS content summary (driver-side
    metadata, no Spark job).  Unknown/failed lookups answer False:
    the engine-side selection is the safe default at scale, but it is
    slower for a small quantizer, so a failed lookup warns once."""
    try:
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        return (fs.getContentSummary(hpath).getLength()
                <= _COLLECT_MAX_METADATA_BYTES)
    except Exception as exc:  # no JVM handle (Spark Connect), FS error
        warn_once(
            "similarity.stored_metadata",
            "stored quantizer size lookup failed "
            f"({type(exc).__name__}: {exc}); probing on the engine-side "
            "path, which is slower for small quantizers")
        return False


def _adc_topk(codes: DataFrame, tab: list, k: int, n_sub: int,
              n_codes: int, id_col: str) -> DataFrame:
    """Rank (id, code) rows by asymmetric distance — an explicit left
    fold ((0.0 + t0) + t1) + ... over sub-spaces so the double sums
    replay exactly in SQL — then global top-k via
    ``TakeOrderedAndProject``.  ``tab`` is the literal ADC table from
    ``_adc_table``; embedding it as a constant array keeps the scan a
    single narrow pass (no crossJoin, no per-action broadcast).
    Output: (rank, id_col)."""
    bits = max(1, (n_codes - 1).bit_length())
    tab_col = (F.array(*[
        F.lit(None).cast("array<double>") if ds is None
        else F.array(*[_lit_double(d) for d in ds]) for ds in tab])
        if tab else F.array().cast("array<array<double>>"))
    adc = F.lit(0.0)
    for s in range(n_sub):
        code_s = (F.shiftright(F.col("code"), bits * s)
                  .bitwiseAND((1 << bits) - 1)).cast("int")
        adc = adc + F.element_at(F.element_at(tab_col, code_s + 1),
                                 s + 1)
    ranked = codes.select("id", adc.alias("adc"))
    w = Window.orderBy(F.col("adc").asc(), F.col("id").asc())
    return (ranked.orderBy(F.col("adc").asc(), F.col("id").asc())
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", F.col("id").alias(id_col)))


def ivfpq_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
               n_centroids: int = 8, n_probe: int = 2,
               n_sub: int = 8, sub_dim: int = 8, n_codes: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """IVF-PQ ANN (the Jégou et al. IVFADC pipeline): coarse-probe the
    ``n_probe`` nearest of ``n_centroids`` cells, then rank candidates
    by ASYMMETRIC DISTANCE (ADC) — the query's per-sub-space L2 against
    each candidate's PQ code, looked up from a precomputed
    ``n_sub x n_codes`` distance table — WITHOUT touching the original
    vectors.  This is the memory architecture of billion-vector search:
    after indexing, the scan reads (id, cell, 16-bit code), never the
    float payload; the full-precision corpus stays on cold storage.

    Shape: probe selection is a Spark job over the centroid frame
    (fold-order-aligned with cell assignment); the ADC table is ONE
    broadcast row (n_sub * n_codes doubles); candidate ranking is a
    narrow map + ``TakeOrderedAndProject``.  Determinism: every
    distance folds in array-index order and the ADC sum is an explicit
    left fold over sub-spaces, so ranks replay exactly in SQL.
    Output: (rank, vec_id) — the ADC-approximate top-k."""
    spark = df.sparkSession
    qdf = spark.createDataFrame([(list(float(v) for v in query_vec),)],
                                "qv array<double>")
    cents = (df.select(F.col(id_col).alias("cid"),
                       as_vec(vec_col).alias("cv"))
             .orderBy("cid").limit(n_centroids))
    # one metadata job: the codebook is the n_codes lowest-cid centroid
    # rows, so the probe cosines and the ADC table share one scan
    probe, tab = _probe_and_adc(
        cents, qdf, n_probe, n_codes, n_sub, sub_dim,
        engine_topk=n_centroids > _COLLECT_MAX_CENTROIDS)
    cells = ivf_cells(df, n_centroids, id_col, vec_col)
    cand = (cells.filter(F.col("cell").isin(probe))
            .select("id"))
    codes = pq_codes(df, n_sub, sub_dim, n_codes, id_col, vec_col) \
        .join(cand, "id")
    return _adc_topk(codes, tab, k, n_sub, n_codes, id_col)


def build_ivfpq_index(df: DataFrame, path: str, n_centroids: int = 8,
                      n_sub: int = 8, sub_dim: int = 8, n_codes: int = 4,
                      id_col: str = "vec_id", vec_col: str = "embedding"
                      ) -> None:
    """Materialize an IVF-PQ index on disk — the build-once half of a
    production vector store.  Three parquet tables under ``path``:

    * ``index/`` — (id, code) partitioned BY CELL: queries prune
      non-probed cells at the SCAN (hive partition pruning), and each
      row carries 16 bits of code instead of the float payload — a
      100 TB float corpus becomes a few-GB index;
    * ``centroids/`` — the (cid, cv) coarse quantizer (n_centroids
      rows);
    * ``codebook/`` — the (cid, cv) PQ codebook (n_codes rows).

    Both metadata tables are what the deterministic stand-in quantizer
    derives (lowest-id vectors); a trained k-means build writes its
    own frames and the query side is unchanged.  The raw vector table
    is NOT referenced by queries after this returns.

    BUILD SHAPE (round-16 optimization): cell assignment and PQ coding
    are ONE corpus pass — a single crossJoin against the broadcast
    (crank, cid, cv) centroid frame feeds one groupBy(id) computing
    the ``max_by`` cell AND all ``n_sub`` ``min_by`` codes — instead
    of ``ivf_cells(df).join(pq_codes(df), "id")``, which scanned the
    corpus twice and shuffled both one-row-per-id aggregates on id
    just to zip them back together (guide §2.4: two operations keyed
    the same way share one aggregation; §2.3: never shuffle what a
    map-side combine can fold).  The codebook rows are the
    ``n_codes`` lowest-crank centroids (identical to ``pq_codes``'s
    lowest-id codebook, since crank is the cid-order position), the
    per-expression fold orders are byte-for-byte those of
    ``ivf_cells``/``pq_codes``, and non-codebook centroid rows are
    excluded from the code aggregation via NULL ``min_by`` orderings
    (which the aggregate skips), so the written index is bit-identical
    to the old two-pass build (pinned by
    tests/test_similarity.py::test_fused_index_build_matches_two_pass).
    """
    bits = max(1, (n_codes - 1).bit_length())
    vecs = df.select(F.col(id_col).alias("id"),
                     as_vec(vec_col).alias("v"))
    # (crank, cid, cv) exactly as pq_codes derives it: pack the tiny
    # centroid set into one sorted row and posexplode — no window
    cents = (vecs.orderBy("id").limit(n_centroids)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
             .agg(F.array_sort(F.collect_list(F.struct("cid", "cv")))
                  .alias("cs"))
             .select(F.posexplode("cs").alias("crank", "c"))
             .select("crank", F.col("c.cid").alias("cid"),
                     F.col("c.cv").alias("cv")))

    def sub_l2(s: int) -> Column:
        a = F.slice(F.col("v"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("cv"), s * sub_dim + 1, sub_dim)
        return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, d: acc + d)

    is_cb = F.col("crank") < n_codes
    scored = (vecs.crossJoin(F.broadcast(cents))
              .select("id", "crank",
                      cosine(F.col("v"), F.col("cv")).alias("cos"),
                      F.col("cid"),
                      *[F.when(is_cb, sub_l2(s)).alias(f"d{s}")
                        for s in range(n_sub)]))
    # cell: the ivf_cells expression verbatim, over the same
    # n_centroids rows per id.  codes: the pq_codes min_by verbatim
    # over the codebook rows only — a NULL ordering struct excludes
    # the non-codebook centroids from the aggregate.
    code_terms = [
        F.min_by(F.col("crank"),
                 F.when(is_cb, F.struct(F.col(f"d{s}"), F.col("crank"))))
        .alias(f"c{s}") for s in range(n_sub)]
    agg = (scored.groupBy("id")
           .agg(F.max_by("cid", F.struct(F.col("cos"),
                                         (-F.col("cid")).alias("neg")))
                .alias("cell"), *code_terms))
    packed = None
    for s in range(n_sub):
        term = F.shiftleft(F.col(f"c{s}").cast("long"), bits * s)
        packed = term if packed is None else packed + term
    (agg.select("id", "cell", packed.cast("long").alias("code"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/index"))
    cents_out = (df.select(F.col(id_col).alias("cid"),
                           as_vec(vec_col).alias("cv"))
                 .orderBy("cid").limit(n_centroids))
    cents_out.write.mode("overwrite").parquet(f"{path}/centroids")
    # codebook = the n_codes lowest-cid centroids — read the 8-row
    # centroid parquet back instead of re-scanning the corpus
    (df.sparkSession.read.parquet(f"{path}/centroids")
     .orderBy("cid").limit(n_codes)
     .write.mode("overwrite").parquet(f"{path}/codebook"))


def ivfpq_topk_indexed(spark, path: str, query_vec: Sequence[float],
                       k: int = 10, n_probe: int = 2, n_sub: int = 8,
                       sub_dim: int = 8, n_codes: int = 4,
                       id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ ANN against a STORED index (``build_ivfpq_index``): the
    query-side plan reads only the tiny centroid/codebook metadata and
    the (id, code) rows of the probed cells — partition pruning keeps
    every other cell's files untouched, and the float corpus is never
    opened.  This is the shape that actually runs at 100 TB: the
    query-time cost is ~(n_probe/n_centroids) of a 16-bit-code scan,
    not an index rebuild.  Distances replay the identical fold orders
    as the build (parquet round-trips doubles losslessly), so results
    are bit-identical to the rebuild-per-query ``ivfpq_topk``."""
    qdf = spark.createDataFrame([(list(float(v) for v in query_vec),)],
                                "qv array<double>")
    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    # one metadata job (round 16): probe selection and the ADC table
    # ride a single tagged-union scan of the two tiny metadata tables
    # instead of two driver actions (the codebook stays an independent
    # frame — a trained-quantizer build may write one that is not a
    # centroid prefix).  The stored quantizer's size is unknown at
    # plan time, so the full-collect/engine-side decision comes from
    # the centroid table's on-disk footprint (round 17 scale guard).
    probe, tab = _probe_and_adc(
        cents, qdf, n_probe, n_codes, n_sub, sub_dim, cb=cb,
        engine_topk=not _stored_metadata_is_small(
            spark, f"{path}/centroids"))
    codes = (spark.read.parquet(f"{path}/index")
             .filter(F.col("cell").isin([int(c) for c in probe]))
             .select("id", "code"))
    return _adc_topk(codes, tab, k, n_sub, n_codes, id_col)
