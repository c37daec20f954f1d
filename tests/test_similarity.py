"""Round-16 optimization pin: the fused one-pass IVF-PQ index build
(single crossJoin + single groupBy computing cell AND codes) must
write byte-identical index content to the old two-pass
``ivf_cells(df).join(pq_codes(df), "id")`` formulation it replaced."""
import math
import tempfile
import warnings

from pyspark.sql import functions as F

from dask_relabeling_spark.operators import similarity as S


def _corpus(spark, n=40, dim=64):
    rows = []
    for i in range(n):
        vec = [float(((i * 31 + d * 7) % 97) - 48) / 48.0
               for d in range(dim)]
        rows.append((i, vec))
    # dirty tail: NULL embedding, NaN component (ill-formed), zero
    # vector (zero norm -> NULL cosine) — every one must index the
    # same way both builds index it
    rows.append((n, None))
    rows.append((n + 1, [math.nan] * dim))
    rows.append((n + 2, [0.0] * dim))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_fused_index_build_matches_two_pass(spark):
    corpus = _corpus(spark)
    path = tempfile.mkdtemp(prefix="test_ivfpq_fused_")
    S.build_ivfpq_index(corpus, path, n_centroids=6, n_sub=8,
                        sub_dim=8, n_codes=4)
    got = {(r["id"], r["cell"], r["code"])
           for r in spark.read.parquet(f"{path}/index").collect()}
    # the exact pre-fusion build: two corpus passes zipped on id
    cells = S.ivf_cells(corpus, n_centroids=6)
    codes = S.pq_codes(corpus, n_sub=8, sub_dim=8, n_centroids=4)
    want = {(r["id"], r["cell"], r["code"])
            for r in cells.join(codes, "id").collect()}
    assert got == want
    assert len(got) == corpus.count()
    # metadata tables: same rows as the direct derivation
    cents = {(r["cid"], tuple(r["cv"]) if r["cv"] is not None else None)
             for r in spark.read.parquet(f"{path}/centroids").collect()}
    want_c = {(r["vec_id"],
               tuple(r["v"]) if r["v"] is not None else None)
              for r in corpus.select(
                  "vec_id", S.as_vec("embedding").alias("v"))
              .orderBy("vec_id").limit(6).collect()}
    assert {c[0] for c in cents} == {c[0] for c in want_c}
    cb = spark.read.parquet(f"{path}/codebook")
    assert cb.count() == 4
    assert ({r["cid"] for r in cb.collect()}
            == set(sorted(c[0] for c in cents)[:4]))


def test_fused_build_handles_nan_components(spark):
    """A NaN-component vector must get the same (cell, code) as the
    two-pass build gave it (NULL-ordering min_by rows are skipped,
    never promoted)."""
    corpus = _corpus(spark, n=12)
    path = tempfile.mkdtemp(prefix="test_ivfpq_nan_")
    S.build_ivfpq_index(corpus, path, n_centroids=4, n_sub=8,
                        sub_dim=8, n_codes=4)
    idx = spark.read.parquet(f"{path}/index")
    dirty = {r["id"]: (r["cell"], r["code"])
             for r in idx.filter(F.col("id") >= 12).collect()}
    cells = S.ivf_cells(corpus, n_centroids=4)
    codes = S.pq_codes(corpus, n_sub=8, sub_dim=8, n_centroids=4)
    want = {r["id"]: (r["cell"], r["code"])
            for r in cells.join(codes, "id")
            .filter(F.col("id") >= 12).collect()}
    assert dirty == want and len(dirty) == 3


def test_fused_probe_adc_matches_two_jobs(spark):
    """Round-16 pin: the single-job ``_probe_and_adc`` must reproduce
    the two-job formulation it replaced — an engine-side probe
    ``orderBy(desc(cos), cid).limit(n)`` collect plus an engine-side
    ``array_sort(collect_list(struct(cid, ds)))`` ADC ``first()`` —
    on a corpus whose centroid window includes a NULL embedding, a
    NaN-component (ill-formed) vector, and a zero vector, i.e. NULL
    cosines exercising the DESC-NULLS-LAST driver-side replay."""
    corpus = _corpus(spark, n=6)  # dirty tail ids 6..8 inside the
    n_centroids, n_codes, n_sub, sub_dim = 9, 4, 8, 8  # centroid window
    qv = [float(d % 5 - 2) / 2.0 for d in range(64)]
    qdf = spark.createDataFrame([(qv,)], "qv array<double>")
    cents = (corpus.select(F.col("vec_id").alias("cid"),
                           S.as_vec("embedding").alias("cv"))
             .orderBy("cid").limit(n_centroids))
    cb = (corpus.select(F.col("vec_id").alias("cid"),
                        S.as_vec("embedding").alias("cv"))
          .orderBy("cid").limit(n_codes))

    # the exact pre-fusion two-job path
    want_probe = [r["cid"] for r in
                  (cents.crossJoin(F.broadcast(qdf))
                   .select("cid", S.cosine(F.col("cv"),
                                           F.col("qv")).alias("cos"))
                   .orderBy(F.desc("cos"), "cid").limit(3).collect())]

    def q_sub_l2(s):
        a = F.slice(F.col("qv"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("cv"), s * sub_dim + 1, sub_dim)
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, d: acc + d)

    row = (cb.crossJoin(F.broadcast(qdf))
           .select("cid", F.array(*[q_sub_l2(s) for s in range(n_sub)])
                   .alias("ds"))
           .agg(F.transform(
               F.array_sort(F.collect_list(F.struct("cid", "ds"))),
               lambda e: e["ds"]).alias("tab")).first())
    want_tab = [None if ds is None else list(ds) for ds in row["tab"]]

    got_probe, got_tab = S._probe_and_adc(cents, qdf, 3, n_codes,
                                          n_sub, sub_dim)
    assert got_probe == want_probe
    assert got_tab == want_tab  # exact float equality — same folds

    # explicit-codebook path (stored-index layout): same answers when
    # cb is passed as its own frame instead of derived as the prefix
    got_probe2, got_tab2 = S._probe_and_adc(cents, qdf, 3, n_codes,
                                            n_sub, sub_dim, cb=cb)
    assert (got_probe2, got_tab2) == (want_probe, want_tab)

    # and a NON-prefix codebook (trained-quantizer contract) must be
    # honored, not silently replaced by the centroid prefix
    cb_off = (corpus.select(F.col("vec_id").alias("cid"),
                            S.as_vec("embedding").alias("cv"))
              .filter(F.col("vec_id").between(2, 5)))
    row_off = (cb_off.crossJoin(F.broadcast(qdf))
               .select("cid", F.array(*[q_sub_l2(s)
                                        for s in range(n_sub)])
                       .alias("ds"))
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("cid", "ds"))),
                   lambda e: e["ds"]).alias("tab")).first())
    want_off = [None if ds is None else list(ds) for ds in row_off["tab"]]
    _, got_off = S._probe_and_adc(cents, qdf, 3, n_codes,
                                  n_sub, sub_dim, cb=cb_off)
    assert got_off == want_off


def test_fused_probe_adc_large_quantizer(spark):
    """Round-17 scale guard: with a 10^4-centroid frame the fused
    probe/ADC job must return the same selection as the explicit
    two-job formulation — and it must do so through the engine-side
    ``orderBy(desc(cos), cid).limit(n_probe)``, never a full collect
    of the centroid frame (the plan itself is the guard: the collect
    returns <= n_probe + n_codes rows by construction)."""
    n_cent, n_probe, n_codes, n_sub, sub_dim = 10_000, 5, 4, 8, 8
    dim = n_sub * sub_dim
    cents = (spark.range(n_cent)
             .select(F.col("id").cast("long").alias("cid"),
                     F.array(*[((F.col("id") * (d + 3)) % 97
                                ).cast("double") / 97.0
                               for d in range(dim)]).alias("cv")))
    qv = [float((d * 7) % 13 - 6) / 6.0 for d in range(dim)]
    qdf = spark.createDataFrame([(qv,)], "qv array<double>")

    want_probe = [r["cid"] for r in
                  (cents.crossJoin(F.broadcast(qdf))
                   .select("cid", S.cosine(F.col("cv"),
                                           F.col("qv")).alias("cos"))
                   .orderBy(F.desc("cos"), "cid")
                   .limit(n_probe).collect())]

    def q_sub_l2(s):
        a = F.slice(F.col("qv"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("cv"), s * sub_dim + 1, sub_dim)
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, d: acc + d)

    row = (cents.orderBy("cid").limit(n_codes).crossJoin(F.broadcast(qdf))
           .select("cid", F.array(*[q_sub_l2(s) for s in range(n_sub)])
                   .alias("ds"))
           .agg(F.transform(
               F.array_sort(F.collect_list(F.struct("cid", "ds"))),
               lambda e: e["ds"]).alias("tab")).first())
    want_tab = [None if ds is None else list(ds) for ds in row["tab"]]

    got_probe, got_tab = S._probe_and_adc(cents, qdf, n_probe, n_codes,
                                          n_sub, sub_dim,
                                          engine_topk=True)
    assert got_probe == want_probe
    assert got_tab == want_tab

    # the full-collect path answers identically (the flag is a scale
    # guard, never a semantics switch) — both with the prefix codebook
    # and with an explicit codebook frame on both paths
    small_probe, small_tab = S._probe_and_adc(cents, qdf, n_probe,
                                              n_codes, n_sub, sub_dim)
    assert (small_probe, small_tab) == (want_probe, want_tab)
    cbf = cents.orderBy("cid").limit(n_codes)
    for flag in (False, True):
        p2, t2 = S._probe_and_adc(cents, qdf, n_probe, n_codes,
                                  n_sub, sub_dim, cb=cbf,
                                  engine_topk=flag)
        assert (p2, t2) == (want_probe, want_tab)


def test_stored_metadata_lookup_failure_warns_once(monkeypatch):
    """A failed quantizer-size lookup (no JVM handle, as on Spark
    Connect) still answers False, the engine-side path, but says so:
    one warning however many queries hit it."""
    from dask_relabeling_spark import session

    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("no JVM handle")

    monkeypatch.setattr(session, "_WARNED", set())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        answers = [S._stored_metadata_is_small(NoContext(), "/x")
                   for _ in range(2)]
    assert answers == [False, False]
    assert len(caught) == 1
    assert "RuntimeError: no JVM handle" in str(caught[0].message)
