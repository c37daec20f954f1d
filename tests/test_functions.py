"""dense_ids (scale path) must agree with dense_rank (window path)."""
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_relabeling_spark.functions.ids import dense_ids


def test_dense_ids_matches_dense_rank(spark):
    df = spark.range(1000).select(
        (F.col("id") * 7919 % 313).alias("v"))
    got = {r.v: r.id for r in dense_ids(df, "v", num_partitions=8,
                                        start=1).collect()}
    w = Window.orderBy("v")
    exp = {r.v: r.rnk for r in
           df.distinct().select("v", F.dense_rank().over(w).alias("rnk"))
           .collect()}
    assert got == exp


def test_dense_ids_start_offset(spark):
    df = spark.createDataFrame([(5,), (2,), (9,), (2,)], ["v"])
    got = dict(dense_ids(df, "v", num_partitions=2).collect())
    assert got == {2: 0, 5: 1, 9: 2}


def test_approx_count_distinct_tolerance(spark):
    """SURVEY §2.3.6: the HLL sketch path. Not oracle-hashable across
    engines (sketches differ), so pinned here against the exact count."""
    df = spark.range(100_000).select((F.col("id") % 12_345).alias("v"))
    exact = df.select(F.count_distinct("v")).first()[0]
    approx = df.select(F.approx_count_distinct("v", rsd=0.02)).first()[0]
    assert exact == 12_345
    assert abs(approx - exact) / exact < 0.05


def test_sort_label_indices_distributed_matches_driver(spark):
    """The no-driver-materialization scale path of sort_label_indices must
    agree exactly with the broadcast-dictionary path on pipeline output."""
    import numpy as np
    from dask_relabeling_spark.operators.pipeline import image2labels
    from dask_relabeling_spark.operators.relabel_ops import \
        sort_label_indices
    from dask_relabeling_spark.plans.tile_query import _mask_tiles

    ts = _mask_tiles(spark, "/root/testdata/sf0.001")
    labeled = image2labels(ts, overlaps=16, threshold=0.05)
    cached = labeled.with_df(labeled.df.cache())
    a = {(r.cy, r.cx): np.asarray(r.data) for r in
         sort_label_indices(cached).df.collect()}
    b = {(r.cy, r.cx): np.asarray(r.data) for r in
         sort_label_indices(cached, distributed=True).df.collect()}
    assert sorted(a) == sorted(b)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert any(v.max() > 0 for v in a.values())


def test_sort_indices_missing_label_raises():
    """A label absent from the dictionary must fail loudly, not take a
    neighbour's rank (a bare searchsorted maps 5 to rank 2, past the
    end)."""
    import numpy as np
    import pytest
    from dask_relabeling_spark.kernels.relabel import sort_indices

    with pytest.raises(ValueError, match=r"\[5\]"):
        sort_indices(np.array([5]), np.array([0, 3]))
    with pytest.raises(ValueError, match=r"\[2\]"):
        sort_indices(np.array([0, 2, 3]), np.array([0, 3]))
    ranks = sort_indices(np.array([[3, 0], [7, 3]], dtype=np.int32),
                         np.array([0, 3, 7]))
    assert ranks.dtype == np.int32
    assert ranks.tolist() == [[1, 0], [2, 1]]


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing invariant: two docs sharing a substring of length
    >= k + w - 1 must share at least one fingerprint; and the
    fingerprint set is a subset of the gram-hash minima (size <= grams).
    """
    from dask_relabeling_spark.operators.text import winnowing_fingerprints
    shared = "the quick brown fox jumps"  # len 25 >= 8+4-1
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"),
         (2, "xyz " + shared + " 123456"),
         (3, "completely different content here"),
         (4, "tiny")],  # shorter than k -> zero fingerprints
        ["doc_id", "text"])
    out = {r.id: r for r in winnowing_fingerprints(df, k=8, w=4).collect()}
    assert out[4].n_fingerprints == 0 and out[4].min_fingerprint is None
    assert out[1].n_fingerprints > 0 and out[3].n_fingerprints > 0

    # independent reimplementation: check the overlap guarantee and that
    # Spark's set-level stats agree with it
    txts = {1: "AAAA " + shared + " BBBB", 2: "xyz " + shared + " 123456"}
    import hashlib
    def fps(text, k=8, w=4):
        gh = [int(hashlib.md5(text[i:i+k].encode()).hexdigest()[:8], 16)
              for i in range(len(text) - k + 1)]
        return {min(gh[i:i+w]) for i in range(len(gh) - w + 1)}
    s1, s2 = fps(txts[1]), fps(txts[2])
    assert s1 & s2, "shared substring of len k+w-1 must share a fingerprint"
    assert out[1].n_fingerprints == len(s1)
    assert out[1].min_fingerprint == min(s1)


def test_connected_components_min_label(spark):
    """Two chains and an isolated pair: every node gets its component's
    min id; convergence needs diameter iterations (chain of 4)."""
    from dask_relabeling_spark.operators.dedup import (
        canonical_per_cluster, connected_components)
    import pyspark.sql.functions as F
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain -> cluster 10
         (2, 7),                          # pair  -> cluster 2
         (20, 21), (21, 20)],             # dup edge both ways -> cluster 20
        ["id_a", "id_b"])
    got = dict(connected_components(pairs).collect())
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   2: 2, 7: 2, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, s) for i, s in [(10, 5), (11, 9), (12, 9), (13, 1),
                             (2, 4), (7, 4), (20, 3), (21, 8)]],
        ["doc_id", "n_chars"])
    canon = {r.cluster_id: (r.n_docs, r.keep_id)
             for r in canonical_per_cluster(
                 docs, connected_components(pairs)).collect()}
    # ties on score -> lowest id wins (11 vs 12 both score 9)
    assert canon == {10: (4, 11), 2: (2, 2), 20: (2, 21)}


def test_exclusive_prefix_sum_multi_partition(spark):
    """Two-phase prefix sum must equal the single-window answer with the
    data forced across several range partitions."""
    import random
    from dask_relabeling_spark.functions.ids import exclusive_prefix_sum
    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 50)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(8)
    got = {r.k: r.offset for r in
           exclusive_prefix_sum(df, "k", "v", num_partitions=7).collect()}
    acc, exp = 0, {}
    for k, v in sorted(rows):
        exp[k] = acc
        acc += v
    assert got == exp


def test_exclusive_prefix_sum_grouped(spark):
    """Grouped mode restarts the running total per group and must agree
    with a per-group window even when groups span range partitions."""
    import random
    from dask_relabeling_spark.functions.ids import exclusive_prefix_sum
    rng = random.Random(11)
    rows = [(f"g{i % 3}", i, rng.randrange(0, 9)) for i in range(600)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["g", "k", "v"]).repartition(8)
    got = {(r.g, r.k): r.offset for r in
           exclusive_prefix_sum(df, "k", "v", num_partitions=7,
                                group_col="g").collect()}
    exp, acc = {}, {}
    for g, k, v in sorted(rows):
        exp[(g, k)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + v
    assert got == exp


def test_pack_and_chunk_invariants(spark):
    """Packing: offsets are contiguous (start_{i+1} = start_i + n_i) and
    seq ids consistent with the 2048 budget.  Chunking: every token is
    covered, consecutive chunks overlap by chunk-stride, hashes replay."""
    import hashlib
    from dask_relabeling_spark.operators.text import (chunk_documents,
                                                      pack_sequences)
    docs = [(i, " ".join(f"t{j}" for j in range(cnt)))
            for i, cnt in enumerate([5, 0, 100, 64, 49, 200, 1])]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    packed = sorted(pack_sequences(df, budget=2048).collect())
    off = 0
    for r in packed:
        assert r.start_off == off
        assert r.seq_first == off // 2048
        assert r.seq_last == (off + max(r.n_tokens - 1, 0)) // 2048
        assert r.offset_in_seq == off % 2048
        off += r.n_tokens
    assert off == sum(len(t.split()) for _, t in docs if t)

    chunks = chunk_documents(df, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.id, []).append(r)
    for i, text in docs:
        toks = text.split()
        # round 10: a zero-token doc has NO chunks (the engines
        # disagree on an empty chunk's hash: md5('') vs NULL)
        rows = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        starts = list(range(0, len(toks), 48))
        assert [r.chunk_idx for r in rows] == list(range(len(starts)))
        covered = set()
        for r, s in zip(rows, starts):
            piece = toks[s:s + 64]
            covered.update(range(s, s + len(piece)))
            assert r.n_chunk_tokens == len(piece)
            assert r.chunk_hash == hashlib.md5(
                " ".join(piece).encode()).hexdigest()
        assert covered == set(range(len(toks)))


def test_redact_pii_categories_and_counts(spark):
    from dask_relabeling_spark.operators.text import redact_pii
    rows = [
        (0, "mail me at jo.doe+x@corp.example.com or call 555-867-5309"),
        (1, "server 10.0.0.1 leaked ssn 123-45-6789 twice: 123-45-6789"),
        (2, "nothing sensitive here"),
        (3, "two mails: a@b.co c@d.org"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r for r in redact_pii(df).collect()}
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 1
    assert "<EMAIL>" in got[0]["clean_text"]
    assert "<PHONE>" in got[0]["clean_text"]
    assert got[1]["n_ipv4"] == 1 and got[1]["n_ssn"] == 2
    assert got[1]["clean_text"].count("<SSN>") == 2
    assert got[2]["clean_text"] == "nothing sensitive here"
    assert sum(got[2][c] for c in
               ("n_email", "n_phone", "n_ipv4", "n_ssn")) == 0
    assert got[3]["n_email"] == 2
    # the email must be consumed whole, not half-eaten by later patterns
    assert "corp.example.com" not in got[0]["clean_text"]


def _segment_dedup_reference(texts, seg_len=4):
    """Pure-Python oracle for operators.dedup.segment_dedup: first
    occurrence (min doc id, then min position) of each distinct segment
    wins; docs are reassembled from surviving segments in order."""
    import hashlib
    winners = {}
    doc_segs = {}
    for doc_id in sorted(texts):
        toks = [w for w in texts[doc_id].split(" ") if w]
        segs = [" ".join(toks[i:i + seg_len])
                for i in range(0, len(toks), seg_len)]
        doc_segs[doc_id] = segs
        for idx, s in enumerate(segs):
            if s not in winners:
                winners[s] = (doc_id, idx)
    out = {}
    for doc_id, segs in doc_segs.items():
        kept = [s for idx, s in enumerate(segs)
                if winners[s] == (doc_id, idx)]
        if kept:
            out[doc_id] = (len(segs), len(kept),
                           hashlib.md5(" ".join(kept).encode()).hexdigest())
    return out


def test_segment_dedup_matches_reference_on_random_corpora(spark):
    """Seeded random corpora with heavy segment reuse (small vocab,
    shared boilerplate runs, exact-duplicate docs, empty docs)."""
    import numpy as np
    from dask_relabeling_spark.operators.dedup import segment_dedup
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(12)]
    boiler = " ".join(rng.choice(vocab, 8))  # 2 segments of shared text
    texts = {}
    for d in range(40):
        n = int(rng.randint(0, 30))
        body = " ".join(rng.choice(vocab, n))
        if d % 5 == 0:
            body = boiler + (" " + body if body else "")
        if d % 11 == 0 and d > 0:
            body = texts[d - 1]  # exact duplicate of the previous doc
        texts[d] = body
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], ["doc_id", "text"])
    got = {r["id"]: (r["n_segs"], r["n_kept"], r["clean_fp"])
           for r in segment_dedup(df, seg_len=4).collect()}
    assert got == _segment_dedup_reference(texts, seg_len=4)


def test_hll_sketch_rollup_mergeable(spark):
    """Distinct-count sketches must be MERGEABLE: per-group partial
    sketches union-aggregated equal the whole-data sketch (the pattern
    that makes hierarchical rollups — hour -> day -> month distincts —
    one cheap re-aggregation at 100 TB instead of a re-scan), and both
    land within HLL's error envelope of the exact count."""
    from pyspark.sql import functions as F
    from dask_relabeling_spark.plans.relational import t
    ev = t(spark, "/root/testdata/sf0.001", "events")
    exact = ev.select("user_id").distinct().count()
    whole = ev.select(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")
    ).first()["n"]
    rolled = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.hll_sketch_agg("user_id").alias("sk"))
              .select(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                      .alias("n")).first()["n"])
    assert whole == rolled, "partial-sketch rollup must merge losslessly"
    assert abs(whole - exact) <= max(3, exact * 0.05)


@pytest.mark.parametrize("num_partitions", [None, 3])
def test_dense_ids_duplicates_and_null_match_dense_rank(spark,
                                                        num_partitions):
    """Duplicates share one id and NULL ranks first, exactly as
    ``dense_rank() - 1 + start`` over the ascending values."""
    df = spark.createDataFrame(
        [(v,) for v in (7, None, 3, 7, 11, 3, None, -2, 40, 11)], "v long")
    got = {r.v: r.id for r in dense_ids(df, "v", num_partitions=num_partitions,
                                        start=5).collect()}
    exp = {r.v: r.id for r in df.distinct().select(
        "v", (F.dense_rank().over(Window.orderBy("v")) - 1 + 5).alias("id"))
        .collect()}
    assert got == exp and got[None] == 5
