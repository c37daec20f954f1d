"""Cache hygiene: operators that persist() intermediates for
intra-query reuse must register them with ``session.scoped_persist`` so
a long-lived session can release the blocks — round-3 ADVICE flagged
``prefix_filtered_jaccard_pairs`` pinning its shingle table forever.

The assertion is on ``getPersistentRDDs`` itself: after running every
persist-using pair operator and calling ``release_persists()``, no
explicitly-persisted RDD remains registered.  (localCheckpoint blocks
from iterative operators are exempt — unpersisting those would destroy
data their truncated lineage cannot recompute; they are released by the
ContextCleaner when the result DataFrame is garbage-collected.)
"""
import pytest

from dask_relabeling_spark.operators.dedup import (
    minhash_lsh_pairs, ngram_jaccard_pairs, prefix_filtered_jaccard_pairs,
    simhash_neardup_pairs, tfidf_cosine_pairs)
from dask_relabeling_spark.session import (release_persists,
                                           scoped_persist)


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def docs(spark):
    rows = [(i, f"tok{i % 7} alpha beta gamma delta tok{i % 3} "
                f"epsilon zeta eta theta iota kappa tok{i}")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scoped_persists_released(spark, docs):
    release_persists()           # clean slate from any earlier test
    base = _persistent_rdd_count(spark)
    for op in (ngram_jaccard_pairs, minhash_lsh_pairs,
               simhash_neardup_pairs, prefix_filtered_jaccard_pairs):
        op(docs).count()
    tfidf_cosine_pairs(docs, max_df=30, threshold_micro=0).count()
    # the persists are real (the operators did pin blocks) ...
    assert _persistent_rdd_count(spark) > base
    release_persists()
    # ... and releasing drops every one of them.  <= (not ==): in a
    # full-suite run the ContextCleaner may asynchronously reap OTHER
    # tests' localCheckpoint blocks during this test, so the count can
    # legitimately drop below the starting baseline.
    assert _persistent_rdd_count(spark) <= base


def test_release_is_idempotent(spark):
    release_persists()
    release_persists()


@pytest.mark.parametrize("distributed", [False, True],
                         ids=["driver", "distributed"])
def test_sort_label_indices_persist_released(spark, distributed):
    """``sort_label_indices`` persists its input so the upstream runs
    once; the returned frame is lazy, so the persist lives until
    ``release_persists()``, which must drop it."""
    import numpy as np

    from dask_relabeling_spark import from_array, sort_label_indices

    rng = np.random.default_rng(3)
    img = (rng.random((16, 16)) * 4).astype(np.int64) * 10
    ts = from_array(spark, img, chunk_shape=(8, 8))
    release_persists()
    base = _persistent_rdd_count(spark)
    out = sort_label_indices(ts, distributed=distributed)
    out.df.write.format("noop").mode("overwrite").save()
    assert _persistent_rdd_count(spark) > base
    release_persists()
    assert _persistent_rdd_count(spark) <= base


def test_release_keeps_a_callers_cache(spark):
    """A frame the caller cached is not registered by ``scoped_persist``,
    so a release cannot drop a cache it does not own."""
    df = spark.range(7).cache()
    df.count()
    assert scoped_persist(df) is df
    release_persists()
    assert df.storageLevel.useMemory
    df.unpersist()
