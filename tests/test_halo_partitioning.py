"""Operator-placed tile exchange (halo.apply_by_tile_key): the driver-side
Murmur3 replay must match Spark's HashPartitioning exactly, the salt table
must place tile L on shuffle partition L mod n, and the salted groupBy must
reuse the pinned exchange (one Exchange, no AQE re-coalescing)."""
import itertools
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_relabeling_spark.operators.halo import (_mmh3_int32, _salts_for,
                                                  apply_by_tile_key)


def test_mmh3_matches_spark_hash(spark):
    vals = [0, 1, 2, 3, -1, -2, 42, 641, 123456789, -987654321,
            2**31 - 1, -2**31]
    got = (spark.createDataFrame([(v,) for v in vals], "v int")
           .select(F.hash("v").alias("h")).collect())
    assert [r.h for r in got] == [_mmh3_int32(v) for v in vals]


@pytest.mark.parametrize("n", [1, 2, 4, 16, 32, 200])
def test_salts_land_on_their_partition(n):
    salts = _salts_for(n)
    assert len(salts) == n
    assert [_mmh3_int32(s) % n for s in salts] == list(range(n))


def test_apply_by_tile_key_groups_match_plain_groupby(spark):
    rows = [(cy, cx, v) for cy, cx in
            itertools.product(range(4), range(4)) for v in range(cy + cx + 1)]
    df = spark.createDataFrame(rows, "cy int, cx int, v int")

    def count_group(key, pdf):
        return pd.DataFrame({"cy": [int(key[0])], "cx": [int(key[1])],
                             "n": [len(pdf)]})

    out = apply_by_tile_key(df, 2, (4, 4), count_group,
                            "cy int, cx int, n long")
    got = {(r.cy, r.cx): r.n for r in out.collect()}
    want = {(r.cy, r.cx): r["count"] for r in
            df.groupBy("cy", "cx").count().collect()}
    assert got == want


def test_apply_by_tile_key_single_reused_exchange(spark):
    df = spark.range(16).select((F.col("id") / 4).cast("int").alias("cy"),
                                (F.col("id") % 4).cast("int").alias("cx"))
    out = apply_by_tile_key(
        df, 2, (4, 4),
        lambda key, pdf: pd.DataFrame({"n": [len(pdf)]}), "n long")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the groupBy must ride the pinned REPARTITION_BY_NUM exchange —
    # a second Exchange would mean HashPartitioning(__tile_pt) stopped
    # satisfying the applyInPandas clustering requirement
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(__tile_pt" in plan


def test_apply_by_tile_key_perfect_spread_3d(spark):
    # the 4-tile 3D grid is the case plain hash pinning got wrong
    # (4 keys into 4 buckets: 9 % chance of a perfect spread)
    dims = (1, 2, 2)
    rows = [(cz, cy, cx) for cz, cy, cx in itertools.product(
        range(dims[0]), range(dims[1]), range(dims[2]))]
    n = len(rows)
    salts = _salts_for(n)
    parts = set()
    for cz, cy, cx in rows:
        lin = (cz * dims[1] + cy) * dims[2] + cx
        parts.add(_mmh3_int32(salts[lin % n]) % n)
    assert len(parts) == n


@pytest.mark.parametrize("grid", [(2, 2), (4, 4)])
def test_apply_by_tile_key_infers_eval_type_without_warning(spark, grid):
    # a partly hinted (key, pdf: pd.DataFrame) kernel — the shape of
    # every tile kernel — must not make applyInPandas warn that it
    # cannot infer the eval type, on the plain (2x2) or salted (4x4)
    # branch
    df = spark.range(grid[0] * grid[1]).select(
        (F.col("id") / grid[1]).cast("int").alias("cy"),
        (F.col("id") % grid[1]).cast("int").alias("cx"))

    def count_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n": [len(pdf)]})

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = apply_by_tile_key(df, 2, grid, count_group, "n long")
    assert not [w for w in caught if "eval type" in str(w.message)]
    assert sorted(r.n for r in out.collect()) == [1] * (grid[0] * grid[1])
