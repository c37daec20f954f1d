"""The benchmark's query pass: registry arms on seeded tables, each timed
under the noop sink and then checked against its DuckDB oracle with
``tools/oracle_sweep.py``'s normalization and bitwise float compare.

It measures the layers no tile workload reaches: ``plans/*``,
``operators/{dedup,similarity,text,graph}`` and ``functions/quantiles``.
"""
from __future__ import annotations

import random
import time
from typing import Dict, List, Tuple

ARMS = ["q1_pricing_summary", "q3_shipping_priority",
        "broadcast_join_brand_revenue", "top_customers_per_nation",
        "events_sessionize", "events_user_pagerank", "word_counts",
        "docs_curation_pipeline", "dedup_minhash_lsh",
        "dedup_prefix_jaccard", "ann_cosine_topk",
        "lineitem_exact_quantiles"]


def run_arms(spark, directory: str, seed: int,
             arms=ARMS) -> Tuple[Dict[str, float], List[str]]:
    """Each arm once, in an order drawn from ``seed``: its noop-sink wall
    in seconds, and the oracle mismatches (oracle work is untimed)."""
    import duckdb
    from dask_relabeling_spark.plans import REGISTRY
    from dask_relabeling_spark.session import release_persists
    from perfbench.tables import TABLES
    from tools.oracle_sweep import normalize, values_match
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{directory}/{t}.parquet')")
    order = list(arms)
    random.Random(seed).shuffle(order)
    walls, errors = {}, []
    for name in order:
        fn, sql = REGISTRY[name]
        spark.catalog.clearCache()
        start = time.perf_counter()
        fn(spark, directory).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - start
        release_persists()
        got = normalize(fn(spark, directory).toPandas())
        release_persists()
        want = normalize(con.execute(sql).df())
        if list(got.columns) != list(want.columns) or \
                not values_match(got, want):
            errors.append(f"{name}: result differs from its DuckDB oracle "
                          f"({len(got)} vs {len(want)} rows)")
    con.close()
    return walls, errors
