"""Fast self-test of the benchmark (about a minute on 4 cores):

* the metric names and units run.py prints match BENCHMARK.json, and
  every per-layer metric names what it should move;
* the generator fails loudly on inputs that break the one-hop contract;
* a tiny geometry of every workload passes its oracles through Spark,
  and so do three query arms on small seeded tables;
* deliberately corrupted outputs fail their oracles;
* the traced counters are populated.

Run it with ``python3 perfbench/run.py --self-test``.
"""
from __future__ import annotations

import json
import os
import shutil
from dataclasses import replace

import numpy as np

from perfbench import queries as Q
from perfbench import run as R
from perfbench import spans as S
from perfbench import tables as T
from perfbench import workloads as W


def check_spec() -> list:
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for key, table in (("end_to_end", R.END_TO_END),
                       ("per_layer", {k: v[0]
                                      for k, v in R.PER_LAYER.items()})):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != table:
            errors.append(f"{key} names/units differ from run.py: "
                          f"{sorted(set(declared.items()) ^ set(table.items()))}")
    for name, (_, moves) in R.PER_LAYER.items():
        if not moves:
            errors.append(f"{name} does not say what it should move")
    unknown = {w["name"] for w in spec["workloads"]} - set(W.WORKLOADS)
    if unknown:
        errors.append(f"BENCHMARK.json names unknown workloads {unknown}")
    return errors


def check_generator() -> list:
    errors = []
    w = W.TINY["labels2d_many_tiles"]
    touching = np.zeros((40, 40), dtype=bool)
    touching[5:10, 5:10] = touching[10:15, 5:10] = True
    wide = np.zeros((40, 40), dtype=bool)
    wide[5:8, 2:30] = True
    for what, mask in (("touching objects", touching),
                       ("an object wider than the overlap", wide)):
        try:
            W.check_one_hop(mask, 2 if mask is touching else 1,
                            replace(w, shape=(40, 40), chunk=(20, 20)))
            errors.append(f"generator accepted {what}")
        except W.ContractError:
            pass
    try:
        W.make_input(replace(w, radius=(2, 9)), 0)
        errors.append("generator accepted balls larger than their cells")
    except W.ContractError:
        pass
    a, b = W.make_input(w, 3), W.make_input(w, 3)
    if not np.array_equal(a, b):
        errors.append("the same seed gave different inputs")
    if np.array_equal(a, W.make_input(w, 4)):
        errors.append("different seeds gave the same input")
    t3, t4 = T.make_tables(3, 0.1), T.make_tables(3, 0.1)
    if not all(t3[k].equals(t4[k]) for k in T.TABLES):
        errors.append("the same seed gave different query tables")
    if t3["lineitem"].equals(T.make_tables(4, 0.1)["lineitem"]):
        errors.append("different seeds gave the same query tables")
    return errors


def check_query_oracle(spark, workdir) -> list:
    """Three arms pass their DuckDB oracle on small seeded tables, and the
    oracle compare rejects a result with one float changed."""
    from tools.oracle_sweep import normalize, values_match
    tables = os.path.join(workdir, "tables")
    T.write_tables(tables, 1, 0.1)
    arms = ["q1_pricing_summary", "word_counts", "lineitem_exact_quantiles"]
    walls, errors = Q.run_arms(spark, tables, 1, arms)
    if sorted(walls) != sorted(arms):
        errors.append(f"query pass timed {sorted(walls)}, not {arms}")
    from dask_relabeling_spark.plans import REGISTRY
    got = normalize(REGISTRY["lineitem_exact_quantiles"][0](
        spark, tables).toPandas())
    bad = got.copy()
    bad.loc[0, "value"] = np.nextafter(bad.loc[0, "value"], np.inf)
    if values_match(got, bad):
        errors.append("the query oracle accepted a changed float")
    return errors


def corrupted_outputs_fail(bench, rep, img, out) -> list:
    """Each oracle must reject a one-defect copy of a passing output."""
    errors = []
    w = bench.w
    if w.kind == "geojson":
        got = W.read_zip(out)
        key = sorted(got)[0]
        got[key]["features"] = got[key]["features"][1:]
        if not W.check_geojson(got, rep.expected):
            errors.append(f"{w.name}: a dropped feature passed")
        return errors
    got = W.read_label_store(out, w.nd)
    loc = max(got, key=lambda k: np.count_nonzero(got[k]))
    flat = got[loc].reshape(-1)
    flat[np.flatnonzero(flat)[0]] += 1
    if not W.check_labels(got, rep.expected):
        errors.append(f"{w.name}: a changed pixel passed the replay check")
    if w.nd == 2:
        merged = W.assemble(W.read_label_store(out, w.nd), w.grid)
        ids = np.unique(merged[merged != 0])
        merged[merged == ids[1]] = ids[0]
        if not W.check_components(merged, img):
            errors.append(f"{w.name}: two components under one label "
                          f"passed the component check")
    return errors


def check_spark() -> list:
    from dask_relabeling_spark import get_spark
    errors = []
    workdir = os.path.join(R.OUT, f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    spark = get_spark(app_name="perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        stats = S.SparkStats(spark, len(os.sched_getaffinity(0)))
        for name, w in W.TINY.items():
            img = W.make_input(w, 1)
            rep = W.replay(w, img)
            bench = R.Bench(spark, w, os.path.join(workdir, name))
            bench.write_input(img)
            tally = R.Tally()
            tally.run(bench, rep, img)
            if tally.failed:
                errors.append(f"{name}: tiny op failed its oracle: "
                              f"{tally.errors}")
                continue
            with stats.measure(name) as rec:
                out = bench.op()
            errors += corrupted_outputs_fail(bench, rep, img, out)
            keys = ["spark.tasks", "spark.executor_run_s"]
            if w.kind == "labels":  # the zip sink runs outside SQL
                keys += ["python.eval_s", "python.rows_received"]
            for key in keys:
                if not rec[key] > 0:
                    errors.append(f"{name}: traced {key} is {rec[key]}")
            bench.discard(out)
        errors += check_query_oracle(spark, workdir)
    finally:
        R.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return errors


def main() -> int:
    errors = check_spec() + check_generator() + check_spark()
    for e in errors:
        print("FAIL", e)
    print("self-test", "failed" if errors else "passed")
    return 1 if errors else 0
