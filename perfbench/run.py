"""Tile-pipeline benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

A run generates the workload's input from ``--seed``, starts one Spark
session, runs the workload's warm-up ops (set-up), then repeats the op for
``--seconds``, starting no op that would end past the window.  Every
output is compared with a single-process NumPy replay of the same tiles
after the window (oracle work is never inside a timed interval, and the
peak-memory reading covers the window's ops only).  A traced run also
probes each layer once and times the query pass of ``queries.py`` on
seeded tables.  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is the run record (load forensics, samples, environment pins).  Exit
code 1 when an output fails its oracle, 2 when the library is missing.
"""
import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
if sys.path[0] != ROOT:
    sys.path.insert(0, ROOT)

from perfbench.queries import ARMS  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "mpix_per_s": "Mpx/s",
              "peak_rss_mb": "MB"}

# per-layer metric -> (unit, the end-to-end metric and workload it
# should move).
PER_LAYER = {
    "session.start_s": ("s", "setup_s on both workloads"),
    "python.boot_s": ("s", "setup_s; wall_s on both workloads"),
    "python.init_s": ("s", "setup_s; wall_s on both workloads"),
    "python.eval_s": ("s", "wall_s on both workloads"),
    "python.bytes_sent": ("B", "wall_s on labels3d_model_seg (large "
                               "tile payloads)"),
    "python.bytes_received": ("B", "wall_s on labels3d_model_seg"),
    "python.rows_received": ("count", "wall_s on geojson2d_export (256 "
                                      "tiles of margin pieces)"),
    "sources.scan_s": ("s", "wall_s on both workloads (small)"),
    "sources.write_s": ("s", "wall_s on labels3d_model_seg"),
    "sources.bytes_written": ("B", "wall_s on labels3d_model_seg"),
    "halo.exchange_s": ("s", "wall_s on geojson2d_export (256-tile "
                             "exchange) and labels3d_model_seg (large "
                             "margins, two exchanges)"),
    "halo.piece_rows": ("count", "wall_s on geojson2d_export"),
    "halo.shuffle_write_bytes": ("B", "wall_s on labels3d_model_seg"),
    "pipeline.image2labels_s": ("s", "wall_s on labels3d_model_seg"),
    "pipeline.image2geojson_s": ("s", "wall_s on geojson2d_export"),
    "pipeline.sort_s": ("s", "wall_s on labels3d_model_seg; no change on "
                             "geojson2d_export"),
    "pipeline.overhead_vs_kernels": ("ratio", "diagnostic only: its "
                                              "denominator moves with "
                                              "kernel changes"),
    "annotate.zip_s": ("s", "wall_s on geojson2d_export"),
    "annotate.files": ("count", "wall_s on geojson2d_export"),
    "annotate.zip_bytes": ("B", "wall_s on geojson2d_export"),
    "kernels.segment_s": ("s", "wall_s on labels3d_model_seg; barely "
                               "geojson2d_export"),
    "kernels.remove_s": ("s", "wall_s on both workloads (small)"),
    "kernels.merge_s": ("s", "wall_s on labels3d_model_seg (small)"),
    "kernels.exchange_s": ("s", "wall_s on both workloads (small)"),
    "kernels.sort_s": ("s", "wall_s on labels3d_model_seg (small)"),
    "kernels.annotate_s": ("s", "wall_s on geojson2d_export"),
    "kernels.total_s": ("s", "wall_s on labels3d_model_seg"),
    "kernels.pixels": ("count", "wall_s on labels3d_model_seg (halo "
                                "pixels are redundant segmentation)"),
    "kernels.objects": ("count", "none: a property of the input"),
    "kernels.objects_dropped": ("count", "wall_s on labels3d_model_seg "
                                         "(discarded segmentations)"),
    "spark.jobs": ("count", "wall_s on both workloads"),
    "spark.stages": ("count", "wall_s on both workloads"),
    "spark.tasks": ("count", "wall_s on geojson2d_export"),
    "spark.executor_run_s": ("s", "wall_s on both workloads"),
    "spark.executor_cpu_s": ("s", "wall_s on both workloads"),
    "spark.shuffle_read_bytes": ("B", "wall_s on labels3d_model_seg"),
    "spark.shuffle_write_bytes": ("B", "wall_s on labels3d_model_seg"),
    "spark.spill_bytes": ("B", "wall_s and peak_rss_mb on "
                               "labels3d_model_seg"),
    "spark.min_tasks_python_stage": ("count", "wall_s on "
                                              "labels3d_model_seg"),
    "spark.task_skew": ("ratio", "wall_s on labels3d_model_seg"),
    "spark.core_util": ("ratio", "wall_s on labels3d_model_seg"),
    "spark.driver_remainder_s": ("s", "wall_s on labels3d_model_seg (the "
                                      "sort's dictionary collect) and "
                                      "geojson2d_export (the zip step)"),
    "trace.overhead_s": ("s", "none: traced minus untraced op wall"),
}
# The query pass of the traced run (perfbench/queries.py) reaches the
# layers no tile op does.  It is a control: a tile optimisation should
# leave it unchanged, and no kept end-to-end metric depends on it.
for _arm in ARMS:
    PER_LAYER[f"plans.{_arm}_s"] = ("s", "none on the tile workloads: the "
                                         "query pass's control arm")

# ------------------------------------------------------------ environment

def pin_environment() -> int:
    """Pin what the library reads from the environment, before the JVM
    starts: one local driver on every core of this process's affinity
    set, driver heap well below physical RAM, workers that can import the
    package from this checkout, and all scratch files inside it."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    heap_mib = min(1024, total_kib // 1024 // 4)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mib}m",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(OUT, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)
    return cores


def require_library() -> None:
    if not os.path.isdir(os.path.join(ROOT, "dask_relabeling_spark")):
        sys.stderr.write("perfbench: dask_relabeling_spark is not in this "
                         "checkout; nothing to measure\n")
        sys.exit(2)


def load_forensics() -> dict:
    """1/5/15-min loadavg plus bench.py's all-core canary: a contended
    run shows as a canary slower than a quiet one, or loadavg near the
    core count."""
    from bench import _canary_par_sec
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            "canary_all_cores_s": _canary_par_sec()}


def descendants(root: int) -> list:
    """PIDs of every live descendant of ``root`` (the JVM and the Python
    workers it forked)."""
    children = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_hwm_mb() -> dict:
    """VmHWM (high-water resident memory) in MB of this process and its
    descendants, summed per command name."""
    by_name = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + \
                int(fields["VmHWM"].split()[0]) / 1024.0
    return by_name


def reset_hwm() -> None:
    """Restart VmHWM at the current resident size in this process and its
    descendants, so a later ``tree_hwm_mb`` sees only what came after."""
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    Python worker it forked have ended."""
    from pyspark import SparkContext
    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while started and time.monotonic() < deadline:
        started = [pid for pid in started if _running(pid)]
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ------------------------------------------------------------------ ops

class Bench:
    """One workload's input store, its op, and the op's oracle."""

    def __init__(self, spark, w, workdir):
        self.spark, self.w, self.workdir = spark, w, workdir
        self.store = os.path.join(workdir, "input")
        self.ops = 0

    def write_input(self, img) -> None:
        from dask_relabeling_spark import from_array
        from dask_relabeling_spark.sources.tile_store import \
            write_tile_store
        write_tile_store(from_array(self.spark, img, self.w.chunk),
                         self.store)

    def read(self):
        from dask_relabeling_spark.sources.tile_store import \
            read_tile_store
        return read_tile_store(self.spark, self.store)

    def op(self, tracer=None) -> str:
        """One op: public read -> pipeline -> sink; returns the output
        path once the last row is written.  With a tracer, each public
        call is a span."""
        from perfbench.spans import Tracer
        from dask_relabeling_spark import (image2geojson, image2labels,
                                           sort_label_indices,
                                           zip_annotated_tiles)
        from dask_relabeling_spark.sources.tile_store import \
            write_tile_store
        w, span, k = self.w, (tracer or Tracer(False)).span, self.ops
        self.ops += 1
        with span("sources.read_tile_store", k):
            ts = self.read()
        if w.kind == "geojson":
            with span("pipeline.image2geojson", k):
                ann = image2geojson(ts, seg_fn=w.seg,
                                    overlaps=list(w.overlaps),
                                    threshold=w.threshold)
            with span("annotate_ops.zip_annotated_tiles", k):
                return str(zip_annotated_tiles(
                    ann, os.path.join(self.workdir, f"ann-{k}")))
        with span("pipeline.image2labels", k):
            labels = image2labels(ts, seg_fn=w.seg,
                                  overlaps=list(w.overlaps),
                                  threshold=w.threshold)
        with span("relabel_ops.sort_label_indices", k):
            labels = sort_label_indices(labels)
        out = os.path.join(self.workdir, f"out-{k}")
        with span("sources.write_tile_store", k):
            write_tile_store(labels, out)
        return out

    def check(self, out: str, rep, img) -> list:
        from perfbench import workloads as W
        if self.w.kind == "geojson":
            return W.check_geojson(W.read_zip(out), rep.expected)
        got = W.read_label_store(out, self.w.nd)
        errors = W.check_labels(got, rep.expected)
        if not errors and self.w.nd == 2:
            errors = W.check_components(W.assemble(got, self.w.grid), img)
        return errors

    def discard(self, out: str) -> None:
        if os.path.isdir(out):
            shutil.rmtree(out)
        elif os.path.exists(out):
            os.remove(out)

    def reset(self) -> None:
        """Drop caches between ops so no op reads another's blocks."""
        from dask_relabeling_spark.session import release_persists
        self.spark.catalog.clearCache()
        release_persists()
        gc.collect()


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def op(self, bench, around=contextlib.nullcontext, tracer=None):
        """Time one op (inside ``around()``).  Returns its output path and
        wall, or None when the op raised."""
        self.attempted += 1
        bench.reset()
        try:
            with around():
                start = time.perf_counter()
                out = bench.op(tracer)
                wall = time.perf_counter() - start
        except Exception as exc:  # a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"op raised {type(exc).__name__}: {exc}")
            return None
        return out, wall

    def check(self, bench, out: str, rep, img) -> None:
        errors = bench.check(out, rep, img)
        bench.discard(out)
        if errors:
            self.failed += 1
            self.errors.extend(errors[:5])

    def run(self, bench, rep, img):
        """One op, checked at once; returns its wall or None."""
        done = self.op(bench)
        if done is None:
            return None
        self.check(bench, done[0], rep, img)
        return done[1]


# --------------------------------------------------------------- layers

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(bench, stats, tracer, rep) -> tuple:
    """Each layer timed from outside through its public functions, once,
    in its own job group; every timed action writes every row (noop
    sink or a real sink, never ``count()``).  Also returns the Python
    worker counters of the image2geojson call."""
    from dask_relabeling_spark import (from_tiles, image2geojson,
                                       image2labels, prepare_input,
                                       sort_label_indices,
                                       zip_annotated_tiles)
    from dask_relabeling_spark.sources.tile_store import write_tile_store
    from perfbench.spans import PYTHON_METRICS
    w, spark = bench.w, bench.spark
    ov = list(w.overlaps)
    geo_threshold = w.threshold if w.kind == "geojson" else 0.5
    m = {}

    def probe(name, fn, fresh=True):
        if fresh:
            bench.reset()
        with stats.measure(name) as rec, tracer.span(name):
            fn()
        return rec

    m["sources.scan_s"] = probe("sources.scan",
                                lambda: noop(bench.read().df))["wall_s"]
    rec = probe("halo.exchange",
                lambda: noop(prepare_input(bench.read(), ov).df))
    m["halo.exchange_s"] = rec["wall_s"]
    m["halo.piece_rows"] = rec["spark.shuffle_write_records"]
    m["halo.shuffle_write_bytes"] = rec["spark.shuffle_write_bytes"]
    m["pipeline.image2labels_s"] = probe(
        "pipeline.image2labels", lambda: noop(image2labels(
            bench.read(), seg_fn=w.seg, overlaps=ov,
            threshold=w.threshold).df))["wall_s"]
    m["pipeline.sort_s"] = probe(
        "pipeline.image2labels+sort", lambda: noop(sort_label_indices(
            image2labels(bench.read(), seg_fn=w.seg, overlaps=ov,
                         threshold=w.threshold)).df))["wall_s"] \
        - m["pipeline.image2labels_s"]

    def geojson():
        return image2geojson(bench.read(), seg_fn=w.seg, overlaps=ov,
                             threshold=geo_threshold)

    rec = probe("pipeline.image2geojson", lambda: noop(geojson()))
    m["pipeline.image2geojson_s"] = rec["wall_s"]
    python_of_geojson = {k: rec[k] for k in PYTHON_METRICS.values()}

    # sinks alone, on inputs already materialised: the replay's labels
    # (the op's exact output), or the input tiles when the op writes none
    if w.kind == "labels":
        tiles = from_tiles(spark, rep.expected, w.nd, w.grid, w.chunk,
                           (0,) * w.nd, w.shape)
    else:
        tiles = bench.read()
    tiles = tiles.with_df(tiles.df.persist())
    noop(tiles.df)
    written = os.path.join(bench.workdir, "probe-write")
    m["sources.write_s"] = probe(
        "sources.write", lambda: write_tile_store(tiles, written),
        fresh=False)["wall_s"]
    m["sources.bytes_written"] = _tree_bytes(written)
    tiles.df.unpersist()

    bench.reset()
    ann = geojson().persist()
    noop(ann)
    zip_dir = os.path.join(bench.workdir, "probe-ann")
    m["annotate.zip_s"] = probe(
        "annotate.zip", lambda: zip_annotated_tiles(ann, zip_dir),
        fresh=False)["wall_s"]
    ann.unpersist()
    with zipfile.ZipFile(zip_dir + ".zip") as zf:
        m["annotate.files"] = len(zf.namelist())
    m["annotate.zip_bytes"] = os.path.getsize(zip_dir + ".zip")
    for path in (written, zip_dir + ".zip"):
        bench.discard(path)
    return m, python_of_geojson


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def wall_tail(walls) -> dict:
    """The highest percentile of op wall time with at least ten samples
    beyond it, with the sample count; None while there are fewer than
    eleven samples."""
    n = len(walls)
    if n < 11:
        return {"percentile": None, "value_s": None, "samples": n}
    i = n - 11
    return {"percentile": round(100.0 * (i + 1) / n, 1),
            "value_s": sorted(walls)[i], "samples": n}


def op_self_times(tracer) -> dict:
    """Median self time of each span name under the traced ops."""
    own = tracer.self_times()
    by_name = {}
    for s in tracer.spans:
        if s["op"] is not None:
            by_name.setdefault(s["name"], []).append(own[s["id"]])
    return {k: statistics.median(v) for k, v in by_name.items()}


# ------------------------------------------------------------------ run

def run(args, cores: int) -> int:
    start = time.perf_counter()
    forensics = {"start": load_forensics()}
    # the canary is the benchmark's own work, not set-up
    own_s = time.perf_counter() - start
    from dask_relabeling_spark import get_spark
    from perfbench import spans as S
    from perfbench import workloads as W
    imports_s = time.perf_counter() - T0 - own_s

    w = W.WORKLOADS[args.workload]
    img = W.make_input(w, args.seed)        # input generation, untimed
    rep = W.replay(w, img)                  # oracle, untimed
    traced = bool(args.trace)
    tracer = S.Tracer(traced)
    workdir = os.path.join(OUT, f"{w.name}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)

    start = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}")
    session_s = time.perf_counter() - start
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench = Bench(spark, w, workdir)
        bench.write_input(img)              # input generation, untimed
        tally = Tally()
        # warm-up ops pay JIT, codegen and the Python worker fork; op
        # walls keep falling for a few ops after the first
        warm_s = [tally.run(bench, rep, img) or 0.0
                  for _ in range(w.warmup_ops)]
        setup_s = imports_s + session_s + sum(warm_s)

        stats = S.SparkStats(spark, cores) if traced else None
        plain, traced_walls, traced_recs, pending = [], [], [], []
        reset_hwm()
        rounds, window = 0, time.perf_counter()
        while True:
            done = tally.op(bench)
            if done is not None:
                pending.append(done[0])
                plain.append(done[1])
            if traced:
                rec = {}

                @contextlib.contextmanager
                def around():
                    with stats.measure("op") as measured, \
                            tracer.span("op", bench.ops):
                        yield
                    rec.update(measured)

                done = tally.op(bench, around, tracer)
                if done is not None:
                    pending.append(done[0])
                    traced_walls.append(done[1])
                    traced_recs.append(rec)
            # start another round only if it should end inside the window
            rounds += 1
            elapsed = time.perf_counter() - window
            if elapsed * (rounds + 1) / rounds > args.seconds:
                break
        # peak memory of the window's ops, read before the oracle reads
        hwm = tree_hwm_mb()
        for out in pending:
            tally.check(bench, out, rep, img)
        if not plain:
            plain = [float("nan")]
        wall_s = statistics.median(plain)

        if traced:
            metrics = traced_metrics(bench, stats, tracer, rep, tally,
                                     args.seed, session_s, wall_s,
                                     traced_walls, traced_recs)
        else:
            metrics = {"setup_s": setup_s, "wall_s": wall_s,
                       "mpix_per_s": w.pixels / 1e6 / wall_s,
                       "peak_rss_mb": sum(hwm.values())}
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    forensics["end"] = load_forensics()

    record = {
        "workload": w.name, "seed": args.seed, "trace": traced,
        "cores": cores, "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "ops": len(plain), "op_walls_s": [round(x, 4) for x in plain],
        "wall_tail": wall_tail(plain),
        "failed_ratio": tally.failed / tally.attempted,
        "hwm_mb_by_process": hwm,
        "setup_parts_s": {"imports": imports_s, "session": session_s,
                          "warm_ops": warm_s, "canary_excluded": own_s},
        "forensics": forensics, "errors": tally.errors[:10],
    }
    if traced:
        record["op_self_s"] = op_self_times(tracer)
        path = os.path.join(OUT, f"trace-{w.name}-{args.seed}.json")
        tracer.dump(path, {"record": record})
        record["spans_file"] = os.path.relpath(path, ROOT)
    declared = PER_LAYER if traced else END_TO_END
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from the "
                           f"declared {sorted(declared)}")
    units = {**END_TO_END, **{k: v[0] for k, v in PER_LAYER.items()}}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0 if tally.failed == 0 else 1


def traced_metrics(bench, stats, tracer, rep, tally, seed, session_s,
                   wall_s, traced_walls, traced_recs) -> dict:
    from perfbench.queries import run_arms
    from perfbench.spans import PYTHON_METRICS
    from perfbench.tables import write_tables
    m = {"session.start_s": session_s}
    keys = [k for k in PER_LAYER if k.startswith("spark.")] + \
        list(PYTHON_METRICS.values())
    for key in keys:
        m[key] = statistics.median(r[key] for r in traced_recs) \
            if traced_recs else 0.0
    probes, python_of_geojson = layer_probes(bench, stats, tracer, rep)
    m.update(probes)
    if bench.w.kind == "geojson":
        # zip_annotated_tiles drives its plan through ``df.rdd``, which
        # records no SQL execution, so the op's Python counters are read
        # from the same image2geojson call under the noop sink
        m.update(python_of_geojson)
    for name, seconds in rep.kernel_s.items():
        m[f"kernels.{name}_s"] = seconds
    m["kernels.total_s"] = sum(rep.kernel_s.values())
    for name, count in rep.counts.items():
        m[f"kernels.{name}"] = count
    m["pipeline.overhead_vs_kernels"] = wall_s / m["kernels.total_s"]
    m["trace.overhead_s"] = (statistics.median(traced_walls) - wall_s) \
        if traced_walls else 0.0

    tables = os.path.join(bench.workdir, "tables")
    write_tables(tables, seed)              # input generation, untimed
    bench.reset()
    with tracer.span("plans.query_pass"):
        walls, errors = run_arms(bench.spark, tables, seed)
    tally.attempted += len(walls)
    tally.failed += len(errors)
    tally.errors.extend(errors)
    for name, seconds in walls.items():
        m[f"plans.{name}_s"] = seconds
    return {k: m[k] for k in PER_LAYER}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)
    if not args.self_test and args.workload is None:
        p.error("--workload is required")
    cores = pin_environment()
    require_library()
    if args.self_test:
        from perfbench import selftest
        return selftest.main()
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"one of {sorted(WORKLOADS)}")
    return run(args, cores)


if __name__ == "__main__":
    sys.exit(main())
