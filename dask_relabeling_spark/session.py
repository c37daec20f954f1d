"""SparkSession factory with the engine's scale-oriented defaults,
plus the scoped-persist registry operators use for cache hygiene."""
from __future__ import annotations

import contextlib
import os
import re
import site
import warnings
from typing import Iterator

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

# DataFrames persisted by operators for intra-query reuse.  persist()
# is the right call when a subtree feeds 2-3 consumers inside ONE
# terminal action, but Spark's CacheManager pins the blocks until an
# explicit unpersist — in a long-lived session every such query would
# leak executor memory (round-3 ADVICE).  Operators therefore persist
# through ``scoped_persist`` and long-lived callers (bench.py, the
# query sweep, notebook sessions) call ``release_persists()`` after
# consuming each result.  The registry is keyed per SparkSession
# (round-4 ADVICE): releasing one session's persists cannot drop
# blocks a query on another session is still reusing, and entries
# from a stopped session don't linger under an unrelated key.
_SCOPED: dict[int, list[DataFrame]] = {}


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` that is released by the next
    ``release_persists()`` call against the same SparkSession.  A frame
    whose plan is already cached (by the caller, or by an earlier scoped
    persist) is returned unregistered, so a release never drops a cache
    it does not own."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    _SCOPED.setdefault(id(df.sparkSession), []).append(df.persist())
    return df


def release_persists(spark: SparkSession | None = None) -> None:
    """Unpersist every ``scoped_persist``-ed DataFrame (idempotent;
    safe to call while no query is running).  With ``spark`` given,
    only that session's persists are dropped; with ``None`` (the
    single-session callers: bench.py, oracle sweep, tests) every
    registered session is flushed."""
    keys = [id(spark)] if spark is not None else list(_SCOPED)
    for key in keys:
        scoped = _SCOPED.pop(key, [])
        while scoped:
            df = scoped.pop()
            try:
                df.unpersist()
            except Exception:  # session already stopped — nothing pinned
                pass


@contextlib.contextmanager
def persist_scope(spark: SparkSession) -> Iterator[None]:
    """Context manager form: on exit, release every scoped persist of
    ``spark``'s registry (the block's and any earlier unreleased ones
    on the same session — scoping is per SparkSession, not per block).
    Lets a notebook/threaded caller on session A run queries without
    dropping blocks a concurrent caller on session B still reuses."""
    try:
        yield
    finally:
        release_persists(spark)


_WARNED: set[str] = set()


def warn_once(key: str, message: str, stacklevel: int = 2) -> None:
    """``warnings.warn(message)`` the first time ``key`` is seen in this
    process: a lost fast path or a swallowed error is reported once,
    not per query."""
    if key not in _WARNED:
        _WARNED.add(key)
        warnings.warn(message, stacklevel=stacklevel + 1)


_DAEMON_MODULE = "dask_relabeling_spark.worker_daemon"
# the directory that holds the package: a worker imports it from there
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _worker_daemon(master: str, cwd: str | None, pythonpath: str,
                   site_dirs: list[str]) -> tuple[str | None, str | None]:
    """``(daemon module, None)`` when the Python workers of a session on
    ``master`` can import ``worker_daemon``, else ``(None, reason)``.

    The daemon is started as ``python -m`` in the JVM's ``cwd`` with
    ``pythonpath`` on its path, so the package must sit in the cwd, on
    ``PYTHONPATH`` or in a site-packages dir.  Only a local master is
    trusted: a cluster's executors have another cwd and environment, and
    a daemon that cannot import its module fails every Python task."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return None, f"master {master!r} is not local"
    roots = [cwd, *pythonpath.split(os.pathsep), *site_dirs]
    if any(r and os.path.realpath(r) == _PACKAGE_PARENT for r in roots):
        return _DAEMON_MODULE, None
    return None, (f"{_PACKAGE_PARENT} is not the working directory, on "
                  "PYTHONPATH or in site-packages, so Python workers "
                  "cannot import dask_relabeling_spark; add it to "
                  "PYTHONPATH")


def _daemon_module(master: str) -> str | None:
    """``_worker_daemon`` for this process, warning once when the
    worker daemon is not installed.  A running JVM keeps the cwd and
    environment it was started with, so those are read from it."""
    jvm = SparkContext._jvm
    if jvm is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH", "")
    else:
        cwd = jvm.java.lang.System.getProperty("user.dir")
        pythonpath = jvm.java.lang.System.getenv("PYTHONPATH") or ""
    if os.environ.get("PYTHONSAFEPATH"):  # -m no longer puts cwd first
        cwd = None
    module, reason = _worker_daemon(master, cwd, pythonpath,
                                    site.getsitepackages())
    if module is None:
        warn_once(
            "worker_daemon",
            f"get_spark keeps PySpark's own Python-worker daemon: {reason}. "
            "Every Python task then re-reads pyspark.zip and the "
            "spark-core jar before it starts (~0.2 s each).", stacklevel=3)
    return module


def get_spark(app_name: str = "dask-relabeling-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE, Arrow, and sane shuffle sizing.

    Local runs default to ``local[$SPARK_GRAFT_CPUS or *]``; on a real
    cluster pass ``master=None`` with a pre-configured environment and these
    settings still apply (they are safe cluster-side defaults).

    On a local master whose Python workers can import this package (it
    sits in the working directory, on ``PYTHONPATH`` or in site-packages)
    the session runs its workers under ``worker_daemon``
    (``spark.python.daemon.module``), which spares every Python task a
    re-read of ``pyspark.zip`` and the spark-core jar (~0.2 s).  Otherwise
    PySpark's own daemon stays and a warning, once per process, names
    the reason.  The setting applies when this call creates the
    SparkContext; an already running context keeps its daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions
                    or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # ROOT-locale JVMs cluster-wide: executors lowercase under THEIR
        # default locale, so the driver-side Locale.setDefault below is
        # not enough on a real cluster — a tr/az executor would still
        # map 'I' to dotless 'ı' inside fold_lower.  Empty
        # user.language/country resolve to Locale.ROOT.  (Appended
        # per-session options would clobber a caller's own
        # extraJavaOptions; callers needing both should pre-set the env
        # with these flags included.)
        .config("spark.executor.extraJavaOptions",
                "-Duser.language= -Duser.country=")
        .config("spark.driver.extraJavaOptions",
                "-Duser.language= -Duser.country=")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    daemon = _daemon_module(master or os.environ["SPARK_MASTER"])
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    spark = builder.getOrCreate()
    # Pin the JVM default locale to ROOT: operators.text.fold_lower's
    # cross-engine lowercase contract assumes locale-root case mapping,
    # but on a tr/az default-locale JVM, String.toLowerCase maps 'I' to
    # dotless 'ı' — a divergence the İ/Σ pre-substitution cannot cover
    # (round-10 ADVICE).  This covers local[*] and an already-started
    # driver JVM; executors are covered by the extraJavaOptions above
    # (asserted by tests/test_null_robustness.py special-casing test).
    # Never silent: a skipped or failed pin re-opens the tr/az
    # divergence, so both failure paths warn (round-11 ADVICE).
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.util.Locale.setDefault(jvm.java.util.Locale.ROOT)
        tag = jvm.java.util.Locale.getDefault().toLanguageTag()
        if tag != "und":  # ROOT's BCP-47 tag
            warnings.warn(
                f"JVM default-locale pin did not stick (got {tag!r}); "
                "fold_lower's cross-engine lowercase contract needs a "
                "ROOT-locale JVM — pass -Duser.language= -Duser.country= "
                "in the JVM options")
    except Exception as exc:  # no JVM handle (e.g. Spark Connect)
        warnings.warn(
            "JVM default-locale pin skipped "
            f"({type(exc).__name__}: {exc}); on Spark Connect set "
            "-Duser.language= -Duser.country= in the server-side JVM "
            "options or fold_lower may diverge on tr/az-locale JVMs")
    return spark
