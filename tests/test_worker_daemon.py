"""The Python-worker daemon: which archives it drops from the workers'
path, the state a worker actually runs in, the lazy package root it
relies on, and ``get_spark``'s decision to install it."""
import os
import subprocess
import sys
import types
import warnings
import zipfile

import pandas as pd

from dask_relabeling_spark import session
from dask_relabeling_spark.worker_daemon import (forget_importers,
                                                 installed_version,
                                                 kept_paths)

PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _archive(path, members):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def test_trim_drops_class_only_jar_and_same_version_pyspark_zip(tmp_path):
    installed = installed_version(sys.path)
    assert installed is not None  # the test interpreter's own PySpark
    same = _archive(tmp_path / "lib" / "pyspark.zip",
                    {"pyspark/version.py": installed,
                     "pyspark/__init__.py": b""})
    other = _archive(tmp_path / "old" / "pyspark.zip",
                     {"pyspark/version.py": b'__version__ = "0.0.1"\n'})
    core = _archive(tmp_path / "spark-core.jar",
                    {"org/apache/spark/SparkContext.class": b"\xca\xfe"})
    pyjar = _archive(tmp_path / "tools.jar",
                     {"x.py": b"", "org/A.class": b"\xca\xfe"})
    user = _archive(tmp_path / "user.zip", {"mylib/__init__.py": b""})
    plain = str(tmp_path / "plain")
    os.mkdir(plain)
    missing = str(tmp_path / "missing.jar")
    paths = [plain, same, other, core, pyjar, user, missing]

    assert kept_paths(paths, installed) == [plain, other, pyjar, user,
                                            missing]
    # with no installed PySpark found, every pyspark.zip stays
    assert kept_paths(paths, None) == [plain, same, other, pyjar, user,
                                       missing]

    cache = {k: object() for k in (
        same, same + "/pyspark", same + "/pyspark/sql", core,
        core + "/org", same + "x", other, other + "/pyspark", pyjar,
        user, plain)}
    forget_importers(cache, [same, core])
    assert sorted(cache) == sorted([same + "x", other, other + "/pyspark",
                                    pyjar, user, plain])


def test_workers_import_pyspark_from_site_packages(spark):
    """Inside a worker, PySpark comes from the installed package and no
    importer serves a .jar or a same-version pyspark.zip: neither is
    re-read by ``invalidate_caches()`` before every task."""
    # defined here so that it pickles by value: the workers cannot
    # import this test module
    def worker_state(it):
        import sys
        import zipimport

        import pyspark
        archives = sorted({f.archive for f in sys.path_importer_cache.values()
                           if isinstance(f, zipimport.zipimporter)})
        for _ in it:
            pass
        yield pd.DataFrame({
            "pyspark_file": [pyspark.__file__],
            "archives": ["\n".join(archives)],
        })

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(worker_state,
                         "pyspark_file string, archives string")
            .collect())
    installed = installed_version(sys.path)
    assert rows
    for r in rows:
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        archives = [a for a in r.archives.split("\n") if a]
        assert not [a for a in archives if a.endswith(".jar")], archives
        for z in [a for a in archives if a.endswith("pyspark.zip")]:
            with zipfile.ZipFile(z) as zf:
                assert zf.read("pyspark/version.py") != installed, z


_LAZY_ROOT = """
import sys
import dask_relabeling_spark
import dask_relabeling_spark.worker_daemon
assert "pyspark" not in sys.modules, "root import loaded pyspark"
ns = {}
exec("from dask_relabeling_spark import *", ns)
missing = [n for n in dask_relabeling_spark.__all__ if n not in ns]
assert not missing, missing
try:
    dask_relabeling_spark.no_such_name
except AttributeError:
    pass
else:
    raise AssertionError("unknown attribute resolved")
print("ok")
"""


def test_package_root_is_lazy():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", _LAZY_ROOT],
                         cwd=PACKAGE_PARENT, env=env, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_daemon_gate_branches(tmp_path):
    parent = PACKAGE_PARENT
    ok = session._DAEMON_MODULE
    gate = session._worker_daemon
    assert gate("local[4]", parent, "", []) == (ok, None)
    assert gate("local", str(tmp_path), os.pathsep.join(["/x", parent]),
                []) == (ok, None)
    assert gate("local[*]", None, "", [parent]) == (ok, None)
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        module, reason = gate(master, parent, parent, [parent])
        assert module is None and "is not local" in reason
    module, reason = gate("local[4]", str(tmp_path), "", [])
    assert module is None and "PYTHONPATH" in reason


def test_non_repo_cwd_keeps_pyspark_daemon_and_warns_once(tmp_path,
                                                          monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(session, "SparkContext",
                        types.SimpleNamespace(_jvm=None))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session, "_WARNED", set())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session._daemon_module("local[2]") is None
        assert session._daemon_module("local[2]") is None
    assert len(caught) == 1
    assert "PYTHONPATH" in str(caught[0].message)

    monkeypatch.chdir(PACKAGE_PARENT)
    assert session._daemon_module("local[2]") == session._DAEMON_MODULE


_PLAIN_UDF = """
import sys, warnings
sys.path.insert(0, {parent!r})
warnings.simplefilter("always")
with warnings.catch_warnings(record=True) as caught:
    from dask_relabeling_spark import get_spark
    spark = get_spark(app_name="plain-udf", shuffle_partitions=2)
from pyspark.sql import functions as F
plus = F.udf(lambda x: x + 1, "long")
total = spark.range(10, numPartitions=2).select(plus("id")).groupBy().sum()
print(total.first()[0])
print(spark.sparkContext.getConf().get("spark.python.daemon.module",
                                       "pyspark.daemon"))
print(sum("worker daemon" in str(w.message) for w in caught))
spark.stop()
"""


def test_session_outside_repo_runs_plain_udf_on_pyspark_daemon(tmp_path):
    """Where the workers cannot import the package, the session keeps
    PySpark's daemon, so a UDF that never touches the library runs."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PLAIN_UDF.format(parent=PACKAGE_PARENT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["55", "pyspark.daemon", "1"]
