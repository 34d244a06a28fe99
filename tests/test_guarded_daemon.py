"""The guarded worker daemon: ``importlib.invalidate_caches`` runs only when
``sys.path`` or the SparkFiles directory changed, and a file added after
the workers started still imports."""

from __future__ import annotations

import importlib
import os
import sys

from cov_tiles_spark.guarded_pyspark import daemon as guarded_daemon


def test_guard_calls_real_only_on_change(tmp_path, monkeypatch):
    calls = []
    root = tmp_path / "spark_files"
    root.mkdir()
    inv = guarded_daemon.guard(lambda: calls.append(1), lambda: str(root))

    inv()
    assert len(calls) == 1  # first call always goes through
    inv()
    inv()
    assert len(calls) == 1  # nothing changed

    monkeypatch.setattr(sys, "path", sys.path + [str(tmp_path / "new_entry")])
    inv()
    assert len(calls) == 2  # new sys.path entry
    inv()
    assert len(calls) == 2

    f = root / "added.py"
    f.write_text("X = 1\n")
    inv()
    assert len(calls) == 3  # new file in the SparkFiles root
    inv()
    assert len(calls) == 3

    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    inv()
    assert len(calls) == 4  # touched file
    inv()
    assert len(calls) == 4


def test_guard_calls_real_when_root_unreadable(tmp_path):
    calls = []
    inv = guarded_daemon.guard(lambda: calls.append(1), lambda: str(tmp_path / "gone"))
    inv()
    inv()
    assert len(calls) == 2


def test_workers_run_the_guard(spark):
    """Catches a dropped ``spark.python.daemon.module`` or a module name that
    no longer carries ``pyspark.daemon`` (the worker-memory split of
    ``perfbench/run.py`` selects Python workers by that string)."""
    name = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert name == guarded_daemon.__name__
    assert "pyspark.daemon" in name
    # ... and only the workers carry it: on the JVM's command line it would
    # put the JVM on the Python side of that split
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/cmdline", "rb") as f:
        assert b"pyspark.daemon" not in f.read()

    def probe(_):
        import importlib as il

        fn = il.invalidate_caches
        yield fn.__code__.co_filename, hasattr(fn, "__wrapped__")

    [(filename, wrapped)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert os.path.samefile(filename, guarded_daemon.__file__)
    assert wrapped
    assert not hasattr(importlib.invalidate_caches, "__wrapped__")  # driver untouched


def test_pyfile_added_after_first_task_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(8), 4).map(lambda x: x + 1).sum() == 36

    mod = f"guard_probe_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    path = tmp_path / f"{mod}.py"
    path.write_text("VALUE = 41\n")
    sc.addPyFile(str(path))

    def use(_):
        yield importlib.import_module(mod).VALUE + 1

    assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4
