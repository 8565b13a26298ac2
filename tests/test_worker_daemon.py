"""The Python worker daemon (``transferia_spark.worker_daemon``): its
stat-guarded zip-archive refresh, and that ``get_spark`` sessions run
their Python tasks through it from any driver cwd."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from transferia_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_refresh = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 refreshes zip directories lazily; no guard",
)


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@needs_eager_refresh
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a.py": "VALUE = 1\n"})
    reads = []
    upstream_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return upstream_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(zipimport._zip_directory_cache, archive, raising=False)
    try:
        assert importlib.import_module("wd_probe_a").VALUE == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # first refresh this process sees: a read
        n = len(reads)
        assert n >= 1 and reads[-1] == archive

        for _ in range(3):  # unchanged archive: stat only, no directory read
            importlib.invalidate_caches()
        assert reads[n:] == []

        # rewritten with a new member: re-read once, and the member imports
        _write_zip(archive, {"wd_probe_a.py": "VALUE = 1\n", "wd_probe_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads[n:] == [archive]
        assert importlib.import_module("wd_probe_b").VALUE == 2
        importlib.invalidate_caches()
        assert reads[n:] == [archive]
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)


@needs_eager_refresh
def test_guard_rereads_when_zipimport_cache_entry_replaced(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_c.py": "VALUE = 3\n"})
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    other = {}
    monkeypatch.setitem(zipimport._zip_directory_cache, archive, other)
    worker_daemon.invalidate_caches(importer)  # not the dict it read: re-read
    assert importer._files is not other and "wd_probe_c.py" in importer._files


def test_spark_python_tasks_run_the_guarded_daemon(spark, tmp_path):
    """One Python task: the worker forked from the daemon carries the
    guard (a marker attribute, since the daemon runs as ``__main__``),
    and a module shipped with ``addPyFile`` still imports in a UDF."""
    from pyspark.sql import functions as F

    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "transferia_spark.worker_daemon"
    )
    shipped = tmp_path / "wd_shipped.zip"
    _write_zip(str(shipped), {"wd_shipped_mod.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(shipped))

    @F.udf("string")
    def probe(_):
        import zipimport

        import wd_shipped_mod

        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        return f"{guarded}:{wd_shipped_mod.VALUE}"

    got = spark.range(1, numPartitions=1).select(probe("id")).collect()
    assert got[0][0] == f"{sys.version_info < (3, 12)}:42"


def test_python_tasks_run_from_a_driver_outside_the_repo(tmp_path):
    """A driver whose cwd is not the repository root, with no
    PYTHONPATH: the workers find the daemon module only through the
    ``spark.executorEnv.PYTHONPATH`` entry ``get_spark`` prepends, and
    the caller's own entry in that setting is kept behind it."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "wd_extra_mod.py").write_text("FACTOR = 2\n")
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from transferia_spark import get_spark
        spark = get_spark("cwd_probe", extra_conf={{
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": {str(extra)!r},
        }})
        rdd = spark.sparkContext.parallelize([1, 2, 3], 1)
        print("SUM", rdd.map(lambda x: x * __import__("wd_extra_mod").FACTOR).sum())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 12" in proc.stdout.splitlines()
