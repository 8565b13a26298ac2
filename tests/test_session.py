"""``get_spark``'s Python<->JVM channel (Unix domain sockets in a
private, short socket directory that is removed at exit) and the
interpreter launcher it puts in that directory."""

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

from py4j.version import __version__ as py4j_version
from pyspark.sql import functions as F

from transferia_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: what Spark appends to the socket directory: "/.<uuid4>.sock"
SOCK_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")


def test_session_runs_python_over_a_private_unix_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    st = os.stat(sock_dir)
    assert stat.S_ISDIR(st.st_mode)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert len(sock_dir) + SOCK_NAME_LEN < 108  # sun_path, NUL included


def _report_from_python_processes(spark, tmp_path, name, report):
    """``report()``'s value in a UDF's worker, the ``waljson`` planner
    and its decode task: ``{"udf": {...}, "plan": {...}, "read":
    {...}}``. The planner and the task report through files, since
    they run in workers."""
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        WalJsonStreamReader,
        wal_output_schema,
    )

    udf = F.udf(lambda _: report(), "string")
    got = spark.range(1, numPartitions=1).select(udf("id")).collect()

    seen = str(tmp_path / "seen")
    os.makedirs(seen)

    def note(role):
        with open(os.path.join(seen, f"{role}-{os.getpid()}"), "w") as f:
            f.write(report())

    class ProbeReader(WalJsonStreamReader):
        def read(self, partition):
            note("read")
            return super().read(partition)

    class ProbeSource(WalJsonDataSource):
        @classmethod
        def name(cls):
            return name

        def streamReader(self, schema):
            note("plan")
            return ProbeReader(schema, self.options)

    spark.dataSource.register(ProbeSource)
    waldir = str(tmp_path / "wal")
    os.makedirs(waldir)
    with open(os.path.join(waldir, "000.jsonl"), "w") as f:
        f.write(json.dumps({
            "action": "I", "schema": "public", "table": "t", "lsn": 1,
            "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "a"}],
        }) + "\n")
    rows = []
    q = (
        spark.readStream.format(name)
        .schema(wal_output_schema("id int, v string"))
        .option("path", waldir)
        .load()
        .writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [r["v"] for r in rows] == ["a"]
    out = {"udf": {got[0][0]}}
    for entry in os.listdir(seen):
        with open(os.path.join(seen, entry)) as f:
            out.setdefault(entry.split("-")[0], set()).add(f.read())
    return out


def test_python_udf_and_stream_reader_run_over_unix_sockets(spark, tmp_path):
    """A UDF's worker, the ``waljson`` planner and its decode task all
    see Spark's Unix-socket flag in their environment."""

    def flag():
        import os

        return os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()

    got = _report_from_python_processes(spark, tmp_path, "waljson_uds_probe", flag)
    assert got == {"udf": {"true"}, "plan": {"true"}, "read": {"true"}}


def test_python_workers_import_the_installed_pyspark(spark, tmp_path):
    """Under the launcher ``get_spark`` sets as ``pythonExec``, a UDF's
    worker, the ``waljson`` planner and its decode task import pyspark
    and py4j from outside any zip, and none of Spark's own path entries
    is on their ``sys.path``."""
    sc = spark.sparkContext
    sock_dir = sc.getConf().get("spark.python.unix.domain.socket.dir")
    assert os.path.dirname(sc.pythonExec) == sock_dir
    spark_path = sc._jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath()

    def where():
        import sys

        import py4j
        import pyspark

        on_path = [p for p in spark_path.split(":") if p in sys.path]
        return json.dumps([pyspark.__file__, py4j.__file__, on_path])

    got = _report_from_python_processes(spark, tmp_path, "waljson_where_probe", where)
    assert set(got) == {"udf", "plan", "read"}
    for role, places in got.items():
        for place in places:
            pyspark_file, py4j_file, on_path = json.loads(place)
            assert ".zip" not in pyspark_file + py4j_file and on_path == [], (role, place)


def _spark_path(home):
    return [
        os.path.join(home, "python", "lib", "pyspark.zip"),
        os.path.join(home, "python", "lib", f"py4j-{py4j_version}-src.zip"),
        os.path.join(home, "jars", "spark-core.jar"),
    ]


def _fake_spark_home(home, pyspark_version):
    lib = os.path.join(home, "python", "lib")
    os.makedirs(lib)
    with zipfile.ZipFile(os.path.join(lib, "pyspark.zip"), "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{pyspark_version}"\n')
    with zipfile.ZipFile(os.path.join(lib, f"py4j-{py4j_version}-src.zip"), "w") as z:
        z.writestr("py4j/version.py", f'__version__ = "{py4j_version}"\n')
    return _spark_path(home)


def test_launcher_only_for_the_drivers_interpreter_and_zip_versions(tmp_path):
    """The check picks the launcher only when ``pythonExec`` is the
    driver's own interpreter and Spark's zips carry the driver's pyspark
    and py4j versions; otherwise the session keeps Spark's."""
    import pyspark

    exe = sys.executable
    same = _fake_spark_home(str(tmp_path / "same"), pyspark.__version__)
    assert session._launcher_interpreter(exe, same) == exe
    on_path = shutil.which(os.path.basename(exe))
    assert session._launcher_interpreter(os.path.basename(exe), same) == (
        exe if on_path and os.path.samefile(on_path, exe) else None
    )

    other = _fake_spark_home(str(tmp_path / "other"), "0.0.1")
    assert session._launcher_interpreter(exe, other) is None
    assert session._launcher_interpreter(exe, same[:1]) is None  # no py4j zip
    assert session._launcher_interpreter(exe, _spark_path(str(tmp_path / "none"))) is None

    # another interpreter: a different file, or the same file reached
    # from another directory (a venv's bin/python next to its base)
    assert session._launcher_interpreter("/bin/sh", same) is None
    assert session._launcher_interpreter("tfs-no-such-python", same) is None
    link = tmp_path / "bin" / "python"
    link.parent.mkdir()
    link.symlink_to(exe)
    assert session._launcher_interpreter(str(link), same) is None


def test_launcher_passes_all_but_sparks_path_entries_through(tmp_path):
    """The launcher drops only the given entries from ``PYTHONPATH``,
    keeping the order and empty entries of the rest, and passes argv,
    stdin, stdout, stderr, the exit status and every other environment
    variable through unchanged."""
    spark_path = _spark_path("/opt/spark") + [str(tmp_path / "it's a [*].zip")]
    launcher = session._write_launcher(sys.executable, spark_path)
    assert session._write_launcher(sys.executable, spark_path) == launcher
    assert stat.S_IMODE(os.stat(launcher).st_mode) == 0o700
    code = textwrap.dedent("""
        import json, os, sys
        sys.stdout.write(sys.stdin.read().upper())
        sys.stderr.write("err")
        json.dump({"argv": sys.argv[1:], "env": dict(os.environ)},
                  open(os.environ["TFS_OUT"], "w"))
        sys.exit(7)
    """)
    args = ["a", "b c", "", "$HOME", "*"]
    keep = ["/x", "", "/y z", "/x"]
    for path in (
        ":".join(spark_path[:3] + ["/x", "", "/y z", spark_path[3], "/x"]),
        ":".join(["/x", spark_path[0], "", "/y z", "/x", spark_path[1]]),
    ):
        out = str(tmp_path / "out.json")
        env = dict(os.environ, PYTHONPATH=path, TFS_OUT=out, TFS_ODD="a b\n'c'")
        proc = subprocess.run(
            [launcher, "-c", code, *args], env=env, input="in", capture_output=True,
            text=True, timeout=60,
        )
        assert (proc.returncode, proc.stdout, proc.stderr) == (7, "IN", "err")
        with open(out) as f:
            got = json.load(f)
        assert got["argv"] == args
        assert got["env"].pop("PYTHONPATH").split(":") == keep
        assert got["env"] == {k: v for k, v in env.items() if k != "PYTHONPATH"}
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TFS_OUT"] = out
    proc = subprocess.run(
        [launcher, "-c", code], env=env, input="", capture_output=True, timeout=60,
    )
    assert proc.returncode == 7
    with open(out) as f:
        assert json.load(f)["env"] == env  # an unset PYTHONPATH stays unset


def test_session_keeps_sparks_interpreter_when_it_is_not_the_drivers(tmp_path):
    """A driver whose ``PYSPARK_PYTHON`` is another path to Python:
    ``pythonExec`` stays as Spark set it, and a UDF still runs, from
    Spark's zips."""
    link = tmp_path / "bin" / "python"
    link.parent.mkdir()
    link.symlink_to(sys.executable)
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from transferia_spark import get_spark

        spark = get_spark("launcher_fallback_probe", extra_conf={{
            "spark.ui.showConsoleProgress": "false",
        }})
        print("EXEC", spark.sparkContext.pythonExec)
        where = F.udf(lambda _: __import__("pyspark").__file__, "string")
        print("WORKER", spark.range(1, numPartitions=1).select(where("id")).first()[0])
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=str(link), SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert f"EXEC {link}" in lines
    [worker] = [ln.split(" ", 1)[1] for ln in lines if ln.startswith("WORKER ")]
    assert "pyspark.zip" in worker


def test_driver_with_a_deep_tmpdir_runs_and_removes_its_socket_dir(tmp_path):
    """A driver whose ``TMPDIR`` and ``java.io.tmpdir`` are too deep
    for a socket path: Python tasks still run (the socket directory is
    under /tmp), the directory is gone after exit, and a read of a
    bucketed table with a pending delta tail logs no "All paths were
    ignored" (its ``_v{n}``/``_d{n}`` roots are named by their leaves)."""
    deep = tmp_path / ("d" * 60) / ("e" * 60)
    deep.mkdir(parents=True)
    out = tmp_path / "sock_dir.txt"
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from transferia_spark import get_spark
        from transferia_spark.streaming.bucketed_table import BucketedParquetTable

        spark = get_spark("uds_probe", extra_conf={{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={deep}",
        }})
        sock_dir = spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.dir")
        open({str(out)!r}, "w").write(sock_dir)
        plus = F.udf(lambda x: x + 1, "long")
        print("UDF", spark.range(3, numPartitions=1).select(plus("id")).collect())
        t = BucketedParquetTable(spark, {str(tmp_path / "bt")!r}, keys=["id"],
                                 n_buckets=8, compact_policy="off")
        t.overwrite(spark.createDataFrame(
            [(i, "a") for i in range(40)], "id long, v string"))
        t.merge(spark.createDataFrame(
            [(1, "b", "u", 5, 0)],
            "id long, v string, _op string, _lsn long, _counter long"), fold=False)
        print("ROWS", t.read().count(), t.read().filter("id = 1").first().v)
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(deep), SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Traceback" not in proc.stderr, proc.stderr[-3000:]
    assert "All paths were ignored" not in proc.stderr
    assert "UDF [Row(<lambda>(id)=1), Row(<lambda>(id)=2), Row(<lambda>(id)=3)]" in proc.stdout
    assert "ROWS 40 b" in proc.stdout.splitlines()
    sock_dir = out.read_text()
    assert len(str(deep)) + SOCK_NAME_LEN > 107  # the default would not fit
    assert not sock_dir.startswith(str(deep))
    assert not os.path.exists(sock_dir)
