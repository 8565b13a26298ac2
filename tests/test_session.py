"""``get_spark``'s Python<->JVM channel: Unix domain sockets in a
private, short socket directory that is removed at exit."""

import json
import os
import stat
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

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


def test_python_udf_and_stream_reader_run_over_unix_sockets(spark, tmp_path):
    """A UDF's worker, the ``waljson`` planner and its decode task all
    see Spark's Unix-socket flag in their environment. Each reports
    through a file, since the planner and the task run in workers."""
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        WalJsonStreamReader,
        wal_output_schema,
    )

    @F.udf("string")
    def worker_flag(_):
        import os

        return os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")

    got = spark.range(1, numPartitions=1).select(worker_flag("id")).collect()
    assert got[0][0].lower() == "true"

    seen = str(tmp_path / "seen")
    os.makedirs(seen)

    def note(role):
        flag = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")
        with open(os.path.join(seen, f"{role}-{os.getpid()}"), "w") as f:
            f.write(flag)

    class ProbeReader(WalJsonStreamReader):
        def read(self, partition):
            note("read")
            return super().read(partition)

    class ProbeSource(WalJsonDataSource):
        @classmethod
        def name(cls):
            return "waljson_uds_probe"

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
        spark.readStream.format("waljson_uds_probe")
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
    flags = {}
    for name in os.listdir(seen):
        with open(os.path.join(seen, name)) as f:
            flags.setdefault(name.split("-")[0], set()).add(f.read().lower())
    assert flags == {"plan": {"true"}, "read": {"true"}}


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
