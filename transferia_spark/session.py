"""SparkSession factory tuned for the target execution profile.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is what we would submit to a 1000-executor cluster — AQE on,
shuffle partitions sized explicitly, Arrow enabled for the Pandas-UDF slow
path, and a UTC session timezone so results are comparable with external
oracles (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import sys
import tempfile
import threading
import zipfile
import zipimport

import py4j
import pyspark
from py4j.version import __version__ as py4j_version
from pyspark.sql import SparkSession

#: the directory holding the ``transferia_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: pid → this process's private Unix-socket directory (see _socket_dir)
_SOCKET_DIRS: dict[int, str] = {}
_SOCKET_DIRS_LOCK = threading.Lock()


def _remove_socket_dir(pid: int, path: str) -> None:
    if os.getpid() == pid:  # never a forked child's copy of the hook
        shutil.rmtree(path, ignore_errors=True)


def _socket_dir() -> str:
    """This process's Unix-socket directory: ``mkdtemp`` under ``/tmp``
    (mode 0700), removed at interpreter exit.

    In Unix-socket mode PySpark drops its per-connection auth secret, so
    the directory's mode is the channel's only access control. Under
    ``/tmp`` rather than ``java.io.tmpdir`` or ``$TMPDIR``: Spark appends
    ``/.<uuid4>.sock`` (43 bytes), and a deep temp directory would pass
    the 107-byte ``sun_path`` limit and fail the session's start.
    """
    pid = os.getpid()
    with _SOCKET_DIRS_LOCK:
        path = _SOCKET_DIRS.get(pid)
        if path is None:
            path = _SOCKET_DIRS[pid] = tempfile.mkdtemp(prefix="tfs-", dir="/tmp")
            # registered before the session starts, so it runs after
            # py4j's own exit hook has stopped the JVM
            atexit.register(_remove_socket_dir, pid, path)
        return path


def _zip_version(archive: str, member: str) -> str | None:
    """The ``__version__`` string assigned in ``member`` of ``archive``."""
    try:
        with zipfile.ZipFile(archive) as z:
            src = z.read(member).decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", src, re.M)
    return m.group(1) if m else None


def _launcher_interpreter(python_exec: str, spark_path: list[str]) -> str | None:
    """The interpreter a launcher may start without Spark's zips, or None.

    ``python_exec`` (the context's ``pythonExec``) must resolve on
    ``PATH`` to the driver's own interpreter: the same file in the same
    directory, so a venv's ``bin/python`` never stands in for its base
    interpreter. The driver's ``pyspark`` and ``py4j`` must be regular
    imports, not zip imports, at the versions of ``pyspark.zip``
    (``pyspark/version.py``) and ``py4j-<v>-src.zip`` in ``spark_path``
    (Spark's ``sparkPythonPath`` entries).
    """
    exe = shutil.which(python_exec)
    if exe is None:
        return None
    exe = os.path.abspath(exe)
    try:
        if not (
            os.path.samefile(exe, sys.executable)
            and os.path.samefile(os.path.dirname(exe), os.path.dirname(sys.executable))
        ):
            return None
    except OSError:
        return None
    if any(isinstance(m.__loader__, zipimport.zipimporter) for m in (pyspark, py4j)):
        return None
    found = {}
    for entry in spark_path:
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            found["pyspark"] = _zip_version(entry, "pyspark/version.py")
        elif m := re.fullmatch(r"py4j-(.+)-src\.zip", name):
            found["py4j"] = m.group(1)
    if found != {"pyspark": pyspark.__version__, "py4j": py4j_version}:
        return None
    return exe


def _write_launcher(interpreter: str, spark_path: list[str]) -> str:
    """A ``/bin/sh`` script in the private socket directory that drops
    the ``spark_path`` entries from ``PYTHONPATH`` and execs
    ``interpreter`` with its own arguments; argv, stdio, exit status and
    every other environment variable pass through unchanged. Named by
    its content, written once per process."""
    drop = "|".join(shlex.quote(p) for p in spark_path)
    text = f"""#!/bin/sh
# Spark-started Python: Spark's own PYTHONPATH entries dropped, so the
# interpreter imports its installed (byte-compiled) pyspark and py4j
if [ -n "${{PYTHONPATH+set}}" ]; then
  rest=$PYTHONPATH:
  out=
  while [ -n "$rest" ]; do
    entry=${{rest%%:*}}
    rest=${{rest#*:}}
    case $entry in
      {drop}) ;;
      *) out=$out:$entry ;;
    esac
  done
  PYTHONPATH=${{out#:}}
fi
exec {shlex.quote(interpreter)} "$@"
"""
    digest = hashlib.sha256(text.encode()).hexdigest()[:16]
    path = os.path.join(_socket_dir(), f"python-{digest}")
    with _SOCKET_DIRS_LOCK:
        if not os.path.exists(path):
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o700)
            with os.fdopen(fd, "w") as f:
                f.write(text)
    return path


def get_spark(
    app_name: str = "transferia_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    the right number for local mode; on a real cluster this is overridden
    at submit time (or left to AQE coalescing, which is enabled).

    Python workers fork from :mod:`transferia_spark.worker_daemon`
    (``spark.python.daemon.module``), which stops each task from
    re-reading ``pyspark.zip`` and the spark-core jar on CPython < 3.12
    (~160-200 ms per task). The workers import it by name, so the
    directory holding this package is prepended to
    ``spark.executorEnv.PYTHONPATH``, ahead of any value in
    ``extra_conf``; without it no Python task could start when the
    driver's cwd is outside the repository.

    Every Python<->JVM channel of the session (the daemon-forked
    workers, the streaming sources' planner worker, the accumulator
    server) runs over a Unix domain socket
    (``spark.python.unix.domain.socket.enabled``). Over loopback TCP
    each Python task stalled ~40 ms before its first row: the JVM's
    small writes met the worker's delayed ACK (Nagle's algorithm). A
    one-task RDD ``map`` over 1000 rows went 57 -> 17 ms (4-vCPU host,
    ``local[3]``). The sockets live in a private 0700 directory
    (``_socket_dir``), one per process, removed at exit. A value in
    ``extra_conf`` still overrides either setting.

    Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j
    source zip first on the ``PYTHONPATH`` of every Python process it
    starts. The zip holds no ``.pyc``, so each fresh interpreter compiles
    pyspark from source: importing the daemon's modules took a median of
    783 ms from the zip against 250 ms from the installed pyspark of the
    same version (4-vCPU host). So when the context's ``pythonExec``
    resolves on ``PATH`` to the driver's own interpreter, and the
    driver's ``pyspark`` and ``py4j`` are regular imports at the zips'
    versions, ``pythonExec`` becomes a ``/bin/sh`` launcher in the
    socket directory (``_write_launcher``). It drops Spark's own path
    entries (both zips and the spark-core jar) from ``PYTHONPATH`` and
    execs that interpreter, so the workers import the installed,
    byte-compiled pyspark. It serves every interpreter started for this
    context: the daemon and its workers, the data-source planners and
    the streaming source runner. The interpreter the JVM starts for
    ``lookup_data_sources`` at ``spark.dataSource.register`` is not
    the context's and still reads the zip. With another interpreter, a
    version mismatch or a zip-imported pyspark, ``pythonExec`` stays as
    Spark set it and the workers import from the zips.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # files: keep scan partitions big enough to amortize task overhead
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # commit algorithm v2: task outputs rename straight into the
        # destination instead of through the job-level _temporary move —
        # halves the per-commit rename fan-out. Correct because every
        # whole-table write goes to a FRESH directory whose visibility
        # is flipped afterwards: a manifest/pointer publish
        # (BucketedParquetTable's versioned base and delta directories)
        # or a staged-directory swap (durable.replacing, for FileSink
        # and compaction), so a failed job's partial files are never
        # read. An append to a live directory (FileSink's change log)
        # is at-least-once either way: a retried batch appends again
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        # testdata's events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # ns timestamps — read as long, converted in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "transferia_spark.worker_daemon")
        # streaming checkpoint logs (offsets/, commits/) through
        # FileSystem, not FileContext. Without the native Hadoop
        # library the local filesystem shells out a `chmod` per file it
        # creates and a `readlink` per path FileContext.rename
        # resolves: 10 processes per log entry (2 chmod, 8 readlink)
        # before, 2 chmod after; ~30 → ~8 ms per entry. The path still
        # goes through the checksummed LocalFileSystem, so every entry
        # keeps its .N.crc and a corrupt entry fails its read-back.
        # Rename contract: both managers write a temp file, check that
        # the batch file does not exist and rename. On file: that is a
        # check-then-rename(2) under either manager (FileContext's
        # local rename checks first too); on HDFS FileContext renames
        # with Rename.NONE and FileSystem.rename refuses an existing
        # destination, both atomically at the NameNode
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    conf = {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": _socket_dir(),
        **(extra_conf or {}),
    }
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    # every Python worker of this session sees its local[n], the
    # streaming sources' planners included (they run with no
    # SparkContext; wal_source sizes its decode slices by it). The JVM
    # environment would do only for the first session of a process: a
    # restarted session reuses the JVM and its first value
    conf["spark.executorEnv.SPARK_GRAFT_CPUS"] = str(cpus)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    spark_path = sc._jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath()
    spark_path = [p for p in spark_path.split(os.pathsep) if p]
    interpreter = _launcher_interpreter(sc.pythonExec, spark_path)
    if interpreter is not None:
        sc.pythonExec = _write_launcher(interpreter, spark_path)
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (absolute path, mtime_ns, size, format, reader options, nanosAsLong)
#: → inferred StructType, oldest first. Parquet schema inference costs
#: ~100 ms of driver-side footer reading per call; the suite calls
#: load_tables per query and every activate() loads each source table
#: again. The key holds the file's identity AND stat, so a changed file
#: re-infers; only the SCHEMA is cached — every read still scans.
_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_MAX = 256
_SCHEMA_LOCK = threading.Lock()


def read_files(spark: SparkSession, path: str, fmt: str = "parquet", options=None):
    """``spark.read.format(fmt).options(**options).load(path)`` — for a
    local parquet/orc FILE the inferred schema is memoized, so a repeat
    read skips the footer inference pass (~110 ms → ~20 ms per open,
    measured r14). Directories and remote URIs infer as usual."""
    options = dict(options or {})
    reader = spark.read.format(fmt).options(**options)
    if fmt not in ("parquet", "orc") or "://" in path or not os.path.isfile(path):
        return reader.load(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path), st.st_mtime_ns, st.st_size, fmt,
        tuple(sorted(options.items())),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return reader.schema(schema).load(path)
    df = reader.load(path)
    with _SCHEMA_LOCK:  # bounded: evict the oldest entries
        _SCHEMA_CACHE[key] = df.schema
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            del _SCHEMA_CACHE[next(iter(_SCHEMA_CACHE))]
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables=TABLES):
    """Read the driver-generated parquet tables as a dict of DataFrames.

    ``events.ts`` is TIMESTAMP(NANOS) in the files; with ``nanosAsLong``
    it arrives as a long which we truncate to µs — the same conversion
    DuckDB applies, so oracles line up exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # The driver (and any external caller) constructs its own SparkSession
    # without get_spark()'s builder confs, so set the runtime-settable confs
    # we depend on right here: nanosAsLong for events.parquet's
    # TIMESTAMP(NANOS) column, and a UTC session zone so timestamp values
    # compare bit-for-bit against UTC-naive DuckDB oracles.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    out = {}
    for t in tables:
        df = read_files(spark, f"{sf_dir}/{t}.parquet")
        for f in df.schema.fields:
            if f.name == "ts" and isinstance(f.dataType, T.LongType) and t == "events":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        out[t] = df
    return out


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view for the Spark SQL surface."""
    for name, df in load_tables(spark, sf_dir, tables).items():
        df.createOrReplaceTempView(name)
