"""The commit-point protocol (transferia_spark/durable.py)."""

from __future__ import annotations

import ast
import errno
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

import transferia_spark
from transferia_spark import durable

#: the one rename outside durable.py: the bucketed table's GC renames a
#: doomed directory out of sight and publishes nothing
_RENAME_ALLOWED = {("streaming/bucketed_table.py", "_condemn")}

#: the calls that move a directory entry, by the module they come from
_MOVES = {"os": {"replace", "rename", "renames"}, "shutil": {"move"}}


def _renames(tree: ast.AST) -> list[str]:
    """Enclosing function of every rename: an ``os.replace``,
    ``os.rename``, ``os.renames`` or ``shutil.move`` call under any
    name its module is imported as (a ``from`` import of one counts at
    module level), and any mention of ``renameat2``."""
    aliases = {m: {m} for m in _MOVES}
    hits: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in _MOVES:
                    aliases[a.name].add(a.asname or a.name)
        elif isinstance(node, ast.ImportFrom) and node.module in _MOVES:
            hits += ["<module>" for a in node.names
                     if a.name in _MOVES[node.module]]

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        f = getattr(node, "func", None)
        if (
            isinstance(node, ast.Call)
            and isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and any(f.value.id in aliases[m] and f.attr in calls
                    for m, calls in _MOVES.items())
        ) or "renameat2" in (
            getattr(node, "id", None),
            getattr(node, "attr", None),
            node.value if isinstance(node, ast.Constant) else None,
        ):
            hits.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_every_publish_goes_through_durable():
    """A hand-rolled temp-and-rename skips the fsyncs and the hidden
    temp-file name that keep a commit point durable and a crash's
    leftover unread: no module but durable.py may rename a file in."""
    root = Path(transferia_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "durable.py":
            tree = ast.parse(path.read_text(), filename=str(path))
            found |= {(rel, func) for func in _renames(tree)}
    assert found == _RENAME_ALLOWED


def test_guard_sees_aliases():
    src = (
        "import os as _os\n"
        "import shutil as sh\n"
        "from os import rename\n"
        "from shutil import move\n"
        "def f():\n    _os.replace('a', 'b')\n"
        "def g():\n    sh.move('a', 'b')\n"
        "def h():\n    _os.renames('a', 'b')\n"
        "def i(libc):\n    libc.renameat2(-100, b'a', -100, b'b', 2)\n"
        "def j(libc):\n    return getattr(libc, 'renameat2')\n"
    )
    assert sorted(_renames(ast.parse(src))) == [
        "<module>", "<module>", "f", "g", "h", "i", "j",
    ]


def test_publish_replaces_whole_or_not_at_all(tmp_path):
    path = str(tmp_path / "state.json")
    durable.publish(path, "old")
    with pytest.raises(RuntimeError):
        with durable.publishing(path) as f:
            f.write("half")
            raise RuntimeError("writer died")
    assert open(path).read() == "old"
    assert os.listdir(tmp_path) == ["state.json"]  # temp file removed
    durable.publish(path, "new")
    assert open(path).read() == "new"
    assert os.listdir(tmp_path) == ["state.json"]


class _Killed(BaseException):
    pass


def _leave_crash_temp(monkeypatch, path: str, text: str) -> str:
    """The temp file a publish killed just before its rename leaves."""
    before = set(os.listdir(os.path.dirname(path)))

    def killed(src, dst):
        raise _Killed

    with monkeypatch.context() as m:
        m.setattr(os, "replace", killed)
        m.setattr(os, "remove", lambda p: None)  # no cleanup either
        with pytest.raises(_Killed):
            durable.publish(path, text)
    (left,) = set(os.listdir(os.path.dirname(path))) - before
    assert left.startswith(".") and left.endswith(".tmp")
    return left


def test_crash_temp_is_never_read_as_data(spark, tmp_path, monkeypatch):
    """A temp file a crash left behind is skipped by every scanner of
    the directories publishes land in: the recorded-directory readers,
    the bucketed table's GC and Spark's parquet listing. The table's GC
    removes one from its root once it is older than a claim TTL."""
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable
    from transferia_spark.streaming.wal_source import (
        _scan_files,
        event_file,
        last_published_event,
        next_file_no,
    )

    rec = str(tmp_path / "rec")
    os.makedirs(rec)
    with event_file(rec, "000000000.jsonl") as out:
        out.write(json.dumps({"lsn": 1}) + "\n")
    _leave_crash_temp(monkeypatch, os.path.join(rec, "000000001.jsonl"),
                      json.dumps({"lsn": 2}) + "\n")
    assert _scan_files(rec) == [os.path.join(rec, "000000000.jsonl")]
    assert next_file_no(rec) == 1
    assert last_published_event(rec, "") == {"lsn": 1}

    t = BucketedParquetTable(spark, str(tmp_path / "bt"), keys=["id"],
                             n_buckets=2)
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    v = t.version()
    left = [
        _leave_crash_temp(monkeypatch, t._pointer, "999"),
        _leave_crash_temp(monkeypatch, t._manifest_path(v + 1), "{"),
    ]
    vdir = os.path.join(t.root, f"_v{t.manifest()[0]}")
    base = os.path.join(vdir, next(n for n in os.listdir(vdir)
                                   if n.startswith("bkt=")))
    _leave_crash_temp(monkeypatch, os.path.join(base, "part-x.parquet"),
                      "not parquet")
    assert t.version() == v
    stale = time.time() - t.CLAIM_TTL - 60
    os.utime(os.path.join(t.root, left[0]), (stale, stale))
    t.overwrite(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert [os.path.exists(os.path.join(t.root, n)) for n in left] == [
        False, True,
    ]
    assert {(r.id, r.v) for r in t.read().collect()} == {(2, "b")}
    assert spark.read.parquet(base).count() == 1


# ------------------------------------------------------ directory replace


def _kill(*args, **kwargs):
    raise _Killed


def _replace_rows(spark, target: str, n: int, fail_at: int | None = None):
    """Replace ``target`` with ids 0..n-1 in 4 partitions; with
    ``fail_at``, the task holding that id raises after the other tasks
    have committed their files."""
    from pyspark.sql import functions as F

    df = spark.range(0, n, 1, 4)
    if fail_at is not None:
        def check(i):
            if i == fail_at:
                time.sleep(2)
                raise RuntimeError("task failed mid-job")
            return i

        df = df.select(F.udf(check, "long")("id").alias("id"))
    with durable.replacing(target) as stage:
        df.write.parquet(stage)


@pytest.mark.parametrize("step", ["write", "sync_tree", "exchange", "remove_old"])
def test_replace_leaves_pre_or_post_state_at_each_step(
    spark, tmp_path, monkeypatch, step
):
    """Fail each step of a directory replace in turn: a fresh read sees
    the old table or the new one, never an empty or partial one, and
    the next replace succeeds and leaves no staging or old copy."""
    target = str(tmp_path / "t")
    _replace_rows(spark, target, 10)
    rmtree = shutil.rmtree

    def killed_removing(p, **kw):  # no leftover exists before the swap
        if os.path.exists(p):
            raise _Killed
        rmtree(p, **kw)

    with monkeypatch.context() as m:
        if step == "sync_tree":
            m.setattr(durable, "sync_tree", _kill)
        elif step == "exchange":
            m.setattr(durable, "_exchange", _kill)
        elif step == "remove_old":
            m.setattr(shutil, "rmtree", killed_removing)
        with pytest.raises(Exception if step == "write" else _Killed):
            _replace_rows(spark, target, 20,
                          fail_at=15 if step == "write" else None)
    assert spark.read.parquet(target).count() == (
        20 if step == "remove_old" else 10)
    _replace_rows(spark, target, 30)
    assert spark.read.parquet(target).count() == 30
    assert sorted(os.listdir(tmp_path)) == [".t.lock", "t"]


def _replace_text(target: str, text: str) -> None:
    with durable.replacing(target) as stage:
        os.makedirs(stage)
        with open(os.path.join(stage, "data"), "w") as f:
            f.write(text)


def _read_text(target: str) -> str:
    with open(os.path.join(target, "data")) as f:
        return f.read()


def test_replace_falls_back_to_two_renames(tmp_path, monkeypatch):
    """Where the filesystem refuses the exchange (EINVAL), the swap is
    two renames; a kill between them leaves only the old copy, which
    the next replace of the target restores before it stages."""
    def refused(a, b):
        raise OSError(errno.EINVAL, "no exchange on this filesystem", a)

    monkeypatch.setattr(durable, "_exchange", refused)
    target = str(tmp_path / "t")
    _replace_text(target, "v1")
    _replace_text(target, "v2")
    assert _read_text(target) == "v2"
    assert sorted(os.listdir(tmp_path)) == [".t.lock", "t"]

    rename = os.rename

    def killed_before_second(src, dst):
        if src.endswith(".staging"):
            raise _Killed
        rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", killed_before_second)
        m.setattr(shutil, "rmtree", lambda p, **kw: None)  # no cleanup
        with pytest.raises(_Killed):
            _replace_text(target, "v3")
    assert not os.path.exists(target)

    with durable.replacing(target) as stage:
        assert _read_text(target) == "v2"
        assert not os.path.exists(stage)
        os.makedirs(stage)
    assert os.listdir(target) == []
    assert sorted(os.listdir(tmp_path)) == [".t.lock", "t"]


def test_replace_is_per_target(tmp_path):
    """Tables of one parent replace concurrently (activate() writes
    them from a pool); a second replace of the same target while one
    is in flight fails loudly."""
    barrier = threading.Barrier(2, timeout=30)

    def replace(name: str) -> None:
        target = str(tmp_path / name)
        with durable.replacing(target) as stage:
            barrier.wait()  # both replaces are in flight at once
            with pytest.raises(durable.ConcurrentReplaceError,
                               match="single-writer"):
                with durable.replacing(target):
                    pass
            os.makedirs(stage)
            with open(os.path.join(stage, "data"), "w") as f:
                f.write(name)

    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(replace, n) for n in ("a", "b")]:
            fut.result(timeout=60)
    assert [_read_text(str(tmp_path / n)) for n in ("a", "b")] == ["a", "b"]
