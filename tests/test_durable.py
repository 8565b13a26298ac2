"""The commit-point protocol (transferia_spark/durable.py)."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest

import transferia_spark
from transferia_spark import durable

#: the one rename outside durable.py: the bucketed table's GC renames a
#: doomed directory out of sight and publishes nothing
_RENAME_ALLOWED = {("streaming/bucketed_table.py", "_condemn")}


def _renames(tree: ast.AST) -> list[str]:
    """Enclosing function of every ``os.replace``/``os.rename`` call,
    under any name ``os`` is imported as (``from os import`` of either
    counts as a call at module level)."""
    os_names = {"os"}
    hits: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names
                         if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            hits += ["<module>" for a in node.names
                     if a.name in ("replace", "rename")]

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        f = getattr(node, "func", None)
        if (
            isinstance(node, ast.Call)
            and isinstance(f, ast.Attribute)
            and f.attr in ("replace", "rename")
            and isinstance(f.value, ast.Name)
            and f.value.id in os_names
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
        "from os import rename\n"
        "def f():\n    _os.replace('a', 'b')\n"
    )
    assert sorted(_renames(ast.parse(src))) == ["<module>", "f"]


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
    the bucketed table's GC and Spark's parquet listing."""
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
    t.overwrite(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert all(os.path.exists(os.path.join(t.root, n)) for n in left)
    assert {(r.id, r.v) for r in t.read().collect()} == {(2, "b")}
    assert spark.read.parquet(base).count() == 1
