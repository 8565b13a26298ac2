"""Durable publish: the one commit-point protocol.

A file the engine later trusts (a manifest, a pointer, an ack, a
resume position, a recorded event file) is never written in place: it
goes to ``.<name>.<random hex>.tmp`` beside the target, is fsync'd and
renamed in, and then the directory is fsync'd. A reader sees the old
file or the new one, and a published file survives a power loss whole.
The leading dot keeps a crash's leftover temp file out of every
directory scan (the Hadoop hidden-file rule, which Spark, the
recorded-directory readers and the bucketed table's GC all follow);
the random part keeps two writers of one path apart.

A whole directory (a snapshot table, a compacted table) is replaced the
same way, one level up: :func:`replacing` stages the new copy in a
hidden sibling and swaps it in whole.
"""

from __future__ import annotations

import contextlib
import ctypes
import errno
import fcntl
import os
import secrets
import shutil
from collections.abc import Iterator
from typing import TextIO

_AT_FDCWD = -100
_RENAME_EXCHANGE = 2
_renameat2 = getattr(ctypes.CDLL(None, use_errno=True), "renameat2", None)
if _renameat2 is not None:
    _renameat2.argtypes = [ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
                           ctypes.c_char_p, ctypes.c_uint]
    _renameat2.restype = ctypes.c_int


class ConcurrentReplaceError(RuntimeError):
    """A second writer tried to replace a directory mid-replace."""


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


@contextlib.contextmanager
def publishing(path: str) -> Iterator[TextIO]:
    """Yield a text handle on a fresh temp file beside ``path``; on a
    clean exit publish it durably as ``path`` (fsync the file, rename,
    fsync the directory). On an exception the temp file is removed and
    ``path`` is left as it was."""
    directory, name = os.path.split(path)
    tmp = os.path.join(directory, f".{name}.{secrets.token_hex(4)}.tmp")
    try:
        with open(tmp, "x") as f:
            yield f
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    _fsync(directory or ".")


def publish(path: str, text: str) -> None:
    """Durably replace ``path`` with ``text`` (see :func:`publishing`)."""
    with publishing(path) as f:
        f.write(text)


def sync_tree(root: str) -> None:
    """Fsync every file and directory under ``root``, then ``root``'s
    parent: a directory written without syncs (Spark's local parquet
    writer never fsyncs) is durable, entry included, before anything
    that references it is published."""
    for directory, _dirs, files in os.walk(root):
        for name in files:
            _fsync(os.path.join(directory, name))
        _fsync(directory)
    _fsync(os.path.dirname(root) or ".")


def _exchange(a: str, b: str) -> None:
    """Swap two existing directory entries in one atomic step
    (``renameat2(RENAME_EXCHANGE)``). ``OSError(EINVAL)`` where the
    filesystem (NFS, for one) or libc cannot."""
    if _renameat2 is None:
        raise OSError(errno.EINVAL, "renameat2 unavailable", a)
    if _renameat2(_AT_FDCWD, os.fsencode(a), _AT_FDCWD, os.fsencode(b),
                  _RENAME_EXCHANGE):
        e = ctypes.get_errno()
        raise OSError(e, os.strerror(e), a, None, b)


def _swap_in(stage: str, path: str, old: str) -> str | None:
    """Make ``stage`` live as ``path``; return where the replaced copy
    now is (None if there was none)."""
    if not os.path.exists(path):
        os.rename(stage, path)
        return None
    try:
        _exchange(stage, path)
        return stage
    except OSError as e:
        if e.errno not in (errno.EINVAL, errno.ENOSYS):
            raise
    # no exchange here: a crash between these two renames leaves only
    # ``old``, which the next replace of ``path`` restores
    os.rename(path, old)
    os.rename(stage, path)
    return old


@contextlib.contextmanager
def replacing(path: str) -> Iterator[str]:
    """Yield a staging path for a new copy of directory ``path``; on a
    clean exit sync it and swap it in whole. A reader of ``path`` sees
    the old copy or the new one, never an empty or half-written one.

    The copy is staged in the hidden sibling ``.<name>.staging`` (so
    Spark, DuckDB and every directory scan skip it), fsync'd with
    :func:`sync_tree`, then exchanged with the live directory, the
    parent fsync'd and the old copy removed. On an exception the
    staging copy is removed and ``path`` is left as it was.

    One writer per target: a non-blocking ``flock`` on ``.<name>.lock``
    brackets the replace, and a second replace of the same target
    fails with :class:`ConcurrentReplaceError` (a killed writer's lock
    dies with it). Under the lock, a staging or old copy a crash left
    behind is removed first, after restoring the old copy if the crash
    came between the fallback's two renames. Different targets in one
    parent replace concurrently."""
    parent, name = os.path.split(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    stage, old, lock = (os.path.join(parent, f".{name}.{s}")
                        for s in ("staging", "old", "lock"))
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise ConcurrentReplaceError(
                f"another writer is replacing {path}; a directory replace "
                "is single-writer — serialize its writers"
            ) from None
        if not os.path.exists(path) and os.path.isdir(old):
            os.rename(old, path)
        for leftover in (stage, old):
            shutil.rmtree(leftover, ignore_errors=True)
        try:
            yield stage
            sync_tree(stage)
            replaced = _swap_in(stage, path, old)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        _fsync(parent)
        if replaced is not None:
            shutil.rmtree(replaced, ignore_errors=True)
    finally:
        os.close(fd)
