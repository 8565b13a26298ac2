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
"""

from __future__ import annotations

import contextlib
import os
import secrets
from collections.abc import Iterator
from typing import TextIO


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
