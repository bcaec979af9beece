"""Scratch directories for the inputs and outputs queries stage on disk.

Round-trip and streamed queries write a fixture-derived input once
(a partitioned layout, a versioned table, a stream-source directory)
and read it back, or need an empty directory per run (a checkpoint, an
accumulating sink). Every such directory comes from here:

- ``staged(kind, sf_dir, write)`` runs ``write(dir)`` at most once per
  process per ``(kind, sf_dir)`` and returns the same dir afterwards.
  The dir counts as ready only once ``write`` has returned: a ``write``
  that raises leaves nothing behind, and a dir that has since
  disappeared is written again.
- ``fresh(kind, sf_dir)`` returns a new empty dir on every call and
  removes the one it returned before for the same key.

All dirs live under one per-process root, made lazily with
``tempfile.mkdtemp`` (so ``TMPDIR`` applies) and removed at interpreter
exit; session.py puts the default Spark warehouse there too. A returned
DataFrame may scan its dir lazily, so dirs are never removed earlier
than that, except by the next ``fresh`` of their key.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

_root: str | None = None
_dirs: dict[tuple[str, str], str] = {}
# Held across a write so a key is written once; reentrant because a
# write may stage another key on the same thread.
_lock = threading.RLock()


def root() -> str:
    """This process's scratch root, made on first use."""
    global _root
    with _lock:
        if _root is None or not os.path.isdir(_root):
            _root = tempfile.mkdtemp(prefix="qev_scratch_")
            atexit.register(shutil.rmtree, _root, True)
        return _root


def _new_dir(kind: str) -> str:
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=root())


def staged(kind: str, sf_dir: str, write: Callable[[str], None]) -> str:
    """The dir ``write`` has filled for ``(kind, sf_dir)``, writing it
    on the first call (or after the dir has disappeared)."""
    key = (kind, os.path.abspath(sf_dir))
    with _lock:
        d = _dirs.get(key)
        if d is not None and os.path.isdir(d):
            return d
        d = _new_dir(kind)
        try:
            write(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        _dirs[key] = d
        return d


def fresh(kind: str, sf_dir: str) -> str:
    """A new empty dir for ``(kind, sf_dir)``; the previous one goes."""
    key = (kind, os.path.abspath(sf_dir))
    with _lock:
        old = _dirs.pop(key, None)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        _dirs[key] = d = _new_dir(kind)
        return d


def lookup(kind: str, sf_dir: str) -> str | None:
    """The dir last returned for ``(kind, sf_dir)``, if any."""
    return _dirs.get((kind, os.path.abspath(sf_dir)))
