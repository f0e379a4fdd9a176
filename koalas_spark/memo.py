"""The session artifact store: everything derived from a source table
and reused — memoized DataFrames and files staged on disk — goes
through this module, and no other module fingerprints a source or
picks a staging path.

The contract:

* **Keyed on source identity.** An artifact's key is ``(id(spark),
  name, source_key(sf_dir, *tables), params)``: the session, what the
  artifact is, the bytes and newest ``mtime_ns`` of every source table
  it derives from, and its own parameters. A source regenerated in
  place can never serve a stale artifact. This is the reuse-keyed-on-
  input-identity design of incremental top-k sessions (EDBT 2020).
* **Session-scoped.** :func:`artifact` memoizes a build (usually a lazy
  localCheckpoint) so the consumers within one session share it —
  "build the edge list once, fan out". :func:`staged` does the same for
  data a query writes and reads back: it returns a path under
  :func:`workdir` and calls the writer once per session.
* **Reset per bench sample.** A harness that keeps the minimum of
  several samples would otherwise charge every shared build or staged
  write to one discarded sample and time memo hits. bench.py calls
  :func:`reset_session_artifacts` around each timed sample, which drops
  every memo and deletes every staged path, so each sample pays its
  full computation from the parquet inputs.
* **Nothing outlives the process.** :func:`workdir` is one
  ``tempfile.mkdtemp`` per process (so ``TMPDIR`` picks its parent),
  removed at exit.

``rebuild=True`` on the memoized builders bypasses the store; the
parity tests use it to prove shared == fresh.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

_ARTIFACTS: dict = {}
# the stores bench/perfbench count and clear between samples
_REGISTRY: list[dict] = [_ARTIFACTS]
_SEQ = itertools.count()
_WORKDIR: str | None = None


def _table_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _scan(path: str) -> tuple[int, int]:
    """(bytes, newest mtime_ns) of a parquet file, or summed over every
    file under a parquet directory (``os.stat`` of a directory reads its
    inode, not its data)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return st.st_size, st.st_mtime_ns
    size, mtime = 0, st.st_mtime_ns
    for root, _dirs, files in os.walk(path):
        for f in files:
            fst = os.stat(os.path.join(root, f))
            size += fst.st_size
            mtime = max(mtime, fst.st_mtime_ns)
    return size, mtime


def source_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of ``table`` under ``sf_dir``, file or directory —
    the metadata-only input of every size gate."""
    return _scan(_table_path(sf_dir, table))[0]


def source_key(sf_dir: str, *tables: str) -> tuple:
    """Identity of each named table under ``sf_dir`` (of ``sf_dir``
    itself when no table is named): path, bytes and newest mtime_ns."""
    paths = [_table_path(sf_dir, t) for t in tables] or [sf_dir]
    return tuple((os.path.abspath(p), *_scan(p)) for p in paths)


def artifact(spark, name: str, sources: tuple, build, *params):
    """``build()``, memoized per session on ``name``, the identity of
    ``sources`` (``(sf_dir, *tables)``, as :func:`source_key` takes
    them) and ``params``."""
    key = (id(spark), name, source_key(*sources), params)
    got = _ARTIFACTS.get(key)
    if got is None:
        got = _ARTIFACTS[key] = build()
    return got


class _Staged(str):
    """A staged path; reset deletes it along with the memos."""


def workdir() -> str:
    """This process's work directory, created on first use and removed
    at exit."""
    global _WORKDIR
    if _WORKDIR is None:
        _WORKDIR = tempfile.mkdtemp(prefix="koalas_spark_")
        atexit.register(shutil.rmtree, _WORKDIR, ignore_errors=True)
    return _WORKDIR


def staged(spark, name: str, sources: tuple, write, marker: str) -> str:
    """A path under :func:`workdir` holding what ``write(path)`` wrote
    from ``sources``, written once per session. ``marker`` is the file
    ``write`` leaves last; while it is missing (first use, or a write
    that died half way) the path is cleared and written again."""
    path = artifact(
        spark,
        name,
        sources,
        lambda: _Staged(os.path.join(workdir(), f"{name}_{next(_SEQ)}")),
    )
    if not os.path.exists(os.path.join(path, marker)):
        shutil.rmtree(path, ignore_errors=True)
        write(path)
    return path


def reset_session_artifacts() -> None:
    """Drop every memoized artifact and delete every staged path.

    The dropped DataFrames' checkpoint blocks are released by Spark's
    ContextCleaner once the Python references die — callers that care
    about block-manager hygiene (bench.py) follow this with gc.
    """
    for v in _ARTIFACTS.values():
        if isinstance(v, _Staged):
            shutil.rmtree(v, ignore_errors=True)
    _ARTIFACTS.clear()
