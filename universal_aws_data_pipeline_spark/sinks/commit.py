"""One way to commit a directory.

The reference has one commit idea: the Redshift loader writes a staging
table and swaps it into place (``redshift_loader/handler.py:153-165``).
Every persisted directory in the engine is committed through this module —
warehouse tables, compacted tables, SCD2 dimensions, streaming state and
the catalog's build-once artifacts — in one of two protocols.

``replace_dir`` — staging + rename swap, for POSIX/HDFS paths::

    recover(target)                  # heal any interrupted earlier swap
    write(staging)                   # the caller's writer; raising aborts
    <staging>/_meta.json             # written LAST: "staging is complete"
    rename target -> old; rename staging -> target; remove old

``write`` runs before anything visible moves, so a caller that must reject
a load (the warehouse MAXERROR cap) raises inside it; the staging is removed
and ``target`` is left untouched. ``_meta.json`` is the completeness
sentinel and carries the caller's metadata (the streaming state's folded
batch id, an artifact's lineage) into the table atomically with the data.
A crash between the two renames leaves ``target`` missing but a complete
staging beside it, which ``recover`` promotes; a crash anywhere else leaves
either the old table plus removable debris or the new table. Spark's file
readers skip ``_``-prefixed files, so the sentinel never shows up in reads.

``commit_version`` — manifest commit, atomic on object stores too. A rename
on S3 is copy + delete per object, so a crash mid-swap tears the table.
Instead each commit writes a fresh immutable version dir and then replaces
one small ``_manifest.json`` naming it (write-temp + ``os.replace`` here, a
single-key PUT on S3). Readers resolve through the manifest, so a version
dir is invisible until its manifest lands. Versions outside the retained
set are garbage-collected by the next successful commit, never by readers.
This is the idea Delta/Iceberg industrialize; the manifest is the place a
richer table format would extend.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from typing import Callable

_META = "_meta.json"
_MANIFEST = "_manifest.json"
_NEW = ".__new__."


def _write_json(path: str, obj: dict) -> None:
    """Write-temp + ``os.replace``: a reader (or ``recover``) never sees a
    torn file — it is absent, old, or complete."""
    tmp = f"{path}{_NEW}{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _is_complete(staging_dir: str) -> bool:
    return os.path.exists(os.path.join(staging_dir, _META))


def _read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _write_or_remove(write: Callable[[str], None], out: str) -> None:
    """Run the caller's writer; a write that raises leaves no ``out``."""
    try:
        write(out)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise


def read_meta(target: str) -> dict | None:
    """The ``_meta.json`` a ``replace_dir`` commit stored in ``target``;
    None when ``target`` was never committed through ``replace_dir``."""
    return _read_json(os.path.join(target, _META))


def recover(target: str) -> None:
    """Heal an interrupted swap so ``target`` reflects the last durable
    commit, then remove every stray staging/old directory.

    - ``target`` present: the prior commit finished; clean the debris.
    - ``target`` missing, a COMPLETE staging exists (has ``_meta.json``):
      the crash hit between the two renames — promote the staging.
    - ``target`` missing, only an ``__old__`` dir: roll back to it.
    - ``target`` missing, only partial stagings: the first-ever commit
      crashed mid-write — nothing to restore, clean up.
    """
    target = target.rstrip("/")
    stagings = glob.glob(f"{glob.escape(target)}.__staging__.*")
    olds = glob.glob(f"{glob.escape(target)}.__old__.*")
    if not os.path.exists(target):
        complete = [s for s in stagings if _is_complete(s)]
        if complete:
            winner = max(complete, key=os.path.getmtime)
            os.rename(winner, target)
            stagings.remove(winner)
        elif olds:
            winner = max(olds, key=os.path.getmtime)
            os.rename(winner, target)
            olds.remove(winner)
    for d in stagings + olds:
        shutil.rmtree(d, ignore_errors=True)


def replace_dir(target: str, write: Callable[[str], None], meta: dict) -> None:
    """Commit the directory ``write(staging)`` produces as ``target``, with
    ``meta`` stored as its ``_meta.json``. See the module docstring."""
    target = target.rstrip("/")
    recover(target)
    staging = f"{target}.__staging__.{uuid.uuid4().hex[:8]}"
    _write_or_remove(write, staging)
    _write_json(os.path.join(staging, _META), meta)
    if os.path.exists(target):
        old = f"{target}.__old__.{uuid.uuid4().hex[:8]}"
        os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(staging, target)


def _read_manifest(path: str) -> dict | None:
    return _read_json(os.path.join(path, _MANIFEST))


def _commit_manifest(
    path: str,
    prev: dict | None,
    vdir: str,
    fmt: str,
    partition_by: list[str] | None,
    keep_versions: int,
) -> dict:
    """The commit point: one small-object replace pointing the manifest at
    an already-written version dir, then GC of versions outside the
    retained set — only AFTER the commit."""
    manifest = {
        "version": (prev["version"] + 1) if prev else 0,
        "current": vdir,
        "format": fmt,
        "partition_by": list(partition_by or []),
        "previous": ([prev["current"]] + prev.get("previous", []))[: keep_versions - 1]
        if prev
        else [],
    }
    _write_json(os.path.join(path, _MANIFEST), manifest)

    live = {vdir, *manifest["previous"]}
    for d in os.listdir(path):
        if d.startswith("v_") and d not in live:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        elif d.startswith(_MANIFEST + _NEW):
            os.remove(os.path.join(path, d))
    return manifest


def commit_version(
    path: str,
    write: Callable[[str], None],
    fmt: str,
    partition_by: list[str] | None = None,
    keep_versions: int = 2,
) -> dict:
    """Commit the directory ``write(vdir)`` produces as the new current
    version of the manifest table at ``path``; returns the new manifest.

    The data lands directly in its version dir — written once, never moved.
    ``fmt`` and ``partition_by`` are recorded for readers. ``keep_versions``
    bounds retained history (current + N-1 predecessors): the previous
    version always survives one commit, so a reader that resolved the old
    manifest an instant before the swap still finds its files. If ``write``
    raises, its version dir is removed and the manifest never moves.
    """
    os.makedirs(path, exist_ok=True)
    prev = _read_manifest(path)
    version = (prev["version"] + 1) if prev else 0
    vdir = f"v_{version:06d}_{uuid.uuid4().hex[:8]}"
    _write_or_remove(write, os.path.join(path, vdir))
    return _commit_manifest(path, prev, vdir, fmt, partition_by, keep_versions)
