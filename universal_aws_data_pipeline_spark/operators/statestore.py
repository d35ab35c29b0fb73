"""One crash-safe fold for every foreachBatch state maintainer.

Every maintainer that carries state between micro-batches — theta, CMS,
histogram and heavy hitters (``sketch.py``), the agg view
(``incremental.py``), domain cap and weighted reservoir (``sampling.py``)
and the SCD2 dimension (``scd.py``) — is ``fold_fn(table, step)``: the
closure keeps only its merge, and this module owns the rest. The state is
a parquet directory atomically replaced every micro-batch through
``sinks/commit.py::replace_dir``. **The folded batch id travels inside the
staged table itself** (``_meta.json``, the commit's completeness
sentinel), so state and replay marker become visible in the same swap,
and ``recover`` can always tell a complete staging from a partial one. A
crash between the renames cannot lose the table (the complete staging is
promoted), and a crash after the swap cannot re-fold the batch on replay
(the marker was committed with it).

Protocol per batch, as ``fold_fn`` runs it:

    recover(table)                          # heal any interrupted prior swap
    if batch_id <= last_folded(table):      # replay — already committed
        return                              # (step never runs)
    prev = <committed table> or None
    state, meta_out = step(batch_df, batch_id, prev, meta)  # meta: committed
    commit(state, table, batch_id, **meta_out)  # _meta.json = {**meta_out,
                                                #   "last_batch_id": batch_id}

``step`` returns the new state lazily; it may read ``prev`` because the
commit writes a staging dir, never the path it reads. Anything a step
writes besides the state (domain cap's admitted log) happens before the
commit, so a crash in between replays the step against unchanged state.

This module adds only the fold, the replay position and the migration of
the first maintainer generation's ``_batch_N`` sibling marker dirs. The
commit itself needs a real filesystem, which Structured Streaming already
requires for checkpoint-adjacent state.
"""

from __future__ import annotations

import glob
import os
import shutil

from universal_aws_data_pipeline_spark.sinks import commit as dircommit


def _legacy_marker_dirs(table: str) -> list[str]:
    """Marker dirs from the pre-``_meta.json`` protocol.

    The first maintainer generation recorded replays as sibling dirs of
    the table — ``<parent>/_batch_<n>`` next to ``<parent>/sketch`` —
    created AFTER the swap. They are invisible to the new swap (which only
    touches ``table``), so without migration an upgraded state dir reports
    ``last_folded() == -1`` and a foreachBatch replay of the last committed
    batch re-folds it once — double-counting sum-merged CMS/agg-view state.
    """
    parent = os.path.dirname(table.rstrip("/")) or "."
    out = []
    for d in glob.glob(os.path.join(parent, "_batch_*")):
        tail = os.path.basename(d)[len("_batch_"):]
        if tail.isdigit():
            out.append(d)
    return out


def _legacy_last_folded(table: str) -> int:
    markers = _legacy_marker_dirs(table)
    if not markers or not os.path.exists(table):
        # markers without a table mean the legacy state itself was lost
        # (legacy crash hole #1); treating them as authoritative would skip
        # folding batches into the rebuilt-empty state — worse than a
        # single re-fold, so ignore them.
        return -1
    return max(int(os.path.basename(d)[len("_batch_"):]) for d in markers)


def recover(table: str) -> None:
    """``sinks/commit.py::recover``, then migrate a pre-protocol table in
    place: when ``table`` exists but has no ``_meta.json`` and legacy
    ``_batch_N`` sibling markers are present, their max batch id is written
    into the table's own meta. The markers are *parent*-scoped and may be
    shared by a sibling table (e.g. one state_path hosting both ``cells``
    and ``bins``), so the migration makes this table self-describing
    without touching the markers — :func:`commit` only deletes them once no
    meta-less sibling could still need them."""
    dircommit.recover(table)
    if os.path.exists(table) and not dircommit._is_complete(table):
        legacy = _legacy_last_folded(table)
        if legacy >= 0:
            dircommit._write_json(os.path.join(table, dircommit._META), {"last_batch_id": legacy})


def _has_meta_less_sibling(table: str) -> bool:
    """True if the table's parent holds another directory that looks like a
    still-unmigrated state table — one that may still need the shared
    legacy ``_batch_N`` markers to report its replay position. Unknown
    directories count as siblings (safe: markers are kept, never lost)."""
    parent = os.path.dirname(table.rstrip("/")) or "."
    me = os.path.basename(table.rstrip("/"))
    for name in os.listdir(parent):
        if name == me or name.startswith("_batch_"):
            continue
        if ".__staging__." in name or ".__old__." in name:
            continue
        path = os.path.join(parent, name)
        if os.path.isdir(path) and not dircommit._is_complete(path):
            return True
    return False


def last_folded(table: str) -> int:
    """Batch id recorded in the table's meta; for a pre-protocol table
    (no ``_meta.json``) falls back to the legacy ``_batch_N`` sibling
    marker dirs; -1 for fresh state."""
    meta = dircommit.read_meta(table)
    if meta is None:
        return _legacy_last_folded(table)
    return int(meta["last_batch_id"])


def commit(merged, table: str, batch_id: int, **meta) -> None:
    """Write ``merged`` (a DataFrame) as the new state of ``table`` with
    ``meta`` and the batch id embedded in its ``_meta.json``. Callers must
    have run :func:`recover` and the :func:`last_folded` replay check
    first."""
    dircommit.replace_dir(
        table, merged.write.mode("overwrite").parquet, {**meta, "last_batch_id": batch_id}
    )
    # first new-protocol commit supersedes any legacy sibling markers — but
    # they are parent-scoped and another meta-less table under the same
    # parent may still be reading them, so drop them only once every
    # sibling table is self-describing
    if not _has_meta_less_sibling(table):
        for d in _legacy_marker_dirs(table):
            shutil.rmtree(d, ignore_errors=True)


def fold_fn(table: str, step):
    """The ``foreachBatch`` function that folds each micro-batch into the
    state ``table`` through ``step(batch_df, batch_id, prev, meta)`` — see
    the module docstring. ``prev`` is the committed state as a DataFrame
    (None before the first commit), ``meta`` its ``_meta.json`` ({} when
    none); ``step`` returns ``(state, meta_out)``. A replayed batch id
    never runs ``step``."""

    def fn(batch_df, batch_id: int) -> None:
        recover(table)
        if batch_id <= last_folded(table):
            return  # replayed batch — already committed
        meta = dircommit.read_meta(table) or {}
        prev = batch_df.sparkSession.read.parquet(table) if os.path.exists(table) else None
        state, meta_out = step(batch_df, batch_id, prev, meta)
        commit(state, table, batch_id, **meta_out)

    return fn
