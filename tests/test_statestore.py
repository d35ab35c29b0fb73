"""Crash-injection tests for the directory commit protocol
(``sinks/commit.py``) and the foreachBatch state folds (``statestore.fold_fn``:
CMS, theta, SCD2, heavy hitters) and IVF commits built on or beside it.

The two holes being regression-tested (round-4 ADVICE):
1. a crash between the table->old and staging->table renames used to leave
   the state table MISSING (next batch silently rebuilt from scratch);
2. the replay marker used to be created after the swap, so a replay after
   a crash in that window re-folded the batch (double-counting CMS cells).

Both are closed by committing the folded batch id inside the staged table:
the directory swap is the single commit point, and recovery promotes a
complete staging (which already carries the fold + its batch id).
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil

import pytest

from universal_aws_data_pipeline_spark.operators import statestore
from universal_aws_data_pipeline_spark.sinks import commit


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], ["tok"])


def _cells(spark, state):
    return sorted(map(tuple, spark.read.parquet(os.path.join(state, "cells")).collect()))


def _crash_on_rename(monkeypatch, n_renames_then_crash: int):
    """Make statestore's os.rename raise after allowing n successful calls."""
    real = os.rename
    calls = {"n": 0}

    def boom(src, dst):
        if calls["n"] >= n_renames_then_crash:
            raise OSError("injected crash")
        calls["n"] += 1
        real(src, dst)

    monkeypatch.setattr(statestore.os, "rename", boom)
    return lambda: monkeypatch.setattr(statestore.os, "rename", real)


def test_crash_between_renames_recovers_staging_and_replay_is_noop(
    spark, tmp_path, monkeypatch
):
    """Kill the process between table->old and staging->table: the old code
    lost ALL state; now recover() promotes the complete staging and the
    foreachBatch replay of the crashed batch is skipped (no double-count)."""
    from universal_aws_data_pipeline_spark.operators.sketch import (
        cms_stream_fn,
        count_min_build,
    )

    b0 = _toks(spark, ["hot"] * 100 + [f"a{i}" for i in range(50)])
    b1 = _toks(spark, ["hot"] * 60 + [f"b{i}" for i in range(30)])
    state = str(tmp_path / "cms")
    fn = cms_stream_fn(state, "tok", depth=4, width=128)
    fn(b0, 0)

    # batch 1: allow the table->old rename, crash before staging->table
    restore = _crash_on_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected crash"):
        fn(b1, 1)
    table = os.path.join(state, "cells")
    assert not os.path.exists(table)  # the crash window the old code died in
    restore()

    # Structured Streaming replays batch 1 after restart: recover() must
    # restore the complete staging (already containing batch 1's fold) and
    # the meta check must skip the re-fold.
    fn(b1, 1)
    want = count_min_build(b0.unionByName(b1), "tok", depth=4, width=128)
    assert _cells(spark, state) == sorted(map(tuple, want.collect()))
    # exactly one durable dir left, carrying the committed batch id
    assert statestore.last_folded(table) == 1
    assert not [d for d in os.listdir(state) if "__staging__" in d or "__old__" in d]


def test_crash_during_staging_write_keeps_old_state(spark, tmp_path, monkeypatch):
    """A partial staging (no _meta sentinel) must never be promoted: the old
    state stays, and the batch re-folds cleanly on replay."""
    from universal_aws_data_pipeline_spark.operators.sketch import (
        cms_stream_fn,
        count_min_build,
    )

    b0 = _toks(spark, ["x"] * 40)
    b1 = _toks(spark, ["x"] * 25)
    state = str(tmp_path / "cms")
    fn = cms_stream_fn(state, "tok", depth=2, width=64)
    fn(b0, 0)
    before = _cells(spark, state)

    # crash before ANY rename: staging written but _meta.json never lands
    def no_meta_commit(merged, table, batch_id):
        staging = f"{table}.__staging__.partial"
        merged.write.mode("overwrite").parquet(staging)
        raise OSError("injected crash mid-staging")

    monkeypatch.setattr(statestore, "commit", no_meta_commit)
    with pytest.raises(OSError, match="mid-staging"):
        fn(b1, 1)
    monkeypatch.undo()

    assert _cells(spark, state) == before  # old state intact
    fn(b1, 1)  # replay folds batch 1 exactly once
    want = count_min_build(b0.unionByName(b1), "tok", depth=2, width=64)
    assert _cells(spark, state) == sorted(map(tuple, want.collect()))


def test_crash_with_no_prior_state_rolls_back_to_nothing(spark, tmp_path, monkeypatch):
    """First-ever batch crashes mid-write: recover() leaves no table and the
    replay builds it from scratch."""
    from universal_aws_data_pipeline_spark.operators.sketch import (
        theta_estimate_from_state,
        theta_sketch_stream_fn,
    )
    import datetime as dt

    b0 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12, 0), u) for u in range(200)],
        "ts: timestamp_ntz, user_id: long",
    )
    state = str(tmp_path / "theta")
    fn = theta_sketch_stream_fn(state)

    restore = _crash_on_rename(monkeypatch, 0)  # crash on the very first rename
    with pytest.raises(OSError, match="injected crash"):
        fn(b0, 0)
    restore()

    fn(b0, 0)  # replay succeeds
    est = theta_estimate_from_state(spark, state).collect()
    assert len(est) == 1 and est[0]["est_users"] > 0


def test_legacy_marker_dirs_migrate_without_double_fold(spark, tmp_path):
    """Upgrade path (round-5 ADVICE): a state dir written by the old
    marker-dir protocol (sibling _batch_N dirs, no _meta.json) must report
    the legacy max batch id — so a foreachBatch replay of the last
    committed batch is a no-op, not a double-fold of sum-merged CMS cells —
    and the stale markers must vanish at the first new-protocol commit."""
    from universal_aws_data_pipeline_spark.operators.sketch import (
        cms_stream_fn,
        count_min_build,
    )

    b0 = _toks(spark, ["hot"] * 30 + ["a", "b"])
    b1 = _toks(spark, ["hot"] * 20 + ["c"])
    b2 = _toks(spark, ["hot"] * 10 + ["d"])
    state = str(tmp_path / "cms")
    fn = cms_stream_fn(state, "tok", depth=2, width=64)
    fn(b0, 0)
    fn(b1, 1)
    table = os.path.join(state, "cells")

    # rewrite the dir into its legacy shape: no _meta.json, sibling markers
    os.remove(os.path.join(table, "_meta.json"))
    os.makedirs(os.path.join(state, "_batch_0"))
    os.makedirs(os.path.join(state, "_batch_1"))
    assert statestore.last_folded(table) == 1  # legacy fallback

    after_b1 = _cells(spark, state)
    fn(b1, 1)  # restart replay of the last legacy-committed batch
    assert _cells(spark, state) == after_b1  # no double-count

    fn(b2, 2)  # first new-protocol commit
    want = count_min_build(
        b0.unionByName(b1).unionByName(b2), "tok", depth=2, width=64
    )
    assert _cells(spark, state) == sorted(map(tuple, want.collect()))
    assert statestore.last_folded(table) == 2
    # superseded legacy markers are gone
    assert not [d for d in os.listdir(state) if d.startswith("_batch_")]


def test_legacy_markers_without_table_are_ignored(tmp_path):
    """Markers whose table was lost (legacy crash hole #1) must not claim
    batches as folded — the rebuilt-empty state needs every batch."""
    state = tmp_path / "s"
    os.makedirs(state / "_batch_5")
    assert statestore.last_folded(str(state / "cells")) == -1


def test_recover_prefers_newest_complete_staging(tmp_path):
    """Unit check of the promotion order: complete staging beats __old__."""
    table = str(tmp_path / "t")
    old = f"{table}.__old__.aaaa"
    os.makedirs(old)
    stale = f"{table}.__staging__.bbbb"  # partial: no meta
    os.makedirs(stale)
    good = f"{table}.__staging__.cccc"
    os.makedirs(good)
    with open(os.path.join(good, "_meta.json"), "w") as f:
        json.dump({"last_batch_id": 7}, f)

    statestore.recover(table)
    assert os.path.exists(table)
    assert statestore.last_folded(table) == 7
    assert not os.path.exists(old) and not os.path.exists(stale)


# ---------------------------------------------------------------------------
# sinks/commit.py: a crash at every filesystem step converges
# ---------------------------------------------------------------------------
class _Crash(Exception):
    pass


def _put(d, name, content):
    with open(os.path.join(d, name), "w") as fh:
        fh.write(content)


def _writer(content, step=lambda: None):
    """A two-file 'table' write; ``step`` runs between the files, so a crash
    there leaves a partial data dir."""

    def write(d):
        os.makedirs(d)
        _put(d, "part-0", content)
        step()
        _put(d, "part-1", content)

    return write


def _read(d):
    """The content of a complete test table, None when absent, 'TORN' else."""
    if not os.path.isdir(d):
        return None
    parts = [(pathlib.Path(d) / f).read_text() for f in ("part-0", "part-1") if os.path.exists(os.path.join(d, f))]
    return parts[0] if len(parts) == 2 and parts[0] == parts[1] else "TORN"


class _Process:
    """Counts the filesystem steps of one commit — the data write and every
    os.rename / os.replace / shutil.rmtree — and dies at step ``crash_at``:
    that step and every later one raise, as after a real crash."""

    def __init__(self, monkeypatch, crash_at):
        self.n, self.crash_at = 0, crash_at
        for mod, name in ((os, "rename"), (os, "replace"), (shutil, "rmtree")):
            monkeypatch.setattr(mod, name, self._guard(getattr(mod, name)))

    def step(self):
        self.n += 1
        if self.n > self.crash_at:
            raise _Crash(f"crash at step {self.crash_at}")

    def _guard(self, real):
        def fn(*a, **k):
            self.step()
            return real(*a, **k)

        return fn


def _commit(kind, target, write):
    if kind == "commit_version":
        commit.commit_version(target, write, "test")
    else:
        commit.replace_dir(target, write, {"k": kind})


def _current(kind, target):
    if kind != "commit_version":
        return _read(target)
    m = commit._read_manifest(target)
    return _read(os.path.join(target, m["current"])) if m else None


# kind -> (contents committed before the crashed commit, its step count)
_COMMITS = {
    "replace_dir": (["old"], 5),  # write, meta replace, 2 renames, rmtree(old)
    "replace_dir_first": ([], 3),  # write, meta replace, rename
    "commit_version": (["older", "old"], 3),  # write, manifest replace, GC
}


@pytest.mark.parametrize(
    "kind,crash_at", [(k, i) for k, (_, n) in _COMMITS.items() for i in range(n + 1)]
)
def test_commit_converges_after_a_crash_at_every_step(tmp_path, monkeypatch, kind, crash_at):
    """After a crash at any step, recovery (``recover`` for a replaced dir,
    the manifest for a versioned table) shows the old or the new content,
    never a torn or missing one, and the next commit leaves no stray
    staging, old or version dirs. ``crash_at == steps`` is the uncrashed
    run, which pins the step count so every step is covered."""
    target = str(tmp_path / "t")
    before, n_steps = _COMMITS[kind]
    for content in before:
        _commit(kind, target, _writer(content))
    old = before[-1] if before else None

    proc = _Process(monkeypatch, crash_at)
    if crash_at < n_steps:
        with pytest.raises(_Crash):
            _commit(kind, target, _writer("new", proc.step))
    else:
        _commit(kind, target, _writer("new", proc.step))
        assert proc.n == n_steps
    monkeypatch.undo()

    if kind != "commit_version":
        commit.recover(target)
        assert os.listdir(tmp_path) == (["t"] if os.path.exists(target) else [])
    assert _current(kind, target) in ({old, "new"} if crash_at < n_steps else {"new"})

    _commit(kind, target, _writer("next"))
    assert _current(kind, target) == "next"
    if kind == "commit_version":
        m = commit._read_manifest(target)
        assert sorted(os.listdir(target)) == sorted(["_manifest.json", m["current"], *m["previous"]])
        assert all(_read(os.path.join(target, v)) != "TORN" for v in m["previous"])
    else:
        assert os.listdir(tmp_path) == ["t"]
        assert commit.read_meta(target) == {"k": kind}


def test_scd2_stream_crash_between_renames_replays(spark, tmp_path, monkeypatch):
    """A crash between moving the live dimension away and moving the merged
    one in used to leave no dimension at all, and the replay of the batch
    then failed reading it. The complete staging is now promoted and the
    replay of the crashed batch is a no-op."""
    from universal_aws_data_pipeline_spark.operators.scd import scd2_stream_fn

    schema = "cust_id LONG, city STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN"
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "NY", "2024-01-01", None, True), (2, "LA", "2024-01-01", None, True)], schema
    ).write.parquet(dim_path)
    fn = scd2_stream_fn(dim_path, key="cust_id", tracked=["city"], effective="eff")
    upd = "cust_id LONG, city STRING, eff STRING"
    fn(spark.createDataFrame([(1, "SF", "2024-02-01")], upd), 0)

    real = os.rename
    calls = {"n": 0}

    def crash_on_second_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash between renames")
        real(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    batch1 = spark.createDataFrame([(2, "SEA", "2024-03-01")], upd)
    with pytest.raises(OSError, match="between renames"):
        fn(batch1, 1)
    monkeypatch.undo()

    fn(batch1, 1)  # Structured Streaming replays the batch after restart
    got = sorted(map(tuple, spark.read.parquet(dim_path).collect()))
    assert got == [
        (1, "NY", "2024-01-01", "2024-02-01", False),
        (1, "SF", "2024-02-01", None, True),
        (2, "LA", "2024-01-01", "2024-03-01", False),
        (2, "SEA", "2024-03-01", None, True),
    ]
    assert os.listdir(tmp_path) == ["dim"]


def _hh_fold(spark, state, batches, k=4):
    """Fold ``batches`` (lists of docs) into a heavy-hitters state in order;
    returns the foreachBatch function for further calls."""
    from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_stream_fn

    fn = heavy_hitters_stream_fn(state, k=k)
    for bid, docs in enumerate(batches):
        fn(_docs(spark, docs), bid)
    return fn


def _docs(spark, docs):
    return spark.createDataFrame([(t,) for t in docs], "text STRING")


def _hh_rows(spark, state):
    from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_from_state

    return sorted(map(tuple, heavy_hitters_from_state(spark, state).collect()))


_HH_BATCHES = [
    ["hot hot hot warm cool", "hot warm mild"],
    ["hot hot warm warm x y z", "hot q r s"],
    ["hot hot hot hot t u v w", "warm warm"],
]


def test_heavy_hitters_commits_err_with_the_batch_id(spark, tmp_path):
    """The Misra–Gries decrement total ``err`` rides in the counters'
    ``_meta.json`` beside the batch id, so summary, ``err`` and replay
    position land in one swap — no second table to fall out of step."""
    state = str(tmp_path / "hh")
    _hh_fold(spark, state, [["a a a b b c d"]], k=2)
    # counts a3 b2 c1 d1: the (k+1)-th largest, 1, is subtracted
    assert commit.read_meta(os.path.join(state, "counters")) == {"err": 1, "last_batch_id": 0}
    assert os.listdir(state) == ["counters"]
    assert _hh_rows(spark, state) == [("a", 2, 3), ("b", 1, 2)]


def test_heavy_hitters_crash_between_renames_replays_to_the_clean_summary(
    spark, tmp_path, monkeypatch
):
    """A crash between batch 2's two renames, then its replay, leaves the
    summary and ``err`` an uncrashed run commits. When ``err`` lived in a
    separate table written after the counters, a crash between the two
    writes replayed the batch into already-folded counters and pushed a
    lower bound above the true count."""
    clean = str(tmp_path / "clean")
    _hh_fold(spark, clean, _HH_BATCHES)

    crashed = str(tmp_path / "crashed")
    fn = _hh_fold(spark, crashed, _HH_BATCHES[:2])
    restore = _crash_on_rename(monkeypatch, 1)  # counters -> old, then crash
    with pytest.raises(OSError, match="injected crash"):
        fn(_docs(spark, _HH_BATCHES[2]), 2)
    assert not os.path.exists(os.path.join(crashed, "counters"))
    restore()
    fn(_docs(spark, _HH_BATCHES[2]), 2)  # Structured Streaming's replay

    assert _hh_rows(spark, crashed) == _hh_rows(spark, clean)
    assert commit.read_meta(os.path.join(crashed, "counters")) == commit.read_meta(
        os.path.join(clean, "counters")
    )
    assert os.listdir(crashed) == ["counters"]


def test_heavy_hitters_two_table_layout_keeps_err_and_replay_position(spark, tmp_path):
    """Upgrade path: a state dir in the two-table layout (``counters``
    without ``_meta.json`` plus a ``meta`` table of err/last_batch_id)
    reads with its ``err``, treats a replay of its last batch as a no-op,
    and keeps accumulating ``err`` from where it stood; ``meta`` is gone
    after the first fold."""
    from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_stream_fn

    state = tmp_path / "hh"
    spark.createDataFrame([("hot", 5), ("warm", 2)], "tok STRING, lb LONG").coalesce(1).write.parquet(
        str(state / "counters")
    )
    spark.createDataFrame([(3, 1)], "err LONG, last_batch_id LONG").coalesce(1).write.parquet(
        str(state / "meta")
    )
    before = [("hot", 5, 8), ("warm", 2, 5)]
    assert _hh_rows(spark, str(state)) == before

    fn = heavy_hitters_stream_fn(str(state), k=2)
    fn(_docs(spark, ["hot hot"]), 1)  # replay of the last batch it folded
    assert _hh_rows(spark, str(state)) == before
    assert os.listdir(state) == ["counters"]

    fn(_docs(spark, ["hot cool"]), 2)  # hot 6, warm 2, cool 1: subtract 1
    assert commit.read_meta(str(state / "counters")) == {"err": 4, "last_batch_id": 2}
    assert _hh_rows(spark, str(state)) == [("hot", 5, 9), ("warm", 1, 5)]


# ---------------------------------------------------------------------------
# build-once catalog artifacts (plans/_shared.py::_artifact) track validity
# ---------------------------------------------------------------------------
@pytest.fixture()
def artifact_env(tmp_path, monkeypatch):
    """A one-file dataset dir and an empty artifact cache root."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_text("v1")
    return str(sf)


def test_artifact_rebuilds_when_an_input_file_changes(spark, artifact_env):
    from universal_aws_data_pipeline_spark.plans._shared import _artifact

    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    for _ in range(2):
        assert _artifact(spark, "k", artifact_env, "n", build).count() == 3
    assert len(builds) == 1
    doc = os.path.join(artifact_env, "documents.parquet")
    st = os.stat(doc)
    os.utime(doc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _artifact(spark, "k", artifact_env, "n", build)
    assert len(builds) == 2


def test_cluster_labels_rebuild_when_pairs_are_rebuilt(spark, artifact_env, monkeypatch):
    """The CC labels record the commit id of the q43 pair artifact they were
    built from; a pair artifact rebuilt under them (here: scrubbed, then
    rebuilt by a pair consumer) makes the labels stale."""
    from universal_aws_data_pipeline_spark.plans import _shared

    q15 = []

    def fake_q15(spark_, sf_dir):
        q15.append(1)
        return spark.createDataFrame([(1, 2, 0.9), (2, 3, 0.8)], "id_a long, id_b long, jaccard double")

    monkeypatch.setattr(_shared.QUERIES["q15_neardup_minhash_lsh"], "fn", fake_q15)
    labels_dir = os.path.join(_shared._artifact_dir("neardup_clusters", artifact_env), "labels")
    pairs_dir = os.path.join(_shared._artifact_dir("neardup_pairs", artifact_env), "q43")

    _shared._neardup_cluster_labels(spark, artifact_env)
    first = commit.read_meta(labels_dir)
    assert first["deps"] == {pairs_dir: commit.read_meta(pairs_dir)["commit"]}
    _shared._neardup_cluster_labels(spark, artifact_env)
    assert commit.read_meta(labels_dir)["commit"] == first["commit"] and len(q15) == 1

    shutil.rmtree(pairs_dir)
    _shared._neardup_pairs(spark, artifact_env)
    assert len(q15) == 2
    labels = _shared._neardup_cluster_labels(spark, artifact_env)
    assert commit.read_meta(labels_dir)["commit"] != first["commit"]
    assert sorted(map(tuple, labels.collect())) == [(1, 1), (2, 1), (3, 1)]


# ---------------------------------------------------------------------------
# IVF rebalance crash consistency (operators/similarity.py txn protocol)
# ---------------------------------------------------------------------------
def _build_skewed_ivf(spark, tmp_path):
    import random

    from universal_aws_data_pipeline_spark.operators.similarity import build_ivf_index

    rng = random.Random(7)
    rows = [(i, [10.0 + rng.uniform(-1, 1), 10.0 + rng.uniform(-1, 1)]) for i in range(80)]
    rows += [
        (100 + i, [-10.0 + rng.uniform(-1, 1), -10.0 + rng.uniform(-1, 1)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    path = str(tmp_path / "ivf")
    build_ivf_index(df, path, n_clusters=2)
    return path


def test_rebalance_crash_mid_moves_heals_on_next_load(spark, tmp_path, monkeypatch):
    """Kill the rebalance after the txn marker lands but before any cell dir
    moves: the next load_ivf_index must replay the transaction — every
    vector present exactly once, every cell id resolvable in meta."""
    from universal_aws_data_pipeline_spark.operators import similarity

    path = _build_skewed_ivf(spark, tmp_path)

    # crash INSIDE the transaction: marker written, moves not yet applied
    def boom(cells_dir, staged, cell_ids, drop_ids):
        raise OSError("injected crash before cell moves")

    monkeypatch.setattr(similarity, "_apply_cell_txn", boom)
    with pytest.raises(OSError, match="injected crash"):
        similarity.rebalance_ivf_index(spark, path, max_cell_fraction=0.5, n_split=2)
    monkeypatch.undo()

    # meta was committed BEFORE the crash — extra centroids are legal (0-row
    # cells), and recovery must land all 100 vectors exactly once
    idx = similarity.load_ivf_index(spark, path)
    ids = [r["vec_id"] for r in idx.cells.select("vec_id").collect()]
    assert sorted(ids) == sorted(set(ids)) and len(ids) == 100
    # every on-disk cell id has a centroid (the corruption the old code left)
    on_disk = {r["_cell"] for r in idx.cells.select("_cell").distinct().collect()}
    assert on_disk <= set(range(len(idx.centroids)))
    # txn replayed to completion: no markers or staging dirs remain
    import glob
    import os

    assert not glob.glob(os.path.join(path, "cells", "_txn_*.json"))
    assert not glob.glob(os.path.join(path, "cells.__rebal__.*"))
    # probes work on the healed index
    got = similarity.ivf_topk_indexed(idx, [10.0, 10.0], k=1, nprobe=len(idx.centroids)).collect()
    assert got[0]["vec_id"] < 100


def test_rebalance_meta_write_is_atomic(tmp_path, monkeypatch):
    """A crash mid-meta-write must never leave a torn meta.json."""
    from universal_aws_data_pipeline_spark.operators import similarity

    path = str(tmp_path / "ivf")
    os.makedirs(path)
    similarity._write_meta_atomic(
        path, {"id_col": "a", "vec_col": "b", "n_clusters": 1, "centroids": [[0.0]]}
    )
    before = open(os.path.join(path, "meta.json")).read()

    real_replace = os.replace

    def no_replace(src, dst):
        raise OSError("injected crash before replace")

    monkeypatch.setattr(similarity.__dict__.setdefault("os", os), "replace", no_replace)
    try:
        with pytest.raises(OSError):
            similarity._write_meta_atomic(path, {"id_col": "x", "vec_col": "y", "n_clusters": 2, "centroids": []})
    finally:
        monkeypatch.setattr(os, "replace", real_replace)
    assert open(os.path.join(path, "meta.json")).read() == before


# ---------------------------------------------------------------------------
# compaction on non-local paths must error, not silently no-op
# ---------------------------------------------------------------------------
def test_compaction_rejects_object_store_uris(spark):
    from universal_aws_data_pipeline_spark.operators.maintenance import (
        compact_table,
        compaction_plan,
    )

    with pytest.raises(ValueError, match="local filesystem"):
        compaction_plan("s3://bucket/table")
    with pytest.raises(ValueError, match="local filesystem"):
        compact_table(spark, "hdfs://nn/table")


def test_compaction_rejects_missing_dir(tmp_path):
    from universal_aws_data_pipeline_spark.operators.maintenance import compaction_plan

    with pytest.raises(ValueError, match="not a directory"):
        compaction_plan(str(tmp_path / "nope"))
