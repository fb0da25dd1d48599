"""Snapshot-table commits under racing writers.

The race tests inject a competing commit between a committer's head
read and its manifest link (a patched ``os.link`` that runs the
competitor once, on the first link), so the committer loses its
snapshot id and rebuilds against the new head.  The rebuilt manifest
must keep what the competitor committed, or raise a conflict where
keeping it would resurrect deleted rows."""

import os

import pytest


def _racing_link(monkeypatch, compete):
    """Patch ``os.link`` so the first manifest link runs ``compete()``
    first; returns the counter of injected conflicts."""
    real_link = os.link
    fired = {"n": 0}

    def racing_link(src, dst):
        if fired["n"] == 0 and dst.endswith(".json"):
            fired["n"] += 1
            compete()
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    return fired


def _dirs(tbl, sub):
    """The dirs under the table's ``data/`` or ``deletes/``."""
    root = os.path.join(tbl, sub)
    return set(os.listdir(root)) if os.path.isdir(root) else set()


def _ks(spark, tbl):
    from sdg_engine.storage import read_snapshot

    return sorted(r.k for r in read_snapshot(spark, tbl).collect())


def test_cow_delete_keeps_concurrent_append(spark, tmp_path, monkeypatch):
    """An append that lands between the COW delete's victim scan and
    its commit survives: the rewrite carries the PARENT's dirs, not
    the dirs of the head it scanned."""
    from sdg_engine.storage import (_read_manifest, delete_where_cow,
                                    snapshot_history, write_snapshot)

    tbl = str(tmp_path / "cow_race")
    write_snapshot(spark.createDataFrame([(1,), (2,)], "k int"), tbl)
    write_snapshot(spark.createDataFrame([(10,), (11,)], "k int"), tbl)
    fired = _racing_link(monkeypatch, lambda: write_snapshot(
        spark.createDataFrame([(20,), (21,)], "k int"), tbl))
    snap, n_rewritten, n_carried = delete_where_cow(spark, tbl, "k = 1")
    monkeypatch.undo()
    assert fired["n"] == 1  # the conflict really fired mid-commit
    assert (snap, n_rewritten, n_carried) == (4, 1, 2)
    assert snapshot_history(tbl) == [1, 2, 3, 4]
    assert _read_manifest(tbl, 4)["parent"] == 3
    assert _ks(spark, tbl) == [2, 10, 11, 20, 21]


def test_cow_delete_conflicts_with_concurrent_tombstone(spark, tmp_path,
                                                        monkeypatch):
    """A merge-on-read delete that lands inside the COW delete's window
    makes the COW commit raise: carrying the tombstone onto the
    rewritten dir would resurrect its key."""
    from sdg_engine.storage import (delete_from_snapshot, delete_where_cow,
                                    snapshot_history, write_snapshot)

    tbl = str(tmp_path / "cow_mor")
    write_snapshot(spark.createDataFrame([(1,), (2,), (3,)], "k int"), tbl)
    data_before = _dirs(tbl, "data")
    fired = _racing_link(monkeypatch, lambda: delete_from_snapshot(
        spark, tbl, spark.createDataFrame([(2,)], "k int"), "k"))
    with pytest.raises(ValueError, match="conflict"):
        delete_where_cow(spark, tbl, "k = 1")
    monkeypatch.undo()
    assert fired["n"] == 1
    assert snapshot_history(tbl) == [1, 2]  # only the tombstone committed
    assert _dirs(tbl, "data") == data_before  # the rewrite left no orphan
    assert _ks(spark, tbl) == [1, 3]


def test_position_delete_conflicts_with_concurrent_rewrite(spark, tmp_path,
                                                          monkeypatch):
    """A COW delete that rewrites the dir holding a position delete's
    victim, inside that delete's window, makes the position commit
    raise: its tombstones address files no longer in the table, so
    committing them would resurrect the victim."""
    from sdg_engine.storage import (delete_positions_where, delete_where_cow,
                                    snapshot_history, write_snapshot)

    tbl = str(tmp_path / "pos_cow")
    write_snapshot(spark.createDataFrame([(1,), (2,), (3,)], "k int"), tbl)
    deletes_before = _dirs(tbl, "deletes")
    fired = _racing_link(monkeypatch,
                         lambda: delete_where_cow(spark, tbl, "k = 1"))
    with pytest.raises(ValueError, match="conflict"):
        delete_positions_where(spark, tbl, "k = 2")
    monkeypatch.undo()
    assert fired["n"] == 1
    assert snapshot_history(tbl) == [1, 2]  # only the COW rewrite committed
    assert _ks(spark, tbl) == [2, 3]
    # the rejected commit removed its tombstone dir
    assert _dirs(tbl, "deletes") == deletes_before


def test_rejected_append_leaves_no_orphan_dir(spark, tmp_path):
    """An append whose schema conflicts with the table's raises and
    removes the data dir it wrote before the commit's checks ran."""
    from sdg_engine.storage import snapshot_history, write_snapshot

    tbl = str(tmp_path / "schema_clash")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), tbl)
    data_before = _dirs(tbl, "data")
    with pytest.raises(ValueError, match="schema evolution conflict"):
        write_snapshot(spark.createDataFrame([("a",)], "k string"), tbl)
    assert snapshot_history(tbl) == [1]
    assert _dirs(tbl, "data") == data_before


def test_append_keeps_concurrent_rename(spark, tmp_path, monkeypatch):
    """A rename that commits during an append's retry window stays:
    the append takes the renames of the parent it links against, and
    its files (written in disk-name space) read back renamed."""
    from sdg_engine.storage import (_read_manifest, read_snapshot,
                                    rename_column, write_snapshot)

    tbl = str(tmp_path / "ren_race")
    write_snapshot(spark.createDataFrame([(1, 10)], "id int, a int"), tbl)
    fired = _racing_link(monkeypatch, lambda: rename_column(tbl, "a", "b"))
    snap = write_snapshot(
        spark.createDataFrame([(2, 20)], "id int, a int"), tbl, mode="append"
    )
    monkeypatch.undo()
    assert fired["n"] == 1
    assert snap == 3 and _read_manifest(tbl, 3)["renames"] == {"a": "b"}
    head = read_snapshot(spark, tbl)
    assert sorted(head.columns) == ["b", "id"]
    assert sorted((r.id, r.b) for r in head.collect()) == [(1, 10), (2, 20)]


def test_count_data_files_walks_partitioned_dirs(spark, tmp_path):
    """On a clustered (hive-partitioned) head, count_data_files counts
    the same files as the files metadata table, not zero."""
    from sdg_engine.storage import (cluster_snapshot, count_data_files,
                                    snapshot_files_df, write_snapshot)

    tbl = str(tmp_path / "clustered")
    df = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    write_snapshot(df.coalesce(1), tbl)
    snap = cluster_snapshot(spark, tbl, "doc_id % 4", stats_cols=["doc_id"],
                            n_buckets=4)
    n = count_data_files(tbl, snap)
    assert n == snapshot_files_df(spark, tbl).count() > 0


def test_concurrent_commits_lose_no_update(tmp_path):
    """Eight threads commit five snapshots each through ``_commit``,
    every one extending the parent's dirs: the head must list all 40
    (a build that read a stale head would drop some), with ids 1..41."""
    import sys
    import threading

    from sdg_engine.storage import _commit, _head, snapshot_history

    tbl = str(tmp_path / "stress")
    _commit(tbl, lambda _pid, _parent: {"mode": "overwrite", "dirs": []}, None)
    errors = []

    def worker(w: int) -> None:
        try:
            for i in range(5):
                _commit(tbl, lambda _pid, parent, d=f"w{w}-{i}": {
                    **parent, "mode": "append", "dirs": parent["dirs"] + [d],
                }, None)
        except Exception as e:  # noqa: BLE001 — surfaced by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert snapshot_history(tbl) == list(range(1, 42))
    head_id, head = _head(tbl)
    assert head_id == 41 and head["parent"] == 40
    assert sorted(head["dirs"]) == sorted(
        f"w{w}-{i}" for w in range(8) for i in range(5))
