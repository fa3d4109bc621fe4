"""Iceberg-lite fallback table: snapshot isolation, ACID append
without old-file rewrite, time travel, MERGE, expire — the metadata
architecture of the deployment target, testable without the jars."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jena_spark.sources.iceberg import (  # noqa: E402
    IcebergLiteTable,
    append_table,
    read_table,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_time_travel_and_manifest_reuse(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    assert t.read() is None and t.current_snapshot() is None

    s1 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    s2 = t.append(_df(spark, [(3, "c")]))
    assert t.current_snapshot() == s2
    # current view = both commits; time travel = first commit only
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in t.read(s1).collect()) == [1, 2]
    # append reuses the parent's files (no rewrite): s2 lists s1's
    # data dir plus its own
    m = {s["snapshot_id"]: s for s in
         json.load(open(os.path.join(p, t.MANIFEST)))}
    assert set(m[s1]["files"]) < set(m[s2]["files"])
    # snapshot log shape
    log = t.snapshots()
    assert [s["operation"] for s in log] == ["overwrite", "append"]
    assert log[1]["parent"] == s1

    # read_table auto-detects the lite layout + travels
    got = read_table(spark, p, snapshot_id=s1)
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_merge_upsert(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    s_before = t.current_snapshot()
    t.merge(_df(spark, [(2, "B"), (4, "d")]), key="k")
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # the pre-merge snapshot is still readable (snapshot isolation)
    was = {(r["k"], r["v"]) for r in t.read(s_before).collect()}
    assert was == {(1, "a"), (2, "b"), (3, "c")}


def test_expire_snapshots_drops_unreferenced_dirs(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    t.overwrite(_df(spark, [(1, "a")]))        # s0: data/s0
    t.overwrite(_df(spark, [(2, "b")]))        # s1: data/s1 (s0 dead)
    t.append(_df(spark, [(3, "c")]))           # s2: data/s1 + data/s2
    gone = t.expire_snapshots(keep=1)
    assert len(gone) == 2
    # s0's dir is unreferenced -> deleted; s1's is still live via s2
    assert not os.path.exists(os.path.join(p, "data/s0"))
    assert os.path.exists(os.path.join(p, "data/s1"))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    with pytest.raises(KeyError):
        t.read("definitely-not-a-snapshot")


def test_append_table_entry_point(spark, tmp_path):
    p = str(tmp_path / "tbl")
    append_table(_df(spark, [(1, "a")]), p)
    append_table(_df(spark, [(2, "b")]), p)
    got = sorted(r["k"] for r in read_table(spark, p).collect())
    assert got == [1, 2]
    # plain parquet dirs still read (backwards compat), and refuse travel
    plain = str(tmp_path / "plain")
    _df(spark, [(9, "z")]).write.parquet(plain)
    assert read_table(spark, plain).count() == 1
    with pytest.raises(ValueError, match="plain parquet"):
        read_table(spark, plain, snapshot_id="x")


def test_deterministic_snapshot_ids(spark, tmp_path):
    """Same commit sequence -> same ids (content-hash rule)."""
    ids = []
    for d in ("a", "b"):
        t = IcebergLiteTable(spark, str(tmp_path / d))
        ids.append((t.overwrite(_df(spark, [(1, "a")])),
                    t.append(_df(spark, [(2, "b")]))))
    assert ids[0] == ids[1]


def test_append_after_expire_keeps_live_dirs(spark, tmp_path):
    """A commit after expire_snapshots must not reuse the tag of a live
    data dir (the tag once followed the shortened log's length)."""
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    for b in range(3):
        t.append(_df(spark, [(b * 10 + i, "x") for i in range(10)]))
    t.expire_snapshots(keep=1)
    t.append(_df(spark, [(100 + i, "y") for i in range(5)]))
    keys = [r["k"] for r in read_table(spark, p).collect()]
    assert len(keys) == 35 and len(set(keys)) == 35


def test_commit_onto_plain_parquet_refused(spark, tmp_path):
    """append_table onto a plain parquet dir must not hide its rows
    (7 existing + 3 appended once read back as 3): it is refused, and
    the existing rows still read."""
    p = str(tmp_path / "plain")
    _df(spark, [(i, "old") for i in range(7)]).write.parquet(p)
    with pytest.raises(ValueError, match="plain parquet"):
        append_table(_df(spark, [(i, "new") for i in range(7, 10)]), p)
    t = IcebergLiteTable(spark, p)
    for commit in (lambda: t.overwrite(_df(spark, [(0, "x")])),
                   lambda: t.merge(_df(spark, [(0, "x")]), key="k")):
        with pytest.raises(ValueError, match="plain parquet"):
            commit()
    assert sorted(r["k"] for r in read_table(spark, p).collect()) == list(range(7))


def test_read_table_without_head_pointer_raises(spark, tmp_path):
    """A crash between the manifest write and the head-pointer write of
    the first commit leaves a manifest and no ``_CURRENT``: read_table
    must raise naming the path, not hand back None as a DataFrame."""
    p = str(tmp_path / "headless")
    append_table(_df(spark, [(1, "a")]), p)
    os.remove(os.path.join(p, IcebergLiteTable.CURRENT))
    with pytest.raises(ValueError, match="headless"):
        read_table(spark, p)
