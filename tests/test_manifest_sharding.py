"""Sharded manifests: manifest-list root docs + per-bucket file groups.

At 10^10 rows a table plausibly holds 10^5–10^6 live data files; an inline
per-file list would make every commit a multi-hundred-MB JSON rewrite and
every plan a full parse. Format 2 stores the per-file entries in immutable,
content-addressed per-pid group documents (``_manifests/groups/``) and keeps
the root document O(buckets): commits rewrite only the groups whose pids
changed (Iceberg analog: manifest files + manifest list with partition-range
pruning), and bucket-pruned reads parse only their pids' groups.

These tests pin the contract: root-doc shape, ref reuse across commits
(O(touched) commits), lazy group loading (O(touched) plans), format-1
back-compat, O(1) rollback, and group-doc lifecycle under expire/GC.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multiversx_etl_spark.lake.table import LakeTable, Manifest

SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("seq", LongType(), False),
    StructField("deleted", BooleanType(), True),
    StructField("v", StringType(), True),
])


def _mk(spark, root, num_buckets=4) -> LakeTable:
    return LakeTable.create(
        spark, str(root), SCHEMA, key_columns=["id"], num_buckets=num_buckets
    )


def _write_rows(spark, table: LakeTable, rows, tag: str):
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "_bucket", table.snapshot().bucket_expr()
    )
    return table.write_data_files(df, tag)


def _root_doc(table: LakeTable, version: int | None = None) -> dict:
    if version is None:
        version = table.current_version()
    with open(table._manifest_path(version)) as fh:
        return json.load(fh)


def _group_docs(table: LakeTable) -> set[str]:
    return {
        os.path.basename(p)
        for p in glob.glob(
            os.path.join(table.root, "_manifests", "groups", "g-*.json")
        )
    }


def test_root_doc_is_format2_with_refs_not_files(spark, tmp_path):
    table = _mk(spark, tmp_path / "t")
    files = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(40)], "seed"
    )
    m = table.commit(files, replaced_pids=set(), operation="merge-seed")
    doc = _root_doc(table)
    assert doc["format"] == 2
    assert "files" not in doc
    assert doc["groups"], "occupied pids must have refs"
    for g in doc["groups"]:
        assert set(g) >= {"pid", "path", "n", "rows", "nd"}
        full = os.path.join(table.root, g["path"])
        assert os.path.exists(full)
        body = json.load(open(full))
        assert body["pid"] == g["pid"]
        assert len(body["files"]) == g["n"]
        assert sum(f["rows"] for f in body["files"]) == g["rows"]
    # ref totals match the materialized view
    assert sum(g["rows"] for g in doc["groups"]) == sum(
        f["rows"] for f in m.files
    )
    assert m.total_rows() == 40 and m.total_files() == len(m.files)


def test_commit_reuses_untouched_group_refs(spark, tmp_path):
    """The O(touched buckets) commit contract: a commit appending to ONE pid
    carries every other pid's ref verbatim (same content-addressed path) and
    adds at most one new group doc."""
    table = _mk(spark, tmp_path / "t")
    files = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(64)], "seed"
    )
    table.commit(files, replaced_pids=set(), operation="merge-seed")
    before_refs = {g["pid"]: g["path"] for g in _root_doc(table)["groups"]}
    docs_before = _group_docs(table)

    one_pid_files = _write_rows(spark, table, [(0, 1, False, "v0b")], "delta")
    touched = {f["pid"] for f in one_pid_files}
    assert len(touched) == 1
    table.commit(one_pid_files, replaced_pids=set(), operation="merge-delta")

    after_refs = {g["pid"]: g["path"] for g in _root_doc(table)["groups"]}
    for pid, path in before_refs.items():
        if pid not in touched:
            assert after_refs[pid] == path, "untouched group ref must be reused"
    for pid in touched:
        assert after_refs[pid] != before_refs[pid]
    assert len(_group_docs(table) - docs_before) == 1


def test_bucket_pruned_read_loads_only_its_groups(spark, tmp_path):
    table = _mk(spark, tmp_path / "t")
    files = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(64)], "seed"
    )
    table.commit(files, replaced_pids=set(), operation="merge-seed")
    m = table.snapshot()
    occupied = m.slot_pids()
    assert len(occupied) > 1
    target = occupied[0]
    listed = m.files_for_pids({target})
    assert listed and all(f["pid"] == target for f in listed)
    # ONLY the requested pid's slot materialized — the others stay refs
    for pid in occupied:
        slot = m._slots[pid]
        if pid == target:
            assert "files" in slot
        else:
            assert "files" not in slot and "ref" in slot
    # and the row content behind the pruned path is right
    got = table.lookup(id=3).collect()
    assert len(got) == 1 and got[0]["v"] == "v3"


def test_format1_inline_manifest_still_readable(spark, tmp_path):
    """A pre-sharding (format-1) manifest — inline ``files`` list — reads,
    serves queries, and the NEXT commit converts the table to format 2."""
    table = _mk(spark, tmp_path / "t")
    files = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(16)], "seed"
    )
    m = table.commit(files, replaced_pids=set(), operation="merge-seed")
    # rewrite the live manifest in the OLD inline format
    doc = _root_doc(table)
    inline = {k: v for k, v in doc.items() if k not in ("format", "groups")}
    inline["files"] = m.files
    with open(table._manifest_path(m.version), "w") as fh:
        json.dump(inline, fh)

    m1 = table.snapshot()
    assert {f["path"] for f in m1.files} == {f["path"] for f in m.files}
    assert m1.delta_pids() == set(m1.slot_pids())  # all MOR deltas, no refs
    assert table.read().count() == 16
    assert table.lookup(id=5).first()["v"] == "v5"

    delta = _write_rows(spark, table, [(5, 1, False, "v5b")], "delta")
    table.commit(
        delta, replaced_pids=set(), operation="merge-delta",
        properties={"mor_appends": 1},
    )
    assert _root_doc(table)["format"] == 2
    assert table.read().where(F.col("id") == 5).first()["v"] == "v5b"


def test_rollback_carries_refs_without_new_group_docs(spark, tmp_path):
    table = _mk(spark, tmp_path / "t")
    f1 = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(32)], "a"
    )
    table.commit(f1, replaced_pids=set(), operation="merge-a")
    v_good = table.current_version()
    f2 = _write_rows(spark, table, [(1, 1, False, "bad")], "b")
    table.commit(f2, replaced_pids=set(), operation="merge-b")
    docs_before = _group_docs(table)
    table.rollback(v_good)
    assert _group_docs(table) == docs_before, "rollback writes no group docs"
    assert {g["path"] for g in _root_doc(table)["groups"]} == {
        g["path"] for g in _root_doc(table, v_good)["groups"]
    }
    assert table.read().where(F.col("id") == 1).first()["v"] == "v1"


def test_expire_snapshots_gcs_unshared_group_docs(spark, tmp_path):
    table = _mk(spark, tmp_path / "t", num_buckets=2)
    for i in range(6):
        fs = _write_rows(spark, table, [(i, i, False, f"v{i}")], f"m{i}")
        table.commit(fs, replaced_pids=set(), operation=f"merge-{i}")
    all_docs = _group_docs(table)
    out = table.expire_snapshots(keep_last=2)
    assert out["expired_manifests"] >= 1
    kept_docs = _group_docs(table)
    retained_refs = set()
    for v in range(table.current_version() - 1, table.current_version() + 1):
        retained_refs |= {
            os.path.basename(g["path"]) for g in _root_doc(table, v)["groups"]
        }
    # every retained ref's doc survives; every kept doc is referenced
    assert retained_refs <= kept_docs
    assert kept_docs == retained_refs, "expired-only group docs must be GCed"
    assert kept_docs < all_docs
    # the table still reads exactly
    assert table.read().count() == 6


def test_gc_orphan_files_sweeps_stale_group_docs(spark, tmp_path):
    table = _mk(spark, tmp_path / "t")
    fs = _write_rows(spark, table, [(1, 0, False, "x")], "seed")
    table.commit(fs, replaced_pids=set(), operation="merge-seed")
    gdir = os.path.join(table.root, "_manifests", "groups")
    orphan = os.path.join(gdir, "g-" + "0" * 32 + ".json")
    with open(orphan, "w") as fh:
        json.dump({"pid": 0, "files": []}, fh)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    out = table.gc_orphan_files(min_age_seconds=3600)
    assert out["group_docs_deleted"] == 1
    assert not os.path.exists(orphan)
    # referenced docs survive even when old
    for p in glob.glob(os.path.join(gdir, "g-*.json")):
        os.utime(p, (old, old))
    out2 = table.gc_orphan_files(min_age_seconds=3600)
    assert out2["group_docs_deleted"] == 0
    assert table.read().count() == 1


def test_reused_group_doc_mtime_refreshed(spark, tmp_path):
    """A commit that seals to an EXISTING content-addressed group doc must
    refresh its mtime: between the seal and the root swap the doc is
    referenced by no manifest, so an age-based gc_orphan_files would
    otherwise delete it from under the in-flight commit."""
    table = _mk(spark, tmp_path / "t")
    fs = _write_rows(spark, table, [(1, 0, False, "x")], "seed")
    table.commit(fs, replaced_pids=set(), operation="merge-seed")
    (ref,) = _root_doc(table)["groups"]
    doc = os.path.join(table.root, ref["path"])
    old = time.time() - 7200
    os.utime(doc, (old, old))
    # the same files again: the pid's group seals to the same content hash
    table.commit(fs, replaced_pids={ref["pid"]}, operation="merge-redo")
    assert _root_doc(table)["groups"][0]["path"] == ref["path"]
    assert os.path.getmtime(doc) > old + 3600


def test_added_files_skips_identical_refs(spark, tmp_path):
    table = _mk(spark, tmp_path / "t")
    f1 = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(64)], "a"
    )
    m1 = table.commit(f1, replaced_pids=set(), operation="merge-a")
    f2 = _write_rows(spark, table, [(0, 1, False, "v0b")], "b")
    m2 = table.commit(f2, replaced_pids=set(), operation="merge-b")
    added = m2.added_files(m1)
    assert {f["path"] for f in added} == {f["path"] for f in f2}
    # groups with identical refs were never materialized on either side
    touched = {f["pid"] for f in f2}
    for pid in m2.slot_pids():
        if pid not in touched:
            assert "files" not in m2._slots[pid]


def test_compaction_and_full_protocol_on_sharded_format(spark, tmp_path):
    """End-to-end sanity: MOR appends -> incremental compact -> delta_pids
    from refs -> full compact -> time travel, all on format 2."""
    table = _mk(spark, tmp_path / "t")
    f1 = _write_rows(
        spark, table, [(i, 0, False, f"v{i}") for i in range(32)], "a"
    )
    table.commit(f1, replaced_pids=set(), operation="merge-a")
    f2 = _write_rows(
        spark, table, [(i, 1, False, f"w{i}") for i in range(0, 32, 2)], "b"
    )
    table.commit(
        f2, replaced_pids=set(), operation="merge-b",
        properties={"mor_appends": 1},
    )
    m = table.snapshot()
    assert m.delta_pids(), "MOR deltas must surface via ref nd counts"
    v_before = table.current_version()
    mc = table.compact()
    assert mc.version > v_before
    assert not mc.delta_pids()
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got[0] == "w0" and got[1] == "v1" and got[30] == "w30"
    # time travel to the pre-compact version still reads via its own refs
    old = {r["id"]: r["v"] for r in table.read(version=v_before).collect()}
    assert old == got


def test_key_type_sensitivity_guard_still_holds_on_sharded(spark, tmp_path):
    """Regression cross-check: the sharded manifest keeps key_columns in the
    root doc and the promotion guard still fires."""
    table = _mk(spark, tmp_path / "t")
    fs = _write_rows(spark, table, [(7, 0, False, "x")], "seed")
    table.commit(fs, replaced_pids=set(), operation="merge-seed")
    wide = StructType([
        StructField(
            f.name,
            IntegerType() if f.name == "id" else f.dataType,
            f.nullable,
        )
        for f in SCHEMA.fields
    ])
    with pytest.raises(ValueError):
        table.update_schema(wide)
