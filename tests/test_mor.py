"""Merge-on-read mode: delta appends, read-time fold, compaction, and
cow/mor equivalence (both modes must produce identical final state)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.sources.changelog import generate_change_log, write_log_parquet
from multiversx_etl_spark.streaming.ingest import ensure_table, replay


@pytest.fixture(scope="module")
def mor_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("morlog") / "log")
    log = generate_change_log(spark, 2000, num_repos=20, paths_per_repo=25)
    write_log_parquet(log, path, files=8)
    return path


def _state(table):
    return {
        (r["repo"], r["path"], r["s"])
        for r in table.read()
        .select("repo", "path", F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
        .collect()
    }


def test_mor_equals_cow(spark, mor_log, tmp_path):
    log = spark.read.parquet(mor_log)
    t_mor = ensure_table(spark, str(tmp_path / "mor"), num_buckets=8)
    t_cow = ensure_table(spark, str(tmp_path / "cow"), num_buckets=8)
    s_mor = replay(log, t_mor, interval_size=400, mode="mor")
    s_cow = replay(log, t_cow, interval_size=400, mode="cow")
    assert _state(t_mor) == _state(t_cow)
    # merge stats agree too (same classification, different physical plan)
    assert (s_mor.rows_inserted, s_mor.rows_updated, s_mor.rows_deleted) == (
        s_cow.rows_inserted, s_cow.rows_updated, s_cow.rows_deleted
    )


def test_mor_appends_only(spark, mor_log, tmp_path):
    """MOR epochs never remove files (append-only); file count grows, and
    the mor_appends counter tracks outstanding deltas."""
    log = spark.read.parquet(mor_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    seen = []
    replay(log, table, interval_size=400, mode="mor",
           on_epoch=lambda e, s: seen.append(len(table.snapshot().files)))
    assert seen == sorted(seen)  # monotone non-decreasing
    # the counter tracks epochs that actually ADDED delta files (an
    # all-carry epoch, e.g. the duplicate tail, does not arm the fold)
    grew = sum(1 for a, b in zip([0] + seen, seen) if b > a)
    assert int(table.snapshot().properties["mor_appends"]) == grew >= 1


def test_compaction_preserves_state_and_resets_fold(spark, mor_log, tmp_path):
    log = spark.read.parquet(mor_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    replay(log, table, interval_size=400, mode="mor")
    before = _state(table)
    files_before = len(table.snapshot().files)
    table.compact()
    m = table.snapshot()
    assert int(m.properties["mor_appends"]) == 0
    assert len(m.files) <= files_before
    assert _state(table) == before
    # tombstones survive compaction (late lower-seq updates must not resurrect)
    raw = table.read(raw=True)
    assert raw.where(F.col("deleted")).count() > 0


def test_periodic_compaction_during_replay(spark, mor_log, tmp_path):
    log = spark.read.parquet(mor_log)
    t_a = ensure_table(spark, str(tmp_path / "a"), num_buckets=8)
    t_b = ensure_table(spark, str(tmp_path / "b"), num_buckets=8)
    replay(log, t_a, interval_size=400, mode="mor", compact_every=2)
    replay(log, t_b, interval_size=400, mode="mor")
    assert _state(t_a) == _state(t_b)
    assert len(t_a.snapshot().files) <= len(t_b.snapshot().files)


def test_merge_after_compaction_continues(spark, mor_log, tmp_path):
    """Compaction mid-stream must not disturb the seq guard: replay half,
    compact, replay the rest — state identical to uninterrupted replay."""
    log = spark.read.parquet(mor_log)
    t_a = ensure_table(spark, str(tmp_path / "a"), num_buckets=8)
    replay(log, t_a, interval_size=400, mode="mor", max_epochs=3)
    t_a.compact()
    replay(log, t_a, interval_size=400, mode="mor")
    t_b = ensure_table(spark, str(tmp_path / "b"), num_buckets=8)
    replay(log, t_b, interval_size=400, mode="mor")
    assert _state(t_a) == _state(t_b)


def test_staging_to_main_promotion(spark, tmp_path):
    """Load into a staging table, promote over main atomically (the
    reference's <table>_staging copy flow, bq_client.py:103-116): main's
    contents are replaced wholesale, staging stays intact, a mismatched
    bucket layout is refused, and rollback undoes the promotion."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    def batch(rows):
        cols = "offset long, seq long, op string, repo string, path string, commit string, lang string, content string"
        return spark.createDataFrame(rows, cols)

    main = LakeTable.create(
        spark, str(tmp_path / "main"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    merge_batch(main, batch([(0, 0, "insert", "r", "old.py", "c", "py", "old")]), "m", 0, 0, 1)
    staging = LakeTable.create(
        spark, str(tmp_path / "staging"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    merge_batch(
        staging,
        batch([(0, 5, "insert", "r", "a.py", "c", "py", "v1"),
               (1, 6, "insert", "r", "b.py", "c", "py", "v2")]),
        "s", 0, 0, 2,
    )
    v_before = main.current_version()
    main.promote_from(staging)
    assert {r["path"] for r in main.read().collect()} == {"a.py", "b.py"}
    assert {r["path"] for r in staging.read().collect()} == {"a.py", "b.py"}  # intact
    main.rollback(v_before)
    assert {r["path"] for r in main.read().collect()} == {"old.py"}

    other = LakeTable.create(
        spark, str(tmp_path / "other"), REPOS, key_columns=["repo", "path"], num_buckets=8
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket layout"):
        main.promote_from(other)


def test_incremental_compact_rewrites_only_churned_pids(spark, tmp_path):
    """Compaction must be O(churned partitions): pid groups without deltas
    keep their existing base files byte-for-byte (same manifest paths)."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    def batch(rows):
        cols = "offset long, seq long, op string, repo string, path string, commit string, lang string, content string"
        return spark.createDataFrame(rows, cols)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), REPOS, key_columns=["repo", "path"], num_buckets=8
    )
    # epoch 0: rows across many buckets, then full compact -> all-base table
    rows = [(i, i, "insert", f"r{i}", f"f{i}.py", "c", "py", f"v{i}") for i in range(40)]
    merge_batch(table, batch(rows), "m", 0, 0, 40)
    table.compact()
    base = {f["path"]: f for f in table.snapshot().files}
    assert all(f.get("base") for f in base.values())

    # epoch 1: touch ONE key -> one delta file in one pid group
    merge_batch(table, batch([(100, 100, "update", "r0", "f0.py", "c2", "py", "NEW")]), "m", 1, 100, 101)
    m = table.snapshot()
    delta_pids = {f["pid"] for f in m.files if not f.get("base")}
    assert len(delta_pids) == 1
    before = table.read().orderBy("repo", "path").collect()

    m2 = table.compact()
    after_files = {f["path"]: f for f in m2.files}
    # untouched base files survive with identical paths
    for p, f in base.items():
        if f["pid"] not in delta_pids:
            assert p in after_files, f"untouched base file {p} was rewritten"
    assert all(f.get("base") for f in after_files.values())
    assert int(m2.properties["mor_appends"]) == 0
    assert table.read().orderBy("repo", "path").collect() == before
    assert {r["content"] for r in table.read().where("repo = 'r0'").collect()} == {"NEW"}
    # nothing outstanding: compaction is a no-op (no new version)
    assert table.compact().version == m2.version


def test_expire_snapshots_gc(spark, tmp_path):
    """Retention: expired manifests disappear, unreferenced data files are
    deleted, the live snapshot still reads, expired time travel raises."""
    import os as _os

    import pytest as _pytest

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    def batch(rows):
        cols = "offset long, seq long, op string, repo string, path string, commit string, lang string, content string"
        return spark.createDataFrame(rows, cols)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    for e in range(4):  # 4 epochs of updates to the same key -> 4 delta generations
        merge_batch(
            table, batch([(e, e, "insert" if e == 0 else "update", "r", "a.py", "c", "py", f"v{e}")]),
            "m", e, e, e + 1,
        )
    table.compact()
    old_files = [
        f["path"] for f in table.snapshot(1).files
    ]  # early generation, superseded by compact
    before_rows = table.read().collect()

    out = table.expire_snapshots(keep_last=1)  # only the post-compact snapshot
    assert out["expired_manifests"] >= 4
    assert out["deleted_files"] >= 1
    for p in old_files:
        assert not _os.path.exists(_os.path.join(table.root, p))
    assert table.read().collect() == before_rows
    with _pytest.raises(FileNotFoundError):
        table.snapshot(0)
    with _pytest.raises(FileNotFoundError):
        table.rollback(1)


def test_gc_orphan_files(spark, tmp_path):
    """Crash leftovers (written but never committed) are deleted once older
    than the safety window; referenced and fresh files are untouched."""
    import os as _os
    import time as _time

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    def batch(rows):
        cols = "offset long, seq long, op string, repo string, path string, commit string, lang string, content string"
        return spark.createDataFrame(rows, cols)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    merge_batch(table, batch([(0, 0, "insert", "r", "a.py", "c", "py", "v0")]), "m", 0, 0, 1)
    committed = [f["path"] for f in table.snapshot().files]

    orphan_dir = _os.path.join(table.root, "data", "crashed-tag")
    _os.makedirs(orphan_dir)
    old_orphan = _os.path.join(orphan_dir, "part-00000-dead.parquet")
    new_orphan = _os.path.join(orphan_dir, "part-00001-inflight.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "wb") as fh:
            fh.write(b"not really parquet")
    stale = _time.time() - 7200
    _os.utime(old_orphan, (stale, stale))

    out = table.gc_orphan_files(min_age_seconds=3600)
    assert out["deleted"] == 1
    assert not _os.path.exists(old_orphan)
    assert _os.path.exists(new_orphan)  # inside the safety window
    for p in committed:
        assert _os.path.exists(_os.path.join(table.root, p))
    assert table.read().count() == 1

    # after the window passes, the in-flight leftover goes too (and the
    # then-empty tag directory is pruned)
    _os.utime(new_orphan, (stale, stale))
    out = table.gc_orphan_files(min_age_seconds=3600)
    assert out["deleted"] == 1
    assert not _os.path.exists(orphan_dir)


def test_compacted_base_files_are_key_sorted(spark, mor_log, tmp_path):
    """Compaction doubles as clustering: rows inside every base file come
    out sorted by (repo, path), so parquet row-group min/max stats support
    key-lookup data skipping."""
    import os as _os

    import pyarrow.parquet as _pq

    log = spark.read.parquet(mor_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    replay(log, table, interval_size=400, mode="mor")
    table.compact()
    checked = 0
    for f in table.snapshot().files:
        t = _pq.read_table(_os.path.join(table.root, f["path"]), columns=["repo", "path"])
        keys = list(zip(t["repo"].to_pylist(), t["path"].to_pylist()))
        assert keys == sorted(keys), f"{f['path']} not key-sorted"
        checked += 1
    assert checked > 0


def test_promotion_falls_back_to_copy_across_filesystems(spark, tmp_path, monkeypatch):
    """Hard links are the fast path; when main lives on a different
    filesystem (or one forbidding links) os.link raises EXDEV and the
    transfer must degrade to a per-file copy instead of dying with a raw
    traceback after the whole load succeeded."""
    import errno
    import os as _os

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    staging = LakeTable.create(
        spark, str(tmp_path / "staging"), REPOS,
        key_columns=["repo", "path"], num_buckets=4,
    )
    rows = [(0, 5, "insert", "r", "a.py", "c", "py", "v1"),
            (1, 6, "insert", "r", "b.py", "c", "py", "v2")]
    cols = ("offset long, seq long, op string, repo string, path string, "
            "commit string, lang string, content string")
    merge_batch(staging, spark.createDataFrame(rows, cols), "s", 0, 0, 2)

    real_link = _os.link

    def exdev_link(src, dst, *a, **kw):
        raise OSError(errno.EXDEV, "Invalid cross-device link", src)

    monkeypatch.setattr(_os, "link", exdev_link)
    m = LakeTable.promote_into(spark, str(tmp_path / "main"), staging)
    monkeypatch.setattr(_os, "link", real_link)

    main = LakeTable(spark, str(tmp_path / "main"))
    assert m.version == main.current_version()
    assert {r["path"] for r in main.read().collect()} == {"a.py", "b.py"}
    # copies, not links: distinct inodes from the staging files
    staging_inodes = {
        _os.stat(_os.path.join(staging.root, f["path"])).st_ino
        for f in staging.snapshot().files
    }
    main_inodes = {
        _os.stat(_os.path.join(main.root, f["path"])).st_ino
        for f in main.snapshot().files
    }
    assert staging_inodes.isdisjoint(main_inodes)
    # a non-EXDEV link failure still surfaces
    def eio_link(src, dst, *a, **kw):
        raise OSError(errno.EIO, "boom", src)

    monkeypatch.setattr(_os, "link", eio_link)
    import pytest as _pytest

    with _pytest.raises(OSError, match="boom"):
        main.promote_from(staging)


def test_expire_snapshots_time_based_retention(spark, tmp_path):
    """Iceberg older_than semantics: a version outside keep_last expires
    only once it is also OLDER than the age bound — keep_last is the
    retain-last floor, the age is the policy. Backdating manifests makes
    them eligible; fresh ones survive a tight keep_last."""
    import json as _json

    import pytest as _pytest

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import REPOS

    def batch(rows):
        cols = (
            "offset long, seq long, op string, repo string, path string, "
            "commit string, lang string, content string"
        )
        return spark.createDataFrame(rows, cols)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), REPOS, key_columns=["repo", "path"],
        num_buckets=4,
    )
    for e in range(4):
        merge_batch(
            table,
            batch([(e, e, "insert" if e == 0 else "update",
                    "r", "a.py", "c", "py", f"v{e}")]),
            "m", e, e, e + 1,
        )
    before_rows = table.read().collect()

    # everything is freshly committed: a 1-hour age bound expires NOTHING
    out = table.expire_snapshots(keep_last=1, older_than_seconds=3600)
    assert out["expired_manifests"] == 0 and out["deleted_files"] == 0
    assert table.snapshot(0) is not None  # time travel intact

    # backdate the two oldest manifests only: they (and only they) expire
    import time as _time

    stale = _time.time() - 7200
    for v in (0, 1):
        p = table._manifest_path(v)
        m = _json.load(open(p))
        m["committed_at"] = stale
        with open(p, "w") as fh:
            _json.dump(m, fh)
    out = table.expire_snapshots(keep_last=1, older_than_seconds=3600)
    assert out["expired_manifests"] == 2
    with _pytest.raises(FileNotFoundError):
        table.snapshot(0)
    table.snapshot(2)  # younger-than-bound versions retained past keep_last
    assert table.read().collect() == before_rows

    with _pytest.raises(ValueError, match="older_than_seconds"):
        table.expire_snapshots(keep_last=1, older_than_seconds=-1)
