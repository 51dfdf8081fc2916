"""Manifest zone maps + stats-pruned reads (Iceberg analog: per-file
column metrics driving scan planning — at 10^6 files the planner must
skip files from the manifest alone, never by opening footers).

Every test checks BOTH halves of the contract: results are exactly
equal to the unpruned read with the same predicate, and (where the
layout makes it possible) the scan's file list actually shrank."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.schemas import REPOS
from multiversx_etl_spark.sources.changelog import (
    generate_change_log,
    write_log_parquet,
)
from multiversx_etl_spark.streaming.ingest import ensure_table, replay


@pytest.fixture(scope="module")
def skip_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skiplog") / "log")
    log = generate_change_log(spark, 2000, num_repos=20, paths_per_repo=25)
    write_log_parquet(log, path, files=8)
    return path


def _mktable(spark, root, stat_columns=None):
    return LakeTable.create(
        spark,
        str(root),
        REPOS,
        key_columns=["repo", "path"],
        num_buckets=8,
        stat_columns=stat_columns,
    )


def _rows(df):
    return {tuple(r) for r in df.select("repo", "path", "seq", "content").collect()}


def test_zone_maps_recorded_by_default(spark, skip_log, tmp_path):
    """Key-column zone maps appear on every write with zero config, and
    they bound the file's actual contents."""
    log = spark.read.parquet(skip_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    replay(log, table, interval_size=1000)
    m = table.snapshot()
    assert m.files, "replay wrote no files"
    for f in m.files:
        stats = f.get("stats")
        assert stats and set(stats) >= {"repo", "path"}
        lo, hi = stats["repo"]
        got = (
            spark.read.parquet(f"{table.root}/{f['path']}")
            .agg(F.min("repo"), F.max("repo"))
            .collect()[0]
        )
        assert lo <= got[0] and got[1] <= hi


def test_clustered_compact_prunes_range_scans(spark, skip_log, tmp_path):
    """compact(sort_columns=['seq'], max_records_per_file=...) splits each
    bucket into seq-disjoint slices; a narrow seq-range read then skips
    most files at PLAN time and still matches the unpruned result."""
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t")
    replay(log, table, interval_size=500)
    table.compact(full=True, sort_columns=["seq"], max_records_per_file=40)
    m = table.snapshot()
    assert "seq" in (m.properties.get("stat_columns") or [])
    assert all("seq" in f.get("stats", {}) for f in m.files)
    live = len(m.files)
    assert live > 8, "maxRecordsPerFile did not split the buckets"
    bounds = (100, 180)
    pruned = table.read(prune_stats={"seq": bounds})
    full = table.read().where(F.col("seq").between(*bounds))
    assert _rows(pruned) == _rows(full)
    assert len(pruned.inputFiles()) < live


def test_seq_lower_bound_prunes_under_mor_debt(spark, skip_log, tmp_path):
    """With full-image MOR deltas outstanding, seq prunes on the lower
    bound only (the per-key winner is max-seq, so all-older files hold
    only shadowed or filtered-out rows); the upper bound never prunes."""
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t", stat_columns=["repo", "path", "seq"])
    replay(log, table, interval_size=250)
    m = table.snapshot()
    assert int(m.properties["mor_appends"]) > 0
    live = len(m.files)
    lo = 1500
    pruned = table.read(prune_stats={"seq": (lo, None)})
    full = table.read().where(F.col("seq") >= lo)
    assert _rows(pruned) == _rows(full)
    # epoch deltas are seq-clustered, so the old epochs' files all skip
    assert len(pruned.inputFiles()) < live
    # an upper bound must NOT prune (a pruned newer file would resurrect
    # the stale generations beneath it) — but the filter still applies
    capped = table.read(prune_stats={"seq": (None, 999)})
    assert len(capped.inputFiles()) == live
    assert _rows(capped) == _rows(table.read().where(F.col("seq") <= 999))


def test_patch_debt_disables_nonkey_pruning(spark, skip_log, tmp_path):
    """Partial-image generations outstanding: a non-key column's bounds
    must not drop files (a patch row's NULL columns make per-file ranges
    meaningless for the folded value) — results stay exact."""
    log = generate_change_log(
        spark, 2000, num_repos=20, paths_per_repo=25, patch_fraction=0.3
    )
    table = _mktable(spark, tmp_path / "t", stat_columns=["repo", "path", "seq"])
    replay(log, table, interval_size=500)
    m = table.snapshot()
    assert int(m.properties["patch_deltas"]) > 0
    live = len(m.files)
    pruned = table.read(prune_stats={"seq": (1500, None)})
    assert len(pruned.inputFiles()) == live
    assert _rows(pruned) == _rows(table.read().where(F.col("seq") >= 1500))


def test_lookup_hits_one_slice_after_clustered_compact(spark, skip_log, tmp_path):
    """Point lookup = degenerate key range: on a key-sorted, sliced
    compaction the probe's scan shrinks to the slice(s) covering the key
    instead of the whole bucket file group."""
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t")
    replay(log, table, interval_size=1000)
    table.compact(full=True, max_records_per_file=16)
    some = table.read().limit(1).collect()[0]
    got = table.lookup(repo=some["repo"], path=some["path"])
    assert got.count() == 1
    m = table.snapshot()
    pid_files = {}
    for f in m.files:
        pid_files.setdefault(f["pid"], []).append(f)
    widest = max(len(v) for v in pid_files.values())
    assert widest >= 3, "buckets did not split into slices"
    # a probe key can straddle one slice boundary (shared repo prefix),
    # never more: at most 2 of the bucket's >=3 slices are ever scanned
    assert len(got.inputFiles()) <= 2


def test_prune_validation(spark, skip_log, tmp_path):
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t")
    replay(log, table, interval_size=1000)
    with pytest.raises(ValueError, match="raw"):
        table.read(raw=True, prune_stats={"seq": (0, 1)})
    with pytest.raises(ValueError, match="not in schema"):
        table.read(prune_stats={"nope": (0, 1)})
    with pytest.raises(ValueError, match="not in schema"):
        _mktable(spark, tmp_path / "bad", stat_columns=["nope"])
    with pytest.raises(ValueError, match="not in schema"):
        table.compact(full=True, sort_columns=["nope"])


def test_compact_cli_clustering_flags(spark, skip_log, tmp_path):
    """The operator-facing surface: `compact --sort-columns --max-records-
    per-file` re-clusters the table and persists the stat columns."""
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t")
    replay(log, table, interval_size=1000)
    run = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "compact", str(tmp_path / "t"), "--full",
            "--sort-columns", "seq", "--max-records-per-file", "40",
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    m = table.snapshot()
    assert out["version"] == m.version
    assert "seq" in m.properties["stat_columns"]
    assert len(m.files) > 8
    bounds = (0, 120)
    pruned = table.read(prune_stats={"seq": bounds})
    assert _rows(pruned) == _rows(table.read().where(F.col("seq").between(*bounds)))
    assert len(pruned.inputFiles()) < len(m.files)
    # the cron-able `maintain` pass takes the same clustering flags; with
    # nothing outstanding its compact half is a no-op and the flags must
    # still parse and report cleanly
    run = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "maintain", str(tmp_path / "t"),
            "--sort-columns", "seq", "--max-records-per-file", "40",
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out2 = json.loads(run.stdout.strip().splitlines()[-1])
    assert out2["version"] == m.version  # no deltas: compact half no-ops


def test_rebucket_rerecords_zone_maps(spark, skip_log, tmp_path):
    """Layout evolution keeps the stat policy: a rebucket after a
    clustered compact rewrites every file WITH zone maps for the
    persisted stat set, and pruned reads stay exact under the new
    layout."""
    log = spark.read.parquet(skip_log)
    table = _mktable(spark, tmp_path / "t")
    replay(log, table, interval_size=500)
    table.compact(full=True, sort_columns=["seq"], max_records_per_file=40)
    table.rebucket(16)
    m = table.snapshot()
    assert m.num_buckets == 16
    assert "seq" in (m.properties.get("stat_columns") or [])
    assert all("seq" in f.get("stats", {}) for f in m.files)
    bounds = (300, 700)
    pruned = table.read(prune_stats={"seq": bounds})
    assert _rows(pruned) == _rows(table.read().where(F.col("seq").between(*bounds)))


def test_promotion_carries_zone_maps(spark, skip_log, tmp_path):
    log = spark.read.parquet(skip_log)
    staging = _mktable(
        spark, tmp_path / "staging", stat_columns=["repo", "path", "seq"]
    )
    replay(log, staging, interval_size=1000)
    main = _mktable(spark, tmp_path / "main")
    main.promote_from(staging)
    m = main.snapshot()
    assert all(f.get("stats") for f in m.files)
    # the stat POLICY carries too — post-promote writes keep recording
    # the staging table's non-default columns
    assert m.properties["stat_columns"] == ["repo", "path", "seq"]
    bounds = (0, 400)
    assert _rows(main.read(prune_stats={"seq": bounds})) == _rows(
        staging.read().where(F.col("seq").between(*bounds))
    )
