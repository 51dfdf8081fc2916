"""Bucket-layout evolution (LakeTable.rebucket): the Iceberg
partition-spec-evolution analog. The layout chosen at CREATE must not be a
forever-fixed scalability ceiling — rebucket rewrites the table into a new
bucket count in one commit while state, streams, time travel, lookups, the
change feed, and in-flight replays all keep working."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.lake.table import LakeTable, bucket_expr
from multiversx_etl_spark.sources.changelog import generate_change_log, write_log_parquet
from multiversx_etl_spark.streaming.ingest import ensure_table, replay


@pytest.fixture(scope="module")
def rb_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rblog") / "log")
    log = generate_change_log(spark, 2000, num_repos=20, paths_per_repo=25)
    write_log_parquet(log, path, files=8)
    return path


def _state(table, version=None):
    return {
        (r["repo"], r["path"], r["s"])
        for r in table.read(version=version)
        .select("repo", "path", F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
        .collect()
    }


def test_rebucket_preserves_state_and_folds(spark, rb_log, tmp_path):
    """Grow 4 -> 16 buckets mid-life with MOR deltas outstanding: state
    identical, fold absorbed (mor_appends reset), manifest carries the new
    layout, and every file group lands in a valid new-layout pid."""
    log = spark.read.parquet(rb_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=400)
    before = _state(table)
    assert int(table.snapshot().properties["mor_appends"]) > 0
    m = table.rebucket(16)
    assert m.num_buckets == 16
    assert int(m.properties["mor_appends"]) == 0
    assert _state(table) == before
    # tombstones survive (late lower-seq updates must never resurrect)
    assert table.read(raw=True).where(F.col("deleted")).count() > 0
    # every row sits in the file group its new-layout bucket maps to
    mis = (
        table.read(raw=True)
        .withColumn("_b", bucket_expr(m.key_columns, 16))
        .where(F.col("_b") >= 16)
        .count()
    )
    assert mis == 0


def test_rebucket_time_travel_keeps_old_layout(spark, rb_log, tmp_path):
    log = spark.read.parquet(rb_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=1000)
    v_old = table.current_version()
    old_state = _state(table)
    table.rebucket(8)
    assert table.snapshot(v_old).num_buckets == 4  # per-manifest layout
    assert _state(table, version=v_old) == old_state
    # bucket-pruned time-travelled read uses the OLD layout's hash
    some = table.read(version=v_old).limit(1).collect()[0]
    b_old = (
        spark.createDataFrame([(some["repo"], some["path"])], "repo string, path string")
        .select(bucket_expr(["repo", "path"], 4).alias("b"))
        .collect()[0]["b"]
    )
    hit = (
        table.read(version=v_old, buckets={int(b_old)})
        .where((F.col("repo") == some["repo"]) & (F.col("path") == some["path"]))
        .count()
    )
    assert hit == 1


def test_replay_resumes_after_rebucket(spark, rb_log, tmp_path):
    """Epoch markers carry across the rewrite: replay half, rebucket, replay
    the rest — identical to an uninterrupted replay (new epochs MERGE with
    the new layout)."""
    log = spark.read.parquet(rb_log)
    t_a = ensure_table(spark, str(tmp_path / "a"), num_buckets=4)
    replay(log, t_a, interval_size=400, max_epochs=3)
    t_a.rebucket(16)
    replay(log, t_a, interval_size=400)
    t_b = ensure_table(spark, str(tmp_path / "b"), num_buckets=16)
    replay(log, t_b, interval_size=400)
    assert _state(t_a) == _state(t_b)


def test_lookup_and_changes_across_rebucket(spark, rb_log, tmp_path):
    log = spark.read.parquet(rb_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=400, max_epochs=3)
    v0 = table.current_version()
    table.rebucket(8)
    replay(log, table, interval_size=400)
    # point lookup prunes with the new layout and still hits
    probe = table.read().limit(1).collect()[0]
    got = table.lookup(repo=probe["repo"], path=probe["path"]).collect()
    assert len(got) == 1 and got[0]["content"] == probe["content"]
    # the feed across the rebucket commit carries ONLY the merge deltas
    feed = table.changes(v0)
    assert feed.where(F.col("change_type") == "carry").count() == 0
    assert feed.count() > 0
    types = {r["change_type"] for r in feed.select("change_type").distinct().collect()}
    assert types <= {"insert", "update", "delete", "tombstone"}


def test_rebucket_noop_and_validation(spark, tmp_path):
    from multiversx_etl_spark.schemas import REPOS

    table = LakeTable.create(spark, str(tmp_path / "t"), REPOS,
                             key_columns=["repo", "path"], num_buckets=4)
    v = table.current_version()
    assert table.rebucket(4).version == v  # same layout: no-op, no commit
    with pytest.raises(ValueError):
        table.rebucket(0)
