"""Incremental table-to-table replication over the change feed: the CDC
chain (upstream lake table -> downstream replica) with exactly-once via
upstream-version markers."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators.merge import merge_batch
from multiversx_etl_spark.schemas import REPOS
from multiversx_etl_spark.streaming.replicate import replicate_changes


def _mk(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), REPOS, key_columns=["repo", "path"], num_buckets=4
    )


def _batch(spark, rows):
    cols = "offset long, seq long, op string, repo string, path string, commit string, lang string, content string"
    return spark.createDataFrame(rows, cols)


def _state(table):
    return {
        (r["repo"], r["path"], r["seq"], r["content"]) for r in table.read().collect()
    }


def test_replicate_incremental_exactly_once(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")

    merge_batch(src, _batch(spark, [
        (0, 1, "insert", "r", "a.py", "c", "py", "v1"),
        (1, 1, "insert", "r", "b.py", "c", "py", "v1"),
    ]), "m", 0, 0, 2)
    s1 = replicate_changes(src, dst)
    assert s1 is not None and _state(dst) == _state(src)

    # more upstream epochs: update, delete, insert
    merge_batch(src, _batch(spark, [
        (2, 2, "update", "r", "a.py", "c", "py", "v2"),
        (3, 2, "delete", "r", "b.py", "c", "py", None),
        (4, 2, "insert", "r", "c.py", "c", "py", "v1"),
    ]), "m", 1, 2, 5)
    s2 = replicate_changes(src, dst)
    assert s2 is not None and s2.rows_in == 3  # only the delta moved
    assert _state(dst) == _state(src)
    assert {r["path"] for r in dst.read().collect()} == {"a.py", "c.py"}

    # up to date: no-op; re-run: still no-op (marker = src version)
    assert replicate_changes(src, dst) is None
    assert replicate_changes(src, dst) is None

    # upstream compaction advances the version but changes nothing: the
    # replication round commits an empty marker and state stays equal
    src.compact()
    s3 = replicate_changes(src, dst)
    assert s3 is not None and s3.rows_in == 0
    assert _state(dst) == _state(src)

    # marker map stays O(1): only the latest version marker is retained
    markers = dst.snapshot().streams["replica"]["epochs"]
    assert len(markers) == 1

    # a full-state replacement upstream has no delta form: auto_reseed=False
    # surfaces the re-sync contract; the default recovers by re-seeding
    src.rollback(1)
    with pytest.raises(ValueError, match="full state|rollback"):
        replicate_changes(src, dst, auto_reseed=False)
    s4 = replicate_changes(src, dst)
    assert s4 is not None and s4.reseeded
    assert _state(dst) == _state(src)


def test_replicated_tombstone_guards_late_updates(spark, tmp_path):
    """A replicated delete must keep guarding in the REPLICA: a stale
    lower-seq update arriving later (e.g. from a second source) cannot
    resurrect the key downstream."""
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [(0, 5, "insert", "r", "a.py", "c", "py", "v5")]), "m", 0, 0, 1)
    merge_batch(src, _batch(spark, [(1, 9, "delete", "r", "a.py", "c", "py", None)]), "m", 1, 1, 2)
    replicate_changes(src, dst)
    assert dst.read().count() == 0
    # stale direct write into the replica loses to the replicated tombstone
    merge_batch(dst, _batch(spark, [(0, 7, "update", "r", "a.py", "c", "py", "stale")]), "side", 0, 0, 1)
    assert dst.read().count() == 0


def test_replicate_after_upstream_expiry_auto_reseeds(spark, tmp_path):
    """If the upstream expired past the replica's watermark, the delta is
    gone: auto_reseed=False surfaces the re-sync contract (not a raw
    FileNotFoundError); the DEFAULT round recovers itself — bootstrap from
    a snapshot read with the marker committed atomically — and subsequent
    rounds tail incrementally again (VERDICT r02 item #7)."""
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [(0, 1, "insert", "r", "a.py", "c", "py", "v1")]), "m", 0, 0, 1)
    replicate_changes(src, dst)
    for e in range(1, 4):
        merge_batch(src, _batch(spark, [(e, e + 1, "update", "r", "a.py", "c", "py", f"v{e+1}")]), "m", e, e, e + 1)
    src.expire_snapshots(keep_last=1)  # replica's watermark version is gone
    with pytest.raises(ValueError, match="retention window"):
        replicate_changes(src, dst, auto_reseed=False)
    s = replicate_changes(src, dst)  # default: reseed + atomic marker
    assert s is not None and s.reseeded
    assert _state(dst) == _state(src)
    # the chain is moving again: the next round applies only the delta
    merge_batch(src, _batch(spark, [(9, 9, "update", "r", "a.py", "c", "py", "v9")]), "m", 9, 9, 10)
    s2 = replicate_changes(src, dst)
    assert s2 is not None and not s2.reseeded and s2.rows_in == 1
    assert _state(dst) == _state(src)
    # idempotent: up to date after
    assert replicate_changes(src, dst) is None


def test_reseed_preserves_tombstone_seqs(spark, tmp_path):
    """An auto-reseed is an EXACT state clone, not a visible-row export:
    tombstones keep their seqs on the replica, so a late lower-seq update
    arriving through the chain after the reseed stays dead downstream
    exactly as it does upstream."""
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [(0, 5, "insert", "r", "a.py", "c", "py", "v5"),
                                    (1, 1, "insert", "r", "b.py", "c", "py", "b1")]), "m", 0, 0, 2)
    merge_batch(src, _batch(spark, [(2, 9, "delete", "r", "a.py", None, None, None)]), "m", 1, 2, 3)
    src.expire_snapshots(keep_last=1)
    s = replicate_changes(src, dst)  # forced reseed (delta beyond retention)
    assert s is not None and s.reseeded
    assert _state(dst) == _state(src)
    # late lower-seq update for the DELETED key flows through the chain:
    # both sides must keep it dead (a visible-row reseed would have lost
    # the tombstone and resurrected it on the replica)
    merge_batch(src, _batch(spark, [(3, 7, "update", "r", "a.py", "c", "py", "late")]), "m", 9, 3, 4)
    s2 = replicate_changes(src, dst)
    assert s2 is None or not s2.reseeded  # incremental (carry-only rounds commit no files)
    assert _state(dst) == _state(src)
    assert not any(k[1] == "a.py" for k in _state(dst))


def test_reseed_preserves_colseq_state(spark, tmp_path):
    """An auto-reseed clones per-column writer seqs: an event replicated
    AFTER the reseed with a seq between a row's base and a patched
    column's writer seq must fold identically on both sides (a visible
    export lifts the row seq, making the replica carry events the source
    applies)."""
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [(0, 2, "insert", "r", "a.py", "c2", "py", "v2"),
                                    (1, 9, "patch", "r", "a.py", None, "go", None)]), "m", 0, 0, 2)
    src.compact()  # finalize: base seq 2, _colseq {lang: 9}
    src.expire_snapshots(keep_last=1)
    s = replicate_changes(src, dst)
    assert s is not None and s.reseeded
    assert int(dst.snapshot().properties["colseq"]) == 1
    # full image BETWEEN base(2) and the patched lang(9)
    merge_batch(src, _batch(spark, [(2, 5, "update", "r", "a.py", "c5", "rust", "v5")]), "m", 1, 2, 3)
    replicate_changes(src, dst)
    want = {("r", "a.py", 9, "go", "v5", "c5")}
    got_src = {(r["repo"], r["path"], r["seq"], r["lang"], r["content"], r["commit"])
               for r in src.read().collect()}
    got_dst = {(r["repo"], r["path"], r["seq"], r["lang"], r["content"], r["commit"])
               for r in dst.read().collect()}
    assert got_src == got_dst == want


def test_replicate_merge_over_colseq_rows(spark, tmp_path):
    """A merge over finalized per-column state appends a plain row image
    (the source's _colseq row stays in its compacted base, which the feed
    skips): the replica must still agree on the next in-between event."""
    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [(0, 0, "insert", "r", "a.py", "c0", "py", "v0")]), "m", 0, 0, 1)
    merge_batch(src, _batch(spark, [(1, 9, "patch", "r", "a.py", None, "go", None)]), "m", 1, 1, 2)
    replicate_changes(src, dst)
    src.compact()  # colseq row on src (compact commits don't enter the feed)
    # full image at seq 4, below the finalized lang written @9
    merge_batch(src, _batch(spark, [(2, 4, "update", "r", "a.py", "c4", "hs", "v4")]), "m", 2, 2, 3)
    replicate_changes(src, dst)
    # the divergence trigger: a full image between 4 and 9
    merge_batch(src, _batch(spark, [(3, 6, "update", "r", "a.py", "c6", "rust", "v6")]), "m", 3, 3, 4)
    replicate_changes(src, dst)
    got_src = {(r["repo"], r["path"], r["seq"], r["lang"], r["content"], r["commit"])
               for r in src.read().collect()}
    got_dst = {(r["repo"], r["path"], r["seq"], r["lang"], r["content"], r["commit"])
               for r in dst.read().collect()}
    assert got_src == got_dst == {("r", "a.py", 9, "go", "v6", "c6")}


def test_reseed_casts_to_replica_declared_types(spark, tmp_path):
    """The reseed conforms cloned rows to the REPLICA's declared column
    types (like every other write path) — a raw file copy from an upstream
    with a wider physical type would poison later replica reads."""
    from pyspark.sql.types import BooleanType, LongType, StringType
    from pyspark.sql.types import StructField, StructType

    def _schema(size_type):
        return StructType([
            StructField("repo", StringType(), False),
            StructField("path", StringType(), False),
            StructField("size", size_type, True),
            StructField("seq", LongType(), False),
            StructField("deleted", BooleanType(), False),
        ])

    src_schema = _schema(LongType())
    dst_schema = _schema(StringType())
    src = LakeTable.create(spark, str(tmp_path / "src"), src_schema,
                           key_columns=["repo", "path"], num_buckets=2)
    dst = LakeTable.create(spark, str(tmp_path / "dst"), dst_schema,
                           key_columns=["repo", "path"], num_buckets=2)
    b = spark.createDataFrame(
        [(0, 7, "insert", "r", "a.py", 123)],
        "offset long, seq long, op string, repo string, path string, size long",
    )
    merge_batch(src, b, "m", 0, 0, 1)
    src.expire_snapshots(keep_last=1)
    merge_batch(src, spark.createDataFrame(
        [(1, 8, "insert", "r", "b.py", 456)],
        "offset long, seq long, op string, repo string, path string, size long",
    ), "m", 1, 1, 2)
    src.expire_snapshots(keep_last=1)
    s = replicate_changes(src, dst)  # forced reseed past retention
    assert s is not None and s.reseeded
    rows = {(r["path"], r["size"]) for r in dst.read().collect()}
    assert rows == {("a.py", "123"), ("b.py", "456")}
    assert dict(dst.read().dtypes)["size"] == "string"


def test_replicate_across_out_of_band_schema_push(spark, tmp_path):
    """An upstream `update_schema` (metadata-only widening) must be a
    logical no-op in the change feed — replication keeps flowing without a
    reseed, and the widened column reaches the replica with the first data
    that populates it."""
    from pyspark.sql.types import LongType, StructField, StructType

    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    merge_batch(src, _batch(spark, [
        (0, 1, "insert", "r", "a.py", "c", "py", "v1"),
    ]), "m", 0, 0, 1)
    assert replicate_changes(src, dst) is not None

    widened = StructType(list(REPOS.fields) + [StructField("stars", LongType(), True)])
    src.update_schema(widened, description="widened out of band")
    src.set_clustering(["seq"])
    # both metadata-only commits sit in the feed range: no raise, no reseed,
    # zero rows moved
    s = replicate_changes(src, dst)
    assert s is not None and s.rows_in == 0 and not s.reseeded

    # first upstream data with the new column flows into the replica
    b = spark.createDataFrame(
        [(1, 2, "update", "r", "a.py", "c", "py", "v2", 9)],
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string, stars long",
    )
    merge_batch(src, b, "m", 1, 1, 2)
    s2 = replicate_changes(src, dst)
    assert s2 is not None and s2.rows_in == 1 and not s2.reseeded
    rows = {
        (r["repo"], r["path"], r["seq"], r["content"], r["stars"])
        for r in dst.read().collect()
    }
    assert rows == {("r", "a.py", 2, "v2", 9)}
    assert src.read().exceptAll(dst.read()).count() == 0
    assert dst.read().exceptAll(src.read()).count() == 0
