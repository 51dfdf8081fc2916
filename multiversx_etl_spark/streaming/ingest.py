"""Exactly-once resumable ingest: the reference's driver loop, Spark-first.

Two drivers over the same merge core (operators/merge.py):

- ``replay``: deterministic micro-batch replay of an offset range — the
  analog of the reference's plan-bulk → consume → verify → checkpoint loop
  (/root/reference/multiversxetl/app_controller.py:73-154). Epochs come from
  the planner (plans/planner.py); each committed epoch is recorded inside the
  table manifest atomically with its data, so a killed and restarted replay
  resumes without loss or duplication.

- ``stream_ingest``: genuine Structured Streaming — ``readStream`` over a
  parquet log directory, ``foreachBatch`` applying the same merge.
  foreachBatch is at-least-once; exactly-once comes from the epoch marker
  committed atomically with the MERGE (SURVEY.md §7). NOTE: Structured
  Streaming epoch ids are scoped to the checkpoint directory — the checkpoint
  dir and the target table must live and die together (same as Iceberg's
  documented foreachBatch guidance); the seq-conditional MERGE is defense in
  depth if they ever diverge.

Per-epoch lineage (offsets, row counts, merge stats per bucket — the analog
of the reference's task ledger and per-bulk status report,
/root/reference/multiversxetl/tasks_dashboard.py:88-94, logger.py:19-37) is
written under ``<table>/_lineage/stream=<id>/epoch=<id>/`` BEFORE the
manifest commit; a crash between the two leaves orphan lineage that the
replay overwrites (idempotent), and readers dedup by (stream_id, epoch_id,
bucket) — duplicates tolerated by design (SURVEY.md §7 hard parts).

``bootstrap_snapshot`` is the reference's mutable-index truncate-and-reload
flow: load a full-state snapshot, then tail the change log on top.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators.merge import MergeStats, _phase, merge_batch
from multiversx_etl_spark.operators.normalize import normalize_change_events
from multiversx_etl_spark.plans.planner import plan_offset_ranges
from multiversx_etl_spark.schemas import CHANGE_EVENTS, LINEAGE, REPOS
from multiversx_etl_spark.sources.changelog import read_offset_range

DEFAULT_STREAM_ID = "main"


@dataclass
class ReplaySummary:
    epochs_run: int = 0
    epochs_skipped: int = 0
    rows_in: int = 0
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    stats: list[MergeStats] = field(default_factory=list)


def ensure_table(
    spark: SparkSession,
    root: str,
    num_buckets: int = 16,
    schema=None,
    key_columns: list[str] | None = None,
    layout: str = "xxhash",
    stat_columns: list[str] | None = None,
) -> LakeTable:
    """Open-or-create. ``schema``/``key_columns`` default to the ``repos``
    table; other declared tables pass theirs (schemas.TABLES). Physical
    knobs (``num_buckets``/``layout``/``stat_columns``) apply to NEW
    tables only — an existing table keeps its own.

    ``layout`` defaults to ``'xxhash'`` because its bucket→pid map is
    many-to-one (``lake/table.py`` ``bucket_to_pid``): at B=16 only 10 pids
    are occupied, so an epoch writes 10 files where ``'spark'`` (pid ==
    bucket) writes 16, and write cost grows with file count. Measured on
    the perfbench ``tail`` workload (6 interleaved pairs, 4 vCPU), the
    spark layout lost every pair: median CPU per epoch 2.07 s → 2.54 s
    (+23%). ``'spark'`` stays for the zero-exchange join fold.

    Concurrent-safe: two workers racing the FIRST creation both succeed —
    the loser of the v0 commit CAS (exists() probe raced create()) opens
    the winner's table instead of dying on the conflict, exactly like an
    open of a pre-existing table."""
    if LakeTable.exists(root):
        return LakeTable(spark, root)
    try:
        return LakeTable.create(
            spark,
            root,
            schema if schema is not None else REPOS,
            key_columns=key_columns or ["repo", "path"],
            num_buckets=num_buckets,
            layout=layout,
            stat_columns=stat_columns,
        )
    except RuntimeError:
        if LakeTable.exists(root):
            return LakeTable(spark, root)
        raise


def _write_lineage(
    table: LakeTable, epoch_id: int, per_bucket: list[dict], stream_id: str
) -> None:
    """Write the per-bucket ledger rows for one epoch of one stream.

    The ledger is tiny (one row per touched bucket), so it's written directly
    from the driver with pyarrow — launching a Spark job for 64 rows costs
    seconds of fixed overhead per epoch and would dominate replay throughput.
    Readers (`read_lineage`) still consume it through Spark as ordinary
    parquet. Overwrite-by-rename keeps crash-replays idempotent."""
    if not per_bucket:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [
        "epoch_id", "bucket", "offset_lo", "offset_hi", "rows_in",
        "rows_deduped", "rows_inserted", "rows_updated", "rows_deleted",
    ]
    arrays = {c: pa.array([int(r[c]) for r in per_bucket], type=pa.int64()) for c in cols}
    arrays["bucket"] = arrays["bucket"].cast(pa.int32())
    arrays["stream_id"] = pa.array([stream_id] * len(per_bucket), type=pa.string())
    arrays["committed_at"] = pa.array(
        [datetime.fromtimestamp(r["committed_at"], tz=timezone.utc) for r in per_bucket],
        type=pa.timestamp("us", tz="UTC"),
    )
    batch = pa.table(arrays)
    path = os.path.join(table.root, "_lineage", f"stream={stream_id}", f"epoch={epoch_id}")
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-0.parquet.tmp")
    pq.write_table(batch, tmp)
    os.replace(tmp, os.path.join(path, "part-0.parquet"))


def read_lineage(table: LakeTable, stream_id: str | None = None) -> DataFrame:
    """The ledger, deduped by (stream_id, epoch_id, bucket) — duplicate rows
    from crash-replays collapse here (max committed_at wins). Streams are
    namespaced: two streams feeding one table keep separate ledgers."""
    path = os.path.join(table.root, "_lineage")
    if stream_id is not None:
        path = os.path.join(path, f"stream={stream_id}")
    if not os.path.exists(path):
        return table.spark.createDataFrame([], LINEAGE)
    df = table.spark.read.schema(LINEAGE).option("recursiveFileLookup", "true").parquet(path)
    keys = ("stream_id", "epoch_id", "bucket")
    others = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(F.max(F.struct("committed_at", *[c for c in others if c != "committed_at"])).alias("_w"))
        .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in others])
    )


def apply_epoch(
    table: LakeTable,
    batch: DataFrame,
    stream_id: str,
    epoch_id: int,
    offset_lo: int,
    offset_hi: int,
    normalize: bool = True,
    in_counts: dict[int, int] | None = None,
    patch_count: int | None = None,
    conflict_retries: int = 2,
    normalizer: Callable[[DataFrame], DataFrame] | None = None,
    fold: str = "union",
    null_key_count: int | None = None,
) -> MergeStats:
    """Normalize → dedup → MERGE → lineage → atomic marker+data commit.

    Lineage persists BEFORE the marker commit (merge_batch's pre_commit
    hook): a crash in between leaves orphan ledger rows that the idempotent
    re-run overwrites — never a committed epoch missing its ledger.

    A lost optimistic-concurrency race (another stream committed while this
    MERGE ran — its target snapshot is stale, so its output may be missing
    the other writer's rows) is retried up to ``conflict_retries`` times
    from the NEW snapshot: the whole merge recomputes, the same-tag data
    files are overwritten, the ledger rewrite is idempotent. This is the
    Iceberg commit-retry loop; the per-stream epoch marker stays correct
    because a replayed epoch collapses to seq-tie carries."""
    if normalize:
        batch = (normalizer or normalize_change_events)(batch)

    def write_ledger(stats: MergeStats) -> None:
        with _phase("lineage_write"):
            _write_lineage(table, epoch_id, stats.per_bucket or [], stream_id)

    for attempt in range(conflict_retries + 1):
        try:
            return merge_batch(
                table, batch, stream_id, epoch_id, offset_lo, offset_hi,
                in_counts=in_counts, patch_count=patch_count,
                fold=fold, null_key_count=null_key_count,
                pre_commit=write_ledger,
                # each attempt writes its own tag dir: a retry must NEVER
                # overwrite files a rival's committed manifest references
                # (the rival may have committed this very (stream, epoch))
                tag_suffix=f"-r{attempt}" if attempt else "",
            )
        except RuntimeError as e:
            if "concurrent commit" not in str(e) or attempt == conflict_retries:
                raise
            if table.is_epoch_committed(stream_id, epoch_id):
                # the rival WAS this same (stream, epoch) — at-least-once
                # redelivery resolved by the marker, nothing left to do
                return MergeStats()
    raise AssertionError("unreachable")


def replay(
    log: DataFrame,
    table: LakeTable,
    interval_size: int,
    total_offsets: int | None = None,
    stream_id: str = DEFAULT_STREAM_ID,
    max_epochs: int | None = None,
    on_epoch: Callable[[int, MergeStats], None] | None = None,
    compact_every: int | None = None,
    normalizer: Callable[[DataFrame], DataFrame] | None = None,
    fold: str = "union",
) -> ReplaySummary:
    """Replay the log in offset-range epochs, skipping committed ones.

    ``fold='join'`` selects the ZERO-EXCHANGE merge fold (requires a
    ``layout='spark'`` table and a ``log`` DataFrame scanned from a Spark
    catalog BUCKETED table — sources/changelog.py write_log_bucketed /
    register_log_bucketed); epochs carrying partial-image or NULL-keyed
    rows self-downgrade to the union fold (operators/merge.py).

    Each epoch appends delta files — O(batch) write cost;
    ``compact_every=K`` folds deltas into base files after every K run
    epochs (read-amplification bound, like Iceberg maintenance cadence).
    Mid-stream compactions finalize partial-image generations EXACTLY
    (contested patch columns collapse into the per-column ``_colseq`` map —
    lake/table.py ``_finalize_fold`` — so full images arriving later than
    the compaction cadence still fold per-column correctly).
    ``normalizer`` overrides the per-table transformer (normalize.REGISTRY
    dispatch — the reference's per-index transformers); default is the
    ``change_events`` normalization.
    """
    if total_offsets is None:
        mx = log.agg(F.max("offset")).collect()[0][0]
        total_offsets = 0 if mx is None else mx + 1  # empty log → empty summary
    plans = list(plan_offset_ranges(total_offsets, interval_size))
    # ONE manifest read decides every skip (held Manifest object — per-plan
    # table.snapshot() calls would re-parse O(epochs) JSON); the
    # watermark-or-sparse marker logic lives in Manifest.epoch_info.
    committed_view = table.snapshot()

    def is_committed(epoch_id: int) -> bool:
        return committed_view.epoch_info(stream_id, epoch_id) is not None

    pending = [p for p in plans if not is_committed(p.epoch_id)]
    # One pass over the UNCOMMITTED offset span counts every pending epoch's
    # per-bucket rows_in (instead of one counting job per epoch). Skipped
    # entirely on a fully-committed re-replay (zero Spark jobs), and when
    # the (epochs x buckets) result would be driver-heavy — merge_batch then
    # counts per epoch as before (bounded at num_buckets rows per collect).
    m = table.snapshot()
    counts: dict[int, dict[int, int]] = {}
    patch_counts: dict[int, int] = {}
    null_key_counts: dict[int, int] = {}
    precounted = bool(pending) and len(pending) * m.num_buckets <= 500_000
    if precounted:
        with _phase("precount"):
            lo = min(p.offset_lo for p in pending)
            hi = min(max(p.offset_hi for p in pending), total_offsets)
            aggs = [F.count("*").alias("n")]
            if "op" in log.columns:  # partial-image rows (same pass)
                aggs.append(F.count(F.when(F.col("op") == "patch", 1)).alias("p"))
            # NULL-keyed rows per epoch (same pass): the join fold needs to
            # know to downgrade (merge.py fold='join' docstring)
            nk = F.lit(False)
            for k in m.key_columns:
                nk = nk | F.col(k).isNull()
            aggs.append(F.count(F.when(nk, 1)).alias("nk"))
            rows = (
                log.where((F.col("offset") >= lo) & (F.col("offset") < hi))
                .groupBy(
                    F.floor(F.col("offset") / interval_size).cast("int").alias("_epoch"),
                    m.bucket_expr().alias("_bucket"),
                )
                .agg(*aggs)
                .collect()
            )
            for r in rows:
                counts.setdefault(r["_epoch"], {})[r["_bucket"]] = r["n"]
                if "op" in log.columns:
                    patch_counts[r["_epoch"]] = patch_counts.get(r["_epoch"], 0) + r["p"]
                null_key_counts[r["_epoch"]] = null_key_counts.get(r["_epoch"], 0) + r["nk"]
    summary = ReplaySummary()
    for plan in plans:
        if max_epochs is not None and summary.epochs_run >= max_epochs:
            break
        if is_committed(plan.epoch_id):
            summary.epochs_skipped += 1
            continue
        batch = read_offset_range(log, plan.offset_lo, plan.offset_hi)
        stats = apply_epoch(
            table, batch, stream_id, plan.epoch_id, plan.offset_lo, plan.offset_hi,
            in_counts=counts.get(plan.epoch_id, {}) if precounted else None,
            patch_count=patch_counts.get(plan.epoch_id, 0) if precounted else None,
            normalizer=normalizer, fold=fold,
            null_key_count=null_key_counts.get(plan.epoch_id, 0) if precounted else None,
        )
        summary.epochs_run += 1
        if compact_every and summary.epochs_run % compact_every == 0:
            with _phase("compact"):
                table.compact()
        summary.rows_in += stats.rows_in
        summary.rows_inserted += stats.rows_inserted
        summary.rows_updated += stats.rows_updated
        summary.rows_deleted += stats.rows_deleted
        summary.stats.append(stats)
        if on_epoch:
            on_epoch(plan.epoch_id, stats)
    return summary


def stream_ingest(
    spark: SparkSession,
    log_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    stream_id: str = "stream",
    max_files_per_trigger: int = 4,
    compact_every: int | None = None,
    trigger_interval: str | None = None,
    normalizer: Callable[[DataFrame], DataFrame] | None = None,
    log_schema=None,
    fold: str = "union",
    log_format: str = "parquet",
):
    """Structured Streaming tail of a change-log directory (parquet by
    default; ``log_format`` accepts every ``changelog.LOG_FORMATS`` entry —
    an NDJSON landing zone is EXACTLY the reference's wire topology, its
    extract stage writes newline-delimited JSON staging files).

    Default trigger is ``availableNow`` (drain the backlog, then stop —
    the bounded-replay/bench mode): the call blocks until done and returns
    None. ``trigger_interval`` (e.g. ``"5 seconds"``) switches to a
    genuinely CONTINUOUS ``processingTime`` tail — the analog of the
    reference's forever-loop driver cadence (app.py:74-106,
    sleep_between_iterations=3600): the call returns the live
    ``StreamingQuery`` immediately; the caller owns its lifecycle
    (``stop()`` for a graceful shutdown — exactly-once markers make any
    in-flight epoch replay-safe).

    ``maxFilesPerTrigger`` is the micro-batch knob — the analog of the
    reference's interval_size × num_intervals_in_bulk planner parameters
    (worker_config_mainnet.json:21-22).

    ``fold='join'`` brings the ZERO-EXCHANGE merge fold to streaming: the
    file source schedules WHOLE files per micro-batch, so when the log
    directory holds catalog-bucketed files (write_log_bucketed), the
    batch's own files — recovered from the ``_metadata.file_path`` hidden
    column, which resolves at the file scan and so survives into the
    foreachBatch DataFrame (a LogicalRDD whose ``inputFiles()`` is empty) —
    are re-staged as a temporary catalog bucketed table (hardlink farm, no
    bytes copied; sources/changelog.py staged_bucketed_files) whose scan
    reports HashPartitioning(key, B), and the MERGE plans no exchange,
    exactly like the batch replay's join fold. A batch whose files carry
    no parseable bucket id, or whose staged row count disagrees with the
    delivered batch, downgrades to (or refuses over) the union fold —
    correctness never depends on staging being possible. ``fold='auto'``
    resolves per the log's ``_bucket_spec.json`` sidecar against the
    table, like the batch surfaces."""
    from multiversx_etl_spark.sources.changelog import LOG_FORMATS

    if log_format not in LOG_FORMATS:
        raise ValueError(
            f"unknown log format {log_format!r} (expected one of {LOG_FORMATS})"
        )
    if fold == "join" and log_format != "parquet":
        # bucket alignment is provable only for the parquet bucketed-log
        # writer (sidecar + file-name bucket ids); other formats take the
        # union fold
        raise ValueError(
            f"fold='join' requires a parquet bucketed log; "
            f"log_format={log_format!r} streams with fold='union'"
        )
    m0 = table.snapshot()
    if fold == "auto":
        from multiversx_etl_spark.sources.changelog import resolve_fold_auto

        fold, downgraded = resolve_fold_auto(
            log_dir, layout=m0.layout,
            num_buckets=m0.num_buckets, key_columns=m0.key_columns,
        )
        if downgraded:
            # a bucketed log the stream can't exploit is a perf foot-gun
            # worth surfacing (same note every batch surface prints)
            import sys

            print(
                f"note: bucketed log but union fold: {downgraded}",
                file=sys.stderr,
            )
    elif fold == "join":
        # explicit join: validate the sidecar UPFRONT, exactly like the
        # batch path's register_log_bucketed — without this, a mismatched
        # bucket count sails past the per-batch id<B guard (files 0..7
        # 'fit' under any B >= 8) and dies mid-stream in the purity check
        # instead of refusing before the query starts
        from multiversx_etl_spark.sources.changelog import (
            _spec_mismatch,
            read_bucket_spec,
        )

        if m0.layout != "spark":
            raise ValueError("fold='join' requires layout='spark'")
        spec = read_bucket_spec(log_dir)
        if spec is None:
            raise ValueError(
                f"bucketed log at {log_dir} has no _bucket_spec.json "
                "sidecar: cannot verify the files' true bucket layout "
                "(write with write_log_bucketed, or drop a sidecar)"
            )
        mismatch = _spec_mismatch(spec, m0.num_buckets, m0.key_columns)
        if mismatch:
            raise ValueError(
                f"bucketed log at {log_dir} cannot serve the join fold: "
                + "; ".join(mismatch)
            )
    from multiversx_etl_spark.sources.changelog import _csv_read_options

    declared = log_schema if log_schema is not None else CHANGE_EVENTS
    reader = spark.readStream.schema(declared).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if log_format == "parquet":
        src = reader.parquet(log_dir)
    elif log_format == "ndjson":
        src = reader.json(log_dir)
    elif log_format == "orc":
        src = reader.orc(log_dir)
    else:
        src = _csv_read_options(reader).csv(log_dir)
    if fold == "join":
        # the file lineage must be captured AT THE SCAN: foreachBatch hands
        # over a LogicalRDD whose inputFiles() is empty
        src = src.withColumn("_src_file", F.col("_metadata").getField("file_path"))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if table.is_epoch_committed(stream_id, epoch_id):
            return  # at-least-once redelivery of a committed epoch → no-op
        m = table.snapshot()
        batch, batch_fold, staged = batch_df, "union", None
        delivered = None
        if fold == "join":
            from multiversx_etl_spark.sources.changelog import (
                bucket_id_from_name,
                staged_bucketed_files,
            )

            # ONE metadata-only pass yields the batch's file ledger AND its
            # delivered row count (the projection prunes every data column)
            frows = batch_df.groupBy("_src_file").count().collect()
            files = [r["_src_file"] for r in frows]
            delivered = sum(r["count"] for r in frows)
            batch = batch_df = batch_df.drop("_src_file")
            ids = [
                bucket_id_from_name(os.path.basename(f)) for f in files
            ]
            if files and all(b is not None and b < m.num_buckets for b in ids):
                staged = staged_bucketed_files(
                    spark, files, m.num_buckets, m.key_columns,
                    declared, os.path.join(table.root, "_stage"),
                )
                batch = staged.__enter__()
                batch_fold = "join"
        try:
            # one aggregation supplies offset bounds AND per-bucket rows_in —
            # the (possibly re-staged) batch is scanned once here, once by
            # the merge itself
            aggs = [
                F.count("*").alias("n"),
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
            ]
            if "op" in batch.columns:  # partial-image rows (same pass)
                aggs.append(F.count(F.when(F.col("op") == "patch", 1)).alias("p"))
            rows = (
                batch.groupBy(m.bucket_expr().alias("_bucket"))
                .agg(*aggs)
                .collect()
            )
            in_counts = {r["_bucket"]: r["n"] for r in rows}
            if batch_fold == "join" and sum(in_counts.values()) != delivered:
                # the staged files do not reproduce the delivered batch —
                # a violated file-source assumption is a refusal, not a
                # quiet downgrade (the ledger would book the wrong rows)
                raise RuntimeError(
                    "staged bucketed batch row count != delivered batch"
                )
            lo = min((r["lo"] for r in rows), default=0)
            hi = max((r["hi"] + 1 for r in rows), default=0)
            patch_count = (
                sum(r["p"] for r in rows) if "op" in batch.columns else 0
            )
            apply_epoch(
                table, batch, stream_id, epoch_id, lo, hi,
                in_counts=in_counts, patch_count=patch_count,
                normalizer=normalizer, fold=batch_fold,
            )
        finally:
            if staged is not None:
                staged.__exit__(None, None, None)
        if compact_every and (epoch_id + 1) % compact_every == 0:
            table.compact()

    writer = src.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_interval is not None:
        return writer.trigger(processingTime=trigger_interval).start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return None


def bootstrap_snapshot(
    table: LakeTable,
    snapshot: DataFrame,
    seq_column: str | None = "seq",
    stream_id: str | None = None,
    epoch_id: int | None = None,
    marker_mode: str = "contiguous",
) -> int:
    """Truncate-and-reload: replace the ENTIRE table with a full-state
    snapshot — the reference's mutable-index flow (TRUNCATE then full
    reload, /root/reference/multiversxetl/app_controller.py:55-71) and the
    bootstrap/backfill path of CDC: load the initial snapshot here, then
    tail the change log with replay()/stream_ingest() on top.

    Rows carry ``seq`` from ``seq_column`` (or 0), so subsequent MERGE
    batches apply the usual seq guard against the snapshot. The snapshot is
    pre-folded per key (max-seq winner) before write: a snapshot export with
    duplicate keys would otherwise land verbatim in base files with no MOR
    fold armed (``mor_appends=0``) and reads would return duplicates.

    ``stream_id``/``epoch_id`` optionally record a stream marker atomically
    with the seed commit — the replication reseed path marks the upstream
    version the seed captured, so tailing resumes from there with no
    seed/marker crash window. Returns the committed snapshot row count."""
    from multiversx_etl_spark.operators.dedup import dedup_latest
    from multiversx_etl_spark.operators.merge import evolve_schema

    m = table.snapshot()
    # same schema-evolution rule as merge_batch: snapshot columns absent
    # from the table schema APPEND (a truncate-reload over an evolved
    # declared schema must not silently drop the new columns' values)
    evolved = evolve_schema(m.schema, snapshot, m.key_columns)
    cols = [F.col(c) for c in m.key_columns]
    seq = (F.col(seq_column) if seq_column and seq_column in snapshot.columns else F.lit(0))
    cols.append(seq.cast("long").alias("seq"))
    cols.append(F.lit(False).alias("deleted"))
    payload = [
        f.name
        for f in evolved.fields
        if f.name not in m.key_columns and f.name not in ("seq", "deleted")
    ]
    for p in payload:
        typ = evolved[p].dataType
        cols.append(
            (F.col(p).cast(typ) if p in snapshot.columns else F.lit(None).cast(typ)).alias(p)
        )
    df = dedup_latest(snapshot.select(*cols), m.key_columns).withColumn(
        "_bucket", m.bucket_expr()
    )
    new_files = table.write_data_files(df, f"bootstrap-v{m.version:08d}")
    for f in new_files:
        f["base"] = True
    n_rows = sum(f["rows"] for f in new_files)
    table.commit(
        new_files,
        replaced_pids=set(range(m.num_buckets)),
        operation="bootstrap",
        stream_id=stream_id,
        epoch_id=epoch_id,
        epoch_info={"reseed": True, "rows": n_rows} if stream_id is not None else None,
        schema=evolved,
        expected_parent=m.version,
        # full-state replacement: no delta, patch, or per-column (colseq)
        # generations survive it
        properties={"mor_appends": 0, "patch_deltas": 0, "colseq": 0},
        marker_mode=marker_mode,
    )
    return n_rows
