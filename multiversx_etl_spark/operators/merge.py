"""Key-partitioned MERGE upsert into a LakeTable (the engine core).

Semantics match Iceberg's ``MERGE INTO target t USING changes s ON t.repo =
s.repo AND t.path = s.path WHEN MATCHED AND s.seq > t.seq AND s.op = 'delete'
THEN DELETE WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET * WHEN NOT MATCHED
AND s.op != 'delete' THEN INSERT *`` — plus tombstone retention: deletes keep
a ``deleted=true`` row carrying the delete's seq, so a late lower-seq update
arriving in a later batch cannot resurrect the key (SURVEY.md §7 hard parts).

Merge-on-read: the batch's per-key winners are APPENDED as delta files —
write cost is O(batch), never O(table). Reads fold generations per key
(lake/table.py read); ``compact()`` folds deltas back into base files, which
is the one way to a fold-free, read-optimal table. This is Iceberg v2 MOR,
and the only shape that survives a small micro-batch MERGE into a 100 TB
table. The target is still consulted — but only its narrow (key, seq,
deleted) projection, for merge-stat classification and the seq guard;
content bytes of the target never move.

Physical plan:

1. **partition pruning**: the change-set's distinct buckets are computed
   first (a tiny agg); only those partitions' files are read. A micro-batch
   touching few repos reads a small fraction of the table. Analog of the
   reference's interval-scoped loads (tasks_runner.py:93-104).
2. **union + single hash aggregate** instead of an outer join: target rows
   (tagged) and change rows (tagged) union and group by key; the max-struct
   winner implements per-key dedup of the change-set (A14: max-commit-seq)
   AND all MATCHED/NOT-MATCHED merge arms uniformly. One shuffle total,
   partial-aggregated map-side; because ``_bucket`` is a pure function of
   the key and appears in the grouping keys, the explicit
   HashPartitioning(_bucket) satisfies the aggregate's required distribution
   — no second exchange — and the bucket-aligned file write consumes the
   same partitioning (zero further shuffles). Partial-image (op='patch')
   change rows ride the same aggregate without competing for the winner:
   each key collects its patches, deduplicated per seq, in a list column.
3. **merge stats in the same pass**: the per-key target winner (max-seq
   target struct) rides along, classifying each output row as
   insert/update/delete/carry for the lineage ledger (A17/A24 analogs)
   without a second scan.
4. **one write**: the winner row (unless it is a carry) and the key's
   patch generations leave through one ``inline`` into the same
   bucket-aligned write, so an epoch — patches or not — costs one
   Exchange, one scan of the batch and one ``write_data_files`` job.

Idempotence: re-applying the same batch yields seq ties, resolved as 'carry'
(no-op) — a replayed MERGE changes nothing (the epoch marker normally
short-circuits it earlier; this is defense in depth).
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import StructType

from multiversx_etl_spark.lake.table import LakeTable, repartition_for_write

#: written-row ceiling for deriving per-bucket ledger stats on the driver
#: with pyarrow (3 narrow columns, ~ms) instead of a Spark job (~0.3 s fixed
#: scheduling overhead per epoch — the round-1 per-epoch serial floor).
_DRIVER_STATS_MAX_ROWS = 4_000_000


def _per_bucket_counts(
    table: LakeTable, new_files: list[dict], spark
) -> dict[int, tuple[int, int, int, int]]:
    """(insert, update, delete, deduped-keys) per bucket from the files just
    written (which carry ``_bucket``/``_action``/``_cn``). Small epochs (the
    common CDC case) aggregate driver-side over parquet with numpy —
    no Spark job; epochs above ``_DRIVER_STATS_MAX_ROWS`` use a Spark job
    (the read-back is then a real distributed aggregation, worth its fixed
    cost)."""
    if not new_files:
        return {}
    total_rows = sum(f["rows"] for f in new_files)
    paths = [os.path.join(table.root, f["path"]) for f in new_files]
    if total_rows <= _DRIVER_STATS_MAX_ROWS:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pa.concat_tables(
            pq.read_table(p, columns=["_bucket", "_action", "_cn"]) for p in paths
        )
        bucket = t["_bucket"].combine_chunks().to_numpy(zero_copy_only=False)
        nb = int(bucket.max()) + 1 if len(bucket) else 0
        counts = {}
        for name, mask in (
            ("ins", pc.equal(t["_action"], "insert")),
            ("upd", pc.equal(t["_action"], "update")),
            ("del", pc.equal(t["_action"], "delete")),
            ("dedup", pc.greater_equal(t["_cn"], 1)),
        ):
            m = mask.combine_chunks().to_numpy(zero_copy_only=False)
            counts[name] = np.bincount(bucket[m], minlength=nb)
        return {
            int(b): (
                int(counts["ins"][b]),
                int(counts["upd"][b]),
                int(counts["del"][b]),
                int(counts["dedup"][b]),
            )
            for b in np.nonzero(
                counts["ins"] + counts["upd"] + counts["del"] + counts["dedup"]
            )[0]
        }
    rows = (
        spark.read.parquet(*paths)
        .groupBy("_bucket")
        .agg(
            F.sum(F.when(F.col("_action") == "insert", 1).otherwise(0)).alias("ins"),
            F.sum(F.when(F.col("_action") == "update", 1).otherwise(0)).alias("upd"),
            F.sum(F.when(F.col("_action") == "delete", 1).otherwise(0)).alias("del"),
            F.sum(F.when(F.col("_cn") >= 1, 1).otherwise(0)).alias("dedup"),
        )
        .collect()
    )
    return {
        int(r["_bucket"]): (int(r["ins"]), int(r["upd"]), int(r["del"]), int(r["dedup"]))
        for r in rows
    }

#: log bookkeeping columns that never enter the target table.
_LOG_ONLY = ("offset", "op")

#: last MERGE write plan (set only under MXETL_CAPTURE_PLAN=1 — see below).
LAST_WRITE_PLAN: str | None = None


@contextlib.contextmanager
def _phase(name: str):
    """Wall-clock a merge phase to stderr when MXETL_TIMING=1 (perf triage)."""
    t0 = time.perf_counter()
    yield
    if os.environ.get("MXETL_TIMING"):
        print(f"[merge] {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)


@dataclass
class MergeStats:
    rows_in: int = 0
    rows_deduped: int = 0
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    #: partial-image generations appended this epoch (op='patch' rows)
    rows_patched: int = 0
    touched_buckets: int = 0
    per_bucket: list[dict] | None = None
    #: set by replication when the round fell back to a full snapshot
    #: re-seed instead of a row delta (retention gap / non-merge commit)
    reseeded: bool = False


def null_safe_on(left: DataFrame, right: DataFrame, cols) -> "F.Column":
    """Null-safe key-equality join condition (`<=>` per column): the engine
    supports NULL key parts end-to-end (bucket_expr hashes them, the merge
    groups them), so every key join in the view/dedup family must use this
    instead of `on=key` — a plain equi-join silently drops NULL-keyed rows."""
    cond = None
    for c in cols:
        eq = left[c].eqNullSafe(right[c])
        cond = eq if cond is None else cond & eq
    return cond


def _fully_nullable(dt):
    """Deep-nullable copy of a data type: lake columns are always nullable
    (old files read new columns as NULL), and a batch whose expression
    happens to prove non-null (e.g. coalesce-scrubbed array elements) must
    not bake containsNull=false into the table schema — later batches with
    nullable elements could never cast to it."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _fully_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_fully_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_fully_nullable(dt.keyType), _fully_nullable(dt.valueType), True)
    return dt


def evolve_schema(target_schema: StructType, changes: DataFrame, key_columns: list[str]) -> StructType:
    """Union of the target schema and the change-set's payload columns —
    new columns append (old files read them as NULL), dropped columns stay
    (new rows carry NULL). The reference's analog is out-of-band ``bq
    update`` schema pushes (maintenance/schemas.md:13-28); here it's part of
    the same atomic commit."""
    existing = {f.name for f in target_schema.fields}
    out = StructType(list(target_schema.fields))
    for f in changes.schema.fields:
        if f.name in existing or f.name in _LOG_ONLY or f.name.startswith("_"):
            continue  # engine-internal (_bucket etc.) and log bookkeeping stay out
        out.add(f.name, _fully_nullable(f.dataType), True)
    return out


def merge_batch(
    table: LakeTable,
    changes: DataFrame,
    stream_id: str,
    epoch_id: int,
    offset_lo: int = 0,
    offset_hi: int = 0,
    collect_per_bucket_stats: bool = True,
    in_counts: dict[int, int] | None = None,
    patch_count: int | None = None,
    pre_commit: "Callable[[MergeStats], None] | None" = None,
    marker_mode: str = "contiguous",
    tag_suffix: str = "",
    fold: str = "union",
    null_key_count: int | None = None,
) -> MergeStats:
    """Apply one micro-batch of change events and commit atomically.

    ``in_counts`` (bucket -> raw change-row count for THIS batch) can be
    precomputed by the caller — replay() computes every epoch's counts in a
    single pass over the log instead of one job per epoch. A caller that
    precomputes ``in_counts`` should pass ``patch_count`` (the batch's
    op='patch' row count, usually from the same aggregate) too; left None
    it is detected with one extra tiny count job — never guessed, because
    a partial-image row folded as a full image would null out the columns
    it meant to keep.

    ``fold`` picks the fold's physical shape:

    - ``'union'`` (default): union target+changes, ONE shuffle, ONE hash
      aggregate, ONE write (module docstring steps 2 and 4). Works with
      every layout; partial-image patch generations leave
      through the same aggregate and write as the per-key winners.
    - ``'join'``: the ZERO-EXCHANGE fold for ``layout='spark'`` tables
      fed from a Spark catalog BUCKETED log table: dedup the change side
      with a partition-local aggregate, fold the (narrow, catalog-staged)
      target side likewise, left-outer-join the winners — every stage
      already satisfies HashPartitioning(key, B), so Catalyst inserts NO
      Exchange anywhere and the bucket-aligned file write consumes the scan
      partitioning directly. When the batch carries partial-image 'patch'
      rows (per-column generations need the union machinery) the call
      downgrades to 'union' for that batch — correctness never depends on
      the caller picking right. The written files' purity is re-verified
      from parquet footers (lake/table.py _assert_bucket_purity), so a
      caller whose log was NOT actually bucket-scanned still gets a correct
      (merely shuffled) merge or a loud error, never silent pid corruption.
    """
    assert fold in ("union", "join"), fold
    parent = table.snapshot()
    key = parent.key_columns
    stats = MergeStats()
    if fold == "join" and parent.layout != "spark":
        raise ValueError("fold='join' requires layout='spark'")

    changes = changes.withColumn("_bucket", parent.bucket_expr())

    # -- 1. rows_in per bucket + touched-bucket set (one tiny agg job,
    #    unless the caller precounted; the same agg counts partial-image
    #    'patch' rows, which the fold below writes as generations).
    may_patch = "op" in changes.columns
    if in_counts is None:
        with _phase("in_counts"):
            aggs = [F.count("*").alias("n")]
            if may_patch:
                aggs.append(F.count(F.when(F.col("op") == "patch", 1)).alias("p"))
            rows = changes.groupBy("_bucket").agg(*aggs).collect()
            in_counts = {r["_bucket"]: r["n"] for r in rows}
            patch_count = sum(r["p"] for r in rows) if may_patch else 0
    elif patch_count is None:
        patch_count = (
            changes.where(F.col("op") == "patch").count() if may_patch else 0
        )
    touched = set(in_counts)
    stats.rows_in = sum(in_counts.values())
    stats.touched_buckets = len(touched)
    if not touched:
        # Empty batch: still record the epoch marker (exactly-once bookkeeping).
        table.commit(
            [], set(), "merge-empty", stream_id, epoch_id,
            {"offset_lo": offset_lo, "offset_hi": offset_hi, "rows_in": 0},
            expected_parent=parent.version,
            marker_mode=marker_mode,
        )
        return stats

    # -- 2. schema evolution + align both sides to the evolved payload.
    evolved = evolve_schema(parent.schema, changes, key)
    payload = [
        f.name for f in evolved.fields if f.name not in key and f.name not in ("seq", "deleted")
    ]

    # Partial-image events (op='patch', Debezium-style: NULL payload =
    # keep the stored value) are appended as their own generations —
    # never folded into the per-key winner, which would null out the
    # columns they meant to keep (the union fold's aggregate carries them
    # beside it) — and the read-time fold resolves them per COLUMN
    # (lake/table.py). Exact column-level LWW under arbitrary reordering
    # requires keeping each patch's own writer seq: merge-on-read
    # generations carry it naturally, and compact() collapses it
    # losslessly into the hidden _colseq map (lake/table.py
    # _finalize_fold). Finalized per-column state (compact's _colseq rows)
    # is NOT patch debt: row-level decisions still compare full-image seqs
    # and the read fold resolves the appended generations per column.
    patch_outstanding = int(parent.properties.get("patch_deltas", 0)) > 0
    has_patches = bool(patch_count)

    def aligned(df: DataFrame, is_change: bool) -> DataFrame:
        cols = [F.col(c) for c in key]
        cols.append(F.col("seq").cast("long").alias("seq"))
        if is_change:
            cols.append((F.col("op") == "delete").alias("deleted"))
        else:
            cols.append(F.col("deleted"))
        for p in payload:
            typ = evolved[p].dataType
            if p in df.columns:
                cols.append(F.col(p).cast(typ).alias(p))
            else:
                cols.append(F.lit(None).cast(typ).alias(p))
        # patches (target generations and change-side events alike) must
        # not win the full-image fold: they are partial
        if is_change and has_patches:
            cols.append((F.col("op") == "patch").alias("_is_patch"))
        elif not is_change and "_action" in df.columns:
            cols.append(
                F.coalesce(F.col("_action") == "patch", F.lit(False)).alias("_is_patch")
            )
        else:
            cols.append(F.lit(False).alias("_is_patch"))
        cols.append(F.lit(is_change).alias("_is_change"))
        cols.append(F.col("_bucket"))
        return df.select(*cols)

    # Per-column patch generations need the union machinery; NULL-keyed
    # rows under a plain equi-join would mis-ledger (table state would stay
    # exact — the MOR read fold resolves per key regardless — but A17
    # reconciliation must be exact too). Both are detected, never assumed.
    if fold == "join" and (has_patches or patch_outstanding):
        fold = "union"
    if fold == "join":
        if null_key_count is None:
            nk = F.lit(False)
            for k in key:
                nk = nk | F.col(k).isNull()
            null_key_count = changes.where(nk).limit(1).count()
        if null_key_count:
            fold = "union"

    with contextlib.ExitStack() as stack:
        if fold == "join":
            # -- 3'. ZERO-EXCHANGE fold (docstring ``fold='join'``): the
            #    change side arrives from a catalog-bucketed log scan and
            #    the target side is the snapshot's live files catalog-staged
            #    (lake/table.py staged_bucketed_target) — both report
            #    HashPartitioning(key, B), so the two aggregates are
            #    partition-local, the left-outer join needs no exchange,
            #    and the write below consumes the scan partitioning
            #    (partition index == bucket == pid). Only change-touched
            #    keys can produce output (carries are never written), hence
            #    LEFT outer with the deduped change side driving.
            cha = aligned(changes, True)
            ch_w = cha.groupBy(*key).agg(
                F.max(F.struct("seq", "deleted", *payload)).alias("_w"),
                F.count("*").alias("_cn"),
            )
            tgt = stack.enter_context(
                table.staged_bucketed_target(parent, touched, [*key, "seq", "deleted"])
            )
            tg_w = tgt.groupBy(*key).agg(F.max(F.struct("seq", "deleted")).alias("_tw"))
            merged = ch_w.join(tg_w, on=list(key), how="left").select(
                *key, "_w", "_tw", "_cn"
            ).withColumn("_bucket", parent.bucket_expr())
            won_change = F.col("_tw").isNull() | (F.col("_w.seq") > F.col("_tw.seq"))
        else:
            # Only the target's narrow (key, seq, deleted) projection is
            # consulted — target content never moves. raw=True returns
            # every physical generation; the union-agg folds them. With
            # patch generations outstanding the projection also carries
            # _action, so the fold can exclude them (still narrow).
            target = table.read(buckets=touched, raw=True, with_action=patch_outstanding)
            narrow = [*key, "seq", "deleted"] + (["_action"] if patch_outstanding else [])
            target = target.select(*narrow).withColumn("_bucket", parent.bucket_expr())
            both = aligned(target, False).unionByName(aligned(changes, True))

            # -- 3. ONE shuffle, ONE aggregate (module docstring step
            #    2). Winner struct compares (seq, _is_change, ...): on
            #    a seq tie the change row wins, carrying identical data
            #    (idempotent replay). The separate _tw struct is the
            #    TARGET-side winner — its deleted flag (not "any
            #    generation was live") decides prior liveness, which
            #    matters when several MOR generations of a key are
            #    present.
            #    Change-side patches ride the same aggregate as the
            #    key's ``_pl`` list: one partial generation per
            #    distinct (key, seq), so each keeps its own per-column
            #    writer seq for the read fold (lake/table.py).
            wstruct = F.struct("seq", "_is_change", "deleted", *payload, "_bucket")
            is_change, is_patch = F.col("_is_change"), F.col("_is_patch")
            aggs = [
                F.max(F.when(~is_patch, wstruct)).alias("_w"),
                F.max(
                    F.when(~is_change & ~is_patch, F.struct("seq", "deleted"))
                ).alias("_tw"),
                F.count(F.when(is_change & ~is_patch, 1)).alias("_cn"),
            ]
            # a key whose only generations are (orphan) patch partials
            # has no full-image winner: nothing to classify — the read
            # fold likewise hides such keys — but its new patches are
            # still written
            keep = F.col("_w").isNotNull()
            if has_patches:
                # an all-NULL patch is a no-op: drop it (and with NO
                # payload columns at all, every patch is one)
                some_payload = F.lit(False)
                for p in payload:
                    some_payload = some_payload | F.col(p).isNotNull()
                aggs.append(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                is_change & is_patch & some_payload,
                                F.struct("seq", *payload),
                            )
                        )
                    ).alias("_pl")
                )
                keep = keep | (F.size("_pl") > 0)
            merged = (
                repartition_for_write(both, parent.num_buckets, key, parent.layout)
                .groupBy(*key, "_bucket")
                .agg(*aggs)
                .where(keep)
            )
            if has_patches:
                # exact redeliveries collapse per (key, seq): the list is
                # sorted, so the LAST entry of each seq run is its max
                # struct
                pl = F.col("_pl")

                def last_of_seq(e, i):
                    nxt = F.when(i + 1 < F.size(pl), F.element_at(pl, i + 2)["seq"])
                    return F.coalesce(e["seq"] != nxt, F.lit(True))

                merged = merged.withColumn("_pl", F.filter(pl, last_of_seq))
            # NULL winner = patch-only key: classified 'carry' (not written)
            won_change = F.coalesce(F.col("_w._is_change"), F.lit(False))
        was_live = F.col("_tw").isNotNull() & ~F.col("_tw.deleted")
        action = (
            F.when(~won_change, F.lit("carry"))
            # seq tie = the same event re-applied (at-least-once replay): no-op
            .when(F.col("_tw").isNotNull() & (F.col("_w.seq") == F.col("_tw.seq")), F.lit("carry"))
            .when(F.col("_w.deleted") & was_live, F.lit("delete"))
            .when(F.col("_w.deleted"), F.lit("tombstone"))  # delete of an absent/dead key
            .when(was_live, F.lit("update"))
            .otherwise(F.lit("insert"))  # new key, or resurrection of a tombstone
        )
        merged = merged.select(
            *key,
            F.col("_w.seq").alias("seq"),
            F.col("_w.deleted").alias("deleted"),
            *[F.col(f"_w.{p}").alias(p) for p in payload],
            F.col("_bucket"),
            action.alias("_action"),
            F.col("_cn"),
            *([F.col("_pl")] if has_patches else []),
        )

        # -- 4. write. ``_action``/``_cn``/``_bucket`` are written INTO the
        #    data files (readers never see them: reads apply the manifest
        #    schema, so parquet column pruning skips them entirely). GLOBAL
        #    merge stats are collected by an Observation on the write job
        #    itself (CollectMetrics sits below the carry filter, so carries
        #    ARE counted — exact, zero extra jobs); per-bucket
        #    ledger stats are then a narrow read-back of ONLY the
        #    just-written files — no second pass over the inputs, no cache,
        #    and the ledger is derived from the durable output itself
        #    (self-auditing). Patch generations are written in the same
        #    files as the winners (module docstring step 4).
        out_cols = [*key, *payload, "seq", "deleted", "_action", "_cn", "_bucket"]
        obs = Observation(f"merge-{stream_id}-{epoch_id}")
        merged = merged.observe(
            obs,
            F.sum(F.when(F.col("_action") == "insert", 1).otherwise(0)).alias("ins"),
            F.sum(F.when(F.col("_action") == "update", 1).otherwise(0)).alias("upd"),
            F.sum(F.when(F.col("_action") == "delete", 1).otherwise(0)).alias("del"),
            # change-side distinct keys (carries included — the pre-filter
            # node sees every merged row, fixing the MOR undercount)
            F.sum(F.when(F.col("_cn") >= 1, 1).otherwise(0)).alias("dedup"),
            *([F.sum(F.size("_pl")).alias("pat")] if has_patches else []),
        )
        if has_patches:
            # one row per key (its winner) plus one PARTIAL generation
            # per deduplicated patch; Generate is a narrow operator, so
            # the rows stay in the aggregate's bucket partition. Patch
            # rows carry _cn = 0: the ledger's per-bucket deduped count
            # is of full-image keys.
            def patch_row(e):
                val = {c: F.col(c) for c in (*key, "_bucket")}
                val.update({c: e[c] for c in (*payload, "seq")})
                val.update(deleted=F.lit(False), _action=F.lit("patch"),
                           _cn=F.lit(0).cast("long"))
                return F.struct(*[val[c].alias(c) for c in out_cols])

            merged = merged.select(F.inline(F.concat(
                F.array(F.struct(*out_cols)), F.transform("_pl", patch_row)
            )))
        # Only the delta rows are written; 'carry' (target won / seq
        # tie) rewrites nothing. Appended files join the fold at read
        # time.
        to_write = merged.where(F.col("_action") != "carry").select(*out_cols)

        if os.environ.get("MXETL_CAPTURE_PLAN"):
            # test/triage hook: stash the write plan so plan-shape tests can
            # assert exchange counts without re-deriving the fold
            global LAST_WRITE_PLAN
            LAST_WRITE_PLAN = to_write._jdf.queryExecution().executedPlan().toString()

        tag = f"{stream_id}-e{epoch_id:08d}{tag_suffix}"
        with _phase("merge_write"):
            new_files = table.write_data_files(
                to_write, tag, bucket_aligned=True, keep_bucket=True
            )
        # merges append deltas, which incremental compact() finds via this
        # flag
        for f in new_files:
            f["base"] = False

    metrics = obs.get
    stats.rows_inserted = int(metrics["ins"] or 0)
    stats.rows_updated = int(metrics["upd"] or 0)
    stats.rows_deleted = int(metrics["del"] or 0)
    stats.rows_deduped = int(metrics["dedup"] or 0)
    stats.rows_patched = int(metrics.get("pat") or 0)
    # (fold-arming properties are computed inside the commit loop below —
    # their arithmetic is relative to whichever parent the commit lands on)

    # Per-bucket ledger rows. NOTE on MOR semantics (ledger contract, see
    # schemas.LINEAGE): per-bucket counts are derived from WRITTEN delta
    # rows, so 'carry' outcomes contribute nothing per bucket (a bucket
    # touched only by carries gets an all-zero stat row, and rows_deduped
    # per bucket counts only written keys). The GLOBAL MergeStats fields
    # above are exact (carries observed pre-filter).
    per_bucket = []
    if collect_per_bucket_stats:
        with _phase("bucket_stats"):
            by_bucket = _per_bucket_counts(table, new_files, changes.sparkSession)
        now = time.time()
        for k in sorted(touched | set(by_bucket)):
            ins, upd, dele, dedup = by_bucket.get(k, (0, 0, 0, 0))
            per_bucket.append(
                {
                    "epoch_id": epoch_id,
                    "bucket": int(k),
                    "offset_lo": offset_lo,
                    "offset_hi": offset_hi,
                    "rows_in": int(in_counts.get(k, 0)),
                    "rows_deduped": dedup,
                    "rows_inserted": ins,
                    "rows_updated": upd,
                    "rows_deleted": dele,
                    "committed_at": now,
                }
            )
    stats.per_bucket = per_bucket

    # lineage (and any other pre-commit bookkeeping) persists BEFORE the
    # marker commit: a crash in between leaves orphan ledger rows that the
    # idempotent re-run overwrites — never a committed epoch with a missing
    # ledger (SURVEY.md §7 hard parts / ingest module docstring).
    if pre_commit is not None:
        pre_commit(stats)

    # -- 5. atomic commit: data files + epoch marker + evolved schema.
    # A lost optimistic race against a LOGICAL NO-OP commit (compact /
    # set-clustering / update-schema: same rows, same layout) rebases
    # CHEAPLY: the fold's output depends on logical row state only, so the
    # retry refreshes the expected parent and the fold-arming property
    # arithmetic — never the fold itself. Without this, online compaction
    # would starve a live ingest whose merge window exceeds the maintenance
    # cadence (each lost race re-running the whole fold via apply_epoch).
    # A rebucket (layout change — these delta files are bucket-aligned
    # under the stale layout) or a rival MERGE (row change) still surfaces
    # to the caller's full-recompute retry. When the batch evolves the
    # schema, a concurrent update-schema cannot be rebased over (the
    # evolved schema was merged against the stale parent and would clobber
    # the rival's widening), so it too surfaces.
    # schema=None when the batch evolved nothing: the commit then KEEPS the
    # live parent's schema, which is what makes rebasing over a concurrent
    # update-schema sound (committing the stale-parent schema verbatim
    # would clobber the rival's widening even though it "changed nothing")
    schema_changed = evolved.jsonValue() != parent.schema.jsonValue()
    allowed = ("compact", "set-clustering") + (
        () if schema_changed else ("update-schema",)
    )
    commit_parent = parent
    for _rebase_attempt in range(20):  # each retry needs a NEW rival commit
        # an all-carry batch adds no delta files: don't arm the read-time
        # fold for nothing
        props = None
        if new_files:
            props = {
                "mor_appends": int(
                    commit_parent.properties.get("mor_appends", 0)
                )
                + 1
            }
            if stats.rows_patched:
                props["patch_deltas"] = (
                    int(commit_parent.properties.get("patch_deltas", 0))
                    + stats.rows_patched
                )
        try:
            table.commit(
                new_files,
                set(),
                "merge-mor",
                stream_id,
                epoch_id,
                {
                    "offset_lo": offset_lo,
                    "offset_hi": offset_hi,
                    "rows_in": stats.rows_in,
                    "inserted": stats.rows_inserted,
                    "updated": stats.rows_updated,
                    "deleted": stats.rows_deleted,
                    "patched": stats.rows_patched,
                },
                schema=evolved if schema_changed else None,
                expected_parent=commit_parent.version,
                properties=props,
                marker_mode=marker_mode,
            )
            return stats
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            p = table.snapshot()
            if not table.noop_descends_from(commit_parent, p, allowed):
                raise
            commit_parent = p
    raise RuntimeError(
        "concurrent commit: lost 20 consecutive races to no-op commits — "
        "a maintenance writer is committing pathologically fast"
    )
