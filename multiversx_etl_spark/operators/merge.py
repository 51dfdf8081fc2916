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
   That job takes one of two paths, derived, never chosen: a batch
   counted on its own is measured (``profile_batch``: its payload bytes
   ride the same aggregate as its per-bucket counts), and a measured
   batch at or under ``_DRIVER_WRITE_MAX_BYTES`` is collected as one
   Arrow table and written by the driver, one pyarrow file per pid.
   Every other batch goes through Spark's file writer, whose per-task
   fixed cost only pays off on big batches: large ones, ones with a
   nested payload column (no cheap width), and replay's epochs, whose
   one span precount reads no content. Files, manifest entries and the
   commit are the same either way.

Driver cost: each per-epoch step is built as SQL text (one ``selectExpr``
or ``F.expr``, one JVM call) — a Column tree costs a py4j round trip per
node: ~2,600 round trips per tail epoch's plan build before, under 200 now.

Idempotence: re-applying the same batch yields seq ties, resolved as 'carry'
(no-op) — a replayed MERGE changes nothing (the epoch marker normally
short-circuits it earlier; this is defense in depth).
"""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql.types import StructType

from multiversx_etl_spark.lake.table import LakeTable, bucket_sql, repartition_for_write
from multiversx_etl_spark.lake.table import quote_ident as q
from multiversx_etl_spark.sources.changelog import fold_for_spec, scan_bucket_spec

#: written-row ceiling for deriving per-bucket ledger stats on the driver
#: with pyarrow (3 narrow columns, ~ms) instead of a Spark job (~0.3 s fixed
#: scheduling overhead per epoch — the round-1 per-epoch serial floor).
_DRIVER_STATS_MAX_ROWS = 4_000_000

#: payload-byte ceiling (``BatchProfile.payload_bytes``) for writing the
#: MERGE delta from the driver: one Arrow collect and one pyarrow file per
#: pid instead of Spark's file-writer job, whose tasks each deserialize
#: the job description (Hadoop conf included) — ~0.2 s of CPU per epoch
#: however few rows it writes.
#: Measured crossover (one stream_ingest batch, local[4], 30% patches,
#: median of 5 or 3 interleaved warm runs, driver/spark wall): 1k events
#: (0.23 MB) 0.88, 20k (4.6 MB) 0.92, 100k (23 MB) 0.93, 300k (69 MB)
#: 1.05, 600k (138 MB) 1.12. 32 MiB sits below the crossover and far
#: below spark.driver.maxResultSize (1 GiB by default).
_DRIVER_WRITE_MAX_BYTES = 32 << 20


#: merge stats over ``_action``/``_cn`` rows (``dedup``: change-side distinct
#: keys), counted by the write's Observation and per bucket after the write
_COUNTS = [
    "sum(CASE WHEN _action = 'insert' THEN 1 ELSE 0 END) AS ins",
    "sum(CASE WHEN _action = 'update' THEN 1 ELSE 0 END) AS upd",
    "sum(CASE WHEN _action = 'delete' THEN 1 ELSE 0 END) AS del",
    "sum(CASE WHEN _cn >= 1 THEN 1 ELSE 0 END) AS dedup",
]


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
        masks = [pc.equal(t["_action"], a) for a in ("insert", "update", "delete")]
        masks.append(pc.greater_equal(t["_cn"], 1))
        counts = [
            np.bincount(bucket[m.combine_chunks().to_numpy(zero_copy_only=False)], minlength=nb)
            for m in masks
        ]
        return {int(b): tuple(int(c[b]) for c in counts) for b in np.nonzero(sum(counts))[0]}
    rows = (
        spark.read.parquet(*paths).groupBy("_bucket").agg(*map(F.expr, _COUNTS)).collect()
    )
    return {
        int(r["_bucket"]): (int(r["ins"]), int(r["upd"]), int(r["del"]), int(r["dedup"]))
        for r in rows
    }

#: log bookkeeping columns that never enter the target table.
_LOG_ONLY = ("offset", "op")

#: last MERGE write plan (set only under MXETL_CAPTURE_PLAN=1 — see below).
LAST_WRITE_PLAN: str | None = None


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
    #: the physical fold that ran: "union" or "join" (merge_batch derives
    #: it; sources/changelog.py fold_for_spec holds the rule); None when
    #: no fold ran (an empty batch, or an epoch a rival already committed)
    fold: str | None = None
    #: why a layout='spark' table took the union fold (patches, patch
    #: debt, NULL keys, or the change side's bucket-spec mismatch); None
    #: for a join epoch and for xxhash tables, which never take the join
    fold_reason: str | None = None
    #: the delta write that ran: "driver" (one Arrow collect, pyarrow
    #: files) or "spark" (Spark's file-writer job); None when no write ran
    write: str | None = None


@dataclass
class BatchProfile:
    """What the MERGE knows about a batch before it folds it, all from one
    aggregate (``batch_profiles``). ``rows_per_bucket`` is the touched set
    that prunes the target read and the ledger's per-bucket ``rows_in``;
    ``patch_rows`` (op='patch' partial images) arms the patch machinery and,
    with ``null_key_rows``, keeps a spark-layout batch off the join fold;
    ``payload_bytes`` picks the write path; the offsets span the rows
    (``offset_hi`` exclusive; 0 and 0 without rows or an ``offset``
    column). ``payload_bytes`` is None for a batch that was not measured
    or has a column without a cheap width: it writes through Spark."""

    rows_per_bucket: dict[int, int] = field(default_factory=dict)
    patch_rows: int = 0
    null_key_rows: int = 0
    payload_bytes: int | None = None
    offset_lo: int = 0
    offset_hi: int = 0

    @property
    def rows(self) -> int:
        return sum(self.rows_per_bucket.values())


#: bytes per value of the fixed-width column types (``_row_bytes``)
_FIXED_WIDTH = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.LongType: 8, T.FloatType: 4, T.DoubleType: 8, T.DateType: 4,
    T.TimestampType: 8, T.TimestampNTZType: 8, T.DecimalType: 16,
}


def _row_bytes(schema: StructType) -> str | None:
    """Payload bytes of one change row, as SQL text: the ``octet_length``
    of each string and binary value plus the width of each fixed-width
    column. None when a column is an array, map, struct or any other type
    without a cheap width: such a batch reports no total, and its MERGE
    writes through Spark (``_DRIVER_WRITE_MAX_BYTES``)."""
    fixed, var = 0, []
    for f in schema.fields:
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            var.append(f"coalesce(octet_length({q(f.name)}), 0)")
        elif type(f.dataType) in _FIXED_WIDTH:
            fixed += _FIXED_WIDTH[type(f.dataType)]
        else:
            return None
    return " + ".join([str(fixed), *var])


def _sql_type(dt) -> str:
    """``dt`` as SQL type text for a ``CAST`` (nested field names quoted)."""
    if isinstance(dt, StructType):
        fields = ", ".join(f"{q(f.name)}: {_sql_type(f.dataType)}" for f in dt.fields)
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def batch_profiles(
    df: DataFrame, manifest, group: Column | None = None, measure: bool = True
) -> dict:
    """The one aggregate behind every ``BatchProfile``: one Spark job
    grouped by ``manifest``'s bucket and, when given, by ``group`` (replay
    profiles every pending epoch of its span at once, grouped by each
    offset's epoch). Returns ``{group value: profile}`` (``{None: profile}``
    ungrouped); a group without rows has no entry. ``measure=False`` leaves
    ``payload_bytes`` None and the aggregate reads no payload column."""
    schema = df.schema
    null_key = " OR ".join(f"{q(k)} IS NULL" for k in manifest.key_columns)
    aggs = ["count(*) AS n", f"count(CASE WHEN {null_key or 'false'} THEN 1 END) AS nk"]
    if "op" in schema.fieldNames():
        aggs.append("count(CASE WHEN op = 'patch' THEN 1 END) AS p")
    if "offset" in schema.fieldNames():
        aggs += ["min(`offset`) AS lo", "max(`offset`) AS hi"]
    row_bytes = _row_bytes(schema) if measure else None
    if row_bytes is not None:
        aggs.append(f"sum({row_bytes}) AS b")
    keys = [manifest.bucket_expr().alias("_bucket")]
    if group is not None:
        keys.append(group.alias("_group"))
    groups: dict = {}
    for r in df.groupBy(*keys).agg(*map(F.expr, aggs)).collect():
        d = r.asDict()
        groups.setdefault(d.get("_group"), []).append(d)
    out = {}
    for g, ds in groups.items():
        lo = [d["lo"] for d in ds if d.get("lo") is not None]
        hi = [d["hi"] + 1 for d in ds if d.get("hi") is not None]
        out[g] = BatchProfile(
            {d["_bucket"]: d["n"] for d in ds},
            sum(d.get("p", 0) for d in ds),
            sum(d["nk"] for d in ds),
            None if row_bytes is None else sum(d["b"] for d in ds),
            min(lo, default=0),
            max(hi, default=0),
        )
    return out


def profile_batch(df: DataFrame, manifest) -> BatchProfile:
    """The measured profile of one batch counted on its own (one job)."""
    return batch_profiles(df, manifest).get(None) or BatchProfile()


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
    if isinstance(dt, StructType):
        return StructType(
            [T.StructField(f.name, _fully_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_fully_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_fully_nullable(dt.keyType), _fully_nullable(dt.valueType), True)
    return dt


def evolve_schema(
    target_schema: StructType, changes_schema: StructType, key_columns: list[str]
) -> StructType:
    """Union of the target schema and the change-set's payload columns —
    new columns append (old files read them as NULL), dropped columns stay
    (new rows carry NULL). The reference's analog is out-of-band ``bq
    update`` schema pushes (maintenance/schemas.md:13-28); here it's part of
    the same atomic commit."""
    existing = {f.name for f in target_schema.fields}
    out = StructType(list(target_schema.fields))
    for f in changes_schema.fields:
        if f.name in existing or f.name in _LOG_ONLY or f.name.startswith("_"):
            continue  # engine-internal (_bucket etc.) and log bookkeeping stay out
        out.add(f.name, _fully_nullable(f.dataType), True)
    return out


def _derive_fold(
    parent, changes: DataFrame, profile: BatchProfile, patch_outstanding: bool
) -> tuple[str, str | None]:
    """The fold this batch gets, with the reason for a spark-layout union
    (``MergeStats.fold``/``fold_reason``). xxhash tables take the union
    fold without looking at the plan. Otherwise the join fold needs
    ``fold_for_spec`` to agree on the change side's scanned bucket spec,
    and a batch with no patches, no patch debt and no NULL keys (all three
    counted in the batch's profile): per-column patch generations need the
    union machinery, and NULL-keyed rows under a plain equi-join would
    mis-ledger (table state would stay exact — the MOR read fold resolves
    per key regardless — but A17 reconciliation must be exact too).
    Everything is detected, never assumed."""
    if parent.layout != "spark":
        return "union", None
    fold, reason = fold_for_spec(
        scan_bucket_spec(changes), layout=parent.layout,
        num_buckets=parent.num_buckets, key_columns=parent.key_columns,
    )
    if fold != "join":
        return fold, reason
    if profile.patch_rows:
        return "union", "batch carries patch events"
    if patch_outstanding:
        return "union", "table carries patch debt (compact to clear it)"
    if profile.null_key_rows:
        return "union", "batch carries NULL keys"
    return "join", None


def merge_batch(
    table: LakeTable,
    changes: DataFrame,
    stream_id: str,
    epoch_id: int,
    offset_lo: int = 0,
    offset_hi: int = 0,
    collect_per_bucket_stats: bool = True,
    profile: BatchProfile | None = None,
    pre_commit: "Callable[[MergeStats], None] | None" = None,
    marker_mode: str = "contiguous",
    tag_suffix: str = "",
) -> MergeStats:
    """Apply one micro-batch of change events and commit atomically.

    ``profile`` is the batch's ``BatchProfile``, from the caller's own
    aggregate: the stream handler profiles its batch once, and replay
    profiles every pending epoch in one pass over the log. Left None, the
    batch is counted on its own here (``profile_batch``, one tiny job). A
    partial-image row folded as a full image would null out the columns it
    meant to keep, so patch rows are always counted, never guessed.

    The write path follows the profile: a batch counted on its own is
    measured, and a measured payload of at most ``_DRIVER_WRITE_MAX_BYTES``
    writes the delta from the driver. A batch with a nested payload column,
    a larger one, or one profiled without its payload (replay's precount)
    uses Spark's writer. ``stats.write`` records which ran.

    The fold's physical shape is derived, never chosen (``_derive_fold``;
    the rule is sources/changelog.py ``fold_for_spec``); ``stats.fold``
    records the one that ran:

    - ``'union'``: union target+changes, ONE shuffle, ONE hash aggregate,
      ONE write (module docstring steps 2 and 4). Works with every layout
      and every batch; partial-image patch generations leave through the
      same aggregate and write as the per-key winners.
    - ``'join'``: the ZERO-EXCHANGE fold: dedup the change side with a
      partition-local aggregate, fold the (narrow, catalog-staged) target
      side likewise, left-outer-join the winners — every stage already
      satisfies HashPartitioning(key, B), so Catalyst inserts NO Exchange
      anywhere and the bucket-aligned file write consumes the scan
      partitioning directly. The written files' purity is re-verified from
      parquet footers (lake/table.py _assert_bucket_purity): a violated
      assumption is a loud error, never silent pid corruption.
    """
    parent = table.snapshot()
    key = parent.key_columns
    stats = MergeStats()

    # -- 1. rows_in per bucket + touched-bucket set, patch and NULL-key
    #    rows (one tiny agg job, unless the caller profiled the batch).
    if profile is None:
        profile = profile_batch(changes, parent)
    touched = set(profile.rows_per_bucket)
    stats.rows_in = profile.rows
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
    #    Every step below is built as SQL text: one selectExpr/F.expr per
    #    step is one JVM call, where a Column tree costs one per node.
    change_schema = changes.schema
    evolved = evolve_schema(parent.schema, change_schema, key)
    payload = [
        f.name for f in evolved.fields if f.name not in key and f.name not in ("seq", "deleted")
    ]
    bucket = bucket_sql(key, parent.num_buckets, parent.layout)
    qkey = [q(k) for k in key]

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
    has_patches = bool(profile.patch_rows)

    def aligned(df: DataFrame, is_change: bool) -> DataFrame:
        # the target side reads only (key, seq, deleted[, _action]): NULL payload
        have = change_schema.fieldNames() if is_change else ()
        cols = [*qkey, "CAST(seq AS BIGINT) AS seq"]
        cols.append("op = 'delete' AS deleted" if is_change else "deleted")
        for p in payload:
            src = q(p) if p in have else "NULL"
            cols.append(f"CAST({src} AS {_sql_type(evolved[p].dataType)}) AS {q(p)}")
        # patches (target generations and change-side events alike) must
        # not win the full-image fold: they are partial
        if is_change and has_patches:
            cols.append("op = 'patch' AS _is_patch")
        elif not is_change and patch_outstanding:
            cols.append("coalesce(_action = 'patch', false) AS _is_patch")
        else:
            cols.append("false AS _is_patch")
        cols += [f"{str(is_change).lower()} AS _is_change", f"{bucket} AS _bucket"]
        return df.selectExpr(*cols)

    stats.fold, stats.fold_reason = _derive_fold(
        parent, changes, profile, patch_outstanding
    )

    with contextlib.ExitStack() as stack:
        if stats.fold == "join":
            # -- 3'. ZERO-EXCHANGE fold (docstring, ``'join'``): the
            #    change side arrives from a catalog-bucketed log scan and
            #    the target side is the snapshot's live files catalog-staged
            #    (lake/table.py staged_bucketed_target) — both report
            #    HashPartitioning(key, B), so the two aggregates are
            #    partition-local, the left-outer join needs no exchange,
            #    and the write below consumes the scan partitioning
            #    (partition index == bucket == pid). Only change-touched
            #    keys can produce output (carries are never written), hence
            #    LEFT outer with the deduped change side driving.
            qpay = ", ".join(q(p) for p in ["seq", "deleted", *payload])
            ch_w = aligned(changes, True).groupBy(*key).agg(
                F.expr(f"max(struct({qpay})) AS _w"), F.expr("count(*) AS _cn")
            )
            tgt = stack.enter_context(
                table.staged_bucketed_target(parent, touched, [*key, "seq", "deleted"])
            )
            tg_w = tgt.groupBy(*key).agg(F.expr("max(struct(seq, deleted)) AS _tw"))
            merged = ch_w.join(tg_w, on=list(key), how="left")
            won_change = "_tw IS NULL OR _w.seq > _tw.seq"
        else:
            # Only the target's narrow (key, seq, deleted) projection is
            # consulted — target content never moves. raw=True returns
            # every physical generation; the union-agg folds them. With
            # patch generations outstanding the projection also carries
            # _action, so the fold can exclude them (still narrow).
            target = table.read(buckets=touched, raw=True, with_action=patch_outstanding)
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
            wpay = ", ".join(q(p) for p in payload)
            aggs = [
                "max(CASE WHEN NOT _is_patch THEN struct(seq, _is_change, deleted, "
                f"{wpay + ', ' if payload else ''}_bucket) END) AS _w",
                "max(CASE WHEN NOT _is_change AND NOT _is_patch"
                " THEN struct(seq, deleted) END) AS _tw",
                "count(CASE WHEN _is_change AND NOT _is_patch THEN 1 END) AS _cn",
            ]
            # a key whose only generations are (orphan) patch partials
            # has no full-image winner: nothing to classify — the read
            # fold likewise hides such keys — but its new patches are
            # still written
            keep = "_w IS NOT NULL"
            if has_patches:
                # an all-NULL patch is a no-op: drop it (and with NO
                # payload columns at all, every patch is one)
                some_payload = " OR ".join(f"{q(p)} IS NOT NULL" for p in payload)
                aggs.append(
                    "array_sort(collect_list(CASE WHEN _is_change AND _is_patch"
                    f" AND ({some_payload or 'false'})"
                    f" THEN struct(seq{', ' + wpay if payload else ''}) END)) AS _pl"
                )
                keep += " OR size(_pl) > 0"
            merged = (
                repartition_for_write(both, parent.num_buckets, key, parent.layout)
                .groupBy(*key, "_bucket")
                .agg(*map(F.expr, aggs))
                .where(keep)
            )
            # NULL winner = patch-only key: classified 'carry' (not written)
            won_change = "coalesce(_w._is_change, false)"
        was_live = "_tw IS NOT NULL AND NOT _tw.deleted"
        action = (
            f"CASE WHEN NOT ({won_change}) THEN 'carry'"
            # seq tie = the same event re-applied (at-least-once replay): no-op
            " WHEN _tw IS NOT NULL AND _w.seq = _tw.seq THEN 'carry'"
            f" WHEN _w.deleted AND {was_live} THEN 'delete'"
            " WHEN _w.deleted THEN 'tombstone'"  # delete of an absent/dead key
            f" WHEN {was_live} THEN 'update'"
            " ELSE 'insert' END"  # new key, or resurrection of a tombstone
        )
        # classify, projecting the written columns in file order
        out_cols = [*key, *payload, "seq", "deleted", "_action", "_cn", "_bucket"]
        classify = [
            *qkey,
            *[f"_w.{q(p)} AS {q(p)}" for p in payload],
            "_w.seq AS seq", "_w.deleted AS deleted",
            f"{action} AS _action", "_cn",
            "_bucket" if stats.fold == "union" else f"{bucket} AS _bucket",
        ]
        if has_patches:
            # exact redeliveries collapse per (key, seq): the list is
            # sorted, so the LAST entry of each seq run is its max struct
            classify.append(
                "filter(_pl, (_e, _i) -> coalesce(_e.seq != CASE WHEN"
                " _i + 1 < size(_pl) THEN element_at(_pl, _i + 2).seq END,"
                " true)) AS _pl"
            )
        merged = merged.selectExpr(*classify)

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
        #    The Observation sees every merged row, carries included
        #    (change-side distinct keys are exact: no MOR undercount).
        obs = Observation(f"merge-{stream_id}-{epoch_id}")
        metrics = _COUNTS + (["sum(size(_pl)) AS pat"] if has_patches else [])
        merged = merged.observe(obs, *map(F.expr, metrics))
        if has_patches:
            # one row per key (its winner) plus one PARTIAL generation
            # per deduplicated patch; Generate is a narrow operator, so
            # the rows stay in the aggregate's bucket partition. Patch
            # rows carry _cn = 0: the ledger's per-bucket deduped count
            # is of full-image keys.
            patch = {c: q(c) for c in (*key, "_bucket")}
            patch.update({c: f"_e.{q(c)}" for c in (*payload, "seq")})
            patch.update(deleted="false", _action="'patch'", _cn="CAST(0 AS BIGINT)")
            patch_row = ", ".join(f"{patch[c]} AS {q(c)}" for c in out_cols)
            winner_row = ", ".join(q(c) for c in out_cols)
            merged = merged.selectExpr(
                f"inline(concat(array(struct({winner_row})),"
                f" transform(_pl, _e -> struct({patch_row}))))"
            )
        # Only the delta rows are written; 'carry' (target won / seq
        # tie) rewrites nothing. Appended files join the fold at read
        # time.
        to_write = merged.where("_action != 'carry'")

        if os.environ.get("MXETL_CAPTURE_PLAN"):
            # test/triage hook: stash the write plan so plan-shape tests can
            # assert exchange counts without re-deriving the fold
            global LAST_WRITE_PLAN
            LAST_WRITE_PLAN = to_write._jdf.queryExecution().executedPlan().toString()

        tag = f"{stream_id}-e{epoch_id:08d}{tag_suffix}"
        nbytes = profile.payload_bytes
        on_driver = nbytes is not None and nbytes <= _DRIVER_WRITE_MAX_BYTES
        stats.write = "driver" if on_driver else "spark"
        new_files = table.write_data_files(
            to_write, tag, bucket_aligned=True, keep_bucket=True,
            on_driver=on_driver,
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
                    "rows_in": int(profile.rows_per_bucket.get(k, 0)),
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
