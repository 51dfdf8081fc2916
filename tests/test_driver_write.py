"""The MERGE's two delta-write paths: a small measured batch is collected as
one Arrow table and written by the driver (one pyarrow file per pid); every
other batch goes through Spark's file writer. Both must leave the same
table: state, merge stats, per-bucket ledger and manifest entries. The
batch profile that picks the path is one aggregate, whether a batch is
counted on its own or replay counts its whole span at once."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from multiversx_etl_spark.lake.table import bucket_to_pid
from multiversx_etl_spark.operators import merge as merge_mod
from multiversx_etl_spark.operators.merge import _row_bytes, merge_batch, profile_batch
from multiversx_etl_spark.schemas import CHANGE_EVENTS
from multiversx_etl_spark.sources.changelog import read_offset_range
from multiversx_etl_spark.streaming import ingest as ingest_mod
from multiversx_etl_spark.streaming.ingest import (
    apply_epoch,
    ensure_table,
    replay,
    stream_ingest,
)

TS = dt.datetime(2024, 5, 1, 12, 0, 0)


def _epochs():
    """Four epochs over 40 keys: inserts; updates, deletes, a tombstone and
    patches (one a redelivery, one all-NULL); a stale all-carry epoch; and a
    resurrection with a patch on top."""
    keys = [(f"r{i % 5}", f"p{i}") for i in range(40)]
    e0 = [(i, 10, "insert", r, p, f"c{i}", "py", f"body{i}", TS)
          for i, (r, p) in enumerate(keys)]
    e1 = []
    for i, (r, p) in enumerate(keys[:20]):
        if i % 4 == 0:
            e1.append((0, 20, "delete", r, p, None, None, None, None))
        elif i % 4 == 1:
            e1.append((0, 20, "update", r, p, f"u{i}", "go", None, TS))
        else:
            e1.append((0, 20 + i, "patch", r, p, None, f"l{i}", None, None))
    e1 += [
        (0, 21, "patch", "r1", "p1", None, None, "pb", None),
        (0, 21, "patch", "r1", "p1", None, None, "pb", None),  # redelivery
        (0, 50, "patch", "r2", "p2", None, None, None, None),  # all-NULL
        (0, 30, "delete", "gone", "x", None, None, None, None),  # tombstone
    ]
    e2 = [(0, 5, "update", r, p, "stale", "c", "stale", TS) for r, p in keys[20:30]]
    e3 = [(0, 40, "insert", "r0", "p0", "back", "rs", "again", TS),
          (0, 41, "patch", "r0", "p0", None, "zz", None, None)]
    out, off = [], 0
    for ep in (e0, e1, e2, e3):
        rows = []
        for r in ep:
            rows.append((off, *r[1:]))
            off += 1
        out.append(rows)
    return out


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run(spark, root, layout, on_driver, monkeypatch):
    """Apply every epoch; return the comparable record of each path."""
    if not on_driver:
        monkeypatch.setattr(merge_mod, "_DRIVER_WRITE_MAX_BYTES", -1)
    table = ensure_table(spark, root, num_buckets=8, layout=layout)
    record = []
    for epoch, rows in enumerate(_epochs()):
        before = table.snapshot()
        batch = spark.createDataFrame(rows, CHANGE_EVENTS)
        stats = apply_epoch(table, batch, "s", epoch, rows[0][0], rows[-1][0] + 1)
        assert stats.write == ("driver" if on_driver else "spark")
        stats.write = None
        for b in stats.per_bucket:
            b.pop("committed_at")
        entries = sorted(
            (f["pid"], f["rows"], sorted((f.get("stats") or {}).items()))
            for f in table.snapshot().added_files(before)
        )
        record.append((stats, entries))
    state = _rows(table.read())
    raw = _rows(table.read(raw=True, with_action=True).drop("_bucket", "_cn"))
    monkeypatch.undo()
    return record, state, raw, table


@pytest.mark.parametrize("layout", ["xxhash", "spark"])
def test_driver_and_spark_writes_leave_the_same_table(spark, tmp_path, monkeypatch, layout):
    drv = _run(spark, str(tmp_path / "driver"), layout, True, monkeypatch)
    spk = _run(spark, str(tmp_path / "spark"), layout, False, monkeypatch)
    assert drv[:3] == spk[:3]
    record = drv[0]
    assert record[2][1] == []  # the stale epoch is all carry: no file
    assert record[1][0].rows_patched > 0 and record[1][0].rows_deleted > 0
    # every driver-written file is zstd and holds only its pid's buckets
    table = drv[3]
    pid_of = bucket_to_pid(spark, 8, layout)
    for f in table.snapshot().files:
        pf = pq.ParquetFile(os.path.join(table.root, f["path"]))
        assert pf.metadata.row_group(0).column(0).compression == "ZSTD"
        buckets = pf.read(columns=["_bucket"])["_bucket"].to_pylist()
        assert {pid_of[b] for b in buckets} == {f["pid"]}


def test_crash_after_first_driver_file_reruns_exactly(spark, tmp_path, monkeypatch):
    """A crash after the driver wrote its first file and before the commit
    leaves the table at its parent; the rerun of the epoch clears the tag
    directory and gives exact state."""
    e0, e1 = _epochs()[:2]
    ref = ensure_table(spark, str(tmp_path / "ref"), num_buckets=8)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    for t in (ref, table):
        apply_epoch(t, spark.createDataFrame(e0, CHANGE_EVENTS), "s", 0, 0, 40)
    apply_epoch(ref, spark.createDataFrame(e1, CHANGE_EVENTS), "s", 1, 40, 64)

    write = pq.write_table
    calls = []

    def crash_after_first(tbl, where, **kw):
        write(tbl, where, **kw)
        calls.append(where)
        raise RuntimeError("crash after the first data file")

    monkeypatch.setattr(pq, "write_table", crash_after_first)
    v = table.current_version()
    with pytest.raises(RuntimeError, match="crash after the first"):
        apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "s", 1, 40, 64)
    monkeypatch.undo()
    assert len(calls) == 1 and os.path.exists(calls[0])
    assert table.current_version() == v and not table.is_epoch_committed("s", 1)

    stats = apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "s", 1, 40, 64)
    assert stats.write == "driver" and not os.path.exists(calls[0])
    assert _rows(table.read()) == _rows(ref.read())
    tag_dir = os.path.dirname(calls[0])
    live = {os.path.join(table.root, f["path"]) for f in table.snapshot().files}
    assert {os.path.join(tag_dir, n) for n in os.listdir(tag_dir)} <= live


def _total(rows):
    """Exact payload bytes of CHANGE_EVENTS rows: string octets plus the
    fixed widths of offset, seq and event_ts."""
    return sum(8 * 3 + sum(len(v.encode()) for v in r[2:8] if v) for r in rows)


def test_write_path_follows_the_measured_bound(spark, tmp_path, monkeypatch):
    """A direct call is measured: a bound equal to the batch's exact total
    writes from the driver, one byte less through Spark, and a nested
    payload column (no cheap width) through Spark whatever the bound."""
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    rows = _epochs()[0]
    exact = _total(rows)
    for epoch, (bound, want) in enumerate([(exact, "driver"), (exact - 1, "spark")]):
        monkeypatch.setattr(merge_mod, "_DRIVER_WRITE_MAX_BYTES", bound)
        batch = spark.createDataFrame(rows, CHANGE_EVENTS)
        stats = merge_batch(table, batch, "s", epoch, 0, 40)
        assert stats.write == want
    monkeypatch.setattr(merge_mod, "_DRIVER_WRITE_MAX_BYTES", 1 << 40)
    nested = spark.createDataFrame(rows, CHANGE_EVENTS).withColumn(
        "tags", F.array(F.col("lang"))
    )
    stats = merge_batch(table, nested, "s", 2, 0, 40)
    assert stats.write == "spark" and stats.rows_in == len(rows)


def test_row_bytes_refuses_nested_payloads():
    nested = T.StructType([T.StructField("offset", T.LongType()),
                           T.StructField("tags", T.ArrayType(T.StringType()))])
    assert _row_bytes(nested) is None
    assert _row_bytes(CHANGE_EVENTS) is not None


def test_stream_handler_measures_batches_and_replay_stays_on_spark(
    spark, tmp_path, monkeypatch
):
    """The stream handler's byte total is exact (string octets plus fixed
    widths): a bound equal to the small batch's total sends it to the
    driver and the larger batch to Spark. Replay reports no total."""
    e0, e1 = _epochs()[:2]
    log = str(tmp_path / "log")
    os.makedirs(log)
    for i, rows in enumerate((e0, e1)):
        out = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, CHANGE_EVENTS).coalesce(1).write.parquet(out)
        (part,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
        os.rename(os.path.join(out, part), os.path.join(log, f"f{i}.parquet"))
    small, large = sorted([(_total(e0), len(e0)), (_total(e1), len(e1))])
    assert small[0] < large[0]
    monkeypatch.setattr(merge_mod, "_DRIVER_WRITE_MAX_BYTES", small[0])
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    seen = []
    stream_ingest(spark, log, table, str(tmp_path / "ck"), max_files_per_trigger=1,
                  on_epoch=lambda _e, st: seen.append((st.rows_in, st.write)))
    assert sorted(seen) == sorted([(small[1], "driver"), (large[1], "spark")])

    rtable = ensure_table(spark, str(tmp_path / "r"), num_buckets=8)
    summary = replay(spark.read.parquet(log), rtable, interval_size=30)
    assert summary.stats and {st.write for st in summary.stats} == {"spark"}
    state = _rows(table.read())
    assert state == _rows(rtable.read())
    assert state


@pytest.mark.parametrize("layout", ["xxhash", "spark"])
def test_replay_span_profile_equals_each_epochs_own(spark, tmp_path, monkeypatch, layout):
    """Replay profiles every pending epoch in one pass over its span; each
    epoch's profile must equal the one its batch gets counted on its own:
    rows per bucket, patch rows, NULL-key rows and offsets (replay reads no
    content, so it carries no byte total)."""
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENTS])
    rows = [r for ep in _epochs() for r in ep]
    off = len(rows)
    rows += [
        (off, 60, "insert", None, "n0", "c", "py", "x", TS),
        (off + 1, 61, "patch", "r3", None, None, "go", None, None),
        (off + 2, 62, "update", None, None, "c", "py", "y", TS),
    ]
    log = spark.createDataFrame(rows, nullable)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8, layout=layout)
    seen = []
    real = ingest_mod.apply_epoch

    def recording(tbl, batch, stream_id, epoch_id, lo, hi, **kw):
        seen.append((lo, hi, kw["profile"]))
        return real(tbl, batch, stream_id, epoch_id, lo, hi, **kw)

    monkeypatch.setattr(ingest_mod, "apply_epoch", recording)
    replay(log, table, interval_size=30)
    assert len(seen) == 3
    m = table.snapshot()
    for lo, hi, span in seen:
        own = profile_batch(read_offset_range(log, lo, hi), m)
        assert span.payload_bytes is None and own.payload_bytes is not None
        assert (span.rows_per_bucket, span.patch_rows, span.null_key_rows,
                span.offset_lo, span.offset_hi) == (
                own.rows_per_bucket, own.patch_rows, own.null_key_rows,
                own.offset_lo, own.offset_hi)
    assert sum(p.null_key_rows for _, _, p in seen) == 3
    assert sum(p.patch_rows for _, _, p in seen) == sum(r[2] == "patch" for r in rows)
