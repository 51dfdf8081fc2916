"""10^10-event-scale evidence: the log is a plan, epochs materialize only
their slice. Replays batches taken at offset 5x10^9 of a 10-billion-event
log definition and verifies them against a DuckDB oracle — O(slice) work,
exactly what a cluster replaying the full range would do per epoch."""

from __future__ import annotations

import time

import duckdb
import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.sources.changelog import generate_change_log, slice_change_log
from multiversx_etl_spark.streaming.ingest import apply_epoch, ensure_table

TEN_BILLION = 10_000_000_000


def test_slice_equals_filtered_full_log(spark):
    """slice_change_log(lo, hi) must be row-identical to filtering the full
    log — checked at a size where the full log is cheap to build."""
    full = generate_change_log(spark, 5000, num_repos=30).where(
        (F.col("offset") >= 1200) & (F.col("offset") < 1400)
    )
    sl = slice_change_log(spark, 5000, 1200, 1400, num_repos=30)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in sl.collect()}
    assert a == b and len(a) == 200


def test_replay_epochs_at_offset_5e9(spark, tmp_path):
    """Three 50k-event epochs taken at offset 5,000,000,000 of the 10^10
    log: merge them and check the final state against DuckDB's LWW fold of
    the same slices. Wall time must stay O(slice) — seconds, not hours."""
    lo = 5_000_000_000
    n, epochs = 50_000, 3
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)

    t0 = time.perf_counter()
    slice_paths = []
    for e in range(epochs):
        s = slice_change_log(
            spark, TEN_BILLION, lo + e * n, lo + (e + 1) * n,
            num_repos=5_000_000, partitions=8,
        )
        p = str(tmp_path / f"slice{e}")
        s.write.mode("overwrite").parquet(p)  # materialized ONLY for the oracle
        slice_paths.append(p)
        apply_epoch(
            table, spark.read.parquet(p), "huge", e,
            offset_lo=lo + e * n, offset_hi=lo + (e + 1) * n,
        )
    wall = time.perf_counter() - t0
    assert wall < 300, f"slice replay took {wall}s — not O(slice)"

    con = duckdb.connect()
    files = ", ".join(f"'{p}/*.parquet'" for p in slice_paths)
    want = set(
        con.execute(
            f"""
            WITH ranked AS (
              SELECT *, row_number() OVER (PARTITION BY repo, path
                                           ORDER BY seq DESC) AS rn
              FROM read_parquet([{files}]))
            SELECT repo, path, sha256(coalesce(content, ''))
            FROM ranked WHERE rn = 1 AND op <> 'delete'
            """
        ).fetchall()
    )
    con.close()
    got = {
        (r["repo"], r["path"], r["s"])
        for r in table.read()
        .select("repo", "path", F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_patch_slice_equals_filtered_full_log(spark):
    """The patch columns are pure functions of the offset id too: a
    patch-mix slice is row-identical to filtering the full patch-mix log."""
    full = generate_change_log(spark, 5000, num_repos=30, patch_fraction=0.5).where(
        (F.col("offset") >= 1200) & (F.col("offset") < 1400)
    )
    sl = slice_change_log(spark, 5000, 1200, 1400, num_repos=30, patch_fraction=0.5)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in sl.collect()}
    assert a == b and len(a) == 200
    assert any(r[2] == "patch" for r in a)  # the mix really contains patches


def test_patch_replay_epochs_at_offset_5e9(spark, tmp_path):
    """Partial-image epochs taken at offset 5,000,000,000 of the 10^10
    patch-mix log: column-level LWW state must match DuckDB's independent
    per-column fold of the same slices — still O(slice) work."""
    lo = 5_000_000_000
    n, epochs = 30_000, 2
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)

    t0 = time.perf_counter()
    slice_paths = []
    for e in range(epochs):
        s = slice_change_log(
            spark, TEN_BILLION, lo + e * n, lo + (e + 1) * n,
            num_repos=5_000_000, partitions=8, patch_fraction=0.4,
        )
        p = str(tmp_path / f"pslice{e}")
        s.write.mode("overwrite").parquet(p)  # materialized ONLY for the oracle
        slice_paths.append(p)
        apply_epoch(
            table, spark.read.parquet(p), "huge", e,
            offset_lo=lo + e * n, offset_hi=lo + (e + 1) * n,
        )
    wall = time.perf_counter() - t0
    assert wall < 300, f"patch slice replay took {wall}s — not O(slice)"
    assert int(table.snapshot().properties["patch_deltas"]) > 0

    con = duckdb.connect()
    files = ", ".join(f"'{p}/*.parquet'" for p in slice_paths)
    # the per-column fold below takes one row per (key, seq): two events
    # with the same key and seq but different payloads would leave the
    # winner to arg_max's tie-break, so the oracle refuses them outright
    (ties,) = con.execute(
        f"""
        SELECT count(*) FROM (
          SELECT repo, path, seq FROM read_parquet([{files}]) GROUP BY 1, 2, 3
          HAVING count(DISTINCT {{'op': op, 'lang': lang, 'content': content}}) > 1)
        """
    ).fetchone()
    assert ties == 0
    want = {
        (r[0], r[1]): r[2:]
        for r in con.execute(
            f"""
            WITH ev AS (SELECT * FROM read_parquet([{files}])),
            agg AS (
              SELECT repo, path,
                arg_max(op, seq) FILTER (WHERE op <> 'patch') AS op,
                arg_max_null(lang, seq)
                  FILTER (WHERE op <> 'patch' OR lang IS NOT NULL) AS lang,
                arg_max_null(content, seq)
                  FILTER (WHERE op <> 'patch' OR content IS NOT NULL) AS content
              FROM ev GROUP BY 1, 2
            )
            SELECT repo, path, lang, sha256(coalesce(content, ''))
            FROM agg WHERE op IS NOT NULL AND op <> 'delete'
            """
        ).fetchall()
    }
    con.close()
    got = {
        (r["repo"], r["path"]): (r["lang"], r["s"])
        for r in table.read()
        .select("repo", "path", "lang",
                F.sha2(F.coalesce("content", F.lit("")), 256).alias("s"))
        .collect()
    }
    assert got == want and len(got) > 0
