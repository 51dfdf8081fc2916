"""Partial-image (op='patch') CDC events: Debezium-style updates that carry
only the changed columns (NULL payload = keep the stored value), folded with
COLUMN-level last-writer-wins. Verified against an independent DuckDB
per-column fold of the raw log, across batch replay, redelivery, compaction,
the streaming face, and replication."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.sources.changelog import generate_change_log, write_log_parquet
from multiversx_etl_spark.streaming.ingest import ensure_table, replay, stream_ingest

N_EVENTS = 3000


@pytest.fixture(scope="module")
def patch_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("patchlog") / "log")
    log = generate_change_log(
        spark, N_EVENTS, num_repos=20, paths_per_repo=25, patch_fraction=0.5
    )
    write_log_parquet(log, path, files=8)
    return path


def oracle_state(log_path: str):
    """Independent DuckDB per-column LWW fold: full images set every column
    at their seq (NULLs included), patches set only their non-null columns,
    liveness comes from the full-image winner alone."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH ev AS (SELECT * FROM read_parquet('{log_path}/*.parquet')),
        agg AS (
          SELECT repo, path,
            max(CASE WHEN op <> 'patch'
                THEN {{'seq': seq, 'op': op}} END) AS b,
            max(CASE WHEN op <> 'patch' OR "commit" IS NOT NULL
                THEN {{'seq': seq, 'v': "commit"}} END) AS c_commit,
            max(CASE WHEN op <> 'patch' OR lang IS NOT NULL
                THEN {{'seq': seq, 'v': lang}} END) AS c_lang,
            max(CASE WHEN op <> 'patch' OR content IS NOT NULL
                THEN {{'seq': seq, 'v': content}} END) AS c_content
          FROM ev GROUP BY 1, 2
        )
        SELECT repo, path,
               greatest(b.seq, c_commit.seq, c_lang.seq, c_content.seq) AS seq,
               c_commit.v AS commit, c_lang.v AS lang, c_content.v AS content
        FROM agg WHERE b IS NOT NULL AND b.op <> 'delete'
        ORDER BY repo, path
        """
    ).fetchall()
    con.close()
    return {(r[0], r[1]): r[2:] for r in rows}


def table_state(table):
    return {
        (r["repo"], r["path"]): (r["seq"], r["commit"], r["lang"], r["content"])
        for r in table.read().select(
            "repo", "path", "seq", "commit", "lang", "content"
        ).collect()
    }


def orphan_patch_stats(log_path: str):
    """(deduped orphan patch rows, orphan keys): patches whose key has no
    full image anywhere in the log — the only patch debt finalization
    cannot collapse into a row."""
    con = duckdb.connect()
    n_rows, n_keys = con.execute(
        f"""
        WITH ev AS (SELECT * FROM read_parquet('{log_path}/*.parquet')),
        orph AS (
          SELECT DISTINCT p.repo, p.path, p.seq FROM ev p
          WHERE p.op = 'patch' AND NOT EXISTS (
            SELECT 1 FROM ev f
            WHERE f.op <> 'patch' AND f.repo = p.repo AND f.path = p.path)
        )
        SELECT count(*), count(DISTINCT (repo, path)) FROM orph
        """
    ).fetchone()
    con.close()
    return n_rows, n_keys


def test_patch_replay_matches_per_column_oracle(spark, patch_log, tmp_path):
    log = spark.read.parquet(patch_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    s = replay(log, table, interval_size=600)
    assert sum(st.rows_patched for st in s.stats) > 0
    assert int(table.snapshot().properties["patch_deltas"]) > 0
    assert table_state(table) == oracle_state(patch_log)
    # patch generations really are stored as partial rows (NULL = keep)
    raw = table.read(raw=True, with_action=True)
    patch_gens = raw.where(F.col("_action") == "patch")
    assert patch_gens.count() > 0
    assert patch_gens.where(
        F.col("content").isNull() | F.col("lang").isNull()
    ).count() > 0


def test_patch_epoching_invariance_and_idempotence(spark, patch_log, tmp_path):
    log = spark.read.parquet(patch_log)
    t_many = ensure_table(spark, str(tmp_path / "m"), num_buckets=8)
    t_one = ensure_table(spark, str(tmp_path / "o"), num_buckets=8)
    replay(log, t_many, interval_size=300)
    replay(log, t_one, interval_size=10**9)
    assert table_state(t_many) == table_state(t_one) == oracle_state(patch_log)
    # full re-replay: every epoch short-circuits on its marker, state fixed
    before = t_many.current_version()
    s = replay(log, t_many, interval_size=300)
    assert s.epochs_run == 0 and s.epochs_skipped > 0
    assert t_many.current_version() == before


def test_patch_compact_finalizes(spark, patch_log, tmp_path):
    """Finalizing compaction collapses contested patches into the hidden
    per-column writer-seq map (_colseq) — exactly — and keeps orphan
    patches (keys with no full image) as generations; they are the ONLY
    remaining patch debt."""
    log = spark.read.parquet(patch_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    replay(log, table, interval_size=600)
    want = oracle_state(patch_log)
    table.compact()
    m = table.snapshot()
    orphan_rows, _ = orphan_patch_stats(patch_log)
    assert int(m.properties["patch_deltas"]) == orphan_rows > 0
    assert int(m.properties["colseq"]) == 1
    assert table_state(table) == want
    assert "_action" not in table.read().columns
    assert "_colseq" not in table.read().columns
    # the per-column state really lives in the map: contested rows exist
    raw = table.read(raw=True, with_action=True)
    assert raw.where(F.col("_colseq").isNotNull()).count() > 0
    # dropping the orphans clears ALL patch debt
    table.compact(drop_orphan_patches=True)
    m2 = table.snapshot()
    assert int(m2.properties["patch_deltas"]) == 0
    assert int(m2.properties["mor_appends"]) == 0
    assert table_state(table) == want
    # periodic compaction mid-replay agrees too — and is now exact even
    # when pairs straddle lateness (no bounded-lateness contract)
    t2 = ensure_table(spark, str(tmp_path / "t2"), num_buckets=8)
    replay(log, t2, interval_size=600, compact_every=2)
    assert table_state(t2) == want


def test_finalizing_compaction_exact_under_lateness(spark, tmp_path):
    """The headline _colseq property: a full image arriving LATER than an
    already-FINALIZED patch — with a seq BETWEEN the base's and the
    patched column's — still folds per-column exactly. (Before _colseq,
    finalization coarsened the row seq to the patch's and would have
    carried the late update; exactness needed preserve-mode debt.)"""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    e0 = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 5, "patch", "r1", "p1", None, "go", None, None),
    ]
    apply_epoch(table, spark.createDataFrame(e0, CHANGE_EVENTS), "main", 0, 0, 2)
    m = table.compact()
    assert int(m.properties["patch_deltas"]) == 0  # contested patch ABSORBED
    assert int(m.properties["colseq"]) == 1
    row = table.read(raw=True).collect()[0]
    assert row["seq"] == 0 and row["_colseq"] == {"lang": 5}  # base seq kept
    # late full image BETWEEN the base and the finalized patch
    e1 = [(2, 3, "update", "r1", "p1", "c3", "rust", "body3", None)]
    apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "main", 1, 2, 3)
    r = table.read().collect()[0]
    assert (r["lang"], r["content"], r["commit"], r["seq"]) == ("go", "body3", "c3", 5)
    # re-finalize: the surviving entry is re-derived against the new base
    table.compact()
    r2 = table.read(raw=True).collect()[0]
    assert r2["seq"] == 3 and r2["_colseq"] == {"lang": 5}
    assert (r2["lang"], r2["content"], r2["commit"]) == ("go", "body3", "c3")
    table.compact()
    r3 = table.read().collect()[0]
    assert (r3["lang"], r3["content"], r3["seq"]) == ("go", "body3", 5)


def test_patch_finalize_roundtrip(spark, patch_log, tmp_path):
    """Finalization over the generated mix: state identical to the oracle
    before and after, the kept debt is EXACTLY the orphan patches
    (contested ones absorbed into _colseq, superseded ones folded away),
    and re-compacting is stable."""
    log = spark.read.parquet(patch_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    replay(log, table, interval_size=600)
    want = oracle_state(patch_log)
    before = int(table.snapshot().properties["patch_deltas"])
    m = table.compact()
    kept = int(m.properties["patch_deltas"])
    orphan_rows, _ = orphan_patch_stats(patch_log)
    assert kept == orphan_rows < before
    assert table_state(table) == want
    # orphans stay orphans across another compaction (no base arrived) and
    # the state is a fixed point
    m2 = table.compact()
    assert int(m2.properties["patch_deltas"]) == orphan_rows
    assert table_state(table) == want


def test_patch_streaming_face(spark, patch_log, tmp_path):
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=8)
    stream_ingest(spark, patch_log, table, str(tmp_path / "ckpt"),
                  max_files_per_trigger=3)
    assert table_state(table) == oracle_state(patch_log)


def test_patch_replication_chain(spark, patch_log, tmp_path):
    from multiversx_etl_spark.streaming.replicate import replicate_changes

    log = spark.read.parquet(patch_log)
    src = ensure_table(spark, str(tmp_path / "src"), num_buckets=8)
    dst = ensure_table(spark, str(tmp_path / "dst"), num_buckets=8)
    for k in range(3):
        replay(log, src, interval_size=1000,
               max_epochs=1 + k)  # advance one epoch per round
        replicate_changes(src, dst)
    assert table_state(dst) == table_state(src) == oracle_state(patch_log)


def test_patch_rebucket_finalizes(spark, patch_log, tmp_path):
    """rebucket() with patch generations outstanding folds them exactly
    like compact (contested patches into _colseq under the new layout,
    orphans rewritten as generations)."""
    log = spark.read.parquet(patch_log)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=600)
    want = oracle_state(patch_log)
    assert int(table.snapshot().properties["patch_deltas"]) > 0
    m = table.rebucket(16)
    orphan_rows, _ = orphan_patch_stats(patch_log)
    assert int(m.properties["patch_deltas"]) == orphan_rows
    assert int(m.properties["colseq"]) == 1
    assert table_state(table) == want


def test_patch_orphan_is_noop(spark, tmp_path):
    """Patches never create rows: a patch to a key with no full image stays
    INVISIBLE (and a later full image for OTHER keys doesn't resurrect
    it) — but finalization RETAINS it as a generation, so its own base
    arriving later still picks it up."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    rows = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 5, "patch", "r1", "p2", None, "go", None, None),  # orphan key
        (2, 7, "patch", "r1", "p1", None, "rust", None, None),
    ]
    log = spark.createDataFrame(rows, CHANGE_EVENTS)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=10, total_offsets=3)
    got = {
        (r["repo"], r["path"]): (r["lang"], r["content"], r["seq"])
        for r in table.read().collect()
    }
    assert got == {("r1", "p1"): ("rust", "body0", 7)}
    table.compact()
    got2 = {
        (r["repo"], r["path"]): (r["lang"], r["content"], r["seq"])
        for r in table.read().collect()
    }
    assert got2 == got
    assert int(table.snapshot().properties["patch_deltas"]) == 1  # the orphan
    # the orphan's base arrives AFTER finalization: the kept generation
    # applies per-column (lang from the patch@5, content from the base)
    e1 = [(3, 2, "insert", "r1", "p2", "c2", "c", "body2", None)]
    apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "main", 1, 3, 4)
    got3 = {
        (r["repo"], r["path"]): (r["lang"], r["content"], r["seq"])
        for r in table.read().collect()
    }
    assert got3[("r1", "p2")] == ("go", "body2", 5)


def test_patch_with_schema_evolution(spark, tmp_path):
    """A patch event can CARRY a brand-new column: the schema evolves in
    the same atomic commit and the new column patches in per-column — old
    full images read it as NULL, the patch sets it, a later full image
    without the column resets it to NULL (full images set every column)."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from pyspark.sql.types import StringType, StructField, StructType

    base_rows = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 1, "insert", "r1", "p2", "c1", "go", "body1", None),
    ]
    log1 = spark.createDataFrame(base_rows, CHANGE_EVENTS)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log1, table, interval_size=10, total_offsets=2)

    evolved = StructType(list(CHANGE_EVENTS.fields) + [StructField("stars", StringType(), True)])
    rows2 = [
        (2, 4, "patch", "r1", "p1", None, None, None, None, "5"),   # new col via patch
        (3, 6, "update", "r1", "p2", "c6", "rust", "body6", None, None),
    ]
    log2 = spark.createDataFrame(rows2, evolved)
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    apply_epoch(table, log2, "main", 1, offset_lo=2, offset_hi=4)
    got = {
        (r["repo"], r["path"]): (r["lang"], r["content"], r["stars"], r["seq"])
        for r in table.read().collect()
    }
    assert got == {
        ("r1", "p1"): ("python", "body0", "5", 4),
        ("r1", "p2"): ("rust", "body6", None, 6),
    }
    table.compact()
    got2 = {
        (r["repo"], r["path"]): (r["lang"], r["content"], r["stars"], r["seq"])
        for r in table.read().collect()
    }
    assert got2 == got


def test_patch_delete_interplay(spark, tmp_path):
    """Patches don't resurrect deleted keys; a full re-insert after the
    delete resets columns, later patches re-apply."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS

    rows = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 2, "patch", "r1", "p1", None, "go", None, None),
        (2, 4, "delete", "r1", "p1", None, None, None, None),
        (3, 3, "patch", "r1", "p1", None, "c", None, None),  # late, dead: moot
        (4, 6, "insert", "r1", "p1", "c6", "rust", "body6", None),
        (5, 8, "patch", "r1", "p1", None, None, "body8", None),
    ]
    log = spark.createDataFrame(rows, CHANGE_EVENTS)
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(log, table, interval_size=100, total_offsets=6)
    got = table.read().collect()
    assert len(got) == 1
    r = got[0]
    assert (r["lang"], r["content"], r["commit"], r["seq"]) == (
        "rust", "body8", "c6", 8
    )


def test_compaction_keeps_orphans(spark, tmp_path):
    """Arbitrary lateness, the hard case: a patch arrives BEFORE its key's
    first full image, a (default, finalizing) compaction runs in between,
    and the base lands only afterwards — the patch generation must
    survive the rewrite and apply."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    e0 = [
        (0, 9, "patch", "r1", "p1", None, "go", None, None),   # orphan
        (1, 0, "insert", "r1", "p2", "c0", "python", "body0", None),
    ]
    apply_epoch(table, spark.createDataFrame(e0, CHANGE_EVENTS), "main", 0, 0, 2)
    m = table.compact()
    assert int(m.properties["patch_deltas"]) == 1  # the orphan survived
    assert {r["path"] for r in table.read().collect()} == {"p2"}  # still hidden
    e1 = [(2, 5, "insert", "r1", "p1", "c5", "rust", "body5", None)]
    apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "main", 1, 2, 3)
    got = {r["path"]: (r["lang"], r["content"], r["seq"]) for r in table.read().collect()}
    assert got["p1"] == ("go", "body5", 9)  # late base + preserved patch


def test_patch_rebucket_exact_under_lateness(spark, tmp_path):
    """rebucket finalizes contested patches into _colseq under the NEW
    layout, and a late full image still folds per-column exactly."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    e0 = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 5, "patch", "r1", "p1", None, "go", None, None),
    ]
    apply_epoch(table, spark.createDataFrame(e0, CHANGE_EVENTS), "main", 0, 0, 2)
    m = table.rebucket(16)
    assert m.num_buckets == 16
    assert int(m.properties["patch_deltas"]) == 0  # contested patch absorbed
    assert int(m.properties["colseq"]) == 1
    e1 = [(2, 3, "update", "r1", "p1", "c3", "rust", "body3", None)]
    apply_epoch(table, spark.createDataFrame(e1, CHANGE_EVENTS), "main", 1, 2, 3)
    r = table.read().collect()[0]
    assert (r["lang"], r["content"], r["commit"], r["seq"]) == ("go", "body3", "c3", 5)
    # lookup prunes with the new layout and finds the folded row
    got = table.lookup(repo="r1", path="p1").collect()
    assert len(got) == 1 and got[0]["lang"] == "go"


def test_colseq_read_is_projection_only(spark, tmp_path):
    """After finalization with no generations outstanding, the visible
    read is a pure projection: no Exchange (shuffle) and no fold in the
    plan — finalize-exact costs nothing at read time, unlike preserve-mode
    debt which kept the per-column fold armed."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    e0 = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 5, "patch", "r1", "p1", None, "go", None, None),
    ]
    apply_epoch(table, spark.createDataFrame(e0, CHANGE_EVENTS), "main", 0, 0, 2)
    table.compact()
    df = table.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Aggregate" not in plan, plan
    r = df.collect()[0]
    assert (r["seq"], r["lang"], r["content"]) == (5, "go", "body0")
    assert "_colseq" not in df.columns


def test_colseq_replication_with_midchain_finalize(spark, patch_log, tmp_path):
    """changes() skips compact commits, so finalizing the SOURCE mid-chain
    never leaks _colseq rows into the feed — the replica converges on the
    same per-column state via its own generations."""
    from multiversx_etl_spark.streaming.replicate import replicate_changes

    log = spark.read.parquet(patch_log)
    src = ensure_table(spark, str(tmp_path / "src"), num_buckets=8)
    dst = ensure_table(spark, str(tmp_path / "dst"), num_buckets=8)
    for k in range(3):
        replay(log, src, interval_size=1000, max_epochs=1 + k)
        if k == 1:
            src.compact()  # finalize mid-chain (colseq rows on src only)
        replicate_changes(src, dst)
    assert table_state(dst) == table_state(src) == oracle_state(patch_log)
    assert int(src.snapshot().properties["colseq"]) == 1
    assert int(dst.snapshot().properties.get("colseq", 0)) == 0


def test_colseq_schema_evolution_after_finalize(spark, tmp_path):
    """A column added AFTER finalization patches in per-column: old
    _colseq rows read the new column as NULL with writer seq = base seq,
    so the new patch wins it without disturbing finalized entries."""
    from pyspark.sql.types import StringType, StructField, StructType

    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    e0 = [
        (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
        (1, 7, "patch", "r1", "p1", None, "go", None, None),
    ]
    apply_epoch(table, spark.createDataFrame(e0, CHANGE_EVENTS), "main", 0, 0, 2)
    table.compact()
    evolved = StructType(
        list(CHANGE_EVENTS.fields) + [StructField("stars", StringType(), True)]
    )
    e1 = [(2, 3, "patch", "r1", "p1", None, None, None, None, "42")]
    apply_epoch(table, spark.createDataFrame(e1, evolved), "main", 1, 2, 3)
    r = table.read().collect()[0]
    assert (r["lang"], r["content"], r["stars"], r["seq"]) == ("go", "body0", "42", 7)
    table.compact()
    r2 = table.read(raw=True).collect()[0]
    assert r2["_colseq"] == {"lang": 7, "stars": 3} and r2["seq"] == 0
    r3 = table.read().collect()[0]
    assert (r3["lang"], r3["stars"], r3["seq"]) == ("go", "42", 7)


def test_patch_heavy_epoch_one_exchange_one_write(spark, tmp_path, monkeypatch):
    """A patch-bearing epoch costs ONE Exchange and ONE write job: patch
    generations leave through the fold's aggregate beside the per-key
    winners. The batch holds a hot key (60 patch rows, 10 of them exact
    (key, seq) redeliveries), an orphan-only key, an all-NULL patch and a
    patch tying a full image's seq; state, the rows_patched count and the
    per-bucket ledger rows are all checked."""
    import re

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators import merge as merge_mod
    from multiversx_etl_spark.schemas import CHANGE_EVENTS
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    ev = []

    def add(seq, op, repo, path, commit=None, lang=None, content=None):
        ev.append((len(ev), seq, op, repo, path, commit, lang, content, None))

    for i in range(12):
        add(i, "insert", "r1", f"p{i}", f"c{i}", "python", f"body{i}")
    add(0, "insert", "hot", "h", "c0", "python", "b0")
    hot = [(s, None if s % 2 == 0 else f"l{s}", f"b{s}" if s % 2 == 0 else None)
           for s in range(1, 51)]
    for s, lang, content in hot + hot[4::5]:  # 50 patches + 10 redeliveries
        add(s, "patch", "hot", "h", lang=lang, content=content)
    add(3, "patch", "orph", "o", lang="go")  # a key with no full image
    add(4, "patch", "orph", "o", content="ob")
    add(99, "patch", "r1", "p1")  # all-NULL: a no-op
    add(2, "patch", "r1", "p2", lang="zig")  # ties p2's full image (seq 2)
    log_path = str(tmp_path / "log")
    spark.createDataFrame(ev, CHANGE_EVENTS).coalesce(1).write.parquet(log_path)
    batch = spark.read.parquet(log_path)

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    plans = []
    write = LakeTable.write_data_files

    def recording_write(self, df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, df, *a, **k)

    monkeypatch.setattr(LakeTable, "write_data_files", recording_write)
    monkeypatch.setenv("MXETL_CAPTURE_PLAN", "1")
    stats = apply_epoch(table, batch, "main", 0, 0, len(ev))

    def exchanges(plan):
        return len(re.findall(r"\bExchange\b", plan))

    assert len(plans) == 1
    assert exchanges(plans[0]) == 1
    assert exchanges(merge_mod.LAST_WRITE_PLAN) == 1
    # distinct (key, seq) patches with a payload: 50 hot + 2 orphan + 1 tie
    assert stats.rows_patched == 53
    assert int(table.snapshot().properties["patch_deltas"]) == 53
    assert table_state(table) == oracle_state(log_path)
    assert table_state(table)[("hot", "h")] == (50, "c0", "l49", "b50")
    assert table_state(table)[("r1", "p2")][2] == "zig"

    assert (stats.rows_in, stats.rows_inserted, stats.rows_deduped) == (len(ev), 13, 13)
    want: dict[int, list[int]] = {}
    full_keys = set()
    for r in batch.select(
        "repo", "path", "op", table.snapshot().bucket_expr().alias("b")
    ).collect():
        want.setdefault(r["b"], [0, 0])[0] += 1
        if r["op"] != "patch":
            full_keys.add((r["repo"], r["path"], r["b"]))
    for _, _, b in full_keys:
        want[b][1] += 1
    got = {
        d["bucket"]: (d["rows_in"], d["rows_inserted"], d["rows_deduped"],
                      d["rows_updated"], d["rows_deleted"])
        for d in stats.per_bucket
    }
    # patch generations count in rows_patched, never as deduped keys
    assert got == {b: (n, k, k, 0, 0) for b, (n, k) in want.items()}
