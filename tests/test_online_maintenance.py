"""Online maintenance: compaction/rebucket/metadata commits racing a live
ingest stream. The reference runs maintenance as out-of-band `bq update` /
cron flows against tables its worker keeps writing (maintenance/*.md +
app.py's continuous loop); the engine analog is a compact()/rebucket()
whose commit REBASES onto concurrent MOR appends (file-level replacement —
Iceberg's RewriteFiles retry validation) or re-runs from the fresh snapshot
when rebase is provably unsound, so maintenance never needs an ingest
outage. See LakeTable._rebase_sound for the soundness rules."""

from __future__ import annotations

import threading
import time

import pytest

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators.merge import merge_batch
from multiversx_etl_spark.schemas import REPOS
from multiversx_etl_spark.sources.changelog import (
    generate_change_log,
    write_log_parquet,
)
from multiversx_etl_spark.streaming.ingest import apply_epoch


def _mk_table(spark, tmp_path, name="t", buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / name), REPOS, key_columns=["repo", "path"],
        num_buckets=buckets,
    )


def _batch(spark, rows):
    cols = (
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    return spark.createDataFrame(rows, cols)


def _state(table):
    return {
        (r["repo"], r["path"]): (r["seq"], r["commit"], r["lang"], r["content"])
        for r in table.read()
        .select("repo", "path", "seq", "commit", "lang", "content")
        .collect()
    }


def _inject_on_commit(table, operation, rival_fn):
    """Shadow ``table.commit`` so the FIRST commit of ``operation`` runs
    ``rival_fn`` (a concurrent writer) between the rewrite and the commit —
    the exact race window online maintenance must survive."""
    real_commit = table.commit
    fired = {}

    def commit_with_rival(*a, **kw):
        op = kw.get("operation", a[2] if len(a) > 2 else None)
        if op == operation and "done" not in fired:
            fired["done"] = True
            rival_fn()
        return real_commit(*a, **kw)

    table.commit = commit_with_rival
    return fired


def test_compact_rebases_over_concurrent_mor_append(spark, tmp_path):
    """A MOR merge landing mid-compaction must not kill (or discard) the
    rewrite: the commit rebases — the rival's delta files survive on top of
    the new base and the fold stays armed."""
    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
        (1, 2, "insert", "rB", "b.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 2)
    merge_batch(table, _batch(spark, [
        (2, 3, "update", "rA", "a.py", "c2", "py", "v2"),
    ]), "main", 1, 2, 3)
    v0 = table.current_version()

    rival = LakeTable(spark, table.root)
    fired = _inject_on_commit(table, "compact", lambda: merge_batch(
        rival,
        _batch(spark, [(3, 4, "update", "rB", "b.py", "c3", "py", "v3"),
                       (4, 5, "insert", "rC", "c.py", "c3", "py", "v1")]),
        "main", 2, 3, 5,
    ))
    m = table.compact()
    assert fired["done"]

    # one rival merge + ONE compact commit, rebased (not redone): the base
    # files carry the tag of the PRE-RIVAL snapshot version
    assert m.version == v0 + 2 and m.operation == "compact"
    base_files = [f for f in m.files if f.get("base", False)]
    assert base_files and all(
        f"compact-v{v0:08d}" in f["path"] for f in base_files
    )
    # the rival's delta files were KEPT, and they re-arm the MOR fold
    assert any(not f.get("base", False) for f in m.files)
    assert int(m.properties["mor_appends"]) == 1

    expected = {
        ("rA", "a.py"): (3, "c2", "py", "v2"),
        ("rB", "b.py"): (4, "c3", "py", "v3"),
        ("rC", "c.py"): (5, "c3", "py", "v1"),
    }
    assert _state(table) == expected
    # and the next (quiet) compaction folds the kept deltas exactly
    m2 = table.compact()
    assert int(m2.properties["mor_appends"]) == 0
    assert _state(table) == expected


def test_compact_rebase_patch_debt_bookkeeping(spark, tmp_path):
    """A PATCH merge landing mid-compaction: the rebased commit's
    patch_deltas must count exactly the rival's outstanding patch rows
    (the rewrite finalized the base snapshot's debt), and the per-column
    fold over kept-rival-patches + finalized base stays exact."""
    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
        (1, 2, "insert", "rB", "b.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 2)
    # outstanding patch debt on rA before the compaction
    merge_batch(table, _batch(spark, [
        (2, 10, "patch", "rA", "a.py", None, None, "patched-A"),
    ]), "main", 1, 2, 3)
    assert int(table.snapshot().properties["patch_deltas"]) == 1

    rival = LakeTable(spark, table.root)
    _inject_on_commit(table, "compact", lambda: merge_batch(
        rival,
        _batch(spark, [(3, 11, "patch", "rB", "b.py", None, "rs", None)]),
        "main", 2, 3, 4,
    ))
    m = table.compact()
    # folded debt (1) left the ledger; the rival's patch row (1) is the debt
    assert int(m.properties["patch_deltas"]) == 1
    assert int(m.properties["mor_appends"]) == 1

    expected = {
        ("rA", "a.py"): (10, "c1", "py", "patched-A"),
        ("rB", "b.py"): (11, "c1", "rs", "v1"),
    }
    assert _state(table) == expected
    # a later quiet compaction finalizes the rival's patch too
    m2 = table.compact()
    assert int(m2.properties["patch_deltas"]) == 0
    assert _state(table) == expected


def test_compact_full_retry_when_rival_compacts(spark, tmp_path):
    """A rival compaction mid-rewrite makes rebase unsound (the replaced
    files are gone): the compaction redoes the rewrite from the fresh
    snapshot instead of failing."""
    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 1)
    merge_batch(table, _batch(spark, [
        (1, 2, "update", "rA", "a.py", "c2", "py", "v2"),
    ]), "main", 1, 1, 2)

    rival = LakeTable(spark, table.root)
    _inject_on_commit(table, "compact", rival.compact)
    m = table.compact(full=True)
    assert m.operation == "compact"
    assert _state(table) == {("rA", "a.py"): (2, "c2", "py", "v2")}


def test_rebase_unsound_when_replaced_file_not_live(spark, tmp_path):
    """Liveness check (b) of _rebase_sound on its own: over a sound chain of
    merges, a rewrite whose replaced files include one no longer live in
    the parent must not rebase."""
    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 1)
    base = table.snapshot()
    merge_batch(table, _batch(spark, [
        (1, 2, "update", "rA", "a.py", "c2", "py", "v2"),
    ]), "main", 1, 1, 2)
    parent = table.snapshot()
    live = {f["path"] for f in base.files}
    assert table._rebase_sound(base, parent, live)
    gone = live | {"data/consumed-by-a-rival.parquet"}
    assert not table._rebase_sound(base, parent, gone)


def test_rebucket_retries_over_concurrent_merge(spark, tmp_path):
    """Rebucket never rebases (kept old-layout deltas would break bucket
    pruning): a lost race re-runs the whole rewrite, and the retried
    layout includes the rival's rows under the NEW bucketing."""
    table = _mk_table(spark, tmp_path, buckets=2)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
        (1, 2, "insert", "rB", "b.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 2)

    rival = LakeTable(spark, table.root)
    _inject_on_commit(table, "rebucket", lambda: merge_batch(
        rival,
        _batch(spark, [(2, 3, "insert", "rC", "c.py", "c2", "py", "v1")]),
        "main", 1, 2, 3,
    ))
    m = table.rebucket(8)
    assert m.operation == "rebucket" and m.num_buckets == 8
    assert _state(table) == {
        ("rA", "a.py"): (1, "c1", "py", "v1"),
        ("rB", "b.py"): (2, "c1", "py", "v1"),
        ("rC", "c.py"): (3, "c2", "py", "v1"),
    }
    # bucket-pruned point reads resolve under the new layout
    assert table.lookup(repo="rC", path="c.py").count() == 1


def test_update_schema_retries_and_keeps_rival_widening(spark, tmp_path):
    """Two concurrent schema pushes: the loser re-merges over the winner's
    schema, so BOTH added columns land — a stale-parent merge must never
    clobber a rival widening."""
    from pyspark.sql.types import StringType, StructField, StructType

    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 1)
    base = table.snapshot().schema

    def widened(col):
        return StructType(list(base.fields) + [StructField(col, StringType(), True)])

    rival = LakeTable(spark, table.root)
    _inject_on_commit(
        table, "update-schema", lambda: rival.update_schema(widened("col_b"))
    )
    m = table.update_schema(widened("col_a"))
    names = set(m.schema.fieldNames())
    assert {"col_a", "col_b"} <= names
    # existing rows read both added columns as NULL
    row = table.read().select("col_a", "col_b").collect()[0]
    assert row["col_a"] is None and row["col_b"] is None


def test_merge_rebases_cheaply_over_concurrent_compact(spark, tmp_path):
    """The other half of online maintenance: a MERGE losing its race to a
    compaction (a logical no-op) must re-commit WITHOUT recomputing the
    fold — otherwise a hot maintenance cron starves the ingest. The rebase
    happens inside merge_batch itself (no apply_epoch retry involved)."""
    table = _mk_table(spark, tmp_path)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 1)
    merge_batch(table, _batch(spark, [
        (1, 2, "update", "rA", "a.py", "c2", "py", "v2"),
    ]), "main", 1, 1, 2)

    rival = LakeTable(spark, table.root)
    fired = _inject_on_commit(table, "merge-mor", rival.compact)
    # merge_batch directly: any "concurrent commit" escaping would raise
    merge_batch(table, _batch(spark, [
        (2, 3, "update", "rA", "a.py", "c3", "py", "v3"),
    ]), "main", 2, 2, 3)
    assert fired["done"]

    m = table.snapshot()
    assert m.operation == "merge-mor"
    # the rebased merge armed the fold relative to the COMPACTED parent
    assert int(m.properties["mor_appends"]) == 1
    assert _state(table) == {("rA", "a.py"): (3, "c3", "py", "v3")}
    assert table.is_epoch_committed("main", 2)


def test_merge_surfaces_rebucket_race_to_full_retry(spark, tmp_path):
    """A rebucket mid-merge is NOT rebaseable (the merge's delta files are
    bucket-aligned under the stale layout): merge_batch must surface the
    race, and apply_epoch's full recompute must then land it under the new
    layout."""
    table = _mk_table(spark, tmp_path, buckets=2)
    merge_batch(table, _batch(spark, [
        (0, 1, "insert", "rA", "a.py", "c1", "py", "v1"),
    ]), "main", 0, 0, 1)

    rival = LakeTable(spark, table.root)
    _inject_on_commit(table, "merge-mor", lambda: rival.rebucket(8))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        merge_batch(table, _batch(spark, [
            (1, 2, "insert", "rB", "b.py", "c1", "py", "v1"),
        ]), "main", 1, 1, 2)

    # the caller-level retry (what apply_epoch does) recomputes and lands
    merge_batch(table, _batch(spark, [
        (1, 2, "insert", "rB", "b.py", "c1", "py", "v1"),
    ]), "main", 1, 1, 2, tag_suffix="-r1")
    assert table.snapshot().num_buckets == 8
    assert _state(table) == {
        ("rA", "a.py"): (1, "c1", "py", "v1"),
        ("rB", "b.py"): (2, "c1", "py", "v1"),
    }
    assert table.lookup(repo="rB", path="b.py").count() == 1


def test_online_maintenance_thread_chaos(spark, tmp_path_factory):
    """The real deployment shape: one thread replays epochs (patch events
    included), another crons compact() the whole time plus one mid-stream
    rebucket — every maintenance commit must land without an ingest outage
    and the final state must equal the independent per-column LWW oracle."""
    from test_patch_events import oracle_state, table_state

    tmp = tmp_path_factory.mktemp("chaos")
    log_path = str(tmp / "log")
    log = generate_change_log(
        spark, 3000, num_repos=20, paths_per_repo=25, patch_fraction=0.3
    )
    write_log_parquet(log, log_path, files=6)
    events = spark.read.parquet(log_path)

    table = LakeTable.create(
        spark, str(tmp / "t"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    n_epochs, total = 6, events.count()
    step = (total + n_epochs - 1) // n_epochs
    done = threading.Event()
    errors = []
    compactions = {"n": 0}

    def ingest():
        try:
            from pyspark.sql import functions as F

            for i in range(n_epochs):
                lo, hi = i * step, min((i + 1) * step, total)
                batch = events.where(
                    (F.col("offset") >= lo) & (F.col("offset") < hi)
                )
                apply_epoch(table, batch, "main", i, lo, hi, conflict_retries=20)
        except Exception as e:  # pragma: no cover - surfaced by the assert
            errors.append(e)
        finally:
            done.set()

    state = {"rebucketed": False}

    def maintain():
        rival = LakeTable(spark, table.root)
        try:
            while not done.is_set():
                try:
                    rival.compact()
                except RuntimeError as e:
                    # bounded full-retry exhaustion against a hot merge
                    # stream is documented behavior — try again next tick
                    if "went stale" not in str(e):
                        raise
                compactions["n"] += 1
                if compactions["n"] >= 2 and not state["rebucketed"]:
                    try:
                        rival.rebucket(8)
                        state["rebucketed"] = True
                    except RuntimeError as e:
                        # rebucket's bounded full-retry can exhaust against
                        # a hot merge stream — keep ingesting, try again
                        if "concurrent-commit race" not in str(e):
                            raise
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover
            errors.append(e)
            done.set()

    t_ingest = threading.Thread(target=ingest)
    t_maintain = threading.Thread(target=maintain)
    t_ingest.start()
    t_maintain.start()
    t_ingest.join(600)
    t_maintain.join(600)
    assert not errors, errors
    assert compactions["n"] >= 1
    if not state["rebucketed"]:  # quiet now: the layout change must land
        LakeTable(spark, table.root).rebucket(8)
    assert table.snapshot().num_buckets == 8

    # final quiet compaction, then the independent DuckDB column-LWW oracle
    table.compact()
    assert table_state(table) == oracle_state(log_path)
    for i in range(n_epochs):
        assert table.is_epoch_committed("main", i)
