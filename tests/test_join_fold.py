"""Zero-exchange MERGE fold (layout='spark' + catalog-bucketed log).

The fold's value proposition is physical (no Exchange anywhere in the merge
plan), so these tests pin BOTH faces: value-level equivalence with the
union fold (same final state, same ledger stats) and plan-level absence of
shuffle exchanges. Nobody asks for the join fold: every test here feeds a
bucketed scan and checks that the merge DERIVED it (``MergeStats.fold``).
The file-purity invariant the spark layout rests on (pid == bucket in
every written file) gets its own negative test.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators import merge as merge_mod
from multiversx_etl_spark.schemas import REPOS
from multiversx_etl_spark.sources.changelog import (
    generate_change_log,
    write_log_bucketed,
    write_log_parquet,
)
from multiversx_etl_spark.streaming.ingest import replay

B = 8
N = 40_000


@pytest.fixture(scope="module")
def bucketed_log(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("jflog")
    log = generate_change_log(spark, N, num_repos=60, paths_per_repo=50, partitions=8)
    name = write_log_bucketed(log, str(root / "blog"), B, table_name="mxetl_test_log")
    write_log_parquet(log, str(root / "plog"), files=8)
    yield spark.table(name), spark.read.parquet(str(root / "plog"))
    spark.sql("DROP TABLE IF EXISTS mxetl_test_log")


def _replay(spark, tmp_path, log, layout, tag, epochs=3):
    total = N + int(N * 0.01)
    table = LakeTable.create(
        spark, str(tmp_path / tag), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout=layout,
    )
    summary = replay(
        log, table, interval_size=-(-total // epochs), total_offsets=total
    )
    return table, summary


def test_join_fold_matches_union_fold(spark, tmp_path, bucketed_log):
    blog, plog = bucketed_log
    jt, js = _replay(spark, tmp_path, blog, "spark", "jt")
    ut, us = _replay(spark, tmp_path, plog, "xxhash", "ut")
    assert [s.fold for s in js.stats] == ["join"] * 3
    assert [(s.fold, s.fold_reason) for s in us.stats] == [("union", None)] * 3
    # ledger-level equality: same classification on every epoch in total
    assert (js.rows_inserted, js.rows_updated, js.rows_deleted) == (
        us.rows_inserted, us.rows_updated, us.rows_deleted,
    )
    a, b = jt.read(), ut.read()
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_join_fold_plan_has_no_shuffle_exchange(spark, tmp_path, bucketed_log):
    blog, _ = bucketed_log
    os.environ["MXETL_CAPTURE_PLAN"] = "1"
    try:
        _, s = _replay(spark, tmp_path, blog, "spark", "jp", epochs=2)
    finally:
        os.environ.pop("MXETL_CAPTURE_PLAN", None)
    assert [st.fold for st in s.stats] == ["join", "join"]
    plan = merge_mod.LAST_WRITE_PLAN
    assert plan is not None
    # broadcast of the (narrow) target side is fine; a shuffle is the thing
    # the fold exists to eliminate
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan


def test_join_fold_plan_epoch1_empty_target(spark, tmp_path, bucketed_log):
    """The FIRST epoch into a fresh table (the scaling workload's exact
    shape) must also be exchange-free: an empty staged target still reports
    bucketed partitioning, so the left-outer join needs no shuffle."""
    blog, _ = bucketed_log
    os.environ["MXETL_CAPTURE_PLAN"] = "1"
    try:
        table = LakeTable.create(
            spark, str(tmp_path / "e1"), REPOS,
            key_columns=["repo", "path"], num_buckets=B, layout="spark",
        )
        total = N + int(N * 0.01)
        s = replay(blog, table, interval_size=total, total_offsets=total,
                   max_epochs=1)
    finally:
        os.environ.pop("MXETL_CAPTURE_PLAN", None)
    assert s.stats[0].fold == "join"
    plan = merge_mod.LAST_WRITE_PLAN
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan


def test_join_fold_resumes_exactly_once(spark, tmp_path, bucketed_log):
    blog, _ = bucketed_log
    total = N + int(N * 0.01)
    interval = -(-total // 3)
    table = LakeTable.create(
        spark, str(tmp_path / "jr"), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout="spark",
    )
    replay(blog, table, interval_size=interval, total_offsets=total,
           max_epochs=1)
    s2 = replay(blog, table, interval_size=interval, total_offsets=total)
    assert s2.epochs_skipped == 1 and s2.epochs_run == 2
    assert [st.fold for st in s2.stats] == ["join", "join"]
    s3 = replay(blog, table, interval_size=interval, total_offsets=total)
    assert s3.epochs_run == 0 and s3.epochs_skipped == 3


def test_spark_layout_union_fold_and_patches(spark, tmp_path):
    """A spark-layout table fed from a plain (non-bucketed) patch-mix log
    takes the union fold and stays exact (repartition_for_write keeps
    pid == bucket)."""
    n = 20_000
    log = generate_change_log(
        spark, n, num_repos=40, paths_per_repo=40, partitions=8, patch_fraction=0.3
    )
    total = n + int(n * 0.01)
    st = LakeTable.create(
        spark, str(tmp_path / "sp"), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout="spark",
    )
    xt = LakeTable.create(
        spark, str(tmp_path / "xp"), REPOS,
        key_columns=["repo", "path"], num_buckets=B,
    )
    reasons = {}
    for t in (st, xt):
        s = replay(log, t, interval_size=-(-total // 2), total_offsets=total)
        reasons[t.root] = {(e.fold, e.fold_reason) for e in s.stats}
    assert reasons[st.root] == {("union", "change side is not a bucketed scan")}
    assert reasons[xt.root] == {("union", None)}  # xxhash: no plan walk
    a, b = st.read(), xt.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and compaction under the spark layout preserves pid == bucket
    st.compact()
    c = st.read()
    assert c.exceptAll(b).count() == 0 and b.exceptAll(c).count() == 0


def test_spark_layout_lookup_prunes_correctly(spark, tmp_path, bucketed_log):
    blog, _ = bucketed_log
    jt, _ = _replay(spark, tmp_path, blog, "spark", "lk", epochs=1)
    row = jt.read().limit(1).collect()[0]
    hit = jt.lookup(repo=row["repo"], path=row["path"]).collect()
    assert len(hit) == 1 and hit[0]["content"] == row["content"]


def test_register_rejects_bucket_spec_mismatch(spark, tmp_path):
    """A wrong declared bucket count is SILENT data loss in Spark (the scan
    drops files with higher bucket ids / misgroups the rest) — registration
    must fail loudly instead, via the _bucket_spec.json sidecar."""
    from multiversx_etl_spark.sources.changelog import (
        register_log_bucketed,
        write_log_bucketed,
    )

    log = generate_change_log(spark, 2_000, num_repos=10, paths_per_repo=10)
    path = str(tmp_path / "bl")
    write_log_bucketed(log, path, 8, table_name="mxetl_spec_t")
    spark.sql("DROP TABLE IF EXISTS mxetl_spec_t")
    with pytest.raises(ValueError, match="num_buckets=8"):
        register_log_bucketed(spark, path, 4, table_name="mxetl_spec_t")
    with pytest.raises(ValueError, match="num_buckets=8"):
        register_log_bucketed(spark, path, 16, table_name="mxetl_spec_t")
    with pytest.raises(ValueError, match="key"):
        register_log_bucketed(
            spark, path, 8, table_name="mxetl_spec_t", key_columns=("repo",)
        )
    # matching spec registers fine; a MISSING sidecar refuses outright
    # (filename ids can't catch an over-declared count or wrong keys)
    df = register_log_bucketed(spark, path, 8, table_name="mxetl_spec_t")
    assert df.count() == 2_020
    spark.sql("DROP TABLE IF EXISTS mxetl_spec_t")
    os.remove(str(tmp_path / "bl" / "_bucket_spec.json"))
    with pytest.raises(ValueError, match="sidecar"):
        register_log_bucketed(spark, path, 8, table_name="mxetl_spec_t")


def test_join_fold_generalizes_to_other_keys(spark, tmp_path):
    """The fold is key-generic: the commits table (key (repo, commit),
    nested array<struct> payload) replays zero-exchange-style through a
    log bucketed on ITS key and matches the union-fold result."""
    from multiversx_etl_spark.operators.normalize import normalize_commit_events
    from multiversx_etl_spark.schemas import TABLES
    from multiversx_etl_spark.sources.changelog import (
        generate_commit_log,
        register_log_bucketed,
        write_log_bucketed,
    )

    n = 5_000
    log = generate_commit_log(spark, n, num_repos=8, commits_per_repo=40)
    _, target_schema, key = TABLES["commits"]
    path = str(tmp_path / "cl")
    write_log_bucketed(log, path, 4, table_name="mxetl_cjf_gen", key_columns=tuple(key))
    spark.sql("DROP TABLE IF EXISTS mxetl_cjf_gen")
    blog = register_log_bucketed(
        spark, path, 4, table_name="mxetl_cjf",
        key_columns=tuple(key), schema=log.schema,
    )
    total = n + int(n * 0.01)
    jt = LakeTable.create(
        spark, str(tmp_path / "cj"), target_schema, key_columns=key,
        num_buckets=4, layout="spark",
    )
    ut = LakeTable.create(
        spark, str(tmp_path / "cu"), target_schema, key_columns=key, num_buckets=4,
    )
    for t, fold, src in ((jt, "join", blog), (ut, "union", log)):
        s = replay(src, t, interval_size=-(-total // 2), total_offsets=total,
                   normalizer=normalize_commit_events)
        assert {st.fold for st in s.stats} == {fold}
    a, b = jt.read(), ut.read()
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    spark.sql("DROP TABLE IF EXISTS mxetl_cjf")


def test_join_fold_after_rebucket_fails_loudly_not_silently(spark, tmp_path, bucketed_log):
    """rebucket() changes the table's B; the OLD-B bucketed log can no
    longer serve pid == bucket writes. The merge reads the scan's bucket
    spec, sees the mismatch and finishes the replay exactly on the union
    fold, saying why in ``fold_reason`` — never an impure write (the purity
    guard itself is covered by the next test)."""
    from multiversx_etl_spark.oracle import expected_state

    blog, plog = bucketed_log
    total = N + int(N * 0.01)
    interval = -(-total // 2)
    table = LakeTable.create(
        spark, str(tmp_path / "rbj"), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout="spark",
    )
    # ingest the first half, evolve the layout, then bring FRESH data (the
    # second half) through the stale-B log
    s1 = replay(blog, table, interval_size=interval, total_offsets=total,
                max_epochs=1)
    assert s1.stats[0].fold == "join"
    table.rebucket(B * 2)
    s = replay(blog, table, interval_size=interval, total_offsets=total)
    assert s.epochs_run == 1 and s.epochs_skipped == 1
    assert s.stats[0].fold == "union"
    assert f"log bucketed into {B} buckets, table has {B * 2}" in s.stats[0].fold_reason
    want = expected_state(plog)
    got = table.read().select(*want.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bucket_purity_guard_rejects_misaligned_write(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "pg"), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout="spark",
    )
    m = t.snapshot()
    df = (
        spark.range(2_000)
        .select(
            F.format_string("r-%d", F.col("id") % 37).alias("repo"),
            F.format_string("p-%d.py", F.col("id")).alias("path"),
            F.col("id").alias("seq"),
            F.lit(False).alias("deleted"),
            F.lit(None).cast("string").alias("commit"),
            F.lit(None).cast("string").alias("lang"),
            F.lit("x").alias("content"),
            F.lit(None).cast("timestamp").alias("event_ts"),
        )
        .withColumn("_bucket", m.bucket_expr())
        .repartition(B)  # round-robin: files NOT bucket-pure
    )
    with pytest.raises(RuntimeError, match="bucket-impure"):
        t.write_data_files(df, "bad", bucket_aligned=True, keep_bucket=True)


def test_stream_join_fold_exact_zero_exchange_and_resume(spark, tmp_path):
    """The streaming twin of the zero-exchange fold: the file source
    schedules WHOLE files per micro-batch, so each batch's own files are
    re-staged (hardlinks) as a catalog bucketed table and the MERGE plans
    no exchange — asserted on the captured write plan — while the final
    state equals a union-fold stream over the same events and a rerun on
    the same checkpoint commits nothing."""
    from multiversx_etl_spark.streaming.ingest import stream_ingest

    log = generate_change_log(spark, 3000, num_repos=10, paths_per_repo=30,
                              partitions=2)
    blog = str(tmp_path / "blog")
    write_log_bucketed(log, blog, 4, table_name="mxetl_sjf_gen")
    spark.sql("DROP TABLE IF EXISTS mxetl_sjf_gen")
    plog = str(tmp_path / "plog")
    write_log_parquet(log, plog, files=4)

    jt = LakeTable.create(
        spark, str(tmp_path / "jt"), REPOS,
        key_columns=["repo", "path"], num_buckets=4, layout="spark",
    )
    folds = []
    os.environ["MXETL_CAPTURE_PLAN"] = "1"
    try:
        stream_ingest(spark, blog, jt, str(tmp_path / "jckpt"),
                      max_files_per_trigger=3,
                      on_epoch=lambda e, st: folds.append(st.fold))
    finally:
        os.environ.pop("MXETL_CAPTURE_PLAN", None)
    assert folds and set(folds) == {"join"}
    plan = merge_mod.LAST_WRITE_PLAN
    assert plan is not None
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan

    ut = LakeTable.create(
        spark, str(tmp_path / "ut"), REPOS,
        key_columns=["repo", "path"], num_buckets=4,
    )
    stream_ingest(spark, plog, ut, str(tmp_path / "uckpt"),
                  max_files_per_trigger=3)
    a, b = jt.read(), ut.read()
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    v = jt.current_version()
    stream_ingest(spark, blog, jt, str(tmp_path / "jckpt"),
                  max_files_per_trigger=3)
    assert jt.current_version() == v


def test_stream_join_fold_patch_batches_downgrade(spark, tmp_path):
    """Patch-bearing micro-batches take the union fold inside the merge
    (per-column LWW needs the union machinery), and ``fold_reason`` says
    so — the streamed final state must equal a batch union replay of the
    same patch-mix log."""
    from multiversx_etl_spark.streaming.ingest import stream_ingest

    log = generate_change_log(spark, 3000, num_repos=10, paths_per_repo=30,
                              partitions=2, patch_fraction=0.3)
    blog = str(tmp_path / "blog")
    write_log_bucketed(log, blog, 4, table_name="mxetl_sjp_gen")
    spark.sql("DROP TABLE IF EXISTS mxetl_sjp_gen")
    plog = str(tmp_path / "plog")
    write_log_parquet(log, plog, files=4)

    jt = LakeTable.create(
        spark, str(tmp_path / "jt"), REPOS,
        key_columns=["repo", "path"], num_buckets=4, layout="spark",
    )
    stats = []
    stream_ingest(spark, blog, jt, str(tmp_path / "jckpt"),
                  max_files_per_trigger=2,
                  on_epoch=lambda e, st: stats.append(st))
    assert stats and stats[0].rows_patched > 0
    assert (stats[0].fold, stats[0].fold_reason) == (
        "union", "batch carries patch events"
    )
    assert {st.fold for st in stats} == {"union"}
    ut = LakeTable.create(
        spark, str(tmp_path / "ut"), REPOS,
        key_columns=["repo", "path"], num_buckets=4,
    )
    replay(spark.read.parquet(plog), ut, interval_size=1000,
           total_offsets=3000 + int(3000 * 0.01))
    a, b = jt.read(), ut.read()
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_fold_auto_downgrades_on_plain_log(spark, tmp_path):
    """A log directory that cannot prove bucket alignment with a
    spark-layout table takes the union fold on every epoch and stays exact
    — the fast path is never required. Three such logs: a plain one; one
    bucketed into 4 while the table has 8 (its files 0..3 would "fit" under
    the table's B, so the stream must check the sidecar's B, not the file
    names); and a matching one whose table is rebucketed after the first
    epoch (the stream re-checks the sidecar against each batch's
    snapshot)."""
    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.streaming.ingest import stream_ingest

    log = generate_change_log(spark, 1000, num_repos=8, paths_per_repo=20)
    plog = str(tmp_path / "plog")
    write_log_parquet(log, plog, files=3)
    want = expected_state(spark.read.parquet(plog))
    blog = str(tmp_path / "blog")
    write_log_bucketed(log, blog, 4, table_name="mxetl_sfd_gen")
    spark.sql("DROP TABLE IF EXISTS mxetl_sfd_gen")

    def run(name, log_dir, num_buckets, on_epoch):
        t = LakeTable.create(
            spark, str(tmp_path / name), REPOS,
            key_columns=["repo", "path"], num_buckets=num_buckets,
            layout="spark",
        )
        stream_ingest(spark, log_dir, t, str(tmp_path / f"{name}-ckpt"),
                      max_files_per_trigger=2,
                      on_epoch=lambda e, st: on_epoch(t, e, st))
        got = t.read().select(*want.columns)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    plain = "change side is not a bucketed scan"
    for name, log_dir, num_buckets in (("t", plog, 4), ("t8", blog, 8)):
        folds = []
        run(name, log_dir, num_buckets,
            lambda t, e, st: folds.append((st.fold, st.fold_reason)))
        assert len(folds) > 1 and set(folds) == {("union", plain)}, name

    folds = []

    def rebucket_after_first(t, e, st):
        folds.append((st.fold, st.fold_reason))
        if len(folds) == 1:
            t.rebucket(8)

    run("rb", blog, 4, rebucket_after_first)
    assert folds[0] == ("join", None)
    assert len(folds) > 1 and set(folds[1:]) == {("union", plain)}


def test_join_fold_over_colseq_rows_zero_exchange(spark, tmp_path):
    """Finalized per-column state (_colseq rows) must NOT downgrade the
    zero-exchange join fold — unlike patch-generation debt, which needs
    the union machinery. The narrow (key, seq, deleted) target projection
    stays row-level correct because a finalized row keeps its full-image
    seq, and the appended change generation folds per-column at read."""
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.schemas import CHANGE_EVENTS

    table = LakeTable.create(
        spark, str(tmp_path / "t"), REPOS,
        key_columns=["repo", "path"], num_buckets=B, layout="spark",
    )
    e0 = spark.createDataFrame(
        [
            (0, 0, "insert", "r1", "p1", "c0", "python", "body0", None),
            (1, 9, "patch", "r1", "p1", None, "go", None, None),
            (2, 0, "insert", "r2", "p2", "c0", "java", "jbody", None),
        ],
        CHANGE_EVENTS,
    )
    s0 = merge_batch(table, e0, "main", 0)  # patches take the union machinery
    assert s0.fold == "union"
    table.compact()
    m = table.snapshot()
    assert int(m.properties["colseq"]) == 1
    assert int(m.properties["patch_deltas"]) == 0
    # a full image BETWEEN r1/p1's base(0) and its patched lang(9), applied
    # through the JOIN fold from a catalog-bucketed log
    e1 = spark.createDataFrame(
        [(3, 4, "update", "r1", "p1", "c4", "rust", "body4", None)],
        CHANGE_EVENTS,
    )
    name = write_log_bucketed(
        e1, str(tmp_path / "blog"), B, table_name="mxetl_colseq_log"
    )
    os.environ["MXETL_CAPTURE_PLAN"] = "1"
    try:
        stats = merge_batch(table, spark.table(name), "main", 1)
    finally:
        os.environ.pop("MXETL_CAPTURE_PLAN", None)
        spark.sql("DROP TABLE IF EXISTS mxetl_colseq_log")
    assert (stats.fold, stats.fold_reason) == ("join", None)
    plan = merge_mod.LAST_WRITE_PLAN
    assert plan is not None
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan
    got = {
        r["path"]: (r["seq"], r["lang"], r["content"], r["commit"])
        for r in table.read().collect()
    }
    assert got["p1"] == (9, "go", "body4", "c4")  # patched lang survives
    assert got["p2"] == (0, "java", "jbody", "c0")
