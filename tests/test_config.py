"""Worker-config surface (the reference's JSON operator interface,
worker_config.py:51-104): validation, defaults, errata plumbing, and one
configured end-to-end iteration."""

from __future__ import annotations

import json

import pytest

from multiversx_etl_spark.config import (
    ConfigError,
    load_worker_config,
    run_from_config,
    worker_config_from_dict,
)


def test_defaults_and_required():
    cfg = worker_config_from_dict({"table_root": "/t", "log_path": "/l"})
    assert cfg.stream_id == "main" and not hasattr(cfg, "mode")
    assert cfg.interval_size == 1_000_000 and cfg.num_buckets == 16
    assert cfg.trigger_interval is None and cfg.fail_on_counts_mismatch
    with pytest.raises(ConfigError, match="missing required"):
        worker_config_from_dict({"table_root": "/t"})


def test_rejects_unknown_keys_and_bad_values():
    with pytest.raises(ConfigError, match="unknown config keys"):
        worker_config_from_dict({"table_root": "/t", "log_path": "/l", "threds": 4})
    # MOR is the only merge mode: the old "mode" key is unknown, whatever
    # its value
    for mode in ("mor", "cow"):
        with pytest.raises(ConfigError, match=r"unknown config keys: \['mode'\]"):
            worker_config_from_dict({"table_root": "/t", "log_path": "/l", "mode": mode})
    with pytest.raises(ConfigError, match="interval_size"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "interval_size": 0}
        )
    with pytest.raises(ConfigError, match="signed integers"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l",
             "counts_checks_errata": {"repos": "three"}}
        )


def test_errata_default_zero(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({
        "table_root": "/t", "log_path": "/l",
        "counts_checks_errata": {"repos": -3},
    }))
    cfg = load_worker_config(str(p))
    assert cfg.erratum_for("repos") == -3
    assert cfg.erratum_for("unlisted") == 0


def test_multi_table_config_end_to_end(spark, tmp_path):
    """The reference's primary interface: a LIST of tables per config, each
    with its own schema/transformer/stream/erratum, planned and reconciled
    together (worker_config.py:51-65, app_controller.py:55-102). The second
    table exercises the nested array<struct> normalization (A7/A8/A9)
    through MERGE → MOR fold → reconcile."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        generate_commit_log,
        write_log_parquet,
    )

    repos_log = str(tmp_path / "repos_log")
    commits_log = str(tmp_path / "commits_log")
    write_log_parquet(
        generate_change_log(spark, 300, num_repos=5, paths_per_repo=10),
        repos_log, files=2,
    )
    write_log_parquet(generate_commit_log(spark, 300, num_repos=5), commits_log, files=2)
    cfg = worker_config_from_dict({
        "interval_size": 150,
        "num_buckets": 4,
        "counts_checks_errata": {"repos": 0, "commits": 0},
        "tables": [
            {"name": "repos", "table_root": str(tmp_path / "t_repos"),
             "log_path": repos_log},
            {"name": "commits", "table_root": str(tmp_path / "t_commits"),
             "log_path": commits_log, "schema": "commits",
             "normalizer": "commit_events", "stream_id": "commits"},
        ],
    })
    s1 = run_from_config(spark, cfg)
    assert s1["reconcile_ok"]
    assert s1["tables"]["repos"]["epochs_run"] >= 2
    assert s1["tables"]["commits"]["epochs_run"] >= 2
    # exactly-once across BOTH ledgers on rerun
    s2 = run_from_config(spark, cfg)
    assert s2["reconcile_ok"]
    assert s2["tables"]["repos"]["epochs_run"] == 0
    assert s2["tables"]["commits"]["epochs_run"] == 0

    # normalization reached storage: volatile column absent, nested
    # 'reserved' stripped, tag NULLs scrubbed
    t = LakeTable(spark, str(tmp_path / "t_commits"))
    rows = t.read().collect()
    assert rows
    assert "api_score" not in t.read().columns
    for r in rows:
        assert all(s.asDict().keys() == {"shard", "start_ts"} for s in r["shards"])
        assert all(tag is not None for tag in r["tags"])


def test_commits_merge_matches_duckdb_fold(spark, tmp_path):
    """Independent oracle for the second declared table: DuckDB applies the
    same normalization + LWW fold over the commit log and must agree with
    the engine's MERGE → MOR-fold read, nested columns included."""
    import duckdb

    from multiversx_etl_spark.operators.normalize import normalize_commit_events
    from multiversx_etl_spark.schemas import TABLES
    from multiversx_etl_spark.sources.changelog import (
        generate_commit_log,
        write_log_parquet,
    )
    from multiversx_etl_spark.streaming.ingest import ensure_table, replay

    log_path = str(tmp_path / "log")
    write_log_parquet(generate_commit_log(spark, 400, num_repos=6), log_path, files=2)
    _, target_schema, key = TABLES["commits"]
    table = ensure_table(
        spark, str(tmp_path / "t"), num_buckets=4,
        schema=target_schema, key_columns=key,
    )
    replay(
        spark.read.parquet(log_path), table, interval_size=150,
        normalizer=normalize_commit_events,
    )

    def canon_spark(rows):
        return {
            (
                r["repo"], r["commit"], r["author"], tuple(r["tags"]),
                tuple((s["shard"], s["start_ts"]) for s in r["shards"]), r["seq"],
            )
            for r in rows
        }

    got = canon_spark(table.read().collect())
    con = duckdb.connect()
    oracle = con.execute(f"""
        WITH norm AS (
          SELECT seq, op, repo, commit, author,
                 list_transform(tags, t -> coalesce(t, '')) AS tags,
                 list_transform(shards,
                                s -> {{'shard': s.shard, 'start_ts': s.start_ts}}) AS shards
          FROM read_parquet('{log_path}/*.parquet')
        ),
        w AS (
          SELECT *, row_number() OVER (PARTITION BY repo, commit
                                       ORDER BY seq DESC) AS rn
          FROM norm
        )
        SELECT repo, commit, author, tags, shards, seq
        FROM w WHERE rn = 1 AND op <> 'delete'
    """).fetchall()
    con.close()
    want = {
        (repo, commit, author, tuple(tags),
         tuple((s["shard"], s["start_ts"]) for s in shards), seq)
        for repo, commit, author, tags, shards, seq in oracle
    }
    assert got == want and len(got) > 0


def test_run_from_config_end_to_end(spark, tmp_path):
    """One configured iteration: replay + reconcile, exactly-once on rerun."""
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
    })
    s1 = run_from_config(spark, cfg)
    assert s1["reconcile_ok"] and s1["epochs_run"] >= 2
    s2 = run_from_config(spark, cfg)  # rerun: markers skip every epoch
    assert s2["epochs_run"] == 0 and s2["epochs_skipped"] == s1["epochs_run"]
    assert s2["reconcile_ok"]


def test_patching_table_through_config(spark, tmp_path):
    """VERDICT r03 #6: the worker-config surface exercises column-level LWW
    — a multi-table config where one table's log carries partial-image
    'patch' events, with finalizing mid-stream compaction, reconciles
    green (the oracle folds patches per column)."""
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        generate_commit_log,
        write_log_parquet,
    )

    repos_log = str(tmp_path / "rl")
    commits_log = str(tmp_path / "cl")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=6, paths_per_repo=12,
                            patch_fraction=0.35),
        repos_log, files=2,
    )
    write_log_parquet(generate_commit_log(spark, 200, num_repos=4), commits_log, files=2)
    cfg = worker_config_from_dict({
        "interval_size": 150,
        "num_buckets": 4,
        "tables": [
            {"name": "repos", "table_root": str(tmp_path / "tr"),
             "log_path": repos_log, "compact_every": 2},
            {"name": "commits", "table_root": str(tmp_path / "tc"),
             "log_path": commits_log, "schema": "commits",
             "normalizer": "commit_events", "stream_id": "commits"},
        ],
    })
    s = run_from_config(spark, cfg)
    assert s["reconcile_ok"]
    s2 = run_from_config(spark, cfg)
    assert s2["reconcile_ok"] and s2["tables"]["repos"]["epochs_run"] == 0


def test_join_fold_through_config(spark, tmp_path):
    """fold='join' + layout='spark' end-to-end from a config dict: the
    loader registers the bucketed log and the replay reconciles green."""
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_bucketed,
    )

    log_path = str(tmp_path / "bl")
    write_log_bucketed(
        generate_change_log(spark, 400, num_repos=6, paths_per_repo=12),
        log_path, 4, table_name="mxetl_cfg_gen",
    )
    spark.sql("DROP TABLE IF EXISTS mxetl_cfg_gen")
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
        "layout": "spark",
        "fold": "join",
    })
    s1 = run_from_config(spark, cfg)
    assert s1["reconcile_ok"] and s1["epochs_run"] >= 2
    s2 = run_from_config(spark, cfg)
    assert s2["epochs_run"] == 0 and s2["reconcile_ok"]
    # explicit xxhash can never serve the join fold; layout='auto' (the
    # default) is legal with fold='join' — it resolves at run time and the
    # bucketed-log registration stays loud if the sidecar can't prove it
    with pytest.raises(ConfigError, match="fold='join' requires"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "fold": "join",
             "layout": "xxhash"}
        )


def test_hot_config_reload_mid_stream(spark, tmp_path):
    """VERDICT r03 #8: the continuous trigger re-reads the config file and
    applies changed knobs without dropping the checkpoint — mutate
    max_files_per_trigger mid-stream, observe the reload, and verify the
    final state is exact (exactly-once across the restart)."""
    import json as _json

    from multiversx_etl_spark.config import stream_with_config_reload
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 300, num_repos=5, paths_per_repo=10),
        log_path, files=6,
    )
    want = expected_state(spark.read.parquet(log_path)).count()
    cfg_path = str(tmp_path / "cfg.json")

    def write_cfg(mfpt: int) -> None:
        with open(cfg_path, "w") as fh:
            _json.dump({
                "table_root": str(tmp_path / "t"),
                "log_path": log_path,
                "interval_size": 100,
                "num_buckets": 4,
                "max_files_per_trigger": mfpt,
                "trigger_interval": "1 seconds",
            }, fh)

    write_cfg(1)
    state = {"mutated": False}

    def on_poll(table, cfg) -> bool:
        if not state["mutated"]:
            state["mutated"] = True
            write_cfg(3)  # ops edit the file mid-stream
            return False
        # stop once the (reloaded) stream has drained the whole log
        return cfg.max_files_per_trigger == 3 and table.read().count() == want

    out = stream_with_config_reload(
        spark, cfg_path, str(tmp_path / "ckpt"), poll_seconds=0.3, on_poll=on_poll
    )
    assert out["reloads"] == 1
    assert [a["max_files_per_trigger"] for a in out["applied"]] == [1, 3]
    table = LakeTable(spark, str(tmp_path / "t"))
    assert table.read().count() == want  # no loss, no duplication


def test_malformed_config_shapes_raise_config_error():
    from multiversx_etl_spark.config import ConfigError, worker_config_from_dict

    for bad in (
        {"tables": ["x"]},                                   # non-dict entry
        {"tables": [{"tables": []}]},                        # nested tables
        {"table_root": "/t", "log_path": "/l",
         "counts_checks_errata": None},                      # null errata
        {"table_root": "/t", "log_path": "/l",
         "interval_size": "big"},                            # non-int size
        ["not", "an", "object"],                             # non-dict root
    ):
        with pytest.raises(ConfigError):
            worker_config_from_dict(bad)


def test_resolve_fold_auto_unit(tmp_path):
    """fold='auto' resolution is pure sidecar-vs-table arithmetic: join only
    when the engine can PROVE the zero-exchange plan applies; a bucketed log
    that can't be used reports WHY (surfaced as a note by the callers)."""
    from multiversx_etl_spark.sources.changelog import resolve_fold_auto

    kw = dict(layout="spark", num_buckets=4,
              key_columns=["repo", "path"])
    # plain log (no sidecar): silent union
    assert resolve_fold_auto(str(tmp_path), **kw) == ("union", None)
    (tmp_path / "_bucket_spec.json").write_text(
        json.dumps({"num_buckets": 4, "key_columns": ["repo", "path"]})
    )
    assert resolve_fold_auto(str(tmp_path), **kw) == ("join", None)
    for bad, frag in (
        (dict(kw, layout="xxhash"), "layout"),
        (dict(kw, num_buckets=8), "buckets"),
        (dict(kw, key_columns=["id"]), "key"),
    ):
        fold, why = resolve_fold_auto(str(tmp_path), **bad)
        assert fold == "union" and frag in why


def test_auto_fold_through_config(spark, tmp_path):
    """fold is now 'auto' by default: a spark-layout table over a bucketed
    log gets the zero-exchange join fold WITHOUT being asked; a plain log
    (or a layout that can't consume the buckets) falls back to union — both
    reconcile green."""
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_bucketed,
        write_log_parquet,
    )

    log = generate_change_log(spark, 400, num_repos=6, paths_per_repo=12)
    bl = str(tmp_path / "bl")
    write_log_bucketed(log, bl, 4, table_name="mxetl_auto_gen")
    spark.sql("DROP TABLE IF EXISTS mxetl_auto_gen")
    pl = str(tmp_path / "pl")
    write_log_parquet(log, pl, files=4)

    from multiversx_etl_spark.lake.table import LakeTable

    base = {"interval_size": 200, "num_buckets": 4}
    # an entirely-default config over a bucketed log: layout='auto' creates
    # a spark-layout table and fold='auto' picks the join fold — the
    # zero-exchange path with zero knobs
    s = run_from_config(spark, worker_config_from_dict({
        **base, "table_root": str(tmp_path / "tj"), "log_path": bl,
    }))
    assert s["fold"] == "join" and s["reconcile_ok"]
    assert LakeTable(spark, str(tmp_path / "tj")).snapshot().layout == "spark"
    s = run_from_config(spark, worker_config_from_dict({
        **base, "table_root": str(tmp_path / "tu"), "log_path": pl,
    }))
    assert s["fold"] == "union" and s["reconcile_ok"]
    assert LakeTable(spark, str(tmp_path / "tu")).snapshot().layout == "xxhash"
    # bucketed log into an EXPLICIT xxhash-layout table: auto downgrades
    # (correct, merely shuffled) instead of erroring like fold='join'
    s = run_from_config(spark, worker_config_from_dict({
        **base, "table_root": str(tmp_path / "tx"), "log_path": bl,
        "layout": "xxhash",
    }))
    assert s["fold"] == "union" and s["reconcile_ok"]


def test_continuous_join_fold_through_reload_supervisor(spark, tmp_path):
    """The full default stack at once: a zero-knob config (layout and fold
    both 'auto') over a bucketed log, driven by the hot-reload supervisor
    on a continuous trigger — the table comes up spark-layout, every
    micro-batch merges with the ZERO-EXCHANGE join fold (captured plan has
    no exchange), and the drained state is exact."""
    import json as _json
    import os as _os

    from multiversx_etl_spark.config import stream_with_config_reload
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.operators import merge as merge_mod
    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_bucketed,
    )

    log_path = str(tmp_path / "blog")
    write_log_bucketed(
        generate_change_log(spark, 400, num_repos=5, paths_per_repo=10,
                            partitions=2),
        log_path, 4, table_name="mxetl_cjf_gen", compact_files=True,
    )
    spark.sql("DROP TABLE IF EXISTS mxetl_cjf_gen")
    want = expected_state(spark.read.parquet(log_path)).count()
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(_json.dumps({
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
        "max_files_per_trigger": 2,
        "trigger_interval": "1 seconds",
    }))

    def on_poll(table, cfg) -> bool:
        try:
            return table.read().count() == want
        except Exception:
            return False

    _os.environ["MXETL_CAPTURE_PLAN"] = "1"
    try:
        stream_with_config_reload(
            spark, str(cfg_path), str(tmp_path / "ckpt"),
            poll_seconds=0.3, on_poll=on_poll,
        )
    finally:
        _os.environ.pop("MXETL_CAPTURE_PLAN", None)
    t = LakeTable(spark, str(tmp_path / "t"))
    assert t.snapshot().layout == "spark"
    assert t.read().count() == want
    plan = merge_mod.LAST_WRITE_PLAN
    assert plan is not None
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan


def test_reload_supervisor_survives_broken_schema_folder_edit(spark, tmp_path):
    """The reload guard covers the SCHEMA FILES too, not just the config:
    a mid-rewrite (torn) schema_folder JSON at reload time must leave the
    running generation untouched — the supervisor resolves the new
    generation's schemas BEFORE stopping the query. A later good edit then
    reloads normally."""
    import json as _json

    from multiversx_etl_spark.config import stream_with_config_reload
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.catalog import load_table_from_folder
    from multiversx_etl_spark.sources.changelog import (
        generate_catalog_log,
        write_log_parquet,
    )

    folder = tmp_path / "schemas"
    folder.mkdir()
    schema_v1 = [
        {"name": "_id", "type": "STRING", "mode": "REQUIRED"},
        {"name": "name", "type": "STRING"},
    ]
    (folder / "widgets.json").write_text(_json.dumps(schema_v1))
    log_path = str(tmp_path / "log")
    cat = load_table_from_folder(str(folder), "widgets")
    write_log_parquet(
        generate_catalog_log(spark, 200, "widgets", num_keys=20,
                             log_schema=cat.log_schema),
        log_path, files=4,
    )
    cfg_path = str(tmp_path / "cfg.json")

    def write_cfg(mfpt: int) -> None:
        with open(cfg_path, "w") as fh:
            _json.dump({
                "name": "widgets", "schema": "widgets", "normalizer": "widgets",
                "schema_folder": str(folder),
                "table_root": str(tmp_path / "t"), "log_path": log_path,
                "interval_size": 100, "num_buckets": 4,
                "max_files_per_trigger": mfpt,
                "trigger_interval": "1 seconds",
            }, fh)

    write_cfg(1)
    state = {"step": 0}

    def on_poll(table, cfg) -> bool:
        if state["step"] == 0:
            state["step"] = 1
            # ops half-writes the schema file, then touches the config:
            # the reload attempt must be IGNORED (stream stays up)
            (folder / "widgets.json").write_text('{"torn":')
            write_cfg(2)
            return False
        if state["step"] == 1 and cfg.max_files_per_trigger == 1:
            # still on generation 1 despite the config touch — now repair
            # the schema file and touch the config again: reload succeeds
            state["step"] = 2
            (folder / "widgets.json").write_text(_json.dumps(schema_v1))
            write_cfg(3)
            return False
        try:
            return cfg.max_files_per_trigger == 3 and table.read().count() > 0
        except Exception:
            return False

    out = stream_with_config_reload(
        spark, cfg_path, str(tmp_path / "ckpt"), poll_seconds=0.3,
        on_poll=on_poll,
    )
    # exactly ONE reload happened (the repaired edit); the torn one was
    # ignored without killing the query
    assert out["reloads"] == 1
    assert [a["max_files_per_trigger"] for a in out["applied"]] == [1, 3]
    assert LakeTable(spark, str(tmp_path / "t")).read().count() > 0


def test_multi_table_thread_pool_matches_sequential(spark, tmp_path):
    """num_threads — the reference's thread-pool consume loop
    (worker_config.py:57,86: mainnet runs 4-8 threads;
    app_controller.py:156-193): a 4-table run on 4 threads produces
    byte-identical per-table state and the same summaries as the
    sequential run of the same config."""
    from multiversx_etl_spark.config import run_from_config, worker_config_from_dict
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_catalog_log,
        write_log_parquet,
    )

    names = ["rounds", "events", "accounts", "tokens"]
    logs = {}
    for name in names:
        logs[name] = str(tmp_path / f"log_{name}")
        write_log_parquet(
            generate_catalog_log(spark, 200, name, num_keys=25),
            logs[name], files=2,
        )

    def cfg(suffix, threads):
        return worker_config_from_dict({
            "interval_size": 200, "num_buckets": 4, "num_threads": threads,
            "tables": [
                {"name": n, "schema": n, "normalizer": n,
                 "table_root": str(tmp_path / f"t_{suffix}_{n}"),
                 "log_path": logs[n],
                 # exercise both processing modes through the pool
                 **({"processing": "mutable"} if n in ("accounts", "tokens") else {})}
                for n in names
            ],
        })

    par = run_from_config(spark, cfg("p", 4))
    seq = run_from_config(spark, cfg("s", 1))
    assert par["reconcile_ok"] and seq["reconcile_ok"]
    assert list(par["tables"]) == list(seq["tables"]) == names  # config order
    for n in names:
        assert par["tables"][n] == seq["tables"][n], n
        a = LakeTable(spark, str(tmp_path / f"t_p_{n}")).read()
        b = LakeTable(spark, str(tmp_path / f"t_s_{n}")).read()
        cols = sorted(a.columns)
        assert a.select(*cols).exceptAll(b.select(*cols)).count() == 0
        assert b.select(*cols).exceptAll(a.select(*cols)).count() == 0


def test_num_threads_validation():
    from multiversx_etl_spark.config import ConfigError, worker_config_from_dict

    with pytest.raises(ConfigError, match="num_threads"):
        worker_config_from_dict({
            "num_threads": 0,
            "tables": [{"table_root": "/t", "log_path": "/l"}],
        })
    # per-table / single-table num_threads is rejected: it is a property
    # of the multi-table RUN
    with pytest.raises(ConfigError, match="unknown config keys"):
        worker_config_from_dict({
            "table_root": "/t", "log_path": "/l", "num_threads": 4,
        })
    # distinct names sharing one table_root: double-processing when
    # sequential, concurrent same-table writes under a pool — rejected
    with pytest.raises(ConfigError, match="duplicate table_root"):
        worker_config_from_dict({
            "tables": [
                {"name": "a", "table_root": "/t", "log_path": "/l1"},
                {"name": "b", "table_root": "/t", "log_path": "/l2"},
            ],
        })


def test_multi_table_continuous_streaming_hoists_queries(spark, tmp_path):
    """Continuous multi-table runs return every live query handle in a
    top-level streaming_queries list, leaving the per-table summaries
    JSON-serializable (the CLI json.dumps them verbatim)."""
    import json

    from multiversx_etl_spark.config import run_from_config, worker_config_from_dict
    from multiversx_etl_spark.sources.changelog import (
        generate_catalog_log,
        write_log_parquet,
    )

    names = ["rounds", "events"]
    tables_cfg = []
    for n in names:
        lp = str(tmp_path / f"log_{n}")
        write_log_parquet(
            generate_catalog_log(spark, 100, n, num_keys=10), lp, files=2
        )
        tables_cfg.append({
            "name": n, "schema": n, "normalizer": n,
            "table_root": str(tmp_path / f"t_{n}"), "log_path": lp,
        })
    cfg = worker_config_from_dict({
        "interval_size": 100, "num_buckets": 4, "num_threads": 2,
        "trigger_interval": "1 seconds", "tables": tables_cfg,
    })
    out = run_from_config(
        spark, cfg, streaming=True, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        assert len(out["streaming_queries"]) == len(names)
        json.dumps(out["tables"])  # no live handles left in the summaries
        assert all(s["reconcile_skipped"] for s in out["tables"].values())
    finally:
        for q in out["streaming_queries"]:
            q.stop()


def test_thread_pool_first_failure_stops_and_reraises(spark, tmp_path):
    """Reference error semantics (app_controller.py:156-193): the first
    failing table stops the pool and the error surfaces to the caller."""
    from multiversx_etl_spark.config import run_from_config, worker_config_from_dict
    from multiversx_etl_spark.operators.checks import CountsMismatchError
    from multiversx_etl_spark.sources.changelog import (
        generate_catalog_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_catalog_log(spark, 150, "rounds", num_keys=15), log_path, files=2
    )
    cfg = worker_config_from_dict({
        "interval_size": 150, "num_buckets": 4, "num_threads": 3,
        "tables": [
            {"name": f"rounds{i}", "schema": "rounds", "normalizer": "rounds",
             "table_root": str(tmp_path / f"t{i}"), "log_path": log_path,
             # an exact synthetic log with a NONZERO erratum must fail the
             # counts check on table 1 (adjusted delta = erratum)
             **({"counts_checks_errata": {"rounds1": 5}} if i == 1 else {})}
            for i in range(3)
        ],
    })
    with pytest.raises(CountsMismatchError):
        run_from_config(spark, cfg)


def test_stat_columns_through_config(spark, tmp_path):
    """The zone-map stat policy rides the worker-config surface: a NEW
    table adopts the configured columns and every configured replay
    records their per-file min/max."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    with pytest.raises(ConfigError, match="stat_columns"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "stat_columns": "seq"}
        )
    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
        "stat_columns": ["repo", "path", "seq"],
    })
    assert run_from_config(spark, cfg)["reconcile_ok"]
    m = LakeTable(spark, str(tmp_path / "t")).snapshot()
    assert m.properties["stat_columns"] == ["repo", "path", "seq"]
    assert all("seq" in f.get("stats", {}) for f in m.files)


def test_description_and_clustering_through_config(spark, tmp_path):
    """Config-declared table metadata (the reference's out-of-band
    `bq update` flows as config keys): description + clustering apply at
    run start through the idempotent metadata commits — re-running an
    unchanged config adds NO versions, and flagless maintenance keeps the
    declared layout."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    with pytest.raises(ConfigError, match="description must be a string"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "description": 7}
        )
    with pytest.raises(ConfigError, match="clustering"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "clustering": {"sort": ["x"]}}
        )
    with pytest.raises(ConfigError, match="max_records_per_file"):
        worker_config_from_dict({
            "table_root": "/t", "log_path": "/l",
            "clustering": {"sort_columns": ["seq"], "max_records_per_file": 0},
        })

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
        "description": "Source files of repositories.",
        "clustering": {"sort_columns": ["seq"], "max_records_per_file": 10},
    })
    s1 = run_from_config(spark, cfg)
    assert s1["reconcile_ok"]
    table = LakeTable(spark, str(tmp_path / "t"))
    m = table.snapshot()
    assert m.properties["description"] == "Source files of repositories."
    assert m.properties["clustering_sort_columns"] == ["seq"]
    assert m.properties["clustering_max_records_per_file"] == 10
    assert "seq" in m.properties["stat_columns"]

    # unchanged config reruns add NO metadata versions (both ops no-op)
    v1 = table.current_version()
    s2 = run_from_config(spark, cfg)
    assert s2["epochs_run"] == 0 and s2["reconcile_ok"]
    assert table.current_version() == v1

    # flagless maintenance honors the config-declared layout: vs an
    # explicit unsliced rewrite, the declared 10-row slices multiply files
    base = len(table.compact(full=True, sort_columns=["repo", "path"],
                             max_records_per_file=10_000).files)
    m2 = table.compact(full=True)
    assert len(m2.files) > base
    assert all("seq" in f.get("stats", {}) for f in m2.files)


def test_promote_to_through_config(spark, tmp_path):
    """The reference's staging → main transfer as a config key
    (bq_client.py:103-116: load `<table>_staging`, copy over main): a green
    iteration promotes atomically; the main table is created on first
    promotion and byte-equals the staging fold."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    with pytest.raises(ConfigError, match="differ from table_root"):
        worker_config_from_dict(
            {"table_root": "/t", "log_path": "/l", "promote_to": "/t"}
        )
    with pytest.raises(ConfigError, match="continuous"):
        worker_config_from_dict({
            "table_root": "/t", "log_path": "/l",
            "promote_to": "/main", "trigger_interval": "1 second",
        })

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "staging"),
        "log_path": log_path,
        "interval_size": 200,
        "num_buckets": 4,
        "promote_to": str(tmp_path / "main"),
    })
    s1 = run_from_config(spark, cfg)
    assert s1["reconcile_ok"] and s1["promoted"]
    staging = LakeTable(spark, str(tmp_path / "staging"))
    main = LakeTable(spark, str(tmp_path / "main"))
    assert main.read().exceptAll(staging.read()).count() == 0
    assert staging.read().exceptAll(main.read()).count() == 0

    # every green iteration transfers (the reference's cadence); state
    # stays identical and the promotion is O(files), not O(bytes)
    s2 = run_from_config(spark, cfg)
    assert s2["epochs_run"] == 0 and s2["promoted"]
    assert main.read().exceptAll(staging.read()).count() == 0


def test_batch_loop_rereads_config_each_iteration(spark, tmp_path):
    """The reference's process-*-indices OUTER loop: every iteration
    re-reads the config file (app.py:82-86), so an edit between iterations
    — here adding a description — lands without a restart."""
    from multiversx_etl_spark.config import run_loop_from_config
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 200, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg_path = tmp_path / "cfg.json"
    body = {
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 100,
        "num_buckets": 4,
    }
    cfg_path.write_text(json.dumps(body))

    def edit_mid_loop(i, summary):
        assert summary["reconcile_ok"]
        if i == 1:
            cfg_path.write_text(
                json.dumps({**body, "description": "edited mid-loop"})
            )

    summaries = run_loop_from_config(
        spark, str(cfg_path), sleep_between_iterations=0.01,
        max_iterations=2, on_iteration=edit_mid_loop,
    )
    assert len(summaries) == 2
    assert summaries[1]["epochs_run"] == 0  # exactly-once across iterations
    m = LakeTable(spark, str(tmp_path / "t")).snapshot()
    assert m.properties["description"] == "edited mid-loop"


def test_promote_and_loop_cli(spark, tmp_path):
    """CLI wiring for the transfer + loop surfaces: `promote --from` creates
    the main table and moves the state; `run-config
    --sleep-between-iterations --max-iterations 1` runs one batch loop
    iteration and prints per-iteration JSON."""
    import os
    import subprocess
    import sys

    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 200, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps({
        "table_root": str(tmp_path / "staging"),
        "log_path": log_path,
        "interval_size": 100,
        "num_buckets": 4,
    }))
    env = {**os.environ, "PYTHONPATH": REPO}
    loop = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "run-config", str(cfg_path),
            "--sleep-between-iterations", "0.01", "--max-iterations", "1",
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert loop.returncode == 0, loop.stderr[-3000:]
    lines = [json.loads(x) for x in loop.stdout.strip().splitlines() if x.startswith("{")]
    assert lines[0]["iteration"] == 1 and lines[0]["reconcile_ok"]
    assert lines[-1] == {"iterations": 1, "stopped": False}

    prom = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "promote", str(tmp_path / "main"), "--from", str(tmp_path / "staging"),
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert prom.returncode == 0, prom.stderr[-3000:]
    out = json.loads(prom.stdout.strip().splitlines()[-1])
    main = LakeTable(spark, str(tmp_path / "main"))
    staging = LakeTable(spark, str(tmp_path / "staging"))
    assert out["version"] == main.current_version()
    assert main.read().exceptAll(staging.read()).count() == 0
    assert staging.read().exceptAll(main.read()).count() == 0


def test_deployment_loop_schema_push_promote_e2e(spark, tmp_path):
    """The reference's production topology in one flow: the batch loop
    (config re-read each pass) drives a schema_folder-declared staging
    table with description+clustering; new data AND a schema-file edit
    land between iterations; every green iteration promotes into main.
    End state: main carries the widened schema, the staging fold exactly,
    and the staging's clustering spec for its own flagless maintenance."""
    from importlib import resources

    import pyspark.sql.functions as F

    from multiversx_etl_spark.catalog import load_table_from_folder
    from multiversx_etl_spark.config import run_loop_from_config
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_catalog_log,
        write_log_parquet,
    )

    folder = tmp_path / "schemas"
    folder.mkdir()
    base_fields = json.loads(
        resources.files("multiversx_etl_spark")
        .joinpath("bq_schemas/blocks.json").read_text()
    )
    (folder / "blocks.json").write_text(json.dumps(base_fields))
    log_dir = str(tmp_path / "log")
    ct1 = load_table_from_folder(str(folder), "blocks")
    write_log_parquet(
        generate_catalog_log(spark, 200, "blocks", num_keys=20,
                             log_schema=ct1.log_schema),
        log_dir, files=2,
    )
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps({
        "name": "blocks",
        "table_root": str(tmp_path / "staging"),
        "log_path": log_dir,
        "interval_size": 150,
        "num_buckets": 4,
        "schema": "blocks",
        "normalizer": "blocks",
        "schema_folder": str(folder),
        "description": "Blocks.",
        "clustering": {"sort_columns": ["seq"], "max_records_per_file": 50},
        "promote_to": str(tmp_path / "main"),
    }))

    def ops_moment(i, summary):
        assert summary["reconcile_ok"] and summary["promoted"], summary
        if i == 1:
            # between iterations: the schema file gains a field AND a second
            # log generation carrying it lands (guard band past slice 1)
            (folder / "blocks.json").write_text(json.dumps(
                base_fields + [{"name": "notarizedAt", "type": "INTEGER"}]
            ))
            ct2 = load_table_from_folder(str(folder), "blocks")
            generate_catalog_log(
                spark, 150, "blocks", num_keys=6,
                log_schema=ct2.log_schema, offset_base=300,
            ).write.mode("append").parquet(log_dir)

    summaries = run_loop_from_config(
        spark, str(cfg_path), sleep_between_iterations=0.01, max_iterations=2,
        on_iteration=ops_moment,
    )
    assert len(summaries) == 2 and summaries[1]["promoted"]

    staging = LakeTable(spark, str(tmp_path / "staging"))
    main = LakeTable(spark, str(tmp_path / "main"))
    got = main.read()
    # the widening reached main through the second promotion
    assert "notarizedAt" in got.columns
    assert got.where(F.col("notarizedAt").isNotNull()).count() > 0
    assert got.where(F.col("notarizedAt").isNull()).count() > 0
    # main == staging fold, both directions
    assert got.exceptAll(staging.read()).count() == 0
    assert staging.read().exceptAll(got).count() == 0
    # staging's description + clustering rode along; flagless maintenance
    # on MAIN keeps the declared layout
    m = main.snapshot()
    assert m.properties["clustering_sort_columns"] == ["seq"]
    m2 = main.compact(full=True)
    assert all("seq" in f.get("stats", {}) for f in m2.files)


def test_multi_table_promote_to_collisions_rejected():
    """Two tables promoting into one main (a top-level promote_to merged
    into every entry, or a copy-paste) silently overwrite each other's
    promotions; a promote_to that equals another entry's table_root
    clobbers a live staging table. Both must fail at plan time, like the
    adjacent duplicate-table_root check."""
    # top-level promote_to is merged into EVERY entry by the defaults
    # machinery — exactly the dangerous shape
    with pytest.raises(ConfigError, match="duplicate promote_to"):
        worker_config_from_dict({
            "promote_to": "/main",
            "tables": [
                {"name": "a", "table_root": "/a", "log_path": "/la"},
                {"name": "b", "table_root": "/b", "log_path": "/lb"},
            ],
        })
    with pytest.raises(ConfigError, match="collides with a table_root"):
        worker_config_from_dict({
            "tables": [
                {"name": "a", "table_root": "/a", "log_path": "/la",
                 "promote_to": "/b"},
                {"name": "b", "table_root": "/b", "log_path": "/lb"},
            ],
        })
    # distinct promote_to targets are fine
    cfg = worker_config_from_dict({
        "tables": [
            {"name": "a", "table_root": "/a", "log_path": "/la",
             "promote_to": "/main_a"},
            {"name": "b", "table_root": "/b", "log_path": "/lb",
             "promote_to": "/main_b"},
        ],
    })
    assert [t.promote_to for t in cfg.tables] == ["/main_a", "/main_b"]


def test_batch_loop_survives_torn_config_edit(spark, tmp_path):
    """The loop exists so ops can edit the config between iterations, and
    ops edits are not atomic: a torn/invalid read mid-loop must keep the
    previous config for that iteration (same contract as the streaming
    reload supervisor), while a bad FIRST load still fails at plan time."""
    from multiversx_etl_spark.config import run_loop_from_config
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 200, num_repos=5, paths_per_repo=10),
        log_path, files=2,
    )
    cfg_path = tmp_path / "cfg.json"
    body = {
        "table_root": str(tmp_path / "t"),
        "log_path": log_path,
        "interval_size": 100,
        "num_buckets": 4,
    }

    # first load of a torn file raises — no previous config to keep
    cfg_path.write_text('{"table_root": "/t", "log_p')
    with pytest.raises((ConfigError, ValueError)):
        run_loop_from_config(
            spark, str(cfg_path), sleep_between_iterations=0.01,
            max_iterations=1,
        )

    cfg_path.write_text(json.dumps(body))

    def corrupt_mid_loop(i, summary):
        assert summary["reconcile_ok"]
        if i == 1:
            # half-written save landing exactly when the sleep ends
            cfg_path.write_text('{"table_root": "/t", "log_p')

    summaries = run_loop_from_config(
        spark, str(cfg_path), sleep_between_iterations=0.01,
        max_iterations=2, on_iteration=corrupt_mid_loop,
    )
    assert len(summaries) == 2
    assert summaries[1]["reconcile_ok"]  # ran on the KEPT previous config
    assert summaries[1]["epochs_run"] == 0  # exactly-once held across both
    assert LakeTable(spark, str(tmp_path / "t")).read().count() > 0


def test_max_iterations_requires_loop_flag(tmp_path):
    """--max-iterations without --sleep-between-iterations used to be
    silently ignored (one plain iteration ran); it must refuse loudly,
    before the JVM spin-up."""
    import os
    import subprocess
    import sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps({"table_root": "/t", "log_path": "/l"}))
    r = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark",
            "run-config", str(cfg_path), "--max-iterations", "5",
        ],
        capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert r.returncode == 2
    assert "--sleep-between-iterations" in r.stderr
