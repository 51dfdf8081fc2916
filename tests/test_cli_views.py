"""The refresh-view CLI: a fresh consumer process creates and refreshes
materialized views over a table this process built — the ops surface for
view maintenance (cron-able, like the replicate CLI)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.operators.merge import merge_batch
from multiversx_etl_spark.schemas import REPOS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(spark, rows):
    cols = (
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    return spark.createDataFrame(rows, cols)


def _cli(*argv: str) -> dict:
    run = subprocess.run(
        [sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]", *argv],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": REPO},
        cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def test_refresh_view_cli_minhash_and_agg(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    merge_batch(src, _batch(spark, [
        (0, 1, "insert", "r1", "a.py", "c", "py", "alpha beta gamma delta epsilon"),
        (1, 1, "insert", "r2", "b.py", "c", "py", "alpha beta gamma delta epsilon"),
        (2, 1, "insert", "r3", "c.py", "c", "rs", "one two three four five"),
    ]), "m", 0, 0, 3)

    mh_spec = tmp_path / "mh.json"
    mh_spec.write_text(json.dumps({"kind": "minhash_index", "bands": 3}))
    out = _cli(
        "refresh-view", str(tmp_path / "src"), str(tmp_path / "mh"),
        "--spec", str(mh_spec), "--buckets", "4",
    )
    assert out["view_rows"] == 3 and out["rows_in"] == 3

    agg_spec = tmp_path / "agg.json"
    agg_spec.write_text(json.dumps({"kind": "agg", "dims": ["lang"]}))
    out = _cli(
        "refresh-view", str(tmp_path / "src"), str(tmp_path / "agg"),
        "--spec", str(agg_spec), "--buckets", "4",
    )
    assert out["view_rows"] == 2  # py, rs

    # identical vendored files share every band: the index view agrees with
    # an in-process read
    mh = LakeTable(spark, str(tmp_path / "mh"))
    rows = {r["repo"]: r["minhash_1"] for r in mh.read().collect()}
    assert rows["r1"] == rows["r2"] != rows["r3"]

    # second round: a delete flows through; re-run is then up to date
    merge_batch(src, _batch(spark, [
        (3, 2, "delete", "r2", "b.py", "c", None, None),
    ]), "m", 1, 3, 4)
    out = _cli(
        "refresh-view", str(tmp_path / "src"), str(tmp_path / "mh"),
        "--spec", str(mh_spec),
    )
    assert out["deleted"] == 1 and out["view_rows"] == 2
    out = _cli(
        "refresh-view", str(tmp_path / "src"), str(tmp_path / "mh"),
        "--spec", str(mh_spec),
    )
    assert out["up_to_date"] is True


def test_maintain_cli(spark, tmp_path):
    """One cron-able pass: compact + expire + orphan GC, reported together."""
    src = LakeTable.create(
        spark, str(tmp_path / "m"), REPOS, key_columns=["repo", "path"], num_buckets=4
    )
    for i in range(4):
        merge_batch(src, _batch(spark, [
            (i, 10 + i, "insert", "r1", f"f{i}.py", "c", "py", f"body {i}"),
        ]), "s", i)
    assert int(src.snapshot().properties["mor_appends"]) > 0
    out = _cli("maintain", str(tmp_path / "m"), "--keep-last", "2", "--min-age", "0")
    assert out["files_after"] <= out["files_before"] + 1
    assert out["expired_manifests"] >= 1
    t = LakeTable(spark, str(tmp_path / "m"))
    m = t.snapshot()
    assert int(m.properties["mor_appends"]) == 0
    assert t.read().count() == 4


def test_run_config_watch_sigint(spark, tmp_path):
    """`run-config --watch` is the ops entrypoint for the hot-reload
    supervisor (the reference's continuous loop, app.py:82-86): a fresh
    process tails the log under a config file, and Ctrl-C stops it
    GRACEFULLY — clean exit code, a final JSON line with ``stopped``, and
    the table state exact (the checkpoint owns progress, so an interrupt
    mid-trigger loses nothing)."""
    import signal
    import time

    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 200, num_repos=4, paths_per_repo=8),
        log_path, files=4,
    )
    want = expected_state(spark.read.parquet(log_path)).count()
    table_root = str(tmp_path / "t")
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps({
        "table_root": table_root,
        "log_path": log_path,
        "interval_size": 100,
        "num_buckets": 4,
        "trigger_interval": "1 seconds",
    }))

    proc = subprocess.Popen(
        [sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
         "run-config", str(cfg_path), "--watch",
         "--checkpoint", str(tmp_path / "ckpt")],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env={**os.environ, "PYTHONPATH": REPO},
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            assert proc.poll() is None, proc.communicate()[1][-3000:]
            try:
                if LakeTable(spark, table_root).read().count() == want:
                    break
            except Exception:
                pass  # table not created yet
            time.sleep(2)
        else:
            raise AssertionError("stream never drained the log")
        proc.send_signal(signal.SIGINT)
        out, err = proc.communicate(timeout=180)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode == 0, err[-3000:]
    payload = json.loads(out.strip().splitlines()[-1])
    assert payload["stopped"] is True
    assert LakeTable(spark, table_root).read().count() == want


def test_replay_cli_auto_join_fold(spark, tmp_path):
    """The zero-exchange fold is derived at the CLI too: `gen-log
    --bucketed` then a bare `replay` detects the sidecar, creates a
    spark-layout table, and reports that every epoch ran the join fold —
    with the final state matching the log's LWW fold."""
    from multiversx_etl_spark.oracle import expected_state

    out = _cli("gen-log", str(tmp_path / "log"), "--events", "600",
               "--repos", "6", "--bucketed", "4")
    assert out["written"] >= 600
    # no --buckets either: the new table's count comes from the sidecar (a
    # default of 16 would bake in a mismatch that locks the join fold out)
    out = _cli("replay", str(tmp_path / "log"), str(tmp_path / "t"),
               "--interval-size", "200")
    assert out["folds"] == {"join": out["epochs_run"]} and out["epochs_run"] >= 3
    want = expected_state(spark.read.parquet(str(tmp_path / "log"))).count()
    assert out["final_rows"] == want
    m = LakeTable(spark, str(tmp_path / "t")).snapshot()
    assert m.layout == "spark" and m.num_buckets == 4


def test_stream_cli_auto_join_fold(spark, tmp_path):
    """The streaming CLI derives the same way: a bare `stream` over a
    bucketed log seeds a join-capable table, every micro-batch merges with
    the zero-exchange fold, and the drain is exact."""
    from multiversx_etl_spark.oracle import expected_state

    _cli("gen-log", str(tmp_path / "log"), "--events", "500",
         "--repos", "5", "--bucketed", "4")
    out = _cli("stream", str(tmp_path / "log"), str(tmp_path / "t"),
               str(tmp_path / "ckpt"), "--max-files-per-trigger", "3")
    assert set(out["folds"]) == {"join"} and out["folds"]["join"] >= 1
    want = expected_state(spark.read.parquet(str(tmp_path / "log"))).count()
    assert out["rows"] == want
    m = LakeTable(spark, str(tmp_path / "t")).snapshot()
    assert m.layout == "spark" and m.num_buckets == 4
