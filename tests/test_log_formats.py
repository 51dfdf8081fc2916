"""Pluggable change-log source formats (sources/changelog.LOG_FORMATS).

Parquet is the engine's native log format; NDJSON is the reference's actual
wire format (its extract stage writes newline-delimited JSON staging files,
tasks_runner.py:61-72, and BigQuery loads NEWLINE_DELIMITED_JSON,
bq_client.py:90); ORC and CSV are interop. Every format must round-trip the
log EXACTLY — including patch events, whose NULL-vs-empty-string payload
distinction carries the column-level LWW semantics (CSV uses the \\N
sentinel for this) — and replay/stream to the same table state as parquet.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.schemas import CHANGE_EVENTS, REPOS
from multiversx_etl_spark.sources.changelog import (
    LOG_FORMATS,
    generate_change_log,
    read_log,
    write_log,
)
from multiversx_etl_spark.streaming.ingest import ensure_table, replay, stream_ingest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(
        (r["offset"], r["seq"], r["op"], r["repo"], r["path"],
         r["commit"], r["lang"], r["content"],
         None if r["event_ts"] is None else r["event_ts"].isoformat())
        for r in df.collect()
    )


@pytest.mark.parametrize("fmt", LOG_FORMATS)
def test_log_round_trips_exactly(spark, tmp_path, fmt):
    log = generate_change_log(
        spark, 400, num_repos=10, paths_per_repo=10, patch_fraction=0.4
    )
    path = str(tmp_path / fmt)
    write_log(log, path, files=3, log_format=fmt)
    back = read_log(spark, path, fmt)
    # file reads flatten nullability: compare the declared names and types
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in CHANGE_EVENTS.fields
    ]
    assert _rows(back) == _rows(log)


def test_csv_round_trips_hostile_strings_and_null_vs_empty(spark, tmp_path):
    """The two CSV traps: quoting (commas/quotes/newlines inside content)
    and NULL vs empty string — a patch's NULL means KEEP, an empty string
    means SET EMPTY, and collapsing them would corrupt column-level LWW."""
    cols = (
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    rows = [
        (0, 1, "insert", "r", "a.py", "c1", "py", 'line1\n"quoted, csv"\nline3'),
        (1, 2, "patch", "r", "a.py", None, "", None),  # NULL commit+content, EMPTY lang
        (2, 3, "insert", "r", "b.py", "\\N", "py", ""),  # literal backslash-N content
    ]
    df = spark.createDataFrame(rows, cols)
    path = str(tmp_path / "csv")
    write_log(df, path, log_format="csv")
    from pyspark.sql.types import StructType

    schema = StructType([f for f in CHANGE_EVENTS.fields if f.name != "event_ts"])
    back = read_log(spark, path, "csv", schema=schema)
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(rows)
    # the \N sentinel is reserved for NULL: a literal "\N" value cannot
    # round-trip (documented interop constraint) — every OTHER value must
    got_by_key = {g[:2]: g for g in got}
    assert got_by_key[(0, 1)] == want[0]
    assert got_by_key[(1, 2)][5] is None          # NULL commit stays NULL
    assert got_by_key[(1, 2)][6] == ""            # EMPTY lang stays empty
    assert got_by_key[(1, 2)][7] is None          # NULL content stays NULL
    assert got_by_key[(2, 3)][7] == ""            # empty content stays empty


@pytest.mark.parametrize("fmt", ["ndjson", "orc", "csv"])
def test_replay_from_any_format_matches_parquet_state(spark, tmp_path, fmt):
    log = generate_change_log(
        spark, 600, num_repos=12, paths_per_repo=8, patch_fraction=0.3
    )
    p_parquet = str(tmp_path / "parquet")
    p_other = str(tmp_path / fmt)
    write_log(log, p_parquet, files=2, log_format="parquet")
    write_log(log, p_other, files=2, log_format=fmt)

    t1 = ensure_table(spark, str(tmp_path / "t1"), num_buckets=4)
    replay(read_log(spark, p_parquet, "parquet"), t1, interval_size=200)
    t2 = ensure_table(spark, str(tmp_path / "t2"), num_buckets=4)
    replay(read_log(spark, p_other, fmt), t2, interval_size=200)

    a = t1.read().select(*[f.name for f in REPOS.fields])
    b = t2.read().select(*[f.name for f in REPOS.fields])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0


def test_stream_ingest_ndjson_landing_zone(spark, tmp_path):
    """The reference's actual wire topology: a Structured Streaming tail
    over an NDJSON landing zone, checkpointed, exactly-once."""
    log = generate_change_log(
        spark, 500, num_repos=10, paths_per_repo=8, patch_fraction=0.2
    )
    zone = str(tmp_path / "zone")
    write_log(log, zone, files=4, log_format="ndjson")
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    stream_ingest(
        spark, zone, table, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, log_format="ndjson",
    )
    # batch oracle on the same log
    t2 = ensure_table(spark, str(tmp_path / "t2"), num_buckets=4)
    replay(read_log(spark, zone, "ndjson"), t2, interval_size=10_000)
    a = table.read().select(*[f.name for f in REPOS.fields])
    b = t2.read().select(*[f.name for f in REPOS.fields])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # idempotence: a second drain from the same checkpoint is a no-op
    v = table.current_version()
    stream_ingest(
        spark, zone, table, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, log_format="ndjson",
    )
    assert table.current_version() == v


def test_config_log_format_e2e(spark, tmp_path):
    """The worker-config surface reaches the format knob: a single-table
    config over an NDJSON log replays and reconciles green."""
    import json

    from multiversx_etl_spark.config import (
        ConfigError,
        load_worker_config,
        run_from_config,
    )

    log = generate_change_log(
        spark, 400, num_repos=8, paths_per_repo=8, patch_fraction=0.2
    )
    zone = str(tmp_path / "zone")
    write_log(log, zone, files=2, log_format="ndjson")
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump({
            "table_root": str(tmp_path / "t"),
            "log_path": zone,
            "log_format": "ndjson",
            "interval_size": 200,
            "num_buckets": 4,
        }, fh)
    out = run_from_config(spark, load_worker_config(cfg_path))
    assert out["reconcile_ok"]

    with open(cfg_path, "w") as fh:
        json.dump({
            "table_root": str(tmp_path / "t2"),
            "log_path": zone,
            "log_format": "avro",
        }, fh)
    with pytest.raises(ConfigError, match="log_format"):
        load_worker_config(cfg_path)


def test_cli_gen_replay_ndjson(tmp_path):
    """CLI wiring: gen-log --format ndjson, then replay --log-format ndjson."""
    env = dict(os.environ, PYTHONPATH=REPO)
    zone, table = str(tmp_path / "zone"), str(tmp_path / "t")
    r1 = subprocess.run(
        [sys.executable, "-m", "multiversx_etl_spark", "gen-log", zone,
         "--events", "300", "--format", "ndjson", "--files", "2"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert '"written"' in r1.stdout
    r2 = subprocess.run(
        [sys.executable, "-m", "multiversx_etl_spark", "replay", zone, table,
         "--interval-size", "200", "--log-format", "ndjson"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert '"epochs_run"' in r2.stdout
