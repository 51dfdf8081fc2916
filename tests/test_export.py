"""Snapshot export: the folded live state as plain parquet any tool reads
without the engine (BQ `EXPORT DATA` / Iceberg snapshot-export analog).
The lake's own files are merge-on-read — correct only through the engine's
fold — so the export is how downstream non-engine consumers (DuckDB here,
standing in for anything) get exact state."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from multiversx_etl_spark.operators.merge import merge_batch
from multiversx_etl_spark.sources.changelog import (
    generate_change_log,
    write_log_parquet,
)
from multiversx_etl_spark.streaming.ingest import ensure_table, replay


def _export(tmp_path, table_dir, out, *extra):
    run = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "export", str(table_dir), str(out), *extra,
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def test_export_is_engine_free_and_exact(spark, tmp_path):
    import duckdb

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 600, num_repos=10, paths_per_repo=10),
        log_path, files=2,
    )
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(spark.read.parquet(log_path), table, interval_size=200)
    v1 = table.current_version()

    out1 = tmp_path / "out1"
    res = _export(tmp_path, tmp_path / "t", out1)
    assert res["version"] == v1

    def canon(rows):
        return {tuple(r) for r in rows}

    want = canon(
        table.read().select("repo", "path", "seq", "content").collect()
    )
    assert res["rows"] == len(want)
    # DuckDB (no engine code) reads the export and sees the exact fold —
    # including that MOR deltas were folded and tombstones excluded
    con = duckdb.connect()
    got = canon(con.execute(
        f"SELECT repo, path, seq, content FROM read_parquet('{out1}/*.parquet')"
    ).fetchall())
    con.close()
    assert got == want

    # a later batch moves state; --version exports the OLD snapshot exactly
    merge_batch(table, spark.createDataFrame(
        [(10_000, 10_000, "update", "repo-00000", "p", "c", "py", "v2")],
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string",
    ), "aux", 0)
    out2 = tmp_path / "out2"
    res2 = _export(tmp_path, tmp_path / "t", out2, "--version", str(v1), "--files", "1")
    assert res2["rows"] == len(want)
    assert len([f for f in os.listdir(out2) if f.endswith(".parquet")]) == 1
    got2 = canon(
        spark.read.parquet(str(out2))
        .select("repo", "path", "seq", "content").collect()
    )
    assert got2 == want

    # --with-deleted surfaces tombstones for delete-applying downstreams
    out3 = tmp_path / "out3"
    res3 = _export(tmp_path, tmp_path / "t", out3, "--with-deleted")
    assert res3["rows"] > table.read().count()


def test_export_formats_ndjson_and_csv(spark, tmp_path):
    """Serving formats beyond parquet: NDJSON (the BigQuery-load shape —
    the reference's serving round trip) and CSV (NULLs as \\N, header on)
    must carry the exact folded state to an engine-free consumer."""
    import duckdb

    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, 400, num_repos=8, paths_per_repo=8),
        log_path, files=2,
    )
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(spark.read.parquet(log_path), table, interval_size=200)
    want = {
        (r["repo"], r["path"], r["seq"], r["content"])
        for r in table.read().select("repo", "path", "seq", "content").collect()
    }
    assert want

    outj = tmp_path / "outj"
    res = _export(tmp_path, tmp_path / "t", outj, "--format", "ndjson",
                  "--files", "1")
    assert res["rows"] == len(want) and res["format"] == "ndjson"
    con = duckdb.connect()
    got = set(con.execute(
        f"SELECT repo, path, seq, content FROM read_json_auto('{outj}/*.json')"
    ).fetchall())
    assert got == want

    outc = tmp_path / "outc"
    res = _export(tmp_path, tmp_path / "t", outc, "--format", "csv",
                  "--files", "1")
    assert res["rows"] == len(want) and res["format"] == "csv"
    got = set(con.execute(
        f"""SELECT repo, path, seq, content
            FROM read_csv('{outc}/*.csv', header=true, nullstr='\\N')"""
    ).fetchall())
    con.close()
    assert got == want
