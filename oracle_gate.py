"""CI-style local oracle gate: every __spark_entry__.queries() entry vs its
DuckDB oracle, one JSON artifact out (VERDICT r04 next-round item #2).

The driver's CORRECTNESS_r{N}.json has been pinned to the round-3 set of 50
queries for two rounds (nothing merged after r02 ever gained a driver row),
so this script is the machine-written attestation for the FULL surface:
exactly the comparison the driver runs (row count, column-name set, exact
order-insensitive values, dtype check) over every queries() entry, emitted
as ``{"name": {"rows_match":…, "schema_match":…, "hash_match":…, "err":…}}``
— the same row shape the driver records — plus a summary header.
An entry with no ``oracle_sql`` is only run and row-counted: its match
fields stay null, it carries ``rows_only: true``, and the summary counts
it under ``rows_only``, never under ``pass``.

Usage:  python oracle_gate.py [out.json]         # default ORACLE_LOCAL_r05.json
Env:    ORACLE_SF_DIR (default /root/testdata/sf0.01), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from tests.test_query_oracle import TABLES, canon  # noqa: E402

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.9g").encode()
    ).hexdigest()


def _status(rec: dict) -> str:
    if rec["err"] is not None:
        return "FAIL"
    if rec.get("rows_only"):
        return "ROWS-ONLY"
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    return "PASS" if ok else "FAIL"


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "ORACLE_LOCAL_r05.json"
    from multiversx_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "oracle-gate",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    sqls = entry_mod.oracle_sql()
    results: dict[str, dict] = {}
    t0 = time.time()
    for name in sorted(queries):
        rec: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "dtype_match": None, "spark_rows": None, "oracle_rows": None,
            "err": None,
        }
        try:
            spark_df = queries[name](spark, SF_DIR).toPandas()
            rec["spark_rows"] = int(len(spark_df))
            if name not in sqls:
                rec["rows_only"] = True
                rec["note"] = "rows-only (no oracle_sql entry)"
            else:
                oracle_df = con.execute(sqls[name]).df()
                rec["oracle_rows"] = int(len(oracle_df))
                rec["rows_match"] = len(spark_df) == len(oracle_df)
                rec["schema_match"] = sorted(spark_df.columns) == sorted(
                    oracle_df.columns
                )
                if rec["rows_match"] and rec["schema_match"]:
                    a, b = canon(spark_df), canon(oracle_df)
                    try:
                        pd.testing.assert_frame_equal(
                            a, b, check_dtype=True, check_exact=True
                        )
                        rec["hash_match"] = rec["dtype_match"] = True
                    except AssertionError as e:
                        # distinguish value vs dtype failures for the report
                        rec["hash_match"] = value_hash(
                            a.astype(str)
                        ) == value_hash(b.astype(str))
                        rec["dtype_match"] = False
                        rec["err"] = str(e).split("\n")[0][:300]
                else:
                    rec["hash_match"] = False
        except Exception as e:  # noqa: BLE001 — gate must record, not die
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = rec
        print(f"{_status(rec)} {name}", file=sys.stderr, flush=True)
    n_pass = sum(1 for r in results.values() if _status(r) == "PASS")
    n_rows_only = sum(1 for r in results.values() if _status(r) == "ROWS-ONLY")
    git_head = subprocess.run(
        ["git", "rev-parse", "HEAD"],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    ).stdout.strip()
    doc = {
        "_summary": {
            "pass": n_pass,
            "rows_only": n_rows_only,
            "total": len(results),
            "sf_dir": SF_DIR,
            "git_head": git_head,
            "wall_sec": round(time.time() - t0, 1),
            "generated_unix": int(t0),
            "command": "python oracle_gate.py",
        },
        **results,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(
        f"{n_pass}/{len(results) - n_rows_only} value-exact pass, "
        f"{n_rows_only} rows-only -> {out_path}",
        file=sys.stderr,
    )
    spark.stop()
    return 0 if n_pass + n_rows_only == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
