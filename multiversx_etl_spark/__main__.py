"""CLI driver — the engine's ``spark-submit`` surface.

The reference exposes its flows as CLI subcommands
(/root/reference/multiversxetl/app.py:38-55: process-append-only-indices,
process-mutable-indices, rewind, find-latest-good-checkpoint); this is the
Spark-first equivalent, runnable as

    spark-submit --py-files mxetl.zip -m multiversx_etl_spark <cmd> ...
    # or locally: python -m multiversx_etl_spark <cmd> ...

Subcommands:
  gen-log     write a deterministic synthetic change log (sources/changelog.py)
  init        create the lake table
  replay      exactly-once batch replay of an offset range (streaming/ingest.py)
  stream      Structured Streaming tail of a log directory (availableNow)
  status      lineage/epoch summary — the analog of the reference's task
              dashboard status report (tasks_dashboard.py:88-94)
  rollback    time-travel the table to an older snapshot (bq_client rewind
              analog, O(1))
  refresh-view
              create-if-absent + one refresh round of a materialized view
              (agg IVM / row transform / minhash near-dup index) from the
              source table's change feed
  reconcile   per-row sha256 verification against a LWW fold of the log
              (checks.py analog, stronger invariant; --erratum accepts known
              signed count drift like the reference's counts_checks_errata)
  find-latest-good
              walk snapshots newest->oldest, reconcile each against the log
              fold, roll back to the newest consistent one (the reference's
              find-latest-good-checkpoint walk, app.py:115-143)
  run-config  one configured iteration (batch replay or streaming tail +
              reconcile) from a worker-config JSON; --watch supervises a
              continuous stream with hot config reload (the reference's
              per-iteration re-read, app.py:82-86) until Ctrl-C
"""

from __future__ import annotations

import argparse
import json
import sys

import pyspark.sql.functions as F


def _spark(args):
    from multiversx_etl_spark.session import get_spark

    return get_spark(
        "multiversx-etl-spark",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="multiversx_etl_spark")
    p.add_argument("--master", default=None, help="Spark master (default: from env/cluster)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-log", help="write a synthetic change log")
    g.add_argument("path")
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--repos", type=int, default=100)
    g.add_argument("--files", type=int, default=16)
    g.add_argument(
        "--patch-fraction", type=float, default=0.0,
        help="fraction of updates emitted as partial-image op='patch' "
        "events (NULL payload = keep; column-level LWW downstream)",
    )
    g.add_argument(
        "--format", choices=["parquet", "ndjson", "orc", "csv"],
        default="parquet", dest="log_format",
        help="log file format (parquet = native; ndjson = the reference's "
        "wire format; orc/csv = interop, csv with the \\N NULL sentinel). "
        "Incompatible with --bucketed (bucket-aligned logs are parquet)",
    )
    g.add_argument(
        "--bucketed", type=int, default=None, metavar="B",
        help="write a CATALOG-BUCKETED log (bucketBy(B, key) files) instead "
        "of offset-ranged plain parquet — the input shape the zero-exchange "
        "replay (--fold join) consumes",
    )
    g.add_argument(
        "--table", default=None, metavar="INDEX",
        help="generate for a DEPLOYMENT-CATALOG table (catalog.py — any of "
        "the reference's 17 indices, e.g. accounts/tokens/events) from its "
        "declared log schema instead of the default repos fixture; replay "
        "it with run-config (schema/normalizer = the same name)",
    )
    g.add_argument(
        "--keys", type=int, default=None,
        help="distinct _id count for --table logs (default 1/10 of events)",
    )

    i = sub.add_parser("init", help="create the lake table")
    i.add_argument("table")
    i.add_argument("--buckets", type=int, default=16)
    i.add_argument(
        "--layout", choices=["xxhash", "spark"], default="xxhash",
        help="'spark' = Spark-native bucket hash (pid == bucket): the "
        "table's files double as catalog bucket files, enabling the "
        "zero-exchange merge fold (replay --fold join)",
    )

    r = sub.add_parser("replay", help="exactly-once replay of a parquet log")
    r.add_argument("log")
    r.add_argument("table")
    r.add_argument("--interval-size", type=int, default=100_000)
    r.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count when the table does not exist yet (default: the "
        "log's _bucket_spec.json count if bucketed, else 16 — so a bare "
        "replay over a bucketed log gets a join-fold-capable table)",
    )
    r.add_argument("--max-epochs", type=int, default=None)
    r.add_argument("--compact-every", type=int, default=None)
    r.add_argument(
        "--fold", choices=["auto", "union", "join"], default="auto",
        help="'join' = zero-exchange fold over a --bucketed log into a "
        "--layout spark table (self-downgrades per batch on patches/NULL "
        "keys); 'auto' (default) picks join whenever the log's "
        "_bucket_spec.json sidecar matches the table, union otherwise",
    )
    r.add_argument(
        "--layout", choices=["xxhash", "spark"], default=None,
        help="layout when the table does not exist yet (default: spark "
        "for --fold join or an auto-detected bucketed log, xxhash otherwise)",
    )
    r.add_argument(
        "--log-format", choices=["parquet", "ndjson", "orc", "csv"],
        default="parquet",
        help="how to read the log (declared schema, never inferred); "
        "non-parquet formats replay with the union fold",
    )

    s = sub.add_parser("stream", help="Structured Streaming tail (availableNow)")
    s.add_argument("log_dir")
    s.add_argument("table")
    s.add_argument("checkpoint")
    s.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count when the table does not exist yet (default: the "
        "log's _bucket_spec.json count if bucketed, else 16)",
    )
    s.add_argument("--max-files-per-trigger", type=int, default=4)
    s.add_argument(
        "--log-format", choices=["parquet", "ndjson", "orc", "csv"],
        default="parquet",
        help="file-source format to tail (an NDJSON landing zone is the "
        "reference's wire topology); non-parquet formats stream with the "
        "union fold",
    )
    s.add_argument(
        "--trigger-interval", default=None, metavar="DURATION",
        help="run CONTINUOUSLY with a processingTime trigger (e.g. '3600 seconds', "
        "the reference's loop cadence) until interrupted; default drains once",
    )
    s.add_argument(
        "--fold", choices=["auto", "union", "join"], default="auto",
        help="'join' = zero-exchange fold per micro-batch (each batch's "
        "whole files re-staged as a catalog bucketed table); 'auto' "
        "(default) engages it when the log's _bucket_spec.json sidecar "
        "matches the table",
    )
    s.add_argument(
        "--layout", choices=["xxhash", "spark"], default=None,
        help="layout when the table does not exist yet (default: spark "
        "for --fold join or an auto-detected bucketed log, xxhash otherwise)",
    )

    c = sub.add_parser(
        "compact",
        help="fold merge-on-read deltas into base files (ONLINE: safe to run "
        "against a live ingest — a lost commit race rebases or redoes the "
        "rewrite, never corrupts)",
    )
    c.add_argument("table")
    c.add_argument(
        "--full", action="store_true",
        help="rewrite every pid group (default: only groups holding deltas)",
    )
    c.add_argument(
        "--drop-orphan-patches", action="store_true",
        help="discard patches whose key has no full image yet (the only "
        "remaining patch debt after an exact finalize)",
    )
    c.add_argument(
        "--sort-columns", default=None,
        help="comma-separated clustering for the rewrite (default: the key "
        "columns); the columns join the table's stat_columns so every "
        "write keeps recording their manifest zone maps",
    )
    c.add_argument(
        "--max-records-per-file", type=int, default=None,
        help="split each bucket's rewrite into files of at most this many "
        "rows — with --sort-columns the slices are range-disjoint and "
        "stats-pruned reads skip whole files at plan time",
    )

    rbk = sub.add_parser(
        "rebucket",
        help="rewrite the table into a new bucket count (partition-spec "
        "evolution); state, streams, and time travel are preserved",
    )
    rbk.add_argument("table")
    rbk.add_argument("--buckets", type=int, required=True)
    rbk.add_argument(
        "--drop-orphan-patches", action="store_true",
        help="discard patches whose key has no full image yet instead of "
        "rewriting them under the new layout",
    )

    mt = sub.add_parser(
        "maintain",
        help="one cron-able maintenance pass: compact outstanding deltas, "
        "expire old snapshots, GC orphan files (ONLINE: safe to cron "
        "against a live, continuously-ingesting table)",
    )
    mt.add_argument("table")
    mt.add_argument("--keep-last", type=int, default=10)
    mt.add_argument(
        "--older-than", type=float, default=None,
        help="time-based retention for the expire half of the pass "
        "(seconds; --keep-last stays the retain-last floor)",
    )
    mt.add_argument("--min-age", type=float, default=3600.0,
                    help="orphan-GC age guard in seconds")
    mt.add_argument(
        "--drop-orphan-patches", action="store_true",
        help="discard patches whose key has no full image yet (the only "
        "patch debt a cron-driven maintain cannot otherwise clear)",
    )
    mt.add_argument(
        "--sort-columns", default=None,
        help="clustering for the compaction half of the pass (see "
        "`compact --sort-columns`)",
    )
    mt.add_argument(
        "--max-records-per-file", type=int, default=None,
        help="file-slice size for the compaction half of the pass (see "
        "`compact --max-records-per-file`)",
    )

    us = sub.add_parser(
        "update-schema",
        help="apply an edited BQ-JSON schema file to a live table as a "
        "metadata-only commit (additive/widening only) — the reference's "
        "`bq update <table> schema/<index>.json` maintenance flow",
    )
    us.add_argument("table")
    us.add_argument(
        "--schema-file",
        default=None,
        help="path to one BQ JSON schema file (array of field objects); "
        "the TransformSpec resolves from --index or the filename stem",
    )
    us.add_argument(
        "--index",
        default=None,
        help="catalog index name; without --schema-file/--schema-folder the "
        "packaged catalog schema applies",
    )
    us.add_argument(
        "--schema-folder",
        default=None,
        help="resolve {folder}/{index}.json (the worker-config "
        "schema_folder convention) instead of the packaged catalog",
    )
    us.add_argument(
        "--description",
        default=None,
        help="table description stored as a manifest property (the "
        "`bq update --description` twin)",
    )

    scl = sub.add_parser(
        "set-clustering",
        help="declare the durable clustering spec future compact/maintain "
        "passes apply by default — the reference's `bq update "
        "--clustering_fields` flow; follow with `compact --full` to "
        "re-cluster existing rows",
    )
    scl.add_argument("table")
    scl.add_argument(
        "--sort-columns",
        default=None,
        help="comma-separated clustering columns (required unless --clear)",
    )
    scl.add_argument("--max-records-per-file", type=int, default=None)
    scl.add_argument(
        "--clear", action="store_true",
        help="drop the declared spec (back to key-column clustering)",
    )

    ex = sub.add_parser(
        "expire",
        help="drop manifests older than the newest N versions and GC data "
        "files no retained snapshot references",
    )
    ex.add_argument("table")
    ex.add_argument("--keep-last", type=int, default=10)
    ex.add_argument(
        "--older-than", type=float, default=None,
        help="also require expired versions to be at least this many "
        "seconds old (Iceberg older_than; --keep-last stays the "
        "retain-last floor)",
    )

    go = sub.add_parser(
        "gc-orphans",
        help="delete data files no manifest references (crash leftovers), "
        "older than --min-age seconds",
    )
    go.add_argument("table")
    go.add_argument("--min-age", type=float, default=3600.0)

    pk = sub.add_parser(
        "package",
        help="zip the package for spark-submit --py-files (cluster deploy)",
    )
    pk.add_argument("out", nargs="?", default="mxetl.zip")

    rs = sub.add_parser(
        "replay-slice",
        help="replay [lo, hi) of the SYNTHETIC num-events log lazily — "
        "each epoch constructs only its own slice (10^10-scale driver)",
    )
    rs.add_argument("table")
    rs.add_argument("--num-events", type=int, required=True)
    rs.add_argument("--lo", type=int, required=True)
    rs.add_argument("--hi", type=int, required=True)
    rs.add_argument("--interval-size", type=int, default=1_000_000)
    rs.add_argument("--buckets", type=int, default=16)
    rs.add_argument("--repos", type=int, default=100)

    st = sub.add_parser("status", help="epoch/lineage summary")
    st.add_argument("table")

    tk = sub.add_parser(
        "tasks",
        help="per-epoch task states derived from durable artifacts "
        "(finished/interrupted/pending - the reference's task dashboard)",
    )
    tk.add_argument("table")
    tk.add_argument("--total-offsets", type=int, required=True)
    tk.add_argument("--interval-size", type=int, required=True)
    tk.add_argument("--stream-id", default="main")
    tk.add_argument(
        "--limit", type=int, default=100,
        help="max epoch rows printed (0 = summary counts only); the "
        "dashboard stays O(screen) at 10^4+ epochs",
    )
    tk.add_argument(
        "--status", choices=["finished", "interrupted", "pending"], default=None,
        help="only list epochs in this state (counts always cover all)",
    )
    tk.add_argument(
        "--from-epoch", type=int, default=0,
        help="start listing at this epoch id (pagination cursor)",
    )

    rb = sub.add_parser("rollback", help="time-travel to snapshot version")
    rb.add_argument("table")
    rb.add_argument("version", type=int)

    ch = sub.add_parser(
        "changes",
        help="emit the CDC change feed between two snapshot versions "
        "(rows + change_type) as parquet",
    )
    ch.add_argument("table")
    ch.add_argument("from_version", type=int)
    ch.add_argument("out")
    ch.add_argument("--to-version", type=int, default=None)

    exp = sub.add_parser(
        "export",
        help="write the table's folded LIVE state (optionally time-traveled)"
        " as plain parquet any tool can read without the engine — the BQ "
        "`EXPORT DATA` / Iceberg snapshot-export analog; the lake files "
        "themselves need the MOR fold, this output does not",
    )
    exp.add_argument("table")
    exp.add_argument("out")
    exp.add_argument("--version", type=int, default=None,
                     help="snapshot version to export (default: current)")
    exp.add_argument("--as-of", type=float, default=None,
                     help="epoch-seconds timestamp to export as of "
                     "(resolves to the newest snapshot at or before it)")
    exp.add_argument("--with-deleted", action="store_true",
                     help="include tombstoned rows (deleted=true) — for "
                     "downstream systems that apply deletes themselves")
    exp.add_argument("--files", type=int, default=None,
                     help="coalesce the export into this many files")
    exp.add_argument(
        "--format", choices=["parquet", "ndjson", "orc", "csv"],
        default="parquet", dest="export_format",
        help="output format — ndjson is the BigQuery-load shape (the "
        "reference's serving round trip); csv writes NULLs as the \\N "
        "sentinel and quotes empty strings",
    )

    rp = sub.add_parser(
        "replicate",
        help="apply all upstream changes since the last replicated version "
        "into a downstream table (one round; run under cron/loop for a tail)",
    )
    rp.add_argument("src_table")
    rp.add_argument("dst_table")
    rp.add_argument("--stream-id", default="replica")
    rp.add_argument("--buckets", type=int, default=16)

    rv = sub.add_parser(
        "refresh-view",
        help="create-if-absent and refresh a materialized view (agg IVM, "
        "row transform, or minhash near-dup index) from the source table's "
        "change feed (one round; run under cron/loop for a tail)",
    )
    rv.add_argument("src_table")
    rv.add_argument("view_table")
    rv.add_argument(
        "--spec",
        required=True,
        help='JSON spec file: {"kind": "agg", "dims": [...], "sums": '
        '{alias: sql}, "derived": {dim: sql}, "where": sql}'
        ' | {"kind": "transform", "exprs": {col: sql}, "pre": {tmp: sql}}'
        ' | {"kind": "minhash_index", "text_col": "content", "bands": 3}',
    )
    rv.add_argument("--stream-id", default=None, help="default: matview/xformview")
    rv.add_argument("--buckets", type=int, default=16)
    rv.add_argument(
        "--reseed", action="store_true", help="force a full recompute (bootstrap)"
    )

    rc = sub.add_parser("reconcile", help="sha256 verification vs the log's LWW fold")
    rc.add_argument("log")
    rc.add_argument("table")
    rc.add_argument(
        "--erratum", type=int, default=0,
        help="accepted signed count drift (reference counts_checks_errata)",
    )

    fg = sub.add_parser(
        "find-latest-good",
        help="walk snapshots newest->oldest, reconcile each against the log "
        "fold, roll back to the newest consistent one (reference "
        "find-latest-good-checkpoint, app.py:115-143)",
    )
    fg.add_argument("log")
    fg.add_argument("table")
    fg.add_argument("--stream-id", default="main")
    fg.add_argument("--no-rollback", action="store_true")
    fg.add_argument("--max-candidates", type=int, default=None)
    fg.add_argument(
        "--normalizer", default="change_events",
        help="normalize.REGISTRY key the INGEST ran (the table stores "
        "normalized rows; the log fold must match)",
    )

    rcfg = sub.add_parser(
        "run-config",
        help="run one configured iteration from a JSON worker config "
        "(the reference's worker_config.json operator interface)",
    )
    rcfg.add_argument("config")
    rcfg.add_argument("--streaming", action="store_true")
    rcfg.add_argument("--checkpoint", default=None)
    rcfg.add_argument(
        "--watch", action="store_true",
        help="CONTINUOUS mode with hot config reload: re-read the config "
        "file between triggers and apply changed knobs by restarting from "
        "the same checkpoint (the reference's per-iteration reload, "
        "app.py:82-86); requires trigger_interval in the config and "
        "--checkpoint; Ctrl-C stops gracefully",
    )
    rcfg.add_argument(
        "--sleep-between-iterations", type=float, default=None,
        help="BATCH loop mode (the reference's process-*-indices loop and "
        "docker-compose entrypoint flag): re-read the config and run one "
        "batch iteration every N seconds; prints one JSON line per "
        "iteration; Ctrl-C stops after the current iteration",
    )
    rcfg.add_argument(
        "--max-iterations", type=int, default=None,
        help="stop the --sleep-between-iterations loop after N iterations",
    )

    pm = sub.add_parser(
        "promote",
        help="staging→main promotion: atomically replace the MAIN table's "
        "contents with the STAGING table's current snapshot (hard links, "
        "O(files)) — the reference's staging-dataset → main-dataset "
        "transfer (bq_client.py:103-116); creates the main table on first "
        "promotion. Config twin: the per-table `promote_to` key transfers "
        "automatically after each green iteration",
    )
    pm.add_argument("table", help="MAIN table root")
    pm.add_argument("--from", dest="from_root", required=True,
                    help="staging table root")

    dbp = sub.add_parser(
        "dashboards",
        help="create-if-absent and refresh ALL the reference's daily "
        "dashboards (queries/transactions.sql, interactions.sql) as "
        "incrementally maintained views over an operations lake table "
        "(one round; run under cron/loop for a tail)",
    )
    dbp.add_argument("operations_table", help="the operations lake table root")
    dbp.add_argument("views_root", help="directory the view tables live under")
    dbp.add_argument("--buckets", type=int, default=16)

    uqp = sub.add_parser(
        "user-query",
        help="run one of the reference's shipped analytics queries "
        "(queries/blocks.sql, transactions.sql, interactions.sql and the "
        "maintenance/views.md views) against a lake table; "
        "'user-query list' prints the names",
    )
    uqp.add_argument("name", help="query name, or 'list'")
    uqp.add_argument(
        "--table", default=None,
        help="lake table root holding the query's input index "
        "(operations for all but recent_blocks)",
    )
    uqp.add_argument(
        "--anchor-date", default=None,
        help="pin CURRENT_DATE for the 7-day-window queries (YYYY-MM-DD); "
        "default: today, like the reference SQL",
    )
    uqp.add_argument(
        "--limit-out", type=int, default=20, help="rows printed (JSON lines)"
    )

    args = p.parse_args(argv)
    if args.cmd == "package":  # no Spark session needed
        return _package(args.out)
    if (
        args.cmd == "run-config"
        and args.max_iterations is not None
        and args.sleep_between_iterations is None
    ):
        # silently running ONE plain iteration when the operator asked for
        # N looped ones is the bad outcome; refuse BEFORE the JVM spin-up,
        # like the --streaming/--watch clash inside the dispatch
        print(
            "error: --max-iterations only applies to the "
            "--sleep-between-iterations batch loop",
            file=sys.stderr,
        )
        return 2
    if args.cmd == "user-query":
        # name validation (and 'list') before paying the JVM spin-up
        from multiversx_etl_spark.user_queries import CANNED_QUERIES

        if args.name == "list":
            print(json.dumps({n: t for n, (t, _) in CANNED_QUERIES.items()}))
            return 0
        if args.name not in CANNED_QUERIES:
            print(
                f"error: unknown user query {args.name!r} "
                f"(have {', '.join(CANNED_QUERIES)})",
                file=sys.stderr,
            )
            return 2
        if not args.table:
            print("error: --table is required", file=sys.stderr)
            return 2
        if args.anchor_date is not None:
            import inspect

            if "anchor_date" not in inspect.signature(
                CANNED_QUERIES[args.name][1]
            ).parameters:
                print(
                    f"error: {args.name} does not take --anchor-date",
                    file=sys.stderr,
                )
                return 2
    if args.cmd == "gen-log" and args.table is not None:
        # validate the index name BEFORE paying the JVM spin-up: a typo
        # must be a one-line error, not a KeyError traceback 20s in
        from multiversx_etl_spark.catalog import catalog_table_names

        if args.table not in catalog_table_names():
            print(
                f"error: unknown catalog index {args.table!r} "
                f"(have {', '.join(catalog_table_names())})",
                file=sys.stderr,
            )
            return 2
    spark = _spark(args)
    try:
        return _dispatch(spark, args)
    finally:
        # a terminal Ctrl-C delivers SIGINT to the whole process group, so
        # by the time a graceful stop reaches here the JVM may already be
        # dead — a teardown error must not turn a clean exit into a
        # traceback (there is nothing left to tear down)
        try:
            spark.stop()
        except BaseException:
            pass


def _package(out: str) -> int:
    """Zip the package for ``spark-submit --py-files mxetl.zip`` — the
    cluster deployment path the north rule names (every executor unpacks
    the zip onto its PYTHONPATH; no pip install on workers)."""
    import os
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fname in sorted(filenames):
                # .json: the BQ-declared schema files (bq_schemas/) are part
                # of the package — schemas.py loads them at import time
                # through importlib.resources, which reads from the zip
                if fname.endswith((".py", ".json")):
                    full = os.path.join(dirpath, fname)
                    zf.write(full, os.path.relpath(full, parent))
    print(json.dumps({"written": out, "entries": len(zipfile.ZipFile(out).namelist())}))
    return 0


def _dispatch(spark, args) -> int:
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.schemas import REPOS

    if args.cmd == "gen-log":
        from multiversx_etl_spark.sources.changelog import (
            generate_catalog_log,
            generate_change_log,
            write_log_bucketed,
            write_log_parquet,
        )

        if args.table:
            if args.patch_fraction:
                print("error: --patch-fraction applies to the repos fixture only",
                      file=sys.stderr)
                return 2
            log = generate_catalog_log(
                spark, args.events, args.table,
                num_keys=args.keys or max(1, args.events // 10),
            )
            key_columns: tuple[str, ...] = ("_id",)
        else:
            log = generate_change_log(
                spark, args.events, num_repos=args.repos,
                patch_fraction=args.patch_fraction,
            )
            key_columns = ("repo", "path")
        if args.bucketed:
            if args.log_format != "parquet":
                raise SystemExit(
                    "gen-log: --bucketed logs are parquet (bucket-aligned "
                    f"files + sidecar); drop --format {args.log_format}"
                )
            write_log_bucketed(log, args.path, args.bucketed,
                               key_columns=key_columns)
            n = spark.read.parquet(args.path).count()
        else:
            from multiversx_etl_spark.sources.changelog import read_log, write_log

            write_log(log, args.path, files=args.files,
                      log_format=args.log_format)
            n = read_log(spark, args.path, args.log_format,
                         schema=log.schema).count()
        print(json.dumps({"written": n}))
        return 0

    if args.cmd == "init":
        LakeTable.create(
            spark, args.table, REPOS, key_columns=["repo", "path"],
            num_buckets=args.buckets, layout=args.layout,
        )
        print(json.dumps({"created": args.table, "buckets": args.buckets,
                          "layout": args.layout}))
        return 0

    if args.cmd == "replay":
        from multiversx_etl_spark.sources.changelog import (
            read_bucket_spec,
            resolve_fold_auto,
        )
        from multiversx_etl_spark.streaming.ingest import ensure_table, replay

        # a NEW table defaults to what the fold wants: spark layout (and the
        # sidecar's bucket count) when the join fold is requested or the log
        # is detectably bucketed — a bare `replay` over a bucketed log must
        # not bake in a mismatched count that locks the join fold out forever
        spec = read_bucket_spec(args.log)
        wants_join = args.fold == "join" or (args.fold == "auto" and spec)
        layout = args.layout or ("spark" if wants_join else "xxhash")
        buckets = args.buckets or (
            spec.get("num_buckets") if wants_join and spec else None
        ) or 16
        table = ensure_table(
            spark, args.table, num_buckets=buckets, layout=layout
        )
        m = table.snapshot()
        fold = args.fold
        if fold == "auto":
            fold, downgraded = resolve_fold_auto(
                args.log, layout=m.layout,
                num_buckets=m.num_buckets, key_columns=m.key_columns,
                spec=spec,
            )
            if downgraded:
                print(
                    f"note: bucketed log but union fold: {downgraded}",
                    file=sys.stderr,
                )
        if fold == "join":
            from multiversx_etl_spark.sources.changelog import register_log_bucketed

            log = register_log_bucketed(
                spark, args.log, m.num_buckets, table_name="mxetl_log_cli",
            )
        else:
            from multiversx_etl_spark.sources.changelog import read_log

            log = read_log(spark, args.log, args.log_format)
        summary = replay(
            log,
            table,
            interval_size=args.interval_size,
            max_epochs=args.max_epochs,
            compact_every=args.compact_every,
            fold=fold,
        )
        print(
            json.dumps(
                {
                    "epochs_run": summary.epochs_run,
                    "epochs_skipped": summary.epochs_skipped,
                    "rows_in": summary.rows_in,
                    "inserted": summary.rows_inserted,
                    "updated": summary.rows_updated,
                    "deleted": summary.rows_deleted,
                    "final_rows": table.read().count(),
                    "fold": fold,
                }
            )
        )
        return 0

    if args.cmd == "replay-slice":
        from multiversx_etl_spark.sources.changelog import slice_change_log
        from multiversx_etl_spark.streaming.ingest import ensure_table, apply_epoch

        k = args.interval_size
        # Epoch ids are absolute (offset // interval): lo/hi must sit on
        # epoch boundaries or a partial range would be committed under a
        # full epoch's id and a follow-up run would silently skip the rest.
        if args.lo % k != 0 or args.hi % k != 0:
            raise SystemExit(
                f"--lo/--hi must be multiples of --interval-size {k} "
                "(epoch ids are absolute offset intervals)"
            )
        table = ensure_table(spark, args.table, num_buckets=args.buckets)
        # one held Manifest answers every skip via epoch_info (the
        # watermark-or-sparse logic lives in ONE place, lake/table.py)
        committed_view = table.snapshot()
        applied = skipped = rows_in = 0
        off = args.lo
        while off < args.hi:
            end = off + k
            epoch_id = off // k
            if committed_view.epoch_info("slice", epoch_id) is not None:
                skipped += 1
            else:
                batch = slice_change_log(
                    spark, args.num_events, off, end, num_repos=args.repos
                )
                stats = apply_epoch(table, batch, "slice", epoch_id, off, end)
                applied += 1
                rows_in += stats.rows_in
            off = end
        print(
            json.dumps(
                {
                    "epochs_run": applied,
                    "epochs_skipped": skipped,
                    "rows_in": rows_in,
                    "final_rows": table.read().count(),
                }
            )
        )
        return 0

    if args.cmd == "stream":
        from multiversx_etl_spark.sources.changelog import read_bucket_spec
        from multiversx_etl_spark.streaming.ingest import ensure_table, stream_ingest

        # same new-table defaults as `replay`: a detectably-bucketed log
        # seeds a join-fold-capable table (spark layout, sidecar's count)
        spec = read_bucket_spec(args.log_dir)
        wants_join = args.fold == "join" or (args.fold == "auto" and spec)
        layout = args.layout or ("spark" if wants_join else "xxhash")
        buckets = args.buckets or (
            spec.get("num_buckets") if wants_join and spec else None
        ) or 16
        table = ensure_table(
            spark, args.table, num_buckets=buckets, layout=layout
        )
        fold = args.fold
        if fold == "auto":
            from multiversx_etl_spark.sources.changelog import resolve_fold_auto

            m = table.snapshot()
            fold, downgraded = resolve_fold_auto(
                args.log_dir, layout=m.layout,
                num_buckets=m.num_buckets, key_columns=m.key_columns,
                spec=spec,
            )
            if downgraded:
                print(
                    f"note: bucketed log but union fold: {downgraded}",
                    file=sys.stderr,
                )
        q = stream_ingest(
            spark,
            args.log_dir,
            table,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            trigger_interval=args.trigger_interval,
            fold=fold,
            log_format=args.log_format,
        )
        if q is not None:  # continuous: block until Ctrl-C / external stop
            try:
                q.awaitTermination()
            except KeyboardInterrupt:
                q.stop()
        print(json.dumps({"version": table.current_version(),
                          "rows": table.read().count(), "fold": fold}))
        return 0

    if args.cmd == "compact":
        table = LakeTable(spark, args.table)
        before = len(table.snapshot().files)
        m = table.compact(
            full=args.full,
            drop_orphan_patches=args.drop_orphan_patches,
            sort_columns=(
                [c.strip() for c in args.sort_columns.split(",") if c.strip()]
                if args.sort_columns
                else None
            ),
            max_records_per_file=args.max_records_per_file,
        )
        print(json.dumps({"version": m.version, "files_before": before, "files_after": len(m.files)}))
        return 0

    if args.cmd == "rebucket":
        table = LakeTable(spark, args.table)
        before = table.snapshot().num_buckets
        m = table.rebucket(
            args.buckets, drop_orphan_patches=args.drop_orphan_patches
        )
        print(json.dumps(
            {"version": m.version, "buckets_before": before, "buckets_after": m.num_buckets}
        ))
        return 0

    if args.cmd == "maintain":
        table = LakeTable(spark, args.table)
        before = len(table.snapshot().files)
        m = table.compact(
            drop_orphan_patches=args.drop_orphan_patches,
            sort_columns=(
                [c.strip() for c in args.sort_columns.split(",") if c.strip()]
                if args.sort_columns
                else None
            ),
            max_records_per_file=args.max_records_per_file,
        )
        expired = table.expire_snapshots(
            keep_last=args.keep_last, older_than_seconds=args.older_than
        )
        gc = table.gc_orphan_files(min_age_seconds=args.min_age)
        print(json.dumps({
            "version": m.version,
            "files_before": before,
            "files_after": len(m.files),
            **expired,
            "orphans_deleted": gc["deleted"],
        }))
        return 0

    if args.cmd == "update-schema":
        from multiversx_etl_spark.catalog import (
            catalog_tables,
            load_table_from_file,
            load_table_from_folder,
        )
        from multiversx_etl_spark.sources.bq_schema import schema_added_paths

        if args.schema_file:
            ct = load_table_from_file(args.schema_file, name=args.index)
            if args.index is None:
                # a renamed copy of a catalog schema (blocks_v2.json) would
                # silently bind the IDENTITY spec and push the transformer's
                # dropped fields (reserved, pubKeyBitmap...) onto the live
                # table FOREVER (widenings can't be removed) — make the
                # fallback loud so the operator binds the spec explicitly
                import os as _os

                from multiversx_etl_spark.catalog import SPECS, catalog_table_names

                stem = _os.path.basename(args.schema_file)
                stem = stem[:-5] if stem.endswith(".json") else stem
                if stem not in SPECS and stem not in catalog_table_names():
                    print(
                        f"note: no TransformSpec or catalog entry named "
                        f"{stem!r}; identity transform assumed — pass "
                        "--index <name> to bind a declared table's spec",
                        file=sys.stderr,
                    )
        elif args.index and args.schema_folder:
            ct = load_table_from_folder(args.schema_folder, args.index)
        elif args.index:
            ct = catalog_tables()[args.index]
        else:
            print("update-schema needs --schema-file or --index", file=sys.stderr)
            return 2
        table = LakeTable(spark, args.table)
        old = table.snapshot()
        m = table.update_schema(ct.target_schema, description=args.description)
        print(json.dumps({
            "version": m.version,
            "changed": m.version != old.version,
            "added": schema_added_paths(old.schema, m.schema),
            "description": m.properties.get("description"),
        }))
        return 0

    if args.cmd == "set-clustering":
        if args.clear == bool(args.sort_columns):
            print("set-clustering needs exactly one of --sort-columns / --clear",
                  file=sys.stderr)
            return 2
        cols = (
            []
            if args.clear
            else [c.strip() for c in args.sort_columns.split(",") if c.strip()]
        )
        if not args.clear and not cols:
            # "--sort-columns ," parsing to [] must be a usage error, not a
            # state-changing commit that silently clears the spec
            print("--sort-columns named no columns (use --clear to clear)",
                  file=sys.stderr)
            return 2
        table = LakeTable(spark, args.table)
        m = table.set_clustering(cols, max_records_per_file=args.max_records_per_file)
        print(json.dumps({
            "version": m.version,
            "clustering_sort_columns": m.properties.get("clustering_sort_columns", []),
            "clustering_max_records_per_file": int(
                m.properties.get("clustering_max_records_per_file", 0)
            ) or None,
        }))
        return 0

    if args.cmd == "expire":
        table = LakeTable(spark, args.table)
        out = table.expire_snapshots(
            keep_last=args.keep_last, older_than_seconds=args.older_than
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "gc-orphans":
        table = LakeTable(spark, args.table)
        out = table.gc_orphan_files(min_age_seconds=args.min_age)
        print(json.dumps(out))
        return 0

    if args.cmd == "status":
        from multiversx_etl_spark.streaming.ingest import read_lineage

        table = LakeTable(spark, args.table)
        m = table.snapshot()
        lineage = read_lineage(table)
        agg = lineage.agg(
            F.count("*").alias("ledger_rows"),
            F.countDistinct("epoch_id").alias("epochs"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_inserted").alias("inserted"),
            F.sum("rows_updated").alias("updated"),
            F.sum("rows_deleted").alias("deleted"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "version": m.version,
                    "operation": m.operation,
                    "files": m.total_files(),
                    "buckets": m.num_buckets,
                    "description": m.properties.get("description"),
                    "clustering": (
                        {
                            "sort_columns": m.properties["clustering_sort_columns"],
                            "max_records_per_file": int(
                                m.properties.get(
                                    "clustering_max_records_per_file", 0
                                )
                            )
                            or None,
                        }
                        if m.properties.get("clustering_sort_columns")
                        else None
                    ),
                    "streams": {
                        k: {
                            "last_epoch": v.get("last_epoch"),
                            "epochs_through": v.get("epochs_through", -1),
                            "sparse_markers": len(v.get("epochs", {})),
                        }
                        for k, v in m.streams.items()
                    },
                    "lineage": {k: (int(agg[k]) if agg[k] is not None else 0) for k in agg.asDict()},
                }
            )
        )
        return 0

    if args.cmd == "export":
        table = LakeTable(spark, args.table)
        if args.version is not None and args.as_of is not None:
            print("export takes at most one of --version / --as-of",
                  file=sys.stderr)
            return 2
        version = (
            table.version_at(args.as_of)
            if args.as_of is not None
            else (args.version if args.version is not None
                  else table.current_version())
        )
        df = table.read(version=version, include_tombstones=args.with_deleted)
        if args.files is not None:
            df = df.coalesce(args.files)
        fmt = args.export_format
        if fmt == "parquet":
            df.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
        elif fmt == "ndjson":
            df.write.mode("overwrite").json(args.out)
            n = spark.read.schema(df.schema).json(args.out).count()
        elif fmt == "orc":
            df.write.mode("overwrite").orc(args.out)
            n = spark.read.schema(df.schema).orc(args.out).count()
        else:
            from multiversx_etl_spark.sources.changelog import _csv_read_options

            (
                df.write.mode("overwrite")
                .option("nullValue", "\\N")
                .option("emptyValue", '""')
                .option("escape", '"')
                .option("header", True)
                .csv(args.out)
            )
            n = (
                _csv_read_options(spark.read.schema(df.schema))
                .option("header", True)
                .csv(args.out)
                .count()
            )
        print(json.dumps({"rows": n, "out": args.out, "version": version,
                          "format": fmt}))
        return 0

    if args.cmd == "changes":
        table = LakeTable(spark, args.table)
        feed = table.changes(args.from_version, args.to_version)
        feed.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "out": args.out}))
        return 0

    if args.cmd == "replicate":
        from multiversx_etl_spark.streaming.ingest import ensure_table
        from multiversx_etl_spark.streaming.replicate import replicate_changes

        src = LakeTable(spark, args.src_table)
        dst = ensure_table(spark, args.dst_table, num_buckets=args.buckets)
        stats = replicate_changes(src, dst, stream_id=args.stream_id)
        out = {"up_to_date": stats is None}
        if stats is not None:
            out.update(
                rows_in=stats.rows_in,
                inserted=stats.rows_inserted,
                updated=stats.rows_updated,
                deleted=stats.rows_deleted,
            )
        out["dst_rows"] = dst.read().count()
        print(json.dumps(out))
        return 0

    if args.cmd == "refresh-view":
        with open(args.spec) as fh:
            spec_json = json.load(fh)
        kind = spec_json.pop("kind")
        if kind == "agg":
            from multiversx_etl_spark.streaming.materialize import (
                AggViewSpec,
                create_agg_view,
                refresh_agg_view,
                reseed_agg_view,
            )

            spec = AggViewSpec(
                dims=tuple(spec_json["dims"]),
                sums=spec_json.get("sums", {}),
                count_alias=spec_json.get("count_alias", "n_rows"),
                derived=spec_json.get("derived", {}),
                where=spec_json.get("where"),
            )
            create, refresh, reseed = create_agg_view, refresh_agg_view, reseed_agg_view
            stream_id = args.stream_id or "matview"
        elif kind in ("transform", "minhash_index"):
            from multiversx_etl_spark.streaming.features import (
                TransformViewSpec,
                create_transform_view,
                minhash_index_spec,
                refresh_transform_view,
                reseed_transform_view,
            )

            if kind == "minhash_index":
                spec = minhash_index_spec(
                    text_col=spec_json.get("text_col", "content"),
                    bands=spec_json.get("bands", 3),
                )
            else:
                spec = TransformViewSpec(
                    exprs=spec_json["exprs"], pre=spec_json.get("pre", {})
                )
            create, refresh, reseed = (
                create_transform_view,
                refresh_transform_view,
                reseed_transform_view,
            )
            stream_id = args.stream_id or "xformview"
        else:
            raise SystemExit(f"unknown view kind {kind!r}")
        src = LakeTable(spark, args.src_table)
        if LakeTable.exists(args.view_table):
            view = LakeTable(spark, args.view_table)
        else:
            view = create(src, args.view_table, spec, num_buckets=args.buckets)
        stats = (
            reseed(src, view, spec, stream_id=stream_id)
            if args.reseed
            else refresh(src, view, spec, stream_id=stream_id)
        )
        out = {"kind": kind, "up_to_date": stats is None}
        if stats is not None:
            out.update(
                rows_in=stats.rows_in,
                inserted=stats.rows_inserted,
                updated=stats.rows_updated,
                deleted=stats.rows_deleted,
                reseeded=stats.reseeded,
            )
        out["view_rows"] = view.read().count()
        print(json.dumps(out))
        return 0

    if args.cmd == "tasks":
        from multiversx_etl_spark.plans.status import epoch_status

        table = LakeTable(spark, args.table)
        df = epoch_status(
            table, args.total_offsets, args.interval_size, stream_id=args.stream_id
        )
        counts = {
            r["status"]: r["n"]
            for r in df.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        # collect only the page requested: the dashboard must stay
        # O(limit) driver-side however many epochs the plan spans
        page = df.where(F.col("epoch_id") >= args.from_epoch)
        if args.status:
            page = page.where(F.col("status") == args.status)
        epochs = (
            []
            if args.limit == 0
            else [r.asDict() for r in page.orderBy("epoch_id").limit(args.limit).collect()]
        )
        print(
            json.dumps(
                {"by_status": counts, "epochs": epochs, "limit": args.limit,
                 "from_epoch": args.from_epoch, "status_filter": args.status},
                default=str,
            )
        )
        return 0

    if args.cmd == "rollback":
        table = LakeTable(spark, args.table)
        table.rollback(args.version)
        print(json.dumps({"rolled_back_to": args.version, "version": table.current_version()}))
        return 0

    if args.cmd == "reconcile":
        from multiversx_etl_spark.operators.checks import reconcile
        from multiversx_etl_spark.oracle import expected_state

        table = LakeTable(spark, args.table)
        report = reconcile(
            table, expected_state(spark.read.parquet(args.log)), erratum=args.erratum
        )
        print(
            json.dumps(
                {
                    "ok": report.ok,
                    "expected_rows": report.expected_rows,
                    "actual_rows": report.actual_rows,
                    "missing": report.missing,
                    "unexpected": report.unexpected,
                    "sha_mismatches": report.sha_mismatches,
                    "erratum": report.erratum,
                }
            )
        )
        return 0 if report.ok else 1

    if args.cmd == "find-latest-good":
        from multiversx_etl_spark.operators.checks import find_latest_good_version
        from multiversx_etl_spark.operators.normalize import get_normalizer

        table = LakeTable(spark, args.table)
        before = table.current_version()
        good = find_latest_good_version(
            table,
            spark.read.parquet(args.log),
            stream_id=args.stream_id,
            rollback=not args.no_rollback,
            max_candidates=args.max_candidates,
            normalizer=get_normalizer(args.normalizer),
        )
        print(
            json.dumps(
                {
                    "latest_good_version": good,
                    "version_before": before,
                    "version_now": table.current_version(),
                }
            )
        )
        return 0 if good is not None else 1

    if args.cmd == "promote":
        from multiversx_etl_spark.lake.table import LakeTable as _LT

        staging = _LT(spark, args.from_root)
        m = _LT.promote_into(spark, args.table, staging)
        print(json.dumps({
            "version": m.version,
            "files": m.total_files(),
            "rows": m.total_rows(),
        }))
        return 0

    if args.cmd == "run-config":
        from multiversx_etl_spark.config import load_worker_config, run_from_config

        if args.sleep_between_iterations is not None:
            import signal

            from multiversx_etl_spark.config import run_loop_from_config

            if args.streaming or args.watch:
                raise SystemExit(
                    "--sleep-between-iterations is the BATCH loop; use "
                    "--watch for the continuous streaming supervisor"
                )
            interrupted = {"hit": False}

            def _on_sigint_loop(signum, frame):
                if interrupted["hit"]:
                    signal.signal(signal.SIGINT, signal.default_int_handler)
                    raise KeyboardInterrupt
                interrupted["hit"] = True

            signal.signal(signal.SIGINT, _on_sigint_loop)
            summaries = run_loop_from_config(
                spark, args.config, args.sleep_between_iterations,
                max_iterations=args.max_iterations,
                on_iteration=lambda i, s: print(
                    json.dumps({"iteration": i, **s}), flush=True
                ),
                should_stop=lambda: interrupted["hit"],
            )
            print(json.dumps({
                "iterations": len(summaries),
                "stopped": interrupted["hit"],
            }), flush=True)
            return 0

        if args.watch:
            import signal

            from multiversx_etl_spark.config import stream_with_config_reload

            if not args.checkpoint:
                raise SystemExit("--watch requires --checkpoint")
            # graceful shutdown via a FLAG the supervisor polls, not a
            # raised KeyboardInterrupt: SIGINT hits the whole process group
            # (the Spark JVM included), so exception-based handling races
            # the JVM's own death — the flag path stops the query while the
            # JVM is still healthy, and a late JVM-side error after the
            # flag is set still reports a clean stop
            interrupted = {"hit": False}

            def _on_sigint(signum, frame):
                if interrupted["hit"]:
                    # second Ctrl-C = stop waiting: raise out of whatever
                    # the graceful path is blocked on (a wedged q.stop()/
                    # awaitTermination) and hand further Ctrl-Cs back to
                    # the default handler so the operator is never trapped
                    signal.signal(signal.SIGINT, signal.default_int_handler)
                    raise KeyboardInterrupt
                interrupted["hit"] = True

            signal.signal(signal.SIGINT, _on_sigint)
            try:
                out = stream_with_config_reload(
                    spark, args.config, args.checkpoint,
                    on_poll=lambda _t, _c: interrupted["hit"],
                )
                if interrupted["hit"]:
                    out["stopped"] = True
            except BaseException as e:
                if not interrupted["hit"]:
                    raise
                # a late error while stopping is still a stop, but never a
                # SILENT one: the last in-flight batch may have died for
                # its own reason (disk full, corrupt reload) and ops must
                # see that, not a clean-looking shutdown
                print(
                    f"warning: error during stop: {type(e).__name__}: {e}",
                    file=sys.stderr,
                )
                out = {"stopped": True}
            print(json.dumps(out), flush=True)
            return 0

        cfg = load_worker_config(args.config)
        summary = run_from_config(
            spark, cfg, streaming=args.streaming, checkpoint_dir=args.checkpoint
        )
        qs = summary.pop("streaming_queries", [])  # multi-table continuous
        q = summary.pop("streaming_query", None)
        if q is not None:
            qs = [q, *qs]
        if qs:  # continuous: block until Ctrl-C, then stop every tail
            try:
                for each in qs:
                    each.awaitTermination()
            except KeyboardInterrupt:
                for each in qs:
                    try:
                        each.stop()
                    except BaseException:
                        pass  # stop the REST even if one is already dead
            summary["stopped"] = True
        print(json.dumps(summary))
        return 0 if summary.get("reconcile_ok", True) else 1

    if args.cmd == "dashboards":
        from multiversx_etl_spark.streaming.materialize import (
            create_agg_view,
            refresh_agg_view,
            refresh_agg_views,
        )
        from multiversx_etl_spark.user_queries import (
            daily_active_users_cascade,
            dashboard_specs,
        )

        ops = LakeTable(spark, args.operations_table)
        lvl1, lvl2 = daily_active_users_cascade()
        # (name, source-resolver, spec) in dependency order: the cascade's
        # level 2 consumes the level-1 VIEW, so it must refresh after it
        plan = [(n, None, s) for n, s in dashboard_specs().items()]
        plan += [
            ("daily_active_senders", None, lvl1),
            ("daily_active_users", "daily_active_senders", lvl2),
        ]
        views: dict[str, LakeTable] = {}
        for name, src_name, spec in plan:
            src = ops if src_name is None else views[src_name]
            root = f"{args.views_root.rstrip('/')}/{name}"
            if LakeTable.exists(root):
                view = LakeTable(spark, root)
                # a populated view maintained under ANOTHER stream id has
                # no dash_<name> marker: refreshing would re-apply the full
                # 0→cur delta ON TOP of its rows — silent double counts
                if (
                    view.last_committed_epoch(f"dash_{name}") is None
                    and view.read().limit(1).count() > 0
                ):
                    raise SystemExit(
                        f"{root} has rows but no dash_{name} marker (it was "
                        "maintained under a different stream id); refreshing "
                        "would double-count — use a fresh --views-root or "
                        "keep maintaining it via refresh-view --stream-id"
                    )
            else:
                view = create_agg_view(src, root, spec, num_buckets=args.buckets)
            views[name] = view
        # all ops-sourced views refresh through ONE shared change window
        # (one change-feed read + one persisted image pair per round); the
        # cascade's level 2 then consumes the freshly-advanced level-1 view
        ops_names = [n for n, src_name, _ in plan if src_name is None]
        stats_map = refresh_agg_views(
            ops,
            [(views[n], s, f"dash_{n}") for n, src_name, s in plan
             if src_name is None],
        )
        stats = {n: stats_map[f"dash_{n}"] for n in ops_names}
        stats["daily_active_users"] = refresh_agg_view(
            views["daily_active_senders"], views["daily_active_users"],
            lvl2, stream_id="dash_daily_active_users",
        )
        out = {
            name: {
                "up_to_date": stats[name] is None,
                "view_rows": views[name].read().count(),
            }
            for name, _src, _spec in plan
        }
        print(json.dumps(out))
        return 0

    if args.cmd == "user-query":
        import inspect

        from multiversx_etl_spark.user_queries import CANNED_QUERIES

        _, fn = CANNED_QUERIES[args.name]
        # anchor support comes from the query's own signature, so a new
        # CANNED_QUERIES entry with an anchor_date param is CLI-anchored
        # with no dispatcher edit (an anchor on a query that cannot honor
        # it was already rejected before the JVM spun up)
        kwargs = {}
        if "anchor_date" in inspect.signature(fn).parameters:
            kwargs["anchor_date"] = args.anchor_date
        df = LakeTable(spark, args.table).read()
        out = fn(df, **kwargs)
        for line in out.limit(args.limit_out).toJSON().collect():
            print(line)
        return 0

    raise AssertionError(f"unhandled cmd {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
