"""Per-deployment JSON worker configuration — the reference's primary
operator interface, Spark-first.

The reference drives each network deployment from a JSON worker config
(/root/reference/multiversxetl/worker_config.py:51-104 — interval sizes,
bulk sizes, thread counts, counts-check toggles and per-table errata, loaded
per iteration so ops can edit it live). The engine analog maps those knobs
onto replay/stream parameters and the reconciliation errata:

    {
      "table_root": "/data/repos_table",
      "log_path": "/data/change_log",
      "name": "repos",                   # errata lookup + report key
      "schema": "repos",                 # declared schema (schemas.TABLES)
      "normalizer": "change_events",     # transformer (normalize.REGISTRY)
      "stream_id": "mainnet",
      "interval_size": 8000000,          # events per epoch (planner knob)
      "num_buckets": 64,                 # bucket(B, repo, path) layout
      "compact_every": 16,               # epochs between delta folds
      "max_files_per_trigger": 4,        # streaming micro-batch knob
      "trigger_interval": "3600 seconds",# continuous cadence (null = drain)
      "fail_on_counts_mismatch": true,
      "counts_checks_errata": {"repos": -3}   # accepted signed drift
    }

MULTI-TABLE configs — the reference's real unit of operation (a LIST of
indices per bulk, each with its own schema + transformer,
worker_config.py:51-65) — put shared defaults at the top level and a
``tables`` list of per-table overrides:

    {
      "interval_size": 8000000, "num_buckets": 64,
      "counts_checks_errata": {"repos": -3, "commits": 0},
      "tables": [
        {"name": "repos",   "table_root": "...", "log_path": "...",
         "schema": "repos",   "normalizer": "change_events"},
        {"name": "commits", "table_root": "...", "log_path": "...",
         "schema": "commits", "normalizer": "commit_events",
         "stream_id": "commits"}
      ]
    }

``load_worker_config`` validates and applies defaults; ``run_from_config``
executes the configured flow (replay or continuous stream) against a
SparkSession, re-reading nothing mid-run — like the reference, edits take
effect on the next invocation.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Any


class ConfigError(ValueError):
    """Invalid or incomplete worker configuration."""


@dataclass
class WorkerConfig:
    table_root: str
    log_path: str
    name: str = "repos"            # table name (errata lookup + reporting)
    schema: str = "repos"          # declared-schema registry key (schemas.TABLES)
    normalizer: str = "change_events"  # transformer registry key (normalize.REGISTRY)
    stream_id: str = "main"
    interval_size: int = 1_000_000
    num_buckets: int = 16
    compact_every: int | None = None
    max_files_per_trigger: int = 4
    trigger_interval: str | None = None
    fail_on_counts_mismatch: bool = True
    counts_checks_errata: dict[str, int] = field(default_factory=dict)
    #: the reference's two index-processing modes
    #: (app_controller.py:55-102): "append_only" (default) replays the log
    #: incrementally with exactly-once epochs; "mutable" TRUNCATES and
    #: reloads the table from scratch each iteration (process_mutable_indices
    #: :55-71 — truncate_tables then a full re-consume) via a single
    #: bootstrap-snapshot commit of the log's folded live state
    processing: str = "append_only"
    #: optional EXTERNAL schema directory — the reference's ``schema_folder``
    #: config key (worker_config_mainnet.json carries
    #: ``"schema_folder": "./schema"``; bq_client.py:84-87 loads
    #: ``{folder}/{index}.json`` by name). When set, ``schema`` names a JSON
    #: file in that folder instead of a packaged-catalog key, so deployments
    #: ship their own schema files; editing the file (adding a field) flows
    #: into the next run's declared schemas and the lake evolves on MERGE.
    #: The TransformSpec still resolves by table name (transformers are
    #: code, schemas are data — the reference's split).
    schema_folder: str | None = None
    #: zone-map stat columns for NEW tables (lake/table.py
    #: write_data_files): per-file min/max recorded in the manifest for
    #: these columns on every write, driving read(prune_stats=...) file
    #: skipping. None = the key columns; [] disables. Like num_buckets, a
    #: physical knob fixed at CREATE — an existing table keeps its own
    #: policy (extend it via `compact --sort-columns`).
    stat_columns: list[str] | None = None
    #: table description, applied each run as an idempotent metadata-only
    #: schema push (LakeTable.update_schema — the reference's ``bq update
    #: --description`` maintenance flow run from config instead of a shell
    #: script, maintenance/schemas.md). Setting it also re-pushes the
    #: DECLARED schema, so an edited schema file widens the live table at
    #: run START (out-of-band) instead of waiting for the first MERGE —
    #: and a schema file that went NARROWER than the table fails loudly.
    description: str | None = None
    #: durable clustering spec, applied each run via the idempotent
    #: LakeTable.set_clustering (the ``bq update --clustering_fields``
    #: analog): ``{"sort_columns": [...], "max_records_per_file": N?}`` —
    #: flagless maintenance keeps this layout from then on.
    clustering: dict[str, Any] | None = None
    #: MAIN table root this (staging) table promotes into after a GREEN
    #: iteration — the reference's staging-dataset → main-dataset transfer
    #: (bq_client.py:103-116: load into ``<table>_staging``, then copy over
    #: main; the README's "BigQuery Data Transfers" step). Promotion is
    #: atomic + O(files) (hard links); it runs only when the iteration's
    #: reconcile passed, so unverified staging data never reaches main.
    promote_to: str | None = None
    #: change-log file format (sources/changelog.LOG_FORMATS): "parquet"
    #: (native), "ndjson" (the reference's wire format — its extract stage
    #: writes newline-delimited JSON staging files), "orc", or "csv"
    #: (interop; NULLs as the \N sentinel). Non-parquet logs take the
    #: union fold — bucket alignment is provable only for parquet.
    log_format: str = "parquet"

    def erratum_for(self, table: str) -> int:
        """Accepted signed drift for a table (reference
        worker_config.py:101-104: absent tables default to 0)."""
        return int(self.counts_checks_errata.get(table, 0))


@dataclass
class MultiWorkerConfig:
    """A LIST of tables planned/replayed/reconciled together — the
    reference's actual unit of operation (8 append-only + 7 mutable indices
    per bulk, each with its own schema and transformer,
    /root/reference/multiversxetl/worker_config.py:51-65,
    app_controller.py:55-102). Each entry is a full WorkerConfig with its
    own log, table root, stream and ledger; top-level keys act as defaults
    merged under every entry.

    ``num_threads`` (top-level only — the reference's per-group knob,
    worker_config.py:57,86; mainnet runs 4-8) runs that many table jobs
    CONCURRENTLY: Spark job submission is thread-safe and concurrent jobs
    from separate driver threads overlap in the scheduler, which is the
    standard way to amortize the per-job fixed cost (planning, commits,
    small stages) across many small-to-medium tables. Each thread tags its
    jobs with a per-table scheduler pool, so a deployment running
    ``spark.scheduler.mode=FAIR`` gets fair sharing between tables for
    free; under the default FIFO the overlap alone captures most of the
    win. First failure stops the pool (no new tables start, in-flight
    tables finish) and re-raises — the reference's error-event semantics
    (app_controller.py:156-193)."""

    tables: list[WorkerConfig]
    num_threads: int = 1


_REQUIRED = ("table_root", "log_path")
_KNOWN = {
    "table_root", "log_path", "name", "schema", "normalizer", "stream_id",
    "interval_size", "num_buckets", "compact_every",
    "max_files_per_trigger", "trigger_interval",
    "fail_on_counts_mismatch", "counts_checks_errata", "processing",
    "schema_folder", "stat_columns", "description",
    "clustering", "promote_to", "log_format",
}


def worker_config_from_dict(data: dict[str, Any]) -> WorkerConfig | MultiWorkerConfig:
    if not isinstance(data, dict):
        raise ConfigError(f"config must be a JSON object, got {type(data).__name__}")
    if "tables" in data:
        # num_threads is a property of the multi-table RUN, never of one
        # table — it stays OUT of the per-entry defaults merge
        num_threads = data.get("num_threads", 1)
        if not isinstance(num_threads, int) or num_threads < 1:
            raise ConfigError("num_threads must be a positive integer")
        defaults = {
            k: v for k, v in data.items() if k not in ("tables", "num_threads")
        }
        entries = data["tables"]
        if not isinstance(entries, list) or not entries:
            raise ConfigError("'tables' must be a non-empty list")
        for e in entries:
            if not isinstance(e, dict):
                raise ConfigError(
                    f"'tables' entries must be objects, got {type(e).__name__}"
                )
            if "tables" in e:
                raise ConfigError("'tables' entries cannot nest further 'tables'")
        jobs = [worker_config_from_dict({**defaults, **e}) for e in entries]
        names = [j.name for j in jobs]
        if len(set(names)) != len(names):
            raise ConfigError(f"duplicate table names in config: {names}")
        # distinct names writing into one root is the dangerous copy-paste:
        # sequential runs double-process; num_threads>1 runs write the same
        # table CONCURRENTLY (racing ledger commits = lost epochs)
        roots = [j.table_root for j in jobs]
        if len(set(roots)) != len(roots):
            raise ConfigError(f"duplicate table_root in config: {sorted(roots)}")
        # promote_to needs the same cross-entry protection as table_root: a
        # top-level promote_to merged into every entry (or a copy-paste)
        # makes every green iteration REPLACE main's whole contents with a
        # different table's rows — last writer wins silently, and with
        # num_threads>1 the concurrent commits race instead. A promote_to
        # that equals another entry's table_root clobbers a live staging
        # table mid-run. Both are plan-time misconfigurations.
        root_set = {os.path.abspath(r) for r in roots}
        promotes = [
            os.path.abspath(j.promote_to) for j in jobs if j.promote_to is not None
        ]
        if len(set(promotes)) != len(promotes):
            raise ConfigError(
                f"duplicate promote_to in config: {sorted(promotes)} — "
                "two tables promoting into one main overwrite each other"
            )
        clashes = sorted(set(promotes) & root_set)
        if clashes:
            raise ConfigError(
                f"promote_to collides with a table_root in config: {clashes}"
            )
        return MultiWorkerConfig(tables=jobs, num_threads=num_threads)
    unknown = set(data) - _KNOWN
    if unknown:
        raise ConfigError(f"unknown config keys: {sorted(unknown)}")
    missing = [k for k in _REQUIRED if k not in data]
    if missing:
        raise ConfigError(f"missing required config keys: {missing}")
    cfg = WorkerConfig(**data)
    if cfg.log_format not in ("parquet", "ndjson", "orc", "csv"):
        raise ConfigError(
            "log_format must be 'parquet', 'ndjson', 'orc' or 'csv', "
            f"got {cfg.log_format!r}"
        )
    if cfg.processing not in ("append_only", "mutable"):
        raise ConfigError(
            f"processing must be 'append_only' or 'mutable', got {cfg.processing!r}"
        )
    if not isinstance(cfg.interval_size, int) or cfg.interval_size <= 0:
        raise ConfigError("interval_size must be a positive integer")
    if not isinstance(cfg.num_buckets, int) or cfg.num_buckets <= 0:
        raise ConfigError("num_buckets must be a positive integer")
    if not isinstance(cfg.counts_checks_errata, dict) or not all(
        isinstance(v, int) for v in cfg.counts_checks_errata.values()
    ):
        raise ConfigError(
            "counts_checks_errata must be an object of signed integers"
        )
    if cfg.stat_columns is not None and (
        not isinstance(cfg.stat_columns, list)
        or not all(isinstance(c, str) for c in cfg.stat_columns)
    ):
        raise ConfigError("stat_columns must be a list of column names")
    if cfg.description is not None and not isinstance(cfg.description, str):
        raise ConfigError("description must be a string")
    if cfg.clustering is not None:
        if not isinstance(cfg.clustering, dict) or set(cfg.clustering) - {
            "sort_columns",
            "max_records_per_file",
        }:
            raise ConfigError(
                "clustering must be an object with sort_columns "
                "(+ optional max_records_per_file)"
            )
        sc = cfg.clustering.get("sort_columns")
        if not isinstance(sc, list) or not all(isinstance(c, str) for c in sc):
            raise ConfigError("clustering.sort_columns must be a list of column names")
        mrpf = cfg.clustering.get("max_records_per_file")
        if mrpf is not None and (not isinstance(mrpf, int) or mrpf < 1):
            raise ConfigError(
                "clustering.max_records_per_file must be a positive integer"
            )
    if cfg.promote_to is not None:
        if not isinstance(cfg.promote_to, str) or not cfg.promote_to:
            raise ConfigError("promote_to must be a table root path")
        if os.path.abspath(cfg.promote_to) == os.path.abspath(cfg.table_root):
            raise ConfigError("promote_to must differ from table_root")
        if cfg.trigger_interval is not None:
            # a continuous query never finishes an "iteration", so there is
            # no green-reconcile moment to promote at — refuse up front
            raise ConfigError(
                "promote_to requires batch or drain-to-idle iterations, "
                "not a continuous trigger_interval stream"
            )
    from multiversx_etl_spark.operators.normalize import REGISTRY
    from multiversx_etl_spark.schemas import TABLES

    if cfg.schema_folder is not None:
        # external schema files (the reference's schema_folder): the file
        # must exist NOW — a typo'd path failing at plan time, not at the
        # first replay, is the whole point of validating configs up front
        schema_path = os.path.join(cfg.schema_folder, f"{cfg.schema}.json")
        if not os.path.isfile(schema_path):
            raise ConfigError(f"schema file not found: {schema_path}")
        if cfg.normalizer not in REGISTRY and cfg.normalizer != cfg.schema:
            raise ConfigError(
                f"unknown normalizer {cfg.normalizer!r}: with schema_folder it "
                f"must be a registry name (have {sorted(REGISTRY)}) or the "
                f"table name itself (spec-resolved)"
            )
        return cfg
    if cfg.schema not in TABLES:
        raise ConfigError(f"unknown declared schema {cfg.schema!r} (have {sorted(TABLES)})")
    if cfg.normalizer not in REGISTRY:
        raise ConfigError(
            f"unknown normalizer {cfg.normalizer!r} (have {sorted(REGISTRY)})"
        )
    return cfg


def load_worker_config(path: str) -> WorkerConfig | MultiWorkerConfig:
    with open(path) as fh:
        return worker_config_from_dict(json.load(fh))


def _resolve_table(cfg: WorkerConfig):
    """(log schema, target schema, key columns, normalizer fn) for a config:
    the packaged declared-table registry by default, or an external
    ``schema_folder`` file (the reference's `{folder}/{index}.json` by-name
    resolution, bq_client.py:84-87) with the TransformSpec looked up by
    table name."""
    from multiversx_etl_spark.operators.normalize import REGISTRY
    from multiversx_etl_spark.schemas import TABLES

    if cfg.schema_folder is not None:
        from multiversx_etl_spark.catalog import (
            DEFAULT_SPEC,
            SPECS,
            load_table_from_folder,
        )
        from multiversx_etl_spark.operators.normalize import normalizer_from_spec

        cat = load_table_from_folder(cfg.schema_folder, cfg.schema)
        normalizer = (
            REGISTRY[cfg.normalizer]
            if cfg.normalizer in REGISTRY
            else normalizer_from_spec(SPECS.get(cfg.schema, DEFAULT_SPEC))
        )
        return cat.log_schema, cat.target_schema, list(cat.key_columns), normalizer
    log_schema, target_schema, key_columns = TABLES[cfg.schema]
    return log_schema, target_schema, key_columns, REGISTRY[cfg.normalizer]


def _apply_table_metadata(table, cfg: WorkerConfig, target_schema) -> None:
    """Config-declared table metadata, applied at run start through the
    idempotent out-of-band maintenance commits: ``description`` pushes the
    declared schema + description (so an edited schema file widens the
    live table BEFORE any data flows — or fails loudly if it narrowed),
    ``clustering`` declares the durable sort/slice spec. Re-running an
    unchanged config commits nothing."""
    if cfg.description is not None:
        table.update_schema(target_schema, description=cfg.description)
    if cfg.clustering is not None:
        cols = list(cfg.clustering["sort_columns"])
        live = set(table.snapshot().schema.fieldNames())
        missing = [c for c in cols if c not in live]
        if missing and all(c in target_schema.fieldNames() for c in missing):
            # one config edit added a column to the schema file AND
            # clustered on it: widen the live table first, or every run
            # dies validating the spec before the widening MERGE executes.
            # (Only then — an unconditional push would refuse tables that
            # legitimately evolved beyond the declared file.)
            table.update_schema(target_schema)
        table.set_clustering(
            cols,
            max_records_per_file=cfg.clustering.get("max_records_per_file"),
        )


def run_from_config(spark, cfg: "WorkerConfig | MultiWorkerConfig",
                    streaming: bool = False,
                    checkpoint_dir: str | None = None) -> dict[str, Any]:
    """Execute one configured iteration: batch replay (default) or a
    Structured Streaming tail, then the counts/sha reconciliation with the
    configured errata — the reference's process-*-indices loop body
    (app.py:74-106: load -> transfer -> check).

    A MultiWorkerConfig runs every table job — each with its own declared
    schema, transformer, stream and ledger (the reference's indices list) —
    and reports per-table summaries plus an overall ``reconcile_ok``.
    Streaming multi-table runs give each table its own checkpoint subdir."""
    if isinstance(cfg, MultiWorkerConfig):
        if streaming:
            # fail the WHOLE run before any table job starts: dying on the
            # 9th table after 8 streaming drains (and after creating the
            # mutable table empty) would leave a half-executed iteration
            bad = [j.name for j in cfg.tables if j.processing == "mutable"]
            if bad:
                raise ConfigError(
                    f"processing='mutable' tables {bad} cannot run in a "
                    f"streaming iteration: mutable is a batch reload"
                )
        def _sub_ckpt(job: WorkerConfig) -> str | None:
            return (
                f"{checkpoint_dir.rstrip('/')}/{job.name}" if checkpoint_dir else None
            )

        results: dict[str, Any] = {}
        if cfg.num_threads > 1 and len(cfg.tables) > 1:
            # the reference's thread-pool consume loop
            # (app_controller.py:156-193): N threads pull table jobs from a
            # shared queue; the first failure stops new picks (in-flight
            # jobs finish) and is re-raised. Disjoint tables share nothing
            # but the SparkSession, whose job submission is thread-safe;
            # PySpark pins each Python thread to its own JVM thread, so the
            # per-thread scheduler-pool tag below is race-free.
            import threading

            pending = list(cfg.tables)
            stop = threading.Event()
            lock = threading.Lock()
            errors: list[tuple[str, BaseException]] = []

            def _worker() -> None:
                while not stop.is_set():
                    with lock:
                        if not pending:
                            return
                        job = pending.pop(0)
                    # EVERYTHING after the pop is inside the try: a failure
                    # anywhere (the pool tag included — a py4j hiccup counts)
                    # must stop the pool and surface, never let the thread
                    # die via threading.excepthook with the job silently
                    # dropped from the report
                    try:
                        spark.sparkContext.setLocalProperty(
                            "spark.scheduler.pool", f"mxetl-{job.name}"
                        )
                        s = run_from_config(
                            spark, job, streaming=streaming,
                            checkpoint_dir=_sub_ckpt(job),
                        )
                    except BaseException as e:  # noqa: BLE001 — recorded + re-raised below
                        with lock:
                            errors.append((job.name, e))
                        stop.set()
                        return
                    with lock:
                        results[job.name] = s

            threads = [
                threading.Thread(target=_worker, name=f"mxetl-table-{i}")
                for i in range(min(cfg.num_threads, len(cfg.tables)))
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                import sys as _sys

                name, err = errors[0]
                print(f"[run-config] table {name!r} failed; pool stopped",
                      file=_sys.stderr)
                raise err
            missing = [j.name for j in cfg.tables if j.name not in results]
            if missing:
                # no recorded error yet a job never completed: a thread was
                # killed harder than except can see — this must be a loud
                # failure, not a success report missing a table
                raise RuntimeError(
                    f"thread pool lost table jobs without an error: {missing}"
                )
        else:
            for job in cfg.tables:
                results[job.name] = run_from_config(
                    spark, job, streaming=streaming, checkpoint_dir=_sub_ckpt(job)
                )
        # config order, not completion order, so reports are stable
        tables = {j.name: results[j.name] for j in cfg.tables}
        ok = all(s.get("reconcile_ok", True) for s in tables.values())
        out: dict[str, Any] = {"tables": tables, "reconcile_ok": ok}
        # continuous multi-table runs: hoist the live query handles out of
        # the per-table summaries so the summaries stay JSON-serializable
        # and a caller can await/stop every tail from one place
        qs = [
            s.pop("streaming_query")
            for s in tables.values()
            if s.get("streaming_query") is not None
        ]
        if qs:
            out["streaming_queries"] = qs
        return out

    from multiversx_etl_spark.operators.checks import reconcile
    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.sources.changelog import (
        new_table_layout,
        open_log_for_table,
        read_log,
    )
    from multiversx_etl_spark.streaming.ingest import (
        ensure_table,
        replay,
        stream_ingest,
    )

    if streaming and cfg.processing == "mutable":
        # before ensure_table: refusing AFTER creating the (empty) table
        # would leave state behind for a run that never happened
        raise ConfigError("processing='mutable' is a batch reload, not a stream")
    log_schema, target_schema, key_columns, normalizer = _resolve_table(cfg)
    table = ensure_table(
        spark, cfg.table_root, num_buckets=cfg.num_buckets,
        schema=target_schema, key_columns=key_columns,
        layout=new_table_layout(
            cfg.log_path, num_buckets=cfg.num_buckets,
            key_columns=key_columns, log_format=cfg.log_format,
        ),
        stat_columns=cfg.stat_columns,
    )
    _apply_table_metadata(table, cfg, target_schema)
    if cfg.processing == "mutable":
        # the reference's mutable-index iteration: TRUNCATE + full reload
        # (app_controller.py:55-71). One bootstrap-snapshot commit replaces
        # the entire table with the log's folded live state — atomic, so
        # readers never observe the truncated-but-unloaded window the
        # reference's two-step flow has.
        import pyspark.sql.functions as F

        from multiversx_etl_spark.operators.dedup import dedup_latest
        from multiversx_etl_spark.streaming.ingest import bootstrap_snapshot

        raw = read_log(spark, cfg.log_path, cfg.log_format, schema=log_schema)
        # probe the RAW op column (normalizers never synthesize patches):
        # pushed-down predicate + single-column scan + limit(1), not a
        # full pass over normalized wide rows
        has_patches = (
            raw.select("op").where(F.col("op") == "patch").limit(1).count() > 0
        )
        norm = normalizer(raw)
        if has_patches:
            # partial-image events need the COLUMN-level LWW fold (a
            # whole-row dedup would null out the columns a patch meant to
            # keep): one grouped aggregate over the whole log, per-column
            # max-seq winners among full images + patches setting that
            # column — the same semantics the incremental path's
            # generation fold implements, collapsed to a single pass
            from multiversx_etl_spark.oracle import expected_state as _patch_fold

            live = _patch_fold(norm, key_columns=key_columns)
        else:
            live = (
                dedup_latest(norm, key_columns)
                .where(F.col("op") != "delete")
                .drop("op", "offset")
            )
        rows = bootstrap_snapshot(table, live)
        summary = {
            "processing": "mutable",
            "rows_loaded": rows,
            "patch_fold": has_patches,
        }
        report = reconcile(
            table,
            expected_state(norm, key_columns=key_columns),
            key_columns=key_columns,
            erratum=cfg.erratum_for(cfg.name),
            raise_on_mismatch=cfg.fail_on_counts_mismatch,
        )
        summary["reconcile_ok"] = report.ok
        summary["missing"] = report.missing
        summary["unexpected"] = report.unexpected
        return _maybe_promote(spark, cfg, table, summary)
    if streaming:
        if checkpoint_dir is None:
            raise ConfigError("streaming=True requires checkpoint_dir")
        q = stream_ingest(
            spark, cfg.log_path, table, checkpoint_dir,
            stream_id=cfg.stream_id,
            max_files_per_trigger=cfg.max_files_per_trigger,
            compact_every=cfg.compact_every,
            trigger_interval=cfg.trigger_interval,
            normalizer=normalizer,
            log_schema=log_schema,
            log_format=cfg.log_format,
        )
        if q is not None:
            # continuous mode: the query runs indefinitely, so the
            # per-iteration reconcile CANNOT run here — the caller owns the
            # cadence (e.g. the `reconcile` CLI on a timer). Flag it
            # explicitly so the skipped check is visible, not silent.
            return {"streaming_query": q, "reconcile_skipped": True}
        summary: dict[str, Any] = {}
    else:
        log = open_log_for_table(
            spark, cfg.log_path, table.snapshot(), cfg.log_format,
            schema=log_schema, table_name=f"mxetl_log_{cfg.name}",
            label=f"table {cfg.name!r}: ",
        )
        s = replay(
            log, table,
            interval_size=cfg.interval_size,
            stream_id=cfg.stream_id,
            compact_every=cfg.compact_every,
            normalizer=normalizer,
        )
        summary = {"epochs_run": s.epochs_run, "epochs_skipped": s.epochs_skipped,
                   "rows_in": s.rows_in,
                   "folds": dict(Counter(st.fold for st in s.stats if st.fold))}
    # expected side runs through the SAME per-table transformer before the
    # LWW fold — the invariant compares normalized rows on both sides
    report = reconcile(
        table,
        expected_state(
            normalizer(read_log(spark, cfg.log_path, cfg.log_format, schema=log_schema)),
            key_columns=key_columns,
        ),
        key_columns=key_columns,
        erratum=cfg.erratum_for(cfg.name),
        raise_on_mismatch=cfg.fail_on_counts_mismatch,
    )
    summary["reconcile_ok"] = report.ok
    summary["missing"] = report.missing
    summary["unexpected"] = report.unexpected
    return _maybe_promote(spark, cfg, table, summary)


def _maybe_promote(spark, cfg: WorkerConfig, staging, summary: dict[str, Any]):
    """Staging→main transfer after a green iteration (the reference loads
    ``<table>_staging`` then copies over main, bq_client.py:103-116; every
    iteration transfers, like the reference's BQ Data Transfers step). The
    main table is created on first promotion with the staging's physical
    spec; a failed reconcile skips the transfer — unverified staging data
    never reaches main — and reports it."""
    if cfg.promote_to is None:
        return summary
    if not summary.get("reconcile_ok", False):
        summary["promoted"] = False
        return summary
    from multiversx_etl_spark.lake.table import LakeTable

    m = LakeTable.promote_into(spark, cfg.promote_to, staging)
    summary["promoted"] = True
    summary["promote_to"] = cfg.promote_to
    summary["promote_version"] = m.version
    return summary


def run_loop_from_config(
    spark,
    config_path: str,
    sleep_between_iterations: float,
    max_iterations: int | None = None,
    on_iteration=None,
    should_stop=None,
) -> list[dict[str, Any]]:
    """The reference's process-*-indices OUTER loop (app.py:74-106, shipped
    as the docker-compose entrypoint ``--sleep-between-iterations 3600``):
    re-READ the config file each pass — the per-iteration hot reload of
    app.py:82-86, so ops edit knobs/errata/schema files live — run one
    batch iteration (multi-table configs run all their tables), sleep,
    repeat. ``should_stop()`` is polled during the sleep for a graceful
    stop after the current iteration; ``max_iterations`` bounds test runs.
    Returns every iteration's summary."""
    import sys as _sys
    import time as _time

    out: list[dict[str, Any]] = []
    i = 0
    prev_cfg = None
    while True:
        # the loop exists so ops can edit the file between iterations, and
        # ops edits are not atomic: a delete-then-recreate save (vim,
        # configmap updaters) or a partial write landing exactly when the
        # sleep ends must not kill the supervisor. Same contract as
        # stream_with_config_reload: a torn/invalid read keeps the PREVIOUS
        # config for this iteration and retries the file next pass. The
        # FIRST load still raises — there is no previous config to keep,
        # and a typo'd path should fail at plan time.
        try:
            cfg = load_worker_config(config_path)
        except (ConfigError, ValueError, OSError, KeyError) as e:
            if prev_cfg is None:
                raise
            print(
                f"[config-loop] ignoring unreadable edit, keeping previous "
                f"config: {e}",
                file=_sys.stderr,
            )
            cfg = prev_cfg
        prev_cfg = cfg
        summary = run_from_config(spark, cfg)
        out.append(summary)
        i += 1
        if on_iteration is not None:
            on_iteration(i, summary)
        if max_iterations is not None and i >= max_iterations:
            break
        deadline = _time.monotonic() + sleep_between_iterations
        stopped = False
        while _time.monotonic() < deadline:
            if should_stop is not None and should_stop():
                stopped = True
                break
            _time.sleep(min(0.2, max(0.0, deadline - _time.monotonic())))
        if stopped or (should_stop is not None and should_stop()):
            break
    return out


def stream_with_config_reload(
    spark,
    config_path: str,
    checkpoint_dir: str,
    poll_seconds: float = 0.5,
    on_poll=None,
) -> dict[str, Any]:
    """Continuous ingest whose knobs FOLLOW THE CONFIG FILE — the analog of
    the reference re-reading its worker config every loop iteration
    (/root/reference/multiversxetl/app.py:82-86 recreates the controller
    from the file each pass, so ops edit knobs live).

    Structured Streaming cannot mutate source options (maxFilesPerTrigger,
    trigger cadence) on a running query, so a reload is the standard
    operator move: stop the query GRACEFULLY, re-read the file, restart
    FROM THE SAME CHECKPOINT — progress is preserved by the checkpoint and
    any replayed in-flight batch is a no-op under the epoch markers
    (exactly-once holds across restarts by construction; that is the whole
    point of committing the marker atomically with the data).

    The supervisor polls the file's mtime between triggers. ``on_poll``
    (optional) is called each poll with (table, applied_config) and may
    return True to stop the loop — the supervision hook tests and callers
    embed shutdown/mutation logic in without threads. Returns
    ``{"reloads": N, "applied": [per-generation knob dicts]}``.

    Single-table configs with a ``trigger_interval`` only: multi-table
    continuous deployments run one supervisor per table (each owns its
    checkpoint), exactly like the reference runs one worker per index
    group."""
    import time as _time

    from multiversx_etl_spark.sources.changelog import new_table_layout
    from multiversx_etl_spark.streaming.ingest import ensure_table, stream_ingest

    applied: list[dict[str, Any]] = []
    # load FIRST, then stat: the reverse order would read a newer edit but
    # record the older mtime and spuriously restart once
    cfg = load_worker_config(config_path)
    mtime = os.path.getmtime(config_path)
    stop = False
    while not stop:
        if isinstance(cfg, MultiWorkerConfig):
            raise ConfigError("stream_with_config_reload takes a single-table config")
        if cfg.trigger_interval is None:
            raise ConfigError("stream_with_config_reload requires trigger_interval")
        log_schema, target_schema, key_columns, normalizer = _resolve_table(cfg)
        table = ensure_table(
            spark, cfg.table_root, num_buckets=cfg.num_buckets,
            schema=target_schema, key_columns=key_columns,
            layout=new_table_layout(
                cfg.log_path, num_buckets=cfg.num_buckets,
                key_columns=key_columns, log_format=cfg.log_format,
            ),
        )
        _apply_table_metadata(table, cfg, target_schema)
        applied.append(
            {
                "max_files_per_trigger": cfg.max_files_per_trigger,
                "trigger_interval": cfg.trigger_interval,
                "compact_every": cfg.compact_every,
                "erratum": cfg.erratum_for(cfg.name),
            }
        )
        q = stream_ingest(
            spark, cfg.log_path, table, checkpoint_dir,
            stream_id=cfg.stream_id,
            max_files_per_trigger=cfg.max_files_per_trigger,
            compact_every=cfg.compact_every,
            trigger_interval=cfg.trigger_interval,
            normalizer=normalizer,
            log_schema=log_schema,
            log_format=cfg.log_format,
        )
        try:
            while True:
                if not q.isActive:
                    # the query died (bad batch, sink failure): rethrow its
                    # exception instead of supervising a corpse forever
                    q.awaitTermination()
                    raise RuntimeError(
                        "streaming query terminated unexpectedly with no exception"
                    )
                if on_poll is not None and on_poll(table, cfg):
                    stop = True
                    break
                try:
                    new_mtime = os.path.getmtime(config_path)
                except OSError:
                    # delete-then-recreate save (vim, configmap updaters):
                    # the gap between unlink and recreate must not kill the
                    # healthy query — re-poll
                    _time.sleep(poll_seconds)
                    continue
                if new_mtime != mtime:
                    # parse AND resolve the NEW config BEFORE stopping the
                    # query: ops file edits are not atomic, so a torn/invalid
                    # read must leave the running generation untouched —
                    # and that includes the schema_folder FILES the config
                    # points at (_resolve_table reads them), a mid-rewrite
                    # schema JSON, or an edit that no longer fits this
                    # supervisor (multi-table / no trigger). Deferring any
                    # of these to the loop top would raise AFTER q.stop().
                    # mtime advances only on a SUCCESSFUL load — a torn read
                    # whose completing write lands in the same coarse mtime
                    # tick is retried next poll, never silently dropped.
                    try:
                        new_cfg = load_worker_config(config_path)
                        if isinstance(new_cfg, MultiWorkerConfig):
                            raise ConfigError(
                                "stream_with_config_reload takes a "
                                "single-table config"
                            )
                        if new_cfg.trigger_interval is None:
                            raise ConfigError(
                                "stream_with_config_reload requires "
                                "trigger_interval"
                            )
                        _resolve_table(new_cfg)  # schema files must resolve NOW
                    except (ConfigError, ValueError, OSError, KeyError) as e:
                        import sys as _sys

                        print(
                            f"[config-reload] ignoring unreadable edit: {e}",
                            file=_sys.stderr,
                        )
                        _time.sleep(poll_seconds)
                        continue
                    cfg = new_cfg
                    mtime = new_mtime
                    break  # graceful restart with the new knobs
                _time.sleep(poll_seconds)
        finally:
            q.stop()
            q.awaitTermination()
    return {"reloads": len(applied) - 1, "applied": applied}
