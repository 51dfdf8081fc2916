"""Per-layer metrics of the traced run.

``install`` wraps the engine's public functions at the names their callers
look up; ``compute`` turns the recorded spans, the Spark stage counters
charged to them and the pass artifacts into the per-layer metrics. A layer
the workload does not exercise reports 0: no work was done there.

Which end-to-end metric each per-layer metric should move, on which
workload, is the README's "metric map"."""

from __future__ import annotations

import os
import re
import statistics
import time

from perfbench.common import data_bytes, jit_cpu_s, median, p90, scan_digest
from perfbench.trace import rollup, stage_metrics
from perfbench.workloads import SUITE

UNITS = {
    "ingest.epochs": "count",
    "ingest.epoch_s_p50": "s",
    "ingest.self_s": "s",
    "ingest.merge_attempts_per_epoch": "1",
    "ingest.freshness_s_p50": "s",
    "ingest.freshness_s_p90": "s",
    "ingest.backlog_files_max": "count",
    "ingest.generator_late_s_max": "s",
    "merge.self_s": "s",
    "merge.spark_jobs_per_epoch": "count",
    "merge.write_plan_exchanges": "count",
    "merge.shuffle_bytes_per_event": "B",
    "merge.bucket_skew": "1",
    "merge.rows_written_per_row_in": "1",
    "lake.write_s": "s",
    "lake.bytes_written_per_event": "B",
    "lake.write_calls_per_epoch": "count",
    "lake.commit_s_p50": "s",
    "lake.manifest_root_bytes": "B",
    "lake.group_docs_written": "count",
    "lake.snapshot_calls_per_epoch": "count",
    "lake.scan_s": "s",
    "lake.scan_files": "count",
    "lake.scan_rows_per_live_row": "1",
    "lake.stored_bytes_per_row": "B",
    "changelog.log_rows_scanned_per_event": "1",
    "changelog.batch_files_p50": "count",
    "queries.suite_s": "s",
    "queries.construct_s": "s",
    "queries.value_checked": "count",
    "queries.rows_only": "count",
    **{f"queries.{q}_s": "s" for q in SUITE},
    "jvm.peak_rss_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.disk_write_bytes": "B",
    "tracing.overhead_frac": "1",
    "untraced.wall_s_per_op": "s",
}

_EXCHANGE = re.compile(r"\bExchange\b")


def install(tracer) -> None:
    """Wrap the engine's public functions for the traced pass."""
    from multiversx_etl_spark.lake import table as lt
    from multiversx_etl_spark.operators import merge
    from multiversx_etl_spark.streaming import ingest
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    os.environ["MXETL_CAPTURE_PLAN"] = "1"
    tracer.on_uninstall(lambda: os.environ.pop("MXETL_CAPTURE_PLAN", None))

    def epoch_arg(*a, **k):
        return a[3] if len(a) > 3 else k.get("epoch_id")

    def after_merge(sp, stats, a, k):
        plan = merge.LAST_WRITE_PLAN or ""
        sp.attrs["exchanges"] = len(_EXCHANGE.findall(plan))
        sp.attrs["rows_in"] = stats.rows_in
        rows = [b["rows_in"] for b in stats.per_bucket or [] if b["rows_in"]]
        if rows:
            sp.attrs["skew"] = max(rows) / statistics.mean(rows)

    def after_write(sp, entries, a, k):
        root = a[0].root
        sp.attrs["rows"] = sum(int(e["rows"]) for e in entries)
        sp.attrs["bytes"] = sum(
            os.path.getsize(os.path.join(root, e["path"])) for e in entries
        )

    def wrap_batch(orig):
        def foreach_batch(self, func):
            def traced(batch_df, epoch_id):
                with tracer.span("ingest.batch", epoch=epoch_id):
                    return func(batch_df, epoch_id)
            return orig(self, traced)
        return foreach_batch

    tracer.wrap(ingest, "apply_epoch", "ingest.apply_epoch", epoch_of=epoch_arg)
    tracer.wrap(ingest, "_write_lineage", "ingest.lineage", jobs=False)
    tracer.wrap(ingest, "merge_batch", "merge.merge_batch", after=after_merge)
    tracer.wrap(lt.LakeTable, "write_data_files", "lake.write_data_files",
                after=after_write)
    tracer.wrap(lt.LakeTable, "commit", "lake.commit")
    tracer.wrap(lt.LakeTable, "read", "lake.read")
    tracer.wrap(lt.LakeTable, "snapshot", "lake.snapshot", jobs=False)
    orig = DataStreamWriter.foreachBatch
    tracer.on_uninstall(lambda: setattr(DataStreamWriter, "foreachBatch", orig))
    DataStreamWriter.foreachBatch = wrap_batch(orig)


def _under(tracer, roots, name):
    ids = set()
    for r in roots:
        ids |= tracer.descendants(r.id)
    return [s for s in tracer.spans if s.id in ids and s.name == name]


def compute(run, ctx: dict, io0: dict, gc0: float) -> dict[str, float]:
    tr = run.tracer
    spans = tr.spans
    self_t = tr.self_times()
    per_span = stage_metrics(run.spark)
    out = {k: 0.0 for k in UNITS}
    passes = ctx.get("passes", [])
    # passes: untraced, traced, untraced
    traced = passes[1] if len(passes) == 3 else None
    if traced:
        untraced = [passes[0], passes[2]]
        out["tracing.overhead_frac"] = traced["wall"] / statistics.mean(
            [p["wall"] for p in untraced]
        ) - 1.0
        out["untraced.wall_s_per_op"] = statistics.mean(
            [p["wall"] / p["ops"] for p in untraced]
        )
    out["jvm.peak_rss_mb"] = run.jvm_status_kb("VmHWM") / 1024.0
    out["jvm.jit_cpu_s"] = jit_cpu_s(run.jvm_pid())
    out["jvm.gc_s"] = run.jvm_gc_s() - gc0
    out["jvm.disk_write_bytes"] = run.jvm_io().get("write_bytes", 0) - io0.get("write_bytes", 0)

    epochs = tr.named("ingest.apply_epoch")
    n_ep = len(epochs)
    events = ctx.get("events", 0)
    if n_ep:
        merges = tr.named("merge.merge_batch")
        out["ingest.epochs"] = n_ep
        out["ingest.epoch_s_p50"] = median([s.dur for s in epochs])
        ingest_spans = [s for s in spans if s.name.startswith("ingest.")]
        out["ingest.self_s"] = sum(self_t[s.id] for s in ingest_spans)
        out["ingest.merge_attempts_per_epoch"] = len(merges) / n_ep
        out["merge.self_s"] = sum(self_t[s.id] for s in merges)
        mstats = rollup(tr, per_span, merges)
        out["merge.spark_jobs_per_epoch"] = mstats["jobs"] / n_ep
        out["merge.write_plan_exchanges"] = max(s.attrs.get("exchanges", 0) for s in merges)
        out["merge.shuffle_bytes_per_event"] = mstats["shuffle_write_bytes"] / events
        skews = [s.attrs["skew"] for s in merges if "skew" in s.attrs]
        out["merge.bucket_skew"] = statistics.mean(skews) if skews else 0.0
        writes = _under(tr, epochs, "lake.write_data_files")
        rows_in = sum(s.attrs.get("rows_in", 0) for s in merges)
        out["merge.rows_written_per_row_in"] = (
            sum(s.attrs["rows"] for s in writes) / rows_in if rows_in else 0.0
        )
        out["lake.write_s"] = sum(s.dur for s in writes)
        out["lake.bytes_written_per_event"] = sum(s.attrs["bytes"] for s in writes) / events
        out["lake.write_calls_per_epoch"] = len(writes) / n_ep
        commits = _under(tr, epochs, "lake.commit")
        out["lake.commit_s_p50"] = median([s.dur for s in commits]) if commits else 0.0
        out["lake.snapshot_calls_per_epoch"] = len(_under(tr, epochs, "lake.snapshot")) / n_ep
        scanned = rollup(tr, per_span, tr.named("ingest.batch"))["input_records"]
        out["changelog.log_rows_scanned_per_event"] = scanned / events

    window = ctx.get("window")
    if window:
        out["ingest.freshness_s_p50"] = median(window["freshness"])
        out["ingest.freshness_s_p90"] = p90(window["freshness"])
        out["ingest.backlog_files_max"] = max(window["backlog"])
        out["ingest.generator_late_s_max"] = window["late_max"]
        per_commit: dict[float, int] = {}
        for c in window["commit_at"]:
            per_commit[c] = per_commit.get(c, 0) + 1
        out["changelog.batch_files_p50"] = median(list(per_commit.values()))

    table = (traced or {}).get("table")
    if table is not None:
        _table_layer(table, out)

    suite = [s for s in spans if s.name.startswith("queries.q_")]
    if suite:
        out["queries.suite_s"] = sum(s.dur for s in suite)
        out["queries.construct_s"] = sum(s.dur for s in tr.named("queries.construct"))
        for q in SUITE:
            out[f"queries.{q}_s"] = sum(s.dur for s in tr.named(f"queries.{q}"))
        out["queries.value_checked"] = run.value_checked
        out["queries.rows_only"] = run.rows_only
    return out


def _table_layer(table, out: dict) -> None:
    """Scan and storage counters of the traced pass's final table."""
    m = table.snapshot()
    manifests = os.path.join(table.root, "_manifests")
    out["lake.manifest_root_bytes"] = os.path.getsize(
        os.path.join(manifests, f"v{m.version:08d}.json")
    )
    groups = os.path.join(manifests, "groups")
    out["lake.group_docs_written"] = len(os.listdir(groups)) if os.path.isdir(groups) else 0
    size, phys = data_bytes(table)
    live = scan_digest(table)[0]
    out["lake.stored_bytes_per_row"] = size / live
    out["lake.scan_rows_per_live_row"] = phys / live
    out["lake.scan_files"] = len(table.read().inputFiles())
    # a few full-state scans of the traced table, after the traced pass
    # (they are not part of the ingest wall)
    xs = []
    for _ in range(3):
        t = time.perf_counter()
        scan_digest(table)
        xs.append(time.perf_counter() - t)
    out["lake.scan_s"] = median(xs)

