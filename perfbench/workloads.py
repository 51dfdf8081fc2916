"""The two workloads. Each loads one part of the engine heavily:

- ``tail``: ``stream_ingest`` drains a landing directory of small
  plain-parquet log files (union fold, 30% patch updates) in a fixed
  number of micro-batches; the per-epoch costs of ingest, merge, write and
  commit dominate.
- ``query_suite``: a fixed subset of ``queries.QUERIES`` over seeded
  synthetic tables, written to the ``noop`` sink.

Each returns ``(metrics, ctx)``: the end-to-end metrics of its timed
passes and the artifacts the traced run derives per-layer metrics from.
Sizes are constants: a run is comparable with another run of the same
workload only at the same sizes."""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time

from perfbench.common import (
    Run,
    digest,
    median,
    oracle_state,
    parquet_files,
    seeded_log,
    table_rows,
)

BUCKETS = 16

#: one tail pass: this many landed files of this many events each,
#: drained in this many micro-batches (epochs)
TAIL_FILES = 40
TAIL_EVENTS_PER_FILE = 100
TAIL_BATCHES = 4
#: nominal wall time of one warm pass; ``--seconds`` buys this many
#: seconds' worth of passes, a count that does not depend on how fast the
#: host is that minute
TAIL_PASS_S = 9.5

#: the traced run's open-loop freshness window (per-layer metrics only):
#: about half the closed-loop drain rate the seed engine sustains on the
#: same files (README, "tail rate"); never derived per run
WINDOW_FILES = 100
WINDOW_FILES_PER_S = 12.5
WINDOW_TRIGGER = "0.5 seconds"
#: a landing more than this late invalidates the run (the generator, not
#: the engine, set the pace)
WINDOW_LATE_BOUND_S = 0.25
WINDOW_DRAIN_TIMEOUT_S = 60.0


def pass_count(run: Run, nominal_s: float, least: int) -> int:
    """Timed passes a run makes: ``--seconds`` over the nominal pass time,
    at least ``least``."""
    return max(least, round(run.seconds / nominal_s))


def _passes(run: Run, one, n: int) -> list[dict]:
    """``n`` timed passes. A traced run makes exactly three passes instead,
    the middle one traced: it gives the per-layer metrics, and the untraced
    passes on either side of it give the tracing overhead without the drift
    of a JVM still warming up."""
    run.log("timed passes start")
    if run.tracer.enabled:
        before = one(0)
        with run.tracer.installed():
            with run.tracer.span("pass") as root:
                run.tracer.root = root.id
                traced = one(1)
            run.tracer.root = None
        return [before, traced, one(2)]
    out = []
    for i in range(n):
        out.append(one(i))
        run.log(f"pass {i + 1}/{n}: wall {out[-1]['wall']:.3f}s, "
                f"cpu {out[-1]['cpu']:.2f}s, ops {out[-1]['ops']}")
    return out


def _check_state(run: Run, table, want: tuple[int, str], ops: int, what: str) -> bool:
    got = digest(table_rows(table))
    return run.check(got == want, f"{what}: state {got} != oracle {want}", ops)


# ---------------------------------------------------------------- tail


def tail(run: Run):
    from multiversx_etl_spark.sources import changelog

    spark = run.spark
    cpu = run.work_cpu_s()
    log = seeded_log(
        spark, TAIL_FILES * TAIL_EVENTS_PER_FILE, run.seed, "tail", patch_fraction=0.3
    )
    changelog.write_log_parquet(log, run.path("tail-log"), files=8)
    files = _landing_files(run.path("tail-log"), run.path("tail-stage"), TAIL_FILES)
    run.setup_once_s = run.work_cpu_s() - cpu
    run.log(f"log built with {run.setup_once_s:.2f} CPU s")
    want = digest(oracle_state([f for _, f, _ in files])[0])
    batches = 2 if run.tiny else TAIL_BATCHES

    def one(i: int) -> dict:
        p = _drain_pass(run, f"p{i}", files, batches)
        # every pass ingests the same files, so every pass must reach the
        # same state
        _check_state(run, p["table"], want, p["ops"], "tail")
        return p

    one(-1)  # warm-up: the first pass in a JVM runs about twice as long
    run.log("warm-up done")
    passes = _passes(run, one, pass_count(run, TAIL_PASS_S, 2))
    metrics = {"cpu_s_per_op": median([p["cpu"] / p["ops"] for p in passes])}
    ctx = {"events": passes[0]["events"], "passes": passes}
    if run.trace:
        ctx["window"] = _freshness_window(run)
    return metrics, ctx


def _drain_pass(run: Run, tag: str, files: list[tuple[int, str, int]],
                batches: int) -> dict:
    """Land ``files`` in a fresh directory, then drain it with a fresh
    ``stream_ingest`` into a fresh table in ``batches`` micro-batches (the
    default ``availableNow`` trigger blocks until they are committed)."""
    from multiversx_etl_spark.streaming import ingest

    land = run.path(f"tail-{tag}-land")
    os.makedirs(land)
    for i, (_, src, _) in enumerate(files):
        shutil.copyfile(src, os.path.join(land, f"part-{i:05d}.parquet"))
    cpu = run.work_cpu_s()
    table = ingest.ensure_table(run.spark, run.path(f"tail-{tag}-t"), num_buckets=BUCKETS)
    run.setup_samples.append(run.work_cpu_s() - cpu)
    tr = run.tracer
    cpu, t = run.work_cpu_s(), time.perf_counter()
    # traced: the batch handler's spans (on the callback thread) hang under
    # this one, so its self time is the stream's own trigger, planning and
    # checkpoint time
    with tr.span("ingest.stream_ingest") as sp:
        outer = tr.root if sp is not None else None
        if sp is not None:
            tr.root = sp.id
        try:
            ingest.stream_ingest(
                run.spark, land, table, run.path(f"tail-{tag}-ckpt"), stream_id="tail",
                max_files_per_trigger=math.ceil(len(files) / batches),
            )
        finally:
            if sp is not None:
                tr.root = outer
    wall, cpu = time.perf_counter() - t, run.work_cpu_s() - cpu
    epochs = len(_commit_timeline(table, "tail"))
    run.check(epochs == batches, f"tail: {epochs} epochs committed, not {batches}")
    return {
        "wall": wall, "cpu": cpu, "ops": max(1, epochs), "table": table,
        "events": sum(n for _, _, n in files),
    }


def _freshness_window(run: Run) -> dict:
    """The traced run's open-loop window, untraced: a landing thread lands
    ``WINDOW_FILES`` files of a log of their own on a fixed schedule while a
    ``trigger_interval`` tail ingests them. Its freshness is a per-layer
    figure only: it follows the host's load too closely to bound."""
    from multiversx_etl_spark.sources import changelog

    n = WINDOW_FILES // (4 if run.tiny else 1)
    log = seeded_log(
        run.spark, n * TAIL_EVENTS_PER_FILE, run.seed, "window",
        patch_fraction=0.3,
    )
    changelog.write_log_parquet(log, run.path("window-log"), files=8)
    files = _landing_files(run.path("window-log"), run.path("window-stage"), n)
    w = _open_loop(run, "window", files)
    run.check(w["covered"], "window: landed files not all committed", w["epochs"])
    run.check(
        w["late_max"] <= WINDOW_LATE_BOUND_S,
        f"window: generator ran {w['late_max']:.3f}s late", 1,
    )
    run.check(not w["backlog_grew"], "window: backlog grew over the run", 1)
    _check_state(run, w["table"], digest(oracle_state([f for _, f, _ in files])[0]),
                 1, "window")
    return w


def _landing_files(log_dir: str, stage: str, n: int) -> list[tuple[int, str, int]]:
    """Cut the written log into ``n`` files of consecutive offsets, the
    shape a landing zone receives: (first offset, path, rows) each."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    log = pq.read_table(parquet_files(log_dir))
    log = log.take(pc.sort_indices(log, [("offset", "ascending")]))
    os.makedirs(stage)
    out, cuts = [], [log.num_rows * i // n for i in range(n + 1)]
    for i in range(n):
        part = log.slice(cuts[i], cuts[i + 1] - cuts[i])
        path = os.path.join(stage, f"part-{i:05d}.parquet")
        pq.write_table(part, path, compression="zstd", coerce_timestamps="us")
        out.append((part.column("offset")[0].as_py(), path, part.num_rows))
    return out


def _open_loop(run: Run, tag: str, files: list[tuple[int, str, int]]) -> dict:
    """Land ``files`` on a fixed schedule into a fresh directory tailed by a
    fresh ``stream_ingest``; freshness comes afterwards from the table's
    manifests and lineage alone."""
    from multiversx_etl_spark.streaming import ingest

    spark = run.spark
    land = run.path(f"tail-{tag}-land")
    os.makedirs(land)
    table = ingest.ensure_table(spark, run.path(f"tail-{tag}-t"), num_buckets=BUCKETS)
    query = ingest.stream_ingest(
        spark, land, table, run.path(f"tail-{tag}-ckpt"), stream_id="tail",
        max_files_per_trigger=100_000, trigger_interval=WINDOW_TRIGGER,
    )
    sched, actual = [], []
    start = time.time() + 0.5

    def land_all() -> None:
        for i, (_, src, _) in enumerate(files):
            due = start + i / WINDOW_FILES_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"part-{i:05d}.parquet"
            shutil.copyfile(src, os.path.join(land, "." + name))
            os.rename(os.path.join(land, "." + name), os.path.join(land, name))
            sched.append(due)
            actual.append(time.time())

    lander = threading.Thread(target=land_all, name="perfbench-lander")
    lander.start()
    lander.join()
    last_hi = files[-1][0] + files[-1][2]
    deadline = time.time() + WINDOW_DRAIN_TIMEOUT_S
    while time.time() < deadline and _covered_hi(table, "tail") < last_hi:
        time.sleep(0.1)
    query.stop()
    err = query.exception()
    run.log("window batches (rows, s): " + ", ".join(
        f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution', 0) / 1000:.2f}"
        for p in query.recentProgress if p.get("numInputRows", 0) > 0
    ))
    if err is not None:
        run.errors.append(f"window: stream failed: {err}")
    timeline = _commit_timeline(table, "tail")
    commit_at = []
    for lo, _, n in files:
        hi = lo + n
        commit_at.append(next((c for c, cov in timeline if cov >= hi), math.inf))
    fresh = [c - s for c, s in zip(commit_at, sched)]
    backlog = [
        i + 1 - sum(1 for c in commit_at if c <= a) for i, a in enumerate(actual)
    ]
    half = len(backlog) // 2
    covered = err is None and all(math.isfinite(c) for c in commit_at)
    return {
        "table": table, "freshness": fresh if covered else [math.inf],
        "covered": covered,
        "late_max": max(a - s for a, s in zip(actual, sched)),
        "backlog": backlog,
        "backlog_grew": max(backlog[half:]) > 2 * max(backlog[:half]) + 2,
        "epochs": max(1, len(timeline)),
        "commit_at": commit_at,
    }


def _lineage_hi(table, stream_id: str) -> dict[int, int]:
    """epoch -> exclusive offset bound, from the epoch's lineage ledger."""
    import pyarrow.parquet as pq

    base = os.path.join(table.root, "_lineage", f"stream={stream_id}")
    out = {}
    if not os.path.isdir(base):
        return out
    for d in os.listdir(base):
        f = os.path.join(base, d, "part-0.parquet")
        if d.startswith("epoch=") and os.path.exists(f):
            out[int(d.split("=")[1])] = max(
                pq.read_table(f, columns=["offset_hi"]).column("offset_hi").to_pylist()
            )
    return out


def _manifest(table, version: int | None = None) -> dict:
    """The manifest root document as written, read without the engine (so
    the freshness bookkeeping adds no spans to a traced pass)."""
    mdir = os.path.join(table.root, "_manifests")
    if version is None:
        with open(os.path.join(mdir, "_current")) as fh:
            version = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{version:08d}.json")) as fh:
        return json.load(fh)


def _through(doc: dict, stream_id: str) -> int:
    return doc["streams"].get(stream_id, {}).get("epochs_through", -1)


def _covered_hi(table, stream_id: str) -> int:
    through = _through(_manifest(table), stream_id)
    his = _lineage_hi(table, stream_id)
    return max((h for e, h in his.items() if e <= through), default=0)


def _commit_timeline(table, stream_id: str) -> list[tuple[float, int]]:
    """(committed_at, exclusive offset bound covered) per manifest version
    that advanced the stream."""
    his = _lineage_hi(table, stream_id)
    out, last = [], -1
    for v in range(_manifest(table)["version"] + 1):
        doc = _manifest(table, v)
        through = _through(doc, stream_id)
        if through > last:
            cov = max((h for e, h in his.items() if e <= through), default=0)
            out.append((doc["committed_at"], cov))
            last = through
    return out


# ---------------------------------------------------------------- query suite

#: the fixed subset: the ann, dedup/minhash and multimodal operators, the
#: CDC fold and two relational shapes (README, "query subset")
SUITE = (
    "q_cdc_latest_state",
    "q_embedding_pq_codes",
    "q_near_dup_survivors",
    "q_png_decode_stats",
    "q_pricing_summary",
    "q_revenue_by_nation",
)
#: nominal wall time of one warm pass over the subset (``pass_count``)
SUITE_PASS_S = 6.0


def query_suite(run: Run):
    from multiversx_etl_spark import queries as Q
    from perfbench import tables

    spark = run.spark
    sf = run.path("suite-data")
    cpu = run.work_cpu_s()
    tables.write_tables(sf, run.seed)
    run.setup_once_s = run.work_cpu_s() - cpu
    run.setup_samples.append(0.0)

    # warm-up pass doubles as the correctness pass: every result is
    # collected and compared with its DuckDB oracle
    checked, rows_only = _suite_oracle(run, sf)
    run.log(f"warm-up and oracle pass done: {checked} value-checked, {rows_only} rows-only")
    run.rows_only = rows_only
    run.value_checked = checked
    tr = run.tracer

    def one(i: int) -> dict:
        per, construct, qcpu = {}, {}, {}
        cpu = c0 = run.work_cpu_s()
        for name in SUITE:
            with tr.span(f"queries.{name}"):
                t = time.perf_counter()
                with tr.span("queries.construct"):
                    df = Q.QUERIES[name](spark, sf)
                construct[name] = time.perf_counter() - t
                df.write.mode("overwrite").format("noop").save()
                per[name] = time.perf_counter() - t
                qcpu[name] = run.work_cpu_s() - c0
                c0 += qcpu[name]
        cpu = run.work_cpu_s() - cpu
        run.attempted += len(SUITE)
        run.log("per query, wall/cpu s: " + ", ".join(
            f"{n}={per[n]:.2f}/{qcpu[n]:.2f}" for n in SUITE))
        return {"per": per, "construct": construct, "wall": sum(per.values()),
                "cpu": cpu, "ops": len(SUITE)}

    # two more warm-up passes: the JIT is still compiling the suite's
    # code after the oracle pass, and each of the next two noop passes
    # used 5-10% less CPU than the one before it
    one(-1)
    one(-1)
    passes = _passes(run, one, pass_count(run, SUITE_PASS_S, 2))
    metrics = {"cpu_s_per_op": median([p["cpu"] / p["ops"] for p in passes])}
    return metrics, {"passes": passes}


def _suite_oracle(run: Run, sf: str) -> tuple[int, int]:
    import duckdb

    from multiversx_etl_spark import queries as Q
    from perfbench import tables

    con = duckdb.connect()
    checked = rows_only = 0
    try:
        con.execute("SET threads TO 2")
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in SUITE:
            t = time.perf_counter()
            got = Q.QUERIES[name](run.spark, sf).toPandas()
            run.log(f"oracle pass {name}: {time.perf_counter() - t:.2f}s")
            if name not in Q.ORACLE_SQL:
                rows_only += 1
                run.check(len(got) > 0, f"{name}: no rows")
                continue
            want = con.execute(Q.ORACLE_SQL[name]).df()
            ok = tables.same_result(got, want)
            checked += 1
            run.check(ok, f"{name}: result differs from its oracle")
    finally:
        con.close()
    return checked, rows_only


WORKLOADS = {
    "tail": tail,
    "query_suite": query_suite,
}
