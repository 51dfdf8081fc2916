"""Benchmark harness (driver contract).

Runs the full registered query surface (`multiversx_etl_spark.queries`) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, plus the engine's headline CDC replay
(synthetic change log → exactly-once MERGE fold into the lake table), and
prints ONE JSON line:

    {"metric": "bench_total", "value": <sec>, "unit": "sec",
     "queries": {"q...": sec, ..., "cdc_replay": sec},
     "sf": 0.1, "cdc_events_per_sec": N, ...}

The CDC replay is the north-rule metric (BASELINE.json: "CDC events/sec
sustained during replay"); `scaling.py` runs the same replay at two
parallelism levels for the N→4N scaling-efficiency evidence.

Knobs (env):
  SPARK_GRAFT_SF_DIR   parquet table dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  SPARK_GRAFT_EVENTS   CDC replay log size (default 4_000_000)
  SPARK_GRAFT_EPOCHS   number of replay micro-batches (default 2)
  SPARK_GRAFT_BUCKETS  lake-table bucket count (default 32 — measured optimum;
                       fewer, larger reduce tasks beat per-task overhead here)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
NUM_EVENTS = int(os.environ.get("SPARK_GRAFT_EVENTS", "4000000"))
NUM_EPOCHS = int(os.environ.get("SPARK_GRAFT_EPOCHS", "2"))
#: 32 buckets measured fastest for the replay at this scale (fewer, larger
#: reduce tasks/files beat per-task overhead; on a real cluster you size
#: buckets to the table, not the bench).
NUM_BUCKETS = int(os.environ.get("SPARK_GRAFT_BUCKETS", "32"))
#: CDC replay/stream runs per face; fastest reported (±25% one-sided VM noise).
NUM_REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query_suite(spark, sf_dir: str) -> dict[str, float]:
    """Execute every registered query end-to-end (noop sink: full execution,
    zero driver-collect overhead) and return per-query wall seconds.

    The timer wraps DataFrame CONSTRUCTION as well as execution: queries
    with an eager phase (q_ivf_ann's quantizer training collects centroids;
    q_dedup_clusters' label-propagation rounds localCheckpoint inside the
    builder) do real cluster work before the returned plan ever runs, and
    timing only the final noop save would silently exclude it.

    The whole suite runs NUM_REPEATS times and each query reports its
    FASTEST pass (same stance as the CDC faces, VERDICT r02 #5): this VM's
    wall times swing one-sided — identical back-to-back suite runs measure
    2× apart under fabric/steal noise, which round-over-round reads as
    phantom per-query regressions. All samples ship in the JSON."""
    from multiversx_etl_spark import queries as Q

    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    samples: dict[str, list[float]] = {n: [] for n in Q.QUERIES}
    for _rep in range(max(1, NUM_REPEATS)):
        for name in sorted(Q.QUERIES):
            t0 = time.perf_counter()
            df = Q.QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            total = round(time.perf_counter() - t0, 4)
            samples[name].append(total)
            if name not in timings or total < timings[name]:
                timings[name] = total
                construct[name] = round(t1 - t0, 4)
    return timings, construct, samples


def _require_join(face: str, stats) -> None:
    """The merge derives its fold, so a join face whose epoch took the
    union fold (its bucketed input stopped matching the table) would
    publish a union number under the join name: fail the face instead,
    with the merge's reason."""
    union = [(i, st.fold_reason) for i, st in enumerate(stats) if st.fold == "union"]
    if not stats or union:
        raise RuntimeError(f"{face}: epochs ran the union fold: {union}")


def run_cdc_replay(
    spark,
    workdir: str,
    n_events: int = 0,
    patch_fraction: float = 0.0,
    tag: str = "",
    bucketed: bool = False,
) -> dict[str, float]:
    """Headline: materialize a synthetic change log to parquet, then replay
    it through the exactly-once MERGE pipeline in NUM_EPOCHS micro-batches.
    Throughput counts only the replay (the log write is setup).

    The replay runs NUM_REPEATS times against FRESH table dirs and the
    reported number is the fastest run: this VM's wall times swing ±25%
    (fabric contention + steal, one-sided — noise only ever adds time), so
    a single sample recorded round-to-round is mostly measuring the VM
    (VERDICT r02 item #5). All samples are reported alongside.

    ``patch_fraction``/``n_events``/``tag`` parameterize the PARTIAL-IMAGE
    face, ``bucketed=True`` the ZERO-EXCHANGE face (bucketed catalog log +
    layout='spark' table, from which the merge derives the join fold;
    every epoch must run it) — all over the same measurement protocol (one
    protocol, one function — a one-sided edit to the warm/repeat/best
    logic must be impossible)."""
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.schemas import REPOS
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_bucketed,
        write_log_parquet,
    )
    from multiversx_etl_spark.streaming.ingest import replay

    n_events = n_events or NUM_EVENTS
    log_path = os.path.join(workdir, f"log{tag}")
    # Repo/path population scales with the log so the merge state is
    # realistic (~25% of events hit a fresh key at the default mix).
    num_repos = max(100, n_events // 2000)
    log = generate_change_log(
        spark, n_events, num_repos=num_repos, paths_per_repo=200,
        partitions=max(CPUS * 2, 8), patch_fraction=patch_fraction,
    )
    t0 = time.perf_counter()
    if bucketed:
        # compact_files: one file per bucket — the per-window landing-zone
        # shape; the stream face derives maxFilesPerTrigger from the file
        # count so the batch count stays equal across faces regardless
        log_table = write_log_bucketed(log, log_path, NUM_BUCKETS,
                                       table_name=f"mxetl_bench_log{tag}",
                                       compact_files=True)
    else:
        write_log_parquet(log, log_path, files=max(CPUS * 2, 8))
    gen_sec = time.perf_counter() - t0

    import pyspark.sql.functions as F

    log_df = spark.table(log_table) if bucketed else spark.read.parquet(log_path)
    # Warm the page cache by touching actual data pages (a bare count() reads
    # only parquet footers): the metric is SUSTAINED replay throughput.
    log_df.agg(F.sum(F.length("content")), F.sum("seq")).collect()
    total = n_events + int(n_events * 0.01)  # incl. duplicate deliveries
    interval = -(-total // NUM_EPOCHS)
    samples = []
    best = None
    for rep in range(NUM_REPEATS):
        table = LakeTable.create(
            spark, os.path.join(workdir, f"table{tag}-r{rep}"), REPOS,
            key_columns=["repo", "path"], num_buckets=NUM_BUCKETS,
            layout="spark" if bucketed else "xxhash",
        )
        t0 = time.perf_counter()
        summary = replay(log_df, table, interval_size=interval, total_offsets=total)
        replay_sec = time.perf_counter() - t0
        if bucketed:
            _require_join(f"cdc_join_replay rep {rep}", summary.stats)
        samples.append(round(replay_sec, 3))
        if best is None or replay_sec < best[0]:
            best = (replay_sec, summary, table)
    replay_sec, summary, table = best
    final_rows = table.read().count()
    return {
        "gen_sec": round(gen_sec, 3),
        "replay_sec": round(replay_sec, 3),
        "replay_samples": samples,
        "events": total,
        "events_per_sec": round(total / replay_sec, 1),
        "epochs": summary.epochs_run,
        "final_rows": final_rows,
        "rows_inserted": summary.rows_inserted,
        "rows_updated": summary.rows_updated,
        "rows_deleted": summary.rows_deleted,
        "rows_patched": sum(st.rows_patched for st in summary.stats),
        "folds": dict(Counter(st.fold for st in summary.stats if st.fold)),
        # per-epoch delta write paths (MergeStats.write): replay measures
        # no payload bytes, so every epoch writes through Spark
        "writes": dict(Counter(st.write for st in summary.stats if st.write)),
    }


def run_cdc_stream(spark, workdir: str, tag: str = "", bucketed: bool = False) -> dict[str, float]:
    """The Structured Streaming face of the same ingest (readStream →
    foreachBatch MERGE, availableNow drain) over the log run_cdc_replay
    already wrote — the north star's primary surface, measured separately
    because the checkpoint/trigger machinery adds per-batch overhead the
    batch replay doesn't pay. Same repeat-and-take-best protocol as the
    replay (fresh table + checkpoint dirs per run).

    ``bucketed=True`` streams over the BUCKETED log dir the join replay
    face wrote into a spark-layout table: each micro-batch re-stages its
    own whole files as a catalog bucketed table and merges with zero
    exchanges (streaming/ingest.py); every epoch must run the join fold."""
    from multiversx_etl_spark.streaming.ingest import ensure_table, stream_ingest

    log_path = os.path.join(workdir, f"log{tag}")
    n = spark.read.parquet(log_path).count()
    # both faces must pay the SAME number of trigger/commit cycles: derive
    # maxFilesPerTrigger from the log's ACTUAL file count so every face
    # runs exactly NUM_EPOCHS micro-batches (the bucketed join log has
    # fewer, larger files — a fixed mFPT would hand it fewer batches and
    # the face comparison would partly measure batch count, not the fold)
    n_files = len(
        [f for f in os.listdir(log_path)
         if not f.startswith("_") and not f.startswith(".")]
    )
    mfpt = -(-n_files // NUM_EPOCHS) or 1
    samples = []
    best = None
    for rep in range(NUM_REPEATS):
        table = ensure_table(
            spark, os.path.join(workdir, f"stream_table{tag}-r{rep}"),
            num_buckets=NUM_BUCKETS,
            layout="spark" if bucketed else "xxhash",
        )
        stats = []
        t0 = time.perf_counter()
        stream_ingest(
            spark, log_path, table, os.path.join(workdir, f"ckpt{tag}-r{rep}"),
            max_files_per_trigger=mfpt,
            on_epoch=lambda _e, st: stats.append(st),
        )
        wall = time.perf_counter() - t0
        folds = dict(Counter(st.fold for st in stats if st.fold))
        writes = dict(Counter(st.write for st in stats if st.write))
        if bucketed:
            _require_join(f"cdc_join_stream rep {rep}", stats)
        samples.append(round(wall, 3))
        if best is None or wall < best[0]:
            best = (wall, table, folds, writes)
    wall, table, folds, writes = best
    return {
        "events": n,
        "stream_sec": round(wall, 3),
        "stream_samples": samples,
        "events_per_sec": round(n / wall, 1),
        "final_rows": table.read().count(),
        "folds": folds,
        "writes": writes,
    }


def run_canary(spark, workdir: str, tag: str) -> dict[str, float]:
    """Fixed trivial probe, run at suite start AND end: a 1-row-parquet
    count (pure job-scheduling fixed cost) and a 10^7-row ``spark.range``
    aggregation (pure CPU throughput, no I/O). Neither touches engine code,
    so round-over-round drift in these numbers is MACHINE noise (vCPU
    steal, fabric contention), not engine change — per-query deltas get
    divided by the canary before anyone calls them regressions
    (BENCH/BASELINE.md records the canary-normalized deltas)."""
    import pyspark.sql.functions as F

    one = os.path.join(workdir, "canary-one.parquet")
    if not os.path.exists(one):
        spark.createDataFrame([(1,)], "x long").coalesce(1).write.parquet(one)
    t0 = time.perf_counter()
    spark.read.parquet(one).count()
    tiny = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(10_000_000).select(
        F.sum(F.col("id") % 7).alias("s")
    ).collect()
    rng = time.perf_counter() - t0
    return {
        f"canary_{tag}_tiny_count_sec": round(tiny, 4),
        f"canary_{tag}_range_agg_sec": round(rng, 4),
    }


def main() -> None:
    from multiversx_etl_spark.session import get_spark

    # Driver contract: stdout carries EXACTLY ONE JSON line. Spark's console
    # progress bar writes \r-spam that interleaves with it under load
    # (VERDICT r03: the driver's BENCH_r03.json captured only a truncated
    # tail and recorded parsed:null) — disable it for the bench session.
    # Belt-and-braces on top: park the REAL stdout on a private fd and point
    # fd 1 at stderr for the whole run, BEFORE the JVM launches (it inherits
    # fd 1), so no banner/progress/py4j noise can ever share the stream the
    # JSON line goes to.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    spark = get_spark(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="mxetl-bench-")
    try:
        t_total = time.perf_counter()
        canary = run_canary(spark, workdir, "start")
        timings, construct, suite_samples = run_query_suite(spark, SF_DIR)
        cdc = run_cdc_replay(spark, workdir)
        # per-query ledger entry = the measured best replay itself (NOT the
        # whole harness incl. log gen + repeats — those are setup)
        timings["cdc_replay"] = cdc["replay_sec"]
        stream = run_cdc_stream(spark, workdir)
        timings["cdc_stream"] = stream["stream_sec"]
        # partial-image face: 30%-of-updates patch mix at half the headline
        # event count, same measurement protocol. Its entry joins the
        # per-query ledger AND the bench_total sum (totals are declared
        # non-comparable across rounds as the suite grows — the ledger is
        # the round-over-round instrument, BENCH/BASELINE.md).
        patch = run_cdc_replay(
            spark, workdir, n_events=NUM_EVENTS // 2, patch_fraction=0.3, tag="p"
        )
        timings["cdc_patch_replay"] = patch["replay_sec"]
        # zero-exchange face: bucketed catalog log into a layout='spark'
        # table, the join fold derived on every epoch — same protocol,
        # full headline event count
        join = run_cdc_replay(spark, workdir, tag="j", bucketed=True)
        timings["cdc_join_replay"] = join["replay_sec"]
        # zero-exchange STREAMING face: same bucketed log, each micro-batch
        # re-staged as a catalog bucketed table (whole-file scheduling) —
        # the join fold's streaming twin
        jstream = run_cdc_stream(spark, workdir, tag="j", bucketed=True)
        timings["cdc_join_stream"] = jstream["stream_sec"]
        canary.update(run_canary(spark, workdir, "end"))
        harness = round(time.perf_counter() - t_total, 3)
        # headline value = sum of the recorded per-query timings (each the
        # fastest pass), NOT the harness wall — the harness runs the suite
        # NUM_REPEATS times plus log generation, so its wall scales with
        # repeat count, not engine speed, and round-over-round comparison
        # would read repeat-count changes as engine regressions.
        total = round(sum(timings.values()), 3)
        out = {
            "metric": "bench_total",
            "value": total,
            "unit": "sec",
            "harness_sec": harness,
            "queries": timings,
            # construction-phase share of each timing (driver-side plan
            # build + any eager phase, e.g. quantizer training / label
            # propagation rounds); execution = queries[k] - construct[k]
            "construct": construct,
            # every pass's wall seconds per query (headline = fastest)
            "suite_samples": suite_samples,
            "sf": _sf_of(SF_DIR),
            "cpus": CPUS,
            "repeats": NUM_REPEATS,
            # machine-noise canary (see run_canary): identical probes at
            # suite start + end; cross-round comparisons normalize by this
            **canary,
            "cdc_events": cdc["events"],
            "cdc_events_per_sec": cdc["events_per_sec"],
            "cdc_replay_sec": cdc["replay_sec"],
            "cdc_replay_samples": cdc["replay_samples"],
            "cdc_final_rows": cdc["final_rows"],
            "cdc_writes": cdc["writes"],
            "cdc_stream_events_per_sec": stream["events_per_sec"],
            "cdc_stream_sec": stream["stream_sec"],
            "cdc_stream_samples": stream["stream_samples"],
            "cdc_stream_final_rows": stream["final_rows"],
            "cdc_stream_writes": stream["writes"],
            "cdc_patch_events": patch["events"],
            "cdc_patch_events_per_sec": patch["events_per_sec"],
            "cdc_patch_replay_sec": patch["replay_sec"],
            "cdc_patch_replay_samples": patch["replay_samples"],
            "cdc_patch_rows_patched": patch["rows_patched"],
            "cdc_patch_final_rows": patch["final_rows"],
            "cdc_patch_writes": patch["writes"],
            "cdc_join_events": join["events"],
            "cdc_join_events_per_sec": join["events_per_sec"],
            "cdc_join_replay_sec": join["replay_sec"],
            "cdc_join_replay_samples": join["replay_samples"],
            "cdc_join_final_rows": join["final_rows"],
            "cdc_join_folds": join["folds"],
            "cdc_join_writes": join["writes"],
            "cdc_join_stream_events_per_sec": jstream["events_per_sec"],
            "cdc_join_stream_sec": jstream["stream_sec"],
            "cdc_join_stream_samples": jstream["stream_samples"],
            "cdc_join_stream_final_rows": jstream["final_rows"],
            "cdc_join_stream_folds": jstream["folds"],
            "cdc_join_stream_writes": jstream["writes"],
        }
        line = json.dumps(out)
        # Sidecar copy survives even if something else pollutes stdout.
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench.json")
        with open(sidecar, "w") as fh:
            fh.write(line + "\n")
        # the parked real stdout: the JSON line is its only content, ever
        with os.fdopen(real_stdout, "w") as real:
            real.write(line + "\n")
            real.flush()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
