"""Crash-point fuzz for the replay path's exactly-once contract.

The verify recipe (.claude/skills/verify) demonstrates ONE mid-replay crash;
this harness fuzzes the crash POINT: N cycles, each with a random interval
size (so the epoch count varies), a SIGKILL delivered when a randomly chosen
epoch commits (or mid-flight right after it), an optional SECOND crash during
the resume, and after the final resume a DuckDB last-writer-wins oracle
comparison of the full table state. Every cycle asserts:

  1. the crash was REAL  — the manifest's epochs_through is read after the
     child is dead and must be < the final epoch (a kill that raced the
     finish is counted and reported, not silently passed);
  2. resume is EXACT     — epochs_run + epochs_skipped == total epochs, and
     epochs_skipped == manifest epochs_through + 1 (everything committed
     before the crash is skipped, nothing committed is re-run);
  3. state is EXACT      — the per-key (seq, commit, lang, content) tuple
     set equals DuckDB's independent COLUMN-level last-writer-wins fold of
     the raw log (delete-aware; with no patch events in the log this
     degenerates to the whole-row max-seq fold, so one oracle covers both
     log shapes). --patch-fraction > 0 makes the generator emit partial
     images, fuzzing crash exactness of the _colseq machinery itself.

Streaming cycles (--stream-cycles) apply the same treatment to the
checkpointed availableNow ingest (kill at a random committed version,
restart from the checkpoint, third-run version no-op). Compaction cycles
(--compact-cycles) SIGKILL a full compaction while its rewrite directory is
being written: the manifest swap is the only commit point, so the table must
still read oracle-exact after the crash, and a re-compaction must complete
and stay exact. Rebucket cycles (--rebucket-cycles) do the same to the
bucket-layout evolution rewrite — post-crash reads must stay exact under
the OLD layout, and the retried rebucket must land the new bucket count
exactly. Promote cycles (--promote-cycles) kill a staging→main promotion
mid-linkfarm: main must afterwards read as either the complete promoted
snapshot or a well-formed empty pre-promotion table (never a torn mix),
the staging table must be untouched, and a re-promotion must converge to
oracle-exact. Expire cycles (--expire-cycles) kill the retention GC
mid-deletion (files-then-manifest order means debris is an expired
manifest referencing deleted files): current reads must stay exact and
the re-run must finish the sweep through the debris. Replicate cycles
(--replicate-cycles) kill a replica's catch-up merge mid-write after the
upstream advances: a pre-commit kill must be invisible (marker version
unchanged), the re-run must converge, and the replica must end
state-exact against the full-log oracle. Mutable cycles
(--mutable-cycles) kill the reference-style truncate-and-reload
(ONE bootstrap-snapshot commit) mid-write: the table must keep reading
as exactly the pre-reload prefix state — never empty, never torn — and
the re-run must land the full-log state. Lifecycle cycles
(--lifecycle-cycles) chain ALL of it on one table — crash the replay,
the compaction, the rebucket, the retention GC, and the promotion in
sequence with recovery and a state check between every step — so later
stages run over the accumulated debris of earlier crashes. Race cycles
(--race-cycles) fuzz the ONLINE-maintenance surface with two real
Spark-owning processes on one table: a replaying ingest and a
maintenance cron (compact loop + one mid-stream rebucket) committing
concurrently — half the cycles (every cycle with --race-kill-bias) also
SIGKILL the ingest mid-race and resume it while the cron keeps running;
the cron must land >=1 compaction during the ingest, resume accounting
must stay exact, and the final state must match the oracle. Race-stream
cycles (--race-stream-cycles) run the same two-process race on the
CHECKPOINTED STREAMING ingest — kill the stream mid-race, restart it
from the same checkpoint while the cron keeps committing, then (cron
stopped) a pure-idempotence rerun must leave the version untouched.

The orchestrator is pure Python; Spark runs only in worker subprocesses
(modes: gen / replay / stream / compact / rebucket / promote / expire /
replicate / count / verify), so kills hit the real JVM-owning process.

Usage: python crashfuzz.py [--cycles 6] [--events 5000] [--seed 1]
Prints one JSON line per cycle and a final summary line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- workers
def _spark(app: str):
    sys.path.insert(0, REPO)
    from multiversx_etl_spark.session import get_spark

    spark = get_spark(app, master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker_gen(log_path: str, events: int, patch_fraction: float) -> None:
    from multiversx_etl_spark.sources.changelog import (
        generate_change_log,
        write_log_parquet,
    )

    spark = _spark("fuzz-gen")
    write_log_parquet(
        generate_change_log(spark, events, num_repos=30, paths_per_repo=40,
                            patch_fraction=patch_fraction),
        log_path, files=8,
    )
    df = spark.read.parquet(log_path)
    row = df.selectExpr("count(*) AS n", "max(offset) AS mo").first()
    print(f"GENERATED {row['n']} MAX_OFFSET {row['mo']}", flush=True)
    spark.stop()


def worker_replay(log_path: str, table_path: str, interval: int,
                  max_epochs: int | None = None) -> None:
    from multiversx_etl_spark.streaming.ingest import ensure_table, replay

    spark = _spark("fuzz-replay")
    table = ensure_table(spark, table_path, num_buckets=8)
    s = replay(
        spark.read.parquet(log_path), table, interval_size=interval,
        max_epochs=max_epochs,
        on_epoch=lambda eid, stats: print(f"EPOCH_COMMITTED {eid}", flush=True),
    )
    print(f"DONE run={s.epochs_run} skipped={s.epochs_skipped}", flush=True)
    spark.stop()


def worker_stream(log_path: str, table_path: str, ckpt: str) -> None:
    """availableNow checkpointed ingest, one log file per micro-batch so a
    kill can land between batches or mid-batch."""
    from multiversx_etl_spark.streaming.ingest import ensure_table, stream_ingest

    spark = _spark("fuzz-stream")
    table = ensure_table(spark, table_path, num_buckets=8)
    stream_ingest(spark, log_path, table, ckpt, max_files_per_trigger=1)
    print(f"VERSION {table.current_version()} ROWS {table.read().count()}",
          flush=True)
    spark.stop()


def worker_compact(table_path: str) -> None:
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-compact")
    m = LakeTable(spark, table_path).compact(full=True)
    print(f"COMPACTED {m.version} files={len(m.files)}", flush=True)
    spark.stop()


def worker_rebucket(table_path: str, buckets: int) -> None:
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-rebucket")
    m = LakeTable(spark, table_path).rebucket(buckets)
    print(f"REBUCKETED {m.version} buckets={m.num_buckets} "
          f"files={len(m.files)}", flush=True)
    spark.stop()


def worker_maintain(table_path: str, stop_file: str, rebucket_to: int) -> None:
    """Maintenance cron racing a live ingest (the online-maintenance
    surface): compact in a loop until the stop file appears, plus ONE
    bucket-layout evolution after the first couple of compactions.
    Bounded-retry exhaustion ('went stale' / concurrent-commit race) is
    documented behavior under a hot merge stream — tolerated and retried
    on the next tick, never swallowed silently for other errors."""
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-maintain")
    while not glob.glob(os.path.join(table_path, "_manifests", "v*.json")):
        if os.path.exists(stop_file):
            print("MAINTAINED compactions=0 rebucketed=False", flush=True)
            spark.stop()
            return
        time.sleep(0.1)
    table = LakeTable(spark, table_path)
    compactions, rebucketed = 0, False
    while not os.path.exists(stop_file):
        try:
            table.compact()
            compactions += 1
        except RuntimeError as e:
            if "went stale" not in str(e):
                raise
        if compactions >= 2 and not rebucketed:
            try:
                table.rebucket(rebucket_to)
                rebucketed = True
            except RuntimeError as e:
                if "concurrent-commit race" not in str(e):
                    raise
        time.sleep(0.2)
    print(f"MAINTAINED compactions={compactions} rebucketed={rebucketed}",
          flush=True)
    spark.stop()


def worker_readloop(table_path: str, stop_file: str) -> None:
    """Concurrent READER racing the ingest + maintenance writers: every
    snapshot read must succeed (the _current pointer swap is atomic — a
    reader must never observe a torn manifest or vanished files), and the
    version sequence it observes must be non-decreasing. Reports reads,
    errors, and the version range."""
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-read")
    while not glob.glob(os.path.join(table_path, "_manifests", "_current")):
        if os.path.exists(stop_file):
            print("READS 0 ERRORS 0 V -1 -1", flush=True)
            spark.stop()
            return
        time.sleep(0.1)
    table = LakeTable(spark, table_path)
    reads = errors = 0
    v_first = v_prev = -1
    while not os.path.exists(stop_file):
        try:
            m = table.snapshot()
            if v_first < 0:
                v_first = m.version
            if m.version < v_prev:
                errors += 1  # version went BACKWARDS under a reader
            v_prev = m.version
            table.read(version=m.version).count()
            reads += 1
        except Exception:
            errors += 1
        time.sleep(0.05)
    print(f"READS {reads} ERRORS {errors} V {v_first} {v_prev}", flush=True)
    spark.stop()


def worker_promote(staging_path: str, main_path: str) -> None:
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-promote")
    m = LakeTable.promote_into(spark, main_path,
                               LakeTable(spark, staging_path))
    print(f"PROMOTED {m.version} files={len(m.files)}", flush=True)
    spark.stop()


def worker_expire(table_path: str, keep_last: int) -> None:
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-expire")
    r = LakeTable(spark, table_path).expire_snapshots(keep_last=keep_last)
    print(f"EXPIRED {r['expired_manifests']} deleted={r['deleted_files']}",
          flush=True)
    spark.stop()


def worker_replicate(src_path: str, dst_path: str) -> None:
    from multiversx_etl_spark.lake.table import LakeTable
    from multiversx_etl_spark.streaming.ingest import ensure_table
    from multiversx_etl_spark.streaming.replicate import replicate_changes

    spark = _spark("fuzz-replicate")
    src = LakeTable(spark, src_path)
    dst = ensure_table(spark, dst_path, num_buckets=4)  # replica's OWN layout
    st = replicate_changes(src, dst)
    print(f"REPLICATED {dst.current_version()} "
          f"applied={'none' if st is None else 'delta'}", flush=True)
    spark.stop()


def worker_bootstrap(log_path: str, table_path: str) -> None:
    """The mutable-index iteration (config.py processing='mutable'): fold
    the ENTIRE raw log to its live state and replace the table with ONE
    bootstrap-snapshot commit — readers must never observe a
    truncated-but-unloaded window, even under SIGKILL."""
    from multiversx_etl_spark.oracle import expected_state
    from multiversx_etl_spark.streaming.ingest import (
        bootstrap_snapshot,
        ensure_table,
    )

    spark = _spark("fuzz-bootstrap")
    table = ensure_table(spark, table_path, num_buckets=8)
    live = expected_state(spark.read.parquet(log_path),
                          key_columns=["repo", "path"])
    rows = bootstrap_snapshot(table, live)
    print(f"BOOTSTRAPPED {rows}", flush=True)
    spark.stop()


def worker_count(table_path: str) -> None:
    """Prove the table is READABLE (well-formed manifest + files) and
    report its live row count — the post-crash check for tables whose
    expected state is emptiness, where the state oracle can't apply."""
    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-count")
    t = LakeTable(spark, table_path)
    print(f"READ_OK {t.read().count()} VERSION {t.current_version()}",
          flush=True)
    spark.stop()


def worker_verify(log_path: str, table_path: str,
                  max_offset: int | None = None) -> None:
    """Independent DuckDB COLUMN-level LWW fold (tests/test_patch_events.py
    oracle): full images set every column at their seq, patches set only
    their non-null columns, liveness comes from the full-image winner
    alone. With zero patch events this is exactly the whole-row max-seq
    fold, so the same oracle verifies both log shapes."""
    import duckdb

    from multiversx_etl_spark.lake.table import LakeTable

    spark = _spark("fuzz-verify")
    got = {
        (r["repo"], r["path"], r["seq"], r["commit"], r["lang"], r["content"])
        for r in LakeTable(spark, table_path).read()
        .select("repo", "path", "seq", "commit", "lang", "content")
        .collect()
    }
    want = set(
        duckdb.connect().execute(
            f"""
            WITH ev AS (SELECT * FROM read_parquet('{log_path}/*.parquet')
                        {f'WHERE "offset" < {int(max_offset)}' if max_offset is not None else ""}),
            agg AS (
              SELECT repo, path,
                max(CASE WHEN op <> 'patch'
                    THEN {{'seq': seq, 'op': op}} END) AS b,
                max(CASE WHEN op <> 'patch' OR "commit" IS NOT NULL
                    THEN {{'seq': seq, 'v': "commit"}} END) AS c_commit,
                max(CASE WHEN op <> 'patch' OR lang IS NOT NULL
                    THEN {{'seq': seq, 'v': lang}} END) AS c_lang,
                max(CASE WHEN op <> 'patch' OR content IS NOT NULL
                    THEN {{'seq': seq, 'v': content}} END) AS c_content
              FROM ev GROUP BY 1, 2
            )
            SELECT repo, path,
                   greatest(b.seq, c_commit.seq, c_lang.seq,
                            c_content.seq) AS seq,
                   c_commit.v, c_lang.v, c_content.v
            FROM agg WHERE b IS NOT NULL AND b.op <> 'delete'
            """
        ).fetchall()
    )
    print("STATE_MATCH", got == want, len(got), len(want), flush=True)
    spark.stop()


# ----------------------------------------------------------- orchestrator
def _manifest_epochs_through(table_path: str) -> int:
    """-1 if no manifest/stream state yet."""
    paths = sorted(glob.glob(os.path.join(table_path, "_manifests", "v*.json")))
    if not paths:
        return -1
    m = json.load(open(paths[-1]))
    streams = m.get("streams") or {}
    if not streams:
        return -1
    return max(v.get("epochs_through", -1) for v in streams.values())


def _run_replay_until(log_path: str, table_path: str, interval: int,
                      kill_epoch: int | None, grace: float) -> dict:
    """Run a replay subprocess; SIGKILL it `grace` seconds after it prints
    EPOCH_COMMITTED `kill_epoch` (None = let it finish). Returns what the
    child printed + whether we killed it."""
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "replay",
           "--log", log_path, "--table", table_path,
           "--interval", str(interval)]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    done_line, killed = None, False
    for line in p.stdout:
        line = line.strip()
        if line.startswith("DONE"):
            done_line = line
        if kill_epoch is not None and line == f"EPOCH_COMMITTED {kill_epoch}":
            # grace > 0 lands the kill MID-flight in the next epoch rather
            # than exactly on the commit boundary — both points must hold
            time.sleep(grace)
            p.kill()
            killed = True
            break
    p.wait()
    return {"killed": killed, "done": done_line}


def _stream_cycle(base: str, log_path: str, c: int, rng: random.Random) -> dict:
    """One streaming crash cycle: kill the checkpointed availableNow ingest
    once it has committed a random number of table versions, restart from
    the same checkpoint, assert the final state matches the oracle and that
    a THIRD run is a version no-op (replayed in-flight batches are no-ops
    under the epoch markers)."""
    table_path = os.path.join(base, f"s{c}")
    ckpt = os.path.join(base, f"ck{c}")
    kill_version = rng.randrange(2, 7)
    rec = {"stream_cycle": c, "kill_at_version": kill_version}
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "stream",
           "--log", log_path, "--table", table_path, "--ckpt", ckpt]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break  # finished before we could kill — degenerate, reported
        n = len(glob.glob(os.path.join(table_path, "_manifests", "v*.json")))
        if n >= kill_version:
            p.kill()
            killed = True
            break
        time.sleep(0.05)
    p.wait()
    et = _manifest_epochs_through(table_path)
    rec["crash_real"] = killed and et >= 0
    rec["epochs_through_after_crash"] = et

    versions = []
    for run in ("resume", "rerun"):  # then a pure-idempotence rerun
        r = subprocess.run(cmd, capture_output=True, text=True)
        line = next((l for l in r.stdout.splitlines()
                     if l.startswith("VERSION")), None)
        versions.append(int(line.split()[1]) if line else None)
        rec[f"{run}_rc"] = r.returncode
        if line is None:
            # a run that landed no version says why
            rec[f"{run}_stderr_tail"] = r.stderr.splitlines()[-20:]
    rec["version_after_resume"] = versions[0]
    rec["version_after_rerun"] = versions[1]
    rec["rerun_noop"] = versions[0] is not None and versions[0] == versions[1]

    v = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "verify",
         "--log", log_path, "--table", table_path],
        capture_output=True, text=True,
    )
    state_line = next((l for l in v.stdout.splitlines()
                     if l.startswith("STATE_MATCH")), "STATE_MATCH False")
    rec["state_match"] = state_line.split()[1] == "True"
    rec["ok"] = bool(rec["rerun_noop"] and rec["state_match"])
    shutil.rmtree(table_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return rec


def _manifest_version(table_path: str) -> int:
    paths = sorted(glob.glob(os.path.join(table_path, "_manifests", "v*.json")))
    return json.load(open(paths[-1]))["version"] if paths else -1


def _compact_cycle(base: str, log_path: str, c: int, rng: random.Random) -> dict:
    """One compaction crash cycle: fully replay, SIGKILL a full compaction
    while it is writing its rewrite directory, assert the table still reads
    oracle-exact (the manifest swap is the only commit point — a dead
    rewrite leaves only orphan files), then compact to completion and
    assert exactness again."""
    table_path = os.path.join(base, f"c{c}")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", table_path, "--interval", "500"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    v0 = _manifest_version(table_path)
    rec = {"compact_cycle": c, "version_before": v0}
    rewrite_dir = os.path.join(table_path, "data", f"compact-v{v0:08d}")
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "compact",
           "--table", table_path]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    grace = rng.choice([0.0, 0.1, 0.3])
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break  # finished before the kill — raced, reported
        if os.path.isdir(rewrite_dir):
            time.sleep(grace)
            p.kill()
            killed = True
            break
        time.sleep(0.02)
    p.wait()
    v1 = _manifest_version(table_path)
    rec["grace"] = grace
    # real crash = killed while the rewrite dir existed but BEFORE the
    # manifest swap landed; a kill after the swap is a raced cycle
    rec["crash_real"] = killed and v1 == v0
    rec["version_after_crash"] = v1

    rec["state_after_crash"] = _state_ok(log_path, table_path)
    r = subprocess.run(cmd, capture_output=True, text=True)
    done = next((l for l in r.stdout.splitlines()
                 if l.startswith("COMPACTED")), None)
    rec["recompact"] = done
    rec["state_after_recompact"] = _state_ok(log_path, table_path) if done else False
    rec["ok"] = bool(rec["state_after_crash"] and done
                     and rec["state_after_recompact"])
    shutil.rmtree(table_path, ignore_errors=True)
    return rec


def _state_ok(log_path: str, table_path: str,
              max_offset: int | None = None) -> bool:
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "verify",
           "--log", log_path, "--table", table_path]
    if max_offset is not None:
        cmd += ["--max-offset", str(max_offset)]
    v = subprocess.run(cmd, capture_output=True, text=True)
    line = next((l for l in v.stdout.splitlines()
                 if l.startswith("STATE_MATCH")), "STATE_MATCH False")
    return line.split()[1] == "True"


def _kill_when_dir(p: subprocess.Popen, marker_dir: str, grace: float,
                   timeout: float = 300.0, poll: float = 0.02) -> bool:
    """Poll for ``marker_dir`` to appear while ``p`` runs; SIGKILL ``grace``
    seconds after it does. Returns whether the kill was delivered (a child
    that finished first is a raced cycle — reported, never hidden)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if p.poll() is not None:
            return False
        if os.path.isdir(marker_dir):
            time.sleep(grace)
            p.kill()
            p.wait()
            return True
        time.sleep(poll)
    p.kill()
    p.wait()
    return True


def _reader_version(table_path: str) -> int:
    """The version a READER sees — the atomically-replaced ``_current``
    pointer, not the highest manifest json on disk (a kill can land between
    the two)."""
    try:
        with open(os.path.join(table_path, "_manifests", "_current")) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _rebucket_cycle(base: str, log_path: str, c: int,
                    rng: random.Random) -> dict:
    """One rebucket crash cycle: fully replay at 8 buckets, SIGKILL the
    16-bucket layout-evolution rewrite mid-write, assert the table still
    reads oracle-exact under the OLD layout, then re-run the rebucket and
    assert both exactness and the landed bucket count."""
    table_path = os.path.join(base, f"rb{c}")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", table_path, "--interval", "250"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    v0 = _manifest_version(table_path)
    rec = {"rebucket_cycle": c, "version_before": v0}
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "rebucket",
           "--table", table_path, "--buckets", "16"]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    grace = rng.choice([0.0, 0.1, 0.3])
    killed = _kill_when_dir(
        p, os.path.join(table_path, "data", f"rebucket-v{v0:08d}"), grace)
    v1 = _manifest_version(table_path)
    rec["grace"] = grace
    rec["crash_real"] = killed and v1 == v0
    rec["version_after_crash"] = v1
    rec["state_after_crash"] = _state_ok(log_path, table_path)
    r = subprocess.run(cmd, capture_output=True, text=True)
    done = next((l for l in r.stdout.splitlines()
                 if l.startswith("REBUCKETED")), None)
    rec["rerebucket"] = done
    rec["buckets_landed"] = (done or "").count("buckets=16") == 1
    rec["state_after_rebucket"] = _state_ok(log_path, table_path) if done else False
    rec["ok"] = bool(rec["state_after_crash"] and done
                     and rec["buckets_landed"] and rec["state_after_rebucket"])
    shutil.rmtree(table_path, ignore_errors=True)
    return rec


def _promote_cycle(base: str, log_path: str, c: int,
                   rng: random.Random) -> dict:
    """One promotion crash cycle: replay into a STAGING table, SIGKILL the
    staging→main promotion while its hardlink farm is being built. The
    manifest commit is the only publish point, so afterwards main must read
    as either the full promoted snapshot (kill raced the commit) or a
    well-formed EMPTY pre-promotion table — never a torn mix — and staging
    must be untouched. A re-promotion must then converge to oracle-exact
    on main (re-using/replacing the dead attempt's link farm)."""
    staging = os.path.join(base, f"pstg{c}")
    main = os.path.join(base, f"pmain{c}")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", staging, "--interval", "250"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    rec = {"promote_cycle": c}
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "promote",
           "--table", main, "--staging", staging]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    # the create-commit → link-farm → promote-commit window is
    # milliseconds wide (pure file ops, no Spark jobs) — poll at 1 ms on
    # the earliest marker (main's manifest dir) with a sub-10ms random
    # grace so kills land across create / linking / commit
    grace = rng.random() * 0.004
    killed = _kill_when_dir(
        p, os.path.join(main, "_manifests"), grace, poll=0.001)
    committed = _reader_version(main) >= 1
    rec["grace"] = grace
    rec["crash_real"] = killed and not committed
    rec["promote_committed_before_kill"] = committed
    if committed:
        rec["main_after_crash_exact"] = _state_ok(log_path, main)
    else:
        created = _reader_version(main) == 0
        if created:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--mode",
                 "count", "--table", main],
                capture_output=True, text=True,
            )
            line = next((l for l in r.stdout.splitlines()
                         if l.startswith("READ_OK")), None)
            # created-but-not-promoted: must be readable and EMPTY
            rec["main_after_crash_exact"] = (
                line is not None and line.split()[1] == "0")
        else:
            # killed mid-create: no _current pointer was ever published,
            # so no reader can open a torn table — acceptable by contract
            rec["main_after_crash_exact"] = True
    rec["staging_intact"] = _state_ok(log_path, staging)
    r = subprocess.run(cmd, capture_output=True, text=True)
    done = next((l for l in r.stdout.splitlines()
                 if l.startswith("PROMOTED")), None)
    rec["repromote"] = done
    rec["state_after_repromote"] = _state_ok(log_path, main) if done else False
    rec["ok"] = bool(rec["main_after_crash_exact"] and rec["staging_intact"]
                     and done and rec["state_after_repromote"])
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(main, ignore_errors=True)
    return rec


def _race_cycle(base: str, log_path: str, c: int, rng: random.Random,
                n_offsets: int, kill_bias: bool = False) -> dict:
    """THREE real Spark-owning processes on one table: a replaying ingest,
    a maintenance cron (compact loop + one mid-stream rebucket), and a
    snapshot-reader loop — the online-maintenance concurrency surface.
    Half the cycles (all, with kill_bias) also SIGKILL the ingest mid-race
    and resume it WHILE the cron keeps committing. Asserts: the cron
    landed >=1 compaction DURING the ingest, every concurrent read
    succeeded with a non-decreasing version sequence (the _current swap is
    atomic — no torn snapshots), resume accounting is exact despite the
    interleaved maintenance commits, and the final state equals the
    independent DuckDB column-LWW oracle."""
    interval = rng.choice([250, 500])
    total = -(-n_offsets // interval)
    kill_ingest = kill_bias or rng.random() < 0.5
    kill_epoch = rng.randrange(1, max(2, total - 2)) if kill_ingest else None
    grace = rng.choice([0.0, 0.2])
    table_path = os.path.join(base, f"race{c}")
    stop_file = table_path + ".stop"
    rec = {"surface": "race", "cycle": c, "interval": interval,
           "total_epochs": total, "kill_ingest": kill_ingest,
           "kill_epoch": kill_epoch, "grace": grace}

    maint = reader = None

    def start_maint() -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--mode", "maintain",
             "--table", table_path, "--stop-file", stop_file,
             "--buckets", "16"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )

    def start_reader() -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--mode", "readloop",
             "--table", table_path, "--stop-file", stop_file],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )

    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", table_path,
         "--interval", str(interval)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    killed, done_line = False, None
    try:
        for line in p.stdout:
            line = line.strip()
            if line.startswith("EPOCH_COMMITTED") and maint is None:
                maint = start_maint()  # table exists now: start the cron
                reader = start_reader()  # and a concurrent snapshot reader
            if line.startswith("DONE"):
                done_line = line
            if kill_epoch is not None and line == f"EPOCH_COMMITTED {kill_epoch}":
                time.sleep(grace)
                p.kill()
                killed = True
                break
        p.wait()
        et1 = _manifest_epochs_through(table_path)
        rec["crash_real"] = killed and et1 < total - 1
        rec["epochs_through_after_crash"] = et1
        if killed:
            # resume in a fresh process WHILE the cron keeps running
            r3 = _run_replay_until(log_path, table_path, interval, None, 0.0)
            done_line = r3["done"]
        rec["resume"] = done_line
        resume_exact = False
        if done_line:
            parts = dict(kv.split("=") for kv in done_line.split()[1:])
            run, skipped = int(parts["run"]), int(parts["skipped"])
            resume_exact = (run + skipped == total) and (
                not killed or skipped == et1 + 1
            )
        rec["resume_exact"] = resume_exact
    finally:
        open(stop_file, "w").close()
    m_line = ""
    if maint is not None:
        m_out, _ = maint.communicate(timeout=600)
        m_line = next((l for l in (m_out or "").splitlines()
                       if l.startswith("MAINTAINED")), "")
    rec["maintained"] = m_line
    mkv = dict(kv.split("=") for kv in m_line.split()[1:]) if m_line else {}
    compactions = int(mkv.get("compactions", 0))
    rec["compactions"] = compactions
    rec["rebucketed"] = mkv.get("rebucketed") == "True"
    reads, read_errors = 0, 0
    if reader is not None:
        r_out, _ = reader.communicate(timeout=600)
        r_line = next((l for l in (r_out or "").splitlines()
                       if l.startswith("READS")), "")
        if r_line:
            parts = r_line.split()
            reads, read_errors = int(parts[1]), int(parts[3])
    rec["reads"], rec["read_errors"] = reads, read_errors
    # settle (post-race finalize must also be exact), then the oracle
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "compact",
         "--table", table_path],
        capture_output=True, text=True,
    )
    rec["state_match"] = _state_ok(log_path, table_path)
    rec["ok"] = bool(
        rec["resume_exact"] and rec["state_match"] and compactions >= 1
        and read_errors == 0 and reads >= 1
    )
    shutil.rmtree(table_path, ignore_errors=True)
    return rec


def _race_stream_cycle(base: str, log_path: str, c: int, rng: random.Random,
                       kill_bias: bool = False) -> dict:
    """The race surface on the CHECKPOINTED STREAMING ingest — the real
    deployment shape: an availableNow stream (one log file per
    micro-batch) and a maintenance cron (compact loop + one rebucket)
    commit concurrently; half the cycles (all, with kill_bias) SIGKILL the
    stream mid-race and restart it from the SAME checkpoint while the cron
    keeps committing. After the cron stops, a pure-idempotence rerun must
    leave the version untouched, and the state must match the oracle."""
    table_path = os.path.join(base, f"rs{c}")
    ckpt = os.path.join(base, f"rsck{c}")
    stop_file = table_path + ".stop"
    kill_stream = kill_bias or rng.random() < 0.5
    kill_version = rng.randrange(2, 7) if kill_stream else None
    rec = {"surface": "race-stream", "cycle": c, "kill_stream": kill_stream,
           "kill_at_version": kill_version}
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "stream",
           "--log", log_path, "--table", table_path, "--ckpt", ckpt]
    maint = None
    try:
        p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL)
        deadline = time.monotonic() + 600
        killed = False
        while time.monotonic() < deadline:
            if p.poll() is not None:
                break
            n = len(glob.glob(os.path.join(table_path, "_manifests", "v*.json")))
            if n >= 1 and maint is None:
                maint = subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__), "--mode",
                     "maintain", "--table", table_path,
                     "--stop-file", stop_file, "--buckets", "16"],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                    text=True,
                )
            if kill_version is not None and n >= kill_version:
                p.kill()
                killed = True
                break
            time.sleep(0.05)
        p.wait()
        rec["crash_real"] = killed and _manifest_epochs_through(table_path) >= 0
        if killed:
            # restart from the checkpoint WHILE the cron keeps committing
            subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    finally:
        open(stop_file, "w").close()
    m_line = ""
    if maint is not None:
        m_out, _ = maint.communicate(timeout=600)
        m_line = next((l for l in (m_out or "").splitlines()
                       if l.startswith("MAINTAINED")), "")
    mkv = dict(kv.split("=") for kv in m_line.split()[1:]) if m_line else {}
    rec["compactions"] = int(mkv.get("compactions", 0))
    rec["rebucketed"] = mkv.get("rebucketed") == "True"
    # cron stopped: a pure-idempotence rerun must not move the version
    v_before = _reader_version(table_path)
    subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    v_after = _reader_version(table_path)
    rec["noop_rerun"] = (v_before == v_after)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "compact",
         "--table", table_path],
        capture_output=True, text=True,
    )
    rec["state_match"] = _state_ok(log_path, table_path)
    rec["ok"] = bool(
        rec["state_match"] and rec["noop_rerun"] and rec["compactions"] >= 1
        and maint is not None
    )
    shutil.rmtree(table_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return rec


def _count_manifests(table_path: str) -> int:
    return len(glob.glob(os.path.join(table_path, "_manifests", "v*.json")))


def _expire_cycle(base: str, log_path: str, c: int,
                  rng: random.Random) -> dict:
    """One retention-GC crash cycle: replay at a small interval (many
    manifests), compact (superseded generations on disk), then SIGKILL
    expire_snapshots(keep_last=2) mid-deletion. Deletion order is
    files-then-manifest per expired version, so a kill can leave an
    expired manifest referencing deleted files — current reads must stay
    exact regardless, and the re-run must tolerate the debris
    (FileNotFoundError pass) and finish the retention sweep."""
    table_path = os.path.join(base, f"x{c}")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", table_path, "--interval", "250"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "compact",
         "--table", table_path],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    n0 = _count_manifests(table_path)
    # land the kill a RANDOM depth into the sweep, not always at the first
    # manifest removal — debris shape differs by how many versions the
    # dead attempt got through
    target_drop = rng.randrange(1, max(2, min(9, n0 - 2)))
    rec = {"expire_cycle": c, "manifests_before": n0,
           "kill_after_drop": target_drop}
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "expire",
           "--table", table_path, "--keep-last", "2"]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    grace = rng.random() * 0.004
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break  # finished before the kill — raced, reported
        if _count_manifests(table_path) <= n0 - target_drop:
            time.sleep(grace)
            p.kill()
            killed = True
            break
        time.sleep(0.001)
    p.wait()
    n1 = _count_manifests(table_path)
    rec["grace"] = grace
    rec["manifests_after_crash"] = n1
    rec["crash_real"] = killed and n1 > 2
    rec["state_after_crash"] = _state_ok(log_path, table_path)
    r = subprocess.run(cmd, capture_output=True, text=True)
    done = next((l for l in r.stdout.splitlines()
                 if l.startswith("EXPIRED")), None)
    rec["reexpire"] = done
    rec["manifests_final"] = _count_manifests(table_path)
    rec["state_after_reexpire"] = (
        _state_ok(log_path, table_path) if done else False)
    rec["ok"] = bool(rec["state_after_crash"] and done
                     and rec["manifests_final"] == 2
                     and rec["state_after_reexpire"])
    shutil.rmtree(table_path, ignore_errors=True)
    return rec


def _replicate_cycle(base: str, log_path: str, c: int,
                     rng: random.Random) -> dict:
    """One replication crash cycle: replay PART of the log into an
    upstream table, SIGKILL the replica's catch-up round while its merge
    is writing data files (the replica's marker commit is the only
    publish point), re-run to convergence, then advance the upstream with
    the REST of the log and repeat. The replica must end state-exact
    against the full-log oracle and every crashed round must be invisible
    (marker version unchanged after a pre-commit kill)."""
    src_path = os.path.join(base, f"rsrc{c}")
    dst_path = os.path.join(base, f"rdst{c}")
    rec = {"replicate_cycle": c, "rounds": []}
    rep_cmd = [sys.executable, os.path.abspath(__file__), "--mode",
               "replicate", "--table", dst_path, "--staging", src_path]

    def _crash_round() -> dict:
        rd = {}
        before = _reader_version(dst_path)
        data_dir = os.path.join(dst_path, "data")
        seen = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
        p = subprocess.Popen(rep_cmd, stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL)
        grace = rng.choice([0.0, 0.1, 0.3])
        deadline = time.monotonic() + 300
        killed = False
        while time.monotonic() < deadline:
            if p.poll() is not None:
                break
            now = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
            if now - seen:
                time.sleep(grace)
                p.kill()
                killed = True
                break
            time.sleep(0.005)
        p.wait()
        after = _reader_version(dst_path)
        rd["grace"] = grace
        rd["crash_real"] = killed and after == before
        rd["marker_moved_during_crash"] = after != before
        r = subprocess.run(rep_cmd, capture_output=True, text=True)
        rd["rerun"] = next((l for l in r.stdout.splitlines()
                            if l.startswith("REPLICATED")), None)
        rd["state"] = _state_ok(log_path, dst_path)
        return rd

    # stage 1: partial upstream (first half of the epochs), crash a round
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", src_path, "--interval", "250",
         "--max-epochs", "10"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    # seed the replica (create + first catch-up, uncrashed) so later
    # rounds exercise incremental deltas, then crash a fresh round after
    # the upstream advances
    subprocess.run(rep_cmd, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    # stage 2: advance the upstream to completion, crash the catch-up
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", src_path, "--interval", "250"],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    rd = _crash_round()
    rec["rounds"].append(rd)
    rec["src_state"] = _state_ok(log_path, src_path)
    rec["crash_real"] = rd["crash_real"]
    rec["ok"] = bool(rd["state"] and rd["rerun"] and rec["src_state"])
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(dst_path, ignore_errors=True)
    return rec


def _mutable_cycle(base: str, log_path: str, c: int, rng: random.Random,
                   n_offsets: int) -> dict:
    """One mutable-reload crash cycle: replay only the FIRST 10 epochs (the
    'old live state'), then SIGKILL a full truncate-and-reload while its
    snapshot files are being written. The reload is ONE commit, so after
    the crash the table must still read as exactly the old prefix state
    (verified against the log-prefix oracle) — never empty, never a torn
    mix — and a re-run must land the full-log state."""
    table_path = os.path.join(base, f"mu{c}")
    interval = 250
    prefix_epochs = 10
    cutoff = min(prefix_epochs * interval, n_offsets)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "replay",
         "--log", log_path, "--table", table_path, "--interval",
         str(interval), "--max-epochs", str(prefix_epochs)],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    v0 = _reader_version(table_path)
    rec = {"mutable_cycle": c, "version_before": v0, "prefix_offsets": cutoff}
    data_dir = os.path.join(table_path, "data")
    seen = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "bootstrap",
           "--log", log_path, "--table", table_path]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    grace = rng.choice([0.0, 0.1, 0.3])
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break  # finished before the kill — raced, reported
        now = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
        if now - seen:
            time.sleep(grace)
            p.kill()
            killed = True
            break
        time.sleep(0.005)
    p.wait()
    v1 = _reader_version(table_path)
    committed = v1 > v0
    rec["grace"] = grace
    rec["crash_real"] = killed and not committed
    rec["reload_committed_before_kill"] = committed
    # old prefix state if the reload never committed, full state if it did
    rec["state_after_crash"] = (
        _state_ok(log_path, table_path)
        if committed
        else _state_ok(log_path, table_path, max_offset=cutoff)
    )
    r = subprocess.run(cmd, capture_output=True, text=True)
    done = next((l for l in r.stdout.splitlines()
                 if l.startswith("BOOTSTRAPPED")), None)
    rec["rereload"] = done
    rec["state_after_reload"] = (
        _state_ok(log_path, table_path) if done else False)
    rec["ok"] = bool(rec["state_after_crash"] and done
                     and rec["state_after_reload"])
    shutil.rmtree(table_path, ignore_errors=True)
    return rec


def _lifecycle_cycle(base: str, log_path: str, c: int, rng: random.Random,
                     n_offsets: int) -> dict:
    """One full table-lifetime chaos chain on a SINGLE table: crash the
    replay, the compaction, the rebucket, the retention GC, and the
    promotion IN SEQUENCE, re-running each to completion, with the state
    oracle asserted after every crash AND after every recovery. Debris
    from each dead rewrite stays on disk for the rest of the chain, so
    later stages prove they tolerate accumulated crash scars on a table
    that has already survived earlier ones — the compound case no
    single-surface cycle covers."""
    t = os.path.join(base, f"lc{c}")
    main = os.path.join(base, f"lcmain{c}")
    rec = {"lifecycle_cycle": c, "stages": {}}
    oks, reals = [], 0

    def stage(name: str, d: dict, ok: bool) -> None:
        nonlocal reals
        d["ok"] = ok
        rec["stages"][name] = d
        oks.append(ok)
        if d.get("crash_real"):
            reals += 1

    # 1. replay: kill at a random committed epoch, resume to completion
    interval = 250
    total = -(-n_offsets // interval)
    kill_epoch = rng.randrange(0, max(1, total - 2))
    r1 = _run_replay_until(log_path, t, interval, kill_epoch,
                           rng.choice([0.0, 0.2]))
    et = _manifest_epochs_through(t)
    r3 = _run_replay_until(log_path, t, interval, None, 0.0)
    d = {"kill_epoch": kill_epoch, "crash_real": r1["killed"] and et < total - 1,
         "resume": r3["done"]}
    resume_exact = False
    if r3["done"]:
        parts = dict(kv.split("=") for kv in r3["done"].split()[1:])
        resume_exact = (int(parts["run"]) + int(parts["skipped"]) == total
                        and int(parts["skipped"]) == et + 1)
    d["resume_exact"] = resume_exact
    stage("replay", d, resume_exact and _state_ok(log_path, t))

    # 2. + 3. crash a rewrite (compact, then rebucket), re-run it
    for name, extra, tagfmt, doneword in (
        ("compact", [], "compact-v{v:08d}", "COMPACTED"),
        ("rebucket", ["--buckets", "16"], "rebucket-v{v:08d}", "REBUCKETED"),
    ):
        v0 = _manifest_version(t)
        cmd = [sys.executable, os.path.abspath(__file__), "--mode", name,
               "--table", t] + extra
        p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL)
        killed = _kill_when_dir(
            p, os.path.join(t, "data", tagfmt.format(v=v0)),
            rng.choice([0.0, 0.1, 0.3]))
        d = {"crash_real": killed and _manifest_version(t) == v0,
             "state_after_crash": _state_ok(log_path, t)}
        r = subprocess.run(cmd, capture_output=True, text=True)
        d["rerun"] = next((l for l in r.stdout.splitlines()
                           if l.startswith(doneword)), None)
        stage(name, d, bool(d["state_after_crash"] and d["rerun"]
                            and _state_ok(log_path, t)))

    # 4. retention GC: kill mid-sweep, re-run through the debris
    n0 = _count_manifests(t)
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "expire",
           "--table", t, "--keep-last", "2"]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    drop = rng.randrange(1, max(2, min(9, n0 - 2)))
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break
        if _count_manifests(t) <= n0 - drop:
            time.sleep(rng.random() * 0.004)
            p.kill()
            killed = True
            break
        time.sleep(0.001)
    p.wait()
    d = {"crash_real": killed and _count_manifests(t) > 2,
         "state_after_crash": _state_ok(log_path, t)}
    r = subprocess.run(cmd, capture_output=True, text=True)
    d["rerun"] = next((l for l in r.stdout.splitlines()
                       if l.startswith("EXPIRED")), None)
    stage("expire", d, bool(d["state_after_crash"] and d["rerun"]
                            and _count_manifests(t) == 2
                            and _state_ok(log_path, t)))

    # 5. mutable reload: kill the truncate-and-reload mid-write over the
    # already-scarred table (state is the full-log fold before AND after,
    # so the oracle must hold across crash and re-run)
    v0 = _reader_version(t)
    data_dir = os.path.join(t, "data")
    seen = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "bootstrap",
           "--log", log_path, "--table", t]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    deadline = time.monotonic() + 300
    killed = False
    while time.monotonic() < deadline:
        if p.poll() is not None:
            break
        now = set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()
        if now - seen:
            time.sleep(rng.choice([0.0, 0.1, 0.3]))
            p.kill()
            killed = True
            break
        time.sleep(0.005)
    p.wait()
    d = {"crash_real": killed and _reader_version(t) == v0,
         "state_after_crash": _state_ok(log_path, t)}
    r = subprocess.run(cmd, capture_output=True, text=True)
    d["rerun"] = next((l for l in r.stdout.splitlines()
                       if l.startswith("BOOTSTRAPPED")), None)
    stage("reload", d, bool(d["state_after_crash"] and d["rerun"]
                            and _state_ok(log_path, t)))

    # 6. promotion: kill mid-linkfarm, re-promote, verify MAIN
    cmd = [sys.executable, os.path.abspath(__file__), "--mode", "promote",
           "--table", main, "--staging", t]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    killed = _kill_when_dir(p, os.path.join(main, "_manifests"),
                            rng.random() * 0.004, poll=0.001)
    committed = _reader_version(main) >= 1
    d = {"crash_real": killed and not committed,
         "promote_committed_before_kill": committed,
         "staging_intact": _state_ok(log_path, t)}
    r = subprocess.run(cmd, capture_output=True, text=True)
    d["rerun"] = next((l for l in r.stdout.splitlines()
                       if l.startswith("PROMOTED")), None)
    stage("promote", d, bool(d["staging_intact"] and d["rerun"]
                             and _state_ok(log_path, main)))

    rec["real_crashes"] = reals
    rec["ok"] = all(oks)
    shutil.rmtree(t, ignore_errors=True)
    shutil.rmtree(main, ignore_errors=True)
    return rec


def orchestrate(cycles: int, events: int, seed: int, stream_cycles: int,
                compact_cycles: int, rebucket_cycles: int,
                promote_cycles: int, expire_cycles: int,
                replicate_cycles: int, mutable_cycles: int,
                lifecycle_cycles: int, patch_fraction: float,
                race_cycles: int = 0, race_kill_bias: bool = False,
                race_stream_cycles: int = 0) -> int:
    rng = random.Random(seed)
    base = tempfile.mkdtemp(prefix="crashfuzz-")
    log_path = os.path.join(base, "log")
    g = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--mode", "gen",
         "--log", log_path, "--events", str(events),
         "--patch-fraction", str(patch_fraction)],
        check=True, capture_output=True, text=True,
    )
    gen_line = next(l for l in g.stdout.splitlines() if l.startswith("GENERATED"))
    n_offsets = int(gen_line.split()[3]) + 1  # MAX_OFFSET + 1
    failures, real_crashes = 0, 0
    try:
        for c in range(cycles):
            interval = rng.choice([250, 500, 1000])
            # total epochs = ceil(max_offset+1 / interval); offsets are
            # 0..n_offsets-1 by construction of the generator
            total = -(-n_offsets // interval)
            kill_epoch = rng.randrange(0, max(1, total - 2))
            grace = rng.choice([0.0, 0.2])
            double = rng.random() < 0.4
            table_path = os.path.join(base, f"t{c}")
            rec = {"cycle": c, "interval": interval, "total_epochs": total,
                   "kill_epoch": kill_epoch, "grace": grace, "double": double}

            r1 = _run_replay_until(log_path, table_path, interval,
                                   kill_epoch, grace)
            et1 = _manifest_epochs_through(table_path)
            # a kill that raced the finish (all epochs committed before the
            # signal landed) is a degenerate cycle: reported, still held to
            # the resume-exact + oracle assertions, but not a "real" crash
            rec["crash1_real"] = r1["killed"] and et1 < total - 1
            rec["epochs_through_after_crash1"] = et1
            if rec["crash1_real"]:
                real_crashes += 1

            if double and et1 < total - 2:
                k2 = rng.randrange(et1 + 1, total - 1)
                r2 = _run_replay_until(log_path, table_path, interval, k2, 0.0)
                et2 = _manifest_epochs_through(table_path)
                rec["crash2_real"] = r2["killed"] and et2 < total - 1
                rec["epochs_through_after_crash2"] = et2
            else:
                et2 = et1

            r3 = _run_replay_until(log_path, table_path, interval, None, 0.0)
            rec["resume"] = r3["done"]
            ok = False
            if r3["done"]:
                parts = dict(kv.split("=") for kv in r3["done"].split()[1:])
                run, skipped = int(parts["run"]), int(parts["skipped"])
                ok = (run + skipped == total) and (skipped == et2 + 1)
                rec["resume_exact"] = ok
            v = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--mode", "verify",
                 "--log", log_path, "--table", table_path],
                capture_output=True, text=True,
            )
            state_line = next((l for l in v.stdout.splitlines()
                             if l.startswith("STATE_MATCH")), "STATE_MATCH False")
            rec["state_match"] = state_line.split()[1] == "True"
            rec["ok"] = bool(ok and rec["state_match"])
            if not rec["ok"]:
                failures += 1
            print(json.dumps(rec), flush=True)
            shutil.rmtree(table_path, ignore_errors=True)
        stream_real = 0
        for c in range(stream_cycles):
            rec = _stream_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                stream_real += 1
            print(json.dumps(rec), flush=True)
        compact_real = 0
        for c in range(compact_cycles):
            rec = _compact_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                compact_real += 1
            print(json.dumps(rec), flush=True)
        rebucket_real = 0
        for c in range(rebucket_cycles):
            rec = _rebucket_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                rebucket_real += 1
            print(json.dumps(rec), flush=True)
        promote_real = 0
        for c in range(promote_cycles):
            rec = _promote_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                promote_real += 1
            print(json.dumps(rec), flush=True)
        expire_real = 0
        for c in range(expire_cycles):
            rec = _expire_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                expire_real += 1
            print(json.dumps(rec), flush=True)
        replicate_real = 0
        for c in range(replicate_cycles):
            rec = _replicate_cycle(base, log_path, c, rng)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                replicate_real += 1
            print(json.dumps(rec), flush=True)
        mutable_real = 0
        for c in range(mutable_cycles):
            rec = _mutable_cycle(base, log_path, c, rng, n_offsets)
            if not rec["ok"]:
                failures += 1
            if rec["crash_real"]:
                mutable_real += 1
            print(json.dumps(rec), flush=True)
        lifecycle_real = 0
        for c in range(lifecycle_cycles):
            rec = _lifecycle_cycle(base, log_path, c, rng, n_offsets)
            if not rec["ok"]:
                failures += 1
            lifecycle_real += rec["real_crashes"]
            print(json.dumps(rec), flush=True)
        race_real = 0
        for c in range(race_cycles):
            rec = _race_cycle(base, log_path, c, rng, n_offsets,
                              kill_bias=race_kill_bias)
            if not rec["ok"]:
                failures += 1
            if rec.get("crash_real"):
                race_real += 1
            print(json.dumps(rec), flush=True)
        race_stream_real = 0
        for c in range(race_stream_cycles):
            rec = _race_stream_cycle(base, log_path, c, rng,
                                     kill_bias=race_kill_bias)
            if not rec["ok"]:
                failures += 1
            if rec.get("crash_real"):
                race_stream_real += 1
            print(json.dumps(rec), flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"cycles": cycles, "stream_cycles": stream_cycles,
                      "compact_cycles": compact_cycles,
                      "rebucket_cycles": rebucket_cycles,
                      "promote_cycles": promote_cycles,
                      "expire_cycles": expire_cycles,
                      "replicate_cycles": replicate_cycles,
                      "mutable_cycles": mutable_cycles,
                      "lifecycle_cycles": lifecycle_cycles,
                      "patch_fraction": patch_fraction,
                      "failures": failures, "real_crashes": real_crashes,
                      "stream_real_crashes": stream_real,
                      "compact_real_crashes": compact_real,
                      "rebucket_real_crashes": rebucket_real,
                      "promote_real_crashes": promote_real,
                      "expire_real_crashes": expire_real,
                      "replicate_real_crashes": replicate_real,
                      "mutable_real_crashes": mutable_real,
                      "lifecycle_real_crashes": lifecycle_real,
                      "race_cycles": race_cycles,
                      "race_real_crashes": race_real,
                      "race_stream_cycles": race_stream_cycles,
                      "race_stream_real_crashes": race_stream_real}), flush=True)
    # the campaign is only evidence if the kills mostly landed mid-replay
    weak = (cycles > 0 and real_crashes < max(1, cycles // 2)) or (
        stream_cycles > 0 and stream_real < max(1, stream_cycles // 2)
    )
    return 1 if (failures or weak) else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="fuzz",
                    choices=["fuzz", "gen", "replay", "stream", "compact",
                             "rebucket", "promote", "expire", "replicate",
                             "bootstrap", "count", "verify", "maintain", "readloop"])
    ap.add_argument("--cycles", type=int, default=6)
    ap.add_argument("--stream-cycles", type=int, default=3)
    ap.add_argument("--compact-cycles", type=int, default=2)
    ap.add_argument("--rebucket-cycles", type=int, default=2)
    ap.add_argument("--promote-cycles", type=int, default=2)
    ap.add_argument("--expire-cycles", type=int, default=2)
    ap.add_argument("--replicate-cycles", type=int, default=2)
    ap.add_argument("--mutable-cycles", type=int, default=2)
    ap.add_argument("--lifecycle-cycles", type=int, default=1)
    ap.add_argument("--race-cycles", type=int, default=2)
    ap.add_argument("--race-stream-cycles", type=int, default=2)
    ap.add_argument("--race-kill-bias", action="store_true",
                    help="SIGKILL the ingest in EVERY race cycle (the "
                    "resume-under-running-cron path), instead of half")
    ap.add_argument("--stop-file")
    ap.add_argument("--events", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--log")
    ap.add_argument("--table")
    ap.add_argument("--staging")
    ap.add_argument("--ckpt")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--max-epochs", type=int, default=None)
    ap.add_argument("--max-offset", type=int, default=None)
    ap.add_argument("--interval", type=int, default=500)
    ap.add_argument("--patch-fraction", type=float, default=0.0)
    a = ap.parse_args()
    if a.mode == "gen":
        worker_gen(a.log, a.events, a.patch_fraction)
        return 0
    if a.mode == "replay":
        worker_replay(a.log, a.table, a.interval, a.max_epochs)
        return 0
    if a.mode == "stream":
        worker_stream(a.log, a.table, a.ckpt)
        return 0
    if a.mode == "compact":
        worker_compact(a.table)
        return 0
    if a.mode == "rebucket":
        worker_rebucket(a.table, a.buckets)
        return 0
    if a.mode == "promote":
        worker_promote(a.staging, a.table)
        return 0
    if a.mode == "expire":
        worker_expire(a.table, a.keep_last)
        return 0
    if a.mode == "replicate":
        worker_replicate(a.staging, a.table)
        return 0
    if a.mode == "bootstrap":
        worker_bootstrap(a.log, a.table)
        return 0
    if a.mode == "count":
        worker_count(a.table)
        return 0
    if a.mode == "verify":
        worker_verify(a.log, a.table, a.max_offset)
        return 0
    if a.mode == "maintain":
        worker_maintain(a.table, a.stop_file, a.buckets)
        return 0
    if a.mode == "readloop":
        worker_readloop(a.table, a.stop_file)
        return 0
    return orchestrate(a.cycles, a.events, a.seed, a.stream_cycles,
                       a.compact_cycles, a.rebucket_cycles, a.promote_cycles,
                       a.expire_cycles, a.replicate_cycles,
                       a.mutable_cycles, a.lifecycle_cycles,
                       a.patch_fraction, a.race_cycles, a.race_kill_bias,
                       a.race_stream_cycles)


if __name__ == "__main__":
    sys.exit(main())
