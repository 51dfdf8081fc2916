"""10^8-event endurance soak on the sharded-manifest tree (VERDICT r04 #8).

Scales the 16M control 6×: a lazily-synthesized change log (no 16 GB at
rest — each epoch constructs only its own slice, the 10^10-scale driver
shape) replayed epoch by epoch into a layout='spark' LakeTable with the
ONLINE maintenance profile running in-band: compaction every K epochs and
`expire_snapshots(older_than)` retention behind it, exactly the long-
running-ingest steady state. Per-epoch samples: wall, events/s,
root-manifest bytes, live files/groups, table bytes on disk — the
evidence that (a) throughput is flat across the run, (b) the sharded
manifest keeps the root-doc size bounded as epochs accumulate, (c)
retention bounds disk.

Usage: python BENCH/soak_r05.py [events_total] [interval] [out.jsonl]
Defaults: 10^8 events, 2M per epoch (50 epochs), compact every 5,
expire keep_last=8 behind the compaction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multiversx_etl_spark.session import get_spark  # noqa: E402


def du(path: str) -> int:
    total = 0
    for dp, _dn, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except FileNotFoundError:
                pass
    return total


def main() -> None:
    from multiversx_etl_spark.lake.table import LakeTable, _GROUP_DIR, _MANIFEST_DIR
    from multiversx_etl_spark.schemas import REPOS
    from multiversx_etl_spark.sources.changelog import slice_change_log
    from multiversx_etl_spark.streaming.ingest import apply_epoch

    events_total = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    interval = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    out_path = sys.argv[3] if len(sys.argv) > 3 else "BENCH/soak_r05.jsonl"
    compact_every = 5
    keep_last = 8
    buckets = 32
    repos = max(100, events_total // 2000)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "soak-r05", master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    root = tempfile.mkdtemp(prefix="mxetl-soak-")
    table_path = os.path.join(root, "t")
    table = LakeTable.create(
        spark, table_path, REPOS, key_columns=["repo", "path"],
        num_buckets=buckets, layout="spark",
    )
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    gdir = os.path.join(mdir, _GROUP_DIR)
    out = open(out_path, "w")
    t_start = time.time()
    n_epochs = events_total // interval
    for e in range(n_epochs):
        lo, hi = e * interval, (e + 1) * interval
        t0 = time.perf_counter()
        batch = slice_change_log(spark, events_total, lo, hi, num_repos=repos)
        stats = apply_epoch(table, batch, "soak", e, lo, hi)
        wall = time.perf_counter() - t0
        rec = {
            "epoch": e,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(interval / wall, 1),
            "rows_in": stats.rows_in,
        }
        maint = None
        if (e + 1) % compact_every == 0:
            t1 = time.perf_counter()
            table.compact()
            table.expire_snapshots(keep_last=keep_last, older_than_seconds=0)
            maint = round(time.perf_counter() - t1, 3)
        m = table.snapshot()
        rec.update({
            "maint_sec": maint,
            "root_doc_bytes": os.path.getsize(
                table._manifest_path(m.version)
            ),
            "live_files": m.total_files(),
            "group_docs": len(os.listdir(gdir)) if os.path.isdir(gdir) else 0,
            "manifest_dir_bytes": du(mdir),
            "table_bytes": du(table_path),
            "version": m.version,
        })
        out.write(json.dumps(rec) + "\n")
        out.flush()
        print(json.dumps(rec), flush=True)
    total_wall = time.time() - t_start
    final = {
        "summary": True,
        "events": events_total,
        "epochs": n_epochs,
        "total_wall_sec": round(total_wall, 1),
        "sustained_events_per_sec": round(events_total / total_wall, 1),
        "final_rows": table.read().count(),
        "final_version": table.current_version(),
        "final_table_bytes": du(table_path),
        "final_manifest_dir_bytes": du(mdir),
    }
    out.write(json.dumps(final) + "\n")
    out.close()
    print(json.dumps(final), flush=True)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
