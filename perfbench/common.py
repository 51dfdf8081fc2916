"""Shared harness pieces: the Spark session, seeded inputs, the DuckDB
correctness oracle, order-independent digests, statistics and process
counters. Nothing here is timed on its own; the workloads decide what a
sample is."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any

#: change-log columns the final state is compared on (``event_ts`` is
#: derived from ``seq`` and carries no extra information)
STATE_COLUMNS = ["repo", "path", "seq", "commit", "lang", "content"]

#: environment knobs that change engine behaviour; a run pins the defaults
_ENGINE_ENV = (
    "MXETL_TIMING", "MXETL_CAPTURE_PLAN", "SPARK_GRAFT_IO_CODEC",
    "SPARK_GRAFT_ZSTD_LEVEL", "SPARK_GRAFT_SPECULATION",
    "SPARK_GRAFT_DRIVER_MEM", "SPARK_MASTER",
)


def _proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc/.../stat`` file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # exited meanwhile
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM and Spark's Python workers), plus what reaped
    children left in each one's ``cutime``/``cstime``. Time the hypervisor
    took from the VM (steal) and time spent waiting for a CPU are not in
    it, so it measures the work done, not how busy the host was."""
    root = os.getpid() if root_pid is None else root_pid
    stats = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            # fields after the command, from state = 0: ppid(1),
            # utime(11), stime(12), cutime(13), cstime(14)
            f = st[1]
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. The
    session pins their number (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so no compiler thread exits and takes its time out of this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _proc_stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += int(st[1][11]) + int(st[1][12])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


@dataclass
class Run:
    """One benchmark process: its checkout root, scratch directory, Spark
    session and the counters every workload reports."""

    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    #: shrink the inputs for the harness self-test (not comparable)
    tiny: bool = False
    workdir: str = ""
    spark: Any = None
    #: set-up, in CPU seconds as ``work_cpu_s`` counts them: the session
    #: start, what is done once per run (log build, table generation) and
    #: what is repeated per pass (a fresh table)
    session_s: float = 0.0
    setup_once_s: float = 0.0
    setup_samples: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    tracer: Any = None
    #: query_suite: results compared with an oracle vs row-count-only
    value_checked: int = 0
    rows_only: int = 0
    _jvm_pid: int = 0

    def __post_init__(self) -> None:
        self._t0 = time.perf_counter()
        self.workdir = os.path.join(
            self.root, ".perfbench_work", f"{self.workload}-{os.getpid()}"
        )

    # ---------- lifecycle ----------

    def start(self) -> None:
        """Start the session on ``local[<cpus>]``. Every file the run
        writes, Spark's scratch space included, stays under ``workdir``."""
        for k in _ENGINE_ENV:
            os.environ.pop(k, None)
        shutil.rmtree(self.workdir, ignore_errors=True)
        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # python workers import the engine (UDF-based queries need it)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        cpu = tree_cpu_s()
        from multiversx_etl_spark.session import get_spark

        cpus = cpu_count()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": tmp,
            # a fixed set of JIT compiler threads: their CPU stays readable
            # per thread (``jit_cpu_s``)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            # the status REST API is the source of per-stage counts; it is
            # on in the traced run only (as scaling.py does)
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            })
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{cpus}]",
            shuffle_partitions=2 * cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = self.work_cpu_s() - cpu

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers it
        forked) to exit before removing the scratch directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.workdir, ignore_errors=True)
        parent = os.path.dirname(self.workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def log(self, msg: str) -> None:
        """Progress note on standard error, stamped with run time."""
        import sys

        print(f"[perfbench {time.perf_counter() - self._t0:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def setup_s(self) -> float:
        """CPU seconds of the session start, the one-off set-up, and the
        median of the set-up repeated for every pass."""
        return self.session_s + self.setup_once_s + statistics.median(self.setup_samples)

    def check(self, ok: bool, what: str, ops: int = 1) -> bool:
        """Book ``ops`` operations as attempted; as failed unless ``ok``."""
        self.attempted += ops
        if not ok:
            self.failed += ops
            self.errors.append(what)
        return ok

    # ---------- JVM process counters ----------

    def jvm_pid(self) -> int:
        if not self._jvm_pid:
            self._jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self._jvm_pid

    def work_cpu_s(self) -> float:
        """CPU seconds used so far by the run's processes, less the JIT
        compiler's: the engine's work. The compiler's share falls pass by
        pass as the JVM warms (README, "CPU time"), so counting it would
        measure how warm the JVM is, not the engine."""
        return tree_cpu_s() - jit_cpu_s(self.jvm_pid())

    def jvm_status_kb(self, key: str) -> int:
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
        raise KeyError(key)

    def jvm_io(self) -> dict[str, int]:
        with open(f"/proc/{self.jvm_pid()}/io") as fh:
            return {
                k: int(v) for k, v in
                (line.strip().split(": ") for line in fh if ": " in line)
            }

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---------- seeded inputs ----------


def seeded_log(spark, n_events: int, seed: int, salt: str,
               patch_fraction: float = 0.0, num_repos: int = 200,
               partitions: int = 8):
    """The engine's synthetic change log with its keys salted by the seed.

    ``generate_change_log`` is deterministic and takes no seed, so the
    benchmark salts the repo name: a different seed moves every key to a
    different bucket (and the hot Zipf repo with it) while the op mix,
    skew and duplicate rate stay those of the generator."""
    import pyspark.sql.functions as F

    from multiversx_etl_spark.sources.changelog import generate_change_log

    log = generate_change_log(
        spark, n_events, num_repos=num_repos, paths_per_repo=200,
        partitions=partitions, patch_fraction=patch_fraction,
    )
    return log.withColumn(
        "repo", F.concat(F.col("repo"), F.lit(f"~{seed:x}.{salt}"))
    )


# ---------- correctness oracle ----------

_ORACLE_FOLD = """
WITH ev AS (SELECT * FROM read_parquet({files})),
agg AS (
  SELECT repo, path,
    arg_max_null(op, seq) FILTER (WHERE op <> 'patch') AS b_op,
    max(seq) FILTER (WHERE op <> 'patch') AS b_seq,
    arg_max_null("commit", seq) FILTER (WHERE op <> 'patch' OR "commit" IS NOT NULL) AS v_commit,
    max(seq) FILTER (WHERE op <> 'patch' OR "commit" IS NOT NULL) AS s_commit,
    arg_max_null(lang, seq) FILTER (WHERE op <> 'patch' OR lang IS NOT NULL) AS v_lang,
    max(seq) FILTER (WHERE op <> 'patch' OR lang IS NOT NULL) AS s_lang,
    arg_max_null(content, seq) FILTER (WHERE op <> 'patch' OR content IS NOT NULL) AS v_content,
    max(seq) FILTER (WHERE op <> 'patch' OR content IS NOT NULL) AS s_content
  FROM ev GROUP BY 1, 2
)
"""


def oracle_state(files: list[str]) -> tuple[list[tuple], list[tuple]]:
    """Independent DuckDB per-column last-writer-wins fold of the written
    log files: full images set every column at their seq, patches set only
    their non-NULL columns, liveness comes from the full-image winner.
    Returns (live rows in ``STATE_COLUMNS`` order, deleted keys)."""
    import duckdb

    file_list = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cpu_count()}")
        base = _ORACLE_FOLD.format(files=file_list)
        live = con.execute(base + """
            SELECT repo, path, greatest(b_seq, s_commit, s_lang, s_content),
                   v_commit, v_lang, v_content
            FROM agg WHERE b_seq IS NOT NULL AND b_op <> 'delete'
        """).fetchall()
        deleted = con.execute(
            base + "SELECT repo, path FROM agg WHERE b_op = 'delete'"
        ).fetchall()
    finally:
        con.close()
    return live, deleted


def parquet_files(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f) for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _cell(v: Any) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "\\N"
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows): independent of the
    order either engine returns rows in."""
    lines = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def table_rows(table) -> list[tuple]:
    pdf = table.read().select(*STATE_COLUMNS).toPandas()
    return list(pdf.itertuples(index=False, name=None))


def scan_digest(table) -> tuple[int, int]:
    """One full-state read of the table plus a content-hash aggregate: the
    scan the traced ``tail`` run times on its final table."""
    import pyspark.sql.functions as F

    r = table.read().agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(*STATE_COLUMNS), F.lit(1 << 40))).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


# ---------- statistics ----------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def p90(xs: list[float]) -> float:
    """Linear-interpolated 90th percentile (``statistics.quantiles``,
    inclusive method); the README states each workload's sample count."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def data_bytes(table) -> tuple[int, int]:
    """(bytes of live data files, live physical rows) in the current
    manifest."""
    m = table.snapshot()
    files = m.files
    size = sum(os.path.getsize(os.path.join(table.root, f["path"])) for f in files)
    return size, sum(int(f["rows"]) for f in files)
