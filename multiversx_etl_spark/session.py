"""SparkSession factory with scale-minded defaults.

The reference tunes its runtime via worker_config JSON (threads, interval
sizes — /root/reference/multiversxetl/config/worker_config_mainnet.json:21-23).
Our analog is Spark conf: AQE for runtime re-planning + skew splitting,
Arrow for the vectorized Python boundary, and shuffle-partition counts sized
to the sandbox (local[N]) while remaining overridable for a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for a 100 TB-class deployment, overridable per session.
#: - AQE: runtime coalescing + skew-join splitting (monorepo skew).
#: - Arrow: the only Python boundary we allow is vectorized (no per-row UDFs).
#: - maxPartitionBytes 128m: keeps scan partitions executor-memory friendly.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # zstd parquet: fewer bytes through the saturated fabric (replay at
    # local[4] medians ~15% faster than snappy across interleaved A/B runs)
    # and smaller files at rest; DuckDB reads zstd parquet fine (it is lz4
    # whose framing is unreadable / lz4_raw that hangs — those stay banned).
    "spark.sql.parquet.compression.codec": "zstd",
    # zstd shuffle/IO codec: ~17% faster replay at local[4] vs lz4 (fewer
    # bytes through the saturated memory fabric; ~2% slower at local[1]
    # where CPU is the constraint). At cluster scale shuffle bytes are the
    # scarce resource — higher compression is the right default. Env
    # override for ops A/B (e.g. a saturated single box where codec CPU
    # competes with the shuffle for the same bottleneck resource).
    "spark.io.compression.codec": os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # on, every Column method and F.* call records its Python call site: ~5
    # extra JVM round trips each (off: tail epoch plan build 2,613 -> 1,148
    # round trips, cpu_s_per_op -16%, 7/7 pairs at 4 vCPU). Lost: the call
    # site in the "DataFrame context" part of Spark's error messages.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

#: Compression EFFORT knob (CPU spent per byte compressed), separate from the
#: codec choice above. ``SPARK_GRAFT_ZSTD_LEVEL=<n>`` raises both the parquet
#: writer level (parquet-mr default 3) and the shuffle/io codec level (Spark
#: default 1). Two uses: (a) ops tuning — at cluster scale storage/network
#: bytes are the scarce resource and higher effort can be worth it (measure
#: first: levels ≤6 are near-free, 12+ costs ~1.4× wall for single-digit-%
#: byte savings on high-entropy data); (b) the CAUSAL probe of this
#: sandbox's scaling ceiling — measured outcome (two interleaved-condition
#: runs, BENCH/BASELINE.md round 4): the N->4N efficiency is INVARIANT to a
#: 3× CPU-per-byte manipulation, i.e. no compute/data mix reachable by this
#: knob escapes the single-VM fabric band (0.70-0.75).
_zstd_level = os.environ.get("SPARK_GRAFT_ZSTD_LEVEL")
#: the zstd level parquet files get: parquet-mr's default 3 unless the knob
#: above raises it. The driver-side delta write (lake/table.py
#: ``write_data_files(on_driver=True)``) uses it too, so both write paths
#: store the same bytes.
PARQUET_ZSTD_LEVEL = int(_zstd_level or 3)
if _zstd_level:
    DEFAULT_CONF.update(
        {
            "spark.hadoop.parquet.compression.codec.zstd.level": _zstd_level,
            "spark.io.compression.zstd.level": _zstd_level,
        }
    )

#: Speculative execution: re-launch suspiciously slow tasks on another
#: executor — the standard mitigation for stragglers (slow node, vCPU
#: steal, GC pause). Measured on this VM's 4-executor replays: ~1/3 of
#: runs land in a 1.7×-slower mode whose wall is one straggling task wave;
#: speculation collapses the bimodality (BENCH/BASELINE.md round 4).
#: STRICTLY OPT-IN: enabled only when SPARK_GRAFT_SPECULATION=1 (any other
#: value, including unset or 0, leaves it off). Default off because in
#: local[] mode same-JVM re-runs buy nothing; a real multi-node deployment
#: should usually set it.
_spec = os.environ.get("SPARK_GRAFT_SPECULATION")
if _spec == "1":
    DEFAULT_CONF.update(
        {
            "spark.speculation": "true",
            "spark.speculation.multiplier": "1.5",
            "spark.speculation.quantile": "0.5",
        }
    )


def get_spark(
    app_name: str = "multiversx-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster the caller passes nothing and spark-submit supplies it.
    ``shuffle_partitions`` defaults to 2× parallelism (micro-batches are small
    relative to cluster size; AQE coalesces further at runtime).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
