"""Deterministic synthetic change-event log (the test/bench input).

Analog of the reference's Elasticsearch append-only indices — the source the
pipeline tails by half-open ranges (/root/reference/multiversxetl/indexer.py:
29-70). FIXTURES.md §1 specifies the shape: Zipf-skewed repo popularity
(monorepo skew), ~10% deletes / ~50% updates, ~1% exact duplicate deliveries,
bounded out-of-orderness.

Everything is generated from ``spark.range(n)`` with pure column expressions —
no driver-side data, no Python row functions — so a 10^10-row log is a lazy
plan, not materialized data, and the generator is deterministic regardless of
parallelism (we derive pseudo-randomness from ``xxhash64`` of the row id, NOT
from ``rand()``, whose output depends on partition layout).
"""

from __future__ import annotations

import contextlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

#: ~2^20 prime modulus for uniform deviates from xxhash64 (1e-6 quantization
#: steps — ample for the op-mix/null-rate/Zipf draws it feeds).
_U_MOD = 1_000_003


def _u01(col: Column, salt: int) -> Column:
    """Deterministic uniform(0,1) deviate as a pure function of ``col``."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(_U_MOD)) / F.lit(float(_U_MOD))


def generate_change_log(
    spark: SparkSession,
    num_events: int,
    num_repos: int = 100,
    paths_per_repo: int = 200,
    dup_fraction: float = 0.01,
    skew: float = 3.0,
    content_blocks: int = 4,
    base_ts: int = 1_596_117_600,  # the reference's mainnet genesis (worker_config_mainnet.json:5)
    partitions: int | None = None,
    patch_fraction: float = 0.0,
) -> DataFrame:
    """Build the change log as a lazy DataFrame of ``num_events * (1+dup)`` rows.

    Row ``offset`` is the arrival position. Logical events are identified by
    ``seq`` (a bounded permutation of arrival order — adjacent pair swaps —
    so delivery is out-of-order). Rows with offset >= num_events are exact
    re-deliveries of earlier events (at-least-once), arriving much later than
    the original.

    Zipf-ish repo popularity: ``repo_idx = floor(num_repos * u^skew)`` — with
    skew=3 repo 0 receives ~vastly more events than the tail, modelling one
    dominating monorepo.
    """
    n_dups = int(num_events * dup_fraction)
    total = num_events + n_dups
    rng = spark.range(0, total, 1, partitions) if partitions else spark.range(total)
    return _event_columns(rng, num_events, num_repos, paths_per_repo, skew,
                          content_blocks, base_ts, patch_fraction)


def slice_change_log(
    spark: SparkSession,
    num_events: int,
    lo: int,
    hi: int,
    num_repos: int = 100,
    paths_per_repo: int = 200,
    dup_fraction: float = 0.01,
    skew: float = 3.0,
    content_blocks: int = 4,
    base_ts: int = 1_596_117_600,
    partitions: int | None = None,
    patch_fraction: float = 0.0,
) -> DataFrame:
    """The offset slice ``[lo, hi)`` of the ``num_events``-sized log,
    constructed DIRECTLY as ``spark.range(lo, hi)`` — O(slice), never
    O(num_events). Every column is a pure function of the offset id, so the
    slice is row-identical to filtering the full log; this is what makes a
    10^10-event log a usable *plan*: each replay epoch materializes only its
    own slice. (The analog of the reference planning one [start, end) ES
    interval at a time, never the whole history —
    /root/reference/multiversxetl/tasks_dashboard.py:35-46.)"""
    total = num_events + int(num_events * dup_fraction)
    lo, hi = max(0, lo), min(hi, total)
    rng = (
        spark.range(lo, hi, 1, partitions) if partitions else spark.range(lo, hi)
    )
    return _event_columns(rng, num_events, num_repos, paths_per_repo, skew,
                          content_blocks, base_ts, patch_fraction)


def _event_columns(
    rng: DataFrame,
    num_events: int,
    num_repos: int,
    paths_per_repo: int,
    skew: float,
    content_blocks: int,
    base_ts: int,
    patch_fraction: float = 0.0,
) -> DataFrame:
    # Effective logical row: duplicates re-deliver an earlier event verbatim.
    eff = F.when(
        F.col("id") < num_events, F.col("id")
    ).otherwise(F.pmod(F.xxhash64(F.col("id"), F.lit(17)), F.lit(num_events)))
    df = rng.select(F.col("id").alias("offset"), eff.alias("_eff"))

    # seq: permutation of [0, num_events) via deterministic adjacent-pair
    # swaps — bounded out-of-orderness (displacement 1) plus the duplicates,
    # which re-deliver old seqs arbitrarily late.
    pair = F.floor(F.col("_eff") / 2)
    swap = F.pmod(F.xxhash64(pair, F.lit(19)), F.lit(2)) == 0
    partner = F.col("_eff") + F.when(F.pmod(F.col("_eff"), F.lit(2)) == 0, 1).otherwise(-1)
    in_range = (partner >= 0) & (partner < num_events)
    seq = F.when(swap & in_range, partner).otherwise(F.col("_eff"))
    df = df.withColumn("seq", seq)

    # Key: Zipf-ish repo, uniform path within repo.
    u_repo = _u01(F.col("seq"), 3)
    repo_idx = F.least(
        F.floor(F.lit(float(num_repos)) * F.pow(u_repo, F.lit(skew))).cast("long"),
        F.lit(num_repos - 1),
    )
    path_idx = F.pmod(F.xxhash64(F.col("seq"), F.lit(7)), F.lit(paths_per_repo))
    df = df.withColumn("repo", F.format_string("repo-%05d", repo_idx)).withColumn(
        "path",
        F.format_string(
            "src/module_%d/file_%d.py", F.pmod(path_idx, F.lit(10)), path_idx
        ),
    )

    # op mix: ~10% delete / ~50% update / ~40% insert (FIXTURES.md §1).
    # patch_fraction > 0 converts that share of the UPDATES into
    # partial-image 'patch' events (Debezium-style: only the changed
    # columns are present; NULL payload = keep the stored value).
    op_draw = F.pmod(F.xxhash64(F.col("seq"), F.lit(11)), F.lit(100))
    is_patch = (
        (op_draw >= 10)
        & (op_draw < 60)
        & (_u01(F.col("seq"), 41) < F.lit(float(patch_fraction)))
    )
    df = df.withColumn(
        "op",
        F.when(op_draw < 10, F.lit("delete"))
        .when(op_draw < 60, F.when(is_patch, F.lit("patch")).otherwise(F.lit("update")))
        .otherwise(F.lit("insert")),
    )

    # commit digest + nullable lang (~5% null) + deterministic content.
    # Patch rows set ONLY their patched columns: selector 0 = lang-only,
    # 1 = content-only (a content patch implies a new commit digest),
    # 2 = both; everything else is NULL-means-keep.
    key_seq = F.concat_ws("|", "repo", "path", F.col("seq").cast("string"))
    patch_sel = F.pmod(F.xxhash64(F.col("seq"), F.lit(43)), F.lit(3))
    patching = F.col("op") == "patch"
    patches_lang = patching & ((patch_sel == 0) | (patch_sel == 2))
    patches_content = patching & ((patch_sel == 1) | (patch_sel == 2))
    df = df.withColumn(
        "commit",
        F.when(patching & ~patches_content, F.lit(None).cast("string")).otherwise(
            F.md5(key_seq)
        ),
    )
    langs = F.array(*[F.lit(x) for x in ("python", "go", "rust", "javascript", "c")])
    lang_idx = F.pmod(F.xxhash64(F.col("repo")), F.lit(5))
    patched_lang = F.element_at(
        langs, (F.pmod(F.xxhash64(F.col("seq"), F.lit(47)), F.lit(5)) + 1).cast("int")
    )
    df = df.withColumn(
        "lang",
        F.when(patching, F.when(patches_lang, patched_lang).otherwise(F.lit(None)))
        .when(_u01(F.col("seq"), 23) < 0.05, F.lit(None).cast("string"))
        .otherwise(F.element_at(langs, (lang_idx + 1).cast("int"))),
    )
    blocks = [F.md5(F.concat_ws("#", key_seq, F.lit(str(i)))) for i in range(content_blocks)]
    full_content = F.concat_ws("\n", F.lit("// synthetic source"), *blocks)
    df = df.withColumn(
        "content",
        F.when(F.col("op") == "delete", F.lit(None).cast("string"))
        .when(
            patching,
            F.when(
                patches_content, F.concat(F.lit("// patched\n"), full_content)
            ).otherwise(F.lit(None)),
        )
        .otherwise(full_content),
    )

    # event_ts: monotone in seq with <=60s backward jitter (the reference's
    # END_TIME_DELTA late-data bound, constants.py:7).
    jitter = F.pmod(F.xxhash64(F.col("seq"), F.lit(13)), F.lit(60))
    df = df.withColumn(
        "event_ts", F.timestamp_seconds(F.lit(base_ts) + F.col("seq") - jitter)
    )

    return df.select(
        "offset", "seq", "op", "repo", "path", "commit", "lang", "content", "event_ts"
    )


def generate_commit_log(
    spark: SparkSession,
    num_events: int,
    num_repos: int = 10,
    commits_per_repo: int = 50,
    dup_fraction: float = 0.01,
    base_ts: int = 1_596_117_600,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic change log for the SECOND declared table (``commits``,
    schemas.COMMIT_EVENTS): key (repo, commit), nested ``shards``
    array<struct> carrying a ``reserved`` subfield (A8 drops it), a ``tags``
    string array with ~20% NULL elements (A9 scrubs them), and a volatile
    ``api_score`` column (A7 drops it). Same construction discipline as
    generate_change_log: every column a pure function of the row id."""
    n_dups = int(num_events * dup_fraction)
    total = num_events + n_dups
    rng = spark.range(0, total, 1, partitions) if partitions else spark.range(total)
    eff = F.when(F.col("id") < num_events, F.col("id")).otherwise(
        F.pmod(F.xxhash64(F.col("id"), F.lit(23)), F.lit(num_events))
    )
    df = rng.select(F.col("id").alias("offset"), eff.alias("seq"))
    repo = F.format_string(
        "repo-%05d", F.pmod(F.xxhash64(F.col("seq"), F.lit(29)), F.lit(num_repos))
    )
    cidx = F.pmod(F.xxhash64(F.col("seq"), F.lit(31)), F.lit(commits_per_repo))
    op_draw = F.pmod(F.xxhash64(F.col("seq"), F.lit(37)), F.lit(100))
    u_null = F.pmod(F.xxhash64(F.col("seq"), F.lit(39)), F.lit(100))
    shard = lambda i: F.struct(  # noqa: E731
        F.lit(i).cast("int").alias("shard"),
        (F.lit(base_ts) + F.col("seq") + F.lit(i)).cast("long").alias("start_ts"),
        F.md5(F.concat_ws("#", F.col("seq").cast("string"), F.lit(str(i)))).alias(
            "reserved"
        ),
    )
    return df.select(
        "offset",
        "seq",
        F.when(op_draw < 10, F.lit("delete"))
        .when(op_draw < 60, F.lit("update"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        repo.alias("repo"),
        F.md5(F.concat_ws("|", repo, cidx.cast("string"))).alias("commit"),
        F.format_string(
            "dev-%03d", F.pmod(F.xxhash64(F.col("seq"), F.lit(41)), F.lit(50))
        ).alias("author"),
        F.pmod(F.xxhash64(F.col("seq"), F.lit(43)), F.lit(1000)).alias("api_score"),
        F.array(
            F.lit("ci"),
            F.when(u_null < 20, F.lit(None).cast("string")).otherwise(F.lit("release")),
            F.format_string(
                "t-%d", F.pmod(F.xxhash64(F.col("seq"), F.lit(47)), F.lit(8))
            ),
        ).alias("tags"),
        F.when(u_null < 50, F.array(shard(0), shard(1)))
        .otherwise(F.array(shard(0)))
        .alias("shards"),
        F.timestamp_seconds(F.lit(base_ts) + F.col("seq")).alias("event_ts"),
    )


def generate_block_log(
    spark: SparkSession,
    num_events: int,
    num_blocks: int = 200,
    dup_fraction: float = 0.01,
    base_ts: int = 1_596_117_600,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic change log for the THIRD declared table (``blocks``,
    schemas.BLOCK_EVENTS — loaded from the BQ-JSON schema file): key
    ``_id``, NUMERIC (decimal) leaves, and the 2-deep RECORD REPEATED
    ``epochStartShardsData[].pendingMiniBlockHeaders[]`` nesting whose
    ``reserved`` subfields the normalizer strips. Same construction
    discipline as the other generators: every column a pure function of the
    row id."""
    n_dups = int(num_events * dup_fraction)
    total = num_events + n_dups
    rng = spark.range(0, total, 1, partitions) if partitions else spark.range(total)
    eff = F.when(F.col("id") < num_events, F.col("id")).otherwise(
        F.pmod(F.xxhash64(F.col("id"), F.lit(53)), F.lit(num_events))
    )
    df = rng.select(F.col("id").alias("offset"), eff.alias("seq"))
    bidx = F.pmod(F.xxhash64(F.col("seq"), F.lit(59)), F.lit(num_blocks))
    op_draw = F.pmod(F.xxhash64(F.col("seq"), F.lit(61)), F.lit(100))
    h = lambda salt, extra="": F.md5(  # noqa: E731
        F.concat_ws("#", F.col("seq").cast("string"), F.lit(str(salt)), F.lit(extra))
    )
    mb = lambda i, j: F.struct(  # noqa: E731
        h(100 + i * 10 + j).alias("hash"),
        F.pmod(F.xxhash64(F.col("seq"), F.lit(71 + i)), F.lit(4)).alias("senderShard"),
        F.pmod(F.xxhash64(F.col("seq"), F.lit(73 + j)), F.lit(4)).alias("receiverShard"),
        F.when(F.pmod(F.xxhash64(F.col("seq"), F.lit(79 + j)), F.lit(2)) == 0,
               F.lit("TxBlock")).otherwise(F.lit("SmartContractResultBlock")).alias("type"),
        h(200 + i * 10 + j).alias("reserved"),  # normalizer strips this
    )
    shard = lambda i: F.struct(  # noqa: E731
        F.lit(i).cast("long").alias("shardId"),
        h(300 + i).alias("headerHash"),
        h(400 + i).alias("rootHash"),
        F.when(
            F.pmod(F.xxhash64(F.col("seq"), F.lit(83 + i)), F.lit(2)) == 0,
            F.array(mb(i, 0), mb(i, 1)),
        ).otherwise(F.array(mb(i, 0))).alias("pendingMiniBlockHeaders"),
    )
    two_shards = F.pmod(F.xxhash64(F.col("seq"), F.lit(89)), F.lit(2)) == 0
    return df.select(
        "offset",
        "seq",
        F.when(op_draw < 10, F.lit("delete"))
        .when(op_draw < 60, F.lit("update"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        F.md5(F.concat_ws("|", F.lit("block"), bidx.cast("string"))).alias("_id"),
        F.pmod(F.col("seq"), F.lit(50)).cast("decimal(38,9)").alias("epoch"),
        F.col("seq").cast("decimal(38,9)").alias("round"),
        F.pmod(F.xxhash64(F.col("seq"), F.lit(97)), F.lit(4)).alias("shardId"),
        (F.pmod(F.col("seq"), F.lit(50)) == 0).alias("epochStartBlock"),
        (F.pmod(F.xxhash64(F.col("seq"), F.lit(101)), F.lit(10_000)) / 100.0).alias(
            "gasConsumed"
        ),
        F.format_string(
            "validator-%03d", F.pmod(F.xxhash64(F.col("seq"), F.lit(103)), F.lit(64))
        ).alias("proposer"),
        h(1).alias("pubKeyBitmap"),  # volatile: normalizer drops
        h(2).alias("reserved"),  # volatile: normalizer drops
        F.timestamp_seconds(F.lit(base_ts) + F.col("seq") * 6).alias("timestamp"),
        F.when(two_shards, F.array(shard(0), shard(1)))
        .otherwise(F.array(shard(0)))
        .alias("epochStartShardsData"),
    )


#: Enum-like fields of the deployment data model, with the values the
#: reference's own shipped queries and views select on: view_transactions /
#: view_scresults filter type='normal'/'unsigned' (maintenance/views.md),
#: queries/transactions.sql filters operation='reward' and status='success',
#: queries/interactions.sql filters isScCall (boolean — generic synth).
#: Weights come from repeating values; draws stay pure functions of seq.
_FIELD_DOMAINS: dict[tuple[str, str], tuple[str, ...]] = {
    ("operations", "type"): ("normal", "normal", "normal", "unsigned", "receipt"),
    ("operations", "status"): ("success", "success", "success", "fail", "pending"),
    ("operations", "operation"): ("transfer", "transfer", "reward", "scDeploy"),
}

#: STRING fields the reference's queries cast to BIGNUMERIC
#: (queries/transactions.sql:6, interactions.sql:49) — synthesized as
#: wei-scale digit strings so the casts are exercised with real magnitudes.
_NUMERIC_STRING_FIELDS: set[tuple[str, str]] = {
    ("operations", "value"),
    ("operations", "fee"),
}


def generate_catalog_log(
    spark: SparkSession,
    num_events: int,
    table: str,
    num_keys: int = 50,
    dup_fraction: float = 0.01,
    null_element_fraction: float = 0.2,
    base_ts: int = 1_596_117_600,
    partitions: int | None = None,
    log_schema=None,
    offset_base: int = 0,
    ts_step: int = 1,
) -> DataFrame:
    """Deterministic change log for ANY catalog table (catalog.py — the
    reference's 17 indices; pass ``log_schema`` explicitly for an
    external-``schema_folder`` table, and ``offset_base`` to append a later
    generation after the first ``offset_base`` events), synthesized from
    the table's DECLARED log schema: every leaf is a pure function of
    (seq, field path), recursing
    through struct and array levels, so any two runs produce byte-identical
    logs and an independent oracle can re-derive the expected state. String
    ARRAY elements go NULL at ``null_element_fraction`` (the EventsTransformer
    scrub needs work to do, transformers.py:67-77); volatile ``api_*``/
    ``nft_*`` log-only fields are generated like any other and stripped by
    the normalizer. Same offset/seq/op discipline as the other generators.

    Timestamps advance ``ts_step`` seconds per event (default 1), so a small
    log can span many days — the shipped user queries (queries/*.sql) all
    group by DATE(timestamp). Fields with a declared enum-like domain in the
    reference's data model (_FIELD_DOMAINS: operations type/status/operation,
    the values its queries and views filter on) draw from that domain, and
    amount fields declared STRING but cast BIGNUMERIC by the reference's own
    queries (_NUMERIC_STRING_FIELDS) synthesize as wei-scale digit strings."""
    import zlib

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DataType,
        DateType,
        DecimalType,
        DoubleType,
        LongType,
        StringType,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    if log_schema is None:
        from multiversx_etl_spark.catalog import catalog_tables

        log_schema = catalog_tables()[table].log_schema
    n_dups = int(num_events * dup_fraction)
    total = num_events + n_dups
    rng = spark.range(0, total, 1, partitions) if partitions else spark.range(total)
    eff = F.when(F.col("id") < num_events, F.col("id")).otherwise(
        F.pmod(F.xxhash64(F.col("id"), F.lit(107)), F.lit(num_events))
    ) + F.lit(offset_base)
    df = rng.select(
        (F.col("id") + F.lit(offset_base)).alias("offset"), eff.alias("seq")
    )
    seq = F.col("seq")

    def salt(path: str) -> int:
        return zlib.crc32(f"{table}/{path}".encode()) & 0x7FFFFFFF

    def synth(dt: DataType, path: str, in_array: bool = False):
        s = salt(path)
        if isinstance(dt, StructType):
            return F.struct(
                *[synth(f.dataType, f"{path}.{f.name}").alias(f.name) for f in dt.fields]
            )
        if isinstance(dt, ArrayType):
            one = synth(dt.elementType, f"{path}[0]", in_array=True)
            two = synth(dt.elementType, f"{path}[1]", in_array=True)
            return F.when(
                F.pmod(F.xxhash64(seq, F.lit(s)), F.lit(2)) == 0, F.array(one, two)
            ).otherwise(F.array(one))
        if isinstance(dt, StringType):
            v = F.md5(F.concat_ws("#", seq.cast("string"), F.lit(path)))
            if in_array and null_element_fraction > 0:
                # NULL elements only INSIDE arrays (BQ REPEATED's problem case)
                return F.when(
                    F.pmod(F.xxhash64(seq, F.lit(s + 1)), F.lit(100))
                    < int(null_element_fraction * 100),
                    F.lit(None).cast("string"),
                ).otherwise(v)
            return v
        if isinstance(dt, LongType):
            return F.pmod(F.xxhash64(seq, F.lit(s)), F.lit(100_000))
        if isinstance(dt, DoubleType):
            return (F.pmod(F.xxhash64(seq, F.lit(s)), F.lit(1_000_000)) / 100.0)
        if isinstance(dt, DecimalType):
            return F.pmod(F.xxhash64(seq, F.lit(s)), F.lit(100_000)).cast(dt)
        if isinstance(dt, BooleanType):
            return F.pmod(F.xxhash64(seq, F.lit(s)), F.lit(2)) == 0
        if isinstance(dt, TimestampType):
            return F.timestamp_seconds(F.lit(base_ts) + seq * F.lit(ts_step))
        if isinstance(dt, TimestampNTZType):
            return F.timestamp_seconds(F.lit(base_ts) + seq * F.lit(ts_step)).cast(dt)
        if isinstance(dt, DateType):
            return F.date_add(F.lit("2020-07-30"), F.pmod(seq, F.lit(365)).cast("int"))
        if isinstance(dt, BinaryType):
            return F.to_binary(
                F.md5(F.concat_ws("#", seq.cast("string"), F.lit(path))), F.lit("hex")
            )
        raise ValueError(f"no synthesizer for {dt.simpleString()} at {path}")

    op_draw = F.pmod(F.xxhash64(seq, F.lit(109)), F.lit(100))
    cols = [
        F.col("offset"),
        seq,
        F.when(op_draw < 10, F.lit("delete"))
        .when(op_draw < 60, F.lit("update"))
        .otherwise(F.lit("insert"))
        .alias("op"),
    ]
    for f in log_schema.fields[3:]:  # skip offset/seq/op bookkeeping
        if f.name == "_id":
            kidx = F.pmod(F.xxhash64(seq, F.lit(113)), F.lit(num_keys))
            expr = F.md5(F.concat_ws("|", F.lit(table), kidx.cast("string")))
        elif (table, f.name) in _FIELD_DOMAINS:
            vals = _FIELD_DOMAINS[(table, f.name)]
            expr = F.element_at(
                F.array(*[F.lit(v) for v in vals]),
                (
                    F.pmod(F.xxhash64(seq, F.lit(salt(f.name))), F.lit(len(vals))) + 1
                ).cast("int"),
            )
        elif (table, f.name) in _NUMERIC_STRING_FIELDS:
            expr = (
                F.pmod(F.xxhash64(seq, F.lit(salt(f.name))), F.lit(1_000_000))
                * F.lit(10**12)
            ).cast("string")
        else:
            expr = synth(f.dataType, f.name)
        cols.append(expr.cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_offset_range(log: DataFrame, lo: int, hi: int) -> DataFrame:
    """Half-open arrival-range scan [lo, hi) — the A1 range-scan source.

    Catalyst pushes the predicate into the parquet scan (PushedFilters), the
    analog of the reference building the ES range query into the scan request
    (indexer.py:61-70).
    """
    return log.where((F.col("offset") >= lo) & (F.col("offset") < hi))


def write_log_parquet(log: DataFrame, path: str, files: int | None = None) -> None:
    """Materialize the log ordered by arrival, for file-source streaming tests."""
    out = log.repartitionByRange(files, "offset") if files else log
    out.write.mode("overwrite").parquet(path)


def write_log_bucketed(
    log: DataFrame,
    path: str,
    num_buckets: int,
    table_name: str = "mxetl_log",
    key_columns: tuple[str, ...] = ("repo", "path"),
    compact_files: bool = False,
    sort_by_key: bool = True,
) -> str:
    """Materialize the log as a Spark catalog BUCKETED table (external at
    ``path``): ``bucketBy(B, key)`` files named with Spark's ``_NNNNN``
    bucket suffix. Scans of this table report ``HashPartitioning(key, B)``,
    which is what lets the MERGE derive its zero-exchange join fold
    (``fold_for_spec``) into a ``layout='spark'`` LakeTable of the same B.
    No shuffle at write time either — each writer task emits its own
    per-bucket files (standard Spark bucketing). Returns the table name.

    At 100 TB the analog is the upstream CDC topic/landing zone being
    bucket-partitioned by key — standard Debezium/Kafka practice — so the
    lake merge never has to re-shuffle the firehose it tails.

    Default is Spark's shuffle-free bucketed write: each writer task emits
    its own per-bucket files, so file count scales with tasks × buckets —
    right for batch scans (the catalog groups them per bucket regardless).
    ``compact_files=True`` key-repartitions first (ONE shuffle at write
    time) so exactly one file lands per bucket — the shape a per-window
    Kafka landing zone produces, and the right input for the STREAMING
    join fold, whose micro-batches are file-granular."""
    import json
    import os

    spark = log.sparkSession
    if compact_files:
        log = log.repartition(num_buckets, *[F.col(k) for k in key_columns])
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # sort_by_key: key-sorted runs inside each bucket file. Wins twice at
    # scale: parquet dict/RLE pages on the sorted key columns shrink the
    # at-rest log, and row-group key min/max stats become selective for
    # key-scoped readers. Toggleable for the bytes-per-event A/B
    # (scaling.py --log-variants; measured Δ in BENCH/BASELINE.md r05).
    writer = log.write.bucketBy(num_buckets, *key_columns)
    if sort_by_key:
        writer = writer.sortBy(*key_columns)
    (
        writer.option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )
    # sidecar bucket spec: registration in ANOTHER session validates against
    # this — a mismatched declared B is SILENT data loss (Spark's bucketed
    # scan builds exactly B file groups and drops files with higher bucket
    # ids) or silently wrong joins (files grouped under the wrong modulus),
    # never an error
    with open(os.path.join(path, "_bucket_spec.json"), "w") as fh:
        json.dump({"num_buckets": num_buckets, "key_columns": list(key_columns)}, fh)
    return table_name


def read_bucket_spec(path: str) -> dict | None:
    """Read a log directory's ``_bucket_spec.json`` sidecar (written by
    write_log_bucketed; a foreign landing zone drops its own). Returns the
    spec dict, or None when the directory is a plain (non-bucketed) log —
    the signal the log-directory surfaces hand ``fold_for_spec``. A
    present-but-unreadable sidecar raises: that is a corrupt declaration,
    not a plain log."""
    import json
    import os

    spec_path = os.path.join(path, "_bucket_spec.json")
    if not os.path.exists(spec_path):
        return None
    with open(spec_path) as fh:
        spec = json.load(fh)
    if not isinstance(spec, dict):
        raise ValueError(f"{spec_path} must hold a JSON object, got {spec!r}")
    return spec


def bucket_id_from_name(file_name: str) -> int | None:
    """Parse the Spark bucket id out of a bucketed data file's NAME
    (``part-...-<uuid>_00003.c000.snappy.parquet`` → 3) — the same
    convention Spark's own BucketingUtils applies when a catalog bucketed
    table groups its files. Returns None for a non-bucketed name, the
    signal to merge the batch unstaged rather than stage it."""
    import re

    m = re.match(r".*_(\d+)(?:\..*)?$", file_name)
    return int(m.group(1)) if m else None


def create_bucketed_external_table(
    spark: SparkSession,
    name: str,
    fields,
    key_columns,
    num_buckets: int,
    location: str,
) -> DataFrame:
    """The ONE ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` incantation
    every bucketed-staging path shares (registered log, per-batch staged
    files, staged merge target) — a DDL fix must land once, not thrice.
    Drops any same-named leftover first; returns the table's DataFrame."""
    cols_ddl = ", ".join(
        f"`{fld.name}` {fld.dataType.simpleString()}" for fld in fields
    )
    key_ddl = ", ".join(f"`{k}`" for k in key_columns)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({key_ddl}) INTO {num_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )
    return spark.table(name)


@contextlib.contextmanager
def staged_bucketed_files(
    spark: SparkSession,
    files: list[str],
    num_buckets: int,
    key_columns,
    schema,
    stage_root: str,
):
    """Register an EXPLICIT list of bucketed parquet files (e.g. one
    streaming micro-batch, via ``batch_df.inputFiles()``) as a TEMPORARY
    Spark catalog bucketed table and yield its DataFrame — the change-side
    twin of ``LakeTable.staged_bucketed_target``. A hardlink farm
    (O(files) metadata ops, no bytes copied; symlink fallback across
    devices) re-homes the files under one location whose scan reports
    ``HashPartitioning(key, B)``, which is what lets a streaming MERGE run
    the zero-exchange join fold per micro-batch.

    Every file name must carry a parseable Spark bucket id < B (the
    ``_NNNNN`` suffix ``write_log_bucketed`` produces) — callers check
    with ``bucket_id_from_name`` and merge the batch unstaged instead
    of calling this when any file doesn't."""
    import os
    import shutil
    import uuid

    name = f"mxetl_batch_{uuid.uuid4().hex[:12]}"
    stage = os.path.join(stage_root, name)
    os.makedirs(stage)
    try:
        for i, f in enumerate(files):
            if f.startswith("file:"):
                from urllib.parse import urlparse

                src = urlparse(f).path
            else:
                src = f
            b = bucket_id_from_name(os.path.basename(src))
            if b is None or b >= num_buckets:
                raise ValueError(
                    f"{src} has no bucket id < {num_buckets} in its name"
                )
            dst = os.path.join(stage, f"b{i:05d}_{b:05d}.parquet")
            try:
                os.link(src, dst)
            except OSError:
                os.symlink(os.path.abspath(src), dst)
        yield create_bucketed_external_table(
            spark, name, schema.fields, key_columns, num_buckets, stage
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(stage, ignore_errors=True)


def _spec_mismatch(spec: dict, num_buckets: int, key_columns) -> list[str]:
    """The one comparison between a bucket spec and a requested bucket
    layout (shared by loud registration and ``fold_for_spec``).
    Returns human-readable mismatch descriptions, empty on a match."""
    problems = []
    if spec.get("num_buckets") != num_buckets:
        problems.append(
            f"log bucketed into {spec.get('num_buckets')} buckets, "
            f"table has {num_buckets}"
        )
    if spec.get("key_columns") != list(key_columns):
        problems.append(
            f"log bucketed by {spec.get('key_columns')}, "
            f"table key is {list(key_columns)}"
        )
    return problems


def fold_for_spec(
    spec: dict | None,
    *,
    layout: str,
    num_buckets: int,
    key_columns,
) -> tuple[str, str | None]:
    """THE fold rule: which physical MERGE fold a change side with bucket
    ``spec`` (``{"num_buckets": B, "key_columns": [...]}``, or None for a
    change side that is not a bucketed scan) gets against a table of
    ``(layout, num_buckets, key_columns)``. Nobody chooses the fold; every
    surface derives it here.

    - ``'join'``, the zero-exchange fold, exactly when the change side is
      bucketed by the table's key into the table's bucket count AND the
      table uses ``layout='spark'`` (pid == Spark bucket id): then both
      fold inputs already report ``HashPartitioning(key, B)`` and Catalyst
      plans no exchange (operators/merge.py).
    - ``'union'``, the one-shuffle fold, otherwise. It handles every
      input, which is why ``merge_batch`` also takes it for a batch that
      carries patches or NULL keys, or a table with patch debt.

    ``spec`` comes from a log directory's ``_bucket_spec.json`` sidecar
    (surfaces that open a log directory) or from the change DataFrame's
    own plan (``scan_bucket_spec``, what ``merge_batch`` checks). Returns
    ``(fold, reason)``; ``reason`` says why the fold is union, and is None
    when it is join."""
    if spec is None:
        return "union", "change side is not a bucketed scan"
    problems = []
    if layout != "spark":
        problems.append(f"table layout={layout!r} (join fold needs 'spark')")
    problems.extend(_spec_mismatch(spec, num_buckets, key_columns))
    if problems:
        return "union", "; ".join(problems)
    return "join", None


def scan_bucket_spec(df: DataFrame) -> dict | None:
    """The bucket spec a DataFrame is scanned with, read from its analyzed
    plan: every leaf must be a catalog-bucketed file relation and all must
    agree, and ``spark.sql.sources.bucketing.enabled`` must be on (with it
    off, bucketed scans report no partitioning). None otherwise. A plan
    walk on the driver, about a millisecond, no job."""
    spark = df.sparkSession
    if spark.conf.get("spark.sql.sources.bucketing.enabled", "true") != "true":
        return None
    specs = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        bs = rel.bucketSpec()
        if not bs.isDefined():
            return None
        cols = bs.get().bucketColumnNames()
        specs.append({
            "num_buckets": bs.get().numBuckets(),
            "key_columns": [cols.apply(i) for i in range(cols.size())],
        })
    if not specs or any(s != specs[0] for s in specs):
        return None
    return specs[0]


def log_dir_spec(path: str, log_format: str = "parquet") -> dict | None:
    """A log directory's bucket spec: its sidecar for a parquet log, None
    for every other format (bucket alignment is provable only for the
    parquet bucketed-log writer)."""
    return read_bucket_spec(path) if log_format == "parquet" else None


def new_table_layout(
    path: str, *, num_buckets: int, key_columns, log_format: str = "parquet"
) -> str:
    """Layout for a NEW table fed from the log directory at ``path``:
    ``'spark'`` exactly when the log's sidecar matches ``(num_buckets,
    key_columns)`` — so the join fold applies from the first epoch —
    ``'xxhash'`` otherwise (its many-to-one bucket→pid map writes fewer
    files; streaming/ingest.py ``ensure_table``)."""
    fold, _ = fold_for_spec(
        log_dir_spec(path, log_format), layout="spark",
        num_buckets=num_buckets, key_columns=key_columns,
    )
    return "spark" if fold == "join" else "xxhash"


def log_dir_fold(
    path: str, m, log_format: str = "parquet", label: str = ""
) -> tuple[dict | None, str]:
    """``(spec, fold)`` for the log directory at ``path`` feeding the table
    snapshot ``m``. A bucketed log the table cannot exploit prints a note:
    the operator paid for a bucketed log and gets the shuffled merge. A
    plain log takes the union fold silently."""
    spec = log_dir_spec(path, log_format)
    fold, reason = fold_for_spec(
        spec, layout=m.layout, num_buckets=m.num_buckets,
        key_columns=m.key_columns,
    )
    if spec is not None and fold == "union":
        import sys

        print(f"note: {label}bucketed log but union fold: {reason}", file=sys.stderr)
    return spec, fold


def open_log_for_table(
    spark: SparkSession,
    path: str,
    m,
    log_format: str = "parquet",
    schema=None,
    table_name: str = "mxetl_log",
    label: str = "",
) -> DataFrame:
    """Open the log directory at ``path`` as the change side for the table
    snapshot ``m``: registered as a catalog bucketed table when its sidecar
    matches the table (the merge then derives the join fold from the scan),
    ``read_log`` otherwise."""
    _, fold = log_dir_fold(path, m, log_format, label)
    if fold == "join":
        return register_log_bucketed(
            spark, path, m.num_buckets, table_name=table_name,
            key_columns=tuple(m.key_columns), schema=schema,
        )
    return read_log(spark, path, log_format, schema=schema)


def register_log_bucketed(
    spark: SparkSession,
    path: str,
    num_buckets: int,
    table_name: str = "mxetl_log",
    key_columns: tuple[str, ...] = ("repo", "path"),
    schema=None,
) -> DataFrame:
    """(Re-)register an existing bucketed log directory in THIS session's
    catalog (the in-memory catalog dies with the session; the files don't)
    and return its DataFrame. Schema defaults to CHANGE_EVENTS — declared,
    never inferred, the same stance as read_log_ndjson.

    The declared bucket spec is VALIDATED against the directory before
    registration: a wrong ``num_buckets`` is not an error in Spark — the
    bucketed scan builds exactly B file groups, silently DROPS files whose
    name carries a higher bucket id, and groups the rest under the wrong
    modulus — so this is a silent-data-loss/wrong-results class mistake
    that must fail loudly here instead. The ``_bucket_spec.json`` sidecar
    (written by write_log_bucketed) is REQUIRED and authoritative: filename
    bucket ids alone cannot catch an over-declared count or wrong key
    columns (files 0..7 'fit' under any B >= 8 while the rows were hashed
    modulo 8 — silently wrong joins). A foreign landing zone registers by
    dropping a one-line sidecar next to its files:
    ``{"num_buckets": B, "key_columns": [...]}``."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS

    spec = read_bucket_spec(path)
    if spec is None:
        raise ValueError(
            f"bucketed log at {path} has no _bucket_spec.json sidecar: "
            "cannot verify the files' true bucket layout (a mismatched "
            "declaration is silent data loss / wrong joins, never an "
            "error in Spark). Write the log with write_log_bucketed, or "
            'drop a sidecar: {"num_buckets": B, "key_columns": [...]}'
        )
    mismatch = _spec_mismatch(spec, num_buckets, key_columns)
    if mismatch:
        raise ValueError(
            f"bucketed log at {path} was written with "
            f"(num_buckets={spec.get('num_buckets')}, "
            f"key={spec.get('key_columns')}), registration requested "
            f"({num_buckets}, {list(key_columns)}): a mismatch makes the "
            "bucketed scan silently drop or misgroup files"
        )

    schema = schema if schema is not None else CHANGE_EVENTS
    return create_bucketed_external_table(
        spark, table_name, schema.fields, key_columns, num_buckets, path
    )


def write_log_ndjson(log: DataFrame, path: str, files: int | None = None) -> None:
    """NDJSON form of the log — the reference's wire format (its extract
    stage writes newline-delimited JSON staging files,
    /root/reference/multiversxetl/tasks_runner.py:61-72; BigQuery loads
    SourceFormat.NEWLINE_DELIMITED_JSON, bq_client.py:90). Parquet is the
    engine's preferred format; NDJSON exists for interop."""
    out = log.repartitionByRange(files, "offset") if files else log
    out.write.mode("overwrite").json(path)


def read_log_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Read an NDJSON change log with the declared schema (schemas are
    declared, never inferred — mirroring the reference's schema/*.json
    stance). Timestamps are ISO strings in JSON; cast back."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS

    return spark.read.schema(CHANGE_EVENTS).json(path)


#: CSV cannot natively distinguish NULL from the empty string, and patch
#: events RELY on that distinction (NULL payload column = keep, "" = set
#: empty). Both sides of the CSV round trip therefore use an explicit NULL
#: sentinel — the PostgreSQL COPY convention.
_CSV_NULL = "\\N"

#: The log source formats every log-consuming surface accepts. Parquet is
#: the engine's native format (and the only one the zero-exchange join
#: fold can prove bucket alignment for); ndjson is the reference's actual
#: wire format (tasks_runner.py:61-72 writes newline-delimited JSON
#: staging files); orc and csv are interop.
LOG_FORMATS = ("parquet", "ndjson", "orc", "csv")


def _csv_read_options(reader):
    return (
        reader.option("nullValue", _CSV_NULL)
        .option("emptyValue", "")
        .option("escape", '"')
        .option("multiLine", True)
        .option("header", False)
    )


def write_log_orc(log: DataFrame, path: str, files: int | None = None) -> None:
    """ORC form of the log (Spark-native columnar interop; typed, lossless)."""
    out = log.repartitionByRange(files, "offset") if files else log
    out.write.mode("overwrite").orc(path)


def write_log_csv(log: DataFrame, path: str, files: int | None = None) -> None:
    """CSV form of the log (interop with CSV-only producers). NULLs are
    written as the ``\\N`` sentinel so patch semantics survive the round
    trip; embedded quotes/commas/newlines are quoted-and-escaped and read
    back with ``multiLine``."""
    out = log.repartitionByRange(files, "offset") if files else log
    (
        out.write.mode("overwrite")
        .option("nullValue", _CSV_NULL)
        # empty strings write QUOTED ("") so the reader can tell them from
        # NULL (written as the \N sentinel) — an unquoted empty field is
        # ambiguous and univocity decodes it as null
        .option("emptyValue", '""')
        .option("escape", '"')
        .option("header", False)
        .csv(path)
    )


def write_log(
    log: DataFrame, path: str, files: int | None = None,
    log_format: str = "parquet",
) -> None:
    """Format-dispatching log writer (see ``LOG_FORMATS``)."""
    if log_format == "parquet":
        write_log_parquet(log, path, files)
    elif log_format == "ndjson":
        write_log_ndjson(log, path, files)
    elif log_format == "orc":
        write_log_orc(log, path, files)
    elif log_format == "csv":
        write_log_csv(log, path, files)
    else:
        raise ValueError(
            f"unknown log format {log_format!r} (expected one of {LOG_FORMATS})"
        )


def load_log(reader, path: str, log_format: str = "parquet"):
    """The log at ``path`` through ``reader``: a ``DataFrameReader`` for a
    batch read or a ``DataStreamReader`` for a stream, already carrying
    the declared schema. The one per-format reader choice (see
    ``LOG_FORMATS``)."""
    if log_format == "parquet":
        return reader.parquet(path)
    if log_format == "ndjson":
        return reader.json(path)
    if log_format == "orc":
        return reader.orc(path)
    if log_format == "csv":
        return _csv_read_options(reader).csv(path)
    raise ValueError(
        f"unknown log format {log_format!r} (expected one of {LOG_FORMATS})"
    )


def read_log(
    spark: SparkSession, path: str, log_format: str = "parquet", schema=None
) -> DataFrame:
    """Format-dispatching log reader with the DECLARED schema — schemas are
    never inferred from data files, the same stance on every format."""
    from multiversx_etl_spark.schemas import CHANGE_EVENTS

    return load_log(spark.read.schema(schema or CHANGE_EVENTS), path, log_format)
