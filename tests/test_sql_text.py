"""The MERGE's per-epoch expressions are built as SQL text: one JVM call per
step instead of one per Column node. Two things guard that: a budget on
the py4j round trips a warm stream-shaped epoch makes from the driver, and
equivalence of the SQL-text builders with the Column forms they replaced,
on names that need quoting (a space, a literal backtick) and NULL key
parts — identifier quoting is the one failure mode string building adds."""

from __future__ import annotations

import threading

import py4j.clientserver
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from multiversx_etl_spark.lake.table import bucket_expr
from multiversx_etl_spark.operators.merge import _row_bytes, merge_batch, profile_batch
from multiversx_etl_spark.sources.changelog import generate_change_log
from multiversx_etl_spark.streaming.ingest import ensure_table


def test_session_turns_off_dataframe_debugging(spark):
    # on, every Column method and F.* call makes ~5 extra JVM round trips
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


class _RoundTrips:
    """Counts py4j commands sent from the calling thread."""

    def __init__(self, monkeypatch):
        self.n = 0
        thread = threading.get_ident()
        send = py4j.clientserver.ClientServerConnection.send_command

        def counting(conn, command):
            if threading.get_ident() == thread:
                self.n += 1
            return send(conn, command)

        monkeypatch.setattr(
            py4j.clientserver.ClientServerConnection, "send_command", counting
        )

    def take(self) -> int:
        n, self.n = self.n, 0
        return n


def test_warm_epoch_py4j_round_trip_budget(spark, tmp_path, monkeypatch):
    """A warm 1,000-event epoch with 30% patches into a 16-bucket xxhash
    table: profile + MERGE (plan build, driver write, commit) stay within
    400 round trips (about 3,500 with per-Column call-site capture and
    Column-tree expressions)."""
    generate_change_log(spark, 2000, patch_fraction=0.3).write.parquet(
        str(tmp_path / "log")
    )
    log = spark.read.parquet(str(tmp_path / "log"))
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=16)
    trips = _RoundTrips(monkeypatch)
    for epoch in range(2):  # epoch 0 warms the JVM-side classes up
        batch = log.where(f"offset >= {epoch * 1000} AND offset < {(epoch + 1) * 1000}")
        trips.take()
        profile = profile_batch(batch, table.snapshot())
        profiled = trips.take()
        stats = merge_batch(
            table, batch, "s", epoch, profile.offset_lo, profile.offset_hi,
            profile=profile,
        )
        merged = trips.take()
    assert profile.patch_rows > 0 and stats.rows_patched > 0
    assert stats.write == "driver"
    assert profiled <= 100, profiled
    assert profiled + merged <= 400, (profiled, merged)


@pytest.mark.parametrize("layout", ["xxhash", "spark"])
def test_bucket_sql_matches_column_form(spark, layout):
    """Quoted key names and NULL key parts hash to the bucket the Column
    form gives (the hash sees values and types, never names)."""
    keys = ["repo name", "pa`th", "n"]
    rows = [
        (0, "r", "p", 1), (1, None, "p", 2), (2, "r", None, None),
        (3, None, None, None), (4, "a b", "c`d", 7),
    ]
    df = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("id", T.IntegerType()),
            T.StructField(keys[0], T.StringType()),
            T.StructField(keys[1], T.StringType()),
            T.StructField(keys[2], T.LongType()),
        ])
    )
    got = dict(df.select("id", bucket_expr(keys, 16, layout).alias("b")).collect())
    plain = df.toDF("id", "k0", "k1", "k2")
    fn = F.hash if layout == "spark" else F.xxhash64
    want = dict(
        plain.select(
            "id", F.pmod(fn("k0", "k1", "k2"), F.lit(16)).cast("int").alias("b")
        ).collect()
    )
    assert got == want


def test_row_bytes_total_is_exact_on_a_quoted_name(spark):
    schema = T.StructType([
        T.StructField("file name", T.StringType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("n", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ])
    rows = [("a b", b"\x00\x01", 1, True), (None, None, None, None), ("żółw", b"", 3, False)]
    df = spark.createDataFrame(rows, schema)
    total = df.selectExpr(f"sum({_row_bytes(schema)}) AS b").collect()[0]["b"]
    fixed = 8 + 1
    want = sum(
        fixed + len((s or "").encode()) + len(b or b"") for s, b, _, _ in rows
    )
    assert total == want


def test_merge_folds_payload_names_that_need_quoting(spark, tmp_path):
    """The union fold's SQL text (aligned sides, aggregate, patch list,
    classification, inline) on a payload column whose name has a space."""
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("the body", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4, schema=schema)
    log = "offset long, seq long, op string, repo string, path string, " \
          "`the body` string, lang string"
    epochs = [
        [(0, 1, "insert", "r", "a", "x", "py"), (1, 1, "insert", "r", "b", "y", "go")],
        [(2, 5, "patch", "r", "a", "x2", None), (3, 6, "update", "r", "b", "y2", "rs"),
         (4, 2, "insert", "r", "c", "z", None)],
    ]
    for epoch, rows in enumerate(epochs):
        merge_batch(table, spark.createDataFrame(rows, log), "s", epoch)
    got = {
        (r["path"], r["the body"], r["lang"], r["seq"])
        for r in table.read().collect()
    }
    assert got == {("a", "x2", "py", 5), ("b", "y2", "rs", 6), ("c", "z", None, 2)}
