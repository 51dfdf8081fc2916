"""Per-key max-commit-sequence deduplication (operator A14 in SURVEY.md §2).

The reference never dedups in place — a counts mismatch aborts the flow and a
restart rewinds to the checkpoint (/root/reference/multiversxetl/checks.py:
87-93, README.md:68-76). The positive-form Spark equivalent required by the
north rule keeps, per upsert key, only the event with the highest commit
sequence.

Two implementations:

- ``dedup_latest`` (default, the fast path): ``groupBy(key).agg(max(struct
  (seq, ...)))``. A hash aggregate gets **map-side partial aggregation** for
  free — each input partition reduces every key it holds to one row before
  the shuffle, so a hot key (monorepo skew) ships at most one row per input
  partition across the wire. No sort, no window. At 100 TB this is the plan
  you want: Exchange sees |distinct keys| rows, not |events|.

- ``dedup_latest_window`` (the north-star-literal shape): ``row_number() OVER
  (PARTITION BY key ORDER BY seq DESC) = 1``, with optional **salted
  two-phase** execution: phase 1 partitions by (key, salt) and reduces each
  salted group to its max-seq row; phase 2 re-windows over the reduced rows.
  Without salting, one hot key lands on one task; with S salts its work
  splits S ways. Kept for parity with queries/transactions.sql:25-35 (the
  reference's published top-1-per-group shape) and as the building block for
  general top-k.

Ties: within one batch a duplicate delivery carries the *same* seq and the
same payload, so either row is a correct winner; the struct comparison breaks
the tie deterministically on the remaining fields.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def dedup_latest(
    df: DataFrame,
    key_columns: list[str],
    order_column: str = "seq",
) -> DataFrame:
    """Keep the max-``order_column`` row per key via partial-agg struct max."""
    value_cols = [c for c in df.columns if c not in key_columns]
    ordered = [order_column] + [c for c in value_cols if c != order_column]
    winner = F.max(F.struct(*ordered)).alias("_w")
    out = df.groupBy(*key_columns).agg(winner)
    return out.select(*key_columns, *[F.col(f"_w.{c}").alias(c) for c in ordered])


def dedup_latest_window(
    df: DataFrame,
    key_columns: list[str],
    order_column: str = "seq",
    salt_buckets: int | None = None,
    salt_source: str = "offset",
) -> DataFrame:
    """row_number()-based variant with optional two-phase skew salting.

    ``salt_source`` must be a column that differs across duplicates of a hot
    key (the log arrival offset qualifies); the salt is a deterministic hash
    of it, so the result is reproducible.
    """
    desc = F.col(order_column).desc()
    tail = [F.col(c).desc() for c in df.columns if c not in key_columns and c != order_column]
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*key_columns, "_salt").orderBy(desc, *tail)
        df = (
            df.withColumn("_salt", salt)
            .withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") == 1)
            .drop("_salt", "_rn")
        )
    w2 = Window.partitionBy(*key_columns).orderBy(desc, *tail)
    return df.withColumn("_rn", F.row_number().over(w2)).where(F.col("_rn") == 1).drop("_rn")


def top_k_per_group(
    df: DataFrame,
    group_columns: list[str],
    order_column: str,
    k: int,
    ascending: bool = False,
) -> DataFrame:
    """General ranked top-k per group (operator B7 — the reference's
    queries/interactions.sql:57-63 'top 3 contracts per day' shape).
    Adds a ``rank`` column (1-based)."""
    order = F.col(order_column).asc() if ascending else F.col(order_column).desc()
    w = Window.partitionBy(*group_columns).orderBy(order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

