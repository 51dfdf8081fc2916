"""Per-record normalization — the analog of the reference's transformers.

The reference registers per-index dict→dict Python transformers
(/root/reference/multiversxetl/transformers.py:6-77): drop volatile ``api_*``
/ ``nft_*`` columns (AccountsTransformer/TokensTransformer :31-64), drop a
nested ``reserved`` subfield (BlocksTransformer :42-52), and scrub NULL
elements out of REPEATED arrays (EventsTransformer :67-77).

Here the whole surface is JVM-side column expressions (A6–A9 in SURVEY.md §2
all can be) — whole-stage-codegen friendly, zero Python in the hot path —
plus ONE Arrow-vectorized ``pandas_udf`` for content canonicalization, which
genuinely needs string processing beyond builtin expressions and which
BASELINE.json:input_hint requires to be vectorized (no per-row Python).

A registry maps table name → normalization function, mirroring
``TransformersRegistry.get_transformer`` (transformers.py:6-17).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructType

from multiversx_etl_spark.lake.table import quote_ident


def drop_volatile_columns(df: DataFrame, prefixes: tuple[str, ...] = ("api_", "nft_")) -> DataFrame:
    """Drop columns whose name starts with a volatile prefix
    (AccountsTransformer/TokensTransformer analog, transformers.py:31-64)."""
    doomed = [c for c in df.columns if c.startswith(prefixes)]
    return df.drop(*doomed) if doomed else df


def scrub_null_array_elements(df: DataFrame, columns: list[str], fill: str = "") -> DataFrame:
    """Replace NULL elements of string arrays with ``fill``
    (EventsTransformer analog, transformers.py:67-77 — BQ REPEATED fields
    reject NULL). Higher-order ``transform`` — no UDF."""
    for c in columns:
        df = df.withColumn(c, F.transform(F.col(c), lambda x: F.coalesce(x, F.lit(fill))))
    return df


def drop_nested_struct_field(df: DataFrame, array_column: str, field_name: str) -> DataFrame:
    """Remove ``field_name`` from every struct in an array<struct> column
    (BlocksTransformer analog for epochStartShardsData[].reserved,
    transformers.py:42-52). Rebuilds the struct via ``transform`` —
    Catalyst keeps this whole-stage-codegen'd."""
    schema = df.schema[array_column].dataType
    assert isinstance(schema, ArrayType) and isinstance(schema.elementType, StructType)
    kept = [f.name for f in schema.elementType.fields if f.name != field_name]
    return df.withColumn(
        array_column,
        F.transform(
            F.col(array_column),
            # NULL elements stay NULL: a bare F.struct(nulls...) would turn
            # them into non-null structs-of-nulls — mutation beyond the drop
            lambda s: F.when(
                s.isNotNull(), F.struct(*[s[k].alias(k) for k in kept])
            ),
        ),
    )


@F.pandas_udf(StringType())
def canonicalize_content(content: pd.Series) -> pd.Series:
    """Arrow-vectorized content canonicalization (the vectorized Python
    boundary the input_hint calls for): normalize CRLF/CR line endings to LF
    and strip trailing whitespace per line. Operates on whole Arrow batches
    via pandas string kernels — never row-at-a-time Python.

    The replay hot path uses ``canonicalize_content_expr`` instead (same
    semantics, asserted equal in tests): a JVM expression stays inside
    whole-stage codegen and ships zero content bytes across the Arrow
    boundary, which matters when content dominates batch bytes. This UDF
    remains the template for normalizations that genuinely need Python
    (real tokenizers, encoding fixes) — swap it into REGISTRY then."""
    s = content.str.replace("\r\n", "\n", regex=False).str.replace("\r", "\n", regex=False)
    return s.str.replace(r"[ \t]+(?=\n|\Z)", "", regex=True)


def canonicalize_content_expr(name: str = "content") -> "F.Column":
    """JVM-side canonicalization of column ``name``, byte-equal to
    ``canonicalize_content`` (Java ``$`` in (?=\\n|$) ≡ Python ``\\Z`` here
    since ``\\n`` is the alternative): whole-stage-codegen, no Arrow round
    trip, one SQL expression (one JVM call)."""
    return F.expr(
        rf"regexp_replace(regexp_replace({quote_ident(name)}, '\r\n|\r', '\n'),"
        r" '[ \t]+(?=\n|$)', '')"
    )


def normalize_change_events(df: DataFrame) -> DataFrame:
    """The change-log normalization applied before dedup/MERGE: drop volatile
    columns, canonicalize content. Null-array scrubbing and nested-field
    drops apply only when such columns exist (schema-evolution tolerant)."""
    df = drop_volatile_columns(df)
    array_str_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, ArrayType) and isinstance(f.dataType.elementType, StringType)
    ]
    if array_str_cols:
        df = scrub_null_array_elements(df, array_str_cols)
    if "content" in df.columns:
        df = df.withColumn("content", canonicalize_content_expr())
    return df


def normalize_commit_events(df: DataFrame) -> DataFrame:
    """Normalization for the second declared table (``commits`` — nested
    array<struct> payload): drop volatile ``api_*`` columns (A7), strip the
    ``reserved`` subfield out of every ``shards`` struct (A8 — the
    BlocksTransformer's epochStartShardsData[].reserved drop,
    transformers.py:42-52), and scrub NULL elements from the ``tags``
    string array (A9 — EventsTransformer, transformers.py:67-77). All
    JVM-side column expressions."""
    df = drop_volatile_columns(df)
    if "shards" in df.columns:
        df = drop_nested_struct_field(df, "shards", "reserved")
    if "tags" in df.columns:
        df = scrub_null_array_elements(df, ["tags"])
    return df


def drop_nested_field_path(df: DataFrame, column: str, path: list[str]) -> DataFrame:
    """Remove the field at ``path`` under ``column``, descending through
    struct AND array<struct> levels with higher-order ``transform`` — the
    arbitrary-depth generalization of drop_nested_struct_field (the
    BlocksTransformer drops epochStartShardsData[].pendingMiniBlockHeaders
    [].reserved, TWO repeated levels deep, transformers.py:42-52). Stays
    whole-stage-codegen'd; no UDF."""
    from pyspark.sql.types import DataType

    def rebuild(expr, dt: DataType, path: list[str]):
        if isinstance(dt, ArrayType):
            elem = dt.elementType
            return F.transform(expr, lambda x: rebuild(x, elem, path))
        assert isinstance(dt, StructType), dt
        head, *rest = path
        parts = []
        for f in dt.fields:
            if f.name == head and not rest:
                continue  # the doomed field
            if f.name == head:
                parts.append(rebuild(expr[f.name], f.dataType, rest).alias(f.name))
            else:
                parts.append(expr[f.name].alias(f.name))
        # NULL structs/elements stay NULL: a bare F.struct(nulls...) would
        # rebuild them as non-null structs-of-nulls — data mutation beyond
        # the intended field drop
        return F.when(expr.isNotNull(), F.struct(*parts))

    return df.withColumn(
        column, rebuild(F.col(column), df.schema[column].dataType, path)
    )


def normalize_block_events(df: DataFrame) -> DataFrame:
    """Normalization for the BQ-JSON-declared ``blocks`` table — the full
    BlocksTransformer analog (transformers.py:42-52): drop the top-level
    ``pubKeyBitmap`` and ``reserved`` columns, and strip ``reserved`` out of
    every epochStartShardsData[].pendingMiniBlockHeaders[] struct (2-deep
    REPEATED nesting). Pure column expressions."""
    df = df.drop("pubKeyBitmap", "reserved")
    if "epochStartShardsData" in df.columns:
        df = drop_nested_field_path(
            df, "epochStartShardsData", ["pendingMiniBlockHeaders", "reserved"]
        )
    return df


def normalizer_from_spec(spec) -> Callable[[DataFrame], DataFrame]:
    """Build the runtime normalizer from a declarative ``catalog.
    TransformSpec`` — the SAME spec the catalog derives the target schema
    from, so transformer and declared lake schema cannot drift. All pure
    JVM column expressions (prefix drops, exact drops, nested HOF drops,
    NULL-array scrubs); schema-evolution tolerant (absent columns skip)."""

    def fn(df: DataFrame) -> DataFrame:
        if spec.drop_prefixes:
            df = drop_volatile_columns(df, spec.drop_prefixes)
        doomed = [c for c in spec.drop_fields if c in df.columns]
        if doomed:
            df = df.drop(*doomed)
        for path in spec.nested_drops:
            if path[0] in df.columns:
                df = drop_nested_field_path(df, path[0], list(path[1:]))
        if spec.scrub_null_arrays:
            arr = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, ArrayType)
                and isinstance(f.dataType.elementType, StringType)
            ]
            if arr:
                df = scrub_null_array_elements(df, arr)
        return df

    return fn


#: table name → normalization fn (TransformersRegistry analog,
#: transformers.py:6-17: per-index dispatch by name).
REGISTRY: dict[str, Callable[[DataFrame], DataFrame]] = {
    "change_events": normalize_change_events,
    "commit_events": normalize_commit_events,
    "block_events": normalize_block_events,
}

# Every catalog table dispatches by its own name (the reference's
# get_transformer(index_name), transformers.py:16-17): the four declared
# specs get their spec-built normalizer, the rest the identity spec —
# exactly the trivial_transformer fallback.
from multiversx_etl_spark.catalog import (  # noqa: E402  (registry wiring)
    DEFAULT_SPEC as _DEFAULT_SPEC,
    SPECS as _SPECS,
    catalog_table_names as _catalog_table_names,
)

for _name in _catalog_table_names():
    REGISTRY.setdefault(
        _name, normalizer_from_spec(_SPECS.get(_name, _DEFAULT_SPEC))
    )


def get_normalizer(table: str) -> Callable[[DataFrame], DataFrame]:
    return REGISTRY.get(table, lambda df: df)
