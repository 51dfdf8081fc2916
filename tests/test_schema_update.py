"""Out-of-band schema pushes + the durable clustering spec.

The reference maintains serving tables with two out-of-band ``bq update``
flows: pushing an edited schema file onto the live table
(maintenance/schemas.md:13-28, with ``--description``) and declaring a new
clustering spec that future writes honor (maintenance/clustering.md:5-21,
followed by a full re-clustering rewrite). These tests cover the engine's
analogs: ``LakeTable.update_schema`` (metadata-only widening commit — added
fields, top-level AND nested, read as NULL from existing files immediately)
and ``LakeTable.set_clustering`` (persisted sort/slice spec that flagless
``compact``/``maintain`` apply), plus their CLI surfaces.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from multiversx_etl_spark.lake.table import LakeTable
from multiversx_etl_spark.schemas import CHANGE_EVENTS, REPOS
from multiversx_etl_spark.sources.bq_schema import (
    merge_widening,
    schema_added_paths,
)
from multiversx_etl_spark.sources.changelog import (
    generate_change_log,
    write_log_parquet,
)
from multiversx_etl_spark.streaming.ingest import ensure_table, replay


# ---------------------------------------------------------------- pure rules


def _st(*fields):
    return StructType(list(fields))


def test_merge_widening_adds_appends_and_deep_nullables():
    old = _st(
        StructField("k", StringType(), False),
        StructField("s", _st(StructField("a", LongType(), True)), True),
    )
    new = _st(
        StructField("extra", _st(StructField("x", LongType(), False)), False),
        StructField("k", StringType(), False),
        StructField(
            "s",
            _st(StructField("b", StringType(), False), StructField("a", LongType(), True)),
            True,
        ),
    )
    merged = merge_widening(old, new)
    # old fields keep OLD order; new fields append, deep-nullable
    assert merged.fieldNames() == ["k", "s", "extra"]
    assert merged["s"].dataType.fieldNames() == ["a", "b"]
    assert merged["s"].dataType["b"].nullable  # added fields always nullable
    assert merged["extra"].nullable and merged["extra"].dataType["x"].nullable
    assert not merged["k"].nullable  # REQUIRED stays required when unchanged
    assert schema_added_paths(old, merged) == ["s.b", "extra"]


def test_merge_widening_relaxes_required_monotonically():
    old = _st(StructField("k", StringType(), False))
    relaxed = merge_widening(old, _st(StructField("k", StringType(), True)))
    assert relaxed["k"].nullable
    # and never re-tightens: old nullable + new REQUIRED stays nullable
    back = merge_widening(relaxed, _st(StructField("k", StringType(), False)))
    assert back["k"].nullable


def test_merge_widening_rejections_name_the_path():
    old = _st(
        StructField("k", StringType(), True),
        StructField(
            "arr",
            ArrayType(_st(StructField("x", LongType(), True)), True),
            True,
        ),
        StructField("m", MapType(StringType(), LongType(), True), True),
    )
    with pytest.raises(ValueError, match="drops 'k'"):
        merge_widening(old, _st(StructField("arr", old["arr"].dataType, True),
                                StructField("m", old["m"].dataType, True)))
    with pytest.raises(ValueError, match="'k'.*string -> bigint"):
        merge_widening(
            old,
            _st(StructField("k", LongType(), True), old["arr"], old["m"]),
        )
    with pytest.raises(ValueError, match=r"'arr\[\]\.x'"):
        bad_arr = ArrayType(_st(StructField("x", DoubleType(), True)), True)
        merge_widening(
            old, _st(old["k"], StructField("arr", bad_arr, True), old["m"])
        )
    with pytest.raises(ValueError, match="map key type at 'm'"):
        merge_widening(
            old,
            _st(old["k"], old["arr"],
                StructField("m", MapType(LongType(), LongType(), True), True)),
        )
    with pytest.raises(ValueError, match="changes the type at 'arr'"):
        merge_widening(
            old, _st(old["k"], StructField("arr", StringType(), True), old["m"])
        )


# ------------------------------------------------------------ engine surface


def _build_repos_table(spark, tmp_path, n=400):
    log_path = str(tmp_path / "log")
    write_log_parquet(
        generate_change_log(spark, n, num_repos=10, paths_per_repo=8),
        log_path,
        files=2,
    )
    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    replay(spark.read.parquet(log_path), table, interval_size=200)
    return table


def test_update_schema_metadata_only_flat(spark, tmp_path):
    table = _build_repos_table(spark, tmp_path)
    v0 = table.snapshot()
    before = {tuple(r) for r in table.read().select("repo", "path", "seq").collect()}

    widened = StructType(
        list(REPOS.fields) + [StructField("stars", LongType(), True)]
    )
    m = table.update_schema(widened, description="Source files of repositories.")
    assert m.version == v0.version + 1 and m.operation == "update-schema"
    assert m.files == v0.files  # metadata-only: not a byte rewritten
    assert m.properties["description"] == "Source files of repositories."

    got = table.read()
    assert "stars" in got.columns
    rows = got.select("repo", "path", "seq", "stars").collect()
    assert all(r["stars"] is None for r in rows)
    assert {(r["repo"], r["path"], r["seq"]) for r in rows} == before

    # idempotent re-push: no empty commit
    again = table.update_schema(widened, description="Source files of repositories.")
    assert again.version == m.version

    # the next MERGE can populate the pushed column (aligned() casts the
    # change side to the evolved payload)
    winners = table.read().where(F.col("repo") == "repo-00000").limit(1).collect()
    key = (winners[0]["repo"], winners[0]["path"])
    batch = spark.createDataFrame(
        [(10_000, 10_000, "upsert", key[0], key[1], "c", "py", "body", None, 7)],
        StructType(list(CHANGE_EVENTS.fields) + [StructField("stars", LongType(), True)]),
    )
    from multiversx_etl_spark.operators.merge import merge_batch

    merge_batch(table, batch, "aux", 0)
    final = {
        (r["repo"], r["path"]): r["stars"]
        for r in table.read().select("repo", "path", "stars").collect()
    }
    assert final[key] == 7
    assert all(v is None for k, v in final.items() if k != key)


def test_update_schema_rejections(spark, tmp_path):
    table = _build_repos_table(spark, tmp_path, n=50)
    dropped = StructType([f for f in REPOS.fields if f.name != "lang"])
    with pytest.raises(ValueError, match="drops 'lang'"):
        table.update_schema(dropped)
    retyped = StructType(
        [
            StructField(f.name, LongType(), f.nullable) if f.name == "lang" else f
            for f in REPOS.fields
        ]
    )
    with pytest.raises(ValueError, match="changes the type at 'lang'"):
        table.update_schema(retyped)
    for bad in ("_shadow", "offset", "op"):
        with pytest.raises(ValueError, match="reserved"):
            table.update_schema(
                StructType(list(REPOS.fields) + [StructField(bad, LongType(), True)])
            )


def _edited_blocks_schema(tmp_path):
    """The packaged blocks BQ-JSON file plus one top-level and one 2-deep
    nested addition — the exact edit shape of a maintenance push."""
    from importlib import resources

    fields = json.loads(
        resources.files("multiversx_etl_spark")
        .joinpath("bq_schemas/blocks.json")
        .read_text()
    )
    fields.append({"name": "notarizedAt", "type": "TIMESTAMP"})
    for f in fields:
        if f["name"] == "epochStartShardsData":
            for sub in f["fields"]:
                if sub["name"] == "pendingMiniBlockHeaders":
                    sub["fields"].append({"name": "newFlag", "type": "BOOLEAN"})
    folder = tmp_path / "schemas"
    folder.mkdir(exist_ok=True)
    (folder / "blocks.json").write_text(json.dumps(fields))
    return str(folder)


def _build_blocks_table(spark, tmp_path):
    from multiversx_etl_spark.operators.normalize import normalize_block_events
    from multiversx_etl_spark.schemas import TABLES
    from multiversx_etl_spark.sources.changelog import generate_block_log

    log_path = str(tmp_path / "blog")
    write_log_parquet(generate_block_log(spark, 300, num_blocks=30), log_path, files=2)
    _, target_schema, key = TABLES["blocks"]
    table = ensure_table(
        spark, str(tmp_path / "bt"), num_buckets=4,
        schema=target_schema, key_columns=key,
    )
    replay(
        spark.read.parquet(log_path), table, interval_size=150,
        normalizer=normalize_block_events,
    )
    return table


def test_update_schema_nested_from_schema_folder(spark, tmp_path):
    """An edited schema FILE (new top-level + new 2-deep nested leaf)
    pushes onto the live blocks table; existing files read both additions
    as NULL with no rewrite."""
    from multiversx_etl_spark.catalog import load_table_from_folder

    table = _build_blocks_table(spark, tmp_path)
    v0 = table.snapshot()
    folder = _edited_blocks_schema(tmp_path)
    ct = load_table_from_folder(folder, "blocks")
    m = table.update_schema(ct.target_schema)
    assert m.files == v0.files
    assert set(schema_added_paths(v0.schema, m.schema)) == {
        "notarizedAt",
        "epochStartShardsData.pendingMiniBlockHeaders.newFlag",
    }
    rows = table.read().select("_id", "notarizedAt", "epochStartShardsData").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["notarizedAt"] is None
        for shard in r["epochStartShardsData"] or []:
            for mb in shard["pendingMiniBlockHeaders"] or []:
                assert mb["newFlag"] is None
    # BlocksTransformer-analog drops still hold on the pushed shape: the
    # spec stripped `reserved` from the edited file's declared payload
    assert "reserved" not in m.schema.fieldNames()


def test_update_schema_cli(spark, tmp_path):
    """The operator-facing flow, verbatim: `update-schema <table>
    --schema-file edited.json --description ...` (the reference's
    `bq update --description "Blocks." <tbl> schema/blocks.json`,
    maintenance/schemas.md; the TransformSpec resolves from the filename
    stem exactly like the folder/catalog paths)."""
    table = _build_blocks_table(spark, tmp_path)
    folder = _edited_blocks_schema(tmp_path)
    run = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "update-schema", str(tmp_path / "bt"),
            "--schema-file", os.path.join(folder, "blocks.json"),
            "--description", "Blocks.",
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["changed"] and out["description"] == "Blocks."
    assert set(out["added"]) == {
        "notarizedAt",
        "epochStartShardsData.pendingMiniBlockHeaders.newFlag",
    }
    m = table.snapshot()
    assert m.properties["description"] == "Blocks."
    assert "notarizedAt" in m.schema.fieldNames()
    # a renamed schema file with no --index binds the IDENTITY spec — the
    # fallback must be loud (stderr note) because a wrongly-unspecced push
    # widens the table irreversibly
    import shutil

    shutil.copy(os.path.join(folder, "blocks.json"),
                os.path.join(folder, "blocks_v2.json"))
    noisy = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "update-schema", str(tmp_path / "missing"),
            "--schema-file", os.path.join(folder, "blocks_v2.json"),
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert "no TransformSpec or catalog entry named 'blocks_v2'" in noisy.stderr


# ------------------------------------------------------- durable clustering


def test_set_clustering_drives_flagless_compaction(spark, tmp_path):
    """set_clustering persists the spec; a later flagless compact()/
    maintain applies it (sorted seq-slices + zone maps), and a pruned
    range read equals the unpruned one over fewer files."""
    table = _build_repos_table(spark, tmp_path)
    m = table.set_clustering(["seq"], max_records_per_file=10)
    assert m.operation == "set-clustering"
    assert m.properties["clustering_sort_columns"] == ["seq"]
    assert m.properties["clustering_max_records_per_file"] == 10
    assert "seq" in m.properties["stat_columns"]

    # explicit flags override the declared spec — this is the unsliced
    # baseline file count
    base = len(
        table.compact(
            full=True, sort_columns=["repo", "path"], max_records_per_file=10_000
        ).files
    )

    m2 = table.compact(full=True)  # NO flags: the declared spec applies
    live = len(m2.files)
    assert live > base, "declared max_records_per_file did not slice the buckets"
    assert all("seq" in f.get("stats", {}) for f in m2.files)
    bounds = (100, 180)
    pruned = table.read(prune_stats={"seq": bounds})
    full = table.read().where(F.col("seq").between(*bounds))

    def rows(df):
        return {tuple(r) for r in df.select("repo", "path", "seq").collect()}

    assert rows(pruned) == rows(full)
    assert len(pruned.inputFiles()) < live

    # clearing restores key-column clustering and the falsy sentinels
    m4 = table.set_clustering([])
    assert m4.properties["clustering_sort_columns"] == []
    assert m4.properties["clustering_max_records_per_file"] == 0
    assert len(table.compact(full=True).files) == base

    with pytest.raises(ValueError, match="not in schema"):
        table.set_clustering(["nope"])
    with pytest.raises(ValueError, match="max_records_per_file"):
        table.set_clustering(["seq"], max_records_per_file=0)


def test_set_clustering_cli(spark, tmp_path):
    table = _build_repos_table(spark, tmp_path, n=200)
    run = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark", "--master", "local[2]",
            "set-clustering", str(tmp_path / "t"),
            "--sort-columns", "seq", "--max-records-per-file", "50",
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["clustering_sort_columns"] == ["seq"]
    assert out["clustering_max_records_per_file"] == 50
    m = table.snapshot()
    assert m.properties["clustering_sort_columns"] == ["seq"]
    # exactly one of --sort-columns / --clear
    bad = subprocess.run(
        [
            sys.executable, "-m", "multiversx_etl_spark",
            "set-clustering", str(tmp_path / "t"),
        ],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
    )
    assert bad.returncode == 2


def test_promotion_carries_clustering(spark, tmp_path):
    """promote_from keeps the staging table's declared clustering (the
    promoted files are laid out under it), while the MAIN table's own
    description survives the promotion untouched."""
    staging = _build_repos_table(spark, tmp_path)
    staging.set_clustering(["seq"], max_records_per_file=40)
    staging.compact(full=True)
    main = LakeTable.create(
        spark, str(tmp_path / "main"), REPOS,
        key_columns=["repo", "path"], num_buckets=4,
    )
    main.update_schema(REPOS, description="Main serving table.")
    m = main.promote_from(staging)
    assert m.properties["clustering_sort_columns"] == ["seq"]
    assert m.properties["clustering_max_records_per_file"] == 40
    assert m.properties["description"] == "Main serving table."
    # post-promote flagless maintenance keeps the staging layout
    assert all("seq" in f.get("stats", {}) for f in m.files if f["rows"])


def test_changes_feed_spans_metadata_commits(spark, tmp_path):
    """update-schema / set-clustering commits are logical no-ops in the CDC
    change feed: a range spanning them neither raises nor emits rows, and
    the feed projects the WIDENED (to_version) schema so pre-push delta
    files read the added column as NULL."""
    table = _build_repos_table(spark, tmp_path, n=100)
    v0 = table.current_version()
    widened = StructType(list(REPOS.fields) + [StructField("stars", LongType(), True)])
    table.update_schema(widened)
    table.set_clustering(["seq"])
    feed = table.changes(v0)
    assert feed.count() == 0 and "stars" in feed.columns

    from multiversx_etl_spark.operators.merge import merge_batch

    batch = spark.createDataFrame(
        [(10_000, 10_000, "upsert", "r-new", "p-new", "c", "py", "body", None, 5)],
        StructType(list(CHANGE_EVENTS.fields) + [StructField("stars", LongType(), True)]),
    )
    merge_batch(table, batch, "aux", 0)
    # a range REACHING BACK over the metadata commits sees old (NULL-stars)
    # and new (populated) delta rows under one widened schema
    span = table.changes(v0 - 1)
    rows = {(r["repo"], r["path"], r["stars"]) for r in span.collect()}
    assert ("r-new", "p-new", 5) in rows
    assert len(rows) > 1 and all(
        s is None for (rp, _, s) in rows if rp != "r-new"
    )


def test_rebucket_preserves_declared_clustering(spark, tmp_path):
    """Layout evolution must not silently destroy the declared clustering:
    rebucket rewrites under the spec (sorted slices + zone maps), so the
    'flagless maintenance keeps the layout' promise survives a bucket-count
    change."""
    table = _build_repos_table(spark, tmp_path)
    table.set_clustering(["seq"], max_records_per_file=10)
    table.compact(full=True)
    m = table.rebucket(8)
    assert m.num_buckets == 8
    assert m.properties["clustering_sort_columns"] == ["seq"]
    assert len(m.files) > 8, "rebucket dropped the declared file slicing"
    assert all("seq" in f.get("stats", {}) for f in m.files)
    # and the rewrite is still the exact same state
    assert table.read().count() > 0


def test_compact_explicit_sort_suspends_declared_slicing(spark, tmp_path):
    """An explicit --sort-columns override suspends the WHOLE declared
    spec: the declared max_records_per_file must not leak under an
    operator's one-off re-sort (tiny-file explosion nobody asked for)."""
    table = _build_repos_table(spark, tmp_path)
    base = len(table.compact(full=True).files)  # key-clustered, unsliced
    table.set_clustering(["seq"], max_records_per_file=10)
    m = table.compact(full=True, sort_columns=["repo", "path"])
    assert len(m.files) == base


def test_promotion_clears_stale_policies(spark, tmp_path):
    """Promoting an UNCLUSTERED staging onto a clustered main adopts the
    staging policies wholesale — the main's stale spec (and custom stat
    policy) must not keep re-applying a layout the files no longer have."""
    staging = _build_repos_table(spark, tmp_path)
    main = LakeTable.create(
        spark, str(tmp_path / "main"), REPOS,
        key_columns=["repo", "path"], num_buckets=4,
        stat_columns=["repo", "path", "seq"],
    )
    main.set_clustering(["seq"], max_records_per_file=10)
    m = main.promote_from(staging)
    assert m.properties["clustering_sort_columns"] == []
    assert m.properties["clustering_max_records_per_file"] == 0
    assert m.properties["stat_columns"] is None  # back to the key default
    # a flagless full rewrite shows no stale slicing: at most one file per
    # occupied bucket group (the promoted MOR deltas consolidate)
    assert len(main.compact(full=True).files) <= 4


def test_set_clustering_rejects_map_columns(spark, tmp_path):
    """A spec that commits clean but crashes every later flagless
    compaction (Spark cannot sort by map types) must refuse at declare
    time, not in the cron loop."""
    from pyspark.sql.types import MapType

    schema = StructType([
        StructField("k", StringType(), False),
        StructField("m", MapType(StringType(), LongType()), True),
        StructField("seq", LongType(), False),
        StructField("deleted", BooleanType(), False),
    ])
    table = LakeTable.create(
        spark, str(tmp_path / "mt"), schema, key_columns=["k"], num_buckets=2
    )
    with pytest.raises(ValueError, match="map types"):
        table.set_clustering(["m"])


def test_apply_table_metadata_widens_for_new_clustering_column(spark, tmp_path):
    """One config edit that adds a column to the schema file AND clusters
    on it must not crash-loop: the config path widens the live table before
    validating the spec (and only then — tables that evolved beyond the
    declared file stay accepted)."""
    from multiversx_etl_spark.config import (
        _apply_table_metadata,
        worker_config_from_dict,
    )

    table = _build_repos_table(spark, tmp_path, n=100)
    widened = StructType(list(REPOS.fields) + [StructField("stars", LongType(), True)])
    cfg = worker_config_from_dict({
        "table_root": str(tmp_path / "t"), "log_path": str(tmp_path / "log"),
        "clustering": {"sort_columns": ["stars"]},
    })
    _apply_table_metadata(table, cfg, widened)
    m = table.snapshot()
    assert "stars" in m.schema.fieldNames()
    assert m.properties["clustering_sort_columns"] == ["stars"]


# ---------------------------------------------------------- type promotion


def test_is_type_promotion_matrix():
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        FloatType,
        IntegerType,
        ShortType,
    )

    from multiversx_etl_spark.sources.bq_schema import is_type_promotion

    assert is_type_promotion(IntegerType(), LongType())
    assert is_type_promotion(ByteType(), ShortType())
    assert is_type_promotion(ShortType(), LongType())
    assert is_type_promotion(FloatType(), DoubleType())
    assert is_type_promotion(DecimalType(10, 2), DecimalType(20, 2))
    # never narrowing, never cross-kind, never scale changes
    assert not is_type_promotion(LongType(), IntegerType())
    assert not is_type_promotion(DoubleType(), FloatType())
    assert not is_type_promotion(IntegerType(), DoubleType())
    assert not is_type_promotion(StringType(), LongType())
    assert not is_type_promotion(DecimalType(10, 2), DecimalType(20, 4))
    assert not is_type_promotion(DecimalType(20, 2), DecimalType(10, 2))


def test_merge_widening_accepts_promotions_rejects_narrowing():
    from pyspark.sql.types import IntegerType

    old = _st(
        StructField("k", StringType(), False),
        StructField("n", IntegerType(), True),
        StructField(
            "a", ArrayType(_st(StructField("x", IntegerType(), True))), True
        ),
    )
    new = _st(
        StructField("k", StringType(), False),
        StructField("n", LongType(), True),
        StructField(
            "a", ArrayType(_st(StructField("x", LongType(), True))), True
        ),
    )
    merged = merge_widening(old, new)
    assert isinstance(merged["n"].dataType, LongType)
    assert isinstance(merged["a"].dataType.elementType["x"].dataType, LongType)
    # narrowing raises with the dotted path, strict AND rebase mode
    with pytest.raises(ValueError, match="'n'"):
        merge_widening(new, old)
    # rebase mode keeps the WIDER live type when the pushed file is behind
    rebased = merge_widening(new, old, allow_missing_in_new=True)
    assert isinstance(rebased["n"].dataType, LongType)
    assert isinstance(rebased["a"].dataType.elementType["x"].dataType, LongType)


def test_type_promotion_e2e_over_live_table(spark, tmp_path):
    """Push int->long / float->double promotions onto a table with existing
    parquet files: a metadata-only commit, existing rows read upcast with
    no rewrite, later merges land wide values, and compaction (which DOES
    rewrite) preserves everything exactly."""
    from pyspark.sql.types import IntegerType

    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.streaming.ingest import ensure_table

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    b1 = spark.createDataFrame(
        [(0, 0, "insert", "r1", "a.py", "c0", "py", "v0", 7, 1.5)],
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string, stars int, score float",
    )
    merge_batch(table, b1, "main", 0, 0, 1)
    assert isinstance(table.snapshot().schema["stars"].dataType, IntegerType)
    v_before = table.current_version()

    wide = StructType([
        StructField(
            f.name,
            LongType() if f.name == "stars"
            else DoubleType() if f.name == "score"
            else f.dataType,
            f.nullable,
        )
        for f in table.snapshot().schema.fields
    ])
    m = table.update_schema(wide)
    # metadata-only: same files, one commit, widened schema
    assert m.version == v_before + 1
    assert isinstance(m.schema["stars"].dataType, LongType)
    assert isinstance(m.schema["score"].dataType, DoubleType)
    assert {f["path"] for f in m.files} == {
        f["path"] for f in table.snapshot(v_before).files
    }
    row = table.read().select("stars", "score").first()
    assert row["stars"] == 7 and abs(row["score"] - 1.5) < 1e-9
    assert dict(table.read().dtypes)["stars"] == "bigint"

    # a post-promotion merge lands values only the WIDE type can hold
    big = 2**40
    b2 = spark.createDataFrame(
        [(1, 1, "insert", "r2", "b.py", "c1", "py", "v1", big, 2.25)],
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string, stars long, score double",
    )
    merge_batch(table, b2, "main", 1, 1, 2)
    got = {
        r["repo"]: (r["stars"], r["score"])
        for r in table.read().select("repo", "stars", "score").collect()
    }
    assert got == {"r1": (7, 1.5), "r2": (big, 2.25)}
    # the rewrite path (compaction) preserves the promoted values exactly
    table.compact(full=True)
    got2 = {
        r["repo"]: (r["stars"], r["score"])
        for r in table.read().select("repo", "stars", "score").collect()
    }
    assert got2 == got
    assert dict(table.read().dtypes)["stars"] == "bigint"


def test_type_promotion_via_update_schema_rejects_narrowing_live(spark, tmp_path):
    from multiversx_etl_spark.operators.merge import merge_batch
    from multiversx_etl_spark.streaming.ingest import ensure_table

    table = ensure_table(spark, str(tmp_path / "t"), num_buckets=4)
    b1 = spark.createDataFrame(
        [(0, 0, "insert", "r1", "a.py", "c0", "py", "v0", 7)],
        "offset long, seq long, op string, repo string, path string, "
        "commit string, lang string, content string, stars long",
    )
    merge_batch(table, b1, "main", 0, 0, 1)
    narrow = StructType([
        StructField(
            f.name,
            StringType() if f.name == "stars" else f.dataType,
            f.nullable,
        )
        for f in table.snapshot().schema.fields
    ])
    with pytest.raises(ValueError, match="stars"):
        table.update_schema(narrow)


def test_type_promotion_rejected_on_key_columns(spark, tmp_path):
    """A type promotion on a KEY column must be refused even though it is
    Iceberg-legal for payload columns: bucket placement hashes the column
    type (xxhash64(7 as int) != xxhash64(7 as long); Murmur3 likewise), so
    a metadata-only key promotion would leave existing files placed under
    the old type's hash while every recomputed bucket_expr hashes the new
    type — dropping live rows from bucket-scoped reads. Iceberg is only
    safe here because its bucket transform hashes int as long; this
    engine's layouts do not."""
    from pyspark.sql.types import IntegerType

    schema = StructType([
        StructField("id", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("deleted", BooleanType(), True),
        StructField("v", LongType(), True),
    ])
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_columns=["id"], num_buckets=4
    )
    table.commit(
        table.write_data_files(
            spark.createDataFrame(
                [(7, 0, False, 1)], schema
            ).withColumn("_bucket", table.snapshot().bucket_expr()),
            "seed",
        ),
        replaced_pids=set(),
        operation="merge-seed",
    )
    wide = StructType([
        StructField(
            f.name,
            LongType() if f.name == "id" else f.dataType,
            f.nullable,
        )
        for f in schema.fields
    ])
    with pytest.raises(ValueError, match="key column 'id'"):
        table.update_schema(wide)
    # the payload promotion alone (v is already long; promote nothing on
    # the key) still commits — the guard is key-specific
    v_before = table.current_version()
    same = table.update_schema(schema)  # no-op push stays cron-safe
    assert same.version == v_before
    # and the pre-reject table still reads its row through the bucket path
    assert table.lookup(id=7).count() == 1
