"""Manifest-snapshot lakehouse table (the Iceberg stand-in).

No Iceberg/Delta runtime jar ships in this sandbox, so the engine's sink is
this thin storage layer providing the same contract the north rule needs from
Iceberg:

- **bucketed layout**: every row has a logical bucket ``pmod(xxhash64(repo,
  path), B)``; data files are written one-per-shuffle-partition of
  ``repartition(B, _bucket)`` and labeled with their partition id (pid).
  pid is a fixed function of the logical bucket (Murmur3 mod B — the same
  hash Spark's shuffle uses), so bucket-scoped reads prune to the pid file
  groups that can contain those buckets. This is the analog of Iceberg's
  ``bucket(B, ...)`` partition transform; writing plain per-partition files
  instead of ``partitionBy`` avoids the dynamic-partition writer, which
  measures ~35% slower and anti-scales with cores on this box;
- **atomic snapshot commits**: each commit writes an immutable manifest JSON
  (file list + row counts + schema + stream epoch markers) and atomically
  repoints a ``_current`` pointer via ``os.replace`` — crash-safe: a crash
  mid-commit leaves the previous snapshot current;
- **exactly-once epoch markers**: the set of applied ``(stream_id, epoch_id)``
  pairs lives *inside* the manifest, so data + marker commit in one atomic
  step (strictly stronger than the reference's worker_state.json checkpoint,
  /root/reference/multiversxetl/worker_state.py:29-37, which is committed
  separately after verification);
- **merge-on-read**: a MERGE may append delta files instead of rewriting
  (``replaced_pids=set()``); reads then apply the per-key max-seq fold
  (Iceberg v2 MOR semantics). ``compact()`` folds deltas back into one base
  file per partition;
- **time travel / rollback**: old manifests are retained;
  ``rollback(version)`` repoints ``_current`` (the analog of the reference's
  rewind-to-checkpoint DELETE, /root/reference/multiversxetl/bq_client.py:
  48-56, but O(1) instead of a scan-and-delete);
- **schema evolution**: the manifest carries the current schema; readers apply
  it over older files (missing columns → NULL), so adding/dropping columns is
  a metadata operation (the reference pushes schema updates out-of-band via
  ``bq update``, /root/reference/maintenance/schemas.md:13-28).

On a real cluster this module is replaced by Iceberg v2 merge-on-read tables;
every public method has a direct Iceberg equivalent (noted per method).
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import hashlib
import json
import os
import re
import shutil
import time
import uuid
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_CURRENT = "_current"
#: content-addressed per-pid file-group docs (format-2 sharded manifests)
_GROUP_DIR = "groups"

_PART_RE = re.compile(r"part-(\d+)-")

#: committed-epoch markers kept in full below the contiguous watermark
#: (debuggability window; everything older answers {"compacted": True}).
_EPOCH_INFO_KEEP = 16

#: (num_buckets, layout) -> [pid of bucket k] (derived via Spark itself).
_PID_CACHE: dict[tuple[int, str], list[int]] = {}

#: (num_buckets, schema_json, key values) -> bucket, for point lookups: the
#: one-row createDataFrame+collect that derives a probe key's bucket costs
#: ~0.3 s of fixed job-scheduling latency — dominating the metadata-pruned
#: scan it enables — so repeat probes of the same key hit this cache
#: (mirroring the _PID_CACHE approach; exact because bucket_expr is a pure
#: function of (key values, types, B)).
_BUCKET_CACHE: dict[tuple, int] = {}


def bucket_expr(
    key_columns: list[str], num_buckets: int, layout: str = "xxhash"
) -> Column:
    """Logical hash-bucket assignment — pure function of the upsert key.

    Bucketing on the full ``(repo, path)`` key (not just ``repo``) keeps the
    physical distribution uniform even when one monorepo dominates the key
    population (FIXTURES.md Zipf skew): a monorepo's files spread across all
    buckets instead of hot-spotting one. Iceberg analog:
    ``PARTITIONED BY (bucket(B, repo, path))``.

    Two layouts:
    - ``xxhash`` (default): ``pmod(xxhash64(key), B)``; file pid =
      Murmur3(bucket) % B (derived via the actual partitioner, below).
    - ``spark``: ``pmod(hash(key), B)`` — Spark's own Murmur3 bucket
      function, identical to ``HashPartitioning(key, B)``'s partition id
      AND to ``bucketBy(B, key)``'s bucket assignment, so pid == bucket and
      a table's bucket-aligned files can be registered as a Spark catalog
      BUCKETED table: scans then report HashPartitioning(key, B) and the
      MERGE fold runs with ZERO exchanges (operators/merge.py fold='join').
      This is the manifest-reader emulation of Iceberg's storage-partitioned
      join reporting (SPARK-37375).
    """
    if layout == "spark":
        return F.pmod(F.hash(*key_columns), F.lit(num_buckets)).cast("int")
    return F.pmod(F.xxhash64(*key_columns), F.lit(num_buckets)).cast("int")


def per_column_writer_seq(p: str, *, is_patch: Column, has_colseq: bool) -> Column:
    """Writer seq of payload column ``p`` for ONE generation row — the
    single definition of the per-column LWW clock, shared by the armed
    read fold and ``_finalize_fold``: a patch generation's own seq; else
    the row's ``_colseq`` entry for the column (finalized rows record
    columns whose last writer was a patch newer than the row's full-image
    seq); else the row seq."""
    base = (
        F.coalesce(F.element_at(F.col("_colseq"), F.lit(p)), F.col("seq"))
        if has_colseq
        else F.col("seq")
    )
    return F.when(is_patch, F.col("seq")).otherwise(base)


def colseq_map_expr(payload: list[str], winner_seq: Column) -> Column:
    """``_colseq`` map from per-column winner structs ``_c_<p>`` (fields
    ``s`` = writer seq, ``v`` = value): one entry per column whose winner
    seq exceeds the FULL-image winner's — i.e. exactly the columns a
    single row seq cannot represent; NULL when none (``_finalize_fold``)."""
    if not payload:
        return F.lit(None).cast("map<string,bigint>")
    entries = F.filter(
        F.array(
            *[
                F.struct(F.lit(p).alias("key"), F.col(f"_c_{p}.s").alias("value"))
                for p in payload
            ]
        ),
        lambda e: e["value"] > winner_seq,
    )
    return F.when(F.size(entries) > 0, F.map_from_entries(entries))


def repartition_for_write(
    df: DataFrame, num_buckets: int, key_columns: list[str], layout: str
) -> DataFrame:
    """Exchange that makes shuffle-partition index == file pid for the
    layout: xxhash partitions by the ``_bucket`` column (pid = Murmur3(
    bucket) % B); spark partitions by the KEY columns directly (partition
    index = pmod(Murmur3(key), B) == bucket == pid — the identity mapping
    the catalog-bucketed staging relies on)."""
    if layout == "spark":
        return df.repartition(num_buckets, *[F.col(k) for k in key_columns])
    return df.repartition(num_buckets, F.col("_bucket"))


def bucket_to_pid(
    spark: SparkSession, num_buckets: int, layout: str = "xxhash"
) -> list[int]:
    """pid of each logical bucket under the layout's write partitioning.

    ``spark`` layout: identity (partition index == bucket by construction).
    ``xxhash``: derived by running B rows through the actual partitioner
    (not by reimplementing Murmur3), exact by construction; cached per B.
    The xxhash map is many-to-one (B=16 occupies 10 pids), so an epoch
    writes fewer files — the reason new tables default to xxhash (see
    ``streaming/ingest.py`` ``ensure_table`` for the measurement).
    """
    if layout == "spark":
        return list(range(num_buckets))
    m = _PID_CACHE.get((num_buckets, layout))
    if m is None:
        df = (
            spark.range(num_buckets)
            .select(F.col("id").cast("int").alias("_bucket"))
            .repartition(num_buckets, "_bucket")
            .select("_bucket", F.spark_partition_id().alias("pid"))
        )
        pairs = {r["_bucket"]: r["pid"] for r in df.collect()}
        m = [pairs[k] for k in range(num_buckets)]
        _PID_CACHE[(num_buckets, layout)] = m
    return m


class Manifest:
    """One immutable snapshot of the table.

    Physically SHARDED (format 2, the Iceberg manifest-list analog):
    the root document carries everything O(1)-or-O(recent) — schema, stream
    epoch markers, properties — plus one small *group ref* per occupied pid
    (path, file count, row count, outstanding-delta count). The per-file
    entries (with their zone-map stats) live in immutable, content-addressed
    *file-group* documents under ``_manifests/groups/``, one per pid. A
    commit rewrites only the groups whose pids changed (unchanged pids carry
    the parent's ref — same content hash, doc already on disk) and a
    bucket-pruned read parses only the groups for its pids, so commit cost
    and plan-time manifest bytes are O(touched buckets), not O(total files).
    At 10^6 files over B buckets the root doc stays a few KB where an
    inline file list would be a multi-hundred-MB rewrite per commit.

    In memory each pid maps to a *slot*: either ``{"files": [...]}``
    (materialized — freshly committed or lazily loaded) or ``{"ref": {...}}``
    (unloaded group; ``_load_pid`` materializes on demand). ``_seal`` (called
    by the commit path) converts materialized slots to refs by writing their
    group docs; refs are reused verbatim, which is what makes the commit
    O(touched).
    """

    def __init__(
        self,
        version: int,
        schema_json: str,
        num_buckets: int,
        key_columns: list[str],
        streams: dict[str, dict[str, Any]] | None = None,
        parent: int | None = None,
        operation: str = "create",
        committed_at: float = 0.0,
        properties: dict[str, Any] | None = None,
        #: bucket-hash layout: "xxhash" (historical default) or "spark"
        #: (Murmur3, catalog-bucketed-scan compatible — see bucket_expr).
        #: Keyword default keeps pre-layout manifests readable.
        layout: str = "xxhash",
        groups: list[dict[str, Any]] | None = None,
        root: str | None = None,
        slots: dict[int, dict[str, Any]] | None = None,
    ):
        self.version = version
        self.schema_json = schema_json
        self.num_buckets = num_buckets
        self.key_columns = key_columns
        self.streams = streams if streams is not None else {}
        self.parent = parent
        self.operation = operation
        self.committed_at = committed_at
        self.properties = properties if properties is not None else {}
        self.layout = layout
        self._root = root
        self._files_cache: list[dict[str, Any]] | None = None
        if slots is not None:
            # internal: carry a parent/target's slots verbatim (rollback,
            # commit) — refs stay refs, O(1) regardless of table size
            self._slots = slots
        else:
            self._slots = {int(g["pid"]): {"ref": g} for g in groups or ()}

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def bucket_expr(self) -> Column:
        """This snapshot's bucket assignment (layout- and B-aware)."""
        return bucket_expr(self.key_columns, self.num_buckets, self.layout)

    # ---------- file-group slots ----------

    def _load_pid(self, pid: int) -> list[dict[str, Any]]:
        slot = self._slots.get(pid)
        if slot is None:
            return []
        if "files" not in slot:
            ref = slot["ref"]
            if self._root is None:
                raise RuntimeError(
                    f"manifest v{self.version}: cannot load file group for "
                    f"pid {pid} without a table root"
                )
            with open(os.path.join(self._root, ref["path"])) as fh:
                doc = json.load(fh)
            slot["files"] = doc["files"]
        return slot["files"]

    def slot_pids(self) -> list[int]:
        """Occupied pids, ascending (no group docs touched)."""
        return sorted(self._slots)

    def carry_slots(self) -> dict[int, dict[str, Any]]:
        """Slot map for building a child manifest: refs carried verbatim
        (O(1)), materialized slots shallow-copied."""
        out: dict[int, dict[str, Any]] = {}
        for pid, slot in self._slots.items():
            if "ref" in slot and "files" not in slot:
                out[pid] = {"ref": slot["ref"]}
            else:
                out[pid] = {"files": list(slot["files"])}
        return out

    def group_paths(self) -> set[str]:
        """Relative paths of the group docs this snapshot references — the
        GC reference set."""
        return {
            s["ref"]["path"] for s in self._slots.values() if "ref" in s
        }

    def ref_for(self, pid: int) -> dict[str, Any] | None:
        """The pid's group ref, or None if the slot is materialized-only
        (pre-seal) or the pid is empty."""
        slot = self._slots.get(pid)
        return slot.get("ref") if slot else None

    def delta_pids(self) -> set[int]:
        """Pids with outstanding non-base (delta) files — from the refs'
        ``nd`` counts where available, so the maintenance cron's trigger
        scan reads NO group docs on an all-compacted table."""
        out = set()
        for pid, slot in self._slots.items():
            ref = slot.get("ref")
            if ref is not None and "nd" in ref and "files" not in slot:
                if ref["nd"]:
                    out.add(pid)
            elif any(not f.get("base", False) for f in self._load_pid(pid)):
                out.add(pid)
        return out

    def total_rows(self) -> int:
        """Live physical row count — ref metadata only where possible."""
        total = 0
        for pid, slot in self._slots.items():
            ref = slot.get("ref")
            if ref is not None and "rows" in ref and "files" not in slot:
                total += ref["rows"]
            else:
                total += sum(f["rows"] for f in self._load_pid(pid))
        return total

    def total_files(self) -> int:
        """Live data-file count — ref metadata only where possible."""
        total = 0
        for pid, slot in self._slots.items():
            ref = slot.get("ref")
            if ref is not None and "n" in ref and "files" not in slot:
                total += ref["n"]
            else:
                total += len(self._load_pid(pid))
        return total

    @property
    def files(self) -> list[dict[str, Any]]:
        """ALL live file entries (materializes every group — whole-table
        consumers only; bucket-scoped paths use ``files_for_pids``)."""
        if self._files_cache is None:
            self._files_cache = [
                f for pid in sorted(self._slots) for f in self._load_pid(pid)
            ]
        return self._files_cache

    def files_for_pids(self, pids: set[int] | None) -> list[dict[str, Any]]:
        if pids is None:
            return list(self.files)
        # loads ONLY the requested pids' group docs — the read-side half of
        # the O(touched buckets) contract
        return [f for pid in sorted(pids) for f in self._load_pid(pid)]

    def added_files(self, prev: "Manifest") -> list[dict[str, Any]]:
        """Files live in self but not in ``prev`` (by path) — the change
        feed's per-version delta. Groups whose ref is IDENTICAL to prev's
        (same content-addressed path) are skipped without loading, so a
        replication round costs O(changed buckets), not O(table)."""
        out: list[dict[str, Any]] = []
        for pid in sorted(self._slots):
            my_ref = self.ref_for(pid)
            prev_ref = prev.ref_for(pid)
            if (
                my_ref is not None
                and prev_ref is not None
                and my_ref["path"] == prev_ref["path"]
            ):
                continue  # content-addressed: identical group, no delta
            prev_paths = {f["path"] for f in prev._load_pid(pid)}
            out += [f for f in self._load_pid(pid) if f["path"] not in prev_paths]
        return out

    def epoch_info(self, stream_id: str, epoch_id: int) -> dict[str, Any] | None:
        """Info for a committed epoch, or None if the epoch never committed.

        Epoch markers below the stream's contiguous watermark
        (``epochs_through``) are compacted away at commit time — the manifest
        stays O(recent + out-of-order) instead of O(all epochs), which is
        what keeps the per-commit JSON rewrite flat at 10^10-event epoch
        counts. A compacted epoch answers ``{"compacted": True}`` (its full
        stats live durably in the lineage ledger)."""
        s = self.streams.get(stream_id, {})
        info = s.get("epochs", {}).get(str(epoch_id))
        if info is not None:
            return info
        if epoch_id <= s.get("epochs_through", -1):
            return {"compacted": True}
        return None

    def committed_epochs_through(self, stream_id: str) -> int:
        """Highest W such that ALL epochs 0..W have committed (-1 if none)."""
        return self.streams.get(stream_id, {}).get("epochs_through", -1)

    def _group_doc(self, pid: int) -> tuple[str, str]:
        """(relative path, body) of the pid's content-addressed group doc."""
        body = json.dumps({"pid": pid, "files": self._slots[pid]["files"]}, sort_keys=True)
        digest = hashlib.sha256(body.encode()).hexdigest()[:32]
        return os.path.join(_MANIFEST_DIR, _GROUP_DIR, f"g-{digest}.json"), body

    @staticmethod
    def _put_group_doc(root: str, rel: str, body: str) -> None:
        gdir = os.path.join(root, _MANIFEST_DIR, _GROUP_DIR)
        os.makedirs(gdir, exist_ok=True)
        tmp = os.path.join(gdir, f".g.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(body)
        os.replace(tmp, os.path.join(root, rel))

    def _seal(self, root: str) -> list[int]:
        """Write every materialized slot's file-group doc (content-addressed
        — an existing doc with the same hash is reused byte-for-byte, which
        is both the cross-version structural sharing and the idempotent
        crash-recovery story: a doc left by a crashed commit is either
        reused by an identical retry or swept by gc_orphan_files) and
        convert the slot to a ref, keeping its in-memory ``files``. After
        sealing, ``to_json`` emits the O(buckets) format-2 root document.
        Group docs are immutable and written tmp+rename, so concurrent
        writers producing the same content race harmlessly. Returns the
        sealed pids (``restore_sealed`` re-checks their docs)."""
        sealed = []
        for pid in sorted(self._slots):
            slot = self._slots[pid]
            if "ref" in slot:
                continue
            files = slot["files"]
            if not files:
                del self._slots[pid]
                continue
            rel, body = self._group_doc(pid)
            try:
                # a reused doc gets a fresh mtime: gc_orphan_files deletes
                # unreferenced docs by age, and the commit about to
                # reference this one has not landed yet
                os.utime(os.path.join(root, rel))
            except FileNotFoundError:
                self._put_group_doc(root, rel, body)
            sealed.append(pid)
            slot["ref"] = {
                "pid": pid,
                "path": rel,
                "n": len(files),
                "rows": int(sum(f["rows"] for f in files)),
                "nd": int(sum(1 for f in files if not f.get("base", False))),
            }
        self._root = root
        self._files_cache = None  # re-materialize in canonical pid order
        return sealed

    def restore_sealed(self, root: str, pids: list[int]) -> None:
        """Rewrite any of the sealed pids' group docs that vanished since
        ``_seal``. A reused doc is unreferenced until the root swap, so
        ``gc_orphan_files`` or ``expire_snapshots`` (both under the commit
        lock) may delete it despite the refreshed mtime; called under that
        lock, this closes the window."""
        for pid in pids:
            rel = self._slots[pid]["ref"]["path"]
            if not os.path.exists(os.path.join(root, rel)):
                self._put_group_doc(root, *self._group_doc(pid))

    def to_json(self) -> str:
        unsealed = [p for p, s in self._slots.items() if "ref" not in s]
        if unsealed:
            raise RuntimeError(
                f"manifest v{self.version}: to_json before _seal "
                f"(materialized pids {sorted(unsealed)[:4]})"
            )
        return json.dumps(
            {
                "format": 2,
                "version": self.version,
                "schema_json": self.schema_json,
                "num_buckets": self.num_buckets,
                "key_columns": self.key_columns,
                "groups": [self._slots[p]["ref"] for p in sorted(self._slots)],
                "streams": self.streams,
                "parent": self.parent,
                "operation": self.operation,
                "committed_at": self.committed_at,
                "properties": self.properties,
                "layout": self.layout,
            }
        )

    @staticmethod
    def from_json(text: str, root: str | None = None) -> "Manifest":
        d = json.loads(text)
        fmt = d.pop("format", None)
        if fmt != 2:
            raise ValueError(
                f"unsupported manifest format {fmt!r}: only format 2 "
                "(sharded group docs) is readable"
            )
        return Manifest(**d, root=root)


class LakeTable:
    """A bucketed, snapshot-versioned table rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        key_columns: list[str],
        num_buckets: int = 16,
        layout: str = "xxhash",
        stat_columns: list[str] | None = None,
    ) -> "LakeTable":
        """Iceberg analog: CREATE TABLE ... PARTITIONED BY (bucket(B, key)).

        ``layout='spark'`` uses Spark's own Murmur3 bucket function so the
        table's files double as a Spark catalog BUCKETED table (pid ==
        bucket), unlocking the zero-exchange MERGE fold — see bucket_expr.

        ``stat_columns`` picks the columns whose per-file zone maps every
        write records in the manifest (see ``write_data_files``). Default
        (None) is the key columns; ``[]`` disables collection."""
        if layout not in ("xxhash", "spark"):
            raise ValueError(f"unknown bucket layout {layout!r}")
        if stat_columns is not None:
            known = set(schema.fieldNames())
            bad = [c for c in stat_columns if c not in known]
            if bad:
                raise ValueError(f"stat_columns not in schema: {bad}")
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        table = cls(spark, root)
        manifest = Manifest(
            version=0,
            schema_json=json.dumps(schema.jsonValue()),
            num_buckets=num_buckets,
            key_columns=list(key_columns),
            committed_at=time.time(),
            layout=layout,
            properties=(
                {} if stat_columns is None else {"stat_columns": list(stat_columns)}
            ),
        )
        table._write_manifest(manifest)
        return table

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, _MANIFEST_DIR, _CURRENT))

    # ---------- manifest I/O ----------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:08d}.json")

    def current_version(self) -> int:
        with open(os.path.join(self.root, _MANIFEST_DIR, _CURRENT)) as fh:
            return int(fh.read().strip())

    def snapshot(self, version: int | None = None) -> Manifest:
        if version is None:
            version = self.current_version()
        with open(self._manifest_path(version)) as fh:
            return Manifest.from_json(fh.read(), root=self.root)

    def _write_manifest(self, manifest: Manifest) -> None:
        """Atomic commit under an exclusive advisory lock: exclusive manifest
        create, then atomic ``_current`` pointer swap, both inside a
        ``flock`` on ``_commit.lock``. The lock serializes the create+swap
        critical section across processes (the stand-in for an Iceberg
        catalog's compare-and-swap), which makes the orphan-recovery path
        sound: while we hold the lock, a same-version manifest file that is
        NOT live can only be the leftover of a crashed writer (a live writer
        would be holding the lock between its create and swap; the OS
        releases the lock on process death), so replacing it is safe. A
        same-version manifest that IS live (``current_version() >=
        version``) is a lost optimistic-concurrency race and raises. A crash
        between create and swap leaves the previous snapshot current."""
        # seal OUTSIDE the lock: group docs are immutable + content-
        # addressed, so writing them early never conflicts with a rival
        # writer, and the lock hold time stays O(root doc), not O(groups)
        sealed = manifest._seal(self.root)
        lock_path = os.path.join(self.root, _MANIFEST_DIR, "_commit.lock")
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY)
        try:
            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            # GC under this lock may have taken a reused doc since the seal
            manifest.restore_sealed(self.root, sealed)
            path = self._manifest_path(manifest.version)
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as fh:
                    fh.write(manifest.to_json())
            except FileExistsError:
                if self.current_version() >= manifest.version:
                    raise RuntimeError(
                        f"concurrent commit: manifest v{manifest.version} already live"
                    )
                # crash orphan (see docstring: provably stale under the lock)
                tmp = os.path.join(self.root, _MANIFEST_DIR, f".m.{uuid.uuid4().hex}")
                with open(tmp, "w") as fh:
                    fh.write(manifest.to_json())
                os.replace(tmp, path)
            tmp = os.path.join(self.root, _MANIFEST_DIR, f".current.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(str(manifest.version))
            os.replace(tmp, os.path.join(self.root, _MANIFEST_DIR, _CURRENT))
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
            os.close(lock_fd)

    # ---------- read ----------

    def pids_for_buckets(self, buckets: set[int] | None, m: Manifest) -> set[int] | None:
        if buckets is None:
            return None
        mapping = bucket_to_pid(self.spark, m.num_buckets, m.layout)
        return {mapping[b] for b in buckets}

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
        raw: bool = False,
        with_action: bool = False,
        prune_stats: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """Read a snapshot (optionally bucket-pruned / time-travelled).

        The manifest schema is applied over every file, so files written
        before a column was added read as NULL (schema evolution).
        Iceberg analog: ``spark.read.option("snapshot-id", ...).table(t)``.

        ``with_action=True`` (raw reads only) appends the ``_action``
        bookkeeping column merge writes into its data files — NULL for
        files that predate it or came from compaction/bootstrap — so
        callers (the MERGE's target projection) can tell partial patch
        generations from full images.

        When merge-on-read delta files are outstanding (manifest property
        ``mor_appends > 0``) a key may appear in several file generations;
        the read applies the last-writer-wins fold (per-key max-seq struct
        winner — Iceberg v2 MOR). ``raw=True`` skips the fold AND the
        tombstone filter, returning every physical row — for callers (the
        MERGE itself) that fold downstream anyway. When the manifest flags
        finalized per-column state (property ``colseq > 0``), raw reads
        also carry the hidden ``_colseq`` map (column name -> writer seq
        for columns last written by a patch NEWER than the row's
        full-image seq — see ``_finalize_fold``).

        ``prune_stats`` maps columns to inclusive ``(lo, hi)`` bounds
        (either side None = unbounded). The EXACT predicate is always
        applied to the visible rows, so results are identical with or
        without pruning; the bounds additionally skip whole files via the
        manifest zone maps wherever that is provably sound under
        merge-on-read:

        - key columns prune on both sides always (the fold groups by key,
          so a file with no key in range contributes nothing to keys in
          range);
        - with NO fold debt outstanding, every column prunes on both sides
          (one visible row per physical row) — except ``seq`` on a
          finalized table, whose visible value is lifted by ``_colseq``;
        - ``seq`` under plain full-image MOR debt prunes on the LOWER
          bound only: the per-key winner is the max-seq row, so files
          whose max seq < lo hold only shadowed or filtered-out rows
          (upper-bound pruning would drop shadowing newer rows and
          resurrect stale values — never done).

        Raw reads reject ``prune_stats``: their contract is every physical
        row.
        """
        from pyspark.sql.types import LongType, MapType, StringType, StructField

        m = self.snapshot(version)
        files = m.files_for_pids(self.pids_for_buckets(buckets, m))
        schema = m.schema
        patch_outstanding = int(m.properties.get("patch_deltas", 0)) > 0
        colseq_out = int(m.properties.get("colseq", 0)) > 0
        if prune_stats:
            if raw:
                raise ValueError("prune_stats is not supported on raw reads")
            unknown = [c for c in prune_stats if c not in schema.fieldNames()]
            if unknown:
                raise ValueError(f"prune_stats columns not in schema: {unknown}")
            mor_out = int(m.properties.get("mor_appends", 0)) > 0
            debt = patch_outstanding or mor_out
            sides: dict[str, tuple[bool, bool]] = {}
            for col in prune_stats:
                if col in m.key_columns:
                    sides[col] = (True, True)
                elif not debt:
                    sides[col] = (False, False) if (col == "seq" and colseq_out) else (True, True)
                elif col == "seq" and not patch_outstanding and not colseq_out:
                    sides[col] = (True, False)
                else:
                    sides[col] = (False, False)
            files = [
                f
                for f in files
                if not self._zone_map_prunes(f.get("stats"), prune_stats, sides)
            ]
        read_action = with_action or patch_outstanding
        extra_fields: list[StructField] = []
        if read_action:
            extra_fields.append(StructField("_action", StringType(), True))
        if colseq_out:
            extra_fields.append(
                StructField("_colseq", MapType(StringType(), LongType()), True)
            )
        read_schema = (
            StructType(list(schema.fields) + extra_fields) if extra_fields else schema
        )
        if not files:
            df = self.spark.createDataFrame([], read_schema)
        else:
            df = self.spark.read.schema(read_schema).parquet(*[
                os.path.join(self.root, f["path"]) for f in files
            ])
        if raw:
            return df if with_action else df.drop("_action")
        if read_action and not patch_outstanding:
            df = df.drop("_action")  # folded reads never expose bookkeeping
        if buckets is not None:
            # bucket->pid is Murmur3 mod B (not injective): the pid file
            # groups may contain sibling buckets — post-filter for an exact
            # bucket-scoped result.
            df = df.where(m.bucket_expr().isin(*[int(b) for b in buckets]))
        mor_outstanding = int(m.properties.get("mor_appends", 0)) > 0
        if patch_outstanding or (colseq_out and mor_outstanding):
            # Per-COLUMN fold (partial-image patch generations outstanding,
            # and/or finalized _colseq rows coexisting with newer delta
            # generations): liveness and the row's base come from the
            # max-seq FULL generation; each payload column independently
            # takes the max-seq WRITER among full images (which set every
            # column, NULLs included — a finalized row's per-column writer
            # seq is its _colseq entry, falling back to the row seq) and
            # the patches that set it — column-level last-writer-wins,
            # exact under arbitrary cross-epoch reordering because every
            # patch generation (or _colseq entry) keeps its own seq.
            # Keys with no full generation at all (orphan patches) drop.
            # The row seq is the newest writer folded in, so a redelivered
            # event always seq-ties or loses (idempotence).
            others = [c for c in schema.fieldNames() if c not in m.key_columns and c != "seq"]
            payload = [c for c in others if c != "deleted"]
            is_patch = (
                F.coalesce(F.col("_action") == "patch", F.lit(False))
                if "_action" in df.columns
                else F.lit(False)
            )

            def _gseq(p: str) -> Column:
                return per_column_writer_seq(
                    p, is_patch=is_patch, has_colseq=colseq_out
                )

            rowmax = (
                F.greatest(
                    F.col("seq"), F.array_max(F.map_values(F.col("_colseq")))
                )
                if colseq_out
                else F.col("seq")
            )
            df = (
                df.groupBy(*m.key_columns)
                .agg(
                    F.max(F.when(~is_patch, F.struct("seq", "deleted"))).alias("_b"),
                    F.max(rowmax).alias("_smax"),
                    *[
                        F.max(
                            F.when(
                                ~is_patch | F.col(p).isNotNull(),
                                F.struct(_gseq(p).alias("s"), F.col(p).alias("v")),
                            )
                        ).alias(f"_c_{p}")
                        for p in payload
                    ],
                )
                .where(F.col("_b").isNotNull())
                .select(
                    *m.key_columns,
                    F.col("_smax").alias("seq"),
                    F.col("_b.deleted").alias("deleted"),
                    *[F.col(f"_c_{p}.v").alias(p) for p in payload],
                )
                .select(*[f.name for f in schema.fields])
            )
        elif colseq_out:
            # Finalized per-column state with NO generations outstanding:
            # exactly one physical row per key, so the visible state is a
            # pure PROJECTION (no shuffle, no fold) — the row seq lifts to
            # the newest per-column writer recorded in _colseq (visible
            # semantics identical to the armed fold's _smax).
            df = df.withColumn(
                "seq",
                F.greatest(
                    F.col("seq"), F.array_max(F.map_values(F.col("_colseq")))
                ),
            ).select(*[f.name for f in schema.fields])
        elif mor_outstanding:
            # Wide max-struct fold, kept ON MEASUREMENT (VERDICT r02 #6
            # asked for a key-narrow fold + winners join-back; both its
            # sort-merge and shuffled-hash-semi-join variants were built
            # and A/B'd at 4M events / 8 outstanding delta generations and
            # measured 1.6–2.2× SLOWER — 260 B and 3 KB content alike; see
            # BENCH/BASELINE.md round 3). Why the wide fold wins: the
            # struct comparison short-circuits on the leading ``seq``
            # field and (key, seq) is unique across generations by MERGE
            # construction (a seq tie with the stored row resolves to
            # 'carry', which writes nothing) — so content bytes are MOVED
            # exactly once but never compared, which is already optimal;
            # the narrow variant pays a second table scan plus two extra
            # narrow exchanges to move the same content once.
            others = [c for c in df.columns if c not in m.key_columns and c != "seq"]
            w = F.max(F.struct("seq", *others)).alias("_w")
            df = (
                df.groupBy(*m.key_columns)
                .agg(w)
                .select(
                    *m.key_columns,
                    F.col("_w.seq").alias("seq"),
                    *[F.col(f"_w.{c}").alias(c) for c in others],
                )
                # schema-stable reads: same column order whether or not the
                # fold ran (consumers must not see fold state in the schema)
                .select(*[f.name for f in schema.fields])
            )
        if prune_stats:
            # the exact predicate, applied to the VISIBLE rows — results
            # are bound-identical whether or not any file was pruned
            for col, (lo, hi) in prune_stats.items():
                if lo is not None:
                    df = df.where(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(col) <= F.lit(hi))
        if not include_tombstones and "deleted" in df.columns:
            df = df.where(~F.col("deleted"))
        return df

    @staticmethod
    def _zone_map_prunes(
        stats: dict[str, list[Any]] | None,
        bounds: dict[str, tuple[Any, Any]],
        sides: dict[str, tuple[bool, bool]],
    ) -> bool:
        """True when a file's zone map proves it holds NO row matching the
        bounds, restricted to the sides ``read`` established as sound for
        each column. Missing stats (old manifests, unsupported types) and
        incomparable bound types keep the file — pruning is only ever an
        over-approximation of the matching file set."""
        if not stats:
            return False
        for col, (lo, hi) in bounds.items():
            rng = stats.get(col)
            if not rng:
                continue
            lo_ok, hi_ok = sides[col]
            fmin, fmax = rng
            try:
                if lo_ok and lo is not None and fmax < lo:
                    return True
                if hi_ok and hi is not None and fmin > hi:
                    return True
            except TypeError:
                continue
        return False

    @contextlib.contextmanager
    def staged_bucketed_target(
        self,
        m: Manifest,
        buckets: set[int] | None,
        columns: list[str],
    ):
        """Register this snapshot's live files (bucket-pruned) as a TEMPORARY
        Spark catalog BUCKETED table and yield its DataFrame.

        Requires ``layout='spark'`` (pid == Spark bucket id, every file pure
        one bucket — enforced at write time by ``_assert_bucket_purity``).
        The scan then reports ``HashPartitioning(key, B)``, which is what
        lets the MERGE's join-shaped fold run with ZERO exchanges
        (operators/merge.py ``fold='join'``). On a real cluster this is
        Iceberg's storage-partitioned-join scan reporting (SPARK-37375 /
        Iceberg ``spark.sql.sources.v2.bucketing.enabled``); a file-manifest
        reader has no way to declare its partitioning to Catalyst, so we
        hand Catalyst the one shape it does trust — a catalog bucketed
        table — via a per-epoch link farm (hardlinks, O(files) metadata
        ops, no bytes copied; falls back to symlinks across devices).

        ``columns`` picks the projection DDL-declared on the staged table
        (the MERGE wants only the narrow (key, seq, deleted) target view;
        parquet prunes the rest as usual)."""
        import shutil

        if m.layout != "spark":
            raise ValueError("staged_bucketed_target requires layout='spark'")
        files = m.files_for_pids(self.pids_for_buckets(buckets, m))
        name = f"mxetl_stage_{uuid.uuid4().hex[:12]}"
        stage = os.path.join(self.root, "_stage", name)
        os.makedirs(stage)
        try:
            for i, f in enumerate(files):
                src = os.path.join(self.root, f["path"])
                dst = os.path.join(stage, f"g{i:05d}_{f['pid']:05d}.parquet")
                try:
                    os.link(src, dst)
                except OSError:
                    os.symlink(os.path.abspath(src), dst)
            from multiversx_etl_spark.sources.changelog import (
                create_bucketed_external_table,
            )

            yield create_bucketed_external_table(
                self.spark, name,
                [f for f in m.schema.fields if f.name in columns],
                m.key_columns, m.num_buckets, stage,
            )
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(stage, ignore_errors=True)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change feed (Iceberg analog: changelog scan / CDC read): the
        logical row changes committed in ``(from_version, to_version]``,
        with a ``change_type`` column (insert / update / delete /
        tombstone). The engine is thus a CDC *emitter* as well as a sink —
        a downstream consumer tails the table incrementally instead of
        re-reading it.

        Zero extra bookkeeping: MERGE already writes each delta row's
        ``_action`` into the data files (invisible to normal reads), so the
        feed is just the files added by merge commits in the range. A merge
        appends only its winners and patch generations, each carrying one
        writer seq, so every feed row is an exact row image (or partial
        image, ``change_type='patch'``); per-column ``_colseq`` state is
        written only by the commits skipped below. ``compact``/
        ``rebucket`` commits reorganize bytes and ``update-schema``/
        ``set-clustering`` commits change only metadata — nothing logical
        either way, so all four are skipped (the feed projects
        ``to_version``'s schema, so a mid-range widening reads older delta
        files with the added columns as NULL);
        ``bootstrap``/``promote``/``rollback`` REPLACE state
        wholesale and cannot be expressed as a row delta — the range
        raises and the consumer re-syncs from a snapshot (the same
        contract Iceberg's changelog scan has for overwrites)."""
        from pyspark.sql.types import StringType, StructField

        if to_version is None:
            to_version = self.current_version()
        if from_version > to_version:
            raise ValueError(f"from_version {from_version} > to_version {to_version}")
        to_m = self.snapshot(to_version)
        paths: list[str] = []
        # each iteration's manifest is the next one's parent: diff group
        # REFS (added_files) instead of re-materializing every file list —
        # groups whose content-addressed ref is unchanged are skipped
        # without a single group-doc read, so a replication round costs
        # O(changed buckets) per version, not O(table)
        try:
            prev_m = self.snapshot(from_version)
        except FileNotFoundError:
            raise ValueError(
                f"version {from_version} is beyond the retention window "
                "(expire_snapshots dropped it): the delta since then is "
                "gone — re-sync from a snapshot read instead"
            ) from None
        for v in range(from_version + 1, to_version + 1):
            try:
                m = self.snapshot(v)
            except FileNotFoundError:
                # a concurrent expire_snapshots can drop a mid-range
                # manifest between iterations (changes() does not hold the
                # commit lock): same retention contract as the from_version
                # probe above, not a raw FileNotFoundError
                raise ValueError(
                    f"version {v} is beyond the retention window "
                    "(expire_snapshots dropped it): the delta since then is "
                    "gone — re-sync from a snapshot read instead"
                ) from None
            if m.operation in ("compact", "rebucket", "update-schema", "set-clustering"):
                # compact/rebucket reorganize bytes; update-schema/
                # set-clustering change only metadata — no logical row
                # change either way (a mid-range widening still reads
                # correctly: the feed projects to_version's schema, so
                # pre-widening delta files fill the added columns as NULL)
                prev_m = m
                continue
            if not m.operation.startswith("merge"):
                raise ValueError(
                    f"version {v} is a '{m.operation}' commit (full state "
                    "replacement): the range has no row-delta form — "
                    "re-sync from a snapshot read instead"
                )
            paths += [
                os.path.join(self.root, f["path"])
                for f in m.added_files(prev_m)
            ]
            prev_m = m
        read_schema = StructType(
            list(to_m.schema.fields) + [StructField("_action", StringType(), True)]
        )
        if not paths:
            return self.spark.createDataFrame([], read_schema).withColumnRenamed(
                "_action", "change_type"
            )
        return (
            self.spark.read.schema(read_schema)
            .parquet(*paths)
            # older copy-on-write merge files hold untouched 'carry' rows
            .where(F.col("_action") != "carry")
            .withColumnRenamed("_action", "change_type")
        )

    def lookup(self, **key: Any) -> DataFrame:
        """Point lookup by full upsert key: prunes to the ONE bucket the key
        hashes to (reads only that pid's file group — at 100 TB that is a
        B-th of the table) and pushes the key equality into the parquet
        scan, where the key-sorted base files (compact) let row-group
        min/max stats skip almost everything. Iceberg analog: metadata-
        pruned scan on a bucket-partitioned, sort-ordered table."""
        m = self.snapshot()
        missing = [k for k in m.key_columns if k not in key]
        if missing:
            raise ValueError(f"lookup requires the full key; missing {missing}")
        # probe row carries the TABLE's key types: hashing a long key as a
        # string would prune to the wrong bucket and silently return empty
        key_schema = StructType([m.schema[k] for k in m.key_columns])
        cache_key = (
            m.num_buckets,
            m.layout,
            key_schema.json(),
            tuple(key[k] for k in m.key_columns),
        )
        bucket = _BUCKET_CACHE.get(cache_key)
        if bucket is None:
            row = self.spark.createDataFrame(
                [tuple(key[k] for k in m.key_columns)], key_schema
            )
            bucket = int(row.select(m.bucket_expr().alias("b")).collect()[0]["b"])
            _BUCKET_CACHE[cache_key] = bucket
        # zone-map assist: a key equality is the degenerate range (v, v) —
        # files whose manifest key stats exclude v are never even listed
        # in the scan (on a compacted, key-sorted table the probe reads
        # one file's one row group instead of the bucket's file group)
        prune = {
            k: (key[k], key[k])
            for k in m.key_columns
            if isinstance(key[k], (str, int, float))
        }
        df = self.read(buckets={int(bucket)}, prune_stats=prune or None)
        for k in m.key_columns:
            df = df.where(F.col(k) == key[k])
        return df

    def bucket_of(self, version: int | None = None) -> Column:
        """Bucket id of each row's key — under the layout of ``version``
        (default: current). Callers pruning a TIME-TRAVELLED read must pass
        that read's version: rebucket() changes num_buckets between
        snapshots, and a bucket id computed under one layout prunes
        garbage under another."""
        m = self.snapshot(version)
        return m.bucket_expr()

    def is_epoch_committed(self, stream_id: str, epoch_id: int) -> bool:
        m = self.snapshot()
        return m.epoch_info(stream_id, epoch_id) is not None

    def last_committed_epoch(self, stream_id: str) -> int | None:
        m = self.snapshot()
        s = m.streams.get(stream_id)
        return None if s is None else s.get("last_epoch")

    # ---------- write ----------

    @staticmethod
    def _stat_scalar(v: Any) -> Any:
        """Normalize a parquet footer statistic to a JSON-storable scalar
        whose Python ordering matches Spark's column ordering — int/float/
        bool directly, UTF-8 strings (Python compares code points, UTF-8
        bytes preserve code-point order, and parquet string stats are
        UTF8-ordered, so the three orders agree). Anything else (decimal,
        timestamp, binary that is not UTF-8) returns None: the column just
        records no zone map, which disables pruning, never correctness."""
        if isinstance(v, bool) or isinstance(v, int):
            return v
        if isinstance(v, float):
            import math

            return None if math.isnan(v) else v
        if isinstance(v, str):
            return v
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        return None

    @classmethod
    def _file_column_stats(cls, pf, cols: list[str]) -> dict[str, list[Any]]:
        """Per-file zone map: ``{col: [min, max]}`` aggregated over the
        footer's row-group statistics (the footer object is already in hand
        from the row-count read — collection is pure metadata access, no
        data bytes). A column drops out entirely when ANY row group lacks
        usable stats (except all-NULL groups, which bound nothing but can
        never match a range predicate either) — absent stats mean "never
        prune", so the map is always a sound over-approximation. Top-level
        scalar columns only: nested leaves have dotted paths that won't
        match, and range predicates on them aren't file-prunable anyway."""
        md = pf.metadata
        if md.num_row_groups == 0 or not cols:
            return {}
        rg0 = md.row_group(0)
        leaf = {rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)}
        out: dict[str, list[Any]] = {}
        for col in cols:
            i = leaf.get(col)
            if i is None:
                continue
            lo = hi = None
            usable = True
            for rg in range(md.num_row_groups):
                c = md.row_group(rg).column(i)
                st = c.statistics
                if st is None:
                    usable = False
                    break
                if not st.has_min_max:
                    if st.null_count == c.num_values:
                        continue  # all-NULL group: bounds nothing, matches nothing
                    usable = False
                    break
                mn = cls._stat_scalar(st.min)
                mx = cls._stat_scalar(st.max)
                if mn is None or mx is None:
                    usable = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if usable and lo is not None:
                out[col] = [lo, hi]
        return out

    @staticmethod
    def _declared_clustering(m: Manifest) -> tuple[list[str], int | None]:
        """The snapshot's declared clustering spec (set_clustering), as
        (sort_columns, max_records_per_file) — empty/None when undeclared.
        The ONE resolution rule shared by compact and rebucket, so a layout
        rewrite can never silently drop the declared clustering."""
        cols = [c for c in m.properties.get("clustering_sort_columns", []) if c]
        mrpf = int(m.properties.get("clustering_max_records_per_file", 0)) or None
        return cols, mrpf

    @staticmethod
    def _resolved_stat_columns(
        m: Manifest, extras: list[str] | None = None
    ) -> list[str]:
        """The columns whose zone maps a write against snapshot ``m``
        records: the ``stat_columns`` manifest property (default: the key
        columns) plus ``extras``, deduped in order. The ONE resolution
        rule — both the file writer and the property compact persists go
        through it, so the recorded stats and the declared set can't
        drift."""
        cols = m.properties.get("stat_columns")
        cols = list(m.key_columns) if cols is None else list(cols)
        for c in extras or []:
            if c not in cols:
                cols.append(c)
        return cols

    def write_data_files(
        self,
        df: DataFrame,
        commit_tag: str,
        bucket_aligned: bool = False,
        keep_bucket: bool = False,
        sort_columns: list[str] | None = None,
        max_records_per_file: int | None = None,
        stat_columns: list[str] | None = None,
    ) -> list[dict[str, Any]]:
        """Write ``df`` (which must carry a ``_bucket`` column) under
        ``data/<commit_tag>/`` as ONE plain parquet file per shuffle
        partition of ``repartition(B, _bucket)`` and return manifest entries
        labeled with the partition id parsed from the task's file name.

        ``bucket_aligned=True`` promises the caller's plan already carries
        exactly that partitioning (e.g. the merge aggregate), skipping the
        exchange. Plain files beat ``partitionBy`` (dynamic-partition
        writer): ~35% faster here and it scales with cores.

        ``keep_bucket=True`` writes the ``_bucket`` column into the files
        (readers never see it — reads apply the manifest schema, so parquet
        prunes it): the MERGE uses it to derive per-bucket ledger stats from
        the written files without recomputing the hash.

        ``sort_columns`` sorts rows WITHIN each partition before writing
        (no extra shuffle — a partition-local sort): parquet row-group
        min/max statistics then make key point-lookups skip row groups, the
        clustering/data-skipping half of Iceberg's sorted rewrite.

        ``max_records_per_file`` splits each partition's output into files
        of at most that many rows; combined with ``sort_columns`` each file
        covers a consecutive slice of the sort order, so the manifest zone
        maps (below) become range-disjoint and file-level pruning bites.

        Every file's manifest entry records a zone map (``stats``: per-
        column min/max) for the table's stat columns — the manifest
        property ``stat_columns``, defaulting to the key columns — plus any
        ``stat_columns`` passed here. Collected from the parquet footer
        already opened for the row count, so it costs no extra I/O;
        ``read(prune_stats=...)`` then skips whole files at plan time
        without touching any footer (Iceberg analog: per-file column
        metrics in the manifest driving scan planning — at 10^6 files the
        planner must not open 10^6 footers).
        """
        import pyarrow.parquet as pq

        m = self.snapshot()
        stat_cols = self._resolved_stat_columns(m, stat_columns)
        out_dir = os.path.join(self.root, "data", commit_tag)
        if not bucket_aligned:
            df = repartition_for_write(df, m.num_buckets, m.key_columns, m.layout)
        if not keep_bucket:
            df = df.drop("_bucket")
        if sort_columns:
            df = df.sortWithinPartitions(*sort_columns)
        writer = df.write.mode("overwrite")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(out_dir)
        entries: list[dict[str, Any]] = []
        for fname in sorted(os.listdir(out_dir)):
            if not fname.endswith(".parquet"):
                continue
            match = _PART_RE.match(fname)
            if match is None:
                raise RuntimeError(f"unexpected data file name: {fname}")
            path = os.path.join("data", commit_tag, fname)
            # footer-only read (driver-side, ~ms): record real row counts in
            # the manifest and drop schema-only empty files (Spark writes one
            # for an all-empty DataFrame — e.g. an all-carry MOR batch)
            pf = pq.ParquetFile(os.path.join(self.root, path))
            n_rows = pf.metadata.num_rows
            if n_rows == 0:
                continue
            pid = int(match.group(1))
            if m.layout == "spark" and keep_bucket:
                # The spark layout's whole value rests on pid == bucket
                # (files double as catalog bucket files; pruning trusts it).
                # A caller that passed bucket_aligned=True with a plan whose
                # final partitioning is NOT HashPartitioning(key, B) — e.g.
                # a fold whose input lost its bucketed-scan property — would
                # write impure files and silently corrupt pruning. The
                # footer's _bucket min/max (already in hand) makes the
                # invariant airtight at ~zero cost.
                self._assert_bucket_purity(pf, path, pid)
            entry: dict[str, Any] = {"path": path, "pid": pid, "rows": n_rows}
            stats = self._file_column_stats(pf, stat_cols)
            if stats:
                entry["stats"] = stats
            entries.append(entry)
        return entries

    @staticmethod
    def _assert_bucket_purity(pf, path: str, pid: int) -> None:
        md = pf.metadata
        if md.num_row_groups == 0:
            return
        # resolve the LEAF column index from the metadata's own paths:
        # parquet row-group metadata flattens nested columns (tags.list.
        # element, shards.list.element.shard, ...), so a top-level arrow
        # schema index points at the wrong leaf the moment the table has
        # any nested column — and the guard would then read a foreign
        # column's stats and reject perfectly pure files
        rg0 = md.row_group(0)
        idx = None
        for i in range(rg0.num_columns):
            if rg0.column(i).path_in_schema == "_bucket":
                idx = i
                break
        if idx is None:
            return
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                continue  # this row group offers no stats; check the rest
            if stats.min != pid or stats.max != pid:
                raise RuntimeError(
                    f"bucket-impure data file {path}: pid {pid} holds "
                    f"_bucket range [{stats.min}, {stats.max}] — the write "
                    "plan's partitioning does not match the spark layout "
                    "(common cause: a fold='join' replay whose bucketed log "
                    "was written under a DIFFERENT bucket count than the "
                    "table — e.g. after rebucket(); re-bucket the log or "
                    "use fold='union')"
                )

    def commit(
        self,
        new_files: list[dict[str, Any]],
        replaced_pids: set[int],
        operation: str,
        stream_id: str | None = None,
        epoch_id: int | None = None,
        epoch_info: dict[str, Any] | None = None,
        schema: StructType | None = None,
        expected_parent: int | None = None,
        properties: dict[str, Any] | None = None,
        marker_mode: str = "contiguous",
        num_buckets: int | None = None,
        replaced_paths: set[str] | None = None,
    ) -> Manifest:
        """Commit new files, replacing ``replaced_pids`` file groups
        (compact, rebucket, reseed) — or none (``set()``): a merge-on-read
        delta append.

        Data files + epoch marker + schema change land in ONE atomic snapshot
        (Iceberg analog: MERGE commit + snapshot summary properties).
        ``expected_parent`` gives optimistic concurrency: the commit fails if
        another writer advanced the table meanwhile. ``properties`` merge
        over the parent's (e.g. the ``mor_appends`` outstanding-delta
        counter).

        ``replaced_paths`` replaces individual FILES instead of whole pid
        groups (``replaced_pids`` then scopes which pid groups the paths may
        live in — the liveness check and filter materialize ONLY those
        groups; pass the pids the rewrite consumed): the rebase mode online
        compaction uses to land a rewrite on top of concurrent MOR appends —
        delta files another writer added to the same pid groups meanwhile
        must survive the commit. Every replaced path must still be live in
        the parent (within the scope — files never migrate pids without a
        layout change, which _rebase_sound already refuses), else the
        rewrite is stale and the commit refuses (Iceberg analog:
        RewriteFiles validation on retry).

        Sharded-manifest contract: pid groups outside
        ``replaced_pids ∪ pids(new_files)`` carry the parent's group refs
        verbatim — no group doc is read or rewritten for them — so the
        commit is O(touched buckets) in both I/O and JSON bytes.
        """
        parent = self.snapshot()
        if expected_parent is not None and parent.version != expected_parent:
            raise RuntimeError(
                f"concurrent commit: expected parent {expected_parent}, "
                f"found {parent.version}"
            )
        new_by_pid: dict[int, list[dict[str, Any]]] = {}
        for f in new_files:
            new_by_pid.setdefault(int(f["pid"]), []).append(f)
        slots = parent.carry_slots()
        if replaced_paths is not None:
            scope = set(replaced_pids) | set(new_by_pid)
            if not replaced_pids:
                scope = set(parent.slot_pids()) | set(new_by_pid)  # unscoped
            live_in_scope = {
                f["path"]
                for pid in scope
                for f in parent.files_for_pids({pid})
            }
            missing = replaced_paths - live_in_scope
            if missing:
                raise RuntimeError(
                    f"concurrent commit: {len(missing)} replaced file(s) no "
                    f"longer live in v{parent.version} "
                    f"(e.g. {sorted(missing)[:2]})"
                )
            for pid in scope:
                if pid in slots:
                    slots[pid] = {
                        "files": [
                            f
                            for f in parent.files_for_pids({pid})
                            if f["path"] not in replaced_paths
                        ]
                    }
        else:
            for pid in replaced_pids:
                slots.pop(pid, None)
            # untouched-but-appended groups must merge with the parent's
            # files — materialize exactly those
            for pid in new_by_pid:
                if pid in slots and pid not in replaced_pids:
                    slots[pid] = {"files": list(parent.files_for_pids({pid}))}
        for pid, fs in new_by_pid.items():
            slot = slots.get(pid)
            if slot is None:
                slots[pid] = {"files": list(fs)}
            else:
                # guaranteed materialized by the scoping above
                slot["files"] = slot["files"] + fs
                slot.pop("ref", None)
        streams = json.loads(json.dumps(parent.streams))  # deep copy
        if stream_id is not None and epoch_id is not None:
            entry = streams.setdefault(stream_id, {"epochs": {}, "last_epoch": None})
            entry["epochs"][str(epoch_id)] = epoch_info or {}
            last = entry.get("last_epoch")
            entry["last_epoch"] = epoch_id if last is None else max(last, epoch_id)
            if marker_mode == "latest_only":
                # version-tracking streams (replication: epoch id = upstream
                # snapshot version, monotone with gaps) only ever consult
                # the MAX marker — keeping every gapped id would grow the
                # manifest O(rounds) since the contiguous watermark can
                # never advance over the gaps.
                entry["epochs"] = {
                    str(entry["last_epoch"]): entry["epochs"].get(
                        str(entry["last_epoch"]), epoch_info or {}
                    )
                }
            else:
                # advance the contiguous-commit watermark and drop markers
                # under it, keeping the most recent _EPOCH_INFO_KEEP for
                # observability: the manifest carries O(recent +
                # out-of-order) markers, not O(all epochs) — at 10^10
                # events / thousands of epochs the per-commit JSON rewrite
                # would otherwise grow without bound.
                w = int(entry.get("epochs_through", -1))
                epochs = entry["epochs"]
                while str(w + 1) in epochs:
                    w += 1
                entry["epochs_through"] = w
                cutoff = w - _EPOCH_INFO_KEEP
                for e in [e for e in epochs if int(e) <= cutoff]:
                    del epochs[e]
        props = dict(parent.properties)
        if properties:
            props.update(properties)
        manifest = Manifest(
            version=parent.version + 1,
            schema_json=json.dumps(schema.jsonValue()) if schema else parent.schema_json,
            num_buckets=parent.num_buckets if num_buckets is None else num_buckets,
            key_columns=parent.key_columns,
            slots=slots,
            streams=streams,
            parent=parent.version,
            operation=operation,
            committed_at=time.time(),
            properties=props,
            layout=parent.layout,
            root=self.root,
        )
        self._write_manifest(manifest)
        return manifest

    def _finalize_fold(
        self, m: Manifest, buckets: set[int] | None, target_buckets: int
    ):
        """Per-column-EXACT collapse of every outstanding generation (full
        images, patch generations, prior ``_colseq`` rows) into ONE row per
        key, plus the orphan patch generations that cannot collapse.

        The output row keeps the FULL-image winner's ``seq`` — liveness and
        row-level LWW are decided among full images alone, so that seq is
        never coarsened — and every column whose last writer was a patch
        NEWER than that winner gets an entry in the hidden ``_colseq`` map
        (column name -> writer seq; NULL map = no contested columns).
        Because each contested column keeps its own writer seq, a full
        image arriving with ANY later seq still folds per-column exactly:
        finalization carries no bounded-lateness contract. Entries
        self-clear as newer full images supersede them (the entry is kept
        only while its seq exceeds the full-image winner's).

        ORPHAN patches (keys with no full image at all) have no row to
        collapse into; they are returned separately — deduped per (key,
        seq), still carrying ``_action='patch'`` — for the caller to
        rewrite as generations, so a base image arriving arbitrarily late
        still picks them up. Both outputs carry ``_bucket`` under
        ``target_buckets``."""
        key = m.key_columns
        # pinned to the manifest the caller resolved: compact/rebucket pass
        # the current one, but reseed_replica captures a version FIRST and
        # must fold exactly that state (a concurrent upstream commit between
        # capture and plan execution must not leak into the seed)
        raw = self.read(
            version=m.version,
            buckets=buckets,
            include_tombstones=True,
            raw=True,
            with_action=True,
        )
        is_patch = F.coalesce(F.col("_action") == "patch", F.lit(False))
        has_colseq = "_colseq" in raw.columns
        payload = [
            f.name
            for f in m.schema.fields
            if f.name not in key and f.name not in ("seq", "deleted")
        ]

        def _gseq(p: str) -> Column:
            return per_column_writer_seq(p, is_patch=is_patch, has_colseq=has_colseq)

        # Scan economics: the folded write reads the touched groups once in
        # full; the orphan branch re-reads only patch-generation row groups
        # (pushed _action='patch' predicate — base files' all-NULL stats
        # skip), and full_keys is a key-columns-only pruned scan — so the
        # extra passes cost row-group metadata plus the (small) patch rows,
        # not another full-group read.
        agg = raw.groupBy(*key).agg(
            F.max(F.when(~is_patch, F.struct("seq", "deleted"))).alias("_b"),
            *[
                F.max(
                    F.when(
                        ~is_patch | F.col(p).isNotNull(),
                        F.struct(_gseq(p).alias("s"), F.col(p).alias("v")),
                    )
                ).alias(f"_c_{p}")
                for p in payload
            ],
        )
        colseq = colseq_map_expr(payload, F.col("_b.seq"))
        folded = (
            agg.where(F.col("_b").isNotNull())
            .select(
                *key,
                F.col("_b.seq").alias("seq"),
                F.col("_b.deleted").alias("deleted"),
                *[F.col(f"_c_{p}.v").alias(p) for p in payload],
                colseq.alias("_colseq"),
            )
            .withColumn("_bucket", bucket_expr(key, target_buckets, m.layout))
        )
        full_keys = raw.where(~is_patch).select(*key).distinct()
        orphans = (
            raw.where(is_patch)
            .join(full_keys, on=key, how="left_anti")
            .dropDuplicates([*key, "seq"])  # redelivered partials
            .drop("_colseq")  # patch generations never carry per-column state
            .withColumn("_bucket", bucket_expr(key, target_buckets, m.layout))
        )
        return folded, orphans

    def _write_finalized(
        self,
        folded: DataFrame,
        orphans: DataFrame,
        tag: str,
        *,
        write_orphans: bool,
        sort_columns: list[str],
        bucket_aligned: bool = False,
        max_records_per_file: int | None = None,
        stat_columns: list[str] | None = None,
    ) -> tuple[list[dict], int, int]:
        """Write a ``_finalize_fold`` output pair into THIS table's
        directory — the one recipe shared by compact, rebucket, and
        replica reseed: orphan patch generations first (``base: false``),
        then the folded base rows (``base: true``) with the number of
        ``_colseq``-carrying rows observed in the same pass. Returns
        ``(files, n_orphan_rows, n_colseq_rows)``; callers pre-shape the
        dataframes (re-hash / repartition) and derive their own manifest
        properties from the counts."""
        from pyspark.sql import Observation

        patch_files: list[dict] = []
        n_orphans = 0
        if write_orphans:
            patch_files = self.write_data_files(
                orphans,
                f"{tag}-p",
                bucket_aligned=bucket_aligned,
                sort_columns=sort_columns,
                max_records_per_file=max_records_per_file,
                stat_columns=stat_columns,
            )
            for f in patch_files:
                f["base"] = False
            n_orphans = sum(f["rows"] for f in patch_files)
        obs = Observation(f"{tag}-colseq")
        folded = folded.observe(
            obs,
            F.sum(F.when(F.col("_colseq").isNotNull(), 1).otherwise(0)).alias("n"),
        )
        base_files = self.write_data_files(
            folded,
            tag,
            bucket_aligned=bucket_aligned,
            sort_columns=sort_columns,
            max_records_per_file=max_records_per_file,
            stat_columns=stat_columns,
        )
        for f in base_files:
            f["base"] = True
        # an all-orphan fold writes ZERO base rows: the write plan collapses
        # to an empty scan with no tasks, no metrics row is ever observed,
        # and Observation.get would trip a JVM assertion — gate on rows
        wrote_colseq = (
            int(obs.get["n"] or 0) if any(f["rows"] for f in base_files) else 0
        )
        return base_files + patch_files, n_orphans, wrote_colseq

    def _rebase_sound(
        self,
        base: "Manifest",
        parent: "Manifest",
        replaced_paths: set[str],
        scope_pids: set[int] | None = None,
    ) -> bool:
        """True iff landing a rewrite of ``replaced_paths`` (folded from the
        ``base`` snapshot) on top of ``parent`` is provably exact — the
        online-compaction rebase check (Iceberg analog: the conflict
        validation a RewriteFiles commit runs on retry).

        Sound when (a) ``parent`` descends from EXACTLY the ``base``
        manifest through commits that only ADD logical rows or metadata
        (``merge-*`` / ``update-schema`` / ``set-clustering`` — never a
        compact/rebucket/bootstrap/promote, and never a rollback, which
        repoints ``_current`` off the chain entirely, so the ancestor walk
        refuses it structurally), (b) every file the rewrite replaces is
        still live in ``parent`` (a commit that consumed one would make the
        rewrite stale — it no longer folds those rows' latest state),
        and (c) the physical layout is unchanged (the rewrite's files are
        bucket-aligned under ``base``'s layout). Under those rules the
        rebased state is file-for-file identical to the sequential order
        "compact first, then the concurrent commits": MOR merge output
        depends only on its batch, never on the table state it landed on.

        Identity of the chain foot is checked by (version, committed_at) —
        version alone could match a different-timeline manifest left by a
        rollback-then-recommit overwrite."""
        if (
            parent.num_buckets != base.num_buckets
            or parent.layout != base.layout
        ):
            return False
        # scope_pids (the pids the rewrite consumed) keeps the liveness
        # check O(touched groups): files never migrate pids under an
        # unchanged layout, which the guard above already enforces
        if replaced_paths - {
            f["path"] for f in parent.files_for_pids(scope_pids)
        }:
            return False
        cur = parent
        try:
            while cur.version > base.version:
                op = cur.operation
                if not (
                    op.startswith("merge")
                    or op in ("update-schema", "set-clustering")
                ):
                    return False
                if cur.parent is None:
                    return False
                cur = self.snapshot(cur.parent)
        except FileNotFoundError:
            # a concurrent expire_snapshots dropped a mid-chain manifest:
            # cannot prove the chain — full retry, never a guess
            return False
        return (
            cur.version == base.version
            and cur.committed_at == base.committed_at
        )

    def noop_descends_from(
        self,
        base: "Manifest",
        parent: "Manifest",
        allowed_ops: tuple[str, ...] = ("compact", "set-clustering", "update-schema"),
    ) -> bool:
        """True iff ``parent`` descends from exactly ``base`` through
        commits that are LOGICAL NO-OPS under the same physical layout —
        the cheap-rebase check a MERGE uses after losing its optimistic
        race to maintenance: the fold's output was computed against
        logical row state, which compaction / metadata commits do not
        change, so the merge re-commits against the new parent without
        recomputing anything. A rebucket changes the layout (the merge's
        delta files are bucket-aligned under ``base``'s) and a rival merge
        changes the rows, so neither is in ``allowed_ops`` — those races
        surface to the caller's full-recompute retry (apply_epoch)."""
        if (
            parent.num_buckets != base.num_buckets
            or parent.layout != base.layout
        ):
            return False
        cur = parent
        try:
            while cur.version > base.version:
                if cur.operation not in allowed_ops or cur.parent is None:
                    return False
                cur = self.snapshot(cur.parent)
        except FileNotFoundError:
            return False
        return (
            cur.version == base.version
            and cur.committed_at == base.committed_at
        )

    def compact(
        self,
        full: bool = False,
        drop_orphan_patches: bool = False,
        sort_columns: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> Manifest:
        """Fold outstanding merge-on-read deltas into base files (tombstones
        retained — a late lower-seq update must never resurrect a deleted
        key, so tombstone seqs survive compaction). Iceberg analog:
        rewrite_data_files maintenance. Resets ``mor_appends`` so subsequent
        reads skip the fold.

        INCREMENTAL by default: only pid file-groups that actually hold
        delta (non-base) files are read, folded, and rewritten — maintenance
        cost is O(churned partitions), not O(table). At 100 TB a micro-batch
        stream touches a small fraction of buckets between compactions;
        rewriting every base file each cycle would dwarf the ingest itself.
        ``full=True`` forces the old whole-table rewrite (e.g. after
        changing file-size targets). Delta files are marked ``base: false``
        in the manifest by the MERGE; files from manifests predating the
        flag read as deltas (conservative: they stay compactable).

        With partial-image generations outstanding, finalization is EXACT
        under arbitrary lateness: contested patch columns collapse into the
        hidden per-column writer-seq map ``_colseq`` (see
        ``_finalize_fold``) while the row keeps the full-image winner's
        seq, so a full image arriving later — even with a seq between the
        base's and a patched column's — still folds per-column correctly.
        Orphan patches (no full image yet) are rewritten as generations and
        re-finalized once their base arrives; ``drop_orphan_patches=True``
        discards them instead (e.g. past a known lateness bound — they are
        the only remaining patch debt).

        ``sort_columns`` declares the table's CLUSTERING (Iceberg analog:
        ``ALTER TABLE ... WRITE ORDERED BY`` + a sorted rewrite). Default is
        the key columns (point-lookup clustering); passing e.g. a timestamp
        column instead clusters each bucket's rewrite by time, and with
        ``max_records_per_file`` the bucket splits into range-disjoint
        files whose manifest zone maps make ``read(prune_stats=...)``
        time-range scans skip whole files at plan time. The sort columns
        join the table's persistent ``stat_columns`` so every later write
        keeps recording their zone maps. Incremental compaction clusters
        only the rewritten file groups — pass ``full=True`` to re-cluster
        the whole table.

        ONLINE: safe to run against a live, continuously-ingesting table.
        A merge committing while the rewrite runs no longer kills the
        compaction — the commit REBASES onto the new snapshot when that is
        provably exact (``_rebase_sound``: only row-adding / metadata
        commits intervened and every folded file is still live), replacing
        exactly the files the fold consumed and keeping the concurrent
        delta appends on top of the new base (the MOR fold resolves them
        by seq as always). When rebase is impossible (a rival compaction,
        a rollback), the whole rewrite
        is redone from the fresh snapshot — at most 3 attempts, then the
        caller is told to stand down. At 100 TB this is the difference
        between maintenance you can cron and maintenance that needs an
        ingest outage: a multi-minute rewrite will essentially always race
        a micro-batch stream."""
        for _attempt in range(3):
            out = self._compact_once(
                full=full,
                drop_orphan_patches=drop_orphan_patches,
                sort_columns=sort_columns,
                max_records_per_file=max_records_per_file,
            )
            if out is not None:
                return out
        raise RuntimeError(
            "compact: rewrite went stale against concurrent non-append "
            "commits 3 times in a row — retry when the rival maintenance "
            "writer is done"
        )

    def _compact_once(
        self,
        full: bool,
        drop_orphan_patches: bool,
        sort_columns: list[str] | None,
        max_records_per_file: int | None,
    ) -> "Manifest | None":
        """One compaction attempt: rewrite from the current snapshot, then
        commit — fast-path pid-level replace, rebase on a lost race, or
        ``None`` when the rewrite went stale and must be redone (see
        :meth:`compact`)."""
        m = self.snapshot()
        if sort_columns:
            known = set(m.schema.fieldNames())
            bad = [c for c in sort_columns if c not in known]
            if bad:
                raise ValueError(f"sort_columns not in schema: {bad}")
        # ref-metadata only (`nd` counts): the maintenance cron's trigger
        # scan reads NO group docs on an all-compacted table
        delta_pids = m.delta_pids()
        if full:
            delta_pids = set(m.slot_pids())
        if not delta_pids:
            return m  # nothing outstanding: compaction is a no-op
        mapping = bucket_to_pid(self.spark, m.num_buckets, m.layout)
        # every bucket stored in a touched pid group (bucket->pid is fixed,
        # so these buckets' keys live ONLY in the rewritten groups)
        buckets = {b for b in range(m.num_buckets) if mapping[b] in delta_pids}
        key = m.key_columns
        patch_outstanding = int(m.properties.get("patch_deltas", 0)) > 0
        colseq_out = int(m.properties.get("colseq", 0)) > 0
        tag = f"compact-v{m.version:08d}"
        # explicit args win; else the table's declared clustering
        # (set_clustering — the bq `--clustering_fields` analog); else the
        # key columns (point-lookup clustering). An explicit sort override
        # suspends the WHOLE declared spec: mixing an operator's one-off
        # sort with the spec's file slicing would explode the rewrite into
        # tiny files nobody asked for.
        declared, declared_mrpf = self._declared_clustering(m)
        sort = list(sort_columns) if sort_columns else (declared or list(key))
        if max_records_per_file is None and not sort_columns:
            max_records_per_file = declared_mrpf
        # sort columns beyond the key become persistent stat columns so the
        # clustering keeps earning zone maps on every subsequent write
        extra_stats = [c for c in sort if c not in key]
        # base files come out sorted: partition-local sort (no extra
        # shuffle), and parquet row-group min/max stats then let the sort
        # columns skip row groups — compaction doubles as clustering
        if patch_outstanding or colseq_out:
            folded, orphans = self._finalize_fold(m, buckets, m.num_buckets)
            files, n_preserved, wrote_colseq = self._write_finalized(
                folded,
                orphans,
                tag,
                write_orphans=patch_outstanding and not drop_orphan_patches,
                sort_columns=sort,
                max_records_per_file=max_records_per_file,
                stat_columns=extra_stats,
            )
        else:
            # pinned to m (matching _finalize_fold's pinned read): a commit
            # landing between snapshot() and here must not leak its files
            # into this fold — the rebase bookkeeping below assumes the
            # rewrite consumed exactly m's files
            folded = self.read(
                version=m.version, buckets=buckets, include_tombstones=True
            ).withColumn("_bucket", m.bucket_expr())
            files = self.write_data_files(
                folded,
                tag,
                sort_columns=sort,
                max_records_per_file=max_records_per_file,
                stat_columns=extra_stats,
            )
            for f in files:
                f["base"] = True
            n_preserved = wrote_colseq = 0
        # the colseq flag is STICKY across incremental rewrites: pid groups
        # not touched by this compaction may still hold _colseq rows from an
        # earlier finalize, so only a rewrite covering every file group can
        # clear it. A stale flag costs one extra (all-NULL) read column,
        # never correctness.
        rewrote_all = delta_pids >= set(m.slot_pids())
        colseq_flag = 1 if (wrote_colseq or (colseq_out and not rewrote_all)) else 0
        props: dict[str, Any] = {
            "mor_appends": 1 if n_preserved else 0,
            "patch_deltas": n_preserved,
            "colseq": colseq_flag,
        }
        if extra_stats:
            props["stat_columns"] = self._resolved_stat_columns(m, extra_stats)
        try:
            return self.commit(
                files,
                replaced_pids=delta_pids,
                operation="compact",
                expected_parent=m.version,
                properties=props,
            )
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
        # Lost the optimistic race: a writer committed while the rewrite
        # ran. REBASE instead of discarding the rewrite: replace exactly
        # the files the fold consumed and keep everything the concurrent
        # commits appended on top — sound under the _rebase_sound rules,
        # where the result is file-for-file what "compact, then the same
        # merges" would have produced.
        replaced_paths = {
            f["path"] for f in m.files_for_pids(delta_pids)
        }
        folded_patch_debt = int(m.properties.get("patch_deltas", 0))
        for _ in range(10):
            p = self.snapshot()
            if not self._rebase_sound(m, p, replaced_paths, scope_pids=delta_pids):
                return None  # stale rewrite: the caller redoes the compaction
            # deltas surviving the rebase: outside the rewritten pids the
            # refs' `nd` counts answer without loading a group; inside,
            # check the materialized groups for concurrent appends
            kept_delta = bool(p.delta_pids() - delta_pids) or any(
                not f.get("base", False)
                for f in p.files_for_pids(delta_pids)
                if f["path"] not in replaced_paths
            )
            props = {
                # concurrent MOR appends the rebase keeps re-arm the fold
                "mor_appends": 1 if (n_preserved or kept_delta) else 0,
                # concurrent merges may have appended NEW patch rows on top
                # of the debt this rewrite folded (all of the base
                # snapshot's patch rows lived in the replaced files — patch
                # files are never base)
                "patch_deltas": int(p.properties.get("patch_deltas", 0))
                - folded_patch_debt
                + n_preserved,
                # the base-snapshot flag stays exact under rebase:
                # concurrent merges never write _colseq
                "colseq": colseq_flag,
            }
            if extra_stats:
                props["stat_columns"] = self._resolved_stat_columns(
                    p, extra_stats
                )
            try:
                return self.commit(
                    files,
                    # scope for replaced_paths: only these pid groups are
                    # materialized/rewritten — O(touched buckets)
                    replaced_pids=delta_pids,
                    operation="compact",
                    expected_parent=p.version,
                    properties=props,
                    replaced_paths=replaced_paths,
                )
            except RuntimeError as e:
                if "concurrent commit" not in str(e):
                    raise
        return None

    def update_schema(
        self,
        new_schema: StructType,
        description: str | None = None,
    ) -> Manifest:
        """Apply an edited declared schema to the LIVE table as a
        metadata-only atomic commit — the reference's out-of-band ``bq
        update <table> schema/<index>.json`` maintenance flow
        (maintenance/schemas.md:13-28), where an operator pushes a widened
        schema file onto a serving table without any data flowing.

        The new schema must WIDEN the current one (``merge_widening``):
        added nullable fields — top-level or nested arbitrarily deep —
        and REQUIRED→NULLABLE relaxations commit; removals and type
        changes raise. The commit carries the SAME file list: existing
        files read the added fields as NULL immediately (top-level and
        nested — Spark's parquet reader fills missing fields by name),
        and the next MERGE/normalizer can start populating them. Added
        top-level names must not collide with engine bookkeeping
        (underscore-prefixed, or the log-only ``offset``/``op``).

        ``description`` persists as a manifest property (the reference's
        ``bq update --description`` twin, same maintenance doc).
        Idempotent: re-pushing the already-live schema with no new
        description returns the current snapshot without a commit.

        ONLINE: a lost optimistic race re-runs the whole push against the
        fresh snapshot, REBASED (``merge_widening(...,
        allow_missing_in_new=True)``): a field the fresh snapshot has but
        the pushed file lacks is a rival commit's concurrent addition, not
        an operator drop, and is kept — the first attempt stays strict so
        a genuinely narrowed file still fails loudly. Up to 5 attempts."""
        for attempt in range(5):
            try:
                return self._update_schema_once(
                    new_schema, description, rebase=attempt > 0
                )
            except RuntimeError as e:
                if "concurrent commit" not in str(e):
                    raise
        raise RuntimeError(
            "update-schema: lost the concurrent-commit race 5 times in a row"
        )

    def _update_schema_once(
        self,
        new_schema: StructType,
        description: str | None,
        rebase: bool = False,
    ) -> Manifest:
        from multiversx_etl_spark.sources.bq_schema import (
            merge_widening,
            schema_added_paths,
        )

        m = self.snapshot()
        merged = merge_widening(m.schema, new_schema, allow_missing_in_new=rebase)
        # Key columns feed bucket_expr, and BOTH bucket hash functions are
        # type-sensitive (xxhash64(7 as int) != xxhash64(7 as long); same
        # for Murmur3) — unlike Iceberg's bucket transform, which hashes
        # int as long and is therefore promotion-safe. A metadata-only
        # type promotion on a key column would leave existing files placed
        # under the OLD type's hash while every recomputed bucket_expr
        # (read post-filter, lookup, merge routing, compaction bucket
        # sets, purity asserts) hashes the NEW type — silently dropping
        # live rows from bucket-scoped reads. Reject any key-column type
        # change, promotions included.
        merged_by_name = {f.name: f for f in merged.fields}
        for k in m.key_columns:
            old_t = m.schema[k].dataType
            new_t = merged_by_name[k].dataType
            if new_t != old_t:
                raise ValueError(
                    f"schema update changes the type of key column {k!r} "
                    f"({old_t.simpleString()} -> {new_t.simpleString()}): "
                    "bucket placement hashes the column type, so promoting "
                    "a key column would re-route existing keys across "
                    "buckets; rewrite the table (rebucket) instead"
                )
        reserved = [
            p
            for p in schema_added_paths(m.schema, merged)
            if "." not in p and (p.startswith("_") or p in ("offset", "op"))
        ]
        if reserved:
            raise ValueError(
                f"schema update adds reserved top-level columns {reserved}: "
                "underscore-prefixed names and the log bookkeeping columns "
                "(offset, op) are engine-internal"
            )
        props = {"description": description} if description is not None else None
        if merged.jsonValue() == m.schema.jsonValue() and (
            props is None or m.properties.get("description") == description
        ):
            return m  # no-op push: cron-safe, no empty commit
        return self.commit(
            [],
            replaced_pids=set(),
            operation="update-schema",
            schema=merged,
            expected_parent=m.version,
            properties=props,
        )

    def set_clustering(
        self,
        sort_columns: list[str],
        max_records_per_file: int | None = None,
    ) -> Manifest:
        """Declare the table's DURABLE clustering spec — the reference's
        ``bq update --clustering_fields=...`` maintenance flow
        (maintenance/clustering.md:5-21): after this commit, every
        ``compact``/``maintain`` invoked WITHOUT explicit ``sort_columns``
        clusters rewrites by these columns (and slices files at
        ``max_records_per_file``), so a cron-driven ``maintain`` keeps the
        declared layout without re-passing flags. The clustering.md
        "cluster all existing rows" rewrite is ``compact(full=True)``.

        Non-key sort columns immediately join the persistent
        ``stat_columns`` policy, so writes landing BETWEEN this commit and
        the next compaction already record their zone maps. An empty
        ``sort_columns`` clears the spec (back to key-column clustering).
        Metadata-only, optimistic-concurrency commit like
        ``update_schema`` — and like it, ONLINE: a lost race re-validates
        and re-commits against the fresh snapshot (up to 5 attempts)."""
        for _ in range(5):
            try:
                return self._set_clustering_once(
                    sort_columns, max_records_per_file
                )
            except RuntimeError as e:
                if "concurrent commit" not in str(e):
                    raise
        raise RuntimeError(
            "set-clustering: lost the concurrent-commit race 5 times in a row"
        )

    def _set_clustering_once(
        self,
        sort_columns: list[str],
        max_records_per_file: int | None,
    ) -> Manifest:
        from pyspark.sql.types import ArrayType, MapType

        m = self.snapshot()
        known = set(m.schema.fieldNames())
        bad = [c for c in sort_columns if c not in known]
        if bad:
            raise ValueError(f"sort_columns not in schema: {bad}")

        def _has_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_map(f.dataType) for f in dt.fields)
            return False

        # a spec that commits clean but crashes every later flagless
        # compact/maintain (Spark cannot order map types) would be a
        # cron crash-loop declared in one innocent command — refuse NOW
        unordered = [c for c in sort_columns if _has_map(m.schema[c].dataType)]
        if unordered:
            raise ValueError(
                f"sort_columns {unordered} contain map types, which Spark "
                "cannot sort by — declare an orderable column instead"
            )
        if max_records_per_file is not None and max_records_per_file < 1:
            raise ValueError(
                f"max_records_per_file must be >= 1, got {max_records_per_file}"
            )
        props: dict[str, Any] = {
            "clustering_sort_columns": list(sort_columns),
            # properties merge over the parent's, so clearing uses the
            # falsy sentinel the compact-side resolution treats as absent
            "clustering_max_records_per_file": int(max_records_per_file or 0),
        }
        extra_stats = [c for c in sort_columns if c not in m.key_columns]
        if extra_stats:
            props["stat_columns"] = self._resolved_stat_columns(m, extra_stats)
        if all(m.properties.get(k) == v for k, v in props.items()):
            return m  # re-declaring the live spec: cron-safe, no empty commit
        return self.commit(
            [],
            replaced_pids=set(),
            operation="set-clustering",
            expected_parent=m.version,
            properties=props,
        )

    def rebucket(
        self,
        new_buckets: int,
        drop_orphan_patches: bool = False,
    ) -> Manifest:
        """Bucket-layout evolution: rewrite the table into a different
        bucket count in ONE commit (Iceberg analog: partition-spec
        evolution, `ALTER TABLE ... PARTITIONED BY bucket(B', key)` +
        rewrite_data_files). The layout chosen at CREATE is sized for the
        data of day one; at 100× the volume each file group is 100× too
        big for a task, and at 1/100th (after aggressive pruning) most
        groups are small-file noise — re-bucketing is how the table
        follows its data, without which `num_buckets` would be a
        forever-fixed scalability ceiling.

        One full-table rewrite: read the current snapshot (folding any
        outstanding MOR deltas, keeping tombstones — their seqs must keep
        suppressing late lower-seq updates), re-hash into ``new_buckets``,
        one exchange + partition-local key sort, commit with every prior
        file group replaced. ``num_buckets`` lives in each manifest, so
        time travel to older versions keeps pruning with the OLD layout
        while new reads/merges/lookups use the new one; stream epoch
        markers carry over untouched, so a replay resumes against the new
        layout with no coordination. Logically a no-op — ``changes()``
        skips it exactly like ``compact``.

        Like ``compact``, the rewrite FINALIZES outstanding partial-image
        generations exactly — contested patch columns collapse into the
        per-column ``_colseq`` map under the new layout, orphan patches are
        rewritten as generations (``drop_orphan_patches=True`` discards
        them), and a full image arriving later than the rewrite still folds
        per-column correctly.

        ONLINE like ``compact``, but by full retry, never rebase: a
        concurrent merge's delta files are bucket-aligned under the OLD
        layout, so keeping them on top of a re-bucketed base would make
        every later bucket-pruned read (lookup, merge target staging) look
        in the wrong group — the lost race re-runs the whole rewrite from
        the fresh snapshot instead (at most 3 attempts). The abandoned
        attempt's files are crash-orphan-shaped; ``gc_orphan_files``
        reclaims them."""
        if new_buckets < 1:
            raise ValueError(f"new_buckets must be >= 1, got {new_buckets}")
        for _attempt in range(3):
            out = self._rebucket_once(new_buckets, drop_orphan_patches)
            if out is not None:
                return out
        raise RuntimeError(
            "rebucket: lost the concurrent-commit race 3 times in a row — "
            "retry when the table's writers pause"
        )

    def _rebucket_once(
        self, new_buckets: int, drop_orphan_patches: bool
    ) -> "Manifest | None":
        """One rebucket attempt from the current snapshot; ``None`` on a
        lost optimistic-concurrency race (see :meth:`rebucket`)."""
        m = self.snapshot()
        if new_buckets == m.num_buckets:
            return m
        tag = f"rebucket-v{m.version:08d}"
        key = list(m.key_columns)
        patch_outstanding = int(m.properties.get("patch_deltas", 0)) > 0
        colseq_out = int(m.properties.get("colseq", 0)) > 0
        # the declared clustering (set_clustering) survives layout
        # evolution: a rebucket that reverted to key-sorted unsliced files
        # would silently destroy the spec AND mark everything base, so no
        # flagless maintenance could ever restore it
        declared, declared_mrpf = self._declared_clustering(m)
        sort = declared or key
        if patch_outstanding or colseq_out:
            folded, orphans = self._finalize_fold(m, None, new_buckets)
            files, n_preserved, wrote_colseq = self._write_finalized(
                repartition_for_write(folded, new_buckets, key, m.layout),
                repartition_for_write(orphans, new_buckets, key, m.layout),
                tag,
                write_orphans=patch_outstanding and not drop_orphan_patches,
                sort_columns=sort,
                max_records_per_file=declared_mrpf,
                bucket_aligned=True,
            )
        else:
            # pinned to m: a commit landing mid-rewrite must not leak into
            # the fold (the expected_parent check would catch the race, but
            # the rewrite would have folded state the retry then redoes)
            folded = self.read(
                version=m.version, include_tombstones=True
            ).withColumn("_bucket", bucket_expr(key, new_buckets, m.layout))
            files = self.write_data_files(
                repartition_for_write(folded, new_buckets, key, m.layout),
                tag,
                bucket_aligned=True,
                sort_columns=sort,
                max_records_per_file=declared_mrpf,
            )
            for f in files:
                f["base"] = True
            n_preserved = wrote_colseq = 0
        try:
            return self.commit(
                files,
                replaced_pids=set(m.slot_pids()),
                operation="rebucket",
                expected_parent=m.version,
                properties={
                    "mor_appends": 1 if n_preserved else 0,
                    "patch_deltas": n_preserved,
                    # rebucket rewrites the WHOLE table: the flag is exact here
                    "colseq": 1 if wrote_colseq else 0,
                },
                num_buckets=new_buckets,
            )
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            return None

    @classmethod
    def promote_into(
        cls, spark: SparkSession, main_root: str, staging: "LakeTable"
    ) -> Manifest:
        """Open-or-create the MAIN table at ``main_root`` with the staging
        table's physical spec, then :meth:`promote_from` the staging
        snapshot into it. The single code path behind both the ``promote``
        CLI command and the per-table ``promote_to`` config key, so the
        first-promotion creation spec cannot diverge between them.

        Losing the FIRST-creation race to a concurrent promoter is
        tolerated (open the winner's table and promote into it — the
        layout-equality guard in :meth:`promote_from` still applies);
        losing the promote commit itself raises the usual conflict."""
        src = staging.snapshot()
        if cls.exists(main_root):
            main = cls(spark, main_root)
        else:
            try:
                main = cls.create(
                    spark, main_root, src.schema,
                    key_columns=list(src.key_columns),
                    num_buckets=src.num_buckets, layout=src.layout,
                )
            except RuntimeError:
                if not cls.exists(main_root):
                    raise
                main = cls(spark, main_root)
        return main.promote_from(staging)

    def promote_from(self, staging: "LakeTable") -> Manifest:
        """Staging→main promotion: atomically replace THIS table's contents
        with the staging table's current snapshot (the reference loads into
        ``<table>_staging`` then copies over main, bq_client.py:103-116).

        Data files are hard-linked (same filesystem) — promotion is a
        metadata operation, O(files) not O(bytes), and the staging table
        remains intact and readable. When main lives on a DIFFERENT
        filesystem (or one that forbids links) the transfer degrades to a
        per-file copy — O(bytes), still atomic at the manifest commit —
        instead of failing with a raw EXDEV after the expensive load. Stream epoch markers are NOT imported:
        the promoted table keeps its own stream lineage (the reference
        likewise tracks worker state per target dataset)."""
        src = staging.snapshot()
        cur = self.snapshot()
        if (
            src.num_buckets != cur.num_buckets
            or src.key_columns != cur.key_columns
            or src.layout != cur.layout
        ):
            raise ValueError(
                "promotion requires identical bucket layout: "
                f"staging ({src.num_buckets}, {src.key_columns}, {src.layout}) vs "
                f"main ({cur.num_buckets}, {cur.key_columns}, {cur.layout})"
            )
        tag = f"promote-v{cur.version + 1:08d}"
        out_dir = os.path.join(self.root, "data", tag)
        os.makedirs(out_dir, exist_ok=True)
        new_files = []
        for i, f in enumerate(src.files):
            name = f"part-{f['pid']:05d}-{i:05d}.parquet"
            dst = os.path.join(out_dir, name)
            if os.path.exists(dst):
                os.remove(dst)  # crashed earlier promotion attempt
            src_path = os.path.join(staging.root, f["path"])
            try:
                os.link(src_path, dst)
            except OSError as e:
                if e.errno not in (errno.EXDEV, errno.EPERM, errno.EOPNOTSUPP):
                    raise
                shutil.copy2(src_path, dst)
            # hard links share the source inode's (old) mtime; stamp them
            # fresh or gc_orphan_files' min_age guard cannot protect this
            # not-yet-committed promotion from a concurrent GC run
            os.utime(dst)
            entry = {
                "path": os.path.join("data", tag, name),
                "pid": f["pid"],
                "rows": f["rows"],
                "base": f.get("base", False),
            }
            if "stats" in f:
                entry["stats"] = f["stats"]
            new_files.append(entry)
        return self.commit(
            new_files,
            replaced_pids=set(range(cur.num_buckets)),
            operation="promote",
            schema=src.schema,
            expected_parent=cur.version,
            properties={
                "mor_appends": int(src.properties.get("mor_appends", 0)),
                "patch_deltas": int(src.properties.get("patch_deltas", 0)),
                "colseq": int(src.properties.get("colseq", 0)),
                # the promoted files were laid out and stat-mapped under
                # the STAGING table's policies — adopt them WHOLESALE,
                # defaults included: an unclustered staging must also
                # clear the main's stale spec, or flagless maintenance
                # keeps re-applying a layout the files no longer have
                # (None-valued stat_columns = the default key policy;
                # description is NOT carried — it names the main table)
                "stat_columns": src.properties.get("stat_columns"),
                "clustering_sort_columns": list(
                    src.properties.get("clustering_sort_columns", [])
                ),
                "clustering_max_records_per_file": int(
                    src.properties.get("clustering_max_records_per_file", 0)
                ),
            },
        )

    def expire_snapshots(
        self,
        keep_last: int = 10,
        older_than_seconds: float | None = None,
    ) -> dict[str, int]:
        """Retention maintenance (Iceberg analog: expire_snapshots + orphan
        file cleanup): drop manifests older than the newest ``keep_last``
        versions and delete data files referenced by NO retained manifest.

        ``older_than_seconds`` adds Iceberg's time-based retention
        (``expire_snapshots(older_than=...)``): a version expires only if
        it is BOTH outside the newest ``keep_last`` AND committed more
        than this many seconds ago — ``keep_last`` is the retain-last
        floor, the age bound is the policy ("keep a week of time travel").
        Left ``None``, retention is purely count-based as before.

        Without this, a 10^10-event replay accumulates one manifest per
        epoch plus every superseded delta/base file forever — compaction
        rewrites data but the old generations stay on disk for time travel.
        Time travel and rollback keep working within the retention window;
        requesting an expired version raises FileNotFoundError (same
        contract the ``rollback(9999)`` probe asserts). Runs under the
        commit lock so a concurrent commit can neither resurrect an expired
        file nor lose a new one."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if older_than_seconds is not None and older_than_seconds < 0:
            raise ValueError("older_than_seconds must be >= 0")
        lock_path = os.path.join(self.root, _MANIFEST_DIR, "_commit.lock")
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY)
        try:
            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            versions = sorted(
                int(name[1:-5])
                for name in os.listdir(os.path.join(self.root, _MANIFEST_DIR))
                if name.startswith("v") and name.endswith(".json")
            )
            cutoff = self.current_version() - keep_last + 1
            expired = [v for v in versions if v < cutoff]
            if older_than_seconds is not None:
                age_cutoff = time.time() - older_than_seconds
                expired = [
                    v
                    for v in expired
                    if self.snapshot(v).committed_at < age_cutoff
                ]
            retained = [v for v in versions if v not in set(expired)]
            keep_paths = {
                f["path"] for v in retained for f in self.snapshot(v).files
            }
            # group docs referenced by ANY retained manifest stay (content-
            # addressing shares them across versions); the rest die with
            # their last expired referrer — O(retained) root-doc parses
            keep_groups = {
                g for v in retained for g in self.snapshot(v).group_paths()
            }
            deleted_files = 0
            expired_groups: set[str] = set()
            for v in expired:
                m = self.snapshot(v)
                for f in m.files:
                    if f["path"] in keep_paths:
                        continue
                    try:
                        os.remove(os.path.join(self.root, f["path"]))
                        deleted_files += 1
                    except FileNotFoundError:
                        pass  # shared with an earlier-expired manifest
                    keep_paths.add(f["path"])  # only count/delete once
                expired_groups |= m.group_paths()
                os.remove(self._manifest_path(v))
            # group docs last: an expired sibling may share a doc and needs
            # it readable for its own data-file walk above
            for g in expired_groups - keep_groups:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(self.root, g))
            return {"expired_manifests": len(expired), "deleted_files": deleted_files}
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
            os.close(lock_fd)

    def gc_orphan_files(self, min_age_seconds: float = 3600.0) -> dict[str, int]:
        """Delete data files referenced by NO manifest (Iceberg analog:
        remove_orphan_files): crash leftovers from a writer that died
        between ``write_data_files`` and ``commit`` — expire_snapshots
        can't reach them because no manifest ever referenced them.

        ``min_age_seconds`` protects in-flight commits: a concurrent writer
        may have written files it has not committed YET, so only files older
        than the window are eligible (same contract as Iceberg's
        ``older_than``). Runs under the commit lock so the reference set is
        a consistent snapshot of all manifests."""
        lock_path = os.path.join(self.root, _MANIFEST_DIR, "_commit.lock")
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY)
        try:
            fcntl.flock(lock_fd, fcntl.LOCK_EX)
            referenced: set[str] = set()
            referenced_groups: set[str] = set()
            mdir = os.path.join(self.root, _MANIFEST_DIR)
            for name in os.listdir(mdir):
                if name.startswith("v") and name.endswith(".json"):
                    m = self.snapshot(int(name[1:-5]))
                    referenced |= {f["path"] for f in m.files}
                    referenced_groups |= m.group_paths()
            deleted = scanned = 0
            cutoff = time.time() - min_age_seconds
            data_root = os.path.join(self.root, "data")
            for dirpath, _dirnames, filenames in os.walk(data_root):
                for fname in filenames:
                    full = os.path.join(dirpath, fname)
                    rel = os.path.relpath(full, self.root)
                    scanned += 1
                    if rel in referenced:
                        continue
                    try:
                        if os.path.getmtime(full) >= cutoff:
                            continue  # possibly an in-flight commit's file
                        os.remove(full)
                        deleted += 1
                    except FileNotFoundError:
                        pass
            # prune now-empty commit-tag directories
            for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
                if dirpath != data_root and not dirnames and not filenames:
                    with contextlib.suppress(OSError):
                        os.rmdir(dirpath)
            # orphan GROUP docs: left by a writer that died between _seal
            # and the root-doc swap (or whose root doc has since expired
            # without covering them). Same age contract: an in-flight
            # commit's freshly-sealed docs are younger than the window.
            group_docs_deleted = 0
            gdir = os.path.join(self.root, _MANIFEST_DIR, _GROUP_DIR)
            if os.path.isdir(gdir):
                for name in os.listdir(gdir):
                    rel = os.path.join(_MANIFEST_DIR, _GROUP_DIR, name)
                    if rel in referenced_groups:
                        continue
                    full = os.path.join(gdir, name)
                    with contextlib.suppress(FileNotFoundError):
                        if os.path.getmtime(full) < cutoff:
                            os.remove(full)
                            group_docs_deleted += 1
            # stage-dir leftovers: bucketed-staging link farms (per-epoch
            # merge targets, per-micro-batch change stages) from a writer
            # that died inside the staging context — links only, no data
            # bytes, but they accumulate forever on a crash-looping
            # continuous ingest. Same age contract as data orphans: a
            # LIVE writer's stage is younger than the window.
            import shutil

            stage_dirs_deleted = 0
            stage_root = os.path.join(self.root, "_stage")
            if os.path.isdir(stage_root):
                for name in os.listdir(stage_root):
                    full = os.path.join(stage_root, name)
                    with contextlib.suppress(FileNotFoundError):
                        if os.path.getmtime(full) < cutoff:
                            shutil.rmtree(full, ignore_errors=True)
                            stage_dirs_deleted += 1
            return {
                "scanned": scanned,
                "deleted": deleted,
                "stage_dirs_deleted": stage_dirs_deleted,
                "group_docs_deleted": group_docs_deleted,
            }
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
            os.close(lock_fd)

    def version_at(self, ts: float) -> int:
        """Newest snapshot version committed at or before ``ts`` (epoch
        seconds) — Iceberg's ``TIMESTAMP AS OF`` resolved against the
        manifests' ``committed_at``. Monotonicity holds because every
        commit path constructs its Manifest (and stamps ``committed_at``)
        AFTER reading the parent snapshot, and the create+swap critical
        section is serialized under the commit flock — so a later version
        is always stamped later. Binary search over the retained version
        list (one cheap listdir, then O(log n) manifest parses — a long
        replay retains one manifest per epoch, so a linear walk would
        parse thousands of multi-KB file lists to read one float each).
        Raises ValueError when ts predates the retention window (the
        covering snapshot is expired) or the table itself."""
        import bisect

        mdir = os.path.join(self.root, _MANIFEST_DIR)
        versions = sorted(
            int(name[1:-5])
            for name in os.listdir(mdir)
            if name.startswith("v") and name.endswith(".json")
        )
        # only retained-and-live versions (a crash orphan above _current is
        # not committed state)
        cur = self.current_version()
        versions = versions[: bisect.bisect_right(versions, cur)]
        lo, hi, best = 0, len(versions) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            try:
                committed_at = self.snapshot(versions[mid]).committed_at
            except FileNotFoundError:
                # a concurrent expire_snapshots dropped this probe between
                # the listdir and the read; expiration removes oldest-first,
                # so the answer (if still covered) lives in the newer half —
                # keep searching up WITHOUT recording the vanished version
                lo = mid + 1
                continue
            if committed_at <= ts:
                best = versions[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            if versions and versions[0] > 0:
                raise ValueError(
                    f"timestamp {ts} is beyond the retention window "
                    "(expire_snapshots dropped the covering snapshot)"
                )
            raise ValueError(f"timestamp {ts} predates the table's first snapshot")
        return best

    def read_as_of(self, ts: float, **kwargs) -> DataFrame:
        """``read()`` at the snapshot current as of wall time ``ts``."""
        return self.read(version=self.version_at(ts), **kwargs)

    def rollback(self, version: int) -> None:
        """Repoint ``_current`` at an older snapshot (O(1) rewind — the
        reference's analog is a DELETE-above-checkpoint scan,
        /root/reference/multiversxetl/app_controller.py:195-220)."""
        target = self.snapshot(version)  # validates existence
        cur = self.snapshot()
        manifest = Manifest(
            version=cur.version + 1,
            schema_json=target.schema_json,
            num_buckets=target.num_buckets,
            key_columns=target.key_columns,
            # carry the target's group refs verbatim: O(1) rewind even at
            # 10^6 files — no group doc read or written
            slots=target.carry_slots(),
            streams=target.streams,
            parent=cur.version,
            operation=f"rollback_to_{version}",
            committed_at=time.time(),
            properties=dict(target.properties),
            layout=target.layout,
            root=self.root,
        )
        self._write_manifest(manifest)
