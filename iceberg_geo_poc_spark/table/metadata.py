"""Table metadata: versioned JSON log + snapshot lineage + refs.

Python analogue of reference core/src/main/java/org/apache/iceberg/
TableMetadata.java and the commit machinery of SnapshotProducer.java:369-409:
each commit writes ``v{N}.metadata.json`` with an exclusive-create
(put-if-absent) and then advances ``version-hint.text``; a concurrent
commit loses the create race and retries against the new base —
optimistic concurrency without any lock service.  On an object store
the exclusive create maps to a conditional PUT (If-None-Match).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | overwrite | delete | replace
    manifest: str  # first manifest path (kept for older readers)
    summary: dict = field(default_factory=dict)
    # manifest LIST (reference: a snapshot points at a manifest list,
    # not one manifest — Snapshot.allManifests).  Append commits add a
    # delta manifest and REUSE the parent's manifests unchanged, making
    # commit cost O(new files); row-level ops consolidate.  None means
    # the legacy single-manifest form.
    manifests: list[str] | None = None

    def manifest_list(self) -> list[str]:
        return list(self.manifests) if self.manifests else [self.manifest]

    def to_json(self) -> dict:
        out = {
            "snapshot-id": self.snapshot_id,
            "parent-snapshot-id": self.parent_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest": self.manifest,
            "summary": self.summary,
        }
        if self.manifests is not None:
            out["manifests"] = self.manifests
        return out

    @staticmethod
    def from_json(o: dict) -> "Snapshot":
        return Snapshot(
            o["snapshot-id"],
            o.get("parent-snapshot-id"),
            o["sequence-number"],
            o["timestamp-ms"],
            o["operation"],
            o["manifest"],
            o.get("summary", {}),
            o.get("manifests"),
        )


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    schema_ddl: str  # Spark DDL string ("id BIGINT, geom BINARY, ...")
    partition_spec: list[dict]  # PartitionField json
    geo_fields: dict[str, str]  # column -> encoding
    properties: dict[str, str]
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    last_sequence_number: int
    refs: dict[str, dict] = field(default_factory=dict)  # branches/tags
    version: int = 0
    schema_log: list[dict] = field(default_factory=list)
    # physical column name (as written in data files) -> current logical
    # name; the Python analogue of Iceberg's rename-by-field-id (schema
    # evolution never rewrites data files, Schema.java:51)
    renames: dict[str, str] = field(default_factory=dict)
    # snapshot-scoped statistics files (reference TableMetadata.java:539
    # statisticsFiles() / GenericStatisticsFile.java): each entry is
    # {"snapshot-id", "statistics-path", "file-size-in-bytes",
    #  "blob-metadata": [...]}; at most one per snapshot (SetStatistics
    # replaces).  Partition statistics analogous
    # (GenericPartitionStatisticsFile.java).
    statistics_files: list[dict] = field(default_factory=list)
    partition_statistics_files: list[dict] = field(default_factory=list)
    # row-lineage allocator (Iceberg v3 TableMetadata next-row-id): the
    # first free _row_id; commits adding data files claim
    # [next_row_id, next_row_id + record_count) blocks per file
    next_row_id: int = 0
    # default column values (Iceberg v3 initial-default / write-default,
    # spec #default-values): column -> {"initial": v, "write": v,
    # "added-at-seq": N}.  Files committed at sequence <= added-at-seq
    # predate the column and read initial-default for EVERY row; later
    # files always materialize the column physically (write-default is
    # applied writer-side), so their values — including explicit NULLs —
    # are read verbatim
    column_defaults: dict = field(default_factory=dict)

    # ---- serialization -------------------------------------------------
    def to_json(self) -> dict:
        return {
            "format-version": 1,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "schema-ddl": self.schema_ddl,
            "partition-spec": self.partition_spec,
            "geo-fields": self.geo_fields,
            "properties": self.properties,
            "current-snapshot-id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "last-sequence-number": self.last_sequence_number,
            "refs": self.refs,
            "schema-log": self.schema_log,
            "renames": self.renames,
            "statistics": self.statistics_files,
            "partition-statistics": self.partition_statistics_files,
            "next-row-id": self.next_row_id,
            "column-defaults": self.column_defaults,
        }

    @staticmethod
    def from_json(o: dict, version: int) -> "TableMetadata":
        return TableMetadata(
            table_uuid=o["table-uuid"],
            location=o["location"],
            schema_ddl=o["schema-ddl"],
            partition_spec=o["partition-spec"],
            geo_fields=o.get("geo-fields", {}),
            properties=o.get("properties", {}),
            current_snapshot_id=o.get("current-snapshot-id"),
            snapshots=[Snapshot.from_json(s) for s in o.get("snapshots", [])],
            last_sequence_number=o.get("last-sequence-number", 0),
            refs=o.get("refs", {}),
            version=version,
            schema_log=o.get("schema-log", []),
            renames=o.get("renames", {}),
            statistics_files=o.get("statistics", []),
            partition_statistics_files=o.get("partition-statistics", []),
            next_row_id=o.get("next-row-id", 0),
            column_defaults=o.get("column-defaults", {}),
        )

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found")

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Latest ancestor snapshot at or before the timestamp."""
        eligible = [s for s in self.snapshots if s.timestamp_ms <= timestamp_ms]
        if not eligible:
            raise KeyError(f"no snapshot at or before {timestamp_ms}")
        return max(eligible, key=lambda s: s.timestamp_ms)


# -- commit backends ---------------------------------------------------------
#
# The reference arbitrates every commit through a pluggable
# TableOperations (SnapshotProducer.java:369-409 retries over the
# catalog's atomic swap; HiveTableOperations / S3 conditional writes are
# impls).  The analogue here: all metadata-document IO goes through a
# CommitBackend whose one hard requirement is an atomic PUT-IF-ABSENT.
# Data/manifest payload IO stays on the shared filesystem — the backend
# seam covers commit *arbitration*, which is the part an object store
# implements differently (S3 If-None-Match, DynamoDB conditional put,
# Hive lock).


class CommitBackend:
    """Atomic put-if-absent + read for metadata documents."""

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        """True if this writer created ``path``; False if it already
        existed (a concurrent committer won).  MUST be atomic: a reader
        can never observe a torn document under ``path``."""
        raise NotImplementedError

    def put(self, path: str, payload: bytes) -> None:
        """Last-writer-wins overwrite (used only for the version hint,
        which is advisory and rolled forward on read)."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Best-effort removal (metadata-file retention).  Backends
        without deletion semantics may leave this unimplemented — the
        retention sweep treats that as 'keep everything'."""
        raise NotImplementedError


class PosixLinkBackend(CommitBackend):
    """Filesystem impl: fsynced private temp file + ``os.link``.

    ``os.link`` fails atomically when the target exists — the
    filesystem analogue of a conditional PUT / If-None-Match — and the
    final name only ever appears with complete contents.  A writer
    crashing mid-commit leaves only a ``.tmp`` no reader considers.
    Cross-PROCESS safe (kernel-arbitrated), not just cross-thread.
    """

    def read(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def put(self, path: str, payload: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


class InMemoryConditionalPutBackend(CommitBackend):
    """Object-store-shaped impl: a key→bytes map with a compare-free
    conditional PUT under a lock (the S3 ``If-None-Match: *`` /
    DynamoDB attribute_not_exists contract).  Cross-thread safe;
    useful for tests and as the template for a real object-store
    backend."""

    def __init__(self):
        import threading

        self._store: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def read(self, path: str) -> bytes:
        try:
            return self._store[path]
        except KeyError:
            raise FileNotFoundError(path) from None

    def exists(self, path: str) -> bool:
        return path in self._store

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        with self._lock:
            if path in self._store:
                return False
            self._store[path] = bytes(payload)
            return True

    def put(self, path: str, payload: bytes) -> None:
        with self._lock:
            self._store[path] = bytes(payload)


class FileIOBackend(CommitBackend):
    """Commit backend over a ``fileio.FileIO`` (object-store shapes).

    ``put_if_absent`` is exists-check + write under a process-wide
    mutex.  That is the correct arbiter for every writer in this
    process (local[32] is one driver); TRUE multi-host arbitration on
    an object store needs the store's own conditional PUT
    (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, Azure
    ``If-None-Match``) — subclass and override ``put_if_absent`` with
    the conditional call, exactly as the reference layers
    S3FileIO + the catalog's atomic swap
    (core/src/main/java/org/apache/iceberg/SnapshotProducer.java:369-409).
    """

    def __init__(self, fio):
        import threading

        self.fio = fio
        self._lock = threading.Lock()

    def read(self, path: str) -> bytes:
        return self.fio.read_bytes(path)

    def exists(self, path: str) -> bool:
        return self.fio.exists(path)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        with self._lock:
            if self.fio.exists(path):
                return False
            self.fio.write_bytes(path, payload)
            return True

    def put(self, path: str, payload: bytes) -> None:
        self.fio.write_bytes(path, payload)


_DEFAULT_BACKEND = PosixLinkBackend()
_BACKENDS: list[tuple[str, CommitBackend]] = []


def register_commit_backend(location_prefix: str, backend: CommitBackend) -> None:
    """Route metadata commits for locations under ``location_prefix``
    through ``backend`` (longest prefix wins; default POSIX)."""
    _BACKENDS.insert(0, (location_prefix, backend))
    _BACKENDS.sort(key=lambda kv: -len(kv[0]))


def backend_for(location: str) -> CommitBackend:
    for prefix, b in _BACKENDS:
        if location.startswith(prefix) or location == prefix.rstrip("/"):
            return b
    return _DEFAULT_BACKEND


# -- metadata IO with optimistic commit ------------------------------------

def metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _metadata_path(location: str, version: int) -> str:
    return os.path.join(metadata_dir(location), f"v{version}.metadata.json")


def _hint_path(location: str) -> str:
    return os.path.join(metadata_dir(location), "version-hint.text")


def table_exists_at(location: str) -> bool:
    """Does a table live at ``location``?  POSIX keeps the historical
    metadata-dir check; object stores have no directories, so presence
    of the version hint is the marker (it is written by every commit)."""
    from iceberg_geo_poc_spark.table.fileio import io_for

    if io_for(location).is_posix:
        return os.path.exists(metadata_dir(location))
    return backend_for(location).exists(_hint_path(location))


def read_metadata(location: str) -> TableMetadata:
    be = backend_for(location)
    version = int(be.read(_hint_path(location)).decode().strip())
    # the hint may lag a just-committed version; roll forward
    while be.exists(_metadata_path(location, version + 1)):
        version += 1
    doc = json.loads(be.read(_metadata_path(location, version)))
    return TableMetadata.from_json(doc, version)


def write_new_metadata(meta: TableMetadata, base_version: int) -> int:
    """Put-if-absent commit of v{base+1}; raises CommitConflict if lost.

    The atomic arbitration is delegated to the location's CommitBackend
    (POSIX hard-link by default; conditional-PUT for object-store
    shapes) — the retry-over-atomic-swap protocol itself is backend-
    independent.  (Reference parity: SnapshotProducer.java:369-409 retry
    loop over the catalog's atomic swap.)
    """
    be = backend_for(meta.location)
    version = base_version + 1
    path = _metadata_path(meta.location, version)
    payload = json.dumps(meta.to_json(), indent=1).encode()
    if not be.put_if_absent(path, payload):
        raise CommitConflict(
            f"metadata version {version} already committed by a concurrent writer"
        )
    be.put(_hint_path(meta.location), str(version).encode())
    meta.version = version
    # metadata-file retention (reference TableMetadata
    # write.metadata.delete-after-commit.enabled +
    # write.metadata.previous-versions-max, default 100/off): old
    # metadata JSONs beyond the retention window are deleted AFTER a
    # successful commit — snapshots/time travel live in the CURRENT
    # file, so only external readers pinned to an old file (static
    # tables) care, which is why deletion is opt-in like the reference.
    if (
        meta.properties.get("write.metadata.delete-after-commit.enabled", "false")
        == "true"
    ):
        keep = int(
            meta.properties.get("write.metadata.previous-versions-max", 100)
        )
        cutoff = version - keep  # keep v{cutoff}..v{version}
        # A floor marker bounds the sweep to versions not yet examined,
        # so enabling retention late (or shrinking previous-versions-max
        # by any amount) still clears EVERY stale version exactly once —
        # a fixed back-window would strand files below it.  Marker
        # absence = sweep from 0 (one full pass, then O(1) per commit).
        floor_path = os.path.join(meta.location, "metadata", ".retention-floor")
        floor = 0
        try:
            if be.exists(floor_path):
                floor = int(be.read(floor_path).decode().strip())
        except (OSError, ValueError, NotImplementedError):
            floor = 0
        swept_to = floor
        for old in range(floor, cutoff):
            old_path = _metadata_path(meta.location, old)
            try:
                if be.exists(old_path):
                    be.delete(old_path)
                swept_to = old + 1
            except (OSError, NotImplementedError):
                # retention must never fail a landed commit
                break
        if swept_to > floor:
            try:
                be.put(floor_path, str(swept_to).encode())
            except (OSError, NotImplementedError):
                pass
    return version


class CommitConflict(Exception):
    pass


def new_snapshot_id() -> int:
    return uuid.uuid4().int & ((1 << 62) - 1)


def now_ms() -> int:
    return int(time.time() * 1000)
