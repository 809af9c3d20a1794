"""AWS DynamoDB catalog — conditional-expression commit protocol.

Python analogue of the reference's
``aws/src/main/java/org/apache/iceberg/aws/dynamodb/DynamoDbCatalog.java``
(1-698) + ``DynamoDbTableOperations.java``: ONE DynamoDB table holds
every catalog entry as an item keyed by ``(identifier, namespace)`` —
namespaces are items whose identifier is the sentinel ``NAMESPACE``,
tables are items whose properties live in ``p.``-prefixed attribute
columns (``toPropertyCol``), including ``p.metadata_location`` as the
pointer of record.  Every item carries a version attribute ``v`` that
is REPLACED WITH A FRESH UUID on each write
(``setNewCatalogEntryMetadata`` / ``updateCatalogEntryMetadata``), and
every mutation is conditional:

- commit to an existing table: ``UpdateItem`` with
  ``ConditionExpression "v = :v"`` carrying the version the committer
  READ — ConditionalCheckFailedException = lost race = engine retry
  (``DynamoDbTableOperations.persistTable:200-250``);
- first commit: ``PutItem`` with ``attribute_not_exists(v)``;
- drop: ``DeleteItem`` conditional on the version read;
- rename: ``TransactWriteItems`` of [conditional Delete(from),
  conditional Put(to)] — ATOMIC, unlike Glue's create-then-drop
  (``DynamoDbCatalog.renameTable:416-474``).

The environment has no AWS endpoint, so ``DynamoService`` implements
the DynamoDB-item semantics in-process (the same posture as the Glue /
Hive / Nessie stand-ins): items under one mutex with conditional
put/update/delete and an all-or-nothing transact_write.  The
client-side protocol — consistent read, base-location check,
conditional write, uuid version rotation — is the reference's.

Scale: one consistent GetItem + one conditional UpdateItem per commit,
never data volume; DynamoDB serializes writers per item key, so a hot
table throttles only itself (the reference's documented posture).

Like Glue, the store has no lock around the swap, so metadata documents
are uuid-suffixed (``pointer_catalog`` resolves older versions by a
bounded glob).
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table.pointer_catalog import (
    PointerCatalog,
    PointerCommitBackend,
    split_metadata_path,
)

COL_IDENTIFIER = "identifier"
COL_NAMESPACE = "namespace"
COL_VERSION = "v"
NAMESPACE_SENTINEL = "NAMESPACE"
PROPERTY_COL_PREFIX = "p."
METADATA_LOCATION_PROP = PROPERTY_COL_PREFIX + "metadata_location"
PREVIOUS_METADATA_LOCATION_PROP = (
    PROPERTY_COL_PREFIX + "previous_metadata_location"
)


class ConditionalCheckFailed(Exception):
    """A conditional expression did not hold (DynamoDB
    ConditionalCheckFailedException)."""


class DynamoService:
    """In-process DynamoDB-item semantics: one logical table of items
    keyed by (identifier, namespace), conditional put/update/delete,
    all-or-nothing transactions."""

    def __init__(self) -> None:
        self._lock = threading.RLock()
        self._items: dict[tuple[str, str], dict] = {}

    @staticmethod
    def _fresh_version() -> str:
        return uuid.uuid4().hex

    def put_item(self, item: dict, if_not_exists: bool = True) -> None:
        """PutItem with ConditionExpression attribute_not_exists(v)."""
        with self._lock:
            key = (item[COL_IDENTIFIER], item[COL_NAMESPACE])
            if if_not_exists and key in self._items:
                raise ConditionalCheckFailed(f"item {key} already exists")
            row = dict(item)
            row[COL_VERSION] = self._fresh_version()
            self._items[key] = row

    def get_item(self, identifier: str, namespace: str) -> dict | None:
        """Consistent read (the in-process store is always consistent)."""
        with self._lock:
            row = self._items.get((identifier, namespace))
            return dict(row) if row is not None else None

    def update_item(
        self,
        identifier: str,
        namespace: str,
        updates: dict,
        expected_version: str | None = None,
        expected_attrs: dict | None = None,
    ) -> None:
        """UpdateItem SET ... with ConditionExpression ``v = :v`` and/or
        attribute equality (the lock heartbeat conditions on
        entityId+ownerId match, not version)."""
        with self._lock:
            row = self._items.get((identifier, namespace))
            if row is None or (
                expected_version is not None
                and row[COL_VERSION] != expected_version
            ):
                raise ConditionalCheckFailed(
                    f"item {(identifier, namespace)} version mismatch"
                )
            for k, v in (expected_attrs or {}).items():
                if row.get(k) != v:
                    raise ConditionalCheckFailed(
                        f"item {(identifier, namespace)} attribute {k!r} "
                        f"condition failed"
                    )
            row.update(updates)
            row[COL_VERSION] = self._fresh_version()

    def delete_item(
        self,
        identifier: str,
        namespace: str,
        expected_version: str | None = None,
        expected_attrs: dict | None = None,
    ) -> None:
        """DeleteItem with ConditionExpression: version equality and/or
        arbitrary attribute equality (the lock manager's owner-match
        delete uses ``expected_attrs``)."""
        with self._lock:
            key = (identifier, namespace)
            row = self._items.get(key)
            if row is None or (
                expected_version is not None
                and row[COL_VERSION] != expected_version
            ):
                raise ConditionalCheckFailed(f"item {key} condition failed")
            for k, v in (expected_attrs or {}).items():
                if row.get(k) != v:
                    raise ConditionalCheckFailed(
                        f"item {key} attribute {k!r} condition failed"
                    )
            del self._items[key]

    def put_item_if_version(
        self, item: dict, expected_version: str
    ) -> None:
        """PutItem with ConditionExpression
        ``attribute_not_exists(...) OR v = :vid`` — the lock manager's
        lease-steal write (reference DynamoDbLockManager.acquireOnce
        CONDITION_LOCK_ENTITY_NOT_EXIST_OR_VERSION_MATCH): lands if the
        item vanished OR its version is still the one the caller read
        (no heartbeat rotated it during the full lease wait)."""
        with self._lock:
            key = (item[COL_IDENTIFIER], item[COL_NAMESPACE])
            row = self._items.get(key)
            if row is not None and row[COL_VERSION] != expected_version:
                raise ConditionalCheckFailed(
                    f"item {key} version rotated (live heartbeat)"
                )
            new = dict(item)
            new[COL_VERSION] = self._fresh_version()
            self._items[key] = new

    def transact_write(self, ops: list[tuple]) -> None:
        """TransactWriteItems: every op's condition checks first; all
        apply atomically or none do.  Ops: ("delete", ident, ns,
        expected_v) | ("put", item)."""
        with self._lock:
            for op in ops:
                if op[0] == "delete":
                    _, ident, ns, ev = op
                    row = self._items.get((ident, ns))
                    if row is None or row[COL_VERSION] != ev:
                        raise ConditionalCheckFailed(
                            f"transact delete {(ident, ns)} condition failed"
                        )
                elif op[0] == "put":
                    item = op[1]
                    key = (item[COL_IDENTIFIER], item[COL_NAMESPACE])
                    if key in self._items:
                        raise ConditionalCheckFailed(
                            f"transact put {key} already exists"
                        )
            for op in ops:
                if op[0] == "delete":
                    del self._items[(op[1], op[2])]
                else:
                    item = dict(op[1])
                    item[COL_VERSION] = self._fresh_version()
                    self._items[(item[COL_IDENTIFIER], item[COL_NAMESPACE])] = item

    def scan(self) -> list[dict]:
        with self._lock:
            return [dict(v) for v in self._items.values()]


def _item_location(row: dict) -> str | None:
    split = split_metadata_path(row.get(METADATA_LOCATION_PROP) or "")
    return split[0] if split else None


class DynamoCommitBackend(PointerCommitBackend):
    """Pointer backend over the item's ``p.metadata_location``: the swap
    is UpdateItem conditional on the uuid version the committer read, or
    PutItem with attribute_not_exists(v) for a first commit (reference
    DynamoDbTableOperations.doCommit/persistTable)."""

    unique_documents = True
    lost_race = (ConditionalCheckFailed,)

    def __init__(self, service: DynamoService, warehouse: str):
        self.service = service
        self.warehouse = warehouse.rstrip("/")

    def _entry_for_location(self, location: str):
        # items carry no location attribute: it is the pointer's directory
        try:
            db, name = self._ident_of(location)
        except ValueError:
            pass  # registered from outside the warehouse: scan below
        else:
            row = self.service.get_item(f"{db}.{name}", db)
            if row is not None and _item_location(row) == location:
                return (db, name), row
        # renamed tables keep their location: bounded reverse scan
        for row in self.service.scan():
            if _item_location(row) == location:
                ident = row[COL_IDENTIFIER]
                return (row[COL_NAMESPACE], ident.split(".", 1)[-1]), row
        return None, None

    def _entry_pointer(self, row):
        return row.get(METADATA_LOCATION_PROP) if row else None

    def _swap(self, location, ident, row, doc, held) -> bool:
        if row is None:
            db, name = self._ident_of(location)
            self.service.put_item({
                COL_IDENTIFIER: f"{db}.{name}", COL_NAMESPACE: db,
                METADATA_LOCATION_PROP: doc,
            })
            return True
        updates = {METADATA_LOCATION_PROP: doc}
        if row.get(METADATA_LOCATION_PROP):
            updates[PREVIOUS_METADATA_LOCATION_PROP] = row[METADATA_LOCATION_PROP]
        self.service.update_item(
            row[COL_IDENTIFIER], row[COL_NAMESPACE], updates,
            expected_version=row[COL_VERSION],
        )
        return True


class DynamoDbCatalog(PointerCatalog):
    """Catalog over the in-process DynamoDB item store (reference
    DynamoDbCatalog): namespaces as NAMESPACE-sentinel items, tables
    as items with p.-prefixed properties, ATOMIC transactional rename."""

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession,
        service: DynamoService | None = None,
    ):
        self.service = service or DynamoService()
        super().__init__(
            warehouse, spark, DynamoCommitBackend(self.service, warehouse)
        )
        if self.service.get_item(NAMESPACE_SENTINEL, "default") is None:
            self.create_namespace("default")

    def _item(self, name: str) -> dict | None:
        db, tbl = self._ident(name)
        return self.service.get_item(f"{db}.{tbl}", db)

    # -- pointer-catalog hooks ---------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        row = self._item(name)
        return (row or {}).get(METADATA_LOCATION_PROP) or None

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        db, tbl = self._ident(name)
        if ptr is None:
            # the v0 commit CREATES the item (persistTable's PutItem branch)
            if self.service.get_item(NAMESPACE_SENTINEL, db) is None:
                raise KeyError(f"namespace {db!r} not found")
            if self._item(name) is not None:
                raise ValueError(f"table {name} already exists")
            return False
        try:
            self.service.put_item({
                COL_IDENTIFIER: f"{db}.{tbl}", COL_NAMESPACE: db,
                METADATA_LOCATION_PROP: ptr,
            })
        except ConditionalCheckFailed:
            raise ValueError(f"table {name} already exists") from None
        return True

    def _drop_entry(self, name: str) -> str:
        row = self._item(name)
        if row is None:
            raise FileNotFoundError(f"table {name} not found in DynamoDb")
        self.service.delete_item(
            row[COL_IDENTIFIER], row[COL_NAMESPACE],
            expected_version=row[COL_VERSION],
        )
        return _item_location(row) or self._table_location(name)

    # -- namespaces -------------------------------------------------------------

    def create_namespace(
        self,
        namespace: str,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        item = {COL_IDENTIFIER: NAMESPACE_SENTINEL, COL_NAMESPACE: namespace}
        for k, v in (properties or {}).items():
            item[PROPERTY_COL_PREFIX + k] = v
        try:
            self.service.put_item(item)
        except ConditionalCheckFailed:
            if not if_not_exists:
                raise ValueError(f"namespace {namespace!r} already exists")

    def list_namespaces(self) -> list[str]:
        return sorted(
            row[COL_NAMESPACE]
            for row in self.service.scan()
            if row[COL_IDENTIFIER] == NAMESPACE_SENTINEL
        )

    def namespace_properties(self, namespace: str) -> dict[str, str]:
        row = self.service.get_item(NAMESPACE_SENTINEL, namespace)
        if row is None:
            raise KeyError(f"namespace {namespace!r} not found")
        return {
            k[len(PROPERTY_COL_PREFIX):]: v
            for k, v in row.items()
            if k.startswith(PROPERTY_COL_PREFIX)
        }

    def drop_namespace(self, namespace: str) -> None:
        row = self.service.get_item(NAMESPACE_SENTINEL, namespace)
        if row is None:
            raise KeyError(f"namespace {namespace!r} not found")
        if self.list_tables(namespace):
            raise ValueError(f"namespace {namespace!r} is not empty")
        self.service.delete_item(
            NAMESPACE_SENTINEL, namespace, expected_version=row[COL_VERSION]
        )

    # -- table listing and rename ----------------------------------------------

    def list_tables(self, namespace: str = "default") -> list[str]:
        out = []
        for row in self.service.scan():
            if (
                row[COL_NAMESPACE] == namespace
                and row[COL_IDENTIFIER] != NAMESPACE_SENTINEL
            ):
                ident = row[COL_IDENTIFIER]
                out.append(ident.split(".", 1)[1] if "." in ident else ident)
        return sorted(out)

    def rename_table(self, old: str, new: str) -> None:
        """ATOMIC rename: TransactWriteItems of [conditional
        Delete(from), Put(to) if absent] — both land or neither
        (reference DynamoDbCatalog.renameTable:416-474)."""
        odb, otbl = self._ident(old)
        ndb, ntbl = self._ident(new)
        if self.service.get_item(NAMESPACE_SENTINEL, ndb) is None:
            raise KeyError(f"namespace {ndb!r} not found")
        src = self.service.get_item(f"{odb}.{otbl}", odb)
        if src is None:
            raise FileNotFoundError(f"table {old} not found in DynamoDb")
        dest = {
            COL_IDENTIFIER: f"{ndb}.{ntbl}",
            COL_NAMESPACE: ndb,
            **{
                k: v
                for k, v in src.items()
                if k.startswith(PROPERTY_COL_PREFIX)
            },
        }
        self.service.transact_write(
            [
                ("delete", f"{odb}.{otbl}", odb, src[COL_VERSION]),
                ("put", dest),
            ]
        )


# -- DynamoDB lock manager (reference aws/dynamodb/DynamoDbLockManager.java
# :62-320) — the LockManager Glue engages when versionId preconditions are
# unavailable (GlueTableOperations.persistGlueTable: versionId set only
# "if available on the path AND lockManager == null") -------------------------

LOCK_NAMESPACE = "__lock__"
COL_OWNER = "lockOwnerId"
COL_LEASE_MS = "leaseDurationMs"


class DynamoDbLockManager:
    """Lease-based distributed lock over the DynamoDB item store.

    Protocol (reference ``DynamoDbLockManager.acquireOnce:195-236``):

    - lock ABSENT: PutItem with ``attribute_not_exists`` — first writer
      wins;
    - lock PRESENT: wait out the holder's FULL lease duration, then
      PutItem conditional on ``not_exists OR version == the version we
      read`` — a LIVE holder's heartbeat rotates the version during the
      wait so the steal loses (ConditionalCheckFailedException), while
      a DEAD holder's version never moves and the lease expires to us;
    - heartbeat: a background task rotates the version every
      ``heartbeat_interval`` conditional on entityId+ownerId match;
    - release: DeleteItem conditional on ownerId match — releasing
      someone else's lock fails instead of clobbering
      (``release:251-292``).

    acquire() retries acquireOnce with backoff until
    ``acquire_timeout`` (reference Tasks.foreach exponentialBackoff
    retrying ConditionalCheckFailedException).
    """

    def __init__(
        self,
        service: DynamoService,
        heartbeat_interval: float = 0.05,
        heartbeat_timeout: float = 0.3,
        acquire_timeout: float = 10.0,
        acquire_interval: float = 0.01,
    ) -> None:
        self.service = service
        self.heartbeat_interval = heartbeat_interval
        self.heartbeat_timeout = heartbeat_timeout
        self.acquire_timeout = acquire_timeout
        self.acquire_interval = acquire_interval
        self._beats: dict[str, threading.Event] = {}
        self._beat_lock = threading.Lock()

    def _new_item(self, entity_id: str, owner_id: str) -> dict:
        return {
            COL_IDENTIFIER: entity_id,
            COL_NAMESPACE: LOCK_NAMESPACE,
            COL_OWNER: owner_id,
            COL_LEASE_MS: self.heartbeat_timeout * 1000.0,
        }

    def _acquire_once(self, entity_id: str, owner_id: str) -> None:
        row = self.service.get_item(entity_id, LOCK_NAMESPACE)
        if row is None:
            self.service.put_item(self._new_item(entity_id, owner_id))
        else:
            # wait out the CURRENT holder's full lease; if its
            # heartbeat is alive the version rotates meanwhile and the
            # conditional steal below loses
            import time as _time

            _time.sleep(float(row[COL_LEASE_MS]) / 1000.0)
            self.service.put_item_if_version(
                self._new_item(entity_id, owner_id),
                expected_version=row[COL_VERSION],
            )
        self._start_heartbeat(entity_id, owner_id)

    def acquire(self, entity_id: str, owner_id: str) -> bool:
        import time as _time

        deadline = _time.monotonic() + self.acquire_timeout
        while True:
            try:
                self._acquire_once(entity_id, owner_id)
                return True
            except ConditionalCheckFailed:
                if _time.monotonic() > deadline:
                    return False
                _time.sleep(self.acquire_interval)

    def _start_heartbeat(self, entity_id: str, owner_id: str) -> None:
        stop = threading.Event()
        with self._beat_lock:
            old = self._beats.pop(entity_id, None)
            if old is not None:
                old.set()
            self._beats[entity_id] = stop

        def beat() -> None:
            while not stop.wait(self.heartbeat_interval):
                try:
                    # rotate the version, conditional on still owning
                    # the lock (reference DynamoDbHeartbeat.run)
                    self.service.update_item(
                        entity_id,
                        LOCK_NAMESPACE,
                        {COL_LEASE_MS: self.heartbeat_timeout * 1000.0},
                        expected_attrs={COL_OWNER: owner_id},
                    )
                except ConditionalCheckFailed:
                    return  # lost the lock: stop beating

        threading.Thread(target=beat, daemon=True).start()

    def release(self, entity_id: str, owner_id: str) -> bool:
        # owner-conditional delete FIRST: a release() with a wrong
        # owner_id must not touch the live holder's heartbeat (the
        # _beats map is keyed by entity only) — popping it before the
        # ownership check would silently kill the holder's lease
        try:
            self.service.delete_item(
                entity_id,
                LOCK_NAMESPACE,
                expected_attrs={COL_OWNER: owner_id},
            )
        except ConditionalCheckFailed:
            return False  # not the owner / already expired-and-stolen
        with self._beat_lock:
            stop = self._beats.pop(entity_id, None)
        if stop is not None:
            stop.set()
        return True

    def close(self) -> None:
        with self._beat_lock:
            for stop in self._beats.values():
                stop.set()
            self._beats.clear()
