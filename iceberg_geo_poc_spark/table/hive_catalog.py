"""Hive-metastore catalog — lock/heartbeat commit protocol.

Python analogue of the reference's ``hive-metastore`` module
(``HiveCatalog.java``, ``HiveTableOperations.java:170-260``,
``MetastoreLock.java``): the metastore holds one table entry per
Iceberg table whose ``metadata_location`` PARAMETER is the pointer of
record; a commit

1. writes the new metadata document,
2. takes the metastore's EXCLUSIVE table lock (``lock`` may answer
   WAITING — the committer polls ``check_lock`` until ACQUIRED, and
   HEARTBEATS while holding it; a lock whose heartbeats stop is evicted
   after the transaction timeout so a crashed committer cannot wedge
   the table),
3. re-reads the entry under the lock and verifies the base
   ``metadata_location`` still matches (the CommitFailedException CAS),
4. ``alter_table`` sets ``metadata_location`` / ``previous_metadata_location``,
5. unlocks in a finally.

The environment has no Hive metastore service, so
``HiveMetastoreService`` implements the semantics in-process (the same
posture as the REST catalog's ``CatalogService`` and the Nessie
stand-in): FIFO lock queues per table with heartbeat-expiry takeover,
databases, table entries with parameter maps, atomic-under-lock
``alter_table``.  The client-side protocol — poll-until-acquired,
heartbeat-before-persist (``lock.ensureActive``), base-location check,
finally-unlock — is the reference's, which is the part that matters:
it is exactly what a real HMS deployment exercises.

Scale: the metastore sees one lock cycle + one parameter CAS per
commit, never data volume; lock queues are per-table so hot tables
serialize their own committers without blocking others (the
reference's known HMS throughput property).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.pointer_catalog import (
    PointerCatalog,
    PointerCommitBackend,
)

METADATA_LOCATION_PROP = "metadata_location"
PREVIOUS_METADATA_LOCATION_PROP = "previous_metadata_location"


class LockException(Exception):
    """Lock lost / heartbeat failed (reference LockException)."""


class HiveMetastoreService:
    """In-process HMS semantics: databases, table entries, EXCLUSIVE
    per-table lock queues with heartbeat expiry."""

    def __init__(self, txn_timeout_sec: float = 20.0) -> None:
        self._lock = threading.RLock()
        self.txn_timeout = txn_timeout_sec
        self._dbs: dict[str, dict] = {}
        self._tables: dict[tuple[str, str], dict] = {}
        # (db, tbl) -> ordered [lock_id, ...]; lock_id -> last heartbeat
        self._queues: dict[tuple[str, str], list[int]] = {}
        self._beats: dict[int, float] = {}
        self._owners: dict[int, tuple[str, str]] = {}
        self._next_id = 1

    # -- databases -----------------------------------------------------------

    def create_database(self, name: str, properties: dict | None = None) -> None:
        with self._lock:
            if name in self._dbs:
                raise ValueError(f"database {name!r} already exists")
            self._dbs[name] = dict(properties or {})

    def get_database(self, name: str) -> dict:
        with self._lock:
            if name not in self._dbs:
                raise KeyError(f"database {name!r} not found")
            return dict(self._dbs[name])

    def list_databases(self) -> list[str]:
        with self._lock:
            return sorted(self._dbs)

    def drop_database(self, name: str) -> None:
        with self._lock:
            if name not in self._dbs:
                raise KeyError(f"database {name!r} not found")
            if any(db == name for db, _ in self._tables):
                raise ValueError(f"database {name!r} is not empty")
            del self._dbs[name]

    # -- table entries --------------------------------------------------------

    def create_table_entry(
        self, db: str, tbl: str, location: str, parameters: dict | None = None
    ) -> None:
        with self._lock:
            if db not in self._dbs:
                raise KeyError(f"database {db!r} not found")
            if (db, tbl) in self._tables:
                raise ValueError(f"table {db}.{tbl} already exists")
            self._tables[(db, tbl)] = {
                "location": location,
                "parameters": dict(parameters or {}),
            }

    def get_table(self, db: str, tbl: str) -> dict | None:
        with self._lock:
            t = self._tables.get((db, tbl))
            return None if t is None else {
                "location": t["location"],
                "parameters": dict(t["parameters"]),
            }

    def alter_table(self, db: str, tbl: str, parameters: dict) -> None:
        with self._lock:
            t = self._tables.get((db, tbl))
            if t is None:
                raise KeyError(f"table {db}.{tbl} not found")
            t["parameters"] = dict(parameters)

    def rename_table(self, db: str, tbl: str, new_db: str, new_tbl: str) -> None:
        with self._lock:
            if new_db not in self._dbs:
                raise KeyError(f"database {new_db!r} not found")
            if (new_db, new_tbl) in self._tables:
                raise ValueError(f"table {new_db}.{new_tbl} already exists")
            t = self._tables.pop((db, tbl), None)
            if t is None:
                raise KeyError(f"table {db}.{tbl} not found")
            self._tables[(new_db, new_tbl)] = t

    def drop_table_entry(self, db: str, tbl: str) -> None:
        with self._lock:
            if self._tables.pop((db, tbl), None) is None:
                raise KeyError(f"table {db}.{tbl} not found")

    def list_tables(self, db: str) -> list[str]:
        with self._lock:
            return sorted(t for d, t in self._tables if d == db)

    def items(self) -> list[tuple[tuple[str, str], dict]]:
        with self._lock:
            return [
                (key, {"location": t["location"],
                       "parameters": dict(t["parameters"])})
                for key, t in self._tables.items()
            ]

    # -- locks (reference MetastoreLock / HMS LockState machine) --------------

    def _evict_expired(self, key: tuple[str, str]) -> None:
        # under self._lock
        now = time.monotonic()
        q = self._queues.get(key, [])
        live = []
        for lid in q:
            if now - self._beats.get(lid, 0.0) > self.txn_timeout:
                self._beats.pop(lid, None)
                self._owners.pop(lid, None)
            else:
                live.append(lid)
        self._queues[key] = live

    def lock(self, db: str, tbl: str) -> tuple[int, str]:
        """EXCLUSIVE table lock request -> (lock_id, 'ACQUIRED'|'WAITING')."""
        with self._lock:
            key = (db, tbl)
            self._evict_expired(key)
            lid = self._next_id
            self._next_id += 1
            self._queues.setdefault(key, []).append(lid)
            self._beats[lid] = time.monotonic()
            self._owners[lid] = key
            state = "ACQUIRED" if self._queues[key][0] == lid else "WAITING"
            return lid, state

    def check_lock(self, lock_id: int) -> str:
        with self._lock:
            key = self._owners.get(lock_id)
            if key is None:
                raise LockException(f"lock {lock_id} not found (expired?)")
            self._evict_expired(key)
            if self._owners.get(lock_id) is None:
                raise LockException(f"lock {lock_id} expired")
            return (
                "ACQUIRED" if self._queues[key][0] == lock_id else "WAITING"
            )

    def heartbeat(self, lock_id: int) -> None:
        with self._lock:
            if lock_id not in self._beats:
                raise LockException(
                    f"lock {lock_id} not found (evicted after missed "
                    f"heartbeats — another committer may hold the table)"
                )
            self._beats[lock_id] = time.monotonic()

    def unlock(self, lock_id: int) -> None:
        with self._lock:
            key = self._owners.pop(lock_id, None)
            self._beats.pop(lock_id, None)
            if key is not None and lock_id in self._queues.get(key, []):
                self._queues[key].remove(lock_id)


class HiveCommitBackend(PointerCommitBackend):
    """Pointer backend over the HMS ``metadata_location`` parameter: the
    swap runs under the metastore's exclusive table lock (reference
    HiveTableOperations.doCommit), with the canonical document written
    under that lock."""

    lost_race = (LockException,)  # lost the lock mid-commit

    def __init__(self, service: HiveMetastoreService, warehouse: str):
        self.service = service
        self.warehouse = warehouse.rstrip("/")
        # lock acquisition posture (reference MetastoreLock defaults,
        # scaled down for in-process use)
        self.acquire_timeout = 30.0
        self.poll_interval = 0.005

    def _entry_for_location(self, location: str):
        try:
            db, tbl = self._ident_of(location)
        except ValueError:
            pass  # registered from outside the warehouse: scan below
        else:
            t = self.service.get_table(db, tbl)
            if t is not None and t["location"] == location:
                return (db, tbl), t
        # renamed tables keep their location: bounded reverse scan
        for ident, entry in self.service.items():
            if entry["location"] == location:
                return ident, entry
        return None, None

    def _entry_pointer(self, entry):
        return entry["parameters"].get(METADATA_LOCATION_PROP) if entry else None

    @contextmanager
    def _locked(self, db: str, tbl: str):
        """Hold the exclusive table lock: poll lock -> check_lock until
        ACQUIRED (reference MetastoreLock.acquireLock WAITING loop),
        unlock in a finally; yields the lock id."""
        lid, state = self.service.lock(db, tbl)
        deadline = time.monotonic() + self.acquire_timeout
        while state == "WAITING":
            if time.monotonic() > deadline:
                self.service.unlock(lid)
                raise LockException(
                    f"timed out acquiring metastore lock on {db}.{tbl}"
                )
            time.sleep(self.poll_interval)
            self.service.heartbeat(lid)
            state = self.service.check_lock(lid)
        try:
            yield lid
        finally:
            try:
                self.service.unlock(lid)
            except LockException:
                pass

    @contextmanager
    def _swap_guard(self, location: str):
        ident, _ = self._entry_for_location(location)
        if ident is None:
            raise FileNotFoundError(
                f"no metastore entry for location {location!r}; create "
                f"tables through HiveCatalog.create_table"
            )
        with self._locked(*ident) as lid:
            # re-read UNDER the lock: the base-location check (reference
            # HiveTableOperations baseMetadataLocation equality) runs on it
            yield ident, self.service.get_table(*ident), lid

    def _swap(self, location, ident, entry, doc, lid) -> bool:
        # lock.ensureActive() before persisting (reference): a lock that
        # expired mid-commit must NOT alter the entry — another committer
        # may already hold the table
        self.service.heartbeat(lid)
        params = dict(entry["parameters"])
        params[PREVIOUS_METADATA_LOCATION_PROP] = self._entry_pointer(entry) or ""
        params[METADATA_LOCATION_PROP] = doc
        self.service.alter_table(*ident, params)
        return True


class HiveCatalog(PointerCatalog):
    """Catalog over the in-process metastore (reference HiveCatalog):
    databases as namespaces, table entries with the metadata_location
    parameter, rename keeps the location, VIRTUAL_VIEW entries as views."""

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession,
        service: HiveMetastoreService | None = None,
    ):
        self.service = service or HiveMetastoreService()
        super().__init__(
            warehouse, spark, HiveCommitBackend(self.service, warehouse)
        )
        if "default" not in self.service.list_databases():
            self.service.create_database("default")

    # -- pointer-catalog hooks ---------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        t = self.service.get_table(*self._ident(name))
        if t is None or t["parameters"].get("table_type") == "VIRTUAL_VIEW":
            return None
        return t["parameters"].get(METADATA_LOCATION_PROP) or None

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        # with a NULL pointer the v0 commit fills it under the table lock
        # (reference: newTable + AlreadyExists when the location is set)
        self.service.create_table_entry(
            *self._ident(name), location,
            parameters={METADATA_LOCATION_PROP: ptr} if ptr else None,
        )
        return True

    def _drop_entry(self, name: str) -> str:
        db, tbl = self._ident(name)
        t = self.service.get_table(db, tbl)
        if t is None:
            raise FileNotFoundError(f"table {name} not found in metastore")
        self.service.drop_table_entry(db, tbl)
        return t["location"]

    # -- namespaces = databases ----------------------------------------------

    def create_namespace(
        self,
        namespace: str,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        try:
            self.service.create_database(namespace, properties)
        except ValueError:
            if not if_not_exists:
                raise

    def list_namespaces(self) -> list[str]:
        return self.service.list_databases()

    def namespace_properties(self, namespace: str) -> dict[str, str]:
        return self.service.get_database(namespace)

    def drop_namespace(self, namespace: str) -> None:
        self.service.drop_database(namespace)

    # -- table listing and rename ----------------------------------------------

    def list_tables(self, namespace: str = "default") -> list[str]:
        out = []
        for n in self.service.list_tables(namespace):
            t = self.service.get_table(namespace, n)
            if t["parameters"].get("table_type") != "VIRTUAL_VIEW":
                out.append(n)
        return out

    def rename_table(self, old: str, new: str) -> None:
        self.service.rename_table(*self._ident(old), *self._ident(new))

    # -- views (reference HiveViewOperations: a VIRTUAL_VIEW metastore
    # entry whose metadata_location parameter points at the view's
    # version document; commits use the same lock protocol) ---------------

    def _view_entry(self, name: str) -> dict | None:
        db, v = self._ident(name)
        t = self.service.get_table(db, v)
        if t is None or t["parameters"].get("table_type") != "VIRTUAL_VIEW":
            return None
        return t

    def _view_log(self, name: str) -> list[dict]:
        t = self._view_entry(name)
        if t is None:
            raise KeyError(f"view {name} not found")
        with open(t["parameters"][METADATA_LOCATION_PROP]) as f:
            return json.load(f)["versions"]

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        db, vname = self._ident(name)
        entry = self._view_entry(name)
        if entry is not None and not replace:
            raise ValueError(f"view {name} already exists")
        path = self._write_view_doc(
            name, entry and entry["parameters"][METADATA_LOCATION_PROP], sql_text
        )
        # commit under the SAME exclusive lock protocol table commits
        # use; re-check the base pointer under the lock (replace race:
        # exactly one winner, the loser's document is an orphan)
        with self.backend._locked(db, vname) as lid:
            cur = self._view_entry(name)
            cur_ptr = (
                cur["parameters"][METADATA_LOCATION_PROP] if cur else None
            )
            base_ptr = (
                entry["parameters"][METADATA_LOCATION_PROP] if entry else None
            )
            if cur_ptr != base_ptr:
                raise MD.CommitConflict(
                    f"concurrent view commit won for {name!r}"
                )
            self.service.heartbeat(lid)
            if cur is None:
                self.service.create_table_entry(
                    db, vname, os.path.dirname(path),
                    parameters={
                        "table_type": "VIRTUAL_VIEW",
                        METADATA_LOCATION_PROP: path,
                    },
                )
            else:
                self.service.alter_table(
                    db, vname,
                    {
                        "table_type": "VIRTUAL_VIEW",
                        PREVIOUS_METADATA_LOCATION_PROP: cur_ptr or "",
                        METADATA_LOCATION_PROP: path,
                    },
                )

    def list_views(self) -> list[str]:
        return sorted(
            n if db == "default" else f"{db}.{n}"
            for (db, n), entry in self.service.items()
            if entry["parameters"].get("table_type") == "VIRTUAL_VIEW"
        )

    def drop_view(self, name: str) -> None:
        db, vname = self._ident(name)
        if self._view_entry(name) is None:
            raise KeyError(f"view {name} not found")
        self.service.drop_table_entry(db, vname)
        shutil.rmtree(self._view_dir(name), ignore_errors=True)
