"""JDBC-backed catalog over a SQL database — the reference's JdbcCatalog.

Python analogue of ``jdbc/JdbcCatalog.java`` + ``JdbcUtil.java`` +
``JdbcTableOperations.java``, using the stdlib ``sqlite3`` as the DB-API
engine (the reference takes any JDBC driver; sqlite is the dependency-
free stand-in with real cross-process file locking).  Layout mirrors
JdbcUtil's V1 schema:

- ``iceberg_tables(catalog_name, table_namespace, table_name,
  metadata_location, previous_metadata_location, iceberg_type)`` — one
  row per table, the ``metadata_location`` pointer is the SOURCE OF
  TRUTH for the table's current metadata document;
- ``iceberg_namespace_properties(catalog_name, namespace,
  property_key, property_value)`` — namespace registry (the reference's
  namespace-exists marker property included).

Commit protocol (JdbcTableOperations.doCommit): a commit writes the new
metadata document, then executes the atomic compare-and-swap

    UPDATE iceberg_tables SET metadata_location = :new,
           previous_metadata_location = :old
    WHERE catalog_name = :c AND table_namespace = :ns
      AND table_name = :t AND metadata_location = :old

— 0 rows updated means a concurrent committer moved the pointer first
(CommitFailedException in the reference; ``CommitConflict`` here), and
the engine's standard retry loop (``Table._commit``) re-reads and
re-applies.  The whole sequence runs inside one ``BEGIN IMMEDIATE``
sqlite transaction, which serializes writers across PROCESSES via the
database file lock — the document write happens under that lock so a
losing writer can never clobber the winner's document.

The pointer protocol itself (pointer-as-hint, invisible documents above
the pointer, replay refusal) is ``pointer_catalog``'s; this module adds
the sqlite schema, the row lookup and the CAS above.  Data files,
manifests and the metadata documents stay on the shared filesystem; the
DATABASE holds only pointers — the reference's split exactly, and the
right one at 100 TB (the DB sees one tiny CAS per commit, never data
volume).
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.pointer_catalog import (
    PointerCatalog,
    PointerCommitBackend,
)

# the reference's namespace-exists marker (JdbcUtil.NAMESPACE_EXISTS_PROPERTY)
_NS_EXISTS_KEY = "exists"


class JdbcCommitBackend(PointerCommitBackend):
    """Pointer backend over the ``iceberg_tables`` row: the swap is the
    CAS UPDATE, run under BEGIN IMMEDIATE together with the canonical
    document write."""

    def __init__(self, db_path: str, catalog_name: str = "default"):
        self.db_path = db_path
        self.catalog_name = catalog_name
        os.makedirs(os.path.dirname(db_path) or ".", exist_ok=True)
        with self.db() as c:
            c.execute(
                "CREATE TABLE IF NOT EXISTS iceberg_tables ("
                " catalog_name TEXT NOT NULL,"
                " table_namespace TEXT NOT NULL,"
                " table_name TEXT NOT NULL,"
                " metadata_location TEXT,"
                " previous_metadata_location TEXT,"
                " iceberg_type TEXT,"
                " location TEXT,"  # engine extension: backend lookup key
                " PRIMARY KEY (catalog_name, table_namespace, table_name))"
            )
            c.execute(
                "CREATE UNIQUE INDEX IF NOT EXISTS iceberg_tables_loc"
                " ON iceberg_tables (catalog_name, location)"
            )
            c.execute(
                "CREATE TABLE IF NOT EXISTS iceberg_namespace_properties ("
                " catalog_name TEXT NOT NULL,"
                " namespace TEXT NOT NULL,"
                " property_key TEXT,"
                " property_value TEXT,"
                " PRIMARY KEY (catalog_name, namespace, property_key))"
            )
            # reference JdbcUtil V1 view schema (JdbcViewOperations): view
            # metadata lives behind a DB pointer row, so a DB-only reader
            # discovers views without touching the filesystem listing
            c.execute(
                "CREATE TABLE IF NOT EXISTS iceberg_views ("
                " catalog_name TEXT NOT NULL,"
                " view_namespace TEXT NOT NULL,"
                " view_name TEXT NOT NULL,"
                " metadata_location TEXT,"
                " previous_metadata_location TEXT,"
                " PRIMARY KEY (catalog_name, view_namespace, view_name))"
            )

    @contextmanager
    def db(self):
        """Short-lived connection per operation (closed on exit; the
        sqlite context manager alone commits but never closes)."""
        c = self._conn()
        try:
            yield c
        finally:
            c.close()

    def _conn(self) -> sqlite3.Connection:
        # one connection per operation: thread-safe by construction, and
        # the 30s busy timeout rides out concurrent committers' write
        # locks (the reference leans on the JDBC pool the same way)
        c = sqlite3.connect(self.db_path, timeout=30.0)
        c.isolation_level = None  # explicit BEGIN/COMMIT
        c.execute("PRAGMA journal_mode=WAL")
        return c

    # -- pointer-protocol hooks --------------------------------------------

    def _entry_for_location(self, location: str, c=None):
        if c is None:
            with self.db() as c:
                return self._entry_for_location(location, c)
        row = c.execute(
            "SELECT table_namespace, table_name, metadata_location"
            " FROM iceberg_tables WHERE catalog_name = ? AND location = ?",
            (self.catalog_name, location),
        ).fetchone()
        return (None, None) if row is None else ((row[0], row[1]), row[2])

    def _entry_pointer(self, entry):
        return entry  # the entry IS the metadata_location column

    @contextmanager
    def _swap_guard(self, location: str):
        # BEGIN IMMEDIATE takes the database write lock NOW: the
        # validate -> write-document -> CAS sequence is serialized
        # against every other committer, across processes.  Closing
        # without COMMIT rolls back.
        with self.db() as c:
            c.execute("BEGIN IMMEDIATE")
            ident, ptr = self._entry_for_location(location, c)
            if ident is None:
                raise FileNotFoundError(
                    f"no iceberg_tables row for location {location!r}; "
                    f"create tables through JdbcCatalog.create_table"
                )
            yield ident, ptr, c
            c.execute("COMMIT")

    def _swap(self, location, ident, ptr, doc, c) -> bool:
        # the reference's exact CAS (JdbcTableOperations.doCommit)
        got = c.execute(
            "UPDATE iceberg_tables SET metadata_location = ?,"
            " previous_metadata_location = ?"
            " WHERE catalog_name = ? AND location = ?"
            " AND metadata_location IS ?",
            (doc, ptr, self.catalog_name, location, ptr),
        )
        return got.rowcount == 1


class JdbcCatalog(PointerCatalog):
    """Catalog whose table registry and commit arbitration live in a SQL
    database (reference JdbcCatalog).  Adds namespaces, rename, DB-backed
    listing and DB-pointer views to the pointer-catalog core."""

    _nested_namespaces = True

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession,
        db_path: str | None = None,
        catalog_name: str = "jdbc",
    ):
        self.catalog_name = catalog_name
        super().__init__(warehouse, spark, JdbcCommitBackend(
            db_path or os.path.join(warehouse, "jdbc_catalog.db"), catalog_name
        ))
        self.create_namespace("default", if_not_exists=True)

    def _new_location(self, name: str) -> str:
        """Name-derived location, uniquified when another table already
        holds it — after ``rename_table`` the renamed table KEEPS its
        old location (reference behavior: locations are independent of
        names), so a new table under the vacated name must not share the
        directory (two tables sharing one metadata/ log would corrupt
        each other; code-review r12)."""
        base = self._table_location(name)
        taken = self.backend._entry_for_location(base)[0] is not None
        return base if not taken else f"{base}_{uuid.uuid4().hex[:8]}"

    def _row(self, name: str):
        ns, tbl = self._ident(name)
        with self.backend.db() as c:
            return c.execute(
                "SELECT location, metadata_location FROM iceberg_tables"
                " WHERE catalog_name = ? AND table_namespace = ?"
                " AND table_name = ?",
                (self.catalog_name, ns, tbl),
            ).fetchone()

    def _has_namespace(self, c: sqlite3.Connection, namespace: str) -> bool:
        return c.execute(
            "SELECT 1 FROM iceberg_namespace_properties"
            " WHERE catalog_name = ? AND namespace = ? LIMIT 1",
            (self.catalog_name, namespace),
        ).fetchone() is not None

    # -- pointer-catalog hooks ---------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        row = self._row(name)
        return row[1] if row else None

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        ns, tbl = self._ident(name)
        with self.backend.db() as c:
            if not self._has_namespace(c, ns):
                raise KeyError(f"namespace {ns!r} not found")
            try:
                # a NULL pointer is CAS-filled by the v0 commit
                c.execute(
                    "INSERT INTO iceberg_tables VALUES"
                    " (?, ?, ?, ?, NULL, 'TABLE', ?)",
                    (self.catalog_name, ns, tbl, ptr, location),
                )
            except sqlite3.IntegrityError:
                raise ValueError(f"table {name} already exists") from None
        return True

    def _drop_entry(self, name: str) -> str:
        row = self._row(name)
        if row is None:
            raise FileNotFoundError(f"table {name} not found in catalog")
        ns, tbl = self._ident(name)
        with self.backend.db() as c:
            c.execute(
                "DELETE FROM iceberg_tables WHERE catalog_name = ?"
                " AND table_namespace = ? AND table_name = ?",
                (self.catalog_name, ns, tbl),
            )
        return row[0]

    # -- namespaces (reference JdbcCatalog namespace surface) -------------

    def create_namespace(
        self,
        namespace: str,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        props = dict(properties or {})
        props.setdefault(_NS_EXISTS_KEY, "true")
        with self.backend.db() as c:
            if self._has_namespace(c, namespace):
                if if_not_exists:
                    return
                raise ValueError(f"namespace {namespace!r} already exists")
            c.executemany(
                "INSERT INTO iceberg_namespace_properties VALUES (?, ?, ?, ?)",
                [
                    (self.catalog_name, namespace, k, v)
                    for k, v in sorted(props.items())
                ],
            )

    def list_namespaces(self) -> list[str]:
        with self.backend.db() as c:
            rows = c.execute(
                "SELECT DISTINCT namespace FROM iceberg_namespace_properties"
                " WHERE catalog_name = ? ORDER BY namespace",
                (self.catalog_name,),
            ).fetchall()
        return [r[0] for r in rows]

    def namespace_properties(self, namespace: str) -> dict[str, str]:
        with self.backend.db() as c:
            rows = c.execute(
                "SELECT property_key, property_value"
                " FROM iceberg_namespace_properties"
                " WHERE catalog_name = ? AND namespace = ?",
                (self.catalog_name, namespace),
            ).fetchall()
        if not rows:
            raise KeyError(f"namespace {namespace!r} not found")
        return dict(rows)

    def set_namespace_properties(
        self, namespace: str, updates: dict[str, str]
    ) -> None:
        self.namespace_properties(namespace)  # existence check
        with self.backend.db() as c:
            c.executemany(
                "INSERT OR REPLACE INTO iceberg_namespace_properties"
                " VALUES (?, ?, ?, ?)",
                [
                    (self.catalog_name, namespace, k, v)
                    for k, v in updates.items()
                ],
            )

    def drop_namespace(self, namespace: str) -> None:
        with self.backend.db() as c:
            n = c.execute(
                "SELECT COUNT(*) FROM iceberg_tables"
                " WHERE catalog_name = ? AND table_namespace = ?",
                (self.catalog_name, namespace),
            ).fetchone()[0]
            if n:
                raise ValueError(
                    f"namespace {namespace!r} is not empty ({n} tables)"
                )
            c.execute(
                "DELETE FROM iceberg_namespace_properties"
                " WHERE catalog_name = ? AND namespace = ?",
                (self.catalog_name, namespace),
            )

    def list_tables(self, namespace: str = "default") -> list[str]:
        with self.backend.db() as c:
            rows = c.execute(
                "SELECT table_name FROM iceberg_tables"
                " WHERE catalog_name = ? AND table_namespace = ?"
                " ORDER BY table_name",
                (self.catalog_name, namespace),
            ).fetchall()
        return [r[0] for r in rows]

    def rename_table(self, old: str, new: str) -> None:
        """Reference JdbcCatalog.renameTable: one row UPDATE; the table
        keeps its location and metadata untouched."""
        ons, otbl = self._ident(old)
        nns, ntbl = self._ident(new)
        with self.backend.db() as c:
            if not self._has_namespace(c, nns):
                raise KeyError(f"namespace {nns!r} not found")
            try:
                got = c.execute(
                    "UPDATE iceberg_tables SET table_namespace = ?,"
                    " table_name = ? WHERE catalog_name = ?"
                    " AND table_namespace = ? AND table_name = ?",
                    (nns, ntbl, self.catalog_name, ons, otbl),
                )
            except sqlite3.IntegrityError:
                raise ValueError(f"table {new} already exists") from None
            if got.rowcount != 1:
                raise FileNotFoundError(f"table {old} not found in catalog")

    # -- views: DB pointer rows (reference JdbcViewOperations,
    # core/.../jdbc/JdbcViewOperations.java:1-206 + JdbcUtil V1
    # ``iceberg_views`` schema).  The base catalog stores views as
    # filesystem JSON, which a DB-only deployment cannot discover; here
    # each view's version log is a metadata DOCUMENT on the filesystem
    # (uniquely named, like table metadata) and the DB row holds the
    # CURRENT pointer, advanced by the same optimistic CAS the table
    # commit uses — two concurrent CREATE OR REPLACE VIEW writers both
    # write documents, the CAS decides, the loser's document is an
    # invisible orphan. ---------------------------------------------------

    def _view_ptr(self, name: str) -> str | None:
        ns, vname = self._ident(name)
        with self.backend.db() as c:
            row = c.execute(
                "SELECT metadata_location FROM iceberg_views"
                " WHERE catalog_name = ? AND view_namespace = ?"
                " AND view_name = ?",
                (self.catalog_name, ns, vname),
            ).fetchone()
        return row[0] if row else None

    def _view_log(self, name: str) -> list[dict]:
        ptr = self._view_ptr(name)
        if ptr is None:
            raise KeyError(f"view {name} not found")
        with open(ptr) as f:
            return json.load(f)["versions"]

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        ns, vname = self._ident(name)
        ptr = self._view_ptr(name)
        if ptr is not None and not replace:
            raise ValueError(f"view {name} already exists")
        path = self._write_view_doc(name, ptr, sql_text)
        c = self.backend._conn()
        try:
            c.execute("BEGIN IMMEDIATE")
            if ptr is None:
                try:
                    c.execute(
                        "INSERT INTO iceberg_views VALUES (?, ?, ?, ?, NULL)",
                        (self.catalog_name, ns, vname, path),
                    )
                except sqlite3.IntegrityError:
                    c.execute("ROLLBACK")
                    raise MD.CommitConflict(
                        f"concurrent CREATE VIEW won for {name!r}"
                    ) from None
            else:
                got = c.execute(
                    "UPDATE iceberg_views SET metadata_location = ?,"
                    " previous_metadata_location = ?"
                    " WHERE catalog_name = ? AND view_namespace = ?"
                    " AND view_name = ? AND metadata_location = ?",
                    (path, ptr, self.catalog_name, ns, vname, ptr),
                )
                if got.rowcount != 1:
                    c.execute("ROLLBACK")
                    raise MD.CommitConflict(
                        f"concurrent REPLACE VIEW won for {name!r}"
                    )
            c.execute("COMMIT")
        finally:
            c.close()

    def list_views(self) -> list[str]:
        with self.backend.db() as c:
            rows = c.execute(
                "SELECT view_namespace, view_name FROM iceberg_views"
                " WHERE catalog_name = ? ORDER BY view_namespace, view_name",
                (self.catalog_name,),
            ).fetchall()
        return [n if ns == "default" else f"{ns}.{n}" for ns, n in rows]

    def drop_view(self, name: str) -> None:
        ns, vname = self._ident(name)
        with self.backend.db() as c:
            got = c.execute(
                "DELETE FROM iceberg_views WHERE catalog_name = ?"
                " AND view_namespace = ? AND view_name = ?",
                (self.catalog_name, ns, vname),
            )
            if got.rowcount != 1:
                raise KeyError(f"view {name} not found")
        shutil.rmtree(self._view_dir(name), ignore_errors=True)
