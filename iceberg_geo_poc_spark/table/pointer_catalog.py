"""The metastore-pointer protocol shared by the JDBC, Hive, Glue, DynamoDB
and Nessie catalogs.

Python analogue of the reference's ``BaseMetastoreCatalog`` +
``BaseMetastoreTableOperations``: every metastore catalog keeps one entry
per table whose metadata-location pointer is the table's state of record,
and a commit is "write the next metadata document, then atomically swap the
pointer from the base document to it" (the retry loop over that swap is
``Table._commit``, SnapshotProducer.java:369-409).  A store supplies only
what really differs:

- its location -> entry lookup (``_entry_for_location``) and where the
  pointer sits in an entry (``_entry_pointer``);
- the conditional pointer swap (``_swap``) and the exceptions that mean a
  racer won it (``lost_race``);
- an optional guard around the swap (``_swap_guard``): a database write
  lock, a metastore table lock, a lock manager, or the branch head a
  hash-CAS commit expects;
- how an older version is found when its canonical name was never written
  (``_older_doc``).

Everything else is here, once.

Path routing of ``PointerCommitBackend``:

- ``version-hint.text`` reads answer from the pointer; writes are no-ops
  (the pointer IS the hint);
- a canonical ``v{N}.metadata.json`` is visible only for ``N`` at or below
  the pointer's version.  A document above the pointer is a crashed or
  losing writer's orphan and no reader can see it.  The current version
  resolves through the pointer itself, so a store may name its documents
  ``v{N}-{uuid8}.metadata.json``;
- every other path (uuid-suffixed documents, the retention floor marker,
  sidecars) passes through to the filesystem.

Document names: a store that swaps under a lock writes the canonical name
(nobody else can write it while the lock is held, and an orphan left above
the pointer is simply overwritten by the next committer).  A lock-free
store (``unique_documents``) writes a uuid-suffixed candidate, so racers
never clobber each other, and removes the candidate when its swap fails.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager, suppress

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.catalog import Catalog
from iceberg_geo_poc_spark.table.table import Table

HINT = "version-hint.text"

_VERSION_RE = re.compile(r"^v(\d+)(-[0-9a-f]{8})?\.metadata\.json$")

_POSIX = MD.PosixLinkBackend()


def split_metadata_path(path: str) -> tuple[str, str] | None:
    """``<location>/metadata/<leaf>`` -> (location, leaf), else None."""
    head, leaf = os.path.split(path)
    base, meta = os.path.split(head)
    if meta != "metadata":
        return None
    return base, leaf


def metadata_version(path: str | None) -> int | None:
    """Version of a ``v{N}.metadata.json`` or ``v{N}-{uuid8}.metadata.json``
    document (None for any other name)."""
    m = _VERSION_RE.match(os.path.basename(path or ""))
    return int(m.group(1)) if m else None


def _canonical_version(leaf: str) -> int | None:
    m = _VERSION_RE.match(leaf)
    return int(m.group(1)) if m and m.group(2) is None else None


def _write_durably(path: str, payload: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class PointerCommitBackend(MD.CommitBackend):
    """``CommitBackend`` whose state of record is a metastore pointer."""

    # lock-free stores write uuid-suffixed candidate documents
    unique_documents = False
    # exceptions from ``_swap`` meaning a concurrent committer won
    lost_race: tuple = ()

    # -- store hooks -----------------------------------------------------

    def _entry_for_location(self, location: str):
        """(ident, entry) of the table living at ``location``, or
        (None, None)."""
        raise NotImplementedError

    def _entry_pointer(self, entry) -> str | None:
        raise NotImplementedError

    @contextmanager
    def _swap_guard(self, location: str):
        """Yield (ident, entry, held): the entry as read under the store's
        guard, plus whatever ``_swap`` needs from that guard."""
        ident, entry = self._entry_for_location(location)
        yield ident, entry, None

    def _swap(self, location: str, ident, entry, doc: str, held) -> bool:
        """Point the entry at ``doc`` iff it still holds ``entry``'s
        pointer.  Returns False or raises one of ``lost_race`` when a
        racer moved it first."""
        raise NotImplementedError

    def _older_doc(self, location: str, n: int) -> str | None:
        """Document of committed version ``n`` (below the pointer) whose
        canonical name was never written.  Several same-numbered
        candidates can only be crash orphans, so ambiguity refuses."""
        hits = glob.glob(
            os.path.join(MD.metadata_dir(location), f"v{n}-*.metadata.json")
        )
        return hits[0] if len(hits) == 1 else None

    def _ident_of(self, location: str) -> tuple[str, str]:
        """Name-derived (namespace, table) of a location in the warehouse."""
        if not (location == self.warehouse
                or location.startswith(self.warehouse + "/")):
            raise ValueError(
                f"cannot derive a table identity for {location!r}: it is "
                f"outside the configured warehouse {self.warehouse!r}"
            )
        parts = [p for p in location[len(self.warehouse):].split("/") if p]
        if len(parts) == 1:
            parts = ["default"] + parts
        return parts[0], ".".join(parts[1:])

    # -- the protocol ----------------------------------------------------

    def _pointer(self, location: str) -> str | None:
        return self._entry_pointer(self._entry_for_location(location)[1])

    def _visible_doc(self, path: str) -> str | None:
        split = split_metadata_path(path)
        n = _canonical_version(split[1]) if split else None
        if n is None:
            return path
        ptr = self._pointer(split[0])
        cur = metadata_version(ptr)
        if cur is None or n > cur:
            return None  # uncommitted: above the pointer
        if n == cur:
            return ptr
        if os.path.exists(path):
            return path
        return self._older_doc(split[0], n)

    def read(self, path: str) -> bytes:
        split = split_metadata_path(path)
        if split is not None and split[1] == HINT:
            v = metadata_version(self._pointer(split[0]))
            if v is None:
                raise FileNotFoundError(path)
            return str(v).encode()
        doc = self._visible_doc(path)
        if doc is None:
            raise FileNotFoundError(path)
        with open(doc, "rb") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        split = split_metadata_path(path)
        if split is not None and split[1] == HINT:
            return self._pointer(split[0]) is not None
        doc = self._visible_doc(path)
        return doc is not None and os.path.exists(doc)

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        split = split_metadata_path(path)
        n = _canonical_version(split[1]) if split else None
        if n is None:
            return _POSIX.put_if_absent(path, payload)
        location = split[0]
        with self._swap_guard(location) as (ident, entry, held):
            cur = metadata_version(self._entry_pointer(entry))
            if n != (-1 if cur is None else cur) + 1:
                return False  # replay of a committed version, or a racer won
            doc = path
            if self.unique_documents:
                doc = os.path.join(
                    os.path.dirname(path),
                    f"v{n}-{uuid.uuid4().hex[:8]}.metadata.json",
                )
            _write_durably(doc, payload)
            won = False
            try:
                won = self._swap(location, ident, entry, doc, held)
            except self.lost_race:
                pass
            finally:
                # a failed swap orphans a uuid candidate: remove it.  A
                # canonical name may already be the next lock holder's
                if not won and self.unique_documents:
                    with suppress(OSError):
                        os.remove(doc)
            return won

    def put(self, path: str, payload: bytes) -> None:
        split = split_metadata_path(path)
        if split is not None and split[1] == HINT:
            return
        _POSIX.put(path, payload)

    def delete(self, path: str) -> None:
        _POSIX.delete(path)


class PointerCatalog(Catalog):
    """``Catalog`` over a ``PointerCommitBackend``: the full base surface
    (DDL, procedures, SQL dispatcher) with the table registry in the
    store.  Stores add their namespaces, listing, rename and views.

    Deviation (documented): ``drop_table`` clears the table's
    ``metadata/`` directory so the name-derived location is reusable,
    unless another entry still reads it; ``purge=True`` also removes data.
    The reference leaves files behind on a plain drop."""

    # JDBC and Nessie namespaces may contain dots, so their identifiers
    # split on the last dot; Hive, Glue and DynamoDB split on the first
    _nested_namespaces = False

    def __init__(
        self, warehouse: str, spark: SparkSession, backend: PointerCommitBackend
    ):
        super().__init__(warehouse, spark)
        self.backend = backend
        MD.register_commit_backend(warehouse.rstrip("/") + "/", backend)

    # -- store hooks -----------------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        """Current metadata document of table ``name`` (None: no table)."""
        raise NotImplementedError

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        """Create the entry for ``name`` at ``location`` pointing at
        ``ptr``.  With ``ptr`` None the name is being created and its v0
        commit follows; returns whether an entry was stored (stores whose
        first commit creates the entry only validate).  Raises ValueError
        when the name is taken."""
        raise NotImplementedError

    def _drop_entry(self, name: str) -> str:
        """Remove the entry for ``name``; returns its location."""
        raise NotImplementedError

    def _still_referenced(self, name: str, location: str) -> bool:
        """Does another entry still read ``location`` after ``name`` was
        dropped?"""
        return self.backend._pointer(location) is not None

    def _view_log(self, name: str) -> list[dict]:
        """The view's version log, oldest first (KeyError if absent)."""
        return Catalog.view_versions(self, name)

    def _new_location(self, name: str) -> str:
        return self._table_location(name)

    # -- identifiers -----------------------------------------------------

    @classmethod
    def _ident(cls, name: str) -> tuple[str, str]:
        if "." not in name:
            return "default", name
        ns, tbl = name.rsplit(".", 1) if cls._nested_namespaces else name.split(".", 1)
        return ns, tbl

    def _table_location(self, name: str) -> str:
        return os.path.join(self.warehouse, *self._ident(name))

    # -- tables ----------------------------------------------------------

    def create_table(self, name: str, schema_ddl: str, **kwargs) -> Table:
        location = self._new_location(name)
        stored = self._put_entry(name, location, None)
        try:
            return self._create_at(location, name, schema_ddl, **kwargs)
        except BaseException:
            if stored:
                self._drop_entry(name)
            raise

    def load_table(self, name: str) -> Table:
        ptr = self._table_pointer(name)
        if ptr is None:
            raise FileNotFoundError(f"table {name} not found in catalog")
        return Table(MD.read_metadata(split_metadata_path(ptr)[0]), self.spark)

    table = load_table

    def table_exists(self, name: str) -> bool:
        try:
            return self._table_pointer(name) is not None
        except FileNotFoundError:
            return False

    def drop_table(self, name: str, purge: bool = False) -> None:
        location = self._drop_entry(name)
        if purge:
            shutil.rmtree(location, ignore_errors=True)
        elif not self._still_referenced(name, location):
            shutil.rmtree(MD.metadata_dir(location), ignore_errors=True)

    def register_table(self, name: str, metadata_location: str) -> Table:
        """Adopt an existing metadata document (reference registerTable).
        From then on this catalog's entry is the table's pointer of record,
        so a location another catalog arbitrates is refused."""
        if metadata_version(metadata_location) is None:
            raise ValueError(
                f"not a metadata document path: {metadata_location!r}"
            )
        with open(metadata_location, "rb") as f:
            location = json.load(f)["location"]
        owner = MD.backend_for(location)
        if owner is not self.backend and not isinstance(
            owner, MD.PosixLinkBackend
        ):
            raise ValueError(
                f"cannot register {location!r}: another catalog arbitrates "
                f"its commits"
            )
        self._put_entry(name, location, metadata_location)
        if owner is not self.backend:
            MD.register_commit_backend(location.rstrip("/") + "/", self.backend)
        return self.load_table(name)

    def snapshot_table(self, source: str, dest: str) -> Table:
        """Zero-copy clone (reference SnapshotTableProcedure): the clone's
        entry points at its copy of the source's current document BEFORE
        the location-rewriting commit runs, because readers resolve
        versions from the pointer."""
        ptr = self._table_pointer(source)
        if ptr is None:
            raise FileNotFoundError(f"table {source} not found in catalog")
        dest_loc = self._new_location(dest)
        if os.path.exists(dest_loc):
            raise ValueError(f"table {dest} already exists")
        shutil.copytree(
            MD.metadata_dir(split_metadata_path(ptr)[0]),
            MD.metadata_dir(dest_loc),
        )
        try:
            self._put_entry(
                dest, dest_loc,
                os.path.join(MD.metadata_dir(dest_loc), os.path.basename(ptr)),
            )
        except BaseException:
            shutil.rmtree(dest_loc, ignore_errors=True)
            raise
        meta = MD.read_metadata(dest_loc)
        meta.location = dest_loc
        # gc.enabled=false: the clone's manifests point at the SOURCE's
        # data files; physical GC on the clone would delete them
        meta.properties = dict(
            meta.properties,
            **{"snapshot-source": source, "gc.enabled": "false"},
        )
        MD.write_new_metadata(meta, meta.version)
        return self.load_table(dest)

    # -- views -----------------------------------------------------------

    def _view_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, "_views", *self._ident(name))

    def _write_view_doc(self, name: str, base: str | None, sql_text: str) -> str:
        """Write the view's next version document on top of the ``base``
        document's log; returns its path.  The name is unique, so racing
        replacers write different files and only the pointer-swap winner's
        becomes current (the loser's is an invisible orphan)."""
        versions = []
        if base is not None:
            with open(base) as f:
                versions = json.load(f)["versions"]
        versions.append({"sql": sql_text, "at": MD.now_ms()})
        path = os.path.join(
            self._view_dir(name),
            f"v{len(versions)}-{uuid.uuid4().hex[:8]}.metadata.json",
        )
        _write_durably(
            path,
            json.dumps({"name": name, "versions": versions}, indent=1).encode(),
        )
        return path

    def view_versions(self, name: str) -> list[dict]:
        return list(self._view_log(name))

    def view_sql(self, name: str, version: int | None = None) -> str:
        return self._view_log(name)[-1 if version is None else version]["sql"]

    def load_view(self, name: str, version: int | None = None):
        """The view's SQL over the tables of the view's own namespace,
        registered under their bare names."""
        sql_text = self.view_sql(name, version)
        ns, _ = self._ident(name)
        for tname in self.list_tables(ns):
            self.load_table(f"{ns}.{tname}").to_df().createOrReplaceTempView(
                tname
            )
        return self.spark.sql(sql_text)
