"""Nessie catalog — git-like CATALOG-LEVEL versioning over a commit DAG.

Python analogue of the reference's ``nessie/`` module
(``NessieCatalog.java``, ``NessieIcebergClient.java``,
``NessieTableOperations.java``, ``NessieViewOperations.java``): tables
and views are CONTENT entries addressed by key on a NAMED REFERENCE
(branch/tag) in a Nessie service; every catalog mutation is a commit
``Operation.Put/Delete`` against an EXPECTED branch-head hash; a losing
writer gets ``NessieConflict`` and the engine's standard commit retry
re-reads and re-applies (reference: commitMultipleOperations +
NessieConflictException, NessieIcebergClient.java:586-700).

The environment has no Nessie server, so ``NessieService`` implements
the SEMANTICS in-process (the same posture as the REST catalog's
``CatalogService``): an immutable commit DAG (each commit = parent hash
+ per-key delta), named references, per-key conflict detection — a
commit whose expected hash is stale REBASES onto the head when none of
its keys changed in between, and conflicts otherwise (Nessie's actual
rule, which is what lets independent tables commit concurrently on one
branch without false conflicts).

What Nessie adds over the other catalogs — and what the queries/tests
exercise — is catalog-level branching: ``create_ref("etl")`` forks the
WHOLE CATALOG at a hash; commits on ``etl`` leave ``main`` untouched;
``assign_ref("main", to="etl")`` is the publish (fast-forward) step;
``use_ref`` switches the working reference (the reference binds one
``NessieCatalog`` per ref — ``client.withReference``).

Scale: the service stores per-commit DELTAS; key resolution walks the
parent chain (the real server indexes this in its store — RocksDB /
Mongo — and this in-process stand-in documents the same contract:
O(changed keys) per commit, never O(tables)).  Data files, manifests
and metadata documents stay on the shared filesystem; the DAG holds
POINTERS, so a commit is one small CAS regardless of table size —
the property that matters at 100 TB.

A renamed table keeps its location (reverse lookup maps the location
back to its key).  ``drop_table`` clears the table's ``metadata/``
directory only when no reference still sees the key.
"""

from __future__ import annotations

import hashlib
import json
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table.pointer_catalog import (
    PointerCatalog,
    PointerCommitBackend,
    metadata_version,
    split_metadata_path,
)


class NessieConflict(MD.CommitConflict):
    """A commit lost the expected-hash CAS on a key it touches
    (reference NessieConflictException)."""


_ROOT = "0" * 16  # no-ancestor hash (Nessie's beginning-of-time)


class NessieService:
    """In-process Nessie semantics: commit DAG + named references.

    Contents are dicts: ``{"type": "ICEBERG_TABLE" | "ICEBERG_VIEW" |
    "NAMESPACE", "id": <content-id>, "metadataLocation": ...}`` —
    the fields the reference's IcebergTable/IcebergView/Namespace
    content models carry that this engine needs.
    """

    def __init__(self) -> None:
        self._lock = threading.RLock()
        # root commit: empty catalog
        self._commits: dict[str, dict] = {
            _ROOT: {"parent": None, "meta": {"message": "root"}, "ops": {}}
        }
        self._refs: dict[str, dict] = {
            "main": {"type": "BRANCH", "hash": _ROOT}
        }

    # -- references --------------------------------------------------------

    def get_reference(self, name: str) -> dict:
        with self._lock:
            ref = self._refs.get(name)
            if ref is None:
                raise KeyError(f"reference {name!r} not found")
            return dict(ref, name=name)

    def create_reference(
        self, name: str, ref_type: str = "BRANCH", at_hash: str | None = None
    ) -> dict:
        with self._lock:
            if name in self._refs:
                raise ValueError(f"reference {name!r} already exists")
            h = at_hash if at_hash is not None else self._refs["main"]["hash"]
            if h not in self._commits:
                raise KeyError(f"unknown hash {h!r}")
            self._refs[name] = {"type": ref_type.upper(), "hash": h}
            return self.get_reference(name)

    def assign_reference(self, name: str, to_hash: str) -> dict:
        """Move a reference to an existing hash (the publish /
        fast-forward step: ``assign main -> etl head``)."""
        with self._lock:
            if name not in self._refs:
                raise KeyError(f"reference {name!r} not found")
            if to_hash not in self._commits:
                raise KeyError(f"unknown hash {to_hash!r}")
            self._refs[name]["hash"] = to_hash
            return self.get_reference(name)

    def drop_reference(self, name: str) -> None:
        with self._lock:
            if name == "main":
                raise ValueError("cannot drop the main reference")
            if name not in self._refs:
                raise KeyError(f"reference {name!r} not found")
            del self._refs[name]

    # -- content resolution -------------------------------------------------

    def _resolve(self, ref_or_hash: str) -> str:
        with self._lock:
            if ref_or_hash in self._refs:
                return self._refs[ref_or_hash]["hash"]
            if ref_or_hash in self._commits:
                return ref_or_hash
            raise KeyError(f"unknown reference or hash {ref_or_hash!r}")

    def get_content(self, ref_or_hash: str, key: str) -> dict | None:
        """Newest content for ``key`` at a ref/hash (None = absent)."""
        with self._lock:
            h = self._resolve(ref_or_hash)
            while h is not None:
                c = self._commits[h]
                if key in c["ops"]:
                    v = c["ops"][key]
                    return dict(v) if v is not None else None
                h = c["parent"]
            return None

    def get_entries(self, ref_or_hash: str) -> dict[str, dict]:
        """All live (key -> content) at a ref/hash, newest-wins walk."""
        with self._lock:
            h = self._resolve(ref_or_hash)
            seen: dict[str, dict | None] = {}
            while h is not None:
                c = self._commits[h]
                for k, v in c["ops"].items():
                    seen.setdefault(k, v)
                h = c["parent"]
            return {k: dict(v) for k, v in seen.items() if v is not None}

    def _changed_between(self, ancestor: str, head: str) -> set[str]:
        keys: set[str] = set()
        h = head
        while h is not None and h != ancestor:
            c = self._commits.get(h)
            if c is None:
                break
            keys.update(c["ops"])
            h = c["parent"]
        if h != ancestor:
            # expected hash is not an ancestor of head: everything may
            # have changed — force the conflict path
            return {"*"}
        return keys

    def commit(
        self,
        branch: str,
        expected_hash: str,
        ops: dict[str, dict | None],
        meta: dict | None = None,
    ) -> str:
        """Atomic multi-operation commit (reference
        commitMultipleOperations): Put = key -> content dict, Delete =
        key -> None.  Per-key conflict detection: a stale expected hash
        REBASES onto the head unless one of this commit's keys changed
        between expected and head (Nessie's rule — concurrent commits
        to independent tables on one branch both land)."""
        with self._lock:
            ref = self._refs.get(branch)
            if ref is None:
                raise KeyError(f"reference {branch!r} not found")
            if ref["type"] != "BRANCH":
                raise ValueError(f"reference {branch!r} is not a branch")
            head = ref["hash"]
            if expected_hash != head:
                changed = self._changed_between(expected_hash, head)
                if "*" in changed or changed & set(ops):
                    raise NessieConflict(
                        f"keys {sorted(set(ops) & changed) or '(ref rewound)'} "
                        f"changed between {expected_hash[:8]} and {head[:8]}"
                    )
            payload = json.dumps(
                [head, sorted((k, v) for k, v in ops.items())],
                sort_keys=True, default=str,
            )
            new_hash = hashlib.sha256(payload.encode()).hexdigest()[:16]
            self._commits[new_hash] = {
                "parent": head,
                "meta": dict(meta or {}),
                "ops": {k: (dict(v) if v is not None else None) for k, v in ops.items()},
            }
            ref["hash"] = new_hash
            return new_hash

    def log(self, ref_or_hash: str) -> list[dict]:
        """Commit log newest-first: [{"hash", "meta"}, ...]."""
        with self._lock:
            h = self._resolve(ref_or_hash)
            out = []
            while h is not None and h != _ROOT:
                c = self._commits[h]
                out.append({"hash": h, "meta": dict(c["meta"])})
                h = c["parent"]
            return out


class NessieCommitBackend(PointerCommitBackend):
    """Pointer backend over Nessie content entries on the backend's
    CURRENT reference (reference NessieTableOperations.doCommit: load
    records the commit id, commit CASes against it).

    Documents carry a uuid suffix (real Iceberg's
    ``<version>-<uuid>.metadata.json`` form): two catalog branches
    advancing the SAME table to the same version number write DIFFERENT
    files, and each branch's content pointer names its own."""

    unique_documents = True
    lost_race = (NessieConflict,)

    def __init__(self, service: NessieService, warehouse: str):
        self.service = service
        self.warehouse = warehouse.rstrip("/")
        self.ref = "main"

    def _entry_for_location(self, location: str):
        """(key, content) at the current ref: the name-derived key fast
        path, else a bounded reverse scan (a RENAMED table keeps its
        location under the old name-derived path)."""
        try:
            key = ".".join(self._ident_of(location))
        except ValueError:
            pass  # registered from outside the warehouse: scan below
        else:
            c = self.service.get_content(self.ref, key)
            if c is not None and self._location_of(c) == location:
                return key, c
        for key, c in self.service.get_entries(self.ref).items():
            if c.get("type") == "ICEBERG_TABLE" and self._location_of(c) == location:
                return key, c
        return None, None

    @staticmethod
    def _location_of(content: dict) -> str | None:
        split = split_metadata_path(content.get("metadataLocation") or "")
        return split[0] if split else None

    def _entry_pointer(self, content):
        return (content or {}).get("metadataLocation")

    def _older_doc(self, location: str, n: int) -> str | None:
        """Resolve metadata version ``n`` of ``location`` through THIS
        REF'S commit history (newest-first DAG walk): divergent
        branches legitimately write same-numbered documents into one
        metadata dir, so a filesystem glob could answer with ANOTHER
        branch's snapshot (code-review r14) — the ref's own history is
        the only sound source.  Walks commit ops directly (key-
        agnostic) so versions committed under a PRE-RENAME key still
        resolve.  Bounded by the ref's commit count."""
        svc = self.service
        with svc._lock:
            h = svc._resolve(self.ref)
            while h is not None and h in svc._commits:
                for v in svc._commits[h]["ops"].values():
                    ptr = (v or {}).get("metadataLocation")
                    if metadata_version(ptr) == n and self._location_of(v) == location:
                        return ptr
                h = svc._commits[h]["parent"]
        return None

    @contextmanager
    def _swap_guard(self, location: str):
        # the expected head is read BEFORE the pointer: the hash-CAS
        # commit then refuses if this key moved since
        head = self.service.get_reference(self.ref)["hash"]
        key, content = self._entry_for_location(location)
        yield key, content, head

    def _swap(self, location, key, content, doc, head) -> bool:
        key = key or ".".join(self._ident_of(location))
        self.service.commit(
            self.ref,
            head,
            {key: {
                "type": "ICEBERG_TABLE",
                "id": (content or {}).get("id") or str(uuid.uuid4()),
                "metadataLocation": doc,
            }},
            meta={"message": f"commit {key} v{metadata_version(doc)}",
                  "iceberg.operation": "commit"},
        )
        return True


class NessieCatalog(PointerCatalog):
    """Catalog whose registry is a Nessie commit DAG (reference
    NessieCatalog).  Adds catalog-level branches/tags, atomic multi-op
    rename, and content-backed namespaces/views to the pointer-catalog
    core."""

    _nested_namespaces = True

    def __init__(
        self,
        warehouse: str,
        spark: SparkSession,
        service: NessieService | None = None,
        ref: str = "main",
    ):
        self.service = service or NessieService()
        super().__init__(
            warehouse, spark, NessieCommitBackend(self.service, warehouse)
        )
        self.backend.ref = ref
        if self.service.get_content(ref, "default") is None:
            self.create_namespace("default", if_not_exists=True)

    # -- reference surface (what Nessie exists FOR) -------------------------

    @property
    def ref(self) -> str:
        return self.backend.ref

    def use_ref(self, name: str) -> "NessieCatalog":
        """Switch the working reference (reference: one NessieCatalog
        per ref; this client rebinds in place — sequential use)."""
        self.service.get_reference(name)  # existence check
        self.backend.ref = name
        return self

    def create_ref(
        self, name: str, ref_type: str = "BRANCH", at: str | None = None
    ) -> dict:
        """Fork the WHOLE CATALOG: every table/view/namespace at ``at``
        (a ref name or hash, default the current ref's head) becomes
        visible on the new reference."""
        h = self.service._resolve(at if at is not None else self.ref)
        return self.service.create_reference(name, ref_type, h)

    def assign_ref(self, name: str, to: str) -> dict:
        """Publish / fast-forward: move ``name`` to ``to``'s head."""
        return self.service.assign_reference(name, self.service._resolve(to))

    def drop_ref(self, name: str) -> None:
        self.service.drop_reference(name)

    def ref_log(self, name: str | None = None) -> list[dict]:
        return self.service.log(name or self.ref)

    def _key(self, name: str) -> str:
        return ".".join(self._ident(name))

    def _commit(self, ops: dict, message: str) -> None:
        head = self.service.get_reference(self.ref)["hash"]
        self.service.commit(self.ref, head, ops, meta={"message": message})

    # -- pointer-catalog hooks ---------------------------------------------

    def _table_pointer(self, name: str) -> str | None:
        c = self.service.get_content(self.ref, self._key(name))
        if c is None or c.get("type") != "ICEBERG_TABLE":
            return None
        return c["metadataLocation"]

    def _put_entry(self, name: str, location: str, ptr: str | None) -> bool:
        ns, _ = self._ident(name)
        if self.service.get_content(self.ref, ns) is None:
            raise KeyError(f"namespace {ns!r} not found")
        if self.service.get_content(self.ref, self._key(name)) is not None:
            raise ValueError(f"table {name} already exists")
        if ptr is None:
            return False  # the v0 commit puts the content
        self._commit(
            {self._key(name): {
                "type": "ICEBERG_TABLE",
                "id": str(uuid.uuid4()),
                "metadataLocation": ptr,
            }},
            f"register {name}",
        )
        return True

    def _drop_entry(self, name: str) -> str:
        ptr = self._table_pointer(name)
        if ptr is None:
            raise FileNotFoundError(f"table {name} not found on ref {self.ref!r}")
        self._commit({self._key(name): None}, f"drop {name}")
        return split_metadata_path(ptr)[0]

    def _still_referenced(self, name: str, location: str) -> bool:
        # other refs still resolve their pinned documents
        return any(
            self.service.get_content(r, self._key(name)) is not None
            for r in self.service._refs
        )

    # -- namespaces (content entries, reference NessieIcebergClient
    # createNamespace: a commit Put of a NAMESPACE content) ------------------

    def create_namespace(
        self,
        namespace: str,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        if self.service.get_content(self.ref, namespace) is not None:
            if if_not_exists:
                return
            raise ValueError(f"namespace {namespace!r} already exists")
        self._commit(
            {namespace: {"type": "NAMESPACE", "id": str(uuid.uuid4()),
                         "properties": dict(properties or {})}},
            f"create namespace {namespace}",
        )

    def list_namespaces(self) -> list[str]:
        return sorted(
            k
            for k, c in self.service.get_entries(self.ref).items()
            if c.get("type") == "NAMESPACE"
        )

    def namespace_properties(self, namespace: str) -> dict[str, str]:
        c = self.service.get_content(self.ref, namespace)
        if c is None or c.get("type") != "NAMESPACE":
            raise KeyError(f"namespace {namespace!r} not found")
        return dict(c.get("properties") or {})

    def set_namespace_properties(
        self, namespace: str, updates: dict[str, str]
    ) -> None:
        props = self.namespace_properties(namespace)
        props.update(updates)
        cur = self.service.get_content(self.ref, namespace)
        self._commit(
            {namespace: dict(cur, properties=props)},
            f"alter namespace {namespace}",
        )

    def drop_namespace(self, namespace: str) -> None:
        if self.service.get_content(self.ref, namespace) is None:
            raise KeyError(f"namespace {namespace!r} not found")
        inside = [
            k
            for k, c in self.service.get_entries(self.ref).items()
            if c.get("type") != "NAMESPACE"
            and k.startswith(namespace + ".")
        ]
        if inside:
            raise ValueError(
                f"namespace {namespace!r} is not empty ({len(inside)} keys)"
            )
        self._commit({namespace: None}, f"drop namespace {namespace}")

    # -- table listing and rename ----------------------------------------------

    def list_tables(self, namespace: str = "default") -> list[str]:
        out = []
        for k, c in self.service.get_entries(self.ref).items():
            if c.get("type") != "ICEBERG_TABLE":
                continue
            ns, _, tbl = k.rpartition(".")
            if ns == namespace:
                out.append(tbl)
        return sorted(out)

    def rename_table(self, old: str, new: str) -> None:
        """ONE atomic commit carrying Delete(old) + Put(new) — the
        multi-operation form the reference uses
        (NessieIcebergClient.renameTable); the table keeps its location
        and metadata untouched."""
        nns, _ = self._ident(new)
        if self.service.get_content(self.ref, nns) is None:
            raise KeyError(f"namespace {nns!r} not found")
        c = self.service.get_content(self.ref, self._key(old))
        if c is None or c.get("type") != "ICEBERG_TABLE":
            raise FileNotFoundError(f"table {old} not found on ref {self.ref!r}")
        if self.service.get_content(self.ref, self._key(new)) is not None:
            raise ValueError(f"table {new} already exists")
        self._commit(
            {self._key(old): None, self._key(new): c}, f"rename {old} -> {new}"
        )

    # -- views (content-backed, reference NessieViewOperations) --------------

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        key = self._key(name) + "@view"
        cur = self.service.get_content(self.ref, key)
        if cur is not None and not replace:
            raise ValueError(f"view {name} already exists")
        versions = list((cur or {}).get("versions") or [])
        versions.append({"sql": sql_text, "at": MD.now_ms()})
        self._commit(
            {key: {
                "type": "ICEBERG_VIEW",
                "id": (cur or {}).get("id") or str(uuid.uuid4()),
                "versions": versions,
            }},
            f"{'replace' if cur else 'create'} view {name}",
        )

    def _view_log(self, name: str) -> list[dict]:
        c = self.service.get_content(self.ref, self._key(name) + "@view")
        if c is None or c.get("type") != "ICEBERG_VIEW":
            raise KeyError(f"view {name} not found")
        return c["versions"]

    def list_views(self) -> list[str]:
        out = []
        for k, c in self.service.get_entries(self.ref).items():
            if c.get("type") != "ICEBERG_VIEW":
                continue
            ident = k[: -len("@view")]
            ns, _, v = ident.rpartition(".")
            out.append(v if ns == "default" else ident)
        return sorted(out)

    def drop_view(self, name: str) -> None:
        key = self._key(name) + "@view"
        if self.service.get_content(self.ref, key) is None:
            raise KeyError(f"view {name} not found")
        self._commit({key: None}, f"drop view {name}")
