"""Textual SQL entry points for table management: CALL procedures,
ALTER TABLE extensions, and MERGE INTO.

The reference exposes these through an ANTLR grammar injected into
Spark's parser (reference spark/v3.5/spark-extensions/src/main/antlr/
org.apache.spark.sql.catalyst.parser.extensions/IcebergSqlExtensions.g4
:68-83 for the statement list, HavasuIcebergSqlParser.scala:30-44 for
the fork's `geometry` DDL type and SET GEOMETRY FIELDS).  A pure-Python
engine cannot register a DSv2 catalog/parser extension, so this module
is a thin dispatcher: it parses the same statement shapes and routes to
the existing Python API — `engine.sql("CALL system.rewrite_data_files
('t')")` produces exactly the call `rewrite_data_files(t)` would.

Statements outside this surface raise SqlError with a pointer to the
API form; plain queries should go through spark.sql over registered
views instead.
"""

from __future__ import annotations

import itertools
import re
from typing import Any

import pyspark.sql.functions as F


class SqlError(ValueError):
    pass


_CALL_RE = re.compile(
    r"^\s*CALL\s+(?:[A-Za-z_][\w]*\.)?system\.(?P<proc>[A-Za-z_][\w]*)\s*"
    r"\((?P<args>.*)\)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][\w.]*)\s+(?P<rest>.+?)\s*;?\s*$",
    re.I | re.S,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+(?P<evo>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    r"INTO\s+(?P<target>[A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(?P<talias>[A-Za-z_]\w*))?"
    r"\s+USING\s+(?:(?P<source>[A-Za-z_][\w.]*)|\((?P<srcsub>.+?)\))"
    r"(?:\s+(?:AS\s+)?(?P<salias>[A-Za-z_]\w*))?"
    r"\s+ON\s+(?P<on>.+?)"
    r"(?P<clauses>\s+WHEN\s+.+?)\s*;?\s*$",
    re.I | re.S,
)
# WITH <cte> AS (...) [, ...] MERGE INTO ... (reference
# testMergeWithSourceCTE): CTEs register as temp views, then the MERGE
# dispatches normally
_WITH_MERGE_RE = re.compile(r"^\s*WITH\s+", re.I)


def _parse_literal(tok: str) -> Any:
    tok = tok.strip()
    if (tok.startswith("'") and tok.endswith("'")) or (
        tok.startswith('"') and tok.endswith('"')
    ):
        return tok[1:-1]
    low = tok.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if low == "null":
        return None
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    return tok  # bare identifier (e.g. a table name)


def _split_args(argstr: str) -> list[str]:
    """Split on top-level commas (respects quotes and parens)."""
    out, depth, cur, quote = [], 0, [], None
    for ch in argstr:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _parse_call_args(argstr: str) -> tuple[list, dict]:
    pos, named = [], {}
    for part in _split_args(argstr):
        m = re.match(r"^([A-Za-z_]\w*)\s*=>\s*(.+)$", part, re.S)
        if m:
            named[m.group(1).lower()] = _parse_literal(m.group(2))
        else:
            pos.append(_parse_literal(part))
    return pos, named


_TERM_RE = re.compile(r"^([A-Za-z_]\w*)\s*(?:\(\s*(.*?)\s*\))?$", re.S)


def _partition_term(term: str) -> tuple[str, str]:
    """'bucket(16, c)' -> ('c', 'bucket[16]'); 'c' -> ('c', 'identity');
    'days(ts)' -> ('ts', 'day'); 'hilbert(geom, 12)' -> ('geom',
    'hilbert[12]') — the SQL spellings of reference Expressions.java
    :77-121 transform terms."""
    m = _TERM_RE.match(term.strip())
    if not m:
        raise SqlError(f"cannot parse partition term {term!r}")
    fn, args = m.group(1).lower(), m.group(2)
    if args is None:
        return m.group(1), "identity"
    parts = [a.strip() for a in args.split(",") if a.strip()]
    if fn in ("bucket", "truncate"):
        if len(parts) != 2:
            raise SqlError(f"{fn} needs (n, column): {term!r}")
        n, col = parts
        return col, f"{fn}[{int(n)}]"
    if fn in ("year", "years", "month", "months", "day", "days", "hour", "hours"):
        return parts[0], fn.rstrip("s")
    if fn == "hilbert":
        if len(parts) not in (1, 2, 6):
            raise SqlError(
                f"hilbert needs (column[, res]) or (column, minx, miny, maxx,"
                f" maxy, res): {term!r}"
            )
        col = parts[0]
        res = int(parts[1]) if len(parts) > 1 else 10
        if len(parts) == 6:
            bounds = ",".join(parts[1:5])
            return col, f"hilbert[{parts[5]},{bounds}]"
        return col, f"hilbert[{res}]"
    if fn == "void":
        return parts[0], "void"
    raise SqlError(f"unknown partition transform {fn!r}")


def _split_ctes(text: str):
    """Parse a leading ``WITH name AS (...) [, name AS (...)]*`` prefix;
    returns ``([(name, body), ...], rest)`` or None when the text is not
    a well-formed CTE list (paren-balanced scan)."""
    m = re.match(r"^\s*WITH\s+", text, re.I)
    if not m:
        return None
    i = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        nm = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", text[i:], re.I)
        if not nm:
            return None
        j = i + nm.end()  # position after the opening paren
        depth, k = 1, j
        while k < len(text) and depth:
            depth += text[k] == "("
            depth -= text[k] == ")"
            k += 1
        if depth:
            return None
        ctes.append((nm.group(1), text[j : k - 1]))
        i = k
        cm = re.match(r"\s*,", text[i:])
        if not cm:
            break
        i += cm.end()
    return ctes, text[i:]


def _parse_props(props: str) -> dict[str, str]:
    out = {}
    for kv in _split_args(props):
        km = re.match(r"^'([^']*)'\s*=\s*'([^']*)'$", kv.strip())
        if not km:
            raise SqlError(f"cannot parse property {kv!r}")
        out[km.group(1)] = km.group(2)
    return out


def dispatch_sql(catalog, text: str):
    """Route one SQL statement to the Python API.  Returns whatever the
    routed call returns (Table, DataFrame, procedure result)."""
    m = _CALL_RE.match(text)
    if m:
        return _call(catalog, m.group("proc").lower(), m.group("args"))
    m = _MERGE_RE.match(text)
    if m:
        return _merge(catalog, m)
    m = _ALTER_RE.match(text)
    if m:
        return _alter(catalog, m.group("table"), m.group("rest"))
    if _WITH_MERGE_RE.match(text):
        # WITH <cte> AS (...) [, ...] MERGE INTO ... (reference
        # testMergeWithSourceCTE): each CTE plans through the dispatcher
        # SELECT path (engine tables prune) and registers as a temp
        # view; a WITH prefix over a SELECT falls through to _select
        parsed = _split_ctes(text)
        if parsed is not None and re.match(r"\s*MERGE\b", parsed[1], re.I):
            # CTE views are statement-scoped: drop them after _merge so
            # they cannot leak past the statement and shadow (or be
            # clobbered by) same-named session views of later queries
            registered: list[str] = []
            try:
                for cte_name, body in parsed[0]:
                    _select(catalog, body).createOrReplaceTempView(cte_name)
                    registered.append(cte_name)
                mm = _MERGE_RE.match(parsed[1])
                if not mm:
                    raise SqlError(
                        "cannot parse MERGE statement after WITH clause"
                    )
                return _merge(catalog, mm)
            finally:
                for cte_name in registered:
                    catalog.spark.catalog.dropTempView(cte_name)
    if _SELECT_RE.match(text):
        return _select(catalog, text)
    m = _INSERT_RE.match(text)
    if m:
        return _insert(catalog, m)
    m = _DELETE_RE.match(text)
    if m:
        return _delete(catalog, m)
    m = _UPDATE_RE.match(text)
    if m:
        return _update(catalog, m)
    m = _CTAS_RE.match(text)
    if m:
        return _ctas(catalog, m)
    m = _CREATE_VIEW_RE.match(text)
    if m:
        catalog.create_view(
            m.group("name"),
            m.group("body").rstrip().rstrip(";"),
            replace=bool(m.group("replace")),
        )
        return None
    m = _DROP_VIEW_RE.match(text)
    if m:
        if m.group("ifex") and m.group("name") not in catalog.list_views():
            return None
        return catalog.drop_view(m.group("name"))
    m = re.match(r"^\s*SHOW\s+VIEWS\s*;?\s*$", text, re.I)
    if m:
        return catalog.spark.createDataFrame(
            [(n,) for n in catalog.list_views()], "viewName STRING"
        )
    m = re.match(
        r"^\s*SHOW\s+CREATE\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$", text, re.I
    )
    if m:
        stmt = (
            f"CREATE VIEW {m.group('name')} AS\n"
            + catalog.view_sql(m.group("name"))
        )
        return catalog.spark.createDataFrame(
            [(stmt,)], "createview_stmt STRING"
        )
    m = re.match(
        r"^\s*DESC(?:RIBE)?\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$", text, re.I
    )
    if m:
        df = _select(catalog, catalog.view_sql(m.group("name")))
        rows = [(f.name, f.dataType.simpleString(), "") for f in df.schema.fields]
        return catalog.spark.createDataFrame(
            rows, "col_name STRING, data_type STRING, comment STRING"
        )
    m = _CREATE_RE.match(text)
    if m:
        return _create(catalog, m)
    m = _DROP_RE.match(text)
    if m:
        t = m.group("table")
        if not catalog.table_exists(t) and m.group("ifex"):
            return None
        return catalog.drop_table(t)
    m = re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", text, re.I)
    if m:
        return catalog.spark.createDataFrame(
            [(n,) for n in catalog.list_tables()], "tableName STRING"
        )
    # -- namespace DDL (reference Spark SQL surface over JdbcCatalog /
    # RESTCatalog namespaces; catalogs without namespace support refuse) --
    m = re.match(
        r"^\s*CREATE\s+NAMESPACE\s+(?P<ifnx>IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>[A-Za-z_]\w*)"
        r"(?:\s+WITH\s+(?:DB)?PROPERTIES\s*\((?P<props>.*?)\))?\s*;?\s*$",
        text,
        re.I | re.S,
    )
    if m:
        if not hasattr(catalog, "create_namespace"):
            raise SqlError("this catalog does not support namespaces")
        props = _parse_props(m.group("props")) if m.group("props") else None
        catalog.create_namespace(
            m.group("name"), props, if_not_exists=bool(m.group("ifnx"))
        )
        return None
    m = re.match(
        r"^\s*ALTER\s+NAMESPACE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+"
        r"(?:DB)?PROPERTIES\s*\((?P<props>.*?)\)\s*;?\s*$",
        text,
        re.I | re.S,
    )
    if m:
        if not hasattr(catalog, "set_namespace_properties"):
            raise SqlError("this catalog does not support namespaces")
        catalog.set_namespace_properties(
            m.group("name"), _parse_props(m.group("props"))
        )
        return None
    m = re.match(
        r"^\s*DROP\s+NAMESPACE\s+(?P<ifex>IF\s+EXISTS\s+)?"
        r"(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
        text,
        re.I,
    )
    if m:
        if not hasattr(catalog, "drop_namespace"):
            raise SqlError("this catalog does not support namespaces")
        if m.group("ifex") and m.group("name") not in catalog.list_namespaces():
            return None
        catalog.drop_namespace(m.group("name"))
        return None
    m = re.match(r"^\s*SHOW\s+NAMESPACES\s*;?\s*$", text, re.I)
    if m:
        if not hasattr(catalog, "list_namespaces"):
            raise SqlError("this catalog does not support namespaces")
        return catalog.spark.createDataFrame(
            [(n,) for n in catalog.list_namespaces()], "namespace STRING"
        )
    m = re.match(
        r"^\s*DESC(?:RIBE)?\s+NAMESPACE\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
        text,
        re.I,
    )
    if m:
        if not hasattr(catalog, "namespace_properties"):
            raise SqlError("this catalog does not support namespaces")
        props = catalog.namespace_properties(m.group("name"))
        return catalog.spark.createDataFrame(
            sorted(props.items()), "property STRING, value STRING"
        )
    m = re.match(
        r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<table>[\w.]+)\s*;?\s*$", text, re.I
    )
    if m:
        t = catalog.load_table(m.group("table"))
        parts = [f"CREATE TABLE {m.group('table')} ("]
        fields = []
        for f in _ddl_fields_of(t.schema_ddl()):
            name, typ = f.strip().split(None, 1)
            if name in t.geo_fields:
                typ = f"{typ} /* geometry({t.geo_fields[name]}) */"
            fields.append(f"  {name} {typ}")
        parts.append(",\n".join(fields))
        parts.append(")")
        if t.partition_fields:
            specs = ", ".join(
                pf.to_json()["transform"].replace("[", "(").replace("]", ")")
                + f" OF {pf.source}"
                if pf.transform.name != "identity"
                else pf.source
                for pf in t.partition_fields
            )
            parts.append(f"PARTITIONED BY ({specs})")
        props = {
            k: v for k, v in sorted(t.meta.properties.items())
        }
        if props:
            kv = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
            parts.append(f"TBLPROPERTIES ({kv})")
        stmt = "\n".join(parts)
        return catalog.spark.createDataFrame(
            [(stmt,)], "createtab_stmt STRING"
        )
    m = re.match(
        r"^\s*SHOW\s+TBLPROPERTIES\s+(?P<table>[\w.]+)"
        r"(?:\s*\(\s*'(?P<key>[^']*)'\s*\))?\s*;?\s*$",
        text,
        re.I,
    )
    if m:
        t = catalog.load_table(m.group("table"))
        key = m.group("key")
        if key is not None:
            # Spark's single-key form returns the value (or an error
            # marker row for a missing key)
            val = t.meta.properties.get(key)
            rows = [(key, val if val is not None
                     else f"Table {m.group('table')} does not have property: {key}")]
        else:
            rows = sorted(t.meta.properties.items())
        return catalog.spark.createDataFrame(
            rows or [("", "")], "key STRING, value STRING"
        ).filter("key != '' OR value != ''")
    m = re.match(
        r"^\s*SHOW\s+PARTITIONS\s+(?P<table>[\w.]+)\s*;?\s*$", text, re.I
    )
    if m:
        # Spark surface over the partitions metadata table (reference
        # exposes partition tuples via SparkTable's partitions metadata)
        t = catalog.load_table(m.group("table"))
        if not t.partition_fields:
            raise SqlError(
                f"SHOW PARTITIONS: table {m.group('table')} is unpartitioned"
            )
        import json as _json

        ent = t._entries()
        data = ent[ent.content == "data"]
        parts = sorted(
            {
                "/".join(
                    f"{k}={v}"
                    for k, v in _json.loads(p).items()
                )
                for p in data.partition
            }
        )
        return catalog.spark.createDataFrame(
            [(p,) for p in parts], "partition STRING"
        )
    m = re.match(
        r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<table>[\w.]+)\s*;?\s*$", text, re.I
    )
    if m:
        t = catalog.load_table(m.group("table"))
        rows = []
        for f in _ddl_fields_of(t.schema_ddl()):
            name, typ = f.strip().split(None, 1)
            extra = "geometry(" + t.geo_fields[name] + ")" if name in t.geo_fields else ""
            rows.append((name, typ, extra))
        for pf in t.partition_fields:
            rows.append(
                (f"# partition: {pf.name}", pf.to_json()["transform"], "")
            )
        return catalog.spark.createDataFrame(
            rows, "col_name STRING, data_type STRING, comment STRING"
        )
    raise SqlError(
        "unsupported statement (this dispatcher covers SELECT/WITH, "
        "INSERT INTO/OVERWRITE, DELETE FROM, UPDATE, CREATE/DROP TABLE, "
        "CREATE/DROP VIEW, SHOW VIEWS, CALL system.*, ALTER TABLE "
        "extensions, and MERGE INTO)"
    )


# -- DML / DDL statements ---------------------------------------------------
#
# The reference gets INSERT/DELETE/UPDATE/CREATE for free through its
# DSv2 catalog (SparkCatalog.java resolves the table, Spark plans
# AppendData / DeleteFromTable / ReplaceData); the dispatcher provides
# the same statement surface over the engine API.  DELETE/UPDATE
# predicates convert EXACTLY or the statement is rejected — unlike scan
# pruning, dropping a conjunct here would change which rows are touched.

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"(?P<table>[A-Za-z_]\w*)\s*(?:\((?P<cols>[^)]*)\))?\s*"
    r"(?P<body>VALUES\b.*|SELECT\b.*|WITH\b.*)$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b)(?P<talias>[A-Za-z_]\w*))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?!SET\b)(?P<talias>[A-Za-z_]\w*))?"
    r"\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<table>[A-Za-z_]\w*)\s*"
    r"\((?P<ddl>.*?)\)\s*(?:USING\s+\w+\s*)?"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((?P<props>[^)]*)\)\s*)?;?\s*$",
    re.I | re.S,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.I,
)
# SQL view DDL over Catalog.create_view/drop_view — the reference ships
# these through its view catalog (core view/BaseView.java +
# spark-extensions TestViews.java); here the view body is stored as SQL
# text and re-planned through _select at read time, so engine-table
# references inside the body get the same manifest pruning as a direct
# SELECT.
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+"
    r"(?P<name>[A-Za-z_]\w*)\s+AS\s+(?P<body>(?:SELECT|WITH)\b.*)$",
    re.I | re.S,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.I,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<table>[A-Za-z_]\w*)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((?P<props>[^)]*)\)\s*)?"
    r"AS\s+(?P<body>(?:SELECT|WITH)\b.*)$",
    re.I | re.S,
)


def _ctas(catalog, m):
    """CREATE TABLE ... AS SELECT: run the SELECT through the dispatcher,
    derive the DDL from the result schema, create, and append — the
    statement the reference gets from Spark's native CTAS planning over
    its DSv2 catalog."""
    name = m.group("table")
    if catalog.table_exists(name):
        if re.search(r"IF\s+NOT\s+EXISTS", m.group(0), re.I):
            return catalog.load_table(name)
        raise SqlError(f"table {name} already exists")
    df = _select(catalog, m.group("body"))
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString().upper()}" for f in df.schema.fields
    )
    partition_by = None
    if m.group("parts"):
        partition_by = [_partition_term(p) for p in _split_args(m.group("parts"))]
    properties = {}
    if m.group("props"):
        for kv in _split_args(m.group("props")):
            km = re.match(r"^'([^']*)'\s*=\s*'([^']*)'$", kv.strip())
            if not km:
                raise SqlError(f"cannot parse table property {kv!r}")
            properties[km.group(1)] = km.group(2)
    t = catalog.create_table(
        name, ddl, partition_by=partition_by, properties=properties or None
    )
    t.append(df)
    return catalog.load_table(name)


def _insert(catalog, m):
    import pyspark.sql.functions as F

    t = catalog.load_table(m.group("table"))
    body = m.group("body").rstrip().rstrip(";")
    if re.match(r"^VALUES\b", body, re.I):
        df = catalog.spark.sql(f"SELECT * FROM ({body})")
    else:
        df = _select(catalog, body)
    cols = m.group("cols")
    target = t.columns()
    schema_types = {
        f.split()[0]: f.split(None, 1)[1]
        for f in _ddl_fields_of(t.schema_ddl())
    }
    if cols:
        names = [c.strip() for c in cols.split(",")]
        if len(names) != len(df.columns):
            raise SqlError("INSERT column list does not match query arity")
        df = df.toDF(*names)
        for c in target:  # unmentioned columns get NULL
            if c not in names:
                df = df.withColumn(c, F.lit(None).cast(schema_types[c]))
    else:
        if len(df.columns) != len(target):
            raise SqlError(
                f"INSERT arity mismatch: table has {len(target)} columns, "
                f"query produced {len(df.columns)}"
            )
        df = df.toDF(*target)
    df = df.select(
        *[F.col(c).cast(schema_types[c]).alias(c) for c in target]
    )
    wap = _wap_branch(catalog)
    if m.group("mode").upper() == "OVERWRITE":
        if wap:
            raise SqlError(
                "INSERT OVERWRITE under spark.wap.branch is unsupported"
            )
        return t.overwrite(df)
    if wap:
        t.ensure_branch(wap)
    return t.append(df, to_branch=wap)


def _wap_branch(catalog) -> str | None:
    """Session WAP branch (reference SparkWriteConf wapBranch /
    TestDelete.testDeleteToWapBranch): when ``spark.wap.branch`` is set,
    every write and row-level op lands on that branch; main stays
    untouched until publish/fast-forward."""
    try:
        b = catalog.spark.conf.get("spark.wap.branch", "")
    except Exception:  # noqa: BLE001
        return None
    return b or None


def _ddl_fields_of(ddl: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


_HAS_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.I)
_IN_SUBQ_RE = re.compile(
    r"^(?:\(\s*(?P<mcols>[\w\s.,]+?)\s*\)|(?P<col>(?:\w+\.)?\w+))"
    r"\s+(?P<neg>NOT\s+)?IN\s*\(\s*(?P<sub>SELECT\b.+)\)\s*$",
    re.I | re.S,
)
_EXISTS_SUBQ_RE = re.compile(
    r"^(?P<neg>NOT\s+)?EXISTS\s*\(\s*(?P<sub>SELECT\b.+)\)\s*$",
    re.I | re.S,
)
_SCALAR_SUBQ_RE = re.compile(
    r"^(?:(\w+)\.)?(?P<col>\w+)\s*(?P<op><=|>=|<>|!=|=|<|>)\s*"
    r"\(\s*(?P<sub>SELECT\b.+)\)\s*$",
    re.I | re.S,
)


def _plan_exists(catalog, sub: str, talias: str | None, cols: set[str]):
    """Plan a (possibly correlated) EXISTS subquery into
    ``(tcols, sub_df)`` where ``tcols`` are the TARGET columns the
    correlation equates and ``sub_df`` projects the matching
    source-side expressions (reference testDeleteWithExistSubquery:
    ``EXISTS (SELECT 1 FROM s WHERE t.id = s.value)``).  Correlated
    equality conjuncts are LIFTED out of the subquery's WHERE into join
    keys; everything else stays inside and is planned by the dispatcher
    SELECT path.  ``tcols`` is empty for an uncorrelated EXISTS."""
    mm = re.match(
        r"^SELECT\s+.+?\s+(?P<rest>FROM\s+.+)$", sub.strip(), re.I | re.S
    )
    if not mm:
        raise SqlError(f"cannot parse EXISTS subquery {sub!r}")
    rest = mm.group("rest")
    # the predicate region ends at the first trailing clause keyword —
    # GROUP BY/HAVING/ORDER BY/LIMIT stay attached to the rebuilt query
    wm = re.search(
        r"^(?P<pre>.*?)\bWHERE\b(?P<cond>.*?)"
        r"(?P<post>\s+\b(?:GROUP|HAVING|ORDER|LIMIT)\b.*)?$",
        rest,
        re.I | re.S,
    )
    corr: list[tuple[str, str]] = []  # (target_col, source_expr)
    kept: list[str] = []
    if wm:
        conjs = _split_top_and(wm.group("cond"))
        if conjs is None:
            # top-level OR: usable only if fully uncorrelated
            if talias and re.search(rf"\b{re.escape(talias)}\.", wm.group("cond")):
                raise SqlError(
                    "correlated EXISTS condition under OR is unsupported"
                )
            conjs, kept = [], [wm.group("cond")]
        for conj in conjs:
            em = re.match(
                r"^\s*(\w+)\.(\w+)\s*==?\s*(\w+)\.(\w+)\s*$", conj
            )
            pair = None
            if em and talias:
                a_al, a_c, b_al, b_c = em.groups()
                if a_al == talias and b_al != talias:
                    pair = (a_c, f"{b_al}.{b_c}")
                elif b_al == talias and a_al != talias:
                    pair = (b_c, f"{a_al}.{a_c}")
            if pair is not None:
                if pair[0] not in cols:
                    raise SqlError(
                        f"unknown target column {pair[0]!r} in EXISTS "
                        f"correlation"
                    )
                corr.append(pair)
            else:
                if talias and re.search(rf"\b{re.escape(talias)}\.", conj):
                    raise SqlError(
                        f"only equality correlation is supported in "
                        f"EXISTS: {conj!r}"
                    )
                kept.append(conj)
        rest = wm.group("pre").rstrip()
        if kept:
            rest += " WHERE " + " AND ".join(f"({c})" for c in kept)
        post = wm.group("post")
        if post and corr:
            # decorrelation reattaches the tail clauses GLOBALLY, which
            # is only sound per-group/per-row shapes.  A LIMIT inside a
            # correlated EXISTS (e.g. the `EXISTS (... WHERE t.id=s.k
            # LIMIT 1)` idiom) would limit the whole decorrelated
            # subquery — the semi/anti join would see only the retained
            # row(s) and silently touch the wrong rows.  HAVING is sound
            # only when every correlation column is a GROUP BY key (each
            # group then carries exactly one correlation value).
            if re.search(r"\bLIMIT\b", post, re.I):
                raise SqlError(
                    "correlated EXISTS subqueries with LIMIT are "
                    "unsupported (the decorrelated LIMIT would apply "
                    "globally, not per correlated row)"
                )
            if re.search(r"\bHAVING\b", post, re.I):
                gm = re.search(
                    r"\bGROUP\s+BY\s+(.*?)(?=\bHAVING\b)", post, re.I | re.S
                )
                keys = (
                    {k.strip().lower() for k in gm.group(1).split(",")}
                    if gm
                    else set()
                )
                for _tc, src in corr:
                    if (
                        src.lower() not in keys
                        and src.split(".")[-1].lower() not in keys
                    ):
                        raise SqlError(
                            f"correlated EXISTS with HAVING requires the "
                            f"correlation column {src!r} to be a GROUP BY "
                            f"key"
                        )
        if post:
            rest += post
    if corr:
        select_list = ", ".join(
            f"{src} AS __c{j}" for j, (_tc, src) in enumerate(corr)
        )
    else:
        select_list = "1 AS __one"
    sub_df = _select(catalog, f"SELECT {select_list} {rest}")
    return [tc for tc, _ in corr], sub_df


def _subquery_predicate(catalog, table, where: str, talias: str | None = None):
    """Split a row-level WHERE containing subqueries into
    ``(match, prune)`` for ``Table.delete_matching/update_matching``
    (reference TestDelete.java:748-823, testDeleteWithNotInSubquery and
    the TestUpdate equivalents — Spark rewrites these to joins):

    - each ``[NOT] IN (SELECT …)`` conjunct (single- or multi-column)
      plans its inner SELECT through the dispatcher SELECT path and
      becomes a left-semi join (IN) or a NULL-AWARE left-anti join
      (NOT IN: a target row is removed when some subquery row matches
      OR the comparison is NULL — either side null, so a single NULL in
      the subquery makes NOT IN never-true, an empty subquery keeps
      every row, and a NULL target key never matches IN; exactly
      Spark's three-valued rewrite);
    - ``[NOT] EXISTS (SELECT …)`` with equality correlation
      (``WHERE t.id = s.value`` — testDeleteWithExistSubquery) lifts
      the correlated conjuncts into semi/anti join keys; uncorrelated
      EXISTS resolves with one bounded probe;
    - a scalar-subquery comparison (``v <= (SELECT min(...) …)`` —
      testDeleteWithScalarSubquery) evaluates the single value up front
      and folds it into a strict atom, so it prunes files too;
    - every other conjunct must be a strict dispatcher atom; the
      conjunction of those doubles as the INCLUSIVE file-pruning
      expression (dropping the join conjuncts only widens the scan).

    Subqueries under OR are rejected: the pruning split would be
    unsound and the reference's SQL surface plans them differently."""
    from iceberg_geo_poc_spark.table import expressions as E

    # BETWEEN first: the AND split below would bisect it.  The alias
    # qualifier is PRESERVED (dropping it inside a correlated EXISTS
    # body would silently rebind the column to the inner relation); a
    # rewrite that reaches into a subquery body is harmless because the
    # expansion is SQL-equivalent text.
    cond = re.sub(
        r"(?:(\w+)\.)?(\w+)\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)",
        lambda b: (
            "("
            + (f"{b.group(1)}." if b.group(1) else "")
            + f"{b.group(2)} >= {b.group(3)} AND "
            + (f"{b.group(1)}." if b.group(1) else "")
            + f"{b.group(2)} <= {b.group(4)})"
        ),
        where.strip(),
        flags=re.I,
    )
    conjs = _split_top_and(cond)
    if conjs is None:
        raise SqlError(
            "subquery predicates must be top-level AND conjuncts "
            "(OR around a subquery is unsupported)"
        )
    cols = set(table.columns())
    plain: list = []
    subs: list[tuple[str, list[str], bool, object]] = []
    never = False
    n_scalar = 0
    for conj in conjs:
        conj = conj.strip()
        sm = _IN_SUBQ_RE.match(conj)
        if sm:
            raw = sm.group("mcols") or sm.group("col")
            tcols = [c.strip().split(".")[-1] for c in raw.split(",")]
            for c in tcols:
                if c not in cols:
                    raise SqlError(
                        f"unknown column {c!r} in IN-subquery predicate"
                    )
            sub_df = _select(catalog, sm.group("sub"))
            if len(sub_df.columns) != len(tcols):
                raise SqlError(
                    f"IN-subquery arity mismatch: {len(tcols)} column(s) "
                    f"vs {len(sub_df.columns)} in subquery select list"
                )
            subs.append(("in", tcols, bool(sm.group("neg")), sub_df))
            continue
        sm = _EXISTS_SUBQ_RE.match(conj)
        if sm:
            # correlated equality conjuncts lift into join keys
            # (reference testDeleteWithExistSubquery / NotExists)
            tcols, sub_df = _plan_exists(
                catalog, sm.group("sub"), talias, cols
            )
            subs.append(("exists", tcols, bool(sm.group("neg")), sub_df))
            continue
        sm = _SCALAR_SUBQ_RE.match(conj)
        if sm:
            # scalar subquery (reference testDeleteWithScalarSubquery):
            # evaluate the single value up front and fold it into a
            # strict atom — it then BOTH prunes files and filters rows.
            # A NULL scalar makes the comparison never-true.  limit(2)
            # bounds the driver read: a forgotten aggregate over a huge
            # table still raises the 1x1 error without collecting the
            # whole result into the driver.
            rows = _select(catalog, sm.group("sub")).limit(2).collect()
            if len(rows) != 1 or len(rows[0]) != 1:
                raise SqlError(
                    f"scalar subquery must return 1 row x 1 column: "
                    f"{sm.group('sub')!r}"
                )
            n_scalar += 1
            val = rows[0][0]
            if val is None:
                never = True
                continue
            # typed coercion into the strict-atom domain: Decimal joins
            # the numeric stats comparisons as float, temporal values
            # take the engine's timestamp-string form (the format every
            # other E atom uses); anything else is refused loudly
            # rather than mispruned via str()
            import datetime as _dt
            import decimal as _dec

            if isinstance(val, bool) or isinstance(val, (int, float, str)):
                pass
            elif isinstance(val, _dec.Decimal):
                val = float(val)
            elif isinstance(val, _dt.datetime):
                val = val.strftime("%Y-%m-%d %H:%M:%S.%f")
            elif isinstance(val, _dt.date):
                val = val.strftime("%Y-%m-%d")
            else:
                raise SqlError(
                    f"unsupported scalar-subquery value type "
                    f"{type(val).__name__} for row-level SQL"
                )
            c = sm.group("col")
            if c not in cols:
                raise SqlError(f"unknown column {c!r} in scalar predicate")
            plain.append(getattr(E, _SQL_CMP[sm.group("op")])(c, val))
            continue
        plain.append(_where_to_expr_strict(conj, cols))
    if not subs and not never and not n_scalar:
        raise SqlError(f"no subquery conjunct found in {where!r}")
    prune = E.and_(*plain) if plain else None
    geo = table.geo_fields

    def match(df):
        import pyspark.sql.functions as F

        if never:  # a NULL scalar comparison: the WHERE is never true
            return df.limit(0)
        out = df
        for e in plain:
            out = out.filter(e.to_spark_column(geo))
        for i, (kind, tcols, neg, sub) in enumerate(subs):
            renamed = sub.select(
                *[
                    F.col(c).alias(f"__sq{i}_{j}")
                    for j, c in enumerate(sub.columns)
                ]
            )
            if kind == "exists":
                if not tcols:
                    # uncorrelated EXISTS: one bounded probe decides
                    nonempty = renamed.limit(1).count() > 0
                    if nonempty != neg:
                        continue  # conjunct always-true
                    return out.limit(0)  # conjunct never-true
                eq = None
                for j, tc in enumerate(tcols):
                    c = out[tc] == renamed[f"__sq{i}_{j}"]
                    eq = c if eq is None else (eq & c)
                # plain (not null-aware) joins ARE the EXISTS semantics:
                # a NULL target key equates to nothing, so EXISTS is
                # FALSE (semi drops it) and NOT EXISTS is TRUE (anti
                # keeps it in the match set)
                out = out.join(
                    renamed, on=eq, how="left_anti" if neg else "left_semi"
                )
                continue
            if neg and len(tcols) == 1:
                # single-column NOT IN decomposes by two bounded
                # (limit-1) probes of the SUBQUERY so the join stays a
                # hash anti join — the naive `eq OR isnull(eq)` anti
                # condition degrades to a nested-loop join, which is
                # exactly the 100 TB trap:
                #   empty subquery  -> TRUE for every row (even NULL keys)
                #   any NULL row    -> never TRUE -> matches nothing
                #   else            -> non-null keys with no equal row
                # (sound ONLY for one column: x <> s fails to be FALSE
                # exactly when x or s is NULL)
                if renamed.limit(1).count() == 0:
                    continue  # conjunct is always-true
                sq = renamed.columns[0]
                if renamed.filter(renamed[sq].isNull()).limit(1).count():
                    return out.limit(0)  # conjunct is never-true
                out = out.filter(F.col(tcols[0]).isNotNull())
                out = out.join(
                    renamed, on=out[tcols[0]] == renamed[sq], how="left_anti"
                )
            elif neg:
                # multi-column NOT IN: tuple equality is FALSE as soon
                # as ANY non-null pair differs, so a NULL in the
                # subquery does NOT globally poison the predicate and a
                # partially-NULL target key can still be definitely
                # unequal to every row — the single-column shortcuts
                # above are UNSOUND here (code-review r12).  Use the
                # full null-aware anti condition `eq OR isnull(eq)`: a
                # row leaves the match set when some subquery row is
                # not-definitely-unequal.  Spark's own multi-column
                # NOT IN rewrite plans this same condition (nested-loop
                # shaped — the price of the semantics).
                eq = None
                for j, tc in enumerate(tcols):
                    c = out[tc] == renamed[f"__sq{i}_{j}"]
                    eq = c if eq is None else (eq & c)
                out = out.join(renamed, on=eq | eq.isNull(), how="left_anti")
            else:
                eq = None
                for j, tc in enumerate(tcols):
                    c = out[tc] == renamed[f"__sq{i}_{j}"]
                    eq = c if eq is None else (eq & c)
                out = out.join(renamed, on=eq, how="left_semi")
        return out

    return match, prune


def _delete(catalog, m):
    t = catalog.load_table(m.group("table"))
    where = m.group("where")
    from iceberg_geo_poc_spark.table import expressions as E

    mode = t.meta.properties.get("write.delete.mode", "copy-on-write")
    wap = _wap_branch(catalog)
    if wap:
        # first WAP write auto-creates the branch from the current
        # snapshot (reference TestDelete.testDeleteToWapBranch never
        # pre-creates it)
        t.ensure_branch(wap)
    if where is not None and _HAS_SUBQUERY_RE.search(where):
        match, prune = _subquery_predicate(
            catalog, t, where, m.group("talias")
        )
        return t.delete_matching(match, prune, mode=mode, to_branch=wap)
    if where is None:
        expr = E.AlwaysTrue()
    else:
        expr = _where_to_expr_strict(where, set(t.columns()))
    return t.delete(expr, mode=mode, to_branch=wap)


def _update(catalog, m):
    import pyspark.sql.functions as F

    t = catalog.load_table(m.group("table"))
    from iceberg_geo_poc_spark.table import expressions as E

    sets = {}
    cols = set(t.columns())
    for part in _split_args(m.group("sets")):
        sm = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$", part.strip(), re.S)
        if not sm or sm.group(1) not in cols:
            raise SqlError(f"cannot parse SET assignment {part!r}")
        # full Spark SQL expression power on the right-hand side
        sets[sm.group(1)] = F.expr(sm.group(2))
    where = m.group("where")
    mode = t.meta.properties.get("write.update.mode", "copy-on-write")
    wap = _wap_branch(catalog)
    if wap:
        t.ensure_branch(wap)
    if where is not None and _HAS_SUBQUERY_RE.search(where):
        match, prune = _subquery_predicate(
            catalog, t, where, m.group("talias")
        )
        return t.update_matching(sets, match, prune, mode=mode, to_branch=wap)
    expr = (
        E.AlwaysTrue()
        if where is None
        else _where_to_expr_strict(where, cols)
    )
    return t.update(sets, expr, mode=mode, to_branch=wap)


def _create(catalog, m):
    parts = m.group("parts")
    props = m.group("props")
    partition_by = None
    if parts:
        partition_by = [_partition_term(p) for p in _split_args(parts)]
    properties = {}
    if props:
        for kv in _split_args(props):
            km = re.match(r"^'([^']*)'\s*=\s*'([^']*)'$", kv.strip())
            if not km:
                raise SqlError(f"cannot parse table property {kv!r}")
            properties[km.group(1)] = km.group(2)
    name = m.group("table")
    if catalog.table_exists(name):
        if re.search(r"IF\s+NOT\s+EXISTS", m.group(0), re.I):
            return catalog.load_table(name)
        raise SqlError(f"table {name} already exists")
    return catalog.create_table(
        name,
        m.group("ddl").strip(),
        partition_by=partition_by,
        properties=properties or None,
    )


# -- SELECT over engine tables ---------------------------------------------
#
# The reference gets SELECT (with time travel and metadata tables) for
# free through its DSv2 catalog (SparkCatalog.java, SparkTable.java); a
# pure-Python engine cannot register one, so the dispatcher provides the
# same *entry point* by resolving engine-table references itself:
#
#   SELECT ... FROM t [VERSION AS OF <id|'ref'>] [TIMESTAMP AS OF ts]
#   SELECT ... FROM t.snapshots | t.files | ... (metadata tables)
#
# Each engine-table reference is planned (time-travel pin + manifest
# file pruning from the WHERE clause), registered as a temp view, the
# identifier rewritten, and the rest of the statement delegated to
# spark.sql — Catalyst executes the relational plan, the engine supplies
# the pruned scan.  Inclusive pruning semantics make this safe: the
# extracted conjuncts only *shrink the file list*; the full WHERE still
# runs inside Spark.

_SELECT_RE = re.compile(r"^\s*(?:SELECT|WITH)\b", re.I)

_TRAVEL_RE = (
    r"(?:\s+(?:FOR\s+)?(?:SYSTEM_VERSION|VERSION)\s+AS\s+OF\s+(?:'[^']*'|\S+)"
    r"|\s+(?:FOR\s+)?(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+(?:'[^']*'|\S+))?"
)
_SQL_RESERVED = frozenset(
    "on where group order limit having union intersect except join inner "
    "left right full cross outer semi anti using window as version "
    "timestamp for".split()
)

_TABLE_REF_RE = re.compile(
    r"\b(?P<kw>FROM|JOIN)\s+(?P<ident>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"
    r"(?P<travel>" + _TRAVEL_RE + ")"
    # alias capture must not swallow the next clause keyword, or the
    # finditer scan skips past a following JOIN reference entirely
    r"(?:\s+(?:AS\s+)?(?!(?:"
    + "|".join(sorted(_SQL_RESERVED)).upper()
    + r")\b)(?P<alias>[A-Za-z_]\w*))?",
    re.I,
)


def _travel_kwargs(travel: str) -> dict:
    """'VERSION AS OF 3' -> {'snapshot_id': 3}; quoted version -> branch/
    tag ref; 'TIMESTAMP AS OF ...' -> {'as_of_ms': ...}."""
    travel = (travel or "").strip()
    if not travel:
        return {}
    m = re.match(
        r"(?:FOR\s+)?(?:SYSTEM_VERSION|VERSION)\s+AS\s+OF\s+(.+)$", travel, re.I
    )
    if m:
        v = m.group(1).strip()
        if v[0] in "'\"":
            return {"ref": v[1:-1]}
        return {"snapshot_id": int(v)}
    m = re.match(
        r"(?:FOR\s+)?(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+(.+)$", travel, re.I
    )
    if m:
        v = m.group(1).strip()
        if v[0] in "'\"":
            import datetime as _dt

            s = v[1:-1]
            fmt = "%Y-%m-%d %H:%M:%S" if ":" in s else "%Y-%m-%d"
            ts = _dt.datetime.strptime(s, fmt).replace(tzinfo=_dt.timezone.utc)
            return {"as_of_ms": int(ts.timestamp() * 1000)}
        return {"as_of_ms": int(float(v))}
    raise SqlError(f"cannot parse time-travel clause {travel!r}")


def _split_top(cond: str, op: str) -> list[str]:
    """Split on the top-level boolean ``op`` (quote/paren aware)."""
    parts, depth, cur, quote = [], 0, [], None
    tokens = re.split(r"(\bAND\b|\bOR\b|[()'\"])", cond, flags=re.I)
    for tok in tokens:
        if quote:
            cur.append(tok)
            if tok == quote:
                quote = None
            continue
        if tok in ("'", '"'):
            quote = tok
            cur.append(tok)
        elif tok == "(":
            depth += 1
            cur.append(tok)
        elif tok == ")":
            depth -= 1
            cur.append(tok)
        elif depth == 0 and re.fullmatch(op, tok, re.I):
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(tok)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _split_top_and(cond: str) -> list[str] | None:
    """Split on top-level ANDs; None if a top-level OR is present (the
    whole conjunction is then unusable for pruning)."""
    if len(_split_top(cond, "OR")) > 1:
        return None
    return _split_top(cond, "AND")


def _where_to_expr_strict(cond: str, columns: set[str]):
    """EXACT boolean Expr for a WHERE clause — unlike the pruning path,
    DELETE/UPDATE must represent the predicate completely (dropping a
    conjunct would touch extra rows), so any unconvertible atom raises.
    Supports AND/OR/NOT, parentheses, and the dispatcher's atom set."""
    from iceberg_geo_poc_spark.table import expressions as E

    # BETWEEN first: the AND split below would bisect it
    cond = re.sub(
        r"(?:(\w+)\.)?(\w+)\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)",
        lambda b: f"({b.group(2)} >= {b.group(3)} AND {b.group(2)} <= {b.group(4)})",
        cond.strip(),
        flags=re.I,
    )
    ors = _split_top(cond, "OR")
    if len(ors) > 1:
        return E.or_(*[_where_to_expr_strict(p, columns) for p in ors])
    ands = _split_top(cond, "AND")
    if len(ands) > 1:
        return E.and_(*[_where_to_expr_strict(p, columns) for p in ands])
    atom = ands[0] if ands else cond
    # balanced outer parens
    while atom.startswith("(") and atom.endswith(")"):
        depth = 0
        ok = True
        for i, ch in enumerate(atom):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0 and i < len(atom) - 1:
                ok = False
                break
        if not ok:
            break
        atom = atom[1:-1].strip()
        return _where_to_expr_strict(atom, columns)
    e = _conjunct_to_expr(atom, columns)
    if e is not None:
        return e
    m = re.match(r"^NOT\s+(.+)$", atom, re.I | re.S)
    if m:
        return E.not_(_where_to_expr_strict(m.group(1), columns))
    raise SqlError(
        f"unsupported predicate for row-level SQL: {atom!r} (supported: "
        "comparisons, IN, LIKE-prefix, IS [NOT] NULL, ISNAN, BETWEEN, "
        "AND/OR/NOT)"
    )


_SQL_CMP = {"=": "eq", "<>": "ne", "!=": "ne", "<": "lt", "<=": "le",
            ">": "gt", ">=": "ge"}
_SQL_CMP_FLIP = {"=": "eq", "<>": "ne", "!=": "ne", "<": "gt", "<=": "ge",
                 ">": "lt", ">=": "le"}


def _prune_literal(tok: str):
    """Literal usable for stats pruning, or None if not a literal."""
    tok = re.sub(r"^(?:DATE|TIMESTAMP)\s+", "", tok.strip(), flags=re.I)
    if re.fullmatch(r"'[^']*'", tok):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return None


def _conjunct_to_expr(conj: str, columns: set[str]):
    """One WHERE conjunct -> pruning Expr, or None when not convertible
    (inclusive semantics: dropping a conjunct only weakens pruning)."""
    from iceberg_geo_poc_spark.table import expressions as E

    def col_of(al, col):
        return col if col in columns else None

    m = re.match(
        r"^(?:(\w+)\.)?(\w+)\s+IS\s+(NOT\s+)?NULL$", conj, re.I
    )
    if m:
        c = col_of(m.group(1), m.group(2))
        if c is None:
            return None
        return E.not_null(c) if m.group(3) else E.is_null(c)
    m = re.match(
        r"^(NOT\s+)?ISNAN\s*\(\s*(?:(\w+)\.)?(\w+)\s*\)$", conj, re.I
    )
    if m:
        c = col_of(m.group(2), m.group(3))
        if c is None:
            return None
        return E.not_nan(c) if m.group(1) else E.is_nan(c)
    m = re.match(r"^(?:(\w+)\.)?(\w+)\s+IN\s*\((.+)\)$", conj, re.I | re.S)
    if m:
        c = col_of(m.group(1), m.group(2))
        if c is None:
            return None
        vals = [_prune_literal(v) for v in _split_args(m.group(3))]
        if any(v is None for v in vals):
            return None
        return E.in_(c, vals)
    m = re.match(r"^(?:(\w+)\.)?(\w+)\s+LIKE\s+'([^'%_]*)%'$", conj, re.I)
    if m:
        c = col_of(m.group(1), m.group(2))
        return E.starts_with(c, m.group(3)) if c else None
    m = re.match(
        r"^(?:(\w+)\.)?(\w+)\s*(<=|>=|<>|!=|=|<|>)\s*(.+)$", conj, re.S
    )
    if m:
        c = col_of(m.group(1), m.group(2))
        v = _prune_literal(m.group(4))
        if c is not None and v is not None:
            return getattr(E, _SQL_CMP[m.group(3)])(c, v)
    m = re.match(
        r"^(.+?)\s*(<=|>=|<>|!=|=|<|>)\s*(?:(\w+)\.)?(\w+)$", conj, re.S
    )
    if m:
        c = col_of(m.group(3), m.group(4))
        v = _prune_literal(m.group(1))
        if c is not None and v is not None:
            return getattr(E, _SQL_CMP_FLIP[m.group(2)])(c, v)
    return None


def _where_conjuncts(text: str) -> list[str] | None:
    """Top-level WHERE conjuncts of a single-SELECT statement (BETWEEN
    rewritten to two comparisons first so the AND split cannot bisect
    it); None when the statement has subqueries or a top-level OR."""
    if len(re.findall(r"\bSELECT\b", text, re.I)) != 1:
        return None  # subqueries: don't attribute the WHERE to one table
    m = re.search(
        r"\bWHERE\b(?P<cond>.*?)(?=\b(?:GROUP|HAVING|ORDER|LIMIT|WINDOW|"
        r"UNION|INTERSECT|EXCEPT)\b|;|$)",
        text,
        re.I | re.S,
    )
    if not m:
        return None
    cond = re.sub(
        r"(?:(\w+)\.)?(\w+)\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)",
        lambda b: (
            (f"{b.group(1)}." if b.group(1) else "")
            + f"{b.group(2)} >= {b.group(3)} AND "
            + (f"{b.group(1)}." if b.group(1) else "")
            + f"{b.group(2)} <= {b.group(4)}"
        ),
        m.group("cond"),
        flags=re.I,
    )
    return _split_top_and(cond)


def _extract_prune_expr(table, text: str):
    """Best-effort conversion of the statement's WHERE conjuncts into a
    pruning expression against *table* (single-table statements)."""
    from iceberg_geo_poc_spark.table import expressions as E

    conjuncts = _where_conjuncts(text)
    if conjuncts is None:
        return None
    columns = set(table.columns())
    exprs = [
        e
        for c in conjuncts
        if (e := _conjunct_to_expr(c.strip().strip("()").strip(), columns))
        is not None
    ]
    if not exprs:
        return None
    return E.and_(*exprs) if len(exprs) > 1 else exprs[0]


def _extract_prune_exprs_multi(tables: list[tuple], text: str) -> dict:
    """Per-reference pruning for MULTI-table statements: a conjunct
    prunes reference i only when it is unambiguously attributable —
    qualified by that reference's alias/name, or naming a column that
    exactly ONE referenced table has.  ``tables`` is
    [(ref_index, table, alias_or_None, base_name)].  Inclusive
    semantics keep this safe: attribution only shrinks that table's
    file list; Catalyst still applies the full WHERE."""
    from iceberg_geo_poc_spark.table import expressions as E

    conjuncts = _where_conjuncts(text)
    if not conjuncts:
        return {}
    out: dict[int, list] = {}
    colsets = {i: set(t.columns()) for i, t, _, _ in tables}
    for raw in conjuncts:
        conj = raw.strip().strip("()").strip()
        qual = None
        mq = re.match(
            r"^(?:NOT\s+)?(?:ISNAN\s*\(\s*)?(\w+)\.(\w+)", conj, re.I
        )
        if mq:
            qual = mq.group(1)
        cands = []
        for i, t, alias, base in tables:
            cols = colsets[i]
            if qual is not None:
                if qual not in (alias, base):
                    continue
            e = _conjunct_to_expr(conj, cols)
            if e is not None:
                cands.append((i, e))
        if qual is not None:
            for i, e in cands:
                out.setdefault(i, []).append(e)
        elif len(cands) == 1:  # unqualified: unique-column attribution only
            i, e = cands[0]
            out.setdefault(i, []).append(e)
    return {
        i: (E.and_(*es) if len(es) > 1 else es[0]) for i, es in out.items()
    }


# Every _select invocation namespaces its temp views with a fresh id:
# view expansion re-enters _select recursively, and a shared name like
# __ice_sql_0 would let the inner statement's scan overwrite the outer
# statement's relation before the final spark.sql analyzes (silently
# wrong results when the schemas happen to align).
_SELECT_SEQ = itertools.count()


def _view_version_index(catalog, name: str, travel: str) -> int | None:
    """Map a SQL time-travel clause on a *view* reference to a version
    index for ``catalog.view_sql`` (reference: view/BaseViewVersion.java
    version ids are 1-based).  None => latest."""
    kw = _travel_kwargs(travel)
    if not kw:
        return None
    if "snapshot_id" in kw:  # VERSION AS OF n, 1-based like the reference
        n = kw["snapshot_id"]
        if n < 1:
            raise SqlError(f"view version ids are 1-based; got {n}")
        n_versions = len(catalog.view_versions(name))
        if n > n_versions:
            raise SqlError(
                f"no version {n} of view {name!r}: "
                f"{n_versions} version(s) exist"
            )
        return n - 1
    if "as_of_ms" in kw:  # TIMESTAMP AS OF: latest version at-or-before ts
        versions = catalog.view_versions(name)
        idx = None
        for i, v in enumerate(versions):
            if v["at"] <= kw["as_of_ms"]:
                idx = i
        if idx is None:
            raise SqlError(
                f"no version of view {name!r} exists at the requested time"
            )
        return idx
    raise SqlError("branch/tag refs are not defined for views")


def _select(catalog, text: str):
    """Resolve engine-table references, register pruned/pinned temp
    views, rewrite identifiers, and run the statement via spark.sql."""
    from iceberg_geo_poc_spark.table import metadata_tables as MT

    sid = next(_SELECT_SEQ)
    text = text.rstrip().rstrip(";")
    refs = []
    view_names: set[str] | None = None
    view_refs = []
    for m in _TABLE_REF_RE.finditer(text):
        base, _, suffix = m.group("ident").partition(".")
        if not catalog.table_exists(base):
            # named SQL view? (reference: SELECT through a view catalog)
            if view_names is None:
                view_names = set(catalog.list_views())
            if base in view_names and not suffix:
                view_refs.append((m, base, m.group("alias")))
            continue
        if suffix and suffix.lower() not in MT.METADATA_TABLES:
            raise SqlError(
                f"unknown metadata table {suffix!r} for engine table "
                f"{base!r}; one of {MT.METADATA_TABLES}"
            )
        alias = m.group("alias")
        if alias and alias.lower() in _SQL_RESERVED:
            alias = None
        refs.append((m, base, suffix.lower() or None, alias))

    # WHERE-driven manifest pruning, attributed per reference: the
    # single-table case uses the whole conjunction; joins attribute each
    # conjunct by alias/table qualifier or unique column ownership
    prunes: dict[int, object] = {}
    if len(refs) == 1 and refs[0][2] is None and not view_refs:
        # single engine-table statement with no view refs: the whole
        # conjunction belongs to this table.  With a view in the FROM
        # list the naive path would attach view-qualified conjuncts
        # (e.g. ``v.x = 5`` where the table also has an ``x``) to the
        # table's files — exclusive, i.e. WRONG, pruning — so that
        # shape goes through the qualifier-aware multi-ref attribution.
        p = _extract_prune_expr(catalog.load_table(refs[0][1]), text)
        if p is not None:
            prunes[0] = p
    elif refs and all(s is None for _, _, s, _ in refs):
        prunes = _extract_prune_exprs_multi(
            [
                (i, catalog.load_table(base), alias, base)
                for i, (_, base, _, alias) in enumerate(refs)
            ],
            text,
        )

    # merge table and view refs, rewriting right-to-left so earlier match
    # offsets stay valid
    work: list[tuple] = [("table", i, *refs[i]) for i in range(len(refs))]
    work += [
        ("view", j, m, base, None, alias)
        for j, (m, base, alias) in enumerate(view_refs)
    ]
    work.sort(key=lambda w: w[2].start(), reverse=True)
    out = text
    for kind, i, m, base, suffix, _alias in work:
        if kind == "view":
            # re-plan the stored view SQL through _select so engine-table
            # references inside the body get manifest pruning too; a
            # VERSION/TIMESTAMP AS OF clause pins a view version from the
            # catalog's version log (reference view time travel)
            vidx = _view_version_index(catalog, base, m.group("travel"))
            df = _select(catalog, catalog.view_sql(base, version=vidx))
            view = f"__ice_view_{sid}_{i}"
        else:
            t = catalog.load_table(base)
            kw = _travel_kwargs(m.group("travel"))
            if suffix:
                if kw:
                    raise SqlError("time travel is not supported on metadata tables")
                df = MT.inspect(t, suffix)
            else:
                # while spark.wap.branch is set, PLAIN reads resolve to
                # the WAP branch head (reference SparkCatalog wap-branch
                # read routing; testDeleteToWapBranch asserts reads see
                # branch writes).  Explicit time travel wins; a not-yet-
                # created branch reads main (identical content until the
                # first WAP write auto-creates the ref).
                wap = _wap_branch(catalog)
                if (
                    not kw
                    and wap
                    and t.meta.refs.get(wap, {}).get("type") == "branch"
                ):
                    kw = {"ref": wap}
                df = t.scan(where=prunes.get(i), **kw).to_df()
            view = f"__ice_sql_{sid}_{i}"
        df.createOrReplaceTempView(view)
        # replace only ident+travel; a trailing alias stays in place so
        # the view keeps the query's name for it.  Without an alias the
        # base name becomes one, so qualified references (t1.a = t2.b)
        # still resolve against the view.
        repl = f"{m.group('kw')} {view}"
        if _alias is None and suffix is None:
            repl += f" {base}"
        out = out[: m.start()] + repl + out[m.end("travel"):]
    return catalog.spark.sql(out)


# -- CALL procedures --------------------------------------------------------

def _call(catalog, proc: str, argstr: str):
    from iceberg_geo_poc_spark.table import maintenance as X
    from iceberg_geo_poc_spark.table.table import order_columns

    pos, kw = _parse_call_args(argstr)

    def arg(name: str, idx: int, default=...):
        if name in kw:
            return kw[name]
        if idx < len(pos):
            return pos[idx]
        if default is ...:
            raise SqlError(f"procedure {proc} needs argument {name!r}")
        return default

    if proc == "rewrite_data_files":
        t = catalog.load_table(arg("table", 0))
        strategy = arg("strategy", 1, "binpack")
        sort_order = arg("sort_order", 2, None)
        kwargs: dict = {}
        if sort_order:
            zm = re.match(r"^\s*zorder\s*\((.*)\)\s*$", sort_order, re.I)
            hm = re.match(r"^\s*hilbert\s*\(\s*([\w]+)\s*\)\s*$", sort_order, re.I)
            if zm:
                strategy = "zorder"
                kwargs["zorder_by"] = [c.strip() for c in zm.group(1).split(",")]
            elif hm:
                strategy = "hilbert"
                kwargs["hilbert_column"] = hm.group(1)
            else:
                strategy = "sort"
                try:
                    kwargs["sort_by"] = order_columns(
                        _split_args(sort_order), t.geo_fields
                    )
                except ValueError as e:
                    raise SqlError(str(e)) from None
        if "target_file_size" in kw:
            kwargs["target_file_size"] = int(kw["target_file_size"])
        return X.rewrite_data_files(t, strategy=strategy, **kwargs)
    if proc == "rewrite_manifests":
        return X.rewrite_manifests(catalog.load_table(arg("table", 0)))
    if proc == "rewrite_position_delete_files":
        return X.rewrite_position_delete_files(catalog.load_table(arg("table", 0)))
    if proc == "convert_position_deletes_to_dvs":
        return X.convert_position_deletes_to_dvs(catalog.load_table(arg("table", 0)))
    if proc == "expire_snapshots":
        older = kw.get("older_than")
        if isinstance(older, str):
            import datetime as _dt

            fmt = "%Y-%m-%d %H:%M:%S" if ":" in older else "%Y-%m-%d"
            older = int(
                _dt.datetime.strptime(older, fmt)
                .replace(tzinfo=_dt.timezone.utc)
                .timestamp()
                * 1000
            )
        return X.expire_snapshots(
            catalog.load_table(arg("table", 0)),
            keep_last=int(arg("retain_last", 2, 1)),
            older_than_ms=older,
        )
    if proc == "remove_orphan_files":
        older = kw.get("older_than")
        return X.remove_orphan_files(
            catalog.load_table(arg("table", 0)),
            dry_run=bool(arg("dry_run", 1, False)),
            older_than_ms=int(older) if older is not None else None,
        )
    if proc == "rollback_to_snapshot":
        return catalog.rollback_to_snapshot(arg("table", 0), int(arg("snapshot_id", 1)))
    if proc == "rollback_to_timestamp":
        return catalog.rollback_to_timestamp(arg("table", 0), int(arg("timestamp", 1)))
    if proc == "set_current_snapshot":
        return catalog.rollback_to_snapshot(arg("table", 0), int(arg("snapshot_id", 1)))
    if proc == "cherrypick_snapshot":
        return catalog.cherrypick_snapshot(arg("table", 0), int(arg("snapshot_id", 1)))
    if proc == "publish_changes":
        return catalog.publish_changes(arg("table", 0), str(arg("wap_id", 1)))
    if proc == "fast_forward":
        return catalog.fast_forward(
            arg("table", 0), arg("branch", 1), int(arg("to", 2))
        )
    if proc == "ancestors_of":
        return catalog.ancestors_of(arg("table", 0))
    if proc == "snapshot":
        return catalog.snapshot_table(arg("source_table", 0), arg("table", 1))
    if proc == "register_table":
        return catalog.register_table(arg("table", 0), arg("metadata_file", 1))
    if proc == "add_files":
        import glob as _glob
        import os as _os

        src = arg("source_table", 1)
        if _os.path.isdir(src):
            paths = sorted(
                _os.path.join(r, f)
                for r, _d, fs in _os.walk(src)
                for f in fs
                if f.endswith(".parquet")
            )
        else:
            paths = sorted(_glob.glob(src))
        return catalog.add_files(arg("table", 0), paths)
    if proc == "migrate":
        return catalog.migrate_parquet(
            arg("table", 0), arg("directory", 1), arg("schema", 2)
        )
    if proc == "compute_table_stats":
        from iceberg_geo_poc_spark.table import statistics as ST

        cols = arg("columns", 1, None)
        if isinstance(cols, str):
            cols = [c.strip() for c in cols.split(",") if c.strip()]
        return ST.compute_table_stats(
            catalog.load_table(arg("table", 0)),
            columns=cols,
            with_sketches=bool(arg("with_sketches", 2, False)),
        )
    if proc == "compute_partition_stats":
        from iceberg_geo_poc_spark.table import statistics as ST

        return ST.compute_partition_stats(catalog.load_table(arg("table", 0)))
    if proc == "create_changelog_view":
        # reference CreateChangelogViewProcedure: register the row-level
        # diff as a Spark temp view for plain spark.sql consumers
        from iceberg_geo_poc_spark.streaming import incremental as INC

        t = catalog.load_table(arg("table", 0))
        start = kw.get("start_snapshot_id")
        end = kw.get("end_snapshot_id")
        df = INC.changelog(
            t,
            from_snapshot_id=int(start) if start is not None else None,
            to_snapshot_id=int(end) if end is not None else None,
        )
        view = str(arg("changelog_view", 1, f"{arg('table', 0)}_changes"))
        df.createOrReplaceTempView(view)
        return df
    if proc == "create_scd2_view":
        # SCD type-2 dimension history over the changelog (the
        # downstream-MERGE pattern the reference's changelog-view docs
        # describe, materialized): register as a temp view for plain
        # spark.sql consumers
        from iceberg_geo_poc_spark.streaming import incremental as INC

        t = catalog.load_table(arg("table", 0))
        keys = [k.strip() for k in str(arg("key_cols", 1)).split(",")]
        df = INC.scd2_history(t, key_cols=keys)
        view = str(arg("scd2_view", 2, f"{arg('table', 0)}_scd2"))
        df.createOrReplaceTempView(view)
        return df
    if proc == "rewrite_table_path":
        return X.rewrite_table_path(
            catalog.load_table(arg("table", 0)),
            arg("target_location", 1),
            copy_files=bool(arg("copy_files", 2, True)),
        )
    if proc == "remove_reachable_files":
        t = catalog.load_table(arg("table", 0))
        return X.delete_reachable_files(
            t.location, dry_run=bool(arg("dry_run", 1, False))
        )
    raise SqlError(f"unknown procedure system.{proc}")


# -- ALTER TABLE extensions -------------------------------------------------

def _alter(catalog, table: str, rest: str):
    r = rest.strip()
    ru = re.sub(r"\s+", " ", r)

    m = re.match(r"^ADD PARTITION FIELD (.+)$", ru, re.I)
    if m:
        t = catalog.load_table(table)
        spec = [(f["source"], f["transform"]) for f in t.meta.partition_spec]
        spec.append(_partition_term(m.group(1)))
        return catalog.alter_partition_spec(table, spec)
    m = re.match(r"^DROP PARTITION FIELD (.+)$", ru, re.I)
    if m:
        t = catalog.load_table(table)
        src, tr = _partition_term(m.group(1))
        spec = [
            (f["source"], f["transform"])
            for f in t.meta.partition_spec
            if not (f["source"] == src and f["transform"] == tr)
        ]
        return catalog.alter_partition_spec(table, spec)
    m = re.match(r"^REPLACE PARTITION FIELD (.+?) WITH (.+)$", ru, re.I)
    if m:
        t = catalog.load_table(table)
        old_src, old_tr = _partition_term(m.group(1))
        new_term = _partition_term(m.group(2))
        spec = [
            new_term
            if (f["source"] == old_src and f["transform"] == old_tr)
            else (f["source"], f["transform"])
            for f in t.meta.partition_spec
        ]
        if (old_src, old_tr) not in [
            (f["source"], f["transform"]) for f in t.meta.partition_spec
        ]:
            raise KeyError(f"partition field {m.group(1)!r} not found")
        return catalog.alter_partition_spec(table, spec)
    m = re.match(r"^DROP BRANCH (\w+)$", ru, re.I)
    if m:
        return catalog.drop_ref(table, m.group(1), kind="branch")
    m = re.match(r"^DROP TAG (\w+)$", ru, re.I)
    if m:
        return catalog.drop_ref(table, m.group(1), kind="tag")
    m = re.match(
        r"^WRITE(?P<dist> DISTRIBUTED BY PARTITION)?(?P<loc> LOCALLY)? ORDERED BY (?P<cols>.+)$",
        ru,
        re.I,
    )
    if m:
        mode = "hash" if m.group("dist") else ("none" if m.group("loc") else "range")
        cols = [c.split()[0] for c in _split_args(m.group("cols"))]
        return catalog.set_write_order(table, cols, distribution_mode=mode)
    m = re.match(r"^SET IDENTIFIER FIELDS (.+)$", ru, re.I)
    if m:
        return catalog.set_identifier_fields(
            table, [c.strip() for c in m.group(1).split(",")]
        )
    if re.match(r"^DROP IDENTIFIER FIELDS$", ru, re.I):
        return catalog.drop_identifier_fields(table)
    m = re.match(r"^SET GEOMETRY FIELDS (.+)$", ru, re.I)
    if m:
        fields = {}
        for part in _split_args(m.group(1)):
            fm = re.match(r"^([\w]+)\s+AS\s+'([\w]+)'$", part.strip(), re.I)
            if not fm:
                raise SqlError(f"SET GEOMETRY FIELDS expects col AS 'enc': {part!r}")
            fields[fm.group(1)] = fm.group(2)
        return catalog.set_geometry_fields(table, fields)
    m = re.match(r"^DROP GEOMETRY FIELDS (.+)$", ru, re.I)
    if m:
        return catalog.drop_geometry_fields(
            table, [c.strip() for c in m.group(1).split(",")]
        )
    m = re.match(
        r"^(?:CREATE(?P<orr> OR REPLACE)?|(?P<repl>REPLACE)) BRANCH"
        r"(?P<ine> IF NOT EXISTS)? (\w+)(?: AS OF VERSION (\d+))?"
        r"(?: RETAIN (\d+) DAYS?)?"
        r"(?: WITH SNAPSHOT RETENTION (?:(\d+) SNAPSHOTS?)?\s*(?:(\d+) DAYS?)?)?$",
        ru,
        re.I,
    )
    if m:
        day_ms = 24 * 3600 * 1000
        sid = int(m.group(5)) if m.group(5) else None
        return catalog.create_branch(
            table,
            m.group(4),
            sid,
            max_ref_age_ms=int(m.group(6)) * day_ms if m.group(6) else None,
            min_snapshots_to_keep=int(m.group(7)) if m.group(7) else None,
            max_snapshot_age_ms=int(m.group(8)) * day_ms if m.group(8) else None,
            replace=bool(m.group("orr")),
            if_not_exists=bool(m.group("ine")),
            must_exist=bool(m.group("repl")),
        )
    m = re.match(
        r"^(?:CREATE(?P<orr> OR REPLACE)?|(?P<repl>REPLACE)) TAG"
        r"(?P<ine> IF NOT EXISTS)? (\w+)"
        r"(?: AS OF VERSION (\d+))?(?: RETAIN (\d+) DAYS?)?$",
        ru,
        re.I,
    )
    if m:
        sid = int(m.group(5)) if m.group(5) else None
        return catalog.create_tag(
            table,
            m.group(4),
            sid,
            max_ref_age_ms=int(m.group(6)) * 24 * 3600 * 1000 if m.group(6) else None,
            replace=bool(m.group("orr")),
            if_not_exists=bool(m.group("ine")),
            must_exist=bool(m.group("repl")),
        )
    m = re.match(r"^SET TBLPROPERTIES \((.+)\)$", ru, re.I)
    if m:
        props = {}
        for part in _split_args(m.group(1)):
            km = re.match(r"^'([^']+)'\s*=\s*'([^']*)'$", part.strip())
            if not km:
                raise SqlError(f"SET TBLPROPERTIES expects 'k'='v': {part!r}")
            props[km.group(1)] = km.group(2)
        return catalog.alter_table_properties(table, set_props=props)
    m = re.match(r"^UNSET TBLPROPERTIES \((.+)\)$", ru, re.I)
    if m:
        keys = [p.strip().strip("'") for p in _split_args(m.group(1))]
        return catalog.alter_table_properties(table, unset=keys)
    # ADD COLUMN c TYPE DEFAULT v — Iceberg v3 default values (spark
    # grammar: defaultExpression in ALTER TABLE ADD COLUMNS); the
    # DEFAULT becomes both initial-default (pre-evolution files) and
    # write-default (writers omitting the column)
    m = re.match(
        r"^ADD COLUMNS? \(?(\w+)\s+(\w+(?:\(\d+(?:,\s*\d+)?\))?)"
        r"\s+DEFAULT\s+(.+?)\)?$",
        ru,
        re.I,
    )
    if m:
        raw = m.group(3).strip().rstrip(")")
        if raw.startswith("'") and raw.endswith("'"):
            val = raw[1:-1]
        elif raw.upper() == "NULL":
            val = None
        else:
            try:
                val = int(raw)
            except ValueError:
                val = float(raw)
        return catalog.add_column_with_default(
            table, m.group(1), m.group(2), initial_default=val, write_default=val
        )
    m = re.match(r"^ADD COLUMNS? \(?(.+?)\)?$", ru, re.I)
    if m:
        return catalog.add_columns(table, m.group(1))
    m = re.match(r"^RENAME COLUMN (\w+) TO (\w+)$", ru, re.I)
    if m:
        return catalog.rename_column(table, m.group(1), m.group(2))
    m = re.match(r"^DROP COLUMN (\w+)$", ru, re.I)
    if m:
        return catalog.drop_column(table, m.group(1))
    m = re.match(r"^ALTER COLUMN (\w+) TYPE (\w+)$", ru, re.I)
    if m:
        return catalog.promote_column_type(table, m.group(1), m.group(2))
    raise SqlError(f"unsupported ALTER TABLE clause: {rest!r}")


# -- MERGE INTO -------------------------------------------------------------

_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?P<by>\s+BY\s+(?:SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.+?|DELETE|INSERT\s+\*"
    r"|INSERT\s*\([^)]*\)\s*VALUES\s*\(.+?\))"
    r"(?=\s+WHEN\s|\s*$)",
    re.I | re.S,
)

_INSERT_VALUES_RE = re.compile(
    r"^INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\)$",
    re.I | re.S,
)


def _merge(catalog, m: re.Match):
    target = m.group("target")
    talias = m.group("talias") or target
    source = m.group("source")
    salias = m.group("salias") or source or "__src"
    t = catalog.load_table(target)
    # reference parity (TestMerge.testMergeWithSubqueriesInConditions):
    # Spark's MERGE rejects subqueries in the ON condition and in every
    # WHEN clause — match that loudly instead of mis-parsing
    for part, what in ((m.group("on"), "SEARCH"), (m.group("clauses"), "clause")):
        if _HAS_SUBQUERY_RE.search(part):
            raise SqlError(
                f"MERGE operation contains unsupported {what} condition: "
                "subqueries are not allowed"
            )
    if source is None:
        # USING (SELECT ...) <alias> — inline subquery source, planned
        # through the dispatcher SELECT path (engine tables prune)
        src_df = _select(catalog, m.group("srcsub"))
    elif catalog.table_exists(source):
        # engine-table source, incl. self-merge (reference testSelfMerge:
        # the source plan is pinned BEFORE any rewrite commits).  Like
        # plain SELECTs, an engine-table source resolves to the WAP
        # branch head while spark.wap.branch is set.
        src_t = catalog.load_table(source)
        src_wap = _wap_branch(catalog)
        src_ref = (
            src_wap
            if src_wap
            and src_t.meta.refs.get(src_wap, {}).get("type") == "branch"
            else None
        )
        src_df = src_t.to_df(ref=src_ref)
    else:
        src_df = catalog.spark.table(source)
    if m.group("evo"):
        # MERGE WITH SCHEMA EVOLUTION (reference TestMerge schema-
        # evolution cases / SparkWriteConf mergeSchema): source columns
        # absent from the target are ADDED first — standard nullable
        # add-column evolution, so rows untouched by the merge read the
        # new columns as NULL — and only then does the clause algebra
        # run, with UPDATE SET * / INSERT * naturally covering them.
        tcols = set(t.columns())
        missing = [f for f in src_df.schema.fields if f.name not in tcols]
        if missing:
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in missing
            )
            catalog.add_columns(target, ddl)
            t = catalog.load_table(target)

    def canon(expr: str) -> str:
        # rewrite user aliases to the join aliases the API uses
        expr = re.sub(rf"\b{re.escape(talias)}\.", "t.", expr)
        expr = re.sub(rf"\b{re.escape(salias)}\.", "s.", expr)
        return expr.strip()

    # ON: conjunction of equi predicates -> (target_col, source_col)
    # pairs; names may differ (reference TestMerge ON t.id == s.value)
    on_pairs: list[tuple] = []
    for conj in re.split(r"\s+AND\s+", m.group("on"), flags=re.I):
        em = re.match(
            r"^\s*(\w+)\.(\w+)\s*==?\s*(\w+)\.(\w+)\s*$", conj.strip()
        )
        if not em:
            raise SqlError(
                f"MERGE ON must be AND-ed equi conditions alias.col = alias.col: {conj!r}"
            )
        a_alias, a_col, b_alias, b_col = em.groups()
        sides = {
            canon(f"{a_alias}.x").split(".")[0]: a_col,
            canon(f"{b_alias}.x").split(".")[0]: b_col,
        }
        if set(sides) != {"t", "s"}:
            raise SqlError(
                f"MERGE ON needs one target and one source reference: {conj!r}"
            )
        on_pairs.append((sides["t"], sides["s"]))
    on_cols = [tc for tc, _ in on_pairs]

    # ordered conditional clauses (reference TestMerge: WHEN MATCHED
    # AND <cond> THEN ... evaluates in statement order, first hit wins)
    matched_clauses: list[tuple] = []
    bs_clauses: list[tuple] = []
    insert_clauses: list[tuple] = []

    def parse_update(action: str, by_source: bool = False) -> dict:
        sm = re.match(r"^UPDATE SET (.+)$", action, re.I)
        if not sm:
            raise SqlError(f"unsupported MERGE action: {action!r}")
        if sm.group(1).strip() == "*":
            if by_source:
                raise SqlError(
                    "UPDATE SET * is invalid in NOT MATCHED BY SOURCE "
                    "(there is no source row)"
                )
            # UPDATE SET * (reference TestMerge.java:110): assign every
            # shared column from the source row.  Only SAME-NAMED join
            # keys are excluded (t.id = s.id is a no-op by the join
            # condition); with differently-named keys (ON t.id ==
            # s.value) a source column that happens to be named 'id' IS
            # assigned, matching the reference's SET * expansion
            # (ADVICE r11).
            tcols = t.columns()
            same_named_keys = {tc for tc, sc in on_pairs if tc == sc}
            return {
                c: F.expr(f"s.{c}")
                for c in src_df.columns
                if c in tcols and c not in same_named_keys
            }
        update = {}
        for assign in _split_args(sm.group(1)):
            am = re.match(r"^(?:(\w+)\.)?(\w+)\s*=\s*(.+)$", assign.strip(), re.S)
            if not am:
                raise SqlError(f"cannot parse SET assignment {assign!r}")
            col_alias, col, valexpr = am.groups()
            if col_alias and canon(f"{col_alias}.x").split(".")[0] != "t":
                raise SqlError(f"SET must assign target columns: {assign!r}")
            update[col] = F.expr(canon(valexpr))
        return update

    for wm in _WHEN_RE.finditer(m.group("clauses")):
        action = re.sub(r"\s+", " ", wm.group("action")).strip()
        cond = canon(wm.group("cond")) if wm.group("cond") else None
        by = re.sub(r"\s+", " ", wm.group("by") or "").strip().upper()
        if by and not wm.group("not"):
            raise SqlError(f"BY {by.split()[-1]} is only valid after NOT MATCHED")
        if wm.group("not") and by == "BY SOURCE":
            # WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE — target rows
            # absent from the source (reference TestMerge.java:116-177)
            if action.upper() == "DELETE":
                bs_clauses.append((cond, "delete", None))
            else:
                bs_clauses.append(
                    (cond, "update", parse_update(action, by_source=True))
                )
            continue
        if wm.group("not"):  # NOT MATCHED [BY TARGET]
            iv = _INSERT_VALUES_RE.match(action)
            if iv:
                # INSERT (col, ...) VALUES (expr, ...) — explicit column
                # mapping (reference TestMerge's dominant insert form)
                cols = [c.strip() for c in iv.group("cols").split(",") if c.strip()]
                vals = _split_args(iv.group("vals"))
                if len(cols) != len(vals):
                    raise SqlError(
                        f"INSERT column/value arity mismatch: {len(cols)} vs {len(vals)}"
                    )
                insert_values = {
                    c: F.expr(canon(v)) for c, v in zip(cols, vals)
                }
            elif action.upper() == "INSERT *":
                insert_values = None  # name-mapped
            else:
                raise SqlError(
                    "WHEN NOT MATCHED [BY TARGET] supports INSERT * or "
                    "INSERT (cols) VALUES (exprs)"
                )
            # ordered: first matching insert clause wins per source row
            # (reference testMergeWithMultipleNotMatchedActions)
            insert_clauses.append((cond, insert_values))
            continue
        if action.upper() == "DELETE":
            matched_clauses.append((cond, "delete", None))
            continue
        matched_clauses.append((cond, "update", parse_update(action)))
    if not (matched_clauses or insert_clauses or bs_clauses):
        raise SqlError("MERGE needs at least one WHEN clause")
    wap = _wap_branch(catalog)
    if wap:
        t.ensure_branch(wap)
    return t.merge(
        src_df,
        on=on_pairs,
        when_not_matched_insert=bool(insert_clauses),
        matched_clauses=matched_clauses,
        not_matched_by_source_clauses=bs_clauses,
        not_matched_clauses=insert_clauses,
        mode=t.meta.properties.get("write.merge.mode", "copy-on-write"),
        to_branch=wap,
    )
