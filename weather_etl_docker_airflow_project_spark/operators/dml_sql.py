"""SQL statement front for the versioned-table DML/maintenance surface
(round-13 verdict item 8): ``engine_sql(spark, "UPDATE '<table_dir>'
SET ... WHERE ...")`` parses the lakehouse statements Spark's own parser
has no table provider for here, and lowers them onto the library
operators — completing "PySpark-native analytics engine" for SQL-first
users (the read half has been SQL-able since S45's
``spark.read.format("versioned_table")``).

Statements (case-insensitive keywords; the TABLE is a single-quoted
path — the versioned format's identity is its directory):

    UPDATE '<dir>' SET col = expr[, ...] WHERE <predicate>
    DELETE FROM '<dir>' WHERE <predicate> [MERGE ON READ]
    MERGE INTO '<dir>' USING <view> ON t.k1 = s.k1 [AND ...]
    OPTIMIZE '<dir>' [WHERE <predicate>] [ZORDER BY (c1[, ...])]
                     [INCREMENTAL]
    VACUUM '<dir>' [RETAIN <n> VERSIONS] [DRY RUN]
    RESTORE '<dir>' TO VERSION AS OF <n>
    DESCRIBE HISTORY '<dir>'
    ALTER TABLE '<dir>' ADD CONSTRAINT CHECK (<expr>)
    ALTER TABLE '<dir>' ENABLE CHANGE DATA FEED
    ALTER TABLE '<dir>' RENAME COLUMN <old> TO <new>
    ALTER TABLE '<dir>' DROP COLUMN <col>
    CREATE [OR REPLACE] TEMP VIEW <name> AS VERSIONED '<dir>'
                     [VERSION AS OF <n>]
    INSERT INTO VERSIONED '<dir>' <select-statement>
    INSERT OVERWRITE VERSIONED '<dir>' <select-statement>
    CREATE VERSIONED TABLE '<dir>' AS <select-statement>

The write statements (round-14 verdict item 6 — the last non-SQL step
for a pure-SQL user) evaluate the SELECT through ``spark.sql`` (views,
joins, every builtin — Catalyst plans it; nothing re-implemented) and
commit the result through :meth:`VersionedTable.commit`, so constraints,
bucket layout, schema checks, CAS publication, and the change feed all
apply exactly as for API writes. INSERT INTO requires an EXISTING table
(Delta's contract — CREATE ... AS is the creation statement, and a
typo'd path failing loudly beats silently minting a new table); CREATE
VERSIONED TABLE refuses a path that already has commits.

Safety model, deliberately layered:

- WHERE clauses go through the S50 predicate grammar
  (``operators/predicate.py``) — parsed, never string-interpolated into
  an executed plan, so the skipping scope and the row filter are the
  SAME validated object the Python API uses;
- named parameters (``:name``, the P12 pattern) are rendered as SQL
  literals with proper quoting BEFORE parsing — the caller never
  splices user values into statement text;
- SET right-hand sides are handed to :func:`update_where`, which casts
  results back to the column's declared type (schema can't drift) and
  documents the determinism contract.

Everything returns a one-row result DataFrame ``(op, table, version)``
so a SQL-driven pipeline can assert/log outcomes uniformly; a table
property statement reports its own commit (NULL when the property was
already set)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .versioned import (
    VersionedTable,
    cluster_rewrite,
    compact_incremental,
    delete_where,
    merge_upsert,
    restore,
    update_where,
    vacuum,
)

_PARAM_RE = re.compile(r":([A-Za-z_][A-Za-z_0-9]*)")


def _render_literal(v) -> str:
    if v is None:
        raise ValueError(
            "NULL parameters are not renderable into the predicate "
            "grammar (compare with IS NULL instead)"
        )
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, float):
        # plain decimal, never exponent notation: repr() yields 1e-05 /
        # 1e+300, which the predicate tokenizer's number regex cannot
        # parse — and non-finite floats would render as bare words
        import math

        if not math.isfinite(v):
            raise ValueError(
                f"non-finite float parameter {v!r} is not renderable "
                "into the predicate grammar"
            )
        from decimal import Decimal

        # Decimal(repr(v)) keeps exactly repr's significant digits, and
        # its 'f' format expands any exponent to plain decimal, so the
        # rendered literal round-trips to the same double at any
        # magnitude (1e-300 included)
        out = format(Decimal(repr(v)), "f")
        if "." not in out:
            out += ".0"  # tokenizer's float form; ints bind as ints
        return out
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported parameter type {type(v).__name__}")


def _bind(statement: str, params: dict | None) -> str:
    """P12-style named-parameter binding: every ``:name`` OUTSIDE a
    quoted string is replaced by a properly QUOTED literal — values can
    never splice syntax, and colons inside string literals (``'a:b'``)
    are never mistaken for placeholders. ``params=None`` disables
    binding entirely; an empty dict still VALIDATES that no placeholder
    was left unbound."""
    if params is None:
        return statement

    def _sub(m):
        name = m.group(1)
        if name not in params:
            raise ValueError(f"unbound SQL parameter :{name}")
        return _render_literal(params[name])

    out, i, in_str = [], 0, False
    while i < len(statement):
        c = statement[i]
        if in_str:
            out.append(c)
            if c == "'":
                if i + 1 < len(statement) and statement[i + 1] == "'":
                    out.append("'")
                    i += 1
                else:
                    in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            out.append(c)
            i += 1
            continue
        m = _PARAM_RE.match(statement, i)
        if m:
            out.append(_sub(m))
            i = m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and single-quoted strings."""
    out, depth, buf, i = [], 0, [], 0
    in_str = False
    while i < len(text):
        c = text[i]
        if in_str:
            buf.append(c)
            if c == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    buf.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            buf.append(c)
        elif c == "(":
            depth += 1
            buf.append(c)
        elif c == ")":
            depth -= 1
            buf.append(c)
        elif c == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _result(
    spark: SparkSession, op: str, table_dir: str, version: int | None
) -> DataFrame:
    return spark.createDataFrame(
        [(op, table_dir, version)], "op string, table string, version bigint"
    )


_UPDATE = re.compile(
    r"^\s*UPDATE\s+'(?P<path>[^']+)'\s+SET\s+(?P<sets>.*?)"
    r"\s+WHERE\s+(?P<pred>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+'(?P<path>[^']+)'\s+WHERE\s+(?P<pred>.+?)"
    r"(?P<mor>\s+MERGE\s+ON\s+READ)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+'(?P<path>[^']+)'\s+USING\s+"
    r"(?P<view>[A-Za-z_][A-Za-z_0-9.]*)\s+ON\s+(?P<on>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+'(?P<path>[^']+)'"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?"
    r"(?:\s+ZORDER\s+BY\s+\((?P<zcols>[^)]+)\))?"
    r"(?P<inc>\s+INCREMENTAL)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+'(?P<path>[^']+)'"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+'(?P<path>[^']+)'\s*$",
    re.IGNORECASE,
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+'(?P<path>[^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+"
    r"(?P<v>\d+)\s*$",
    re.IGNORECASE,
)
_ADD_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+'(?P<path>[^']+)'\s+ADD\s+CONSTRAINT\s+CHECK\s*"
    r"\((?P<expr>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ENABLE_CDF = re.compile(
    r"^\s*ALTER\s+TABLE\s+'(?P<path>[^']+)'\s+ENABLE\s+CHANGE\s+DATA\s+"
    r"FEED\s*$",
    re.IGNORECASE,
)
_RENAME_COL = re.compile(
    r"^\s*ALTER\s+TABLE\s+'(?P<path>[^']+)'\s+RENAME\s+COLUMN\s+"
    r"`?(?P<old>[A-Za-z_][A-Za-z_0-9]*)`?\s+TO\s+"
    r"`?(?P<new>[A-Za-z_][A-Za-z_0-9]*)`?\s*$",
    re.IGNORECASE,
)
_DROP_COL = re.compile(
    r"^\s*ALTER\s+TABLE\s+'(?P<path>[^']+)'\s+DROP\s+COLUMN\s+"
    r"`?(?P<col>[A-Za-z_][A-Za-z_0-9]*)`?\s*$",
    re.IGNORECASE,
)
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?:(?P<replace>OR\s+REPLACE)\s+)?TEMP(?:ORARY)?\s+VIEW\s+"
    r"(?P<name>[A-Za-z_][A-Za-z_0-9]*)\s+AS\s+VERSIONED\s+'(?P<path>[^']+)'"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?\s*$",
    re.IGNORECASE,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+VERSIONED\s+"
    r"'(?P<path>[^']+)'\s+(?P<select>(?:SELECT|WITH|VALUES|TABLE)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS = re.compile(
    r"^\s*CREATE\s+VERSIONED\s+TABLE\s+'(?P<path>[^']+)'\s+AS\s+"
    r"(?P<select>(?:SELECT|WITH|VALUES|TABLE)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ = re.compile(
    r"^\s*(?:[A-Za-z_][A-Za-z_0-9]*\.)?(?P<l>[A-Za-z_][A-Za-z_0-9]*)\s*=\s*"
    r"(?:[A-Za-z_][A-Za-z_0-9]*\.)?(?P<r>[A-Za-z_][A-Za-z_0-9]*)\s*$"
)


def _run_spark_sql_write(
    spark: SparkSession, statement: str, m, params: dict | None
) -> DataFrame:
    """INSERT INTO/OVERWRITE VERSIONED and CREATE VERSIONED TABLE AS:
    the SELECT body is evaluated by ``spark.sql`` with the caller's
    params bound NATIVELY (``args=`` named-parameter binding, Spark
    3.4+) — values reach Catalyst as typed literals, so no textual
    escaping dialect is involved at all (P12 safety; r14 ADVICE: the
    quote-doubling renderer corrupts backslashes under Spark's default
    escapedStringLiterals=false, and plain-decimal float expansion
    parses as DECIMAL past 38 digits)."""
    select = m.group("select")
    df = spark.sql(select, args=params) if params is not None else spark.sql(select)
    t = VersionedTable(spark, m.group("path"))
    if "mode" in m.re.groupindex:  # INSERT
        if t.latest_version() is None:
            raise ValueError(
                f"INSERT target {t.dir} has no commits; CREATE VERSIONED "
                "TABLE '<dir>' AS SELECT ... creates it (a typo'd path "
                "failing loudly beats silently minting a new table)"
            )
        mode = (
            "overwrite"
            if m.group("mode").upper() == "OVERWRITE"
            else "append"
        )
        v = t.commit(df, mode=mode, op=f"insert {mode}")
        return _result(spark, f"insert_{mode}", t.dir, v)
    if t.latest_version() is not None:
        raise ValueError(
            f"CREATE VERSIONED TABLE target {t.dir} already has "
            "commits; INSERT INTO appends, INSERT OVERWRITE replaces"
        )
    v = t.commit(df, op="create table as")
    return _result(spark, "create_table_as", t.dir, v)


def engine_sql(
    spark: SparkSession, statement: str, params: dict | None = None
) -> DataFrame:
    """Execute one lakehouse DML/maintenance statement (grammar in the
    module docstring); returns ``(op, table, version)``."""
    # INSERT/CTAS select bodies run through Spark's OWN parser, where
    # backslash is an escape character (escapedStringLiterals=false) and
    # plain-decimal float literals parse as DECIMAL — so the textual
    # rendering below (quote-doubling + decimal expansion, correct for
    # the internal predicate grammar) would corrupt values containing
    # backslashes and reject wide-magnitude floats on this path. Route
    # those statements' params through spark.sql's NATIVE named-parameter
    # binding instead (:name markers — values reach Catalyst as typed
    # literals, never as text).
    m = _INSERT.match(statement) or _CTAS.match(statement)
    if m:
        return _run_spark_sql_write(spark, statement, m, params)

    stmt = _bind(statement, params)

    m = _UPDATE.match(stmt)
    if m:
        sets: dict[str, str] = {}
        for part in _split_top_level(m.group("sets")):
            col, eq, expr = part.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise ValueError(f"malformed SET clause {part!r}")
            sets[col.strip().strip("`")] = expr.strip()
        t = VersionedTable(spark, m.group("path"))
        v = update_where(t, sets, m.group("pred"))
        return _result(spark, "update", t.dir, v)

    m = _DELETE.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        v = delete_where(
            t, m.group("pred"), merge_on_read=bool(m.group("mor"))
        )
        return _result(spark, "delete", t.dir, v)

    m = _MERGE.match(stmt)
    if m:
        keys = []
        for clause in re.split(r"\s+AND\s+", m.group("on"), flags=re.IGNORECASE):
            eq = _ON_EQ.match(clause)
            if eq is None or eq.group("l") != eq.group("r"):
                raise ValueError(
                    f"MERGE ON clause {clause!r} must be an equality on "
                    "one shared key column (t.k = s.k)"
                )
            keys.append(eq.group("l"))
        t = VersionedTable(spark, m.group("path"))
        v = merge_upsert(t, spark.table(m.group("view")), keys)
        return _result(spark, "merge", t.dir, v)

    m = _OPTIMIZE.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        pred = m.group("pred")
        if m.group("zcols"):
            cols = [c.strip().strip("`") for c in m.group("zcols").split(",")]
            v = cluster_rewrite(
                t,
                cols,
                incremental=bool(m.group("inc")),
                predicate=pred if pred else None,
            )
        else:
            if pred:
                raise ValueError(
                    "OPTIMIZE ... WHERE needs ZORDER BY (compaction is "
                    "already incremental and scope-free)"
                )
            v = compact_incremental(t).version
        return _result(spark, "optimize", t.dir, v)

    m = _VACUUM.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        n = int(m.group("n")) if m.group("n") else 1
        rep = vacuum(t, retain_versions=n, dry_run=bool(m.group("dry")))
        head = t.latest_version()
        if m.group("dry"):
            # the pre-flight report, not the uniform (op, table,
            # version) row: what WOULD be dropped/removed, nothing
            # touched (Delta's VACUUM ... DRY RUN shape)
            rows = [
                ("would_drop_version", str(v)) for v in rep.dropped_versions
            ] + [("would_remove_dir", d) for d in rep.removed_dirs] + [
                ("deferred_staging", d) for d in rep.deferred_dirs
            ]
            return spark.createDataFrame(
                rows or [("nothing_to_vacuum", t.dir)],
                "action string, target string",
            )
        return _result(spark, "vacuum", t.dir, head if head else 0)

    m = _DESCRIBE_HISTORY.match(stmt)
    if m:
        # DESCRIBE HISTORY as SQL (the s39 library surface for SQL-first
        # users): one row per commit, pure manifest metadata
        t = VersionedTable(spark, m.group("path"))
        hist = t.history()
        if not hist:
            raise ValueError(
                f"versioned table at {t.dir} has no commits"
            )
        return spark.createDataFrame(
            [
                (
                    h["version"],
                    float(h["ts"]),
                    h["op"],
                    h["n_dirs"],
                    h["n_dvs"],
                    h["n_cols"],
                )
                for h in hist
            ],
            "version bigint, ts double, op string, n_dirs bigint, "
            "n_dvs bigint, n_cols bigint",
        )

    m = _RESTORE.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        v = restore(t, int(m.group("v")))
        return _result(spark, "restore", t.dir, v)

    m = _ADD_CONSTRAINT.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        v = t.add_constraint(m.group("expr").strip())
        return _result(spark, "add_constraint", t.dir, v)

    m = _ENABLE_CDF.match(stmt)
    if m:
        t = VersionedTable(spark, m.group("path"))
        v = t.enable_change_data_feed()
        return _result(spark, "enable_cdf", t.dir, v)

    m = _RENAME_COL.match(stmt)
    if m:
        from .versioned import rename_column

        t = VersionedTable(spark, m.group("path"))
        v = rename_column(t, m.group("old"), m.group("new"))
        return _result(spark, "rename_column", t.dir, v)

    m = _DROP_COL.match(stmt)
    if m:
        from .versioned import drop_column

        t = VersionedTable(spark, m.group("path"))
        v = drop_column(t, m.group("col"))
        return _result(spark, "drop_column", t.dir, v)

    m = _CREATE_VIEW.match(stmt)
    if m:
        # the SELECT completion for SQL-first users: register the table
        # (optionally time-travelled) through the VANILLA batch reader,
        # then plain spark.sql("SELECT ...") works on the view
        from ..sources import versioned_stream

        versioned_stream.register(spark)
        reader = spark.read.format("versioned_table").option(
            "tableDir", m.group("path")
        )
        version = m.group("v")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        df = reader.load()
        if m.group("replace"):
            df.createOrReplaceTempView(m.group("name"))
        else:
            df.createTempView(m.group("name"))
        t = VersionedTable(spark, m.group("path"))
        committed = t.versions()
        return _result(
            spark,
            "create_view",
            t.dir,
            int(version) if version is not None else committed[-1],
        )

    raise ValueError(
        f"unrecognized statement {statement[:80]!r}; supported: UPDATE / "
        "DELETE FROM / MERGE INTO / OPTIMIZE / VACUUM / RESTORE / "
        "ALTER TABLE (ADD CONSTRAINT CHECK, RENAME COLUMN, DROP COLUMN) / "
        "CREATE [OR REPLACE] TEMP VIEW ... AS VERSIONED / INSERT "
        "INTO|OVERWRITE VERSIONED ... SELECT / CREATE VERSIONED TABLE "
        "... AS SELECT / DESCRIBE HISTORY — all over a quoted "
        "versioned-table path"
    )
