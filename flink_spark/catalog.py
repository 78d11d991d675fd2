"""TableEnvironment — the engine's user-facing facade.

Mirrors the reference's TableEnvironment.executeSql surface (reference:
flink-table/flink-table-api-java/.../TableEnvironmentImpl.java:947) as a thin
layer over SparkSession: ANSI SQL passes straight to ``spark.sql`` (Catalyst
does parse/optimize/codegen); the dialect-specific statements the reference
adds — ``CREATE TABLE ... WITH ('connector'=...)`` incl. ``WATERMARK FOR``
— are handled here and lowered onto DataFrame/reader primitives.

Connector registry (SURVEY §2.1): filesystem (csv/json/parquet/orc/avro),
datagen, print, blackhole, values, rate, socket.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from flink_spark.exprutil import empty_frame
from flink_spark.session import prepare_session
from flink_spark.sqltok import det_digest as _det_digest
from flink_spark.sqltok import match_paren as _match_paren


@dataclass
class TableSpec:
    name: str
    columns: list[tuple[str, str]]  # (name, sql type)
    options: dict[str, str]
    watermark: tuple[str, str] | None = None  # (column, delay expr e.g. "5 seconds")
    primary_key: list[str] = field(default_factory=list)
    #: watermark strategy (reference SqlWatermark / WatermarkSpec):
    #: "bounded"   — `AS col - INTERVAL 'n' unit` (BoundedOutOfOrderness)
    #: "ascending" — `AS col` (strictly/monotonically ascending, 0 delay)
    #: "source"    — `AS SOURCE_WATERMARK()` (connector-provided;
    #:               SupportsSourceWatermark.java — maps to a 0-delay
    #:               event-time watermark on the declared column here,
    #:               which is what a source emitting max-seen-event-time
    #:               produces)
    watermark_kind: str = "bounded"

    @property
    def connector(self) -> str:
        return self.options.get("connector", "filesystem")

    def ddl_schema(self) -> str:
        return ", ".join(f"{c} {t}" for c, t in self.columns)


#: CREATE TABLE head — the body/opts spans are extracted by balanced-paren
#: matching on the literal-masked text (_extract_create), NOT by greedy
#: regex groups: option values containing `)` or `) WITH (`-shaped text
#: would make any single-regex split ambiguous (r4 roadmap item).
_CREATE_HEAD_RE = re.compile(
    r"^\s*CREATE\s+(?P<temp>TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*\(",
    re.IGNORECASE,
)
_CREATE_DIST_RE = re.compile(
    r"\s*DISTRIBUTED\s+BY\s+(?:HASH\s*)?\(\s*(?P<dcols>[\w,\s]+?)\s*\)\s+"
    r"INTO\s+(?P<nbuck>\d+)\s+BUCKETS\s+",
    re.IGNORECASE,
)
_CREATE_PART_RE = re.compile(
    r"\s*PARTITIONED\s+BY\s*\(\s*(?P<pcols>[\w,\s]+?)\s*\)\s+",
    re.IGNORECASE,
)
_CREATE_WITH_RE = re.compile(r"\s*WITH\s*\(", re.IGNORECASE)


def _balanced_close(masked: str, open_idx: int) -> int:
    """Index of the ')' closing the '(' at open_idx, counting depth on the
    literal-masked text (parens inside string literals are blanked)."""
    depth = 0
    for i in range(open_idx, len(masked)):
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _extract_create(stmt: str):
    """Span-based CREATE TABLE (body) [DISTRIBUTED BY ...] WITH (opts)
    extraction; returns a dict or None. Literal-safe: `'path' = 'a)b'`
    or `'comment' = ') WITH ('` in the options cannot skew the split."""
    from flink_spark.sqltok import mask_literals

    masked = mask_literals(stmt)
    hm = _CREATE_HEAD_RE.match(masked)
    if not hm:
        return None
    bo = hm.end() - 1
    bc = _balanced_close(masked, bo)
    if bc < 0:
        return None
    # Flink DDL clause order: (body) [PARTITIONED BY (...)] [DISTRIBUTED
    # BY ...] WITH (...); accept either order of the two optional clauses
    # (reference SqlCreateTable.java).
    pos, pm, dm = bc + 1, None, None
    for _ in range(2):
        m = _CREATE_PART_RE.match(masked, pos)
        if m and pm is None:
            pm, pos = m, m.end()
            continue
        m = _CREATE_DIST_RE.match(masked, pos)
        if m and dm is None:
            dm, pos = m, m.end()
            continue
        break
    wm = _CREATE_WITH_RE.match(masked, pos)
    if not wm:
        return None
    wo = wm.end() - 1
    wc = _balanced_close(masked, wo)
    if wc < 0 or masked[wc + 1 :].strip():
        return None
    return {
        "temp": hm.group("temp"),
        "name": hm.group("name"),
        "body": stmt[bo + 1 : bc],
        "pcols": pm.group("pcols") if pm else None,
        "dcols": dm.group("dcols") if dm else None,
        "nbuck": dm.group("nbuck") if dm else None,
        "opts": stmt[wo + 1 : wc],
    }


def _extract_ctas(stmt: str):
    """Span-based CTAS extraction (CREATE [OR REPLACE] TABLE t WITH (opts)
    AS SELECT ...); returns a dict or None."""
    from flink_spark.sqltok import mask_literals

    masked = mask_literals(stmt)
    hm = re.match(
        r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s+WITH\s*\(",
        masked,
        re.IGNORECASE,
    )
    if not hm:
        return None
    wo = hm.end() - 1
    wc = _balanced_close(masked, wo)
    if wc < 0:
        return None
    qm = re.match(r"\s*AS\s+(SELECT\b)", masked[wc + 1 :], re.IGNORECASE)
    if not qm:
        return None
    return {
        "replace": hm.group("replace"),
        "name": hm.group("name"),
        "opts": stmt[wo + 1 : wc],
        "query": stmt[wc + 1 + qm.start(1) :],
    }
_WATERMARK_RE = re.compile(
    # the quoted count group accepts any literal interior so the pattern
    # also matches on mask_literals output (which blanks '5' to ' ');
    # callers matching on the mask must read <n> from the RAW text via
    # the match span and validate it numerically
    r"WATERMARK\s+FOR\s+(?P<col>\w+)\s+AS\s+(?P<col2>\w+)\s*-\s*INTERVAL\s*"
    # optional Calcite interval unit precision (SECOND(3)): consumed so
    # no '(3)' residue survives into the column list (ADVICE r8)
    r"'(?P<n>[^']*)'\s*(?P<unit>\w+)(?:\s*\(\s*\d+\s*\))?",
    re.IGNORECASE,
)
#: the two non-interval watermark strategies (reference SqlWatermark):
#: `AS SOURCE_WATERMARK()` (connector-provided, SupportsSourceWatermark)
#: and `AS <rowtime col>` (strictly-ascending). Matched only after the
#: bounded form above fails, so `AS c - INTERVAL ...` never lands here.
_WATERMARK_SRC_RE = re.compile(
    r"WATERMARK\s+FOR\s+(?P<col>\w+)\s+AS\s+"
    r"(?:(?P<src>SOURCE_WATERMARK\s*\(\s*\))|(?P<asc>\w+))\s*(?=,|\)|$)",
    re.IGNORECASE,
)
_PK_RE = re.compile(
    r"PRIMARY\s+KEY\s*\((?P<cols>[^)]*)\)\s*(NOT\s+ENFORCED)?", re.IGNORECASE
)
_OPT_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")
_SET_RE = re.compile(
    r"^\s*(?P<verb>SET|RESET)\s*(?:'(?P<k>[^']+)'\s*(?:=\s*'(?P<v>[^']*)')?)?\s*$",
    re.IGNORECASE,
)
#: reference table-config keys that must drive a real Spark conf
#: (TableConfigOptions.LOCAL_TIME_ZONE, ExecutionConfigOptions
#: table.exec.resource.default-parallelism, OptimizerConfigOptions
#: table.optimizer.join.broadcast-threshold) — shared by the SQL
#: SET/RESET handler and the gateway's executionConfig scoping
_SET_KEY_BRIDGE = {
    "table.local-time-zone": "spark.sql.session.timeZone",
    "table.exec.resource.default-parallelism":
        "spark.sql.shuffle.partitions",
    "table.optimizer.join.broadcast-threshold":
        "spark.sql.autoBroadcastJoinThreshold",
}
#: CREATE TABLE ... LIKE (reference SqlTableLike.java) with the optional
#: merging-strategy feature list `LIKE src ([INCLUDING|EXCLUDING] ALL |
#: OPTIONS | WATERMARKS | CONSTRAINTS, ...)`
_LIKE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s+"
    r"(?:WITH\s*\((?P<opts>.*?)\)\s+)?LIKE\s+(?P<src>[\w.]+)"
    r"(?:\s*\(\s*(?P<feats>[^)]*?)\s*\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_TYPE_MAP = {
    # Flink SQL type → Spark SQL type (SURVEY §1.2)
    "STRING": "STRING",
    "VARCHAR": "STRING",
    "CHAR": "STRING",
    "BOOLEAN": "BOOLEAN",
    "BYTES": "BINARY",
    "VARBINARY": "BINARY",
    "BINARY": "BINARY",
    "TINYINT": "TINYINT",
    "SMALLINT": "SMALLINT",
    "INT": "INT",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "FLOAT": "FLOAT",
    "DOUBLE": "DOUBLE",
    "DATE": "DATE",
    "TIMESTAMP": "TIMESTAMP_NTZ",
    "TIMESTAMP_LTZ": "TIMESTAMP",
    "TIME": "INT",  # millis-of-day; no native TIME in Spark
}


def _map_type(flink_type: str) -> str:
    t = flink_type.strip()
    m = re.match(r"(\w+)(\(.*\))?", t)
    if not m:
        return t
    base, params = m.group(1).upper(), m.group(2) or ""
    if base == "DECIMAL" or base == "NUMERIC":
        return f"DECIMAL{params or '(10,0)'}"
    if base in ("ARRAY", "MAP", "ROW", "MULTISET"):
        return t  # structured types pass through (ROW→STRUCT handled by Spark DDL)
    if base in ("TIMESTAMP", "TIMESTAMP_LTZ", "TIME"):
        return _TYPE_MAP[base]
    return _TYPE_MAP.get(base, t)


class TableEnvironment:
    """Facade: catalog of declared tables + SQL execution."""

    def __init__(self, spark: SparkSession):
        self.spark = prepare_session(spark)
        self.tables: dict[str, TableSpec] = {}
        # temporal table functions: name -> (table, time_attribute, key)
        self.temporal_fns: dict[str, tuple[str, str, str]] = {}
        self._materialized = None
        self._models = None
        self._connections = None
        # module registry (reference SqlLoadModule/SqlUnloadModule/
        # SqlUseModules, ModuleManager): name -> used? — resolution order
        # is list order, USE MODULES reorders/disables
        self.modules: list[tuple[str, bool]] = [("core", True)]
        # catalog registry (reference GenericInMemoryCatalog,
        # SqlCreateCatalog/SqlUseCatalog/SqlShowCatalogs): name -> WITH
        # properties. Spark has one session catalog, so each extra Flink
        # catalog maps its databases onto Spark databases named
        # `<catalog>__<db>` — same storage engine, namespaced.
        self.catalogs: dict[str, dict[str, str]] = {"default_catalog": {}}
        self.current_catalog = "default_catalog"
        # SQL-created user functions (reference SqlCreateFunction DDL /
        # FunctionCatalog): name -> the AS 'identifier' it was created from
        self.user_functions: dict[str, str] = {}
        # table→materialized-table conversion gate (reference
        # materialized-table/statements.md): read ONCE at session
        # initialization — a later session-level SET has no effect,
        # exactly as documented for the reference's planning-time read
        self._mt_conversion_enabled = str(
            self.spark.conf.get(
                "table.materialized-table.conversion-from-table.enabled",
                "false",
            )
        ).lower() == "true"

    @property
    def materialized(self):
        """Materialized-table manager (FLIP-435), created on first use."""
        if self._materialized is None:
            from flink_spark.materialized import MaterializedTableManager

            self._materialized = MaterializedTableManager(self.spark)
        return self._materialized

    # -- functions ---------------------------------------------------------

    def create_temporal_table_function(
        self, name: str, table: str, time_attribute: str, primary_key: str
    ) -> None:
        """Register a temporal table function over a versioned table
        (reference TemporalTableFunction.java, `createTemporalTableFunction`
        on Flink's Table API): ``LATERAL TABLE (name(o.ts))`` then resolves
        each probe row against the version in effect at its timestamp."""
        self.temporal_fns[name] = (table, time_attribute, primary_key)

    def create_temporary_function(self, name: str, fn) -> None:
        """CREATE TEMPORARY FUNCTION (reference SqlCreateFunction DDL,
        UserDefinedFunctionHelper.java): register a ScalarFunction subclass
        (or any callable) for SQL use in this session."""
        from flink_spark.functions.udf import ScalarFunction, scalar_udf

        if isinstance(fn, ScalarFunction):
            self.spark.udf.register(name, scalar_udf(fn))
        else:
            self.spark.udf.register(name, fn)

    _FN_CREATE_RE = re.compile(
        r"^\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
        r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s+AS\s+"
        r"'(?P<ident>[^']+)'(?:\s+LANGUAGE\s+(?P<lang>\w+))?\s*$",
        re.IGNORECASE,
    )
    _FN_DROP_RE = re.compile(
        r"^\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
        r"(?P<ife>IF\s+EXISTS\s+)?(?P<name>[\w.]+)\s*$",
        re.IGNORECASE,
    )
    _FN_SHOW_RE = re.compile(r"^\s*SHOW\s+USER\s+FUNCTIONS\s*$", re.IGNORECASE)
    # SYSTEM is only legal after TEMPORARY (reference grammar: ALTER
    # [TEMPORARY [SYSTEM]] FUNCTION; bare ALTER SYSTEM FUNCTION is a
    # parse error there and falls through to one here)
    _FN_ALTER_RE = re.compile(
        r"^\s*ALTER\s+(?P<tmp>TEMPORARY\s+(?P<sys>SYSTEM\s+)?)?FUNCTION\s+"
        r"(?P<ife>IF\s+EXISTS\s+)?(?P<name>[\w.]+)\s+AS\s+"
        r"'(?P<ident>[^']+)'(?:\s+LANGUAGE\s+(?P<lang>\w+))?\s*$",
        re.IGNORECASE,
    )

    def _columns_df(self, name: str):
        """DESCRIBE/SHOW COLUMNS row set for a table (reference
        ShowColumnsOperation.java:99 generateTableColumnsRows — columns
        name/type/null/key/extras/watermark). Registered engine tables
        render their declared schema (watermark + NOT ENFORCED PK);
        plain Spark temp views fall back to their resolved schema."""
        if name in self.tables:
            spec = self.tables[name]
            wm_col, wm_expr = spec.watermark or (None, None)
            rows = [
                (
                    c,
                    t.upper(),
                    True,
                    "PRI(NOT ENFORCED)" if c in spec.primary_key else None,
                    None,
                    (
                        None if c != wm_col
                        else "SOURCE_WATERMARK()"
                        if spec.watermark_kind == "source"
                        else f"`{c}`"
                        if spec.watermark_kind == "ascending"
                        else f"`{c}` - INTERVAL '{wm_expr}'"
                    ),
                )
                for c, t in spec.columns
            ]
        else:
            try:
                schema = self.spark.table(name).schema
            except Exception as e:  # noqa: BLE001
                raise ValueError(
                    f"Tables or views with the identifier '{name}' "
                    "doesn't exist."
                ) from e
            rows = [
                (
                    f.name,
                    f.dataType.simpleString().upper(),
                    bool(f.nullable),
                    None,
                    None,
                    None,
                )
                for f in schema.fields
            ]
        return self.spark.createDataFrame(
            rows,
            "name string, type string, null boolean, key string, "
            "extras string, watermark string",
        )

    def _resolve_fn_identifier(self, ident: str, verb: str):
        """Resolve the dotted 'module.attr' identifier of CREATE/ALTER
        FUNCTION DDL to the Python object it names (the engine's analog
        of the reference's CatalogFunctionImpl class-name resolution)."""
        import importlib

        if "." not in ident:
            raise ValueError(
                f"{verb}: identifier {ident!r} must be a "
                "dotted 'module.attr' path"
            )
        mod_name, attr = ident.rsplit(".", 1)
        try:
            return getattr(importlib.import_module(mod_name), attr)
        except (ImportError, AttributeError) as e:
            raise ValueError(
                f"{verb}: cannot resolve {ident!r}: {e}"
            ) from e

    def _bind_function(self, name: str, fn, ident: str) -> None:
        """Register a resolved function object under ``name`` — the
        shared tail of CREATE FUNCTION and ALTER FUNCTION."""
        from flink_spark.functions.udf import (
            ProcessTableFunction,
            ScalarFunction,
        )

        if isinstance(fn, type) and issubclass(fn, ProcessTableFunction):
            # a PROCESS TABLE FUNCTION registers for the table-valued
            # SQL spelling `SELECT * FROM f(TABLE t PARTITION BY k)`
            # (reference ptfs.md; StreamExecProcessTableFunction),
            # not for scalar calls — and any previous SCALAR binding
            # under this name must stop answering (same loud-failure
            # contract as DROP FUNCTION)
            def _not_scalar(*_a, _n=name):
                raise ValueError(
                    f"function {_n!r} is a PROCESS TABLE FUNCTION; call it "
                    "as SELECT * FROM f(TABLE t ...), not as a scalar"
                )

            self.spark.udf.register(name, _not_scalar)
            self.user_ptfs = getattr(self, "user_ptfs", {})
            self.user_ptfs[name] = fn
            self.user_functions[name] = ident
            return
        if isinstance(fn, type) and issubclass(fn, ScalarFunction):
            fn = fn()
        self.create_temporary_function(name, fn)
        self.user_functions[name] = ident

    def _function_statement(self, stmt: str):
        """SQL-text function DDL (reference SqlCreateFunction.java /
        SqlAlterFunction.java / SqlDropFunction.java /
        SqlShowFunctions.java; FunctionITCase shapes):
        CREATE [TEMPORARY] FUNCTION name AS 'module.attr'
        [LANGUAGE PYTHON] resolves the dotted identifier to a
        ScalarFunction subclass/instance or plain callable and registers
        it for SQL use — the bridge from the SQL surface to the Python
        UDF registry. Returns NotImplemented when the statement is not
        function DDL."""
        m = self._FN_CREATE_RE.match(stmt)
        if m:
            lang = (m.group("lang") or "PYTHON").upper()
            if lang != "PYTHON":
                raise ValueError(
                    f"CREATE FUNCTION: only LANGUAGE PYTHON is supported "
                    f"in this engine, got {lang}"
                )
            name = m.group("name")
            if name in self.user_functions:
                if m.group("ine"):
                    return None
                raise ValueError(f"function {name!r} already exists")
            ident = m.group("ident")
            fn = self._resolve_fn_identifier(ident, "CREATE FUNCTION")
            self._bind_function(name, fn, ident)
            return None
        m = self._FN_ALTER_RE.match(stmt)
        if m:
            # ALTER FUNCTION name AS 'module.attr' [LANGUAGE PYTHON]
            # (reference SqlAlterFunction.java /
            # SqlAlterFunctionConverter.java /
            # AlterCatalogFunctionOperation.java:92): rebind an existing
            # function to a new identifier. TEMPORARY flavors are
            # rejected with the reference's exact validation errors.
            if m.group("sys"):
                raise ValueError(
                    "Alter temporary system function is not supported"
                )
            if m.group("tmp"):
                raise ValueError(
                    "Alter temporary catalog function is not supported"
                )
            lang = (m.group("lang") or "PYTHON").upper()
            if lang != "PYTHON":
                raise ValueError(
                    f"ALTER FUNCTION: only LANGUAGE PYTHON is supported "
                    f"in this engine, got {lang}"
                )
            name = m.group("name")
            if name not in self.user_functions:
                if m.group("ife"):
                    return None
                raise ValueError(f"function {name!r} does not exist")
            fn = self._resolve_fn_identifier(
                m.group("ident"), "ALTER FUNCTION"
            )
            # the old binding may have been a PTF; drop it so the new
            # kind fully replaces the old one
            getattr(self, "user_ptfs", {}).pop(name, None)
            self._bind_function(name, fn, m.group("ident"))
            return None
        m = self._FN_DROP_RE.match(stmt)
        if m:
            name = m.group("name")
            if name not in self.user_functions:
                if m.group("ife"):
                    return None
                raise ValueError(f"function {name!r} does not exist")
            del self.user_functions[name]
            getattr(self, "user_ptfs", {}).pop(name, None)

            def _dropped(*_a, _n=name):
                raise ValueError(f"function {_n!r} has been dropped")

            # Spark has no unregister: rebind the name to a raiser so a
            # dropped function fails loudly instead of silently surviving
            self.spark.udf.register(name, _dropped)
            return None
        if self._FN_SHOW_RE.match(stmt):
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.user_functions)],
                "function_name string",
            )
        dm = re.match(
            r"^\s*(?:DESCRIBE|DESC)\s+FUNCTION\s+(?:(?P<ext>EXTENDED)\s+)?"
            r"(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if dm:
            # DESCRIBE FUNCTION [EXTENDED] (reference
            # DescribeFunctionOperation.java:94 — (info name, info value)
            # rows: system/temporary/class/language, EXTENDED adds
            # kind/determinism/signature)
            name = dm.group("name")
            is_user = name in self.user_functions
            try:
                is_system = (
                    not is_user
                    and self.spark.catalog.functionExists(name)
                )
            except Exception:  # noqa: BLE001
                is_system = False
            if not is_user and not is_system:
                raise ValueError(
                    f"Function with the identifier '{name}' doesn't exist."
                )
            rows = [
                ("is system function", str(is_system).lower()),
                ("is temporary", str(is_user).lower()),
            ]
            if is_user:
                rows.append(("class name", self.user_functions[name]))
                rows.append(("function language", "PYTHON"))
            if dm.group("ext"):
                rows.append(("kind", "SCALAR"))
                rows.append(("is deterministic", "true"))
                rows.append((
                    "signature",
                    f"{name}(...)",
                ))
            return self.spark.createDataFrame(
                rows, "`info name` string, `info value` string"
            )
        return NotImplemented

    # -- ALTER TABLE family (reference SqlAddPartitions.java,
    # SqlDropPartitions.java, SqlAlterTableOptions/SqlAlterTableReset,
    # SqlAlterTableRename, .../ddl/table/ schema-change classes) ----------

    _ALTER_PART_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+(?P<verb>ADD|DROP)\s+"
        r"(?:IF\s+(?P<ifx>NOT\s+EXISTS|EXISTS)\s+)?"
        r"PARTITION\s*\((?P<spec>[^)]*)\)\s*$",
        re.IGNORECASE,
    )
    _ALTER_SET_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+SET\s*\((?P<opts>.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_RESET_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+RESET\s*\((?P<keys>.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_RENAME_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+RENAME\s+TO\s+"
        r"(?P<new>[\w.]+)\s*$",
        re.IGNORECASE,
    )
    _ALTER_RENAMECOL_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+RENAME\s+"
        r"(?P<col>\w+)\s+TO\s+(?P<new>\w+)\s*$",
        re.IGNORECASE,
    )
    _ALTER_MODIFYCOL_RE = re.compile(
        # ALTER TABLE t MODIFY (c BIGINT, d DECIMAL(10,2))
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+MODIFY\s*"
        r"\((?P<cols>(?:[^()]|\([^()]*\))*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_DIST_RE = re.compile(
        # reference SqlAlterTableDistribution / SqlAlterTableDropDistribution
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+"
        r"(?:(?:MODIFY\s+DISTRIBUTION\s+BY\s+(?:HASH\s*)?"
        r"\(\s*(?P<dkeys>[\w,\s]+?)\s*\)\s+INTO\s+(?P<dbuck>\d+)\s+BUCKETS)"
        r"|(?P<drop>DROP\s+DISTRIBUTION))\s*$",
        re.IGNORECASE,
    )
    _ALTER_ADDCOL_RE = re.compile(
        # one level of nested parens so parameterized types match:
        # ALTER TABLE t ADD (c DECIMAL(10,2), ts TIMESTAMP(3)) (ADVICE r4)
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+ADD\s*"
        r"\((?P<cols>(?:[^()']|\([^()']*\))*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_DROPCOL_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+DROP\s+"
        r"(?:COLUMN\s+(?P<col>\w+)|\((?P<cols>[^)']*)\))\s*$",
        re.IGNORECASE,
    )
    _SHOW_PARTS_RE = re.compile(
        r"^\s*SHOW\s+PARTITIONS\s+(?P<name>[\w.]+)\s*$", re.IGNORECASE
    )

    def _partition_keys(self, spec: TableSpec) -> list[str]:
        pk = spec.options.get("partition.keys", "")
        return [c.strip() for c in pk.split(",") if c.strip()]

    def _partition_relpath(self, spec: TableSpec, part_spec: str) -> str:
        """Parse ``col='v'[, col2='v2']`` into the Hive-layout relative
        directory, validating against (and ordering by) partition.keys."""
        keys = self._partition_keys(spec)
        if not keys:
            raise ValueError(
                f"table {spec.name!r} is not partitioned "
                "(no 'partition.keys' option)"
            )
        given = {
            m.group("k"): m.group("v")
            for m in re.finditer(
                r"(?P<k>\w+)\s*=\s*'(?P<v>[^']*)'", part_spec
            )
        }
        if set(given) != set(keys):
            raise ValueError(
                f"partition spec {sorted(given)} must name exactly the "
                f"partition keys {keys}"
            )
        return "/".join(f"{k}={given[k]}" for k in keys)

    def _alter_table_statement(self, stmt: str):
        """Engine-managed ALTER TABLE / SHOW PARTITIONS. Partitions are
        REAL directories in the table's Hive layout (create/remove the
        ``col=v`` dirs — what the reference's catalog partition entries
        materialize as on a filesystem connector); SET/RESET mutate the
        WITH options; ADD/DROP column edit the declared schema (reads
        null-fill files written before an added column — the
        metadata-only schema evolution parquet supports). Returns
        NotImplemented when the statement is not in this family."""
        import os as _os
        import shutil as _shutil

        sp = self._SHOW_PARTS_RE.match(stmt)
        if sp:
            name = sp.group("name")
            if name not in self.tables:
                return NotImplemented  # let Spark try (e.g. a hive table)
            spec = self.tables[name]
            keys = self._partition_keys(spec)
            if not keys:
                raise ValueError(f"table {name!r} is not partitioned")
            base = spec.options["path"]
            parts = []

            def walk(d: str, depth: int, rel: list[str]) -> None:
                if depth == len(keys):
                    parts.append("/".join(rel))
                    return
                if not _os.path.isdir(d):
                    return
                for e in sorted(_os.listdir(d)):
                    if e.startswith(f"{keys[depth]}="):
                        walk(_os.path.join(d, e), depth + 1, rel + [e])

            walk(base, 0, [])
            return self.spark.createDataFrame(
                [(p,) for p in parts], "partition string"
            )
        m = self._ALTER_PART_RE.match(stmt)
        if m and m.group("name") in self.tables:
            spec = self.tables[m.group("name")]
            if spec.connector != "filesystem":
                raise ValueError(
                    f"ALTER TABLE ... PARTITION: connector "
                    f"{spec.connector!r} has no partition storage"
                )
            rel = self._partition_relpath(spec, m.group("spec"))
            d = _os.path.join(spec.options["path"], rel)
            verb = m.group("verb").upper()
            ifx = (m.group("ifx") or "").upper().replace(" ", "")
            if verb == "ADD":
                if _os.path.isdir(d):
                    if ifx == "NOTEXISTS":
                        return None
                    raise ValueError(f"partition {rel!r} already exists")
                _os.makedirs(d)
                return None
            if not _os.path.isdir(d):
                if ifx == "EXISTS":
                    return None
                raise ValueError(f"partition {rel!r} does not exist")
            _shutil.rmtree(d)
            self._refresh_view(spec)
            return None
        m = self._ALTER_SET_RE.match(stmt)
        if m and m.group("name") in self.tables:
            spec = self.tables[m.group("name")]
            opts = {
                o.group("k"): o.group("v")
                for o in _OPT_RE.finditer(m.group("opts"))
            }
            if not opts:
                raise ValueError("ALTER TABLE ... SET: no 'k'='v' options")
            for guard in ("connector", "path"):
                if guard in opts:
                    raise ValueError(
                        f"ALTER TABLE ... SET cannot change {guard!r}"
                    )
            spec.options.update(opts)
            self._refresh_view(spec)
            return None
        m = self._ALTER_RESET_RE.match(stmt)
        if m and m.group("name") in self.tables:
            spec = self.tables[m.group("name")]
            keys = [k.strip().strip("'") for k in m.group("keys").split(",")]
            for k in keys:
                if k in ("connector", "path"):
                    raise ValueError(
                        f"ALTER TABLE ... RESET cannot remove {k!r}"
                    )
                spec.options.pop(k, None)
            self._refresh_view(spec)
            return None
        m = self._ALTER_RENAME_RE.match(stmt)
        if m and m.group("name") in self.tables:
            new = m.group("new")
            if new in self.tables:
                raise ValueError(f"table {new!r} already exists")
            spec = self.tables.pop(m.group("name"))
            self._unpersist_spec(m.group("name"))
            spec.name = new
            self.tables[new] = spec
            self.spark.catalog.dropTempView(m.group("name"))
            self._refresh_view(spec)
            return None
        m = self._ALTER_DIST_RE.match(stmt)
        if m and m.group("name") in self.tables:
            # ALTER TABLE MODIFY DISTRIBUTION / DROP DISTRIBUTION
            # (reference SqlAlterTableDistribution.java): re-cluster the
            # managed bucketed store under the new layout (the one-time
            # shuffle that buys every later same-keyed join its
            # exchange-free plan); DROP rewrites as a plain table.
            spec = self.tables[m.group("name")]
            if not self._is_managed_bucketed(spec):
                raise ValueError(
                    "ALTER TABLE ... DISTRIBUTION applies to managed "
                    "DISTRIBUTED tables only"
                )
            df = self._source_df(spec).localCheckpoint(eager=True)
            if m.group("drop"):
                # demote to a plain managed table (no bucket layout); the
                # 'managed' marker keeps it catalog-resolved
                spec.options.pop("distributed.keys", None)
                spec.options.pop("distributed.buckets", None)
                spec.options["managed"] = "true"
                self.spark.sql(f"DROP TABLE IF EXISTS {spec.name}")
                df.write.mode("overwrite").saveAsTable(spec.name)
                self._persist_spec(spec)
                return None
            dcols = [c.strip() for c in m.group("dkeys").split(",")
                     if c.strip()]
            unknown = [c for c in dcols
                       if c not in {c0 for c0, _ in spec.columns}]
            if unknown:
                raise ValueError(
                    f"MODIFY DISTRIBUTION names unknown columns {unknown}"
                )
            from flink_spark.sources.bucketing import write_bucketed

            spec.options["distributed.keys"] = ",".join(dcols)
            spec.options["distributed.buckets"] = m.group("dbuck")
            self.spark.sql(f"DROP TABLE IF EXISTS {spec.name}")
            write_bucketed(df, spec.name, dcols, int(m.group("dbuck")),
                           mode="overwrite")
            self._persist_spec(spec)
            return None
        m = self._ALTER_RENAMECOL_RE.match(stmt)
        if m and m.group("name") in self.tables:
            # ALTER TABLE t RENAME col TO new (reference
            # SqlAlterTableRenameColumn.java). Parquet resolves columns BY
            # NAME, so a metadata-only rename would null out history;
            # rewrite the storage with the column aliased (at scale a
            # table format does this as a metadata swap — the semantics
            # gate is what this pins).
            from pyspark.sql import functions as F

            spec = self.tables[m.group("name")]
            col, new = m.group("col"), m.group("new")
            have = {c for c, _ in spec.columns}
            if col not in have:
                raise ValueError(f"column {col!r} does not exist")
            if new in have:
                raise ValueError(f"column {new!r} already exists")
            pkeys = set(self._partition_keys(spec)) | set(spec.primary_key)
            if col in pkeys:
                raise ValueError(
                    f"column {col!r} is a partition/primary key — "
                    "cannot rename"
                )
            df = self._source_df(spec)
            renamed = df.select(
                *[F.col(c).alias(new) if c == col else F.col(c)
                  for c, _ in spec.columns]
            ).localCheckpoint(eager=True)
            spec.columns = [
                (new if c == col else c, t) for c, t in spec.columns
            ]
            self._rewrite_table_storage(spec, renamed)
            return None
        m = self._ALTER_MODIFYCOL_RE.match(stmt)
        if m and m.group("name") in self.tables:
            # ALTER TABLE t MODIFY (c TYPE, ...) (reference
            # SqlAlterTableModify.java): change a column's declared type;
            # existing data is cast (storage rewrite — parquet's reader
            # rejects most physical-type changes, so metadata-only would
            # break reads).
            from pyspark.sql import functions as F

            from flink_spark.sqltok import split_top_commas

            spec = self.tables[m.group("name")]
            declared = dict(spec.columns)
            changes: dict[str, str] = {}
            for part in split_top_commas(m.group("cols")):
                toks = part.split()
                if len(toks) < 2:
                    raise ValueError(
                        f"ALTER TABLE ... MODIFY: expected 'name TYPE', "
                        f"got {part.strip()!r}"
                    )
                cname, ctype = toks[0], " ".join(toks[1:])
                if cname not in declared:
                    raise ValueError(f"column {cname!r} does not exist")
                changes[cname] = _map_type(ctype)
            df = self._source_df(spec)
            recast = df.select(
                *[F.col(c).cast(changes[c]).alias(c) if c in changes
                  else F.col(c)
                  for c, _ in spec.columns]
            ).localCheckpoint(eager=True)
            spec.columns = [
                (c, changes.get(c, t)) for c, t in spec.columns
            ]
            self._rewrite_table_storage(spec, recast)
            return None
        m = self._ALTER_ADDCOL_RE.match(stmt)
        if m and m.group("name") in self.tables:
            from flink_spark.sqltok import split_top_commas

            spec = self.tables[m.group("name")]
            for part in split_top_commas(m.group("cols")):
                toks = part.split()
                if len(toks) < 2:
                    raise ValueError(
                        f"ALTER TABLE ... ADD: expected 'name TYPE', "
                        f"got {part.strip()!r}"
                    )
                # optional column position (reference ddl/position/
                # SqlColumnPosSpec.java): ... TYPE [FIRST | AFTER col]
                pos_idx = None
                if len(toks) >= 3 and toks[-2].upper() == "AFTER":
                    anchor = toks[-1]
                    names = [c for c, _ in spec.columns]
                    if anchor not in names:
                        raise ValueError(
                            f"ALTER TABLE ... ADD AFTER: column "
                            f"{anchor!r} does not exist"
                        )
                    pos_idx = names.index(anchor) + 1
                    toks = toks[:-2]
                elif toks[-1].upper() == "FIRST":
                    pos_idx = 0
                    toks = toks[:-1]
                cname, ctype = toks[0], " ".join(toks[1:])
                if cname in {c for c, _ in spec.columns}:
                    raise ValueError(f"column {cname!r} already exists")
                if pos_idx is None:
                    spec.columns.append((cname, ctype))
                else:
                    spec.columns.insert(pos_idx, (cname, ctype))
            self._refresh_view(spec)
            return None
        m = self._ALTER_DROPCOL_RE.match(stmt)
        if m and m.group("name") in self.tables:
            spec = self.tables[m.group("name")]
            drops = (
                [m.group("col")]
                if m.group("col")
                else [c.strip() for c in m.group("cols").split(",")]
            )
            have = {c for c, _ in spec.columns}
            pkeys = set(self._partition_keys(spec)) | set(spec.primary_key)
            for c in drops:
                if c not in have:
                    raise ValueError(f"column {c!r} does not exist")
                if c in pkeys:
                    raise ValueError(
                        f"column {c!r} is a partition/primary key — "
                        "cannot drop"
                    )
            if len(drops) >= len(spec.columns):
                raise ValueError("cannot drop every column")
            spec.columns = [
                (c, t) for c, t in spec.columns if c not in set(drops)
            ]
            self._refresh_view(spec)
            return None
        return NotImplemented

    def _refresh_view(self, spec: TableSpec) -> None:
        if self._is_managed_bucketed(spec):
            # the catalog table IS the queryable object; a same-named temp
            # view would shadow it with a stale snapshot plan
            self.spark.catalog.refreshTable(spec.name)
            self._persist_spec(spec)
            return
        try:
            src = self._source_df(spec)
        except Exception:  # noqa: BLE001 - sink-only until first write
            src = None
        if src is not None:
            src.createOrReplaceTempView(spec.name)
        self._persist_spec(spec)

    # -- persistent catalogs (reference HiveCatalog-style durability:
    # a catalog WITH ('type'='filesystem','path'=...) stores every
    # TableSpec as a JSON sidecar, so table metadata survives the
    # session — USE CATALOG in a fresh TableEnvironment reloads it) ----

    def _catalog_store_dir(self) -> str | None:
        props = self.catalogs.get(self.current_catalog, {})
        if props.get("type") == "filesystem" and props.get("path"):
            return props["path"]
        return None

    def _persist_spec(self, spec: TableSpec) -> None:
        d = self._catalog_store_dir()
        if d is None:
            return
        import json
        import os as _os

        _os.makedirs(d, exist_ok=True)
        payload = {
            "name": spec.name,
            "columns": spec.columns,
            "options": spec.options,
            "watermark": spec.watermark,
            "watermark_kind": spec.watermark_kind,
            "primary_key": spec.primary_key,
        }
        tmp = _os.path.join(d, f".{spec.name}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        _os.replace(tmp, _os.path.join(d, f"{spec.name}.json"))

    def _unpersist_spec(self, name: str) -> None:
        d = self._catalog_store_dir()
        if d is None:
            return
        import contextlib
        import os as _os

        with contextlib.suppress(FileNotFoundError):
            _os.remove(_os.path.join(d, f"{name}.json"))

    def _load_persisted_tables(self) -> None:
        d = self._catalog_store_dir()
        if d is None:
            return
        import json
        import os as _os

        if not _os.path.isdir(d):
            return
        for f in sorted(_os.listdir(d)):
            if not f.endswith(".json") or f.startswith("."):
                continue
            with open(_os.path.join(d, f)) as fh:
                p = json.load(fh)
            spec = TableSpec(
                name=p["name"],
                columns=[tuple(c) for c in p["columns"]],
                options=p["options"],
                watermark=tuple(p["watermark"]) if p["watermark"] else None,
                primary_key=list(p["primary_key"]),
                watermark_kind=p.get("watermark_kind", "bounded"),
            )
            self.tables[spec.name] = spec
            try:
                src = (None if self._is_managed_bucketed(spec)
                       else self._source_df(spec))
            except Exception:  # noqa: BLE001 - sink-only until first write
                src = None
            if src is not None:
                src.createOrReplaceTempView(spec.name)

    # -- plans (COMPILE PLAN / EXPLAIN, SURVEY §2.15) ----------------------

    def from_path(self, name: str):
        """Table-API entry (reference TableEnvironment.from_path): a
        fluent Table over a declared table / view."""
        from flink_spark.table_api import Table

        return Table(self.spark.table(name))

    def create_statement_set(self) -> "StatementSet":
        return StatementSet(self)

    def explain_sql(self, sql: str, mode: str = "formatted") -> str:
        """EXPLAIN (reference SqlRichExplain): the optimized physical plan
        text for a query."""
        df = self.spark.sql(sql)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    #: compiled-plan artifact format. v1 (r5): sql + result schema +
    #: optimized-plan fingerprint. v2 (r9): + engine stamp and the
    #: schema contracts of every referenced CATALOG table, so EXECUTE
    #: PLAN also fails fast when a source table's declared shape drifted
    #: (the reference's restore contract validates the serialized table
    #: specs, not just the result row type). Older versions MIGRATE on
    #: load (reference FLIP-190 / CompiledPlan: plans written by an
    #: older version keep loading); newer versions fail loudly.
    PLAN_FORMAT_VERSION = 2

    def _referenced_catalog_tables(self, sql: str) -> dict:
        """Schema contracts (name -> [[col, type], ...]) of the declared
        catalog tables the statement references by word-boundary match on
        the literal-masked text."""
        from flink_spark.sqltok import mask_literals

        masked = mask_literals(sql)
        out = {}
        for name, spec in self.tables.items():
            if re.search(rf"\b{re.escape(name)}\b", masked, re.IGNORECASE):
                out[name] = [[c, t] for c, t in spec.columns]
        return out

    def compile_plan_sql(self, sql: str, path: str) -> dict:
        """COMPILE PLAN ... FOR <insert/query> (reference
        SqlCompilePlan.java; ExecNodeGraph JSON serialization): persist the
        statement plus its analyzed schema, optimized-plan fingerprint and
        (v2) the referenced catalog tables' schema contracts. Catalyst
        plans are not portable artifacts the way ExecNodeGraph is, so the
        replayable unit is the SQL + schema contracts; the plan text lets
        a restart detect optimizer drift (the restore-test concern)."""
        import hashlib
        import json

        im = re.match(
            r"^\s*INSERT\s+(?:INTO|OVERWRITE)\s+[\w.]+\s+(SELECT\b.*)$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        # an INSERT into an engine-managed sink can't be analyzed by bare
        # spark.sql — the plan contract is the SELECT's schema
        df = self.spark.sql(im.group(1) if im else sql)
        optimized = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "extended"
        )
        plan = {
            "version": self.PLAN_FORMAT_VERSION,
            "engine": {"name": "flink_spark",
                       "spark_version": self.spark.version},
            "sql": sql,
            "schema": df.schema.jsonValue(),
            "sources": self._referenced_catalog_tables(sql),
            "plan_sha256": hashlib.sha256(optimized.encode()).hexdigest(),
            "optimized_plan": optimized,
        }
        with open(path, "w") as f:
            json.dump(plan, f, indent=1)
        return plan

    def _migrate_plan(self, plan: dict) -> dict:
        """Upgrade a loaded compiled-plan dict to the current format
        (reference CompiledPlan version compatibility: older plans keep
        loading; future versions fail loudly, never guess)."""
        v = plan.get("version")
        if v == self.PLAN_FORMAT_VERSION:
            return plan
        if v == 1:
            # v1 carried no source contracts or engine stamp — migrate
            # with an empty contract set (the result-schema guard still
            # applies; re-compile to arm the source guard)
            plan = dict(plan)
            plan["version"] = 2
            plan.setdefault("sources", {})
            plan.setdefault(
                "engine",
                {"name": "flink_spark", "spark_version": None},
            )
            plan["migrated_from"] = 1
            return plan
        raise ValueError(
            f"compiled plan version {v!r} is newer than this engine's "
            f"format {self.PLAN_FORMAT_VERSION} — upgrade the engine or "
            "re-compile the plan (versions only migrate forward)"
        )

    def migrate_plan_file(self, path: str) -> dict:
        """Rewrite a compiled-plan file in the current format: load (with
        in-memory migration), re-derive the source contracts from the
        stored SQL against the CURRENT catalog, persist. The explicit
        counterpart of the reference's plan-upgrade workflow."""
        import json

        with open(path) as f:
            plan = self._migrate_plan(json.load(f))
        plan["sources"] = self._referenced_catalog_tables(plan["sql"])
        plan.pop("migrated_from", None)
        with open(path, "w") as f:
            json.dump(plan, f, indent=1)
        return plan

    def execute_plan(self, path: str) -> DataFrame:
        """EXECUTE PLAN '<path>' (reference SqlExecutePlan): replay a
        compiled plan; fails fast if the result schema — or (v2) a
        referenced catalog table's declared schema — drifted from the
        compiled contract. Older plan formats migrate on load."""
        import json

        from pyspark.sql.types import StructType

        with open(path) as f:
            plan = self._migrate_plan(json.load(f))
        for name, cols in plan.get("sources", {}).items():
            spec = self.tables.get(name)
            if spec is None:
                raise ValueError(
                    f"compiled plan source drift: table {name!r} was "
                    "declared at compile time but is no longer in the "
                    "catalog"
                )
            now = [[c, t] for c, t in spec.columns]
            if now != [list(x) for x in cols]:
                raise ValueError(
                    f"compiled plan source drift: table {name!r} schema "
                    f"changed from {cols} to {now}"
                )
        sql = plan["sql"]
        if re.match(r"^\s*INSERT\b", sql, re.IGNORECASE):
            # an INSERT plan replays through the dialect (engine-managed
            # sinks included); the schema contract was checked at compile
            return self.execute_sql(sql)
        df = self.spark.sql(sql)
        expected = StructType.fromJson(plan["schema"])
        if df.schema != expected:
            raise ValueError(
                f"compiled plan schema drift: expected {expected.simpleString()}, "
                f"got {df.schema.simpleString()}"
            )
        return df

    # -- dialect: window TVFs ----------------------------------------------

    _TVF_RE = re.compile(
        r"TABLE\s*\(\s*(?P<fn>TUMBLE|HOP|CUMULATE)\s*\(\s*"
        r"TABLE\s+(?P<tbl>[\w.]+)\s*,\s*DESCRIPTOR\s*\(\s*(?P<ts>\w+)\s*\)\s*,\s*"
        r"(?P<ivs>INTERVAL\s+'[^']+'\s+\w+(?:\s*,\s*INTERVAL\s+'[^']+'\s+\w+)?)"
        r"\s*\)\s*\)",
        re.IGNORECASE,
    )

    @staticmethod
    def _parse_intervals(text: str) -> list[str]:
        return [
            f"{n} {u.lower()}" + ("" if u.lower().endswith("s") else "s")
            for n, u in re.findall(r"INTERVAL\s+'([^']+)'\s+(\w+)", text, re.IGNORECASE)
        ]

    def _rewrite_window_tvfs(self, stmt: str) -> str:
        """Flink window-TVF SQL (SqlTumble/Hop/CumulateTableFunction;
        SURVEY §2.5) → a registered windowed view. TUMBLE/HOP/CUMULATE are
        row-local window assignments, so the TVF result is itself a table;
        SESSION merges during aggregation and is exposed via the DataFrame
        op (operators.windows.session) instead."""
        from flink_spark.operators import windows as W

        def repl(m: re.Match) -> str:
            fn = m.group("fn").upper()
            df = self.spark.table(m.group("tbl"))
            iv = self._parse_intervals(m.group("ivs"))
            ts = m.group("ts")
            if fn == "TUMBLE":
                out = W.tumble(df, ts, iv[0])
            elif fn == "HOP":
                out = W.hop(df, ts, slide=iv[0], size=iv[1])
            else:
                out = W.cumulate(df, ts, step=iv[0], size=iv[1])
            name = f"__tvf_{fn.lower()}_{_det_digest(m.group('tbl'), ts, *iv)}"
            out.createOrReplaceTempView(name)
            return name

        from flink_spark.sqltok import sub_outside_literals

        # match on the literal-masked view (a TVF call quoted inside a
        # string is DATA, not structure) while the replacement reads the
        # original text, keeping the interval literals intact
        return sub_outside_literals(self._TVF_RE, repl, stmt)

    #: SESSION window TVF (reference SqlSessionTableFunction): unlike the
    #: row-local TVFs, SESSION is a MERGING window — bounds exist only
    #: after aggregation — so the rewrite transforms the whole statement
    #: into Spark's session_window grouping rather than a tagged view.
    #: legacy group-window detector: a GROUP BY containing
    #: TUMBLE/HOP/SESSION(<column>, INTERVAL ...) — the pre-TVF spelling
    #: (reference StreamExecGroupWindowAggregate.java:113). The TVF form
    #: has `TABLE <t>` as the first argument, so `(?!TABLE\b)` splits them.
    _LEGACY_GW_RE = re.compile(
        r"GROUP\s+BY(?:(?!;).)*?\b(?:TUMBLE|HOP|SESSION)\s*\(\s*"
        r"(?!TABLE\b)\w+\s*,\s*INTERVAL",
        re.IGNORECASE | re.DOTALL,
    )

    _GW_ACCESSOR_RE = re.compile(
        r"\b(?P<fn>TUMBLE|HOP|SESSION)_(?P<part>START|END|ROWTIME)\s*"
        r"\(\s*(?P<args>[^()]*)\)",
        re.IGNORECASE,
    )
    _GW_TUMBLE_RE = re.compile(
        r"\bTUMBLE\s*\(\s*(?P<ts>\w+)\s*,\s*"
        r"INTERVAL\s+'(?P<n>[^']+)'\s+(?P<u>\w+)\s*\)",
        re.IGNORECASE,
    )
    _GW_HOP_RE = re.compile(
        r"\bHOP\s*\(\s*(?P<ts>\w+)\s*,\s*"
        r"INTERVAL\s+'(?P<sn>[^']+)'\s+(?P<su>\w+)\s*,\s*"
        r"INTERVAL\s+'(?P<zn>[^']+)'\s+(?P<zu>\w+)\s*\)",
        re.IGNORECASE,
    )
    _GW_SESSION_RE = re.compile(
        r"\bSESSION\s*\(\s*(?P<ts>\w+)\s*,\s*"
        r"INTERVAL\s+'(?P<n>[^']+)'\s+(?P<u>\w+)\s*\)",
        re.IGNORECASE,
    )

    @staticmethod
    def _gw_duration(n: str, unit: str) -> str:
        u = unit.lower()
        return f"{n} {u}" + ("" if u.endswith("s") else "s")

    _HINT_BLOCK_RE = re.compile(r"/\*\+(?P<body>[^*]*(?:\*(?!/)[^*]*)*)\*/")
    #: LOOKUP hint option schema (reference LookupJoinHintOptions /
    #: hints.md "Lookup Hints"): key → validator kind
    _LOOKUP_HINT_KEYS = {
        "table": "string",
        "async": "boolean",
        "output-mode": ("ordered", "allow_unordered"),
        "capacity": "int",
        "timeout": "duration",
        "retry-predicate": ("lookup_miss",),
        "retry-strategy": ("fixed_delay",),
        "fixed-delay": "duration",
        "max-attempts": "int",
    }

    _OVERLAPS_RE = re.compile(
        r"\(\s*(?P<l>[^()]*(?:\([^()]*\)[^()]*)*)\)\s+OVERLAPS\s+"
        r"\(\s*(?P<r>[^()]*(?:\([^()]*\)[^()]*)*)\)",
        re.IGNORECASE,
    )

    def _rewrite_overlaps(self, stmt: str) -> str:
        """(tp1, t1) OVERLAPS (tp2, t2) → the normalized inclusive-bounds
        boolean (TemporalOverlapsConverter.java): INTERVAL second members
        are added to their time point; endpoints sorted so s<=e; result
        is (e0 >= s1) AND (e1 >= s0). Pure text rewrite — Spark executes
        the expanded expression natively (codegen'd comparisons)."""
        from flink_spark.functions.vectorsearch import _split_args
        from flink_spark.sqltok import sub_outside_literals

        def norm(pair_text: str):
            parts = [p.strip() for p in _split_args(pair_text) if p.strip()]
            if len(parts) != 2:
                raise ValueError(
                    f"OVERLAPS: each side needs (timepoint, temporal), "
                    f"got ({pair_text})"
                )
            tp, t = parts
            end = f"({tp} + {t})" if re.match(
                r"^INTERVAL\b", t, re.IGNORECASE
            ) else f"({t})"
            s = f"(CASE WHEN ({tp}) <= {end} THEN ({tp}) ELSE {end} END)"
            e = f"(CASE WHEN ({tp}) <= {end} THEN {end} ELSE ({tp}) END)"
            return s, e

        def repl(m):
            s0, e0 = norm(m.group("l"))
            s1, e1 = norm(m.group("r"))
            return f"(({e0} >= {s1}) AND ({e1} >= {s0}))"

        return sub_outside_literals(self._OVERLAPS_RE, repl, stmt)

    #: tail of a CAST body that targets a parameterized character /
    #: timestamp type — matched against the body's masked text, anchored
    #: at its end, and accepted only at paren depth 0
    _PRECISION_CAST_TAIL_RE = re.compile(
        r"\sAS\s+(?P<ty>CHAR|VARCHAR|TIMESTAMP_LTZ|TIMESTAMP)"
        r"\s*\(\s*(?P<n>\d+)\s*\)\s*$",
        re.IGNORECASE,
    )

    def _rewrite_precision_casts(self, stmt: str) -> str:
        """CAST(x AS CHAR(n)/VARCHAR(n)/TIMESTAMP[_LTZ](n)) → the
        reference's length/precision semantics, which Spark's bare cast
        does not apply:

        - CHAR(n): trim to n chars when longer, pad with spaces when
          shorter (reference CharVarCharTrimPadCastRule.java:64 — the
          generated code pads/substrings around the inner string cast);
          Spark's RPAD does both in one call.
        - VARCHAR(n): trim only, never pad (same rule, couldPad=false).
        - TIMESTAMP(n)/TIMESTAMP_LTZ(n), n < 6: TRUNCATE the fractional
          seconds to precision n (reference
          TimestampToTimestampCastRule.java:97 calls
          TRUNCATE_SQL_TIMESTAMP — truncation, not rounding). n >= 6 is
          the identity: Spark timestamps are microsecond-precision, so
          TIMESTAMP(9) degrades to micros (documented in SURVEY §7.3 ⑦).
          PMOD keeps pre-epoch values truncating toward zero-fraction.

        Pure text rewrite on CAST bodies found by balanced-paren scan —
        DDL column definitions (no CAST) are never touched."""
        from flink_spark.sqltok import mask_literals

        while True:
            masked = mask_literals(stmt)
            rewritten = None
            for m in re.finditer(r"\bCAST\s*\(", masked, re.IGNORECASE):
                start = m.end()
                i = _match_paren(masked, start)
                if i < 0:
                    continue  # unbalanced (mid-edit text) — leave alone
                body = masked[start : i - 1]
                tm = self._PRECISION_CAST_TAIL_RE.search(body)
                if not tm:
                    continue
                prefix = body[: tm.start()]
                if prefix.count("(") != prefix.count(")"):
                    continue  # the AS belongs to a nested call
                expr = stmt[start : start + tm.start()].strip()
                ty = tm.group("ty").upper()
                n = int(tm.group("n"))
                if ty == "CHAR":
                    repl = f"RPAD(CAST(({expr}) AS STRING), {n}, ' ')"
                elif ty == "VARCHAR":
                    repl = f"LEFT(CAST(({expr}) AS STRING), {n})"
                else:
                    spark_ty = (
                        "TIMESTAMP" if ty == "TIMESTAMP_LTZ"
                        else "TIMESTAMP_NTZ"
                    )
                    inner = f"CAST(({expr}) AS {spark_ty})"
                    if n >= 6:
                        repl = inner
                    elif spark_ty == "TIMESTAMP_NTZ":
                        # wall-clock fraction, timezone-independent
                        # (ADVICE r8: UNIX_MICROS(CAST(ntz AS TIMESTAMP))
                        # converts through the session zone). EXTRACT
                        # SECOND is DECIMAL(8,6) incl. fraction; the
                        # whole-second part is ≡ 0 mod 10^(6-n).
                        frac = (
                            f"CAST(EXTRACT(SECOND FROM {inner}) "
                            f"* 1000000 AS BIGINT)"
                        )
                        repl = (
                            f"TIMESTAMPADD(MICROSECOND, "
                            f"-PMOD({frac}, {10 ** (6 - n)}), {inner})"
                        )
                    else:
                        # LTZ: internal rep is epoch micros — truncate
                        # on the absolute instant, like the reference's
                        # TRUNCATE_SQL_TIMESTAMP on the internal value
                        micros = f"UNIX_MICROS({inner})"
                        repl = (
                            f"TIMESTAMPADD(MICROSECOND, "
                            f"-PMOD({micros}, {10 ** (6 - n)}), {inner})"
                        )
                rewritten = stmt[: m.start()] + repl + stmt[i:]
                break
            if rewritten is None:
                return stmt
            stmt = rewritten

    def _rewrite_rand_integer(self, stmt: str) -> str:
        """RAND_INTEGER(seed, bound) → CAST(FLOOR(RAND(seed) * bound) AS
        INT) with a balanced-paren argument split, so parenthesized
        arguments (RAND_INTEGER(1, ABS(n))) expand instead of silently
        falling through to the 1-arg SQL function. 1-arg calls are left
        for the registered SQL function (functions/builtins_ext.py)."""
        from flink_spark.sqltok import mask_literals, split_top_commas

        while True:
            masked = mask_literals(stmt)
            rewritten = None
            for m in re.finditer(
                r"\bRAND_INTEGER\s*\(", masked, re.IGNORECASE
            ):
                start = m.end()
                i = _match_paren(masked, start)
                if i < 0:
                    continue
                body = stmt[start : i - 1]
                args = split_top_commas(body)
                if len(args) != 2:
                    continue  # 1-arg form: the registered SQL function
                seed, bound = args[0].strip(), args[1].strip()
                if "RAND_INTEGER" in mask_literals(seed).upper() or \
                        "RAND_INTEGER" in mask_literals(bound).upper():
                    continue  # rewrite innermost-first on a later pass
                repl = (
                    f"CAST(FLOOR(RAND({seed}) * ({bound})) AS INT)"
                )
                rewritten = stmt[: m.start()] + repl + stmt[i:]
                break
            if rewritten is None:
                return stmt
            stmt = rewritten

    _GROUP_ID_RE = re.compile(r"\bGROUP_ID\s*\(\s*\)", re.IGNORECASE)
    _GSETS_RE = re.compile(
        r"\bGROUP\s+BY\s+GROUPING\s+SETS\s*\(", re.IGNORECASE
    )

    def _rewrite_group_id(self, stmt: str) -> str:
        """GROUP_ID() (reference FlinkSqlOperatorTable GROUP_ID;
        DecomposeGroupingSetsRule.java:369 per CALCITE-1824): always 0
        when the grouping sets are distinct; with duplicate sets, the
        occurrence index among the duplicates. Decomposed the same way
        the reference's rule does: round j aggregates the sets whose
        multiplicity exceeds j with GROUP_ID() = j, rounds UNION ALL'd —
        each round stays a native Spark grouping-sets aggregate, so
        GROUPING()/GROUPING_ID() in the same select list keep working.
        A leading WITH prologue wraps the whole decomposition once; each
        arm of a top-level set operation decomposes independently
        (parenthesized back in place); a trailing top-level
        ORDER BY / LIMIT applies once, over everything."""
        from collections import Counter

        from flink_spark.sqltok import (
            mask_literals,
            split_top_commas,
            sub_outside_literals,
        )

        masked = mask_literals(stmt)
        zero = lambda _m: "CAST(0 AS BIGINT)"  # noqa: E731

        # an INSERT prologue stays outside the decomposition: the UNION
        # ALL rounds (and the select-list NULL fix, which anchors on a
        # SELECT prefix) apply to the query part only (ADVICE r7: the
        # old code duplicated the INSERT head into every round)
        im = re.match(
            r"^\s*INSERT\s+(?:INTO|OVERWRITE)\s+"
            r"(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*\s*"
            r"(?:PARTITION\s*\([^()]*\)\s*)?"
            r"(?:\([^()]*\)\s*)?",
            masked, re.IGNORECASE,
        )
        if im and re.match(
            r"^\s*(?:SELECT\b|WITH\b|\()", masked[im.end():],
            re.IGNORECASE,
        ):
            return stmt[: im.end()] + self._rewrite_group_id(
                stmt[im.end():]
            )

        # a WITH prologue scopes over the full (possibly set-op) body —
        # keep it once, decompose only what follows
        wm = re.match(r"^\s*WITH\b", masked, re.IGNORECASE)
        if wm:
            d0 = 0
            for mm in re.finditer(r"[()]|\bSELECT\b", masked, re.IGNORECASE):
                tok = mm.group(0)
                if tok == "(":
                    d0 += 1
                elif tok == ")":
                    d0 -= 1
                elif d0 == 0:
                    return stmt[: mm.start()] + self._rewrite_group_id(
                        stmt[mm.start():]
                    )
            return sub_outside_literals(self._GROUP_ID_RE, zero, stmt)

        # top-level set operations: each arm decomposes on its own; a
        # trailing global ORDER BY / LIMIT (which can only follow the
        # last arm) splits off first so it stays statement-scoped
        d0, setops = 0, []
        gcut = None
        for mm in re.finditer(
            r"[()]|\b(?:UNION(?:\s+ALL)?|INTERSECT(?:\s+ALL)?|"
            r"EXCEPT(?:\s+ALL)?|MINUS|ORDER\s+BY|LIMIT)\b",
            masked, re.IGNORECASE,
        ):
            tok = mm.group(0)
            if tok == "(":
                d0 += 1
            elif tok == ")":
                d0 -= 1
            elif d0 == 0:
                if re.match(r"ORDER|LIMIT", tok, re.IGNORECASE):
                    gcut = mm.start()
                    break
                setops.append(mm.span())
        if setops:
            gtail = "" if gcut is None else stmt[gcut:]
            end = gcut if gcut is not None else len(stmt)
            pieces, last = [], 0
            for s, e in setops + [(end, end)]:
                arm = stmt[last:s]
                r = self._rewrite_group_id(arm)
                pieces.append(f"({r.strip()})" if r != arm else arm)
                if s < e:
                    pieces.append(stmt[s:e])
                last = e
            out = " ".join(p.strip() for p in pieces if p.strip())
            return f"{out} {gtail}" if gtail.strip() else out

        # only a grouping-sets clause of THIS query block (paren depth 0)
        # may drive the decomposition — a match inside a derived table
        # would duplicate the whole outer query under UNION ALL (ADVICE
        # r7). Nested blocks decompose independently via recursion.
        m = None
        nested = []
        for cand in self._GSETS_RE.finditer(masked):
            head = masked[: cand.start()]
            if head.count("(") == head.count(")"):
                if m is None:
                    m = cand
            else:
                nested.append(cand)
        if nested:
            out = stmt
            # rewrite each nested block once, outermost-enclosing paren
            # span per match, splicing right-to-left so spans stay valid
            spans: list[tuple[int, int]] = []
            for cand in nested:
                j, depth = cand.start(), 0
                while j > 0:
                    j -= 1
                    if masked[j] == ")":
                        depth += 1
                    elif masked[j] == "(":
                        if depth == 0:
                            break
                        depth -= 1
                k = _match_paren(masked, j + 1)
                if k < 0:
                    raise ValueError(
                        "GROUP_ID: unbalanced parentheses around nested "
                        "GROUPING SETS"
                    )
                spans.append((j + 1, k - 1))
            # keep only outermost spans (an inner block is handled by the
            # recursion on its container); outermost spans are disjoint,
            # so right-to-left splicing keeps earlier offsets valid
            outermost = [
                (s, e) for s, e in spans
                if not any(
                    (s2 < s and e <= e2) or (s2 <= s and e < e2)
                    for s2, e2 in spans
                )
            ]
            for s, e in sorted(set(outermost), reverse=True):
                out = out[:s] + self._rewrite_group_id(out[s:e]) + out[e:]
            if out != stmt:
                # nested blocks decomposed — re-enter so a depth-0
                # duplicate GROUPING SETS of THIS block (if any) still
                # decomposes against the spliced text instead of being
                # skipped (and its GROUP_ID still enumerates rounds);
                # terminates because the re-entry sees the nested spans
                # in fixed form (distinct sets, GROUP_ID already a
                # constant) and leaves them unchanged
                return self._rewrite_group_id(out)
            if m is None:
                # nested spans already in fixed form and no depth-0
                # duplicate clause: any remaining GROUP_ID of THIS block
                # has distinct sets by construction → 0
                return sub_outside_literals(self._GROUP_ID_RE, zero, out)
        if not m:
            # CUBE / ROLLUP / plain GROUP BY: sets distinct by construction
            return sub_outside_literals(self._GROUP_ID_RE, zero, stmt)
        start = m.end()
        i = _match_paren(masked, start)
        if i < 0:
            raise ValueError("GROUPING SETS: unbalanced parentheses")
        items = [s.strip() for s in split_top_commas(stmt[start : i - 1])]

        def canon(item: str):
            t = item.strip()
            if t.startswith("(") and t.endswith(")"):
                t = t[1:-1]
            return tuple(
                sorted(
                    " ".join(p.split()).upper()
                    for p in split_top_commas(t)
                    if p.strip()
                )
            )

        keys = [canon(it) for it in items]
        mult = Counter(keys)
        if max(mult.values()) == 1:
            return sub_outside_literals(self._GROUP_ID_RE, zero, stmt)
        # split the clause tail: HAVING stays per round; a top-level
        # ORDER BY / LIMIT applies once, over the union
        rest, rest_masked = stmt[i:], masked[i:]
        cut, d0 = None, 0
        for mm in re.finditer(
            r"[()]|\bORDER\s+BY\b|\bLIMIT\b", rest_masked, re.IGNORECASE
        ):
            tok = mm.group(0)
            if tok == "(":
                d0 += 1
            elif tok == ")":
                d0 -= 1
            elif d0 == 0:
                cut = mm.start()
                break
        per_round_tail = rest if cut is None else rest[:cut]
        outer_tail = "" if cut is None else rest[cut:]
        first_text: dict = {}
        for it, k in zip(items, keys):
            first_text.setdefault(k, it)
        gid_arg_re = re.compile(r"\bGROUPING_ID\s*\(([^()]*)\)", re.IGNORECASE)
        g_arg_re = re.compile(r"\bGROUPING\s*\(([^()]*)\)", re.IGNORECASE)
        # locate the top-level select list so later rounds can NULL out
        # bare references to grouping columns absent from their universe
        # (the Expand copies the reference's rule emits carry NULL there)
        sel_start = frm = None
        pm = re.match(r"^\s*SELECT\s+", masked[: m.start()], re.IGNORECASE)
        if pm:
            sel_start, d0 = pm.end(), 0
            for mm in re.finditer(
                r"[()]|\bFROM\b", masked[sel_start : m.start()], re.IGNORECASE
            ):
                tok = mm.group(0)
                if tok == "(":
                    d0 += 1
                elif tok == ")":
                    d0 -= 1
                elif d0 == 0:
                    frm = sel_start + mm.start()
                    break
        full_union = {c for k in keys for c in k}
        agg_call_re = re.compile(
            r"\b(?:SUM|COUNT|AVG|MIN|MAX|FIRST|LAST|ANY_VALUE|MODE|MEDIAN|"
            r"STDDEV\w*|VAR\w*|COLLECT\w*|APPROX\w*|PERCENTILE\w*|LISTAGG|"
            r"GROUPING_ID|GROUPING|GROUP_ID)\s*\(",
            re.IGNORECASE,
        )

        def null_absent_in_expr(item: str, runion: set) -> str:
            """NULL out references to grouping columns outside this
            round's universe, skipping spans inside aggregate/grouping
            calls (aggregate args read base rows; GROUPING fixes up
            separately) — the Expand-copy NULLs the reference's rule
            would have emitted for these positions."""
            masked_it = mask_literals(item)
            prot = []
            for am in agg_call_re.finditer(masked_it):
                d, i2 = 1, am.end()
                while i2 < len(masked_it) and d:
                    if masked_it[i2] == "(":
                        d += 1
                    elif masked_it[i2] == ")":
                        d -= 1
                    i2 += 1
                prot.append((am.start(), i2))
            spans = []
            for tm in re.finditer(r"[A-Za-z_][\w.]*", masked_it):
                t = tm.group(0).upper()
                nxt = masked_it[tm.end():].lstrip()[:1]
                if (
                    t in full_union
                    and t not in runion
                    and nxt != "("  # a function sharing the name
                    and not any(s <= tm.start() < e for s, e in prot)
                ):
                    spans.append(tm.span())
            out = item
            for s, e in reversed(spans):
                out = out[:s] + "NULL" + out[e:]
            return out

        rounds = []
        for j in range(max(mult.values())):
            round_keys = [k for k in dict.fromkeys(keys) if mult[k] > j]
            sets_j = [first_text[k] for k in round_keys]
            runion = {c for k in round_keys for c in k}
            sel_text = None
            if frm is not None:
                fixed = []
                for it in split_top_commas(stmt[sel_start:frm]):
                    m2 = re.match(
                        r"^\s*([\w.]+)(?:\s+AS\s+(\w+))?\s*$",
                        it,
                        re.IGNORECASE,
                    )
                    name = m2.group(1) if m2 else None
                    if (
                        name
                        and not name.replace(".", "").isdigit()
                        and name.upper() not in ("NULL", "TRUE", "FALSE")
                        and name.upper() not in runion
                        and name.upper() in full_union
                    ):
                        # bare column: keep its output name via an alias
                        alias = (m2.group(2) or name.split(".")[-1])
                        fixed.append(f"NULL AS {alias}")
                    elif name:
                        fixed.append(it.strip())
                    else:
                        fixed.append(null_absent_in_expr(it, runion).strip())
                sel_text = ", ".join(fixed) + " "
            q = (
                (
                    stmt[:sel_start] + sel_text + stmt[frm : m.start()]
                    if sel_text is not None
                    else stmt[: m.start()]
                )
                + "GROUP BY GROUPING SETS ("
                + ", ".join(sets_j)
                + ")"
                + per_round_tail
            )
            q = sub_outside_literals(
                self._GROUP_ID_RE,
                lambda _m, _j=j: f"CAST({_j} AS BIGINT)",
                q,
            )

            # GROUPING / GROUPING_ID referencing a column absent from this
            # round's grouping universe can't stay native (Spark rejects
            # grouping_id over non-grouping columns); its bit is the
            # constant 1 there — exactly the literal the reference's
            # decomposition computes (DecomposeGroupingSetsRule).
            def fix_gid(mm, _runion=runion):
                args = [a.strip() for a in mm.group(1).split(",") if a.strip()]
                canons = [" ".join(a.split()).upper() for a in args]
                if not args or all(c in _runion for c in canons):
                    return mm.group(0)
                k = len(args)
                terms = []
                for idx, (a, c) in enumerate(zip(args, canons)):
                    w = 1 << (k - 1 - idx)
                    bit = "1" if c not in _runion else f"GROUPING({a})"
                    terms.append(f"({bit} * {w})" if w > 1 else f"({bit})")
                return "CAST((" + " + ".join(terms) + ") AS BIGINT)"

            q = sub_outside_literals(gid_arg_re, fix_gid, q)

            def fix_g(mm, _runion=runion):
                c = " ".join(mm.group(1).split()).upper()
                return "1" if c and c not in _runion else mm.group(0)

            q = sub_outside_literals(g_arg_re, fix_g, q)
            rounds.append(q)
        union = " UNION ALL ".join(rounds)
        if outer_tail.strip():
            return f"SELECT * FROM ({union}) {outer_tail}"
        return union

    def _rewrite_join_hints(self, stmt: str) -> str:
        """Inside `/*+ ... */` hint blocks: map NEST_LOOP onto Spark's
        SHUFFLE_REPLICATE_NL and validate LOOKUP hint options against the
        reference key schema. Later duplicate keys win (the reference's
        conflict resolution for KV hints). Blocks are located on the
        literals-only mask so a hint-shaped string INSIDE a literal is
        data, not a hint; block contents are read from the original."""
        from flink_spark.sqltok import mask_literals_only

        masked_only = mask_literals_only(stmt)
        out: list[str] = []
        last = 0
        for bm in self._HINT_BLOCK_RE.finditer(masked_only):
            out.append(stmt[last : bm.start()])
            body = stmt[bm.start("body") : bm.end("body")]
            out.append(self._fix_hint_block(body))
            last = bm.end()
        out.append(stmt[last:])
        return "".join(out)

    def _fix_hint_block(self, body: str) -> str:
        body = re.sub(r"\bNEST_LOOP\b", "SHUFFLE_REPLICATE_NL", body,
                      flags=re.IGNORECASE)
        sm = re.search(r"\bSTATE_TTL\s*\(", body, re.IGNORECASE)
        if sm:
            # STATE_TTL('t1'='1d', ...) (reference StateTtlHint.java /
            # FlinkHintStrategies): per-input idle-state retention for
            # streaming joins/group aggs. Validate the KV shape and the
            # duration spellings TimeUtils.parseDuration accepts, then
            # strip: batch execution retains no idle state (the reference
            # ignores the hint in batch mode too), and the streaming
            # DataFrame operators take state_ttl explicitly
            # (streaming/changelog.py, deltajoin.py, ...).
            j = _match_paren(body, sm.end())
            if j < 0:
                raise ValueError(
                    "STATE_TTL hint: unbalanced parentheses"
                )
            # validate options from THIS call's span only — scanning the
            # rest of the block would misread a sibling hint's quoted
            # options (e.g. LOOKUP's 'retry-predicate') as durations
            opts = {
                o.group("k"): o.group("v")
                for o in _OPT_RE.finditer(body[sm.end() : j - 1])
            }
            if not opts:
                raise ValueError(
                    "STATE_TTL hint: expected key-value options "
                    "'table'='duration' (e.g. STATE_TTL('t1'='1d'))"
                )
            for k, v in opts.items():
                # the exact label set of the reference's
                # TimeUtils.parseDuration (singular/plural of
                # ns/nano/µs/micro/ms/milli/s/sec/min|m/h/d + the full
                # words; a bare number = milliseconds; no 'msec')
                if not re.match(
                    r"^\d+\s*(ns|nanos?|nanoseconds?|µs|us|micros?|"
                    r"microseconds?|ms|millis?|milliseconds?|s|secs?|"
                    r"seconds?|min|minutes?|m|h|hours?|d|days?)?$",
                    v, re.IGNORECASE,
                ):
                    raise ValueError(
                        f"STATE_TTL hint: could not parse duration {v!r} "
                        f"for table {k!r}"
                    )
            # excise just the STATE_TTL(...) call (+ a trailing/leading
            # comma) so sibling hints in the same block survive
            rest = body[: sm.start()] + " " + body[j:]
            rest = re.sub(r",\s*,", ",", rest)  # mid-list excision
            rest = re.sub(r"^\s*,|,\s*$", "", rest.strip()).strip()
            return self._fix_hint_block(rest) if rest else ""
        lm = re.search(r"\bLOOKUP\s*\(", body, re.IGNORECASE)
        if lm:
            # scope option parsing to THIS call's span (a sibling hint's
            # quoted options would otherwise be misread as LOOKUP's) and
            # excise only the call, keeping sibling hints — same contract
            # as the STATE_TTL branch above
            jl = _match_paren(body, lm.end())
            if jl < 0:
                raise ValueError("LOOKUP hint: unbalanced parentheses")
            opts = {
                o.group("k"): o.group("v")
                for o in _OPT_RE.finditer(body[lm.end() : jl - 1])
            }
            unknown = sorted(
                k for k in opts if k not in self._LOOKUP_HINT_KEYS
            )
            if unknown:
                raise ValueError(
                    f"LOOKUP hint: unsupported option(s) {unknown}; "
                    f"supported: {sorted(self._LOOKUP_HINT_KEYS)}"
                )
            if "table" not in opts:
                raise ValueError(
                    "LOOKUP hint: required option 'table' is missing"
                )
            for k, v in opts.items():
                kind = self._LOOKUP_HINT_KEYS[k]
                ok = True
                if kind == "int":
                    ok = v.isdigit()
                elif kind == "boolean":
                    ok = v.lower() in ("true", "false")
                elif kind == "duration":
                    ok = bool(re.match(r"^\d+\s*(ms|s|sec|min|h|d)?$",
                                       v, re.IGNORECASE))
                elif isinstance(kind, tuple):
                    ok = v.lower() in kind
                if not ok:
                    raise ValueError(
                        f"LOOKUP hint: could not parse value {v!r} "
                        f"for key {k!r}"
                    )
            # validated; the strategies are implemented in
            # operators/joins.py (sync/async/cached/retry lookup) —
            # excise the call so Spark's parser doesn't warn on an
            # unknown hint name; siblings in the block survive
            rest = body[: lm.start()] + " " + body[jl:]
            rest = re.sub(r",\s*,", ",", rest)
            rest = re.sub(r"^\s*,|,\s*$", "", rest.strip()).strip()
            return self._fix_hint_block(rest) if rest else ""
        return "/*+" + body + "*/"

    def _rewrite_legacy_group_windows(self, stmt: str) -> str:
        """GROUP BY TUMBLE/HOP/SESSION(...) → Spark-native
        window()/session_window() grouping; TUMBLE_START/_END/_ROWTIME
        accessors → struct fields (rowtime = end - 1ms, the TVF
        window_time convention)."""
        from flink_spark.sqltok import sub_outside_literals

        def acc(m):
            fn = m.group("fn").upper()
            part = m.group("part").upper()
            struct = "session_window" if fn == "SESSION" else "window"
            if part == "START":
                return f"{struct}.start"
            if part == "END":
                return f"{struct}.end"
            return f"{struct}.end - INTERVAL '0.001' SECOND"

        stmt = sub_outside_literals(self._GW_ACCESSOR_RE, acc, stmt)
        stmt = sub_outside_literals(
            self._GW_TUMBLE_RE,
            lambda m: (
                f"window({m.group('ts')}, "
                f"'{self._gw_duration(m.group('n'), m.group('u'))}')"
            ),
            stmt,
        )
        stmt = sub_outside_literals(
            self._GW_HOP_RE,
            # Flink HOP(ts, slide, size) → Spark window(ts, size, slide)
            lambda m: (
                f"window({m.group('ts')}, "
                f"'{self._gw_duration(m.group('zn'), m.group('zu'))}', "
                f"'{self._gw_duration(m.group('sn'), m.group('su'))}')"
            ),
            stmt,
        )
        stmt = sub_outside_literals(
            self._GW_SESSION_RE,
            lambda m: (
                f"session_window({m.group('ts')}, "
                f"'{self._gw_duration(m.group('n'), m.group('u'))}')"
            ),
            stmt,
        )
        return stmt

    _SESSION_TVF_RE = re.compile(
        r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+TABLE\s*\(\s*SESSION\s*\(\s*"
        r"TABLE\s+(?P<tbl>[\w.]+)\s+PARTITION\s+BY\s+(?P<pk>[\w,\s]+?)\s*,"
        r"\s*DESCRIPTOR\s*\(\s*(?P<ts>\w+)\s*\)\s*,\s*"
        r"INTERVAL\s+'(?P<n>[^']+)'\s+(?P<u>\w+)\s*\)\s*\)\s+"
        r"GROUP\s+BY\s+(?P<gb>.+?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _rewrite_session_tvf(self, m):
        from flink_spark.sqltok import split_top_commas

        unit = m.group("u").lower()
        gap = f"{m.group('n')} {unit}" + ("" if unit.endswith("s") else "s")
        drop = {"window_start", "window_end"}
        gb_keep = [
            g for g in split_top_commas(m.group("gb"))
            if g.strip().lower() not in drop
        ]
        sel = []
        for it in split_top_commas(m.group("sel")):
            low = it.strip().lower()
            if low == "window_start":
                sel.append("__sw.start AS window_start")
            elif low == "window_end":
                sel.append("__sw.end AS window_end")
            else:
                sel.append(it)
        inner = (
            f"SELECT *, session_window({m.group('ts')}, '{gap}') AS __sw "
            f"FROM {m.group('tbl')}"
        )
        gb = ", ".join(["__sw"] + gb_keep)
        return self.spark.sql(
            f"SELECT {', '.join(sel)} FROM ({inner}) __sess GROUP BY {gb}"
        )

    # -- dialect: temporal join --------------------------------------------

    _TEMPORAL_RE = re.compile(
        r"^\s*SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<lt>[\w.]+)(?:\s+AS)?\s+(?P<la>\w+)\s+"
        r"JOIN\s+(?P<rt>[\w.]+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
        r"(?P<wa>\w+)\.(?P<wts>\w+)(?:\s+AS)?\s+(?P<ra>\w+)\s+"
        r"ON\s+(?P<lk>\w+\.\w+)\s*=\s*(?P<rk>\w+\.\w+)"
        r"(?:\s+WHERE\s+(?P<where>.+))?$",
        re.IGNORECASE | re.DOTALL,
    )

    _LATERAL_TTF_RE = re.compile(
        r"^\s*SELECT\s+(?P<cols>.+?)\s+FROM\s+(?P<lt>[\w.]+)(?:\s+AS)?\s+(?P<la>\w+)\s*,\s*"
        r"LATERAL\s+TABLE\s*\(\s*(?P<fn>\w+)\s*\(\s*(?P<wa>\w+)\.(?P<wts>\w+)\s*\)\s*\)"
        r"(?:\s+AS)?\s+(?P<ra>\w+)\s+"
        r"WHERE\s+(?P<lk>\w+\.\w+)\s*=\s*(?P<rk>\w+\.\w+)"
        r"(?:\s+AND\s+(?P<where>.+))?$",
        re.IGNORECASE | re.DOTALL,
    )

    def _rewrite_lateral_ttf(self, m: re.Match):
        """``FROM orders o, LATERAL TABLE (Rates(o.ts)) AS r WHERE o.k=r.k``
        (reference SqlSnapshot / temporal table function correlate,
        StreamExecTemporalJoin.java:77): the lateral-snapshot form of the
        temporal join — lowered onto the same asof_join as FOR SYSTEM_TIME."""
        from flink_spark.operators.joins import asof_join

        table, rts, rkey = self.temporal_fns[m.group("fn")]
        la, ra = m.group("la"), m.group("ra")
        k1a, k1c = m.group("lk").split(".")
        _k2a, k2c = m.group("rk").split(".")
        lk, rk = (k1c, k2c) if k1a == la else (k2c, k1c)
        if rk != rkey:
            raise ValueError(
                f"lateral temporal join on {rk!r} but {m.group('fn')!r} is "
                f"keyed by {rkey!r}"
            )
        left = self.spark.table(m.group("lt"))
        right = self.spark.table(table)
        if rk != lk:
            right = right.withColumnRenamed(rk, lk)
        joined = asof_join(left, right, key=lk, left_ts=m.group("wts"),
                           right_ts=rts, suffix="_r")
        # the comma / cross-apply spelling is an INNER correlate in the
        # reference (probe rows with no effective version emit nothing;
        # LEFT requires an explicit LEFT JOIN LATERAL ... ON TRUE) — the
        # as-of lowering is left-flavored, so drop the no-version rows.
        # The version-time output column follows asof_join's collision
        # rule for the suffix passed above.
        from pyspark.sql import functions as F

        rts_name = rts + "_r" if rts in left.columns else rts
        joined = joined.filter(F.col(rts_name).isNotNull())
        view = f"__ttf_{_det_digest(m.group(0))}"
        joined.createOrReplaceTempView(view)
        cols = re.sub(rf"\b({la}|{ra})\.", "", m.group("cols"))
        sql = f"SELECT {cols} FROM {view}"
        if m.group("where"):
            sql += " WHERE " + re.sub(rf"\b({la}|{ra})\.", "", m.group("where"))
        return self.spark.sql(sql)

    def _rewrite_temporal_join(self, m: re.Match):
        """``JOIN dim FOR SYSTEM_TIME AS OF l.ts AS d ON l.k = d.k``
        (reference StreamExecTemporalJoin.java:77, SqlSnapshot parsing):
        each left row joins the dim version in effect at its timestamp.
        Supported form: single left table, equi-key, versioned right table
        whose time attribute comes from its WATERMARK DDL declaration (or
        a 'version.column' option). Lowered onto operators.joins.asof_join
        — union + ordered fill, no range explosion."""
        from flink_spark.operators.joins import asof_join

        la, ra = m.group("la"), m.group("ra")
        lk = m.group("lk").split(".")[1]
        rk = m.group("rk").split(".")[1]
        lts = m.group("wts")
        rt_name = m.group("rt")
        spec = self.tables.get(rt_name)
        version_col = None
        if spec is not None:
            version_col = (
                spec.options.get("version.column")
                or (spec.watermark[0] if spec.watermark else None)
            )
        if version_col is None:
            raise ValueError(
                f"temporal join: {rt_name!r} has no declared version column "
                "(WATERMARK DDL or 'version.column' option)"
            )
        left = self.spark.table(m.group("lt"))
        right = self.spark.table(rt_name)
        if rk != lk:
            right = right.withColumnRenamed(rk, lk)
        joined = asof_join(
            left, right, key=lk, left_ts=lts, right_ts=version_col
        )
        view = f"__temporal_{_det_digest(m.group(0))}"
        joined.createOrReplaceTempView(view)
        cols = re.sub(rf"\b({la}|{ra})\.", "", m.group("cols"))
        sql = f"SELECT {cols} FROM {view}"
        if m.group("where"):
            sql += " WHERE " + re.sub(rf"\b({la}|{ra})\.", "", m.group("where"))
        return self.spark.sql(sql)

    # -- DDL ---------------------------------------------------------------

    @property
    def model_manager(self):
        """Model catalog (reference SqlCreateModel/CatalogModel,
        flink-models providers), created on first use."""
        if self._models is None:
            from flink_spark.models import ModelManager

            self._models = ModelManager(self.spark)
            self._models.connection_manager = self.connection_manager
        return self._models

    @property
    def connection_manager(self):
        """Connection catalog (FLIP-529; reference SqlCreateConnection /
        CatalogConnection / DefaultConnectionFactory), created on first
        use."""
        if self._connections is None:
            from flink_spark.connections import ConnectionManager

            self._connections = ConnectionManager(self.spark)
        return self._connections

    def create_temporary_model(self, name: str, factory,
                               output_schema: str | None = None) -> None:
        """Register a Python model factory as a catalog model usable from
        ML_PREDICT SQL (Table-API analog of CREATE MODEL)."""
        self.model_manager.create_temporary(name, factory, output_schema)

    def _mangle_db(self, db: str) -> str:
        """Spark-side database name for a (current-catalog, db) pair."""
        if self.current_catalog == "default_catalog":
            return db
        return f"{self.current_catalog}__{db}"

    def _catalog_statement(self, stmt: str):
        """Catalog / database DDL (reference GenericInMemoryCatalog;
        parser SqlCreateCatalog / SqlDropCatalog / SqlUseCatalog /
        SqlShowCatalogs / SqlDescribeCatalog / SqlShowCurrentCatalog,
        SqlCreateDatabase / SqlUseDatabase / SqlShowDatabases). Returns
        NotImplemented when the statement is not in this family."""
        m = re.match(
            r"^\s*CREATE\s+CATALOG\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<n>\w+)\s*(?:COMMENT\s+'(?P<cmt>[^']*)'\s*)?"
            r"(?:WITH\s*\((?P<props>.*)\))?\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name = m.group("n")
            if name in self.catalogs:
                if m.group("ine"):
                    return None
                raise ValueError(f"catalog {name!r} already exists")
            props = dict(
                re.findall(r"'([^']*)'\s*=\s*'([^']*)'", m.group("props") or "")
            )
            self.catalogs[name] = props
            if m.group("cmt") is not None:
                self._catalog_comments = getattr(
                    self, "_catalog_comments", {}
                )
                self._catalog_comments[name] = m.group("cmt")
            return None
        m = re.match(
            r"^\s*ALTER\s+CATALOG\s+(?P<n>\w+)\s+"
            r"(?:(?:COMMENT\s+'(?P<cmt>[^']*)')"
            r"|(?:SET\s*\(\s*(?P<sopts>.*?)\s*\))"
            r"|(?:RESET\s*\(\s*(?P<rkeys>.*?)\s*\)))\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # ALTER CATALOG COMMENT / SET / RESET (reference
            # ddl/catalog/SqlAlterCatalogComment.java, ...Options.java,
            # ...Reset.java). 'type' is the factory-discovery key — RESET
            # cannot remove it (FactoryUtil guard, same as connector on
            # tables).
            name = m.group("n")
            if name not in self.catalogs:
                raise ValueError(f"catalog {name!r} does not exist")
            if m.group("cmt") is not None:
                self._catalog_comments = getattr(
                    self, "_catalog_comments", {}
                )
                self._catalog_comments[name] = m.group("cmt")
                return None
            if m.group("sopts") is not None:
                self.catalogs[name].update(
                    dict(re.findall(r"'([^']*)'\s*=\s*'([^']*)'",
                                    m.group("sopts")))
                )
                return None
            keys = [k.strip().strip("'")
                    for k in m.group("rkeys").split(",") if k.strip()]
            if not keys:
                raise ValueError(
                    "ALTER CATALOG RESET requires at least one key"
                )
            for k in keys:
                if k == "type":
                    raise ValueError(
                        "ALTER CATALOG RESET cannot remove 'type'"
                    )
                self.catalogs[name].pop(k, None)
            return None
        m = re.match(
            r"^\s*SHOW\s+CREATE\s+CATALOG\s+(?P<n>\w+)\s*$",
            stmt, re.IGNORECASE,
        )
        if m:
            # SHOW CREATE CATALOG (reference SqlShowCreateCatalog.java →
            # ShowCreateUtil.buildShowCreateCatalogRow): name, optional
            # comment, WITH options with sensitive values masked
            from flink_spark.connections import (
                MASKED_VALUE,
                SENSITIVE_FIELD_NAMES,
            )

            name = m.group("n")
            if name not in self.catalogs:
                raise ValueError(f"catalog {name!r} does not exist")
            lines = [f"CREATE CATALOG {name}"]
            cmt = getattr(self, "_catalog_comments", {}).get(name)
            if cmt is not None:
                lines.append(f"COMMENT '{cmt}'")
            props = self.catalogs[name]
            if props:
                body = ",\n".join(
                    f"  '{k}' = "
                    f"'{MASKED_VALUE if k in SENSITIVE_FIELD_NAMES else v}'"
                    for k, v in sorted(props.items())
                )
                lines.append("WITH (\n" + body + "\n)")
            return self.spark.createDataFrame(
                [("\n".join(lines),)], "ddl string"
            )
        m = re.match(
            r"^\s*DROP\s+CATALOG\s+(?P<ie>IF\s+EXISTS\s+)?(?P<n>\w+)\s*$",
            stmt, re.IGNORECASE,
        )
        if m:
            name = m.group("n")
            if name not in self.catalogs:
                if m.group("ie"):
                    return None
                raise ValueError(f"catalog {name!r} does not exist")
            if name == self.current_catalog:
                raise ValueError("cannot drop the current catalog")
            if name == "default_catalog":
                raise ValueError("cannot drop the default catalog")
            del self.catalogs[name]
            return None
        m = re.match(r"^\s*USE\s+CATALOG\s+(?P<n>\w+)\s*$", stmt, re.IGNORECASE)
        if m:
            if m.group("n") not in self.catalogs:
                raise ValueError(f"catalog {m.group('n')!r} does not exist")
            self.current_catalog = m.group("n")
            # a filesystem-backed catalog reloads its persisted specs
            self._load_persisted_tables()
            return None
        if re.match(r"^\s*SHOW\s+CATALOGS\s*$", stmt, re.IGNORECASE):
            return self.spark.createDataFrame(
                sorted((n,) for n in self.catalogs), "catalog_name string"
            )
        if re.match(r"^\s*SHOW\s+CURRENT\s+CATALOG\s*$", stmt, re.IGNORECASE):
            return self.spark.createDataFrame(
                [(self.current_catalog,)], "current_catalog_name string"
            )
        m = re.match(
            r"^\s*DESCRIBE\s+CATALOG\s+(?:EXTENDED\s+)?(?P<n>\w+)\s*$",
            stmt, re.IGNORECASE,
        )
        if m:
            if m.group("n") not in self.catalogs:
                raise ValueError(f"catalog {m.group('n')!r} does not exist")
            rows = [("name", m.group("n"))] + sorted(
                self.catalogs[m.group("n")].items()
            )
            return self.spark.createDataFrame(
                rows, "info_name string, info_value string"
            )
        m = re.match(
            r"^\s*(?P<verb>CREATE|DROP)\s+DATABASE\s+"
            r"(?P<g>IF\s+(?:NOT\s+)?EXISTS\s+)?(?P<n>\w+)\s*"
            r"(?:COMMENT\s+'(?P<cmt>[^']*)'\s*)?"
            r"(?:WITH\s*\((?P<props>.*)\)\s*)?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # CREATE DATABASE [IF NOT EXISTS] db [COMMENT ...] [WITH (...)]
            # / DROP DATABASE (reference SqlCreateDatabase/SqlDropDatabase;
            # properties live in the catalog's CatalogDatabase, Spark only
            # stores the namespace)
            self.spark.sql(
                f"{m.group('verb')} DATABASE {m.group('g') or ''}"
                f"{self._mangle_db(m.group('n'))}"
            )
            self._db_props = getattr(self, "_db_props", {})
            key = (self.current_catalog, m.group("n"))
            if m.group("verb").upper() == "CREATE":
                props = dict(re.findall(
                    r"'([^']*)'\s*=\s*'([^']*)'", m.group("props") or ""
                ))
                if m.group("cmt") is not None:
                    props["comment"] = m.group("cmt")
                self._db_props[key] = props
            else:
                self._db_props.pop(key, None)
            return None
        m = re.match(
            r"^\s*ALTER\s+DATABASE\s+(?P<n>\w+)\s+SET\s*\((?P<props>.*)\)\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m:
            # ALTER DATABASE db SET ('k'='v', ...) (reference
            # SqlAlterDatabase / alter.md: merge the new properties into
            # the CatalogDatabase)
            dbs = [d.name for d in self.spark.catalog.listDatabases()]
            if self._mangle_db(m.group("n")) not in dbs:
                raise ValueError(f"database {m.group('n')!r} does not exist")
            self._db_props = getattr(self, "_db_props", {})
            key = (self.current_catalog, m.group("n"))
            self._db_props.setdefault(key, {}).update(dict(
                re.findall(r"'([^']*)'\s*=\s*'([^']*)'", m.group("props"))
            ))
            return None
        if re.match(r"^\s*SHOW\s+DATABASES\s*$", stmt, re.IGNORECASE):
            dbs = [d.name for d in self.spark.catalog.listDatabases()]
            if self.current_catalog == "default_catalog":
                names = [d for d in dbs if "__" not in d]
            else:
                pre = f"{self.current_catalog}__"
                names = [d[len(pre):] for d in dbs if d.startswith(pre)]
            return self.spark.createDataFrame(
                sorted((n,) for n in names), "database_name string"
            )
        if re.match(r"^\s*SHOW\s+CURRENT\s+DATABASE\s*$", stmt, re.IGNORECASE):
            cur = self.spark.catalog.currentDatabase()
            pre = f"{self.current_catalog}__"
            if cur.startswith(pre):
                cur = cur[len(pre):]
            return self.spark.createDataFrame(
                [(cur,)], "current_database_name string"
            )
        m = re.match(r"^\s*USE\s+(?P<n>\w+)\s*$", stmt, re.IGNORECASE)
        if m and m.group("n").upper() not in ("CATALOG", "MODULES"):
            self.spark.sql(f"USE {self._mangle_db(m.group('n'))}")
            return None
        return NotImplemented

    # -- Row-level DML (reference delete.md / update.md:
    # -- SupportsRowLevelDelete / SupportsRowLevelUpdate — batch-mode
    # -- row-level modification; the filesystem connector implements it
    # -- here by read-filter/patch-rewrite, the same storage rewrite a
    # -- lake-format connector performs for copy-on-write) ----------------

    def _rewrite_table_storage(self, spec, df):
        """Materialize ``df`` as the new contents of a filesystem table
        (write tmp, swap — the copy-on-write commit). Managed DISTRIBUTED
        tables rewrite through bucketBy so the pre-shuffled layout
        survives row-level DML (callers materialize ``df`` first, since
        the overwrite replaces the storage being read)."""
        import os as _os
        import shutil as _shutil

        if self._is_managed_bucketed(spec):
            if "distributed.keys" in spec.options:
                from flink_spark.sources.bucketing import write_bucketed

                dcols = spec.options["distributed.keys"].split(",")
                nbuck = int(spec.options["distributed.buckets"])
                write_bucketed(df, spec.name, dcols, nbuck,
                               mode="overwrite")
            else:
                df.write.mode("overwrite").saveAsTable(spec.name)
            self.spark.catalog.refreshTable(spec.name)
            self._persist_spec(spec)
            return
        path = spec.options["path"]
        fmt = spec.options.get("format", "parquet")
        tmp = path.rstrip("/") + ".rewriting"
        writer = df.write.mode("overwrite").format(fmt)
        pkeys = self._partition_keys(spec)
        if pkeys:
            # preserve the hive partition layout through the rewrite
            writer = writer.partitionBy(*pkeys)
        writer.save(tmp)
        _shutil.rmtree(path, ignore_errors=True)
        _os.rename(tmp, path)
        self._refresh_view(spec)

    #: Pruned rewrite engages only when the condition touches at most this
    #: many partitions — past that, one full rewrite beats many dir swaps.
    _DML_PRUNE_MAX_PARTS = 64

    def _hive_part_component(self, key: str, value) -> str:
        """One ``key=value`` Hive-layout path component, escaped the way
        Spark/Hive escape partition values on write (ExternalCatalogUtils
        escapePathName rules; NULL -> the default-partition marker)."""
        if value is None:
            return f"{key}=__HIVE_DEFAULT_PARTITION__"
        if isinstance(value, bool):
            s = "true" if value else "false"
        else:
            s = str(value)
        out = []
        for ch in s:
            if ch in '"#%\'*/:=?\\\x7f{}[]^' or ord(ch) < 32:
                out.append("%{:02X}".format(ord(ch)))
            else:
                out.append(ch)
        return f"{key}={''.join(out)}"

    def _affected_partitions(self, spec, df, cond: str | None):
        """Distinct partition-key combos the condition can touch, or None
        when pruned rewrite doesn't apply (unpartitioned table, no
        condition, or too many partitions hit). Catalyst partition-prunes
        the underlying scan when ``cond`` constrains partition columns,
        so for the common targeted-DML case this job is metadata-cheap."""
        pkeys = self._partition_keys(spec)
        if not pkeys or cond is None:
            return None
        rows = (
            df.filter(cond).select(*pkeys).distinct()
            .limit(self._DML_PRUNE_MAX_PARTS + 1).collect()
        )
        if len(rows) > self._DML_PRUNE_MAX_PARTS:
            return None
        return [r.asDict() for r in rows]

    def _partition_membership(self, combos):
        from pyspark.sql import functions as F

        pred = F.lit(False)
        for combo in combos:
            clause = F.lit(True)
            for k, v in combo.items():
                clause = clause & (
                    F.col(k).isNull() if v is None else (F.col(k) == F.lit(v))
                )
            pred = pred | clause
        return pred

    def _rewrite_partitions(self, spec, df, combos) -> None:
        """Partition-pruned copy-on-write commit: materialize ``df`` (the
        new contents of ONLY the affected partitions) to a tmp dir, then
        swap just those partition directories — untouched partitions keep
        their files byte-for-byte (reference delete.md/update.md
        SupportsRowLevelDelete/Update + SupportsDeletePushDown: a lake
        connector rewrites only the files the predicate reaches; at 100 TB
        a date-targeted DELETE must not rewrite the other 10k dates)."""
        import os as _os
        import shutil as _shutil

        path = spec.options["path"]
        fmt = spec.options.get("format", "parquet")
        pkeys = self._partition_keys(spec)
        tmp = path.rstrip("/") + ".rewriting"
        _shutil.rmtree(tmp, ignore_errors=True)
        (df.write.mode("overwrite").format(fmt).partitionBy(*pkeys).save(tmp))
        for combo in combos:
            rel = "/".join(
                self._hive_part_component(k, combo[k]) for k in pkeys
            )
            dst = _os.path.join(path, rel)
            src = _os.path.join(tmp, rel)
            if _os.path.isdir(src):
                _shutil.rmtree(dst, ignore_errors=True)
                _os.makedirs(_os.path.dirname(dst), exist_ok=True)
                _os.rename(src, dst)
            else:
                # src missing means either every row of this partition was
                # deleted, or our path rendering disagrees with Spark's
                # (which would make rmtree(dst) destroy an untouched
                # partition). Verify the partition is genuinely empty in the
                # rewritten data before deleting the live directory.
                still_has_rows = (
                    df.filter(self._partition_membership([combo]))
                    .limit(1).count() > 0
                )
                if still_has_rows:
                    _shutil.rmtree(tmp, ignore_errors=True)
                    raise RuntimeError(
                        "partition-pruned rewrite: Spark wrote no directory "
                        f"for partition {rel!r} but the rewritten data still "
                        "contains rows for it — partition-path rendering "
                        "mismatch; aborting before deleting the live "
                        "partition directory"
                    )
                _shutil.rmtree(dst, ignore_errors=True)
        _shutil.rmtree(tmp, ignore_errors=True)
        self._refresh_view(spec)

    def _dml_target(self, name: str, verb: str):
        spec = self.tables[name]
        if spec.connector == "filesystem" and self._is_managed_bucketed(spec):
            # managed DISTRIBUTED table: row-level DML rewrites the
            # bucketed store (reference SupportsRowLevelModificationScan)
            return spec
        if spec.connector != "filesystem":
            raise ValueError(
                f"{verb}: connector {spec.connector!r} does not support "
                f"row-level {verb.lower()} (reference "
                f"SupportsRowLevel{verb.title()})"
            )
        return spec

    def _row_level_delete(self, name: str, cond: str | None):
        spec = self._dml_target(name, "DELETE")
        df = self._source_df(spec)
        combos = self._affected_partitions(spec, df, cond)
        if combos is not None:
            removed = df.filter(cond).count()
            if combos:
                # SQL semantics: DELETE removes only WHERE-is-TRUE rows; a
                # NULL-evaluating predicate keeps the row. `NOT (cond)` would
                # drop NULL rows, so gate on IS NOT TRUE.
                keep_sub = (
                    df.filter(self._partition_membership(combos))
                    .filter(f"({cond}) IS NOT TRUE")
                )
                self._rewrite_partitions(spec, keep_sub, combos)
            return self.spark.createDataFrame(
                [(removed,)], "rows_affected bigint"
            )
        if cond is None:
            keep = empty_frame(self.spark, spec.ddl_schema())
            removed = df.count()
        else:
            keep = df.filter(f"({cond}) IS NOT TRUE")
            keep = keep.localCheckpoint(eager=True)
            removed = df.filter(cond).count()
        self._rewrite_table_storage(spec, keep)
        return self.spark.createDataFrame(
            [(removed,)], "rows_affected bigint"
        )

    def _row_level_update(self, name: str, sets: str, cond: str | None):
        from pyspark.sql import functions as F

        from flink_spark.sqltok import split_top_commas

        spec = self._dml_target(name, "UPDATE")
        df = self._source_df(spec)
        assignments: dict[str, str] = {}
        for item in split_top_commas(sets):
            am = re.match(r"^\s*(\w+)\s*=\s*(.+)$", item, re.DOTALL)
            if not am:
                raise ValueError(
                    f"UPDATE: expected `col = expr`, got {item.strip()!r}"
                )
            col = am.group(1)
            if col not in [c for c, _ in spec.columns]:
                raise ValueError(
                    f"UPDATE: unknown column {col!r} in table {name!r}"
                )
            assignments[col] = am.group(2).strip()
        declared = dict(spec.columns)
        cond_expr = F.expr(cond) if cond is not None else F.lit(True)
        affected = df.filter(cond_expr).count() if cond else df.count()

        def _patch_cols():
            cols = []
            for c, t in spec.columns:
                if c in assignments:
                    cols.append(
                        F.when(cond_expr, F.expr(assignments[c])
                               .cast(_map_type(declared[c])))
                        .otherwise(F.col(c)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            return cols

        # Partition-pruned path: rewrite only the partitions the WHERE
        # clause reaches. An assignment that writes a partition key moves
        # rows across directories, so that case takes the full rewrite.
        combos = (
            None
            if set(assignments) & set(self._partition_keys(spec))
            else self._affected_partitions(spec, df, cond)
        )
        if combos is not None:
            if combos:
                patched_sub = (
                    df.filter(self._partition_membership(combos))
                    .select(*_patch_cols())
                )
                self._rewrite_partitions(spec, patched_sub, combos)
            return self.spark.createDataFrame(
                [(affected,)], "rows_affected bigint"
            )
        patched = df.select(*_patch_cols()).localCheckpoint(eager=True)
        self._rewrite_table_storage(spec, patched)
        return self.spark.createDataFrame(
            [(affected,)], "rows_affected bigint"
        )

    # -- CALL procedures (reference call.md, SqlCallProcedure + the
    # -- Procedure catalog interface) --------------------------------------

    def register_procedure(self, name: str, fn) -> None:
        """Register a callable procedure (the Catalog#getProcedure analog).
        ``fn(env, *args)`` returns a list of row tuples + a schema string,
        or a DataFrame."""
        self._procedures = getattr(self, "_procedures", {})
        self._procedures[name] = fn

    def _builtin_procedures(self) -> dict:
        def compact(env, table, target_files=1):
            """sys.compact(table[, target_files]): rewrite a filesystem
            table's storage into ``target_files`` files — the maintenance
            procedure a lake catalog exposes via CALL (e.g. compaction in
            the reference's catalog-procedure examples)."""
            import os as _os
            import shutil as _shutil

            spec = self.tables.get(table)
            if spec is None or spec.connector != "filesystem":
                raise ValueError(
                    f"sys.compact: {table!r} is not a filesystem table"
                )
            path = spec.options["path"]

            def nfiles():
                return sum(
                    len([f for f in fs if not f.startswith(("_", "."))])
                    for _, _, fs in _os.walk(path)
                )
            before = nfiles()
            fmt = spec.options.get("format", "parquet")
            df = self._source_df(spec)
            tmp = path.rstrip("/") + ".compacting"
            writer = (df.coalesce(int(target_files)).write
                      .mode("overwrite").format(fmt))
            pkeys = self._partition_keys(spec)
            if pkeys:
                # target_files applies PER PARTITION for a partitioned
                # table; the hive layout is preserved
                writer = writer.partitionBy(*pkeys)
            writer.save(tmp)
            _shutil.rmtree(path)
            _os.rename(tmp, path)
            self._refresh_view(spec)
            return [(before, nfiles())], "files_before int, files_after int"

        return {"sys.compact": compact}

    def _rewrite_user_ptfs(self, stmt: str, masked: str) -> str:
        """SQL invocation of registered PROCESS TABLE FUNCTIONS (reference
        ptfs.md `SELECT * FROM MyPtf(TABLE t PARTITION BY k [ORDER BY s],
        ...)` / named `input => TABLE t ...`): rewrite each call into a
        temp view computed by the batch PTF runner."""
        from flink_spark.functions.vectorsearch import (
            _matching_paren,
            _split_args,
        )
        from flink_spark.functions.udf import apply_ptf_batch

        for name, cls in list(self.user_ptfs.items()):
            pat = re.compile(r"\b" + re.escape(name) + r"\s*\(", re.IGNORECASE)
            while True:
                m = pat.search(masked)
                if not m:
                    break
                open_idx = m.end() - 1
                close_idx = _matching_paren(masked, open_idx)
                args = _split_args(stmt[open_idx + 1 : close_idx])
                if not args or not args[0].strip():
                    raise ValueError(
                        f"{name}: a PTF call needs a table argument "
                        "(`TABLE t [PARTITION BY cols [ORDER BY cols]]`)"
                    )
                first = args[0].strip()
                am = re.match(r"(?:input\s*=>\s*)?(.*)$", first,
                              re.IGNORECASE | re.DOTALL)
                im = re.match(
                    r"^TABLE\s+(?P<tbl>[\w.]+)"
                    r"(?:\s+PARTITION\s+BY\s+(?P<pb>\w+(?:\s*,\s*\w+)*))?"
                    r"(?:\s+ORDER\s+BY\s+(?P<ob>\w+(?:\s*,\s*\w+)*))?$",
                    am.group(1).strip(), re.IGNORECASE | re.DOTALL,
                )
                if not im:
                    raise ValueError(
                        f"{name}: first argument must be "
                        f"`TABLE <t> [PARTITION BY ...]`, got {first!r}"
                    )
                if not im.group("pb"):
                    raise ValueError(
                        f"{name}: this engine's PTF execution is keyed — "
                        "PARTITION BY is required (set semantics)"
                    )
                extra = [a for a in args[1:] if a.strip()]
                if extra:
                    raise ValueError(
                        f"{name}: extra scalar PTF arguments are not "
                        f"supported yet: {extra}"
                    )
                df = self.spark.table(im.group("tbl"))
                out = apply_ptf_batch(
                    df, cls(),
                    key_cols=[c.strip() for c in im.group("pb").split(",")],
                    seq_cols=(
                        [c.strip() for c in im.group("ob").split(",")]
                        if im.group("ob") else None
                    ),
                )
                view = f"__ptf_{_det_digest(stmt[m.start():close_idx + 1])}"
                out.createOrReplaceTempView(view)
                stmt = stmt[: m.start()] + view + stmt[close_idx + 1 :]
                from flink_spark.sqltok import mask_literals as _ml

                masked = _ml(stmt)
        return stmt

    def _call_procedure(self, name: str, arg_body: str):
        from flink_spark.functions.vectorsearch import _split_args

        procs = {**self._builtin_procedures(),
                 **getattr(self, "_procedures", {})}
        if name not in procs:
            raise ValueError(
                f"CALL: unknown procedure {name!r}; available: "
                f"{sorted(procs)}"
            )
        args = []
        for part in _split_args(arg_body):
            part = part.strip()
            if not part:
                continue
            if part.startswith("'") and part.endswith("'"):
                args.append(part[1:-1])
            elif re.fullmatch(r"-?\d+", part):
                args.append(int(part))
            elif re.fullmatch(r"-?\d*\.\d+", part):
                args.append(float(part))
            elif part.lower() in ("true", "false"):
                args.append(part.lower() == "true")
            else:
                raise ValueError(
                    f"CALL: unsupported argument literal {part!r}"
                )
        result = procs[name](self, *args)
        if isinstance(result, DataFrame):
            return result
        rows, schema = result
        return self.spark.createDataFrame(rows, schema)

    def execute_sql(self, sql: str):
        stmt = sql.strip().rstrip(";")
        from flink_spark.sqltok import (
            mask_literals,
            split_outside_literals,
            sub_outside_literals,
        )

        # every keyword gate and structural rewrite below runs against the
        # literal-masked view: a marker keyword inside a string literal can
        # no longer route (or mangle) the statement
        masked = mask_literals(stmt)
        up = masked.upper()
        jm = re.match(
            r"^\s*(?:(?P<add>ADD)|(?P<rem>REMOVE))\s+JAR\s+'(?P<path>[^']+)'\s*$"
            r"|^\s*SHOW\s+JARS\s*$",
            stmt, re.IGNORECASE,
        )
        if jm:
            # JAR statements (reference jar.md / SqlAddJar, SqlShowJars,
            # SqlRemoveJar): a session-scoped jar registry. ADD JAR also
            # loads the jar into the running session (Spark ADD JAR);
            # REMOVE JAR unregisters it for subsequent SHOW JARS — like
            # the reference, classes already loaded by the running JVM
            # stay loaded until restart.
            if jm.group("add"):
                import os as _os

                path = jm.group("path")
                if "://" not in path and not _os.path.exists(path):
                    raise ValueError(f"ADD JAR: file not found: {path}")
                self.spark.sql(f"ADD JAR '{path}'")
                self._jars = getattr(self, "_jars", [])
                if path not in self._jars:
                    self._jars.append(path)
                return None
            if jm.group("rem"):
                path = jm.group("path")
                jars = getattr(self, "_jars", [])
                if path not in jars:
                    raise ValueError(
                        f"REMOVE JAR: jar {path!r} was not added via ADD JAR"
                    )
                jars.remove(path)
                return None
            return self.spark.createDataFrame(
                [(j,) for j in getattr(self, "_jars", [])], "jars string"
            )
        cm = re.match(
            r"^\s*CALL\s+(?P<name>[\w.]+)\s*\((?P<args>.*)\)\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if cm:
            return self._call_procedure(cm.group("name"), cm.group("args"))
        if re.match(r"^\s*SHOW\s+PROCEDURES\s*$", stmt, re.IGNORECASE):
            # SHOW PROCEDURES (reference show.md / SqlShowProcedures)
            names = sorted(
                set(self._builtin_procedures())
                | set(getattr(self, "_procedures", {}))
            )
            return self.spark.createDataFrame(
                [(n,) for n in names], "procedure_name string"
            )
        if re.match(r"^\s*SHOW\s+TABLES\s*$", stmt, re.IGNORECASE):
            # SHOW TABLES must list every CATALOG table (reference
            # SqlShowTables) — including engine filesystem tables that
            # are still sink-only (no data written yet, so no temp view
            # exists for Spark's own listing to find)
            base = self.spark.sql("SHOW TABLES")
            listed = {r.tableName for r in base.collect()}
            missing = [
                ("", n, True) for n in sorted(self.tables) if n not in listed
            ]
            if missing:
                base = base.unionByName(
                    self.spark.createDataFrame(missing, base.schema)
                )
            return base
        shm = re.match(
            r"^\s*(?P<base>SHOW\s+[A-Z]+(?:\s+(?!NOT\b|LIKE\b|ILIKE\b)"
            r"[A-Z]+)?(?:\s+(?:FROM|IN)\s+[\w.]+)?)\s+"
            r"(?P<neg>NOT\s+)?(?P<op>LIKE|ILIKE)\s+'(?P<pat>[^']*)'\s*$",
            stmt, re.IGNORECASE,
        )
        if shm:
            # SHOW <objects> [[NOT] (LIKE | ILIKE) '<sql_like_pattern>']
            # (reference show.md — uniform across CATALOGS/DATABASES/
            # TABLES/VIEWS/FUNCTIONS/COLUMNS): run the base listing, then
            # filter its name column with SQL LIKE semantics (% and _
            # wildcards; ILIKE case-insensitive; NOT negates).
            base = self.execute_sql(shm.group("base"))
            from pyspark.sql.types import StringType

            str_cols = [
                f.name for f in base.schema.fields
                if isinstance(f.dataType, StringType)
            ]
            # the NAME column: prefer a '*name*' column (tableName,
            # col_name, function_name, ...), else the last string column
            # (Spark's SHOW TABLES leads with namespace)
            name_col = next(
                (c for c in str_cols if c.lower().endswith("name")),
                str_cols[-1],
            )
            from pyspark.sql import functions as F

            col = F.col(name_col)
            pred = (
                col.ilike(shm.group("pat"))
                if shm.group("op").upper() == "ILIKE"
                else col.like(shm.group("pat"))
            )
            if shm.group("neg"):
                pred = ~pred
            return base.filter(pred)
        pm = re.match(
            r"^\s*COMPILE(?P<andexec>\s+AND\s+EXECUTE)?\s+PLAN\s+"
            r"'(?P<path>[^']+)'\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
            r"FOR\s+(?P<body>.+)$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if pm:
            # COMPILE [AND EXECUTE] PLAN (reference SqlCompilePlan /
            # SqlCompileAndExecutePlan): persist the replayable contract,
            # optionally execute it immediately through the same replay
            # path EXECUTE PLAN uses
            import os as _os

            path = pm.group("path")
            if not (pm.group("ine") and _os.path.exists(path)):
                self.compile_plan_sql(pm.group("body"), path)
            if pm.group("andexec"):
                return self.execute_plan(path)
            return None
        em2 = re.match(
            r"^\s*EXECUTE\s+PLAN\s+'(?P<path>[^']+)'\s*$",
            stmt, re.IGNORECASE,
        )
        if em2:
            return self.execute_plan(em2.group("path"))
        dm_del = re.match(
            r"^\s*DELETE\s+FROM\s+(?P<name>[\w.]+)"
            r"(?:\s+WHERE\s+(?P<cond>.+))?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if dm_del and dm_del.group("name") in self.tables:
            return self._row_level_delete(
                dm_del.group("name"), dm_del.group("cond")
            )
        dm_upd = re.match(
            r"^\s*UPDATE\s+(?P<name>[\w.]+)\s+SET\s+(?P<sets>.+?)"
            r"(?:\s+WHERE\s+(?P<cond>.+))?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if dm_upd and dm_upd.group("name") in self.tables:
            return self._row_level_update(
                dm_upd.group("name"), dm_upd.group("sets"),
                dm_upd.group("cond"),
            )
        _nis_head = masked.lstrip("( \t\n\r")
        if re.match(r"(?:SELECT|VALUES|TABLE)\b", _nis_head,
                    re.IGNORECASE):
            _nis_is_query = True
        elif re.match(r"WITH\b", _nis_head, re.IGNORECASE):
            _nis_is_query = (
                (_with_body_verb(_nis_head) or "").upper()
                not in ("", "INSERT", "DELETE", "UPDATE", "MERGE")
            )
        else:
            _nis_is_query = False
        if (
            not _nis_is_query
            and re.match(r"INSERT\b", _nis_head, re.IGNORECASE)
            and (re.search(r"\bIN\s*\(", up) or _QCMP_RE.search(masked))
        ):
            # INSERT bodies are pure queries: apply the same dialect
            # rewrites by probing the BODY alone (spark.sql is lazy for
            # queries), so `INSERT INTO t SELECT ... WHERE x > ALL
            # (<subquery>)` works like the reference instead of dying on
            # Spark's parser, and a deviant-position [NOT] IN in the
            # body gets standard three-valued semantics. The whole-
            # statement probe stays forbidden (it would EXECUTE the
            # INSERT); a WITH-headed body whose verb is DML is skipped
            # for the same reason.
            bm = re.match(
                r"^(\s*INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
                r"[\w.`]+\s*(?:\([^)]*\)\s*)?"
                r"(?:PARTITION\s*\([^)]*\)\s*)?)"
                r"((?:SELECT|WITH|VALUES|TABLE)\b.*)$",
                masked, re.IGNORECASE | re.DOTALL,
            )
            if bm is not None:
                cut = bm.end(1)
                body = stmt[cut:]
                body_ok = True
                if re.match(r"\s*WITH\b", bm.group(2), re.IGNORECASE):
                    verb = _with_body_verb(bm.group(2).lstrip())
                    body_ok = (verb or "").upper() not in (
                        "", "INSERT", "DELETE", "UPDATE", "MERGE"
                    )
                if body_ok:
                    # quantified FIRST: its syntax is unparseable
                    # upstream, so a NOT IN probe on text still
                    # containing ANY/ALL would always fail and silently
                    # drop the [NOT] IN fix
                    for rwfn in (_rewrite_quantified_cmp,
                                 _rewrite_nonconjunctive_not_in):
                        cand = rwfn(body)
                        if cand != body:
                            try:
                                self.spark.sql(cand)  # lazy: query body
                                body = cand
                            except Exception:
                                pass
                    if stmt[cut:] != body:
                        stmt = stmt[:cut] + body
                        masked = mask_literals(stmt)
                        up = masked.upper()
        if _nis_is_query and _QCMP_RE.search(masked):
            # quantified subquery comparisons (ANY/SOME/ALL) — standard
            # SQL the reference plans natively and Spark cannot parse;
            # rewritten to EXISTS composites. Same pure-query-head +
            # analysis-probe discipline as the NOT IN rewrite (a failed
            # probe falls back to the original text, surfacing Spark's
            # own parse error for shapes the rewrite cannot cover).
            # MUST run before the [NOT] IN rewrite: quantified syntax is
            # unparseable upstream, so a NOT IN probe on text still
            # containing ANY/ALL would always fail and silently drop
            # that fix (caught by the boolean-tree fuzz surface, r11).
            # Correlated Q works through the same composite (r12,
            # measured — see _rewrite_quantified_cmp). When a rewrite
            # was attempted and does not analyze, the statement has no
            # upstream meaning (Spark cannot parse ANY/SOME/ALL
            # subquery comparisons at all), so raise a clean
            # unsupported-shape error instead of falling through to
            # Spark's opaque parse error.
            cand = _rewrite_quantified_cmp(stmt)
            if cand != stmt:
                try:
                    self.spark.sql(cand)  # analysis probe, no execution
                except Exception as exc:
                    raise ValueError(
                        "quantified comparison (ANY/SOME/ALL "
                        "<subquery>) could not be planned for this "
                        "shape. Supported: identifier probes against "
                        "a subquery, including correlated subqueries "
                        "(aggregates, DISTINCT, ORDER/LIMIT, window "
                        "functions); NOT supported: outer references "
                        "more than one subquery level away from the "
                        "quantified predicate. Underlying analysis "
                        f"error: {exc}"
                    ) from exc
                stmt = cand
                masked = mask_literals(stmt)
                up = masked.upper()
        if _nis_is_query and re.search(r"\bIN\s*\(", up):
            # deviant-position [NOT] IN <subquery> (value position for
            # both operators; effectively-negated NNF-disjunctive
            # predicates): restore standard three-valued logic upstream
            # Spark loses there (see _rewrite_nonconjunctive_not_in;
            # conjunctive spellings pass through byte-identical).
            # PURE-QUERY heads only, so the analysis probe below stays
            # side-effect-free — spark.sql on a query is lazy, on a
            # command it would execute. A WITH head counts only when its
            # prologue parses AND the body verb is not DML: Spark's
            # grammar allows ctes before dmlStatementNoWith, and probing
            # a WITH-prefixed INSERT would EXECUTE it (then the normal
            # path would run it a second time).
            cand = _rewrite_nonconjunctive_not_in(stmt)
            if cand != stmt:
                try:
                    self.spark.sql(cand)  # analysis probe, no execution
                    stmt = cand
                    masked = mask_literals(stmt)
                    up = masked.upper()
                except Exception:
                    # e.g. a correlated subquery, which the derived-table
                    # wrapping nests one correlation level too deep —
                    # keep the original (upstream semantics) over failing
                    pass
        if re.search(r"\bOVERLAPS\b", up):
            # (tp1, t1) OVERLAPS (tp2, t2) (reference sql_functions.yml
            # temporal family; TemporalOverlapsConverter.java — Calcite's
            # standard convertlet): endpoints normalized so s<=e, interval
            # second members added to the time point, then
            # (e0 >= s1) AND (e1 >= s0), both bounds INCLUSIVE.
            stmt = self._rewrite_overlaps(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if "GROUP_ID" in up:
            # GROUP_ID() (reference DecomposeGroupingSetsRule.java:369):
            # 0 for distinct grouping sets; duplicate sets decompose into
            # UNION ALL rounds (see _rewrite_group_id)
            stmt = self._rewrite_group_id(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if re.search(
            r"\bAS\s+(?:CHAR|VARCHAR|TIMESTAMP(?:_LTZ)?)\s*\(\s*\d+\s*\)",
            up,
        ):
            # parameterized CHAR/VARCHAR/TIMESTAMP targets inside CAST
            # (reference CharVarCharTrimPadCastRule /
            # TimestampToTimestampCastRule): pad/trim + precision-truncate
            # semantics Spark's bare cast lacks
            stmt = self._rewrite_precision_casts(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if "RAND_INTEGER" in up:
            # RAND_INTEGER(seed, bound) (reference sql_functions.yml):
            # the seeded form cannot be a SQL function (Spark needs a
            # foldable seed), so expand it textually onto RAND(seed);
            # the 1-arg form resolves to the registered SQL function
            # (functions/builtins_ext.py). Balanced-paren arg split so
            # nested calls in either argument survive (ADVICE r7: the old
            # paren-free regex silently fell through on
            # RAND_INTEGER(1, ABS(n)) into a wrong-arity error).
            stmt = self._rewrite_rand_integer(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if "/*+" in stmt:
            # Join hints (reference hints.md "Join Hints"): BROADCAST /
            # SHUFFLE_HASH / SHUFFLE_MERGE are Spark-native spellings and
            # pass straight through to Catalyst; NEST_LOOP maps onto
            # Spark's SHUFFLE_REPLICATE_NL. LOOKUP hints get their option
            # schema validated (reference LookupJoinHintOptions) — the
            # strategies themselves live in operators/joins.py.
            stmt = self._rewrite_join_hints(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if (
            ("FROM_CHANGELOG" in up or "TO_CHANGELOG" in up)
            and not up.lstrip().startswith("EXPLAIN")
        ):
            # FROM_CHANGELOG / TO_CHANGELOG PTFs (reference changelog.md):
            # rewrite each call into a computed temp view
            from flink_spark.streaming.changelog_ptf import (
                rewrite_changelog_ptfs,
            )

            stmt = rewrite_changelog_ptfs(self.spark, stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if "VECTOR_SEARCH" in up and not up.lstrip().startswith("EXPLAIN"):
            # VECTOR_SEARCH TVF (reference
            # StreamExecVectorSearchTableFunction.java): replace each call
            # with a computed temp view, then route the rewritten text
            from flink_spark.functions.vectorsearch import (
                rewrite_vector_search,
            )

            stmt = rewrite_vector_search(self.spark, stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        em = re.match(
            r"^\s*EXPLAIN\s+\(?\s*(?P<details>(?:ESTIMATED_COST|"
            r"CHANGELOG_MODE|PLAN_ADVICE|JSON_EXECUTION_PLAN)"
            r"(?:\s*,\s*(?:ESTIMATED_COST|CHANGELOG_MODE|PLAN_ADVICE|"
            r"JSON_EXECUTION_PLAN))+)\s*\)?\s+(?P<q>.+)$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if em:
            # EXPLAIN with MULTIPLE details (reference SqlRichExplain
            # grammar `EXPLAIN [ExplainDetail[, ExplainDetail]*] <stmt>`):
            # one combined text result with a section per detail, like the
            # reference's single explain string
            details = [
                d.strip().upper() for d in em.group("details").split(",")
            ]
            df = self.spark.sql(em.group("q"))
            sections = []
            if "ESTIMATED_COST" in details:
                sections.append(
                    "== Optimized Physical Plan With Estimated Cost ==\n"
                    + df._jdf.queryExecution().stringWithStats()
                )
            else:
                sections.append(
                    "== Physical Plan ==\n"
                    + df._jdf.queryExecution().executedPlan().toString()
                )
            if "CHANGELOG_MODE" in details:
                from flink_spark.changelog_mode import (
                    explain as _cm_explain,
                    ir_from_analyzed,
                )

                pk_tables = {
                    n: list(s.primary_key)
                    for n, s in self.tables.items()
                    if s.primary_key
                }
                sections.append(
                    "== Changelog Mode ==\n" + _cm_explain(ir_from_analyzed(
                        df._jdf.queryExecution().analyzed().toString(),
                        pk_tables,
                    ))
                )
            if "PLAN_ADVICE" in details:
                from flink_spark.plan_advice import plan_advice

                adv = plan_advice(df)
                body = "\n".join(
                    f"advice[{i + 1}]: [{a.severity.upper()}] {a.rule}: "
                    f"{a.hint}" for i, a in enumerate(adv)
                ) or "No available advice."
                sections.append("== Optimization Advice ==\n" + body)
            if "JSON_EXECUTION_PLAN" in details:
                from flink_spark.plan_advice import json_execution_plan

                sections.append(
                    "== Physical Execution Plan ==\n"
                    + json_execution_plan(df)
                )
            return self.spark.createDataFrame(
                [("\n\n".join(sections),)], "result string"
            )
        if "ESTIMATED_COST" in up:
            # EXPLAIN ESTIMATED_COST (reference ExplainDetail
            # ESTIMATED_COST): Catalyst's per-node statistics — real
            # numbers from the optimizer, not annotations
            em = re.match(
                r"^\s*EXPLAIN\s+ESTIMATED_COST\s+(?P<q>.+)$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if em:
                df = self.spark.sql(em.group("q"))
                txt = df._jdf.queryExecution().stringWithStats()
                return self.spark.createDataFrame(
                    [(txt,)], "plan_with_stats string"
                )
        if "CHANGELOG_MODE" in up:
            # EXPLAIN CHANGELOG_MODE <query> (reference ExplainDetail.java:36
            # + FlinkChangelogModeInferenceProgram.scala): per-node inferred
            # changelog modes. PK'd engine tables are upsert sources (and
            # get ChangelogNormalize injected, like upsert-kafka scans).
            em = re.match(
                r"^\s*EXPLAIN\s+CHANGELOG_MODE\s+(?P<q>.+)$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if em:
                from flink_spark.changelog_mode import (
                    explain as _cm_explain,
                    ir_from_analyzed,
                )

                df = self.spark.sql(em.group("q"))
                plan_text = df._jdf.queryExecution().analyzed().toString()
                pk_tables = {
                    n: list(s.primary_key)
                    for n, s in self.tables.items()
                    if s.primary_key
                }
                txt = _cm_explain(ir_from_analyzed(plan_text, pk_tables))
                return self.spark.createDataFrame(
                    [(txt,)], "changelog_plan string"
                )
        if "JSON_EXECUTION_PLAN" in up:
            # EXPLAIN JSON_EXECUTION_PLAN <query> (reference
            # ExplainDetail.java:39): the Flink-shaped JSON node graph
            # (id/type/pact/contents/parallelism/predecessors with
            # ship_strategy) serialized from Spark's physical plan.
            em = re.match(
                r"^\s*EXPLAIN\s+JSON_EXECUTION_PLAN\s+(?P<q>.+)$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if em:
                from flink_spark.plan_advice import json_execution_plan

                df = self.spark.sql(em.group("q"))
                return self.spark.createDataFrame(
                    [(json_execution_plan(df),)], "json_execution_plan string"
                )
        if "PLAN_ADVICE" in up:
            # EXPLAIN PLAN_ADVICE <query> (reference ExplainDetail
            # PLAN_ADVICE): structured advice rows; empty result = the
            # plan already has the shape we'd want at scale
            em = re.match(
                r"^\s*EXPLAIN\s+PLAN_ADVICE\s+(?P<q>.+)$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if em:
                from flink_spark.plan_advice import advice_df

                return advice_df(self.spark.sql(em.group("q")))
        if "STATEMENT" in up:
            # SQL statement set (reference SqlExecute + SqlStatementSet:
            # EXECUTE STATEMENT SET BEGIN <insert>; ...; END) — routed to
            # the Table API StatementSet (shared-scan caching included)
            ss = re.match(
                r"^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(?P<body>.*?)\s*"
                r"END\s*$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if ss:
                sset = self.create_statement_set()
                for ins in split_outside_literals(ss.group("body")):
                    if ins.strip():
                        sset.add_insert_sql(ins.strip())
                return sset.execute()
        if "FUNCTION" in up:
            r = self._function_statement(stmt)
            if r is not NotImplemented:
                return r
        if getattr(self, "user_ptfs", None):
            rewritten = self._rewrite_user_ptfs(stmt, masked)
            if rewritten != stmt:
                stmt = rewritten
                masked = mask_literals(stmt)
                up = masked.upper()
        if re.match(
            r"^\s*(ALTER\s+TABLE|SHOW\s+PARTITIONS)\b", stmt, re.IGNORECASE
        ):
            r = self._alter_table_statement(stmt)
            if r is not NotImplemented:
                return r
        dt = re.match(
            r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+"
            r"(?P<ife>IF\s+EXISTS\s+)?(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if dt:
            # DROP TABLE on an engine-managed connector table (reference
            # SqlDropTable): remove the spec + view; the filesystem
            # connector is EXTERNAL, so data files are kept (Flink drops
            # catalog metadata, not external storage)
            name = dt.group("name")
            if name in self.tables:
                spec0 = self.tables.pop(name)
                self._unpersist_spec(name)
                self.spark.catalog.dropTempView(name)
                if ("distributed.keys" in spec0.options
                        or spec0.options.get("managed") == "true"):
                    # managed storage is owned by the table
                    self.spark.sql(f"DROP TABLE IF EXISTS {name}")
                return None
            if dt.group("ife"):
                try:
                    return self.spark.sql(stmt)
                except Exception:  # noqa: BLE001 — IF EXISTS: absent is fine
                    return None
            # not ours — let Spark resolve (and error) on its own catalog
        if "CATALOG" in up or re.match(
            r"^\s*(USE|SHOW\s+(CURRENT\s+)?DATABASES?|CREATE\s+DATABASE|"
            r"DROP\s+DATABASE|ALTER\s+DATABASE)\b", stmt, re.IGNORECASE,
        ):
            r = self._catalog_statement(stmt)
            if r is not NotImplemented:
                return r
        if "MODULE" in up:
            m = re.match(r"^\s*LOAD\s+MODULE\s+(?P<n>\w+)", stmt, re.IGNORECASE)
            if m:
                if any(n == m.group("n") for n, _ in self.modules):
                    raise ValueError(f"module {m.group('n')!r} already loaded")
                self.modules.append((m.group("n"), True))
                return None
            m = re.match(r"^\s*UNLOAD\s+MODULE\s+(?P<n>\w+)", stmt, re.IGNORECASE)
            if m:
                if not any(n == m.group("n") for n, _ in self.modules):
                    raise ValueError(f"module {m.group('n')!r} is not loaded")
                self.modules = [
                    (n, u) for n, u in self.modules if n != m.group("n")
                ]
                return None
            m = re.match(r"^\s*USE\s+MODULES\s+(?P<ns>.+)$", stmt, re.IGNORECASE)
            if m:
                use = [n.strip() for n in m.group("ns").split(",")]
                loaded = {n for n, _ in self.modules}
                missing = [n for n in use if n not in loaded]
                if missing:
                    raise ValueError(f"modules not loaded: {missing}")
                # used modules in the given order, then disabled ones
                self.modules = [(n, True) for n in use] + [
                    (n, False) for n, _ in self.modules if n not in use
                ]
                return None
            m = re.match(
                r"^\s*SHOW\s+(?P<full>FULL\s+)?MODULES\s*$", stmt, re.IGNORECASE
            )
            if m:
                if m.group("full"):
                    return self.spark.createDataFrame(
                        self.modules, "module_name string, used boolean"
                    )
                return self.spark.createDataFrame(
                    [(n,) for n, u in self.modules if u], "module_name string"
                )
        if "CONNECTION" in up:
            r = self.connection_manager.handle(stmt)
            if r is not NotImplemented:
                return r
        if "MODEL" in up:
            from flink_spark.models import (
                MODEL_ALTER_RE,
                MODEL_ALTER_RENAME_RE,
                MODEL_ALTER_RESET_RE,
                MODEL_CREATE_AS_RE,
                MODEL_CREATE_RE,
                MODEL_DROP_RE,
                SHOW_MODELS_RE,
            )

            mas = MODEL_CREATE_AS_RE.match(stmt)
            if mas:
                return self.model_manager.create_as(mas, env=self)
            for rx, h in (
                (MODEL_CREATE_RE, "create"),
                (MODEL_ALTER_RENAME_RE, "alter_rename"),
                (MODEL_ALTER_RESET_RE, "alter_reset"),
                (MODEL_ALTER_RE, "alter"),
                (MODEL_DROP_RE, "drop"),
            ):
                mm = rx.match(stmt)
                if mm:
                    return getattr(self.model_manager, h)(mm)
            if SHOW_MODELS_RE.match(stmt):
                return self.model_manager.show()
            scm = re.match(
                r"^\s*SHOW\s+CREATE\s+MODEL\s+(?P<name>[\w.]+)\s*$",
                stmt, re.IGNORECASE,
            )
            if scm:
                # SHOW CREATE MODEL (reference SqlShowCreateModel.java →
                # ShowCreateUtil.buildShowCreateModelRow): CREATE MODEL
                # name, INPUT/OUTPUT schema lines, WITH options — secret
                # option values masked like connections
                from flink_spark.connections import (
                    MASKED_VALUE,
                    SENSITIVE_FIELD_NAMES,
                )

                name = scm.group("name")
                spec = self.model_manager.models.get(name)
                if spec is None:
                    raise ValueError(
                        f"Model with the identifier '{name}' doesn't exist."
                    )
                lines = [f"CREATE MODEL {name}"]
                if spec.input_schema:
                    lines.append(f"INPUT ({spec.input_schema})")
                if spec.output_schema:
                    lines.append(f"OUTPUT ({spec.output_schema})")
                if spec.options:
                    body = ",\n".join(
                        f"  '{k}' = "
                        f"'{MASKED_VALUE if k in SENSITIVE_FIELD_NAMES else v}'"
                        for k, v in sorted(spec.options.items())
                    )
                    lines.append("WITH (\n" + body + "\n)")
                return self.spark.createDataFrame(
                    [("\n".join(lines),)], "ddl string"
                )
            dmm = re.match(
                r"^\s*(?:DESCRIBE|DESC)\s+MODEL\s+(?:(?P<ext>EXTENDED)\s+)?"
                r"(?P<name>[\w.]+)\s*$",
                stmt, re.IGNORECASE,
            )
            if dmm:
                # DESCRIBE MODEL [EXTENDED] (reference
                # DescribeModelOperation.java: input then output schema
                # columns as (name, type, null, is input) rows)
                from flink_spark.sqltok import split_top_commas

                name = dmm.group("name")
                spec = self.model_manager.models.get(name)
                if spec is None:
                    raise ValueError(
                        f"Model with the identifier '{name}' doesn't exist."
                    )
                rows = []
                for schema, is_input in (
                    (spec.input_schema, True),
                    (spec.output_schema, False),
                ):
                    for colspec in split_top_commas(schema or ""):
                        toks = colspec.split(None, 1)
                        if len(toks) == 2:
                            rows.append(
                                (toks[0], toks[1].upper(), True, is_input)
                            )
                out = self.spark.createDataFrame(
                    rows,
                    "name string, type string, `null` boolean, "
                    "`is input` boolean",
                )
                if dmm.group("ext"):
                    opts = self.spark.createDataFrame(
                        [(f"option:{k}", str(v), True, False)
                         for k, v in sorted(spec.options.items())],
                        out.schema,
                    )
                    out = out.unionByName(opts)
                return out
        if "ML_PREDICT" in up:
            from flink_spark.models import ML_PREDICT_RE

            if ML_PREDICT_RE.search(masked):
                stmt = self.model_manager.rewrite_ml_predict(stmt)
                masked = mask_literals(stmt)
        if "ML_EVALUATE" in up:
            # reference SqlMLEvaluateTableFunction.java (parser-only
            # there; executable here — see models.rewrite_ml_evaluate)
            from flink_spark.models import ML_EVALUATE_RE

            if ML_EVALUATE_RE.search(masked):
                stmt = self.model_manager.rewrite_ml_evaluate(stmt)
                masked = mask_literals(stmt)
        if "OBJECT_" in up:
            # structured-type constructors (FLIP-520; reference
            # BuiltInFunctionDefinitions OBJECT_OF / OBJECT_UPDATE) —
            # rewritten onto named_struct (flink_spark/functions/objects.py)
            from flink_spark.functions.objects import (
                _OBJ_FN_RE,
                rewrite_object_functions,
            )

            if _OBJ_FN_RE.search(masked):
                stmt = rewrite_object_functions(stmt)
                masked = mask_literals(stmt)
                up = masked.upper()
        if "MATERIALIZED" in up:
            from flink_spark.materialized import (
                MT_ALTER_RE,
                MT_CREATE_RE,
                MT_DROP_RE,
            )

            scmt = re.match(
                r"^\s*SHOW\s+CREATE\s+MATERIALIZED\s+TABLE\s+"
                r"(?P<name>[\w.]+)\s*$",
                stmt, re.IGNORECASE,
            )
            if scmt:
                # SHOW CREATE MATERIALIZED TABLE (reference
                # SqlShowCreateMaterializedTable.java → ShowCreateUtil.
                # buildShowCreateMaterializedTableRow): PARTITIONED BY,
                # FRESHNESS, REFRESH_MODE, AS query — re-executing the
                # emitted DDL reproduces an equivalent table
                name = scmt.group("name")
                mt = self.materialized.tables.get(name)
                if mt is None:
                    raise ValueError(
                        f"materialized table {name!r} does not exist"
                    )
                lines = [f"CREATE MATERIALIZED TABLE {name}"]
                if (mt.schema_cols is not None or mt.watermark
                        or mt.primary_key):
                    # declared schema block (reference ShowCreateUtil
                    # renders the full resolved schema; ours re-executes
                    # through the CREATE-merge path)
                    vtypes = {
                        f.name: f.dataType.simpleString().upper()
                        for f in self.spark.table(name).schema.fields
                    }
                    parts = []
                    for c in (mt.schema_cols or []):
                        if c["kind"] == "computed":
                            p = f"{c['name']} AS {c['expr']}"
                        else:
                            typ = (c.get("type")
                                   or vtypes.get(c["name"], "STRING"))
                            p = f"{c['name']} {typ}"
                            if c.get("notnull"):
                                p += " NOT NULL"
                            if c["kind"] == "metadata":
                                p += " METADATA"
                                if c.get("mdkey"):
                                    p += f" FROM '{c['mdkey']}'"
                                if c.get("virtual"):
                                    p += " VIRTUAL"
                        if c.get("comment"):
                            p += f" COMMENT '{c['comment']}'"
                        parts.append(p)
                    if mt.watermark:
                        parts.append(
                            f"WATERMARK FOR {mt.watermark[0]} "
                            f"AS {mt.watermark[1]}"
                        )
                    if mt.primary_key:
                        cname, pcols = mt.primary_key
                        pk = (f"CONSTRAINT {cname} " if cname else "")
                        parts.append(
                            pk + f"PRIMARY KEY ({', '.join(pcols)}) "
                            "NOT ENFORCED"
                        )
                    lines.append("(" + ", ".join(parts) + ")")
                if mt.partition_keys:
                    lines.append(
                        f"PARTITIONED BY ({', '.join(mt.partition_keys)})"
                    )
                if mt.dist_keys and mt.dist_buckets:
                    lines.append(
                        f"DISTRIBUTED BY ({', '.join(mt.dist_keys)}) "
                        f"INTO {mt.dist_buckets} BUCKETS"
                    )
                if mt.options:
                    lines.append(
                        "WITH ("
                        + ", ".join(f"'{k}' = '{v}'"
                                    for k, v in sorted(mt.options.items()))
                        + ")"
                    )
                fsec = mt.freshness_sec
                fstr = (str(int(fsec)) if float(fsec).is_integer()
                        else str(fsec))
                lines.append(f"FRESHNESS = INTERVAL '{fstr}' SECOND")
                lines.append(f"REFRESH_MODE = {mt.refresh_mode.upper()}")
                lines.append(f"AS {mt.as_query}")
                return self.spark.createDataFrame(
                    [("\n".join(lines),)], "ddl string"
                )
            from flink_spark.materialized import extract_schema_block

            base_stmt, mt_schema = extract_schema_block(stmt)
            cm = MT_CREATE_RE.match(base_stmt)
            if cm:
                name = cm.group("name")
                if name in self.tables:
                    # converting a REGULAR table (reference
                    # materialized-table/statements.md "Converting a
                    # Table to a Materialized Table"): one-way, only via
                    # CREATE OR ALTER, and only when the conversion
                    # option was set at session initialization
                    if not cm.group("oralter"):
                        raise ValueError(
                            f"Object '{name}' already exists as a table; "
                            "use CREATE OR ALTER MATERIALIZED TABLE to "
                            "convert it"
                        )
                    if not self._mt_conversion_enabled:
                        raise ValueError(
                            f"Cannot convert table {name!r} to a "
                            "materialized table: set 'table."
                            "materialized-table.conversion-from-table."
                            "enabled' = 'true' in the session's INITIAL "
                            "configuration (the option is read at "
                            "session initialization; a later SET has no "
                            "effect)"
                        )
                    # the object keeps its identity; its kind becomes
                    # materialized table and the definition comes solely
                    # from this statement — but the registry entry is
                    # removed (and its persisted spec unpersisted) only
                    # AFTER create succeeds; a failing conversion leaves
                    # the regular table intact, re-registering its view
                    # in case create's refresh had already repointed it
                    spec0 = self.tables[name]
                    try:
                        out = self.materialized.create(
                            cm, schema_text=mt_schema
                        )
                    except BaseException:
                        # one source of truth for re-exposing a regular
                        # table (handles managed-bucketed + sink-only)
                        self._refresh_view(spec0)
                        raise
                    del self.tables[name]
                    self._unpersist_spec(name)
                    return out
                return self.materialized.create(cm, schema_text=mt_schema)
            am = MT_ALTER_RE.match(stmt)
            if am:
                return self.materialized.alter(am)
            from flink_spark.materialized import (
                MT_ALTER_DROP_SCHEMA_RE,
                MT_ALTER_EXT_RE,
                MT_ALTER_SCHEMA_RE,
            )

            amx = MT_ALTER_EXT_RE.match(stmt)
            if amx:
                return self.materialized.alter_extended(amx)
            ams = MT_ALTER_SCHEMA_RE.match(stmt)
            if ams:
                return self.materialized.alter_schema(ams)
            amd = MT_ALTER_DROP_SCHEMA_RE.match(stmt)
            if amd:
                return self.materialized.alter_drop_schema(amd)
            dm = MT_DROP_RE.match(stmt)
            if dm:
                return self.materialized.drop(dm)
        if self._LEGACY_GW_RE.search(masked):
            # legacy group-window SQL (reference
            # StreamExecGroupWindowAggregate.java:113 — the pre-TVF
            # `GROUP BY TUMBLE/HOP/SESSION(ts, INTERVAL ...)` spelling with
            # TUMBLE_START/_END accessors). Rewritten onto Spark's native
            # window()/session_window() grouping, which is exactly what the
            # TVF path lowers to — old Flink SQL corpora run unchanged.
            stmt = self._rewrite_legacy_group_windows(stmt)
            masked = mask_literals(stmt)
            up = masked.upper()
        if self._TVF_RE.search(masked):
            stmt = self._rewrite_window_tvfs(stmt)
            masked = mask_literals(stmt)
        if "SESSION" in up:
            from flink_spark.sqltok import search_outside_literals

            sm = search_outside_literals(self._SESSION_TVF_RE, stmt)
            if sm:
                return self._rewrite_session_tvf(sm)
        if "JSON_TABLE" in up:
            # SQL:2016 JSON_TABLE (reference JSON shredding table fn):
            # rewrite each FROM-item into a shredded temp view
            from flink_spark.functions.jsontable import (
                JSON_TABLE_RE,
                rewrite_json_table,
            )

            if JSON_TABLE_RE.search(masked):
                stmt = sub_outside_literals(
                    JSON_TABLE_RE,
                    lambda m: rewrite_json_table(self.spark, m),
                    stmt,
                )
                masked = mask_literals(stmt)
        # time-travel read over a materialized table's snapshot store
        # (reference SqlSnapshot time travel: FOR SYSTEM_TIME AS OF a
        # LITERAL timestamp / FOR SYSTEM_VERSION AS OF n — distinct from
        # the correlated-column temporal JOIN handled below)
        tt = re.match(
            r"^\s*SELECT\s+\*\s+FROM\s+(?P<name>[\w.]+)\s+FOR\s+SYSTEM_"
            r"(?:(?:TIME\s+AS\s+OF\s+TIMESTAMP\s*'(?P<ts>[^']+)')|"
            r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)))\s*$",
            stmt, re.IGNORECASE,
        )
        if tt and self._materialized is not None \
                and tt.group("name") in self.materialized.tables:
            if tt.group("v") is not None:
                return self.materialized.read_version(
                    tt.group("name"), version=int(tt.group("v"))
                )
            import datetime as _dt

            # tz-stable literal interpretation: a naive literal is read in
            # the SESSION timezone (spark.sql.session.timeZone — Spark's own
            # rule for TIMESTAMP literals), not the ambiguous process-local
            # zone; literals with an explicit offset are respected as-is.
            parsed = _dt.datetime.fromisoformat(tt.group("ts"))
            if parsed.tzinfo is None:
                try:
                    from zoneinfo import ZoneInfo

                    sess_tz = self.spark.conf.get("spark.sql.session.timeZone")
                    parsed = parsed.replace(tzinfo=ZoneInfo(sess_tz))
                except Exception:
                    pass  # unknown zone id → process-local fallback
            ts = parsed.timestamp()
            return self.materialized.read_version(tt.group("name"), as_of_ts=ts)
        tm = self._TEMPORAL_RE.match(stmt)
        if tm and "FOR SYSTEM_TIME" in masked.upper():
            return self._rewrite_temporal_join(tm)
        if "LATERAL TABLE" in masked.upper():
            lm = self._LATERAL_TTF_RE.match(stmt)
            if lm and lm.group("fn") in self.temporal_fns:
                return self._rewrite_lateral_ttf(lm)
        if "MATCH_RECOGNIZE" in masked.upper():
            from flink_spark.sql_match import MATCH_RE, rewrite_match_recognize

            mr = MATCH_RE.match(stmt)
            if mr:
                return rewrite_match_recognize(self.spark, mr)
        if "/*+" in stmt and "OPTIONS" in stmt.upper():
            # NOTE: gate on the ORIGINAL text — the masked view blanks
            # comments, which is exactly where this hint lives
            # dynamic table options (reference FlinkHints OPTIONS hint /
            # SqlTableRef: `FROM t /*+ OPTIONS('k'='v') */` overrides the
            # declared WITH options for THIS query only). The hint lives
            # in a comment, so it is read from the ORIGINAL text (the
            # masked view blanks comments by design) and replaced by a
            # temp view over the re-opened source.
            hint_re = re.compile(
                r"(?P<tbl>[\w.]+)\s*/\*\+\s*OPTIONS\s*\("
                r"(?P<opts>[^)]*)\)\s*\*/",
                re.IGNORECASE,
            )

            def _apply_hint(hm: re.Match) -> str:
                tbl = hm.group("tbl")
                if tbl not in self.tables:
                    return hm.group(0)  # not ours — leave for Spark
                src0 = self.tables[tbl]
                opts = dict(src0.options)
                opts.update({
                    m2.group("k"): m2.group("v")
                    for m2 in _OPT_RE.finditer(hm.group("opts"))
                })
                for guard in ("connector", "path"):
                    if opts.get(guard) != src0.options.get(guard):
                        raise ValueError(
                            f"OPTIONS hint cannot change {guard!r}"
                        )
                tmp = TableSpec(
                    name=tbl, columns=list(src0.columns), options=opts,
                    watermark=src0.watermark,
                    watermark_kind=src0.watermark_kind,
                    primary_key=list(src0.primary_key),
                )
                view = f"__opts_{tbl}_{_det_digest(*sorted(opts.items()))}"
                df = self._source_df(tmp)
                if df is None:
                    raise ValueError(
                        f"OPTIONS hint: table {tbl!r} is not readable"
                    )
                df.createOrReplaceTempView(view)
                return view

            new_stmt = hint_re.sub(_apply_hint, stmt)
            if new_stmt != stmt:
                stmt = new_stmt
                masked = mask_literals(stmt)
        lk = _LIKE_RE.match(stmt)
        if lk and lk.group("src") in self.tables:
            # CREATE TABLE ... LIKE (reference SqlTableLike.java): clone
            # the source spec. Default merging = INCLUDING ALL with the
            # new WITH options OVERWRITING inherited ones (the reference
            # default); the feature list flips per-category strategies.
            src = self.tables[lk.group("src")]
            feats: dict[str, str] = {}
            for part in (lk.group("feats") or "").split(","):
                fm = re.match(
                    r"\s*(INCLUDING|EXCLUDING|OVERWRITING)\s+"
                    r"(ALL|OPTIONS|WATERMARKS|CONSTRAINTS)\s*$",
                    part, re.IGNORECASE,
                )
                if fm:
                    verb, what = fm.group(1).upper(), fm.group(2).upper()
                    if what == "ALL":
                        for w in ("OPTIONS", "WATERMARKS", "CONSTRAINTS"):
                            feats.setdefault(w, verb)
                    else:
                        feats[what] = verb
                elif part.strip():
                    raise ValueError(
                        f"LIKE feature list: cannot parse {part.strip()!r}"
                    )
            if feats.get("OPTIONS") == "EXCLUDING":
                options = {}
            else:
                options = dict(src.options)
            options.update(
                {m2.group("k"): m2.group("v")
                 for m2 in _OPT_RE.finditer(lk.group("opts") or "")}
            )
            if feats.get("OPTIONS") == "EXCLUDING" and "connector" not in options:
                raise ValueError(
                    "CREATE TABLE ... LIKE with EXCLUDING OPTIONS needs a "
                    "WITH clause declaring at least the connector"
                )
            spec = TableSpec(
                name=lk.group("name"), columns=list(src.columns),
                options=options,
                watermark=(
                    None if feats.get("WATERMARKS") == "EXCLUDING"
                    else src.watermark
                ),
                watermark_kind=src.watermark_kind,
                primary_key=(
                    [] if feats.get("CONSTRAINTS") == "EXCLUDING"
                    else list(src.primary_key)
                ),
            )
            self.tables[spec.name] = spec
            self._persist_spec(spec)
            try:
                df = (None if self._is_managed_bucketed(spec)
                      else self._source_df(spec))
            except Exception:  # noqa: BLE001 - sink-only until first write
                df = None
            if df is not None:
                df.createOrReplaceTempView(spec.name)
            return None
        cr = _extract_create(stmt)
        if cr:
            return self._create_table(
                cr["name"], cr["body"], cr["opts"],
                temporary=bool(cr["temp"]),
                distributed=(
                    ([c.strip() for c in cr["dcols"].split(",")],
                     int(cr["nbuck"]))
                    if cr["dcols"] else None
                ),
                partitioned=(
                    [c.strip() for c in cr["pcols"].split(",")]
                    if cr["pcols"] else None
                ),
            )
        ctas = _extract_ctas(stmt)
        if ctas:
            return self._create_table_as(
                ctas["name"],
                ctas["opts"],
                ctas["query"],
                replace=bool(ctas["replace"]),
            )
        sm = _SET_RE.match(stmt)
        if sm:
            # SET 'k' = 'v' / SET (list) / RESET 'k' / RESET (reference
            # SqlSet.java, SqlReset.java → session conf). Well-known
            # reference table-config keys bridge onto their Spark
            # equivalents so they actually take effect (_SET_KEY_BRIDGE)
            # — the raw key is kept too, so SHOW/round-trips see it.
            bridge = _SET_KEY_BRIDGE
            verb = sm.group("verb").upper()
            key, val = sm.group("k"), sm.group("v")
            if verb == "SET" and key is not None:
                self.spark.conf.set(key, val)
                if key in bridge:
                    self.spark.conf.set(bridge[key], val)
                return None
            if verb == "RESET":
                from flink_spark.session import RUNTIME_CONF

                keys = (
                    [key]
                    if key is not None
                    else list(RUNTIME_CONF) + list(bridge)
                )
                for k in keys:
                    for kk in ({k, bridge.get(k)} - {None}):
                        try:
                            self.spark.conf.unset(kk)
                        except Exception:  # noqa: BLE001 - non-unsettable
                            pass
                # re-pin the engine's required runtime conf
                from flink_spark.session import prepare_session

                prepare_session(self.spark)
                return None
            return self.spark.sql("SET")
        if re.match(r"^\s*SHOW\s+JOBS\s*$", stmt, re.IGNORECASE):
            # reference SqlShowJobs: list active streaming queries
            rows = [
                (q.id, q.name or "", "RUNNING" if q.isActive else "FINISHED")
                for q in self.spark.streams.active
            ]
            return self.spark.createDataFrame(
                rows, "job_id string, job_name string, status string"
            )
        dj = re.match(
            r"^\s*DESCRIBE\s+JOB\s+'(?P<jid>[^']+)'\s*$", stmt, re.IGNORECASE
        )
        if dj:
            # reference SqlDescribeJob: one row for the named job handle
            for q in self.spark.streams.active:
                if q.id == dj.group("jid") or (q.name or "") == dj.group("jid"):
                    lp = q.lastProgress or {}
                    return self.spark.createDataFrame(
                        [(
                            q.id, q.name or "",
                            "RUNNING" if q.isActive else "FINISHED",
                            str(lp.get("batchId", "")),
                            str(lp.get("timestamp", "")),
                        )],
                        "job_id string, job_name string, status string, "
                        "last_batch string, last_progress_ts string",
                    )
            raise ValueError(f"no active job {dj.group('jid')!r}")
        stop = re.match(
            r"^\s*STOP\s+JOB\s+'(?P<jid>[^']+)'\s*$", stmt, re.IGNORECASE
        )
        if stop:
            # reference SqlStopJob.java → stop the streaming query handle
            for q in self.spark.streams.active:
                if q.id == stop.group("jid") or (q.name or "") == stop.group("jid"):
                    q.stop()
                    return None
            raise ValueError(f"no active job {stop.group('jid')!r}")
        vm = re.match(
            r"^\s*CREATE\s+(?P<rep>OR\s+REPLACE\s+)?(?P<temp>TEMPORARY\s+)?"
            r"VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s*"
            r"(?:\((?P<cols>[^)]*)\)\s*)?"
            r"(?:COMMENT\s+'(?P<cmt>[^']*)'\s*)?AS\s+(?P<q>.+)$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if vm:
            # CREATE [OR REPLACE] [TEMPORARY] VIEW (reference SqlCreateView
            # / create.md): catalog metadata over the query text. The query
            # runs through execute_sql so engine rewrites (window TVFs,
            # MATCH_RECOGNIZE, ...) apply; the definition text is recorded
            # for SHOW CREATE VIEW.
            name, qtext = vm.group("name"), vm.group("q").strip()
            self._view_defs = getattr(self, "_view_defs", {})
            if "." in name:
                # createOrReplaceTempView rejects multi-part names with an
                # opaque Spark error; fail clearly instead (reference views
                # resolve catalog.db.view, our temp-view registry is 1-part).
                raise ValueError(
                    f"CREATE VIEW: multi-part view name {name!r} not "
                    "supported; use a single-part name"
                )
            if name in self._view_defs and not (
                vm.group("rep") or vm.group("ine")
            ):
                raise ValueError(f"view {name!r} already exists")
            if name in self._view_defs and vm.group("ine"):
                return None
            if name not in self._view_defs:
                # Flink errors on object-name clashes: refuse to shadow a
                # registered table or a pre-existing temp view we don't own.
                if name in self.tables:
                    raise ValueError(
                        f"CREATE VIEW: object {name!r} already exists as a "
                        "table"
                    )
                try:
                    clash = self.spark.catalog.tableExists(name)
                except Exception:
                    clash = False
                if clash:
                    raise ValueError(
                        f"CREATE VIEW: temporary object {name!r} already "
                        "exists"
                    )
            vdf = self.execute_sql(qtext)
            cols = None
            if vm.group("cols"):
                cols = [c.strip() for c in vm.group("cols").split(",")]
                if len(cols) != len(vdf.columns):
                    raise ValueError(
                        f"CREATE VIEW {name}: {len(cols)} column aliases "
                        f"for a {len(vdf.columns)}-column query"
                    )
                vdf = vdf.toDF(*cols)
            vdf.createOrReplaceTempView(name)
            self._view_defs[name] = {
                "query": qtext,
                "temporary": bool(vm.group("temp")),
                "cols": cols,
                "comment": vm.group("cmt"),
            }
            return None
        dv = re.match(
            r"^\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+(?P<ife>IF\s+EXISTS\s+)?"
            r"(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if dv and (
            dv.group("name") in getattr(self, "_view_defs", {})
            or dv.group("ife")
        ):
            name = dv.group("name")
            defs = getattr(self, "_view_defs", {})
            if name in defs:
                del defs[name]
                self.spark.catalog.dropTempView(name)
                return None
            # IF EXISTS on a view we don't own: let Spark try, absent is fine
            try:
                return self.spark.sql(stmt)
            except Exception:  # noqa: BLE001
                return None
        av = re.match(
            r"^\s*ALTER\s+VIEW\s+(?P<name>[\w.]+)\s+"
            r"(?:(?:RENAME\s+TO\s+(?P<to>[\w.]+))"
            r"|(?:SET\s*\(\s*(?P<props>.*?)\s*\))"
            r"|(?:AS\s+(?P<q>.+)))$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if av:
            # ALTER VIEW ... RENAME TO / SET (properties) / AS (reference
            # SqlAlterViewRename / SqlAlterViewProperties / SqlAlterViewAs,
            # alter.md)
            name = av.group("name")
            defs = getattr(self, "_view_defs", {})
            if name not in defs:
                raise ValueError(f"ALTER VIEW: view {name!r} does not exist")
            if av.group("props") is not None:
                d = defs[name]
                d.setdefault("properties", {}).update(
                    dict(re.findall(r"'([^']*)'\s*=\s*'([^']*)'",
                                    av.group("props")))
                )
                return None
            if av.group("to"):
                to = av.group("to")
                if to in defs:
                    raise ValueError(f"ALTER VIEW: view {to!r} already exists")
                d = defs.pop(name)
                self.spark.catalog.dropTempView(name)
                vdf = self.execute_sql(d["query"])
                if d["cols"]:
                    vdf = vdf.toDF(*d["cols"])
                vdf.createOrReplaceTempView(to)
                defs[to] = d
                return None
            qtext = av.group("q").strip()
            vdf = self.execute_sql(qtext)
            vdf.createOrReplaceTempView(name)
            defs[name]["query"] = qtext
            defs[name]["cols"] = None  # AS replaces the column aliases too
            return None
        scv = re.match(
            r"^\s*SHOW\s+CREATE\s+VIEW\s+(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if scv:
            # SHOW CREATE VIEW (reference SqlShowCreateView / show.md)
            name = scv.group("name")
            d = getattr(self, "_view_defs", {}).get(name)
            if d is None:
                raise ValueError(
                    f"SHOW CREATE VIEW: view {name!r} does not exist"
                )
            parts = ["CREATE"]
            if d["temporary"]:
                parts.append("TEMPORARY")
            parts += ["VIEW", name]
            if d["cols"]:
                parts.append("(" + ", ".join(d["cols"]) + ")")
            if d["comment"] is not None:
                parts.append(f"COMMENT '{d['comment']}'")
            ddl = " ".join(parts) + f" AS {d['query']}"
            return self.spark.createDataFrame([(ddl,)], "ddl string")
        sct = re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>[\w.]+)\s*$",
            stmt,
            re.IGNORECASE,
        )
        if sct and sct.group("name") in self.tables:
            spec = self.tables[sct.group("name")]
            opts = ", ".join(
                f"'{k}' = '{v}'" for k, v in spec.options.items()
                if not k.startswith("distributed.")
            )
            body = [spec.ddl_schema()]
            if spec.watermark is not None:
                wc, wd = spec.watermark
                if spec.watermark_kind == "source":
                    body.append(f"WATERMARK FOR {wc} AS SOURCE_WATERMARK()")
                elif spec.watermark_kind == "ascending":
                    body.append(f"WATERMARK FOR {wc} AS {wc}")
                else:
                    n, _, unit = wd.partition(" ")
                    body.append(
                        f"WATERMARK FOR {wc} AS {wc} - INTERVAL '{n}' "
                        f"{unit.rstrip('s').upper()}"
                    )
            if spec.primary_key:
                body.append(
                    f"PRIMARY KEY ({', '.join(spec.primary_key)}) NOT ENFORCED"
                )
            dist = ""
            if "distributed.keys" in spec.options:
                dist = (
                    f" DISTRIBUTED BY ({spec.options['distributed.keys']}) "
                    f"INTO {spec.options['distributed.buckets']} BUCKETS"
                )
            ddl = (
                f"CREATE TABLE {spec.name} ({', '.join(body)}){dist} "
                f"WITH ({opts})"
            )
            return self.spark.createDataFrame([(ddl,)], "ddl string")
        tr = re.match(
            r"^\s*TRUNCATE\s+TABLE\s+(?P<name>[\w.]+)\s*$", stmt, re.IGNORECASE
        )
        if tr and tr.group("name") in self.tables:
            # reference SqlTruncateTable: drop the data, keep the table
            import shutil as _shutil

            spec = self.tables[tr.group("name")]
            if spec.connector != "filesystem":
                raise ValueError(
                    f"TRUNCATE TABLE: connector {spec.connector!r} has no data to drop"
                )
            if self._is_managed_bucketed(spec):
                self._rewrite_table_storage(
                    spec, empty_frame(self.spark, spec.ddl_schema())
                )
                return None
            _shutil.rmtree(spec.options["path"], ignore_errors=True)
            empty_frame(self.spark, spec.ddl_schema()).createOrReplaceTempView(
                spec.name)
            return None
        an = re.match(
            r"^\s*ANALYZE\s+TABLE\s+(?P<name>[\w.]+)\s+COMPUTE\s+STATISTICS"
            r"(?:\s+FOR\s+COLUMNS\s+(?P<cols>[\w,\s]+))?\s*$",
            stmt,
            re.IGNORECASE,
        )
        if an:
            # reference SqlAnalyzeTable: row count + per-column
            # min/max/ndv/null-count, the stats CBO planners feed on
            name = an.group("name")
            df = self.spark.table(name)
            from pyspark.sql import functions as F

            cols = (
                [c.strip() for c in an.group("cols").split(",")]
                if an.group("cols")
                else df.columns
            )
            aggs = [F.count(F.lit(1)).alias("row_count")]
            for c in cols:
                aggs += [
                    F.min(c).cast("string").alias(f"{c}_min"),
                    F.max(c).cast("string").alias(f"{c}_max"),
                    F.approx_count_distinct(c).alias(f"{c}_ndv"),
                    F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls"),
                ]
            return df.agg(*aggs)
        dm = re.match(
            r"^\s*(?:DESCRIBE|DESC)\s+(?:EXTENDED\s+)?(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if dm and dm.group("name") in self.tables:
            # Flink-shaped DESCRIBE (reference DESCRIBE output columns
            # name/type/null/key/extras/watermark — richer than Spark's,
            # which cannot show watermark or NOT ENFORCED keys)
            return self._columns_df(dm.group("name"))
        sc = re.match(
            r"^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+(?P<name>[\w.]+)\s*$",
            stmt, re.IGNORECASE,
        )
        if sc:
            # SHOW COLUMNS (FROM|IN) t (reference SqlShowColumns.java,
            # ShowColumnsOperation.java:99 — the DESCRIBE row shape
            # name/type/null/key/extras/watermark; the generic
            # SHOW ... [NOT] LIKE wrapper above supplies name filtering)
            return self._columns_df(sc.group("name"))
        if re.match(r"^\s*(SHOW|DESCRIBE|DESC)\b", stmt, re.IGNORECASE):
            return self.spark.sql(stmt)
        im = re.match(
            r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?P<name>[\w.]+)\s+"
            r"(?:\(\s*(?P<collist>\w+(?:\s*,\s*\w+)*)\s*\)\s+)?"
            r"(?:PARTITION\s*\(\s*(?P<pcol>\w+)\s*=\s*'(?P<pval>[^']*)'\s*\)\s+)?"
            r"(?P<query>.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if im and im.group("name") in self.tables:
            df = self.spark.sql(im.group("query"))
            if im.group("collist"):
                # explicit column list (reference SqlInsert column list):
                # the query's output maps positionally onto the NAMED
                # columns; unnamed declared columns are null-filled
                from pyspark.sql import functions as F

                spec0 = self.tables[im.group("name")]
                named = [c.strip() for c in im.group("collist").split(",")]
                declared = {c: t for c, t in spec0.columns}
                unknown = [c for c in named if c not in declared]
                if unknown:
                    raise ValueError(
                        f"INSERT column list names unknown columns {unknown}"
                    )
                if len(df.columns) != len(named):
                    raise ValueError(
                        f"INSERT column list has {len(named)} columns but "
                        f"the query produces {len(df.columns)}"
                    )
                df = df.toDF(*named)
                pcol_v = im.group("pcol")
                for c, t in spec0.columns:
                    if c not in named and c != pcol_v:
                        df = df.withColumn(c, F.lit(None).cast(_map_type(t)))
            if im.group("pcol"):
                # static partition insert (reference SqlPartitionUtils /
                # INSERT ... PARTITION): the partition column is a
                # constant, cast to the declared column type
                spec0 = self.tables[im.group("name")]
                ptype = dict(spec0.columns).get(im.group("pcol"), "STRING")
                from pyspark.sql import functions as F

                df = df.withColumn(
                    im.group("pcol"),
                    F.lit(im.group("pval")).cast(ptype),
                )
                if not im.group("collist"):
                    # The query's columns are POSITIONAL (SQL semantics);
                    # only the engine-appended partition column is named.
                    # Rename the query columns onto the declared names
                    # minus the partition column, in declared order, so
                    # the by-name select below cannot silently remap a
                    # user permutation (ADVICE r4).
                    declared0 = [c for c, _ in spec0.columns]
                    rest = [c for c in declared0 if c != im.group("pcol")]
                    if len(df.columns) - 1 == len(rest):
                        df = df.toDF(*rest, im.group("pcol"))
            if im.group("collist") or im.group("pcol"):
                # engine-constructed names → by-name alignment is safe
                spec0 = self.tables[im.group("name")]
                declared0 = [c for c, _ in spec0.columns]
                if set(df.columns) == set(declared0):
                    df = df.select(*declared0)
            return self._insert(
                im.group("name"),
                df,
                overwrite=im.group("mode").upper() == "OVERWRITE",
            )
        return self.spark.sql(stmt)

    def _upsert_merge(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """Upsert sink semantics (reference SinkUpsertMaterializer / the
        upsert sink contract): a PRIMARY KEY'd sink REPLACES rows by key —
        INSERT INTO merges, never appends duplicates. Returns the merged,
        materialized table contents (callers overwrite the store with it;
        materialization breaks the read-from-what-we-overwrite cycle).
        Scale note: this is read-merge-rewrite — at 100 TB the rewrite is
        the MERGE/compaction job of a real table format (Delta/Iceberg
        merge-on-read); the semantics gate is what this path pins.

        Last-row-wins within the batch: dropDuplicates picks an arbitrary
        partition-dependent row, so rank by an explicit input sequence
        instead. monotonically_increasing_id encodes (partitionId,
        rowInPartition) — deterministic for a deterministic input plan —
        and "later in the dataset" wins, mirroring changelog arrival
        order (ADVICE r4, medium)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        pk = spec.primary_key
        w = Window.partitionBy(*pk).orderBy(F.col("__upsert_seq").desc())
        df = (
            df.withColumn("__upsert_seq", F.monotonically_increasing_id())
            .withColumn("__upsert_rn", F.row_number().over(w))
            .filter(F.col("__upsert_rn") == 1)
            .drop("__upsert_seq", "__upsert_rn")
        )
        try:
            existing = self._source_df(spec)
        except Exception:  # noqa: BLE001 - store not readable yet
            existing = None
        if existing is not None:
            keep = existing.join(df.select(*pk).distinct(), pk, "left_anti")
            df = keep.unionByName(df.select(*keep.columns))
        return df.localCheckpoint(eager=True)

    def _insert(self, name: str, df: DataFrame, overwrite: bool = False):
        """INSERT INTO/OVERWRITE a connector table (reference
        FileSystemTableSink.java, PrintTableSinkFactory, BlackHole...):
        lower onto DataFrameWriter for filesystem, show/noop for the
        utility sinks. Partitioned writes honor 'partition.keys'."""
        spec = self.tables[name]
        # INSERT INTO maps the query's output to the declared schema
        # POSITIONALLY (reference SqlInsert / SQL standard). By-name
        # alignment happens only on the engine-constructed paths (column
        # list / static PARTITION, handled before this call) — a user
        # query whose output names happen to be a permutation of the
        # declared names must NOT be silently reordered (ADVICE r4).
        declared = [c for c, _ in spec.columns]
        if len(df.columns) == len(declared) and df.columns != declared:
            df = df.toDF(*declared)
        conn = spec.connector
        if self._is_managed_bucketed(spec):
            # managed table: append/overwrite through the catalog —
            # bucketBy when DISTRIBUTED (pre-shuffled layout preserved),
            # plain saveAsTable after DROP DISTRIBUTION. A PRIMARY KEY'd
            # managed table gets the same upsert contract as PK'd
            # filesystem sinks: INSERT merges by key.
            if spec.primary_key and not overwrite:
                df = self._upsert_merge(spec, df)
                overwrite = True
            if "distributed.keys" in spec.options:
                from flink_spark.sources.bucketing import write_bucketed

                dcols = spec.options["distributed.keys"].split(",")
                nbuck = int(spec.options["distributed.buckets"])
                write_bucketed(
                    df, name, dcols, nbuck,
                    mode="overwrite" if overwrite else "append",
                )
            else:
                df.write.mode(
                    "overwrite" if overwrite else "append"
                ).saveAsTable(name)
            self.spark.catalog.refreshTable(name)
            return None
        if conn == "filesystem" and spec.primary_key and not overwrite:
            df = self._upsert_merge(spec, df)
            overwrite = True
        if conn == "print":
            df.show(truncate=False)
            return None
        if conn == "blackhole":
            df.write.format("noop").mode("overwrite").save()
            return None
        if conn == "filesystem":
            fmt = spec.options.get("format", "parquet")
            if fmt == "avro" and not self._jvm_avro():
                # spark-avro jar absent → the self-contained binary codec
                # (flink_spark/formats/avro.py) writes standard OCF files
                from flink_spark.formats.avro import write_avro

                write_avro(
                    df,
                    spec.options["path"],
                    mode="overwrite" if overwrite else "append",
                )
                src = self._source_df(spec)
                if src is not None:
                    src.createOrReplaceTempView(name)
                return None
            if fmt in ("sequencefile", "sequence-file"):
                # Hadoop SequenceFile (flink-sequence-file): two Writable
                # columns; each INSERT rewrites the store (no append API)
                from flink_spark.formats.seqfile import write_sequence_file

                import shutil as _shutil

                if len(spec.columns) != 2:
                    raise ValueError(
                        f"sequencefile table {name!r} must declare exactly "
                        "two columns (Hadoop SequenceFile is a key/value "
                        f"store); got {len(spec.columns)}: "
                        f"{[c for c, _ in spec.columns]}"
                    )
                kc, vc = (c for c, _ in spec.columns)
                _shutil.rmtree(spec.options["path"], ignore_errors=True)
                write_sequence_file(df, spec.options["path"], kc, vc)
                src = self._source_df(spec)
                if src is not None:
                    src.createOrReplaceTempView(name)
                return None
            writer = df.write.format(fmt).mode(
                "overwrite" if overwrite else "append"
            )
            if fmt == "csv" and spec.options.get("csv.include-header") == "true":
                writer = writer.option("header", "true")
            codec = spec.options.get("compression") or spec.options.get(
                "compress.codec"
            )
            if codec:
                # flink-compress CompressWriterFactory: map the codec onto
                # the Spark writer's compression option (gzip/bzip2/
                # deflate for text formats; snappy/zstd/gzip for columnar)
                writer = writer.option("compression", codec)
            pk = spec.options.get("partition.keys")
            if pk:
                writer = writer.partitionBy(*[c.strip() for c in pk.split(",")])
            writer.save(spec.options["path"])
            # refresh the registered view so subsequent reads see the write
            src = self._source_df(spec)
            if src is not None:
                src.createOrReplaceTempView(name)
            return None
        raise ValueError(f"connector {conn!r} is not writable")

    def _create_table_as(
        self, name: str, opts: str, query: str, replace: bool = False
    ):
        """CTAS (reference SqlCreateTableAs.java / SqlReplaceTableAs.java):
        derive the table schema from the SELECT, register the connector
        table, and run the initial insert atomically-per-statement."""
        if name in self.tables and not replace:
            raise ValueError(f"table {name!r} already exists (use OR REPLACE)")
        df = self.spark.sql(query)
        options = {m.group("k"): m.group("v") for m in _OPT_RE.finditer(opts)}
        columns = [(f.name, f.dataType.simpleString().upper()) for f in df.schema.fields]
        spec = TableSpec(name=name, columns=columns, options=options)
        self.tables[name] = spec
        self._persist_spec(spec)
        self._insert(name, df, overwrite=replace)
        return None

    def _create_table(self, name: str, body: str, opts: str,
                      temporary: bool = False,
                      distributed: tuple | None = None,
                      partitioned: list | None = None):
        options = {m.group("k"): m.group("v") for m in _OPT_RE.finditer(opts)}
        if partitioned:
            # PARTITIONED BY (cols) (reference SqlCreateTable.java) is the
            # DDL spelling of the 'partition.keys' connector option.
            options["partition.keys"] = ",".join(partitioned)
        from flink_spark.sqltok import mask_literals as _mask

        watermark = None
        wm_kind = "bounded"
        # match on the MASKED body (a column COMMENT may contain
        # watermark-shaped text) but edit the raw body by span — the mask
        # is length-preserving so spans map 1:1
        mbody = _mask(body)
        wm = _WATERMARK_RE.search(mbody)
        if wm:
            # <n> sits inside a quoted literal, blanked on the mask —
            # read it from the RAW body via the group span
            n = body[wm.start("n"): wm.end("n")].strip()
            if not re.fullmatch(r"[\d.]+", n):
                raise ValueError(
                    f"WATERMARK FOR: could not parse interval count {n!r}"
                )
            watermark = (wm.group("col"), f"{n} {wm.group('unit').lower()}s"
                         if not wm.group("unit").lower().endswith("s")
                         else f"{n} {wm.group('unit').lower()}")
            body = body[: wm.start()] + body[wm.end():]
        else:
            sm = _WATERMARK_SRC_RE.search(mbody)
            if sm:
                col = sm.group("col")
                if sm.group("src"):
                    # SOURCE_WATERMARK(): connector-provided strategy
                    # (reference SupportsSourceWatermark.java) — the
                    # closest event-time contract is 0-delay on the
                    # declared rowtime column
                    wm_kind = "source"
                elif sm.group("asc").lower() == col.lower():
                    # strictly-ascending rowtime (`WATERMARK FOR c AS c`)
                    wm_kind = "ascending"
                else:
                    raise ValueError(
                        "WATERMARK FOR "
                        f"{col} AS {sm.group('asc')}: only `<col> - "
                        "INTERVAL 'n' <unit>`, `<col>` (ascending) and "
                        "SOURCE_WATERMARK() strategies are supported"
                    )
                watermark = (col, "0 seconds")
                body = body[: sm.start()] + body[sm.end():]
        if re.search(r"\bWATERMARK\s+FOR\b", _mask(body), re.IGNORECASE):
            # a WATERMARK clause neither regex consumed (general
            # expression form `AS ts + INTERVAL`, CAST-wrapped rowtime,
            # backticked column, ...): reject loudly — falling through
            # would register the clause tail as a phantom COLUMN and
            # silently drop the watermark
            raise ValueError(
                "WATERMARK FOR: unsupported watermark expression; "
                "supported strategies are `<col> - INTERVAL 'n' <unit>` "
                "(bounded), `<col>` (ascending) and SOURCE_WATERMARK()"
            )
        pk: list[str] = []
        pkm = _PK_RE.search(body)
        if pkm:
            pk = [c.strip() for c in pkm.group("cols").split(",")]
            body = _PK_RE.sub("", body)
        columns = []
        for piece in _split_top_level(body):
            piece = piece.strip().rstrip(",").strip()
            if not piece:
                continue
            cm = re.match(r"(`?\w+`?)\s+(.+)", piece, re.DOTALL)
            if cm:
                columns.append((cm.group(1).strip("`"), _map_type(cm.group(2))))
        if partitioned:
            unknown = [
                c for c in partitioned if c not in {c0 for c0, _ in columns}
            ]
            if unknown:
                raise ValueError(
                    f"PARTITIONED BY names unknown columns {unknown}"
                )
        if distributed is not None:
            # DISTRIBUTED BY ... INTO n BUCKETS (reference FLIP-376
            # SqlDistribution): lowered onto Spark bucketBy managed
            # tables — the pre-shuffled layout that removes the Exchange
            # from every same-keyed join/agg (sources/bucketing.py). A
            # managed table owns its location: a WITH path is rejected.
            if "path" in options:
                raise ValueError(
                    "DISTRIBUTED tables are managed (bucketBy storage) — "
                    "remove the 'path' option"
                )
            dcols, nbuck = distributed
            unknown = [c for c in dcols if c not in {c0 for c0, _ in columns}]
            if unknown:
                raise ValueError(
                    f"DISTRIBUTED BY names unknown columns {unknown}"
                )
            options["distributed.keys"] = ",".join(dcols)
            options["distributed.buckets"] = str(nbuck)
        spec = TableSpec(name=name, columns=columns, options=options,
                         watermark=watermark, primary_key=pk,
                         watermark_kind=wm_kind)
        self.tables[name] = spec
        if distributed is not None and not self.spark.catalog.tableExists(name):
            from flink_spark.sources.bucketing import write_bucketed

            dcols, nbuck = distributed
            empty = empty_frame(self.spark, spec.ddl_schema())
            write_bucketed(empty, name, dcols, nbuck)
        if not temporary:
            # TEMPORARY tables are session-scoped (reference
            # SqlCreateTable#isTemporary): never written to a persistent
            # catalog's store
            self._persist_spec(spec)
        try:
            df = (None if self._is_managed_bucketed(spec)
                  else self._source_df(spec))
        except Exception:
            # sink-only for now (e.g. filesystem path not written yet);
            # _insert re-registers the view after the first write
            df = None
        if df is not None:
            df.createOrReplaceTempView(name)
        return None

    # -- connectors --------------------------------------------------------

    def _jvm_avro(self) -> bool:
        if not hasattr(self, "_jvm_avro_cached"):
            from flink_spark.formats.avro import jvm_avro_available

            self._jvm_avro_cached = jvm_avro_available(self.spark)
        return self._jvm_avro_cached

    @staticmethod
    def _is_managed_bucketed(spec: TableSpec) -> bool:
        """Engine-managed tables own their storage through the Spark
        catalog (no 'path' option): DISTRIBUTED BY tables (bucketBy
        layout) and tables whose distribution was dropped afterwards
        (plain managed). Both read/write through the catalog table."""
        return (
            spec.connector == "filesystem"
            and "path" not in spec.options
            and ("distributed.keys" in spec.options
                 or spec.options.get("managed") == "true")
        )

    def _source_df(self, spec: TableSpec) -> DataFrame | None:
        conn = spec.connector
        schema = spec.ddl_schema()
        if conn == "filesystem" and self._is_managed_bucketed(spec):
            if not self.spark.catalog.tableExists(spec.name):
                return empty_frame(self.spark, schema)
            return self.spark.table(spec.name)
        if conn == "filesystem":
            fmt = spec.options.get("format", "parquet")
            path = spec.options["path"]
            # declared schema applies to every format: no inference pass
            # over the files (one less S3 listing+footer scan at scale),
            # and empty/not-yet-written sink paths stay readable
            if fmt == "avro" and not self._jvm_avro():
                from flink_spark.formats.avro import read_avro

                return read_avro(self.spark, path, schema)
            if fmt in ("sequencefile", "sequence-file"):
                import os

                from flink_spark.formats.seqfile import read_sequence_file

                (kc, kt), (vc, vt) = spec.columns
                if not os.path.isdir(path):
                    return empty_frame(self.spark, schema)
                return read_sequence_file(
                    self.spark, path, kc, vc, kt.lower(), vt.lower()
                )
            reader = self.spark.read.format(fmt).schema(schema)
            if fmt == "csv" and spec.options.get(
                "csv.include-header", "false"
            ) == "true":
                reader = reader.option("header", "true")
            return reader.load(path)
        if conn == "values":
            data = spec.options.get("data", "")
            rows = [tuple(x.strip() for x in r.split("|")) for r in data.split(";") if r]
            names = [c for c, _ in spec.columns]
            raw = self.spark.createDataFrame(rows, schema=names)
            from pyspark.sql import functions as F

            return raw.select(
                *[F.col(c).cast(t).alias(c) for c, t in spec.columns]
            )
        if conn == "datagen":
            n = int(spec.options.get("number-of-rows", "1000"))
            df = self.spark.range(n).withColumnRenamed("id", "__seq__")
            from pyspark.sql import functions as F

            cols = []
            for c, t in spec.columns:
                kind = spec.options.get(f"fields.{c}.kind", "random")
                if kind == "sequence":
                    start = int(spec.options.get(f"fields.{c}.start", "0"))
                    cols.append((F.col("__seq__") + start).cast(t).alias(c))
                elif t in ("INT", "BIGINT", "SMALLINT", "TINYINT"):
                    mx = int(spec.options.get(f"fields.{c}.max", "1000000"))
                    cols.append((F.floor(F.rand(seed=42) * mx)).cast(t).alias(c))
                elif t in ("DOUBLE", "FLOAT"):
                    cols.append(F.rand(seed=42).cast(t).alias(c))
                elif t.startswith("TIMESTAMP"):
                    cols.append(F.current_timestamp().cast(t).alias(c))
                else:
                    ln = int(spec.options.get(f"fields.{c}.length", "10"))
                    cols.append(
                        F.substring(F.sha2(F.col("__seq__").cast("string"), 256), 1, ln).alias(c)
                    )
            return df.select(*cols)
        if conn in ("print", "blackhole"):
            return None  # sink-only
        if conn == "rate":
            src = (
                self.spark.readStream.format("rate")
                .option("rowsPerSecond", spec.options.get("rows-per-second", "10"))
                .load()
            )
            # map rate's (timestamp, value) onto the declared columns: the
            # first timestamp-typed column gets the event time, the first
            # integer column the sequence number
            from pyspark.sql import functions as F

            out, used_ts, used_val = [], False, False
            for c, t in spec.columns:
                if t.startswith("TIMESTAMP") and not used_ts:
                    out.append(F.col("timestamp").cast(t).alias(c))
                    used_ts = True
                elif t in ("BIGINT", "INT", "SMALLINT") and not used_val:
                    out.append(F.col("value").cast(t).alias(c))
                    used_val = True
                else:
                    out.append(F.lit(None).cast(t).alias(c))
            return src.select(*out)
        if conn == "socket":
            return (
                self.spark.readStream.format("socket")
                .option("host", spec.options.get("hostname", "localhost"))
                .option("port", spec.options.get("port", "9999"))
                .load()
            )
        raise ValueError(f"unknown connector: {conn}")

    # -- streaming helpers -------------------------------------------------

    def from_table(self, name: str) -> DataFrame:
        """Table → DataFrame, applying declared watermark if present."""
        df = self.spark.table(name)
        spec = self.tables.get(name)
        if spec and spec.watermark and df.isStreaming:
            col, delay = spec.watermark
            df = df.withWatermark(col, delay)
        return df

    def sql_query(self, sql: str) -> DataFrame:
        """Evaluate a query through the SAME dialect layer as
        ``execute_sql`` (reference TableEnvironment.sqlQuery — both entry
        points speak one SQL dialect; TableEnvironmentImpl.sqlQuery and
        executeSql share the parser). A bare ``spark.sql`` passthrough
        here silently skipped every dialect rewrite for queries issued
        via sql_query — GROUP_ID decomposition, CHAR/VARCHAR pad-trim,
        TIMESTAMP(n) truncation, RAND_INTEGER, hint validation.

        Non-queries are rejected BEFORE anything executes (the reference
        sqlQuery throws 'only single queries accepted' at parse time) —
        a validate-after-execute would let sql_query('INSERT ...')
        mutate state and then raise."""
        from flink_spark.sqltok import mask_literals

        masked = mask_literals(sql.strip().rstrip(";"))
        head = masked.lstrip("( \t\n\r")
        if not re.match(r"(?:SELECT|WITH|VALUES|TABLE)\b", head,
                        re.IGNORECASE):
            raise ValueError(
                "sql_query expects a query (SELECT/WITH/VALUES/TABLE); "
                "use execute_sql for statements"
            )
        # a WITH prologue can legally prefix DML (Spark grammar allows
        # ctes before dmlStatementNoWith), so the head check alone would
        # let sql_query("WITH c AS (...) INSERT INTO t ...") execute.
        # For every other accepted head (SELECT/VALUES/TABLE, or a
        # parenthesized query) no grammar production reaches DML, and a
        # blanket depth-0 verb scan rejected legal bare identifiers
        # named insert/update/delete/merge (ADVICE r9: `SELECT 1 AS
        # merge`) — so parse the CTE prologue and inspect only the verb
        # that BEGINS the statement body, the one depth-0 position where
        # the grammar puts DML. An unparseable prologue falls back to
        # the conservative depth-0 scan rather than letting anything
        # through.
        if re.match(r"WITH\b", head, re.IGNORECASE):
            verb = _with_body_verb(head)
            if verb is not None:
                if verb.upper() in ("INSERT", "DELETE", "UPDATE",
                                    "MERGE"):
                    raise ValueError(
                        "sql_query expects a query (SELECT/WITH/VALUES/"
                        "TABLE); use execute_sql for statements"
                    )
            else:
                depth = 0
                for m in re.finditer(
                    r"[()]|\b(?:INSERT|DELETE|UPDATE|MERGE)\b", masked,
                    re.IGNORECASE,
                ):
                    tok = m.group(0)
                    if tok == "(":
                        depth += 1
                    elif tok == ")":
                        depth -= 1
                    elif depth == 0:
                        raise ValueError(
                            "sql_query expects a query (SELECT/WITH/"
                            "VALUES/TABLE); use execute_sql for "
                            "statements"
                        )
        out = self.execute_sql(sql)
        if not isinstance(out, DataFrame):  # defensive: rewrites routed
            raise ValueError(  # the query somewhere sink-shaped
                "sql_query expects a query that produces a result table; "
                "use execute_sql for statements"
            )
        return out


def _with_body_verb(masked: str) -> str | None:
    """Given a literal-masked statement starting at its ``WITH`` keyword,
    skip the CTE prologue (``WITH [RECURSIVE] name [(cols)] AS (body)
    [, ...]``) and return the first token of the statement body — the
    only depth-0 position where Spark's grammar accepts a DML verb
    (SqlBaseParser: ctes precede queryNoWith | dmlStatementNoWith).
    Returns ``None`` when the prologue doesn't parse; the caller must
    then fall back to a conservative rejection scan."""
    m = re.match(r"\s*WITH\b(?:\s+RECURSIVE\b)?", masked, re.IGNORECASE)
    if not m:
        return None
    i = m.end()
    ws = re.compile(r"\s*")
    # plain or backtick-quoted CTE name (mask_literals blanks the quoted
    # interior but keeps the backticks, so `...` matches as a unit)
    ident = re.compile(r"\s*(?:[A-Za-z_][\w$]*|`[^`]*`)")
    as_kw = re.compile(r"AS\b", re.IGNORECASE)
    while True:
        m = ident.match(masked, i)
        if not m:
            return None
        i = ws.match(masked, m.end()).end()
        if i < len(masked) and masked[i] == "(":  # column alias list
            i = _match_paren(masked, i + 1)
            if i < 0:
                return None
            i = ws.match(masked, i).end()
        m = as_kw.match(masked, i)
        if not m:
            return None
        i = ws.match(masked, m.end()).end()
        if i >= len(masked) or masked[i] != "(":
            return None
        i = _match_paren(masked, i + 1)
        if i < 0:
            return None
        i = ws.match(masked, i).end()
        if i < len(masked) and masked[i] == ",":
            i += 1
            continue
        break
    m = re.match(r"[A-Za-z_][\w$]*|\(", masked[i:])
    return m.group(0) if m else None


_NIS_CLAUSE_RE = re.compile(
    r"\b(?:SELECT|FROM|WHERE|GROUP|HAVING|QUALIFY|ORDER|WINDOW|LIMIT|"
    r"DISTRIBUTE|SORT|CLUSTER|ON|USING|WHEN|THEN|ELSE|CASE|END|SET|"
    r"VALUES|JOIN|UNION|INTERSECT|EXCEPT|MINUS|PIVOT|UNPIVOT|LATERAL)\b|,",
    re.IGNORECASE,
)

#: Clause heads under which a BOOLEAN-CONSUMED IN/NOT IN keeps upstream
#: planning: WHERE/HAVING/ON get Spark's exact null-aware semi/anti
#: join for pure conjuncts; WHEN because a WHEN condition cannot
#: distinguish FALSE from UNKNOWN (same branch either way) unless an OR
#: re-exposes the complementary-dedup miscompilation, which the
#: effective-operator rule catches separately.
_NIS_SAFE_HEADS = {"WHERE", "HAVING", "ON", "WHEN"}

#: Keywords that legitimately precede a GROUPING paren in boolean
#: context — anything else before ``(`` means the paren is a function
#: call (or list), i.e. the predicate inside it is in value position.
_NIS_GROUPING_KWS = {
    "AND", "OR", "NOT", "WHERE", "WHEN", "THEN", "ELSE", "ON", "HAVING",
    "SELECT", "BY", "CASE", "END", "AS", "ALL", "DISTINCT", "UNION",
    "INTERSECT", "EXCEPT", "MINUS", "USING", "FROM", "JOIN", "LIKE",
    "BETWEEN", "IS", "ESCAPE",
}


def _not_in_needs_rewrite(
    masked: str, depth: list[int], k0: int, q1: int, op_not: bool = True,
    lvl: int | None = None,
) -> bool:
    """Position classifier for an ``X [NOT] IN (<subquery>)`` predicate
    spanning ``[k0, q1)``: True when upstream Spark 4.1.2 plans the
    position with broken three-valued logic and the EXISTS composite
    should replace it; False when the position is safe upstream or when
    bare operator adjacency makes a textual replacement parse-hazardous
    (upstream semantics kept, documented out of scope).

    Upstream's deviance surface (mapped empirically by the differential
    fuzzer, r10-r11, each shape pinned in test_differential_fuzz):

    - VALUE position — projection, IS-NULL test, projected negation,
      function argument, THEN/ELSE result, scalar-subquery body —
      yields FALSE where the standard says NULL, for BOTH ``IN`` and
      ``NOT IN``.
    - FILTER positions are planned null-aware correctly upstream
      (including single disjuncts, AND-nested disjuncts, and NNF'd
      negations) EXCEPT when complementary same-subquery predicates
      share a disjunction (``P OR NOT P`` in any spelling): the planner
      dedups both arms onto one two-valued existence variable and the
      filter collapses to const-TRUE, admitting every row the standard
      says UNKNOWN. Rewriting the effectively-negated arm breaks the
      dedup and restores the standard answer.

    Rule: rewrite iff (a) value position, or (b) the EFFECTIVE operator
    after absorbing enclosing NOTs is NOT IN and an OR appears between
    the leaf and its clause head (supersets the complementary-dedup
    shapes; the extra rewrites are semantically exact and keep the r10
    behavior for single disjuncts, sf1-measured 1.67x). An effective
    ``IN`` in any filter context passes through byte-identical —
    UNKNOWN and FALSE are outcome-equivalent under a filter, and
    upstream resolves NOT-wrapped spellings by NNF before planning.
    Reference parity: Calcite plans IN/NOT IN null-aware in every
    position (FlinkSubQueryRemoveRule.scala; SubQueryDecorrelator)."""
    n = len(masked)
    # bare adjacency hazards: with no parens around the predicate, a
    # neighboring operator re-groups under Spark's precedence (e.g.
    # `a = i NOT IN (q)` parses as `(a = i) NOT IN (q)` because
    # comparison lives INSIDE valueExpression), so a textual
    # replacement of `i NOT IN (q)` would change the parse — skip.
    if re.match(r"\s*(?:IS\b|\|\||[=<>!+\-*/%^&])", masked[q1:],
                re.IGNORECASE):
        return False
    if re.search(r"[=<>!+\-*/%^&|]\s*$", masked[:k0]):
        return False
    if lvl is None:
        lvl = depth[k0]  # identifier probe: k0 sits at the enclosing
        # level; a TUPLE probe's k0 is its own '(' (one level deeper),
        # so the caller passes the enclosing level explicitly
    left, right = k0, q1
    span_l, span_r = k0, q1  # predicate, or the paren group wrapping it

    def _conn(lo: int, hi: int, at: int) -> tuple[bool, bool]:
        has_or = any(
            depth[lo + mo.start()] == at
            for mo in re.finditer(r"\bOR\b", masked[lo:hi],
                                  re.IGNORECASE)
        )
        has_and = any(
            depth[lo + mo.start()] == at
            for mo in re.finditer(r"\bAND\b", masked[lo:hi],
                                  re.IGNORECASE)
        )
        return has_or, has_and

    # per-level walk facts, leaf-outward: (has_or, has_and) at each
    # level, and the count of NOTs absorbed at that iteration (those
    # wrap everything from EARLIER iterations, so they sit BELOW the
    # iteration's own connectives)
    levels: list[tuple[bool, bool]] = []
    nots_at: list[int] = []
    while True:
        while left > 0 and depth[left - 1] >= lvl:
            left -= 1
        while right < n and depth[right] >= lvl:
            right += 1
        # absorb NOT prefixes directly wrapping the current span
        absorbed = 0
        while True:
            mnot = re.search(r"\bNOT\s*$", masked[:span_l],
                             re.IGNORECASE)
            if mnot and depth[mnot.start()] == lvl:
                absorbed += 1
                span_l = mnot.start()
            else:
                break
        if re.match(r"\s*(?:IS\b|[=<>!])", masked[span_r:],
                    re.IGNORECASE):
            return True  # the (grouped) boolean VALUE is tested
        if lvl == 0 or masked[left] != "(":
            nots_at.append(absorbed)
            break
        if re.match(r"\(\s*(?:SELECT|WITH|VALUES|TABLE)\b",
                    masked[left:], re.IGNORECASE):
            nots_at.append(absorbed)
            break  # the enclosing STATEMENT is this subquery
        j = left - 1
        while j >= 0 and masked[j] in " \t\n\r":
            j -= 1
        if j >= 0 and (masked[j].isalnum() or masked[j] in "_$`"):
            w1 = j
            while w1 > 0 and (masked[w1 - 1].isalnum()
                              or masked[w1 - 1] in "_$`"):
                w1 -= 1
            if masked[w1:j + 1].upper() not in _NIS_GROUPING_KWS:
                return True  # function-call argument: value position
        elif j >= 0 and masked[j] == ",":
            return True  # list element: value position
        elif j >= 0 and masked[j] in "=<>!+-*/%^|":
            return True  # operand of an operator: value position
        nots_at.append(absorbed)
        levels.append(_conn(left, right, lvl))
        span_l, span_r = left, right
        lvl -= 1
    # statement level: clause-scope the context scan (ADVICE r10: an OR
    # in an UNRELATED clause — e.g. the SELECT list — must not demote
    # a conjunctive WHERE predicate to the 3x-scan composite)
    head, head_end, seg_hi = None, left, right
    for mo in _NIS_CLAUSE_RE.finditer(masked, left, right):
        if depth[mo.start()] != lvl:
            continue
        if mo.end() <= span_l:
            head, head_end = mo.group(0), mo.end()
        elif mo.start() >= span_r:
            seg_hi = mo.start()
            break
    if head is None or head.upper() not in _NIS_SAFE_HEADS:
        return True  # value position: SELECT item, THEN/ELSE, comma...
    levels.append(_conn(head_end, seg_hi, lvl))
    # NNF accounting: a NOT wrapping level t's span flips every
    # connective INSIDE it — a conjunction under an odd number of
    # enclosing NOTs is effectively a disjunction (De Morgan), which is
    # exactly how the generative tree surface re-exposed the
    # complementary-dedup collapse via `NOT (P AND NOT P)` (r11). NOTs
    # recorded at iteration u wrap the connectives of iterations < u.
    nots = sum(nots_at)
    effective_not = op_not != (nots % 2 == 1)
    if not effective_not:
        return False  # an effective IN is outcome-safe in any filter
    for t, (has_or, has_and) in enumerate(levels):
        above = sum(nots_at[t + 1:])  # NOTs wrapping level t's span
        if (has_or and above % 2 == 0) or (has_and and above % 2 == 1):
            return True  # effectively disjunctive in NNF
    return False


def _rewrite_nonconjunctive_not_in(stmt: str) -> str:
    """Restore SQL-standard three-valued logic for ``X NOT IN
    (<subquery>)`` in every position upstream Spark 4.1.2 miscompiles
    (r10 found the disjunctive case, r11 extends to value position —
    both pinned in test_differential_fuzz): see
    :func:`_not_in_needs_rewrite` for the position taxonomy. The
    rewrite replaces the predicate with an exactly three-valued
    composite built from EXISTS (two-valued, so Spark's ExistenceJoin
    translation is exact in any boolean OR value position):

        (NOT EXISTS (SELECT 1 FROM (Q) a(v) WHERE v = X)       -- match
         AND NOT ((EXISTS (SELECT 1 FROM (Q) b(v) WHERE v IS NULL)
                   OR (X IS NULL AND EXISTS (SELECT 1 FROM (Q) c(v))))
                  AND CAST(NULL AS BOOLEAN)))                  -- unknown

    Scope, deliberately conservative:
      - only subquery operands (a literal IN-list is an In expression,
        which Spark already evaluates with correct null semantics);
      - probes spelled as a qualified identifier or (r12) a
        parenthesized tuple of qualified identifiers — `(a, b) NOT IN
        (SELECT x, y ...)`, the row-value form Calcite also plans
        null-aware (FlinkSubQueryRemoveRule.scala); the tuple
        composite generalizes the match to a pairwise equality
        conjunction and the unknown guard to `(pairwise =) IS NULL`
        (SQL's AND is exactly the 3VL row comparison). Computed
        expressions keep upstream behavior;
      - a pure-conjunct predicate under WHERE/HAVING/ON/WHEN keeps
        Spark's correct AND efficient null-aware anti join,
        byte-identical;
      - a NOT IN nested inside another rewritten predicate's subquery
        keeps upstream semantics (the outer replacement embeds the
        original inner text; overlapping matches are resolved
        outermost-first so nested rewrites can never corrupt offsets —
        ADVICE r10).
    The caller probes the rewritten statement with a lazy analysis pass
    and falls back to the original text if it does not analyze (e.g. a
    correlated subquery, which the derived-table wrapping would nest
    one correlation level too deep for Spark).

    Scan-cost note (measured, r11): the subquery text is embedded three
    times; a shared-scan form via WITH is physically unreachable —
    Spark inlines CTE references inside subquery expressions (verified:
    8 scan nodes, 0 ReusedSubquery) — but the two guard branches
    collapse to tiny uncorrelated EXISTS reductions (sf1 1.67x,
    plan-audited: 0 CartesianProduct)."""
    from flink_spark.sqltok import mask_literals

    masked = mask_literals(stmt)
    depth: list[int] = []
    d = 0
    for ch in masked:
        if ch == "(":
            d += 1
            depth.append(d)
        elif ch == ")":
            depth.append(d)
            d -= 1
        else:
            depth.append(d)
    accepted: list[tuple[int, int, str, str, int, bool]] = []
    for m in re.finditer(r"\b(?:NOT\s+)?IN\s*\(", masked, re.IGNORECASE):
        op_not = masked[m.start():m.start() + 3].upper() == "NOT"
        q0 = m.end() - 1
        q1 = _match_paren(masked, q0 + 1)
        if q1 < 0:
            continue
        inner = stmt[q0 + 1:q1 - 1]
        if not re.match(
            r"\s*\(*\s*(?:SELECT|WITH)\b", mask_literals(inner),
            re.IGNORECASE,
        ):
            continue  # literal IN-list: expression path is standard
        j = m.start()
        while j > 0 and stmt[j - 1] in " \t\n\r":
            j -= 1
        probes: list[str] | None = None
        lvl: int | None = None
        if j > 0 and stmt[j - 1] == ")":
            # TUPLE probe `(a, b, ...) [NOT] IN (<subquery>)` (r12):
            # walk back to the matching '(' by balance, reject function
            # calls (an identifier word other than a clause/connective
            # keyword directly before the paren), and accept only a
            # comma-list of plain qualified identifiers — computed
            # expressions keep upstream behavior, same as the
            # single-column scope cut.
            bal, i = 1, j - 2
            while i >= 0 and bal:
                if masked[i] == ")":
                    bal += 1
                elif masked[i] == "(":
                    bal -= 1
                i -= 1
            if bal:
                continue
            k0 = i + 1
            w1 = k0 - 1
            while w1 >= 0 and masked[w1] in " \t\n\r":
                w1 -= 1
            if w1 >= 0 and (masked[w1].isalnum() or masked[w1] in "_$`"):
                w0 = w1
                while w0 > 0 and (masked[w0 - 1].isalnum()
                                  or masked[w0 - 1] in "_$`"):
                    w0 -= 1
                if masked[w0:w1 + 1].upper() not in _NIS_GROUPING_KWS:
                    continue  # function-call argument list, not a tuple
            parts = [p.strip() for p in _split_top_level(stmt[k0 + 1:j - 1])]
            if len(parts) < 2 or not all(
                re.fullmatch(r"[A-Za-z_`][\w.$`]*", p)
                and p.count("`") % 2 == 0
                for p in parts
            ):
                continue
            probes, lvl = parts, depth[k0] - 1
        else:
            k0 = j
            while k0 > 0 and (stmt[k0 - 1].isalnum()
                              or stmt[k0 - 1] in "_.$`"):
                k0 -= 1
            probe = stmt[k0:j]
            if not re.fullmatch(r"[A-Za-z_`][\w.$`]*", probe):
                continue  # expression probes: out of scope
            if probe.count("`") % 2 == 1:
                # a backticked identifier with an inner space scans to a
                # truncated fragment (the charset walk stops at the
                # space); the analysis probe would reject the malformed
                # rewrite anyway, but skip it cleanly here
                continue
            probes = [probe]
        # outermost-first (matches ascend by start; a nested candidate
        # starts inside the accepted outer span): skip it — the outer
        # replacement embeds the ORIGINAL inner text, and replacing
        # both would slice the outer span at stale offsets (the exact
        # unbalanced-SQL bug ADVICE r10 reproduced)
        if any(a0 <= k0 < a1 for a0, a1, _, _, _, _ in accepted):
            continue
        if not _not_in_needs_rewrite(masked, depth, k0, q1, op_not, lvl):
            continue
        accepted.append((k0, q1, probes, inner, m.start(), op_not))
    out = stmt
    for k0, q1, probes, inner, tag0, op_not in reversed(accepted):
        tag = f"__nis{tag0}"
        if len(probes) == 1:
            # single-column composite (r11): the unknown guard
            # DECOMPOSES — an UNKNOWN row exists iff the set has a NULL
            # element, or the probe is NULL and the set is non-empty —
            # into uncorrelated/equi EXISTS reductions Catalyst folds
            # to broadcast scalar subplans (plan-audited r11).
            probe = probes[0]
            match = (
                f"EXISTS (SELECT 1 FROM ({inner}) {tag}a(__nis_v) "
                f"WHERE __nis_v = ({probe}))"
            )
            unknown_guard = (
                f"(EXISTS (SELECT 1 FROM ({inner}) {tag}b(__nis_v) "
                f"WHERE __nis_v IS NULL) OR ((({probe}) IS NULL) AND "
                f"EXISTS (SELECT 1 FROM ({inner}) {tag}c(__nis_v))))"
            )
        else:
            # tuple composite (r12): row comparison TRUE iff every pair
            # matches (equi conjunction → hashable ExistenceJoin);
            # UNKNOWN iff the 3VL conjunction of the pair comparisons
            # is UNKNOWN. The natural guard — `(pairwise =) IS NULL`
            # per set row — is a CORRELATED NON-EQUI predicate that
            # plans as a BroadcastNestedLoopJoin: O(probe·set), ~14 s
            # at sf0.1 and a scale-killer at 10× (measured r12). So
            # for the 2-column case the guard is DECOMPOSED by probe-
            # null pattern × element-null pattern into 8 EXISTS that
            # are each either UNCORRELATED (scalar reductions Catalyst
            # broadcasts) or single-column EQUI-correlated (hashable
            # ExistenceJoins): an UNKNOWN row exists iff
            #   p1 NULL & p2 NULL  → Q non-empty (no pair can be FALSE)
            #   p1 NULL & p2 ¬NULL → ∃ v2 NULL  ∨  ∃ v2 = p2
            #   p2 NULL & p1 ¬NULL → ∃ v1 NULL  ∨  ∃ v1 = p1
            #   both ¬NULL         → ∃ (v1 NULL ∧ v2 NULL)
            #                      ∨ ∃ (v1 NULL ∧ v2 = p2)
            #                      ∨ ∃ (v2 NULL ∧ v1 = p1)
            # (pattern count is 3^k − 1, so k ≥ 3 probes keep the
            # compact nested-loop guard — rare, and still bounded by
            # the broadcast set side, matching upstream's own
            # null-aware BNLJ cost class for row-value NOT IN.)
            cols = ", ".join(f"__nis_v{i}" for i in range(len(probes)))
            pairs = " AND ".join(
                f"(__nis_v{i} = ({p}))" for i, p in enumerate(probes)
            )
            match = (
                f"EXISTS (SELECT 1 FROM ({inner}) {tag}a({cols}) "
                f"WHERE {pairs})"
            )
            if len(probes) == 2:
                p1, p2 = probes

                def _g(sub: str, cond: str) -> str:
                    where = f" WHERE {cond}" if cond else ""
                    return (
                        f"EXISTS (SELECT 1 FROM ({inner}) "
                        f"{tag}{sub}({cols}){where})"
                    )

                unknown_guard = (
                    f"((({p1}) IS NULL AND (({p2}) IS NULL AND "
                    f"{_g('b', '')} OR ({p2}) IS NOT NULL AND "
                    f"({_g('c', '__nis_v1 IS NULL')} OR "
                    f"{_g('d', f'__nis_v1 = ({p2})')}))) OR "
                    f"(({p1}) IS NOT NULL AND (({p2}) IS NULL AND "
                    f"({_g('e', '__nis_v0 IS NULL')} OR "
                    f"{_g('f', f'__nis_v0 = ({p1})')}) OR "
                    f"({p2}) IS NOT NULL AND ("
                    f"{_g('g', '__nis_v0 IS NULL AND __nis_v1 IS NULL')}"
                    f" OR {_g('h', f'__nis_v0 IS NULL AND __nis_v1 = ({p2})')}"
                    f" OR {_g('i', f'__nis_v1 IS NULL AND __nis_v0 = ({p1})')}"
                    f"))))"
                )
            else:
                unknown_guard = (
                    f"EXISTS (SELECT 1 FROM ({inner}) {tag}b({cols}) "
                    f"WHERE ({pairs}) IS NULL)"
                )
        if op_not:
            rep = (
                f"(NOT {match} AND NOT ({unknown_guard} "
                f"AND CAST(NULL AS BOOLEAN)))"
            )
        else:
            rep = (
                f"({match} OR ({unknown_guard} "
                f"AND CAST(NULL AS BOOLEAN)))"
            )
        out = out[:k0] + rep + out[q1:]
    return out


#: Backwards-compatible alias (the r10 name; the r11 scope extension
#: covers every non-conjunctive position, not just disjunctions).
_rewrite_disjunctive_not_in = _rewrite_nonconjunctive_not_in


_QCMP_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|SOME|ALL)\s*\(", re.IGNORECASE
)

def _rewrite_quantified_cmp(stmt: str) -> str:
    """Quantified subquery comparisons ``X <op> ANY|SOME|ALL
    (<subquery>)`` (r11) — SQL-standard syntax the reference supports
    natively (Calcite SqlStdOperatorTable.SOME/ALL; Flink's
    SubQueryITCase quantified cases) but Spark 4.1.2 cannot parse at
    all. Rewritten to exactly three-valued EXISTS composites (EXISTS is
    two-valued, so Spark's ExistenceJoin translation is exact in any
    position):

        X op ALL (Q) -> (NOT EXISTS(SELECT 1 FROM (Q) t(v)
                                    WHERE NOT (X op v))
                         AND NOT (EXISTS(SELECT 1 FROM (Q) t(v)
                                         WHERE (X op v) IS NULL)
                                  AND CAST(NULL AS BOOLEAN)))
        X op ANY (Q) -> (EXISTS(SELECT 1 FROM (Q) t(v) WHERE X op v)
                         OR (EXISTS(SELECT 1 FROM (Q) t(v)
                                    WHERE (X op v) IS NULL)
                             AND CAST(NULL AS BOOLEAN)))

    Standard semantics preserved: ALL over empty Q is TRUE, ANY over
    empty Q is FALSE; a NULL comparison (NULL element or NULL probe)
    yields UNKNOWN unless decided by a definite row (a FALSE for ALL, a
    TRUE for ANY). Scope mirrors the NOT IN rewrite: subquery operands,
    identifier probes; anything else is left for Spark to reject (there
    is no upstream fallback semantics — upstream has no ANY/ALL).

    CORRELATED Q is supported through the SAME composite (r12,
    measured): Spark 4.1.2 resolves outer references nested inside the
    derived-table wrap — plain correlation, correlated aggregates
    (with and without GROUP BY), DISTINCT, ORDER/LIMIT, and window
    functions in Q all analyze AND execute exactly (96-case matrix vs
    DuckDB's first-principles expansion; DuckDB's own NATIVE correlated
    `= ANY` is deviant there, see test_differential_fuzz). The r11
    note that the wrap "nests one correlation level too deep" is
    obsolete upstream. What still fails analysis — and then raises the
    caller's clean unsupported-shape error, never a silent fallback —
    is an outer reference MORE than one subquery level away from the
    quantified predicate (e.g. `r.x` inside an EXISTS nested within Q,
    or the whole comparison inside another subquery correlating out to
    `r`): a rewrite cannot reduce that nesting (a splice form folding
    the comparison into Q's WHERE was prototyped and rescued neither
    shape — the depth is intrinsic). Reference parity: Calcite
    decorrelates quantified comparisons natively (SqlQuantifyOperator;
    flink-table-planner SubQueryITCase)."""
    from flink_spark.sqltok import mask_literals

    masked = mask_literals(stmt)
    accepted: list[tuple[int, int, str, str, str, str, int]] = []
    for m in _QCMP_RE.finditer(masked):
        q0 = m.end() - 1
        q1 = _match_paren(masked, q0 + 1)
        if q1 < 0:
            continue
        inner = stmt[q0 + 1:q1 - 1]
        if not re.match(
            r"\s*\(*\s*(?:SELECT|WITH)\b", mask_literals(inner),
            re.IGNORECASE,
        ):
            continue  # e.g. the any()/some() boolean aggregates
        j = m.start()
        while j > 0 and stmt[j - 1] in " \t\n\r":
            j -= 1
        k0 = j
        while k0 > 0 and (stmt[k0 - 1].isalnum()
                          or stmt[k0 - 1] in "_.$`"):
            k0 -= 1
        probe = stmt[k0:j]
        if not re.fullmatch(r"[A-Za-z_`][\w.$`]*", probe):
            continue
        if probe.count("`") % 2 == 1:
            continue
        # bare operator adjacency (ADVICE r11): with no parens around
        # the predicate, the charset walk truncates a COMPOSITE probe —
        # `a || b > ALL (q)` would take `b` and silently compute a
        # string concat where the reference parses `(a || b) > ALL (q)`
        # (boolean implicitly casts under ||, so the analysis probe
        # passes); and `x > ALL (q) IS NULL` is syntax BOTH engines
        # reject that a textual replacement would liberally accept.
        # Mirror the hazard guards at the top of _not_in_needs_rewrite:
        # skip when an operator abuts either side.
        if re.search(r"[=<>!+\-*/%^&|]\s*$", masked[:k0]):
            continue
        if re.match(r"\s*(?:IS\b|\|\||[=<>!+\-*/%^&])", masked[q1:],
                    re.IGNORECASE):
            continue
        if any(a0 <= k0 < a1 for a0, a1, *_ in accepted):
            continue  # nested inside an outer accepted span
        accepted.append(
            (k0, q1, probe, m.group(1), m.group(2).upper(), inner,
             m.start())
        )
    out = stmt
    for k0, q1, probe, op, quant, inner, tag0 in reversed(accepted):
        tag = f"__qc{tag0}"
        cmp_ = f"(({probe}) {op} __qc_v)"
        guard = (
            f"EXISTS (SELECT 1 FROM ({inner}) {tag}b(__qc_v) "
            f"WHERE {cmp_} IS NULL)"
        )
        if quant == "ALL":
            rep = (
                f"(NOT EXISTS (SELECT 1 FROM ({inner}) {tag}a(__qc_v) "
                f"WHERE NOT {cmp_}) AND NOT ({guard} "
                f"AND CAST(NULL AS BOOLEAN)))"
            )
        else:  # ANY / SOME
            rep = (
                f"(EXISTS (SELECT 1 FROM ({inner}) {tag}a(__qc_v) "
                f"WHERE {cmp_}) OR ({guard} "
                f"AND CAST(NULL AS BOOLEAN)))"
            )
        out = out[:k0] + rep + out[q1:]
    return out


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside (), <>, or quotes."""
    out, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "(<":
            depth += 1
            cur.append(ch)
        elif ch in ")>":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


class StatementSet:
    """Multi-sink statement set (reference TableEnvironmentImpl
    .createStatementSet; SqlExecute/statement sets in the DDL parser):
    buffer INSERTs, run them as one unit. Flink dedups common subplans
    across the set (StreamCommonSubGraphBasedOptimizer.scala:47); the
    Spark analog caches sources referenced by more than one statement for
    the duration of the execute."""

    def __init__(self, env: "TableEnvironment"):
        self.env = env
        self._inserts: list[str] = []

    def add_insert_sql(self, sql: str) -> "StatementSet":
        self._inserts.append(sql)
        return self

    def execute(self) -> None:
        import re as _re

        # shared-scan detection: tables referenced by 2+ inserts get cached
        # for the duration of the set (the common-subplan dedup analog)
        counts: dict[str, int] = {}
        for stmt in self._inserts:
            for v in set(_re.findall(r"\bFROM\s+([\w.]+)", stmt, _re.IGNORECASE)):
                counts[v] = counts.get(v, 0) + 1
        cached = []
        for v in [v for v, n in counts.items() if n > 1]:
            try:
                df = self.env.spark.table(v)
                df.cache()
                cached.append(df)
            except Exception:
                pass
        try:
            for stmt in self._inserts:
                self.env.execute_sql(stmt)
        finally:
            for df in cached:
                df.unpersist()
