"""Materialized tables (FLIP-435; reference
flink-sql-parser ddl/materializedtable/SqlCreateMaterializedTable.java,
SqlAlterMaterializedTableSuspend/Resume/Refresh.java, config defaults in
flink-table-api-java MaterializedTableConfigOptions.java:45-77).

Spark-first mapping: a materialized table is a parquet snapshot store plus
a refresh policy over the defining query.

- **Storage** is versioned: every refresh writes a complete new snapshot
  directory ``v=<n>`` and the registered temp view is re-pointed at it
  afterwards, so readers never observe a half-written table (the same
  snapshot-swap discipline an Iceberg/Delta commit gives on a real
  cluster; plain INSERT OVERWRITE would tear concurrent reads).
- **Refresh mode** follows the reference's derivation
  (MaterializedTableConfigOptions.java:45): an explicit ``REFRESH_MODE``
  wins; otherwise FRESHNESS below the ``freshness-threshold`` (default
  30 min) selects ``continuous``, else ``full``.
- **continuous** over a streaming defining query runs a Structured
  Streaming job into the snapshot store; over batch sources it degrades
  to a background full-recompute loop at the freshness interval — the
  honest Spark analog of Flink's workflow-scheduler-driven refresh.
- **SUSPEND / RESUME / REFRESH** map to stopping/restarting the refresh
  loop (or streaming query) and a one-shot synchronous refresh.

At 100 TB the full-refresh path is one batch job per period whose plan is
whatever Catalyst picks for the defining query (all pushdown/AQE applies);
the store itself is append-a-snapshot + atomic pointer swap, which scales
with the query, not with table history (old snapshots are pruned to the
last two).
"""

from __future__ import annotations

import re
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from flink_spark.exprutil import empty_frame

#: reference default: materialized-table.refresh-mode.freshness-threshold
FRESHNESS_THRESHOLD_SEC = 30 * 60

_UNIT_SEC = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}

MT_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:(?P<oralter>OR\s+ALTER)\s+)?"
    r"MATERIALIZED\s+TABLE\s+(?P<name>[\w.]+)\s*"
    r"(?:PARTITIONED\s+BY\s*\(\s*(?P<part>[\w,\s]+?)\s*\)\s*)?"
    r"(?:DISTRIBUTED\s+BY\s+(?:HASH\s*)?\(\s*(?P<dkeys>[\w,\s]+?)\s*\)\s+"
    r"INTO\s+(?P<dbuck>\d+)\s+BUCKETS\s*)?"
    r"(?:WITH\s*\((?P<opts>.*?)\)\s*)?"
    r"(?:FRESHNESS\s*=\s*INTERVAL\s+'(?P<fn>[\d.]+)'\s+(?P<fu>\w+)\s*)?"
    r"(?:REFRESH_MODE\s*=\s*(?P<mode>FULL|CONTINUOUS)\s*)?"
    r"AS\s+(?P<query>.+)$",
    re.IGNORECASE | re.DOTALL,
)

MT_ALTER_RE = re.compile(
    r"^\s*ALTER\s+MATERIALIZED\s+TABLE\s+(?P<name>[\w.]+)\s+"
    r"(?P<verb>SUSPEND|RESUME|REFRESH)"
    r"(?:\s+PARTITION\s*\(\s*(?P<pcol>\w+)\s*=\s*'(?P<pval>[^']*)'\s*\))?\s*$",
    re.IGNORECASE,
)

#: Extended ALTER variants (reference ddl/materializedtable/
#: SqlAlterMaterializedTableAsQuery.java, ...Freshness.java,
#: ...RefreshMode.java, ...Options.java, ...Reset.java, ...Resume.java
#: with properties).
MT_ALTER_EXT_RE = re.compile(
    r"^\s*ALTER\s+MATERIALIZED\s+TABLE\s+(?P<name>[\w.]+)\s+"
    r"(?:"
    r"(?:AS\s+(?P<q>.+))"
    r"|(?:SET\s+FRESHNESS\s*=\s*INTERVAL\s+'(?P<fn>[\d.]+)'\s+(?P<fu>\w+))"
    r"|(?:SET\s+REFRESH_MODE\s*=\s*(?P<mode>FULL|CONTINUOUS))"
    r"|(?:SET\s*\(\s*(?P<sopts>.*?)\s*\))"
    r"|(?:RESET\s*\(\s*(?P<rkeys>.*?)\s*\))"
    r"|(?:RESUME\s+WITH\s*\(\s*(?P<ropts>.*?)\s*\))"
    r"|(?:MODIFY\s+DISTRIBUTION\s+BY\s+(?:HASH\s*)?"
    r"\(\s*(?P<mdkeys>[\w,\s]+?)\s*\)\s+INTO\s+(?P<mdbuck>\d+)\s+BUCKETS)"
    r"|(?P<dropdist>DROP\s+DISTRIBUTION)"
    r")\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: ALTER MATERIALIZED TABLE <name> ADD/MODIFY <schema parts> (reference
#: ddl/materializedtable/SqlAlterMaterializedTableSchema.java; converters
#: SqlAlterMaterializedTableSchemaConverter.java). Matched AFTER
#: MT_ALTER_EXT_RE so MODIFY/DROP DISTRIBUTION keep their dedicated path;
#: ADD DISTRIBUTION is handled inside alter_schema.
MT_ALTER_SCHEMA_RE = re.compile(
    r"^\s*ALTER\s+MATERIALIZED\s+TABLE\s+(?P<name>[\w.]+)\s+"
    r"(?P<verb>ADD|MODIFY)\s+(?P<body>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: ALTER MATERIALIZED TABLE <name> DROP <schema component> (reference
#: SqlAlterMaterializedTableDropSchemaConverter.java: DROP PRIMARY KEY /
#: DROP CONSTRAINT <name> / DROP WATERMARK / DROP col / DROP (c1, c2)).
MT_ALTER_DROP_SCHEMA_RE = re.compile(
    r"^\s*ALTER\s+MATERIALIZED\s+TABLE\s+(?P<name>[\w.]+)\s+DROP\s+"
    r"(?:(?P<pk>PRIMARY\s+KEY)|(?P<wm>WATERMARK)"
    r"|CONSTRAINT\s+(?P<cname>\w+)"
    r"|\(\s*(?P<cols>[\w\s,]+?)\s*\)|(?P<col>\w+))\s*$",
    re.IGNORECASE,
)

#: ADD DISTRIBUTION BY [HASH|RANGE] (keys) [INTO n BUCKETS] (reference
#: SqlAlterMaterializedTableAddDistributionConverter.java — errors when a
#: distribution is already defined).
_MT_ADD_DIST_RE = re.compile(
    r"^DISTRIBUTION\s+BY\s+(?:(?P<kind>HASH|RANGE)\s*)?"
    r"\(\s*(?P<keys>[\w,\s]+?)\s*\)"
    r"(?:\s+INTO\s+(?P<buck>\d+)\s+BUCKETS)?$",
    re.IGNORECASE,
)

# -- schema-item grammar (shared by CREATE MT schema block and ALTER
#    ADD/MODIFY; reference parser MaterializedTableStatementParserTest) --
_WM_ITEM_RE = re.compile(
    r"^WATERMARK\s+FOR\s+(?P<col>[\w.]+)\s+AS\s+(?P<expr>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_PK_ITEM_RE = re.compile(
    r"^(?:CONSTRAINT\s+(?P<cname>\w+)\s+)?PRIMARY\s+KEY\s*"
    r"\(\s*(?P<cols>[\w\s,]+?)\s*\)"
    r"(?:\s+(?P<notenf>NOT\s+ENFORCED)|\s+(?P<enf>ENFORCED))?$",
    re.IGNORECASE,
)
_UNIQUE_ITEM_RE = re.compile(r"^UNIQUE\s*\(", re.IGNORECASE)
_COMPUTED_ITEM_RE = re.compile(
    r"^(?P<name>[\w.]+)\s+AS\s+(?P<expr>.+?)"
    r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
    r"(?:\s+(?P<first>FIRST)|\s+AFTER\s+(?P<after>[\w.]+))?$",
    re.IGNORECASE | re.DOTALL,
)
_PHYS_ITEM_RE = re.compile(
    r"^(?P<name>[\w.]+)\s+(?P<type>.+?)"
    r"(?P<notnull>\s+NOT\s+NULL)?"
    r"(?:\s+(?P<md>METADATA)(?:\s+FROM\s+'(?P<mdkey>[^']+)')?"
    r"(?P<virtual>\s+VIRTUAL)?)?"
    r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
    r"(?:\s+(?P<first>FIRST)|\s+AFTER\s+(?P<after>[\w.]+))?$",
    re.IGNORECASE | re.DOTALL,
)

#: SQL-standard numeric precedence ladder for implicit casts (reference
#: LogicalTypeCasts.supportsImplicitCast: widening only).
_NUM_LADDER = ["TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "DECIMAL", "FLOAT", "DOUBLE"]

_MT_OPT_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")

MT_DROP_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.]+)\s*$",
    re.IGNORECASE,
)


def extract_schema_block(stmt: str) -> tuple[str, str | None]:
    """Pull the optional `(<schema parts>)` block out of a CREATE [OR
    ALTER] MATERIALIZED TABLE statement (reference
    SqlCreateMaterializedTable.java column list) so MT_CREATE_RE can match
    the remainder; returns (stmt_without_block, block_text|None)."""
    m = re.match(
        r"(\s*CREATE\s+(?:OR\s+ALTER\s+)?MATERIALIZED\s+TABLE\s+[\w.]+\s*)\(",
        stmt, re.IGNORECASE,
    )
    if not m:
        return stmt, None
    i = m.end() - 1
    depth = 0
    q = None
    for j in range(i, len(stmt)):
        ch = stmt[j]
        if q:
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return stmt[:i] + " " + stmt[j + 1:], stmt[i + 1:j]
    return stmt, None


def _parse_schema_items(body: str) -> list[dict]:
    """Parse the schema-part list of CREATE/ALTER MATERIALIZED TABLE:
    columns (physical / computed / metadata), WATERMARK, and PRIMARY KEY,
    with FIRST/AFTER positions and COMMENTs (reference grammar pinned by
    flink-sql-parser MaterializedTableStatementParserTest.java:354-500)."""
    from flink_spark.catalog import _split_top_level

    body = body.strip()
    if body.startswith("(") and body.endswith(")"):
        # verify the outer parens actually wrap the WHOLE body (vs a
        # single computed item like `(a + b) ...` — not valid here, but
        # `primary key (a)` style items never hit this branch anyway)
        depth = 0
        for i, ch in enumerate(body):
            depth += (ch == "(") - (ch == ")")
            if depth == 0 and i < len(body) - 1:
                break
        else:
            body = body[1:-1]
    items = []
    for raw in _split_top_level(body):
        it = raw.strip()
        if not it:
            continue
        if _UNIQUE_ITEM_RE.match(it):
            raise ValueError("UNIQUE constraint is not supported yet")
        m = _WM_ITEM_RE.match(it)
        if m:
            items.append({"kind": "watermark", "col": m.group("col"),
                          "expr": m.group("expr").strip()})
            continue
        m = _PK_ITEM_RE.match(it)
        if m:
            if m.group("enf"):
                raise ValueError(
                    "Flink doesn't support ENFORCED mode for PRIMARY KEY "
                    "constraint. The only supported mode is NOT ENFORCED"
                )
            items.append({
                "kind": "pk", "cname": m.group("cname"),
                "cols": [c.strip() for c in m.group("cols").split(",")],
            })
            continue
        m = _COMPUTED_ITEM_RE.match(it)
        # `name AS expr` — but guard against a physical column whose type
        # text merely contains ' AS ' (none do in Flink's type grammar)
        if m and m.group("name").upper() not in ("WATERMARK", "CONSTRAINT"):
            items.append({
                "kind": "computed", "name": m.group("name"),
                "expr": m.group("expr").strip(),
                "comment": m.group("comment"),
                "pos": ("first" if m.group("first")
                        else ("after", m.group("after")) if m.group("after")
                        else None),
            })
            continue
        m = _PHYS_ITEM_RE.match(it)
        if m:
            items.append({
                "kind": "metadata" if m.group("md") else "physical",
                "name": m.group("name"), "type": m.group("type").strip(),
                "notnull": bool(m.group("notnull")),
                "mdkey": m.group("mdkey"),
                "virtual": bool(m.group("virtual")),
                "comment": m.group("comment"),
                "pos": ("first" if m.group("first")
                        else ("after", m.group("after")) if m.group("after")
                        else None),
            })
            continue
        raise ValueError(f"cannot parse schema item: {it!r}")
    if sum(1 for i in items if i["kind"] == "watermark") > 1:
        raise ValueError("Multiple WATERMARK declarations are not supported yet.")
    return items


def _type_parts(t: str) -> tuple[str, list[int]]:
    m = re.match(r"\s*(\w+)\s*(?:\(\s*([\d,\s]+)\s*\))?", t)
    base = (m.group(1) if m else t).upper()
    if base == "INT":
        base = "INTEGER"
    if base == "NUMERIC":
        base = "DECIMAL"
    params = [int(p) for p in (m.group(2) or "").replace(" ", "").split(",")
              if p] if m else []
    return base, params


def _supports_implicit_cast(old: str, new: str) -> bool:
    """Approximation of the reference's LogicalTypeCasts
    .supportsImplicitCast (widening-only): numeric ladder up, char-family
    length growth, timestamp precision growth, else exact match."""
    ob, op = _type_parts(old)
    nb, np_ = _type_parts(new)
    if ob == nb:
        if ob == "DECIMAL":
            ops = op or [10, 0]
            nps = np_ or [10, 0]
            return nps[0] >= ops[0] and (nps[1:] or [0]) >= (ops[1:] or [0])
        if ob in ("VARCHAR", "CHAR", "TIMESTAMP", "TIMESTAMP_LTZ", "TIME",
                  "BINARY", "VARBINARY"):
            if not np_:
                return True
            return (np_[0] >= op[0]) if op else False
        return True
    if ob in _NUM_LADDER and nb in _NUM_LADDER:
        return _NUM_LADDER.index(ob) <= _NUM_LADDER.index(nb)
    char_family = {"CHAR", "VARCHAR", "STRING"}
    if ob in char_family and nb in char_family:
        if nb == "STRING" or not np_:
            return True
        olen = op[0] if op else (2**31 - 1 if ob == "STRING" else 1)
        return np_[0] >= olen
    return False


@dataclass
class MaterializedTable:
    """One materialized table: defining query + snapshot store + policy."""

    name: str
    as_query: str
    freshness_sec: float
    refresh_mode: str           # 'full' | 'continuous'
    root: str                   # storage root; snapshots live at root/v=<n>
    partition_keys: list[str] = field(default_factory=list)
    state: str = "RUNNING"      # 'RUNNING' | 'SUSPENDED'
    options: dict = field(default_factory=dict)   # WITH / SET options
    mode_explicit: bool = False  # REFRESH_MODE pinned by DDL (vs derived)
    dist_keys: list = field(default_factory=list)  # DISTRIBUTED BY keys
    dist_buckets: int | None = None
    dist_kind: str = "hash"      # 'hash' | 'range' clustering per snapshot
    #: declared schema (None = exactly the defining query's schema).
    #: Entries: {'name','kind':'physical'|'computed'|'metadata','type',
    #: 'expr','comment','virtual','notnull','mdkey'}; physical/persisted-
    #: metadata columns must be produced by the defining query (reference
    #: MaterializedTableUtils.validatePersistedColumnsUsedByQuery).
    schema_cols: list | None = None
    watermark: tuple | None = None      # (col, expr_sql)
    primary_key: tuple | None = None    # (constraint_name|None, [cols])
    version: int = 0
    last_refresh: float | None = None
    commits: dict = field(default_factory=dict)  # version -> commit epoch
    streaming: bool = False     # continuous mode over a streaming query
    _thread: threading.Thread | None = None
    _stop: threading.Event = field(default_factory=threading.Event)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _stream_query: object | None = None


class MaterializedTableManager:
    """Owns every materialized table of one TableEnvironment."""

    def __init__(self, spark, freshness_threshold_sec: float = FRESHNESS_THRESHOLD_SEC):
        self.spark = spark
        self.threshold = freshness_threshold_sec
        self.tables: dict[str, MaterializedTable] = {}

    # -- DDL entry points --------------------------------------------------

    def _merge_create_schema(self, probe, schema_text: str):
        """CREATE MATERIALIZED TABLE (<schema>) merge (reference
        SchemaBuilderUtil via SqlCreateMaterializedTable): the declared
        parts enrich the query-derived schema — type overrides must be
        implicit-cast compatible, computed/virtual-metadata columns are
        appended at their positions, persisted columns must be produced
        by the query."""
        items = _parse_schema_items(schema_text)
        qtypes = {f.name: f.dataType.simpleString()
                  for f in probe.schema.fields}
        cols = [
            {"kind": "physical", "name": f.name, "type": None,
             "comment": None, "virtual": False, "notnull": False,
             "mdkey": None, "expr": None}
            for f in probe.schema.fields
        ]
        wm = pk = None
        for it in items:
            if it["kind"] == "watermark":
                wm = (it["col"], it["expr"])
                continue
            if it["kind"] == "pk":
                pk = (it["cname"], it["cols"])
                continue
            if "." in it["name"]:
                raise ValueError(
                    "nested-field declarations on materialized tables are "
                    f"not supported: {it['name']!r}"
                )
            persisted = (it["kind"] == "physical"
                         or (it["kind"] == "metadata" and not it["virtual"]))
            if persisted and it["name"] not in qtypes:
                raise ValueError(
                    f"Invalid column '{it['name']}': a persisted column of "
                    "a materialized table must be used by the defining query."
                )
            existing = {c["name"]: c for c in cols}
            if it["name"] in existing:
                old = existing[it["name"]]
                if it["kind"] in ("physical", "metadata") and it.get("type") \
                        and not _supports_implicit_cast(
                            qtypes[it["name"]], it["type"]):
                    raise ValueError(
                        f"Column '{it['name']}' with type "
                        f"{qtypes[it['name']]} can not be declared as type "
                        f"{it['type']}."
                    )
                old.update({k: it.get(k) for k in
                            ("kind", "type", "expr", "comment", "virtual",
                             "notnull", "mdkey")})
            else:
                entry = {k: it.get(k) for k in
                         ("name", "kind", "type", "expr", "comment",
                          "virtual", "notnull", "mdkey")}
                self._insert_at(cols, entry, it.get("pos"))
        # when the block spells out EVERY query column, the declared
        # order IS the schema order (a fully-spelled schema block defines
        # the table; SHOW CREATE emits this form so its DDL round-trips
        # including positions)
        item_order = [it["name"] for it in items if "name" in it]
        if set(qtypes) <= set(item_order):
            by_name = {c["name"]: c for c in cols}
            cols = [by_name[n] for n in item_order if n in by_name]
        declared = {c["name"] for c in cols}
        if wm and wm[0] not in declared:
            raise ValueError(f"WATERMARK references unknown column {wm[0]!r}")
        if pk:
            missing = [c for c in pk[1] if c not in declared]
            if missing:
                raise ValueError(
                    f"PRIMARY KEY references unknown column(s) {missing}"
                )
        return cols, wm, pk

    def create(self, m: re.Match, schema_text: str | None = None) -> None:
        name = m.group("name")
        if name in self.tables:
            if m.group("oralter"):
                # CREATE OR ALTER MATERIALIZED TABLE (reference
                # SqlCreateOrAlterMaterializedTable.java): existing table
                # takes the new definition in place — policy first, then
                # the defining query (AS-replacement schema rules apply);
                # snapshot history and version counter carry over.
                mt = self.tables[name]
                if m.group("fn"):
                    mt.freshness_sec = (
                        float(m.group("fn"))
                        * _UNIT_SEC[m.group("fu").lower()]
                    )
                if m.group("mode"):
                    mt.refresh_mode = m.group("mode").lower()
                    mt.mode_explicit = True
                elif m.group("fn") and not mt.mode_explicit:
                    mt.refresh_mode = (
                        "continuous" if mt.freshness_sec < self.threshold
                        else "full"
                    )
                mt.options.update(
                    {o.group("k"): o.group("v")
                     for o in _MT_OPT_RE.finditer(m.group("opts") or "")}
                )
                if m.group("dkeys"):
                    mt.dist_keys = [
                        c.strip() for c in m.group("dkeys").split(",")
                        if c.strip()
                    ]
                    mt.dist_buckets = int(m.group("dbuck"))
                self._alter_as_query(mt, m.group("query").strip())
                # the new statement's schema block replaces any declared
                # schema wholesale (CREATE OR ALTER takes the definition
                # as written; omitting the block resets to query schema)
                probe2 = self.spark.sql(mt.as_query)
                if schema_text is not None:
                    (mt.schema_cols, mt.watermark,
                     mt.primary_key) = self._merge_create_schema(
                        probe2, schema_text)
                else:
                    mt.schema_cols = None
                    mt.watermark = None
                    mt.primary_key = None
                self._repoint_view(mt)
                return None
            raise ValueError(f"materialized table {name!r} already exists")
        fn, fu = m.group("fn"), m.group("fu")
        if fn:
            freshness = float(fn) * _UNIT_SEC[fu.lower()]
        else:
            # reference defaults: 10s continuous / 30min full when omitted
            freshness = float(self.threshold)
        mode = (m.group("mode") or "").lower()
        if not mode:
            mode = "continuous" if freshness < self.threshold else "full"
        part = [c.strip() for c in (m.group("part") or "").split(",") if c.strip()]
        root = tempfile.mkdtemp(prefix=f"flink_spark_mt_{name}_")
        mt = MaterializedTable(
            name=name, as_query=m.group("query").strip(),
            freshness_sec=freshness, refresh_mode=mode, root=root,
            partition_keys=part,
            options={o.group("k"): o.group("v")
                     for o in _MT_OPT_RE.finditer(m.group("opts") or "")},
            mode_explicit=bool(m.group("mode")),
            dist_keys=[c.strip() for c in (m.group("dkeys") or "").split(",")
                       if c.strip()],
            dist_buckets=(int(m.group("dbuck"))
                          if m.group("dbuck") else None),
        )
        # probe before registering: an invalid defining query must not leave
        # a half-registered table (and leaked tempdir) behind (ADVICE r2)
        try:
            probe = self.spark.sql(mt.as_query)
            if schema_text is not None:
                (mt.schema_cols, mt.watermark,
                 mt.primary_key) = self._merge_create_schema(
                    probe, schema_text)
                # force analysis of the declared projection so a bad
                # computed expression fails the CREATE, not the refresh
                self._apply_schema_to(probe, mt.schema_cols).schema
        except Exception:
            shutil.rmtree(root, ignore_errors=True)
            raise
        self.tables[name] = mt
        try:
            self._finish_create(mt, probe)
        except Exception:
            del self.tables[name]
            shutil.rmtree(root, ignore_errors=True)
            raise

    def _finish_create(self, mt: MaterializedTable, probe) -> None:
        if probe.isStreaming:
            # genuinely continuous: the defining query IS a streaming
            # plan — run it as one Structured Streaming job into the
            # store (micro-batch cadence = freshness), not a recompute
            # loop. Append-only defining queries only (a parquet sink
            # constraint shared with any file-backed store).
            mt.refresh_mode = "continuous"
            mt.streaming = True
            self._start_stream(mt, probe)
            return
        # start mode default: initialize from scratch with an immediate
        # refresh, then keep it fresh (SqlStartMode.java START_FROM_SCRATCH)
        self.refresh(mt.name)
        self._start_loop(mt)

    def alter(self, m: re.Match) -> None:
        name, verb = m.group("name"), m.group("verb").upper()
        mt = self._get(name)
        if verb == "REFRESH":
            if mt.streaming:
                raise ValueError(
                    "streaming materialized table refreshes continuously; "
                    "SUSPEND/RESUME control it"
                )
            pcol = m.group("pcol")
            if pcol:
                self.refresh(name, partition=(pcol, m.group("pval")))
            else:
                self.refresh(name)
        elif verb == "SUSPEND":
            if mt.streaming:
                self._stop_stream(mt)
            else:
                self._stop_loop(mt)
            mt.state = "SUSPENDED"
        elif verb == "RESUME":
            if mt.state == "SUSPENDED":
                mt.state = "RUNNING"
                if mt.streaming:
                    self._start_stream(mt, self.spark.sql(mt.as_query))
                else:
                    self._start_loop(mt)

    def alter_extended(self, m: re.Match) -> None:
        """Extended ALTER MATERIALIZED TABLE variants (reference
        ddl/materializedtable/): AS-query replacement, SET FRESHNESS,
        SET REFRESH_MODE, SET/RESET options, RESUME WITH options."""
        name = m.group("name")
        mt = self._get(name)
        if m.group("q") is not None:
            return self._alter_as_query(mt, m.group("q").strip())
        if m.group("fn") is not None:
            unit = m.group("fu").lower()
            if unit not in _UNIT_SEC:
                raise ValueError(
                    f"SET FRESHNESS: unknown interval unit {m.group('fu')!r}"
                )
            mt.freshness_sec = float(m.group("fn")) * _UNIT_SEC[unit]
            if not mt.mode_explicit and not mt.streaming:
                # derived mode follows the freshness threshold
                # (materialized-table.refresh-mode.freshness-threshold)
                mt.refresh_mode = (
                    "continuous" if mt.freshness_sec < self.threshold
                    else "full"
                )
            self._restart_machinery(mt)
            return None
        if m.group("mode") is not None:
            if mt.streaming and m.group("mode").upper() == "FULL":
                raise ValueError(
                    "a streaming defining query refreshes continuously; "
                    "FULL refresh mode does not apply"
                )
            mt.refresh_mode = m.group("mode").lower()
            mt.mode_explicit = True
            self._restart_machinery(mt)
            return None
        if m.group("sopts") is not None:
            mt.options.update(
                {o.group("k"): o.group("v")
                 for o in _MT_OPT_RE.finditer(m.group("sopts"))}
            )
            return None
        if m.group("rkeys") is not None:
            for k in m.group("rkeys").split(","):
                mt.options.pop(k.strip().strip("'"), None)
            return None
        if m.group("mdkeys") is not None:
            # MODIFY DISTRIBUTION (SqlAlterMaterializedTableDistribution):
            # next snapshot writes under the new clustering
            mt.dist_keys = [c.strip() for c in m.group("mdkeys").split(",")
                            if c.strip()]
            mt.dist_buckets = int(m.group("mdbuck"))
            return None
        if m.group("dropdist") is not None:
            mt.dist_keys, mt.dist_buckets = [], None
            return None
        if m.group("ropts") is not None:
            # RESUME WITH ('k'='v'): apply the properties, then resume
            mt.options.update(
                {o.group("k"): o.group("v")
                 for o in _MT_OPT_RE.finditer(m.group("ropts"))}
            )
            if mt.state == "SUSPENDED":
                mt.state = "RUNNING"
                if mt.streaming:
                    self._start_stream(mt, self.spark.sql(mt.as_query))
                else:
                    self._start_loop(mt)
            return None
        raise ValueError("unrecognized ALTER MATERIALIZED TABLE form")

    # -- ALTER ... ADD / MODIFY / DROP schema parts --------------------------

    def _query_col_names(self, mt: MaterializedTable) -> list[str]:
        return [f.name for f in self.spark.sql(mt.as_query).schema.fields]

    def _ensure_schema_cols(self, mt: MaterializedTable) -> list[dict]:
        """Materialize the declared-schema list; None means 'exactly the
        query schema', expanded here on first schema-altering DDL."""
        if mt.schema_cols is None:
            mt.schema_cols = [
                {"kind": "physical", "name": n, "type": None,
                 "comment": None, "virtual": False, "notnull": False,
                 "mdkey": None, "expr": None}
                for n in self._query_col_names(mt)
            ]
        return mt.schema_cols

    @staticmethod
    def _insert_at(cols: list[dict], entry: dict, pos) -> None:
        if pos == "first":
            cols.insert(0, entry)
            return
        if isinstance(pos, tuple) and pos[0] == "after":
            for i, c in enumerate(cols):
                if c["name"] == pos[1]:
                    cols.insert(i + 1, entry)
                    return
            raise ValueError(
                f"referenced column {pos[1]!r} in AFTER does not exist"
            )
        cols.append(entry)

    def _view_types(self, mt: MaterializedTable) -> dict:
        try:
            return {f.name: f.dataType.simpleString()
                    for f in self.spark.table(mt.name).schema.fields}
        except Exception:
            return {}

    def alter_schema(self, m: re.Match) -> None:
        """ALTER MATERIALIZED TABLE ADD/MODIFY schema parts (reference
        SqlAlterMaterializedTableSchemaConverter.java): persisted
        (physical / non-virtual metadata) columns must be produced by the
        defining query; MODIFY keeps the column kind and only widens types
        (LogicalTypeCasts.supportsImplicitCast); one watermark; PRIMARY
        KEY only NOT ENFORCED. ADD DISTRIBUTION errors when a
        distribution already exists (AddDistributionConverter)."""
        mt = self._get(m.group("name"))
        verb = m.group("verb").upper()
        body = m.group("body").strip()
        dm = _MT_ADD_DIST_RE.match(body)
        if dm and verb == "ADD":
            if mt.dist_keys:
                raise ValueError(
                    "The current materialized table has already defined "
                    f"the distribution ({', '.join(mt.dist_keys)}). "
                    "You can modify it or drop it before adding a new one."
                )
            mt.dist_keys = [c.strip() for c in dm.group("keys").split(",")
                            if c.strip()]
            mt.dist_buckets = (int(dm.group("buck"))
                               if dm.group("buck") else None)
            mt.dist_kind = (dm.group("kind") or "hash").lower()
            return None
        items = _parse_schema_items(body)
        import copy

        new_cols = copy.deepcopy(self._ensure_schema_cols(mt))
        new_wm, new_pk = mt.watermark, mt.primary_key
        qnames = set(self._query_col_names(mt))
        view_types = self._view_types(mt)
        for it in items:
            if it["kind"] == "watermark":
                if verb == "ADD" and new_wm is not None:
                    raise ValueError(
                        "The materialized table already defines a "
                        "watermark strategy; use MODIFY to change it."
                    )
                if verb == "MODIFY" and new_wm is None:
                    raise ValueError(
                        "The materialized table does not define a "
                        "watermark strategy; use ADD to define one."
                    )
                if it["col"] not in [c["name"] for c in new_cols]:
                    raise ValueError(
                        f"WATERMARK references unknown column {it['col']!r}"
                    )
                new_wm = (it["col"], it["expr"])
                continue
            if it["kind"] == "pk":
                if verb == "ADD" and new_pk is not None:
                    raise ValueError(
                        "The materialized table already defines a primary "
                        "key constraint; drop it before adding a new one."
                    )
                if verb == "MODIFY" and new_pk is None:
                    raise ValueError(
                        "The materialized table does not define any primary "
                        "key constraint. You might want to add a new one."
                    )
                declared = {c["name"] for c in new_cols}
                missing = [c for c in it["cols"] if c not in declared]
                if missing:
                    raise ValueError(
                        f"PRIMARY KEY references unknown column(s) {missing}"
                    )
                new_pk = (it["cname"], it["cols"])
                continue
            # column items
            if "." in it["name"]:
                raise ValueError(
                    "nested-field schema evolution on materialized tables "
                    f"is not supported: {it['name']!r}"
                )
            existing = {c["name"]: c for c in new_cols}
            persisted = (it["kind"] == "physical"
                         or (it["kind"] == "metadata" and not it["virtual"]))
            if persisted and it["name"] not in qnames:
                raise ValueError(
                    f"Invalid column '{it['name']}': a "
                    f"{'physical' if it['kind'] == 'physical' else 'metadata persisted'}"
                    " column of a materialized table must be used by "
                    "the defining query."
                )
            if verb == "ADD":
                if it["name"] in existing:
                    raise ValueError(
                        f"Try to add a column `{it['name']}` which already "
                        "exists in the table."
                    )
                entry = {k: it.get(k) for k in
                         ("name", "kind", "type", "expr", "comment",
                          "virtual", "notnull", "mdkey")}
                self._insert_at(new_cols, entry, it.get("pos"))
            else:  # MODIFY
                if it["name"] not in existing:
                    raise ValueError(
                        f"Try to modify a column `{it['name']}` which does "
                        "not exist in the table."
                    )
                old = existing[it["name"]]
                if old["kind"] != it["kind"]:
                    raise ValueError(
                        "Failed to execute ALTER MATERIALIZED TABLE "
                        f"statement.\nChanging of {old['kind']} column "
                        f"'{it['name']}' to {it['kind']} column is not "
                        "supported."
                    )
                if it["kind"] in ("physical", "metadata"):
                    old_type = old["type"] or view_types.get(it["name"], "")
                    if old_type and not _supports_implicit_cast(
                            old_type, it["type"]):
                        raise ValueError(
                            "Failed to execute ALTER MATERIALIZED TABLE "
                            f"statement.\nColumn '{it['name']}' with type "
                            f"{old_type} can not be changed to type "
                            f"{it['type']}."
                        )
                upd = dict(old)
                upd.update({k: it.get(k) for k in
                            ("type", "expr", "comment", "virtual",
                             "notnull", "mdkey")})
                pos = it.get("pos")
                if pos is not None:
                    new_cols.remove(old)
                    self._insert_at(new_cols, upd, pos)
                else:
                    new_cols[new_cols.index(old)] = upd
        # probe the end state before committing (an invalid computed
        # expression / cast must not leave a broken view behind)
        probe = self._apply_schema_to(self.spark.sql(mt.as_query), new_cols)
        probe.schema  # force analysis
        if new_wm is not None:
            self.spark.sql(mt.as_query).selectExpr(
                f"({new_wm[1]}) AS __wm__"
            ).schema
        mt.schema_cols = new_cols
        mt.watermark = new_wm
        mt.primary_key = new_pk
        self._repoint_view(mt)
        return None

    def alter_drop_schema(self, m: re.Match) -> None:
        """ALTER MATERIALIZED TABLE DROP PRIMARY KEY / CONSTRAINT <name> /
        WATERMARK / <col> / (<cols>) (reference
        SqlAlterMaterializedTableDropSchemaConverter.java). Dropping a
        column the defining query produces is rejected — exactly the
        reference's 'Column(s) are used in query' rule."""
        mt = self._get(m.group("name"))
        if m.group("pk"):
            if mt.primary_key is None:
                raise ValueError(
                    "The materialized table does not define a primary key."
                )
            mt.primary_key = None
            return None
        if m.group("cname"):
            if mt.primary_key is None or mt.primary_key[0] != m.group("cname"):
                raise ValueError(
                    f"CONSTRAINT {m.group('cname')!r} does not exist on "
                    "the materialized table."
                )
            mt.primary_key = None
            return None
        if m.group("wm"):
            if mt.watermark is None:
                raise ValueError(
                    "The materialized table does not define a watermark "
                    "strategy."
                )
            mt.watermark = None
            return None
        cols = ([c.strip() for c in m.group("cols").split(",")]
                if m.group("cols") else [m.group("col")])
        declared = self._ensure_schema_cols(mt)
        names = {c["name"] for c in declared}
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"column(s) {missing} do not exist in the table")
        used = sorted(set(cols) & set(self._query_col_names(mt)))
        if used:
            raise ValueError(
                "Failed to execute ALTER MATERIALIZED TABLE statement.\n"
                "Column(s) ("
                + ", ".join(f"'{c}'" for c in used)
                + ") are used in query."
            )
        for c in cols:
            if mt.watermark and mt.watermark[0] == c:
                raise ValueError(
                    f"column {c!r} is referenced by the watermark strategy"
                )
            if mt.primary_key and c in mt.primary_key[1]:
                raise ValueError(
                    f"column {c!r} is part of the primary key"
                )
            for other in declared:
                if (other["kind"] == "computed" and other["name"] not in cols
                        and re.search(rf"\b{re.escape(c)}\b", other["expr"])):
                    raise ValueError(
                        f"column {c!r} is referenced by computed column "
                        f"{other['name']!r}"
                    )
        mt.schema_cols = [c for c in declared if c["name"] not in cols]
        self._repoint_view(mt)
        return None

    def _apply_schema_to(self, df: DataFrame, schema_cols) -> DataFrame:
        """Project the raw defining-query output onto the declared schema:
        computed columns evaluate on read (Flink computed columns are never
        persisted), virtual metadata columns surface as typed NULLs (no
        connector metadata exists on a snapshot read), physical/persisted-
        metadata columns cast to their declared type. Storage keeps the raw
        query output — the projection is plan-level, so at 100 TB this adds
        zero I/O or shuffle (Catalyst fuses it into the scan)."""
        if schema_cols is None:
            return df
        from pyspark.sql import functions as F

        from flink_spark.catalog import _map_type

        out = df
        for c in schema_cols:
            if c["kind"] == "computed":
                out = out.withColumn(c["name"], F.expr(c["expr"]))
            elif c["kind"] == "metadata" and c.get("virtual"):
                try:
                    out = out.withColumn(
                        c["name"], F.lit(None).cast(_map_type(c["type"]))
                    )
                except Exception:
                    out = out.withColumn(c["name"], F.lit(None))
        sel = []
        for c in schema_cols:
            col = F.col(c["name"])
            if c["kind"] in ("physical", "metadata") and c.get("type") \
                    and not c.get("virtual"):
                try:
                    col = col.cast(_map_type(c["type"]))
                except Exception:
                    col = F.col(c["name"])  # unparseable type → derived
            sel.append(col.alias(c["name"]))
        return out.select(*sel)

    def _repoint_view(self, mt: MaterializedTable) -> None:
        """Re-register the table view under the current declared schema."""
        import os

        if mt.streaming:
            out = f"{mt.root}/stream"
            if os.path.isdir(out) and any(
                    f.endswith(".parquet") for f in os.listdir(out)):
                base = self.spark.read.parquet(out)
            else:
                base = empty_frame(self.spark,
                                   self.spark.sql(mt.as_query).schema)
        elif mt.version > 0:
            base = self.spark.read.parquet(f"{mt.root}/v={mt.version}")
        else:
            base = empty_frame(self.spark, self.spark.sql(mt.as_query).schema)
        self._apply_schema_to(base, mt.schema_cols).createOrReplaceTempView(
            mt.name
        )

    def _alter_as_query(self, mt: MaterializedTable, q: str) -> None:
        """AS-query replacement (SqlAlterMaterializedTableAsQuery,
        FLIP-435): the new query must keep the existing columns as a
        schema prefix (consumers keep resolving); appended columns are
        allowed. The next snapshot materializes the new definition."""
        probe = self.spark.sql(q)
        if probe.isStreaming != mt.streaming:
            raise ValueError(
                "ALTER MATERIALIZED TABLE AS cannot switch between batch "
                "and streaming defining queries"
            )
        # prefix rule applies to the QUERY-produced columns (declared
        # computed/metadata columns live on top of whatever the query
        # yields, so they survive any prefix-compatible replacement)
        old_cols = [f.name for f in self.spark.sql(mt.as_query).schema.fields]
        new_cols = [f.name for f in probe.schema.fields]
        if new_cols[: len(old_cols)] != old_cols:
            raise ValueError(
                "ALTER MATERIALIZED TABLE AS: the new query must retain "
                f"the existing columns as a prefix; table has {old_cols}, "
                f"query produces {new_cols}"
            )
        mt.as_query = q
        if mt.streaming:
            # restart the stream over the new plan (shared checkpoint is
            # per-plan: start a fresh sink dir via restart)
            self._stop_stream(mt)
            if mt.state == "RUNNING":
                self._start_stream(mt, probe)
            return None
        if mt.state == "RUNNING":
            # materialize the new definition now (snapshot continuity:
            # version bumps, previous snapshot stays time-travelable)
            self.refresh(mt.name)
        return None

    def _restart_machinery(self, mt: MaterializedTable) -> None:
        """Re-arm the refresh loop / stream after a policy change; a
        SUSPENDED table keeps its new policy for the next RESUME."""
        if mt.state != "RUNNING":
            return
        if mt.streaming:
            self._stop_stream(mt)
            self._start_stream(mt, self.spark.sql(mt.as_query))
        else:
            self._stop_loop(mt)
            self._start_loop(mt)

    def drop(self, m: re.Match) -> None:
        name = m.group("name")
        mt = self.tables.pop(name, None)
        if mt is None:
            return
        self._stop_stream(mt)
        self._stop_loop(mt)
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(mt.root, ignore_errors=True)

    def shutdown(self) -> None:
        for mt in list(self.tables.values()):
            self._stop_stream(mt)
            self._stop_loop(mt)

    # -- refresh machinery -------------------------------------------------

    def refresh(self, name: str, partition: tuple[str, str] | None = None) -> None:
        """One synchronous refresh: run the defining query, write a new
        snapshot version, swap the view pointer, prune old snapshots.

        ``partition=(col, value)`` scopes the recompute (reference
        SqlAlterMaterializedTableRefresh with PARTITION): only that
        partition's rows come from the fresh query; every other row is
        carried over from the previous snapshot. (With versioned-dir
        snapshots the carry-over is a copy; a table format would swap
        partition metadata instead — same semantics.)"""
        from pyspark.sql import functions as F

        mt = self._get(name)
        with mt._lock:
            df: DataFrame = self.spark.sql(mt.as_query)
            if partition is not None:
                pcol, pval = partition
                fresh = df.filter(F.col(pcol).cast("string") == pval)
                if mt.version > 0:
                    prev = self.spark.read.parquet(f"{mt.root}/v={mt.version}")
                    carried = prev.filter(F.col(pcol).cast("string") != pval)
                    df = carried.unionByName(fresh)
                else:
                    df = fresh
            new_version = mt.version + 1
            path = f"{mt.root}/v={new_version}"
            if mt.dist_keys:
                # DISTRIBUTED BY (reference SqlDistribution on
                # materialized tables): cluster each snapshot by the
                # distribution key into the declared bucket count, so
                # same-keyed consumers of the snapshot read co-located
                # files (the key-clustered layout a table format keeps).
                # RANGE distributions range-cluster instead; a missing
                # bucket count leaves the parallelism to AQE.
                if mt.dist_kind == "range":
                    df = (df.repartitionByRange(mt.dist_buckets, *mt.dist_keys)
                          if mt.dist_buckets
                          else df.repartitionByRange(*mt.dist_keys))
                else:
                    df = (df.repartition(mt.dist_buckets, *mt.dist_keys)
                          if mt.dist_buckets else df.repartition(*mt.dist_keys))
            writer = df.write.mode("overwrite")
            if mt.partition_keys:
                writer = writer.partitionBy(*mt.partition_keys)
            writer.parquet(path)
            self._apply_schema_to(
                self.spark.read.parquet(path), mt.schema_cols
            ).createOrReplaceTempView(mt.name)
            old = mt.version
            mt.version = new_version
            mt.last_refresh = time.time()
            mt.commits[new_version] = mt.last_refresh
            # keep current + previous snapshot (time-travel by one; matches
            # the two-snapshot retention a compacting store would default to)
            stale = old - 1
            if stale > 0:
                shutil.rmtree(f"{mt.root}/v={stale}", ignore_errors=True)

    def read_version(self, name: str, version: int | None = None,
                     as_of_ts: float | None = None) -> DataFrame:
        """Time-travel read (reference SqlSnapshot / time travel,
        `SELECT ... FOR SYSTEM_TIME AS OF` over versioned catalog tables):
        by explicit snapshot ``version``, or the newest snapshot whose
        commit time is <= ``as_of_ts``. Only versions inside the retention
        window (current + previous) are readable — a pruned version
        raises, same as an expired Iceberg/Delta snapshot."""
        mt = self._get(name)
        if version is None:
            if as_of_ts is None:
                version = mt.version
            else:
                eligible = [v for v, t in mt.commits.items() if t <= as_of_ts]
                if not eligible:
                    raise ValueError(
                        f"no snapshot of {name!r} existed at the requested time"
                    )
                version = max(eligible)
        path = f"{mt.root}/v={version}"
        import os

        if not os.path.isdir(path):
            raise ValueError(
                f"snapshot v{version} of {name!r} is outside the retention "
                f"window (available: v{max(1, mt.version - 1)}..v{mt.version})"
            )
        return self.spark.read.parquet(path)

    def _start_stream(self, mt: MaterializedTable, sdf) -> None:
        """Continuous mode over a streaming defining query: one
        Structured Streaming job appends into the store; SUSPEND stops
        it and RESUME restarts from the shared checkpoint (exactly-once
        file-sink semantics)."""
        import os

        out = f"{mt.root}/stream"
        ckpt = f"{mt.root}/ckpt"
        os.makedirs(out, exist_ok=True)
        spark = self.spark
        apply_schema = self._apply_schema_to
        # until the first batch lands, the table reads as empty
        apply_schema(
            empty_frame(spark, sdf.schema), mt.schema_cols
        ).createOrReplaceTempView(mt.name)

        def sink(batch, batch_id: int) -> None:
            batch.write.mode("append").parquet(out)
            # re-point the view so readers see a FRESH file listing (a
            # batch parquet DataFrame caches its file index at creation)
            apply_schema(
                spark.read.schema(batch.schema).parquet(out), mt.schema_cols
            ).createOrReplaceTempView(mt.name)
            mt.version += 1
            mt.last_refresh = time.time()

        mt._stream_query = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{max(mt.freshness_sec, 0.5)} seconds")
            .start()
        )

    def _stop_stream(self, mt: MaterializedTable) -> None:
        if mt._stream_query is not None:
            mt._stream_query.stop()
            mt._stream_query = None

    def _start_loop(self, mt: MaterializedTable) -> None:
        if mt._thread is not None and mt._thread.is_alive():
            return
        mt._stop.clear()

        def loop() -> None:
            while not mt._stop.wait(mt.freshness_sec):
                try:
                    self.refresh(mt.name)
                except Exception:
                    # a failed periodic refresh keeps the last good
                    # snapshot visible; the next tick retries
                    pass

        mt._thread = threading.Thread(
            target=loop, name=f"mt-refresh-{mt.name}", daemon=True
        )
        mt._thread.start()

    def _stop_loop(self, mt: MaterializedTable) -> None:
        mt._stop.set()
        if mt._thread is not None:
            mt._thread.join(timeout=10)
            mt._thread = None

    def _get(self, name: str) -> MaterializedTable:
        if name not in self.tables:
            raise ValueError(f"unknown materialized table {name!r}")
        return self.tables[name]
