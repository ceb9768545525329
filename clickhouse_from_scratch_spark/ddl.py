"""ChSession: the catalog + statement executor (SURVEY §2.12).

The reference parses DDL/INSERT/SHOW/... into ASTs and stops; this layer
executes them on Spark:

- ``CREATE TABLE ... ENGINE=MergeTree ORDER BY k PARTITION BY p`` →
  parquet-backed table under the warehouse dir; ORDER BY becomes
  sortWithinPartitions on write (clustering for scan pushdown), PARTITION
  BY becomes parquet partition directories (partition pruning), SAMPLE BY
  / TTL / CODEC are recorded as table properties. Engine registry:
  MergeTree family + Log → parquet, Memory → cached in-session DataFrame.
- ``INSERT`` appends (VALUES or SELECT source).
- ``OPTIMIZE ... DEDUPLICATE`` rewrites the table via dropDuplicates;
  FINAL applies the Replacing-collapse before rewrite.
- SHOW/DESCRIBE/EXISTS/USE/SET/EXPLAIN answer from the catalog.

All query execution flows through plans.execute_sql, so FINAL/SAMPLE in
queries automatically see each table's engine metadata.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
from collections import ChainMap, deque
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from .functions.typemap import (ch_type_to_spark, column_ch_types,
                                enum_pairs, parse_structure, spark_to_ch)
from .operators import final as final_op
from .plans.builder import build
from .sources.formats import (Inline, format_table, literal_py, local_frame,
                              values_frame)
from .plans.statements import (
    AlterStmt, AttachStmt, BackupStmt, CheckStmt, CreateDatabase,
    CreateDictionary, CreateLiveView, CreateTable,
    CreateView, CreateWindowView, DescribeStmt, DropStmt, ExistsStmt, ExternalDDL,
    ExplainStmt, InsertStmt, KillStmt, OptimizeStmt, OutputClause,
    RenameTable, SetStmt, ShowStmt, SystemStmt, TruncateStmt, UseStmt,
    WatchStmt, parse_statement,
)
from .plans.ast_nodes import SelectQuery, UnionQuery
from .plans.statements import CreateFunction

_MISSING = object()    # sentinel: setting absent before per-query overlay
# system.query_log keeps a long-lived session's most recent statements
QUERY_LOG_ROWS = 1000


def _disk_free(path: str) -> int:
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize
    except OSError:
        return 0


def _disk_total(path: str) -> int:
    try:
        st = os.statvfs(path)
        return st.f_blocks * st.f_frsize
    except OSError:
        return 0

_MERGE_TREE_FAMILY = {
    "MergeTree", "ReplacingMergeTree", "SummingMergeTree",
    "AggregatingMergeTree", "CollapsingMergeTree",
    "VersionedCollapsingMergeTree", "ReplicatedMergeTree",
    "Log", "TinyLog", "StripeLog",
}


@dataclass
class TableMeta:
    name: str
    database: str
    columns: list[tuple[str, str]]            # (name, CH type)
    engine: str = "MergeTree"
    order_by: list[str] = field(default_factory=list)
    partition_by: str | None = None           # column name (or display text)
    partition_expr: object | None = None      # AST when PARTITION BY is an expr
    sample_by: str | None = None
    ttl: str | None = None
    settings: dict = field(default_factory=dict)
    # column name -> (kind, default AST); kind is DEFAULT | MATERIALIZED
    # | ALIAS. DEFAULT fills omitted INSERT columns; MATERIALIZED/ALIAS
    # are always computed, excluded from implicit INSERT lists and from
    # SELECT * (the CH visibility contract). ALIAS is computed at
    # insert instead of query time — value-identical for row-local
    # expressions (documented simplification).
    defaults: dict = field(default_factory=dict)
    comments: dict = field(default_factory=dict)   # column -> comment text
    codecs: dict = field(default_factory=dict)     # column -> codec text
    path: str | None = None                   # parquet dir (None = Memory)
    memory_df: DataFrame | None = None
    is_view: bool = False
    view_query: object | None = None

    def stored_columns(self) -> list[tuple[str, str]]:
        """Columns that exist in storage — EPHEMERAL ones are
        INSERT-time inputs only (declared, shown by DESCRIBE, never
        written, never selectable)."""
        return [(n, t) for n, t in self.columns
                if self.defaults.get(n, ("",))[0] != "EPHEMERAL"]

    def spark_schema(self) -> str:
        return ", ".join(f"`{n}` {ch_type_to_spark(t)}"
                         for n, t in self.stored_columns())

    def bucket_spec(self) -> tuple[int, str] | None:
        """SETTINGS buckets = N [, bucket_by = 'col'] on a MergeTree
        table → Spark bucketed storage. Both sides of an equi-join on
        the bucket column then scan pre-partitioned files and the join
        plans with ZERO Exchange — the co-located-join layout that
        matters at 100 TB (CH itself has no bucket clause; this is the
        documented Spark-native extension, default bucket_by = first
        ORDER BY column)."""
        n = self.settings.get("buckets")
        if not n:
            return None
        col = self.settings.get("bucket_by") or (
            self.order_by[0] if self.order_by else self.columns[0][0])
        return int(str(n).strip("'\"")), str(col).strip("'\"")


@dataclass
class DictMeta:
    """One CREATE DICTIONARY: a RAM-bounded point-lookup table over a
    source table (public ClickHouse external-dictionary semantics; the
    reference comments dictionary DDL out, ``ParserCreateQuery.cpp:
    2282-2296``). Loaded lazily on first dictGet and cached until
    SYSTEM RELOAD DICTIONARY — CH's LIFETIME refresh analogue."""
    name: str
    database: str
    key: str
    key_type: str
    attrs: dict[str, tuple[str, object]]   # attr → (CH type, DEFAULT value)
    source_table: str
    source_db: str | None
    layout: str = "HASHED"
    lifetime: str | None = None
    session: object = None
    cache: dict | None = None              # attr → {key: value}
    hier_attr: str | None = None           # HIERARCHICAL-flagged attribute

    def maps(self) -> dict[str, dict]:
        if self.cache is None:
            self.cache = self.session._load_dictionary(self)
        return self.cache

    def attr_ch_type(self, attr: str) -> str:
        return self.attrs[attr][0]

    def attr_default(self, attr: str):
        t, dflt = self.attrs[attr]
        return dflt if dflt is not None else _type_default_py(t)


# the settings namespace the engine actually honors, with their CH
# defaults (reference src/Core/Settings.h) — system.settings lists these
# with changed=0 until a SET/SETTINGS overrides them
_SETTING_DEFAULTS: dict[str, object] = {
    "join_use_nulls": 0,
    "join_algorithm": "default",
    "totals_mode": "after_having_exclusive",
    "transform_null_in": 0,
    "enable_positional_arguments": 1,
    "splitby_max_substrings_includes_remaining_string": 0,
    "output_format_decimal_trailing_zeros": 0,
    "max_result_rows": 0,
    "result_overflow_mode": "throw",
    "max_rows_to_read": 0,
    "read_overflow_mode": "throw",
    "max_rows_to_group_by": 0,
    "group_by_overflow_mode": "throw",
    "max_rows_in_distinct": 0,
    "distinct_overflow_mode": "throw",
    "max_dictionary_rows": 5_000_000,
    # honored since r11 (Settings.h lines 226/491/501-502/210/332)
    "join_default_strictness": "ALL",
    "union_default_mode": "",
    "limit": 0,
    "offset": 0,
    "count_distinct_implementation": "uniqExact",
    "join_any_take_last_row": 0,
    "extremes": 0,
}


def _ast_has_params(node, _depth: int = 0) -> bool:
    """True when the AST contains a {name:Type} query parameter
    (ParserSelectQuery query-parameter surface) — marks a view as
    parameterized."""
    from .plans.ast_nodes import QueryParameter
    if _depth > 64 or node is None:
        return False
    if isinstance(node, QueryParameter):
        return True
    if isinstance(node, (list, tuple)):
        return any(_ast_has_params(i, _depth + 1) for i in node)
    if isinstance(node, dict):
        return any(_ast_has_params(v, _depth + 1) for v in node.values())
    if hasattr(node, "__dataclass_fields__"):
        return any(_ast_has_params(getattr(node, f), _depth + 1)
                   for f in node.__dataclass_fields__)
    return False


def _reference_defaults() -> dict[str, object]:
    """The full 472-name settings namespace with reference defaults —
    system.settings lists every name the dialect accepts, changed=0
    until a SET overrides it (reference system.settings contract)."""
    from .settings_namespace import REFERENCE_DEFAULTS
    return REFERENCE_DEFAULTS


class ChSession:
    """A ClickHouse-flavored session over Spark: databases, tables,
    settings, and the statement dispatch loop."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        if warehouse is None:
            # no warehouse given: a private temporary one, removed at
            # interpreter exit — not when the session is collected, since
            # the frames it returned read their files lazily
            warehouse = tempfile.mkdtemp(prefix="chspark_warehouse_")
            atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
        self.warehouse = warehouse
        os.makedirs(self.warehouse, exist_ok=True)
        self.databases: dict[str, dict[str, TableMeta]] = {"default": {}}
        self.current_db = "default"
        self.settings: dict[str, object] = {}
        self.udfs: dict[str, object] = {}      # CREATE FUNCTION lambdas
        self.dictionaries: dict[str, DictMeta] = {}
        # INSERT-trigger registry for materialized views
        self.mat_views: list[dict] = []
        # DETACH TABLE parks the meta here (data kept on disk/in memory)
        # until a bare ATTACH TABLE restores it
        self.detached: dict[tuple[str, str], TableMeta] = {}
        # detached PARTITIONS: (db, table) -> {partition_key: path}
        self.detached_parts: dict[tuple[str, str], dict[str, str]] = {}
        # DETACH DATABASE / DICTIONARY park whole catalogs / dict metas
        # (no data is deleted; bare ATTACH restores)
        self.detached_dbs: dict[str, dict[str, TableMeta]] = {}
        self.detached_dicts: dict[str, object] = {}
        # DROP TABLE trash window (CH Atomic keeps dropped data for
        # database_atomic_delay_before_drop_table_sec; UNDROP restores
        # within it). Bounded: the oldest entry's data is purged when
        # the window exceeds 8 tables.
        self.dropped: dict[tuple[str, str], tuple[TableMeta, str | None]] = {}
        # system.query_log rows: (query, type, elapsed_ms, event_time) of
        # the last QUERY_LOG_ROWS statements; the counters count them all
        self.query_log: deque[tuple] = deque(maxlen=QUERY_LOG_ROWS)
        self.queries = self.failed_queries = self.executing = 0
        self.started = time.monotonic()
        # system.mutations rows (synchronous: always done on return)
        self.mutations: list[tuple] = []

    # --- public API -------------------------------------------------------

    def execute(self, sql: str, params: dict[str, object] | None = None):
        """Run one statement. SELECT → DataFrame; DDL/admin → DataFrame
        describing the effect (mirrors clickhouse-client output shape).
        ``params`` binds {name:Type} query parameters."""
        from datetime import datetime as _dt
        t0 = time.monotonic()
        status = "QueryFinish"
        self.executing += 1
        try:
            node = parse_statement(sql)
            if isinstance(node, OutputClause):
                return self._output(node)
            if isinstance(node, (SelectQuery, UnionQuery)):
                return self._build(node, params=params)
            return self._dispatch_node(node)
        except Exception:
            status = "ExceptionWhileProcessing"
            raise
        finally:
            # system.query_log analogue: one row per statement (build
            # time for lazy SELECTs — execution belongs to the caller's
            # action, as in any Spark program)
            self.executing -= 1
            self.queries += 1
            self.failed_queries += status != "QueryFinish"
            self.query_log.append(
                (sql.strip(), status,
                 round((time.monotonic() - t0) * 1000.0, 3),
                 _dt.now().replace(microsecond=0)))

    def _dispatch_node(self, node):
        handler = {
            ExternalDDL: self._external_ddl,
            CreateDictionary: self._create_dictionary,
            CreateFunction: self._create_function,
            CreateLiveView: self._create_live_view,
            CreateWindowView: self._create_window_view,
            WatchStmt: self._watch,
            SystemStmt: self._system,
            KillStmt: self._kill,
            BackupStmt: self._backup,
            CreateDatabase: self._create_database,
            CreateTable: self._create_table,
            CreateView: self._create_view,
            DropStmt: self._drop,
            AttachStmt: self._attach,
            RenameTable: self._rename,
            AlterStmt: self._alter,
            InsertStmt: self._insert,
            ShowStmt: self._show,
            DescribeStmt: self._describe,
            ExistsStmt: self._exists,
            UseStmt: self._use,
            SetStmt: self._set,
            ExplainStmt: self._explain,
            OptimizeStmt: self._optimize,
            TruncateStmt: self._truncate,
            CheckStmt: self._check,
        }[type(node)]
        return handler(node)

    def _external_ddl(self, node: ExternalDDL):
        """Replay a MySQL-side DDL statement against our catalog
        (ParserExternalDDLQuery.cpp:26-55). The MySQL source database
        (second MySQL(...) argument) is the target database when the
        inner statement has no explicit qualifier and that database
        exists here — mirroring how MaterializeMySQL maps one MySQL db
        onto one CH db."""
        inner = node.inner
        src_db = (str(node.source_args[1])
                  if len(node.source_args) > 1 else None)
        if src_db in self.databases \
                and getattr(inner, "database", None) is None \
                and hasattr(inner, "database"):
            inner.database = src_db
        return self._dispatch_node(inner)

    def register_external(self, name: str, df: DataFrame,
                          order_by: list[str] | None = None,
                          version: str | None = None,
                          sample_by: str | None = None) -> None:
        """Expose an existing DataFrame (e.g. testdata parquet) as a table."""
        meta = TableMeta(name, self.current_db,
                         [(f.name, spark_to_ch(f.dataType))
                          for f in df.schema.fields],
                         engine="External", memory_df=df,
                         order_by=order_by or [], sample_by=sample_by)
        if version:
            meta.settings["version"] = version
        self._db()[name] = meta

    # --- helpers ----------------------------------------------------------

    def _db(self, name: str | None = None) -> dict[str, TableMeta]:
        db = name or self.current_db
        if db not in self.databases:
            raise ValueError(f"unknown database: {db}")
        return self.databases[db]

    def _resolve(self, database: str | None, table: str) -> TableMeta:
        meta = self._db(database).get(table)
        if meta is None:
            raise ValueError(f"unknown table: {database or self.current_db}"
                             f".{table}")
        return meta

    def _build(self, q, params: dict[str, object] | None = None,
               overlay: dict[str, DataFrame] | None = None,
               catalog: "_Catalog | None" = None) -> DataFrame:
        """The one path from the catalog to the builder. Every query a
        statement builds (SELECT, CTAS, INSERT … SELECT, EXPLAIN,
        DESCRIBE, materialized-view triggers, view bodies) gets the same
        session state: tables, engines, settings, UDFs, dictionaries and
        parameterized views. ``overlay`` shadows catalog names (a
        materialized view's inserted block). A view body passes its own
        ``catalog`` scope and builds without the settings that slice a
        final result: it is a subquery."""
        settings = self.settings
        if catalog is None:
            catalog = _Catalog(self)
        else:
            settings = {k: v for k, v in settings.items()
                        if k not in _RESULT_SETTINGS}
        return build(self.spark, q,
                     ChainMap(overlay, catalog) if overlay else catalog,
                     self._engines(catalog.dbs), params=params,
                     settings=settings, udfs=self.udfs,
                     dictionaries=self.dictionaries,
                     views=self._param_views(catalog.dbs))

    def _named(self, dbs: tuple[str, ...]):
        """(name, meta) for every catalog entry: ``db.t`` for every
        database, then a bare ``t`` from the first of ``dbs`` that has
        it (the bare name wins where the spellings collide)."""
        for db, metas in self.databases.items():
            for name, meta in metas.items():
                yield f"{db}.{name}", meta
        seen: set[str] = set()
        for db in dbs:
            for name, meta in self.databases.get(db, {}).items():
                if name not in seen:
                    seen.add(name)
                    yield name, meta

    def _param_views(self, dbs: tuple[str, ...]) -> dict[str, object]:
        """name → view AST for PARAMETERIZED views (query parameters in
        the body) — the builder binds them at `v(p = x)` call sites."""
        return {name: meta.view_query for name, meta in self._named(dbs)
                if _is_param_view(meta)}

    def _engines(self, dbs: tuple[str, ...]) -> dict[str, dict]:
        out = {}
        for key, meta in self._named(dbs):
            info: dict = {}
            if meta.order_by:
                info["order_by"] = meta.order_by
                info["version"] = meta.settings.get(
                    "version", meta.order_by[-1])
                info["engine"] = meta.engine
                if meta.settings.get("sign"):
                    info["sign"] = meta.settings["sign"]
                if meta.settings.get("sum_cols"):
                    info["sum_cols"] = meta.settings["sum_cols"]
            if meta.sample_by:
                info["sample_by"] = meta.sample_by
            if meta.columns:
                # declared CH types feed the numeric-promotion layer
                # (unsigned-ness is invisible in the Spark schema)
                info["columns"] = dict(meta.columns)
            hidden = [n for n, (k, _) in meta.defaults.items()
                      if k in ("MATERIALIZED", "ALIAS")]
            if hidden:
                info["hidden"] = hidden
            if info:
                out[key] = info
        return out

    def _read(self, meta: TableMeta) -> DataFrame:
        """A table's rows, or a view's query built over the catalog."""
        return _Catalog(self).frame(meta)

    def _scan(self, meta: TableMeta) -> DataFrame:
        """A stored table's rows: its Memory frame or its parquet data."""
        if meta.memory_df is not None:
            return meta.memory_df
        if meta.bucket_spec() is not None and meta.path:
            cat = self._catalog_name(meta)
            if self.spark.catalog.tableExists(cat):
                # catalog-backed scan: keeps the bucketing metadata so
                # equi-joins on the bucket column skip the shuffle
                return self.spark.table(cat).select(
                    *[n for n, _ in meta.columns])
            return self._frame([], meta.spark_schema())
        if meta.path and os.path.exists(meta.path):
            df = self.spark.read.schema(meta.spark_schema()).parquet(meta.path)
            declared = [n for n, _ in meta.columns]
            if set(df.columns) - set(declared):
                # hidden physical partition column (__part) stays physical
                df = df.select(*declared)
            return df
        return self._frame([], meta.spark_schema())

    def _frame(self, rows: list[tuple], schema: str | list[str]) -> DataFrame:
        """A driver-side result (DDL outcome, SHOW/DESCRIBE rows, Memory
        data, a system.* table) as a LocalRelation."""
        return local_frame(self.spark, rows, schema)

    # --- DDL --------------------------------------------------------------

    def _create_database(self, node: CreateDatabase):
        if node.name in self.databases:
            if node.if_not_exists:
                return self._ok()
            raise ValueError(f"database exists: {node.name}")
        self.databases[node.name] = {}
        return self._ok()

    def _create_table(self, node: CreateTable):
        db = node.database or self.current_db
        if node.table in self._db(db):
            if node.if_not_exists:
                return self._ok()
            if not node.or_replace:
                raise ValueError(f"table exists: {db}.{node.table}")
        if node.engine not in _MERGE_TREE_FAMILY and node.engine not in (
                "Memory", "External", "Null"):
            raise ValueError(f"unknown engine: {node.engine} (registry: "
                             f"{sorted(_MERGE_TREE_FAMILY)} + Memory)")
        part_col, part_expr = _partition_column(node)
        meta = TableMeta(
            node.table, db,
            [(c.name, c.type_name) for c in node.columns],
            engine=node.engine, order_by=list(node.order_by),
            partition_by=part_col, partition_expr=part_expr,
            sample_by=node.sample_by,
            ttl=node.ttl, settings=dict(node.settings))
        for c in node.columns:
            if c.default is not None or c.default_kind is not None:
                # bare EPHEMERAL records (kind, None) → type default
                meta.defaults[c.name] = (c.default_kind or "DEFAULT",
                                         c.default)
            if c.comment is not None:
                meta.comments[c.name] = c.comment
            if c.codec is not None:
                meta.codecs[c.name] = c.codec
        # engine parameters: ReplacingMergeTree(ver) /
        # CollapsingMergeTree(sign) / SummingMergeTree([cols…])
        if node.engine == "ReplacingMergeTree" and node.engine_args:
            meta.settings["version"] = node.engine_args[0]
        elif node.engine == "CollapsingMergeTree" and node.engine_args:
            meta.settings["sign"] = node.engine_args[0]
        elif (node.engine == "VersionedCollapsingMergeTree"
              and len(node.engine_args) >= 2):
            meta.settings["sign"] = node.engine_args[0]
            meta.settings["version"] = node.engine_args[1]
        elif node.engine == "SummingMergeTree" and node.engine_args:
            meta.settings["sum_cols"] = list(node.engine_args)
        source: DataFrame | None = None
        if node.as_select is not None:
            source = self._build(node.as_select)
            if not meta.columns:
                meta.columns, source = _declared_columns(source)
        elif node.as_table is not None:
            src_meta = self._resolve(None, node.as_table)
            meta.columns = list(src_meta.columns)
            meta.defaults = dict(src_meta.defaults)
        if not meta.columns:
            raise ValueError("CREATE TABLE needs a column list or AS SELECT")
        expanded: list[tuple[str, str]] = []
        for cn, ct in meta.columns:
            if ct.startswith("Nested(") and ct.endswith(")"):
                # Nested(a T, b U) flattens to parallel arrays n.a / n.b
                # (DataTypeNested.cpp / NestedUtils.cpp; SURVEY §1.2) —
                # ARRAY JOIN n unnests them in lockstep
                for sub, st in parse_structure(ct[7:-1]):
                    expanded.append((f"{cn}.{sub}", f"Array({st})"))
            else:
                expanded.append((cn, ct))
        meta.columns = expanded
        if node.engine == "Null":
            # Null engine: inserts are accepted and discarded, reads are
            # empty (public CH Null-engine contract — the /dev/null sink)
            meta.memory_df = self._frame(
                [], meta.spark_schema())
        elif node.engine == "Memory" or node.temporary:
            meta.memory_df = (source if source is not None else
                              self._frame(
                                  [], meta.spark_schema()))
        else:
            meta.path = os.path.join(self.warehouse, db, node.table)
            if os.path.exists(meta.path):
                shutil.rmtree(meta.path)
            if source is not None:
                self._write(meta, source, mode="overwrite")
        self._db(db)[node.table] = meta
        return self._ok()

    def _create_view(self, node: CreateView):
        db = node.database or self.current_db
        if node.name in self._db(db) and node.if_not_exists:
            return self._ok()
        if node.materialized:
            # CH materialized views are INSERT TRIGGERS (docs
            # view#materialized): the SELECT runs over each inserted
            # block of the source table and appends to the target.
            # POPULATE additionally backfills the data present at
            # creation; without it the view starts EMPTY.
            from .plans.ast_nodes import Star, TableRef
            df = self._build(node.query)
            if node.to_table:
                # TO target: rows land in an existing table; the view
                # name reads from it
                tmeta = self._resolve(None, node.to_table)
                meta = TableMeta(
                    node.name, db, list(tmeta.columns), engine="View",
                    is_view=True,
                    view_query=SelectQuery(
                        select=[Star()],
                        # bare name: resolves in the view's
                        # database, then default
                        from_=TableRef(None, tmeta.name)))
                target_db, target_table = tmeta.database, tmeta.name
            else:
                columns, df = _declared_columns(df)
                meta = TableMeta(
                    node.name, db, columns,
                    engine="MergeTree",
                    path=os.path.join(self.warehouse, db, node.name))
                self._write(meta, df if node.populate
                            else df.limit(0), mode="overwrite")
                target_db, target_table = db, node.name
            if node.populate and node.to_table:
                out = df.select(*[
                    F.col(f"`{n}`").cast(ch_type_to_spark(t)).alias(n)
                    for n, t in tmeta.stored_columns()])
                if tmeta.memory_df is not None:
                    tmeta.memory_df = tmeta.memory_df.unionByName(out)
                else:
                    self._write(tmeta, out, mode="append")
            src = node.query.from_ if isinstance(node.query,
                                                 SelectQuery) else None
            if isinstance(src, TableRef):
                self.mat_views.append({
                    "name": node.name,
                    "src_db": src.database or self.current_db,
                    "src_table": src.table, "query": node.query,
                    "target_db": target_db,
                    "target_table": target_table})
        else:
            meta = TableMeta(node.name, db, [], engine="View", is_view=True,
                             view_query=node.query)
        self._db(db)[node.name] = meta
        return self._ok()

    def _create_dictionary(self, node: CreateDictionary):
        if node.name in self.dictionaries and not node.or_replace:
            if node.if_not_exists:
                return self._ok()
            raise ValueError(f"dictionary exists: {node.name}")
        if not node.primary_key:
            raise ValueError("CREATE DICTIONARY requires PRIMARY KEY")
        if len(node.primary_key) > 1:
            raise ValueError("composite dictionary keys not supported")
        if not node.source_table:
            raise ValueError("CREATE DICTIONARY requires "
                             "SOURCE(...(TABLE 'name'))")
        key = node.primary_key[0]
        types = {c.name: c.type_name for c in node.columns}
        if key not in types:
            raise ValueError(f"PRIMARY KEY column not declared: {key}")
        attrs = {}
        for c in node.columns:
            if c.name == key:
                continue
            dflt = literal_py(c.default) if c.default is not None else None
            attrs[c.name] = (c.type_name, dflt)
        hier = next((c.name for c in node.columns if c.hierarchical),
                    None)
        self.dictionaries[node.name] = DictMeta(
            node.name, node.database or self.current_db, key, types[key],
            attrs, node.source_table, node.source_db, node.layout,
            node.lifetime, session=self, hier_attr=hier)
        return self._ok()

    def _load_dictionary(self, d: DictMeta) -> dict[str, dict]:
        """Materialize attr → {key: value} maps from the source table.

        Dictionaries are RAM-resident point-lookup tables by contract
        (every CH layout loads into memory), so a bounded collect IS the
        scale-correct design; the cap turns a misuse into an actionable
        error instead of an OOM."""
        src = self._resolve(d.source_db, d.source_table)
        df = self._read(src).select(d.key, *d.attrs)
        cap = int(self.settings.get("max_dictionary_rows", 5_000_000))
        rows = df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"dictionary {d.name} source exceeds {cap} rows — use a "
                f"JOIN for dimension tables this large (or raise the "
                f"max_dictionary_rows setting)")
        numeric_key = not d.key_type.lower().startswith(
            ("string", "uuid", "fixedstring"))
        out: dict[str, dict] = {a: {} for a in d.attrs}
        for r in rows:
            k = r[0]
            if k is None:
                continue
            k = int(k) if numeric_key else str(k)
            for i, a in enumerate(d.attrs):
                out[a][k] = r[i + 1]
        return out

    def _create_function(self, node: CreateFunction):
        if node.name in self.udfs and not node.or_replace:
            if node.if_not_exists:
                return self._ok()
            raise ValueError(f"function {node.name} already exists")
        self.udfs[node.name] = node.fn
        return self._ok()

    def _drop(self, node: DropStmt):
        if node.kind == "UNDROP":
            return self._undrop(node)
        detach = getattr(node, "detach", False)
        if node.kind == "DICTIONARY":
            if node.name not in self.dictionaries and not node.if_exists:
                raise ValueError(f"unknown dictionary: {node.name}")
            if detach:
                # DETACH keeps the meta for a later bare ATTACH — the
                # opposite of DROP's destroy contract. Refuse to
                # overwrite an already-parked entry of the same name
                # (a re-created then re-detached dictionary would
                # silently orphan the first parked meta).
                if node.name in self.dictionaries:
                    if node.name in self.detached_dicts:
                        raise ValueError(
                            f"dictionary {node.name} is already "
                            f"detached — ATTACH or DROP it first")
                    self.detached_dicts[node.name] = \
                        self.dictionaries.pop(node.name)
                return self._ok()
            self.dictionaries.pop(node.name, None)
            return self._ok()
        if node.kind == "FUNCTION":
            if node.name not in self.udfs and not node.if_exists:
                raise ValueError(f"unknown function: {node.name}")
            self.udfs.pop(node.name, None)
            return self._ok()
        if node.kind == "DATABASE":
            if node.name not in self.databases:
                if node.if_exists:
                    return self._ok()
                raise ValueError(f"unknown database: {node.name}")
            if detach:
                # park the whole catalog; on-disk data untouched.
                # Refuse to clobber an already-parked database of the
                # same name, and forbid detaching 'default' (CH-style
                # guard — the session would point at a nonexistent db)
                if node.name == "default":
                    raise ValueError("cannot DETACH the default database")
                if node.name in self.detached_dbs:
                    raise ValueError(
                        f"database {node.name} is already detached — "
                        f"ATTACH or DROP it first")
                self.detached_dbs[node.name] = self.databases.pop(node.name)
                if self.current_db == node.name:
                    self.current_db = "default"
                return self._ok()
            for meta in self.databases[node.name].values():
                if meta.path and os.path.exists(meta.path):
                    shutil.rmtree(meta.path)
            del self.databases[node.name]
            if self.current_db == node.name:
                self.current_db = "default"
            return self._ok()
        db = node.database or self.current_db
        meta = self._db(db).get(node.name)
        if meta is None:
            if node.if_exists:
                return self._ok()
            raise ValueError(f"unknown table: {db}.{node.name}")
        if getattr(node, "detach", False):
            # DETACH: unhook from the catalog but KEEP data and meta so
            # a later bare ATTACH TABLE restores it (CH detached parts
            # directory analogue). Never clobber an already-parked meta.
            if (db, node.name) in self.detached:
                raise ValueError(
                    f"table {db}.{node.name} is already detached — "
                    f"ATTACH or DROP it first")
            self.detached[(db, node.name)] = meta
            del self._db(db)[node.name]
            return self._ok()
        if meta.bucket_spec() is not None and meta.path:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._catalog_name(meta)}")
        # trash window instead of immediate delete: move the data dir
        # aside so UNDROP TABLE can restore it (a re-CREATE of the same
        # name gets a clean path). Memory tables stash their frame via
        # the meta itself.
        trash = None
        if meta.path and os.path.exists(meta.path):
            trash = os.path.join(self.warehouse, ".trash",
                                 f"{db}.{node.name}")
            os.makedirs(os.path.dirname(trash), exist_ok=True)
            if os.path.exists(trash):
                shutil.rmtree(trash)
            shutil.move(meta.path, trash)
        old = self.dropped.pop((db, node.name), None)
        if old is not None and old[1] and os.path.exists(old[1]) \
                and old[1] != trash:
            shutil.rmtree(old[1])
        self.dropped[(db, node.name)] = (meta, trash)
        while len(self.dropped) > 8:        # oldest-first purge
            k = next(iter(self.dropped))
            _, opath = self.dropped.pop(k)
            if opath and os.path.exists(opath):
                shutil.rmtree(opath)
        del self._db(db)[node.name]
        self.mat_views = [mv for mv in self.mat_views
                          if mv["name"] != node.name]
        return self._ok()

    def _undrop(self, node: DropStmt):
        """UNDROP TABLE: restore a table from the drop-trash window
        (public contract of Atomic's delayed drop)."""
        db = node.database or self.current_db
        entry = self.dropped.pop((db, node.name), None)
        if entry is None:
            raise ValueError(
                f"UNKNOWN_TABLE: cannot UNDROP {db}.{node.name}: not in "
                f"the drop window")
        if node.name in self._db(db):
            raise ValueError(f"table {db}.{node.name} already exists")
        meta, trash = entry
        if trash and os.path.exists(trash):
            os.makedirs(os.path.dirname(meta.path), exist_ok=True)
            shutil.move(trash, meta.path)
        self._db(db)[node.name] = meta
        return self._ok()

    def _attach(self, node):
        """Bare ATTACH TABLE|DATABASE|DICTIONARY: restore a DETACHed
        object's meta (+data)."""
        kind = getattr(node, "kind", "TABLE")
        if kind == "DATABASE":
            if node.name in self.databases:
                # DATABASE_ALREADY_EXISTS contract: never silently
                # replace a live database (and its tables) on ATTACH
                if node.if_not_exists:
                    return self._ok()
                raise ValueError(f"database {node.name} already exists")
            tables = self.detached_dbs.pop(node.name, None)
            if tables is None:
                if node.if_not_exists:
                    return self._ok()
                raise ValueError(
                    f"cannot ATTACH DATABASE {node.name}: not detached")
            self.databases[node.name] = tables
            return self._ok()
        if kind == "DICTIONARY":
            if node.name in self.dictionaries:
                if node.if_not_exists:
                    return self._ok()
                raise ValueError(
                    f"dictionary {node.name} already exists")
            d = self.detached_dicts.pop(node.name, None)
            if d is None:
                if node.if_not_exists:
                    return self._ok()
                raise ValueError(
                    f"cannot ATTACH DICTIONARY {node.name}: not detached")
            self.dictionaries[node.name] = d
            return self._ok()
        db = node.database or self.current_db
        if node.name in self._db(db):
            if node.if_not_exists:
                return self._ok()
            raise ValueError(f"table {db}.{node.name} already exists")
        meta = self.detached.pop((db, node.name), None)
        if meta is None:
            if node.if_not_exists:
                return self._ok()
            raise ValueError(
                f"cannot ATTACH {db}.{node.name}: not detached")
        self._db(db)[node.name] = meta
        return self._ok()

    def _rename(self, node: RenameTable):
        if node.database:
            # RENAME DATABASE a TO b: move the catalog entry; table
            # data directories keep their absolute paths (metas carry
            # them), exactly like CH's Atomic engine symlink rename
            for a, b in node.renames:
                if a == "default":
                    raise ValueError("cannot rename the default database")
                if a not in self.databases:
                    raise ValueError(f"unknown database: {a}")
                if b in self.databases:
                    raise ValueError(f"database {b} already exists")
                self.databases[b] = self.databases.pop(a)
                for meta in self.databases[b].values():
                    meta.database = b
                if self.current_db == a:
                    self.current_db = b
            return self._ok()
        if node.exchange:
            # EXCHANGE TABLES a AND b: atomic pairwise swap of the
            # catalog entries (data/paths travel with their metas)
            for a, b in node.renames:
                ma, mb = self._resolve(None, a), self._resolve(None, b)
                ma.name, mb.name = b, a
                self._db()[a], self._db()[b] = mb, ma
            return self._ok()
        for a, b in node.renames:
            meta = self._resolve(None, a)
            del self._db()[a]
            meta.name = b
            self._db()[b] = meta
        return self._ok()

    def _alter(self, node: AlterStmt):
        """ALTER TABLE: column DDL + UPDATE/DELETE mutations.

        Beyond-reference surface (the reference's ALTER dispatch is
        commented out, ``ParserQuery.cpp:38-47``); semantics follow public
        ClickHouse docs. Data-changing commands rewrite the table through
        the normal write path (ORDER BY clustering / PARTITION BY layout
        preserved) — the Spark analogue of a CH mutation, which also
        rewrites parts. Mutation expressions all read PRE-mutation values
        (one select against the original frame, like CH)."""
        from .plans.builder import Context as _BCtx
        from .plans.builder import _eval as _beval

        meta = self._resolve(node.database, node.table)
        if meta.is_view:
            raise ValueError(f"cannot ALTER view {meta.name}")
        ctx = _BCtx(self.spark, {})
        df = self._read(meta)
        changed = False
        for act in node.actions:
            names = [n for n, _ in meta.columns]
            if act.kind == "ADD_COLUMN":
                cd = act.column
                if cd.name in names:
                    if act.if_not_exists:
                        continue
                    raise ValueError(f"column exists: {cd.name}")
                spark_t = ch_type_to_spark(cd.type_name)
                if cd.default is not None:
                    val = _beval(cd.default, ctx, df).cast(spark_t)
                else:
                    val = F.lit(_type_default_py(cd.type_name)).cast(spark_t)
                if act.after and act.after not in names:
                    raise ValueError(f"AFTER column not found: {act.after}")
                df = df.withColumn(cd.name, val)
                pos = (0 if act.first
                       else names.index(act.after) + 1 if act.after
                       else len(names))
                meta.columns.insert(pos, (cd.name, cd.type_name))
                if cd.default is not None or cd.default_kind is not None:
                    # future INSERTs fill the column from this expr too
                    meta.defaults[cd.name] = (cd.default_kind or "DEFAULT",
                                              cd.default)
                df = df.select(*[n for n, _ in meta.columns
                                 if meta.defaults.get(n, ("",))[0]
                                 != "EPHEMERAL"])
                changed = True
            elif act.kind == "DROP_COLUMN":
                if act.name not in names:
                    if act.if_exists:
                        continue
                    raise ValueError(f"unknown column: {act.name}")
                if act.name in _key_columns(meta):
                    # CH: a sorting/partition key member cannot be
                    # dropped
                    raise ValueError(
                        f"cannot DROP key column {act.name}")
                meta.columns = [c for c in meta.columns if c[0] != act.name]
                meta.defaults.pop(act.name, None)
                meta.comments.pop(act.name, None)
                meta.codecs.pop(act.name, None)
                df = df.drop(act.name)
                changed = True
            elif act.kind == "RENAME_COLUMN":
                if act.name not in names:
                    if act.if_exists:
                        continue
                    raise ValueError(f"unknown column: {act.name}")
                df = df.withColumnRenamed(act.name, act.new_name)
                meta.columns = [(act.new_name if n == act.name else n, t)
                                for n, t in meta.columns]
                meta.order_by = [act.new_name if c == act.name else c
                                 for c in meta.order_by]
                for attr in (meta.defaults, meta.comments, meta.codecs):
                    if act.name in attr:
                        attr[act.new_name] = attr.pop(act.name)
                if meta.sample_by == act.name:
                    meta.sample_by = act.new_name
                if meta.partition_by == act.name:
                    meta.partition_by = act.new_name
                changed = True
            elif act.kind == "MODIFY_COLUMN":
                cd = act.column
                if cd.name not in names:
                    if act.if_exists:
                        continue
                    raise ValueError(f"unknown column: {cd.name}")
                if cd.type_name:
                    df = df.withColumn(
                        cd.name,
                        F.col(cd.name).cast(ch_type_to_spark(cd.type_name)))
                    meta.columns = [(n, cd.type_name if n == cd.name else t)
                                    for n, t in meta.columns]
                    changed = True
                if cd.default is not None:
                    meta.defaults[cd.name] = (cd.default_kind or "DEFAULT",
                                              cd.default)
            elif act.kind == "COMMENT_COLUMN":
                meta.settings[f"comment:{act.name}"] = act.text
                meta.comments[act.name] = act.text
            elif act.kind == "CLEAR_COLUMN":
                # reset rows to the column TYPE's default (CH resets the
                # part data; types keep their defaults). IN PARTITION
                # scopes the reset to the named partition's rows only.
                types = dict(meta.columns)
                if act.name not in types:
                    if act.if_exists:
                        continue
                    raise ValueError(f"unknown column: {act.name}")
                if act.name in _key_columns(meta):
                    raise ValueError(
                        f"cannot CLEAR key column {act.name}")
                from .operators.joins import _type_default
                t = ch_type_to_spark(types[act.name])
                dflt = _type_default(
                    _parse_datatype_string(t)).cast(t)
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                newc = (dflt if in_part is None else
                        F.when(in_part, dflt).otherwise(F.col(act.name)))
                df = df.select(*[
                    (newc.alias(n) if n == act.name else F.col(n))
                    for n, _ in meta.columns])
                changed = True
            elif act.kind == "MODIFY_COMMENT":
                meta.settings["table_comment"] = act.text
            elif act.kind == "UPDATE":
                pred = F.coalesce(_beval(act.where, ctx, df).cast("boolean"),
                                  F.lit(False))
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                if in_part is not None:
                    pred = pred & in_part
                # CH forbids mutating key columns (ORDER BY / PARTITION
                # BY members): "Cannot UPDATE key column"
                for cname, _e in act.assignments:
                    if cname in _key_columns(meta):
                        raise ValueError(
                            f"cannot UPDATE key column {cname}")
                types = dict(meta.columns)
                updates = {}
                for cname, e in act.assignments:
                    if cname not in types:
                        raise ValueError(f"unknown column: {cname}")
                    newv = _beval(e, ctx, df).cast(
                        ch_type_to_spark(types[cname]))
                    updates[cname] = (F.when(pred, newv)
                                      .otherwise(F.col(cname)).alias(cname))
                df = df.select(*[updates.get(n, F.col(n))
                                 for n, _ in meta.columns])
                changed = True
            elif act.kind == "DELETE":
                pred = F.coalesce(_beval(act.where, ctx, df).cast("boolean"),
                                  F.lit(False))
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                if in_part is not None:
                    pred = pred & in_part
                df = df.filter(~pred)
                changed = True
            elif act.kind == "ADD_PROJECTION":
                prj = meta.settings.setdefault("projections", [])
                if act.name in prj:
                    if not act.if_not_exists:
                        raise ValueError(
                            f"projection {act.name} already exists on "
                            f"{meta.name}")
                else:
                    prj.append(act.name)
            elif act.kind == "DROP_PROJECTION":
                prj = meta.settings.get("projections", [])
                if act.name not in prj and not act.if_exists:
                    raise ValueError(
                        f"no projection {act.name} on {meta.name}")
                meta.settings["projections"] = [
                    n for n in prj if n != act.name]
            elif act.kind == "ADD_INDEX":
                # parquet min/max stats play the secondary-index role;
                # record for SHOW CREATE fidelity
                meta.settings.setdefault("indexes", []).append(act.text)
            elif act.kind == "DROP_INDEX":
                meta.settings["indexes"] = [
                    i for i in meta.settings.get("indexes", [])
                    if not i.split()[:1] == [act.name]]
            elif act.kind == "MODIFY_TTL":
                meta.ttl = act.text
            elif act.kind == "MATERIALIZE_COLUMN":
                # MATERIALIZE COLUMN c [IN PARTITION p]: recompute the
                # column with its CURRENT default/MATERIALIZED
                # expression over existing rows (public ALTER contract
                # — rewrites old parts with the new expression)
                if act.name not in names:
                    raise ValueError(
                        f"MATERIALIZE COLUMN: no column {act.name} "
                        f"in {meta.name}")
                kind_ast = meta.defaults.get(act.name)
                ctype = dict(meta.columns)[act.name]
                spark_t = ch_type_to_spark(ctype)
                if kind_ast is not None and kind_ast[1] is not None:
                    val = _beval(kind_ast[1], ctx, df).cast(spark_t)
                else:
                    val = F.lit(_type_default_py(ctype)).cast(spark_t)
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                if in_part is not None and act.name in df.columns:
                    val = F.when(F.coalesce(in_part, F.lit(False)),
                                 val).otherwise(F.col(act.name))
                if act.name in df.columns:
                    df = df.withColumn(act.name, val)
                    changed = True
                # ALIAS/MATERIALIZED columns are computed at read and
                # not stored — nothing to rewrite for them
            elif act.kind == "MATERIALIZE_TTL":
                # re-apply the table TTL to existing rows now (the
                # OPTIMIZE-time purge, forced)
                if meta.ttl:
                    from .plans.parser import Parser as _P
                    ttl_ast = _P(meta.ttl)._expr()
                    ttl_col = _beval(ttl_ast, ctx, df)
                    pred = ttl_col.cast("timestamp") \
                        > F.current_timestamp()
                    in_part = self._partition_match(
                        meta, act.partition, ctx, df, _beval)
                    if in_part is not None:
                        pred = pred | ~F.coalesce(in_part, F.lit(False))
                    df = df.filter(pred)
                    changed = True
            elif act.kind == "MATERIALIZE_INDEX":
                # parquet min/max stats ARE the skip-index analogue and
                # are always fresh — nothing to rebuild; validate the
                # name like CH does (the parser routes PROJECTION here
                # too, so projection names resolve as well)
                known = [i.split()[0] for i in
                         meta.settings.get("indexes", [])]
                known += meta.settings.get("projections", [])
                if act.name not in known:
                    raise ValueError(
                        f"MATERIALIZE INDEX: no index or projection "
                        f"{act.name} on {meta.name}")
            elif act.kind == "DROP_PARTITION":
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                if in_part is None:
                    raise ValueError("DROP PARTITION on an unpartitioned "
                                     "table")
                df = df.filter(~F.coalesce(in_part, F.lit(False)))
                changed = True
            elif act.kind == "DETACH_PARTITION":
                in_part = self._partition_match(meta, act.partition,
                                                ctx, df, _beval)
                if in_part is None:
                    raise ValueError("DETACH PARTITION on an "
                                     "unpartitioned table")
                cond = F.coalesce(in_part, F.lit(False))
                key = _render_expr(act.partition)
                path = os.path.join(self.warehouse, meta.database,
                                    f"{meta.name}__detached_{key}")
                df.filter(cond).write.mode("overwrite").parquet(path)
                self.detached_parts.setdefault(
                    (meta.database, meta.name), {})[key] = path
                df = df.filter(~cond)
                changed = True
            elif act.kind == "ATTACH_PARTITION":
                key = _render_expr(act.partition)
                store = self.detached_parts.get(
                    (meta.database, meta.name), {})
                if key not in store:
                    raise ValueError(
                        f"NO_SUCH_DATA_PART: no detached partition "
                        f"{key}")
                back = self.spark.read.parquet(store.pop(key))
                df = df.unionByName(back)
                changed = True
            elif act.kind == "DROP_DETACHED_PARTITION":
                key = _render_expr(act.partition)
                store = self.detached_parts.get(
                    (meta.database, meta.name), {})
                if key in store:
                    shutil.rmtree(store.pop(key), ignore_errors=True)
            elif act.kind == "FREEZE":
                # snapshot the (optionally partition-scoped) data under
                # shadow/ — the reference's FREEZE hard-links parts there
                in_part = (self._partition_match(meta, act.partition,
                                                 ctx, df, _beval)
                           if act.partition is not None else None)
                snap = df if in_part is None else df.filter(
                    F.coalesce(in_part, F.lit(False)))
                path = os.path.join(self.warehouse, "shadow",
                                    meta.database, meta.name)
                snap.write.mode("overwrite").parquet(path)
            elif act.kind == "MODIFY_ORDER_BY":
                # the new sorting key must extend the existing one as a
                # prefix and may only add EXISTING columns (CH contract:
                # newly-ordered-by columns must come from ADD COLUMN in
                # the same ALTER or already exist with defaults)
                from .plans.ast_nodes import Identifier, TupleLiteral
                expr = act.where
                if isinstance(expr, TupleLiteral):
                    new_keys = [i.name for i in expr.items
                                if isinstance(i, Identifier)]
                elif isinstance(expr, Identifier):
                    new_keys = [expr.name]
                else:
                    raise ValueError(
                        "MODIFY ORDER BY supports column lists here")
                if new_keys[:len(meta.order_by)] != list(meta.order_by):
                    raise ValueError(
                        "ALTER MODIFY ORDER BY: the new sorting key must "
                        "be a prefix extension of the old one")
                for k in new_keys:
                    if k not in names:
                        raise ValueError(f"unknown column: {k}")
                meta.order_by = new_keys
            elif act.kind == "MODIFY_SAMPLE_BY":
                if act.name not in names:
                    raise ValueError(f"unknown column: {act.name}")
                meta.sample_by = act.name
            elif act.kind == "MODIFY_SETTING":
                meta.settings["table_settings"] = act.text
        if changed:
            self._rewrite(meta, df)
            # record the completed mutation(s) for system.mutations —
            # rewrites are synchronous, so is_done=1 immediately
            _MUTATION_KINDS = {"UPDATE", "DELETE", "MATERIALIZE_COLUMN",
                               "MATERIALIZE_TTL", "DROP_PARTITION",
                               "CLEAR_COLUMN"}
            for act in node.actions:
                if act.kind in _MUTATION_KINDS:
                    self.mutations.append(
                        (meta.database, meta.name,
                         f"mutation_{len(self.mutations) + 1}.txt",
                         act.kind, 1))
        return self._ok()

    def _partition_match(self, meta: TableMeta, partition, ctx, df,
                         _beval):
        """Boolean column selecting rows of the ``IN PARTITION p`` scope
        for ALTER mutations (CLEAR COLUMN / UPDATE / DELETE), or None
        when no partition clause was given. The partition value is the
        table's PARTITION BY expression evaluated per row, null-safe
        compared to the statement's partition literal — CH scopes the
        mutation to the named partition's parts."""
        if partition is None:
            return None
        if meta.partition_expr is not None:
            pv = _beval(meta.partition_expr, ctx, df)
        elif meta.partition_by:
            pv = F.col(meta.partition_by)
        else:
            # unpartitioned table: all parts live under partition id
            # 'all' (MergeTreePartition of an empty key) — CH accepts
            # PARTITION tuple() / PARTITION ID 'all' there and scopes
            # to the whole table
            from .plans.ast_nodes import FuncCall, Literal, TupleLiteral
            p = partition
            if ((isinstance(p, TupleLiteral) and not p.items)
                    or (isinstance(p, FuncCall) and p.name == "tuple"
                        and not p.args)
                    or (isinstance(p, Literal) and p.value == "all")):
                return F.lit(True)
            raise ValueError(
                f"table {meta.name} is not partitioned — IN PARTITION "
                f"requires a PARTITION BY key")
        lit = _beval(partition, ctx, df)
        if meta.partition_by and meta.partition_by in df.columns \
                and meta.partition_expr is None:
            # coerce the statement literal to the partition column's
            # type (CH accepts both `PARTITION 1` and `PARTITION '1'`)
            lit = lit.cast(df.schema[meta.partition_by].dataType)
        return pv.eqNullSafe(lit)

    def _rewrite(self, meta: TableMeta, df: DataFrame) -> None:
        """Replace a table's contents with ``df``, a lazy frame that may
        read the table itself: the one path for ALTER mutations and
        OPTIMIZE. Memory tables swap in a local checkpoint (lineage
        truncated so repeated rewrites don't stack plans; no
        CacheManager entry is left behind). Parquet tables write to a
        sibling dir then swap, so the self-read never overwrites its own
        input. A bucketed table's session-catalog entry is keyed on its
        path, so the sibling's entry is renamed to the table's and
        pointed at the table's path after the swap: the bucketing
        metadata survives and no stale file listing is left behind."""
        if meta.path is None:
            meta.memory_df = df.localCheckpoint(eager=True)
            return
        old, tmp = meta.path, meta.path + ".alter"
        try:
            meta.path = tmp
            tmp_cat = self._catalog_name(meta)
            self._write(meta, df, "overwrite")
        finally:
            meta.path = old
        bucketed = meta.bucket_spec() is not None
        if bucketed:
            cat = self._catalog_name(meta)
            self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
            self.spark.sql(f"ALTER TABLE {tmp_cat} RENAME TO {cat}")
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(tmp, old)
        if bucketed:
            self.spark.sql(f"ALTER TABLE {cat} SET LOCATION '{old}'")
            if meta.partition_by and meta.partition_expr is None:
                # the catalog tracks partitions: drop the sibling's,
                # register the swapped-in ones
                self.spark.sql(f"MSCK REPAIR TABLE {cat} SYNC PARTITIONS")

    def _truncate(self, node: TruncateStmt):
        if getattr(node, "if_exists", False):
            try:
                self._resolve(node.database, node.table)
            except Exception:
                return self._ok()
        meta = self._resolve(node.database, node.table)
        if meta.memory_df is not None:
            meta.memory_df = self._frame(
                [], meta.spark_schema())
        elif meta.bucket_spec() is not None and meta.path:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._catalog_name(meta)}")
            if os.path.exists(meta.path):
                shutil.rmtree(meta.path)
        elif meta.path and os.path.exists(meta.path):
            shutil.rmtree(meta.path)
        return self._ok()

    # --- INSERT / OPTIMIZE ------------------------------------------------

    def _insert(self, node: InsertStmt):
        if getattr(node, "function", None) is not None:
            return self._insert_into_function(node)
        meta = self._resolve(node.database, node.table)
        if getattr(node, "settings", None):
            # INSERT ... SETTINGS k=v: validated like SET, scoped to
            # this statement (overlays the session dict)
            from .plans.builder import check_pinned_settings
            check_pinned_settings({**self.settings, **node.settings})
            saved = self.settings
            self.settings = {**self.settings, **node.settings}
            try:
                return self._insert_inner(node, meta)
            finally:
                self.settings = saved
        return self._insert_inner(node, meta)

    def _insert_inner(self, node: InsertStmt, meta: "TableMeta"):
        if meta.engine == "Null":
            return self._ok()          # accepted, discarded
        if node.watch_view is not None:
            # INSERT INTO t WATCH lv (ParserInsertQuery.cpp:165-172):
            # pipe the live view's current state into the table
            lv = self._resolve(None, node.watch_view)
            source = self._read(lv)
            if meta.memory_df is not None:
                meta.memory_df = meta.memory_df.unionByName(
                    source, allowMissingColumns=False) \
                    if meta.memory_df.columns == source.columns else source
            else:
                self._write(meta, source, mode="append")
            return self._ok()
        hidden_kinds = ("MATERIALIZED", "ALIAS")
        if node.columns:
            for c in node.columns:
                # EPHEMERAL is a legal EXPLICIT insert target (it is an
                # insert-time input); MATERIALIZED/ALIAS are not
                if meta.defaults.get(c, ("",))[0] in hidden_kinds:
                    raise ValueError(
                        f"cannot INSERT into "
                        f"{meta.defaults[c][0]} column {c}")
            cols = node.columns
        else:
            cols = [n for n, _ in meta.columns
                    if meta.defaults.get(n, ("",))[0]
                    not in hidden_kinds + ("EPHEMERAL",)]
        self._store_insert(node, meta, self._insert_source(node, meta, cols))
        return self._ok()

    def _insert_source(self, node: InsertStmt, meta: "TableMeta",
                       cols: list[str]) -> DataFrame:
        """The rows an INSERT supplies, as a frame with columns ``cols``
        of the table's types."""
        types = dict(meta.columns)
        if node.values is not None:
            return values_frame(self.spark, node.values, cols,
                                [types[c] for c in cols], self._build)
        if node.infile is not None or node.format_data is not None:
            from .sources import read_format
            return read_format(
                self.spark, node.format,
                node.infile if node.infile is not None
                else Inline(node.format_data, self._build),
                ", ".join(f"`{c}` {types[c]}" for c in cols), self.settings)
        return self._build(node.select).toDF(*cols)

    def _store_insert(self, node: InsertStmt, meta: "TableMeta",
                      source: DataFrame) -> None:
        """Append an INSERT's rows to ``meta``: fill the omitted columns,
        cast to the stored types, then write (or union into a Memory
        table) and feed the materialized views."""
        # missing columns get their declared DEFAULT / MATERIALIZED /
        # ALIAS expression (evaluated over the supplied columns;
        # iterative passes resolve defaults referencing other defaulted
        # columns), else the CH type default (non-nullable semantics)
        from .plans.builder import Context as _BCtx
        from .plans.builder import _eval as _beval
        pending = [(cname, ctype) for cname, ctype in meta.columns
                   if cname not in source.columns]
        for _ in range(len(pending) + 1):
            progressed = False
            for cname, ctype in list(pending):
                spark_t = ch_type_to_spark(ctype)
                kind_ast = meta.defaults.get(cname)
                try:
                    if kind_ast is not None and kind_ast[1] is not None:
                        val = _beval(kind_ast[1], _BCtx(self.spark, {}),
                                     source).cast(spark_t)
                    else:
                        val = F.lit(_type_default_py(ctype)).cast(spark_t)
                    source = source.withColumn(cname, val)
                except Exception:
                    continue
                pending.remove((cname, ctype))
                progressed = True
            if not pending or not progressed:
                break
        if pending:
            raise ValueError(
                "cannot evaluate DEFAULT expression for column(s): "
                + ", ".join(c for c, _ in pending))
        # EPHEMERAL columns are INSERT-time inputs only: visible to the
        # default expressions above, never stored (so they are neither
        # in SELECT * nor selectable — the CH visibility contract)
        source = source.select(*[
            _enum_guard(F.col(f"`{n}`").cast(ch_type_to_spark(t)), n, t)
            .alias(n)
            for n, t in meta.stored_columns()])
        if meta.memory_df is not None:
            merged = meta.memory_df.unionByName(source)
            if (any(enum_pairs(t) for _n, t in meta.stored_columns())
                    or node.format == "Regexp"):
                # CH validates enum elements / Regexp line matches AT
                # INSERT ("unknown element" / "doesn't match the
                # regexp"); Memory frames are lazy, so force the guarded
                # projection now (also truncates the stacked insert
                # lineage). Committed only on success — a failed INSERT
                # leaves the table unchanged.
                merged = merged.localCheckpoint(eager=True)
            meta.memory_df = merged
        else:
            self._write(meta, source, mode="append")
        self._propagate_mvs(meta, source)

    def _mvs_on(self, meta: TableMeta) -> list[dict]:
        """The materialized views an INSERT into ``meta`` triggers."""
        return [mv for mv in self.mat_views
                if (mv["src_db"], mv["src_table"])
                == (meta.database, meta.name)]

    def _propagate_mvs(self, src_meta: TableMeta, batch: DataFrame,
                       _depth: int = 0) -> None:
        """Materialized views are INSERT TRIGGERS (CH contract,
        docs view#materialized): the stored SELECT runs over each
        INSERTED BLOCK (never the whole table — why CH pairs MVs with
        Summing/AggregatingMergeTree targets) and appends to the target
        table. Chained MVs cascade, with a depth bound as the cycle
        guard."""
        if _depth > 8:
            return
        for mv in self._mvs_on(src_meta):
            out = self._build(mv["query"], overlay={
                mv["src_table"]: batch,
                f"{src_meta.database}.{src_meta.name}": batch})
            tmeta = self._resolve(mv["target_db"], mv["target_table"])
            out = out.select(*[
                F.col(f"`{n}`").cast(ch_type_to_spark(t)).alias(n)
                for n, t in tmeta.stored_columns()])
            if tmeta.memory_df is not None:
                tmeta.memory_df = tmeta.memory_df.unionByName(out)
            else:
                self._write(tmeta, out, mode="append")
            self._propagate_mvs(tmeta, out, _depth + 1)

    def _optimize(self, node: OptimizeStmt):
        """OPTIMIZE [FINAL] [DEDUPLICATE]: one forced merge. The table's
        rows, collapsed by its engine under FINAL, deduplicated and
        TTL-purged, replace its contents through ``_rewrite`` in one
        write job. Nothing is cached, and AQE coalesces the FINAL
        shuffle, so a small table ends with one part, as CH's
        OPTIMIZE FINAL leaves one."""
        meta = self._resolve(node.database, node.table)
        df = self._read(meta)
        if node.final and meta.order_by:
            from .operators.final import final_for_engine
            version = meta.settings.get("version", meta.order_by[-1])
            df = final_for_engine(df, key=meta.order_by, version=version,
                                  engine=meta.engine,
                                  sign=meta.settings.get("sign"),
                                  sum_cols=meta.settings.get("sum_cols"),
                                  ch_columns=dict(meta.columns))
        if node.deduplicate:
            df = (df.dropDuplicates(node.dedup_by) if node.dedup_by
                  else df.dropDuplicates())
        if meta.ttl:
            # CH applies row TTL during merges; OPTIMIZE forces one, so
            # rows whose TTL moment has passed are purged here (the
            # "maintenance job" half of the CODEC/TTL policy — the
            # recorded expression finally acts)
            from .plans.builder import Context as _BCtx
            from .plans.builder import _eval as _beval
            from .plans.parser import Parser as _P
            ttl_ast = _P(meta.ttl)._expr()
            ttl_col = _beval(ttl_ast, _BCtx(self.spark, {}), df)
            df = df.filter(ttl_col.cast("timestamp")
                           > F.current_timestamp())
        self._rewrite(meta, df)
        return self._ok()

    def _parts_rows(self) -> list[tuple]:
        """system.parts analogue: one row per parquet data file of every
        warehouse-backed table (rows from the parquet footer — metadata
        only, cached per (path, mtime), no data pages read)."""
        cache = getattr(self, "_parts_cache", {})
        self._parts_cache = cache
        rows: list[tuple] = []
        for db in sorted(self.databases):
            for name, meta in sorted(self._db(db).items()):
                if not meta.path or not os.path.exists(meta.path):
                    continue
                for root, _dirs, files in os.walk(meta.path):
                    for f in sorted(files):
                        if not f.endswith(".parquet"):
                            continue
                        p = os.path.join(root, f)
                        st = os.stat(p)
                        key = (p, st.st_mtime_ns)
                        if key not in cache:
                            import pyarrow.parquet as pq
                            cache[key] = pq.ParquetFile(p).metadata.num_rows
                        rel = os.path.relpath(p, meta.path)
                        rows.append((db, name, rel, cache[key],
                                     st.st_size, True))
        return rows

    def _catalog_name(self, meta: TableMeta) -> str:
        """Session-catalog name for a bucketed table, keyed on the
        warehouse path (stable under RENAME/EXCHANGE — the meta travels
        with its path)."""
        import hashlib
        h = hashlib.md5(meta.path.encode()).hexdigest()[:12]
        return f"chspark_b{h}"

    def _sort_key_cols(self, df: DataFrame, order_by: list[str]):
        """ORDER BY entries as sortWithinPartitions arguments: plain
        columns by name, EXPRESSION entries evaluated to Columns."""
        out = []
        for k in order_by:
            if k in df.columns:
                out.append(F.col(k))
                continue
            try:
                from .plans.builder import Context as _BCtx
                from .plans.builder import _eval as _beval
                from .plans.parser import Parser as _P
                out.append(_beval(_P(k)._expr(), _BCtx(self.spark, {}), df))
            except Exception:
                pass                   # unevaluable key: skip the sort hint
        return out

    def _write(self, meta: TableMeta, df: DataFrame, mode: str) -> None:
        spec = meta.bucket_spec()
        if spec is not None and meta.path:
            n, col = spec
            sort_cols = self._sort_key_cols(df, meta.order_by or [])
            writer = (df.sortWithinPartitions(*sort_cols)
                      if sort_cols else df)
            w = writer.write.mode(mode).option("path", meta.path)
            if meta.partition_by and meta.partition_expr is None:
                w = w.partitionBy(meta.partition_by)
            # bucket sortBy needs NAMES: expression keys fall out
            sort_names = [k for k in (meta.order_by or [])
                          if k in df.columns]
            (w.bucketBy(n, col).sortBy(*(sort_names or [col]))
             .saveAsTable(self._catalog_name(meta)))
            return
        writer = df
        if meta.order_by:
            # MergeTree ORDER BY → cluster files by sorting key so parquet
            # min/max stats prune scans (the reference's primary-index role)
            sort_cols = self._sort_key_cols(df, meta.order_by)
            if sort_cols:
                writer = writer.sortWithinPartitions(*sort_cols)
        from .plans.ast_nodes import Identifier, TupleLiteral
        part_col = meta.partition_by
        if (isinstance(meta.partition_expr, TupleLiteral)
                and all(isinstance(i, Identifier)
                        for i in meta.partition_expr.items)):
            # PARTITION BY (a, b): multi-column directory layout
            w = writer.write.mode(mode)
            w = w.partitionBy(*[i.name for i in meta.partition_expr.items])
            w.parquet(meta.path)
            return
        if meta.partition_expr is not None:
            # PARTITION BY <expr>: materialize as a hidden column for the
            # directory layout; reads use the declared schema, which
            # excludes it, so it stays purely physical (pruning still
            # applies via the directory structure).
            from .plans.builder import Context as _BCtx, _eval as _beval
            part_col = "__part"
            writer = writer.withColumn(
                part_col, _beval(meta.partition_expr,
                                 _BCtx(self.spark, {}), writer))
        w = writer.write.mode(mode)
        if part_col:
            w = w.partitionBy(part_col)
        w.parquet(meta.path)

    # --- SHOW / DESCRIBE / admin -----------------------------------------

    def _show(self, node: ShowStmt):
        if node.what == "DATABASES":
            return self._frame(*_SYSTEM_TABLES["databases"](self))
        if node.what == "PROCESSLIST":
            # execution is synchronous in this engine — by the time a
            # statement can observe the process list, nothing is running
            # (CH semantics preserved: the running-queries view, empty)
            return self._frame(
                [], "query_id string, query string, elapsed double")
        if node.what == "DICTIONARIES":
            return self._frame(
                [(n,) for n in sorted(self.dictionaries)], "name string")
        if node.what == "FUNCTIONS":
            # one row per name, like system.functions: REGISTRY holds
            # the scalars and the base aggregates; combinator spellings
            # (sumIf, uniqArray) are resolved, not listed
            from .functions import REGISTRY
            from .functions.aggregates import AGGREGATES
            rows = [(n, int(n in AGGREGATES)) for n in sorted(REGISTRY)]
            if node.like:
                pat = _like(node.like)
                rows = [r for r in rows if pat.match(r[0])]
            return self._frame(rows, "name string, is_aggregate int")
        if node.what == "ENGINES":
            return self._frame(
                [(e,) for e in sorted(
                    ("MergeTree", "ReplacingMergeTree",
                     "SummingMergeTree", "AggregatingMergeTree",
                     "CollapsingMergeTree",
                     "VersionedCollapsingMergeTree", "Memory", "Null",
                     "Log", "TinyLog", "View", "MaterializedView",
                     "Dictionary", "Merge", "File"))], "name string")
        if node.what == "GRANTS":
            # single-user engine: the default user holds everything
            return self._frame(
                [("GRANT ALL ON *.* TO default WITH GRANT OPTION",)],
                "grants string")
        if node.what in ("SETTINGS", "CHANGED_SETTINGS"):
            rows, schema = _SYSTEM_TABLES["settings"](self)
            if node.what == "CHANGED_SETTINGS":
                rows = [r for r in rows if r[2]]
            if node.like:
                pat = _like(node.like)
                rows = [r for r in rows if pat.match(r[0])]
            return self._frame(rows, schema)
        if node.what == "CREATE_DATABASE":
            if node.target not in self.databases:
                raise ValueError(f"unknown database: {node.target}")
            return self._frame(
                [(f"CREATE DATABASE {node.target}",)], "statement string")
        if node.what == "CREATE_DICTIONARY":
            d = self.dictionaries.get(node.target)
            if d is None:
                raise ValueError(f"unknown dictionary: {node.target}")
            cols = ", ".join(
                [f"`{d.key}` {d.key_type}"]
                + [f"`{a}` {t}" + (f" DEFAULT {dflt!r}"
                                   if dflt is not None else "")
                   for a, (t, dflt) in d.attrs.items()])
            stmt = (f"CREATE DICTIONARY {d.database}.{d.name} ({cols}) "
                    f"PRIMARY KEY {d.key} "
                    f"SOURCE(CLICKHOUSE(TABLE '{d.source_table}')) "
                    f"LAYOUT({d.layout}())"
                    + (f" LIFETIME({d.lifetime})" if d.lifetime else ""))
            return self._frame([(stmt,)], "statement string")
        if node.what == "CREATE_TABLE":
            meta = self._resolve(node.database, node.target)
            return self._frame(
                [(self._format_create(meta),)], "statement string")
        names = sorted(self._db(node.database))
        if node.like:
            pat = _like(node.like)
            names = [n for n in names
                     if bool(pat.match(n)) != node.not_like]
        return self._frame([(n,) for n in names], "name string")

    def _format_create(self, meta: TableMeta) -> str:
        from .plans.ast_nodes import format_node

        def col_decl(n: str, t: str) -> str:
            out = f"`{n}` {t}"
            kind_ast = meta.defaults.get(n)
            if kind_ast is not None:
                kind, ast = kind_ast
                out += f" {kind}"
                if ast is not None:
                    out += f" {format_node(ast)}"
            if n in meta.comments:
                # escape like _fmt_literal so the rendered DDL reparses
                esc = (meta.comments[n].replace("\\", "\\\\")
                       .replace("'", "\\'"))
                out += f" COMMENT '{esc}'"
            if n in meta.codecs:
                out += f" CODEC({meta.codecs[n]})"
            return out

        if meta.is_view and meta.view_query is not None:
            # views print CREATE VIEW ... AS <query> (the reference's
            # SHOW CREATE renders the stored SELECT back as SQL)
            from .plans.format_sql import format_sql
            return (f"CREATE VIEW {meta.database}.{meta.name} AS "
                    + format_sql(meta.view_query, one_line=True))
        cols = ", ".join(col_decl(n, t) for n, t in meta.columns)
        parts = [f"CREATE TABLE {meta.database}.{meta.name} ({cols}) "
                 f"ENGINE = {meta.engine}"]
        if meta.order_by:
            parts.append(f"ORDER BY ({', '.join(meta.order_by)})")
        if meta.partition_by:
            parts.append(f"PARTITION BY {meta.partition_by}")
        if meta.sample_by:
            parts.append(f"SAMPLE BY {meta.sample_by}")
        if meta.ttl:
            parts.append(f"TTL {meta.ttl}")
        return " ".join(parts)

    def _describe(self, node: DescribeStmt):
        """CH DESCRIBE shape (reference
        ``src/Parsers/ParserDescribeTableQuery.cpp`` surface; published
        output columns): name, type, default_type, default_expression,
        comment, codec_expression, ttl_expression — empty string when a
        column has no such attribute."""
        from .plans.ast_nodes import format_node
        if getattr(node, "query", None) is not None:
            # DESCRIBE (SELECT ...): the CH types of the query's result
            df = self._build(node.query)
            rows = [(n, t, "", "", "", "", "")
                    for n, t in zip(df.columns, column_ch_types(df))]
            return self._frame(
                rows, "name string, type string, default_type string, "
                "default_expression string, comment string, "
                "codec_expression string, ttl_expression string")
        meta = self._resolve(node.database, node.table)
        rows = []
        for n, t in meta.columns:
            kind, ast = meta.defaults.get(n, ("", None))
            rows.append((n, t, kind,
                         format_node(ast) if ast is not None else "",
                         meta.comments.get(n, ""),
                         meta.codecs.get(n, ""), ""))
        return self._frame(
            rows, "name string, type string, default_type string, "
            "default_expression string, comment string, "
            "codec_expression string, ttl_expression string")

    def _exists(self, node: ExistsStmt):
        if node.table == "":
            # EXISTS DATABASE form (database carried in the db slot)
            ok = node.database in self.databases
        else:
            ok = node.table in self._db(node.database)
        return self._frame([(int(ok),)], "result int")

    def _use(self, node: UseStmt):
        if node.database not in self.databases:
            raise ValueError(f"unknown database: {node.database}")
        self.current_db = node.database
        return self._ok()

    def _set(self, node: SetStmt):
        from .plans.builder import check_pinned_settings
        check_pinned_settings({**self.settings, **node.settings})
        self.settings.update(node.settings)
        return self._ok()

    def _explain(self, node: ExplainStmt):
        if node.kind == "AST":
            # reference IAST::dumpTree shape (IAST.cpp:159-168)
            from .plans.format_sql import dump_ast
            text = dump_ast(node.query)
        elif node.kind == "ESTIMATE":
            # CH contract: one row per scanned table with
            # database/table/parts/rows/marks (marks = row count at the
            # default 8192 index granularity). Row counts come from
            # parquet footers / cached frames — no data pages read.
            from .plans.ast_nodes import Join as _Join
            from .plans.ast_nodes import TableRef as _TRef

            def tables_of(q):
                out = []

                def walk_from(n):
                    if isinstance(n, _TRef):
                        out.append(n)
                    elif isinstance(n, _Join):
                        walk_from(n.left)
                        walk_from(n.right)
                for sel in getattr(q, "selects", [q]):
                    if getattr(sel, "from_", None) is not None:
                        walk_from(sel.from_)
                return out

            rows = []
            for tref in tables_of(node.query):
                try:
                    meta = self._resolve(tref.database, tref.table)
                except Exception:
                    continue
                n = self._read(meta).count()
                parts = 1
                if meta.path and os.path.isdir(meta.path):
                    parts = sum(1 for f in os.listdir(meta.path)
                                if f.endswith(".parquet")) or 1
                rows.append((meta.database, meta.name, parts, n,
                             (n + 8191) // 8192))
            return self._frame(
                rows, "database string, table string, parts bigint,"
                " rows bigint, marks bigint")
        elif node.kind == "QUERY TREE":
            # analyzer-tree shape (sections QUERY / PROJECTION COLUMNS /
            # PROJECTION / JOIN TREE / WHERE / GROUP BY / ORDER BY, the
            # reference's QueryTreePassManager dump layout); expressions
            # print in their post-rewrite SQL form
            from .plans.ast_nodes import Join as _Join
            from .plans.ast_nodes import SelectQuery as _Sel
            from .plans.ast_nodes import TableRef as _TRef
            from .plans.format_sql import format_expr

            q = node.query
            sel = q.selects[0] if hasattr(q, "selects") else q
            if not isinstance(sel, _Sel):
                raise ValueError("EXPLAIN QUERY TREE expects SELECT")
            lines = ["QUERY id: 0"]
            lines.append("  PROJECTION")
            for item in sel.select:
                lines.append(f"    {format_expr(item)}")

            def join_tree(n, depth):
                pad = "    " * depth
                if isinstance(n, _TRef):
                    full = (f"{n.database}.{n.table}" if n.database
                            else n.table)
                    lines.append(f"{pad}TABLE table_name: {full}")
                elif isinstance(n, _Join):
                    lines.append(f"{pad}JOIN kind: "
                                 f"{(n.kind or 'INNER').upper()}")
                    join_tree(n.left, depth + 1)
                    join_tree(n.right, depth + 1)
                elif n is not None:
                    lines.append(f"{pad}QUERY (subquery)")
            lines.append("  JOIN TREE")
            if sel.from_ is not None:
                join_tree(sel.from_, 1)
            else:
                lines.append("    TABLE table_name: system.one")
            if sel.where is not None:
                lines.append("  WHERE")
                lines.append(f"    {format_expr(sel.where)}")
            if sel.group_by:
                lines.append("  GROUP BY")
                for g in getattr(sel.group_by, "exprs", sel.group_by):
                    lines.append(f"    {format_expr(g)}")
            if sel.order_by:
                lines.append("  ORDER BY")
                for o in sel.order_by:
                    lines.append(f"    {format_expr(o.expr)}")
            text = "\n".join(lines)
        elif node.kind == "SYNTAX":
            # the post-rewrite query formatted back as SQL — the
            # reference IAST::formatImpl contract (the parser already
            # applied the canonical rewrites: TOP → LIMIT, BETWEEN →
            # >= AND <=, ternary → if, quantified comparisons)
            from .plans.format_sql import format_sql
            text = format_sql(node.query, one_line=False)
        else:
            df = self._build(node.query)
            mode = {"PLAN": "extended",
                    "PIPELINE": "formatted"}[node.kind]
            try:
                jvm = self.spark._jvm
                jmode = jvm.org.apache.spark.sql.execution.ExplainMode \
                    .fromString(mode)
                text = df._jdf.queryExecution().explainString(jmode)
            except Exception:
                text = df._jdf.queryExecution().toString()
        return self._lines(text, "explain")

    # --- streaming surface (§2.9): LIVE VIEW / WINDOW VIEW / WATCH --------

    def _create_live_view(self, node: CreateLiveView):
        """LIVE VIEW = continuously-updated result. In the batch catalog a
        WATCH re-evaluates the stored query over current table state
        (always-fresh semantics); the true push-based form runs through
        streaming.LiveView on a readStream source."""
        if node.name in self._db() and node.if_not_exists:
            return self._ok()
        meta = TableMeta(node.name, self.current_db, [], engine="LiveView",
                         is_view=True, view_query=node.query)
        meta.settings["refresh_sec"] = node.refresh_sec
        meta.settings["_version"] = 0
        self._db()[node.name] = meta
        return self._ok()

    def _create_window_view(self, node: CreateWindowView):
        """WINDOW VIEW: stored windowed aggregation (tumble/hop in the
        query compile to ``F.window``); WATCH evaluates it, TO tbl routes
        each evaluation into the target table (the batch analogue of
        ``writeStream.toTable``; streaming.WindowView is the live form)."""
        if node.name in self._db() and node.if_not_exists:
            return self._ok()
        meta = TableMeta(node.name, self.current_db, [], engine="WindowView",
                         is_view=True, view_query=node.query)
        meta.settings.update({"to_table": node.to_table,
                              "watermark": node.watermark,
                              "allowed_lateness": node.allowed_lateness,
                              "_version": 0})
        self._db()[node.name] = meta
        return self._ok()

    def _watch(self, node: WatchStmt):
        meta = self._resolve(None, node.name)
        if meta.engine not in ("LiveView", "WindowView", "View"):
            raise ValueError(f"WATCH target is not a view: {node.name}")
        meta.settings["_version"] = meta.settings.get("_version", 0) + 1
        if node.events:
            return self._frame(
                [(meta.settings["_version"],)], "version bigint")
        df = self._read(meta)
        to_table = meta.settings.get("to_table")
        if to_table:
            target = self._resolve(None, to_table)
            snapshot = df
            if target.memory_df is not None:
                target.memory_df = snapshot
            else:
                self._write(target, snapshot, mode="overwrite")
        if node.limit is not None:
            df = df.limit(node.limit)
        return df

    def _output(self, node: OutputClause):
        """INTO OUTFILE 'f' [COMPRESSION 'm'] [FORMAT fmt] suffix. The
        reference attaches it to every ASTQueryWithOutput — SELECT but
        also SHOW/DESCRIBE/EXISTS/EXPLAIN (ParserQueryWithOutput.cpp:
        56-75) — so non-query statements dispatch first and their result
        frame feeds the same renderer."""
        if getattr(node, "settings", None):
            # SETTINGS after FORMAT: overlay for the render (format_*
            # knobs drive CustomSeparated/Template), restore after —
            # per-query settings don't leak into the session
            saved = {k: self.settings.get(k, _MISSING)
                     for k in node.settings}
            self.settings.update(node.settings)
            try:
                return self._output_inner(node)
            finally:
                for k, v in saved.items():
                    if v is _MISSING:
                        self.settings.pop(k, None)
                    else:
                        self.settings[k] = v
        return self._output_inner(node)

    def _output_inner(self, node: OutputClause):
        inner = node.query
        if isinstance(inner, (SelectQuery, UnionQuery)):
            df = self._build(inner)
        else:
            df = self._dispatch_node(inner)
            if df is None or not hasattr(df, "columns"):
                raise ValueError("INTO OUTFILE/FORMAT applies to "
                                 "statements that return a result")
        from .sources.formats import TEXT_FORMATS, render_text
        if node.outfile:
            from .sources import write_format
            write_format(df, node.format or "Parquet", node.outfile,
                         compression=node.compression,
                         settings=self.settings)
            return self._ok()
        if node.format in TEXT_FORMATS:
            return self._lines(render_text(df, node.format, self.settings))
        return df

    def _lines(self, text: str, column: str = "output") -> DataFrame:
        """Rendered text as a one-column frame, one row per line."""
        return self._frame([(line,) for line in text.split("\n")],
                           f"{column} string")

    def _insert_into_function(self, node: InsertStmt):
        """INSERT INTO FUNCTION sink: null(...) discards after
        evaluating the source; file('path'[, 'Format']) writes through
        the format registry. Other sinks raise a named error."""
        tf = node.function
        src = (self._build(node.select) if node.select is not None
               else values_frame(self.spark, node.values or [],
                                 node.columns, build=self._build))
        fname = tf.name.lower()
        if fname == "null":
            src.count()                      # evaluate, discard
            return self._ok()
        if fname == "file":
            from .sources import write_format
            path = str(tf.args[0].value)
            fmt = (str(tf.args[1].value) if len(tf.args) > 1
                   else "Parquet")
            write_format(src, fmt, path, settings=self.settings)
            return self._ok()
        raise ValueError(
            f"INSERT INTO FUNCTION {tf.name} is not implemented "
            f"(NOT_IMPLEMENTED)")

    def _check(self, node: CheckStmt):
        meta = self._resolve(node.database, node.table)
        n = self._read(meta).count()       # full read-validate pass
        return self._frame([(1, n)],
                                          "result int, rows bigint")

    # --- admin verbs ------------------------------------------------------

    _SYSTEM_SUPPORTED = ("DROP MARK CACHE", "DROP UNCOMPRESSED CACHE",
                         "FLUSH LOGS", "RELOAD CONFIG", "STOP MERGES",
                         "START MERGES")

    def _system(self, node: SystemStmt):
        """SYSTEM verbs (ASTSystemQuery.h:16-68): cache drops map to
        Spark's catalog cache; the rest are honest no-ops (merges/config
        belong to Spark's own runtime)."""
        if node.verb.startswith("DROP") and "CACHE" in node.verb:
            self.spark.catalog.clearCache()
            return self._ok()
        if node.verb.startswith("RELOAD DICTIONAR"):
            # RELOAD DICTIONARY <name> / RELOAD DICTIONARIES: drop the
            # cached maps so the next dictGet re-reads the source
            parts = node.verb.split()
            targets = (parts[2:] if len(parts) > 2
                       else list(self.dictionaries))
            for t in targets:
                # verb text is upper-cased; match case-insensitively
                for name, dm in self.dictionaries.items():
                    if name.upper() == t.upper():
                        dm.cache = None
            return self._ok()
        status = ("ok" if any(node.verb.startswith(v)
                              for v in self._SYSTEM_SUPPORTED)
                  else "noop (not applicable on Spark)")
        return self._frame([(node.verb, status)],
                                          "verb string, status string")

    def _kill(self, node: KillStmt):
        """KILL QUERY — cancels active Spark job groups (best-effort)."""
        self.spark.sparkContext.cancelAllJobs()
        return self._ok()

    def _backup(self, node: BackupStmt):
        """BACKUP/RESTORE TABLE|DATABASE ... TO Disk('path') → parquet
        snapshot (one subdirectory per table for the DATABASE form)."""
        if node.target == "DATABASE":
            if node.kind == "BACKUP":
                for name, meta in self._db(node.database).items():
                    if meta.is_view:
                        continue
                    self._read(meta).write.mode("overwrite").parquet(
                        os.path.join(node.path, name))
                return self._ok()
            # RESTORE DATABASE d [AS|INTO d2]: land under the new name
            db = node.new_database or node.database
            if not os.path.isdir(node.path):
                # CH error 598 on a missing backup name
                raise ValueError(
                    f"BACKUP_NOT_FOUND: backup '{node.path}' does not "
                    f"exist")
            self.databases.setdefault(db, {})
            for name in sorted(os.listdir(node.path)):
                sub = os.path.join(node.path, name)
                if os.path.isdir(sub):
                    self._restore_table(db, name, sub)
            return self._ok()
        if node.kind == "BACKUP":
            meta = self._resolve(node.database, node.table)
            self._read(meta).write.mode("overwrite").parquet(node.path)
            return self._ok()
        # RESTORE TABLE t [AS|INTO t2]: per-element rename — restore the
        # snapshot under the new name (ParserBackupQuery.cpp:107-119;
        # ASTBackupQuery element new_database/new_table)
        self._restore_table(node.new_database or node.database
                            or self.current_db,
                            node.new_table or node.table, node.path)
        return self._ok()

    def _restore_table(self, db: str, table: str, path: str) -> None:
        if not os.path.isdir(path):
            # CH error 598 on a missing backup name
            raise ValueError(
                f"BACKUP_NOT_FOUND: backup '{path}' does not exist")
        df = self.spark.read.parquet(path)
        meta = TableMeta(table, db,
                         [(f.name, spark_to_ch(f.dataType))
                          for f in df.schema.fields],
                         engine="MergeTree",
                         path=os.path.join(self.warehouse, db, table))
        self._write(meta, df, mode="overwrite")
        self._db(db)[table] = meta

    def _ok(self):
        return self._frame([(0,)], "ok int")


_RESULT_SETTINGS = ("limit", "offset", "max_result_rows")


def _is_param_view(meta: TableMeta) -> bool:
    return meta.is_view and _ast_has_params(meta.view_query)


class _Catalog(Mapping):
    """A statement's read-only name → DataFrame mapping over the session
    catalog (SURVEY §1.3, §2.12: a table is a DataFrame, a view a stored
    query). ``in`` and iteration answer from names alone. A table is
    read, a view body built or one system.* frame made only when the
    builder asks for that name, then memoised for the statement.

    Bare names resolve in ``dbs``: the current database for a
    statement, the view's database then ``default`` for a view body.
    Parameterized views stay out: they bind at call sites through the
    builder's view ASTs. ``resolving`` holds the views being built, so a
    cycle raises a named error; iteration (``merge()``) skips them."""

    def __init__(self, session: ChSession,
                 dbs: tuple[str, ...] | None = None,
                 resolving: frozenset = frozenset(),
                 memo: dict | None = None):
        self.session = session
        self.dbs = dbs or (session.current_db,)
        self.resolving = resolving
        self.memo = {} if memo is None else memo

    def _entry(self, name):
        """The system.* table name or TableMeta a name denotes, or
        None."""
        if not isinstance(name, str):
            return None
        if name.startswith("system.") and name[7:] in _SYSTEM_TABLES:
            return name[7:]
        databases = self.session.databases
        db, _, table = name.partition(".")
        for meta in [databases.get(d, {}).get(name) for d in self.dbs] + [
                databases.get(db, {}).get(table)]:
            if meta is not None and not _is_param_view(meta):
                return meta
        return None

    def __contains__(self, name) -> bool:
        return self._entry(name) is not None

    def __getitem__(self, name) -> DataFrame:
        entry = self._entry(name)
        if entry is None:
            raise KeyError(name)
        return self.frame(entry)

    def __iter__(self):
        yield from (f"system.{n}" for n in _SYSTEM_TABLES)
        for name, meta in self.session._named(self.dbs):
            if not (_is_param_view(meta)
                    or (meta.database, meta.name) in self.resolving):
                yield name

    def __len__(self) -> int:
        return sum(1 for _ in self)

    def frame(self, entry: "TableMeta | str") -> DataFrame:
        s = self.session
        if isinstance(entry, str):
            key = ("system", entry)
        else:
            key = (entry.database, entry.name)
        if key in self.memo:
            return self.memo[key]
        if isinstance(entry, str):
            df = s._frame(*_SYSTEM_TABLES[entry](s))
        elif not entry.is_view:
            df = s._scan(entry)
        elif key in self.resolving:
            raise ValueError(
                f"circular view reference involving {entry.name}")
        else:
            df = s._build(entry.view_query, catalog=_Catalog(
                s, (entry.database, "default"), self.resolving | {key},
                self.memo))
        self.memo[key] = df
        return df


def _tables_rows(s: ChSession) -> list[tuple]:
    return [(db, name, meta.engine, ", ".join(meta.order_by),
             meta.partition_by or "")
            for db in sorted(s.databases)
            for name, meta in sorted(s.databases[db].items())]


def _columns_rows(s: ChSession) -> list[tuple]:
    return [(db, name, cn, ct, pos)
            for db in sorted(s.databases)
            for name, meta in sorted(s.databases[db].items())
            for pos, (cn, ct) in enumerate(meta.columns, 1)]


# Catalog-backed system.* tables: name → (session → (rows, schema)).
# The builder makes system.one / numbers / functions itself.
_SYSTEM_TABLES = {
    "tables": lambda s: (
        _tables_rows(s), "database string, name string, engine string,"
        " sorting_key string, partition_key string"),
    "columns": lambda s: (
        _columns_rows(s), "database string, table string, name string,"
        " type string, position int"),
    "databases": lambda s: (
        [(d,) for d in sorted(s.databases)], "name string"),
    "settings": lambda s: (
        [(k, str(v), int(k in s.settings)) for k, v in sorted(
            {**_reference_defaults(), **_SETTING_DEFAULTS,
             **s.settings}.items())],
        "name string, value string, changed int"),
    "dictionaries": lambda s: (
        sorted((d.database, d.name, d.layout, d.key, d.source_table,
                d.cache is not None) for d in s.dictionaries.values()),
        "database string, name string, layout string, key string,"
        " source string, loaded boolean"),
    "query_log": lambda s: (
        list(s.query_log), "query string, type string,"
        " query_duration_ms double, event_time timestamp"),
    "parts": lambda s: (
        s._parts_rows(), "database string, table string, name string,"
        " rows bigint, bytes_on_disk bigint, active boolean"),
    # one row per in-flight query: this session's current statement (the
    # reference lists live queries; a local engine always has the one)
    "processes": lambda s: ([("default", "")], "user string, query string"),
    "formats": lambda s: (
        format_table(),
        "name string, is_input int, is_output int"),
    "table_functions": lambda s: (
        [(n,) for n in sorted(
            ("numbers", "numbers_mt", "view", "one", "zeros", "zeros_mt",
             "file", "url", "values", "format", "generateRandom", "merge",
             "input", "null", "dsirSelect", "packSequences",
             "domainMix"))],
        "name string"),
    "aggregate_function_combinators": lambda s: (
        [(n,) for n in sorted(
            ("If", "Array", "ArrayIf", "Map", "SimpleState", "State",
             "Merge", "MergeState", "ForEach", "Distinct", "OrDefault",
             "OrNull", "Resample", "ArgMin", "ArgMax"))],
        "name string"),
    # mutations apply synchronously here (each ALTER rewrite completes
    # before execute() returns), so every row is done
    "mutations": lambda s: (
        list(s.mutations), "database string, table string,"
        " mutation_id string, command string, is_done int"),
    # no background merge pool — Spark rewrites are the merges
    "merges": lambda s: (
        [], "database string, table string, elapsed double,"
        " progress double"),
    "clusters": lambda s: (
        [("default", 1, 1, 1, "localhost", "127.0.0.1", 9000, 1)],
        "cluster string, shard_num int, shard_weight int,"
        " replica_num int, host_name string, host_address string,"
        " port int, is_local int"),
    "disks": lambda s: (
        [("default", s.warehouse, _disk_free(s.warehouse),
          _disk_total(s.warehouse), "Local")],
        "name string, path string, free_space bigint,"
        " total_space bigint, type string"),
    "storage_policies": lambda s: (
        [("default", "default", 0, ["default"])],
        "policy_name string, volume_name string, volume_priority int,"
        " disks array<string>"),
    "macros": lambda s: ([], "macro string, substitution string"),
    "users": lambda s: (
        [("default", "local_directory", "no_password")],
        "name string, storage string, auth_type string"),
    "roles": lambda s: ([], "name string, id string, storage string"),
    "grants": lambda s: (
        [("default", None, "ALL", None, None, 0, 1)],
        "user_name string, role_name string, access_type string,"
        " database string, table string, is_partial_revoke int,"
        " grant_option int"),
    "events": lambda s: (
        [("Query", s.queries, "Number of queries started"),
         ("FailedQuery", s.failed_queries, "Number of failed queries")],
        "event string, value bigint, description string"),
    "metrics": lambda s: (
        [("Query", s.executing, "Queries executing right now"),
         ("TCPConnection", 0, "TCP connections")],
        "metric string, value bigint, description string"),
    "asynchronous_metrics": lambda s: (
        [("Uptime", time.monotonic() - s.started),
         ("MemoryResident", float(_resident_bytes()))],
        "metric string, value double"),
    "replicas": lambda s: (
        [], "database string, table string, is_leader int,"
        " is_readonly int, absolute_delay bigint"),
    "detached_parts": lambda s: (
        [(db, tbl, part) for (db, tbl), parts in s.detached_parts.items()
         for part in parts],
        "database string, table string, partition_id string"),
}


def _resident_bytes() -> int:
    """Resident set size of the driver process (0 without procfs)."""
    try:
        with open("/proc/self/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _like(pattern: str) -> re.Pattern:
    """A SHOW … LIKE pattern (% any run, _ one character) as a regex."""
    return re.compile("^" + re.escape(pattern).replace("%", ".*")
                      .replace("_", ".") + "$", re.IGNORECASE)


def _partition_column(node: CreateTable) -> tuple[str | None, object | None]:
    """(display text, expr AST or None). Plain columns partition directly;
    expressions are materialized as a hidden __part column at write."""
    from .plans.ast_nodes import Identifier
    if node.partition_by is None:
        return None, None
    if isinstance(node.partition_by, Identifier):
        return node.partition_by.name, None
    return _render_expr(node.partition_by), node.partition_by


def _render_expr(node) -> str:
    from .plans.ast_nodes import (FuncCall, Identifier, Literal,
                                  TupleLiteral)
    if isinstance(node, Identifier):
        return node.name
    if isinstance(node, Literal):
        return repr(node.value)
    if isinstance(node, FuncCall):
        return f"{node.name}({', '.join(_render_expr(a) for a in node.args)})"
    if isinstance(node, TupleLiteral):
        return f"({', '.join(_render_expr(a) for a in node.items)})"
    return "<expr>"


def _enum_guard(col: Column, name: str, ch_type: str) -> Column:
    """CH rejects INSERTed values outside the Enum's element set
    ("Unknown element ... for enum"); enforce lazily with raise_error so
    the check stays distributed. CH also accepts the declared numeric
    IDs at INSERT (Enum8('a'=1): inserting 1 stores 'a') — translate
    those to their element names before the guard."""
    pairs = enum_pairs(ch_type)
    if not pairs:
        return col
    elems = [n for n, _ in pairs]
    # values arrive stringified; a declared numeric id maps to its name,
    # but a value that IS an element name always stays itself (covers
    # numeric-text names like Enum8('1' = 2))
    mapped = col
    for n, i in pairs:
        mapped = F.when(col == str(i), F.lit(n)).otherwise(mapped)
    col = F.when(col.isin(*elems), col).otherwise(mapped)
    return (F.when(col.isNull() | col.isin(*elems), col)
            .otherwise(F.raise_error(F.concat(
                F.lit(f"unknown element '"), col,
                F.lit(f"' for enum column {name}")))))


def _key_columns(meta: "TableMeta") -> set[str]:
    """ORDER BY / PARTITION BY member columns — CH forbids UPDATE,
    DROP COLUMN, and CLEAR COLUMN on these. ORDER BY entries may be
    EXPRESSIONS (``ORDER BY cityHash64(id)``): parse those and collect
    every referenced column, so expression-key members are guarded too."""
    keys: set[str] = set()
    declared = {n for n, _ in meta.columns}
    for entry in (meta.order_by or []):
        if entry in declared:
            keys.add(entry)
            continue
        try:
            from .plans.parser import Parser as _P
            keys |= _expr_identifiers(_P(entry)._expr())
        except Exception:
            keys.add(entry)        # unparseable: guard the raw text
    if meta.partition_by:
        keys.add(meta.partition_by)
    if meta.partition_expr is not None:
        keys |= _expr_identifiers(meta.partition_expr)
    return keys


def _expr_identifiers(node) -> set[str]:
    """Column names referenced by an AST expression (used to forbid
    ALTER UPDATE of PARTITION BY expression members)."""
    from .plans.ast_nodes import (Alias, ArrayLiteral, Cast, FuncCall,
                                  Identifier, TupleLiteral)
    out: set[str] = set()

    def walk(n):
        if isinstance(n, Identifier):
            out.add(n.name)
        elif isinstance(n, FuncCall):
            for a in n.args:
                walk(a)
        elif isinstance(n, (ArrayLiteral, TupleLiteral)):
            for a in n.items:
                walk(a)
        elif isinstance(n, (Cast, Alias)):
            walk(n.expr)
    walk(node)
    return out


def _type_default_py(ch_type: str):
    spark_t = ch_type_to_spark(ch_type)
    if spark_t in ("tinyint", "smallint", "int", "long", "float", "double") \
            or spark_t.startswith("decimal"):
        return 0
    if spark_t == "string":
        return ""
    if spark_t == "boolean":
        return False
    return None


def _declared_columns(df: DataFrame) -> tuple[list, DataFrame]:
    """(name, CH type) columns for a table created from a result, and
    the result cast to the storage types of those CH types where the
    builder's type overlay differs from the Spark type (a predicate's
    UInt8 is stored as smallint)."""
    types = column_ch_types(df)
    overlay = getattr(df, "_ch_type_overlay", None)
    if overlay:
        df = df.select(*[
            F.col(f"`{n}`").cast(ch_type_to_spark(overlay[n])).alias(n)
            if n in overlay else F.col(f"`{n}`") for n in df.columns])
    return list(zip(df.columns, types)), df
