"""Engine facade: ``Engine.sql(text) -> DataFrame``.

Reference analogue: the whole query lifecycle of SURVEY §3 —
QueuedStatementResource → SqlParser → StatementAnalyzer → LogicalPlanner →
PlanOptimizers → scheduler → operators.  On Spark every one of those
stages is Catalyst's job; the engine keeps only (a) catalog bootstrap,
(b) a Presto→Spark SQL dialect shim, and (c) the compat function registry
(see functions/).  The compat SQL macros are created on first reference:
``Engine.sql`` creates the ones a statement names just before handing it
to Spark, as Presto's function namespace manager resolves SQL-invoked
functions when a query names them.

The dialect shim is deliberately light: Spark SQL already accepts the
overwhelming majority of Presto's ANSI surface.  We normalize the small
set of lexical differences and rely on registered compat functions for
name gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import dialect
from .catalog import register_tables
from .functions import MACROS, ensure_macros, macro_names_in, register_all
from .session import get_spark

__all__ = ["Engine", "presto_type_name"]


def presto_type_name(dt: T.DataType) -> str:
    """Spark DataType -> Presto type name (StandardTypes.java:24-58),
    recursive through array/map/row — the DESCRIBE/SHOW COLUMNS output
    a Presto client expects."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"array({presto_type_name(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"map({presto_type_name(dt.keyType)}, {presto_type_name(dt.valueType)})"
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{f.name} {presto_type_name(f.dataType)}" for f in dt.fields
        )
        return f"row({fields})"
    return {
        T.LongType: "bigint",
        T.IntegerType: "integer",
        T.ShortType: "smallint",
        T.ByteType: "tinyint",
        T.DoubleType: "double",
        T.FloatType: "real",
        T.StringType: "varchar",
        T.BinaryType: "varbinary",
        T.BooleanType: "boolean",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp",
        T.DayTimeIntervalType: "interval day to second",
        T.YearMonthIntervalType: "interval year to month",
        T.NullType: "unknown",
    }.get(type(dt), dt.simpleString())


# Presto system session properties with a direct Spark conf twin
# (SystemSessionProperties.java:83-88; SetSessionTask.java applies them
# per-session, exactly what spark.conf runtime settings are).  Unmapped
# names are stored and visible in SHOW SESSION but have no engine
# effect — the honest subset.
# Presto's system-catalog LAYOUT (public surface: the system connector,
# presto-main/.../connector/system/SystemConnector.java and the
# information_schema metadata) — emulated so catalog-introspection
# scripts (SHOW SCHEMAS FROM system, SHOW TABLES FROM system.runtime,
# information_schema SELECTs) route instead of failing to parse.
# Runtime CONTENTS are engine-specific by nature (a single-process
# Spark app has no queries/tasks/transactions tables to report).
_SYSTEM_SCHEMAS = ["information_schema", "jdbc", "metadata", "runtime"]
_SYSTEM_TABLES = {
    "metadata": [
        "analyze_properties",
        "catalogs",
        "column_properties",
        "schema_properties",
        "table_properties",
    ],
    "runtime": ["nodes", "queries", "tasks", "transactions"],
    "information_schema": [
        "applicable_roles",
        "columns",
        "enabled_roles",
        "roles",
        "schemata",
        "table_privileges",
        "tables",
        "views",
    ],
    "jdbc": [
        "attributes",
        "catalogs",
        "columns",
        "procedure_columns",
        "procedures",
        "pseudo_columns",
        "schemas",
        "super_tables",
        "super_types",
        "table_types",
        "tables",
        "types",
        "udts",
    ],
}
_SYSTEM_COLUMNS = {
    ("runtime", "nodes"): [
        ("node_id", "varchar"),
        ("http_uri", "varchar"),
        ("node_version", "varchar"),
        ("coordinator", "boolean"),
        ("state", "varchar"),
    ],
    ("metadata", "catalogs"): [
        ("catalog_name", "varchar"),
        ("connector_id", "varchar"),
    ],
}

_SESSION_PROP_TO_CONF = {
    # hash_partition_count = number of partitions for distributed hash
    # exchanges == spark.sql.shuffle.partitions
    "hash_partition_count": lambda v: [("spark.sql.shuffle.partitions", v)],
    # join_distribution_type: PARTITIONED forbids broadcast; BROADCAST /
    # AUTOMATIC restore the session's own threshold (conf value None =>
    # conf.unset, which falls back to whatever the session was built
    # with — hard-coding 10485760 here would clobber a user-configured
    # threshold)
    "join_distribution_type": lambda v: [
        (
            "spark.sql.autoBroadcastJoinThreshold",
            "-1" if v.strip("'\"").upper() == "PARTITIONED" else None,
        )
    ],
}


class Engine:
    """Thin session wrapper: catalog + dialect shim + compat functions.

    Construction registers the tables and the pandas UDFs only; each
    compat SQL macro (``functions.MACROS``) is created in the session the
    first time a statement through ``sql`` names it."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.tables = register_tables(self.spark, sf_dir)
        register_all(self.spark, macros=False)
        # PREPARE name -> statement text; SET SESSION name -> value text
        self._prepared: dict[str, str] = {}
        # Spark conf values captured before the first SET SESSION that
        # touches them — RESET / AUTOMATIC restore these (conf.unset
        # would fall back to Spark's hard-coded default, clobbering a
        # session-builder-configured value)
        self._conf_saved: dict[str, str | None] = {}
        self._session_props: dict[str, str] = {}

    def _restore_conf(self, conf_key: str) -> None:
        """Put a Spark conf back to its pre-SET-SESSION value."""
        if conf_key in self._conf_saved:
            saved = self._conf_saved[conf_key]
            if saved is None:
                self.spark.conf.unset(conf_key)
            else:
                self.spark.conf.set(conf_key, saved)
        else:
            self.spark.conf.unset(conf_key)

    # -- dialect -----------------------------------------------------------
    @staticmethod
    def transpile(sql: str) -> str:
        """Presto SQL -> Spark SQL — see presto_copy_spark.dialect for
        the full rule set (token-level: string literals and quoted
        identifiers are never touched by rewrites)."""
        return dialect.transpile(sql)

    # -- API ---------------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        if "information_schema" in text.lower():
            text = self._rewrite_infoschema(text)
        routed = self._route_statement(text)
        if routed is not None:
            return routed
        spark_sql = self.transpile(text)
        # the one place Engine hands text to Spark: create the compat
        # macros it names first
        ensure_macros(self.spark, macro_names_in(spark_sql))
        return self.spark.sql(spark_sql)

    # -- information_schema / system-catalog emulation ---------------------
    def _rewrite_infoschema(self, text: str) -> str:
        """Route ``[system.]information_schema.X`` table references to
        generated temp views (Presto information-schema surface;
        presto-main/.../connector/informationSchema/
        InformationSchemaMetadata.java).  The views carry the system
        catalog's own layout plus the session's real tables."""
        self._ensure_infoschema_views()
        toks = dialect.tokenize(text)
        out, i, n = [], 0, len(toks)
        while i < n:
            kind, tok = toks[i]
            if kind == "word" and tok.lower() in ("system", "information_schema"):
                # match [catalog .] information_schema . X  (in the
                # reference EVERY catalog exposes information_schema —
                # InformationSchemaMetadata.java — so a qualifier like
                # hive.information_schema.tables routes to the same
                # shared views; the table_catalog column disambiguates)
                j = i
                parts = [tok.lower()]
                while j + 2 < n and toks[j + 1] == ("op", ".") and toks[j + 2][0] == "word":
                    parts.append(toks[j + 2][1].lower())
                    j += 2
                seq = parts
                matched = None
                if seq[:1] == ["system"] and len(seq) >= 3 and seq[1] == "information_schema":
                    matched = seq[2]
                elif seq[:1] == ["information_schema"] and len(seq) >= 2:
                    matched = seq[1]
                    # consume a preceding '<catalog> .' qualifier
                    # already emitted into out (skip ws/comment)
                    k = len(out) - 1
                    while k >= 0 and out[k].strip() == "":
                        k -= 1
                    if k >= 1 and out[k] == ".":
                        k2 = k - 1
                        while k2 >= 0 and out[k2].strip() == "":
                            k2 -= 1
                        if k2 >= 0 and out[k2][:1].isalpha():
                            del out[k2:]
                if matched is not None:
                    out.append(f"__presto_infoschema_{matched}")
                    i = j + 1
                    continue
            out.append(tok)
            i += 1
        return "".join(out)

    def _ensure_infoschema_views(self) -> None:
        # Rebuilt on EVERY information_schema query (not cached): tables
        # and views created or dropped after a first query must be
        # visible, matching the reference's live information_schema.
        # The listDatabases/listTables calls are driver-side metadata —
        # cheap relative to any query that follows.
        spark = self.spark
        schemata = [("system", s) for s in _SYSTEM_SCHEMAS] + [
            ("spark", d.name) for d in spark.catalog.listDatabases()
        ]
        spark.createDataFrame(
            schemata, "catalog_name string, schema_name string"
        ).createOrReplaceTempView("__presto_infoschema_schemata")
        tables = [
            ("system", sch, t, "BASE TABLE")
            for sch, ts in _SYSTEM_TABLES.items()
            for t in ts
        ] + [
            (
                "spark",
                t.namespace[0] if t.namespace else "default",
                t.name,
                "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "BASE TABLE",
            )
            for t in spark.catalog.listTables()
            if not t.name.startswith("__presto_infoschema_")
        ]
        spark.createDataFrame(
            tables,
            "table_catalog string, table_schema string, table_name string,"
            " table_type string",
        ).createOrReplaceTempView("__presto_infoschema_tables")
        columns = [
            ("system", sch, t, cname, i + 1, None, "YES", ctype, None)
            for (sch, t), cols in _SYSTEM_COLUMNS.items()
            for i, (cname, ctype) in enumerate(cols)
        ]
        for t in spark.catalog.listTables():
            if t.name.startswith("__presto_infoschema_"):
                continue
            try:
                fields = spark.table(t.name).schema.fields
            except Exception:
                continue
            columns += [
                (
                    "spark",
                    t.namespace[0] if t.namespace else "default",
                    t.name,
                    f.name,
                    i + 1,
                    None,
                    "YES" if f.nullable else "NO",
                    presto_type_name(f.dataType),
                    None,
                )
                for i, f in enumerate(fields)
            ]
        spark.createDataFrame(
            columns,
            "table_catalog string, table_schema string, table_name string,"
            " column_name string, ordinal_position long, column_default string,"
            " is_nullable string, data_type string, comment string",
        ).createOrReplaceTempView("__presto_infoschema_columns")
        spark.createDataFrame(
            [],
            "table_catalog string, table_schema string, table_name string,"
            " view_definition string",
        ).createOrReplaceTempView("__presto_infoschema_views")

    # -- statement surface (SqlBase.g4:33-136 `statement` alternatives
    # that are session/metadata tasks, not queries; reference executes
    # them as DataDefinitionTask subclasses under presto-main/.../
    # execution/: SetSessionTask, PrepareTask, DeallocateTask, the SHOW
    # rewrites in ShowQueriesRewrite.java) ------------------------------
    def _route_statement(self, text: str) -> DataFrame | None:
        toks = [t for t in dialect.tokenize(text) if t[0] not in ("ws", "comment")]
        if not toks:
            return None
        words = [v.upper() if k == "word" else v for k, v in toks]

        def _df(rows, *cols):
            schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in cols]
            )
            return self.spark.createDataFrame(sorted(rows), schema)

        head = words[0] if toks[0][0] == "word" else None
        # --- SET SESSION name = value (SetSessionTask.java) -----------
        if head == "SET" and len(words) > 1 and words[1] == "SESSION":
            eq = next(i for i, (k, v) in enumerate(toks) if k == "op" and v == "=")
            name = "".join(v for _, v in toks[2:eq])
            value = " ".join(v for _, v in toks[eq + 1 :])
            self._session_props[name] = value
            for conf_key, conf_val in _SESSION_PROP_TO_CONF.get(
                name, lambda v: []
            )(value):
                if conf_key not in self._conf_saved:
                    self._conf_saved[conf_key] = self.spark.conf.get(
                        conf_key, None
                    )
                if conf_val is None:  # restore the session's own value
                    self._restore_conf(conf_key)
                else:
                    self.spark.conf.set(conf_key, conf_val)
            return self._empty()
        # --- RESET SESSION name (ResetSessionTask.java) ---------------
        if head == "RESET" and len(words) > 1 and words[1] == "SESSION":
            name = "".join(v for _, v in toks[2:])
            self._session_props.pop(name, None)
            for conf_key, _ in _SESSION_PROP_TO_CONF.get(name, lambda v: [])(""):
                self._restore_conf(conf_key)
            return self._empty()
        # --- PREPARE name FROM statement (PrepareTask.java) -----------
        if head == "PREPARE":
            name = toks[1][1]
            from_idx = next(
                i for i, w in enumerate(words) if i >= 2 and w == "FROM"
            )
            # store the ORIGINAL text after FROM (whitespace intact)
            raw = [t for t in dialect.tokenize(text)]
            sig_seen = 0
            for j, t in enumerate(raw):
                if t[0] not in ("ws", "comment"):
                    if sig_seen == from_idx:
                        break
                    sig_seen += 1
            self._prepared[name] = "".join(v for _, v in raw[j + 1 :])
            return self._empty()
        # --- DEALLOCATE PREPARE name (DeallocateTask.java) ------------
        if head == "DEALLOCATE":
            name = toks[-1][1]
            if name not in self._prepared:
                raise KeyError(f"prepared statement not found: {name}")
            del self._prepared[name]
            return self._empty()
        # --- EXECUTE name [USING expr, ...] ---------------------------
        if head == "EXECUTE":
            name = toks[1][1]
            if name not in self._prepared:
                raise KeyError(f"prepared statement not found: {name}")
            body = self._prepared[name]
            args: list[str] = []
            if len(words) > 2 and words[2] == "USING":
                arg_toks = toks[3:]
                cur: list[str] = []
                depth = 0
                for k, v in arg_toks:
                    if k == "op" and v == "(":
                        depth += 1
                    if k == "op" and v == ")":
                        depth -= 1
                    if k == "op" and v == "," and depth == 0:
                        args.append(" ".join(cur))
                        cur = []
                    else:
                        cur.append(v)
                if cur:
                    args.append(" ".join(cur))
            # positional ?-parameter substitution, token-aware (never
            # inside string literals)
            out, used = [], 0
            for k, v in dialect.tokenize(body):
                if k == "op" and v == "?":
                    if used >= len(args):
                        raise ValueError(
                            f"EXECUTE {name}: {len(args)} parameters for "
                            f"more ? placeholders"
                        )
                    out.append(args[used])
                    used += 1
                else:
                    out.append(v)
            if used < len(args):
                raise ValueError(
                    f"EXECUTE {name}: {len(args)} parameters but only "
                    f"{used} placeholders"
                )
            return self.sql("".join(out))
        # --- EXPLAIN (TYPE ...) / EXPLAIN ANALYZE (SqlBase.g4:139-141;
        # ExplainRewrite.java).  Spark's EXPLAIN takes no parenthesized
        # option list, so strip it and map TYPE VALIDATE to an analysis
        # pass (schema resolution IS validation under Catalyst) ---------
        if head == "EXPLAIN" and len(toks) > 1:
            rest = toks[1:]
            mode = "formatted"
            if rest and rest[0] == ("op", "("):
                close = next(
                    i for i, t in enumerate(rest) if t == ("op", ")")
                )
                opts = " ".join(
                    v.upper() for k, v in rest[:close] if k == "word"
                )
                rest = rest[close + 1 :]
                body = " ".join(v for _, v in rest)
                if "VALIDATE" in opts:
                    self.sql(body).schema  # analysis = validation
                    valid = self.spark.createDataFrame(
                        [(True,)],
                        T.StructType([T.StructField("Valid", T.BooleanType())]),
                    )
                    return valid
                if "DISTRIBUTED" in opts or "IO" in opts:
                    mode = "formatted"  # physical plan w/ exchanges
                elif "LOGICAL" in opts:
                    mode = "extended"
                from .plans.inspect import plan_string

                plan = plan_string(self.sql(body), mode)
                return self.spark.createDataFrame(
                    [(plan,)],
                    T.StructType([T.StructField("Query Plan", T.StringType())]),
                )
            if rest and rest[0][1].upper() == "ANALYZE":
                body = " ".join(v for _, v in rest[1:])
                df = self.sql(body)
                df.write.format("noop").mode("overwrite").save()  # execute
                from .plans.inspect import plan_string

                return self.spark.createDataFrame(
                    [(plan_string(df, "formatted"),)],
                    T.StructType([T.StructField("Query Plan", T.StringType())]),
                )
        # --- DESCRIBE INPUT/OUTPUT name (SqlBase.g4:137-138;
        # DescribeInputRewrite / DescribeOutputRewrite) ----------------
        if head == "DESCRIBE" and len(words) > 2 and words[1] in ("INPUT", "OUTPUT"):
            name = toks[2][1]
            if name not in self._prepared:
                raise KeyError(f"prepared statement not found: {name}")
            body = self._prepared[name]
            if words[1] == "INPUT":
                # parameter positions; types are unknown without full
                # type inference, which is DescribeInputRewrite's own
                # fallback ("unknown") for untypable positions
                positions = [
                    i
                    for i, (k, v) in enumerate(
                        t for t in dialect.tokenize(body) if t[0] == "op" and t[1] == "?"
                    )
                ]
                rows = [(p, "unknown") for p in range(len(positions))]
                schema = T.StructType([
                    T.StructField("Position", T.IntegerType()),
                    T.StructField("Type", T.StringType()),
                ])
                return self.spark.createDataFrame(rows, schema)
            # OUTPUT: analyze the body with parameters bound to NULL —
            # the schema (names + types) of the result
            null_body = "".join(
                "NULL" if (k == "op" and v == "?") else v
                for k, v in dialect.tokenize(body)
            )
            fields = self.sql(null_body).schema.fields
            rows = [(f.name, presto_type_name(f.dataType)) for f in fields]
            schema = T.StructType([
                T.StructField("Column Name", T.StringType()),
                T.StructField("Type", T.StringType()),
            ])
            return self.spark.createDataFrame(rows, schema)
        # --- SHOW CREATE TABLE t (ShowQueriesRewrite.java) ------------
        if (
            head == "SHOW"
            and len(words) > 2
            and words[1] == "CREATE"
            and words[2] == "TABLE"
        ):
            name = "".join(v for _, v in toks[3:])
            cols = ",\n".join(
                f'   "{f.name}" {presto_type_name(f.dataType)}'
                for f in self.spark.table(name).schema.fields
            )
            ddl = f'CREATE TABLE {name} (\n{cols}\n)'
            return self.spark.createDataFrame(
                [(ddl,)],
                T.StructType([T.StructField("Create Table", T.StringType())]),
            )
        # --- DESCRIBE t / SHOW COLUMNS FROM t (ShowQueriesRewrite) ----
        if head == "DESCRIBE" or (
            head == "SHOW" and len(words) > 1 and words[1] == "COLUMNS"
        ):
            skip = 1 if head == "DESCRIBE" else 3  # SHOW COLUMNS FROM|IN
            name = "".join(v for _, v in toks[skip:])
            parts = name.lower().split(".")
            if parts[0] == "system" and len(parts) == 3:
                cols = _SYSTEM_COLUMNS.get((parts[1], parts[2]))
                if cols is None:
                    raise dialect.PrestoFeatureUnsupportedError(
                        f"system table {name} column layout"
                    )
                rows = [(c, t, "", "") for c, t in cols]
                schema = T.StructType(
                    [T.StructField(c, T.StringType()) for c in
                     ("Column", "Type", "Extra", "Comment")]
                )
                return self.spark.createDataFrame(rows, schema)
            rows = [
                (f.name, presto_type_name(f.dataType), "", "")
                for f in self.spark.table(name).schema.fields
            ]
            schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in
                 ("Column", "Type", "Extra", "Comment")]
            )
            return self.spark.createDataFrame(rows, schema)  # declaration order
        # --- SHOW STATS FOR t (ShowStatsRewrite.java: per-column
        # null_fraction / ndv / min / max + table row_count) -----------
        if head == "SHOW" and len(words) > 2 and words[1] == "STATS":
            name = "".join(v for _, v in toks[3:])
            t = self.spark.table(name)
            from pyspark.sql import functions as F

            n = t.count()
            numeric = (
                T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                T.DoubleType, T.FloatType, T.DecimalType, T.DateType,
                T.TimestampType, T.TimestampNTZType,
            )
            aggs, stat_cols = [], []
            for f in t.schema.fields:
                ok = isinstance(f.dataType, numeric + (T.StringType, T.BooleanType))
                aggs += [
                    F.approx_count_distinct(f.name).alias(f"{f.name}__ndv"),
                    (F.sum(F.when(F.col(f.name).isNull(), 1).otherwise(0))
                     / F.lit(max(n, 1))).alias(f"{f.name}__nullfrac"),
                    (F.min(f.name) if ok else F.lit(None)).cast("string").alias(f"{f.name}__lo"),
                    (F.max(f.name) if ok else F.lit(None)).cast("string").alias(f"{f.name}__hi"),
                ]
                stat_cols.append(f.name)
            stats = t.agg(*aggs).collect()[0].asDict() if stat_cols else {}
            rows = [
                (
                    c,
                    # aggregates over zero rows return NULL (empty
                    # table): a stats row with ndv 0 / null-fraction 0
                    # beats a TypeError from float(None)
                    float(stats[f"{c}__ndv"] or 0),
                    float(stats[f"{c}__nullfrac"] or 0.0),
                    stats[f"{c}__lo"],
                    stats[f"{c}__hi"],
                    None,
                )
                for c in stat_cols
            ] + [(None, None, None, None, None, float(n))]
            schema = T.StructType([
                T.StructField("column_name", T.StringType()),
                T.StructField("distinct_values_count", T.DoubleType()),
                T.StructField("nulls_fraction", T.DoubleType()),
                T.StructField("low_value", T.StringType()),
                T.StructField("high_value", T.StringType()),
                T.StructField("row_count", T.DoubleType()),
            ])
            return self.spark.createDataFrame(rows, schema)
        if head == "SHOW" and len(words) > 1:
            # optional FROM/IN <qualifier> after SHOW TABLES / SCHEMAS
            qual = []
            if len(words) > 3 and words[2] in ("FROM", "IN"):
                qual = [
                    v.lower() for k, v in toks[3:] if k == "word"
                ]
            if words[1] == "TABLES":
                if qual[:1] == ["system"]:
                    sch = qual[1] if len(qual) > 1 else None
                    names = (
                        _SYSTEM_TABLES.get(sch, [])
                        if sch
                        else [t for ts in _SYSTEM_TABLES.values() for t in ts]
                    )
                    return _df([(t,) for t in names], "Table")
                if qual[:1] == ["jmx"]:
                    raise dialect.PrestoFeatureUnsupportedError(
                        "jmx connector (SHOW TABLES FROM jmx.*)"
                    )
                if qual:
                    return _df(
                        [
                            (t.name,)
                            for t in self.spark.catalog.listTables(qual[-1])
                        ],
                        "Table",
                    )
                return _df(
                    [(t.name,) for t in self.spark.catalog.listTables()], "Table"
                )
            if words[1] == "SCHEMAS":
                if qual[:1] == ["system"]:
                    return _df([(s,) for s in _SYSTEM_SCHEMAS], "Schema")
                # every Presto catalog exposes an information_schema
                # schema alongside its real ones (served here by the
                # emulated views)
                return _df(
                    [(d.name,) for d in self.spark.catalog.listDatabases()]
                    + [("information_schema",)],
                    "Schema",
                )
            if words[1] == "CATALOGS":
                return _df(
                    [("system",)]
                    + [(c.name,) for c in self.spark.catalog.listCatalogs()],
                    "Catalog",
                )
            if words[1] == "FUNCTIONS":
                # Presto's 10-column SHOW FUNCTIONS shape
                # (ShowQueriesRewrite.java); per-name signature metadata
                # is not cheaply available from Spark's registry, so the
                # type columns stay blank while the shape matches.  The
                # compat macros are listed whether created yet or not.
                names = {r[0] for r in self.spark.sql("SHOW FUNCTIONS").collect()}
                rows = [
                    (n, "", "", "scalar", "true", "", "false", "true",
                     "false", "")
                    for n in names | MACROS.keys()
                ]
                return _df(
                    rows,
                    "Function", "Return Type", "Argument Types",
                    "Function Type", "Deterministic", "Description",
                    "Variable Arity", "Built In", "Temporary", "Language",
                )
            if words[1] == "SESSION":
                return _df(list(self._session_props.items()), "Name", "Value")
        return None

    def _empty(self) -> DataFrame:
        """Zero-row result for effect-only statements (the reference
        returns an empty page with an OK status)."""
        return self.spark.createDataFrame(
            [], T.StructType([T.StructField("result", T.StringType())])
        )

    def execute(self, script: str) -> DataFrame | None:
        """Run a ``;``-separated multi-statement script (the Presto CLI /
        product-test file shape: DDL then queries), returning the last
        statement's DataFrame.  Splitting is token-aware — semicolons
        inside string literals or quoted identifiers never split."""
        stmts, cur = [], []
        for kind, tok in dialect.tokenize(script):
            if kind == "op" and tok == ";":
                stmts.append("".join(t for _, t in cur))
                cur = []
            else:
                cur.append((kind, tok))
        stmts.append("".join(t for _, t in cur))
        out: DataFrame | None = None
        for stmt in stmts:
            if stmt.strip():
                out = self.sql(stmt)
        return out

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- view DDL ----------------------------------------------------------
    # Reference: CreateViewTask / DropViewTask (presto-main/.../execution);
    # views are logical (SQL text expanded at query time), which is exactly
    # Spark's view semantics.  The dialect shim maps Presto's CREATE VIEW
    # to TEMPORARY (base tables are temp views); Presto-spelled SQL works
    # in the body.
    def create_view(self, name: str, presto_sql: str, replace: bool = True) -> None:
        rep = "OR REPLACE " if replace else ""
        self.sql(f"CREATE {rep}VIEW {name} AS {presto_sql}")

    def drop_view(self, name: str, if_exists: bool = True) -> None:
        ex = "IF EXISTS " if if_exists else ""
        self.sql(f"DROP VIEW {ex}{name}")

    def explain(self, text: str, mode: str = "formatted") -> str:
        """EXPLAIN — ExplainAnalyzeOperator analogue (plan text)."""
        from .plans.inspect import plan_string

        return plan_string(self.sql(text), mode)

    def analyze(self, name: str, columns: list[str] | None = None) -> None:
        """ANALYZE TABLE — StatisticsWriterOperator analogue; feeds CBO
        (spark.sql.cbo.enabled is on in session.py).  Temp views can't
        hold catalog stats, so the table is materialized into the
        session warehouse first (what a real deployment has anyway)."""
        if name in self.tables:
            stats_name = f"{name}_stats"
            self.spark.sql(f"DROP TABLE IF EXISTS {stats_name}")
            # a prior session may have left the managed location behind
            # (ephemeral in-memory catalog, persistent warehouse dir)
            import shutil

            warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            shutil.rmtree(
                f"{warehouse.removeprefix('file:')}/{stats_name}", ignore_errors=True
            )
            self.tables[name].write.mode("overwrite").saveAsTable(stats_name)
            name = stats_name
        cols = f" FOR COLUMNS {', '.join(columns)}" if columns else ""
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{cols}")
