"""Function-library integration tests (SURVEY §2G) — IO, column
expressions, parallelism, and quality functions driven through ETL steps."""

import csv
import json
import os

import pytest

from easy_sql_spark.runtime.processor import (
    CheckFailedError,
    SqlProcessor,
)


def run_etl(spark, sql, **kw):
    p = SqlProcessor(spark, sql, logger=lambda m: None, **kw)
    p.run(**{k: v for k, v in kw.items() if k == "dry_run"})
    return p


def test_io_functions_csv_json(spark, tmp_path):
    out_dir = str(tmp_path / "csv_out")
    csv_file = str(tmp_path / "final" / "report.csv")
    json_file = str(tmp_path / "rows.json")
    sql = f"""-- backend: spark

-- target=temp.report
select id, id * 10 as v from range(5)

-- target=func.write_csv(report, {out_dir})

-- target=func.rename_csv_output({out_dir}, {csv_file})

-- target=func.write_json_local(report, {json_file})
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run()
    with open(csv_file) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 5 and rows[0]["v"] in ("0", "0.0")
    with open(json_file) as f:
        data = json.load(f)
    assert len(data) == 5
    p.backend.clean_temp_views()


def test_write_json_local_row_bound_guard(spark, tmp_path):
    """write_json_local is a driver collect: the default bound refuses
    loudly; an explicit max_rows (or 0 = unbounded reference parity)
    overrides."""
    f1 = str(tmp_path / "bounded.json")
    sql = f"""-- target=temp.big
select id from range(50)

-- target=func.write_json_local(big, {f1}, 10)
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    with pytest.raises(Exception, match="max_rows"):
        p.run()
    f2 = str(tmp_path / "unbounded.json")
    sql_ok = f"""-- target=temp.big
select id from range(50)

-- target=func.write_json_local(big, {f2}, 0)
"""
    p2 = SqlProcessor(spark, sql_ok, logger=lambda m: None)
    p2.run()
    with open(f2) as f:
        assert len(json.load(f)) == 50
    p2.backend.clean_temp_views()


def test_update_json_local_non_serializable_raises(spark, tmp_path):
    """Reference parity (funcs_spark.py:136): a non-JSON-serializable
    var value must raise TypeError, not silently stringify."""
    import datetime

    out = str(tmp_path / "u.json")
    sql = (
        "-- target=func.update_json_local(${__context__}, dt, , , "
        f"{out})"
    )
    p = SqlProcessor(
        spark, sql,
        variables={"dt": datetime.date(2024, 1, 2)},
        logger=lambda m: None,
    )
    with pytest.raises(TypeError):
        p.run()


def test_column_expr_functions(spark):
    spark.createDataFrame(
        [(1, "a", 2.0)], "id int, name string, score double"
    ).createOrReplaceTempView("wide_t")
    sql = """-- target=temp.narrowed
select ${all_cols_without_one_expr(wide_t, name)} from wide_t

-- target=temp.prefixed
select ${all_cols_prefixed_with_exclusion_expr(wide_t, p_, id)} from wide_t
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    assert spark.table("narrowed").columns == ["id", "score"]
    assert spark.table("prefixed").columns == ["p_name", "p_score"]
    p.backend.clean_temp_views()


def test_parallelism_functions(spark):
    sql = """-- target=temp.t
select id from range(100)

-- target=func.repartition(t, 7)

-- target=func.set_shuffle_partitions(16)
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    assert spark.table("t").rdd.getNumPartitions() == 7
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    p.backend.clean_temp_views()


def test_quality_functions(spark):
    spark.createDataFrame(
        [(1, "x"), (2, None)], "id int, name string"
    ).createOrReplaceTempView("qt")
    p = SqlProcessor(spark, "-- target=temp.noop\nselect 1", logger=lambda m: None)
    funcs = p.func_runner.funcs
    assert funcs["check_not_null_column_in_table"]("qt", "id") is True
    assert funcs["check_not_null_column_in_table"]("qt", "name") is False
    with pytest.raises(RuntimeError):
        funcs["ensure_no_null_data_in_table"]("qt", "name")
    p.backend.clean_temp_views()


def test_data_profiling_report(spark, tmp_path):
    """Reference-parity profiling (funcs_common.py:344-453): sampling,
    decimal→double, array→__size preprocessing, db.table output path, and
    the ydata-shaped JSON keys."""
    import json

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    spark.sql(
        "select id, cast(id as decimal(10,2)) as amount, "
        "array(id, id+1) as arr, "
        "case when id % 3 = 0 then null else concat('n', id) end as name "
        "from range(100)"
    ).createOrReplaceTempView("profile_t")
    p = SqlProcessor(spark, "-- target=temp.noop\nselect 1", logger=lambda m: None)
    fn = p.func_runner.funcs["data_profiling_report"]
    assert (
        fn("profile_t", "id < 50", str(tmp_path), "1000", "true", "html,json")
        is True
    )
    # the sampled frame is not left registered in the session's cache
    assert cache_manager.isEmpty()
    with open(tmp_path / "profile_t.json") as f:
        rep = json.load(f)
    assert set(rep) >= {"analysis", "table", "variables", "correlations"}
    assert rep["table"]["n"] == 50 and rep["table"]["n_var"] == 5  # arr__size added
    assert rep["variables"]["amount"]["type"] == "Numeric"  # decimal → double
    assert rep["variables"]["arr__size"]["type"] == "Numeric"
    assert rep["variables"]["name"]["n_missing"] > 0
    assert "mean" in rep["variables"]["id"] and rep["variables"]["id"]["is_unique"]
    html = (tmp_path / "profile_t.html").read_text()
    assert "Profiling Report for profile_t" in html

    # correlation matrices carry real values (not a stub key): amount is
    # id cast to decimal→double, so pearson(id, amount) = 1 exactly, and
    # both ydata-default methods are present
    corr = rep["correlations"]
    assert set(corr) >= {"pearson", "spearman"}
    assert corr["pearson"]["id"]["amount"] == pytest.approx(1.0)
    assert corr["spearman"]["id"]["amount"] == pytest.approx(1.0)
    assert corr["pearson"]["id"]["id"] == pytest.approx(1.0)

    # a nonlinear-but-monotone pair separates the two methods
    spark.sql(
        "select cast(id as double) as x, cast(id*id*id as double) as y "
        "from range(50)"
    ).createOrReplaceTempView("mono_t")
    assert fn("mono_t", "", str(tmp_path / "m"), "1000", "true", "json") is True
    with open(tmp_path / "m" / "mono_t.json") as f:
        mono = json.load(f)["correlations"]
    assert mono["spearman"]["x"]["y"] == pytest.approx(1.0)
    assert 0.8 < mono["pearson"]["x"]["y"] < 1.0

    # empty source → no files, clean return (reference behavior)
    spark.sql("select 1 as x where 1=0").createOrReplaceTempView("empty_t")
    assert fn("empty_t", "", str(tmp_path / "e")) is True
    assert not (tmp_path / "e" / "empty_t.html").exists()

    with pytest.raises(ValueError, match="unknown type"):
        fn("profile_t", "", str(tmp_path), "10", "true", "pdf")
    p.backend.clean_temp_views()


def test_alert_and_failing_if_condition(spark):
    logs = []
    # func-step args cannot contain nested `,()` (reference funcs.py:234-247)
    # — the alert condition is a falsy VARIABLE here
    sql = """-- target=variables
select '' as check_passed

-- target=func.alert(my_rule, check_passed, something broke)

-- target=temp.never, if=equal(a, b)
select 1 as x
"""
    p = SqlProcessor(spark, sql, logger=logs.append)
    p.run(dry_run=True)
    assert any("ALERT[my_rule]" in str(m) for m in logs)
    assert not spark.catalog.tableExists("never")


def test_check_func_failure_raises(spark):
    with pytest.raises(CheckFailedError):
        SqlProcessor(
            spark,
            "-- target=check.equal(1, 2)\n",
            logger=lambda m: None,
        ).run()


def test_file_source_functions(spark, tmp_path):
    csv_p = tmp_path / "in.csv"
    csv_p.write_text("id,name\n1,a\n2,b\n")
    json_p = tmp_path / "in.json"
    json_p.write_text('{"id": 3, "name": "c"}\n')
    sql = f"""-- target=func.read_csv({csv_p}, csv_view)

-- target=func.read_json({json_p}, json_view)

-- target=temp.combined
select id, name from csv_view union all select id, name from json_view

-- target=check.n_rows
select (select count(*) from combined) as actual, 3 as expected
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    assert {r.id for r in spark.table("combined").collect()} == {1, 2, 3}

    # ORC round-trip through the step functions
    orc_p = tmp_path / "out.orc"
    sql2 = f"""-- target=func.write_orc(combined, {orc_p})

-- target=func.read_orc({orc_p}, orc_view)

-- target=check.orc_roundtrip
select (select count(*) from orc_view) as actual, 3 as expected
"""
    SqlProcessor(spark, sql2, logger=lambda m: None).run(dry_run=True)
    assert {r.id for r in spark.table("orc_view").collect()} == {1, 2, 3}
    p.backend.clean_temp_views()


def test_jdbc_functions_registered_and_wired(spark):
    """No JDBC driver jar ships in this container, so a real round-trip
    can't run; verify the functions are registered and that read_jdbc
    reaches Spark's JDBC source (which then fails with a driver-class
    error, not a missing-function error)."""
    p = SqlProcessor(spark, "-- target=temp.t\nselect 1 as a\n",
                     logger=lambda m: None)
    assert "read_jdbc" in p.func_runner.funcs
    assert "write_jdbc" in p.func_runner.funcs
    sql = """-- target=func.read_jdbc(jdbc:postgresql://localhost/x, tbl, v)
"""
    with pytest.raises(Exception) as exc_info:
        SqlProcessor(spark, sql, logger=lambda m: None).run(dry_run=True)
    msg = str(exc_info.value)
    assert "JDBC" in msg or "driver" in msg.lower() or "connect" in msg.lower()


def test_save_hooks_and_alert_variants(spark, tmp_path):
    events = []
    logs = []
    sql = """-- target=variables
select true as __create_output_table__

-- target=temp.bad_rows
select 1 as id where 1 = 0

-- target=func.alert_with_backend(empty_rule, bad_rows, should not fire)

-- target=temp.found_rows
select 42 as id

-- target=func.alert_with_backend(full_rule, found_rows, rows found)

-- target=output.hooks_db.out
select id from found_rows
"""
    spark.sql("create database if not exists hooks_db")
    p = SqlProcessor(spark, sql, logger=logs.append)
    p.backend.save_hooks.append(lambda ev, name: events.append((ev, name)))
    p.run()
    assert events == [("start", "hooks_db.out"), ("end", "hooks_db.out")]
    alerts = [m for m in logs if "ALERT[" in str(m)]
    assert len(alerts) == 1 and "full_rule" in alerts[0] and "42" in alerts[0]
    spark.sql("drop table if exists hooks_db.out")
    p.backend.clean_temp_views()


def test_alert_exception_handler(spark):
    logs = []
    sql = """-- target=variables
select 'alert_exception_handler(etl_failed)' as __exception_handler__

-- target=temp.boom
select undefined_column_xyz from range(1)
"""
    p = SqlProcessor(spark, sql, logger=logs.append)
    p.run(dry_run=True)  # handler swallows the failure
    assert any("etl_failed" in str(m) and "step failed" in str(m) for m in logs)


def test_flink_registry_set_config_and_parallelism(spark):
    """Reference funcs_flink.py:33-46 conveniences on the Spark session."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    sql = """-- target=func.set_config(spark.sql.shuffle.partitions, 7)

-- target=func.set_parallelism(9)
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "9"
    spark.conf.set("spark.sql.shuffle.partitions", before)

    sql_bad = "-- target=func.set_parallelism(not_a_number)"
    with pytest.raises(Exception, match="must be an int"):
        SqlProcessor(spark, sql_bad, logger=lambda m: None).run(dry_run=True)


def test_exec_sql_in_source_and_jdbc_roundtrip(spark):
    """exec_sql_in_source runs the step body in a source RDB via the JVM
    DriverManager (reference funcs_flink.py:68-87); Spark's bundled Derby
    serves as the embedded source.  read_jdbc then reads the result back —
    a full JDBC round-trip through both functions."""
    url = "jdbc:derby:memory:estest;create=true"
    sql = f"""-- target=variables
select 'src' as SRC_NAME

-- target=func.exec_sql_in_source(${{__step__}}, db_derby, {url})
-- prepare data in the source
create table jt (id int, name varchar(20))
insert into jt values (1, 'a'), (2, 'b')
insert into jt values (3, '${{SRC_NAME}}')

-- target=func.read_jdbc({url}, jt, jt_view)

-- target=temp.jt_summary
select count(*) as n, max(name) as mx from jt_view
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    row = spark.table("jt_summary").first()
    assert row.n == 3 and row.mx == "src"
    p.backend.clean_temp_views()


def test_exec_sql_in_source_connector_vars(spark):
    """Connector given by name resolves <name>_url/_user/_password vars."""
    sql = """-- target=func.exec_sql_in_source(${__step__}, db_derby, my_src)
create table jt2 (id int)
"""
    p = SqlProcessor(
        spark,
        sql,
        variables={"my_src_url": "jdbc:derby:memory:estest2;create=true"},
        logger=lambda m: None,
    )
    p.run(dry_run=True)
    with pytest.raises(ValueError, match="my_missing_url"):
        SqlProcessor(
            spark,
            "-- target=func.exec_sql_in_source(${__step__}, d, my_missing)\nselect 1",
            logger=lambda m: None,
        ).run(dry_run=True)


def test_test_run_etl(spark, tmp_path):
    """test_run_etl runs a sibling ETL in-process (reference
    funcs_flink.py:89-117), resolved relative to the caller's file."""
    inner = tmp_path / "inner.sql"
    inner.write_text(
        "-- target=temp.inner_result\nselect 41 + 1 as answer\n",
        encoding="utf-8",
    )
    outer = tmp_path / "outer.sql"
    outer.write_text(
        "-- target=func.test_run_etl(${__config__}, inner.sql)\n",
        encoding="utf-8",
    )
    p = SqlProcessor(
        spark,
        outer.read_text(encoding="utf-8"),
        base_dir=str(tmp_path),
        sql_file_path=str(outer),
        logger=lambda m: None,
    )
    p.run(dry_run=True)
    assert spark.table("inner_result").first().answer == 42
    p.backend.clean_temp_views()


def test_udf_wrapper_and_regex_check(spark):
    """UDF wrapper carries an explicit return type; check_regex_func nulls
    non-matching values (reference udf/check.py)."""
    from pyspark.sql import types as T

    from easy_sql_spark.functions.udfs import UDF, check_regex_func

    udfs = {
        "double_it": UDF(lambda x: x * 2, T.IntegerType()),
        "only_digits": check_regex_func(r"^\d+$"),
    }
    p = SqlProcessor(
        spark,
        "-- target=temp.u\n"
        "select double_it(21) as v, only_digits('123') as ok,"
        " only_digits('x1') as bad",
        udfs=udfs,
        logger=lambda m: None,
    )
    p.run(dry_run=True)
    row = spark.table("u").first()
    assert row.v == 42 and row.ok == "123" and row.bad is None
    p.backend.clean_temp_views()


def test_analyze_table_collects_stats(spark):
    """func.analyze_table feeds CBO: rowCount appears in catalog stats and
    column-level stats register for the listed columns."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    spark.sql("drop database if exists statdb cascade")
    spark.sql("create database statdb")
    etl = """-- target=variables
select true as __create_output_table__

-- target=output.statdb.t
select cast(id as int) as id, concat('v', id % 7) as grp from range(500)

-- target=func.analyze_table(statdb.t, id|grp)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    detail = {
        r.col_name: r.data_type
        for r in spark.sql("describe table extended statdb.t").collect()
    }
    assert "500 rows" in detail.get("Statistics", "") or "rowCount" in str(detail)
    colstats = {
        r.info_name: r.info_value
        for r in spark.sql("describe extended statdb.t id").collect()
    }
    assert colstats.get("distinct_count") not in (None, "NULL")


def test_refresh_rollup_incremental_matches_full_recompute(spark):
    """func.refresh_rollup: scoped recompute + keyed upsert equals a full
    recompute, and untouched rollup partitions keep their exact files."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    spark.sql("drop database if exists rrl cascade")
    spark.sql("create database rrl")
    spark.sql(
        "create table rrl.sales (region string, amount double, dt string) "
        "using parquet"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    seed = spark.createDataFrame(
        [("e", 1.0, "d1"), ("w", 2.0, "d1"), ("e", 3.0, "d2"), ("w", 4.0, "d3")],
        "region string, amount double, dt string",
    )
    seed.write.insertInto("rrl.sales")

    full = """-- target=func.refresh_rollup(rrl.sales, rrl.rollup, dt, region, sum(amount) as total|count(*) as n, true)
"""
    SqlProcessor(spark, full, logger=lambda m: None).run()
    before_d1 = sorted(
        f for f in spark.table("rrl.rollup").inputFiles() if "dt=d1" in f
    )

    # new rows land in d2 and a brand-new d4; d1 untouched
    spark.createDataFrame(
        [("e", 10.0, "d2"), ("x", 5.0, "d4")],
        "region string, amount double, dt string",
    ).write.insertInto("rrl.sales")
    inc = """-- target=func.refresh_rollup(rrl.sales, rrl.rollup, dt, region, sum(amount) as total|count(*) as n, dt >= 'd2')
"""
    SqlProcessor(spark, inc, logger=lambda m: None).run()

    got = {
        (r.dt, r.region): (r.total, r.n)
        for r in spark.table("rrl.rollup").collect()
    }
    want = {
        (r.dt, r.region): (r.total, r.n)
        for r in spark.sql(
            "select dt, region, sum(amount) as total, count(*) as n "
            "from rrl.sales group by dt, region"
        ).collect()
    }
    assert got == want
    after_d1 = sorted(
        f for f in spark.table("rrl.rollup").inputFiles() if "dt=d1" in f
    )
    assert after_d1 == before_d1  # unchanged partition never rewritten


def test_udtf_registration_decorated_and_plain_class(spark):
    """Spark 4 Python UDTFs through the same udfs= dict as scalar UDFs:
    an @udtf-decorated object and a plain eval-class with a returnType
    attribute both become SQL table functions, usable standalone and
    LATERAL."""
    from pyspark.sql.functions import udtf

    from easy_sql_spark.runtime.processor import SqlProcessor

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield (w, i)

    class NumberRange:  # undecorated: returnType attribute drives it
        returnType = "n int"

        def eval(self, lo: int, hi: int):
            for n in range(lo, hi):
                yield (n,)

    etl = """-- target=temp.docs
select 'alpha beta gamma' as text union all select 'delta' as text

-- target=temp.words
select w.word, w.pos from docs, lateral split_words(text) w

-- target=temp.nums
select * from number_range(2, 5)

-- target=check.words_exploded
select (select count(*) from words) as actual, 4 as expected

-- target=check.nums_range
select (select cast(sum(n) as int) from nums) as actual, 9 as expected
"""
    SqlProcessor(
        spark,
        etl,
        udfs={"split_words": SplitWords, "number_range": NumberRange},
        logger=lambda m: None,
    ).run()
    got = {(r.word, r.pos) for r in spark.table("words").collect()}
    assert got == {("alpha", 0), ("beta", 1), ("gamma", 2), ("delta", 0)}
