"""Integration tests: full ETLs through SqlProcessor on local Spark.

Mirrors the reference's processor integration suite
(sql_processor_test.py:15-357): multi-step ETL with variables/log/check/
temp/output, exception handler, failing check, action step, dry-run
partition semantics, partition-guard functions.
"""

import pytest

from easy_sql_spark.runtime.processor import (
    CheckFailedError,
    SqlProcessor,
)

SAMPLE_ETL = """-- backend: spark
-- prepare-sql: drop database if exists sample cascade
-- prepare-sql: create database sample
-- prepare-sql: create table sample.test using parquet as select 1 as id, '1' as val

-- target=variables
select true as __create_output_table__

-- target=variables
select 1 as a

-- target=log.a
select '${a}' as a

-- target=check.should_equal
select 1 as actual, 1 as expected

-- target=temp.result
select
    ${a} as id, ${a} + 1 as val
union all
select id, val from sample.test

-- target=output.sample.result
select * from result

-- target=log.sample_result
select * from result
"""


def test_sample_etl_end_to_end(spark):
    p = SqlProcessor(spark, SAMPLE_ETL, logger=lambda m: None)
    report = p.run()
    assert all(r.status.value in ("SUCCEEDED", "SKIPPED") for r in report.steps)
    # Spark 4 ANSI union coerces int∪string to int (Spark 3 gave strings);
    # compare values type-agnostically.
    rows = {tuple(str(v) for v in r) for r in spark.table("sample.result").collect()}
    assert rows == {("1", "2"), ("1", "1")}
    # output table was auto-created as parquet
    assert spark.catalog.tableExists("sample.result")


def test_variables_and_list_variables(spark):
    """List vars are captured, but a generic func arg naming one stays
    a plain STRING — reference parity (probed: the reference's
    ${len(xs)} is len("xs") even when xs is a list variable; funcs
    that consume lists look them up from the processor context by
    name, like update_json_local)."""
    sql = """-- target=variables
select 2 as a, 'x' as b

-- target=list_variables
select explode(array(1, 2, 3)) as xs

-- target=check.len_is_2, if=equal(${b}, x)
select ${len(xs)} as actual, 2 as expected
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    report = p.run()
    assert p.get_var("a") == "2"
    assert p.vars_context.list_vars["xs"] == [1, 2, 3]
    assert report.steps[-1].status.value == "SUCCEEDED"


def test_list_variables_row_bound_guard(spark):
    """list_variables is a driver-side collect; past the default 10k
    bound it must refuse loudly (reference collects unbounded — the
    guard is this repo's scale-safety divergence), and the
    __list_variables_max_rows__ var overrides (0 = unbounded)."""
    from easy_sql_spark.runtime.processor import StepFailedError

    sql = """-- target=list_variables
select id as xs from range(50)
"""
    p = SqlProcessor(
        spark, sql,
        variables={"__list_variables_max_rows__": "10"},
        logger=lambda m: None,
    )
    with pytest.raises(StepFailedError, match="list_variables"):
        p.run()
    ok = SqlProcessor(
        spark, sql,
        variables={"__list_variables_max_rows__": "0"},
        logger=lambda m: None,
    )
    ok.run()
    assert len(ok.vars_context.list_vars["xs"]) == 50


def test_failing_check_raises(spark):
    sql = "-- target=check.bad\nselect 1 as actual, 2 as expected"
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    with pytest.raises(CheckFailedError):
        p.run()


def test_check_func_form_and_no_check(spark):
    sql = "-- target=check.equal(${a}, 1)\n"
    p = SqlProcessor(spark, sql, variables={"a": "1"}, logger=lambda m: None)
    p.run()
    bad = SqlProcessor(spark, sql, variables={"a": "2"}, logger=lambda m: None)
    with pytest.raises(CheckFailedError):
        bad.run()
    skipped = SqlProcessor(
        spark, sql, variables={"a": "2", "__no_check__": "1"}, logger=lambda m: None
    )
    skipped.run()  # no raise


def test_skip_all_and_if_condition(spark):
    sql = """-- target=variables
select 1 as __skip_all__

-- target=temp.never
select 1 as v
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    report = p.run()
    assert report.steps[1].status.value == "SKIPPED"

    sql2 = """-- target=temp.maybe, if=equal(${flag}, yes)
select 1 as v
"""
    p2 = SqlProcessor(spark, sql2, variables={"flag": "no"}, logger=lambda m: None)
    assert p2.run().steps[0].status.value == "SKIPPED"


def test_exception_handler(spark):
    captured = []
    sql = """-- target=temp.boom
select * from table_that_does_not_exist_xyz
"""
    p = SqlProcessor(
        spark,
        sql,
        variables={"__exception_handler__": "grab_error()"},
        funcs={"grab_error": lambda e: captured.append(e)},
        logger=lambda m: None,
    )
    p.run()  # handler swallows
    assert len(captured) == 1


def test_action_and_broadcast_and_cache(spark):
    sql = """-- target=action.setup
drop database if exists asample cascade

-- target=action.mk
create database asample

-- target=cache.c1
select 1 as id

-- target=broadcast.b1
select 2 as id

-- target=temp.joined
select c1.id a, b1.id b from c1 cross join b1
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run()
    assert spark.table("joined").collect()[0].asDict() == {"a": 1, "b": 2}


def test_dry_run_output_with_static_partition(spark):
    sql = """-- target=variables
select '2024-01-01' as __partition__dt

-- target=output.nodb.notable
select 7 as id
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run(dry_run=True)
    view = p.output_view_for("nodb.notable")
    assert view is not None and view.endswith("_output")
    row = spark.table(view).collect()[0]
    assert row.id == 7 and row.dt == "2024-01-01"


def test_output_partitioned_table_overwrite_and_append(spark):
    setup = """-- backend: spark
-- prepare-sql: drop database if exists psample cascade
-- prepare-sql: create database psample

-- target=variables
select true as __create_output_table__, '2024-01-01' as __partition__dt

-- target=output.psample.t
select 1 as id
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    assert spark.table("psample.t").collect()[0].dt == "2024-01-01"

    # dynamic-partition overwrite of a second partition leaves the first alone
    second = """-- target=variables
select '2024-01-02' as __partition__dt

-- target=output.psample.t
select 2 as id
"""
    SqlProcessor(spark, second, logger=lambda m: None).run()
    rows = {(r.id, r.dt) for r in spark.table("psample.t").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-01-02")}

    # append into the same partition
    third = """-- target=variables
select '2024-01-02' as __partition__dt, 'append' as __save_mode__

-- target=output.psample.t
select 3 as id
"""
    SqlProcessor(spark, third, logger=lambda m: None).run()
    rows = {(r.id, r.dt) for r in spark.table("psample.t").collect()}
    assert rows == {
        (1, "2024-01-01"),
        (2, "2024-01-02"),
        (3, "2024-01-02"),
    }

    # overwrite partition 2 again: partition 1 must survive
    fourth = """-- target=variables
select '2024-01-02' as __partition__dt

-- target=output.psample.t
select 9 as id
"""
    SqlProcessor(spark, fourth, logger=lambda m: None).run()
    rows = {(r.id, r.dt) for r in spark.table("psample.t").collect()}
    assert rows == {(1, "2024-01-01"), (9, "2024-01-02")}


def test_column_alignment_drops_surplus_and_errors_on_missing(spark):
    setup = """-- prepare-sql: drop database if exists csample cascade
-- prepare-sql: create database csample
-- prepare-sql: create table csample.t (id int, val string) using parquet

-- target=output.csample.t
select 'v' as val, 1 as id, 99 as surplus
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    assert spark.table("csample.t").columns == ["id", "val"]

    missing = "-- target=output.csample.t\nselect 1 as id"
    with pytest.raises(Exception, match="lacks target columns"):
        SqlProcessor(spark, missing, logger=lambda m: None).run()


def test_partition_funcs(spark):
    setup = """-- prepare-sql: drop database if exists fsample cascade
-- prepare-sql: create database fsample

-- target=variables
select true as __create_output_table__, '2024-01-01' as __partition__dt

-- target=output.fsample.pt
select 1 as id
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    sql = """-- target=variables
select 1 as one

-- target=check.partition_exists(fsample.pt, 2024-01-01)

-- target=check.partition_not_exists(fsample.pt, 2024-09-09)

-- target=check.has_partition_col(fsample.pt)

-- target=temp.guarded, if=partition_exists(fsample.pt, 2024-01-01)
select '${get_last_partition(fsample.pt)}' as last_pt,
       '${get_first_partition_optional(fsample.pt)}' as first_opt,
       ${count_partitions(fsample.pt)} as n_parts
"""
    p = SqlProcessor(spark, sql, logger=lambda m: None)
    p.run()
    row = spark.table("guarded").collect()[0]
    assert row.last_pt == "2024-01-01"
    assert row.first_opt == "2024-01-01" and row.n_parts == 1


def test_udfs_registered(spark):
    SqlProcessor(spark, "-- target=temp.u\nselect 1", logger=lambda m: None)
    row = spark.sql(
        "select remove_all_whitespaces(' a b\tc ') as a, trim_all('  x  ') as b"
    ).collect()[0]
    assert row.a == "abc" and row.b == "x"


def test_pyfile_registration_and_sql_collector(spark, tmp_path):
    """File-based func/udf registration (easy_sql.udf_file_path /
    func_file_path configs) + executed-SQL reconstruction."""
    (tmp_path / "my_funcs.py").write_text(
        "def double_it(x):\n    return int(x) * 2\n"
    )
    (tmp_path / "my_udfs.py").write_text(
        "def shout(s):\n    return (s or '').upper()\n"
    )
    sql = """-- backend: spark
-- config: easy_sql.func_file_path=my_funcs.py
-- config: easy_sql.udf_file_path=my_udfs.py

-- target=variables
select ${double_it(21)} as fortytwo

-- target=temp.t
select shout('abc') as s, ${fortytwo} as v

-- target=check.vals
select (select s from t) = 'ABC' and (select v from t) = 42 as actual,
       true as expected
"""
    from easy_sql_spark.runtime.processor import SqlProcessor

    p = SqlProcessor(spark, sql, base_dir=str(tmp_path), logger=lambda m: None)
    p.run(dry_run=True)
    collected = p.collected_sql()
    assert "CREATE OR REPLACE TEMPORARY VIEW t AS" in collected
    assert "-- variables." in collected and "-- check.vals" in collected


def test_report_sinks_file_and_app_status(spark, tmp_path):
    """Pluggable report sinks (reference report.py:87-143): the file sink
    writes text + JSON document; a failing sink must not fail the run."""
    from easy_sql_spark.runtime.report import (
        FileReportSink,
        ReportSink,
        StepStatus,
    )

    class BoomSink(ReportSink):
        def write(self, task_id, report):
            raise RuntimeError("sink down")

    logs = []
    rpt_dir = tmp_path / "reports"
    p = SqlProcessor(
        spark,
        "-- target=temp.t\nselect 1 as a\n",
        logger=logs.append,
        report_task_id="job1",
        report_sinks=[FileReportSink(str(rpt_dir)), BoomSink()],
    )
    report = p.run(dry_run=True)
    assert report.app_status == StepStatus.SUCCEEDED
    txt = (rpt_dir / "job1.txt").read_text()
    assert "temp.t" in txt and "SUCCEEDED" in txt
    import json as _json

    doc = _json.loads((rpt_dir / "job1.json").read_text())
    assert doc["task_id"] == "job1" and doc["status"] == "SUCCEEDED"
    assert doc["steps"][0]["target"] == "temp.t"
    assert any("BoomSink failed" in str(m) for m in logs)


def test_object_variables_for_function_calls(spark):
    """${__backend__}/${__context__}/${__step__}/${__config__} pass live
    objects as whole function args (reference docs variables.md)."""
    captured = {}

    def grab(backend, context, step, config):
        captured["backend"] = backend
        captured["context"] = context
        captured["step"] = step
        captured["config"] = config
        context.set_var("set_by_func", "yes")
        return True

    sql = """-- target=func.grab(${__backend__}, ${__context__}, ${__step__}, ${__config__})

-- target=temp.uses_var
select '${set_by_func}' as v
"""
    p = SqlProcessor(spark, sql, funcs={"grab": grab}, logger=lambda m: None)
    p.run(dry_run=True)
    from easy_sql_spark.runtime.backend import SparkBackend
    from easy_sql_spark.core.config import EtlConfig
    from easy_sql_spark.core.step import Step

    assert isinstance(captured["backend"], SparkBackend)
    assert isinstance(captured["config"], EtlConfig)
    assert isinstance(captured["step"], Step)
    assert captured["context"].get_var("set_by_func") == "yes"
    assert spark.table("uses_var").first().v == "yes"
    p.backend.clean_temp_views()


def test_dry_run_verify_output_schema(spark):
    """__dry_run_verify_output_schema__(+_type_): fail on missing target,
    verify columns, and optionally types (reference docs variables.md)."""
    spark.sql("create database if not exists vos_db")
    spark.sql("drop table if exists vos_db.out")

    base = """-- target=variables
select true as __dry_run_verify_output_schema__{extra}

-- target=output.vos_db.out
select 1 as id, 'x' as name
"""
    # missing target table -> hard failure
    with pytest.raises(Exception, match="does not exist"):
        SqlProcessor(
            spark, base.format(extra=""), logger=lambda m: None
        ).run(dry_run=True)

    spark.sql("create table vos_db.out (id int, name string) using parquet")
    SqlProcessor(spark, base.format(extra=""), logger=lambda m: None).run(
        dry_run=True
    )  # columns match -> green

    # type check: bigint source vs int target fails only with _type_
    typed = """-- target=variables
select true as __dry_run_verify_output_schema__,
       true as __dry_run_verify_output_schema_type__

-- target=output.vos_db.out
select cast(1 as bigint) as id, 'x' as name
"""
    with pytest.raises(Exception, match="type"):
        SqlProcessor(spark, typed, logger=lambda m: None).run(dry_run=True)
    spark.sql("drop table vos_db.out")


def test_output_upsert_unpartitioned(spark):
    setup = """-- prepare-sql: drop database if exists usample cascade
-- prepare-sql: create database usample

-- target=variables
select true as __create_output_table__, 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.usample.t
select * from (values (1, 'a'), (2, 'b')) as v(id, val)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    assert {(r.id, r.val) for r in spark.table("usample.t").collect()} == {
        (1, "a"),
        (2, "b"),
    }

    merge = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.usample.t
select * from (values (2, 'B'), (3, 'C')) as v(id, val)
"""
    p = SqlProcessor(spark, merge, logger=lambda m: None)
    p.run()
    assert {(r.id, r.val) for r in spark.table("usample.t").collect()} == {
        (1, "a"),
        (2, "B"),
        (3, "C"),
    }
    # audit trail renders the merge, not an overwrite
    assert "MERGE INTO usample.t" in p.collected_sql()


def test_output_upsert_partitioned_prunes_and_handles_key_moves(spark):
    setup = """-- prepare-sql: drop database if exists upart cascade
-- prepare-sql: create database upart

-- target=variables
select true as __create_output_table__, '' as __partition__dt

-- target=output.upart.t
select * from (values
    (1, 'a', 'd1'), (2, 'b', 'd1'), (3, 'c', 'd2'), (9, 'z', 'd4')
) as v(id, val, dt)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    untouched_before = sorted(
        f for f in spark.table("upart.t").inputFiles() if "dt=d4" in f
    )

    # update 2 in place, MOVE key 3 from d2 to d3, insert 5 into d2
    merge = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.upart.t
select * from (values
    (2, 'B', 'd1'), (3, 'c', 'd3'), (5, 'e', 'd2')
) as v(id, val, dt)
"""
    SqlProcessor(spark, merge, logger=lambda m: None).run()
    rows = {(r.id, r.val, r.dt) for r in spark.table("upart.t").collect()}
    assert rows == {
        (1, "a", "d1"),
        (2, "B", "d1"),
        (3, "c", "d3"),  # moved: exactly one copy, in the new partition
        (5, "e", "d2"),
        (9, "z", "d4"),
    }
    # copy-on-write pruning: the untouched partition's files are untouched
    untouched_after = sorted(
        f for f in spark.table("upart.t").inputFiles() if "dt=d4" in f
    )
    assert untouched_after == untouched_before


def test_output_upsert_duplicate_keys_and_precombine(spark):
    setup = """-- prepare-sql: drop database if exists udup cascade
-- prepare-sql: create database udup
-- prepare-sql: create table udup.t (id int, val string, ts int) using parquet

-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.udup.t
select * from (values (1, 'x', 10), (1, 'y', 20)) as v(id, val, ts)
"""
    with pytest.raises(Exception, match="duplicate rows per merge key"):
        SqlProcessor(spark, setup, logger=lambda m: None).run()

    resolved = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__, 'ts' as __upsert_precombine__

-- target=output.udup.t
select * from (values (1, 'x', 10), (1, 'y', 20), (2, 'z', 5)) as v(id, val, ts)
"""
    SqlProcessor(spark, resolved, logger=lambda m: None).run()
    rows = {(r.id, r.val, r.ts) for r in spark.table("udup.t").collect()}
    assert rows == {(1, "y", 20), (2, "z", 5)}


def test_output_upsert_null_keys_never_match(spark):
    """A NULL merge key matches no target row: the target's NULL-key row
    survives and the batch's NULL-key row inserts next to it."""
    etl = """-- prepare-sql: drop database if exists unull cascade
-- prepare-sql: create database unull

-- target=variables
select true as __create_output_table__, 'upsert' as __save_mode__,
       'id' as __merge_keys__

-- target=output.unull.t
select * from (values (1, 'a'), (cast(null as int), 'n1')) as v(id, val)

-- target=output.unull.t
select * from (values (1, 'b'), (cast(null as int), 'n2')) as v(id, val)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    rows = {(r.id, r.val) for r in spark.table("unull.t").collect()}
    assert rows == {(1, "b"), (None, "n1"), (None, "n2")}


def test_output_upsert_rejected_duplicates_write_nothing(spark):
    """The duplicate-key guard fails the merge before the insert: the
    target keeps its rows and its files."""
    setup = """-- prepare-sql: drop database if exists urej cascade
-- prepare-sql: create database urej

-- target=variables
select true as __create_output_table__, 'upsert' as __save_mode__,
       'id' as __merge_keys__

-- target=output.urej.t
select * from (values (1, 'a'), (2, 'b')) as v(id, val)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    before = sorted(map(tuple, spark.table("urej.t").collect()))
    files = sorted(spark.table("urej.t").inputFiles())
    dup = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.urej.t
select * from (values (2, 'x'), (2, 'y'), (3, 'c')) as v(id, val)
"""
    with pytest.raises(Exception, match="duplicate rows per merge key"):
        SqlProcessor(spark, dup, logger=lambda m: None).run()
    spark.sql("refresh table urej.t")
    assert sorted(map(tuple, spark.table("urej.t").collect())) == before
    assert sorted(spark.table("urej.t").inputFiles()) == files


def test_output_upsert_requires_merge_keys(spark):
    etl = """-- prepare-sql: drop database if exists unokey cascade
-- prepare-sql: create database unokey
-- prepare-sql: create table unokey.t (id int) using parquet

-- target=variables
select 'upsert' as __save_mode__

-- target=output.unokey.t
select 1 as id
"""
    with pytest.raises(Exception, match="requires __merge_keys__"):
        SqlProcessor(spark, etl, logger=lambda m: None).run()


def test_output_scd2_full_lifecycle(spark):
    """SCD2 merge: create -> change (close+insert) -> no-change (idempotent)
    -> new key; history rows survive, intervals chain correctly."""
    setup = """-- prepare-sql: drop database if exists scd2s cascade
-- prepare-sql: create database scd2s

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__,
       'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2s.dim
select * from (values (1, 'alice', 'NY', 100), (2, 'bob', 'LA', 100)) as v(id, name, city, ts)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    t = lambda: {
        (r.id, r.name, r.city, r["__start_at"], r["__end_at"], r["__is_current"])
        for r in spark.table("scd2s.dim").collect()
    }
    assert t() == {
        (1, "alice", "NY", 100, None, True),
        (2, "bob", "LA", 100, None, True),
    }

    # batch 2: alice moves to SF (change), bob unchanged, carol new
    batch2 = """-- target=variables
select 'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2s.dim
select * from (values (1, 'alice', 'SF', 200), (2, 'bob', 'LA', 200), (3, 'carol', 'TX', 200)) as v(id, name, city, ts)
"""
    p = SqlProcessor(spark, batch2, logger=lambda m: None)
    p.run()
    assert t() == {
        (1, "alice", "NY", 100, 200, False),  # closed at the change ts
        (1, "alice", "SF", 200, None, True),
        (2, "bob", "LA", 100, None, True),  # unchanged: no churn
        (3, "carol", "TX", 200, None, True),
    }
    assert "MERGE INTO /* SCD2 */ scd2s.dim" in p.collected_sql()

    # batch 2 re-run: idempotent (same ts, same attributes -> no-op)
    SqlProcessor(spark, batch2, logger=lambda m: None).run()
    assert t() == {
        (1, "alice", "NY", 100, 200, False),
        (1, "alice", "SF", 200, None, True),
        (2, "bob", "LA", 100, None, True),
        (3, "carol", "TX", 200, None, True),
    }

    # batch 3: alice changes again -> two history rows chain
    batch3 = """-- target=variables
select 'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2s.dim
select * from (values (1, 'alice', 'CHI', 300)) as v(id, name, city, ts)
"""
    SqlProcessor(spark, batch3, logger=lambda m: None).run()
    assert t() == {
        (1, "alice", "NY", 100, 200, False),
        (1, "alice", "SF", 200, 300, False),
        (1, "alice", "CHI", 300, None, True),
        (2, "bob", "LA", 100, None, True),
        (3, "carol", "TX", 200, None, True),
    }


def test_output_scd2_intra_batch_collapse_and_nulls(spark):
    """Duplicate keys inside one batch collapse to the latest by ts;
    NULL attribute values compare null-safely (no phantom changes)."""
    setup = """-- prepare-sql: drop database if exists scd2b cascade
-- prepare-sql: create database scd2b

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__,
       'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2b.dim
select * from (values (1, cast(null as string), 10), (1, 'v2', 20)) as v(id, val, ts)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    rows = {
        (r.id, r.val, r["__start_at"], r["__is_current"])
        for r in spark.table("scd2b.dim").collect()
    }
    assert rows == {(1, "v2", 20, True)}  # collapsed to latest, once

    # null attribute stays null -> re-run is a no-op (null-safe compare)
    nullb = """-- target=variables
select 'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2b.dim
select * from (values (2, cast(null as string), 30)) as v(id, val, ts)
"""
    SqlProcessor(spark, nullb, logger=lambda m: None).run()
    SqlProcessor(spark, nullb, logger=lambda m: None).run()
    rows = {
        (r.id, r.val, r["__start_at"], r["__is_current"])
        for r in spark.table("scd2b.dim").collect()
    }
    assert rows == {(1, "v2", 20, True), (2, None, 30, True)}


def test_output_scd2_null_keys_never_match(spark):
    """A merge key with any NULL part matches no target row: its current
    row stays open and the batch row inserts as current, even with
    identical attributes.  Fully keyed rows merge as usual."""
    etl = """-- prepare-sql: drop database if exists scd2n cascade
-- prepare-sql: create database scd2n

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__,
       'k|r' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2n.dim
select * from (values
    (1, 'x', 'a', 1), (1, cast(null as string), 'a', 1),
    (cast(null as int), cast(null as string), 'a', 1)
) as v(k, r, val, ts)

-- target=output.scd2n.dim
select * from (values
    (1, 'x', 'b', 2), (1, cast(null as string), 'b', 2),
    (cast(null as int), cast(null as string), 'a', 2)
) as v(k, r, val, ts)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    rows = {
        (r.k, r.r, r.val, r["__start_at"], r["__end_at"], r["__is_current"])
        for r in spark.table("scd2n.dim").collect()
    }
    assert rows == {
        (1, "x", "a", 1, 2, False),
        (1, "x", "b", 2, None, True),
        (1, None, "a", 1, None, True),
        (1, None, "b", 2, None, True),
        (None, None, "a", 1, None, True),
        (None, None, "a", 2, None, True),
    }


def test_output_scd2_partitioned_untouched_partitions_survive(spark):
    """Copy-on-write scoping: partitions with no incoming or matched keys
    keep their exact files."""
    setup = """-- prepare-sql: drop database if exists scd2p cascade
-- prepare-sql: create database scd2p

-- target=variables
select true as __create_output_table__, '' as __partition__region,
       'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2p.dim
select * from (values
    (1, 'a', 10, 'east'), (2, 'b', 10, 'west'), (9, 'z', 10, 'south')
) as v(id, val, ts, region)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    before = sorted(
        f for f in spark.table("scd2p.dim").inputFiles() if "region=south" in f
    )
    merge = """-- target=variables
select 'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2p.dim
select * from (values (1, 'A', 20, 'east')) as v(id, val, ts, region)
"""
    SqlProcessor(spark, merge, logger=lambda m: None).run()
    rows = {
        (r.id, r.val, r.region, r["__start_at"], r["__end_at"], r["__is_current"])
        for r in spark.table("scd2p.dim").collect()
    }
    assert rows == {
        (1, "a", "east", 10, 20, False),
        (1, "A", "east", 20, None, True),
        (2, "b", "west", 10, None, True),
        (9, "z", "south", 10, None, True),
    }
    after = sorted(
        f for f in spark.table("scd2p.dim").inputFiles() if "region=south" in f
    )
    assert after == before


def test_output_scd2_requires_ts_and_keys(spark):
    base = """-- prepare-sql: drop database if exists scd2e cascade
-- prepare-sql: create database scd2e

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__{vars}

-- target=output.scd2e.t
select 1 as id, 'x' as val, 5 as ts
"""
    with pytest.raises(Exception, match="requires __merge_keys__"):
        SqlProcessor(
            spark, base.format(vars=""), logger=lambda m: None
        ).run()
    with pytest.raises(Exception, match="requires __scd2_ts__"):
        SqlProcessor(
            spark,
            base.format(vars=", 'id' as __merge_keys__"),
            logger=lambda m: None,
        ).run()


def test_output_bloom_filter_cols(spark):
    """__bloom_filter_cols__ writes parquet bloom filters (point-lookup
    pushdown for unsorted key columns).  Neither pyarrow nor duckdb in
    this container expose bloom offsets, so presence is verified by the
    stored-filter size delta against an identical bloom-less write."""
    import glob
    import os
    from urllib.parse import urlparse

    spark.sql("drop database if exists bloomdb cascade")
    spark.sql("create database bloomdb")
    base = """-- prepare-sql: create table bloomdb.{t} (id long, h string) using parquet

-- target=variables
select 'append' as __save_mode__{extra}

-- target=output.bloomdb.{t}
select id, md5(cast(id as string)) as h from range(100000)
"""
    SqlProcessor(
        spark, base.format(t="plain", extra=""), logger=lambda m: None
    ).run()
    SqlProcessor(
        spark,
        base.format(t="bloomed", extra=", 'h:100000' as __bloom_filter_cols__"),
        logger=lambda m: None,
    ).run()
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    size = lambda t: sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(wh, "bloomdb.db", t, "*.parquet"))
    )
    assert size("bloomed") > size("plain") + 50_000  # filter bytes present
    # conf is restored: a follow-up write has no bloom overhead
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("parquet.bloom.filter.enabled#h") is None
    # data unaffected
    assert spark.table("bloomdb.bloomed").count() == 100000


def test_output_merge_schema_evolution(spark):
    """__merge_schema__: additive schema evolution — new source columns
    ALTER into the target (old rows read NULL); without the flag the
    surplus column is silently dropped (reference semantics); dropping
    target columns stays a hard error either way."""
    setup = """-- prepare-sql: drop database if exists evo cascade
-- prepare-sql: create database evo
-- prepare-sql: create table evo.t (id int, v string) using parquet

-- target=variables
select 'append' as __save_mode__

-- target=output.evo.t
select 1 as id, 'a' as v
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()

    # without the flag: extra column silently dropped
    no_flag = """-- target=variables
select 'append' as __save_mode__

-- target=output.evo.t
select 2 as id, 'b' as v, 99 as extra
"""
    SqlProcessor(spark, no_flag, logger=lambda m: None).run()
    assert "extra" not in spark.table("evo.t").columns

    # with the flag: column added, old rows read NULL
    evolved = """-- target=variables
select 'append' as __save_mode__, true as __merge_schema__

-- target=output.evo.t
select 3 as id, 'c' as v, cast(42 as int) as score
"""
    SqlProcessor(spark, evolved, logger=lambda m: None).run()
    rows = {(r.id, r.v, r.score) for r in spark.table("evo.t").collect()}
    assert rows == {(1, "a", None), (2, "b", None), (3, "c", 42)}

    # missing target columns still a hard error, flag or not
    bad = """-- target=variables
select 'append' as __save_mode__, true as __merge_schema__

-- target=output.evo.t
select 4 as id
"""
    with pytest.raises(Exception, match="lacks target columns"):
        SqlProcessor(spark, bad, logger=lambda m: None).run()

    # evolution composes with upsert: merge a batch carrying a new column
    up = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__, true as __merge_schema__

-- target=output.evo.t
select 3 as id, 'C' as v, cast(43 as int) as score, 'x' as tag
"""
    SqlProcessor(spark, up, logger=lambda m: None).run()
    rows = {(r.id, r.v, r.score, r.tag) for r in spark.table("evo.t").collect()}
    assert rows == {
        (1, "a", None, None),
        (2, "b", None, None),
        (3, "C", 43, "x"),
    }


def test_output_scd2_key_moves_partition(spark):
    """SCD2 where the changed attribute IS the partition value: the closed
    row stays in its old partition, the new current version lands in the
    new partition, and unrelated partitions keep their files."""
    setup = """-- prepare-sql: drop database if exists scd2m cascade
-- prepare-sql: create database scd2m

-- target=variables
select true as __create_output_table__, '' as __partition__region,
       'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2m.dim
select * from (values (1, 10, 'east'), (2, 10, 'west'), (9, 10, 'south'))
    as v(id, ts, region)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    before = sorted(
        f for f in spark.table("scd2m.dim").inputFiles() if "region=south" in f
    )
    move = """-- target=variables
select 'scd2' as __save_mode__, 'id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2m.dim
select * from (values (1, 20, 'west')) as v(id, ts, region)
"""
    SqlProcessor(spark, move, logger=lambda m: None).run()
    rows = {
        (r.id, r.region, r["__start_at"], r["__end_at"], r["__is_current"])
        for r in spark.table("scd2m.dim").collect()
    }
    assert rows == {
        (1, "east", 10, 20, False),  # closed version stays in east
        (1, "west", 20, None, True),  # new current version in west
        (2, "west", 10, None, True),
        (9, "south", 10, None, True),
    }
    after = sorted(
        f for f in spark.table("scd2m.dim").inputFiles() if "region=south" in f
    )
    assert after == before  # untouched partition's files survive


def test_output_quarantine_rows(spark):
    """__quarantine_when__/__quarantine_to__: bad rows (incl. rows whose
    predicate is NULL — unjudgeable) divert to the quarantine table; the
    target receives only clean rows; re-runs append to quarantine."""
    setup = """-- prepare-sql: drop database if exists qdb cascade
-- prepare-sql: create database qdb

-- target=variables
select true as __create_output_table__,
       'amount < 0 or amount > 100' as __quarantine_when__,
       'qdb.bad_rows' as __quarantine_to__

-- target=output.qdb.clean
select * from (values
    (1, 50.0), (2, -3.0), (3, 999.0), (4, 10.0),
    (5, cast(null as double))
) as v(id, amount)
"""
    SqlProcessor(spark, setup, logger=lambda m: None).run()
    clean = {r.id for r in spark.table("qdb.clean").collect()}
    bad = {r.id for r in spark.table("qdb.bad_rows").collect()}
    assert clean == {1, 4}
    assert bad == {2, 3, 5}  # null predicate -> quarantined, not silent

    # without the vars, the save path is untouched
    plain = """-- target=variables
select 'append' as __save_mode__

-- target=output.qdb.clean
select 6 as id, 60.0 as amount
"""
    SqlProcessor(spark, plain, logger=lambda m: None).run()
    assert {r.id for r in spark.table("qdb.clean").collect()} == {1, 4, 6}


_SCHEMA_PROBE_SQL = """select
    'p' as region,
    7 as bucket,
    cast(1.5 as decimal(38,18)) as dec,
    date'2024-01-02' as d,
    timestamp'2024-01-02 03:04:05' as ts,
    timestamp_ntz'2024-01-02 03:04:05' as ts_ntz,
    cast('ab' as binary) as bin,
    array(named_struct('a', 1, 'b', 'x')) as arr_st,
    map('k', array(1, 2)) as m,
    named_struct('n', 1, 'o', cast(null as string)) as strict,
    1 as `my col`,
    'q' as `we``ird`"""


def test_create_table_schema_matches_ctas(spark):
    """The metadata-only create stores exactly the schema the old empty
    CTAS stored: every type round-trips through the DDL (decimal, dates,
    both timestamps, binary, nested arrays/maps/structs), nested
    non-nullable fields come out nullable, quoted names survive, and
    partition columns go last.  An output step whose query returns no
    rows into a new table leaves a readable empty table of that schema."""
    from easy_sql_spark.runtime.backend import (
        Partition,
        SparkBackend,
        TableMeta,
    )

    spark.sql("drop database if exists schdb cascade")
    spark.sql("create database schdb")
    df = spark.sql(_SCHEMA_PROBE_SQL)
    assert not df.schema["strict"].dataType["n"].nullable
    df.createOrReplaceTempView("schema_probe_src")
    for name, parts in (("flat", []), ("parted", ["region", "bucket"])):
        cols = ", ".join(
            "`" + c.replace("`", "``") + "`"
            for c in [c for c in df.columns if c not in parts] + parts
        )
        partitioned = (
            f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
        )
        spark.sql(
            f"CREATE TABLE schdb.ctas_{name} USING PARQUET{partitioned} AS "
            f"SELECT {cols} FROM schema_probe_src WHERE 1=0"
        )
        meta = TableMeta.parse(
            f"schdb.ddl_{name}", [Partition(field=p) for p in parts]
        )
        SparkBackend(spark).create_table_like_query(df, meta)
        expected = spark.table(f"schdb.ctas_{name}").schema
        assert spark.table(meta.name).schema == expected
        assert SparkBackend(spark).table_columns(meta.name)[1] == parts

    etl = f"""-- target=variables
select true as __create_output_table__, '' as __partition__region, '' as __partition__bucket

-- target=output.schdb.empty_out
select * from ({_SCHEMA_PROBE_SQL}) where false
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    out = spark.table("schdb.empty_out")
    assert out.schema == spark.table("schdb.ctas_parted").schema
    assert out.collect() == []
    spark.catalog.dropTempView("schema_probe_src")
    spark.sql("drop database if exists schdb cascade")


def test_create_table_ctas_lost_race_is_noop(spark):
    """CREATE TABLE IF NOT EXISTS semantics survive the location race:
    IF NOT EXISTS checks the catalog but the create validates the
    LOCATION separately, so a creator that loses a concurrent create
    surfaces LOCATION_ALREADY_EXISTS instead of the intended no-op.
    create_table_like_query treats that as the no-op when the table IS
    registered by then, and keeps it fatal when the location is a stale
    unregistered directory (orphaned files are never silently adopted)."""
    import pytest

    from easy_sql_spark.runtime.backend import SparkBackend, TableMeta

    spark.sql("create database if not exists racedb")
    spark.sql("drop table if exists racedb.t")
    df = spark.range(3).selectExpr("id", "id * 2 as v")
    meta = TableMeta.parse("racedb.t")

    class RacingSession:
        """Forwards to the real session, but the first create both runs the
        winner's create AND raises the loser's error."""

        def __init__(self, real):
            self._real = real
            self.catalog = real.catalog
            self._raced = False

        def sql(self, q, *a, **kw):
            if (
                q.lstrip().upper().startswith("CREATE TABLE IF NOT EXISTS")
                and not self._raced
            ):
                self._raced = True
                self._real.sql(q, *a, **kw)  # the race's winner
                raise RuntimeError(
                    "[LOCATION_ALREADY_EXISTS] Cannot name the managed "
                    "table as `racedb`.`t`, as its associated location "
                    "already exists."
                )
            return self._real.sql(q, *a, **kw)

    backend = SparkBackend(spark)
    backend.spark = RacingSession(spark)
    backend.create_table_like_query(df, meta)  # lost race -> no-op
    assert spark.catalog.tableExists("racedb.t")

    class StaleSession(RacingSession):
        """The stale-directory shape: the create fails and NOBODY
        registered."""

        def sql(self, q, *a, **kw):
            if q.lstrip().upper().startswith("CREATE TABLE IF NOT EXISTS"):
                raise RuntimeError(
                    "[LOCATION_ALREADY_EXISTS] stale unregistered dir"
                )
            return self._real.sql(q, *a, **kw)

    spark.sql("drop table if exists racedb.t")
    backend2 = SparkBackend(spark)
    backend2.spark = StaleSession(spark)
    with pytest.raises(RuntimeError, match="LOCATION_ALREADY_EXISTS"):
        backend2.create_table_like_query(df, meta)
    spark.sql("drop database if exists racedb cascade")


def test_create_table_on_stale_dir_is_fatal(spark):
    """The stale-directory shape for real: files left at a managed
    table's location with no catalog entry make the create raise
    LOCATION_ALREADY_EXISTS rather than adopt them."""
    import os
    from urllib.parse import urlparse

    from easy_sql_spark.runtime.backend import SparkBackend, TableMeta

    spark.sql("drop database if exists staledb cascade")
    spark.sql("create database staledb")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(wh, "staledb.db", "t")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "w") as f:
        f.write("orphan")
    with pytest.raises(Exception, match="LOCATION_ALREADY_EXISTS"):
        SparkBackend(spark).create_table_like_query(
            spark.range(3), TableMeta.parse("staledb.t")
        )
    assert not spark.catalog.tableExists("staledb.t")
    spark.sql("drop database if exists staledb cascade")
