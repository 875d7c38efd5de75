"""SqlProcessor — the step execution loop.

Mirrors the reference's driver semantics (easy_sql/sql_processor/
sql_processor.py:50-222, step.py:258-538) on the Spark backend:

- sequential step loop; all parallelism lives inside Spark;
- ``if=func(args)`` conditions and the ``__skip_all__`` kill switch;
- 12 step types incl. variables/list_variables capture, template
  registration, func execution, log/check steps with their row caps,
  output-step save semantics with ``__partition__<col>`` /
  ``__save_mode__`` / ``__create_output_table__`` variables;
- dry-run output materialization to ``{db}_{table}_{hex}_output`` temp
  views (the test harness contract, reference step.py:445-466);
- ``__exception_handler__`` hook (sql_processor.py:174-183).
"""

from __future__ import annotations

import os
import re
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..core.config import EtlConfig
from ..core.context import FuncRunner, TemplatesContext, VarsContext
from ..core.step import IncludeResolver, Step, parse_steps
from ..operators.iterate import cut_lineage
from .backend import Partition, SparkBackend, TableMeta
from .report import RunReport, StepStatus

LOG_ROW_CAP = 20  # reference step.py:484
CHECK_ROW_CAP = 100  # reference step.py:512

PARTITION_VAR_RE = re.compile(r"^__partition__(.+)$")
FUNC_CALL_RE = re.compile(r"^(\w+)\((.*)\)$", re.DOTALL)


def _load_pyfile_callables(path: str) -> dict[str, Callable]:
    import importlib.util

    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    if spec is None or spec.loader is None:
        raise FileNotFoundError(f"cannot load python file: {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return {
        k: v
        for k, v in vars(mod).items()
        if callable(v) and not k.startswith("_") and getattr(v, "__module__", None) == name
    }


class ProcessorContext:
    """Vars + templates handle passed to functions as ``${__context__}``
    (reference ProcessorContext, context.py — functions read and set
    variables through it)."""

    def __init__(
        self, vars_context: VarsContext, templates_context: TemplatesContext
    ) -> None:
        self.vars_context = vars_context
        self.templates_context = templates_context

    def add_vars(self, vars: dict[str, Any]) -> None:
        self.vars_context.add_vars(vars)

    def set_var(self, name: str, value: Any) -> None:
        self.vars_context.set_var(name, value)

    def get_var(self, name: str, default: Any = None) -> Any:
        return self.vars_context.get_var(name, default)


class StepFailedError(RuntimeError):
    pass


class CheckFailedError(StepFailedError):
    pass


class SqlProcessor:
    def __init__(
        self,
        spark: SparkSession,
        sql: str,
        variables: dict[str, Any] | None = None,
        includes: dict[str, str] | None = None,
        base_dir: str = ".",
        extra_cols: dict[str, Any] | None = None,
        funcs: dict[str, Callable] | None = None,
        udfs: dict[str, Callable] | None = None,
        logger: Callable[[str], None] | None = None,
        streaming_config: dict | None = None,
        report_task_id: str | None = None,
        report_sinks: list | None = None,
        sql_file_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.backend = SparkBackend(spark)
        self.config = EtlConfig.parse(sql)
        if sql_file_path:
            self.config.abs_sql_file_path = os.path.abspath(sql_file_path)
        self.base_dir = base_dir
        self.vars_context = VarsContext(vars=variables or {})
        self.templates_context = TemplatesContext()
        self.func_runner = FuncRunner()
        self.vars_context.func_runner = self.func_runner
        self.extra_cols = extra_cols or {}
        self.report = RunReport()
        self.report_task_id = report_task_id or f"etl_{uuid.uuid4().hex[:8]}"
        self.report_sinks = report_sinks or []
        self.log = logger or print
        self._output_views: dict[str, str] = {}  # table name -> dry-run view

        self.sql_collector: list[str] = []  # executed-SQL audit (ref step.py:189-220)
        #: end-of-run invariant checks (e.g. "every deferred dedup-index
        #: ingest was flushed") — run AFTER the last step succeeds; a
        #: failing check fails the run instead of silently dropping state
        self.run_end_checks: list[Callable[[], None]] = []

        from ..functions import build_registry

        self.func_runner.register_all(build_registry(self))
        if funcs:
            self.func_runner.register_all(funcs)

        from ..functions.udfs import register_udfs

        register_udfs(spark, udfs)

        # file-based registration (reference sql_processor.py:140-149 +
        # config easy_sql.udf_file_path / func_file_path)
        if self.config.func_file_path:
            self.register_funcs_from_pyfile(
                os.path.join(base_dir, self.config.func_file_path)
            )
        if self.config.udf_file_path:
            self.register_udfs_from_pyfile(
                os.path.join(base_dir, self.config.udf_file_path)
            )
        if self.config.scala_udf_initializer:
            self.backend.init_scala_udfs(self.config.scala_udf_initializer)

        for k, v in self.config.engine_conf.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                self.log(f"warn: conf {k} not settable at runtime")

        # ---- streaming mode (reference: etl_type=streaming + Flink
        # statement sets, flink.py:94-130; ours: Structured Streaming with
        # deferred writeStream starts) ----
        self.streaming_tables = None
        self._pending_inserts: list[tuple[Any, str]] = []
        self.streaming_queries: list[Any] = []
        cfg_path = self.config.easy_sql_conf.get("streaming_tables_config_path")
        if streaming_config is not None or cfg_path or self.config.etl_type == "streaming":
            from ..streaming.tables import StreamingTables

            if streaming_config is not None:
                self.streaming_tables = StreamingTables(spark, streaming_config)
            elif cfg_path:
                self.streaming_tables = StreamingTables.from_yaml(spark, cfg_path)
            else:
                self.streaming_tables = StreamingTables(spark, {})
            self.streaming_tables.register_sources()
            self.func_runner.register(
                "execute_streaming_inserts", self._execute_streaming_inserts
            )

        resolver = IncludeResolver(includes=includes or {}, base_dir=base_dir)
        self.steps: list[Step] = parse_steps(
            sql, resolver,
            skip_duplicate_include=self.config.skip_duplicate_include,
        )

    # ---------------------------------------------------------------- public
    def run(self, dry_run: bool = False) -> RunReport:
        for stmt in self.config.prepare_sql:
            self.backend.exec_native_sql(stmt)
        try:
            for step in self.steps:
                self._run_step(step, dry_run)
            for check in self.run_end_checks:
                check()
        finally:
            self.log(self.report.render())
            for sink in self.report_sinks:
                try:
                    sink.write(self.report_task_id, self.report)
                except Exception as e:  # noqa: BLE001 — a sink outage must
                    # not fail the ETL (reference prints and continues)
                    self.log(f"warn: report sink {type(sink).__name__} "
                             f"failed: {e}")
        return self.report

    def register_funcs_from_pyfile(self, path: str) -> None:
        """Register every public callable of a python file as step/macro
        functions (reference sql_processor.py:144-149)."""
        self.func_runner.register_all(_load_pyfile_callables(path))

    def register_udfs_from_pyfile(self, path: str) -> None:
        """Register every public callable of a python file as Spark SQL UDFs
        (reference sql_processor.py:140-143, spark.py:99-104)."""
        from ..functions.udfs import register_udfs

        register_udfs(self.spark, _load_pyfile_callables(path))

    def collected_sql(self) -> str:
        """The effective SQL of every executed step, reconstructed for
        audit/lineage (reference SqlCollector, sql_processor.py:32-40)."""
        return ";\n".join(self.sql_collector)

    def run_step(self, step: Step, dry_run: bool = False) -> None:
        """Run a single step (the debugger's entry point, reference
        sql_processor_debugger.py:178-183)."""
        self._run_step(step, dry_run)

    def set_var(self, name: str, value: Any) -> None:
        self.vars_context.set_var(name, value)

    def get_var(self, name: str, default: Any = None) -> Any:
        return self.vars_context.get_var(name, default)

    def output_view_for(self, table_name: str) -> str | None:
        """Dry-run materialized view name for an output table (test harness)."""
        return self._output_views.get(table_name)

    # --------------------------------------------------------------- private
    def _run_step(self, step: Step, dry_run: bool) -> None:
        target = step.target_type + (
            f".{step.target_name}" if step.target_name else ""
        )
        report = self.report.new_step(step.id, target)
        if not self._should_run(step):
            report.finish(StepStatus.SKIPPED)
            return
        report.start()
        self._inject_meta_vars(step)
        try:
            self._execute(step, dry_run, report)
            report.finish(StepStatus.SUCCEEDED)
        except Exception as e:
            report.finish(StepStatus.FAILED, f"{type(e).__name__}: {e}")
            handler = self.vars_context.get_var("__exception_handler__")
            if handler:
                m = FUNC_CALL_RE.match(str(handler))
                if m:
                    args = self.func_runner.split_args(m.group(2), self.vars_context)
                    self.func_runner.funcs[m.group(1)](*args, e)
                    return
            raise

    def _should_run(self, step: Step) -> bool:
        if self.vars_context.is_truthy("__skip_all__"):
            return False
        if step.config.condition is None:
            return True
        m = FUNC_CALL_RE.match(step.config.condition)
        if not m:
            raise StepFailedError(
                f"invalid if= condition: {step.config.condition}"
            )
        result = self.func_runner.run_func_call(
            m.group(1), m.group(2), self.vars_context
        )
        return bool(result) and str(result).lower() != "false"

    def _inject_meta_vars(self, step: Step) -> None:
        self.vars_context.add_vars(
            {
                "__step__": str(step.id),
                "__target__": step.target_type,
            }
        )
        # as whole func args, ${__step__}/${__config__}/${__backend__}/
        # ${__context__} pass the live objects (reference
        # docs/easy_sql/variables.md "Variables for function calling")
        self.vars_context.obj_vars["__step__"] = step
        self.vars_context.obj_vars["__config__"] = self.config
        self.vars_context.obj_vars["__backend__"] = self.backend
        self.vars_context.obj_vars["__context__"] = ProcessorContext(
            self.vars_context, self.templates_context
        )

    def _preprocessed(self, step: Step) -> str:
        return step.preprocess_sql(self.templates_context, self.vars_context)

    def _execute(self, step: Step, dry_run: bool, report) -> None:
        t = step.target_type
        if t == "template":
            # body registered raw: vars inside resolve at use-site
            self.templates_context.add_template(step.target_name, step.sql)
            return
        if t == "func":
            self._run_named_func(step.target_name)
            return
        if t == "action":
            sql = self._preprocessed(step)
            if sql:
                self.sql_collector.append(sql)
                self.backend.exec_native_sql(sql)
            return
        if t == "check" and FUNC_CALL_RE.match(step.target_name or ""):
            if self.vars_context.is_truthy("__no_check__"):
                return
            result = self._run_named_func(step.target_name)
            if not result or str(result).lower() == "false":
                raise CheckFailedError(
                    f"check failed: {step.target_name} -> {result!r}"
                )
            return

        sql = self._preprocessed(step)
        df = self.backend.exec_sql(sql)
        self._collect_effective_sql(step, sql)

        if t == "temp":
            self.backend.create_temp_view(df, step.target_name)
        elif t == "cache":
            if self.vars_context.is_truthy("__no_cache__"):
                self.backend.create_temp_view(df, step.target_name)
            else:
                self.backend.create_cached_view(df, step.target_name)
        elif t == "broadcast":
            self.backend.create_broadcast_view(df, step.target_name)
        elif t == "variables":
            row = df.first()
            if row is not None:
                self.vars_context.add_vars(
                    {k: self._stringify(v) for k, v in row.asDict().items()}
                )
        elif t == "list_variables":
            # reference parity is an unbounded collect
            # (sql_processor/step.py list-vars capture); that is a
            # driver-side funnel, so refuse loudly past a default bound
            # instead of silently OOMing — override via the
            # __list_variables_max_rows__ var (0 = unbounded).
            bound_var = self.vars_context.get_var(
                "__list_variables_max_rows__", "10000"
            )
            bound = int(str(bound_var))
            if bound > 0:
                rows = df.limit(bound + 1).collect()
                if len(rows) > bound:
                    raise StepFailedError(
                        f"list_variables step `{step.target_name}` would "
                        f"collect more than {bound} rows to the driver; "
                        "set __list_variables_max_rows__ to a larger "
                        "value (or 0 for unbounded) if this is "
                        "intentional"
                    )
            else:
                rows = df.collect()
            lists: dict[str, list] = {c: [] for c in df.columns}
            for r in rows:
                d = r.asDict()
                for c in df.columns:
                    lists[c].append(d[c])
            self.vars_context.add_list_vars(lists)
        elif t == "log":
            if not self.vars_context.is_truthy("__no_log__"):
                for r in df.limit(LOG_ROW_CAP).collect():
                    self.log(f"log[{step.target_name}]: {r.asDict()}")
                    report.add_message(str(r.asDict()))
        elif t == "check":
            self._data_check(step, df)
        elif t == "output":
            self._save_output(step, df, dry_run)
        else:  # pragma: no cover
            raise StepFailedError(f"unhandled step type: {t}")

    def _collect_effective_sql(self, step: Step, sql: str) -> None:
        """Render the step's effective SQL for the audit trail (reference
        ExecutedSqlTransformer, step.py:189-220)."""
        t, name = step.target_type, step.target_name
        if t in ("temp", "cache", "broadcast"):
            self.sql_collector.append(
                f"CREATE OR REPLACE TEMPORARY VIEW {name} AS\n{sql}"
            )
        elif t == "output":
            mode = self._save_mode().lower()
            verb = {
                "append": "INSERT INTO",
                "upsert": "MERGE INTO",
                "scd2": "MERGE INTO /* SCD2 */",
            }.get(mode, "INSERT OVERWRITE TABLE")
            self.sql_collector.append(f"{verb} {name}\n{sql}")
        else:  # variables/list_variables/log/check: the bare query
            self.sql_collector.append(f"-- {t}.{name or ''}\n{sql}")

    def _save_mode(self) -> str:
        """``__save_mode__``, else the reference's bare ``save_mode``."""
        return str(
            self.vars_context.get_var(
                "__save_mode__", self.vars_context.get_var("save_mode", "overwrite")
            )
        )

    def _pipe_list(self, name: str) -> list[str] | None:
        """A ``|``-separated list variable, items stripped and blanks
        dropped; None when the variable is unset or empty."""
        value = self.vars_context.get_var(name)
        if not value:
            return None
        return [c.strip() for c in str(value).split("|") if c.strip()]

    @staticmethod
    def _stringify(v: Any) -> Any:
        """Variables are string-typed at substitution (reference
        step.py:313-317); ints/floats render without quotes naturally."""
        if v is None:
            return "null"
        if isinstance(v, bool):
            return str(v).lower()
        return str(v)

    def _run_named_func(self, call_text: str | None):
        m = FUNC_CALL_RE.match(call_text or "")
        if not m:
            raise StepFailedError(f"func step needs f(args), got {call_text!r}")
        return self.func_runner.run_func_call(
            m.group(1), m.group(2), self.vars_context
        )

    def _data_check(self, step: Step, df: DataFrame) -> None:
        """Every row must have actual == expected; ≥1 row required
        (reference step.py:512-538)."""
        if self.vars_context.is_truthy("__no_check__"):
            return
        cols = [c.lower() for c in df.columns]
        if "actual" not in cols or "expected" not in cols:
            raise CheckFailedError(
                f"check step {step.target_name}: query must produce "
                f"'actual' and 'expected' columns, got {df.columns}"
            )
        rows = df.limit(CHECK_ROW_CAP).collect()
        if not rows:
            raise CheckFailedError(
                f"check step {step.target_name}: no rows returned"
            )
        for r in rows:
            d = {k.lower(): v for k, v in r.asDict().items()}
            if d["actual"] != d["expected"]:
                raise CheckFailedError(
                    f"check step {step.target_name}: actual={d['actual']!r} "
                    f"!= expected={d['expected']!r}"
                )

    def _execute_streaming_inserts(self, wait: str = "true"):
        """Start all deferred streaming inserts as one set (the Flink
        statement-set analogue, flink.py:122-130, funcs_flink.py:49-60);
        ``__dry_run__`` suppresses execution."""
        if self.vars_context.is_truthy("__dry_run__"):
            self.log("dry run: skipping streaming inserts")
            self._pending_inserts.clear()
            return True
        for df, sink_name in self._pending_inserts:
            q = self.streaming_tables.start_insert(df, sink_name)
            self.streaming_queries.append(q)
        self._pending_inserts.clear()
        if str(wait).lower() != "false":
            for q in self.streaming_queries:
                q.awaitTermination()
        return True

    def _save_output(self, step: Step, df: DataFrame, dry_run: bool) -> None:
        if df.isStreaming:
            self._pending_inserts.append((df, step.target_name))
            return
        for col, value in self.extra_cols.items():
            from pyspark.sql import functions as F

            df = df.withColumn(col, F.lit(value))

        partitions = []
        for key, value in list(self.vars_context.vars.items()):
            m = PARTITION_VAR_RE.match(key)
            if m:
                partitions.append(
                    Partition(field=m.group(1), value=value or None)
                )
        table = TableMeta.parse(step.target_name, partitions)
        save_mode = self._save_mode()
        create_table = self.vars_context.is_truthy(
            "__create_output_table__"
        ) or self.vars_context.is_truthy("__create_hive_table__")

        if self.vars_context.is_truthy("__dry_run_verify_output_schema__"):
            # reference semantics (docs variables.md): fail when the target
            # is absent; __dry_run_verify_output_schema_type__ adds types
            if not self.backend.table_exists(table):
                raise StepFailedError(
                    f"__dry_run_verify_output_schema__: target table "
                    f"{table.name} does not exist"
                )
            self.backend.verify_schema(
                df,
                table,
                check_types=self.vars_context.is_truthy(
                    "__dry_run_verify_output_schema_type__"
                ),
            )

        # scale extension: __bucket_by__ / __bucket_count__ write the output
        # as a bucketed+sorted table (shuffle-free joins on the bucket key)
        bucket_by = self._pipe_list("__bucket_by__")
        if bucket_by is not None and not dry_run:
            # static partition values must land in the written table here
            # too, not only in save_table's path
            df = table.with_static_partitions(df)
            n = int(self.vars_context.get_var("__bucket_count__", "8"))
            self.backend.create_bucketed_table(df, table, bucket_by, n, save_mode)
            return

        if dry_run:
            df = table.with_static_partitions(df)
            view = f"{table.db}_{table.table}_{uuid.uuid4().hex}_output"
            self.backend.create_temp_view(df, view)
            self._output_views[table.name] = view
            return
        # keyed upsert/MERGE (reference CDC/Hudi semantics): |-separated
        # merge keys, optional precombine column for intra-batch dedup
        merge_keys = self._pipe_list("__merge_keys__")
        precombine = self.vars_context.get_var("__upsert_precombine__")
        # SCD2 history-keeping merge: __scd2_ts__ names the effective-ts
        # column; metadata column names are overridable
        scd2 = None
        if save_mode.lower() == "scd2":
            scd2 = {
                "ts": self.vars_context.get_var("__scd2_ts__"),
                "start": self.vars_context.get_var("__scd2_start_col__"),
                "end": self.vars_context.get_var("__scd2_end_col__"),
                "current": self.vars_context.get_var("__scd2_current_col__"),
            }
        # parquet bloom filters on listed columns: `col` or `col:ndv`,
        # |-separated (point-lookup pushdown for unsorted key columns)
        bloom_cols = self._pipe_list("__bloom_filter_cols__")
        # row-level quarantine: rows matching __quarantine_when__ divert
        # (append) into __quarantine_to__ instead of failing the batch or
        # polluting the target — the write-clean/divert-bad DQ pattern.
        # NULL predicate results count as BAD (unjudgeable rows must not
        # slip into the clean table silently).
        q_pred = self.vars_context.get_var("__quarantine_when__")
        q_dst = self.vars_context.get_var("__quarantine_to__")
        if q_pred and q_dst:
            from pyspark.sql import functions as F

            flag = F.coalesce(F.expr(str(q_pred)), F.lit(True))
            # cut once so the good/bad split sees one consistent
            # evaluation of the step query
            df = cut_lineage(df, eager=True)
            bad = df.where(flag)
            q_table = TableMeta.parse(str(q_dst), [])
            self.backend.save_table(
                bad, q_table, "append", create_table=True
            )
            df = df.where(~flag)

        zorder_cols = self._pipe_list("__zorder_by__")
        layout_curve = str(
            self.vars_context.get_var("__layout_curve__") or "zorder"
        )
        self.backend.save_table(
            df,
            table,
            save_mode,
            create_table,
            merge_keys=merge_keys,
            precombine=str(precombine) if precombine else None,
            scd2=scd2,
            bloom_cols=bloom_cols,
            layout_curve=layout_curve,
            merge_schema=self.vars_context.is_truthy("__merge_schema__"),
            zorder_cols=zorder_cols,
        )
