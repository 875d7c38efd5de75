"""Data-quality and alerting functions (reference funcs_common.py:51-89,
271-321, 340-453)."""

from __future__ import annotations


def build(processor):
    spark = processor.spark

    def check_not_null_column_in_table(table: str, *columns) -> bool:
        """Count nulls per column in ONE aggregation pass (no per-column
        scans — one job regardless of column count)."""
        from pyspark.sql import functions as F

        df = spark.table(table)
        cols = list(columns) if columns else df.columns
        agg = df.agg(
            *[
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(c)
                for c in cols
            ]
        ).first()
        bad = {c: agg[c] for c in cols if agg[c]}
        if bad:
            processor.log(f"null check failed for {table}: {bad}")
            return False
        return True

    def ensure_no_null_data_in_table(table: str, *columns) -> bool:
        ok = check_not_null_column_in_table(table, *columns)
        if not ok:
            raise RuntimeError(f"null data found in {table}")
        return True

    def alert(rule_name: str, pass_condition: str, message_template: str = ""):
        """Driver-side alerting (reference funcs_common.py:271-321).
        ``pass_condition`` is a registered func call like ``equal(${a}, 1)``
        (already var-substituted by the macro layer) or a variable name;
        on failure the alert renders to the log — external senders plug in
        by overriding this function in the user funcs dict."""
        import re

        m = re.match(r"^(\w+)\((.*)\)$", pass_condition, re.DOTALL)
        if m:
            result = processor.func_runner.run_func_call(
                m.group(1), m.group(2), processor.vars_context
            )
        else:
            result = processor.vars_context.is_truthy(pass_condition)
        if not result:
            processor.log(f"ALERT[{rule_name}]: {message_template}")
        return True

    def alert_with_backend(rule_name: str, check_table: str, message: str = ""):
        """Alert variant fed by a TABLE (reference funcs_common.py:271-321):
        fires when the table is non-empty, rendering ≤10 rows into the
        message."""
        rows = spark.table(check_table).limit(10).collect()
        if rows:
            rendered = "; ".join(str(r.asDict()) for r in rows)
            processor.log(f"ALERT[{rule_name}]: {message} {rendered}")
        return True

    def alert_exception_handler(rule_name: str, *args):
        """``__exception_handler__`` target: last positional arg is the
        exception the failed step raised (reference
        funcs_common.py:309-321)."""
        exc = args[-1] if args else None
        processor.log(f"ALERT[{rule_name}]: step failed: {exc}")
        return True

    def _profile_read_data(table: str, query: str, max_count: int):
        """Reference _read_data_spark (funcs_common.py:428-453): count →
        sample to ≤ max_count → lineage cut → decimal→double cast and
        array/map→``<col>__size`` companion columns → toPandas.  The scan
        and the sampling run distributed; only the bounded sample crosses
        to the driver."""
        from pyspark.sql.functions import expr
        from pyspark.sql.types import ArrayType, DecimalType, MapType

        from ..operators.iterate import cut_lineage

        condition_sql = f"where {query}" if query else ""
        count = spark.sql(f"select count(*) from {table} {condition_sql}").collect()[
            0
        ][0]
        fraction = 1.0 if count < max_count else float(max_count) / float(count)
        sdf = spark.sql(f"select * from {table} {condition_sql}").sample(
            fraction=fraction
        )
        # one sample for the emptiness check and the toPandas; lazy: the
        # count is the full scan that materializes it
        sdf = cut_lineage(sdf, eager=False)
        if sdf.count() == 0:
            processor.log(f"{table} is empty, no report generated")
            return None
        for field in sdf.schema.fields:
            if isinstance(field.dataType, DecimalType):
                sdf = sdf.withColumn(
                    field.name, expr(f"cast(`{field.name}` as double)")
                )
            if isinstance(field.dataType, (ArrayType, MapType)):
                sdf = sdf.withColumn(
                    field.name + "__size", expr(f"size(`{field.name}`)")
                )
        return sdf.toPandas()

    def _profile_json(df, table: str, include_correlations: bool) -> dict:
        """ydata-compatible report subset (analysis/table/variables/
        correlations top-level keys, ydata's field names) computed with
        pandas — used when ydata-profiling itself is absent."""
        import numpy as np
        import pandas as pd

        n = len(df)
        variables = {}
        for col in df.columns:
            s = df[col]
            scalar = s.map(lambda v: not isinstance(v, (list, dict, set))).all()
            n_missing = int(s.isna().sum())
            try:
                n_distinct = int(s.nunique(dropna=True)) if scalar else 0
            except TypeError:
                scalar, n_distinct = False, 0
            v = {
                "n": n,
                "n_missing": n_missing,
                "p_missing": n_missing / n if n else 0.0,
                "n_distinct": n_distinct,
                "p_distinct": n_distinct / n if n else 0.0,
                "is_unique": bool(n_distinct == n - n_missing and n_missing == 0),
                "memory_size": int(s.memory_usage(deep=False)),
            }
            if pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
                v["type"] = "Numeric"
                clean = s.dropna()
                if len(clean):
                    v.update(
                        {
                            "mean": float(clean.mean()),
                            "std": float(clean.std()) if len(clean) > 1 else 0.0,
                            "min": float(clean.min()),
                            "max": float(clean.max()),
                            "5%": float(clean.quantile(0.05)),
                            "25%": float(clean.quantile(0.25)),
                            "50%": float(clean.quantile(0.50)),
                            "75%": float(clean.quantile(0.75)),
                            "95%": float(clean.quantile(0.95)),
                            "n_zeros": int((clean == 0).sum()),
                            "n_negative": int((clean < 0).sum()),
                        }
                    )
            elif pd.api.types.is_bool_dtype(s):
                v["type"] = "Boolean"
            elif pd.api.types.is_datetime64_any_dtype(s):
                v["type"] = "DateTime"
            elif not scalar:
                v["type"] = "Unsupported"
            else:
                v["type"] = "Categorical"
                lens = s.dropna().map(lambda x: len(str(x)))
                if len(lens):
                    v.update(
                        {
                            "max_length": int(lens.max()),
                            "min_length": int(lens.min()),
                            "mean_length": float(lens.mean()),
                        }
                    )
            variables[col] = v
        type_counts: dict[str, int] = {}
        for v in variables.values():
            type_counts[v["type"]] = type_counts.get(v["type"], 0) + 1
        report = {
            "analysis": {"title": f"Profiling Report for {table}"},
            "table": {
                "n": n,
                "n_var": len(df.columns),
                "n_cells_missing": int(df.isna().sum().sum()),
                "p_cells_missing": (
                    float(df.isna().sum().sum()) / (n * len(df.columns))
                    if n and len(df.columns)
                    else 0.0
                ),
                "types": type_counts,
            },
            "variables": variables,
        }
        if include_correlations:
            # both matrices ydata computes by default (reference passes them
            # through to ProfileReport, funcs_common.py:384-395)
            num = df.select_dtypes(include=[np.number])
            if num.shape[1] >= 2:
                report["correlations"] = {
                    "pearson": num.corr().fillna(0).to_dict(),
                    "spearman": num.corr(method="spearman").fillna(0).to_dict(),
                }
            else:
                report["correlations"] = {"pearson": {}, "spearman": {}}
        return report

    def _profile_html(report: dict) -> str:
        import html as html_mod
        import json as json_mod

        rows = "".join(
            f"<tr><td>{html_mod.escape(c)}</td><td>{v['type']}</td>"
            f"<td>{v['n_missing']}</td><td>{v['n_distinct']}</td></tr>"
            for c, v in report["variables"].items()
        )
        return (
            f"<html><head><title>{html_mod.escape(report['analysis']['title'])}"
            f"</title></head><body><h1>{html_mod.escape(report['analysis']['title'])}"
            f"</h1><table border='1'><tr><th>column</th><th>type</th>"
            f"<th>missing</th><th>distinct</th></tr>{rows}</table>"
            f"<pre>{html_mod.escape(json_mod.dumps(report, indent=2, default=str))}"
            f"</pre></body></html>"
        )

    def data_profiling_report(
        table: str,
        query: str = "",
        output_folder: str = ".",
        max_count: str = "50000",
        include_correlations: str = "true",
        types: str = "html",
        file_name: str = "",
    ):
        """Dataset profiling report (reference funcs_common.py:344-453):
        same signature, sampling, preprocessing (decimal→double,
        array/map→size) and output-path scheme.  Uses ydata-profiling when
        importable; otherwise emits a ydata-shaped JSON subset (and a
        minimal HTML rendering) computed with pandas — same keys, so
        downstream consumers parse either."""
        import json as json_mod
        import os

        type_list = [t.strip() for t in types.split(",") if t.strip()]
        for t in type_list:
            if t not in ("html", "json"):
                raise ValueError(
                    f"Found unknown type {t}, all supported are: html/json"
                )
        df = _profile_read_data(table, query, int(max_count))
        if df is None:
            return True
        _corr = include_correlations.lower() in ("1", "true", "y", "yes")

        if "." in table:
            db, tbl = table.split(".", 1)
            base = (
                f"{output_folder}/{db}/{tbl}"
                if not file_name
                else f"{output_folder}/{file_name}"
            )
        else:
            base = (
                f"{output_folder}/{table}"
                if not file_name
                else f"{output_folder}/{file_name}"
            )
        os.makedirs(os.path.dirname(f"{base}.html") or ".", exist_ok=True)

        try:  # the reference's own engine, if present in the environment
            from ydata_profiling import ProfileReport  # type: ignore

            profile = ProfileReport(
                df,
                title=f"Profiling Report for {table}",
                **(
                    {}
                    if _corr
                    else {
                        "correlations": None,
                        "interactions": {"targets": [], "continuous": False},
                    }
                ),
            )
            if "html" in type_list:
                profile.to_file(f"{base}.html")
            if "json" in type_list:
                with open(f"{base}.json", "w", encoding="utf-8") as f:
                    f.write(profile.to_json())
            return True
        except ModuleNotFoundError:
            pass

        report = _profile_json(df, table, _corr)
        if "html" in type_list:
            with open(f"{base}.html", "w", encoding="utf-8") as f:
                f.write(_profile_html(report))
            processor.log(f"generated file: {base}.html")
        if "json" in type_list:
            with open(f"{base}.json", "w", encoding="utf-8") as f:
                json_mod.dump(report, f, indent=2, default=str)
            processor.log(f"generated file: {base}.json")
        return True

    return {
        k: v
        for k, v in locals().items()
        if callable(v) and not k.startswith("_") and k not in ("processor", "spark")
    }
