"""The benchmark's workloads.

A workload reads fixed input tables from ``data/`` (copies of the
seed-42 tables the package's tests and oracle checks use, at the scale
factor the workload names) and derives its parameters from the seed.
Its DuckDB reference values (``references``) are computed in a separate
process so they cost the measured driver neither time nor memory.  It
registers its inputs in the session (part of set-up) and runs passes of
operations.  An operation is one ETL file run through
``SqlProcessor`` or one registry query built, run and collected.  Every
operation's output is checked against the references; a failed check
counts the operation as failed and does not stop the run.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ETL_DIR = os.path.join(HERE, "etl")
DATA_DIR = os.path.join(HERE, "data")


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool = True
    detail: str = ""
    #: wall seconds per phase of a registry query (build, plan, exec)
    phases: dict = field(default_factory=dict)


def fill(text: str, params: dict) -> str:
    """Fill the ``{{name}}`` placeholders of an ETL template.  Step
    targets take no ``${var}`` substitution, so names that change per
    pass (the database) are placeholders too."""
    for k, v in params.items():
        text = text.replace("{{%s}}" % k, str(v))
    return text


def duck(data_dir: str, tables, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in tables:
        path = os.path.join(data_dir, t + ".parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def scalar(con, sql: str):
    return con.execute(sql).fetchone()[0]


class Workload:
    name = ""
    #: scale-factor directory under ``data/``
    sf = ""
    #: the tables of that directory, registered as views at set-up
    views: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.rng = random.Random(f"{self.name}:{seed}")
        self.data_dir = os.path.join(DATA_DIR, self.sf)
        self.run = None
        self.refs: dict = {}

    def references(self, con) -> dict:
        """JSON-able reference values computed by DuckDB."""
        return {}

    def register(self, spark) -> None:
        from easy_sql_spark import datasets

        datasets.register_views(spark, self.data_dir, self.views)

    def run_pass(self, n: int) -> list[OpResult]:
        raise NotImplementedError

    def after_pass(self, n: int, results: list[OpResult]) -> dict:
        """Untimed work after a pass: output checks and clean-up."""
        return {}


# ------------------------------------------------------------------ ETL
class EtlWrite(Workload):
    """A step-language write pipeline in three files: warehouse
    maintenance, snapshot commits and a deferred three-tier dedup-index
    load.  Each pass writes into a fresh database and fresh table roots,
    which are dropped after the row counts are checked."""

    name = "etl_write"
    sf = "sf0.001"
    views = ("customer", "orders", "lineitem", "documents")
    files = ("write_maintenance", "write_snapshots", "write_dedup")

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.p = self.params()
        self.texts = {}
        for f in self.files:
            with open(os.path.join(ETL_DIR, f + ".sql")) as fh:
                self.texts[f] = fill(fh.read(), self.p)
        self.order = list(self.files)
        self.rng.shuffle(self.order)

    def params(self) -> dict:
        r = self.rng
        cut1, cut2 = sorted(r.sample(range(60, 420), 2))
        return {
            "scd2_mod": 10,
            "scd2_residue": r.randrange(10),
            "upsert_month": f"{r.randint(1995, 2000)}-{r.randint(1, 12):02d}",
            "restated_year": r.randint(1995, 2000),
            "kept_lines": r.randint(2, 5),
            "snap_mod": r.choice([3, 4, 5]),
            "changed_mod": r.choice([7, 9, 11]),
            "fresh_mod": r.choice([13, 17, 19]),
            "cut1": cut1,
            "cut2": cut2,
            "cut3": r.randint(440, 499),
        }

    def variables(self, n: int) -> dict:
        """Step-language variables of pass ``n``."""
        return {
            "db": f"bench_w{n}",
            "snap": os.path.join(self.work, "snap", f"p{n}"),
            "didx": os.path.join(self.work, "didx", f"p{n}"),
        }

    def run_pass(self, n: int) -> list[OpResult]:
        from easy_sql_spark.runtime.processor import SqlProcessor

        variables = self.variables(n)
        out = []
        for name in self.order:
            sql = fill(self.texts[name], variables)
            t0 = time.perf_counter()
            try:
                p = SqlProcessor(self.run.spark, sql, variables=dict(variables),
                                 base_dir=ETL_DIR, logger=lambda m: None)
                report = p.run()
                p.backend.clean_temp_views()
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                out.append(OpResult(name, time.perf_counter() - t0, False,
                                    f"{type(e).__name__}: {e}"[:300]))
                continue
            out.append(OpResult(name, time.perf_counter() - t0))
            self.run.record_steps(report)
        return out

    def references(self, con) -> dict:
        p = self.p
        n_orders = scalar(con, "select count(*) from orders")
        return {
            "customer_dim": scalar(
                con, "select count(*) + count(*) filter (where c_custkey % "
                     f"{p['scd2_mod']} = {p['scd2_residue']}) from customer"),
            "orders_fact": n_orders + min(10, n_orders),
            "lineitem_by_year": scalar(
                con, "select count(*) filter (where year(l_shipdate) <> "
                     f"{p['restated_year']} or l_linenumber <= "
                     f"{p['kept_lines']}) from lineitem"),
            "snapshot": scalar(
                con, "select count(*) filter (where o_orderkey % "
                     f"{p['snap_mod']} = 0) + count(*) filter (where "
                     f"o_orderkey % {p['snap_mod']} = 0 and o_orderkey % "
                     f"{p['fresh_mod']} = 0) from orders"),
            "dedup_indexed": [r[0] for r in con.execute(
                materialized(self.dedup_oracle())).fetchall()],
        }

    def dedup_oracle(self) -> str:
        """doc_ids the three-tier load leaves in the index: the DuckDB
        unrolling of the tiered admission that ``dedup_index_incremental``
        is checked against, cut at this seed's tier bounds."""
        from easy_sql_spark.queries.llm_ops import (
            _MINHASH_SIGS,
            _SHINGLES_ORACLE,
        )
        from easy_sql_spark.queries.llm_ops4 import _didx_batch_oracle

        p = self.p
        shingles = _SHINGLES_ORACLE.replace(
            "FROM documents", f"FROM documents WHERE doc_id <= {p['cut3']}")
        return f"""
        WITH RECURSIVE shingles AS ({shingles}),
        sigs AS (SELECT doc_id, {_MINHASH_SIGS} FROM shingles GROUP BY doc_id),
        bands AS (
            SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band FROM sigs
            UNION ALL
            SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band FROM sigs),
        {_didx_batch_oracle(1, -1, p['cut1'], "")},
        {_didx_batch_oracle(2, p['cut1'], p['cut2'], "ib1")},
        {_didx_batch_oracle(3, p['cut2'], p['cut3'], "ib2")}
        SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2
        UNION ALL SELECT doc_id FROM adm3 ORDER BY doc_id
        """

    def after_pass(self, n: int, results: list[OpResult]) -> dict:
        v = self.variables(n)
        written = 0
        for root in (os.path.join(self.work, "warehouse"), v["snap"], v["didx"]):
            for dirpath, _dirs, files in os.walk(root):
                written += sum(os.path.getsize(os.path.join(dirpath, f))
                               for f in files)
        self.verify(n, results)
        self.run.spark.sql(f"drop database if exists {v['db']} cascade")
        for k in ("snap", "didx"):
            shutil.rmtree(v[k], ignore_errors=True)
        return {"written": written}

    def verify(self, n: int, results: list[OpResult]) -> None:
        """Row counts of the written tables and the doc_ids left in the
        dedup index, against DuckDB."""
        from easy_sql_spark.operators.dedup_index import MinHashDedupIndex
        from easy_sql_spark.runtime.snapshots import SnapshotTable

        spark = self.run.spark
        v = self.variables(n)
        e = self.refs
        # (label, found, expected): row counts, or the indexed doc_ids
        checks = {
            "write_maintenance": lambda: [
                (t, spark.table(f"{v['db']}.{t}").count(), e[t])
                for t in ("customer_dim", "orders_fact", "lineitem_by_year")],
            "write_snapshots": lambda: [
                ("snapshot", SnapshotTable(spark, v["snap"]).read().count(),
                 e["snapshot"])],
            "write_dedup": lambda: [
                ("dedup_index", sorted(
                    row[0] for row in MinHashDedupIndex(spark, v["didx"])
                    .indexed_docs().collect()), e["dedup_indexed"])],
        }
        for r in results:
            if not r.ok:
                continue
            try:
                for label, got, want in checks[r.name]():
                    if got != want:
                        r.ok = False
                        r.detail = (f"{label}: {_size(got)} rows, expected "
                                    f"{_size(want)}")
            except Exception as ex:  # noqa: BLE001
                r.ok, r.detail = False, f"verify: {type(ex).__name__}: {ex}"[:300]


def _size(x) -> int:
    return len(x) if isinstance(x, list) else x


# ------------------------------------------------------------- registry
REGISTRY_SET = (
    # build-heavy: eager driver-side jobs while the DataFrame is built
    "graph_pagerank", "sim_ann_index_search", "dedup_index_incremental",
    "dedup_components",
    # Python-worker boundary: mapInPandas JPEG encode/decode
    "mm_jpeg_roundtrip_stats",
    # relational bypass: one scan, one aggregate
    "a1_pricing_summary",
)

_CTE = re.compile(r"^(\s*(?:WITH\s+(?:RECURSIVE\s+)?)?\w+) AS \(",
                  re.MULTILINE | re.IGNORECASE)


def materialized(sql: str) -> str:
    """The oracle with its plain CTEs marked MATERIALIZED.  DuckDB would
    otherwise re-evaluate a CTE at every reference (the dedup-index
    oracle's signature CTE is referenced once per batch: 33 s instead
    of 0.5 s).  Results are unchanged: the CTEs are deterministic."""
    return _CTE.sub(r"\1 AS MATERIALIZED (", sql)


def _canon_value(v):
    import datetime
    import math

    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "\x00NULL" if v != v else v.isoformat()
    return str(v)


def canon(pdf) -> list:
    """Order-insensitive canonical form of a result frame: column names
    plus sorted rows of stringified values in name-sorted column order."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        [_canon_value(t[i]) for i in order]
        for t in pdf.itertuples(index=False, name=None))
    return [cols, rows]


class RegistryBuild(Workload):
    """Registry queries built, run and collected, without the step
    language; each result is compared with its DuckDB oracle."""

    name = "registry_build"
    sf = "sf0.01"
    # the queries read their tables from the parquet paths; the views are
    # the set-up a SQL user of these tables does
    views = ("lineitem", "documents", "embeddings")

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.order = list(REGISTRY_SET)
        self.rng.shuffle(self.order)

    def references(self, con) -> dict:
        from easy_sql_spark import queries

        return {q: canon(con.execute(materialized(queries.ORACLES[q])).fetchdf())
                for q in self.order}

    def run_pass(self, n: int) -> list[OpResult]:
        from easy_sql_spark import queries

        run = self.run
        out = []
        for q in self.order:
            phases: dict[str, float] = {}
            try:
                run.job_group(f"p{n}:build:{q}" if run.traced else f"p{n}")
                t0 = time.perf_counter()
                df = queries.QUERIES[q](run.spark, self.data_dir)
                phases["build"] = time.perf_counter() - t0
                if run.traced:
                    run.job_group(f"p{n}:plan:{q}")
                    t1 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    phases["plan"] = time.perf_counter() - t1
                    run.job_group(f"p{n}:exec:{q}")
                # the result is collected to the driver: it is what the
                # caller receives and what the output check compares
                t2 = time.perf_counter()
                pdf = df.toPandas()
                phases["exec"] = time.perf_counter() - t2
            except Exception as e:  # noqa: BLE001
                out.append(OpResult(q, sum(phases.values()), False,
                                    f"{type(e).__name__}: {e}"[:300]))
                continue
            r = OpResult(q, sum(phases.values()), phases=phases)
            got, want = canon(pdf), self.refs[q]
            if got[0] != want[0]:
                r.ok, r.detail = False, f"columns {got[0]} != {want[0]}"
            elif got[1] != want[1]:
                r.ok, r.detail = False, (
                    f"{len(got[1])} rows vs {len(want[1])}, values differ")
            out.append(r)
        return out


WORKLOADS = {w.name: w for w in (EtlWrite, RegistryBuild)}
