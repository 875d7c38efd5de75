"""Z-order clustering (operators/zorder.py): layout quality is measured
directly from the written parquet footers — per-row-group min/max
bounding boxes must be tight in BOTH interleaved dimensions, which is the
property every stats-based reader skips on.  A linear sort on one column
is the baseline: tight in that column, full-range in the other.
"""

import glob

import numpy as np
import pyarrow.parquet as pq
import pytest

from easy_sql_spark.operators.zorder import write_zordered, zorder_value


def _rowgroup_boxes(path_glob, col_x, col_y):
    """Normalized (x_span * y_span) bounding-box area per row group."""
    spans = []
    for f in sorted(glob.glob(path_glob)):
        pf = pq.ParquetFile(f)
        names = pf.schema_arrow.names
        ix, iy = names.index(col_x), names.index(col_y)
        for g in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(g)
            sx = rg.column(ix).statistics
            sy = rg.column(iy).statistics
            spans.append(
                (sx.max - sx.min, sy.max - sy.min)
            )
    return spans


def test_zorder_boxes_tight_in_both_dims(spark, tmp_path):
    """Metric: per-dimension span of each row group's min/max box = the
    expected fraction of row groups a point predicate on that dimension
    must read (what stats-based skipping actually prunes on).  Any
    layout's boxes tile the space, so average AREA is invariant — the
    difference is balance: a linear sort on x is tight in x but
    full-range in y (a y predicate reads everything); z-order is
    ~1/sqrt(F) in BOTH dimensions."""
    n = 40_000
    df = (
        spark.range(n)
        .selectExpr(
            "cast(id % 200 as double) as x",
            "cast(cast(id / 200 as int) as double) as y",
            "id as payload",
        )
        .repartition(8)
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(df, zpath, ["x", "y"], n_files=64)
    df.repartitionByRange(64, "x").sortWithinPartitions("x").write.parquet(lpath)

    zb = _rowgroup_boxes(zpath + "/*.parquet", "x", "y")
    lb = _rowgroup_boxes(lpath + "/*.parquet", "x", "y")
    z_fx = np.mean([sx for sx, _ in zb]) / 200.0
    z_fy = np.mean([sy for _, sy in zb]) / 200.0
    l_fx = np.mean([sx for sx, _ in lb]) / 200.0
    l_fy = np.mean([sy for _, sy in lb]) / 200.0
    # linear: near-perfect on x, useless on y
    assert l_fx < 0.1 and l_fy > 0.9, (l_fx, l_fy)
    # z-order: BOTH dimensions prune well (~1/8 at 64 boxes)
    assert z_fx < 0.3 and z_fy < 0.3, (z_fx, z_fy)
    # and the worst dimension is far better than linear's worst
    assert max(z_fx, z_fy) < max(l_fx, l_fy) / 3

    # content identical to the source
    back = spark.read.parquet(zpath)
    assert back.count() == n
    assert back.agg({"payload": "sum"}).first()[0] == sum(range(n))


def test_zorder_value_properties(spark):
    df = spark.range(1000).selectExpr(
        "cast(id as double) as a", "cast(999 - id as double) as b"
    )
    z = zorder_value(df, ["a", "b"], bits=4)
    rows = z.collect()
    assert all(r["__zvalue"] >= 0 for r in rows)
    # 4 bits x 2 cols -> values fit in 8 bits
    assert all(r["__zvalue"] < 256 for r in rows)
    # locality: nearby (a, b) points get nearby z-values on average
    # (coarse check: correlation of |dz| with |da|+|db| over a sample)
    import random

    random.seed(7)
    sample = random.sample(rows, 60)
    close, far = [], []
    for i in range(0, len(sample) - 1, 2):
        r1, r2 = sample[i], sample[i + 1]
        d_ab = abs(r1["a"] - r2["a"]) + abs(r1["b"] - r2["b"])
        dz = abs(r1["__zvalue"] - r2["__zvalue"])
        (close if d_ab < 250 else far).append(dz)
    if close and far:
        assert np.mean(close) <= np.mean(far) * 1.5


def test_zorder_null_and_errors(spark):
    df = spark.createDataFrame(
        [(1.0, None), (None, 2.0), (3.0, 4.0)], "a double, b double"
    )
    z = zorder_value(df, ["a", "b"], bits=3)
    assert z.count() == 3  # NULLs bucket to 0, never drop rows
    with pytest.raises(ValueError, match="at least one column"):
        zorder_value(df, [])
    with pytest.raises(ValueError, match="fit in a long"):
        zorder_value(df, ["a", "b"], bits=32)


def test_output_step_zorder_by(spark):
    """__zorder_by__ on an output step: the saved table's row groups are
    bounded in BOTH listed columns (a 1-D insert ordering can't be)."""
    import glob
    import os
    from urllib.parse import urlparse

    from easy_sql_spark.runtime.processor import SqlProcessor

    spark.sql("drop database if exists zodb cascade")
    spark.sql("create database zodb")
    etl = """-- target=variables
select true as __create_output_table__, 'x|y' as __zorder_by__

-- target=output.zodb.grid
select cast(id % 100 as double) as x,
       cast(cast(id / 100 as int) as double) as y,
       id as payload
from range(10000)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    boxes = _rowgroup_boxes(
        os.path.join(wh, "zodb.db", "grid", "*.parquet"), "x", "y"
    )
    assert len(boxes) >= 8  # clustered across several files
    # MEAN spans bounded in BOTH dims (full range would be ~99; a 1-D
    # sort leaves one dimension at full range).  Individual boxes may
    # legitimately span wide where a z-range crosses a quadrant boundary.
    assert np.mean([sx for sx, _ in boxes]) <= 45
    assert np.mean([sy for _, sy in boxes]) <= 45
    t = spark.table("zodb.grid")
    assert t.count() == 10000
    assert t.agg({"payload": "sum"}).first()[0] == sum(range(10000))


def test_output_step_zorder_by_is_write_zordered_layout(spark, tmp_path):
    """One z-order layout: an unpartitioned ``__zorder_by__`` output step
    writes the same per-file row sets as ``write_zordered`` over the same
    rows and file count (max(defaultParallelism, 16))."""
    import os
    from urllib.parse import urlparse

    from easy_sql_spark.runtime.processor import SqlProcessor

    query = """select cast(id % 100 as double) as x,
       cast(cast(id / 100 as int) as double) as y,
       id as payload
from range(10000)"""
    spark.sql("drop database if exists zsame cascade")
    spark.sql("create database zsame")
    etl = f"""-- target=variables
select true as __create_output_table__, 'x|y' as __zorder_by__

-- target=output.zsame.grid
{query}
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    n = max(spark.sparkContext.defaultParallelism, 16)
    path = str(tmp_path / "zsame")
    write_zordered(spark.sql(query), path, ["x", "y"], n_files=n)

    def row_sets(pattern):
        return sorted(
            sorted(pq.read_table(f, columns=["payload"])["payload"].to_pylist())
            for f in glob.glob(pattern)
        )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    step = row_sets(os.path.join(wh, "zsame.db", "grid", "part-*"))
    assert len(step) == n
    assert step == row_sets(path + "/part-*.parquet")
    spark.sql("drop database if exists zsame cascade")


def test_zorder_table_maintenance_rewrite(spark):
    """func.zorder_table: rewrite an existing (unclustered) table so its
    row groups become bounded in both listed dimensions."""
    import os
    from urllib.parse import urlparse

    from easy_sql_spark.runtime.processor import SqlProcessor

    spark.sql("drop database if exists zmnt cascade")
    spark.sql("create database zmnt")
    seed = """-- target=variables
select true as __create_output_table__

-- target=output.zmnt.grid
select cast(id % 100 as double) as x,
       cast(cast(id / 100 as int) as double) as y,
       id as payload
from range(10000)

-- target=func.zorder_table(zmnt.grid, x|y)
"""
    SqlProcessor(spark, seed, logger=lambda m: None).run()
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    import numpy as np

    boxes = _rowgroup_boxes(
        os.path.join(wh, "zmnt.db", "grid", "*.parquet"), "x", "y"
    )
    assert len(boxes) >= 8
    assert np.mean([sx for sx, _ in boxes]) <= 45
    assert np.mean([sy for _, sy in boxes]) <= 45
    t = spark.table("zmnt.grid")
    assert t.count() == 10000
    assert t.agg({"payload": "sum"}).first()[0] == sum(range(10000))


def test_murmur3_token_partitioning_matches_spark(spark):
    """_murmur3_int must be Spark's own partitioning hash (F.hash,
    murmur3-32 seed 42) — write_zordered picks per-group shuffle tokens
    with it, so drift would silently scatter the contiguous-per-file
    layout.  Also pins the end property: every group token lands in its
    intended partition."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators.zorder import _group_tokens, _murmur3_int

    vals = list(range(200)) + [2**31 - 1, -1, -(2**31)]
    got = [
        r[0]
        for r in spark.createDataFrame(
            [(v,) for v in vals], "v int"
        ).select(F.hash("v")).collect()
    ]
    assert got == [_murmur3_int(v) for v in vals]

    n_groups, n_parts = 64, 48
    tokens = _group_tokens(n_groups, n_parts)
    for g, t in enumerate(tokens):
        assert _murmur3_int(t) % n_parts == g * n_parts // n_groups


def test_write_zordered_contiguous_files(spark, tmp_path):
    """Every output file covers a contiguous, non-overlapping Morton
    range (the property the sampled range partitioner used to provide
    and the token map must preserve), and the file count is n_files."""
    import glob

    import pyarrow.parquet as pq

    from easy_sql_spark.operators.zorder import write_zordered, zorder_value

    df = spark.range(20000).selectExpr(
        "cast(id % 100 as double) as x",
        "cast(cast(id / 100 as int) as double) as y",
    )
    path = str(tmp_path / "ztok")
    write_zordered(df, path, ["x", "y"], n_files=16)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 16
    # global (x, y) -> z map from the same quantile probe the write ran
    zmap = {
        (r["x"], r["y"]): r["__zvalue"]
        for r in zorder_value(df, ["x", "y"]).collect()
    }
    spans = []
    for f in files:
        t = pq.read_table(f).to_pandas()
        vals = [zmap[(x, y)] for x, y in zip(t["x"], t["y"])]
        spans.append((min(vals), max(vals)))
    spans.sort()
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_group_tokens_large_n_files_fast():
    """VERDICT r14 #4: the old per-group scalar probe loop was
    O(n_groups * n_parts) interpreted murmur3 evaluations — minutes of
    driver time at 100 TB file counts.  The coupon-collector rewrite
    must (a) keep the landing property at n_files=4096, (b) finish in
    well under a second driver-side, (c) agree bit-for-bit with the
    pinned scalar hash."""
    import time

    import numpy as np

    from easy_sql_spark.operators.zorder import (
        _group_tokens,
        _murmur3_int,
        _murmur3_np,
    )

    # vectorized hash == the scalar hash (which is pinned against F.hash)
    vals = list(range(512)) + [2**31 - 1, -1, -(2**31), 123456789]
    assert _murmur3_np(np.array(vals)).tolist() == [
        _murmur3_int(v) for v in vals
    ]

    t0 = time.monotonic()
    tokens = _group_tokens(4096, 4096)
    elapsed = time.monotonic() - t0
    assert elapsed < 1.0, f"_group_tokens(4096, 4096) took {elapsed:.2f}s"
    assert tokens is not None and len(tokens) == 4096
    # landing property on a sample (full sweep is the small-n test)
    for g in range(0, 4096, 97):
        assert _murmur3_int(tokens[g]) % 4096 == g

    # n_groups > n_parts: groups sharing a target share its token
    toks = _group_tokens(64, 48)
    for g, t in enumerate(toks):
        assert _murmur3_int(t) % 48 == g * 48 // 64


def test_write_curve_clustered_range_fallback(spark, tmp_path, monkeypatch):
    """If the token search ever exhausts its budget, the write must fall
    back to the sampled repartitionByRange layout and still produce
    n_files contiguous files."""
    import easy_sql_spark.operators.zorder as z

    def _all_zero(vals, seed=42):
        return np.zeros(len(np.atleast_1d(vals)), dtype=np.int32)

    monkeypatch.setattr(z, "_murmur3_np", _all_zero)
    assert z._group_tokens(16, 16) is None  # only partition 0 reachable

    df = spark.range(8000).selectExpr(
        "cast(id % 100 as double) as x",
        "cast(cast(id / 100 as int) as double) as y",
    )
    path = str(tmp_path / "zfallback")
    z.write_zordered(df, path, ["x", "y"], n_files=8)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 8
    zmap = {
        (r["x"], r["y"]): r["__zvalue"]
        for r in zorder_value(df, ["x", "y"]).collect()
    }
    spans = []
    for f in files:
        t = pq.read_table(f).to_pandas()
        vals = [zmap[(x, y)] for x, y in zip(t["x"], t["y"])]
        spans.append((min(vals), max(vals)))
    spans.sort()
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_probe_sampling_gate_and_layout(spark, tmp_path, monkeypatch):
    """The quantile probe samples only LARGE inputs (file-bytes gate):
    fixture-sized frames keep the full-pass probe (fraction 1.0), a
    forced-sampling write still produces the full contiguity layout
    contract, and a non-file frame never samples."""
    import glob

    import pyarrow.parquet as pq

    from easy_sql_spark.operators import zorder
    from easy_sql_spark.operators.zorder import (
        _probe_fraction,
        write_zordered,
        zorder_value,
    )

    df = spark.range(20000).selectExpr(
        "cast(id % 100 as double) as x",
        "cast(cast(id / 100 as int) as double) as y",
    )
    # non-file source: no leaf files -> never sampled
    assert _probe_fraction(df) == 1.0

    # parquet-backed frame under the default 2 MiB target: not sampled
    src = str(tmp_path / "src")
    df.write.parquet(src)
    pdf = spark.read.parquet(src)
    assert _probe_fraction(pdf) == 1.0

    # force sampling (tiny byte target) and verify the layout contract
    # is unchanged: n_files files, each covering a contiguous,
    # non-overlapping Morton range under ITS OWN probe's boundaries
    monkeypatch.setattr(zorder, "ZPROBE_SAMPLE_TARGET_BYTES", 1024)
    assert 0.01 <= _probe_fraction(pdf) < 1.0
    path = str(tmp_path / "zsampled")
    write_zordered(pdf, path, ["x", "y"], n_files=16)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 16
    zmap = {
        (r["x"], r["y"]): r["__zvalue"]
        for r in zorder_value(pdf, ["x", "y"]).collect()
    }
    total = 0
    spans = []
    for f in files:
        t = pq.read_table(f).to_pandas()
        total += len(t)
        vals = [zmap[(x, y)] for x, y in zip(t["x"], t["y"])]
        spans.append((min(vals), max(vals)))
    assert total == 20000  # sampling affects BOUNDARIES, never rows
    spans.sort()
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_probe_fraction_stops_stat_ing_past_the_floor(monkeypatch):
    """The probe stops asking for file lengths once the total passes
    100x the target, where the 1% floor already fixes the fraction; the
    fraction itself is the one the full total gives."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from easy_sql_spark.operators import zorder

    class _Scan:
        sparkSession = None

        def __init__(self, n):
            self.files = ["f%d" % i for i in range(n)]

        def inputFiles(self):
            return self.files

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(0, 1 << 30), min_size=1, max_size=40),
        st.integers(1, 4 << 20),
    )
    def check(sizes, target):
        statted = []

        def lengths(_spark, files):
            for size in sizes:
                statted.append(size)
                yield size

        monkeypatch.setattr(zorder, "input_file_lengths", lengths)
        monkeypatch.setattr(zorder, "ZPROBE_SAMPLE_TARGET_BYTES", target)
        total = sum(sizes)
        expect = 1.0 if total <= target else max(0.01, target / total)
        assert zorder._probe_fraction(_Scan(len(sizes))) == expect
        if sum(statted) <= 100 * target:
            assert statted == sizes
        else:  # stopped at the first file that crossed 100x
            assert sum(statted[:-1]) <= 100 * target

    check()
