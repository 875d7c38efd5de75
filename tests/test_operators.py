"""Tests for custom operators: as-of join and multimodal plumbing."""

import pytest

from easy_sql_spark.operators.asof import asof_join
from easy_sql_spark.operators.multimodal import (
    decode_media,
    frame_sample_stub,
    resize_stub,
    synth_media_df,
)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d"), (3, 10, "e")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 11, "r11")],
        ["k", "t", "val"],
    )
    out = asof_join(
        left, right, "k", "k", "t", "t", right_values=["val"]
    ).collect()
    got = {(r.k, r.t): r.val for r in out}
    assert got == {
        (1, 10): "r10",  # equal timestamps match (<= semantics)
        (1, 20): "r15",  # latest at-or-before
        (1, 5): None,  # nothing before
        (2, 10): None,  # right row is after
        (3, 10): None,  # key absent on right
    }
    inner = asof_join(
        left, right, "k", "k", "t", "t", right_values=["val"], how="inner"
    ).collect()
    assert len(inner) == 2


def test_multimodal_fake_decode(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s1", 11), (2, "xy", "de", "s2", 2)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    media = synth_media_df(spark, docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    decoded = {r.media_id: r for r in decode_media(media, "fake").collect()}
    assert decoded[1].n_bytes == 11
    assert decoded[1].width == 12 and decoded[1].height == 12
    assert sum(decoded[1].byte_histogram) == 11
    assert len(decoded[2].byte_histogram) == 16


def test_multimodal_real_decode_images(spark):
    """mode='real' decodes actual PNG/BMP container bytes via the
    numpy-only codecs: true pixel dimensions, histogram over DECODED
    pixels (not the compressed payload)."""
    import numpy as np

    from easy_sql_spark.operators.codecs import encode_bmp, encode_png, encode_wav

    rng = np.random.default_rng(7)
    png_img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    bmp_img = np.full((2, 3, 3), 0xF0, dtype=np.uint8)  # all bytes nibble 15
    wav = encode_wav(
        rng.integers(-1000, 1000, (800, 1), dtype=np.int16), 16000
    )
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(encode_png(png_img)), "image/png", {}),
            (2, "image", bytearray(encode_bmp(bmp_img)), "image/bmp", {}),
            (3, "audio", bytearray(wav), "audio/wav", {}),
        ],
        "media_id long, kind string, payload binary, mime string, "
        "meta map<string,string>",
    )
    decoded = {r.media_id: r for r in decode_media(media, "real").collect()}
    assert (decoded[1].width, decoded[1].height) == (4, 5)
    assert (decoded[2].width, decoded[2].height) == (3, 2)
    assert sum(decoded[1].byte_histogram) == 5 * 4 * 3
    assert decoded[2].byte_histogram[15] == 2 * 3 * 3  # every decoded byte 0xF0
    # audio rows carry rate/frames and a histogram over the PCM samples
    assert (decoded[3].width, decoded[3].height) == (16000, 800)
    assert sum(decoded[3].byte_histogram) == 800 * 2


def test_multimodal_real_decode_nonimage_still_raises(spark):
    docs = spark.createDataFrame(
        [(1, "x", "en", "s", 1)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    media = synth_media_df(spark, docs, kind="video")
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        decode_media(media, "real").collect()
    # an image payload that is no known container fails loudly, not silently
    fake_image = synth_media_df(spark, docs, kind="image")
    with pytest.raises(Exception, match="not a format"):
        decode_media(fake_image, "real").collect()
    # compressed audio (non-RIFF payload) fails loudly too
    fake_audio = synth_media_df(spark, docs, kind="audio")
    with pytest.raises(Exception, match="not a RIFF"):
        decode_media(fake_audio, "real").collect()


def test_resize_images_real(spark):
    """Real nearest-neighbor resize: decoded output pixels must be exact
    index-arithmetic picks from the source image."""
    import numpy as np

    from easy_sql_spark.operators.codecs import decode_png, encode_png
    from easy_sql_spark.operators.multimodal import resize_images

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(img)), "image/png", {"k": "v"})],
        "media_id long, kind string, payload binary, mime string, "
        "meta map<string,string>",
    )
    row = resize_images(media, 12, 8).collect()[0]
    out = decode_png(bytes(row.payload))
    assert out.shape == (8, 12, 3)
    # 2x upscale by NN = each source pixel replicated 2x2
    assert np.array_equal(out, img.repeat(2, axis=0).repeat(2, axis=1))
    assert row.meta["resized_from"] == "6x4" and row.meta["resized_to"] == "12x8"
    assert row.meta["k"] == "v" and row.mime == "image/png"
    # downscale roundtrip: picks rows/cols 0,2 and 0,2,4
    small = decode_png(bytes(resize_images(media, 3, 2).collect()[0].payload))
    assert np.array_equal(small, img[::2][:, ::2])


def test_resize_and_frame_sample_stubs(spark):
    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    media = synth_media_df(spark, docs, kind="video")
    resized = resize_stub(media, 64, 64).collect()[0]
    assert resized.meta["resized_to"] == "64x64"
    frames = frame_sample_stub(media, 2).collect()
    assert [f.frame_idx for f in frames] == [0, 2, 4]


def test_frame_sample_real_gif(spark):
    """Real GIF frame sampling: container parsed on executors, every-Nth
    frame emitted with true dims and a decoded-pixel histogram."""
    import numpy as np

    from easy_sql_spark.operators.codecs import encode_gif
    from easy_sql_spark.operators.multimodal import frame_sample_real

    # 5 frames, each filled with a single distinct byte value
    frames = [np.full((4, 6), v, dtype=np.uint8) for v in (0, 16, 32, 48, 64)]
    media = spark.createDataFrame(
        [(9, "video", bytearray(encode_gif(frames)), "image/gif", {})],
        "media_id long, kind string, payload binary, mime string, "
        "meta map<string,string>",
    )
    rows = sorted(
        (r.frame_idx, r.n_frames, r.width, r.height, list(r.byte_histogram))
        for r in frame_sample_real(media, 2).collect()
    )
    assert [r[0] for r in rows] == [0, 2, 4]  # every 2nd frame of 5
    assert all((r[1], r[2], r[3]) == (5, 6, 4) for r in rows)
    # frame k is all value 16k -> all 72 decoded bytes in nibble k
    for (idx, _, _, _, hist), nib in zip(rows, (0, 2, 4)):
        assert hist[nib] == 4 * 6 * 3, (idx, hist)


def _union_find_labels(edges):
    """Reference implementation: component min per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_components_long_chain_and_random_graph(spark):
    """r3 verdict #8: the alternating large-star/small-star operator gives
    exact component minima in O(log n) rounds — on a 300-node chain
    (diameter 300, terminal for diameter-bound propagation) and on random
    graphs cross-checked against union-find."""
    import random

    from easy_sql_spark.operators.components import (
        connected_components_star,
        label_propagation_components,
    )
    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "u long, v long")
    got = {
        r.u: r.label for r in connected_components_star(df).collect()
    }
    assert got == {i: 0 for i in range(301)}

    rng = random.Random(7)
    edges = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(400)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df2 = spark.createDataFrame(edges, "u long, v long")
    want = _union_find_labels(edges)
    got2 = {r.u: r.label for r in connected_components_star(df2).collect()}
    assert got2 == want

    # escalation path: symmetrized chain through label propagation with a
    # cap far below the diameter still returns exact labels (via the star
    # fallback instead of raising)
    sym = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    got3 = {
        r.u: r.label
        for r in label_propagation_components(sym, max_rounds=3).collect()
    }
    assert got3 == {i: 0 for i in range(301)}


def test_global_row_number_matches_window_and_avoids_global_exchange(spark):
    """operators/order.py: identical numbering to the single-task window
    formulation, with NO single-partition exchange and NO window in the
    plan — the property that makes it usable at 100 TB."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from easy_sql_spark.operators.order import global_row_number

    df = spark.range(10_000).selectExpr(
        "id", "cast(id % 97 as int) as k", "md5(cast(id as string)) as h"
    )
    numbered = global_row_number(df, [F.col("h"), F.col("id")], id_col="rid")
    w = Window.orderBy("h", "id")
    want = df.withColumn("rid", F.row_number().over(w) - 1)
    got_rows = {(r.id, r.rid) for r in numbered.select("id", "rid").collect()}
    want_rows = {(r.id, r.rid) for r in want.select("id", "rid").collect()}
    assert got_rows == want_rows

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        numbered.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "SinglePartition" not in plan

    # ids are a contiguous 0..n-1 sequence
    assert sorted(r.rid for r in numbered.select("rid").collect()) == list(
        range(10_000)
    )


def test_interval_join_matches_naive_and_avoids_bnlj(spark):
    """operators/intervals.py: grid-bucketed overlap join is EXACTLY the
    theta join (random intervals incl. negatives, touching endpoints,
    zero length, cell-boundary spans) with no nested-loop and no
    distinct in the plan."""
    import contextlib
    import io
    import random

    from pyspark.sql import functions as F

    from easy_sql_spark.operators.intervals import interval_join

    rnd = random.Random(11)
    lrows = [
        (i, s, s + rnd.randint(0, 40))
        for i, s in ((i, rnd.randint(-100, 200)) for i in range(300))
    ]
    rrows = [
        (j, s, s + rnd.randint(0, 25))
        for j, s in ((j, rnd.randint(-100, 200)) for j in range(120))
    ]
    left = spark.createDataFrame(lrows, "lid int, ls long, le long")
    right = spark.createDataFrame(rrows, "rid int, rs long, re long")

    got = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, "ls", "le", "rs", "re", bucket_width=16
        ).collect()
    }
    want = {
        (li, rj)
        for li, ls, le in lrows
        for rj, rs, re in rrows
        if ls <= re and rs <= le
    }
    assert got == want

    plan_df = interval_join(left, right, "ls", "le", "rs", "re", 16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan.replace("Broadcast", "Broadcast")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" not in plan  # no distinct-based dedup

    import pytest

    with pytest.raises(ValueError, match="positive"):
        interval_join(left, right, "ls", "le", "rs", "re", 0)


def test_interval_join_left_outer(spark):
    """how='left': non-overlapping left rows survive with NULL right
    columns; matched rows equal the inner join exactly."""
    import random

    import pytest

    from easy_sql_spark.operators.intervals import interval_join

    rnd = random.Random(5)
    lrows = [(i, s, s + rnd.randint(0, 10)) for i, s in ((i, rnd.randint(0, 300)) for i in range(80))]
    rrows = [(j, s, s + rnd.randint(0, 8)) for j, s in ((j, rnd.randint(0, 150)) for j in range(30))]
    left = spark.createDataFrame(lrows, "lid int, ls long, le long")
    right = spark.createDataFrame(rrows, "rid int, rs long, re long")
    out = interval_join(left, right, "ls", "le", "rs", "re", 8, how="left").collect()

    want_pairs = {
        (li, rj)
        for li, ls, le in lrows
        for rj, rs, re in rrows
        if ls <= re and rs <= le
    }
    matched_left = {li for li, _ in want_pairs}
    got_pairs = {(r.lid, r.rid) for r in out if r.rid is not None}
    got_null = {r.lid for r in out if r.rid is not None} ^ {r.lid for r in out}
    assert got_pairs == want_pairs
    null_rows = {r.lid for r in out if r.rid is None}
    assert null_rows == {li for li, *_ in lrows} - matched_left
    assert len(out) == len(want_pairs) + len(null_rows)

    with pytest.raises(ValueError, match="inner.*left|'left'"):
        interval_join(left, right, "ls", "le", "rs", "re", 8, how="full")


def test_assign_clusters_kernel_bit_exact(spark):
    """_assign_fold_kernel (r14's scale path for production-sized K)
    must be BIT-identical to _assign_fold — same IEEE op sequence per
    (row, centroid, dim) cell, same first-min tie-break — so the
    ASSIGN_KERNEL_MIN_CELLS dispatch can never change a result.
    Includes adversarial exact ties: a duplicated centroid gives EVERY
    row a bitwise-tied distance pair (first index must win), and
    exactly-representable vectors make whole distance computations
    exact so equidistant centroids tie bitwise."""
    import random

    from easy_sql_spark.operators.kmeans import (
        _assign_fold,
        _assign_fold_kernel,
    )

    rng = random.Random(14)
    dim = 7
    rows = [
        (i, [rng.uniform(-4, 4) for _ in range(dim)], f"t{i % 3}")
        for i in range(400)
    ]
    # exactly-representable rows: every fold op is exact, so the
    # equidistant centroids below tie on identical bits
    rows += [
        (1000 + i, [float(rng.randint(-8, 8)) for _ in range(dim)], "x")
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, v array<double>, tag string"
    ).localCheckpoint(eager=True)
    cents = [[rng.uniform(-4, 4) for _ in range(dim)] for _ in range(5)]
    cents += [list(cents[0])]  # duplicate: bitwise tie for every row
    cents += [[float(rng.randint(-8, 8)) for _ in range(dim)]]

    fold = sorted(
        tuple(r) for r in _assign_fold(df, cents, "v", "cluster").collect()
    )
    kern = sorted(
        tuple(r)
        for r in _assign_fold_kernel(df, cents, "v", "cluster").collect()
    )
    assert fold == kern and len(fold) == 500
    # the duplicated centroid (index 5 == index 0) must never win
    assert all(r[-1] != 5 for r in fold)
    assert len({r[-1] for r in fold}) > 1  # assignment is non-trivial


def test_assign_clusters_kernel_gate(spark, monkeypatch):
    """assign_clusters dispatches on K x dim cells: below
    ASSIGN_KERNEL_MIN_CELLS the plan is the pure JVM fold projection
    (no Python boundary — the fixture/oracle-replay shape); at/above
    it the assignment rides ONE MapInPandas node.  Results are
    identical either way (bit-exactness pinned above)."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators import kmeans
    from easy_sql_spark.operators.kmeans import assign_clusters

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    cents = [r["v"] for r in emb.orderBy("vec_id").limit(4).collect()]

    fold_df = assign_clusters(emb, cents)  # 4 x 64 = 256 cells < 2048
    fold_plan = fold_df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in fold_plan and "Python" not in fold_plan

    monkeypatch.setattr(kmeans, "ASSIGN_KERNEL_MIN_CELLS", 256)
    kern_df = assign_clusters(emb, cents)
    kern_plan = kern_df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" in kern_plan

    fold = {(r.vec_id, r.cluster) for r in fold_df.collect()}
    kern = {(r.vec_id, r.cluster) for r in kern_df.collect()}
    assert fold == kern and len(fold) == 500


def test_centroids_sql_and_l2_norm_bits(spark):
    """The shared literal and norm helpers (assignment, SemDeDup and
    IVF search all use them): the parsed centroid literal carries the
    original doubles bit for bit, and ``l2_norm`` is the left-to-right
    fold of squares from 0.0 followed by one sqrt."""
    import math
    import random

    from easy_sql_spark.operators.kmeans import centroids_sql, l2_norm

    rng = random.Random(5)
    cents = [[rng.uniform(-1, 1) * 10.0 ** rng.randint(-300, 300)
              for _ in range(5)] for _ in range(4)]
    cents.append([0.1, 1 / 3, 2.0 ** -1074, 1.7976931348623157e308, 1e-7])
    row = spark.range(1).selectExpr(f"{centroids_sql(cents)} as c").first()
    assert [list(c) for c in row.c] == cents

    vecs = [[rng.uniform(-4, 4) for _ in range(9)] for _ in range(50)]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "i long, v array<double>"
    )
    got = {r.i: r.n for r in df.select("i", l2_norm("v").alias("n")).collect()}
    for i, v in enumerate(vecs):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        assert got[i] == math.sqrt(acc), i


def test_semantic_dedup_pairwise_kernel_exact(spark):
    """The default pairwise kernel (_cluster_flags: dim-ordered numpy
    accumulation inside applyInPandas, r14) must be BIT-identical to
    the JVM fold chain it replaced — not merely set-equal: the kernel's
    claim is that it performs the identical IEEE op sequence, so the
    kept flags must match the explicit
    x JOIN y ON cluster / aggregate(zip_with(...)) / nrm-product
    formulation on the fixture, including every near-threshold pair."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators.kmeans import (
        assign_clusters,
        lloyd_kmeans,
        semantic_dedup,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    k, iters, tau = 4, 2, 0.30
    got = {(r.vec_id, r.cluster, r.kept)
           for r in semantic_dedup(emb, k, iters, tau).collect()}

    # the pre-r14 fold chain, verbatim
    norm = F.sqrt(F.expr(
        "aggregate(transform(v, t -> t * t), 0D, (acc, z) -> acc + z)"
    ))
    cents = lloyd_kmeans(emb, k, iters)
    af = assign_clusters(emb, cents).withColumn("nrm", norm)
    x = af.select(F.col("vec_id").alias("xid"), F.col("v").alias("xv"),
                  F.col("nrm").alias("xnrm"), "cluster")
    y = af.select(F.col("vec_id").alias("yid"), F.col("v").alias("yv"),
                  F.col("nrm").alias("ynrm"), "cluster")
    dot = F.expr(
        "aggregate(zip_with(xv, yv, (a, b) -> a * b), 0D, (acc, z) -> acc + z)"
    )
    dropped = (
        x.join(y, "cluster")
        .where(F.col("xid") > F.col("yid"))
        .where(dot / (F.col("xnrm") * F.col("ynrm")) > float(tau))
        .select(F.col("xid").alias("vec_id"))
        .distinct()
    )
    want = {
        (r.vec_id, r.cluster, r.kept)
        for r in af.join(
            dropped.withColumn("__dropped", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("__dropped").isNull(), 1).otherwise(0)
            .cast("int").alias("kept"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_cut_lineage_reliable_mode(spark, tmp_path):
    """cut_lineage (operators/iterate.py) picks RELIABLE
    DataFrame.checkpoint when the session has a checkpoint dir (the
    cluster-safe mode — executor loss cannot kill a job past a cut) and
    localCheckpoint otherwise; both truncate lineage and preserve
    content.  Iterative operators and the step language's write path
    must keep working in reliable mode, and a cut's files must go once
    its frame is garbage-collected."""
    from easy_sql_spark.operators.components import connected_components_star
    from easy_sql_spark.operators.iterate import cut_lineage
    from easy_sql_spark.runtime.processor import SqlProcessor

    import gc
    import os
    import time

    ckpt = str(tmp_path / "ckpt")

    def ckpt_files():
        return [
            os.path.join(cur, n)
            for cur, _d, files in os.walk(ckpt)
            for n in files
        ]

    def rdd_dirs():
        return {
            os.path.join(cur, d)
            for cur, dirs, _f in os.walk(ckpt)
            for d in dirs
            if d.startswith("rdd-")
        }

    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    out = cut_lineage(df.selectExpr("x * 2 as y"), eager=True)
    assert {r.y for r in out.collect()} == {i * 2 for i in range(10)}

    sc = spark.sparkContext
    # the session build sets it: the cleaner deletes a reliable cut's
    # files when the JVM collects the cut's RDD
    assert sc.getConf().get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    assert not sc.getCheckpointDir()
    sc.setCheckpointDir(ckpt)
    try:
        rel = cut_lineage(df.selectExpr("x + 1 as y"), eager=True)
        assert {r.y for r in rel.collect()} == {i + 1 for i in range(10)}
        lazy = cut_lineage(df.selectExpr("x + 2 as y"), eager=False)
        assert {r.y for r in lazy.collect()} == {i + 2 for i in range(10)}
        # reliable mode actually wrote checkpoint data to the dir
        assert ckpt_files(), "no reliable checkpoint files written"
        cut_dirs = rdd_dirs()
        assert len(cut_dirs) == 2, cut_dirs
        # drop the frames: the Python GC releases the JVM objects, a JVM
        # GC queues the RDDs' weak references to the cleaner
        del rel, lazy
        deadline = time.time() + 60
        while rdd_dirs() & cut_dirs and time.time() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.5)
        assert not rdd_dirs() & cut_dirs, "cut files outlived their frames"
        # an iterative operator end-to-end in reliable mode
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "u long, v long"
        )
        comp = {
            (r.u, r.label)
            for r in connected_components_star(edges).collect()
        }
        assert comp == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

        # a non-iterative cut: the upsert output step's merged frame
        setup = """-- prepare-sql: drop database if exists ckptu cascade
-- prepare-sql: create database ckptu
-- prepare-sql: create table ckptu.t (id int, val string) using parquet

-- target=output.ckptu.t
select * from (values (1, 'a'), (2, 'b')) as v(id, val)
"""
        SqlProcessor(spark, setup, logger=lambda m: None).run()
        before = set(ckpt_files())
        merge = """-- target=variables
select 'upsert' as __save_mode__, 'id' as __merge_keys__

-- target=output.ckptu.t
select * from (values (2, 'B'), (3, 'c')) as v(id, val)
"""
        SqlProcessor(spark, merge, logger=lambda m: None).run()
        assert set(ckpt_files()) - before, "upsert cut not reliable"
        rows = {(r.id, r.val) for r in spark.table("ckptu.t").collect()}
        assert rows == {(1, "a"), (2, "B"), (3, "c")}
    finally:
        # tests share one session: truly UNSET so later suites stay in
        # localCheckpoint mode (no public unset API; scala setter)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert not sc.getCheckpointDir()
        spark.sql("drop database if exists ckptu cascade")


def test_local_non_min_ids_matches_union_find(spark):
    """r13: the driver-side dropped-id shortcut must agree with the
    distributed component labeling — random one-directional pair lists
    cross-checked against union-find, plus the over-threshold None."""
    import random

    from easy_sql_spark.operators.components import local_non_min_ids

    rng = random.Random(13)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "u long, v long")
    labels = _union_find_labels(edges)
    want = sorted(n for n, lab in labels.items() if lab != n)
    got = local_non_min_ids(df)
    assert got is not None and sorted(got) == want
    # over the threshold: the caller must take the distributed path
    assert local_non_min_ids(df, local_threshold=10) is None


def test_local_bucket_drops_matches_pair_expansion():
    """r13: union-find over band buckets (dedup_index's fully-local
    clustering) is component-identical to the capped pair expansion +
    components — random band tables cross-checked against union-find
    over the expanded pair list.  Pure Python, no session."""
    import random

    from pyspark.sql import Row

    from easy_sql_spark.operators.dedup_index import _local_bucket_drops

    rng = random.Random(131)
    for trial in range(20):
        rows = [
            Row(doc_id=rng.randrange(40), band_id=rng.randrange(2),
                band=f"b{rng.randrange(12)}")
            for _ in range(rng.randrange(0, 60))
        ]
        # expand every bucket pairwise, union-find the pairs
        buckets: dict = {}
        for r in rows:
            buckets.setdefault((r.band_id, r.band), set()).add(r.doc_id)
        pairs = [
            (a, b)
            for members in buckets.values()
            for a in members
            for b in members
            if a < b
        ]
        labels = _union_find_labels(pairs)
        # docs with bands but no partner are their own component min
        for r in rows:
            labels.setdefault(r.doc_id, r.doc_id)
        want = sorted(n for n, lab in labels.items() if lab != n)
        assert sorted(_local_bucket_drops(rows)) == want, f"trial {trial}"


def test_dedup_index_local_keys_invalidation(spark, tmp_path):
    """r13: under deferred_commits the driver-held pending band keys are
    only trusted while EVERY pending batch took the local path — a
    distributed batch invalidates them (later batches must probe the
    pending frames), and a mid-context flush resets them (admissions
    now committed).  Admission results must be identical either way."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "an entirely different document about spark shuffle planning",
        "completely novel content never seen before in this corpus",
    ]
    docs = spark.createDataFrame(
        [(i, texts[(i - 1) % 3]) for i in range(1, 7)],
        "doc_id long, text string",
    )

    def admitted_ids(idx):
        with idx.deferred_commits():
            out = []
            for lo, hi in ((0, 3), (3, 6)):
                adm = idx.ingest(
                    docs.where(
                        (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
                    )
                )
                out.append(adm)
            rows = sorted(
                r.doc_id
                for frame in out
                for r in frame.collect()
            )
            assert idx._pending_local_keys, "local path did not engage"
        return rows

    idx_local = MinHashDedupIndex(spark, str(tmp_path / "loc"))
    local_result = admitted_ids(idx_local)
    # doc 1/2/3 define the three texts; 4/5/6 are exact dups -> rejected
    assert local_result == [1, 2, 3]

    # force the distributed path for batch 1 by dropping the band-row
    # threshold, then verify keys invalidate and batch 2 still admits
    # identically through the _index_view probe
    import easy_sql_spark.operators.components as comps

    idx_dist = MinHashDedupIndex(spark, str(tmp_path / "dist"))
    orig = comps.LOCAL_COMPONENT_EDGE_ROWS
    with idx_dist.deferred_commits():
        try:
            comps.LOCAL_COMPONENT_EDGE_ROWS = 0
            idx_dist.ingest(docs.where(F.col("doc_id") <= 3))
            assert idx_dist._pending_local_keys is None
        finally:
            comps.LOCAL_COMPONENT_EDGE_ROWS = orig
        adm2 = idx_dist.ingest(docs.where(F.col("doc_id") > 3))
        assert sorted(r.doc_id for r in adm2.collect()) == []


def test_dedup_index_local_gate_is_exact_not_claimed(spark, tmp_path, monkeypatch):
    """ADVICE r13: the local-path gate must hold on the EXACT band-row
    count, not the caller-supplied n_band_rows claim (slices of one load
    pass approximations).  A batch claiming to be small but actually
    exceeding the threshold must fall back to the distributed path and
    produce identical admissions."""
    from pyspark.sql import functions as F

    import easy_sql_spark.operators.components as comp
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex
    from easy_sql_spark.queries.llm_ops import minhash_bands

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") <= 120)
        .select("doc_id", "text")
    )
    bands, n_rows = minhash_bands(docs, with_count=True)
    assert n_rows > 8  # the patched threshold below is really exceeded

    def run(root, threshold, claim):
        monkeypatch.setattr(comp, "LOCAL_COMPONENT_EDGE_ROWS", threshold)
        idx = MinHashDedupIndex(spark, str(root))
        out = idx.ingest(docs, bands=bands, n_band_rows=claim)
        return {r.doc_id for r in out.collect()}

    # lying claim (tiny) + tiny threshold -> exact probe must reject the
    # local path; result equals the honest large-threshold run
    got = run(tmp_path / "a", 8, claim=1)
    want = run(tmp_path / "b", 10**6, claim=n_rows)
    assert got == want and len(got) > 0


def test_semantic_dedup_blocked_kernel_exact(spark, monkeypatch):
    """Skew guard (VERDICT r14 #5): the pairwise kernel computes the
    per-cluster similarity matrix in row blocks bounded by
    PAIRWISE_BLOCK_CELLS, so one degenerate giant cluster
    (k=1: every row in cluster 0 — the near-duplicate-corpus shape)
    bounds task memory instead of OOMing on n^2 cells.  The blocks
    slice the same elementwise IEEE ops, so the kept flags must be
    IDENTICAL across the cap boundary — on the giant cluster and on a
    normal multi-cluster run."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators import kmeans
    from easy_sql_spark.operators.kmeans import semantic_dedup

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .localCheckpoint(eager=True)
    )

    def run(k):
        return {
            (r.vec_id, r.cluster, r.kept)
            for r in semantic_dedup(emb, k, 1, 0.30).collect()
        }

    whole_cells = kmeans.PAIRWISE_BLOCK_CELLS
    for k in (1, 4):          # k=1: one giant cluster (n=500, 250k cells)
        monkeypatch.setattr(kmeans, "PAIRWISE_BLOCK_CELLS", whole_cells)
        whole = run(k)
        monkeypatch.setattr(kmeans, "PAIRWISE_BLOCK_CELLS", 1000)
        blocked = run(k)  # ~2-row blocks over a 500-row cluster
        assert blocked == whole and len(whole) == 500, k
    assert any(kept == 0 for _, _, kept in whole)  # drops something


def test_assign_clusters_rejects_existing_out_col(spark, monkeypatch):
    """ADVICE r14: the fold path's withColumn would silently replace an
    existing out_col while the kernel path appends a duplicate field —
    assign_clusters must refuse on both sides of the
    ASSIGN_KERNEL_MIN_CELLS gate, so the dispatch threshold can never
    change behavior."""
    import pytest as _pytest

    from easy_sql_spark.operators import kmeans
    from easy_sql_spark.operators.kmeans import assign_clusters

    df = spark.createDataFrame(
        [(1, [0.0, 1.0], 0)], "vec_id long, v array<double>, cluster int"
    )
    # 1 x 2 = 2 centroid cells: the fold side, then the kernel side
    for gate in (kmeans.ASSIGN_KERNEL_MIN_CELLS, 2):
        monkeypatch.setattr(kmeans, "ASSIGN_KERNEL_MIN_CELLS", gate)
        with _pytest.raises(ValueError, match="already exists"):
            assign_clusters(df, [[0.0, 0.0]])


def test_dedup_index_pending_keys_auto_flush(spark, tmp_path):
    """VERDICT r13 #4 (carried through r14): a long deferred load must
    not grow the driver-held pending key set without bound — crossing
    PENDING_LOCAL_KEYS_MAX triggers an automatic mid-context flush
    (keys reset, admissions committed), and admissions must be
    IDENTICAL to an unbudgeted run."""
    from pyspark.sql import functions as F

    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "an entirely different document about spark shuffle planning",
        "completely novel content never seen before in this corpus",
        "a fourth text with its own unrepeated vocabulary entirely",
    ]
    docs = spark.createDataFrame(
        [(i, texts[(i - 1) % 4]) for i in range(1, 9)],
        "doc_id long, text string",
    )

    def admitted_ids(idx):
        out = []
        with idx.deferred_commits():
            for lo, hi in ((0, 2), (2, 4), (4, 6), (6, 8)):
                out.append(
                    idx.ingest(
                        docs.where(
                            (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
                        )
                    )
                )
            rows = sorted(r.doc_id for f in out for r in f.collect())
        return rows

    ref = MinHashDedupIndex(spark, str(tmp_path / "nolimit"))
    want = admitted_ids(ref)
    assert want == [1, 2, 3, 4]  # 5-8 are exact dups of 1-4
    assert ref.table.latest_version() == 1  # one commit, no auto-flush

    capped = MinHashDedupIndex(spark, str(tmp_path / "capped"))
    capped.PENDING_LOCAL_KEYS_MAX = 1  # every batch crosses the budget
    got = admitted_ids(capped)
    assert got == want
    # the budget forced mid-context flushes -> multiple snapshot versions
    assert capped.table.latest_version() > 1
    # read-back state identical: the same admitted docs are indexed
    ids = lambda t: sorted(  # noqa: E731
        r.doc_id
        for r in t.read().select("doc_id").distinct().collect()
    )
    assert ids(capped.table) == ids(ref.table)
