"""Per-codec §4-boundary decomposition of the mm_* decode family
(VERDICT r14 #7): for each codec query, time

  scan_only   the pruned scan + spread WITHOUT the Python stage
              (projection noop) — the non-Python floor,
  decode      scan + spread + the codec's real mapInPandas decode
              (noop before the aggregate),
  full        the registered query end-to-end (decode + tiny agg),
  control     the bare 32-task Python/Arrow worker round-trip
              (bench.py's ctl_pyworker_fold), interleaved per rep so
              every codec's numbers carry their own window evidence.

The claim under test (r14 "examined, deliberately left"): each decode
stage is within ~2x of the bare Python round-trip — i.e. the Arrow
boundary, not the codec body, is the cost, and there is no §4 waste
(row pickling, unpruned columns, per-batch re-init) hiding in any
codec.  A codec whose (decode - scan_only) is far above 2x control has
waste worth chasing; one inside the band is boundary-floor-bound.

Usage: python tools/probe_mm_phases.py [RUNS]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import steal_ticks  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from easy_sql_spark.queries import QUERIES
    from easy_sql_spark.session import build_session

    spark = build_session("mm_phases", extra_conf={"spark.ui.enabled": "false"})
    QUERIES["mm_decode_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # one decode query per codec body (all share the scan->spread->
    # mapInPandas->agg shape; the decode BODY differs)
    CODECS = [
        "mm_decode_stats",        # fake decode (pure boundary)
        "mm_image_ahash",         # PNG/BMP image decode + ahash
        "mm_jpeg_roundtrip_stats",  # real JPEG encode+decode
        "mm_wav_roundtrip_stats",   # RIFF/PCM WAV
        "mm_gif_frames_stats",      # GIF LZW frames
        "mm_mp4_demux_stats",       # MP4 box demux
        "mm_mp3_demux_stats",       # MPEG frame demux
    ]

    best: dict[tuple[str, str], float] = {}
    ticks: dict[tuple[str, str], list[int]] = {}

    def timed(codec: str, phase: str, fn) -> None:
        s0, t0 = steal_ticks(), time.time()
        fn()
        dt, ds = time.time() - t0, steal_ticks() - s0
        key = (codec, phase)
        best[key] = min(best.get(key, float("inf")), dt)
        ticks.setdefault(key, []).append(ds)

    def control() -> None:
        spark.range(64).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()

    for _ in range(runs):
        for name in CODECS:
            timed(name, "control", control)
            fn = QUERIES[name]
            timed(name, "full", lambda fn=fn: noop(fn(spark, sf_dir)))
        # per-codec decode-only phases (explicit, mirrors the call sites)
        from pyspark.sql import functions as F

        from easy_sql_spark.datasets import load_table, spread
        from easy_sql_spark.operators.multimodal import decode_media
        from easy_sql_spark.queries.multimodal import _media_df

        media = _media_df(spark, sf_dir).select("media_id", "kind", "payload")
        timed("mm_decode_stats", "scan_only", lambda: noop(spread(media)))
        timed(
            "mm_decode_stats",
            "decode",
            lambda: noop(decode_media(spread(media), mode="fake")),
        )

    print(f"\nper-codec best-of-{runs} (s) | steal ticks per rep")
    for (codec, phase), v in sorted(best.items()):
        print(f"  {codec:26s} {phase:9s} {v:7.3f}   {ticks[(codec, phase)]}")
    spark.stop()


if __name__ == "__main__":
    main()
