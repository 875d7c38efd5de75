"""Incremental fuzzy dedup against a PERSISTENT LSH band index.

The daily-ingest shape of MinHash dedup: instead of re-clustering the
whole corpus every load (dedup_minhash_lsh + dedup_components — O(corpus)
per day), keep the admitted documents' LSH band table as a versioned
snapshot table (runtime/snapshots.py) and, per batch:

1. signature the BATCH only (per-row JVM folds, queries/llm_ops.py
   ``minhash_bands`` — no corpus scan);
2. drop batch docs with any (band_id, band) collision against the index
   — a two-step broadcast probe (see ``_probe_hits``) in which the index
   is parquet-scanned once as the stream side and NEVER shuffled; both
   broadcast builds are bounded by the batch's distinct band keys;
3. near-dup-cluster the remaining docs AMONG THEMSELVES (capped LSH
   pairs → connected components, keep min doc_id per component);
4. append the admitted docs' bands to the index — one snapshot commit,
   so the index itself is time-travelable and exactly-once under
   ``commit_batch`` (streaming ingest gets idempotent replays for free).

Per-day cost is O(batch + matched index partitions), not O(corpus) —
the property that makes fuzzy dedup sustainable when the corpus is
100 TB and the daily batch is 0.1% of it.  Admission semantics are
deterministic and order-defined: earlier batches win, and within a
batch the min doc_id of each collision component wins.

When one physical load splits into several priority-ordered admission
batches, :meth:`MinHashDedupIndex.deferred_commits` coalesces their
index appends into ONE snapshot commit: each ingest still probes the
committed index PLUS the earlier batches' pending admitted bands (so
admission semantics are bit-identical to per-batch commits), but the
commit protocol's fixed cost — stage write, footer-stats read, atomic
manifest create — is paid once per load instead of once per batch.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime.snapshots import SnapshotTable
from .iterate import cut_lineage

_BAND_COLS = ["doc_id", "band_id", "band"]


def _local_bucket_drops(rows) -> list:
    """Driver-side intra-batch clustering over a COLLECTED band table:
    union-find where every (band_id, band) bucket's members join one
    component, keep the min doc_id per component, return the rest.

    Component-identical to ``_lsh_capped_pairs`` + connected components
    (two docs are connected iff they share a bucket, transitively — the
    pair expansion and its star cap only exist to materialize that
    relation as distributed edges), and union-find attaches the larger
    root under the smaller, so every root is its component's minimum —
    the same min-wins admission the distributed path computes."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict = {}
    for r in rows:
        d = r["doc_id"]
        k = (r["band_id"], r["band"])
        parent.setdefault(d, d)
        anchor = first.setdefault(k, d)
        if anchor != d:
            ra, rb = find(anchor), find(d)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [n for n in parent if find(n) != n]


class MinHashDedupIndex:
    """Persistent LSH band index at a snapshot-table root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_hashes: int | None = None,
        n_bands: int | None = None,
        vacuumed_replay: str = "fallback",
    ) -> None:
        from ..queries.llm_ops import N_BANDS, N_MINHASH

        if vacuumed_replay not in ("fallback", "raise"):
            raise ValueError(
                "vacuumed_replay must be 'fallback' or 'raise', got "
                f"{vacuumed_replay!r}"
            )
        self.spark = spark
        self.table = SnapshotTable(spark, root)
        self.n_hashes = n_hashes or N_MINHASH
        self.n_bands = n_bands or N_BANDS
        #: what a replayed ingest does when the batch's own commit
        #: history is gone (vacuumed manifests / compacted dirs):
        #: ``"fallback"`` widens the reconstruction join to the whole
        #: index — exact ONLY under the documented unique-doc_id-per-
        #: index-lifetime precondition; ``"raise"`` refuses instead,
        #: the right setting when vacuum retention is allowed to be
        #: shorter than the streaming checkpoint replay horizon and
        #: doc_ids may be re-offered across loads (ADVICE r9, kept
        #: open at r10: an approximate reconstruction must be opt-in)
        self.vacuumed_replay = vacuumed_replay
        #: (batch_id | None, admitted band frame) accumulated under
        #: :meth:`deferred_commits`, flushed as one snapshot commit
        self._pending: list[tuple[int | None, DataFrame]] = []
        self._defer = False
        #: admitted (band_id, band) keys of the pending deferred batches
        #: — maintained while EVERY pending batch took the local ingest
        #: path, so later small batches can probe pending admissions on
        #: the driver instead of broadcasting the pending frames; None
        #: once any pending batch went distributed (keys unknowable
        #: without a job) or outside deferred mode
        self._pending_local_keys: set | None = None
        #: conservative upper bound on pending band ROWS (each deferred
        #: ingest adds its pre-probe band-row count — free, already
        #: computed for partition sizing); feeds the probe's broadcast
        #: regime choice so a load coalescing many large batches cannot
        #: broadcast a view far above SMALL_INDEX_BYTES (ADVICE r9)
        self._pending_rows = 0

    def _bands(self, docs: DataFrame, with_count: bool = False):
        from ..queries.llm_ops import minhash_bands

        return minhash_bands(
            docs, self.n_hashes, self.n_bands, with_count=with_count
        )

    #: index payloads at/below this (compressed parquet bytes) ride a
    #: direct explicit broadcast; above it the two-step probe keeps the
    #: index as an unshuffled stream side.  Mirrors the default
    #: autoBroadcastJoinThreshold's intent but is OURS, measured against
    #: the index's actual on-disk footprint — never a planner guess.
    SMALL_INDEX_BYTES = 32 << 20

    #: band rows per post-fold partition (~100 B/row → ~50 MB tasks); a
    #: 10⁹-band-row daily batch still fans out to ~2000 partitions, a
    #: 400-row test batch collapses to 1
    BAND_ROWS_PER_PARTITION = 1 << 19

    #: on-disk-equivalent bytes per pending band row (doc_id + band_id +
    #: 64-bit band hash, compressed-parquet scale — the same units as
    #: SMALL_INDEX_BYTES) for the pending-size estimate above
    PENDING_BAND_ROW_BYTES = 64

    #: dropped-id lists at/below this ride an ``isin`` literal in the
    #: admitted filter (narrow — zero extra jobs, and in deferred mode
    #: no per-batch checkpoint); larger local results build a driver
    #: frame and broadcast-anti-join instead (a 100k-literal predicate
    #: bloats the plan tree and codegen far past the join's cost)
    ISIN_DROP_MAX = 4096

    #: driver-held pending admitted band keys above this trigger an
    #: automatic mid-context :meth:`flush` (VERDICT r13 #4): a long
    #: deferred load of many small batches otherwise grows
    #: ``_pending_local_keys`` without bound (each key is a ~100 B
    #: tuple — the default caps driver state at ~400 MB).  Admission
    #: semantics are unchanged: flush commits the pending batches, so
    #: later batches probe the same admissions via the committed index
    #: instead of the driver set; the only visible difference is more
    #: than one snapshot version for that load.
    PENDING_LOCAL_KEYS_MAX = 4_000_000

    def _index_bytes(self) -> int:
        """On-disk size of the live index dirs — a PURE manifest-metadata
        read of the per-dir byte totals recorded at commit time
        (``SnapshotTable._merge_stats``), memoized per table version
        (manifests are immutable)."""
        v = self.table.latest_version()
        cached = getattr(self, "_size_cache", None)
        if cached and cached[0] == v:
            return cached[1]
        m = self.table.manifest(v)
        total = sum(m["bytes"][d] for d in m["live"])
        self._size_cache = (v, total)
        return total

    def _batch_committed_docs(self, batch_id: int) -> DataFrame | None:
        """doc_ids committed by the commit that recorded ``batch_id`` —
        the scoped source for replay reconstruction (see ``ingest``).

        Walks manifests newest-first for a ``batch_id``/``batch_ids``
        match and reads only that version's ``added`` dirs.  A deferred
        flush coalesces several batch ids into one commit, so its dirs
        cover all SIBLING batches of the same load — within one load the
        producer slices a single band table, so a doc_id appearing in
        two sibling slices stays under the documented
        unique-per-load precondition; across loads the scoping is exact
        (the re-crawl case of ADVICE r9).
        Returns None when the commit is no longer reconstructable
        (vacuumed manifest, compacted-away dirs) — caller falls back to
        the whole-index join."""
        import json as _json

        from pyspark.sql.types import StructType

        t = self.table
        for v in sorted(t.existing_versions(), reverse=True):
            try:
                m = t.manifest(v)
            except Exception:
                return None
            ids = m.get("batch_ids") or (
                [m["batch_id"]] if m.get("batch_id") is not None else []
            )
            if batch_id not in {int(b) for b in ids}:
                continue
            added = m.get("added") or []
            if not added:
                return None
            try:
                schema = StructType.fromJson(_json.loads(m["schema"]))
                frame = t._read_state(m, added, schema)
                # materialize NOW: if the dirs were vacuumed the failure
                # must surface here (-> fallback), not mid-join later
                frame = cut_lineage(
                    frame.select("doc_id").distinct(), eager=True
                )
            except Exception:
                return None
            return frame
        return None

    def _index_view(self) -> DataFrame | None:
        """The probe side: the committed index plus any pending
        (deferred, not-yet-flushed) admitted bands — deferred ingests
        see earlier batches' admissions exactly as if each had
        committed.  None when the index is empty (first batch)."""
        parts = []
        if self.table.latest_version():
            parts.append(self.table.read().select(*_BAND_COLS))
        parts.extend(f.select(*_BAND_COLS) for _, f in self._pending)
        if not parts:
            return None
        view = parts[0]
        for p in parts[1:]:
            view = view.unionByName(p)
        return view

    def _probe_hits(self, bands: DataFrame, view: DataFrame) -> DataFrame:
        """doc_ids of batch rows whose (band_id, band) collides with the
        index view — WITHOUT ever shuffling the index.

        The naive shape ``bands left_semi index`` is a scale-killer: a
        LeftSemi join can only build/broadcast its RIGHT side, which here
        is the O(corpus)-row index, so once the index outgrows the
        broadcast threshold Spark sort-merge-joins and re-shuffles the
        entire index on every batch ingest — defeating the O(batch)
        contract of this module.  Size-adaptive, both regimes index-
        shuffle-free:

        - small index (committed on-disk bytes from the manifest PLUS a
          conservative estimate of pending deferred bands — a load
          coalescing many batches must not broadcast a view far above
          the threshold just because none of it is committed yet —
          below ``SMALL_INDEX_BYTES``): direct ``left_semi`` with an
          EXPLICIT broadcast of the view — one scan, one join, the
          cheap plan while the corpus is young;
        - otherwise :meth:`_probe_hits_scale` — two broadcast steps
          bounded by the batch's distinct band keys.
        """
        committed = (
            self._index_bytes() if self.table.latest_version() else 0
        )
        pending_est = self._pending_rows * self.PENDING_BAND_ROW_BYTES
        if committed + pending_est <= self.SMALL_INDEX_BYTES:
            # no distinct on the hit ids: the only consumer is a
            # left_anti join, which is duplicate-insensitive on its
            # build side — the dedup exchange was one AQE stage job per
            # ingest of pure scheduler constant (r13), and the
            # duplicated build rows are bounded by the batch band table
            return bands.join(
                F.broadcast(view), ["band_id", "band"], "left_semi"
            ).select("doc_id")
        return self._probe_hits_scale(bands, view)

    def _probe_hits_scale(
        self, bands: DataFrame, view: DataFrame
    ) -> DataFrame:
        """Large-index probe, two broadcast steps each bounded by the
        BATCH:

        1. ``present`` = the batch's distinct (band_id, band) keys that
           exist in the index: ``index left_semi broadcast(batch_keys)``.
           The index is the STREAM side — scanned once, never shuffled;
           the build side is the batch's narrow key set.
        2. ``hit_ids`` = batch rows matching ``present``:
           ``bands left_semi broadcast(present)`` — again no shuffle,
           and |present| <= |batch keys|.

        Both broadcasts are O(batch-distinct-keys) (band_id int + 64-bit
        band hash), i.e. megabytes for a daily batch that is 0.1% of a
        100 TB corpus.  For batches so large their key set exceeds
        broadcast limits, bucket the snapshot band table on
        (band_id, band) instead so only the batch side shuffles.
        """
        batch_keys = bands.select("band_id", "band").distinct()
        present = (
            view
            .join(F.broadcast(batch_keys), ["band_id", "band"], "left_semi")
            .select("band_id", "band")
            .distinct()
        )
        # no final distinct — the anti-join consumer is duplicate-
        # insensitive (see _probe_hits) and the rows are batch-bounded
        return bands.join(
            F.broadcast(present), ["band_id", "band"], "left_semi"
        ).select("doc_id")

    @contextlib.contextmanager
    def deferred_commits(self):
        """Coalesce the index appends of several priority-ordered
        ``ingest`` calls into ONE snapshot commit (on context exit).

        Admission semantics are unchanged — each deferred ingest probes
        the committed index PLUS the earlier pending admitted bands
        (``_index_view``), which is exactly what a per-batch commit
        would have made visible.  What changes is the commit protocol's
        fixed cost (stage write + footer-stats read + atomic manifest
        create, ~0.4 s of FS constants per commit on a local run,
        NameNode round-trips on HDFS): paid once per load instead of
        once per admission batch.  On an exception nothing is committed
        and pending state is dropped — the table is exactly as before
        the context."""
        if self._defer:
            raise RuntimeError("deferred_commits() does not nest")
        self._defer = True
        self._pending_local_keys = set()
        try:
            yield self
            self.flush()
        finally:
            self._defer = False
            self._pending.clear()
            self._pending_rows = 0
            self._pending_local_keys = None

    def flush(self) -> None:
        """Commit all pending deferred batches as one snapshot version.
        The manifest records the coalesced batch-id range: ``batch_id``
        (= max, which advances the stream's replay guard past every
        coalesced batch) plus the full ``batch_ids`` list for
        introspection."""
        if not self._pending:
            return
        frames = [f for _, f in self._pending]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        bids = sorted(int(b) for b, _ in self._pending if b is not None)
        extra = None
        if bids:
            last = self.table.last_committed_batch()
            if last is not None and last >= bids[-1]:
                self._pending.clear()
                self._pending_rows = 0
                if self._defer:
                    self._pending_local_keys = set()
                return  # full replay of an already-committed range
            extra = {
                "batch_id": bids[-1],
                "batch_ids": bids,
                "stream_key": "stream",
            }
        if not self.table.latest_version():
            self.table.overwrite(union, extra=extra)
        else:
            self.table.append(union, extra=extra)
        self._pending.clear()
        self._pending_rows = 0
        if self._defer:
            # flushed mid-context: pending admissions are committed now,
            # so later batches probe them via the committed index
            self._pending_local_keys = set()

    def ingest(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
        bands: DataFrame | None = None,
        n_band_rows: int | None = None,
    ) -> DataFrame:
        """Admit the non-duplicate part of ``docs`` (columns: doc_id,
        text) and index it.  Returns the admitted doc_ids as a
        single-column frame over already-materialized inputs (stable
        under later ingests — it never re-reads the index table).
        ``batch_id`` makes the commit idempotent (streaming replay
        protection).

        ``bands``/``n_band_rows``: precomputed LSH band table for
        EXACTLY these docs (``minhash_bands(docs, with_count=True)``
        shape) — the production pattern when one physical load splits
        into several priority-ordered admission batches: signature the
        whole load ONCE, slice the band table per batch, and each
        ingest skips the per-batch signature job.  Signatures are
        per-row, so slicing cannot change admission semantics."""
        from .components import LOCAL_COMPONENT_EDGE_ROWS

        # Replay guard FIRST — before any probe.  On a checkpoint-restart
        # replay AFTER this batch's index commit already landed (crash
        # window between ingest's commit and a downstream sink), probing
        # now would collide with the batch's OWN just-committed bands,
        # admit nothing, and permanently drop the docs from any
        # downstream admitted-corpus append.  Reconstruct instead: only
        # admitted docs are ever indexed, so this batch's admitted set is
        # (docs ∩ doc_ids committed BY THIS BATCH's commit) ∪ its
        # bandless docs.  Scoping the join to the batch's own committed
        # dirs (manifest ``added`` + recorded batch ids) keeps the
        # reconstruction exact even when a doc_id is re-offered in a
        # LATER batch (re-crawl): the original run rejected it as a
        # duplicate of the earlier batch, and the earlier batch's bands
        # are not in this batch's dirs (ADVICE r9).  Only when the
        # batch's commit history is gone (vacuumed manifests / compacted
        # dirs) does it widen to the whole index — under the documented
        # precondition that a doc_id is offered at most once per index
        # lifetime; ``vacuumed_replay='raise'`` refuses that widening
        # for deployments where the precondition cannot be guaranteed.
        if batch_id is not None:
            last = self.table.last_committed_batch()
            if last is not None and int(batch_id) <= last:
                if bands is None:
                    bands = self._bands(docs)
                committed = self._batch_committed_docs(int(batch_id))
                if committed is None:
                    if self.vacuumed_replay == "raise":
                        raise RuntimeError(
                            f"dedup index replay of batch {batch_id} at "
                            f"{self.table.root}: the commit that recorded "
                            "this batch id is no longer reconstructable "
                            "(vacuumed manifest or compacted-away dirs) "
                            "and vacuumed_replay='raise' forbids the "
                            "whole-index reconstruction, which is exact "
                            "only when a doc_id is offered at most once "
                            "per index lifetime.  Either extend vacuum "
                            "retention past the streaming checkpoint "
                            "replay horizon, or construct the index with "
                            "vacuumed_replay='fallback' if the unique-"
                            "doc_id precondition holds for this corpus"
                        )
                    committed = self.table.read().select("doc_id").distinct()
                indexed = docs.select("doc_id").join(
                    committed, "doc_id", "left_semi"
                )
                bandless = docs.select("doc_id").join(
                    bands.select("doc_id").distinct(), "doc_id", "left_anti"
                )
                return indexed.unionByName(bandless)

        # ``minhash_bands(with_count=True)`` materializes the signature
        # table (the CPU-heavy fold) at cluster width with a COUNT as
        # the materializing action — one job does both, and the exact
        # band-row count is sigs × n_bands, so the sizing count that
        # used to be its own job is free.  The lifecycle's cost at
        # daily-batch sizes is the scheduler constant per job, not the
        # scan (SCALE.md).  Right-size the partitioning for the REST of
        # the lifecycle: band rows are narrow (~100 B), and carrying
        # width-of-cluster partitions through the probe, the clustering
        # rounds and the index commit costs a full task wave per stage
        # and one tiny file per partition per commit; ``coalesce`` is
        # narrow — no shuffle, and it never RAISES a partition count,
        # so no width probe needed.
        if bands is None:
            bands, n_band_rows = self._bands(docs, with_count=True)
        elif n_band_rows is None:
            n_band_rows = bands.count()
        target = max(1, -(-n_band_rows // self.BAND_ROWS_PER_PARTITION))
        bands = bands.coalesce(target)

        # LOCAL fast path (r13): a batch whose band table fits on the
        # driver — the daily-ingest norm — runs the ENTIRE admission
        # (probe + intra-batch clustering) over one bounded collect:
        # ~1 Spark job per ingest instead of the distributed shape's
        # 4-6, which at daily-batch sizes are pure scheduler constant
        # (the job durations sum to <1s of a 3.4s lifecycle; the rest
        # was driver-side planning between jobs).  Requires the pending
        # admitted band keys to be driver-known when batches are
        # deferred (``_pending_local_keys`` — maintained while every
        # pending batch took this path); a committed index of any size
        # is still probed DISTRIBUTED via ``_probe_hits`` (the index is
        # never collected, only the batch-bounded hit ids are).
        # the n_band_rows gate is only a CANDIDACY check — callers may
        # pass an approximation (dedup_index_incremental slices one load
        # by doc_id and claims n_total // 3 per slice); _ingest_local
        # itself collects through limit(threshold+1) and returns None
        # when the batch turns out oversized, so the documented driver
        # bound holds on the EXACT row count, not the claim (ADVICE r13)
        local_result = None
        if n_band_rows <= LOCAL_COMPONENT_EDGE_ROWS and (
            not self._pending or self._pending_local_keys is not None
        ):
            local_result = self._ingest_local(bands)
        if local_result is not None:
            admitted_bands, defer_needs_ckpt = local_result
        else:
            admitted_bands, defer_needs_ckpt = self._ingest_distributed(
                bands, n_band_rows
            )
            if self._defer:
                # a distributed batch's admitted keys are not driver-
                # known: later deferred batches must probe the pending
                # frames through _index_view, not the local key set
                self._pending_local_keys = None

        if self._defer:
            if defer_needs_ckpt:
                # a JOIN-shaped pending frame is evaluated by every
                # later batch's probe view, the flush write AND the
                # returned-ids union — left lazy, each re-runs the
                # anti-join (a broadcast-build job per consumer;
                # measured +4-7 jobs per lifecycle), so checkpoint it
                # once.  ``isin``-filtered frames skip this: consumers
                # re-apply a narrow predicate over cached blocks free.
                admitted_bands = cut_lineage(admitted_bands, eager=True)
            self._pending.append(
                (None if batch_id is None else int(batch_id), admitted_bands)
            )
            # pre-probe band rows: a free (already-computed) upper bound
            # on this batch's pending contribution to the probe view
            self._pending_rows += int(n_band_rows)
            if (
                self._pending_local_keys is not None
                and len(self._pending_local_keys) > self.PENDING_LOCAL_KEYS_MAX
            ):
                # bound driver state on long deferred loads (see
                # PENDING_LOCAL_KEYS_MAX); flush resets the key set
                self.flush()
        elif not self.table.latest_version():
            # record the batch id on the CREATE commit too, or a replayed
            # first batch (restart before the stream checkpoint lands)
            # would double-ingest
            self.table.overwrite(
                admitted_bands,
                extra=None
                if batch_id is None
                else {"batch_id": int(batch_id), "stream_key": "stream"},
            )
        elif batch_id is not None:
            self.table.commit_batch(batch_id, admitted_bands)
        else:
            self.table.append(admitted_bands)

        # docs too short to shingle carry no bands — no dup evidence, so
        # they are admitted (but there is nothing of them to index).
        # No eager materialization here: every input is either already
        # checkpointed (admitted_bands) or a narrow derivation of a
        # checkpoint, so the frame is cheap to evaluate and adding a
        # barrier per ingest only pays job-latency tax.
        bandless = docs.select("doc_id").join(
            bands.where(F.col("band_id") == 0).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        # distinct WITHOUT a dedup exchange: admitted_bands carries
        # exactly one row per (doc, band_id) — minhash_bands posexplodes
        # every band_id from the doc's single signature row, and every
        # drop above filters whole doc_ids — so band_id = 0 selects
        # each admitted doc exactly once as a narrow filter
        return (
            admitted_bands.where(F.col("band_id") == 0)
            .select("doc_id")
            .unionByName(bandless)
        )

    def _ingest_local(self, bands: DataFrame):
        """Driver-side admission of one small batch (see ``ingest``).

        Collects the batch band table ONCE through a
        ``limit(LOCAL_COMPONENT_EDGE_ROWS + 1)`` — the EXACT driver
        bound, independent of the caller's ``n_band_rows`` claim (which
        may be a slice approximation); an oversized batch returns None
        and the caller takes the distributed path (ADVICE r13).  No
        checkpoint: ``bands`` is always a narrow derivation of the
        signature checkpoint (``minhash_bands`` materializes the
        CPU-heavy fold), so later consumers of the returned frame
        re-apply narrow filters over cached signature blocks.  Then:

        - committed-index probe: DISTRIBUTED (``_probe_hits`` — the
          index is never collected); only the batch-bounded hit ids
          come back to the driver;
        - pending-batch probe: against ``_pending_local_keys``, the
          driver-held admitted band keys of earlier deferred batches;
        - intra-batch clustering: ``_local_bucket_drops`` union-find.

        Returns ``(admitted_bands, defer_needs_ckpt)`` or None; the
        admitted frame is a narrow ``isin`` filter over the bands
        whenever the dropped set fits plan literals."""
        from .components import LOCAL_COMPONENT_EDGE_ROWS

        rows = bands.limit(
            LOCAL_COMPONENT_EDGE_ROWS + 1
        ).collect()  # bounded-driver: ≤ threshold+1 narrow band rows
        if len(rows) > LOCAL_COMPONENT_EDGE_ROWS:
            return None
        hit: set = set()
        if self.table.latest_version():
            committed = self.table.read().select(*_BAND_COLS)
            hit = {
                r["doc_id"]
                for r in self._probe_hits(
                    bands, committed
                ).collect()  # bounded-driver: hit rows ⊆ batch band rows
            }
        if self._pending_local_keys:
            hit |= {
                r["doc_id"]
                for r in rows
                if (r["band_id"], r["band"]) in self._pending_local_keys
            }
        drops = _local_bucket_drops(
            [r for r in rows if r["doc_id"] not in hit]
        )
        bad = hit.union(drops)
        needs_ckpt = False
        if not bad:
            admitted_bands = bands
        elif len(bad) <= self.ISIN_DROP_MAX:
            admitted_bands = bands.where(
                ~F.col("doc_id").isin(sorted(bad))
            )
        else:
            from ..datasets import arrow_frame

            dropped = arrow_frame(
                self.spark,
                [(d,) for d in sorted(bad)],
                bands.select("doc_id").schema,
            )
            admitted_bands = bands.join(
                F.broadcast(dropped), "doc_id", "left_anti"
            )
            needs_ckpt = True
        if self._defer and self._pending_local_keys is not None:
            self._pending_local_keys |= {
                (r["band_id"], r["band"])
                for r in rows
                if r["doc_id"] not in bad
            }
        return admitted_bands, needs_ckpt

    def _ingest_distributed(self, bands: DataFrame, n_band_rows: int):
        """Cluster-side admission of one batch (see ``ingest``): the
        index/pending probe as anti-join over ``_index_view``, then
        intra-batch clustering in the cheapest regime that fits —
        pair-graph union-find on the driver (``local_non_min_ids``,
        one bounded limit-collect) or full distributed label
        propagation.  Returns ``(admitted_bands, defer_needs_ckpt)``."""
        from ..queries.llm_ops import _lsh_capped_pairs
        from .components import (
            label_propagation_components,
            local_non_min_ids,
        )

        view = self._index_view()
        if view is not None:
            hit_ids = self._probe_hits(bands, view)
            surv_bands = bands.join(hit_ids, "doc_id", "left_anti")
        else:
            surv_bands = bands
        # the ONE materialization of the survivor band table, shared by
        # every downstream consumer (LSH self-join, component edges, the
        # admitted frame, the returned ids).  Without it each consumer
        # re-derives the probe anti-join — re-reading the INDEX parquet
        # per consumer (measured 0.4-1.3 s/batch of repeated index scans
        # when this was left lazy); with it the index is read once per
        # ingest, which is the module's O(batch + matched bands) claim.
        surv_bands = cut_lineage(surv_bands, eager=True)

        pairs = _lsh_capped_pairs(surv_bands, pre_materialized=True)
        dropped_ids = local_non_min_ids(
            pairs.selectExpr("doc_a as u", "doc_b as v")
        )
        if dropped_ids is not None and len(dropped_ids) <= self.ISIN_DROP_MAX:
            return (
                surv_bands.where(~F.col("doc_id").isin(sorted(dropped_ids)))
                if dropped_ids
                else surv_bands
            ), False
        if dropped_ids is not None:
            # local result but too many ids for plan literals: one
            # broadcast anti-join against a driver-built frame (Arrow —
            # the pickled-row path costs seconds per evaluation at
            # >ISIN_DROP_MAX rows, measured r14)
            from ..datasets import arrow_frame

            dropped = arrow_frame(
                self.spark,
                [(d,) for d in sorted(dropped_ids)],
                surv_bands.select("doc_id").schema,
            )
            return surv_bands.join(
                F.broadcast(dropped), "doc_id", "left_anti"
            ), True
        edges = pairs.selectExpr("doc_a as u", "doc_b as v").unionAll(
            pairs.selectExpr("doc_b as u", "doc_a as v")
        )
        labels = label_propagation_components(
            edges, max_rounds=20, local_threshold=None
        )
        dropped = labels.where(F.col("label") < F.col("u")).select(
            F.col("u").alias("doc_id")
        )
        # NO checkpoint here: both consumers (the commit write and the
        # returned-ids frame) derive it narrowly from the surv_bands
        # cache plus the tiny ``dropped`` side — re-deriving is cheaper
        # than a materialization barrier, and stability is inherited
        # from the immutable checkpoint blocks (r7's read-back variant
        # re-scanned the committed parquet and was rejected on
        # measurement; this keeps its stability argument without the
        # extra job)
        return surv_bands.join(dropped, "doc_id", "left_anti"), True

    def indexed_docs(self) -> DataFrame:
        """doc_ids currently in the index (latest version), distinct.

        Distinct WITHOUT a dedup exchange: the band table carries
        exactly one row per (doc, band_id) — ``minhash_bands``
        posexplodes every band_id from the doc's single signature row,
        and admission filters by whole doc_id — so ``band_id = 0``
        selects each indexed doc exactly once as a narrow filter the
        parquet scan can push down.

        HARD CONTRACT (shared with ``ingest``'s replay fallback): a
        doc_id is offered to the index at most once per index lifetime.
        Admission already rejects any REOFFERED doc_id whose bands
        collide with its first admission, but a changed-text re-offer
        under the same id could be admitted again and would then appear
        here twice; deployments that cannot guarantee unique ids per
        lifetime must dedup downstream (ADVICE r13)."""
        return (
            self.table.read().where(F.col("band_id") == 0).select("doc_id")
        )
