"""Streaming vector ingest: continuous embedding arrival through the
frozen-stats int8 quantized store.

The batch contract is ``ann_sq8_incremental_topk``'s (operators/
similarity.py): the quantization interval is trained ONCE on the base
cohort and every later batch encodes with the SAME frozen constants —
retraining would invalidate every historical code, so freezing is the
only shape that works for always-on ingest. This module is that
contract's streaming form, mirroring how the reference's embedding pass
feeds ES incrementally per release rather than re-embedding the corpus
(hub/dataindex/embed.py:51-59,124-131 — new docs are embedded and
indexed into the live int8_hnsw index with the index's existing
quantization state):

    embedding stream (file source; production: Kafka/Iceberg CDC)
      -> foreachBatch: batch 0 trains (mn, s) and freezes it to
         stats.json; every batch sq8-encodes its delta with the frozen
         constants (out-of-interval components clamp to code 0/255 —
         standard SQ saturation for drifted data)
         -> append the (id, codes, cs, nsq) delta to the codes store
            (sq8_encode; with nlist set, sq8_encode(coarse=) adds the
            row's coarse list id cid)
      -> serve: sq8_serve_codes over the UNION of committed deltas —
         queries scan the 4x-narrower code table only; the float
         corpus is read solely by an explicit rescore.

Exactly-once per micro-batch follows the established discipline
(streaming/crawl_stream.py, dedup_stream.py): per-batch output dirs are
idempotently overwritten, and the frozen stats are a deterministic pure
function of batch 0's rows, so a replayed batch 0 (crash between the
stats write and the checkpoint commit) rewrites identical constants.

Scale shape: per micro-batch cost is O(|delta|) — one codegen'd
projection over the new rows; nothing historical is read, recomputed,
or rewritten. Serving reads the code deltas as a plain partitioned
parquet union (an Iceberg table in production), so the query plan is
identical to the batch encode-once/serve-many plan the sq8 rows
audited in PLANS.md.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity as SIM

VEC_SCHEMA = "vec_id long, embedding array<float>"
_CODES_SCHEMA = "vec_id long, codes array<int>, cs long, nsq long"
_IVF_CODES_SCHEMA = "vec_id long, cid int, codes array<int>, cs long, nsq long"


class StreamingVectorIngest:
    """File-source streaming sq8 ingest rooted at ``root`` with
    directories: incoming/ (input vectors), codes/ (one encoded delta
    per batch), stats.json (the frozen interval — and, with
    ``nlist`` set, the frozen coarse codebook), checkpoint/.

    ``nlist=N`` turns on the composed IVF+SQ8 index (the FAISS
    "IVF,SQ8" maintenance loop): batch 0 ALSO Lloyd-trains N coarse
    centroids (similarity.kmeans_codebook — deterministic, so replay
    retrains identically) and freezes them next to the interval; every
    delta row then carries its coarse list id (``sq8_encode(coarse=)``),
    and ``serve`` prunes to the query's ``nprobe`` lists before the
    integer scoring (``sq8_serve_codes(coarse=, nprobe=)``) — the scan
    touches ~nprobe/nlist of the code table instead of all of it."""

    def __init__(self, spark: SparkSession, root: str, dim: int = 64,
                 clip_sigma: float | None = None, nlist: int | None = None):
        self.spark = spark
        self.root = root
        self.dim = dim
        self.clip_sigma = clip_sigma
        self.nlist = nlist
        for d in ("incoming", "codes"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ------------------------------------------------------------ state --
    def stats(self) -> tuple[float, float] | None:
        """The frozen (mn, s) interval, or None before batch 0 commits."""
        p = self._dir("stats.json")
        if not os.path.exists(p):
            return None
        d = json.load(open(p))
        return d["mn"], d["s"]

    def coarse(self) -> list[tuple[int, list[float]]] | None:
        """The frozen coarse codebook (nlist mode), or None."""
        p = self._dir("stats.json")
        if not os.path.exists(p):
            return None
        d = json.load(open(p))
        if "coarse" not in d:
            return None
        return [(int(c), v) for c, v in d["coarse"]]

    def last_committed_batch(self) -> int | None:
        """Highest batch id the streaming checkpoint has COMMITTED (the
        commits log is written only after ``_process_batch`` returns),
        or None when no commit exists yet."""
        d = self._dir("checkpoint/commits")
        if not os.path.isdir(d):
            return None
        ids = [int(f) for f in os.listdir(d) if f.isdigit()]
        return max(ids) if ids else None

    def codes(self, before_batch: int | None = None) -> DataFrame:
        """The persisted code store: union of COMMITTED per-batch
        deltas. By default only batches the streaming checkpoint has
        committed are read (r8 ADVICE: a delta written by a batch that
        crashed before its checkpoint commit — or a partially-written
        dir — must not surface in serve(); its replay will idempotently
        overwrite the same dir and then commit). ``before_batch``
        overrides the cut to batches strictly below it (the explicit
        replay guard)."""
        if before_batch is None:
            last = self.last_committed_batch()
            if last is not None:
                before_batch = last + 1
            elif os.path.isdir(self._dir("checkpoint/commits")):
                # commits log still empty (a crash before the first
                # commit): every delta on disk is uncommitted
                before_batch = 0
            # else no checkpoint at all (a store populated out-of-band):
            # read every delta dir
        base = self._dir("codes")
        parts = []
        for d in sorted(os.listdir(base)):
            if not d.startswith("batch="):
                continue
            b = int(d.split("=")[1])
            if before_batch is None or b < before_batch:
                parts.append(os.path.join(base, d))
        if not parts:
            return self.spark.createDataFrame(
                [], _IVF_CODES_SCHEMA if self.nlist else _CODES_SCHEMA)
        return self.spark.read.parquet(*parts)

    # ----------------------------------------------------------- ingest --
    def run_available_now(self) -> None:
        """Drain currently-available vectors, then stop. Re-runnable:
        the streaming checkpoint skips already-processed input files."""
        stream = self.spark.readStream.schema(VEC_SCHEMA).parquet(
            self._dir("incoming"))
        q = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self._dir("checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _process_batch(self, vecs: DataFrame, batch_id: int) -> None:
        if vecs.isEmpty():
            # an empty micro-batch (e.g. an empty parquet dropped into
            # incoming/) must not freeze stats over zero rows — the
            # None->float conversion would kill the stream; defer the
            # batch-0 freeze to the first NON-empty batch and write no
            # delta (r8 verdict, "what's wrong" #3)
            return
        st = self.stats()
        if st is None:
            # batch 0 IS the base cohort: train and freeze. Replay-safe
            # without coordination — the interval (and the Lloyd coarse
            # codebook in nlist mode) is a deterministic pure function
            # of this batch's rows (micro-unit discipline, see
            # sq8_stats/kmeans_codebook), so a crashed-then-replayed
            # batch 0 recomputes identical constants.
            st = SIM.sq8_stats(vecs, dim=self.dim, clip_sigma=self.clip_sigma)
            frozen = {"mn": st[0], "s": st[1], "base_batch": batch_id}
            if self.nlist:
                frozen["coarse"] = SIM.kmeans_codebook(
                    vecs, k=self.nlist, iters=2, dim=self.dim)
            tmp = self._dir("stats.json.tmp")
            with open(tmp, "w") as f:
                json.dump(frozen, f)
            os.replace(tmp, self._dir("stats.json"))
        coarse = self.coarse() if self.nlist else None
        delta = SIM.sq8_encode(vecs, st, dim=self.dim, coarse=coarse)
        delta.write.mode("overwrite").parquet(
            self._dir(f"codes/batch={batch_id:06d}")
        )

    # ------------------------------------------------------------ serve --
    def serve(self, queries: DataFrame, k: int = 10, rescore: int = 0,
              emb: DataFrame | None = None, nprobe: int = 2) -> DataFrame:
        """top-k over everything ingested so far — the code table union
        is the only corpus-sized scan (pruned to the query's ``nprobe``
        coarse lists in nlist mode); pass ``emb`` (the float corpus,
        e.g. the incoming/ parquet) only when rescoring."""
        st = self.stats()
        if st is None:
            raise ValueError("no batches ingested yet — stats not frozen")
        return SIM.sq8_serve_codes(
            self.codes(), queries, st, k=k, dim=self.dim, rescore=rescore,
            emb=emb, coarse=self.coarse() if self.nlist else None,
            nprobe=nprobe,
        )
