"""Streaming crawl pipeline: the crawl loop as a Structured Streaming job.

The batch plan (plans/crawl.py) is the BSP/round architecture; this is
the always-on form for continuous discovery, mirroring how the reference
crawlers run perpetually under cron (docker-entrypoint cron loops,
README.md:10-27) rather than as one-shot jobs:

    candidate URL stream (file source; production: Kafka/Iceberg CDC)
      -> canonicalize (same kernel)
      -> stateful politeness scheduler (streaming/politeness.py,
         applyInPandasWithState token buckets per host)
      -> foreachBatch: seen-filter against the persistent seen table,
         fused fetch+parse, append documents + seen delta, re-emit
         deferred URLs

foreachBatch is the documented pattern for per-batch work against
mutable external state (the seen table) and multi-sink writes. The
scheduler's output carries every candidate column (url, canonical_url,
priority, seq, asof_s), so the batch processor touches ONLY its own
micro-batch's rows — no per-batch re-scan of the candidates directory,
which would be O(total-history) work in an always-on job. Exactly-once
per micro-batch comes from (a) idempotent overwrite of per-batch output
dirs and (b) computing each batch's unseen set against strictly EARLIER
seen batches, so a replayed batch (crash between the seen write and the
checkpoint commit) reproduces its output instead of seeing its own
partial writes as already-seen. Deferred URLs (over politeness budget)
are written back out so a later micro-batch retries them — the
streaming analog of leaving them in the frontier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import seen as SN
from ..operators.fetch import fetch_parse
from .politeness import STATE_VERSION, schedule_with_state

def _dir_id(d: str, prefix: str) -> int | None:
    """Parse ``{prefix}NNNNNN`` directory names, returning None for any
    stray non-numeric entry (``batch=tmp``, ``_temporary`` copies, …) so
    a foreign directory can never crash the compaction/GC path."""
    if not d.startswith(prefix):
        return None
    suffix = d[len(prefix):]
    return int(suffix) if suffix.isdigit() else None


CAND_SCHEMA = "url string, priority int, asof_s double"
# feedback rows re-enqueued by the batch processor: same URL key shape
# plus the observed (signed) latency the scheduler's AutoThrottle fold
# consumes; kept in a separate directory so candidate files stay 3-col
FEEDBACK_SCHEMA = "url string, priority int, asof_s double, latency_ms double"


class StreamingCrawl:
    """File-source streaming crawl rooted at ``root`` with directories:
    candidates/ (input), documents/, seen/, seen_compacted/, deferred/,
    checkpoint/.

    The seen table is COMPACTED every ``compact_every`` micro-batches:
    committed per-batch deltas are folded into one hash-partitioned
    snapshot (``seen_compacted/upto=N``, data written before the
    ``_COMMIT`` marker), and each batch's anti-join reads snapshot +
    uncompacted tail only — O(compact_every) inputs per batch instead of
    the O(total-history) union round 2 shipped. This is the parquet
    stand-in for Iceberg's bucket(url_hash) table with periodic rewrite
    compaction; per-batch deltas are retained (cheap, append-only) so any
    replayed batch can still reconstruct its strictly-earlier view."""

    def __init__(self, spark: SparkSession, root: str, num_hosts: int,
                 crawl_delay_ms: int = 500, compact_every: int = 8,
                 compact_partitions: int = 16, autothrottle: bool = False):
        self.spark = spark
        self.root = root
        self.num_hosts = num_hosts
        self.crawl_delay_ms = crawl_delay_ms
        self.compact_every = compact_every
        self.compact_partitions = compact_partitions
        # streaming AutoThrottle: each batch re-emits its fetch
        # latencies as FEEDBACK rows (feedback/batch=NNNNNN, written
        # with idempotent per-batch OVERWRITE like documents/deferred —
        # a crash-replayed batch rewrites the same rows, never appends
        # duplicates); the next batch's scheduler folds them into the
        # per-host adapted delay (plans/oracle.py::at_fold). Feedback can
        # only nudge PACING, never the seen/docs invariants, which stay
        # exactly-once via the strictly-earlier-batch discipline.
        # Default OFF so the non-adaptive schedule tests stay bit-stable.
        self.autothrottle = autothrottle
        for d in ("candidates", "feedback", "documents", "seen",
                  "seen_compacted", "deferred"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapshots(self, before_batch: int | None = None) -> list[int]:
        """Committed compaction snapshot ids (marker present), optionally
        restricted to snapshots strictly older than ``before_batch`` —
        a replayed batch must never see a snapshot that already folded
        its own delta in."""
        base = self._dir("seen_compacted")
        out = []
        for d in sorted(os.listdir(base)):
            upto = _dir_id(d, "upto=")
            if upto is not None and os.path.exists(os.path.join(base, d, "_COMMIT")):
                if before_batch is None or upto < before_batch:
                    out.append(upto)
        return out

    def seen(self, before_batch: int | None = None) -> DataFrame:
        """The persistent seen table: newest eligible compacted snapshot
        + the uncompacted batch-delta tail. ``before_batch`` excludes
        that batch id and later — the REPLAY guard: a re-run of
        micro-batch N (crash after the seen write, before the checkpoint
        commit) must compute its unseen set against only batches < N, or
        it would see its own partial output and permanently drop the
        batch's documents."""
        snaps = self._snapshots(before_batch)
        upto = max(snaps) if snaps else -1
        base = self._dir("seen")
        tail = []
        for d in sorted(os.listdir(base)):
            b = _dir_id(d, "batch=")
            if b is None:
                continue
            if b > upto and (before_batch is None or b < before_batch):
                tail.append(os.path.join(base, d))
        parts = tail
        if upto >= 0:
            parts = [os.path.join(self._dir("seen_compacted"), f"upto={upto:06d}", "data")] + tail
        if not parts:
            return self.spark.createDataFrame([], "url_hash string")
        return self.spark.read.parquet(*parts)

    def gc_seen_deltas(self) -> list[str]:
        """Delete per-batch seen deltas already folded into the
        SECOND-newest committed snapshot.

        Why not the newest: ``_compact(B)`` runs inside
        ``_process_batch``, BEFORE the streaming checkpoint commits
        batch B. A crash in that window leaves a committed snapshot
        ``upto=B`` whose own batch will be REPLAYED; the replay calls
        ``seen(before_batch=B)``, which excludes that snapshot and needs
        the tail deltas in (prev_upto, B). GC'ing up to the newest
        snapshot would have deleted exactly those deltas and the replay
        would compute its unseen set against an incomplete view,
        re-emitting already-seen URLs (duplicate output). Deltas covered
        only by the newest snapshot are therefore retained until a
        NEWER snapshot supersedes it — at which point the newest
        snapshot's batch is provably checkpoint-committed (a later batch
        ran) and its tail can never be replayed.

        Returns the removed directories (for the caller's audit log)."""
        import shutil

        snaps = self._snapshots()
        if len(snaps) < 2:
            return []
        upto = sorted(snaps)[-2]
        base = self._dir("seen")
        removed = []
        for d in sorted(os.listdir(base)):
            b = _dir_id(d, "batch=")
            if b is not None and b <= upto:
                shutil.rmtree(os.path.join(base, d))
                removed.append(d)
        return removed

    def _compact(self, upto: int) -> None:
        """Fold every seen delta <= ``upto`` (plus the previous snapshot)
        into one hash-partitioned snapshot. Idempotent: a replayed batch
        recomputes the identical snapshot and overwrites it; the marker
        is renamed into place last (data-before-marker)."""
        snap = self.seen(before_batch=upto + 1)
        outdir = os.path.join(self._dir("seen_compacted"), f"upto={upto:06d}")
        snap.repartition(self.compact_partitions, "url_hash").write.mode(
            "overwrite"
        ).parquet(os.path.join(outdir, "data"))
        tmp = os.path.join(outdir, f"_COMMIT.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            f.write('{"upto": %d}' % upto)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(outdir, "_COMMIT"))
        self._gc_feedback(upto)

    def _ingested_feedback_files(self) -> set[str]:
        """Feedback data files the streaming FILE SOURCE has committed,
        read from the checkpoint's per-source file log
        (``checkpoint/v{N}/sources/<idx>/<batch>[.compact]`` — "v1"
        header + one JSON entry per file). This is the ground truth for
        what was actually ingested: with availableNow triggers the
        source only sees files present at query START, so feedback
        written DURING a long run is not consumed until a later run —
        GC must not outrun the log or AutoThrottle silently loses its
        latency history."""
        import glob
        import json

        out: set[str] = set()
        pattern = os.path.join(
            self._dir(f"checkpoint/v{STATE_VERSION}"), "sources", "*", "*"
        )
        for logf in glob.glob(pattern):
            if os.path.basename(logf).startswith("."):
                continue  # .crc / temp artifacts
            try:
                with open(logf) as f:
                    for line in f:
                        line = line.strip()
                        if not line.startswith("{"):
                            continue
                        path = json.loads(line).get("path", "")
                        if "/feedback/batch=" in path:
                            tail = path.split("/feedback/", 1)[1]
                            out.add(tail)  # "batch=NNNNNN/part-....parquet"
            except (OSError, ValueError):
                continue
        return out

    def _gc_feedback(self, upto: int) -> None:
        """Remove feedback batches the streaming source has PROVABLY
        ingested (every data file present in the checkpoint's committed
        source log) and that are older than the previous compaction
        boundary. Feedback is pacing-only — dropping a consumed batch
        can never affect output exactness — but an UNconsumed batch
        (written mid-run, visible only to the next run's source listing)
        is retained regardless of age, so long runs no longer lose
        latency history at compaction."""
        import shutil

        base = self._dir("feedback")
        if not os.path.isdir(base):
            return
        keep_from = upto - self.compact_every + 1
        ingested = None  # lazy: only read the log if a candidate exists
        for d in sorted(os.listdir(base)):
            b = _dir_id(d, "batch=")
            if b is None or b >= keep_from:
                continue
            if ingested is None:
                ingested = self._ingested_feedback_files()
            try:
                data_files = [
                    f for f in os.listdir(os.path.join(base, d))
                    if f.endswith(".parquet")
                ]
            except OSError:
                continue
            # A parquet-less dir (e.g. only _SUCCESS from an empty-batch
            # overwrite) holds no data the source could lose — treat it
            # as trivially consumed so it doesn't accumulate forever.
            if all(f"{d}/{f}" in ingested for f in data_files):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def documents(self) -> DataFrame:
        return self.spark.read.parquet(self._dir("documents") + "/*")

    def deferred(self) -> DataFrame:
        return self.spark.read.parquet(self._dir("deferred") + "/*")

    def run_available_now(self) -> None:
        """Drain currently-available candidates through the stateful
        scheduler into the batch processor, then stop. Re-runnable: the
        streaming checkpoint skips already-processed candidate files and
        the politeness state resumes where it left off."""
        stream = (
            self.spark.readStream.schema(CAND_SCHEMA)
            .parquet(self._dir("candidates"))
            .withColumn("latency_ms", F.lit(None).cast("double"))
        )
        if self.autothrottle:
            # recursiveFileLookup: feedback is laid out per batch id
            # (feedback/batch=NNNNNN, overwritten idempotently like
            # documents/deferred) — recursive listing reads the files
            # without treating batch= as an inferred partition column
            fb = (
                self.spark.readStream.schema(FEEDBACK_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(self._dir("feedback"))
            )
            stream = stream.unionByName(fb)
        keyed = (
            U.with_url_columns(stream)
            .withColumn("seq", U.hash_seq(F.col("canonical_url")))
            .select("host", "url_hash", "priority", "seq", "asof_s",
                    "url", "canonical_url", "host_bucket", "latency_ms")
        )
        scheduled = schedule_with_state(keyed, crawl_delay_ms=self.crawl_delay_ms)
        q = (
            scheduled.writeStream.foreachBatch(self._process_batch)
            # checkpoint dir keyed on the politeness STATE_VERSION:
            # a checkpoint written under an older state layout would
            # fail Spark's state-store schema check at query start, so
            # a version bump retires it (full idempotent reprocess)
            # instead of erroring — see politeness.STATE_VERSION
            .option("checkpointLocation",
                    self._dir(f"checkpoint/v{STATE_VERSION}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _process_batch(self, decisions: DataFrame, batch_id: int) -> None:
        """Per micro-batch: seen-filter the fetchables, fused fetch+parse,
        write the three outputs (idempotent overwrite per batch id).

        Works ONLY on the scheduler's own rows — the scheduler passes
        url/canonical_url/priority/seq through its output schema, so
        there is no O(total-history) re-scan of candidates/ and no join
        per batch. Replay-safe: the unseen set is computed against seen
        batches strictly BEFORE this one, so a re-run of a crashed batch
        recomputes the identical unseen set and overwrites its own
        partial output instead of seeing it as already-seen."""
        fetchable = decisions.filter(F.col("decision") == "fetch")
        unseen = SN.filter_unseen_exact(
            fetchable, self.seen(before_batch=batch_id)
        ).cache()
        fetched = fetch_parse(unseen, self.num_hosts, colocate=True)
        ok = fetched.filter(F.col("status") == 200)
        docs = ok.select(
            F.col("url_hash").alias("doc_id"), "canonical_url", "spans"
        ).unionByName(
            ok.select("url_hash", "canonical_url", F.explode("subdocs").alias("sd")).select(
                F.concat(F.col("url_hash"), F.lit("#"), F.col("sd.role")).alias("doc_id"),
                F.col("canonical_url"),
                F.col("sd.spans").alias("spans"),
            )
        )
        docs.write.mode("overwrite").parquet(self._dir(f"documents/batch={batch_id:06d}"))
        unseen.select("url_hash").write.mode("overwrite").parquet(
            self._dir(f"seen/batch={batch_id:06d}")
        )
        decisions.filter(F.col("decision") == "defer").select(
            "url", "priority", (F.col("asof_s") + F.lit(1.0)).alias("asof_s")
        ).write.mode("overwrite").parquet(self._dir(f"deferred/batch={batch_id:06d}"))
        if self.autothrottle:
            # re-emit this batch's observed latencies as feedback rows;
            # consumed by the NEXT batch's scheduler fold (negative =
            # failed fetch, which may only raise the delay)
            signed = F.when(
                F.col("status") == 200, F.col("latency_ms").cast("double")
            ).otherwise(-F.col("latency_ms").cast("double"))
            # idempotent per batch id (overwrite, like documents/
            # deferred): a crash-replayed batch rewrites the SAME rows
            # instead of appending duplicates the scheduler would fold
            # twice, and the directory stops growing without bound —
            # compaction GCs consumed batches (pacing-only data, so
            # aggressive GC can never affect output exactness)
            fetched.select(
                F.col("canonical_url").alias("url"),
                F.lit(0).alias("priority"),
                F.lit(0.0).alias("asof_s"),
                signed.alias("latency_ms"),
            ).coalesce(1).write.mode("overwrite").parquet(
                self._dir(f"feedback/batch={batch_id:06d}")
            )
        unseen.unpersist()
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self._compact(batch_id)
            # GC inside the lifecycle (not caller-invoked): removes only
            # deltas folded into the SECOND-newest snapshot — see
            # gc_seen_deltas for the crash-window argument
            self.gc_seen_deltas()


class StreamingCrawlDedup(StreamingCrawl):
    """Composed always-on pipeline: crawl micro-batches flow straight
    into incremental near-dup detection in the SAME foreachBatch —
    the streaming form of the full training-data ingest path
    (discover -> fetch -> parse -> dedup) the reference runs as
    separate cron stages (docker-entrypoint loops, README.md:10-27).

    Per micro-batch, after the crawl step commits its documents delta:
    the batch's harvested docs (span text concatenated) are banded
    (operators/dedup.py::incremental_minhash_pairs) against the
    signature store of strictly-EARLIER batches, candidate pairs and
    the delta's signatures are written idempotently per batch id.
    Replay discipline is inherited: a crashed-and-replayed batch
    recomputes the identical docs (crawl side) and therefore the
    identical signatures and pairs (dedup side) — the composed
    pipeline stays exactly-once end-to-end, including across a seen
    compaction boundary (tested). The composed per-batch cost is
    O(|batch| + matching buckets): neither the corpus's documents nor
    its signatures are ever recomputed."""

    _DEDUP_STORE_SCHEMA = "id string, band int, bucket string"

    def __init__(self, spark: SparkSession, root: str, num_hosts: int,
                 crawl_delay_ms: int = 500, compact_every: int = 8,
                 compact_partitions: int = 16,
                 shingle_n: int = 3, bands: int = 4, rows_per_band: int = 2):
        super().__init__(spark, root, num_hosts, crawl_delay_ms,
                         compact_every, compact_partitions)
        self.shingle_n = shingle_n
        self.bands = bands
        self.rows_per_band = rows_per_band
        for d in ("dedup_store", "dedup_pairs"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def dedup_store(self, before_batch: int | None = None) -> DataFrame:
        """Persisted signature store (union of committed per-batch
        deltas), restricted to strictly-earlier batches for replay."""
        base = self._dir("dedup_store")
        parts = []
        for d in sorted(os.listdir(base)):
            b = _dir_id(d, "batch=")
            if b is None:
                continue
            if before_batch is None or b < before_batch:
                parts.append(os.path.join(base, d))
        if not parts:
            return self.spark.createDataFrame([], self._DEDUP_STORE_SCHEMA)
        return self.spark.read.parquet(*parts)

    def dedup_pairs(self) -> DataFrame:
        return self.spark.read.parquet(self._dir("dedup_pairs") + "/*")

    def _process_batch(self, decisions: DataFrame, batch_id: int) -> None:
        from ..operators import dedup as DD

        super()._process_batch(decisions, batch_id)
        # read back THIS batch's just-committed docs (idempotent
        # overwrite above makes this deterministic under replay) and
        # push them through the signature store
        docs = self.spark.read.parquet(
            self._dir(f"documents/batch={batch_id:06d}")
        ).select(
            "doc_id",
            F.array_join(
                F.transform(F.col("spans"), lambda s: s.getField("text")), " "
            ).alias("text"),
        )
        pairs, new_banded = DD.incremental_minhash_pairs(
            docs, self.dedup_store(before_batch=batch_id),
            shingle_n=self.shingle_n, bands=self.bands,
            rows_per_band=self.rows_per_band,
        )
        pairs.withColumn("batch", F.lit(batch_id)).write.mode("overwrite").parquet(
            self._dir(f"dedup_pairs/batch={batch_id:06d}")
        )
        new_banded.write.mode("overwrite").parquet(
            self._dir(f"dedup_store/batch={batch_id:06d}")
        )
