"""The crawl plan: checkpointed, resumable frontier rounds.

This is the engine's flagship pipeline — the Spark-first replacement for
the reference's whole crawler fleet (Scrapy scheduler + downloader +
pipelines per container, README.md:10-27) and its resume protocol
(SQLite checkpoint ``insert_last_updated(until)`` after each completed
harvest window, figshare_oai-pmh/files/sql_database.py:415-470, plus the
tmp+rename atomic NDJSON commit, zenodo/files/ndjson.py:50-72).

Model: bulk-synchronous rounds. Each round
    candidates -> canonicalize -> dedupe -> unseen-filter -> robots ->
    politeness top-k per host -> fetch (Arrow batches) -> parse to spans
    -> commit the ROUND_TABLES + _COMMIT marker
``ROUND_TABLES`` is the one list of a round's tables and their schemas.
Every read is schema'd from it, so round -1 reads as the empty state: a
fresh run, a resume and the next round all start from round r-1's state.
Crawl order, documents, lineage and the next round's candidates are not
tables of their own: they are read-time projections of ``fetched``, the
round's fetch_parse rows.
Each round writes ONE frontier table: a full ``frontier_next`` snapshot,
or, between snapshots when ``frontier_deltas`` is on, a ``frontier_add``
delta whose removes are the round's fetched keys. Resume rebuilds the
frontier from the latest snapshot plus the later deltas, whichever
cadence wrote the run directory.
The meta records the geometry of the round's seen-filter segment table
under the table's name (``{"nseg", "nbits", "nhashes"}`` for
``bloom_segments``, ``{"nseg", "nbuckets", "slots"}`` for
``cuckoo_segments``). Round r decides from round r-1's meta alone: with
the key it probes that table and extends, deletes from or rebuilds it
at the recorded geometry; without it (round 0, a filter switched on at
resume) it takes the exact anti-join and builds the table afresh.
Sizing costs no Spark action, and a resume never routes a probe by a
changed segment count.
The marker is written last via tmp+rename — the same
data-before-release ordering the reference uses so bad data never
propagates (README.md:88-97). A killed run resumes from the last round
whose marker exists; uncommitted partials are overwritten.

Determinism (north rule: identical crawl ordering + seen set at N vs 4N
executors): every decision is a pure function of URL strings —
priority/seq/url_hash sort keys, pure-function robots and fetch corpus,
partitioning-independent dedup (min_by, not dropDuplicates). Crawl order
is the sequence of fetched URLs ordered by (round, priority, seq,
url_hash).

Scale notes (10^10 URLs): in production the per-round state tables are
Iceberg — ``url_seen`` bucketed by url_hash (co-partitioned anti-join),
frontier MERGE'd as deltas with periodic compaction (the frontier_deltas
cadence), lineage rows appended per snapshot. The sandbox uses parquet
round directories with identical semantics; the plan shapes (anti-join,
broadcast robots, two-phase top-k, mapInPandas fetch) are what carry to
the cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from ..operators import cuckoo as CK
from ..operators import frontier as FR
from ..operators import robots as RB
from ..operators import seen as SN
from ..operators.fetch import FUSED_SCHEMA, fetch_parse


def _struct(*fields: T.StructField | tuple[str, T.DataType]) -> T.StructType:
    """Fields and (name, type) pairs, all nullable, as parquet reads them."""
    return T.StructType([f if isinstance(f, T.StructField) else T.StructField(*f) for f in fields])


_FRONTIER = _struct(
    ("url_hash", T.StringType()), ("priority", T.IntegerType()), ("seq", T.LongType()),
    ("url", T.StringType()), ("canonical_url", T.StringType()), ("host", T.StringType()),
    ("host_bucket", T.IntegerType()), ("path", T.StringType()),
)

# a committed round's tables, each with the schema its write produces
ROUND_TABLES: dict[str, T.StructType] = {
    "fetched": _struct(*FUSED_SCHEMA, ("round", T.IntegerType()),
                       ("partition_id", T.IntegerType())),
    "new_seen": _struct(("url_hash", T.StringType()), ("first_seen_round", T.IntegerType())),
    "robots_cache": RB.ROBOTS_RULES_SCHEMA,
    "host_state": _struct(
        ("host", T.StringType()), ("fetched_total", T.LongType()), ("bytes_total", T.LongType()),
        ("next_allowed_round", T.IntegerType()), ("at_delay_ms", T.DoubleType()),
    ),
    # the seen filter's segments (seen_filter "bloom" or "cuckoo")
    "bloom_segments": SN.SEGMENT_SCHEMA,
    "cuckoo_segments": CK.CUCKOO_SEGMENT_SCHEMA,
    # one frontier table a round: the snapshot, or the round's adds
    "frontier_next": _FRONTIER,
    "frontier_add": _struct(*_FRONTIER, ("round", T.IntegerType())),
}
FRONTIER_COLS = ROUND_TABLES["frontier_next"].fieldNames()

# priority of URLs discovered as outlinks (seeds carry their own)
DISCOVERED_PRIORITY = 5
# with frontier_deltas, every COMPACT_EVERY-th round writes a full
# frontier snapshot, bounding the delta chain resume reads
COMPACT_EVERY = 4

SEEN_FILTERS = ("exact", "bloom", "cuckoo")


@dataclass
class CrawlConfig:
    num_hosts: int = 50
    round_seconds: int = 2          # politeness budget window per round
    max_rounds: int = 5
    # the unseen filter: "exact" is the seen anti-join alone; "bloom"
    # and "cuckoo" front it with a partitioned membership filter — per-
    # url_hash-segment tables built executor-side, committed with each
    # round beside the seen delta and maintained incrementally, with no
    # driver-side combine anywhere (the north rule's partitioned URL-seen
    # filter). Bloom segments are append-only, OR-maintained
    # (operators/seen.py); cuckoo segments also support delete, the TTL-
    # recrawl path (operators/cuckoo.py). Both take their segment count
    # and design capacity from SN.FILTER_SEGMENTS / SN.FILTER_CAPACITY.
    # Any other value raises ValueError.
    seen_filter: str = "bloom"
    # TTL recrawl inside the loop (figshare EXPIRE analog,
    # figshare_oai-pmh/files/sql_database.py:75): a key first seen in
    # round f EXPIRES at round f + recrawl_ttl_rounds — it leaves the
    # ACTIVE seen set (the URL reads as unseen again when re-discovered)
    # and, with seen_filter="cuckoo", its fingerprint is deleted from
    # the persisted segments under the live-key guard
    # (operators/cuckoo.py::delete_from_cuckoo_segments). Expiry is a
    # pure function of (first_seen_round, current round), so resume
    # reconstruction recomputes the identical active set at any
    # parallelism. None (default) = keys never expire.
    recrawl_ttl_rounds: int | None = None
    # AutoThrottle (every reference crawler ships AUTOTHROTTLE_ENABLED=
    # True, TARGET_CONCURRENCY=1.0 over DOWNLOAD_DELAY=0.5s — e.g.
    # bei_crawler/files/settings.py:2-5): each host's delay adapts to
    # its observed fetch latencies by the Scrapy recurrence
    #   target = latency/C
    #   next = clamp(max(target, (delay + target)/2), base, max)
    #   (non-200 responses may only RAISE the delay, never lower it;
    #   the max(target, mean) step is Scrapy's: one very slow response
    #   jumps the delay to its full target, not halfway)
    # folded per host over the round's fetches in crawl order. The
    # latencies are deterministic corpus DATA (sources/synthetic.py::
    # synth_latency_ms), not wall-clock, so scheduling stays
    # bit-identical at any parallelism (north-rule N-vs-4N invariant);
    # in production the same fold consumes measured latencies. The
    # step, its clamp, C and a new host's start delay live in
    # operators/frontier.py (autothrottle_step, AT_BASE_DELAY_MS,
    # AT_MAX_DELAY_MS, AT_CONCURRENCY, AT_START_DELAY_MS).
    autothrottle: bool = True
    # frontier snapshot cadence: False = a full ``frontier_next``
    # snapshot every round (sandbox default); True = a snapshot every
    # COMPACT_EVERY rounds and an O(delta) ``frontier_add`` on the rest
    # (the removes are the round's fetched keys) — the Iceberg-MERGE-
    # shaped scale path (PLANS.md shuffle inventory). Either way a round
    # writes one frontier table, and resume reads both layouts.
    frontier_deltas: bool = False
    # injectable fetch body (operators/fetch.py contract): None = the
    # deterministic synthetic corpus; operators/http_fetch.HttpFetcher
    # (or a proxy wrapper) puts real sockets behind the SAME plan. If
    # the callable also exposes ``robots_txt(host) -> str``, robots
    # bodies come from it too (_update_robots).
    fetcher: Callable[[str], dict] | None = None

    def __post_init__(self) -> None:
        if self.seen_filter not in SEEN_FILTERS:
            raise ValueError(
                f"seen_filter must be one of {SEEN_FILTERS}, got {self.seen_filter!r}"
            )


class ConcurrentRunError(RuntimeError):
    """Another live process holds this run directory's single-flight lock."""


class CrawlRun:
    """One named crawl run rooted at ``run_dir`` (created if missing).

    Single-flight: ``run()`` takes an exclusive lock file (the ``flock``
    analog of the reference's cron-driven dumpers — two overlapping runs
    would double-fetch and corrupt round state). The lock records the
    holder's pid; a lock whose pid is dead is STALE and silently
    reclaimed (crash recovery), a lock whose pid is alive raises
    ``ConcurrentRunError``."""

    def __init__(self, spark: SparkSession, run_dir: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.run_dir = run_dir
        self.cfg = config or CrawlConfig()
        # cumulative committed seen-key count (from round metas) —
        # adaptive bloom sizing input; _run_locked refreshes it on resume.
        # With TTL recrawl it counts ALL keys ever seen (expired included)
        # — a deliberate overcount that only makes capacity rebuilds fire
        # earlier, never lets the filter overload.
        self._seen_total = 0
        # guarded-delete observability: +1 per segment rebuilt because a
        # fingerprint collision evicted a live key (reporting-grade)
        self.cuckoo_rebuilds = spark.sparkContext.accumulator(0)
        os.makedirs(run_dir, exist_ok=True)

    # ---------- single-flight lock ----------
    @property
    def _lock_path(self) -> str:
        return os.path.join(self.run_dir, "_LOCK")

    def _acquire_lock(self) -> None:
        """Create-or-reclaim under an flock'd guard file.

        The naive unlink/recreate reclaim has a race: two processes that
        both read the same dead pid both unlink — A can unlink the FRESH
        lock B just created, and two runs proceed concurrently. The whole
        examine/reclaim/create sequence therefore runs inside an
        exclusive flock on a persistent sidecar (never unlinked, so its
        inode is stable and the classic flock-then-unlink race can't
        occur). Liveness semantics are unchanged: the lock file records
        the holder's pid; dead pid == stale == reclaimed."""
        import fcntl

        guard = os.open(self._lock_path + ".guard", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(guard, fcntl.LOCK_EX)  # short critical section
            while True:
                try:
                    fd = os.open(self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    with os.fdopen(fd, "w") as f:
                        json.dump({"pid": os.getpid(), "acquired_at": time.time()}, f)
                        f.flush()
                        os.fsync(f.fileno())
                    return
                except FileExistsError:
                    try:
                        with open(self._lock_path) as f:
                            holder = json.load(f)
                        pid = int(holder.get("pid", -1))
                    except (OSError, ValueError):
                        pid = -1  # unreadable/corrupt lock -> treat as stale
                    if pid > 0 and self._pid_alive(pid):
                        raise ConcurrentRunError(
                            f"run_dir {self.run_dir} is locked by live pid {pid}"
                        )
                    # stale (dead holder): reclaim — safe, we hold the guard
                    try:
                        os.unlink(self._lock_path)
                    except FileNotFoundError:
                        pass
        finally:
            fcntl.flock(guard, fcntl.LOCK_UN)
            os.close(guard)

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists but owned elsewhere

    def _release_lock(self) -> None:
        try:
            os.unlink(self._lock_path)
        except FileNotFoundError:
            pass

    # ---------- checkpoint layout ----------
    def _rdir(self, r: int) -> str:
        return os.path.join(self.run_dir, f"round={r:04d}")

    def _marker(self, r: int) -> str:
        return os.path.join(self._rdir(r), "_COMMIT")

    def committed_rounds(self) -> list[int]:
        out = []
        if not os.path.isdir(self.run_dir):
            return out
        for d in sorted(os.listdir(self.run_dir)):
            if d.startswith("round=") and os.path.exists(
                os.path.join(self.run_dir, d, "_COMMIT")
            ):
                out.append(int(d.split("=")[1]))
        return out

    def _commit(self, r: int, meta: dict) -> None:
        """Atomic round commit: write marker content to tmp, rename last."""
        tmp = self._marker(r) + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._marker(r))

    def _meta(self, r: int) -> dict:
        """A committed round's meta (the _COMMIT marker's JSON body);
        round -1's, the empty state's, is empty."""
        if r < 0:
            return {}
        with open(self._marker(r)) as f:
            return json.load(f)

    def _write(self, df: DataFrame, r: int, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self._rdir(r), name))

    def _read(self, name: str, rounds: Iterable[int]) -> DataFrame:
        """Table ``name`` of ``rounds``, read with its declared schema.
        A round before 0 has no tables, so over no round or round -1 this
        is the empty table: the state before the first round."""
        return self.spark.read.schema(ROUND_TABLES[name]).parquet(
            *[os.path.join(self._rdir(i), name) for i in rounds if i >= 0]
        )

    # ---------- candidate preparation ----------
    def _prepare_candidates(self, raw: DataFrame) -> DataFrame:
        """raw(url, priority) -> canonicalized, deduped candidate rows."""
        df = U.with_url_columns(raw)
        df = df.filter(U.url_scheme(F.col("url")).isin("http", "https"))
        df = df.withColumn("seq", U.hash_seq(F.col("canonical_url")))
        df = df.select(*FRONTIER_COLS)
        return FR.dedupe_candidates(df)

    # ---------- robots ----------
    def _update_robots(self, robots: DataFrame, candidates: DataFrame) -> DataFrame:
        """Fetch robots.txt BODIES for hosts not yet in the cache and run
        them through the real parser (operators/robots.py::
        parse_robots_txt) — the full ROBOTSTXT_OBEY loop, not a shortcut
        to the rules (the robots_cache incremental-table analog of the
        reference's HTTPCACHE, ncbi_geo_crawler/files/settings.py:31-35).
        """
        from ..sources.synthetic import render_robots_txt

        new_hosts = (
            candidates.select("host").distinct().join(robots, "host", "left_anti")
        )
        robots_body = getattr(self.cfg.fetcher, "robots_txt", None) or render_robots_txt
        return robots.unionByName(RB.parse_robots_bodies(new_hosts, robots_body))

    # ---------- the round ----------
    def _run_round(
        self,
        r: int,
        candidates_raw: DataFrame,
        frontier: DataFrame,
        seen: DataFrame,
        robots: DataFrame,
    ) -> dict:
        cfg = self.cfg
        t0 = time.monotonic()

        cand = self._prepare_candidates(candidates_raw)
        robots = self._update_robots(robots, cand).cache()
        unseen = frontier_all = fetched = ttl_deleted_segments = None
        try:
            # TTL expiry (cfg.recrawl_ttl_rounds): restrict to the ACTIVE
            # seen set before any seen-dependent step. ``seen`` is always
            # the FULL reconstruction (_seen_through), so filtering by
            # horizon here — rather than mutating persisted state — keeps
            # expiry idempotent across resume at any parallelism. A key
            # re-fetched after expiry re-enters new_seen with the current
            # round, so only its newest row survives the horizon filter.
            expired_new = None
            if cfg.recrawl_ttl_rounds is not None:
                horizon = r - cfg.recrawl_ttl_rounds
                if horizon >= 0:
                    # rows hitting the horizon EXACTLY this round drive the
                    # segment delete below (earlier rows were deleted by
                    # earlier rounds; committed segments persist post-delete)
                    expired_new = seen.filter(F.col("first_seen_round") == F.lit(horizon))
                    seen = seen.filter(F.col("first_seen_round") > F.lit(horizon))

            # unseen filter: candidates never enqueued before. When round
            # r-1's meta records a segment table, candidates are probed
            # against it (each against its own segment, routed by the
            # recorded nseg); definite-new rows skip the anti-join entirely,
            # might-contain rows are confirmed exactly. Otherwise the exact
            # anti-join runs alone. Identical output set either way.
            mode = cfg.seen_filter
            seg_table = None if mode == "exact" else f"{mode}_segments"
            prev_geometry = self._meta(r - 1).get(seg_table) if seg_table else None
            prev = None  # the previous filter: (table, geometry)
            if prev_geometry is None:
                unseen = SN.filter_unseen_exact(cand, seen)
            else:
                segments, nseg = self._read(seg_table, [r - 1]), prev_geometry["nseg"]
                if mode == "bloom":
                    unseen = SN.filter_unseen_bloom_segmented(cand, seen, segments, nseg)
                else:
                    if expired_new is not None:
                        # evict this round's newly-expired fingerprints BEFORE
                        # the probe, under the live-key guard (live = the active
                        # seen set — the complete post-delete membership).
                        # Cached: the post-delete table feeds both the probe and
                        # the next table below, and the guarded delete is the
                        # expensive step.
                        segments = ttl_deleted_segments = CK.delete_from_cuckoo_segments(
                            segments, expired_new.select("url_hash"), nseg,
                            live=seen.select("url_hash"),
                            rebuild_counter=self.cuckoo_rebuilds,
                        ).cache()
                    unseen = CK.filter_unseen_cuckoo_segmented(cand, seen, segments, nseg)
                prev = (segments, prev_geometry)
            unseen = unseen.cache()
            new_seen = unseen.select("url_hash").withColumn("first_seen_round", F.lit(r))

            allowed = FR.robots_filter(unseen, robots)
            if cfg.recrawl_ttl_rounds is not None:
                # a key that expired while still queued reads as unseen when
                # rediscovered: queueing it again would fetch it twice in one
                # round and break the unique url_hash the counts below rely on
                allowed = allowed.join(frontier.select("url_hash"), "url_hash", "left_anti")
            frontier_all = frontier.unionByName(allowed.select(*FRONTIER_COLS)).cache()

            # Retry-After feedback: the prior round's host_state carries
            # next_allowed_round for hosts that 429'd — their budget is 0
            # until the cooldown passes (rows stay in the frontier)
            prev_state = self._read("host_state", [r - 1])
            budgeted = FR.with_host_budget(
                frontier_all, robots, cfg.round_seconds,
                host_state=(
                    prev_state if cfg.autothrottle else prev_state.drop("at_delay_ms")
                ),
                current_round=r,
            )
            selected = FR.topk_per_host(budgeted).drop("host_budget")

            # fused fetch+parse: bodies never cross the JVM<->Python boundary
            fetched = fetch_parse(selected, cfg.num_hosts, fetcher=cfg.fetcher).cache()

            frontier_next = frontier_all.join(
                fetched.select("url_hash"), "url_hash", "left_anti"
            ).select(*FRONTIER_COLS)

            # host_state (FIXTURES F6): cumulative per-host politeness ledger —
            # fetch counts, bytes, and the Retry-After cooldown: a host whose
            # round ended with a (retry-exhausted) 429 is barred for
            # ceil(max_retry_after / round_seconds) rounds. READ back by
            # with_host_budget at the top of the next round — the feedback
            # loop the round-1 audit found missing.
            # signed latency history in crawl order (priority, seq, url_hash):
            # positive for 200s, negative marks a failed fetch (the fold may
            # only raise the delay on those) — the AutoThrottle input
            signed_lat = F.when(
                F.col("status") == 200, F.col("latency_ms").cast("double")
            ).otherwise(-F.col("latency_ms").cast("double"))
            spent = fetched.groupBy("host").agg(
                F.count("*").alias("fetched_round"),
                F.sum("bytes").alias("bytes_round"),
                F.max(
                    F.when(F.col("status") == 429, F.col("retry_after_s")).otherwise(0)
                ).alias("ra_s"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("priority", "seq", "url_hash", signed_lat.alias("x"))
                        )
                    ),
                    lambda s: s.getField("x"),
                ).alias("lat_hist"),
            )
            new_nar = F.when(
                F.col("ra_s") > 0,
                F.lit(r) + F.ceil(F.col("ra_s") / F.lit(float(cfg.round_seconds))),
            ).otherwise(F.lit(None))
            # AutoThrottle fold: seed with the host's previous adapted delay
            # (the start delay for new hosts), fold this round's signed
            # latencies in crawl order; hosts not fetched this round keep
            # their delay.
            prev_at = F.coalesce(F.col("at_delay_ms"), F.lit(float(FR.AT_START_DELAY_MS)))
            new_at = (
                F.when(F.col("lat_hist").isNull(), prev_at).otherwise(
                    F.aggregate(F.col("lat_hist"), prev_at, FR.autothrottle_step)
                )
                if cfg.autothrottle
                else prev_at
            )
            host_state = (
                prev_state.join(spent, "host", "full")
                .select(
                    "host",
                    (F.coalesce(F.col("fetched_total"), F.lit(0))
                     + F.coalesce(F.col("fetched_round"), F.lit(0))).alias("fetched_total"),
                    (F.coalesce(F.col("bytes_total"), F.lit(0))
                     + F.coalesce(F.col("bytes_round"), F.lit(0))).alias("bytes_total"),
                    F.greatest(
                        F.coalesce(F.col("next_allowed_round"), F.lit(0)),
                        F.coalesce(new_nar, F.lit(0)),
                    ).cast("int").alias("next_allowed_round"),
                    new_at.alias("at_delay_ms"),
                )
            )

            # round stats FIRST: the aggregation materializes the cached
            # fetch result (and its cached parents) exactly once, so the
            # parallel write jobs below all hit warm caches instead of racing
            # to fill them. Never a parquet re-read or a frontier
            # reconstruction (each would be an extra full Spark job; at
            # sandbox scale job latency dominates round wall time).
            # frontier_next = frontier_all minus fetched, and both sides have
            # unique url_hash (dedupe_candidates, the seen invariant and, under
            # TTL, the anti-join against the queue), so its count is exact
            # arithmetic on counts already in hand.
            fstats = fetched.agg(
                F.count("*").alias("sel"),
                F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("docs"),
                F.sum(F.size("outlinks")).alias("out"),
            ).first()
            n_unseen = unseen.count()
            n_frontier = frontier_all.count()

            # ---- commit: data first, marker last ----
            # The round's tables are INDEPENDENT outputs of already-cached
            # frames, so their write jobs run CONCURRENTLY (Spark's scheduler
            # interleaves jobs; each small job alone cannot fill the
            # executor). The marker goes last, only after every write returned.
            writes: list[tuple[DataFrame, str]] = [
                # the fetch partition is taken here, on the cached frame the
                # fetch ran in, so lineage() can group by it at read time
                (fetched.withColumn("round", F.lit(r))
                 .withColumn("partition_id", F.spark_partition_id()), "fetched"),
                (new_seen, "new_seen"),
                # host-bounded state tables: coalesce to a few files (a 10^6-
                # host table is still small; corpus-scale tables above keep
                # their natural partitioning)
                (robots.coalesce(8), "robots_cache"),
                (host_state.coalesce(8), "host_state"),
            ]
            if seg_table:
                # incremental maintenance: the previous table plus this
                # round's delta, or a rebuild when there is none, the
                # geometry changed or the committed keys outgrew it
                # (next_bloom_segments / next_cuckoo_segments) — committed
                # with the round and its geometry recorded in the meta, so a
                # resumed run picks up exactly the filter matching its seen set
                next_segments = (
                    SN.next_bloom_segments if mode == "bloom" else CK.next_cuckoo_segments
                )
                new_segments, geometry = next_segments(
                    prev, new_seen, seen, seen_total=self._seen_total + n_unseen,
                    nseg=SN.FILTER_SEGMENTS, expected=SN.FILTER_CAPACITY,
                )
                writes.append((new_segments.coalesce(8), seg_table))
            # one frontier table: the full snapshot, or what entered the
            # frontier this round (what left it is this round's fetched keys)
            writes.append(
                (frontier_next, "frontier_next")
                if not cfg.frontier_deltas or (r + 1) % COMPACT_EVERY == 0
                else (allowed.select(*FRONTIER_COLS).withColumn("round", F.lit(r)), "frontier_add")
            )
            # a killed attempt at this round may have left tables the writes
            # below do not replace (a frontier table of the other kind, say)
            shutil.rmtree(self._rdir(r), ignore_errors=True)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(writes))) as ex:
                futures = [ex.submit(self._write, df, r, name) for df, name in writes]
                for f in futures:
                    f.result()  # propagate the first failure -> no marker

            meta = {
                "round": r,
                "selected": fstats["sel"],
                "documents": int(fstats["docs"] or 0),
                "new_seen": n_unseen,
                "frontier_next": n_frontier - fstats["sel"],
                "outlinks": int(fstats["out"] or 0),
                "wall_s": round(time.monotonic() - t0, 3),
            }
            if seg_table:
                # the committed filter's geometry, read by the next round
                meta[seg_table] = geometry
            if cfg.recrawl_ttl_rounds is not None:
                # cumulative guarded-delete rebuild count as of this commit
                meta["cuckoo_rebuilds_total"] = self.cuckoo_rebuilds.value
            self._commit(r, meta)
            self._seen_total += n_unseen
            return meta
        finally:
            # success or not, the round releases its caches: a failed
            # write or commit must not leave them in the session
            for df in (robots, frontier_all, fetched, unseen, ttl_deleted_segments):
                if df is not None:
                    df.unpersist()

    # ---------- state after a round (round -1: the empty state) ----------
    def _frontier_through(self, r: int) -> DataFrame:
        """Frontier state after round r: the latest ``frontier_next``
        snapshot at or before r, plus the later rounds' adds, less their
        fetched keys — rebuilt lazily, with no materialized rewrite of
        the full frontier. An added row is dropped by a fetch in its own
        round or later, not by an earlier one: under recrawl TTL a
        fetched key is queued again."""
        base_round = next(
            (i for i in range(r, -1, -1)
             if os.path.isdir(os.path.join(self._rdir(i), "frontier_next"))),
            -1,
        )
        base = self._read("frontier_next", [base_round])
        if base_round == r:
            return base
        later = range(base_round + 1, r + 1)
        removed = self._read("fetched", later).groupBy("url_hash").agg(
            F.max("round").alias("removed_round")
        )
        adds = self._read("frontier_add", later)
        return (
            base.withColumn("round", F.lit(base_round)).unionByName(adds)
            .join(removed, "url_hash", "left")
            .filter(F.col("removed_round").isNull() | (F.col("round") > F.col("removed_round")))
            .select(*FRONTIER_COLS)
        )

    def _seen_through(self, r: int) -> DataFrame:
        return self._read("new_seen", range(r + 1))

    # ---------- driver ----------
    def run(self, seeds: DataFrame | None = None, resume: bool = False) -> list[dict]:
        """Run (or resume) the crawl to cfg.max_rounds. ``seeds`` must have
        (url, priority); required unless resuming past round 0. Raises
        ``ConcurrentRunError`` if another live process holds the run."""
        self._acquire_lock()
        try:
            return self._run_locked(seeds, resume)
        finally:
            self._release_lock()

    def _run_locked(self, seeds: DataFrame | None, resume: bool) -> list[dict]:
        done = self.committed_rounds() if resume else []
        if not resume:
            # fresh run: clear any prior state
            for d in os.listdir(self.run_dir):
                if d.startswith("round="):
                    shutil.rmtree(os.path.join(self.run_dir, d))
        if not done and seeds is None:
            raise ValueError("seeds required for a fresh run")
        # cumulative committed seen-key count — drives adaptive bloom
        # sizing (a count from meta JSON, never a Spark count() job)
        self._seen_total = sum(self._meta(i)["new_seen"] for i in done)
        metas: list[dict] = []
        for r in range(done[-1] + 1 if done else 0, self.cfg.max_rounds):
            # the state after round r - 1; round -1's is the empty state
            candidates = self._outlinks(r - 1) if r > 0 else seeds.select(
                "url", F.col("priority").cast("int")
            )
            meta = self._run_round(
                r, candidates, self._frontier_through(r - 1), self._seen_through(r - 1),
                self._read("robots_cache", [r - 1]),
            )
            metas.append(meta)
            if meta["frontier_next"] == 0 and meta["outlinks"] == 0:
                break
        return metas

    # ---------- result accessors ----------
    # crawl order, documents, lineage and outlinks are projections of the
    # committed rounds' ``fetched`` tables
    def _outlinks(self, r: int) -> DataFrame:
        """Round r's discovered URLs: the next round's candidates."""
        return self._read("fetched", [r]).select(
            F.explode("outlinks").alias("url"), F.lit(DISCOVERED_PRIORITY).alias("priority")
        )

    def crawl_order(self) -> DataFrame:
        """Fetched URLs in canonical crawl order (round, priority, seq,
        url_hash) — the north-rule ordering invariant."""
        return self._read("fetched", self.committed_rounds()).select(
            "url_hash", "canonical_url", "host", "priority", "seq", "status", "attempts",
            "bytes", "round",
        ).orderBy("round", "priority", "seq", "url_hash")

    def documents(self) -> DataFrame:
        """1->N fan-out of the 200s: the dataset doc (doc_id = url_hash)
        plus one doc per embedded sample (doc_id = url_hash#role) — the
        SRA study -> dataset + samples shape (ncbi_sra.py:381+)."""
        ok = self._read("fetched", self.committed_rounds()).filter(F.col("status") == 200)
        samples = ok.select("url_hash", "canonical_url", "round", F.explode("subdocs").alias("sd"))
        return ok.select(
            F.col("url_hash").alias("doc_id"), "canonical_url", "spans", "round"
        ).unionByName(samples.select(
            F.concat("url_hash", F.lit("#"), "sd.role").alias("doc_id"), "canonical_url",
            F.col("sd.spans").alias("spans"), "round",
        ))

    def seen(self) -> DataFrame:
        return self._read("new_seen", self.committed_rounds())

    def lineage(self) -> DataFrame:
        """Per (round, fetch partition, host bucket) fetch counters."""
        return (
            self._read("fetched", self.committed_rounds())
            .groupBy("partition_id", "host_bucket", "round")
            .agg(
                F.count("*").alias("urls_fetched"),
                F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
                F.sum("bytes").alias("bytes"),
                F.max("fetch_wall_ms").alias("wall_ms"),
                F.sum("attempts").alias("attempts"),
            )
            .select("partition_id", "host_bucket", "urls_fetched", "ok", "bytes", "wall_ms",
                    "attempts", "round")
        )

    def host_state(self) -> DataFrame:
        """Cumulative per-host politeness ledger as of the last round."""
        return self._read("host_state", self.committed_rounds()[-1:])
