"""Frontier scheduling: robots filter + host-bucketed politeness top-k.

Replaces the Scrapy scheduler/downloader pair (per-host DOWNLOAD_DELAY=0.5,
AUTOTHROTTLE_TARGET_CONCURRENCY=1.0, ROBOTSTXT_OBEY —
tycho_crawler/files/settings.py:2-6) with a deterministic bulk-synchronous
round model:

- each crawl round spans ``round_seconds`` of politeness budget;
- a host with ``crawl_delay_ms`` may be fetched at most
  ``k = round_seconds*1000 / crawl_delay_ms`` times per round — the same
  average rate the reference enforces with sleeps, but batch-shaped;
- within a host, URLs are taken in total order ``(priority, seq,
  url_hash)`` — all pure functions of the URL (functions/urls.py), never
  of task scheduling, which is what makes crawl ordering identical at
  N and 4N executors (BASELINE.json north_rule).

Skew (the Zenodo/ImmPort hot-host problem): a naive
``Window.partitionBy(host)`` sorts the entire hot host's queue in one
task. ``topk_per_host`` therefore runs two phases: a salted local top-k
(each salt shard keeps its own best k) then the exact top-k over the
``salt_factor * k`` survivors — a classic partial top-k push-down; result
is identical, the big sort never happens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["priority", "seq", "url_hash"]

# AutoThrottle clamp floor (the DOWNLOAD_DELAY analog), ceiling and
# target concurrency
AT_BASE_DELAY_MS = 500.0
AT_MAX_DELAY_MS = 60_000.0
AT_CONCURRENCY = 1.0
# Scrapy separates AUTOTHROTTLE_START_DELAY (5s) from the floor: a new
# host starts throttled and earns its budget back as it proves fast
# (delay adapts DOWN toward the floor), while slow hosts stay
# throttled. 5000.0 is the Scrapy default no reference crawler
# overrides; AT_BASE_DELAY_MS here would start every host at the floor.
#
# Deliberate model difference, documented: Scrapy applies START_DELAY
# from a slot's FIRST request; this round-based model applies it as the
# SEED of the first latency fold (plans/crawl.py host_state), so a
# host's first-round budget is still set by the robots/default floor and
# the start delay binds from round 2. Rationale: Scrapy has no round
# budgets to start from — mapping "slot created at 5s" onto "first-round
# budget = floor(round/5s) = 1" would conflate the scheduler models; the
# fold-seed form preserves Scrapy's observable property (a new host must
# PROVE fast before its rate rises above the start level) one round
# later. The Python oracle (plans/oracle.py) mirrors this exactly.
AT_START_DELAY_MS = 5000.0


def robots_filter(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop URLs that robots.txt disallows for their host, by
    operators/robots.py::is_allowed's rule: the longest matching prefix
    wins, and Allow wins a tie.

    ``robots(host, disallow_prefixes, allow_prefixes, crawl_delay_ms)``
    is small (one row per host) -> broadcast join, mirroring the
    reference's broadcast of lookup dicts to pool workers
    (utils/pubtator.py:947-951). Hosts with no robots row are allowed
    (reference defaults open unless disallowed), and a NULL prefix array
    reads as empty.
    """
    r = F.broadcast(robots.select("host", "disallow_prefixes", "allow_prefixes"))
    joined = candidates.join(r, on="host", how="left")

    def longest(prefixes: str) -> Column:
        # -1 when no prefix matches, also for a NULL array
        hits = F.filter(F.col(prefixes), lambda p: F.col("path").startswith(p))
        return F.coalesce(F.array_max(F.transform(hits, F.length)), F.lit(-1))

    allowed = longest("allow_prefixes") >= longest("disallow_prefixes")
    return joined.filter(allowed).drop("disallow_prefixes", "allow_prefixes")


def with_host_budget(
    candidates: DataFrame,
    robots: DataFrame,
    round_seconds: int = 30,
    host_state: DataFrame | None = None,
    current_round: int = 0,
) -> DataFrame:
    """Attach per-host round budget k = round_ms / crawl_delay_ms (min 1);
    hosts missing from robots get the 500 ms reference default.

    ``host_state`` (host, next_allowed_round[, at_delay_ms]) closes two
    feedback loops:

    - Retry-After (dataverse/files/dataverse.py:20-52): a host whose
      last round ended in a 429 carries a cooldown — its budget is 0
      until ``current_round`` reaches next_allowed_round, so its
      frontier rows stay queued instead of hammering the host again.
    - AutoThrottle (every reference crawler ships
      AUTOTHROTTLE_ENABLED=True, e.g. bei_crawler/files/settings.py:
      2-5): ``at_delay_ms`` is the per-host delay adapted to observed
      latency (plans/crawl.py folds ``autothrottle_step`` over each
      round's fetch latencies). Like Scrapy, the adapted delay can only
      RAISE the effective delay above the robots/default floor, never
      lower it: effective = greatest(crawl_delay_ms, at_delay_ms)."""
    r = F.broadcast(robots.select("host", "crawl_delay_ms"))
    out = candidates.join(r, on="host", how="left")
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(500))
    has_state = host_state is not None and "next_allowed_round" in host_state.columns
    throttled = has_state and "at_delay_ms" in host_state.columns
    if throttled:
        delay = F.greatest(delay.cast("double"), F.coalesce(F.col("at_delay_ms"), F.lit(0.0)))
    budget = F.when(delay <= 0, F.lit(round_seconds * 1000)).otherwise(
        F.greatest(F.floor(F.lit(round_seconds * 1000) / delay), F.lit(1))
    )
    if has_state:
        cols = ["host", "next_allowed_round"] + (["at_delay_ms"] if throttled else [])
        hs = F.broadcast(host_state.select(*cols))
        out = out.join(hs, on="host", how="left")
        budget = F.when(
            F.coalesce(F.col("next_allowed_round"), F.lit(0)) > F.lit(current_round),
            F.lit(0),
        ).otherwise(budget)
        out = out.withColumn("host_budget", budget.cast("int")).drop(
            "crawl_delay_ms", "next_allowed_round", *(["at_delay_ms"] if throttled else [])
        )
        return out
    return out.withColumn("host_budget", budget.cast("int")).drop("crawl_delay_ms")


def autothrottle_step(acc: Column, x: Column) -> Column:
    """One step of the Scrapy AutoThrottle recurrence, the merge function
    of ``F.aggregate`` over a host's signed latencies in crawl order:

        target = |x| / AT_CONCURRENCY
        next = clamp(max(target, (acc + target) / 2),
                     AT_BASE_DELAY_MS, AT_MAX_DELAY_MS)

    A negative ``x`` marks a failed fetch, which may only RAISE the
    delay. The max(target, mean) step is Scrapy's: one very slow
    response jumps the delay to its full target, not halfway. The
    result is the ``at_delay_ms`` that ``with_host_budget`` reads."""
    tgt = F.abs(x) / F.lit(AT_CONCURRENCY)
    nd = F.least(
        F.greatest(tgt, (acc + tgt) / 2, F.lit(AT_BASE_DELAY_MS)), F.lit(AT_MAX_DELAY_MS)
    )
    return F.when(x >= 0, nd).otherwise(F.greatest(acc, nd))


def topk_per_host(
    df: DataFrame,
    k_col: str = "host_budget",
    salt_factor: int = 8,
) -> DataFrame:
    """Deterministic top-k per host by (priority, seq, url_hash).

    Two-phase: phase 1 computes top-k within (host, salt) where
    salt = pmod(xxhash64(url_hash), salt_factor) — xxhash64 is fine here
    because membership of the salted *candidate* set never affects the
    final result, only the exact phase-2 cut does; phase 2 re-ranks the
    survivors exactly. Output == single-phase window top-k, but the hot
    host's sort is sharded salt_factor ways.
    """
    order = [F.col(c).asc() for c in ORDER_COLS]
    salted = df.withColumn("__salt", F.pmod(F.xxhash64("url_hash"), F.lit(salt_factor)))
    w1 = Window.partitionBy("host", "__salt").orderBy(*order)
    survivors = (
        salted.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= F.col(k_col))
        .drop("__rn1", "__salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= F.col(k_col))
        .drop("__rn")
    )


def dedupe_candidates(candidates: DataFrame) -> DataFrame:
    """Keep exactly one row per url_hash, deterministically: the one with
    the best (priority, seq) — min_by via a struct min, so the result is
    independent of partitioning (unlike dropDuplicates, which keeps an
    arbitrary first row)."""
    keep = F.min(F.struct(*[F.col(c) for c in ORDER_COLS], F.col("url"))).alias("best")
    others = [
        c for c in candidates.columns if c not in set(ORDER_COLS) | {"url", "url_hash"}
    ]
    firsts = [F.min(F.struct(F.col(c)).alias(c)).alias(f"__{c}") for c in others]
    agg = candidates.groupBy("url_hash").agg(keep, *firsts)
    cols = [F.col("url_hash")] + [
        F.col(f"best.{c}").alias(c) for c in ORDER_COLS if c != "url_hash"
    ] + [F.col("best.url").alias("url")] + [F.col(f"__{c}.{c}").alias(c) for c in others]
    return agg.select(*cols)
