"""Cuckoo filter: the deletable alternative to the bloom prefilter.

The north-star design names a "partitioned cuckoo/bloom URL-seen
filter". Bloom (operators/seen.py) is append-only; a cuckoo filter also
supports DELETE, which matters for the engine's recrawl story: when a
URL's cache TTL expires (EXPIRE, figshare_oai-pmh/files/sql_database.py:75)
it must become fetchable again — with a bloom you rebuild the whole
filter, with a cuckoo you evict one fingerprint.

Vectorized numpy implementation (buckets x slots of uint16 fingerprints)
with the standard partial-cuckoo-hashing layout:

    b1 = hash(key) mod nbuckets
    b2 = b1 XOR hash(fingerprint) mod nbuckets     (partner bucket)

so membership needs only (fingerprint, one bucket index) — and eviction
relocation never re-reads the key. Same integration points as the bloom:
per-segment tables built executor-side (applyInPandas), maintained by
inserting each round's delta into its own segment in place of the
bloom's OR, and probed by cogrouping candidates with their segment.

False positives (~2^-16 per slot probed) are confirmed by the exact
anti-join, exactly like the bloom path — a false positive can cost a
join lookup, never a dropped URL.
"""

from __future__ import annotations

import numpy as np

_EMPTY = 0  # fingerprints are 1..65535; 0 marks an empty slot
# table slots allocated per design-capacity key: a filter built for
# ``capacity`` keys has at least ``capacity * _HEADROOM`` slots
_HEADROOM = 1.25


def cuckoo_nbuckets(capacity: int, slots: int) -> int:
    """Bucket count of a filter sized for ``capacity`` keys: the least
    power of two (so the XOR partner stays in range) giving at least
    ``capacity * _HEADROOM`` slots."""
    nb = 1
    while nb * slots < capacity * _HEADROOM:
        nb <<= 1
    return nb


def _hash64(arr: np.ndarray, seed: int) -> np.ndarray:
    """Cheap splitmix-style 64-bit mix, vectorized (uint64 in/out)."""
    x = arr.astype(np.uint64) + np.uint64(seed * 0x9E3779B97F4A7C15 & (2**64 - 1))
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


class CuckooFilter:
    def __init__(self, capacity: int, slots_per_bucket: int = 4):
        self.nbuckets = cuckoo_nbuckets(capacity, slots_per_bucket)
        self.slots = slots_per_bucket
        self.table = np.zeros((self.nbuckets, slots_per_bucket), dtype=np.uint16)
        self.count = 0
        self.max_kicks = 500
        # victim stash (standard cuckoo design): when an eviction walk
        # exhausts max_kicks, the final displaced fingerprint lands here
        # instead of being dropped — a previously-inserted key must never
        # become a false negative (it would be re-fetched as definite-new).
        self.stash: list[tuple[int, int]] = []  # (bucket1_of_victim, fp)

    # --- key derivation (vectorized over uint64 pre-hashes) ---
    def _fingerprint(self, h: np.ndarray) -> np.ndarray:
        fp = (_hash64(h, 1) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == _EMPTY, np.uint16(1), fp)

    def _bucket1(self, h: np.ndarray) -> np.ndarray:
        return (_hash64(h, 2) & np.uint64(self.nbuckets - 1)).astype(np.int64)

    def _partner(self, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            b.astype(np.uint64) ^ (_hash64(fp.astype(np.uint64), 3) & np.uint64(self.nbuckets - 1))
        ).astype(np.int64)

    # --- single-key ops (driver-side state maintenance) ---
    def _insert_one(self, b1: int, fp: int) -> bool:
        for b in (b1, int(self._partner(np.array([b1]), np.array([fp], np.uint16))[0])):
            row = self.table[b]
            empty = np.nonzero(row == _EMPTY)[0]
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        # evict: random-walk relocation
        rng = np.random.default_rng(fp * 2654435761 % 2**32)  # deterministic kicks
        b, cur = b1, fp
        for _ in range(self.max_kicks):
            slot = int(rng.integers(self.slots))
            cur, self.table[b, slot] = int(self.table[b, slot]), cur
            b = int(self._partner(np.array([b]), np.array([cur], np.uint16))[0])
            row = self.table[b]
            empty = np.nonzero(row == _EMPTY)[0]
            if len(empty):
                row[empty[0]] = cur
                self.count += 1
                return True
        # walk exhausted: the final displaced victim goes to the stash
        # (b is one of ITS two valid buckets), never silently dropped —
        # the new key is in the table, the victim stays queryable.
        self.stash.append((b, cur))
        self.count += 1
        return True

    def insert_hashes(self, h: np.ndarray) -> int:
        """Insert pre-hashed keys (uint64, e.g. xxhash64 of url_hash).
        Returns number inserted."""
        fps = self._fingerprint(h)
        b1s = self._bucket1(h)
        return sum(1 for b1, fp in zip(b1s, fps) if self._insert_one(int(b1), int(fp)))

    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership for pre-hashed keys -> bool array."""
        fps = self._fingerprint(h)
        b1 = self._bucket1(h)
        b2 = self._partner(b1, fps)
        hit = (self.table[b1] == fps[:, None]).any(axis=1)
        hit |= (self.table[b2] == fps[:, None]).any(axis=1)
        # a stash entry (sb, sfp) matches a key iff fingerprints agree and
        # sb is one of the key's two buckets (the bucket pair is fully
        # determined by (fp, either bucket) via the XOR partner map)
        for sb, sfp in self.stash:
            hit |= (fps == np.uint16(sfp)) & ((b1 == sb) | (b2 == sb))
        return hit

    def delete_hashes(self, h: np.ndarray) -> int:
        """Delete one fingerprint copy per key (TTL eviction). Returns
        number actually removed."""
        fps = self._fingerprint(h)
        b1s = self._bucket1(h)
        b2s = self._partner(b1s, fps)
        removed = 0
        for fp, b1, b2 in zip(fps, b1s, b2s):
            done = False
            for b in (int(b1), int(b2)):
                row = self.table[b]
                hit = np.nonzero(row == fp)[0]
                if len(hit):
                    row[hit[0]] = _EMPTY
                    self.count -= 1
                    removed += 1
                    done = True
                    break
            if not done:
                for i, (sb, sfp) in enumerate(self.stash):
                    if sfp == int(fp) and sb in (int(b1), int(b2)):
                        self.stash.pop(i)
                        self.count -= 1
                        removed += 1
                        break
        return removed

    def to_bytes(self) -> bytes:
        """Table bytes followed by stash entries as (bucket, fp) uint64
        pairs; from_bytes splits on the known table size."""
        tail = np.array([x for e in self.stash for x in e], dtype=np.uint64)
        return self.table.tobytes() + tail.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, nbuckets: int, slots: int) -> "CuckooFilter":
        cf = cls.__new__(cls)
        cf.nbuckets, cf.slots, cf.max_kicks = nbuckets, slots, 500
        nbytes = nbuckets * slots * 2
        cf.table = np.frombuffer(blob[:nbytes], dtype=np.uint16).reshape(nbuckets, slots).copy()
        tail = np.frombuffer(blob[nbytes:], dtype=np.uint64)
        cf.stash = [(int(tail[i]), int(tail[i + 1])) for i in range(0, len(tail), 2)]
        cf.count = int((cf.table != _EMPTY).sum()) + len(cf.stash)
        return cf

    @classmethod
    def empty(cls, nbuckets: int, slots: int) -> "CuckooFilter":
        """A filter holding no key, at the given geometry."""
        return cls.from_bytes(bytes(nbuckets * slots * 2), nbuckets, slots)


# --------------------- segmented (partitioned) cuckoo ---------------------
#
# The north rule names a "partitioned cuckoo/bloom URL-seen filter". The
# bloom side lives as per-bucket segments (operators/seen.py); this is
# the same partitioned layout for the cuckoo filter — one serialized
# filter per url_hash segment, built/maintained/probed executor-side
# with applyInPandas/cogroup, never a driver-resident table — plus the
# capability blooms lack: DELETE. When a URL's cache TTL expires
# (EXPIRE, figshare_oai-pmh/files/sql_database.py:75) its fingerprint is
# evicted from ITS OWN segment only and the URL becomes fetchable again;
# the bloom path would rebuild the full filter. Geometry (nseg,
# nbuckets, slots) is recorded per row and in the round meta exactly
# like the bloom segments: ``next_cuckoo_segments`` chooses it on the
# driver, and probes, inserts and deletes take the recorded nseg as an
# argument (same false-negative hazard, same fix).

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from .seen import drop_confirmed_seen, segment_of  # noqa: E402

CUCKOO_SEGMENT_SCHEMA = T.StructType([
    T.StructField("seg", T.IntegerType()),
    T.StructField("nseg", T.IntegerType()),
    T.StructField("nbuckets", T.LongType()),
    T.StructField("slots", T.IntegerType()),
    T.StructField("blob", T.BinaryType()),
])


def _key_hash(col):
    """JVM-side 64-bit key hash (xxhash64), independent of the segment
    hash (different salt) and of the filter's internal mixes."""
    return F.xxhash64(col, F.lit("#cuckoo"))


def _u64(series) -> "np.ndarray":
    return series.values.astype("int64").view("uint64")


def _hashed(keys: DataFrame, key: str, nseg: int) -> DataFrame:
    """Each key's segment id and filter hash: the cogroup side of every
    segment build, insert and delete."""
    return keys.select(
        segment_of(F.col(key), nseg).alias("__seg"), _key_hash(F.col(key)).alias("__h")
    )


def _segment_row(seg: int, nseg: int, cf: CuckooFilter) -> pd.DataFrame:
    return pd.DataFrame({
        "seg": [seg], "nseg": [nseg], "nbuckets": [cf.nbuckets], "slots": [cf.slots],
        "blob": [cf.to_bytes()],
    })


def _no_row() -> pd.DataFrame:
    return pd.DataFrame(columns=CUCKOO_SEGMENT_SCHEMA.fieldNames())


def cuckoo_geometry(capacity: int, nseg: int, slots: int = 4) -> dict:
    """The geometry ``{"nseg", "nbuckets", "slots"}`` of a segment table
    built for ``capacity`` keys in TOTAL: each segment's filter is sized
    for capacity/nseg keys, floored at 64."""
    per_seg = max(capacity // max(nseg, 1), 64)
    return {"nseg": nseg, "nbuckets": cuckoo_nbuckets(per_seg, slots), "slots": slots}


def build_cuckoo_segments(
    seen: DataFrame, key: str = "url_hash", nseg: int = 64,
    capacity: int = 1_000_000, slots: int = 4,
) -> DataFrame:
    """Per-segment cuckoo filters over the seen keys, at
    ``cuckoo_geometry(capacity, nseg, slots)``: one shuffle on the
    segment key, one serialized filter per group, zero driver state."""
    nbuckets = cuckoo_geometry(capacity, nseg, slots)["nbuckets"]

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return _no_row()
        cf = CuckooFilter.empty(nbuckets, slots)
        cf.insert_hashes(_u64(pdf["__h"]))
        return _segment_row(int(pdf["__seg"].iloc[0]), nseg, cf)

    return (
        _hashed(seen, key, nseg).groupBy("__seg")
        .applyInPandas(_build, schema=CUCKOO_SEGMENT_SCHEMA)
    )


def insert_into_cuckoo_segments(
    segments: DataFrame, delta: DataFrame, nseg: int, nbuckets: int, slots: int,
    key: str = "url_hash",
) -> DataFrame:
    """Cogroup each segment with its own delta keys and insert them —
    the incremental-maintenance step. ``nseg``, ``nbuckets`` and
    ``slots`` are the table's geometry; a key group with no segment row
    starts an empty filter at that geometry."""

    def _merge(kdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if len(sdf) == 0 and len(kdf) == 0:
            return _no_row()
        if len(sdf) == 0:
            cf, seg = CuckooFilter.empty(nbuckets, slots), int(kdf["__seg"].iloc[0])
        else:
            cf = CuckooFilter.from_bytes(
                sdf["blob"].iloc[0], int(sdf["nbuckets"].iloc[0]), int(sdf["slots"].iloc[0])
            )
            seg = int(sdf["seg"].iloc[0])
        if len(kdf):
            cf.insert_hashes(_u64(kdf["__h"]))
        return _segment_row(seg, nseg, cf)

    return (
        _hashed(delta, key, nseg).groupBy("__seg")
        .cogroup(segments.groupBy("seg"))
        .applyInPandas(_merge, schema=CUCKOO_SEGMENT_SCHEMA)
    )


def next_cuckoo_segments(
    prev: tuple[DataFrame, dict] | None,
    new_seen: DataFrame,
    seen: DataFrame,
    seen_total: int,
    nseg: int,
    expected: int,
    key: str = "url_hash",
) -> tuple[DataFrame, dict]:
    """The segment table to commit with a round and its geometry
    ``{"nseg", "nbuckets", "slots"}``, cuckoo form of
    ``seen.next_bloom_segments``: insert the delta ``new_seen`` into
    ``prev`` (the previous round's table with its geometry), each key
    into its own segment. The table is instead REBUILT from ``seen``
    plus ``new_seen``, for the larger of ``expected`` and 2x
    ``seen_total`` keys, when there is no previous table, its segment
    count differs from ``nseg``, or ``seen_total`` (the committed key
    count) passes 80% of its design capacity — past that, eviction
    walks degrade and spill to the stash. The geometry is chosen here,
    on the driver: building the plan runs no Spark action."""
    if prev is not None:
        table, geometry = prev
        cap_total = int(geometry["nbuckets"] * geometry["slots"] * geometry["nseg"] / _HEADROOM)
        if geometry["nseg"] == nseg and seen_total <= 0.8 * cap_total:
            return insert_into_cuckoo_segments(
                table, new_seen.select(key), key=key, **geometry
            ), geometry
    capacity = max(expected, 2 * seen_total)
    table = build_cuckoo_segments(
        seen.select(key).unionByName(new_seen.select(key)), key=key, nseg=nseg,
        capacity=capacity,
    )
    return table, cuckoo_geometry(capacity, nseg)


def delete_from_cuckoo_segments(
    segments: DataFrame, expired: DataFrame, nseg: int, key: str = "url_hash",
    live: DataFrame | None = None, rebuild_counter=None,
) -> DataFrame:
    """TTL recrawl: evict the expired keys' fingerprints from their own
    segments — those URLs read as definitely-unseen again, no rebuild.
    ``nseg`` is the table's segment count.

    Deletion hazard and its GUARD: cuckoo deletion removes the first
    slot matching (fingerprint, bucket-pair), and two keys colliding on
    the 16-bit fingerprint with a shared bucket are indistinguishable —
    deleting an expired key can evict a LIVE key's copy instead (its
    own copy sits in the partner bucket outside the live key's pair),
    turning that URL into a silent false negative (re-fetched as
    definite-new). With ``live`` (the segment's surviving seen keys —
    the round has them as seen MINUS expired), each segment VERIFIES
    after deletion that every live key still probes present and
    REBUILDS itself from its live set when a collision evicted one;
    rebuilt segments keep their recorded geometry. ``live`` must be the
    COMPLETE post-delete membership, since a rebuilt segment contains
    exactly those keys. Without ``live`` the unguarded single-copy
    delete runs (callers that tolerate ~n²/2¹⁶/nbuckets re-fetches).

    ``rebuild_counter`` (optional Spark accumulator) is incremented once
    per segment that had to rebuild — observability for soak runs; task
    retries/speculation can overcount, so it is reporting-grade, not an
    exactness input."""

    def _tag(df: DataFrame, is_live: int) -> DataFrame:
        return _hashed(df, key, nseg).withColumn("__live", F.lit(is_live))

    keys = _tag(expired, 0)
    if live is not None:
        keys = keys.unionByName(_tag(live, 1))

    def _merge(kdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if len(sdf) == 0:
            # no filter for this segment: delete is a no-op, and there
            # is no membership state for live keys to lose
            return _no_row()
        cf = CuckooFilter.from_bytes(
            sdf["blob"].iloc[0], int(sdf["nbuckets"].iloc[0]), int(sdf["slots"].iloc[0])
        )
        exp = kdf[kdf["__live"] == 0]
        liv = kdf[kdf["__live"] == 1]
        if len(exp):
            cf.delete_hashes(_u64(exp["__h"]))
        if len(liv):
            lh = _u64(liv["__h"])
            if not cf.contains_hashes(lh).all():
                # a (fingerprint, bucket) collision evicted a live key:
                # rebuild this segment from its live set, preserving the
                # recorded geometry (per-row geometry keeps probes exact)
                cf = CuckooFilter.empty(cf.nbuckets, cf.slots)
                cf.insert_hashes(lh)
                if rebuild_counter is not None:
                    rebuild_counter.add(1)
        return _segment_row(int(sdf["seg"].iloc[0]), nseg, cf)

    return (
        keys.groupBy("__seg")
        .cogroup(segments.groupBy("seg"))
        .applyInPandas(_merge, schema=CUCKOO_SEGMENT_SCHEMA)
    )


def probe_cuckoo_segmented(
    candidates: DataFrame, segments: DataFrame, nseg: int, key: str = "url_hash",
) -> DataFrame:
    """Add ``__maybe_seen`` by probing each candidate against ITS OWN
    segment (cogroup). ``nseg`` must be the segment count the table was
    built with (the crawl reads it from the round meta): any other
    routing produces false negatives."""
    keep = [f.name for f in candidates.schema.fields]
    out_schema = T.StructType(
        candidates.schema.fields + [T.StructField("__maybe_seen", T.BooleanType())]
    )

    def _probe(cand: pd.DataFrame, seg: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return pd.DataFrame(columns=keep + ["__maybe_seen"])
        out = cand[keep].copy()
        if len(seg) == 0:
            out["__maybe_seen"] = False
            return out
        cf = CuckooFilter.from_bytes(
            seg["blob"].iloc[0], int(seg["nbuckets"].iloc[0]), int(seg["slots"].iloc[0])
        )
        out["__maybe_seen"] = cf.contains_hashes(_u64(cand["__h"]))
        return out

    withh = candidates.withColumns({
        "__seg": segment_of(F.col(key), nseg),
        "__h": _key_hash(F.col(key)),
    })
    return (
        withh.groupBy("__seg")
        .cogroup(segments.groupBy("seg"))
        .applyInPandas(_probe, schema=out_schema)
    )


def filter_unseen_cuckoo_segmented(
    candidates: DataFrame,
    active_seen: DataFrame,
    segments: DataFrame,
    nseg: int,
    key: str = "url_hash",
) -> DataFrame:
    """Cuckoo-prefiltered unseen filter, exact semantics (bloom twin):
    definite-new rows are kept, might-contain rows are confirmed against
    ``active_seen`` (the seen set MINUS expired keys — with TTL recrawl
    the filter may legitimately contain nothing for an expired key, and
    a stale might-contain is caught by the exact join). Both run in the
    one conditional anti-join of ``seen.drop_confirmed_seen``, so the
    probe runs once. ``segments`` is a table built with ``nseg``
    segments over (a superset of) ``active_seen``."""
    probed = probe_cuckoo_segmented(candidates, segments, nseg, key=key)
    return drop_confirmed_seen(probed, active_seen, key)
