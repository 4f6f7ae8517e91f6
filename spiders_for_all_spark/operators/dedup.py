"""URL-seen set: exact anti-join + partitioned bloom / cuckoo prefilter (J1).

The reference dedups via DB unique constraints and ``sorted(set(ids))``
(reference: core/spider.py:218-236, utils/helper.py:55,
spiders/bilibili/downloader.py:295).  At 10^10 URLs the exact seen table is
hash-bucketed by ``pmod(url_hash, n_buckets)`` and fronted by a per-bucket
filter table — bloom bitmaps, or cuckoo filters when URLs must be deleted
(Spark's ``bloom_filter_agg`` is JVM-internal and not persistable, SURVEY
§4.3.1).  Both filters have the same shape: a build (``applyInPandas``
aggregation), an O(delta) cogrouped insert, and ONE shared cogrouped probe
(:func:`_filtered_anti_join`) that differs only in the per-bucket
membership test.  No filter state is ever collected to the driver or
broadcast.  Possibly-seen rows are always exact-confirmed against the seen
set before being dropped, so false positives can never lose a URL — the
filter only shrinks the exact join's probe side.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))


def seen_anti_join(frontier: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact path: frontier ⟕̸ seen on the 64-bit canonical-URL hash."""
    return frontier.join(seen.select("url_hash"), on="url_hash", how="left_anti")


# ---------------------------------------------------------------------------
# The one probe kernel both filters share.  The frontier is shuffled by
# bucket once and each bucket's slice meets its filter row in a cogrouped
# applyInPandas — the filter table stays distributed (at 10^10 keys it is
# GBs, too big for the driver).  Rows the filter calls possibly-seen are
# exact-confirmed against the seen set; a bucket with no filter row has
# never seen a URL, so its whole slice is new.


def _filtered_anti_join(
    frontier: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_buckets: int,
    maybe_seen: Callable[[pd.Series, np.ndarray], np.ndarray],
) -> DataFrame:
    """``maybe_seen(filter_row, url_hashes) -> bool array`` is the filter's
    membership test; it may answer True for unseen hashes, never False for
    seen ones."""
    fb = with_bucket(frontier, n_buckets)
    out_schema = fb.withColumn("_maybe", F.lit(True)).schema
    out_cols = [f.name for f in out_schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=out_cols)
        if len(right) == 0:
            return left.assign(_maybe=False)[out_cols]
        hit = maybe_seen(right.iloc[0], left["url_hash"].to_numpy(np.int64))
        return left.assign(_maybe=hit)[out_cols]

    probed = (
        fb.groupby("bucket")
        .cogroup(filters.groupby("bucket"))
        .applyInPandas(probe, schema=out_schema)
    )
    definitely_new = probed.filter(~F.col("_maybe")).drop("_maybe", "bucket")
    maybe_seen_rows = probed.filter(F.col("_maybe")).drop("_maybe", "bucket")
    confirmed_new = maybe_seen_rows.join(
        seen.select("url_hash"), on="url_hash", how="left_anti"
    )
    return definitely_new.unionByName(confirmed_new)


# ---------------------------------------------------------------------------
# Partitioned bloom filter.
#
# Layout: one row per bucket — (bucket int, n_bits int, n_hashes int,
# bits binary).  k probe positions are derived from the 64-bit url_hash by
# double hashing: pos_i = (h1 + i*h2) mod n_bits with h1 = high 32 bits,
# h2 = low 32 bits | 1 (Kirsch–Mitzenmacher; public-domain construction).


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    u = hashes.astype(np.uint64)
    h1 = (u >> np.uint64(32)).astype(np.int64)
    h2 = ((u & np.uint64(0xFFFFFFFF)) | np.uint64(1)).astype(np.int64)
    i = np.arange(n_hashes, dtype=np.int64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % n_bits).astype(np.int64)


def bloom_params(expected_per_bucket: int, fpp: float = 0.01) -> tuple[int, int]:
    n = max(expected_per_bucket, 1)
    n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = ((n_bits + 7) // 8) * 8
    n_hashes = max(1, round(n_bits / n * math.log(2)))
    return n_bits, min(n_hashes, 16)


BLOOM_SCHEMA = "bucket int, n_bits int, n_hashes int, bits binary"


def _set_bits(bits: np.ndarray, hashes: np.ndarray, n_bits: int, n_hashes: int) -> None:
    flat = _positions(hashes, n_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, flat // 8, (1 << (flat % 8)).astype(np.uint8))


def _bloom_row(bucket: int, n_bits: int, n_hashes: int, bits: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {"bucket": [bucket], "n_bits": [n_bits], "n_hashes": [n_hashes],
         "bits": [bits.tobytes()]}
    )


def build_bloom(
    seen: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    expected_per_bucket: int = 10_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Per-bucket bloom bitmaps over seen.url_hash (applyInPandas UDAF)."""
    n_bits, n_hashes = bloom_params(expected_per_bucket, fpp)

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        _set_bits(bits, pdf["url_hash"].to_numpy(np.int64), n_bits, n_hashes)
        return _bloom_row(int(pdf["bucket"].iloc[0]), n_bits, n_hashes, bits)

    bucketed = with_bucket(seen.select("url_hash"), n_buckets)
    return bucketed.groupBy("bucket").applyInPandas(agg, schema=BLOOM_SCHEMA)


def bloom_insert(
    bloom: DataFrame,
    additions: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    expected_per_bucket: int = 10_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Set the bits of url_hashes in the per-bucket bitmaps — the O(delta)
    incremental-maintenance path (mirrors :func:`cuckoo_insert`).

    Cogrouped applyInPandas: each bucket's bitmap meets only its own
    additions and keeps its stored ``n_bits``/``n_hashes`` (a compaction
    rebuild may have resized it away from the config); untouched buckets
    pass through.  A bucket with additions but no bitmap yet gets a fresh
    one sized from ``expected_per_bucket``, exactly as :func:`build_bloom`
    would size it, so insert(build(A), B) is bit-identical to build(A ∪ B).
    """
    adds = with_bucket(additions.select("url_hash"), n_buckets)
    fresh_bits, fresh_hashes = bloom_params(expected_per_bucket, fpp)

    def apply_ins(filters: pd.DataFrame, toadd: pd.DataFrame) -> pd.DataFrame:
        if len(toadd) == 0:
            return filters
        if len(filters) == 0:
            n_bits, n_hashes = fresh_bits, fresh_hashes
            bits = np.zeros(n_bits // 8, dtype=np.uint8)
        else:
            n_bits = int(filters["n_bits"].iloc[0])
            n_hashes = int(filters["n_hashes"].iloc[0])
            bits = np.frombuffer(bytes(filters["bits"].iloc[0]), np.uint8).copy()
        _set_bits(bits, toadd["url_hash"].to_numpy(np.int64), n_bits, n_hashes)
        return _bloom_row(int(toadd["bucket"].iloc[0]), n_bits, n_hashes, bits)

    return (
        bloom.groupby("bucket")
        .cogroup(adds.groupby("bucket"))
        .applyInPandas(apply_ins, schema=BLOOM_SCHEMA)
    )


def _bloom_contains(row: pd.Series, hashes: np.ndarray) -> np.ndarray:
    n_bits, n_hashes = int(row["n_bits"]), int(row["n_hashes"])
    bits = np.frombuffer(bytes(row["bits"]), np.uint8)
    pos = _positions(hashes, n_bits, n_hashes)
    return ((bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0).all(axis=0)


def seen_anti_join_bloom(
    frontier: DataFrame,
    seen: DataFrame,
    bloom: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Bloom-prefiltered anti-join: row-identical to :func:`seen_anti_join`
    — the bloom can only send extra rows to the exact confirm, never skip
    one."""
    return _filtered_anti_join(frontier, seen, bloom, n_buckets, _bloom_contains)


# ---------------------------------------------------------------------------
# Cuckoo filter: the deletable seen-set fallback (north_star — re-crawl
# eviction).  Standard 2-choice, 4-slot-bucket, 16-bit-fingerprint cuckoo
# filter (Fan et al., CoNEXT'14 construction, public domain idea), stored
# one filter per seen-bucket as a uint16 table blob.


class CuckooFilter:
    SLOTS = 4
    MAX_KICKS = 250

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        n = max(int(capacity / 0.85 / self.SLOTS), 4)
        self.m = 1 << (n - 1).bit_length()  # power-of-two bucket count
        self.table = (
            table
            if table is not None
            else np.zeros((self.m, self.SLOTS), dtype=np.uint16)
        )

    # -- key mapping ------------------------------------------------------
    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        return np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h.astype(np.uint64) % np.uint64(self.m)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * np.uint64(0x5BD1E995)))
            % np.uint64(self.m)
        ).astype(np.int64)

    # -- vectorized bulk build ------------------------------------------------
    def bulk_insert(self, hashes: np.ndarray) -> bool:
        """Insert a batch with numpy passes; returns False if any key
        overflowed (could not be placed even after kicks).

        Each (candidate-bucket, slot) pass places at most one pending key
        per bucket — 2 buckets x SLOTS passes settle ~all keys at the 0.85
        design load; only the residue takes the per-key kick path.  Slot
        layout may differ from sequential insertion, but membership
        semantics (`contains`) are layout-independent.
        """
        h = hashes.astype(np.int64)
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        pending = np.arange(len(h))
        # sweep (candidate-bucket x slot) passes until a full sweep places
        # nothing: each pass settles one key per contended bucket, so dense
        # buckets drain in O(max bucket load) sweeps, all vectorized
        while len(pending):
            placed_any = False
            for bucket_of in (i1, i2):
                for s in range(self.SLOTS):
                    if len(pending) == 0:
                        return True
                    b = bucket_of[pending]
                    _, first_idx = np.unique(b, return_index=True)
                    cand = np.zeros(len(b), dtype=bool)
                    cand[first_idx] = True
                    place = cand & (self.table[b, s] == 0)
                    if place.any():
                        placed_any = True
                        self.table[b[place], s] = fp[pending[place]]
                        pending = pending[~place]
            if not placed_any:
                break
        ok = True
        for j in pending:  # kick path for the residue only
            if not self.insert(int(h[j])):
                ok = False
        return ok

    # -- single-key ops (used at delete/kick time) -------------------------
    def insert(self, h: int) -> bool:
        """Single-key insert, plain-int arithmetic (identical key mapping to
        the vectorized _fp/_i1/_i2) with a deterministic LCG kick path —
        this is the bulk_insert residue handler, so it must be cheap."""
        u = h & 0xFFFFFFFFFFFFFFFF
        fp = ((u >> 48) & 0xFFFF) or 1
        m = self.m
        i1 = u % m
        i2 = (i1 ^ (fp * 0x5BD1E995)) % m
        t = self.table
        for i in (i1, i2):
            row = t[i]
            for s in range(self.SLOTS):
                if row[s] == 0:
                    row[s] = fp
                    return True
        state = (u & 0xFFFFFFFF) or 1  # deterministic per-key kick walk
        i = i1 if state & 1 else i2
        for _ in range(self.MAX_KICKS):
            state = (state * 1103515245 + 12345) & 0xFFFFFFFF
            s = state % self.SLOTS
            fp, t[i, s] = int(t[i, s]), fp
            i = (i ^ (fp * 0x5BD1E995)) % m
            row = t[i]
            for s2 in range(self.SLOTS):
                if row[s2] == 0:
                    row[s2] = fp
                    return True
        return False  # table over-full

    def delete(self, h: int) -> bool:
        arr = np.array([h], dtype=np.int64)
        fp = int(self._fp(arr)[0])
        i1 = int(self._i1(arr)[0])
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            slots = np.nonzero(self.table[i] == fp)[0]
            if len(slots):
                self.table[i, slots[0]] = 0
                return True
        return False

    # -- vectorized membership ---------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.int64)
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).copy()
        m = len(table) // cls.SLOTS
        f = cls.__new__(cls)
        f.m = m
        f.table = table.reshape(m, cls.SLOTS)
        return f


CUCKOO_SCHEMA = "bucket int, capacity int, table binary, overflowed boolean"


def build_cuckoo(
    seen: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 10_000,
) -> DataFrame:
    """Per-bucket cuckoo filters over seen.url_hash (applyInPandas UDAF).

    Sized from the ACTUAL bucket row count (never below
    ``capacity_per_bucket``), built with the vectorized bulk path.  If any
    key still overflows, the bucket is flagged ``overflowed`` and the probe
    routes its whole frontier slice to the exact confirm — an overflow can
    therefore never create a false negative (a seen URL re-emitted as new).
    """

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        cap = max(capacity_per_bucket, len(pdf))
        f = CuckooFilter(cap)
        all_ok = f.bulk_insert(pdf["url_hash"].to_numpy(np.int64))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "capacity": [cap],
                "table": [f.to_bytes()],
                "overflowed": [not all_ok],
            }
        )

    bucketed = with_bucket(seen.select("url_hash"), n_buckets)
    return bucketed.groupBy("bucket").applyInPandas(agg, schema=CUCKOO_SCHEMA)


def cuckoo_insert(
    cuckoo: DataFrame,
    additions: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 10_000,
) -> DataFrame:
    """Bulk-insert url_hashes into the per-bucket filters — the O(delta)
    incremental-maintenance path (mirrors :func:`bloom_insert`).

    Cogrouped applyInPandas: each bucket's filter meets only its own
    additions; untouched buckets pass through by reference.  A bucket with
    additions but no filter yet gets a fresh one (first rows ever hashed
    there).  If an insert cannot be placed (the fixed-size table is past
    its design load between rebuilds), the bucket is flagged
    ``overflowed`` so the probe exact-confirms its whole slice — an
    overflow can degrade speed, never correctness.  Resizing happens only
    at the periodic compaction rebuild (:func:`build_cuckoo`).
    """
    adds = with_bucket(additions.select("url_hash"), n_buckets)

    def apply_ins(filters: pd.DataFrame, toadd: pd.DataFrame) -> pd.DataFrame:
        if len(filters) == 0:
            if len(toadd) == 0:
                return pd.DataFrame(
                    columns=["bucket", "capacity", "table", "overflowed"]
                )
            cap = max(capacity_per_bucket, len(toadd))
            f = CuckooFilter(cap)
            ok = f.bulk_insert(toadd["url_hash"].to_numpy(np.int64))
            return pd.DataFrame(
                {
                    "bucket": [int(toadd["bucket"].iloc[0])],
                    "capacity": [cap],
                    "table": [f.to_bytes()],
                    "overflowed": [not ok],
                }
            )
        if len(toadd):
            f = CuckooFilter.from_bytes(bytes(filters["table"].iloc[0]))
            ok = f.bulk_insert(toadd["url_hash"].to_numpy(np.int64))
            filters = filters.assign(
                table=[f.to_bytes()],
                overflowed=[bool(filters["overflowed"].iloc[0]) or not ok],
            )
        return filters

    return (
        cuckoo.groupby("bucket")
        .cogroup(adds.groupby("bucket"))
        .applyInPandas(apply_ins, schema=CUCKOO_SCHEMA)
    )


def cuckoo_delete(cuckoo: DataFrame, deletions: DataFrame,
                  n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Remove url_hashes from the per-bucket filters (re-crawl eviction).

    Cogrouped applyInPandas: each bucket's filter meets its deletions once;
    untouched buckets pass through.
    """
    dels = with_bucket(deletions.select("url_hash"), n_buckets)

    def apply_del(filters: pd.DataFrame, todel: pd.DataFrame) -> pd.DataFrame:
        if len(filters) == 0:
            return pd.DataFrame(
                columns=["bucket", "capacity", "table", "overflowed"]
            )
        if len(todel):
            f = CuckooFilter.from_bytes(bytes(filters["table"].iloc[0]))
            for h in todel["url_hash"]:
                f.delete(int(h))
            filters = filters.assign(table=[f.to_bytes()])
        return filters

    return (
        cuckoo.groupby("bucket")
        .cogroup(dels.groupby("bucket"))
        .applyInPandas(apply_del, schema=CUCKOO_SCHEMA)
    )


def _cuckoo_contains(row: pd.Series, hashes: np.ndarray) -> np.ndarray:
    if bool(row["overflowed"]):
        # filter is lossy for this bucket: exact-confirm everything
        return np.ones(len(hashes), dtype=bool)
    return CuckooFilter.from_bytes(bytes(row["table"])).contains(hashes)


def seen_anti_join_cuckoo(
    frontier: DataFrame,
    seen: DataFrame,
    cuckoo: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Cuckoo-prefiltered anti-join: like the bloom path, output is
    row-identical to :func:`seen_anti_join` over the same live
    (non-deleted) seen set."""
    return _filtered_anti_join(frontier, seen, cuckoo, n_buckets, _cuckoo_contains)
