"""Exactly-once state: LSN high-water mark + Bloom filter + exact ranges.

Three layers of duplicate defense for incoming change events, cheapest
first (the north rule's "per-micro-batch dedup via Bloom-filter + LSN
high-water-mark state store"):

1. **HWM fast path** — `lsn > hwm` rows are definitely new (batches are
   ordered LSN ranges); pure JVM-side filter, zero extra cost for the
   overwhelmingly common case.
2. **Bloom filter** over all applied lsns — probabilistic fast-reject
   for `lsn <= hwm` suspects. Vectorized numpy double-hashing inside an
   Arrow-batched pandas UDF (no per-row Python). False positives are
   safe: a "maybe applied" suspect merely falls through to layer 3.
3. **Exact applied-range check** — broadcast range-join against the
   manifest's coalesced applied LSN ranges (tiny: O(#gaps)).

The Bloom state lives beside the checkpoint and is rebuildable from the
manifest lineage (crash-safe: losing it only costs re-running layer 3).
Reference analog: the in-batch address dedup set (neo4j_csv.go:97) and
the LastBlockNumber resume point (neo4j_csv.go:62-79), generalized to
cross-run state.
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tableformat.lake import _atomic_write, _merge_ranges

_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized, deterministic."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(33)
        x *= _MIX1
        x ^= x >> np.uint64(33)
        x *= _MIX2
        x ^= x >> np.uint64(33)
    return x


# The Bloom is a bounded RECENT-WINDOW filter: it covers only the last
# DEFAULT_WINDOW lsns below the HWM (the zone where crash-replay and
# late-segment duplicates actually live). Anything older is answered by
# the exact coalesced-range layer directly. This keeps rebuild time and
# insert volume O(window) — at the north rule's 10^10 events an unbounded
# Bloom would need ~80 GB of inserts and saturate any practical bit
# array (FPR -> 1 exactly when it's needed).
DEFAULT_WINDOW = 1 << 20
_ADD_CHUNK = 1 << 18


class LsnBloom:
    """Numpy bit-array Bloom filter over the recent window of int64 lsns.

    ``covered_lo`` is the lowest lsn the filter vouches for; queries
    below it must be treated as "maybe applied" (they fall through to
    the exact range check). Sizing: 2^23 bits / 2^20-lsn window =
    8 bits/element, ~2% FPR at 5 hashes — and a false positive only
    costs one pass through the exact layer, never a lost event."""

    def __init__(
        self, n_bits: int = 1 << 23, n_hashes: int = 5, covered_lo: int = 0
    ):
        assert n_bits % 8 == 0
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.covered_lo = covered_lo
        self.bits = np.zeros(n_bits // 8, dtype=np.uint8)
        # lineage_mark() of the applied history the bits hold; a saved
        # filter whose mark differs from the manifest's is stale
        self.covers: tuple[int, int] | None = None

    def _positions(self, lsns: np.ndarray) -> np.ndarray:
        h1 = _mix64(lsns.astype(np.uint64))
        h2 = _mix64(h1 + np.uint64(0x9E3779B97F4A7C15))
        ks = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            pos = (h1[None, :] + ks * h2[None, :]) % np.uint64(self.n_bits)
        return pos  # shape (n_hashes, n)

    def add_many(self, lsns: np.ndarray) -> None:
        if len(lsns) == 0:
            return
        pos = self._positions(np.asarray(lsns, dtype=np.int64)).ravel()
        if len(pos) >= 4096:
            # Vectorized scatter: np.bitwise_or.at is an unbuffered ufunc
            # (~3M ops/s); the dense-mask + packbits path is ~50x faster
            # for bulk adds. bitorder='little' matches 1 << (pos & 7).
            mask = np.zeros(self.n_bits, dtype=bool)
            mask[pos.astype(np.int64)] = True
            self.bits |= np.packbits(mask, bitorder="little")
        else:
            np.bitwise_or.at(
                self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
            )

    def might_contain_many(self, lsns: np.ndarray) -> np.ndarray:
        if len(lsns) == 0:
            return np.zeros(0, dtype=bool)
        raw = np.asarray(lsns, dtype=np.int64)
        pos = self._positions(raw)
        hit = (self.bits[(pos >> 3).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
        # below the covered window the filter can't answer -> "maybe"
        return hit.all(axis=0).astype(bool) | (raw < self.covered_lo)

    # ----------------------------------------------------------- windowing
    def advance_window(self, hwm: int, window: int = DEFAULT_WINDOW) -> None:
        """Slide the covered window up to ``[hwm-window+1, hwm]``. Bits
        set for lsns that fall below the new floor stay set — harmless,
        since ``covered_lo`` routes those lsns to the exact layer."""
        self.covered_lo = max(self.covered_lo, hwm - window + 1, 0)

    def add_range(self, lo: int, hi: int) -> None:
        """Insert ``[lo, hi] ∩ [covered_lo, ∞)`` in fixed-size chunks:
        O(window) work and O(chunk) memory regardless of range width —
        never materializes the whole range (a [0, 10^10] backfill range
        would otherwise be an 80 GB driver allocation)."""
        lo = max(int(lo), self.covered_lo)
        hi = int(hi)
        while lo <= hi:
            end = min(lo + _ADD_CHUNK - 1, hi)
            self.add_many(np.arange(lo, end + 1, dtype=np.int64))
            lo = end + 1

    # ------------------------------------------------------------ persist
    def save(self, path: str) -> None:
        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            bits=self.bits,
            meta=np.array(
                [self.n_bits, self.n_hashes, self.covered_lo,
                 *(self.covers or ())],
                dtype=np.int64,
            ),
        )
        # fsync'd tmp + rename; np.load sniffs the zip magic, any name
        _atomic_write(path, buf.getvalue())

    @classmethod
    def load(cls, path: str) -> "LsnBloom":
        z = np.load(path)
        meta = [int(v) for v in z["meta"]]
        n_bits, n_hashes = meta[0], meta[1]
        covered_lo = meta[2] if len(meta) > 2 else 0
        b = cls(n_bits=n_bits, n_hashes=n_hashes, covered_lo=covered_lo)
        b.bits = z["bits"]
        if len(meta) > 4:
            b.covers = (meta[3], meta[4])
        return b

    @classmethod
    def rebuild_from_ranges(
        cls, ranges: list[list[int]], window: int = DEFAULT_WINDOW, **kw
    ) -> "LsnBloom":
        """Lazy rebuild from manifest lineage, bounded to the recent
        window: O(window) time/memory even at hwm = 10^10."""
        b = cls(**kw)
        if ranges:
            hwm = max(int(hi) for _, hi in ranges)
            b.advance_window(hwm, window)
            for lo, hi in ranges:
                b.add_range(lo, hi)
        return b


def lineage_mark(hwm: int, ranges: list[list[int]]) -> tuple[int, int]:
    """(HWM, applied lsn count) of a lineage. Applied history only
    grows, so two marks of one table are equal exactly when they name
    the same applied set — including a late batch below the HWM, which
    leaves the HWM alone but not the count."""
    return int(hwm), sum(int(hi) - int(lo) + 1 for lo, hi in ranges)


class ExactlyOnceFilter:
    """Composable already-applied filter for ``apply_batch``."""

    def __init__(self, lineage: dict, bloom: LsnBloom | None = None):
        self.hwm = lineage["hwm"]
        self.ranges = lineage["applied_ranges"]
        self.bloom = bloom

    def mask(self, lsn: np.ndarray) -> np.ndarray:
        """``__call__`` over a numpy lsn array: True where the guard
        keeps the row. Same three layers — HWM fast path, Bloom, exact
        applied-range membership — for a batch already on the driver."""
        lsn = np.asarray(lsn, dtype=np.int64)
        if not self.ranges:
            return np.ones(len(lsn), dtype=bool)
        if len(self.ranges) == 1 and self.ranges[0][1] == self.hwm:
            return (lsn > self.hwm) | (lsn < self.ranges[0][0])
        keep = lsn > self.hwm
        old = np.flatnonzero(~keep)
        if len(old):
            sus = lsn[old]
            rng = np.array(_merge_ranges(self.ranges), dtype=np.int64)
            i = np.searchsorted(rng[:, 0], sus, side="right") - 1
            dup = (i >= 0) & (sus <= rng[np.maximum(i, 0), 1])
            if self.bloom is not None:
                dup &= self.bloom.might_contain_many(sus)
            keep[old] = ~dup
        return keep

    def __call__(self, ev: DataFrame) -> DataFrame:
        """Exact already-applied filter. Splits the batch on the HWM:
        rows above it are definitely new (zero-cost keep); rows at or
        below go through Bloom + exact-range membership, so a LATE batch
        (delivered after a higher segment) is applied, never silently
        dropped — only true duplicates die here."""
        if not self.ranges:
            return ev
        # Contiguous-history fast path: when the applied ranges are one
        # gapless run ending at the HWM (the normal ordered-stream
        # state), every lsn <= hwm is a definite duplicate — the whole
        # guard reduces to the HWM filter, no Bloom pass, no range join.
        if len(self.ranges) == 1 and self.ranges[0][1] == self.hwm:
            lo = self.ranges[0][0]
            return ev.filter(
                (F.col("lsn") > F.lit(self.hwm)) | (F.col("lsn") < F.lit(lo))
            )
        fresh = ev.filter(F.col("lsn") > F.lit(self.hwm))
        ev = ev.filter(F.col("lsn") <= F.lit(self.hwm))
        if self.bloom is not None:
            bits, n_bits, n_hashes = self.bloom.bits, self.bloom.n_bits, self.bloom.n_hashes
            covered_lo = self.bloom.covered_lo

            # Self-contained closure (numpy only, no module references):
            # survives pickling to python workers regardless of how the
            # driver process found this package (spark-submit --py-files,
            # PYTHONPATH, or cwd).
            @F.pandas_udf("boolean")
            def maybe_applied(lsn: pd.Series) -> pd.Series:
                import numpy as _np

                raw = lsn.to_numpy().astype(_np.int64)
                if len(raw) == 0:
                    return pd.Series([], dtype=bool)
                # lsns below the Bloom's covered window are unanswerable
                # here — route them to the exact range layer ("maybe").
                below = raw < covered_lo
                x = raw.astype(_np.uint64)

                def mix(v):
                    v = v.copy()
                    with _np.errstate(over="ignore"):
                        v ^= v >> _np.uint64(33)
                        v *= _np.uint64(0xFF51AFD7ED558CCD)
                        v ^= v >> _np.uint64(33)
                        v *= _np.uint64(0xC4CEB9FE1A85EC53)
                        v ^= v >> _np.uint64(33)
                    return v

                h1 = mix(x)
                with _np.errstate(over="ignore"):
                    h2 = mix(h1 + _np.uint64(0x9E3779B97F4A7C15))
                    ks = _np.arange(n_hashes, dtype=_np.uint64)[:, None]
                    pos = (h1[None, :] + ks * h2[None, :]) % _np.uint64(n_bits)
                hit = (
                    bits[(pos >> 3).astype(_np.int64)]
                    >> (pos & _np.uint64(7)).astype(_np.uint8)
                ) & 1
                return pd.Series(hit.all(axis=0).astype(bool) | below)

            # rows the Bloom definitely hasn't seen are new — keep them
            # without the exact check; Bloom "maybe" rows go to layer 3.
            ev = ev.withColumn("__maybe", maybe_applied(F.col("lsn")))
        else:
            ev = ev.withColumn("__maybe", F.lit(True))
        spark = ev.sparkSession
        rng = spark.createDataFrame(
            [(int(lo), int(hi)) for lo, hi in self.ranges], "lo long, hi long"
        )
        dup = (
            ev.filter(F.col("__maybe"))
            .join(
                F.broadcast(rng),
                (F.col("lsn") >= F.col("lo")) & (F.col("lsn") <= F.col("hi")),
                "left_semi",
            )
            .select("lsn")
        )
        survivors = ev.join(F.broadcast(dup), "lsn", "left_anti").drop("__maybe")
        return fresh.unionByName(survivors)
