"""Sharded bloom filter for the URL-seen set (north_rule core).

Scale arithmetic (SURVEY.md §7 risk 3): an exact seen-set at 10^10 URLs is
≥80 GB of raw 64-bit hashes — infeasible to broadcast or rejoin every round.
A bloom filter at 1% FPR costs ~9.6 bits/key ⇒ ~12 GB total at 10^10 keys,
split into ``n_shards`` independent shards (shard = ``pmod(url_hash,
n_shards)``) so each executor task touches exactly one shard of
``~12GB/n_shards``. With 4096 shards → ~3 MB/shard: loadable per task,
versioned in the ``seen`` table, updated copy-on-write per round.

The filter operates on Spark's ``xxhash64(url)`` output (int64); the k probe
positions derive from two splitmix64-style remixes of that value —
vectorized with numpy inside Arrow batches, no per-row Python.

False positives skip a re-crawl of an unseen URL (acceptable, tunable);
false negatives are impossible — property-tested in tests/test_bloom.py.
"""

from __future__ import annotations

import math

import numpy as np

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit remixes (splitmix64 finalizer halves)."""
    x = h.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= _M1
    x ^= x >> np.uint64(27)
    h1 = x.copy()
    x *= _M2
    x ^= x >> np.uint64(31)
    return h1, x


class BloomShard:
    """One shard: a numpy bit array with k double-hashed probes."""

    __slots__ = ("bits", "n_bits", "k", "n_keys")

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None, n_keys: int = 0):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)
        self.n_keys = n_keys

    @classmethod
    def sized_for(cls, expected_keys: int, fpr: float = 0.01) -> "BloomShard":
        n_bits = max(64, int(-expected_keys * math.log(fpr) / (math.log(2) ** 2)))
        n_bits = (n_bits + 63) // 64 * 64
        k = max(1, round(n_bits / max(1, expected_keys) * math.log(2)))
        return cls(n_bits, min(k, 16))

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit positions via double hashing: h1 + i*h2 mod m."""
        h1, h2 = _mix(np.asarray(hashes, dtype=np.int64).view(np.uint64))
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return (h1[:, None] + i * h2[:, None]) % np.uint64(self.n_bits)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        pos = self._positions(hashes).ravel()
        np.bitwise_or.at(self.bits, pos >> np.uint64(3),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        self.n_keys += len(hashes)

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool array, True = possibly seen."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(hashes)
        byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
        bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1
        return bit.all(axis=1)

    # -- serialization (stored in the `seen` table's binary column) --------
    def to_bytes(self) -> bytes:
        header = np.array([self.n_bits, self.k, self.n_keys], dtype=np.int64).tobytes()
        return header + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomShard":
        n_bits, k, n_keys = np.frombuffer(raw[:24], dtype=np.int64)
        bits = np.frombuffer(raw[24:], dtype=np.uint8).copy()
        return cls(int(n_bits), int(k), bits, int(n_keys))

