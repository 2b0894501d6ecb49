"""Batched bitset similarity kernels (the matching inner loop).

Parity target ``lib/matching/PrivateSimilarityUtil.java``:

- hamming = popcount(x XOR y) (:123-156);
- jaccard = popcount(AND)/popcount(OR) (:96-114);
- dice    = 2*popcount(AND)/(popcount(x)+popcount(y)) (:184-201);
- interCardinality = popcount(AND) (:203-217);
- threshold dispatch (:12-18, :52-67): names {jaccard, hamming, dice},
  jaccard/dice pass when sim >= t (t in (0,1]), hamming passes when
  distance <= t (t > 1); default method "jaccard".

All kernels take packed uint8[B, bytes] matrices (LSB-first, see bloom.py)
and return float64/int64 vectors; a naive per-bit implementation is kept for
property tests mirroring the reference's fast==naive assertions
(``lib-test/test/BloomFilterPrivateSimilarityTest.java:171-199``).
"""

from __future__ import annotations

import numpy as np

from .bloom import popcount_rows, unpack_bits


def hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return popcount_rows(np.bitwise_xor(a, b))


def inter_cardinality(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return popcount_rows(np.bitwise_and(a, b))


def jaccard(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    inter = popcount_rows(np.bitwise_and(a, b)).astype(np.float64)
    union = popcount_rows(np.bitwise_or(a, b)).astype(np.float64)
    return np.divide(inter, union, out=np.zeros_like(inter), where=union > 0)


def dice(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    inter = popcount_rows(np.bitwise_and(a, b)).astype(np.float64)
    denom = (popcount_rows(a) + popcount_rows(b)).astype(np.float64)
    return np.divide(2.0 * inter, denom, out=np.zeros_like(inter), where=denom > 0)


def similarity(method: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if method == "jaccard":
        return jaccard(a, b)
    if method == "dice":
        return dice(a, b)
    if method == "hamming":
        return hamming(a, b).astype(np.float64)
    raise ValueError(f"unknown similarity method {method!r}")


def check_threshold(method: str, threshold: float) -> None:
    """K5 ranges: jaccard/dice take t in (0, 1], hamming takes t > 1."""
    if method not in ("jaccard", "dice", "hamming"):
        raise ValueError(f"unknown similarity method {method!r}")
    if not (threshold > 1 if method == "hamming" else 0 < threshold <= 1):
        raise ValueError(f"{method} threshold {threshold} out of range: "
                         "jaccard/dice take (0, 1], hamming > 1")


def passes_threshold(method: str, scores: np.ndarray, threshold: float) -> np.ndarray:
    """K5 threshold dispatch: >= for jaccard/dice, <= for hamming."""
    check_threshold(method, threshold)
    return scores <= threshold if method == "hamming" else scores >= threshold


# --- naive per-bit reference implementations (property-test oracles) ------


def hamming_naive(a: np.ndarray, b: np.ndarray, n_bits: int) -> np.ndarray:
    ab, bb = unpack_bits(a, n_bits), unpack_bits(b, n_bits)
    return (ab != bb).sum(axis=1).astype(np.int64)


def jaccard_naive(a: np.ndarray, b: np.ndarray, n_bits: int) -> np.ndarray:
    ab, bb = unpack_bits(a, n_bits), unpack_bits(b, n_bits)
    inter = ((ab == 1) & (bb == 1)).sum(axis=1).astype(np.float64)
    union = ((ab == 1) | (bb == 1)).sum(axis=1).astype(np.float64)
    return np.divide(inter, union, out=np.zeros_like(inter), where=union > 0)


def dice_naive(a: np.ndarray, b: np.ndarray, n_bits: int) -> np.ndarray:
    ab, bb = unpack_bits(a, n_bits), unpack_bits(b, n_bits)
    inter = ((ab == 1) & (bb == 1)).sum(axis=1).astype(np.float64)
    denom = (ab.sum(axis=1) + bb.sum(axis=1)).astype(np.float64)
    return np.divide(2.0 * inter, denom, out=np.zeros_like(inter), where=denom > 0)
