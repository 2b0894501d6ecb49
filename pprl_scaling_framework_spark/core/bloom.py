"""Bloom-filter bit-layout kernels (batched numpy).

Parity target ``lib/encoding/BloomFilter.java``:

- byte length ``ceil(N/8)`` (:44);
- bit *i* lives at ``byteArray[i/8]`` under mask ``1 << (i%8)`` — LSB-first
  within each byte (:466-488). All packing here uses
  ``numpy bitorder='little'`` accordingly.
- false-positive probability ``(1 - e^{-K*G/M})^K`` (:498-502).

Batch convention: a "bf matrix" is ``uint8[batch, ceil(N/8)]``.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

# popcount lookup for uint8 values
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def n_bytes(n_bits: int) -> int:
    return (n_bits + 7) // 8


def empty_bits(batch: int, n_bits: int) -> np.ndarray:
    return np.zeros((batch, n_bits), dtype=np.uint8)


def pack_bits(bits: np.ndarray) -> np.ndarray:
    """uint8[B, N] 0/1 matrix -> uint8[B, ceil(N/8)] LSB-first packed."""
    return np.packbits(bits, axis=1, bitorder="little")


def unpack_bits(packed: np.ndarray, n_bits: int) -> np.ndarray:
    """uint8[B, bytes] -> uint8[B, N] 0/1 matrix (LSB-first)."""
    return np.unpackbits(packed, axis=1, count=n_bits, bitorder="little")


def stack_binary(column: Sequence[bytes], n_bits: int) -> np.ndarray:
    """List/Series of bytes -> uint8[B, ceil(N/8)] matrix."""
    nb = n_bytes(n_bits)
    out = np.frombuffer(b"".join(column), dtype=np.uint8)
    return out.reshape(len(column), nb)


def popcount_rows(packed: np.ndarray) -> np.ndarray:
    """Row-wise popcount of a packed byte matrix -> int64[B]."""
    return _POP8[packed].sum(axis=1, dtype=np.int64)


def bf_from_grams(
    gram_indices_per_row: Sequence[np.ndarray],
    positions_matrix: np.ndarray,
    n_bits: int,
) -> np.ndarray:
    """Build packed BFs for a batch.

    ``positions_matrix`` is the (G, K) int32 table from
    :func:`core.hashing.hash_unique_grams`; each row's gram-index array
    selects its rows, the union of positions is set.
    """
    batch = len(gram_indices_per_row)
    bits = empty_bits(batch, n_bits)
    for r, idx in enumerate(gram_indices_per_row):
        if len(idx):
            bits[r, positions_matrix[idx].ravel()] = 1
    return pack_bits(bits)


def false_positive_probability(m_bits: int, k_hashes: int, n_elements: int) -> float:
    """calcFPP (D4)."""
    return (1.0 - math.exp(-(k_hashes * n_elements) / float(m_bits))) ** k_hashes
