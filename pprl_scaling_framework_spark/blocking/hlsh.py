"""Hamming-LSH blocking keys as a DataFrame transformation (X12).

Reference semantics (``lib/blocking/HammingLSHBlockingGroup.java:43-74``,
``lib/blocking/HammingLSHBlocking.java:101-111``): L groups; group *i* uses
the first K entries of ``shuffle([0..N), Random((i+1)*seed))`` as its bit
positions; the key is the K sampled bits of the record's Bloom filter.

Spark-first design decisions:

- the (L, K) position matrix is computed once on the driver (Java-parity
  shuffle from core.javarandom) and shipped in the UDF closure — the
  equivalent of the reference serializing the key table into the Hadoop conf
  (``HammingLSHFPSToolV0.java:109``);
- since K <= 62, a key is packed into ONE int64 (bit j of the key = sampled
  bit j) instead of a BitSet/binary — an int64 join key shuffles and
  compares inside Tungsten with no object overhead;
- one vectorized UDF emits all L keys as ``array<long>``; ``posexplode``
  yields ``(group_id, key)`` — L rows per record, exactly the reference's
  mapper fan-out (``mr-blocking/HammingLSHBlockingMapper.java:26-37``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..core.bloom import unpack_bits
from ..core.javarandom import shuffled_range_prefix
from ..sources.session import evict_zip_finders

MAX_KEY_BITS = 62


def position_matrix(L: int, K: int, n_bits: int, seed: int) -> np.ndarray:
    """(L, K) int32 sampled-bit positions; group i seeded with (i+1)*seed."""
    if K > MAX_KEY_BITS:
        raise ValueError(f"K={K} exceeds int64 key capacity ({MAX_KEY_BITS})")
    rows = [shuffled_range_prefix(n_bits, K, (i + 1) * seed) for i in range(L)]
    return np.array(rows, dtype=np.int32)


def hlsh_keys_udf(positions: np.ndarray, n_bits: int):
    """Vectorized UDF: binary bf -> array<long> of L packed keys.

    Reads only the L*K needed bits via a byte-gather (byte p>>3, LSB-first
    shift p&7) instead of unpacking all N bits — ~5x less memory traffic,
    which matters when many python workers share one memory bus.
    """
    pos_flat = positions.ravel().astype(np.int64)
    L, K = positions.shape
    byte_idx = (pos_flat >> 3).astype(np.int64)
    shifts = (pos_flat & 7).astype(np.uint8)
    powers = (1 << np.arange(K, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _keys(bf: pd.Series) -> pd.Series:
        evict_zip_finders()
        nb = (n_bits + 7) // 8
        packed = np.frombuffer(b"".join(bf.tolist()), dtype=np.uint8).reshape(len(bf), nb)
        sel = (packed[:, byte_idx] >> shifts) & 1          # (B, L*K) uint8
        keys = sel.reshape(len(bf), L, K).astype(np.int64) @ powers  # (B, L)
        return pd.Series(list(keys))

    return _keys


def blocking_keys(
    df: DataFrame,
    uid_col: str,
    bf_col: str,
    positions: np.ndarray,
    n_bits: int,
    hash_uid: bool = False,
) -> DataFrame:
    """-> (uid, group_id int, key long): L rows per record.

    ``hash_uid``: emit ``xxhash64(uid)`` (int64 surrogate) instead of the uid
    string — hashed BEFORE the L-way explode, so the L rows per record carry
    8 bytes of id instead of a ~60-byte string (the surrogate the FPS join
    uses anyway; ``fps.candidate_pairs`` detects the bigint uid and skips
    re-hashing). Shrinks the persisted key set and every downstream shuffle.
    """
    udf = hlsh_keys_udf(positions, n_bits)
    uid_expr = (
        F.xxhash64(F.col(uid_col)).alias("uid") if hash_uid
        else F.col(uid_col).alias("uid")
    )
    return (
        df.select(uid_expr, udf(F.col(bf_col)).alias("_keys"))
        .select("uid", F.posexplode("_keys").alias("group_id", "key"))
    )
