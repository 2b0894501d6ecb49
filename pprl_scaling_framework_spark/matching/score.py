"""Pair scoring + threshold classification (J3/J4 + K1-K5).

The reference re-attaches Bloom filters to frequent pairs via a
distributed-cache fan-out mapper + reduce-side pair assembly
(``mr-blocking/MakeRecordPairsMapper.java:41-178``,
``PrivateSimilarityReducer.java:71-104``). In Spark that whole machinery is
two equi-joins re-attaching the ``bf`` column — broadcast when small, AQE
otherwise — followed by one Arrow batch function that scores each pair and
keeps those passing K5, the reference's compare-then-classify loop
(``lib/matching/PrivateSimilarityUtil.java:12-18,52-67``). A ``mapInArrow``
boundary is opaque to Catalyst, so no predicate re-evaluates the score.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..core import similarity as sim
from ..core.bloom import n_bytes
from ..sources.session import worker_task_setup


def _bf_matrix(col: pa.Array, nb: int) -> np.ndarray:
    """A binary Arrow column of ``nb``-byte filters -> uint8[rows, nb] over
    its data buffer (no copy); raises on a null or wrong-length filter."""
    if col.null_count:
        raise ValueError("null Bloom filter in a scored pair")
    if not len(col):
        return np.empty((0, nb), dtype=np.uint8)
    _, offsets, data = col.buffers()
    offs = np.frombuffer(offsets, dtype=np.int32)[col.offset:col.offset + len(col) + 1]
    if (np.diff(offs) != nb).any():
        raise ValueError(f"Bloom filter of the wrong length (expected {nb} bytes)")
    return np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]].reshape(len(col), nb)


def pair_scorer(method: str, threshold: float, n_bits: int):
    """``mapInArrow`` function: (id_a, id_b, bf_a, bf_b) batches -> the
    (id_a, id_b, sim) rows passing K5."""
    nb = n_bytes(n_bits)

    def score(batches):
        worker_task_setup()
        for batch in batches:
            s = sim.similarity(method, _bf_matrix(batch.column("bf_a"), nb),
                               _bf_matrix(batch.column("bf_b"), nb))
            keep = sim.passes_threshold(method, s, threshold)
            ids = batch.select(["id_a", "id_b"]).filter(pa.array(keep))
            yield pa.RecordBatch.from_arrays(
                [*ids.columns, pa.array(s[keep], type=pa.float64())],
                names=["id_a", "id_b", "sim"])

    return score


def matched_pairs(
    pairs: DataFrame,
    encoded_a: DataFrame,
    method: str,
    threshold: float,
    n_bits: int,
    encoded_b: DataFrame | None = None,
) -> DataFrame:
    """Full J3 -> K -> K5 chain: (id_a, id_b, ...) x ``(uid, bf)``
    encodings -> (id_a, id_b, sim)."""
    sim.check_threshold(method, threshold)
    encoded_b = encoded_b if encoded_b is not None else encoded_a
    ea = encoded_a.select(F.col("uid").alias("id_a"), F.col("bf").alias("bf_a"))
    eb = encoded_b.select(F.col("uid").alias("id_b"), F.col("bf").alias("bf_b"))
    with_bf = pairs.join(ea, "id_a").join(eb, "id_b").select("id_a", "id_b", "bf_a", "bf_b")
    schema = StructType([with_bf.schema["id_a"], with_bf.schema["id_b"],
                         StructField("sim", DoubleType())])
    return with_bf.mapInArrow(pair_scorer(method, threshold, n_bits), schema)
