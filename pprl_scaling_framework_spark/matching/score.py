"""Pair scoring + threshold classification (J3/J4 + K1-K5).

The reference re-attaches Bloom filters to frequent pairs via a
distributed-cache fan-out mapper + reduce-side pair assembly
(``mr-blocking/MakeRecordPairsMapper.java:41-178``,
``PrivateSimilarityReducer.java:71-104``). In Spark that whole machinery is
two equi-joins re-attaching the ``bf`` column — broadcast when small, AQE
otherwise — followed by one batched popcount UDF and a threshold filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..core import similarity as sim
from ..core.bloom import stack_binary
from ..sources.session import worker_task_setup


def similarity_udf(method: str, n_bits: int):
    """Vectorized (bf_a, bf_b) -> double similarity/distance kernel (K1-K4)."""

    @F.pandas_udf(DoubleType())
    def _sim(a: pd.Series, b: pd.Series) -> pd.Series:
        worker_task_setup()
        am = stack_binary(a.tolist(), n_bits)
        bm = stack_binary(b.tolist(), n_bits)
        return pd.Series(sim.similarity(method, am, bm))

    return _sim


def attach_encodings(
    pairs: DataFrame,
    encoded_a: DataFrame,
    encoded_b: DataFrame | None = None,
    uid_col: str = "uid",
    bf_col: str = "bf",
) -> DataFrame:
    """J3: (id_a, id_b, ...) x encodings -> + (bf_a, bf_b)."""
    encoded_b = encoded_b if encoded_b is not None else encoded_a
    ea = encoded_a.select(F.col(uid_col).alias("id_a"), F.col(bf_col).alias("bf_a"))
    eb = encoded_b.select(F.col(uid_col).alias("id_b"), F.col(bf_col).alias("bf_b"))
    return pairs.join(ea, "id_a").join(eb, "id_b")


def score_pairs(
    pairs_with_bf: DataFrame,
    method: str,
    n_bits: int,
    score_col: str = "sim",
) -> DataFrame:
    udf = similarity_udf(method, n_bits)
    return pairs_with_bf.withColumn(score_col, udf(F.col("bf_a"), F.col("bf_b")))


def classify(
    scored: DataFrame,
    method: str,
    threshold: float,
    score_col: str = "sim",
) -> DataFrame:
    """K5 threshold dispatch: jaccard/dice >= t (t in (0,1]); hamming <= t (t>1)."""
    if method == "hamming":
        if threshold <= 1:
            raise ValueError("hamming threshold must be > 1")
        pred = F.col(score_col) <= threshold
    elif method in ("jaccard", "dice"):
        if not (0 < threshold <= 1):
            raise ValueError("jaccard/dice threshold must be in (0, 1]")
        pred = F.col(score_col) >= threshold
    else:
        raise ValueError(f"unknown similarity method {method!r}")
    return scored.filter(pred)


def matched_pairs(
    pairs: DataFrame,
    encoded_a: DataFrame,
    method: str,
    threshold: float,
    n_bits: int,
    encoded_b: DataFrame | None = None,
) -> DataFrame:
    """Full J3 -> K -> K5 chain: -> (id_a, id_b, sim)."""
    with_bf = attach_encodings(pairs, encoded_a, encoded_b)
    scored = score_pairs(with_bf, method, n_bits)
    return classify(scored, method, threshold).select("id_a", "id_b", "sim")
