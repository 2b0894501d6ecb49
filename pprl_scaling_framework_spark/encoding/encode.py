"""Encode stage: DataFrame in -> DataFrame with a ``bf`` binary column.

Spark-first translation of the reference's map-only encoding job
(``mr-encoding/EncodingTool.java:44-105`` + ``BloomFilterEncodingMapper``):
the whole job is ``df.select(*included, encode_udf(*selected).alias('bf'))``
with a vectorized Arrow UDF (no per-row Python). Included (non-encoded)
fields are projected through unchanged (P1,
``lib/encoding/BloomFilterEncodingUtil.java:254-262``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..sources.session import evict_zip_finders
from .batch_kernel import BatchEncoder
from .schemes import EncodingConfig


def encode_udf(config: EncodingConfig):
    """Vectorized pandas UDF ``(field cols...) -> binary`` for one config.

    The BatchEncoder (and its per-unique-q-gram HMAC memo) lives once per
    task and is reused across that task's Arrow batches: ``holder`` is
    unpickled afresh with every task, even on a reused worker process.
    """
    cfg_json = config.to_json()
    holder: dict = {}

    @F.pandas_udf(BinaryType())
    def _encode(*cols):
        evict_zip_finders()
        enc = holder.get("enc")
        if enc is None:
            enc = BatchEncoder(EncodingConfig.from_json(cfg_json))
            holder["enc"] = enc
        return enc.encode(list(cols))

    return _encode


def encode_dataframe(
    df: DataFrame,
    config: EncodingConfig,
    included: list[str] | None = None,
    bf_col: str = "bf",
) -> DataFrame:
    """P1 + X8/X9/X10: project included fields, append the encoding column."""
    included = included if included is not None else [
        c for c in df.columns if c not in config.fields
    ]
    udf = encode_udf(config)
    return df.select(*included, udf(*[F.col(f) for f in config.fields]).alias(bf_col))
