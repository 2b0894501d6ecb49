"""Custom stateful streaming operator: incremental FPS collision counting.

``applyInPandasWithState`` keeps a per-pair collision counter across
micro-batches: blocking-key collision events stream in, state accumulates
``(id_new, id_indexed) -> count``, and a pair is EMITTED EXACTLY ONCE when
its count first reaches C — the streaming analog of the reference's
map-side emit-at-C FPS semantics (``mr-blocking/FPSMapperV1.java:95-105``),
where the batch engine's groupBy-count cannot carry state between batches.

State is keyed by the pair, with a processing-time timeout to bound state
size (expired pairs stop counting — acceptable: FPS collisions for a real
pair arrive together).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..sources.session import evict_zip_finders

OUTPUT_SCHEMA = StructType([
    StructField("id_a", StringType()),
    StructField("id_b", StringType()),
    StructField("collisions", IntegerType()),
])

STATE_SCHEMA = StructType([
    StructField("count", IntegerType()),
    StructField("emitted", IntegerType()),
])


def incremental_frequent_pairs(
    collision_events: DataFrame,
    C: int,
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """(id_a, id_b) collision-event stream -> pairs emitted once at count==C.

    The processing-time timeout makes Spark schedule a batch on every
    trigger, with or without new input, so a query started with
    ``trigger(availableNow=True)`` never terminates on its own:
    ``awaitTermination()`` and ``processAllAvailable()`` do not return. Stop
    it once a batch read no rows and the source reports no data available
    (``lastProgress["numInputRows"] == 0`` and not
    ``status["isDataAvailable"]``).
    """

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        evict_zip_finders()
        if state.hasTimedOut:
            state.remove()
            return
        n_new = sum(len(p) for p in pdfs)
        count, emitted = state.get if state.exists else (0, 0)
        count += n_new
        if not emitted and count >= C:
            state.update((count, 1))
            state.setTimeoutDuration(state_timeout_ms)
            yield pd.DataFrame(
                {"id_a": [key[0]], "id_b": [key[1]], "collisions": [count]}
            )
        else:
            state.update((count, emitted))
            state.setTimeoutDuration(state_timeout_ms)

    return (
        collision_events.groupBy("id_a", "id_b")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
