"""Custom stateful streaming operator: incremental FPS collision counting.

``applyInPandasWithState`` keeps a per-pair collision counter across
micro-batches: blocking-key collision events stream in, state accumulates
``(id_new, id_indexed) -> count``, and a pair is EMITTED EXACTLY ONCE when
its count first reaches C — the streaming analog of the reference's
map-side emit-at-C FPS semantics (``mr-blocking/FPSMapperV1.java:95-105``),
where the batch engine's groupBy-count cannot carry state between batches.

State is keyed by the pair and never times out, so an emitted pair is never
emitted again, and a query started with ``trigger(availableNow=True)`` ends
once its input is drained. State grows with the number of distinct colliding
pairs — the same bound as the update-mode collision count of
``stream_linkage.stream_candidates_against_index``.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..sources.session import worker_task_setup

OUTPUT_SCHEMA = StructType([
    StructField("id_a", StringType()),
    StructField("id_b", StringType()),
    StructField("collisions", IntegerType()),
])

STATE_SCHEMA = StructType([
    StructField("count", IntegerType()),
    StructField("emitted", IntegerType()),
])


def incremental_frequent_pairs(collision_events: DataFrame, C: int) -> DataFrame:
    """(id_a, id_b) collision-event stream -> pairs emitted once at count==C."""

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        worker_task_setup()
        n_new = sum(len(p) for p in pdfs)
        count, emitted = state.get if state.exists else (0, 0)
        count += n_new
        if not emitted and count >= C:
            state.update((count, 1))
            yield pd.DataFrame(
                {"id_a": [key[0]], "id_b": [key[1]], "collisions": [count]}
            )
        else:
            state.update((count, emitted))

    return (
        collision_events.groupBy("id_a", "id_b")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
