"""Single-threaded timings of the numpy kernels inside the Arrow UDFs.

Each kernel runs in the driver process on a fixed batch drawn from the
workload's seeded input, ``REPS`` times, timed with ``time.process_time``;
the median is reported with the items per CPU-second it implies.
"""

from __future__ import annotations

import statistics
import time
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.blocking import hlsh
from pprl_scaling_framework_spark.core import similarity
from pprl_scaling_framework_spark.core.bloom import stack_binary
from pprl_scaling_framework_spark.encoding.batch_kernel import BatchEncoder

BATCH = 2000
REPS = 5
#: every metric :func:`kernel_metrics` reports
METRICS = ("encoding.batch_kernel.cpu_s", "encoding.batch_kernel.items_per_s",
           "blocking.hlsh.kernel_cpu_s", "blocking.hlsh.kernel_items_per_s",
           "core.similarity.cpu_s", "core.similarity.items_per_s")


def batch(records: DataFrame) -> pd.Series:
    """The BATCH contents with the smallest uid hash: fixed for a seed."""
    rows = (records.orderBy(F.xxhash64("uid"), "uid").limit(BATCH)
            .select("content").collect())
    return pd.Series([r[0] for r in rows])


def cpu_median(fn: Callable[[], object]) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.process_time()
        fn()
        times.append(time.process_time() - t0)
    return statistics.median(times)


def kernel_metrics(contents: pd.Series, config) -> dict[str, float]:
    """-> ``<kernel>.cpu_s`` and ``<kernel>.items_per_s`` for the three
    kernels on ``contents``; ``config`` is the workload's ``LinkageConfig``."""
    enc_cfg = config.encoding
    n_bits = enc_cfg.total_bits
    # a fresh encoder per repetition: its per-gram hash memo starts empty,
    # so every repetition does the same work
    encode_s = cpu_median(lambda: BatchEncoder(enc_cfg).encode([contents]))
    bfs = BatchEncoder(enc_cfg).encode([contents])

    plan = config.plan()
    pos = hlsh.position_matrix(plan.L, config.hlsh_K, n_bits, config.hlsh_seed)
    keys_fn = hlsh.hlsh_keys_udf(pos, n_bits).func
    keys_s = cpu_median(lambda: keys_fn(bfs))

    # each filter against its neighbour: a fixed set of len(bfs) pairs
    other = pd.Series(np.roll(bfs.to_numpy(), 1))

    def dice():
        a = stack_binary(bfs.tolist(), n_bits)
        b = stack_binary(other.tolist(), n_bits)
        return similarity.dice(a, b)

    dice_s = cpu_median(dice)
    n = len(contents)
    return {
        "encoding.batch_kernel.cpu_s": encode_s,
        "encoding.batch_kernel.items_per_s": n / encode_s,
        "blocking.hlsh.kernel_cpu_s": keys_s,
        "blocking.hlsh.kernel_items_per_s": n / keys_s,
        "core.similarity.cpu_s": dice_s,
        "core.similarity.items_per_s": n / dice_s,
    }
