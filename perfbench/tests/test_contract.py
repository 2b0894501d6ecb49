"""BENCHMARK.json names exactly the per-layer metrics a traced run prints,
with the same units; the kernels run on a tiny batch (no Spark)."""

import json
import os
import sys

import pandas as pd

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import kernels  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


class FakeSc:
    def setJobGroup(self, group, description):
        pass


def test_per_layer_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    tracer = spans.Tracer(FakeSc(), 1, "w",
                          usage=lambda pid: procstat.TreeUsage(0.0, 0.0, 0.0, 1))
    with tracer.span("blocking.fps"):
        pass
    tracer.spans[0].events = eventlog.GroupStats(jobs=1, task_ms=[5, 10])
    tracer.finish()
    contents = pd.Series([f"def value_{i:04d} return index_{i % 7:04d}" for i in range(20)])
    kernel = kernels.kernel_metrics(contents, workloads.pprl_config())
    out = run.layer_metrics(tracer, {}, kernel, 0.5, 0.25)
    assert {k: v["unit"] for k, v in out.items()} == declared
    assert out["blocking.fps.jobs"]["value"] == 1
    assert out["blocking.fps.task_skew"]["value"] == 10 / 7.5
    assert out["clustering.cc.jobs"]["value"] == 0  # a layer that did not run
    assert all(v > 0 for k, v in kernel.items())
    assert set(kernel) == set(kernels.METRICS)
    # a workload that times no kernels reports them as 0
    no_kernels = run.layer_metrics(tracer, {}, {}, 0.5, 0.25)
    assert no_kernels["core.similarity.cpu_s"]["value"] == 0.0
