"""perfbench times the PPRL chain by wrapping module attributes
(``perfbench/workloads._pprl_targets``). If the library binds one of them
differently — a ``from ... import`` copy, a renamed function — its span
reads 0 and nothing reports an error. This runs both pipelines with every
target wrapped and asserts that each wrapper ran."""

import os
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import workloads  # noqa: E402
from pprl_scaling_framework_spark.pipeline import linkage  # noqa: E402
from pprl_scaling_framework_spark.pipeline.stages import StageRunner  # noqa: E402
from pprl_scaling_framework_spark.sources import repos  # noqa: E402


def test_perfbench_targets_are_called(spark, tmp_path, monkeypatch):
    calls = {}
    targets = workloads._pprl_targets(True)
    for t in targets:
        key = (t.owner.__name__, t.attr)
        calls[key] = 0

        def wrapper(*args, _orig=getattr(t.owner, t.attr), _key=key, **kwargs):
            calls[_key] += 1
            return _orig(*args, **kwargs)

        monkeypatch.setattr(t.owner, t.attr, wrapper)

    records = repos.with_uid_and_sha(
        repos.synth_repos(spark, n_entities=12, seed=5, skew_every=4))
    cfg = workloads.pprl_config()
    linkage.run_dedup_pipeline(spark, records, cfg, cluster=True).release()
    side = workloads._side("uid")
    linkage.run_linkage_pipeline(
        spark, records.filter(side == 0), records.filter(side == 1), cfg,
        runner=StageRunner(spark, str(tmp_path / "stages"))).release()
    assert calls and all(calls.values()), calls
