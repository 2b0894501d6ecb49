"""Plan-shape guards for registry queries.

Each test builds a ``__spark_entry__`` registry query and counts tokens in
its ``explain("formatted")`` text, the way ``tools/dump_plans.py`` dumps are
read. Every count pins a plan regression that once cost measurable time:
a second ``array_intersect`` per verified pair, a ``sha2`` band key, a
single-task pair fan-out (no round-robin spread), the IVF re-attach that
re-ran the centroid assignment, and extra Python UDF passes in the PPRL
chain.
"""

import io
import os
import re
from contextlib import redirect_stdout

import pytest

from pprl_scaling_framework_spark.entry_queries import QUERIES
from pprl_scaling_framework_spark.ops import bucket_join
from test_ops import SF

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="sf0.001 test data not present"
)


def _formatted_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    bucket_join.release_persists()
    return buf.getvalue()


def test_minhash_verify_intersects_once_without_sha2(spark):
    plan = _formatted_plan(spark, "dedup_minhash_lsh")
    assert plan.count("array_intersect") == 1
    assert "sha2" not in plan


@pytest.mark.parametrize("name", ["f2_frequent_pairs", "j1_blocking_join"])
def test_pair_fanout_is_spread(spark, name):
    assert "RoundRobinPartitioning" in _formatted_plan(spark, name)


def test_ivf_shuffle_reattach_skips_cell_assignment(spark):
    plan = _formatted_plan(spark, "ann_ivf_topk_shuffle")
    assert plan.count("BroadcastNestedLoopJoin") <= 16


def test_pprl_chain_runs_no_extra_python_udf_pass(spark):
    # Count operators (the "(N) ArrowEvalPython" detail entries), not raw
    # token occurrences: the tree view reprints a cached stage's plan under
    # every scan of it, so the occurrences follow the persists rather than
    # the UDF passes (the round-7 dump: 12 operators, 46 occurrences). This
    # chain plans 4: the encode and HLSH-key UDFs twice each, once per
    # lookup of the persisted stage. The scorer is one MapInArrow, which no
    # predicate can re-evaluate.
    plan = _formatted_plan(spark, "pprl_matched_pairs")
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython$", plan, re.M)) <= 4
    assert len(re.findall(r"^\(\d+\) MapInArrow$", plan, re.M)) == 1
