"""The pure-Python helpers behind the output checks (no Spark)."""

import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import workloads  # noqa: E402


def test_q_grams_are_distinct_character_grams():
    assert workloads.q_grams("abcabc", 3) == {"abc", "bca", "cab"}
    assert workloads.q_grams("ab", 3) == set()  # shorter than q: no gram


def test_f1():
    assert workloads.f1(2, 4, 2) == 2 * 0.5 * 1.0 / 1.5
    assert workloads.f1(0, 0, 5) == 0.0
