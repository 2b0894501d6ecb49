"""End-to-end PPRL pipeline tests on the deterministic synthetic repos table.

Mirrors the reference's local end-to-end blocking test
(``lib-test/test/HammingLSHBlockingTest.java:42-82``): derive (C, L) from
theory (D1), run encode->HLSH->FPS->score->classify, evaluate against the
uid-embedded ground truth — target pairwise F1 >= 0.99 (BASELINE.json).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.encoding import schemes
from pprl_scaling_framework_spark.pipeline.linkage import (
    LinkageConfig,
    pairwise_f1,
    run_dedup_pipeline,
    run_linkage_pipeline,
)
from pprl_scaling_framework_spark.sources import repos as repos_src


@pytest.fixture(scope="module")
def records(spark):
    df = repos_src.with_uid_and_sha(
        repos_src.synth_repos(spark, n_entities=300, seed=42, skew_every=50)
    ).cache()
    df.count()
    return df


CFG = LinkageConfig(
    encoding=schemes.clk(["content"], N=4096, K=8, Q=2),
    hlsh_K=30,
    hlsh_seed=420,
    delta=0.01,
    theta=164,
    method="dice",
    threshold=0.8,
    hot_threshold=50,
    salt_shards=4,
)


def test_synth_repos_deterministic(spark):
    a = repos_src.synth_repos(spark, n_entities=50, seed=42).collect()
    b = repos_src.synth_repos(spark, n_entities=50, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = repos_src.synth_repos(spark, n_entities=50, seed=43).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_sha256_invariant(records):
    # X13: native sha2 must equal python hashlib on every row
    import hashlib

    rows = records.select("content", "sha256").limit(20).collect()
    for r in rows:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["sha256"]


def test_dedup_pipeline_f1(spark, records):
    from pprl_test_helpers import expand_matched_pairs

    res = run_dedup_pipeline(spark, records, CFG)
    predicted = expand_matched_pairs(res.matched_pairs, res.uid_to_rep)
    truth = repos_src.true_pairs(records)
    stats = pairwise_f1(predicted, truth)
    assert stats["f1"] >= 0.99, stats
    # candidate reduction: far fewer candidates than n^2/2
    n = records.count()
    assert res.candidate_pairs.count() < 0.05 * n * (n - 1) / 2


def test_dedup_pipeline_f1_no_collapse(spark, records):
    """Same F1 without the exact-collapse fast path (cross-check)."""
    res = run_dedup_pipeline(spark, records, CFG, collapse_exact=False)
    truth = repos_src.true_pairs(records)
    stats = pairwise_f1(res.matched_pairs, truth)
    assert stats["f1"] >= 0.99, stats


def test_dedup_clusters_match_entities(spark, records):
    res = run_dedup_pipeline(spark, records, CFG, cluster=True)
    clusters = res.clusters
    # every same-entity record pair must land in the same cluster
    ents = records.select("uid", repos_src.entity_of_uid().alias("entity"),
                          "sha256")
    joined = clusters.join(ents, "uid")
    # non-skew entities: one cluster per entity
    per_entity = (
        joined.filter(F.col("entity") % 50 != 0)
        .groupBy("entity").agg(F.countDistinct("entity_id").alias("k"))
    )
    bad = per_entity.filter(F.col("k") > 1).count()
    assert bad == 0
    # skew-probe rows (identical content) all share one cluster
    skew = joined.filter(F.col("entity") % 50 == 0)
    assert skew.select("entity_id").distinct().count() == 1


def test_two_party_linkage(spark, records):
    # split variants: variant 0 -> party A, others -> party B (overlapping entities)
    a = records.filter(F.col("path").rlike(r"_0\.\w+$"))
    b = records.filter(~F.col("path").rlike(r"_0\.\w+$"))
    res = run_linkage_pipeline(spark, a, b, CFG)

    def cross_restrict(pairs):
        """Keep pairs with one end in A and the other in B (either order)."""
        al = a.select(F.col("uid").alias("id_a"))
        bl = b.select(F.col("uid").alias("id_b"))
        ar = a.select(F.col("uid").alias("id_b"))
        br = b.select(F.col("uid").alias("id_a"))
        p1 = pairs.join(al, "id_a", "left_semi").join(bl, "id_b", "left_semi")
        p2 = pairs.join(br, "id_a", "left_semi").join(ar, "id_b", "left_semi")
        return p1.unionByName(p2).distinct()

    truth = cross_restrict(repos_src.true_pairs(records))
    stats = pairwise_f1(res.matched_pairs, truth)
    assert stats["f1"] >= 0.99, stats


def test_salting_preserves_pair_counts(spark, records):
    """Candidate multiset with salting == without salting (hot_threshold huge)."""
    from pprl_scaling_framework_spark.blocking import fps, hlsh

    cfg = CFG
    plan = cfg.plan()
    from pprl_scaling_framework_spark.encoding.encode import encode_dataframe

    enc = encode_dataframe(records.limit(200), cfg.encoding, included=["uid"])
    pos = hlsh.position_matrix(plan.L, cfg.hlsh_K, cfg.encoding.total_bits, cfg.hlsh_seed)
    keys = hlsh.blocking_keys(enc, "uid", "bf", pos, cfg.encoding.total_bits).cache()
    salted = fps.candidate_pairs(keys, None, C=plan.C, hot_threshold=5, shards=4,
                                 self_join=True)
    unsalted = fps.candidate_pairs(keys, None, C=plan.C, hot_threshold=10**9,
                                   shards=1, self_join=True)
    s = {(r["id_a"], r["id_b"], r["collisions"]) for r in salted.collect()}
    u = {(r["id_a"], r["id_b"], r["collisions"]) for r in unsalted.collect()}
    assert s == u


def test_two_party_keeps_equal_uid_pairs(spark):
    """Parties sharing an id space must not lose their equal-uid true pairs.

    GenerateIdPairsReducer emits every (a, b) cross-product pair; a rid_a !=
    rid_b filter would silently drop exactly the true matches when both
    parties use the same uid for the same entity.
    """
    from pprl_scaling_framework_spark.blocking import fps

    rows = [("e1", 0, "k1"), ("e2", 0, "k1"), ("e1", 1, "k9"), ("e2", 1, "k9")]
    ka = spark.createDataFrame(rows, "uid string, group_id int, key string")
    kb = spark.createDataFrame(rows, "uid string, group_id int, key string")
    pairs = fps.candidate_pairs(ka, kb, C=2, self_join=False)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # cross-product per (group, key): all 4 ordered combos appear, including
    # the equal-uid ones
    assert ("e1", "e1") in got and ("e2", "e2") in got
    assert ("e1", "e2") in got and ("e2", "e1") in got


def test_natural_bigint_uids_candidate_pairs(spark):
    """Natural LONG uids must survive the surrogate round-trip (ADVICE r5).

    Before the explicit ``uids_hashed`` flag, dtype sniffing treated ANY
    bigint uid as an xxhash64 surrogate — a caller with natural numeric ids
    got raw ids joined against xxhash64(id) in the re-attach and a silently
    EMPTY candidate set. The flag defaults to False: bigint uids are hashed
    like every other dtype and the original values come back out.
    """
    from pprl_scaling_framework_spark.blocking import fps

    rows = [(101, 0, "k1"), (202, 0, "k1"), (101, 1, "k9"), (202, 1, "k9")]
    keys = spark.createDataFrame(rows, "uid long, group_id int, key string")
    pairs = fps.candidate_pairs(keys, None, C=2, self_join=True)
    # canonical order is by xxhash64 surrogate, not by natural value —
    # compare the unordered pair
    got = {(frozenset((r["id_a"], r["id_b"])), r["collisions"])
           for r in pairs.collect()}
    assert got == {(frozenset((101, 202)), 2)}, got


def test_uids_hashed_requires_bigint_surrogates(spark):
    """uids_hashed=True asserts the uid column is the xxhash64 surrogate."""
    from pprl_scaling_framework_spark.blocking import fps

    rows = [("e1", 0, "k1"), ("e2", 0, "k1")]
    keys = spark.createDataFrame(rows, "uid string, group_id int, key string")
    with pytest.raises(ValueError, match="uids_hashed"):
        fps.candidate_pairs(keys, None, C=1, self_join=True, uids_hashed=True)


def test_pipeline_scoped_release(spark, records):
    """A pipeline run can release exactly ITS stage caches (round-6 verdict:
    the library persisted but never released; round-6 advice: the global
    sweep drops other consumers' caches). Another operator's tracked persist
    must survive res.release()."""
    from pprl_scaling_framework_spark.ops import bucket_join

    bucket_join.release_persists()  # start clean
    other = bucket_join.track_persist(records.select("uid"))
    other.count()
    res = run_dedup_pipeline(spark, records, CFG, cluster=False)
    res.matched_pairs.count()
    assert len(res.tracked) >= 1  # the multi-consumer encode cache
    cached_before = [df for df in res.tracked if df.storageLevel.useMemory]
    assert cached_before
    released = res.release()
    assert released >= 1
    assert res.tracked == []
    for df in cached_before:
        assert not df.storageLevel.useMemory  # actually unpersisted
    # the unrelated operator cache is untouched by the scoped release...
    assert other.storageLevel.useMemory
    assert other in bucket_join._TRACKED_PERSISTS
    # ...and a second scoped release is a no-op while the global sweep
    # still covers the leftover
    assert res.release() == 0
    assert bucket_join.release_persists() >= 1
    # a fresh pipeline run leaves nothing of its own behind either
    res2 = run_dedup_pipeline(spark, records, CFG, cluster=False)
    res2.matched_pairs.count()
    assert res2.release() >= 1
    assert res2.tracked == []
    bucket_join.release_persists()


def _edge_input(spark, records, kind):
    schema = "uid string, content string"
    if kind == "empty":
        return spark.createDataFrame([], schema)
    if kind == "one":
        return spark.createDataFrame([("u0", "def f(): return 1")], schema)
    if kind == "identical":
        return spark.createDataFrame(
            [(f"u{i}", "import os import sys " * 5) for i in range(6)], schema)
    if kind == "null":
        return spark.createDataFrame([(f"null-{i}", None) for i in range(3)], schema)
    # non-ASCII rows appended to real ones
    odd = ["naïve café — déjà vu", "日本語のテキスト 😀", "Ω≈ç√∫ µ≤≥÷ ﬁ ß",
           "é́ z​w"]
    return records.select("uid", "content").limit(4).unionByName(
        spark.createDataFrame([(f"x{i}", t) for i, t in enumerate(odd)], schema))


@pytest.mark.parametrize("kind", ["empty", "one", "identical", "null", "non_ascii"])
def test_pipeline_edge_inputs(spark, records, tmp_path, kind):
    """Empty, single-record, all-identical, null and non-ASCII inputs run
    through dedup and two-party linkage; dedup clusters every input uid
    exactly once. sha2(NULL) is NULL, so a record without content has no
    digest: the exact collapse keeps it as its own representative."""
    from pprl_scaling_framework_spark.pipeline.stages import StageRunner

    inp = _edge_input(spark, records, kind)
    uids = sorted(r["uid"] for r in inp.collect())
    runners = [None, StageRunner(spark, str(tmp_path))] if kind == "empty" else [None]
    for runner in runners:
        res = run_dedup_pipeline(spark, inp, CFG, runner=runner)
        rows = res.clusters.collect()
        assert sorted(r["uid"] for r in rows) == uids
        if kind == "identical":
            assert len({r["entity_id"] for r in rows}) == 1
        if kind == "null":
            entity = {r["uid"]: r["entity_id"] for r in rows}
            assert all(entity[f"null-{i}"] == f"null-{i}" for i in range(3))
        res.release()
    party_b = records.select("uid", "content").limit(12)
    res = run_linkage_pipeline(spark, inp, party_b, CFG)
    assert res.matched_pairs.count() <= len(uids) * 12
    res.release()


def test_collapse_ignores_a_sha256_column(spark):
    """The exact collapse hashes the content itself: two records with
    different content stay separate even when a column named ``sha256``
    claims they are equal."""
    from pprl_scaling_framework_spark.pipeline.linkage import collapse_exact_duplicates

    recs = spark.createDataFrame(
        [("u1", "alpha", "bogus"), ("u2", "beta", "bogus")],
        "uid string, content string, sha256 string")
    reps, uid_to_rep = collapse_exact_duplicates(recs, "uid", "content")
    assert sorted(r["uid"] for r in reps.collect()) == ["u1", "u2"]
    assert sorted(tuple(r) for r in uid_to_rep.collect()) == [("u1", "u1"), ("u2", "u2")]


def test_dedup_persists_multi_consumer_stages(spark, records):
    """Without a runner, the encode and block outputs (each read by more
    than one consumer) are cached, so their Python UDFs run once."""
    res = run_dedup_pipeline(spark, records, CFG, cluster=False)
    assert res.encoded.is_cached
    assert res.blocking_keys.is_cached
    res.release()


def test_bench_run_pipeline_contract(spark):
    """bench.run_pipeline keeps its timings/counts keys in both modes, and
    its matched-pair count is the library pipeline's."""
    import bench

    staged = bench.run_pipeline(spark, 100)
    assert list(staged["timings"]) == [
        "generate", "exact_collapse", "encode", "block", "candidates", "match",
        "cluster", "total", "total_ex_generate"]
    assert list(staged["counts"]) == [
        "records", "rep_records", "blocking_keys", "candidate_pairs",
        "matched_pairs", "clusters"]
    fused = bench.run_pipeline(spark, 100, cluster=False, fused=True)
    assert list(fused["timings"]) == ["generate", "work", "total", "total_ex_generate"]
    assert list(fused["counts"]) == ["records", "matched_pairs"]
    inp = repos_src.with_uid_and_sha(
        repos_src.synth_repos(spark, n_entities=100, seed=42, skew_every=50))
    res = run_dedup_pipeline(spark, inp, bench.bench_config(), cluster=False)
    n = res.matched_pairs.count()
    res.release()
    assert staged["counts"]["matched_pairs"] == fused["counts"]["matched_pairs"] == n
