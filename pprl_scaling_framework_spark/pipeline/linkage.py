"""End-to-end PPRL pipeline: encode -> block -> candidates -> score ->
classify -> cluster (SURVEY.md section 7.1), as one declarative DataFrame
chain with optional per-stage snapshots.

This one chain subsumes the reference's whole V0..V3 MR-tool ladder
(``mr-blocking/HammingLSHFPSToolV{0..3}.java``): Catalyst fuses the
projections/filters (the V3 "map-only" fusion), AQE decides broadcast vs
shuffle joins (the V1/V2 distributed-cache variants), and explicit hot-key
salting covers the skew case the reference never handled.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..blocking import fps, hlsh
from ..core.planner import FPSPlan, plan_blocking
from ..encoding.encode import encode_dataframe
from ..encoding.schemes import EncodingConfig
from ..clustering.connected_components import connected_components
from ..ops.bucket_join import release_scoped, track_persist
from ..matching.score import matched_pairs as _matched_pairs
from .stages import StageRunner


@dataclass
class LinkageConfig:
    encoding: EncodingConfig
    hlsh_K: int = 30
    hlsh_seed: int = 420
    delta: float = 0.01
    theta: Optional[int] = None          # default 0.04*N (near-dup TM hamming bound)
    C: Optional[int] = None              # override planner
    L: Optional[int] = None              # override planner
    method: str = "dice"                 # primary classifier (north_star)
    threshold: float = 0.8
    hot_threshold: int = 1000
    salt_shards: int = 16
    max_bucket: Optional[int] = None     # drop buckets larger than this (perf knob)

    def plan(self) -> FPSPlan:
        theta = self.theta if self.theta is not None else int(0.04 * self.encoding.total_bits)
        p = plan_blocking(theta=theta, s_bits=self.encoding.total_bits,
                          delta=self.delta, K=self.hlsh_K)
        if self.C is not None or self.L is not None:
            p = FPSPlan(C=self.C or p.C, L=self.L or p.L, L_opt=p.L_opt,
                        L_max=p.L_max, p_theta=p.p_theta, p_theta_k=p.p_theta_k,
                        delta=p.delta, K=p.K, theta=p.theta, S=p.S)
        return p


@dataclass
class LinkageResult:
    plan: FPSPlan
    encoded: DataFrame
    blocking_keys: DataFrame
    candidate_pairs: DataFrame
    matched_pairs: DataFrame
    clusters: Optional[DataFrame] = None
    uid_to_rep: Optional[DataFrame] = None   # (uid, rep_uid) when exact-collapse ran
    #: stage caches THIS pipeline run registered (scoped; see release())
    tracked: list[DataFrame] = field(default_factory=list)

    def release(self, blocking: bool = False) -> int:
        """Unpersist exactly this run's stage caches (encode/keys reuse
        persists). Call after the terminal action on the result DataFrames;
        plans still referencing them recompute from lineage. Unlike the
        global ``ops.bucket_join.release_persists`` sweep, this cannot drop
        another live pipeline's caches (round-6 advice item)."""
        return release_scoped(self.tracked, blocking)


def collapse_exact_duplicates(
    records: DataFrame, uid_col: str, content_col: str
) -> tuple[DataFrame, DataFrame]:
    """Pre-pairwise exact-duplicate collapse (essential at 10^12-file scale).

    A group of m byte-identical files would otherwise fan out O(m^2)
    candidate pairs through every blocking group (the reference has no
    defense against this). Returns ``(representatives, uid_to_rep)`` where
    representatives carry one row per distinct content digest (min uid wins)
    and ``uid_to_rep`` maps every uid to its representative.

    When the input already carries the stage-0 ``sha256`` column
    (``sources.repos.with_uid_and_sha`` defines it as exactly
    ``sha2(content, 256)``), it is reused instead of re-hashing every
    content payload a second time — same digest by construction.
    """
    if content_col == "content" and "sha256" in records.columns:
        digest = F.col("sha256")
    else:
        digest = F.sha2(F.col(content_col), 256)
    digests = records.select(
        F.col(uid_col).alias("uid"), digest.alias("_digest")
    )
    reps = digests.groupBy("_digest").agg(F.min("uid").alias("rep_uid"))
    uid_to_rep = digests.join(reps, "_digest").select("uid", "rep_uid")
    rep_keys = (
        uid_to_rep.filter(F.col("uid") == F.col("rep_uid"))
        .select(F.col("uid").alias("_rep_key"))
    )
    rep_records = records.join(
        rep_keys, records[uid_col] == F.col("_rep_key"), "left_semi"
    )
    return rep_records, uid_to_rep


def expand_clusters(clusters_rep: DataFrame, uid_to_rep: DataFrame) -> DataFrame:
    """Map every member uid to its representative's cluster id."""
    return (
        uid_to_rep.join(
            clusters_rep.withColumnRenamed("uid", "rep_uid"), "rep_uid", "left"
        )
        .select("uid", F.coalesce("entity_id", F.col("rep_uid")).alias("entity_id"))
    )


def run_dedup_pipeline(
    spark: SparkSession,
    records: DataFrame,
    config: LinkageConfig,
    uid_col: str = "uid",
    content_col: str = "content",
    runner: StageRunner | None = None,
    cluster: bool = True,
    collapse_exact: bool = True,
) -> LinkageResult:
    """Self-linkage (deduplication) over one table with a ``uid`` column.

    With ``collapse_exact`` (default), byte-identical records are collapsed
    to one representative per sha256 digest BEFORE any pairwise work —
    removing the quadratic blow-up of exact-duplicate groups — and cluster
    ids are re-expanded to all members afterwards.
    """
    plan = config.plan()
    n_bits = config.encoding.total_bits
    pos = hlsh.position_matrix(plan.L, config.hlsh_K, n_bits, config.hlsh_seed)
    tracked: list = []

    def stage(name, build, reused: bool = False):
        # without a StageRunner nothing is materialized — persist DFs that
        # multiple downstream branches consume, or the encode UDF re-runs
        # once per branch (plan audit showed 40 ArrowEvalPython nodes)
        if runner is not None:
            return runner.run(name, build)
        df = build()
        return track_persist(df, tracked) if reused else df

    uid_to_rep = None
    if collapse_exact:
        rep_records, uid_to_rep = collapse_exact_duplicates(records, uid_col, content_col)
        if runner is not None:
            uid_to_rep = runner.run("exact_collapse", lambda: uid_to_rep)
        records = rep_records

    encoded = stage("encode", lambda: encode_dataframe(
        records, config.encoding, included=[uid_col]), reused=True)
    # hash_uid: the exploded key set carries the 8-byte xxhash64 surrogate
    # instead of the uid string; key_bits/n_groups pack (group_id, key) into
    # one long downstream — both shrink every candidates-stage shuffle row
    keys = stage("block", lambda: hlsh.blocking_keys(
        encoded, uid_col, "bf", pos, n_bits, hash_uid=True))
    cands = stage("candidates", lambda: fps.candidate_pairs(
        keys, None, C=plan.C, hot_threshold=config.hot_threshold,
        shards=config.salt_shards, self_join=True,
        max_bucket=config.max_bucket, uids_a=encoded,
        key_bits=config.hlsh_K, n_groups=plan.L, uids_hashed=True))
    matches = stage("match", lambda: _matched_pairs(
        cands, encoded, config.method, config.threshold, n_bits))
    clusters = None
    if cluster:
        clusters = stage("cluster", lambda: connected_components(matches))
        if collapse_exact:
            clusters = stage("cluster_expand",
                             lambda: expand_clusters(clusters, uid_to_rep))
    return LinkageResult(plan, encoded, keys, cands, matches, clusters,
                         uid_to_rep, tracked=tracked)


def run_linkage_pipeline(
    spark: SparkSession,
    records_a: DataFrame,
    records_b: DataFrame,
    config_a: LinkageConfig,
    config_b: EncodingConfig | None = None,
    uid_col: str = "uid",
    runner: StageRunner | None = None,
) -> LinkageResult:
    """Two-party A x B linkage (the reference's Alice/Bob flagship).

    Both parties encode with aligned configs (the reference enforces this via
    schema-name rewriting, ``BloomFilterEncodingUtil.basedOnExistingSchema``
    :276-318; we assert on the explicit params object).
    """
    enc_cfg_b = config_b or config_a.encoding
    if not config_a.encoding.aligned_with(enc_cfg_b):
        raise ValueError("party encodings are not bit-layout aligned")
    plan = config_a.plan()
    n_bits = config_a.encoding.total_bits
    pos = hlsh.position_matrix(plan.L, config_a.hlsh_K, n_bits, config_a.hlsh_seed)
    tracked: list = []

    def stage(name, build, reused: bool = False):
        if runner is not None:
            return runner.run(name, build)
        df = build()
        return track_persist(df, tracked) if reused else df

    enc_a = stage("encode_a", lambda: encode_dataframe(
        records_a, config_a.encoding, included=[uid_col]), reused=True)
    enc_b = stage("encode_b", lambda: encode_dataframe(
        records_b, enc_cfg_b, included=[uid_col]), reused=True)
    keys_a = stage("block_a", lambda: hlsh.blocking_keys(
        enc_a, uid_col, "bf", pos, n_bits, hash_uid=True))
    keys_b = stage("block_b", lambda: hlsh.blocking_keys(
        enc_b, uid_col, "bf", pos, n_bits, hash_uid=True))
    cands = stage("candidates", lambda: fps.candidate_pairs(
        keys_a, keys_b, C=plan.C, hot_threshold=config_a.hot_threshold,
        shards=config_a.salt_shards, max_bucket=config_a.max_bucket,
        uids_a=enc_a, uids_b=enc_b,
        key_bits=config_a.hlsh_K, n_groups=plan.L, uids_hashed=True))
    matches = stage("match", lambda: _matched_pairs(
        cands, enc_a, config_a.method, config_a.threshold, n_bits, encoded_b=enc_b))
    return LinkageResult(plan, enc_a, keys_a, cands, matches, None, tracked=tracked)


def pairwise_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of (id_a, id_b) pair sets (canonical order)."""
    p = predicted.select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    ).distinct()
    t = truth.select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    ).distinct()
    tp = p.join(t, ["id_a", "id_b"], "inner").count()
    np_, nt = p.count(), t.count()
    precision = tp / np_ if np_ else 0.0
    recall = tp / nt if nt else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "predicted": np_, "truth": nt,
            "precision": precision, "recall": recall, "f1": f1}
