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

from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..blocking import fps, hlsh
from ..core.planner import FPSPlan, plan_blocking
from ..encoding.encode import encode_dataframe
from ..encoding.schemes import EncodingConfig
from ..clustering.connected_components import connected_components
from ..ops.bucket_join import release_scoped, track_persist
from ..ops.dedup import content_digest
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
            p = replace(p, C=self.C or p.C, L=self.L or p.L)
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
    and ``uid_to_rep`` maps every uid to its representative. A record whose
    content is NULL has no digest and represents itself.
    """
    digests = records.select(
        F.col(uid_col).alias("uid"), content_digest(content_col).alias("_digest")
    )
    reps = digests.groupBy("_digest").agg(F.min("uid").alias("rep_uid"))
    # sha2(NULL) is NULL and a NULL key joins nothing: a record without
    # content is its own representative
    uid_to_rep = digests.join(reps, "_digest", "left").select(
        "uid", F.coalesce("rep_uid", "uid").alias("rep_uid"))
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


def _stage(runner, tracked: list, name: str, build, reused: bool = False) -> DataFrame:
    """The one hook every pipeline stage goes through.

    With a runner (a ``StageRunner``, or any object with ``run(name,
    build)``) the runner owns the stage. Without one nothing is
    materialized, so an output read by more than one consumer (``reused``)
    is persisted into ``tracked``; otherwise each consumer re-runs the
    stage's Python UDF (a plan audit once showed 40 ArrowEvalPython nodes).
    """
    if runner is not None:
        return runner.run(name, build)
    df = build()
    return track_persist(df, tracked) if reused else df


def _link(sides: dict, config: LinkageConfig, uid_col: str, runner, tracked: list):
    """The encode -> block -> candidates -> match chain, written once.

    ``sides`` maps a stage-name suffix to ``(records, encoding)``: one side
    ``""`` is a self-join (dedup; stages ``encode`` and ``block``), sides
    ``"_a"`` and ``"_b"`` a two-party linkage (``encode_a`` ... ``block_b``).
    Returns ``(plan, encoded, keys, candidates, matches)`` with ``encoded``
    and ``keys`` listed per side.
    """
    plan = config.plan()
    n_bits = config.encoding.total_bits
    pos = hlsh.position_matrix(plan.L, config.hlsh_K, n_bits, config.hlsh_seed)
    # each build runs inside _stage before the loop moves on, so every
    # closure sees its own side
    encoded = [
        _stage(runner, tracked, "encode" + suffix, lambda: encode_dataframe(
            records, enc, included=[uid_col]), reused=True)
        for suffix, (records, enc) in sides.items()
    ]
    # hash_uid: the exploded key set carries the 8-byte xxhash64 surrogate
    # instead of the uid string; key_bits/n_groups pack (group_id, key) into
    # one long downstream — both shrink every candidates-stage shuffle row.
    # The keys feed the bucket-size aggregate and both sides of the join.
    keys = [
        _stage(runner, tracked, "block" + suffix, lambda: hlsh.blocking_keys(
            enc_df, uid_col, "bf", pos, n_bits, hash_uid=True), reused=True)
        for suffix, enc_df in zip(sides, encoded)
    ]
    self_join = len(sides) == 1
    keys_b, enc_b = (None, None) if self_join else (keys[1], encoded[1])
    cands = _stage(runner, tracked, "candidates", lambda: fps.candidate_pairs(
        keys[0], keys_b, C=plan.C, hot_threshold=config.hot_threshold,
        shards=config.salt_shards, self_join=self_join,
        max_bucket=config.max_bucket, uids_a=encoded[0], uids_b=enc_b,
        key_bits=config.hlsh_K, n_groups=plan.L, uids_hashed=True))
    matches = _stage(runner, tracked, "match", lambda: _matched_pairs(
        cands, encoded[0], config.method, config.threshold, n_bits, encoded_b=enc_b))
    return plan, encoded, keys, cands, matches


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
    tracked: list = []
    uid_to_rep = None
    if collapse_exact:
        records, collapsed = collapse_exact_duplicates(records, uid_col, content_col)
        uid_to_rep = _stage(runner, tracked, "exact_collapse", lambda: collapsed)
    plan, encoded, keys, cands, matches = _link(
        {"": (records, config.encoding)}, config, uid_col, runner, tracked)
    clusters = None
    if cluster:
        clusters = _stage(runner, tracked, "cluster", lambda: connected_components(matches))
        if collapse_exact:
            clusters = _stage(runner, tracked, "cluster_expand",
                              lambda: expand_clusters(clusters, uid_to_rep))
    return LinkageResult(plan, encoded[0], keys[0], cands, matches, clusters,
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
    tracked: list = []
    plan, encoded, keys, cands, matches = _link(
        {"_a": (records_a, config_a.encoding), "_b": (records_b, enc_cfg_b)},
        config_a, uid_col, runner, tracked)
    return LinkageResult(plan, encoded[0], keys[0], cands, matches, None, tracked=tracked)


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
