"""The benchmark workloads, driven through the library's public API.

Each workload builds its input from ``sources.repos.synth_repos`` at the
benchmark's seed, persists it, and then runs timed passes. A pass ends with
one action that both materializes the result and returns its signature
(row count plus two order-independent hashes), so passes can be compared
with the run's first pass without collecting the output.

``layer_counts`` and ``quality`` run outside the timed passes.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.blocking import fps, hlsh
from pprl_scaling_framework_spark.encoding import schemes
from pprl_scaling_framework_spark.ops import bucket_join, dedup
from pprl_scaling_framework_spark.pipeline import linkage, stages
from pprl_scaling_framework_spark.sources import repos

from spans import Target, Tracer

#: the pipeline parameters of ``bench.bench_config()``, copied so that the
#: benchmark does not move when bench.py does
PPRL_PARAMS = dict(
    hlsh_K=30, hlsh_seed=420, delta=0.01, theta=164, method="dice",
    threshold=0.8, hot_threshold=64, salt_shards=16, max_bucket=256,
)
ENCODING = dict(fields=["content"], N=4096, K=8, Q=2)
#: dedup F1 floor, the bound tests/test_pipeline_e2e.py uses
DEDUP_MIN_F1 = 0.99
#: the registry query ``dedup_minhash_lsh``'s parameters
MINHASH_PARAMS = dict(q=3, num_hashes=16, bands=4, threshold=0.5, seed=7)
#: emitted pairs whose Jaccard is recomputed in pure Python
JACCARD_SAMPLE = 200


def pprl_config() -> linkage.LinkageConfig:
    return linkage.LinkageConfig(encoding=schemes.clk(**ENCODING), **PPRL_PARAMS)


def signature(df: DataFrame, cols: list[str]) -> tuple:
    """(rows, xor-hash, sum-hash) of a row set: one action, order-free."""
    h = f"xxhash64({', '.join(cols)})"
    row = df.agg(F.count("*"), F.expr(f"bit_xor({h})"),
                 F.expr(f"sum(cast({h} as decimal(38,0)))")).collect()[0]
    return tuple(row)


def canonical(df: DataFrame) -> DataFrame:
    return df.select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b")).distinct()


def overlap(pairs: DataFrame, truth: DataFrame) -> tuple[int, int, int]:
    """(true positives, |pairs|, |truth|) over canonical pair sets."""
    p, t = canonical(pairs).persist(), canonical(truth).persist()
    try:
        return p.join(t, ["id_a", "id_b"]).count(), p.count(), t.count()
    finally:
        p.unpersist()
        t.unpersist()


def f1(tp: int, n_pred: int, n_true: int) -> float:
    prec = tp / n_pred if n_pred else 0.0
    rec = tp / n_true if n_true else 0.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def bucket_tiers(keys: list[DataFrame], hot: int, cap: int) -> dict[str, int]:
    """Hot/capped bucket counts as ``ops.bucket_join.salted_sides`` tiers
    them: sizes over one side for a self-join, over both sides otherwise."""
    src = keys[0].select("group_id", "key")
    for k in keys[1:]:
        src = src.unionByName(k.select("group_id", "key"))
    sz = F.col("n")
    row = (src.groupBy("group_id", "key").agg(F.count("*").alias("n"))
           .agg(F.sum((sz > hot).cast("long")),
                F.sum((sz > cap).cast("long")),
                F.sum(F.when(sz > cap, sz).otherwise(0)))
           .collect()[0])
    return {"blocking.fps.hot_buckets": row[0] or 0,
            "blocking.fps.capped_buckets": row[1] or 0,
            "blocking.fps.capped_rows": row[2] or 0}


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


@dataclass
class Pass:
    """One pass's result: its signature, plus what the checks need."""
    sig: tuple
    outputs: dict[str, DataFrame]
    extra: Any = None


class Workload:
    """A seeded input plus the pass that runs the library on it."""
    name = ""
    entities = 0
    #: every skew_every-th entity gets one shared content (a mega bucket)
    skew_every = 50
    #: span names that must appear in a traced pass of this workload
    spans: tuple[str, ...] = ()
    #: whether the encode/HLSH/Dice kernels are timed on its input
    kernels = True

    def __init__(self, spark: SparkSession, seed: int, work_dir: str) -> None:
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self.inputs: dict[str, DataFrame] = {}

    def _tables(self, corpus: DataFrame) -> dict[str, DataFrame]:
        """The generated corpus (with uid and sha256) -> named inputs."""
        return {"records": corpus}

    def setup(self) -> None:
        """Build, persist and count the input (timed by the caller)."""
        for df in self.inputs.values():
            df.unpersist(blocking=True)
        corpus = repos.with_uid_and_sha(repos.synth_repos(
            self.spark, n_entities=self.entities, seed=self.seed,
            skew_every=self.skew_every))
        self.inputs = {k: df.persist() for k, df in self._tables(corpus).items()}
        for df in self.inputs.values():
            df.count()

    def run_pass(self, keep: bool) -> Pass:
        """The timed work; ``keep`` persists the outputs for the checks."""
        raise NotImplementedError

    def end_pass(self, p: Pass) -> None:
        """Release what the pass cached (untimed). Blocking, so the next
        pass and the heap reading never meet blocks still being dropped."""
        for df in p.outputs.values():
            df.unpersist(blocking=True)
        bucket_join.release_persists(blocking=True)

    def targets(self) -> list[Target]:
        raise NotImplementedError

    def quality(self, p: Pass) -> dict[str, float]:
        """-> {'pair_f1': ...}; raises AssertionError if a check fails."""
        raise NotImplementedError

    def layer_counts(self, tracer: Tracer, p: Pass) -> dict[str, float]:
        raise NotImplementedError


def _pprl_targets(with_runner: bool) -> list[Target]:
    t = [
        Target(linkage, "collapse_exact_duplicates", "pipeline.collapse"),
        Target(linkage, "encode_dataframe", "encoding.encode"),
        Target(hlsh, "blocking_keys", "blocking.hlsh"),
        Target(fps, "candidate_pairs", "blocking.fps"),
        Target(linkage, "_matched_pairs", "matching.score"),
        Target(linkage, "connected_components", "clustering.cc"),
        Target(linkage, "expand_clusters", "clustering.cc"),
    ]
    if with_runner:
        t.append(Target(
            stages.StageRunner, "run", "pipeline.stages",
            # StageRunner.run(self, name, ...) already counted the snapshot
            rows=lambda args, out: args[0].manifest["stages"][args[1]]["metrics"]["rows"],
        ))
    return t


def _fps_counts(tracer: Tracer, truth: DataFrame, n_pairs: int) -> dict[str, float]:
    cfg = pprl_config()
    cands = tracer.outputs["blocking.fps"][0]
    matched = tracer.outputs["matching.score"][0]
    tp, n_cands, n_true = overlap(cands, truth)
    n_matched = matched.count()
    out = bucket_tiers(tracer.outputs["blocking.hlsh"], cfg.hot_threshold, cfg.max_bucket)
    out["blocking.fps.pair_completeness"] = tp / n_true if n_true else 1.0
    out["blocking.fps.reduction_ratio"] = 1.0 - n_cands / n_pairs
    out["matching.score.match_yield"] = n_matched / n_cands if n_cands else 0.0
    return out


class DedupRepos(Workload):
    """In-memory self-dedup: exact collapse, Bloom encode, HLSH/FPS
    blocking, Dice, connected components, cluster expansion."""
    name = "dedup_repos"
    entities = 600
    spans = ("pipeline.collapse", "encoding.encode", "blocking.hlsh",
             "blocking.fps", "matching.score", "clustering.cc")

    def run_pass(self, keep: bool) -> Pass:
        res = linkage.run_dedup_pipeline(self.spark, self.inputs["records"], pprl_config())
        out = res.clusters.persist() if keep else res.clusters
        return Pass(signature(out, ["uid", "entity_id"]), {"clusters": out}, res)

    def end_pass(self, p: Pass) -> None:
        p.extra.release(blocking=True)
        super().end_pass(p)

    def targets(self) -> list[Target]:
        return _pprl_targets(with_runner=False)

    def quality(self, p: Pass) -> dict[str, float]:
        c = p.outputs["clusters"]
        pairs = (c.alias("x").join(c.alias("y"), "entity_id")
                 .filter(F.col("x.uid") < F.col("y.uid"))
                 .select(F.col("x.uid").alias("id_a"), F.col("y.uid").alias("id_b")))
        score = f1(*overlap(pairs, repos.true_pairs(self.inputs["records"])))
        if score < DEDUP_MIN_F1:
            raise AssertionError(f"dedup pair F1 {score:.4f} < {DEDUP_MIN_F1}")
        return {"pair_f1": score}

    def layer_counts(self, tracer: Tracer, p: Pass) -> dict[str, float]:
        # FPS saw the collapsed representatives, so its truth is theirs
        reps = tracer.outputs["pipeline.collapse"][0][0]
        n = reps.count()
        return _fps_counts(tracer, repos.true_pairs(reps), n * (n - 1) // 2)


def _side(uid_col: str):
    """Party of a record: A (0) or B (1), by uid hash."""
    return F.pmod(F.xxhash64(uid_col), F.lit(2))


class LinkSnapshots(Workload):
    """Two-party linkage through a StageRunner, as tools/submit_pipeline.py
    runs it: a parquet snapshot and a manifest commit per stage."""
    name = "link_snapshots"
    entities = 1200
    skew_every = 8
    spans = ("encoding.encode", "blocking.hlsh", "blocking.fps",
             "matching.score", "pipeline.stages")

    def _tables(self, corpus: DataFrame) -> dict[str, DataFrame]:
        return {"party_a": corpus.filter(_side("uid") == 0),
                "party_b": corpus.filter(_side("uid") == 1)}

    def _run_dir(self) -> str:
        return os.path.join(self.work_dir, "stages")

    def run_pass(self, keep: bool) -> Pass:
        # a pass that failed left its committed stages behind, and the
        # runner would resume them
        shutil.rmtree(self._run_dir(), ignore_errors=True)
        runner = stages.StageRunner(self.spark, self._run_dir())
        res = linkage.run_linkage_pipeline(
            self.spark, self.inputs["party_a"], self.inputs["party_b"],
            pprl_config(), runner=runner)
        out = res.matched_pairs.select("id_a", "id_b")
        out = out.persist() if keep else out
        return Pass(signature(out, ["id_a", "id_b"]), {"matches": out}, self._run_dir())

    def end_pass(self, p: Pass) -> None:
        super().end_pass(p)
        shutil.rmtree(p.extra)

    def targets(self) -> list[Target]:
        return _pprl_targets(with_runner=True)

    def _cross_truth(self) -> DataFrame:
        both = self.inputs["party_a"].unionByName(self.inputs["party_b"])
        return repos.true_pairs(both).filter(_side("id_a") != _side("id_b"))

    def quality(self, p: Pass) -> dict[str, float]:
        return {"pair_f1": f1(*overlap(p.outputs["matches"], self._cross_truth()))}

    def layer_counts(self, tracer: Tracer, p: Pass) -> dict[str, float]:
        n_pairs = self.inputs["party_a"].count() * self.inputs["party_b"].count()
        out = _fps_counts(tracer, self._cross_truth(), n_pairs)
        out["pipeline.stages.snapshot_mb"] = dir_mb(p.extra)
        return out


def q_grams(text: str, q: int) -> set[str]:
    """Distinct character q-grams, as ``ops.dedup.char_shingles`` takes them."""
    return {text[i:i + q] for i in range(len(text) - q + 1)}


class MinhashRepos(Workload):
    """MinHash LSH near-duplicate pairs with the exact-Jaccard verify: no
    Bloom encoding, FPS or matching."""
    name = "minhash_repos"
    entities = 300
    spans = ("ops.minhash",)
    kernels = False

    def run_pass(self, keep: bool) -> Pass:
        out = dedup.minhash_lsh_pairs(self.inputs["records"], "uid", "content",
                                      **MINHASH_PARAMS)
        out = out.persist() if keep else out
        return Pass(signature(out, ["id_a", "id_b", "jaccard"]), {"pairs": out})

    def targets(self) -> list[Target]:
        return [Target(dedup, "minhash_lsh_pairs", "ops.minhash")]

    def check_jaccard(self, pairs: DataFrame) -> None:
        """Recompute the Jaccard of a fixed sample of pairs from the raw
        contents; each must pass the threshold and match the output."""
        q, threshold = MINHASH_PARAMS["q"], MINHASH_PARAMS["threshold"]
        text = self.inputs["records"].select("uid", "content")
        rows = (pairs.orderBy(F.xxhash64("id_a", "id_b"), "id_a", "id_b")
                .limit(JACCARD_SAMPLE)
                .join(text.toDF("id_a", "content_a"), "id_a")
                .join(text.toDF("id_b", "content_b"), "id_b")
                .collect())
        if not rows or len(rows) != min(JACCARD_SAMPLE, pairs.count()):
            raise AssertionError(f"{len(rows)} sampled pairs joined to their contents")
        for r in rows:
            a, b = q_grams(r.content_a, q), q_grams(r.content_b, q)
            jac = len(a & b) / len(a | b)
            if jac < threshold or abs(jac - r.jaccard) > 1e-6:
                raise AssertionError(
                    f"pair ({r.id_a}, {r.id_b}): Jaccard {jac:.6f}, output {r.jaccard}")

    def quality(self, p: Pass) -> dict[str, float]:
        self.check_jaccard(p.outputs["pairs"])
        truth = repos.true_pairs(self.inputs["records"])
        return {"pair_f1": f1(*overlap(p.outputs["pairs"], truth))}

    def layer_counts(self, tracer: Tracer, p: Pass) -> dict[str, float]:
        pairs = tracer.outputs["ops.minhash"][0]
        tp, n_pred, _ = overlap(pairs, repos.true_pairs(self.inputs["records"]))
        return {"ops.minhash.pair_precision": tp / n_pred if n_pred else 0.0}


WORKLOADS = {w.name: w for w in (DedupRepos, LinkSnapshots, MinhashRepos)}

#: every span name any workload records, in report order
SPAN_NAMES = ("pipeline.collapse", "encoding.encode", "blocking.hlsh",
              "blocking.fps", "matching.score", "clustering.cc",
              "pipeline.stages", "ops.minhash")
#: every count ``layer_counts`` can report, with its unit; a workload on
#: which a layer does not run reports 0
COUNT_UNITS = {
    "blocking.fps.hot_buckets": "count",
    "blocking.fps.capped_buckets": "count",
    "blocking.fps.capped_rows": "count",
    "blocking.fps.pair_completeness": "ratio",
    "blocking.fps.reduction_ratio": "ratio",
    "matching.score.match_yield": "ratio",
    "pipeline.stages.snapshot_mb": "MB",
    "ops.minhash.pair_precision": "ratio",
}

