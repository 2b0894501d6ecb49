"""The match stage's one Arrow batch scorer, and one Python pass per row for
each PPRL kernel.

The scorer tests build pairs by hand and compare ``matched_pairs`` with the
per-bit ``similarity.*_naive`` oracles plus the K5 rule. The pass tests wrap
the encode, HLSH-key and scorer factories on the test side: each wrapper
ships to the workers by value and appends the size of every batch it sees
to a file, so the sums are the rows each kernel received.
"""

import itertools

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.blocking import hlsh
from pprl_scaling_framework_spark.core import bloom, similarity
from pprl_scaling_framework_spark.encoding import encode
from pprl_scaling_framework_spark.entry_queries import _pprl_config, _pprl_records
from pprl_scaling_framework_spark.matching import score
from pprl_scaling_framework_spark.matching.score import matched_pairs
from pprl_scaling_framework_spark.pipeline.linkage import run_dedup_pipeline
from pprl_scaling_framework_spark.pipeline.stages import StageRunner

N_BITS = 64
NAIVE = {"dice": similarity.dice_naive, "jaccard": similarity.jaccard_naive,
         "hamming": similarity.hamming_naive}


def _bfs(n: int, seed: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return bloom.pack_bits((rng.random((n, N_BITS)) < 0.4).astype(np.uint8))


def _frames(spark, bfs, pairs):
    encoded = spark.createDataFrame(
        [(f"u{i}", bytearray(bf.tobytes())) for i, bf in enumerate(bfs)],
        "uid string, bf binary")
    cands = spark.createDataFrame(
        [(f"u{i}", f"u{j}") for i, j in pairs], "id_a string, id_b string")
    return encoded, cands


@pytest.mark.parametrize("method", ["dice", "jaccard", "hamming"])
def test_matched_pairs_keeps_naive_k5_pairs(spark, method):
    bfs = _bfs(16)
    pairs = list(itertools.combinations(range(len(bfs)), 2))
    i, j = np.array(pairs).T
    sims = NAIVE[method](bfs[i], bfs[j], N_BITS).astype(np.float64)
    # a threshold some pair scores exactly, so the boundary sim == t is kept
    t = float(np.median(sims))
    keep = sims <= t if method == "hamming" else sims >= t
    assert (sims == t).any() and 0 < keep.sum() < len(pairs)
    expected = {(f"u{a}", f"u{b}"): s for (a, b), s, k in zip(pairs, sims, keep) if k}

    encoded, cands = _frames(spark, bfs, pairs)
    got = matched_pairs(cands, encoded, method, t, N_BITS)
    assert got.columns == ["id_a", "id_b", "sim"]
    rows = {(r.id_a, r.id_b): r.sim for r in got.collect()}
    assert rows.keys() == expected.keys()
    assert all(rows[p] == pytest.approx(expected[p]) for p in rows)


@pytest.mark.parametrize("method,threshold", [
    ("dice", 0), ("dice", 1.01), ("hamming", 1), ("cosine", 0.5)])
def test_matched_pairs_bad_threshold_raises_before_any_job(spark, method, threshold):
    encoded, cands = _frames(spark, _bfs(2), [(0, 1)])
    sc = spark.sparkContext
    group = f"k5-{method}-{threshold}"
    sc.setJobGroup(group, "K5 range check")
    try:
        with pytest.raises(ValueError):
            matched_pairs(cands, encoded, method, threshold, N_BITS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("bad,message", [(b"\x01" * 7, "wrong length"), (None, "null Bloom filter")])
def test_matched_pairs_rejects_malformed_filter(spark, bad, message):
    encoded = spark.createDataFrame(
        [("u0", bytearray(_bfs(1)[0].tobytes())), ("u1", bad)], "uid string, bf binary")
    cands = spark.createDataFrame([("u0", "u1")], "id_a string, id_b string")
    with pytest.raises(Exception, match=message):
        matched_pairs(cands, encoded, "dice", 0.5, N_BITS).collect()


def test_bf_matrix_reads_a_sliced_column():
    bfs = _bfs(5)
    col = pa.array([bf.tobytes() for bf in bfs], pa.binary()).slice(2, 3)
    assert (score._bf_matrix(col, N_BITS // 8) == bfs[2:]).all()


# --- one Python pass per row ---------------------------------------------------


def _counting_udf(factory, log: str):
    """``factory`` whose pandas UDFs also log each batch's row count."""
    def make(*args, **kwargs):
        udf = factory(*args, **kwargs)
        inner = udf.func

        def counted(*cols):
            with open(log, "a") as f:
                f.write(f"{len(cols[0])}\n")
            return inner(*cols)

        return F.pandas_udf(counted, udf.returnType)
    return make


def _counting_scorer(factory, log: str):
    """``factory`` whose mapInArrow functions also log each input batch's rows."""
    def make(*args, **kwargs):
        inner = factory(*args, **kwargs)

        def counted(batches):
            def logged():
                for batch in batches:
                    with open(log, "a") as f:
                        f.write(f"{batch.num_rows}\n")
                    yield batch
            return inner(logged())

        return counted
    return make


def _rows(log) -> int:
    return sum(int(n) for n in log.read_text().split()) if log.exists() else 0


@pytest.mark.parametrize("staged", [False, True], ids=["in_memory", "runner"])
def test_each_pprl_kernel_sees_each_row_once(spark, tmp_path, monkeypatch, staged):
    logs = {name: tmp_path / f"{name}.log" for name in ("encode", "keys", "score")}
    monkeypatch.setattr(encode, "encode_udf",
                        _counting_udf(encode.encode_udf, str(logs["encode"])))
    monkeypatch.setattr(hlsh, "hlsh_keys_udf",
                        _counting_udf(hlsh.hlsh_keys_udf, str(logs["keys"])))
    monkeypatch.setattr(score, "pair_scorer",
                        _counting_scorer(score.pair_scorer, str(logs["score"])))
    runner = StageRunner(spark, str(tmp_path / "stages")) if staged else None

    res = run_dedup_pipeline(spark, _pprl_records(spark), _pprl_config(),
                             runner=runner, cluster=False)
    n_matched = res.matched_pairs.count()
    seen = {name: _rows(log) for name, log in logs.items()}
    n_records, n_cands = res.encoded.count(), res.candidate_pairs.count()
    res.release()
    assert n_matched > 0
    assert seen == {"encode": n_records, "keys": n_records, "score": n_cands}
