"""BatchEncoder (vectorized) must equal a straightforward scalar encoding
built directly from core.qgrams + core.hashing — mirroring the reference's
fast==naive test strategy."""

import numpy as np
import pandas as pd
import pytest

from pprl_scaling_framework_spark.core.bloom import n_bytes, unpack_bits
from pprl_scaling_framework_spark.core.hashing import hashes_v3
from pprl_scaling_framework_spark.core.qgrams import qgrams_of_string
from pprl_scaling_framework_spark.encoding import schemes
from pprl_scaling_framework_spark.encoding.batch_kernel import BatchEncoder

ROWS = [
    ("john smith", "1408 st andrews dr", "mebane"),
    ("", "x", "  "),
    ("CONNOR", "dradien", "irving"),
    ("a" * 100, "multi  space\tstring", "_already_"),
    ("héllo wörld", "unicode-path/ü.py", "zz"),
    ("def f(x):\n    return x + 1", "src/lib/util.py", "py"),
]


def scalar_clk(rows, fields_idx, N, K, Q):
    out = []
    for row in rows:
        bits = np.zeros(N, dtype=np.uint8)
        for i in fields_idx:
            for g in qgrams_of_string(row[i], Q):
                bits[hashes_v3(g.encode("utf-8"), N, K)] = 1
        out.append(np.packbits(bits, bitorder="little").tobytes())
    return out


def scalar_fbf(rows, fields_idx, sizes, K, Q):
    out = []
    for row in rows:
        total = sum(sizes)
        bits = np.zeros(total, dtype=np.uint8)
        off = 0
        for j, i in enumerate(fields_idx):
            for g in qgrams_of_string(row[i], Q):
                bits[off + hashes_v3(g.encode("utf-8"), sizes[j], K)] = 1
            off += sizes[j]
        out.append(np.packbits(bits, bitorder="little").tobytes())
    return out


def _cols(rows, idx):
    return [pd.Series([r[i] for r in rows]) for i in idx]


def test_clk_batch_equals_scalar():
    cfg = schemes.clk(["f0", "f1", "f2"], N=1024, K=10, Q=2)
    enc = BatchEncoder(cfg)
    got = enc.encode(_cols(ROWS, [0, 1, 2])).tolist()
    want = scalar_clk(ROWS, [0, 1, 2], 1024, 10, 2)
    assert got == want
    assert all(len(b) == n_bytes(1024) for b in got)


def test_clk_batch_stable_across_batches():
    cfg = schemes.clk(["f0"], N=512, K=5, Q=3)
    enc = BatchEncoder(cfg)
    a = enc.encode(_cols(ROWS, [0])).tolist()
    b = enc.encode(_cols(ROWS, [0])).tolist()  # cache warm second time
    assert a == b


def test_fbf_batch_equals_scalar():
    sizes = (256, 128, 512)
    cfg = schemes.EncodingConfig(scheme="fbf", fields=("f0", "f1", "f2"),
                                 K=8, Q=2, fbf_sizes=sizes)
    enc = BatchEncoder(cfg)
    got = enc.encode(_cols(ROWS, [0, 1, 2])).tolist()
    want = scalar_fbf(ROWS, [0, 1, 2], sizes, 8, 2)
    assert got == want


def test_rbf_scatter_gather():
    cfg = schemes.rbf_uniform(["f0", "f1"], fbf_sizes=[256, 256], rbf_n=256,
                              K=5, Q=2, permutation_seed=7, selection_seeds=[3, 4])
    enc = BatchEncoder(cfg)
    got = enc.encode(_cols(ROWS, [0, 1]))
    # scalar: build per-field FBFs, then place selected bits through perm
    selected, perm = cfg.rbf_plan()
    for r, row in enumerate(ROWS):
        fbf_bits = []
        for j, i in enumerate([0, 1]):
            bits = np.zeros(cfg.fbf_sizes[j], dtype=np.uint8)
            for g in qgrams_of_string(row[i], 2):
                bits[hashes_v3(g.encode("utf-8"), cfg.fbf_sizes[j], 5)] = 1
            fbf_bits.append(bits)
        out = np.zeros(cfg.rbf_n, dtype=np.uint8)
        slot = 0
        for j in range(2):
            for b in selected[j]:
                out[perm[slot]] = fbf_bits[j][b]
                slot += 1
        want = np.packbits(out, bitorder="little").tobytes()
        assert got.iloc[r] == want, f"row {r}"


def test_empty_and_null_handling():
    cfg = schemes.clk(["f0"], N=256, K=4, Q=2)
    enc = BatchEncoder(cfg)
    s = enc.encode([pd.Series(["", None, "ab"])])
    assert s.iloc[0] == b"\x00" * 32
    assert s.iloc[1] == b"\x00" * 32
    assert s.iloc[2] != b"\x00" * 32


def test_enc_golden_plan_parity(spark):
    """The JDK golden generator (tests/gen_pprl_enc_golden.java) echoes its
    computed plan into pprl_enc_plan.properties; it must equal the Python
    planner's dynamic sizing + weighted RBF composition exactly — a
    Math.pow/ceil ulp divergence between JVMs fails HERE, loudly, instead of
    as an opaque digest mismatch in the driver's correctness gate."""
    import os

    from pprl_scaling_framework_spark import entry_queries as eq
    from pprl_scaling_framework_spark.core import planner

    path = os.path.join(os.path.dirname(__file__), "golden", "pprl_enc_plan.properties")
    props = {}
    with open(path) as f:
        for line in f:
            k, v = line.strip().split("=", 1)
            props[k] = v

    recs = eq._pprl_enc_records(spark)
    sizes = planner.fbf_dynamic_sizes(eq._field_avg_qgrams(recs), eq._ENC_K)
    assert ",".join(map(str, sizes)) == props["fbf_sizes"]

    cfg = schemes.rbf_weighted(
        list(eq._PPRL_ENC_FIELDS), sizes, list(eq._RBF_WEIGHTS),
        K=eq._ENC_K, Q=eq._ENC_Q, permutation_seed=eq._RBF_PERM_SEED,
        selection_seeds=list(eq._RBF_SELECTION_SEEDS),
    )
    assert cfg.rbf_n == int(props["rbf_n"])
    assert ",".join(map(str, cfg.rbf_composition)) == props["rbf_composition"]
    assert (int(props["K"]), int(props["Q"])) == (eq._ENC_K, eq._ENC_Q)

    # FBF-static fixed size and RBF-uniform plan must also agree
    assert eq._FBF_STATIC_N == int(props["fbf_static_n"])
    cfg_u = schemes.rbf_uniform(
        list(eq._PPRL_ENC_FIELDS), sizes,
        K=eq._ENC_K, Q=eq._ENC_Q, permutation_seed=eq._RBF_PERM_SEED,
        selection_seeds=list(eq._RBF_SELECTION_SEEDS),
    )
    assert cfg_u.rbf_n == int(props["rbf_uniform_n"])
    assert ",".join(map(str, cfg_u.rbf_composition)) == props["rbf_uniform_composition"]
