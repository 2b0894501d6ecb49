"""Benchmark harness: headline PPRL pipeline + training-data ops at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is end-to-end seconds of the flagship PPRL dedup
pipeline (encode -> HLSH block -> salted FPS candidates -> Dice classify ->
connected components) over a deterministically synthesized repos table sized
to the sf; ``extra`` carries candidate-pairs/sec (the BASELINE.json
throughput metric) and per-stage timings.

Set BENCH_SCALING=1 to also run the N vs 4N parallelism probe (local[8] vs
local[32] on the same input) and report throughput scaling efficiency.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# repos-table size scales with the sf dir (sf0.1 -> 20k entities ~ 40k files)
_SF_GUESS = 0.1 if "0.1" in SF_DIR else (0.01 if "0.01" in SF_DIR else 0.001)
N_ENTITIES = int(os.environ.get("BENCH_ENTITIES", str(int(200_000 * _SF_GUESS))))


_JVM_HEAP_AT_LAUNCH: list[str] = []  # driver memory the in-process JVM got


def build_spark(cpus: int, shuffle_partitions: int | None = None):
    import os

    from pprl_scaling_framework_spark.sources.session import build_session

    # 24g heap: with 16-32 executor threads in one JVM, an 8g heap makes GC
    # the scaling bottleneck (pure-CPU and DRAM probes both scale 4->16 at
    # ~0.99 on this VM; the candidates stage didn't until the heap was raised)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    if not _JVM_HEAP_AT_LAUNCH:
        # the py4j gateway JVM (and its -Xmx) is pinned by the FIRST session
        # in this process; later env changes are silently ignored
        _JVM_HEAP_AT_LAUNCH.append(os.environ["SPARK_DRIVER_MEMORY"])
    extra = {}
    # probe knobs (scaling experiments want a FIXED plan with minimal
    # parallelism-independent driver work — see run_scaling_probe notes):
    # BENCH_AQE=0 disables runtime re-planning; BENCH_BROADCAST_THRESHOLD
    # caps driver-built broadcast hash tables (their single-threaded build
    # time is pure non-scaling overhead that grows with the corpus)
    if os.environ.get("BENCH_AQE") == "0":
        extra["spark.sql.adaptive.enabled"] = "false"
    bt = os.environ.get("BENCH_BROADCAST_THRESHOLD")
    if bt:
        extra["spark.sql.autoBroadcastJoinThreshold"] = bt
    spark = build_session(
        f"pprl-bench-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=shuffle_partitions or max(cpus * 2, 16),
        prefer_shuffled_hash=True,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_config():
    from pprl_scaling_framework_spark.encoding import schemes
    from pprl_scaling_framework_spark.pipeline.linkage import LinkageConfig

    return LinkageConfig(
        encoding=schemes.clk(["content"], N=4096, K=8, Q=2),
        hlsh_K=30, hlsh_seed=420, delta=0.01, theta=164,
        method="dice", threshold=0.8, hot_threshold=64, salt_shards=16,
        max_bucket=256,
    )


class _TimingRunner:
    """Stage hook of the staged mode: persists, counts and times each stage
    the library pipeline hands it (``run(name, build)``, as StageRunner)."""

    #: stage name -> its key in bench's ``counts``
    COUNT_KEYS = {"encode": "rep_records", "block": "blocking_keys",
                  "candidates": "candidate_pairs", "match": "matched_pairs"}

    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.counts: dict[str, int] = {}
        self.persisted: list = []

    def run(self, name, build):
        s = time.time()
        df = build().persist()
        self.persisted.append(df)
        n = df.count()
        # bench reports cluster + expansion as one "cluster" stage
        key = "cluster" if name == "cluster_expand" else name
        self.timings[key] = self.timings.get(key, 0.0) + time.time() - s
        if name in self.COUNT_KEYS:
            self.counts[self.COUNT_KEYS[name]] = n
        return df


def run_pipeline(
    spark, n_entities: int, cluster: bool = True,
    input_path: str | None = None, fused: bool = False,
) -> dict:
    """Flagship pipeline (``run_dedup_pipeline``) with per-stage wall times;
    returns timings + counts.

    ``input_path``: read a pre-generated records parquet instead of
    synthesizing inline (the scaling probe generates ONCE at full parallelism
    so every measured config runs the identical bytes; load stays excluded
    from the work metric either way).

    ``fused``: the library's no-runner path — no per-stage count()
    barriers, the collapse->encode->block->candidates->match chain
    materializes with a single action, as a real spark-submit job runs it.
    The staged mode's extra driver jobs (persist barriers + AQE re-plans per
    stage) are pure parallelism-independent overhead that distorts the
    N-vs-4N ratio; the no-runner path only persists the stage outputs with
    more than one consumer (encoded, keys).
    """
    from pprl_scaling_framework_spark.pipeline.linkage import run_dedup_pipeline
    from pprl_scaling_framework_spark.sources import repos as repos_src

    assert not (fused and cluster), "fused mode measures the linear chain only"
    cfg = bench_config()
    t: dict[str, float] = {}
    counts: dict[str, int] = {}

    t0 = time.time()
    s = time.time()
    if input_path is not None:
        records = spark.read.parquet(input_path).persist()
    else:
        records = repos_src.with_uid_and_sha(
            repos_src.synth_repos(spark, n_entities=n_entities, seed=42, skew_every=50)
        ).persist()
    counts["records"] = records.count()
    t["generate"] = time.time() - s

    runner = None if fused else _TimingRunner()
    s = time.time()
    res = run_dedup_pipeline(spark, records, cfg, runner=runner, cluster=cluster)
    if runner is None:
        counts["matched_pairs"] = res.matched_pairs.count()
        t["work"] = time.time() - s
    else:
        t.update(runner.timings)
        counts.update(runner.counts)
        if cluster:
            s = time.time()
            counts["clusters"] = res.clusters.select("entity_id").distinct().count()
            t["cluster"] += time.time() - s
    t["total"] = time.time() - t0
    t["total_ex_generate"] = t["total"] - t["generate"]
    records.unpersist()
    res.release()
    if runner is not None:
        for df in runner.persisted:
            df.unpersist()
    plan = res.plan
    return {"timings": t, "counts": counts, "plan": {"C": plan.C, "L": plan.L}}


def run_ops_queries(spark) -> dict[str, float]:
    """Headline training-data ops at the sf dir."""
    from pprl_scaling_framework_spark.entry_queries import QUERIES

    names = [
        "dedup_minhash_lsh", "dedup_exact", "text_quality",
        "ann_cosine_topk", "ann_ivf_topk", "a1_agg_pricing", "f2_frequent_pairs",
    ]
    from pprl_scaling_framework_spark.ops.bucket_join import release_persists

    out = {}
    for name in names:
        s = time.time()
        n = QUERIES[name](spark, SF_DIR).count()
        out[name] = round(time.time() - s, 3)
        # operator-internal caches (LSH bases, hot-tail sizes) are consumed
        # by the count() above; release them so pass N+1 starts cold and the
        # executor's storage pool doesn't accumulate across the bench loop
        release_persists()
    return out


def _ceiling_probe(spark, n: int) -> float:
    """Pure-codegen zero-shuffle probe: how well can ANY Spark job scale on
    this single-JVM VM? (Sum of xxhash64 over spark.range — no Python, no
    shuffle, no disk.) The engine's measured efficiency should be read
    against this ceiling, not against 1.0."""
    from pyspark.sql import functions as F

    s = time.time()
    # pmod keeps the ANSI sum far from long overflow at any probe size
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 2).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
    ).collect()
    return time.time() - s


def _bw_worker(n_longs: int, reps: int, barrier, q) -> None:
    import time as _t

    import numpy as np

    src = np.ones(n_longs, dtype=np.int64)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # touch pages before the measured region
    barrier.wait()
    t0 = _t.time()
    for _ in range(reps):
        np.copyto(dst, src)
    q.put(_t.time() - t0)


def _bandwidth_probe(cpus_list: list[int], reps_each: int = 2) -> dict[int, float]:
    """DRAM-bus probe (no Spark, no compute): p processes concurrently
    stream-copying a 256 MB buffer each (working set >> L3, pure memcpy).
    Aggregate GB/s at each p gives the memory-bandwidth component of the
    engine's N->4N ratio its own datum — the pure-codegen ceiling probe is
    compute-bound and cannot see bus saturation.
    """
    import multiprocessing as mp

    mb = int(os.environ.get("BANDWIDTH_MB", "256"))
    copies = int(os.environ.get("BANDWIDTH_COPIES", "24"))
    n_longs = mb * 1024 * 1024 // 8
    out: dict[int, float] = {}
    # fork (not spawn): the worker touches only numpy, and spawn would
    # re-import the caller's __main__ (breaks under `python - <<EOF` probes)
    ctx = mp.get_context("fork")
    for _ in range(reps_each):
        for p in cpus_list:
            barrier = ctx.Barrier(p + 1)
            q = ctx.Queue()
            procs = [
                ctx.Process(target=_bw_worker, args=(n_longs, copies, barrier, q))
                for _ in range(p)
            ]
            for pr in procs:
                pr.start()
            barrier.wait()
            t0 = time.time()
            for pr in procs:
                pr.join()
            wall = time.time() - t0
            # read + write per copy
            gbps = p * copies * 2 * n_longs * 8 / wall / 1e9
            out[p] = max(out.get(p, 0.0), gbps)
            while not q.empty():
                q.get()
    return out


def run_scaling_probe() -> dict:
    """N-vs-4N parallelism evidence (the BASELINE.json north-rule criterion).

    Design notes (each measured; see BENCH.md):
    - Pairs default to 4:16 with 2:8 alongside: this VM exposes 32
      hyperthreads over ~16 PHYSICAL cores (8->32 hardware-caps at ~0.68 for
      any workload, measured with a no-Spark multiprocessing sha256 probe),
      so both measured pairs stay within physical cores. A real N->4N
      EXECUTOR scale-out has separate JVMs/memory buses — in-VM ratios are
      lower bounds.
    - Input is generated ONCE at full parallelism and written to parquet;
      every measured config reads the identical bytes (load excluded from
      the work metric, as input synthesis was before).
    - fused=True, the library's no-runner path: the chain materializes
      with ONE action like a real spark-submit job — the staged mode's
      per-stage count() barriers are parallelism-independent driver
      overhead that caps the ratio.
    - INTERLEAVED reps (small, big, small, big, ...) after a JIT warm-up so
      slow host drift (this VM swings 2-7x on identical code) hits both
      configs equally; best-of-reps is the least-contaminated estimate.
    - A pure-codegen zero-shuffle ceiling probe runs at each parallelism:
      the single-JVM driver bounds ANY Spark job below 1.0 here.
    - shuffle_partitions is FIXED (default 64) across every config: letting
      it scale with cores changes the AQE plan (coalescing, join picks)
      between configs, so the comparison would no longer be the same
      physical plan at two parallelism levels.
    """
    import shutil

    from pprl_scaling_framework_spark.sources import repos as repos_src

    # Defaults = the criterion configuration the evidence and BENCH.md cite
    # (every knob env-overridable): 2:8 is the headline datum
    # (-> efficiency_N_to_4N), 800k entities, fixed 64-partition plan, AQE
    # off (a fixed plan needs no runtime re-planning), 8 MB broadcast cap
    # (driver-built hash tables are single-threaded non-scaling overhead),
    # 48g heap (the 1.6M candidates partial-agg spills below that at
    # local[2]). Measured A/B at 800k/local[8]: AQE+64m-broadcast adds
    # ~126 s of parallelism-independent driver time to the chain.
    os.environ.setdefault("BENCH_AQE", "0")
    os.environ.setdefault("BENCH_BROADCAST_THRESHOLD", "8m")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    # the heap is pinned at the first in-process JVM launch; a probe run
    # after the flagship bench in the same process would silently get that
    # launch's (smaller) heap and spill at local[2]/1.6M — fail fast instead
    # (main() pre-sets 48g when BENCH_SCALING=1 so the plain documented
    # invocation stays valid)
    def _gb(s: str) -> float:
        s = s.strip().lower()
        return float(s[:-1]) * (1024 if s.endswith("t") else 1) if s[-1] in "gt" \
            else float(s[:-1]) / 1024 if s.endswith("m") else float(s)
    if _JVM_HEAP_AT_LAUNCH and _gb(_JVM_HEAP_AT_LAUNCH[0]) < _gb(
            os.environ["SPARK_DRIVER_MEMORY"]):
        raise RuntimeError(
            f"scaling probe needs SPARK_DRIVER_MEMORY={os.environ['SPARK_DRIVER_MEMORY']} "
            f"but this process's JVM launched with {_JVM_HEAP_AT_LAUNCH[0]}; "
            "export SPARK_DRIVER_MEMORY before starting python (the heap is "
            "pinned at first JVM launch)")
    pairs = [
        tuple(int(x) for x in p.split(":"))
        for p in os.environ.get("SCALING_PAIRS", "2:8,4:16").split(",")
    ]
    n_scale = int(os.environ.get("SCALING_ENTITIES", "800000"))
    reps = int(os.environ.get("SCALING_REPEAT", "3"))
    probe_rows = int(os.environ.get("SCALING_PROBE_ROWS", str(15_000_000_000)))
    input_path = f"/dev/shm/pprl-bench-input-{n_scale}"
    scaling: dict = {"entities": n_scale, "reps": reps, "pairs": pairs,
                     "fused": True, "stages": "collapse+encode+block+candidates+match"}

    # PRE-FLIGHT HEALTH GATE (round-5 verdict item 1): every round-5 probe
    # attempt burned a 9-15 min local[2] window before discovering the host
    # was degraded (its own ceiling probe read 1.14-1.39x the healthy
    # 78.6-80 s reference at 15e9 rows). Run the small-side ceiling probe
    # FIRST — after an unmeasured 1/10-size JIT warm-up — and abort the whole
    # attempt in ~3 min if it reads above SCALING_HEALTH_MAX_SEC (default
    # 1.1x the healthy reference, scaled to the configured probe size). The
    # aborted attempt is still recorded (run_scaling_only.py appends it), so
    # the evidence log shows every try, not just survivors.
    if os.environ.get("SCALING_HEALTH_GATE", "1") != "0":
        n_small_gate = min(c for p in pairs for c in p)
        healthy_ref = 80.0 * probe_rows / 15_000_000_000 * 2 / n_small_gate
        health_max = float(os.environ.get(
            "SCALING_HEALTH_MAX_SEC", str(round(1.1 * healthy_ref, 1))))
        sp = build_spark(n_small_gate)
        _ceiling_probe(sp, probe_rows // 10)  # JIT warm-up, unmeasured
        pre = _ceiling_probe(sp, probe_rows)
        sp.stop()
        scaling["preflight_ceiling_sec"] = round(pre, 2)
        scaling["preflight_max_sec"] = health_max
        scaling["preflight_cpus"] = n_small_gate
        if pre > health_max:
            scaling["aborted"] = (
                f"degraded_host_preflight ({pre:.1f}s > {health_max}s gate "
                f"at local[{n_small_gate}]) — retry in a quiet window")
            return scaling

    # generate once at full parallelism; all configs read the same bytes
    sp = build_spark(CPUS)
    if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
        shutil.rmtree(input_path, ignore_errors=True)
        repos_src.with_uid_and_sha(
            repos_src.synth_repos(sp, n_entities=n_scale, seed=42, skew_every=50)
        ).write.mode("overwrite").parquet(input_path)
    # JIT/arrow warm-up for the shared JVM (unmeasured): a cold JVM penalizes
    # whatever runs first by 10-30% and poisons the ratio
    run_pipeline(sp, max(n_scale // 40, 10_000), cluster=False, fused=True)
    sp.stop()

    cpus_list = sorted({c for p in pairs for c in p})
    best: dict[int, dict] = {}
    ceil_t: dict[int, float] = {}
    fixed_parts = int(os.environ.get("SCALING_PARTITIONS", "64"))
    scaling["shuffle_partitions"] = fixed_parts
    scaling["aqe"] = os.environ["BENCH_AQE"] != "0"
    scaling["broadcast_threshold"] = os.environ["BENCH_BROADCAST_THRESHOLD"]
    # every rep's wall + its own ceiling probe are reported (rep_walls),
    # not just the minima: on this noisy host a degraded window shows up as
    # a rep whose ceiling probe is off its session best, and the ratio
    # should be read from reps whose probes agree (see BENCH.md)
    scaling["rep_walls"] = []
    for rep in range(reps):
        for cpus in cpus_list:
            sp = build_spark(cpus, shuffle_partitions=fixed_parts)
            r = run_pipeline(sp, n_scale, cluster=False, input_path=input_path, fused=True)
            probe = _ceiling_probe(sp, probe_rows)
            ceil_t[cpus] = min(ceil_t.get(cpus, probe), probe)
            sp.stop()
            scaling["rep_walls"].append({
                "rep": rep, "cpus": cpus,
                "total_sec": round(r["timings"]["total_ex_generate"], 2),
                "ceiling_probe_sec": round(probe, 2),
            })
            if cpus not in best or (r["timings"]["total_ex_generate"]
                                    < best[cpus]["timings"]["total_ex_generate"]):
                best[cpus] = r
    for cpus in cpus_list:
        work = best[cpus]["timings"]["total_ex_generate"]
        thr = best[cpus]["counts"]["records"] / work
        scaling[f"local[{cpus}]"] = {
            "total_sec": round(work, 2),
            "records_per_sec": round(thr, 1),
            "ceiling_probe_sec": round(ceil_t[cpus], 2),
        }
    # DRAM-bandwidth probe at the same parallelism levels (no Spark): its own
    # N->4N ratio is the measured bound for any shuffle-heavy stage, so the
    # engine ratio decomposes into ceiling (compute) vs bandwidth (memory bus)
    bw = _bandwidth_probe(cpus_list)
    for p, gbps in bw.items():
        scaling[f"local[{p}]"]["bandwidth_probe_gbps"] = round(gbps, 2)
    for n_small, n_big in pairs:
        t_n = scaling[f"local[{n_small}]"]["records_per_sec"]
        t_4n = scaling[f"local[{n_big}]"]["records_per_sec"]
        factor = n_big / n_small
        eff = round((t_4n / t_n) / factor, 3)
        ceil_eff = round(
            (ceil_t[n_small] / ceil_t[n_big]) / factor, 3
        )
        scaling[f"efficiency_{n_small}_to_{n_big}"] = eff
        scaling[f"ceiling_{n_small}_to_{n_big}"] = ceil_eff
        scaling[f"bandwidth_{n_small}_to_{n_big}"] = round(
            (bw[n_big] / bw[n_small]) / factor, 3
        )
        if (n_small, n_big) == pairs[0]:
            scaling["efficiency_N_to_4N"] = eff
    return scaling


def run_streaming_probe() -> dict:
    """BENCH_STREAMING=1: throughput of the streaming FPS surface — a parquet
    file stream (Trigger.AvailableNow, bounded micro-batches) through
    encode -> HLSH keys -> stream-static candidate join + stateful collision
    count, against a pre-built static index of the same corpus. Reported as
    stream records/sec wall (the streaming analog of records_per_sec_e2e).
    """
    import shutil

    from pprl_scaling_framework_spark.blocking import hlsh
    from pprl_scaling_framework_spark.encoding.encode import encode_dataframe
    from pprl_scaling_framework_spark.sources import repos as repos_src
    from pprl_scaling_framework_spark.streaming import stream_linkage as sl

    n = int(os.environ.get("STREAM_ENTITIES", str(N_ENTITIES)))
    # RocksDB state store: the pair-collision counter keys on candidate
    # pairs, so state grows ~O(colliding pairs) — at 800k entities that is
    # >10^7 keys, and the default HDFSBackedStateStore (whole store on heap,
    # maintenance copies per batch) plus tmpfs shuffle OOM-killed the JVM
    # (measured: 52 GB of blockmgr in /dev/shm before the kernel killed it).
    # RocksDB keeps state off-heap/on-disk with a bounded block cache.
    from pprl_scaling_framework_spark.sources.session import build_session

    extra = {"spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")}
    spark = build_session(
        f"pprl-stream-{CPUS}", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 2, 16), prefer_shuffled_hash=True,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = bench_config()
    plan = cfg.plan()
    n_bits = cfg.encoding.total_bits
    # src stays on tmpfs (bounded: the input parquet); the checkpoint — state
    # snapshots + changelogs that scale with pair count — goes to disk
    src_path = "/dev/shm/pprl-stream-src"
    ckpt = "/tmp/pprl-stream-ckpt"
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    records = repos_src.with_uid_and_sha(
        repos_src.synth_repos(spark, n_entities=n, seed=42, skew_every=50)
    )
    records.repartition(16).write.mode("overwrite").parquet(src_path)
    static = spark.read.parquet(src_path)
    n_records = static.count()
    encoded = encode_dataframe(static, cfg.encoding, included=["uid"]).persist()
    pos = hlsh.position_matrix(plan.L, cfg.hlsh_K, n_bits, cfg.hlsh_seed)
    # int64 rid surrogates on BOTH sides (60 B uid strings through the join
    # + collision agg spill; 8 B rids keep the per-batch hash agg in memory)
    # and the batch chain's max_bucket cap (the uncapped join explodes on hot
    # keys — see streaming.stream_linkage.cap_static_index). The capped index
    # is persisted ALREADY hash-partitioned on the join key: the cached plan
    # exposes that outputPartitioning, so each micro-batch's join (which
    # re-executes the static plan) reuses it instead of re-shuffling it
    index = sl.cap_static_index(
        hlsh.blocking_keys(encoded, "uid", "bf", pos, n_bits, hash_uid=True),
        cfg.max_bucket,
    ).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "group_id", "key"
    ).persist()
    index.count()

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger",
                os.environ.get("STREAM_FILES_PER_TRIGGER", "4"))
        .parquet(src_path)
    )
    cands = sl.stream_candidates_against_index(
        hlsh.blocking_keys(encode_dataframe(stream, cfg.encoding, included=["uid"]),
                           "uid", "bf", pos, n_bits, hash_uid=True),
        index, plan.C,
    )
    t0 = time.time()
    q = (
        cands.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    # state-store growth + per-batch latency from the query's own progress
    # events: bounded state (~#distinct candidate pairs) and batch times that
    # do NOT trend upward are the "streaming survives scale" evidence
    batches = []
    state_rows_final = state_mem_final = 0
    for p in q.recentProgress:
        if p is None:
            continue
        dur = (p.get("durationMs") or {}).get("triggerExecution")
        rows_total = sum(
            so.get("numRowsTotal", 0) for so in p.get("stateOperators") or [])
        mem = sum(
            so.get("memoryUsedBytes", 0) for so in p.get("stateOperators") or [])
        if p.get("numInputRows", 0) or rows_total:
            batches.append({
                "input_rows": p.get("numInputRows", 0),
                "batch_ms": dur,
                "state_rows": rows_total,
            })
            state_rows_final = max(state_rows_final, rows_total)
            state_mem_final = max(state_mem_final, mem)
    spark.stop()
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    batch_ms = [b["batch_ms"] for b in batches if b["batch_ms"]]
    return {
        "entities": n, "records": n_records,
        "wall_sec": round(wall, 2),
        "stream_records_per_sec": round(n_records / wall, 1),
        "n_batches": len(batches),
        "state_rows_max": state_rows_final,
        "state_memory_mb_max": round(state_mem_final / 1e6, 1),
        "batch_ms_first_half_mean": round(
            sum(batch_ms[: len(batch_ms) // 2]) / max(len(batch_ms) // 2, 1), 1),
        "batch_ms_second_half_mean": round(
            sum(batch_ms[len(batch_ms) // 2:]) / max(len(batch_ms) - len(batch_ms) // 2, 1), 1),
    }


def run_skew_probe() -> dict:
    """Quantify the skew levers (BENCH_SKEW=1): block+candidates wall time on
    a deliberately skewed corpus (10% of entities share ONE byte-identical
    content -> one mega blocking bucket per HLSH group), with exact-collapse
    DISABLED so the mega-bucket actually reaches the join, run three ways:

    - unsalted: hot_threshold huge (every bucket in one shuffle task);
    - salted:   proportional sharding (the default path);
    - capped:   salted + max_bucket (mega-buckets dropped).

    Reported per variant: candidates-stage seconds and pair count (salted ==
    unsalted by construction; capped is smaller). Interleaved best-of-reps.
    """
    from pprl_scaling_framework_spark.blocking import fps, hlsh
    from pprl_scaling_framework_spark.encoding.encode import encode_dataframe
    from pprl_scaling_framework_spark.sources import repos as repos_src

    n_entities = int(os.environ.get("SKEW_ENTITIES", "20000"))
    reps = int(os.environ.get("SKEW_REPEAT", "3"))
    cfg = bench_config()
    # SKEW_L overrides the planner's L: with L ~ cores the mega-buckets (one
    # per group) already spread across all task slots and salting has nothing
    # to rebalance; L << cores models the 1000-executor regime where unsalted
    # hot buckets strand most of the cluster idle
    skew_l = os.environ.get("SKEW_L")
    if skew_l:
        cfg.L = int(skew_l)
    plan = cfg.plan()
    n_bits = cfg.encoding.total_bits
    spark = build_spark(CPUS)
    # skew_every=10 -> 10% of entities carry the identical boilerplate file
    records = repos_src.with_uid_and_sha(
        repos_src.synth_repos(spark, n_entities=n_entities, seed=42, skew_every=10)
    ).persist()
    records.count()
    encoded = encode_dataframe(records, cfg.encoding, included=["uid"]).persist()
    encoded.count()
    pos = hlsh.position_matrix(plan.L, cfg.hlsh_K, n_bits, cfg.hlsh_seed)
    # the keys and candidates call of the pipeline's candidates stage
    keys = hlsh.blocking_keys(encoded, "uid", "bf", pos, n_bits, hash_uid=True).persist()
    keys.count()

    variants = {
        "unsalted": dict(hot_threshold=1 << 30, shards=1, max_bucket=None),
        "salted": dict(hot_threshold=cfg.hot_threshold, shards=cfg.salt_shards,
                       max_bucket=None),
        "salted_capped": dict(hot_threshold=cfg.hot_threshold,
                              shards=cfg.salt_shards, max_bucket=cfg.max_bucket),
    }
    out: dict = {"entities": n_entities, "skew_every": 10, "reps": reps}
    for _ in range(reps):
        for name, kw in variants.items():
            s = time.time()
            n_pairs = fps.candidate_pairs(
                keys, None, C=plan.C, self_join=True, uids_a=encoded,
                key_bits=cfg.hlsh_K, n_groups=plan.L, uids_hashed=True, **kw
            ).count()
            dt = round(time.time() - s, 2)
            cur = out.get(name)
            if cur is None or dt < cur["seconds"]:
                out[name] = {"seconds": dt, "pairs": n_pairs}
    spark.stop()
    return out


def main() -> None:
    results_queries: dict[str, float] = {}
    extra: dict = {}

    if os.environ.get("BENCH_SCALING") == "1":
        # pre-pin the scaling probe's heap BEFORE the first JVM launch so
        # `BENCH_SCALING=1 python bench.py` gets the documented 48g config
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = build_spark(CPUS)
    # Per-metric MIN over BENCH_REPEAT passes: this VM shows 2-7x run-to-run
    # swings on identical code (shared-host contention invisible to steal
    # accounting) — the minimum measures the code, not the neighbors. Ops
    # queries run FIRST within each pass so they don't inherit the
    # pipeline's JVM GC/memory pressure.
    #
    # NOISE GATE: each pass is bracketed by a 1-2 s pure-codegen probe; a
    # pass whose probe exceeds NOISE_GATE_RATIO x the session-best probe ran
    # in a degraded host window and is EXCLUDED from the minima (flagged in
    # extra.noise). If every pass is gated the raw minima are reported with
    # noise.all_passes_degraded=true — cross-round comparisons should then
    # be treated as upper bounds (see BENCH.md round-4 postmortem).
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "3")))
    gate_ratio = float(os.environ.get("NOISE_GATE_RATIO", "1.15"))
    probe_rows = int(os.environ.get("NOISE_PROBE_ROWS", str(3_000_000_000)))
    # unmeasured JIT/arrow warm-up (same rationale as the scaling probe): a
    # cold JVM penalizes pass 1 by 2-3x, and with few passes in a noisy
    # window the minima would partly measure warm-up, not the code
    run_pipeline(spark, max(N_ENTITIES // 10, 1_000))
    passes = []
    for _ in range(repeat):
        probe = _ceiling_probe(spark, probe_rows)
        ops = run_ops_queries(spark)
        p = run_pipeline(spark, N_ENTITIES)
        probe = min(probe, _ceiling_probe(spark, probe_rows))
        passes.append({"probe": probe, "ops": ops, "pipe": p})
    best_probe = min(ps["probe"] for ps in passes)
    # the session-best pass always passes its own gate; the gate excludes
    # passes that were RELATIVELY degraded. best_probe_sec is the absolute
    # cross-round health reference (probe_rows is fixed): compare it against
    # the previous round's BENCH_r{N}.json before reading query deltas.
    valid = [ps for ps in passes if ps["probe"] <= gate_ratio * best_probe]
    extra["noise"] = {
        "probe_secs": [round(ps["probe"], 2) for ps in passes],
        "best_probe_sec": round(best_probe, 2),
        "probe_rows": probe_rows,
        "gate_ratio": gate_ratio,
        "passes_used": len(valid),
        "passes_total": len(passes),
    }
    pipe = None
    for ps in valid:
        for k, v in ps["ops"].items():
            results_queries[k] = min(results_queries.get(k, v), v)
        p = ps["pipe"]
        for k, v in p["timings"].items():
            key = f"pprl_{k}"
            results_queries[key] = min(results_queries.get(key, round(v, 3)), round(v, 3))
        if pipe is None or p["timings"]["total"] < pipe["timings"]["total"]:
            pipe = p
    # derived metrics use the per-stage minima
    pipe["timings"] = {k: results_queries[f"pprl_{k}"] for k in pipe["timings"]}
    extra["counts"] = pipe["counts"]
    extra["plan"] = pipe["plan"]
    extra["n_entities"] = N_ENTITIES
    extra["cpus"] = CPUS
    cand_stage = pipe["timings"]["block"] + pipe["timings"]["candidates"]
    extra["candidate_pairs_per_sec"] = round(pipe["counts"]["candidate_pairs"] / cand_stage, 1)
    extra["records_per_sec_e2e"] = round(pipe["counts"]["records"] / pipe["timings"]["total"], 1)
    spark.stop()

    if os.environ.get("BENCH_SKEW") == "1":
        extra["skew"] = run_skew_probe()

    if os.environ.get("BENCH_STREAMING") == "1":
        extra["streaming"] = run_streaming_probe()

    if os.environ.get("BENCH_SCALING") == "1":
        extra["scaling"] = run_scaling_probe()

    print(json.dumps({
        "metric": "pprl_e2e_seconds",
        "value": round(pipe["timings"]["total"], 3),
        "unit": "sec",
        "queries": results_queries,
        "sf": _SF_GUESS,
        "extra": extra,
    }))


if __name__ == "__main__":
    main()
