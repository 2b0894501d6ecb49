"""Connected components (alternating vs label-prop vs known answer) and
StageRunner checkpoint/resume/metrics tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.clustering.connected_components import (
    connected_components,
)
from pprl_scaling_framework_spark.pipeline.stages import StageRunner
from pprl_test_helpers import label_propagation_components


def _components_dict(df):
    rows = df.collect()
    comp = {}
    for r in rows:
        comp.setdefault(r["entity_id"], set()).add(r["uid"])
    return {frozenset(v) for v in comp.values()}


@pytest.mark.parametrize("thresh", [1_000_000, 0])  # driver fast path + distributed
def test_connected_components_known_graph(spark, thresh):
    # two chains + an isolated pair + a triangle
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),          # chain of 4
            ("x", "y"),                                   # pair
            ("p", "q"), ("q", "r"), ("r", "p"),           # triangle
            ("m", "n"), ("n", "o"),                       # chain of 3
        ],
        ["id_a", "id_b"],
    )
    got = _components_dict(connected_components(edges, driver_threshold=thresh))
    want = {
        frozenset({"a", "b", "c", "d"}),
        frozenset({"x", "y"}),
        frozenset({"p", "q", "r"}),
        frozenset({"m", "n", "o"}),
    }
    assert got == want


def test_connected_components_raises_without_convergence(spark):
    # a 16-vertex path needs more than one large-star/small-star round
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(15)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="max_iterations=1 "):
        connected_components(edges, driver_threshold=0, max_iterations=1)


def test_alternating_equals_label_propagation(spark):
    import random

    rnd = random.Random(7)
    edges = [(f"v{rnd.randrange(200)}", f"v{rnd.randrange(200)}") for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = _components_dict(connected_components(df, driver_threshold=0))
    fast_driver = _components_dict(connected_components(df))
    naive = _components_dict(label_propagation_components(df))
    assert fast == naive == fast_driver


def test_stage_runner_checkpoint_resume(spark, tmp_path):
    run_dir = str(tmp_path / "run1")
    runner = StageRunner(spark, run_dir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    df1 = runner.run("stage_a", build)
    assert df1.count() == 100
    assert calls["n"] == 1

    # resume within the same runner: no rebuild
    df2 = runner.run("stage_a", build)
    assert calls["n"] == 1
    assert df2.count() == 100

    # resume from a fresh runner on the same dir (new process semantics)
    runner2 = StageRunner(spark, run_dir)
    df3 = runner2.run("stage_a", build)
    assert calls["n"] == 1
    assert df3.count() == 100

    # footer metrics recorded
    m = runner2.manifest["stages"]["stage_a"]["metrics"]
    assert m["rows"] == 100
    assert m["partitions"] >= 1
    assert sum(m["partition_rows"].values()) == 100
    assert os.path.exists(os.path.join(run_dir, "manifest.json"))


def _jobs_in_group(spark, group, action):
    """(#Spark jobs ``action`` ran, its result), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_stage_runner_write_is_the_only_job(spark, tmp_path):
    """A stage commits with its write job(s) alone: the read-back takes the
    built schema and the metrics come from the parquet footers."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, IntegerType, LongType, MapType, StringType,
        StructField, StructType,
    )

    runner = StageRunner(spark, str(tmp_path / "run_jobs"))
    schema = StructType([
        StructField("uid", IntegerType(), nullable=False),
        StructField("bf", BinaryType()),
        StructField("keys", ArrayType(LongType(), containsNull=False)),
        StructField("attrs", MapType(StringType(), StringType())),
    ])
    data = [(i, bytes([i, 255 - i]), [i, i * 2], {"k": str(i)}) for i in range(20)]
    n, out = _jobs_in_group(spark, "stage_narrow", lambda: runner.run(
        "typed", lambda: spark.createDataFrame(data, schema)))
    assert n == 1
    path = runner._snapshot_path("typed", runner.current_snapshot_id("typed"))
    assert out.schema == spark.read.parquet(path).schema
    assert sorted(out.collect()) == sorted(spark.createDataFrame(data, schema).collect())

    n, out = _jobs_in_group(spark, "stage_shuffled", lambda: runner.run(
        "grouped", lambda: spark.range(100).groupBy(
            (F.col("id") % 5).alias("k")).count()))
    assert n == 2
    assert out.count() == 5


def test_stage_runner_resume_and_read_start_no_job(spark, tmp_path):
    """A committed snapshot is read back under the schema its commit
    recorded: neither a resumed run() nor a read() infers it with a job."""
    run_dir = str(tmp_path / "run_resume_jobs")
    StageRunner(spark, run_dir).run(
        "s", lambda: spark.range(50).withColumn("v", F.col("id") * 2))
    runner = StageRunner(spark, run_dir)

    def no_rebuild():
        raise AssertionError("a committed stage was rebuilt")

    n, resumed = _jobs_in_group(
        spark, "stage_resume", lambda: runner.run("s", no_rebuild))
    assert n == 0
    n, read = _jobs_in_group(spark, "stage_read", lambda: runner.read("s"))
    assert n == 0
    path = runner._snapshot_path("s", runner.current_snapshot_id("s"))
    assert resumed.schema == read.schema == spark.read.parquet(path).schema
    assert sorted(read.collect()) == sorted(resumed.collect())
    assert read.count() == 50


def test_stage_runner_partition_rows_from_footers(spark, tmp_path):
    """partition_rows counts the rows of each written file: a 7-way
    repartition reports 7 entries (the read-back merges them into fewer
    splits), and an empty stage reports its one empty file."""
    runner = StageRunner(spark, str(tmp_path / "run_footers"))
    runner.run("rep", lambda: spark.range(1000).repartition(7))
    m = runner.manifest["stages"]["rep"]["metrics"]
    assert m["partitions"] == 7
    assert sorted(m["partition_rows"]) == [str(i) for i in range(7)]
    assert sum(m["partition_rows"].values()) == m["rows"] == 1000
    assert runner.read("rep").count() == 1000

    runner.run("empty", lambda: spark.range(10).filter(F.col("id") < 0))
    m = runner.manifest["stages"]["empty"]["metrics"]
    assert m["rows"] == 0
    assert m["partition_rows"] == {"0": 0}
    assert runner.read("empty").count() == 0


def test_stage_runner_snapshot_log_and_time_travel(spark, tmp_path):
    """Snapshot-pinned resume: a changed input fingerprint appends a NEW
    snapshot; the old snapshot stays readable via read_at (time travel)."""
    run_dir = str(tmp_path / "run_snap")
    runner = StageRunner(spark, run_dir)
    calls = {"n": 0}
    data = {"mult": 2}

    def build():
        calls["n"] += 1
        return spark.range(50).withColumn("v", F.col("id") * data["mult"])

    df1 = runner.run("stage_s", build, fingerprint="input-v1")
    assert calls["n"] == 1 and runner.current_snapshot_id("stage_s") == 1

    # same fingerprint -> resume, no rebuild, same snapshot
    runner.run("stage_s", build, fingerprint="input-v1")
    assert calls["n"] == 1

    # changed input -> NEW snapshot appended, old one untouched
    data["mult"] = 10
    df2 = runner.run("stage_s", build, fingerprint="input-v2")
    assert calls["n"] == 2
    assert runner.current_snapshot_id("stage_s") == 2
    assert [s["id"] for s in runner.snapshots("stage_s")] == [1, 2]
    assert df2.agg(F.max("v")).first()[0] == 490

    # time travel: the v1 snapshot still reads the OLD values
    old = runner.read_at("stage_s", 1)
    assert old.agg(F.max("v")).first()[0] == 98
    assert runner.read("stage_s").agg(F.max("v")).first()[0] == 490

    # fresh runner on the same dir sees the full log (process restart)
    runner2 = StageRunner(spark, run_dir)
    assert [s["id"] for s in runner2.snapshots("stage_s")] == [1, 2]
    assert runner2.read_at("stage_s", 1).agg(F.max("v")).first()[0] == 98
    # schema + fingerprint are recorded per snapshot
    s1 = runner2.snapshots("stage_s")[0]
    assert s1["fingerprint"] == "input-v1" and "bigint" in s1["schema"]
    with pytest.raises(KeyError):
        runner2.read_at("stage_s", 99)


def test_stage_runner_failure_marks_failed(spark, tmp_path):
    run_dir = str(tmp_path / "run2")
    runner = StageRunner(spark, run_dir)

    def bad():
        return spark.range(10).withColumn("boom", F.expr("assert_true(id < 5)"))

    with pytest.raises(Exception):
        runner.run("stage_bad", bad)
    assert runner.manifest["stages"]["stage_bad"]["status"] == "failed"
    assert not runner.completed("stage_bad")


def test_mem_profiles_d5():
    """D5: LO/HI profiles mirror MemProfileUtil's ladder + spec validation."""
    import pytest

    from pprl_scaling_framework_spark.sources.session import mem_profile_conf

    lo, hi = mem_profile_conf("LO"), mem_profile_conf("HI")
    assert lo["spark.executor.memory"] == "1g" and hi["spark.executor.memory"] == "2g"
    # pair form resolves to the larger side
    assert mem_profile_conf("LO/HI") == hi
    assert mem_profile_conf("LO/LO") == lo
    with pytest.raises(ValueError):
        mem_profile_conf("MID")
    with pytest.raises(ValueError):
        mem_profile_conf("LO/HI/LO")


def test_stage_runner_schema_evolution(spark, tmp_path):
    """Iceberg-style schema evolution on the snapshot log: a widened schema
    appends a NEW snapshot; the old snapshot stays readable both as-written
    (read_at) and projected under the current schema (added column -> null);
    resume fingerprinting distinguishes the two schema versions."""
    from pyspark.sql import functions as F

    from pprl_scaling_framework_spark.pipeline.stages import StageRunner

    run_dir = str(tmp_path / "run_evo")
    r = StageRunner(spark, run_dir)

    r.run("s", lambda: spark.range(5).select("id", (F.col("id") * 2).alias("x")),
          fingerprint="v1")
    assert r.current_snapshot_id("s") == 1

    # widened build (added column y) under a new fingerprint -> snapshot 2
    r.run("s", lambda: spark.range(5).select(
        "id", (F.col("id") * 2).alias("x"), F.lit("new").alias("y")),
        fingerprint="v2")
    assert r.current_snapshot_id("s") == 2
    assert [s["id"] for s in r.snapshots("s")] == [1, 2]

    # current read carries the widened schema; old snapshot as-written
    assert set(r.read("s").columns) == {"id", "x", "y"}
    assert set(r.read_at("s", 1).columns) == {"id", "x"}

    # old snapshot UNDER the current schema: y present, all-null
    old_evolved = r.read_at("s", 1, under_current_schema=True)
    assert set(old_evolved.columns) == {"id", "x", "y"}
    assert old_evolved.filter(F.col("y").isNull()).count() == 5
    assert old_evolved.filter(F.col("x") == 8).count() == 1

    # resume: matching fingerprint reuses snapshot 2 (no snapshot 3)...
    r2 = StageRunner(spark, run_dir)
    r2.run("s", lambda: (_ for _ in ()).throw(AssertionError("must not rebuild")),
           fingerprint="v2")
    assert r2.current_snapshot_id("s") == 2
    # ...while the OLD schema's fingerprint no longer matches -> rebuild
    r2.run("s", lambda: spark.range(5).select("id", (F.col("id") * 2).alias("x")),
           fingerprint="v1")
    assert r2.current_snapshot_id("s") == 3
    assert set(r2.read("s").columns) == {"id", "x"}


def test_stage_runner_concurrent_writers(spark, tmp_path):
    """Two runners appending to the SAME stage concurrently: both snapshots
    must survive with a linear manifest log (the Iceberg optimistic-commit
    property — the old single-file last-writer-wins manifest silently
    dropped one writer's entry)."""
    import threading

    run_dir = str(tmp_path / "run_cc")
    barrier = threading.Barrier(2)
    errors = []

    def writer(tag: str, val: int):
        try:
            r = StageRunner(spark, run_dir)
            barrier.wait()
            r.run("shared", lambda: spark.range(val).select(
                F.lit(tag).alias("writer"), "id"), fingerprint=tag)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("w1", 10))
    t2 = threading.Thread(target=writer, args=("w2", 20))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors

    r = StageRunner(spark, run_dir)
    snaps = r.snapshots("shared")
    assert len(snaps) == 2, snaps                       # both commits survived
    assert {s["fingerprint"] for s in snaps} == {"w1", "w2"}
    assert [s["id"] for s in snaps] == sorted(s["id"] for s in snaps)
    # snapshot dirs are distinct (exclusive mkdir reservation)
    by_fp = {s["fingerprint"]: s for s in snaps}
    assert r.read_at("shared", by_fp["w1"]["id"]).count() == 10
    assert r.read_at("shared", by_fp["w2"]["id"]).count() == 20
    # versioned manifest log is linear: v1..vN with no holes
    versions = sorted(f for f in os.listdir(os.path.join(run_dir, "_manifest"))
                      if f.endswith(".json"))
    assert versions == [f"v{i:06d}.json" for i in range(1, len(versions) + 1)]
    # current points at one of the two committed snapshots
    assert r.current_snapshot_id("shared") in {s["id"] for s in snaps}


def test_stage_runner_legacy_manifest_migration(spark, tmp_path):
    """A pre-versioning run_dir (manifest.json only) keeps working: the log
    is read from the legacy file and the next commit starts the versioned
    _manifest/ history."""
    run_dir = str(tmp_path / "run_legacy")
    r1 = StageRunner(spark, run_dir)
    r1.run("s", lambda: spark.range(3), fingerprint="v1")
    # simulate a legacy dir: drop the versioned history, keep manifest.json
    import shutil
    shutil.rmtree(os.path.join(run_dir, "_manifest"))
    r2 = StageRunner(spark, run_dir)
    assert r2.current_snapshot_id("s") == 1           # read from legacy file
    r2.run("s", lambda: spark.range(4), fingerprint="v2")
    assert [s["id"] for s in r2.snapshots("s")] == [1, 2]
    assert os.path.exists(os.path.join(run_dir, "_manifest", "v000001.json"))

def test_stage_runner_manifest_compaction_and_latest_hint(spark, tmp_path):
    """compact() bounds _manifest/ growth without losing the snapshot log or
    time travel; the LATEST hint makes loads O(commits since hint) and a
    stale/pruned hint falls back to a full scan instead of misreading."""
    run_dir = str(tmp_path / "run_compact")
    r = StageRunner(spark, run_dir)
    for i in range(1, 13):
        r.run("s", lambda i=i: spark.range(i), fingerprint=f"v{i}")
    mdir = os.path.join(run_dir, "_manifest")
    n_versions = len([f for f in os.listdir(mdir) if f.endswith(".json")])
    assert n_versions >= 12

    removed = r.compact(keep=3)
    left = sorted(f for f in os.listdir(mdir) if f.endswith(".json"))
    assert removed == n_versions - 3 and len(left) == 3

    # a fresh runner resolves the same head and full snapshot log
    r2 = StageRunner(spark, run_dir)
    assert r2.current_snapshot_id("s") == 12
    assert [s["id"] for s in r2.snapshots("s")] == list(range(1, 13))
    # time travel still works after compaction (data dirs untouched)
    assert r2.read_at("s", 1).count() == 1
    assert r2.read_at("s", 12).count() == 12

    # hint pointing at a compacted-away version -> full-scan fallback
    with open(os.path.join(mdir, "LATEST"), "w") as f:
        f.write("1")
    r3 = StageRunner(spark, run_dir)
    assert r3.current_snapshot_id("s") == 12
    # and a commit repairs the hint to the new head
    r3.run("s", lambda: spark.range(13), fingerprint="v13")
    with open(os.path.join(mdir, "LATEST")) as f:
        hint = int(f.read())
    assert os.path.exists(os.path.join(mdir, f"v{hint:06d}.json"))
    assert r3.current_snapshot_id("s") == 13
