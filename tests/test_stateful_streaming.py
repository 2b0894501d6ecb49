"""Stateful streaming FPS: collision counts must accumulate ACROSS
micro-batches and emit each frequent pair exactly once at count==C."""

import ast
import time

import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.streaming.stateful import incremental_frequent_pairs


def _stop_when_drained(q, n_files, timeout_s=180):
    """Stop ``q`` once a batch read no rows after the last of ``n_files``.

    The pair-state timeout makes Spark run a batch on every trigger, so an
    ``availableNow`` query never terminates by itself (see
    ``incremental_frequent_pairs``). A zero-row batch alone does not mean
    drained: a restarted query can report one BEFORE the batch that reads a
    newly added file. With ``maxFilesPerTrigger=1`` the file source's
    ``logOffset`` counts files from 0, so the query is drained once a
    zero-row batch ends at ``n_files - 1`` (the progress's
    ``latestOffset`` is not filled in for the file source under
    ``availableNow``). A completed batch's output is committed before its
    progress is reported.
    """
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise q.exception()
        if not q.isActive:
            return
        p = q.lastProgress
        if p is not None and p["numInputRows"] == 0:
            end = p["sources"][0]["endOffset"]  # "{'logOffset': N}" in pyspark 4
            if isinstance(end, str):
                end = ast.literal_eval(end)
            if end is not None and end["logOffset"] == n_files - 1:
                q.stop()
                return
        time.sleep(0.1)
    q.stop()
    raise AssertionError(f"query not drained within {timeout_s} s: {q.status}")


def test_incremental_frequent_pairs_across_batches(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    schema = "id_a string, id_b string"

    # batch files processed one per trigger: pair (a,b) collides once per
    # batch -> must only emit after the second batch; (x,y) collides twice
    # in batch 1 -> emits immediately; (lone, pair) never reaches C=2.
    spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("x", "y"), ("lone", "pair")], schema.split(", ")
    ).toDF("id_a", "id_b").coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame([("a", "b")], ["id_a", "id_b"]).coalesce(1).write.parquet(
        str(src / "b2")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = incremental_frequent_pairs(stream, C=2)
    q = (
        out.writeStream.format("memory").queryName("freq_mem")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _stop_when_drained(q, n_files=2)
    rows = {(r["id_a"], r["id_b"]): r["collisions"]
            for r in spark.sql("SELECT * FROM freq_mem").collect()}
    assert rows.get(("x", "y")) == 2
    assert rows.get(("a", "b")) == 2          # accumulated across batches
    assert ("lone", "pair") not in rows
    # emitted exactly once each
    assert spark.sql("SELECT count(*) c FROM freq_mem").collect()[0]["c"] == 2


def test_incremental_frequent_pairs_resume_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: a checkpointed stateful query restarted mid-corpus
    must (a) carry pair-counter STATE across the restart, (b) not re-emit
    pairs already emitted before the stop, (c) not reprocess consumed files.
    The file sink's own exactly-once log makes duplicates visible."""
    src = tmp_path / "events_resume"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_resume")
    sink = str(tmp_path / "sink_resume")
    schema = "id_a string, id_b string"

    # phase 1 corpus: (x,y) reaches C=2 immediately; (a,b) collides ONCE
    spark.createDataFrame(
        [("x", "y"), ("x", "y"), ("a", "b"), ("never", "one")], ["id_a", "id_b"]
    ).coalesce(1).write.parquet(str(src / "b1"))

    def run_query(n_files):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )
        q = (
            incremental_frequent_pairs(stream, C=2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _stop_when_drained(q, n_files)

    run_query(1)  # processes b1, then terminates (the "kill" point)
    phase1 = {(r["id_a"], r["id_b"]): r["collisions"]
              for r in spark.read.parquet(sink).collect()}
    assert phase1 == {("x", "y"): 2}

    # second collision for (a,b) arrives after the restart
    spark.createDataFrame([("a", "b")], ["id_a", "id_b"]).coalesce(1).write.parquet(
        str(src / "b2")
    )
    run_query(2)  # resumes from the checkpoint: state + source offsets
    rows = [(r["id_a"], r["id_b"], r["collisions"])
            for r in spark.read.parquet(sink).collect()]
    assert sorted(rows) == [("a", "b", 2), ("x", "y", 2)]
    # (a,b)=2 proves the b1 collision survived the restart in state;
    # exactly one (x,y) row proves no re-emission/reprocessing
