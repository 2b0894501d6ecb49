"""Stateful streaming FPS: collision counts must accumulate ACROSS
micro-batches and emit each frequent pair exactly once at count==C."""

from pprl_scaling_framework_spark.streaming.stateful import incremental_frequent_pairs


def test_incremental_frequent_pairs_across_batches(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    schema = "id_a string, id_b string"

    # batch files processed one per trigger: pair (a,b) collides once per
    # batch -> must only emit after the second batch; (x,y) collides twice
    # in batch 1 -> emits immediately, and its third collision in batch 2
    # must not emit it again; (lone, pair) never reaches C=2.
    spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("x", "y"), ("lone", "pair")], schema.split(", ")
    ).toDF("id_a", "id_b").coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [("a", "b"), ("x", "y")], ["id_a", "id_b"]
    ).coalesce(1).write.parquet(str(src / "b2"))

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
    assert q.awaitTermination(180)
    rows = {(r["id_a"], r["id_b"]): r["collisions"]
            for r in spark.sql("SELECT * FROM freq_mem").collect()}
    assert rows.get(("x", "y")) == 2
    assert rows.get(("a", "b")) == 2          # accumulated across batches
    assert ("lone", "pair") not in rows
    # emitted exactly once each
    assert spark.sql("SELECT count(*) c FROM freq_mem").collect()[0]["c"] == 2
    assert spark.sql(
        "SELECT count(*) c FROM freq_mem WHERE id_a = 'x'").collect()[0]["c"] == 1


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
        assert q.awaitTermination(180)

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
