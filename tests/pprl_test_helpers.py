"""Test oracles and evaluation helpers: slow but simple implementations that
the tests compare the library against. Not part of the library."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Naive min-label propagation — O(diameter) rounds; the cross-check for
    ``clustering.connected_components``."""
    edges = (
        pairs.select(F.least(src_col, dst_col).alias("src"),
                     F.greatest(src_col, dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    both = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        both.select(F.col("src").alias("uid"))
        .distinct()
        .withColumn("entity_id", F.col("uid"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr_min = (
            both.join(labels.withColumnRenamed("uid", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("entity_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.uid == nbr_min.src, "left")
            .select(
                "uid",
                F.least(F.col("entity_id"), F.coalesce("nbr_min", "entity_id")).alias("entity_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "uid")
            .filter(F.col("n.entity_id") != F.col("o.entity_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def expand_matched_pairs(
    matches_rep: DataFrame, uid_to_rep: DataFrame
) -> DataFrame:
    """Full pair set implied by rep-level matches + same-digest groups.

    Quadratic in duplicate-group size, so for evaluation only; the library's
    scalable deliverable is ``pipeline.linkage.expand_clusters``.
    """
    m = uid_to_rep
    rep_pairs = (
        matches_rep.withColumnRenamed("id_a", "rep_a").withColumnRenamed("id_b", "rep_b")
        .join(m.select(F.col("uid").alias("id_a"), F.col("rep_uid").alias("rep_a")), "rep_a")
        .join(m.select(F.col("uid").alias("id_b"), F.col("rep_uid").alias("rep_b")), "rep_b")
        .select("id_a", "id_b")
    )
    same_digest = (
        m.alias("x").join(m.alias("y"), F.col("x.rep_uid") == F.col("y.rep_uid"))
        .filter(F.col("x.uid") < F.col("y.uid"))
        .select(F.col("x.uid").alias("id_a"), F.col("y.uid").alias("id_b"))
    )
    return (
        rep_pairs.select(F.least("id_a", "id_b").alias("id_a"),
                         F.greatest("id_a", "id_b").alias("id_b"))
        .unionByName(same_digest)
        .distinct()
    )
