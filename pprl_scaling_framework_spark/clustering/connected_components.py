"""Transitive clustering of matched pairs via connected components.

New-in-rebuild operator mandated by BASELINE.json (north_star) — the
reference stops at matched pair lists
(``lib/blocking/HammingLSHBlockingResult.java:96-98``).

Implementation: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond"), the same algorithm family as
GraphFrames' default, expressed as pure DataFrame joins + min-aggregations:

- large-star: connect every neighbor v > u to min(N(u) + {u});
- small-star: orient edges (max -> min); connect all smaller-or-equal
  neighbors (and u) to the minimum.

Converges in O(log n) rounds; each round is checkpointed (localCheckpoint)
to cut the lineage — the iteration itself is driver-side control flow, all
data work stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("_mn")).select(
        "src", F.least("_mn", "src").alias("m")
    )
    # connect strictly-larger neighbors to the minimum
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_mn")).select(
        "src", F.least("_mn", "src").alias("m")
    )
    joined = oriented.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionAll(
        joined.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _sig(edges: DataFrame) -> tuple:
    """A cheap order-insensitive checksum of the edge multiset (one job)."""
    row = edges.agg(F.count("*"), F.expr("bit_xor(xxhash64(src, dst))")).collect()[0]
    return tuple(row)


def _driver_union_find(edges_rows) -> list[tuple[str, str]]:
    """In-memory union-find with path compression (small-graph fast path)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges_rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    verts = set()
    for r in edges_rows:
        verts.add(r["src"])
        verts.add(r["dst"])
    return [(v, find(v)) for v in verts]


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """-> (uid, entity_id): every vertex mapped to its component minimum.

    ``pairs`` needs orderable vertex ids (strings are fine).

    Adaptive execution: edge sets at or below ``driver_threshold`` are
    solved with an in-memory union-find on the driver (the distributed
    alternating-star loop costs a fixed ~10 driver-coordinated rounds, which
    dominates wall time for small graphs); larger graphs run the
    O(log n)-round large-star/small-star loop. Pass ``driver_threshold=0``
    to force the distributed path. If that loop has not converged after
    ``max_iterations`` rounds it raises ``RuntimeError`` instead of
    returning a partial labelling.

    The driver path labels vertices by their 64-bit xxhash64 surrogate; two
    vertices that share one merge their components. For n vertices the
    birthday bound is P ≈ 1 − exp(−n²/2⁶⁵): about 10⁻⁷ at the default
    threshold's at most 2·10⁶ vertices.
    """
    edges = _canon(
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    ).localCheckpoint()

    rows = None
    if driver_threshold:
        # ONE action decides the path AND fetches the fast-path input
        # (previously a count job followed by a full collect job): collect
        # int64 xxhash64 surrogates, not uid strings — 16 B/edge keeps the
        # 1M-edge fast path ~16 MB — limited to threshold+1 rows, so a
        # too-large edge set costs one truncated fetch, and <= threshold
        # rows from a limit IS the complete set (collision bound: see the
        # docstring)
        rows = (
            edges.select(F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst"))
            .limit(driver_threshold + 1)
            .collect()
        )
        if len(rows) > driver_threshold:
            rows = None
    if rows is not None:
        spark = pairs.sparkSession
        if not rows:
            return spark.createDataFrame([], "uid string, entity_id string")
        # comp is bounded by the collected edge set — safe to broadcast
        # (saves AQE a deliberation round on the tiny driver-built side);
        # ship it through the Arrow createDataFrame path (a pandas frame of
        # two int64 columns) instead of per-row pickle serialization
        import pandas as _pd

        uf = _driver_union_find(rows)
        comp = F.broadcast(spark.createDataFrame(
            _pd.DataFrame(uf, columns=["rid", "root"]),
            "rid long, root long",
        ))
        # re-attach uids and pick the component-min uid as entity_id —
        # all distributed ops (nothing string-heavy crosses the driver)
        rid_dict = (
            edges.select(F.col("src").alias("uid"))
            .unionAll(edges.select(F.col("dst").alias("uid")))
            .distinct()
            .withColumn("rid", F.xxhash64("uid"))
        )
        labeled = rid_dict.join(comp, "rid")
        entity = labeled.groupBy("root").agg(F.min("uid").alias("entity_id"))
        return labeled.join(entity, "root").select("uid", "entity_id")
    vertices = (
        edges.select(F.col("src").alias("uid"))
        .unionAll(edges.select(F.col("dst").alias("uid")))
        .distinct()
        .localCheckpoint()
    )

    # converged when a round leaves the edge multiset unchanged; each round
    # checksums only its own output
    sig = _sig(edges)
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        prev, sig = sig, _sig(edges)
        if sig == prev:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iterations="
            f"{max_iterations} large-star/small-star rounds; raise "
            "max_iterations"
        )

    roots = edges.groupBy("src").agg(F.min("dst").alias("entity_id")).select(
        F.col("src").alias("uid"), "entity_id"
    )
    return (
        vertices.join(roots, "uid", "left")
        .select(
            "uid",
            F.coalesce("entity_id", F.col("uid")).alias("entity_id"),
        )
    )
