"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline — broadcast the (small) query
  set against the corpus, native ``zip_with``/``aggregate`` dot products (no
  UDF), window top-k.
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus; queries
  probe their bucket (+ optional multi-probe) and rescore exactly — the scale
  path: the corpus-side join key is a short int, so the candidate set per
  query is a bucket, not the corpus.

At 100 TB scale the corpus side stays partitioned by bucket; only the query
side (assumed small) is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .bucket_join import salted_pair_candidates, spread_width, track_persist, widen


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """-> (query_id, neighbor_id, rank, cosine_sim): exact top-k per query."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    # a small/one-file corpus arrives as a single scan partition and the
    # broadcast cross join adds no exchange, so every query x corpus cosine
    # would run serially in one task; spread the corpus first (the shuffle
    # moved is just the corpus rows, the scoring then parallelizes)
    c = widen(c, spread_width(corpus))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )
    if round_digits is not None:
        out = out.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
    return out


def hyperplane_signature(vec: Column, dim: int, n_planes: int, seed: int = 11) -> Column:
    """int bucket id: sign pattern against pseudo-random +/-1 hyperplanes.

    Plane p coefficient for dimension i = +1 if xxhash64(seed, p, i) is even
    else -1 — deterministic, no stored model, computable natively.
    """
    bits = []
    for p in range(n_planes):
        coeffs = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.when(
                F.pmod(F.xxhash64(F.lit(seed), F.lit(p), i), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        proj = F.aggregate(
            F.zip_with(vec, coeffs, lambda x, cf: x.cast("double") * cf),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


#: query sets at or below this row count are broadcast into the bucket join;
#: larger sets (corpus-sized query batches, self-ANN) go through the salted
#: shuffle bucket join — a corpus-scale query side must never be a
#: driver-built broadcast
QUERY_BROADCAST_MAX_ROWS = 100_000


def _bucket_topk(c: DataFrame, q: DataFrame, key: str, corpus: DataFrame,
                 queries: DataFrame, id_col: str, vec_col: str, k: int,
                 q_rows: int | None, query_broadcast_max: int,
                 hot_threshold: int, shards: int) -> DataFrame:
    """Shared ANN rescore tail: candidates share ``key`` (a hyperplane bucket
    or an IVF cell), scored by exact cosine, ranked top-k per query.

    ``c``: (neighbor_id, c_vec, key); ``q``: (query_id, q_vec, key), one
    row per probed key. ``q_rows``: the row count of ``q`` if known; else
    (with ``query_broadcast_max > 0``) ``q`` is persisted (tracked — see
    :func:`ops.bucket_join.release_persists`) and counted once.

    - ``q_rows <= query_broadcast_max``: ``q`` is broadcast into the key
      join — one corpus pass, no shuffle;
    - otherwise ids only go through the salted shuffle join (corpus side
      sharded on hot keys, query side replicated), and vectors re-attach
      from the RAW ``corpus``/``queries``: joining ``c``/``q`` would
      re-execute the key assignment (for IVF a second corpus pass through
      the centroid BroadcastNestedLoopJoin), and an IVF ``q`` carries
      ``n_probe`` copies of each query vector.

    A corpus row has one key and a query's keys are distinct, so every
    (query, neighbor) pair meets at most once — no dedup.
    """
    if q_rows is None and query_broadcast_max > 0:
        q = track_persist(q)
        q_rows = q.count()

    if q_rows is not None and q_rows <= query_broadcast_max:
        scored = c.join(F.broadcast(q), key)
    else:
        pair_ids = salted_pair_candidates(
            c.select(key, F.col("neighbor_id").alias("id")), [key],
            hot_threshold=hot_threshold, shards=shards, dedup=False,
            keyed_b=q.select(key, F.col("query_id").alias("id")),
        ).select(F.col("id_a").alias("neighbor_id"), F.col("id_b").alias("query_id"))
        scored = (
            pair_ids
            .join(corpus.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("c_vec")), "neighbor_id")
            .join(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("q_vec")), "query_id")
        )
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cosine_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    seed: int = 11,
    query_broadcast_max: int = QUERY_BROADCAST_MAX_ROWS,
    hot_threshold: int = 2000,
    shards: int = 16,
    query_count: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    Two physical paths, identical output (:func:`_bucket_topk`): a
    measured-small query set (``<= query_broadcast_max`` rows) is broadcast
    into the bucket join; a larger one goes ids-only through the salted
    shuffle join — the 100 TB path, where the query batch partitions like
    any other table and is never collected.

    ``query_count``: the query-set row count if the caller knows it (keeps
    the operator fully lazy). ``query_broadcast_max <= 0`` forces the
    shuffle path with NO count at all. Otherwise the signature-augmented
    query side is persisted and counted ONCE, so the query lineage executes
    exactly one time per call.
    """
    sig = lambda col: hyperplane_signature(col, dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("bucket", sig(F.col("c_vec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("bucket", sig(F.col("q_vec")))

    return _bucket_topk(
        c, q, "bucket", corpus, queries, id_col, vec_col, k, query_count,
        query_broadcast_max, hot_threshold, shards,
    )


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    seed: int = 11,
    hot_threshold: int = 2000,
    shards: int = 16,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via shared LSH bucket + exact rescore.

    The bucket self-join is salted against hot buckets (e.g. near-zero
    vectors all landing in one sign pattern) and carries ids only; vectors
    re-attach for the exact rescore after the pair set is canonical.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).withColumn(
        "bucket", hyperplane_signature(F.col("vec"), dim, n_planes, seed)
    )
    cands = salted_pair_candidates(
        base.select("bucket", "id"), ["bucket"],
        hot_threshold=hot_threshold, shards=shards, dedup=False,
    )
    vecs = base.select("id", "vec")
    return (
        cands.join(vecs.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("vec", "v_a"), "id_a")
        .join(vecs.withColumnRenamed("id", "id_b")
              .withColumnRenamed("vec", "v_b"), "id_b")
        .withColumn("cosine_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def synthetic_centroids(
    spark, n_cells: int, dim: int, seed: int = 17
) -> DataFrame:
    """Deterministic pseudo-random IVF centroids -> (cell int, centroid).

    Same hash-chain construction as the synthetic test embeddings: component
    i of cell c = pmod(xxhash64(c, seed, i), 1000)/500 - 1, so an
    engine-independent golden can regenerate them bit-exactly. A production
    deployment would instead k-means a corpus sample and persist the
    centroid table — everything downstream (:func:`ivf_topk`) only sees a
    (cell, centroid) DataFrame and is agnostic to where it came from.
    """
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed), i), F.lit(1000)).cast("double")
            / 500.0 - 1.0
        ),
    )
    return spark.range(0, n_cells).select(
        F.col("id").cast("int").alias("cell"), vec.alias("centroid")
    )


def _cell_scores(vec: Column) -> Column:
    """array<struct<sim,neg_cell>> of cosine vs every centroid in `cents`.

    Relies on a `cents` column (array of (cell, centroid) structs — the
    one-row collapsed centroid table crossJoin'd in by :func:`ivf_topk`).
    neg_cell makes both argmax (array_max) and descending sort break sim
    ties toward the LOWEST cell id.
    """
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine(vec, c["centroid"]).alias("sim"),
            (-c["cell"]).alias("neg_cell"),
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
    query_broadcast_max: int = QUERY_BROADCAST_MAX_ROWS,
    hot_threshold: int = 2000,
    shards: int = 16,
    query_count: int | None = None,
) -> DataFrame:
    """IVF-Flat ANN: coarse-quantize the corpus into centroid cells, probe
    the query's ``n_probe`` nearest cells, rescore exactly.

    The inverted-file counterpart to :func:`lsh_topk` (FAISS IndexIVFFlat
    semantics): recall is tuned by ``n_probe`` instead of plane count, and
    cell population follows the data distribution instead of random
    hyperplane signs.

    Scale design:

    - the centroid table is collapsed to ONE array-of-structs row and
      broadcast; cell assignment is a per-row native ``array_max`` argmax —
      zero shuffle, whole-stage codegen, O(n_cells * dim) per row. (For the
      >10^5-centroid regimes real IVF systems shard the coarse quantizer
      hierarchically; this operator targets the <=10^4-cell sweet spot.)
    - the cell is the join key of :func:`_bucket_topk`, the rescore path
      :func:`lsh_topk` uses: the same two physical paths, laziness contract
      and "never an unbounded driver-built broadcast" invariant. The gate
      counts EXPLODED query rows (``query_count * n_probe``).
    """
    cent_row = centroids.select(
        F.struct(F.col("cell").cast("int").alias("cell"), F.col("centroid")).alias("c")
    ).agg(F.collect_list("c").alias("cents"))

    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .crossJoin(F.broadcast(cent_row))
        .withColumn("cell", (-F.array_max(_cell_scores(F.col("c_vec")))["neg_cell"]).cast("int"))
        .drop("cents")
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .crossJoin(F.broadcast(cent_row))
        .withColumn(
            "cells",
            F.slice(F.reverse(F.array_sort(_cell_scores(F.col("q_vec")))), 1, n_probe),
        )
        .select(
            "query_id", "q_vec",
            F.explode(F.transform(
                F.col("cells"), lambda s: (-s["neg_cell"]).cast("int")
            )).alias("cell"),
        )
    )

    # gate on EXPLODED rows (what would actually be broadcast): a caller's
    # query_count is in queries, the internal count sees post-probe rows
    return _bucket_topk(
        c, q, "cell", corpus, queries, id_col, vec_col, k,
        None if query_count is None else query_count * n_probe,
        query_broadcast_max, hot_threshold, shards,
    )
