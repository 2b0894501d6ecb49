"""Deduplication operators for large-scale training-data pipelines.

All of these are pure native-DataFrame chains (no Python UDFs at all) so the
hot path stays inside whole-stage codegen and every one of them is
oracle-checkable against DuckDB SQL on the same parquet:

- exact:          hash-groupBy on content digest;
- n-gram Jaccard: distinct character q-gram sets, array_intersect sizing;
- MinHash + LSH:  md5-prefix base hash (reproducible across engines),
                  universal-hash signature rows, banded bucket join,
                  exact-Jaccard verification of band candidates;
- SimHash:        per-bit majority over md5-derived gram hashes (Hamming
                  near-dup buckets);
- embedding near-dup: cosine >= t pairs (see similarity_search).

Scale notes: every pairwise step is blocked (same band bucket / same block
key) — nothing is O(n^2) globally; band buckets are groupBy-joined, and the
distinct-gram arrays stay bounded by document length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bucket_join import salted_pair_candidates, spread_width, track_persist

MERSENNE31 = (1 << 31) - 1  # universal-hash modulus


def content_digest(col: str | Column) -> Column:
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_members: int | None = None
) -> DataFrame:
    """-> (digest, dup_count, representative[, member_ids]) for groups > 1.

    By default (``max_members=None``) no member roster is built — counts and
    representatives never need it, and a mega duplicate group would
    otherwise materialize an unbounded array in one aggregation buffer.
    Passing ``max_members=K`` adds ``member_ids`` capped at K BEFORE
    aggregation (window rank, not a post-hoc slice); note ``dup_count`` is
    the TRUE group size, so ``len(member_ids) < dup_count`` marks truncation.
    """
    keyed = df.select(F.col(id_col).alias("id"), content_digest(text_col).alias("digest"))
    agg = (
        keyed.groupBy("digest")
        .agg(F.count("*").alias("dup_count"), F.min("id").alias("representative"))
        .filter(F.col("dup_count") > 1)
    )
    if max_members is None:
        return agg
    from pyspark.sql.window import Window

    ranked = keyed.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("digest").orderBy("id"))
    ).filter(F.col("_rn") <= max_members)
    members = ranked.groupBy("digest").agg(
        F.sort_array(F.collect_list("id")).alias("member_ids")
    )
    return agg.join(members, "digest")


def char_shingles(text: str | Column, q: int) -> Column:
    """Distinct character q-grams (sorted for determinism)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t) - q + 1
    grams = F.when(
        n >= 1, F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(q)))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(grams))


def base_hash(gram: Column) -> Column:
    """56-bit integer from the md5 prefix — identical in Spark and DuckDB.

    Spark: conv(substr(md5(g),1,14),16,10); DuckDB: ('0x'||substr)::bigint.
    """
    return F.conv(F.substring(F.md5(gram), 1, 14), 16, 10).cast("long")


def gram_hashes(grams: Column) -> Column:
    """Distinct sorted 56-bit hashes of a distinct gram array.

    One md5 per gram — the signature and the exact-Jaccard verification both
    run over these longs (long compares instead of string compares, and the
    md5 is NOT recomputed per hash function).
    """
    return F.array_sort(F.array_distinct(F.transform(grams, base_hash)))


def signature_from_hashes(hg: Column, num_hashes: int, seed: int = 7) -> Column:
    """array<long> signature: min over gram hashes of (a_j*(h%P)+b_j) % P.

    Coefficients are small deterministic constants derived from (seed, j) so
    the oracle SQL can inline the identical numbers; products stay < 2^62
    (no ANSI overflow). Duplicate hashes cannot change a min, so running over
    the distinct-hash array is exactly the per-gram signature.
    """
    sig = []
    for j in range(num_hashes):
        a = (seed * 1_000_003 + j * 97) % MERSENNE31 or 1
        b = (seed * 7_919 + j * 31) % MERSENNE31
        hashed = F.transform(
            hg, lambda h: (F.lit(a) * (h % MERSENNE31) + F.lit(b)) % MERSENNE31
        )
        sig.append(F.array_min(hashed))
    return F.array(*sig)


def minhash_signature(grams: Column, num_hashes: int, seed: int = 7) -> Column:
    """array<long> signature straight from gram strings (hashes each gram)."""
    return signature_from_hashes(gram_hashes(grams), num_hashes, seed)


def minhash_coefficients(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    return [
        (((seed * 1_000_003 + j * 97) % MERSENNE31) or 1, (seed * 7_919 + j * 31) % MERSENNE31)
        for j in range(num_hashes)
    ]


def jaccard_of_arrays(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_from_counts(na: Column, nb: Column, ni: Column) -> Column:
    """jaccard from pre-computed set sizes |A|, |B|, |A∩B| (ints).

    Bit-identical to :func:`jaccard_of_arrays` on distinct-element arrays:
    inter and union are the same exact doubles, and the ``union > 0`` guard
    is equivalent to ``na + nb > 0`` (union >= max(na, nb)).
    """
    inter = ni.cast("double")
    union = (na + nb).cast("double") - inter
    return F.when((na + nb) > 0, inter / union).otherwise(F.lit(0.0))


def _verified_pairs(cands: DataFrame, attach: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify: re-attach gram arrays, intersect ONCE per pair.

    The one-expression form ``filter(jaccard_of_arrays(...) >= t)`` evaluates
    the O(|A|+|B|) ``array_intersect`` ~3x per pair — the intersect subtree
    appears in the CaseWhen condition, numerator and denominator, and
    CaseWhen branches are exempt from codegen subexpression elimination
    (measured 8.9 s vs 2.8 s on 1.94M sf0.1 pairs, guide §1/§4). So the
    counts (|A|, |B|, |A∩B|) are computed in ONE projection and persisted
    (a plan barrier: ProjectCollapsing would otherwise substitute the
    intersect back into every use site); the filter + jaccard projection
    then run on three ints per pair. The persisted stats are O(candidate
    pairs) rows x ~28 B — strictly smaller than the shuffle that produced
    the pair set — and are registered for release like every operator cache.
    """
    with_hashes = (
        cands.join(attach.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("g", "g_a"), "id_a")
        .join(attach.withColumnRenamed("id", "id_b")
              .withColumnRenamed("g", "g_b"), "id_b")
    )
    stats = track_persist(with_hashes.select(
        "id_a", "id_b",
        F.size("g_a").alias("_na"), F.size("g_b").alias("_nb"),
        F.size(F.array_intersect("g_a", "g_b")).alias("_ni"),
    ))
    jac = jaccard_from_counts(F.col("_na"), F.col("_nb"), F.col("_ni"))
    return (
        stats.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    q: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 7,
    hot_threshold: int = 2000,
    shards: int = 16,
) -> DataFrame:
    """-> (id_a, id_b, jaccard) for pairs sharing >= 1 LSH band, verified
    with exact Jaccard over the distinct q-gram sets, jaccard >= threshold.

    The band bucket key is a 64-bit xxhash64 of (band, band signature). Two
    buckets that share one merge, which adds candidates but no output pair
    (every pair is verified): for n distinct buckets P ≈ 1 − exp(−n²/2⁶⁵),
    about 3·10⁻⁴ at 10⁸ buckets and 0.027 at 10⁹."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes

    # small parquet sources arrive as one partition; spread the per-row
    # shingle/signature compute before the heavy lambda work. Strings leave
    # the plan immediately after shingling: the signature AND the exact
    # verification run on 56-bit gram hashes (one md5 per gram). base is
    # PERSISTED: five downstream branches consume it (bucket sizing, both
    # salted join sides, both gram re-attach joins) and would otherwise
    # re-shingle the corpus once each.
    spread = spread_width(df)
    base = df.repartition(spread).select(
        F.col(id_col).alias("id"),
        gram_hashes(char_shingles(text_col, q)).alias("hg"),
    ).withColumn("sig", signature_from_hashes(F.col("hg"), num_hashes, seed))
    base = track_persist(base)

    # NB (scale): the bucket join carries only (bucket, id, gram COUNT) — the
    # gram arrays are re-attached AFTER the pair set is deduplicated AND
    # size-pruned, otherwise hot buckets shuffle megabytes of array payload
    # per candidate row.
    # bucket = int64 xxhash64 of (band, band signature) instead of the
    # 64-char sha256 hex string: the bucket is purely an internal grouping
    # key (it never reaches the output), so any injective-in-practice hash
    # yields the identical pair set — and an 8-byte long through the salted
    # join/distinct shuffles ~8x fewer key bytes and hash-probes far cheaper
    # than a string (the same surrogate argument as the FPS rid keys; for
    # the collision bound see the docstring)
    banded = base.select(
        "id", F.size("hg").alias("ng"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "band_sig"),
    ).withColumn("bucket", F.xxhash64(F.col("band"), F.col("band_sig")))

    cands = salted_pair_candidates(
        banded.select("bucket", "id", "ng"), ["bucket"], payload_cols=("ng",),
        hot_threshold=hot_threshold, shards=shards,
    )
    # PROVABLY output-invariant verify prune: |A∩B| <= min(|A|,|B|) and
    # |A∪B| >= max(|A|,|B|), so jaccard <= min/max — a pair whose gram-count
    # ratio is below the threshold cannot pass exact verification. The prune
    # runs on two ints BEFORE the array re-attach joins. (A signature-
    # agreement prefilter — VERDICT r2 #6 — is NOT applied: measured on this
    # corpus, true positives reach the band-floor agreement of 4/16, so any
    # agreement cutoff above the floor silently drops verified-true pairs.)
    cands = cands.filter(
        F.least("ng_a", "ng_b").cast("double")
        >= F.lit(threshold) * F.greatest("ng_a", "ng_b")
    ).drop("ng_a", "ng_b")
    # re-spread the verified pair set: AQE coalesces the distinct's output by
    # its BYTES (ids only — a few MB), but each row fans into two gram-array
    # attaches + an exact intersect downstream; without this the verify stage
    # runs on a handful of coalesced tasks (measured: 21 tasks / 32 cores,
    # 1.3-1.8x op wall)
    cands = cands.repartition(spread)
    return _verified_pairs(
        cands, base.select("id", F.col("hg").alias("g")), threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    q: int = 3,
    threshold: float = 0.5,
    hot_threshold: int = 2000,
    shards: int = 16,
) -> DataFrame:
    """Blocked exact n-gram Jaccard dedup: pairs within the same block.

    The bucket join carries ids only (hot blocks would shuffle megabytes of
    gram-array payload per candidate row); grams re-attach after the pair set
    is canonical.
    """
    # persisted + spread for the same reasons as minhash_lsh_pairs: five
    # consumers, and AQE under-parallelizes the array-attach/verify stage
    spread = spread_width(df)
    base = df.repartition(spread).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        char_shingles(text_col, q).alias("grams"),
    )
    base = track_persist(base)
    cands = salted_pair_candidates(
        base.select("block", "id", F.size("grams").alias("ng")), ["block"],
        payload_cols=("ng",),
        hot_threshold=hot_threshold, shards=shards, dedup=False,
    )
    # output-invariant size prune (jaccard <= min/max gram counts) before the
    # heavy gram-array joins — see minhash_lsh_pairs
    cands = cands.filter(
        F.least("ng_a", "ng_b").cast("double")
        >= F.lit(threshold) * F.greatest("ng_a", "ng_b")
    ).drop("ng_a", "ng_b").repartition(spread)
    return _verified_pairs(
        cands, base.select("id", F.col("grams").alias("g")), threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, q: int = 3, bits: int = 56) -> DataFrame:
    """-> (id, simhash) 56-bit SimHash from md5-derived gram hashes.

    Per-bit majority vote over the document's distinct q-grams, computed
    natively: explode grams, aggregate signed bit contributions, re-pack.
    """
    assert bits <= 56
    grams = df.select(
        F.col(id_col).alias("id"), F.explode(char_shingles(text_col, q)).alias("g")
    ).withColumn("h", base_hash(F.col("g")))
    contrib = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = grams.groupBy("id").agg(*contrib)
    packed = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        packed = term if packed is None else packed + term
    return agg.select("id", packed.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, q: int = 3,
    bits: int = 56, band_bits: int = 14,
    hot_threshold: int = 2000, shards: int = 16,
) -> DataFrame:
    """Hamming near-dup candidates: pairs agreeing on >= 1 of 4 simhash bands."""
    # persisted: the banded explode feeds bucket sizing + both salted sides,
    # which would otherwise recompute the per-bit majority aggregation thrice
    sh = track_persist(simhash(df, id_col, text_col, q, bits))
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask))
                for i in range(n_bands)
            ])
        ).alias("band", "band_val"),
    )
    # the simhash long is an 8-byte payload — cheap to carry through the join
    pairs = salted_pair_candidates(
        banded.select("band", "band_val", "id", "simhash"),
        ["band", "band_val"], payload_cols=("simhash",),
        hot_threshold=hot_threshold, shards=shards,
    )
    # pairs is already distinct and simhash is functional on id — no second
    # distinct (it would be a redundant extra shuffle)
    return pairs.select(
        "id_a", "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
    )
