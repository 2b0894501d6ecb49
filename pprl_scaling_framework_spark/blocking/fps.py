"""Frequent-Pair-Scheme candidate generation with explicit skew handling.

Replaces the reference's four hand-fused MR variants
(``mr-blocking/HammingLSHFPSToolV{0..3}.java``) with ONE declarative chain —
Catalyst + AQE pick the physical form (SMJ vs broadcast, skew splitting)
that the reference's V0->V3 ladder hand-codes:

- J1/J2: equi-join of blocking keys on ``(group_id, key)``
  (``mr-blocking/GenerateIdPairsReducer.java:29-57`` cross-product semantics);
- A1/F2: ``groupBy(id_a, id_b).count() >= C``
  (``mr-blocking/FindFrequentIdPairsReducer.java:29-40``; map-side partial
  aggregation is Catalyst's partial count, the reference's combiner);
- F3: left-semi membership filter (``mr-blocking/MakeRecordPairsMapper.java:41-53``).

Skew (north_rule — the reference's only lever is "L >= #reducers"):
mega-buckets from low-entropy content make the per-key cross-product
quadratic. ``candidate_pairs`` computes per-``(group_id, key)`` bucket sizes
(A9), and SPLITS hot buckets: the left side gets a deterministic salt shard
``xxhash64(uid) % shards``, the right side is replicated across shards. Each
(a, b) pair still meets exactly once per group, so the collision count is
unchanged — no post-dedup needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.bucket_join import salted_pair_candidates


def candidate_pairs(
    keys_a: DataFrame,
    keys_b: DataFrame | None,
    C: int,
    hot_threshold: int = 1000,
    shards: int = 16,
    self_join: bool = False,
    max_bucket: int | None = None,
    uids_a: DataFrame | None = None,
    uids_b: DataFrame | None = None,
    key_bits: int | None = None,
    n_groups: int | None = None,
    uids_hashed: bool = False,
) -> DataFrame:
    """-> (id_a, id_b, collisions) with collisions >= C.

    ``keys_*``: (uid, group_id, key). For deduplication within one table pass
    ``self_join=True`` with ``keys_b=None`` — pairs are canonicalized by a
    compact surrogate id.

    Shuffle-volume note: the join + count run on ``rid = xxhash64(uid)``
    (8 bytes) instead of the uid string; uids are re-attached afterwards via
    broadcast dictionaries. Two uids with one 64-bit surrogate merge their
    pairs: for n records the birthday bound is P ≈ 1 − exp(−n²/2⁶⁵), about
    3·10⁻⁴ at 10⁸ records and 0.027 at 10⁹. A caller that
    built keys with ``hlsh.blocking_keys(..., hash_uid=True)`` must pass
    ``uids_hashed=True``: the keys' uid column is then the xxhash64 surrogate
    already and the per-exploded-row re-hash is skipped. Without the flag the
    uid column is ALWAYS re-hashed — including natural bigint uids — so the
    re-attach join keys line up with ``rid = xxhash64(uid)`` regardless of
    the caller's uid dtype (dtype sniffing here silently returned an empty
    candidate set for natural long uids).

    ``key_bits`` + ``n_groups`` (both the HLSH plan's K and L): when the
    packed value fits an int64, ``(group_id, key)`` is collapsed into ONE
    long bucket column ``(group_id << key_bits) | key`` — lossless (keys are
    K-bit non-negative), so bucket membership is identical, but every
    downstream shuffle row, join hash, and aggregation key is one word
    instead of an (int, long) pair.
    """
    if self_join:
        keys_b = keys_a
        uids_b = uids_a
    assert keys_b is not None

    # uid dictionaries: prefer a caller-provided 1-row-per-uid table (e.g. the
    # encoded stage output) over a 10^7-row distinct on the exploded keys
    src_a = uids_a.select("uid") if uids_a is not None else keys_a.select("uid").distinct()
    dict_a = src_a.withColumn("rid", F.xxhash64("uid"))
    if self_join:
        dict_b = dict_a
    else:
        src_b = uids_b.select("uid") if uids_b is not None else keys_b.select("uid").distinct()
        dict_b = src_b.withColumn("rid", F.xxhash64("uid"))

    def _rid_keys(keys: DataFrame) -> DataFrame:
        # uids_hashed: caller asserts uid is already the xxhash64 surrogate
        # (hlsh.blocking_keys(..., hash_uid=True)); anything else is hashed
        # here — even bigint natural uids — so it matches dict_*'s rid
        if uids_hashed:
            if dict(keys.dtypes).get("uid") != "bigint":
                raise ValueError(
                    "uids_hashed=True requires a bigint xxhash64-surrogate "
                    "uid column (build keys with hash_uid=True)")
            return keys.select("uid", "group_id", "key")
        return keys.select(F.xxhash64("uid").alias("uid"), "group_id", "key")

    pack = (
        key_bits is not None and n_groups is not None
        and key_bits + max((n_groups - 1).bit_length(), 1) <= 63
    )
    bucket_cols = ["gk"] if pack else ["group_id", "key"]

    def _packed(keys: DataFrame) -> DataFrame:
        if not pack:
            return keys
        gk = F.shiftleft(F.col("group_id").cast("long"), key_bits).bitwiseOR(
            F.col("key")
        )
        return keys.select("uid", gk.alias("gk"))

    # mega-buckets (> max_bucket) come from low-information key patterns
    # shared by thousands of records: they carry most of the join volume,
    # while a true pair's C>=2 evidence comes from its small buckets.
    # A self-join keeps rid_a < rid_b; two-party keeps every (a, b) pair —
    # GenerateIdPairsReducer emits the full cross product, and parties
    # sharing an id space would lose exactly their true matches if equal-uid
    # pairs were dropped. No dedup: the multiplicity IS the collision count.
    joined = salted_pair_candidates(
        _packed(_rid_keys(keys_a)), bucket_cols, "uid",
        hot_threshold=hot_threshold, shards=shards, max_bucket=max_bucket,
        dedup=False,
        keyed_b=None if self_join else _packed(_rid_keys(keys_b)),
    ).withColumnsRenamed({"id_a": "rid_a", "id_b": "rid_b"})

    counted = (
        joined.groupBy("rid_a", "rid_b")
        .agg(F.count("*").alias("collisions"))
        .filter(F.col("collisions") >= C)
    )
    # uid re-attachment: NO forced broadcast — the dictionaries have one row
    # per input record, which at 10^8+ records exceeds any broadcast limit.
    # AQE broadcasts them when its runtime size estimate says they fit;
    # otherwise this is a shuffle join keyed on the already-small ``counted``
    # side (post C-filter candidate pairs << input records).
    return (
        counted.join(
            dict_a.select(F.col("rid").alias("rid_a"), F.col("uid").alias("id_a")),
            "rid_a",
        )
        .join(
            dict_b.select(F.col("rid").alias("rid_b"), F.col("uid").alias("id_b")),
            "rid_b",
        )
        .select("id_a", "id_b", "collisions")
    )


def semi_join_members(encoded: DataFrame, pairs: DataFrame, uid_col: str = "uid") -> DataFrame:
    """F3: keep only records participating in >= 1 frequent pair."""
    ids = pairs.select(F.col("id_a").alias(uid_col)).unionByName(
        pairs.select(F.col("id_b").alias(uid_col))
    ).distinct()
    # no broadcast hint: the member set can be a large fraction of the corpus
    # at scale; AQE picks broadcast only when the runtime size allows it
    return encoded.join(ids, uid_col, "left_semi")
