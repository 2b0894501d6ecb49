"""Tests for training-data-pipeline ops: dedup, similarity search, text
analysis, multimodal plumbing — over the driver-provided testdata parquet."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.ops import dedup, multimodal, similarity_search, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    return e


def test_exact_duplicates(docs):
    dups = dedup.exact_duplicates(docs, "doc_id", "text", max_members=100)
    rows = dups.collect()
    # verify against a driver-side recomputation
    import collections
    texts = docs.select("doc_id", "text").collect()
    groups = collections.defaultdict(list)
    for r in texts:
        groups[r["text"]].append(r["doc_id"])
    want = {tuple(sorted(v)) for v in groups.values() if len(v) > 1}
    got = {tuple(r["member_ids"]) for r in rows}
    assert got == want
    # scale default: no roster column at all
    assert "member_ids" not in dedup.exact_duplicates(docs, "doc_id", "text").columns
    # capping marks truncation via len(member_ids) < dup_count
    many = docs.sparkSession.createDataFrame(
        [(f"d{i}", "same") for i in range(7)] + [("x", "other"), ("y", "other")],
        "doc_id string, text string",
    )
    capped = {r["digest"]: r for r in
              dedup.exact_duplicates(many, "doc_id", "text", max_members=3).collect()}
    big = next(r for r in capped.values() if r["dup_count"] == 7)
    assert big["member_ids"] == ["d0", "d1", "d2"] and big["dup_count"] == 7


def test_char_shingles_and_jaccard(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "bcde"), (3, "")], ["id", "t"])
    rows = df.select("id", dedup.char_shingles("t", 2).alias("g")).collect()
    by_id = {r["id"]: r["g"] for r in rows}
    assert by_id[1] == sorted(["ab", "bc", "cd"])
    assert by_id[3] == []
    pairs = dedup.ngram_jaccard_pairs(
        df.withColumn("blk", F.lit(1)), "id", "t", "blk", q=2, threshold=0.1
    ).collect()
    pair = [p for p in pairs if p["id_a"] == 1 and p["id_b"] == 2][0]
    assert pair["jaccard"] == pytest.approx(2 / 4)  # {bc,cd} / {ab,bc,cd,de}


def test_minhash_lsh_finds_exact_and_near(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    near = base.replace("fox", "cat")
    far = "completely different content with nothing shared at all here xyz"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["id", "t"]
    )
    pairs = dedup.minhash_lsh_pairs(df, "id", "t", q=3, num_hashes=16, bands=4,
                                    threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got           # identical
    assert (1, 3) in got or (2, 3) in got  # near-duplicate
    assert not any(4 in p for p in got)    # unrelated


def test_minhash_signature_is_true_minhash(spark):
    # signature of identical docs equal; jaccard estimate roughly correct
    df = spark.createDataFrame([(1, "abcabcabc"), (2, "abcabcabc")], ["id", "t"])
    sigs = df.select(
        dedup.minhash_signature(dedup.char_shingles("t", 2), 8).alias("s")
    ).collect()
    assert sigs[0]["s"] == sigs[1]["s"]


def test_simhash_near_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("fox", "cat")), (3, "zzz totally other")],
        ["id", "t"],
    )
    sh = dedup.simhash(df, "id", "t").collect()
    assert len(sh) == 3
    pairs = dedup.simhash_near_pairs(df, "id", "t")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] < 10


def test_brute_force_topk_matches_numpy(emb):
    qs = emb.filter(F.col("vec_id") < 3)
    got = similarity_search.brute_force_topk(emb, qs, k=5, round_digits=None).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for qid in range(3):
        qv = vecs[qid]
        sims = {}
        for nid, nv in vecs.items():
            if nid == qid:
                continue
            sims[nid] = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        mine = sorted(
            [(r["neighbor_id"], r["cosine_sim"]) for r in got if r["query_id"] == qid],
            key=lambda kv: (-kv[1], kv[0]),
        )
        assert [w[0] for w in want] == [m[0] for m in mine]
        np.testing.assert_allclose([w[1] for w in want], [m[1] for m in mine], atol=1e-9)


def test_lsh_topk_reasonable_recall(emb):
    qs = emb.filter(F.col("vec_id") < 10)
    exact = similarity_search.brute_force_topk(emb, qs, k=3).collect()
    approx = similarity_search.lsh_topk(emb, qs, dim=64, k=3, n_planes=4).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in exact_top1.items() if n in approx_sets.get(q, set()))
    assert hits >= 3  # bucketed ANN finds a decent share of true top-1s


def test_lsh_topk_nonbroadcast_path_identical(emb):
    """The corpus-sized-query path (salted shuffle bucket join) must produce
    EXACTLY the broadcast path's output — same pairs, same ranks. Forced by
    query_broadcast_max=0; self-ANN (queries == corpus) is the corpus-scale
    case the broadcast path must never see."""
    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
            for r in df.collect()
        )

    # small query batch: both paths
    qs = emb.filter(F.col("vec_id") < 10)
    via_broadcast = rows(similarity_search.lsh_topk(
        emb, qs, dim=64, k=3, n_planes=4))
    via_shuffle = rows(similarity_search.lsh_topk(
        emb, qs, dim=64, k=3, n_planes=4, query_broadcast_max=0))
    assert via_broadcast == via_shuffle and len(via_shuffle) > 0

    # corpus-sized query set (self-ANN) through the shuffle path
    self_ann = rows(similarity_search.lsh_topk(
        emb, emb, dim=64, k=2, n_planes=4, query_broadcast_max=0))
    self_ann_b = rows(similarity_search.lsh_topk(
        emb, emb, dim=64, k=2, n_planes=4))
    assert self_ann == self_ann_b and len(self_ann) > 0

    # caller-supplied query_count skips the internal count AND persist: the
    # operator stays fully lazy and still picks the right path either side
    # of the gate
    via_hint_bc = rows(similarity_search.lsh_topk(
        emb, qs, dim=64, k=3, n_planes=4, query_count=10))
    via_hint_sh = rows(similarity_search.lsh_topk(
        emb, qs, dim=64, k=3, n_planes=4, query_count=10,
        query_broadcast_max=5))
    assert via_hint_bc == via_broadcast
    assert via_hint_sh == via_broadcast


def test_release_persists_drops_tracked_caches(emb):
    """Operator-internal persists are tracked and released in bulk (ADVICE
    r5): the minhash/ANN/hot-tail caches must not accumulate across repeated
    operator calls in one session."""
    from pprl_scaling_framework_spark.ops import bucket_join

    bucket_join.release_persists()  # start clean
    # lsh_topk with unknown query size persists the signature-augmented side
    similarity_search.lsh_topk(emb, emb.limit(5), dim=64, k=2, n_planes=4).count()
    assert len(bucket_join._TRACKED_PERSISTS) >= 1
    released = bucket_join.release_persists()
    assert released >= 1
    assert bucket_join._TRACKED_PERSISTS == []
    # releasing is idempotent and safe with nothing tracked
    assert bucket_join.release_persists() == 0
    # a caller-supplied count keeps the operator persist-free
    similarity_search.lsh_topk(
        emb, emb.limit(5), dim=64, k=2, n_planes=4, query_count=5).count()
    # (salted_sides may still track the hot-tail table on the shuffle path;
    # the broadcast path with a known count tracks nothing)
    for df in bucket_join._TRACKED_PERSISTS:
        assert "q_vec" not in df.columns
    bucket_join.release_persists()


def test_text_metrics(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, ""), (3, "a1 2b!! ??")], ["id", "t"]
    )
    m = {r["id"]: r for r in text.quality_metrics(df, "id", "t").collect()}
    assert m[1]["n_tokens"] == 5
    assert m[1]["stopword_ratio"] == pytest.approx(3 / 5)  # the, and, the
    assert m[2]["n_tokens"] == 0 and m[2]["quality_score"] is not None
    assert m[3]["punct_ratio"] == pytest.approx(4 / 10)
    lang = {r["id"]: r["lang_guess"] for r in text.lang_id(df, "id", "t").collect()}
    assert lang[1] == "en"
    assert lang[2] == "und"


def test_bpe_token_count(spark):
    # expectations mirror the GPT-2 pre-tokenizer subset: leading space
    # attaches to the following letter/digit/symbol run, contractions split,
    # whitespace runs count as one token, empty -> 0 (verified identical in
    # DuckDB RE2 for the oracle)
    df = spark.createDataFrame(
        [(1, "def foo(x):"), (2, "it's a test 123"), (3, "  leading space"),
         (4, ""), (5, "a_b-c")], ["id", "t"]
    )
    got = {r["id"]: r["n"] for r in df.select(
        "id", text.bpe_token_count("t").alias("n")).collect()}
    assert got == {1: 5, 2: 5, 3: 3, 4: 0, 5: 5}


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "world hello"), (3, "other")], ["id", "t"]
    )
    fp = {r["id"]: r["fingerprint"] for r in text.fingerprint(df, "id", "t").collect()}
    assert fp[1] == fp[2] != fp[3]


def test_qgram_count_expr_matches_python(spark, docs):
    from pprl_scaling_framework_spark.core.qgrams import qgram_count

    rows = docs.select("text", text.qgram_count_expr("text", 2).alias("c")).limit(50).collect()
    for r in rows:
        assert r["c"] == qgram_count(r["text"], 2), r["text"][:40]


def test_multimodal_real_codecs(spark):
    """PPM/BMP/WAV decode is REAL (pure-Python parsers, no media libs):
    distributed decode must return the exact synthesized pixels/samples."""
    import numpy as np

    rows = multimodal.synth_media_rows(n=12, seed=7)
    media = multimodal.make_real_media(spark, n=12, seed=7)

    imgs = {r["media_id"]: r for r in
            multimodal.decode_image(media.filter("kind = 'image'")).collect()}
    assert len(imgs) == 8  # 2 of every 3 rows are images
    for i, kind, mime, data, meta in rows:
        if kind != "image":
            continue
        w, h = meta["width"], meta["height"]
        px = np.array([(i * 31 + j * 7 + 7) % 256 for j in range(w * h * 3)])
        got = imgs[i]
        # PPM and BMP must round-trip to the identical pixel stream
        assert (got["width"], got["height"], got["channels"]) == (w, h, 3)
        assert abs(got["mean_intensity"] - px.mean()) < 1e-3
        assert len(got["features"]) == 8
        assert abs(sum(got["features"]) - 1.0) < 1e-5

    aud = {r["media_id"]: r for r in
           multimodal.decode_audio(media.filter("kind = 'audio'")).collect()}
    assert len(aud) == 4
    for i, kind, mime, data, meta in rows:
        if kind != "audio":
            continue
        ns = 64 + (i % 32) * 8
        s = np.array([((i * 131 + j * 17 + 7) % 4001) - 2000 for j in range(ns)],
                     dtype=np.int64)
        got = aud[i]
        assert got["n_samples"] == ns and got["sample_rate"] == 8000
        assert abs(got["rms"] - float(np.sqrt((s * s).sum() / ns))) < 1e-2

    # pixel-exact decode equality: decode(encode(px)) == px for both formats
    ppm = multimodal.decode_ppm(multimodal.encode_ppm(3, 2, np.arange(18) % 256))
    bmp = multimodal.decode_bmp(multimodal.encode_bmp(3, 2, np.arange(18) % 256))
    assert ppm is not None and bmp is not None
    assert list(ppm[3]) == list(range(18)) and list(bmp[3]) == list(range(18))

    # real nearest-neighbor resize: every image lands at the target size
    resized = multimodal.resize_image(media.filter("kind = 'image'"), (4, 4))
    re_decoded = multimodal.decode_image(resized).collect()
    assert len(re_decoded) == 8
    assert all(r["width"] == 4 and r["height"] == 4 for r in re_decoded)

    # undecodable payloads error by default, skip on request
    junk = spark.createDataFrame(
        [(99, "image", "image/junk", b"NOTAFORMAT", None)], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="no codec"):
        multimodal.decode_image(junk).collect()
    assert multimodal.decode_image(junk, on_undecodable="skip").count() == 0


def test_lsh_salting_is_pair_set_invariant(docs, emb):
    """Hot-bucket salting must redistribute work, not change any output."""
    def pairs_set(df, cols=("id_a", "id_b")):
        return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}

    # force salting (hot_threshold=1 salts every bucket) vs none (huge)
    mh_s = dedup.minhash_lsh_pairs(docs, "doc_id", "text", hot_threshold=1, shards=4)
    mh_u = dedup.minhash_lsh_pairs(docs, "doc_id", "text", hot_threshold=10**9)
    assert pairs_set(mh_s) == pairs_set(mh_u)

    sh_s = dedup.simhash_near_pairs(docs.limit(60), "doc_id", "text", hot_threshold=1, shards=4)
    sh_u = dedup.simhash_near_pairs(docs.limit(60), "doc_id", "text", hot_threshold=10**9)
    assert pairs_set(sh_s, ("id_a", "id_b", "hamming")) == pairs_set(sh_u, ("id_a", "id_b", "hamming"))

    ng_s = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.3,
                                     hot_threshold=1, shards=4)
    ng_u = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.3,
                                     hot_threshold=10**9)
    assert pairs_set(ng_s, ("id_a", "id_b", "jaccard")) == pairs_set(ng_u, ("id_a", "id_b", "jaccard"))

    dim = len(emb.select("embedding").first()[0])
    ed_s = similarity_search.embedding_near_duplicates(emb, dim, threshold=0.8,
                                                       hot_threshold=1, shards=4)
    ed_u = similarity_search.embedding_near_duplicates(emb, dim, threshold=0.8,
                                                       hot_threshold=10**9)
    assert pairs_set(ed_s, ("id_a", "id_b", "cosine_sim")) == pairs_set(ed_u, ("id_a", "id_b", "cosine_sim"))


def test_bucket_join_mega_cap_drops_bucket(spark):
    from pprl_scaling_framework_spark.ops.bucket_join import salted_pair_candidates

    rows = [("big", f"m{i}") for i in range(10)] + [("small", "x"), ("small", "y")]
    keyed = spark.createDataFrame(rows, "bucket string, id string")
    capped = salted_pair_candidates(keyed, ["bucket"], hot_threshold=2, shards=2, max_bucket=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {("x", "y")}  # the 10-member mega bucket is dropped entirely


def test_salted_pair_spread_only_widens(spark):
    from pprl_scaling_framework_spark.ops import bucket_join

    rows = [("b", f"m{i}") for i in range(6)]
    keyed = spark.createDataFrame(rows, "bucket string, id string")
    assert bucket_join.widen(keyed.coalesce(1), 4).rdd.getNumPartitions() == 4
    wide = keyed.repartition(12)
    assert bucket_join.widen(wide, 4).rdd.getNumPartitions() == 12
    pairs = bucket_join.salted_pair_candidates(wide, ["bucket"], spread=4)
    plan = pairs._jdf.queryExecution().analyzed().toString()
    assert "Repartition 12" in plan and "Repartition 4" not in plan
    assert pairs.count() == 15
    bucket_join.release_persists()


def test_multimodal_video_codec(spark):
    """AVI decode is REAL (pure-Python RIFF/DIB parser): frame sampling must
    return the exact synthesized per-frame pixels, and the undecodable
    contract must hold for video like image/audio."""
    import numpy as np
    import pytest as _pytest

    rows = multimodal.synth_video_rows(n=6, seed=7)
    media = multimodal.make_real_video(spark, n=6, seed=7)

    got = multimodal.decode_video(media, frame_stride=2).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in got}
    for i, kind, mime, data, meta in rows:
        w, h = meta["width"], meta["height"]
        n_frames = 3 + i % 5
        sampled = list(range(0, n_frames, 2))
        for fi in sampled:
            r = by_key[(i, fi)]
            assert (r["width"], r["height"], r["n_frames"]) == (w, h, n_frames)
            assert r["duration_ms"] == n_frames * 100
            px = np.array([(i * 37 + fi * 11 + j * 7 + 7) % 256
                           for j in range(w * h * 3)])
            assert abs(r["mean_intensity"] - px.mean()) < 1e-3
    assert len(got) == sum(len(range(0, 3 + i % 5, 2)) for i in range(6))

    # pixel-exact decode equality through the container round-trip
    frames = [np.arange(36) % 256, (np.arange(36) + 5) % 256]
    w, h, usec, out = multimodal.decode_avi(multimodal.encode_avi(4, 3, 10, frames))
    assert (w, h, usec) == (4, 3, 100000)
    assert [list(f) for f in out] == [list(f % 256) for f in frames]

    # undecodable contract: error raises, skip drops
    bad = spark.createDataFrame(
        [(99, "video", "video/x-msvideo", b"not an avi at all",
          {"width": None, "height": None, "channels": None, "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception):
        multimodal.decode_video(bad).collect()
    assert multimodal.decode_video(bad, on_undecodable="skip").count() == 0


def _avi_chunk(cid: bytes, body: bytes) -> bytes:
    import struct
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _avi_list(ltype: bytes, body: bytes) -> bytes:
    return _avi_chunk(b"LIST", ltype + body)


def test_decode_avi_multistream_audio_video():
    """Spec-valid AVI with an AUDIO stream (index 0) ahead of the video
    stream (index 1): only '01db' chunks are frames; the audio strf and
    '01wb' audio payloads must be ignored (ADVICE r4: the old parser took
    any '..db' chunk and any 24-bit-looking strf)."""
    import struct

    import numpy as np

    from pprl_scaling_framework_spark.ops import multimodal

    w, h, fps = 4, 3, 10
    frame = np.arange(w * h * 3, dtype=np.uint8)
    stride = (w * 3 + 3) & ~3
    img = frame.reshape(h, w, 3)[:, :, ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img.reshape(h, w * 3)
    dib = rows[::-1].tobytes()
    frame_size = stride * h

    avih = struct.pack("<10I16x", 1_000_000 // fps, frame_size * fps, 0, 0,
                       1, 0, 2, frame_size, w, h)
    strh_aud = (b"auds" + b"\x00" * 4
                + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, 8000, 0, 100, 2, 0)
                + struct.pack("<I4H", 0, 0, 0, 0, 0))
    strf_aud = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)  # WAVEFORMATEX
    strh_vid = (b"vids" + b"DIB "
                + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, fps, 0, 1, frame_size, 0)
                + struct.pack("<I4H", 0, 0, 0, w, h))
    strf_vid = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = _avi_list(
        b"hdrl", _avi_chunk(b"avih", avih)
        + _avi_list(b"strl", _avi_chunk(b"strh", strh_aud) + _avi_chunk(b"strf", strf_aud))
        + _avi_list(b"strl", _avi_chunk(b"strh", strh_vid) + _avi_chunk(b"strf", strf_vid))
    )
    movi = _avi_list(b"movi",
                     _avi_chunk(b"01wb", b"\x00" * 64)    # audio payload: skip
                     + _avi_chunk(b"01db", dib)           # the video frame
                     + _avi_chunk(b"01wb", b"\x01" * 64))
    data = _avi_chunk(b"RIFF", b"AVI " + hdrl + movi)

    decoded = multimodal.decode_avi(data)
    assert decoded is not None
    got_w, got_h, usec, frames = decoded
    assert (got_w, got_h, usec) == (w, h, 100_000)
    assert len(frames) == 1
    assert np.array_equal(frames[0], frame)

    # same container but frames tagged with the AUDIO stream's index ('00db')
    # must decode no frames -> None (no video payload)
    bad_movi = _avi_list(b"movi", _avi_chunk(b"00db", dib))
    assert multimodal.decode_avi(_avi_chunk(b"RIFF", b"AVI " + hdrl + bad_movi)) is None


def test_decode_avi_frame_before_avih_is_malformed():
    """A video frame chunk arriving before avih (no dimensions yet) is a
    malformed file: None, not a silent skip."""
    import struct

    import numpy as np

    from pprl_scaling_framework_spark.ops import multimodal

    good = multimodal.encode_avi(4, 3, 10, [np.arange(36, dtype=np.uint8)])
    # movi LIST spliced BEFORE hdrl
    assert good[:4] == b"RIFF"
    body = good[12:]
    (hdrl_size,) = struct.unpack_from("<I", body, 4)
    hdrl_chunk = body[: 8 + hdrl_size + (hdrl_size & 1)]
    movi_chunk = body[len(hdrl_chunk):]
    reordered = _avi_chunk(b"RIFF", b"AVI " + movi_chunk + hdrl_chunk)
    assert multimodal.decode_avi(reordered) is None


def test_ivf_topk_recall_and_path_parity(emb):
    """IVF-Flat ANN: (a) probing more cells monotonically approaches the
    exact answer (n_probe == n_cells == exhaustive -> identical to brute
    force), (b) broadcast and salted-shuffle physical paths are
    result-identical, (c) a caller-supplied query_count keeps it lazy."""
    spark = emb.sparkSession
    cents = similarity_search.synthetic_centroids(spark, 8, 64, seed=17)
    qs = emb.filter(F.col("vec_id") < 10)

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
            for r in df.collect()
        )

    # exhaustive probe == brute force (every cell probed, nothing missed)
    exact = rows(similarity_search.brute_force_topk(emb, qs, k=3))
    full_probe = rows(similarity_search.ivf_topk(emb, qs, cents, k=3, n_probe=8))
    assert full_probe == exact

    # partial probe: recall grows with probe depth (random high-dim vectors
    # put little structure in 8 random cells, so the bar is the probed
    # fraction, not near-1 — half the cells -> at least a third of top-1s)
    approx4 = similarity_search.ivf_topk(emb, qs, cents, k=3, n_probe=4).collect()
    exact_top1 = {q: n for q, rk, n, s in exact if rk == 1}
    approx_sets = {}
    for r in approx4:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in exact_top1.items() if n in approx_sets.get(q, set()))
    assert hits >= 3
    approx = similarity_search.ivf_topk(emb, qs, cents, k=3, n_probe=2).collect()

    # both physical paths identical (small batch + corpus-sized self-ANN)
    bc = rows(similarity_search.ivf_topk(emb, qs, cents, k=3, n_probe=2))
    sh = rows(similarity_search.ivf_topk(
        emb, qs, cents, k=3, n_probe=2, query_broadcast_max=0,
        hot_threshold=8, shards=4))
    assert bc == sh == sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"]) for r in approx)
    self_bc = rows(similarity_search.ivf_topk(emb, emb, cents, k=2, n_probe=2))
    self_sh = rows(similarity_search.ivf_topk(
        emb, emb, cents, k=2, n_probe=2, query_broadcast_max=0))
    assert self_bc == self_sh and len(self_sh) > 0

    # caller-supplied count (in QUERIES, pre-explode) picks the same path
    from pprl_scaling_framework_spark.ops import bucket_join
    bucket_join.release_persists()
    hint = rows(similarity_search.ivf_topk(
        emb, qs, cents, k=3, n_probe=2, query_count=10))
    assert hint == bc
    for df in bucket_join._TRACKED_PERSISTS:
        assert "q_vec" not in df.columns  # no internal query persist with a hint
    bucket_join.release_persists()


def test_minhash_verify_single_eval_matches_exact_python(spark):
    """Round-7 internals change: the exact-Jaccard verify computes |A cap B|
    once behind a persist barrier (_verified_pairs) instead of re-evaluating
    array_intersect per CaseWhen branch. The reported jaccard of EVERY
    emitted pair must equal a pure-Python exact computation over the same
    distinct q-gram sets, and the pair set must be band-consistent."""
    import random

    rng = random.Random(13)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    docs = []
    for i in range(40):
        base = " ".join(rng.choice(words) for _ in range(12))
        docs.append((i, base))
        if i % 3 == 0:  # a near-duplicate neighbor
            docs.append((100 + i, base.replace("alpha", "omega")))
    df = spark.createDataFrame(docs, ["id", "t"])
    out = dedup.minhash_lsh_pairs(df, "id", "t", q=3, num_hashes=16, bands=4,
                                  threshold=0.5).collect()
    assert out  # near-dupes exist by construction

    def grams(s):
        return {s[i:i + 3] for i in range(len(s) - 2)}

    by_id = {i: grams(t) for i, t in docs}
    for r in out:
        a, b = by_id[r["id_a"]], by_id[r["id_b"]]
        exact = len(a & b) / len(a | b)
        assert exact >= 0.5
        assert r["jaccard"] == pytest.approx(round(exact, 6), abs=1e-9)
    from pprl_scaling_framework_spark.ops import bucket_join

    bucket_join.release_persists()
