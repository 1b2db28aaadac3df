"""LLM-pipeline operators vs DuckDB oracle at sf0.01."""

import pytest

import __spark_entry__ as entry
from tests.conftest import assert_matches_oracle

LLM_OPS = {n: (m.QUERIES[n], m.ORACLE_SQL[n]) for m in entry._modules()
           if m.__name__.startswith("kmr_spark.llm_ops.") for n in m.QUERIES}


@pytest.mark.parametrize("name", sorted(LLM_OPS))
def test_llm_op_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, *LLM_OPS[name])


def test_llm_queries_release_their_caches(spark):
    """Query functions persist mid-pipeline tables (signatures, cell
    assignments); each call must release them before returning, or a
    long-lived session accumulates executor storage per call. The
    CacheManager sees exactly the DataFrame-level persists (not the
    GC-reclaimed localCheckpoint RDDs), so empty-after-call is the
    precise no-leak assertion."""
    from kmr_spark.llm_ops.corpus import doc_contamination
    from kmr_spark.llm_ops.dedup import (minhash_lsh_pairs,
                                         ngram_jaccard_pairs, simhash_pairs)
    from kmr_spark.llm_ops.packing import pack_sequences
    from kmr_spark.llm_ops.similarity import (ann_ivf, knn_bruteforce,
                                              knn_quantized)
    from kmr_spark.llm_ops.textstats import doc_bigram_lm, doc_fingerprint
    from kmr_spark.plans.graphs import graph_bfs, triangle_stats
    from kmr_spark.plans.training import epoch_shuffle

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    for fn in (knn_bruteforce, ann_ivf, knn_quantized, minhash_lsh_pairs,
               simhash_pairs, ngram_jaccard_pairs, doc_fingerprint,
               doc_bigram_lm, pack_sequences, triangle_stats, graph_bfs,
               doc_contamination, epoch_shuffle):
        out = fn(spark, "/root/testdata/sf0.001")
        assert out.count() >= 0
        assert cm.isEmpty(), f"{fn.__name__} left cached plans behind"


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe IVF must recover at least as much of the brute-force
    top-3 as single-probe, and clear a recall floor on the synthetic
    corpus (measured: single ~0.87, multi ~0.90 at sf0.001)."""
    from kmr_spark.llm_ops.similarity import (
        ann_ivf, ann_ivf_multiprobe, knn_bruteforce)

    sf = "/root/testdata/sf0.001"

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    bf = topsets(knn_bruteforce(spark, sf).filter("rn <= 3"))
    single = topsets(ann_ivf(spark, sf))
    multi = topsets(ann_ivf_multiprobe(spark, sf))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & bf[q]) for q in bf)
        return hits / sum(len(bf[q]) for q in bf)

    r1, rp = recall(single), recall(multi)
    assert rp >= r1
    assert rp >= 0.85


def test_minhash_finds_near_dupes_nonempty(spark, duck):
    """The dedup queries should not be vacuously-empty at sf0.01 —
    verified against the oracle anyway, but check data has signal."""
    from kmr_spark.llm_ops.dedup import MINHASH_SQL

    n = len(duck.execute(MINHASH_SQL).fetchall())
    # informational: if 0, thresholds need tuning for the synthetic corpus
    print(f"minhash candidate near-dup pairs at sf0.01: {n}")


def test_cc_long_chain_converges_in_log_rounds(spark):
    """Idempotent pointer jumping must collapse a 200-node path graph
    (diameter 199 — the worst case for plain propagation, which would
    need 199 rounds, and for fixed-step jumping, which shortens it
    2^steps edges/round) in ~one contraction round: the monotone chain
    is a single min-forest tree, so jumping to the root empties the
    edge set immediately. max_rounds=2 pins that."""
    from kmr_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long")
    got = {r["node"]: r["label"]
           for r in connected_components(pairs, max_rounds=2).collect()}
    assert got == {i: 0 for i in range(200)}


def test_cc_disjoint_components(spark):
    """Two separate components keep separate minimum labels."""
    from kmr_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    got = {r["node"]: r["label"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cluster_labels_consistent_with_pairs(spark):
    """Every near-dup pair must land in the same cluster, and each
    cluster's keeper must be its minimum doc_id."""
    from kmr_spark.llm_ops.dedup import duplicate_clusters, simhash_pairs

    sf = "/root/testdata/sf0.01"
    labels = {r["doc_id"]: r["cluster_id"]
              for r in duplicate_clusters(spark, sf).collect()}
    for p in simhash_pairs(spark, sf).collect():
        assert labels[p["doc_a"]] == labels[p["doc_b"]]
    by_cluster = {}
    for doc, cl in labels.items():
        by_cluster.setdefault(cl, []).append(doc)
    for cl, members in by_cluster.items():
        assert cl == min(members)


def test_bmp_decoder_rejects_malformed(spark):
    """The real codec must fail loudly on garbage, not emit junk rows."""
    import pytest as _pytest

    from kmr_spark.llm_ops.multimodal import decode_bmp

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOTABMP" * 10))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="bad magic"):
        decode_bmp(bad).collect()


def _tiny_bmp(pixels_rows):
    """Hand-build a 24-bpp BMP from rows of grayscale pixel values."""
    import struct

    h, w = len(pixels_rows), len(pixels_rows[0])
    stride = ((w * 3 + 3) // 4) * 4
    body = b"".join(
        b"".join(bytes([v]) * 3 for v in row) + b"\0" * (stride - w * 3)
        for row in pixels_rows)
    return (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                          2835, 2835, 0, 0) + body)


def test_resize_bmp_nn_exact_pixel_choice(spark):
    """NN must pick source pixel (xo*w DIV out_w, yo*h DIV out_h) — the
    gradient input makes any other index map change the sum."""
    from kmr_spark.llm_ops.multimodal import decode_bmp, resize_bmp_nn

    src = _tiny_bmp([[10, 20], [30, 40]])
    df = spark.createDataFrame([(1, bytearray(src))], "doc_id long, payload binary")
    up = decode_bmp(resize_bmp_nn(df, 4, 2)).first()
    # x map [0,0,1,1] per row: rows (10,10,20,20) and (30,30,40,40)
    assert (up.width, up.height, up.stride) == (4, 2, 12)
    assert up.pixel_sum == 3 * (10 + 10 + 20 + 20 + 30 + 30 + 40 + 40)
    down = decode_bmp(resize_bmp_nn(df, 1, 1)).first()
    assert (down.width, down.height) == (1, 1)
    assert down.pixel_sum == 3 * 10  # top-left source pixel


def test_resize_bmp_nn_rejects_bad_input(spark):
    import pytest as _pytest

    from kmr_spark.llm_ops.multimodal import resize_bmp_nn

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOTABMP" * 10))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="bad magic"):
        resize_bmp_nn(bad, 4, 4).collect()
    ok = spark.createDataFrame(
        [(1, bytearray(_tiny_bmp([[1]])))], "doc_id long, payload binary")
    with _pytest.raises(ValueError):
        resize_bmp_nn(ok, 0, 4)


def test_wav_decoder_walks_chunks_and_rejects_malformed(spark):
    """The RIFF walker must skip unknown chunks to reach fmt/data, and
    fail loudly on bad magic / size mismatch instead of emitting junk."""
    import struct

    import pytest as _pytest

    from kmr_spark.llm_ops.multimodal import decode_wav

    # hand-built: fmt AFTER two unknown chunks, one with odd length
    # (exercises the even-padding rule)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<4h", 5, -5, 7, -7)
    chunks = (
        b"junk" + struct.pack("<I", 3) + b"abc" + b"\0"  # odd size, padded
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = decode_wav(df).first()
    assert (row.sample_rate, row.channels, row.bits) == (8000, 1, 16)
    assert row.n_samples == 4 and row.sample_sum == 0 and row.duration_ms == 0

    bad = spark.createDataFrame(
        [(2, bytearray(b"RIFX" + wav[4:]))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="not a RIFF"):
        decode_wav(bad).collect()
    short = spark.createDataFrame(
        [(3, bytearray(wav[:-2]))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="size mismatch"):
        decode_wav(short).collect()


def test_video_sampler_skips_unsampled_frames(spark):
    """every_n=3 over 7 frames decodes exactly frames 0,3,6; a
    corrupted UNSAMPLED frame is never touched (skip-by-length)."""
    from kmr_spark.llm_ops.multimodal import (encode_docs_as_video,
                                              sample_video_frames)

    docs = spark.createDataFrame(
        [(12, "x" * 40)], "doc_id long, text string")  # did%5+2 = 4 frames
    vid = encode_docs_as_video(docs)
    rows = sample_video_frames(vid, every_n=3).collect()
    assert [r.frame_idx for r in rows] == [0, 3]

    # corrupt frame 1's BMP magic in the raw container; frames 0 and 3
    # must still decode because frame 1 is skipped by its length prefix
    import struct

    raw = bytearray(bytes(vid.first().payload))
    pos = 8
    (flen0,) = struct.unpack_from("<I", raw, pos)
    f1_hdr = pos + 4 + flen0          # offset of frame 1's length prefix
    raw[f1_hdr + 4:f1_hdr + 6] = b"XX"  # clobber frame 1 magic
    df = spark.createDataFrame([(12, raw)], "doc_id long, payload binary")
    rows = sample_video_frames(df, every_n=3).collect()
    assert [r.frame_idx for r in rows] == [0, 3]


def test_wav_decoder_rejects_chunk_overrun(spark):
    """A chunk whose declared size exceeds the remaining payload must
    raise, not silently truncate the sample data."""
    import struct

    import pytest as _pytest

    from kmr_spark.llm_ops.multimodal import decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<4h", 1, 2, 3, 4)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data) + 64) + data)  # lies
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="overruns"):
        decode_wav(df).collect()


def test_audio_frame_features_hand_computed(spark):
    """A hand-built two-frame PCM16 clip yields exactly the expected
    energy / zero-crossing / peak per frame (frame_len=4: frames
    [3,-2,5,0] and [-7,7])."""
    import struct

    from kmr_spark.llm_ops.multimodal import audio_frame_features

    samples = [3, -2, 5, 0, -7, 7]
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    df = spark.createDataFrame([(9, bytearray(wav))],
                               "doc_id long, payload binary")
    rows = {r.frame_idx: r for r in
            audio_frame_features(df, frame_len=4).collect()}
    f0, f1 = rows[0], rows[1]
    assert (f0.n_samples, f0.energy, f0.zero_crossings, f0.peak) == (
        4, 9 + 4 + 25 + 0, 2, 5)  # crossings: 3->-2 and -2->5; 5->0 is not
    assert (f1.n_samples, f1.energy, f1.zero_crossings, f1.peak) == (
        2, 49 + 49, 1, 7)


def test_audio_frame_features_rejects_bad_frame_len(spark):
    import pytest

    from kmr_spark.llm_ops.multimodal import audio_frame_features

    df = spark.createDataFrame([(1, bytearray(b""))],
                               "doc_id long, payload binary")
    with pytest.raises(ValueError):
        audio_frame_features(df, frame_len=1)


def test_ahash_near_duplicate_images_close_in_hamming(spark):
    """aHash of an image and its lightly-corrupted copy differ in few
    bits; two different gradients differ in many — the separation the
    perceptual fingerprint exists for. Also: wrong thumbnail size is
    rejected."""
    import numpy as np
    import pytest

    from kmr_spark.llm_ops.multimodal import _bmp_encode, ahash_bmp

    def gradient_bmp(w, h, fill, noise=0):
        stride = ((w * 3 + 3) // 4) * 4
        grad = ((fill + 3 * np.arange(w)[None, :]
                 + 5 * np.arange(h)[:, None]) % 251).astype(np.int64)
        if noise:
            grad[0, 0] = (grad[0, 0] + noise) % 251  # one corrupted px
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, :w * 3] = np.repeat(grad.astype(np.uint8), 3, axis=1)
        return bytearray(_bmp_encode(w, h, padded.tobytes()))

    df = spark.createDataFrame(
        [(1, gradient_bmp(8, 8, 10)),
         (2, gradient_bmp(8, 8, 10, noise=3)),   # near-dup
         (3, gradient_bmp(8, 8, 200))],          # different image
        "doc_id long, payload binary")
    got = {r.doc_id: (r.ahash_hi, r.ahash_lo) for r in
           ahash_bmp(df).collect()}

    def hamming(a, b):
        return bin((a[0] ^ b[0])).count("1") + bin((a[1] ^ b[1])).count("1")

    assert hamming(got[1], got[2]) <= 2
    assert hamming(got[1], got[3]) > 8

    bad = spark.createDataFrame([(9, gradient_bmp(4, 4, 0))],
                                "doc_id long, payload binary")
    with pytest.raises(Exception, match="ahash expects"):
        ahash_bmp(bad).collect()


def test_langid_confusion_shares_sum_to_one(spark):
    """Per label the shares form a distribution; matrix counts total
    the corpus size."""
    from collections import defaultdict

    from tests.conftest import SF_DIR

    from kmr_spark.llm_ops.textstats import langid_confusion
    from kmr_spark.session import load_tables

    rows = langid_confusion(spark, SF_DIR).collect()
    assert rows
    share_by_label = defaultdict(float)
    n_total = 0
    for r in rows:
        share_by_label[r.lang_label] += r.share
        n_total += r.n
    for label, tot in share_by_label.items():
        assert abs(tot - 1.0) < 1e-9, label
    assert n_total == load_tables(spark, SF_DIR)["documents"].count()


def test_scene_cuts_flag_wraps_only(spark):
    """Consecutive frames advance fill by 1 (delta 1, no cut); the mod
    wrap makes a 250 jump (cut). Both behaviors must appear, and every
    flag must equal (delta > threshold)."""
    from tests.conftest import SF_DIR

    from kmr_spark.llm_ops.multimodal import (SCENE_CUT_DELTA,
                                              multimodal_scene_cuts)

    rows = multimodal_scene_cuts(spark, SF_DIR).collect()
    assert rows
    deltas = {round(r.delta) for r in rows}
    assert 1 in deltas and 250 in deltas
    for r in rows:
        assert r.is_cut == (r.delta > SCENE_CUT_DELTA)
    assert any(r.is_cut for r in rows) and any(not r.is_cut for r in rows)


def test_ngram_jaccard_blocks_bounded_under_metadata_skew(spark):
    """The content band composed into the (lang, source) block key must
    bound block sizes even when the metadata is maximally skewed (every
    doc in one (lang, source) cell) — the case where metadata-only
    blocking degenerates to an all-pairs quadratic join."""
    from pyspark.sql import functions as F

    from kmr_spark.functions import hashing as H

    n = 300
    docs = spark.createDataFrame(
        [(i, "en", "web",
          " ".join(f"tok{(i * 7 + j * 13) % 997}" for j in range(25)))
         for i in range(n)],
        "doc_id long, lang string, source string, text string")
    th_table = H.token_hash_table(docs, ["lang", "source"])
    sigs = (
        th_table.select("doc_id", "lang", "source",
                        H.shingle_hashes_col(F.col("th")).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", "lang", "source",
                *H.minhash_sig_cols(F.col("sh")))
    )
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat_ws(":", "lang", "source", F.lit(b),
                        F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}"))
            for b in range(H.N_BANDS)
        ])).alias("band_key"))
    sizes = bands.groupBy("band_key").count().agg(
        F.max("count").alias("mx")).collect()[0]
    th_table.unpersist()
    # metadata-only blocking puts all n docs in ONE block (n^2/2 pairs);
    # with the band in the key no block may exceed a small fraction of n
    assert sizes["mx"] <= n // 10, sizes["mx"]
