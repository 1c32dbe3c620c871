"""Operator-level tests: dedup family, similarity search, text analysis."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_deterministic,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from archive_to_parquet_spark.operators.similarity import (
    brute_force_top_k,
    fixed_hyperplanes,
    ivf_top_k_fixed_centroids,
    lsh_top_k,
)
from archive_to_parquet_spark.queries.dedup import (
    _SFX_LEN,
    _SFX_MIN,
    _suffix_rows,
    dedup_suffix_lcp,
    dedup_suffix_lcp_bucketed,
    split_leakage_safe,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different text about spark shuffles and parquet files here"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, far),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_contract(spark, docs_with_dups):
    df = docs_with_dups.withColumn("hash", F.sha2("text", 256))
    out = dedup_exact(df, "hash")
    # deterministic SET of hashes, winner unspecified (reference contract)
    assert out.count() == 4
    assert set(out.select("hash").toPandas()["hash"]) == set(
        df.select("hash").distinct().toPandas()["hash"]
    )


def test_dedup_deterministic_winner(spark, docs_with_dups):
    df = docs_with_dups.withColumn("hash", F.sha2("text", 256))
    out = dedup_exact_deterministic(df, "hash", order_cols=("doc_id",))
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 3, 4, 5}  # doc 2 loses to doc 1


def test_simhash_finds_near_dups(spark, docs_with_dups):
    pairs = simhash_near_duplicates(
        docs_with_dups, "doc_id", "text", max_hamming=10
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    hamming = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert hamming[(1, 2)] == 0


def test_minhash_confirmed_equals_exact_pairs(spark, docs_with_dups):
    """Exact-confirmation contract: LSH candidates verified by true
    Jaccard produce a subset of (here: exactly) the exact pair set."""
    from archive_to_parquet_spark.operators.dedup import (
        minhash_near_duplicates_confirmed,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs_with_dups, "doc_id", "text", shingle_n=3, threshold=0.5
        ).collect()
    }
    confirmed = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_duplicates_confirmed(
            docs_with_dups, "doc_id", "text", num_hashes=32, bands=16,
            jaccard_threshold=0.5,
        ).collect()
    }
    assert set(confirmed) <= set(exact)
    for pair, j in confirmed.items():
        assert j == pytest.approx(exact[pair])
    assert (1, 2) in confirmed  # exact dup always collides


def test_hot_bucket_capping(spark):
    """A degenerate bucket (300 identical docs) is excluded from the
    self-join by max_bucket_size — no quadratic pair explosion — and the
    truncation is reported through the Observation, never silent."""
    from pyspark.sql import Observation

    from archive_to_parquet_spark.operators.dedup import (
        minhash_near_duplicates_confirmed,
    )

    rows = [(i, "all the same text repeated here for everyone") for i in range(300)]
    rows += [
        (1000, "a unique document about something else entirely today"),
        (1001, "a unique document about something else entirely tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("lsh_cap")
    pairs = minhash_near_duplicates_confirmed(
        df, "doc_id", "text", num_hashes=32, bands=16, jaccard_threshold=0.5,
        max_bucket_size=50, observation=obs,
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert found == {(1000, 1001)}  # clone pairs suppressed, real pair kept
    assert obs.get["rows_in_hot_buckets"] == 300 * 16  # 300 clones × 16 bands
    assert obs.get["max_bucket_size"] == 300


def test_simhash_chunk_signatures_match_python_reference(spark):
    """The JVM md5 SimHash equals an independent pure-Python
    reimplementation of the same spec (md5 of utf-8 shingle, bit votes,
    sign), as the assembled signed 64-bit value."""
    import hashlib

    from archive_to_parquet_spark.operators.dedup import simhash_signature

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "pack my box with five dozen liquor jugs today",
        3: "single",
        4: "Ünïcode wörds über αβγ 中文 分词 here now",
    }

    def py_simhash(text: str, n: int = 3) -> int:
        words = [w for w in text.lower().split() if w]
        n_sh = max(len(words) - n + 1, 1)
        grams = [" ".join(words[i : i + n]) for i in range(n_sh)]
        votes = [0] * 64
        for g in grams:
            h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >> 63 else sig

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.id: r.sig for r in simhash_signature(df, "doc_id", "text").collect()
    }
    for doc_id, text in texts.items():
        assert got[doc_id] == py_simhash(text), doc_id


def test_ngram_jaccard_exact_values(spark, docs_with_dups):
    pairs = ngram_jaccard_pairs(
        docs_with_dups, "doc_id", "text", shingle_n=3, threshold=0.1
    ).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0
    assert 0.5 < jac[(1, 3)] < 1.0


def test_brute_force_topk_self_is_best(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_top_k(emb, q, k=5).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r.query_id, []).append(r)
    for qid, rows in by_query.items():
        assert len(rows) == 5
        best = min(rows, key=lambda r: r.rank)
        assert best.vec_id == qid  # self-similarity = 1.0 tops the list
        assert best.cosine == pytest.approx(1.0, abs=1e-9)


def test_lsh_topk_recall_against_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_top_k(emb, q, k=5).collect()
    approx = lsh_top_k(
        emb, q, planes=fixed_hyperplanes(8, 64), k=5, multi_probe_bits=2
    ).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"LSH recall too low: {recall}"
    # self-match must always survive (identical vector, same bucket)
    for r in approx:
        if r.rank == 1:
            assert r.query_id == r.vec_id


def _exhaustive_probe_case(spark):
    emb = spark.read.parquet(
        os.path.join(os.path.dirname(SF_DIR), "sf0.01", "embeddings.parquet")
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sorted(
        tuple(r) for r in brute_force_top_k(emb, q, k=10, round_to=6).collect()
    )
    return emb, q, exact


def test_lsh_topk_probing_every_bucket_is_exact(spark):
    """One plane and one-bit multi-probe visit both buckets, so the
    candidates are the whole corpus and the shared cosine re-rank must
    return brute force's rows exactly."""
    emb, q, exact = _exhaustive_probe_case(spark)
    got = lsh_top_k(
        emb, q, planes=fixed_hyperplanes(1, 64), k=10, multi_probe_bits=1,
        round_to=6,
    ).collect()
    assert sorted(tuple(r) for r in got) == exact


def test_ivf_topk_probing_every_list_is_exact(spark):
    """Probing as many lists as there are centroids makes IVF's
    candidates the whole corpus: the re-rank must equal brute force."""
    emb, q, exact = _exhaustive_probe_case(spark)
    cent = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    got = ivf_top_k_fixed_centroids(
        emb, cent, q, k=10, n_probe=cent.count(), round_to=6, dim=64
    ).collect()
    assert sorted(tuple(r) for r in got) == exact


def test_connected_components(spark):
    from archive_to_parquet_spark.operators.dedup import connected_components

    # two chains + a triangle + isolated pair: components {1..4}, {10,11,12}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_near_duplicate_clusters(spark, docs_with_dups):
    from archive_to_parquet_spark.operators.dedup import near_duplicate_clusters

    labeled = near_duplicate_clusters(
        docs_with_dups, "doc_id", "text", jaccard_threshold=0.5,
        num_hashes=32, bands=16,
    ).collect()
    by_id = {r.id: r for r in labeled}
    # docs 1,2 (exact dup) and likely 3 (near) share a component
    assert by_id[1].component == by_id[2].component
    # singletons are their own representative
    assert by_id[4].is_representative
    assert by_id[5].is_representative
    # exactly one representative per component
    reps = {}
    for r in labeled:
        reps.setdefault(r.component, 0)
        reps[r.component] += int(r.is_representative)
    assert all(v == 1 for v in reps.values())


def test_language_id_heuristic(spark):
    from archive_to_parquet_spark.functions.text import language_id_col

    rows = [
        (1, "the cat and the dog is in that house for it was cold"),
        (2, "el perro y la casa de los árboles en un día es bueno"),
        (3, "das ist der Hund und die Katze mit einem Haus nicht zu"),
        (4, "xyzzy plugh 12345"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.guess for r in df.select("id", language_id_col("text").alias("guess")).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "und"


def _tiny_png(w=320, h=240, color_type=6):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", w, h)
        + bytes([8, color_type, 0, 0, 0])
    )


def _tiny_jpeg(w=320, h=240):
    import struct

    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", h, w) + b"\x03"
    return b"\xff\xd8" + app0 + sof0 + b"\x00" * 8


def _tiny_wav(rate=44100, n_frames=44100, channels=2, bits=16):
    import struct

    data_size = n_frames * channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_size)
    )


def test_real_header_decoders(spark):
    """The image/audio kernels read true dimensions / sample metadata
    from PNG, JPEG, GIF, BMP, PPM, and WAV headers — pure parsing, no
    codec."""
    import struct

    from archive_to_parquet_spark.operators.multimodal import (
        extract_audio_features,
        extract_image_features,
    )

    gif = b"GIF89a" + struct.pack("<HH", 100, 50)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<iiHH", 64, -32, 1, 24)
    ppm = b"P6\n# a comment\n320 240\n255\n"
    pgm = b"P5 8 4 255 "
    ifd = (
        struct.pack("<H", 2)
        + struct.pack("<HHI", 256, 3, 1) + struct.pack("<H", 640) + b"\x00\x00"
        + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 480)
        + struct.pack("<I", 0)
    )
    tiff = b"II*\x00" + struct.pack("<I", 8) + ifd
    webp_bits = 99 | (49 << 14)  # VP8L stores (w-1, h-1) in 14-bit fields
    webp = (
        b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8L" + b"\x00" * 4
        + b"\x2f" + struct.pack("<I", webp_bits) + b"\x00"
    )
    rows = [
        (1, _tiny_png()), (2, _tiny_jpeg()), (3, gif), (4, bmp),
        (5, ppm), (6, pgm), (7, tiff), (8, webp),
    ]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    feats = {
        r.media_id: r for r in extract_image_features(df).collect()
    }
    assert (feats[1].width, feats[1].height, feats[1].channels) == (320, 240, 4)
    assert (feats[2].width, feats[2].height, feats[2].channels) == (320, 240, 3)
    assert (feats[3].width, feats[3].height) == (100, 50)
    assert (feats[4].width, feats[4].height, feats[4].channels) == (64, 32, 3)
    assert (feats[5].width, feats[5].height, feats[5].channels) == (320, 240, 3)
    assert (feats[6].width, feats[6].height, feats[6].channels) == (8, 4, 1)
    assert (feats[7].width, feats[7].height, feats[7].channels) == (640, 480, 3)
    assert (feats[8].width, feats[8].height, feats[8].channels) == (100, 50, 4)

    wav_df = spark.createDataFrame([(10, _tiny_wav())], "media_id long, data binary")
    audio = extract_audio_features(wav_df).collect()[0]
    assert audio.sample_rate == 44100
    assert audio.n_samples == 44100
    assert audio.duration_s == pytest.approx(1.0)

    # codec-requiring bytes fail loudly, not silently
    bad = spark.createDataFrame([(9, b"\x00\x01junk")], "media_id long, data binary")
    with pytest.raises(Exception, match="codec library"):
        extract_image_features(bad).collect()
    with pytest.raises(Exception, match="codec library"):
        extract_audio_features(bad).collect()


def test_media_table_classification(spark):
    """media_table_from_entries: magic-byte kind classification, with
    RIFF disambiguated by its format tag (WAVE/AVI/WEBP)."""
    from archive_to_parquet_spark.operators.multimodal import (
        media_table_from_entries,
    )

    blobs = {
        "png": _tiny_png(),
        "jpeg": _tiny_jpeg(),
        "wav": _tiny_wav(),
        "avi": b"RIFF\x00\x00\x00\x00AVI LIST",
        "webp": b"RIFF\x00\x00\x00\x00WEBPVP8 ",
        "mp4": b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00",
        "text": b"hello plain text",
    }
    rows = [("src", name, blob) for name, blob in blobs.items()]
    entries = spark.createDataFrame(rows, "source string, path string, content binary")
    kinds = {r.meta["path"]: r.kind for r in media_table_from_entries(entries).collect()}
    assert kinds == {
        "png": "image", "jpeg": "image", "wav": "audio", "avi": "video",
        "webp": "image", "mp4": "video", "text": "unknown",
    }


def test_connected_components_star_known_graphs(spark):
    """The components kernel agrees with the reference result on known
    graphs — star-shaped, chained and mixed — including the deep chain
    that is plain label propagation's worst case."""
    from archive_to_parquet_spark.operators.dedup import connected_components
    from tests.test_connected_components import min_reachable

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # 40-node chain (diameter 39)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(chain).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 41

    # a mixed random-ish graph against the union-find reference
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    g = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(g).collect()}
    assert got == min_reachable(edges)


def test_gopher_quality_multiline_signals(spark):
    """Line-level Gopher signals on real multi-line text (the synthetic
    documents corpus is single-line, so the oracle check only exercises
    the degenerate case — dup/bullet/ellipsis logic is pinned here)."""
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.functions.text import gopher_quality_cols

    text = (
        "dup line\ndup line\nunique one\ndup line\n"
        "- bullet item\nends with...\nGood sentence."
    )
    good = "the cat sat and that have with be to of more words here " * 5
    df = spark.createDataFrame(
        [(1, text), (2, good), (3, ""), (4, "# # # # #")],
        "id long, text string",
    )
    q = gopher_quality_cols("text")
    out = {
        r.id: r.asDict()
        for r in df.select(
            "id", *[v.alias(k) for k, v in q.items()]
        ).collect()
    }
    r = out[1]
    assert r["n_lines"] == 7
    assert abs(r["frac_dup_lines"] - 3 / 7) < 1e-9
    # dup chars = 3 * len('dup line') = 24; line chars total = 73
    assert abs(r["frac_chars_dup_lines"] - 24 / 73) < 1e-9
    assert abs(r["frac_bullet_lines"] - 1 / 7) < 1e-9
    assert abs(r["frac_ellipsis_lines"] - 1 / 7) < 1e-9
    assert abs(r["frac_lines_end_punct"] - 2 / 7) < 1e-9
    assert not r["gopher_pass"]
    # clean repeated-stopword doc: passes every gate
    assert out[2]["gopher_pass"]
    assert out[2]["req_stopwords"] == 8
    # empty + symbol-only docs fail closed, no div-by-zero
    assert not out[3]["gopher_pass"]
    assert out[4]["symbol_word_ratio"] == 1.0
    assert not out[4]["gopher_pass"]


def test_pii_detect_and_redact(spark):
    from archive_to_parquet_spark.functions.text import (
        pii_count_cols,
        redact_pii_col,
    )

    rows = [
        (1, "mail a.b+c_1@sub.example.org now"),
        (2, "call 555-123-4567 or visit 192.168.1.254 today"),
        (3, "no pii here, just 1.2 numbers and v1.2.3.4.5 garbage"),
        (4, "edge 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    c = pii_count_cols("text")
    out = {
        r.id: r.asDict()
        for r in df.select(
            "id", *[v.alias(k) for k, v in c.items()],
            redact_pii_col("text").alias("red"),
        ).collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["red"] == "mail <EMAIL> now"
    assert out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert out[2]["red"] == "call <PHONE> or visit <IP> today"
    # 1.2.3.4.5 contains a dotted-quad prefix; \b boundaries still match it
    assert out[3]["n_email"] == 0 and out[3]["n_phone"] == 0
    assert out[4]["red"] == "edge <IP>"


def test_decontaminate_flags_overlapping_docs(spark):
    from archive_to_parquet_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words in this row entirely"),
            (3, "prefix text then the quick brown fox appears here"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_overlap_grams, r.contaminated)
        for r in decontaminate(train, bench, shingle_n=4).collect()
    }
    # 'the quick brown fox' is the shared 4-gram for docs 1 and 3
    assert out[1][1] == 1 and out[1][0] >= 1
    assert out[3][1] == 1
    assert out[2] == (0, 0)
    assert out[4] == (0, 0)


def _make_flac(rate=44100, total=44100 * 3, channels=2, bps=16):
    import struct

    bits = (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total
    streaminfo = (
        struct.pack(">HH", 4096, 4096) + b"\x00" * 6 + struct.pack(">Q", bits)
        + b"\x00" * 16  # md5 of raw audio
    )
    return b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo


def _make_mp3(rate_idx=0, bitrate_idx=9, n_frames=10):
    # MPEG1 Layer III header: sync=0x7FF, version=3 (MPEG1), layer=1 (III)
    hdr = bytes([0xFF, 0xFB, (bitrate_idx << 4) | (rate_idx << 2), 0x00])
    frame = hdr + b"\x00" * 413  # 128 kbps @ 44100: frame ≈ 417 bytes
    return b"ID3" + b"\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10 + frame * n_frames


def _make_mp4(timescale=1000, duration=5500):
    import struct

    mvhd_body = b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", timescale, duration) + b"\x00" * 80
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def _make_avi(usec_per_frame=40000, n_frames=250, width=640, height=480):
    import struct

    avih_body = struct.pack("<IIIII", usec_per_frame, 0, 0, 0, n_frames)
    avih_body += b"\x00" * 12 + struct.pack("<II", width, height) + b"\x00" * 16
    avih = b"avih" + struct.pack("<I", len(avih_body)) + avih_body
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl


def test_flac_mp3_header_decoders():
    from archive_to_parquet_spark.operators.multimodal import (
        parse_flac_header,
        parse_mp3_header,
    )

    rate, total, dur = parse_flac_header(_make_flac(rate=48000, total=96000))
    assert (rate, total) == (48000, 96000) and abs(dur - 2.0) < 1e-9

    mp3 = _make_mp3()
    rate, n, dur = parse_mp3_header(mp3)
    assert rate == 44100
    # CBR estimate: 4170 audio bytes at 128 kbps ≈ 0.26 s
    assert abs(dur - (len(mp3) - 20) * 8 / 128000) < 1e-6
    assert parse_flac_header(b"fLaC") is None
    assert parse_mp3_header(b"\x00" * 100) is None


def test_mp3_xing_and_vbri_exact_duration():
    from archive_to_parquet_spark.operators.multimodal import (
        parse_mp3_header,
    )

    # Xing, MPEG1 mono (side info 17): exact frames × 1152
    hdr_mono = bytes([0xFF, 0xFB, 0x94, 0xC0])  # 48000 Hz, mode 3
    xing = hdr_mono + b"\x00" * 17 + b"Xing" + b"\x00\x00\x00\x01" + (300).to_bytes(4, "big")
    rate, n, dur = parse_mp3_header(xing)
    assert (rate, n) == (48000, 300 * 1152)
    assert abs(dur - 300 * 1152 / 48000) < 1e-12
    # "Info" tag (LAME CBR) carries the same frame-count layout
    info = xing.replace(b"Xing", b"Info")
    assert parse_mp3_header(info)[1] == 300 * 1152
    # Xing, MPEG1 stereo (side info 32), behind an ID3v2 tag
    hdr_st = bytes([0xFF, 0xFB, 0x90, 0x00])  # 44100 Hz, stereo
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    xing_st = id3 + hdr_st + b"\x00" * 32 + b"Xing" + b"\x00\x00\x00\x01" + (77).to_bytes(4, "big")
    assert parse_mp3_header(xing_st) == (44100, 77 * 1152, 77 * 1152 / 44100)
    # frames flag clear -> frame count ignored, CBR estimate instead
    noflag = hdr_mono + b"\x00" * 17 + b"Xing" + b"\x00\x00\x00\x00" + (300).to_bytes(4, "big")
    assert parse_mp3_header(noflag)[1] != 300 * 1152
    # VBRI (fixed 32-byte offset): frames at tag+14
    vbri = (
        hdr_st + b"\x00" * 32 + b"VBRI"
        + (1).to_bytes(2, "big") + b"\x00\x00" + b"\x00\x00"   # ver/delay/quality
        + (99999).to_bytes(4, "big") + (123).to_bytes(4, "big")  # bytes, frames
    )
    assert parse_mp3_header(vbri) == (44100, 123 * 1152, 123 * 1152 / 44100)
    # MPEG2 (576 samples/frame), mono side info 9
    hdr_v2 = bytes([0xFF, 0xF3, 0x94, 0xC0])  # MPEG2, 24000 Hz
    x2 = hdr_v2 + b"\x00" * 9 + b"Xing" + b"\x00\x00\x00\x01" + (40).to_bytes(4, "big")
    assert parse_mp3_header(x2) == (24000, 40 * 576, 40 * 576 / 24000)
    # truncated Xing payload degrades to the CBR estimate, never raises
    trunc = (hdr_mono + b"\x00" * 17 + b"Xing" + b"\x00\x00\x00\x01")[:30]
    out = parse_mp3_header(trunc)
    assert out is not None and out[0] == 48000


def test_mp3_cbr_fallback_contract_on_midstream_bitrate_change():
    """The CBR fallback's DOCUMENTED estimate semantics (r10 verdict
    ask #6): with no Xing/Info/VBRI header, duration is
    ``remaining bytes / byte-rate of the FIRST frame header`` — a
    mid-stream bitrate change (VBR encoded without a VBR header) does
    NOT re-derive the rate; the estimate knowingly follows the first
    frame. This pins the fallback's contract the way the Xing/VBRI
    tests pin the exact tiers."""
    from archive_to_parquet_spark.operators.multimodal import (
        parse_mp3_header,
    )

    # frame 1: MPEG1 L3, 44100 Hz, 128 kbps (bitrate_idx 9)
    f1 = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0x00]) + b"\x00" * 413
    # frames 2..4: same stream continues at 320 kbps (bitrate_idx 14)
    f320 = bytes([0xFF, 0xFB, (14 << 4) | (0 << 2), 0x00]) + b"\x00" * 1040
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    data = id3 + f1 + f320 * 3

    rate, n, dur = parse_mp3_header(data)
    assert rate == 44100
    audio_bytes = len(data) - len(id3)  # estimate starts at first sync
    assert abs(dur - audio_bytes * 8 / 128000) < 1e-9
    assert n == int(dur * rate)
    # flipping WHICH frame comes first flips the whole estimate — the
    # first header is authoritative, by contract
    data_320_first = id3 + f320 + f1 * 3
    _, _, dur320 = parse_mp3_header(data_320_first)
    assert abs(dur320 - (len(data_320_first) - len(id3)) * 8 / 320000) < 1e-9


def _make_adts(rate_idx=4, n_frames=4, rdb=0, with_crc=False):
    """Header-only ADTS/AAC frames (ISO 13818-7 §6.2): AAC LC, mono,
    fullness 0x7FF, ``rdb`` extra raw-data-blocks per frame."""
    hlen = 9 if with_crc else 7
    frame = bytes(
        [
            0xFF,
            0xF0 | (0 if with_crc else 1),
            0x40 | (rate_idx << 2),
            0x40 | (hlen >> 11),
            (hlen >> 3) & 0xFF,
            ((hlen & 0x7) << 5) | 0x1F,
            0xFC | rdb,
        ]
    ) + (b"\x00\x00" if with_crc else b"")
    return frame * n_frames


def _make_ogg_vorbis(rate=12000, channels=2, total=1500):
    import struct

    p0 = (
        b"OggS" + b"\x00\x02" + b"\x00" * 8  # BOS, granule 0
        + b"\x01\x00\x00\x00" + b"\x00" * 8  # serial, seq, crc
        + b"\x01\x1e"  # one 30-byte segment
        + b"\x01vorbis" + b"\x00" * 4  # id header, version 0
        + bytes([channels]) + struct.pack("<I", rate)
        + b"\x00" * 12 + b"\xb8\x01"  # bitrates, blocksizes, framing
    )
    p1 = (
        b"OggS" + b"\x00\x04" + struct.pack("<Q", total)  # EOS, granule
        + b"\x01\x00\x00\x00" + b"\x01\x00\x00\x00" + b"\x00" * 4
        + b"\x01\x01\x00"
    )
    return p0 + p1


def _make_ogg_opus(channels=2, pre_skip=312, n_samples=9600):
    import struct

    p0 = (
        b"OggS" + b"\x00\x02" + b"\x00" * 8  # BOS, granule 0
        + b"\x02\x00\x00\x00" + b"\x00" * 8  # serial, seq, crc
        + b"\x01\x13"  # one 19-byte segment
        + b"OpusHead" + b"\x01"  # id header, version 1
        + bytes([channels]) + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48000)  # informational input rate
        + b"\x00\x00" + b"\x00"  # output gain, mapping family 0
    )
    p1 = (
        b"OggS" + b"\x00\x04" + struct.pack("<Q", pre_skip + n_samples)
        + b"\x02\x00\x00\x00" + b"\x01\x00\x00\x00" + b"\x00" * 4
        + b"\x01\x01\x00"
    )
    return p0 + p1


def _make_m4a(rate=32000, n=64000, channels=2, timescale=None, v1=False):
    import struct

    ts = timescale or rate
    ftyp = struct.pack(">I", 16) + b"ftypM4A " + b"\x00" * 4
    if v1:
        mdhd = (
            struct.pack(">I", 44) + b"mdhd" + b"\x01\x00\x00\x00"
            + b"\x00" * 16 + struct.pack(">I", ts) + struct.pack(">Q", n)
            + b"\x00" * 4
        )
    else:
        mdhd = (
            struct.pack(">I", 32) + b"mdhd" + b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">I", ts) + struct.pack(">I", n) + b"\x00" * 4
        )
    hdlr = (
        struct.pack(">I", 33) + b"hdlr" + b"\x00" * 8 + b"soun"
        + b"\x00" * 13
    )
    entry = (
        struct.pack(">I", 36) + b"mp4a" + b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 8 + struct.pack(">H", channels) + struct.pack(">H", 16)
        + b"\x00" * 4 + struct.pack(">I", rate << 16)
    )
    stsd = (
        struct.pack(">I", 16 + len(entry)) + b"stsd" + b"\x00" * 4
        + struct.pack(">I", 1) + entry
    )
    stbl = struct.pack(">I", 8 + len(stsd)) + b"stbl" + stsd
    minf = struct.pack(">I", 8 + len(stbl)) + b"minf" + stbl
    mdia_c = mdhd + hdlr + minf
    mdia = struct.pack(">I", 8 + len(mdia_c)) + b"mdia" + mdia_c
    trak = struct.pack(">I", 8 + len(mdia)) + b"trak" + mdia
    moov = struct.pack(">I", 8 + len(trak)) + b"moov" + trak
    return ftyp + moov


def test_mp4_audio_header_decoder():
    """M4A/MP4 audio joins the header tier (ISO 14496-12 box walk):
    rate/channels from the stsd sample entry, length from mdhd ticks;
    a video-only MP4 and malformed bytes degrade to None."""
    from archive_to_parquet_spark.operators.multimodal import (
        parse_mp4_audio_header,
    )

    assert parse_mp4_audio_header(_make_m4a()) == (32000, 64000, 2.0)
    # 64-bit mdhd (version 1)
    rate, n, dur = parse_mp4_audio_header(_make_m4a(24000, 12000, v1=True))
    assert (rate, n) == (24000, 12000) and abs(dur - 0.5) < 1e-12
    # mdhd timescale != sample rate: ticks convert exactly
    rate, n, _ = parse_mp4_audio_header(
        _make_m4a(48000, 96000, timescale=24000)
    )
    assert (rate, n) == (48000, 192000)
    # video-only MP4 (mvhd, no soun track) is not audio
    assert parse_mp4_audio_header(_make_mp4()) is None
    assert parse_mp4_audio_header(_make_m4a()[:40]) is None  # truncated
    assert parse_mp4_audio_header(b"junk bytes") is None


def test_ogg_opus_header_decoder():
    """Ogg/Opus (RFC 7845) joins the header tier: granules count 48 kHz
    samples whatever the input rate, PCM length = last granule −
    pre-skip; structurally-off input degrades to None."""
    from archive_to_parquet_spark.operators.multimodal import (
        parse_ogg_opus_header,
        parse_ogg_vorbis_header,
    )

    rate, n, dur = parse_ogg_opus_header(_make_ogg_opus(n_samples=9600))
    assert (rate, n) == (48000, 9600) and abs(dur - 0.2) < 1e-12
    # the pre-skip is NOT part of the PCM length
    rate, n, _ = parse_ogg_opus_header(
        _make_ogg_opus(pre_skip=1000, n_samples=4800)
    )
    assert n == 4800
    # Vorbis parser rejects an Opus stream and vice versa
    assert parse_ogg_vorbis_header(_make_ogg_opus()) is None
    assert parse_ogg_opus_header(_make_ogg_vorbis()) is None
    # malformed: wrong version, zero channels, granule <= pre-skip
    bad = bytearray(_make_ogg_opus())
    bad[36] = 2  # version byte inside OpusHead
    assert parse_ogg_opus_header(bytes(bad)) is None
    assert parse_ogg_opus_header(_make_ogg_opus(channels=0)) is None
    assert parse_ogg_opus_header(
        _make_ogg_opus(pre_skip=312, n_samples=0)
    ) is None
    assert parse_ogg_opus_header(b"OggS") is None
    assert parse_ogg_opus_header(b"") is None


def test_adts_ogg_header_decoders():
    """Header-tier Ogg/Vorbis + ADTS/AAC metadata (r7 verdict stretch
    #8): rate/channels/duration only — no PCM claim, so no oracle risk;
    anything structurally off degrades to None."""
    from archive_to_parquet_spark.operators.multimodal import (
        parse_adts_header,
        parse_ogg_vorbis_header,
    )

    rate, n, dur = parse_adts_header(_make_adts(rate_idx=4, n_frames=4))
    assert (rate, n) == (44100, 4096) and abs(dur - 4096 / 44100) < 1e-12
    # CRC-protected frames are 9 bytes; raw-data-block count multiplies
    rate, n, _ = parse_adts_header(
        _make_adts(rate_idx=11, n_frames=2, rdb=1, with_crc=True)
    )
    assert (rate, n) == (8000, 2 * 2 * 1024)

    rate, n, dur = parse_ogg_vorbis_header(_make_ogg_vorbis())
    assert (rate, n) == (12000, 1500) and abs(dur - 0.125) < 1e-12

    # malformed inputs degrade to None, never raise
    assert parse_adts_header(b"") is None
    assert parse_adts_header(b"\xff\xf1\x00") is None
    assert parse_adts_header(_make_adts() + b"x") is None  # trailing junk
    assert parse_adts_header(_make_adts(rate_idx=13)) is None  # reserved
    assert parse_ogg_vorbis_header(b"OggS") is None
    assert parse_ogg_vorbis_header(b"\x00" * 64) is None
    ogg = bytearray(_make_ogg_vorbis())
    ogg[28:35] = b"\x03vorbis"  # not the identification header
    assert parse_ogg_vorbis_header(bytes(ogg)) is None
    # rate-change mid-stream is not a CBR ADTS file
    assert (
        parse_adts_header(_make_adts(rate_idx=4) + _make_adts(rate_idx=5))
        is None
    )


def test_video_container_metadata():
    from archive_to_parquet_spark.operators.multimodal import parse_video_header

    mp4 = parse_video_header(_make_mp4(timescale=1000, duration=5500))
    assert abs(mp4["duration_s"] - 5.5) < 1e-9
    assert mp4["width"] is None  # mvhd carries no dims

    avi = parse_video_header(_make_avi())
    assert avi == {
        "duration_s": 10.0, "n_frames": 250, "width": 640, "height": 480,
    }
    assert parse_video_header(b"nonsense bytes here") is None


def _make_webm(
    scale: int = 1_000_000,
    width: int = 640,
    height: int = 480,
    dur: float = 1000.0,
    dur_bytes: int = 8,
    with_scale: bool = True,
) -> bytes:
    import struct

    ebml = bytes.fromhex("1A45DFA3") + b"\x87" + bytes.fromhex("4282847765626D")
    info_c = b""
    if with_scale:
        info_c += bytes.fromhex("2AD7B184") + scale.to_bytes(4, "big")
    pack = ">d" if dur_bytes == 8 else ">f"
    info_c += b"\x44\x89" + bytes([0x80 | dur_bytes]) + struct.pack(pack, dur)
    info = bytes.fromhex("1549A966") + bytes([0x80 | len(info_c)]) + info_c
    video_c = (
        b"\xB0\x82" + width.to_bytes(2, "big")
        + b"\xBA\x82" + height.to_bytes(2, "big")
    )
    video = b"\xE0" + bytes([0x80 | len(video_c)]) + video_c
    te_c = b"\xD7\x81\x01" + b"\x83\x81\x01" + video
    te = b"\xAE" + bytes([0x80 | len(te_c)]) + te_c
    tracks = bytes.fromhex("1654AE6B") + bytes([0x80 | len(te)]) + te
    seg_c = info + tracks
    seg = bytes.fromhex("18538067") + bytes([0x80 | len(seg_c)]) + seg_c
    return ebml + seg


def test_matroska_container_metadata():
    from archive_to_parquet_spark.operators.multimodal import (
        parse_matroska_header,
        parse_video_header,
    )

    # routed from parse_video_header by the EBML magic
    got = parse_video_header(_make_webm(scale=1_234_000, width=300, height=200))
    assert got == {
        "duration_s": 1.234, "n_frames": None, "width": 300, "height": 200,
    }
    # TimestampScale absent → 1,000,000 ns/tick default
    got = parse_matroska_header(_make_webm(with_scale=False, dur=2500.0))
    assert abs(got["duration_s"] - 2.5) < 1e-12
    # 4-byte float Duration is also legal
    got = parse_matroska_header(_make_webm(dur=2048.0, dur_bytes=4))
    assert abs(got["duration_s"] - 2.048) < 1e-9
    # unknown-size Segment (streamed write) extends to end of buffer
    b = bytearray(_make_webm(width=64, height=48))
    i = bytes(b).find(bytes.fromhex("18538067")) + 4
    b[i] = 0xFF
    got = parse_matroska_header(bytes(b))
    assert got["width"] == 64 and got["height"] == 48
    # malformed inputs degrade to None, never raise
    assert parse_matroska_header(b"") is None
    assert parse_matroska_header(b"\x1a\x45\xdf\xa3") is None  # truncated
    assert parse_matroska_header(b"junk bytes") is None
    # an EBML stream with nothing Matroska-shaped inside
    ebml_only = (
        bytes.fromhex("1A45DFA3") + b"\x87" + bytes.fromhex("4282847765626D")
    )
    assert parse_matroska_header(ebml_only) is None
    # a child element whose declared size overruns its parent is dropped
    b = bytearray(_make_webm())
    b[-10] = 0xFF  # corrupt a size vint inside Tracks
    assert parse_matroska_header(bytes(b)) is not None  # Info still parsed


def test_real_audio_video_decode_via_spark(spark):
    from archive_to_parquet_spark.operators.multimodal import (
        extract_audio_features,
        extract_video_metadata,
    )

    audio = spark.createDataFrame(
        [(1, bytearray(_make_flac(rate=48000, total=96000))),
         (2, bytearray(_make_mp3()))],
        "media_id long, data binary",
    )
    rows = {r.media_id: r for r in extract_audio_features(audio).collect()}
    assert rows[1].sample_rate == 48000 and rows[1].n_samples == 96000
    assert rows[2].sample_rate == 44100
    assert len(rows[1].mfcc) == 13

    video = spark.createDataFrame(
        [(1, bytearray(_make_mp4())), (2, bytearray(_make_avi())),
         (3, bytearray(_make_webm(scale=2_000_000, width=320, height=240)))],
        "media_id long, data binary",
    )
    out = {r.media_id: r for r in extract_video_metadata(video).collect()}
    assert abs(out[1].duration_s - 5.5) < 1e-9 and out[1].width is None
    assert out[2].n_frames == 250 and out[2].width == 640
    assert abs(out[3].duration_s - 2.0) < 1e-12 and out[3].width == 320
    assert out[3].n_frames is None  # Matroska Info carries no frame count


def test_quantize_int8_edges(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.functions.vectors import quantize_int8_cols

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 2.0]),     # scale = 2/127
            (2, [0.0, 0.0]),                 # zero vector
            (3, [127.0]),                    # max maps exactly to 127
        ],
        "id long, embedding array<float>",
    )
    qz = quantize_int8_cols("embedding")
    out = {
        r.id: (r.scale, r.q)
        for r in df.withColumn("scale", qz["scale"])
        .select("id", "scale", qz["q"].alias("q"))
        .collect()
    }
    assert out[1][1] == [64, -127, 32, 127]  # round(63.5)=64 via floor(x+.5)
    assert out[2] == (0.0, [0, 0])
    assert out[3][1] == [127]


def test_quantize_int8_folds_the_scale_once_per_vector(spark):
    """The max-abs fold over the array is the scale's alone: ``q`` reads
    the projected scale column, so the fold does not sit in ``q``'s
    per-element lambda (O(d²) work per vector), neither as written nor
    after the optimizer merges the projections."""
    from archive_to_parquet_spark.functions.vectors import quantize_int8_cols

    qz = quantize_int8_cols("embedding")
    assert "aggregate" in str(qz["scale"])
    assert "aggregate" not in str(qz["q"])
    df = spark.createDataFrame([(1, [1.0, -2.0])], "id long, embedding array<float>")
    plan = (
        df.withColumn("scale", qz["scale"])
        .select("id", qz["q"].alias("q"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    (q_line,) = [ln for ln in plan.splitlines() if " AS q#" in ln]
    assert "aggregate" not in q_line, plan


def test_crossdoc_span_stats(spark):
    from archive_to_parquet_spark.operators.dedup import crossdoc_span_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta shared tail one two"),
            (2, "alpha beta gamma delta different ending here now"),
            (3, "totally unrelated content in this document row"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in crossdoc_span_stats(df, shingle_n=4, min_df=2).collect()
    }
    # docs 1/2 share the 4-gram 'alpha beta gamma delta'; doc 3 shares none
    assert out[1]["n_shared_grams"] == 1
    assert out[2]["n_shared_grams"] == 1
    assert out[3]["n_shared_grams"] == 0
    assert out[1]["n_grams"] == 5  # 8 words -> 5 distinct 4-grams
    assert abs(out[1]["frac_shared_grams"] - 0.2) < 1e-9


def test_dedup_chunk_spans(spark):
    from archive_to_parquet_spark.operators.dedup import dedup_chunk_spans

    df = spark.createDataFrame(
        [
            # docs 1 and 2 start with the same aligned 3-word chunk;
            # doc 1 (lower id) keeps it, doc 2 loses it
            (1, "one two three tail a"),
            (2, "one two three other suffix here"),
            # doc 3 repeats a chunk INSIDE itself: first position wins
            (3, "dup dup dup dup dup dup extra"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in dedup_chunk_spans(df, chunk_words=3).collect()
    }
    assert out[1] == {
        "doc_id": 1, "n_chunks": 2, "n_kept": 2,
        "text_dedup": "one two three tail a",
    }
    # doc 2: chunk "one two three" lost to doc 1, second chunk survives
    assert out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "other suffix here"
    # doc 3: "dup dup dup" at idx 0 beats the identical chunk at idx 1
    assert out[3]["n_chunks"] == 3
    assert out[3]["n_kept"] == 2
    assert out[3]["text_dedup"] == "dup dup dup extra"


def test_web_url_functions(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.functions.web import (
        domain_blocked,
        registrable_domain,
        url_host,
        url_query_param,
    )

    df = spark.createDataFrame(
        [
            (1, "https://a.b.example.com/p/q?lang=en&x=1"),
            (2, "http://example.org/root"),
            (3, "https://spam.example.net/z?x=2"),
        ],
        "id long, url string",
    )
    u = F.col("url")
    out = {
        r.id: r.asDict()
        for r in df.select(
            "id",
            url_host(u).alias("host"),
            url_query_param(u, "lang").alias("lang"),
        )
        .withColumn("domain", registrable_domain(F.col("host")))
        .withColumn(
            "blocked",
            domain_blocked(F.col("domain"), ("example.net",)),
        )
        .collect()
    }
    assert out[1]["host"] == "a.b.example.com"
    assert out[1]["domain"] == "example.com"  # deep subdomain stripped
    assert out[1]["lang"] == "en"
    assert out[2]["domain"] == "example.org"  # 2-label host unchanged
    assert out[2]["lang"] is None
    assert out[3]["blocked"] is True and out[1]["blocked"] is False


def test_semantic_dedup_drops_planted_twin(spark):
    from archive_to_parquet_spark.operators.dedup import semantic_dedup

    # two well-separated clusters around axis vectors; id 30 is an exact
    # twin of id 1 (same cluster, cosine 1.0); id 3 is its own direction
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.8, 0.6, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (30, [1.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "cid long, centroid array<float>",
    )
    out = {
        r.vec_id: (r.bucket, r.dropped)
        for r in semantic_dedup(corpus, cent, threshold=0.99).collect()
    }
    assert out[1] == (100, 0)      # first occurrence kept
    assert out[30] == (100, 1)     # identical twin in same cluster dropped
    assert out[2] == (100, 0)      # near but below 0.99 cosine: kept
    assert out[3] == (200, 0)      # other cluster untouched


def test_dedup_chunk_spans_empty_and_whitespace_docs(spark):
    from archive_to_parquet_spark.operators.dedup import dedup_chunk_spans

    df = spark.createDataFrame(
        [(1, "one two three"), (2, ""), (3, "   \t  ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in dedup_chunk_spans(df, chunk_words=3).collect()
    }
    assert out[1]["text_dedup"] == "one two three"
    for empty_id in (2, 3):
        assert out[empty_id]["n_chunks"] == 0
        assert out[empty_id]["n_kept"] == 0
        assert out[empty_id]["text_dedup"] == ""


def test_dedup_chunk_spans_is_identity_without_duplicates(spark):
    """Reassembly invariant: on a corpus with no repeated aligned chunk,
    every document round-trips to its whitespace-normalized self."""
    from archive_to_parquet_spark.operators.dedup import dedup_chunk_spans

    # all words globally unique -> no chunk can repeat
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)))
        for i, n in enumerate([1, 2, 3, 5, 7, 11, 13])
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_chunk_spans(df, chunk_words=3).collect()}
    for i, (doc_id, text) in enumerate(rows):
        assert out[doc_id].text_dedup == text
        assert out[doc_id].n_kept == out[doc_id].n_chunks


def test_remove_duplicated_substrings_unaligned(spark):
    """ExactSubstr-style removal catches a copied passage at an
    UNALIGNED offset (where chunk-aligned dedup would miss it), merges
    overlapping windows into one maximal span, and keeps the globally
    first occurrence intact."""
    from archive_to_parquet_spark.operators.dedup import (
        remove_duplicated_substrings,
    )

    shared = "w1 w2 w3 w4 w5"  # 5 words, > one k=4 window → 2 windows
    df = spark.createDataFrame(
        [
            (1, f"{shared} tail1 tail2"),
            # same passage shifted by THREE words — never chunk-aligned
            (2, f"pre1 pre2 pre3 {shared} post1"),
            (3, "no repeats in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in remove_duplicated_substrings(df, window_words=4).collect()
    }
    # doc 1 holds the first occurrence of both duplicated windows
    assert out[1] == {
        "doc_id": 1, "n_words": 7, "removed_words": 0, "n_spans": 0,
        "text_clean": "w1 w2 w3 w4 w5 tail1 tail2",
    }
    # doc 2 loses the full 5-word passage as ONE merged span
    # (windows at pos 3 and 4 overlap → union [3, 8))
    assert out[2] == {
        "doc_id": 2, "n_words": 9, "removed_words": 5, "n_spans": 1,
        "text_clean": "pre1 pre2 pre3 post1",
    }
    assert out[3]["removed_words"] == 0
    assert out[3]["text_clean"] == "no repeats in this document at all"


def test_remove_duplicated_substrings_intra_doc_and_short(spark):
    """A window repeated INSIDE one doc keeps only its first position;
    docs shorter than the window and empty docs pass through."""
    from archive_to_parquet_spark.operators.dedup import (
        remove_duplicated_substrings,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c X a b c Y"),   # "a b c" repeats at pos 0 and 4
            (2, "too short"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in remove_duplicated_substrings(df, window_words=3).collect()
    }
    assert out[1] == {
        "doc_id": 1, "n_words": 8, "removed_words": 3, "n_spans": 1,
        "text_clean": "a b c X Y",
    }
    assert out[2] == {
        "doc_id": 2, "n_words": 2, "removed_words": 0, "n_spans": 0,
        "text_clean": "too short",
    }
    assert out[3] == {
        "doc_id": 3, "n_words": 0, "removed_words": 0, "n_spans": 0,
        "text_clean": "",
    }


def test_remove_duplicated_substrings_disjoint_spans(spark):
    """Two separate copied passages in one doc yield two disjoint
    spans and the rebuild stitches the three surviving gaps."""
    from archive_to_parquet_spark.operators.dedup import (
        remove_duplicated_substrings,
    )

    df = spark.createDataFrame(
        [
            (1, "p1 p2 p3 q1 q2 q3"),
            (2, "p1 p2 p3 mid1 mid2 q1 q2 q3 end1"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in remove_duplicated_substrings(df, window_words=3).collect()
    }
    assert out[2] == {
        "doc_id": 2, "n_words": 9, "removed_words": 6, "n_spans": 2,
        "text_clean": "mid1 mid2 end1",
    }
    # the keeper doc is untouched
    assert out[1]["text_clean"] == "p1 p2 p3 q1 q2 q3"
    assert out[1]["removed_words"] == 0


def test_bloom_filter_roundtrip_and_merge(spark, tmp_path):
    """Bloom tier: persisted bit set answers membership with no false
    negatives; two batches' filters merge by UNION DISTINCT."""
    from archive_to_parquet_spark.operators.dedup import (
        bloom_filter_bits,
        bloom_probe,
    )

    m, k = 4096, 3
    batch1 = spark.createDataFrame([(i, f"doc {i}") for i in range(50)], ["id", "text"])
    batch2 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50, 100)], ["id", "text"]
    )
    path = str(tmp_path / "bloom_bits")
    bloom_filter_bits(batch1, "text", num_bits=m, num_hashes=k).write.parquet(path)
    # merge = union distinct of positions (bitwise OR of the filters)
    merged = (
        spark.read.parquet(path)
        .unionByName(bloom_filter_bits(batch2, "text", num_bits=m, num_hashes=k))
        .distinct()
    )
    probes = spark.createDataFrame(
        [(1, "doc 7"), (2, "doc 99"), (3, "never indexed wholly novel")],
        ["id", "text"],
    )
    got = {
        r.id: r.bloom_hit
        for r in bloom_probe(
            probes, merged, "id", "text", num_bits=m, num_hashes=k
        ).collect()
    }
    # indexed keys MUST hit (no false negatives, both batches)
    assert got[1] is True and got[2] is True
    # the novel key may only hit as a bloom FP — at 100 keys in 4096
    # bits the FP chance is ~2e-5; treat a hit as a real failure
    assert got[3] is False


def test_bloom_probe_plan_broadcasts_bits(spark):
    from archive_to_parquet_spark.operators.dedup import (
        bloom_filter_bits,
        bloom_probe,
    )

    df = spark.createDataFrame([(1, "a")], ["id", "text"])
    bits = bloom_filter_bits(df, "text", num_bits=256, num_hashes=2)
    plan = (
        bloom_probe(df, bits, "id", "text", num_bits=256, num_hashes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_bloom_filter_rejects_more_hashes_than_md5_slices(spark):
    """md5 yields 4 non-overlapping 8-hex slices; a fifth position has
    no slice to come from. The check must survive ``python -O``."""
    from archive_to_parquet_spark.operators.dedup import bloom_filter_bits

    df = spark.createDataFrame([(1, "a")], ["id", "text"])
    with pytest.raises(ValueError, match="num_hashes=5"):
        bloom_filter_bits(df, "text", num_bits=256, num_hashes=5)


def test_minhash_band_index_rejects_bands_not_dividing_hashes(spark):
    from archive_to_parquet_spark.operators.dedup import minhash_band_index

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide"):
        minhash_band_index(df, num_hashes=32, bands=5)


def test_triangle_count_known_graphs(spark):
    from archive_to_parquet_spark.operators.graph import triangle_count

    # K4 has exactly 4 triangles; orientation must not double-count
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, ["src", "dst"])
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)

    # a path graph has none; duplicate/reversed/self edges are cleaned
    path = [(1, 2), (2, 3), (3, 4), (2, 1), (3, 3), (2, 3)]
    row2 = triangle_count(spark.createDataFrame(path, ["src", "dst"])).collect()[0]
    assert (row2.n_nodes, row2.n_edges, row2.n_triangles) == (4, 3, 0)

    # two triangles sharing an edge (bowtie-ish): 1-2-3 and 2-3-4
    bow = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    row3 = triangle_count(spark.createDataFrame(bow, ["src", "dst"])).collect()[0]
    assert row3.n_triangles == 2


def test_cdc_chunks_realign_after_insertion(spark):
    """The CDC property: prepending bytes to a shared payload shifts
    every byte position, yet chunks re-align at the first content
    boundary — most of the payload still deduplicates. Fixed-width
    chunking would dedup nothing here."""
    import hashlib
    import random

    from archive_to_parquet_spark.operators.dedup import cdc_chunk_stats

    rng = random.Random(7)
    payload = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(600)
    )
    df = spark.createDataFrame(
        [(1, payload), (2, "XY-" + payload)],  # 3-char insertion
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict() for r in cdc_chunk_stats(df).collect()
    }

    # python reference for doc 1's boundaries (same md5 window rule)
    def bounds(s, w=16, lt="04"):
        return [
            i
            for i in range(w, len(s))
            if hashlib.md5(s[i - w : i].encode()).hexdigest()[:2] < lt
        ]

    b1 = bounds(payload)
    assert b1, "fixture must produce at least one content boundary"
    # doc 2 (larger doc_id loses ties): everything from its first
    # re-aligned boundary onward duplicates doc 1's chunks
    assert out[2]["dup_chunks"] >= len(b1) - 1
    assert out[2]["dup_chars"] >= len(payload) - b1[0] - 16
    assert out[1]["dup_chunks"] == 0  # winner side keeps everything
    assert out[1]["n_chunks"] == len(b1) + 1


def test_cdc_chunks_empty_and_short_docs(spark):
    from archive_to_parquet_spark.operators.dedup import cdc_chunk_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "tiny"), (3, "tiny")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in cdc_chunk_stats(df).collect()}
    assert out[1] == {
        "doc_id": 1, "n_chunks": 0, "dup_chunks": 0, "dup_chars": 0,
    }
    # a sub-window doc is one chunk; the doc_id-2 copy wins the tie
    assert out[2] == {
        "doc_id": 2, "n_chunks": 1, "dup_chunks": 0, "dup_chars": 0,
    }
    assert out[3] == {
        "doc_id": 3, "n_chunks": 1, "dup_chunks": 1, "dup_chars": 4,
    }


def test_cdc_chunks_null_id_docs_match_oracle(spark):
    """A document without an id keeps its all-zero row and, as in the
    oracle's null-last order, never owns a chunk's first occurrence:
    the id-1 copy of a payload it shares is the original, the id-2
    copy the duplicate."""
    import random

    import duckdb

    from archive_to_parquet_spark.operators.dedup import cdc_chunk_stats
    from archive_to_parquet_spark.queries.dedup import DEDUP_CDC_CHUNKS_SQL

    rng = random.Random(3)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    shared = " ".join(rng.choice(words) for _ in range(120))
    rows = [
        (None, "zz " + shared), (1, "qq qq " + shared), (2, shared),
        (None, ""), (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    def key(r):
        return (r[0] is not None, r[0] or 0)

    got = sorted((tuple(r) for r in cdc_chunk_stats(df).collect()), key=key)
    want = sorted(con.execute(DEDUP_CDC_CHUNKS_SQL).fetchall(), key=key)
    assert got == want
    assert got[:2] == [(None, 0, 0, 0)] * 2
    assert got[3][2] > 0  # doc 2 duplicates doc 1, not the null-id doc


def test_gear_cdc_kernel_matches_scalar_reference(spark):
    """The vectorized 64-shift Arrow kernel and the scalar gear
    recurrence cut identical boundaries, so the distributed stats
    equal a pure-Python corpus dedup over the same payloads."""
    import hashlib
    import random

    from archive_to_parquet_spark.operators.dedup import (
        gear_cdc_chunk_stats,
        gear_hash_boundaries,
    )

    rng = random.Random(42)
    shared = bytes(rng.randrange(256) for _ in range(400))
    docs = {}
    for d in range(8):
        pre = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 9)))
        docs[d] = pre + shared + bytes(rng.randrange(256) for _ in range(50))

    # python reference corpus dedup
    occ, rows_by_doc = {}, {}
    for d in sorted(docs):
        data = docs[d]
        cuts = gear_hash_boundaries(data, mask_bits=5)
        starts, ends = [0] + cuts, cuts + [len(data)]
        rows = []
        for idx, (st, en) in enumerate(zip(starts, ends)):
            h = hashlib.md5(data[st:en]).hexdigest()
            rows.append((idx, en - st, h))
            occ.setdefault(h, []).append((d, idx))
        rows_by_doc[d] = rows
    expect = {}
    for d, rows in rows_by_doc.items():
        dup = dupb = 0
        for idx, clen, h in rows:
            if len(occ[h]) > 1 and min(occ[h]) != (d, idx):
                dup += 1
                dupb += clen
        expect[d] = (len(rows), dup, dupb)

    df = spark.createDataFrame(
        [(d, bytearray(b)) for d, b in docs.items()],
        "doc_id long, data binary",
    )
    got = {
        r.doc_id: (r.n_chunks, r.dup_chunks, r.dup_bytes)
        for r in gear_cdc_chunk_stats(df, mask_bits=5).collect()
    }
    assert got == expect
    # the shifted shared region must actually dedup for some loser doc
    assert any(v[2] > 0 for v in got.values())


def test_gear_cdc_empty_and_null_payloads(spark):
    from archive_to_parquet_spark.operators.dedup import gear_cdc_chunk_stats

    df = spark.createDataFrame(
        [(1, bytearray(b"")), (2, None), (3, bytearray(b"xyz"))],
        "doc_id long, data binary",
    )
    out = {
        r.doc_id: r.asDict() for r in gear_cdc_chunk_stats(df).collect()
    }
    for d in (1, 2):
        assert out[d] == {
            "doc_id": d, "n_chunks": 0, "dup_chunks": 0, "dup_bytes": 0,
        }
    assert out[3]["n_chunks"] == 1  # sub-window payload = one chunk


def test_leakage_safe_split_never_straddles(spark):
    out = split_leakage_safe(spark, SF_DIR)
    # every near-dup component lands entirely in ONE split
    straddle = (
        out.groupBy("component")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddle == 0
    # both splits exist and the ratio is in the 80/20 ballpark
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "heldout"}
    frac = counts["train"] / (counts["train"] + counts["heldout"])
    assert 0.6 <= frac <= 0.95


def test_leakage_safe_split_covers_every_document(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = split_leakage_safe(spark, SF_DIR)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


# -- suffix-sort maximal repeats -----------------------------------------


def test_suffix_lcp_real_corpus_invariants(spark):
    rows = dedup_suffix_lcp(spark, SF_DIR).collect()
    assert rows, "sf0.001 corpus contains near-duplicate docs"
    for r in rows:
        assert _SFX_MIN <= r["max_lcp"] <= _SFX_LEN
        assert 0 <= r["n_cross_doc"] <= r["n_repeats"]
        assert _SFX_MIN <= len(r["sample_repeat"]) <= _SFX_LEN


def test_suffix_lcp_planted_repeat_exact_length(spark, tmp_path):
    """A phrase planted in two docs is reported at its EXACT normalized
    length — the maximal-repeat sizing a fixed-window hash cannot do."""
    phrase = "zebra quartz jigsaw plume"  # 25 normalized chars == _SFX_MIN
    assert len(phrase) == _SFX_MIN
    docs = spark.createDataFrame(
        [
            (0, f"alpha bravo charlie {phrase}", "en", "t", 1),
            (1, f"delta echo foxtrot golf {phrase}", "en", "t", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    rows = dedup_suffix_lcp(spark, sf).collect()
    # exactly one adjacency clears the threshold: the planted phrase,
    # attributed to the lag-side (higher doc_id) occurrence
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1
    assert r["n_repeats"] == 1
    assert r["n_cross_doc"] == 1
    assert r["max_lcp"] == _SFX_MIN
    assert r["sample_repeat"] == phrase


def test_suffix_bucketed_delta_semantics(spark):
    from archive_to_parquet_spark.queries.relational import _t

    rows = dedup_suffix_lcp_bucketed(spark, SF_DIR).collect()
    docs = _t(spark, SF_DIR, "documents")
    sfx = _suffix_rows(docs).select("doc_id", "pfx")
    idx = {
        r["pfx"]
        for r in sfx.filter(F.col("doc_id") % 2 == 0)
        .select("pfx")
        .distinct()
        .collect()
    }
    batch = [
        (r["doc_id"], r["pfx"])
        for r in sfx.filter(F.col("doc_id") % 2 == 1).collect()
    ]
    # expected delta: batch prefixes absent from the index, grouped
    expect: dict[str, list[int]] = {}
    for doc_id, pfx in batch:
        if pfx not in idx:
            expect.setdefault(pfx, []).append(doc_id)
    assert len(rows) == len(expect) > 0
    for r in rows:
        assert len(r["pfx"]) == _SFX_MIN
        assert r["pfx"] not in idx
        assert r["first_doc"] == min(expect[r["pfx"]])
        assert r["n_suffixes"] == len(expect[r["pfx"]])
        assert r["first_doc"] % 2 == 1  # batch side only


def test_suffix_bucketed_reruns_reuse_staged_tables(spark):
    # second execution must serve the SAME staged bucket files (the
    # pay-the-shuffle-once contract) and equal results
    a = sorted(
        map(tuple, dedup_suffix_lcp_bucketed(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, dedup_suffix_lcp_bucketed(spark, SF_DIR).collect())
    )
    assert a == b


def test_near_clusters_star_agrees_with_label_on_corpus(spark):
    """Both registered near-dup cluster entries (one function under two
    names) label the corpus exactly as a union-find over the same
    exact-Jaccard-confirmed pairs: component = min reachable doc id,
    and the representative is the doc whose id is its component."""
    from archive_to_parquet_spark import queries as catalog
    from archive_to_parquet_spark.operators.dedup import (
        minhash_near_duplicates_confirmed,
    )
    from tests.test_connected_components import min_reachable

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_duplicates_confirmed(
        docs, "doc_id", "text", jaccard_threshold=0.5, num_hashes=32, bands=8
    ).collect()
    comp = min_reachable((r.id_a, r.id_b) for r in pairs)
    want = sorted(
        (d, comp.get(d, d), int(comp.get(d, d) == d))
        for d in (r.doc_id for r in docs.select("doc_id").collect())
    )
    qs = catalog.queries()
    label = sorted(map(tuple, qs["dedup_near_clusters"](spark, SF_DIR).collect()))
    star = sorted(
        map(tuple, qs["dedup_near_clusters_star"](spark, SF_DIR).collect())
    )
    assert label == star == want
    # sanity: at least one non-trivial cluster exists at sf0.001
    assert any(doc != comp for doc, comp, _rep in label)
