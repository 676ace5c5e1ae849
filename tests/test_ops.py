"""Operator-library unit tests: dedup family, vectors, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.functions.multimodal import (
    attach_payload,
    decode_image_meta,
    frame_sample_plan,
)
from nyc_open_data_pipeline_spark.functions.vectors import cosine_topk_pandas
from nyc_open_data_pipeline_spark.operators.dedup import (
    dedup_keep_first,
    dedup_keep_last,
    cap_buckets,
    hamming64,
    jaccard_pairs_hashed,
    minhash_lsh_pairs,
    shingle_hash_sets,
    simhash64,
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_B = "the quick brown fox jumps over the lazy dog near the river bank yesterday"  # near-dup
DOC_C = "spark engines shuffle partitioned columnar data across executor nodes quickly"


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_B), (3, DOC_C)], ["doc_id", "text"]
    )


def test_keep_last_vs_first(spark):
    df = spark.createDataFrame(
        [("k1", 1, "first"), ("k1", 2, "last"), ("k2", 5, "only")],
        ["k", "seq", "v"],
    )
    last = {r["k"]: r["v"] for r in dedup_keep_last(df, ["k"], ["seq"]).collect()}
    first = {r["k"]: r["v"] for r in dedup_keep_first(df, ["k"], ["seq"]).collect()}
    assert last == {"k1": "last", "k2": "only"}
    assert first == {"k1": "first", "k2": "only"}


def test_minhash_lsh_finds_planted_near_dup(spark):
    pairs = minhash_lsh_pairs(_docs(spark), num_hashes=16, bands=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # the planted near-duplicate pair
    assert (1, 3) not in got and (2, 3) not in got


def test_jaccard_scores(spark):
    docs = _docs(spark)
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    scores = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_hashed(shingle_hash_sets(docs), cand).collect()
    }
    assert scores[(1, 2)] > 0.6  # near-dup: long shared shingle prefix
    assert scores[(1, 3)] == 0.0


def test_simhash_hamming_ordering(spark):
    df = _docs(spark).select("doc_id", simhash64(F.col("text")).alias("sh"))
    sh = {r["doc_id"]: r["sh"] for r in df.collect()}
    d = df.sparkSession.createDataFrame(
        [(sh[1], sh[2]), (sh[1], sh[3])], ["a", "b"]
    ).select(hamming64(F.col("a"), F.col("b")).alias("d")).collect()
    near, far = d[0]["d"], d[1]["d"]
    assert near < far  # near-dup pair closer in hamming space


def test_cosine_topk_pandas_matches_jvm(spark, sf_dir):
    from nyc_open_data_pipeline_spark.plans import all_queries

    jvm = all_queries()["s1_cosine_topk"].fn(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    arrow = cosine_topk_pandas(emb, queries, k=5).collect()
    jvm_pairs = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in jvm}
    arrow_pairs = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in arrow}
    assert jvm_pairs == arrow_pairs  # GEMM path agrees with expression path


def test_multimodal_decode_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = attach_payload(docs)
    decoded = decode_image_meta(media, fake=True)
    rows = decoded.collect()
    assert len(rows) == 20
    r = rows[0]
    assert r["n_bytes"] > 0 and len(r["content_hash"]) == 32
    assert 16 <= r["width"] <= 2048 and 16 <= r["height"] <= 2048
    # deterministic: second run produces identical metadata
    again = {x["media_id"]: x["content_hash"] for x in decode_image_meta(media, fake=True).collect()}
    assert again == {x["media_id"]: x["content_hash"] for x in rows}


def test_multimodal_decode_gated_without_pil(spark, sf_dir):
    """A non-Netpbm payload on the real branch needs PIL; without it the
    task fails loudly (codec availability is payload-dependent since the
    PPM real path landed, so the gate moved from plan time into the task)."""
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1)
    media = attach_payload(docs)
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; gate not exercised")
    except ImportError:
        with pytest.raises(Exception, match="requires PIL"):
            decode_image_meta(media, fake=False).collect()


def _ppm_bytes(width: int, height: int, comment: bool = False) -> bytes:
    head = b"P6\n"
    if comment:
        head += b"# fixture comment\n"
    head += f"{width} {height}\n255\n".encode()
    return head + bytes(width * height * 3)


def test_multimodal_real_decode_branch_via_ppm(spark):
    """Round-11 verdict #6: the REAL decode branch (fake=False), exercised
    end-to-end through the mapInPandas stage with a dependency-free codec
    — P6 images with real headers, dimensions verified against the bytes
    we wrote, not a stand-in hash."""
    import hashlib

    from nyc_open_data_pipeline_spark.functions.multimodal import MEDIA_SCHEMA  # noqa: F401

    payloads = [
        (1, _ppm_bytes(7, 3)),
        (2, _ppm_bytes(640, 480, comment=True)),
        (3, b"P2\n# gray\n12 34\n255\n" + bytes(12 * 34)),
    ]
    media = spark.createDataFrame(
        [(i, p, "image/x-portable-pixmap") for i, p in payloads],
        "media_id long, payload binary, media_type string",
    )
    got = {r["media_id"]: r for r in decode_image_meta(media, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"]) == (7, 3)
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    assert (got[3]["width"], got[3]["height"]) == (12, 34)
    for i, p in payloads:
        assert got[i]["n_bytes"] == len(p)
        assert got[i]["content_hash"] == hashlib.md5(p).hexdigest()


def test_ppm_header_parser_rejects_malformed():
    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import decode_ppm_header

    with pytest.raises(ValueError):
        decode_ppm_header(b"JFIF....")
    with pytest.raises(ValueError):
        decode_ppm_header(b"P6\nnot numbers\n")
    with pytest.raises(ValueError):
        decode_ppm_header(b"P6\n0 5\n255\n")  # zero width
    assert decode_ppm_header(_ppm_bytes(2048, 1)) == (2048, 1)


def _png_bytes(width: int, height: int) -> bytes:
    """A COMPLETE, valid grayscale PNG built with the stdlib: signature +
    IHDR + IDAT (zlib-compressed rows, filter 0) + IEND, all CRCs real."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_decode_branch_via_png(spark):
    """Round-12 verdict #6: PNG joins Netpbm as a REAL dependency-free
    decode branch — a complete stdlib-built PNG flows end-to-end through
    the mapInPandas stage without PIL, dimensions verified against the
    IHDR we wrote."""
    import hashlib

    payloads = [(1, _png_bytes(7, 3)), (2, _png_bytes(640, 480))]
    media = spark.createDataFrame(
        [(i, p, "image/png") for i, p in payloads],
        "media_id long, payload binary, media_type string",
    )
    got = {r["media_id"]: r for r in decode_image_meta(media, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"]) == (7, 3)
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    for i, p in payloads:
        assert got[i]["n_bytes"] == len(p)
        assert got[i]["content_hash"] == hashlib.md5(p).hexdigest()


def test_png_header_parser_rejects_malformed():
    import struct

    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import decode_png_header

    good = _png_bytes(12, 34)
    assert decode_png_header(good) == (12, 34)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_header(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        decode_png_header(good[:20])
    # flip one width byte: the IHDR CRC must catch the corruption
    corrupt = bytearray(good)
    corrupt[16] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_header(bytes(corrupt))
    # zero-dimension header with a RECOMPUTED (valid) CRC still rejects
    import zlib

    zero = bytearray(good)
    zero[16:20] = struct.pack(">I", 0)
    zero[29:33] = struct.pack(">I", zlib.crc32(bytes(zero[12:29])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="width/height"):
        decode_png_header(bytes(zero))


def _gif_bytes(width: int, height: int) -> bytes:
    """A COMPLETE, valid GIF89a built by hand: logical screen descriptor,
    2-entry global color table, image descriptor, and a real LZW stream
    (CLEAR emitted before every literal so codes stay 3 bits wide — legal
    per spec, dictionary never grows), sub-blocked, with trailer."""
    import struct

    head = b"GIF89a" + struct.pack("<HH", width, height) + bytes([0x80, 0, 0])
    palette = bytes(6)  # 2 RGB entries, all black
    img_desc = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    # LZW with min code size 2: clear=4, eoi=5, fixed 3-bit codes
    codes = [4]
    for _ in range(width * height):
        codes += [0, 4]
    codes[-1] = 5  # final clear becomes end-of-information
    acc = bitlen = 0
    stream = bytearray()
    for c in codes:
        acc |= c << bitlen
        bitlen += 3
        while bitlen >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8
    if bitlen:
        stream.append(acc & 0xFF)
    blocks = b"\x02"  # min code size
    for i in range(0, len(stream), 255):
        sub = bytes(stream[i : i + 255])
        blocks += bytes([len(sub)]) + sub
    return head + palette + img_desc + blocks + b"\x00" + b"\x3b"


def _bmp_bytes(width: int, height: int, top_down: bool = False) -> bytes:
    """A COMPLETE, valid 24bpp BI_RGB BMP: file header + BITMAPINFOHEADER +
    4-byte-aligned pixel rows (negative height = top-down variant)."""
    import struct

    row = width * 3 + (-width * 3) % 4
    pixels = bytes(row * height)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height, 1, 24, 0,
        len(pixels), 2835, 2835, 0, 0,
    )
    file_head = struct.pack("<2sIHHI", b"BM", 14 + len(info) + len(pixels), 0, 0, 14 + len(info))
    return file_head + info + pixels


def test_multimodal_real_decode_branch_via_gif_and_bmp(spark):
    """Round 13: GIF and BMP join Netpbm/PNG as REAL dependency-free image
    decode branches — complete hand-built files flow end-to-end through
    the mapInPandas stage without PIL, dimensions verified against the
    headers we wrote (including the top-down negative-height BMP)."""
    import hashlib

    payloads = [
        (1, _gif_bytes(7, 3)),
        (2, _gif_bytes(640, 480)),
        (3, _bmp_bytes(12, 34)),
        (4, _bmp_bytes(640, 480, top_down=True)),
    ]
    media = spark.createDataFrame(
        [(i, p, "image/mixed") for i, p in payloads],
        "media_id long, payload binary, media_type string",
    )
    got = {r["media_id"]: r for r in decode_image_meta(media, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"]) == (7, 3)
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    assert (got[3]["width"], got[3]["height"]) == (12, 34)
    assert (got[4]["width"], got[4]["height"]) == (640, 480)
    for i, p in payloads:
        assert got[i]["n_bytes"] == len(p)
        assert got[i]["content_hash"] == hashlib.md5(p).hexdigest()


def test_gif_bmp_header_parsers_reject_malformed():
    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_bmp_header,
        decode_gif_header,
    )

    assert decode_gif_header(_gif_bytes(2048, 1)) == (2048, 1)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_header(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        decode_gif_header(b"GIF89a\x07")
    with pytest.raises(ValueError, match="width/height"):
        decode_gif_header(b"GIF89a\x00\x00\x05\x00\x80\x00\x00")  # zero width

    assert decode_bmp_header(_bmp_bytes(1, 2048)) == (1, 2048)
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp_header(b"GIF89a....")
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_header(_bmp_bytes(4, 4)[:20])
    import struct

    weird = bytearray(_bmp_bytes(4, 4))
    weird[14:18] = struct.pack("<I", 16)  # no real DIB header has size 16
    with pytest.raises(ValueError, match="DIB header size"):
        decode_bmp_header(bytes(weird))


def test_wav_roundtrip_and_stdlib_interop():
    """The WAV parser is real: bytes from OUR encoder and bytes from the
    stdlib ``wave`` module parse identically, and the stdlib module reads
    our container back (both directions of interop), pinning that
    decode_wav_header handles genuine RIFF files, not a private dialect."""
    import io
    import wave

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_wav_header,
        make_wav,
    )

    # roundtrip, including frame truncation of a non-multiple tail
    data = bytes(range(250)) + b"\x01"  # 251 bytes
    assert decode_wav_header(make_wav(data, 2, 44100)) == (2, 44100, 16, 62)
    assert decode_wav_header(make_wav(data, 1, 8000)) == (1, 8000, 16, 125)
    assert decode_wav_header(make_wav(b"", 1, 8000)) == (1, 8000, 16, 0)

    # stdlib wave -> our parser
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(bytes(400))  # 100 frames
    assert decode_wav_header(buf.getvalue()) == (2, 22050, 16, 100)

    # our encoder -> stdlib wave
    with wave.open(io.BytesIO(make_wav(bytes(400), 2, 22050)), "rb") as r:
        assert (r.getnchannels(), r.getframerate(), r.getsampwidth(), r.getnframes()) == (
            2, 22050, 2, 100,
        )


def test_wav_parser_chunk_walk_and_rejects():
    import struct

    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_wav_header,
        make_wav,
    )

    good = make_wav(bytes(40), 1, 8000)
    # splice an odd-sized LIST chunk (with its pad byte) before fmt/data:
    # a generic chunk walk must skip it and still land on both
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    spliced = good[:12] + extra + good[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert decode_wav_header(spliced) == (1, 8000, 16, 20)

    with pytest.raises(ValueError, match="not a RIFF"):
        decode_wav_header(b"OggS" + bytes(20))
    with pytest.raises(ValueError, match="truncated"):
        decode_wav_header(good[:-10])
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav_header(good[:12])
    nonpcm = bytearray(good)
    nonpcm[20:22] = struct.pack("<H", 3)  # IEEE float format tag
    with pytest.raises(ValueError, match="only PCM"):
        decode_wav_header(bytes(nonpcm))
    bad_align = bytearray(good)
    bad_align[32:34] = struct.pack("<H", 6)  # block_align != channels*2
    with pytest.raises(ValueError, match="inconsistent"):
        decode_wav_header(bytes(bad_align))


def test_multimodal_audio_decode_end_to_end(spark):
    """mm4's path: corpus rows -> real WAV containers -> real chunk-walk
    decode, both as mapInPandas stages; metadata verified against the
    doc-derived parameters the encoder embeds."""
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        attach_wav_payload,
        decode_audio_meta,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 101), (2, "y" * 64), (7, "z")], ["doc_id", "text"]
    )
    got = {r["media_id"]: r for r in decode_audio_meta(attach_wav_payload(docs)).collect()}
    # doc 1: 2 channels (odd id), rate 8000 + (101 % 5)*4000 = 12000,
    # block_align 4 -> 25 frames, duration 25*1000//12000 = 2 ms
    assert (got[1]["channels"], got[1]["sample_rate"]) == (2, 12000)
    assert (got[1]["n_frames"], got[1]["duration_ms"]) == (25, 2)
    # doc 2: 1 channel, rate 8000 + (64 % 5)*4000 = 24000, 32 frames
    assert (got[2]["channels"], got[2]["sample_rate"]) == (1, 24000)
    assert (got[2]["n_frames"], got[2]["duration_ms"]) == (32, 1)
    # doc 7: 2 channels, 1 data byte -> 0 full frames
    assert (got[7]["channels"], got[7]["n_frames"], got[7]["duration_ms"]) == (2, 0, 0)
    assert all(r["bits_per_sample"] == 16 for r in got.values())


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def test_paeth_predictor_vectors():
    from nyc_open_data_pipeline_spark.functions.multimodal import _paeth

    # ties break left, then up, then up-left (spec §9.4)
    assert _paeth(0, 0, 0) == 0
    assert _paeth(10, 10, 10) == 10  # all equal -> left
    assert _paeth(0, 10, 0) == 10  # estimate 10 -> up exact
    assert _paeth(40, 20, 10) == 40  # estimate 50, left closest
    assert _paeth(60, 30, 20) == 60  # estimate 70, left closest
    assert _paeth(5, 9, 7) == 7  # estimate 7: pc=0 beats pa=pb=2 -> up-left
    assert _paeth(5, 5, 9) == 5  # estimate 1: pa=4=pb -> left wins the tie


def test_png_unfilter_hand_vectors():
    """The decoder's unfilter math pinned against BY-HAND filtered bytes
    (not the module's own encoder), so a mirrored encode/decode bug can't
    cancel: row 0 Sub-filtered, row 1 Paeth-filtered, every delta computed
    manually from the spec."""
    import struct
    import zlib

    from nyc_open_data_pipeline_spark.functions.multimodal import decode_png_pixels

    # raw pixels: row0 = [10, 20, 30], row1 = [40, 60, 90]
    # Sub(row0):  10, 20-10, 30-20            -> 0x01 0a 0a 0a
    # Paeth(row1): 40-paeth(0,10,0)=30, 60-paeth(40,20,10)=20,
    #              90-paeth(60,30,20)=30      -> 0x04 1e 14 1e
    raw = b"\x01\x0a\x0a\x0a\x04\x1e\x14\x1e"
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png_pixels(png) == (3, 2, bytes([10, 20, 30, 40, 60, 90]))


def test_png_pixel_roundtrip_all_filters_and_multi_idat():
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        make_png_gray,
    )

    lines = [bytes((r * 31 + c * 7 + 13) % 256 for c in range(23)) for r in range(17)]
    flat = b"".join(lines)
    for ft in range(5):  # every filter type, uniformly
        w, h, px = decode_png_pixels(make_png_gray(lines, filter_for_row=lambda r: ft))
        assert (w, h, px) == (23, 17, flat), f"filter {ft} roundtrip"
    # cycling filters + an image big enough to force the two-IDAT split
    big = [bytes((r + c) % 256 for c in range(64)) for r in range(48)]
    payload = make_png_gray(big, filter_for_row=lambda r: r % 5)
    assert payload.count(b"IDAT") == 2, "large image must split IDAT"
    assert decode_png_pixels(payload) == (64, 48, b"".join(big))


def test_png_pixel_decode_rejects():
    import struct
    import zlib

    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        make_png_gray,
    )

    good = make_png_gray([bytes(range(16))] * 4)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_pixels(b"BM" + bytes(30))
    with pytest.raises(ValueError, match="truncated"):
        decode_png_pixels(good[:-20])  # cut reaches INTO the IDAT chunk
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip an IDAT byte, CRC must catch it
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png_pixels(bytes(corrupt))
    rgb_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # color type 2
    rgb = (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", rgb_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(13))) + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="grayscale"):
        decode_png_pixels(rgb)
    bad_filter = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x07\x01\x02"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type 7"):
        decode_png_pixels(bad_filter)


def test_multimodal_png_pixel_stats_end_to_end(spark):
    """mm5's path: corpus rows -> real filtered+deflated PNGs -> real
    inflate+unfilter decode -> exact integer pixel stats, verified against
    the closed-form pixel formula computed directly."""
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        attach_png_payload,
        png_pixel_stats,
    )

    docs = spark.createDataFrame(
        [(0, 5), (3, 100), (11, 256), (254, 999)], ["doc_id", "n_chars"]
    )
    got = {r["media_id"]: r for r in png_pixel_stats(attach_png_payload(docs)).collect()}
    for mid, nch in [(0, 5), (3, 100), (11, 256), (254, 999)]:
        w, h = 8 + mid % 17, 4 + nch % 13
        seed = (mid * 131 + nch) % 256
        px = [(seed + 31 * r + 7 * c) % 256 for r in range(h) for c in range(w)]
        row = got[mid]
        assert (row["width"], row["height"], row["n_px"]) == (w, h, w * h)
        assert row["pixel_sum"] == sum(px)
        assert (row["min_px"], row["max_px"]) == (min(px), max(px))


def test_avi_container_roundtrip_and_rejects():
    """The AVI builder/parser pair: spec-shaped containers roundtrip, the
    generic chunk walk skips unknown top-level chunks before hdrl, and
    malformed input fails loudly."""
    import struct

    import pytest

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_avi_header,
        make_avi,
    )

    assert decode_avi_header(make_avi(640, 480, 300, 33333)) == (640, 480, 300, 33333)
    assert decode_avi_header(make_avi(16, 8, 1, 100000)) == (16, 8, 1, 100000)

    # unknown top-level chunk (odd size, padded) spliced BEFORE hdrl: a
    # generic walk must skip it
    good = make_avi(320, 240, 10, 40000)
    junk = struct.pack("<4sI", b"JUNK", 5) + b"abcde" + b"\x00"
    spliced = good[:12] + junk + good[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert decode_avi_header(spliced) == (320, 240, 10, 40000)

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_header(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="truncated"):
        decode_avi_header(good[:-14])  # cut reaches INTO the hdrl list body
    with pytest.raises(ValueError, match="missing hdrl"):
        decode_avi_header(good[:12])
    zero = bytearray(make_avi(1, 1, 5, 1000))
    # zero out the avih width field (offset: find avih tag, +8 header, +32)
    at = zero.index(b"avih") + 8 + 32
    zero[at : at + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="missing dimensions"):
        decode_avi_header(bytes(zero))


def test_multimodal_video_decode_end_to_end(spark):
    """mm6's path: corpus rows -> real AVI containers -> real RIFF walk
    decode, both as mapInPandas stages; metadata verified against the
    doc-derived parameters the encoder embeds."""
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        attach_avi_payload,
        decode_video_meta,
    )

    docs = spark.createDataFrame(
        [(0, 0), (3, 100), (42, 1234)], ["doc_id", "n_chars"]
    )
    got = {r["media_id"]: r for r in decode_video_meta(attach_avi_payload(docs)).collect()}
    for mid, nch in [(0, 0), (3, 100), (42, 1234)]:
        w, h = 160 + 16 * (mid % 40), 120 + 8 * (nch % 59)
        frames, usec = 1 + nch % 1000, (20 + (mid % 5) * 10) * 1000
        row = got[mid]
        assert (row["width"], row["height"]) == (w, h)
        assert (row["n_frames"], row["usec_per_frame"]) == (frames, usec)
        assert row["duration_ms"] == frames * usec // 1000


def test_frame_sample_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = attach_payload(docs)
    frames = frame_sample_plan(media, every_n=10).collect()
    assert len(frames) >= 5
    assert all(r["frame_idx"] % 10 == 0 for r in frames)


def test_lsh_bucket_cap_adversarial(spark):
    """5k identical docs: every band-bucket degenerates to one 5k-member
    bucket. The cap must bound candidate pairs at C(cap,2) per band (not
    C(5000,2) ~ 12.5M) and account for every dropped row via the observed
    metric."""
    from pyspark.sql import Observation

    from nyc_open_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.range(5000).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("the same adversarial document text repeated verbatim").alias("text"),
    )
    obs = Observation("lsh_cap_test")
    pairs = minhash_lsh_pairs(docs, bands=4, bucket_cap=50, observation=obs)
    n = pairs.count()
    # every band keeps ids 0..49 -> identical pair sets across bands -> distinct
    assert n == 50 * 49 // 2
    # 4 bands x (5000 - 50) rows over cap
    assert obs.get["lsh_rows_over_cap"] == 4 * 4950


def test_cap_buckets_keeps_lowest_ids_per_bucket(spark):
    """The shared occupancy cap on caller-named bucket/id columns: a
    degenerate 5k-row bucket keeps exactly its 50 lowest ids, and a small
    second bucket is untouched."""
    rows = spark.range(5010).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("blk"),
        F.when(F.col("id") < 5000, 7).otherwise(9).alias("bv"),
    )
    kept = cap_buckets(rows, 50, ("blk", "bv"), "doc_id").collect()
    by_bucket = {}
    for r in kept:
        by_bucket.setdefault(r["bv"], set()).add(r["doc_id"])
    assert by_bucket == {7: set(range(50)), 9: set(range(5000, 5010))}


def test_lsh_bucket_cap_no_effect_below_cap(spark):
    """A normal small corpus is untouched by the cap (same pairs with and
    without it)."""
    from nyc_open_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared boilerplate prefix text") for i in range(40)],
        "doc_id int, text string",
    )
    with_cap = set(map(tuple, minhash_lsh_pairs(docs, bucket_cap=1000).collect()))
    no_cap = set(map(tuple, minhash_lsh_pairs(docs, bucket_cap=None).collect()))
    assert with_cap == no_cap


# ---------------------------------------------------------------------------
# skew operators
# ---------------------------------------------------------------------------


def test_salted_join_matches_plain_join(spark, sf_dir):
    from nyc_open_data_pipeline_spark.operators.skew import salted_join

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("okey"), "l_quantity")
        .limit(2000)
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    plain = li.join(o, ["okey"], "inner")
    salted = salted_join(li, o, on=["okey"], how="inner", salt=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join: unmatched left rows survive with nulls
    extra = spark.createDataFrame([(-1, 9.0)], ["okey", "l_quantity"])
    left_salted = salted_join(li.union(extra), o, on=["okey"], how="left", salt=4)
    assert left_salted.filter("okey = -1 AND o_orderpriority IS NULL").count() == 1


def test_hybrid_salted_join_adversarial_skew(spark):
    """80% of the big side shares ONE key: the hybrid must detect it, salt
    only that key, and still reproduce the plain join exactly — including
    NULL-key and unmatched-left rows."""
    from nyc_open_data_pipeline_spark.operators.skew import hot_keys, hybrid_salted_join

    rows = [(7, float(i)) for i in range(4000)]  # hot key
    rows += [(i % 50, float(i)) for i in range(1000)]  # cold tail
    rows += [(None, -1.0), (999, -2.0)]  # NULL key + unmatched key
    big = spark.createDataFrame(rows, "k int, v double").repartition(8)
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(60)], "k int, name string"
    )

    assert hot_keys(big, ["k"], min_share=0.01)[0] == (7,)

    from collections import Counter

    for how in ("inner", "left"):
        plain = big.join(small, ["k"], how)
        hybrid = hybrid_salted_join(big, small, ["k"], how=how, salt=4, min_share=0.01)
        assert Counter(map(tuple, plain.collect())) == Counter(map(tuple, hybrid.collect()))


def test_hybrid_salted_join_no_hot_keys_is_plain(spark):
    """Uniform keys -> empty hot set -> the returned plan is the plain join
    (no union, no salt explode)."""
    from nyc_open_data_pipeline_spark.operators.skew import hybrid_salted_join

    big = spark.createDataFrame([(i, float(i)) for i in range(1000)], "k int, v double")
    small = spark.createDataFrame([(i, f"d{i}") for i in range(1000)], "k int, name string")
    out = hybrid_salted_join(big, small, ["k"], min_share=0.01)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "explode" not in plan
    assert out.count() == 1000


def test_skew_count_distinct(spark, sf_dir):
    from nyc_open_data_pipeline_spark.operators.skew import skew_count_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["event_type"]: r["n_distinct_user_id"]
        for r in skew_count_distinct(ev, ["event_type"], "user_id").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert got == want


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """HLL++ surface (SURVEY §2.6: approx distinct is free in Spark; exact
    parity with DuckDB is impossible by construction, so it is test-bounded
    instead of oracle-matched: rsd=0.05 must land within 5x rsd of exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(1, 0.25 * row["exact"])


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketed co-located join: identical bucketing on the join key means
    Catalyst plans the sort-merge join with NO Exchange on either side —
    the write-once-shuffle strategy for repeated 100TB joins."""
    from nyc_open_data_pipeline_spark.operators.bucketing import (
        joins_without_shuffle,
        plan_string,
        write_bucketed,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the small side would broadcast (also shuffle-free,
        # but not what we're proving); force the sort-merge path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(li, "b_lineitem", "l_orderkey", buckets=8)
        write_bucketed(o, "b_orders", "l_orderkey", buckets=8)
        joined = joins_without_shuffle(spark, "b_lineitem", "b_orders", ["l_orderkey"])
        plan = plan_string(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        assert "SortMergeJoin" in plan
        # results identical to the plain (shuffling) join
        plain = li.join(o, ["l_orderkey"]).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_write_bucketed_reclaims_orphan_location(spark, sf_dir):
    """The default metastore is per-session: a managed table written by a
    previous session leaves its warehouse directory behind with no catalog
    entry, and a bare saveAsTable then fails with LOCATION_ALREADY_EXISTS
    (hit live by the round-7 gr1 sf100 runs). write_bucketed must reclaim
    the orphan directory — but ONLY when its contents are verifiably a
    stale managed Spark write (part-files / _SUCCESS); a directory holding
    anything else is not ours to delete (ADVICE r8) and the write raises."""
    import os
    import shutil

    import pytest

    from nyc_open_data_pipeline_spark.operators.bucketing import write_bucketed

    table = "b_orphan_probe"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # simulate a prior session's managed-write leftovers: a part-file and
    # the _SUCCESS marker, exactly what saveAsTable leaves behind
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-00000-deadbeef.snappy.parquet"), "w") as f:
        f.write("stale")
    open(os.path.join(loc, "_SUCCESS"), "w").close()
    try:
        df = spark.range(100).selectExpr("id", "id % 5 AS k")
        write_bucketed(df, table, "k", buckets=2)
        assert spark.table(table).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(loc, ignore_errors=True)

    # a same-named directory holding a FOREIGN file must survive: the write
    # fails instead of destroying it (the round-7 medium ADVICE scenario)
    os.makedirs(loc, exist_ok=True)
    foreign = os.path.join(loc, "precious_user_data.txt")
    with open(foreign, "w") as f:
        f.write("do not delete")
    try:
        with pytest.raises(Exception, match="LOCATION_ALREADY_EXISTS"):
            write_bucketed(
                spark.range(5).selectExpr("id", "id AS k"), table, "k", buckets=2
            )
        assert os.path.exists(foreign), "foreign directory was destroyed"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(loc, ignore_errors=True)

    # db-qualified names compute the wrong orphan path — rejected up front
    with pytest.raises(ValueError, match="unqualified"):
        write_bucketed(
            spark.range(5).selectExpr("id", "id AS k"), "db.tbl", "k", buckets=2
        )


def test_bloom_membership_no_false_negatives(spark, sf_dir):
    """Bloom invariant: a true member may false-positive but can NEVER false-
    negative — every is_member=1 probe must have maybe_member=1."""
    from nyc_open_data_pipeline_spark.plans import all_queries

    rows = all_queries()["sk2_bloom_membership"].fn(spark, sf_dir).collect()
    assert rows, "probe batch must be non-empty on test data"
    assert all(r["maybe_member"] == 1 for r in rows if r["is_member"] == 1)
    # false_positive column is exactly maybe & !is
    assert all(
        r["false_positive"] == int(r["maybe_member"] == 1 and r["is_member"] == 0)
        for r in rows
    )


# ---------------------------------------------------------------------------
# Corpus-sized LSH widths (d4/d6 scale policy) + cap-overflow observability
# ---------------------------------------------------------------------------


def test_nbits_for_corpus_scaling():
    """Sign-LSH width grows with corpus cardinality so expected bucket
    occupancy stays at the target — the '6 bits is corpus-sized tuning'
    fix: 100x the data must mean more buckets, not 100x fatter buckets."""
    from nyc_open_data_pipeline_spark.functions.vectors import nbits_for_corpus

    assert nbits_for_corpus(500, 1000) == 4  # floor: tiny corpus
    assert nbits_for_corpus(64_000, 1000) == 6
    assert nbits_for_corpus(64_000_000, 1000) == 16
    assert nbits_for_corpus(10**10, 1000) == 24  # ceiling clamp
    # expected occupancy bound holds wherever the clamp doesn't bind
    for n in (10**4, 10**5, 10**7, 10**9):
        bits = nbits_for_corpus(n, 1000)
        assert n / (1 << bits) <= 1000


def test_probes_for_recall_closed_loop():
    """R derivation closes the width/recall loop: union recall at the
    design point, 1-(1-p^nbits)^R, must reach the target for every width
    the cap allows — and R must GROW as the width derivation grows bits
    (the round-5 drift was R pinned at 3 while nbits went 4 -> 11)."""
    import math

    import pytest

    from nyc_open_data_pipeline_spark.functions.vectors import (
        collision_prob,
        probes_for_recall,
    )

    p = collision_prob(0.3)
    assert abs(p - (1 - math.acos(0.3) / math.pi)) < 1e-12
    prev = 0
    for nbits in range(4, 9):
        r = probes_for_recall(nbits, 0.3, target=0.5, max_sets=10**9)
        assert 1 - (1 - p**nbits) ** r >= 0.5  # target met (uncapped)
        assert 1 - (1 - p**nbits) ** (r - 1) < 0.5  # and R is minimal
        assert r >= prev
        prev = r
    # cap binds at high widths for a low design point (documented physics)
    assert probes_for_recall(11, 0.3, target=0.5, max_sets=64) == 64
    # production design point (cos >= 0.9) stays cheap at the same widths
    assert probes_for_recall(11, 0.9, target=0.5, max_sets=64) <= 5
    # degenerate inputs
    assert probes_for_recall(4, 1.0) == 1  # p == 1: one set suffices
    with pytest.raises(ValueError):
        from nyc_open_data_pipeline_spark.operators.dedup import (
            multiprobe_candidate_pairs,
        )

        multiprobe_candidate_pairs(None, [])


def test_multiprobe_design_radius_ladder():
    """(R, radius) derivation: radius stays 0 while independent sets fit
    the cap (identical to probes_for_recall), escalates bit-flip probing
    past it, and the design union meets the target at EVERY width the
    corpus derivation can produce — the capped-shortfall regime is gone
    through max_bits=16. Narrow widths (nbits <= NARROW_WIDTH_BITS) floor
    the radius at 1: radius 0 meets the target with zero margin there
    (union 0.515), which the s13 sf0.1 audit measured as recall 0.48 —
    the floor buys ~0.2 design margin for <= 5 masks per set (round 9)."""
    import math

    import pytest

    from nyc_open_data_pipeline_spark.functions.vectors import (
        NARROW_WIDTH_BITS,
        collision_prob,
        multiprobe_design,
        probes_for_recall,
    )

    p = collision_prob(0.3)
    # narrow-width floor: one bit-flip ring instead of six marginal sets
    assert NARROW_WIDTH_BITS == 4
    assert multiprobe_design(4, 0.3) == (2, 1)
    # q=0 regime is byte-identical to the single-probe derivation
    assert multiprobe_design(8, 0.3) == (43, 0)
    assert multiprobe_design(8, 0.3)[0] == probes_for_recall(8, 0.3)
    # the widths where the set cap used to bind now fit via probing
    assert multiprobe_design(11, 0.3) == (24, 1)
    assert multiprobe_design(14, 0.3) == (18, 2)
    assert multiprobe_design(16, 0.3) == (40, 2)
    for nbits in range(4, 17):
        r, q = multiprobe_design(nbits, 0.3)
        per = sum(
            math.comb(nbits, j) * p ** (nbits - j) * (1.0 - p) ** j
            for j in range(q + 1)
        )
        assert r <= 64
        assert 1.0 - (1.0 - per) ** r >= 0.5  # design target met
        if q > 0 and nbits > NARROW_WIDTH_BITS:
            # above the floor, radius escalates only because sets can't fit
            assert probes_for_recall(nbits, 0.3, max_sets=10**9) > 64
    # the floored widths now carry real margin over the bare target
    r4, q4 = multiprobe_design(4, 0.3)
    per4 = sum(
        math.comb(4, j) * p ** (4 - j) * (1.0 - p) ** j for j in range(q4 + 1)
    )
    assert 1.0 - (1.0 - per4) ** r4 >= 0.65
    # production design point (cos 0.9) never needs probing at wide ladders
    assert multiprobe_design(16, 0.9) == (probes_for_recall(16, 0.9), 0)
    # degenerate: p == 1 -> one set; the narrow floor still stamps radius 1
    assert multiprobe_design(4, 1.0) == (1, 1)
    # operator rejects unsupported radii (masks exist for q <= 2 only)
    from nyc_open_data_pipeline_spark.operators.dedup import (
        multiprobe_candidate_pairs,
    )

    with pytest.raises(ValueError):
        multiprobe_candidate_pairs(None, [[[1.0]]], radius=3)


def test_multiprobe_bitflip_matches_bruteforce_hamming(spark, sf_dir):
    """Forced radius-1/2 candidates == brute-force pairs whose signatures
    differ in <= radius bits of some set (computed independently in
    numpy), and each radius strictly supersets the previous — the
    one-sided XOR-mask probe join is exactly the Hamming-ball predicate,
    not an approximation of it."""
    import numpy as np

    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.functions import vectors as VEC
    from nyc_open_data_pipeline_spark.operators.dedup import (
        multiprobe_candidate_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    rows = e.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nbits, r_sets = 5, 3
    pl = VEC.hyperplanes(M.shape[1], nbits * r_sets)
    sets_ = [pl[r * nbits : (r + 1) * nbits] for r in range(r_sets)]
    # numpy truth: per-set signatures as ints, pairwise Hamming distance
    sigs = []
    for planes in sets_:
        P = np.array(planes)  # (nbits, dim)
        bits = (M @ P.T) > 0  # (n, nbits)
        sigs.append((bits * (1 << np.arange(nbits))).sum(axis=1))
    truth = {0: set(), 1: set(), 2: set()}
    n = len(ids)
    for q in (0, 1, 2):
        for s in sigs:
            x = s[:, None] ^ s[None, :]
            ham = np.zeros_like(x)
            for b in range(nbits):
                ham += (x >> b) & 1
            ii, jj = np.where(ham <= q)
            for a, b2 in zip(ii, jj):
                if ids[a] < ids[b2]:
                    truth[q].add((ids[a], ids[b2]))
    for q in (0, 1, 2):
        got = {
            (r["id_a"], r["id_b"])
            for r in multiprobe_candidate_pairs(
                e, sets_, bucket_cap=10**6, radius=q
            ).collect()
        }
        assert got == truth[q], f"radius {q} mismatch"
    assert truth[0] < truth[1] < truth[2]  # probing strictly widens


def test_bands_for_threshold():
    """Band layout follows the stated Jaccard threshold via the LSH S-curve
    midpoint (1/b)^(1/r), instead of a hardcoded (4, 4)."""
    from nyc_open_data_pipeline_spark.operators.dedup import bands_for_threshold

    assert bands_for_threshold(16, 0.7) == 4  # (1/4)^(1/4) = 0.707
    assert bands_for_threshold(16, 0.35) == 8  # (1/8)^(1/2) = 0.354
    assert bands_for_threshold(16, 0.95) == 2  # (1/2)^(1/8) = 0.917


def test_sign_lsh_bucket_growth_bounded(spark):
    """Bucket-size distribution at two corpus sizes (8x apart): with the
    auto-derived width the max bucket stays bounded near the target instead
    of growing linearly with the corpus."""
    import numpy as np

    from nyc_open_data_pipeline_spark.functions.vectors import (
        hyperplane_bucket,
        hyperplanes,
        nbits_for_corpus,
    )

    rng = np.random.RandomState(7)
    target = 32
    max_seen = {}
    for n in (512, 4096):
        vecs = rng.randn(n, 16)
        df = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
        )
        bits = nbits_for_corpus(n, target)
        planes = hyperplanes(16, bits)
        sizes = (
            df.select(hyperplane_bucket(F.col("embedding"), planes).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        max_seen[n] = sizes
    # Sign-LSH occupancy over real (non-uniform) data is skewed — that's what
    # bucket_cap bounds. The width policy's claim is SUBLINEAR growth: 8x the
    # corpus must not mean 8x the max bucket (fixed width would be exactly
    # 8x), and the max bucket's share of the corpus must shrink.
    assert max_seen[4096] < 4 * max_seen[512], max_seen
    assert max_seen[4096] / 4096 < max_seen[512] / 512, max_seen


def test_embedding_neardup_auto_width_finds_planted_dup(spark):
    """End-to-end auto-derived path: exact-duplicate vectors always share a
    sign-LSH bucket and must surface with cos_sim 1.0."""
    import numpy as np

    from nyc_open_data_pipeline_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(11)
    vecs = [rng.randn(16).tolist() for _ in range(63)]
    vecs.append(list(vecs[0]))  # id 63 duplicates id 0
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    pairs = embedding_neardup_pairs(df, threshold=0.99, target_bucket_rows=16)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in pairs.collect()}
    assert (0, 63) in got and got[(0, 63)] == 1.0


def test_embedding_neardup_factoring_matches_bruteforce_on_duplicated_corpus(spark):
    """The rep-factored pairwise stage (cos once per distinct vector pair,
    expanded back to id pairs) must produce the EXACT row set of the
    unfactored within-bucket self-join on a corpus with heavy exact
    duplication — covering both branches the all-distinct driver corpus
    never exercises: same-rep expansion (copy-copy pairs) and cross-rep
    id-set expansion. The brute-force model below IS the pre-round-5
    construction, evaluated with the same expressions."""
    import numpy as np

    from nyc_open_data_pipeline_spark.functions import vectors as VEC
    from nyc_open_data_pipeline_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(7)
    base = [rng.randn(16).tolist() for _ in range(40)]
    vecs = []
    for copy in range(5):  # 5 exact copies of each of 40 distinct vectors
        vecs.extend(base)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    nbits = VEC.nbits_for_corpus(df.count(), target_bucket_rows=16)
    planes = VEC.hyperplanes(16, nbits)
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(df, threshold=0.2, planes=planes).collect()
    }

    b = df.select(
        "vec_id",
        F.col("embedding").alias("v"),
        VEC.norm(F.col("embedding")).alias("nrm"),
        VEC.hyperplane_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    cos = F.round(
        VEC.cosine_prenormed(F.col("l.v"), F.col("r.v"), F.col("l.nrm"), F.col("r.nrm")),
        6,
    )
    exp = {
        (row["id_a"], row["id_b"]): row["cos_sim"]
        for row in (
            l.join(
                r,
                (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.vec_id") < F.col("r.vec_id")),
            )
            .select(
                F.col("l.vec_id").alias("id_a"),
                F.col("r.vec_id").alias("id_b"),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= 0.2)
        ).collect()
    }
    assert got == exp
    # sanity: the duplicate structure actually exercised both branches
    assert any(a % 40 == b % 40 for a, b in got)  # same-rep (copy) pairs
    assert any(a % 40 != b % 40 for a, b in got)  # cross-rep pairs


def test_multiprobe_supersets_single_set_and_amplifies_recall(spark, sf_dir):
    """d19's plane set 0 IS d6's derived-width set (the first nbits rows
    of the shared LCG stream, same per-set cap), so every d6 pair must
    appear in d19 with the identical cos_sim — and the derived-R union
    must surface strictly more pairs on this corpus (the recall
    amplification the operator exists for)."""
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        d6_embedding_neardup,
        d19_multiprobe_neardup,
    )

    d6 = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in d6_embedding_neardup(spark, sf_dir).collect()
    }
    d19 = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in d19_multiprobe_neardup(spark, sf_dir).collect()
    }
    assert set(d6) <= set(d19)
    assert all(d19[k] == v for k, v in d6.items())
    assert len(d19) > len(d6)


def test_cap_metrics_zero_at_gate_scale(spark):
    """The d4/d6 oracles intentionally mirror the bucket caps; if a cap ever
    binds at the correctness-gate scale, a hash match would be comparing two
    equally-truncated results. Assert the observed overflow metrics are ZERO
    at sf0.01, so truncation can never masquerade as parity (d11 shares
    LSH_BUCKET_CAP with d4 over strictly smaller buckets — 4 block keys per
    doc vs banded signature buckets — so the d4 zero bounds it)."""
    from pyspark.sql import Observation

    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.operators import dedup as DD
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        EMB_BUCKET_CAP,
        LSH_BUCKET_CAP,
        NBANDS,
    )

    sf01 = "/root/testdata/sf0.01"
    docs = load_table(spark, sf01, "documents")
    obs_lsh = Observation("lsh_cap_gate")
    DD.minhash_lsh_pairs(
        docs, num_hashes=16, bands=NBANDS, bucket_cap=LSH_BUCKET_CAP,
        observation=obs_lsh,
    ).count()
    assert obs_lsh.get["lsh_rows_over_cap"] == 0

    emb = load_table(spark, sf01, "embeddings")
    obs_emb = Observation("emb_cap_gate")
    from nyc_open_data_pipeline_spark.functions import vectors as VEC
    from nyc_open_data_pipeline_spark.plans.llmdata import _shared_emb_meta

    _, dim = _shared_emb_meta(spark, sf01)
    DD.embedding_neardup_pairs(
        emb, threshold=0.3, planes=VEC.hyperplanes(dim, 6),
        bucket_cap=EMB_BUCKET_CAP, observation=obs_emb,
    ).count()
    assert obs_emb.get["emb_rows_over_cap"] == 0

    # d11's block buckets: direct distributional check against the same cap
    from nyc_open_data_pipeline_spark.plans.llmdata import _simhash_blocks

    blocks = _simhash_blocks(spark, sf01)
    mx = (
        blocks.groupBy("blk", "bv").count().agg(F.max("count")).collect()[0][0]
    )
    assert mx <= LSH_BUCKET_CAP


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """The session claims AQE skew-join as the default path for UNKNOWN
    skew (j8's salting handles known hot keys) — prove the runtime split
    actually fires: a 90%-one-key fact joined sort-merge must execute with
    SortMergeJoin(skew=true). Thresholds are lowered because local
    fixtures are far below the production byte gates; the executed plan is
    read from the SAME QueryExecution that ran (a fresh action would
    re-plan and show the static form)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "20KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
        spark.range(300_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 1000 END AS k",
            "id AS payload",
        ).write.parquet(fp)
        spark.range(1000).selectExpr("id AS k", "id * 2 AS attr").write.parquet(dp)
        j = (
            spark.read.parquet(fp)
            .join(spark.read.parquet(dp), "k")
            .groupBy()
            .count()
        )
        assert j.collect()[0]["count"] == 300_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_unimax_waterfill_matches_python_model(spark, tmp_path, monkeypatch):
    """mix5's closed-form threshold search == a brute-force Python
    water-fill, in BOTH regimes: budget binds (water level below some
    caps) and budget covers every cap (all sources saturated, theta
    absent). Token counts are controlled via synthetic documents."""
    import os

    from nyc_open_data_pipeline_spark.plans import llmdata

    # sources with 2, 4, 8, 16 tokens -> caps 8, 16, 32, 64
    rows = []
    did = 0
    for i, n in enumerate([2, 4, 8, 16]):
        rows.append((did, f"s{i}", " ".join(f"w{j}" for j in range(n))))
        did += 1
    d = str(tmp_path / "sfx")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.parquet(
        os.path.join(d, "documents.parquet")
    )

    def model(budget, kmax=4.0):
        caps = {f"s{i}": n * kmax for i, n in enumerate([2, 4, 8, 16])}
        lo, hi = 0.0, max(caps.values())
        if sum(caps.values()) <= budget:
            return caps
        for _ in range(200):  # bisection on the water level
            mid = (lo + hi) / 2
            if sum(min(c, mid) for c in caps.values()) < budget:
                lo = mid
            else:
                hi = mid
        return {s: min(c, hi) for s, c in caps.items()}

    for budget in (40, 1000):  # binds, saturates
        monkeypatch.setattr(llmdata, "_UNIMAX_BUDGET", budget)
        got = {
            r["source"]: r["budget_tokens"]
            for r in llmdata.mix5_unimax_budget(spark, d).collect()
        }
        exp = {s: int(v) for s, v in model(float(budget)).items()}
        assert got == exp, (budget, got, exp)


def test_unimax_zero_token_source_yields_null_epochs(spark, tmp_path, monkeypatch):
    """A source whose documents total 0 tokens divides 0.0/0 in epochs:
    Spark's non-ANSI division yields NULL but DuckDB yields NaN — the
    NULLIF guard must pin BOTH engines to NULL (same cross-engine hazard
    t11_zscore guards). The whitespace tokenizer can't actually produce 0
    (split('') is ['']; min count 1), so the zero is injected with a
    deterministic fake counter on the Spark side, and the oracle's guarded
    epochs expression is evaluated directly in DuckDB."""
    import os

    import duckdb

    from nyc_open_data_pipeline_spark.functions import text as TXT
    from nyc_open_data_pipeline_spark.plans import llmdata
    from pyspark.sql import functions as F

    rows = [(0, "a", "w0 w1 w2"), (1, "b", "")]
    d = str(tmp_path / "sfz")
    os.makedirs(d)
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.parquet(
        os.path.join(d, "documents.parquet")
    )

    # FAKE (test-only): empty text counts 0 tokens so source b totals 0
    real_token_count = TXT.token_count

    def zero_on_empty(col):
        return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(
            real_token_count(col)
        )

    monkeypatch.setattr(llmdata.TXT, "token_count", zero_on_empty)
    got = {r["source"]: r for r in llmdata.mix5_unimax_budget(spark, d).collect()}
    assert got["b"]["budget_tokens"] == 0
    assert got["b"]["epochs"] is None, got["b"]["epochs"]  # NULL, not NaN/inf

    # Oracle side: the exact guarded expression from the registered SQL
    # must yield NULL (unguarded DuckDB 0.0/0.0 yields NaN). fetchone (not
    # .df()) so SQL NULL arrives as None instead of folding into NaN.
    con = duckdb.connect()
    guarded = con.execute(
        "SELECT LEAST(0.0, 0.0) / NULLIF(CAST(0 AS DOUBLE), 0.0)"
    ).fetchone()[0]
    assert guarded is None, guarded
    # (Unguarded x/0 is NULL in this DuckDB build but NaN/inf under the
    # ieee_floating_point_ops setting of other builds — the NULLIF guard
    # pins NULL regardless of version or setting.)
    from nyc_open_data_pipeline_spark.plans.registry import all_queries

    assert "NULLIF(CAST(c.unique_tokens AS DOUBLE), 0.0)" in (
        all_queries()["mix5_unimax_budget"].oracle
    )


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """Write-side Z-order proof on parquet footer statistics: on a full
    256x256 grid of two independent keys, a linear (a, b) sort bounds only
    the leading column per file — every file spans essentially the whole b
    domain, so a predicate on b can skip nothing. The Morton layout
    (operators/zorder.write_zordered) bounds BOTH columns per file (16
    files = 4 z-bits = 2 bits per dimension = 1/4 of each domain), which is
    what makes min/max file pruning work for either predicate at 100 TB."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators.zorder import write_zordered

    df = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("long").alias("b")
    )
    lin, zo = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        df.repartitionByRange(16, "a", "b")
        .sortWithinPartitions("a", "b")
        .write.mode("overwrite")
        .parquet(lin)
    )
    write_zordered(df, zo, "a", "b", num_files=16)

    def span_fracs(path: str, col: str) -> list[float]:
        out = []
        import os

        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is not None:
                out.append((hi - lo + 1) / 256.0)
        return out

    lin_b = span_fracs(lin, "b")
    zo_a, zo_b = span_fracs(zo, "a"), span_fracs(zo, "b")
    assert lin_b and zo_a and zo_b
    # linear layout: b unbounded per file (each file covers ~the whole domain)
    assert sum(lin_b) / len(lin_b) > 0.9
    # z-order: BOTH dimensions bounded per file — ~1/4 of the domain for
    # boundary-aligned files, somewhat more where repartitionByRange's
    # sampled boundaries straddle a z-quadrant; far below the linear
    # layout's ~full-domain span either way
    assert sum(zo_a) / len(zo_a) <= 0.5
    assert sum(zo_b) / len(zo_b) <= 0.5
    # the layout is a reshuffle, not a transformation: same rows come back
    assert spark.read.parquet(zo).count() == 256 * 256


def test_boilerplate_strip_is_source_local(spark):
    """The boilerplate decision is made per source: a chunk shared by half
    of source A's documents is stripped from ALL of them (keeper included —
    the difference from keep-first dedup), while the identical chunk
    appearing in 1 of 30 source-B documents stays, because 1/30 is under
    the 1/20 frequency bar."""
    from nyc_open_data_pipeline_spark.operators.dedup import boilerplate_strip

    header = " ".join(f"x{i}" for i in range(10))  # one exact 10-word chunk
    rows = []
    for i in range(110):  # source A: 10 of 110 docs carry the header (9%)
        body = " ".join(f"a{i}w{j}" for j in range(10))
        rows.append((i, (header + " " + body) if i < 10 else body, "A"))
    for i in range(30):  # source B: 1 of 30 docs carries it (3.3% < 5%)
        body = " ".join(f"b{i}w{j}" for j in range(10))
        rows.append((1000 + i, (header + " " + body) if i == 0 else body, "B"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_strip(docs, chunk_words=10, df_num=1, df_den=20).collect()
    }
    for i in range(10):  # every A carrier loses exactly the header chunk
        assert out[i]["n_boiler"] == 1 and out[i]["n_chunks"] == 2
    for i in range(10, 110):  # A non-carriers untouched (unique bodies < 5%)
        assert out[i]["n_boiler"] == 0
    assert out[1000]["n_boiler"] == 0  # B's lone carrier keeps it
    # stripping is content-identical for the A carriers: same cleaned text
    # iff same body — all five bodies differ, so md5s differ, but each must
    # equal the md5 of its body alone
    import hashlib

    for i in range(10):
        body = " ".join(f"a{i}w{j}" for j in range(10))
        assert out[i]["cleaned_md5"] == hashlib.md5(body.encode()).hexdigest()


def test_dsir_importance_ranks_target_vocabulary(spark, tmp_path):
    """DSIR sanity on a constructed corpus: documents written in the target
    domain's vocabulary must score higher log-importance than documents in
    a disjoint vocabulary, and the one off-domain document that borrows the
    target vocabulary must outrank its vocabulary-disjoint peers."""
    import shutil

    from nyc_open_data_pipeline_spark.plans import all_queries

    tgt_text = " ".join(f"t{i % 7}" for i in range(30))
    oth_text = " ".join(f"o{i % 7}" for i in range(30))
    rows = [(i, tgt_text, "en", "src0", len(tgt_text)) for i in range(10)]
    rows += [(100 + i, oth_text, "en", "srcX", len(oth_text)) for i in range(10)]
    rows.append((999, tgt_text, "en", "srcX", len(tgt_text)))  # the borrower
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    out = (
        all_queries()["mix6_dsir_importance"].fn(spark, sf).toPandas()
        .set_index("doc_id")["log_importance"]
    )
    tgt = [out[i] for i in range(10)]
    oth = [out[100 + i] for i in range(10)]
    assert min(tgt) > max(oth)
    assert out[999] > max(oth)  # borrowed vocabulary outranks disjoint one
    shutil.rmtree(sf, ignore_errors=True)


def test_pagerank_matches_integer_reference(spark, tmp_path):
    """gr1's distributed 10-round loop == an independent single-threaded
    reimplementation of the SAME integer recurrence on a hand graph, for
    EVERY node (not just the top-20 cut) — and total rank mass stays
    within the floor-loss bound (each node loses < 1 micro-unit per
    division, two divisions per round)."""
    import shutil

    from nyc_open_data_pipeline_spark.plans.analytics import (
        _PR_DAMP_DEN,
        _PR_DAMP_NUM,
        _PR_ITERS,
        _PR_SCALE,
        gr1_pagerank,
    )

    # 3 customers x 2 suppliers; customer 1 dominates supplier 10's inflow
    pairs = {  # (custkey, suppkey) -> lineitem count
        (1, 10): 4, (1, 20): 1, (2, 10): 2, (3, 20): 1,
    }
    sf = str(tmp_path / "sf")
    orders, lineitem, oid = [], [], 0
    for (c, s), w in sorted(pairs.items()):
        oid += 1
        orders.append((oid, c))
        lineitem += [(oid, s)] * w
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.parquet(
        f"{sf}/orders.parquet"
    )
    spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long").write.parquet(
        f"{sf}/lineitem.parquet"
    )

    # independent reference: same recurrence, plain dicts
    edges = []
    for (c, s), w in pairs.items():
        edges.append((2 * c, 2 * s + 1, w))
        edges.append((2 * s + 1, 2 * c, w))
    nodes = sorted({e[0] for e in edges})
    outw = {}
    for src, _, w in edges:
        outw[src] = outw.get(src, 0) + w
    n = len(nodes)
    r = {v: _PR_SCALE // n for v in nodes}
    base = ((_PR_DAMP_DEN - _PR_DAMP_NUM) * _PR_SCALE) // (_PR_DAMP_DEN * n)
    for _ in range(_PR_ITERS):
        inflow = {v: 0 for v in nodes}
        for src, dst, w in edges:
            inflow[dst] += (r[src] * w) // outw[src]
        r = {v: base + (_PR_DAMP_NUM * inflow[v]) // _PR_DAMP_DEN for v in nodes}

    got = {
        (row["entity"], row["entity_id"]): row["rank_micro"]
        for row in gr1_pagerank(spark, sf).collect()
    }
    exp = {
        ("customer" if v % 2 == 0 else "supplier", v // 2): rv
        for v, rv in r.items()
    }
    assert got == exp
    # mass conservation up to floor losses: 2 floors/node/round
    assert _PR_SCALE >= sum(r.values()) > _PR_SCALE - 2 * n * _PR_ITERS - n
    # the dominant supplier earned the top rank
    assert max(r, key=r.get) == 2 * 10 + 1
    shutil.rmtree(sf, ignore_errors=True)


def test_global_row_number_stable_boundaries_large_input(spark):
    """Regression for the cross-action range-boundary drift: at inputs big
    enough that repartitionByRange SAMPLES (rather than fully reads) each
    partition, the counts job and the output job used to draw different
    boundaries, interleaving the global numbering. 20k rows must rank
    exactly as the serial window does — every row, not a spot check."""
    from pyspark.sql import Window

    from nyc_open_data_pipeline_spark.operators.ranks import (
        with_global_row_number,
    )

    df = spark.range(20000).select(
        ((F.col("id") * 2654435761) % 1000003).alias("v"), "id"
    )
    got, total = with_global_row_number(df, ["v", "id"], rn_col="rn")
    assert total == 20000
    serial = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "id")).cast("long")
    )
    assert got.join(serial, ["v", "id", "rn"]).count() == 20000


def test_group_running_sum_stable_boundaries_large_input(spark):
    """Same regression for packing.with_group_running_sum: 20k rows across
    7 groups, running sums must equal the serial per-group window's."""
    from pyspark.sql import Window

    from nyc_open_data_pipeline_spark.operators.packing import (
        with_group_running_sum,
    )

    df = spark.range(20000).select(
        (F.col("id") % 7).alias("g"),
        ((F.col("id") * 40503) % 65537).alias("o"),
        "id",
        (F.col("id") % 13 + 1).alias("val"),
    )
    got = with_group_running_sum(df, ["g"], ["o", "id"], "val", out_col="cum")
    w = (
        Window.partitionBy("g")
        .orderBy("o", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    serial = df.withColumn("cum", F.sum("val").over(w).cast("long"))
    assert got.join(serial, ["g", "o", "id", "val", "cum"]).count() == 20000


def test_bottomk_sketch_is_mergeable(spark, sf_dir):
    """sk5's mergeability contract: bottom-k(A union B) == re-bottom-k of
    (bottom-k(A) union bottom-k(B)) — the sampled rows, not just the
    quantile readouts, agree exactly, so per-corpus sketches combine
    without touching the raw data again (KMV's property, applied to the
    quantile sample)."""
    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.operators.dedup import _hash64

    K = 64
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    h = _hash64(F.col("event_id").cast("string"))
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)

    def bottomk(df):
        return df.select("event_id", "value", h.alias("h")).orderBy(
            "h", "event_id"
        ).limit(K)

    direct = sorted(map(tuple, bottomk(ev).collect()))
    merged = sorted(
        map(
            tuple,
            bottomk(a).unionByName(bottomk(b)).orderBy("h", "event_id").limit(K).collect(),
        )
    )
    assert direct == merged


def test_salsa_matches_integer_reference(spark, tmp_path):
    """gr2's distributed alternating walk == an independent single-threaded
    reimplementation of the same integer recurrence on a hand graph —
    every hub and authority score, and mass conservation up to floor
    losses on each side."""
    import shutil

    from nyc_open_data_pipeline_spark.plans.analytics import (
        _PR_SCALE,
        _SALSA_ROUNDS,
        gr2_salsa,
    )

    pairs = {(1, 10): 4, (1, 20): 1, (2, 10): 2, (3, 20): 1}
    sf = str(tmp_path / "sf")
    orders, lineitem, oid = [], [], 0
    for (c, s), w in sorted(pairs.items()):
        oid += 1
        orders.append((oid, c))
        lineitem += [(oid, s)] * w
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.parquet(
        f"{sf}/orders.parquet"
    )
    spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long").write.parquet(
        f"{sf}/lineitem.parquet"
    )

    s_c, s_s = {}, {}
    for (c, s), w in pairs.items():
        s_c[c] = s_c.get(c, 0) + w
        s_s[s] = s_s.get(s, 0) + w
    custs = sorted(s_c)
    h = {c: _PR_SCALE // len(custs) for c in custs}
    a = {}
    for _ in range(_SALSA_ROUNDS):
        a = {s: 0 for s in s_s}
        for (c, s), w in pairs.items():
            a[s] += (h[c] * w) // s_c[c]
        h = {c: 0 for c in custs}
        for (c, s), w in pairs.items():
            h[c] += (a[s] * w) // s_s[s]

    got = {
        (r["side"], r["entity_id"]): r["score_micro"]
        for r in gr2_salsa(spark, sf).collect()
    }
    exp = {("authority", s): v for s, v in a.items()}
    exp.update({("hub", c): v for c, v in h.items()})
    assert got == exp
    # mass conservation per side, up to one floor loss per edge per step
    loss_bound = len(pairs) * _SALSA_ROUNDS + len(custs)
    assert _PR_SCALE >= sum(a.values()) > _PR_SCALE - loss_bound
    assert _PR_SCALE >= sum(h.values()) > _PR_SCALE - loss_bound
    # supplier 10 carries more inbound mass than supplier 20
    assert a[10] > a[20]
    shutil.rmtree(sf, ignore_errors=True)


def test_hyperplane_bucket_dim_mismatch_raises(spark):
    """The expected_dim guard (round-6 ADVICE): a vector whose length
    differs from the planes' dim must RAISE, not null-collapse into
    bucket 0. Matched-dim rows still bucket normally through the guard."""
    import pytest

    from nyc_open_data_pipeline_spark.functions.vectors import (
        hyperplane_bucket,
        hyperplanes,
    )

    planes = hyperplanes(8, 4)
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    guarded = hyperplane_bucket(F.col("embedding"), planes, expected_dim=8)
    ok = (
        df.filter("vec_id = 1").select(guarded.alias("b")).collect()[0]["b"]
    )
    unguarded = (
        df.filter("vec_id = 1")
        .select(hyperplane_bucket(F.col("embedding"), planes).alias("b"))
        .collect()[0]["b"]
    )
    assert ok == unguarded  # guard is transparent on matched dims
    with pytest.raises(Exception, match="dim mismatch"):
        df.select(guarded.alias("b")).collect()


def test_dir_bytes_cache_invalidates_on_growth(tmp_path):
    """The autosizer's byte cache must re-walk when the dataset dir changes
    (round-6 ADVICE: a dir probed while small kept its stale byte count
    forever, pinning an undersized shuffle width after regeneration)."""
    import os
    import time

    from nyc_open_data_pipeline_spark.catalog import _dir_input_bytes

    d = str(tmp_path / "sf")
    os.makedirs(d)
    with open(os.path.join(d, "a.parquet"), "wb") as f:
        f.write(b"x" * 100)
    first = _dir_input_bytes(d)
    assert first == 100
    time.sleep(0.01)  # ensure the dir mtime advances past fs resolution
    with open(os.path.join(d, "b.parquet"), "wb") as f:
        f.write(b"x" * 900)
    assert _dir_input_bytes(d) == 1000


def test_dir_bytes_cache_invalidates_on_inplace_rewrite(tmp_path):
    """An O_TRUNC rewrite of an existing file, or a rewrite inside a
    per-table subdirectory, does NOT bump the parent dir's mtime (round-7
    review) — the fingerprint must still change because it takes the MAX
    over entry mtimes two levels deep."""
    import os
    import time

    from nyc_open_data_pipeline_spark.catalog import _dir_input_bytes

    d = str(tmp_path / "sf")
    sub = os.path.join(d, "events.parquet")  # dir-per-table layout
    os.makedirs(sub)
    with open(os.path.join(sub, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 100)
    assert _dir_input_bytes(d) == 100
    time.sleep(0.01)
    # same filename, truncate-and-grow: no entry added/removed anywhere
    with open(os.path.join(sub, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 700)
    assert _dir_input_bytes(d) == 700


def test_hll_integer_scaled_sum_exact_high_registers(spark):
    """Adversarial registers at the rho ceiling (m_j = 52/53): the old
    double harmonic sum became rounding-order-dependent above register
    ~46; the integer-scaled sum (round-7, VERDICT #6) must be exact and
    permutation-independent — equal to the Fraction-free exact Python
    computation bit-for-bit, whatever the row order."""
    import random

    from nyc_open_data_pipeline_spark.plans.llmdata import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_P53,
        hll_estimate_cols,
        hll_register_agg,
    )

    regs = [
        (b, 53 if b % 3 == 0 else (52 if b % 3 == 1 else 1 + b % 7))
        for b in range(200)
    ]
    spi = sum(1 << (53 - m) for _, m in regs)
    v = _HLL_M - len(regs)
    exp_raw = (
        _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(_HLL_P53)
        / float(spi + v * _HLL_P53)
    )
    for seed in (0, 1, 2):
        rr = regs[:]
        random.Random(seed).shuffle(rr)
        df = spark.createDataFrame(rr, "b long, m_j long").repartition(8)
        vcol, raw, _est = hll_estimate_cols()
        row = (
            hll_register_agg(df)
            .select(vcol.alias("v"), raw.alias("raw"), "spi")
            .collect()[0]
        )
        assert row["spi"] == spi  # exact integer sum, any order
        assert row["v"] == v
        assert row["raw"] == exp_raw  # bit-identical double


def test_mp_design_sql_matches_python_both_thresholds():
    """The oracle's design CTE must reproduce vectors.multiprobe_design
    exactly at EVERY derivable width for both design points (synthetic
    0.3 and production 0.9) — a ceil-boundary double-rounding flip in
    either engine would silently change (R, radius) and desync the
    candidate sets."""
    import duckdb

    from nyc_open_data_pipeline_spark.functions import vectors as VEC
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        MP_MAX_RADIUS,
        MP_MAX_SETS,
        MP_TARGET_RECALL,
        MP_THRESHOLD,
        MP_THRESHOLD_HI,
        _sql_mp_design,
    )

    con = duckdb.connect()
    for thr in (MP_THRESHOLD, MP_THRESHOLD_HI):
        for nbits in range(4, 17):
            q = (
                f"WITH w0 AS (SELECT {nbits} AS nbits, 64 AS dim), "
                f"{_sql_mp_design(thr)} SELECT r_sets, radius FROM w"
            )
            got = con.sql(q).fetchall()[0]
            exp = VEC.multiprobe_design(
                nbits, thr, MP_TARGET_RECALL, MP_MAX_SETS, MP_MAX_RADIUS
            )
            assert tuple(got) == exp, (thr, nbits, got, exp)
            if thr == MP_THRESHOLD_HI:
                # the round-7 claim, amended by the round-9 recall floor:
                # production-threshold designs stay single-digit sets and
                # radius <= 1, with radius nonzero ONLY at narrow widths
                # (nbits <= NARROW_WIDTH_BITS). Rationale for the
                # amendment: at thr=0.9/nbits=4 the radius-0 design is
                # (1 set, union 0.538) — the slimmest margin of ANY hi-
                # threshold width (nbits=5 gives 0.709, nbits=8 0.641),
                # i.e. exactly the zero-margin regime the floor exists
                # for; flooring lifts union to 0.899 for one 5-mask
                # probe ring on a single set, so plan size stays trivial.
                assert exp[0] <= 9 and exp[1] <= 1, (nbits, exp)
                if nbits > VEC.NARROW_WIDTH_BITS:
                    assert exp[1] == 0, (nbits, exp)


def test_kcenter_batched_equals_sequential_with_fewer_passes(spark, sf_dir):
    """The k-center|| batching (round 8) must change the SCAN COUNT, not
    the answer: ids and radii equal the one-pick-per-pass loop (batch=1
    degenerates to it exactly), and the batched run proves several picks
    per fetch so the distributed pass count drops strictly below k-1."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.functions import vectors as VEC
    from nyc_open_data_pipeline_spark.plans.common import t
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        _KC_K,
        _kcenter_greedy_batched,
    )

    pts = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        VEC.norm(F.col("embedding")).alias("nrm"),
    )
    seq, seq_passes = _kcenter_greedy_batched(pts, _KC_K, 1)
    bat, bat_passes = _kcenter_greedy_batched(pts, _KC_K, _KC_K)
    assert seq_passes == _KC_K - 1
    assert bat == seq, "batched greedy diverged from the sequential picks"
    assert bat_passes < _KC_K - 1, (
        f"batching yielded no pass reduction ({bat_passes} passes)"
    )


def test_star_components_match_label_propagation_and_survive_long_chains(spark):
    """star_components must produce exactly dedup_clusters' labels on a
    general random graph (both are exact CC), AND solve a 400-node chain
    — diameter 399, where label propagation's O(diameter) rounds exceed
    any sane iteration budget while star contraction needs ~log rounds."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        star_components,
    )

    # deterministic random graph: 120 nodes, ~100 hash-derived edges
    nodes = spark.range(120).select(F.col("id"))
    edges = spark.range(100).select(
        (F.xxhash64("id") % 120).alias("id_a"),
        (F.xxhash64(F.col("id") + 1000) % 120).alias("id_b"),
    ).select(F.abs("id_a").alias("id_a"), F.abs("id_b").alias("id_b"))
    star = {
        (r["id"], r["cluster_id"])
        for r in star_components(nodes, edges).collect()
    }
    prop = {
        (r["id"], r["cluster_id"])
        for r in dedup_clusters(nodes, edges, max_iters=200).collect()
    }
    assert star == prop

    # a single 400-chain: every node must label to 0 in O(log) alternations
    cnodes = spark.range(400).select(F.col("id"))
    cedges = spark.range(399).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels = star_components(cnodes, cedges).collect()
    assert all(r["cluster_id"] == 0 for r in labels)
    assert len(labels) == 400


def test_star_components_giant_star_takes_join_attach(spark, monkeypatch):
    """The adaptive attach's whole point (round 9/10): a giant star — one
    component minimum owning ~every edge — must route to the AQE-skew-
    splittable JOIN attach, not serialize into one window task, and still
    produce exact labels. The fixture graphs (bounded chains) never
    exercise this path, which is how the half-wired refactor shipped
    broken in round 9; this test pins both the routing and the result."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators import dedup as DD

    # hub star: 300 spokes all attached to node 0. Canonical hi-groups
    # are ALL size 1 (0 sits in lo everywhere); the symmetric u=0 group
    # holds all 300 edges — exactly the shape the sym-side measure exists
    # to catch (a hi-side measure reads max_group=1 and routes windowed).
    nodes = spark.range(301).select(F.col("id"))
    edges = spark.range(1, 301).select(
        F.col("id").alias("id_a"), F.lit(0).alias("id_b")
    )
    monkeypatch.setattr(DD, "_WINDOW_ATTACH_MAX_GROUP", 100)
    labels = DD.star_components(nodes, edges).collect()
    assert len(labels) == 301
    assert all(r["cluster_id"] == 0 for r in labels)
    assert DD._LAST_ATTACH_MODES, "no rounds recorded"
    assert not any(DD._LAST_ATTACH_MODES), (
        f"giant star routed to the window attach: {DD._LAST_ATTACH_MODES}"
    )

    # and the same graph above the threshold keeps the window fast path
    monkeypatch.setattr(DD, "_WINDOW_ATTACH_MAX_GROUP", 4_000_000)
    labels = DD.star_components(nodes, edges).collect()
    assert all(r["cluster_id"] == 0 for r in labels)
    assert all(DD._LAST_ATTACH_MODES), (
        f"bounded star fell off the window fast path: {DD._LAST_ATTACH_MODES}"
    )


def test_star_components_flips_to_join_when_giant_star_forms(spark, monkeypatch):
    """The routing is LAGGED one round (the measure rides each round's own
    checkpoint job): a graph that STARTS skinny but contracts into a giant
    star must begin on the window path and flip to the join path as soon
    as the observed max group crosses the threshold. A chain is the
    canonical such graph — initial degree <= 2, but star contraction
    roughly doubles node 0's star every alternation, so with a low
    threshold the modes must be monotone True...False with both present,
    and the labels still exact."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators import dedup as DD

    n = 512
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    monkeypatch.setattr(DD, "_WINDOW_ATTACH_MAX_GROUP", 40)
    labels = DD.star_components(nodes, edges).collect()
    assert len(labels) == n
    assert all(r["cluster_id"] == 0 for r in labels)
    modes = list(DD._LAST_ATTACH_MODES)
    assert modes[0] is True, f"chain did not start on the window path: {modes}"
    assert modes[-1] is False, f"giant star never flipped to join: {modes}"
    # single flip: once a giant star exists it never shrinks below the
    # threshold (contraction only merges stars), so True never recurs
    assert modes == sorted(modes, reverse=True), f"modes flapped: {modes}"


def test_hll_rollup_merge_equals_direct_build(spark, sf_dir):
    """The sk6 mergeability claim, asserted exactly: day registers built
    by register-wise MAX over stored HOUR sketches must equal the day
    registers built directly from the facts — so a sketch cube can roll
    up without ever rescanning events."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators import dedup as DD
    from nyc_open_data_pipeline_spark.plans.common import t
    from nyc_open_data_pipeline_spark.plans.llmdata import _HLL_M

    ev = t(spark, sf_dir, "events")
    h = DD._hash64(F.col("user_id").cast("string"))
    hh = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hr"),
        h.alias("h"),
    )
    h2 = F.shiftright(F.col("h"), 8)
    rho = F.when(h2 == 0, F.lit(53)).otherwise(
        F.instr(F.lpad(F.bin(h2), 52, "0"), "1")
    )
    rh = hh.groupBy("day", "hr", (F.col("h") % _HLL_M).alias("b")).agg(
        F.max(rho).alias("m_j")
    )
    merged = {
        (r["day"], r["b"]): r["m_j"]
        for r in rh.groupBy("day", "b").agg(F.max("m_j").alias("m_j")).collect()
    }
    direct = {
        (r["day"], r["b"]): r["m_j"]
        for r in hh.groupBy("day", (F.col("h") % _HLL_M).alias("b"))
        .agg(F.max(rho).alias("m_j"))
        .collect()
    }
    assert merged == direct


def test_star_components_join_attach_is_aqe_skew_splittable(spark, monkeypatch):
    """The join attach's REASON TO EXIST is that AQE can split the giant
    star's shuffle partition across tasks — but OptimizeSkewedJoin only
    matches a join whose both inputs are bare shuffle stages, and with the
    m-side partial agg INLINE the rule never fired (round-11 finding: the
    round-9/10 'AQE-skew-splittable' rationale was structurally void).
    star_components now checkpoints m in join mode; this test routes a
    200k-spoke hub star to the join attach under proportionally lowered
    skew thresholds and asserts the executed round plan actually carries a
    skew=true split."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.operators import dedup as DD

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n = 200_000
        nodes = spark.range(n + 1).select(F.col("id"))
        edges = spark.range(1, n + 1).select(
            F.col("id").alias("id_a"), F.lit(0).alias("id_b")
        )
        monkeypatch.setattr(DD, "_WINDOW_ATTACH_MAX_GROUP", 100)
        labels = DD.star_components(nodes, edges)
        assert labels.filter(F.col("cluster_id") != 0).count() == 0
        assert labels.count() == n + 1
        assert not any(DD._LAST_ATTACH_MODES), "did not route to the join attach"
        assert DD._LAST_ATTACH_PLANS, "no executed round plans recorded"
        assert any("skew=true" in p for p in DD._LAST_ATTACH_PLANS), (
            "AQE skew split absent from every round plan - the join attach "
            "has regressed to a shape OptimizeSkewedJoin cannot match"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_retire_local_checkpoint_actually_frees_blocks(spark):
    """ADVICE r12: DataFrame.unpersist() is a silent no-op on a
    localCheckpoint'd frame (cache manager has no entry for the
    LogicalRDD plan); retire_local_checkpoint must free the blocks NOW
    — gr1/gr2/gr3's per-round scratch retirement depends on it."""
    from nyc_open_data_pipeline_spark.session import retire_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    pre = cached_rdd_ids()  # other tests' session-cached frames stay out
    df = spark.range(50000).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    mine = cached_rdd_ids() - pre
    assert mine, "localCheckpoint left no storage blocks to measure"
    df.unpersist()  # documented no-op
    assert cached_rdd_ids() >= mine
    retire_local_checkpoint(df)
    assert not cached_rdd_ids() & mine, "checkpoint blocks were not freed"


def test_lit_array_helpers_match_per_component_literals(spark):
    """Round-13: plane/mask array literals build as one parsed expr —
    values and types must be bit-identical to the per-component F.lit
    construction, including round-trip-critical doubles; non-finite
    values take the fallback path and still land exactly."""
    import math

    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.functions.vectors import (
        lit_double_array,
        lit_long_array,
    )

    doubles = [1.0, -1.0, 0.1, -0.3, 1e-300, 3.141592653589793, 2**53 + 1.0]
    longs = [1 << i for i in range(63)] + [-5, 0]
    df = spark.range(1)
    old_d = F.array(*[F.lit(float(x)) for x in doubles])
    old_l = F.array(*[F.lit(int(x)).cast("long") for x in longs])
    row = df.select(
        lit_double_array(doubles).alias("nd"),
        old_d.alias("od"),
        lit_long_array(longs).alias("nl"),
        old_l.alias("ol"),
    ).collect()[0]
    assert [x.hex() for x in row["nd"]] == [x.hex() for x in row["od"]]
    assert row["nl"] == row["ol"]
    types = dict(df.select(lit_double_array(doubles).alias("nd"),
                           lit_long_array(longs).alias("nl")).dtypes)
    assert types == {"nd": "array<double>", "nl": "array<bigint>"}
    nan_row = df.select(lit_double_array([float("nan"), 1.0]).alias("v")).collect()[0]
    assert math.isnan(nan_row["v"][0]) and nan_row["v"][1] == 1.0


def test_fused_media_meta_equals_chained(spark):
    """Round-14 optimization: mm4/mm5/mm6 fuse their attach+decode
    mapInPandas pair into one Python stage so the media payload never
    crosses the JVM boundary. The fused operators must be row-identical
    to the chained compositions they replace — same codec code runs on
    both sides, pinned here over a corpus slice that exercises every
    doc-derived parameter branch."""
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        attach_avi_payload,
        attach_png_payload,
        attach_wav_payload,
        avi_meta_from_docs,
        decode_audio_meta,
        decode_video_meta,
        png_pixel_stats,
        png_pixel_stats_from_docs,
        wav_meta_from_docs,
    )

    docs = spark.createDataFrame(
        [(i, "word " * (3 + i % 11) + "tail", 17 + i * 13) for i in range(40)],
        "doc_id long, text string, n_chars long",
    )
    for fused, chained in [
        (wav_meta_from_docs(docs), decode_audio_meta(attach_wav_payload(docs))),
        (
            png_pixel_stats_from_docs(docs),
            png_pixel_stats(attach_png_payload(docs)),
        ),
        (avi_meta_from_docs(docs), decode_video_meta(attach_avi_payload(docs))),
    ]:
        a = sorted(map(tuple, fused.collect()))
        b = sorted(map(tuple, chained.collect()))
        assert a == b and len(a) == 40
