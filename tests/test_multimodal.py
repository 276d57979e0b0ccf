"""Multimodal tests: codegen header parsers, the Arrow-batched
variable-offset walks, and codec-free pixel/sample decoders over binary
columns (sources/multimodal.py)."""

from __future__ import annotations

import pytest


def test_image_header_dims_parses_real_png_and_gif(spark):
    """Header parsing is REAL byte arithmetic (not a stub): hand-built
    PNG IHDR / GIF screen-descriptor bytes must yield the exact encoded
    dimensions, JPEG is format-detected with null dims, junk is unknown."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        image_header_dims,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x02\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    junk = b"not an image at all"
    # canonical bottom-up BMP and a top-down one (negative height)
    bmp = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
           + struct.pack("<IiiHH", 40, 800, 600, 1, 24) + b"\x00" * 16)
    bmp_td = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
              + struct.pack("<IiiHH", 40, 128, -64, 1, 24) + b"\x00" * 16)
    media = spark.createDataFrame(
        [(1, png), (2, gif), (3, jpeg), (4, junk), (5, bmp), (6, bmp_td)],
        "media_id bigint, content binary",
    )
    got = {
        r["media_id"]: (r["format"], r["header_width"], r["header_height"])
        for r in image_header_dims(media).collect()
    }
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("gif", 320, 200)
    assert got[3] == ("jpeg", None, None)
    assert got[4] == ("unknown", None, None)
    assert got[5] == ("bmp", 800, 600)
    assert got[6] == ("bmp", 128, 64)  # top-down height sign-decoded


def test_bmp_magic_alone_is_not_enough(spark):
    """Finding from review: 2 bytes of magic misfire on arbitrary blobs
    ("BMW...") and BITMAPCOREHEADER dims live at different offsets — both
    must come back unknown / dims-NULL, never confident garbage."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        image_header_dims,
    )

    text_blob = b"BMW is a carmaker, not a bitmap header" + b"\x00" * 20
    core = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 640, 480, 1, 24) + b"\x00" * 8)
    v5 = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 138)
          + struct.pack("<IiiHH", 124, 320, -240, 1, 32) + b"\x00" * 108)
    media = spark.createDataFrame(
        [(1, text_blob), (2, core), (3, v5)],
        "media_id bigint, content binary",
    )
    got = {
        r["media_id"]: (r["format"], r["header_width"], r["header_height"])
        for r in image_header_dims(media).collect()
    }
    assert got[1] == ("unknown", None, None)   # magic alone rejected
    assert got[2] == ("bmp", None, None)       # CORE: dims offsets differ
    assert got[3] == ("bmp", 320, 240)         # V5: same offsets, abs()


def test_image_header_dims_is_codegen_only(spark):
    from java_etl_bi_generator_spark.plans import explain_simple
    from java_etl_bi_generator_spark.sources.multimodal import (
        image_header_dims,
        synthetic_media,
    )

    plan = explain_simple(image_header_dims(synthetic_media(spark, n=4)))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _minimal_jpeg(width, height, progressive=False):
    """SOI + APP0(JFIF) + [DQT filler] + SOF0/SOF2 + EOI — the smallest
    structurally valid marker stream carrying real dimensions."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 5) + b"\x00\x01\x02"
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = (
        sof_marker
        + struct.pack(">H", 17)          # segment length
        + b"\x08"                         # precision
        + struct.pack(">HH", height, width)
        + b"\x03"                         # 3 components
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def test_jpeg_sof_dims_pure():
    from java_etl_bi_generator_spark.sources.multimodal import jpeg_sof_dims

    assert jpeg_sof_dims(_minimal_jpeg(320, 240)) == (320, 240)
    assert jpeg_sof_dims(_minimal_jpeg(1, 65535, progressive=True)) == (1, 65535)
    assert jpeg_sof_dims(b"\xff\xd8\xff\xd9") is None      # no SOF
    assert jpeg_sof_dims(b"not jpeg") is None
    assert jpeg_sof_dims(b"\xff\xd8\xff\xdb\x00\x00") is None  # corrupt len
    # restart markers and filler FF bytes must be skipped, not parsed
    weird = b"\xff\xd8" + b"\xff\xff" + b"\xff\xd0" + _minimal_jpeg(7, 9)[2:]
    assert jpeg_sof_dims(weird) == (7, 9)


def test_image_dims_arrow_covers_png_gif_jpeg(spark):
    """The Arrow decode path yields real dims for all three formats —
    including JPEG via the SOF marker scan that codegen cannot express."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        image_dims_arrow,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x02\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    media = spark.createDataFrame(
        [
            (1, png),
            (2, gif),
            (3, _minimal_jpeg(800, 600)),
            (4, _minimal_jpeg(12, 34, progressive=True)),
            (5, b"junk"),
            (6, None),
        ],
        "media_id bigint, content binary",
    )
    got = {
        r["media_id"]: (r["format"], r["width"], r["height"])
        for r in image_dims_arrow(media).collect()
    }
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("gif", 320, 200)
    assert got[3] == ("jpeg", 800, 600)
    assert got[4] == ("jpeg", 12, 34)
    assert got[5] == ("unknown", None, None)
    assert got[6] == ("unknown", None, None)


def _wav_bytes(channels=2, rate=44100, bits=16, n_samples=44100):
    """Canonical PCM WAV: RIFF + 16-byte fmt + data header."""
    import struct

    data_len = n_samples * channels * bits // 8
    hdr = b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    hdr += b"data" + struct.pack("<I", data_len)
    return hdr + b"\x00" * min(data_len, 64)  # truncated payload is fine


def test_audio_header_meta_codegen_parse(spark):
    from java_etl_bi_generator_spark.sources.multimodal import audio_header_meta

    rows = [
        (0, _wav_bytes(channels=2, rate=44100, bits=16, n_samples=44100)),
        (1, _wav_bytes(channels=1, rate=16000, bits=8, n_samples=8000)),
        (2, b"\x89PNG\r\n\x1a\x0anot audio"),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, content binary")
    got = {r["media_id"]: r for r in audio_header_meta(df).collect()}

    assert got[0]["audio_format"] == "wav"
    assert (got[0]["channels"], got[0]["sample_rate"], got[0]["bits_per_sample"]) == (2, 44100, 16)
    assert got[0]["duration_ms"] == 1000  # exactly one second of samples

    assert got[1]["channels"] == 1 and got[1]["sample_rate"] == 16000
    assert got[1]["duration_ms"] == 500  # 8000 samples at 16 kHz

    assert got[2]["audio_format"] == "unknown"
    assert got[2]["channels"] is None and got[2]["duration_ms"] is None


def test_audio_header_meta_stays_in_codegen(spark):
    from java_etl_bi_generator_spark.plans.plan_tools import explain_simple
    from java_etl_bi_generator_spark.sources.multimodal import audio_header_meta

    df = spark.createDataFrame(
        [(0, _wav_bytes())], "media_id bigint, content binary"
    )
    plan = explain_simple(audio_header_meta(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _mp4_bytes(ver: int = 0, timescale: int = 1000, duration: int = 5400) -> bytes:
    """Minimal ISO-BMFF stream: ftyp(isom) + moov{mvhd}."""
    ftyp = b"ftyp" + b"isom" + (0).to_bytes(4, "big") + b"isom"
    ftyp = (8 + len(ftyp) - 4).to_bytes(4, "big") + ftyp
    if ver == 0:
        payload = (
            bytes([0, 0, 0, 0])                      # version 0 + flags
            + (0).to_bytes(4, "big") * 2             # ctime, mtime
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
        )
    else:
        payload = (
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2             # ctime, mtime (64)
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
        )
    mvhd = (8 + len(payload)).to_bytes(4, "big") + b"mvhd" + payload
    moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    return ftyp + moov


def test_mp4_box_walk_brand_and_duration():
    from java_etl_bi_generator_spark.sources.multimodal import mp4_box_meta

    assert mp4_box_meta(_mp4_bytes(0, 1000, 5400)) == ("isom", 5400)
    assert mp4_box_meta(_mp4_bytes(1, 90000, 90000 * 7)) == ("isom", 7000)
    assert mp4_box_meta(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20) == (None, None)
    assert mp4_box_meta(b"") == (None, None)
    # ftyp alone (fragmented stream without moov): brand, no duration
    frag = _mp4_bytes()[:16]
    assert mp4_box_meta(frag) == ("isom", None)


def test_video_header_meta_arrow_path(spark):
    from java_etl_bi_generator_spark.sources.multimodal import (
        video_header_meta,
    )

    rows = [
        (1, "video", bytearray(_mp4_bytes(0, 600, 1200))),   # 2000 ms
        (2, "image", bytearray(b"\x89PNG\r\n\x1a\n")),       # filtered out
        (3, "video", bytearray(b"not a video")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, content binary"
    )
    got = {r["media_id"]: r for r in video_header_meta(media).collect()}
    assert set(got) == {1, 3}
    assert (got[1]["brand"], got[1]["duration_ms"]) == ("isom", 2000)
    assert got[1]["video_format"] == "mp4"
    assert got[3]["video_format"] == "unknown"
    assert got[3]["duration_ms"] is None


def _wav_noncanonical(channels=1, rate=8000, bits=16, n_samples=8000):
    """WAV with a LIST/INFO chunk BEFORE an 18-byte (extensible-style)
    fmt chunk and an odd-sized junk chunk (exercising even padding) —
    the layouts the fixed-offset codegen parse nulls out."""
    import struct

    data_len = n_samples * channels * bits // 8
    info = b"INFOICMT" + struct.pack("<I", 4) + b"test"
    body = b"LIST" + struct.pack("<I", len(info)) + info
    body += b"junk" + struct.pack("<I", 3) + b"ab\x00" + b"\x00"  # pad to even
    body += b"fmt " + struct.pack(
        "<IHHIIHHH", 18, 0xFFFE, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits, 0,
    )
    body += b"data" + struct.pack("<I", data_len) + b"\x00" * 32
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_chunk_walk_general_layouts():
    from java_etl_bi_generator_spark.sources.multimodal import (
        audio_header_meta,
        wav_chunk_meta,
    )

    # canonical file: the walk and the codegen parse agree
    canon = _wav_bytes(channels=2, rate=44100, bits=16, n_samples=44100)
    assert wav_chunk_meta(canon) == (44100, 2, 16, 1000)
    # non-canonical: LIST before an 18-byte fmt, odd-size padding
    nc = _wav_noncanonical(channels=1, rate=8000, bits=16, n_samples=8000)
    assert wav_chunk_meta(nc) == (8000, 1, 16, 1000)
    # fmt but no data chunk: fields present, duration unknown
    nofmt = canon[: 12 + 8 + 16]
    assert wav_chunk_meta(nofmt) == (44100, 2, 16, None)
    # not RIFF/WAVE at all
    assert wav_chunk_meta(b"\x89PNG\r\n\x1a\n") == (None, None, None, None)
    assert wav_chunk_meta(b"") == (None, None, None, None)
    # non-byte-aligned bit depth: duration divides in BITS (12-bit mono
    # at 8 kHz -> 12000 B/s; a bits//8 byte rate would report 1500 ms)
    nb = _wav_noncanonical(channels=1, rate=8000, bits=12, n_samples=8000)
    assert wav_chunk_meta(nb) == (8000, 1, 12, 1000)


def test_audio_meta_arrow_path(spark):
    from java_etl_bi_generator_spark.sources.multimodal import (
        audio_header_meta,
        audio_meta_arrow,
    )

    nc = _wav_noncanonical()
    rows = [
        (1, "audio", bytearray(_wav_bytes(2, 44100, 16, 22050))),
        (2, "audio", bytearray(nc)),
        (3, "video", bytearray(b"filtered out")),
        (4, "audio", bytearray(b"not audio")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, content binary"
    )
    got = {r["media_id"]: r for r in audio_meta_arrow(media).collect()}
    assert set(got) == {1, 2, 4}
    assert (got[1]["sample_rate"], got[1]["channels"],
            got[1]["bits_per_sample"], got[1]["duration_ms"]) == (
        44100, 2, 16, 500)
    # the general walk recovers what the codegen parse nulls out
    assert (got[2]["sample_rate"], got[2]["duration_ms"]) == (8000, 1000)
    codegen = {
        r["media_id"]: r
        for r in audio_header_meta(
            media.filter("modality = 'audio'")
        ).collect()
    }
    assert codegen[2]["sample_rate"] is None  # fixed-offset parse: nulls
    assert got[4]["audio_format"] == "unknown"
    assert got[4]["sample_rate"] is None


def test_media_header_roundtrip_matches_derivation(spark, sf_dir):
    """q_media_header_roundtrip's parsed fields must equal the doc_id
    parameter derivation computed INDEPENDENTLY in Python — a third
    implementation, so the Spark/DuckDB hash match can't be a shared
    construction bug.  Also pins that the blobs are real containers:
    Python's own byte parsers (int.from_bytes on the raw blob) agree."""
    from java_etl_bi_generator_spark.functions.mediahex import (
        WAV_BITS,
        WAV_RATES,
    )
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_media_header_roundtrip"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:60]:
        d = r["doc_id"]
        blob = bytes.fromhex(r["blob_hex"])
        assert r["byte_len"] == len(blob)
        if d % 3 == 0:
            assert r["container"] == "png"
            assert r["width"] == 16 + (d * 37) % 4080
            assert r["height"] == 16 + (d * 61) % 2160
            assert blob[:8] == b"\x89PNG\r\n\x1a\n"
            assert int.from_bytes(blob[16:20], "big") == r["width"]
        elif d % 3 == 1:
            assert r["container"] == "gif"
            assert r["width"] == 16 + (d * 37) % 60000
            assert int.from_bytes(blob[6:8], "little") == r["width"]
        else:
            assert r["container"] == "wav"
            ch = 1 + d % 2
            rate = WAV_RATES[d % 5]
            bits = WAV_BITS[d % 7 % 3]
            db = 1000 + (d * 97) % 100000
            assert (r["channels"], r["sample_rate"],
                    r["bits_per_sample"]) == (ch, rate, bits)
            assert r["duration_ms"] == db * 8 * 1000 // (rate * ch * bits)
            assert int.from_bytes(blob[40:44], "little") == db


def test_bmp_pixel_stats_golden_bytes(spark):
    """Decode a hand-built 2x1 24-bit BMP (stride 8: 6 data bytes + 2
    pad) and check the parsed dims and channel sums against the bytes
    written — the decode must read the blob, not echo parameters."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        bmp_pixel_stats,
    )

    w, h = 2, 1
    stride = ((3 * w + 3) // 4) * 4
    # pixels: (B,G,R) = (10, 20, 30) and (40, 50, 60)
    row = bytes([10, 20, 30, 40, 50, 60]) + b"\x00" * (stride - 6)
    header = (
        b"BM"
        + struct.pack("<I", 54 + stride * h)
        + b"\x00\x00\x00\x00"
        + struct.pack("<I", 54)
        + struct.pack("<I", 40)
        + struct.pack("<i", w)
        + struct.pack("<i", h)
        + struct.pack("<H", 1)
        + struct.pack("<H", 24)
        + struct.pack("<I", 0)
        + struct.pack("<I", stride * h)
        + struct.pack("<I", 2835) * 2
        + struct.pack("<I", 0) * 2
    )
    df = spark.createDataFrame(
        [(1, header + row), (2, b"notabitmap")],
        "media_id int, content binary",
    )
    rows = {r["media_id"]: r for r in bmp_pixel_stats(df).collect()}
    good = rows[1]
    assert good["container"] == "bmp"
    assert (good["width"], good["height"], good["n_px"]) == (2, 1, 2)
    assert good["sum_b"] == 10 + 40
    assert good["sum_g"] == 20 + 50
    assert good["sum_r"] == 30 + 60
    assert good["luma_k"] == 299 * 90 + 587 * 70 + 114 * 50
    bad = rows[2]
    assert bad["container"] == "unknown"
    assert bad["sum_b"] is None and bad["luma_k"] is None


def test_bmp_channel_histogram_golden_bytes(spark):
    """Round-8 image features: the per-channel 4x64-level histogram on
    a hand-built 2x1 BMP with pixels chosen one per bin boundary — bin
    counts must total n_px, and non-BMP blobs yield null bins."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        bmp_channel_histogram,
    )

    w, h = 2, 1
    stride = ((3 * w + 3) // 4) * 4
    # pixels: (B,G,R) = (0, 64, 128) and (255, 63, 192)
    row = bytes([0, 64, 128, 255, 63, 192]) + b"\x00" * (stride - 6)
    header = (
        b"BM"
        + struct.pack("<I", 54 + stride * h)
        + b"\x00\x00\x00\x00"
        + struct.pack("<I", 54)
        + struct.pack("<I", 40)
        + struct.pack("<i", w)
        + struct.pack("<i", h)
        + struct.pack("<H", 1)
        + struct.pack("<H", 24)
        + struct.pack("<I", 0)
        + struct.pack("<I", stride * h)
        + struct.pack("<I", 2835) * 2
        + struct.pack("<I", 0) * 2
    )
    df = spark.createDataFrame(
        [(1, header + row), (2, b"notabitmap")],
        "media_id int, content binary",
    )
    rows = {
        (r["media_id"], r["channel"]): r
        for r in bmp_channel_histogram(df).collect()
    }
    b = rows[(1, "b")]        # bytes 0, 255 -> bins 0 and 3
    assert [b[f"bin_{k}"] for k in range(4)] == [1, 0, 0, 1]
    g = rows[(1, "g")]        # bytes 64, 63 -> bins 1 and 0
    assert [g[f"bin_{k}"] for k in range(4)] == [1, 1, 0, 0]
    r = rows[(1, "r")]        # bytes 128, 192 -> bins 2 and 3
    assert [r[f"bin_{k}"] for k in range(4)] == [0, 0, 1, 1]
    assert all(
        sum(rows[(1, c)][f"bin_{k}"] for k in range(4)) == 2
        for c in ("b", "g", "r")
    )
    bad = rows[(2, "b")]
    assert bad["bin_0"] is None and bad["n_px"] is None


def test_wav_pcm_stats_golden_bytes(spark):
    """Round-6 verdict task 4: the WAV-PCM decode on a hand-built blob
    with KNOWN samples — stereo, 3 frames, signed extremes included —
    plus a non-WAV blob (all-null stats) and an 8-bit PCM blob (header
    parses, sample stats null: only the 16-bit path is codegen)."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import wav_pcm_stats

    ch0 = [100, -200, 32767]
    ch1 = [0, -32768, 5]
    frames = b"".join(
        struct.pack("<hh", a, b) for a, b in zip(ch0, ch1)
    )

    def wav(channels: int, bits: int, data: bytes) -> bytes:
        byte_rate = 8000 * channels * bits // 8
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, 8000,
                          byte_rate, channels * bits // 8, bits)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    df = spark.createDataFrame(
        [
            (1, wav(2, 16, frames)),
            (2, b"not audio at all"),
            (3, wav(1, 8, bytes([1, 2, 3, 4]))),
        ],
        "media_id int, content binary",
    )
    rows = {
        (r["media_id"], r["channel"]): r
        for r in wav_pcm_stats(df).collect()
    }
    a = rows[(1, 0)]
    assert (a["container"], a["sample_rate"], a["channels"]) == ("wav", 8000, 2)
    assert (a["bits_per_sample"], a["n_frames"]) == (16, 3)
    assert a["sum_s"] == sum(ch0)
    assert a["sumsq_s"] == sum(v * v for v in ch0)
    assert a["peak_abs"] == 32767
    b = rows[(1, 1)]
    assert b["sum_s"] == sum(ch1)
    assert b["sumsq_s"] == sum(v * v for v in ch1)
    assert b["peak_abs"] == 32768
    bad = rows[(2, None)]
    assert bad["container"] == "unknown"
    assert bad["sum_s"] is None and bad["peak_abs"] is None
    pcm8 = rows[(3, None)]
    assert (pcm8["container"], pcm8["bits_per_sample"]) == ("wav", 8)
    assert pcm8["sum_s"] is None  # 8-bit payload: stats stay null


def test_wav_pcm_features_golden_bytes(spark):
    """Round-8 audio features on a hand-built blob with KNOWN samples:
    zero crossings counted as sign flips (non-negative = +, so the 0
    sample counts as positive), energy split at n div 2, and nulls for
    non-decodable blobs — same fixtures as the stats golden test."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        wav_pcm_features,
    )

    ch0 = [100, -200, 32767]     # + - +  -> 2 crossings
    ch1 = [0, -32768, 5]         # + - +  -> 2 crossings (0 counts +)
    frames = b"".join(
        struct.pack("<hh", a, b) for a, b in zip(ch0, ch1)
    )

    def wav(channels: int, bits: int, data: bytes) -> bytes:
        byte_rate = 8000 * channels * bits // 8
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, 8000,
                          byte_rate, channels * bits // 8, bits)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    df = spark.createDataFrame(
        [(1, wav(2, 16, frames)), (2, b"not audio at all")],
        "media_id int, content binary",
    )
    rows = {
        (r["media_id"], r["channel"]): r
        for r in wav_pcm_features(df).collect()
    }
    a = rows[(1, 0)]
    assert a["zcr_count"] == 2
    assert a["energy_first"] == 100 * 100               # first 1 frame
    assert a["energy_second"] == 200 * 200 + 32767 * 32767
    assert a["sumsq_s"] == a["energy_first"] + a["energy_second"]
    assert a["peak_abs"] == 32767
    b = rows[(1, 1)]
    assert b["zcr_count"] == 2
    assert b["energy_first"] == 0
    assert b["energy_second"] == 32768 * 32768 + 25
    assert b["peak_abs"] == 32768
    bad = rows[(2, None)]
    assert bad["zcr_count"] is None and bad["energy_first"] is None


def test_wav_pcm_stats_degenerate_blobs(spark):
    """Round-7 ADVICE: canonical WAVs with degenerate extents —
    channels=0 or an empty data chunk (n_frames=0) — must fall into the
    null-stats path like other non-decodable layouts, not produce
    garbage rows from sequence(0,-1) (or an ANSI divide-by-zero crash
    for channels=0)."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import wav_pcm_stats

    def wav(channels: int, bits: int, data: bytes) -> bytes:
        byte_rate = 8000 * channels * bits // 8
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, 8000,
                          byte_rate, channels * bits // 8, bits)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    df = spark.createDataFrame(
        [
            (1, wav(0, 16, b"")),               # zero channels
            (2, wav(1, 16, b"")),               # empty data chunk
            (3, wav(2, 16, struct.pack("<hh", 7, -7))),  # healthy control
        ],
        "media_id int, content binary",
    )
    rows = {
        (r["media_id"], r["channel"]): r
        for r in wav_pcm_stats(df).collect()
    }
    zero_ch = rows[(1, None)]
    assert zero_ch["container"] == "wav" and zero_ch["channels"] == 0
    assert zero_ch["n_frames"] is None  # guarded division, no crash
    assert zero_ch["sum_s"] is None and zero_ch["peak_abs"] is None
    empty = rows[(2, None)]
    assert empty["n_frames"] == 0
    assert empty["sum_s"] is None and empty["sumsq_s"] is None
    ok = rows[(3, 0)]
    assert ok["sum_s"] == 7 and ok["peak_abs"] == 7
    assert rows[(3, 1)]["sum_s"] == -7


def _canonical_mp4(
    brand: bytes = b"isom",
    minor: int = 7,
    created: int = 3_000_000_123,
    tsc: int = 600,
    dur: int = 1234,
    next_id: int = 2,
    version: int = 0,
) -> bytes:
    import struct

    matrix = struct.pack(
        ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )
    ftyp = struct.pack(">I", 20) + b"ftyp" + brand \
        + struct.pack(">I", minor) + brand
    mvhd = (
        struct.pack(">I", 108) + b"mvhd"
        + bytes([version, 0, 0, 0])
        + struct.pack(">IIII", created, created, tsc, dur)
        + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
        + b"\x00" * 10 + matrix + b"\x00" * 24
        + struct.pack(">I", next_id)
    )
    return ftyp + struct.pack(">I", 116) + b"moov" + mvhd


def test_mp4_header_meta_canonical_golden_bytes(spark):
    """Round-7 verdict task 4: the fixed-offset canonical MP4 parse on
    hand-built blobs with KNOWN fields — including a creation time past
    2^31 (i64 parse), an mvhd v1 (nulls: 64-bit fields break the fixed
    offsets), a reordered layout (free box first: nulls), and a
    non-MP4 blob (container unknown)."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        mp4_header_meta_canonical,
    )

    good = _canonical_mp4()
    v1 = _canonical_mp4(version=1)
    reordered = struct.pack(">I", 8) + b"free" + good
    df = spark.createDataFrame(
        [(1, good), (2, v1), (3, reordered), (4, b"plain text")],
        "media_id int, content binary",
    )
    rows = {r["media_id"]: r for r in mp4_header_meta_canonical(df).collect()}
    g = rows[1]
    assert g["container"] == "mp4" and g["major_brand"] == "isom"
    assert g["minor_version"] == 7
    assert g["creation_time"] == 3_000_000_123  # > 2^31: bigint parse
    assert (g["timescale"], g["duration"]) == (600, 1234)
    assert g["duration_ms"] == 1234 * 1000 // 600
    assert g["next_track_id"] == 2
    assert rows[2]["container"] == "mp4"  # still ISO-BMFF...
    assert rows[2]["timescale"] is None   # ...but v1 exits the fast lane
    assert rows[3]["container"] == "unknown"  # ftyp not first: Arrow walk
    assert rows[3]["duration"] is None
    assert rows[4]["container"] == "unknown"


def test_mp4_header_meta_stays_in_codegen(spark):
    """The canonical MP4 parse must be pure codegen — no Python worker,
    no BatchEvalPython / ArrowEvalPython in the plan (the scan-path
    guarantee the docstring claims)."""
    from java_etl_bi_generator_spark.sources.multimodal import (
        mp4_header_meta_canonical,
    )

    df = spark.createDataFrame(
        [(1, _canonical_mp4())], "media_id int, content binary"
    )
    plan = mp4_header_meta_canonical(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _canonical_jfif(
    w: int = 640, h: int = 480, dens: int = 72, units: int = 1
) -> bytes:
    import struct

    return (
        b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01"
        + bytes([units]) + struct.pack(">HH", dens, dens)
        + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03"
        + bytes.fromhex("012200021101031101")
    )


def test_jpeg_header_meta_canonical_golden_bytes(spark):
    """The fixed-offset canonical JFIF parse on hand-built blobs with
    KNOWN fields — plus an EXIF-first JPEG (container jpeg, null fields:
    APP1 breaks the fixed offsets → marker-scan path) and a non-JPEG."""
    import struct

    from java_etl_bi_generator_spark.sources.multimodal import (
        jpeg_header_meta_canonical,
    )

    good = _canonical_jfif(w=1024, h=768, dens=300)
    exif_first = (
        b"\xff\xd8\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
        + _canonical_jfif()[2:]
    )
    df = spark.createDataFrame(
        [(1, good), (2, exif_first), (3, b"GIF89a whatever")],
        "media_id int, content binary",
    )
    rows = {
        r["media_id"]: r for r in jpeg_header_meta_canonical(df).collect()
    }
    g = rows[1]
    assert g["container"] == "jpeg"
    assert (g["header_width"], g["header_height"]) == (1024, 768)
    assert (g["x_density"], g["y_density"], g["density_unit"]) == (300, 300, 1)
    assert g["n_components"] == 3
    assert rows[2]["container"] == "jpeg"      # still a JPEG...
    assert rows[2]["header_width"] is None      # ...but not canonical JFIF
    assert rows[3]["container"] == "unknown"


def test_jpeg_header_meta_stays_in_codegen(spark):
    from java_etl_bi_generator_spark.sources.multimodal import (
        jpeg_header_meta_canonical,
    )

    df = spark.createDataFrame(
        [(1, _canonical_jfif())], "media_id int, content binary"
    )
    plan = jpeg_header_meta_canonical(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["image_dims_arrow", "audio_meta_arrow", "video_header_meta"]
)
def test_arrow_media_pass_leaves_session_batch_size_alone(spark, name):
    """Building an Arrow media pass must not rewrite the session's Arrow
    batch size: every later Arrow pass in the session (the k-means
    assignment, the Gram partials) reads it."""
    from java_etl_bi_generator_spark.sources import multimodal

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    getattr(multimodal, name)(multimodal.synthetic_media(spark, 6))
    assert spark.conf.get(key) == before
