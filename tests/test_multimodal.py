"""Binary media columns: format sniffing (JVM-side) and the header
parsers for image dimensions and audio/video durations."""


def test_media_pipeline(spark):
    "attach_media_meta's six-way sniff, JVM-side: png, jpeg, gif, riff, mp4, unknown."
    from trafilatura_spark.operators.multimodal import attach_media_meta

    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 64),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 64),
        (3, b"GIF89a" + b"z" * 32),
        (4, b"RIFF\x00\x00\x00\x00WAVE" + b"a" * 128),
        (5, b"\x00\x00\x00\x18ftypmp42" + b"v" * 256),
        (6, b"not a known container"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    meta = attach_media_meta(df)
    assert meta.columns == ["media_id", "payload", "format", "n_bytes"]
    out = {r.media_id: r for r in meta.collect()}
    assert {k: r.format for k, r in out.items()} == {
        1: "png", 2: "jpeg", 3: "gif", 4: "riff", 5: "mp4", 6: "unknown"
    }
    assert {k: r.n_bytes for k, r in out.items()} == {k: len(p) for k, p in rows}
    assert all(bytes(out[k].payload) == p for k, p in rows)
    # no Python stage: the sniff is built-in functions on the binary column
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "MapInPandas" not in plan and "BatchEvalPython" not in plan


def _png(w, h):
    import struct, zlib as z
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", z.crc32(chunk) & 0xFFFFFFFF))


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00;"


def _jpeg(w, h):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_image_dimensions_real_header_parse(spark):
    """PNG/GIF dims come from JVM-side header arithmetic, JPEG from the
    real stdlib SOF scan — no image library, no decode."""
    from trafilatura_spark.operators.multimodal import image_dimensions, jpeg_dimensions

    assert jpeg_dimensions(_jpeg(640, 480)) == (640, 480)
    assert jpeg_dimensions(b"\xff\xd8\xff\xee garbage") is None
    assert jpeg_dimensions(b"not a jpeg") is None
    # 0xFF fill bytes before a marker (JPEG B.1.1.2) are padding, not a
    # segment — a padded-but-valid file must still parse
    import struct
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 1) + b"\x01\x11\x00"
    assert jpeg_dimensions(b"\xff\xd8" + b"\xff" * 5 + sof0 + b"\xff\xd9") == (640, 480)
    # EOI before any SOF frame header ends the scan (no seglen misparse)
    assert jpeg_dimensions(b"\xff\xd8\xff\xd9" + b"\x04\x00" + b"x" * 32) is None

    rows = [
        (1, bytearray(_png(800, 600))),
        (2, bytearray(_gif(320, 200))),
        (3, bytearray(_jpeg(1024, 768))),
        (4, bytearray(b"plain bytes, not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in image_dimensions(df).collect()}
    assert (out[1].width, out[1].height, out[1].dim_source) == (800, 600, "jvm-header")
    assert (out[2].width, out[2].height, out[2].dim_source) == (320, 200, "jvm-header")
    assert (out[3].width, out[3].height, out[3].dim_source) == (1024, 768, "sof-scan")
    assert out[4].width is None and out[4].dim_source is None
    # png/gif rows must NOT pass through Python (only the jpeg branch does)
    plan = image_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    # every branch names the id column after the caller's
    renamed = image_dimensions(df.withColumnRenamed("media_id", "image_id"), id_col="image_id")
    assert sorted((r.image_id, r.width) for r in renamed.collect()) == [(1, 800), (2, 320), (3, 1024), (4, None)]


def _wav(seconds: float, sample_rate: int = 8000, block: int = 2):
    import struct
    byte_rate = sample_rate * block
    data = b"\x00" * int(seconds * byte_rate)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, block, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"LIST" + struct.pack("<I", 4) + b"INFO"   # extra chunk to force a real walk
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp4(duration: int, timescale: int = 1000, version: int = 0):
    import struct
    if version:
        mvhd_body = (b"\x01\x00\x00\x00" + b"\x00" * 16
                     + struct.pack(">I", timescale) + struct.pack(">Q", duration))
    else:
        mvhd_body = (b"\x00\x00\x00\x00" + b"\x00" * 8
                     + struct.pack(">I", timescale) + struct.pack(">I", duration))
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    free = struct.pack(">I", 12) + b"free" + b"pad!"     # sibling box before mvhd
    moov = struct.pack(">I", 8 + len(free) + len(mvhd)) + b"moov" + free + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def test_media_durations_real_header_parse(spark):
    """WAV (RIFF chunk walk) and MP4 (ISO-BMFF box walk to mvhd) durations
    from real container headers — no audio/video library, no decode; only
    riff/mp4 rows cross into Python."""
    from trafilatura_spark.operators.multimodal import (
        media_durations, mp4_duration, wav_duration,
    )

    assert wav_duration(_wav(2.5)) == 2.5
    assert wav_duration(b"RIFFxxxxNOPE") is None
    assert wav_duration(b"junk") is None
    # truncated INSIDE the fmt chunk: byte_rate would be read from a short
    # slice (tiny bogus rate -> huge wrong duration) — must be None (ADVICE r5)
    full = _wav(2.5)
    assert wav_duration(full[:30]) is None  # fmt chunk header present, body cut
    import struct as _s
    tiny_fmt = (b"RIFF" + _s.pack("<I", 36) + b"WAVE"
                + b"fmt " + _s.pack("<I", 8) + b"\x00" * 8  # fmt declares only 8 bytes
                + b"\x00" * 12)  # trailing bytes so only the size guard can reject
    assert wav_duration(tiny_fmt) is None
    assert mp4_duration(_mp4(90_000, 1000)) == 90.0
    assert mp4_duration(_mp4(48_000 * 60, 48_000, version=1)) == 60.0
    assert mp4_duration(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00") is None

    rows = [
        (1, bytearray(_wav(1.25))),
        (2, bytearray(_mp4(30_000, 1000))),
        (3, bytearray(b"not media at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in media_durations(df).collect()}
    assert abs(out[1].duration_s - 1.25) < 1e-6 and out[1].duration_source == "container-header"
    assert abs(out[2].duration_s - 30.0) < 1e-6 and out[2].format == "mp4"
    assert out[3].duration_s is None and out[3].duration_source is None
    plan = media_durations(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    renamed = media_durations(df.withColumnRenamed("media_id", "clip_id"), id_col="clip_id")
    assert sorted(r.clip_id for r in renamed.collect()) == [1, 2, 3]
