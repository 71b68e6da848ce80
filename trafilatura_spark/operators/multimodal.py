"""Binary media columns: container sniffing and header-only metadata.

Images/audio/video ride along as `binary` columns; no pixel or sample is
decoded (no image/audio library is needed):

- `attach_media_meta`: JVM-side format and size sniffing (magic numbers
  via built-in functions on the binary column — no Python).
- `image_dimensions`: PNG/GIF dimensions by JVM-side header arithmetic,
  JPEG by a stdlib SOF-segment scan.
- `media_durations`: WAV/MP4 durations by stdlib RIFF chunk and ISO-BMFF
  box walks.

The scans run on the shared Arrow batch loop (arrow_batches.py) over the
rows of their formats only; every other row never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, IntegerType

from .arrow_batches import map_batches, map_turns

# magic-number prefixes, hex-encoded (JVM-side sniffing, no Python)
_MAGIC = {
    "png": "89504e47",
    "jpeg": "ffd8ff",
    "gif": "474946",
    "riff": "52494646",  # wav/webp container
    "mp4": "66747970",  # 'ftyp' at offset 4; checked separately
}


def attach_media_meta(df: DataFrame, id_col: str = "media_id", bin_col: str = "payload") -> DataFrame:
    "Sniff container format and size from the binary column, JVM-side."
    hexhead = F.lower(F.hex(F.substring(F.col(bin_col), 1, 8)))
    fmt = (
        F.when(hexhead.startswith(_MAGIC["png"]), "png")
        .when(hexhead.startswith(_MAGIC["jpeg"]), "jpeg")
        .when(hexhead.startswith(_MAGIC["gif"]), "gif")
        .when(hexhead.startswith(_MAGIC["riff"]), "riff")
        .when(F.substring(hexhead, 9, 8) == _MAGIC["mp4"], "mp4")
        .otherwise("unknown")
    )
    return df.select(
        F.col(id_col),
        F.col(bin_col),
        fmt.alias("format"),
        F.length(bin_col).cast("int").alias("n_bytes"),
    )


def _be32(bin_col, pos: int):
    "Big-endian uint32 at 1-based byte offset, JVM-side."
    return F.conv(F.hex(F.substring(bin_col, pos, 4)), 16, 10).cast("int")


def _le16(bin_col, pos: int):
    "Little-endian uint16 at 1-based byte offset, JVM-side (byte swap)."
    return F.conv(
        F.concat(F.hex(F.substring(bin_col, pos + 1, 1)), F.hex(F.substring(bin_col, pos, 1))),
        16, 10,
    ).cast("int")


def jpeg_dimensions(payload: bytes):
    """REAL JPEG dimension parse (no image library): walk the segment
    stream to the first SOF0/1/2 frame header and read height/width
    (big-endian at +5/+7 inside the segment).  Returns (w, h) or None —
    never raises."""
    try:
        if not payload or payload[:2] != b"\xff\xd8":
            return None
        i, n = 2, len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker == 0xFF:
                i += 1  # fill byte: 0xFF padding before a marker (B.1.1.2)
                continue
            if marker == 0xD9:
                return None  # EOI before any SOF frame header
            if marker in (0xC0, 0xC1, 0xC2):
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return (w, h) if w and h else None
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # parameterless markers
                continue
            seglen = int.from_bytes(payload[i + 2 : i + 4], "big")
            if seglen < 2:
                return None
            i += 2 + seglen
        return None
    except Exception:
        return None


def wav_duration(payload: bytes):
    """REAL RIFF/WAVE duration parse (no audio library): walk the chunk
    list for 'fmt ' (byte rate) and 'data' (payload size); duration =
    data_size / byte_rate.  Returns seconds or None — never raises."""
    try:
        if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        i, n = 12, len(payload)
        byte_rate = data_size = None
        while i + 8 <= n:
            cid = payload[i : i + 4]
            size = int.from_bytes(payload[i + 4 : i + 8], "little")
            # byte_rate is read from payload[i+16:i+20], so the file must
            # reach i+20 (and the fmt chunk itself must declare >= 12
            # bytes) — a truncated fmt chunk otherwise yields a short
            # slice, a tiny bogus byte_rate, and a huge wrong duration
            if cid == b"fmt " and i + 20 <= n and size >= 12:
                byte_rate = int.from_bytes(payload[i + 16 : i + 20], "little")
            elif cid == b"data":
                data_size = size
            if byte_rate and data_size is not None:
                break
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if not byte_rate or data_size is None:
            return None
        return data_size / byte_rate
    except Exception:
        return None


def mp4_duration(payload: bytes):
    """REAL ISO-BMFF duration parse: walk top-level boxes to 'moov', then
    its children to 'mvhd'; duration = mvhd.duration / mvhd.timescale
    (version 0: 32-bit fields, version 1: 64-bit).  Returns seconds or
    None — never raises."""

    def boxes(buf, i, end):
        while i + 8 <= end:
            size = int.from_bytes(buf[i : i + 4], "big")
            btype = buf[i + 4 : i + 8]
            if size == 1:  # 64-bit largesize
                if i + 16 > end:
                    return
                size = int.from_bytes(buf[i + 8 : i + 16], "big")
                body = i + 16
            else:
                body = i + 8
            if size < 8 or i + size > end:
                return
            yield btype, body, i + size
            i += size

    try:
        if len(payload) < 16 or payload[4:8] != b"ftyp":
            return None
        for btype, body, bend in boxes(payload, 0, len(payload)):
            if btype != b"moov":
                continue
            for ctype, cbody, _ in boxes(payload, body, bend):
                if ctype != b"mvhd":
                    continue
                version = payload[cbody]
                if version == 1:
                    timescale = int.from_bytes(payload[cbody + 20 : cbody + 24], "big")
                    duration = int.from_bytes(payload[cbody + 24 : cbody + 32], "big")
                else:
                    timescale = int.from_bytes(payload[cbody + 12 : cbody + 16], "big")
                    duration = int.from_bytes(payload[cbody + 16 : cbody + 20], "big")
                if not timescale:
                    return None
                return duration / timescale
        return None
    except Exception:
        return None


def _duration_of(payload: bytes):
    "Seconds from a RIFF or an ISO-BMFF header; rows are already riff or mp4."
    return wav_duration(payload) if payload[:4] == b"RIFF" else mp4_duration(payload)


DURATION_COLUMNS = [("duration_s", FloatType(), True, lambda s: round(s, 6) if s is not None else None)]


def media_durations(df: DataFrame, id_col: str = "media_id", bin_col: str = "payload") -> DataFrame:
    """Audio/video duration per payload — REAL container-header parsing,
    no decode (the same dataflow discipline as image_dimensions): RIFF
    chunk walks and ISO-BMFF box walks need a scan, so riff/mp4 rows go
    through ONE Arrow batch pass; every other format never leaves the
    JVM (NULL projection).  At 100 TB the Python crossing reads only the
    payloads of the audio/video-classified rows; their id and format
    pass through as the input's own arrays."""
    base = attach_media_meta(df, id_col, bin_col)
    av_rows = base.filter(F.col("format").isin("riff", "mp4")).select(id_col, "format", F.col(bin_col).alias("text"))
    av = map_turns(av_rows, map_batches(_duration_of, DURATION_COLUMNS), DURATION_COLUMNS, [id_col, "format"])
    av = av.withColumn("duration_source", F.lit("container-header"))
    other = base.filter(~F.col("format").isin("riff", "mp4")).select(
        F.col(id_col),
        "format",
        F.lit(None).cast("float").alias("duration_s"),
        F.lit(None).cast("string").alias("duration_source"),
    )
    return av.unionByName(other)


JPEG_COLUMNS = [
    ("width", IntegerType(), True, lambda dims: dims[0] if dims else None),
    ("height", IntegerType(), True, lambda dims: dims[1] if dims else None),
]


def image_dimensions(df: DataFrame, id_col: str = "media_id", bin_col: str = "payload") -> DataFrame:
    """Width/height per image payload — real header parsing, no decode:

    - PNG: IHDR width/height, big-endian at fixed offsets -> pure
      JVM-side substring/hex/conv (whole-stage codegen, no Python).
    - GIF: logical-screen dims, little-endian uint16 -> JVM-side.
    - JPEG: variable segment offsets need a scan -> a REAL stdlib parser
      (jpeg_dimensions) over Arrow batches, applied ONLY to jpeg rows.

    At 100 TB the jpeg branch is the only Python crossing and it reads
    just (id, payload) of jpeg-classified rows; png/gif never leave the
    JVM.  dim_source records which path produced the numbers."""
    base = attach_media_meta(df, id_col, bin_col)
    b = F.col(bin_col)
    png_gif = base.filter(F.col("format").isin("png", "gif")).select(
        F.col(id_col),
        "format",
        F.when(F.col("format") == "png", _be32(b, 17)).otherwise(_le16(b, 7)).alias("width"),
        F.when(F.col("format") == "png", _be32(b, 21)).otherwise(_le16(b, 9)).alias("height"),
        F.lit("jvm-header").alias("dim_source"),
    )

    jpeg_rows = base.filter(F.col("format") == "jpeg").select(id_col, F.col(bin_col).alias("text"))
    jpeg = map_turns(jpeg_rows, map_batches(jpeg_dimensions, JPEG_COLUMNS), JPEG_COLUMNS, [id_col]).select(
        id_col, F.lit("jpeg").alias("format"), "width", "height", F.lit("sof-scan").alias("dim_source")
    )
    other = base.filter(~F.col("format").isin("png", "gif", "jpeg")).select(
        F.col(id_col),
        "format",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("string").alias("dim_source"),
    )
    return png_gif.unionByName(jpeg).unionByName(other)
