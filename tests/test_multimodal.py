from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.multimodal import decode_metadata, synth_media_udf


@pytest.fixture(scope="module")
def media(spark):
    return (
        spark.range(30)
        .select(
            F.col("id").alias("doc_id"),
            F.pmod("id", F.lit(3)).cast("int").alias("mtype"),
        )
        .withColumn("media", synth_media_udf("doc_id", "mtype"))
        .drop("mtype")
        .cache()
    )


def test_decode_metadata(media):
    out = decode_metadata(media)
    rows = out.collect()
    assert len(rows) == 30
    assert {r.media_type for r in rows} == {"image", "audio", "video"}
    assert all(16 <= r.width <= 512 and 16 <= r.height <= 512 for r in rows)
    assert all(r.payload_bytes == 17 + 64 for r in rows)
    # determinism: same doc_id → same metadata
    again = {r.doc_id: (r.width, r.height) for r in decode_metadata(media).collect()}
    assert all(again[r.doc_id] == (r.width, r.height) for r in rows)


# --- real PNG/GIF headers (stdlib parse, functions.png / functions.gif) ---


def _png_header(w, h, color):
    """A PNG blob cut after IHDR + IEND: all decode_metadata reads."""
    import struct
    import zlib

    from web_crawling_prj_spark.functions.png import PNG_MAGIC

    def chunk(t, p):
        return struct.pack(">I", len(p)) + t + p + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")


def _gif_header(w, h):
    """A GIF89a blob with its logical screen descriptor and trailer only."""
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


@pytest.fixture(scope="module")
def png_media(spark):
    """Mixed table: 2 real PNG headers (RGB, greyscale) + 1 synthetic WCPM
    audio blob."""
    blobs = [(0, bytearray(_png_header(64, 40, 2))), (1, bytearray(_png_header(8, 8, 0)))]
    df = spark.createDataFrame(blobs, "doc_id long, media binary")
    wcpm = (
        spark.createDataFrame([(2, 1)], "doc_id long, mtype int")
        .withColumn("media", synth_media_udf("doc_id", "mtype"))
        .drop("mtype")
    )
    return df.unionByName(wcpm)


def test_decode_metadata_real_png(png_media):
    meta = {r.doc_id: r for r in decode_metadata(png_media).collect()}
    assert (meta[0].media_type, meta[0].width, meta[0].height) == ("image", 64, 40)
    assert (meta[1].media_type, meta[1].width, meta[1].height) == ("image", 8, 8)
    assert meta[2].media_type == "audio"  # WCPM path untouched


def test_png_truncated_header_raises_valueerror():
    """A blob cut inside IHDR's CRC raises the module's ValueError contract,
    never a bare struct.error or a wrong header."""
    from web_crawling_prj_spark.functions.png import decode_ihdr

    blob = _png_header(64, 40, 2)
    assert decode_ihdr(blob) == (64, 40, 8, 2)
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_ihdr(blob[:30])


@pytest.fixture(scope="module")
def gif_media(spark):
    blobs = [(0, bytearray(_gif_header(36, 24)))]
    df = spark.createDataFrame(blobs, "doc_id long, media binary")
    wcpm = (
        spark.createDataFrame([(1, 2)], "doc_id long, mtype int")
        .withColumn("media", synth_media_udf("doc_id", "mtype"))
        .drop("mtype")
    )
    return df.unionByName(wcpm)


def test_decode_metadata_real_gif(gif_media):
    meta = {r.doc_id: r for r in decode_metadata(gif_media).collect()}
    assert (meta[0].media_type, meta[0].width, meta[0].height) == ("image", 36, 24)
    assert meta[1].media_type == "video"  # WCPM path untouched


def test_auto_backend_family_fallback_without_pil(spark):
    """Under the default 'auto' backend with NO image library installed, a
    real-media blob keeps the deterministic FAKE contract (a data error)
    instead of the environment-gap stub: a partial install (or none) must
    never break a family that the fake path handled before auto-activation
    existed. Strict 'real' is the only mode
    that raises for the environment gap (test_png_path_is_backend_independent
    covers it)."""
    from web_crawling_prj_spark.operators import multimodal as mm

    if mm._has_lib("PIL"):
        pytest.skip("PIL installed — the fallback branch is unreachable here")
    assert mm.DECODE_BACKEND == "auto"
    jpeg_df = spark.createDataFrame(
        [(0, bytearray(b"\xff\xd8\xff\xe0" + bytes(range(64))))], "doc_id long, media binary"
    )
    # metadata: undecodable real media is a DATA error under auto (same
    # contract as fake), never the strict backend's environment-gap stub
    with pytest.raises(Exception, match="ValueError|not a WCPM"):
        decode_metadata(jpeg_df).collect()


# --- auto-activating real backends (skip-marked, mirror the SCD2 MERGE
# engine test: these run end-to-end the moment PIL / PyAV appear in the
# image — until then the skip marker documents the environment gap) ---

from web_crawling_prj_spark.operators.multimodal import _has_lib  # noqa: E402

HAS_PIL = _has_lib("PIL")
HAS_AV = _has_lib("av")


@pytest.mark.skipif(not HAS_PIL, reason="PIL not installed — auto-activates when it is")
def test_real_jpeg_end_to_end_with_pil(spark):
    """With PIL present, a real JPEG's metadata decodes through the SAME
    operator with no config change, and the stub gate is unreachable (the
    default 'auto' backend detects PIL per family)."""
    import io

    import numpy as np
    from PIL import Image

    from web_crawling_prj_spark.operators import multimodal as mm

    assert mm.DECODE_BACKEND == "auto" and mm._has_lib("PIL")
    img = np.tile(np.arange(48, dtype=np.uint8) * 5, (32, 1))  # 32x48 gradient
    buf = io.BytesIO()
    Image.fromarray(img, mode="L").save(buf, format="JPEG", quality=95)
    df = spark.createDataFrame([(0, bytearray(buf.getvalue()))], "doc_id long, media binary")

    meta = decode_metadata(df).collect()[0]
    assert (meta.media_type, meta.width, meta.height) == ("image", 48, 32)


@pytest.mark.skipif(not HAS_AV, reason="PyAV not installed — auto-activates when it is")
def test_real_audio_container_metadata_with_av(spark):
    """With PyAV present, a real audio container's duration flows into the
    typed metadata struct through the same decode_metadata operator."""
    import io

    import av
    import numpy as np

    from web_crawling_prj_spark.operators import multimodal as mm

    assert mm.DECODE_BACKEND == "auto" and mm._has_lib("av")
    buf = io.BytesIO()
    with av.open(buf, mode="w", format="wav") as c:
        stream = c.add_stream("pcm_s16le", rate=8000, layout="mono")
        frame = av.AudioFrame.from_ndarray(
            np.zeros((1, 8000), dtype=np.int16), format="s16", layout="mono"
        )
        frame.sample_rate = 8000
        for packet in stream.encode(frame):
            c.mux(packet)
        for packet in stream.encode(None):
            c.mux(packet)
    df = spark.createDataFrame([(0, bytearray(buf.getvalue()))], "doc_id long, media binary")
    meta = decode_metadata(df).collect()[0]
    assert meta.media_type == "audio"
    assert meta.duration_ms >= 900  # ~1 s of PCM
