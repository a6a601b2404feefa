"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as ``binary`` payload columns
with a typed metadata struct, processed by Arrow-batched ``mapInPandas``
operators so the JVM↔Python boundary moves whole columnar batches, never rows.

One operator is reached: ``decode_metadata`` (the ``media_decode`` query of
``__spark_entry__.py``), which reads each blob's header only. PNG and GIF headers are parsed
for REAL by stdlib code (functions.png / functions.gif), under any backend.
Other real media (JPEG, audio, video: PIL/ffmpeg are NOT in this container)
depends on ``DECODE_BACKEND``:

- ``"auto"`` (default): per-blob, PER-FAMILY capability detection (mirrors
  operators.scd2's provider-based MERGE detection) — the moment PIL (images)
  or PyAV (audio/video) appears in the image, that family's blobs decode for
  real with no code or config change; a family whose library is absent
  keeps the deterministic fake contract below. A partial install (e.g. PyAV
  without PIL) therefore never breaks the other family — it upgrades only
  its own.
- ``"fake"``: deterministic synthetic decode — parses the payload's
  self-describing header (our synthetic media blobs carry width/height/etc.
  in the first bytes); NEVER probes the real libraries, so output is
  deterministic even on a machine that has them. Real media it cannot parse
  is a data error (ValueError).
- ``"real"``: strict — a plausible real-media blob that no installed
  library can decode raises NotImplementedError with the dependency note
  (the honest environment-gap stub).

The import probes are cached per process (workers re-import this module, so
each worker probes once — never once per blob). Skip-marked end-to-end tests
(tests/test_multimodal.py) run the real paths automatically once the
libraries exist.

Synthetic payload format (media_blob): b"WCPM" + mtype(1B) + width(4B LE) +
height(4B LE) + duration_ms(4B LE) + seeded noise bytes. Deterministic per
(doc_id, mtype).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

import functools


@functools.lru_cache(maxsize=None)
def _has_lib(name: str) -> bool:
    """Cached import-probe for an optional real-media backend — once per
    process (driver OR worker; workers re-import this module and probe their
    own env), never per blob: a failed ``import`` is NOT cached by Python, so
    an uncached probe inside the mapInPandas hot loop would re-scan sys.path
    for every blob."""
    import importlib.util

    try:
        return importlib.util.find_spec(name) is not None
    except (ImportError, ValueError):
        return False


#: "auto" = per-family capability detection (see module docstring); set to
#: "fake" for bit-deterministic output everywhere, "real" for the strict
#: environment-gap stub
DECODE_BACKEND = "auto"


def _pil_open(blob: bytes):
    """Real-image decode via PIL when available; None when PIL is absent or
    the blob isn't a PIL-decodable image (caller falls through to the stub
    gate). Probed per worker process, short-circuited per blob."""
    if not _has_lib("PIL"):
        return None
    from PIL import Image
    import io

    try:
        im = Image.open(io.BytesIO(blob))
        im.load()
        return im
    except Exception:
        return None


def _av_meta(blob: bytes):
    """Container metadata via PyAV when available: (media_type, width,
    height, duration_ms) or None."""
    if not _has_lib("av"):
        return None
    import av
    import io

    try:
        with av.open(io.BytesIO(blob)) as c:
            dur_ms = int((c.duration or 0) / 1000)  # av duration is in µs
            vs = next((s for s in c.streams if s.type == "video"), None)
            if vs is not None and vs.codec_context is not None:
                return (
                    "video",
                    int(vs.codec_context.width or 0),
                    int(vs.codec_context.height or 0),
                    dur_ms,
                )
            if any(s.type == "audio" for s in c.streams):
                return "audio", 0, 0, dur_ms
    except Exception:
        return None
    return None

MEDIA_META_SCHEMA = (
    "media_type string, width int, height int, duration_ms int, payload_bytes long"
)
_MAGIC = b"WCPM"
_MTYPES = {0: "image", 1: "audio", 2: "video"}


@F.pandas_udf(BinaryType())
def synth_media_udf(doc_id: pd.Series, mtype: pd.Series) -> pd.Series:
    """Deterministic synthetic media blob per (doc_id, media type)."""
    out = []
    for d, m in zip(doc_id, mtype):
        rng = np.random.default_rng(int(d) * 3 + int(m))
        w, h = int(rng.integers(16, 512)), int(rng.integers(16, 512))
        dur = int(rng.integers(0, 60_000)) if m else 0
        noise = rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
        out.append(_MAGIC + struct.pack("<BIII", int(m), w, h, dur) + noise)
    return pd.Series(out, dtype=object)


# magics of real media containers this container CANNOT decode (no PIL/av):
# JPEG, BMP, RIFF (WAV/AVI/WebP), MP4 ftyp at offset 4, Ogg, MP3 ID3.
# PNG and GIF are NOT here — functions.png / functions.gif parse their
# headers stdlib-only.
_REAL_MEDIA_MAGICS = (b"\xff\xd8\xff", b"BM", b"RIFF", b"OggS", b"ID3")


def _parse_header(blob: bytes, backend: str = "fake") -> tuple[str, int, int, int]:
    from web_crawling_prj_spark.functions.gif import GIF_MAGICS, decode_screen
    from web_crawling_prj_spark.functions.png import PNG_MAGIC, decode_ihdr

    # classify the blob FIRST: null/garbage is a DATA error (ValueError) under
    # every backend; the environment-gap NotImplementedError is reserved for
    # structurally plausible real media we genuinely cannot decode here.
    # `backend` is CAPTURED on the driver at operator construction — Python
    # workers re-import this module, so reading the global here would always
    # see the default, never the caller's setting.
    if blob is None or len(blob) < 12:
        raise ValueError("null or truncated media blob")
    if blob[:8] == PNG_MAGIC:  # real image: stdlib parse under any backend
        w, h, _, _ = decode_ihdr(bytes(blob))
        return "image", w, h, 0
    if blob[:6] in GIF_MAGICS:  # real image: stdlib parse under any backend
        w, h = decode_screen(bytes(blob))
        return "image", w, h, 0
    if blob[:4] == _MAGIC:  # synthetic self-describing WCPM header
        if len(blob) < 17:
            raise ValueError("truncated WCPM media blob")
        m, w, h, dur = struct.unpack("<BIII", blob[4:17])
        return _MTYPES.get(m, "unknown"), w, h, dur
    head = bytes(blob[:12])
    plausible = head.startswith(_REAL_MEDIA_MAGICS) or head[4:8] == b"ftyp"
    if plausible and backend != "fake":
        # auto/real: per-family capability detection — when PIL/av exist the
        # strict stub below is unreachable for their family
        im = _pil_open(bytes(blob))
        if im is not None:
            return "image", int(im.width), int(im.height), 0
        # image-only magics (JPEG, BMP) never fall through to the av probe:
        # ffmpeg's jpeg_pipe/bmp_pipe demuxers expose them as a single-frame
        # "video" stream, so a PyAV-without-PIL install would silently
        # reclassify every JPEG as media_type='video' — exactly the
        # cross-family breakage per-family activation promises not to have.
        # (RIFF stays eligible for both: WebP→PIL above, WAV/AVI→av here.)
        if not head.startswith((b"\xff\xd8\xff", b"BM")):
            meta = _av_meta(bytes(blob))
            if meta is not None:
                return meta
        if backend == "real":  # strict: environment gap, not a data error
            raise NotImplementedError(
                "real non-PNG media decode needs PIL/av — not in this container "
                "(or the blob is undecodable by the installed backends)"
            )
    # fake (never probes), or auto with the family's library absent: real
    # media the stdlib codecs can't parse is a data error, same as garbage
    raise ValueError("not a WCPM media blob or PNG")


def decode_metadata(media: DataFrame, blob_col: str = "media") -> DataFrame:
    """mapInPandas decode: binary → typed metadata struct columns.

    PNG blobs are parsed for REAL (stdlib IHDR decode, functions.png); WCPM
    synthetic blobs read the self-describing header (a real backend would do
    PIL.Image.open / av.open for JPEG/audio/video). Batch shape and output
    schema are identical either way.
    """
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in media.schema.fields)
    out_schema += ", " + MEDIA_META_SCHEMA

    backend = DECODE_BACKEND  # driver-side capture, closed over into workers

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [_parse_header(b, backend) for b in pdf[blob_col]]
            yield pdf.assign(
                media_type=[m[0] for m in metas],
                width=pd.array([m[1] for m in metas], dtype="int32"),
                height=pd.array([m[2] for m in metas], dtype="int32"),
                duration_ms=pd.array([m[3] for m in metas], dtype="int32"),
                payload_bytes=pd.array([len(b) for b in pdf[blob_col]], dtype="int64"),
            )

    return media.mapInPandas(fn, schema=out_schema)
