"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed one asset at a time in a per-row Arrow
stage (``operators/extraction.map_documents``).

Decode kernels, by honesty tier:
  * REAL, dependency-free: PPM (P6), uncompressed 24-bit BMP, and PNG
    (8-bit gray/RGB/RGBA, non-interlaced + Adam7: stdlib zlib inflate + numpy
    scanline unfilter — all 5 RFC 2083 filter types) images, WAV audio
    (stdlib `wave` + numpy) and FLAC audio (operators/flac.py — RFC 9639
    frames: CONSTANT/VERBATIM/FIXED/LPC subframes, Rice residuals,
    stereo decorrelation, CRC-verified).  Feature = 4x4 grayscale
    thumbnail (images) / 16 RMS windows (audio), both in [0,1].
  * REAL, dependency-free: JPEG (operators/jpeg.py — T.81 baseline
    sequential AND progressive DCT processes: canonical Huffman, spectral
    selection + successive approximation with EOB runs, per-component
    scans, dequant, batched matrix IDCT, 4:2:0/4:2:2 upsampling, JFIF
    YCbCr->RGB) and GIF first-frame (operators/gif.py — variable-width
    LSB LZW).
  * STUB: formats needing PIL/ffmpeg (lossy-WebP/MP3/H.264),
    which this container does not ship — ``decode_image_real`` raises
    NotImplementedError for them and ``decode_image_stub`` provides
    deterministic fake features so the Spark-side plumbing (schema, batch
    iteration, partitioning, output shape) stays fully exercised.
Swapping in PIL/ffmpeg is a one-function change per format.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .extraction import map_documents


# ---------------------------------------------------------------------------
# Real decoders (no external deps)
# ---------------------------------------------------------------------------


def _decode_ppm(payload: bytes):
    """P6 (binary) PPM -> HxWx3 uint8 array."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace separated, '#'
    # comments allowed
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return data.reshape(h, w, 3)


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BMP -> HxWx3 uint8 array (BGR -> RGB)."""
    import struct

    import numpy as np

    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("ancient BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


# Adam7 pass grid: (x0, y0, dx, dy) per RFC 2083 §2.6
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes):
    """PNG -> HxWx3 uint8 array.  REAL, dependency-free: stdlib zlib
    inflates IDAT, and the scanline unfilter IS the engine's existing
    FlateDecode PNG-predictor kernel (pdfmini.filters.apply_predictor,
    Predictor 15 = per-row filter byte — the identical RFC 2083
    algorithm; one implementation to maintain).  Supported: 8-bit depth,
    color types 0 (gray), 2 (RGB), 6 (RGBA; alpha dropped), both
    non-interlaced and Adam7-interlaced.  Anything else raises
    NotImplementedError and falls to the tagged stub tier."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG")
    pos = 8
    idat = []
    w = h = None
    bit_depth = color_type = interlace = None
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + data + crc
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("truncated PNG")
    if bit_depth != 8 or interlace not in (0, 1) or color_type not in (0, 2, 6):
        raise NotImplementedError(
            f"PNG depth={bit_depth} color_type={color_type} interlace={interlace}"
        )
    from ..pdfmini.filters import apply_predictor

    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        if len(raw) != h * (1 + w * bpp):
            raise ValueError("PNG data length mismatch")
        flat = apply_predictor(
            raw, {"Predictor": 15, "Colors": bpp, "BitsPerComponent": 8, "Columns": w}
        )
        img = np.frombuffer(flat, dtype=np.uint8, count=h * w * bpp).reshape(
            h, w, bpp
        )
    else:
        # Adam7: seven consecutive sub-images, each filtered independently
        # (empty passes contribute no bytes, not even filter bytes)
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            nbytes = ph * (1 + pw * bpp)
            sub_raw = raw[pos2 : pos2 + nbytes]
            pos2 += nbytes
            if len(sub_raw) != nbytes:
                raise ValueError("PNG interlaced data length mismatch")
            flat = apply_predictor(
                sub_raw,
                {"Predictor": 15, "Colors": bpp, "BitsPerComponent": 8,
                 "Columns": pw},
            )
            sub = np.frombuffer(flat, dtype=np.uint8, count=ph * pw * bpp).reshape(
                ph, pw, bpp
            )
            img[y0::dy, x0::dx] = sub
        if pos2 != len(raw):
            raise ValueError("PNG interlaced data length mismatch")
    if color_type == 0:
        img = np.repeat(img, 3, axis=2)
    elif color_type == 6:
        img = img[:, :, :3]
    return img


def _thumb_feature(img) -> list[float]:
    """4x4 grayscale thumbnail, nearest-neighbor, row-major, in [0,1]."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    ys = np.minimum((np.arange(4) * h) // 4, h - 1)
    xs = np.minimum((np.arange(4) * w) // 4, w - 1)
    gray = img.mean(axis=2) / 255.0
    return [float(gray[y, x]) for y in ys for x in xs]


def decode_image_array(payload: bytes):
    """Dispatch a payload to the native decoder for its magic bytes and
    return the HxWx3 uint8 pixel array."""
    if payload.startswith(b"P6"):
        return _decode_ppm(payload)
    if payload.startswith(b"BM"):
        return _decode_bmp(payload)
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return _decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload.startswith(b"GIF87a") or payload.startswith(b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(payload)
    if payload.startswith(b"RIFF") and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(payload)  # VP8L only; lossy VP8 raises -> stub
    raise NotImplementedError(
        "TIFF/lossy-WebP/... decode requires PIL/cv2 which are not "
        "installed; PPM/BMP/PNG/JPEG/GIF/lossless-WebP decode natively, "
        "other formats use decode_image_stub"
    )


def _decoder_tag(payload: bytes) -> str:
    return (
        "ppm" if payload.startswith(b"P6")
        else "png" if payload.startswith(b"\x89PNG")
        else "jpeg" if payload.startswith(b"\xff\xd8")
        else "gif" if payload.startswith(b"GIF8")
        else "webp" if payload.startswith(b"RIFF")
        else "bmp"
    )


def decode_image_real(payload: bytes) -> tuple[int, int, list[float]]:
    """Real image decode/resize/feature kernel.

    Contract: decode payload -> (width, height, feature[16]) where feature
    is a 4x4 grayscale thumbnail, row-major, in [0,1].  Implemented for the
    dependency-free formats (P6 PPM, uncompressed 24-bit BMP); compressed
    formats raise NotImplementedError until PIL/cv2 is available."""
    img = decode_image_array(payload)
    return img.shape[1], img.shape[0], _thumb_feature(img)


def decode_audio_real(payload: bytes) -> tuple[int, int, list[float], str]:
    """WAV (PCM) or FLAC -> (sample_rate, n_channels, feature[16],
    decoder) where feature is the per-window RMS over 16 equal windows,
    normalized to [0,1]."""
    import io
    import wave

    import numpy as np

    if payload.startswith(b"fLaC"):
        from .flac import decode_flac

        rate, nch, bps, samples = decode_flac(payload)
        # normalize by the stream's own full-scale (24-bit masters would
        # otherwise land ~256x outside [0,1])
        x = samples.astype(np.float64) / float(1 << (bps - 1))
        x = x.mean(axis=1) if nch > 1 else x[:, 0]
        decoder = "flac"
    else:
        with wave.open(io.BytesIO(payload)) as wf:
            rate = wf.getframerate()
            nch = wf.getnchannels()
            sw = wf.getsampwidth()
            frames = wf.readframes(wf.getnframes())
        if sw == 2:
            x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
        elif sw == 1:
            x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        else:
            raise NotImplementedError("only 8/16-bit PCM WAV")
        if nch > 1:
            x = x.reshape(-1, nch).mean(axis=1)
        decoder = "wav"
    if len(x) == 0:
        return rate, nch, [0.0] * 16, decoder
    windows = np.array_split(x, 16)
    feat = [float(np.sqrt((w * w).mean())) if len(w) else 0.0 for w in windows]
    return rate, nch, feat, decoder


def decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake: dimensions and features derived from a sha256 of
    the payload — stable across runs/engines, zero deps."""
    digest = hashlib.sha256(payload).digest()
    width = 1 + digest[0] % 64
    height = 1 + digest[1] % 64
    feature = [digest[2 + i] / 255.0 for i in range(16)]
    return width, height, feature


def _decode_any(kind: str, data: bytes) -> tuple[int, int, list[float], str]:
    """(width, height, feature, decoder) — real decoder when the format is
    dependency-free, deterministic stub otherwise."""
    try:
        if kind == "audio":
            return decode_audio_real(data)
        if kind == "image":
            w, h, feat = decode_image_real(data)
            return w, h, feat, _decoder_tag(data)
    except NotImplementedError:
        pass
    except Exception:
        pass  # malformed payload -> deterministic stub, never a task failure
    w, h, feat = decode_image_stub(data)
    return w, h, feat, "stub"


_FEATURE_SCHEMA = pa.schema([
    ("media_id", pa.string()), ("media_kind", pa.string()),
    ("byte_len", pa.int64()), ("sha256", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("feature", pa.list_(pa.float32())),
    ("decoder", pa.string()),
])


def _feature_kernel(media_id, kind, payload):
    data = payload or b""
    w, h, feat, decoder = _decode_any(str(kind), data)
    yield (media_id, kind, len(data), hashlib.sha256(data).hexdigest(), w, h,
           feat, decoder)


def extract_media_features(media: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """media table -> per-asset features.  Same salting discipline as the
    PDF path: payloads are MB-scale so hash-spread before the UDF stage."""
    spark = media.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    media = media.repartition(num_partitions, F.xxhash64("media_id"))
    return map_documents(
        media.select("media_id", "media_kind", "payload"), _feature_kernel, _FEATURE_SCHEMA
    )


def image_dhash(img) -> int:
    """64-bit difference hash of a decoded image: 9x8 nearest-neighbor
    grayscale resample (same index convention as `_thumb_feature`:
    ``(i*n) DIV k`` capped), bit = strict left-to-right brightness
    increase, row-major MSB-first, wrapped to signed int64.

    The fixtures' channel-equal pixels make the float64 channel mean
    exactly the integer gray value, so the strict `>` comparisons are
    engine-exact and the independent spec-math golden
    (tools/gen_golden_dhash.py) can reproduce every bit."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    ys = np.minimum((np.arange(8) * h) // 8, h - 1)
    xs = np.minimum((np.arange(9) * w) // 9, w - 1)
    g = img.mean(axis=2)[np.ix_(ys, xs)]
    val = 0
    for bit in (g[:, 1:] > g[:, :-1]).flatten():
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


_DHASH_SCHEMA = pa.schema([
    ("media_id", pa.string()), ("width", pa.int64()), ("height", pa.int64()),
    ("dhash", pa.int64()), ("decoder", pa.string()),
])


def _dhash_kernel(media_id, payload, *passthrough):
    data = payload or b""
    try:
        img = decode_image_array(data)
        row = (img.shape[1], img.shape[0], image_dhash(img), _decoder_tag(data))
    except Exception:  # noqa: BLE001 - malformed / stub-tier payload: tagged
        row = (0, 0, None, "stub")
    yield media_id, *row, *passthrough


def extract_media_dhash(
    media: DataFrame,
    num_partitions: int | None = None,
    passthrough: "tuple[str, ...]" = (),
) -> DataFrame:
    """Image rows -> (media_id, width, height, dhash, decoder
    [, passthrough...]).  Same hash-spread salting as the feature path;
    stub-tier payloads emit a NULL dhash with decoder='stub' so
    downstream dedup can exclude them without a separate failure
    channel.  `passthrough` names input columns to carry through the
    Arrow stage unchanged — the streaming dedup uses it for the event
    time (a post-hoc join back would be a stream-stream join)."""
    spark = media.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    schema = pa.schema(
        list(_DHASH_SCHEMA)
        + [(c, to_arrow_type(media.schema[c].dataType)) for c in passthrough]
    )
    images = (
        media.filter(F.col("media_kind") == "image")
        .repartition(num_partitions, F.xxhash64("media_id"))
        .select("media_id", "payload", *passthrough)
    )
    return map_documents(images, _dhash_kernel, schema)


def banded_hamming_pairs(
    hashes: DataFrame, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate (media_a, media_b, hamming) pairs over a 64-bit
    signature column, blocked on 16-bit bands (4 bands; <= 3 differing
    bits guarantees at least one identical band — the same pigeonhole
    blocking as simhash text dedup, operators/dedup.py).  NULL-signature
    (stub) rows never pair.

    Scale shape: band equi-join on (band, 16-bit key) — no cross join;
    at 10^9 assets a band bucket holds only hash-colliding candidates,
    and the exact bit_count filter runs post-join on the candidate set."""
    if max_hamming > 3:
        raise ValueError(
            "4x16-bit band blocking is only COMPLETE for max_hamming <= 3 "
            "(4 differing bits can land one per band, leaving no equal "
            f"band); got {max_hamming}"
        )
    h = hashes.filter(F.col(hash_col).isNotNull())
    banded = h.select(
        "media_id",
        hash_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), 16 * i).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for i in range(4)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dhash_near_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dhash Hamming distance (see
    banded_hamming_pairs for the blocking design)."""
    return banded_hamming_pairs(hashes, "dhash", max_hamming)


def audio_fingerprint(feature: list) -> int:
    """64-bit audio signature from the 16 per-window RMS values: each
    window quantized to a 4-bit level (floor(rms*16) capped at 15),
    packed MSB-first, wrapped to signed int64.  For the corpus's
    constant-amplitude windows rms*16 = |amp|/2048 is exact in float64
    (divisions by powers of two), so the spec-math golden reproduces
    every nibble."""
    val = 0
    for r in feature:
        val = (val << 4) | min(int(r * 16), 15)
    return val - (1 << 64) if val >= (1 << 63) else val


_AUDIO_FP_SCHEMA = pa.schema([
    ("media_id", pa.string()), ("sample_rate", pa.int64()),
    ("n_channels", pa.int64()), ("audio_fp", pa.int64()), ("decoder", pa.string()),
])


def _audio_fp_kernel(media_id, payload):
    try:
        rate, nch, feat, decoder = decode_audio_real(payload or b"")
        row = (rate, nch, audio_fingerprint(feat), decoder)
    except Exception:  # noqa: BLE001 - malformed / stub-tier payload: tagged
        row = (0, 0, None, "stub")
    yield media_id, *row


def extract_audio_fp(media: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Audio rows -> (media_id, sample_rate, n_channels, audio_fp,
    decoder); stub-tier payloads emit NULL with decoder='stub'."""
    spark = media.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    audio = (
        media.filter(F.col("media_kind") == "audio")
        .repartition(num_partitions, F.xxhash64("media_id"))
        .select("media_id", "payload")
    )
    return map_documents(audio, _audio_fp_kernel, _AUDIO_FP_SCHEMA)
