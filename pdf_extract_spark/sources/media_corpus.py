"""Deterministic synthetic media corpus for the multimodal operator family.

Every asset is built from a closed-form SPEC (gradient/solid images, known
per-window-amplitude audio, a fake compressed blob), so its expected
features (width/height, 4x4 thumbnail, RMS windows, decoder tag) are
derivable WITHOUT running the decoders — `tools/gen_golden_media.py` turns
the same specs into `dist/golden_media.parquet`, giving `media_features`
a true independent oracle.

Amplitudes/values are chosen so the float math is EXACT (powers of two for
audio, integer/255 for images): the spec-side float64 expectations equal
the decoder-side results bit-for-bit after the float32 column cast.
"""

from __future__ import annotations

import io
import struct
import wave

# (name, w, h) gradient PPMs: pixel value at x = x * 255 // (w - 1)
PPM_SPECS = [("ppm-grad-16x8", 16, 8), ("ppm-grad-7x5", 7, 5), ("ppm-grad-64x64", 64, 64)]
# (name, w, h, value) solid BMPs
BMP_SPECS = [("bmp-solid-10x6", 10, 6, 128), ("bmp-solid-5x9", 5, 9, 32)]
# (name, rate, n_channels, amplitudes[16]) WAVs: 64 samples per window,
# constant int16 amplitude per window — all from {0, +-4096, +-8192, +-16384}
# (x/32768 a power of two => RMS == |x|/32768 exactly in float64)
WAV_SPECS = [
    ("wav-steps-mono", 8000, 1,
     [0, 4096, 8192, 16384, 0, -4096, -8192, -16384,
      16384, 8192, 4096, 0, 4096, 4096, 8192, 0]),
    ("wav-steps-stereo", 16000, 2,
     [8192, 8192, 0, 0, 16384, 4096, 0, 8192,
      4096, 0, 16384, 16384, 0, 8192, 4096, 0]),
]
# (name, w, h, color_type) PNGs: pixel value v(x, y) = (x*7 + y*13) % 256,
# identical across color channels (alpha 255 where present); row y uses
# scanline filter type y % 5, so one image exercises every RFC 2083 filter
PNG_SPECS = [
    ("png-gray-11x7", 11, 7, 0),
    ("png-rgb-16x16", 16, 16, 2),
    ("png-rgba-5x13", 5, 13, 6),
]
# fake compressed payloads -> deterministic stub tier (the fake PNG carries
# a real signature but garbage chunks: exercises the decode-failure -> stub
# fallback path of the REAL png decoder)
STUB_SPECS = [
    ("stub-fake-png", b"\x89PNG\r\n\x1a\nnot-actually-a-png-payload-0001"),
    ("stub-fake-jpeg", b"\xff\xd8\xffnot-actually-a-jpeg-payload-0002"),
    # lossy WebP (VP8 chunk): only VP8L decodes natively; the full VP8
    # intra codec stays in the tagged stub tier by design
    ("stub-webp-lossy", b"RIFF\x28\x00\x00\x00WEBPVP8 \x1c\x00\x00\x00"
                        b"fake-vp8-frame-payload-0003\x00"),
]

# (name, w, h, kind) WebP lossless (VP8L) fixtures: every channel of the
# pixel at (x, y) equals webp_gray(kind, x, y) — a closed form shared with
# the golden generator — so the thumbnail expectation never runs the
# decoder (and VP8L is lossless, so equality is exact, not approximate).
# `kind` selects which decoder paths the encoder exercises.
WEBP_SPECS = [
    ("webp-literal-16x8", 16, 8, "literal"),      # normal prefix codes only
    ("webp-cache-16x16", 16, 16, "cache"),        # color cache hits
    ("webp-lz77-24x10", 24, 10, "lz77"),          # row copies + left runs,
                                                  # mapped AND direct dists
    ("webp-subgreen-12x9", 12, 9, "subgreen"),    # subtract-green transform
    ("webp-predictor-16x16", 16, 16, "predictor"),  # all 14 predictor modes
    ("webp-colortx-16x12", 16, 12, "colortx"),    # color transform deltas
    ("webp-palette-17x6", 17, 6, "palette"),      # 8-color palette, bundled
    ("webp-palette20-23x7", 23, 7, "palette20"),  # 20-color, unbundled
    ("webp-meta-32x16", 32, 16, "meta"),          # 2 meta prefix groups
    ("webp-combo-20x14", 20, 14, "combo"),        # subgreen + cache + lz77
]


def webp_gray(kind: str, x: int, y: int) -> int:
    """Closed-form gray value of the WebP spec patterns (shared with the
    golden generator)."""
    if kind in ("lz77", "combo"):
        # constant 6-pixel runs inside a row, rows repeat with period 3:
        # guarantees left-run and whole-row LZ77 copies exist
        return ((x // 6) * 50 + (y % 3) * 29) % 256
    if kind in ("cache", "palette"):
        return ((x + y) % 8) * 36  # 8 distinct levels
    if kind == "palette20":
        return ((x + 3 * y) % 20) * 12  # 20 distinct levels
    return (x * 11 + y * 29) % 256


def make_webp_fixture(name: str, w: int, h: int, kind: str) -> bytes:
    """Encode one WEBP_SPECS row via the from-scratch VP8L encoder."""
    import numpy as np

    from .webp_enc import make_webp

    v = np.array(
        [[webp_gray(kind, x, y) for x in range(w)] for y in range(h)],
        dtype=np.uint8,
    )
    px = np.repeat(v[:, :, None], 3, axis=2)
    if kind == "literal":
        return make_webp(px)
    if kind == "cache":
        return make_webp(px, cache_bits=4)
    if kind == "lz77":
        return make_webp(px, lz77=True)
    if kind == "subgreen":
        return make_webp(px, subtract_green=True)
    if kind == "predictor":
        modes = np.array([0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 7, 11],
                         dtype=np.uint64)
        return make_webp(px, predictor_bits=2, predictor_modes=modes)
    if kind == "colortx":
        # (red_to_blue << 16) | (green_to_blue << 8) | green_to_red,
        # including negative (>= 0x80) multipliers
        ctes = np.array([0x000000, 0x0A0510, 0xF0FB08, 0x804020],
                        dtype=np.uint64)
        return make_webp(px, color_bits=3, ctes=ctes)
    if kind in ("palette", "palette20"):
        grays = sorted({webp_gray(kind, x, y) for y in range(h) for x in range(w)})
        palette = np.array(
            [0xFF000000 | (g << 16) | (g << 8) | g for g in grays],
            dtype=np.uint64,
        )
        return make_webp(px, palette=palette)
    if kind == "meta":
        meta = np.array([[0, 0, 1, 1], [0, 0, 1, 1]], dtype=np.uint64)
        return make_webp(px, meta_bits=3, meta_index=meta)
    if kind == "combo":
        return make_webp(px, subtract_green=True, cache_bits=3, lz77=True)
    raise ValueError(kind)


def png_pixel(x: int, y: int) -> int:
    """The PNG spec's closed-form pixel value (shared with the golden)."""
    return (x * 7 + y * 13) % 256


def make_ppm(w: int, h: int) -> bytes:
    body = bytearray()
    for _y in range(h):
        for x in range(w):
            v = x * 255 // (w - 1)
            body += bytes([v, v, v])
    return b"P6\n# synthetic gradient\n%d %d\n255\n" % (w, h) + bytes(body)


def make_bmp(w: int, h: int, value: int) -> bytes:
    stride = (w * 3 + 3) & ~3
    img = bytes([value, value, value] * w + [0] * (stride - w * 3)) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + img


def make_png(w: int, h: int, color_type: int = 0) -> bytes:
    """Spec-correct PNG (RFC 2083) of the png_pixel formula: 8-bit depth,
    non-interlaced, row y filtered with type y % 5 so decoding exercises
    None/Sub/Up/Average/Paeth.  The golden derives features from that
    formula, never from the decoder."""
    px = {0: lambda v: (v,), 2: lambda v: (v, v, v), 6: lambda v: (v, v, v, 255)}[color_type]
    return make_png_raw(
        [[px(png_pixel(x, y)) for x in range(w)] for y in range(h)], color_type
    )


def make_png_raw(pixels, color_type: int = 0,
                 filters: list[int] | None = None,
                 interlace: bool = False) -> bytes:
    """Spec-correct PNG encoder over ARBITRARY pixel content with
    per-row filter-type control — the property-test counterpart of
    make_png's fixed-formula fixture.  `pixels` is an HxWxC uint8 array
    (C = 1/3/4 matching color_type 0/2/6); `filters[y]` picks the row
    filter (default y % 5).  With `interlace` the stream carries the
    seven Adam7 sub-images (each filtered independently, empty passes
    omitted entirely); filter choice then cycles per sub-image row.  The
    expectation is always `pixels` verbatim: filters and interlacing are
    encoding choices the decoder must undo exactly."""
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, nch = arr.shape
    assert nch == {0: 1, 2: 3, 6: 4}[color_type]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    def filter_image(sub: "np.ndarray", fts: list[int]) -> bytearray:
        sh, sw = sub.shape[0], sub.shape[1]
        raw = bytearray()
        prev = [0] * (sw * nch)
        for y in range(sh):
            row = [int(v) for v in sub[y].reshape(-1)]
            ft = fts[y]
            raw.append(ft)
            if ft == 0:
                filt = row
            elif ft == 1:  # Sub
                filt = [
                    (row[i] - (row[i - nch] if i >= nch else 0)) & 255
                    for i in range(len(row))
                ]
            elif ft == 2:  # Up
                filt = [(row[i] - prev[i]) & 255 for i in range(len(row))]
            elif ft == 3:  # Average
                filt = [
                    (row[i] - (((row[i - nch] if i >= nch else 0) + prev[i]) >> 1))
                    & 255
                    for i in range(len(row))
                ]
            else:  # Paeth
                filt = []
                for i in range(len(row)):
                    a = row[i - nch] if i >= nch else 0
                    b = prev[i]
                    c = prev[i - nch] if i >= nch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    filt.append((row[i] - pr) & 255)
            raw += bytes(filt)
            prev = row
        return raw

    if not interlace:
        fts = filters or [y % 5 for y in range(h)]
        raw = filter_image(arr, fts)
    else:
        # Adam7 pass grid per RFC 2083 §2.6
        raw = bytearray()
        for x0, y0, dx, dy in [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += filter_image(sub, [y % 5 for y in range(sub.shape[0])])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# Baseline-JPEG handcrafting (ITU-T T.81): DC-only flat 8x8 blocks with an
# all-ones quant table decode to EXACTLY pixel = F(0,0)/8 + 128, so fixture
# expectations are closed-form.  DC Huffman table = the public Annex K.3.3.1
# luminance table (exercises multi-length canonical decode); AC table is a
# minimal one-symbol (EOB) table since flat blocks emit no AC coefficients.
_JPEG_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_SYMBOLS = list(range(12))
_JPEG_AC_COUNTS = [1] + [0] * 15
_JPEG_AC_SYMBOLS = [0x00]  # EOB


def _huff_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical (same construction the decoder
    reverses)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit writer.  With `stuff` (the JPEG default), an 0xFF
    output byte is followed by a stuffed 0x00; FLAC uses stuff=False."""

    def __init__(self, stuff: bool = True):
        self.out = bytearray()
        self.acc = 0
        self.n = 0
        self.stuff = stuff

    def put(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.stuff and self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def put_signed(self, value: int, nbits: int):
        self.put(value & ((1 << nbits) - 1), nbits)

    def flush(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s

    def align(self):
        if self.n:
            self.put(0, 8 - self.n)  # pad with 0s (FLAC inter-frame)


def make_jpeg(block_vals: list[list[int]], color: bool = False,
              subsample420: bool = False, restart_interval: int = 0,
              subsample: str | None = None, dc_quant: int = 1) -> bytes:
    """Baseline JFIF bytes for a grid of flat 8x8 blocks: pixel value of
    block (r, c) = block_vals[r][c] (0..255 integers).  With `color`, a
    3-component image with Cb = Cr = 128 (decodes to gray RGB exactly);
    with `subsample420` (implies color), Y is 2x2-sampled vs 1x1 chroma —
    the dominant web-JPEG layout — and the block grid must be even.
    `restart_interval` > 0 emits a DRI segment and RSTn markers every N
    MCUs (DC predictors reset, markers cycle D0-D7).  `subsample` names
    the chroma layout explicitly ('444'/'420'/'422' — 4:2:2 is the classic
    digital-video layout: Y 2x1-sampled, one MCU = 2 Y + Cb + Cr);
    `dc_quant` > 1 writes a DQT whose DC entry is that step and emits
    QUANTIZED coefficients, so the decoder's dequantize path multiplies by
    a non-trivial step (grid values must keep (v-128)*8 divisible by it)."""
    rows, cols = len(block_vals), len(block_vals[0])
    w, h = cols * 8, rows * 8
    mode = subsample or ("420" if subsample420 else "444")
    if mode == "420":
        color = True
        assert rows % 2 == 0 and cols % 2 == 0, "4:2:0 needs an even grid"
    elif mode == "422":
        color = True
        assert cols % 2 == 0, "4:2:2 needs an even column count"
    dc = _huff_codes(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    ac = _huff_codes(_JPEG_AC_COUNTS, _JPEG_AC_SYMBOLS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT id 0: DC step = dc_quant, AC steps 1 (zigzag position 0 is DC)
    out += seg(0xDB, bytes([0x00, dc_quant]) + bytes([1] * 63))
    ncomp = 3 if color else 1
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    y_hv = {"444": 0x11, "420": 0x22, "422": 0x21}[mode]
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, y_hv if cid == 1 else 0x11, 0])
    out += seg(0xC0, sof)
    out += seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS)
    )
    out += seg(
        0xC4, bytes([0x10]) + bytes(_JPEG_AC_COUNTS) + bytes(_JPEG_AC_SYMBOLS)
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    bw = _BitWriter()
    pred = {cid: 0 for cid in range(1, ncomp + 1)}

    def put_block(cid: int, coeff: int):
        diff = coeff - pred[cid]
        pred[cid] = coeff
        mag = abs(diff)
        t = mag.bit_length()
        code, length = dc[t]
        bw.put(code, length)
        if t:
            bw.put(diff if diff > 0 else diff + (1 << t) - 1, t)
        code, length = ac[0x00]  # EOB: no AC coefficients
        bw.put(code, length)

    def qdc(v: int) -> int:
        dc = (v - 128) * 8
        assert dc % dc_quant == 0, "grid value not exact under dc_quant"
        return dc // dc_quant

    # MCU list first, so restart markers can slice the stream uniformly
    mcus: list[list[tuple[int, int]]] = []
    if mode == "420":
        for mr in range(rows // 2):
            for mc in range(cols // 2):
                # MCU: 4 Y blocks (2x2, raster) then one Cb, one Cr
                mcu = [
                    (1, qdc(block_vals[mr * 2 + by][mc * 2 + bx]))
                    for by in range(2) for bx in range(2)
                ]
                mcus.append(mcu + [(2, 0), (3, 0)])
    elif mode == "422":
        for r in range(rows):
            for mc in range(cols // 2):
                # MCU: 2 Y blocks side by side then one Cb, one Cr
                mcu = [
                    (1, qdc(block_vals[r][mc * 2])),
                    (1, qdc(block_vals[r][mc * 2 + 1])),
                    (2, 0), (3, 0),
                ]
                mcus.append(mcu)
    else:
        for r in range(rows):
            for c in range(cols):
                # MCU order (4:4:4 / gray): Y block then Cb, Cr
                mcu = [(1, qdc(block_vals[r][c]))]
                if color:
                    mcu += [(2, 0), (3, 0)]
                mcus.append(mcu)

    rst = 0
    for i, mcu in enumerate(mcus):
        if restart_interval and i and i % restart_interval == 0:
            bw.flush()
            out += bw.out
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bw = _BitWriter()
            pred = {cid: 0 for cid in range(1, ncomp + 1)}
        for cid, coeff in mcu:
            put_block(cid, coeff)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Progressive-JPEG handcrafting (T.81 Annex G): successive approximation
# with Al=1 for both DC and AC plus spectral selection (DC scan, then AC
# scan + refinement scan per component and spectral band).  The AC Huffman
# table is a fixed all-length-8 canonical table over every symbol the
# encoder can emit: EOBn up to r=10 (runs to 2047 blocks, i.e. extension
# bits beyond 7), ZRL, and (run,size) for sizes up to 10 (coefficient
# magnitudes beyond the 4-bit tier).
_PROG_AC_SYMBOLS = sorted(
    {r << 4 for r in range(11)}  # EOBn, runs up to 2047 blocks
    | {0xF0}                     # ZRL
    | {(r << 4) | s for r in range(16) for s in range(1, 11)}
)
_PROG_AC_COUNTS = [0] * 16
_PROG_AC_COUNTS[7] = len(_PROG_AC_SYMBOLS)


class _ScanEmitter:
    """Entropy-coded scan bytes with restart-marker support: every
    `restart_interval` data units the bit stream is 1-padded to a byte
    boundary, an RSTn marker (n cycling 0-7) is appended RAW (outside the
    byte-stuffing writer), and per-scan state (DC predictors, EOB runs)
    is reset via the callbacks."""

    def __init__(self, restart_interval: int):
        self.ri = restart_interval
        self.chunks = bytearray()
        self.bw = _BitWriter()
        self.rst = 0
        self.unit = 0

    def next_unit(self, pre_flush=None, reset=None):
        if self.ri and self.unit and self.unit % self.ri == 0:
            if pre_flush is not None:
                pre_flush()  # e.g. close out a pending EOB run
            self.bw.flush()
            self.chunks += self.bw.out
            self.chunks += bytes([0xFF, 0xD0 + (self.rst & 7)])
            self.rst += 1
            self.bw = _BitWriter()
            if reset is not None:
                reset()
        self.unit += 1

    def finish(self) -> bytes:
        self.bw.flush()
        self.chunks += self.bw.out
        return bytes(self.chunks)


def make_jpeg_progressive(block_vals: list[list[int]], color: bool = False,
                          subsample420: bool = False,
                          ac: dict[tuple[int, int], list[tuple[int, int]]] | None = None,
                          restart_interval: int = 0,
                          band_split: int | None = None,
                          ) -> bytes:
    """Progressive JFIF bytes (SOF2) for the same flat-block grid as
    `make_jpeg`, plus optional AC coefficients `ac[(block_r, block_c)] =
    [(zigzag_k, value), ...]` on the Y component (k in 1..63, zigzag
    positions ascending).

    Scan script: interleaved DC-first at Al=1, DC refinement, then per
    component and per spectral band an AC-first scan at Al=1 (with
    cross-block EOB runs) and an AC refinement scan to Al=0 — so the
    decoder's successive-approximation paths (DC shift/OR, AC
    newly-nonzero at +-1, correction bits inline and under EOB-run
    coverage) are all exercised by construction.

    `restart_interval` > 0 emits a DRI segment and RSTn markers every N
    data units in EVERY scan (MCUs in the interleaved DC scans, blocks in
    the non-interleaved AC scans), resetting DC predictors and EOB runs.
    `band_split` splits the AC spectrum into two scan pairs (1..split and
    split+1..63) — the spectral-selection script real encoders emit."""
    rows, cols = len(block_vals), len(block_vals[0])
    w, h = cols * 8, rows * 8
    ac = ac or {}
    if subsample420:
        color = True
        assert rows % 2 == 0 and cols % 2 == 0, "4:2:0 needs an even grid"
    dc_codes = _huff_codes(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    ac_codes = _huff_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)
    bands = [(1, 63)] if band_split is None else [
        (1, band_split), (band_split + 1, 63)
    ]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    ncomp = 3 if color else 1
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    y_hv = 0x22 if subsample420 else 0x11
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, y_hv if cid == 1 else 0x11, 0])
    out += seg(0xC2, sof)  # SOF2: progressive
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS))
    out += seg(0xC4, bytes([0x10]) + bytes(_PROG_AC_COUNTS) + bytes(_PROG_AC_SYMBOLS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    # per-component DC coefficient rasters (chroma flat 128 -> coef 0)
    y_dc = [[(v - 128) * 8 for v in row] for row in block_vals]

    def mcus():
        """Lists of (cid, block_r, block_c), one list per MCU."""
        if subsample420:
            for mr in range(rows // 2):
                for mc in range(cols // 2):
                    yield (
                        [(1, mr * 2 + by, mc * 2 + bx)
                         for by in range(2) for bx in range(2)]
                        + [(2, mr, mc), (3, mr, mc)]
                    )
        else:
            for r in range(rows):
                for c in range(cols):
                    yield [(cid, r, c) for cid in range(1, ncomp + 1)]

    def dc_coef(cid, r, c):
        return y_dc[r][c] if cid == 1 else 0

    def put_mag(bw, val):
        t = abs(val).bit_length()
        code, length = dc_codes[t]
        bw.put(code, length)
        if t:
            bw.put(val if val > 0 else val + (1 << t) - 1, t)

    # scan 1: DC first, Al=1 (arithmetic shift — two's complement, like
    # the decoder's <<Al ... |= reconstruction); restarts reset predictors
    em = _ScanEmitter(restart_interval)
    pred = dict.fromkeys(range(1, ncomp + 1), 0)
    for mcu in mcus():
        em.next_unit(reset=lambda: pred.update(dict.fromkeys(pred, 0)))
        for cid, r, c in mcu:
            v = dc_coef(cid, r, c) >> 1
            put_mag(em.bw, v - pred[cid])
            pred[cid] = v
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    out += em.finish()

    # scan 2: DC refinement to Al=0 — one raw bit per block
    em = _ScanEmitter(restart_interval)
    for mcu in mcus():
        em.next_unit()
        for cid, r, c in mcu:
            em.bw.put(dc_coef(cid, r, c) & 1, 1)
    out += sos(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    out += em.finish()

    def comp_grid(cid):
        if cid == 1 or not subsample420:
            return rows, cols
        return rows // 2, cols // 2

    def block_ac(cid, r, c):
        coefs = [0] * 64
        if cid == 1:
            for k, v in ac.get((r, c), []):
                coefs[k] = v
        return coefs

    def put_ac_symbol(bw, sym):
        code, length = ac_codes[sym]
        bw.put(code, length)

    for cid in range(1, ncomp + 1):
        gr, gc = comp_grid(cid)
        for ss, se in bands:
            out += _prog_ac_first_scan(
                cid, gr, gc, ss, se, block_ac, put_ac_symbol, sos,
                restart_interval,
            )
            out += _prog_ac_refine_scan(
                cid, gr, gc, ss, se, block_ac, put_ac_symbol, sos,
                restart_interval,
            )

    out += b"\xff\xd9"
    return bytes(out)


def _prog_ac_first_scan(cid, gr, gc, ss, se, block_ac, put_ac_symbol, sos,
                        restart_interval) -> bytes:
    """AC first scan over spectral band ss..se, Al=1: magnitudes >>1, EOB
    runs across empty blocks (never across a restart boundary)."""
    em = _ScanEmitter(restart_interval)
    state = {"eob": 0}

    def flush_eob():
        if state["eob"]:
            rbits = state["eob"].bit_length() - 1
            put_ac_symbol(em.bw, rbits << 4)
            if rbits:
                em.bw.put(state["eob"] - (1 << rbits), rbits)
            state["eob"] = 0

    for r in range(gr):
        for c in range(gc):
            em.next_unit(pre_flush=flush_eob)
            vals = [(k, (abs(v) >> 1) * (1 if v > 0 else -1))
                    for k, v in enumerate(block_ac(cid, r, c))
                    if ss <= k <= se]
            nz = [(k, v1) for k, v1 in vals if v1 != 0]
            if not nz:
                state["eob"] += 1
                continue
            flush_eob()
            prev_k = ss - 1
            for k, v1 in nz:
                run = k - prev_k - 1
                while run >= 16:
                    put_ac_symbol(em.bw, 0xF0)
                    run -= 16
                t = abs(v1).bit_length()
                put_ac_symbol(em.bw, (run << 4) | t)
                em.bw.put(v1 if v1 > 0 else v1 + (1 << t) - 1, t)
                prev_k = k
            if prev_k < se:
                state["eob"] = 1
    flush_eob()
    return sos([cid], ss, se, 0, 1) + em.finish()


def _prog_ac_refine_scan(cid, gr, gc, ss, se, block_ac, put_ac_symbol, sos,
                         restart_interval) -> bytes:
    """AC refinement scan over band ss..se to Al=0: newly-nonzero (+-1)
    symbols with inline correction bits; EOB runs carry the remaining
    blocks' correction bits (matching the decoder's eobrun branch order);
    restarts flush and reset the run."""
    em = _ScanEmitter(restart_interval)
    state = {"eob": 0, "bits": []}

    def flush_eob():
        if state["eob"]:
            rbits = state["eob"].bit_length() - 1
            put_ac_symbol(em.bw, rbits << 4)
            if rbits:
                em.bw.put(state["eob"] - (1 << rbits), rbits)
            for bit in state["bits"]:
                em.bw.put(bit, 1)
            state["eob"] = 0
            state["bits"] = []

    for r in range(gr):
        for c in range(gc):
            em.next_unit(pre_flush=flush_eob)
            target = block_ac(cid, r, c)
            hist = [
                (abs(v) >> 1) * (1 if v > 0 else -1)
                if ss <= i <= se else 0
                for i, v in enumerate(target)
            ]
            # events: ('new', zero_run, sign, corr) | ('zrl', corr) —
            # corr bits are those of nonzero-history coefficients
            # crossed since the previous symbol (the decoder reads
            # them while walking toward the symbol's landing position)
            events = []
            corr: list[int] = []
            run = 0
            for k in range(ss, se + 1):
                if hist[k] != 0:
                    corr.append(abs(target[k]) & 1)
                elif abs(target[k]) == 1:
                    events.append(("new", run, 1 if target[k] > 0 else 0, corr))
                    run, corr = 0, []
                else:
                    run += 1
                    if run == 16:
                        events.append(("zrl", corr))
                        run, corr = 0, []
            if not any(e[0] == "new" for e in events):
                # nothing to place inline: the whole block rides an
                # EOB run (dropping any eager ZRLs), whose coverage
                # reads every nonzero-history coefficient's bit
                state["eob"] += 1
                state["bits"] += [
                    abs(target[k]) & 1 for k in range(ss, se + 1) if hist[k] != 0
                ]
                continue
            # drop trailing ZRLs (an EOB covers the remainder)
            while events and events[-1][0] == "zrl":
                corr = events.pop()[1] + corr
            flush_eob()
            for ev in events:
                if ev[0] == "zrl":
                    put_ac_symbol(em.bw, 0xF0)
                    for bit in ev[1]:
                        em.bw.put(bit, 1)
                else:
                    _, zrun, sign, cbits = ev
                    put_ac_symbol(em.bw, (zrun << 4) | 1)
                    em.bw.put(sign, 1)
                    for bit in cbits:
                        em.bw.put(bit, 1)
            state["eob"] = 1
            state["bits"] = list(corr)
    flush_eob()
    return sos([cid], ss, se, 1, 0) + em.finish()


def make_jpeg_separate_scans(block_vals: list[list[int]]) -> bytes:
    """Baseline (SOF0) color 4:4:4 with THREE single-component scans —
    the spec-legal non-interleaved layout (T.81 A.2.2): each scan rasters
    its own component's block grid with its own DC predictor."""
    rows, cols = len(block_vals), len(block_vals[0])
    w, h = cols * 8, rows * 8
    dc = _huff_codes(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    ac = _huff_codes(_JPEG_AC_COUNTS, _JPEG_AC_SYMBOLS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS))
    out += seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_COUNTS) + bytes(_JPEG_AC_SYMBOLS))
    for cid in (1, 2, 3):
        bw = _BitWriter()
        pred = 0
        for r in range(rows):
            for c in range(cols):
                coeff = (block_vals[r][c] - 128) * 8 if cid == 1 else 0
                diff = coeff - pred
                pred = coeff
                t = abs(diff).bit_length()
                code, length = dc[t]
                bw.put(code, length)
                if t:
                    bw.put(diff if diff > 0 else diff + (1 << t) - 1, t)
                code, length = ac[0x00]
                bw.put(code, length)
        bw.flush()
        out += seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# (name, block grid, color, subsample420) — values chosen to cover
# positive/negative/zero DC diffs across blocks; expectations are the grid
# values themselves
JPEG_SPECS = [
    ("jpeg-gray-1blk", [[200]], False, False),
    ("jpeg-gray-4x2", [[0, 64, 128, 255], [255, 128, 64, 0]], False, False),
    ("jpeg-color-2x2", [[32, 224], [224, 32]], True, False),
    ("jpeg-420-4x4", [[16, 48, 80, 112], [144, 176, 208, 240],
                      [240, 208, 176, 144], [112, 80, 48, 16]], True, True),
]


def jpeg_pixel(block_vals: list[list[int]], x: int, y: int) -> int:
    return block_vals[y // 8][x // 8]


# progressive (SOF2) variants of the same closed-form DC-only content —
# same pixel expectations as the baseline grids, decoded through the
# successive-approximation scan script of make_jpeg_progressive
JPEG_PROG_SPECS = [
    ("jpeg-prog-gray-4x2", [[0, 64, 128, 255], [255, 128, 64, 0]], False, False),
    ("jpeg-prog-420-4x4", [[16, 48, 80, 112], [144, 176, 208, 240],
                           [240, 208, 176, 144], [112, 80, 48, 16]], True, True),
]

# (name, grid, ac) progressive fixtures WITH AC coefficients, in the
# oracled corpus: block (0,0) carries first-scan magnitudes of Huffman
# size 5 and 6 (|v| >> 1 >= 16 — the (run,size) tier above 4 bits), and
# the 298 empty blocks before (0,299) force an EOBn symbol with 8
# extension bits (run >= 256) in both the first and refinement AC scans.
# Coefficient values are chosen so every pre-round IDCT pixel of the AC
# blocks sits >= 0.05 from a rounding tie (asserted by the golden
# generator), keeping the decoder's einsum and the spec's double-sum
# bit-identical after rounding.
JPEG_PROG_AC_SPECS = [
    ("jpeg-prog-aceob-1x300", [[128] * 300],
     {(0, 0): [(1, 71), (7, -34)], (0, 299): [(2, 33), (10, 1)]}),
]


def jpeg_prog_ac_pixel(grid: list[list[int]],
                       ac: dict[tuple[int, int], list[tuple[int, int]]],
                       x: int, y: int) -> int:
    """Closed-form pixel of a progressive-with-AC fixture: T.81 A.3.3
    inverse DCT straight from the spec formula over the coefficient SPEC
    (quant all-ones) — shared with the golden generators, never derived
    from the decoder."""
    import math

    r, c = y // 8, x // 8
    coefs = {0: (grid[r][c] - 128) * 8, **dict(ac.get((r, c), []))}
    bx, by = x % 8, y % 8
    s = 0.0
    # zigzag index -> (row, col): public T.81 Figure A.6 scan order
    zz = _jpeg_zigzag()
    for k, val in coefs.items():
        u, v = zz[k]
        cu = math.sqrt(0.5) if u == 0 else 1.0
        cv = math.sqrt(0.5) if v == 0 else 1.0
        s += (cu * cv * val
              * math.cos((2 * by + 1) * u * math.pi / 16)
              * math.cos((2 * bx + 1) * v * math.pi / 16))
    return int(min(255, max(0, round(s / 4.0 + 128.0))))


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """T.81 zigzag scan order, generated procedurally (diagonal walk)."""
    order = []
    for d in range(15):
        rng = range(d + 1) if d % 2 else range(d, -1, -1)
        for r in rng:
            c = d - r
            if r < 8 and c < 8:
                order.append((r, c))
    return order


# (name, w, h, palette_bits) GIFs: palette entry i is gray
# i * 255 // (2^bits - 1); pixel index at (x, y) = (x + y) % 2^bits
GIF_SPECS = [
    ("gif-2bit-13x9", 13, 9, 2),
    ("gif-4bit-20x11", 20, 11, 4),
]


def gif_gray(bits: int, x: int, y: int) -> int:
    """Closed-form gray value of the GIF spec pattern (shared with the
    golden generator)."""
    n = 1 << bits
    return ((x + y) % n) * 255 // (n - 1)


def make_gif(w: int, h: int, bits: int = 2) -> bytes:
    """GIF89a bytes via the classic 'uncompressed GIF' technique: every
    pixel index is emitted as a literal LZW code, with a CLEAR code every
    2^bits - 2 literals so the decoder's dictionary (which inserts one
    entry per literal after the first, and widens the code size the
    moment next_code reaches 2^width) never leaves width bits+1 — the
    encoder stays fixed there.  Exercises the decoder's variable-width
    reader, CLEAR handling, and palette map."""
    n = 1 << bits
    palette = b"".join(bytes([i * 255 // (n - 1)] * 3) for i in range(n))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([bits])  # LZW minimum code size
    clear, eoi = n, n + 1
    width = bits + 1
    acc = nb = 0
    coded = bytearray()

    def put(code: int):
        nonlocal acc, nb
        acc |= code << nb
        nb += width
        while nb >= 8:
            coded.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    put(clear)
    since_clear = 0
    for y in range(h):
        for x in range(w):
            if since_clear == n - 2:
                put(clear)
                since_clear = 0
            put((x + y) % n)
            since_clear += 1
    put(eoi)
    if nb:
        coded.append(acc & 0xFF)
    for i in range(0, len(coded), 255):
        chunk = coded[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_encode(indices: list[int], min_code: int) -> bytes:
    """REAL GIF LZW compression (greedy longest-match dictionary), packed
    LSB-first with variable code widths.  The width schedule mirrors the
    decoder's state machine exactly: the decoder inserts one table entry
    per code AFTER the first post-CLEAR code and widens when its
    next_code reaches 2^width, so the encoder tracks that (lagging-by-one)
    counter rather than its own dictionary size.  When the dictionary
    fills (4096), a CLEAR resets both sides.  Unlike the 'uncompressed
    GIF' technique in make_gif, this emits dictionary codes — exercising
    the decoder's entry-reference, width-growth, KwKwK (code == next_code)
    and table-reset paths."""
    clear = 1 << min_code
    eoi = clear + 1
    out_codes: list[tuple[int, int]] = []
    width = min_code + 1
    dec_next = eoi + 1
    first_after_clear = True

    def emit(code: int):
        nonlocal width, dec_next, first_after_clear
        out_codes.append((code, width))
        if code == clear:
            width = min_code + 1
            dec_next = eoi + 1
            first_after_clear = True
            return
        if first_after_clear:
            first_after_clear = False
            return
        if dec_next < 4096:
            dec_next += 1
        if dec_next >= (1 << width) and width < 12:
            width += 1

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    enc_next = eoi + 1
    emit(clear)
    cur = (indices[0],)
    for c in indices[1:]:
        nxt = cur + (c,)
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if enc_next < 4096:
            table[nxt] = enc_next
            enc_next += 1
        else:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            enc_next = eoi + 1
        cur = (c,)
    emit(table[cur])
    emit(eoi)
    acc = nb = 0
    coded = bytearray()
    for code, w in out_codes:
        acc |= code << nb
        nb += w
        while nb >= 8:
            coded.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    if nb:
        coded.append(acc & 0xFF)
    return bytes(coded)


def make_gif_lzw(w: int, h: int, bits: int = 2,
                 indices: list[int] | None = None,
                 interlace: bool = False) -> bytes:
    """GIF89a bytes whose image data is REALLY LZW-compressed (see
    _gif_lzw_encode) — same container and palette as make_gif (palette
    entry i is gray i*255//(2^bits-1)); `indices` defaults to the same
    (x+y) % 2^bits pattern so expectations stay closed-form.  With
    `interlace` the rows are written in appendix-E 4-pass order and the
    descriptor's interlace flag set — the decoder must scatter them
    back."""
    n = 1 << bits
    if indices is None:
        indices = [(x + y) % n for y in range(h) for x in range(w)]
    assert len(indices) == w * h and all(0 <= i < n for i in indices)
    if interlace:
        # appendix-E pass order, spelled out here independently of the
        # decoder's inverse (tests pin both against a hand-derived KAT)
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = [indices[y * w : (y + 1) * w] for y in range(h)]
        indices = [v for y in order for v in rows[y]]
    palette = b"".join(bytes([i * 255 // (n - 1)] * 3) for i in range(n))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    out += bytes([bits])
    coded = _gif_lzw_encode(indices, bits)
    for i in range(0, len(coded), 255):
        chunk = coded[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _flac_bits() -> "_BitWriter":
    return _BitWriter(stuff=False)


def make_flac(rate: int, n_channels: int, amplitudes: list[int],
              samples_per_window: int = 64, mid_side: bool = False) -> bytes:
    """FLAC bytes with one fixed-blocking frame per window: every sample
    in window i is the constant `amplitudes[i]` on every channel (so the
    per-window RMS expectation is |amp|/32768, exactly like make_wav).
    Frames cycle CONSTANT / VERBATIM / FIXED-order-1 / LPC-order-1
    subframes (the predicted frames carry real Rice-coded all-zero
    residuals; the LPC one a quantized coef of 1, shift 0), and with
    `mid_side` stereo frames use mid/side decorrelation (side = 0, one
    extra side bit) — so the decoder's subframe, residual, and stereo
    paths are all exercised by construction.  CRC-8/CRC-16 are computed
    for real (the decoder verifies both)."""
    from ..operators.flac import crc8, crc16

    assert 1 <= n_channels <= 2
    spw = samples_per_window
    total = len(amplitudes) * spw

    si = _flac_bits()
    si.put(spw, 16)           # min blocksize
    si.put(spw, 16)           # max blocksize
    si.put(0, 24)             # min framesize unknown
    si.put(0, 24)             # max framesize unknown
    si.put(rate, 20)
    si.put(n_channels - 1, 3)
    si.put(15, 5)             # bps - 1 = 16-bit
    si.put(total, 36)
    si.put(0, 128)            # md5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34]) + bytes(si.out)  # last-block STREAMINFO

    for i, amp in enumerate(amplitudes):
        assert -32768 <= amp <= 32767 and i < 128
        fb = _flac_bits()
        fb.put(0b11111111111110, 14)
        fb.put(0, 1)              # reserved
        fb.put(0, 1)              # fixed blocking
        fb.put(6, 4)              # blocksize: 8-bit value at header end
        fb.put(0, 4)              # sample rate: from STREAMINFO
        use_ms = mid_side and n_channels == 2 and i % 2 == 1
        fb.put(10 if use_ms else n_channels - 1, 4)
        fb.put(4, 3)              # 16 bits per sample
        fb.put(0, 1)              # reserved
        fb.put(i, 8)              # frame number (UTF-8 single byte)
        fb.put(spw - 1, 8)
        fb.put(crc8(bytes(fb.out)), 8)

        def subframe(value: int, bps: int, kind: int):
            fb.put(0, 1)          # padding
            if kind == 0:         # CONSTANT
                fb.put(0, 6)
                fb.put(0, 1)      # no wasted bits
                fb.put_signed(value, bps)
            elif kind == 1:       # VERBATIM
                fb.put(1, 6)
                fb.put(0, 1)
                for _ in range(spw):
                    fb.put_signed(value, bps)
            elif kind == 2:       # FIXED order 1: all-zero Rice residual
                fb.put(8 + 1, 6)
                fb.put(0, 1)
                fb.put_signed(value, bps)   # warmup
                fb.put(0, 2)      # residual method: 4-bit Rice
                fb.put(0, 4)      # partition order 0
                fb.put(0, 4)      # Rice parameter 0
                for _ in range(spw - 1):
                    fb.put(1, 1)  # zigzag(0): unary quotient 0 -> lone 1
            else:                 # LPC order 1, coef 1, shift 0 == pred prev
                fb.put(0x20, 6)   # LPC, order (t & 0x1F) + 1 = 1
                fb.put(0, 1)
                fb.put_signed(value, bps)   # warmup
                fb.put(1, 4)      # precision - 1 = 1 -> 2-bit coefs
                fb.put_signed(0, 5)         # shift 0
                fb.put_signed(1, 2)         # coef = 1
                fb.put(0, 2)      # 4-bit Rice
                fb.put(0, 4)      # partition order 0
                fb.put(0, 4)      # Rice parameter 0
                for _ in range(spw - 1):
                    fb.put(1, 1)  # zero residuals

        kind = i % 4
        if use_ms:
            subframe(amp, 16, kind)   # mid = amp (L == R)
            subframe(0, 17, kind)     # side = 0, one extra bit
        else:
            for _ in range(n_channels):
                subframe(amp, 16, kind)
        fb.align()
        frame = bytes(fb.out)
        out += frame + struct.pack(">H", crc16(frame))
    return bytes(out)


def make_flac_rice(rate: int, samples: list[int], partition_order: int = 1,
                   escape_last: bool = False) -> bytes:
    """Single-frame FLAC whose FIXED-order-1 subframe Rice-codes the REAL
    residual sequence of `samples` (mono 16-bit): nonzero quotients and
    remainders, per-partition parameter choice, and optionally a
    raw-escape last partition — the entropy paths the constant-amplitude
    fixtures never reach.  Expectation = `samples`, verbatim."""
    from ..operators.flac import crc8, crc16

    bs = len(samples)
    nparts = 1 << partition_order
    assert bs % nparts == 0 and bs // nparts > 1

    si = _flac_bits()
    si.put(bs, 16); si.put(bs, 16)
    si.put(0, 24); si.put(0, 24)
    si.put(rate, 20); si.put(0, 3); si.put(15, 5)
    si.put(bs, 36); si.put(0, 128)
    out = bytearray(b"fLaC") + bytes([0x80, 0, 0, 34]) + bytes(si.out)

    fb = _flac_bits()
    fb.put(0b11111111111110, 14); fb.put(0, 1); fb.put(0, 1)
    fb.put(7, 4)              # 16-bit blocksize at header end
    fb.put(0, 4); fb.put(0, 4); fb.put(4, 3); fb.put(0, 1)
    fb.put(0, 8)              # frame number 0
    fb.put(bs - 1, 16)
    fb.put(crc8(bytes(fb.out)), 8)

    fb.put(0, 1); fb.put(8 + 1, 6); fb.put(0, 1)  # FIXED order 1
    fb.put_signed(samples[0], 16)                  # warmup
    residuals = [samples[i] - samples[i - 1] for i in range(1, bs)]
    fb.put(0, 2)                                   # 4-bit Rice params
    fb.put(partition_order, 4)
    pos = 0
    for p in range(nparts):
        n = (bs >> partition_order) - (1 if p == 0 else 0)
        part = residuals[pos : pos + n]
        pos += n
        if escape_last and p == nparts - 1:
            fb.put(15, 4)                          # escape
            fb.put(17, 5)                          # raw 17-bit residuals
            for r in part:
                fb.put_signed(r, 17)
            continue
        # zigzag (inverse of the decoder's (v>>1) ^ -(v&1)), then pick the
        # smallest Rice parameter whose mean quotient stays small
        zig = [(r << 1) if r >= 0 else ((-r << 1) - 1) for r in part]
        param = 0
        while param < 14 and sum(z >> param for z in zig) > 4 * len(zig):
            param += 1
        fb.put(param, 4)
        for z in zig:
            fb.put(0, z >> param)                  # unary quotient: q zeros
            fb.put(1, 1)                           # terminator
            fb.put(z & ((1 << param) - 1), param)
    fb.align()
    frame = bytes(fb.out)
    return bytes(out + frame + struct.pack(">H", crc16(frame)))


_FLAC_SS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_utf8_number(fb: "_BitWriter", v: int) -> None:
    """FLAC's UTF-8-style coded frame number (encoder side of the
    decoder's _utf8_number)."""
    if v < 0x80:
        fb.put(v, 8)
        return
    # shortest multi-byte form: n_more continuation bytes carry 6 bits
    # each, the lead byte 6 - n_more
    n_more = 1
    while v >= (1 << ((6 - n_more) + 6 * n_more)):
        n_more += 1
    lead = ((0xFF << (7 - n_more)) & 0xFF) | (v >> (6 * n_more))
    fb.put(lead, 8)
    for i in range(n_more - 1, -1, -1):
        fb.put(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _trailing_zeros_common(vals: list[int], cap: int) -> int:
    w = cap
    for v in vals:
        if v == 0:
            continue
        w = min(w, (v & -v).bit_length() - 1)
        if w == 0:
            break
    return w


def make_flac_stream(rate: int, channels: list[list[int]], bps: int = 16,
                     block_size: int = 64, order: int = 1,
                     partition_order: int = 0, rice2: bool = False,
                     escape_parts: frozenset[int] | set[int] = frozenset(),
                     wasted: int = 0, stereo_mode: str = "independent",
                     known_total: bool = True,
                     trailing: bytes = b"") -> bytes:
    """General from-scratch FLAC encoder over ARBITRARY sample sequences —
    the property-test counterpart of make_flac/make_flac_rice's hand-built
    fixtures.  Every knob maps to a spec feature the decoder must undo
    bit-exactly, so the expectation is always just `channels` verbatim:

      * `order`: FIXED predictor order 0-4 (residual = spec prediction
        equation applied to the true samples); blocks too short for the
        order fall back to VERBATIM
      * `partition_order`: Rice partitioning (auto-lowered per frame until
        it divides the blocksize and leaves the first partition nonempty)
      * `rice2`: residual method 1 (5-bit Rice parameters)
      * `escape_parts`: partition indices written as raw-escape (5-bit
        width + verbatim residuals) instead of Rice codes
      * `wasted`: shift each subframe signal right by up to this many
        common trailing zero bits and record them as wasted bits
      * `stereo_mode`: independent / left_side / right_side / mid_side
        channel decorrelation (side channel carries bps+1 bits)
      * `bps`: 8/12/16/20/24/32-bit samples (frame header sample-size code)
      * `known_total` False writes STREAMINFO total_samples = 0 (unknown;
        decoder must run to EOF), and `trailing` appends non-frame bytes
        (padding/tags) after the last frame

    Frames use the 16-bit end-of-header blocksize form so any block size
    round-trips; CRC-8/CRC-16 are computed for real."""
    from ..operators.flac import crc8, crc16

    nch = len(channels)
    assert 1 <= nch <= 2
    assert bps in _FLAC_SS_CODE
    total = len(channels[0])
    assert all(len(c) == total for c in channels)
    lim = 1 << (bps - 1)
    assert all(-lim <= v < lim for c in channels for v in c)
    if stereo_mode != "independent":
        assert nch == 2

    si = _flac_bits()
    si.put(16, 16)            # min blocksize (informational)
    si.put(max(block_size, 16), 16)
    si.put(0, 24); si.put(0, 24)
    si.put(rate, 20)
    si.put(nch - 1, 3)
    si.put(bps - 1, 5)
    si.put(total if known_total else 0, 36)
    si.put(0, 128)
    out = bytearray(b"fLaC") + bytes([0x80, 0, 0, 34]) + bytes(si.out)

    method = 1 if rice2 else 0
    param_bits = 5 if method else 4
    escape = (1 << param_bits) - 1

    def write_subframe(fb: "_BitWriter", sig: list[int], sub_bps: int):
        bs = len(sig)
        w = _trailing_zeros_common(sig, min(wasted, sub_bps - 1))
        eff_bps = sub_bps - w
        s = [v >> w for v in sig]
        fb.put(0, 1)  # padding
        use_order = order if bs > order else None
        if use_order is None:
            fb.put(1, 6)          # VERBATIM
            _put_wasted(fb, w)
            for v in s:
                fb.put_signed(v, eff_bps)
            return
        fb.put(8 + use_order, 6)  # FIXED
        _put_wasted(fb, w)
        for v in s[:use_order]:
            fb.put_signed(v, eff_bps)
        coefs = _FLAC_FIXED_COEFS[use_order]
        res = [
            s[i] - sum(c * s[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(use_order, bs)
        ]
        po = partition_order
        while po and (bs % (1 << po) or (bs >> po) <= use_order):
            po -= 1
        fb.put(method, 2)
        fb.put(po, 4)
        nparts = 1 << po
        pos = 0
        for p in range(nparts):
            n = (bs >> po) - (use_order if p == 0 else 0)
            part = res[pos : pos + n]
            pos += n
            if p in escape_parts:
                fb.put(escape, param_bits)
                raw = max((abs(r).bit_length() + 1 for r in part), default=0)
                raw = min(raw, 31)
                fb.put(raw, 5)
                if raw:
                    for r in part:
                        fb.put_signed(r, raw)
                continue
            zig = [(r << 1) if r >= 0 else ((-r << 1) - 1) for r in part]
            param = 0
            while (
                param < escape - 1
                and sum(z >> param for z in zig) > 4 * max(len(zig), 1)
            ):
                param += 1
            fb.put(param, param_bits)
            for z in zig:
                fb.put(0, z >> param)
                fb.put(1, 1)
                fb.put(z & ((1 << param) - 1), param)

    def _put_wasted(fb: "_BitWriter", w: int):
        if w:
            fb.put(1, 1)
            fb.put(0, w - 1)  # unary: w-1 zeros...
            fb.put(1, 1)      # ...terminated by a 1 -> wasted = (w-1)+1
        else:
            fb.put(0, 1)

    ch_code = {
        "independent": nch - 1, "left_side": 8, "right_side": 9, "mid_side": 10,
    }[stereo_mode]

    frame_no = 0
    for start in range(0, total, block_size):
        blocks = [c[start : start + block_size] for c in channels]
        bs = len(blocks[0])
        fb = _flac_bits()
        fb.put(0b11111111111110, 14)
        fb.put(0, 1)
        fb.put(0, 1)              # fixed blocking: coded number = frame no
        fb.put(7, 4)              # blocksize: 16-bit at header end
        fb.put(0, 4)              # rate from STREAMINFO
        fb.put(ch_code, 4)
        fb.put(_FLAC_SS_CODE[bps], 3)
        fb.put(0, 1)
        _flac_utf8_number(fb, frame_no)
        fb.put(bs - 1, 16)
        fb.put(crc8(bytes(fb.out)), 8)
        if stereo_mode == "independent":
            for c in blocks:
                write_subframe(fb, c, bps)
        else:
            L, R = blocks
            side = [l - r for l, r in zip(L, R)]
            if stereo_mode == "left_side":
                write_subframe(fb, L, bps)
                write_subframe(fb, side, bps + 1)
            elif stereo_mode == "right_side":
                write_subframe(fb, side, bps + 1)
                write_subframe(fb, R, bps)
            else:  # mid_side
                mid = [(l + r) >> 1 for l, r in zip(L, R)]
                write_subframe(fb, mid, bps)
                write_subframe(fb, side, bps + 1)
        fb.align()
        frame = bytes(fb.out)
        out += frame + struct.pack(">H", crc16(frame))
        frame_no += 1
    return bytes(out) + trailing


# (name, rate, n_channels, mid_side, amplitudes[16]) FLACs — same exact
# power-of-two amplitude scheme as WAV_SPECS
FLAC_SPECS = [
    ("flac-steps-mono", 8000, 1, False,
     [0, 4096, 8192, 16384, 0, -4096, -8192, -16384,
      16384, 8192, 4096, 0, 4096, 4096, 8192, 0]),
    ("flac-steps-midside", 16000, 2, True,
     [8192, 8192, 0, 0, 16384, 4096, 0, 8192,
      4096, 0, 16384, 16384, 0, 8192, 4096, 0]),
]


def make_wav(rate: int, n_channels: int, amplitudes: list[int],
             samples_per_window: int = 64) -> bytes:
    frames = bytearray()
    for amp in amplitudes:
        frames += struct.pack("<h", amp) * (samples_per_window * n_channels)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(bytes(frames))
    return buf.getvalue()


def _vp8l_fuzz(which: str) -> bytes:
    """Hand-written VP8L bitstreams exercising each decoder rejection path
    with a DETERMINISTIC failure (bit-exact per RFC 9649 §3, written with
    the encoder's LSB-first packer): these are crafted to raise, never to
    silently decode to wrong pixels, so the stub-tier expectation is exact.

      hugedims     - 14-bit header fields at max (16384x16384 = 268M px):
                     must hit the decode-size cap BEFORE any pixel loop
                     (a single-symbol code stream would otherwise spin the
                     per-pixel loop for hours on 12 payload bytes)
      duptransform - the same transform type listed twice (§3.6 allows
                     each at most once)
      badlengths   - normal prefix code whose 19-symbol code-length code
                     is all zero lengths (empty code)
      overlongref  - LZ77 backward reference whose distance (~786k) far
                     exceeds the pixels decoded so far in a 2x2 image
    """
    from .webp_enc import _LsbWriter

    bw = _LsbWriter()
    bw.put(0x2F, 8)  # signature
    if which == "hugedims":
        bw.put(0x3FFF, 14)  # w-1
        bw.put(0x3FFF, 14)  # h-1
        bw.put(0, 1)  # alpha
        bw.put(0, 3)  # version
        bw.put(0, 1)  # no transforms
    else:
        bw.put(1, 14)  # w=2
        bw.put(1, 14)  # h=2
        bw.put(0, 1)
        bw.put(0, 3)
        if which == "duptransform":
            bw.put(1, 1)
            bw.put(2, 2)  # SUBTRACT_GREEN
            bw.put(1, 1)
            bw.put(2, 2)  # SUBTRACT_GREEN again -> duplicate
        elif which == "badlengths":
            bw.put(0, 1)  # no transforms
            bw.put(0, 1)  # no color cache
            bw.put(0, 1)  # no meta prefix codes
            bw.put(0, 1)  # green code: normal (code-length-coded)
            bw.put(0, 4)  # num_codes = 4
            for _ in range(4):
                bw.put(0, 3)  # all code-length lengths zero -> empty code
        elif which == "overlongref":
            bw.put(0, 1)  # no transforms
            bw.put(0, 1)  # no color cache
            bw.put(0, 1)  # no meta prefix codes
            # green code (alphabet 280): normal code assigning 1-bit codes
            # to symbols 0 (literal) and 257 (LZ77 length code 1)
            bw.put(0, 1)  # normal
            bw.put(0, 4)  # num_codes = 4 -> order positions 17,18,0,1
            bw.put(0, 3)  # len(17) = 0
            bw.put(1, 3)  # len(18) = 1
            bw.put(0, 3)  # len(0)  = 0
            bw.put(1, 3)  # len(1)  = 1
            bw.put(1, 1)  # use max_symbol
            bw.put(0, 3)  # length_nbits = 2
            bw.put(2, 2)  # max_symbol = 4 code-length reads
            # cl code: sym 1 -> bit 0, sym 18 -> bit 1 (canonical 1-bit)
            bw.put(0, 1)  # lengths[0] = 1
            bw.put(1, 1)  # code 18: zero-run
            bw.put(127, 7)  # run 11+127=138 -> sym 139
            bw.put(1, 1)  # code 18 again
            bw.put(107, 7)  # run 11+107=118 -> sym 257
            bw.put(0, 1)  # lengths[257] = 1
            # r/b/a codes: simple single-symbol (1-bit-coded symbol 0)
            for _ in range(3):
                bw.put(1, 1)  # simple
                bw.put(0, 1)  # one symbol
                bw.put(0, 1)  # 1-bit first symbol
                bw.put(0, 1)  # symbol 0
            # distance code (alphabet 40): simple single symbol 39
            bw.put(1, 1)  # simple
            bw.put(0, 1)  # one symbol
            bw.put(1, 1)  # 8-bit first symbol
            bw.put(39, 8)
            # pixel stream: green symbol 257 (bit 1) -> LZ77 length 2,
            # distance code 39 -> 3<<18 + extra -> dist ~786k >> pos 0
            bw.put(1, 1)
            bw.put(0, 18)  # distance extra bits
        else:
            raise ValueError(which)
    payload = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def fuzz_media_rows() -> list[tuple[str, str, bytes]]:
    """Deterministically MALFORMED real-encoder outputs — truncations and
    fixed single-byte corruptions of valid PNG/GIF/FLAC/WAV/progressive-
    JPEG streams.  Every one of these must land in the tagged stub tier
    (decoder='stub') rather than raising out of the UDF: real-world
    corpora are full of cut-off downloads and bit-rotted files, and a
    100 TB job cannot die on row 10^11.  Part of the ORACLED corpus (the
    golden expects the documented stub formula over these exact bytes)."""
    png = make_png(16, 16, 2)
    gif = make_gif(13, 9, 2)
    flac = make_flac(8000, 1, [0, 4096, -8192, 16384] * 4)
    wav = make_wav(8000, 1, [4096] * 8)
    jprog = make_jpeg_progressive([[0, 64, 128, 255], [255, 128, 64, 0]])
    webp = make_webp_fixture("", 16, 8, "literal")
    bad_gif = bytearray(gif)
    bad_gif[-10] ^= 0xFF  # corrupt the LZW stream near the end
    bad_flac = bytearray(flac)
    bad_flac[-3] ^= 0x10  # breaks the last frame's CRC-16
    bad_webp = bytearray(webp)
    # set a high bit of the 14-bit width field (VP8L payload starts at
    # container offset 20; width bit 10 = payload bit 18 = byte 2 bit 2):
    # the declared image grows ~64x wider than the entropy stream encodes,
    # so the decode deterministically hits end-of-stream rather than
    # silently producing wrong pixels
    bad_webp[22] |= 0x04
    return [
        ("fuzz-webp-truncated", "image", webp[: len(webp) // 2]),
        ("fuzz-webp-corrupt", "image", bytes(bad_webp)),
        ("fuzz-webp-hugedims", "image", _vp8l_fuzz("hugedims")),
        ("fuzz-webp-duptransform", "image", _vp8l_fuzz("duptransform")),
        ("fuzz-webp-badlengths", "image", _vp8l_fuzz("badlengths")),
        ("fuzz-webp-overlongref", "image", _vp8l_fuzz("overlongref")),
        ("fuzz-png-truncated", "image", png[: len(png) // 2]),
        ("fuzz-gif-truncated", "image", gif[:24]),
        ("fuzz-gif-corrupt", "image", bytes(bad_gif)),
        ("fuzz-jpeg-prog-truncated", "image", jprog[: int(len(jprog) * 0.7)]),
        ("fuzz-flac-truncated", "audio", flac[: int(len(flac) * 0.6)]),
        ("fuzz-flac-corrupt", "audio", bytes(bad_flac)),
        ("fuzz-wav-truncated", "audio", wav[:30]),
    ]


def synthetic_media_rows() -> list[tuple[str, str, bytes]]:
    """(media_id, media_kind, payload) for every spec — deterministic."""
    rows: list[tuple[str, str, bytes]] = []
    for name, w, h in PPM_SPECS:
        rows.append((name, "image", make_ppm(w, h)))
    for name, w, h, v in BMP_SPECS:
        rows.append((name, "image", make_bmp(w, h, v)))
    for name, w, h, ct in PNG_SPECS:
        rows.append((name, "image", make_png(w, h, ct)))
    for name, grid, color, sub in JPEG_SPECS:
        rows.append((name, "image", make_jpeg(grid, color, sub)))
    for name, grid, color, sub in JPEG_PROG_SPECS:
        rows.append((name, "image", make_jpeg_progressive(grid, color, sub)))
    for name, grid, ac in JPEG_PROG_AC_SPECS:
        rows.append((name, "image", make_jpeg_progressive(grid, ac=ac)))
    for name, w, h, bits in GIF_SPECS:
        rows.append((name, "image", make_gif(w, h, bits)))
    for name, w, h, kind in WEBP_SPECS:
        rows.append((name, "image", make_webp_fixture(name, w, h, kind)))
    for name, rate, nch, amps in WAV_SPECS:
        rows.append((name, "audio", make_wav(rate, nch, amps)))
    for name, rate, nch, ms, amps in FLAC_SPECS:
        rows.append((name, "audio", make_flac(rate, nch, amps, mid_side=ms)))
    for name, payload in STUB_SPECS:
        rows.append((name, "image", payload))
    # a REALLY-compressed GIF (dictionary codes, width growth) beside the
    # uncompressed-technique fixtures; same closed-form pixel pattern
    rows.append(("gif-lzw-4bit-40x30", "image", make_gif_lzw(40, 30, 4)))
    # interlaced variants: Adam7 PNG and 4-pass GIF with the same
    # closed-form pixel formulas as their progressive twins
    import numpy as np

    px = np.array(
        [[[png_pixel(x, y)] for x in range(21)] for y in range(17)],
        dtype=np.uint8,
    )
    rows.append(("png-adam7-gray-21x17", "image",
                 make_png_raw(px, color_type=0, interlace=True)))
    rows.append(("gif-interlaced-4bit-19x13", "image",
                 make_gif_lzw(19, 13, 4, interlace=True)))
    rows.extend(fuzz_media_rows())
    return rows


def dhash_plant_pixel(tag: str, x: int, y: int) -> int:
    """Closed-form gray of the planted near-duplicate images (shared with
    tools/gen_golden_dhash.py): the png_pixel pattern with 0, 1, or 2
    single-cell brightness flips at dhash resample cells, giving known
    small Hamming distances against the unperturbed pattern."""
    flips = {"nd0": 0, "nd1": 1, "nd2": 2}[tag]
    for i in range(flips):
        if (x, y) == (1, 1 + 2 * i):
            return 255
    return png_pixel(x, y)


def dhash_plant_rows() -> list[tuple[str, str, bytes]]:
    """Three 11x7 grayscale PNGs that are near-duplicates of the
    png_pixel pattern — deterministic positives for dhash_near_pairs."""
    import numpy as np

    rows = []
    for tag in ("nd0", "nd1", "nd2"):
        px = np.array(
            [[[dhash_plant_pixel(tag, x, y)] for x in range(11)]
             for y in range(7)],
            dtype=np.uint8,
        )
        rows.append((f"png-gray-11x7-{tag}", "image",
                     make_png_raw(px, color_type=0)))
    return rows


# planted near-duplicate WAVs: the wav-steps-mono amplitudes with 0, 1,
# and 2 single-window nudges of 0 -> 2048 (quantized RMS nibble 0000 ->
# 0001, exactly ONE signature bit per nudge)
AUDIO_PLANT_SPECS = [
    ("wav-steps-mono-nd0", ()),
    ("wav-steps-mono-nd1", (0,)),
    ("wav-steps-mono-nd2", (0, 4)),
]


def audio_plant_amps(nudges: tuple) -> list[int]:
    amps = list(WAV_SPECS[0][3])
    for i in nudges:
        assert amps[i] == 0
        amps[i] = 2048
    return amps


def audio_plant_rows() -> list[tuple[str, str, bytes]]:
    """Deterministic positives for audio fingerprint near-dup pairing."""
    rate, nch = WAV_SPECS[0][1], WAV_SPECS[0][2]
    return [
        (name, "audio", make_wav(rate, nch, audio_plant_amps(nudges)))
        for name, nudges in AUDIO_PLANT_SPECS
    ]
