"""Cross-codec mutation hostility: every top-level parse entry point
the Arrow stages call must return a value or its documented None —
never raise — for ANY single-byte corruption of a valid fixture.

This is the sweep that caught the r11 zip zlib.error stage-failure
gap; pinned here so no decoder regresses to leaking parser
exceptions into Spark tasks. All local (no Spark session): the same
functions the mapInPandas stages invoke per payload.
"""

from __future__ import annotations

import numpy as np
import pytest

from flycatcher_spark.operators import bmp, flac, gif, jpeg, pdf, tiff, video
from flycatcher_spark.operators import multimodal as M
from flycatcher_spark.operators.webp import encode_webp


def _dc(v):
    return [v] + [0] * 63


def _payloads():
    jpg = jpeg.encode_jpeg(16, 16, [[_dc(5), _dc(3), _dc(2), _dc(1)]])
    return {
        "jpeg": (jpg, M.parse_image),
        "gif": (
            gif.encode_gif(
                10, 8, [int(x) for x in (np.arange(80) * 3) % 4],
                [(0, 0, 0), (80, 80, 80), (160, 160, 160), (240, 240, 240)],
            ),
            M.parse_image,
        ),
        "tiff": (
            tiff.encode_tiff(
                10, 8, [int(x) for x in (np.arange(240) * 7) % 256],
                compression="lzw",
            ),
            M.parse_image,
        ),
        "bmp": (
            bmp.encode_bmp(
                10, 8, [int(x) for x in (np.arange(240) * 7) % 256]
            ),
            M.parse_image,
        ),
        "webp": (encode_webp((np.arange(240) * 7) % 256, 10, 8, 3),
                 M.parse_image),
        "pdf": (
            pdf.encode_pdf(
                [["hello world", "line two"]],
                compress=True, xref_stream=True, objstm=True,
            ),
            pdf.parse_pdf,
        ),
        "avi": (video.make_avi_bytes([jpg] * 3, 16, 16),
                video.parse_avi_frames),
        "flac": (flac.encode_flac(list(range(-100, 100))), M.parse_audio),
        "png": (_png_bytes(), M.parse_image),
        "pnm": (_pnm_bytes(), M.parse_image),
        "wav": (_wav_bytes(), M.parse_audio),
    }


def _png_bytes():
    import struct
    import zlib

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    w, h = 10, 8
    px = ((np.arange(w * h * 3) * 7) % 256).astype(np.uint8).reshape(h, -1)
    raw = b"".join(b"\x00" + row.tobytes() for row in px)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _pnm_bytes():
    body = bytes(int(x) for x in (np.arange(10 * 8 * 3) * 7) % 256)
    return b"P6\n10 8\n255\n" + body


def _wav_bytes():
    import struct

    pcm = struct.pack("<100h", *[(i * 37) % 1000 - 500 for i in range(100)])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.mark.parametrize("name", list(_payloads()))
def test_single_byte_mutations_never_raise(name):
    base, fn = _payloads()[name]
    step = max(1, len(base) // 400)
    for p in range(0, len(base), step):
        for delta in (1, 128):
            mut = bytearray(base)
            mut[p] = (mut[p] + delta) % 256
            fn(bytes(mut))  # any return value is fine; raising is not


@pytest.mark.parametrize("name", list(_payloads()))
def test_truncations_never_raise(name):
    base, fn = _payloads()[name]
    step = max(1, len(base) // 100)
    for cut in range(0, len(base), step):
        fn(bytes(base[:cut]))


@pytest.mark.parametrize("name", list(_payloads()))
def test_sniffer_never_raises_and_terminates(name):
    # sniff_format runs over EVERY payload in format_stats — it must
    # classify (any label, or its documented None for null/empty)
    # without raising or spinning on crafted chunk sizes, for
    # mutations and truncations alike
    base, _ = _payloads()[name]
    step = max(1, len(base) // 200)
    for p in range(0, len(base), step):
        for delta in (1, 128):
            mut = bytearray(base)
            mut[p] = (mut[p] + delta) % 256
            assert isinstance(M.sniff_format(bytes(mut)), (str, type(None)))
    for cut in range(0, len(base), max(1, len(base) // 50)):
        assert isinstance(
            M.sniff_format(bytes(base[:cut])), (str, type(None))
        )


class TestAllocationBombs:
    """Header-driven allocation bombs: decoders whose output size is
    bound by HEADER CLAIMS rather than input size must reject at the
    64 MiB policy cap (attributable None / parse failure), never
    allocate gigabytes from a tiny payload. The r11 sweep found four:
    VP8L raster (webp tests), JPEG SOF coefficient grid, PNG IDAT
    inflate, FLAC STREAMINFO total; PDF FlateDecode inflate is capped
    the same way."""

    def test_jpeg_sof_dims_bomb(self):
        import struct

        jpg = jpeg.encode_jpeg(16, 16, [[_dc(5), _dc(3), _dc(2), _dc(1)]])
        i = jpg.find(b"\xff\xc0")
        patched = bytearray(jpg)
        patched[i + 5 : i + 9] = struct.pack(">HH", 30000, 30000)
        assert M.parse_image(bytes(patched)) is None

    def test_png_idat_inflate_bomb(self):
        import struct
        import zlib

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        # dims that MATCH the inflated size: 6000x6000 RGB = 108 MB
        # raw from ~100 KB of compressed zeros — over the 64 MiB cap
        w = h = 6000
        raw = zlib.compress(bytes(h) * (w * 3 + 1), 9)  # wrong but huge
        big = zlib.compressobj(9)
        data = big.compress(b"\x00" * (h * (w * 3 + 1))) + big.flush()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", data)
            + chunk(b"IEND", b"")
        )
        assert len(png) < 1 << 20  # the bomb itself is tiny
        assert M.parse_image(png) is None

    def test_flac_streaminfo_total_bomb(self, monkeypatch):
        # a crafted STREAMINFO total (36 bits — up to 68G samples)
        # bounds the frame loop's output, not the input size. Claim
        # ~2^36 samples: the cap must reject BEFORE any frame decode
        # (total = low nibble of streaminfo byte 13 + bytes 14-17).
        base = bytearray(flac.encode_flac([0] * 64))
        si = 8  # 4B signature + 4B metadata block header
        base[si + 13] |= 0x0F
        base[si + 14 : si + 18] = b"\xff\xff\xff\xff"
        assert M.parse_audio(bytes(base)) is None
        # and the guard itself (not frame exhaustion) is what fires:
        # with a tiny cap even the VALID file is rejected...
        monkeypatch.setattr("flycatcher_spark.operators.warc.MAX_DECODED_BYTES", 64)
        assert M.parse_audio(flac.encode_flac([0] * 64)) is None

    def test_valid_payloads_still_decode_after_guards(self):
        jpg = jpeg.encode_jpeg(16, 16, [[_dc(5), _dc(3), _dc(2), _dc(1)]])
        assert M.parse_image(jpg)["width"] == 16
        assert M.parse_image(_png_bytes())["width"] == 10
        assert M.parse_audio(flac.encode_flac([0] * 64))["n_frames"] >= 1

    def test_pdf_flatedecode_inflate_capped(self, monkeypatch):
        from flycatcher_spark.operators import warc

        buf = pdf.encode_pdf([["hello world"]], compress=True)
        assert pdf.parse_pdf(buf)  # valid under the real cap
        monkeypatch.setattr(warc, "MAX_DECODED_BYTES", 4)
        assert pdf.parse_pdf(buf) is None  # guard, not exhaustion

    def test_png_idat_inflate_capped(self, monkeypatch):
        from flycatcher_spark.operators import warc

        buf = _png_bytes()
        assert M.parse_image(buf)["width"] == 10
        monkeypatch.setattr(warc, "MAX_DECODED_BYTES", 4)
        assert M.parse_image(buf) is None
