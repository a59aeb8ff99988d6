"""Multimodal column plumbing: image/audio/video as opaque binary.

Treats media as ``binary`` payload columns with typed metadata. Every
per-payload stage here is a row function plus one
:func:`._payload.map_payloads` call, which runs it inside one map-only
Arrow ``mapInPandas`` stage with the output schema declared up front:

- the payload never materializes on the driver;
- decode runs per Arrow batch inside Python workers (vectorized
  transfer, no per-row pickling);
- Catalyst plans downstream operators without running the Python
  stage;
- the null-row rule: a null or undecodable payload yields ONE
  all-null row keyed by its id (the stage never fails and the payload
  stays attributable); a fan-out stage (frames, members, samples)
  yields one row per item and repeats the id on each.

The ``make_*_payload`` fixture builders are id → bytes functions
behind :func:`._payload.build_payloads`.

:func:`decode_meta` is the exception: its public ``decode_fn`` hook
sees whole batches, and its default is a clearly-marked
**deterministic fake decode** (byte-length-derived metadata).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ._payload import Rows, build_payloads, map_payloads

#: Metadata schema produced by the decode stage, appended to the
#: pass-through key column.
META_FIELDS = [
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("fmt", T.StringType()),
]


def attach_payload(df: DataFrame, text_col: str = "text", payload_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary payload column (UTF-8 bytes of a
    text column — stands in for real media bytes in tests).

    Examples
    --------
        >>> df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
        >>> bytes(attach_payload(df).first()["payload"])
        b'ab'
    """
    return df.withColumn(payload_col, F.encode(F.col(text_col), "UTF-8"))


def _fake_decode_batch(payloads: Any) -> dict[str, list]:
    """Deterministic stand-in for a media decoder.

    Derives metadata purely from the byte payload so the DuckDB
    oracle can reproduce it. A real decoder would parse headers here.
    """
    n_bytes, width, height, fmt = [], [], [], []
    for p in payloads:
        if p is None:
            n_bytes.append(None)
            width.append(None)
            height.append(None)
            fmt.append(None)
            continue
        n = len(p)
        n_bytes.append(n)
        width.append(n % 1024)
        height.append((n * 7) % 768)
        fmt.append("fake")
    return {"n_bytes": n_bytes, "width": width, "height": height, "fmt": fmt}


def decode_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decode_fn: Callable[[Any], dict[str, list]] | None = None,
) -> DataFrame:
    """Extract typed metadata from a binary payload column.

    Runs ``mapInPandas`` so the decode sees whole Arrow batches (the
    fast Python path); output schema is ``(id, n_bytes, width,
    height, fmt)``. Partitioning is preserved — this is a map-only
    stage that scales with input splits.
    """
    import pandas as pd

    decode = decode_fn or _fake_decode_batch
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), *META_FIELDS]
    )

    def process(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            meta = decode(pdf[payload_col].tolist())
            out = pd.DataFrame({id_col: pdf[id_col]})
            for k, v in meta.items():
                out[k] = v
            yield out

    return df.select(id_col, payload_col).mapInPandas(process, schema=out_schema)


def embed_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    dim: int = 8,
    embed_fn: Callable[[Any, int], list] | None = None,
) -> DataFrame:
    """Media-embedding extraction plumbing: payload bytes → a
    ``dim``-wide ``array<double>`` embedding via Arrow-batched
    ``mapInPandas`` — the CLIP/wav2vec stage of a multimodal pipeline
    with the model swapped for a deterministic stand-in (no model
    runtimes in this container).

    The fake embedder is byte-bucket sums (``e[i] = sum of bytes at
    positions ≡ i (mod dim)``): integer-exact, so the DuckDB oracle
    reproduces it and downstream cosine/ANN results hash-match. Pass
    ``embed_fn(payload, dim) -> list[float]`` to swap in a real
    model; everything else (batching, declared schema, partition
    preservation, null payload → null embedding) stays.

    Map-only: at 100 TB this runs at scan speed beside the decode
    stage, and the output feeds ``operators.similarity`` unchanged.
    """

    def default_embed(payload: Any, d: int) -> list:
        b = np.frombuffer(bytes(payload), dtype=np.uint8)
        v = np.zeros(d, dtype=np.int64)
        np.add.at(v, np.arange(len(b)) % d, b)
        return [float(x) for x in v]

    embed = embed_fn or default_embed
    return map_payloads(
        df,
        lambda p: [(embed(p, dim),)],
        [T.StructField("embedding", T.ArrayType(T.DoubleType()))],
        id_col,
        payload_col,
    )


# ---------------------------------------------------------------------------
# Real decoders (r5): PPM/PGM image and WAV (PCM) audio
#
# The container has no media libraries, but these two formats need
# none — their headers and payloads are parseable with stdlib + numpy.
# They make the decode stage REAL (true width/height/duration/channel
# stats, true pixel/sample-derived embeddings) while the byte-stub
# above stays as the oracle-portable fake.
# ---------------------------------------------------------------------------

#: image metadata emitted by :func:`decode_image_meta`
IMAGE_META_FIELDS = [
    T.StructField("fmt", T.StringType()),        # 'ppm' | 'pgm'
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("maxval", T.LongType()),
    T.StructField("n_channels", T.LongType()),   # 3 for P6, 1 for P5
    T.StructField("n_pixel_bytes", T.LongType()),
    T.StructField("mean_pixel", T.DoubleType()),
]

#: audio metadata emitted by :func:`decode_wav_meta`
WAV_META_FIELDS = [
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_channels", T.LongType()),
    T.StructField("bits_per_sample", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
]


def parse_pnm(payload: bytes) -> dict | None:
    r"""Parse a binary PPM (``P6``) or PGM (``P5``) payload: magic,
    whitespace/comment-tolerant header, then raw pixel bytes. Returns
    ``None`` for anything that is not a well-formed 8-bit PNM — a
    real decoder must reject corrupt payloads, not crash the stage.

    Examples
    --------
        >>> m = parse_pnm(b"P5\n2 1\n255\n" + bytes([10, 20]))
        >>> (m["fmt"], m["width"], m["height"], list(m["pixels"]))
        ('pgm', 2, 1, [10, 20])
        >>> parse_pnm(b"JUNK") is None
        True
    """
    import numpy as np

    if payload is None or len(payload) < 2:
        return None
    magic = bytes(payload[:2])
    if magic not in (b"P5", b"P6"):
        return None
    buf = bytes(payload)
    # header tokens: magic, width, height, maxval; '#' starts a
    # comment running to end-of-line (the PNM spec)
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(buf):
        c = buf[pos:pos + 1]
        if c == b"#":
            nl = buf.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(buf) and not buf[end:end + 1].isspace():
                end += 1
            tokens.append(buf[pos:end])
            pos = end
    if len(tokens) < 3 or pos >= len(buf):
        return None
    try:
        width, height, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if width <= 0 or height <= 0 or not (0 < maxval < 256):
        return None
    pos += 1  # single whitespace byte after maxval, per spec
    n_ch = 3 if magic == b"P6" else 1
    n_px = width * height * n_ch
    pixels = np.frombuffer(buf, dtype=np.uint8, count=-1, offset=pos)
    if pixels.size < n_px:
        return None  # truncated raster
    pixels = pixels[:n_px]
    return {
        "fmt": "ppm" if magic == b"P6" else "pgm",
        "width": width,
        "height": height,
        "maxval": maxval,
        "n_channels": n_ch,
        "pixels": pixels,
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass geometry: (row_start, col_start, row_inc, col_inc)
_ADAM7 = [
    (0, 0, 8, 8), (0, 4, 8, 8), (4, 0, 8, 4), (0, 2, 4, 4),
    (2, 0, 4, 2), (0, 1, 2, 2), (1, 0, 2, 1),
]


def parse_png(payload: bytes) -> dict | None:
    r"""Parse a PNG payload with stdlib ``zlib`` alone: signature,
    chunk walk (IHDR/PLTE/IDAT/IEND), inflate, per-scanline filter
    reversal (all five PNG filter types), sample extraction, and —
    r8 — Adam7 de-interlacing. Returns the same dict shape as
    :func:`parse_pnm` (``fmt="png"``, flat raster, ``maxval`` set
    from the bit depth) or ``None`` for anything malformed — corrupt
    payloads must yield a null row, never a stage failure.

    Supported (r8 extends the r6 subset to the full static-PNG
    matrix): bit depths 1/2/4 (gray + palette), 8 and 16 (all color
    types); color types 0 (gray), 2 (RGB), 3 (palette — expanded to
    RGB via PLTE), 4 (gray+alpha), 6 (RGBA); interlace 0 (sequential)
    and 1 (Adam7 — each of the 7 reduced images unfiltered
    independently, then scattered into the full raster). 16-bit
    samples are big-endian and reported with ``maxval=65535``;
    depth-d grayscale reports ``maxval = 2^d - 1``. Chunk CRCs are
    not validated (tolerant-reader stance: a flipped CRC byte
    shouldn't discard a decodable raster).

    Filter notes: None/Up are vectorized per scanline; Sub/Average/
    Paeth carry a sequential per-byte dependency and fall back to a
    Python loop — fine for the fixture path (the companion encoder
    emits filter 0), and a production 100 TB decode would plug a C
    decoder into the SAME ``mapInPandas`` stage shape.

    Examples
    --------
        >>> import struct, zlib
        >>> ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        >>> raw = zlib.compress(b"\x00" + bytes([10, 20]))
        >>> def chunk(t, b):
        ...     return (struct.pack(">I", len(b)) + t + b
        ...             + struct.pack(">I", zlib.crc32(t + b)))
        >>> buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        ...        + chunk(b"IDAT", raw) + chunk(b"IEND", b""))
        >>> m = parse_png(buf)
        >>> (m["fmt"], m["width"], m["height"], list(m["pixels"]))
        ('png', 2, 1, [10, 20])
        >>> parse_png(b"JUNK") is None
        True
    """
    import struct
    import zlib

    import numpy as np

    if payload is None or len(payload) < 8:
        return None
    buf = bytes(payload)
    if buf[:8] != _PNG_SIG:
        return None
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4:pos + 8]
        body = buf[pos + 8:pos + 8 + length]
        if len(body) < length:
            return None  # truncated chunk
        if ctype == b"IHDR":
            if len(body) != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if length % 3 != 0 or length == 0 or length > 768:
                return None
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 8 + length + 4  # body + CRC
    if ihdr is None or not idat:
        return None
    width, height, depth, color, comp, filt, interlace = ihdr
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if color == 3 and plte is None:
        return None  # palette image without a PLTE chunk
    valid_depths = {
        0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
        4: (8, 16), 6: (8, 16),
    }
    if (
        n_ch is None
        or depth not in valid_depths[color]
        or comp != 0
        or filt != 0
        or interlace not in (0, 1)
        or width <= 0
        or height <= 0
    ):
        return None
    try:
        # bounded inflate (r11): deflate expands ~1000x, so a small
        # IDAT of compressed zeros with matching huge dims would
        # otherwise allocate gigabytes — 64 MiB policy cap, same as
        # the WARC/VP8L/JPEG bomb guards
        from . import warc as _warc

        raw = _warc._inflate_capped(
            b"".join(idat), wbits=15, cap=_warc.MAX_DECODED_BYTES
        )
        if raw is None:
            return None
    except zlib.error:
        return None

    sample_dtype = np.uint16 if depth == 16 else np.uint8

    def unfilter_pass(off: int, pw: int, ph: int):
        """Reverse filters for one (sub-)image of ``pw`` x ``ph``
        pixels starting at byte ``off`` of the inflated stream;
        returns (rows-of-samples array, new offset) or None on a bad
        filter byte. Filters operate on BYTES with the spec's bpp;
        sample extraction (16-bit BE pairs / sub-byte unpacking)
        happens after."""
        spr = pw * n_ch  # samples per row
        stride = (spr * depth + 7) // 8
        bpp = max(1, (n_ch * depth + 7) // 8)
        rows = np.empty((ph, spr), dtype=sample_dtype)
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(ph):
            ft = raw[off]
            off += 1
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=off
            ).astype(np.int32)
            off += stride
            if ft == 0:
                pass
            elif ft == 1:  # Sub
                for x in range(bpp, stride):
                    line[x] = (line[x] + line[x - bpp]) & 0xFF
            elif ft == 2:  # Up
                line = (line + prev) & 0xFF
            elif ft == 3:  # Average
                for x in range(stride):
                    a = int(line[x - bpp]) if x >= bpp else 0
                    line[x] = (line[x] + ((a + int(prev[x])) >> 1)) & 0xFF
            elif ft == 4:  # Paeth
                for x in range(stride):
                    a = int(line[x - bpp]) if x >= bpp else 0
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = (
                        a if (pa <= pb and pa <= pc)
                        else (b if pb <= pc else c)
                    )
                    line[x] = (line[x] + pr) & 0xFF
            else:
                raise ValueError("bad filter byte")
            b8 = line.astype(np.uint8)
            if depth == 8:
                rows[y] = b8[:spr]
            elif depth == 16:
                rows[y] = (
                    b8[0::2].astype(np.uint16) << 8
                ) | b8[1::2].astype(np.uint16)
            else:  # 1/2/4-bit: MSB-first groups within each byte
                bits = np.unpackbits(b8)
                vals = bits.reshape(-1, depth) @ (
                    1 << np.arange(depth - 1, -1, -1)
                )
                rows[y] = vals[:spr].astype(sample_dtype)
            prev = line
        return rows, off

    def expected_bytes(pw: int, ph: int) -> int:
        return ph * ((pw * n_ch * depth + 7) // 8 + 1) if pw and ph else 0

    try:
        if interlace == 0:
            if len(raw) != expected_bytes(width, height):
                return None
            rows, _ = unfilter_pass(0, width, height)
            img = rows.reshape(height, width, n_ch)
        else:  # Adam7: 7 reduced images, scattered into the raster
            passes = _ADAM7
            dims = []
            total = 0
            for rs, cs, ri, ci in passes:
                pw = max(0, -(-(width - cs) // ci))
                ph = max(0, -(-(height - rs) // ri))
                dims.append((pw, ph))
                total += expected_bytes(pw, ph)
            if len(raw) != total:
                return None
            img = np.zeros((height, width, n_ch), dtype=sample_dtype)
            off = 0
            for (rs, cs, ri, ci), (pw, ph) in zip(passes, dims):
                if pw == 0 or ph == 0:
                    continue
                rows, off = unfilter_pass(off, pw, ph)
                img[rs::ri, cs::ci, :] = rows.reshape(ph, pw, n_ch)
    except ValueError:
        return None

    flat = img.reshape(-1)
    maxval = (1 << depth) - 1
    if color == 3:
        # palette indices -> RGB triples (out-of-range index = corrupt)
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(flat.max(initial=0)) >= pal.shape[0]:
            return None
        flat = pal[flat].reshape(-1)
        n_ch = 3
        maxval = 255
    return {
        "fmt": "png",
        "width": width,
        "height": height,
        "maxval": maxval,
        "n_channels": n_ch,
        "pixels": flat,
    }


def parse_image(payload: bytes) -> dict | None:
    """Dispatch on magic bytes: PNG signature → :func:`parse_png`,
    ``FFD8`` → :func:`jpeg.parse_jpeg`, ``GIF8`` →
    :func:`gif.parse_gif` (r8), ``II*``/``MM*`` →
    :func:`tiff.parse_tiff` (r9), ``BM`` → :func:`bmp.parse_bmp`
    (r9), ``RIFF..WEBP`` → :func:`webp.parse_webp` (r10, lossless
    literal-only subset), ``P5``/``P6`` → :func:`parse_pnm`,
    anything else → ``None``. The decode stages (:func:`decode_image_meta`,
    :func:`image_pixel_embedding`) parse through this, so one corpus
    can mix formats row-by-row."""
    if payload is None or len(payload) < 2:
        return None
    head = bytes(payload[:8])
    if head == _PNG_SIG:
        return parse_png(payload)
    if head[:2] == b"\xff\xd8":
        from .jpeg import parse_jpeg

        return parse_jpeg(payload)
    if head[:4] == b"GIF8":
        from .gif import parse_gif

        return parse_gif(payload)
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import parse_tiff

        return parse_tiff(payload)
    if head[:2] == b"BM":
        from .bmp import parse_bmp

        return parse_bmp(payload)
    if head[:4] == b"RIFF" and bytes(payload[8:12]) == b"WEBP":
        from .webp import parse_webp

        return parse_webp(payload)
    return parse_pnm(payload)


def sniff_format(payload: bytes) -> str | None:
    """Classify a binary payload by magic bytes WITHOUT decoding it —
    the decode-coverage instrument (r8): a pipeline can SEE what its
    corpus contains (and what share its decoders cover) instead of
    conflating "unsupported" with "corrupt". JPEGs are sub-classified
    by a marker walk to the frame type, the distinction that decides
    decodability (baseline/progressive decode here; arithmetic and
    lossless do not).

    Returns one of ``jpeg_baseline``, ``jpeg_progressive``,
    ``jpeg_extended``, ``jpeg_arithmetic``, ``jpeg_lossless``,
    ``jpeg_other``, ``png``, ``ppm``, ``pgm``, ``gif``,
    ``webp_lossless``, ``webp_lossy``, ``webp_animated``,
    ``webp_other``, ``bmp``, ``tiff``, ``wav``, ``flac``, ``pdf``, ``mp3``, ``ogg``,
    ``avi``, ``gzip``, ``tar``, ``zip``, ``unknown`` — or ``None``
    for null/empty.

    Examples
    --------
        >>> from .jpeg import encode_jpeg, encode_jpeg_progressive
        >>> blocks = [[[10] + [0] * 63]]
        >>> sniff_format(encode_jpeg(8, 8, blocks))
        'jpeg_baseline'
        >>> sniff_format(encode_jpeg_progressive(8, 8, blocks))
        'jpeg_progressive'
        >>> sniff_format(b"\\x89PNG\\r\\n\\x1a\\n....")
        'png'
        >>> sniff_format(b"mystery bytes")
        'unknown'
    """
    if payload is None or len(payload) == 0:
        return None
    b = bytes(payload[:512])
    if b[:2] == b"\xff\xd8":
        # marker walk to the SOF marker (the frame-type decider)
        full = bytes(payload)
        pos = 2
        while pos + 4 <= len(full) and full[pos] == 0xFF:
            m = full[pos + 1]
            if m in (0xC0,):
                return "jpeg_baseline"
            if m == 0xC1:
                return "jpeg_extended"
            if m == 0xC2:
                return "jpeg_progressive"
            if m in (0xC3, 0xC7, 0xCB, 0xCF):
                return "jpeg_lossless"
            if m in (0xC9, 0xCA, 0xCD, 0xCE):
                return "jpeg_arithmetic"
            if m == 0xD9 or m == 0xDA:  # hit SOS/EOI without a SOF
                break
            pos += 2 + int.from_bytes(full[pos + 2 : pos + 4], "big")
        return "jpeg_other"
    if b[:8] == _PNG_SIG:
        return "png"
    if b[:2] == b"P6":
        return "ppm"
    if b[:2] == b"P5":
        return "pgm"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        # sub-classify to the decodability decider (the JPEG frame-
        # type discipline, r10): lossless stills and lossless
        # animations decode here; lossy VP8 does not. The walk is
        # structural (chunk tags only — never VP8X flag bits).
        full = bytes(payload)
        has_l = has_lossy = has_anmf = False
        pos = 12
        while pos + 8 <= len(full):
            tag = full[pos : pos + 4]
            size = int.from_bytes(full[pos + 4 : pos + 8], "little")
            if tag == b"VP8L":
                has_l = True
            elif tag in (b"VP8 ", b"ALPH"):
                has_lossy = True
            elif tag == b"ANMF":
                has_anmf = True
                # peek the frame payload's first sub-chunk tag —
                # only when the ANMF body is long enough to contain
                # one (16B frame params + 4B tag), and never past
                # the body's declared size (ADVICE r10: an
                # undersized ANMF must not read the NEXT top-level
                # chunk's tag and mislabel the file)
                if size >= 20:
                    sub = full[pos + 24 : pos + 28]
                    if sub == b"VP8L":
                        has_l = True
                    elif sub in (b"VP8 ", b"ALPH"):
                        has_lossy = True
            pos += 8 + size + (size & 1)
        if has_anmf:
            return "webp_animated" if not has_lossy else "webp_other"
        if has_lossy:
            return "webp_lossy"
        if has_l:
            return "webp_lossless"
        return "webp_other"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return "avi"
    if b[:2] == b"BM":
        return "bmp"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:5] == b"%PDF-":
        return "pdf"
    if b[:3] == b"ID3" or b[:2] in (b"\xff\xfb", b"\xff\xf3", b"\xff\xf2"):
        return "mp3"
    if b[:4] == b"OggS":
        return "ogg"
    if b[:2] == b"\x1f\x8b":
        return "gzip"
    if b[:4] == b"PK\x03\x04":
        return "zip"
    if len(payload) > 262 and bytes(payload[257:262]) == b"ustar":
        return "tar"
    return "unknown"


def payload_format(
    df: DataFrame,
    payload_col: str = "payload",
    fmt_col: str = "payload_fmt",
) -> DataFrame:
    """Add a ``fmt_col`` column classifying each binary payload via
    :func:`sniff_format` (Arrow-batched; reads only magic bytes plus,
    for JPEG, the marker chain — no decode). Run it BEFORE a decode
    stage to measure coverage: ``df.groupBy("payload_fmt").count()``
    is the corpus's decode-coverage report."""

    @pandas_udf("string")
    def _sniff(payloads: pd.Series) -> pd.Series:
        return pd.Series([sniff_format(p) for p in payloads])

    return df.withColumn(fmt_col, _sniff(F.col(payload_col)))


def parse_wav(payload: bytes) -> dict | None:
    """Parse a PCM WAV payload: RIFF/WAVE container walk, ``fmt ``
    chunk (must be PCM, 8/16-bit), ``data`` chunk → int samples.
    Returns ``None`` for non-WAV / non-PCM / truncated payloads.

    Examples
    --------
        >>> import struct
        >>> fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        >>> data = struct.pack("<2h", 100, -100)
        >>> body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        ...         + b"data" + struct.pack("<I", len(data)) + data)
        >>> m = parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        >>> (m["sample_rate"], m["n_channels"], m["n_frames"], list(m["samples"]))
        (8000, 1, 2, [100, -100])
        >>> parse_wav(b"RIFFxxxxAVI ") is None
        True
    """
    import struct

    import numpy as np

    if payload is None or len(payload) < 44:
        return None
    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, n_channels, sample_rate, _, _, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or n_channels < 1:
        return None
    if bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.int64)
    else:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
    n_frames = samples.size // n_channels
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits_per_sample": bits,
        "n_frames": n_frames,
        "samples": samples[: n_frames * n_channels],
    }


def _px_mean(px: np.ndarray) -> float | None:
    # full precision (exact: integer sums stay below 2^53); consumers
    # round engine-side
    return float(px.mean()) if px.size else None


def _image_rows(payload: bytes) -> Rows:
    meta = parse_image(payload)
    if meta is None:
        return None
    px = meta["pixels"]
    return [
        (
            meta["fmt"],
            meta["width"],
            meta["height"],
            meta["maxval"],
            meta["n_channels"],
            int(px.size),
            _px_mean(px),
        )
    ]


def _audio_rows(meta: dict | None, with_fmt: bool) -> Rows:
    """The :data:`WAV_META_FIELDS` row of a parsed clip, led by its
    container ``fmt`` when ``with_fmt``."""
    if meta is None:
        return None
    s = meta["samples"]
    row = (
        meta["sample_rate"],
        meta["n_channels"],
        meta["bits_per_sample"],
        meta["n_frames"],
        meta["n_frames"] / meta["sample_rate"],
        # exact integer sum of squares / n, then one sqrt —
        # reproducible bit-for-bit in SQL
        float(np.sqrt(np.mean(np.square(s)))) if s.size else None,
    )
    return [(meta["fmt"], *row) if with_fmt else row]


def decode_image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """REAL image decode over a binary column: parse PPM/PGM, PNG, or
    baseline JPEG (magic-byte dispatch, :func:`parse_image`) headers
    and raster, emit true dimensions + pixel statistics, one row per
    payload (null metadata for a malformed one).

    ``passthrough`` columns ride through the Arrow stage unchanged —
    a composed query (e.g. WebDataset sample decode) then needs NO
    join back to its source, so an expensive upstream (shard build +
    tar walk) evaluates exactly once."""
    return map_payloads(
        df, _image_rows, IMAGE_META_FIELDS, id_col, payload_col, passthrough or ()
    )


def decode_wav_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio decode over a binary column: parse the RIFF/WAVE
    container, emit true rate/channels/duration and sample RMS."""
    return map_payloads(
        df,
        lambda p: _audio_rows(parse_wav(p), with_fmt=False),
        WAV_META_FIELDS,
        id_col,
        payload_col,
    )


def image_pixel_embedding(payload: bytes, dim: int) -> list | None:
    """Pixel-derived image embedding for :func:`embed_payload`:
    a ``dim``-bin normalized histogram of the decoded raster (PNM or
    PNG — :func:`parse_image`) — a real (if simple) visual feature,
    unlike the byte-bucket stub. Returns ``None`` for undecodable
    payloads."""
    import numpy as np

    meta = parse_image(payload)
    if meta is None:
        return None
    px = meta["pixels"]
    if px.size == 0:
        return None
    hist = np.bincount((px.astype(np.int64) * dim) // 256, minlength=dim)
    return [float(h) / px.size for h in hist[:dim]]


def audio_sample_embedding(payload: bytes, dim: int) -> list | None:
    """Sample-derived audio embedding for :func:`embed_payload`:
    per-segment RMS energy over ``dim`` equal time segments (a crude
    but real spectral-envelope stand-in)."""
    import numpy as np

    meta = parse_wav(payload)
    if meta is None:
        return None
    s = meta["samples"].astype(np.float64)
    if s.size == 0:
        return None
    segs = np.array_split(s, dim)
    return [
        float(np.sqrt(np.mean(np.square(seg)))) if seg.size else 0.0
        for seg in segs
    ]


def make_pnm_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fmt: str = "ppm",
) -> DataFrame:
    """Build a deterministic PNM payload per row — the test/oracle
    fixture generator. Dimensions derive from the id and pixel ``i``
    is ``(id*7 + i*13) % (maxval+1)``, so a SQL oracle can reproduce
    every decoded statistic in closed form while the Spark path
    builds REAL bytes and really parses them back.

    Examples
    --------
        >>> df = spark.createDataFrame([(0,)], "doc_id long")
        >>> m = decode_image_meta(make_pnm_payload(df)).first()
        >>> (m["fmt"], m["width"], m["height"], m["n_channels"])
        ('ppm', 4, 3, 3)
    """
    magic, n_ch = (b"P6", 3) if fmt == "ppm" else (b"P5", 1)

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        header = magic + b"\n# synthetic\n%d %d\n255\n" % (w, h)
        n = w * h * n_ch
        px = (i * 7 + np.arange(n, dtype=np.int64) * 13) % 256
        return header + px.astype(np.uint8).tobytes()

    return build_payloads(df, build, id_col, payload_col)


def make_png_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    color: str = "rgb",
) -> DataFrame:
    """Build a deterministic REAL PNG payload per row (fixture
    generator; see :func:`make_pnm_payload`): proper signature,
    IHDR/IDAT/IEND chunks with correct CRCs, zlib-deflated scanlines.
    Same dimension and pixel formulas as the PNM fixture
    (``w = 4 + id % 13``, ``h = 3 + id % 7``, pixel ``i`` is
    ``(id*7 + i*13) % 256``), so the SAME closed-form SQL oracle
    value-checks the decoded statistics — only the container format
    (and the decode path through inflate + filter reversal) differs.
    Scanlines alternate filter 0 (None) and filter 2 (Up) so the
    round trip genuinely exercises the filter-reversal code, not
    just the chunk walk; every fourth payload (r8) stores the SAME
    raster Adam7-INTERLACED, so the oracle also covers the 7-pass
    de-interlace scatter. ``color``: ``"rgb"`` (type 2) or ``"gray"``
    (type 0).

    Examples
    --------
        >>> df = spark.createDataFrame([(0,)], "doc_id long")
        >>> m = decode_image_meta(make_png_payload(df)).first()
        >>> (m["fmt"], m["width"], m["height"], m["n_channels"])
        ('png', 4, 3, 3)
    """
    import struct
    import zlib

    if color not in ("rgb", "gray"):
        raise ValueError(f"unknown color mode: {color}")
    ctype, n_ch = (2, 3) if color == "rgb" else (0, 1)

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        n = w * h * n_ch
        px = (
            ((i * 7 + np.arange(n, dtype=np.int64) * 13) % 256)
            .astype(np.uint8)
            .reshape(h, w * n_ch)
        )
        raw = bytearray()
        if i % 4 == 3:
            # Adam7 interlaced arm (r8): the SAME raster stored as
            # 7 reduced images (filter 0) — decoded statistics,
            # and therefore the oracle, are unchanged
            interlace = 1
            cube = px.reshape(h, w, n_ch)
            for rs, cs, ri, ci in _ADAM7:
                sub = cube[rs::ri, cs::ci]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue
                for row in sub:
                    raw += b"\x00" + row.astype(np.uint8).tobytes()
        else:
            interlace = 0
            prev = np.zeros(w * n_ch, dtype=np.uint8)
            for y in range(h):
                if y % 2 == 0:
                    raw += b"\x00" + px[y].tobytes()
                else:  # Up filter: store line - prev (mod 256)
                    raw += b"\x02" + ((px[y] - prev) & 0xFF).astype(
                        np.uint8
                    ).tobytes()
                prev = px[y]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
        return (
            _PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )

    return build_payloads(df, build, id_col, payload_col)


def make_gif_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL GIF per row (fixture/oracle
    generator, r8): the PNM dimension formulas (``w = 4 + id % 13``,
    ``h = 3 + id % 7``), an 8-color palette
    ``pal[j] = ((j*37)%256, (j*59)%256, (j*83)%256)``, and palette
    index ``(id*5 + i*11) % 8`` for pixel ``i`` — so DuckDB states
    every decoded statistic while :func:`gif.parse_gif` genuinely
    LZW-decompresses its way there. Every fourth payload is
    INTERLACED (same decoded raster — the 4-pass row order is a
    storage concern) and every fifth carries a second identical
    frame (the animation walk; decode returns frame one)."""
    from .gif import encode_gif

    pal = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
           for j in range(8)]

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        idx = [(i * 5 + k * 11) % 8 for k in range(w * h)]
        return encode_gif(
            w, h, idx, pal,
            interlaced=(i % 4 == 3),
            animated_copies=2 if i % 5 == 0 else 1,
        )

    return build_payloads(df, build, id_col, payload_col)


GIF_FRAME_FIELDS = [
    T.StructField("frame_idx", T.LongType()),
    T.StructField("n_frames_total", T.LongType()),
    T.StructField("delay_cs", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("mean_pixel", T.DoubleType()),
]


def gif_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """Animated-GIF sampled-frame decode over a binary column (r9,
    :func:`gif.parse_gif_frames`): one row per sampled frame
    (``frame_idx % every_n == 0``) carrying the frame's GCE delay and
    the COMPOSED logical-screen raster stats — disposal methods
    (keep / restore-background / restore-previous) and transparency
    genuinely applied. Frames past the last sampled index are never
    LZW-decoded, and unsampled restore-previous frames skip decode
    entirely (their pixels are erased before any sampled frame sees
    them)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    from .gif import parse_gif_frames

    def rows(payload: bytes) -> Rows:
        meta = parse_gif_frames(payload, every_n=every_n)
        if meta is None:
            return None
        return [
            (
                fr["frame_idx"],
                meta["n_frames"],
                fr["delay_cs"],
                meta["screen_width"],
                meta["screen_height"],
                _px_mean(fr["pixels"]),
            )
            for fr in meta["frames"]
        ]

    return map_payloads(df, rows, GIF_FRAME_FIELDS, id_col, payload_col)


MEDIA_FRAME_FIELDS = [
    T.StructField("fmt", T.StringType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("n_frames_total", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("mean_pixel", T.DoubleType()),
]


def media_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """Unified sampled-frame decode over a MIXED video/animation
    corpus (r9): one stage dispatches each payload by magic —
    MJPEG-AVI through :func:`video.video_frames`' kernel (only
    sampled frames JPEG-decode), animated GIF through
    :func:`gif.parse_gif_frames` (composed canvases; unsampled
    restore-previous frames and frames past the window never
    LZW-decode), and — r10 — animated lossless WebP through
    :func:`webp.parse_webp_frames` (VP8X/ANIM/ANMF composition with
    blend/dispose semantics; frames past the window never
    entropy-decode; stills ride as one-frame animations; WebP means
    are over the RGBA canvas) — and emits one row per sampled frame
    with the format tag. A corpus mixing the formats row-by-row
    needs no pre-split, no union, no second scan."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    from .gif import parse_gif_frames
    from .video import _avi_rows
    from .webp import parse_webp_frames

    def canvas_rows(fmt: str, meta: dict | None, size: str) -> Rows:
        if meta is None:
            return None
        return [
            (
                fmt,
                fr["frame_idx"],
                meta["n_frames"],
                meta[f"{size}_width"],
                meta[f"{size}_height"],
                _px_mean(fr["pixels"]),
            )
            for fr in meta["frames"]
        ]

    def rows(payload: bytes) -> Rows:
        head = bytes(payload[:12])
        if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
            meta = parse_webp_frames(payload, every_n=every_n)
            return canvas_rows("webp", meta, "canvas")
        if head[:4] == b"RIFF" and head[8:12] == b"AVI ":
            avi = _avi_rows(payload, every_n)
            return None if avi is None else [("avi", *r) for r in avi]
        if head[:4] == b"GIF8":
            meta = parse_gif_frames(payload, every_n=every_n)
            return canvas_rows("gif", meta, "screen")
        return None

    return map_payloads(df, rows, MEDIA_FRAME_FIELDS, id_col, payload_col)


def make_animated_gif_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL animated GIF per row (fixture/
    oracle generator, r9): screen ``w = 4 + id % 13`` by
    ``h = 3 + id % 7``, the 8-color gif palette, background index 0
    (black), NETSCAPE loop extension, and FOUR frames chosen so
    every disposal mode matters at ``every_n=2`` sampling:

    - frame 0 (sampled): full-screen, index ``(id*5 + k*11) % 8``,
      disposal KEEP, delay ``10 + id % 5``;
    - frame 1: an inset rect of constant index 7 with disposal
      RESTORE-PREVIOUS — its pixels must vanish from frame 2's
      canvas (and being unsampled, the decoder skips its LZW
      entirely);
    - frame 2 (sampled): a 2x2 rect at the origin, index
      ``1 + id % 7`` where ``(2*row + col)`` is even and TRANSPARENT
      (index 0 via the GCE flag) elsewhere — so the composed canvas
      is frame 0's raster with exactly cells k=0 and k=w replaced;
      delay 30, disposal restore-background;
    - frame 3: full-screen index 0 — past the last sampled frame,
      never decoded.

    Every composed statistic is closed-form, so DuckDB states the
    sampled frame table outright while :func:`gif.parse_gif_frames`
    genuinely LZW-decodes and composes its way there."""
    from .gif import encode_gif_animation

    pal = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
           for j in range(8)]

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        c = 1 + i % 7
        frames = [
            dict(
                width=w, height=h,
                indices=[(i * 5 + k * 11) % 8 for k in range(w * h)],
                disposal=1, delay_cs=10 + i % 5,
            ),
            dict(
                left=1, top=1, width=w - 2, height=h - 2,
                indices=[7] * ((w - 2) * (h - 2)),
                disposal=3, delay_cs=20,
            ),
            dict(
                width=2, height=2,
                indices=[
                    c if (2 * r + col) % 2 == 0 else 0
                    for r in range(2) for col in range(2)
                ],
                transparent_index=0, disposal=2, delay_cs=30,
            ),
            dict(
                width=w, height=h, indices=[0] * (w * h),
                delay_cs=40,
            ),
        ]
        return encode_gif_animation(w, h, frames, pal)

    return build_payloads(df, build, id_col, payload_col)


def make_wav_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    sample_rate: int = 8000,
) -> DataFrame:
    """Build a deterministic 16-bit PCM WAV payload per row (fixture
    generator; see :func:`make_pnm_payload`). Channels/frames derive
    from the id; interleaved sample ``i`` is
    ``((id*31 + i*17) % 4096) - 2048``."""
    import struct

    def build(i: int) -> bytes:
        n_channels = 1 + i % 2
        n_frames = 50 + i % 100
        n_samples = n_frames * n_channels
        samples = (
            (i * 31 + np.arange(n_samples, dtype=np.int64) * 17) % 4096
        ) - 2048
        data = samples.astype("<i2").tobytes()
        byte_rate = sample_rate * n_channels * 2
        fmt_chunk = struct.pack(
            "<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * 2, 16
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return build_payloads(df, build, id_col, payload_col)


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n_bytes: int = 64,
) -> DataFrame:
    """Frame-sampling plumbing: emit one row per sampled "frame".

    For video, a real implementation samples every Nth frame; here the
    deterministic stand-in samples every ``every_n_bytes`` bytes of
    the payload. Demonstrates the fan-out shape (posexplode over a
    row-local sequence — no shuffle) a frame extractor needs.
    """
    n = F.length(F.col(payload_col))
    offsets = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_bytes"),
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    ).select(
        id_col,
        "n_bytes",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


AUDIO_META_FIELDS = [T.StructField("fmt", T.StringType()), *WAV_META_FIELDS]


def parse_audio(payload: bytes) -> dict | None:
    """Dispatch on magic bytes (the :func:`parse_image` pattern for
    audio): ``fLaC`` → :func:`flac.parse_flac`, ``RIFF`` →
    :func:`parse_wav`, anything else → ``None``. The returned dict
    gains a ``fmt`` key (``"flac"`` / ``"wav"``) so one corpus can
    mix containers row-by-row."""
    if payload is None or len(payload) < 4:
        return None
    head = bytes(payload[:4])
    if head == b"fLaC":
        from .flac import parse_flac

        meta = parse_flac(payload)
        fmt = "flac"
    elif head == b"RIFF":
        meta = parse_wav(payload)
        fmt = "wav"
    else:
        return None
    if meta is not None:
        meta["fmt"] = fmt
    return meta


def decode_audio_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio decode over a mixed WAV/FLAC binary column
    (:func:`parse_audio` dispatch): container format, true
    rate/channels/duration and sample RMS — the
    :func:`decode_wav_meta` shape plus ``fmt``. FLAC is lossless, so
    the RMS of a FLAC clip equals the RMS of the PCM it encodes,
    which is what lets the ``flac_decode`` oracle replay the sample
    formula in closed form."""
    return map_payloads(
        df,
        lambda p: _audio_rows(parse_audio(p), with_fmt=True),
        AUDIO_META_FIELDS,
        id_col,
        payload_col,
    )


def make_flac_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    sample_rate: int = 8000,
) -> DataFrame:
    """Build a deterministic FLAC payload per row carrying the SAME
    PCM as :func:`make_wav_payload` (channels/frames/samples all
    id-derived, interleaved sample ``i`` is
    ``((id*31 + i*17) % 4096) - 2048``), so the closed-form oracle of
    ``wav_decode`` replays FLAC decoding too — lossless means the
    statistics are identical. The subframe coding rotates with the id
    (verbatim / fixed 1-3 / lpc 2,4 since r8) so the fixture corpus
    exercises every decode path the subset supports, including the
    LPC coefficient/shift reconstruction real-world FLAC uses almost
    exclusively."""
    from .flac import encode_flac

    modes = ["verbatim", "fixed1", "fixed2", "fixed3", "lpc2", "lpc4"]

    def build(i: int) -> bytes:
        n_channels = 1 + i % 2
        n_frames = 50 + i % 100
        n_samples = n_frames * n_channels
        samples = (
            (i * 31 + np.arange(n_samples, dtype=np.int64) * 17) % 4096
        ) - 2048
        return encode_flac(
            samples,
            sample_rate=sample_rate,
            n_channels=n_channels,
            subframe=modes[i % len(modes)],
        )

    return build_payloads(df, build, id_col, payload_col)


def make_jpeg_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic baseline JPEG per row (fixture/oracle
    generator): grayscale, ``(1 + id % 3) x (1 + id % 2)`` blocks of
    8x8, DC-only coefficients with quantizer 8 — block ``b`` decodes
    to the flat value ``128 + ((id*7 + b*13) % 160) - 80`` exactly
    (the orthonormal IDCT of a DC-only block is ``dc/8`` per pixel;
    see :mod:`.jpeg`), so every pixel statistic is closed-form while
    the decoder genuinely Huffman-decodes and IDCTs. Every fifth
    payload adds restart markers (interval 2) to exercise the
    DRI/RSTn path; every third payload is PROGRESSIVE (SOF2, r8) —
    multi-scan DC first/refinement plus AC bands through the same
    closed-form coefficients, so the oracle formula is unchanged
    while the decode genuinely runs the Annex G scan accumulation."""
    from .jpeg import encode_jpeg, encode_jpeg_progressive

    def build(i: int) -> bytes:
        bx, by = 1 + i % 3, 1 + i % 2
        blocks = []
        for b in range(bx * by):
            dc = ((i * 7 + b * 13) % 160) - 80
            blocks.append([dc] + [0] * 63)
        encode = encode_jpeg_progressive if i % 3 == 2 else encode_jpeg
        return encode(
            8 * bx, 8 * by, [blocks],
            restart_interval=2 if i % 5 == 0 else 0,
        )

    return build_payloads(df, build, id_col, payload_col)


def make_tiff_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL TIFF per row (fixture/oracle
    generator, r9): the PNM dimension formulas, photometric rotating
    by ``id % 3`` — grayscale ``(id*13 + k*7) % 256``, RGB
    ``(id*7 + k*13) % 256``, 8-color palette with index
    ``(id*5 + k*11) % 8`` — while the CONTAINER axes rotate
    independently of the pixels (compression none/PackBits/LZW by
    ``(id // 3) % 3``, horizontal predictor on even ids, big-endian
    every 5th, two-row strips every 4th), so DuckDB states every
    decoded statistic while :func:`tiff.parse_tiff` genuinely
    decompresses whichever layout it gets."""
    from .tiff import encode_tiff

    pal = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
           for j in range(8)]

    comps = ["none", "packbits", "lzw"]

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        arm = i % 3
        if arm == 0:
            phot, px = "gray", [(i * 13 + k * 7) % 256
                                for k in range(w * h)]
        elif arm == 1:
            phot, px = "rgb", [(i * 7 + k * 13) % 256
                               for k in range(w * h * 3)]
        else:
            phot, px = "palette", [(i * 5 + k * 11) % 8
                                   for k in range(w * h)]
        return encode_tiff(
            w, h, px, phot,
            palette=pal if phot == "palette" else None,
            compression=comps[(i // 3) % 3],
            predictor=(i % 2 == 0),
            rows_per_strip=2 if i % 4 == 0 else None,
            byte_order=">" if i % 5 == 0 else "<",
        )

    return build_payloads(df, build, id_col, payload_col)


def make_bmp_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL BMP per row (fixture/oracle
    generator, r9): ``id % 3`` rotates 24-bit BI_RGB (pixel
    ``(id*7 + k*13) % 256``), 8-bit palettized (index
    ``(id*5 + k*11) % 8``), and 8-bit RLE8 whose index
    ``(k//4 + id) % 8`` forms genuine runs for the compressor;
    non-RLE payloads go top-down every 7th id (same decoded raster —
    row order is a storage concern)."""
    from .bmp import encode_bmp

    pal = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
           for j in range(8)]

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        arm = i % 3
        td = i % 7 == 0
        if arm == 0:
            return encode_bmp(
                w, h,
                [(i * 7 + k * 13) % 256 for k in range(w * h * 3)],
                top_down=td,
            )
        elif arm == 1:
            return encode_bmp(
                w, h,
                [(i * 5 + k * 11) % 8 for k in range(w * h)],
                bpp=8, palette=pal, top_down=td,
            )
        else:
            return encode_bmp(
                w, h,
                [(k // 4 + i) % 8 for k in range(w * h)],
                bpp=8, palette=pal, rle=True,
            )

    return build_payloads(df, build, id_col, payload_col)


def make_webp_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic REAL lossless WebP per row
    (fixture/oracle generator, r10): the PNM dimension formulas
    (``w = 4 + id % 13``, ``h = 3 + id % 7``) with ``id % 2``
    rotating RGB/RGBA and ``id % 3`` rotating the pixel formula so
    every prefix-code shape in :func:`webp.encode_webp` is genuinely
    exercised — arm 0: ``(id*7 + k*13) % 256`` (dense alphabet →
    normal codes through the code-length code), arm 1:
    ``200 * ((id + k) % 2)`` (two symbols → simple codes), arm 2:
    constant ``id % 256`` (single-symbol zero-bit codes). All three
    formulas are closed-form, so DuckDB value-checks the decoded
    dimensions and raster mean."""
    from .webp import encode_webp

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        ch = 3 + (i % 2)
        n = w * h * ch
        arm = i % 3
        k = np.arange(n, dtype=np.int64)
        if arm == 0:
            px = (i * 7 + k * 13) % 256
        elif arm == 1:
            px = 200 * ((i + k) % 2)
        else:
            px = np.full(n, i % 256, dtype=np.int64)
        return encode_webp(px, w, h, ch)

    return build_payloads(df, build, id_col, payload_col)


def make_webp_anim_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Build a deterministic ANIMATED lossless WebP per row
    (fixture/oracle generator, r10): canvas ``W = 4 + id % 13``,
    ``H = 3 + id % 7``; frame 0 paints the full canvas with
    ``(id*7 + k*13) % 256`` (k over W*H*3 RGB positions), frame 1
    overwrites the row ``y = 2`` from ``x = 2`` with
    ``(id*5 + k*11) % 256``, and every other id adds frame 2
    overwriting the TOP row with ``(id*3 + k*17) % 256``. All frames
    are opaque (alpha-blend of opaque == overwrite), offsets are
    even as the ANMF container requires, and every composed canvas
    state is a closed form DuckDB can state outright."""
    from .webp import encode_webp_animation

    def build(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 7
        frames = [
            dict(
                x=0, y=0, width=w, height=h, channels=3,
                pixels=((i * 7 + np.arange(w * h * 3) * 13) % 256),
                duration_ms=40,
            ),
            dict(
                x=2, y=2, width=w - 2, height=1, channels=3,
                pixels=((i * 5 + np.arange((w - 2) * 3) * 11) % 256),
                duration_ms=50,
            ),
        ]
        if i % 2 == 1:
            frames.append(
                dict(
                    x=0, y=0, width=w, height=1, channels=3,
                    pixels=((i * 3 + np.arange(w * 3) * 17) % 256),
                    duration_ms=60,
                )
            )
        return encode_webp_animation(w, h, frames)

    return build_payloads(df, build, id_col, payload_col)
