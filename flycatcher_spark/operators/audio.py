"""Audio feature extraction over decoded PCM audio: framed short-time
FFT features in one :func:`._payload.map_payloads` stage.

Extends :mod:`.multimodal` (container parsing, sample-level
embeddings) with the first *frequency-domain* stage a real audio
curation pipeline needs — per-frame spectra for silence/tone
detection, bandwidth checks, and dedup of re-encoded copies. The FFT
genuinely runs (``numpy.fft.rfft``, vectorized over all frames of a
batch); what keeps it oracle-checkable without an audio stack is the
choice of OUTPUT features:

- ``dominant_bin`` — argmax of the magnitude spectrum over bins
  ``1..frame_len/2`` (DC excluded; ties break to the lowest bin,
  numpy argmax order). For any waveform with a period that divides
  the frame length the answer is closed-form, so DuckDB can state it
  outright (the ``audio_features`` oracle plants square waves).
- ``energy`` — the frame's EXACT integer sum of squared samples
  (time domain; equals the Parseval sum of the spectrum, which the
  pytest asserts to float tolerance while the oracle checks the
  integer exactly).
- ``rms`` — ``sqrt(energy / n)`` rounded to 6 decimals; both
  operands exact integers, so the IEEE division + sqrt reproduce
  bit-for-bit in any engine.

Scale shape: decode + FFT are one map-only Arrow stage over the
payload scan (payloads never shuffle, never reach the driver);
the per-frame fan-out is row-local. Frames per payload =
``floor((n_samples - frame_len)/hop) + 1``.

Reference parity note: the reference engine has no audio operator
(SURVEY.md §2 gap list); this is a §7 multimodal scale extension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._payload import Rows, build_payloads, map_payloads
from .multimodal import parse_audio

__all__ = ["stft_frame_features", "make_tone_payload"]

STFT_FIELDS = [
    T.StructField("frame_idx", T.LongType()),
    T.StructField("dominant_bin", T.LongType()),
    T.StructField("energy", T.LongType()),
    T.StructField("rms", T.DoubleType()),
]


def _frame_features(
    samples: np.ndarray, frame_len: int, hop: int
) -> list[tuple[int, int, int, float]]:
    """Features for every full frame of a 1-D int sample array."""
    n = samples.size
    if n < frame_len:
        return []
    n_frames = (n - frame_len) // hop + 1
    idx = np.arange(frame_len)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = samples[idx]  # (n_frames, frame_len), int64
    mags = np.abs(np.fft.rfft(frames.astype(np.float64), axis=1))
    # DC excluded; argmax ties break to the LOWEST bin (numpy order)
    dom = 1 + np.argmax(mags[:, 1:], axis=1)
    energy = np.sum(frames.astype(np.int64) ** 2, axis=1)
    rms = np.round(np.sqrt(energy / float(frame_len)), 6)
    return [
        (int(i), int(dom[i]), int(energy[i]), float(rms[i]))
        for i in range(n_frames)
    ]


def stft_frame_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_len: int = 256,
    hop: int | None = None,
    channel: int = 0,
) -> DataFrame:
    """Per-frame STFT features over an audio payload column (WAV or
    FLAC — :func:`multimodal.parse_audio` dispatch): one row per full
    ``frame_len``-sample frame (stride ``hop``, default
    non-overlapping) of the selected ``channel``.

    Output: ``(id_col, frame_idx, dominant_bin, energy, rms)`` — see
    the module docstring for each feature's exactness contract.
    Undecodable payloads and clips shorter than one frame yield a
    single all-null feature row.
    """
    if hop is None:
        hop = frame_len
    if frame_len < 2 or hop < 1:
        raise ValueError("frame_len must be >= 2 and hop >= 1")
    if channel < 0:
        raise ValueError("channel must be >= 0")

    def rows(payload: bytes) -> Rows:
        meta = parse_audio(payload)
        if meta is None or channel >= meta["n_channels"]:
            return None
        mono = meta["samples"][channel :: meta["n_channels"]]
        return _frame_features(mono, frame_len, hop) or None

    return map_payloads(df, rows, STFT_FIELDS, id_col, payload_col)


def make_tone_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_len: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic square-wave WAV fixture (the
    :func:`multimodal.make_wav_payload` pattern, but with closed-form
    SPECTRAL structure): mono 16-bit PCM, period
    ``P = 2^(2 + id % 5)`` samples (divides ``frame_len``), amplitude
    ``A = 500 + (id % 10) * 100``, ``frame_len * (1 + id % 3)``
    samples. Every frame therefore contains whole periods, so

    - ``dominant_bin = frame_len / P`` (the fundamental; the next
      harmonic is ~3x weaker),
    - ``energy = frame_len * A^2`` exactly (every sample is ±A),
    - ``rms = A`` exactly,

    which is what the ``audio_features`` oracle states in closed
    form.
    """
    import struct

    def build(i: int) -> bytes:
        period = 1 << (2 + i % 5)
        amp = 500 + (i % 10) * 100
        n = frame_len * (1 + i % 3)
        pos = np.arange(n, dtype=np.int64)
        samples = np.where((pos % period) < period // 2, amp, -amp)
        data = samples.astype("<i2").tobytes()
        fmt_chunk = struct.pack(
            "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return build_payloads(df, build, id_col, payload_col)
