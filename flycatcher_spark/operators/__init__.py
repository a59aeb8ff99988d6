"""Large-scale data-pipeline operators (extensions beyond the
reference surface — see SURVEY.md §7.1 step 7).

- :mod:`.dedup` — exact, MinHash-LSH, SimHash, n-gram Jaccard,
  embedding-cosine near-duplicate detection.
- :mod:`.similarity` — cosine/dot/norm expressions, brute-force and
  LSH-bucketed approximate nearest neighbors.
- :mod:`.text` — language ID (stopword heuristic), quality scoring,
  token counting, fingerprinting.
- :mod:`.langid` — data-driven language ID: char-n-gram profiles
  learned from a labeled sample, broadcast, naive-Bayes argmax
  (curation-grade upgrade of ``text.lang_id``).
- :mod:`.multimodal` — opaque binary payload columns with typed
  metadata. Every per-payload decode stage in it and in
  :mod:`.audio`, :mod:`.video`, :mod:`.pdf`, :mod:`.warc` and
  :mod:`.webdataset` is a row function run by
  ``_payload.map_payloads`` — one map-only Arrow stage with a
  declared schema, where a null or undecodable payload gives one
  all-null row keyed by its id and a fan-out gives one row per item.
  Their ``make_*_payload`` fixture builders share
  ``_payload.build_payloads``.
- :mod:`.layout` — Z-order (Morton-curve) storage layout: exact
  integer bit-interleave keys + range-partitioned sorted writes for
  multi-dimensional parquet stats pruning.
- :mod:`.sketch` — mergeable md5-deterministic sketches: HLL
  distinct counting and count-min frequency estimation with exact
  cross-engine oracles (register-for-register, counter-for-counter).
- :mod:`.stats` — single-pass dataset profiling (counts, distincts,
  extrema, moments, approximate quantiles).
- :mod:`.skew` — salted joins/aggregations for hot-key workloads.
- :mod:`.decontam` — benchmark n-gram decontamination for training
  corpora.
- :mod:`.bpe` — BPE tokenizer: distributed word-count training
  stage, driver-side merge learning on the bounded frequency table,
  Arrow-kernel apply.
- :mod:`.versioning` — corpus release diffs (added / removed /
  changed / unchanged by content fingerprint).
- :mod:`.chat` — conversation (SFT) data prep: JSON transcript
  parsing, alternation/role gates, trainable-mass accounting.
- :mod:`.cluster` — exact deterministic Lloyd's k-means (the
  engine-portable blocking-assignment producer for semantic dedup;
  sampled index bootstrapping lives in :mod:`.similarity`).
- :mod:`.web` — URL canonicalization and URL-keyed dedup for crawled
  corpora (map-only Column canonicalizer, slim-shuffle best-row-wins
  dedup), link extraction/resolution, sitemap parsing, robots.txt
  gating.
- :mod:`.graph` — link-graph analytics: out-degrees and exact
  deterministic PageRank (the crawl quality prior).
- :mod:`.audio` — framed STFT features over PCM payloads (dominant
  spectral bin, exact frame energy/RMS).
- :mod:`.webdataset` — WebDataset-style TAR shard ingestion: member
  explode + row-local sample grouping (ext→payload map), composing
  with the real decoders for downstream decode.
- :mod:`.video` — MJPEG-in-AVI frame extraction: RIFF walk +
  per-sampled-frame JPEG decode (real frame sampling; unsampled
  frames never decode).
- :mod:`.jpeg` — baseline JPEG (ITU-T T.81) decode with
  stdlib+numpy: Huffman entropy decode, dequant, IDCT, chroma
  upsampling, restart markers; plus a coefficient-domain fixture
  encoder.
- :mod:`.flac` — stdlib-only FLAC (RFC 9639) lossless decode:
  CONSTANT/VERBATIM/FIXED subframes, Rice residuals, CRC-8/16,
  stereo decorrelation; plus a spec-conformant fixture encoder.
- :mod:`.warc` — WARC (ISO 28500) crawl-archive record parsing:
  plain/gzip/gzip-member inputs, record fan-out, deterministic
  oracle fixtures.
- :mod:`.pdf` — stdlib-only PDF text extraction: classic xref
  chains (incl. incremental updates), COS object parser, page-tree
  walk, FlateDecode, BT/ET text operators; plus a spec-conformant
  fixture writer.
- :mod:`.gif` — GIF87a/89a decode with a real LZW codec, 4-pass
  interlace, and animated-frame composition (GCE disposal and
  transparency); plus a spec-conformant animated writer.
- :mod:`.tiff` — baseline TIFF decode: IFD walk (both byte orders),
  PackBits + early-change MSB-first LZW, predictor, multi-strip,
  palettes; plus a real fixture writer.
- :mod:`.bmp` — BMP decode: 24-bit padded BGR, 8-bit palettes, real
  RLE8 with all four escapes; plus a real fixture writer.
- :mod:`.webp` — lossless WebP (VP8L) decode, literal-only subset:
  real prefix-code machinery (simple + code-length-coded normal
  codes), LSB-first bitstream, RIFF walk; plus a real frequency-
  based encoder. Transforms/LZ77/color-cache return None honestly.
- :mod:`.quality` — corpus curation: Gopher-style rule gates, linear
  classifier scoring, unigram-LM surprise, per-domain caps,
  temperature mixture sampling, deterministic training order,
  semantic dedup.
"""

from . import (
    asof,
    audio,
    bmp,
    bpe,
    chat,
    cluster,
    decontam,
    dedup,
    flac,
    gif,
    graph,
    jpeg,
    langid,
    layout,
    multimodal,
    pdf,
    quality,
    range_join,
    similarity,
    sketch,
    skew,
    stats,
    text,
    tiff,
    versioning,
    video,
    webdataset,
    webp,
    warc,
    web,
)

__all__ = [
    "asof",
    "audio",
    "bmp",
    "bpe",
    "chat",
    "cluster",
    "decontam",
    "dedup",
    "flac",
    "gif",
    "graph",
    "jpeg",
    "langid",
    "layout",
    "multimodal",
    "pdf",
    "quality",
    "range_join",
    "similarity",
    "sketch",
    "skew",
    "stats",
    "text",
    "tiff",
    "versioning",
    "video",
    "webdataset",
    "webp",
    "warc",
    "web",
]
