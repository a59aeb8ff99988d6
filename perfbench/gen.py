"""Seeded input generators for the three benchmark workloads.

Everything here uses the standard library, numpy and pyarrow only; no
import reaches into ``flycatcher_spark`` (its fixture encoders may move),
so the benchmark's inputs do not depend on the code under test. The
same seed always produces byte-identical files, and each generator
returns the ground truth its workload's output check needs.

Layout under ``<root>``:

- ``validate_batches``: ``batch-NN.parquet`` lineitem-shaped batches;
- ``dedup_corpus``: ``shard-NN.parquet`` document shards plus
  ``truth.json`` (planted shapes and the documents that must pass the
  quality gate);
- ``media_shards``: ``set-NN/shard-NN.tar`` WebDataset shards plus
  ``truth.json`` (per-sample decoded dimensions, pixel mean and audio
  frame count, or null for planted bad payloads).
"""

from __future__ import annotations

import io
import json
import os
import struct
import tarfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------------
# validate_batches
# ----------------------------------------------------------------------

#: planted share of rows per defect kind; about 1% of rows are planted
#: violations and about 1% carry a planted null (the model validator and
#: the ``l_discount`` range check evaluate to null on those rows).
VALIDATE_PLANTS = {
    "quantity_out_of_range": 0.002,
    "discount_out_of_range": 0.002,
    "bad_returnflag": 0.001,
    "bad_shipmode": 0.001,
    "receipt_before_ship": 0.003,
    "orderkey_nonpositive": 0.001,
    "null_tax": 0.001,  # non-nullable column: dropped by every path
    "null_discount": 0.004,  # nullable: its range check is null
    "null_receiptdate": 0.004,  # nullable: the model validator is null
}

_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")


def lineitem_batch(rng: np.random.Generator, n: int, first_orderkey: int) -> pa.Table:
    """One lineitem-shaped batch of ``n`` rows with planted defects.

    ``(l_orderkey, l_linenumber)`` is unique within and across batches
    (planted non-positive order keys are negated, never reused)."""
    linenumber = (np.arange(n) % 7 + 1).astype(np.int64)
    orderkey = first_orderkey + np.arange(n, dtype=np.int64) // 7
    partkey = rng.integers(1, 200_000, n, dtype=np.int64)
    suppkey = rng.integers(1, 10_000, n, dtype=np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    extendedprice = np.round(quantity * rng.uniform(900.0, 2100.0, n), 2)
    discount = np.round(rng.integers(0, 11, n) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n) / 100.0, 2)
    returnflag = rng.choice(np.array(["A", "N", "R"]), n)
    linestatus = rng.choice(np.array(["O", "F"]), n)
    ship_days = rng.integers(0, 2400, n)
    shipdate = _EPOCH_1992 + ship_days.astype("timedelta64[D]")
    receiptdate = shipdate + rng.integers(1, 31, n).astype("timedelta64[D]")
    shipmode = rng.choice(_SHIPMODES, n)

    # each row carries at most one planted defect
    kinds = list(VALIDATE_PLANTS)
    probs = np.array([VALIDATE_PLANTS[k] for k in kinds])
    draw = rng.random(n)
    edges = np.cumsum(probs)
    kind_idx = np.searchsorted(edges, draw, side="right")  # len(kinds) = clean
    planted = {k: kind_idx == i for i, k in enumerate(kinds)}

    quantity[planted["quantity_out_of_range"]] = np.where(
        rng.random(int(planted["quantity_out_of_range"].sum())) < 0.5, 0.0, 75.0
    )
    discount[planted["discount_out_of_range"]] = 0.25
    returnflag[planted["bad_returnflag"]] = "X"
    shipmode = shipmode.astype(object)
    shipmode[planted["bad_shipmode"]] = "AIRSHIPMENT"
    receiptdate[planted["receipt_before_ship"]] = shipdate[
        planted["receipt_before_ship"]
    ] - np.timedelta64(3, "D")
    orderkey = np.where(planted["orderkey_nonpositive"], -orderkey, orderkey)

    disc_mask = planted["null_discount"]
    tax_mask = planted["null_tax"]
    recv_mask = planted["null_receiptdate"]
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(suppkey, pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int64()),
            "l_quantity": pa.array(quantity, pa.float64()),
            "l_extendedprice": pa.array(extendedprice, pa.float64()),
            "l_discount": pa.array(discount, pa.float64(), mask=disc_mask),
            "l_tax": pa.array(tax, pa.float64(), mask=tax_mask),
            "l_returnflag": pa.array(returnflag.astype(object), pa.string()),
            "l_linestatus": pa.array(linestatus.astype(object), pa.string()),
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
            "l_receiptdate": pa.array(receiptdate, pa.timestamp("us"), mask=recv_mask),
            "l_shipmode": pa.array(shipmode, pa.string()),
        }
    )


def write_validate_inputs(root: str, seed: int, n_batches: int, rows: int) -> dict:
    """``n_batches`` timed batches plus a warm-up batch of the same size."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    batches = []
    for b in range(n_batches + 1):
        name = f"batch-{b:02d}.parquet" if b < n_batches else "warm.parquet"
        path = os.path.join(root, name)
        pq.write_table(lineitem_batch(rng, rows, 1 + b * rows), path, row_group_size=rows)
        batches.append(path)
    return {"batches": batches[:-1], "warm": batches[-1], "rows_per_batch": rows}


# ----------------------------------------------------------------------
# dedup_corpus
# ----------------------------------------------------------------------

#: the stopwords the Gopher-style quality gate counts (it needs two)
_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

#: documents per shard, by planted shape
DEDUP_SHAPE = {
    "unique": 500,
    # exact-duplicate clusters of skewed size (Zipf-like) led by one
    # large cluster: a cluster of m documents yields m(m-1)/2 verified
    # pairs, so the largest one dominates the verify stage's work
    "exact_cluster_sizes": [64, 16, 12, 8, 6, 5, 4, 3, 3, 2, 2, 2, 2],
    # near-duplicate drift chains: neighbours pass the 0.5 verify
    # threshold, documents two hops apart do not. Lengths run up to the
    # 25 propagation steps connected_components takes by default (a
    # 26-document chain whose smallest id sits at one end needs all 25),
    # so every operation has one right answer; the longer chains that
    # the cap splits are measured apart, by ``cap_probe_paths``
    "chain_lengths": [6, 8, 10, 12, 14, 16, 18, 20, 22, 24, 26, 26],
    "low_quality": 30,
}
#: words per document and the drift step between chain neighbours:
#: neighbour Jaccard over word 3-shingles is (80-16-2)/(80+16-2) = 0.66,
#: two hops (80-32-2)/(80+32-2) = 0.42
DOC_WORDS = 80
CHAIN_STEP = 16


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    lengths = rng.integers(3, 9, size)
    letters = rng.choice(_LETTERS, (size, 8))
    words = {"".join(row[:k]) for row, k in zip(letters, lengths)}
    words -= set(_STOPWORDS)
    return np.array(sorted(words))


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    """Prose-like word stream: every fifth word is a stopword, so any 80
    consecutive words pass the quality gate's stopword rule."""
    out = rng.choice(vocab, n).astype(object)
    out[2::5] = rng.choice(np.array(_STOPWORDS), len(out[2::5]))
    return list(out)


def dedup_shard(
    rng: np.random.Generator, shard: int, shape: dict
) -> tuple[pa.Table, dict]:
    vocab = _vocab(rng, 20_000)
    texts: list[str] = []
    good: list[bool] = []
    chains: list[int] = []  # indexes into texts where each chain starts

    for _ in range(shape["unique"]):
        texts.append(" ".join(_words(rng, vocab, DOC_WORDS)))
        good.append(True)
    for size in shape["exact_cluster_sizes"]:
        text = " ".join(_words(rng, vocab, DOC_WORDS))
        texts.extend([text] * size)
        good.extend([True] * size)
    for length in shape["chain_lengths"]:
        stream = _words(rng, vocab, DOC_WORDS + CHAIN_STEP * (length - 1))
        chains.append(len(texts))
        for i in range(length):
            texts.append(" ".join(stream[i * CHAIN_STEP : i * CHAIN_STEP + DOC_WORDS]))
            good.append(True)
    for i in range(shape["low_quality"]):
        if i % 2:  # too short for the gate
            texts.append(" ".join(_words(rng, vocab, 20)))
        else:  # symbol-heavy
            ws = _words(rng, vocab, DOC_WORDS)
            texts.append(" ".join(w if j % 3 else "#" + w for j, w in enumerate(ws)))
        good.append(False)

    # ids are a random permutation, except that each chain's smallest id
    # is moved to its first document: propagation then takes length - 1
    # steps on every chain, whatever the seed, so every seed gives
    # connected_components the same number of rounds
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + shard * 1_000_000
    for s, k in zip(chains, shape["chain_lengths"]):
        j = s + int(np.argmin(ids[s : s + k]))
        ids[s], ids[j] = ids[j], ids[s]
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    truth = {
        "n_docs": n,
        "gate_pass_ids": sorted(int(i) for i, g in zip(ids, good) if g),
        "chains": [
            [int(x) for x in ids[s : s + k]]
            for s, k in zip(chains, shape["chain_lengths"])
        ],
    }
    return table, truth


#: path graphs longer than connected_components' default 25 steps: the
#: traced run counts the components the cap splits them into
CAP_PROBE_PATH_LENGTHS = [28, 40, 56, 72, 96]


def cap_probe_paths(seed: int) -> list[list[int]]:
    """Node ids of each probe path, in path order: a random permutation,
    so each path's smallest id sits at a random position."""
    rng = np.random.default_rng([seed, 4])
    ids = [int(i) for i in rng.permutation(sum(CAP_PROBE_PATH_LENGTHS))]
    out, start = [], 0
    for n in CAP_PROBE_PATH_LENGTHS:
        out.append(ids[start : start + n])
        start += n
    return out


def scaled_shape(scale: float) -> dict:
    """DEDUP_SHAPE with its unique, low-quality and cluster sizes scaled;
    the drift chains keep their lengths."""
    shape = dict(DEDUP_SHAPE)
    shape["unique"] = round(shape["unique"] * scale)
    shape["low_quality"] = round(shape["low_quality"] * scale)
    shape["exact_cluster_sizes"] = [
        max(2, round(m * scale)) for m in shape["exact_cluster_sizes"]
    ]
    return shape


def write_dedup_inputs(root: str, seed: int, n_shards: int, scale: float = 1.0) -> dict:
    """``n_shards`` timed shards plus one warm-up shard of the same shape."""
    rng = np.random.default_rng([seed, 2])
    shape = scaled_shape(scale)
    os.makedirs(root, exist_ok=True)
    shards, truths = [], []
    for s in range(n_shards + 1):
        warm = s == n_shards
        table, truth = dedup_shard(rng, s, shape)
        path = os.path.join(root, "warm.parquet" if warm else f"shard-{s:02d}.parquet")
        pq.write_table(table, path)
        shards.append(path)
        truths.append(truth)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truths, f, sort_keys=True)
    return {"shards": shards[:-1], "warm": shards[-1], "truth": truths[:-1]}


# ----------------------------------------------------------------------
# media_shards
# ----------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: share of samples with each planted bad payload kind
MEDIA_PLANTS = {
    "png_truncated": 0.02,
    "png_corrupt": 0.02,
    "png_over_cap": 0.005,
    "wav_truncated": 0.02,
    "wav_corrupt": 0.01,
}
#: inflated size of the over-cap PNG; the decoders' cap is 64 MiB
OVER_CAP_BYTES = 65 * 1024 * 1024


def _png_chunk(kind: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + kind
        + body
        + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF)
    )


def png_bytes(pixels: np.ndarray) -> bytes:
    """8-bit gray (h, w) or RGB (h, w, 3) PNG, filter type 0."""
    h, w = pixels.shape[:2]
    color = 0 if pixels.ndim == 2 else 2
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def over_cap_png() -> bytes:
    """A 1x1-byte-wide gray PNG whose IDAT inflates past 64 MiB."""
    comp = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    body = b"".join(comp.compress(zeros) for _ in range(OVER_CAP_BYTES >> 20))
    body += comp.flush()
    height = OVER_CAP_BYTES // 2
    ihdr = struct.pack(">IIBBBBB", 1, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", body)
        + _png_chunk(b"IEND", b"")
    )


def wav_bytes(samples: np.ndarray, rate: int) -> bytes:
    """16-bit mono PCM WAV."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _tar_add(tf: tarfile.TarFile, name: str, body: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(body)
    info.mtime = 0
    tf.addfile(info, io.BytesIO(body))


def media_sample(rng: np.random.Generator, kind: str | None, bomb: bytes):
    """One sample's (png, wav, json caption) payloads and expected meta."""
    w, h = int(rng.integers(16, 49)), int(rng.integers(16, 49))
    if rng.random() < 0.5:
        pixels = rng.integers(0, 256, (h, w), dtype=np.uint8)
        channels = 1
    else:
        pixels = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        channels = 3
    png = png_bytes(pixels)
    img = {
        "width": w,
        "height": h,
        "n_channels": channels,
        "mean_pixel": float(int(pixels.sum(dtype=np.int64)) / pixels.size),
    }
    rate = 8000
    frames = int(rng.integers(400, 1600))
    audio = rng.integers(-8000, 8000, frames, dtype=np.int64)
    wav = wav_bytes(audio, rate)
    snd = {"sample_rate": rate, "n_frames": frames}
    if kind == "png_truncated":
        png, img = png[: len(png) // 2], None
    elif kind == "png_corrupt":
        # a well-formed chunk walk whose IDAT is not a zlib stream
        junk = rng.integers(0, 256, 64, dtype=np.uint8).tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        png = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", b"\x00" + junk)
            + _png_chunk(b"IEND", b"")
        )
        img = None
    elif kind == "png_over_cap":
        png, img = bomb, None
    elif kind == "wav_truncated":
        wav, snd = wav[:30], None
    elif kind == "wav_corrupt":
        wav, snd = b"RIFF" + wav[4:8] + b"WAVX" + wav[12:], None
    caption = json.dumps({"caption": " ".join(rng.choice(_STOPWORDS, 6))}).encode()
    return png, wav, caption, img, snd


def _planted_kinds(rng: np.random.Generator, n: int) -> list[str | None]:
    """Exactly ``round(share * n)`` samples of each planted kind, at
    random positions, so every seed plants the same amount of bad work."""
    kinds: list[str | None] = []
    for kind, share in MEDIA_PLANTS.items():
        kinds += [kind] * round(share * n)
    kinds += [None] * (n - len(kinds))
    return [kinds[i] for i in rng.permutation(n)]


def write_media_inputs(
    root: str, seed: int, n_sets: int, shards_per_set: int, samples_per_shard: int
) -> dict:
    """``n_sets`` shard sets (one operation reads one set) plus a
    warm-up set of the same size."""
    rng = np.random.default_rng([seed, 3])
    bomb = over_cap_png()
    os.makedirs(root, exist_ok=True)
    sets, truth = [], []
    key = 0
    for s in range(n_sets + 1):
        warm = s == n_sets
        set_dir = os.path.join(root, "warm" if warm else f"set-{s:02d}")
        os.makedirs(set_dir, exist_ok=True)
        expected: dict[str, dict] = {}
        kinds = iter(_planted_kinds(rng, shards_per_set * samples_per_shard))
        for k in range(shards_per_set):
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
                for _ in range(samples_per_shard):
                    png, wav, cap, img, snd = media_sample(rng, next(kinds), bomb)
                    name = f"{key:09d}"
                    key += 1
                    # WebDataset keeps a sample's members adjacent
                    _tar_add(tf, f"{name}.json", cap)
                    _tar_add(tf, f"{name}.png", png)
                    _tar_add(tf, f"{name}.wav", wav)
                    expected[name] = {"image": img, "audio": snd}
            with open(os.path.join(set_dir, f"shard-{k:02d}.tar"), "wb") as f:
                f.write(buf.getvalue())
        sets.append(set_dir)
        truth.append(expected)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {"sets": sets[:-1], "warm": sets[-1], "truth": truth[:-1]}
