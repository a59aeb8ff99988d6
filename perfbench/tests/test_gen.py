"""Input generators: determinism and the planted shapes they promise."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(root: str, seed: int) -> None:
    gen.write_validate_inputs(os.path.join(root, "v"), seed, n_batches=2, rows=5_000)
    gen.write_dedup_inputs(os.path.join(root, "d"), seed, n_shards=1, scale=0.25)
    gen.write_media_inputs(
        os.path.join(root, "m"), seed, n_sets=1, shards_per_set=1, samples_per_shard=40
    )


def test_same_seed_same_bytes(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_other_bytes(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 8)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def _shingles(text: str, n: int = 3) -> set[str]:
    words = text.split()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


_SMALL_SHAPE = {"unique": 30, "exact_cluster_sizes": [4, 2], "chain_lengths": [30], "low_quality": 4}


def test_drift_chains_pass_one_hop_and_fail_two():
    table, truth = gen.dedup_shard(np.random.default_rng(1), 0, _SMALL_SHAPE)
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    (chain,) = truth["chains"]
    assert len(chain) == 30
    for i in range(len(chain) - 2):
        assert _jaccard(text[chain[i]], text[chain[i + 1]]) >= 0.5
        assert _jaccard(text[chain[i]], text[chain[i + 2]]) < 0.5


def test_chains_start_at_their_smallest_id_and_fit_the_step_cap():
    # connected_components takes 25 propagation steps by default
    assert max(gen.DEDUP_SHAPE["chain_lengths"]) - 1 <= 25
    _, truth = gen.dedup_shard(np.random.default_rng(5), 0, gen.DEDUP_SHAPE)
    assert [len(c) for c in truth["chains"]] == gen.DEDUP_SHAPE["chain_lengths"]
    assert all(c[0] == min(c) for c in truth["chains"])


def test_cap_probe_paths_are_seeded_and_longer_than_the_cap():
    a, b = gen.cap_probe_paths(3), gen.cap_probe_paths(3)
    assert a == b != gen.cap_probe_paths(4)
    assert min(len(p) for p in a) - 1 > 25
    ids = [i for p in a for i in p]
    assert len(set(ids)) == len(ids)


def test_validate_batch_plants_about_one_percent_each():
    t = gen.lineitem_batch(np.random.default_rng(3), 100_000, 1)
    null_rows = sum(t.column(c).null_count for c in ("l_discount", "l_tax", "l_receiptdate"))
    assert 700 <= null_rows <= 1_100
    bad_qty = sum(1 for q in t.column("l_quantity").to_pylist() if not 0 < q <= 50)
    assert 100 <= bad_qty <= 300
    keys = list(zip(t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist()))
    assert len(set(keys)) == len(keys)


def test_media_truth_marks_planted_payloads(tmp_path):
    made = gen.write_media_inputs(str(tmp_path), 5, 1, 1, 400)
    truth = made["truth"][0]
    bad_image = sum(1 for v in truth.values() if v["image"] is None)
    bad_audio = sum(1 for v in truth.values() if v["audio"] is None)
    assert 0 < bad_image < 60 and 0 < bad_audio < 40
    with open(os.path.join(str(tmp_path), "truth.json")) as f:
        assert json.load(f)[0] == truth


def test_over_cap_png_inflates_past_the_cap():
    import zlib

    png = gen.over_cap_png()
    assert len(png) < 200_000
    idat = png[8 + 25 + 8 : -12 - 4]
    assert len(zlib.decompress(idat)) > 64 * 1024 * 1024


def test_validate_inputs_manifest(tmp_path):
    made = gen.write_validate_inputs(str(tmp_path), 1, 2, 1_000)
    assert len(made["batches"]) == 2
    assert pq.read_metadata(made["warm"]).num_rows == 1_000


def test_documents_labelled_good_meet_the_gate_rules():
    # the rules of operators.quality.gopher_pass at its defaults
    required = {"the", "be", "to", "of", "and", "that", "have", "with"}
    table, truth = gen.dedup_shard(np.random.default_rng(2), 0, gen.DEDUP_SHAPE)
    good = set(truth["gate_pass_ids"])
    for doc_id, text in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()):
        words = text.split()
        passes = (
            len(words) >= 50
            and 3 <= sum(map(len, words)) / len(words) <= 10
            and text.count("#") / len(words) <= 0.1
            and len(required & set(words)) >= 2
        )
        assert passes == (doc_id in good)


def test_inputs_are_made_again_for_another_generator_version(tmp_path, monkeypatch):
    from perfbench import workloads

    made = []

    def write(root):
        os.makedirs(root)
        made.append(root)
        return {"root": root}

    monkeypatch.setattr(workloads, "_gen_version", lambda: "aaa")
    first = workloads._inputs(str(tmp_path), "w", 1, 1.0, write)
    assert workloads._inputs(str(tmp_path), "w", 1, 1.0, write) == first
    assert len(made) == 1
    monkeypatch.setattr(workloads, "_gen_version", lambda: "bbb")
    second = workloads._inputs(str(tmp_path), "w", 1, 1.0, write)
    assert second != first and len(made) == 2
    assert not os.path.exists(first["root"])
