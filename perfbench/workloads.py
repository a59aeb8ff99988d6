"""The three workloads: inputs, set-up, one operation, and output checks.

Each operation is a closed-loop request from one driver thread against
the library's public API. ``op`` returns an :class:`OpRecord` holding
what the untimed checks need; ``check`` runs after the measured window,
so neither the references nor their memory land in any metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flycatcher_spark import Field, Schema, col, model_validator
from flycatcher_spark.operators import dedup, multimodal, quality, webdataset

from . import gen

#: every span a workload may open, in table order; idle spans report 0
SPANS = [
    "session.get_spark",
    "base.compile",
    "generators.ddl.to_ddl",
    "generators.spark.validate",
    "generators.spark.validate_lazy",
    "generators.spark.flag_violations",
    "operators.quality.gopher_pass",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.verify_pairs_jaccard",
    "operators.dedup.connected_components",
    "operators.webdataset.webdataset_samples",
    "operators.multimodal.decode_image_meta",
    "operators.multimodal.decode_wav_meta",
    "operators.webdataset.write_webdataset",
    "operators.webdataset.save_webdataset",
    "sink.write",
]


@dataclass
class OpRecord:
    index: int
    rows: int
    wall_s: float = 0.0
    construct_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0
    rss_peak_mb: float | None = None
    error: str | None = None
    check: dict = field(default_factory=dict)


def _gen_version() -> str:
    """A digest of the generator's source: inputs made by another version
    of ``gen.py`` are made again, never reused with a stale truth."""
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _inputs(work: str, name: str, seed: int, scale: float, write) -> dict:
    """Generate a workload's inputs once per seed, scale and generator
    version under ``work/inputs``, keeping only the current ones' files."""
    base = os.path.join(work, "inputs")
    root = os.path.join(base, f"{name}-s{seed}-x{scale:g}-g{_gen_version()}")
    manifest = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest):
        if os.path.isdir(base):
            for old in os.listdir(base):
                if old.startswith(name + "-s"):
                    shutil.rmtree(os.path.join(base, old))
        made = write(root)
        with open(manifest + ".tmp", "w") as f:
            json.dump(made, f, sort_keys=True)
        os.replace(manifest + ".tmp", manifest)
    with open(manifest) as f:
        return json.load(f)


def _reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


class Workload:
    name = ""
    #: the window keeps issuing operations until it holds at least this
    #: many and their count is a multiple of ``op_multiple``. On a 4-core
    #: host ``min_ops`` sets the window's length: every run then takes
    #: the same operations from the JVM's warming curve, and its median
    #: does not shift with how many fit in ``--seconds``.
    min_ops = 1
    op_multiple = 1

    def __init__(self, work: str) -> None:
        self.out = os.path.join(work, "out", self.name)

    def compile(self, tracer) -> None:
        raise NotImplementedError

    def op(self, spark, tracer, k: int, rec: OpRecord) -> None:
        raise NotImplementedError

    def warmup(self, spark, tracer) -> None:
        raise NotImplementedError

    def check(self, recs: list[OpRecord]) -> dict:
        """Fill each record's ``check`` with ``ok`` and details; return
        per-layer counts for the run."""
        raise NotImplementedError

    def probe(self, spark) -> dict:
        """Per-layer counts of known defects, measured by the traced run
        apart from the operations."""
        return {}


# ----------------------------------------------------------------------
# validate_batches
# ----------------------------------------------------------------------

#: (library message, independent DuckDB predicate) per constraint
LINEITEM_CONSTRAINTS = [
    ("l_orderkey must be >= 1", "l_orderkey >= 1"),
    ("l_partkey must be >= 1", "l_partkey >= 1"),
    ("l_suppkey must be >= 1", "l_suppkey >= 1"),
    ("l_linenumber must be >= 1", "l_linenumber >= 1"),
    ("l_linenumber must be <= 7", "l_linenumber <= 7"),
    ("l_quantity must be > 0", "l_quantity > 0"),
    ("l_quantity must be <= 50", "l_quantity <= 50"),
    ("l_extendedprice must be > 0", "l_extendedprice > 0"),
    ("l_discount must be >= 0.0", "l_discount >= 0.0"),
    ("l_discount must be <= 0.1", "l_discount <= 0.1"),
    ("l_tax must be >= 0.0", "l_tax >= 0.0"),
    ("l_tax must be <= 0.08", "l_tax <= 0.08"),
    ("l_returnflag must match pattern: ^[ANR]$", "regexp_matches(l_returnflag, '^[ANR]$')"),
    ("l_linestatus must match pattern: ^[OF]$", "regexp_matches(l_linestatus, '^[OF]$')"),
    ("l_shipdate must be >= 1992-01-01T00:00:00", "l_shipdate >= TIMESTAMP '1992-01-01'"),
    ("l_shipmode must have at least 3 characters", "length(l_shipmode) >= 3"),
    ("l_shipmode must have at most 10 characters", "length(l_shipmode) <= 10"),
    ("l_shipdate must not be after l_receiptdate", "l_shipdate <= l_receiptdate"),
]
LINEITEM_NULLABLE = {"l_discount", "l_receiptdate"}
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_receiptdate", "l_shipmode",
]  # fmt: skip


def lineitem_schema() -> type:
    """Compile the benchmark's lineitem schema (the base.compile span)."""

    class LineitemBatch(Schema):
        l_orderkey: int = Field(ge=1)
        l_partkey: int = Field(ge=1)
        l_suppkey: int = Field(ge=1)
        l_linenumber: int = Field(ge=1, le=7)
        l_quantity: float = Field(gt=0, le=50)
        l_extendedprice: float = Field(gt=0)
        l_discount: float | None = Field(ge=0.0, le=0.10)
        l_tax: float = Field(ge=0.0, le=0.08)
        l_returnflag: str = Field(pattern="^[ANR]$")
        l_linestatus: str = Field(pattern="^[OF]$")
        l_shipdate: datetime = Field(ge=datetime(1992, 1, 1))
        l_receiptdate: datetime | None
        l_shipmode: str = Field(min_length=3, max_length=10)

        @model_validator
        def ship_before_receipt():
            return (
                col("l_shipdate") <= col("l_receiptdate"),
                "l_shipdate must not be after l_receiptdate",
            )

    return LineitemBatch


class ValidateBatches(Workload):
    name = "validate_batches"
    paths = ("validate", "validate_lazy", "flag_violations")
    op_multiple = 3
    min_ops = 9
    warm_rotations = 2
    n_batches = 4
    rows_per_batch = 200_000

    def __init__(self, work: str, seed: int, scale: float = 1.0) -> None:
        super().__init__(work)
        rows = int(self.rows_per_batch * scale)
        self.inputs = _inputs(
            work,
            self.name,
            seed,
            scale,
            lambda root: gen.write_validate_inputs(root, seed, self.n_batches, rows),
        )
        self.rows_per_op = self.inputs["rows_per_batch"]

    def compile(self, tracer) -> None:
        with tracer.span("base.compile"):
            self.schema = lineitem_schema()
            self.validator = self.schema.to_spark_validator()
        with tracer.span("generators.ddl.to_ddl"):
            self.ddl = self.schema.to_ddl("lineitem_batch")

    def _run(self, spark, tracer, path: str, mode: str, out: str) -> dict:
        # reading a parquet file runs a footer job: the benchmark's own input
        with tracer.span("bench.read"):
            df = spark.read.parquet(path)
        info: dict = {}
        if mode == "validate":
            with tracer.span("generators.spark.validate"):
                kept = self.validator.validate(df, strict=False)
            info["violations"] = {
                v["constraint"]: v["count"] for v in self.validator.last_violations
            }
        elif mode == "validate_lazy":
            with tracer.span("generators.spark.validate_lazy"):
                kept = self.validator.validate_lazy(df)
        else:
            with tracer.span("generators.spark.flag_violations"):
                flagged = self.validator.flag_violations(df)
            kept = flagged.where(F.size("_violations") == 0).drop("_violations")
        tracer.action_start()
        with tracer.span("sink.write"):
            kept.write.mode("overwrite").parquet(out)
        return info

    def warmup(self, spark, tracer) -> None:
        # the JVM is still compiling hot code after one rotation
        for _ in range(self.warm_rotations):
            for mode in self.paths:
                self._run(spark, tracer, self.inputs["warm"], mode, _reset_dir(self.out + "-warm"))

    def op(self, spark, tracer, k: int, rec: OpRecord) -> None:
        path = self.inputs["batches"][(k // 3) % self.n_batches]
        mode = self.paths[k % 3]
        out = _reset_dir(os.path.join(self.out, f"op-{k:04d}"))
        rec.check = {"path": path, "mode": mode, "out": out}
        rec.check.update(self._run(spark, tracer, path, mode, out))

    def check(self, recs: list[OpRecord]) -> dict:
        con = duckdb.connect()
        preds = [p for _, p in LINEITEM_CONSTRAINTS]
        required = [c for c in LINEITEM_COLUMNS if c not in LINEITEM_NULLABLE]
        rnull = " OR ".join(f"{c} IS NULL" for c in required)
        anyf = " OR ".join(f"({p}) IS FALSE" for p in preds)
        anyn = " OR ".join(f"({p}) IS NULL" for p in preds)
        counts_sql = ", ".join(
            f"count(*) FILTER (WHERE NOT ({rnull}) AND ({p}) IS FALSE)" for p in preds
        )
        expected_counts: dict[str, dict[str, int]] = {}
        null_kept: dict[str, list[int]] = {m: [] for m in self.paths}
        for rec in recs:
            if rec.error is not None:
                continue
            c = rec.check
            src = c["path"].replace("'", "''")
            if src not in expected_counts:
                row = con.execute(f"SELECT {counts_sql} FROM read_parquet('{src}')").fetchone()
                expected_counts[src] = {
                    msg: n for (msg, _), n in zip(LINEITEM_CONSTRAINTS, row) if n
                }
            out = os.path.join(c["out"], "*.parquet").replace("'", "''")
            missing, wrong, null_eval, n_out, matched, dups = con.execute(
                f"""
                WITH inp AS (
                    SELECT l_orderkey AS k1, l_linenumber AS k2,
                           coalesce({rnull}, false) AS rnull,
                           coalesce({anyf}, false) AS anyf,
                           coalesce({anyn}, false) AS anyn
                    FROM read_parquet('{src}')),
                outp AS (SELECT l_orderkey AS k1, l_linenumber AS k2
                         FROM read_parquet('{out}'))
                SELECT
                    count(*) FILTER (WHERE o.k1 IS NULL AND NOT i.rnull
                                     AND NOT i.anyf AND NOT i.anyn),
                    count(*) FILTER (WHERE o.k1 IS NOT NULL AND (i.rnull OR i.anyf)),
                    count(*) FILTER (WHERE o.k1 IS NOT NULL AND NOT i.rnull
                                     AND NOT i.anyf AND i.anyn),
                    (SELECT count(*) FROM outp),
                    count(o.k1),
                    (SELECT count(*) - count(DISTINCT (k1, k2)) FROM outp)
                FROM inp i LEFT JOIN outp o ON i.k1 = o.k1 AND i.k2 = o.k2
                """
            ).fetchone()
            problems = []
            if missing or wrong or dups or n_out != matched:
                problems.append(
                    f"kept set: {missing} valid rows missing, {wrong} invalid rows kept, "
                    f"{dups} duplicated, {n_out - matched} not from the input"
                )
            if c["mode"] == "validate" and c["violations"] != expected_counts[src]:
                problems.append(
                    f"violation counts {c['violations']} != reference {expected_counts[src]}"
                )
            c["ok"] = not problems
            c["problems"] = problems
            null_kept[c["mode"]].append(null_eval)
            shutil.rmtree(c["out"], ignore_errors=True)
        con.close()
        return {
            f"generators.spark.null_eval_kept_rows.{m}": (
                sum(v) / len(v) if v else 0.0
            )
            for m, v in null_kept.items()
        }


# ----------------------------------------------------------------------
# dedup_corpus
# ----------------------------------------------------------------------


def doc_schema() -> type:
    class CorpusDoc(Schema):
        doc_id: int = Field(ge=0)
        text: str = Field(min_length=1)

    return CorpusDoc


class DedupCorpus(Workload):
    name = "dedup_corpus"
    min_ops = 2
    n_shards = 2

    def __init__(self, work: str, seed: int, scale: float = 1.0) -> None:
        super().__init__(work)
        self.seed = seed
        self.inputs = _inputs(
            work,
            self.name,
            seed,
            scale,
            lambda root: gen.write_dedup_inputs(root, seed, self.n_shards, scale),
        )
        self.rows_per_op = self.inputs["truth"][0]["n_docs"]

    def compile(self, tracer) -> None:
        with tracer.span("base.compile"):
            self.schema = doc_schema()
            self.read_schema = self.schema.to_spark_schema()
        with tracer.span("generators.ddl.to_ddl"):
            self.ddl = self.schema.to_ddl("corpus_doc")

    def _run(self, spark, tracer, path: str, out: str):
        with tracer.span("bench.read"):
            docs = spark.read.schema(self.read_schema).parquet(path)
        with tracer.span("operators.quality.gopher_pass"):
            gate = quality.gopher_pass("text")
        kept = docs.where(gate)
        # traced runs materialise each stage in its own span (Tracer.stage)
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            cand = tracer.stage(dedup.minhash_lsh_pairs(kept, num_perm=64, bands=32, threshold=0.4))
        with tracer.span("operators.dedup.verify_pairs_jaccard"):
            verified = tracer.stage(dedup.verify_pairs_jaccard(cand, kept, threshold=0.5))
        with tracer.span("operators.dedup.connected_components"):
            comp = dedup.connected_components(verified)
        survivors = (
            kept.join(comp, kept.doc_id == comp.node, "left")
            .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
            .select("doc_id")
        )
        tracer.action_start()
        with tracer.span("sink.write"):
            survivors.write.mode("overwrite").parquet(out)
        return cand, verified

    def warmup(self, spark, tracer) -> None:
        self._run(spark, tracer, self.inputs["warm"], _reset_dir(self.out + "-warm"))

    def op(self, spark, tracer, k: int, rec: OpRecord) -> None:
        shard = k % self.n_shards
        out = _reset_dir(os.path.join(self.out, f"op-{k:04d}"))
        rec.check = {"shard": shard, "out": out}
        cand, verified = self._run(spark, tracer, self.inputs["shards"][shard], out)
        tracer.pause()
        # untraced, this recomputes the pairs outside the operation's clock
        with tracer.span("bench.check"):
            if tracer.tracing:
                rec.check["candidate_pairs"] = cand.count()
            rec.check["pairs"] = [(r[0], r[1]) for r in verified.select("doc_id_a", "doc_id_b").collect()]

    def check(self, recs: list[OpRecord]) -> dict:
        cands, verified, mismatch = [], [], []
        for rec in recs:
            if rec.error is not None:
                continue
            c = rec.check
            truth = self.inputs["truth"][c["shard"]]
            pairs = c.pop("pairs")
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in pairs:
                ra, rb = find(a), find(b)
                if ra != rb:
                    # keep the smaller id as root: it is the component label
                    parent[max(ra, rb)] = min(ra, rb)
            expected = {d for d in truth["gate_pass_ids"] if find(d) == d}
            got = pq.read_table(c["out"], columns=["doc_id"]).column(0).to_pylist()
            extra, missing = len(set(got) - expected), len(expected - set(got))
            dups = len(got) - len(set(got))
            problems = []
            if extra or missing or dups:
                problems.append(
                    f"survivors: {extra} extra, {missing} missing, {dups} duplicated "
                    f"vs union-find over {len(pairs)} verified pairs"
                )
            c["ok"] = not problems
            c["problems"] = problems
            if "candidate_pairs" in c:  # counted in traced runs only
                cands.append(c["candidate_pairs"])
            verified.append(len(pairs))
            mismatch.append(extra + missing + dups)
            shutil.rmtree(c["out"], ignore_errors=True)
        n = max(len(verified), 1)
        out = {
            "operators.dedup.verified_pairs": sum(verified) / n,
            "operators.dedup.survivor_mismatch": sum(mismatch) / n,
        }
        if cands:
            out["operators.dedup.candidate_pairs"] = sum(cands) / len(cands)
            out["operators.dedup.verify_yield"] = sum(verified) / sum(cands)
        return out

    def probe(self, spark) -> dict:
        """``connected_components`` with its default step cap over path
        graphs longer than the cap: each path is one component, so every
        component past one per path is a split the cap left silently. A
        call that raises on reaching its cap splits nothing silently."""
        paths = gen.cap_probe_paths(self.seed)
        edges = spark.createDataFrame(
            [(p[i], p[i + 1]) for p in paths for i in range(len(p) - 1)],
            "doc_id_a long, doc_id_b long",
        )
        try:
            labels = dedup.connected_components(edges).collect()
        except Exception as e:
            extra, said = 0, f"raised {type(e).__name__}: {str(e)[:200]}"
        else:
            extra = len({r["component"] for r in labels}) - len(paths)
            said = f"gave {extra} extra components"
        print(
            f"# {self.name}: connected_components over {len(paths)} paths of "
            f"{[len(p) for p in paths]} nodes {said}"
        )
        return {"operators.dedup.connected_components.cap_extra_components": extra}


# ----------------------------------------------------------------------
# media_shards
# ----------------------------------------------------------------------

IMAGE_KEYS = ("width", "height", "n_channels", "mean_pixel")
AUDIO_KEYS = ("sample_rate", "n_frames")


def manifest_schema() -> type:
    class SampleManifest(Schema):
        sample_key: str = Field(pattern="^[0-9]{9}$")
        n_members: int = Field(ge=4)
        meta: str = Field(min_length=2)

    return SampleManifest


class MediaShards(Workload):
    name = "media_shards"
    min_ops = 3
    n_sets = 2
    shards_per_set = 4
    samples_per_shard = 250

    def __init__(self, work: str, seed: int, scale: float = 1.0) -> None:
        super().__init__(work)
        per_shard = int(self.samples_per_shard * scale)
        self.inputs = _inputs(
            work,
            self.name,
            seed,
            scale,
            lambda root: gen.write_media_inputs(
                root, seed, self.n_sets, self.shards_per_set, per_shard
            ),
        )
        self.rows_per_op = len(self.inputs["truth"][0])
        self.per_shard = per_shard

    def compile(self, tracer) -> None:
        with tracer.span("base.compile"):
            self.schema = manifest_schema()
            self.validator = self.schema.to_spark_validator()
        with tracer.span("generators.ddl.to_ddl"):
            self.ddl = self.schema.to_ddl("sample_manifest")

    def _run(self, spark, tracer, set_dir: str, out: str) -> None:
        with tracer.span("bench.read"):
            shards = spark.read.format("binaryFile").load(set_dir)
        shards = shards.select(
            F.regexp_extract("path", r"shard-(\d+)\.tar$", 1).cast("long").alias("doc_id"),
            F.col("content").alias("payload"),
        )
        # traced runs materialise each stage in its own span (Tracer.stage)
        with tracer.span("operators.webdataset.webdataset_samples"):
            samples = tracer.stage(
                webdataset.webdataset_samples(shards).select(
                    F.col("sample_key").cast("long").alias("doc_id"), "sample_key", "parts"
                )
            )
        with tracer.span("operators.multimodal.decode_image_meta"):
            img = tracer.stage(
                multimodal.decode_image_meta(
                    samples.select(
                        "doc_id", "sample_key", "parts", F.element_at("parts", "png").alias("payload")
                    ),
                    passthrough=["sample_key", "parts"],
                )
            )
        with tracer.span("operators.multimodal.decode_wav_meta"):
            wav = tracer.stage(
                multimodal.decode_wav_meta(
                    samples.select("doc_id", F.element_at("parts", "wav").alias("payload"))
                )
            )
        meta = F.to_json(F.struct(*IMAGE_KEYS, *AUDIO_KEYS))
        curated = (
            img.join(wav.select("doc_id", *AUDIO_KEYS), "doc_id")
            .where(F.col("width").isNotNull() & F.col("n_frames").isNotNull())
            .select(
                "sample_key",
                F.map_concat(
                    "parts", F.create_map(F.lit("meta.json"), F.encode(meta, "utf-8"))
                ).alias("parts"),
            )
        )
        shard_dir = _reset_dir(out + "-shards")
        with tracer.span("operators.webdataset.write_webdataset"):
            packed = webdataset.write_webdataset(curated, samples_per_shard=self.per_shard)
        with tracer.span("operators.webdataset.save_webdataset"):
            webdataset.save_webdataset(packed, shard_dir)
        with tracer.span("bench.read"):
            back = spark.read.format("binaryFile").load(shard_dir)
        back = back.select(
            F.lit(0).cast("long").alias("doc_id"), F.col("content").alias("payload")
        )
        with tracer.span("operators.webdataset.webdataset_samples"):
            samples_back = webdataset.webdataset_samples(back)
        manifest = samples_back.select(
            "sample_key",
            "n_members",
            F.element_at("parts", "meta.json").cast("string").alias("meta"),
        )
        with tracer.span("generators.spark.validate_lazy"):
            manifest = self.validator.validate_lazy(manifest)
        tracer.action_start()
        with tracer.span("sink.write"):
            manifest.write.mode("overwrite").parquet(out)

    def warmup(self, spark, tracer) -> None:
        self._run(spark, tracer, self.inputs["warm"], _reset_dir(self.out + "-warm"))

    def op(self, spark, tracer, k: int, rec: OpRecord) -> None:
        s = k % self.n_sets
        out = _reset_dir(os.path.join(self.out, f"op-{k:04d}"))
        rec.check = {"set": s, "out": out}
        self._run(spark, tracer, self.inputs["sets"][s], out)
        tracer.pause()
        rec.check["shard_bytes"] = sum(
            e.stat().st_size for e in os.scandir(out + "-shards") if e.is_file()
        )

    def check(self, recs: list[OpRecord]) -> dict:
        nulls, shard_bytes = [], []
        for rec in recs:
            if rec.error is not None:
                continue
            c = rec.check
            truth = self.inputs["truth"][c["set"]]
            table = pq.read_table(c["out"], columns=["sample_key", "meta"]).to_pylist()
            got = {r["sample_key"]: json.loads(r["meta"]) for r in table}
            expected = {
                k: v for k, v in truth.items() if v["image"] is not None and v["audio"] is not None
            }
            problems = []
            if len(table) != len(got):
                problems.append(f"{len(table) - len(got)} duplicate sample keys read back")
            if set(got) != set(expected):
                problems.append(
                    f"read-back keys: {len(set(got) - set(expected))} unexpected, "
                    f"{len(set(expected) - set(got))} missing"
                )
            bad = 0
            for key in set(got) & set(expected):
                m, e = got[key], expected[key]
                if any(m[k] != e["image"][k] for k in IMAGE_KEYS if k != "mean_pixel"):
                    bad += 1
                elif abs(m["mean_pixel"] - e["image"]["mean_pixel"]) > 1e-9:
                    bad += 1
                elif any(m[k] != e["audio"][k] for k in AUDIO_KEYS):
                    bad += 1
            if bad:
                problems.append(f"{bad} samples decoded to metadata unlike the generator's")
            c["ok"] = not problems
            c["problems"] = problems
            nulls.append(len(truth) - len(got))
            shard_bytes.append(c["shard_bytes"])
            shutil.rmtree(c["out"], ignore_errors=True)
            shutil.rmtree(c["out"] + "-shards", ignore_errors=True)
        n = max(len(nulls), 1)
        return {
            "operators.multimodal.decode_null_rows": sum(nulls) / n,
            "operators.webdataset.save_webdataset.output_bytes": sum(shard_bytes) / n,
        }


WORKLOADS = {w.name: w for w in (ValidateBatches, DedupCorpus, MediaShards)}
