"""operators/_payload — the shared Arrow stage behind every per-payload
decode stage (``map_payloads``) and fixture builder
(``build_payloads``)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flycatcher_spark.operators._payload import build_payloads, map_payloads

FIELDS = [
    T.StructField("k", T.LongType()),
    T.StructField("tag", T.StringType()),
]


def _rows(payload):
    """``b"bad"`` → None (one null row); ``b"<n>"`` → n rows."""
    text = bytes(payload).decode()
    if text == "bad":
        return None
    return [(k, f"{text}:{k}") for k in range(int(text))]


def _run(spark, data, schema="doc_id long, payload binary", passthrough=()):
    df = spark.createDataFrame(data, schema).coalesce(1)
    out = map_payloads(df, _rows, FIELDS, "doc_id", "payload", passthrough)
    return out, [tuple(r) for r in out.collect()]


class TestNullRowRule:
    def test_null_payload_gives_one_all_null_row_with_its_id(self, spark):
        _, got = _run(spark, [(7, None)])
        assert got == [(7, None, None)]

    def test_row_fn_none_gives_one_all_null_row_with_its_id(self, spark):
        _, got = _run(spark, [(8, bytearray(b"bad"))])
        assert got == [(8, None, None)]

    def test_empty_list_gives_zero_rows(self, spark):
        _, got = _run(spark, [(1, bytearray(b"0")), (2, bytearray(b"1"))])
        assert got == [(2, 0, "1:0")]

    def test_null_id_passes_through_as_null(self, spark):
        _, got = _run(spark, [(None, bytearray(b"2")), (5, bytearray(b"1"))])
        assert got == [(None, 0, "2:0"), (None, 1, "2:1"), (5, 0, "1:0")]


class TestFanOutAlignment:
    SCHEMA = "doc_id long, name string, parts map<string,binary>, payload binary"
    DATA = [
        (10, "a", {"x": bytearray(b"p")}, bytearray(b"0")),
        (11, "b", {"y": bytearray(b"q")}, bytearray(b"1")),
        (12, "c", {"z": bytearray(b"r"), "w": bytearray(b"s")}, bytearray(b"3")),
        (13, "d", None, None),
        (14, "e", {"v": bytearray(b"t")}, bytearray(b"bad")),
    ]

    def _check(self, out, got):
        assert out.columns == ["doc_id", "name", "parts", "k", "tag"]
        assert [(r[0], r[1], r[3], r[4]) for r in got] == [
            (11, "b", 0, "1:0"),
            (12, "c", 0, "3:0"),
            (12, "c", 1, "3:1"),
            (12, "c", 2, "3:2"),
            (13, "d", None, None),
            (14, "e", None, None),
        ]
        parts = [
            None if r[2] is None else {k: bytes(v) for k, v in r[2].items()}
            for r in got
        ]
        assert parts == [
            {"y": b"q"},
            {"z": b"r", "w": b"s"},
            {"z": b"r", "w": b"s"},
            {"z": b"r", "w": b"s"},
            None,
            {"v": b"t"},
        ]

    def test_ids_and_passthrough_repeat_in_input_order(self, spark):
        self._check(
            *_run(spark, self.DATA, self.SCHEMA, passthrough=["name", "parts"])
        )

    def test_alignment_holds_across_arrow_batches(self, spark):
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            self._check(
                *_run(spark, self.DATA, self.SCHEMA, passthrough=["name", "parts"])
            )
        finally:
            spark.conf.set(key, old)

    def test_id_col_in_passthrough_is_not_repeated(self, spark):
        out, got = _run(
            spark, [(3, bytearray(b"1"))], passthrough=["doc_id"]
        )
        assert out.columns == ["doc_id", "k", "tag"]
        assert got == [(3, 0, "1:0")]


class TestSchema:
    EXPECTED = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("name", T.StringType()),
            *FIELDS,
        ]
    )

    def test_empty_input_gives_empty_frame_with_declared_schema(self, spark):
        out, got = _run(
            spark, [], "doc_id long, name string, payload binary", ["name"]
        )
        assert got == []
        assert out.schema == self.EXPECTED

    def test_empty_partitions_add_no_rows(self, spark):
        df = spark.createDataFrame(
            [(1, "a", bytearray(b"2"))], "doc_id long, name string, payload binary"
        ).repartition(4)
        out = map_payloads(df, _rows, FIELDS, "doc_id", "payload", ["name"])
        assert out.schema == self.EXPECTED
        assert sorted(tuple(r) for r in out.collect()) == [
            (1, "a", 0, "2:0"),
            (1, "a", 1, "2:1"),
        ]


class TestBuildPayloads:
    def test_null_id_gives_null_payload(self, spark):
        df = spark.createDataFrame([(3,), (None,), (0,)], "doc_id long")
        out = build_payloads(df, lambda i: b"%d!" % i * i, "doc_id", "blob")
        got = [(r.doc_id, r.blob) for r in out.collect()]
        assert got == [(3, bytearray(b"3!3!3!")), (None, None), (0, bytearray())]

    @pytest.mark.parametrize("n", [1, 5])
    def test_builder_sees_python_ints(self, spark, n):
        df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        out = build_payloads(
            df, lambda i: type(i).__name__.encode(), "doc_id", "payload"
        )
        assert {bytes(r.payload) for r in out.collect()} == {b"int"}
