"""Arrow plumbing shared by every per-payload stage and fixture builder.

A decode stage is a row function plus one :func:`map_payloads` call:
the helper owns the ``mapInPandas`` batch loop, the declared output
schema and the null-row rule, so every stage fans out, keeps ids and
treats bad payloads the same way. A fixture builder is an id → bytes
function plus one :func:`build_payloads` call.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

#: ``row_fn(payload)`` result: ``None`` for one all-null row, or a list
#: of 0..n row tuples matching the declared fields
Rows = list[tuple] | None


def map_payloads(
    df: DataFrame,
    row_fn: Callable[[Any], Rows],
    fields: Sequence[T.StructField],
    id_col: str,
    payload_col: str,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Run ``row_fn`` over every payload of ``df[payload_col]`` inside one
    map-only Arrow stage with output schema ``(id_col long,
    *passthrough, *fields)``.

    The row rule: a null payload, or ``row_fn`` returning ``None``,
    gives ONE all-null row keyed by the input id, so a bad payload stays
    visible and attributable; a list gives one output row per tuple (an
    empty list drops the input row). The id and every ``passthrough``
    column repeat per output row, in input order. Payloads never leave
    the executors.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, b"ab"), (2, None), (3, b"")], "doc_id long, payload binary")
        >>> fields = [T.StructField("byte", T.LongType())]
        >>> out = map_payloads(df, lambda p: [(b,) for b in p], fields,
        ...                    "doc_id", "payload")
        >>> [tuple(r) for r in out.collect()]
        [(1, 97), (1, 98), (2, None)]
    """
    passthrough = [c for c in passthrough if c != id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            *(df.schema[c] for c in passthrough),
            *fields,
        ]
    )
    names = [f.name for f in fields]
    null_row = (None,) * len(names)
    keyed = [id_col, *passthrough]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            counts = np.ones(len(pdf), dtype=np.int64)
            for k, p in enumerate(pdf[payload_col]):
                got = None if p is None else row_fn(p)
                if got is None:
                    rows.append(null_row)
                else:
                    rows.extend(got)
                    counts[k] = len(got)
            out = pd.DataFrame(rows, columns=names)
            for j, c in enumerate(keyed):
                out.insert(j, c, np.repeat(pdf[c].to_numpy(), counts))
            yield out

    return df.select(*keyed, payload_col).mapInPandas(process, schema=schema)


def build_payloads(
    df: DataFrame,
    build: Callable[[int], bytes],
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """Add ``payload_col`` holding ``build(id)`` for every row's
    ``id_col`` (a null id gives a null payload) — the one scaffold behind
    every deterministic ``make_*_payload`` fixture builder.

    Examples
    --------
        >>> df = spark.createDataFrame([(2,), (None,)], "doc_id long")
        >>> out = build_payloads(df, lambda i: b"x" * i, "doc_id", "payload")
        >>> [r.payload and bytes(r.payload) for r in out.collect()]
        [b'xx', None]
    """

    @pandas_udf("binary")
    def _build(ids: pd.Series) -> pd.Series:
        return pd.Series([None if pd.isna(i) else build(int(i)) for i in ids])

    return df.withColumn(payload_col, _build(F.col(id_col)))
