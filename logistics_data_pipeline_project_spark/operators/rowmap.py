"""One Arrow-batched row map for the Python payload stages.

The media probes (``multimodal.py``), the WARC walks (``sources/warc.py``)
and the catalog's payload generators (``queries/llmdata.py``) each turn
one input row into zero or more output rows in Python.  They supply only
``rows_of(*row)``, a generator of output tuples in schema order; this
module owns the ``mapInPandas`` loop around it: the input cast, ``None``
payloads arriving as ``b""``, per-task setup, the pandas batch (column
names taken once from the output schema) and the ``on_error`` lane.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructType

__all__ = ["map_payloads", "map_rows"]


def map_rows(
    df: DataFrame,
    schema: str | StructType,
    rows_of: Callable[..., Iterable[tuple]],
    *,
    setup: Callable[[], Any] | None = None,
    on_error: str = "fail",
    catch: type[Exception] = Exception,
    tag_row: Callable[[Any, Exception], tuple] | None = None,
) -> DataFrame:
    """``mapInPandas`` over ``df`` calling ``rows_of(*row)`` per input
    row; binary inputs arrive as ``bytes`` (``b""`` for NULL).

    ``setup`` runs once per task and its result is passed to ``rows_of``
    as the first argument (per-task tables).  ``on_error`` decides what
    an input whose ``rows_of`` raises ``catch`` does: ``"fail"``
    re-raises, ``"skip"`` drops it, ``"tag"`` emits
    ``tag_row(first_value, exc)`` in its place and is accepted only with
    a ``tag_row``.  An input contributes all of its rows or none."""
    lanes = ("fail", "skip", "tag") if tag_row is not None else ("fail", "skip")
    if on_error not in lanes:
        raise ValueError(f"on_error must be one of {lanes}, got {on_error!r}")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    binary = [isinstance(f.dataType, BinaryType) for f in df.schema.fields]
    caught = () if on_error == "fail" else catch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = rows_of if setup is None else functools.partial(rows_of, setup())
        for pdf in batches:
            cols = [
                [b"" if v is None else bytes(v) for v in pdf[c]] if is_bin
                else pdf[c].tolist()
                for c, is_bin in zip(pdf.columns, binary)
            ]
            out, tagged = [], False
            for row in zip(*cols):
                try:
                    rows = list(fn(*row))
                except caught as e:
                    if on_error == "tag":
                        out.append(tag_row(row[0], e))
                        tagged = True
                    continue
                out += rows
            # object dtype once a tag row is in: pandas would turn an int
            # column holding None into float64/NaN, and float64 cannot
            # hold every int64 (2**53 + 1 comes back as 2**53)
            yield pd.DataFrame(out, columns=names, dtype=object if tagged else None)

    # the plan node carries the stage's name: MapInPandas jpeg_probe(...)
    run.__name__ = rows_of.__qualname__.split(".")[0]
    return df.mapInPandas(run, schema=schema)


def map_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    schema: str | StructType,
    rows_of: Callable[..., Iterable[tuple]],
    *,
    extra_cols: tuple[str, ...] = (),
    **kwargs: Any,
) -> DataFrame:
    """``map_rows`` over ``(id_col as long, payload_col as binary,
    *extra_cols)``: ``rows_of(id, payload, *extra)``."""
    cols = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(payload_col).cast(BinaryType()).alias(payload_col),
        *[F.col(c).alias(c) for c in extra_cols],
    )
    return map_rows(cols, schema, rows_of, **kwargs)
