"""One Arrow-batched row map for the Python payload stages.

The media probes (``multimodal.py``), the WARC walks (``sources/warc.py``)
and the catalog's payload generators (``queries/llmdata.py``) each turn
one input row into zero or more output rows in Python.  They supply only
``rows_of(*row)``, a generator of output tuples in schema order; this
module owns the ``mapInPandas`` loop around it: the input cast, ``None``
payloads arriving as ``b""``, per-task setup, the pandas batch (column
names taken once from the output schema) and the ``on_error`` lane.

Fusion.  ``map_rows`` records the stage that built it on the DataFrame
it returns.  ``map_payloads`` handed that exact DataFrame runs both
stages as ONE ``mapInPandas`` over the upstream input, so a
generate -> probe chain crosses the JVM/Python boundary once per task
instead of once per stage.  It fuses only when

- no select, filter, join or cache was applied to the upstream result;
- the upstream stage has ``on_error="fail"``;
- the input cast is an identity: ``id_col`` is ``long``,
  ``payload_col`` is ``binary`` and every ``extra_cols`` column is a
  ``string`` or ``binary`` column of the upstream schema.

A fused task runs both setups once, materialises each input row's
upstream rows, and hands each upstream tuple, projected to
``(id, payload, *extra)`` with the values the stacked plan would deliver
(``int`` id, ``bytes`` payload, ``b""`` for NULL), to the downstream
``rows_of`` under the downstream's own ``on_error`` lane: quarantine stays
all-or-nothing per upstream tuple.  The fused result is itself a stage
(q161's generate -> resize -> probe is one node), and its plan node is
named after every stage in it (``MapInPandas gen+jpeg_probe(...)``).  In
every other case the stages stack as separate plan nodes.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator
from typing import Any, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructType

__all__ = ["map_payloads", "map_rows"]


class _Link(NamedTuple):
    """One ``rows_of`` of a stage; ``take`` projects the previous link's
    output tuple onto this link's input (``None``: the stage's input row)."""

    rows_of: Callable[..., Iterable[tuple]]
    setup: Callable[[], Any] | None
    on_error: str
    catch: type[Exception]
    tag_row: Callable[[Any, Exception], tuple] | None
    take: Callable[[tuple], tuple] | None = None


class _Stage(NamedTuple):
    """What ``map_rows``/``map_payloads`` record on the frame they return."""

    src: DataFrame
    schema: StructType
    links: tuple[_Link, ...]
    name: str


def _link(rows_of, setup, on_error, catch, tag_row) -> _Link:
    lanes = ("fail", "skip", "tag") if tag_row is not None else ("fail", "skip")
    if on_error not in lanes:
        raise ValueError(f"on_error must be one of {lanes}, got {on_error!r}")
    return _Link(rows_of, setup, on_error, catch, tag_row)


def _lane(link: _Link) -> Callable[[tuple, list], bool]:
    """Per task: ``rows(row, out)`` appends ``row``'s output rows, or its
    tag row, to ``out`` and says whether it appended a tag row."""
    fn = link.rows_of if link.setup is None else functools.partial(link.rows_of, link.setup())
    caught = () if link.on_error == "fail" else link.catch

    def rows(row: tuple, out: list) -> bool:
        try:
            got = list(fn(*row))
        except caught as e:
            if link.on_error == "tag":
                out.append(link.tag_row(row[0], e))
                return True
            return False
        out += got
        return False

    return rows


def _plan(stage: _Stage) -> DataFrame:
    names = stage.schema.fieldNames()
    binary = [isinstance(f.dataType, BinaryType) for f in stage.src.schema.fields]
    links = stage.links  # the closure ships to the workers; the frames stay here

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lanes = [(link.take, _lane(link)) for link in links]
        for pdf in batches:
            cols = [
                [b"" if v is None else bytes(v) for v in pdf[c]] if is_bin
                else pdf[c].tolist()
                for c, is_bin in zip(pdf.columns, binary)
            ]
            out, tagged = [], False
            for row in zip(*cols):
                level = [row]
                for take, rows in lanes:
                    nxt = []
                    for t in level:
                        tagged |= rows(t if take is None else take(t), nxt)
                    level = nxt
                out += level
            # object dtype once a tag row is in: pandas would turn an int
            # column holding None into float64/NaN, and float64 cannot
            # hold every int64 (2**53 + 1 comes back as 2**53)
            yield pd.DataFrame(out, columns=names, dtype=object if tagged else None)

    run.__name__ = stage.name
    out = stage.src.mapInPandas(run, schema=stage.schema)
    out._rowmap_stage = stage
    return out


def _name(rows_of: Callable) -> str:
    # the plan node carries the stage's name: MapInPandas jpeg_probe(...)
    return rows_of.__qualname__.split(".")[0]


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
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    link = _link(rows_of, setup, on_error, catch, tag_row)
    return _plan(_Stage(df, schema, (link,), _name(rows_of)))


def _identity_take(
    schema: StructType, id_col: str, payload_col: str, extra_cols: tuple[str, ...]
) -> Callable[[tuple], tuple] | None:
    """Project an upstream tuple onto ``(id, payload, *extra)`` as the
    stacked plan's cast and batch would deliver it, or ``None`` when that
    cast is not an identity on ``schema``."""
    names = schema.fieldNames()
    types = {f.name: f.dataType for f in schema.fields}
    if (
        len(types) != len(names)
        or not isinstance(types.get(id_col), LongType)
        or not isinstance(types.get(payload_col), BinaryType)
        or not all(isinstance(types.get(c), (StringType, BinaryType)) for c in extra_cols)
    ):
        return None
    i, j = names.index(id_col), names.index(payload_col)
    extra = [(names.index(c), isinstance(types[c], BinaryType)) for c in extra_cols]

    def take(t: tuple) -> tuple:
        v, p = t[i], t[j]
        return (
            None if v is None else int(v),
            b"" if p is None else bytes(p),
            *[(b"" if t[k] is None else bytes(t[k])) if is_bin else t[k] for k, is_bin in extra],
        )

    return take


def map_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    schema: str | StructType,
    rows_of: Callable[..., Iterable[tuple]],
    *,
    extra_cols: tuple[str, ...] = (),
    setup: Callable[[], Any] | None = None,
    on_error: str = "fail",
    catch: type[Exception] = Exception,
    tag_row: Callable[[Any, Exception], tuple] | None = None,
) -> DataFrame:
    """``map_rows`` over ``(id_col as long, payload_col as binary,
    *extra_cols)``: ``rows_of(id, payload, *extra)``.  Fused into the
    ``map_rows`` stage that built ``df`` when the module's fusion rule
    holds."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    link = _link(rows_of, setup, on_error, catch, tag_row)
    up = vars(df).get("_rowmap_stage")
    if up is not None and not df.is_cached and up.links[-1].on_error == "fail":
        take = _identity_take(up.schema, id_col, payload_col, extra_cols)
        if take is not None:
            links = (*up.links, link._replace(take=take))
            return _plan(_Stage(up.src, schema, links, f"{up.name}+{_name(rows_of)}"))
    cols = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(payload_col).cast(BinaryType()).alias(payload_col),
        *[F.col(c).alias(c) for c in extra_cols],
    )
    return _plan(_Stage(cols, schema, (link,), _name(rows_of)))
