"""The one row-map loop behind every Python payload stage
(``operators/rowmap.py``), each case against a stand-in ``rows_of``."""

from __future__ import annotations

import sys

import pytest
from pyspark import cloudpickle

from logistics_data_pipeline_project_spark.operators.rowmap import (
    map_payloads,
    map_rows,
)

OUT = "id long, k int, n long"


def _payloads(spark, rows):
    return spark.createDataFrame(rows, "id long, payload binary")


def test_none_payload_arrives_as_empty_bytes(spark):
    def rows_of(_id, payload):
        yield _id, int(isinstance(payload, bytes)), len(payload)

    df = _payloads(spark, [(1, None), (2, bytearray(b"abc"))])
    got = sorted(map(tuple, map_payloads(df, "id", "payload", OUT, rows_of).collect()))
    assert got == [(1, 1, 0), (2, 1, 3)]


def test_empty_partitions_give_typed_empty_result(spark):
    def rows_of(_id, payload):
        yield _id, 0, len(payload)

    df = _payloads(spark, [(1, bytearray(b"x"))]).repartition(4)
    out = map_payloads(df, "id", "payload", OUT, rows_of)
    assert out.schema.simpleString() == "struct<id:bigint,k:int,n:bigint>"
    assert [tuple(r) for r in out.collect()] == [(1, 0, 1)]
    none = map_payloads(df.filter("id < 0"), "id", "payload", OUT, rows_of)
    assert none.collect() == []


def test_one_input_many_rows_with_per_task_setup(spark):
    def setup():
        return 10

    def rows_of(base, doc_id):
        for k in range(doc_id):
            yield doc_id, k, base + k

    docs = spark.createDataFrame([(0,), (1,), (3,)], "doc_id long")
    got = sorted(map(tuple, map_rows(docs, OUT, rows_of, setup=setup).collect()))
    assert got == [(1, 0, 10), (3, 0, 10), (3, 1, 11), (3, 2, 12)]


BIG = 2**53 + 1  # exact as int64, rounds to 2**53 as float64


def test_failing_payload_is_all_or_nothing(spark):
    def rows_of(_id, payload):
        yield _id, 0, BIG
        if payload == b"bad":
            raise ValueError("corrupt after one row")
        yield _id, 1, len(payload)

    def tag_row(_id, e):
        # NULL ints next to BIG in the same batch: the batch must reach
        # Arrow without a float64 detour
        return _id, None, None

    # one partition, so the tag row shares a batch with the good rows
    df = _payloads(spark, [(1, bytearray(b"ok")), (2, bytearray(b"bad"))]).coalesce(1)

    def run(on_error, catch=ValueError):
        out = map_payloads(
            df, "id", "payload", OUT, rows_of,
            on_error=on_error, catch=catch, tag_row=tag_row,
        )
        return sorted(map(tuple, out.collect()), key=repr)

    assert run("skip") == [(1, 0, BIG), (1, 1, 2)]
    assert run("tag") == [(1, 0, BIG), (1, 1, 2), (2, None, None)]
    with pytest.raises(Exception, match="corrupt after one row"):
        run("fail")
    # only the operator's exception class is a quarantine lane
    with pytest.raises(Exception, match="corrupt after one row"):
        run("skip", catch=KeyError)


def test_bad_on_error_raises_before_any_job(spark, jobs_in_group):
    def rows_of(_id, payload):
        yield _id, 0, 0

    df = _payloads(spark, [(1, bytearray(b"x"))])
    errors = []

    def build():
        for on_error, tag_row in (("explode", lambda i, e: (i, 0, 0)), ("tag", None)):
            with pytest.raises(ValueError, match="on_error"):
                map_payloads(
                    df, "id", "payload", OUT, rows_of,
                    on_error=on_error, tag_row=tag_row,
                )
            errors.append(on_error)

    grouped, ungrouped = jobs_in_group(build)
    assert errors == ["explode", "tag"]
    assert grouped == set() and ungrouped == set()


# --- generate -> probe fusion -------------------------------------------

# the stand-in stages below live at module level: ship them to the
# workers by value, since the workers cannot import this test module
cloudpickle.register_pickle_by_value(sys.modules[__name__])

GEN = "doc_id long, payload binary, note string"
NULL_ID, BAD_ID = 51, 21


def _gen(doc_id):
    # 0, 1 or 2 payloads per input row; one NULL payload
    for k in range(doc_id % 3):
        pid = doc_id * 10 + k
        yield pid, None if pid == NULL_ID else b"p%d" % pid, f"n{pid}"


def _probe(_id, payload):
    yield _id, 0, len(payload)
    if payload == b"p%d" % BAD_ID:
        raise ValueError("bad payload")
    yield _id, 1, int(isinstance(payload, bytes))


def _tag(_id, e):
    return _id, -1, -1


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fused_and_stacked(spark, gen_kwargs=None, gen_schema=GEN, **probe_kwargs):
    docs = spark.range(0, 8, numPartitions=2).withColumnRenamed("id", "doc_id")
    gen = map_rows(docs, gen_schema, _gen, **(gen_kwargs or {}))
    fused = map_payloads(gen, "doc_id", "payload", OUT, _probe, **probe_kwargs)
    # any projection in between keeps the two stages apart
    stacked = map_payloads(gen.select("*"), "doc_id", "payload", OUT, _probe, **probe_kwargs)
    assert _physical(stacked).count("MapInPandas") == 2
    return fused, stacked


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _clean(pid, n):
    return [(pid, 0, n), (pid, 1, 1)]


GOOD = [
    *_clean(10, 3), *_clean(20, 3), *_clean(40, 3), *_clean(50, 3),
    *_clean(NULL_ID, 0), *_clean(70, 3),
]


def test_fused_chain_is_one_node_with_the_stacked_rows(spark):
    fused, stacked = _fused_and_stacked(spark, on_error="skip", catch=ValueError)
    plan = _physical(fused)
    assert plan.count("MapInPandas") == 1, plan
    assert "MapInPandas _gen+_probe(" in plan, plan
    # several payloads per input row; the NULL payload arrives as b""
    assert _rows(fused) == _rows(stacked) == GOOD


def test_fused_quarantine_is_per_upstream_tuple(spark):
    # the failing payload gives only its tag row, its sibling payload
    # (20) of the same input row keeps all of its rows
    fused, stacked = _fused_and_stacked(spark, on_error="tag", catch=ValueError, tag_row=_tag)
    assert _physical(fused).count("MapInPandas") == 1
    assert _rows(fused) == _rows(stacked) == sorted([*GOOD, (BAD_ID, -1, -1)])

    fused, stacked = _fused_and_stacked(spark)
    assert _physical(fused).count("MapInPandas") == 1
    for df in (fused, stacked):
        with pytest.raises(Exception, match="bad payload"):
            df.collect()


def test_fused_setups_run_once_per_task(spark):
    import uuid

    def probe(token, _id, payload, note):
        yield _id, note, token

    docs = spark.range(0, 8, numPartitions=2).withColumnRenamed("id", "doc_id")
    gen = map_rows(docs, "doc_id long, payload binary, note string, up string",
                   lambda token, doc_id: ((pid, pl, note, token) for pid, pl, note in _gen(doc_id)),
                   setup=lambda: uuid.uuid4().hex)
    out = map_payloads(gen, "doc_id", "payload", "id long, note string, down string",
                       probe, extra_cols=("note",), setup=lambda: uuid.uuid4().hex)
    assert _physical(out).count("MapInPandas") == 1
    rows = out.collect()
    assert sorted((r["id"], r["note"]) for r in rows) == [
        (p, f"n{p}") for p in (10, 20, 21, 40, 50, NULL_ID, 70)
    ]
    # two tasks: one token per task from each setup, not one per row
    assert len({r["down"] for r in rows}) == 2


def test_no_fusion_unless_upstream_fails_loudly_and_cast_is_identity(spark):
    # an upstream quarantine lane, or a payload column that needs a cast,
    # keeps the stages stacked
    fused, stacked = _fused_and_stacked(spark, gen_kwargs={"on_error": "skip"}, on_error="skip")
    assert _physical(fused).count("MapInPandas") == 2
    assert _rows(fused) == _rows(stacked) == GOOD

    def gen_text(doc_id):
        for pid, payload, note in _gen(doc_id):
            yield pid, None if payload is None else payload.decode(), note

    docs = spark.range(0, 8, numPartitions=2).withColumnRenamed("id", "doc_id")
    text = map_rows(docs, "doc_id long, payload string, note string", gen_text)
    out = map_payloads(text, "doc_id", "payload", OUT, _probe, on_error="skip")
    assert _physical(out).count("MapInPandas") == 2
    assert _rows(out) == GOOD

    # a cached upstream is read from the cache, not recomputed in a fused node
    gen = map_rows(docs, GEN, _gen).cache()
    try:
        out = map_payloads(gen, "doc_id", "payload", OUT, _probe, on_error="skip")
        assert "+_probe" not in _physical(out)
        assert _rows(out) == GOOD
    finally:
        gen.unpersist()
