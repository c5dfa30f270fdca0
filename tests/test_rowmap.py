"""The one row-map loop behind every Python payload stage
(``operators/rowmap.py``), each case against a stand-in ``rows_of``."""

from __future__ import annotations

import pytest

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
