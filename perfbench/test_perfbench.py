"""Tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench -q          # from the repository root

The smoke tests run every workload once on tiny inputs (sf0.001, a
2-batch ``medallion_refresh``), traced and untraced, including the ones
``BENCHMARK.json`` leaves out.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import probe  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# ---------------------------------------------------------------------------
# process-tree attribution
# ---------------------------------------------------------------------------


def _stat(root, pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    d = root / str(pid)
    d.mkdir()
    rest = [ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1, 0]
    (d / "stat").write_text(f"{pid} ({comm}) S " + " ".join(map(str, rest)) + "\n")


def test_tree_cpu_attributes_by_parentage(tmp_path):
    tck = probe.CLK_TCK
    # the benchmark (100) -> JVM (101) -> Python daemon (102) -> worker (103)
    _stat(tmp_path, 100, "python3", 1, 1 * tck, 1 * tck)
    _stat(tmp_path, 101, "java", 100, 10 * tck, 2 * tck)
    _stat(tmp_path, 102, "python3 -m pyspark.daemon", 101, 1 * tck, 0, cutime=3 * tck)
    _stat(tmp_path, 103, "python (worker) x", 102, 2 * tck, 0)
    # a java whose name says "python" and a python outside the tree
    _stat(tmp_path, 200, "python java", 1, 50 * tck, 0)
    _stat(tmp_path, 201, "pyspark.daemon", 200, 50 * tck, 0)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped

    split = probe.tree_cpu(100, root=str(tmp_path))
    assert split == {"driver": 2.0, "jvm": 12.0, "pyworker": 6.0}
    assert probe.jvm_pids(100, root=str(tmp_path)) == [101]
    assert sorted(probe.descendants(100, root=str(tmp_path))) == [101, 102, 103]


def test_metric_value_parses_sql_metric_strings():
    assert probe._metric_value("1.5 MiB", "bytes") == 1.5 * 1024**2
    assert probe._metric_value("total (min, med, max)\n2.0 s (0 ms, 1 s, 1 s)", "ms") == 2.0
    assert probe._metric_value("250 ms", "ms") == 0.25


def test_steal_share_is_the_stolen_part_of_wanted_cpu():
    before = {"total": 0.0, "busy": 10.0, "steal": 1.0}
    after = {"total": 0.0, "busy": 13.0, "steal": 2.0}
    assert probe.steal_share(before, after) == pytest.approx(0.25)
    assert probe.steal_share(after, after) == 0.0


# ---------------------------------------------------------------------------
# frozen, reproducible inputs
# ---------------------------------------------------------------------------


def test_listed_queries_exist_in_registry():
    from logistics_data_pipeline_project_spark.queries import REGISTRY

    for name in ("marts", "curation", "dedup_scaled"):
        spec = workloads.SPEC[name]
        listed = spec["queries"] + spec["timed"] + spec["warmup"]
        assert [q for q in listed if q not in REGISTRY] == []
        assert set(spec["timed"]) <= set(spec["queries"])
    assert len(workloads.SPEC["marts"]["queries"]) == 114
    assert len(workloads.SPEC["curation"]["queries"]) == 44


def test_benchmark_workloads_are_defined():
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def _medallion_bytes(seed):
    boot, changes = gen.medallion_inputs(seed, rows=200, batches=2)
    out = []
    for batch in [boot] + changes:
        for t in gen.MEDALLION_KEYS:
            out.append(gen.table_bytes(batch[t]))
        out.append(gen.shipments_json(batch["shipments"]))
    return out


def test_medallion_generator_is_seeded():
    a, b, c = _medallion_bytes(1), _medallion_bytes(1), _medallion_bytes(2)
    assert a == b
    assert a != c
    assert len(a) == 3 * (len(gen.MEDALLION_KEYS) + 1)


def test_catalog_generator_is_seeded(tmp_path):
    def files(seed, name):
        d = tmp_path / name
        gen.write_catalog_tables(str(d), 0.001, seed)
        return {f: (d / f).read_bytes() for f in sorted(os.listdir(d))}

    a, b, c = files(3, "a"), files(3, "b"), files(4, "c")
    assert a == b
    assert a != c
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.CATALOG_TABLES)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _assert_nested(span_list):
    by_id = {s.id: s for s in span_list}
    for s in span_list:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end, (p, s)
    for name, t in spans.self_times(span_list).items():
        assert t >= -1e-9, name


def test_spans_nest_and_self_time():
    tr = spans.Tracer(enabled=True)
    tr.unit = "u"
    with tr.span("unit"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    _assert_nested(tr.spans)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    off = spans.Tracer(enabled=False)
    with off.span("x") as sp:
        pass
    assert off.spans == [] and sp.dur >= 0


# ---------------------------------------------------------------------------
# smoke: every workload once on tiny inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, done.stderr[-3000:]
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], (int, float))

    runs = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-seed1-trace{trace}-*.json")
    with open(max(glob.glob(runs), key=os.path.getmtime)) as f:
        payload = json.load(f)
    assert payload["workload"] == workload and payload["seed"] == 1
    if not trace:
        return
    _assert_nested([spans.Span(**s) for s in payload["spans"]])
    for row in payload["per_unit"]:
        assert "error" not in row
        assert set(probe.LAYER_KEYS) <= set(row)
        if workload == "marts":
            assert row["python.nodes"] == 0, row["unit"]
        if workload == "curation":
            assert row["python.nodes"] > 0, row["unit"]
