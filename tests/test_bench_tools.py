"""Unit tests for the bench tooling itself: the SCALE_CURVE --update
merge (points measured in one shared session per multiple store a
scalar load1, which once crashed the fold AFTER an expensive sweep), the
per-query CPU measurement in bench.py (``_PyWorkerCpu`` on /proc, and
``_GroupCpu`` on Spark's REST API in a subprocess session with the UI
on), and a guard against hard-coded checkout paths in the tools."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _merge():
    from bench_scale import _merge_points

    return _merge_points


def test_merge_points_scalar_load1_old_side():
    """A pre-existing shared-session point (scalar load1) must merge
    with a fresh per-query point without AttributeError, fanning the
    scalar out to every query it stamped."""
    merged = {
        "x20": {
            "queries": {"qa": 5.0, "qb": 2.0},
            "queries_cpu": {"qa": 10.0},
            "load1": 0.7,  # shared-session shape: ONE scalar
            "x2_warm": True,
            "total": 7.0,
        }
    }
    fresh = {
        "x20": {
            "queries": {"qa": 4.0, "qb": 3.0},
            "queries_cpu": {"qa": 8.0, "qb": 1.5},
            "load1": {"qa": 0.2, "qb": 1.5},
            "x2_warm": True,
            "total": 7.0,
        },
        "x40": {
            "queries": {"qa": 9.0},
            "queries_cpu": {"qa": 20.0},
            "load1": {"qa": 0.1},
            "x2_warm": False,
            "total": 9.0,
        },
    }
    _merge()(merged, fresh)
    pt = merged["x20"]
    assert pt["queries"] == {"qa": 4.0, "qb": 2.0}
    assert pt["queries_cpu"] == {"qa": 8.0, "qb": 1.5}
    # qa: min(0.7 scalar, 0.2) ; qb: min(0.7 scalar, 1.5)
    assert pt["load1"] == {"qa": 0.2, "qb": 0.7}
    assert pt["total"] == 6.0
    # brand-new point passes through untouched
    assert merged["x40"]["queries"] == {"qa": 9.0}
    assert merged["x40"]["x2_warm"] is False
    # the merged curve must stay strict-JSON serializable (no inf/nan
    # from missing-side min folds)
    assert "inf" not in json.dumps(merged, allow_nan=False).lower()


def test_merge_points_scalar_load1_fresh_side():
    """The mirror case: folding a shared-session re-measurement into
    a per-query curve (pt's load1 is the scalar)."""
    merged = {
        "x20": {
            "queries": {"qa": 5.0},
            "load1": {"qa": 0.9},
            "x2_warm": True,
            "total": 5.0,
        }
    }
    fresh = {
        "x20": {
            "queries": {"qa": 6.0, "qc": 1.0},
            "load1": 0.3,
            "x2_warm": True,
            "total": 7.0,
        }
    }
    _merge()(merged, fresh)
    pt = merged["x20"]
    assert pt["queries"] == {"qa": 5.0, "qc": 1.0}
    assert pt["load1"] == {"qa": 0.3, "qc": 0.3}
    assert pt["total"] == 6.0


def test_merge_points_no_load1_anywhere():
    """Very old curves carry no load stamps at all — the merge must not
    invent inf entries for them."""
    merged = {"x5": {"queries": {"qa": 2.0}, "total": 2.0}}
    fresh = {"x5": {"queries": {"qa": 1.5}, "total": 1.5}}
    _merge()(merged, fresh)
    assert merged["x5"]["queries"] == {"qa": 1.5}
    assert "load1" not in merged["x5"]
    json.dumps(merged, allow_nan=False)


def test_py_cpu_probe_self_consistent():
    """The /proc reader bench.py uses parses this host's stat lines (ppid
    of this process must match os.getppid()), and ``_PyWorkerCpu`` inits
    and yields non-negative deltas."""
    import bench
    from perfbench.probe import read_proc

    ppid, cpu = read_proc()[os.getpid()]
    assert ppid == os.getppid()
    assert cpu >= 0.0

    probe = bench._PyWorkerCpu()
    assert probe.error is None
    d = probe.delta()
    # this process has launched no JVM, so it has no Python workers; the
    # clamp forbids negatives in any case
    assert d is not None and d >= 0.0


def _stat(root, pid, ppid, ticks, cticks=0):
    d = root / str(pid)
    d.mkdir(exist_ok=True)
    rest = [ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, ticks, 0, cticks, 0, 20, 0, 1, 0]
    (d / "stat").write_text(f"{pid} (p) S " + " ".join(map(str, rest)) + "\n")


def test_py_cpu_reaped_daemon_is_zero_not_negative(tmp_path, monkeypatch):
    """When the JVM reaps a daemon, the daemon tree's time moves to the
    JVM's reaped-children counters and leaves the ``pyworker`` role: the
    reading falls, and the delta must clamp to 0, not go negative."""
    import shutil

    import bench
    from perfbench.probe import CLK_TCK, tree_cpu

    def tree(daemon_alive: bool, new_daemon: int = 0):
        shutil.rmtree(tmp_path, ignore_errors=True)
        tmp_path.mkdir()
        _stat(tmp_path, 100, 1, CLK_TCK)  # the bench
        if daemon_alive:
            _stat(tmp_path, 101, 100, 10 * CLK_TCK)  # the JVM
            _stat(tmp_path, 102, 101, 3 * CLK_TCK, cticks=2 * CLK_TCK)  # daemon
            _stat(tmp_path, 103, 102, 4 * CLK_TCK)  # a worker
        else:  # reaped: 9 s moved to the JVM's cutime
            _stat(tmp_path, 101, 100, 10 * CLK_TCK, cticks=9 * CLK_TCK)
        if new_daemon:
            _stat(tmp_path, 104, 101, new_daemon * CLK_TCK)

    monkeypatch.setattr(bench, "tree_cpu", lambda: tree_cpu(100, root=str(tmp_path)))
    tree(daemon_alive=True)
    probe = bench._PyWorkerCpu()
    assert probe.delta() == 0.0  # nothing ran since the baseline (9 s)
    tree(daemon_alive=False)
    assert probe.delta() == 0.0
    tree(daemon_alive=False, new_daemon=2)  # a fresh daemon's CPU counts
    assert probe.delta() == 2.0
    assert probe.error is None


_GROUP_CPU_SCRIPT = r"""
import json, sys, threading
sys.path.insert(0, sys.argv[1])
import bench
from logistics_data_pipeline_project_spark.session import get_spark

spark = get_spark(app_name="group-cpu-test", master="local[2]",
                  extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"})
cpu, py = bench._GroupCpu(spark), bench._PyWorkerCpu()
sc = spark.sparkContext

def burn(batches):
    for b in batches:
        sum(i * i for i in range(300_000))
        yield b

def measure(group, action):
    cpu.start(group)
    action()
    d = cpu.stop(group)
    return {"jobs": sorted(d["jobs"]), "cpu_s": d["cpu_ns"] / 1e9,
            "py_cpu_s": py.delta(),
            "group_jobs": sorted(sc.statusTracker().getJobIdsForGroup(group))}

jvm = lambda: spark.range(0, 3_000_000, numPartitions=4).selectExpr(
    "sum(id * 7 % 13) AS s").write.format("noop").mode("overwrite").save()

def jvm_and_stray():  # a plain thread does not inherit the job group
    t = threading.Thread(target=lambda: spark.range(10).count())
    t.start()
    t.join()
    jvm()

arrow = lambda: spark.range(0, 40_000, numPartitions=4).mapInArrow(
    burn, "id long").write.format("noop").mode("overwrite").save()
out = {g: measure(g, a) for g, a in (("jvm", jvm_and_stray), ("arrow", arrow), ("jvm2", jvm))}
out["errors"] = [cpu.error, py.error]
out["ungrouped"] = sorted(sc.statusTracker().getJobIdsForGroup(None))
print(json.dumps(out))
spark.stop()
"""


def test_group_cpu_attributes_each_query_to_its_own_jobs():
    """A session with the UI on runs a pure-JVM query, a ``mapInArrow``
    query and the JVM query again through bench.py's per-query
    measurement: each reads executor CPU, only the Arrow query reads
    Python-worker CPU, and each query's jobs are exactly its own job
    group's, plus, for the first, a job with no group that a thread it
    started ran — none of one query's jobs is attributed to another."""
    proc = subprocess.run(
        [sys.executable, "-c", _GROUP_CPU_SCRIPT, REPO],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["errors"] == [None, None]
    jvm, arrow, jvm2 = out["jvm"], out["arrow"], out["jvm2"]
    stray = out["ungrouped"]
    assert stray
    assert jvm["jobs"] == sorted(jvm["group_jobs"] + stray)
    for q in (arrow, jvm2):
        assert q["jobs"] and q["jobs"] == q["group_jobs"]
    for q in (jvm, arrow, jvm2):
        assert q["cpu_s"] > 0
    assert not set(jvm["jobs"]) & set(arrow["jobs"])
    assert not set(arrow["jobs"]) & set(jvm2["jobs"])
    assert arrow["py_cpu_s"] > 0
    assert jvm["py_cpu_s"] == 0.0  # no Python worker exists yet
    assert jvm2["py_cpu_s"] < 0.05  # idle workers cost nothing


def test_no_hardcoded_checkout_path():
    """Scripts under tools/ and tests/ and bench.py locate the repo from
    ``__file__``: one that hard-codes a checkout path imports and checks
    that checkout's package, not its own, when run from another checkout
    (a clone of the parent commit for an A/B, say)."""
    absolute_import = re.compile(r"""(sys\.path\.insert\(\s*0\s*,|run_path\()\s*["']/""")
    files = [os.path.join(REPO, "bench.py")]
    for sub in ("tools", "tests"):
        for dirpath, _, names in os.walk(os.path.join(REPO, sub)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    offenders = []
    for path in files:
        with open(path) as f:
            text = f.read()
        if REPO in text or absolute_import.search(text):
            offenders.append(os.path.relpath(path, REPO))
    assert offenders == []
