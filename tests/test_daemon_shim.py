"""Semantics pins for ``pyspark_zipfast_daemon`` in the daemon process:
per-task gc policy, pre-import surface, the conf on the live session,
and the pyspark hooks both patches rely on.  How the shim reaches the
forked workers and what it changes inside them is pinned in
tests/test_worker_shim.py."""

from __future__ import annotations

import gc
import os
import sys
import types

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pyspark_zipfast_daemon as shim


def test_policy_gen1_per_task_full_every_64():
    calls = []
    real_collect = gc.collect

    def fake_collect(gen=2):
        calls.append(gen)
        return 0

    gc.collect = fake_collect
    try:
        pol = shim._PerTaskGcPolicy()
        for _ in range(130):
            pol.collect()
    finally:
        gc.collect = real_collect
    # tasks 64 and 128 escalate to a FULL collect (default gen argument),
    # every other task collects generation 1 only
    assert len(calls) == 130
    assert [i for i, g in enumerate(calls, 1) if g != 1] == [64, 128]


def test_daemon_module_gc_reference_patched_not_global():
    import pyspark.daemon as stock

    # the stock module's reference is the policy object...
    assert isinstance(stock.gc, shim._PerTaskGcPolicy)
    # ...while the global gc.collect is still the builtin (UDF code sees
    # stock gc)
    assert type(gc.collect).__name__ == "builtin_function_or_method"
    assert not isinstance(gc.collect, shim._PerTaskGcPolicy)
    # non-collect gc API passes through
    assert stock.gc.isenabled() == gc.isenabled()


def test_policy_counter_is_per_instance():
    a, b = shim._PerTaskGcPolicy(), shim._PerTaskGcPolicy()
    a.collect()
    assert a.n == 1 and b.n == 0


def test_preimported_surface_present():
    # the daemon pre-imports the heavy worker dependency surface so
    # forked workers inherit it copy-on-write; a renamed module would
    # silently fall back to a per-worker import
    for mod in shim.PREIMPORTS:
        assert mod in sys.modules, mod


def test_session_wires_daemon_conf(spark):
    # the conf reaches the live session; the helper's local/cluster cases
    # are pinned in tests/test_worker_shim.py
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf.get("spark.python.daemon.module") == "pyspark_zipfast_daemon"
    assert "spark.python.worker.module" not in conf


def test_hooks_hold_on_installed_pyspark():
    assert shim.hook_problems() == []


def _stand_in(src: str) -> types.ModuleType:
    mod = types.ModuleType("stand_in")
    exec(src, vars(mod))
    return mod


def test_hook_problems_reports_each_broken_hook():
    worker_util = _stand_in(
        "import importlib\ndef setup():\n    importlib.invalidate_caches()\n"
    )
    daemon = _stand_in(
        "import gc\ndef manager():\n    def loop():\n        gc.collect()\n"
    )
    assert shim.hook_problems(worker_util, daemon) == []

    # worker_util binds the function itself: the importlib patch is unseen
    no_attr = _stand_in(
        "from importlib import invalidate_caches\n"
        "def setup():\n    invalidate_caches()\n"
    )
    (problem,) = shim.hook_problems(no_attr, daemon)
    assert "pyspark.worker_util" in problem

    # manager stops calling gc.collect(): the gc policy is unseen
    no_collect = _stand_in("import gc\ndef manager():\n    pass\n")
    (problem,) = shim.hook_problems(worker_util, no_collect)
    assert "pyspark.daemon.manager" in problem
