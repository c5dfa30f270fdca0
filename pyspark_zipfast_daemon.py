"""PySpark daemon-module shim: stock ``pyspark.daemon`` minus two taxes
that every Python task pays, whatever the UDF flavor.  The daemon forks
every Python worker, so patches applied here at import reach every
worker; the workers run the stock ``pyspark.worker`` (``argv[1]``).

1. **Zip-TOC re-read.**  Every task's ``setup_spark_files`` ends with
   ``importlib.invalidate_caches()``, and ``zipimporter.invalidate_caches``
   re-reads the whole central directory of ``pyspark.zip``/``py4j-*.zip``:
   ~85% of an identity ``mapInPandas`` task's 238 ms worker CPU (Spark
   4.1.2, local[32]).  The replacement walks the same finders but skips
   zipimporters; ``None`` cache entries are still dropped and every other
   finder (``FileFinder`` for ``sc.addPyFile`` of ``.py`` files, meta-path
   finders) is still invalidated.  Only a ``.zip`` replaced in place on an
   already-cached path would serve stale entries, which Spark never does
   (``addPyFile`` distributes to a fresh path).
2. **Full gc per task.**  The reused-worker loop runs ``gc.collect()``
   after every task, ~12-31 ms of CPU on a heap with pandas/numpy/pyarrow
   imported.  ``pyspark.daemon``'s module-level ``gc`` reference becomes a
   policy object: a generation-1 collection per task and the original
   full one every 64th task.  Threshold GC stays on, and ``gc.collect``
   itself is not patched, so UDF code that calls it gets stock semantics.

The daemon also pre-imports ``PREIMPORTS`` once, so forked workers
inherit them copy-on-write instead of each paying a ~0.4 CPU-s import
storm on its first Arrow task.

Both patches rely on how pyspark looks the patched names up;
``hook_problems()`` checks that.  The daemon writes any problem to stderr
at start and the test suite asserts there is none, so a pyspark upgrade
that breaks a hook fails loudly.

Activation is one conf, ``spark.python.daemon.module=pyspark_zipfast_daemon``,
which ``session.get_spark`` sets for local masters.  On a cluster, ship
this one file with ``--py-files`` and set the same conf (pyspark only
requires the module name to start with ``"pyspark"``).
"""

from __future__ import annotations

import dis
import gc
import importlib
import importlib.machinery
import inspect
import sys
import zipimport

import pyspark.daemon as _stock_daemon
import pyspark.worker_util as _worker_util

#: Modules the daemon imports once so forked workers inherit them.  A
#: missing one just means each worker pays its own import, as stock.
PREIMPORTS = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.ipc",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # the engine's own operator modules (present when the repo root is
    # on PYTHONPATH, i.e. whenever this shim itself is importable)
    "logistics_data_pipeline_project_spark.operators.multimodal",
    "logistics_data_pipeline_project_spark.operators.similarity",
    "logistics_data_pipeline_project_spark.operators.dedup",
    "logistics_data_pipeline_project_spark.operators.text",
)
for _mod in PREIMPORTS:
    try:
        __import__(_mod)
    except Exception:  # pragma: no cover - optional at cluster scale
        pass


def _invalidate_caches_skip_zip_reread() -> None:
    """``importlib.invalidate_caches()`` with zipimporters left alone."""
    for name, finder in list(sys.path_importer_cache.items()):
        if finder is None:
            sys.path_importer_cache.pop(name, None)
        elif isinstance(finder, zipimport.zipimporter):
            continue  # keeps the cached TOC; see the module docstring
        else:
            inv = getattr(finder, "invalidate_caches", None)
            if inv is not None:
                inv()
    for finder in list(sys.meta_path):
        if finder is importlib.machinery.PathFinder:
            continue  # its work is the path_importer_cache walk above
        inv = getattr(finder, "invalidate_caches", None)
        if inv is not None:
            inv()


#: full-collection cadence (tasks) inside one reused worker process
_FULL_EVERY = 64


class _PerTaskGcPolicy:
    """Drop-in for daemon.py's ``gc`` module reference: cheap gen-1
    collection per task, full collection every ``_FULL_EVERY`` tasks.
    Each forked worker inherits an independent counter."""

    __slots__ = ("n",)

    def __init__(self) -> None:
        self.n = 0

    def collect(self) -> int:
        self.n += 1
        if self.n % _FULL_EVERY == 0:
            return gc.collect()
        return gc.collect(1)

    def __getattr__(self, name):  # any other gc API: stock behavior
        return getattr(gc, name)


def _reads_global_attr(module, fn, name: str, attr: str) -> bool:
    """True if ``fn`` (nested code included) reads ``name.attr`` through
    ``module``'s global ``name``: the lookup that sees a patch."""
    if not inspect.isfunction(fn) or fn.__globals__ is not vars(module):
        return False
    codes = [fn.__code__]
    while codes:
        code = codes.pop()
        codes += [c for c in code.co_consts if inspect.iscode(c)]
        ins = list(dis.get_instructions(code))
        for a, b in zip(ins, ins[1:]):
            if (a.opname, a.argval, b.argval) == ("LOAD_GLOBAL", name, attr):
                return True
    return False


def hook_problems(worker_util=_worker_util, daemon=_stock_daemon) -> list[str]:
    """What stops either patch from taking effect on this pyspark; empty
    when both hooks hold."""
    problems = []
    if getattr(worker_util, "importlib", None) is not importlib or not any(
        _reads_global_attr(worker_util, f, "importlib", "invalidate_caches")
        for f in vars(worker_util).values()
    ):
        problems.append(
            "pyspark.worker_util no longer calls invalidate_caches through the"
            " importlib module attribute: the zip-TOC patch is ineffective"
        )
    if not _reads_global_attr(daemon, getattr(daemon, "manager", None), "gc", "collect"):
        problems.append(
            "pyspark.daemon.manager no longer calls gc.collect() through its"
            " module-global gc: the per-task gc policy is ineffective"
        )
    return problems


# Patch the daemon module's gc reference only (never gc.collect globally),
# and importlib.invalidate_caches in this process, which every worker
# forks from.
_stock_daemon.gc = _PerTaskGcPolicy()
importlib.invalidate_caches = _invalidate_caches_skip_zip_reread


if __name__ == "__main__":
    for _problem in hook_problems():
        sys.stderr.write(f"pyspark_zipfast_daemon: {_problem}\n")
    # pyspark.daemon's import already resolved the worker module from
    # sys.argv[1]; just run its manager loop with the patched reference.
    sys.argv[0] = _stock_daemon.__file__
    _stock_daemon.manager()
