"""How ``pyspark_zipfast_daemon`` reaches the Python workers it forks,
and what it changes inside them.

- conf: ``get_spark`` activates the shim with exactly one conf on local
  masters and sets nothing on cluster masters;
- semantics: the replacement ``invalidate_caches`` still invalidates
  directory (FileFinder) caches, the case Spark's per-task call protects
  (``sc.addPyFile`` of plain ``.py`` files), while leaving zipimporter
  TOC caches untouched;
- live: a ``mapInPandas`` task in a ``get_spark`` session runs the stock
  ``pyspark.worker`` with both patches active.  The stock daemon would
  pass every other test in the suite, so this one is the integration
  check.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile

import pyspark_zipfast_daemon as shim
from logistics_data_pipeline_project_spark.session import _zipfast_worker_conf


def test_conf_set_for_local_master():
    assert _zipfast_worker_conf("local[4]") == {
        "spark.python.daemon.module": "pyspark_zipfast_daemon"
    }
    shim_dir = os.path.dirname(os.path.abspath(shim.__file__))
    assert shim_dir in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_conf_not_set_for_cluster_master():
    # a cluster ships the shim via --py-files and sets the conf explicitly
    assert _zipfast_worker_conf("spark://host:7077") == {}
    assert _zipfast_worker_conf("yarn") == {}


def test_invalidate_still_refreshes_file_finder(tmp_path):
    """A module created after the directory was first scanned becomes
    importable after the shim's invalidate — the addPyFile semantics
    the stock per-task call exists for."""
    pkg_dir = str(tmp_path)
    sys.path.insert(0, pkg_dir)
    try:
        name = "zipfast_shim_probe_mod"
        try:
            importlib.import_module(name)
            raise AssertionError("probe module must not exist yet")
        except ImportError:
            pass
        with open(os.path.join(pkg_dir, f"{name}.py"), "w") as f:
            f.write("VALUE = 41\n")
        shim._invalidate_caches_skip_zip_reread()
        mod = importlib.import_module(name)
        assert mod.VALUE == 41
    finally:
        sys.path.remove(pkg_dir)
        sys.modules.pop("zipfast_shim_probe_mod", None)


def test_invalidate_skips_zipimporter_toc_reread(tmp_path):
    """The zipimporter's cached TOC object survives the shim's
    invalidate (identity-stable) but is rebuilt by the stock one —
    the exact cost difference the shim exists to remove."""
    zpath = os.path.join(str(tmp_path), "probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zipfast_probe_zipped.py", "VALUE = 7\n")
    import zipimport

    zi = zipimport.zipimporter(zpath)
    sys.path_importer_cache[zpath] = zi
    try:
        toc_before = zi._files
        shim._invalidate_caches_skip_zip_reread()
        assert zi._files is toc_before, "shim must not drop the TOC"
        zi.invalidate_caches()
        assert zi._files is not toc_before, (
            "stock invalidate re-reads the TOC (the behavior being avoided)"
        )
    finally:
        sys.path_importer_cache.pop(zpath, None)


def test_invalidate_drops_none_entries():
    key = "/nonexistent/zipfast-shim-probe-path"
    sys.path_importer_cache[key] = None
    shim._invalidate_caches_skip_zip_reread()
    assert key not in sys.path_importer_cache


def test_live_worker_runs_both_patches(spark):
    def probe(batches):
        import importlib
        import sys

        import pandas as pd

        for _ in batches:
            pass
        daemon = sys.modules.get("pyspark.daemon")
        yield pd.DataFrame(
            {
                "invalidate": [importlib.invalidate_caches.__name__],
                "gc": [type(getattr(daemon, "gc", None)).__name__],
                "argv1": [sys.argv[1] if len(sys.argv) > 1 else ""],
            }
        )

    rows = (
        spark.range(0, 64, 1, 4)
        .mapInPandas(probe, "invalidate string, gc string, argv1 string")
        .collect()
    )
    assert len(rows) == 4
    assert {tuple(r) for r in rows} == {
        ("_invalidate_caches_skip_zip_reread", "_PerTaskGcPolicy", "pyspark.worker")
    }
