"""Adversarial-session catalog sweep: the driver simulation under the
WORST session settings — AQE disabled, an odd shuffle-partition count,
few cores — asserting every query still matches its DuckDB oracle.

The engine's determinism policy (queries/registry.py) promises results
independent of partitioning and runtime re-planning. That promise is
easy to break silently: e.g. two physically separate repartitionByRange
exchanges sample boundaries per-branch (seeded by rdd.id) and can
diverge, which AQE happened to mask until operators/ranking.py pinned
the partitioning with a localCheckpoint. This sweep is the regression
net for that whole bug class.

Run: python tools/adversarial_sim.py   (~3 min at sf0.01)
"""

import os
import runpy
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

(
    SparkSession.builder.master("local[3]")
    .appName("adversarial-sim")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "7")
    .getOrCreate()
)

# driver_sim's own builder is a no-op now (an active session exists, and
# builder.getOrCreate() returns it — its master/appName are ignored), so
# the whole comparison runs under the adversarial conf above.
runpy.run_path(os.path.join(REPO, "tests", "driver_sim.py"), run_name="__main__")
