"""Measurement probes: process-tree CPU from /proc and Spark's REST API.

Process split. CPU is attributed by parentage from the benchmark's own pid,
never by command-line matching: the benchmark process is the driver, its
direct children are the JVM (pyspark execs ``java`` in the child it
launches), and everything below the JVM is a Python worker (the daemon and
the workers it forks). Each process counts its own time plus the time of
children it has already reaped.

Spark attribution. Every unit runs under its own job group; after the unit
returns, ``SparkRest.group_metrics`` waits until all of that group's jobs
report a final status and then sums their stages and SQL executions. No
stage-id frontier and no sleep-and-retry guessing.
"""

from __future__ import annotations

import json
import os
import signal
import time
import urllib.request

CLK_TCK = os.sysconf("SC_CLK_TCK")


def read_proc(root: str = "/proc") -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir(root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(root, name, "stat")) as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces and parens: split after the last ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (ppid, ticks / CLK_TCK)
    return out


def tree_roles(me: int, procs: dict[int, tuple[int, float]]) -> dict[int, str]:
    """Role of every process in ``me``'s tree: driver, jvm or pyworker."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    roles = {me: "driver"} if me in procs else {}
    stack = [(c, 1) for c in children.get(me, [])]
    while stack:
        pid, depth = stack.pop()
        roles[pid] = "jvm" if depth == 1 else "pyworker"
        stack.extend((c, depth + 1) for c in children.get(pid, []))
    return roles


def tree_cpu(me: int | None = None, root: str = "/proc") -> dict[str, float]:
    """CPU seconds of ``me``'s process tree, split by role."""
    me = os.getpid() if me is None else me
    procs = read_proc(root)
    split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in tree_roles(me, procs).items():
        split[role] += procs[pid][1]
    return split


def jvm_pids(me: int | None = None, root: str = "/proc") -> list[int]:
    me = os.getpid() if me is None else me
    procs = read_proc(root)
    return [p for p, r in tree_roles(me, procs).items() if r == "jvm"]


def descendants(me: int | None = None, root: str = "/proc") -> list[int]:
    """Every process below ``me`` (the JVM and the Python workers)."""
    me = os.getpid() if me is None else me
    return [p for p, r in tree_roles(me, read_proc(root)).items() if r != "driver"]


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left at ``timeout``.

    Python workers outlive the JVM for a moment (they exit when their pipe
    closes) and are re-parented, so they are waited for by pid."""
    deadline = time.monotonic() + timeout
    killed = False
    alive = list(pids)
    while True:
        alive = [p for p in alive if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not exit")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has ended


def host_cpu(root: str = "/proc") -> dict[str, float]:
    """Machine-wide CPU seconds (all CPUs) from ``/proc/stat``: ``busy`` is
    time spent running (user, nice, system, irq, softirq), ``steal`` time
    the hypervisor ran other guests while this one wanted to run."""
    with open(os.path.join(root, "stat")) as f:
        t = [int(x) / CLK_TCK for x in f.readline().split()[1:9]]
    return {"total": sum(t), "busy": t[0] + t[1] + t[2] + t[5] + t[6], "steal": t[7]}


def steal_share(before: dict[str, float], after: dict[str, float]) -> float:
    """Share of the CPU time this machine wanted between two ``host_cpu``
    readings that the hypervisor gave to other guests instead."""
    steal = after["steal"] - before["steal"]
    wanted = after["busy"] - before["busy"] + steal
    return steal / wanted if wanted > 0 else 0.0


def peak_rss_mb(pid: int, root: str = "/proc") -> float:
    """``VmHWM`` (peak resident set) of ``pid`` in MiB."""
    with open(os.path.join(root, str(pid), "status")) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# Spark REST
# ---------------------------------------------------------------------------

#: physical-plan node names that evaluate Python (JVM<->Python crossings)
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "PythonMapInArrow",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)

#: Python-node SQL metric name -> per-layer metric (value kind)
_PY_METRICS = {
    "data sent to Python workers": ("python.bytes_to_py", "bytes"),
    "data returned from Python workers": ("python.bytes_from_py", "bytes"),
    "time to start Python workers": ("python.start_init_s", "ms"),
    "time to initialize Python workers": ("python.start_init_s", "ms"),
    "time to run Python workers": ("python.run_s", "ms"),
}

LAYER_KEYS = (
    "spark.jobs",
    "queries.eager_jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_cpu_s",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.task_skew",
    "python.nodes",
    "python.run_s",
    "python.start_init_s",
    "python.bytes_to_py",
    "python.bytes_from_py",
    "storage.mem_bytes",
)

_FINAL = {"SUCCEEDED", "FAILED"}


def _metric_value(text: str, kind: str) -> float:
    """Parse a SQL metric string such as ``"1.2 MiB"`` or
    ``"total (min, med, max ...)\\n12.3 s (...)"`` into bytes or seconds."""
    head = text.strip().split("\n")[-1].split("(")[0].strip()
    parts = head.replace(",", "").split()
    if not parts:
        return 0.0
    num = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if kind == "bytes":
        scale = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
        return num * scale.get(unit, 1)
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    return num * scale.get(unit, 1e-3)


class SparkRest:
    """Reads one application's metrics from its UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.get("/jobs")), default=-1)

    def _unit_jobs(self, group: str, since: int, timeout: float = 60.0) -> list[dict]:
        """Jobs of one unit: those tagged with its group or a subgroup
        (``<group>/build``), plus untagged jobs submitted after job ``since``
        (threads the engine starts itself, such as the model runner's pool,
        do not inherit the caller's group). Waits until all are final."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [
                j for j in self.get("/jobs")
                if (j.get("jobGroup") or "").split("/build")[0] == group
                or (j.get("jobGroup") is None and j["jobId"] > since)
            ]
            if all(j["status"] in _FINAL for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of unit {group!r} never finished")
            time.sleep(0.05)

    def unit_metrics(self, group: str, since: int) -> dict[str, float]:
        """Sum of every per-layer Spark metric over one unit's jobs."""
        jobs = self._unit_jobs(group, since)
        m = dict.fromkeys(LAYER_KEYS, 0.0)
        m["spark.jobs"] = len(jobs)
        m["queries.eager_jobs"] = sum(1 for j in jobs if j.get("jobGroup") == f"{group}/build")
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        skew = 0.0
        for sid in stage_ids:
            try:
                attempts = self.get(f"/stages/{sid}")
            except OSError:
                continue  # skipped stage: never ran, nothing to add
            for st in attempts:
                if st.get("status") not in ("COMPLETE", "FAILED"):
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.get("numCompleteTasks", 0)
                m["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                m["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["spark.input_bytes"] += st.get("inputBytes", 0)
                m["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                m["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                m["spark.spill_bytes"] += st.get("diskBytesSpilled", 0)
                if st.get("numCompleteTasks", 0) > 1:
                    q = self.get(
                        f"/stages/{sid}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                    )["executorRunTime"]
                    if q[0] > 0:
                        skew = max(skew, q[1] / q[0])
        m["spark.task_skew"] = skew
        for ex in self._group_sql(job_ids):
            for node in ex.get("nodes", []):
                if not node.get("nodeName", "").startswith(PYTHON_NODES):
                    continue
                m["python.nodes"] += 1
                for met in node.get("metrics", []):
                    key = _PY_METRICS.get(met["name"])
                    if key:
                        m[key[0]] += _metric_value(met["value"], key[1])
        m["storage.mem_bytes"] = sum(r.get("memoryUsed", 0) for r in self.get("/storage/rdd"))
        return m

    def _group_sql(self, job_ids: set[int], timeout: float = 60.0) -> list[dict]:
        """Finished SQL executions that ran any of ``job_ids``."""
        deadline = time.monotonic() + timeout
        while True:
            execs = self.get(
                f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
            )
            mine = [
                e for e in execs
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                                 + e.get("runningJobIds", []))
            ]
            if all(e["status"] in ("COMPLETED", "FAILED") for e in mine):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions never finished")
            time.sleep(0.05)
        # executions are listed by id: skip the finished prefix next time
        done = 0
        for e in execs:
            if e["status"] not in ("COMPLETED", "FAILED"):
                break
            done += 1
        self._sql_seen += done
        return mine
