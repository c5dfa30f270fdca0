#!/usr/bin/env python
"""Scale-curve benchmark: run the catalog's heavy-tail queries at 1x,
2x, 5x and 10x the sf0.1 data volume and record how wall time grows.

This is the weak-scaling evidence behind the "designed for 100x" claim:
each scaled dataset is k INDEPENDENT sf0.1-shaped shards — replica k
offsets every key by k*10^7 and rewrites text through a per-replica
full-alphabet + digit rotation (length-preserving, deterministic), so
cross-replica rows share no keys and no letter/digit tokens and the
workload is k times the original candidate structure, not k^2
cross-replica matches. A
super-linear point on this curve means the operator does work that
grows faster than the data (the thing partitioned design must avoid);
~linear growth means the per-shard cost shape survives scale-up.

Usage:  python tools/bench_scale.py [--mults 1,2,5,10] [--update]
Writes  bench_history/SCALE_CURVE.json and prints one JSON line.
``--update`` folds this run's points into the existing curve by
per-query min (a partial re-sweep, e.g. ``--mults 20,40 --update``).
One unit alone: ``--point <m> --query <q>`` times query q at multiple m
in a fresh session and prints that unit's JSON line.
Scaled parquet lands in .scale/x{k}/ (gitignored, regenerated on
demand; sizes are MBs at these SFs).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logistics_data_pipeline_project_spark.queries import REGISTRY  # noqa: E402
from logistics_data_pipeline_project_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
HEAVY = [
    "q037_near_dup_clusters",
    "q127_prefix_filter_near_dup",
    "q149_ann_ivfpq_topk",
    "q165_hashed_ngram_perceptron",
    "q175_dedup_aware_split",
    "q187_lsh_calibration",
    # round 6: three of the seven slowest catalog queries, previously
    # asserted-not-measured. q194/q237 are window-hash explodes + df
    # aggregates (the q127 shape, now checkpoint-shared); q231 is the
    # pure-Python FLAC decode (volume-proportional codec CPU — its
    # curve certifies the mapInPandas stages, not the decoder math)
    "q194_duplicate_span_coverage",
    "q196_doc_record_linkage",
    "q231_audio_flac_decode_audit",
    "q237_repeated_span_scrub",
    # image-dedup family (round 4): codec CPU is embarrassingly parallel,
    # the LSH band join and component rounds are the scale risks
    "q221_image_neardup_pairs",
    "q227_image_dup_clusters",
    # round 7: the composed WARC-to-corpus pipeline — walk + extraction
    # + canonicalization + robots gate + dedup in one plan; its curve
    # certifies the cross-operator composition (per-query curves can't)
    "q247_warc_to_corpus",
    # domain cap (round 5): replicas copy `source` unchanged, so every
    # multiple grows per-source volume x k with a FIXED source count —
    # exactly the mega-domain funnel the 256-way two-phase cap must
    # absorb (a super-linear point here = a reducer swallowing a domain)
    "q225_domain_doc_cap",
]
TABLES = ["documents", "embeddings", "orders"]
KEY_OFF = 10_000_000
# Per-replica AFFINE character permutation (1:1 translate — length-
# preserving, deterministic). History: earlier versions rotated only
# vowels, then vowels+5 consonants: any token made of OTHER characters
# was INVARIANT across replicas, so a rare-but-invariant token/shingle
# appeared in all k replicas and generated C(k,2) cross-replica
# candidate pairs — a k^2 term invisible at x10 (measured: it pushed
# q127's prefix-filter join super-linear between x10 and x20 while
# every within-replica cost stayed linear). Full-alphabet ROTATION
# fixed that for k < 20 but has period 26 (k and k±26 share the whole
# letter map) and its digit twin had period 10 (k and k+10 shared ALL
# digits, so pure-number tokens were invariant between those replica
# pairs). The affine map c_i -> c_{(a*i+b) mod n} generalizes rotation
# (a=1 IS rotation, so replicas k < 26 produce byte-identical data to
# the old scheme): two DISTINCT affine maps over Z_n agree on at most
# gcd(a_j - a_k, n) <= 2 characters, so any token with 3+ distinct
# letters (or 3+ distinct digits) is never shared between replicas.
# Letters: a cycles the 12 units of Z_26 once per 26 replicas; digits:
# a cycles the 4 units of Z_10 once per 10 replicas — all (a, b) pairs
# distinct for k < 312 (letters) / k < 40 (digits), far past any
# multiple this harness runs. Only punctuation-only and short repeated-
# character tokens can remain shared — weak scaling measures the
# OPERATOR, not the fixture.
_AZ = "abcdefghijklmnopqrstuvwxyz"
_DG = "0123456789"
_UNITS26 = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
_UNITS10 = (1, 3, 7, 9)
# data-layout version: bump when _replica's mapping changes so stale
# .scale/x*/ shards regenerate (checked against the _DONE marker)
_FIXTURE_V = "v2"


def _affine(s: str, a: int, b: int) -> str:
    n = len(s)
    return "".join(s[(a * i + b) % n] for i in range(n))


def _letter_map(k: int) -> str:
    return _affine(_AZ, _UNITS26[(k // 26) % len(_UNITS26)], k % 26)


def _digit_map(k: int) -> str:
    return _affine(_DG, _UNITS10[(k // 10) % len(_UNITS10)], k % 10)


def _replica(df, table: str, k: int):
    if k == 0:
        return df
    if table == "documents":
        return df.select(
            (F.col("doc_id") + k * KEY_OFF).alias("doc_id"),
            F.translate(
                "text", _AZ + _DG, _letter_map(k) + _digit_map(k)
            ).alias("text"),
            "lang",
            "source",
            "n_chars",  # 1:1 character rotation preserves length
        )
    if table == "embeddings":
        return df.select(
            (F.col("vec_id") + k * KEY_OFF).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, j) -> cast(x + "
                f"pmod(xxhash64(vec_id * 131 + j + {k}), 997) / 10000.0 "
                f"as float))"
            ).alias("embedding"),
            "label",
        )
    if table == "orders":
        return df.withColumn("o_orderkey", F.col("o_orderkey") + k * KEY_OFF)
    raise ValueError(table)


def _gen(spark, mult: int, out_dir: str) -> None:
    done = os.path.join(out_dir, "_DONE")
    if os.path.isfile(done):
        with open(done) as f:
            content = f.read()
        # v2 changed digit maps only for replicas k >= 10, so pre-v2
        # shards below that replica count are still byte-identical
        if content.startswith(_FIXTURE_V) or (mult <= 10 and ":" not in content):
            return
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        parts = [_replica(src, t, k) for k in range(mult)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
    with open(os.path.join(out_dir, "_DONE"), "w") as f:
        f.write(f"{_FIXTURE_V}:{mult}")


def _time_point(mult: int, sf_dir: str, q: str) -> dict:
    """Time query ``q`` (min of 3 passes) at one multiple in THIS
    process's session, which is a FRESH subprocess per (multiple, query)
    unit: a long-lived local[32] JVM ages (heap growth -> multi-second
    full-GC pauses land inside measured queries — observed: q037's x10
    point read 14.8s inside a 25-min single-session sweep vs a stable
    ~5s fresh), and weak scaling is only a fair comparison when every
    point sees the same cold environment + identical sf0.001 warmup.

    One query per session, not one session per point: round 7 found a
    shared session biases by LIST POSITION — at x20, q175 measured a
    stable ~15.5s when run after q127/q149/q165 in one session but
    6.8-8.0s in a session of its own, a 2x artifact that neither
    freeing checkpoint residue nor a forced System.gc() between queries
    removed (JVM/codegen/worker-pool state, not storage leakage), and
    min-of-N cannot fix a stable bias.  Each query warms ITSELF at
    sf0.001 and is measured in an otherwise-idle session, which is also
    how a real cluster job runs."""
    # Load stamp (VERDICT r8 ask #5) at UNIT START, before this unit's
    # own session spins up: a 1-min average read after the warm-ups or
    # passes is dominated by self-load and says nothing about external
    # contention.  Caveat (documented in the payload): the previous
    # unit's decaying tail can inflate this a few points for ~1 min;
    # what it reliably catches is the r8 failure mode — external load
    # 14-20 persisting for hours.  With SPARK_GRAFT_MAX_LOAD1 set the
    # unit WAITS here for calm (checked each minute, up to 15) instead
    # of stamping and proceeding.
    gate = os.environ.get("SPARK_GRAFT_MAX_LOAD1")
    if gate:
        for _ in range(15):
            if os.getloadavg()[0] <= float(gate):
                break
            print(
                f"# x{mult}: load1={os.getloadavg()[0]:.1f} > {gate}, "
                "waiting 60s",
                file=sys.stderr,
            )
            time.sleep(60)
    load1 = round(os.getloadavg()[0], 1)
    spark = get_spark(
        app_name=f"ldp-spark-bench-scale-x{mult}",
        extra_conf={
            "spark.driver.memory": "24g",
            # UI on for the executor-CPU probe (VERDICT r8 ask #1b):
            # wall on this host is load-bound, CPU is the reproducible
            # signal — every point now carries both.
            "spark.ui.enabled": "true",
            "spark.ui.port": "4059",
            "spark.ui.retainedStages": "400",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from logistics_data_pipeline_project_spark.operators.checkpoints import (
        persistent_rdd_ids,
        release_residual_checkpoints,
    )

    base_ids = persistent_rdd_ids(spark)
    spark.range(1_000_000).agg({"id": "sum"}).collect()
    # warm pass at the smallest SF: JVM/codegen/Arrow startup must not
    # be charged to the point (bench.py methodology)
    warm_dir = os.path.join(os.path.dirname(BASE), "sf0.001")
    REGISTRY[q].fn(spark, warm_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Round 8 (q037 stage profile): sf0.001 alone under-warms the
    # BIG points — at toy size AQE picks broadcast joins, so the
    # sort-merge-join/sort codegen the big points actually execute
    # stays interpreter-cold, and the first big execution pays a C2
    # ramp measured at 1305 executor-CPU-s on q037's x40 point (5x its
    # ~260 CPU-s steady state; a single x2 warm run with the same plan
    # shapes cut rep0's burn 2.5x). min-of-N can absorb a one-pass
    # ramp only when the ramp fits one pass — at x40 it didn't. Warm
    # once at x2 (2.5-5% of the big points' data) when measuring
    # beyond it, so every measured pass runs compiled code.
    x2_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        "x2",
    )
    x2_warm = mult <= 2  # small points don't need the big-plan warm-up
    if mult > 2:
        if os.path.isdir(x2_dir):
            REGISTRY[q].fn(spark, x2_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            x2_warm = True
        else:
            # ADVICE r8: a silent no-op here quietly reverts big points
            # to the cold-plan methodology the r8 adjudication showed
            # inflates rep0 by ~5x — disclose loudly and in the payload.
            print(
                f"# WARNING x{mult}: .scale/x2 missing — x2 warm-up "
                "SKIPPED; this point's rep0 runs cold-plan (C2 ramp, "
                "~5x inflation observed at x40) and is NOT comparable "
                "to x2-warmed curves. Generate it first: "
                "python tools/bench_scale.py --mults 2",
                file=sys.stderr,
            )
    release_residual_checkpoints(spark, base_ids)
    # min-of-N: the host shows multi-second upward-only stalls (an
    # identical back-to-back rerun measured 64.5s then 9.6s on 63MB of
    # data); noise spikes only ever ADD time, so the min over more
    # passes converges on the true cost
    from bench import _GroupCpu

    probe = _GroupCpu(spark)
    timings: dict[str, float] = {}
    cpu_s: dict[str, float] = {}
    for _pass in range(3):
        group = f"x{mult}:pass{_pass}:{q}"
        probe.start(group)
        t0 = time.perf_counter()
        REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.perf_counter() - t0, 3)
        timings[q] = min(timings.get(q, dt), dt)
        d = probe.stop(group)
        if d is not None:
            qc = round(d["cpu_ns"] / 1e9, 3)
            cpu_s[q] = min(cpu_s.get(q, qc), qc)
        print(
            f"# x{mult} pass{_pass} {q}: {dt:.3f}s"
            + (f" cpu={d['cpu_ns'] / 1e9:.3f}s" if d else ""),
            file=sys.stderr,
        )
        # lazy-checkpoint residue must not bleed into the next
        # measurement (bench.py's discipline)
        release_residual_checkpoints(spark, base_ids)
    spark.stop()
    return {
        "total": timings[q],
        "queries": timings,
        "queries_cpu": cpu_s,  # executor CPU (min over passes) per query
        "x2_warm": x2_warm,
        "load1": load1,
    }


def _load1_dict(pt: dict) -> dict:
    """Normalize a point's ``load1`` to {query: load}.

    Per-query subprocess points store a dict; points measured in one
    shared session per multiple (the pre-round-7 mode, still in
    committed curves) store ONE scalar float for the whole unit
    — treating that scalar as a dict crashed the --update merge after
    the sweep had already run (ADVICE r9).  A scalar fans out to every
    query in the point (it IS that unit's stamp for each of them)."""
    lo = pt.get("load1")
    if isinstance(lo, dict):
        return dict(lo)
    if isinstance(lo, (int, float)):
        return {q: lo for q in pt.get("queries", {})}
    return {}


def _merge_points(merged: dict, points: dict) -> dict:
    """Fold freshly measured ``points`` into ``merged`` in place by
    PER-QUERY, PER-METRIC MIN (host noise only ever ADDS time/CPU, so
    the min over more runs converges on the true cost).  Handles both
    point shapes (per-query load1 dicts and the older shared-session
    scalar load1) on either side; pure function of its inputs so the
    merge is unit-testable without a sweep."""
    for name, pt in points.items():
        if name not in merged:
            merged[name] = pt
            continue
        old = merged[name]
        old_lo = _load1_dict(old)
        pt_lo = _load1_dict(pt)
        for q, t in pt["queries"].items():
            old["queries"][q] = min(old["queries"].get(q, float("inf")), t)
            if q in pt.get("queries_cpu", {}):
                c = old.setdefault("queries_cpu", {})
                c[q] = min(c.get(q, float("inf")), pt["queries_cpu"][q])
            vals = [
                v
                for v in (old_lo.get(q), pt_lo.get(q))
                if isinstance(v, (int, float))
            ]
            if vals:
                old_lo[q] = min(vals)
        if old_lo:
            old["load1"] = old_lo  # normalized: always a dict post-merge
        old["total"] = round(sum(old["queries"].values()), 3)
        old["x2_warm"] = old.get("x2_warm", True) and pt.get("x2_warm", True)
    return merged


def main() -> None:
    mults = [1, 2, 5, 10]
    if "--mults" in sys.argv:
        mults = [int(x) for x in sys.argv[sys.argv.index("--mults") + 1].split(",")]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scale_root = os.path.join(repo, ".scale")

    dirs: dict[int, str] = {
        m: (BASE if m == 1 else os.path.join(scale_root, f"x{m}")) for m in mults
    }

    if "--point" in sys.argv:  # subprocess mode: one unit, one JSON line
        m = int(sys.argv[sys.argv.index("--point") + 1])
        q = sys.argv[sys.argv.index("--query") + 1]
        # compute the dir directly: m need not be in the mults list
        d = BASE if m == 1 else os.path.join(scale_root, f"x{m}")
        print(json.dumps(_time_point(m, d, q)))
        return

    gen_needed = [m for m in mults if m != 1]
    if gen_needed:
        spark = get_spark(
            app_name="ldp-spark-bench-scale-gen",
            extra_conf={"spark.driver.memory": "24g"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        for m in gen_needed:
            _gen(spark, m, dirs[m])
        spark.stop()

    import subprocess

    # one subprocess per (multiple, query) — see _time_point's docstring
    points: dict[str, dict] = {}
    for m in mults:
        timings: dict[str, float] = {}
        cpus: dict[str, float] = {}
        loads: dict[str, float] = {}
        x2_warm = True
        for q in HEAVY:
            proc = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--point", str(m), "--query", q,
                ],
                capture_output=True,
                text=True,
                check=True,
            )
            sys.stderr.write(proc.stderr)
            unit = json.loads(proc.stdout.strip().splitlines()[-1])
            timings[q] = unit["queries"][q]
            if q in unit.get("queries_cpu", {}):
                cpus[q] = unit["queries_cpu"][q]
            loads[q] = unit.get("load1", 0.0)
            x2_warm = x2_warm and unit.get("x2_warm", True)
        points[f"x{m}"] = {
            "total": round(sum(timings.values()), 3),
            "queries": timings,
            "queries_cpu": cpus,
            "x2_warm": x2_warm,
            "load1": loads,
        }

    out = os.path.join(repo, "bench_history", "SCALE_CURVE.json")
    updates = []
    if "--update" in sys.argv:
        # Fold this run's points into the existing curve by PER-QUERY,
        # PER-METRIC MIN (the repo's cross-run discipline: host noise
        # only ever ADDS time/CPU, so the min over more runs converges
        # on the true cost).  This is how a point the load stamps
        # flagged gets re-measured under calm without redoing the whole
        # sweep: `--mults 20,40 --update`.
        with open(out) as f:
            prev = json.load(f)
        merged = prev.get("points", {})
        updates = prev.get("updates", [])
        _merge_points(merged, points)
        points = merged
        updates.append(
            "folded a re-measurement of "
            + ",".join(f"x{m}" for m in mults)
            + " by per-query min (wall, cpu; load1 = calmest observed)"
        )
    mults_eff = sorted(int(k[1:]) for k in points)

    base_q = points[f"x{mults_eff[0]}"]["queries"]
    ratios = {
        f"x{m}": {
            q: round(points[f"x{m}"]["queries"][q] / max(base_q[q], 1e-9), 2)
            for q in HEAVY
            if q in base_q and q in points[f"x{m}"]["queries"]
        }
        for m in mults_eff[1:]
    }
    # CPU ratios: the load-robust curve — adjudicate super-linearity
    # from THESE (wall ratios are an upper bound under host load)
    base_c = points[f"x{mults_eff[0]}"].get("queries_cpu", {})
    cpu_ratios = {
        f"x{m}": {
            q: round(
                points[f"x{m}"]["queries_cpu"][q] / max(base_c[q], 1e-9), 2
            )
            for q in HEAVY
            if q in base_c and q in points[f"x{m}"].get("queries_cpu", {})
        }
        for m in mults_eff[1:]
    }
    payload = {
        "metric": "heavy_tail_scale_curve",
        "base_sf_dir": BASE,
        "mults": mults_eff,
        "points": points,
        "updates": updates,
        "ratio_vs_x1": ratios,
        "ratio_vs_x1_cpu": cpu_ratios,
        "design": "weak-scaling: k independent key-offset sf0.1 shards under per-replica affine letter/digit permutations (distinct maps agree on <=2 chars, so replicas share no keys and no 3+-distinct-char tokens)",
        "methodology": (
            "round 7: one subprocess per (multiple, query), min-of-3, "
            "each query self-warmed at sf0.001, checkpoint residue "
            "released between passes — the prior shared-session points "
            "biased LATE-LISTED queries up to 2x by session state (x20 "
            "q175: 15.5s after q127/q149/q165 in one session vs 6.8-8.0s "
            "in its own; neither residue release nor forced System.gc() "
            "removed it), which is what the r6 curve's q175 x10->x20 "
            "'knee' (5.78->14.68) actually was. round 8: points beyond "
            "x2 additionally warm once at x2 — sf0.001 warm-up leaves "
            "the big points' AQE-chosen sort-merge-join codegen "
            "interpreter-cold (round-8 q037 profile: x40 rep0 "
            "burned 1305 executor-CPU-s vs ~260 steady; one x2 warm "
            "run cut the rep0 burn 2.5x), a ramp long enough at x40 "
            "that min-of-3 could not absorb it. round 9: every point "
            "carries per-query 'load1' (1-min host load at UNIT START, "
            "before the unit's own session spins up — the external-"
            "contention stamp; a few points of decaying tail from the "
            "previous unit are possible for ~1 min), 'x2_warm' (false = "
            "the x2 warm-up was skipped because .scale/x2 was missing; "
            "such a point is cold-plan and NOT comparable), per-query "
            "executor CPU ('queries_cpu', JVM task-thread CPU only — "
            "Python-worker decode CPU is invisible to it) and "
            "'ratio_vs_x1_cpu'. CPU on this sandbox itself swings 2-3x "
            "across identical reps (hypervisor interference, invisible "
            "to guest loadavg) — min-of-N across runs estimates CPU "
            "exactly as it does wall; '--update' folds a re-measurement "
            "of chosen points into the existing curve by per-query min. "
            "Set SPARK_GRAFT_MAX_LOAD1 to make units wait for calm "
            "instead of stamping"
        ),
        "q037_adjudication": (
            "round 8 (stage-level q037 profile, fresh subprocess per "
            "cell): q037's r7 x20->x40 step (9.50->30.26s, 3.2x for 2x "
            "data) is NOT algorithmic — shingle rows and edges are "
            "exactly 2x (5.21M->10.42M rows, 5200->10400 edges), "
            "steady-state executor CPU is ~2x (x20 ~150 CPU-s, x40 "
            "~260 CPU-s), spill is ZERO at 32 and 256 shuffle "
            "partitions, and per-stage splits (scan/window-cap/"
            "inverted-index) are all <=1.7x. The step was (a) the "
            "cold-plan C2 ramp above (rep0 at x40: 91s wall / 1305 "
            "CPU-s, decaying to 14-25s/260 CPU-s by rep1) plus (b) "
            "host wall variance: identical reps in one session span "
            "12.5-35.9s at x20 and 14.1-55.1s at x40 while their CPU "
            "stays flat — wall on this sandbox is load-bound, CPU is "
            "the reproducible signal"
        ),
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
