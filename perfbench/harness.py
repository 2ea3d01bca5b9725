"""One benchmark run: set up, check values, then a cold and several warm passes.

Started by ``run.py`` in a fresh interpreter whose working directory is a
scratch directory and whose ``PYTHONPATH`` holds the repository root. The
engine is driven only through its public entry points: ``get_session``,
``all_queries()[name].fn(spark, sf_dir)`` and ``.count()``. One client
thread runs the queries one after another (a closed loop).

Phases:

1. set-up (``setup_s``): interpreter start to session up, registry import,
   and a warm-up pass of every query at the smallest fixture. The warm-up
   collects each result and compares it in full with the DuckDB oracle;
   the comparison itself is outside the set-up clock.
2. DuckDB row counts of every query at the measured scale (untimed).
3. the cold pass: each query's first execution at the measured scale.
4. warm passes, at least ``min_warm_passes`` of them and more until
   ``--seconds`` have passed since the cold pass began.

Every execution's ``.count()`` is checked against the oracle's row count; a
raise or a wrong count is a failed execution. With ``--trace 1`` the
per-layer counters of ``layers.Tracer`` are read after every execution,
outside its timed region.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import statistics
import subprocess
import sys
import time
import traceback

from workloads import WORKLOADS

import layers


class _Collected:
    """A collected result, shaped like the DataFrame the oracle check takes."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def percentile_level(n: int) -> int:
    """Highest whole percentile with at least ten samples above it."""
    if n <= 10:
        raise ValueError(f"{n} samples leave no percentile with 10 above it")
    return math.floor(100 * (n - 10) / n)


def nearest_rank(values: list[float], level: int) -> float:
    ordered = sorted(values)
    return ordered[max(0, math.ceil(level / 100 * len(ordered)) - 1)]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    load1_start = os.getloadavg()[0]
    data = os.path.join(args.root, "perfbench", "data")
    warm_dir = os.path.join(data, "sf0.001")
    sf_dir = os.path.join(data, "sf0.01")

    from big_data_training_spark import get_session

    spark = get_session("perfbench")
    session_up = time.time()
    # Harness-only imports, outside every clock: the shared oracle
    # connection and the test suite's compare and dtype policy.
    sys.path.insert(0, os.path.join(args.root, "tools"))
    from verify_oracle import duck_connection
    from conftest import assert_matches_oracle

    t0 = time.perf_counter()
    from big_data_training_spark.registry import all_queries

    specs = all_queries()
    registry_s = time.perf_counter() - t0
    missing = [q for q in wl.queries if q not in specs]
    if missing:
        raise SystemExit(f"queries not in the registry: {missing}")

    attempted = 0
    failures: list[dict] = []

    warm_spark_s = 0.0
    warm_duck = duck_connection(warm_dir)
    for q in wl.queries:
        attempted += 1
        t0 = time.perf_counter()
        try:
            pdf = specs[q].fn(spark, warm_dir).toPandas()
        except Exception:
            warm_spark_s += time.perf_counter() - t0
            failures.append({"query": q, "phase": "warmup", "error": traceback.format_exc(limit=3)})
            continue
        warm_spark_s += time.perf_counter() - t0
        try:
            assert_matches_oracle(_Collected(pdf), warm_duck, specs[q].oracle)
        except Exception as e:
            failures.append({"query": q, "phase": "warmup", "error": f"value check: {e}"[:600]})
    warm_duck.close()
    setup_s = (session_up - args.spawned) + registry_s + warm_spark_s

    t_oracle = time.perf_counter()
    duck = duck_connection(sf_dir)
    expected = {q: len(duck.execute(specs[q].oracle).fetchall()) for q in wl.queries}
    duck.close()
    oracle_s = time.perf_counter() - t_oracle

    tracer = layers.Tracer(spark) if args.trace else None
    rng = random.Random(args.seed)
    passes: list[list[dict]] = []
    orders: list[list[str]] = []
    measure_start = time.perf_counter()
    while len(passes) < 1 + wl.min_warm_passes or (
        time.perf_counter() - measure_start < args.seconds
    ):
        order = rng.sample(wl.queries, len(wl.queries))
        orders.append(order)
        samples = []
        for q in order:
            attempted += 1
            if tracer:
                tracer.before()
            t0 = time.perf_counter()
            t1 = None
            err = None
            try:
                df = specs[q].fn(spark, sf_dir)
                t1 = time.perf_counter()
                n = df.count()
                if n != expected[q]:
                    err = f"{n} rows, oracle has {expected[q]}"
            except Exception:
                err = traceback.format_exc(limit=3)
            t2 = time.perf_counter()
            t1 = t1 or t2
            rec = tracer.after() if tracer else {}
            rec.update({"driver.fn_s": t1 - t0, "driver.action_s": t2 - t1})
            samples.append({"query": q, "s": t2 - t0, "layers": rec})
            if err:
                phase = "cold" if not passes else f"warm{len(passes)}"
                failures.append({"query": q, "phase": phase, "error": err[-600:]})
        passes.append(samples)

    measured_s = time.perf_counter() - measure_start
    cold, warm = passes[0], passes[1:]
    warm_lat = [s["s"] for p in warm for s in p]
    level = percentile_level(wl.min_warm_passes * len(wl.queries))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    jvm_hwm_kb = layers.vm_hwm_kb(jvm_pid)
    py_hwm_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    peak_rss_mb = (jvm_hwm_kb + py_hwm_kb) / 1024
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(s["s"] for s in cold), "s"),
        "warm_pass_s": (statistics.median(sum(s["s"] for s in p) for p in warm), "s"),
        "query_p50_s": (statistics.median(warm_lat), "s"),
        "query_p90_s": (nearest_rank(warm_lat, level), "s"),
        "ok_frac": (1 - len(failures) / attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }

    per_layer: dict[str, tuple[float, str]] = {
        "session.start_s": (session_up - args.spawned, "s"),
        "registry.import_s": (registry_s, "s"),
    }
    per_query: dict[str, dict] = {}
    if tracer:
        tracer.close()
        for name in layers.SUMMED:
            unit = layers.unit(name)
            per_layer[name] = (
                statistics.median(sum(s["layers"][name] for s in p) for p in warm),
                unit,
            )
            per_layer[f"cold.{name}"] = (sum(s["layers"][name] for s in cold), unit)
        for name in layers.LEVELS:
            per_layer[name] = (
                max(s["layers"][name] for p in passes for s in p),
                "count",
            )
        per_layer["trace.warm_pass_s"] = end_to_end["warm_pass_s"]
        per_layer["trace.collect_s"] = (tracer.collect_s / len(passes), "s")
        for p_i, p in enumerate(passes):
            for s in p:
                d = per_query.setdefault(s["query"], {"cold": {}, "warm": {}})
                side = d["cold"] if p_i == 0 else d["warm"]
                for k, v in s["layers"].items():
                    side[k] = side.get(k, 0) + v / (1 if p_i == 0 else len(warm))

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master,
            "load1": [load1_start, os.getloadavg()[0]],
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": __import__("duckdb").__version__,
            "git_commit": _git_commit(args.root),
            "sf": 0.01,
            "warmup_sf": 0.001,
        },
        "phases_s": {
            "session_start": session_up - args.spawned,
            "registry_import": registry_s,
            "warmup_spark": warm_spark_s,
            "oracle_counts": oracle_s,
            "measured": measured_s,
        },
        "peak_rss_kb": {"jvm": jvm_hwm_kb, "python": py_hwm_kb},
        "pass_orders": orders,
        "samples": {
            "warm_executions": len(warm_lat),
            "query_p50_s": f"median of {len(warm_lat)} warm executions",
            "query_p90_s": (
                f"p{level} (nearest rank) of {len(warm_lat)} warm executions; "
                f"p{level} is the highest percentile with >= 10 samples above "
                f"it at {wl.min_warm_passes} warm passes"
            ),
            "warm_pass_s": f"median of {len(warm)} warm passes",
        },
        "query_s": {
            q: {
                "cold": next(s["s"] for s in cold if s["query"] == q),
                "warm_median": statistics.median(
                    s["s"] for p in warm for s in p if s["query"] == q
                ),
            }
            for q in wl.queries
        },
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "per_query_layers": per_query,
    }
    metrics = end_to_end if not args.trace else per_layer
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump({"record": record, "result": result}, f)
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # No spark.stop(): run.py kills the whole process group (the gateway
    # JVM and its Python workers) and waits for it, which takes a fraction
    # of the seconds a clean stop spends on state it then deletes.
    os._exit(rc)
