"""Per-layer counters, read from outside the engine package.

Nothing here touches ``big_data_training_spark``: each layer is observed
through what Spark, the OS or the harness itself exposes.

* driver:   wall time inside ``fn()`` (plan building) and inside the action,
            CPU of the Python driver and of the gateway JVM (/proc/<pid>/stat).
* sched:    jobs, executed stages and tasks, from the UI REST API ``/jobs`` and
            ``/stages``. Queries run one at a time, so a query owns every job
            whose id is above the highest id seen before it started.
* exec:     executor run, CPU and GC time of those stages.
* shuffle:  shuffle bytes written and read, bytes spilled (memory + disk).
* py:       the five "Python workers" SQL metrics of the query's SQL
            executions (``/sql/<id>?details=true``).
* stream:   ``StreamingQueryProgress`` of every micro-batch, through a
            listener on the user session (the engine mirrors user listeners
            onto its pinned session clones).
* cache / residue: persistent RDDs, streams started but not terminated,
            temporary views, and new ``bdts_*`` scratch dirs, read after the
            query returns.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# Counters summed over a pass. Residue counters are levels, not sums.
SUMMED = (
    "driver.fn_s",
    "driver.action_s",
    "driver_py.cpu_s",
    "jvm.cpu_s",
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.spill_bytes",
    "py.worker_start_s",
    "py.worker_init_s",
    "py.worker_run_s",
    "py.sent_bytes",
    "py.returned_bytes",
    "stream.triggers",
    "stream.trigger_s",
    "stream.add_batch_s",
    "stream.planning_s",
    "stream.commit_s",
    "stream.state_commit_s",
    "stream.state_rows",
)
LEVELS = (
    "cache.persistent_rdds",
    "residue.active_streams",
    "residue.temp_views",
    "residue.scratch_dirs",
)

_PY_METRICS = {
    "time to start Python workers": "py.worker_start_s",
    "time to initialize Python workers": "py.worker_init_s",
    "time to run Python workers": "py.worker_run_s",
    "data sent to Python workers": "py.sent_bytes",
    "data returned from Python workers": "py.returned_bytes",
}
_UNITS = {
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def parse_metric(value: str) -> float:
    """Value of a rendered SQL metric: "10.2 s", "1519.5 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form, whose total is the
    first figure of the last line."""
    m = _VALUE.match(value.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric value: {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def scratch_dirs() -> set[str]:
    root = tempfile.gettempdir()
    return {e for e in os.listdir(root) if e.startswith("bdts_")}


class _ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress and the start/stop balance."""

    def __init__(self) -> None:
        self.started = 0
        self.terminated = 0
        self.progress: list[dict[str, float]] = []

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators or []
        self.progress.append(
            {
                "stream.triggers": 1,
                "stream.trigger_s": d.get("triggerExecution", 0) / 1e3,
                "stream.add_batch_s": d.get("addBatch", 0) / 1e3,
                "stream.planning_s": d.get("queryPlanning", 0) / 1e3,
                "stream.commit_s": (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)
                )
                / 1e3,
                "stream.state_commit_s": sum(op.commitTimeMs for op in ops)
                / 1e3,
                "stream.state_rows": sum(op.numRowsUpdated for op in ops),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1


class Tracer:
    """Collects one record of per-layer counters per query execution.

    ``before()`` and ``after()`` bracket the timed region; everything slow
    (draining the listener bus, REST reads, catalog reads) happens in
    ``after()`` once the harness has stopped its clock."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.jvm_pid = sc._gateway.proc.pid
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        self.bus = sc._jsc.sc().listenerBus()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self.collect_s = 0.0
        self.scratch0 = scratch_dirs()
        self._drain()
        self.last_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)
        self.last_sql = max(
            (e["id"] for e in self._get("/sql?details=false&length=1000000")),
            default=-1,
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _drain(self) -> None:
        # Events reach the status store and the listener asynchronously;
        # after this every event posted so far has been handled.
        self.bus.waitUntilEmpty(120_000)

    def before(self) -> None:
        self._cpu0 = (proc_cpu_s(self.jvm_pid), time.process_time())
        self._n_progress = len(self.listener.progress)

    def after(self) -> dict[str, float]:
        cpu1 = (proc_cpu_s(self.jvm_pid), time.process_time())
        t0 = time.perf_counter()
        rec = dict.fromkeys(SUMMED, 0)
        rec["jvm.cpu_s"] = cpu1[0] - self._cpu0[0]
        rec["driver_py.cpu_s"] = cpu1[1] - self._cpu0[1]
        self._drain()

        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        rec["sched.jobs"] = len(jobs)
        for s in self._get("/stages?details=false"):
            if s["stageId"] not in stage_ids or s["status"] == "SKIPPED":
                continue
            rec["sched.stages"] += 1
            rec["sched.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            rec["exec.run_s"] += s["executorRunTime"] / 1e3
            rec["exec.cpu_s"] += s["executorCpuTime"] / 1e9
            rec["exec.gc_s"] += s["jvmGcTime"] / 1e3
            rec["shuffle.write_bytes"] += s["shuffleWriteBytes"]
            rec["shuffle.read_bytes"] += s["shuffleReadBytes"]
            rec["shuffle.spill_bytes"] += (
                s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            )

        new_sql = [
            e["id"]
            for e in self._get("/sql?details=false&length=1000000")
            if e["id"] > self.last_sql
        ]
        for sql_id in new_sql:
            ex = self._get(f"/sql/{sql_id}?details=true&planDescription=false")
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key and m["value"]:
                        rec[key] += parse_metric(m["value"])
        if new_sql:
            self.last_sql = max(new_sql)

        for p in self.listener.progress[self._n_progress :]:
            for k, v in p.items():
                rec[k] += v

        rec["cache.persistent_rdds"] = (
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )
        rec["residue.active_streams"] = (
            self.listener.started - self.listener.terminated
        )
        rec["residue.temp_views"] = sum(
            t.isTemporary for t in self.spark.catalog.listTables()
        )
        rec["residue.scratch_dirs"] = len(scratch_dirs() - self.scratch0)
        self.collect_s += time.perf_counter() - t0
        return rec

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
