"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload batch_jvm --seed 1 --seconds 10 --trace 0

Run from the repository root. The run itself (``harness.py``) happens in a
child interpreter, in its own process group, with:

* a scratch working directory under ``perfbench/.work`` so that nothing the
  engine writes (j3's ``saveAsTable`` warehouse, Spark local dirs, temp
  files, checkpoints) lands in the repository tree; after the run it is
  moved to ``perfbench/.work/done`` (see ``discard``);
* the repository root on ``PYTHONPATH`` before the JVM starts, because
  Python workers launched from a foreign working directory cannot import
  the engine otherwise;
* ``local[N]`` with N the number of usable CPUs.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full record (environment, pass orders, sample
counts, per-query times, failures and, when traced, per-query layers).
The exit code is non-zero, with no result line, if the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def child_env(work: str) -> dict[str, str]:
    """Environment for engine code run with ``work`` (created here) as its
    scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    java_opts = [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    return dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # The engine sizes the driver heap at a quarter of physical RAM; a
        # fixed heap keeps runs on machines with different RAM comparable,
        # and a heap the run fills keeps peak RSS from following G1's
        # run-to-run heap-expansion choices.
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(java_opts).strip(),
    )


def discard(work: str) -> None:
    """Move a finished run's scratch directory aside, to ``.work/done``.

    Deleting it costs more than it is worth: each RocksDB state-store
    instance preallocates and syncs a 4 MiB MANIFEST, and files written more
    than a few seconds ago are already on disk, so on a disk mounted with
    online discard a stream_replay run's directory takes 5-40 s to unlink
    and leaves a discard backlog that slows the next run. A rename is free.
    Remove ``perfbench/.work`` by hand when the disk space is wanted."""
    done = os.path.join(HERE, ".work", "done")
    os.makedirs(done, exist_ok=True)
    os.rename(work, os.path.join(done, os.path.basename(work)))


def stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    out = os.path.join(work, "result.json")
    try:
        env = child_env(work)
        cmd = [
            sys.executable,
            os.path.join(HERE, "harness.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--root", ROOT,
            "--out", out,
            "--spawned", repr(time.time()),
        ]
        # The child's stdout goes to our stderr: only this script writes
        # the result lines to stdout.
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.exists(out):
            print(f"run failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        discard(work)
    print(json.dumps(res["record"], separators=(",", ":")))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
