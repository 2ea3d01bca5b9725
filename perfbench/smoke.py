"""Smoke test of the environment a benchmark run gets.

    python3 perfbench/smoke.py

Runs one Python-UDF query (``w3_window_apply``, a FlatMapGroupsInPandas)
at sf0.001 from a working directory outside the repository, with the
environment ``run.py`` gives a benchmark run, and checks that

* its row count matches the DuckDB oracle: a Python worker that cannot
  import the engine fails the query with ``ModuleNotFoundError``;
* ``git status`` of the repository reads the same before and after, so the
  run wrote nothing into the tree.

Needs a git checkout. Exits non-zero on failure.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import tempfile

from run import ROOT, child_env, stop_group

QUERY = "w3_window_apply"

_CHILD = """
import sys
query, root = sys.argv[1:]
sys.path.insert(0, root + "/tools")
from verify_oracle import duck_connection
from big_data_training_spark import get_session
from big_data_training_spark.registry import all_queries
spec = all_queries()[query]
sf = root + "/perfbench/data/sf0.001"
n = spec.fn(get_session("perfbench-smoke"), sf).count()
want = len(duck_connection(sf).execute(spec.oracle).fetchall())
print(f"{query}: {n} rows, oracle {want}", flush=True)
sys.exit(0 if n == want else 1)
"""


def git_status() -> str:
    return subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=all"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def main() -> int:
    before = git_status()
    work = tempfile.mkdtemp(prefix="perfbench-smoke-")
    try:
        proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD, QUERY, ROOT],
            cwd=work,
            env=child_env(work),
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = git_status()
    ok = rc == 0 and before == after
    if rc != 0:
        print(f"FAIL: {QUERY} from a foreign working directory (exit {rc})")
    if before != after:
        print(f"FAIL: git status changed:\n--- before\n{before}--- after\n{after}")
    if ok:
        print(f"ok: {QUERY} passed from a foreign working directory; git status unchanged")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
