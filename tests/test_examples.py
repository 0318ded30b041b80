"""The examples/ walkthroughs must stay runnable — they are the
switch-from-the-reference story, and they drift silently otherwise
(round 6 caught a stale column name in a .show() chain this way).

Each runs as a subprocess at the tiny fixture scale with its own
SparkSession; failures surface the example's stderr tail. The
subprocesses launch CONCURRENTLY from a module-scoped fixture (r15):
they are independent JVMs, so running them 5 at a time cuts this
file's wall time from ~5 min (the single largest block in the suite)
to roughly the slowest example, without weakening any assertion —
each parametrized test still checks its own example's exit status.
"""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXAMPLES = [
    ("examples/index_and_search.py", ["--demo"]),
    ("examples/training_data_pipeline.py", ["/root/testdata/sf0.001"]),
    ("examples/event_analytics.py", ["/root/testdata/sf0.001"]),
    ("examples/vector_search.py", ["/root/testdata/sf0.001"]),
    ("examples/embedding_pipeline.py", ["/root/testdata/sf0.001"]),
    ("examples/snapshot_pipeline.py", []),
    ("examples/lakehouse_tour.py", []),
    ("examples/medallion_pipeline.py", []),
    ("examples/concurrent_lakehouse.py", []),
    ("examples/schema_evolution_tour.py", []),
]

# examples run at once; each JVM gets an equal share of the cores
POOL = 5


def _run_one(entry):
    script, args = entry
    # cap each example JVM's core count so the pool's concurrent
    # sessions share the box instead of oversubscribing it (the scripts
    # default to local[ncpu]); an explicit SPARK_GRAFT_CPUS still wins
    env = {**os.environ}
    env.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 1) // POOL)))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, script), *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
        env=env,
    )
    return script, proc


@pytest.fixture(scope="module")
def example_results():
    with ThreadPoolExecutor(max_workers=POOL) as pool:
        return dict(pool.map(_run_one, EXAMPLES))


@pytest.mark.parametrize("script,args", EXAMPLES, ids=[e[0] for e in EXAMPLES])
def test_example_runs_clean(script, args, example_results):
    proc = example_results[script]
    assert proc.returncode == 0, (
        f"{script} exited {proc.returncode}\n--- stderr tail ---\n"
        + proc.stderr[-2000:]
    )
