"""Declared queries stage indexes, checkpoints and corpora in temporary
directories that their returned DataFrames read lazily, and the job
manager and in-memory job queue keep their results in one when no
directory is given; each one is removed when the interpreter exits."""

import os
import subprocess
import sys

_CHILD = """
import os
from dataweb_spark.session import scratch_dir
d = scratch_dir("dw_scratch_probe_")
os.makedirs(os.path.join(d, "index", "part"))
with open(os.path.join(d, "index", "part", "f.parquet"), "w") as f:
    f.write("x")
print(d)
"""

_JOBS_CHILD = """
import os
from dataweb_spark.catalog.model import RelayCatalog, Web
from dataweb_spark.jobs.manager import JobManager
from dataweb_spark.jobs.store import InMemoryJobQueue
web = Web()
web.add_relay(RelayCatalog(name="r"))
m = JobManager(None, web, "r")
q = InMemoryJobQueue()
for d in (m.results_dir, os.path.join(q.root, "results")):
    with open(os.path.join(d, "part.parquet"), "w") as f:
        f.write("x")
print(m.results_dir)
print(q.root)
"""


def _run_child(code: str) -> list[str]:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    return out.stdout.strip().splitlines()


def test_scratch_dir_removed_at_interpreter_exit():
    d = _run_child(_CHILD)[-1]
    assert os.path.basename(d).startswith("dw_scratch_probe_")
    assert not os.path.exists(d)


def test_scratch_dir_outlives_the_call():
    from dataweb_spark.session import scratch_dir
    d = scratch_dir("dw_scratch_probe_")
    assert os.path.isdir(d)


def test_job_result_dirs_removed_at_interpreter_exit():
    results_dir, queue_root = _run_child(_JOBS_CHILD)[-2:]
    assert os.path.basename(results_dir).startswith("dataweb_results_")
    assert os.path.basename(queue_root).startswith("dw_jobs_")
    assert not os.path.exists(results_dir)
    assert not os.path.exists(queue_root)
