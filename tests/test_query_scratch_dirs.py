"""Declared queries stage indexes, checkpoints and corpora in temporary
directories that their returned DataFrames read lazily; each one is
removed when the interpreter exits."""

import os
import subprocess
import sys

_CHILD = """
import os
from dataweb_spark.queries import _scratch_dir
d = _scratch_dir("dw_scratch_probe_")
os.makedirs(os.path.join(d, "index", "part"))
with open(os.path.join(d, "index", "part", "f.parquet"), "w") as f:
    f.write("x")
print(d)
"""


def test_scratch_dir_removed_at_interpreter_exit():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", _CHILD], cwd=repo,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("dw_scratch_probe_")
    assert not os.path.exists(d)


def test_scratch_dir_outlives_the_call():
    from dataweb_spark.queries import _scratch_dir
    d = _scratch_dir("dw_scratch_probe_")
    assert os.path.isdir(d)
