"""A copy of the tree imports only itself.

``__spark_entry__.py``, the package and its data roots resolve against
the directory they live in, so a checkout anywhere on disk (a benchmark's
fresh directory, a CI workspace) never reaches into another checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
import __spark_entry__
import ocr_hardsubx_spark
from ocr_hardsubx_spark.plans import dataset_queries, queries
print(json.dumps([__spark_entry__.__file__, ocr_hardsubx_spark.__file__,
                  queries.FIXTURES_DIR, dataset_queries.IVF_LAYOUT_BASE]))
"""


def test_copied_tree_imports_itself(tmp_path):
    copy = tmp_path / "checkout"
    copy.mkdir()
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), copy)
    shutil.copytree(os.path.join(ROOT, "ocr_hardsubx_spark"),
                    copy / "ocr_hardsubx_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", PROBE], cwd=copy, env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    paths = json.loads(r.stdout.strip().splitlines()[-1])
    inside = os.path.realpath(copy) + os.sep
    for p in paths:
        assert os.path.realpath(p).startswith(inside), p
