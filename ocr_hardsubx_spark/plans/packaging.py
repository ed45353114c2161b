"""--py-files packaging: ship the package to executor Python workers.

The north_rule requires the job to run under ``spark-submit --py-files`` on
a multi-executor cluster.  This helper builds the equivalent artifact (a
zip of the package) and registers it with ``SparkContext.addPyFile`` so
executor Python workers can import ``ocr_hardsubx_spark`` no matter where
the driver process started — the same code path spark-submit uses.

The zip is rebuilt only when a source file is newer than the artifact.
"""

from __future__ import annotations

import os
import zipfile

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the checkout root: data roots resolve against it, so a copy of the tree
# never reads from another checkout
REPO_DIR = os.path.dirname(_PKG_DIR)
DIST_ZIP = os.path.join(REPO_DIR, "dist", "ocr_hardsubx_spark.zip")

_registered: set[str] = set()


def build_pyfiles_zip(zip_path: str = DIST_ZIP) -> str:
    """Zip the package (plus the committed model JSONs) for --py-files."""
    sources = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    models_dir = os.path.join(REPO_DIR, "models")
    if os.path.isdir(models_dir):
        sources += [os.path.join(models_dir, f)
                    for f in os.listdir(models_dir) if f.endswith(".json")]
    newest = max(os.path.getmtime(p) for p in sources)
    if os.path.exists(zip_path) and os.path.getmtime(zip_path) >= newest:
        return zip_path
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sources:
            z.write(p, os.path.relpath(p, REPO_DIR))
    os.replace(tmp, zip_path)
    return zip_path


def ensure_workers_can_import(spark) -> None:
    """Idempotently attach the package zip to the running SparkContext."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _registered:
        return
    sc.addPyFile(build_pyfiles_zip())
    _registered.add(key)
