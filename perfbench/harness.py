"""Checkout isolation, Spark sessions and process-tree sampling.

Everything the benchmark and its child processes write lands under
``<checkout>/.perfbench``: corpora, job outputs, the IVF layout, Spark's
local dirs, event logs, JVM and Python temp files.  The program under test
is imported only from this checkout, and the run fails when the driver or a
Python worker resolves it anywhere else.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")


class BenchError(RuntimeError):
    """The benchmark cannot produce a valid result (no metrics printed)."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def inside_checkout(path: str) -> bool:
    real = os.path.realpath(path)
    return real == ROOT or real.startswith(ROOT + os.sep)


def isolate() -> None:
    """Route temp and scratch locations of this process and every child it
    starts into WORK.  Must run before pyspark is imported: the JVM and the
    Python workers inherit this environment when the gateway launches."""
    import tempfile

    spark_local = os.path.join(WORK, "spark-local")
    for d in (TMP, spark_local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program and this module from the checkout
    os.environ["PYTHONPATH"] = ROOT
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if p not in ("", ROOT, os.path.dirname(__file__))]


def _import_program() -> list[str]:
    """Import the program the way a caller of this checkout does and return
    the files the imports resolved to.  ``__spark_entry__`` prepends a fixed
    directory to ``sys.path`` on import; entries it adds outside the
    checkout are dropped again so later imports cannot leave it."""
    before = list(sys.path)
    import ocr_hardsubx_spark  # before __spark_entry__ changes sys.path
    import __spark_entry__
    from ocr_hardsubx_spark.operators import extract
    from ocr_hardsubx_spark.plans import dataset_queries

    sys.path[:] = [p for p in sys.path if p in before or inside_checkout(p)]
    return [ocr_hardsubx_spark.__file__, __spark_entry__.__file__,
            extract.__file__, dataset_queries.__file__]


def import_program() -> None:
    """Driver side of the checkout check."""
    try:
        files = _import_program()
    except ImportError as e:
        raise BenchError(f"program not importable from {ROOT}: {e}") from e
    outside = [f for f in files if not inside_checkout(f)]
    if outside:
        raise BenchError(f"program resolved outside the checkout: {outside}")


def _worker_probe(batches):
    """mapInPandas body: warm the worker's imports (the extraction stage's,
    as bench.py does) and report where the program resolves in the worker.
    ``__spark_entry__`` is located, not imported: importing it would put
    its fixed directory on the worker's ``sys.path``."""
    import importlib.util

    import pandas as pd

    import ocr_hardsubx_spark
    from ocr_hardsubx_spark.operators import extract

    files = [ocr_hardsubx_spark.__file__, extract.__file__,
             importlib.util.find_spec("__spark_entry__").origin]
    for _ in batches:
        yield pd.DataFrame({"path": files})


def start_session(cores: int, app: str, event_dir: str | None = None):
    """get_spark plus Python-worker warm-up.  Returns (spark, start_s,
    warm_s).  The warm-up runs the checkout probe in every task slot, so a
    worker that imports the program from elsewhere fails the run."""
    from ocr_hardsubx_spark.plans.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     # the default zstd codec needs the zstandard package
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    paths = {r["path"] for r in (
        spark.range(cores * 4, numPartitions=cores * 4)
        .mapInPandas(_worker_probe, schema="path string").collect())}
    t2 = time.perf_counter()
    outside = sorted(p for p in paths if not inside_checkout(p))
    if outside or not paths:
        raise BenchError(f"workers resolved the program outside the "
                         f"checkout: {outside}")
    return spark, t1 - t0, t2 - t1


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and every process it started."""
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = set(_tree(os.getpid())) - {os.getpid()}
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = {p for p in pids if _alive(p)}
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = {p for p in alive if _alive(p)}
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree(root: int) -> list[int]:
    """``root``, its children (the gateway JVM) and the Python daemon and
    workers below them.  Other descendants are left out: a process the JVM
    is spawning shares the JVM's memory until it execs, so counting it
    would count the JVM twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out = [root] + children.get(root, [])
    todo = [c for p in out[1:] for c in children.get(p, ())]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                python = b"pyspark." in f.read()
        except OSError:
            continue
        if python:
            out.append(p)
            todo.extend(children.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it.  Summed over a process tree it counts pages
    shared by forked children (Python workers, the JVM's spawn helper) once,
    where summed RSS would count them once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class TreeSampler:
    """Peak resident memory of this process and all its descendants (the
    gateway JVM and its Python workers), sampled from /proc as summed PSS.
    ``parts`` splits the peak sample into driver, JVM and Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = _tree(me)
            pss = {p: _pss_bytes(p) for p in pids}
            total = sum(pss.values())
            if total > self.peak:
                self.peak = total
                jvm = pids[1] if len(pids) > 1 else None
                self.parts = {
                    "driver": pss[me], "jvm": pss.get(jvm, 0),
                    "workers": total - pss[me] - pss.get(jvm, 0)}
            self._stop.wait(self.interval)
