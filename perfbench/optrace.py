"""In-process spans around the extraction operators, recorded from outside.

``extract_pandas_batch`` and ``finish_document`` call the operators through
their modules' globals, so rebinding those names on ``operators.extract``
and ``operators.assemble`` puts a span around every call without touching
the program.  Spans stay in memory; self time is a span's duration minus
the time its direct children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np

# layer -> (module attribute, function name); the modules' own bindings
LAYERS = {
    "extract.batch": ("extract", "extract_pandas_batch"),
    "parse": ("extract", "parse_document"),
    "cascade.features": ("extract", "feature_matrix"),
    "cascade.stage1": ("extract", "stage1_gate"),
    "assemble": ("extract", "finish_document"),
    "cascade.nms": ("assemble", "nms_with_forest"),
    "cascade.stage2": ("assemble", "stage2_with_recovery"),
    "grouping": ("assemble", "group_regions"),
    "grouping.feedback": ("assemble", "feedback_absorb"),
    "normalize": ("assemble", "normalize_text"),
    "dedup": ("assemble", "dedup_consecutive"),
}


class Recorder:
    """Spans as parallel lists: (layer, start, end, parent index)."""

    def __init__(self):
        self.layer: list[str] = []
        self.start: list[float] = []
        self.end: list[float] = []
        self.parent: list[int] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, layer: str, fn, counter=None):
        def traced(*args, **kwargs):
            k = len(self.layer)
            self.layer.append(layer)
            self.parent.append(self._stack[-1] if self._stack else -1)
            self.end.append(0.0)
            self._stack.append(k)
            self.start.append(time.perf_counter())
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end[k] = time.perf_counter()
                self._stack.pop()
            if counter is not None:
                counter(self, args, out)
            return out
        return traced

    def self_times(self) -> dict[str, float]:
        dur = np.array(self.end) - np.array(self.start)
        child = np.zeros(len(dur))
        par = np.array(self.parent, dtype=np.int64)
        has = par >= 0
        np.add.at(child, par[has], dur[has])
        out: dict[str, float] = {}
        for name, s in zip(self.layer, dur - child):
            out[name] = out.get(name, 0.0) + float(s)
        return out


# counters at the layer boundaries: work in, useful work out
def _parse(rec, args, out):
    html = args[0]
    rec.count("parse.bytes", len(html))
    rec.count("parse.docs", 1)
    rec.count("parse.regions", len(out[0]))


def _stage1(rec, args, out):
    rec.count("stage1.in", len(out[0]))
    rec.count("stage1.accepted", int(np.count_nonzero(out[0])))


def _nms(rec, args, out):
    rec.count("nms.in", len(args[1]))
    rec.count("nms.kept", len(out[0]))


def _stage2(rec, args, out):
    rec.count("stage2.in", len(args[0]))
    rec.count("stage2.kept", len(out))


def _groups(rec, args, out):
    rec.count("grouping.docs", 1)
    rec.count("grouping.groups", len(out))


def _dedup(rec, args, out):
    rec.count("dedup.in", len(args[0]))
    rec.count("dedup.kept", len(out))


COUNTERS = {"parse": _parse, "cascade.stage1": _stage1,
            "cascade.nms": _nms, "cascade.stage2": _stage2,
            "grouping": _groups, "dedup": _dedup}


@contextmanager
def traced_operators(rec: Recorder):
    """Rebind the operator names for the duration of the block."""
    from ocr_hardsubx_spark.operators import assemble, extract

    mods = {"extract": extract, "assemble": assemble}
    saved = []
    for layer, (mod, name) in LAYERS.items():
        m = mods[mod]
        saved.append((m, name, getattr(m, name)))
        setattr(m, name, rec.wrap(layer, getattr(m, name),
                                  COUNTERS.get(layer)))
    try:
        yield
    finally:
        for m, name, fn in reversed(saved):
            setattr(m, name, fn)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def run(batches: list, passes: int = 3) -> dict:
    """Extract ``batches`` (pandas frames of url/html/lang) in process,
    alternating untraced and traced passes; returns the per-layer metrics
    of the median traced pass and the tracing overhead."""
    from ocr_hardsubx_spark.operators import extract
    from ocr_hardsubx_spark.sources.model_store import load_models

    nm1, nm2 = load_models()
    docs = sum(len(b) for b in batches)

    def once():
        t0 = time.perf_counter()
        for b in batches:
            extract.extract_pandas_batch(b, nm1, nm2)
        return time.perf_counter() - t0

    once()  # warm caches and lazy imports
    plain, traced = [], []
    for _ in range(passes):
        plain.append(once())
        rec = Recorder()
        with traced_operators(rec):
            traced.append((once(), rec))
    traced.sort(key=lambda x: x[0])
    wall, rec = traced[len(traced) // 2]
    plain_wall = sorted(plain)[len(plain) // 2]
    st, c = rec.self_times(), rec.counts
    m = {f"{layer}.self_s": st.get(layer, 0.0) for layer in LAYERS}
    m.update({
        "parse.mb_per_s": _ratio(c["parse.bytes"] / 1e6, st["parse"]),
        "parse.regions_per_doc": _ratio(c["parse.regions"], c["parse.docs"]),
        "cascade.stage1.accept_ratio": _ratio(c["stage1.accepted"],
                                              c["stage1.in"]),
        "cascade.nms.keep_ratio": _ratio(c["nms.kept"], c["nms.in"]),
        "cascade.stage2.keep_ratio": _ratio(c["stage2.kept"],
                                            c["stage2.in"]),
        "grouping.groups_per_doc": _ratio(c["grouping.groups"],
                                          c["grouping.docs"]),
        "dedup.keep_ratio": _ratio(c["dedup.kept"], c["dedup.in"]),
        "extract.inproc_docs_per_s": docs / plain_wall,
        # share of the traced wall covered by layer self times
        "trace.op_coverage": _ratio(sum(st.values()), wall),
        "trace.op_overhead_ratio": wall / plain_wall - 1.0,
    })
    return m
