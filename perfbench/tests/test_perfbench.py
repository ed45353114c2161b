"""The benchmark's own checks: event-log fold schema, metric names and the
signed-zero comparator.  Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, eventlog, harness, oracles  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_follow_the_rule():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    for w in spec["workloads"]:
        assert NAME.fullmatch(w["name"]), w


def test_emitted_metrics_are_declared():
    """Every per-layer name run.py fills in is declared, so none is
    silently reported as 0."""
    from perfbench import optrace, run

    declared = {m["name"] for m in _spec()["per_layer"]}
    emitted = ({f"{layer}.self_s" for layer in optrace.LAYERS}
               | set(run.SPARK_SUMS)
               | {f"query.{q}_s" for q in run.BATTERY})
    assert emitted <= declared, emitted - declared


def test_signed_zero_compares_by_value():
    assert oracles.canon(-0.0) == oracles.canon(0.0) == "0"
    assert oracles.canon(float("nan")) == "nan"
    assert oracles.canon(1 / 3) == "0.333333333"
    a = pd.DataFrame({"doc_id": [1938, 2], "w": [0.0, 1.5]})
    b = pd.DataFrame({"doc_id": [2, 1938], "w": [1.5, -0.0]})
    assert oracles.frames_match(a, b) is None
    c = pd.DataFrame({"doc_id": [1938, 2], "w": [1e-12, 1.5]})
    assert "value mismatch" in oracles.frames_match(a, c)
    assert "row count" in oracles.frames_match(a, a.head(1))
    assert "schema" in oracles.frames_match(
        a, a.rename(columns={"w": "weight"}))


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    """A tiny traced run: 200 fixture pages through the extraction job and
    one query on the shipped sf0.001 tables, with the event log on."""
    harness.isolate()
    harness.import_program()
    import __spark_entry__ as entry
    from ocr_hardsubx_spark.plans.pipeline import run_extraction_job

    tmp = tmp_path_factory.mktemp("fold")
    docs = str(tmp / "corpus")
    stale, _urls = corpus.write_corpus(docs, list(range(200)))
    assert not stale
    events = str(tmp / "events")
    spark, _s, _w = harness.start_session(2, "perfbench-tests", events)
    try:
        sc = spark.sparkContext
        sc.setJobDescription("t:extract")
        run_extraction_job(spark, docs, str(tmp / "out"))
        sc.setJobDescription("t:query")
        entry.queries()["q_token_stats"](
            spark, os.path.join(ROOT, "perfbench", "data", "sf0.001")) \
            .write.format("noop").mode("overwrite").save()
        sc.setJobDescription(None)
    finally:
        harness.shutdown_jvm()
    return {r["description"]: r for r in eventlog.fold(events)}


def test_fold_schema(folded):
    assert {"t:extract", "t:query"} <= set(folded)
    for row in folded.values():
        assert list(row) == list(eventlog.FIELDS)
        for k, t in eventlog.FIELDS.items():
            assert isinstance(row[k], t), (k, row[k])
            if t is float:
                assert math.isfinite(row[k]) and row[k] >= 0, (k, row[k])


def test_fold_attributes_work_to_its_call(folded):
    ext, q = folded["t:extract"], folded["t:query"]
    for row in (ext, q):
        assert row["jobs"] >= 1 and row["stages"] >= 1 and row["tasks"] >= 1
        assert row["wall_s"] > 0 and row["run_s"] > 0
    # the extraction stage ships html to Python workers and writes parquet
    assert ext["python_bytes_out"] > 200 * 1000
    assert ext["python_bytes_in"] > 0 and ext["output_bytes"] > 0
    assert ext["commit_s"] > 0
    assert any(loc.endswith("documents.parquet]")
               for loc in q["scan_locations"])
    assert q["output_bytes"] == 0
