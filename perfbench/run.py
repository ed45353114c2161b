#!/usr/bin/env python3
"""spark-extract benchmark: run one workload, check it, report metrics.

    python3 perfbench/run.py --workload extract|battery --seed N \\
        --seconds S --trace 0|1

Runs one workload at ``local[nproc]`` in this checkout, checks its output
against an oracle, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is a JSON detail record (``detail``);
the traced run also writes its fold and spans summary under
``.perfbench/records/``.  Workloads and metrics are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness as h  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
SETUPS = 3          # sessions set up per run; setup_s is their median
MIN_REPS = 3        # extraction jobs timed per run, at least
OPTRACE_DOCS = 1024

# bench.py's HEADLINE_QUERIES at the commit that introduced this benchmark,
# in its order; the battery is defined here so that it stays fixed
BATTERY = (
    "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q_broadcast_dim_join", "q_top1_per_group",
    "q_window_dedup", "q_dedup_exact", "q_minhash_dup_candidates",
    "q_simhash", "q_simhash_candidates", "q_ann_cosine_topk",
    "q_ann_ivf_topk", "q_ann_ivf_pruned_topk", "q_ivf_train_step",
    "q_embed_neardup",
    "q_stream_dedup_shadow", "q_triplet_consistency",
    "q_url_canonicalize", "q_token_stats", "q_lang_id",
    "q_hll_distinct", "q_pq_adc_topk", "q_ivfpq_topk", "q_lm_perplexity",
    "q_pq_train_step", "q_pack_plan_global", "q_pack_assemble",
    "q_bm25_topk", "q_dsir", "q_semdedup",
    "q_gopher_repetition", "q_paragraph_dedup", "q_substring_dedup_apply",
    "q_pdf_extract", "q_pdf_main_content",
    "q_outlinks", "q_pagerank", "q_snapshot_dedup",
    "q_http_gate", "q_crawl_scheduler", "q_mojibake_fix",
    "q_domain_rollup", "q_lang_ppl_buckets",
)

# per-layer metrics from the event-log fold: name -> (fold field, unit)
SPARK_SUMS = {
    "spark.scan.s": ("scan_s", "s"),
    "spark.scan.bytes": ("input_bytes", "bytes"),
    "spark.shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.spill.bytes": ("spill_bytes", "bytes"),
    "spark.python.start_s": ("python_start_s", "s"),
    "spark.python.init_s": ("python_init_s", "s"),
    "spark.python.run_s": ("python_run_s", "s"),
    "spark.python.bytes_out": ("python_bytes_out", "bytes"),
    "spark.python.bytes_in": ("python_bytes_in", "bytes"),
    "spark.write.bytes": ("output_bytes", "bytes"),
    "spark.write.commit_s": ("commit_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.exec.cpu_s": ("cpu_s", "s"),
    "spark.exec.run_s": ("run_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
}
OP_UNITS = {"parse.mb_per_s": "MB/s", "parse.regions_per_doc": "count",
            "grouping.groups_per_doc": "count",
            "extract.inproc_docs_per_s": "docs/s"}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs) -> float:
    return float(statistics.median(xs))


class Result:
    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict = {"workload": workload, "seed": seed,
                             "nproc": h.nproc(),
                             "loadavg_start": os.getloadavg()[0],
                             "phases_s": {}}
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Mark the end of a phase (seconds since the run started)."""
        self.detail["phases_s"][name] = round(time.perf_counter() - self._t0,
                                              2)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def setups(cores: int, app: str, res: Result, event_dir: str | None,
           warm_jvm=None):
    """SETUPS session set-ups; the last one stays up for the workload.
    Only that one logs events, so the fold sees the measured calls only.
    ``warm_jvm(spark)``, if given, runs untimed in the first session: the
    JVM outlives its sessions, so the measured one starts JIT-warm."""
    starts, warms = [], []
    for k in range(SETUPS):
        last = k == SETUPS - 1
        spark, s, w = h.start_session(cores, app,
                                      event_dir if last else None)
        starts.append(s)
        warms.append(w)
        if k == 0 and warm_jvm is not None:
            warm_jvm(spark)
            res.phase("warmup")
        if not last:
            spark.stop()
    res.put("setup_s", median([s + w for s, w in zip(starts, warms)]), "s")
    res.put("session.start_s", median(starts), "s")
    res.put("session.worker_warm_s", median(warms), "s")
    res.detail["setups_s"] = [round(s + w, 3) for s, w in zip(starts, warms)]
    res.phase("setups")
    return spark


def tagged(spark, desc: str | None) -> None:
    spark.sparkContext.setJobDescription(desc)


# ---------------------------------------------------------------- extract

def check_extracted(out_dir: str, run_id: str, golden: dict,
                    res: Result) -> None:
    """Every input url must come out once, with the pinned golden text."""
    import pyarrow.dataset as ds

    from perfbench.corpus import digest

    t = ds.dataset(os.path.join(out_dir, "data", f"run_id={run_id}"),
                   format="parquet").to_table(
        columns=["url", "extracted_text"]).to_pydict()
    seen = set()
    for url, text in zip(t["url"], t["extracted_text"]):
        want = golden.get(url)
        if url in seen or want is None:
            res.fail(f"extract: unexpected or repeated url {url}")
        elif digest((text or "").encode("utf-8")) != want:
            res.fail(f"extract: text differs from golden for {url}")
        seen.add(url)
    for url in golden.keys() - seen:
        res.fail(f"extract: url missing from output {url}")
    res.attempted += len(golden)


def time_jobs(spark, corpus_dir: str, work: str, golden: dict, res: Result,
              seconds: float, reps: int, desc: str | None):
    """Timed run_extraction_job calls on fresh output dirs, each checked.
    Returns (walls, job-reported wall_ms / 1e3)."""
    from ocr_hardsubx_spark.plans.pipeline import run_extraction_job

    walls, inner = [], []
    deadline = time.perf_counter() + seconds
    while len(walls) < reps or time.perf_counter() < deadline:
        out = os.path.join(work, f"out{len(walls)}")
        tagged(spark, desc)
        t0 = time.perf_counter()
        summary = run_extraction_job(spark, corpus_dir, out)
        walls.append(time.perf_counter() - t0)
        tagged(spark, None)
        inner.append(summary["wall_ms"] / 1e3)
        check_extracted(out, summary["run_id"], golden, res)
        shutil.rmtree(out, ignore_errors=True)
    return walls, inner


def run_extract(args, res: Result) -> None:
    from perfbench import corpus

    cores = h.nproc()
    work = os.path.join(h.WORK, "extract")
    shutil.rmtree(work, ignore_errors=True)
    corpus_dir = os.path.join(work, "corpus")
    idx = corpus.sample(args.seed)
    stale, urls = corpus.write_corpus(corpus_dir, idx)
    for i in stale:
        res.fail(f"extract: input page {i} differs from its pinned digest")
    pinned = corpus.load_digests()
    golden = {url: pinned[i][1] for i, url in zip(idx, urls)}
    res.detail["docs"] = len(idx)
    res.phase("corpus")

    from ocr_hardsubx_spark.plans import pipeline
    from ocr_hardsubx_spark.plans.pipeline import run_extraction_job

    def warm_jvm(spark):
        # the first jobs in a JVM run up to ~2x slower while the JIT
        # compiles the scan, Arrow and write paths (README.md)
        out = os.path.join(work, "warm")
        run_extraction_job(spark, corpus_dir, out)
        shutil.rmtree(out, ignore_errors=True)

    event_dir = os.path.join(work, "events") if args.trace else None
    spark = setups(cores, "perfbench-extract", res, event_dir, warm_jvm)

    pending = []
    if args.trace:
        real = pipeline.pending_input_files

        def timed_pending(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real(*a, **kw)
            finally:
                pending.append(time.perf_counter() - t0)
        pipeline.pending_input_files = timed_pending

    desc = "extract:run_extraction_job"
    walls, inner = time_jobs(spark, corpus_dir, work, golden, res,
                             args.seconds, MIN_REPS, desc)
    wall = median(walls)
    res.detail["walls_s"] = [round(w, 3) for w in walls]
    res.put("wall_s", wall, "s")
    res.put("docs_per_s", len(idx) / wall, "docs/s")
    res.phase("timed")
    if not args.trace:
        spark.stop()
        return

    res.put("trace.wall_s", wall, "s")
    res.put("pipeline.pending_s", median(pending), "s")
    res.put("pipeline.commit_s",
            median([w - i for w, i in zip(walls, inner)]), "s")
    spark.stop()
    put_spark_layers(res, event_dir, [desc], sum(walls), len(walls), cores)

    # the same corpus on one core: base of the scaling efficiency; the JVM
    # is warm by now, and one job takes ~20 s, so two are timed
    spark, _s, _w = h.start_session(1, "perfbench-extract-1core")
    walls1, _ = time_jobs(spark, corpus_dir, work, golden, res, 0, 2, None)
    spark.stop()
    one = len(idx) / median(walls1)
    res.put("extract.docs_per_s_1core", one, "docs/s")
    res.put("extract.scaling_eff", (len(idx) / wall) / (cores * one),
            "ratio")
    res.detail["scaling_base"] = {"docs_per_s": len(idx) / wall,
                                  "docs_per_s_1core": one, "nproc": cores}
    res.phase("one_core")

    from perfbench import optrace

    batches = read_batches(corpus_dir, OPTRACE_DOCS)
    for name, value in optrace.run(batches).items():
        unit = OP_UNITS.get(name, "s" if name.endswith("_s") else "ratio")
        res.put(name, value, unit)
    res.phase("optrace")


def read_batches(corpus_dir: str, n: int) -> list:
    """The first ``n`` corpus rows as pandas batches of the size Spark's
    Arrow transfer uses for the extraction stage."""
    import pyarrow.dataset as ds
    from ocr_hardsubx_spark.config import ARROW_MAX_RECORDS_PER_BATCH

    t = ds.dataset(corpus_dir, format="parquet", partitioning="hive") \
        .to_table(columns=["url", "warc_ts", "html", "lang"]).slice(0, n)
    return [b.to_pandas() for b in
            t.to_batches(max_chunksize=ARROW_MAX_RECORDS_PER_BATCH)]


# ---------------------------------------------------------------- battery

def run_battery(args, res: Result) -> None:
    import __spark_entry__ as entry
    from ocr_hardsubx_spark.plans import dataset_queries as dq

    from perfbench import oracles

    cores = h.nproc()
    work = os.path.join(h.WORK, "battery")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = setups(cores, "perfbench-battery", res, event_dir)

    # ingest-time layout: built once per checkout, outside setup and timing
    dq.IVF_LAYOUT_BASE = os.path.join(h.WORK, "ivf_layout")
    tagged(spark, "battery:ensure_ivf_layout")
    dq.ensure_ivf_layout(spark, SF_DIR)
    res.phase("ivf_layout")

    qs, times, frames = entry.queries(), {}, {}
    for name in BATTERY:
        tagged(spark, f"battery:{name}")
        t0 = time.perf_counter()
        try:
            frames[name] = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:  # a failing query is a failed operation
            res.fail(f"battery: {name} raised {type(e).__name__}: {e}"[:300])
        times[name] = time.perf_counter() - t0
    tagged(spark, None)
    wall = sum(times.values())
    res.put("wall_s", wall, "s")
    res.put("docs_per_s", _documents_rows() / wall, "docs/s")
    res.detail["query_s"] = {k: round(v, 3) for k, v in times.items()}
    res.phase("timed")

    oracle_sql = entry.oracle_sql()
    con = oracles.duckdb_connection(SF_DIR, cores, h.TMP)
    try:
        for name, got in frames.items():
            why = oracles.frames_match(got, con.execute(oracle_sql[name]).df())
            if why:
                res.fail(f"battery: {name}: {why}"[:300])
    finally:
        con.close()
    res.attempted += len(BATTERY)
    res.phase("oracles")
    spark.stop()
    if not args.trace:
        return

    res.put("trace.wall_s", wall, "s")
    for name, t in times.items():
        res.put(f"query.{name}_s", t, "s")
    put_spark_layers(res, event_dir, [f"battery:{n}" for n in BATTERY],
                     wall, 1, cores)
    run_curation(res, work, cores, oracle_sql)


def _documents_rows() -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(SF_DIR, "documents.parquet")) \
        .metadata.num_rows


def run_curation(res: Result, work: str, cores: int,
                 oracle_sql: dict) -> None:
    """The curation job in a fresh application (cold session caches), as
    scripts/run_curation.py runs it, checked against the DuckDB oracles of
    the six operators it composes."""
    from ocr_hardsubx_spark.plans.curation import (
        read_curated,
        run_curation_job,
    )
    from ocr_hardsubx_spark.plans.packaging import ensure_workers_can_import

    from perfbench import eventlog, oracles

    event_dir = os.path.join(work, "curate-events")
    spark, _s, _w = h.start_session(cores, "perfbench-curate", event_dir)
    ensure_workers_can_import(spark)
    out = os.path.join(work, "curated")
    desc = "curate:run_curation_job"
    tagged(spark, desc)
    t0 = time.perf_counter()
    summary = run_curation_job(spark, SF_DIR, out)
    wall = time.perf_counter() - t0
    got_ids = {r["doc_id"] for r in
               read_curated(spark, out).select("doc_id").collect()}
    tagged(spark, None)
    spark.stop()
    want_ids, want_census = oracles.expected_curation(
        SF_DIR, oracle_sql, cores, h.TMP)
    got_census = [v["n_docs"] for v in summary["stages"].values()]
    res.attempted += 2
    if got_ids != want_ids:
        res.fail(f"curate: {len(got_ids ^ want_ids)} doc_ids differ")
    if got_census != want_census:
        res.fail(f"curate: census {got_census} vs oracle {want_census}")
    res.detail["curation_census"] = got_census
    res.phase("curation")

    row = next((r for r in eventlog.fold(event_dir)
                if r["description"] == desc), None)
    res.put("curation.wall_s", wall, "s")
    res.put("curation.jobs", row["jobs"] if row else 0, "count")
    res.put("curation.documents_scans",
            sum(loc.endswith("documents.parquet]")
                for loc in (row["scan_locations"] if row else ())), "count")


def put_spark_layers(res: Result, event_dir: str, descs: list[str],
                     wall: float, calls: int, cores: int) -> None:
    """Spark-side per-layer metrics of the tagged calls, per call."""
    from perfbench import eventlog

    rows = [r for r in eventlog.fold(event_dir) if r["description"] in descs]
    for name, (field, unit) in SPARK_SUMS.items():
        res.put(name, sum(r[field] for r in rows) / calls, unit)
    run = sum(r["run_s"] for r in rows)
    res.put("spark.idle_core_ratio", 1.0 - run / (wall * cores), "ratio")
    widest = max(rows, key=lambda r: r["widest_stage_tasks"], default=None)
    res.put("spark.task_skew",
            widest["task_max_s"] / widest["task_median_s"]
            if widest and widest["task_median_s"] else 0.0, "ratio")
    os.makedirs(os.path.join(h.WORK, "records"), exist_ok=True)
    with open(os.path.join(h.WORK, "records",
                           f"{res.workload}-{res.seed}-fold.json"), "w") as f:
        json.dump(rows, f, indent=1)


WORKLOADS = {"extract": run_extract, "battery": run_battery}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        spec = load_spec()
        h.isolate()
        h.import_program()
        res = Result(args.workload, args.seed)
        with h.TreeSampler() as sampler:
            try:
                WORKLOADS[args.workload](args, res)
            finally:
                h.shutdown_jvm()
        res.phase("shutdown")
        res.put("peak_rss_mb", sampler.peak / 2**20, "MB")
        res.detail["peak_rss_mb"] = round(sampler.peak / 2**20)
        res.detail["peak_parts_mb"] = {k: round(v / 2**20)
                                       for k, v in sampler.parts.items()}
    except Exception:
        traceback.print_exc()
        return 1

    names = [m["name"] for m in
             spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in
             spec["per_layer" if args.trace else "end_to_end"]}
    metrics = {}
    for name in names:
        value, unit = res.metrics.get(name, (0.0, units[name]))
        if unit != units[name]:
            print(f"unit of {name}: measured {unit}, declared {units[name]}",
                  file=sys.stderr)
            return 1
        metrics[name] = {"value": value, "unit": unit}
    res.detail.update(failures=res.failures,
                      loadavg_end=os.getloadavg()[0])
    print(json.dumps({"detail": res.detail}))
    print(json.dumps({"correct": res.failed == 0 and res.attempted > 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
