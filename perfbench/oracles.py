"""Output checks for the workloads.

Rows are compared the way ``tests/test_entry_contract.py`` compares a query
with its DuckDB oracle (sorted column names, order-insensitive rows, floats
to 9 significant digits), with one rule added: floats compare by value, so
``0.0`` equals ``-0.0``.  Spark and DuckDB may disagree on the sign of a
zero produced by the same arithmetic (``q_dsir``'s ``dsir_weight``).
"""

from __future__ import annotations

import math
import os


def canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v + 0.0:.9g}"  # -0.0 + 0.0 == +0.0
    return str(v)


def rows_set(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for _, r in pdf.iterrows())


def frames_match(got, want) -> str | None:
    """None when the two frames hold the same rows, else why not."""
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    if sorted(map(str.lower, got.columns)) != sorted(map(str.lower,
                                                         want.columns)):
        return f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = rows_set(got), rows_set(want)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"value mismatch, first diffs: {diff}"
    return None


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_connection(sf_dir: str, threads: int, temp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


CURATION_GATES = ("q_url_filter", "q_gopher_rules", "q_gopher_repetition",
                  "q_c4_clean", "q_dedup_keep_list", "q_quality_cut_trained")


def expected_curation(sf_dir: str, oracle_sql: dict, threads: int,
                      temp_dir: str) -> tuple[set, list]:
    """(surviving doc_ids, per-stage doc census) from the DuckDB oracles of
    the six operators the curation job composes, gated as
    ``tests/test_curation_job.py::_expected_keep`` gates them.  The
    near-dedup keep list covers clustered docs only; others pass."""
    con = duckdb_connection(sf_dir, threads, temp_dir)
    try:
        keep = [dict(con.execute(
            f"SELECT doc_id, keep FROM ({oracle_sql[q]})").fetchall())
            for q in CURATION_GATES]
    finally:
        con.close()
    alive = set(keep[0])
    census = [len(alive)]
    for q, k in zip(CURATION_GATES, keep):
        default = q == "q_dedup_keep_list"
        alive = {i for i in alive if k.get(i, default)}
        census.append(len(alive))
    return alive, census
