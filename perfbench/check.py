"""Output check for the benchmark, run after the timed passes.

A query with an oracle is compared dtype-strict, as ``oracle_sweep.py``
compares it, against its committed sf0.1 truth fixture when one exists
and against the DuckDB oracle otherwise. A query with no oracle, or
whose oracle is pinned to another corpus (``sf_pinned``), is checked by
row count against the value recorded in ``workloads.py``.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import oracle_sweep


def same_frame(spark_out: pd.DataFrame, truth: pd.DataFrame) -> bool:
    """oracle_sweep's comparison: same columns, rows and dtypes, in any order."""
    cols = sorted(spark_out.columns)
    if cols != sorted(truth.columns):
        return False
    a = spark_out[cols].sort_values(cols).reset_index(drop=True)
    b = truth[cols].sort_values(cols).reset_index(drop=True)
    return a.equals(b)


def check_outputs(registry: dict, outputs: dict[str, pd.DataFrame], sf_dir: str,
                  rows: dict[str, int]) -> dict[str, str]:
    """Return {query name: reason} for every output that does not match."""
    con = duckdb.connect()
    for t in oracle_sweep.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    digest = oracle_sweep.corpus_digest(sf_dir)
    bad: dict[str, str] = {}
    for name, out in outputs.items():
        q = registry[name]
        short = name.split("_", 1)[0]
        if q.oracle is None or q.sf_pinned:
            if len(out) != rows[short]:
                bad[name] = f"{len(out)} rows, expected {rows[short]}"
            continue
        fixture = oracle_sweep.fixture_path(name, q.oracle, digest)
        if os.path.exists(fixture) and oracle_sweep.fixture_content_ok(fixture):
            truth = pd.read_parquet(fixture)
        else:
            truth = con.execute(q.oracle).fetchdf()
        if not same_frame(out, truth):
            bad[name] = f"output differs from the oracle ({len(out)} vs {len(truth)} rows)"
    con.close()
    return bad
