"""The registered queries the ``table`` workload runs after each storage
cycle, over a seeded catalog.

One op is one query's first call on its catalog copy: the registry call
(``query.fixture``) plus collecting the result (``query.exec``). Each round
reads its own copy of the catalog, so the operators' memo caches, which
key on DataFrame identity, cannot hit. Results are compared with the DuckDB
oracle after the window.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import adapter, gen

#: Fixed when the benchmark was defined: one query of a heavy operator
#: module (``analytics``) that has an oracle and adds about 1 s to a round.
#: Each other sampled query added 3-10 s to a run, which the time all runs
#: of the benchmark may take did not leave room for.
SAMPLE = ("events_sessionize",)


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def write_catalog(seed: int, sf_dir: str) -> None:
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)
    for name, table in gen.catalog_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def one(h, queries, name: str, sf_dir: str, op: str) -> dict:
    fn = queries[name]
    mod = module_of(fn)
    t0 = time.perf_counter()
    error, pdf, t1 = None, None, t0
    try:
        with h.tracer.span(f"operators.{mod}", op):
            with h.tracer.span("query.fixture", op):
                df = fn(h.spark, sf_dir)
            t1 = time.perf_counter()
            with h.tracer.span("query.exec", op):
                pdf = df.toPandas()
    except Exception as e:  # an op that raises counts as failed
        error = repr(e)[:300]
    t2 = time.perf_counter()
    h.tracer.resolve_jobs()
    return {"op": op, "kind": mod, "query": name, "latency": t2 - t0,
            "fixture_s": t1 - t0, "exec_s": t2 - t1, "error": error, "pdf": pdf}


def check(ops: list[dict], sf_dir: str) -> None:
    """Fill each op's ``ok``/``errors`` by comparing its rows with the
    DuckDB oracle's."""
    import duckdb
    from tests.compare import canon_rows

    oracle = adapter.call("registry.oracle_sql")
    con = duckdb.connect()
    try:
        for t in gen.CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        want: dict[str, tuple] = {}
        for rec in ops:
            pdf = rec.pop("pdf")
            name = rec["query"]
            if rec.pop("error") is not None:
                bad = ["raised"]
            else:
                if name not in want:
                    want[name] = canon_rows(con.execute(oracle[name]).fetchdf())
                bad = [] if canon_rows(pdf) == want[name] else ["oracle mismatch"]
            rec.update(ok=not bad, errors=bad)
    finally:
        con.close()
