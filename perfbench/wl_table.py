"""``table`` workload: one keyed snapshot table under a fixed mix of writes,
reads and maintenance through ``storage``, and after each cycle of that mix
one registered query per heavy operator module (``queries.SAMPLE``) over a
seeded catalog.

One op is one verb call or one query; a read op includes collecting its
rows. Inputs for an op (source DataFrames) are built before its timing
starts, and its result is compared with the dict model after it ends.
``WARMUP`` cycles run untimed, then the window runs one cycle after another
until ``--seconds`` have passed. After the window the latest version and
every retained one are read back and compared with the model, so a
compaction or vacuum that loses, duplicates or changes rows fails too, and
the queries' results are compared with the DuckDB oracle.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import adapter, gen, queries
from perfbench.harness import SETUPS
from perfbench.model import TableModel, check_delta, check_rows, check_versions
from perfbench.spans import dir_usage

#: Cycles run before the window, untimed. The first cycle in a fresh JVM
#: takes about twice as long as the next ones, and the second is still
#: 15-25% slower than the third.
WARMUP = 2
#: Cycles generated per run, more than the window can run.
MAX_CYCLES = 8
_SCHEMA = "k bigint, val string, seq bigint"


def _frame(spark, rows: list[tuple[int, str, int]]):
    pdf = pd.DataFrame(rows, columns=["k", "val", "seq"])
    return spark.createDataFrame(pdf, _SCHEMA)


def _collect(df) -> list[tuple]:
    pdf = df.select("k", "val", "seq").toPandas()
    return list(zip(pdf["k"].tolist(), pdf["val"].tolist(), pdf["seq"].tolist()))


def _parquet_bytes(rows: dict) -> int:
    t = pa.table({"k": pa.array(list(rows), pa.int64()),
                  "val": [v for v, _ in rows.values()],
                  "seq": pa.array([s for _, s in rows.values()], pa.int64())})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression=adapter.CODEC)
    return buf.tell()


def _manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, "_manifests", f"v{version}.json")) as f:
        return json.load(f)


def _delta_groups(man: dict) -> int:
    return len((man.get("mor") or {}).get("deltas") or [])


def _live_files(man: dict) -> int:
    mor = man.get("mor") or {}
    return len(man.get("files") or []) + sum(len(g) for g in mor.get("deltas") or [])


class TableRun:
    """Set-up: write the base table and index its key."""

    def __init__(self, h, base: list[tuple], path: str):
        self.h, self.path = h, path
        self.spark = h.spark
        shutil.rmtree(path, ignore_errors=True)
        v = adapter.call("storage.write", self.spark, path, _frame(self.spark, base))
        adapter.call("storage.index_bloom", self.spark, path)
        self.model = TableModel(v, base)
        self.seq = 0
        #: version -> the record of the op that committed it
        self.committed_by: dict[int, dict] = {}

    def _write(self, verb: str, op: dict) -> tuple[dict, object]:
        """(expected rows, thunk running the verb)."""
        s, path, m = self.spark, self.path, self.model
        self.seq += 1
        seq = self.seq
        if verb in ("upsert_delta", "merge_into"):
            df = _frame(s, [(k, v, seq) for k, v in op["rows"]])
            return m.upserted(op["rows"], seq), lambda: adapter.call(
                f"storage.{verb}", s, path, df)
        pred = f"k >= {op['lo']} AND k < {op['hi']}"
        if verb == "delete_where":
            return m.deleted(op["lo"], op["hi"]), lambda: adapter.call(
                "storage.delete_where", s, path, pred)
        sets = {"val": f"'{op['tag']}'", "seq": f"CAST({seq} AS BIGINT)"}
        return m.updated(op["lo"], op["hi"], op["tag"], seq), lambda: adapter.call(
            "storage.update_where", s, path, sets, pred)

    def _read(self, verb: str, op: dict):
        """(check(result) -> errors, thunk running the verb and collecting)."""
        s, path, m = self.spark, self.path, self.model
        if verb == "read_latest":
            want = m.versions[m.latest]
            return (lambda got: check_rows(want, got, "read_latest"),
                    lambda: _collect(adapter.call("storage.read_latest", s, path)))
        if verb == "read_point":
            latest = m.versions[m.latest]
            want = {k: latest[k] for k in op["keys"] if k in latest}
            return (lambda got: check_rows(want, got, "read_point"),
                    lambda: _collect(adapter.call("storage.read_point", s, path,
                                                  op["keys"])))
        # the version before the latest: the same distance back in every
        # run, so the read resolves the same kind of history
        v, base = m.retained()[-1], m.retained()[-2]
        if verb == "read_asof":
            want = m.versions[base]
            return (lambda got: check_rows(want, got, f"read_asof v{base}"),
                    lambda: _collect(adapter.call("storage.read_asof", s, path, base)))
        want = m.delta(base, v)

        def run():
            rows = adapter.call("storage.version_delta", s, path, v, base).collect()
            return [(r["k"], r["change_type"],
                     (r["_old"]["val"], r["_old"]["seq"]) if r["_old"] else None,
                     (r["_new"]["val"], r["_new"]["seq"]) if r["_new"] else None)
                    for r in rows]

        return (lambda got: check_delta(want, got, f"version_delta v{base}->v{v}"), run)

    def step(self, verb: str, op: dict, op_id: str) -> dict:
        h, m = self.h, self.model
        groups = _delta_groups(_manifest(self.path, m.latest))
        checker = None
        if verb in gen.WRITE_VERBS:
            want, thunk = self._write(verb, op)
        elif verb == "compact_mor":
            want = m.versions[m.latest]
            thunk = lambda: adapter.call("storage.compact_mor", self.spark, self.path)  # noqa: E731
        elif verb == "vacuum":
            thunk = lambda: adapter.call("storage.vacuum", self.spark, self.path,  # noqa: E731
                                         gen.VACUUM_KEEP)
        else:
            checker, thunk = self._read(verb, op)
        t = time.perf_counter()
        error, out = None, None
        try:
            with h.tracer.span(f"storage.{verb}", op_id):
                out = thunk()
        except Exception as e:  # an op that raises counts as failed
            error = repr(e)[:300]
        latency = time.perf_counter() - t
        h.tracer.resolve_jobs()
        rec = {"op": op_id, "kind": verb, "latency": latency, "delta_groups": groups}
        if error:
            bad = [error]
        elif checker is not None:
            bad = checker(out)
        elif verb == "vacuum":
            m.vacuum(gen.VACUUM_KEEP)
            bad = []
        else:
            prev = m.versions[m.latest]
            new_version = out not in m.versions
            bad = m.commit(out, want)
            if new_version and not bad:
                self.committed_by[out] = rec
            if verb in gen.WRITE_VERBS and h.tracer.enabled:
                changed = {k: r for k, r in want.items() if prev.get(k) != r}
                changed.update({k: r for k, r in prev.items() if k not in want})
                rec["user_bytes"] = _parquet_bytes(changed) if changed else 0
        rec.update(ok=not bad, errors=bad)
        return rec

    def check_retained(self, ops: list[dict]) -> None:
        """Read the latest and every retained version back (untimed) and
        fail the op that committed a version whose rows are wrong; a read
        that raises fails the last op, the vacuum."""
        m, got = self.model, {}
        for v in m.retained():
            try:
                df = (adapter.call("storage.read_latest", self.spark, self.path)
                      if v == m.latest else
                      adapter.call("storage.read_asof", self.spark, self.path, v))
                got[v] = _collect(df)
            except Exception as e:
                _fail(ops[-1], f"final read v{v}: {repr(e)[:300]}")
        for v, bad in check_versions(m, got).items():
            if v in got:
                for msg in bad:
                    _fail(self.committed_by.get(v, ops[-1]), msg)


def _fail(rec: dict, msg: str) -> None:
    rec["errors"].append(msg)
    rec["ok"] = False


def run(h, seed: int, seconds: float) -> dict:
    """``WARMUP`` cycles, then the window's cycles, on one table; each
    cycle's queries read a fresh copy of the catalog."""
    registered = adapter.call("registry.queries")
    catalog = h.path("catalog")
    queries.write_catalog(seed, catalog)
    base, cycles = gen.table_base(seed), gen.table_ops(seed, WARMUP + MAX_CYCLES)
    t = h.setup(lambda i: TableRun(h, base, h.path(f"table{i}")))
    for i in range(SETUPS - 1):
        shutil.rmtree(h.path(f"table{i}"))
    path = t.path
    h.tracer.probe("table_files", lambda: dir_usage(path)[0])
    h.tracer.probe("table_bytes", lambda: dir_usage(path)[1])

    def cycle(c: int):
        def go() -> list[dict]:
            ops = [t.step(op["verb"], op, f"c{c}-{i}") for i, op in enumerate(cycles[c])]
            sf_dir = h.path(f"catalog{c}")
            shutil.copytree(catalog, sf_dir)
            return ops + [queries.one(h, registered, name, sf_dir, f"c{c}-{name}")
                          for name in queries.SAMPLE]
        return go

    warmup = [o for c in range(WARMUP) for o in cycle(c)()]
    ops = [o for r in h.window(seconds, (cycle(c) for c in range(WARMUP, len(cycles))))
           for o in r]
    t.check_retained([o for o in warmup + ops if "query" not in o])
    queries.check([o for o in warmup + ops if "query" in o], catalog)
    man = _manifest(path, t.model.latest)
    return {
        "ops": ops,
        "warmup": warmup,
        "live_files": _live_files(man),
        "space_amp": dir_usage(path)[1]
        / _parquet_bytes(t.model.versions[t.model.latest]),
    }
