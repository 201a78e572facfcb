"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, metrics, model, report, stats  # noqa: E402

# --------------------------------------------------------------------------
# generators


@pytest.mark.parametrize("make", [
    lambda s: gen.import_inputs(s, 3),
    lambda s: (gen.table_base(s), gen.table_ops(s, 2)),
    gen.catalog_tables,
], ids=["import", "table", "catalog"])
def test_generator_is_deterministic_per_seed(make):
    assert gen.digest(make(5)) == gen.digest(make(5))
    assert gen.digest(make(5)) != gen.digest(make(6))


def test_import_batches_carry_every_input_kind():
    inputs = gen.import_inputs(3, 3)
    assert len(inputs["history"]) == gen.HISTORY
    m = model.ImportModel(inputs["instances"], inputs["code_lists"])
    m.load_history(inputs["history"])
    assert m.patches == {} and not m.completed
    for batch in inputs["batches"]:
        new = m.apply(batch)
        assert len(new) == gen.NEW_PER_BATCH
        # one redelivery, skipped as already imported
        assert len(batch["fetch"]) == gen.NEW_PER_BATCH + 1
    reasons = {reason for _payload, reason in m.dead}
    assert reasons == {model.UNDECODABLE, model.REJECTED}
    assert any(len(i["dimensions"]) > gen.PAGE_SIZE for i in inputs["instances"].values())
    assert not any(e[1] == "cl-time" for e in m.edges)  # time: no edge
    assert any(n[2] == "_time" for n in m.nodes)


# --------------------------------------------------------------------------
# correctness checks fail on an injected wrong row


def _import_outputs(m: model.ImportModel):
    """What a correct program writes, derived from the model."""
    nodes = [tuple(list(n[:4]) + [list(n[4]) if n[4] is not None else None])
             for n in sorted(m.nodes, key=str)]
    edges = sorted(m.edges, key=str)
    calls = [{"instance_id": iid,
              "updates": [json.loads(u) for u in c.elements()]}
             for iid, c in m.patches.items()]
    return nodes, edges, calls, list(m.completed.elements()), list(m.dead.elements())


def _import_model():
    inputs = gen.import_inputs(9, 2)
    m = model.ImportModel(inputs["instances"], inputs["code_lists"])
    m.load_history(inputs["history"])
    for batch in inputs["batches"]:
        m.apply(batch)
    return m


def test_import_check_passes_on_correct_output():
    m = _import_model()
    assert model.check_import(m, *_import_outputs(m)) == []


@pytest.mark.parametrize("which", range(5))
def test_import_check_fails_on_injected_wrong_row(which):
    m = _import_model()
    out = list(_import_outputs(m))
    if which == 0:  # a dimension node with a wrong option
        j = next(j for j, n in enumerate(out[0]) if n[0] == "dimension")
        k, i, n, o, h = out[0][j]
        out[0][j] = (k, i, n, o + "x", h)
    elif which == 1:  # an edge written twice
        out[1] = out[1] + out[1][:1]
    elif which == 2:  # a patch with a wrong order
        call = out[2][0]
        call["updates"][0] = dict(call["updates"][0], order=-1)
    elif which == 3:  # a completion event missing
        out[3] = out[3][1:]
    else:  # a dead letter with the wrong reason
        out[4][0] = (out[4][0][0], "other")
    assert model.check_import(m, *out)


def test_table_checks_fail_on_injected_wrong_row():
    t = model.TableModel(1, [(1, "a", 0), (2, "b", 0)])
    assert t.commit(2, t.upserted([(2, "c"), (3, "d")], 1)) == []
    assert model.check_rows(t.versions[2], [(1, "a", 0), (2, "c", 1), (3, "d", 1)], "x") == []
    assert model.check_rows(t.versions[2], [(1, "a", 0), (2, "b", 0), (3, "d", 1)], "x")
    assert model.check_rows(t.versions[2], [(1, "a", 0), (2, "c", 1)], "x")
    assert model.check_rows(t.versions[2], [(1, "a", 0), (1, "a", 0), (2, "c", 1),
                                            (3, "d", 1)], "x")
    want = t.delta(1, 2)
    assert want == {(2, "update", ("b", 0), ("c", 1)), (3, "insert", None, ("d", 1))}
    assert model.check_delta(want, list(want), "d") == []
    assert model.check_delta(want, [(2, "update", ("b", 0), ("x", 1)),
                                    (3, "insert", None, ("d", 1))], "d")
    # a write returning an existing version must leave its rows unchanged
    assert t.commit(2, t.deleted(1, 2))
    t.vacuum(1)
    assert t.retained() == [2]


def test_final_read_fails_on_wrong_compacted_row():
    t = model.TableModel(1, [(1, "a", 0), (2, "b", 0)])
    t.commit(2, t.upserted([(2, "c")], 1))
    t.commit(3, t.versions[2])  # compaction: same rows, new version
    good = {1: [(1, "a", 0), (2, "b", 0)], 2: [(1, "a", 0), (2, "c", 1)],
            3: [(2, "c", 1), (1, "a", 0)]}
    assert model.check_versions(t, good) == {}
    assert list(model.check_versions(t, {**good, 3: [(1, "a", 0), (2, "b", 0)]})) == [3]
    assert list(model.check_versions(t, {**good, 3: good[3] + [(2, "c", 1)]})) == [3]
    # a retained version that could not be read back (its files vacuumed)
    assert list(model.check_versions(t, {2: good[2], 3: good[3]})) == [1]


def test_query_check_fails_on_injected_wrong_row(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from perfbench import queries

    oracle = queries.adapter.call("registry.oracle_sql")
    name = "events_sessionize"
    assert name in queries.SAMPLE and name in oracle
    sf_dir = str(tmp_path / "catalog")
    queries.write_catalog(4, sf_dir)
    con = duckdb.connect()
    for t in gen.CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    good = con.execute(oracle[name]).fetchdf()
    bad = good.copy()
    col = bad.columns[-1]
    bad.loc[0, col] = bad.loc[0, col] + 1
    ops = [{"query": name, "pdf": good, "error": None},
           {"query": name, "pdf": bad, "error": None},
           {"query": name, "pdf": good.iloc[1:], "error": None},
           {"query": name, "pdf": None, "error": "boom"}]
    queries.check(ops, sf_dir)
    assert [o["ok"] for o in ops] == [True, False, False, False]


# --------------------------------------------------------------------------
# tail percentile


@pytest.mark.parametrize("n, p", [(5, None), (19, None), (20, 50), (21, 52),
                                  (100, 90), (200, 95), (1000, 99), (5000, 99)])
def test_tail_percentile_leaves_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= stats.TAIL_BEYOND
        if p < 99:  # the next percentile up leaves fewer than ten
            assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_BEYOND


def test_tail_value_is_the_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail(xs) == (90, 90.0)
    assert stats.tail(xs[:10]) == (None, None)


# --------------------------------------------------------------------------
# the timed window and the op summary


def test_window_runs_rounds_until_the_seconds_pass(tmp_path):
    h = harness.Harness({"work": str(tmp_path)}, None)
    ran = []
    rounds = [lambda i=i: ran.append(i) or i for i in range(5)]
    assert h.window(0, iter(rounds)) == [0]  # at least one round
    assert h.window(3600, iter(rounds)) == [0, 1, 2, 3, 4]  # at most all
    assert h.window_s >= 0


def test_kind_geomean_counts_each_kind_once():
    ops = [{"kind": "a", "latency": 1.0}, {"kind": "a", "latency": 3.0},
           {"kind": "a", "latency": 100.0}, {"kind": "b", "latency": 4.0}]
    # medians 3 and 4, whatever the number of ops of each kind
    assert report.kind_geomean(ops) == pytest.approx(math.sqrt(12))


# --------------------------------------------------------------------------
# BENCHMARK.json lists exactly the metrics the benchmark reports


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench == metrics.benchmark_json()
    assert {w["name"] for w in bench["workloads"]} == {"import", "table"}
