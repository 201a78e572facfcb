"""Optimistic-concurrency pins for the snapshot commit protocol (r12,
r11 verdict #3 — the Iceberg/Delta shape): racing APPENDERS both
succeed (the loser rebases its manifest onto the winner's head and
takes the next version — no lost update), while read-modify-write verbs
whose derivation went stale refuse loudly with ConcurrentCommitError
instead of silently clobbering the competing commit (the pre-r12
behavior retried the stale manifest under the next number, which
DROPPED the racing appender's files from the new latest).

Races are injected deterministically: os.link — the atomic claim every
commit funnels through — is wrapped so the FIRST claim of the contested
version number lands a competing commit before linking, making the
verb under test lose the race exactly once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="conc_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows, ddl="k bigint, v double"):
    return spark.createDataFrame([Row(*r) for r in rows], ddl)


class _RaceOnce:
    """Wrap os.link: the first time the contested manifest version is
    claimed, run ``competitor()`` (which commits through the REAL link)
    and only then forward the original claim — which now collides."""

    def __init__(self, monkeypatch, contested_basename, competitor):
        self._real = os.link
        self._contested = contested_basename
        self._competitor = competitor
        self._fired = False
        monkeypatch.setattr(os, "link", self)

    def __call__(self, src, dst, **kw):
        if (
            not self._fired
            and os.path.basename(dst) == self._contested
            and not os.path.exists(dst)
        ):
            self._fired = True
            self._competitor()
        return self._real(src, dst, **kw)


def test_racing_appenders_both_succeed(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 1.0)]), path, stats_cols=["k"]
        )

        def competitor():
            storage.write_snapshot(
                spark, _df(spark, [(2, 2.0)]), path,
                mode="append", stats_cols=["k"],
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        v = storage.write_snapshot(
            spark, _df(spark, [(3, 3.0)]), path,
            mode="append", stats_cols=["k"],
        )
        assert v == 3  # rebased onto the competitor's v2, took v3
        got = storage.read_snapshot(spark, path)
        assert sorted((r["k"], r["v"]) for r in got.collect()) == [
            (1, 1.0), (2, 2.0), (3, 3.0)
        ]
        # BOTH writers' files and stats survive in the final manifest
        man = storage._load_manifest(path, 3)
        assert len(man["files"]) == len(man["stats"])
        v2_files = set(storage._load_manifest(path, 2)["files"])
        assert v2_files < set(man["files"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_racing_delete_vs_update_second_refuses(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, float(i)) for i in range(8)]), path
        )

        def competitor():
            storage.delete_where_snapshot(spark, path, "k = 1")

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(storage.ConcurrentCommitError, match="re-run"):
            storage.update_where_snapshot(
                spark, path, {"v": F.lit(0.0)}, "k = 1"
            )
        # the table head is the DELETE's result, untouched by the loser
        got = storage.read_snapshot(spark, path)
        assert storage.snapshot_versions(path) == [1, 2]
        assert sorted(r["k"] for r in got.collect()) == [
            0, 2, 3, 4, 5, 6, 7
        ]
        # re-running the loser against the new head succeeds
        r = storage.update_where_snapshot(
            spark, path, {"v": F.lit(0.0)}, "k = 2"
        )
        assert r["rows_updated"] == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_append_racing_constraint_add_refuses(spark, monkeypatch):
    """A contract moving mid-race is NOT disjoint: the append's rows were
    never validated against the new constraint — rebase refuses."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1.0)]), path)

        def competitor():
            storage.add_check_constraint(spark, path, "pos", "v > 0")

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="constraints"
        ):
            storage.write_snapshot(
                spark, _df(spark, [(2, -5.0)]), path, mode="append"
            )
        # head is the constraint commit; the violating rows never landed
        assert storage.snapshot_versions(path) == [1, 2]
        assert storage.list_check_constraints(path) == {"pos": "v > 0"}
        assert storage.read_snapshot(spark, path).count() == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_racing_partitioned_appenders_keep_tuples(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        spec = [("identity", "g")]

        def pdf(tag, groups):
            return spark.createDataFrame(
                [Row(k=i, g=g, v=float(i)) for i, g in enumerate(groups)],
                "k bigint, g string, v double",
            ).withColumn("tag", F.lit(tag))

        storage.write_snapshot_partitioned(
            spark, pdf("base", ["a", "b"]), path, spec
        )

        def competitor():
            storage.write_snapshot_partitioned(
                spark, pdf("w1", ["a", "c"]), path, spec, mode="append"
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        v = storage.write_snapshot_partitioned(
            spark, pdf("w2", ["b", "d"]), path, spec, mode="append"
        )
        assert v == 3
        man = storage._load_manifest(path, 3)
        vals = man["partition"]["values"]
        # every file of BOTH racing appends kept its real tuple
        assert set(man["files"]) == set(vals)
        assert all(entry is not None for entry in vals.values())
        keep, total = storage.partition_pruned_files(
            path, {"g": ("=", "a")}
        )
        assert total == 6 and len(keep) == 2
        got = storage.read_snapshot_partitioned(
            spark, path, {"g": ("=", "a")}
        )
        assert sorted(r["tag"] for r in got.collect()) == ["base", "w1"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_txn_race_redelivery_refuses_not_duplicates(spark, monkeypatch):
    """Two at-least-once workers racing the SAME (app, batch): the loser
    must neither duplicate the batch nor silently skip mid-commit — it
    refuses, and the verb-level retry hits the idempotent skip."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1.0)]), path)

        def competitor():
            storage.write_snapshot(
                spark, _df(spark, [(2, 2.0)]), path,
                mode="append", txn=("app", 7),
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(storage.ConcurrentCommitError, match="txn"):
            storage.write_snapshot(
                spark, _df(spark, [(2, 2.0)]), path,
                mode="append", txn=("app", 7),
            )
        # verb-level retry: the watermark makes it a no-op skip
        v = storage.write_snapshot(
            spark, _df(spark, [(2, 2.0)]), path,
            mode="append", txn=("app", 7),
        )
        assert v == 2
        assert storage.read_snapshot(spark, path).count() == 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_metadata_verb_race_refuses(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1.0)]), path)

        def competitor():
            storage.write_snapshot(
                spark, _df(spark, [(2, 2.0)]), path, mode="append"
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        # the constraint validated against v1 only — v2's rows unseen
        with pytest.raises(storage.ConcurrentCommitError):
            storage.add_check_constraint(spark, path, "pos", "v > 0")
        assert storage.list_check_constraints(path) == {}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

def test_racing_mor_delta_writers_both_succeed(spark, monkeypatch):
    """r12: two streaming CDC sinks landing delta groups simultaneously
    both succeed — the loser re-appends its group onto the winner's
    chain (a hard failure per race would be a liveness bug at N
    writers); latest-wins resolution sees both groups in link order."""
    scratch, path = _mkpath()
    try:
        def mdf(rows):
            return spark.createDataFrame(
                [Row(k=k, v=v, seq=s) for k, v, s in rows],
                "k bigint, v double, seq bigint",
            )

        storage.write_snapshot(spark, mdf([(1, 1.0, 0), (2, 2.0, 0)]), path)

        def competitor():
            storage.upsert_delta_snapshot(
                spark, path, mdf([(2, 22.0, 1)]),
                key_cols=["k"], seq_col="seq",
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        v = storage.upsert_delta_snapshot(
            spark, path, mdf([(3, 3.0, 1)]),
            key_cols=["k"], seq_col="seq",
        )
        assert v == 3
        man = storage._load_manifest(path, 3)
        assert len(man["mor"]["deltas"]) == 2  # both groups in the chain
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {1: 1.0, 2: 22.0, 3: 3.0}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_delta_racing_compaction_refuses(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        def mdf(rows):
            return spark.createDataFrame(
                [Row(k=k, v=v, seq=s) for k, v, s in rows],
                "k bigint, v double, seq bigint",
            )

        storage.write_snapshot(spark, mdf([(1, 1.0, 0)]), path)
        storage.upsert_delta_snapshot(
            spark, path, mdf([(2, 2.0, 1)]), key_cols=["k"], seq_col="seq"
        )

        def competitor():
            storage.compact_mor(spark, path)

        _RaceOnce(monkeypatch, "v3.json", competitor)
        with pytest.raises(storage.ConcurrentCommitError):
            storage.upsert_delta_snapshot(
                spark, path, mdf([(3, 3.0, 2)]),
                key_cols=["k"], seq_col="seq",
            )
        # retry against the compacted head succeeds
        storage.upsert_delta_snapshot(
            spark, path, mdf([(3, 3.0, 2)]), key_cols=["k"], seq_col="seq"
        )
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

def test_disjoint_delete_and_update_both_succeed(spark, monkeypatch):
    """r12 snapshot-isolation DML: a delete and an update racing on
    DIFFERENT files both succeed — the loser validates its touched
    files are untouched in the new head and rebases."""
    scratch, path = _mkpath()
    try:
        # two single-file appends with disjoint key ranges
        storage.write_snapshot(
            spark,
            _df(spark, [(k, float(k)) for k in range(0, 4)]).coalesce(1),
            path, stats_cols=["k"],
        )
        storage.write_snapshot(
            spark,
            _df(spark, [(k, float(k)) for k in range(10, 14)])
            .coalesce(1),
            path, mode="append", stats_cols=["k"],
        )

        def competitor():
            storage.delete_where_snapshot(
                spark, path, "k = 0", prune=("k", 0, 3)
            )

        _RaceOnce(monkeypatch, "v3.json", competitor)
        r = storage.update_where_snapshot(
            spark, path, {"v": F.lit(99.0)}, "k = 10",
            prune=("k", 10, 13),
        )
        assert r["rows_updated"] == 1
        assert storage.snapshot_versions(path) == [1, 2, 3, 4]
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        # BOTH effects present: k=0 deleted AND k=10 updated
        assert 0 not in got
        assert got[10] == 99.0
        assert got[1] == 1.0 and got[13] == 13.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_append_racing_delete_both_succeed(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, float(k)) for k in range(4)]).coalesce(1),
            path,
        )

        def competitor():
            storage.write_snapshot(
                spark, _df(spark, [(100, 100.0)]), path, mode="append"
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        r = storage.delete_where_snapshot(spark, path, "k = 1")
        assert r["rows_deleted"] == 1
        got = sorted(
            r["k"] for r in storage.read_snapshot(spark, path).collect()
        )
        assert got == [0, 2, 3, 100]  # append survived the delete's rebase
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_dv_deletes_same_file_second_refuses(spark, monkeypatch):
    """Two DV deletes masking the SAME file conflict — the loser's
    sidecar was unioned against the pre-race vector, so committing it
    would drop the winner's deletes. Disjoint-file DV deletes rebase."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, float(k)) for k in range(4)]).coalesce(1),
            path,
        )

        def competitor():
            storage.delete_where_snapshot(
                spark, path, "k = 2", mode="dv"
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="deletion"
        ):
            storage.delete_where_snapshot(spark, path, "k = 1", mode="dv")
        # winner's delete intact; loser re-runs cleanly
        assert sorted(
            r["k"] for r in storage.read_snapshot(spark, path).collect()
        ) == [0, 1, 3]
        storage.delete_where_snapshot(spark, path, "k = 1", mode="dv")
        assert sorted(
            r["k"] for r in storage.read_snapshot(spark, path).collect()
        ) == [0, 3]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_append_racing_drop_column_refuses(spark, monkeypatch):
    """ADVICE r12 (medium): the append rebase iterated only the HEAD's
    schema when checking concurrent evolution, so a column concurrently
    removed by drop_column went undetected — the rebased manifest
    re-added the column next to the inherited tombstone and the forced
    scan resurrected stale bytes from old files (the hazard the
    non-race reborn-column check refuses). The rebase now refuses on
    any dropped/widened divergence between prev and head."""
    scratch, path = _mkpath()
    try:
        ddl = "k bigint, v double, note string"
        storage.write_snapshot(
            spark, _df(spark, [(1, 1.0, "x")], ddl), path
        )

        def competitor():
            storage.drop_column(path, "note")

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="dropped/widened"
        ):
            storage.write_snapshot(
                spark, _df(spark, [(2, 2.0, "y")], ddl), path,
                mode="append",
            )
        # the head is the drop's commit; the loser resurrected nothing
        assert storage.snapshot_versions(path) == [1, 2]
        got = storage.read_snapshot(spark, path)
        assert sorted(got.columns) == ["k", "v"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_partitioned_append_racing_drop_column_refuses(spark, monkeypatch):
    """Same asymmetry, write_snapshot_partitioned's rebase twin."""
    scratch, path = _mkpath()
    try:
        spec = [("identity", "g")]

        def pdf(groups):
            return spark.createDataFrame(
                [
                    Row(k=i, g=g, v=float(i), note="x")
                    for i, g in enumerate(groups)
                ],
                "k bigint, g string, v double, note string",
            )

        storage.write_snapshot_partitioned(spark, pdf(["a", "b"]), path, spec)

        def competitor():
            storage.drop_column(path, "note")

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="dropped/widened"
        ):
            storage.write_snapshot_partitioned(
                spark, pdf(["c"]), path, spec, mode="append"
            )
        assert storage.snapshot_versions(path) == [1, 2]
        assert sorted(
            storage.read_snapshot(spark, path).columns
        ) == ["g", "k", "v"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_disjoint_key_append_both_succeed(spark, monkeypatch):
    """r13 (r12 verdict #4 — Iceberg's validation-based MERGE rebase):
    a MERGE losing the race to an APPEND whose added files' key-range
    stats provably cannot contain any source key REBASES instead of
    refusing — neither the matched set nor the NOT-MATCHED inserts are
    affected, so both commits land."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, float(i)) for i in range(10)]), path,
            stats_cols=["k"],
        )
        src = _df(spark, [(3, 33.0), (42, 42.0)])  # update + insert

        def competitor():  # appends keys 100..104: disjoint from [3, 42]
            storage.write_snapshot(
                spark, _df(spark, [(i, 0.0) for i in range(100, 105)]),
                path, mode="append", stats_cols=["k"],
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"},
            insert=True,
        )
        assert v == 3  # rebased onto the append's v2
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[3] == 33.0 and got[42] == 42.0  # merge applied
        assert all(got[i] == 0.0 for i in range(100, 105))  # append kept
        assert len(got) == 16
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_overlapping_append_refuses(spark, monkeypatch):
    """The appended file's key range OVERLAPS the source's — its rows
    may contain a source key, so a rebased NOT-MATCHED insert would
    write-skew; the merge must refuse."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, float(i)) for i in range(10)]), path,
            stats_cols=["k"],
        )
        src = _df(spark, [(42, 42.0)])  # pure insert

        def competitor():  # appends key 42 — the exact skew hazard
            storage.write_snapshot(
                spark, _df(spark, [(42, 0.0)]), path,
                mode="append", stats_cols=["k"],
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="source keys"
        ):
            storage.merge_into_snapshot(
                spark, path, src, ["k"], insert=True
            )
        # exactly ONE row with k=42 survives (the append's)
        assert storage.read_snapshot(spark, path).filter(
            "k = 42"
        ).count() == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_statless_append_refuses(spark, monkeypatch):
    """An appended file with NO key stats cannot prove disjointness —
    conservative refusal."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 1.0)]), path  # no stats at all
        )

        def competitor():
            storage.write_snapshot(
                spark, _df(spark, [(100, 0.0)]), path, mode="append"
            )

        _RaceOnce(monkeypatch, "v2.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="source keys"
        ):
            storage.merge_into_snapshot(
                spark, path, _df(spark, [(1, 9.0)]), ["k"],
                update_set={"v": "src_v"}, insert=False,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_merge_racing_disjoint_upsert_both_succeed(spark, monkeypatch):
    """MOR flavor: a MERGE INTO a MOR table racing a key-disjoint delta
    UPSERT rebases its group onto the winner's chain — N streaming CDC
    writers merging into one table no longer serialize by retry."""
    scratch, path = _mkpath()
    try:
        ddl = "k bigint, v double, seq bigint"

        def mdf(rows):
            return spark.createDataFrame([Row(*r) for r in rows], ddl)

        storage.write_snapshot(
            spark, mdf([(i, float(i), 0) for i in range(10)]), path,
            stats_cols=["k"],
        )
        storage.upsert_delta_snapshot(
            spark, path, mdf([(5, 55.0, 1)]), ["k"], "seq"
        )
        src = mdf([(3, 33.0, 2)])

        def competitor():  # racing upsert of keys 200.. — disjoint
            storage.upsert_delta_snapshot(
                spark, path, mdf([(200, 2.0, 1)]), ["k"], "seq"
            )

        _RaceOnce(monkeypatch, "v3.json", competitor)
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"},
            insert=False,
        )
        assert v == 4
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[3] == 33.0 and got[200] == 2.0 and got[5] == 55.0
        # overlapping racing upsert refuses
        def competitor2():
            storage.upsert_delta_snapshot(
                spark, path, mdf([(7, 77.0, 9)]), ["k"], "seq"
            )

        _RaceOnce(monkeypatch, "v5.json", competitor2)
        with pytest.raises(
            storage.ConcurrentCommitError, match="source keys"
        ):
            storage.merge_into_snapshot(
                spark, path, mdf([(7, 1.0, 10)]), ["k"],
                update_set={"v": "src_v"}, insert=False,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------------------------------------------ r14:
# the MERGE rebase extended to concurrent DELETES (r13 verdict #6 —
# Iceberg's validation admits concurrent deletes that provably touch no
# source key; N CDC writers mixing merges with deletes stop serializing
# by retry).


def _three_file_table(spark, path):
    """Three single-file commits with disjoint key ranges: A=[0,9]
    (probed by a src key 3), B=[100,109], C=[200,209]."""
    storage.write_snapshot(
        spark, _df(spark, [(i, float(i)) for i in range(10)]).coalesce(1),
        path, stats_cols=["k"],
    )
    for lo in (100, 200):
        storage.write_snapshot(
            spark,
            _df(spark, [(i, float(i)) for i in range(lo, lo + 10)])
            .coalesce(1),
            path, mode="append", stats_cols=["k"],
        )


def test_merge_racing_disjoint_key_cow_delete_both_succeed(
    spark, monkeypatch
):
    """A COW delete confined to keys provably outside the merge
    source's range removes only KEPT files — the merge rebases: its
    rewrite carries, the delete's removal and rewritten survivors
    carry, both commits land."""
    scratch, path = _mkpath()
    try:
        _three_file_table(spark, path)
        src = _df(spark, [(3, 33.0), (42, 42.0)])  # bounds [3, 42]

        def competitor():  # removes B, survivors 105..109 re-land
            storage.delete_where_snapshot(
                spark, path, "k >= 100 AND k <= 104"
            )

        _RaceOnce(monkeypatch, "v4.json", competitor)
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"},
            insert=True,
        )
        assert v == 5  # rebased onto the delete's v4
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[3] == 33.0 and got[42] == 42.0   # merge applied
        assert all(k not in got for k in range(100, 105))  # delete kept
        assert all(got[k] == float(k) for k in range(105, 110))
        assert len(got) == 26  # 10 + insert + 5 survivors + 10 C-rows
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_overlapping_delete_refuses(spark, monkeypatch):
    """The competitor removed a KEPT file whose key range overlaps the
    source's — its rows may have contained a source key (a pruned probe
    cannot rule it out), so the rebase refuses."""
    scratch, path = _mkpath()
    try:
        _three_file_table(spark, path)
        # src spans [3, 150]: A touched (key 3), B kept but IN RANGE
        src = _df(spark, [(3, 33.0), (150, 150.0)])

        def competitor():  # removes B entirely — stats [100,109] ⊂ range
            storage.delete_where_snapshot(
                spark, path, "k >= 100 AND k <= 109"
            )

        _RaceOnce(monkeypatch, "v4.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="source keys"
        ):
            storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"v": "src_v"},
                insert=True,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_dv_on_probed_file_refuses(spark, monkeypatch):
    """A DV grew on a file the merge PROBED — the matched pre-images
    are stale; always refuses regardless of key ranges."""
    scratch, path = _mkpath()
    try:
        _three_file_table(spark, path)
        src = _df(spark, [(3, 33.0)])

        def competitor():  # DV-delete on A — the probed file
            storage.delete_where_snapshot(spark, path, "k = 7", mode="dv")

        _RaceOnce(monkeypatch, "v4.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="probed"
        ):
            storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"v": "src_v"},
                insert=False,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_racing_dv_on_disjoint_kept_file_both_succeed(
    spark, monkeypatch
):
    """DV growth on a KEPT file provably disjoint from the source's key
    range rebases: the merge carries the head's DV state."""
    scratch, path = _mkpath()
    try:
        _three_file_table(spark, path)
        src = _df(spark, [(3, 33.0), (42, 42.0)])

        def competitor():  # DV-delete in C — kept, stats [200,209]
            storage.delete_where_snapshot(
                spark, path, "k = 205", mode="dv"
            )

        _RaceOnce(monkeypatch, "v4.json", competitor)
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"},
            insert=True,
        )
        assert v == 5
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[3] == 33.0 and got[42] == 42.0
        assert 205 not in got  # the competitor's DV survived the rebase
        assert len(got) == 30  # 10 + insert + 10 - dv + 10
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _maintenance_table(spark, path, verb):
    """A table ``verb`` has work on, plus the verb call and a disjoint
    appender: returns ``(keys the latest read must hold, run, append)``."""
    if verb == "optimize_partitions":
        spec = [("identity", "g")]

        def pdf(keys):
            return spark.createDataFrame(
                [Row(k=k, g="a" if k < 10 else "b", v=float(k))
                 for k in keys],
                "k bigint, g string, v double",
            )

        storage.write_snapshot_partitioned(spark, pdf([0, 1, 2]), path, spec)
        storage.write_snapshot_partitioned(
            spark, pdf([3, 4]), path, spec, mode="append"
        )
        return (
            [0, 1, 2, 3, 4],
            lambda: storage.optimize_partitions(
                spark, path, {"g": ("=", "a")}
            ),
            lambda: storage.write_snapshot_partitioned(
                spark, pdf([100]), path, spec, mode="append"
            ),
        )
    keys = list(range(6))
    for i in range(0, 6, 2):
        storage.write_snapshot(
            spark, _df(spark, [(k, float(k)) for k in (i, i + 1)])
            .coalesce(1), path, mode="append" if i else "overwrite",
            stats_cols=["k"],
        )
    if verb == "purge_deletion_vectors":
        storage.delete_where_snapshot(spark, path, "k = 1", mode="dv")
        keys.remove(1)
    run = {
        "optimize_snapshot": lambda: {
            "version": storage.optimize_snapshot(spark, path, ["k"], 2)
        },
        "compact_small_files_snapshot":
            lambda: storage.compact_small_files_snapshot(spark, path),
        "optimize_snapshot_incremental":
            lambda: storage.optimize_snapshot_incremental(
                spark, path, ["k"], since_version=1
            ),
        "purge_deletion_vectors":
            lambda: storage.purge_deletion_vectors(spark, path),
    }[verb]
    return (
        keys,
        run,
        lambda: storage.write_snapshot(
            spark, _df(spark, [(100, 100.0)]), path, mode="append",
            stats_cols=["k"],
        ),
    )


@pytest.mark.parametrize("verb", [
    "optimize_snapshot",
    "compact_small_files_snapshot",
    "optimize_snapshot_incremental",
    "purge_deletion_vectors",
    "optimize_partitions",
])
def test_maintenance_verb_racing_disjoint_append_both_succeed(
    spark, monkeypatch, verb
):
    """The file-replacing maintenance verbs rebase onto a racing append
    that touched none of their files: the verb commits at head+2, the
    appended file stays live, and the verb's new files keep their stats
    (or real partition tuples)."""
    scratch, path = _mkpath()
    try:
        keys, run, append = _maintenance_table(spark, path, verb)
        head = storage.snapshot_versions(path)[-1]
        _RaceOnce(monkeypatch, f"v{head + 1}.json", append)
        r = run()
        assert r["version"] == head + 2
        got = sorted(
            r["k"] for r in storage.read_snapshot(spark, path).collect()
        )
        assert got == keys + [100]
        man = storage._load_manifest(path, head + 2)
        base = set(storage._load_manifest(path, head)["files"])
        appended = set(storage._load_manifest(path, head + 1)["files"]) - base
        assert appended and appended <= set(man["files"])
        new = set(man["files"]) - base - appended
        assert new
        if verb == "optimize_partitions":
            vals = man["partition"]["values"]
            assert all(vals[rel] is not None for rel in new)
        else:
            assert all("k" in man["stats"][rel] for rel in new)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_base_compaction_racing_delta_refuses(spark, monkeypatch):
    """Small-file compaction of a MOR table's BASE files carries the
    delta chain verbatim, so a racing delta group cannot be rebased
    onto: the compaction refuses, no group is lost, and the retry keeps
    both groups in the chain."""
    scratch, path = _mkpath()
    try:
        def mdf(rows):
            return spark.createDataFrame(
                [Row(k=k, v=v, seq=s) for k, v, s in rows],
                "k bigint, v double, seq bigint",
            )

        for i in range(3):
            storage.write_snapshot(
                spark, mdf([(i, float(i), 0)]).coalesce(1), path,
                mode="append" if i else "overwrite",
            )
        storage.upsert_delta_snapshot(
            spark, path, mdf([(1, 11.0, 1)]), key_cols=["k"], seq_col="seq"
        )
        head = storage.snapshot_versions(path)[-1]

        def competitor():
            storage.upsert_delta_snapshot(
                spark, path, mdf([(5, 5.0, 2)]),
                key_cols=["k"], seq_col="seq",
            )

        _RaceOnce(monkeypatch, f"v{head + 1}.json", competitor)
        with pytest.raises(storage.ConcurrentCommitError, match="MOR"):
            storage.compact_small_files_snapshot(spark, path)
        expect = {0: 0.0, 1: 11.0, 2: 2.0, 5: 5.0}
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == expect
        r = storage.compact_small_files_snapshot(spark, path)
        assert r["files_compacted"] == 3
        man = storage._load_manifest(path, r["version"])
        assert len(man["mor"]["deltas"]) == 2
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _mor_rows(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, v=v, seq=s) for k, v, s in rows],
        "k bigint, v double, seq bigint",
    )


def _mor_world(spark, path):
    return {
        r["k"]: r["v"] for r in storage.read_snapshot(spark, path).collect()
    }


def _mor_table(spark, path, upserts):
    """Base keys 0-2, then one delta group per ``(k, v, seq)`` upsert;
    returns the head version."""
    storage.write_snapshot(
        spark, _mor_rows(spark, [(i, float(i), 0) for i in range(3)]), path
    )
    for row in upserts:
        storage.upsert_delta_snapshot(
            spark, path, _mor_rows(spark, [row]),
            key_cols=["k"], seq_col="seq",
        )
    return storage.snapshot_versions(path)[-1]


def _upsert_key_5(spark, path):
    return lambda: storage.upsert_delta_snapshot(
        spark, path, _mor_rows(spark, [(5, 5.0, 9)]),
        key_cols=["k"], seq_col="seq",
    )


@pytest.mark.parametrize("verb", ["delete", "update"])
def test_mor_dml_racing_upsert_refuses(spark, monkeypatch, verb):
    """A MOR DELETE/UPDATE group is derived from the resolved view, so a
    racing upsert invalidates it: the verb refuses, the competitor's
    group stays in the chain, and the retry lands on top of it."""
    scratch, path = _mkpath()
    try:
        head = _mor_table(spark, path, [(1, 11.0, 1)])

        def run():
            if verb == "delete":
                return storage.delete_where_snapshot(spark, path, "k = 1")
            return storage.update_where_snapshot(
                spark, path, {"v": F.lit(0.0)}, "k = 1"
            )

        _RaceOnce(
            monkeypatch, f"v{head + 1}.json", _upsert_key_5(spark, path)
        )
        with pytest.raises(storage.ConcurrentCommitError):
            run()
        assert storage.snapshot_versions(path)[-1] == head + 1
        want = {0: 0.0, 1: 11.0, 2: 2.0, 5: 5.0}
        assert _mor_world(spark, path) == want
        assert run()["version"] == head + 2
        man = storage._load_manifest(path, head + 2)
        assert len(man["mor"]["deltas"]) == 3
        if verb == "delete":
            del want[1]
        else:
            want[1] = 0.0
        assert _mor_world(spark, path) == want
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_minor_compaction_racing_upsert_refuses(spark, monkeypatch):
    """A minor compaction folds the chain it read; a racing upsert's
    group is not in that fold, so the compaction refuses and the group
    survives; the retry folds all three groups into one."""
    scratch, path = _mkpath()
    try:
        head = _mor_table(spark, path, [(1, 11.0, 1), (2, 22.0, 2)])
        _RaceOnce(
            monkeypatch, f"v{head + 1}.json", _upsert_key_5(spark, path)
        )
        with pytest.raises(storage.ConcurrentCommitError):
            storage.compact_mor(spark, path, minor=True)
        want = {0: 0.0, 1: 11.0, 2: 22.0, 5: 5.0}
        man = storage._load_manifest(path, head + 1)
        assert len(man["mor"]["deltas"]) == 3
        assert _mor_world(spark, path) == want
        assert storage.compact_mor(spark, path, minor=True) == head + 2
        man = storage._load_manifest(path, head + 2)
        assert len(man["mor"]["deltas"]) == 1
        assert _mor_world(spark, path) == want
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_major_compaction_racing_upsert_refuses(spark, monkeypatch):
    """A major compaction resolves the chain it read; a racing upsert's
    group is not in that resolve, so the compaction refuses naming the
    moved chain, the group survives, and the retry folds it too."""
    scratch, path = _mkpath()
    try:
        head = _mor_table(spark, path, [(1, 11.0, 1)])
        _RaceOnce(
            monkeypatch, f"v{head + 1}.json", _upsert_key_5(spark, path)
        )
        with pytest.raises(storage.ConcurrentCommitError, match="MOR chain"):
            storage.compact_mor(spark, path)
        want = {0: 0.0, 1: 11.0, 2: 2.0, 5: 5.0}
        man = storage._load_manifest(path, head + 1)
        assert len(man["mor"]["deltas"]) == 2
        assert _mor_world(spark, path) == want
        assert storage.compact_mor(spark, path) == head + 2
        assert "mor" not in storage._load_manifest(path, head + 2)
        assert _mor_world(spark, path) == want
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_materialize_column_mapping_racing_append_refuses(
    spark, monkeypatch
):
    """Materializing a rename rewrites every file under logical names and
    clears the map, so a racing append cannot be rebased onto it: the
    materialize refuses and the appended row survives."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(0, 0.0), (1, 1.0)]), path)
        storage.write_snapshot(
            spark, _df(spark, [(2, 2.0), (3, 3.0)]), path, mode="append"
        )
        storage.rename_column(path, "v", "w")
        head = storage.snapshot_versions(path)[-1]

        def append():
            storage.write_snapshot(
                spark, _df(spark, [(100, 100.0)], "k bigint, w double"),
                path, mode="append",
            )

        _RaceOnce(monkeypatch, f"v{head + 1}.json", append)
        with pytest.raises(storage.ConcurrentCommitError):
            storage.materialize_column_mapping(spark, path)
        assert storage.snapshot_versions(path)[-1] == head + 1
        got = {
            r["k"]: r["w"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 100: 100.0}
        assert storage.column_mapping(path) == {"w": "v"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_racing_mor_upserts_carry_stats_tuples_and_txn(spark, monkeypatch):
    """The rebased delta commit on a stats-carrying, partitioned table
    keeps both racing groups' key stats, their real partition tuples and
    both writers' txn watermarks."""
    scratch, path = _mkpath()
    try:
        def pdf(rows):
            return spark.createDataFrame(
                [Row(k=k, g=g, v=float(k), seq=s) for k, g, s in rows],
                "k bigint, g string, v double, seq bigint",
            )

        storage.write_snapshot_partitioned(
            spark, pdf([(0, "a", 0), (1, "b", 0)]), path,
            [("identity", "g")], stats_cols=["k"],
        )

        def upsert(rows, app):
            return storage.upsert_delta_snapshot(
                spark, path, pdf(rows), key_cols=["g", "k"],
                seq_col="seq", txn=(app, 1),
            )

        _RaceOnce(
            monkeypatch, "v2.json", lambda: upsert([(2, "b", 1)], "w1")
        )
        assert upsert([(3, "a", 1), (4, "c", 1)], "w2") == 3
        man = storage._load_manifest(path, 3)
        groups = man["mor"]["deltas"]
        assert len(groups) == 2 and all(groups)
        assert groups[0] == storage._load_manifest(path, 2)["mor"]["deltas"][0]
        vals = man["partition"]["values"]
        for rel in [rel for grp in groups for rel in grp]:
            assert "k" in man["stats"][rel]
            assert vals[rel] is not None
        assert man["txn"] == {"w1": 1, "w2": 1}
        got = sorted(
            r["k"] for r in storage.read_snapshot(spark, path).collect()
        )
        assert got == [0, 1, 2, 3, 4]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_racing_first_upserts_with_different_merge_modes_refuse(
    spark, monkeypatch
):
    """Two first upserts fix the merge mode independently: a partial
    delta losing to a latest-wins one refuses instead of landing under
    the winner's mode, where its "keep" NULLs would overwrite values."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _mor_rows(spark, [(1, 1.0, 0)]), path
        )
        _RaceOnce(
            monkeypatch, "v2.json", _upsert_key_5(spark, path)
        )
        with pytest.raises(storage.ConcurrentCommitError, match="mode"):
            storage.upsert_delta_snapshot(
                spark, path, _mor_rows(spark, [(1, None, 1)]),
                key_cols=["k"], seq_col="seq", merge_mode="partial",
            )
        assert storage.snapshot_versions(path) == [1, 2]
        assert _mor_world(spark, path) == {1: 1.0, 5: 5.0}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
