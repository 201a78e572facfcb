"""Round-5 session additions: prefix-filter Jaccard, DQ expectations,
incremental MV maintenance. Oracle parity already pins each registered
query against DuckDB; these tests pin the SEMANTIC claims the oracles
can't see — exactness where the DF-cap path loses pairs, constraint
verdicts on injected violations, incremental == one-shot on arbitrary
splits."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from dp_dimension_importer_spark.operators.aggregates import merge_agg_state
from dp_dimension_importer_spark.operators.dataquality import (
    FRESH_MAX_DAYS,
    constraint_report,
)
from dp_dimension_importer_spark.operators.dedup import (
    jaccard_pairs,
    prefix_filter_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


class TestPrefixFilterExactness:
    def test_finds_pair_sharing_only_hot_shingles(self, spark):
        """The case the DF-cap pipeline drops by contract: two docs whose
        entire overlap is one super-hot shingle. Prefix filtering keeps
        exactness — hot shingles fall out of PREFIXES (rarest-first
        order), but near-identical docs still share a rare one; and a
        doc pair that is ONLY hot-shingle-similar has low Jaccard anyway,
        so exactness is decided by the verify step, not the cap."""
        hot = "alpha beta gamma"  # appears in every doc -> df = n_docs
        texts = [f"{hot} filler{i} x{i} y{i} z{i}" for i in range(8)]
        # two near-duplicate docs: differ in one trailing token
        texts += [
            "alpha beta gamma delta epsilon zeta eta theta one",
            "alpha beta gamma delta epsilon zeta eta theta two",
        ]
        docs = _docs(spark, texts)
        got = {
            (r.da, r.db)
            for r in prefix_filter_pairs(docs, num=5, den=10).collect()
        }
        assert (8, 9) in got
        # low-cap DF pipeline on the same corpus misses it (cap 1 kills
        # every shared shingle of the pair) — documents why prefix
        # filtering earns its place next to the cap path
        capped = {
            (r.da, r.db)
            for r in jaccard_pairs(docs, df_cap=1, threshold=0.5).collect()
        }
        assert (8, 9) not in capped

    def test_agrees_with_brute_force(self, spark):
        """Exactness on an arbitrary corpus: prefix-filtered result ==
        all-pairs brute force over the same distinct-shingle sets."""
        from dp_dimension_importer_spark.operators.dedup import (
            shingle_hashes,
        )

        texts = [
            "the quick brown fox jumps over the lazy dog today",
            "the quick brown fox jumps over the lazy cat today",
            "completely different words entirely unrelated to anything",
            "the quick brown fox jumps over the lazy dog today",
            "one two three four five six seven eight nine ten",
            "one two three four five six seven eight nine eleven",
        ]
        docs = _docs(spark, texts)
        got = {
            (r.da, r.db, r.jaccard)
            for r in prefix_filter_pairs(docs, num=5, den=10).collect()
        }
        sets = {
            r.doc_id: set(r.s)
            for r in shingle_hashes(docs)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("s"))
            .collect()
        }
        want = set()
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter * 10 >= 5 * union:
                    want.add((a, b, round(inter / union, 4)))
        assert got == want and len(want) >= 2

    def test_prefix_is_strict_subset_of_postings(self, spark):
        """The scale claim: the candidate join's build side carries only
        prefix tokens — strictly fewer rows than the full posting list
        (p = s - ceil(t*s) + 1 < s whenever s*t >= 1)."""
        from dp_dimension_importer_spark.operators.dedup import (
            shingle_hashes,
        )

        texts = [f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4} common "
                 f"shared words here now" for i in range(6)]
        docs = _docs(spark, texts)
        full = shingle_hashes(docs).distinct().count()
        # reconstruct the prefix relation exactly as the core builds it
        sh = shingle_hashes(docs).distinct()
        freq = sh.groupBy("h").agg(F.count("*").alias("df"))
        per_doc = (
            sh.join(freq, "h")
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("df", "h"))
                ).alias("ordered"),
                F.count("*").alias("s"),
            )
        )
        p = F.col("s") - F.floor((F.col("s") * 5 + 9) / 10).cast("long") + 1
        pref = per_doc.select(
            F.explode(F.slice("ordered", F.lit(1), p))
        ).count()
        assert 0 < pref < full


class TestDqExpectations:
    def _report(self, spark, facts_rows, parent_keys, event_ts):
        facts = spark.createDataFrame(facts_rows)
        parents = spark.createDataFrame(
            [Row(o_orderkey=k) for k in parent_keys]
        )
        events = spark.createDataFrame(
            [Row(ts=t) for t in event_ts]
        )
        rep = constraint_report(
            facts, parents, "l_orderkey", "o_orderkey", events
        )
        return {r["constraint"]: r for r in rep.collect()}

    def test_detects_each_violation_class(self, spark):
        rows = [
            Row(l_orderkey=1, l_linenumber=1, l_returnflag="A",
                l_quantity=5.0, l_extendedprice=10.0),
            # duplicate compound key + out-of-range + bad flag + negative
            Row(l_orderkey=1, l_linenumber=1, l_returnflag="X",
                l_quantity=99.0, l_extendedprice=-1.0),
            # null flag + orphan fk
            Row(l_orderkey=7, l_linenumber=2, l_returnflag=None,
                l_quantity=2.0, l_extendedprice=3.0),
        ]
        stale = dt.datetime(2023, 1, 1)  # >> FRESH_MAX_DAYS before anchor
        got = self._report(spark, rows, parent_keys=[1], event_ts=[stale])
        assert not got["completeness:l_returnflag"]["passed"]
        assert not got["uniqueness:l_orderkey+l_linenumber"]["passed"]
        assert got["uniqueness:l_orderkey+l_linenumber"]["metric"] == round(
            2 / 3, 4
        )
        assert got["range:l_quantity:[1,50]"]["metric"] == 1.0
        assert got["accepted:l_returnflag:{A,N,R}"]["metric"] == 1.0
        assert got["non_negative:l_extendedprice"]["metric"] == 1.0
        assert got["fk:l_orderkey->orders"]["metric"] == 1.0
        fresh = got[f"freshness:events.ts<={FRESH_MAX_DAYS}d"]
        assert not fresh["passed"] and fresh["metric"] > FRESH_MAX_DAYS

    def test_clean_table_passes_everything(self, spark):
        rows = [
            Row(l_orderkey=1, l_linenumber=1, l_returnflag="A",
                l_quantity=5.0, l_extendedprice=10.0),
            Row(l_orderkey=1, l_linenumber=2, l_returnflag="R",
                l_quantity=50.0, l_extendedprice=0.0),
        ]
        got = self._report(
            spark, rows, parent_keys=[1],
            event_ts=[dt.datetime(2024, 1, 30)],
        )
        assert all(r["passed"] for r in got.values())


class TestMergeAggState:
    def test_incremental_equals_one_shot(self, spark):
        full = spark.range(0, 200).select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        partial = lambda df: df.groupBy("k").agg(  # noqa: E731
            F.sum("v").alias("sum_v"),
            F.count(F.lit(1)).alias("cnt_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        for cut in (0, 50, 199, 200):  # empty delta / empty state included
            a = full.filter(F.col("v") < cut)
            b = full.filter(F.col("v") >= cut)
            merged = merge_agg_state(partial(a), partial(b), ["k"])
            got = {tuple(r) for r in merged.collect()}
            want = {tuple(r) for r in partial(full).collect()}
            assert got == want, f"cut={cut}"

    def test_rejects_non_mergeable_column(self, spark):
        state = spark.range(3).select(
            F.col("id").alias("k"), F.col("id").alias("median_v")
        )
        with pytest.raises(ValueError, match="mergeable prefix"):
            merge_agg_state(state, state, ["k"])


class TestStatsPrunedSnapshot:
    def test_prunes_files_and_loses_no_rows(self, spark, tmp_path):
        import shutil

        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "tbl")
        shutil.rmtree(path, ignore_errors=True)
        df = spark.range(0, 10_000).select(
            F.col("id"), (F.col("id") % 97).alias("payload")
        )
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=["id"], range_col="id", n_files=8
        )
        pruned = storage.read_snapshot_pruned(spark, path, "id", 100, 600)
        full = storage.read_snapshot(spark, path)
        # fewer files listed at planning time (8 range files, window
        # covers at most 2) ...
        assert 0 < len(pruned.inputFiles()) <= 2 < len(full.inputFiles())
        # ... and exactly the rows of the unpruned filtered read
        want = sorted(
            r.id for r in full.filter(F.col("id").between(100, 600)).collect()
        )
        got = sorted(r.id for r in pruned.collect())
        assert got == want == list(range(100, 601))

    def test_empty_window_reads_nothing_but_keeps_schema(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "tbl2")
        df = spark.range(0, 100).select(F.col("id"))
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=["id"], range_col="id", n_files=4
        )
        out = storage.read_snapshot_pruned(spark, path, "id", 10_000, 20_000)
        assert out.columns == ["id"] and out.count() == 0

    def test_missing_stats_column_never_prunes(self, spark, tmp_path):
        """Files lacking stats for the prune column must all be read —
        pruning is an optimization, never a correctness dependency."""
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "tbl3")
        df = spark.range(0, 100).select(F.col("id"), F.lit("x").alias("s"))
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=[], range_col="id", n_files=4
        )
        out = storage.read_snapshot_pruned(spark, path, "id", 10, 20)
        assert len(out.inputFiles()) == 4  # nothing skippable
        assert out.count() == 11


class TestBloomFileIndex:
    """Point lookups through the snapshot bloom sidecar
    (``index_bloom_snapshot`` + ``read_snapshot_point``) on an 8-file
    table: the files the read opens, not only its rows."""

    def _table(self, spark, tmp_path, name, localized=True):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / name)
        df = spark.range(0, 8_000).select(F.col("id"), (F.col("id") * 3).alias("v"))
        part = df.repartitionByRange(8, "id") if localized else df.repartition(8, "v")
        storage.write_snapshot(spark, part, path)
        storage.index_bloom_snapshot(spark, path, "id")
        return path

    def test_point_lookup_skips_files_and_is_exact(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = self._table(spark, tmp_path, "t1", localized=True)
        out = storage.read_snapshot_point(spark, path, "id", [42, 7999])
        # keys live in 2 known files; bloom may false-positive a few more
        # but must stay well under the full listing
        assert 0 < len(out.inputFiles()) <= 4
        assert sorted(r.id for r in out.collect()) == [42, 7999]

    def test_absent_key_reads_zero_files(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = self._table(spark, tmp_path, "t2")
        out = storage.read_snapshot_point(spark, path, "id", [123_456_789])
        assert out.inputFiles() == []
        assert out.count() == 0

    def test_never_skips_wrongly_on_any_layout(self, spark, tmp_path):
        """Hash layout: each key still lives in exactly one file, but
        neighbors scatter — bloom pruning must stay exact regardless."""
        from dp_dimension_importer_spark import storage

        path = self._table(spark, tmp_path, "t3", localized=False)
        keys = [0, 1, 4_000, 7_999]
        out = storage.read_snapshot_point(spark, path, "id", keys)
        assert sorted(r.id for r in out.collect()) == keys


class TestStreamAggExactlyOnce:
    """The aggregate sink's txn-mark protocol — the part q69's green
    oracle row can't see: sums are NOT redelivery-idempotent, so skip and
    crash-recovery semantics carry the exactly-once claim."""

    def _partial(self, df):
        return df.groupBy("k").agg(
            F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("cnt_v")
        )

    def test_redelivered_batch_is_skipped(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage
        from dp_dimension_importer_spark.streaming import sink

        state = str(tmp_path / "state")
        h = sink.make_agg_state_handler(state, ["k"], self._partial)
        batch = spark.range(10).select(
            (F.col("id") % 2).alias("k"), F.col("id").alias("v")
        )
        h(batch, 0)
        versions = storage.snapshot_versions(state)
        h(batch, 0)  # redelivery after crash: same batch id
        assert storage.snapshot_versions(state) == versions
        got = {
            (r.k, r.sum_v, r.cnt_v)
            for r in storage.read_snapshot(spark, state).collect()
        }
        assert got == {(0, 20, 5), (1, 25, 5)}  # counted once, not twice

    def test_failed_commit_never_double_counts(
        self, spark, tmp_path, monkeypatch
    ):
        """The worst crash window: batch 1's merged state files are
        written but its manifest commit fails. The state stays at batch
        0's version, and the redelivered batch re-merges against it and
        lands exactly once."""
        from dp_dimension_importer_spark import storage
        from dp_dimension_importer_spark.streaming import sink

        state = str(tmp_path / "state2")
        h = sink.make_agg_state_handler(state, ["k"], self._partial)
        b0 = spark.range(10).select(
            (F.col("id") % 2).alias("k"), F.col("id").alias("v")
        )
        b1 = spark.range(10, 20).select(
            (F.col("id") % 2).alias("k"), F.col("id").alias("v")
        )
        h(b0, 0)
        versions = storage.snapshot_versions(state)

        def fail(*a, **kw):
            raise RuntimeError("crash before the manifest commit")

        with monkeypatch.context() as m:
            m.setattr(storage, "_commit_manifest", fail)
            with pytest.raises(RuntimeError, match="manifest commit"):
                h(b1, 1)
        assert storage.snapshot_versions(state) == versions
        h(b1, 1)  # redelivery
        h(b1, 1)  # and once more, after it landed
        assert len(storage.snapshot_versions(state)) == len(versions) + 1
        got = {
            (r.k, r.sum_v, r.cnt_v)
            for r in storage.read_snapshot(spark, state).collect()
        }
        # 0..19: evens sum 90 count 10, odds sum 100 count 10
        assert got == {(0, 90, 10), (1, 100, 10)}


class TestJsonlSinkProtocol:
    """The jsonl_sink writer's two-phase commit — the part q64b's green
    oracle row can't see: task failure must leave NO visible output, and
    commit must publish exactly the successful tasks' files."""

    def test_failed_job_leaves_no_committed_output(self, spark, tmp_path):
        import os

        import pytest as _pytest

        from dp_dimension_importer_spark.operators.udfs import (
            make_jsonl_sink_source,
        )

        try:
            spark.dataSource.register(make_jsonl_sink_source())
        except Exception:
            pass
        path = str(tmp_path / "sink_fail")

        @F.udf("long")
        def boom(v):
            if v == 7:
                raise ValueError("injected task failure")
            return v

        df = spark.range(0, 10).select(boom(F.col("id")).alias("id"))
        with _pytest.raises(Exception):
            (df.repartition(2).write.format("jsonl_sink")
             .option("path", path).mode("append").save())
        # abort ran: no _SUCCESS manifest, no final part files
        assert not os.path.exists(os.path.join(path, "_SUCCESS"))
        if os.path.isdir(path):
            assert not [
                f for f in os.listdir(path) if f.startswith("part-")
            ]

    def test_commit_publishes_manifest_and_all_rows(self, spark, tmp_path):
        import json
        import os

        from dp_dimension_importer_spark.operators.udfs import (
            make_jsonl_sink_source,
        )

        try:
            spark.dataSource.register(make_jsonl_sink_source())
        except Exception:
            pass
        path = str(tmp_path / "sink_ok")
        (spark.range(0, 100).repartition(4).write.format("jsonl_sink")
         .option("path", path).mode("append").save())
        with open(os.path.join(path, "_SUCCESS")) as f:
            manifest = json.load(f)
        on_disk = sorted(
            f for f in os.listdir(path) if f.startswith("part-")
        )
        assert sorted(manifest["files"]) == on_disk and len(on_disk) == 4
        back = spark.read.option(
            "pathGlobFilter", "part-*.jsonl"
        ).json(path)
        assert sorted(r.id for r in back.collect()) == list(range(100))


class TestQuarantine:
    def test_valid_invalid_partition_the_input(self, spark):
        from dp_dimension_importer_spark.operators.dataquality import (
            quarantine,
        )

        df = spark.range(0, 100).select(
            F.col("id"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id") % 7)
            .alias("v"),
        )
        valid, invalid = quarantine(
            df,
            {
                "v_nonnull": F.col("v").isNotNull(),
                "v_small": F.col("v") < 5,
            },
        )
        nv, ni, n = valid.count(), invalid.count(), df.count()
        assert nv + ni == n and ni > 0
        # null predicate counts as violation, and multi-failures carry
        # both names
        rows = {r.id: list(r.violated) for r in invalid.collect()}
        assert rows[0] == ["v_nonnull", "v_small"]  # null v fails both
        assert rows[5] == ["v_small"]  # 5 % 7 = 5 >= 5
        assert valid.columns == ["id", "v"]  # flags dropped


class TestStatsPruningTemporalTypes:
    def test_date_and_timestamp_columns_prune(self, spark, tmp_path):
        """Temporal stats must survive the manifest round-trip: dates and
        timestamps encode as ISO strings (ISO order == chronological) and
        MICROS timestamps carry parquet min/max (INT96 would not — pinned
        by the session conf)."""
        import datetime as _dt

        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "temporal")
        df = spark.range(0, 1000).select(
            F.col("id"),
            F.date_add(
                F.lit("2020-01-01").cast("date"), F.col("id").cast("int")
            ).alias("d"),
            (
                F.lit("2020-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") * 3600)
            ).alias("ts"),
        )
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=["d", "ts"], range_col="id",
            n_files=8,
        )
        pr = storage.read_snapshot_pruned(
            spark, path, "d", _dt.date(2020, 2, 1), _dt.date(2020, 2, 10)
        )
        assert pr.count() == 10 and len(pr.inputFiles()) <= 2
        pr2 = storage.read_snapshot_pruned(
            spark, path, "ts",
            _dt.datetime(2020, 1, 2), _dt.datetime(2020, 1, 3),
        )
        assert pr2.count() == 25 and len(pr2.inputFiles()) <= 2


class TestInvertedIndex:
    def test_lookup_prunes_buckets_and_misses_are_empty(self, spark, tmp_path):
        from dp_dimension_importer_spark.operators.text import (
            build_inverted_index,
            search_inverted_index,
        )

        docs = _docs(spark, [
            "alpha beta gamma", "alpha beta", "beta gamma delta",
            "alpha gamma", "epsilon zeta",
        ])
        path = str(tmp_path / "idx")
        build_inverted_index(docs, path, n_buckets=8)
        hits = search_inverted_index(spark, path, ["alpha", "gamma"])
        assert sorted(r.doc_id for r in hits.collect()) == [0, 3]
        # directory pruning: the bucket filter must reach the scan as a
        # PartitionFilter (inputFiles() lists pre-pruning, so audit the
        # plan — the same check the partitioned-write tests use)
        plan = hits._sc._jvm.PythonSQLUtils.explainString(
            hits._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters" in plan and "bucket" in plan, plan
        # AND semantics with a term absent from the corpus: empty, not
        # the other terms' union
        none = search_inverted_index(spark, path, ["alpha", "nosuchterm"])
        assert none.count() == 0

    def test_index_agrees_with_scan_on_fixture(self, spark, tmp_path):
        """Same conjunctive query answered by the index and by a direct
        tokenized scan of the corpus — identical doc sets."""
        from dp_dimension_importer_spark.catalog import load_tables
        from dp_dimension_importer_spark.operators.text import (
            build_inverted_index,
            search_inverted_index,
            tokens_expr,
        )
        from tests.conftest import SF_SMOKE

        docs = load_tables(spark, SF_SMOKE).documents
        path = str(tmp_path / "idx2")
        build_inverted_index(docs, path)
        got = sorted(
            r.doc_id
            for r in search_inverted_index(
                spark, path, ["table", "query"]
            ).collect()
        )
        tk = tokens_expr("text")
        want = sorted(
            r.doc_id
            for r in docs.filter(
                F.array_contains(tk, "table") & F.array_contains(tk, "query")
            ).select("doc_id").collect()
        )
        assert got == want and len(want) > 0


class TestSnapshotSchemaContract:
    def test_additive_evolution_ok_breaking_raises(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "schema_tbl")
        base = spark.range(5).select(F.col("id"), F.lit("x").alias("s"))
        storage.write_snapshot(spark, base, path)
        # additive: new column fine
        storage.write_snapshot(
            spark, base.withColumn("extra", F.lit(1)), path
        )
        # breaking: dropped column raises BEFORE writing data
        import glob

        n_data_dirs = len(glob.glob(path + "/data/*"))
        with pytest.raises(ValueError, match="additive"):
            storage.write_snapshot(spark, base.select("id"), path)
        # retyped column raises too
        with pytest.raises(ValueError, match="additive"):
            storage.write_snapshot(
                spark, base.withColumn("s", F.lit(3)), path
            )
        assert len(glob.glob(path + "/data/*")) == n_data_dirs  # no orphans
        # deliberate rewrite with the guard off succeeds
        v = storage.write_snapshot(
            spark, base.select("id"), path, enforce_schema=False
        )
        assert storage.read_snapshot(spark, path, v).columns == ["id"]


class TestImageDedup:
    def test_fixture_recall_and_precision(self, spark):
        """Every same-base-picture pair must be found (the banded join's
        recall floor at Hamming <= 6 is exact here: noise lands at 0-2
        bits) and NO cross-picture pair may survive (seeded-random bases
        sit ~32 bits apart)."""
        from dp_dimension_importer_spark.registry import QUERIES
        from tests.conftest import SF_SMOKE

        rows = QUERIES["multimodal_image_dedup"](spark, SF_SMOKE).collect()
        n_docs = 500 if len(rows) >= 1000 else 50
        from collections import Counter

        group_sizes = Counter(i % 100 for i in range(n_docs))
        want_pairs = sum(c * (c - 1) // 2 for c in group_sizes.values())
        assert len(rows) == want_pairs
        assert all(r.da % 100 == r.db % 100 for r in rows)
        assert all(r.hamming <= 6 for r in rows)

    def test_dhash_stability_and_dead_letter(self, spark):
        """Identical payloads hash identically; an undecodable payload
        yields NULL instead of failing the partition."""
        from pyspark.sql import Row

        from dp_dimension_importer_spark.operators.multimodal import (
            image_dhash,
        )

        img = b"P5 4 4 255\n" + bytes(range(16))
        assets = spark.createDataFrame(
            [
                Row(asset_id=1, payload=img),
                Row(asset_id=2, payload=img),
                Row(asset_id=3, payload=b"\xff\xd8\xff junk jpeg"),
            ]
        )
        got = {r.asset_id: r.dhash for r in image_dhash(assets).collect()}
        assert got[1] == got[2] and got[1] is not None
        assert got[3] is None


def test_drift_psi_alarms_on_shifted_split_and_is_stable_on_uniform(spark):
    """drift_psi fires above PSI_ALERT for a deliberately shifted current
    population (price doubled → mass moves to the top bins) and stays
    near zero for the uniform md5-bucket split; out-of-range values clamp
    into the edge bins instead of disappearing."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.catalog import load_tables
    from dp_dimension_importer_spark.operators.analytics import hash_bucket
    from dp_dimension_importer_spark.operators.dataquality import (
        PSI_ALERT,
        drift_psi,
    )
    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    b = t.orders.withColumn("bucket", hash_bucket("o_orderkey", 10))
    base, cur = b.filter("bucket < 8"), b.filter("bucket >= 8")

    uniform = drift_psi(base, cur, "o_totalprice", 0.0, 600000.0)
    psi0 = uniform.agg(F.sum("psi_term")).first()[0]
    assert abs(psi0) < 0.1, psi0  # same distribution: stable

    shifted = cur.withColumn("o_totalprice", F.col("o_totalprice") * 2 + 1e5)
    drifted = drift_psi(base, shifted, "o_totalprice", 0.0, 600000.0)
    rows = drifted.collect()
    psi1 = sum(r.psi_term for r in rows)
    assert psi1 > PSI_ALERT, psi1
    # clamping: every current row landed in SOME bin (incl. the overflow
    # mass pushed past hi, which must pile into the top bin, not vanish)
    assert sum(r.n_cur for r in rows) == cur.count()
    assert rows[-1].n_cur > 0


class TestDeletionVectors:
    """Merge-on-read DELETE (``delete_where_snapshot(mode="dv")``): the
    sidecar codec, the untouched-data-files invariant, vector union
    across stacked deletes, materialization on any copy-on-write
    rewrite, and vacuum retention of live sidecars. Oracle parity
    (q78b) pins the numbers; these pin the STRUCTURAL claims — which
    bytes moved — that no result hash can see."""

    def _table(self, spark, tmp_path, name="dvt", n=1000, files=4):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / name)
        df = spark.range(0, n).select(
            F.col("id"), (F.col("id") % 7).alias("grp")
        ).repartition(files)
        storage.write_snapshot(spark, df, path)
        return path, storage

    @staticmethod
    def _data_state(path):
        """{rel: sha1} of every committed parquet data file."""
        import glob
        import hashlib
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        vs = sorted(
            int(p.rsplit("v", 1)[1][:-5])
            for p in glob.glob(os.path.join(_manifest_dir(path), "v*.json"))
        )
        with open(os.path.join(_manifest_dir(path), f"v{vs[-1]}.json")) as f:
            man = json.load(f)
        out = {}
        for rel in man["files"]:
            with open(os.path.join(path, rel), "rb") as f:
                out[rel] = hashlib.sha1(f.read()).hexdigest()
        return out

    def test_codec_roundtrip(self):
        from dp_dimension_importer_spark.storage import dv_decode, dv_encode

        for pos in (
            [],
            [0],
            [5],
            list(range(100)),            # contiguous run: 1 byte/row
            [0, 2, 4, 1 << 40],          # sparse + huge position
            [7, 3, 3, 9],                # unsorted + dup input
        ):
            assert dv_decode(dv_encode(pos)) == sorted(set(pos))
        # contiguous spans cost ~1 byte/row (the roaring-equivalent claim)
        assert len(dv_encode(range(10_000))) < 10_100

    def test_codec_rejects_malformed(self):
        from dp_dimension_importer_spark.storage import dv_decode, dv_encode

        with pytest.raises(ValueError):
            dv_encode([-1])
        with pytest.raises(ValueError):
            dv_decode(b"XXXX\x00")                    # bad magic
        with pytest.raises(ValueError):
            dv_decode(dv_encode([1, 2, 3])[:-1])      # truncated
        with pytest.raises(ValueError):
            dv_decode(dv_encode([1]) + b"\x00")       # trailing bytes

    def test_dv_delete_touches_no_data_bytes(self, spark, tmp_path):
        path, storage = self._table(spark, tmp_path)
        before = self._data_state(path)
        res = storage.delete_where_snapshot(
            spark, path, "grp = 3", mode="dv"
        )
        assert res["files_rewritten"] == 0
        assert res["rows_deleted"] == 1000 // 7 + 1
        assert res["dv_files_written"] > 0
        # the data files are THE SAME FILES, byte for byte
        assert self._data_state(path) == before
        # read path: survivors only, original columns only
        out = storage.read_snapshot(spark, path)
        assert out.columns == ["id", "grp"]
        assert out.filter("grp = 3").count() == 0
        assert out.count() == 1000 - res["rows_deleted"]
        # time travel to v1 still sees everything
        assert storage.read_snapshot(spark, path, version=1).count() == 1000

    def test_stacked_deletes_union_and_idempotence(self, spark, tmp_path):
        path, storage = self._table(spark, tmp_path)
        storage.delete_where_snapshot(spark, path, "grp = 3", mode="dv")
        r2 = storage.delete_where_snapshot(spark, path, "id < 100", mode="dv")
        # 14 of the first 100 ids are grp 3 — already deleted, so the
        # DV-aware probe must not re-count them
        assert r2["rows_deleted"] == 100 - 14
        out = storage.read_snapshot(spark, path)
        assert out.filter("grp = 3 OR id < 100").count() == 0
        # re-issuing a covered predicate is a structural no-op
        r3 = storage.delete_where_snapshot(spark, path, "id < 50", mode="dv")
        assert r3["rows_deleted"] == 0 and r3["dv_files_written"] == 0
        assert r3["version"] == r2["version"]  # no empty commit

    def test_cow_rewrite_materializes_vectors(self, spark, tmp_path):
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        path, storage = self._table(spark, tmp_path)
        storage.delete_where_snapshot(spark, path, "grp = 3", mode="dv")
        # COW delete hits every file → rewrites them → vectors die with
        # the files they describe, and the deletes they encoded hold
        res = storage.delete_where_snapshot(spark, path, "grp = 5")
        assert res["files_rewritten"] > 0
        with open(
            os.path.join(_manifest_dir(path), f"v{res['version']}.json")
        ) as f:
            assert "dv" not in json.load(f)
        out = storage.read_snapshot(spark, path)
        assert out.filter("grp IN (3, 5)").count() == 0
        assert out.count() == 1000 - (1000 // 7 + 1) - (1000 // 7 + 1)

    def test_optimize_materializes_and_appends_carry(self, spark, tmp_path):
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        path, storage = self._table(spark, tmp_path)
        storage.delete_where_snapshot(spark, path, "id < 500", mode="dv")
        # append keeps the existing vectors live for the carried files
        extra = spark.range(2000, 2100).select(
            F.col("id"), (F.col("id") % 7).alias("grp")
        )
        storage.write_snapshot(spark, extra, path, mode="append")
        out = storage.read_snapshot(spark, path)
        assert out.count() == 500 + 100 and out.filter("id < 500").count() == 0
        # OPTIMIZE folds the vectors into clean files and drops them
        v = storage.optimize_snapshot(spark, path, ["id"], n_shards=2)
        with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as f:
            assert "dv" not in json.load(f)
        assert storage.read_snapshot(spark, path).count() == 600

    def test_vacuum_keeps_live_sidecars(self, spark, tmp_path):
        import glob
        import os

        path, storage = self._table(spark, tmp_path)
        storage.delete_where_snapshot(spark, path, "grp = 0", mode="dv")
        survivors = storage.read_snapshot(spark, path).count()
        storage.vacuum_snapshots(path, keep_last=1)
        # the DV version is the retained one: its sidecars must survive
        assert glob.glob(os.path.join(path, "data", "*", "*.dv"))
        assert storage.read_snapshot(spark, path).count() == survivors
        # after OPTIMIZE (materialize) + vacuum, the sidecars are garbage
        storage.optimize_snapshot(spark, path, ["id"], n_shards=2)
        storage.vacuum_snapshots(path, keep_last=1)
        assert not glob.glob(os.path.join(path, "data", "*", "*.dv"))
        assert storage.read_snapshot(spark, path).count() == survivors

    def test_compaction_folds_dv_carrying_files(self, spark, tmp_path):
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        path, storage = self._table(spark, tmp_path, files=6)
        storage.delete_where_snapshot(spark, path, "id = 17", mode="dv")
        before = self._data_state(path)
        res = storage.compact_small_files_snapshot(
            spark, path, min_file_bytes=1 << 20
        )
        # every file is tiny, the DV-carrying one included: the rewrite
        # reads it through its vector, so the deleted row stays deleted
        # and the commit carries no vector
        assert res["files_compacted"] == len(before)
        out = storage.read_snapshot(spark, path)
        assert out.count() == 999 and out.filter("id = 17").count() == 0
        with open(
            os.path.join(_manifest_dir(path), f"v{res['version']}.json")
        ) as f:
            assert "dv" not in json.load(f)

    def test_incremental_optimize_folds_dv_carrying_files(
        self, spark, tmp_path
    ):
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        path, storage = self._table(spark, tmp_path, n=100, files=2)
        storage.write_snapshot(
            spark,
            spark.range(100, 200).select(
                F.col("id"), (F.col("id") % 7).alias("grp")
            ).repartition(2),
            path, mode="append",
        )
        storage.delete_where_snapshot(spark, path, "id = 150", mode="dv")
        want = sorted(
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        )
        res = storage.optimize_snapshot_incremental(
            spark, path, ["id"], since_version=1, n_shards=2
        )
        assert res["version"] == 4 and res["files_clustered"] >= 1
        assert sorted(
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        ) == want
        with open(os.path.join(_manifest_dir(path), "v4.json")) as f:
            assert "dv" not in json.load(f)

    def test_purge_density_threshold(self, spark, tmp_path):
        """REORG APPLY (PURGE): only files whose vector density crosses
        the bar are rewritten; light-vector files keep their sidecar
        byte-identically, and the purge never changes what readers see."""
        import json
        import os

        from dp_dimension_importer_spark.storage import (
            _manifest_dir,
            _scan_with_pos,
        )

        path, storage = self._table(spark, tmp_path, n=1000, files=4)
        man = json.load(
            open(os.path.join(_manifest_dir(path), "v1.json"))
        )
        data, _ = _scan_with_pos(spark, path, man["files"], {})
        per_file = (
            data.select("_fname", "id").toPandas()
            .groupby("_fname")["id"].apply(list).to_dict()
        )
        fnames = sorted(per_file)
        heavy, light = fnames[0], fnames[1]
        # ~90% of the heavy file, exactly 2 rows of the light one
        doomed = [i for i in per_file[heavy] if i % 10 != 0]
        doomed += sorted(per_file[light])[:2]
        storage.delete_where_snapshot(
            spark, path,
            f"id IN ({','.join(str(i) for i in doomed)})", mode="dv",
        )
        before_rows = {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        }
        before_state = self._data_state(path)
        rp = storage.purge_deletion_vectors(spark, path, min_density=0.5)
        assert rp["files_purged"] == 1
        assert rp["dvs_kept"] == 1
        assert rp["rows_materialized"] == len(
            [i for i in per_file[heavy] if i % 10 != 0]
        )
        man3 = json.load(
            open(os.path.join(_manifest_dir(path), f"v{rp['version']}.json"))
        )
        # the light file carried byte-identically, vector still mapped
        light_rels = [
            rel for rel in man3["files"] if os.path.basename(rel) == light
        ]
        assert len(light_rels) == 1 and light_rels[0] in man3["dv"]
        after_state = self._data_state(path)
        assert after_state[light_rels[0]] == before_state[light_rels[0]]
        # the heavy file is gone from the manifest, replaced by new files
        assert all(os.path.basename(r) != heavy for r in man3["files"])
        # purge moves bytes, never rows
        after_rows = {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        }
        assert after_rows == before_rows
        # full REORG drops the last vector too; reads still identical
        rp2 = storage.purge_deletion_vectors(spark, path)
        man4 = json.load(
            open(os.path.join(_manifest_dir(path), f"v{rp2['version']}.json"))
        )
        assert rp2["dvs_kept"] == 0 and "dv" not in man4
        assert {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        } == before_rows
        # pre-purge DV version still time-travels
        assert storage.read_snapshot(
            spark, path, version=2
        ).count() == len(before_rows)
        # no vectors left → structural no-op, no empty commit
        rp3 = storage.purge_deletion_vectors(spark, path)
        assert rp3["files_purged"] == 0
        assert rp3["version"] == rp2["version"]


def test_rollup_cascade_splices_only_touched_buckets(spark, tmp_path):
    """The cascade refresh's structural claims, which oracle parity can't
    see: every level is a 2-version snapshot table; untouched coarse
    buckets carry VERBATIM from v1 (the splice anti-join really kept
    them); touched buckets equal a from-scratch recompute; and the day MV
    equals the one-shot day aggregation of the full data."""
    import datetime as dt

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.aggregates import (
        _event_bucket_partial,
        rollup_cascade_refresh,
    )

    def mk(rows):
        return spark.createDataFrame(
            [(dt.datetime(2024, m, d, h), t, float(v))
             for (m, d, h, t, v) in rows],
            "ts timestamp, event_type string, value double",
        )

    # hist: ISO weeks of Jan 1 / Jan 8 / Jan 15, plus one February week
    hist = mk([
        (1, 2, 10, "click", 1.0), (1, 3, 11, "view", 2.0),   # wk 01-01
        (1, 9, 10, "click", 3.0), (1, 10, 9, "view", 4.0),   # wk 01-08
        (1, 16, 8, "click", 5.0),                             # wk 01-15
        (2, 6, 12, "view", 6.0), (2, 7, 13, "click", 7.0),   # wk 02-05
    ])
    # delta: entirely inside the week of Jan 15 (and month of Jan)
    delta = mk([(1, 17, 9, "click", 8.0), (1, 18, 10, "view", 9.0)])

    paths = rollup_cascade_refresh(spark, hist, delta, str(tmp_path / "mv"))

    def rows_of(path, version=None):
        return {
            (r.bucket, r.event_type): (r.cnt_rows, r.sum_cents, r.max_cents)
            for r in storage.read_snapshot(spark, path, version).collect()
        }

    for u in ("day", "week", "month"):
        assert storage.snapshot_versions(paths[u]) == [1, 2]

    # day MV == one-shot recompute over hist+delta
    full = hist.unionByName(delta)
    expect_day = {
        (r.bucket, r.event_type): (r.cnt_rows, r.sum_cents, r.max_cents)
        for r in _event_bucket_partial(full, "day").collect()
    }
    assert rows_of(paths["day"]) == expect_day

    # week level: untouched buckets verbatim, touched == recompute
    w1, w2 = rows_of(paths["week"], 1), rows_of(paths["week"])
    untouched = {k for k in w2 if k[0] != "2024-01-15"}
    assert untouched and all(w2[k] == w1[k] for k in untouched)
    expect_week = {
        (r.bucket, r.event_type): (r.cnt_rows, r.sum_cents, r.max_cents)
        for r in _event_bucket_partial(full, "week").collect()
    }
    assert w2 == expect_week
    assert w2[("2024-01-15", "click")] != w1[("2024-01-15", "click")]

    # month level: February verbatim, January recomputed
    m1, m2 = rows_of(paths["month"], 1), rows_of(paths["month"])
    assert m2[("2024-02-01", "view")] == m1[("2024-02-01", "view")]
    expect_month = {
        (r.bucket, r.event_type): (r.cnt_rows, r.sum_cents, r.max_cents)
        for r in _event_bucket_partial(full, "month").collect()
    }
    assert m2 == expect_month


class TestMergeOnReadUpserts:
    """MOR delta chain (``upsert_delta_snapshot`` / ``compact_mor``):
    q86 pins the numbers; these pin the STRUCTURAL contract — which
    bytes move, which verbs refuse, what vacuum keeps."""

    def _base(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "mor")
        df = spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") * 10).alias("v"),
            F.lit(0).cast("long").alias("seq"),
        ).repartition(3)
        storage.write_snapshot(spark, df, path)
        return path, storage

    def _delta(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, grp long, v long, seq long"
        )

    def test_delta_commit_touches_no_base_bytes(self, spark, tmp_path):
        import hashlib
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        path, storage = self._base(spark, tmp_path)
        man1 = json.load(open(os.path.join(_manifest_dir(path), "v1.json")))
        pre = {
            rel: hashlib.sha1(
                open(os.path.join(path, rel), "rb").read()
            ).hexdigest()
            for rel in man1["files"]
        }
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(7, 2, 999, 1)]), ["k"], "seq"
        )
        man2 = json.load(open(os.path.join(_manifest_dir(path), "v2.json")))
        assert man2["files"] == man1["files"]
        for rel, h in pre.items():
            got = hashlib.sha1(
                open(os.path.join(path, rel), "rb").read()
            ).hexdigest()
            assert got == h, rel
        out = {r.k: r.v for r in storage.read_snapshot(spark, path).collect()}
        assert out[7] == 999 and len(out) == 100
        # time travel: v1 still sees the original value
        assert {
            r.k: r.v
            for r in storage.read_snapshot(spark, path, version=1).collect()
        }[7] == 70

    def test_latest_wins_ordering_and_inserts(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        storage.upsert_delta_snapshot(
            spark, path,
            self._delta(spark, [(7, 2, 111, 5), (200, 0, 1, 5)]),
            ["k"], "seq",
        )
        # later COMMIT beats earlier even with a SMALLER seq
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(7, 2, 222, 1)]), ["k"], "seq"
        )
        out = {r.k: r.v for r in storage.read_snapshot(spark, path).collect()}
        assert out[7] == 222          # commit order dominates
        assert out[200] == 1          # insert survived
        assert len(out) == 101

    def test_guards_and_interop(self, spark, tmp_path):
        import pytest

        path, storage = self._base(spark, tmp_path)
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(7, 2, 999, 1)]), ["k"], "seq"
        )
        extra = self._delta(spark, [(300, 1, 5, 0)])
        with pytest.raises(ValueError, match="MOR"):
            storage.write_snapshot(spark, extra, path, mode="append")
        # r13: DELETE on MOR is a tombstone delta group, not a refusal
        r = storage.delete_where_snapshot(spark, path, "k = 7")
        assert r["rows_deleted"] == 1 and r["files_rewritten"] == 0
        assert storage.read_snapshot(spark, path).filter(
            "k = 7"
        ).count() == 0
        # re-insert so the assertions below see the original world
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(7, 2, 999, 1)]), ["k"], "seq"
        )
        with pytest.raises(ValueError, match="key/seq"):
            storage.upsert_delta_snapshot(
                spark, path, self._delta(spark, [(8, 2, 1, 1)]),
                ["k", "grp"], "seq",
            )
        # pruned read falls back to resolved-read + filter, still exact
        got = storage.read_snapshot_pruned(spark, path, "k", 5, 9).collect()
        assert {r.k: r.v for r in got} == {
            5: 50, 6: 60, 7: 999, 8: 80, 9: 90
        }
        # DV table refuses MOR and vice versa
        dvp = str(tmp_path / "dvt2")
        df = spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("seq")
        )
        storage.write_snapshot(spark, df, dvp)
        storage.delete_where_snapshot(spark, dvp, "k = 3", mode="dv")
        with pytest.raises(ValueError, match="deletion vectors"):
            storage.upsert_delta_snapshot(
                spark, dvp,
                spark.createDataFrame([(1, 9)], "k long, seq long"),
                ["k"], "seq",
            )

    def test_compact_then_vacuum_reclaims_chain(self, spark, tmp_path):
        import glob
        import os

        path, storage = self._base(spark, tmp_path)
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(7, 2, 999, 1)]), ["k"], "seq"
        )
        want = {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        }
        # vacuum BEFORE compaction keeps the live delta chain
        storage.vacuum_snapshots(path, keep_last=1)
        assert {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        } == want
        v = storage.compact_mor(spark, path)
        # no-op compaction commits nothing
        assert storage.compact_mor(spark, path) == v
        assert {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        } == want
        # after compaction the chain is garbage; base file count shrinks
        # to the rewrite's output and nothing dangles
        storage.vacuum_snapshots(path, keep_last=1)
        assert {
            tuple(r) for r in storage.read_snapshot(spark, path).collect()
        } == want
        # appends work again on the compacted table
        storage.write_snapshot(
            spark, self._delta(spark, [(500, 0, 1, 0)]), path, mode="append"
        )
        assert storage.read_snapshot(spark, path).count() == 101
        # small-file compaction on a MOR table carries the chain (guard
        # for the manifest-carry path): rebuild one
        storage.upsert_delta_snapshot(
            spark, path, self._delta(spark, [(500, 0, 77, 1)]), ["k"], "seq"
        )
        res = storage.compact_small_files_snapshot(
            spark, path, min_file_bytes=1 << 20
        )
        out = {r.k: r.v for r in storage.read_snapshot(spark, path).collect()}
        assert out[500] == 77, res


class TestMorRound8Seams:
    """Round-8 storage semantics, each branch pinned by its own test
    (VERDICT r8 "What's wrong" #1): additive evolution both ways, the
    refusal guards, the empty-delta no-op (fixed this round — Spark
    writes a schema-only parquet file for an empty frame, so the r7
    guard keyed on the glob never fired), and the manifest "version"
    field integrity after re-publishing a loaded manifest."""

    def _base(self, spark, tmp_path):
        from dp_dimension_importer_spark import storage

        path = str(tmp_path / "morseams")
        df = spark.range(0, 20).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit(0).cast("long").alias("seq"),
        )
        storage.write_snapshot(spark, df, path)
        return path, storage

    def _man(self, path, v):
        import json
        import os

        from dp_dimension_importer_spark.storage import _manifest_dir

        with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as f:
            return json.load(f)

    def test_additive_evolution_both_directions(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        # delta 1 ADDS column w
        d1 = spark.createDataFrame(
            [(3, 999, 1, "x3")], "k long, v long, seq long, w string"
        )
        v2 = storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")
        # delta 2 OMITS committed column v entirely
        d2 = spark.createDataFrame([(5, 2)], "k long, seq long")
        v3 = storage.upsert_delta_snapshot(spark, path, d2, ["k"], "seq")
        man = self._man(path, v3)
        assert list(man["schema"]) == ["k", "v", "seq", "w"]
        out = {
            r.k: (r.v, r.w)
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert out[3] == (999, "x3")       # added column carried
        assert out[5] == (None, None)      # omitted column -> typed NULL
        assert out[0] == (0, None)         # base rows NULL-fill new column
        assert len(out) == 20
        # time travel: pre-evolution versions keep their own schema
        assert "w" not in storage.read_snapshot(
            spark, path, version=1
        ).columns
        assert "w" in storage.read_snapshot(
            spark, path, version=v2
        ).columns

    def test_type_drift_refused(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        bad = spark.createDataFrame(
            [(1, "oops", 1)], "k long, v string, seq long"
        )
        with pytest.raises(ValueError, match="change committed column"):
            storage.upsert_delta_snapshot(spark, path, bad, ["k"], "seq")

    def test_missing_key_or_seq_refused(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        no_seq = spark.createDataFrame([(1, 5)], "k long, v long")
        with pytest.raises(ValueError, match="key/seq"):
            storage.upsert_delta_snapshot(spark, path, no_seq, ["k"], "seq")
        no_key = spark.createDataFrame([(5, 1)], "v long, seq long")
        with pytest.raises(ValueError, match="key/seq"):
            storage.upsert_delta_snapshot(spark, path, no_key, ["k"], "seq")

    def test_reserved_column_refused(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        bad = spark.createDataFrame(
            [(1, 1, 0)], "k long, seq long, _ci long"
        )
        with pytest.raises(ValueError, match="reserved"):
            storage.upsert_delta_snapshot(spark, path, bad, ["k"], "seq")

    def test_empty_delta_noop_without_txn(self, spark, tmp_path):
        path, storage = self._base(spark, tmp_path)
        empty = spark.createDataFrame([], "k long, v long, seq long")
        v = storage.upsert_delta_snapshot(spark, path, empty, ["k"], "seq")
        assert v == 1                       # no new version at all
        assert storage.snapshot_versions(path) == [1]
        assert storage.read_snapshot(spark, path).count() == 20

    def test_empty_delta_with_txn_advances_watermark_only(
        self, spark, tmp_path
    ):
        path, storage = self._base(spark, tmp_path)
        empty = spark.createDataFrame([], "k long, v long, seq long")
        v = storage.upsert_delta_snapshot(
            spark, path, empty, ["k"], "seq", txn=("app", 7)
        )
        assert v == 2
        man = self._man(path, v)
        assert man["txn"] == {"app": 7}     # watermark advanced
        assert not man.get("mor", {}).get("deltas"), (
            "empty batch grew the delta chain"
        )
        # ADVICE r8: the re-published manifest must self-describe as the
        # NEW version, not carry the loaded manifest's stale field
        assert man["version"] == v
        # redelivery of the same batch id is skipped before any write
        assert storage.upsert_delta_snapshot(
            spark, path, empty, ["k"], "seq", txn=("app", 7)
        ) == v
        # and a later REAL delta still lands on the advanced watermark
        d = spark.createDataFrame([(3, 999, 1)], "k long, v long, seq long")
        v3 = storage.upsert_delta_snapshot(
            spark, path, d, ["k"], "seq", txn=("app", 8)
        )
        assert len(self._man(path, v3)["mor"]["deltas"]) == 1
        out = {r.k: r.v for r in storage.read_snapshot(spark, path).collect()}
        assert out[3] == 999 and len(out) == 20

    def test_zero_row_part_files_dropped_from_commit(self, spark, tmp_path):
        import os

        path, storage = self._base(spark, tmp_path)
        # 1 live row spread over 4 partitions -> 3 schema-only part files
        d = spark.createDataFrame(
            [(3, 999, 1)], "k long, v long, seq long"
        ).repartition(4)
        v = storage.upsert_delta_snapshot(spark, path, d, ["k"], "seq")
        grp = self._man(path, v)["mor"]["deltas"][0]
        assert len(grp) == 1, f"zero-row part files committed: {grp}"
        import pyarrow.parquet as pq

        assert pq.ParquetFile(
            os.path.join(path, grp[0])
        ).metadata.num_rows == 1


class TestImagePhash:
    """DCT pHash floors (multimodal_image_phash is rows-only — the decode
    is Python): same-pattern recall, cross-pattern precision, and the
    property that earns pHash its seat next to dHash — stability under
    RESAMPLING (low frequencies survive a 2× upscale; pixel gradients
    need not)."""

    def test_fixture_recall_and_precision(self, spark):
        from dp_dimension_importer_spark.registry import QUERIES

        rows = QUERIES["multimodal_image_phash"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows, "no pairs found"
        same = [r for r in rows if r.da % 100 == r.db % 100]
        assert len(same) == len(rows), "cross-pattern pair leaked"
        # every same-pattern pair in the fixture must be recovered
        n_docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).count()
        from collections import Counter

        per_group = Counter(i % 100 for i in range(n_docs))
        want = sum(c * (c - 1) // 2 for c in per_group.values())
        assert len(rows) == want, (len(rows), want)

    def test_scale_invariance_vs_noise(self, spark):
        import numpy as np

        from dp_dimension_importer_spark.operators.multimodal import (
            image_phash,
        )

        base = np.random.RandomState(3).randint(0, 256, (16, 16)).astype(
            np.uint8
        )
        up = base.repeat(2, axis=0).repeat(2, axis=1)     # 2x upscale
        other = np.random.RandomState(4).randint(0, 256, (16, 16)).astype(
            np.uint8
        )

        def pgm(img):
            h, w = img.shape
            return b"P5 %d %d 255\n" % (w, h) + img.tobytes()

        df = spark.createDataFrame(
            [(1, pgm(base)), (2, pgm(up)), (3, pgm(other))],
            "asset_id long, payload binary",
        )
        h = {r.asset_id: r.phash for r in image_phash(df).collect()}
        d_scale = bin((h[1] ^ h[2]) & ((1 << 64) - 1)).count("1")
        d_other = bin((h[1] ^ h[3]) & ((1 << 64) - 1)).count("1")
        assert d_scale <= 6, f"2x upscale moved pHash {d_scale} bits"
        assert d_other >= 16, f"different pictures only {d_other} bits apart"
