"""Pins for the persisted MinHash band index's maintenance verbs
(operators/dedup.py: append_band_index / compact_band_index — r10
verdict task #7): bounded per-band file counts and disk use under
simulated daily ingests, probe-equivalence across compaction, and a
failed compaction commit leaving the index as it was."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import Row

from dp_dimension_importer_spark import storage
from dp_dimension_importer_spark.operators.dedup import (
    BAND_SPEC,
    append_band_index,
    compact_band_index,
    minhash_bands,
    minhash_signatures,
)


def _docs(spark, lo, hi):
    rows = [
        Row(
            doc_id=i,
            text=(
                f"the quick brown fox {i % 7} jumps over the lazy dog "
                f"{i % 5} again and again with more words to shingle "
                f"properly across the whole document body {i % 3}"
            ),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _files_per_band(idx):
    """Live files per band in the index's latest manifest."""
    man = storage._load_manifest(idx, storage.snapshot_versions(idx)[-1])
    values = man["partition"]["values"]
    return Counter(values[rel][1][0] for rel in man["files"])


def _probe(spark, idx, bands_new):
    """The incremental job's candidate probe: stored × new on
    (band, bkey) — the exact join dedup_minhash_incremental runs."""
    from pyspark.sql import functions as F

    stored = storage.read_snapshot(spark, idx)
    return sorted(
        (r["da"], r["db"])
        for r in (
            stored.alias("c")
            .join(
                bands_new.alias("n"),
                (F.col("c.band") == F.col("n.band"))
                & (F.col("c.bkey") == F.col("n.bkey")),
            )
            .select(
                F.col("c.doc_id").alias("da"),
                F.col("n.doc_id").alias("db"),
            )
            .dropDuplicates()
            .collect()
        )
    )


def test_daily_appends_grow_then_compact_bounds_files(spark):
    idx = tempfile.mkdtemp(prefix="band_idx_")
    try:
        day0 = minhash_bands(minhash_signatures(_docs(spark, 0, 30)))
        storage.write_snapshot_partitioned(spark, day0, idx, BAND_SPEC)
        for day in range(1, 4):  # 3 simulated daily ingests
            new = minhash_bands(
                minhash_signatures(
                    _docs(spark, 30 * day, 30 * day + 30)
                )
            )
            append_band_index(new, idx)
        per_band_before = _files_per_band(idx)
        assert max(per_band_before.values()) >= 4, per_band_before

        probe_bands = minhash_bands(
            minhash_signatures(_docs(spark, 120, 140))
        ).localCheckpoint(eager=True)
        before = _probe(spark, idx, probe_bands)

        compact_band_index(spark, idx)
        per_band_after = _files_per_band(idx)
        assert set(per_band_after) == set(per_band_before)
        assert max(per_band_after.values()) == 1, per_band_after

        after = _probe(spark, idx, probe_bands)
        assert before == after and before, (
            f"probe changed across compaction: {len(before)} vs {len(after)}"
        )
        # the superseded files are gone: only the live ones stay on disk
        man = storage._load_manifest(idx, storage.snapshot_versions(idx)[-1])
        on_disk = {
            os.path.relpath(os.path.join(d, f), idx)
            for d, _, fs in os.walk(os.path.join(idx, "data"))
            for f in fs if f.endswith(".parquet")
        }
        assert on_disk == set(man["files"]), on_disk ^ set(man["files"])
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_failed_compaction_commit_leaves_index_readable(spark, monkeypatch):
    idx = tempfile.mkdtemp(prefix="band_idx_")
    try:
        day0 = minhash_bands(minhash_signatures(_docs(spark, 0, 20)))
        storage.write_snapshot_partitioned(spark, day0, idx, BAND_SPEC)
        append_band_index(
            minhash_bands(minhash_signatures(_docs(spark, 20, 30))), idx
        )
        rows = sorted(map(tuple, storage.read_snapshot(spark, idx).collect()))
        versions = storage.snapshot_versions(idx)

        def fail(*a, **kw):
            raise RuntimeError("crash before the manifest commit")

        # the compaction writes its files, then its commit fails
        with monkeypatch.context() as m:
            m.setattr(storage, "_commit_manifest", fail)
            with pytest.raises(RuntimeError, match="manifest commit"):
                compact_band_index(spark, idx)
        assert storage.snapshot_versions(idx) == versions
        assert sorted(
            map(tuple, storage.read_snapshot(spark, idx).collect())
        ) == rows
        # and the next compaction runs clean end-to-end
        compact_band_index(spark, idx)
        assert max(_files_per_band(idx).values()) == 1
        assert sorted(
            map(tuple, storage.read_snapshot(spark, idx).collect())
        ) == rows
    finally:
        shutil.rmtree(idx, ignore_errors=True)
