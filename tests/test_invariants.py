"""Cross-operator invariants on the fixed test corpus — properties the
oracle hash-match can't express (it only proves Spark == DuckDB; these
prove both compute something with the right STRUCTURE).
"""

from __future__ import annotations

import pandas as pd
import pytest

from dp_dimension_importer_spark.operators.text import CHUNK_TOKENS, PACK_BUDGET
from dp_dimension_importer_spark.registry import QUERIES
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def q(spark):
    def run(name) -> pd.DataFrame:
        return QUERIES[name](spark, SF_SMOKE).toPandas()

    return run


def test_text_chunk_partitions_every_token(q):
    """Chunks tile each doc exactly: token counts per doc re-add to the
    doc's token count, every non-final chunk is full, ids are dense."""
    ch = q("text_chunk")
    for doc_id, g in ch.groupby("doc_id"):
        g = g.sort_values("chunk_id")
        assert list(g.chunk_id) == list(range(len(g)))
        assert (g.tok_in_chunk.iloc[:-1] == CHUNK_TOKENS).all()
        assert 1 <= g.tok_in_chunk.iloc[-1] <= CHUNK_TOKENS


def test_text_pack_is_monotone_and_contiguous(q):
    """Within a shard, docs occupy non-decreasing, overlapping-or-adjacent
    sequence ranges — the concat stream never jumps backwards or skips a
    training sequence."""
    pk = q("text_pack")
    for shard, g in pk.groupby("shard"):
        g = g.sort_values("doc_id")
        assert (g.end_seq >= g.start_seq).all()
        prev_start, prev_end = None, None
        for s, e in zip(g.start_seq, g.end_seq):
            if prev_start is not None:
                assert s >= prev_start
                # next doc starts in or right after the previous doc's range
                assert s <= prev_end + 1
            prev_start, prev_end = s, e


def test_scd2_intervals_tile_the_timeline(q):
    """Per user: intervals are ordered, contiguous (eff_to == next
    eff_from), non-empty, and exactly the last one is open (NULL)."""
    iv = q("scd2_intervals")
    for user, g in iv.groupby("user_id"):
        g = g.sort_values("eff_from")
        opens = g.eff_to.isna()
        assert opens.sum() == 1 and opens.iloc[-1]
        closed = g.iloc[:-1]
        assert (closed.eff_to.values == g.eff_from.values[1:]).all()
        assert (closed.eff_to > closed.eff_from).all() or len(closed) == 0


def test_gapfill_is_dense_and_filled(q):
    """The spine has every hour between each series' min and max, v_fill
    is never null, and filled rows carry the previous observation."""
    gf = q("ts_gapfill_locf")
    assert gf.v_fill.notna().all()
    for et, g in gf.groupby("event_type"):
        g = g.sort_values("hour_ts")
        assert list(g.hour_ts) == list(
            range(int(g.hour_ts.min()), int(g.hour_ts.max()) + 3600, 3600)
        )
        # LOCF: a filled row's value equals the previous row's value
        vals = g.v_fill.values
        fill = g.filled.values
        for i in range(1, len(g)):
            if fill[i] == 1:
                assert vals[i] == vals[i - 1]


def test_dedup_clusters_label_is_min_member(q):
    """Each cluster's id is its smallest member and every near-dup pair
    lands in one cluster (the under-delete guarantee pairs alone lack)."""
    cl = q("dedup_clusters")
    lab = dict(zip(cl.doc_id, cl.cluster_id))
    for cid, g in cl.groupby("cluster_id"):
        assert cid == g.doc_id.min()
    pairs = q("dedup_ngram_jaccard")
    for da, db in zip(pairs.da, pairs.db):
        assert lab[da] == lab[db]


def test_fuzzy_candidates_are_real_near_misses(q):
    """Ordered pairs of distinct names: positive distance, and each pair
    differs in exactly one token position (the blocking guarantee)."""
    fz = q("fuzzy_dedup_names")
    assert (fz.na < fz.nb).all()
    assert (fz.dist >= 1).all()
    for na, nb in zip(fz.na, fz.nb):
        ta, tb = na.split(" "), nb.split(" ")
        assert len(ta) == len(tb)
        assert sum(x != y for x, y in zip(ta, tb)) == 1


def test_corpus_mix_keeps_subset(q):
    """Kept docs never exceed the source's doc count; weights order the
    keep-rates the way the mix intends (weight 100 sources keep all)."""
    cm = q("corpus_mix")
    assert (cm.kept <= cm.docs).all()
    full = cm[cm.source.str.slice(3).astype(int) % 4 == 0]
    assert (full.kept == full.docs).all()


def test_dedup_clusters_paths_agree(spark, monkeypatch):
    """The one-pass executor union-find (small-graph path) and the
    iterative min-label-propagation loop (large-graph path) are the same
    operator: forcing the loop via the cutoff must give identical
    clusters."""
    from dp_dimension_importer_spark.operators import dedup

    sf = "/root/testdata/sf0.01"
    fast = dedup.dedup_clusters(spark, sf).collect()
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_PAIRS", 0)
    slow = dedup.dedup_clusters(spark, sf).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert len(fast) > 0


def test_star_contraction_matches_union_find(spark):
    """The large-graph CC path (alternating large-star/small-star) must
    agree with reference union-find on adversarial shapes: a long chain
    (worst case for diameter-bound propagation), a star, a clique, and
    seeded random graphs."""
    import random

    from dp_dimension_importer_spark.operators.dedup import (
        _components_star_contraction,
    )

    def uf(pairs):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = random.Random(20260813)
    cases = [
        [(i, i + 1) for i in range(40)],                      # chain
        [(0, i) for i in range(1, 25)],                       # star
        [(i, j) for i in range(7) for j in range(i + 1, 7)],  # clique
    ]
    for _ in range(3):
        n = rng.randint(15, 50)
        cases.append(
            [(rng.randint(0, n), rng.randint(0, n)) for _ in range(n)]
        )
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "da long, db long")
        got = {
            r.node: r.comp for r in _components_star_contraction(df).collect()
        }
        assert got == uf(pairs)


def test_catalog_repins_utc_on_cache_hit(spark):
    """A caller flipping the session timezone between queries must not
    poison cached plans: table() re-asserts the UTC pin on EVERY call,
    including cache hits (ADVICE r2: cache hits bypassed _read_table)."""
    from dp_dimension_importer_spark import catalog

    catalog.table(spark, SF_SMOKE, "orders")  # populate cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = catalog.table(spark, SF_SMOKE, "orders")  # cache hit
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert df is catalog.table(spark, SF_SMOKE, "orders")  # still cached


def test_dedup_spans_excises_shared_runs_only(spark):
    """dedup_spans semantics on a constructed corpus: a span shared
    verbatim across docs is excised from both, unique text survives
    untouched, a whole-doc duplicate empties, and the token accounting
    (n_tokens - n_removed = tokens of cleaned_text) always balances."""
    from dp_dimension_importer_spark.operators.dedup import dedup_spans

    shared = " ".join(f"s{i}" for i in range(12))  # 12 tokens -> 5 8-grams
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"one two three {shared} four five six"),
        (3, "totally unique sentence with enough tokens to form grams ok"),
        (4, shared),
        (5, shared),
        (6, "short doc"),  # < k tokens: no grams, untouched
    ]
    df = spark.createDataFrame(docs, "id long, body string")
    out = {
        r.doc_id: r
        for r in dedup_spans(df, id_col="id", text_col="body").collect()
    }
    assert len(out) == 6  # every doc present, even fully-excised ones
    for r in out.values():
        kept = [t for t in r.cleaned_text.split(" ") if t != ""]
        assert r.n_tokens - r.n_removed == len(kept)
    # the shared 12-token span is gone from docs 1/2; their unique
    # prefix/suffix tokens survive
    assert out[1].cleaned_text == "alpha beta gamma delta"
    assert out[2].cleaned_text == "one two three four five six"
    # unique docs untouched
    assert out[3].n_removed == 0 and out[3].cleaned_text == docs[2][1]
    assert out[6].n_removed == 0 and out[6].cleaned_text == "short doc"
    # verbatim whole-doc duplicates are fully excised
    assert out[4].cleaned_text == "" and out[4].n_removed == 12
    assert out[5].cleaned_text == "" and out[5].n_removed == 12


def test_dedup_spans_min_run_gate(spark):
    """A single isolated duplicated gram (run length 1 < min_run=2) does
    NOT trigger excision — the run gate keeps one-off collisions from
    shredding documents."""
    from dp_dimension_importer_spark.operators.dedup import dedup_spans

    shared8 = " ".join(f"w{i}" for i in range(8))  # exactly one 8-gram
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 {shared8} a3 a4"),
            (2, f"b1 b2 b3 {shared8} b4"),
        ],
        "id long, body string",
    )
    out = {
        r.doc_id: r
        for r in dedup_spans(df, id_col="id", text_col="body").collect()
    }
    assert out[1].n_removed == 0 and out[2].n_removed == 0
    # but with min_run=1 the shared gram IS excised from both
    out1 = {
        r.doc_id: r
        for r in dedup_spans(
            df, id_col="id", text_col="body", min_run=1
        ).collect()
    }
    assert out1[1].cleaned_text == "a1 a2 a3 a4"
    assert out1[2].cleaned_text == "b1 b2 b3 b4"


def test_sessionize_gap_boundary(spark):
    """A gap of EXACTLY gap_ms stays in-session; gap_ms+1 opens a new one;
    users never share sessions. Integer-ms timestamps, no float drift."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.analytics import sessionize

    base = 1_700_000_000_000
    rows = [
        # user 1: e1, +gap exactly (same session), +gap+1 (new session)
        (1, 1, base),
        (1, 2, base + 1_000),
        (1, 3, base + 1_000 + 1_000),
        (1, 4, base + 2_000 + 1_001),
        # user 2: single event — its own session regardless of user 1
        (2, 5, base),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ms long"
    ).select("user_id", "event_id", F.timestamp_millis(F.col("ms")).alias("ts"))
    out = {
        (r.user_id, r.session_n): r
        for r in sessionize(df, gap_ms=1_000).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    assert out[(1, 1)].n_events == 3  # both 1 000 ms gaps stay in-session
    assert out[(1, 1)].duration_ms == 2_000
    assert out[(1, 2)].n_events == 1 and out[(1, 2)].duration_ms == 0
    assert out[(2, 1)].n_events == 1


def test_bloom_route_exactness_and_no_false_negatives(spark):
    """bloom_route_new returns EXACTLY batch-minus-corpus (bloom is
    routing, never truth), and the bitmap has zero false negatives —
    every corpus member probes positive, the property that makes the
    negative fast-path safe."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dedup import (
        bloom_contains_udf,
        bloom_route_new,
        build_bloom_bitmap,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # batch: 100 re-ingested duplicates (ids shifted) + 50 new docs
    batch = spark.createDataFrame(
        [(1000 + i, f"corpus doc {i}") for i in range(100)]
        + [(2000 + i, f"new doc {i}") for i in range(50)],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in bloom_route_new(corpus, batch).collect())
    assert got == [2000 + i for i in range(50)]

    h1, h2 = F.xxhash64(F.col("text")), F.xxhash64(F.col("text"), F.lit(1))
    bm = build_bloom_bitmap(
        corpus.select(h1.alias("h1"), h2.alias("h2")), "h1", "h2"
    )
    contains = bloom_contains_udf(spark, bm)
    misses = corpus.select(contains(h1, h2).alias("m")).filter(~F.col("m"))
    assert misses.count() == 0  # membership is never missed


def test_pagerank_mass_and_sink_dominance(spark):
    """On src->sink star graphs the sink must accumulate the damped mass
    of every source; unpersist_after releases the internal caches and the
    checkpointed result stays collectable. Exact integer expectations —
    no tolerance anywhere."""
    from dp_dimension_importer_spark.operators.analytics import (
        PR_SCALE,
        PR_TELEPORT,
        pagerank,
    )

    # 4 sources all pointing at one sink, one self-loop on the sink
    edges = spark.createDataFrame(
        [(f"s{i}", "sink", 1) for i in range(4)] + [("sink", "sink", 1)],
        "src string, dst string, n long",
    )
    r = {row.node: row.r for row in pagerank(edges, unpersist_after=True).collect()}
    assert set(r) == {"s0", "s1", "s2", "s3", "sink"}
    # sources receive nothing: teleport mass only, every iteration
    assert all(r[f"s{i}"] == PR_TELEPORT for i in range(4))
    # iteration 1: sink = teleport + 0.85*(4 sources + own) * scale
    # thereafter sources contribute 0.85*teleport each, sink keeps 0.85 of
    # itself — closed-form check of the third iterate
    s1 = PR_TELEPORT + (PR_SCALE * 85 // 100) * 5
    s2 = PR_TELEPORT + 4 * (PR_TELEPORT * 85 // 100) + s1 * 85 // 100
    s3 = PR_TELEPORT + 4 * (PR_TELEPORT * 85 // 100) + s2 * 85 // 100
    assert r["sink"] == s3


def test_sessionize_agrees_with_spark_session_window(spark):
    """Cross-validation of the batch sessionize core against Spark's own
    session_window: same session count and same (user, start) set at
    smoke scale (session_window's window.start = first event; its end
    extends by the gap, ours is the last event — starts are comparable,
    ends are not)."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.catalog import table
    from dp_dimension_importer_spark.operators.analytics import (
        SESSION_GAP_MS,
        sessionize,
    )
    from tests.conftest import SF_SMOKE

    from pyspark.sql import Window as W

    events = table(spark, SF_SMOKE, "events")
    # Boundary semantics differ AT the threshold: sessionize keeps an
    # exactly-gap_ms gap in-session (`gap > gap_ms` opens), Spark's
    # session_window starts a new session at exactly last_ts+gap. Exclude
    # users holding an exact-threshold gap so the cross-check can't flake
    # on a fixture that happens to contain one.
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    boundary_users = {
        r.user_id
        for r in events.withColumn(
            "gap",
            F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)),
        )
        .filter(F.col("gap") == SESSION_GAP_MS)
        .select("user_id")
        .distinct()
        .collect()
    }
    ours = sessionize(events).select(
        "user_id", F.col("start_ms").alias("start")
    )
    theirs = (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MS // 1000} seconds"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("start"),
        )
    )
    a = {
        (r.user_id, r.start)
        for r in ours.collect()
        if r.user_id not in boundary_users
    }
    b = {
        (r.user_id, r.start)
        for r in theirs.collect()
        if r.user_id not in boundary_users
    }
    assert a == b and len(a) > 0


def test_bloom_sharded_route_matches_unsharded(spark):
    """The sharded bloom (scale form) must be a pure routing refinement:
    exact same final ids as the single-bitmap route, and zero false
    negatives per shard — for every corpus member, its shard's bitmap
    answers positive."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dedup import (
        _bloom_contains_sharded_with_handle,
        bloom_route_new,
        build_bloom_bitmaps_sharded,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(300)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, f"corpus doc {i}") for i in range(150)]
        + [(2000 + i, f"new doc {i}") for i in range(60)],
        "doc_id long, text string",
    )
    flat = sorted(r.doc_id for r in bloom_route_new(corpus, batch).collect())
    sharded = sorted(
        r.doc_id
        for r in bloom_route_new(corpus, batch, n_shards=4).collect()
    )
    assert flat == sharded == [2000 + i for i in range(60)]

    h1, h2 = F.xxhash64(F.col("text")), F.xxhash64(F.col("text"), F.lit(1))
    bm = build_bloom_bitmaps_sharded(
        corpus.select(h1.alias("h1"), h2.alias("h2")), "h1", "h2", 4
    )
    contains, _bc = _bloom_contains_sharded_with_handle(spark, bm, 4)
    misses = corpus.select(contains(h1, h2).alias("m")).filter(~F.col("m"))
    assert misses.count() == 0


def test_gram_hash_bits_128_matches_64(spark):
    """hash_bits=128 is a pure identity-widening: on the fixture corpus
    (where 64-bit collisions are absent) dup_ngram_share and dedup_spans
    produce byte-identical results under both widths, and the widened
    shingle frame carries exactly one extra column (h2) with h2 != h
    (independent seeds, not a copied key)."""
    from dp_dimension_importer_spark.catalog import table
    from dp_dimension_importer_spark.operators.dedup import (
        dedup_spans,
        dup_ngram_share,
        shingle_hashes,
        shingle_hashes_pos,
    )

    docs = table(spark, SF_SMOKE, "documents")

    for fn in (dup_ngram_share, dedup_spans):
        a = fn(docs, hash_bits=64).orderBy("doc_id").collect()
        b = fn(docs, hash_bits=128).orderBy("doc_id").collect()
        assert a == b and len(a) > 0

    sh64 = shingle_hashes(docs, k=3)
    sh128 = shingle_hashes(docs, k=3, hash_bits=128)
    assert sh64.columns == ["doc_id", "h"]
    assert sh128.columns == ["doc_id", "h", "h2"]
    assert shingle_hashes_pos(docs, k=3, hash_bits=128).columns == [
        "doc_id", "i", "h", "h2",
    ]
    # same h stream either way; h2 is a genuinely different hash
    assert sh128.filter("h = h2").count() == 0
    assert (
        sh64.groupBy("h").count().orderBy("h").collect()
        == sh128.groupBy("h").count().orderBy("h").collect()
    )

    with pytest.raises(ValueError):
        shingle_hashes(docs, hash_bits=96)


def test_embedding_pca_matches_numpy_and_is_partition_invariant(spark):
    """The distributed moment-sum PCA must agree with a plain in-memory
    numpy PCA on the same data (same sign convention), its components
    must be orthonormal with descending eigenvalues, and — because the
    packed moments are associative sums — the fitted model must be
    IDENTICAL (to float associativity noise) under a different input
    partitioning."""
    import numpy as np

    from dp_dimension_importer_spark.catalog import load_tables
    from dp_dimension_importer_spark.operators.similarity import (
        PCA_K,
        fit_pca,
    )

    t = load_tables(spark, SF_SMOKE)
    mean, comps, ev = fit_pca(t.embeddings)

    rows = t.embeddings.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    m = np.vstack([np.asarray(r["embedding"], np.float64) for r in rows])
    ref_mean = m.mean(axis=0)
    cov = (m - ref_mean).T @ (m - ref_mean) / len(m)
    w, v = np.linalg.eigh(cov)
    ref = v[:, ::-1][:, :PCA_K].copy()
    for j in range(PCA_K):
        i = int(np.argmax(np.abs(ref[:, j])))
        if ref[i, j] < 0:
            ref[:, j] = -ref[:, j]

    assert np.abs(mean - ref_mean).max() < 1e-9
    assert np.abs(comps - ref).max() < 1e-8
    assert np.abs(comps.T @ comps - np.eye(PCA_K)).max() < 1e-9
    assert ev[0] >= ev[1] > 0
    # registered query projections == numpy projections
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in QUERIES["embedding_pca"](spark, SF_SMOKE).collect()
    }
    proj = (m - ref_mean) @ ref
    for idx, r in enumerate(rows):
        exp = np.round(proj[idx], 6)
        assert abs(got[r["vec_id"]][0] - exp[0]) <= 1e-6
        assert abs(got[r["vec_id"]][1] - exp[1]) <= 1e-6
    # partition invariance of the fitted model
    mean2, comps2, ev2 = fit_pca(t.embeddings.repartition(7))
    assert np.abs(mean - mean2).max() < 1e-12
    assert np.abs(comps - comps2).max() < 1e-9


def test_corpus_temperature_mix_upweights_low_resource(spark):
    """α=1/2 temperature: the dominant language must get a STRICTLY lower
    keep-rate than every low-resource one, realized keep counts must track
    the basis-point thresholds, and the total kept must come in near the
    half-corpus budget."""
    rows = QUERIES["corpus_temperature_mix"](spark, SF_SMOKE).collect()
    by_lang = {r["lang"]: r for r in rows}
    en = by_lang["en"]
    for lang, r in by_lang.items():
        if lang == "en":
            continue
        assert r["docs"] < en["docs"]  # en dominates this fixture
        assert r["thresh_bp"] > en["thresh_bp"]
    total = sum(r["docs"] for r in rows)
    kept = sum(r["kept"] for r in rows)
    assert 0.3 * total < kept < 0.7 * total  # budget = total/2, hash noise
    for r in rows:
        # realized rate within 15 points of the threshold (hash spread)
        assert abs(r["kept"] / r["docs"] - r["thresh_bp"] / 10000) < 0.15


def test_bpe_textbook_merges_and_reconstruction(spark):
    """BPE semantics pinned three ways: (1) the classic Sennrich corpus
    produces the expected first merges; (2) concatenating a word's tokens
    reproduces the word plus the end-of-word marker (merges never create
    or destroy characters); (3) token counts land between whitespace
    words and characters, and the trained merge list is identical under a
    different partitioning of the sample."""
    from dp_dimension_importer_spark.operators.text import (
        BPE_EOW,
        bpe_train,
        make_bpe_tokenizer,
    )

    corpus = [
        (i, txt)
        for i, txt in enumerate(
            ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        )
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = bpe_train(df, n_merges=4, sample_docs=100)
    # freqs: es 9 (newest+widest), then st</w> 9... pair counts on the
    # classic corpus: ('e','s')=9 wins round 1 (smallest tie if any),
    # then ('es','t')=9, then ('est','</w>')=9, then ('l','o')=7
    assert merges == [
        ("e", "s"), ("es", "t"), ("est", BPE_EOW), ("l", "o"),
    ]
    tok = make_bpe_tokenizer(merges)
    assert tok("newest") == ["n", "e", "w", "est</w>"]
    assert tok("lowest") == ["lo", "w", "est</w>"]
    # reconstruction: tokens concatenate back to word + marker
    for w in ("lowering", "estimates", "widest", "zzz"):
        assert "".join(tok(w)) == w + BPE_EOW

    rows = QUERIES["text_bpe_tokens"](spark, SF_SMOKE).collect()
    assert all(
        r.n_ws_tokens <= r.n_bpe_tokens for r in rows
    )  # subwords ≥ words
    # merge determinism under repartitioning of the training input
    from dp_dimension_importer_spark.catalog import load_tables

    docs = load_tables(spark, SF_SMOKE).documents
    m1 = bpe_train(docs)
    m2 = bpe_train(docs.repartition(7))
    assert m1 == m2 and len(m1) > 0


def test_python_datasource_partition_invariance(spark):
    """The range_docs connector must produce the SAME table regardless of
    how it is partitioned (parts=1 vs parts=4 with the same total rows) —
    the partition-independence property any correct DataSource needs for
    Spark to re-plan parallelism freely."""
    from dp_dimension_importer_spark.operators.udfs import (
        make_range_docs_source,
    )

    try:
        spark.dataSource.register(make_range_docs_source())
    except Exception:
        pass

    def rows(parts, per, mode="rows"):
        df = (
            spark.read.format("range_docs")
            .option("parts", str(parts))
            .option("rows_per_part", str(per))
            .option("mode", mode)
            .load()
        )
        return sorted((r.id, r.val) for r in df.collect())

    assert rows(1, 1000) == rows(4, 250)
    # the Arrow RecordBatch read path must produce the identical table —
    # same connector, high-throughput serialization
    assert rows(4, 250, "arrow") == rows(4, 250, "rows")


def test_sweepline_matches_brute_force_per_second(q):
    """ts_overlap_sweepline vs literal per-second counting on the smoke
    fixture: expand every interval to its covered seconds (closed-open)
    and count seconds with >= 1 and >= 2 concurrent intervals — the
    definitionally-obvious O(n x duration) form the sweep replaces."""
    import collections
    import math

    import pyarrow.parquet as pq

    got = q("ts_overlap_sweepline").set_index("event_type")
    # brute force straight off the parquet via pandas
    ev = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pandas()
    for et, g in ev.groupby("event_type"):
        cov = collections.Counter()
        for ts, val in zip(g["ts"], g["value"]):
            s = int(ts.timestamp() // 1)  # floor epoch second
            e = s + int(math.floor(val))
            for t in range(s, e):
                cov[t] += 1
        sec1 = sum(1 for c in cov.values() if c >= 1)
        sec2 = sum(1 for c in cov.values() if c >= 2)
        assert got.loc[et, "sec_covered"] == sec1, et
        assert got.loc[et, "sec_overlap2"] == sec2, et
        assert got.loc[et, "n_intervals"] == len(g), et


def test_incremental_clusters_split_is_nontrivial(spark):
    """dedup_clusters_incremental's value rests on the fixture split
    actually exercising the interesting cases: the doc_id-midpoint cut
    must yield old-only pairs (carried state matters), cross-cut pairs
    (new edges MERGE old components — the correctness-critical path), and
    new-only pairs (fresh components appear). Equality with the full
    recompute is pinned by the oracle row; this pins that the equality
    is earned, not vacuous."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dedup import _jaccard_pairs

    p = _jaccard_pairs(spark, SF_SMOKE).select("da", "db").persist()
    lo, hi = p.agg(F.min("da"), F.max("db")).first()
    cut = (int(lo) + int(hi) + 1) // 2
    n_old = p.filter((F.col("da") < cut) & (F.col("db") < cut)).count()
    n_cross = p.filter((F.col("da") < cut) & (F.col("db") >= cut)).count()
    n_new = p.filter(F.col("da") >= cut).count()
    p.unpersist()
    assert n_old > 0, "no old-only pairs: carried-state path untested"
    assert n_cross > 0, "no cross-cut pairs: component-merge path untested"
    assert n_new > 0, "no new-only pairs: fresh-component path untested"


def test_containment_catches_subset_jaccard_misses(spark):
    """The motivating case for dedup_containment, on controlled data (the
    fixture's near-dups are same-length edits, where the two metrics
    agree): a short doc quoted WHOLE inside a much longer one has
    containment 1.0 but Jaccard ≈ |sub|/|sup| far below threshold — the
    directed metric must flag (short ⊂ long) while jaccard_pairs stays
    silent; an unrelated doc must trigger neither."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    long_doc = " ".join(f"w{i}" for i in range(50)) + " " + quote + " " + " ".join(
        f"x{i}" for i in range(50)
    )
    other = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r.sub, r.sup): r.containment
        for r in containment_pairs(docs).collect()
    }
    jac = jaccard_pairs(docs).collect()
    assert (1, 2) in cont and cont[(1, 2)] == 1.0, cont
    assert (2, 1) not in cont  # the long doc is NOT inside the short one
    assert not any({r.da, r.db} == {1, 2} for r in jac), (
        "toy sizes chosen so Jaccard stays sub-threshold; fix the fixture"
    )
    assert all(3 not in (p[0], p[1]) for p in cont), "unrelated doc flagged"


def test_pagerank_staged_division_is_bit_identical_and_overflow_proof(spark):
    """pagerank(staged=True) is the integer-division identity
    A·n div D == (A div D)·n + ((A mod D)·n) div D — bit-identical ranks
    on the fixture graph AND on a randomized weighted graph; and on a
    rank-concentrating star graph where the pinned form's r·85·n
    intermediate exceeds int64 (ANSI overflow), the staged form survives
    with exact mass accounting."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.analytics import (
        PR_SCALE,
        pagerank,
    )

    # 1. fixture graph: the registered query's contracted event graph
    from dp_dimension_importer_spark.catalog import load_tables
    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    seq = t.events.select(
        "user_id", "event_type", "ts", "event_id"
    ).withColumn(
        "prev",
        F.lag("event_type").over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    edges = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("n"))
    )
    plain = {r.node: r.r for r in pagerank(edges, persist=False).collect()}
    staged = {
        r.node: r.r
        for r in pagerank(edges, persist=False, staged=True).collect()
    }
    assert plain == staged

    # 2. randomized small weighted graph, same identity
    rng = random.Random(42)
    pairs = {
        (rng.randrange(12), rng.randrange(12)): rng.randrange(1, 10**6)
        for _ in range(40)
    }
    redges = spark.createDataFrame(
        [(a, b, n) for (a, b), n in pairs.items()], "src long, dst long, n long"
    )
    p2 = {r.node: r.r for r in pagerank(redges, persist=False).collect()}
    s2 = {
        r.node: r.r
        for r in pagerank(redges, persist=False, staged=True).collect()
    }
    assert p2 == s2

    # 3. rank concentration: 20k spokes feed one hub, hub re-emits over a
    # heavy edge. After iter 1 the hub holds ~0.85*PR_SCALE*20000 micros;
    # r*85*n with n=2e7 exceeds int64 -> pinned form overflows under ANSI,
    # staged form (widest term 100*tot*n = 4e16) does not.
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    n_spokes = 20_000
    spokes = spark.range(1, n_spokes + 1).select(
        F.col("id").alias("src"), F.lit(0).alias("dst"), F.lit(1).alias("n")
    )
    heavy = spark.createDataFrame(
        [(0, 1, 20_000_000)], "src long, dst long, n long"
    )
    star = spokes.unionByName(heavy)
    try:
        pagerank(star, iters=2, persist=False).agg(F.sum("r")).collect()
        raise AssertionError(
            "expected ANSI overflow from the pinned form on the star graph"
        )
    except Exception as e:  # noqa: BLE001 - Py4J wraps the ANSI error
        assert "ARITHMETIC_OVERFLOW" in str(e) or "overflow" in str(e).lower()
    ranks = pagerank(star, iters=2, persist=False, staged=True)
    total = ranks.agg(F.sum("r").alias("s")).first().s
    # mass is conserved up to truncation + dangling evaporation: positive,
    # never above the initial PR_SCALE per node
    assert 0 < total <= PR_SCALE * (n_spokes + 2)


def test_label_propagation_respects_components_and_finds_cliques(spark):
    """label_propagation invariants: labels never cross connected
    components (a node's final label is a node FROM ITS OWN component),
    and on two well-separated cliques joined by one weak edge, each
    clique converges to a single internal community — the clique's
    minimum node id."""
    from dp_dimension_importer_spark.operators.analytics import (
        label_propagation,
    )

    # two disconnected triangles
    tri = [(0, 1, 5), (1, 2, 5), (0, 2, 5), (10, 11, 5), (11, 12, 5),
           (10, 12, 5)]
    e = spark.createDataFrame(tri, "src long, dst long, w long")
    got = {r.node: r.label for r in label_propagation(e, 3).collect()}
    assert set(got) == {0, 1, 2, 10, 11, 12}
    assert {got[n] for n in (0, 1, 2)} <= {0, 1, 2}
    assert {got[n] for n in (10, 11, 12)} <= {10, 11, 12}
    assert len({got[0], got[1], got[2]}) == 1  # clique agrees
    assert len({got[10], got[11], got[12]}) == 1

    # two 4-cliques bridged by one weight-1 edge: strong internal weight
    # dominates the bridge, so communities = cliques, labeled by min id
    def clique(base):
        ns = [base + i for i in range(4)]
        return [(a, b, 10) for a in ns for b in ns if a < b]

    e2 = spark.createDataFrame(
        clique(0) + clique(100) + [(3, 100, 1)], "src long, dst long, w long"
    )
    got2 = {r.node: r.label for r in label_propagation(e2, 3).collect()}
    assert all(got2[n] == 0 for n in (0, 1, 2, 3)), got2
    assert all(got2[n] == 100 for n in (100, 101, 102, 103)), got2


def test_pairs_cache_evicts_on_corpus_switch(spark):
    """The one-slot _PAIRS_CACHE must serve the SAME frame for repeat
    calls on one corpus (the explicit reuse it exists for), evict and
    stay CORRECT when the corpus changes, and not leak: after a switch,
    exactly one pairs frame remains registered in the slot."""
    from dp_dimension_importer_spark.operators import dedup

    a1 = dedup._jaccard_pairs(spark, "/root/testdata/sf0.001")
    a2 = dedup._jaccard_pairs(spark, "/root/testdata/sf0.001")
    assert a1 is a2  # same corpus: same persisted frame
    n_small = a1.count()
    b = dedup._jaccard_pairs(spark, "/root/testdata/sf0.01")
    assert b is not a1
    assert len(dedup._PAIRS_CACHE) == 1  # old slot evicted, not stacked
    assert b.count() > 0
    # switching BACK must also work (fresh build, still correct)
    c = dedup._jaccard_pairs(spark, "/root/testdata/sf0.001")
    assert c.count() == n_small
    assert len(dedup._PAIRS_CACHE) == 1


def test_fold_cos_udf_bit_identical_to_expression_fold(spark):
    """r14: the vectorized Arrow rerank (_fold_cos_udf) must produce the
    SAME 64 bits as the interpreted left-to-right expression fold it
    replaced — oracle hashes and tie-breaks ride on exact equality —
    and must keep zip_with null semantics on ragged/null rows."""
    import math
    import struct

    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.similarity import (
        _dot,
        _fold_cos_udf,
    )
    from dp_dimension_importer_spark.catalog import load_tables

    e = load_tables(spark, SF_SMOKE).embeddings
    q = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    n = e.select(F.col("vec_id").alias("nn"), F.col("embedding").alias("ne"))
    pairs = q.join(n, F.col("qid") % 7 == F.col("nn") % 7)
    qv = F.transform("qe", lambda x: x.cast("double"))
    nv = F.transform("ne", lambda x: x.cast("double"))

    def nrm(v):
        return F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0),
                lambda a, x: a + x,
            )
        )

    old = _dot(qv, nv) / (nrm(qv) * nrm(nv))
    rows = pairs.select(
        old.alias("c_old"), _fold_cos_udf("qe", "ne").alias("c_new")
    ).collect()
    assert rows, "fixture produced no pairs"
    for r in rows:
        a, b = r["c_old"], r["c_new"]
        if a is None or (isinstance(a, float) and math.isnan(a)):
            assert b is None or (isinstance(b, float) and math.isnan(b))
            continue
        assert struct.pack("<d", a) == struct.pack("<d", b), (a, b)

    # expression semantics on degenerate rows: ragged and null-bearing
    # arrays -> NULL (zip_with pads with null, null poisons the fold)
    edge = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [1.0, 2.0, 3.0]),
            (2, [1.0, None], [1.0, 2.0]),
            (3, None, [1.0, 2.0]),
        ],
        "k long, qe array<float>, ne array<float>",
    )
    got = {
        r["k"]: r["c"]
        for r in edge.select(
            "k", _fold_cos_udf("qe", "ne").alias("c")
        ).collect()
    }
    assert got == {1: None, 2: None, 3: None}

    # ANSI parity: a zero-norm embedding is a loud error, not inf/NaN
    z = spark.createDataFrame(
        [(5, [0.0, 0.0], [1.0, 1.0])],
        "k long, qe array<float>, ne array<float>",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        z.select(_fold_cos_udf("qe", "ne")).collect()


def test_bloom_point_probe_unpinned_matches_pinned(spark):
    """A point read's literal keys (a local relation) and a CDC batch's
    frame of the same keys feed the one distributed probe
    (_bloom_admitted_files, which pins nothing): both must keep the same
    files on the same sidecar, present and absent keys alike."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.catalog import load_tables

    li = load_tables(spark, SF_SMOKE).lineitem.select(
        "l_orderkey", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="bloom_pin_ab_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark, li.repartition(4, "l_orderkey"), path
        )
        storage.index_bloom_snapshot(spark, path, "l_orderkey")
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        meta = storage._snap_bloom_meta(path, "l_orderkey", man)
        assert meta is not None
        rels = storage._bloom_live_rels(man, "l_orderkey")
        assert storage._bloom_point_keep(
            spark, path, man, "l_orderkey", [7], rels
        ), "order 7 is in lineitem"
        for vals in ([7], [42, 999999], list(range(-40, 6000, 97))):
            literal = storage._bloom_point_keep(
                spark, path, man, "l_orderkey", vals, rels
            )
            frame = storage._bloom_point_keep(
                spark, path, man, "l_orderkey",
                spark.createDataFrame(
                    [(v,) for v in vals], "l_orderkey long"
                ),
                rels,
            )
            assert literal == frame, vals
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_phash_dhash_vectorized_fold_bit_identical(spark):
    """r15 pin: the vectorized image-hash internals (stacked-matmul DCT,
    row-wise partition median, packbits bit fold) must reproduce the
    r14 per-image reference loop BIT FOR BIT on the real corpus payloads
    — the hashes feed Hamming banding, so a single flipped bit changes
    gated pair sets."""
    import numpy as np

    from dp_dimension_importer_spark.operators.multimodal import (
        decode_image,
        image_dhash,
        image_phash,
        resize_nearest,
    )
    from dp_dimension_importer_spark.catalog import load_tables

    docs = load_tables(spark, SF_SMOKE).documents.select("doc_id").limit(400)

    def payload_of(doc_id: int) -> bytes:
        img = np.random.RandomState(doc_id % 100).randint(
            0, 256, (16, 16)
        ).astype(np.uint8)
        img[doc_id % 16, (doc_id // 16) % 16] ^= 7
        img[(doc_id * 7) % 16, (doc_id * 13) % 16] ^= 5
        return b"P5 16 16 255\n" + img.tobytes()

    ids = [int(r["doc_id"]) for r in docs.collect()]
    payloads = {i: payload_of(i) for i in ids}

    # reference loops (r14 code, verbatim)
    def ref_phash(payload: bytes) -> int:
        N = 32
        n_idx = np.arange(N)
        k_idx = np.arange(N)[:, None]
        C = np.sqrt(2.0 / N) * np.cos(
            np.pi * (2 * n_idx[None, :] + 1) * k_idx / (2 * N)
        )
        C[0] = np.sqrt(1.0 / N)
        img = decode_image(payload)
        g = resize_nearest(img, N, N).astype(np.float64)
        d = C @ g @ C.T
        block = d[:8, :8].flatten()[1:]
        med = np.partition(block.copy(), 31)[31]
        h = 0
        for v in block:
            h = (h << 1) | int(v > med)
        return h - (1 << 64) if h >= 1 << 63 else h

    def ref_dhash(payload: bytes) -> int:
        img = decode_image(payload)
        g = resize_nearest(img, 9, 8).astype(np.int16)
        h = 0
        for b in (g[:, 1:] > g[:, :-1]).flatten():
            h = (h << 1) | int(b)
        return h - (1 << 64) if h >= 1 << 63 else h

    assets = spark.createDataFrame(
        [(i, payloads[i]) for i in ids], "asset_id long, payload binary"
    )
    got_p = {r["asset_id"]: r["phash"] for r in image_phash(assets).collect()}
    got_d = {r["asset_id"]: r["dhash"] for r in image_dhash(assets).collect()}
    for i in ids:
        assert got_p[i] == ref_phash(payloads[i]), f"phash bit drift doc {i}"
        assert got_d[i] == ref_dhash(payloads[i]), f"dhash bit drift doc {i}"


def test_replay_dir_layout_matches_collect_slice(spark):
    """r15 pin: the distributed one-pass replay writer must lay out
    exactly the old collect-then-slice chunks — same file names, same
    chunk membership, same within-file row order, mtimes increasing with
    the sentinel strictly last (the file source replays by mtime)."""
    import os

    import pyarrow.parquet as pq

    from dp_dimension_importer_spark.catalog import load_tables
    from dp_dimension_importer_spark.streaming.replay import write_replay_dir

    ev = load_tables(spark, SF_SMOKE).events
    d = write_replay_dir(ev, n_files=4)
    try:
        files = sorted(os.listdir(d))
        assert files == [
            "chunk_00000.parquet", "chunk_00001.parquet",
            "chunk_00002.parquet", "chunk_00003.parquet",
            "zz_sentinel_0.parquet", "zz_sentinel_1.parquet",
        ]
        mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
        rows = ev.orderBy("ts", "event_id").collect()
        chunk = (len(rows) + 3) // 4
        for i in range(4):
            got = pq.read_table(
                os.path.join(d, f"chunk_{i:05d}.parquet")
            ).to_pylist()
            exp = rows[i * chunk : (i + 1) * chunk]
            assert len(got) == len(exp), f"chunk {i} row count"
            for g, e in zip(got, exp):
                assert g["event_id"] == e["event_id"], f"chunk {i} order"
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
