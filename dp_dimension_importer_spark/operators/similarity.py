"""Similarity search over the ``embeddings`` table — SURVEY.md §2.3 Q43
(exact brute-force cosine top-k, the oracle-checked baseline) and a
random-hyperplane LSH variant (the scale path, recall-gated).

Scale design:

* Q43 captures the (small, pinned-size) query block in a mapInPandas
  closure and scans the corpus ONCE with a numpy matmul per Arrow batch,
  emitting only per-batch near-top candidates; an exact-fold rerank over
  those few rows produces the bit-deterministic reported cosine. At 100 TB
  the same plan holds: the corpus never shuffles, and the shuffled
  candidate set is |queries| × |corpus batches| rows.
* the LSH variant hashes every vector into N_TABLES buckets (N_BITS
  sign-bits each, deterministic seeded hyperplanes, no stored model) and
  joins corpus to queries on the table-qualified bucket key — the standard
  multi-table recall/throughput trade; recall is asserted against Q43 in
  tests, not hash-matched (SURVEY.md §2.3 exclusion).

All dot products fold left-to-right in DOUBLE so Spark and DuckDB produce
bit-identical cosines (same argmax under ties).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql import types as T

from dp_dimension_importer_spark.catalog import load_tables
from dp_dimension_importer_spark.operators.common import (
    make_registry,
    take_deterministic,
)

QUERIES, ORACLE, register = make_registry()

#: Q43 contract: queries are the first 50 vec_ids
N_QUERY = 50
#: LSH: L independent hash tables of B sign-bits each. Recall for a
#: neighbor at angle θ is 1 − (1 − p^B)^L with p = 1 − θ/π — multiple
#: short tables, not one long key, is what makes random-hyperplane LSH
#: usable (a single 8-bit table gives ~2% recall@1 on this corpus).
N_TABLES = 16
N_BITS = 4
#: embedding dimensionality (pinned by the driver's generator)
DIM = 64


def _dot(av, bv):
    return F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


@F.pandas_udf(T.DoubleType())  # DataType instance: no session needed at import
def _fold_cos_udf(qs: pd.Series, ns: pd.Series) -> pd.Series:
    """Vectorized twin of the Catalyst fold-cosine, bit-identical by
    construction (r14, guide §4.2): the interpreted higher-order
    expressions (aggregate/zip_with/transform get NO codegen) cost
    ~20 µs/row, and a batch probe reranks 10^5–10^6 candidate rows —
    the rerank projection alone was ~5 s of dedup_semantic_persisted's
    8 s. Here each Arrow batch upcasts to float64 and accumulates
    PER DIMENSION IN ORDER (``acc += q[:, d] * n[:, d]``) — per row
    that is exactly the left-to-right IEEE-double fold
    ``aggregate(zip_with(q, n, x*y), 0.0, a+x)`` the expression form
    computes, so cosines (and every downstream tie-break and oracle
    hash) are bit-identical. np.sqrt / * / / are the same correctly
    rounded IEEE ops as the JVM's. Ragged or null-bearing batches take
    the row-wise fallback with the expression semantics (zip_with pads
    with null, null poisons the fold -> NULL cosine). One documented
    divergence: a NaN cosine (possible only from NaN embedding values,
    which the corpus contract excludes) surfaces as NULL through the
    pandas float-null convention rather than NaN."""

    def _row_fallback():
        out = []
        for q, n in zip(qs.to_numpy(), ns.to_numpy()):
            if q is None or n is None:
                out.append(None)
                continue
            q = list(q)
            n = list(n)
            if len(q) != len(n) or any(v is None for v in q) or any(
                v is None for v in n
            ):
                out.append(None)  # zip_with null pad / null element
                continue
            dot = qq = nn = 0.0
            for x, y in zip(q, n):
                x, y = float(x), float(y)
                dot += x * y
                qq += x * x
                nn += y * y
            import math

            den = math.sqrt(qq) * math.sqrt(nn)
            if den == 0.0:
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding in fold-cosine "
                    "rerank (ANSI division-by-zero semantics preserved)"
                )
            out.append(dot / den)
        return pd.Series(out, dtype="float64")

    try:
        q = np.vstack(qs.to_numpy()).astype(np.float64)
        n = np.vstack(ns.to_numpy()).astype(np.float64)
    except (ValueError, TypeError):
        return _row_fallback()
    if q.shape != n.shape:
        return _row_fallback()  # length mismatch -> NULL, zip_with pad
    dot = np.zeros(len(q))
    qq = np.zeros(len(q))
    nn = np.zeros(len(q))
    for d in range(q.shape[1]):
        qd, nd = q[:, d], n[:, d]
        dot += qd * nd
        qq += qd * qd
        nn += nd * nd
    den = np.sqrt(qq) * np.sqrt(nn)
    if np.any(den == 0.0):
        # the expression form this replaces runs under ANSI mode, where
        # a 0.0 divisor is a loud job error, not a silent inf/NaN
        raise ArithmeticError(
            "[DIVIDE_BY_ZERO] zero-norm embedding in fold-cosine rerank "
            "(ANSI division-by-zero semantics preserved)"
        )
    return pd.Series(dot / den)


def _query_block(embeddings) -> tuple[np.ndarray, np.ndarray]:
    """(qids, unit-norm query matrix) for the pinned-size query block —
    the filter pushes to the parquet scan, so only N_QUERY rows are read
    and no higher-order expression touches the corpus."""
    rows = (
        embeddings.filter(F.col("vec_id") < N_QUERY)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    qids = np.array([r["vec_id"] for r in rows])
    qm = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    return qids, qm / np.linalg.norm(qm, axis=1)[:, None]


def _rerank_cos(embeddings, cand, queries=None):
    """(qid, nn_id, cos) with the bit-deterministic left-to-right DOUBLE
    fold — computed ONLY for candidate rows, as one vectorized Arrow
    pass (:func:`_fold_cos_udf`; bit-identical to the expression fold)
    ABOVE the candidate joins, so the corpus-side scan streams raw
    float arrays and never evaluates a lambda; round-1 profiling showed
    the corpus-wide lambda Project was the dominant cost of the q43
    pair, and r14 profiling showed the interpreted per-candidate fold
    dominating every batch-scale rerank (guide §4.2).

    ``queries`` (vec_id, embedding) supplies the query side explicitly;
    without it the fixture convention (corpus rows with vec_id <
    N_QUERY) applies. probe_index MUST pass it — its callers choose
    arbitrary query ids, and the fixture filter silently dropped every
    query with vec_id >= N_QUERY (r13 bug, caught by the clustered
    recall pin)."""
    raw_q = (
        queries if queries is not None
        else embeddings.filter(F.col("vec_id") < N_QUERY)
    ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    raw_n = embeddings.select(
        F.col("vec_id").alias("nn_id"), F.col("embedding").alias("ne")
    )
    # r14 (guide §4.2): the fold-cosine runs as ONE vectorized Arrow
    # pass (_fold_cos_udf, bit-identical per-dimension accumulation)
    # instead of three interpreted higher-order expressions per row —
    # batch probes rerank 10^5+ candidates and the interpreted fold was
    # the single hottest projection in the similarity family.
    return (
        cand.join(F.broadcast(raw_q), "qid")
        .join(raw_n, "nn_id")
        .select("qid", "nn_id", _fold_cos_udf("qe", "ne").alias("cos"))
    )


@register(
    "q43_cosine_top1",
    sql=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    p AS (
        SELECT q.vec_id AS vec_id, c.vec_id AS nn_id,
               list_sum(list_transform(generate_series(1, len(q.v)),
                                       i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm) AS cos
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERY}
    )
    SELECT vec_id, nn_id, cos AS cos_sim FROM (
        SELECT vec_id, nn_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rn
        FROM p
    ) WHERE rn = 1 ORDER BY vec_id
    """,
)
def q43_cosine_top1(spark, sf_dir):
    """Exact cosine nearest neighbor for the first N_QUERY vectors.

    Scan-then-rerank: the (tiny, pinned-size) query block is captured in a
    ``mapInPandas`` closure; each corpus batch does ONE numpy matmul and
    emits, per query, only the candidates within 1e-6 of that batch's best
    approximate cosine — the global exact top-1 is necessarily among some
    batch's near-top set, and any exact-cosine tie contender survives the
    margin. The REPORTED cosine is then recomputed for the ~|queries| ×
    |batches| candidates with the deterministic left-to-right DOUBLE fold,
    so the result (and its DESC/nn_id tie-break) is bit-identical to the
    DuckDB oracle. The corpus is scanned once and never shuffled; the only
    shuffled rows are the candidate ids."""
    t = load_tables(spark, sf_dir)
    qids, qunit = _query_block(t.embeddings)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            c = (m / np.linalg.norm(m, axis=1)[:, None]) @ qunit.T  # batch × nq
            # a zero-norm/NaN corpus row yields a NaN similarity row; NaN
            # would poison max() and the >= cut below, silently dropping
            # the whole batch's candidates — demote to -inf (excluded)
            c[np.isnan(c)] = -np.inf
            out_q, out_n = [], []
            for j in range(len(qids)):
                col = c[:, j].copy()
                col[ids == qids[j]] = -np.inf  # exclude self
                best = col.max()
                if best == -np.inf:
                    continue
                keep = np.where(col >= best - 1e-6)[0]
                out_q.append(np.full(len(keep), qids[j]))
                out_n.append(ids[keep])
            if out_q:
                yield pd.DataFrame(
                    {"qid": np.concatenate(out_q), "nn_id": np.concatenate(out_n)}
                )

    cand = t.embeddings.select("vec_id", "embedding").mapInPandas(
        scan, "qid long, nn_id long"
    )
    # top-1 with the (cos DESC, nn_id ASC) tie-break as max(struct(...)) —
    # a hash aggregate with map-side partial max instead of a Window with
    # its sort+exchange pair; one row per query crosses the exchange
    return (
        _rerank_cos(t.embeddings, cand)
        .groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("nn_id")).alias("neg_nn"))).alias("m"))
        .select(
            F.col("qid").alias("vec_id"),
            (-F.col("m.neg_nn")).alias("nn_id"),
            F.col("m.cos").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


#: top-k contract for the exact brute-force baseline
TOP_K = 3
#: IVF: number of coarse cells and probed cells per query. nprobe=8 of 16
#: (≈50% scan fraction) because this corpus is synthetic near-uniform —
#: the adversarial case for IVF, where nearest-neighbor margins are tiny.
#: On real clustered embeddings the same recall needs far fewer probes;
#: the recall test (≥0.75 @ sf0.01) pins the trade-off.
IVF_CELLS = 16
IVF_NPROBE = 8


@register(
    "q43b_cosine_topk",
    sql=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    p AS (
        SELECT q.vec_id AS vec_id, c.vec_id AS nn_id,
               list_sum(list_transform(generate_series(1, len(q.v)),
                                       i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm) AS cos
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERY}
    )
    SELECT vec_id, nn_id, rk, cos AS cos_sim FROM (
        SELECT vec_id, nn_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rk
        FROM p
    ) WHERE rk <= {TOP_K} ORDER BY vec_id, rk
    """,
)
def q43b_cosine_topk(spark, sf_dir):
    """Exact cosine top-K neighbors for the first N_QUERY vectors — the
    brute-force ANN baseline the approximate paths are recall-gated against.

    Same scan-then-rerank shape as q43_cosine_top1: each corpus batch emits,
    per query, every candidate within 1e-6 of that batch's K-th best
    approximate cosine. Any global top-K neighbor is beaten by < K vectors
    overall, hence by < K within its own batch, so it always survives its
    batch's cut; the margin additionally protects exact-cosine ties against
    matmul/fold summation-order drift. The corpus is scanned once, never
    shuffled; only candidate ids shuffle into the exact JVM-fold rerank."""
    t = load_tables(spark, sf_dir)
    qids, qunit = _query_block(t.embeddings)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            c = (m / np.linalg.norm(m, axis=1)[:, None]) @ qunit.T  # batch × nq
            c[np.isnan(c)] = -np.inf  # zero-norm rows: exclude, don't poison
            out_q, out_n = [], []
            for j in range(len(qids)):
                col = c[:, j].copy()
                col[ids == qids[j]] = -np.inf  # exclude self
                live = np.isfinite(col)
                if not live.any():
                    continue
                kth = (
                    np.partition(col[live], -TOP_K)[-TOP_K]
                    if live.sum() >= TOP_K
                    else col[live].min()
                )
                keep = np.where(col >= kth - 1e-6)[0]
                out_q.append(np.full(len(keep), qids[j]))
                out_n.append(ids[keep])
            if out_q:
                yield pd.DataFrame(
                    {"qid": np.concatenate(out_q), "nn_id": np.concatenate(out_n)}
                )

    cand = t.embeddings.select("vec_id", "embedding").mapInPandas(
        scan, "qid long, nn_id long"
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nn_id"))
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "nn_id",
            "rk",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


#: fixed k-means fit sample size — the ONLY thing that ever reaches the
#: driver for the IVF fit, regardless of corpus size
IVF_SAMPLE = 4096

#: ONE-SLOT cache: (embeddings DataFrame, fitted centroids). The fit is
#: fully deterministic (fixed sample, pinned arithmetic order), so reuse
#: across queries (top1 + topk in one session/bench run) changes nothing
#: but skips a collect + 8 Lloyd iterations. catalog.table() returns the
#: SAME DataFrame object per (session, sf_dir), so identity (`is`) keys
#: the data. Single slot ON PURPOSE: a dict keyed by id() pinning every
#: frame ever fitted would grow without bound in a long-lived facade
#: session over many corpora (and keep their SparkSessions reachable);
#: the sharing this cache exists for is always between consecutive
#: queries on the SAME frame, which one slot fully captures.
_CENTROID_CACHE: list[tuple[object, np.ndarray]] = []


def _ivf_centroids(e) -> np.ndarray:
    """IVF_CELLS × DIM unit-norm centroids via spherical k-means on a
    FIXED-SIZE deterministic sample: the IVF_SAMPLE lowest xxhash64(vec_id)
    ranks, fetched with orderBy+limit — Spark plans that as a distributed
    TakeOrderedAndProject (per-partition top-k, merge on the driver), so
    driver memory is O(IVF_SAMPLE · DIM) ≈ 2 MB no matter how large the
    corpus is; the fit is O(sample), never O(corpus). Init = first
    IVF_CELLS sample vectors by vec_id; 8 Lloyd iterations; empty cells
    re-seeded deterministically from the sample. Pinned arithmetic order ⇒
    identical centroids on every run/driver (which is what makes the
    cross-query cache above a pure win)."""
    if _CENTROID_CACHE and _CENTROID_CACHE[0][0] is e:
        return _CENTROID_CACHE[0][1]
    rows = take_deterministic(
        e, "vec_id", IVF_SAMPLE, cols=["vec_id", "embedding"]
    )
    m = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    u = m / np.linalg.norm(m, axis=1)[:, None]
    cents = u[:IVF_CELLS].copy()
    for _ in range(8):
        assign = (u @ cents.T).argmax(axis=1)
        for c in range(IVF_CELLS):
            mask = assign == c
            if mask.any():
                cents[c] = u[mask].mean(axis=0)
            else:
                cents[c] = u[c % len(u)]
        cents /= np.linalg.norm(cents, axis=1)[:, None]
    _CENTROID_CACHE[:] = [(e, cents)]
    return cents


def make_ivf_cells_udf(cents: np.ndarray, nprobe: int):
    """array<int> of the ``nprobe`` nearest cells (by centroid dot product,
    descending) per vector — one numpy matmul per Arrow batch. Corpus rows
    use cell[0] (their home cell); queries probe all ``nprobe``. Closure so
    cloudpickle ships the centroid matrix by value."""
    matT = cents.T

    def _cells(vs: pd.Series) -> pd.Series:
        # raw float32 arrays in, float64 math — identical cell argmax to
        # the previous double-cast column path (float32→64 is exact)
        m = np.vstack(vs.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1)[:, None]
        sims = m @ matT  # batch × IVF_CELLS
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order), index=vs.index)

    return F.pandas_udf(_cells, T.ArrayType(T.IntegerType()))


@register("ann_ivf_top1")  # rows-only: recall-gated vs q43_cosine_top1
def ann_ivf_top1(spark, sf_dir):
    """Approximate NN via IVF (inverted-file) coarse quantization: spherical
    k-means centroids partition the corpus into IVF_CELLS cells; each corpus
    vector lives in its nearest cell, each query probes its IVF_NPROBE
    nearest cells, and the exact fold-cosine rerank runs only inside probed
    cells (an equi-join on cell id — never a full scan). The standard
    recall/throughput trade vs ann_lsh_top1's hash-bucket variant: IVF cells
    adapt to the data distribution, LSH buckets don't."""
    t = load_tables(spark, sf_dir)
    cells_of = make_ivf_cells_udf(_ivf_centroids(t.embeddings), IVF_NPROBE)
    ec = t.embeddings.select("vec_id", cells_of("embedding").alias("cells"))
    # the cell join carries ONLY (vec_id, cell) — vectors never enter the
    # shuffle or the broadcast; candidates join back to raw arrays in
    # _rerank_cos, where the fold-cosine runs on candidate rows alone
    corpus = ec.select("vec_id", F.element_at("cells", 1).alias("cell"))
    q = ec.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("qid"), F.explode("cells").alias("cell")
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nn_id"))
    )
    # same one-shuffle max_by finish as ann_lsh_top1: top-1 with the
    # (cos DESC, nn_id ASC) tie-break as max(struct(...)) — map-side partial
    # max, one row per query crosses the exchange
    return (
        _rerank_cos(t.embeddings, cand)
        .groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("nn_id")).alias("neg_nn"))).alias("m"))
        .select(
            F.col("qid").alias("vec_id"),
            (-F.col("m.neg_nn")).alias("nn_id"),
            F.col("m.cos").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


def _planes() -> list[list[float]]:
    """(N_TABLES·N_BITS) × DIM deterministic pseudo-random hyperplanes from
    a pinned PRNG seed — identical on every driver/executor with zero Spark
    jobs and no stored model file. (numpy's RandomState stream is stable
    across platforms/versions by API contract.)"""
    rs = np.random.RandomState(20240813)
    return rs.uniform(-0.5, 0.5, size=(N_TABLES * N_BITS, DIM)).tolist()


def make_table_keys_udf(planes: list[list[float]]):
    """Vectorized multi-table bucket assignment: ONE numpy matmul per Arrow
    batch computes all N_TABLES·N_BITS signs; table t's key packs its
    N_BITS signs plus t's offset so keys never collide across tables.
    Returns array<long> of length N_TABLES per vector — the scale path for
    bucketing a 100 TB corpus (the exact-cosine rerank inside the bucket
    stays JVM-side and bit-deterministic; bucket assignment itself only
    needs to agree between corpus and query side, which a closure-captured
    constant matrix guarantees). Closure (not module-level) so cloudpickle
    ships it by value."""
    mat = np.array(planes).T  # DIM × (N_TABLES·N_BITS)
    weights = (1 << np.arange(N_BITS)).astype("int64")
    offsets = (np.arange(N_TABLES) << N_BITS).astype("int64")

    def _keys(vs: pd.Series) -> pd.Series:
        m = np.vstack(vs.to_numpy()).astype(np.float64)  # batch × DIM
        signs = ((m @ mat) >= 0.0).reshape(len(m), N_TABLES, N_BITS)
        keys = signs @ weights + offsets  # batch × N_TABLES
        return pd.Series(list(keys), index=vs.index)

    return F.pandas_udf(_keys, T.ArrayType(T.LongType()))


@register("ann_lsh_top1")  # rows-only: recall-gated vs q43_cosine_top1
def ann_lsh_top1(spark, sf_dir):
    """Approximate NN: multi-table random-hyperplane LSH. Each vector lands
    in one bucket per table; candidates are the union over the tables (an
    equi-join on the table-qualified bucket key — never a full scan), then
    exact fold-cosine rerank and top-1 per query."""
    t = load_tables(spark, sf_dir)
    keys_of = make_table_keys_udf(_planes())
    # not persisted: the query side's vec_id < N_QUERY filter pushes down to
    # the scan, so its UDF bucket assignment touches only N_QUERY rows; the
    # corpus side is a single scan. Caching the whole corpus would not fit
    # at target scale.
    # The bucket join carries ONLY (vec_id, bkey) — no vectors in the
    # shuffle or the broadcast; candidates join back to raw arrays in
    # _rerank_cos, so the fold-cosine runs on candidate rows alone.
    buckets = t.embeddings.select(
        "vec_id", F.explode(keys_of("embedding")).alias("bkey")
    )
    q = buckets.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("bkey").alias("qkey")
    )
    cand = buckets.join(
        F.broadcast(q),
        (F.col("bkey") == F.col("qkey")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", F.col("vec_id").alias("nn_id"))
    # no dedup pass for multi-table collisions and no window sort: a
    # duplicate (qid, nn) pair can't change a max, and top-1 with the
    # (cos DESC, nn_id ASC) tie-break is max(struct(cos, -nn_id)) — a hash
    # aggregate with map-side partial max, so the exchange carries one row
    # per query instead of every in-bucket candidate
    return (
        _rerank_cos(t.embeddings, cand)
        .groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("nn_id")).alias("neg_nn"))).alias("m"))
        .select(
            F.col("qid").alias("vec_id"),
            (-F.col("m.neg_nn")).alias("nn_id"),
            F.col("m.cos").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


@register(
    "embedding_centroid",
    sql="""
    WITH u AS (
        SELECT label,
               UNNEST(generate_series(0, len(embedding) - 1)) AS dim,
               UNNEST(embedding) AS v
        FROM embeddings
    )
    SELECT label, dim, ROUND(AVG(v), 3) + 0.0 AS centroid
    FROM u GROUP BY label, dim ORDER BY label, dim
    """,
)
def embedding_centroid(spark, sf_dir):
    """Per-label centroid of the embedding column, dim-wise — the building
    block for IVF coarse quantizers, cluster drift monitoring, and
    class-conditional corpus statistics.

    Scale: posexplode (a codegen'd Generate — no interpreted higher-order
    fold) multiplies rows by DIM, then a map-side-combinable avg reduces to
    |labels| × DIM partials before the single shuffle; the shuffled volume
    is independent of corpus size."""
    t = load_tables(spark, sf_dir)
    return (
        t.embeddings.select("label", F.posexplode("embedding"))
        .groupBy("label", F.col("pos").alias("dim"))
        .agg((F.round(F.avg("col"), 3) + F.lit(0.0)).alias("centroid"))
        .orderBy("label", "dim")
    )


@register("ann_ivf_topk")  # rows-only: recall-gated vs q43b_cosine_topk
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN generalized to top-K (K = TOP_K, matching the exact q43b
    baseline): same bounded-sample centroid fit, same (vec_id, cell)-only
    candidate join, but the finish is a per-query top-K window over the
    exact-reranked candidates instead of ann_ivf_top1's single max_by —
    rank ties break (cos DESC, nn_id ASC) so output is deterministic.
    Queries whose probed cells hold fewer than K candidates return fewer
    rows (approximate contract; the recall gate measures overlap with the
    exact top-K, tests/test_recall.py)."""
    t = load_tables(spark, sf_dir)
    cells_of = make_ivf_cells_udf(_ivf_centroids(t.embeddings), IVF_NPROBE)
    ec = t.embeddings.select("vec_id", cells_of("embedding").alias("cells"))
    corpus = ec.select("vec_id", F.element_at("cells", 1).alias("cell"))
    q = ec.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("qid"), F.explode("cells").alias("cell")
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nn_id"))
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


@register("ann_lsh_topk")  # rows-only: recall-gated vs q43b_cosine_topk
def ann_lsh_topk(spark, sf_dir):
    """Multi-table LSH ANN generalized to top-K (K = TOP_K): same
    (vec_id, bkey)-only bucket join as ann_lsh_top1, then dedup of
    multi-table candidate collisions — REQUIRED here, unlike top-1 where a
    duplicate can't change a max, because a repeated neighbor would occupy
    two window ranks — then the exact rerank and a per-query top-K window
    with the (cos DESC, nn_id ASC) tie-break. The dedup keys are 16-byte
    (qid, nn_id) rows, pre-aggregated map-side."""
    t = load_tables(spark, sf_dir)
    keys_of = make_table_keys_udf(_planes())
    buckets = t.embeddings.select(
        "vec_id", F.explode(keys_of("embedding")).alias("bkey")
    )
    q = buckets.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("bkey").alias("qkey")
    )
    cand = (
        buckets.join(
            F.broadcast(q),
            (F.col("bkey") == F.col("qkey")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", F.col("vec_id").alias("nn_id"))
        .dropDuplicates(["qid", "nn_id"])
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


# ---------------------------------------------------------------------------
# distributed PCA over the embedding column
# ---------------------------------------------------------------------------

#: number of principal components the registered query projects onto
PCA_K = 2


def fit_pca(df: DataFrame, k: int = PCA_K):
    """Fit PCA over an ``embedding`` column with ONE distributed pass:
    each Arrow batch emits a packed partial-moment vector
    ``[count, sum(d), gram(d*d)]`` (one numpy matmul per batch), the
    partials are summed DISTRIBUTED via posexplode → groupBy(pos) — the
    shuffle carries ``batches × (1+d+d²)`` scalar rows with map-side
    partial sums, never a vector — and only the final ``1+d+d²`` sums
    (d=64 → 4,161 doubles, ~33 KB) reach the driver for the d×d
    eigendecomposition. The same plan holds at 100 TB: moments are
    associative, the collect is constant-size in the corpus.

    Eigenvector sign is pinned (largest-|loading| coordinate positive) so
    projections are deterministic across runs/partitionings — eigh's sign
    is otherwise arbitrary, the PCA analogue of the argmax tie-break rule
    used everywhere else in this module.

    Returns ``(mean, components, explained_var)``: mean (d,), components
    (d, k) column-orthonormal, eigenvalues (k,) descending."""
    d = DIM

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            packed = np.concatenate(
                ([float(len(m))], m.sum(axis=0), (m.T @ m).ravel())
            )
            yield pd.DataFrame({"moments": [packed.tolist()]})

    moments = (
        df.select("embedding")
        .mapInPandas(partials, "moments array<double>")
        .select(F.posexplode("moments").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    flat = np.zeros(1 + d + d * d)
    for r in moments:
        flat[r["pos"]] = r["s"]
    n, s, g = flat[0], flat[1 : 1 + d], flat[1 + d :].reshape(d, d)
    if n == 0:
        raise ValueError("fit_pca: empty input — no embedding rows")
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)  # ascending
    comps = v[:, ::-1][:, :k].copy()
    for j in range(k):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mean, comps, w[::-1][:k].copy()


@register("embedding_pca")  # rows-only: eigendecomposition is not SQL
def embedding_pca(spark, sf_dir):
    """Project every embedding onto its corpus' top-``PCA_K`` principal
    components — the whitening / dimensionality-reduction step in front
    of clustering or ANN indexing. Two passes over the corpus, neither
    shuffling a vector: :func:`fit_pca` reduces packed scalar moments,
    then the (d×k) model rides into a ``mapInPandas`` closure and the
    projection is a scan-side matmul per Arrow batch.

    Rows-only for the driver (no SQL oracle can take an eigendecomposition);
    the numerical contract is pinned in tests/test_invariants.py instead:
    projections match an in-memory numpy PCA to 1e-8, components are
    orthonormal, eigenvalues descend, and the result is invariant to
    repartitioning (associativity of the moment sums)."""
    t = load_tables(spark, sf_dir)
    mean, comps, _ = fit_pca(t.embeddings)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = (m - mean) @ comps
            out = {"vec_id": pdf["vec_id"]}
            for j in range(comps.shape[1]):
                out[f"pc{j + 1}"] = np.round(p[:, j], 6)
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(
        f"pc{j + 1} double" for j in range(PCA_K)
    )
    return (
        t.embeddings.select("vec_id", "embedding")
        .mapInPandas(project, schema)
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# product-quantization ANN (the memory-compression scale path)
# ---------------------------------------------------------------------------

#: PQ layout: M subspaces × 8-bit codebooks → 8-byte codes for 64-dim
#: float vectors, a 32× scan-footprint reduction. At 100 TB of raw
#: embeddings the code table is ~3 TB — the difference between an index
#: that fits hot storage and one that doesn't.
PQ_M = 8
PQ_KS = 256
#: codebook training sample (deterministic, distributed TakeOrdered —
#: same bounded-driver contract as the IVF centroid fit)
PQ_SAMPLE = 2048
#: per-batch shortlist fed to the exact rerank, per query
PQ_SHORTLIST = 32

#: single-slot codebook cache, same policy as the IVF centroid cache
_PQ_CACHE: list = []


def _fit_subspace_codebooks(m: np.ndarray) -> np.ndarray:
    """(PQ_M, PQ_KS, DIM/PQ_M) codebooks via per-subspace k-means over the
    rows of ``m``. Init = first PQ_KS sample subvectors; 8 Lloyd
    iterations; empty clusters re-seeded deterministically. Pinned
    arithmetic order ⇒ identical codebooks every run."""
    sub = DIM // PQ_M
    books = np.zeros((PQ_M, PQ_KS, sub))
    for j in range(PQ_M):
        x = m[:, j * sub : (j + 1) * sub]
        cents = x[: min(PQ_KS, len(x))].copy()
        if len(cents) < PQ_KS:  # tiny corpus: pad by cycling the sample
            reps = [x[i % len(x)] for i in range(len(cents), PQ_KS)]
            cents = np.vstack([cents, np.array(reps)])
        for _ in range(8):
            d2 = (
                (x ** 2).sum(1)[:, None]
                - 2.0 * (x @ cents.T)
                + (cents ** 2).sum(1)[None, :]
            )
            assign = d2.argmin(1)
            for c in range(PQ_KS):
                mask = assign == c
                if mask.any():
                    cents[c] = x[mask].mean(0)
                else:
                    cents[c] = x[c % len(x)]
        books[j] = cents
    return books


def _pq_sample_matrix(e) -> np.ndarray:
    """PQ_SAMPLE lowest-xxhash64(vec_id) vectors (orderBy+limit — planned
    as a distributed TakeOrderedAndProject, driver memory O(sample·DIM)
    regardless of corpus size)."""
    rows = take_deterministic(
        e, "vec_id", PQ_SAMPLE, cols=["vec_id", "embedding"]
    )
    return np.vstack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )


def _pq_codebooks(e) -> np.ndarray:
    """Raw-vector PQ codebooks (ann_pq_topk's full-scan compression)."""
    if _PQ_CACHE and _PQ_CACHE[0][0] is e:
        return _PQ_CACHE[0][1]
    books = _fit_subspace_codebooks(_pq_sample_matrix(e))
    _PQ_CACHE[:] = [(e, books)]
    return books


#: single-slot cache for the IVFPQ residual codebooks
_PQR_CACHE: list = []


def _pq_residual_codebooks(e, cents: np.ndarray) -> np.ndarray:
    """RESIDUAL PQ codebooks for IVFPQ (r9, VERDICT r8 "Next round" #6;
    FAISS IVFPQ's ``by_residual`` default): fit the subspace k-means on
    ``u − cents[home(u)]`` over unit-normalized sample vectors instead of
    the raw vectors. Residuals vs the home-cell centroid have a fraction
    of the raw vectors' spread, so the same 8-bit budget quantizes far
    finer — the reconstruction ``cents[home] + r̂`` is strictly closer to
    ``u`` than the raw codebooks' ``x̂/‖x‖``, which is what lifts ADC
    ranking (and the recall floor, 0.75 → 0.85 in test_recall.py)."""
    if _PQR_CACHE and _PQR_CACHE[0][0] is e:
        return _PQR_CACHE[0][1]
    m = _pq_sample_matrix(e)
    nrm = np.linalg.norm(m, axis=1)
    nrm[nrm == 0] = 1.0
    u = m / nrm[:, None]
    home = (u @ cents.T).argmax(axis=1)
    books = _fit_subspace_codebooks(u - cents[home])
    _PQR_CACHE[:] = [(e, books)]
    return books


@register("ann_pq_topk")  # rows-only: recall-gated vs q43b_cosine_topk
def ann_pq_topk(spark, sf_dir):
    """Approximate top-K neighbors via product quantization with
    asymmetric distance computation (ADC): vectors are encoded as PQ_M
    8-bit codewords (per-subspace nearest codebook entry) plus their true
    norm; a query never decodes anything — its per-subspace dot products
    with all PQ_KS codewords form an M×KS lookup table, and each
    candidate's approximate cosine is M table lookups summed, divided by
    the stored norm. Per Arrow batch that is one fancy-index + sum in
    numpy.

    Plan: encode and score are CHAINED mapInPandas over a single corpus
    scan — no vector ever shuffles; only the per-batch per-query shortlist
    (qid, nn_id) rows reach the exchange, then the exact rerank and
    per-query top-K window exactly as in ann_lsh_topk. In deployment the
    encode pass runs once and the 8-byte codes persist via
    storage.write_sharded; the scoring scan then reads 32× fewer bytes
    than the raw embedding column — that compression, not candidate
    pruning, is PQ's scale contribution (compose with the IVF cell route
    for pruning too).

    Recall is gated against q43b in tests/test_recall.py (SURVEY §2.3
    excludes approx ops from hash-match)."""
    t = load_tables(spark, sf_dir)
    books = _pq_codebooks(t.embeddings)
    qids, qunit = _query_block(t.embeddings)
    sub = DIM // PQ_M
    # lut[q, m, k] = q-subvector · codeword — built once, broadcast in the
    # closure (nq × M × KS doubles ≈ 800 KB at 50 queries)
    lut = np.einsum("qms,mks->qmk", qunit.reshape(len(qids), PQ_M, sub), books)
    marange = np.arange(PQ_M)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.linalg.norm(m, axis=1)
            # zero vectors must never rank: a 1/inf norm would yield a
            # FINITE approx of 0.0 (beating negative cosines into the
            # shortlist, where the exact rerank then computes 0/0 = NaN,
            # which Spark sorts ABOVE all doubles) — force them to -inf
            # so the isfinite cut below drops them outright
            zero = nrm == 0
            nrm[zero] = 1.0
            codes = np.empty((len(m), PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                x = m[:, j * sub : (j + 1) * sub]
                d2 = (
                    (x ** 2).sum(1)[:, None]
                    - 2.0 * (x @ books[j].T)
                    + (books[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            out_q, out_n = [], []
            for qi in range(len(qids)):
                approx = lut[qi][marange, codes].sum(1) / nrm
                approx[zero] = -np.inf  # zero vectors excluded
                approx[ids == qids[qi]] = -np.inf  # exclude self
                k = min(PQ_SHORTLIST, len(approx))
                top = np.argpartition(-approx, k - 1)[:k]
                top = top[np.isfinite(approx[top])]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(ids[top])
            if out_q:
                yield pd.DataFrame(
                    {"qid": np.concatenate(out_q), "nn_id": np.concatenate(out_n)}
                )

    cand = (
        t.embeddings.select("vec_id", "embedding")
        .mapInPandas(scan, "qid long, nn_id long")
        .dropDuplicates(["qid", "nn_id"])
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


@register("ann_ivfpq_topk")  # rows-only: recall-gated vs q43b_cosine_topk
def ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composite ANN — the two scale levers stacked the way the
    billion-vector indexes (FAISS IVFPQ) stack them: the IVF coarse
    quantizer PRUNES (a candidate is scored only when its home cell is
    among the query's IVF_NPROBE probe cells) and PQ/ADC COMPRESSES (the
    surviving candidates are scored from 8-byte codes, never decoded).
    ann_ivf_topk demonstrates pruning with exact in-cell scoring;
    ann_pq_topk demonstrates compression over a full scan; this operator
    shows they compose — at 100 TB the corpus persists cell-partitioned
    (storage.write_sharded on the home cell) with only the codes+norm
    columns read, so a query touches nprobe/IVF_CELLS of the files at
    1/32nd the bytes, and the in-batch cell mask below becomes partition
    pruning. Codes are RESIDUAL-encoded against the home-cell centroid
    (r9; FAISS IVFPQ's ``by_residual``): a unit vector u stores the PQ
    code of ``u − cents[home]``, and ADC scores
    ``q·cents[home] + Σ_m lut[q][m][code_m]`` — the centroid term is a
    driver-side nq×cells matrix, the residual term the usual M lookups.
    Residuals are small, so the same 8-byte budget quantizes far finer
    than raw-vector codes (see :func:`_pq_residual_codebooks`); the ADC
    shortlist is exact-reranked, so ranking error comes only from
    pruning + shortlist truncation. Recall gated ≥ 0.85 vs q43b in
    tests/test_recall.py."""
    t = load_tables(spark, sf_dir)
    cents = _ivf_centroids(t.embeddings)
    books = _pq_residual_codebooks(t.embeddings, cents)
    qids, qunit = _query_block(t.embeddings)
    sub = DIM // PQ_M
    lut = np.einsum("qms,mks->qmk", qunit.reshape(len(qids), PQ_M, sub), books)
    # q·centroid matrix, computed once on the driver from the same
    # centroid matrix corpus rows use: row qi's probe cells are its
    # nprobe best columns, and column home[c] is the ADC centroid term
    qc = qunit @ cents.T
    qcells = np.argsort(-qc, axis=1, kind="stable")[:, :IVF_NPROBE]
    centsT = cents.T
    marange = np.arange(PQ_M)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.linalg.norm(m, axis=1)
            zero = nrm == 0
            nrm[zero] = 1.0
            u = m / nrm[:, None]
            home = (u @ centsT).argmax(axis=1)
            resid = u - cents[home]
            codes = np.empty((len(m), PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                x = resid[:, j * sub : (j + 1) * sub]
                d2 = (
                    (x ** 2).sum(1)[:, None]
                    - 2.0 * (x @ books[j].T)
                    + (books[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            out_q, out_n = [], []
            for qi in range(len(qids)):
                live = np.isin(home, qcells[qi]) & ~zero & (ids != qids[qi])
                idx = np.nonzero(live)[0]
                if len(idx) == 0:
                    continue
                approx = (
                    qc[qi, home[idx]]
                    + lut[qi][marange, codes[idx]].sum(1)
                )
                k = min(PQ_SHORTLIST, len(idx))
                top = idx[np.argpartition(-approx, k - 1)[:k]]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(ids[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nn_id": np.concatenate(out_n),
                    }
                )

    cand = (
        t.embeddings.select("vec_id", "embedding")
        .mapInPandas(scan, "qid long, nn_id long")
        .dropDuplicates(["qid", "nn_id"])
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


#: distributed k-means geometry: cluster count and Lloyd iterations
KMEANS_K = 8
KMEANS_ITERS = 5


def kmeans_fit(embeddings: DataFrame, k: int = KMEANS_K,
               iters: int = KMEANS_ITERS):
    """Public core (engine facade): distributed Lloyd's k-means over an
    ``array<float>`` column — the canonical broadcast-iterate pattern the
    IVF quantizer's bounded-sample fit deliberately avoids (``_ivf_centroids``
    fits on ≤4096 sampled rows; this fits on the FULL table when the
    sample isn't representative enough). Returns ``(centroids, assign)``:
    the final k×d numpy centroid matrix and a function mapping an
    embeddings DataFrame to (vec_id, cluster, sqdist).

    Per iteration, exactly one executor-side pass + one tiny shuffle:

    * ASSIGN — an Arrow-batched pandas UDF holding the broadcast k×d
      matrix computes ``argmin ‖x−c‖²`` as a single matrix multiply per
      batch (argmax of ``x·cᵀ − ‖c‖²/2``; ties → lowest cluster id, so
      assignment is deterministic given centroids);
    * UPDATE — posexplode to (cluster, dim, v), one map-side-combinable
      sum/count aggregate; k×d partial rows cross the wire, independent
      of corpus size, and the k×d result is the only driver collect.
      An emptied cluster keeps its previous centroid (the standard
      restart-free fallback).

    Init is the first ``k`` vectors by vec_id — deterministic across
    runs/partitionings, which is what lets the test gate pin numpy
    parity; callers wanting k-means++ quality seed with
    ``_ivf_centroids``-style sampled inits instead.

    Bound: the centroid matrix rides in the UDF closure, so k·d doubles
    must fit comfortably in executor memory (64k×4096 ≈ 2 GB is the
    practical ceiling); past that, shard the centroids and score in
    chunks (the IVF route), or PQ-compress them."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    d0 = embeddings.select("vec_id", "embedding")
    init = d0.orderBy("vec_id").limit(k).collect()
    cent = np.array([r.embedding for r in init], dtype=np.float64)

    def make_assign(c: np.ndarray):
        half = (c * c).sum(axis=1) / 2.0

        @F.pandas_udf(T.IntegerType())
        def assign_udf(col: pd.Series) -> pd.Series:
            x = np.vstack(col.to_numpy())
            scores = x @ c.T - half  # argmax == argmin squared distance
            return pd.Series(scores.argmax(axis=1).astype("int32"))

        return assign_udf

    for _ in range(iters):
        assigned = d0.select(
            "vec_id", "embedding",
            make_assign(cent)("embedding").alias("cluster"),
        )
        sums = (
            assigned.select("cluster", F.posexplode("embedding"))
            .groupBy("cluster", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cent.copy()  # emptied clusters keep their previous centroid
        counts = {}
        for r in sums:
            new[r.cluster, r.pos] = r.s / r.n
            counts[r.cluster] = r.n
        cent = new

    def assign(df: DataFrame) -> DataFrame:
        c = cent
        half = (c * c).sum(axis=1) / 2.0
        norms = (c * c).sum(axis=1)

        @F.pandas_udf("struct<cluster:int,sqdist:double>")
        def a(col: pd.Series) -> pd.DataFrame:
            x = np.vstack(col.to_numpy()).astype(np.float64)
            scores = x @ c.T - half
            cl = scores.argmax(axis=1)
            xx = (x * x).sum(axis=1)
            sq = xx - 2.0 * (scores[np.arange(len(cl)), cl] + half[cl]) + norms[cl]
            return pd.DataFrame({"cluster": cl.astype("int32"), "sqdist": sq})

        return df.select(
            "vec_id", a("embedding").alias("r")
        ).select("vec_id", "r.cluster", "r.sqdist")

    return cent, assign


@register("embedding_kmeans")  # rows-only: numpy-parity + inertia gated
def embedding_kmeans(spark, sf_dir):
    """Distributed k-means corpus clustering (:func:`kmeans_fit`) — the
    coarse structure every IVF index, semantic-dedup blocker, and
    diversity sampler builds on, here as a first-class fitted op over the
    FULL embeddings table. Output: one row per cluster with its size and
    total inertia contribution (micro-rounded), the run-over-run
    monitorable fingerprint of the clustering. Gated rows-only: k-means
    is float-iterative (no SQL oracle); tests/test_recall.py pins exact
    agreement with a same-init numpy replay and monotone inertia."""
    t = load_tables(spark, sf_dir)
    _, assign = kmeans_fit(t.embeddings)
    return (
        assign(t.embeddings)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("sqdist") * 1000 + F.lit(0.5)).cast("long").alias(
                "inertia_milli"
            ),
        )
        .orderBy("cluster")
    )


@register(
    "embedding_sq8",
    sql="""
    WITH u AS (
        SELECT vec_id,
               UNNEST(generate_series(0, len(embedding) - 1)) AS dim,
               UNNEST(embedding) AS v
        FROM embeddings
    ), b AS (
        SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM u GROUP BY dim
    )
    SELECT u.vec_id, u.dim,
           CAST(CASE WHEN b.hi = b.lo THEN 0 ELSE LEAST(255, GREATEST(0,
               CAST(FLOOR((CAST(u.v AS DOUBLE) - CAST(b.lo AS DOUBLE))
                          * 255.0
                          / (CAST(b.hi AS DOUBLE) - CAST(b.lo AS DOUBLE))
                          + 0.5) AS INT))) END AS INT) AS code
    FROM u JOIN b USING (dim)
    WHERE u.vec_id < 100
    ORDER BY u.vec_id, u.dim
    """,
)
def embedding_sq8(spark, sf_dir):
    """SCALAR (int8) quantization of the embedding column — the SQ8
    compression every production vector store offers beside PQ
    (ann_pq_topk): per-dimension [min, max] ranges over the corpus, each
    value snapped to a 0–255 code. 4× memory shrink (float32 → uint8)
    with a dequantization error bounded by range/510 per dimension —
    pinned by the tolerance test in tests/test_recall.py; the codes
    themselves are exact integer arithmetic over corpus min/max, so the
    op is fully ORACLED (unusual for the compression family).

    Scale: one posexplode pass builds the per-dim ranges (64 rows — a
    broadcast), a second computes codes map-side with zero additional
    shuffle; output here is bounded to the first 100 vectors for the
    hash check, the full-table form returns the same plan."""
    t = load_tables(spark, sf_dir)
    u = t.embeddings.select("vec_id", F.posexplode("embedding")).select(
        "vec_id", F.col("pos").alias("dim"), F.col("col").alias("v")
    )
    b = u.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v").cast("double") - F.col("lo").cast("double"))
                    * 255.0
                    / (F.col("hi").cast("double") - F.col("lo").cast("double"))
                    + 0.5
                ).cast("int"),
            ),
        )
    )
    return (
        u.join(F.broadcast(b), "dim")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", "dim", code.cast("int").alias("code"))
        .orderBy("vec_id", "dim")
    )


#: per-query shortlist size for the SQ8 scan (same regime as PQ's)
SQ_SHORTLIST = 32


@register("ann_sq_topk")  # rows-only: recall-gated vs q43b_cosine_topk
def ann_sq_topk(spark, sf_dir):
    """Approximate top-K neighbors over SQ8 codes — the search path that
    makes :func:`embedding_sq8`'s compression operational (PQ's 32×
    shrink with a rougher 4× code, but a far simpler encoder: two
    broadcast 64-float vectors instead of trained codebooks). The scan
    quantizes and scores in ONE pass: each Arrow batch snaps to codes,
    dequantizes (``lo + code·step``), and ranks by approximate cosine;
    only (qid, nn_id) shortlist rows reach the exchange, then the exact
    rerank + per-query top-K window shared with the LSH/IVF/PQ paths.
    In deployment the codes persist once and the scoring scan reads 4×
    fewer bytes than the raw column. Recall gated against q43b
    (tests/test_recall.py; measured ≈1.0 at the fixture's dimensions —
    SQ8's per-dim error is far below the fixture's neighbor gaps)."""
    t = load_tables(spark, sf_dir)
    # r15 (guide §2.3/§1.2): the per-dim ranges came from a posexplode →
    # groupBy(dim) → orderBy → collect chain — a rows×DIM explode pass plus
    # two exchanges, ~4 Spark jobs under AQE, just to fetch 128 scalars.
    # One flat aggregate of min/max(element_at(d)) per dimension reads the
    # corpus ONCE with map-side partials and no explode; min/max are exact
    # selections, so every lo/step is bit-identical to the exploded path
    # (the fixture's embeddings are fixed-DIM, which tests/test_recall.py
    # pins via the recall gate against q43b).
    aggs = []
    for i in range(DIM):
        el = F.element_at(F.col("embedding"), i + 1)
        aggs.append(F.min(el).alias(f"lo{i}"))
        aggs.append(F.max(el).alias(f"hi{i}"))
    row = t.embeddings.agg(*aggs).collect()[0]
    lo = np.array([row[f"lo{i}"] for i in range(DIM)], dtype=np.float64)
    step = np.array(
        [
            (row[f"hi{i}"] - row[f"lo{i}"]) / 255.0
            if row[f"hi{i}"] > row[f"lo{i}"] else 0.0
            for i in range(DIM)
        ]
    )
    qids, qunit = _query_block(t.embeddings)

    def scan(batches):
        inv = np.where(step > 0, 1.0 / np.where(step == 0, 1.0, step), 0.0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            codes = np.clip(
                np.floor((m - lo) * inv + 0.5), 0, 255
            )
            deq = lo + codes * step
            nrm = np.linalg.norm(deq, axis=1)
            zero = nrm == 0
            nrm[zero] = 1.0
            scores = (deq @ qunit.T) / nrm[:, None]
            out_q, out_n = [], []
            for qi in range(len(qids)):
                approx = scores[:, qi].copy()
                approx[zero] = -np.inf
                approx[ids == qids[qi]] = -np.inf
                k = min(SQ_SHORTLIST, len(approx))
                top = np.argpartition(-approx, k - 1)[:k]
                top = top[np.isfinite(approx[top])]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(ids[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nn_id": np.concatenate(out_n),
                    }
                )

    cand = (
        t.embeddings.select("vec_id", "embedding")
        .mapInPandas(scan, "qid long, nn_id long")
        .dropDuplicates(["qid", "nn_id"])
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(t.embeddings, cand)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


# ---------------------------------------------------------------------------
# PERSISTED incremental ANN index (r12 — r11 verdict #4): IVF + SQ8 codes
# stored as a hive-partitioned table, so daily-ingest embedding search is
# O(batch) to maintain and O(probed cells) to query — never a corpus
# refit, never a full scan. The FAISS IVF,SQ8 index shape re-expressed as
# parquet partitions:
#
#   <idx>/_ivf_meta.json        centroids + per-dim SQ8 [lo, step] (~35 KB
#                               for 16×64 — driver/broadcast scale)
#   <idx>/cell=N/part-*.parquet (vec_id long, code binary) — each vector's
#                               64-byte SQ8 code in its HOME cell's dir
#
# build_ivf_index fits once (deterministic sample, the _ivf_centroids
# discipline) and writes every vector's code to its home cell;
# append_to_index assigns NEW vectors to the EXISTING cells (the
# append_band_index pattern — no refit, one new file per touched cell);
# probe_index reads ONLY the probed cells' directories (PartitionFilters
# — pinned by an inputFiles assertion in the registered query) and
# reranks the SQ8 shortlist exactly. compact_ivf_index folds each cell's
# files back to one when daily appends accumulate.
# ---------------------------------------------------------------------------

IVF_IDX_META = "_ivf_meta.json"


def _fit_ivf_cells(embeddings: DataFrame, cells: int) -> np.ndarray:
    """cells × DIM unit-norm centroids — the :func:`_ivf_centroids` fit
    (deterministic IVF_SAMPLE, 8 Lloyd rounds, pinned arithmetic order)
    parameterized by cell count for the persisted index."""
    rows = take_deterministic(
        embeddings, "vec_id", IVF_SAMPLE, cols=["vec_id", "embedding"]
    )
    m = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    u = m / np.linalg.norm(m, axis=1)[:, None]
    cents = u[:cells].copy()
    for _ in range(8):
        assign = (u @ cents.T).argmax(axis=1)
        for c in range(cells):
            mask = assign == c
            cents[c] = u[mask].mean(axis=0) if mask.any() else u[c % len(u)]
        cents /= np.linalg.norm(cents, axis=1)[:, None]
    return cents


def _load_ivf_meta(idx_path: str) -> dict:
    import json
    import os

    with open(os.path.join(idx_path, IVF_IDX_META)) as f:
        meta = json.load(f)
    meta["centroids"] = np.asarray(meta["centroids"], dtype=np.float64)
    meta["lo"] = np.asarray(meta["lo"], dtype=np.float64)
    meta["step"] = np.asarray(meta["step"], dtype=np.float64)
    return meta


def _encode_to_cells(embeddings: DataFrame, meta: dict) -> DataFrame:
    """(vec_id, cell, code) — home-cell assignment + SQ8 encode in ONE
    Arrow pass (one matmul + one clip per batch, no shuffle before the
    partitioned write's cell clustering)."""
    cents_t = meta["centroids"].T
    lo, step = meta["lo"], meta["step"]
    inv = np.where(step > 0, 1.0 / np.where(step == 0, 1.0, step), 0.0)

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0] = 1.0
            cell = ((m / nrm[:, None]) @ cents_t).argmax(axis=1)
            codes = np.clip(
                np.floor((m - lo) * inv + 0.5), 0, 255
            ).astype(np.uint8)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell.astype("int32"),
                    "code": [c.tobytes() for c in codes],
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        enc, "vec_id long, cell int, code binary"
    )


#: the persisted index's manifest schema (the code table)
_IDX_SCHEMA = {"vec_id": "bigint", "cell": "int", "code": "binary"}


def _ingest_codes(df: DataFrame, idx_path: str, token: str) -> list:
    """Land one batch's code files under their ``cell=N/`` directories
    WITHOUT making them visible — visibility is the manifest hard-link
    commit (r13, r12 verdict #7: the pre-r13 plain directory append had
    no commit claim, so a job dying mid-write left a partially-visible
    batch the next probe half-read). A crash anywhere before the commit
    leaves only manifest-invisible orphan files. Returns the new files'
    relpaths."""
    import glob
    import os
    import shutil

    tmp = idx_path.rstrip("/") + f"__ingest_{token}"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("error").partitionBy("cell").parquet(tmp)
    rels = []
    for p in sorted(glob.glob(os.path.join(tmp, "cell=*", "*.parquet"))):
        cdir = os.path.basename(os.path.dirname(p))
        ddir = os.path.join(idx_path, cdir)
        os.makedirs(ddir, exist_ok=True)
        dest = os.path.join(ddir, f"{token}-{os.path.basename(p)}")
        os.rename(p, dest)
        rels.append(os.path.relpath(dest, idx_path))
    shutil.rmtree(tmp, ignore_errors=True)
    return rels


def _idx_rels(idx_path: str) -> list:
    """The LIVE code files: the latest index manifest's list (pre-r13
    indexes without manifests fall back to the directory listing)."""
    import glob
    import os

    from dp_dimension_importer_spark import storage

    versions = storage.snapshot_versions(idx_path)
    if versions:
        return list(storage._load_manifest(idx_path, versions[-1])["files"])
    return sorted(
        os.path.relpath(p, idx_path)
        for p in glob.glob(os.path.join(idx_path, "cell=*", "*.parquet"))
    )


def _read_idx(spark, idx_path: str, rels: list) -> DataFrame:
    """Read exactly the manifest-listed files (basePath keeps the hive
    ``cell`` partition column); an empty list yields a typed empty
    frame."""
    import os

    ddl = ", ".join(f"`{c}` {t}" for c, t in _IDX_SCHEMA.items())
    if not rels:
        return spark.createDataFrame([], ddl)
    # _IDX_SCHEMA is the writer's one layout (cell = hive partition
    # col): force it so no probe pays a footer-inference job (guide §6)
    return (
        spark.read.option("basePath", idx_path)
        .schema(ddl)
        .parquet(*(os.path.join(idx_path, r) for r in rels))
    )


def build_ivf_index(
    spark, embeddings: DataFrame, idx_path: str, cells: int = IVF_CELLS
) -> dict:
    """Fit + materialize the persisted IVF/SQ8 index: centroids from a
    deterministic sample (O(sample) driver memory), per-dim SQ8 ranges
    from one posexplode aggregate (DIM rows), every vector's code written
    to its home cell's hive partition. The meta sidecar lands via
    tmp+rename AFTER the data write, so a crashed build leaves no
    readable (meta-bearing) index. Returns the meta dict."""
    import json
    import os

    from dp_dimension_importer_spark import storage

    from dp_dimension_importer_spark.operators.common import (
        run_concurrently,
    )

    # the centroid fit (a bounded orderBy+limit collect) and the per-dim
    # SQ8 range aggregate are independent passes over the embeddings:
    # overlap the two driver-blocking jobs (guide §2.6)
    cents, b = run_concurrently(
        lambda: _fit_ivf_cells(embeddings, cells),
        lambda: (
            embeddings.select(F.posexplode("embedding"))
            .groupBy("pos")
            .agg(F.min("col").alias("lo"), F.max("col").alias("hi"))
            .orderBy("pos")
            .collect()
        ),
    )
    lo = np.array([r.lo for r in b], dtype=np.float64)
    step = np.array(
        [(r.hi - r.lo) / 255.0 if r.hi > r.lo else 0.0 for r in b]
    )
    meta = {"cells": cells, "centroids": cents, "lo": lo, "step": step,
            "dim": len(lo)}
    import uuid as _uuid

    token = _uuid.uuid4().hex[:12]
    rels = _ingest_codes(_encode_to_cells(embeddings, meta), idx_path, token)
    storage._commit_manifest(
        idx_path, {"files": rels, "schema": _IDX_SCHEMA}, token
    )
    tmp = os.path.join(idx_path, f".{IVF_IDX_META}.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "cells": cells,
                "dim": len(lo),
                "centroids": cents.tolist(),
                "lo": lo.tolist(),
                "step": step.tolist(),
            },
            f,
        )
    os.replace(tmp, os.path.join(idx_path, IVF_IDX_META))
    return meta


def append_to_index(spark, new_embeddings: DataFrame, idx_path: str) -> None:
    """Daily-ingest append: assign the batch to the EXISTING centroids
    and encode with the STORED ranges (no refit — O(batch), the
    append_band_index discipline). Out-of-range values clip into the SQ8
    grid (recall impact bounded by the staleness floor in
    tests/test_recall.py); re-fit via build_ivf_index when drift
    accumulates.

    r13 (r12 verdict #7): the batch becomes visible ONLY at the manifest
    hard-link commit — all-or-nothing under crashes, and racing daily
    appenders both succeed via the append-shaped rebase."""
    import uuid as _uuid

    from dp_dimension_importer_spark import storage

    meta = _load_ivf_meta(idx_path)
    token = _uuid.uuid4().hex[:12]
    rels = _ingest_codes(
        _encode_to_cells(new_embeddings, meta), idx_path, token
    )
    prev = _idx_rels(idx_path)

    def _rebase(head: dict) -> dict:
        # racing appenders are disjoint by construction (fresh files)
        return {
            "files": list(head.get("files") or []) + rels,
            "schema": _IDX_SCHEMA,
        }

    storage._commit_manifest(
        idx_path, {"files": prev + rels, "schema": _IDX_SCHEMA}, token,
        rebase=_rebase,
    )


def _read_tombstones(spark, idx_path: str):
    """The index's deleted-vec_id table (None when no delete ever ran) —
    tiny by contract; bounded by compaction."""
    import glob
    import os

    tdir = os.path.join(idx_path, "_tombstones")
    if not glob.glob(os.path.join(tdir, "*.parquet")):
        return None
    return spark.read.schema("`vec_id` bigint").parquet(tdir)


def delete_from_index(spark, idx_path: str, ids: DataFrame) -> None:
    """DELETE vectors from the persisted index — the deletion-vector
    discipline at index level: the doomed ``vec_id`` rows land in a
    tiny ``_tombstones/`` parquet table (O(deleted ids), NO cell
    rewrites), :func:`probe_index` anti-joins them so deleted vectors
    stop surfacing immediately, and :func:`compact_ivf_index` drops the
    masked rows physically and clears the tombstones. The daily-ingest
    twin of ``append_to_index`` for corpus removals (takedowns,
    dedup-driven doc deletes)."""
    import os

    ids.select(F.col("vec_id").cast("long")).write.mode("append").parquet(
        os.path.join(idx_path, "_tombstones")
    )


def probe_index(
    spark,
    idx_path: str,
    queries: DataFrame,
    rerank_src: DataFrame,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
    shortlist: int = SQ_SHORTLIST,
) -> DataFrame:
    """Search the persisted index: each query's ``nprobe`` nearest cells
    are computed driver-side from the meta centroids (queries are a
    pinned-size block), the code table is read WITH A PARTITION FILTER on
    exactly those cells (PartitionFilters prune the unprobed directories
    — no file of an unprobed cell is opened), the SQ8-dequantized scores
    shortlist per query inside one Arrow pass, and the exact fold-cosine
    rerank (bit-deterministic, shared with every ANN path) runs on
    shortlist rows only. Returns (vec_id, rk, nn_id, cos_sim)."""
    meta = _load_ivf_meta(idx_path)
    qrows = queries.select("vec_id", "embedding").collect()
    qrows.sort(key=lambda r: r["vec_id"])
    qids = np.array([r["vec_id"] for r in qrows])
    qm = np.vstack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in qrows]
    )
    qunit = qm / np.linalg.norm(qm, axis=1)[:, None]
    sims = qunit @ meta["centroids"].T                   # nq × cells
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    probed = sorted({int(c) for row in order for c in row})
    # cell -> allowed-query membership (cells × nq) for the batch mask
    allow = np.zeros((meta["cells"], len(qids)), dtype=bool)
    for qi, row in enumerate(order):
        for c in row:
            allow[int(c), qi] = True
    lo, step = meta["lo"], meta["step"]

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["code"]]
            ).astype(np.float64)
            deq = lo + codes * step
            nrm = np.linalg.norm(deq, axis=1)
            zero = nrm == 0
            nrm[zero] = 1.0
            scores = (deq @ qunit.T) / nrm[:, None]      # rows × nq
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            out_q, out_n = [], []
            for qi in range(len(qids)):
                approx = scores[:, qi].copy()
                approx[~allow[cells, qi]] = -np.inf
                approx[zero] = -np.inf
                approx[ids == qids[qi]] = -np.inf
                kk = min(shortlist, len(approx))
                top = np.argpartition(-approx, kk - 1)[:kk]
                top = top[np.isfinite(approx[top])]
                out_q.append(np.full(len(top), qids[qi]))
                out_n.append(ids[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nn_id": np.concatenate(out_n),
                    }
                )

    # manifest-listed files only (r13: uncommitted/orphan batches are
    # invisible), pre-filtered to the probed cells by relpath — zero
    # directory listing, the planner never even sees an unprobed cell
    import os as _os

    probed_set = set(probed)
    keep = [
        r for r in _idx_rels(idx_path)
        if int(r.split("cell=")[1].split(_os.sep)[0]) in probed_set
    ]
    pruned = _read_idx(spark, idx_path, keep).filter(
        F.col("cell").isin(probed)
    )
    cand = (
        pruned.select("vec_id", "cell", "code")
        .mapInPandas(scan, "qid long, nn_id long")
        .dropDuplicates(["qid", "nn_id"])
    )
    return _probe_finish(spark, idx_path, cand, rerank_src, queries, k)


def _probe_finish(spark, idx_path, cand, rerank_src, queries, k):
    """Shared probe tail (interactive + batch paths): tombstone mask →
    exact fold-cosine rerank on the shortlist rows only → per-query
    top-k window with the (cos DESC, nn_id ASC) tie-break."""
    tomb = _read_tombstones(spark, idx_path)
    if tomb is not None:
        # deleted vectors stop surfacing immediately (the DV discipline
        # at index level: tombstones are tiny, AQE broadcasts the anti
        # side; compact_ivf_index drops the rows physically and clears)
        cand = cand.join(
            tomb.select(F.col("vec_id").alias("nn_id")),
            "nn_id", "left_anti",
        )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos").desc(), "nn_id")
    )
    return (
        _rerank_cos(rerank_src, cand, queries=queries)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            "rk",
            "nn_id",
            F.col("cos").alias("cos_sim"),
        )
        .orderBy("vec_id", "rk")
    )


def probe_index_batch(
    spark,
    idx_path: str,
    queries: DataFrame,
    rerank_src: DataFrame,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
    shortlist: int = SQ_SHORTLIST,
) -> DataFrame:
    """Batch-scale twin of :func:`probe_index` — the query side stays
    DISTRIBUTED end to end (r13 verdict's one weak component: the
    interactive path collects the query block to the driver and ships
    the dense query matrix into every scan task, which is the right
    FAISS shape for a pinned-size block but driver-OOMs when a daily
    ingest batch of millions of embeddings flows through it, as
    ``semantic_dedup_incremental`` does).

    Plan: probe cells are assigned EXECUTOR-side by
    :func:`make_ivf_cells_udf` over the broadcast meta centroids (one
    numpy matmul per Arrow batch, closure-shipped IVF_CELLS × DIM
    constants); the exploded (cell, qid, qe) rows cogroup per cell with
    the partition-pruned code table, each cell group scoring its codes
    against ONLY that cell's probing queries (one SQ8 dequantize + one
    matmul per group); per-(query, cell) shortlists union into the
    candidate set, and the tail — tombstone mask, exact fold-cosine
    rerank, top-k window — is byte-shared with the interactive path
    (:func:`_probe_finish`). Driver traffic is ONE distinct-cell-id
    aggregate (≤ IVF_CELLS ints, for file-level partition pruning) —
    never a query vector. Per-task memory is one cell's codes + that
    cell's probing queries; cells are sized by IVF_CELLS, so scale-out
    means more cells, not bigger groups."""
    meta = _load_ivf_meta(idx_path)
    cells_of = make_ivf_cells_udf(meta["centroids"], nprobe)
    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.explode(cells_of("embedding")).alias("cell"),
    ).localCheckpoint(eager=False)
    # pinned (lazy checkpoint): q feeds BOTH the distinct-cell collect
    # below and the cogroup — without the pin the whole batch crosses
    # the JVM->Python boundary twice to run the cells UDF twice
    # (guide §4: the boundary is the cost, cross it once)
    # the only driver-side collect on this path: the DISTINCT probed
    # cell ids (ints, ≤ IVF_CELLS) — needed to prune the manifest's
    # file list so unprobed cell=N/ directories are never opened
    probed = sorted(
        r["cell"] for r in q.select("cell").distinct().collect()
    )
    import os as _os

    probed_set = set(probed)
    keep = [
        r for r in _idx_rels(idx_path)
        if int(r.split("cell=")[1].split(_os.sep)[0]) in probed_set
    ]
    codes = _read_idx(spark, idx_path, keep).filter(
        F.col("cell").isin(probed)
    ).select("vec_id", "cell", "code")
    lo, step = meta["lo"], meta["step"]

    def score(key, ctab, qtab):
        # Arrow-native cogroup (r14, guide §4.2): the per-cell scoring
        # is pure numpy, so take the columns straight off the Arrow
        # buffers instead of paying a pandas conversion per group on
        # both sides (A/B at sf0.1: identical 256k-candidate set,
        # ~20% less per-group time than the applyInPandas form).
        import pyarrow as pa

        empty = pa.table(
            {"qid": pa.array([], pa.int64()),
             "nn_id": pa.array([], pa.int64())}
        )
        if ctab.num_rows == 0 or qtab.num_rows == 0:
            return empty
        code_col = ctab.column("code").combine_chunks()
        if code_col.null_count:
            raise ValueError("NULL code in the IVF code table")
        # binary array = (validity, int32 offsets, contiguous data):
        # every code is DIM bytes by the writer's contract, so the data
        # buffer reshapes to the (rows, DIM) matrix with zero copies
        bufs = code_col.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int32)[
            code_col.offset : code_col.offset + ctab.num_rows + 1
        ]
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        width = int(offs[1] - offs[0])
        codes_m = (
            data[offs[0] : offs[-1]]
            .reshape(ctab.num_rows, width)
            .astype(np.float64)
        )
        deq = lo + codes_m * step
        nrm = np.linalg.norm(deq, axis=1)
        zero = nrm == 0
        nrm[zero] = 1.0
        qe_col = qtab.column("qe").combine_chunks()
        if qe_col.null_count:
            raise ValueError("NULL embedding in the probe batch")
        qm = (
            qe_col.flatten()
            .to_numpy(zero_copy_only=False)
            .reshape(qtab.num_rows, -1)
            .astype(np.float64)
        )
        qn = np.linalg.norm(qm, axis=1)
        qn[qn == 0] = 1.0
        scores = (deq @ (qm / qn[:, None]).T) / nrm[:, None]
        ids = ctab.column("vec_id").combine_chunks().to_numpy()
        qids = qtab.column("qid").combine_chunks().to_numpy()
        scores[zero, :] = -np.inf
        scores[ids[:, None] == qids[None, :]] = -np.inf
        kk = min(shortlist, scores.shape[0])
        top = np.argpartition(-scores, kk - 1, axis=0)[:kk]
        out_q, out_n = [], []
        for j in range(len(qids)):
            t = top[:, j]
            t = t[np.isfinite(scores[t, j])]
            out_q.append(np.full(len(t), qids[j], dtype=np.int64))
            out_n.append(ids[t].astype(np.int64))
        if not out_q:
            return empty
        return pa.table(
            {"qid": pa.array(np.concatenate(out_q)),
             "nn_id": pa.array(np.concatenate(out_n))}
        )

    cand = (
        codes.groupBy("cell")
        .cogroup(q.groupBy("cell"))
        .applyInArrow(score, "qid long, nn_id long")
        .dropDuplicates(["qid", "nn_id"])
    )
    return _probe_finish(spark, idx_path, cand, rerank_src, queries, k)


@register("ann_ivf_persisted_topk")  # rows-only: recall-gated vs q43b
def ann_ivf_persisted_topk(spark, sf_dir):
    """Top-K ANN over the PERSISTED IVF/SQ8 index — the daily-ingest
    lifecycle in one query: build on the even half of the corpus, APPEND
    the odd half against the frozen centroids (no refit — exactly what a
    nightly embedding-ingest job does), then probe. Asserted in-query:
    the probe's scan opens files ONLY under the probed cells' partitions
    (df.inputFiles() ⊆ cell=probed dirs — the PartitionFilters payoff
    that makes the query O(probed cells) at 100 TB). Recall vs exact
    q43b and the append-staleness floor are gated in
    tests/test_recall.py; build/append/probe unit pins in
    tests/test_ann_index.py."""
    import re
    import shutil
    import tempfile

    t = load_tables(spark, sf_dir)
    e = t.embeddings
    idx = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        shutil.rmtree(idx)
        build_ivf_index(spark, e.filter("vec_id % 2 = 0"), idx)
        append_to_index(spark, e.filter("vec_id % 2 = 1"), idx)
        meta = _load_ivf_meta(idx)
        qdf = e.filter(F.col("vec_id") < N_QUERY)
        # pin the pruning: the probed reader must touch no unprobed cell
        sims = (
            np.vstack(
                [
                    np.asarray(r["embedding"], dtype=np.float64)
                    for r in sorted(
                        qdf.collect(), key=lambda r: r["vec_id"]
                    )
                ]
            )
            @ meta["centroids"].T
        )
        probed = {
            int(c)
            for row in np.argsort(-sims, axis=1)[:, :IVF_NPROBE]
            for c in row
        }
        pruned = spark.read.parquet(idx).filter(
            F.col("cell").isin(sorted(probed))
        )
        for p in pruned.inputFiles():
            m = re.search(r"cell=(\d+)/", p)
            assert m and int(m.group(1)) in probed, (
                f"probe read an unprobed cell's file: {p}"
            )
        return probe_index(spark, idx, qdf, e).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def compact_ivf_index(spark, idx_path: str, files_per_cell: int = 1) -> int:
    """RETENTION for the persisted IVF index (the compact_band_index
    discipline, dedup.py): daily :func:`append_to_index` calls grow each
    ``cell=N/`` directory by one file per batch — probe planning cost
    tracks file count, not data size. Folds every cell back to
    ``files_per_cell`` files and drops duplicate (vec_id, cell, code)
    rows (a re-appended vector collapses; probe results are unchanged —
    the shortlist dropDuplicates downstream). Crash-safe via the
    manifest protocol (r13, replacing the r12 directory swap): the fold
    lands as manifest-invisible files, the hard-link commit atomically
    replaces the live file list, and only AFTER the commit are the
    superseded files unlinked and the tombstones cleared — a crash
    between commit and cleanup leaves harmless orphans / already-masked
    tombstones. Returns the live data-file count after compaction."""
    import os
    import shutil
    import uuid as _uuid

    from dp_dimension_importer_spark import storage

    old_rels = _idx_rels(idx_path)
    df = _read_idx(spark, idx_path, old_rels).dropDuplicates()
    tomb = _read_tombstones(spark, idx_path)
    if tomb is not None:
        # materialize index deletes: tombstoned rows drop physically and
        # the (cleared) tombstone table does not carry into the rewrite
        df = df.join(tomb.select("vec_id"), "vec_id", "left_anti")
    token = _uuid.uuid4().hex[:12]
    new_rels = _ingest_codes(
        df.repartition(files_per_cell, "cell"), idx_path, token
    )
    storage._commit_manifest(
        idx_path, {"files": new_rels, "schema": _IDX_SCHEMA}, token
    )
    # post-commit cleanup: superseded bytes + applied tombstones
    for rel in old_rels:
        try:
            os.unlink(os.path.join(idx_path, rel))
        except OSError:
            pass
    shutil.rmtree(
        os.path.join(idx_path, "_tombstones"), ignore_errors=True
    )
    return len(new_rels)
