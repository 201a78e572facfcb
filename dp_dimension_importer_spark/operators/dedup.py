"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Design for 100 TB:

* exact dedup hashes the full text once (md5) and groupBys the 16-byte
  digest — the shuffle carries digests, never documents.
* n-gram Jaccard prunes *hot* shingles (document frequency > DF_CAP) before
  the pair-generating self-join; without that cap one stop-phrase shingle
  creates a quadratic join blowup. This is the exact-similarity path, fully
  SQL-expressible, so it IS oracle-checked.
* MinHash signatures take ONE shuffle: each shingle is hashed once, the
  NUM_HASHES permuted mins are NUM_HASHES `min` aggregate columns of a
  single groupBy(doc_id) (map-side partial agg; no per-seed row explosion,
  no distinct pass — min is duplicate-insensitive). LSH banding turns the
  all-pairs problem into an equi-join on (band, band_key).
  Estimated-similarity output is gated by recall tests, not hash-match
  (SURVEY.md §2.3: LSH excluded from hashed checks).
* SimHash bit-counting is likewise ONE shuffle: 64 conditional-sum
  aggregate columns per doc_id over hashed token occurrences; candidate
  pairs come from banding the 64-bit fingerprint into 8 8-bit bands (any
  pair at Hamming distance ≤ 7 shares at least one band by pigeonhole).
* embedding near-dup blocks on ``label`` (stand-in for an IVF/LSH bucket at
  scale) and computes cosine with a deterministic left-to-right DOUBLE fold
  so the result is bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dp_dimension_importer_spark.catalog import load_tables
from dp_dimension_importer_spark.operators.common import make_registry

QUERIES, ORACLE, register = make_registry()

#: shingle size (tokens) for n-gram / MinHash dedup
SHINGLE_K = 3
#: drop shingles appearing in more than this many docs before pair-join
DF_CAP = 100
#: similarity threshold for reported near-dup pairs
JACCARD_T = 0.5
#: MinHash signature length and banding (16 bands × 2 rows)
NUM_HASHES = 32
NUM_BANDS = 16
#: SimHash reporting threshold (Hamming distance over 64 bits). Banding
#: into SIMHASH_MAX_DIST+1 bands guarantees (pigeonhole) every pair within
#: the threshold shares a band. 7 ≈ what a few token edits flip on a
#: ~50-token doc — distance ≤ 3 missed 40% of true Jaccard ≥ 0.9 pairs.
SIMHASH_MAX_DIST = 7
#: cosine threshold for embedding near-dup pairs
EMB_COS_T = 0.9
#: cosine threshold for SEMANTIC dedup on the synthetic fixture. The
#: fixture embeddings are near-uniform 64-dim (max pairwise cosine ≈ 0.53
#: at sf0.01) — no planted near-identical pairs — so the SemDeDup queries
#: pin a threshold in the fixture's own top-similarity tail (≈30 pairs at
#: sf0.01) to exercise the full pair→component→keep-list path; production
#: corpora use ~0.9+ via the cores' ``threshold`` parameter.
SEM_COS_T = 0.42
#: cells each vector enters for IVF semantic dedup (multi-probe): a pair
#: survives if the two vectors share ANY probed cell. 4 of 16 cells gives
#: ≥0.96 measured pair recall on the near-uniform fixture (single-probe
#: is ~0.35 here — this corpus is IVF's adversarial case, like the
#: ann_ivf tests note); clustered real embeddings need fewer probes.
SEM_NPROBE = 4


def tokens_col(text_col="text"):
    """One tokenizer seam repo-wide: delegate to text.tokens_expr (the
    pluggable seam) so the dedup cores and the text cores can never
    silently tokenize differently."""
    from dp_dimension_importer_spark.operators.text import tokens_expr

    return tokens_expr(text_col)


def _gram_hash_array(th_col: str, k: int):
    """K-gram hash array over a per-token hash column: nested xxhash64
    combine of K shifted slices (empty when the doc has < k tokens)."""
    n = F.size(th_col)
    parts = [F.slice(th_col, 1 + j, n - (k - 1)) for j in range(k)]
    grams = parts[0]
    for s in parts[1:]:
        grams = F.zip_with(grams, s, lambda a, b: F.xxhash64(a, b))
    return F.when(n >= k, grams).otherwise(F.array().cast("array<long>"))


#: columns that identify a gram for the given hash width — every consumer
#: that groups/joins on gram identity keys on exactly these
def gram_key_cols(hash_bits: int = 64) -> list[str]:
    if hash_bits == 64:
        return ["h"]
    if hash_bits == 128:
        return ["h", "h2"]
    raise ValueError(f"hash_bits must be 64 or 128, got {hash_bits}")


def shingle_hashes(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
    hash_bits: int = 64,
) -> DataFrame:
    """(doc_id, h[, h2]) — one hashed identity per K-token shingle
    occurrence, WITH duplicates. Min/idempotent consumers (MinHash) use
    this directly and skip any distinct shuffle.

    Tokens are hashed ONCE each; the K-gram hash is a nested xxhash64
    combine over K shifted slices of the materialized per-token hash
    array, so no shingle strings are ever built and every downstream
    shuffle carries 8-byte longs. (Both the token array and its hash
    array are materialized between selects: expressions inside
    interpreted higher-order lambdas get no common-subexpression
    elimination, so an element_at(tokens, i) formulation re-runs the
    regex split per lambda iteration — observed ~7× slower at sf0.1.)

    ``hash_bits=128`` adds a second, independent 64-bit gram hash ``h2``
    built from ``xxhash64(lit(1), t)`` token hashes — constant FIRST, so
    the constant perturbs the running seed before the token is hashed
    (``xxhash64(t, lit(1))`` would seed-chain on ``xxhash64(t)`` and
    inherit every one of its collisions) — the web-scale defense the
    dup_ngram_share/dedup_spans docstrings promise (at 2^32 distinct
    grams a single 64-bit key collides with odds ~1/2; two independent
    keys push that to ~2^-65). The plan shape is unchanged: shuffles
    carry (doc_id, h, h2) — 16 bytes of key, still never gram strings."""
    gram_key_cols(hash_bits)  # validate
    base = documents.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("tk")
    )
    if hash_bits == 64:
        return (
            base.select(
                "doc_id", F.transform("tk", lambda t: F.xxhash64(t)).alias("th")
            )
            .select("doc_id", F.explode(_gram_hash_array("th", k)).alias("h"))
        )
    return (
        base.select(
            "doc_id",
            F.transform("tk", lambda t: F.xxhash64(t)).alias("th"),
            F.transform("tk", lambda t: F.xxhash64(F.lit(1), t)).alias("th2"),
        )
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    _gram_hash_array("th", k),
                    _gram_hash_array("th2", k),
                    lambda a, b: F.struct(a.alias("h"), b.alias("h2")),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.h").alias("h"), F.col("g.h2").alias("h2"))
    )


_SHINGLE_SQL = """
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   UNNEST(CASE WHEN len(tk) >= 3
                          THEN list_transform(generate_series(1, len(tk) - 2),
                                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                          ELSE CAST([] AS VARCHAR[]) END) AS shingle
            FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
                  FROM documents)
        )
    )
"""


@register(
    "dedup_exact",
    sql="""
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dups
    FROM documents GROUP BY md5(text) ORDER BY h
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact content dedup: hash-groupBy on md5(text), keep min doc_id.
    (The reference's idempotent-create / uniqueness-constraint semantics —
    SURVEY.md R9/R18 — generalized to content identity.)"""
    t = load_tables(spark, sf_dir)
    return exact_duplicates(t.documents).orderBy("h")


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Public DataFrame-in core (engine facade): (h, keep_id, dups) per
    distinct content — the shuffle carries md5 digests, never text."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.encode(text_col, "UTF-8")).alias("h"),
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dups"))
    )


@register(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT da, db,
           ROUND(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 4) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = da
    JOIN cnt cb ON cb.doc_id = db
    WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= {JACCARD_T}
    ORDER BY da, db
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup join: shared-shingle candidate pairs
    (hot shingles pruned by document frequency), then |∩| / |∪|.

    Scale shape — ONE wide shuffle, no self-join: shingles groupBy into
    per-shingle doc-id sets (collect_set dedups inside the aggregate, so
    there is no separate dropDuplicates exchange; the key is
    xxhash64(shingle), an 8-byte long). That single grouped table then
    yields everything downstream: the DF > cap hot-shingle prune is a
    size() filter (no anti-join pass), per-doc shingle counts are a
    map-side explode + tiny doc-keyed agg, and candidate pairs come from a
    double explode of each (≤ DF_CAP-sized) doc array — pair generation is
    map-side work on the grouped rows, not a second shuffle of the whole
    shingle table through a join. The per-doc count joins are left to AQE
    (cnt is corpus-proportional — never force-broadcast it).
    The grouped subplan feeds two branches and is canonicalized identical,
    so Spark reuses one Exchange (ReuseExchange) instead of recomputing."""
    return _jaccard_pairs(spark, sf_dir).orderBy("da", "db")


#: ONE-SLOT cache: (documents DataFrame, persisted pairs frame). Five
#: registered queries (dedup_ngram_jaccard, dedup_clusters, its _star and
#: _incremental forms, and their tests) start from the SAME exact-Jaccard
#: pair graph; one slot makes that reuse EXPLICIT and owned — the
#: persisted frame lives exactly until a different corpus replaces it
#: (unpersisted on eviction), instead of round 5's arrangement where each
#: query persisted anonymously and later queries got subsidized through
#: plan-cache matching with no owner (the leak ADVICE r5 flagged — and
#: what made releasing it in one query silently 3× a sibling, the round-6
#: regression this slot fixes). catalog.table() returns the same
#: DataFrame object per (session, sf_dir), so identity keys the data —
#: same policy as similarity._CENTROID_CACHE.
_PAIRS_CACHE: list[tuple[object, DataFrame]] = []


def _jaccard_pairs(spark, sf_dir):
    """Unordered (da, db, jaccard) near-dup pairs on the fixture table —
    shared by the registered query (which adds the contract ORDER BY) and
    the dedup_clusters family (which doesn't need the sort). Persisted
    through the one-slot cache above; callers must NOT unpersist it."""
    t = load_tables(spark, sf_dir)
    if _PAIRS_CACHE and _PAIRS_CACHE[0][0] is t.documents:
        return _PAIRS_CACHE[0][1]
    while _PAIRS_CACHE:
        try:
            _PAIRS_CACHE.pop()[1].unpersist()
        except Exception:  # noqa: BLE001 - evicted frame's session may be gone
            pass
    pairs = jaccard_pairs(t.documents).persist()
    _PAIRS_CACHE.append((t.documents, pairs))
    return pairs


def _shingle_doc_sets(documents, id_col, text_col, df_cap):
    """Shared front half of :func:`jaccard_pairs` /
    :func:`containment_pairs`: ``per`` = PERSISTED (shingle, docs) grouped
    table with hot shingles pruned, ``cnt`` = per-doc surviving-shingle
    counts. Caller owns releasing ``per``.

    Hot-shingle prune happens BEFORE the collect_set, so no aggregation
    buffer ever holds more than df_cap doc ids (a web-scale stopword
    shingle would otherwise build a multi-million-entry set in one task):

    1. occurrence counts (map-side partial, 16-byte rows) — occurrences
       >= distinct docs, so any shingle with occ <= cap is provably safe
       and skips step 2;
    2. EXACT distinct-doc count, computed only for the tiny
       occurrence-hot set — semantics stay identical to the oracle's
       pure document-frequency cap."""
    sh = shingle_hashes(documents, id_col, text_col).select(
        "doc_id", F.col("h").alias("shingle")
    )
    occ_hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") > df_cap)
        .select("shingle")
    )
    exact_hot = (
        sh.join(F.broadcast(occ_hot), "shingle", "leftsemi")
        .dropDuplicates(["shingle", "doc_id"])
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    # persisted: feeds two structurally different branches (doc counts and
    # pair generation), and repeat invocations hit the same cache entry
    per = (
        sh.join(F.broadcast(exact_hot), "shingle", "left_anti")
        .groupBy("shingle")
        .agg(F.collect_set("doc_id").alias("docs"))
        .filter(F.size("docs") <= df_cap)
        .persist()
    )
    cnt = (
        per.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return per, cnt


def _intersection_pairs(per):
    """(da < db, inter) shared-shingle counts from the grouped table —
    pair generation is map-side work on the (≤ df_cap-sized) doc arrays,
    never a second shuffle of the whole shingle table through a join."""
    return (
        per.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("da"), "docs")
        .select("da", F.explode("docs").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
    )


def jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = DF_CAP,
    threshold: float = JACCARD_T,
    unpersist_after: bool = False,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): exact n-gram Jaccard
    near-dup pairs (da, db, jaccard) over any table with an id and a text
    column. Plan shape documented on the registered query above.

    ``unpersist_after=True`` trades laziness for bounded cache: the (small,
    above-threshold) pair result is persisted and materialized, the internal
    per-shingle cache is released immediately, and the caller owns
    unpersisting the returned frame. Default False keeps the lazy plan and
    leaves the internal cache live for repeat invocations (long-lived
    multi-corpus sessions should pass True or clearCache between corpora)."""
    per, cnt = _shingle_doc_sets(documents, id_col, text_col, df_cap)
    pairs = _intersection_pairs(per)
    ca = cnt.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    # NO broadcast hint on the count joins: cnt has one row per document —
    # corpus-proportional, exactly what must never be forced through the
    # driver at scale. AQE still picks a broadcast at small actual sizes.
    out = (
        pairs.join(ca, "da")
        .join(cb, "db")
        .filter(jac >= threshold)
        .select("da", "db", F.round(jac, 4).alias("jaccard"))
    )
    if unpersist_after:
        out = out.persist()
        out.count()  # materialize past the internal cache before dropping it
        per.unpersist()
    return out


#: containment threshold 0.8 as an integer ratio — the compare is
#: cross-multiplied in int64 (inter*DEN >= NUM*n), no float boundary
CONT_NUM, CONT_DEN = 4, 5


def containment_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = DF_CAP,
    num: int = CONT_NUM,
    den: int = CONT_DEN,
) -> DataFrame:
    """Public core (engine facade): DIRECTED near-subset pairs
    (sub, sup, containment) with containment = |sub ∩ sup| / |sub| >=
    num/den over the distinct-shingle sets — the asymmetric companion to
    :func:`jaccard_pairs`. Jaccard divides by the UNION, so a short doc
    quoted whole inside a long one scores near |sub|/|sup| ≈ 0 and
    near-subset duplication goes unseen; containment divides by the
    contained side and catches it regardless of the size ratio (the
    quote-inclusion / boilerplate-wrapper case every crawl corpus has).

    Same physical shape as Jaccard: one wide shingle shuffle into the
    shared grouped table, unordered intersection counts once, then each
    unordered pair emits its TWO directions against the sub-side count —
    the mirror is a projection, not a second pair generation. Threshold
    compares are integer cross-multiplied; the emitted score is rounded
    once for display."""
    per, cnt = _shingle_doc_sets(documents, id_col, text_col, df_cap)
    pairs = _intersection_pairs(per)
    directed = pairs.select(
        F.col("da").alias("sub"), F.col("db").alias("sup"), "inter"
    ).unionByName(
        pairs.select(
            F.col("db").alias("sub"), F.col("da").alias("sup"), "inter"
        )
    )
    ca = cnt.select(F.col("doc_id").alias("sub"), F.col("n").alias("ns"))
    return (
        directed.join(ca, "sub")
        .filter(F.col("inter") * den >= num * F.col("ns"))
        .select(
            "sub",
            "sup",
            F.round(
                F.col("inter").cast("double") / F.col("ns"), 4
            ).alias("containment"),
        )
    )


@register(
    "dedup_containment",
    sql=f"""
    WITH {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    p0 AS (
        SELECT a.doc_id AS sub, b.doc_id AS sup, COUNT(*) AS inter
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT sub, sup,
           ROUND(CAST(inter AS DOUBLE) / ca.n, 4) AS containment
    FROM p0 JOIN cnt ca ON ca.doc_id = sub
    WHERE inter * {CONT_DEN} >= {CONT_NUM} * ca.n
    ORDER BY sub, sup
    """,
)
def dedup_containment(spark, sf_dir):
    """Directed near-subset detection over the fixture corpus — see
    :func:`containment_pairs` for why containment catches the
    quote-inclusion pairs Jaccard structurally misses and for the
    shared-one-shuffle plan."""
    t = load_tables(spark, sf_dir)
    return containment_pairs(t.documents).orderBy("sub", "sup")


#: below this pair count, components are computed by one executor-side
#: union-find over a single coalesced partition. Budget honestly: the
#: Python worker holds a boxed-int parent dict (~80 B/entry) plus one
#: output frame — ~100-200 MB worst case at this cutoff, inside a default
#: executor's Python memory; above it, star contraction takes over.
_CC_LOCAL_MAX_PAIRS = 500_000


def _components_single_partition(pairs):
    """Exact connected components of a small pair graph in ONE Spark task:
    coalesce the edge list to a single partition and run path-compressed
    union-find inside ``mapInPandas`` — executor-side (never a driver
    collect), no per-round jobs, deterministic min-id labels. This is the
    classic two-level CC shape (local contraction; here the 'local' level
    is the whole graph because the near-dup pair set is tiny relative to
    the corpus)."""

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            # .tolist() keeps native python values, so the same code
            # handles long AND string node ids (min = lexicographic)
            for a, b in zip(pdf["da"].tolist(), pdf["db"].tolist()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:  # union by min id keeps labels canonical
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            nodes = sorted(parent)
            yield pd.DataFrame(
                {"node": nodes, "comp": [find(n) for n in nodes]}
            )

    # output type mirrors the id column's type (works for long or string
    # ids — the engine facade runs on arbitrary user tables)
    id_type = pairs.schema["da"].dataType.simpleString()
    return pairs.coalesce(1).mapInPandas(
        uf, f"node {id_type}, comp {id_type}"
    )




@register(
    "dedup_clusters_star",
    sql=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT da, db FROM pairs0
        JOIN cnt ca ON ca.doc_id = da
        JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= {JACCARD_T}
    ),
    edges AS (SELECT da AS src, db AS dst FROM pr
              UNION ALL SELECT db, da FROM pr),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_clusters_star(spark, sf_dir):
    """dedup_clusters forced down the LARGE-GRAPH path: the same exact
    Jaccard pair graph labeled by alternating large-star/small-star
    contraction (:func:`_components_star_contraction`) instead of the
    small-graph single-task union-find that :func:`connected_components`
    picks below the cutoff. Components are path-invariant, so the oracle
    SQL is dedup_clusters' verbatim — this row exists so the SCALE form
    itself holds driver evidence (the dedup_bloom_sharded pattern: the
    invariant test pins equality, the driver row pins the algorithm
    end-to-end)."""
    pairs = _jaccard_pairs(spark, sf_dir).select("da", "db")
    return _components_star_contraction(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


@register(
    "dedup_clusters",
    sql=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT da, db FROM pairs0
        JOIN cnt ca ON ca.doc_id = da
        JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= {JACCARD_T}
    ),
    edges AS (SELECT da AS src, db AS dst FROM pr
              UNION ALL SELECT db, da FROM pr),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the exact-Jaccard pair
    graph (pairs alone under-delete — A~B and B~C must collapse to one
    cluster even when A~C misses the threshold; keep-one-per-cluster needs
    components, not pairs). Singleton docs are omitted (identity clusters).

    Components come from :func:`connected_components` — one-pass
    executor-side union-find for small pair graphs, alternating
    large-star/small-star contraction beyond the cutoff. The DuckDB
    oracle computes the same components via a recursive-CTE transitive
    closure and agrees exactly — an oracle-checked ITERATIVE algorithm,
    not a rows-only gate."""
    pairs = _jaccard_pairs(spark, sf_dir).select("da", "db")
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


@register(
    "dedup_clusters_incremental",
    sql=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT da, db FROM pairs0
        JOIN cnt ca ON ca.doc_id = da
        JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= {JACCARD_T}
    ),
    edges AS (SELECT da AS src, db AS dst FROM pr
              UNION ALL SELECT db, da FROM pr),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_clusters_incremental(spark, sf_dir):
    """INCREMENTAL connected components — the daily-ingest form of
    dedup_clusters (the dedup_bloom_incremental pattern applied to the
    cluster graph): yesterday's labeling is carried forward as a STAR
    graph of (node, comp) label edges — at most |V_old| edges regardless
    of how many pairs produced it — and only the NEW batch's pairs join
    it. Yesterday's edge list is never rescanned.

    Exactness: replacing a component's edges with a star to its min label
    preserves exactly the node set and min of every old component, and
    new edges can only merge whole components, so components(star ∪ new)
    == components(old ∪ new). The oracle is dedup_clusters' full-graph
    recompute VERBATIM — the green row itself pins incremental ==
    one-shot, the same claim mv_incremental_agg makes for aggregates.

    At 100 TB: day N's cost is |new pairs| + |V_old| label edges (the
    persisted labeling, re-read from storage), not the |E| accumulated
    over history; the batch boundary here is a deterministic doc_id
    midpoint so the fixture exercises old-only, new-only, and genuinely
    MERGING components (verified non-trivial at both test SFs)."""
    # the shared pair frame is owned by _PAIRS_CACHE (one persisted slot,
    # evicted-on-new-corpus) — the ADVICE-r5 leak fix lives there, not in
    # a per-query unpersist, which would also recompute the whole shingle
    # pipeline for every sibling query in the session
    pairs = _jaccard_pairs(spark, sf_dir).select("da", "db")
    lo, hi = pairs.agg(F.min("da"), F.max("db")).first()
    cut = 0 if lo is None else (int(lo) + int(hi) + 1) // 2
    old = pairs.filter((F.col("da") < cut) & (F.col("db") < cut))
    new = pairs.filter((F.col("da") >= cut) | (F.col("db") >= cut))
    carried = connected_components(old).select(
        F.col("node").alias("da"), F.col("comp").alias("db")
    )
    comp = connected_components(carried.unionByName(new))
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


def connected_components(
    pair_df: DataFrame,
    src: str = "da",
    dst: str = "db",
    unpersist_after: bool = False,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): exact connected components
    of an undirected pair graph → (node, comp) with comp = min node id in
    the component. Two execution paths on the SAME contract:

    * small graph (the common case — near-dup pairs are a sliver of the
      corpus): one executor-side union-find over a single coalesced
      partition — exact components in ONE pass, no iteration, and nothing
      ever reaches the driver;
    * large graph: alternating large-star/small-star contraction
      (:func:`_components_star_contraction`) — rounds grow with log of the
      component size, independent of graph diameter.

    ``unpersist_after=True``: materialize the (node, comp) result (persisted
    — caller owns releasing it) and drop the internal edge cache before
    returning, so a long-lived session doesn't accumulate entries.
    """
    pairs = pair_df.select(
        F.col(src).alias("da"), F.col(dst).alias("db")
    ).persist()
    # materializing the cache also yields the edge count for free
    n_pairs = pairs.count()
    if n_pairs < _CC_LOCAL_MAX_PAIRS:
        comp = _components_single_partition(pairs)
        if unpersist_after:
            comp = comp.persist()
            comp.count()  # evaluate past the edge cache before dropping it
            pairs.unpersist()
        # else NOT unpersisted: the returned plan is lazy — dropping the
        # cache here would recompute the whole pair pipeline when the
        # caller finally evaluates. The cached pair list is tiny by
        # construction (< _CC_LOCAL_MAX_PAIRS rows) and LRU-evictable.
        return comp
    # star path: its per-round collects run while the cache is live, so
    # releasing it after convergence is safe
    comp = _components_star_contraction(pairs)
    pairs.unpersist()
    return comp


def _components_star_contraction(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Distributed connected components by alternating LARGE-STAR /
    SMALL-STAR contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): each phase rewires every node's
    strictly-larger (resp. smaller-or-equal) neighbors to the minimum of
    its neighborhood, which provably preserves connectivity and converges
    in rounds logarithmic in the largest component — NOT in the graph
    diameter, the weakness of plain min-label propagation on chain-shaped
    components. Per phase: one groupBy for the neighborhood minima, one
    join to re-emit edges, dropDuplicates on the canonical (min, max)
    form; ``localCheckpoint`` truncates lineage. Convergence = stable
    (count, bit_xor-of-edge-hashes) fingerprint — bit_xor is
    order-independent and cannot overflow under ANSI arithmetic. At the
    fixpoint the edges form stars rooted at component minima, so the
    labeling is one groupBy away. Validated against single-task union-find
    on chains, stars, cliques, and random graphs
    (tests/test_invariants.py)."""
    from pyspark.sql import Window

    e = (
        pairs.select(F.least("da", "db").alias("a"), F.greatest("da", "db").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    # r15 fused round (guide §2.4, r14 verdict "Next round" #6). Two
    # structural changes, set-identical edge transitions per round (pinned
    # by the star-vs-union-find invariant test):
    #
    # * each phase's neighborhood minimum comes from ONE window-min over the
    #   directed edges instead of groupBy + join back — the groupBy and the
    #   join hashed the SAME key, so the pair paid two exchanges (agg input
    #   + probe side) where the window pays one;
    # * the two phases run in ONE lineage with a single dropDuplicates +
    #   localCheckpoint per ROUND (was: one per phase). The large-star
    #   output is persist()ed so the small-star's two directed branches
    #   don't recompute it; duplicates it may carry collapse in the
    #   round-end dropDuplicates, and every neighborhood MIN is unaffected
    #   by multiplicity — the per-round edge SET is exactly the two-phase
    #   sequence's.
    from pyspark.sql import Observation

    w = Window.partitionBy("u")
    prev_fp = None
    for _round in range(max_rounds):
        both = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        large = (
            both.withColumn(
                "m", F.least(F.min("v").over(w), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("a"),
                F.greatest("v", "m").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .persist()
        )
        both2 = large.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(large.select(F.col("b").alias("u"), F.col("a").alias("v")))
        nle = both2.filter(F.col("v") < F.col("u"))
        tagged = nle.withColumn("m", F.min("v").over(w))
        out = tagged.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("x"), F.col("m").alias("y")
        ).union(tagged.select(F.col("u").alias("x"), F.col("m").alias("y")))
        # convergence fingerprint rides the checkpoint job via observe()
        # (guide §1.2/§5): the former separate count+bit_xor collect was
        # one more full pass over the edge set per round; observed metrics
        # are computed by the SAME tasks that materialize the checkpoint
        # and cost nothing extra. bit_xor is order-independent, so the
        # fingerprint value is identical to the collected one.
        obs = Observation(f"star_fp_{_round}")
        e = (
            out.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(a, b))").alias("h"),
            )
            .localCheckpoint()
        )
        large.unpersist()
        row = obs.get
        fp = (row["n"], row["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    both = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return (
        both.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
        .select(F.col("u").alias("node"), "comp")
    )


#: affine permutation family for MinHash: sig[s] = min over shingles of
#: (A[s]*h31 + B[s]) mod _PERM_P, where h31 = xxhash64(shingle) & 0x7FFFFFFF.
#: _PERM_P is prime > 2^31; A,B < _PERM_P so A*h31 + B < 2^62 — no 64-bit
#: overflow even under ANSI arithmetic. Constants are pinned (seeded PRNG)
#: so signatures are deterministic across sessions/executors.
_PERM_P = 2147483659
_PERM_RND = random.Random(20240813)
_PERM_AB = [
    (_PERM_RND.randrange(1, _PERM_P), _PERM_RND.randrange(0, _PERM_P))
    for _ in range(NUM_HASHES)
]


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — NUM_HASHES minhashes per doc.

    ONE shuffle total: shingles are hashed once (xxhash64 → 31-bit), the
    NUM_HASHES permuted mins are computed as NUM_HASHES ``min`` aggregate
    columns in a single ``groupBy(doc_id)`` — partial (map-side) aggregation
    collapses every partition to ≤1 row per doc before the exchange, and no
    per-seed row explosion ever materializes. Duplicate shingles need no
    ``distinct`` pass: ``min`` is duplicate-insensitive.
    """
    hashed = shingle_hashes(documents).select(
        "doc_id", F.col("h").bitwiseAND(F.lit(0x7FFFFFFF)).alias("h")
    )
    # wide column lists as F.expr strings (one py4j call per column) — same
    # plans as chained builders, a fraction of the driver-side build time
    mins = [
        F.expr(f"(({a}L * h + {b}L) % {_PERM_P}L) AS p{s}")
        for s, (a, b) in enumerate(_PERM_AB)
    ]
    return (
        hashed.select("doc_id", *mins)
        .groupBy("doc_id")
        .agg(*[F.expr(f"min(p{s}) AS m{s}") for s in range(NUM_HASHES)])
        .select(
            "doc_id",
            F.array(*[f"m{s}" for s in range(NUM_HASHES)]).alias("sig"),
        )
    )


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band-key table from a (doc_id, sig)
    frame — the 24-byte-per-row form every banded join moves (never the
    32-long signature array). Factored out of :func:`minhash_candidates`
    so the band table can also be PERSISTED as an incremental index
    (:func:`dedup_minhash_incremental` probes a stored band table with a
    new batch's bands instead of recomputing history's signatures)."""
    r = NUM_HASHES // NUM_BANDS
    # band keys as NUM_BANDS codegen'd xxhash64-over-longs projections fed
    # to stack() — not an interpreted transform() lambda building strings
    # (concat_ws): measured 1.7s → 1.0s for the whole candidate join at
    # sf0.1. Same collisions either way; only the key derivation changes.
    pairs = []
    for b in range(NUM_BANDS):
        args = ", ".join(f"element_at(sig, {b * r + i + 1})" for i in range(r))
        pairs += [F.lit(b), F.expr(f"xxhash64({args}, {b})")]
    return sigs.select(
        "doc_id", F.stack(F.lit(NUM_BANDS), *pairs).alias("band", "bkey")
    )


def minhash_candidates(sigs: DataFrame) -> DataFrame:
    """LSH-banded candidate pairs (da < db) from a (doc_id, sig) frame —
    the shared front half of :func:`dedup_minhash_lsh` (which re-scores
    candidates with the signature estimate) and
    :func:`dedup_minhash_keep` (which verifies them with exact Jaccard).
    Plan notes on the registered query below."""
    # The band self-join moves ONLY (doc_id, band, bkey) — 24 bytes/row —
    # never the 32-long signature array (that would be 16 copies of every
    # signature through the exchange at scale). Candidates dedup as bare id
    # pairs, then the two signatures rejoin once per DISTINCT pair for the
    # estimate — the interpreted zip_with fold runs per candidate pair, not
    # per multi-band collision. The sigs side of those joins is already
    # hash-partitioned by doc_id from its own groupBy exchange.
    bands = minhash_bands(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .dropDuplicates()
    )


@register("dedup_minhash_lsh")  # rows-only: LSH is recall-gated, not hash-gated
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates with estimated Jaccard.

    Bands of r = NUM_HASHES/NUM_BANDS rows; a pair becomes a candidate when
    any band matches exactly (equi-join on (band, band_key) — no all-pairs
    scan anywhere). Estimated similarity = fraction of agreeing minhashes.
    """
    t = load_tables(spark, sf_dir)
    # NOT persisted: both sides of the band self-join are the identical
    # subplan, so Spark's ReuseExchange computes the signatures once and
    # replays the shuffle files for the other side — a cache would only add
    # a materialization pass (measured +1s at sf0.1).
    sigs = minhash_signatures(t.documents)
    cand = minhash_candidates(sigs)
    sa = sigs.select(F.col("doc_id").alias("da"), F.col("sig").alias("siga"))
    sb = sigs.select(F.col("doc_id").alias("db"), F.col("sig").alias("sigb"))
    est = (
        F.aggregate(
            F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / NUM_HASHES
    )
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .select("da", "db", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_T)
        .orderBy("da", "db")
    )


@register("dedup_simhash")  # rows-only: banded Hamming search, recall-gated
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash near-dup pairs at Hamming distance ≤ SIMHASH_MAX_DIST.

    Bit sums go through (doc_id, bit, ±1) rows → partial aggregation; the
    fingerprint is assembled with exact integer arithmetic. Candidates come
    from 8 × 8-bit bands (pigeonhole: distance ≤ 7 ⇒ one band equal);
    distance is verified with xor + bit_count.
    """
    t = load_tables(spark, sf_dir)
    # ONE shuffle: hash each token occurrence once, then 64 conditional-sum
    # aggregate columns in a single groupBy(doc_id) — map-side partial
    # aggregation collapses each partition to ≤1 row per doc before the
    # exchange. (Summing ±1 per occurrence equals the classic ±term-frequency
    # formulation, so no per-(doc,token) count pass is needed; and no 64×
    # posexplode row blowup ever materializes.)
    occ = t.documents.select(
        "doc_id", F.explode(tokens_col()).alias("token")
    ).select("doc_id", F.xxhash64("token").alias("h"))
    # 64-wide column lists are built as F.expr strings — ONE py4j call per
    # column instead of ~7 chained Column-method calls: the Python-side
    # DataFrame BUILD alone was 2.0s/invocation with chained builders
    # (measured; planning 0.1s, execution 1.4s). Identical plans either way.
    # persisted: consumed twice (corpus means + centered fingerprints) and
    # tiny — one 64-long row per doc, ~0.5 KB/doc, so caching it costs
    # |docs|×0.5 KB while recomputing it costs a full token re-scan
    bitsums = occ.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(if(shiftrightunsigned(h, {i}) & 1 = 1, 1, -1)) AS s{i}"
            )
            for i in range(64)
        ]
    ).persist()
    # Corpus mean-centering: classic sign(s_i > 0) bits are heavily biased
    # here (ubiquitous tokens push every doc's bit the same way — observed
    # per-bit means from 0.006 to 0.976), which makes narrow band keys
    # collide en masse (8-bit bands: 6.8M candidate pairs vs 0.24M). Setting
    # bit i = (s_i > corpus_mean(s_i)) rebalances every bit to ~50/50 for
    # the cost of ONE 64-column global aggregate (rows already reduced to
    # one per doc) broadcast back as a literal row. A pair's Hamming
    # distance still reflects similarity: s_a ≈ s_b keeps both on the same
    # side of any common threshold.
    means = bitsums.agg(
        *[F.expr(f"avg(s{i}) AS m{i}") for i in range(64)]
    )
    centered = bitsums.crossJoin(F.broadcast(means))
    # assemble the 64-bit fingerprint: set bit i when s_i > m_i. Partial
    # sums of distinct powers of two stay within long range (bit 63 enters
    # as its two's-complement value via shiftleft) — ANSI-safe.
    fp_sql = " + ".join(
        f"if(s{i} > m{i}, shiftleft(1L, {i}), 0L)" for i in range(64)
    )
    fp = centered.select("doc_id", F.expr(f"({fp_sql}) AS simhash"))
    # band the 64-bit fingerprint into 8 × 8-bit keys (pigeonhole: any pair
    # at Hamming distance ≤ 7 has all its differing bits inside ≤ 7 bands,
    # so at least one of the 8 bands matches exactly)
    band_pairs = []
    for b in range(8):
        band_pairs += [
            F.lit(b),
            F.expr(f"shiftrightunsigned(simhash, {b * 8}) & 255L"),
        ]
    bands = fp.select(
        "doc_id", "simhash", F.stack(F.lit(8), *band_pairs).alias("band", "bkey")
    )
    a, b = bands.alias("a"), bands.alias("b")
    dist = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            dist.alias("hamming"),
        )
        # verify distance BEFORE the dedup shuffle: the xor+bit_count filter
        # is codegen'd map-side work, so the exchange carries only the few
        # true near-dup pairs instead of every multi-band collision (~200×
        # fewer rows at sf0.1)
        .filter(F.col("hamming") <= SIMHASH_MAX_DIST)
        .dropDuplicates(["da", "db"])
        .orderBy("da", "db")
    )


@register(
    "dedup_embedding_cosine",
    sql=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    )
    SELECT va, vb, cos_sim FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_sum(list_transform(generate_series(1, len(a.v)),
                                       i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm) AS cos_sim
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= {EMB_COS_T}
    ORDER BY va, vb
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs on the fixture corpus — core in
    :func:`cosine_pairs`, blocked by ``label`` (the stand-in for an
    IVF/LSH bucket at scale — never an unblocked cross product)."""
    t = load_tables(spark, sf_dir)
    return cosine_pairs(t.embeddings).orderBy("va", "vb")


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = EMB_COS_T,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): (va, vb, cos_sim)
    near-dup pairs with cosine ≥ ``threshold``, blocked by ``block_col``
    (an IVF/LSH bucket at scale — never an unblocked cross product).

    Two-stage plan. Stage 1 (the scale path): per block, one numpy matmul
    in ``applyInPandas`` emits candidate pairs with approximate cosine ≥
    threshold − 1e-6 — vectorized SIMD work instead of ~|block|²/2
    interpreted lambda folds. Stage 2: candidates (a tiny set by
    construction) join back to their vectors and the REPORTED cosine is the
    deterministic left-to-right DOUBLE fold ⇒ bit-identical to the DuckDB
    oracle. The 1e-6 margin dwarfs the ~1e-13 summation-order gap between
    matmul and fold, so the prefilter can never drop a true pair."""
    import pandas as pd

    v = F.transform(vec_col, lambda x: x.cast("double"))
    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(block_col).alias("blk"),
        v.alias("v"),
        F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    t_lo = threshold - 1e-6

    def block_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
        # Tiled upper-triangle matmul: TILE×TILE similarity panels instead
        # of one dense |block|² matrix, so scratch memory is a fixed
        # O(TILE²) ≈ 2 MB however large the label block is (the vectors
        # themselves are the applyInPandas input either way). Global-index
        # comparison gi < gj keeps exactly the strict upper triangle, so
        # each unordered pair is emitted once.
        import numpy as np

        TILE = 512
        m = np.vstack(pdf["v"].to_numpy())
        u = m / np.linalg.norm(m, axis=1)[:, None]
        ids = pdf["vec_id"].to_numpy()
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for s in range(0, len(u), TILE):
            a = u[s : s + TILE]
            for t0 in range(s, len(u), TILE):
                c = a @ u[t0 : t0 + TILE].T
                ia, ib = np.where(c >= t_lo)
                gi, gj = ia + s, ib + t0
                keep = gi < gj
                if keep.any():
                    va, vb = ids[gi[keep]], ids[gj[keep]]
                    out_a.append(np.minimum(va, vb))
                    out_b.append(np.maximum(va, vb))
        if not out_a:
            return pd.DataFrame({"va": pd.Series(dtype="int64"),
                                 "vb": pd.Series(dtype="int64")})
        return pd.DataFrame(
            {"va": np.concatenate(out_a), "vb": np.concatenate(out_b)}
        )

    cand_schema = "va long, vb long"
    cand = (
        e.select("vec_id", "blk", "v")
        .groupBy("blk")
        .applyInPandas(block_candidates, schema=cand_schema)
    )
    a = e.select(F.col("vec_id").alias("va"), F.col("v").alias("av"), F.col("nrm").alias("an"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("v").alias("bv"), F.col("nrm").alias("bn"))
    cos = (
        F.aggregate(
            F.zip_with("av", "bv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("an") * F.col("bn"))
    )
    return (
        cand.join(a, "va")
        .join(b, "vb")
        .select("va", "vb", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


@register(
    "fuzzy_dedup_names",
    sql="""
    WITH n AS (SELECT DISTINCT p_name AS name FROM part),
    t AS (SELECT name, string_split(name, ' ') AS tk FROM n),
    v AS (
        SELECT name,
               UNNEST(list_transform(generate_series(1, len(tk)),
                   i -> CAST(i AS VARCHAR) || ':' ||
                        array_to_string(
                            list_concat(tk[1:i-1], tk[i+1:len(tk)]), ' ')))
                   AS k
        FROM t
    )
    SELECT DISTINCT a.name AS na, b.name AS nb,
           levenshtein(a.name, b.name) AS dist
    FROM v a JOIN v b ON a.k = b.k AND a.name < b.name
    ORDER BY na, nb
    """,
)
def fuzzy_dedup_names(spark, sf_dir):
    """Fuzzy candidate generation by DELETION-NEIGHBORHOOD blocking: two
    names are candidates iff deleting one token (at the same position) from
    each yields the same string — i.e. they differ by exactly one token
    substitution. Each name emits len(tk) position-tagged deletion variants;
    candidates come from an exact equi-join on the variant key, then a
    cheap levenshtein verify on the (tiny) candidate set.

    This is the scalable shape for fuzzy matching: the quadratic
    block-and-compare self-join never happens — work is linear in input
    (k variants per name) plus output (actual near-matches). Dedup runs on
    DISTINCT names first, so the corpus's value-frequency skew never
    reaches the variant join."""
    t = load_tables(spark, sf_dir)
    names = t.part.select(F.col("p_name").alias("name")).distinct()
    tk = F.split("name", " ")
    variants = names.select(
        "name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk)),
                lambda i: F.concat_ws(
                    ":",
                    i.cast("string"),
                    F.concat_ws(
                        " ",
                        F.concat(
                            F.slice(tk, F.lit(1), i - 1),
                            F.slice(tk, i + 1, F.size(tk) - i),
                        ),
                    ),
                ),
            )
        ).alias("k"),
    )
    a = variants.alias("a")
    b = variants.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("na"),
            F.col("b.name").alias("nb"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .distinct()
        .orderBy("na", "nb")
    )


@register(
    "dedup_keep_corpus",
    sql=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    ok  AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT da, db FROM pairs0
        JOIN cnt ca ON ca.doc_id = da
        JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= {JACCARD_T}
    ),
    edges AS (SELECT da AS src, db AS dst FROM pr
              UNION ALL SELECT db, da FROM pr),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    LEFT JOIN (SELECT node FROM comp WHERE node != cluster_id) dropd
           ON d.doc_id = dropd.node
    WHERE dropd.node IS NULL
    ORDER BY d.doc_id
    """,
)
def dedup_keep_corpus(spark, sf_dir):
    """END-TO-END near-dup removal — the op a pretraining pipeline actually
    runs: shingle → exact-Jaccard pairs → connected components → keep one
    doc per cluster (the min doc_id) → surviving corpus rows. Composes the
    oracle-checked pieces (:func:`jaccard_pairs`,
    :func:`connected_components`) into the deliverable keep-list, checked
    end-to-end against a single DuckDB query (recursive-CTE closure +
    anti-join).

    Scale: the drop-list is PAIR-GRAPH-sized (near-dups are a sliver of
    any real corpus) while the kept side is the full corpus — exactly the
    asymmetry a broadcast anti-join wants, and the plan gets one from AQE
    without a hint (a forced broadcast would be wrong on adversarial
    corpora where most docs are near-dups). The corpus scan prunes to the
    3 output columns."""
    t = load_tables(spark, sf_dir)
    pairs = _jaccard_pairs(spark, sf_dir).select("da", "db")
    drop = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        t.documents.join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "text_dup_ngram_share",
    sql="""
    WITH tk AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   UNNEST(CASE WHEN len(tk) >= 8
                          THEN list_transform(generate_series(1, len(tk) - 7),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                 || ' ' || tk[i+3] || ' ' || tk[i+4]
                                 || ' ' || tk[i+5] || ' ' || tk[i+6]
                                 || ' ' || tk[i+7])
                          ELSE CAST([] AS VARCHAR[]) END) AS shingle
            FROM tk)
    ),
    dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST((20000 * SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
               / 10000.0 AS dup_share
    FROM sh JOIN dfc USING (shingle)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
)
def text_dup_ngram_share(spark, sf_dir):
    """Duplicated-span screen over the fixture corpus — core in
    :func:`dup_ngram_share`."""
    t = load_tables(spark, sf_dir)
    return dup_ngram_share(t.documents).orderBy("doc_id")


def dup_ngram_share(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_bits: int = 64,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): the BigCode/substring-
    dedup family's cheap cousin — per doc, the fraction of its distinct
    k-grams that also appear in at least one OTHER document. High share
    means the doc is largely assembled from corpus-repeated spans
    (boilerplate, mirrors, templating) even when no single whole-doc
    near-dup exists. Rank by ``dup_share`` to prioritize span-level dedup
    or drop.

    Scale: reuses :func:`shingle_hashes` — every shuffled row is
    (doc_id, 8-byte gram hash), never gram STRINGS. One shuffle builds
    per-gram document frequencies; the join back to the per-doc gram list
    shuffles on the same gram-hash key, so the Exchange is reused; the
    final aggregate is doc-keyed. Same single-wide-shuffle budget as
    dedup_ngram_jaccard, no quadratic term anywhere. Gram identity
    defaults to a 64-bit hash; at web scale (≥2^32 distinct grams, where
    a single 64-bit key collides with odds ~1/2) pass ``hash_bits=128``
    to key on two independent seeds — contract and plan shape unchanged
    (property-tested identical on the fixture corpus; shuffle rows stay
    (doc_id, h[, h2]) only).

    Rounding: dup/n_grams is an exact integer ratio; ROUND(double, 4)
    lands on half-boundaries (1/32 = 0.03125) where Spark HALF_UP and
    DuckDB nearbyint disagree, so round half-up in INTEGER space:
    (20000·dup + n) div (2·n) — exact, positive, truncation-safe on
    both engines."""
    key = gram_key_cols(hash_bits)
    sh = shingle_hashes(
        df, id_col, text_col, k=k, hash_bits=hash_bits
    ).dropDuplicates(["doc_id", *key])
    dfc = sh.groupBy(*key).agg(F.count("*").alias("df"))
    return (
        sh.join(dfc, key)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("dup"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            (
                F.expr("(20000 * dup + n_grams) div (2 * n_grams)")
                .cast("double") / 10000.0
            ).alias("dup_share"),
        )
    )


def shingle_hashes_pos(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
    hash_bits: int = 64,
) -> DataFrame:
    """(doc_id, i, h[, h2]) — :func:`shingle_hashes` with the gram's
    0-based token position ``i`` carried along (posexplode instead of
    explode), for span-level consumers that need to map duplicated grams
    back onto token ranges. Same one-pass nested-hash build: shuffles
    carry (doc_id, int, hash key), never gram strings; ``hash_bits=128``
    widens the key exactly as in :func:`shingle_hashes`."""
    gram_key_cols(hash_bits)  # validate
    base = documents.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("tk")
    )
    if hash_bits == 64:
        return (
            base.select(
                "doc_id", F.transform("tk", lambda t: F.xxhash64(t)).alias("th")
            )
            .select("doc_id", F.posexplode(_gram_hash_array("th", k)).alias("i", "h"))
        )
    return (
        base.select(
            "doc_id",
            F.transform("tk", lambda t: F.xxhash64(t)).alias("th"),
            F.transform("tk", lambda t: F.xxhash64(F.lit(1), t)).alias("th2"),
        )
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    _gram_hash_array("th", k),
                    _gram_hash_array("th2", k),
                    lambda a, b: F.struct(a.alias("h"), b.alias("h2")),
                )
            ).alias("i", "g"),
        )
        .select(
            "doc_id", "i", F.col("g.h").alias("h"), F.col("g.h2").alias("h2")
        )
    )


@register(
    "text_dedup_spans",
    sql="""
    WITH tk AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ), pos AS (
        SELECT doc_id, tk,
               UNNEST(CASE WHEN len(tk) >= 8
                      THEN generate_series(1, len(tk) - 7)
                      ELSE CAST([] AS BIGINT[]) END) AS i
        FROM tk
    ), g AS (
        SELECT doc_id, i,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
               || ' ' || tk[i+7] AS gram
        FROM pos
    ), duph AS (
        SELECT gram FROM (
            SELECT gram, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY gram
        ) WHERE c >= 2
    ), dup AS (
        SELECT doc_id, i FROM g SEMI JOIN duph USING (gram)
    ), isl AS (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
        FROM dup
    ), runs AS (
        SELECT doc_id, MIN(i) AS i0, COUNT(*) AS rl
        FROM isl GROUP BY doc_id, isl HAVING COUNT(*) >= 2
    ), cov AS (
        SELECT DISTINCT doc_id, j FROM (
            SELECT doc_id,
                   UNNEST(generate_series(i0, i0 + rl + 6)) AS j
            FROM runs)
    ), tok AS (
        SELECT doc_id, UNNEST(tk) AS tok,
               UNNEST(generate_series(1, len(tk))) AS j
        FROM tk
    ), kept AS (
        SELECT doc_id, j, tok FROM tok ANTI JOIN cov USING (doc_id, j)
    ), cl AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               STRING_AGG(tok, ' ' ORDER BY j) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(cleaned_text, '') AS cleaned_text
    FROM tk t LEFT JOIN cl USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def text_dedup_spans(spark, sf_dir):
    """Span-level dedup TRANSFORM over the fixture corpus — core in
    :func:`dedup_spans`."""
    t = load_tables(spark, sf_dir)
    return dedup_spans(t.documents).orderBy("doc_id")


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_run: int = 2,
    hash_bits: int = 64,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): the substring-dedup
    deliverable :func:`dup_ngram_share` only SCORES — emit a CLEANED
    corpus where every maximal run of ``min_run``-or-more consecutive
    corpus-duplicated ``k``-grams is excised from the doc (the
    BigCode/deduplicate-text-datasets idea restated on token k-grams:
    a qualifying run of ``r`` grams removes its ``r + k - 1`` covered
    tokens). Cross-doc duplication only — a gram repeated solely within
    one doc is not "corpus-duplicated" (that is repetition_metrics'
    job). Output per doc: original token count, removed token count,
    and the reconstructed cleaned text (kept tokens joined by single
    spaces; empty string when the whole doc is excised).

    This is the reference's R18 uniqueness idea (`store/store.go:15`,
    unique-observation constraint) applied INSIDE documents: spans
    already seen elsewhere in the corpus are dropped before training.

    Scale, stage by stage (nothing corpus-quadratic, no strings in any
    wide shuffle):
    * gram build reuses :func:`shingle_hashes`'s nested-hash pass —
      shuffle rows are (doc_id, pos, 8-byte hash);
    * duplicated-gram set = distinct (doc, h) → groupBy(h) count ≥ 2,
      map-side combinable; the flagging join back to positions is a
      LEFT SEMI on the 8-byte key (AQE broadcasts it when small);
    * run detection is one per-doc window (row_number over gram pos) +
      a doc-keyed aggregate — partitions are doc-sized;
    * coverage explode emits run-length-bounded (doc_id, pos) rows;
      the kept-token filter is a positional LEFT ANTI join;
    * reconstruction is one doc-keyed collect_list of (pos, token)
      structs — per-doc memory, the same budget as text_chunk/pack.

    Gram identity: same collision maths as dup_ngram_share — pass
    ``hash_bits=128`` at web scale to key on two independent seeds; the
    plan is unchanged (property-tested identical on the fixture)."""
    from pyspark.sql.window import Window as W

    key = gram_key_cols(hash_bits)
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("tk")
    )
    g = shingle_hashes_pos(df, id_col, text_col, k=k, hash_bits=hash_bits)
    dup_h = (
        g.select("doc_id", *key)
        .dropDuplicates()
        .groupBy(*key)
        .agg(F.count("*").alias("dfreq"))
        .filter(F.col("dfreq") >= 2)
        .select(*key)
    )
    dup = g.join(dup_h, key, "left_semi").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i")
    runs = (
        dup.withColumn("isl", F.col("i") - F.row_number().over(w))
        .groupBy("doc_id", "isl")
        .agg(F.min("i").alias("i0"), F.count("*").alias("rl"))
        .filter(F.col("rl") >= min_run)
    )
    cov = runs.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("i0"), F.col("i0") + F.col("rl") + F.lit(k - 2))
        ).alias("j"),
    ).dropDuplicates()
    toks = base.select("doc_id", F.posexplode("tk").alias("j", "tok"))
    cl = (
        toks.join(cov, ["doc_id", "j"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("cleaned_text"),
        )
    )
    return (
        base.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


@register(
    "dedup_semantic",
    sql=f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    pr AS (
        SELECT va, vb FROM (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   list_sum(list_transform(generate_series(1, len(a.v)),
                                           i -> a.v[i] * b.v[i]))
                       / (a.nrm * b.nrm) AS cos_sim
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cos_sim >= {SEM_COS_T}
    ),
    edges AS (SELECT va AS src, vb AS dst FROM pr
              UNION ALL SELECT vb, va FROM pr),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT em.vec_id, em.label FROM embeddings em
    LEFT JOIN (SELECT node FROM comp WHERE node != cluster_id) dropd
           ON em.vec_id = dropd.node
    WHERE dropd.node IS NULL
    ORDER BY em.vec_id
    """,
)
def dedup_semantic(spark, sf_dir):
    """END-TO-END semantic dedup (the SemDeDup recipe) over the fixture
    embeddings — core in :func:`semantic_dedup`. Blocked by ``label``
    (the fixture's deterministic stand-in for a learned cell, which keeps
    this variant fully SQL-expressible and therefore ORACLED; the
    learned-cell twin is :func:`dedup_semantic_ivf`, recall-gated like
    every approx op per SURVEY §2.3)."""
    t = load_tables(spark, sf_dir)
    return semantic_dedup(t.embeddings).select("vec_id", "label").orderBy(
        "vec_id"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = SEM_COS_T,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): SemDeDup-style semantic
    deduplication — embeddings whose cosine ≥ ``threshold`` within a
    block form near-dup clusters; every cluster keeps exactly its min-id
    member and the survivors of the input frame are returned unchanged.
    Composes the oracle-checked pieces: :func:`cosine_pairs` (blocked
    matmul prefilter + exact-fold rerank) → :func:`connected_components`
    → pair-graph-sized drop-list anti-join (the same asymmetry
    dedup_keep_corpus exploits — AQE broadcasts the drop list when it is
    genuinely small, no forced hint)."""
    pairs = cosine_pairs(df, id_col, vec_col, block_col, threshold).select(
        "va", "vb"
    )
    drop = (
        connected_components(pairs, src="va", dst="vb")
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


@register("dedup_semantic_ivf")  # rows-only: recall-gated vs exact pairs
def dedup_semantic_ivf(spark, sf_dir):
    """SemDeDup with LEARNED cells — core in :func:`semantic_dedup_ivf`:
    blocks come from the pinned deterministic IVF fit
    (:func:`similarity._ivf_centroids`) instead of the fixture label.
    Rows-only in the driver (a learned partition is not SQL-expressible);
    quality is gated by tests/test_recall.py: every dropped id is part of
    a TRUE cosine≥T pair (precision 1 by construction — the rerank is
    exact) and the drop set recovers a floor fraction of the global exact
    drop set."""
    t = load_tables(spark, sf_dir)
    return semantic_dedup_ivf(t.embeddings).select("vec_id", "label").orderBy(
        "vec_id"
    )


def semantic_dedup_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = SEM_COS_T,
    nprobe: int = SEM_NPROBE,
) -> DataFrame:
    """Public DataFrame-in core (engine facade): :func:`semantic_dedup`
    with blocks ASSIGNED BY THE DATA — each embedding lives in its
    nearest IVF cell from the pinned deterministic k-means fit (shared,
    via the one-slot centroid cache, with the ann_ivf_* queries when they
    run on the same frame).

    Multi-probe: each vector enters its ``nprobe`` nearest cells and a
    pair is a candidate if the two share ANY probed cell (then deduped on
    (va, vb) before the rerank). Necessary here because the fixture has
    no cluster structure (see SEM_NPROBE); real clustered embeddings run
    nprobe=1 — classic SemDeDup.

    Scale shape — the plan the 100 TB path needs (and the one the plan
    audit pins): cell assignment is a map-side Arrow-batched pandas_udf;
    the candidate self-join shuffles (cell, vec_id) rows ONLY — vectors
    never enter the cell exchange — and vectors reappear exclusively in
    the per-candidate exact-fold rerank joins (vec_id-keyed). Cell
    population stays bounded by scaling IVF_CELLS ~ sqrt(corpus) exactly
    as SemDeDup prescribes, so the intra-cell pair count is capped and
    nothing is corpus-quadratic."""
    from dp_dimension_importer_spark.operators.similarity import (
        _ivf_centroids,
        make_ivf_cells_udf,
    )

    fit_frame = (
        df
        if id_col == "vec_id" and vec_col == "embedding"
        else df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
    )
    cells_of = make_ivf_cells_udf(_ivf_centroids(fit_frame), nprobe)
    cells = df.select(
        F.col(id_col).alias("vec_id"),
        F.explode(cells_of(F.col(vec_col))).alias("cell"),
    )
    cand = (
        cells.select("cell", F.col("vec_id").alias("va"))
        .join(cells.select("cell", F.col("vec_id").alias("vb")), "cell")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .dropDuplicates(["va", "vb"])
    )
    v = F.transform(vec_col, lambda x: x.cast("double"))
    e = df.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    cos = (
        F.aggregate(
            F.zip_with("av", "bv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("an") * F.col("bn"))
    )
    pairs = (
        cand.join(
            e.select(
                F.col("vec_id").alias("va"),
                F.col("v").alias("av"),
                F.col("nrm").alias("an"),
            ),
            "va",
        )
        .join(
            e.select(
                F.col("vec_id").alias("vb"),
                F.col("v").alias("bv"),
                F.col("nrm").alias("bn"),
            ),
            "vb",
        )
        .select("va", "vb", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("va", "vb")
    )
    drop = (
        connected_components(pairs, src="va", dst="vb")
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental dedup: bloom-routed anti-join against an existing corpus.
# ---------------------------------------------------------------------------

#: pinned bloom geometry for the fixture query (parameterize via the core
#: at deployment: m_bits ≈ -n·ln(fpr)/ln(2)², k ≈ (m/n)·ln(2))
BLOOM_M_BITS = 1 << 23  # 8 Mbit = 1 MiB bitmap
BLOOM_K = 7


def _bloom_positions(h1, h2, m_bits: int, k: int):
    """The k probe positions for double-hashed bloom membership:
    pos_i = (h1 + i·h2) mod m, computed as ((h1 mod m) + i·(h2 mod m))
    mod m — algebraically identical, and every intermediate stays ≤ k·m
    so ANSI mode (no wrapping longs) and numpy agree exactly."""
    r1, r2 = F.pmod(h1, F.lit(m_bits)), F.pmod(h2, F.lit(m_bits))
    return [F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]


def build_bloom_bitmap(
    df: DataFrame,
    h1_col: str,
    h2_col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
):
    """Distributed bloom-filter build: explode each key's k probe positions,
    OR them into 64-bit words with ONE map-side-combinable bit_or aggregate
    (shuffle ≤ m/64 rows per task regardless of corpus size), and collect
    the bitmap (m/64 longs — 1 MiB at the pinned fixture geometry; the ONLY
    driver materialization, pinned by m, not by data size).

    Sizing honesty at 100 TB: useful fpr needs m ≈ 10·n bits, so a 10⁹-key
    corpus wants ~1.2 GB of bitmap — still a feasible (torrent-)broadcast,
    but no longer a casual driver collect. The scale form keeps THIS build
    unchanged per shard: pre-shard the key space S ways (pmod(h1, S)),
    build S independent bitmaps of bounded size, and have the probe UDF
    select its shard's bitmap — same math, driver memory m/S, and shards
    can build/refresh independently as the corpus grows. Returns a numpy
    uint64 array of length m/64.

    Implementation: the S=1 special case of
    :func:`build_bloom_bitmaps_sharded` — ONE copy of the position/word
    math, so build and probe can never desynchronize between the flat and
    sharded paths."""
    return build_bloom_bitmaps_sharded(df, h1_col, h2_col, 1, m_bits, k)[0]


def _bloom_shard_expr(h1, h2, n_shards: int):
    """Shard id as a pure function of the hash pair, identical in the JVM
    and numpy: pmod(h1 xor h2, S). XOR decorrelates the shard choice from
    probe position 0 (which is pmod(h1, m)); any residual correlation
    only nudges fpr, never membership."""
    return F.pmod(h1.bitwiseXOR(h2), F.lit(n_shards))


def build_bloom_bitmaps_sharded(
    df: DataFrame,
    h1_col: str,
    h2_col: str,
    n_shards: int,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
):
    """The scale form of :func:`build_bloom_bitmap`: S independent bitmaps
    of ``m_bits`` each, one per key-space shard — the same one-aggregate
    build with (shard, word) keys. Driver peak per collected shard stays
    m/8 bytes however big the corpus grows (grow S, not m), and shards
    can be rebuilt independently as the corpus ingests. Returns a numpy
    uint64 array of shape (S, m/64)."""
    import numpy as np

    n_words = m_bits // 64
    h1, h2 = F.col(h1_col), F.col(h2_col)
    pos = F.explode(
        F.array(*_bloom_positions(h1, h2, m_bits, k))
    ).alias("pos")
    words = (
        df.select(_bloom_shard_expr(h1, h2, n_shards).alias("s"), pos)
        .select(
            "s",
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("s", "w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    bm = np.zeros((n_shards, n_words), dtype=np.uint64)
    for r in words:
        bm[r["s"], r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bm


def _bloom_contains_sharded_with_handle(
    spark, bitmaps, n_shards: int, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
):
    """Sharded membership probe: each row selects its shard's bitmap by
    the same pmod(h1 xor h2, S) the build used. One broadcast carries the
    stacked (S × m/64) array — total size is the corpus's bit budget
    either way; sharding bounds the per-shard build/collect, not the
    probe-side broadcast."""
    import numpy as np

    bc = spark.sparkContext.broadcast(bitmaps.tobytes())
    m, kk, S = m_bits, k, n_shards
    n_words = m_bits // 64

    @F.pandas_udf("boolean")
    def _contains(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint64).reshape(S, n_words)
        a = h1.to_numpy(dtype=np.int64)
        b = h2.to_numpy(dtype=np.int64)
        shard = (a ^ b) % np.int64(S)  # pmod: numpy % is floored, matches
        r1 = a % np.int64(m)
        r2 = b % np.int64(m)
        hit = np.ones(len(a), dtype=bool)
        for i in range(kk):
            pos = (r1 + np.int64(i) * r2) % np.int64(m)
            word = (pos >> 6).astype(np.int64)
            bit = np.uint64(1) << (pos & np.int64(63)).astype(np.uint64)
            hit &= (bm[shard, word] & bit) != 0
        return pd.Series(hit)

    return _contains, bc


def bloom_contains_udf(spark, bitmap, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """Vectorized membership probe against a spark-broadcast bitmap:
    (h1, h2) -> maybe-present boolean. False is a GUARANTEE of absence —
    that is what lets the router skip the join for negatives."""
    return _bloom_contains_with_handle(spark, bitmap, m_bits, k)[0]


def _bloom_contains_with_handle(
    spark, bitmap, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
):
    """As :func:`bloom_contains_udf`, but also returns the Broadcast
    handle so callers that materialize their result can destroy it —
    broadcasts are otherwise only reclaimed at context teardown.
    Delegates to the sharded probe with S=1 (pmod(x, 1) = 0 routes every
    row to the single bitmap) — one copy of the probe math."""
    return _bloom_contains_sharded_with_handle(
        spark, bitmap.reshape(1, -1), 1, m_bits, k
    )


def bloom_route_new(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    unpersist_after: bool = False,
    n_shards: int = 1,
) -> DataFrame:
    """Public core (engine facade): ids of ``batch`` rows whose text is NOT
    already in ``corpus`` — the incremental-ingestion dedup pass (the
    reference's dedup-on-write / uniqueness-constraint semantics,
    store/store.go:15 and SURVEY R18, applied to a new arrival batch).

    EXACT result, bloom-routed plan: Spark's own runtime bloom filters
    only apply to inner/semi joins — for an ANTI join the bloom-negative
    rows are precisely the rows the result must KEEP, so no engine can
    prune them; it can only bypass the join for them. That bypass is this
    operator: batch rows whose (h1, h2) probe misses the corpus bitmap are
    DEFINITELY new and go straight to the output with no shuffle at all;
    only bloom-positive rows (true duplicates + the fpr sliver) pay the
    exact text-equality anti-join. At 100 TB of mostly-novel arrivals the
    exchange carries the duplicate rate, not the corpus.

    The verification join is on the text itself, so hash collisions cannot
    produce a wrong answer — the bloom is routing, never truth.

    ``unpersist_after=True`` materializes the id result via an eager
    localCheckpoint and DESTROYS the bitmap broadcast — otherwise each
    invocation leaks one bitmap until context teardown (a per-batch cost
    in a long-lived ingestion session). Trade-off to know: localCheckpoint
    blocks are executor-local, NOT fault-tolerant, and the destroyed
    broadcast means a lost block cannot be recomputed — right for a
    consume-immediately batch loop; a long-lived cluster job that must
    survive executor loss should instead write the result to storage
    (checkpoint/sink) before releasing, or leave the default and release
    per-corpus via ``spark.sparkContext`` teardown."""
    h1 = F.xxhash64(F.col(text_col))
    h2 = F.xxhash64(F.lit(1), F.col(text_col))
    spark = corpus.sparkSession
    hashed = corpus.select(h1.alias("h1"), h2.alias("h2"))
    if n_shards > 1:  # scale form: S bounded per-shard builds (docstring)
        bm = build_bloom_bitmaps_sharded(
            hashed, "h1", "h2", n_shards, m_bits, k
        )
        contains, bc = _bloom_contains_sharded_with_handle(
            spark, bm, n_shards, m_bits, k
        )
    else:
        bitmap = build_bloom_bitmap(hashed, "h1", "h2", m_bits, k)
        contains, bc = _bloom_contains_with_handle(spark, bitmap, m_bits, k)
    routed = batch.select(
        id_col, text_col, contains(h1, h2).alias("maybe")
    )
    negatives = routed.filter(~F.col("maybe")).select(id_col)
    positives = (
        routed.filter(F.col("maybe"))
        .join(corpus.select(text_col), text_col, "left_anti")
        .select(id_col)
    )
    out = negatives.unionByName(positives)
    if unpersist_after:
        out = out.localCheckpoint(eager=True)
        bc.destroy()
    return out


@register(
    "dedup_bloom_incremental",
    sql="""
    WITH b AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM documents
    )
    SELECT d.doc_id FROM b d
    WHERE NOT EXISTS (SELECT 1 FROM b c
                      WHERE c.bucket < 8 AND c.text = d.text)
    ORDER BY doc_id
    """,
)
def dedup_bloom_incremental(spark, sf_dir):
    """Incremental-ingestion dedup: treat the train split (bucket < 8, per
    the split_train_test hash) as the existing corpus and re-ingest the
    WHOLE feed as the arrival batch (the reference's at-least-once
    redelivery scenario, R9) — emit only the genuinely-new docs. Both
    router paths carry real rows: already-present docs are bloom-positive
    and die in the exact anti-join; the rest are bloom-negative and skip
    the join entirely. See :func:`bloom_route_new`; exact output,
    oracle-checked against a plain NOT EXISTS."""
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    docs = t.documents.withColumn("bucket", hash_bucket("doc_id", 10))
    corpus = docs.filter(F.col("bucket") < 8)
    # unpersist_after: registered queries run repeatedly per session —
    # release the bitmap broadcast instead of leaking one per run
    return bloom_route_new(
        corpus, t.documents, unpersist_after=True
    ).orderBy("doc_id")


@register(
    "dedup_bloom_sharded",
    sql="""
    WITH b AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM documents
    )
    SELECT d.doc_id FROM b d
    WHERE NOT EXISTS (SELECT 1 FROM b c
                      WHERE c.bucket < 8 AND c.text = d.text)
    ORDER BY doc_id
    """,
)
def dedup_bloom_sharded(spark, sf_dir):
    """The SCALE form of :func:`dedup_bloom_incremental` as a first-class
    driver-checked query: same corpus/batch fixture, but the bloom is
    built as S=4 independent key-space shards
    (:func:`build_bloom_bitmaps_sharded`) — the shape a 10⁹-key corpus
    needs, where one m≈10n bitmap no longer fits a casual driver collect
    but each of S bounded shards does, and shards rebuild independently
    as the corpus ingests. The oracle is IDENTICAL to the flat query's:
    the exact NOT EXISTS answer is sharding-invariant by construction
    (the bloom only routes; text equality decides), so a green row here
    pins that the shard-selection math — pmod(h1 xor h2, S) mirrored
    between the JVM build and the numpy probe — never drops or invents a
    membership. Per-shard zero-false-negative and flat-vs-sharded
    equality are further pinned by tests/test_invariants.py."""
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    docs = t.documents.withColumn("bucket", hash_bucket("doc_id", 10))
    corpus = docs.filter(F.col("bucket") < 8)
    return bloom_route_new(
        corpus, t.documents, unpersist_after=True, n_shards=4
    ).orderBy("doc_id")


@register("dedup_minhash_keep")  # rows-only: LSH candidates, recall-gated
def dedup_minhash_keep(spark, sf_dir):
    """END-TO-END MinHash dedup — the 100 TB form of
    :func:`dedup_keep_corpus`: LSH-banded candidates
    (:func:`minhash_candidates`) are VERIFIED with exact shingle-set
    Jaccard, verified pairs feed connected components, and one doc per
    cluster (min id) survives. The exact pipeline's all-pairs-per-shingle
    step is replaced by the banded equi-join, so cost scales with
    candidate count, not document-frequency blowup.

    Soundness shape (pinned in tests/test_recall.py): verification makes
    every removed doc a TRUE near-dup (precision 1 by construction — the
    exact Jaccard decides, LSH only proposes), so the surviving set is a
    SUPERSET of the exact pipeline's (missed candidates can only split
    clusters and keep extra docs, never remove a unique doc); the recall
    floor bounds how many extras.

    Scale: the verify join carries each candidate pair's two shingle-hash
    SETS (per-doc-sized arrays, candidate-pair-sized join — never the
    corpus); components and the anti-join reuse the exact pipeline's
    machinery."""
    t = load_tables(spark, sf_dir)
    docs = t.documents
    cand = minhash_candidates(minhash_signatures(docs))
    sets = (
        shingle_hashes(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
        .select("doc_id", "s", F.size("s").alias("n"))
    )
    sa = sets.select(
        F.col("doc_id").alias("da"), F.col("s").alias("sa"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("doc_id").alias("db"), F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    verified = (
        cand.join(sa, "da")
        .join(sb, "db")
        .filter(jac >= JACCARD_T)
        .select("da", "db")
    )
    drop = (
        connected_components(verified)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        docs.join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


#: the band index's hidden-partition spec: one partition per band
BAND_SPEC = [("identity", "band")]


def append_band_index(new_bands: DataFrame, idx_path: str) -> None:
    """DAILY-INGEST append to the persisted LSH band index
    (:func:`dedup_minhash_incremental`'s (band, bkey, doc_id) snapshot
    table): today's kept docs' band rows land as one append commit, one
    new file per touched band — :func:`compact_band_index` is the
    retention valve."""
    from dp_dimension_importer_spark import storage

    storage.write_snapshot_partitioned(
        new_bands.sparkSession, new_bands, idx_path, BAND_SPEC,
        mode="append",
    )


def compact_band_index(spark, idx_path: str) -> int:
    """COMPACTION/RETENTION for the persisted MinHash band index: under
    daily ingest every append adds a file per band — a year of ingests
    is 365 small files per band, and probe-scan planning cost grows with
    file count, not data size. Commits the index's deduplicated
    (band, bkey, doc_id) rows as one overwrite, which writes one file per
    band (a re-indexed doc's rows collapse; probe results are unchanged
    because the candidate join dropDuplicates downstream anyway —
    probe-equivalence is pinned in tests/test_band_index.py). The
    manifest hard-link is the commit: a failure before it leaves the
    index at its previous version. Only after the commit are the
    superseded files unlinked (the compact_ivf_index discipline), so the
    index's disk use stays bounded and it keeps no readable history.
    Returns the committed version."""
    import os

    from dp_dimension_importer_spark import storage

    head = storage.snapshot_versions(idx_path)[-1]
    old = storage._load_manifest(idx_path, head)["files"]
    version = storage.write_snapshot_partitioned(
        spark, storage.read_snapshot(spark, idx_path, head).dropDuplicates(),
        idx_path, BAND_SPEC,
    )
    for rel in old:
        try:
            os.unlink(os.path.join(idx_path, rel))
        except OSError:
            pass
    return version


@register("dedup_minhash_incremental")  # rows-only: LSH path, recall-gated
def dedup_minhash_incremental(spark, sf_dir):
    """INCREMENTAL near-dup dedup against a PERSISTED LSH index — the
    near-duplicate analog of dedup_bloom_incremental's exact router, and
    the daily-ingest form of :func:`dedup_minhash_keep`: history's
    signatures are computed ONCE and stored as a (band, bkey, doc_id)
    band snapshot table (:func:`minhash_bands`, partitioned by band); today's
    job computes signatures for the NEW BATCH ONLY, probes the stored
    table with an equi-join on (band, bkey), adds the batch's internal
    LSH candidates, exact-verifies every candidate pair with shingle-set
    Jaccard, and drops batch docs that land in a cluster with any
    smaller-id doc. History is NEVER re-shingled: the corpus contributes
    24-byte band rows from disk, and only the corpus docs a candidate
    pair actually TOUCHES are re-read for verification (a semi-join pulls
    candidate-sized text, not history-sized).

    Soundness mirrors dedup_minhash_keep (pinned in test_recall.py): the
    exact verify makes every removal a true near-dup (survivors ⊇ the
    exact cross+batch pipeline's — refined components can only keep
    more), and the recall floor bounds the extras. Corpus ids sort below
    batch ids, so min-id keep automatically prefers the established
    corpus copy — the idempotent-redelivery semantics of the reference's
    upsert sink (R9/R12) at near-dup granularity.

    Partitioning note: `band` is the shard axis here (16 dirs, matches
    how an index this shape is bucketed at scale); a single-band probe
    service would partition by pmod(bkey, B) instead to prune the probe
    to one bucket — same table, different pruning axis. Retention: each
    daily :func:`append_band_index` adds one file per band;
    :func:`compact_band_index` folds a band's files back to one with
    probe-equivalence pinned in tests/test_band_index.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    docs = t.documents
    # collect()[0], not first(): first()'s take-escalation runs up to
    # three incremental jobs; a global aggregate is one (guide §1.2)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    # None guard (ADVICE r5, mirrors dedup_clusters_incremental): an empty
    # documents table yields a clean empty result, not a TypeError
    cut = 0 if lo is None else (int(lo) + int(hi) + 1) // 2
    corpus = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)

    idx = tempfile.mkdtemp(prefix="lsh_idx_")
    try:
        # day-0 job: signatures of history, banded, persisted — after
        # this line history's text is only ever read for touched docs
        storage.write_snapshot_partitioned(
            spark, minhash_bands(minhash_signatures(corpus)), idx, BAND_SPEC
        )

        # day-1 job: batch signatures only. Pinned: the band table feeds
        # THREE plan branches (the stored-index probe and both sides of
        # the batch-internal self-join) — unpinned, the whole
        # shingle+32-permutation signature pipeline ran three times in
        # one job tree (r14, guide §5 / §2.4)
        sigs_b = minhash_signatures(batch)
        bands_b = minhash_bands(sigs_b).localCheckpoint(eager=False)
        # the manifest's committed schema forces the scan: the probe
        # pays no footer-inference job (guide §6)
        stored = storage.read_snapshot(spark, idx)
        cross = (
            stored.alias("c")
            .join(
                bands_b.alias("n"),
                (F.col("c.band") == F.col("n.band"))
                & (F.col("c.bkey") == F.col("n.bkey")),
            )
            .select(
                F.col("c.doc_id").alias("da"), F.col("n.doc_id").alias("db")
            )
        )
        # batch-internal candidates, inlined WITHOUT minhash_candidates'
        # trailing dropDuplicates: the union below distincts once for
        # both sources, so the two inner distinct exchanges (cross +
        # internal) were pure extra shuffles of the same pairs
        # (guide §2.4 — a distinct feeding another distinct)
        a, b = bands_b.alias("a"), bands_b.alias("b")
        internal = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
            )
        )
        cand = cross.unionByName(internal).dropDuplicates()

        # exact verify — shingle sets for TOUCHED docs only
        ids = (
            cand.select(F.col("da").alias("doc_id"))
            .unionByName(cand.select(F.col("db").alias("doc_id")))
            .dropDuplicates()
        )
        touched = docs.join(ids, "doc_id", "left_semi")
        sets = (
            shingle_hashes(touched)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("s"))
            .select("doc_id", "s", F.size("s").alias("n"))
        )
        sa = sets.select(
            F.col("doc_id").alias("da"),
            F.col("s").alias("sa"),
            F.col("n").alias("na"),
        )
        sb = sets.select(
            F.col("doc_id").alias("db"),
            F.col("s").alias("sb"),
            F.col("n").alias("nb"),
        )
        inter = F.size(F.array_intersect("sa", "sb"))
        jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
        verified = (
            cand.join(sa, "da").join(sb, "db").filter(jac >= JACCARD_T)
            .select("da", "db")
        )
        drop = (
            connected_components(verified)
            .filter((F.col("node") != F.col("comp")) & (F.col("node") >= cut))
            .select(F.col("node").alias("doc_id"))
        )
        return (
            batch.join(drop, "doc_id", "left_anti")
            .select("doc_id", "source", "n_chars")
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# ---------------------------------------------------------------------------
# Exact Jaccard self-join via PREFIX FILTERING (PPJoin-style candidate
# pruning) — the exact-at-scale alternative to dedup_ngram_jaccard's
# DF-cap inverted index.
# ---------------------------------------------------------------------------

#: threshold as an exact rational so both engines compare with integer
#: cross-multiplication (`inter * DEN >= NUM * union`) — no float boundary
#: anywhere in the filter, only in the displayed (rounded) jaccard
PFX_NUM, PFX_DEN = 5, 10  # 0.5, same level as JACCARD_T


def prefix_filter_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = PFX_NUM,
    den: int = PFX_DEN,
) -> DataFrame:
    """Public core (engine facade): EXACT Jaccard >= num/den pairs over
    each document's distinct shingle-hash set, with prefix filtering
    doing the candidate pruning instead of a hot-shingle cap.

    Why this exists next to :func:`jaccard_pairs`: the DF-cap pipeline is
    exact only under the declared cap contract (a pair whose every shared
    shingle is hotter than DF_CAP is silently missed). Prefix filtering
    is unconditionally exact: order the corpus vocabulary rarest-first,
    keep only each doc's first ``p = s - ceil(t*s) + 1`` shingles as its
    join "prefix", and any pair with J >= t provably shares a prefix
    element (if the prefixes were disjoint, the intersection is confined
    to the suffixes, giving inter <= min(s_a, s_b) - p < t * union).
    Candidates then verify with an exact intersection count.

    Scale shape: the global order is (document-frequency, hash) — NO
    global rank/window is needed, per-doc ``sort_array`` on (df, h)
    structs gives the same total order everywhere. The per-doc state
    (sorted shingle array + size) is materialized ONCE
    (localCheckpoint — it is O(corpus) like the input itself; a
    production run persists it to executor disk instead) and feeds all
    three consumers: both sides of the prefix join and the verify step —
    re-deriving it per consumer re-runs the tokenize+hash pipeline 4×
    (measured 13 s → 5 s at sf0.1). The prefix join shuffles only 8-byte
    hash keys + (doc_id, s); verification joins the CANDIDATE list (not
    the corpus) against the per-doc arrays and intersects in-memory per
    row. A size filter (``den*min >= num*max``, integer) drops
    length-incompatible candidates before distinct.
    Skew note: the rarest-first prefix order is itself the skew defense —
    hot shingles sort to the BACK of every doc and fall out of prefixes,
    so prefix-join key frequencies are bounded without dropping recall."""
    sh = (
        shingle_hashes(documents, id_col=id_col, text_col=text_col)
        .distinct()
    )
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ordered"),
            F.count("*").alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    # p = s - ceil(num*s/den) + 1, integer ceil-division (ANSI-safe longs)
    p = (
        F.col("s")
        - F.floor((F.col("s") * num + den - 1) / den).cast("long")
        + 1
    )
    pref = per_doc.select(
        "doc_id", "s", F.explode(F.slice("ordered", F.lit(1), p)).alias("e")
    ).select("doc_id", "s", F.col("e.h").alias("h"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.least(F.col("a.s"), F.col("b.s")) * den
            >= F.greatest(F.col("a.s"), F.col("b.s")) * num
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
        # r14 (guide §2.2): the candidate list is BYTES-tiny (16 B/row)
        # but each row's verify cost is an array_intersect over two
        # whole shingle arrays — AQE's size-based coalescing collapsed
        # the distinct's exchange to 2-3 partitions and the whole
        # verify stage ran on that many tasks. A keyed repartition gets
        # absorbed into the distinct's own (coalescible) exchange, so
        # pin the verify fan-out with an explicit-width ROUND-ROBIN
        # repartition: user-numbered, never absorbed, never coalesced.
        # Width = the session's deployment-tuned shuffle partitions;
        # the shuffled payload is only the 16-byte id pairs.
        .repartition(
            int(
                documents.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions"
                )
            )
        )
    )
    sets = per_doc.select(
        "doc_id",
        F.transform("ordered", lambda e: e["h"]).alias("hs"),
        "s",
    )
    inter = F.size(F.array_intersect("ca.hs", "cb.hs"))
    union = F.col("ca.s") + F.col("cb.s") - inter
    return (
        cand.join(sets.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(sets.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .filter(inter * den >= union * num)
        .select(
            "da",
            "db",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )


@register(
    "dedup_jaccard_prefix",
    sql=f"""
    WITH {_SHINGLE_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT da, db,
           ROUND(CAST(inter AS DOUBLE) / (ca.s + cb.s - inter), 4) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = da
    JOIN cnt cb ON cb.doc_id = db
    WHERE inter * {PFX_DEN} >= {PFX_NUM} * (ca.s + cb.s - inter)
    ORDER BY da, db
    """,
)
def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard near-dup join WITHOUT the document-frequency cap:
    prefix filtering (PPJoin's candidate rule) prunes the candidate space
    instead of dropping hot shingles, so the result is unconditionally
    exact — the DuckDB oracle is the brute-force all-shared-shingle
    formulation with NO `ok`/cap CTE, and agrees row-for-row.

    Same 0.5 threshold as dedup_ngram_jaccard, applied as an integer
    cross-multiplied compare in both engines (no float boundary). See
    :func:`prefix_filter_pairs` for the plan-shape / exactness argument.
    Reference tie: SURVEY §2.4's near-dup family; this is the exact
    member the cap-based and MinHash members approximate."""
    t = load_tables(spark, sf_dir)
    return prefix_filter_pairs(t.documents).orderBy("da", "db")


def semantic_dedup_incremental(
    spark,
    idx_path: str,
    new_embeddings: DataFrame,
    corpus: DataFrame,
    threshold: float = SEM_COS_T,
) -> DataFrame:
    """Daily-ingest SemDeDup against the PERSISTED IVF index (r13 — the
    incremental twin of :func:`semantic_dedup_ivf`, closing the loop
    with the r12 persisted index the way dedup_minhash_incremental
    closed it for MinHash): a NEW batch's near-duplicate decisions probe
    the maintained index — O(probed cells) per query, no refit, no
    batch×corpus join — and the kept docs append back in O(batch)
    (frozen centroids). Returns one row per new doc: (vec_id, nn_id,
    cos_sim, is_dup) — nn_id/cos_sim are the nearest INDEXED neighbor
    (NULL when the shortlist surfaces none), is_dup = cos ≥ threshold.

    Precision is 1 by construction (the probe's rerank is the exact
    bit-deterministic fold-cosine, shared with every ANN path); recall
    vs the exact batch×corpus decision is gated in tests/test_recall.py.
    The caller appends the kept docs (``append_to_index``) and commits —
    this function is pure so a crashed pipeline re-runs cleanly.

    r14: routes through :func:`probe_index_batch` — the daily batch's
    query vectors never touch the driver (r13 verdict's one weak
    component); cells are assigned executor-side and each probed cell
    cogroup scores only its own queries. The interactive
    :func:`probe_index` keeps its driver-collect shape for pinned-size
    query blocks."""
    from dp_dimension_importer_spark.operators.similarity import (
        probe_index_batch,
    )

    nn = probe_index_batch(spark, idx_path, new_embeddings, corpus, k=1)
    top1 = nn.filter(F.col("rk") == 1).select(
        F.col("vec_id"),
        "nn_id",
        "cos_sim",
        (F.col("cos_sim") >= F.lit(threshold)).alias("is_dup"),
    )
    return (
        new_embeddings.select("vec_id")
        .join(top1, "vec_id", "left_outer")
        .withColumn("is_dup", F.coalesce(F.col("is_dup"), F.lit(False)))
    )


@register("dedup_semantic_persisted")  # rows-only: recall-gated
def dedup_semantic_persisted(spark, sf_dir):
    """The full daily SemDeDup loop on the persisted index: build on the
    even half of the corpus, decide the odd half INCREMENTALLY
    (:func:`semantic_dedup_incremental` — probe, never a batch×corpus
    join), append the kept docs back against the frozen centroids, and
    assert the index grew by exactly the kept files' commit (manifest
    visibility — the r13 all-or-nothing append). Gated in
    tests/test_recall.py: flagged docs are TRUE duplicates (exact
    rerank), and the flag set recovers the exact decision's floor."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark.operators.similarity import (
        _idx_rels,
        append_to_index,
        build_ivf_index,
    )

    t = load_tables(spark, sf_dir)
    e = t.embeddings
    idx = tempfile.mkdtemp(prefix="semdedup_idx_")
    try:
        shutil.rmtree(idx)
        build_ivf_index(spark, e.filter("vec_id % 2 = 0"), idx)
        batch = e.filter("vec_id % 2 = 1")
        dec = semantic_dedup_incremental(
            spark, idx, batch, e
        ).localCheckpoint(eager=True)
        n_before = len(_idx_rels(idx))
        kept = batch.join(
            dec.filter(~F.col("is_dup")).select("vec_id"),
            "vec_id", "left_semi",
        )
        append_to_index(spark, kept, idx)
        assert len(_idx_rels(idx)) > n_before, "kept batch not committed"
        return (
            dec.select("vec_id", "is_dup", "nn_id")
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
