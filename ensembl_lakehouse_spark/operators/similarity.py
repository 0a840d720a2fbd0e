"""Similarity-search operators over ``embeddings`` (EXT X2).

The reference has no vector operations (its only value math is
delegated to Athena, app/main.py:479); these are the north-star
ANN operators for an LLM-data pipeline: exact brute-force cosine
top-k as the correctness baseline, and a random-hyperplane LSH
variant as the 100 TB scale path.

Scale design:

- **Brute force is the oracle; Catalyst makes it two-phase.** A
  `row_number() <= k` window compiles to WindowGroupLimit
  Partial→Exchange→Final: each task keeps a k-row heap map-side, so
  the one shuffle moves at most k·tasks·queries tiny rows,
  independent of corpus size (plan shape asserted in tests).
- **LSH prunes the scan.** Each vector gets L bucket keys (one per
  hash table, P hyperplane sign bits each); candidates are the
  equi-join of query buckets with corpus buckets — the corpus scan
  becomes an equi-join on a short string key that Catalyst hashes
  and (for a handful of queries) broadcasts. Recall is tunable with
  (L, P); exactness is restored per-candidate since real cosine is
  computed before ranking.
- **All math is JVM-side** higher-order functions in index order
  (functions/vectors.py) — bit-identical in DuckDB, no UDF, no
  Arrow hop. For ≥1k-dim vectors a Pandas-UDF + numpy dot would win
  on SIMD (see operators/multimodal.py for that pattern); at 64
  dims codegen wins.

Hyperplane weights are deterministic integers generated from
hashlib md5 in Python and interpolated into BOTH engines' plans —
no engine-side randomness, fully reproducible.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.functions.fixed import cents_sql, scaled_ratio_sql
from ensembl_lakehouse_spark.functions.vectors import sql_cosine, sql_norm
from ensembl_lakehouse_spark.sources.tables import load_spread, load_table, spread_scan

#: Number of query vectors: vec_id < N_QUERIES are queries, the rest corpus.
N_QUERIES = 5
#: Neighbors returned per query.
TOP_K = 10
#: Embedding dimensionality of the fixture table.
DIM = 64
#: LSH: L hash tables × P sign bits per bucket key. Tuned on the
#: fixture corpus, which is ISOTROPIC noise (max pairwise cosine
#: 0.51, mean ~0): true neighbors sit at ~70° vs ~90° for random
#: pairs, so the collision-probability gap (1-θ/π)^P is inherently
#: narrow and recall/pruning trade off steeply:
#:   L=8  P=4 → recall 0.66, candidates 2.4× pruned (chosen)
#:   L=16 P=4 → recall 0.84, 1.5× pruned
#:   L=8  P=5 → recall 0.46, 4.3× pruned
#: On a real embedding corpus (clustered, neighbors at cosine ≥0.8)
#: the same plan yields recall >0.95 at P=8 with 100×+ pruning —
#: the knobs are module constants precisely so deployments retune.
LSH_TABLES = 8
LSH_PLANES = 4


def _plane_weights() -> list[list[list[int]]]:
    """weights[table][plane][dim] ∈ [-1000, 1000], md5-derived."""
    out = []
    for t in range(LSH_TABLES):
        planes = []
        for p in range(LSH_PLANES):
            row = []
            for d in range(DIM):
                h = int(hashlib.md5(f"hp|{t}|{p}|{d}".encode()).hexdigest()[:8], 16)
                row.append(h % 2001 - 1000)
            planes.append(row)
        out.append(planes)
    return out


PLANES = _plane_weights()


def _dot_expr(x: str, y: str) -> str:
    return (
        f"aggregate(zip_with({x}, {y}, "
        f"(p, q) -> cast(p AS double) * cast(q AS double)), "
        f"cast(0 AS double), (acc, v) -> acc + v)"
    )


def _cosine_expr(a: str, b: str) -> str:
    """Index-ordered cosine (Spark SQL text; functions/vectors.py
    Column twin; both mirror sql_cosine's DuckDB text)."""
    return f"({_dot_expr(a, b)} / (sqrt({_dot_expr(a, a)}) * sqrt({_dot_expr(b, b)})))"


def _norm_expr(v: str) -> str:
    """L2 norm, the exact subtree sqrt(dot(v, v)) from _cosine_expr —
    precomputing it per VECTOR instead of per PAIR drops two of the
    three array aggregates from every candidate evaluation with
    bit-identical results (same values through the same sqrt), so
    the DuckDB oracle text needs no change."""
    return f"sqrt({_dot_expr(v, v)})"


def _split(
    spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES
) -> tuple[DataFrame, DataFrame]:
    """(queries, corpus), each carrying its precomputed L2 norm —
    one map-side aggregate per vector instead of one per scored
    pair (see _norm_expr; bit-identical to the inline form).

    Only the CORPUS side is spread (guide §2.5): queries filter to
    ``n_queries`` rows and feed a broadcast, where a spread exchange
    is pure overhead; the corpus side carries the per-pair cosine
    map work that the spread parallelizes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(_norm_expr("embedding")).alias("q_nrm"),
    )
    corpus = (
        spread_scan(emb, spark, sf_dir, "embeddings", "vec_id")
        .where(F.col("vec_id") >= n_queries)
        .withColumn("c_nrm", F.expr(_norm_expr("embedding")))
    )
    return queries, corpus


#: Pairwise cosine from precomputed norms (Spark side only; the
#: DuckDB twin keeps the inline form — same values, same bits).
_PAIR_COSINE = f"{_dot_expr('q_vec', 'embedding')} / (q_nrm * c_nrm)"


def similarity_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_queries: int = N_QUERIES,
    topk: int = TOP_K,
    split: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each of the first ``n_queries`` query
    vectors, the ``topk`` nearest corpus vectors (cosine DESC,
    vec_id ASC). Defaults are the oracle-pinned demo constants;
    per-request overrides arrive through service/params.py.

    Deliberately the *declarative* single-window form: Spark ≥3.5
    rewrites `rank <= k` windows into a two-phase WindowGroupLimit —
    the executed plan (asserted in tests/test_dedup_similarity.py)
    keeps a k-row heap per task BEFORE the exchange, so the shuffle
    moves O(k · tasks · queries) rows, not the scored corpus. A
    hand-rolled partition-id pre-top-k (tried first) produced the
    same result with one extra shuffle — the "let Catalyst optimize"
    rule, measured.

    ``split`` lets a composing audit (ann_recall_audit) pass ONE
    shared (queries, corpus) lattice to all three retrieval arms —
    same rows as the internal ``_split``, so results are unchanged.
    """
    queries, corpus = split or _split(spark, sf_dir, n_queries)
    return (
        corpus.crossJoin(F.broadcast(queries))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
        .withColumn(
            "rank",
            F.expr("row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC)"),
        )
        .where(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "label", "cosine")
    )


SIMILARITY_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT q.q_id, c.vec_id, c.label,
         {sql_cosine("q.q_vec", "c.embedding")} AS cosine
  FROM c CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, rank, vec_id, label, cosine FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# LSH-bucketed variant
# ---------------------------------------------------------------------------

def _bucket_expr(vec: str) -> str:
    """Array of LSH_TABLES bucket keys (P-char '0'/'1' strings) for a
    vector expression. Weights are integer literals, so each bit is
    ~DIM multiply-adds inside codegen; sign threshold at 0 (double
    comparison, identical IEEE semantics in DuckDB)."""
    keys = []
    for t in range(LSH_TABLES):
        bits = []
        for p in range(LSH_PLANES):
            w = ", ".join(str(x) for x in PLANES[t][p])
            dot = (
                f"aggregate(zip_with({vec}, array({w}), "
                f"(v, h) -> cast(v AS double) * h), cast(0 AS double), (a, x) -> a + x)"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        keys.append("concat(" + ", ".join(bits) + ")")
    return "array(" + ", ".join(keys) + ")"


def _duck_bucket(vec: str) -> str:
    keys = []
    for t in range(LSH_TABLES):
        bits = []
        for p in range(LSH_PLANES):
            w = ", ".join(str(x) for x in PLANES[t][p])
            dot = (
                f"list_reduce(list_concat([CAST(0 AS DOUBLE)], "
                f"list_transform(range(1, len({vec})+1), "
                f"i -> {vec}[i]::DOUBLE * ([{w}])[i])), (a, x) -> a + x)"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        keys.append("concat(" + ", ".join(bits) + ")")
    return "[" + ", ".join(keys) + "]"


def similarity_lsh(
    spark: SparkSession,
    sf_dir: str,
    *,
    split: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: candidates are corpus
    vectors sharing ≥1 of LSH_TABLES bucket keys with the query;
    exact cosine then ranks the candidates (cosine DESC, vec_id ASC,
    top TOP_K). Recall vs the exact operator is asserted in
    tests/test_dedup_similarity.py; the driver oracle checks this plan's
    own (deterministic) output.

    Scale: the corpus is scanned once to emit L short bucket keys
    per vector; candidate generation is an equi-join on
    (table_idx, bucket) against the broadcast query buckets —
    no cross join, no global sort; the only full shuffle-free path.
    (``split`` as in similarity_topk.)
    """
    queries, corpus = split or _split(spark, sf_dir)
    qb = queries.select(
        "q_id",
        "q_vec",
        "q_nrm",
        F.posexplode(F.expr(_bucket_expr("q_vec"))).alias("t_idx", "bucket"),
    )
    cb = corpus.select(
        "vec_id",
        "label",
        "embedding",
        "c_nrm",
        F.posexplode(F.expr(_bucket_expr("embedding"))).alias("t_idx", "bucket"),
    )
    cand = (
        cb.join(F.broadcast(qb), on=["t_idx", "bucket"])
        .select("q_id", "q_vec", "q_nrm", "vec_id", "label", "embedding", "c_nrm")
        .distinct()
    )
    return (
        cand.withColumn("cosine", F.expr(_PAIR_COSINE))
        .withColumn(
            "rank",
            F.expr("row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC)"),
        )
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "vec_id", "label", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF variant
# ---------------------------------------------------------------------------

#: IVF coarse quantizer: corpus vectors whose id satisfies this
#: modulus become the cell centroids (deterministic, data-dependent
#: like a trained quantizer, no RNG). ~13 cells at the fixture SF.
IVF_CENTROID_MOD = 37
IVF_CENTROID_REM = 7
#: Cells probed per query.
IVF_NPROBE = 4


def _assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    n_keep: int,
    vec_col: str,
    id_col: str,
    nrm_col: str,
) -> DataFrame:
    """Nearest-centroid assignment: rank centroids per vector by
    cosine (DESC, centroid_id ASC) and keep the top n_keep. Both
    sides carry precomputed norms, so scoring is one dot per
    (vector, centroid)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "c_cos",
        F.expr(f"{_dot_expr(vec_col, 'c_vec')} / ({nrm_col} * cent_nrm)"),
    )
    return scored.withColumn(
        "c_rank",
        F.expr(
            f"row_number() OVER (PARTITION BY {id_col} ORDER BY c_cos DESC, c_id ASC)"
        ),
    ).where(F.col("c_rank") <= n_keep)


def similarity_ivf(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_probe: int = IVF_NPROBE,
    topk: int = TOP_K,
    split: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) coarse quantizer:
    corpus vectors are assigned to their nearest centroid cell;
    each query probes its ``n_probe`` nearest cells and ranks only
    those cells' members by exact cosine (defaults oracle-pinned;
    service/params.py carries per-request overrides — n_probe is
    THE recall/latency knob IVF serving tunes).

    Scale: this is the architecture FAISS/Milvus deploy at
    billion-vector scale — assignment is a map-side broadcast
    cross with |centroids| dot products per row (centroids ≪
    corpus, always broadcastable: real deployments use √N cells),
    and the probe join is an equi-join on cell id, so the per-query
    scan is corpus/|cells|·nprobe instead of corpus. Recall depends
    on neighbors landing in probed cells — measured against the
    exact baseline in tests (isotropic-fixture caveat as for LSH).
    (``split`` as in similarity_topk.)
    """
    queries, corpus = split or _split(spark, sf_dir)
    centroids = (
        corpus.where(
            (F.col("vec_id") % IVF_CENTROID_MOD) == IVF_CENTROID_REM
        ).select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"),
            F.col("c_nrm").alias("cent_nrm"),
        )
    )
    assigned = _assign_cells(
        corpus.select("vec_id", "label", "embedding", "c_nrm"),
        centroids, 1, "embedding", "vec_id", "c_nrm",
    ).select("vec_id", "label", "embedding", "c_nrm", F.col("c_id").alias("cell"))
    probes = _assign_cells(
        queries, centroids, n_probe, "q_vec", "q_id", "q_nrm"
    ).select("q_id", "q_vec", "q_nrm", F.col("c_id").alias("cell"))
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "q_id", "q_vec", "q_nrm", "vec_id", "label", "embedding", "c_nrm"
    )
    return (
        cand.withColumn("cosine", F.expr(_PAIR_COSINE))
        .withColumn(
            "rank",
            F.expr("row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC)"),
        )
        .where(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "label", "cosine")
    )


SIMILARITY_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}
), cent AS (
  SELECT vec_id AS c_id, embedding AS c_vec FROM c
  WHERE vec_id % {IVF_CENTROID_MOD} = {IVF_CENTROID_REM}
), assigned AS (
  SELECT vec_id, label, embedding, c_id AS cell FROM (
    SELECT c.vec_id, c.label, c.embedding, cent.c_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {sql_cosine("c.embedding", "cent.c_vec")} DESC, cent.c_id ASC) AS rk
    FROM c CROSS JOIN cent)
  WHERE rk = 1
), probes AS (
  SELECT q_id, q_vec, c_id AS cell FROM (
    SELECT q.q_id, q.q_vec, cent.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY {sql_cosine("q.q_vec", "cent.c_vec")} DESC, cent.c_id ASC) AS rk
    FROM q CROSS JOIN cent)
  WHERE rk <= {IVF_NPROBE}
), cand AS (
  SELECT p.q_id, p.q_vec, a.vec_id, a.label, a.embedding
  FROM assigned a JOIN probes p ON a.cell = p.cell
), ranked AS (
  SELECT q_id, vec_id, label,
         {sql_cosine("q_vec", "embedding")} AS cosine,
         row_number() OVER (PARTITION BY q_id
           ORDER BY {sql_cosine("q_vec", "embedding")} DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT q_id, rank, vec_id, label, cosine FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (the X1/X2 bridge)
# ---------------------------------------------------------------------------

#: Cosine threshold for embedding near-duplicates. The fixture
#: corpus is isotropic (max pairwise cosine 0.51), so the threshold
#: is set where the fixture HAS structure; a real embedding corpus
#: would use ~0.95.
EMBED_DUP_THRESHOLD = 0.45


def dedup_embedding(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float = EMBED_DUP_THRESHOLD,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidate pairs from
    shared LSH buckets (never all-pairs), verified with exact
    cosine ≥ ``threshold`` (default oracle-pinned; per-request
    overrides via service/params.py — the verify gate only, bucket
    geometry and thus candidate recall stay fixed). Same banded-LSH shape as the text
    MinHash dedup, in vector space; at production thresholds
    (≥0.95) the bucket keys get longer (P up) and the candidate set
    collapses to near-misses only.
    """
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id")
    # Buckets carry ONLY the id: the candidate-pair distinct must
    # shuffle 16-byte id pairs, not 2×64-float vectors — measured
    # 31 s → ~3 s at sf0.1 when the vectors ride through the
    # distinct. Embeddings are joined back per side afterwards,
    # exactly like dedup_near re-joins shingle sets.
    # NOT checkpointed (r11 A/B): materializing the bucket lattice and
    # the norm-carrying vectors measured 0.67 s -> 2.6-3.3 s at sf0.1
    # — the two extra scans are cheaper than serializing the vector
    # arrays to block storage, and the spread exchange already
    # parallelizes the HOF map work.
    buckets = emb.select(
        "vec_id",
        F.posexplode(F.expr(_bucket_expr("embedding"))).alias("t_idx", "bucket"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.t_idx") == F.col("b.t_idx"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # Norms once per vector (map-side), not once per pair: the
    # verify stage then does ONE 64-dim aggregate per candidate
    # instead of three. Same bits — see _norm_expr.
    withn = emb.withColumn("nrm", F.expr(_norm_expr("embedding")))
    ea = withn.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = withn.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", F.expr(f"{_dot_expr('emb_a', 'emb_b')} / (nrm_a * nrm_b)"))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


DEDUP_EMBEDDING_SQL = f"""
WITH bk AS (
  SELECT vec_id, embedding,
         unnest(list_transform(range(0, {LSH_TABLES}),
           t -> {{'t_idx': t, 'bucket': {_duck_bucket("embedding")}[t + 1]}}),
           recursive := true)
  FROM embeddings
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  a.embedding AS emb_a, b.embedding AS emb_b
  FROM bk a JOIN bk b ON a.t_idx = b.t_idx AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {sql_cosine("emb_a", "emb_b")} AS cosine
FROM pairs
WHERE {sql_cosine("emb_a", "emb_b")} >= {EMBED_DUP_THRESHOLD}
"""


SIMILARITY_LSH_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}
), qb AS (
  SELECT q_id, q_vec,
         unnest(list_transform(range(0, {LSH_TABLES}),
           t -> {{'t_idx': t, 'bucket': {_duck_bucket("q_vec")}[t + 1]}}),
           recursive := true)
  FROM q
), cb AS (
  SELECT vec_id, label, embedding,
         unnest(list_transform(range(0, {LSH_TABLES}),
           t -> {{'t_idx': t, 'bucket': {_duck_bucket("embedding")}[t + 1]}}),
           recursive := true)
  FROM c
), cand AS (
  SELECT DISTINCT qb.q_id, qb.q_vec, cb.vec_id, cb.label, cb.embedding
  FROM cb JOIN qb ON cb.t_idx = qb.t_idx AND cb.bucket = qb.bucket
), ranked AS (
  SELECT q_id, vec_id, label,
         {sql_cosine("q_vec", "embedding")} AS cosine,
         row_number() OVER (PARTITION BY q_id
           ORDER BY {sql_cosine("q_vec", "embedding")} DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT q_id, rank, vec_id, label, cosine FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via within-cluster cosine
# ---------------------------------------------------------------------------

#: Within-cell cosine bar for a semantic duplicate. The fixture
#: corpus is isotropic (max pairwise cosine ~0.51), so the bar sits
#: where the fixture HAS structure; a production embedding corpus
#: (clustered, duplicates at cosine >= 0.95) would raise it.
SEMANTIC_THRESHOLD = 0.30


def dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float = SEMANTIC_THRESHOLD,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding space coarsely, then mark a vector a duplicate if
    some LOWER-id member of its own cluster sits above ``threshold``
    cosine (default oracle-pinned; service/params.py overrides) — keep-lowest-id, the same canonical-
    representative convention as dedup_exact.

    Emits every vector with its cell, the max cosine to any
    lower-id cellmate (NULL for the cell's first member), and the
    dup verdict — the auditable form: ``WHERE NOT is_semantic_dup``
    applies the dedup, and the cosine column says how close each
    drop was to the bar.

    Scale (the SemDeDup design point): pairwise comparison happens
    ONLY within a cell. Assignment is a map-side broadcast cross
    with |centroids| dots per row (centroids ~ sqrt(N), always
    broadcastable — same scheme as similarity_ivf); the intra-cell
    self-join is an equi-join on cell id whose fan-out is quadratic
    only in the cell size, which concentration keeps near N/k. The
    paper runs exactly this at 5B-embedding scale with k-means
    cells; the deterministic mod-sampled centroids here stand in
    for trained ones so both engines walk the identical partition
    (swap in k-means centroids at deployment — the plan shape is
    unchanged).

    Reference has no vector surface (app/main.py:479); EXT X1/X2.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.16 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", F.expr(_norm_expr("embedding"))
    )
    centroids = emb.where(
        (F.col("vec_id") % IVF_CENTROID_MOD) == IVF_CENTROID_REM
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("cent_nrm"),
    )
    # Consumed by three branches (both self-join sides + the final
    # left join): materialize the assignment once, same reasoning
    # as the bands checkpoint in dedup._near_pipeline.
    assigned = (
        _assign_cells(
            emb.select("vec_id", "embedding", "nrm"),
            centroids, 1, "embedding", "vec_id", "nrm",
        )
        .select("vec_id", "embedding", "nrm", F.col("c_id").alias("cell"))
        .localCheckpoint()
    )
    a = assigned.select(
        "cell", F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    best = (
        a.join(b, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine", F.expr(f"{_dot_expr('emb_a', 'emb_b')} / (nrm_a * nrm_b)")
        )
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.max("cosine").alias("max_lower_cos"))
    )
    return assigned.join(best, "vec_id", "left").select(
        "vec_id",
        "cell",
        "max_lower_cos",
        F.coalesce(
            F.col("max_lower_cos") >= threshold, F.lit(False)
        ).alias("is_semantic_dup"),
    )


DEDUP_SEMANTIC_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, embedding AS c_vec FROM e
  WHERE vec_id % {IVF_CENTROID_MOD} = {IVF_CENTROID_REM}
), assigned AS (
  SELECT vec_id, embedding, c_id AS cell FROM (
    SELECT e.vec_id, e.embedding, cent.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {sql_cosine("e.embedding", "cent.c_vec")} DESC, cent.c_id ASC) AS rk
    FROM e CROSS JOIN cent)
  WHERE rk = 1
), best AS (
  SELECT b.vec_id, max({sql_cosine("a.embedding", "b.embedding")}) AS max_lower_cos
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell, bst.max_lower_cos,
       coalesce(bst.max_lower_cos >= {SEMANTIC_THRESHOLD}, false) AS is_semantic_dup
FROM assigned s LEFT JOIN best bst ON s.vec_id = bst.vec_id
"""


# ---------------------------------------------------------------------------
# Embedding outliers: distance-to-centroid quality gate
# ---------------------------------------------------------------------------

#: Most-atypical vectors reported per label.
OUTLIER_K = 10


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the OUTLIER_K vectors LEAST
    cosine-similar to their own label's centroid — the curation
    gate that surfaces mislabeled / off-distribution samples before
    training (and the per-cluster 'keep the outliers, drop the
    core' variant SemDeDup-style pruning uses).

    The centroid is the per-(label, dim) sum of FP_SCALE fixed-point
    components (multimodal_centroid's determinism trick: BIGINT sums
    are partition-order invariant, so both engines build bit-equal
    centroids). Cosine is scale-invariant, so the SUM vector stands
    in for the mean without the count division.

    Plan: posexplode -> partial agg on (label, dim) (|labels|*64
    groups, map-side combine does the heavy lifting) -> assemble the
    centroid array via sorted collect_list -> broadcast the
    |labels|-row centroid table back -> map-side cosine -> per-label
    bottom-k window (WindowGroupLimit keeps a k-row heap per task
    before the exchange). At 100 TB the only full-data shuffle is
    the (label, dim) partial agg, already reduced to tiny rows.
    """
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.43 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    cen = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .withColumn("x_fp", F.floor(F.col("x").cast("double") * FP_SCALE))
        .groupBy("label", "dim")
        .agg(F.sum("x_fp").alias("s"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, s))), p -> p.s)"
            ).alias("c_vec")
        )
    )
    scored = emb.join(F.broadcast(cen), "label").withColumn(
        "cos_centroid", F.expr(_cosine_expr("embedding", "c_vec"))
    )
    return (
        scored.withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY label "
                "ORDER BY cos_centroid ASC, vec_id ASC)"
            ),
        )
        .where(F.col("rank") <= OUTLIER_K)
        .select("label", "rank", "vec_id", "cos_centroid")
    )


def _outliers_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT label, u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT label,
           unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), sums AS (
  SELECT label, dim, CAST(sum(x_fp) AS BIGINT) AS s FROM x GROUP BY label, dim
), cen AS (
  SELECT label, list(s ORDER BY dim) AS c_vec FROM sums GROUP BY label
), scored AS (
  SELECT e.label, e.vec_id,
         {sql_cosine("e.embedding", "cen.c_vec")} AS cos_centroid
  FROM embeddings e JOIN cen ON e.label = cen.label
)
SELECT label, rank, vec_id, cos_centroid FROM (
  SELECT label, vec_id, cos_centroid,
         row_number() OVER (PARTITION BY label
           ORDER BY cos_centroid ASC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {OUTLIER_K}
"""


EMBEDDING_OUTLIERS_SQL = _outliers_sql()


#: Fixed-point scale for the norm-mass sum in the audit below.
NORM_FP = 1_000_000_000


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health report: one row with vector count,
    distinct dimensionalities (anything but 1 means a broken
    ingest), zero-vector count (cosine is undefined on them — every
    similarity operator upstream assumes none), norm extremes, and
    the fixed-point norm mass/mean — the sanity gate a vector
    pipeline runs BEFORE building indexes on a new embedding drop.

    Map-only per-vector signals into ONE 1-row aggregate; min/max
    are order-independent and the mean rides the usual per-row
    fixed-point rounding, so the row is bit-stable cross-engine.
    """
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.expr(_norm_expr("embedding")).alias("nrm"),
    )
    return emb.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("dim").alias("n_distinct_dims"),
        F.sum((F.col("nrm") == 0.0).cast("bigint")).alias("n_zero_vectors"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        F.sum(
            F.expr(cents_sql(f"nrm * CAST({NORM_FP} AS DOUBLE)", 1))
        ).alias("norm_mass_fp"),
    ).withColumn(
        "mean_norm",
        F.expr(
            f"CAST(norm_mass_fp AS DOUBLE) / CAST({NORM_FP} AS DOUBLE)"
            f" / n_vectors"
        ),
    )


EMBEDDING_NORM_AUDIT_SQL = f"""
WITH e AS (
  SELECT vec_id, len(embedding) AS dim,
         {sql_norm("embedding")} AS nrm
  FROM embeddings
)
SELECT COUNT(*) AS n_vectors,
       COUNT(DISTINCT dim) AS n_distinct_dims,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
       MIN(nrm) AS min_norm,
       MAX(nrm) AS max_norm,
       CAST(SUM(CAST(floor(nrm * CAST({NORM_FP} AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS norm_mass_fp,
       CAST(SUM(CAST(floor(nrm * CAST({NORM_FP} AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
         / CAST({NORM_FP} AS DOUBLE) / COUNT(*) AS mean_norm
FROM e
"""


# ---------------------------------------------------------------------------
# Nearest-neighbor margin audit (round 5)
# ---------------------------------------------------------------------------

def embedding_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query nearest-neighbor confidence margin: for each query
    vector, its top-1 and top-2 corpus cosines and their difference —
    the retrieval-confidence diagnostic (a small margin means the
    labeling/dedup decision downstream is a coin flip; margin
    distributions are how ANN pipelines pick "trust the top-1"
    thresholds).

    Same scored lattice as similarity_topk (broadcast queries, one
    WindowGroupLimit window keeping 2 rows per query before the
    exchange); the top-2 pivot is a conditional MAX over exactly two
    rows per query. Every cosine is a per-pair map-side double (no
    cross-row float accumulation), and top-1/top-2 selection is a
    total order (cosine DESC, vec_id ASC), so the margins are
    bit-stable cross-engine.
    """
    queries, corpus = _split(spark, sf_dir)
    ranked = (
        corpus.crossJoin(F.broadcast(queries))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
        .withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY q_id "
                "ORDER BY cosine DESC, vec_id ASC)"
            ),
        )
        .where(F.col("rank") <= 2)
    )
    return (
        ranked.groupBy("q_id")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("vec_id"))).alias("top1_id"),
            F.max(F.when(F.col("rank") == 1, F.col("cosine"))).alias("cos1"),
            F.max(F.when(F.col("rank") == 2, F.col("vec_id"))).alias("top2_id"),
            F.max(F.when(F.col("rank") == 2, F.col("cosine"))).alias("cos2"),
        )
        .withColumn("margin", F.expr("cos1 - cos2"))
        .orderBy("q_id")
    )


EMBEDDING_MARGIN_AUDIT_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT q.q_id, c.vec_id,
         {sql_cosine("q.q_vec", "c.embedding")} AS cosine
  FROM c CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id,
       MAX(CASE WHEN rank = 1 THEN vec_id END) AS top1_id,
       MAX(CASE WHEN rank = 1 THEN cosine END) AS cos1,
       MAX(CASE WHEN rank = 2 THEN vec_id END) AS top2_id,
       MAX(CASE WHEN rank = 2 THEN cosine END) AS cos2,
       MAX(CASE WHEN rank = 1 THEN cosine END)
         - MAX(CASE WHEN rank = 2 THEN cosine END) AS margin
FROM ranked WHERE rank <= 2
GROUP BY q_id
ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# Scalar-quantization error audit (round 5 cont.)
# ---------------------------------------------------------------------------

#: Fixed-point scale for squared reconstruction errors (pico-units).
QUANT_ERR_FP = 1_000_000_000_000

#: Shared per-element expression templates — one string, two engines,
#: so the arithmetic trees cannot drift (oracle-determinism rule).
_QUANT_Q = (
    "CAST(floor(CAST({x} AS DOUBLE) * CAST(127 AS DOUBLE) / maxabs"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_QUANT_ERR2_FP = (
    "CAST(floor((CAST({x} AS DOUBLE) - CAST({q} AS DOUBLE) * maxabs"
    f" / CAST(127 AS DOUBLE)) * (CAST({{x}} AS DOUBLE)"
    " - CAST({q} AS DOUBLE) * maxabs / CAST(127 AS DOUBLE))"
    f" * CAST({QUANT_ERR_FP} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def embedding_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit: symmetrically quantize every
    embedding to 8 bits (q = round(x·127/max|x|)), reconstruct, and
    report per-label squared-error mass — the go/no-go report before
    shipping a quantized ANN index (PQ's cheaper cousin; similarity
    search teams run exactly this table when choosing int8 vs fp16).

    Zero vectors are excluded (scale undefined — counted by
    embedding_norm_audit). Per-element squared errors are rounded to
    fixed-point BIGINT before ANY sum, and the float steps (widen,
    scale, reconstruct) share one expression template across
    engines, so the whole audit is bit-stable.

    Plan: map-only per-element math (explode carries no shuffle);
    the ONE exchange is the |labels|-row aggregate.
    """
    q = _QUANT_Q.format(x="x")
    err2 = _QUANT_ERR2_FP.format(x="x", q=q)
    emb = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.12 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "maxabs",
            F.expr(
                "array_max(transform(embedding,"
                " x -> abs(CAST(x AS DOUBLE))))"
            ),
        )
        .where("maxabs > 0")
        .select(
            "label", "maxabs", F.explode("embedding").alias("x")
        )
        .select(
            "label",
            F.expr(f"abs({q})").alias("absq"),
            F.expr(err2).alias("err2_fp"),
        )
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            F.sum("err2_fp").alias("err_mass_fp"),
            F.max("absq").alias("max_abs_q"),
        )
        .withColumn("mean_err_fp", F.expr("err_mass_fp DIV n_elems"))
        .select("label", "n_elems", "err_mass_fp", "mean_err_fp", "max_abs_q")
        .orderBy("label")
    )


def _quant_error_sql() -> str:
    q = _QUANT_Q.format(x="x")
    err2 = _QUANT_ERR2_FP.format(x="x", q=q)
    return f"""
WITH vecs AS (
  SELECT label, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
), elems AS (
  SELECT label, maxabs, unnest(embedding) AS x
  FROM vecs WHERE maxabs > 0
), scored AS (
  SELECT label, abs({q}) AS absq, {err2} AS err2_fp FROM elems
)
SELECT label, COUNT(*) AS n_elems,
       CAST(SUM(err2_fp) AS BIGINT) AS err_mass_fp,
       CAST(CAST(SUM(err2_fp) AS BIGINT) // COUNT(*) AS BIGINT)
         AS mean_err_fp,
       MAX(absq) AS max_abs_q
FROM scored
GROUP BY label
ORDER BY label
"""


EMBEDDING_QUANT_ERROR_SQL = _quant_error_sql()


# ---------------------------------------------------------------------------
# Label-centroid separation (round 6)
# ---------------------------------------------------------------------------


def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability audit: for every label pair (a < b), the
    dot product of the two label centroids in fixed point — near-
    parallel centroids say the embedding does not separate those
    classes (a classifier trained on it will confuse them).

    Integer-exact across engines at ANY corpus size: per-(label,
    dim) sums of FP_SCALE fixed-point components, per-dim centroid
    means by integer DIV (so the per-dim term is bounded by
    FP_SCALE² regardless of n — no overflow as counts grow), then
    the pair dot as a 64-dim integer sum. The pair join runs on the
    |labels|·64 centroid relation — broadcast-sized by construction.
    """
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.44 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .withColumn(
            "x_fp", F.floor(F.col("x").cast("double") * FP_SCALE)
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x_fp").cast("long").alias("sum_fp"),
        )
        .withColumn("mean_fp", F.expr("sum_fp DIV n"))
        .select("label", "dim", "n", "mean_fp")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("n").alias("n_a"),
        F.col("mean_fp").alias("mean_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("n").alias("n_b"),
        F.col("mean_fp").alias("mean_b"),
    )
    return (
        a.join(F.broadcast(b), on="dim")
        .where("label_a < label_b")
        .groupBy("label_a", "label_b")
        .agg(
            F.min("n_a").cast("long").alias("n_a"),
            F.min("n_b").cast("long").alias("n_b"),
            F.sum(F.expr("mean_a * mean_b")).cast("long").alias("dot_fp2"),
        )
        .orderBy("label_a", "label_b")
    )


def _label_centroid_separation_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT label, u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT label,
           unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_fp
  FROM x GROUP BY label, dim
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(MIN(a.n) AS BIGINT) AS n_a,
       CAST(MIN(b.n) AS BIGINT) AS n_b,
       CAST(SUM(a.mean_fp * b.mean_fp) AS BIGINT) AS dot_fp2
FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
GROUP BY a.label, b.label
ORDER BY label_a, label_b
"""


LABEL_CENTROID_SEPARATION_SQL = _label_centroid_separation_sql()


# ---------------------------------------------------------------------------
# Per-dimension distribution audit (round 6)
# ---------------------------------------------------------------------------


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health audit over the whole embedding corpus:
    count, fixed-point mean, and fixed-point variance — a dead or
    exploding dimension (variance ≈ 0 or ≫ its peers) means the
    encoder or the quantizer is broken for that coordinate.

    Variance is E[x²] − E[x]² on an integer lattice: per-row
    ``x2_fp = (x_fp · x_fp) DIV FP_SCALE`` BEFORE the sum (bounded
    by FP_SCALE per row, so the corpus sum stays far from int64 at
    any row count), means by integer DIV — order-invariant and
    engine-exact. One partial agg to |dims| rows; map-only above it.
    """
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.26 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .withColumn("x_fp", F.floor(F.col("x").cast("double") * FP_SCALE))
        .withColumn("x2_fp", F.expr(f"(x_fp * x_fp) DIV {FP_SCALE}"))
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x_fp").cast("long").alias("sum_fp"),
            F.sum("x2_fp").cast("long").alias("sum2_fp"),
        )
        .withColumn("mean_fp", F.expr("sum_fp DIV n"))
        .withColumn(
            "var_fp",
            F.expr(
                f"sum2_fp DIV n - (mean_fp * mean_fp) DIV {FP_SCALE}"
            ),
        )
        .select("dim", "n", "mean_fp", "var_fp")
        .orderBy("dim")
    )


def _embedding_dim_stats_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), fp AS (
  SELECT dim, x_fp, (x_fp * x_fp) // {FP_SCALE} AS x2_fp FROM x
), agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) AS sum_fp,
         CAST(SUM(x2_fp) AS BIGINT) AS sum2_fp
  FROM fp GROUP BY dim
)
SELECT dim, n,
       sum_fp // n AS mean_fp,
       sum2_fp // n - ((sum_fp // n) * (sum_fp // n)) // {FP_SCALE}
         AS var_fp
FROM agg
ORDER BY dim
"""


EMBEDDING_DIM_STATS_SQL = _embedding_dim_stats_sql()


# ---------------------------------------------------------------------------
# Hubness audit (in-degree distribution of the kNN graph)
# ---------------------------------------------------------------------------

#: Deterministic audit panel (vec_id < HUB_PANEL) and neighbor count.
#: 512 vectors = 262k scored pairs — the in-degree histogram is
#: statistically indistinguishable from the 1024 panel's (checked)
#: at a quarter of the cost; the panel is the knob if more
#: resolution is ever needed.
HUB_PANEL = 512
HUB_K = 5


def embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: build the exact
    k=HUB_K cosine kNN graph over a fixed panel and report the
    distribution of kNN *in-degree* — how often each vector shows up
    in someone else's top-k. A healthy space has in-degrees
    concentrated near k; high-dimensional degeneracy ("hub" vectors
    that are everyone's neighbor — the classic curse-of-
    dimensionality failure, Radovanović et al. JMLR'10) shows up as
    a heavy right tail, and it silently corrupts both kNN dedup
    (hubs glue unrelated docs into one cluster) and ANN recall
    (hubs crowd true neighbors out of candidate lists). This is the
    one-number-per-bucket screen to run BEFORE trusting
    dedup_embedding / similarity_* on a new embedding model.

    The panel is the deterministic vec_id < HUB_PANEL prefix (the
    ann_recall_audit sampling convention): hubness is a property of
    the space, so a fixed-size panel estimates it at any corpus
    scale while keeping the audit O(panel²), never O(corpus²).

    Exactness: per-pair cosines only (no float accumulation across
    rows); the top-k total order is (cosine DESC, vec_id ASC); all
    reported quantities are integer counts of that deterministic
    graph. Zero-in-degree vectors are reported via an anti-join
    (never-a-neighbor is itself a signal — orphaned vectors).

    Plan: one broadcast self-join scores panel² pairs map-side; the
    per-query WindowGroupLimit keeps k rows per task before the one
    window exchange; the in-degree agg and |distinct in-degrees|
    histogram agg run on ≤ panel·k rows.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < HUB_PANEL
    )
    left = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(_norm_expr("embedding")).alias("q_nrm"),
    )
    # The probe side carries the panel² cosine evaluation — the
    # dominant stage (HUB_PANEL² pairs × dim HOF ops). On the
    # single-row-group fixture file it runs as ONE task; conditional
    # vec_id spread (guide §2.5) fans it to every core (with the
    # single-evaluation join below: 3.05 s → 0.84 s at sf0.1; no-op
    # on a multi-row-group layout). Only this side is spread:
    # `left` feeds a broadcast.
    right = spread_scan(emb, spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "embedding",
        F.expr(_norm_expr("embedding")).alias("c_nrm"),
    )
    knn = (
        right.crossJoin(F.broadcast(left))
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
        .withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY q_id "
                "ORDER BY cosine DESC, vec_id ASC)"
            ),
        )
        .where(F.col("rank") <= HUB_K)
    )
    indeg = knn.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    # Zero-in-degree vectors via LEFT JOIN + coalesce(0) instead of
    # the former union(indeg, anti-join): the anti-join referenced
    # ``indeg`` a second time and Spark re-executed the ENTIRE
    # panel² scoring subtree per reference (the r11 executed plan
    # ran the BNLJ+window twice). One panel-row left join against
    # the broadcast ≤panel-row indeg yields the identical in_deg
    # multiset — every panel vector exactly once, 0 when absent —
    # with the expensive subtree evaluated ONCE.
    return (
        emb.select("vec_id")
        .join(F.broadcast(indeg), "vec_id", "left")
        .select(
            F.coalesce(F.col("in_deg"), F.lit(0).cast("long")).alias("in_deg")
        )
        .groupBy("in_deg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("in_deg")
    )


EMBEDDING_HUBNESS_SQL = f"""
WITH panel AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {HUB_PANEL}
), scored AS (
  SELECT c.vec_id, q.vec_id AS q_id,
         {sql_cosine("q.embedding", "c.embedding")} AS cosine
  FROM panel c CROSS JOIN panel q
  WHERE c.vec_id <> q.vec_id
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
), indeg AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS in_deg
  FROM ranked WHERE rank <= {HUB_K}
  GROUP BY vec_id
), all_deg AS (
  SELECT in_deg FROM indeg
  UNION ALL
  SELECT CAST(0 AS BIGINT) AS in_deg FROM panel
  WHERE vec_id NOT IN (SELECT vec_id FROM indeg)
)
SELECT in_deg, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM all_deg
GROUP BY in_deg
ORDER BY in_deg
"""


# ---------------------------------------------------------------------------
# Pairwise-cosine histogram (separability profile)
# ---------------------------------------------------------------------------

#: Histogram band width: cosine is bucketed as floor(cosine · 20)
#: (0.05-wide bands over [-1, 1]).
COS_HIST_BANDS_PER_UNIT = 20


def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosines over the HUB_PANEL audit
    panel, in 0.05 bands, split same-label vs cross-label — the
    separability profile read BEFORE picking any similarity
    threshold: dedup_embedding's cutoff, SemDeDup's cell epsilon,
    and the LSH band count all assume the two distributions are
    separated, and this is the one-scan check that they are.
    (embedding_hubness reads the kNN graph's degree skew; this reads
    the raw geometry it was built from.)

    Determinism: each cosine is a per-pair map-side double (no
    cross-row float math); FLOOR(cosine · 20) of the identical
    double is the identical band in both engines; everything after
    is integer counts. Canonical a<b pairs count each pair once.

    Plan: one broadcast self-join scores panel²/2 pairs map-side,
    then ONE partial agg to ≤ 80 band cells. O(panel²) forever, the
    fixed-panel audit contract shared with embedding_hubness.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < HUB_PANEL
    )
    left = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
        F.expr(_norm_expr("embedding")).alias("q_nrm"),
    )
    # Probe side spread (r11, guide §2.5 — the embedding_hubness
    # pattern): the panel²/2 cosine evaluation is the dominant stage
    # and ran as ONE task on the single-row-group fixture file;
    # conditional vec_id spread fans it across every core (no-op on a
    # multi-row-group layout). Only this side is spread — `left`
    # feeds a broadcast. Counts-only aggregation downstream is
    # partition-order invariant.
    right = spread_scan(emb, spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "embedding", "label",
        F.expr(_norm_expr("embedding")).alias("c_nrm"),
    )
    pairs = (
        right.crossJoin(F.broadcast(left))
        .where(F.col("q_id") < F.col("vec_id"))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
    )
    return (
        pairs.select(
            F.expr(
                f"CAST(FLOOR(cosine * {COS_HIST_BANDS_PER_UNIT}) AS BIGINT)"
            ).alias("band"),
            F.expr(
                "CASE WHEN label = q_label THEN 'same' ELSE 'cross' END"
            ).alias("pair_kind"),
        )
        .groupBy("band", "pair_kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("band", "pair_kind")
    )


EMBEDDING_COSINE_HISTOGRAM_SQL = f"""
WITH panel AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE vec_id < {HUB_PANEL}
), pairs AS (
  SELECT CAST(FLOOR({sql_cosine("a.embedding", "b.embedding")}
           * {COS_HIST_BANDS_PER_UNIT}) AS BIGINT) AS band,
         CASE WHEN a.label = b.label THEN 'same' ELSE 'cross' END
           AS pair_kind
  FROM panel a JOIN panel b ON a.vec_id < b.vec_id
)
SELECT band, pair_kind, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
GROUP BY band, pair_kind
ORDER BY band, pair_kind
"""


# ---------------------------------------------------------------------------
# Round 7: embedding batch drift (per-dimension A/B centroid shift)
# ---------------------------------------------------------------------------

def embedding_batch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension centroid shift between two corpus halves
    (vec_id parity — the deterministic stand-in for "yesterday's
    batch vs today's"): |mean_A − mean_B| per dimension plus each
    half's variance. The encoder-regression tripwire: a re-deployed
    encoder that shifts even a few coordinates silently degrades
    every downstream ANN index; per-dim drift localizes WHICH
    coordinates moved, where embedding_dim_stats (whole-corpus
    moments) only says that something did.

    Integer-exact: per-element fixed-point snap (FP_SCALE) before
    any sum — the kmeans/dim_stats lattice — means and variances by
    integer DIV, drift one subtraction.

    Plan: ONE posexplode → (dim, parity) partial agg (map-side
    combined, |dims|·2 rows) → |dims|-row conditional-agg assemble.
    Two exchanges over pre-combined rows; map-only above the scan.
    """
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.45 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = (
        emb.select(
            F.expr("CAST(vec_id % 2 AS INT)").alias("half"),
            F.posexplode("embedding").alias("dim", "x"),
        )
        .withColumn("x_fp", F.floor(F.col("x").cast("double") * FP_SCALE))
        .withColumn("x2_fp", F.expr(f"(x_fp * x_fp) DIV {FP_SCALE}"))
    )
    cell = exploded.groupBy("dim", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_fp").alias("s"),
        F.sum("x2_fp").alias("s2"),
    )
    per_dim = cell.groupBy("dim").agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN n ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN half = 1 THEN n ELSE 0 END")).alias("n_b"),
        F.sum(F.expr("CASE WHEN half = 0 THEN s ELSE 0 END")).alias("s_a"),
        F.sum(F.expr("CASE WHEN half = 1 THEN s ELSE 0 END")).alias("s_b"),
        F.sum(F.expr("CASE WHEN half = 0 THEN s2 ELSE 0 END")).alias("s2_a"),
        F.sum(F.expr("CASE WHEN half = 1 THEN s2 ELSE 0 END")).alias("s2_b"),
    )
    return (
        per_dim.where("n_a > 0 AND n_b > 0")
        .withColumn("mean_a_fp", F.expr("s_a DIV n_a"))
        .withColumn("mean_b_fp", F.expr("s_b DIV n_b"))
        .withColumn(
            "var_a_fp",
            F.expr(f"s2_a DIV n_a - (mean_a_fp * mean_a_fp) DIV {FP_SCALE}"),
        )
        .withColumn(
            "var_b_fp",
            F.expr(f"s2_b DIV n_b - (mean_b_fp * mean_b_fp) DIV {FP_SCALE}"),
        )
        .withColumn("drift_fp", F.expr("abs(mean_a_fp - mean_b_fp)"))
        .select(
            "dim", "n_a", "n_b", "mean_a_fp", "mean_b_fp",
            "var_a_fp", "var_b_fp", "drift_fp",
        )
        .orderBy("dim")
    )


def _embedding_batch_drift_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT CAST(vec_id % 2 AS INT) AS half, u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT vec_id,
           unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), fp AS (
  SELECT half, dim, x_fp, (x_fp * x_fp) // {FP_SCALE} AS x2_fp FROM x
), cell AS (
  SELECT dim, half,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) AS s,
         CAST(SUM(x2_fp) AS BIGINT) AS s2
  FROM fp GROUP BY dim, half
), per_dim AS (
  SELECT dim,
         CAST(SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN half = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN half = 0 THEN s ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN half = 1 THEN s ELSE 0 END) AS BIGINT) AS s_b,
         CAST(SUM(CASE WHEN half = 0 THEN s2 ELSE 0 END) AS BIGINT) AS s2_a,
         CAST(SUM(CASE WHEN half = 1 THEN s2 ELSE 0 END) AS BIGINT) AS s2_b
  FROM cell GROUP BY dim
), m AS (
  SELECT dim, n_a, n_b,
         s_a // n_a AS mean_a_fp,
         s_b // n_b AS mean_b_fp,
         s2_a // n_a - ((s_a // n_a) * (s_a // n_a)) // {FP_SCALE}
           AS var_a_fp,
         s2_b // n_b - ((s_b // n_b) * (s_b // n_b)) // {FP_SCALE}
           AS var_b_fp
  FROM per_dim
  WHERE n_a > 0 AND n_b > 0
)
SELECT dim, n_a, n_b, mean_a_fp, mean_b_fp, var_a_fp, var_b_fp,
       abs(mean_a_fp - mean_b_fp) AS drift_fp
FROM m
ORDER BY dim
"""


EMBEDDING_BATCH_DRIFT_SQL = _embedding_batch_drift_sql()


# ---------------------------------------------------------------------------
# Round 8: label-centroid separation matrix
# ---------------------------------------------------------------------------

def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise L1 distance between LABEL centroids in embedding
    space — the label-quality audit for a classification corpus:
    two labels whose centroids nearly coincide are either duplicate
    classes or a labeling error, and no downstream classifier can
    fix that. embedding_batch_drift compares batch halves per
    dimension; this compares CLASSES whole-vector, the matrix an
    active-learning loop reads to pick confusable pairs.
    cluster_label_purity asks if kmeans recovers the labels; this
    asks if the labels are even geometrically distinct.

    Integer-exact: the kmeans fixed-point lattice — per-element
    FP_SCALE snap before any sum, centroid = integer DIV, |Δ|
    summed over dims as BIGINT.

    Plan: ONE posexplode → (label, dim) partial agg (map-side
    combined, |labels|·|dims| rows); the pair matrix is a self-join
    of that tiny centroid table on dim (≤ |labels|²·|dims| rows, all
    broadcastable) folded to |labels|²/2 rows. The explode is the
    only corpus-proportional stage."""
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.41 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .withColumn("x_fp", F.floor(F.col("x").cast("double") * FP_SCALE))
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x_fp").alias("s"))
        .withColumn("mean_fp", F.expr("s DIV n"))
        .select("label", "dim", "n", "mean_fp")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("mean_fp").alias("ma"),
        F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("mean_fp").alias("mb"),
        F.col("n").alias("n_b"),
    )
    pairs = a.join(F.broadcast(b), "dim").where("label_a < label_b")
    return (
        pairs.groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.expr("abs(ma - mb)")).alias("l1_fp"),
            F.max(F.expr("abs(ma - mb)")).alias("max_dim_gap_fp"),
        )
        .orderBy("l1_fp", "label_a", "label_b")
    )


def _embedding_label_separation_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT label, u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT label,
           unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_fp
  FROM x GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(MAX(a.n) AS BIGINT) AS n_a,
       CAST(MAX(b.n) AS BIGINT) AS n_b,
       CAST(SUM(abs(a.mean_fp - b.mean_fp)) AS BIGINT) AS l1_fp,
       CAST(MAX(abs(a.mean_fp - b.mean_fp)) AS BIGINT) AS max_dim_gap_fp
FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
GROUP BY 1, 2
ORDER BY l1_fp, label_a, label_b
"""


EMBEDDING_LABEL_SEPARATION_SQL = _embedding_label_separation_sql()


# ---------------------------------------------------------------------------
# Round 9: per-dimension quantile clipping + component histogram
# ---------------------------------------------------------------------------

def embedding_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile clipping audit (r8 VERDICT #5 — the
    preprocessing gate ``embedding_quant_error`` measures AFTER the
    fact): for every coordinate, the p05/p95 fixed-point bounds, how
    many values each side would clip (bp), and the post-clip mean —
    the exact numbers a quantization/normalization stage needs to
    decide its clip range per dimension instead of globally.

    Determinism: components on the FP_SCALE integer lattice; p05/p95
    are NEAREST-RANK order statistics (lo at rank (n−1) DIV 20 + 1,
    hi mirrored), selected by a per-dimension row_number — the value
    at a rank is tie-order-independent, and interpolated percentiles
    at p = 0.05 are NOT engine-exact (0.05 has no finite binary
    form; the ×20 trick that works for quarters fails here by 1 ulp,
    observed at sf0.001).

    Plan: one posexplode pass; the rank window partitions by dim
    (|dims|-way parallel — the same per-group sort any percentile
    pays); 2·|dims| boundary rows broadcast back onto the stream →
    |dims| clip agg."""
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    # spread reverted (r11 A/B): the exchange cost the fixture +0.69 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint (r11, guide §3.3): the exploded fixed-point
    # lattice feeds ns, the rank window AND the final clip agg —
    # uncheckpointed, the scan + posexplode ran three times. |vecs|·
    # |dims| bounded rows materialize once.
    x = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim",
        F.floor(F.col("v").cast("double") * FP_SCALE).alias("x_fp"),
    ).localCheckpoint()
    ns = x.groupBy("dim").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = x.withColumn(
        "rn",
        F.expr("row_number() OVER (PARTITION BY dim ORDER BY x_fp)"),
    )
    bounds = (
        ranked.join(F.broadcast(ns), "dim")
        .where(
            (F.col("rn") == F.expr("(n - 1) DIV 20 + 1"))
            | (F.col("rn") == F.expr("n - (n - 1) DIV 20"))
        )
        .groupBy("dim")
        .agg(
            F.max("n").alias("n"),
            F.min("x_fp").alias("lo_fp"),
            F.max("x_fp").alias("hi_fp"),
        )
    )
    return (
        x.join(F.broadcast(bounds), "dim")
        .groupBy("dim")
        .agg(
            F.max("n").alias("n"),
            F.max("lo_fp").cast("long").alias("lo_fp"),
            F.max("hi_fp").cast("long").alias("hi_fp"),
            F.sum(
                (F.col("x_fp") < F.col("lo_fp")).cast("int")
            ).cast("long").alias("n_below"),
            F.sum(
                (F.col("x_fp") > F.col("hi_fp")).cast("int")
            ).cast("long").alias("n_above"),
            F.sum(
                F.expr("least(greatest(x_fp, lo_fp), hi_fp)")
            ).cast("long").alias("sum_clamped"),
        )
        .select(
            "dim",
            "n",
            "lo_fp",
            "hi_fp",
            "n_below",
            "n_above",
            F.expr("((n_below + n_above) * 10000) DIV n").alias("clip_bp"),
            F.expr("sum_clamped DIV n").alias("clipped_mean_fp"),
        )
        .orderBy("dim")
    )


def _embedding_quantile_clip_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    return f"""
WITH x AS (
  SELECT u.dim AS dim,
         CAST(floor(u.val::DOUBLE * {FP_SCALE}) AS BIGINT) AS x_fp
  FROM (
    SELECT unnest(list_transform(range(0, len(embedding)),
             i -> {{'dim': i, 'val': embedding[i + 1]}})) AS u
    FROM embeddings)
), ns AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY dim
), ranked AS (
  SELECT dim, x_fp,
         row_number() OVER (PARTITION BY dim ORDER BY x_fp) AS rn
  FROM x
), bounds AS (
  SELECT r.dim, MAX(ns.n) AS n,
         CAST(MIN(r.x_fp) AS BIGINT) AS lo_fp,
         CAST(MAX(r.x_fp) AS BIGINT) AS hi_fp
  FROM ranked r JOIN ns ON r.dim = ns.dim
  WHERE r.rn = (ns.n - 1) // 20 + 1 OR r.rn = ns.n - (ns.n - 1) // 20
  GROUP BY r.dim
), clip AS (
  SELECT x.dim, MAX(b.n) AS n,
         MAX(b.lo_fp) AS lo_fp,
         MAX(b.hi_fp) AS hi_fp,
         CAST(SUM(CASE WHEN x.x_fp < b.lo_fp THEN 1 ELSE 0 END)
           AS BIGINT) AS n_below,
         CAST(SUM(CASE WHEN x.x_fp > b.hi_fp THEN 1 ELSE 0 END)
           AS BIGINT) AS n_above,
         CAST(SUM(least(greatest(x.x_fp, b.lo_fp), b.hi_fp))
           AS BIGINT) AS sum_clamped
  FROM x JOIN bounds b ON x.dim = b.dim
  GROUP BY x.dim
)
SELECT dim, n, lo_fp, hi_fp, n_below, n_above,
       ((n_below + n_above) * 10000) // n AS clip_bp,
       sum_clamped // n AS clipped_mean_fp
FROM clip
ORDER BY dim
"""


EMBEDDING_QUANTILE_CLIP_SQL = _embedding_quantile_clip_sql()


def embedding_component_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-value histogram per class label: every embedding
    coordinate bucketed at 0.1 width, per (label, band) the count
    and the label's share (bp) — the distribution picture behind
    embedding_dim_stats' two moments (bimodality, saturation at the
    encoder's activation bound, and label-conditional shift are all
    invisible to mean/variance).

    Integer-exact: band = floor(v·10); shares by DIV over a keyed
    window. One posexplode pass, one (label, band) agg."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.42 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.explode("embedding").alias("v")
        )
        .select(
            "label",
            F.floor(F.col("v").cast("double") * 10).cast("long").alias(
                "band"
            ),
        )
        .groupBy("label", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "share_bp",
            F.expr(
                "CAST((n * 10000) DIV (SUM(n) OVER (PARTITION BY label)) "
                "AS BIGINT)"
            ),
        )
        .orderBy("label", "band")
    )


EMBEDDING_COMPONENT_HISTOGRAM_SQL = """
WITH x AS (
  SELECT label,
         CAST(floor(v::DOUBLE * 10) AS BIGINT) AS band
  FROM (SELECT label, unnest(embedding) AS v FROM embeddings) q
), agg AS (
  SELECT label, band, CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY 1, 2
)
SELECT label, band, n,
       (n * 10000) // CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT)
         AS share_bp
FROM agg
ORDER BY label, band
"""


#: |component| < SPARSE_EPS_FP (on the FP_SCALE lattice) counts as
#: "near zero" for the sparsity audit; band width in components.
SPARSE_EPS = 0.05
SPARSE_BAND = 8


def embedding_sparsity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-VECTOR sparsity audit: how many of each embedding's
    components are near zero (|x| < 0.05), banded in steps of 8 —
    the distribution that says whether sparsification/pruning would
    be lossless here (embedding_dim_stats finds dead DIMENSIONS;
    a corpus can have no dead dims yet highly sparse individual
    vectors, which is what product-quantization and inverted-file
    pruning actually exploit).

    Integer-exact: the near-zero test runs on the FP_SCALE lattice;
    per-band mean L1 mass is one DIV. One map-only per-vector
    aggregate (the array never explodes into rows), one band agg."""
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    eps_fp = int(SPARSE_EPS * FP_SCALE)
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id")
    per_vec = emb.select(
        F.expr(
            f"size(filter(embedding, x -> "
            f"abs(floor(CAST(x AS DOUBLE) * {FP_SCALE})) < {eps_fp}))"
        ).cast("long").alias("n_zero"),
        F.expr(
            f"aggregate(embedding, CAST(0 AS BIGINT), (acc, x) -> "
            f"acc + abs(floor(CAST(x AS DOUBLE) * {FP_SCALE})))"
        ).cast("long").alias("l1_fp"),
    )
    return (
        per_vec.groupBy(
            F.expr(f"(n_zero DIV {SPARSE_BAND}) * {SPARSE_BAND}").alias(
                "zero_band"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("l1_fp").cast("long").alias("l1_fp"),
        )
        .withColumn(
            "share_bp",
            F.expr(
                "CAST((n_vectors * 10000) DIV (SUM(n_vectors) OVER ()) "
                "AS BIGINT)"
            ),
        )
        .withColumn("mean_l1_fp", F.expr("l1_fp DIV n_vectors"))
        .select("zero_band", "n_vectors", "share_bp", "mean_l1_fp")
        .orderBy("zero_band")
    )


def _embedding_sparsity_audit_sql() -> str:
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    eps_fp = int(SPARSE_EPS * FP_SCALE)
    return f"""
WITH per_vec AS (
  SELECT CAST(len(list_filter(embedding, x ->
           abs(floor(CAST(x AS DOUBLE) * {FP_SCALE})) < {eps_fp}))
           AS BIGINT) AS n_zero,
         CAST(list_aggregate(list_transform(embedding, x ->
           CAST(abs(floor(CAST(x AS DOUBLE) * {FP_SCALE})) AS BIGINT)),
           'sum') AS BIGINT) AS l1_fp
  FROM embeddings
), banded AS (
  SELECT (n_zero // {SPARSE_BAND}) * {SPARSE_BAND} AS zero_band,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(l1_fp) AS BIGINT) AS l1_fp
  FROM per_vec GROUP BY 1
)
SELECT zero_band, n_vectors,
       (n_vectors * 10000) // CAST(SUM(n_vectors) OVER () AS BIGINT)
         AS share_bp,
       l1_fp // n_vectors AS mean_l1_fp
FROM banded
ORDER BY zero_band
"""


EMBEDDING_SPARSITY_AUDIT_SQL = _embedding_sparsity_audit_sql()


def embedding_norm_label_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm distribution per label: vectors cross-tabbed by (label,
    L2-norm band of width 0.25, capped at band 12) with each band's
    share of its label (bp) and the band's norm extremes —
    embedding_norm_audit's one-row health card, resolved per class.
    A label whose norm mass sits in a different band than the rest
    was embedded by a different model revision or normalization
    path; cosine retrieval quietly favors/punishes it.

    The norm reuses _norm_expr's exact subtree (identical sqrt in
    both engines), so banding by floor is stable cross-engine.

    Plan (100 TB): map-only per-vector norm → one ≤|labels|×13-cell
    agg; the share window runs on that grid."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "label",
        F.expr(_norm_expr("embedding")).alias("nrm"),
    )
    banded = emb.select(
        "label",
        F.expr(
            "CAST(least(floor(nrm * 4), 12) AS BIGINT)"
        ).alias("norm_band"),
        "nrm",
    )
    grid = banded.groupBy("label", "norm_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )
    return (
        grid.withColumn(
            "label_share_bp",
            F.expr(
                "(n_vectors * 10000) DIV "
                "(SUM(n_vectors) OVER (PARTITION BY label))"
            ),
        )
        .orderBy("label", "norm_band")
    )


EMBEDDING_NORM_LABEL_MATRIX_SQL = f"""
WITH emb AS (
  SELECT label, {sql_norm("embedding")} AS nrm
  FROM embeddings
), banded AS (
  SELECT label,
         CAST(least(floor(nrm * 4), 12) AS BIGINT) AS norm_band, nrm
  FROM emb
), grid AS (
  SELECT label, norm_band,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
  FROM banded GROUP BY 1, 2
)
SELECT label, norm_band, n_vectors, min_norm, max_norm,
       (n_vectors * 10000) //
         CAST(SUM(n_vectors) OVER (PARTITION BY label) AS BIGINT)
         AS label_share_bp
FROM grid
ORDER BY label, norm_band
"""


def embedding_peakiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-dominance audit: per vector, the largest absolute
    component's share of the L1 mass; vectors histogrammed per label
    by that share (5%-wide bands) — a band-12+ vector is nearly
    one-hot (a dead-feature or overflow artifact of the embedding
    model), and a LABEL whose mass sits high is a class the model
    encodes with a private axis: cosine neighborhoods degenerate to
    that axis. embedding_sparsity_audit counts zeros; this catches
    vectors that are dense but effectively one-dimensional.

    Both the max and the L1 fold run the same index-ordered
    aggregate subtree in both engines (the _dot_expr discipline), so
    the double ratio — and therefore the floor band — is
    bit-stable.

    Plan (100 TB): map-only per-vector signals → one
    ≤|labels|×20-cell agg; the share window runs on the grid."""
    abs_arr = "transform(embedding, x -> abs(cast(x AS double)))"
    l1 = (
        f"aggregate({abs_arr}, cast(0 AS double), (acc, v) -> acc + v)"
    )
    mx = (
        f"aggregate({abs_arr}, cast(0 AS double), "
        f"(acc, v) -> CASE WHEN v > acc THEN v ELSE acc END)"
    )
    # spread reverted (r11 A/B): the exchange cost the fixture +0.17 s vs no-spread at sf0.1; map work here is too light to earn it
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.expr(l1).alias("l1"),
        F.expr(mx).alias("mx"),
    ).where(F.col("l1") > 0.0)
    banded = emb.select(
        "label",
        F.expr(
            "CAST(least(floor(mx / l1 * 20), 19) AS BIGINT)"
        ).alias("peak_band"),
    )
    grid = banded.groupBy("label", "peak_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        grid.withColumn(
            "label_share_bp",
            F.expr(
                "(n_vectors * 10000) DIV "
                "(SUM(n_vectors) OVER (PARTITION BY label))"
            ),
        )
        .orderBy("label", "peak_band")
    )


EMBEDDING_PEAKINESS_SQL = """
WITH emb AS (
  SELECT label,
         list_reduce(list_concat([CAST(0 AS DOUBLE)],
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, v) -> acc + v) AS l1,
         list_reduce(list_concat([CAST(0 AS DOUBLE)],
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END) AS mx
  FROM embeddings
), banded AS (
  SELECT label,
         CAST(least(floor(mx / l1 * 20), 19) AS BIGINT) AS peak_band
  FROM emb WHERE l1 > 0.0
), grid AS (
  SELECT label, peak_band, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM banded GROUP BY 1, 2
)
SELECT label, peak_band, n_vectors,
       (n_vectors * 10000) //
         CAST(SUM(n_vectors) OVER (PARTITION BY label) AS BIGINT)
         AS label_share_bp
FROM grid
ORDER BY label, peak_band
"""


# ---------------------------------------------------------------------------
# embedding_version_drift (r10)
# ---------------------------------------------------------------------------

#: Deterministic "re-encoded" slice for the version-drift screen:
#: vec_id % 7 == 3 vectors are rescaled by 1 + (vec_id % 3)·0.02 —
#: the in-plan stand-in for "v1 re-embedded part of the corpus"
#: (the snapshot-layer twin diffs two committed versions with
#: snapshot_diff and feeds the SAME per-label screen).
_DRIFT_MOD, _DRIFT_REM = 7, 3


def embedding_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift screen between two corpus VERSIONS: which
    labels did a partial re-encode move, and by how much? The changed
    set is the version diff (here the deterministic _DRIFT_MOD slice;
    against snapshot tables, snapshot_diff(from, to) yields exactly
    these rows); per label the screen reports the changed-vector
    count, the summed per-element fixed-point |Δ| (L1 shift mass),
    and the mean shift per vector — the re-deploy gate that says
    WHICH classes an encoder bump actually moved before an ANN index
    rebuild is approved.

    Integer-exact: per-element FP_SCALE snap of old and new BEFORE
    the subtraction (kmeans lattice rule), |Δ| summed as BIGINT —
    partition-order invariant in both engines.

    Plan (100 TB): changed rows are a pushed predicate slice of the
    scan (or snapshot_diff's file-pruned delta); posexplode fans to
    (label, dim) map-side; ONE label-keyed aggregate; output is
    ≤ |labels| rows."""
    from ensembl_lakehouse_spark.operators.multimodal import FP_SCALE

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id")
    changed = emb.where(
        F.col("vec_id") % _DRIFT_MOD == _DRIFT_REM
    ).select(
        "vec_id",
        "label",
        F.expr(
            "CAST(1.0 AS DOUBLE) + CAST(vec_id % 3 AS DOUBLE) "
            "* CAST(0.02 AS DOUBLE)"
        ).alias("scale"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    fp = changed.select(
        "vec_id",
        "label",
        F.floor(F.col("x").cast("double") * FP_SCALE).alias("old_fp"),
        F.floor(
            F.col("x").cast("double") * F.col("scale") * FP_SCALE
        ).alias("new_fp"),
    )
    return (
        fp.groupBy("label")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_changed"),
            F.sum(F.expr("abs(new_fp - old_fp)"))
            .cast("long")
            .alias("l1_shift_fp"),
        )
        .withColumn(
            "mean_shift_fp", F.expr("l1_shift_fp DIV n_changed")
        )
        .orderBy("label")
    )


EMBEDDING_VERSION_DRIFT_SQL = """
WITH changed AS (
  SELECT vec_id, label,
         1.0 + CAST(vec_id % 3 AS DOUBLE) * 0.02 AS scale,
         UNNEST(embedding) AS x
  FROM embeddings
  WHERE vec_id % 7 = 3
), fp AS (
  SELECT vec_id, label,
         CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS old_fp,
         CAST(floor(CAST(x AS DOUBLE) * scale * 1000000) AS BIGINT)
           AS new_fp
  FROM changed
)
SELECT label,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_changed,
       CAST(SUM(abs(new_fp - old_fp)) AS BIGINT) AS l1_shift_fp,
       CAST(SUM(abs(new_fp - old_fp)) // COUNT(DISTINCT vec_id)
            AS BIGINT) AS mean_shift_fp
FROM fp
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# embedding_dominant_dim (r10)
# ---------------------------------------------------------------------------


def embedding_dominant_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-collapse audit: per vector, the 1-based index of the
    largest-|x| component; vectors counted into a (label,
    dominant_dim) grid with each cell's share of its label (bp).
    embedding_peakiness asks HOW dominant the top axis is; this asks
    WHICH axis dominates — a label whose mass piles onto one index
    is encoded by a private dimension (rogue/dead feature), and an
    index dominating across MANY labels is a scaling artifact the
    whole space leans on. The index is recovered by positional
    equality against the per-vector max of the same transformed
    array, so both engines pick the identical (first) position.

    Plan (100 TB): map-only per-vector signals (two higher-order
    folds over the pruned embedding column, no UDF) → one
    ≤|labels|×d-cell agg; the share window runs on the grid."""
    abs_arr = "transform(embedding, x -> abs(cast(x AS double)))"
    emb = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.29 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "embeddings")
        .select(
            "label",
            F.expr(
                f"CAST(array_position({abs_arr}, "
                f"array_max({abs_arr})) AS BIGINT)"
            ).alias("dom_dim"),
            F.expr(f"array_max({abs_arr})").alias("mx"),
        )
        .where(F.col("mx") > 0.0)
    )
    grid = emb.groupBy("label", "dom_dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        grid.withColumn(
            "label_share_bp",
            F.expr(
                "(n_vectors * 10000) DIV "
                "(SUM(n_vectors) OVER (PARTITION BY label))"
            ),
        )
        .orderBy("label", "dom_dim")
    )


EMBEDDING_DOMINANT_DIM_SQL = """
WITH emb AS (
  SELECT label,
         CAST(list_position(
                list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                list_max(
                  list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              ) AS BIGINT) AS dom_dim,
         list_max(
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))
         ) AS mx
  FROM embeddings
), grid AS (
  SELECT label, dom_dim, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM emb WHERE mx > 0.0
  GROUP BY 1, 2
)
SELECT label, dom_dim, n_vectors,
       (n_vectors * 10000) //
         CAST(SUM(n_vectors) OVER (PARTITION BY label) AS BIGINT)
         AS label_share_bp
FROM grid
ORDER BY label, dom_dim
"""


# ---------------------------------------------------------------------------
# embedding_sign_balance (r11)
# ---------------------------------------------------------------------------


def embedding_sign_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-structure audit per label: vectors banded by their share
    of NEGATIVE components (<25 % / <45 % / <55 % / <75 % / ≥75 %),
    each (label, band) cell with its share of the label (bp). A
    healthy dense embedding is roughly sign-balanced per vector
    (~50 % negative); mass in the outer bands means truncated ReLU
    features, dead dimensions, or an un-centered encoder — per
    LABEL, because a single class drifting is a labeling or encoder
    regression the global audits (embedding_dim_stats,
    embedding_norm_audit) average away. The negative count is an
    integer fold over the array (sign tests are exact on floats —
    no float SUM enters any comparison), so banding is
    engine-exact.

    Plan (100 TB): map-only higher-order-function fold per vector
    (zero shuffle) → one ≤|labels|·5 partial agg; the share window
    runs on that grid."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "label",
        F.expr(
            "aggregate(embedding, 0L, (acc, x) -> acc + "
            "CASE WHEN x < CAST(0.0 AS FLOAT) THEN 1L ELSE 0L END)"
        ).alias("n_neg"),
        F.expr("CAST(size(embedding) AS BIGINT)").alias("dim"),
    )
    banded = emb.select(
        "label",
        F.expr(
            "CASE WHEN n_neg * 100 < dim * 25 THEN 'a_positive_heavy' "
            "WHEN n_neg * 100 < dim * 45 THEN 'b_positive_lean' "
            "WHEN n_neg * 100 < dim * 55 THEN 'c_balanced' "
            "WHEN n_neg * 100 < dim * 75 THEN 'd_negative_lean' "
            "ELSE 'e_negative_heavy' END"
        ).alias("band"),
    )
    grid = banded.groupBy("label", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        grid.withColumn(
            "label_share_bp",
            F.expr(
                "(n_vectors * 10000) DIV (SUM(n_vectors) OVER "
                "(PARTITION BY label))"
            ),
        )
        .orderBy("label", "band")
    )


EMBEDDING_SIGN_BALANCE_SQL = """
WITH e AS (
  SELECT label,
         CAST(len(list_filter(embedding, x -> x < 0)) AS BIGINT)
           AS n_neg,
         CAST(len(embedding) AS BIGINT) AS dim
  FROM embeddings
), banded AS (
  SELECT label,
         CASE WHEN n_neg * 100 < dim * 25 THEN 'a_positive_heavy'
              WHEN n_neg * 100 < dim * 45 THEN 'b_positive_lean'
              WHEN n_neg * 100 < dim * 55 THEN 'c_balanced'
              WHEN n_neg * 100 < dim * 75 THEN 'd_negative_lean'
              ELSE 'e_negative_heavy' END AS band
  FROM e
), grid AS (
  SELECT label, band, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM banded GROUP BY 1, 2
)
SELECT label, band, n_vectors,
       (n_vectors * 10000)
         // CAST(SUM(n_vectors) OVER (PARTITION BY label) AS BIGINT)
         AS label_share_bp
FROM grid
ORDER BY label, band
"""


# ---------------------------------------------------------------------------
# embedding_exact_dups (r11)
# ---------------------------------------------------------------------------


def embedding_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vector families: vectors grouped by their
    full float array (bit-equality — the leak signal: two rows with
    IDENTICAL embeddings are re-encoded copies or an upstream join
    fan-out, which train/test splitters must know about), reported
    per label as family count, duplicated-vector count, and the
    wasted share of the label's vectors (bp). The dedup_* family
    hunts NEAR-duplicates in text; this is the embedding-side exact
    screen — zero tolerance, zero estimation. Grouping keys on the
    raw float array (no arithmetic, no tolerance), so bit-equal is
    the contract on both engines.

    Plan (100 TB): one hash-groupBy on the vector array (Spark
    hashes arrays natively — the exact-dedup shape), families ≥2
    only, then a ≤|labels| partial agg. Never any pairwise work."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "label", "embedding"
    )
    # One pass (r11, guide §2.4): fams and per_label both scanned the
    # table (each re-paying the spread exchange); the unfiltered
    # family lattice now computes once and BOTH consumers are tiny
    # rollups of it — per-label vector count = Σ n_copies over the
    # label's families (identical value by construction).
    fams_all = (
        emb.groupBy("label", "embedding")
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
        .localCheckpoint()
    )
    fams = fams_all.where("n_copies >= 2")
    per_label = fams_all.groupBy("label").agg(
        F.sum("n_copies").cast("long").alias("n_vectors")
    )
    agg = fams.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        F.sum(F.expr("n_copies - 1")).cast("long").alias("n_redundant"),
    )
    return (
        per_label.join(agg, "label", "left")
        .select(
            "label",
            "n_vectors",
            F.coalesce("n_families", F.lit(0))
            .cast("long")
            .alias("n_families"),
            F.coalesce("n_redundant", F.lit(0))
            .cast("long")
            .alias("n_redundant"),
        )
        .withColumn(
            "redundant_share_bp",
            F.expr(
                "CAST((n_redundant * 10000) DIV n_vectors AS BIGINT)"
            ),
        )
        .orderBy("label")
    )


EMBEDDING_EXACT_DUPS_SQL = """
WITH fams AS (
  SELECT label, embedding, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM embeddings GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), per_label AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM embeddings GROUP BY 1
), agg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_families,
         CAST(SUM(n_copies - 1) AS BIGINT) AS n_redundant
  FROM fams GROUP BY 1
)
SELECT p.label, p.n_vectors,
       CAST(COALESCE(a.n_families, 0) AS BIGINT) AS n_families,
       CAST(COALESCE(a.n_redundant, 0) AS BIGINT) AS n_redundant,
       CAST((COALESCE(a.n_redundant, 0) * 10000) // p.n_vectors
            AS BIGINT) AS redundant_share_bp
FROM per_label p LEFT JOIN agg a ON p.label = a.label
ORDER BY p.label
"""


# ---------------------------------------------------------------------------
# embedding_band_energy (r11 batch 4)
# ---------------------------------------------------------------------------


def embedding_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-mass audit per label: the share of each vector's L2
    energy carried by the LEADING 16 of 64 dimensions, in basis
    points. PCA-rotated or Matryoshka-trained encoders front-load
    energy (high leading share — the cue that truncation/MRL serving
    is safe); a raw encoder spreads it flat. A label whose
    distribution diverges from the rest was embedded by a different
    model revision — the dim-level twin of embedding_version_drift.

    Fixed-point: elements quantize to BIGINT thousandths
    (floor(×1000+0.5)) before squaring, so sums are associative
    integers and bit-stable in any partition order.

    Plan (100 TB): map-only per-vector array fold (zero explode,
    zero shuffle), then ONE ≤|labels| partial agg."""
    q = cents_sql("CAST(x AS DOUBLE)", 1000)
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "label",
        F.expr(
            f"aggregate(slice(embedding, 1, 16), CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + {q} * {q})"
        ).alias("lead_e"),
        F.expr(
            f"aggregate(embedding, CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + {q} * {q})"
        ).alias("total_e"),
    ).where("total_e > 0")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("lead_e").alias("lead_energy"),
            F.sum("total_e").alias("total_energy"),
            F.sum(F.expr("(lead_e * 10000) DIV total_e")).alias(
                "share_bp_sum"
            ),
        )
        .select(
            "label",
            "n_vecs",
            "lead_energy",
            "total_energy",
            # DECIMAL(38,0) numerator: per-label energy sums reach
            # ~1e18 at the 100 TB design point, and ×10⁴ in BIGINT
            # wraps silently (r11 code review)
            F.expr(
                scaled_ratio_sql("lead_energy", "total_energy")
            ).alias("pooled_lead_share_bp"),
            F.expr("share_bp_sum DIV n_vecs").alias(
                "avg_lead_share_bp"
            ),
        )
        .orderBy("label")
    )


_BAND_Q = "CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)"

EMBEDDING_BAND_ENERGY_SQL = f"""
WITH e AS (
  SELECT label,
         CAST(list_sum(list_transform(embedding[1:16],
              x -> {_BAND_Q} * {_BAND_Q})) AS BIGINT) AS lead_e,
         CAST(list_sum(list_transform(embedding,
              x -> {_BAND_Q} * {_BAND_Q})) AS BIGINT) AS total_e
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(lead_e) AS BIGINT) AS lead_energy,
       CAST(SUM(total_e) AS BIGINT) AS total_energy,
       CAST((CAST(SUM(lead_e) AS HUGEINT) * 10000)
            // SUM(total_e) AS BIGINT) AS pooled_lead_share_bp,
       CAST(SUM((lead_e * 10000) // total_e) // COUNT(*) AS BIGINT)
         AS avg_lead_share_bp
FROM e
WHERE total_e > 0
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# embedding_coverage_audit (r11 batch 5)
# ---------------------------------------------------------------------------


def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which documents actually HAVE embeddings? Per source: docs,
    docs with a vector (doc_id present in the embeddings table), and
    coverage in bp. The embedding pipeline's referential tie-out —
    at sf0.1 the fixture's vector table covers 2 000 of 5 000 docs,
    so a retrieval index built without this audit silently drops 60 %
    of the corpus. The documents↔embeddings twin of
    audit_referential's TPC-H fk checks.

    Plan (100 TB): LEFT SEMI-shaped via a left join on the id (both
    sides SF-growing — a key-partitioned shuffle join, never
    broadcast), pre-projected to (vec_id) on the build side, then a
    ≤|sources| partial agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id"
    )
    vecs = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        F.col("vec_id").alias("v_id")
    )
    joined = docs.join(
        vecs, docs.doc_id == vecs.v_id, "left"
    ).select(
        "source",
        F.expr(
            "CASE WHEN v_id IS NOT NULL THEN 1 ELSE 0 END"
        ).alias("has_vec"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_vec").alias("with_embedding"),
        )
        .select(
            "source",
            "n_docs",
            "with_embedding",
            F.expr("(with_embedding * 10000) DIV n_docs").alias(
                "coverage_bp"
            ),
        )
        .orderBy("source")
    )


EMBEDDING_COVERAGE_AUDIT_SQL = """
WITH joined AS (
  SELECT d.source,
         CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS has_vec
  FROM documents d
  LEFT JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_vec) AS BIGINT) AS with_embedding,
       (CAST(SUM(has_vec) AS BIGINT) * 10000) // CAST(COUNT(*) AS BIGINT)
         AS coverage_bp
FROM joined
GROUP BY source
ORDER BY source
"""
