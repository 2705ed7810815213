"""Vector similarity search over the embeddings table (SURVEY.md §2.11
L3/L4/L10 and the L22-L52 embedding queries).

The ANN family is one filter-and-refine skeleton (REPOSE, ICDE 2021:
prune candidates, then refine exactly). A query batch (``_query_batch``)
probes the corpus; a candidate generator narrows each query's neighbors;
the survivors are scored, and ``_topk`` keeps the k best per query. Only
the generator differs between the six graded top-k queries:

- ``l3_cosine_topk``: every vector (broadcast queries × full scan);
- ``l3_ivf_ann``: the members of the query's NPROBE nearest coarse cells;
- ``l3_sq_ann``: every vector, scored on uint8 codes;
- ``l3_matryoshka_ann``: a shortlist by cosine on a 16-dim prefix;
- ``l42_srp_ann``: vectors sharing a sign-random-projection band;
- ``l51_pq_ann``: every vector, scored by PQ asymmetric distance.

Cosine scoring is one expression (``_cosine``), and l3_cosine, l3_ivf,
l42 and MRL's second stage share one refine step (``_rerank_topk``).
``l4_knn_within_label`` runs the same ``_topk`` tail with every vector
as a query and its label bucket as the candidates. The
dot products (``list_dot_product`` over double-cast lists and Spark's
``F.aggregate`` fold) accumulate bit-identically, so every graded query
matches its DuckDB oracle exactly. ``l3_lsh_ann`` (MLlib
BucketedRandomProjectionLSH) hashes with model-internal RNG state and is
graded on rows only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datums_warehouse_spark.functions.determinism import DEC12, dsum, sql_dsum
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import load

SQL_DDOT = (
    "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x AS DOUBLE)))"
)
SQL_QC_DOT = SQL_DDOT.format(a="q.embedding", b="c.embedding")

# (vec_id, embedding, norm) over the whole table: l3_cosine's and l42's CTE
SQL_NORMED = f"""normed AS (
            SELECT vec_id, embedding,
                   sqrt({SQL_DDOT.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        )"""

# exact cosine re-rank of a (query_id, neighbor_id) frame joined to
# normed q and c: l42's and MRL's final select
SQL_RERANK = f"""SELECT query_id, neighbor_id,
               round({SQL_QC_DOT}
                     / (q.norm * c.norm), 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {SQL_QC_DOT}
                            / (q.norm * c.norm) DESC, neighbor_id
               ) AS BIGINT) AS rn"""

QUERY_BATCH = 10  # queries per batch: batch b is b*10 <= vec_id < (b+1)*10


def ddot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two float-array columns."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def ddot_pre(a: Column | str, b: Column | str) -> Column:
    """``ddot`` over arrays ALREADY cast to double. Same IEEE tree, same
    values (float→double is exact, so casting per-vector upstream instead
    of per-pair changes nothing) — but in a pair join the fold evaluates
    per PAIR, interpreted (higher-order functions don't codegen), and
    dropping the two per-element casts cuts that hot path ~25% (measured
    on l41's 251k-pair stage at sf0.1)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(ddot("embedding", "embedding")))


def _cosine(dot: Column, na: str, nb: str) -> Column:
    """dot / (na · nb), NULL when either norm is zero. An all-zero vector
    is a failed embedding: under ANSI mode a plain division would raise
    DIVIDE_BY_ZERO and kill the job, and DuckDB's oracle returns NULL for
    x / 0.0. Both engines sort that NULL last under DESC."""
    return F.try_divide(dot, F.col(na) * F.col(nb))


def _query_batch(df: DataFrame, batch: int = 0) -> DataFrame:
    """The rows of query batch ``batch``: QUERY_BATCH consecutive vec_ids
    (batch 0 for l3_cosine, l3_sq, MRL and l42; batch 1 for l3_ivf and
    l51)."""
    v = F.col("vec_id")
    pred = v < (batch + 1) * QUERY_BATCH
    if batch:
        pred = (v >= batch * QUERY_BATCH) & pred
    return df.filter(pred)


def _side(normed: DataFrame, p: str) -> DataFrame:
    """One side of a pair join from (vec_id, embedding, norm):
    (query_id, q_emb, q_norm) for ``p="q"``, (neighbor_id, c_emb, c_norm)
    for ``p="c"``."""
    return normed.select(
        F.col("vec_id").alias("query_id" if p == "q" else "neighbor_id"),
        F.col("embedding").alias(f"{p}_emb"),
        F.col("norm").alias(f"{p}_norm"),
    )


def _join_vectors(cand: DataFrame, normed: DataFrame) -> DataFrame:
    """Attach each side's embedding and norm to (query_id, neighbor_id)
    candidate ids: the broadcast query side, then the candidate side."""
    return cand.join(F.broadcast(_side(normed, "q")), "query_id").join(
        _side(normed, "c"), "neighbor_id"
    )


def _topk(scored: DataFrame, score: str, k: int, asc: bool = False) -> DataFrame:
    """The k best ``score`` rows per query_id, numbered 1..k in ``rn``.

    Ties break on neighbor_id, so both engines select identical rows. The
    filter on ``rn`` lets Spark put a WindowGroupLimit in front of the
    window's exchange: each partition keeps only its k best rows per
    query, which bounds the per-query work."""
    order = F.col(score).asc() if asc else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= k
    )


def _rerank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The refine step: score (query_id, neighbor_id) pairs that carry
    q_emb/q_norm and c_emb/c_norm by exact cosine, keep the top k per
    query, round the cosine to 6 places."""
    scored = pairs.withColumn(
        "cosine_raw", _cosine(ddot("q_emb", "c_emb"), "q_norm", "c_norm")
    )
    return _topk(scored, "cosine_raw", k).select(
        "query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine"), "rn"
    )


@query(
    "l3_cosine_topk",
    oracle=f"""
        WITH {SQL_NORMED}
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({SQL_QC_DOT}
                     / (q.norm * c.norm), 6) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {SQL_QC_DOT}
                            / (q.norm * c.norm) DESC, c.vec_id
               ) AS BIGINT) AS rn
        FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        QUALIFY rn <= 5
    """,
    tags=("L3",),
)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5: every vector is a candidate of every
    query (broadcast queries × candidate scan), the exact ANN baseline."""
    emb = with_norm(load(spark, sf_dir, "embeddings"))
    q = F.broadcast(_side(_query_batch(emb), "q"))
    pairs = q.join(_side(emb, "c"), F.col("neighbor_id") != F.col("query_id"))
    return _rerank_topk(pairs, 5)


@query(
    "l4_knn_within_label",
    oracle=f"""
        WITH n2 AS (
            SELECT vec_id, label, embedding,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS norm2
            FROM embeddings
        )
        SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS neighbor_id,
               round(a.norm2 + b.norm2
                     - 2 * {SQL_DDOT.format(a="a.embedding", b="b.embedding")}, 6) AS dist2
        FROM n2 a JOIN n2 b ON a.label = b.label AND a.vec_id != b.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY a.vec_id
            ORDER BY a.norm2 + b.norm2
                     - 2 * {SQL_DDOT.format(a="a.embedding", b="b.embedding")},
                     b.vec_id
        ) = 1
    """,
    tags=("L4",),
)
def l4_knn_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-nearest-neighbor per vector within its label bucket (squared L2).

    The kNN-join restricted to an equi-bucket: the label equality turns the
    quadratic all-pairs into a per-bucket product — the same shape an
    IVF-partitioned index produces at scale. Every vector is a query.
    """
    emb = load(spark, sf_dir, "embeddings").withColumn("norm2", ddot("embedding", "embedding"))
    a = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label"),
        F.col("embedding").alias("a_emb"), F.col("norm2").alias("a_n2"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        F.col("norm2").alias("b_n2"),
    )
    d2 = F.col("a_n2") + F.col("b_n2") - 2 * ddot("a_emb", "b_emb")
    pairs = a.join(
        b, (F.col("label") == F.col("b_label")) & (F.col("query_id") != F.col("neighbor_id"))
    ).withColumn("d2", d2)
    return _topk(pairs, "d2", 1, asc=True).select(
        F.col("query_id").alias("vec_id"), "label", "neighbor_id",
        F.round("d2", 6).alias("dist2"),
    )


@query(
    "l4_embedding_neardup",
    oracle=f"""
        WITH normed AS (
            SELECT vec_id, label, embedding,
                   sqrt({SQL_DDOT.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               round({SQL_DDOT.format(a="a.embedding", b="b.embedding")}
                     / (a.norm * b.norm), 6) AS cosine
        FROM normed a JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {SQL_DDOT.format(a="a.embedding", b="b.embedding")}
              / (a.norm * b.norm) >= 0.28
    """,
    tags=("L4", "L2"),
)
def l4_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.28 within label;
    threshold ≈ p99 of the within-label cosine distribution).

    The semantic-dedup stage of a training pipeline: bucket by cluster,
    compare within bucket only.

    Plan notes (l41's measured lessons applied): pre-cast the embedding to
    double once per VECTOR so the per-pair fold skips two casts, and pin an
    explicit repartition on the bucket key — the self-join then reuses one
    exchange (E-side computed once) and the quadratic per-bucket fold work
    spreads across cores instead of serializing on the scan tasks
    (2.4 s → ~0.9 s warm at sf0.1's 400k pairs).
    """
    emb = (
        with_norm(load(spark, sf_dir, "embeddings"))
        .withColumn("demb", F.transform("embedding", lambda x: x.cast("double")))
    )
    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism, "label")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("demb").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("b_label"),
        F.col("demb").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    return (
        a.join(b, (F.col("label") == F.col("b_label")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cosine_raw", _cosine(ddot_pre("a_emb", "b_emb"), "a_norm", "b_norm"))
        .filter(F.col("cosine_raw") >= 0.28)
        .select("vec_a", "vec_b", "label", F.round("cosine_raw", 6).alias("cosine"))
    )


@query(
    "l10_centroids",
    oracle=f"""
        SELECT label, CAST(pos AS BIGINT) AS pos,
               round({sql_dsum("comp", "DECIMAL(30,12)")} / count(*), 6) AS centroid
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS comp
            FROM embeddings
        )
        GROUP BY label, pos
    """,
    tags=("L10",),
)
def l10_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: element-wise mean via posexplode + group-by.

    The explode shape distributes over (label × position) — no vector is
    ever materialized whole on one node, so dimension and row count scale
    independently. Decimal-exact mean (scale 12 for the small components).
    """
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "comp_f")).select(
        "label", F.col("pos").cast("long").alias("pos"), F.col("comp_f").cast("double").alias("comp")
    )
    # final 6dp round: the engines' double→decimal casts disagree by a few
    # 1e-12 ulps on some float32 components (fp-scaled vs exact conversion)
    return exploded.groupBy("label", "pos").agg(
        F.round(dsum("comp", "decimal(30,12)") / F.count("comp"), 6).alias("centroid")
    )


IVF_K = 8        # coarse cells (seed centroids)
IVF_NPROBE = 2   # cells probed per query
IVF_TOPK = 3

SQL_IVF_D2 = (
    "v.norm2 + s.s_n2 - 2 * "
    + SQL_DDOT.format(a="v.embedding", b="s.s_emb")
)


@query(
    "l3_ivf_ann",
    oracle=f"""
        WITH n2 AS (
            SELECT vec_id, embedding,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS norm2
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS seed_id, embedding AS s_emb, norm2 AS s_n2
            FROM n2 WHERE vec_id < {IVF_K}
        ),
        ranked AS (
            SELECT v.vec_id, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {SQL_IVF_D2}, s.seed_id
                   ) AS rn
            FROM n2 v CROSS JOIN seeds s
        ),
        assign AS (SELECT vec_id, seed_id FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, seed_id FROM ranked
            WHERE rn <= {IVF_NPROBE} AND vec_id >= 10 AND vec_id < 20
        ),
        normed AS (SELECT vec_id, embedding, sqrt(norm2) AS norm FROM n2)
        SELECT query_id, neighbor_id, round(cosine_raw, 6) AS cosine,
               CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {SQL_DDOT.format(a="q.embedding", b="c.embedding")}
                       / (q.norm * c.norm) AS cosine_raw,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {SQL_DDOT.format(a="q.embedding", b="c.embedding")}
                                / (q.norm * c.norm) DESC, a.vec_id
                   ) AS rn
            FROM probes p
            JOIN assign a ON a.seed_id = p.seed_id AND a.vec_id != p.query_id
            JOIN normed q ON q.vec_id = p.query_id
            JOIN normed c ON c.vec_id = a.vec_id
        )
        WHERE rn <= {IVF_TOPK}
    """,
    tags=("L3",),
)
def l3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN over query batch 1: a query's candidates
    are the members of its NPROBE nearest coarse cells, ~NPROBE/K of the
    corpus instead of all of it.

    The coarse centroids are seed vectors (vec_id < K) rather than
    k-means output, so cell assignment is exact deterministic arithmetic
    both engines reproduce. At 100 TB the centroids would come from
    k-means on a driver-side sample (still tiny and broadcast), the
    assignment cross-join stays N×K, and the inverted lists would be
    written bucketed by cell so a probe is a partition-pruned scan, not a
    shuffle.
    """
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "norm2", ddot("embedding", "embedding")
    )
    seeds = F.broadcast(
        emb.filter(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("s_emb"),
            F.col("norm2").alias("s_n2"),
        )
    )
    d2 = F.col("norm2") + F.col("s_n2") - 2 * ddot("embedding", "s_emb")
    w_cell = Window.partitionBy("vec_id").orderBy("d2", "seed_id")
    ranked = (
        emb.join(seeds)
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w_cell))
    )
    assign = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("member_id"), F.col("seed_id").alias("cell")
    )
    probes = _query_batch(ranked.filter(F.col("rn") <= IVF_NPROBE), 1).select(
        F.col("vec_id").alias("query_id"), F.col("seed_id").alias("probe_cell")
    )
    normed = emb.select("vec_id", "embedding", F.sqrt("norm2").alias("norm"))
    cand = (
        probes.join(
            assign,
            (F.col("probe_cell") == F.col("cell"))
            & (F.col("member_id") != F.col("query_id")),
        )
        .select("query_id", F.col("member_id").alias("neighbor_id"))
    )
    return _rerank_topk(_join_vectors(cand, normed), IVF_TOPK)


SQ_LEVELS = 255  # uint8 quantization levels
SQ_TOPK = 5

SQL_SQ_QUANT = f"""
    stats AS (
        SELECT pos, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
        FROM (
            SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
            FROM embeddings
        )
        GROUP BY pos
    ),
    qv AS (
        SELECT vec_id, list(q ORDER BY pos) AS q
        FROM (
            SELECT e.vec_id, e.pos,
                   CASE WHEN s.mx = s.mn THEN 0
                        ELSE least({SQ_LEVELS}, CAST(floor(
                            (CAST(e.v AS DOUBLE) - s.mn) * ({SQ_LEVELS}.0 / (s.mx - s.mn))
                        ) AS BIGINT))
                   END AS q
            FROM (
                SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding) AS v
                FROM embeddings
            ) e JOIN stats s USING (pos)
        )
        GROUP BY vec_id
    )
"""


@query(
    "l3_sq_ann",
    oracle=f"""
        WITH {SQL_SQ_QUANT}
        SELECT query_id, neighbor_id, score, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST(list_dot_product(a.q, b.q) AS BIGINT) AS score,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.q, b.q) DESC, b.vec_id
                   ) AS rn
            FROM qv a JOIN qv b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        )
        WHERE rn <= {SQ_TOPK}
    """,
    tags=("L3",),
)
def l3_sq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (uint8) search: every vector is a candidate,
    scored by the integer dot product of 8-bit codes (per-dimension
    min/max → code), the SQ8 stage FAISS IVF-SQ runs in each probed cell.
    Codes are 4× smaller than float32, and the score is integer-exact
    (products ≤ 255²·dim ≪ 2⁵³), so quantize, score and rank are graded
    bit-for-bit.

    The dim-sized stats are a broadcast 1-row array aggregate in the DAG,
    not a driver collect (tests/test_laziness.py pins this). Both engines
    spell the quantization identically ((v - mn) * (LEVELS / (mx - mn)),
    floor, clamp); a dimension with mx == mn quantizes to 0.
    """
    emb = load(spark, sf_dir, "embeddings")
    by_pos = F.array_sort(F.collect_list(F.struct("pos", "mn", "mx")))
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.transform(by_pos, lambda s: s.mn.cast("double")).alias("_mns"),
            F.transform(by_pos, lambda s: s.mx.cast("double")).alias("_mxs"),
        )
    )

    def quant(v, i):
        lo, hi = F.element_at("_mns", i + 1), F.element_at("_mxs", i + 1)
        code = F.floor((v.cast("double") - lo) * (F.lit(float(SQ_LEVELS)) / (hi - lo)))
        return F.when(hi == lo, F.lit(0)).otherwise(
            F.least(F.lit(SQ_LEVELS).cast("long"), code)
        )

    qv = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id", F.transform("embedding", quant).alias("q")
    )
    a = _query_batch(qv).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qa"))
    b = qv.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot)
    )
    return _topk(pairs, "score", SQ_TOPK).select("query_id", "neighbor_id", "score", "rn")


@query("l3_lsh_ann", tags=("L3",))
def l3_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-projection LSH (rows-only: model hashing
    isn't reproducible in SQL).

    Bucket vectors with BucketedRandomProjectionLSH, then
    approxSimilarityJoin only compares within-bucket candidates (SURVEY.md
    §4.3.2); l42_srp_ann is the hash-graded twin.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector(F.transform("embedding", lambda x: x.cast("double")))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    )
    model = lsh.fit(emb)
    joined = model.approxSimilarityJoin(_query_batch(emb), emb, threshold=4.0, distCol="dist")
    return joined.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.round("dist", 6).alias("dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))


MRL_DIMS = 16      # prefix dims for the cheap first stage
MRL_SHORTLIST = 20
MRL_TOPK = 5

_SQL_PREF = "list_transform({v}[1:" + str(MRL_DIMS) + "], x -> CAST(x AS DOUBLE))"
SQL_PREF_DDOT = f"list_dot_product({_SQL_PREF.format(v='{a}')}, {_SQL_PREF.format(v='{b}')})"


@query(
    "l3_matryoshka_ann",
    oracle=f"""
        WITH normed AS (
            SELECT vec_id, embedding,
                   sqrt({SQL_DDOT.format(a="embedding", b="embedding")}) AS norm,
                   sqrt({SQL_PREF_DDOT.format(a="embedding", b="embedding")}) AS pnorm
            FROM embeddings
        ),
        shortlist AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id != q.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {SQL_PREF_DDOT.format(a="q.embedding", b="c.embedding")}
                         / (q.pnorm * c.pnorm) DESC, c.vec_id
            ) <= {MRL_SHORTLIST}
        )
        {SQL_RERANK}
        FROM shortlist s
        JOIN normed q ON q.vec_id = s.query_id
        JOIN normed c ON c.vec_id = s.neighbor_id
        QUALIFY rn <= {MRL_TOPK}
    """,
    tags=("L3",),
)
def l3_matryoshka_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over Matryoshka-style embedding prefixes: the
    candidates are a SHORTLIST-row top-k by cosine on the first 16 dims
    (4× less arithmetic and memory traffic than the full vector), which
    the full 64-dim cosine then re-ranks — the cheap-prefilter /
    exact-rerank pattern of production retrieval (MRL prefixes, PQ/SQ
    codes or int8 all slot into the same two stages). Stage 1 scans the
    corpus once per query batch, like l3_cosine_topk but on prefix
    slices; stage 2 touches only |queries| × SHORTLIST rows.
    """
    emb = load(spark, sf_dir, "embeddings")
    pref = F.slice("embedding", 1, MRL_DIMS)
    n = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(ddot("embedding", "embedding")).alias("norm"),
        F.sqrt(ddot(pref, pref)).alias("pnorm"),
        pref.alias("pref"),
    )
    q = F.broadcast(
        _query_batch(n).select(
            F.col("vec_id").alias("query_id"),
            F.col("pref").alias("q_pref"),
            F.col("pnorm").alias("q_pnorm"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    c1 = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("pref").alias("c_pref"),
        F.col("pnorm").alias("c_pnorm"),
    )
    pcos = _cosine(ddot("q_pref", "c_pref"), "q_pnorm", "c_pnorm")
    pairs = q.join(c1, F.col("neighbor_id") != F.col("query_id")).withColumn("pcos", pcos)
    shortlist = _topk(pairs, "pcos", MRL_SHORTLIST).select(
        "query_id", "neighbor_id", "q_emb", "q_norm"
    )
    return _rerank_topk(shortlist.join(_side(n, "c"), "neighbor_id"), MRL_TOPK)


@query(
    "l22_embedding_outliers",
    oracle=f"""
        WITH n AS (
            SELECT vec_id,
                   sqrt({SQL_DDOT.format(a="embedding", b="embedding")}) AS norm
            FROM embeddings
        ), m AS (
            SELECT CAST(SUM(CAST(norm AS DECIMAL(30,12))) AS DOUBLE)
                       / count(*) AS mean
            FROM n
        ), s AS (
            SELECT mean,
                   sqrt(CAST(SUM(CAST((norm - mean) * (norm - mean)
                                      AS DECIMAL(38,30))) AS DOUBLE)
                        / (count(*) - 1)) AS sd
            FROM n, m
            GROUP BY mean
        )
        SELECT vec_id, round((norm - mean) / sd, 4) AS zscore
        FROM n, s
        WHERE abs(norm - mean) > 2.0 * sd
    """,
    tags=("L22",),
)
def l22_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene gate: vectors whose L2 norm sits >2σ from the
    corpus mean. On a nominally unit-normalized embedding table (this one:
    σ≈4e-8 around 1.0) norm outliers flag broken encoder batches, zero
    vectors, and float-truncation bugs before they poison ANN recall or
    contrastive training.

    Scale shape: one scan computes per-row norms (JVM-side fold); a 1-row
    mean broadcasts back over it; a second 1-row aggregate of squared
    deviations yields σ and broadcasts again for the cut — three passes
    over a narrow (id, norm) projection, no shuffle of the vectors.

    Cross-engine determinism needs care at this σ: the norm fold matches
    DuckDB's list_dot_product bit-for-bit (the proven l3 pattern), but the
    one-pass E[x²]−E[x]² variance catastrophically cancels (the true
    Σnorm² − n·mean² ≈ 6e-14 is at the ulp of Σnorm² ≈ 500) and can even go
    negative — so σ comes from the two-pass Σ(norm−mean)², with the mean
    routed through DECIMAL(30,12) and the ~1e-14-scale squared deviations
    through DECIMAL(38,30), making every compared value and the 2σ cut
    bit-identical on both engines.
    """
    n = with_norm(load(spark, sf_dir, "embeddings")).select("vec_id", "norm")
    m = n.agg(
        (F.sum(F.col("norm").cast("decimal(30,12)")).cast("double") / F.count(F.lit(1))).alias(
            "mean"
        )
    )
    dev2 = (F.col("norm") - F.col("mean")) * (F.col("norm") - F.col("mean"))
    s = (
        n.join(F.broadcast(m))
        .agg(
            F.first("mean").alias("mean"),
            F.sum(dev2.cast("decimal(38,30)")).cast("double").alias("ss"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("mean", F.sqrt(F.col("ss") / (F.col("cnt") - 1)).alias("sd"))
    )
    return (
        n.join(F.broadcast(s))
        .filter(F.abs(F.col("norm") - F.col("mean")) > 2.0 * F.col("sd"))
        .select(
            "vec_id", F.round((F.col("norm") - F.col("mean")) / F.col("sd"), 4).alias("zscore")
        )
    )


@query(
    "l23_kmeans_assign",
    oracle=f"""
        WITH c AS (
            SELECT vec_id AS cid, embedding AS cemb,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS cc
            FROM embeddings WHERE vec_id < 8
        ), v AS (
            SELECT vec_id, embedding,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS vv
            FROM embeddings
        ), d AS (
            SELECT vec_id, cid,
                   vv - 2 * {SQL_DDOT.format(a="v.embedding", b="c.cemb")} + cc AS d2,
                   CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY vv - 2 * {SQL_DDOT.format(a="v.embedding", b="c.cemb")}
                                + cc, cid
                   ) AS BIGINT) AS rn
            FROM v CROSS JOIN c
        )
        SELECT vec_id, cid, d2 FROM d WHERE rn = 1
    """,
    tags=("L23",),
)
def l23_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means E-step: assign every vector to its nearest of K=8 fixed
    centroids (here: the first 8 vectors — a deterministic init) by
    squared L2. The primitive under IVF coarse-quantizer training and
    semantic corpus clustering; the M-step is l10_centroids' posexplode
    mean, so Lloyd iterations compose from two already-graded shapes.

    Scale shape: centroids broadcast (K rows), candidates stream through
    the scan — O(N·K) fused multiply work, no shuffle of the vectors; the
    per-vector argmin is a WindowGroupLimit-style rank over K rows keyed
    by vec_id. Cross-engine determinism: d2 = vv - 2·ab + cc from three
    list folds, the identical IEEE expression on both engines (the proven
    l3 pattern), with cid breaking distance ties.
    """
    emb = load(spark, sf_dir, "embeddings")
    c = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            ddot("embedding", "embedding").alias("cc"),
        )
    )
    v = emb.select(
        "vec_id", "embedding", ddot("embedding", "embedding").alias("vv")
    )
    d2 = F.col("vv") - 2 * ddot("embedding", "cemb") + F.col("cc")
    w = Window.partitionBy("vec_id").orderBy(F.col("d2"), F.col("cid"))
    return (
        v.join(c)
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d2")
    )


# --- L24: iterated Lloyd k-means (E-step ∘ M-step loop) ----------------------

LLOYD_K = 8      # clusters (deterministic init: the first K vectors)
LLOYD_ITERS = 3  # E-steps run; M-steps between them (E,M,E,M,E)


def _lloyd_oracle() -> str:
    """Unrolled DuckDB twin of the Lloyd loop — generated from the same
    iteration count so both engines run the identical fixed-point steps."""
    vv = SQL_DDOT.format(a="embedding", b="embedding")
    ddot_ve = SQL_DDOT.format(a="v.embedding", b="c.cemb")
    cc = SQL_DDOT.format(a="cemb", b="cemb")
    ctes = [
        f"v AS (SELECT vec_id, embedding, {vv} AS vv FROM embeddings)",
        f"""c0 AS (
            SELECT cid, cemb, {cc} AS cc FROM (
                SELECT vec_id AS cid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
                FROM embeddings WHERE vec_id < {LLOYD_K}))""",
    ]
    for i in range(LLOYD_ITERS):
        ctes.append(f"""a{i + 1} AS (
            SELECT vec_id, cid, embedding, d2 FROM (
                SELECT v.vec_id, c.cid, v.embedding,
                       v.vv - 2 * {ddot_ve} + c.cc AS d2,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY v.vv - 2 * {ddot_ve} + c.cc, c.cid
                       ) AS rn
                FROM v CROSS JOIN c{i} c
            ) WHERE rn = 1)""")
        if i < LLOYD_ITERS - 1:
            ctes.append(f"""c{i + 1} AS (
                SELECT cid, cemb, {cc} AS cc FROM (
                    SELECT cid, list(centroid ORDER BY pos) AS cemb FROM (
                        SELECT cid, pos,
                               round({sql_dsum("comp", "DECIMAL(30,12)")}
                                     / count(*), 6) AS centroid
                        FROM (
                            SELECT cid,
                                   generate_subscripts(embedding, 1) - 1 AS pos,
                                   CAST(unnest(embedding) AS DOUBLE) AS comp
                            FROM a{i + 1})
                        GROUP BY cid, pos)
                    GROUP BY cid))""")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vec_id, cid, round(d2, 6) AS d2 FROM a{LLOYD_ITERS}"
    )


@query("l24_kmeans_lloyd", oracle=_lloyd_oracle(), tags=("L23", "L10"))
def l24_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated Lloyd k-means: LLOYD_ITERS (=3) E-steps with M-steps
    between them, composed entirely from the two already-graded primitives —
    l23's broadcast-argmin assignment and l10's posexplode decimal-exact
    centroid mean — proving the iterative-ML pattern end to end (the way
    l2_dedup_clusters proves label propagation). Output: every vector's
    final cluster and squared distance after the fixed iteration budget.

    Cross-engine determinism: each M-step rounds centroid components to
    6dp off an exact decimal mean, so both engines enter the next E-step
    with bit-identical doubles; d2 then reuses the proven l3/l23 IEEE
    fold, with cid breaking distance ties.

    Scale shape per iteration: E-step broadcasts K centroid rows over the
    vector scan (no big-side shuffle, WindowGroupLimit argmin keyed by
    vec_id); M-step is one (cid, pos) hash aggregate + a K-row array
    reassembly. The whole unrolled loop is a single lazy DAG — no
    driver-side collect between iterations.
    """
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "embedding", ddot("embedding", "embedding").alias("vv"))
    cent = (
        emb.filter(F.col("vec_id") < LLOYD_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cemb"),
        )
        .withColumn("cc", ddot("cemb", "cemb"))
    )
    assign = None
    for it in range(LLOYD_ITERS):
        d2 = F.col("vv") - 2 * ddot("embedding", "cemb") + F.col("cc")
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        assign = (
            v.join(F.broadcast(cent))
            .withColumn("d2", d2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "embedding", "d2")
        )
        if it < LLOYD_ITERS - 1:
            exploded = assign.select(
                "cid", F.posexplode("embedding").alias("pos", "comp_f")
            ).select(
                "cid",
                F.col("pos").cast("long").alias("pos"),
                F.col("comp_f").cast("double").alias("comp"),
            )
            comps = exploded.groupBy("cid", "pos").agg(
                F.round(dsum("comp", DEC12) / F.count("comp"), 6).alias("centroid")
            )
            cent = (
                comps.groupBy("cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "centroid"))
                    ).alias("pc")
                )
                .select("cid", F.transform("pc", lambda s: s["centroid"]).alias("cemb"))
                .withColumn("cc", ddot("cemb", "cemb"))
            )
    return assign.select("vec_id", "cid", F.round("d2", 6).alias("d2"))


# --- L41: SemDeDup — embedding-cluster (semantic) deduplication ---------------
#
# L2 removes lexical near-duplicates (shared shingles); SemDeDup (Abbas et
# al. 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540) removes SEMANTIC duplicates — documents
# whose embeddings nearly coincide even when their surface text differs
# (paraphrases, templated rewrites, translations). The published recipe:
# k-means-cluster the embeddings, compute pairwise cosine similarity WITHIN
# each cluster only, and drop all but one member of every near-identical
# group. Composed here from three already-graded primitives: l23's
# broadcast-argmin E-step (cells), l4's within-bucket cosine pairs, and
# l29's canonical-survivor drop rule.

SEMDEDUP_K_MIN = 8       # floor on the cell count
SEMDEDUP_CELL_TARGET = 250  # target vectors per cell: K = max(K_MIN, ⌊N/target⌋)
SEMDEDUP_THETA = 0.40    # within-cell cosine ≥ θ ⇒ semantic duplicates
# rows per stripe block in the pair kernels: caps the (block, dim)
# product/cumsum temporaries at ~4 MB for dim=64 even in a hot cell,
# without losing vectorization (one block for cells ≤ 4k). Chunking along
# the pair axis never splits a single dot product, so the left-fold IEEE
# order — and hence the oracle hash — is unchanged at any chunk size
# (pinned by tests/test_round10_ops.py with a 3-row chunk).
SEMDEDUP_PAIR_CHUNK = 4096

# K adapts to corpus size (SemDeDup's own design point: K ∝ N, e.g.
# K ≈ N/50k for LAION — here N/250 at test scale) so per-cell membership,
# and hence the within-cell pairwise stage, stays BOUNDED as the corpus
# grows: total pair work ≈ N·target/2, linear in N. Both engines derive
# K from the same floor(count/target) expression (floor, not cast:
# DuckDB's double→BIGINT cast rounds where Spark's truncates).
SQL_SEMDEDUP_K = (
    f"(SELECT greatest({SEMDEDUP_K_MIN}, CAST(floor(count(*) /"
    f" {SEMDEDUP_CELL_TARGET}) AS BIGINT)) FROM embeddings)"
)

# E-step + norm CTEs shared by both L41 oracles: assign every vector to its
# nearest seed cell (the proven l23 IEEE tree: d2 = vv − 2·ab + cc, cid
# tie-break), carrying the l2-norm for the cosine stage.
#
# Scalability form (the l43-oracle lesson, round 10): the original
# row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) ran over the
# N×K cross join CARRYING both embedding lists — at the 32× stress scale
# that is a 102M-row window sort of ~550-byte rows (~56 GB through the
# sorter), which crawled for >60 min where the 8× form took seconds. The
# rewrite keeps the N×K stream NARROW (vec_id, cid, d2 — 24 bytes) and
# replaces the window with two hash aggregates: md = min(d2) per vector,
# then min(cid) among rows with d2 = md — EXACTLY the lexicographic
# (d2, cid) minimum the window picked (d2 is the same IEEE value on both
# paths, so the equality join is exact; no NaN can occur). Embeddings
# re-join AFTER the argmin, touching N rows once. MATERIALIZED because
# dists feeds both aggregates — without it DuckDB recomputes the cross
# join twice.
SQL_SEMDEDUP_ASG = f"""
    c AS (
        SELECT vec_id AS cid, embedding AS cemb,
               {SQL_DDOT.format(a="embedding", b="embedding")} AS cc
        FROM embeddings WHERE vec_id < {SQL_SEMDEDUP_K}
    ),
    v AS (
        SELECT vec_id, label, embedding,
               {SQL_DDOT.format(a="embedding", b="embedding")} AS vv
        FROM embeddings
    ),
    dists AS MATERIALIZED (
        SELECT v.vec_id, c.cid,
               v.vv - 2 * {SQL_DDOT.format(a="v.embedding", b="c.cemb")}
               + c.cc AS d2
        FROM v CROSS JOIN c
    ),
    best AS (SELECT vec_id, min(d2) AS md FROM dists GROUP BY vec_id),
    pick AS (
        SELECT dists.vec_id, min(dists.cid) AS cid
        FROM dists JOIN best
          ON best.vec_id = dists.vec_id AND dists.d2 = best.md
        GROUP BY dists.vec_id
    ),
    asg AS (
        SELECT v.vec_id, v.label, pick.cid, v.embedding, sqrt(v.vv) AS norm
        FROM v JOIN pick ON pick.vec_id = v.vec_id
    )
"""

SQL_SEMDEDUP_PAIRS = f"""
    sem_pairs AS (
        SELECT a.cid AS cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
               {SQL_DDOT.format(a="a.embedding", b="b.embedding")}
               / (a.norm * b.norm) AS cos_raw
        FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {SQL_DDOT.format(a="a.embedding", b="b.embedding")}
              / (a.norm * b.norm) >= {SEMDEDUP_THETA}
    )
"""

# the one graded pair set of l41, l48, l49 and l52: every routing of the
# pair kernel must reproduce this self-join
SQL_SEMDEDUP_PAIRS_ORACLE = f"""
        WITH {SQL_SEMDEDUP_ASG},
        {SQL_SEMDEDUP_PAIRS}
        SELECT cid, vec_a, vec_b, round(cos_raw, 6) AS cosine
        FROM sem_pairs
    """


def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-step: (vec_id, label, cid, demb, norm) — every vector assigned
    to its nearest seed cell, with the cell count
    K = max(K_MIN, ⌊N/CELL_TARGET⌋) sized from a lazy 1-row aggregate
    (j12's bloom-sizing pattern), so cells stay ~CELL_TARGET vectors at
    any corpus size.

    The argmin runs as the VECTORIZED numpy kernel
    (``_assign_to_seeds_fast``) — the family default since round 12:
    l49 hash-graded the kernel bit-identical to the interpreted JVM fold
    against l41's unchanged oracle, and with K ∝ N the E-step is
    O(N²·d/CELL_TARGET), so leaving the ~100×-the-multiply-add
    interpreted fold (measured 6-9 µs per 64-dim seed-dot) on the
    family's dominant linear stage was the one perf-weak mark of the r11
    verdict. ``_assign_to_seeds`` (the all-JVM fold, zero collect) stays
    as the tested reference path — the parity suite proves both produce
    the same bits. Cost of the kernel path: a 1-row seed collect at
    construction (the l3_lsh model-fit class; the family is tagged
    ``eager`` + ``plan_safe``)."""
    emb = load(spark, sf_dir, "embeddings")
    return _assign_to_seeds_fast(emb, _semdedup_seeds(emb))


def _semdedup_seeds(src: DataFrame, cutoff: Column | None = None) -> DataFrame:
    """The seed table as ONE row: a cid-sorted array of (cid, cemb, cc)
    structs for the ``src`` vectors whose vec_id is below ``cutoff``, a
    1-row aggregate over ``src`` broadcast-joined lazily (j12's
    bloom-sizing pattern — nothing is collected). The default cutoff is
    SemDeDup's K = max(K_MIN, ⌊N/CELL_TARGET⌋); l47 passes its index-only
    threshold. Shared by the fold E-step (_assign_to_seeds) and the
    vectorized one (_assign_to_seeds_fast), so both score the IDENTICAL
    seed set."""
    if cutoff is None:
        cutoff = F.greatest(
            F.lit(SEMDEDUP_K_MIN),
            F.floor(F.count(F.lit(1)) / SEMDEDUP_CELL_TARGET),
        )
    k = src.agg(cutoff.alias("k"))
    return (
        src.join(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("k"))
        .select(
            F.struct(
                F.col("vec_id").alias("cid"),
                F.transform("embedding", lambda x: x.cast("double")).alias("cemb"),
                ddot("embedding", "embedding").alias("cc"),
            ).alias("s")
        )
        # array_sort on (cid, …) structs orders by cid — the fold's strict
        # d2 comparison then keeps the LOWEST cid on distance ties
        .agg(F.array_sort(F.collect_list("s")).alias("seeds"))
    )


def _assign_to_seeds(emb: DataFrame, seeds: DataFrame) -> DataFrame:
    """The E-step as an all-JVM fold: assign every ``emb`` vector to its
    nearest seed from the 1-row broadcast ``seeds`` array (cid-sorted
    structs of (cid, cemb, cc)), returning (vec_id, label, demb, norm,
    cid). Strict ``<`` on d2 over the cid-ascending array reproduces the
    oracle's ``ORDER BY d2, cid`` tie-break exactly.

    Since round 12 this is the REFERENCE path, not the graded default:
    Catalyst evaluates higher-order ``aggregate`` interpreted (~6-9 µs
    per 64-dim seed-dot — ~100× the multiply-add cost), so the family
    runs ``_assign_to_seeds_fast`` instead; this fold stays because it is
    the zero-collect, fully-lazy spelling of the identical arithmetic
    (same d2 IEEE tree, same tie-break), pinned bit-equal to the kernel
    by tests/test_round11_ops.py::test_l49_cell_assignment_matches_fold —
    the cross-engine witness that makes the kernel's oracle grading
    meaningful."""
    v = emb.select(
        "vec_id", "label", "embedding", ddot("embedding", "embedding").alias("vv")
    )
    joined = v.join(F.broadcast(seeds))

    def _step(acc, s):
        d2 = F.col("vv") - 2 * ddot("embedding", s["cemb"]) + s["cc"]
        better = acc["cid"].isNull() | (d2 < acc["d2"])
        return F.when(
            better, F.struct(d2.alias("d2"), s["cid"].alias("cid"))
        ).otherwise(acc)

    init = F.struct(
        F.lit(None).cast("double").alias("d2"), F.lit(None).cast("long").alias("cid")
    )
    best = F.aggregate("seeds", init, _step)
    return (
        joined.select(
            "vec_id", "label",
            # pre-cast ONCE per vector: the downstream pair fold then
            # multiplies doubles directly (ddot_pre) instead of casting
            # per pair — identical values, measurably cheaper hot path
            F.transform("embedding", lambda x: x.cast("double")).alias("demb"),
            F.sqrt("vv").alias("norm"),
            best["cid"].alias("cid"),
        )
        # empty seed set (empty corpus): no cells, not a NULL-cid bucket
        .filter(F.col("cid").isNotNull())
    )


def _kernel_shuffle_width(df: DataFrame) -> int:
    """Explicit reduce-side width for the pair-kernel exchanges.

    The kernel stages are CPU-dense but byte-light (a few hundred bytes
    per vector), and AQE's partition coalescing is byte-based: it folded
    the hot-cell stress layout's 8 s-of-CPU kernel stage into TWO
    partitions (measured round 11 — 13.9 s wall; with an explicit
    REPARTITION_BY_NUM exchange, which AQE never coalesces, the same
    stage ran 2.7 s on 32 workers). 2× the cluster's core count is the
    classic width: enough slack for uneven groups, no 200-empty-task
    overhead at grading sizes. Plan-time only — reading
    defaultParallelism runs no job."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism


def _assign_to_seeds_fast(emb: DataFrame, seeds: DataFrame) -> DataFrame:
    """The E-step as a VECTORIZED numpy kernel (l49) — same semantics,
    same bits as ``_assign_to_seeds``'s JVM fold, measured ~2× the
    end-to-end E-step throughput at the 32× stress scale (5.5 s → 2.9 s
    for 64k vectors × 256 seeds; the residual is scan + Arrow transfer,
    not arithmetic).

    Why: Catalyst's higher-order functions (``aggregate``/``zip_with``)
    evaluate INTERPRETED, per element — measured ~6-9 µs per 64-dim
    seed-dot, ~100× the multiply-add cost. With K ∝ N (SemDeDup's own
    sizing), the E-step is O(N²·d/CELL_TARGET) — at mid scale it
    overtakes the pair kernel as the family's dominant cost, so the
    interpreted fold is the wrong engine for it. A ``mapInPandas``
    kernel scores a whole Arrow batch against all K seeds with chunked
    elementwise numpy (peak temporaries bounded at ~32-48 MB per chunk —
    the product array, its cumsum, and the rows×K d2 together run ~2-3×
    the chunk budget, which the budget accounts for); the arithmetic
    drops from dominant to negligible, leaving the Arrow exchange as the
    new floor.

    Bit-exactness, the part that makes it gradeable against the SAME
    oracle: vv and ab are ``np.cumsum`` left folds — identical IEEE
    addition order to the JVM fold and DuckDB's ``list_dot_product``
    loop; d2 = (vv − 2·ab) + cc in the same expression order; and
    ``argmin`` over the cid-ascending seed axis returns the FIRST
    minimum — exactly the fold's strict-``<`` lowest-cid tie-break.
    float32 → float64 casts are exact on every path.

    Seed transport is a SPARK BROADCAST VARIABLE, not the 1-row join the
    fold uses: ``mapInPandas`` serializes its input columns row by row,
    so a joined seeds column would ship K·dim doubles PER VECTOR through
    Arrow (measured: the join-shipped variant ran 2.5× SLOWER than the
    fold it meant to beat — 8.4 GB of duplicated seed bytes at 32×); the
    broadcast ships one copy per worker. The cost is a 1-row collect at
    construction (the l3_lsh model-fit class — l49 is tagged ``eager``).

    Scale note: like the fold E-step this broadcasts K·dim seed doubles;
    once K reaches the millions the right move is l3_ivf_ann's bucketed
    coarse-quantizer probe, not a bigger broadcast."""
    import numpy as np

    schema = "vec_id long, label int, demb array<double>, norm double, cid long"
    spark = emb.sparkSession
    srows = seeds.collect()  # one row: the cid-sorted seed array
    seed_list = srows[0]["seeds"] if srows and srows[0]["seeds"] else []
    if not seed_list:  # empty corpus ⇒ no seeds ⇒ no cells
        return spark.createDataFrame([], schema)
    C = np.stack([np.asarray(s["cemb"], dtype=np.float64) for s in seed_list])
    cc = np.asarray([s["cc"] for s in seed_list], dtype=np.float64)
    scid = np.asarray([s["cid"] for s in seed_list], dtype=np.int64)
    bc = spark.sparkContext.broadcast((C, cc, scid))

    def assign_batches(it):
        import numpy as np
        import pandas as pd

        C, cc, scid = bc.value
        # chunk bound (ADVICE r11): the PEAK is ~2-3× the rows×K×dim
        # elementwise-product temporary — cumsum(axis=2) materializes a
        # second rows×K×dim array and d2 adds rows×K — so the 2M-element
        # budget keeps peak temporaries ~32-48 MB per chunk
        step = max(16, 2_000_000 // max(1, C.shape[0] * C.shape[1]))
        for pdf in it:
            for lo in range(0, len(pdf), step):
                chunk = pdf.iloc[lo : lo + step]
                if not len(chunk):
                    continue
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in chunk["embedding"]]
                )
                # exact left folds: cumsum reproduces ((p0+p1)+p2)+…
                vv = np.cumsum(V * V, axis=1)[:, -1]
                ab = np.cumsum(V[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
                d2 = (vv[:, None] - 2.0 * ab) + cc[None, :]
                pick = d2.argmin(axis=1)  # first min = lowest cid (sorted)
                yield pd.DataFrame(
                    {
                        "vec_id": chunk["vec_id"].to_numpy(),
                        "label": chunk["label"].to_numpy(),
                        "demb": list(V),
                        "norm": np.sqrt(vv),
                        "cid": scid[pick],
                    }
                )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        assign_batches, schema
    )


# every SemDeDup pair kernel's output; l47 renames vec_a/vec_b JVM-side
SEMDEDUP_PAIR_SCHEMA = "cid long, vec_a long, vec_b long, cos_raw double"


def _pair_kernel(theta: float, chunk: int):
    """The numpy pieces of every SemDeDup pair kernel, returned as
    closures so cloudpickle ships them by value (executors do not have
    this package, and a module-level function pickles by reference):

    - ``block(pdf)`` stacks a group's rows into (E, ids, norms);
    - ``pairs(A, B, triangle)`` scores each row i of block A against
      ``chunk``-row stripes of block B (only j > i when ``triangle``: A is
      B, sorted by id) and returns (a ids, b ids, raw cosine) for every
      pair at or above ``theta``, A's id first;
    - ``frame(cid, a, b, c)`` builds the output frame, empty ones included.

    The dot product is ``np.cumsum`` over the elementwise product: the
    same left fold ((p0+p1)+p2)+… as Spark's ``aggregate(zip_with(...))``
    and DuckDB's ``list_dot_product`` loop (0.0 + p0 ≡ p0 in IEEE), so
    every cosine is bit-equal to the SQL oracle's, and the product is
    commutative, so block membership and orientation cannot change a bit.
    Chunking the pair axis never splits one dot product: the chunk size
    only caps the (chunk, dim) temporaries. The cosine stays raw; rounding
    happens JVM-side with ``F.round`` (HALF_UP, DuckDB's convention —
    ``np.round`` is half-to-even and would diverge on exact .5 ulps)."""
    import numpy as np

    def block(pdf):
        if len(pdf):
            E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["demb"]])
        else:
            E = np.empty((0, 0))
        return E, pdf["vec_id"].to_numpy(), pdf["norm"].to_numpy()

    def pairs(A, B, triangle):
        (EA, ida, na), (EB, idb, nb) = A, B
        out_a, out_b, out_c = [], [], []
        for i in range(len(ida)):
            for j0 in range(i + 1 if triangle else 0, len(idb), chunk):
                j1 = min(j0 + chunk, len(idb))
                dots = np.cumsum(EA[i] * EB[j0:j1], axis=1)[:, -1]
                cos = dots / (na[i] * nb[j0:j1])
                m = cos >= theta
                if m.any():
                    out_a.append(np.full(int(m.sum()), ida[i]))
                    out_b.append(idb[j0:j1][m])
                    out_c.append(cos[m])
        if not out_a:
            return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
        return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)

    def frame(cid, a, b, c):
        import pandas as pd

        return pd.DataFrame(
            {
                "cid": np.full(len(a), cid, dtype=np.int64),
                "vec_a": a,
                "vec_b": b,
                "cos_raw": c,
            }
        )

    return block, pairs, frame


# l48's salt-split parameters: a cell is split into ⌈|cell|/SALT_TARGET⌉
# blocks (capped at SALT_MAX so per-row replication — each row ships to
# one group per peer block — stays bounded even for a pathological cell).
# SALT_TARGET sits inside the sf0.01 cell-size spread (8 cells of 48–70
# vectors) ON PURPOSE: grading then runs the cross-block rectangles on the
# cells above it, not just on a synthetic skew fixture.
SEMDEDUP_SALT_TARGET = 64
SEMDEDUP_SALT_MAX = 32

# l52's per-cell routing threshold: cells at or below it run as ONE block,
# cells above it split. Set INSIDE the measured sf0.01 cell-size spread (8
# cells of 48–70 vectors: K floors at K_MIN=8 there) ON PURPOSE, so the
# driver's grading run routes some cells down each path — the adaptive
# decision is the thing under test, not just one of its branches. A
# production corpus sets this at several× CELL_TARGET so balanced cells
# never pay the split's window-count + replication overhead.
SEMDEDUP_ADAPTIVE_HOT = 64


def _semdedup_pairs(
    cells: DataFrame,
    hot_threshold: int | None = None,
    split_target: int = SEMDEDUP_SALT_TARGET,
    salt_max: int = SEMDEDUP_SALT_MAX,
) -> DataFrame:
    """Within-cell cosine pairs ≥ θ as (cid, vec_a, vec_b, cos_raw) with
    vec_a < vec_b — the one SemDeDup pair kernel (l41, l48, l49, l52,
    l41_semdedup_materialize).

    Why numpy: the quadratic per-cell work runs as a vectorized kernel in
    ``applyInPandas`` — one Arrow exchange keyed by cell, then C(|cell|,2)
    dot products as array math (``_pair_kernel``). The self-join it
    replaced folded each pair with an interpreted ``aggregate``/
    ``zip_with`` that allocates a dim-sized array per pair: 3.97 s at the
    8× stress scale, >580 s at 32× (allocation-bound, not FLOP-bound).
    K ∝ N keeps the EXPECTED cell at CELL_TARGET, so parallelism grows
    with the corpus and per-task memory stays bounded for balanced cells.

    Hot cells: nearest-seed assignment bounds only the expected size. A
    clustered corpus can pour a large share of all vectors into ONE cell,
    and ``applyInPandas`` ships a whole group to one task, which then does
    C(M,2) work alone. A hot cell is therefore cut into
    S = min(⌈n_cell/split_target⌉, salt_max) blocks
    (salt = xxhash64(vec_id) mod S — deterministic, no RNG), and every
    unordered block pair {lo, hi} is its own task keyed (cid, lo, hi): a
    diagonal task (s, s) emits block s's triangle, a cross task (lo < hi)
    the lo × hi rectangle with ids ordered (min, max). Every vector pair
    lands in exactly one task, so the pair set and every cosine bit equal
    the one-block kernel's, while the cell's work spreads over S + C(S,2)
    tasks (528 at the cap) at 2·(n_cell/S)·dim memory each. The price:
    n_cell comes from a ``groupBy("cid").count()`` broadcast-joined back
    on cid (a partial aggregate, so a hot cell is counted across tasks
    instead of sorted through one window task before the split), and each
    row ships S× into the group shuffle.

    ``hot_threshold`` routes the cells:

    - ``None``: no cell is hot — every cell is one block grouped by cid
      alone, and no cell count is built (l41, l49,
      l41_semdedup_materialize). A balanced corpus never pays the count or
      the replication.
    - ``0``: every cell splits (l48).
    - ``n``: per cell at runtime — cells with n_cell ≤ n run as one block
      (S = 1: salt ≡ 0, one diagonal task, no replication), larger cells
      split (l52). The decision rides the per-cell count, so one clustered
      corpus mixes both regimes in a single pass. STRESS.md's hot-cell
      section measures the crossover (one task per cell serializes; the
      split tracks work/32).

    The exchange has an explicit width (``_kernel_shuffle_width``): the
    whole point is parallelism, so AQE byte-coalescing must not glue the
    block tasks back into two partitions (measured: 13.9 s → 2.7 s on the
    hot-cell stress layout). ``SEMDEDUP_PAIR_CHUNK`` is read here, when
    the plan is built."""
    block, pairs, frame = _pair_kernel(SEMDEDUP_THETA, SEMDEDUP_PAIR_CHUNK)

    def block_pairs(key, pdf):
        import numpy as np

        if len(key) == 1 or key[1] == key[2]:  # diagonal: one block's triangle
            b = block(pdf.sort_values("vec_id", ignore_index=True))
            ids_a, ids_b, cos = pairs(b, b, True)
        else:  # cross: the lo × hi rectangle, ids ordered (min, max)
            lo = block(pdf[pdf["salt"] == key[1]])
            hi = block(pdf[pdf["salt"] == key[2]])
            ids_a, ids_b, cos = pairs(lo, hi, False)
            ids_a, ids_b = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
        return frame(int(key[0]), ids_a, ids_b, cos)

    keys = ["cid"]
    if hot_threshold is not None:
        n_blocks = (
            F.when(F.col("n_cell") <= F.lit(hot_threshold), F.lit(1))
            .otherwise(
                F.least(
                    F.lit(salt_max), F.ceil(F.col("n_cell") / F.lit(split_target))
                )
            )
            .cast("int")
        )
        n_cell = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("n_cell"))
        cells = (
            cells.join(F.broadcast(n_cell), "cid")
            .withColumn("n_blocks", n_blocks)
            .withColumn(
                "salt", F.pmod(F.xxhash64("vec_id"), F.col("n_blocks")).cast("int")
            )
            # one output row per peer block: the row's own block pairs it
            # with every block (diagonal when peer = salt), keyed (lo, hi)
            .withColumn(
                "peer", F.explode(F.sequence(F.lit(0), F.col("n_blocks") - 1))
            )
            .select(
                "cid", "vec_id", "demb", "norm", "salt",
                F.least("salt", "peer").alias("lo"),
                F.greatest("salt", "peer").alias("hi"),
            )
        )
        keys = ["cid", "lo", "hi"]
    return (
        cells.repartition(_kernel_shuffle_width(cells), *keys)
        .groupBy(*keys)
        .applyInPandas(block_pairs, SEMDEDUP_PAIR_SCHEMA)
    )


def _graded_pairs(
    spark: SparkSession, sf_dir: str, hot_threshold: int | None = None
) -> DataFrame:
    """The graded SemDeDup pair projection shared by l41, l48, l49, l52."""
    return _semdedup_pairs(_semdedup_cells(spark, sf_dir), hot_threshold).select(
        "cid", "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine")
    )


@query(
    "l41_semdedup_pairs",
    oracle=SQL_SEMDEDUP_PAIRS_ORACLE,
    tags=("L41", "L2", "L23", "eager", "plan_safe"),
)
def l41_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 1-2: k-means cells, then within-cell semantic-duplicate
    pairs (cosine ≥ θ = 0.40, ≈ the p99.9 of the within-cell cosine
    distribution — "near-identical" in this synthetic embedding space).

    Scale shape: K adapts to the corpus — max(K_MIN, ⌊N/CELL_TARGET⌋),
    sized from a lazy 1-row aggregate (SemDeDup's own design: K ∝ N,
    K ≈ N/50k for LAION) — so per-cell membership, and hence per-cell
    pairwise work, stays BOUNDED: total pair fan-out ≈ N·CELL_TARGET/2,
    linear in N (STRESS verifies the direct oracle at 8× AND 32×). The
    E-step broadcasts the K seed rows over the vector scan (no big-side
    shuffle; once K·dim outgrows a broadcast — K in the millions — the
    E-step becomes l3_ivf_ann's bucketed probe, same semantics); the pair
    stage is one task per cell (no cell is treated as hot), shuffling
    each vector once. Cross-engine determinism: the E-step reuses l23's proven
    d2 = vv − 2·ab + cc IEEE tree (cid tie-break); cosine reuses l4's
    ddot/(norm·norm) tree; the θ compare is on the raw double on both
    engines, the graded column rounds at 6dp.
    """
    return _graded_pairs(spark, sf_dir)


@query(
    "l48_semdedup_salted",
    oracle=SQL_SEMDEDUP_PAIRS_ORACLE,
    tags=("L48", "L41", "eager", "plan_safe"),
)
def l48_semdedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs with EVERY cell salt-split (``hot_threshold=0``; the
    design is on ``_semdedup_pairs``): certifies that block-partitioned
    all-pairs reproduces l41's oracle. SALT_TARGET = 64 sits inside the
    sf0.01 cell-size spread (8 cells of 48-70 vectors), so grading runs
    both the diagonal triangles and the cross rectangles."""
    return _graded_pairs(spark, sf_dir, hot_threshold=0)


@query(
    "l49_semdedup_fast_estep",
    oracle=SQL_SEMDEDUP_PAIRS_ORACLE,
    tags=("L49", "L41", "eager", "plan_safe"),
)
def l49_semdedup_fast_estep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key that first graded the vectorized E-step
    (``_assign_to_seeds_fast``) against l41's unchanged oracle. That
    kernel is now the family default, so this key runs l41's plan; the
    all-JVM fold (``_assign_to_seeds``) stays as the tested reference."""
    return l41_semdedup_pairs(spark, sf_dir)


@query(
    "l52_semdedup_adaptive",
    oracle=SQL_SEMDEDUP_PAIRS_ORACLE,
    tags=("L52", "L48", "L41", "eager", "plan_safe"),
)
def l52_semdedup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs with PER-CELL routing
    (``hot_threshold=SEMDEDUP_ADAPTIVE_HOT``; the design is on
    ``_semdedup_pairs``): certifies that routing changes no pair and no
    bit. The threshold sits inside the sf0.01 cell-size spread (48–70
    vectors across 8 cells), so grading routes cells down BOTH paths."""
    return _graded_pairs(spark, sf_dir, hot_threshold=SEMDEDUP_ADAPTIVE_HOT)


@query(
    "l41_semdedup_materialize",
    oracle=f"""
        WITH {SQL_SEMDEDUP_ASG},
        {SQL_SEMDEDUP_PAIRS},
        dropped AS (SELECT DISTINCT vec_b AS vec_id FROM sem_pairs)
        SELECT a.label AS label,
               count(*) AS n_before,
               count(*) FILTER (WHERE d.vec_id IS NULL) AS n_after
        FROM asg a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        GROUP BY a.label
    """,
    tags=("L41", "L29", "eager", "plan_safe"),
)
def l41_semdedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 3: materialize the semantically-deduped corpus — drop
    every vector that duplicates a LOWER-id vector in its cell (the
    canonical-survivor rule: the min-id member of every duplicate group
    survives; SemDeDup's published greedy keeps one arbitrary member, this
    makes the choice deterministic the way l2/l29 do), then report
    before/after counts per label — the per-source accounting a curation
    run ships with its drop list.

    Note the drop rule is single-hop (u < v with cos(u,v) ≥ θ drops v),
    not transitive closure: a vector is kept iff NO smaller-id cell-mate
    is θ-close — exactly SemDeDup's per-point decision, cheaper than l29's
    full connected components and the published algorithm's actual shape.
    Scale shape: the drop set rides the pair join (no extra shuffle), the
    accounting is one scan with a left join against it — AQE picks
    broadcast when the drop fraction is small (l29's lesson: never force
    it).
    """
    cells = _semdedup_cells(spark, sf_dir)
    dropped = (
        _semdedup_pairs(cells)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dr", F.lit(True))
    )
    survives = F.col("dr").isNull()
    return (
        cells.join(dropped, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.count(F.when(survives, 1)).alias("n_after"),
        )
    )


# --- l47: incremental SemDeDup — new batch vs standing index ------------
#
# l40 proved the incremental shape for MinHash dedup; this is the same
# shape for SEMANTIC dedup: assign an ingest batch to the EXISTING cell
# centroids and dedup only new-vs-index within each cell — the production
# semantic-dedup loop (full l41 self-dedup is the backfill job; day-to-day
# you ask "is this new vector a semantic dup of anything indexed?").

# Seed threshold over the standing index: seeds are the index vectors with
# vec_id < S, S = max(12, ⌊3·N_idx/500⌋). Two of every three ids below S
# are index members, so the seed count lands at ≈ N_idx/CELL_TARGET — the
# same K ∝ N sizing as l41, derived from the INDEX alone (the batch must
# not move the persisted centroids). Both engines spell the floor
# identically (floor of a double division, l41's convention).
SQL_L47_SEED_S = (
    "(SELECT greatest(12, CAST(floor(count(*) * 3 / 500) AS BIGINT))"
    " FROM embeddings WHERE vec_id % 3 != 0)"
)


@query(
    "l47_incremental_semdedup",
    oracle=f"""
        WITH c AS (
            SELECT vec_id AS cid, embedding AS cemb,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS cc
            FROM embeddings
            WHERE vec_id % 3 != 0 AND vec_id < {SQL_L47_SEED_S}
        ),
        v AS (
            SELECT vec_id, embedding,
                   {SQL_DDOT.format(a="embedding", b="embedding")} AS vv
            FROM embeddings
        ),
        -- narrow-stream argmin, not a window over the wide cross join:
        -- the same two-hash-aggregate form as SQL_SEMDEDUP_ASG (exact
        -- lexicographic (d2, cid) minimum), which scales linearly where
        -- the window sort crawled at the 32x stress scale
        dists AS MATERIALIZED (
            SELECT v.vec_id, c.cid,
                   v.vv - 2 * {SQL_DDOT.format(a="v.embedding", b="c.cemb")}
                   + c.cc AS d2
            FROM v CROSS JOIN c
        ),
        best AS (SELECT vec_id, min(d2) AS md FROM dists GROUP BY vec_id),
        pick AS (
            SELECT dists.vec_id, min(dists.cid) AS cid
            FROM dists JOIN best
              ON best.vec_id = dists.vec_id AND dists.d2 = best.md
            GROUP BY dists.vec_id
        ),
        asg AS (
            SELECT v.vec_id, pick.cid, v.embedding, sqrt(v.vv) AS norm
            FROM v JOIN pick ON pick.vec_id = v.vec_id
        )
        SELECT n.cid AS cid, n.vec_id AS doc_new, i.vec_id AS dup_of,
               round({SQL_DDOT.format(a="n.embedding", b="i.embedding")}
                     / (n.norm * i.norm), 6) AS cosine
        FROM asg n JOIN asg i ON n.cid = i.cid
        WHERE n.vec_id % 3 = 0 AND i.vec_id % 3 != 0
          AND {SQL_DDOT.format(a="n.embedding", b="i.embedding")}
              / (n.norm * i.norm) >= {SEMDEDUP_THETA}
    """,
    tags=("L47", "L41", "L40", "eager", "plan_safe"),
)
def l47_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: detect which vectors of a NEW ingest batch
    (fixture split: vec_id % 3 == 0, l40's convention) are semantic
    duplicates (cosine ≥ θ) of the STANDING index (the other two thirds) —
    without ever pairing the index against itself. Cells come from the
    index alone: seeds are the index vectors below the S threshold
    (≈ N_idx/CELL_TARGET seeds, the l41 sizing derived from a lazy 1-row
    aggregate over the index — the ingest batch cannot move the persisted
    centroids, which is what makes the loop incremental), and BOTH sides
    are assigned to those cells by the shared vectorized E-step kernel
    (``_assign_to_seeds_fast``, the family default since round 12).

    Scale shape: in production the index's cell assignments are a
    materialized table (write once at backfill, reuse every ingest — l40's
    pattern), so an incremental run folds ONLY the new batch over the
    broadcast seed array and shuffles it once on the cell key; the
    new-vs-index kernel does |new_in_cell| × |idx_in_cell| work per cell —
    cost O(batch · CELL_TARGET), independent of corpus size. This graded
    plan recomputes the index assignment inline (same reason l40 rebuilds
    the band index: the gate grades end-to-end), which adds the one
    corpus-linear projection a backfill would amortize. Cross-engine
    determinism: the E-step is l41's proven d2 = vv − 2·ab + cc IEEE tree
    (cid tie-break); the shared pair loop (``_pair_kernel``) reproduces
    the oracle's list_dot_product left fold with the NEW vector as the
    left operand, and the norm product multiplies new·index in the
    oracle's order."""
    emb = load(spark, sf_dir, "embeddings")
    idx = emb.filter(F.col("vec_id") % 3 != 0)
    cutoff = F.greatest(F.lit(12), F.floor(F.count(F.lit(1)) * 3 / 500))
    cells = _assign_to_seeds_fast(emb, _semdedup_seeds(idx, cutoff))
    block, pairs, frame = _pair_kernel(SEMDEDUP_THETA, SEMDEDUP_PAIR_CHUNK)

    def cell_cross_pairs(key, pdf):
        new = pdf["vec_id"].to_numpy() % 3 == 0
        # the new × index rectangle, new vector first (the oracle's order)
        return frame(int(key[0]), *pairs(block(pdf[new]), block(pdf[~new]), False))

    # explicit-width exchange on cid (see _kernel_shuffle_width): the
    # new-vs-index kernel is the same CPU-dense/byte-light shape AQE's
    # byte-based coalescing serialized on the l41 path
    return (
        cells.repartition(_kernel_shuffle_width(cells), "cid")
        .groupBy("cid")
        .applyInPandas(cell_cross_pairs, SEMDEDUP_PAIR_SCHEMA)
        .select(
            "cid",
            F.col("vec_a").alias("doc_new"),
            F.col("vec_b").alias("dup_of"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# --- l42: sign-random-projection LSH ANN (Charikar 2002, SimHash for
# vectors) -------------------------------------------------------------
#
# l3_lsh_ann is rows-only because MLlib seeds its projections from RNG state
# DuckDB cannot replay. Here the hyperplanes are a public LCG of (bit, dim)
# that both engines evaluate identically, so the whole pipeline is graded.

SRP_BITS = 32  # signature width
SRP_BANDS = 8  # 8 bands x 4 bits: band collision prob = (1 - theta/pi)^4
# Bit budget picked from a measured sweep on the sf0.01 fixture (recall@5
# vs exact l3_cosine_topk / candidate fraction scanned): 16/4 -> .30/.22,
# 32/8 -> .44/.33, 24/8 -> .64/.52, 16/8 -> .90/.84. The synthetic
# embeddings are near-uniform random — SRP's adversarial case (true-NN
# cosine barely clears noise, so sign bits carry little margin); clustered
# real-corpus embeddings sit far to the left of this curve. 32x8 is the
# knee: 3x pruning at recall ~.44, and the re-rank stays exact over
# whatever the bands admit.
SRP_DIM = 64  # embeddings.embedding is fixed 64-dim (TESTDATA.md)

# hyperplane component w(b, d) = LCG(b*DIM + d + 1) mapped to [-0.5, 0.5):
# integer arithmetic (exact on both engines), one double division.
SQL_SRP_HYPERPLANE = (
    f"list_transform(range(0, {SRP_DIM}), d -> "
    f"CAST((1103515245 * (CAST({{b}} AS BIGINT) * {SRP_DIM} + d + 1) + 12345) "
    f"% 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"
)


def _srp_hyperplane(b: Column) -> Column:
    """The bit-``b`` hyperplane as a 64-float array column (matches
    SQL_SRP_HYPERPLANE value-for-value: same integer LCG, same single
    double division)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(SRP_DIM - 1)),
        lambda d: (
            (
                F.lit(1103515245).cast("long")
                * (b.cast("long") * SRP_DIM + d + 1)
                + 12345
            )
            % F.lit(2147483648).cast("long")
        ).cast("double")
        / 2147483648.0
        - 0.5,
    )


def _srp_bands(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bandval) — the banded SRP signature of every vector.

    Signature bit b = [embedding · w(b) >= 0]; both engines fold the dot
    product left-to-right over identical doubles (ddot ≡ list_dot_product),
    and the >= 0 threshold compares bit-identical IEEE values. Bits pack
    into SRP_BANDS band values of SRP_BITS/SRP_BANDS bits each. The whole
    signature is one codegen projection — zero shuffle, O(BITS·DIM) flops
    per row — so at 100 TB it rides the scan."""
    rbits = SRP_BITS // SRP_BANDS
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(SRP_BITS - 1)),
        lambda b: F.when(ddot("embedding", _srp_hyperplane(b)) >= 0, 1).otherwise(0),
    )
    sig = emb.select("vec_id", bits.alias("bits"))
    # little-endian pack (bit i weighs 2^i), folded most-significant-first
    # as acc*2 + bit — shiftleft() needs a Python-int bit count, a fold
    # variable is a Column
    bandval = F.aggregate(
        F.sequence(F.lit(rbits - 1), F.lit(0), F.lit(-1)),
        F.lit(0),
        lambda acc, i: acc * 2 + F.element_at("bits", F.col("band") * rbits + i + 1),
    )
    return (
        sig.select("vec_id", "bits", F.explode(F.sequence(F.lit(0), F.lit(SRP_BANDS - 1))).alias("band"))
        .select("vec_id", "band", bandval.alias("bandval"))
    )


@query(
    "l42_srp_ann",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id,
                   list_transform(range(0, {SRP_BITS}), b ->
                       CASE WHEN {SQL_DDOT.format(a="embedding", b=SQL_SRP_HYPERPLANE.format(b="b"))} >= 0
                            THEN 1 ELSE 0 END) AS bits
            FROM embeddings
        ),
        bands AS (
            SELECT vec_id, j AS band,
                   bits[4*j+1] + 2*bits[4*j+2] + 4*bits[4*j+3] + 8*bits[4*j+4] AS bandval
            FROM sig, UNNEST(range(0, {SRP_BANDS})) t(j)
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bands q JOIN bands c ON q.band = c.band AND q.bandval = c.bandval
            WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
        ),
        {SQL_NORMED}
        {SQL_RERANK}
        FROM cand JOIN normed q ON q.vec_id = cand.query_id
                  JOIN normed c ON c.vec_id = cand.neighbor_id
        QUALIFY rn <= 5
    """,
    tags=("L3", "L42"),
)
def l42_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH top-5 (Charikar 2002) — the deterministic,
    hash-graded twin of the rows-only l3_lsh_ann. A query's candidates are
    the vectors sharing ANY of its 8 band values (32-bit signature, 8 bands
    × 4 bits; collision prob per band ≈ (1 − θ/π)^4), which prunes ~3× of
    the corpus per query here.

    The signatures ride the scan (codegen, no shuffle) and the band join
    shuffles 8-byte (band, bandval) keys, not embeddings. At 100 TB the
    corpus side would be written bucketed by (band, bandval) so probes
    partition-prune, like l3_ivf_ann's inverted lists. Recall is
    banding-bounded: the refine is exact only over the candidates."""
    emb = load(spark, sf_dir, "embeddings")
    bands = _srp_bands(emb)
    q_bands = F.broadcast(_query_batch(bands).withColumnRenamed("vec_id", "query_id"))
    cand = (
        q_bands.join(bands, ["band", "bandval"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rerank_topk(_join_vectors(cand, with_norm(emb)), 5)


# --- L51: product-quantization ANN (ADC; Jégou, Douze, Schmid 2011) ---------
#
# Split the space into M subspaces, quantize each against its own small
# codebook (dim doubles → M bytes per vector) and score with Asymmetric
# Distance Computation: the query stays exact, each candidate costs M table
# lookups. Codebooks are seed sub-vectors (vec_id < PQ_K, the l23/l3_ivf
# convention), so there is no k-means RNG and the pipeline is hash-graded.

PQ_M = 8       # subspaces (64 dims → 8 per subspace)
PQ_DSUB = 8    # dims per subspace
PQ_K = 16      # codewords per subspace (a real PQ uses 256; 16 keeps the
               # DuckDB oracle's encode join at N×M×16 rows)
PQ_TOPK = 5

SQL_PQ_SUBD = (
    "s.vv - 2 * list_dot_product(s.vs, c.cvec) + c.cc"
)


def _pq_subspaces(col: str = "embedding") -> Column:
    """Array of PQ_M double-cast subspace slices of a float-vector column."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.transform(
            F.slice(col, m * PQ_DSUB + 1, PQ_DSUB), lambda x: x.cast("double")
        ),
    )


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """The M codebooks as ONE row: an (m, k)-sorted array of
    (m, k, cvec, cc) structs — PQ_M·PQ_K entries, a few KB — shipped as a
    broadcast 1-row join exactly like the SemDeDup seed array (lazy, no
    collect). Codewords are the sub-vectors of the PQ_K seed vectors."""
    sub = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("int").alias("k"),
        F.posexplode(_pq_subspaces()).alias("m", "cvec"),
    )
    return sub.select(
        F.struct(
            F.col("m").cast("int").alias("m"),
            F.col("k").alias("k"),
            F.col("cvec").alias("cvec"),
            ddot_pre("cvec", "cvec").alias("cc"),
        ).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("cb"))


@query(
    "l51_pq_ann",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        subd AS MATERIALIZED (
            SELECT e.vec_id, ms.m,
                   list_slice(e.v, ms.m * {PQ_DSUB} + 1,
                              ms.m * {PQ_DSUB} + {PQ_DSUB}) AS vs,
                   list_dot_product(
                       list_slice(e.v, ms.m * {PQ_DSUB} + 1,
                                  ms.m * {PQ_DSUB} + {PQ_DSUB}),
                       list_slice(e.v, ms.m * {PQ_DSUB} + 1,
                                  ms.m * {PQ_DSUB} + {PQ_DSUB})) AS vv
            FROM e CROSS JOIN ms
        ),
        cb AS (
            SELECT m, vec_id AS k, vs AS cvec, vv AS cc
            FROM subd WHERE vec_id < {PQ_K}
        ),
        -- narrow-stream argmin (the SemDeDup two-hash-aggregate form):
        -- exact lexicographic (d2, k) minimum per (vector, subspace)
        dists AS MATERIALIZED (
            SELECT s.vec_id, s.m, c.k, {SQL_PQ_SUBD} AS d2
            FROM subd s JOIN cb c ON c.m = s.m
        ),
        best AS (SELECT vec_id, m, min(d2) AS md FROM dists GROUP BY vec_id, m),
        codes AS (
            SELECT d.vec_id, d.m, min(d.k) AS code
            FROM dists d JOIN best b
              ON b.vec_id = d.vec_id AND b.m = d.m AND d.d2 = b.md
            GROUP BY d.vec_id, d.m
        ),
        -- ADC: the candidate's code selects the QUERY's precomputed
        -- query-to-codeword distance in each subspace
        terms AS (
            SELECT qd.vec_id AS query_id, co.vec_id AS neighbor_id,
                   qd.m AS m, qd.d2 AS term
            FROM codes co
            JOIN dists qd ON qd.m = co.m AND qd.k = co.code
            WHERE qd.vec_id >= 10 AND qd.vec_id < 20
              AND co.vec_id != qd.vec_id
        ),
        folded AS (
            SELECT query_id, neighbor_id, list(term ORDER BY m) AS l
            FROM terms GROUP BY query_id, neighbor_id
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]+l[8] AS adc_raw,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]+l[8],
                                neighbor_id
                   ) AS rn
            FROM folded
        )
        SELECT query_id, neighbor_id, round(adc_raw, 6) AS adc_d2,
               CAST(rn AS BIGINT) AS rn
        FROM scored WHERE rn <= {PQ_TOPK}
    """,
    tags=("L51", "L3"),
)
def l51_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over query batch 1: every vector is a
    candidate, scored by the PQ-approximated squared distance (ADC,
    ascending). No cross join and nothing collected:

    (1) ENCODE is a projection: the (m,k)-sorted codebook array (PQ_M·PQ_K
        structs, a few KB) rides a broadcast 1-row join, and each vector's
        M codes come from an argmin fold over its subspace's PQ_K-entry
        slice, reducing the corpus to M small ints per vector. At
        production scale the fold swaps for the l49 mapInPandas kernel.
    (2) The QUERY-side lookup table (M·K query-to-codeword distances) is
        computed once per query — ADC's whole point.
    (3) SCORING broadcasts the tiny (query_id, lut) table over the encoded
        corpus: each candidate costs M lookups + M adds.
    Cross-engine determinism: sub-distances reuse the d2 = (vv − 2·ab) + cc
    IEEE tree per subspace with a strict-< lowest-k tie-break (the
    oracle's two-hash-aggregate argmin); the ADC sum folds m-ascending
    from 0.0 (≡ the oracle's left-associative 8-term chain)."""
    emb = load(spark, sf_dir, "embeddings")
    cb = _pq_codebook(emb)

    def with_subspaces(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cb))
            .withColumn("vs", _pq_subspaces())
            .withColumn("vvs", F.transform("vs", lambda s: ddot_pre(s, s)))
        )

    # (1) encode: per subspace m, argmin over the codebook's m-slice
    init = F.struct(
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("int").alias("k"),
    )

    def argmin_code(m: Column) -> Column:
        def step(acc, c):
            d2 = (
                F.get("vvs", m)
                - 2 * ddot_pre(F.get("vs", m), c["cvec"])
                + c["cc"]
            )
            better = acc["k"].isNull() | (d2 < acc["d2"])
            return F.when(
                better, F.struct(d2.alias("d2"), c["k"].alias("k"))
            ).otherwise(acc)

        return F.aggregate(F.slice("cb", m * PQ_K + 1, PQ_K), init, step)["k"]

    coded = with_subspaces(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(PQ_M - 1)), argmin_code
        ).alias("codes"),
    )

    # (2) query LUT: all M·K query-to-codeword distances, one projection
    luts = with_subspaces(_query_batch(emb, 1)).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            "cb",
            lambda c: F.get("vvs", c["m"])
            - 2 * ddot_pre(F.get("vs", c["m"]), c["cvec"])
            + c["cc"],
        ).alias("lut"),
    )

    # (3) ADC scoring: M lookups + M adds per (query, candidate)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc + F.get("lut", m * PQ_K + F.get("codes", m)),
    )
    pairs = (
        F.broadcast(luts)
        .join(coded, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_raw", adc)
    )
    return _topk(pairs, "adc_raw", PQ_TOPK, asc=True).select(
        "query_id", "neighbor_id", F.round("adc_raw", 6).alias("adc_d2"), "rn"
    )
