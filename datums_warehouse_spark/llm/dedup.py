"""Deduplication operators for training-data pipelines (SURVEY.md §2.11).

Exact (hash group-by), MinHash+LSH (shingle → minhash → band bucket →
candidate join → Jaccard verify), SimHash, exact n-gram Jaccard (inverted
index), PPJoin-style prefix-filtered exact Jaccard, and connected-components
clustering of the near-dup graph — all pure DataFrame pipelines over
cross-engine-portable integer hashing (functions/hashing.py), so every
stage is graded against the DuckDB oracle, not just smoke-checked.

Scale shape: shingling explodes ~Ntokens rows per doc, minhash reduces back
to one row per doc (map-side combinable min), the LSH band join only pairs
docs sharing a bucket — never an all-pairs product. That's the 100 TB path;
the Jaccard verify join touches candidate pairs only, and the final
keep/drop decision closes pairs into components (l2_dedup_clusters).

Oracle note: the shared shingle CTE is declared AS MATERIALIZED — DuckDB
would otherwise inline and recompute the md5 shingling once per reference
(up to 4× in the multi-stage oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datums_warehouse_spark.functions.hashing import (
    MINHASH_AS,
    MINHASH_BS,
    MINHASH_P,
    hash48,
    minhash_expr,
    sql_hash48,
)
from datums_warehouse_spark.functions.determinism import davg, sql_davg
from datums_warehouse_spark.llm.splits import SQL_SPLITS, split_col
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import load, spread

N_HASHES = 8
N_BANDS = 4  # 4 bands × 2 rows

# --- shared shingle pipeline -------------------------------------------------
#
# Shingle identity IS its 48-bit hash: every consumer (minhash, Jaccard
# intersection, fingerprint) only ever compares/hashes shingles, so the
# string never needs to leave the row it was built in. Hashing inside the
# per-doc array and dedup-ing with list/array_distinct means (a) NO shuffle
# for the distinct (it's per-doc by construction) and (b) all downstream
# shuffles/joins move 8-byte longs, not 3-word strings — measured 2× faster
# at sf0.1 and the win grows with document size. Hash collisions
# (~n²/2⁴⁹ per doc) merge a shingle pair in BOTH engines identically, so
# the oracle grade is unaffected.

_SQL_TOKS = "string_split(text, ' ')"

SQL_SHINGLES = f"""
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(len({_SQL_TOKS}) - 2),
               i -> {sql_hash48(
                   f"{_SQL_TOKS}[i + 1] || ' ' || {_SQL_TOKS}[i + 2] || ' ' || {_SQL_TOKS}[i + 3]"
               )}
           ))) AS h
    FROM documents
"""


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct hashed n-word shingles per document: (doc_id, h).

    Tokens are projected into a real array column first: expressions
    inside ``transform`` lambdas get no common-subexpression elimination,
    so referencing ``split(text)`` directly would re-split the text for
    every ``element_at`` (≈3× tokens per doc — measured 4× slower).
    """
    toks = F.col("toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    hashed = F.transform(
        idx,
        lambda i: hash48(
            F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)])
        ),
    )
    # guard: for docs with < n tokens, sequence(0, size-n) would DESCEND
    # and element_at(toks, 0) throws — emit no shingles (DuckDB's
    # range(len-2) is empty there too)
    hashed_safe = F.when(F.size(toks) >= n, hashed).otherwise(
        F.array().cast("array<long>")
    )
    # Spread at HALF parallelism (round 13, re-measured CACHE-COLD): the
    # r12 decline ("0.86 s unspread vs 0.91 at width 8") was taken under
    # the old bench, whose scoped cache survived across timed passes, so
    # no variant ever paid the md5 shingle build — only the per-partition
    # reuse overhead showed. With the cache released per pass (the honest
    # bench contract since r13) the build runs every pass, and on the
    # single-row-group grading scan it serializes on ONE core. Five-pass
    # cache-cold A/B of the full l2_minhash_lsh_pairs at sf0.1: unspread
    # 1.32–2.09 s, width 4 → ~1.10, width 8 → ~0.98, width 16 (= cores/2)
    # → 0.79–0.84, width 64 → ~1.04. Narrow beats wide because every
    # cached partition still costs each of the ≤6 consumers a task per
    # reuse (the part of the r12 measurement that stands). Scale-gated as
    # always: multi-partition production inputs skip the repartition.
    sc = docs.sparkSession.sparkContext
    docs = spread(docs, "doc_id", width=max(2, sc.defaultParallelism // 2))
    return docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(F.array_distinct(hashed_safe)).alias("h")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """One row per doc: N_HASHES minhash columns mh0..mh7 plus the doc's
    shingle count ``n`` — the Jaccard verify stage's size table riding the
    SAME aggregation, so one pass over the shingle stream yields both the
    band keys and the sizes. Consumers read ``n`` from the index's cached
    signature frame: column pruning splits an uncached aggregate into a
    minhash pass and a count pass, but cannot split a cached relation."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_AS[i]) * F.col("h") + F.lit(MINHASH_BS[i]))
                % F.lit(MINHASH_P)
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ],
        F.count(F.lit(1)).alias("n"),
    )


SQL_SIGNATURES = f"""
    SELECT doc_id,
           {", ".join(
               f"min({minhash_expr(i, 'h')}) AS mh{i}"
               for i in range(N_HASHES)
           )}
    FROM ({SQL_SHINGLES})
    GROUP BY doc_id
"""



SQL_JACCARD_CTES = """
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS ni
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
            GROUP BY c.doc_a, c.doc_b
        )
"""


def sql_jaccard_verify(threshold: float) -> str:
    """Shared oracle tail: sizes/intersection/Jaccard filter over CTEs
    ``sh`` (doc_id, h) and ``cand`` (doc_a, doc_b)."""
    return f"""
        {SQL_JACCARD_CTES}
        SELECT doc_a, doc_b,
               CAST(ni AS DOUBLE) / (na.n + nb.n - ni) AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= {threshold}
    """


def jaccard_verify(
    cand: DataFrame, sh: DataFrame, threshold: float, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over candidate pairs: |A∩B| / (|A|+|B|-|A∩B|) ≥ θ.

    Touches candidate pairs only — the verify stage shared by the LSH and
    blocked-exact dedup pipelines.

    Size-ratio prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) exactly, so a
    pair failing min ≥ θ·max can never verify — pruned with a broadcast
    join BEFORE the shingle-intersection join (the expensive stage, whose
    input is pairs × shingles). Exact pruning: the final result set is
    unchanged, only the candidate stream shrinks.

    ``sizes`` (doc_id, n) lets a caller that already aggregated per-doc
    shingle counts (the index's signature frame) pass them in,
    skipping this function's own full pass over ``sh``; identical by
    construction — both count the rows of the same distinct-shingle
    frame.
    """
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ratio_ok = F.least("na", "nb").cast("double") >= threshold * F.greatest(
        "na", "nb"
    ).cast("double")
    cand = (
        cand.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .filter(ratio_ok)
    )
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.h") == F.col("x.h")))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# --- L1: exact dedup ---------------------------------------------------------


@query(
    "l1_exact_dedup",
    oracle="""
        SELECT doc_id, md5(text) AS content_hash
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    tags=("L1",),
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content hash.

    At scale this is one shuffle on the 128-bit hash — no text comparison;
    the testdata is dup-free so survivors == all docs (count-preserving,
    FIXTURES.md).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


@query(
    "l1_dedup_stats",
    oracle="""
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_distinct,
               count(*) - count(DISTINCT md5(text)) AS n_dup_rows
        FROM documents
    """,
    tags=("L1",),
)
def l1_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dup accounting (one row)."""
    d = load(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_hash").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("content_hash")).alias("n_dup_rows"),
    )


# --- L2: MinHash + LSH near-dup ----------------------------------------------

JACCARD_THRESHOLD = 0.5

# The (sigs, bands) CTE prefix shared by every LSH oracle — l2/l37's
# self-join cand (SQL_LSH_CAND) and l40's cross-wall cand both append
# their own cand CTE to this, so the banding format has ONE definition.
SQL_LSH_BANDS = f"""
        sigs AS ({SQL_SIGNATURES.replace(SQL_SHINGLES, "SELECT * FROM sh")}),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, concat(mh{2*b}, '_', mh{2*b+1}) AS sig FROM sigs"
                for b in range(N_BANDS)
            )}
        )"""

SQL_LSH_CAND = f"""{SQL_LSH_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                                     AND a.doc_id < b.doc_id
        )
"""


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Explode minhash signatures into their N_BANDS (doc_id, band, sig)
    LSH bucket keys — the ONE Spark-side definition of the banding format
    (mh-pair indices, '_' separator), shared by lsh_candidates' self-join
    and l40's new-vs-index probe so consumers can never desynchronize."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", f"mh{2 * b}", f"mh{2 * b + 1}").alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b) from minhash signatures:
    explode each doc into its N_BANDS (band, sig) bucket keys, self-join on
    the bucket — never all-pairs. Shared by l2's dedup pipeline and l37's
    calibration so the two can never desynchronize on banding."""
    bands = lsh_bands(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --- the dedup index ---------------------------------------------------------
#
# Seven queries (l2 pairs, l2 clusters, l18, l26, l29, l37, l40) and the two
# exact-Jaccard shingle consumers share one chain: shingles → signatures →
# LSH candidates → verified pairs → components. A _DedupIndex holds each
# stage of it for one (session, sf_dir): a stage is derived on first use and
# pinned with .cache(), so building a lazy query still runs no job — the
# first query that materializes a stage pays for it, every later query
# scans it. Components are the exception: label propagation is iterative,
# so they are computed when first asked for (their consumers are tagged
# eager). At most ONE index is live; asking for another (session, sf_dir)
# releases the old one first.
#
# release_caches() is the single release point and unpersists every stage.
# Whoever re-runs queries against the same files and wants each run to pay
# for its own build must call it before each run, outside any timer
# (observe.timed_pass does, for bench.py, scripts/stress.py and
# scripts/corescale.py; the perfbench workloads call it between passes);
# a long-lived session calls it when it is done with dedup. The index never notices a rewritten input file — release
# it after rewriting one.


class _DedupIndex:
    """Lazily built, cached stages of the MinHash/LSH dedup chain over one
    (session, sf_dir) documents table."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self._stages: dict[str, DataFrame] = {}

    def _stage(self, name: str, build) -> DataFrame:
        df = self._stages.get(name)
        if df is None:
            df = self._stages[name] = build().cache()
        return df

    @property
    def shingles(self) -> DataFrame:
        """(doc_id, h): distinct hashed 3-word shingles per document."""
        return self._stage(
            "shingles", lambda: shingles(load(self.spark, self.sf_dir, "documents"))
        )

    @property
    def sigs(self) -> DataFrame:
        """(doc_id, mh0..mh7, n): minhash signature and shingle count."""
        return self._stage("sigs", lambda: minhash_signatures(self.shingles))

    @property
    def candidates(self) -> DataFrame:
        """(doc_a, doc_b): banded LSH candidate pairs, doc_a < doc_b."""
        return self._stage("candidates", lambda: lsh_candidates(self.sigs))

    @property
    def pairs(self) -> DataFrame:
        """(doc_a, doc_b, jaccard): candidates verified at JACCARD_THRESHOLD."""
        return self._stage(
            "pairs",
            lambda: jaccard_verify(
                self.candidates,
                self.shingles,
                JACCARD_THRESHOLD,
                sizes=self.sigs.select("doc_id", "n"),
            ),
        )

    @property
    def components(self) -> DataFrame:
        """(doc_id, cluster_id, keep): connected components of the pair
        graph, labeled by their smallest doc_id. Eager: runs label
        propagation on first access."""
        return self._stage("components", self._components)

    def _components(self) -> DataFrame:
        pairs = self.pairs
        edges = (
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
            .unionByName(
                pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
            )
            .localCheckpoint(eager=True)  # per-round plans start from a leaf
        )
        labels = min_label_propagation(self.spark, edges)
        return labels.select(
            F.col("u").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("u") == F.col("label")).alias("keep"),
        )

    def release(self) -> None:
        for df in self._stages.values():
            df.unpersist()
        self._stages.clear()


_INDEX: _DedupIndex | None = None


def dedup_index(spark: SparkSession, sf_dir: str) -> _DedupIndex:
    """The live dedup index for (spark, sf_dir), created on first use."""
    global _INDEX
    if _INDEX is None or _INDEX.spark is not spark or _INDEX.sf_dir != sf_dir:
        release_caches()
        _INDEX = _DedupIndex(spark, sf_dir)
    return _INDEX


def release_caches() -> None:
    """Unpersist every stage of the live dedup index and drop it; the next
    dedup query rebuilds what it needs."""
    global _INDEX
    if _INDEX is not None:
        _INDEX.release()
        _INDEX = None


@query(
    "l2_minhash_lsh_pairs",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_LSH_CAND},
        {sql_jaccard_verify(JACCARD_THRESHOLD)}
    """,
    tags=("L2",),
)
def l2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-duplicate pairs with exact-Jaccard verification.

    shingle → 8 portable minhashes → 4 LSH bands → bucket self-join →
    Jaccard ≥ 0.5 verify on candidates only. Hand-rolled (not MLlib
    MinHashLSH) so the arithmetic is deterministic integer math that the
    oracle reproduces exactly (SURVEY.md §4.3.3).
    """
    return dedup_index(spark, sf_dir).pairs


# --- L2: near-dup clusters (connected components) ----------------------------



@query(
    "l2_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_LSH_CAND},
        {SQL_JACCARD_CTES},
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= {JACCARD_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT u, u AS x FROM edges
            UNION
            SELECT r.u, e.v AS x FROM reach r JOIN edges e ON e.u = r.x
        )
        SELECT u AS doc_id, min(x) AS cluster_id,
               u = min(x) AS keep
        FROM reach GROUP BY u
    """,
    tags=("L2", "iterative", "eager"),
)
def l2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash/LSH
    pair graph, via iterative min-label propagation — the keep/drop
    decision step of a dedup pipeline (cluster_id = smallest doc_id in the
    component; that doc is the canonical survivor, ``keep`` marks it).

    Each round is a neighbor-min join plus a pointer jump (label ←
    label[label]), so rounds are O(log diameter) — the same guarantee as
    public large-star/small-star contraction — and near-dup components
    are tiny anyway (dup clusters, not a social graph): 2-3 rounds in
    practice, ~10 even for a 1000-link chain. ``localCheckpoint``
    truncates the growing plan per round. The oracle replays it as a
    recursive reachability CTE.
    """
    return dedup_index(spark, sf_dir).components


def min_label_propagation(
    spark: SparkSession, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components over a symmetric ``(u, v)`` edge table via
    min-label propagation WITH pointer jumping; returns ``(u, label)``
    with label = min vertex id of the component.

    Each round does (1) neighbor propagation — every vertex takes the min
    of its own and its neighbors' labels — and (2) a pointer jump,
    ``label ← label[label]``, which halves chain depth like the public
    large-star/small-star alternation (Kiveris et al. 2014): rounds are
    O(log diameter), not O(diameter), so a pathological chain-shaped
    duplicate cluster (the r07 VERDICT worst case) converges in ~10
    rounds at diameter 1000 instead of hitting the cap. Fixpoint proof
    sketch: labels only decrease and are always component-internal vertex
    ids; at a fixpoint L(u) = min(L(u), L(v), L(L(u))) over every edge
    (u,v) forces L constant per component with L(c) = c, and the only
    self-labeled vertex a monotone-decreasing label can settle on is the
    component min. ``max_rounds`` stays as a loud safety cap (now only
    reachable past diameter ~2^rounds)."""
    from datums_warehouse_spark.session import scoped_conf

    # Size-aware clamp: each round shuffles the edge table, so partition
    # count should track |edges|, not the session default — 2 partitions
    # when tiny (round 12: each round is ~10 kilobyte-sized stages, so
    # per-task overhead dominates; 8 → 2 measured −0.2 s on the full
    # query, 4-variant interleaved A/B), 8 when small, full core count
    # once the edge list is large (the 32× stress warehouse showed the
    # fixed clamp of 8 idling 3/4 of the machine). Callers pass a
    # (local)checkpointed edge table, so the count is a cheap cached
    # action, and this query is eager by contract anyway.
    #
    # Deliberately NOT turning AQE off inside the loop, although its
    # per-micro-stage re-planning looks like pure overhead here: AQE's
    # runtime conversion of the loop's tiny joins to broadcast is worth
    # more than the planning latency costs — the same interleaved A/B
    # measured AQE-off at +0.45 s (static plans keep sort-merge joins
    # over checkpointed RDD leaves with unknown stats).
    n_edges = edges.count()
    if n_edges < 100_000:
        parts = 2
    elif n_edges < 1_000_000:
        parts = 8
    else:
        parts = spark.sparkContext.defaultParallelism
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": str(parts)}):
        labels = None
        for _ in range(max_rounds):
            if labels is None:
                # Round 1 specialization (round 13): with self-id initial
                # labels, neighbor propagation is min(u, min v over N(u))
                # — computable straight off the edge table as ONE keyed
                # aggregate, folding away both the labels-init distinct
                # and the round-1 edges⋈labels join (3 shuffles → 1;
                # groupBy(u) over the symmetric edges covers exactly the
                # vertex set distinct(u) did). Loop A/B at sf0.1:
                # 0.56–0.70 → 0.47–0.53 s, identical labels, chain tests
                # unchanged.
                stepped = (
                    edges.select("u", F.least("u", "v").alias("label"))
                    .groupBy("u")
                    .agg(F.min("label").alias("label"))
                )
            else:
                neigh = edges.join(
                    labels.select(F.col("u").alias("v"), "label"), "v"
                ).select("u", "label")
                stepped = (
                    labels.unionByName(neigh)
                    .groupBy("u")
                    .agg(F.min("label").alias("label"))
                )
            # pointer jump: label ← label[label]. Every label value is a
            # vertex id that owns a row in ``stepped`` (labels start as
            # self-ids and min-propagation only moves existing ids), so
            # the inner self-join is total.
            jump = stepped.join(
                stepped.select(
                    F.col("u").alias("label"), F.col("label").alias("jumped")
                ),
                "label",
            ).select("u", F.col("jumped").alias("label"))
            # lazy checkpoint: the convergence count right below is the
            # action that materializes it — one job per round, not two
            labels = (
                stepped.unionByName(jump)
                .groupBy("u")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
            )
            # Convergence witness (round 13): L is final iff no edge joins
            # two different labels. Proof: labels are monotone (L(u) ≤ u,
            # from self-id init + min steps) and every label value is an
            # in-component vertex id with its own L row; zero discordant
            # edges over a SYMMETRIC edge table forces L constant = m per
            # component, m's own row gives L(m) = m, and m > min(C) would
            # contradict L(min(C)) ≤ min(C) < m — so L(C) = min(C), the
            # answer. The old Σlabel comparison could only observe "nothing
            # changed" by running one MORE full round (4 shuffles + agg);
            # this witness fires in the round convergence happens —
            # measured rounds 2 → 1 on the sf0.1 pair graph, identical
            # labels, −0.2–0.5 s per pass. Costs two labels⋈edges probe
            # joins per round (AQE broadcasts the label side), which the
            # saved round's neigh-join + jump-join + two aggs dominate.
            n_discord = (
                edges.join(
                    labels.select("u", F.col("label").alias("lu")), "u"
                )
                .join(
                    labels.select(
                        F.col("u").alias("v"), F.col("label").alias("lv")
                    ),
                    "v",
                )
                .filter(F.col("lu") != F.col("lv"))
                .count()
            )
            if n_discord == 0:
                return labels
        raise RuntimeError(
            f"label propagation did not converge in {max_rounds} rounds "
            "(graph diameter exceeds the cap — raise max_rounds)"
        )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 16


@query(
    "l2_simhash",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok, count(*) AS cnt FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
            ) GROUP BY doc_id, tok
        ),
        bits AS (
            SELECT doc_id, i,
                   SUM(cnt * (2 * ((h >> i) & 1) - 1)) AS s
            FROM (SELECT doc_id, cnt, {sql_hash48("tok")} AS h FROM toks)
            CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS i)
            GROUP BY doc_id, i
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1 << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits
        GROUP BY doc_id
    """,
    tags=("L2",),
)
def l2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit frequency-weighted SimHash fingerprint per document.

    Per-bit majority vote over token hashes weighted by term frequency,
    then bit assembly — two hash aggregations, no all-pairs stage;
    integer-exact cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", hash48("tok"))
    )
    bit_idx = F.broadcast(spark.range(SIMHASH_BITS).select(F.col("id").alias("i")))
    bits = (
        toks.join(bit_idx)
        .withColumn("bit", F.expr("(h >> CAST(i AS INT)) & 1"))
        .groupBy("doc_id", "i")
        .agg(F.sum(F.col("cnt") * (2 * F.col("bit") - 1)).alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << CAST(i AS INT)")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("simhash")
    )


NGRAM_JACCARD_THRESHOLD = 0.25


@query(
    "l2_ngram_jaccard_pairs",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        src AS (SELECT doc_id, lang FROM documents),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM src a JOIN src b ON a.lang = b.lang AND a.doc_id < b.doc_id
        ),
        {sql_jaccard_verify(NGRAM_JACCARD_THRESHOLD)}
    """,
    tags=("L2",),
)
def l2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by language.

    Inverted-index shape, not pair-first: any pair with J ≥ θ > 0 shares at
    least one shingle, so self-joining the (doc, shingle) index on shingle
    enumerates every qualifying pair WITH its exact intersection count in
    one pass — cost is Σ_s df(s)² (pairs that actually co-occur), not
    |block|² × shingles (every in-block pair times its shingle list). On
    this corpus that's ~2.8M joined rows vs ~140M pair-expanded rows.

    At 100 TB the hazard is a viral shingle (df in the millions) squaring;
    the standard exact mitigations are prefix filtering (PPJoin) or a df
    cap with a fallback pass — or use l2_minhash_lsh_pairs, whose LSH
    bands bound candidates regardless of term frequency. AQE skew-join
    splits oversized shingle partitions here.
    """
    docs = load(spark, sf_dir, "documents")
    sh = dedup_index(spark, sf_dir).shingles
    # lang rides along on the index rows so the block predicate is part of
    # the self-join condition (broadcast: the doc→lang map is tiny next to
    # the shingle index; at scale it's a co-partitioned join on doc_id)
    shl = sh.join(F.broadcast(docs.select("doc_id", "lang")), "doc_id")
    x, y = shl.alias("x"), shl.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        inter.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .filter(jac >= NGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# --- L2: PPJoin prefix-filtered exact Jaccard --------------------------------

PPJOIN_THRESHOLD = 0.8  # prefix keeps (1-θ)·|d|+1 shingles: pruning power rises with θ

SQL_PPJOIN_CAND = f"""
        dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
        ranked AS (
            SELECT s.doc_id, s.h,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY d.df, s.h
                   ) AS rn,
                   count(*) OVER (PARTITION BY s.doc_id) AS sz
            FROM sh s JOIN dfreq d ON d.h = s.h
        ),
        prefix AS (
            SELECT doc_id, h FROM ranked
            WHERE rn <= sz - CAST(ceil({PPJOIN_THRESHOLD} * sz) AS BIGINT) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
        )
"""


@query(
    "l2_ppjoin_pairs",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_PPJOIN_CAND},
        {sql_jaccard_verify(PPJOIN_THRESHOLD)}
    """,
    tags=("L2", "scale"),
)
def l2_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via PPJoin-style prefix filtering — the
    viral-shingle mitigation for exact all-pairs similarity at 100 TB.

    Order each doc's shingles rarest-first (by global document frequency,
    ties by hash); two sets with J ≥ θ MUST share a shingle within their
    first |d| - ⌈θ·|d|⌉ + 1 shingles (prefix-filter principle, PPJoin /
    Xiao et al.), so the candidate self-join runs on the PREFIX index only.
    A shingle appearing in millions of docs sorts last and never enters a
    prefix unless a doc is tiny — Σ df(prefix)² stays bounded where the
    full inverted index's Σ df(s)² explodes. Exact: same result set as the
    unpruned join; the Jaccard verify stage is shared with LSH dedup.
    """
    from pyspark.sql import Window

    sh = dedup_index(spark, sf_dir).shingles

    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "h")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "h")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("sz", F.count(F.lit(1)).over(w_size))
    )
    prefix_len = F.col("sz") - F.ceil(
        F.lit(PPJOIN_THRESHOLD) * F.col("sz")
    ).cast("long") + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select("doc_id", "h")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return jaccard_verify(cand, sh, PPJOIN_THRESHOLD)


# --- L18: train/eval decontamination -----------------------------------------

# Stop-shingle threshold: max(100, 1% of train docs). Absolute floors are
# a scale bug — at 32× corpus size every cross-document shingle exceeds a
# fixed df cap and the query silently finds nothing (measured in
# STRESS.md); a corpus-relative cap keeps "boilerplate" meaning the same
# thing at every scale. At the graded SFs the floor of 100 is binding, so
# results there are unchanged.
DECON_STOP_DF = 100      # absolute floor of the stop-shingle threshold
DECON_STOP_FRAC = 100    # relative cap: n_train_docs // this (i.e. 1%)
DECON_MIN_OVERLAP = 0.3  # fraction of an eval doc's shingles found in one train doc


@query(
    "l18_decontamination",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        lim AS (
            SELECT greatest({DECON_STOP_DF},
                            count(DISTINCT doc_id) // {DECON_STOP_FRAC}) AS df_cap
            FROM sh WHERE doc_id % 10 != 0
        ),
        tr AS (
            SELECT * FROM sh WHERE doc_id % 10 != 0
            AND h IN (
                SELECT h FROM sh WHERE doc_id % 10 != 0
                GROUP BY h HAVING count(*) <= (SELECT df_cap FROM lim)
            )
        ),
        esz AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY doc_id),
        hits AS (
            SELECT ev.doc_id AS eval_doc, tr.doc_id AS train_doc, count(*) AS ni
            FROM ev JOIN tr ON tr.h = ev.h
            GROUP BY 1, 2
        )
        SELECT eval_doc, train_doc,
               CAST(ni AS DOUBLE) / esz.n AS overlap
        FROM hits JOIN esz ON esz.doc_id = eval_doc
        WHERE CAST(ni AS DOUBLE) / esz.n >= {DECON_MIN_OVERLAP}
    """,
    tags=("L18", "scale"),
)
def l18_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag eval documents whose shingle sets
    substantially appear inside some training document — the n-gram
    collision check every LLM pipeline runs before trusting a benchmark
    (eval split here: ``doc_id % 10 == 0``, a deterministic stand-in for a
    held-out set).

    Scale shape: one shared shingle pipeline, split into eval/train legs;
    candidate generation is an equi-join on the 8-byte shingle hash — an
    inverted index probe, never eval × train. Stop-shingles (train-side
    document frequency above max({DECON_STOP_DF}, 1% of train docs) — a
    corpus-RELATIVE cap, so the filter means the same thing at every
    scale) are dropped BEFORE the join: a boilerplate shingle shared by
    millions of training docs would
    otherwise fan every eval doc out millions of ways while carrying no
    contamination signal — the same viral-key mitigation as PPJoin's
    prefix filter, and exact for any eval doc small relative to the stop
    threshold × overlap bound.
    """
    sh = dedup_index(spark, sf_dir).shingles
    is_eval = F.col("doc_id") % 10 == 0
    ev = sh.filter(is_eval)
    tr = sh.filter(~is_eval)
    cap = tr.agg(
        F.greatest(
            F.lit(DECON_STOP_DF).cast("long"),
            (F.countDistinct("doc_id") / DECON_STOP_FRAC).cast("long"),
        ).alias("df_cap")
    )
    rare = (
        tr.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("df") <= F.col("df_cap"))
    )
    tr = tr.join(rare.select("h"), "h")
    esz = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hits = (
        ev.select(F.col("doc_id").alias("eval_doc"), "h")
        .join(tr.select(F.col("doc_id").alias("train_doc"), "h"), "h")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    overlap = F.col("ni").cast("double") / F.col("n")
    # Plain shuffle join, NOT broadcast: esz has one row per eval document,
    # and the eval split grows with the corpus (~10% of docs here) — an
    # unbounded side must never be pinned broadcast or it OOMs executors at
    # 100 TB. It shares the eval_doc key with hits' aggregation, so AQE can
    # colocate the exchange; broadcast stays reserved for genuinely bounded
    # sides (the one-row df_cap above).
    return (
        hits.join(esz.select(F.col("doc_id").alias("eval_doc"), "n"), "eval_doc")
        .filter(overlap >= DECON_MIN_OVERLAP)
        .select("eval_doc", "train_doc", overlap.alias("overlap"))
    )


# --- L26: cross-split near-dup leakage audit ---------------------------------


@query(
    "l26_cross_split_leakage",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_LSH_CAND},
        {SQL_JACCARD_CTES},
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= {JACCARD_THRESHOLD}
        ),
        {SQL_SPLITS}
        SELECT least(sa.split, sb.split) AS split_lo,
               greatest(sa.split, sb.split) AS split_hi,
               count(*) AS n_leaked_pairs
        FROM pairs
        JOIN splits sa ON sa.doc_id = doc_a
        JOIN splits sb ON sb.doc_id = doc_b
        WHERE sa.split != sb.split
        GROUP BY 1, 2
    """,
    tags=("L26",),
)
def l26_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: near-duplicate pairs (the L2 MinHash/LSH
    pipeline's verified pairs) whose two documents landed on DIFFERENT
    sides of the deterministic train/val/test wall (l25) — the benchmark-
    contamination number a training pipeline must drive to ~zero before
    trusting its eval metrics. Composes two already-graded components the
    way l24 composes l23+l10.

    Scale shape: the pair set (∝ true near-dup count) joins the tiny
    (doc_id → split) map twice — both probes are hash joins on doc ids;
    the split map derives in-line from the scan, no extra state. Output is
    |split pairs| ≤ 3 rows, grouped on the lexicographically ordered pair
    so the row identity is engine-independent.
    """
    docs = load(spark, sf_dir, "documents")
    splits = docs.select("doc_id", split_col().alias("split"))
    pairs = dedup_index(spark, sf_dir).pairs.select("doc_a", "doc_b")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_leaked_pairs"))
    )


# --- L29: end-to-end near-dup removal — the materialized deduped corpus ------


@query(
    "l29_dedup_materialize",
    oracle=f"""
        WITH RECURSIVE sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_LSH_CAND},
        {SQL_JACCARD_CTES},
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= {JACCARD_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT u, u AS x FROM edges
            UNION
            SELECT r.u, e.v AS x FROM reach r JOIN edges e ON e.u = r.x
        ),
        dropped AS (
            SELECT u AS doc_id FROM reach GROUP BY u HAVING u != min(x)
        )
        SELECT d.source,
               count(*) AS n_docs_before,
               count(*) FILTER (WHERE dr.doc_id IS NULL) AS n_docs_after,
               CAST(sum(len(string_split(d.text, ' ')))
                    FILTER (WHERE dr.doc_id IS NULL) AS BIGINT) AS tokens_after
        FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
        GROUP BY d.source
    """,
    tags=("L29", "iterative", "eager"),
)
def l29_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal, materialized: run the full L2 pipeline
    (shingle → MinHash → LSH bands → Jaccard-verified pairs → connected
    components), drop every non-canonical cluster member (keep = smallest
    doc_id, l2_dedup_clusters' rule), and report the surviving corpus per
    source — documents and tokens before/after. This is the step that
    actually SHIPS a deduped training corpus; the earlier L-queries grade
    its ingredients.

    Scale shape: the drop set is |non-canonical members| and on a heavily
    duplicated crawl that can be a LARGE fraction of the corpus, so no
    broadcast hint is forced — the join keys on doc_id and AQE picks
    broadcast when the built drop side is actually small, falling back to
    a shuffle join when it isn't (r07 ADVICE: a forced broadcast made the
    build side unbounded at 100 TB). The final pass stays one full scan
    against the drop keys (a left join + null test so before/after come
    from the same aggregate), after the bucketed LSH pipeline whose
    scaling STRESS.md measures. To write the corpus itself, replace the
    aggregate with ``d.join(drop, "doc_id", "left_anti").write`` — same
    plan minus the rollup.
    """
    clusters = dedup_index(spark, sf_dir).components
    dropped = clusters.filter(~F.col("keep")).select("doc_id", F.lit(True).alias("dr"))
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    survives = F.col("dr").isNull()
    return (
        d.join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_before"),
            F.count(F.when(survives, 1)).alias("n_docs_after"),
            F.sum(F.when(survives, n_tok)).alias("tokens_after"),
        )
    )


# --- L33: substring-level duplicated-passage detection & removal -------------
#
# L1 drops whole-document duplicates and L2 drops near-duplicate documents;
# neither touches the standard crawl-curation case of REPEATED SPANS shared
# across otherwise-distinct documents (boilerplate headers, license blocks,
# syndicated paragraphs). The public method (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better") finds substrings of >= N
# tokens that occur more than once in the corpus; this is its shingle-
# inverted-index formulation: a position is duplicated iff the W-token gram
# starting there also occurs in ANOTHER document, and maximal runs of
# duplicated positions merge into passages (gaps-and-islands).

PASSAGE_W = 10  # minimum duplicated span, in tokens (Lee et al. use 50 BPE)

_SQL_PW = PASSAGE_W
SQL_PASSAGE_CTES = f"""
    ppos AS (
        SELECT doc_id,
               unnest(range(greatest(len({_SQL_TOKS}) - {_SQL_PW - 1}, 0))) AS pos,
               {_SQL_TOKS} AS tk
        FROM documents
    ),
    pgrams AS (
        SELECT doc_id, pos,
               {sql_hash48(
                   f"array_to_string(list_slice(tk, pos + 1, pos + {_SQL_PW}), ' ')"
               )} AS h
        FROM ppos
    ),
    pshared AS (
        SELECT h, count(DISTINCT doc_id) AS ndocs
        FROM pgrams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    pdup AS (SELECT doc_id, pos, ndocs FROM pgrams JOIN pshared USING (h)),
    pbrk AS (
        SELECT doc_id, pos, ndocs,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         > {_SQL_PW} THEN 1 ELSE 0 END AS b
        FROM pdup
    ),
    pisl AS (
        SELECT doc_id, pos, ndocs,
               sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM pbrk
    ),
    pspans AS (
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + {_SQL_PW} - min(pos) AS BIGINT) AS span_len,
               CAST(max(ndocs) - 1 AS BIGINT) AS n_sharers
        FROM pisl GROUP BY doc_id, island
    )
"""


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated passages: (doc_id, span_start, span_len, n_sharers).

    Scale shape: positional W-gram hashing is a per-row projection (the
    gram string never leaves its row — only 8-byte hashes shuffle); the
    per-gram document count is ``size(collect_set(doc_id)) OVER
    (PARTITION BY h)``, one shuffle with no probe join; the island merge
    runs under Window.partitionBy(doc_id) — every window scan local to its
    document's shuffle partition.

    Hot grams: every position of one gram lands in one task, and the
    window's collect_set buffer grows with the number of distinct
    documents sharing that gram. A hot boilerplate gram (a licence line or
    a nav footer repeated across the corpus) is therefore worked through
    in a single task that AQE cannot split, and its cost grows
    quadratically in the documents sharing it: one gram shared by D docs
    on top of 200k cold rows, written to a ``noop`` sink on 4 cores, took
    8.0 / 27.0 / 108.7 s at D = 50k / 100k / 200k. The rest of the
    pipeline is linear in corpus volume.
    """
    from pyspark.sql import Window

    W = PASSAGE_W
    # spread (tables.spread): both consumers of g re-evaluate the W-gram
    # md5 projection, and a single-row-group grading file would run each
    # on ONE core; the scale-gated repartition parallelizes both branches
    # (and the two branches' identical scan→repartition subtree collapses
    # into one ReusedExchange). No-op on a well-split production input.
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = F.col("toks")
    npos = F.greatest(F.size(toks) - (W - 1), F.lit(0))
    gram = F.transform(
        F.sequence(F.lit(0), npos - 1),
        lambda i: hash48(F.concat_ws(" ", F.slice(toks, i + 1, W))),
    )
    # guard: npos == 0 would make sequence(0, -1) DESCEND (same hazard as
    # llm.text.ngrams_of); emit no positions for docs shorter than W tokens
    grams_arr = F.when(npos >= 1, gram).otherwise(F.array().cast("array<long>"))
    g = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "h")
    )
    # Round 13 (VERDICT r12 task 3): the gram stream used to feed TWO
    # consumers — a countDistinct inverted index and the probe join back
    # onto itself — so the W-gram md5 projection was EVALUATED TWICE
    # (two Generates over two scans; at the 32× stress scale, where the
    # spread gate is off and hashing dominates, that double evaluation
    # was the whole cost). One window over the gram hash does both jobs
    # in one pass: collect_set(doc_id) OVER (PARTITION BY h) is the
    # distinct-doc count attached to every position without a join, and
    # the stream shuffles ONCE (the same h-colocation the old probe join
    # needed anyway). Identical rows: ndocs = |{doc_id : share h}| ≥ 2
    # either way. Measured: 1× 1.04 → 0.91 s; 32× 11.9 → 4.8 s (one
    # Generate in the plan, was two).
    dup = (
        g.withColumn(
            "ndocs", F.size(F.collect_set("doc_id").over(Window.partitionBy("h")))
        )
        .filter(F.col("ndocs") >= 2)
        .select("doc_id", "pos", "ndocs")
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wo) > W, 1).otherwise(0)
    isl = dup.select(
        "doc_id",
        "pos",
        "ndocs",
        F.sum(brk).over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + W - F.min("pos")).cast("long").alias("span_len"),
        (F.max("ndocs") - 1).cast("long").alias("n_sharers"),
    ).drop("island")


@query(
    "l33_dup_passages",
    oracle=f"""
        WITH {SQL_PASSAGE_CTES}
        SELECT doc_id, span_start, span_len, n_sharers FROM pspans
    """,
    tags=("L33", "scale"),
)
def l33_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicated passages (Lee et al. 2022 shape): every
    maximal run of corpus positions whose {PASSAGE_W}-token gram also
    occurs in another document, as (doc_id, span_start, span_len,
    n_sharers). n_sharers is the largest number of OTHER documents sharing
    any gram in the span. All-integer output — bit-stable cross-engine.
    """
    return _dup_spans(spark, sf_dir).select(
        "doc_id", "span_start", "span_len", "n_sharers"
    )


@query(
    "l33_passage_scrub",
    oracle=f"""
        WITH {SQL_PASSAGE_CTES},
        perdoc AS (
            SELECT doc_id, sum(span_len) AS dup_tokens FROM pspans GROUP BY doc_id
        )
        SELECT d.source,
               count(*) AS n_docs,
               count(p.doc_id) AS docs_touched,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tokens_total,
               CAST(coalesce(sum(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
               CAST(sum(len(string_split(d.text, ' ')))
                    - coalesce(sum(p.dup_tokens), 0) AS BIGINT) AS tokens_after
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
        GROUP BY d.source
    """,
    tags=("L33", "scale"),
)
def l33_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage removal audit, per source: documents touched and
    token volume before/after cutting every duplicated span (the corpus a
    passage-level scrubber would ship). Integer-exact like l31's audit:
    counts and token sums only, no floats, so the rollup hash-grades.

    Scale shape: _dup_spans' linear pipeline, one per-doc rollup of span
    lengths (spans are disjoint by construction, so the sum IS the cut
    volume), then a doc_id-keyed left join back to the corpus scan and a
    per-source hash aggregate. No broadcast hint on the span side — on a
    boilerplate-heavy crawl most documents carry spans (l29's lesson).
    """
    spans = _dup_spans(spark, sf_dir)
    perdoc = spans.groupBy("doc_id").agg(F.sum("span_len").alias("dup_tokens"))
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    return (
        d.join(perdoc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dup_tokens").alias("docs_touched"),
            F.sum("n_tok").alias("tokens_total"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            (F.sum("n_tok") - F.coalesce(F.sum("dup_tokens"), F.lit(0)))
            .cast("long")
            .alias("tokens_after"),
        )
    )


# --- L37: MinHash estimator calibration --------------------------------------


@query(
    "l37_minhash_calibration",
    oracle=f"""
        WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
        {SQL_LSH_CAND},
        {SQL_JACCARD_CTES},
        est AS (
            SELECT c.doc_a, c.doc_b,
                   ({" + ".join(
                       f"CAST(sa.mh{i} = sb.mh{i} AS BIGINT)"
                       for i in range(N_HASHES)
                   )}) AS matches
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.doc_a
            JOIN sigs sb ON sb.doc_id = c.doc_b
        ),
        jac AS (
            SELECT e.matches,
                   CAST(COALESCE(i.ni, 0) AS DOUBLE)
                       / (na.n + nb.n - COALESCE(i.ni, 0)) AS j
            FROM est e
            JOIN sizes na ON na.doc_id = e.doc_a
            JOIN sizes nb ON nb.doc_id = e.doc_b
            LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        )
        SELECT matches,
               CAST(matches AS DOUBLE) / {N_HASHES} AS est_jaccard,
               count(*) AS n_pairs,
               {sql_davg("j")} AS avg_jaccard,
               min(j) AS min_jaccard,
               max(j) AS max_jaccard
        FROM jac GROUP BY matches
    """,
    tags=("L37", "L2"),
)
def l37_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration — the QA step a pipeline runs before
    trusting an LSH dedup sweep: over every LSH candidate pair, compare
    the minhash ESTIMATE of Jaccard (matching components / N_HASHES)
    against the EXACT shingle Jaccard, rolled up per estimate bucket.
    A well-calibrated sketch shows avg_jaccard tracking est_jaccard; a
    drifting row tells you the band/threshold configuration is unsafe
    before you delete terabytes on its say-so.

    Pairs that share an LSH bucket through hash coincidence alone can have
    ZERO common shingles — the intersection join is LEFT, coalescing ni to
    0, so those pairs calibrate at exact-Jaccard 0 instead of silently
    vanishing (an inner join would bias the calibration upward).

    Scale shape: reads the dedup index's shingles, signature frame
    (minhashes and sizes from one aggregate) and banded candidates (never
    all-pairs); adds one signature equi-join per side, which carries both
    sizes, and the same candidates-only intersection join l2's verify
    pays. Per-pair doubles are bit-identical across engines (one
    division); the per-bucket mean goes through the decimal sum, so the
    9-row calibration table hash-grades.
    """
    index = dedup_index(spark, sf_dir)
    sh, sigs, cand = index.shingles, index.sigs, index.candidates

    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)],
        F.col("n").alias("na"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)],
        F.col("n").alias("nb"),
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(N_HASHES)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "na", "nb", matches.alias("matches"))
    )

    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.h") == F.col("x.h")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    jac = ni.cast("double") / (F.col("na") + F.col("nb") - ni)
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .select("matches", jac.alias("j"))
        .groupBy("matches")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            davg("j").alias("avg_jaccard"),
            F.min("j").alias("min_jaccard"),
            F.max("j").alias("max_jaccard"),
        )
        .select(
            "matches",
            (F.col("matches").cast("double") / N_HASHES).alias("est_jaccard"),
            "n_pairs",
            "avg_jaccard",
            "min_jaccard",
            "max_jaccard",
        )
    )


# --- L40: incremental dedup — new batch vs existing index ---------------------


@query(
    "l40_incremental_dedup",
    # composed from the SAME shared pieces as l2's oracle (SQL_LSH_BANDS +
    # sql_jaccard_verify) — only the cand CTE differs (cross-wall probe
    # instead of self-join) and an outer SELECT renames the pair columns;
    # no string surgery, so a formatting edit to either shared piece can't
    # silently regress this to the self-join.
    oracle=f"""
        SELECT doc_a AS doc_new, doc_b AS dup_of, jaccard FROM (
            WITH sh AS MATERIALIZED ({SQL_SHINGLES}),
            {SQL_LSH_BANDS},
            cand AS (
                SELECT DISTINCT n.doc_id AS doc_a, i.doc_id AS doc_b
                FROM bands n JOIN bands i ON n.band = i.band AND n.sig = i.sig
                WHERE n.doc_id % 3 = 0 AND i.doc_id % 3 != 0
            ),
            {sql_jaccard_verify(JACCARD_THRESHOLD)}
        )
    """,
    tags=("L40", "scale"),
)
def l40_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: dedup a NEW ingest batch against the
    EXISTING corpus index without re-pairing the corpus against itself —
    the shape every continuously-crawling pipeline actually runs (full
    self-join dedup is a backfill job; day-to-day you only ask "is this
    new document a near-dup of anything we already have?").

    The fixture splits documents deterministically (doc_id % 3 == 0 is
    the "new batch", the rest is the standing index). Both sides read the
    dedup index's one signature frame; the LSH band join is NEW×INDEX
    instead of the l2 self-join, so candidate count scales with
    |new|·bucket-hit rate, NOT |corpus|²; exact-Jaccard confirm touches
    candidates only (same verify stage as l2, size-ratio pruned).

    Scale shape at 100 TB: the index side's band keys are a materialized
    table in production (write once, reuse every ingest), so an
    incremental run shuffles ONLY the new batch's shingles plus the
    band-bucket probe — cost is O(new batch), independent of corpus
    size; the equi-join on (band, sig) shards across executors and AQE
    handles hot buckets. This plan grades the probe+confirm end-to-end.
    """
    index = dedup_index(spark, sf_dir)
    sigs = index.sigs
    bands = lsh_bands(sigs)
    new_b = bands.filter(F.col("doc_id") % 3 == 0).alias("n")
    idx_b = bands.filter(F.col("doc_id") % 3 != 0).alias("i")
    cand = (
        new_b.join(
            idx_b,
            (F.col("n.band") == F.col("i.band")) & (F.col("n.sig") == F.col("i.sig")),
        )
        .select(F.col("n.doc_id").alias("doc_a"), F.col("i.doc_id").alias("doc_b"))
        .distinct()
    )
    return jaccard_verify(
        cand, index.shingles, JACCARD_THRESHOLD, sizes=sigs.select("doc_id", "n")
    ).select(
        F.col("doc_a").alias("doc_new"), F.col("doc_b").alias("dup_of"), "jaccard"
    )


# --- L50: C4-style cross-corpus line dedup -----------------------------------
#
# C4 (Raffel et al. 2020, "Exploring the Limits of Transfer Learning…",
# public) removes any LINE that occurs three or more times across the
# whole corpus — the curation stage between whole-document exact dedup
# (l1: one hash per doc) and sub-document gram-span detection (l33:
# positional gram islands): boilerplate lines (nav bars, cookie banners,
# license headers) repeat verbatim across unrelated documents and survive
# both. The synthetic documents table has no newline characters, so the
# fixture's deterministic "line" boundary is consecutive
# C4_LINE_TOKENS-token windows (position // C4_LINE_TOKENS) — the
# segmentation is a fixture stand-in; the operator (corpus-wide line
# counting, threshold removal, ordered reassembly) is exactly C4's.

C4_LINE_TOKENS = 8   # tokens per fixture "line"
C4_DUP_THRESHOLD = 3  # C4's published rule: drop lines occurring ≥ 3×

SQL_C4_LINES = f"""
    tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents
    ),
    lines AS (
        SELECT doc_id, source,
               pos // {C4_LINE_TOKENS} AS line_no,
               string_agg(tk, ' ' ORDER BY pos) AS line
        FROM tok GROUP BY doc_id, source, pos // {C4_LINE_TOKENS}
    ),
    hashed AS (
        SELECT doc_id, source, line_no, line,
               {sql_hash48("line")} AS h
        FROM lines
    ),
    linecnt AS (SELECT h, count(*) AS cnt FROM hashed GROUP BY h)
"""


@query(
    "l50_c4_line_dedup",
    oracle=f"""
        WITH {SQL_C4_LINES}
        SELECT m.doc_id AS doc_id,
               m.source AS source,
               count(*) AS n_lines,
               count(*) FILTER (WHERE c.cnt >= {C4_DUP_THRESHOLD})
                   AS n_removed,
               coalesce(
                   string_agg(m.line, ' ' ORDER BY m.line_no)
                       FILTER (WHERE c.cnt < {C4_DUP_THRESHOLD}),
                   '') AS kept_text
        FROM hashed m JOIN linecnt c ON c.h = m.h
        GROUP BY m.doc_id, m.source
    """,
    tags=("L50", "L1", "L33", "scale"),
)
def l50_c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus line dedup: drop every line occurring ≥ 3
    times corpus-wide, reassemble each document from its surviving lines
    in original order, and report per-doc removal counts (the ``source``
    column rides along so the per-source removed-lines audit is one
    group-by away, l31's convention).

    Scale shape: the line table is built WITHOUT a token-level explode —
    one codegen projection turns each doc into its array of
    C4_LINE_TOKENS-token lines (``transform`` over a ``sequence`` of
    window indexes + ``slice``/``array_join``), so the exploded stream is
    ~N_tokens/8 rows, each immediately reduced to a 48-bit line hash. The
    corpus count is ONE hash group-by on that integer key (map-side
    combinable; the shuffle carries (hash, count) — never line text), and
    the removal decision joins back on the same key, where AQE broadcasts
    the (small) ≥3× side on a balanced corpus — l29's lesson: measured
    boilerplate fractions are tiny, don't force it. Reassembly sorts each
    doc's surviving lines with ``array_sort`` on (line_no, …) structs
    inside one hash aggregate — per-doc memory is the doc itself, no
    window, no global sort. Cross-engine determinism: line membership is
    exact text equality via the shared 48-bit md5 key
    (functions/hashing.py — identical on both engines); reassembly order
    is line_no, unique per doc; a fully-boilerplate doc keeps
    kept_text = '' on both engines (array_join ≡ coalesced string_agg)."""
    L = C4_LINE_TOKENS
    # not spread: line splitting is plain token slicing, no hashing —
    # block A/B at sf0.1 measured 0.21 s unspread vs 0.35 s spread
    #
    # NULL-text guard (ADVICE r12): the oracle's unnest emits no rows for
    # a NULL text, so such a doc is absent from its output; the r12
    # docs-side left join would have RETAINED it with NULL n_lines.
    # Latent today (the fixtures carry no NULL text) but pinned here so
    # the row sets stay identical under any input.
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(L)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * L + 1, L), " "),
    )
    # Round-12 shape (guide §8: decide with small rows, move big rows
    # once — or here, zero times). The original plan shuffled LINE TEXT
    # twice: once through the count join on h, once into the
    # collect_list reassembly aggregate keyed by doc_id. But every
    # decision depends only on the 48-bit line hash, and each doc's own
    # row already holds its lines IN ORDER — so the reassembly needs no
    # explode, no sort aggregate, and no text shuffle at all: explode
    # hashes only (24 B/row), count them, semi-join the exploded hash
    # stream against the ≥3× hash set (tiny ⇒ AQE broadcasts it),
    # aggregate the removed line ordinals per doc (a few ints), and
    # join THAT back to the intact doc row, where array ops cut the
    # flagged lines out of the per-row line array. Same outputs bit for
    # bit: dup ⟺ corpus count(h) ≥ 3 either way, and kept_text joins
    # the surviving lines in line_no order, which ``transform`` has
    # preserved since construction.
    harr = F.transform(lines_arr, lambda ln: hash48(ln))
    hashed = docs.select("doc_id", F.posexplode(harr).alias("line_no", "h"))
    dup_h = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= C4_DUP_THRESHOLD)
        .select("h")
    )
    removed = (
        hashed.join(dup_h, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("line_no").alias("removed"))
    )
    gone = F.coalesce(F.col("removed"), F.array().cast("array<int>"))
    kept = F.filter(lines_arr, lambda ln, i: ~F.array_contains(gone, i))
    return docs.join(removed, "doc_id", "left").select(
        "doc_id",
        "source",
        n_lines.cast("long").alias("n_lines"),
        F.size(gone).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("kept_text"),
    )
