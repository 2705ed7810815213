"""Text analysis for training-data pipelines (SURVEY.md §2.11 L5–L8 plus
language-ID, quality scoring, token counting, and fingerprinting).

Everything is split/explode/aggregate over built-in functions — the token
explosion is the only row multiplier and it reduces immediately into hash
aggregates, so corpus size scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datums_warehouse_spark.functions.determinism import davg, dsum, sql_davg, sql_dsum
from datums_warehouse_spark.functions.hashing import hash48, sql_hash48
from datums_warehouse_spark.llm.dedup import SQL_SHINGLES, shingles
from datums_warehouse_spark.llm.splits import SQL_SPLITS, split_col
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import load, spread

def TOKS():
    # built lazily: Column construction needs an active SparkContext
    return F.split("text", " ")


def ngrams_of(toks, n: int):
    """Adjacent word-n-gram array over a token array, safe for short docs.

    ``F.sequence(0, size-n)`` on a doc with fewer than n tokens yields a
    DESCENDING sequence ([0, -1] for a 1-token doc at n = 2);
    ``element_at(toks, 0)`` then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    — Spark's sequence() counts down when stop < start, unlike DuckDB's
    range() which yields []. Guarding on size >= n makes Spark match the
    oracle's empty-list semantics on empty and short docs (real corpora
    contain them even though the graded fixtures have a 10-token floor).
    """
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, gram).otherwise(F.array().cast("array<string>"))

EN_STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")


@query(
    "l5_word_count",
    oracle="""
        SELECT tok AS word, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    """,
    tags=("L5",),
)
def l5_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic word count: split → explode → hash aggregate."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(TOKS()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_total"), F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "l6_tfidf",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
        df AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY word),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT tf.doc_id AS doc_id, tf.word AS word,
               round(tf * ln((CAST(n AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1)), 6)
                   AS tfidf
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    """,
    tags=("L6",),
)
def l6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF, DataFrame-native: term counts ⋈ document frequencies ⋈ N.

    N is a 1-row aggregate broadcast-cross-joined into the plan — NOT a
    driver-side ``d.count()``, which would run a blocking second scan of the
    corpus at query-construction time. One lazy DAG; at 100 TB the N leg is
    a count-only scan Catalyst prunes to metadata where possible.

    Both idf inputs are exact integers, so the single ``ln`` per (doc,term)
    stays within the 6dp rounding guard cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TOKS()).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf, not from a second explode: tf already holds one
    # row per (doc, word), so rows-per-word IS count(DISTINCT doc_id) —
    # the tf exchange subtree is reused (ReusedExchange) instead of
    # re-scanning and re-shuffling the full token stream for the
    # countDistinct's own two-exchange plan (guide §2.4: two operations
    # keyed the same way share one exchange).
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df").cast("double") + 1))
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )


@query(
    "l7_bigrams",
    oracle="""
        SELECT bigram, count(*) AS n
        FROM (
            SELECT unnest(list_transform(
                range(len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2]
            )) AS bigram
            FROM documents
        )
        GROUP BY bigram
    """,
    tags=("L7",),
)
def l7_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts via an index-transform over the token array
    (no self-join, no window — one explode then one aggregate). Tokens
    projected once: no CSE inside transform lambdas (see dedup.shingles)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.split("text", " ").alias("toks"))
        .select(F.explode(ngrams_of(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "l8_lang_stats",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               {sql_davg("CAST(n_chars AS DOUBLE)")} AS avg_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               count(DISTINCT source) AS n_sources
        FROM documents
        GROUP BY lang
    """,
    tags=("L8",),
)
def l8_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


SQL_STOPLIST = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
SQL_STOP_RATIO = f"""
    CAST(len(list_filter(string_split(text, ' '), x -> x IN {SQL_STOPLIST})) AS DOUBLE)
    / len(string_split(text, ' '))
"""


@query(
    "l11_language_id",
    oracle=f"""
        SELECT doc_id,
               {SQL_STOP_RATIO} AS stop_ratio,
               CASE WHEN {SQL_STOP_RATIO} >= 0.15 THEN 'en' ELSE 'unk' END AS lang_pred
        FROM documents
    """,
    tags=("L11",),
)
def l11_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English-stopword ratio ≥ 0.15 → 'en'.

    The n-gram-heuristic shape of a real lang-ID pass; pure array ops.
    """
    d = load(spark, sf_dir, "documents")
    n_stop = F.size(F.filter(TOKS(), lambda x: x.isin(*EN_STOPWORDS)))
    ratio = n_stop.cast("double") / F.size(TOKS())
    return d.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.15, "en").otherwise("unk").alias("lang_pred"),
    )


@query(
    "l12_quality_score",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               n_chars,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio,
               CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
                   / len(string_split(text, ' ')) AS avg_token_len,
               least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
                   * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' '))) AS quality
        FROM documents
    """,
    tags=("L12",),
)
def l12_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score: length saturation × lexical diversity —
    the filter-stage heuristic of a data pipeline, all exact arithmetic."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(TOKS())
    n_uniq = F.size(F.array_distinct(TOKS()))
    distinct_ratio = n_uniq.cast("double") / n_tok
    avg_tok_len = (F.col("n_chars") - n_tok + 1).cast("double") / n_tok
    quality = F.least(n_tok.cast("double") / 50, F.lit(1.0)) * distinct_ratio
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        "n_chars",
        distinct_ratio.alias("distinct_ratio"),
        avg_tok_len.alias("avg_token_len"),
        quality.alias("quality"),
    )


@query(
    "l13_token_count",
    oracle=r"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                   AS bpe_ish_tokens
        FROM documents
    """,
    tags=("L13",),
)
def l13_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / other) — the cost-estimation primitive."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(TOKS()).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias(
            "bpe_ish_tokens"
        ),
    )


@query(
    "l14_fingerprint",
    oracle=f"""
        SELECT doc_id,
               min(h) AS fp_min,
               max(h) AS fp_max,
               count(*) AS n_shingles
        FROM ({SQL_SHINGLES})
        GROUP BY doc_id
    """,
    tags=("L14",),
)
def l14_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min/max 3-gram shingle hash (winnowing-lite) —
    a compact content signature for fast prefiltering (shingles arrive
    pre-hashed: identity is the 48-bit hash, see dedup.shingles)."""
    sh = shingles(load(spark, sf_dir, "documents"))
    return sh.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


CHUNK_SIZE, CHUNK_STRIDE = 20, 15  # 20-token windows, 5-token overlap


@query(
    "l15_doc_chunking",
    oracle=f"""
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
                   AS chunk_text,
               CAST(least({CHUNK_SIZE}, len(toks) - i * {CHUNK_STRIDE}) AS BIGINT) AS n_tokens
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   unnest(range(greatest(
                       CAST(ceil((len(string_split(text, ' ')) - {CHUNK_SIZE})
                                 / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1, 1))) AS i
            FROM documents
            WHERE len(string_split(text, ' ')) > 0
        )
    """,
    tags=("L15",),
)
def l15_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 20-token chunks, 5-token overlap —
    the context-window preprocessing step of a training pipeline.

    Pure array arithmetic (sequence → slice → concat): chunk boundaries
    are data-independent so the op is embarrassingly parallel; no UDF.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.col("toks")
    n = F.size(toks)
    # Clamp: for n <= CHUNK_SIZE - CHUNK_STRIDE the ceil goes negative and
    # F.sequence(0, -1) would DESCEND, emitting spurious chunks (chunk_idx -1
    # slices from the array end). A short doc is exactly one chunk — same
    # guard as dedup.shingles.
    n_chunks = F.ceil((n - CHUNK_SIZE).cast("double") / CHUNK_STRIDE).cast("long") + 1
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(n > 0)
        .select("doc_id", "toks", F.explode(idx).alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE), " "
            ).alias("chunk_text"),
            F.least(F.lit(CHUNK_SIZE), n - F.col("chunk_idx") * CHUNK_STRIDE)
            .cast("long")
            .alias("n_tokens"),
        )
    )


PACK_BUDGET = 128  # tokens per packed sequence


@query(
    "l16_sequence_packing",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        running AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM sized
        )
        SELECT doc_id, n_tokens,
               CAST(floor((cum - 1) / {PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM running
    """,
    tags=("L16",),
)
def l16_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ~128-token training sequences by
    cumulative token count (the streaming-greedy packer, exact integer
    arithmetic). The running total runs as 32 parallel doc_id-range shards
    plus a broadcast per-shard offset (operators/sharded.py) — no
    unpartitioned window anywhere in the plan, output bit-identical to the
    single-window oracle formulation."""
    from datums_warehouse_spark.operators.sharded import range_sharded_cumsum

    d = load(spark, sf_dir, "documents")
    sized = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    cum = range_sharded_cumsum(sized, "doc_id", ["doc_id"], F.col("n_tokens"), "__cum")
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("__cum") - 1) / PACK_BUDGET).cast("long").alias("pack_id"),
    )


@query(
    "l17_heavy_hitters",
    oracle="""
        SELECT lang, tok, n, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT lang, tok, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY count(*) DESC, tok
                   ) AS rnk
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY lang, tok
        )
        WHERE rnk <= 10
    """,
    tags=("L17",),
)
def l17_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent tokens per language — the vocabulary audit /
    stopword-discovery pass of a corpus pipeline.

    Exact counts via one hash aggregate keyed (lang, token) with map-side
    combine, then per-language WindowGroupLimit top-k (ties by token so
    both engines pick identical rows). At 100 TB the exact aggregate is
    still the right shape (vocab ≪ corpus); a Misra-Gries/count-min sketch
    would only be needed per-unbounded-stream.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "tok")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
    )


# --- L19: domain-mix rebalancing ---------------------------------------------

MIX_SCALE = 1_000_000  # hash-to-unit-interval resolution for the keep rule


@query(
    "l19_domain_mix",
    oracle=f"""
        WITH per_source AS (
            SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ),
        tgt AS (SELECT min(n_docs) AS target FROM per_source),
        weighted AS (
            SELECT source, n_docs,
                   CAST(target AS DOUBLE) / n_docs AS weight
            FROM per_source CROSS JOIN tgt
        )
        SELECT w.source, w.n_docs, w.weight,
               count(*) FILTER (
                   WHERE CAST({sql_hash48("CAST(doc_id AS VARCHAR)")} % {MIX_SCALE} AS DOUBLE)
                         / {MIX_SCALE} < w.weight
               ) AS n_kept
        FROM documents d JOIN weighted w ON w.source = d.source
        GROUP BY 1, 2, 3
    """,
    tags=("L19", "scale"),
)
def l19_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: downsample every source to the smallest
    source's volume with a deterministic hash-gate — the data-mixing step
    that turns a skewed crawl into a target training mixture.

    The keep decision is ``hash48(doc_id) mod 1e6 / 1e6 < weight`` — a
    per-row Bernoulli gate that is reproducible across engines, runs, and
    partitionings (no RNG state), so the sampled corpus is stable under
    retries and the oracle grades it exactly. Per-source weights come from
    a tiny aggregate broadcast into the plan (lazy, no driver collect);
    the whole query is two hash aggregates and one broadcast join —
    linear at 100 TB, and the same gate expression filters the full corpus
    when materializing the mixture itself.
    """
    d = load(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tgt = per_source.agg(F.min("n_docs").alias("target"))
    weighted = per_source.crossJoin(F.broadcast(tgt)).select(
        "source",
        "n_docs",
        (F.col("target").cast("double") / F.col("n_docs")).alias("weight"),
    )
    unit = (
        hash48(F.col("doc_id").cast("string")) % MIX_SCALE
    ).cast("double") / F.lit(MIX_SCALE)
    return (
        d.join(F.broadcast(weighted), "source")
        .groupBy("source", "n_docs", "weight")
        .agg(F.count(F.when(unit < F.col("weight"), 1)).alias("n_kept"))
    )


@query(
    "l20_repetition_filter",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_transform(
                       range(len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i + 1] || ' ' ||
                            string_split(text, ' ')[i + 2] || ' ' ||
                            string_split(text, ' ')[i + 3]
                   ) AS tg
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3
        )
        SELECT doc_id,
               len(tg) AS n_trigrams,
               len(list_distinct(tg)) AS n_distinct,
               (len(tg) - len(list_distinct(tg)))
                   / CAST(len(tg) AS DOUBLE) AS rep_frac,
               (len(tg) - len(list_distinct(tg)))
                   / CAST(len(tg) AS DOUBLE) > 0.2 AS is_repetitive
        FROM t
    """,
    tags=("L20",),
)
def l20_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter: the fraction of word
    trigrams that are duplicates of an earlier trigram in the same doc.
    Heavily repetitive documents (boilerplate, scraper loops, template
    spam) are the classic pre-training noise this gate removes.

    Scale shape: entirely per-row — the trigram array, its distinct count,
    and the ratio are computed inside one projection (transform +
    array_distinct), so the operator is a pure map over the corpus scan
    with ZERO shuffles; 100 TB streams through at scan speed. The flag
    threshold compares the same IEEE division on both engines, and rep_frac
    is rounded only for display.
    """
    d = load(spark, sf_dir, "documents").filter(F.size(TOKS()) >= 3)
    rep = (F.col("n_trigrams") - F.col("n_distinct")) / F.col("n_trigrams").cast("double")
    return (
        d.select("doc_id", TOKS().alias("toks"))
        .select("doc_id", ngrams_of(F.col("toks"), 3).alias("tg"))
        .select(
            "doc_id",
            F.size("tg").cast("long").alias("n_trigrams"),
            F.size(F.array_distinct("tg")).cast("long").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_distinct",
            rep.alias("rep_frac"),
            (rep > 0.2).alias("is_repetitive"),
        )
    )


@query(
    "l21_source_overlap",
    oracle="""
        WITH tg AS (
            SELECT DISTINCT source,
                   unnest(list_transform(
                       range(len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i + 1] || ' ' ||
                            string_split(text, ' ')[i + 2] || ' ' ||
                            string_split(text, ' ')[i + 3]
                   )) AS g
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3
        ), sz AS (
            SELECT source, count(*) AS n FROM tg GROUP BY source
        ), common AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_common
            FROM tg a JOIN tg b ON a.g = b.g AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT source_a, source_b, n_common,
               sa.n AS n_a, sb.n AS n_b,
               n_common / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        FROM common
        JOIN sz sa ON sa.source = source_a
        JOIN sz sb ON sb.source = source_b
    """,
    tags=("L21",),
)
def l21_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram contamination heat map: trigram-set Jaccard for
    every pair of corpus sources. The corpus-curation question this
    answers — "which scrapes overlap enough that keeping both double-counts
    the same text?" — drives source-level dedup decisions before any
    per-document pass.

    Scale shape (round-7 rewrite): ONE keyed shuffle — per-doc
    ``array_distinct`` prunes the explode, then a single
    ``groupBy(gram).collect_set(source)`` builds the inverted gram→sources
    index (set size bounded by |sources|, so no skew blowup). Pair counts
    and per-source set sizes both derive from that small index by
    exploding the source sets — fan-out ≤ |sources|² per gram — replacing
    the previous formulation's three evaluations of the trigram-distinct
    subtree and its gram⋈gram self-join. Never all-pairs on documents;
    linear in corpus volume plus |sources|² output rows.

    Round 12: the scan is spread (tables.spread) before the length
    filter — the filter itself tokenizes every row, so it belongs on the
    parallel side of the scale-gated exchange; no parquet-pushable
    predicate is lost (the condition is computed).
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id").filter(
        F.size(TOKS()) >= 3
    )
    grams = (
        d.select("source", TOKS().alias("toks"))
        .select(
            "source", F.explode(F.array_distinct(ngrams_of(F.col("toks"), 3))).alias("g")
        )
        .groupBy("g")
        .agg(F.collect_set("source").alias("ss"))
    )
    sz = F.broadcast(
        grams.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    common = (
        grams.filter(F.size("ss") >= 2)
        .select(F.explode("ss").alias("source_a"), "ss")
        .select("source_a", F.explode("ss").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sz.withColumnRenamed("source", "source_a").withColumnRenamed("n", "n_a"), "source_a")
        .join(sz.withColumnRenamed("source", "source_b").withColumnRenamed("n", "n_b"), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- L25: deterministic train/val/test split ---------------------------------


@query(
    "l25_dataset_split",
    oracle=f"""
        WITH {SQL_SPLITS}
        SELECT d.source, s.split, count(*) AS n_docs,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        FROM documents d JOIN splits s ON s.doc_id = d.doc_id
        GROUP BY d.source, s.split
    """,
    tags=("L25",),
)
def l25_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split, reported per source: the
    assignment is hash48(doc_id) mod 1000 (llm/splits.py), a pure function
    of document identity — re-runs, backfills, and incremental appends
    never move a document across the train/test wall, unlike
    sample()/randomSplit whose RNG reshuffles membership per run.

    Scale shape: pure map over the scan + one hash aggregate; zero joins.
    Pairs with l26_cross_split_leakage, which audits whether near-dup
    content straddles the wall the split just drew.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", "n_chars", split_col().alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- L27: quality-ordered selection under a global token budget --------------

BUDGET_FRACTION = 4  # keep the best ~1/4 of corpus tokens


@query(
    "l27_token_budget_pick",
    oracle="""
        WITH q AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
                       * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / len(string_split(text, ' '))) AS quality
            FROM documents
        ),
        b AS (
            SELECT CAST(floor(sum(n_tokens) / 4.0) AS BIGINT) AS budget FROM q
        ),
        c AS (
            SELECT source, n_tokens,
                   sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
            FROM q
        )
        SELECT source,
               count(*) AS n_picked,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_picked
        FROM c CROSS JOIN b
        WHERE cum <= budget
        GROUP BY source
    """,
    tags=("L27", "scale"),
)
def l27_token_budget_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum selection under a global token budget: greedily keep the
    highest-quality documents (l12's length-saturation × lexical-diversity
    score, ties by doc_id) until 1/4 of the corpus's whitespace tokens are
    spent — the "train on the best N tokens" step between filtering and
    packing in a pre-training pipeline.

    The selection rule is a cumulative token sum over the quality-ordered
    corpus — the classic global-window scale-killer — expressed here with
    the same range-sharded two-stage cumsum that de-weaked
    l16_sequence_packing (operators/sharded.py): shard on the (numeric)
    descending-quality key, per-shard partitioned windows, tiny broadcast
    per-shard offsets. The budget itself is a 1-row aggregate attached
    broadcast-side (no driver collect). All integer arithmetic after the
    ordering, so the pick set — and therefore the per-source totals — hash
    identically to the oracle's single-window formulation.
    """
    from datums_warehouse_spark.operators.sharded import range_sharded_cumsum

    # not spread (tables.spread): measured — the tokenize+distinct
    # projection is light enough that the scale-gated exchange costs more
    # than the parallelism buys (block A/B: 0.66 s unspread vs 1.15 s)
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(TOKS())
    n_uniq = F.size(F.array_distinct(TOKS()))
    quality = F.least(n_tok.cast("double") / 50, F.lit(1.0)) * (
        n_uniq.cast("double") / n_tok
    )
    q = d.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tokens"),
        (-quality).alias("negq"),
    )
    budget = q.agg(
        F.floor(F.sum("n_tokens") / 4.0).cast("long").alias("budget")
    )
    cum = range_sharded_cumsum(
        q, key="negq", order_cols=["negq", "doc_id"], value=F.col("n_tokens"),
        out_col="cum",
    )
    return (
        cum.join(F.broadcast(budget), how="cross")
        .filter(F.col("cum") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_picked"),
            F.sum("n_tokens").alias("tokens_picked"),
        )
    )


# --- L28: dataset card — the published corpus composition report -------------


@query(
    "l28_dataset_card",
    oracle=f"""
        WITH {SQL_SPLITS}
        SELECT s.split, d.source, d.lang,
               count(*) AS n_docs,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        FROM documents d JOIN splits s ON s.doc_id = d.doc_id
        GROUP BY 1, 2, 3
    """,
    tags=("L28",),
)
def l28_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the split × source × language composition table a
    training corpus ships with — document, token, and character volumes
    per cell, with split membership from the deterministic hash wall
    (llm/splits.py) so the card is reproducible from raw inputs alone.

    Scale shape: one pure column-wise projection (split gate + token
    count) followed by a single hash aggregate on low-cardinality keys —
    map-side partials collapse the 100 TB scan to |splits|×|sources|×
    |langs| rows; no joins, no windows, no data movement beyond the
    final tiny shuffle.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            split_col().alias("split"),
            "source",
            "lang",
            F.size(TOKS()).cast("long").alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- L30: global decile binning without a global window ----------------------

N_TILES = 10


@query(
    "l30_length_deciles",
    oracle="""
        WITH ranked AS (
            SELECT n_chars,
                   ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
            FROM documents
        )
        SELECT decile,
               count(*) AS n_docs,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM ranked GROUP BY decile
    """,
    tags=("L30", "scale"),
)
def l30_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global decile binning of the corpus by document length — the
    distribution profile a curriculum schedule or a length-bucketed
    batching policy is built from (which lengths hold the mass, where the
    cut points sit), with SQL ``ntile`` semantics: the first ``n mod 10``
    deciles hold one extra document when 10 ∤ n.

    ``ntile`` is ordinarily a GLOBAL window — the exact single-task
    funnel this repo de-weaked twice (l16, o6). Here the global rank is
    the range-sharded cumulative count (operators/sharded.py: contiguous
    key-range shards, per-shard partitioned windows, broadcast per-shard
    offsets), and the tile number is then PURE ROW-LOCAL integer
    arithmetic against the 1-row corpus count n, attached broadcast-side
    with no driver collect:

        small = n div 10;  big = n mod 10  (deciles 1..big get small+1)
        rk <= big*(small+1) ? ceil(rk/(small+1)) : big + ceil((rk-bnd)/small)

    using ``(a + b - 1) div b`` for exact integer ceilings — no doubles
    anywhere, so tile assignment is bit-stable at any scale. The decile
    rollup collapses map-side to 10 rows. Ties (equal n_chars) are broken
    by doc_id, matching the oracle's ORDER BY exactly, so every row —
    not just every decile — gets the identical tile cross-engine.

    Skew caveat: the cumsum helper shards by EQUAL-WIDTH key ranges, and
    document length is heavy-tailed — a max-length outlier concentrates
    the bulk in few shards (correctness unaffected; parallelism degrades
    toward the funnel). At production scale swap the bound computation
    for percentile bounds / ``repartitionByRange``, exactly as
    operators/sharded.py's docstring prescribes for skewed keys.
    """
    from datums_warehouse_spark.operators.sharded import range_sharded_cumsum

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rk = range_sharded_cumsum(
        d,
        key="n_chars",
        order_cols=["n_chars", "doc_id"],
        value=F.lit(1).cast("long"),
        out_col="rk",
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    tiled = (
        rk.join(F.broadcast(n), how="cross")
        .withColumn("small", F.expr(f"n div {N_TILES}"))
        .withColumn("big", F.col("n") % N_TILES)
        .withColumn("bnd", F.col("big") * (F.col("small") + 1))
        .withColumn(
            "decile",
            F.when(
                F.col("rk") <= F.col("bnd"),
                F.expr("(rk + small) div (small + 1)"),
            ).otherwise(
                F.col("big") + F.expr("(rk - bnd + small - 1) div small")
            ).cast("int"),
        )
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


# --- L31: blocklist term scrubbing ------------------------------------------

SCRUB_PATTERN = r"\b(customer|secret)\b"  # word-boundary alternation: same
# semantics under Java regex (Spark) and RE2 (DuckDB)
SCRUB_MASK = "[MASKED]"


@query(
    "l31_blocklist_scrub",
    oracle=f"""
        WITH scrubbed AS (
            SELECT source,
                   len(text) AS chars_before,
                   len(regexp_replace(text, '{SCRUB_PATTERN}', '{SCRUB_MASK}', 'g'))
                       AS chars_after,
                   len(regexp_extract_all(text, '{SCRUB_PATTERN}')) AS hits
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (hits > 0) AS docs_touched,
               CAST(sum(hits) AS BIGINT) AS total_hits,
               CAST(sum(chars_before - chars_after) AS BIGINT) AS chars_removed
        FROM scrubbed GROUP BY source
    """,
    tags=("L31", "scale"),
)
def l31_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scrubbing — the compliance / decontamination rewrite step
    of a training-data pipeline: every occurrence of a blocked term is
    replaced with a mask token, and the per-source accounting (documents
    touched, total hits, characters removed) is the audit artifact that
    ships with the scrubbed corpus. The same plan handles PII patterns by
    swapping the regex; the graded pattern is a word-boundary alternation
    chosen to be semantics-identical under Java regex (Spark) and RE2
    (DuckDB).

    Scale shape: pure column-wise projection (regexp_replace +
    regexp_count stay inside whole-stage codegen — no UDF, no Python) and
    one low-cardinality hash aggregate; map-side partials collapse the
    full scan to |sources| rows with zero joins and zero windows. The
    rewrite-and-account pass reads each document exactly once.
    """
    d = load(spark, sf_dir, "documents")
    scrub = d.select(
        "source",
        F.length("text").alias("chars_before"),
        F.length(F.regexp_replace("text", SCRUB_PATTERN, SCRUB_MASK)).alias(
            "chars_after"
        ),
        F.regexp_count("text", F.lit(SCRUB_PATTERN)).alias("hits"),
    )
    return scrub.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("hits") > 0).alias("docs_touched"),
        F.sum("hits").alias("total_hits"),
        F.sum(F.col("chars_before") - F.col("chars_after")).alias("chars_removed"),
    )


# --- L32: corpus-frequency fluency score ------------------------------------


@query(
    "l32_bigram_fluency",
    oracle="""
        WITH doc_bg AS (
            SELECT source, unnest(list_transform(
                range(len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i + 1] || ' '
                     || string_split(text, ' ')[i + 2]
            )) AS bigram
            FROM documents
        ),
        counts AS (SELECT bigram, count(*) AS freq FROM doc_bg GROUP BY bigram)
        SELECT d.source,
               CAST(sum(c.freq) AS BIGINT) AS freq_sum,
               count(*) AS n_bigrams,
               CAST(sum(c.freq) AS DOUBLE) / count(*) AS avg_freq
        FROM doc_bg d JOIN counts c USING (bigram)
        GROUP BY d.source
    """,
    tags=("L32", "scale"),
)
def l32_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency fluency scoring — the integer-exact cousin of a
    KenLM-style perplexity filter: score text by how common its bigrams
    are in the corpus itself (rare-bigram-heavy text is boilerplate,
    mojibake, or noise), rolled up per source as the signal a quality
    gate thresholds on. All arithmetic before the single final division
    is INTEGER (counts and count sums), so the result is bit-stable
    cross-engine with no transcendental-function (log) portability
    hazard — the reason this formulation is hash-graded where a true
    log-prob LM score could round differently per libm.

    Scale shape: one explode over the token stream, one hash aggregate
    for the corpus bigram table, one shuffle equi-join of the bigram
    stream against it (self-join on the bigram key — heavy-hitter
    bigrams are exactly what AQE's skew split handles), and a map-side
    per-source rollup. At 100 TB the bigram table is the only state and
    it shards by key; nothing is driver-side.
    """
    d = load(spark, sf_dir, "documents")
    doc_bg = d.select(
        "source", F.split("text", " ").alias("toks")
    ).select("source", F.explode(ngrams_of(F.col("toks"), 2)).alias("bigram"))
    counts = doc_bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    return (
        doc_bg.join(counts, "bigram")
        .groupBy("source")
        .agg(
            F.sum("freq").alias("freq_sum"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .withColumn(
            "avg_freq", F.col("freq_sum").cast("double") / F.col("n_bigrams")
        )
    )


# --- L34: vocabulary build + OOV rate ----------------------------------------

VOCAB_K = 20  # top-K corpus tokens form the vocabulary


@query(
    "l34_vocab_oov",
    oracle=f"""
        WITH vocab AS (
            SELECT tok FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            ) GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {VOCAB_K}
        ),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
               CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
                   / count(*) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY t.doc_id
    """,
    tags=("L34",),
)
def l34_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + per-document out-of-vocabulary rate: the tokenizer
    -coverage check a training pipeline runs before committing to a vocab —
    documents with high OOV against the candidate vocabulary either get a
    bigger vocab or get dropped.

    Vocabulary = top-K tokens by corpus frequency with a lexicographic
    tie-break (deterministic under ties, unlike a bare LIMIT over equal
    counts). Scale shape: one token explode reduced immediately into a hash
    aggregate (map-side combine), a top-K over |vocab| rows — bounded by
    distinct-token count, NOT corpus size, so the sort input is tiny — and
    one BROADCAST left join of the token stream against the K-row vocab;
    the corpus-sized stream is never shuffled a second time. All counts
    integer; the single final division is the only double.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TOKS()).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# --- L35: curation funnel — staged attrition report --------------------------

# Corpus-calibrated gate thresholds (the synthetic vocabulary has only two
# EN stopwords and near-zero trigram repetition, so the published-paper
# defaults — stop_ratio ≥ 0.15, quality ≥ 0.5, rep ≤ 0.2 — would kill 97%
# at stage 1 and make the later stages vacuous; a funnel report is only
# informative when each gate acts). The FORMULAS are l11/l12/l20's.
FUNNEL_LANG_MIN = 0.02
FUNNEL_QUALITY_MIN = 0.32
FUNNEL_REP_MAX = 0.005

_SQL_FUNNEL_STAGE_NAME = """
    CASE stage WHEN 0 THEN '00_ingest' WHEN 1 THEN '10_langid'
               WHEN 2 THEN '20_quality' WHEN 3 THEN '30_repetition'
               ELSE '40_exact_dedup' END
"""


@query(
    "l35_curation_funnel",
    oracle=f"""
        WITH feat AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_tok,
                   CAST(len(list_filter(string_split(text, ' '),
                            x -> x IN {EN_STOPWORDS!r})) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio,
                   least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
                       * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / len(string_split(text, ' '))) AS quality,
                   list_transform(
                       range(len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i + 1] || ' ' ||
                            string_split(text, ' ')[i + 2] || ' ' ||
                            string_split(text, ' ')[i + 3]
                   ) AS tg
            FROM documents
        ),
        flags AS (
            SELECT doc_id, text, n_tok,
                   stop_ratio >= {FUNNEL_LANG_MIN} AS s1,
                   stop_ratio >= {FUNNEL_LANG_MIN} AND quality >= {FUNNEL_QUALITY_MIN} AS s2,
                   stop_ratio >= {FUNNEL_LANG_MIN} AND quality >= {FUNNEL_QUALITY_MIN}
                       AND (len(tg) = 0 OR
                            (len(tg) - len(list_distinct(tg)))
                                / CAST(len(tg) AS DOUBLE) <= {FUNNEL_REP_MAX}) AS s3
            FROM feat
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY md5(text) ORDER BY (NOT s3), doc_id
                   ) AS rn
            FROM flags
        ),
        lvl AS (
            SELECT doc_id, n_tok,
                   CAST(s1 AS INT) + CAST(s2 AS INT) + CAST(s3 AS INT)
                       + CAST(s3 AND rn = 1 AS INT) AS lvl
            FROM ranked
        )
        SELECT stage,
               {_SQL_FUNNEL_STAGE_NAME} AS stage_name,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, n_tok, unnest(range(lvl + 1)) AS stage FROM lvl)
        GROUP BY stage
    """,
    tags=("L35",),
)
def l35_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: the staged attrition report every training-data
    pipeline publishes — docs and tokens surviving each gate in sequence:
    ingest → language-ID (l11's stopword-ratio predicate) → quality floor
    (l12's length×diversity score) → intra-doc repetition (l20's trigram
    rep_frac) → exact dedup (l1's lowest-doc_id-per-content-hash rule,
    applied among the docs still alive at that stage).

    Scale shape: every per-doc feature (stop ratio, quality, trigram
    repetition) is ONE codegen projection over the corpus scan — no joins,
    no shuffles; the only shuffle is the dedup window keyed by the 128-bit
    content hash (uniform by construction); the funnel rollup explodes
    each doc into ≤5 (stage) rows and hash-aggregates immediately, so the
    output is |stages| rows regardless of corpus size. Survivor rank
    orders non-survivors last (``(NOT s3), doc_id``) so the canonical doc
    per hash is the lowest-id STILL-ALIVE one — identical frame in the
    oracle.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = TOKS()
    n_tok = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS))).cast("double") / n_tok
    )
    quality = F.least(n_tok.cast("double") / 50, F.lit(1.0)) * (
        F.size(F.array_distinct(toks)).cast("double") / n_tok
    )
    tg = ngrams_of(toks, 3)
    rep_ok = (F.size(tg) == 0) | (
        (F.size(tg) - F.size(F.array_distinct(tg))).cast("double") / F.size(tg) <= FUNNEL_REP_MAX
    )
    s1 = stop_ratio >= FUNNEL_LANG_MIN
    s2 = s1 & (quality >= FUNNEL_QUALITY_MIN)
    flags = d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.md5("text").alias("content_hash"),
        s1.alias("s1"),
        s2.alias("s2"),
        (s2 & rep_ok).alias("s3"),
    )
    w = Window.partitionBy("content_hash").orderBy(~F.col("s3"), "doc_id")
    lvl = (
        F.col("s1").cast("int")
        + F.col("s2").cast("int")
        + F.col("s3").cast("int")
        + (F.col("s3") & (F.row_number().over(w) == 1)).cast("int")
    )
    return (
        flags.withColumn("lvl", lvl)
        .select(
            "doc_id", "n_tok", F.explode(F.sequence(F.lit(0), F.col("lvl"))).alias("stage")
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "stage",
            F.expr(_SQL_FUNNEL_STAGE_NAME).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )
    )


# --- L36: mixture / epochs plan ----------------------------------------------

MIX_BUDGET_FACTOR = 2  # token budget = factor × total corpus tokens


@query(
    "l36_mixture_plan",
    oracle=f"""
        WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT {sql_dsum("sqrt(CAST(n_tokens AS DOUBLE))")} AS z,
                   sum(n_tokens) AS all_tokens
            FROM per_src
        )
        SELECT source, n_docs, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) / z AS weight,
               sqrt(CAST(n_tokens AS DOUBLE)) / z
                   * {MIX_BUDGET_FACTOR} * all_tokens AS planned_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) / z
                   * {MIX_BUDGET_FACTOR} * all_tokens / n_tokens AS epochs
        FROM per_src CROSS JOIN tot
    """,
    tags=("L36",),
)
def l36_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture plan (L36): the sampling schedule a
    training run derives before touching data — per-source weights
    ∝ tokens^0.5 (the α=0.5 temperature that upsamples small sources,
    standard practice for multilingual/multi-domain corpora), planned
    tokens against a global budget, and the implied epoch count per
    source (>1 ⇒ that source repeats). Complements l19 (hash-based
    rebalance of the corpus itself) and l27 (selection under a budget):
    this PLANS the mix; those execute one.

    Determinism: the normalizer Σ√tokens is a sum of irrational doubles —
    order-dependent in IEEE — so it goes through the decimal-cast dsum
    like every graded float aggregate; every downstream value is then a
    pure function of exact ints and that stabilized double. Scale shape:
    one aggregate keyed by source, a 1-row broadcast total, |sources|
    output rows; nothing driver-side.
    """
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TOKS())).cast("long").alias("n_tokens"),
    )
    tot = per_src.agg(
        dsum(F.sqrt(F.col("n_tokens").cast("double"))).alias("z"),
        F.sum("n_tokens").alias("all_tokens"),
    )
    weight = F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
    planned = weight * MIX_BUDGET_FACTOR * F.col("all_tokens")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            weight.alias("weight"),
            planned.alias("planned_tokens"),
            (planned / F.col("n_tokens")).alias("epochs"),
        )
    )


# --- L38: vocabulary-growth (Heaps-law) curve ---------------------------------


@query(
    "l38_vocab_growth",
    oracle="""
        WITH n AS (SELECT max(doc_id) + 1 AS nd FROM documents),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
        per_bucket AS (
            SELECT CAST(first_doc * 10 // nd AS INT) AS bucket,
                   count(*) AS new_types
            FROM firsts CROSS JOIN n GROUP BY 1
        ),
        vol AS (
            SELECT CAST(doc_id * 10 // nd AS INT) AS bucket,
                   count(*) AS n_tokens
            FROM toks CROSS JOIN n GROUP BY 1
        )
        SELECT v.bucket, v.n_tokens,
               COALESCE(b.new_types, 0) AS new_types,
               CAST(SUM(COALESCE(b.new_types, 0)) OVER w AS BIGINT) AS vocab_size,
               CAST(SUM(v.n_tokens) OVER w AS BIGINT) AS corpus_tokens
        FROM vol v LEFT JOIN per_bucket b ON v.bucket = b.bucket
        WINDOW w AS (ORDER BY v.bucket ROWS UNBOUNDED PRECEDING)
    """,
    tags=("L38", "scale"),
)
def l38_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct-token count
    over ingest-ordered tenths of the corpus — the saturation diagnostic a
    data-curation pipeline reads before buying more data: if vocab_size
    flattens while corpus_tokens keeps climbing, additional crawl volume
    is adding repetition, not diversity.

    Cumulative-distinct is computed WITHOUT any distinct-per-prefix
    rescan: a token's first occurrence (min doc_id, one hash aggregate
    over the token stream) assigns it to exactly one ingest bucket, so
    "vocab after bucket b" is a running sum of per-bucket first-occurrence
    counts. Buckets that introduce no new types survive via the left join
    (new_types = 0) so the running sums stay aligned.

    Scale shape: two map-side-combinable hash aggregates over the exploded
    token stream (first-occurrence per token, volume per bucket), the
    1-row corpus bound attached broadcast-side (no collect), and the
    running sums over a FIXED 10-row frame — the window input is the
    bucket table, never the data, so the single-partition window is
    constant work at any corpus size (unlike the data-sized windows
    operators/sharded.py exists to replace).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    nd = d.agg((F.max("doc_id") + 1).alias("nd"))
    toks = d.select("doc_id", F.explode(TOKS()).alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (
        firsts.crossJoin(F.broadcast(nd))
        .select(F.expr("CAST((first_doc * 10) div nd AS INT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    vol = (
        toks.crossJoin(F.broadcast(nd))
        .select(F.expr("CAST((doc_id * 10) div nd AS INT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    new_types = F.coalesce("new_types", F.lit(0))
    return (
        vol.join(per_bucket, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            new_types.alias("new_types"),
            F.sum(new_types).over(w).alias("vocab_size"),
            F.sum("n_tokens").over(w).alias("corpus_tokens"),
        )
    )


# --- L39: CCNet-style LM-score bucketing -------------------------------------

# score_ppm = (Σ corpus-freq of the doc's bigrams × SCORE_SCALE) div #bigrams:
# an integer-exact stand-in for a KenLM doc perplexity (higher = more fluent).
SCORE_SCALE = 1000
BAND_SIGMA = 0.25  # head/tail cut at mean ± 0.25σ per language


@query(
    "l39_perplexity_buckets",
    oracle=f"""
        WITH doc_bg AS (
            SELECT doc_id, lang, unnest(list_transform(
                range(len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i + 1] || ' '
                     || string_split(text, ' ')[i + 2]
            )) AS bigram
            FROM documents
        ),
        counts AS (SELECT bigram, count(*) AS freq FROM doc_bg GROUP BY bigram),
        scored AS (
            SELECT d.doc_id, d.lang,
                   (sum(c.freq) * {SCORE_SCALE}) // count(*) AS score_ppm
            FROM doc_bg d JOIN counts c USING (bigram)
            GROUP BY d.doc_id, d.lang
        ),
        stats AS (
            SELECT lang, count(*) AS n,
                   CAST(sum(score_ppm) AS BIGINT) AS s1,
                   CAST(sum(CAST(score_ppm AS DECIMAL(38,0))
                            * CAST(score_ppm AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS s2
            FROM scored GROUP BY lang
        ),
        banded AS (
            SELECT s.lang, s.score_ppm,
                   CASE WHEN CAST(s.score_ppm AS DOUBLE) > mu + {BAND_SIGMA} * sigma
                            THEN 'head'
                        WHEN CAST(s.score_ppm AS DOUBLE) < mu - {BAND_SIGMA} * sigma
                            THEN 'tail'
                        ELSE 'middle' END AS bucket,
                   t.n AS lang_n
            FROM scored s JOIN (
                SELECT lang, n,
                       CAST(s1 AS DOUBLE) / n AS mu,
                       sqrt(greatest(
                           (CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n))
                           / greatest(n - 1, 1), 0)) AS sigma
                FROM stats
            ) t USING (lang)
        )
        SELECT lang, bucket, count(*) AS n_docs,
               CAST(count(*) AS DOUBLE) / lang_n AS share
        FROM banded
        GROUP BY lang, bucket, lang_n
    """,
    tags=("L39", "scale"),
)
def l39_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model bucketing (public Wenzek et al. 2020
    shape): score every document with a corpus LM, then split each
    language's documents into head / middle / tail quality bands — the
    curation step that decides which crawl slice feeds training first.

    The LM score is l32's integer-exact fluency statistic, per document:
    (Σ corpus-frequency of the doc's bigrams · 1000) div #bigrams — an
    integer on both engines (no log-prob libm portability hazard, no
    dirty-double→decimal cast). CCNet cuts at per-language score
    TERTILES; an exact distributed tertile needs a per-language global
    rank, which at 100 TB is a per-lang sort funnel (#langs ≈ 5 tasks
    carrying the whole corpus — the weak shape this repo eliminated in
    l16/o6). The banding here instead cuts at mean ± 0.25σ computed from
    exact integer sums (Σx as BIGINT, Σx² through DECIMAL(38,0); the only
    float ops are the identical mean/σ/compare expressions both engines
    evaluate over exact inputs) — a 5-row broadcast-joined stats table,
    no per-lang shuffle of the corpus at all.

    Scale shape: the corpus stream is shuffled exactly twice (the bigram
    frequency join — AQE skew-splits heavy-hitter bigrams — and the
    per-doc score aggregate); language stats collapse map-side to
    #langs rows and come back broadcast. Output is #langs × 3 rows.
    """
    d = load(spark, sf_dir, "documents")
    doc_bg = d.select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    ).select("doc_id", "lang", F.explode(ngrams_of(F.col("toks"), 2)).alias("bigram"))
    counts = doc_bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    scored = (
        doc_bg.join(counts, "bigram")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(f"(sum(freq) * {SCORE_SCALE}) div count(*)").alias("score_ppm")
        )
    )
    sp = F.col("score_ppm").cast("decimal(38,0)")
    stats = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score_ppm").alias("s1"),
        F.sum(sp * sp).cast("decimal(38,0)").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(
            (F.col("s2").cast("double") - F.col("s1").cast("double") * mu)
            / F.greatest(F.col("n") - 1, F.lit(1)),
            F.lit(0.0),
        )
    )
    lang_stats = stats.select(
        "lang", F.col("n").alias("lang_n"), mu.alias("mu"), sigma.alias("sigma")
    )
    banded = scored.join(F.broadcast(lang_stats), "lang").select(
        "lang",
        "lang_n",
        F.when(
            F.col("score_ppm").cast("double")
            > F.col("mu") + BAND_SIGMA * F.col("sigma"),
            F.lit("head"),
        )
        .when(
            F.col("score_ppm").cast("double")
            < F.col("mu") - BAND_SIGMA * F.col("sigma"),
            F.lit("tail"),
        )
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )
    return banded.groupBy("lang", "bucket", "lang_n").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        "lang",
        "bucket",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("lang_n")).alias("share"),
    )


# --- l43: Gopher repetition filters (Rae et al. 2021, §A1.1) -----------


@query(
    "l43_gopher_repetition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            -- unnest a COMPUTED gram list so the full token list t never
            -- rides along the 10M+-row gram stream (a lateral unnest over
            -- positions kept t on every row — ~2 KB each — and OOM'd the
            -- 8x stress oracle; this form carries only the gram string)
            SELECT doc_id, n_chars, n,
                   unnest(list_transform(
                       range(len(t) - n + 1),
                       i -> array_to_string(t[i+1:i+n], ' ')
                   )) AS gram
            FROM toks, UNNEST([2, 3, 4, 5]) AS a(n)
        ),
        cnts AS (
            SELECT doc_id, n_chars, n, gram, count(*) AS cnt
            FROM grams GROUP BY ALL
        ),
        stats AS (
            -- top (cnt, glen) via an ENCODED integer max: cnt*100000+glen
            -- is lexicographic (cnt, glen) while glen < 100000, matching
            -- Spark's max(struct(cnt, glen)) exactly. DuckDB's
            -- max(struct_pack(...)) over the multi-million-row gram stream
            -- is superlinear (> 490 s at the 8x stress scale vs ~5 s at
            -- 1x); the integer max is linear. glen clamps at 99999 on BOTH
            -- engines (ADVICE r09): a pathological >=100k-char token would
            -- otherwise carry into the cnt digits here while Spark's
            -- struct max compared the true length — the clamp keeps the
            -- encode lexicographic for ANY corpus.
            SELECT doc_id, n_chars, n,
                   max(cnt * 100000 + least(len(gram), 99999)) AS top_enc,
                   sum(cnt) AS total_inst,
                   sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_inst
            FROM cnts GROUP BY ALL
        ),
        perdoc AS (
            SELECT doc_id,
                   max(CASE WHEN n = 2 THEN CAST((top_enc // 100000) * (top_enc % 100000) AS DOUBLE) / n_chars END) AS top2_raw,
                   max(CASE WHEN n = 3 THEN CAST((top_enc // 100000) * (top_enc % 100000) AS DOUBLE) / n_chars END) AS top3_raw,
                   max(CASE WHEN n = 4 THEN CAST((top_enc // 100000) * (top_enc % 100000) AS DOUBLE) / n_chars END) AS top4_raw,
                   max(CASE WHEN n = 5 THEN CAST(dup_inst AS DOUBLE) / total_inst END) AS dup5_raw
            FROM stats GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(coalesce(top2_raw, 0), 6) AS top2_frac,
               round(coalesce(top3_raw, 0), 6) AS top3_frac,
               round(coalesce(top4_raw, 0), 6) AS top4_frac,
               round(coalesce(dup5_raw, 0), 6) AS dup5_frac,
               (coalesce(top2_raw, 0) <= 0.20 AND coalesce(top3_raw, 0) <= 0.18
                AND coalesce(top4_raw, 0) <= 0.16
                AND coalesce(dup5_raw, 0) <= 0.15) AS keep
        FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """,
    tags=("L12", "L43"),
)
def l43_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition-quality signals (Rae et al. 2021,
    Table A1): per doc, the character fraction occupied by the single most
    common word {2,3,4}-gram, the duplicated-5-gram instance fraction, and
    the keep/drop verdict at the published thresholds (0.20 / 0.18 / 0.16 /
    0.15). The paper's dup-n-gram signal counts characters inside
    duplicated n-grams without double-counting overlaps; this computes the
    instance-level variant (duplicated n-gram INSTANCES over total
    instances) — same monotonicity, one hash aggregate instead of an
    interval-merge, documented here so the threshold reads correctly.

    Tie-break: "most common n-gram" takes max count, then the longest gram
    among ties (max over (cnt, glen) structs — fieldwise comparison in both
    engines), so the char fraction is deterministic.

    Scale shape: explode → two hash aggregates (gram counts, then per-doc
    tops) → one per-doc conditional-agg projection. The gram explosion is
    the only row multiplier (×4 n-sizes × tokens) and reduces immediately
    map-side; no window, no join — linear in corpus bytes, the same shape
    Gopher ran over MassiveText."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", "n_chars", TOKS().alias("toks"))
    per_n = F.array(
        *[
            F.struct(F.lit(n).alias("n"), ngrams_of("toks", n).alias("grams"))
            for n in (2, 3, 4, 5)
        ]
    )
    grams = (
        base.select("doc_id", "n_chars", F.explode(per_n).alias("g"))
        .select("doc_id", "n_chars", F.col("g.n").alias("n"), F.explode("g.grams").alias("gram"))
    )
    cnts = grams.groupBy("doc_id", "n_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = cnts.groupBy("doc_id", "n_chars", "n").agg(
        # glen clamps at 99999 to mirror the oracle's integer encode bound
        # (cnt*100000 + glen stays lexicographic only while glen < 100000;
        # a >=100k-char no-space token would silently mis-rank otherwise)
        F.max(
            F.struct(
                F.col("cnt").alias("cnt"),
                F.least(F.length("gram"), F.lit(99999)).alias("glen"),
            )
        ).alias("top"),
        F.sum("cnt").alias("total_inst"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)).alias("dup_inst"),
    )

    def top_frac(n: int):
        return F.max(
            F.when(
                F.col("n") == n,
                (F.col("top.cnt") * F.col("top.glen")).cast("double") / F.col("n_chars"),
            )
        )

    perdoc = stats.groupBy("doc_id").agg(
        top_frac(2).alias("top2_raw"),
        top_frac(3).alias("top3_raw"),
        top_frac(4).alias("top4_raw"),
        F.max(
            F.when(F.col("n") == 5, F.col("dup_inst").cast("double") / F.col("total_inst"))
        ).alias("dup5_raw"),
    )
    # a doc too short to HAVE n-grams of some n repeats nothing at that n:
    # its signal coalesces to 0 (keep), not NULL — real corpora contain
    # 1-token docs even though the graded fixtures floor at 10
    z = lambda c: F.coalesce(F.col(c), F.lit(0.0))
    keep = (
        (z("top2_raw") <= 0.20)
        & (z("top3_raw") <= 0.18)
        & (z("top4_raw") <= 0.16)
        & (z("dup5_raw") <= 0.15)
    )
    # LEFT JOIN back onto documents: a doc with no n-grams at ALL (a
    # 1-token doc has none for any n) must still get a verdict row, not
    # silently vanish from the filter's output
    perdoc = d.select("doc_id").join(perdoc, "doc_id", "left")
    return perdoc.select(
        "doc_id",
        F.round(z("top2_raw"), 6).alias("top2_frac"),
        F.round(z("top3_raw"), 6).alias("top3_frac"),
        F.round(z("top4_raw"), 6).alias("top4_frac"),
        F.round(z("dup5_raw"), 6).alias("dup5_frac"),
        keep.alias("keep"),
    )


# --- l44: DSIR importance weights (Xie et al. 2023) ---------------------

DSIR_BUCKETS = 256  # hashed-unigram feature space (DSIR uses hashed n-grams)


@query(
    "l44_dsir_importance",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        bucketed AS (
            SELECT doc_id, lang,
                   {sql_hash48("word")} % {DSIR_BUCKETS} AS b
            FROM toks
        ),
        raw AS (SELECT b, count(*) AS raw_cnt FROM bucketed GROUP BY b),
        tgt AS (SELECT b, count(*) AS tgt_cnt FROM bucketed
                WHERE lang = 'en' GROUP BY b),
        tot AS (
            SELECT count(*) AS t_raw,
                   count(*) FILTER (WHERE lang = 'en') AS t_tgt
            FROM bucketed
        ),
        ratio AS (
            SELECT raw.b,
                   ln((coalesce(tgt_cnt, 0) + 1.0) / (t_tgt + {DSIR_BUCKETS}))
                 - ln((raw_cnt + 1.0) / (t_raw + {DSIR_BUCKETS})) AS lr
            FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
        )
        SELECT doc_id, lang,
               count(*) AS n_tokens,
               round({sql_dsum("lr", "DECIMAL(30,12)")}, 6) AS weight
        FROM bucketed JOIN ratio USING (b)
        GROUP BY doc_id, lang
    """,
    tags=("L44", "L19"),
)
def l44_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, Data Selection via Importance
    Resampling): per-doc importance weight = Σ_tokens log p_target(bucket)
    − log p_raw(bucket) over a hashed-unigram feature space with add-1
    smoothing, target = the English subset (the published recipe's
    "formal text" target, proxied by the corpus's lang facet). A positive
    weight marks a doc whose token distribution looks more like the target
    than the corpus average — resampling ∝ exp(weight) is the paper's
    final step and is RNG territory, so the graded surface is the weight
    itself (the way o5's samplers stop at the deterministic boundary).

    Cross-engine determinism: buckets come from the portable md5-based
    hash48; each bucket's log-ratio is computed ONCE (256-row table) and
    per-doc summation routes through DECIMAL(30,12) — order-independent,
    and the cast absorbs any last-ulp ln() divergence between Java and
    libm (1 ulp ≈ 1e-16 ≪ the 1e-12 decimal grain ≪ the 6dp rounding).

    Scale shape: one explode → two hash aggregates over 8-byte bucket ids
    (raw/target counts; the token stream never shuffles strings), a
    256-row broadcast ratio table, then one per-doc aggregate — linear in
    corpus bytes, no window, no pair join. At 100 TB the only corpus-sized
    exchanges carry (doc_id, bucket) pairs."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(TOKS()).alias("word"))
    bucketed = toks.select(
        "doc_id", "lang", (hash48("word") % DSIR_BUCKETS).alias("b")
    )
    raw = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("raw_cnt"))
    tgt = (
        bucketed.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tgt_cnt"))
    )
    tot = bucketed.agg(
        F.count(F.lit(1)).alias("t_raw"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t_tgt"),
    )
    lr = F.log(
        (F.coalesce(F.col("tgt_cnt"), F.lit(0)) + 1.0)
        / (F.col("t_tgt") + DSIR_BUCKETS)
    ) - F.log((F.col("raw_cnt") + 1.0) / (F.col("t_raw") + DSIR_BUCKETS))
    ratio = (
        raw.join(tgt, "b", "left")
        .join(F.broadcast(tot))
        .select("b", lr.alias("lr"))
    )
    return (
        bucketed.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(dsum("lr", "decimal(30,12)"), 6).alias("weight"),
        )
    )


# --- l45: cross-document n-gram novelty (memorization-risk profile) -----

NOVELTY_N = 8  # word n-gram width: long enough that sharing implies copying


@query(
    "l45_ngram_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   {sql_hash48(f"array_to_string(t[i + 1 : i + {NOVELTY_N}], ' ')")} AS h
            FROM toks, UNNEST(range(len(t) - {NOVELTY_N - 1})) AS a(i)
        ),
        gc AS (SELECT h, count(*) AS n_docs FROM g GROUP BY h),
        perdoc AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   CAST(sum(CASE WHEN gc.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_shared
            FROM g JOIN gc USING (h)
            GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               coalesce(n_grams, 0) AS n_grams,
               coalesce(n_shared, 0) AS n_shared,
               coalesce(n_shared * 5 >= n_grams, FALSE) AS dup_risk
        FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """,
    tags=("L45", "scale"),
)
def l45_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty — the memorization-risk profile a
    training-data pipeline computes before mixing a source in: for each
    doc, how many of its distinct word 8-grams appear in at least one
    OTHER document (Lee et al. 2022 / Carlini et al. 2022 measure
    memorization through exactly these long-n-gram overlaps). A doc whose
    shared fraction reaches 20% (`n_shared * 5 >= n_grams`, exact integer
    cross-multiplication — no float ratio in the verdict) is flagged
    `dup_risk`; docs shorter than 8 tokens have no 8-grams and report
    (0, 0, false) via the left join back onto `documents`.

    Distinctness is taken over the 48-bit gram HASH on both engines (a
    within-doc collision would otherwise count once in DuckDB and twice
    here), so the two plans group identical key sets.

    Scale shape: the corpus-sized exchanges carry only (doc_id, 8-byte
    hash) pairs — grams are hashed map-side before any shuffle. One
    distinct, one count-per-gram hash aggregate, one hash join back on the
    gram hash (both sides already partitioned by it — AQE reuses the
    exchange), one per-doc aggregate. No window, no pair join: linear in
    corpus bytes, the same inverted-index discipline as l21/l33."""
    d = load(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.explode(ngrams_of(TOKS(), NOVELTY_N)).alias("gram"))
        .select("doc_id", hash48("gram").alias("h"))
        .distinct()
    )
    gc = grams.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    perdoc = (
        grams.join(gc, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0).cast("long"))
    return d.select("doc_id").join(perdoc, "doc_id", "left").select(
        "doc_id",
        z("n_grams").alias("n_grams"),
        z("n_shared").alias("n_shared"),
        F.coalesce(F.col("n_shared") * 5 >= F.col("n_grams"), F.lit(False)).alias(
            "dup_risk"
        ),
    )


# --- l46: tokenizer fertility report (tokenizer-selection QA) -----------


@query(
    "l46_tokenizer_fertility",
    oracle=r"""
        WITH perdoc AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS ws,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe,
                   n_chars
            FROM documents
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               CAST(sum(bpe) * 10000 // sum(ws) AS BIGINT) AS fertility_x10000,
               CAST(sum(n_chars) * 100 // sum(bpe) AS BIGINT) AS chars_per_tok_x100
        FROM perdoc
        GROUP BY lang
    """,
    tags=("L46",),
)
def l46_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the QA report that drives
    tokenizer selection (fertility = subword tokens per whitespace word;
    a language whose fertility is high pays more sequence length per word,
    so its effective context and training cost differ). Uses l13's two
    tokenizations (whitespace vs the BPE-ish letter-run/digit-run/other
    regex) aggregated per language, with the ratios reported as exact
    scaled integers (floor division on both engines — positive operands,
    so DuckDB's `//` and Spark's `div` agree) rather than engine-rounded
    doubles.

    Scale shape: one projection computing per-doc counts inside codegen
    (regexp_count never explodes the token stream) and one 4-group hash
    aggregate — embarrassingly parallel, linear in corpus bytes."""
    d = load(spark, sf_dir, "documents")
    perdoc = d.select(
        "lang",
        F.size(TOKS()).cast("long").alias("ws"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias(
            "bpe"
        ),
        "n_chars",
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.sum("n_chars").alias("n_chars_sum"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.expr("bpe_tokens * 10000 div ws_tokens").alias("fertility_x10000"),
            F.expr("n_chars_sum * 100 div bpe_tokens").alias("chars_per_tok_x100"),
        )
    )
